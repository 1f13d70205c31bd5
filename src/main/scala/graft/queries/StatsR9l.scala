package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 12 (SURVEY.md §2 B.10b): graph reach, dedup-quality
  * concentration, microstructure, tail risk with higher moments,
  * arrival uniformity, and survival comparison — BFS layers from the
  * max-degree hub (4 unrolled rounds, the oracle mirrors them), Gini
  * of dup-cluster sizes on the GROUPED size histogram (cleared to
  * exact longs via the run-length prefix), Amihud illiquidity
  * (per-day terms snapped to 1e6), Cornish–Fisher modified VaR (3rd/
  * 4th moment sums exact in decimal(38)/HUGEINT — longs would wrap),
  * a KS uniformity test of intra-day arrival times with the
  * n·86400e6 denominator cleared, and the two-group log-rank test on
  * the q_survival_km durations (per-time terms snapped to 1e9).
  */
object StatsR9l {

  import DailyGrid.wp

  /** the 95% normal quantile (stated) — shared by the Spark chain and
    * the oracle so both sides fold the identical double constants */
  private[queries] val zq: Double = -1.6448536269514722

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // BFS layers from the hub (max degree, ties → min id — stated) of
    // the τ=0.8 token graph: 4 unrolled frontier expansions, each one
    // join + anti-join against the visited set; emits nodes per
    // depth. The edge list is the memoized derivation.
    "q_bfs_layers" -> ((s, d) => {
      val e = graft.operators.EdgeGraph.pairs(s, d, "token", 0.8)
        .select("a_id", "b_id")
        .localCheckpoint(eager = true)
      val sym = e.union(e.select(col("b_id"), col("a_id")))
        .toDF("src", "dst").localCheckpoint(eager = true)
      val hub = sym.groupBy("src").agg(count(lit(1)).as("dg"))
        .orderBy(col("dg").desc, col("src")).limit(1)
        .select(col("src").as("node"))
      var visited = hub.localCheckpoint(eager = true)
      var frontier = visited
      val layers = scala.collection.mutable.ArrayBuffer(
        (0L, visited.count()))
      for (depth <- 1 to 4) {
        frontier = sym.join(frontier.select(col("node").as("src")), "src")
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .localCheckpoint(eager = true)
        layers += ((depth.toLong, frontier.count()))
        visited = visited.union(frontier).localCheckpoint(eager = true)
      }
      import s.implicits._
      layers.toSeq.toDF("depth", "n_nodes").filter(col("n_nodes") > 0)
        .orderBy("depth")
    }),

    // Gini of the dup-cluster size distribution (how concentrated is
    // duplication): computed on the GROUPED (size, count) histogram —
    // 2Σi·x over a run of m equal sizes s starting after `base` items
    // is s·(2·m·base + m·(m+1)), so the whole statistic stays exact
    // longs over the bounded histogram.
    "q_dup_gini" -> ((s, d) => {
      val hist = graft.operators.EdgeGraph.components(s, d, "bigram", 0.3)
        .groupBy("label").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("m"))
      val w = Window.orderBy("sz")
      hist
        .withColumn("base", coalesce(sum("m").over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("twoix",
          col("sz") * (col("m") * col("base") * 2
            + col("m") * (col("m") + 1)))
        .agg(sum("m").as("n_clusters"),
          sum(col("sz") * col("m")).as("n_docs"),
          sum("twoix").as("s2ix"))
        .filter(col("n_clusters") > 0 && col("n_docs") > 0)
        .select(col("n_clusters"), col("n_docs"),
          round(col("s2ix").cast("double")
              / (col("n_clusters") * col("n_docs"))
            - (col("n_clusters") + lit(1.0)) / col("n_clusters"), 4)
            .as("gini"))
    }),

    // Amihud illiquidity per type: per-day |r|/volume (volume = event
    // count that day) snapped to a 1e6 long before the exact sum;
    // the mean divides once. Terms carry the 1e12 grid (µ-return ×
    // 1e6 snap), cleared in the final division.
    "q_amihud" -> ((s, d) => {
      val vol = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("vol"))
      DailyGrid.ret(s, d).join(vol, Seq("event_type", "d"))
        .select(col("event_type"),
          round(abs(col("r_u")) * lit(1e6) / col("vol")).cast("long")
            .as("term_u"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("term_u").as("su"))
        .select(col("event_type"), col("n_days"),
          round(col("su").cast("double") / col("n_days") / 1e12, 10)
            .as("amihud"))
        .orderBy("event_type")
    }),

    // Cornish–Fisher modified VaR95 per type: raw moment sums up to
    // r⁴ — r³ fits a long per row but the SUMS would wrap, so they
    // accumulate as decimal(38,0) (Spark) / HUGEINT (DuckDB), both
    // exact, both cast to double only inside the ONE moment chain.
    // z = −1.6448536269514722 (the 95% normal quantile, stated).
    "q_cornish_fisher" -> ((s, d) => {
      val z = zq
      val r = DailyGrid.ret(s, d)
        .withColumn("r2", col("r_u") * col("r_u"))
      r.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("r_u").cast("decimal(38,0)")).as("s1"),
          sum(col("r2").cast("decimal(38,0)")).as("s2"),
          sum((col("r2") * col("r_u")).cast("decimal(38,0)")).as("s3"),
          sum(col("r2").cast("decimal(38,0)")
            * col("r2").cast("decimal(38,0)")).as("s4"))
        .filter(col("n") > 3)
        .withColumn("mu", col("s1").cast("double") / col("n"))
        .withColumn("m2", col("s2").cast("double") / col("n")
          - col("mu") * col("mu"))
        .filter(col("m2") > 0)
        .withColumn("m3", col("s3").cast("double") / col("n")
          - col("mu") * col("s2").cast("double") / col("n") * 3
          + col("mu") * col("mu") * col("mu") * 2)
        .withColumn("m4", col("s4").cast("double") / col("n")
          - col("mu") * col("s3").cast("double") / col("n") * 4
          + col("mu") * col("mu") * col("s2").cast("double")
            / col("n") * 6
          - col("mu") * col("mu") * col("mu") * col("mu") * 3)
        // m2·√m2, not pow(m2,1.5): sqrt is correctly rounded in BOTH
        // engines, pow may differ by an ulp across libm and the JVM
        .withColumn("sk", col("m3") / (col("m2") * sqrt(col("m2"))))
        .withColumn("ku", col("m4") / (col("m2") * col("m2")) - 3)
        .withColumn("zcf", lit(z)
          + (lit(z * z) - 1) * col("sk") / 6
          + (lit(z * z * z) - lit(3 * z)) * col("ku") / 24
          - (lit(2 * z * z * z) - lit(5 * z)) * col("sk") * col("sk")
            / 36)
        .select(col("event_type"), col("n").as("n_ret"),
          round(col("sk"), 4).as("skew"),
          round(col("ku"), 4).as("ex_kurt"),
          round(-(col("mu") + col("zcf") * sqrt(col("m2"))) / 1e6, 6)
            .as("mvar95"))
        .orderBy("event_type")
    }),

    // KS uniformity of intra-day arrival times per type: u_i = µs
    // since midnight / 86400e6; with the (u, event_id) total order,
    // D⁺/D⁻ clear to exact longs (i·86400e6 − n·us), ONE division.
    "q_ks_uniform" -> ((s, d) => {
      val dayUs = 86400000000L
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          (unix_micros(col("ts")) % dayUs).as("us"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("us"), col("event_id"))
      ev.withColumn("i", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wp))
        .groupBy("event_type")
        .agg(max("n").as("n"),
          max(col("i") * dayUs - col("n") * col("us")).as("dp_c"),
          max(col("n") * col("us") - (col("i") - 1) * dayUs).as("dm_c"))
        .select(col("event_type"), col("n").as("n_events"),
          round(greatest(col("dp_c"), col("dm_c")).cast("double")
            / (col("n").cast("double") * lit(dayUs.toDouble)), 6)
            .as("d_stat"),
          round(sqrt(col("n").cast("double"))
            * greatest(col("dp_c"), col("dm_c")).cast("double")
            / (col("n").cast("double") * lit(dayUs.toDouble)), 4)
            .as("ks_stat"))
        .orderBy("event_type")
    }),

    // Two-group log-rank test on the q_survival_km durations (groups
    // = user_id parity, the deterministic A/B split convention):
    // per-event-time O−E and variance terms snapped to 1e9 before the
    // exact sums (bounded distinct-duration rows), χ² in one chain.
    "q_logrank" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val horizon = ev.agg(max(unix_micros(col("ts"))).as("hz"))
      val perUser = ev
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "signup",
            unix_micros(col("ts")))).as("su"))
        .filter(col("su").isNotNull)
        .join(ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), unix_micros(col("ts")).as("pu")),
          Seq("user_id"), "left")
        .groupBy("user_id", "su")
        .agg(min(when(col("pu") > col("su"), col("pu"))).as("fp"))
        .crossJoin(broadcast(horizon))
        .select((col("user_id") % 2).as("grp"),
          when(col("fp").isNotNull,
            expr("(fp - su) div 86400000000"))
            .otherwise(expr("(hz - su) div 86400000000")).as("t"),
          col("fp").isNotNull.as("is_event"))
      val grid = perUser.groupBy("t")
        .agg(sum(when(col("is_event"), 1L).otherwise(0L)).as("dj"),
          sum(when(col("is_event") && col("grp") === 1, 1L)
            .otherwise(0L)).as("d1j"),
          count(lit(1)).as("aj"),
          sum(when(col("grp") === 1, 1L).otherwise(0L)).as("a1j"))
        .localCheckpoint(eager = true) // bounded duration grid
      val tot = grid.agg(sum("aj").as("n_all"), sum("a1j").as("n_g1"))
      val w = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
      grid.crossJoin(broadcast(tot))
        .withColumn("nj", col("n_all")
          - coalesce(sum("aj").over(w), lit(0L)))
        .withColumn("n1j", col("n_g1")
          - coalesce(sum("a1j").over(w), lit(0L)))
        .filter(col("dj") > 0 && col("nj") > 1)
        .select(
          col("d1j"),
          round(col("dj").cast("double") * col("n1j") * lit(1e9)
            / col("nj")).cast("long").as("e_u"),
          round(col("dj").cast("double") * col("n1j")
            * (col("nj") - col("n1j")) * (col("nj") - col("dj"))
            * lit(1e9)
            / (col("nj").cast("double") * col("nj")
              * (col("nj") - lit(1L)))).cast("long").as("v_u"))
        .agg(count(lit(1)).as("n_times"), sum("d1j").as("o1"),
          sum("e_u").as("se"), sum("v_u").as("sv"))
        .filter(col("sv") > 0)
        .select(col("n_times"), col("o1"),
          round(col("se") / 1e9, 4).as("e1"),
          round((col("o1") * lit(1e9) - col("se")).cast("double")
            * (col("o1") * lit(1e9) - col("se"))
            / (col("sv").cast("double") * 1e9), 4).as("chi2"))
    })
  )

  /** τ=0.8 token edge CTE + symmetric list (the BFS graph). */
  private val bfsEdgeCte: String =
    """tok2 AS (
      |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |sz2 AS (SELECT doc_id, COUNT(*) AS n FROM tok2 GROUP BY doc_id),
      |inter2 AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
      |  FROM tok2 a JOIN tok2 b
      |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |e2 AS MATERIALIZED (
      |  SELECT a_id, b_id FROM (
      |    SELECT a_id, b_id, i * 1.0 / (sa.n + sb.n - i) AS j
      |    FROM inter2
      |    JOIN sz2 sa ON inter2.a_id = sa.doc_id
      |    JOIN sz2 sb ON inter2.b_id = sb.doc_id)
      |  WHERE j >= 0.8),
      |sym AS MATERIALIZED (
      |  SELECT a_id AS src, b_id AS dst FROM e2
      |  UNION ALL SELECT b_id, a_id FROM e2)""".stripMargin

  val oracle: Map[String, String] = Map(
    // identical hub pick and 4 unrolled frontier expansions
    "q_bfs_layers" ->
      s"""WITH $bfsEdgeCte,
        |hub AS (
        |  SELECT src AS node FROM (
        |    SELECT src, COUNT(*) AS dg FROM sym GROUP BY 1
        |    ORDER BY dg DESC, src LIMIT 1)),
        |l0 AS (SELECT node FROM hub),
        |v0 AS (SELECT node FROM l0),
        |l1 AS MATERIALIZED (
        |  SELECT DISTINCT sym.dst AS node FROM sym
        |  JOIN l0 ON sym.src = l0.node
        |  WHERE sym.dst NOT IN (SELECT node FROM v0)),
        |v1 AS (SELECT node FROM v0 UNION SELECT node FROM l1),
        |l2 AS MATERIALIZED (
        |  SELECT DISTINCT sym.dst AS node FROM sym
        |  JOIN l1 ON sym.src = l1.node
        |  WHERE sym.dst NOT IN (SELECT node FROM v1)),
        |v2 AS (SELECT node FROM v1 UNION SELECT node FROM l2),
        |l3 AS MATERIALIZED (
        |  SELECT DISTINCT sym.dst AS node FROM sym
        |  JOIN l2 ON sym.src = l2.node
        |  WHERE sym.dst NOT IN (SELECT node FROM v2)),
        |v3 AS (SELECT node FROM v2 UNION SELECT node FROM l3),
        |l4 AS MATERIALIZED (
        |  SELECT DISTINCT sym.dst AS node FROM sym
        |  JOIN l3 ON sym.src = l3.node
        |  WHERE sym.dst NOT IN (SELECT node FROM v3)),
        |layers AS (
        |  SELECT CAST(0 AS BIGINT) AS depth,
        |    CAST((SELECT COUNT(*) FROM l0) AS BIGINT) AS n_nodes
        |  UNION ALL SELECT 1, (SELECT COUNT(*) FROM l1)
        |  UNION ALL SELECT 2, (SELECT COUNT(*) FROM l2)
        |  UNION ALL SELECT 3, (SELECT COUNT(*) FROM l3)
        |  UNION ALL SELECT 4, (SELECT COUNT(*) FROM l4))
        |SELECT depth, CAST(n_nodes AS BIGINT) AS n_nodes
        |FROM layers WHERE n_nodes > 0 ORDER BY depth""".stripMargin,

    // cs leg = the q_dup_cluster_sizes oracle verbatim; identical
    // run-length-cleared Gini
    "q_dup_gini" ->
      s"""WITH cs AS (${TextSim.oracle("q_dup_cluster_sizes")}),
        |h AS (
        |  SELECT cluster_size AS sz, n_clusters AS m,
        |    COALESCE(SUM(n_clusters) OVER (ORDER BY cluster_size
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS base
        |  FROM cs),
        |ag AS (
        |  SELECT CAST(SUM(m) AS BIGINT) AS n_clusters,
        |    CAST(SUM(sz * m) AS BIGINT) AS n_docs,
        |    CAST(SUM(sz * (m * base * 2 + m * (m + 1))) AS BIGINT)
        |      AS s2ix
        |  FROM h)
        |SELECT n_clusters, n_docs,
        |  ROUND(CAST(s2ix AS DOUBLE) / (n_clusters * n_docs)
        |    - (n_clusters + 1.0) / n_clusters, 4) AS gini
        |FROM ag WHERE n_clusters > 0 AND n_docs > 0""".stripMargin,

    // identical snapped per-day terms
    "q_amihud" ->
      s"""WITH ${DailyGrid.retCte},
        |vol AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS vol
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT ret.event_type,
        |    CAST(ROUND(ABS(ret.r_u) * 1e6 / vol.vol) AS BIGINT)
        |      AS term_u
        |  FROM ret JOIN vol ON ret.event_type = vol.event_type
        |    AND ret.d = vol.d)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  ROUND(CAST(SUM(term_u) AS BIGINT) * 1.0 / COUNT(*) / 1e12,
        |    10) AS amihud
        |FROM t GROUP BY 1 ORDER BY event_type""".stripMargin,

    // identical HUGEINT moment sums and one chain
    "q_cornish_fisher" ->
      s"""WITH ${DailyGrid.retCte},
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(r_u) AS s1, SUM(r_u * r_u) AS s2,
        |    SUM(r_u * r_u * r_u) AS s3,
        |    SUM(CAST(r_u AS HUGEINT) * r_u * r_u * r_u) AS s4
        |  FROM ret GROUP BY 1),
        |m AS (
        |  SELECT event_type, n,
        |    CAST(s1 AS DOUBLE) / n AS mu,
        |    CAST(s2 AS DOUBLE) / n
        |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        |      AS m2,
        |    CAST(s2 AS DOUBLE) AS s2d, CAST(s3 AS DOUBLE) AS s3d,
        |    CAST(s4 AS DOUBLE) AS s4d
        |  FROM ag WHERE n > 3),
        |mm AS (
        |  SELECT event_type, n, mu, m2,
        |    s3d / n - mu * s2d / n * 3 + mu * mu * mu * 2 AS m3,
        |    s4d / n - mu * s3d / n * 4 + mu * mu * s2d / n * 6
        |      - mu * mu * mu * mu * 3 AS m4
        |  FROM m WHERE m2 > 0),
        |sk AS (
        |  SELECT event_type, n, mu, m2,
        |    m3 / (m2 * sqrt(m2)) AS sk,
        |    m4 / (m2 * m2) - 3 AS ku
        |  FROM mm),
        |zz AS (
        |  SELECT event_type, n, mu, m2, sk, ku,
        |    CAST('${StatsR9l.zq}' AS DOUBLE)
        |      + CAST('${StatsR9l.zq * StatsR9l.zq - 1}' AS DOUBLE)
        |        * sk / 6
        |      + CAST('${StatsR9l.zq * StatsR9l.zq * StatsR9l.zq - 3 * StatsR9l.zq}' AS DOUBLE) * ku / 24
        |      - CAST('${2 * StatsR9l.zq * StatsR9l.zq * StatsR9l.zq - 5 * StatsR9l.zq}' AS DOUBLE) * sk * sk / 36 AS zcf
        |  FROM sk)
        |SELECT event_type, n AS n_ret,
        |  ROUND(sk, 4) AS skew, ROUND(ku, 4) AS ex_kurt,
        |  ROUND(-(mu + zcf * sqrt(m2)) / 1e6, 6) AS mvar95
        |FROM zz ORDER BY event_type""".stripMargin,

    // identical cleared D⁺/D⁻
    "q_ks_uniform" ->
      """WITH ev AS (
        |  SELECT event_type, event_id,
        |    epoch_us(ts) % 86400000000 AS us
        |  FROM events),
        |rk AS (
        |  SELECT event_type, us,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY us, event_id) AS BIGINT) AS i,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n
        |  FROM ev),
        |ag AS (
        |  SELECT event_type, MAX(n) AS n,
        |    MAX(i * 86400000000 - n * us) AS dp_c,
        |    MAX(n * us - (i - 1) * 86400000000) AS dm_c
        |  FROM rk GROUP BY 1)
        |SELECT event_type, n AS n_events,
        |  ROUND(CAST(GREATEST(dp_c, dm_c) AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * 86400000000.0), 6) AS d_stat,
        |  ROUND(sqrt(CAST(n AS DOUBLE))
        |    * CAST(GREATEST(dp_c, dm_c) AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * 86400000000.0), 4) AS ks_stat
        |FROM ag ORDER BY event_type""".stripMargin,

    // identical duration derivation (q_survival_km's) and snapped
    // per-time terms
    "q_logrank" ->
      """WITH hz AS (SELECT MAX(epoch_us(ts)) AS hz FROM events),
        |su AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
        |      AS su
        |  FROM events GROUP BY 1),
        |fp AS (
        |  SELECT su.user_id, su.su,
        |    MIN(CASE WHEN e.event_type = 'purchase'
        |      AND epoch_us(e.ts) > su.su THEN epoch_us(e.ts) END) AS fp
        |  FROM su LEFT JOIN events e ON e.user_id = su.user_id
        |  WHERE su.su IS NOT NULL
        |  GROUP BY 1, 2),
        |pu AS (
        |  SELECT user_id % 2 AS grp,
        |    CASE WHEN fp IS NOT NULL THEN (fp - su) // 86400000000
        |      ELSE ((SELECT hz FROM hz) - su) // 86400000000 END AS t,
        |    fp IS NOT NULL AS is_event
        |  FROM fp),
        |grid AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT)
        |      AS dj,
        |    CAST(SUM(CASE WHEN is_event AND grp = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d1j,
        |    CAST(COUNT(*) AS BIGINT) AS aj,
        |    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a1j
        |  FROM pu GROUP BY 1),
        |tt AS (
        |  SELECT CAST(SUM(aj) AS BIGINT) AS n_all,
        |    CAST(SUM(a1j) AS BIGINT) AS n_g1
        |  FROM grid),
        |rk AS (
        |  SELECT grid.*, tt.n_all, tt.n_g1,
        |    tt.n_all - CAST(COALESCE(SUM(aj) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS nj,
        |    tt.n_g1 - CAST(COALESCE(SUM(a1j) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n1j
        |  FROM grid, tt),
        |tm AS (
        |  SELECT d1j,
        |    CAST(ROUND(CAST(dj AS DOUBLE) * n1j * 1e9 / nj) AS BIGINT)
        |      AS e_u,
        |    CAST(ROUND(CAST(dj AS DOUBLE) * n1j * (nj - n1j)
        |      * (nj - dj) * 1e9
        |      / (CAST(nj AS DOUBLE) * nj * (nj - 1))) AS BIGINT)
        |      AS v_u
        |  FROM rk WHERE dj > 0 AND nj > 1),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_times,
        |    CAST(SUM(d1j) AS BIGINT) AS o1,
        |    CAST(SUM(e_u) AS BIGINT) AS se,
        |    CAST(SUM(v_u) AS BIGINT) AS sv
        |  FROM tm)
        |SELECT n_times, o1, ROUND(se / 1e9, 4) AS e1,
        |  ROUND(CAST(o1 * 1000000000 - se AS DOUBLE)
        |    * (o1 * 1000000000 - se) / (CAST(sv AS DOUBLE) * 1e9), 4)
        |    AS chi2
        |FROM ag WHERE sv > 0""".stripMargin
  )
}
