package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 9 (SURVEY.md §2 B.10b): position sizing, benchmark-
  * relative skill, categorical symmetry, stratified association, a
  * second runs test, and community quality — Kelly fraction and the
  * information ratio from exact cleared sums, Bowker's symmetry test
  * on the user-transition grid (per-pair terms snapped to 1e6 before
  * the exact sum — a distributed double sum would be order-
  * dependent), Cochran–Mantel–Haenszel over weekday strata (per-
  * stratum terms snapped likewise), up/down runs (zero diffs dropped,
  * stated), and Newman modularity of the q_label_prop communities
  * with the 4m² denominator cleared (Q·4m² = Σ(4m·L_c − d_c²), exact
  * longs).
  */
object StatsR9i {

  import DailyGrid.{dmCte, wo}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Kelly fraction per type: f* = μ/σ² collapses to
    // sr·(n−1)·1e6/(n·Σr² − (Σr)²) — exact longs to the one division;
    // μ and σ emitted alongside from the same sums.
    "q_kelly_fraction" -> ((s, d) => {
      DailyGrid.ret(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("r_u").as("sr"),
          sum(col("r_u") * col("r_u")).as("srr"))
        .withColumn("clr", col("n") * col("srr") - col("sr") * col("sr"))
        .filter(col("n") > 1 && col("clr") > 0)
        .select(col("event_type"), col("n").as("n_ret"),
          round(col("sr").cast("double") / col("n") / 1e6, 6)
            .as("mu_daily"),
          round(sqrt(col("clr").cast("double")
            / (col("n") * (col("n") - lit(1L)))) / 1e6, 6)
            .as("sigma_daily"),
          round((col("sr") * (col("n") - 1)).cast("double") * 1e6
            / col("clr"), 4).as("kelly_f"))
        .orderBy("event_type")
    }),

    // Information ratio vs the pooled market series (q_beta_market's
    // rm_u leg): active return a = r_u − rm_u stays an exact long;
    // the 1e6 grid cancels in IR = mean(a)/sd(a), tracking error
    // keeps it.
    "q_information_ratio" -> ((s, d) => {
      DailyGrid.ret(s, d).join(broadcast(DailyGrid.marketRet(s, d)), "d")
        .withColumn("a", col("r_u") - col("rm_u"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("a").as("sa"),
          sum(col("a") * col("a")).as("saa"))
        .withColumn("clr", col("n") * col("saa") - col("sa") * col("sa"))
        .filter(col("n") > 1 && col("clr") > 0)
        .select(col("event_type"), col("n").as("n_ret"),
          round(sqrt(col("clr").cast("double")
            / (col("n") * (col("n") - lit(1L)))) / 1e6, 6)
            .as("te_daily"),
          round(col("sa").cast("double") / col("n")
            / sqrt(col("clr").cast("double")
              / (col("n") * (col("n") - lit(1L)))), 6).as("ir_daily"))
        .orderBy("event_type")
    }),

    // Bowker symmetry test on the per-user transition grid (the
    // q_markov_transition pairs): B = Σ_{i<j}(n_ij−n_ji)²/(n_ij+n_ji)
    // with each pair's term snapped to 1e6 and summed exactly — the
    // bounded type² grid makes the whole tail a driver-sized rollup.
    "q_bowker" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"),
        col("event_id"))
      val cnt = Tables.events(s, d)
        .withColumn("nx", lead("event_type", 1).over(w))
        .filter(col("nx").isNotNull && col("nx") =!= col("event_type"))
        .groupBy(col("event_type").as("i"), col("nx").as("j"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = true) // bounded type² grid, 2 legs
      val fwd = cnt.filter(col("i") < col("j"))
      val bwd = cnt.filter(col("i") > col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("n").as("nr"))
      fwd.join(bwd, Seq("i", "j"), "full_outer")
        .select(coalesce(col("n"), lit(0L)).as("nij"),
          coalesce(col("nr"), lit(0L)).as("nji"))
        .filter(col("nij") + col("nji") > 0)
        .select(round((col("nij") - col("nji"))
            * (col("nij") - col("nji")) * 1e6
            / (col("nij") + col("nji"))).cast("long").as("term_u"))
        .agg(count(lit(1)).as("df"), sum("term_u").as("su"))
        .select(col("df"), round(col("su") / 1e6, 4).as("b_stat"))
    }),

    // Cochran–Mantel–Haenszel over weekday strata: unit = (day,
    // user), x = clicked, y = purchased that day; per-stratum
    // numerator (a·N − r1·c1)/N and variance r1·c1(N−r1)(N−c1)/
    // (N²(N−1)) snapped to 1e6 longs (7 bounded strata rows — the
    // distributed double sum would be order-dependent), CMH =
    // S1²/(1e6·S2) in one chain.
    "q_cmh" -> ((s, d) => {
      val flags = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("d"), col("user_id"))
        .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("x"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      val strat = flags
        .groupBy(dayofweek(col("d")).as("dow"))
        .agg(count(lit(1)).as("nn"), sum("x").as("r1"),
          sum("y").as("c1"),
          sum(when(col("x") === 1 && col("y") === 1, 1L).otherwise(0L))
            .as("a"))
        .filter(col("nn") > 1)
        .select(
          round((col("a").cast("double") * col("nn")
            - col("r1").cast("double") * col("c1")) * 1e6 / col("nn"))
            .cast("long").as("num_u"),
          round(col("r1").cast("double") * col("c1")
            * (col("nn") - col("r1")) * (col("nn") - col("c1")) * 1e6
            / (col("nn").cast("double") * col("nn")
              * (col("nn") - lit(1L)))).cast("long").as("den_u"))
      strat.agg(count(lit(1)).as("n_strata"), sum("num_u").as("s1"),
          sum("den_u").as("s2"))
        .filter(col("s2") > 0)
        .select(col("n_strata"),
          round(col("s1").cast("double") * col("s1")
            / (col("s2") * 1e6), 4).as("cmh_stat"))
    }),

    // Up/down runs test per type on the daily milli means: zero
    // diffs dropped (stated), R = sign changes + 1 over the kept
    // sequence, classical moments E = (2n−1)/3, V = (16n−29)/90 with
    // n = kept diffs + 1.
    "q_runs_updown" -> ((s, d) => {
      val diffs = DailyGrid.mean(s, d)
        .withColumn("py", lag("y", 1).over(wo))
        .filter(col("py").isNotNull && col("y") =!= col("py"))
        .withColumn("sgn", when(col("y") > col("py"), 1L).otherwise(0L))
        .withColumn("chg", when(lag("sgn", 1).over(wo).isNull
          || lag("sgn", 1).over(wo) =!= col("sgn"), 1L).otherwise(0L))
      diffs.groupBy("event_type")
        .agg((count(lit(1)) + 1).as("n_obs"), sum("chg").as("runs"))
        .filter(col("n_obs") >= 4)
        .select(col("event_type"), col("n_obs"), col("runs"),
          round((col("runs") - (col("n_obs") * 2 - 1) / 3.0)
            / sqrt((col("n_obs") * 16 - 29) / 90.0), 4).as("z"))
        .orderBy("event_type")
    }),

    // Newman modularity of the q_label_prop communities on the τ=0.8
    // token graph: Q·4m² = Σ_c(4m·L_c − d_c²) stays exact longs
    // (L_c = intra-community edges, d_c = community degree sum), ONE
    // division at the end. The edge list and labels are the existing
    // memoized derivations — this key adds two bounded rollups.
    "q_graph_modularity" -> ((s, d) => {
      val e = graft.operators.EdgeGraph.pairs(s, d, "token", 0.8)
        .select("a_id", "b_id")
        .localCheckpoint(eager = true) // 3 legs below
      val lbl = graft.operators.EdgeGraph.labelProp(s, d, "token", 0.8)
        .select(col("node").as("doc_id"), col("lbl").as("community"))
      val mdf = e.agg(count(lit(1)).as("m"))
      val lc = e
        .join(lbl.select(col("doc_id").as("a_id"),
          col("community").as("ca")), "a_id")
        .join(lbl.select(col("doc_id").as("b_id"),
          col("community").as("cb")), "b_id")
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("c")).agg(count(lit(1)).as("l_c"))
      val deg = e.select(col("a_id").as("node"))
        .union(e.select(col("b_id").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
        .join(lbl.select(col("doc_id").as("node"),
          col("community").as("c")), "node")
        .groupBy("c").agg(sum("dg").as("d_c"))
      deg.join(lc, Seq("c"), "left_outer")
        .select(col("c"), col("d_c"),
          coalesce(col("l_c"), lit(0L)).as("l_c"))
        .crossJoin(broadcast(mdf))
        .agg(count(lit(1)).as("n_communities"), max("m").as("m_edges"),
          sum(col("m") * col("l_c") * 4 - col("d_c") * col("d_c"))
            .as("qn"))
        .select(col("n_communities"), col("m_edges"),
          round(col("qn").cast("double")
            / (col("m_edges").cast("double") * col("m_edges") * 4), 6)
            .as("modularity"))
    })
  )

  /** τ=0.8 token-Jaccard edge CTE block (the q_label_prop graph). */
  private val edgeCte: String =
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
      |  WHERE j >= 0.8)""".stripMargin

  val oracle: Map[String, String] = Map(
    // identical cleared sums and divisions
    "q_kelly_fraction" ->
      s"""WITH ${DailyGrid.retCte},
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(r_u) AS BIGINT) AS sr,
        |    CAST(SUM(r_u * r_u) AS BIGINT) AS srr
        |  FROM ret GROUP BY 1),
        |cl AS (
        |  SELECT event_type, n, sr, n * srr - sr * sr AS clr
        |  FROM ag WHERE n > 1 AND n * srr - sr * sr > 0)
        |SELECT event_type, n AS n_ret,
        |  ROUND(CAST(sr AS DOUBLE) / n / 1e6, 6) AS mu_daily,
        |  ROUND(sqrt(CAST(clr AS DOUBLE) / (n * (n - 1))) / 1e6, 6)
        |    AS sigma_daily,
        |  ROUND(CAST(sr * (n - 1) AS DOUBLE) * 1e6 / clr, 4) AS kelly_f
        |FROM cl ORDER BY event_type""".stripMargin,

    // identical market leg (q_beta_market's) and cleared active sums
    "q_information_ratio" ->
      s"""WITH ${DailyGrid.retCte},
        |mk AS (
        |  SELECT d,
        |    CAST(ROUND(ln(CAST(my AS DOUBLE) / pmy) * 1e6) AS BIGINT)
        |      AS rm_u
        |  FROM (SELECT d, my,
        |          lag(my) OVER (ORDER BY d) AS pmy
        |        FROM (SELECT CAST(ts AS DATE) AS d,
        |                CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
        |                  // COUNT(*) AS BIGINT) AS my
        |              FROM events GROUP BY 1))
        |  WHERE pmy IS NOT NULL),
        |ac AS (
        |  SELECT ret.event_type, ret.r_u - mk.rm_u AS a
        |  FROM ret JOIN mk ON ret.d = mk.d),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(a) AS BIGINT) AS sa,
        |    CAST(SUM(a * a) AS BIGINT) AS saa
        |  FROM ac GROUP BY 1),
        |cl AS (
        |  SELECT event_type, n, sa, n * saa - sa * sa AS clr
        |  FROM ag WHERE n > 1 AND n * saa - sa * sa > 0)
        |SELECT event_type, n AS n_ret,
        |  ROUND(sqrt(CAST(clr AS DOUBLE) / (n * (n - 1))) / 1e6, 6)
        |    AS te_daily,
        |  ROUND(CAST(sa AS DOUBLE) / n
        |    / sqrt(CAST(clr AS DOUBLE) / (n * (n - 1))), 6) AS ir_daily
        |FROM cl ORDER BY event_type""".stripMargin,

    // identical snapped per-pair terms and exact sum
    "q_bowker" ->
      """WITH pairs AS (
        |  SELECT event_type AS i, nx AS j, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (
        |    SELECT event_type,
        |      lead(event_type) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS nx
        |    FROM events)
        |  WHERE nx IS NOT NULL AND nx <> event_type
        |  GROUP BY 1, 2),
        |sym AS (
        |  SELECT COALESCE(f.n, 0) AS nij, COALESCE(b.nr, 0) AS nji
        |  FROM (SELECT i, j, n FROM pairs WHERE i < j) f
        |  FULL OUTER JOIN (SELECT j AS i, i AS j, n AS nr
        |                   FROM pairs WHERE i > j) b
        |    USING (i, j)),
        |t AS (
        |  SELECT CAST(ROUND((nij - nji) * (nij - nji) * 1e6
        |    / (nij + nji)) AS BIGINT) AS term_u
        |  FROM sym WHERE nij + nji > 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS df,
        |  ROUND(CAST(SUM(term_u) AS BIGINT) / 1e6, 4) AS b_stat
        |FROM t""".stripMargin,

    // identical snapped per-stratum terms and final chain
    "q_cmh" ->
      """WITH flags AS (
        |  SELECT CAST(ts AS DATE) AS d, user_id,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS y
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT dayofweek(d) AS dow, CAST(COUNT(*) AS BIGINT) AS nn,
        |    CAST(SUM(x) AS BIGINT) AS r1, CAST(SUM(y) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a
        |  FROM flags GROUP BY 1),
        |t AS (
        |  SELECT
        |    CAST(ROUND((CAST(a AS DOUBLE) * nn
        |      - CAST(r1 AS DOUBLE) * c1) * 1e6 / nn) AS BIGINT)
        |      AS num_u,
        |    CAST(ROUND(CAST(r1 AS DOUBLE) * c1 * (nn - r1) * (nn - c1)
        |      * 1e6 / (CAST(nn AS DOUBLE) * nn * (nn - 1))) AS BIGINT)
        |      AS den_u
        |  FROM st WHERE nn > 1),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |    CAST(SUM(num_u) AS BIGINT) AS s1,
        |    CAST(SUM(den_u) AS BIGINT) AS s2
        |  FROM t)
        |SELECT n_strata,
        |  ROUND(CAST(s1 AS DOUBLE) * s1 / (s2 * 1e6), 4) AS cmh_stat
        |FROM ag WHERE s2 > 0""".stripMargin,

    // identical zero-drop and classical moments
    "q_runs_updown" ->
      s"""WITH $dmCte,
        |df AS (
        |  SELECT event_type, d, y, py,
        |    CASE WHEN y > py THEN 1 ELSE 0 END AS sgn
        |  FROM (SELECT event_type, d, y,
        |          lag(y) OVER (PARTITION BY event_type ORDER BY d)
        |            AS py
        |        FROM dm)
        |  WHERE py IS NOT NULL AND y <> py),
        |ch AS (
        |  SELECT event_type,
        |    CASE WHEN lag(sgn) OVER w IS NULL
        |      OR lag(sgn) OVER w <> sgn THEN 1 ELSE 0 END AS chg
        |  FROM df
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) + 1 AS BIGINT) AS n_obs,
        |    CAST(SUM(chg) AS BIGINT) AS runs
        |  FROM ch GROUP BY 1)
        |SELECT event_type, n_obs, runs,
        |  ROUND((runs - (n_obs * 2 - 1) / 3.0)
        |    / sqrt((n_obs * 16 - 29) / 90.0), 4) AS z
        |FROM ag WHERE n_obs >= 4 ORDER BY event_type""".stripMargin,

    // lp leg = the q_label_prop oracle verbatim; identical cleared
    // Q·4m² sum
    "q_graph_modularity" ->
      s"""WITH lp AS (${StatsR8b.oracle("q_label_prop")}),
        |$edgeCte,
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e2),
        |lc AS (
        |  SELECT la.community AS c, CAST(COUNT(*) AS BIGINT) AS l_c
        |  FROM e2
        |  JOIN lp la ON e2.a_id = la.doc_id
        |  JOIN lp lb ON e2.b_id = lb.doc_id
        |  WHERE la.community = lb.community
        |  GROUP BY 1),
        |dg AS (
        |  SELECT lp.community AS c, CAST(SUM(dgn) AS BIGINT) AS d_c
        |  FROM (SELECT node, CAST(COUNT(*) AS BIGINT) AS dgn FROM (
        |          SELECT a_id AS node FROM e2
        |          UNION ALL SELECT b_id FROM e2)
        |        GROUP BY 1) nd
        |  JOIN lp ON nd.node = lp.doc_id
        |  GROUP BY 1),
        |q AS (
        |  SELECT dg.c, dg.d_c, COALESCE(lc.l_c, 0) AS l_c
        |  FROM dg LEFT JOIN lc ON dg.c = lc.c)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
        |  ANY_VALUE(m.m) AS m_edges,
        |  ROUND(CAST(SUM(m.m * q.l_c * 4 - q.d_c * q.d_c) AS DOUBLE)
        |    / (CAST(ANY_VALUE(m.m) AS DOUBLE) * ANY_VALUE(m.m) * 4), 6)
        |    AS modularity
        |FROM q, m""".stripMargin
  )
}
