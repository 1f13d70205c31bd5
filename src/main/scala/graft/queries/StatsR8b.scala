package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-8 wave 3 (SURVEY.md §2 B.10b): two-sample and
  * repeated-measures nonparametrics (Mann–Whitney, Friedman),
  * inequality (Theil with between/within decomposition is left to
  * q_gini's family — here the per-group index), weighted medians,
  * quantile-alignment audits, and the label-centroid cosine matrix.
  * Same determinism discipline as StatsR8: exact integer aggregates,
  * IEEE only on bounded per-row scalars.
  */
object StatsR8b {

  import DailyGrid.wp

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Mann–Whitney U (click vs purchase values): the two-sample
    // rank test q_abtest_ttest's t can't replace on heavy tails.
    // Doubled-average-rank grid over the UNION's value blocks (the
    // kruskal machinery on the pair subset), exact R2/U2 longs, tie-
    // corrected z. One groupBy + one bounded distinct-value window.
    "q_mannwhitney" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"), col("value"))
      val vb = ev.groupBy("value").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(Window.orderBy("value")
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("r2", lit(2L) * (col("cum") - col("cnt"))
          + col("cnt") + 1L)
      val grp = ev.groupBy("event_type", "value")
        .agg(count(lit(1)).as("ngv"))
        .join(vb.select("value", "r2"), "value")
        .groupBy("event_type")
        .agg(sum("ngv").as("ng"), sum(col("ngv") * col("r2")).as("rr2"))
        .localCheckpoint(eager = true) // 2 rows, 2 legs
      val ties = vb.agg(
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("t3"))
      val a = grp.filter(col("event_type") === "click")
        .select(col("ng").as("n1"), col("rr2").as("r2a"))
      val b = grp.filter(col("event_type") === "purchase")
        .select(col("ng").as("n2"))
      a.crossJoin(b).crossJoin(broadcast(ties))
        .withColumn("n", col("n1") + col("n2"))
        .withColumn("u", col("r2a") / 2.0
          - col("n1").cast("double") * (col("n1") + 1) / 2.0)
        .withColumn("mu", col("n1").cast("double") * col("n2") / 2.0)
        .withColumn("sg2", col("n1").cast("double") * col("n2") / 12.0
          * ((col("n") + 1) - col("t3").cast("double")
            / (col("n").cast("double") * (col("n") - 1))))
        .select(col("n1"), col("n2"), round(col("u"), 2).as("u_stat"),
          round((col("u") - col("mu")) / sqrt(col("sg2")), 4).as("z"))
    }),

    // Friedman test: do the event types keep the same value ordering
    // across days (days = blocks, types = treatments)? Daily µ-means
    // ranked WITHIN each day (deterministic (mmu, type) tie-break,
    // identical both engines; stated, not average-rank), χ²_F from
    // exact rank-sum longs. Only complete blocks (all k types) count.
    "q_friedman" -> ((s, d) => {
      val k = 5
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(floor(col("value") * 1e6).cast("long")).as("s_mu"),
          count(lit(1)).as("cnt"))
        .withColumn("mmu", expr("s_mu div cnt"))
      val full = daily.groupBy("d").agg(count(lit(1)).as("nt"))
        .filter(col("nt") === k).select("d")
      val ranked = daily.join(full, "d")
        .withColumn("r", row_number().over(Window.partitionBy("d")
          .orderBy(col("mmu"), col("event_type"))))
      val rsums = ranked.groupBy("event_type").agg(sum("r").as("rj"))
      rsums
        .agg(count(lit(1)).as("k"),
          sum(col("rj") * col("rj")).as("srj2"), sum("rj").as("srj"))
        // Σrj = n·k(k+1)/2 exactly, so this division is exact; the
        // cast makes it a long (Column `/` is double division)
        .withColumn("n_days",
          (col("srj") * 2 / (col("k") * (col("k") + 1))).cast("long"))
        .select(col("k").as("k_treatments"), col("n_days"),
          round(lit(12.0) * col("srj2")
            / (col("n_days").cast("double") * col("k") * (col("k") + 1))
            - lit(3.0) * col("n_days") * (col("k") + 1), 4)
            .as("friedman_chi2"),
          (col("k") - 1).as("df"))
    }),

    // Theil T inequality index per event type over positive values:
    // T = mean((x/μ)·ln(x/μ)) — the concentration measure that
    // decomposes (unlike q_gini). Per-row terms snap to the 1e9 grid
    // against the group's exact centi mean; one partial agg computes
    // the mean, a second the snapped terms.
    "q_theil_index" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("x"))
        .filter(col("x") > 0)
      val mu = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"))
        .withColumn("mu", col("sx").cast("double") / col("n"))
      ev.join(broadcast(mu), "event_type")
        .withColumn("t_u",
          round(col("x") / col("mu") * log(col("x") / col("mu")) * 1e9)
            .cast("long"))
        .groupBy("event_type")
        .agg(max("n").as("n"), sum("t_u").as("st"))
        .select(col("event_type"), col("n"),
          round(col("st") / 1e9 / col("n"), 6).as("theil_t"))
        .orderBy("event_type")
    }),

    // Weighted median unit price per return flag (weight = quantity):
    // the "typical shipped-unit price" a plain median misses. Value
    // blocks on the exact centi price grid, cumulative exact weights,
    // median = smallest price with 2·cumw ≥ totw (stated convention).
    "q_weighted_median" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("pc"),
          round(col("l_quantity")).cast("long").as("w"))
      val blocks = li.groupBy("l_returnflag", "pc")
        .agg(sum("w").as("wb"))
        .withColumn("cumw", sum("wb").over(
          Window.partitionBy("l_returnflag").orderBy("pc")
            .rowsBetween(Window.unboundedPreceding, 0)))
      val tot = li.groupBy("l_returnflag").agg(sum("w").as("totw"))
      blocks.join(broadcast(tot), "l_returnflag")
        .filter(lit(2L) * col("cumw") >= col("totw"))
        .groupBy("l_returnflag")
        .agg(max("totw").as("total_weight"), min("pc").as("med_pc"))
        .select(col("l_returnflag"), col("total_weight"),
          round(col("med_pc") / 100.0, 2).as("weighted_median_price"))
        .orderBy("l_returnflag")
    }),

    // Quantile-alignment audit: each event type's decile values next
    // to the global deciles and their shift — the distribution-drift
    // view a mean comparison hides. Exact order statistics at
    // idx = (n−1)·q div 10 + 1 (lower order stat, stated), computed
    // with per-group sort windows on the µ grid.
    "q_quantile_align" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 1e6).cast("long").as("v_u"))
      val deciles = s.range(1, 10).select(col("id").cast("int").as("q"))
      def orderStats(df: DataFrame, part: Seq[String]): DataFrame = {
        val w = if (part.isEmpty) Window.orderBy(col("v_u"), col("event_id"))
          else Window.partitionBy(part.map(col): _*)
            .orderBy(col("v_u"), col("event_id"))
        val cnt = if (part.isEmpty)
          df.agg(count(lit(1)).as("n")).crossJoin(df)
        else df.join(df.groupBy(part.map(col): _*)
          .agg(count(lit(1)).as("n")), part)
        cnt.withColumn("rn", row_number().over(w))
          .crossJoin(broadcast(deciles))
          .filter(col("rn") ===
            ((col("n") - 1) * col("q") / 10).cast("long") + 1)
      }
      val g = orderStats(ev, Seq("event_type"))
        .select(col("event_type"), col("q"), col("v_u").as("vg"))
      val glob = orderStats(ev.select(lit("ALL").as("k"), col("event_id"),
          col("v_u")), Seq("k"))
        .select(col("q"), col("v_u").as("vall"))
      g.join(broadcast(glob), "q")
        .select(col("event_type"), col("q").cast("long").as("decile"),
          round(col("vg") / 1e6, 4).as("v_group"),
          round(col("vall") / 1e6, 4).as("v_global"),
          round((col("vg") - col("vall")) / 1e6, 4).as("shift"))
        .orderBy("event_type", "decile")
    }),

    // Label-centroid cosine matrix over the embeddings table: which
    // classes sit close in embedding space (the confusion-risk map).
    // Per-dim sums snap floats to exact µ longs BEFORE the
    // distributed add (float sum order never flaps a digit); the
    // 10×64 centroid grid is bounded, the 45-pair cosine algebra
    // snaps per-dim products to the µ grid too.
    "q_centroid_sim" -> ((s, d) => {
      val cent = Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(sum(round(col("v") * 1e6).cast("long")).as("su"),
          count(lit(1)).as("n"))
        .withColumn("c", col("su") / (col("n") * 1e6))
        .localCheckpoint(eager = true) // bounded 10×64 grid, 3 legs
      val norms = cent.groupBy("label")
        .agg(sum(round(col("c") * col("c") * 1e6).cast("long")).as("nn"))
      cent.select(col("label").as("label_a"), col("dim"), col("c").as("ca"))
        .join(cent.select(col("label").as("label_b"), col("dim"),
          col("c").as("cb")), "dim")
        .filter(col("label_a") < col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(sum(round(col("ca") * col("cb") * 1e6).cast("long")).as("dot"))
        .join(broadcast(norms.select(col("label").as("label_a"),
          col("nn").as("na"))), "label_a")
        .join(broadcast(norms.select(col("label").as("label_b"),
          col("nn").as("nb"))), "label_b")
        .select(col("label_a"), col("label_b"),
          round(col("dot") / sqrt(col("na").cast("double") * col("nb")), 6)
            .as("centroid_cos"))
        .orderBy("label_a", "label_b")
    }),

    // Multiple-testing correction over per-type proportion tests
    // against the POOLED rate (H₀: each type's P(value > 100) equals
    // the corpus-wide one — the non-degenerate null): two-sided
    // normal p-values through the custom codegen'd `erf_as`
    // expression (A&S 7.1.26 — the oracle spells the IDENTICAL Horner
    // chain, see expr/Erf.scala), then Bonferroni and Benjamini–
    // Hochberg step-up columns. BH runs over the bounded |types| rows.
    "q_pvalue_adjust" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val wAll = Window.rowsBetween(Long.MinValue, Long.MaxValue)
      val wr = Window.orderBy(col("p"), col("event_type"))
      val wmin = Window.orderBy(col("p").desc, col("event_type").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val g = Tables.events(s, d)
        .select(col("event_type"),
          when(col("value") > 100, 1L).otherwise(0L).as("hit"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("hit").as("k"))
        .localCheckpoint(eager = true) // bounded |types| rows, 2 legs
      val tot = g.agg(sum("n").as("nn"), sum("k").as("kk"))
      g.crossJoin(broadcast(tot))
        .withColumn("p0", col("kk").cast("double") / col("nn"))
        .withColumn("z",
          (col("k").cast("double") / col("n") - col("p0"))
            / sqrt(col("p0") * (lit(1.0) - col("p0")) / col("n")))
        .withColumn("p", lit(1.0) - expr("erf_as(abs(z) / sqrt(2.0))"))
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("i", row_number().over(wr))
        .withColumn("p_bh", least(lit(1.0),
          min(col("p") * col("m") / col("i")).over(wmin)))
        .select(col("event_type"), col("n"), round(col("z"), 4).as("z"),
          round(col("p"), 5).as("p_raw"),
          round(least(lit(1.0), col("p") * col("m")), 5).as("p_bonf"),
          round(col("p_bh"), 5).as("p_bh"))
        .orderBy("event_type")
    }),

    // Synchronous label propagation (4 rounds) on the τ=0.8 token
    // graph — the community finder that SPLITS what connected
    // components would merge. Deterministic: every node adopts its
    // neighbors' majority label with the (count desc, label asc)
    // tie-break, all nodes update simultaneously (the oracle unrolls
    // the same 4 rounds). Each round is one groupBy + one window over
    // the edge list — linear in edges at any scale; rounds are
    // checkpointed so round r never re-executes rounds < r.
    "q_label_prop" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      // the 4-round propagation lives in the memoized EdgeGraph layer
      // (r9): q_graph_modularity scores the identical assignment, so
      // both keys share one derivation per session
      graft.operators.EdgeGraph.labelProp(s, d, "token", 0.8)
        .select(col("node").as("doc_id"), col("lbl").as("community"))
        .orderBy("doc_id")
    }),

    // 10%-trimmed mean per event type: exact order-window trim
    // (drop rn ≤ n div 10 and rn > n − n div 10, stated), exact centi
    // sum over the kept middle — the robust location estimate between
    // mean and median. Per-type sort windows only.
    "q_trimmed_mean" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("v"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("v"), col("event_id"))
      ev.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("cut", (col("n") / 10).cast("long"))
        .filter(col("rn") > col("cut") && col("rn") <= col("n") - col("cut"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_kept"), sum("v").as("sv"),
          max("n").as("n"))
        .select(col("event_type"), col("n"), col("n_kept"),
          round(col("sv").cast("double") / col("n_kept") / 100.0, 4)
            .as("trimmed_mean"))
        .orderBy("event_type")
    }),

    // Simple-exponential-smoothing one-step forecast per event type,
    // in CLOSED FORM: ŷ = α·Σ(1−α)^j·y_{n−j} + (1−α)^n·y₁ — the
    // recursion unrolled into a weighted sum, so it's relational (no
    // sequential fold). Per-day terms snap to the µ grid before the
    // distributed sum; weights are deterministic pow of the day index.
    "q_ses_forecast" -> ((s, d) => {
      // 0.7 as a LITERAL, not 1.0-0.3: they are different doubles and
      // pow amplifies the gap; the oracle spells the same literals
      val alpha = 0.3
      val beta = 0.7
      val daily = DailyGrid.mean(s, d)
        .withColumn("n", count(lit(1)).over(wp))
      daily
        .withColumn("wgt",
          when(col("i") === 1,
            lit(alpha) * pow(lit(beta), col("n") - col("i"))
              + pow(lit(beta), col("n")))
            .otherwise(
              lit(alpha) * pow(lit(beta), col("n") - col("i"))))
        .withColumn("t_u", round(col("wgt") * col("y") * 1e3).cast("long"))
        .groupBy("event_type")
        .agg(max("n").as("n_days"), sum("t_u").as("st"),
          max(when(col("i") === col("n"), col("y"))).as("last_y"))
        .select(col("event_type"), col("n_days"),
          round(col("last_y") / 1e3, 4).as("last_actual"),
          round(col("st") / 1e6, 4).as("ses_forecast"))
        .orderBy("event_type")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical pair-subset rank grid and tie-corrected z
    "q_mannwhitney" ->
      """WITH ev AS (
        |  SELECT event_type, value FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |vb AS (
        |  SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM ev GROUP BY 1),
        |rk AS (
        |  SELECT value, cnt,
        |    2 * (SUM(cnt) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
        |      + cnt + 1 AS r2
        |  FROM vb),
        |grp AS (
        |  SELECT event_type, SUM(ngv) AS ng, SUM(ngv * rk.r2) AS rr2
        |  FROM (SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS ngv
        |        FROM ev GROUP BY 1, 2) gv
        |  JOIN rk USING (value) GROUP BY 1),
        |ties AS (SELECT SUM(cnt * cnt * cnt - cnt) AS t3 FROM vb),
        |ab AS (
        |  SELECT
        |    (SELECT ng FROM grp WHERE event_type = 'click') AS n1,
        |    (SELECT rr2 FROM grp WHERE event_type = 'click') AS r2a,
        |    (SELECT ng FROM grp WHERE event_type = 'purchase') AS n2,
        |    t3
        |  FROM ties),
        |u AS (
        |  SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |    r2a / 2.0 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0 AS u,
        |    CAST(n1 AS DOUBLE) * n2 / 2.0 AS mu,
        |    CAST(n1 AS DOUBLE) * n2 / 12.0 * ((n1 + n2 + 1)
        |      - CAST(t3 AS DOUBLE)
        |        / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))) AS sg2
        |  FROM ab)
        |SELECT n1, n2, ROUND(u, 2) AS u_stat,
        |  ROUND((u - mu) / sqrt(sg2), 4) AS z
        |FROM u""".stripMargin,

    // identical complete-block ranks with (mmu, type) tie-break
    "q_friedman" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT))
        |      // COUNT(*) AS BIGINT) AS mmu
        |  FROM events GROUP BY 1, 2),
        |full_d AS (
        |  SELECT d FROM daily GROUP BY 1 HAVING COUNT(*) = 5),
        |ranked AS (
        |  SELECT daily.event_type,
        |    CAST(row_number() OVER (PARTITION BY daily.d
        |      ORDER BY mmu, event_type) AS BIGINT) AS r
        |  FROM daily JOIN full_d ON daily.d = full_d.d),
        |rs AS (
        |  SELECT event_type, SUM(r) AS rj FROM ranked GROUP BY 1),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(rj * rj) AS srj2,
        |    SUM(rj) AS srj
        |  FROM rs),
        |f AS (
        |  SELECT k, CAST(srj * 2 / (k * (k + 1)) AS BIGINT) AS n_days,
        |    srj2
        |  FROM a)
        |SELECT k AS k_treatments, n_days,
        |  ROUND(12.0 * srj2 / (CAST(n_days AS DOUBLE) * k * (k + 1))
        |    - 3.0 * n_days * (k + 1), 4) AS friedman_chi2,
        |  k - 1 AS df
        |FROM f""".stripMargin,

    // identical positive-value mean and 1e9-snapped terms
    "q_theil_index" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS x
        |  FROM events
        |  WHERE CAST(ROUND(value * 100) AS BIGINT) > 0),
        |mu AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu
        |  FROM ev GROUP BY 1),
        |t AS (
        |  SELECT ev.event_type, mu.n,
        |    CAST(ROUND(x / mu * ln(x / mu) * 1e9) AS BIGINT) AS t_u
        |  FROM ev JOIN mu ON ev.event_type = mu.event_type)
        |SELECT event_type, MAX(n) AS n,
        |  ROUND(SUM(t_u) / 1e9 / MAX(n), 6) AS theil_t
        |FROM t GROUP BY 1 ORDER BY event_type""".stripMargin,

    // identical centi price blocks and 2·cumw ≥ totw convention
    "q_weighted_median" ->
      """WITH li AS (
        |  SELECT l_returnflag,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc,
        |    CAST(ROUND(l_quantity) AS BIGINT) AS w
        |  FROM lineitem),
        |blocks AS (
        |  SELECT l_returnflag, pc, SUM(w) AS wb,
        |    SUM(SUM(w)) OVER (PARTITION BY l_returnflag ORDER BY pc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
        |  FROM li GROUP BY 1, 2),
        |tot AS (
        |  SELECT l_returnflag, SUM(w) AS totw FROM li GROUP BY 1)
        |SELECT blocks.l_returnflag,
        |  CAST(MAX(totw) AS BIGINT) AS total_weight,
        |  ROUND(MIN(pc) / 100.0, 2) AS weighted_median_price
        |FROM blocks JOIN tot ON blocks.l_returnflag = tot.l_returnflag
        |WHERE 2 * cumw >= totw
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical lower-order-stat deciles on the µ grid
    "q_quantile_align" ->
      """WITH ev AS (
        |  SELECT event_type, event_id,
        |    CAST(FLOOR(value * 1000000) AS BIGINT) AS v_u
        |  FROM events),
        |qs AS (SELECT unnest(generate_series(1, 9)) AS q),
        |g AS (
        |  SELECT event_type, v_u,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY v_u, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM ev),
        |gd AS (
        |  SELECT event_type, q, v_u AS vg
        |  FROM g JOIN qs ON g.rn = (g.n - 1) * qs.q // 10 + 1),
        |al AS (
        |  SELECT v_u,
        |    row_number() OVER (ORDER BY v_u, event_id) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM ev),
        |ad AS (
        |  SELECT q, v_u AS vall
        |  FROM al JOIN qs ON al.rn = (al.n - 1) * qs.q // 10 + 1)
        |SELECT event_type, CAST(gd.q AS BIGINT) AS decile,
        |  ROUND(vg / 1e6, 4) AS v_group,
        |  ROUND(vall / 1e6, 4) AS v_global,
        |  ROUND((vg - vall) / 1e6, 4) AS shift
        |FROM gd JOIN ad ON gd.q = ad.q
        |ORDER BY event_type, decile""".stripMargin,

    // identical µ-snapped per-dim sums and pair cosine algebra
    "q_centroid_sim" ->
      """WITH cent AS (
        |  SELECT label, i - 1 AS dim,
        |    CAST(SUM(CAST(ROUND(embedding[i] * 1e6) AS BIGINT))
        |      AS BIGINT) AS su,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM embeddings CROSS JOIN generate_series(1, 64) t(i)
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT label, dim, su / (n * 1e6) AS c FROM cent),
        |norms AS (
        |  SELECT label,
        |    CAST(SUM(CAST(ROUND(c * c * 1e6) AS BIGINT)) AS BIGINT) AS nn
        |  FROM c GROUP BY 1),
        |dots AS (
        |  SELECT a.label AS label_a, b.label AS label_b,
        |    CAST(SUM(CAST(ROUND(a.c * b.c * 1e6) AS BIGINT)) AS BIGINT)
        |      AS dot
        |  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b,
        |  ROUND(dot / sqrt(CAST(na.nn AS DOUBLE) * nb.nn), 6)
        |    AS centroid_cos
        |FROM dots
        |JOIN norms na ON dots.label_a = na.label
        |JOIN norms nb ON dots.label_b = nb.label
        |ORDER BY label_a, label_b""".stripMargin,

    // the SAME A&S 7.1.26 Horner chain as expr/Erf.scala, op for op
    "q_pvalue_adjust" ->
      """WITH g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS k
        |  FROM events GROUP BY 1),
        |tot AS (SELECT SUM(n) AS nn, SUM(k) AS kk FROM g),
        |z AS (
        |  SELECT event_type, n,
        |    (CAST(k AS DOUBLE) / n - CAST(kk AS DOUBLE) / nn)
        |      / sqrt(CAST(kk AS DOUBLE) / nn
        |        * (1.0 - CAST(kk AS DOUBLE) / nn) / n) AS z
        |  FROM g CROSS JOIN tot),
        |e AS (
        |  SELECT event_type, n, z, abs(z) / sqrt(2.0) AS x
        |  FROM z),
        |t AS (
        |  SELECT event_type, n, z, x,
        |    1.0 / (1.0 + 0.3275911 * x) AS t
        |  FROM e),
        |p AS (
        |  SELECT event_type, n, z,
        |    1.0 - (1.0 - ((((1.061405429 * t + -1.453152027) * t
        |      + 1.421413741) * t + -0.284496736) * t + 0.254829592) * t
        |      * exp(-x * x)) AS p
        |  FROM t),
        |r AS (
        |  SELECT event_type, n, z, p,
        |    COUNT(*) OVER () AS m,
        |    row_number() OVER (ORDER BY p, event_type) AS i
        |  FROM p),
        |bh AS (
        |  SELECT event_type, n, z, p, m,
        |    least(1.0, MIN(p * m / i) OVER (
        |      ORDER BY p DESC, event_type DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS p_bh
        |  FROM r)
        |SELECT event_type, n, ROUND(z, 4) AS z, ROUND(p, 5) AS p_raw,
        |  ROUND(least(1.0, p * m), 5) AS p_bonf, ROUND(p_bh, 5) AS p_bh
        |FROM bh ORDER BY event_type""".stripMargin,

    // identical τ=0.8 graph and 4 unrolled synchronous LPA rounds
    "q_label_prop" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id, i * 1.0 / (sa.n + sb.n - i) AS j
        |    FROM inter
        |    JOIN sz sa ON inter.a_id = sa.doc_id
        |    JOIN sz sb ON inter.b_id = sb.doc_id)
        |  WHERE j >= 0.8),
        |sym AS MATERIALIZED (
        |  SELECT a_id AS src, b_id AS dst FROM e
        |  UNION ALL SELECT b_id, a_id FROM e),
        |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
        |c1 AS (SELECT sym.dst AS node, l.lbl, COUNT(*) AS c
        |  FROM sym JOIN l0 l ON sym.src = l.node GROUP BY 1, 2),
        |l1 AS MATERIALIZED (SELECT node, lbl FROM (
        |  SELECT node, lbl, row_number() OVER (PARTITION BY node
        |    ORDER BY c DESC, lbl) AS rn FROM c1) WHERE rn = 1),
        |c2 AS (SELECT sym.dst AS node, l.lbl, COUNT(*) AS c
        |  FROM sym JOIN l1 l ON sym.src = l.node GROUP BY 1, 2),
        |l2 AS MATERIALIZED (SELECT node, lbl FROM (
        |  SELECT node, lbl, row_number() OVER (PARTITION BY node
        |    ORDER BY c DESC, lbl) AS rn FROM c2) WHERE rn = 1),
        |c3 AS (SELECT sym.dst AS node, l.lbl, COUNT(*) AS c
        |  FROM sym JOIN l2 l ON sym.src = l.node GROUP BY 1, 2),
        |l3 AS MATERIALIZED (SELECT node, lbl FROM (
        |  SELECT node, lbl, row_number() OVER (PARTITION BY node
        |    ORDER BY c DESC, lbl) AS rn FROM c3) WHERE rn = 1),
        |c4 AS (SELECT sym.dst AS node, l.lbl, COUNT(*) AS c
        |  FROM sym JOIN l3 l ON sym.src = l.node GROUP BY 1, 2),
        |l4 AS (SELECT node, lbl FROM (
        |  SELECT node, lbl, row_number() OVER (PARTITION BY node
        |    ORDER BY c DESC, lbl) AS rn FROM c4) WHERE rn = 1)
        |SELECT node AS doc_id, lbl AS community
        |FROM l4 ORDER BY doc_id""".stripMargin,

    // identical order-window trim bounds and exact centi sums
    "q_trimmed_mean" ->
      """WITH ev AS (
        |  SELECT event_type, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v
        |  FROM events),
        |rn AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY v, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM ev),
        |kept AS (
        |  SELECT event_type, v, n FROM rn
        |  WHERE rn > n // 10 AND rn <= n - n // 10)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*) / 100.0, 4)
        |    AS trimmed_mean
        |FROM kept GROUP BY 1 ORDER BY event_type""".stripMargin,

    // identical closed-form SES weights and µ-snapped terms
    "q_ses_forecast" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
        |      // COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) AS i,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM daily),
        |wt AS (
        |  SELECT event_type, y, i, n,
        |    CASE WHEN i = 1
        |      THEN 0.3 * pow(0.7, n - i) + pow(0.7, n)
        |      ELSE 0.3 * pow(0.7, n - i) END AS wgt
        |  FROM idx),
        |t AS (
        |  SELECT event_type, n, i, y,
        |    CAST(ROUND(wgt * y * 1e3) AS BIGINT) AS t_u
        |  FROM wt)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
        |  ROUND(MAX(CASE WHEN i = n THEN y END) / 1e3, 4) AS last_actual,
        |  ROUND(SUM(t_u) / 1e6, 4) AS ses_forecast
        |FROM t GROUP BY 1 ORDER BY event_type""".stripMargin
  )
}
