package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Round-10 wave 11 (SURVEY.md §2 B.10b): the second nonparametric /
  * robust two-sample family over the daily milli-mean grid — Lepage
  * location-scale test, Kuiper uniformity, the paired sign test,
  * Welch's heteroscedastic ANOVA, Yuen's trimmed-means t, and the
  * relative-risk 2x2 with Katz CI + E-value.
  *
  * House discipline: pooled ranks ride the doubled-midrank integer
  * grid (r2 = 2·rank + ties − 1, the q_ansari_bradley precedent);
  * per-group moments are exact long sums over the bounded day grid;
  * every statistic performs its double chain once per emitted row,
  * spelled identically in the oracle. All grids here are |types| or
  * |types|²/2 rows after one partial aggregation over events — at
  * 100 TB the heavy pass is the map-side-combinable DailyGrid.mean
  * rollup.
  */
object StatsR10j {

  import DailyGrid.wp

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Lepage (1971) location-scale test per type pair: D = z_W² +
    // z_A² — the Wilcoxon rank-sum z and the Ansari-Bradley z on the
    // SAME pooled doubled-midrank grid, no-ties classical moments
    // (even/odd N branches spelled as CASE). Detects a shift in
    // either location or spread with one statistic.
    "q_lepage" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d).select(col("event_type"), col("d"), col("y"))
      val pairs = dm.select(col("event_type").as("t1")).distinct()
        .join(dm.select(col("event_type").as("t2")).distinct(),
          col("t1") < col("t2"))
      val pooled = pairs.join(dm, col("event_type") === col("t1")
        || col("event_type") === col("t2"))
      val wpair = Window.partitionBy("t1", "t2")
      val scored = pooled
        .withColumn("r2", rank().over(wpair.orderBy("y")).cast("long") * 2
          + count(lit(1)).over(Window.partitionBy("t1", "t2", "y")) - 1)
        .withColumn("nn", count(lit(1)).over(wpair))
        .withColumn("s2", least(col("r2"),
          (col("nn") + 1) * 2 - col("r2")))
      scored.groupBy("t1", "t2")
        .agg(max("nn").as("nn"),
          sum(when(col("event_type") === col("t1"), 1L).otherwise(0L))
            .as("n1"),
          sum(when(col("event_type") === col("t2"), 1L).otherwise(0L))
            .as("n2"),
          sum(when(col("event_type") === col("t1"), col("r2"))
            .otherwise(0L)).as("w2"),
          sum(when(col("event_type") === col("t1"), col("s2"))
            .otherwise(0L)).as("ab2"))
        .withColumn("zw", (col("w2") - col("n1") * (col("nn") + 1))
          / sqrt(col("n1").cast("double") * col("n2")
            * (col("nn") + 1) / 3.0))
        .withColumn("za", (col("ab2") / 2.0
          - when(col("nn") % 2 === 0,
              col("n1") * (col("nn") + 2) / 4.0)
            .otherwise(col("n1") * (col("nn") + 1)
              * (col("nn") + 1) / (col("nn") * 4.0)))
          / sqrt(when(col("nn") % 2 === 0,
              col("n1") * col("n2") * (col("nn") + 2) * (col("nn") - 2)
                / ((col("nn") - 1) * 48.0))
            .otherwise(col("n1") * col("n2") * (col("nn") + 1)
              * (col("nn") * col("nn") + 3)
              / (col("nn") * col("nn") * 48.0))))
        .select(col("t1"), col("t2"), col("n1"), col("n2"),
          round(col("zw"), 4).as("z_wilcoxon"),
          round(col("za"), 4).as("z_ansari"),
          round(col("zw") * col("zw") + col("za") * col("za"), 4)
            .as("d_lepage"))
        .orderBy("t1", "t2")
    }),

    // Kuiper uniformity test on time-of-day (the q_ks_uniform grid):
    // V = D+ + D− — rotation-invariant, so it sees concentration at
    // midnight that KS misses. Both extremes from exact integer
    // cross-products; Stephens' small-sample factor at the end.
    "q_kuiper" -> ((s, d) => {
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
        .withColumn("v", (col("dp_c") + col("dm_c")).cast("double")
          / (col("n").cast("double") * lit(dayUs.toDouble)))
        .select(col("event_type"), col("n").as("n_events"),
          round(col("v"), 6).as("v_stat"),
          round((sqrt(col("n").cast("double")) + lit(0.155)
            + lit(0.24) / sqrt(col("n").cast("double"))) * col("v"), 4)
            .as("kuiper_stat"))
        .orderBy("event_type")
    }),

    // Paired sign test per type pair: days where t1's milli mean
    // exceeds t2's vs the reverse (ties dropped), z = (2·pos − n)/√n.
    // Exact long comparisons; one double chain per pair row.
    "q_sign_test" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d).select(col("event_type"), col("d"), col("y"))
      dm.select(col("event_type").as("t1"), col("d"),
          col("y").as("y1"))
        .join(dm.select(col("event_type").as("t2"), col("d"),
          col("y").as("y2")), "d")
        .filter(col("t1") < col("t2") && col("y1") =!= col("y2"))
        .groupBy("t1", "t2")
        .agg(count(lit(1)).as("n_eff"),
          sum(when(col("y1") > col("y2"), 1L).otherwise(0L)).as("n_pos"))
        .select(col("t1"), col("t2"), col("n_eff"), col("n_pos"),
          round((col("n_pos") * 2 - col("n_eff"))
            / sqrt(col("n_eff").cast("double")), 4).as("z"))
        .orderBy("t1", "t2")
    }),

    // Welch's heteroscedastic ANOVA across the types on daily milli
    // means: w_j = n_j/s_j² weights, W* = Σw(x̄−x̄w)²/(k−1) /
    // (1 + 2(k−2)/(k²−1)·Λ), df2 = (k²−1)/(3Λ) — the unequal-variance
    // answer q_anova's pooled MS assumes away. Per-group moments are
    // exact long sums; the k-row grid assembles in one second pass.
    "q_welch_anova" -> ((s, d) => {
      val g = DailyGrid.mean(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("y").as("m"),
          sum(col("y") * col("y")).as("ss"))
        .filter(col("n") >= 2)
        .withColumn("s2", (col("n").cast("double") * col("ss")
          - col("m").cast("double") * col("m"))
          / col("n") / (col("n") - 1))
        .withColumn("wj", col("n") / col("s2"))
        .withColumn("xb", col("m").cast("double") / col("n"))
        .localCheckpoint(eager = true) // k-row grid, 2 legs
      val tot = g.agg(count(lit(1)).as("k"), sum("wj").as("sw"),
        sum(col("wj") * col("xb")).as("swx"))
      g.crossJoin(broadcast(tot))
        .withColumn("xw", col("swx") / col("sw"))
        .agg(max("k").as("k"),
          sum(col("wj") * (col("xb") - col("xw"))
            * (col("xb") - col("xw"))).as("a_num"),
          sum((lit(1.0) - col("wj") / col("sw"))
            * (lit(1.0) - col("wj") / col("sw"))
            / (col("n") - 1)).as("lam"))
        .select(col("k").as("n_groups"),
          round((col("a_num") / (col("k") - 1))
            / (lit(1.0) + lit(2.0) * (col("k") - 2)
              / (col("k") * col("k") - 1) * col("lam")), 4)
            .as("w_stat"),
          (col("k") - 1).as("df1"),
          round((col("k") * col("k") - 1) / (lit(3.0) * col("lam")), 2)
            .as("df2"))
    }),

    // Yuen's trimmed-means t per type pair: 20% trim on the integer
    // grid (g = n div 5), trimmed means from exact in-range sums,
    // winsorized variances from exact clamped sums, Welch-style df.
    // The robust two-sample t that survives the heavy tails the
    // plain t-test's means absorb.
    "q_yuen_t" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("y", "d")
      val rows = DailyGrid.mean(s, d)
        .select(col("event_type"), col("d"), col("y"))
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("g", expr("n div 5"))
        .localCheckpoint(eager = true) // grid + boundary legs
      val bounds = rows.groupBy("event_type")
        .agg(max("n").as("n"), max("g").as("g"),
          max(when(col("i") === col("g") + 1, col("y"))).as("lo"),
          max(when(col("i") === col("n") - col("g"), col("y"))).as("hi"),
          sum(when(col("i") > col("g")
            && col("i") <= col("n") - col("g"), col("y"))
            .otherwise(0L)).as("st"))
        .filter(col("n") - col("g") * 2 >= 2)
      val win = rows.join(broadcast(bounds
          .select(col("event_type"), col("lo"), col("hi"))), "event_type")
        .withColumn("wy", least(greatest(col("y"), col("lo")), col("hi")))
        .groupBy("event_type")
        .agg(sum("wy").as("sw"), sum(col("wy") * col("wy")).as("sw2"))
      val perType = bounds.join(win, "event_type")
        .withColumn("h", col("n") - col("g") * 2)
        .withColumn("tm", col("st").cast("double") / col("h"))
        .withColumn("vw", (col("n").cast("double") * col("sw2")
          - col("sw").cast("double") * col("sw"))
          / col("n") / (col("n") - 1))
        .withColumn("dj", (col("n") - 1) * col("vw")
          / (col("h").cast("double") * (col("h") - 1)))
        .select(col("event_type"), col("h"), col("tm"), col("dj"))
        .localCheckpoint(eager = true) // pair legs
      perType.select(col("event_type").as("t1"), col("h").as("h1"),
          col("tm").as("tm1"), col("dj").as("d1"))
        .join(perType.select(col("event_type").as("t2"),
          col("h").as("h2"), col("tm").as("tm2"), col("dj").as("d2")),
          col("t1") < col("t2"))
        .select(col("t1"), col("t2"), col("h1"), col("h2"),
          round((col("tm1") - col("tm2")) / 1e3, 6).as("trim_diff"),
          round((col("tm1") - col("tm2"))
            / sqrt(col("d1") + col("d2")), 4).as("t_stat"),
          round((col("d1") + col("d2")) * (col("d1") + col("d2"))
            / (col("d1") * col("d1") / (col("h1") - 1)
              + col("d2") * col("d2") / (col("h2") - 1)), 2).as("df"))
        .orderBy("t1", "t2")
    }),

    // Relative risk per event type on the q_odds_ratio 2x2 (exposure
    // = value > 100, outcome = props.k > 50): RR with the Katz log
    // CI, absolute risk difference, and the VanderWeele E-value —
    // the causal-robustness floor an observational readout needs.
    "q_relative_risk" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          (col("value") > 100).as("ra"),
          (get_json_object(col("props"), "$.k").cast("int") > 50).as("rb"))
        .groupBy("event_type")
        .agg(sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("a"),
          sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("dd"))
        .withColumn("p1", col("a") / (col("a") + col("b")).cast("double"))
        .withColumn("p0", col("c") / (col("c") + col("dd")).cast("double"))
        .withColumn("rr", col("p1") / col("p0"))
        .withColumn("se", sqrt(lit(1.0) / col("a")
          - lit(1.0) / (col("a") + col("b"))
          + lit(1.0) / col("c") - lit(1.0) / (col("c") + col("dd"))))
        .withColumn("rrs", greatest(col("rr"), lit(1.0) / col("rr")))
        .select(col("event_type"), col("a"), col("b"), col("c"),
          col("dd").as("d"),
          round(col("rr"), 4).as("rel_risk"),
          round(exp(log(col("rr")) - lit(1.96) * col("se")), 4)
            .as("ci_low"),
          round(exp(log(col("rr")) + lit(1.96) * col("se")), 4)
            .as("ci_high"),
          round(col("p1") - col("p0"), 6).as("risk_diff"),
          round(col("rrs") + sqrt(col("rrs") * (col("rrs") - lit(1.0))), 4)
            .as("e_value"))
        .orderBy("event_type"))
  )

  /** Daily milli-mean grid (the StatsR9 dm block). */
  private val dmCte: String =
    """dm AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) // COUNT(*)
      |      AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_lepage" ->
      s"""WITH $dmCte,
        |pairs AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2
        |  FROM (SELECT DISTINCT event_type FROM dm) a,
        |       (SELECT DISTINCT event_type FROM dm) b
        |  WHERE a.event_type < b.event_type),
        |pooled AS (
        |  SELECT p.t1, p.t2, dm.event_type, dm.y
        |  FROM pairs p JOIN dm
        |    ON dm.event_type = p.t1 OR dm.event_type = p.t2),
        |scored AS (
        |  SELECT t1, t2, event_type,
        |    CAST(rank() OVER (PARTITION BY t1, t2 ORDER BY y)
        |      AS BIGINT) * 2
        |      + COUNT(*) OVER (PARTITION BY t1, t2, y) - 1 AS r2,
        |    COUNT(*) OVER (PARTITION BY t1, t2) AS nn
        |  FROM pooled),
        |g AS (
        |  SELECT t1, t2, MAX(nn) AS nn,
        |    CAST(SUM(CASE WHEN event_type = t1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN event_type = t2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN event_type = t1 THEN r2 ELSE 0 END)
        |      AS BIGINT) AS w2,
        |    CAST(SUM(CASE WHEN event_type = t1 THEN
        |      LEAST(r2, (nn + 1) * 2 - r2) ELSE 0 END) AS BIGINT) AS ab2
        |  FROM scored GROUP BY 1, 2),
        |z AS (
        |  SELECT t1, t2, n1, n2,
        |    (w2 - n1 * (nn + 1))
        |      / sqrt(CAST(n1 AS DOUBLE) * n2 * (nn + 1) / 3.0) AS zw,
        |    (ab2 / 2.0 - CASE WHEN nn % 2 = 0
        |        THEN n1 * (nn + 2) / 4.0
        |        ELSE n1 * (nn + 1) * (nn + 1) / (nn * 4.0) END)
        |    / sqrt(CASE WHEN nn % 2 = 0
        |        THEN n1 * n2 * (nn + 2) * (nn - 2) / ((nn - 1) * 48.0)
        |        ELSE n1 * n2 * (nn + 1) * (nn * nn + 3)
        |          / (nn * nn * 48.0) END) AS za
        |  FROM g)
        |SELECT t1, t2, n1, n2,
        |  ROUND(zw, 4) AS z_wilcoxon, ROUND(za, 4) AS z_ansari,
        |  ROUND(zw * zw + za * za, 4) AS d_lepage
        |FROM z ORDER BY t1, t2""".stripMargin,

    "q_kuiper" ->
      """WITH ev AS (
        |  SELECT event_type, event_id,
        |    epoch_us(ts) % 86400000000 AS us
        |  FROM events),
        |r AS (
        |  SELECT event_type, us,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY us, event_id) AS BIGINT) AS i,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM ev),
        |g AS (
        |  SELECT event_type, MAX(n) AS n,
        |    MAX(i * 86400000000 - n * us) AS dp_c,
        |    MAX(n * us - (i - 1) * 86400000000) AS dm_c
        |  FROM r GROUP BY 1),
        |v AS (
        |  SELECT event_type, n,
        |    CAST(dp_c + dm_c AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * 86400000000.0) AS v
        |  FROM g)
        |SELECT event_type, n AS n_events,
        |  ROUND(v, 6) AS v_stat,
        |  ROUND((sqrt(CAST(n AS DOUBLE)) + 0.155
        |    + 0.24 / sqrt(CAST(n AS DOUBLE))) * v, 4) AS kuiper_stat
        |FROM v ORDER BY event_type""".stripMargin,

    "q_sign_test" ->
      s"""WITH $dmCte,
        |j AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2,
        |    a.y AS y1, b.y AS y2
        |  FROM dm a JOIN dm b ON a.d = b.d
        |  WHERE a.event_type < b.event_type AND a.y <> b.y),
        |g AS (
        |  SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS n_eff,
        |    CAST(SUM(CASE WHEN y1 > y2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pos
        |  FROM j GROUP BY 1, 2)
        |SELECT t1, t2, n_eff, n_pos,
        |  ROUND((n_pos * 2 - n_eff) / sqrt(CAST(n_eff AS DOUBLE)), 4)
        |    AS z
        |FROM g ORDER BY t1, t2""".stripMargin,

    "q_welch_anova" ->
      s"""WITH $dmCte,
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS m,
        |    CAST(SUM(y * y) AS BIGINT) AS ss
        |  FROM dm GROUP BY 1 HAVING COUNT(*) >= 2),
        |w AS (
        |  SELECT event_type, n,
        |    n / ((CAST(n AS DOUBLE) * ss - CAST(m AS DOUBLE) * m)
        |      / n / (n - 1)) AS wj,
        |    CAST(m AS DOUBLE) / n AS xb
        |  FROM g),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(wj) AS sw,
        |    SUM(wj * xb) AS swx
        |  FROM w),
        |f AS (
        |  SELECT MAX(k) AS k,
        |    SUM(wj * (xb - swx / sw) * (xb - swx / sw)) AS a_num,
        |    SUM((1.0 - wj / sw) * (1.0 - wj / sw) / (n - 1)) AS lam
        |  FROM w, tot)
        |SELECT k AS n_groups,
        |  ROUND((a_num / (k - 1))
        |    / (1.0 + 2.0 * (k - 2) / (k * k - 1) * lam), 4) AS w_stat,
        |  k - 1 AS df1,
        |  ROUND((k * k - 1) / (3.0 * lam), 2) AS df2
        |FROM f""".stripMargin,

    "q_yuen_t" ->
      s"""WITH $dmCte,
        |r AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY y, d) AS BIGINT) AS i,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM dm),
        |r2 AS (SELECT event_type, y, i, n, n // 5 AS g FROM r),
        |b AS (
        |  SELECT event_type, MAX(n) AS n, MAX(g) AS g,
        |    MAX(CASE WHEN i = g + 1 THEN y END) AS lo,
        |    MAX(CASE WHEN i = n - g THEN y END) AS hi,
        |    CAST(SUM(CASE WHEN i > g AND i <= n - g THEN y ELSE 0 END)
        |      AS BIGINT) AS st
        |  FROM r2 GROUP BY 1 HAVING MAX(n) - MAX(g) * 2 >= 2),
        |wv AS (
        |  SELECT r2.event_type,
        |    CAST(SUM(LEAST(GREATEST(y, lo), hi)) AS BIGINT) AS sw,
        |    CAST(SUM(LEAST(GREATEST(y, lo), hi)
        |      * LEAST(GREATEST(y, lo), hi)) AS BIGINT) AS sw2
        |  FROM r2 JOIN b ON r2.event_type = b.event_type
        |  GROUP BY 1),
        |pt AS (
        |  SELECT b.event_type, n - g * 2 AS h,
        |    CAST(st AS DOUBLE) / (n - g * 2) AS tm,
        |    (n - 1) * ((CAST(n AS DOUBLE) * sw2
        |      - CAST(sw AS DOUBLE) * sw) / n / (n - 1))
        |      / (CAST(n - g * 2 AS DOUBLE) * (n - g * 2 - 1)) AS dj
        |  FROM b JOIN wv ON b.event_type = wv.event_type)
        |SELECT a.event_type AS t1, b.event_type AS t2,
        |  a.h AS h1, b.h AS h2,
        |  ROUND((a.tm - b.tm) / 1e3, 6) AS trim_diff,
        |  ROUND((a.tm - b.tm) / sqrt(a.dj + b.dj), 4) AS t_stat,
        |  ROUND((a.dj + b.dj) * (a.dj + b.dj)
        |    / (a.dj * a.dj / (a.h - 1) + b.dj * b.dj / (b.h - 1)), 2)
        |    AS df
        |FROM pt a JOIN pt b ON a.event_type < b.event_type
        |ORDER BY t1, t2""".stripMargin,

    "q_relative_risk" ->
      """WITH t AS (
        |  SELECT event_type, value > 100 AS ra,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
        |      AS rb
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(SUM(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS dd
        |  FROM t GROUP BY 1),
        |f AS (
        |  SELECT event_type, a, b, c, dd,
        |    a / CAST(a + b AS DOUBLE) AS p1,
        |    c / CAST(c + dd AS DOUBLE) AS p0,
        |    sqrt(1.0 / a - 1.0 / (a + b) + 1.0 / c - 1.0 / (c + dd))
        |      AS se
        |  FROM g),
        |f2 AS (
        |  SELECT event_type, a, b, c, dd, p1, p0, se, p1 / p0 AS rr,
        |    GREATEST(p1 / p0, 1.0 / (p1 / p0)) AS rrs
        |  FROM f)
        |SELECT event_type, a, b, c, dd AS d,
        |  ROUND(rr, 4) AS rel_risk,
        |  ROUND(exp(ln(rr) - 1.96 * se), 4) AS ci_low,
        |  ROUND(exp(ln(rr) + 1.96 * se), 4) AS ci_high,
        |  ROUND(p1 - p0, 6) AS risk_diff,
        |  ROUND(rrs + sqrt(rrs * (rrs - 1.0)), 4) AS e_value
        |FROM f2 ORDER BY event_type""".stripMargin
  )
}
