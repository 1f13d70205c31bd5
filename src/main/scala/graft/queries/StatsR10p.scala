package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 wave 17 (SURVEY.md §2 B.10b): equivalence testing (TOST),
  * Hedges' g effect size, the order-statistic median CI, and the
  * Rousseeuw Sn/Qn robust scale estimators — all on the daily
  * milli-mean grid.
  *
  * House discipline: group moments are exact long sums; pairwise
  * |differences| are exact longs whose order statistics are
  * value-at-index selections; each emitted statistic runs one double
  * chain spelled identically in the oracle.
  */
object StatsR10p {

  import DailyGrid.wp

  /** Phi^-1(0.975), shared with oracles by interpolation. */
  private val z975 = 1.959963984540054

  /** Per-type exact moments of daily milli means (shared CTE). */
  private def mom(s: SparkSession, d: String): DataFrame =
    DailyGrid.mean(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("y").as("m"),
        sum(col("y") * col("y")).as("ss"))
      .filter(col("n") >= 2)
      .withColumn("s2", (col("n").cast("double") * col("ss")
        - col("m").cast("double") * col("m")) / col("n") / (col("n") - 1))
      .withColumn("xb", col("m").cast("double") / col("n"))

  private val momCte: String =
    s"""${DailyGrid.dmCte},
      |mom AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    (CAST(COUNT(*) AS DOUBLE) * SUM(y * y)
      |      - CAST(SUM(y) AS DOUBLE) * SUM(y))
      |      / COUNT(*) / (COUNT(*) - 1) AS s2,
      |    CAST(SUM(y) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS xb
      |  FROM dm GROUP BY 1 HAVING COUNT(*) >= 2)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // TOST equivalence test per type pair (Welch form): margin δ =
    // 0.2·pooled sd (stated), t_lower = (diff + δ)/se, t_upper =
    // (δ − diff)/se, Welch df; equivalent when BOTH one-sided t's
    // clear 1.645 (the z approximation, stated). The question the
    // plain t-test cannot answer: "are these the SAME?"
    "q_tost_equivalence" -> ((s, d) => {
      val g = mom(s, d).localCheckpoint(eager = true) // two pair legs
      g.select(col("event_type").as("t1"), col("n").as("n1"),
          col("s2").as("v1"), col("xb").as("x1"))
        .join(g.select(col("event_type").as("t2"), col("n").as("n2"),
          col("s2").as("v2"), col("xb").as("x2")),
          col("t1") < col("t2"))
        .withColumn("se", sqrt(col("v1") / col("n1")
          + col("v2") / col("n2")))
        .withColumn("sp", sqrt(((col("n1") - 1) * col("v1")
          + (col("n2") - 1) * col("v2"))
          / (col("n1") + col("n2") - 2)))
        .withColumn("delta", lit(0.2) * col("sp"))
        .withColumn("diff", col("x1") - col("x2"))
        .withColumn("tl", (col("diff") + col("delta")) / col("se"))
        .withColumn("tu", (col("delta") - col("diff")) / col("se"))
        .select(col("t1"), col("t2"), col("n1"), col("n2"),
          round(col("diff") / 1e3, 4).as("mean_diff"),
          round(col("delta") / 1e3, 4).as("margin"),
          round(col("tl"), 4).as("t_lower"),
          round(col("tu"), 4).as("t_upper"),
          when(col("tl") > 1.645 && col("tu") > 1.645, 1L)
            .otherwise(0L).as("equivalent"))
        .orderBy("t1", "t2")
    }),

    // Hedges' g per type pair: the small-sample-corrected Cohen's d
    // (J = 1 − 3/(4N−9)) with its sampling variance — the
    // meta-analysis input q_cohens_d's uncorrected d biases upward
    // on small groups.
    "q_hedges_g" -> ((s, d) => {
      val g = mom(s, d).localCheckpoint(eager = true) // two pair legs
      g.select(col("event_type").as("t1"), col("n").as("n1"),
          col("s2").as("v1"), col("xb").as("x1"))
        .join(g.select(col("event_type").as("t2"), col("n").as("n2"),
          col("s2").as("v2"), col("xb").as("x2")),
          col("t1") < col("t2"))
        .withColumn("sp", sqrt(((col("n1") - 1) * col("v1")
          + (col("n2") - 1) * col("v2"))
          / (col("n1") + col("n2") - 2)))
        .withColumn("dd", (col("x1") - col("x2")) / col("sp"))
        .withColumn("j", lit(1.0)
          - lit(3.0) / ((col("n1") + col("n2")) * 4 - 9))
        .withColumn("gg", col("dd") * col("j"))
        .select(col("t1"), col("t2"), col("n1"), col("n2"),
          round(col("dd"), 6).as("cohens_d"),
          round(col("gg"), 6).as("hedges_g"),
          round((col("n1") + col("n2")).cast("double")
            / (col("n1") * col("n2"))
            + col("gg") * col("gg") / ((col("n1") + col("n2")) * 2), 6)
            .as("var_g"))
        .orderBy("t1", "t2")
    }),

    // Distribution-free median CI per type: the binomial
    // order-statistic interval — lower/upper = the y values at ranks
    // floor((n − z√n)/2) and ceil((n + z√n)/2 + 1) (clamped), median
    // = the value-at-index middle. No normality assumed anywhere.
    "q_median_ci" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("y", "d")
      DailyGrid.mean(s, d)
        .select(col("event_type"), col("d"), col("y"))
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("lo_i", greatest(lit(1L),
          floor((col("n") - lit(z975) * sqrt(col("n").cast("double")))
            / 2).cast("long")))
        .withColumn("hi_i", least(col("n"),
          ceil((col("n") + lit(z975) * sqrt(col("n").cast("double")))
            / 2 + 1).cast("long")))
        .groupBy("event_type")
        .agg(max("n").as("n_days"),
          round(avg(when(expr("(n % 2 = 1 AND i = (n + 1) div 2)" +
            " OR (n % 2 = 0 AND (i = n div 2 OR i = n div 2 + 1))"),
            col("y"))) / 1e3, 4).as("median"),
          round(max(when(col("i") === col("lo_i"), col("y"))) / 1e3, 4)
            .as("ci_low"),
          round(max(when(col("i") === col("hi_i"), col("y"))) / 1e3, 4)
            .as("ci_high"))
        .orderBy("event_type")
    }),

    // Rousseeuw Sn and Qn robust scale per type: Sn = 1.1926 ·
    // med_i(med_{j≠i}|y_i − y_j|), Qn = 2.2219 · the k-th order
    // statistic of the C(n,2) pairwise |diffs| (k = C(h,2),
    // h = n div 2 + 1). |diffs| are exact longs; both selections are
    // value-at-index; the classical sd rides alongside for contrast.
    "q_sn_qn_scale" -> ((s, d) => {
      val pts = DailyGrid.mean(s, d)
        .select(col("event_type"), col("d"), col("y"), col("i"))
      val diffs = pts.select(col("event_type"), col("i").as("i1"),
          col("y").as("y1"))
        .join(pts.select(col("event_type"), col("i").as("i2"),
          col("y").as("y2")), "event_type")
        .filter(col("i1") =!= col("i2"))
        .select(col("event_type"), col("i1"), col("i2"),
          abs(col("y1") - col("y2")).as("ad"))
        .localCheckpoint(eager = true) // sn leg + qn leg
      // Sn: inner medians per i1, outer median per type
      val wIn = Window.partitionBy("event_type", "i1").orderBy("ad")
      val inner = diffs
        .withColumn("r", row_number().over(wIn).cast("long"))
        .withColumn("m", count(lit(1)).over(
          Window.partitionBy("event_type", "i1")))
        .groupBy("event_type", "i1")
        .agg(avg(when(expr("(m % 2 = 1 AND r = (m + 1) div 2)" +
          " OR (m % 2 = 0 AND (r = m div 2 OR r = m div 2 + 1))"),
          col("ad"))).as("md"))
      val wOut = Window.partitionBy("event_type").orderBy("md")
      val sn = inner
        .withColumn("r", row_number().over(wOut).cast("long"))
        .withColumn("m", count(lit(1)).over(wp))
        .groupBy("event_type")
        .agg(max("m").as("n_pts"),
          avg(when(expr("(m % 2 = 1 AND r = (m + 1) div 2)" +
            " OR (m % 2 = 0 AND (r = m div 2 OR r = m div 2 + 1))"),
            col("md"))).as("sn0"))
      // Qn: the k-th smallest of the i1<i2 half
      val wQ = Window.partitionBy("event_type").orderBy("ad", "i1", "i2")
      val qn = diffs.filter(col("i1") < col("i2"))
        .withColumn("r", row_number().over(wQ).cast("long"))
        .join(broadcast(sn.select(col("event_type"),
          col("n_pts"))), "event_type")
        .withColumn("h", expr("n_pts div 2 + 1"))
        .filter(col("r") === expr("h * (h - 1) div 2"))
        .select(col("event_type"), col("ad").as("qn0"))
      val sd = mom(s, d).select(col("event_type"),
        sqrt(col("s2")).as("sd0"))
      sn.join(qn, "event_type").join(sd, "event_type")
        .select(col("event_type"), col("n_pts").as("n_days"),
          round(lit(1.1926) * col("sn0") / 1e3, 4).as("sn"),
          round(lit(2.2219) * col("qn0") / 1e3, 4).as("qn"),
          round(col("sd0") / 1e3, 4).as("classical_sd"))
        .orderBy("event_type")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_tost_equivalence" ->
      s"""WITH $momCte,
        |p AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2,
        |    a.n AS n1, b.n AS n2,
        |    sqrt(a.s2 / a.n + b.s2 / b.n) AS se,
        |    sqrt(((a.n - 1) * a.s2 + (b.n - 1) * b.s2)
        |      / (a.n + b.n - 2)) AS sp,
        |    a.xb - b.xb AS diff
        |  FROM mom a JOIN mom b ON a.event_type < b.event_type),
        |f AS (
        |  SELECT t1, t2, n1, n2, diff, 0.2 * sp AS delta,
        |    (diff + 0.2 * sp) / se AS tl,
        |    (0.2 * sp - diff) / se AS tu
        |  FROM p)
        |SELECT t1, t2, n1, n2,
        |  ROUND(diff / 1e3, 4) AS mean_diff,
        |  ROUND(delta / 1e3, 4) AS margin,
        |  ROUND(tl, 4) AS t_lower, ROUND(tu, 4) AS t_upper,
        |  CAST(CASE WHEN tl > 1.645 AND tu > 1.645 THEN 1 ELSE 0 END
        |    AS BIGINT) AS equivalent
        |FROM f ORDER BY t1, t2""".stripMargin,

    "q_hedges_g" ->
      s"""WITH $momCte,
        |p AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2,
        |    a.n AS n1, b.n AS n2,
        |    sqrt(((a.n - 1) * a.s2 + (b.n - 1) * b.s2)
        |      / (a.n + b.n - 2)) AS sp,
        |    a.xb - b.xb AS diff
        |  FROM mom a JOIN mom b ON a.event_type < b.event_type),
        |f AS (
        |  SELECT t1, t2, n1, n2, diff / sp AS dd,
        |    (diff / sp) * (1.0 - 3.0 / ((n1 + n2) * 4 - 9)) AS gg
        |  FROM p)
        |SELECT t1, t2, n1, n2,
        |  ROUND(dd, 6) AS cohens_d,
        |  ROUND(gg, 6) AS hedges_g,
        |  ROUND(CAST(n1 + n2 AS DOUBLE) / (n1 * n2)
        |    + gg * gg / ((n1 + n2) * 2), 6) AS var_g
        |FROM f ORDER BY t1, t2""".stripMargin,

    "q_median_ci" ->
      s"""WITH ${DailyGrid.dmCte},
        |r AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY y, d) AS BIGINT) AS i,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM dm),
        |r2 AS (
        |  SELECT event_type, y, i, n,
        |    GREATEST(1, CAST(FLOOR((n - $z975
        |      * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT)) AS lo_i,
        |    LEAST(n, CAST(CEIL((n + $z975
        |      * sqrt(CAST(n AS DOUBLE))) / 2 + 1) AS BIGINT)) AS hi_i
        |  FROM r)
        |SELECT event_type, MAX(n) AS n_days,
        |  ROUND(AVG(CASE WHEN (n % 2 = 1 AND i = (n + 1) // 2)
        |    OR (n % 2 = 0 AND (i = n // 2 OR i = n // 2 + 1))
        |    THEN y END) / 1e3, 4) AS median,
        |  ROUND(MAX(CASE WHEN i = lo_i THEN y END) / 1e3, 4) AS ci_low,
        |  ROUND(MAX(CASE WHEN i = hi_i THEN y END) / 1e3, 4) AS ci_high
        |FROM r2 GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_sn_qn_scale" ->
      s"""WITH $momCte,
        |pts AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) AS i
        |  FROM dm),
        |diffs AS (
        |  SELECT a.event_type, a.i AS i1, b.i AS i2,
        |    abs(a.y - b.y) AS ad
        |  FROM pts a JOIN pts b
        |    ON a.event_type = b.event_type AND a.i <> b.i),
        |r1 AS (
        |  SELECT event_type, i1, ad,
        |    CAST(row_number() OVER (PARTITION BY event_type, i1
        |      ORDER BY ad) AS BIGINT) AS r,
        |    COUNT(*) OVER (PARTITION BY event_type, i1) AS m
        |  FROM diffs),
        |inner_m AS (
        |  SELECT event_type, i1,
        |    AVG(CASE WHEN (m % 2 = 1 AND r = (m + 1) // 2)
        |      OR (m % 2 = 0 AND (r = m // 2 OR r = m // 2 + 1))
        |      THEN ad END) AS md
        |  FROM r1 GROUP BY 1, 2),
        |r2 AS (
        |  SELECT event_type, md,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY md)
        |      AS BIGINT) AS r,
        |    COUNT(*) OVER (PARTITION BY event_type) AS m
        |  FROM inner_m),
        |sn AS (
        |  SELECT event_type, MAX(m) AS n_pts,
        |    AVG(CASE WHEN (m % 2 = 1 AND r = (m + 1) // 2)
        |      OR (m % 2 = 0 AND (r = m // 2 OR r = m // 2 + 1))
        |      THEN md END) AS sn0
        |  FROM r2 GROUP BY 1),
        |qr AS (
        |  SELECT d.event_type, d.ad,
        |    CAST(row_number() OVER (PARTITION BY d.event_type
        |      ORDER BY d.ad, d.i1, d.i2) AS BIGINT) AS r,
        |    sn.n_pts // 2 + 1 AS h
        |  FROM diffs d JOIN sn ON d.event_type = sn.event_type
        |  WHERE d.i1 < d.i2),
        |qn AS (
        |  SELECT event_type, ad AS qn0 FROM qr
        |  WHERE r = h * (h - 1) // 2)
        |SELECT sn.event_type, sn.n_pts AS n_days,
        |  ROUND(1.1926 * sn0 / 1e3, 4) AS sn,
        |  ROUND(2.2219 * qn0 / 1e3, 4) AS qn,
        |  ROUND(sqrt(mom.s2) / 1e3, 4) AS classical_sd
        |FROM sn JOIN qn ON sn.event_type = qn.event_type
        |JOIN mom ON sn.event_type = mom.event_type
        |ORDER BY sn.event_type""".stripMargin
  )
}
