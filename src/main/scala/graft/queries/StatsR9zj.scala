package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-9 wave 37 (SURVEY.md §2 B.10b): method-agreement and
  * dependence keys on the click(x)/view(y) daily pair grid — Lin's
  * concordance correlation (one exact cleared ratio), Bland-Altman
  * limits of agreement with an EXACT 625/2401 cross-multiplied
  * outside-count (1.96 = 49/25), Deming regression (λ=1), the
  * pairwise win ratio, empirical upper/lower tail dependence of the
  * rank copula, and Krippendorff's nominal α with the 5 types coding
  * days above/below their own medians.
  *
  * Everything reduces to the bounded day grid first; every count and
  * moment is a long, and each key ends in one double chain.
  */
object StatsR9zj {

  import DailyGrid.wp

  /** (d, x, y): click/view daily milli-means joined by day. */
  private def pairs(s: SparkSession, d: String): DataFrame = {
    val dm = DailyGrid.mean(s, d)
    dm.filter(col("event_type") === "click")
      .select(col("d"), col("y").as("x"))
      .join(dm.filter(col("event_type") === "view")
        .select(col("d"), col("y").as("y")), "d")
  }

  private val pairCte: String =
    """pr AS (
      |  SELECT cx.d, cx.y AS x, vy.y AS y FROM
      |    (SELECT d, y FROM dm WHERE event_type = 'click') cx
      |  JOIN (SELECT d, y FROM dm WHERE event_type = 'view') vy
      |    ON cx.d = vy.d)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Lin's CCC: 2(n·sxy−sx·sy) / ((n·sxx−sx²)+(n·syy−sy²)+(sx−sy)²)
    // — every term an exact long, ONE division.
    "q_lin_ccc" -> ((s, d) => {
      pairs(s, d)
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("den", (col("n") * col("sxx") - col("sx") * col("sx"))
          + (col("n") * col("syy") - col("sy") * col("sy"))
          + (col("sx") - col("sy")) * (col("sx") - col("sy")))
        .filter(col("den") > 0)
        .select(col("n").as("n_days"),
          round(lit(2.0) * (col("n") * col("sxy") - col("sx") * col("sy"))
            / col("den"), 6).as("lin_ccc"))
    }),

    // Bland-Altman: diffs d = x−y; mean, ±1.96·sd limits (sample sd),
    // and the outside count via the exact 625(n−1)(n·d−Σd)² >
    // 2401·n·(nΣd²−(Σd)²) comparison (1.96 = 49/25, stated).
    "q_bland_altman" -> ((s, d) => {
      val df = pairs(s, d).withColumn("dd", col("x") - col("y"))
        .localCheckpoint(eager = true)
      val m = df.agg(count(lit(1)).as("n"), sum("dd").as("sd1"),
        sum(col("dd") * col("dd")).as("sd2"))
      val out = df.crossJoin(broadcast(m))
        .filter(lit(625L) * (col("n") - 1)
          * (col("n") * col("dd") - col("sd1"))
          * (col("n") * col("dd") - col("sd1"))
          > lit(2401L) * col("n")
            * (col("n") * col("sd2") - col("sd1") * col("sd1")))
        .agg(count(lit(1)).as("n_outside"))
      m.crossJoin(out)
        .filter(col("n") > 1
          && col("n") * col("sd2") > col("sd1") * col("sd1"))
        .withColumn("mean", col("sd1").cast("double") / col("n") / 1000)
        .withColumn("sdd", sqrt((col("n") * col("sd2")
          - col("sd1") * col("sd1")).cast("double")
          / (col("n").cast("double") * (col("n") - 1))) / 1000)
        .select(col("n").as("n_days"),
          round(col("mean"), 6).as("mean_diff"),
          round(col("mean") - lit(1.96) * col("sdd"), 6).as("loa_lo"),
          round(col("mean") + lit(1.96) * col("sdd"), 6).as("loa_hi"),
          col("n_outside"))
    }),

    // Deming regression (λ=1): slope = (cyy−cxx+√((cyy−cxx)²+4cxy²))
    // / (2cxy) from cleared long moments, intercept at the means.
    "q_deming" -> ((s, d) => {
      pairs(s, d)
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("cxy", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("cxx", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("cyy", col("n") * col("syy") - col("sy") * col("sy"))
        .filter(col("cxy") =!= 0)
        .withColumn("slope",
          ((col("cyy") - col("cxx")).cast("double")
            + sqrt(pow((col("cyy") - col("cxx")).cast("double"), 2)
              + lit(4.0) * col("cxy") * col("cxy")))
            / (lit(2.0) * col("cxy")))
        .select(col("n").as("n_days"),
          round(col("slope"), 6).as("deming_slope"),
          round((col("sy") - col("slope") * col("sx")) / col("n") / 1000,
            6).as("deming_intercept"))
    }),

    // Pairwise win ratio x vs y (all day pairs, τ=0 stated): WR =
    // wins/losses, and the tie-share-aware p_win = (2w+t)/(2N).
    "q_win_ratio" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d)
      val xs = dm.filter(col("event_type") === "click")
        .select(col("y").as("x"))
      val ys = dm.filter(col("event_type") === "view")
        .select(col("y").as("yy"))
      xs.crossJoin(ys)
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("x") > col("yy"), 1L).otherwise(0L)).as("wins"),
          sum(when(col("x") < col("yy"), 1L).otherwise(0L)).as("losses"),
          sum(when(col("x") === col("yy"), 1L).otherwise(0L)).as("ties"))
        .filter(col("losses") > 0)
        .select(col("n_pairs"), col("wins"), col("losses"), col("ties"),
          round(col("wins").cast("double") / col("losses"), 6)
            .as("win_ratio"),
          round((lit(2L) * col("wins") + col("ties")).cast("double")
            / (lit(2L) * col("n_pairs")), 6).as("p_win"))
    }),

    // Empirical tail dependence of the day-pair rank copula:
    // per-series (value, day) total-order ranks (stated), upper flag
    // rank > n − n DIV 5, lower flag rank ≤ n DIV 5; λ_U =
    // P(x upper | y upper), λ_L symmetric.
    "q_copula_tail_dep" -> ((s, d) => {
      val pr = pairs(s, d)
      // bounded grain: pairs() is the per-day click/view join
      val wx = Window.orderBy(col("x").asc, col("d").asc)
      val wy = Window.orderBy(col("y").asc, col("d").asc)
      val whole = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      pr.withColumn("rx", row_number().over(wx).cast("long"))
        .withColumn("ry", row_number().over(wy).cast("long"))
        .withColumn("n", count(lit(1)).over(whole).cast("long"))
        .withColumn("k", expr("n div 5"))
        .agg(max("n").as("n_days"), max("k").as("k"),
          sum(when(col("ry") > col("n") - col("k")
            && col("rx") > col("n") - col("k"), 1L).otherwise(0L))
            .as("both_up"),
          sum(when(col("ry") <= col("k") && col("rx") <= col("k"), 1L)
            .otherwise(0L)).as("both_lo"))
        .filter(col("k") > 0)
        .select(col("n_days"), col("k").as("tail_k"),
          col("both_up"), col("both_lo"),
          round(col("both_up").cast("double") / col("k"), 6)
            .as("lambda_upper"),
          round(col("both_lo").cast("double") / col("k"), 6)
            .as("lambda_lower"))
    }),

    // Krippendorff nominal α: the 5 types code each day 1{2y > med2}
    // (the doubled-µ median convention); binary α =
    // 1 − (N−1)·Σ_u n1·n0/(m_u−1) / (N1·N0) with constant m_u
    // handled exactly via the per-unit (m_u−1) divisor ×lcm clearing
    // — here m_u = #types present that day (gated > 1).
    "q_krippendorff" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d)
      val wg = Window.partitionBy("event_type").orderBy("y", "d")
      val base = dm
        .withColumn("rg", row_number().over(wg).cast("long"))
        .withColumn("ng", count(lit(1)).over(wp))
      val med2 = base.groupBy("event_type")
        .agg(sum(when(col("rg") === expr("(ng + 1) div 2"), col("y"))
          .otherwise(0L)
          + when(col("rg") === expr("ng div 2 + 1"), col("y"))
            .otherwise(0L)).as("med2"))
      val codes = dm.join(med2, "event_type")
        .select(col("d"),
          when(lit(2L) * col("y") > col("med2"), 1L).otherwise(0L)
            .as("c"))
      val units = codes.groupBy("d")
        .agg(count(lit(1)).as("mu"), sum("c").as("n1"))
        .filter(col("mu") > 1)
        .withColumn("n0", col("mu") - col("n1"))
      // m_u is constant (5) on this grid — Σ n1·n0/(m_u−1) clears to
      // Σ n1·n0 over (m−1); spelled as a per-unit double only if m_u
      // varied, so keep the exact per-unit ratio via ×12 clearing
      // (lcm of possible m_u−1 ∈ {1,2,3,4}).
      units.agg(sum("mu").as("nn"), sum("n1").as("nn1"),
          sum(expr("n1 * n0 * (12 div (mu - 1))")).as("do12"))
        .withColumn("nn0", col("nn") - col("nn1"))
        .filter(col("nn1") > 0 && col("nn0") > 0)
        .select(col("nn").as("n_codes"),
          round(lit(1.0) - (col("nn") - 1).cast("double") * col("do12")
            / (lit(12.0) * col("nn1") * col("nn0")), 6)
            .as("kripp_alpha"))
    })
  )

  val oracle: Map[String, String] = Map(
    // identical one-division CCC
    "q_lin_ccc" ->
      (s"WITH ${DailyGrid.dmCte}, $pairCte," +
      """
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
        |    SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx,
        |    SUM(y * y) AS syy
        |  FROM pr),
        |cl AS (
        |  SELECT n,
        |    (n * sxx - sx * sx) + (n * syy - sy * sy)
        |      + (sx - sy) * (sx - sy) AS den,
        |    n * sxy - sx * sy AS cxy
        |  FROM ag)
        |SELECT n AS n_days,
        |  ROUND(2.0 * cxy / den, 6) AS lin_ccc
        |FROM cl WHERE den > 0""".stripMargin),

    // identical 625/2401 exact outside test
    "q_bland_altman" ->
      (s"WITH ${DailyGrid.dmCte}, $pairCte," +
      """
        |df AS (SELECT d, x - y AS dd FROM pr),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(dd) AS sd1,
        |    SUM(dd * dd) AS sd2
        |  FROM df),
        |o AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_outside
        |  FROM df, m
        |  WHERE 625 * (m.n - 1) * (m.n * df.dd - m.sd1)
        |      * (m.n * df.dd - m.sd1)
        |    > 2401 * m.n * (m.n * m.sd2 - m.sd1 * m.sd1))
        |SELECT m.n AS n_days,
        |  ROUND(CAST(m.sd1 AS DOUBLE) / m.n / 1000, 6) AS mean_diff,
        |  ROUND(CAST(m.sd1 AS DOUBLE) / m.n / 1000
        |    - 1.96 * (sqrt(CAST(m.n * m.sd2 - m.sd1 * m.sd1 AS DOUBLE)
        |      / (CAST(m.n AS DOUBLE) * (m.n - 1))) / 1000), 6)
        |    AS loa_lo,
        |  ROUND(CAST(m.sd1 AS DOUBLE) / m.n / 1000
        |    + 1.96 * (sqrt(CAST(m.n * m.sd2 - m.sd1 * m.sd1 AS DOUBLE)
        |      / (CAST(m.n AS DOUBLE) * (m.n - 1))) / 1000), 6)
        |    AS loa_hi,
        |  o.n_outside
        |FROM m, o
        |WHERE m.n > 1 AND m.n * m.sd2 > m.sd1 * m.sd1""".stripMargin),

    // identical closed-form Deming chain
    "q_deming" ->
      (s"WITH ${DailyGrid.dmCte}, $pairCte," +
      """
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
        |    SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx,
        |    SUM(y * y) AS syy
        |  FROM pr),
        |cl AS (
        |  SELECT n, sx, sy,
        |    n * sxy - sx * sy AS cxy,
        |    n * sxx - sx * sx AS cxx,
        |    n * syy - sy * sy AS cyy
        |  FROM ag WHERE n * sxy - sx * sy <> 0),
        |sl AS (
        |  SELECT n, sx, sy,
        |    (CAST(cyy - cxx AS DOUBLE)
        |      + sqrt(POW(CAST(cyy - cxx AS DOUBLE), 2)
        |        + 4.0 * cxy * cxy)) / (2.0 * cxy) AS slope
        |  FROM cl)
        |SELECT n AS n_days, ROUND(slope, 6) AS deming_slope,
        |  ROUND((sy - slope * sx) / n / 1000, 6) AS deming_intercept
        |FROM sl""".stripMargin),

    // identical pairwise tallies
    "q_win_ratio" ->
      (s"WITH ${DailyGrid.dmCte}," +
      """
        |xs AS (SELECT y AS x FROM dm WHERE event_type = 'click'),
        |ys AS (SELECT y AS yy FROM dm WHERE event_type = 'view'),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN x > yy THEN 1 ELSE 0 END) AS BIGINT)
        |      AS wins,
        |    CAST(SUM(CASE WHEN x < yy THEN 1 ELSE 0 END) AS BIGINT)
        |      AS losses,
        |    CAST(SUM(CASE WHEN x = yy THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ties
        |  FROM xs, ys)
        |SELECT n_pairs, wins, losses, ties,
        |  ROUND(CAST(wins AS DOUBLE) / losses, 6) AS win_ratio,
        |  ROUND(CAST(2 * wins + ties AS DOUBLE) / (2 * n_pairs), 6)
        |    AS p_win
        |FROM ag WHERE losses > 0""".stripMargin),

    // identical rank-copula tail flags
    "q_copula_tail_dep" ->
      (s"WITH ${DailyGrid.dmCte}, $pairCte," +
      """
        |rk AS (
        |  SELECT
        |    CAST(row_number() OVER (ORDER BY x, d) AS BIGINT) AS rx,
        |    CAST(row_number() OVER (ORDER BY y, d) AS BIGINT) AS ry,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM pr),
        |ag AS (
        |  SELECT MAX(n) AS n_days, MAX(n // 5) AS k,
        |    CAST(SUM(CASE WHEN ry > n - n // 5 AND rx > n - n // 5
        |      THEN 1 ELSE 0 END) AS BIGINT) AS both_up,
        |    CAST(SUM(CASE WHEN ry <= n // 5 AND rx <= n // 5
        |      THEN 1 ELSE 0 END) AS BIGINT) AS both_lo
        |  FROM rk)
        |SELECT n_days, k AS tail_k, both_up, both_lo,
        |  ROUND(CAST(both_up AS DOUBLE) / k, 6) AS lambda_upper,
        |  ROUND(CAST(both_lo AS DOUBLE) / k, 6) AS lambda_lower
        |FROM ag WHERE k > 0""".stripMargin),

    // identical doubled-µ medians and ×12-cleared D_o
    "q_krippendorff" ->
      (s"WITH ${DailyGrid.dmCte}," +
      """
        |rg AS (
        |  SELECT event_type, d, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY y, d) AS BIGINT) AS rg,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS ng
        |  FROM dm),
        |md AS (
        |  SELECT event_type,
        |    SUM(CASE WHEN rg = (ng + 1) // 2 THEN y ELSE 0 END
        |      + CASE WHEN rg = ng // 2 + 1 THEN y ELSE 0 END) AS med2
        |  FROM rg GROUP BY 1),
        |codes AS (
        |  SELECT dm.d,
        |    CASE WHEN 2 * dm.y > md.med2 THEN 1 ELSE 0 END AS c
        |  FROM dm JOIN md ON dm.event_type = md.event_type),
        |units AS (
        |  SELECT d, CAST(COUNT(*) AS BIGINT) AS mu,
        |    CAST(SUM(c) AS BIGINT) AS n1
        |  FROM codes GROUP BY 1 HAVING COUNT(*) > 1),
        |ag AS (
        |  SELECT CAST(SUM(mu) AS BIGINT) AS nn,
        |    CAST(SUM(n1) AS BIGINT) AS nn1,
        |    CAST(SUM(n1 * (mu - n1) * (12 // (mu - 1))) AS BIGINT)
        |      AS do12
        |  FROM units)
        |SELECT nn AS n_codes,
        |  ROUND(1.0 - CAST(nn - 1 AS DOUBLE) * do12
        |    / (12.0 * nn1 * (nn - nn1)), 6) AS kripp_alpha
        |FROM ag WHERE nn1 > 0 AND nn - nn1 > 0""".stripMargin)
  )
}
