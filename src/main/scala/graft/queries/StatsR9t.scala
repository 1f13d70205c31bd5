package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-9 wave 20 (SURVEY.md §2 B.10b): the forecast-evaluation
  * family over the daily milli-mean grid — CRPS of the trailing-7
  * empirical ensemble (98·CRPS = 14Σ|xᵢ−y| − ΣΣ|xᵢ−xⱼ| stays exact),
  * pinball losses at τ=0.5/0.9 (×2/×10 cleared), the Diebold–Mariano
  * test between naive and seasonal-naive, Theil's U2, the tracking
  * signal (n·Σe/Σ|e| — the ×7 forecast clearing cancels), and the
  * Mincer–Zarnowitz rationality regression (cleared OLS α/β/R²).
  * Every sum an exact long; one identical double chain per row.
  */
object StatsR9t {

  import DailyGrid.{dmCte, wo}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // CRPS of the trailing-7 empirical ensemble: per target day t,
    // 98·CRPS_t = 14·Σᵢ|xᵢ−y| − ΣᵢΣⱼ|xᵢ−xⱼ| over the 7 prior days —
    // both legs bounded day-grid joins, the mean divides once.
    "q_crps_naive" -> ((s, d) => {
      val base = DailyGrid.mean(s, d)
      val ens = base.select(col("event_type").as("et2"),
        col("i").as("j"), col("y").as("x"))
      val t1 = base.join(ens, col("et2") === col("event_type")
          && col("j") >= col("i") - 7 && col("j") <= col("i") - 1)
        .groupBy(col("event_type"), col("d"), col("i"), col("y"))
        .agg(count(lit(1)).as("m"), sum(abs(col("x") - col("y")))
          .as("s1"))
        .filter(col("m") === 7)
      val ens2 = base.select(col("event_type").as("et3"),
        col("i").as("k"), col("y").as("x2"))
      val t2 = base.join(ens, col("et2") === col("event_type")
          && col("j") >= col("i") - 7 && col("j") <= col("i") - 1)
        .join(ens2, col("et3") === col("event_type")
          && col("k") >= col("i") - 7 && col("k") <= col("i") - 1)
        .groupBy(col("event_type"), col("i"))
        .agg(sum(abs(col("x") - col("x2"))).as("s2"))
      t1.join(t2, Seq("event_type", "i"))
        .select(col("event_type"),
          (col("s1") * 14 - col("s2")).as("crps98_u"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("crps98_u").as("su"))
        .select(col("event_type"), col("n_days"),
          round(col("su").cast("double")
            / (col("n_days") * 98.0 * 1000), 6).as("crps"))
        .orderBy("event_type")
    }),

    // Pinball losses of the trailing-7 empirical quantiles: the
    // 7-element window makes q50 the exact 4th order statistic and
    // q90 the max; losses cleared ×2 (τ=.5) and ×10 (τ=.9).
    "q_pinball_loss" -> ((s, d) => {
      val base = DailyGrid.mean(s, d)
      val ens = base.select(col("event_type").as("et2"),
        col("i").as("j"), col("y").as("x"))
      val fc = base.join(ens, col("et2") === col("event_type")
          && col("j") >= col("i") - 7 && col("j") <= col("i") - 1)
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type", "i").orderBy("x", "j"))
          .cast("long"))
        .groupBy(col("event_type"), col("i"), col("y"))
        .agg(count(lit(1)).as("m"),
          max(when(col("rk") === 4, col("x"))).as("f50"),
          max("x").as("f90"))
        .filter(col("m") === 7)
      fc.select(col("event_type"),
          abs(col("y") - col("f50")).as("l2_u"),
          greatest((col("y") - col("f90")) * 9,
            col("f90") - col("y")).as("l10_u"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("l2_u").as("s2"),
          sum("l10_u").as("s10"))
        .select(col("event_type"), col("n_days"),
          round(col("s2").cast("double")
            / (col("n_days") * 2.0 * 1000), 6).as("pinball50"),
          round(col("s10").cast("double")
            / (col("n_days") * 10.0 * 1000), 6).as("pinball90"))
        .orderBy("event_type")
    }),

    // Diebold–Mariano between naive (lag 1) and seasonal-naive
    // (lag 7): loss differential d = |e1| − |e2| exact milli, DM =
    // Σd·√(n−1)/√(nΣd²−(Σd)²) — cleared sums, one chain.
    "q_diebold_mariano" -> ((s, d) => {
      DailyGrid.mean(s, d)
        .withColumn("l1", lag("y", 1).over(wo))
        .withColumn("l7", lag("y", 7).over(wo))
        .filter(col("l1").isNotNull && col("l7").isNotNull)
        .withColumn("dd", abs(col("y") - col("l1"))
          - abs(col("y") - col("l7")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("dd").as("sd"),
          sum(col("dd") * col("dd")).as("sdd"))
        .withColumn("clr", col("n") * col("sdd") - col("sd") * col("sd"))
        .filter(col("n") > 1 && col("clr") > 0)
        .select(col("event_type"), col("n").as("n_days"),
          round(col("sd").cast("double")
            * sqrt((col("n") - lit(1L)).cast("double"))
            / sqrt(col("clr").cast("double")), 4).as("dm_stat"))
        .orderBy("event_type")
    }),

    // Theil's U2: seasonal-naive (lag 7) squared error vs naive
    // (lag 1) — exact long sums, √ of one ratio.
    "q_theil_u" -> ((s, d) => {
      DailyGrid.mean(s, d)
        .withColumn("l1", lag("y", 1).over(wo))
        .withColumn("l7", lag("y", 7).over(wo))
        .filter(col("l1").isNotNull && col("l7").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum((col("y") - col("l7")) * (col("y") - col("l7")))
            .as("sf"),
          sum((col("y") - col("l1")) * (col("y") - col("l1")))
            .as("sn"))
        .filter(col("sn") > 0)
        .select(col("event_type"), col("n").as("n_days"),
          round(sqrt(col("sf").cast("double") / col("sn")), 4)
            .as("theil_u2"))
        .orderBy("event_type")
    }),

    // Tracking signal of the trailing-7-mean forecast: the ×7
    // clearing cancels in TS = n·Σe/Σ|e| (e7 = 7y − S7 exact).
    "q_tracking_signal" -> ((s, d) => {
      val w7 = wo.rowsBetween(-7, -1)
      DailyGrid.mean(s, d)
        .withColumn("m7", count(lit(1)).over(w7))
        .withColumn("s7", sum("y").over(w7))
        .filter(col("m7") === 7)
        .withColumn("e7", col("y") * 7 - col("s7"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("e7").as("se"),
          sum(abs(col("e7"))).as("sae"))
        .filter(col("sae") > 0)
        .select(col("event_type"), col("n").as("n_days"),
          round(col("n").cast("double") * col("se") / col("sae"), 4)
            .as("tracking_signal"))
        .orderBy("event_type")
    }),

    // Mincer–Zarnowitz rationality regression y = α + β·lag1(y):
    // cleared OLS from exact milli sums — α in value units, β and R²
    // dimensionless, one chain each.
    "q_mincer_zarnowitz" -> ((s, d) => {
      DailyGrid.mean(s, d)
        .withColumn("f", lag("y", 1).over(wo))
        .filter(col("f").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("f").as("sf"),
          sum("y").as("sy"), sum(col("f") * col("y")).as("sfy"),
          sum(col("f") * col("f")).as("sff"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("cfy", col("n") * col("sfy") - col("sf") * col("sy"))
        .withColumn("cff", col("n") * col("sff") - col("sf") * col("sf"))
        .withColumn("cyy", col("n") * col("syy") - col("sy") * col("sy"))
        .filter(col("n") > 2 && col("cff") > 0 && col("cyy") > 0)
        .select(col("event_type"), col("n").as("n_days"),
          round((col("sy").cast("double")
            - col("cfy").cast("double") / col("cff") * col("sf"))
            / col("n") / 1000, 4).as("mz_alpha"),
          round(col("cfy").cast("double") / col("cff"), 4)
            .as("mz_beta"),
          round(col("cfy").cast("double") * col("cfy")
            / (col("cff").cast("double") * col("cyy")), 6).as("r2"))
        .orderBy("event_type")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical bounded ensemble joins and cleared CRPS
    "q_crps_naive" ->
      s"""WITH $dmCte,
        |base AS (
        |  SELECT event_type, d, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY d) AS BIGINT) AS i
        |  FROM dm),
        |t1 AS (
        |  SELECT a.event_type, a.i, a.y,
        |    CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM(ABS(b.y - a.y)) AS BIGINT) AS s1
        |  FROM base a JOIN base b ON b.event_type = a.event_type
        |    AND b.i >= a.i - 7 AND b.i <= a.i - 1
        |  GROUP BY 1, 2, 3),
        |t2 AS (
        |  SELECT a.event_type, a.i,
        |    CAST(SUM(ABS(b.y - c.y)) AS BIGINT) AS s2
        |  FROM base a
        |  JOIN base b ON b.event_type = a.event_type
        |    AND b.i >= a.i - 7 AND b.i <= a.i - 1
        |  JOIN base c ON c.event_type = a.event_type
        |    AND c.i >= a.i - 7 AND c.i <= a.i - 1
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT t1.event_type, t1.s1 * 14 - t2.s2 AS crps98_u
        |  FROM t1 JOIN t2 ON t1.event_type = t2.event_type
        |    AND t1.i = t2.i
        |  WHERE t1.m = 7)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  ROUND(CAST(SUM(crps98_u) AS BIGINT)
        |    / (COUNT(*) * 98.0 * 1000), 6) AS crps
        |FROM j GROUP BY 1 ORDER BY event_type""".stripMargin,

    // identical order statistics and cleared losses
    "q_pinball_loss" ->
      s"""WITH $dmCte,
        |base AS (
        |  SELECT event_type, d, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY d) AS BIGINT) AS i
        |  FROM dm),
        |wnd AS (
        |  SELECT a.event_type, a.i, a.y, b.y AS x, b.i AS j,
        |    CAST(row_number() OVER (PARTITION BY a.event_type, a.i
        |      ORDER BY b.y, b.i) AS BIGINT) AS rk
        |  FROM base a JOIN base b ON b.event_type = a.event_type
        |    AND b.i >= a.i - 7 AND b.i <= a.i - 1),
        |fc AS (
        |  SELECT event_type, i, y, CAST(COUNT(*) AS BIGINT) AS m,
        |    MAX(CASE WHEN rk = 4 THEN x END) AS f50,
        |    MAX(x) AS f90
        |  FROM wnd GROUP BY 1, 2, 3),
        |l AS (
        |  SELECT event_type, ABS(y - f50) AS l2_u,
        |    GREATEST((y - f90) * 9, f90 - y) AS l10_u
        |  FROM fc WHERE m = 7)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  ROUND(CAST(SUM(l2_u) AS BIGINT) / (COUNT(*) * 2.0 * 1000),
        |    6) AS pinball50,
        |  ROUND(CAST(SUM(l10_u) AS BIGINT) / (COUNT(*) * 10.0 * 1000),
        |    6) AS pinball90
        |FROM l GROUP BY 1 ORDER BY event_type""".stripMargin,

    // identical loss differentials and cleared DM
    "q_diebold_mariano" ->
      s"""WITH $dmCte,
        |lg AS (
        |  SELECT event_type,
        |    ABS(y - lag(y, 1) OVER w) - ABS(y - lag(y, 7) OVER w)
        |      AS dd,
        |    lag(y, 1) OVER w AS l1, lag(y, 7) OVER w AS l7
        |  FROM dm
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(dd) AS BIGINT) AS sd,
        |    CAST(SUM(dd * dd) AS BIGINT) AS sdd
        |  FROM lg WHERE l1 IS NOT NULL AND l7 IS NOT NULL
        |  GROUP BY 1),
        |cl AS (
        |  SELECT event_type, n, sd, n * sdd - sd * sd AS clr
        |  FROM ag WHERE n > 1 AND n * sdd - sd * sd > 0)
        |SELECT event_type, n AS n_days,
        |  ROUND(CAST(sd AS DOUBLE) * sqrt(CAST(n - 1 AS DOUBLE))
        |    / sqrt(CAST(clr AS DOUBLE)), 4) AS dm_stat
        |FROM cl ORDER BY event_type""".stripMargin,

    // identical exact squared-error sums
    "q_theil_u" ->
      s"""WITH $dmCte,
        |lg AS (
        |  SELECT event_type, y,
        |    lag(y, 1) OVER w AS l1, lag(y, 7) OVER w AS l7
        |  FROM dm
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM((y - l7) * (y - l7)) AS BIGINT) AS sf,
        |    CAST(SUM((y - l1) * (y - l1)) AS BIGINT) AS sn
        |  FROM lg WHERE l1 IS NOT NULL AND l7 IS NOT NULL
        |  GROUP BY 1)
        |SELECT event_type, n AS n_days,
        |  ROUND(sqrt(CAST(sf AS DOUBLE) / sn), 4) AS theil_u2
        |FROM ag WHERE sn > 0 ORDER BY event_type""".stripMargin,

    // identical ×7-cleared errors (the clearing cancels in the ratio)
    "q_tracking_signal" ->
      s"""WITH $dmCte,
        |w AS (
        |  SELECT event_type, y,
        |    COUNT(*) OVER w7 AS m7,
        |    CAST(SUM(y) OVER w7 AS BIGINT) AS s7
        |  FROM dm
        |  WINDOW w7 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |e AS (
        |  SELECT event_type, y * 7 - s7 AS e7
        |  FROM w WHERE m7 = 7),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(e7) AS BIGINT) AS se,
        |    CAST(SUM(ABS(e7)) AS BIGINT) AS sae
        |  FROM e GROUP BY 1)
        |SELECT event_type, n AS n_days,
        |  ROUND(CAST(n AS DOUBLE) * se / sae, 4) AS tracking_signal
        |FROM ag WHERE sae > 0 ORDER BY event_type""".stripMargin,

    // identical cleared OLS
    "q_mincer_zarnowitz" ->
      s"""WITH $dmCte,
        |lg AS (
        |  SELECT event_type, y, lag(y, 1) OVER (
        |    PARTITION BY event_type ORDER BY d) AS f
        |  FROM dm),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(f) AS BIGINT) AS sf,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(f * y) AS BIGINT) AS sfy,
        |    CAST(SUM(f * f) AS BIGINT) AS sff,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM lg WHERE f IS NOT NULL GROUP BY 1),
        |cl AS (
        |  SELECT event_type, n, sf, sy,
        |    n * sfy - sf * sy AS cfy,
        |    n * sff - sf * sf AS cff,
        |    n * syy - sy * sy AS cyy
        |  FROM ag WHERE n > 2)
        |SELECT event_type, n AS n_days,
        |  ROUND((CAST(sy AS DOUBLE)
        |    - CAST(cfy AS DOUBLE) / cff * sf) / n / 1000, 4)
        |    AS mz_alpha,
        |  ROUND(CAST(cfy AS DOUBLE) / cff, 4) AS mz_beta,
        |  ROUND(CAST(cfy AS DOUBLE) * cfy
        |    / (CAST(cff AS DOUBLE) * cyy), 6) AS r2
        |FROM cl WHERE cff > 0 AND cyy > 0
        |ORDER BY event_type""".stripMargin
  )
}
