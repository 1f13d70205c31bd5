package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 wave 30 (SURVEY.md §2 B.10b): market-microstructure and
  * technical-analysis keys on the shared daily OHLC grid — Roll's
  * implied effective spread from the close-change autocovariance,
  * a Kyle-style price-impact slope on sign-of-change order flow,
  * Jensen's alpha/beta against the all-type market return, Ichimoku
  * tenkan/kijun/senkou-A lines (half-units ×2/×4-cleared), the
  * 14-day Vortex indicator pair, and the 13-day SMA force index.
  *
  * All inputs are the centi-snapped (h, l, c, vol) daily rollup from
  * DailyGrid.ohlc; every window sum/moment stays in longs and the
  * one double chain per key is spelled identically in the oracle.
  * Scale: the grid is types × days rows — constant in corpus size;
  * the windows are ROWS-bounded and partition by type.
  */
object StatsR9zd {

  import DailyGrid.{dailyCte, wo}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Roll (1984) implied spread per type: Δc autocovariance over the
    // lag-pair sample, cleared numerator m·Σab − Σa·Σb; spread =
    // 2·√(−cov) in value units when the autocov is negative, NULL
    // otherwise (stated — positive autocov has no Roll solution).
    "q_roll_spread" -> ((s, d) => {
      val dc = DailyGrid.ohlc(s, d)
        .withColumn("pc", lag("c", 1).over(wo))
        .filter(col("pc").isNotNull)
        .withColumn("dc", col("c") - col("pc"))
      val pairs = dc
        .withColumn("pdc", lag("dc", 1).over(wo))
        .filter(col("pdc").isNotNull)
      pairs.groupBy("event_type")
        .agg(count(lit(1)).as("m"), sum("dc").as("sa"),
          sum("pdc").as("sb"), sum(col("dc") * col("pdc")).as("sab"))
        .withColumn("num", col("m") * col("sab") - col("sa") * col("sb"))
        .select(col("event_type"), col("m").as("n_pairs"),
          round(col("num").cast("double")
            / (col("m").cast("double") * col("m") * 1e4), 6)
            .as("autocov"),
          when(col("num") < 0,
            round(lit(2.0) * sqrt(-col("num").cast("double")
              / (col("m").cast("double") * col("m"))) / 100.0, 6))
            .as("roll_spread"))
        .orderBy("event_type")
    }),

    // Kyle-style λ per type: OLS slope of Δc on the signed-volume
    // order-flow proxy q = vol·sign(Δc) (stated proxy), cleared
    // moments, λ in cents per unit flow.
    "q_kyle_lambda" -> ((s, d) => {
      val f = DailyGrid.ohlc(s, d)
        .withColumn("pc", lag("c", 1).over(wo))
        .filter(col("pc").isNotNull)
        .withColumn("dc", col("c") - col("pc"))
        .withColumn("q", col("vol") * when(col("dc") > 0, 1L)
          .when(col("dc") < 0, -1L).otherwise(0L))
      f.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("q").as("sx"), sum("dc").as("sy"),
          sum(col("q") * col("dc")).as("sxy"),
          sum(col("q") * col("q")).as("sxx"))
        .withColumn("cxy", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("cxx", col("n") * col("sxx") - col("sx") * col("sx"))
        .filter(col("cxx") > 0)
        .select(col("event_type"), col("n").as("n_days"),
          round(col("cxy").cast("double") / col("cxx"), 6)
            .as("kyle_lambda_cents"))
        .orderBy("event_type")
    }),

    // Jensen's alpha/beta per type against the all-type market
    // return (rf = 0, stated): cleared moments of the µ-snapped
    // return pair, β = cxy/cxx, α = (Σr − β·Σrm)/n back in daily
    // log-return units.
    "q_jensen_alpha" -> ((s, d) => {
      val r = DailyGrid.ret(s, d)
      val j = r.join(DailyGrid.marketRet(s, d), "d")
      j.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("rm_u").as("sx"),
          sum("r_u").as("sy"),
          sum(col("rm_u") * col("r_u")).as("sxy"),
          sum(col("rm_u") * col("rm_u")).as("sxx"))
        .withColumn("cxy", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("cxx", col("n") * col("sxx") - col("sx") * col("sx"))
        .filter(col("cxx") > 0)
        .select(col("event_type"), col("n").as("n_days"),
          round(col("cxy").cast("double") / col("cxx"), 6).as("beta"),
          round((col("sy") - col("cxy").cast("double") / col("cxx")
            * col("sx")) / col("n") / 1e6, 6).as("alpha_daily"))
        .orderBy("event_type")
    }),

    // Ichimoku lines on the centi grid, full windows only: tenkan =
    // (h9+l9)/2, kijun = (h26+l26)/2, senkou A = (tenkan+kijun)/2 —
    // integer window extrema, the half-units divide once into value
    // units (÷200 / ÷400 of the cleared sums, stated).
    "q_ichimoku" -> ((s, d) => {
      val w9 = wo.rowsBetween(-8, 0)
      val w26 = wo.rowsBetween(-25, 0)
      DailyGrid.ohlc(s, d)
        .withColumn("n26", count(lit(1)).over(w26))
        .withColumn("t2", max("h").over(w9) + min("l").over(w9))
        .withColumn("k2", max("h").over(w26) + min("l").over(w26))
        .filter(col("n26") === 26)
        .select(col("event_type"), col("d").cast("string").as("d"),
          round(col("t2") / 200.0, 6).as("tenkan"),
          round(col("k2") / 200.0, 6).as("kijun"),
          round((col("t2") + col("k2")) / 400.0, 6).as("senkou_a"))
        .orderBy("event_type", "d")
    }),

    // Vortex 14-day: VM+ = Σ|h−l_prev|, VM− = Σ|l−h_prev|, TR =
    // max(h−l, |h−c_prev|, |l−c_prev|) — integer window sums, two
    // ratio divisions. Full windows only.
    "q_vortex" -> ((s, d) => {
      val w14 = wo.rowsBetween(-13, 0)
      val lagged = DailyGrid.ohlc(s, d)
        .withColumn("ph", lag("h", 1).over(wo))
        .withColumn("pl", lag("l", 1).over(wo))
        .withColumn("pc", lag("c", 1).over(wo))
        .filter(col("pc").isNotNull)
        .withColumn("vmp", abs(col("h") - col("pl")))
        .withColumn("vmm", abs(col("l") - col("ph")))
        .withColumn("tr", greatest(col("h") - col("l"),
          abs(col("h") - col("pc")), abs(col("l") - col("pc"))))
      lagged
        .withColumn("n14", count(lit(1)).over(w14))
        .withColumn("svp", sum("vmp").over(w14))
        .withColumn("svm", sum("vmm").over(w14))
        .withColumn("str", sum("tr").over(w14))
        .filter(col("n14") === 14 && col("str") > 0)
        .select(col("event_type"), col("d").cast("string").as("d"),
          round(col("svp").cast("double") / col("str"), 6).as("vi_plus"),
          round(col("svm").cast("double") / col("str"), 6).as("vi_minus"))
        .orderBy("event_type", "d")
    }),

    // Force index, 13-day SMA variant (stated — no EMA recursion):
    // FI = (c − c_prev)·vol exact longs, window mean in value units.
    "q_force_index" -> ((s, d) => {
      val w13 = wo.rowsBetween(-12, 0)
      DailyGrid.ohlc(s, d)
        .withColumn("pc", lag("c", 1).over(wo))
        .filter(col("pc").isNotNull)
        .withColumn("fi", (col("c") - col("pc")) * col("vol"))
        .withColumn("n13", count(lit(1)).over(w13))
        .withColumn("sfi", sum("fi").over(w13))
        .filter(col("n13") === 13)
        .select(col("event_type"), col("d").cast("string").as("d"),
          round(col("sfi").cast("double") / (13 * 100.0), 6)
            .as("force_sma13"))
        .orderBy("event_type", "d")
    })
  )

  private[queries] val mrCte: String =
    """md AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) // COUNT(*)
      |      AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |mr AS (
      |  SELECT d, CAST(ROUND(LN(CAST(y AS DOUBLE) / py) * 1000000)
      |      AS BIGINT) AS rm_u
      |  FROM (SELECT d, y, lag(y) OVER (ORDER BY d) AS py FROM md)
      |  WHERE py IS NOT NULL)""".stripMargin

  val oracle: Map[String, String] = Map(
    // identical lag-pair cleared autocovariance
    "q_roll_spread" ->
      s"""WITH $dailyCte,
        |dc AS (
        |  SELECT event_type, d, c - pc AS dc
        |  FROM (SELECT event_type, d, c,
        |          lag(c) OVER (PARTITION BY event_type ORDER BY d)
        |            AS pc
        |        FROM daily)
        |  WHERE pc IS NOT NULL),
        |pr AS (
        |  SELECT event_type, dc,
        |    lag(dc) OVER (PARTITION BY event_type ORDER BY d) AS pdc
        |  FROM dc),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
        |    SUM(dc) AS sa, SUM(pdc) AS sb, SUM(dc * pdc) AS sab
        |  FROM pr WHERE pdc IS NOT NULL GROUP BY 1),
        |cl2 AS (
        |  SELECT event_type, m, m * sab - sa * sb AS num FROM ag)
        |SELECT event_type, m AS n_pairs,
        |  ROUND(CAST(num AS DOUBLE)
        |    / (CAST(m AS DOUBLE) * m * 1e4), 6) AS autocov,
        |  CASE WHEN num < 0 THEN
        |    ROUND(2.0 * sqrt(-CAST(num AS DOUBLE)
        |      / (CAST(m AS DOUBLE) * m)) / 100.0, 6)
        |  END AS roll_spread
        |FROM cl2 ORDER BY event_type""".stripMargin,

    // identical signed-volume slope
    "q_kyle_lambda" ->
      s"""WITH $dailyCte,
        |f AS (
        |  SELECT event_type, c - pc AS dc,
        |    vol * CASE WHEN c - pc > 0 THEN 1
        |      WHEN c - pc < 0 THEN -1 ELSE 0 END AS q
        |  FROM (SELECT event_type, d, c, vol,
        |          lag(c) OVER (PARTITION BY event_type ORDER BY d)
        |            AS pc
        |        FROM daily)
        |  WHERE pc IS NOT NULL),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(q) AS sx, SUM(dc) AS sy, SUM(q * dc) AS sxy,
        |    SUM(q * q) AS sxx
        |  FROM f GROUP BY 1)
        |SELECT event_type, n AS n_days,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (n * sxx - sx * sx), 6) AS kyle_lambda_cents
        |FROM ag WHERE n * sxx - sx * sx > 0
        |ORDER BY event_type""".stripMargin,

    // identical µ-snapped CAPM moments
    "q_jensen_alpha" ->
      s"""WITH ${DailyGrid.retCte},
        |$mrCte,
        |j AS (
        |  SELECT ret.event_type, ret.r_u, mr.rm_u
        |  FROM ret JOIN mr ON ret.d = mr.d),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(rm_u) AS sx, SUM(r_u) AS sy,
        |    SUM(rm_u * r_u) AS sxy, SUM(rm_u * rm_u) AS sxx
        |  FROM j GROUP BY 1),
        |cl2 AS (
        |  SELECT event_type, n,
        |    n * sxy - sx * sy AS cxy, n * sxx - sx * sx AS cxx,
        |    sx, sy
        |  FROM ag WHERE n * sxx - sx * sx > 0)
        |SELECT event_type, n AS n_days,
        |  ROUND(CAST(cxy AS DOUBLE) / cxx, 6) AS beta,
        |  ROUND((sy - CAST(cxy AS DOUBLE) / cxx * sx) / n / 1e6, 6)
        |    AS alpha_daily
        |FROM cl2 ORDER BY event_type""".stripMargin,

    // identical ×2/×4-cleared window extrema
    "q_ichimoku" ->
      s"""WITH $dailyCte,
        |w AS (
        |  SELECT event_type, d,
        |    COUNT(*) OVER w26 AS n26,
        |    MAX(h) OVER w9 + MIN(l) OVER w9 AS t2,
        |    MAX(h) OVER w26 + MIN(l) OVER w26 AS k2
        |  FROM daily
        |  WINDOW w9 AS (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
        |    w26 AS (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN 25 PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(d AS VARCHAR) AS d,
        |  ROUND(t2 / 200.0, 6) AS tenkan,
        |  ROUND(k2 / 200.0, 6) AS kijun,
        |  ROUND((t2 + k2) / 400.0, 6) AS senkou_a
        |FROM w WHERE n26 = 26
        |ORDER BY event_type, d""".stripMargin,

    // identical integer VM/TR window sums
    "q_vortex" ->
      s"""WITH $dailyCte,
        |lg AS (
        |  SELECT event_type, d,
        |    ABS(h - pl) AS vmp, ABS(l - ph) AS vmm,
        |    GREATEST(h - l, ABS(h - pc), ABS(l - pc)) AS tr
        |  FROM (SELECT event_type, d, h, l, c,
        |          lag(h) OVER wz AS ph, lag(l) OVER wz AS pl,
        |          lag(c) OVER wz AS pc
        |        FROM daily
        |        WINDOW wz AS (PARTITION BY event_type ORDER BY d))
        |  WHERE pc IS NOT NULL),
        |w AS (
        |  SELECT event_type, d,
        |    COUNT(*) OVER w14 AS n14,
        |    SUM(vmp) OVER w14 AS svp,
        |    SUM(vmm) OVER w14 AS svm,
        |    SUM(tr) OVER w14 AS str
        |  FROM lg
        |  WINDOW w14 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(d AS VARCHAR) AS d,
        |  ROUND(CAST(svp AS DOUBLE) / str, 6) AS vi_plus,
        |  ROUND(CAST(svm AS DOUBLE) / str, 6) AS vi_minus
        |FROM w WHERE n14 = 14 AND str > 0
        |ORDER BY event_type, d""".stripMargin,

    // identical exact FI window means
    "q_force_index" ->
      s"""WITH $dailyCte,
        |fi AS (
        |  SELECT event_type, d, (c - pc) * vol AS fi
        |  FROM (SELECT event_type, d, c, vol,
        |          lag(c) OVER (PARTITION BY event_type ORDER BY d)
        |            AS pc
        |        FROM daily)
        |  WHERE pc IS NOT NULL),
        |w AS (
        |  SELECT event_type, d,
        |    COUNT(*) OVER w13 AS n13, SUM(fi) OVER w13 AS sfi
        |  FROM fi
        |  WINDOW w13 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 12 PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(d AS VARCHAR) AS d,
        |  ROUND(CAST(sfi AS DOUBLE) / (13 * 100.0), 6) AS force_sma13
        |FROM w WHERE n13 = 13
        |ORDER BY event_type, d""".stripMargin
  )
}
