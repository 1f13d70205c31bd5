package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 wave 10 (SURVEY.md §2 B.10b): range-based volatility
  * estimators over the daily OHLC grid — Parkinson, Garman-Klass,
  * Rogers-Satchell, Yang-Zhang — plus the Treynor ratio and the
  * downside/upside beta split against the all-corpus market series.
  *
  * House discipline (the StatsR9 TA precedent): opens/closes are
  * exact centi longs (min_by/max_by over (ts, event_id)); every log
  * range snaps to the 1e6 grid as a long BEFORE any distributed sum;
  * the per-type sums are exact integer aggregates; each emitted
  * statistic performs its double divisions once, at the end, spelled
  * identically in the oracle. At 100 TB the OHLC rollup is one
  * partial aggregation over the fact table (map-side combine on
  * (event_type, day)); everything after runs on the |types|·|days|
  * bounded grid, so per-partition state never scales with events.
  */
object StatsR10i {

  import DailyGrid.{mktCte, retCte, wo}

  /** µ-snapped log ranges on the OHLC grid (all longs); the l > 0
    * gate keeps the logs defined (the testdata values are positive,
    * the gate makes the contract explicit). */
  private def ranges(s: SparkSession, d: String): DataFrame =
    DailyGrid.ohlc(s, d).filter(col("l") > 0)
      .withColumn("hl_u",
        round(log(col("h").cast("double") / col("l")) * 1e6).cast("long"))
      .withColumn("co_u",
        round(log(col("c").cast("double") / col("o")) * 1e6).cast("long"))
      .withColumn("hc_u",
        round(log(col("h").cast("double") / col("c")) * 1e6).cast("long"))
      .withColumn("ho_u",
        round(log(col("h").cast("double") / col("o")) * 1e6).cast("long"))
      .withColumn("lc_u",
        round(log(col("l").cast("double") / col("c")) * 1e6).cast("long"))
      .withColumn("lo_u",
        round(log(col("l").cast("double") / col("o")) * 1e6).cast("long"))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Parkinson (1980) high-low variance: sigma^2 = sum(ln(h/l)^2) /
    // (4 ln2 n). The per-day squared range is an exact long (hl_u^2);
    // one double division chain at the end.
    "q_parkinson_vol" -> ((s, d) => {
      ranges(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(col("hl_u") * col("hl_u")).as("s_hl2"))
        .filter(col("n_days") >= 2)
        .select(col("event_type"), col("n_days"),
          round(sqrt(col("s_hl2").cast("double")
            / (lit(4.0) * log(lit(2.0)) * col("n_days")) / 1e12), 6)
            .as("park_sigma"))
        .orderBy("event_type")
    }),

    // Garman-Klass (1980): sigma^2 = (0.5 sum(hl^2) - (2 ln2 - 1)
    // sum(co^2)) / n. Both component sums are exact longs; the
    // irrational constants touch the data once, at the end.
    "q_garman_klass" -> ((s, d) => {
      ranges(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(col("hl_u") * col("hl_u")).as("s_hl2"),
          sum(col("co_u") * col("co_u")).as("s_co2"))
        .filter(col("n_days") >= 2)
        .withColumn("var_gk",
          (lit(0.5) * col("s_hl2") - (lit(2.0) * log(lit(2.0)) - lit(1.0))
            * col("s_co2")) / col("n_days") / 1e12)
        .select(col("event_type"), col("n_days"),
          round(sqrt(greatest(col("var_gk"), lit(0.0))), 6)
            .as("gk_sigma"))
        .orderBy("event_type")
    }),

    // Rogers-Satchell (1991), drift-independent: sigma^2 =
    // sum(ln(h/c) ln(h/o) + ln(l/c) ln(l/o)) / n. The per-day term is
    // an exact long product-sum (u*u = 1e12 grid), summed exactly.
    "q_rogers_satchell" -> ((s, d) => {
      ranges(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(col("hc_u") * col("ho_u") + col("lc_u") * col("lo_u"))
            .as("s_rs"))
        .filter(col("n_days") >= 2)
        .select(col("event_type"), col("n_days"),
          round(sqrt(greatest(col("s_rs").cast("double")
            / col("n_days") / 1e12, lit(0.0))), 6).as("rs_sigma"))
        .orderBy("event_type")
    }),

    // Yang-Zhang (2000): overnight variance + k * open-to-close
    // variance + (1-k) * Rogers-Satchell, k = 0.34/(1.34 + (n+1)/(n-1)).
    // Days are gated on a prior close (lag over the bounded day grid);
    // the three components ride exact long sums of u-snapped logs.
    "q_yang_zhang" -> ((s, d) => {
      ranges(s, d)
        .withColumn("pc", lag("c", 1).over(wo))
        .filter(col("pc").isNotNull && col("pc") > 0)
        .withColumn("on_u",
          round(log(col("o").cast("double") / col("pc")) * 1e6)
            .cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("on_u").as("s_on"),
          sum(col("on_u") * col("on_u")).as("s_on2"),
          sum("co_u").as("s_oc"),
          sum(col("co_u") * col("co_u")).as("s_oc2"),
          sum(col("hc_u") * col("ho_u") + col("lc_u") * col("lo_u"))
            .as("s_rs"))
        .filter(col("n") >= 3)
        .withColumn("var_on",
          (col("n").cast("double") * col("s_on2")
            - col("s_on").cast("double") * col("s_on"))
            / col("n") / (col("n") - 1) / 1e12)
        .withColumn("var_oc",
          (col("n").cast("double") * col("s_oc2")
            - col("s_oc").cast("double") * col("s_oc"))
            / col("n") / (col("n") - 1) / 1e12)
        .withColumn("var_rs",
          col("s_rs").cast("double") / col("n") / 1e12)
        .withColumn("k", lit(0.34) / (lit(1.34)
          + (col("n") + 1).cast("double") / (col("n") - 1)))
        .select(col("event_type"), col("n").as("n_days"),
          round(sqrt(greatest(col("var_on"), lit(0.0))), 6)
            .as("sigma_overnight"),
          round(sqrt(greatest(col("var_oc"), lit(0.0))), 6)
            .as("sigma_openclose"),
          round(sqrt(greatest(col("var_rs"), lit(0.0))), 6)
            .as("sigma_rs"),
          round(sqrt(greatest(col("var_on") + col("k") * col("var_oc")
            + (lit(1.0) - col("k")) * col("var_rs"), lit(0.0))), 6)
            .as("sigma_yz"))
        .orderBy("event_type")
    }),

    // Treynor ratio (rf = 0): mean daily log return over market beta.
    // Reuses the q_beta_market exact-sum regression; the market series
    // is a one-row-per-day broadcast.
    "q_treynor" -> ((s, d) => {
      DailyGrid.ret(s, d).join(broadcast(DailyGrid.marketRet(s, d)), "d")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("r_u").as("sr"),
          sum("rm_u").as("sm"),
          sum(col("r_u") * col("rm_u")).as("srm"),
          sum(col("rm_u") * col("rm_u")).as("smm"))
        .withColumn("beta",
          (col("n").cast("double") * col("srm")
            - col("sr").cast("double") * col("sm"))
          / (col("n").cast("double") * col("smm")
            - col("sm").cast("double") * col("sm")))
        .select(col("event_type"), col("n").as("n_ret"),
          round(col("beta"), 6).as("beta"),
          round(col("sr") / col("n") / 1e6, 6).as("mean_ret_daily"),
          round(col("sr") / col("n") / 1e6 / col("beta"), 6)
            .as("treynor"))
        .orderBy("event_type")
    }),

    // Downside vs upside beta: the q_beta_market regression run twice,
    // conditioned on the market day's sign (zero-return days excluded
    // from both legs) — the asymmetry ratio a defensive-asset screen
    // reads. Conditional exact sums in one pass over the day grid.
    "q_downside_beta" -> ((s, d) => {
      val dn = col("rm_u") < 0
      val up = col("rm_u") > 0
      DailyGrid.ret(s, d).join(broadcast(DailyGrid.marketRet(s, d)), "d")
        .groupBy("event_type")
        .agg(
          sum(when(dn, 1L).otherwise(0L)).as("n_d"),
          sum(when(dn, col("r_u")).otherwise(0L)).as("sr_d"),
          sum(when(dn, col("rm_u")).otherwise(0L)).as("sm_d"),
          sum(when(dn, col("r_u") * col("rm_u")).otherwise(0L)).as("srm_d"),
          sum(when(dn, col("rm_u") * col("rm_u")).otherwise(0L)).as("smm_d"),
          sum(when(up, 1L).otherwise(0L)).as("n_u"),
          sum(when(up, col("r_u")).otherwise(0L)).as("sr_u"),
          sum(when(up, col("rm_u")).otherwise(0L)).as("sm_u"),
          sum(when(up, col("r_u") * col("rm_u")).otherwise(0L)).as("srm_u"),
          sum(when(up, col("rm_u") * col("rm_u")).otherwise(0L)).as("smm_u"))
        .filter(col("n_d") >= 2 && col("n_u") >= 2)
        .withColumn("beta_down",
          (col("n_d").cast("double") * col("srm_d")
            - col("sr_d").cast("double") * col("sm_d"))
          / (col("n_d").cast("double") * col("smm_d")
            - col("sm_d").cast("double") * col("sm_d")))
        .withColumn("beta_up",
          (col("n_u").cast("double") * col("srm_u")
            - col("sr_u").cast("double") * col("sm_u"))
          / (col("n_u").cast("double") * col("smm_u")
            - col("sm_u").cast("double") * col("sm_u")))
        .select(col("event_type"),
          col("n_d").as("n_down"), col("n_u").as("n_up"),
          round(col("beta_down"), 6).as("beta_down"),
          round(col("beta_up"), 6).as("beta_up"),
          round(col("beta_down") / col("beta_up"), 6).as("asymmetry"))
        .orderBy("event_type")
    })
  )

  /** OHLC-with-open centi grid, shared by the four estimator oracles. */
  private[queries] val ohlcoCte: String =
    """base AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(ROUND(value * 100) AS BIGINT) AS v_c, ts, event_id
      |  FROM events),
      |agg AS (
      |  SELECT event_type, d, MAX(v_c) AS h, MIN(v_c) AS l
      |  FROM base GROUP BY 1, 2),
      |cl AS (
      |  SELECT event_type, d, v_c AS c FROM (
      |    SELECT event_type, d, v_c, row_number() OVER (
      |      PARTITION BY event_type, d ORDER BY ts DESC, event_id DESC)
      |      AS rn
      |    FROM base) WHERE rn = 1),
      |op AS (
      |  SELECT event_type, d, v_c AS o FROM (
      |    SELECT event_type, d, v_c, row_number() OVER (
      |      PARTITION BY event_type, d ORDER BY ts ASC, event_id ASC)
      |      AS rn
      |    FROM base) WHERE rn = 1),
      |ohlco AS (
      |  SELECT agg.event_type, agg.d, o, h, l, c
      |  FROM agg
      |  JOIN cl ON agg.event_type = cl.event_type AND agg.d = cl.d
      |  JOIN op ON agg.event_type = op.event_type AND agg.d = op.d
      |  WHERE l > 0),
      |rng AS (
      |  SELECT event_type, d,
      |    CAST(ROUND(ln(CAST(h AS DOUBLE) / l) * 1e6) AS BIGINT) AS hl_u,
      |    CAST(ROUND(ln(CAST(c AS DOUBLE) / o) * 1e6) AS BIGINT) AS co_u,
      |    CAST(ROUND(ln(CAST(h AS DOUBLE) / c) * 1e6) AS BIGINT) AS hc_u,
      |    CAST(ROUND(ln(CAST(h AS DOUBLE) / o) * 1e6) AS BIGINT) AS ho_u,
      |    CAST(ROUND(ln(CAST(l AS DOUBLE) / c) * 1e6) AS BIGINT) AS lc_u,
      |    CAST(ROUND(ln(CAST(l AS DOUBLE) / o) * 1e6) AS BIGINT) AS lo_u,
      |    o, c
      |  FROM ohlco)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_parkinson_vol" ->
      s"""WITH $ohlcoCte
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  ROUND(sqrt(CAST(SUM(hl_u * hl_u) AS DOUBLE)
        |    / (4.0 * ln(2.0) * COUNT(*)) / 1e12), 6) AS park_sigma
        |FROM rng GROUP BY 1 HAVING COUNT(*) >= 2
        |ORDER BY event_type""".stripMargin,

    "q_garman_klass" ->
      s"""WITH $ohlcoCte,
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(hl_u * hl_u) AS BIGINT) AS s_hl2,
        |    CAST(SUM(co_u * co_u) AS BIGINT) AS s_co2
        |  FROM rng GROUP BY 1 HAVING COUNT(*) >= 2)
        |SELECT event_type, n_days,
        |  ROUND(sqrt(GREATEST((0.5 * s_hl2 - (2.0 * ln(2.0) - 1.0)
        |    * s_co2) / n_days / 1e12, 0.0)), 6) AS gk_sigma
        |FROM g ORDER BY event_type""".stripMargin,

    "q_rogers_satchell" ->
      s"""WITH $ohlcoCte
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  ROUND(sqrt(GREATEST(
        |    CAST(SUM(hc_u * ho_u + lc_u * lo_u) AS DOUBLE)
        |    / COUNT(*) / 1e12, 0.0)), 6) AS rs_sigma
        |FROM rng GROUP BY 1 HAVING COUNT(*) >= 2
        |ORDER BY event_type""".stripMargin,

    "q_yang_zhang" ->
      s"""WITH $ohlcoCte,
        |lagd AS (
        |  SELECT event_type, d, hl_u, co_u, hc_u, ho_u, lc_u, lo_u, o,
        |    lag(c) OVER (PARTITION BY event_type ORDER BY d) AS pc
        |  FROM rng),
        |dd AS (
        |  SELECT event_type,
        |    CAST(ROUND(ln(CAST(o AS DOUBLE) / pc) * 1e6) AS BIGINT)
        |      AS on_u,
        |    co_u, hc_u, ho_u, lc_u, lo_u
        |  FROM lagd WHERE pc IS NOT NULL AND pc > 0),
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(on_u) AS BIGINT) AS s_on,
        |    CAST(SUM(on_u * on_u) AS BIGINT) AS s_on2,
        |    CAST(SUM(co_u) AS BIGINT) AS s_oc,
        |    CAST(SUM(co_u * co_u) AS BIGINT) AS s_oc2,
        |    CAST(SUM(hc_u * ho_u + lc_u * lo_u) AS BIGINT) AS s_rs
        |  FROM dd GROUP BY 1 HAVING COUNT(*) >= 3),
        |v AS (
        |  SELECT event_type, n,
        |    (CAST(n AS DOUBLE) * s_on2 - CAST(s_on AS DOUBLE) * s_on)
        |      / n / (n - 1) / 1e12 AS var_on,
        |    (CAST(n AS DOUBLE) * s_oc2 - CAST(s_oc AS DOUBLE) * s_oc)
        |      / n / (n - 1) / 1e12 AS var_oc,
        |    CAST(s_rs AS DOUBLE) / n / 1e12 AS var_rs,
        |    0.34 / (1.34 + CAST(n + 1 AS DOUBLE) / (n - 1)) AS k
        |  FROM g)
        |SELECT event_type, n AS n_days,
        |  ROUND(sqrt(GREATEST(var_on, 0.0)), 6) AS sigma_overnight,
        |  ROUND(sqrt(GREATEST(var_oc, 0.0)), 6) AS sigma_openclose,
        |  ROUND(sqrt(GREATEST(var_rs, 0.0)), 6) AS sigma_rs,
        |  ROUND(sqrt(GREATEST(var_on + k * var_oc + (1.0 - k) * var_rs,
        |    0.0)), 6) AS sigma_yz
        |FROM v ORDER BY event_type""".stripMargin,

    "q_treynor" ->
      s"""WITH $retCte,
        |$mktCte,
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(r_u) AS BIGINT) AS sr,
        |    CAST(SUM(rm_u) AS BIGINT) AS sm,
        |    CAST(SUM(r_u * rm_u) AS BIGINT) AS srm,
        |    CAST(SUM(rm_u * rm_u) AS BIGINT) AS smm
        |  FROM ret JOIN mret USING (d) GROUP BY 1),
        |f AS (
        |  SELECT event_type, n, sr,
        |    (CAST(n AS DOUBLE) * srm - CAST(sr AS DOUBLE) * sm)
        |    / (CAST(n AS DOUBLE) * smm - CAST(sm AS DOUBLE) * sm)
        |      AS beta
        |  FROM g)
        |SELECT event_type, n AS n_ret,
        |  ROUND(beta, 6) AS beta,
        |  ROUND(sr / n / 1e6, 6) AS mean_ret_daily,
        |  ROUND(sr / n / 1e6 / beta, 6) AS treynor
        |FROM f ORDER BY event_type""".stripMargin,

    "q_downside_beta" ->
      s"""WITH $retCte,
        |$mktCte,
        |g AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN rm_u < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_d,
        |    CAST(SUM(CASE WHEN rm_u < 0 THEN r_u ELSE 0 END) AS BIGINT)
        |      AS sr_d,
        |    CAST(SUM(CASE WHEN rm_u < 0 THEN rm_u ELSE 0 END) AS BIGINT)
        |      AS sm_d,
        |    CAST(SUM(CASE WHEN rm_u < 0 THEN r_u * rm_u ELSE 0 END)
        |      AS BIGINT) AS srm_d,
        |    CAST(SUM(CASE WHEN rm_u < 0 THEN rm_u * rm_u ELSE 0 END)
        |      AS BIGINT) AS smm_d,
        |    CAST(SUM(CASE WHEN rm_u > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_u,
        |    CAST(SUM(CASE WHEN rm_u > 0 THEN r_u ELSE 0 END) AS BIGINT)
        |      AS sr_u,
        |    CAST(SUM(CASE WHEN rm_u > 0 THEN rm_u ELSE 0 END) AS BIGINT)
        |      AS sm_u,
        |    CAST(SUM(CASE WHEN rm_u > 0 THEN r_u * rm_u ELSE 0 END)
        |      AS BIGINT) AS srm_u,
        |    CAST(SUM(CASE WHEN rm_u > 0 THEN rm_u * rm_u ELSE 0 END)
        |      AS BIGINT) AS smm_u
        |  FROM ret JOIN mret USING (d) GROUP BY 1),
        |f AS (
        |  SELECT event_type, n_d, n_u,
        |    (CAST(n_d AS DOUBLE) * srm_d - CAST(sr_d AS DOUBLE) * sm_d)
        |    / (CAST(n_d AS DOUBLE) * smm_d - CAST(sm_d AS DOUBLE) * sm_d)
        |      AS beta_down,
        |    (CAST(n_u AS DOUBLE) * srm_u - CAST(sr_u AS DOUBLE) * sm_u)
        |    / (CAST(n_u AS DOUBLE) * smm_u - CAST(sm_u AS DOUBLE) * sm_u)
        |      AS beta_up
        |  FROM g WHERE n_d >= 2 AND n_u >= 2)
        |SELECT event_type, n_d AS n_down, n_u AS n_up,
        |  ROUND(beta_down, 6) AS beta_down,
        |  ROUND(beta_up, 6) AS beta_up,
        |  ROUND(beta_down / beta_up, 6) AS asymmetry
        |FROM f ORDER BY event_type""".stripMargin
  )
}
