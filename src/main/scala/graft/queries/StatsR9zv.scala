package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Round-9 wave 49 (SURVEY.md §2 B.10b): SMA crossover counting on
  * the exact 4·SMA5 − SMA20 cleared sign grid, classic floor pivot
  * points (×3-cleared), a Simpson's-paradox reversal detector
  * (weekend → high-value association, stratified by type), a
  * fixed-effect meta-analysis across the type "studies" (Haldane-
  * corrected log-ORs, inverse-variance pooling, Cochran Q, I²), the
  * Rogan-Gladen prevalence correction, and direct standardization of
  * high-value rates to the overall hour-of-day mix.
  */
object StatsR9zv {

  import DailyGrid.wo

  /** Per-(type, 2×2) weekend × high-value (v>100, stated) counts
    * with the Haldane +0.5 correction applied in the chain. */
  private def strata2x2(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type").as("t"),
        when(dayofweek(col("ts")).isin(1, 7), 1L).otherwise(0L)
          .as("e"),
        when(col("value") > 100, 1L).otherwise(0L).as("y"))
      .groupBy("t")
      .agg(sum(when(col("e") === 1 && col("y") === 1, 1L)
        .otherwise(0L)).as("a"),
        sum(when(col("e") === 1 && col("y") === 0, 1L).otherwise(0L))
          .as("b"),
        sum(when(col("e") === 0 && col("y") === 1, 1L).otherwise(0L))
          .as("c"),
        sum(when(col("e") === 0 && col("y") === 0, 1L).otherwise(0L))
          .as("dd"))

  private val strataCte: String =
    """st AS (
      |  SELECT event_type AS t,
      |    CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6) AND value > 100
      |      THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6)
      |      AND NOT value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6)
      |      AND value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6)
      |      AND NOT value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS dd
      |  FROM events GROUP BY 1)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // SMA 5/20 crossovers per type: sign of the EXACT 4·sum5 − sum20
    // long; crossings counted between consecutive NONZERO signs
    // (zeros dropped, stated).
    "q_sma_crossover" -> ((s, d) => {
      val w5 = wo.rowsBetween(-4, 0)
      val w20 = wo.rowsBetween(-19, 0)
      val base = DailyGrid.ohlc(s, d)
        .withColumn("n20", count(lit(1)).over(w20))
        .withColumn("sgn", signum((lit(4L) * sum("c").over(w5)
          - sum("c").over(w20)).cast("double")).cast("long"))
        .filter(col("n20") === 20 && col("sgn") =!= 0)
      base.withColumn("ps", lag("sgn", 1).over(wo))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days_eval"),
          sum(when(col("ps").isNotNull && col("ps") === -1
            && col("sgn") === 1, 1L).otherwise(0L)).as("golden_crosses"),
          sum(when(col("ps").isNotNull && col("ps") === 1
            && col("sgn") === -1, 1L).otherwise(0L)).as("death_crosses"))
        .orderBy("event_type")
    }),

    // Floor pivots from the PREVIOUS day's centi OHLC: pivot =
    // P3/300, R1 = (2·P3 − 3l)/300, S1 = (2·P3 − 3h)/300 — all
    // ×3-cleared longs divided once; the breakout flag is exact
    // (300·c vs the R1 numerator).
    "q_pivot_points" -> ((s, d) => {
      DailyGrid.ohlc(s, d)
        .withColumn("p3", lag(col("h") + col("l") + col("c"), 1).over(wo))
        .withColumn("ph", lag("h", 1).over(wo))
        .withColumn("pl", lag("l", 1).over(wo))
        .filter(col("p3").isNotNull)
        .select(col("event_type"), col("d").cast("string").as("d"),
          round(col("p3") / 300.0, 6).as("pivot"),
          round((lit(2L) * col("p3") - lit(3L) * col("pl")) / 300.0, 6)
            .as("r1"),
          round((lit(2L) * col("p3") - lit(3L) * col("ph")) / 300.0, 6)
            .as("s1"),
          (lit(300L) * col("c")
            > lit(2L) * col("p3") * 100 - lit(3L) * col("pl") * 100)
            .as("above_r1"))
        .orderBy("event_type", "d")
    }),

    // Simpson's-paradox detector: overall weekend→high-value OR vs
    // the per-type ORs (Haldane +0.5); paradox iff the overall
    // direction differs from EVERY stratum's (stated).
    "q_simpson_paradox" -> ((s, d) => {
      val st = strata2x2(s, d).localCheckpoint(eager = true)
      val per = st.withColumn("lor",
        log(((col("a") + lit(0.5)) * (col("dd") + lit(0.5)))
          / ((col("b") + lit(0.5)) * (col("c") + lit(0.5)))))
      val overall = st.agg(sum("a").as("a"), sum("b").as("b"),
          sum("c").as("c"), sum("dd").as("dd"))
        .withColumn("lor",
          log(((col("a") + lit(0.5)) * (col("dd") + lit(0.5)))
            / ((col("b") + lit(0.5)) * (col("c") + lit(0.5)))))
      val flags = per.crossJoin(broadcast(
          overall.select(col("lor").as("olor"))))
        .agg(max(col("olor")).as("olor"),
          sum(when(signum(col("lor")) === signum(col("olor")), 1L)
            .otherwise(0L)).as("agree"),
          count(lit(1)).as("k"))
      val rows = per.select(col("t").as("stratum"),
          round(exp(col("lor")), 4).as("odds_ratio"))
        .union(overall.select(lit("OVERALL").as("stratum"),
          round(exp(col("lor")), 4).as("odds_ratio")))
      rows.crossJoin(broadcast(flags.select(
          (col("agree") === 0).as("paradox"))))
        .orderBy("stratum")
    }),

    // Fixed-effect meta-analysis across the 5 type studies: Haldane
    // log-ORs, w = 1/Σ(1/cell); per-study w, w·lnOR, w·lnOR² snapped
    // to 1e6 so the pools are exact; Q = S2 − S1²/S0,
    // I² = max(0, (Q − df)/Q).
    "q_meta_fixed_effect" -> ((s, d) => {
      val per = strata2x2(s, d)
        .withColumn("lor",
          log(((col("a") + lit(0.5)) * (col("dd") + lit(0.5)))
            / ((col("b") + lit(0.5)) * (col("c") + lit(0.5)))))
        .withColumn("v", lit(1.0) / (col("a") + lit(0.5))
          + lit(1.0) / (col("b") + lit(0.5))
          + lit(1.0) / (col("c") + lit(0.5))
          + lit(1.0) / (col("dd") + lit(0.5)))
        .withColumn("w_u", round(lit(1e6) / col("v")).cast("long"))
        .withColumn("wl_u", round(col("lor") / col("v") * 1e6)
          .cast("long"))
        .withColumn("wll_u", round(col("lor") * col("lor") / col("v")
          * 1e6).cast("long"))
      per.agg(count(lit(1)).as("k"), sum("w_u").as("s0"),
          sum("wl_u").as("s1"), sum("wll_u").as("s2"))
        .filter(col("s0") > 0)
        .withColumn("pooled", col("s1").cast("double") / col("s0"))
        .withColumn("q", (col("s2").cast("double")
          - col("s1").cast("double") * col("s1") / col("s0")) / 1e6)
        .select(col("k").as("n_studies"),
          round(exp(col("pooled")), 6).as("pooled_or"),
          round(col("q"), 6).as("cochran_q"),
          round(greatest(lit(0.0), (col("q") - (col("k") - 1))
            / col("q")), 6).as("i_squared"))
    }),

    // Rogan-Gladen: sens/spec of the v>147 purchase classifier from
    // the FULL data, apparent prevalence from the event_id%7 sample;
    // adjusted = (app + spec − 1)/(sens + spec − 1).
    "q_rogan_gladen" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select((col("value") > 147).as("pred"),
          (col("event_type") === "purchase").as("y"), col("event_id"))
        .localCheckpoint(eager = true)
      val fullStats = base.agg(
        sum(when(col("pred") && col("y"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("pred") && col("y"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && !col("y"), 1L).otherwise(0L)).as("tn"),
        sum(when(col("pred") && !col("y"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("y"), 1L).otherwise(0L)).as("p"),
        count(lit(1)).as("n"))
      val smp = base.filter(col("event_id") % 7 === 0)
        .agg(sum(when(col("pred"), 1L).otherwise(0L)).as("app_k"),
          count(lit(1)).as("app_n"))
      fullStats.crossJoin(broadcast(smp))
        .withColumn("sens", col("tp").cast("double")
          / (col("tp") + col("fn")))
        .withColumn("spec", col("tn").cast("double")
          / (col("tn") + col("fp")))
        .withColumn("app", col("app_k").cast("double") / col("app_n"))
        .filter(col("sens") + col("spec") =!= 1.0)
        // Youden can be ≤ 0 on a weak scorer — clamp to [0,1] (stated)
        .select(round(col("sens"), 6).as("sensitivity"),
          round(col("spec"), 6).as("specificity"),
          round(col("app"), 6).as("apparent_prevalence"),
          round(greatest(lit(0.0), least(lit(1.0),
            (col("app") + col("spec") - 1)
              / (col("sens") + col("spec") - 1))), 6)
            .as("adjusted_prevalence"),
          round(col("p").cast("double") / col("n"), 6)
            .as("true_prevalence"))
    }),

    // Direct standardization of the high-value rate to the overall
    // hour-of-day mix: r_std(t) = Σ_h W_h·r_{t,h}, per-hour term
    // snapped 1e9 (cells without events contribute 0, stated).
    "q_direct_standardization" -> ((s, d) => {
      val cell = Tables.events(s, d)
        .select(col("event_type").as("t"),
          hour(col("ts")).cast("long").as("h"),
          when(col("value") > 100, 1L).otherwise(0L).as("y"))
        .groupBy("t", "h")
        .agg(count(lit(1)).as("n"), sum("y").as("k"))
        .localCheckpoint(eager = true)
      val hw = cell.groupBy("h").agg(sum("n").as("nh"))
      val tot = cell.agg(sum("n").as("nn"))
      val crude = cell.groupBy("t")
        .agg(sum("k").as("kt"), sum("n").as("nt"))
      val std = cell.join(hw, "h").crossJoin(broadcast(tot))
        .withColumn("term_u",
          round(col("nh").cast("double") / col("nn")
            * (col("k").cast("double") / col("n")) * 1e9).cast("long"))
        .groupBy("t").agg(sum("term_u").as("su"))
      crude.join(std, "t")
        .select(col("t").as("event_type"),
          round(col("kt").cast("double") / col("nt"), 6)
            .as("crude_rate"),
          round(col("su") / 1e9, 6).as("standardized_rate"))
        .orderBy("event_type")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical cleared sign grid
    "q_sma_crossover" -> (s"WITH ${DailyGrid.dailyCte}," +
      """
        |w AS (
        |  SELECT event_type, d,
        |    COUNT(*) OVER w20 AS n20,
        |    CAST(SIGN(4 * SUM(c) OVER w5 - SUM(c) OVER w20)
        |      AS BIGINT) AS sgn
        |  FROM daily
        |  WINDOW w5 AS (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        |    w20 AS (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT event_type, d, sgn,
        |    lag(sgn) OVER (PARTITION BY event_type ORDER BY d) AS ps
        |  FROM w WHERE n20 = 20 AND sgn <> 0)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days_eval,
        |  CAST(SUM(CASE WHEN ps = -1 AND sgn = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS golden_crosses,
        |  CAST(SUM(CASE WHEN ps = 1 AND sgn = -1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS death_crosses
        |FROM f GROUP BY 1 ORDER BY event_type""".stripMargin),

    // identical ×3-cleared pivots
    "q_pivot_points" -> (s"WITH ${DailyGrid.dailyCte}," +
      """
        |lg AS (
        |  SELECT event_type, d, c,
        |    lag(h + l + c) OVER w AS p3,
        |    lag(h) OVER w AS ph, lag(l) OVER w AS pl
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d))
        |SELECT event_type, CAST(d AS VARCHAR) AS d,
        |  ROUND(p3 / 300.0, 6) AS pivot,
        |  ROUND((2 * p3 - 3 * pl) / 300.0, 6) AS r1,
        |  ROUND((2 * p3 - 3 * ph) / 300.0, 6) AS s1,
        |  300 * c > 2 * p3 * 100 - 3 * pl * 100 AS above_r1
        |FROM lg WHERE p3 IS NOT NULL
        |ORDER BY event_type, d""".stripMargin),

    // identical Haldane ORs and agreement flag
    "q_simpson_paradox" -> (s"WITH $strataCte," +
      """
        |per AS (
        |  SELECT t,
        |    LN(((a + 0.5) * (dd + 0.5)) / ((b + 0.5) * (c + 0.5)))
        |      AS lor
        |  FROM st),
        |ov AS (
        |  SELECT LN(((SUM(a) + 0.5) * (SUM(dd) + 0.5))
        |    / ((SUM(b) + 0.5) * (SUM(c) + 0.5))) AS olor
        |  FROM st),
        |fl AS (
        |  SELECT CAST(SUM(CASE WHEN SIGN(per.lor) = SIGN(ov.olor)
        |    THEN 1 ELSE 0 END) AS BIGINT) = 0 AS paradox
        |  FROM per, ov),
        |rows_ AS (
        |  SELECT t AS stratum, ROUND(exp(lor), 4) AS odds_ratio
        |  FROM per
        |  UNION ALL
        |  SELECT 'OVERALL', ROUND(exp(olor), 4) FROM ov)
        |SELECT rows_.stratum, rows_.odds_ratio, fl.paradox
        |FROM rows_, fl ORDER BY stratum""".stripMargin),

    // identical snapped inverse-variance pools
    "q_meta_fixed_effect" -> (s"WITH $strataCte," +
      """
        |per AS (
        |  SELECT t,
        |    LN(((a + 0.5) * (dd + 0.5)) / ((b + 0.5) * (c + 0.5)))
        |      AS lor,
        |    1.0 / (a + 0.5) + 1.0 / (b + 0.5) + 1.0 / (c + 0.5)
        |      + 1.0 / (dd + 0.5) AS v
        |  FROM st),
        |sn AS (
        |  SELECT
        |    CAST(ROUND(1e6 / v) AS BIGINT) AS w_u,
        |    CAST(ROUND(lor / v * 1e6) AS BIGINT) AS wl_u,
        |    CAST(ROUND(lor * lor / v * 1e6) AS BIGINT) AS wll_u
        |  FROM per),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(w_u) AS s0,
        |    SUM(wl_u) AS s1, SUM(wll_u) AS s2
        |  FROM sn)
        |SELECT k AS n_studies,
        |  ROUND(exp(CAST(s1 AS DOUBLE) / s0), 6) AS pooled_or,
        |  ROUND((CAST(s2 AS DOUBLE)
        |    - CAST(s1 AS DOUBLE) * s1 / s0) / 1e6, 6) AS cochran_q,
        |  ROUND(GREATEST(0.0, ((CAST(s2 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * s1 / s0) / 1e6 - (k - 1))
        |    / ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / s0)
        |      / 1e6)), 6) AS i_squared
        |FROM ag WHERE s0 > 0""".stripMargin),

    // identical sens/spec chain
    "q_rogan_gladen" ->
      """WITH base AS (
        |  SELECT value > 147 AS pred, event_type = 'purchase' AS y,
        |    event_id
        |  FROM events),
        |fs AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN pred AND y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN NOT pred AND y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN NOT pred AND NOT y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tn,
        |    CAST(SUM(CASE WHEN pred AND NOT y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM base),
        |smp AS (
        |  SELECT CAST(SUM(CASE WHEN pred THEN 1 ELSE 0 END)
        |      AS BIGINT) AS app_k,
        |    CAST(COUNT(*) AS BIGINT) AS app_n
        |  FROM base WHERE event_id % 7 = 0),
        |st AS (
        |  SELECT CAST(tp AS DOUBLE) / (tp + fn) AS sens,
        |    CAST(tn AS DOUBLE) / (tn + fp) AS spec,
        |    CAST(app_k AS DOUBLE) / app_n AS app,
        |    CAST(p AS DOUBLE) / n AS truep
        |  FROM fs, smp)
        |SELECT ROUND(sens, 6) AS sensitivity,
        |  ROUND(spec, 6) AS specificity,
        |  ROUND(app, 6) AS apparent_prevalence,
        |  ROUND(GREATEST(0.0, LEAST(1.0,
        |    (app + spec - 1) / (sens + spec - 1))), 6)
        |    AS adjusted_prevalence,
        |  ROUND(truep, 6) AS true_prevalence
        |FROM st WHERE sens + spec <> 1.0""".stripMargin,

    // identical snapped hour-mix terms
    "q_direct_standardization" ->
      """WITH cell AS (
        |  SELECT event_type AS t,
        |    CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k
        |  FROM events GROUP BY 1, 2),
        |hw AS (SELECT h, SUM(n) AS nh FROM cell GROUP BY 1),
        |tot AS (SELECT SUM(n) AS nn FROM cell),
        |crude AS (
        |  SELECT t, SUM(k) AS kt, SUM(n) AS nt FROM cell GROUP BY 1),
        |std AS (
        |  SELECT cell.t,
        |    SUM(CAST(ROUND(CAST(hw.nh AS DOUBLE) / tot.nn
        |      * (CAST(cell.k AS DOUBLE) / cell.n) * 1e9) AS BIGINT))
        |      AS su
        |  FROM cell JOIN hw ON cell.h = hw.h, tot
        |  GROUP BY 1)
        |SELECT crude.t AS event_type,
        |  ROUND(CAST(crude.kt AS DOUBLE) / crude.nt, 6) AS crude_rate,
        |  ROUND(std.su / 1e9, 6) AS standardized_rate
        |FROM crude JOIN std ON crude.t = std.t
        |ORDER BY event_type""".stripMargin
  )
}
