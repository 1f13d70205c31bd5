package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-8 wave 7 (SURVEY.md §2 B.10b): the technical-indicator
  * family over the daily OHLC grid (Bollinger bands, ATR, OBV,
  * stochastic oscillator, rolling correlation) plus the classifier-
  * evaluation staples (Brier, log-loss, MCC, Cohen's d, Poisson
  * dispersion). Every window partitions by event_type over the
  * bounded day grid — at 100 TB the per-partition state is one row
  * per day, never per event; the event scan is one partial agg.
  */
object StatsR8e {

  import DailyGrid.{dailyCte, wo}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Bollinger bands (7-day, k=2) on the daily close: rolling mean
    // ± 2·sd from exact centi sums (one ROWS window), full windows
    // only. The breakout flag compares the exact close against the
    // double bands with the identical expression in the oracle.
    "q_bollinger" -> ((s, d) => {
      val w7 = wo.rowsBetween(-6, 0)
      DailyGrid.ohlc(s, d)
        .withColumn("n7", count(lit(1)).over(w7))
        .withColumn("sm", sum("c").over(w7))
        .withColumn("sq", sum(col("c") * col("c")).over(w7))
        .filter(col("n7") === 7)
        .withColumn("mid_d", col("sm") / 7.0)
        .withColumn("sd_d", sqrt((col("sq")
          - col("sm").cast("double") * col("sm") / 7.0) / 6.0))
        .select(col("event_type"), col("d"),
          round(col("c") / 100.0, 4).as("close"),
          round(col("mid_d") / 100.0, 4).as("mid"),
          round((col("mid_d") + col("sd_d") * 2) / 100.0, 4)
            .as("upper_band"),
          round((col("mid_d") - col("sd_d") * 2) / 100.0, 4)
            .as("lower_band"),
          when(col("c") > col("mid_d") + col("sd_d") * 2, 1L)
            .when(col("c") < col("mid_d") - col("sd_d") * 2, -1L)
            .otherwise(0L).as("breakout"))
        .orderBy("event_type", "d")
    }),

    // Average true range (7-day): TR = max(h−l, |h−prev close|,
    // |l−prev close|) in exact centi longs (greatest skips the
    // null first-day lag in BOTH engines, so day 1 degrades to
    // h−l), ATR = full-window rolling mean.
    "q_atr" -> ((s, d) => {
      val w7 = wo.rowsBetween(-6, 0)
      DailyGrid.ohlc(s, d)
        .withColumn("pc", lag("c", 1).over(wo))
        .withColumn("tr", greatest(col("h") - col("l"),
          abs(col("h") - col("pc")), abs(col("l") - col("pc"))))
        .withColumn("n7", count(lit(1)).over(w7))
        .withColumn("st", sum("tr").over(w7))
        .filter(col("n7") === 7)
        .select(col("event_type"), col("d"),
          round(col("tr") / 100.0, 4).as("true_range"),
          round(col("st") / 7.0 / 100.0, 4).as("atr7"))
        .orderBy("event_type", "d")
    }),

    // On-balance volume: sign of the daily close change × volume,
    // accumulated — all exact integers, one prefix-sum window.
    "q_obv" -> ((s, d) => {
      DailyGrid.ohlc(s, d)
        .withColumn("dir", coalesce(
          signum(col("c") - lag("c", 1).over(wo)).cast("long"), lit(0L)))
        .withColumn("obv", sum(col("dir") * col("vol"))
          .over(wo.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("event_type"), col("d"), col("dir"), col("vol"),
          col("obv"))
        .orderBy("event_type", "d")
    }),

    // Stochastic oscillator: %K = 100·(close − low14)/(high14 − low14)
    // snapped to the 1e6 grid (exact long), %D = 3-day mean of the
    // snapped %K — so the smoothing runs on exact integers. Both
    // windows gate on full history.
    "q_stochastic" -> ((s, d) => {
      val w14 = wo.rowsBetween(-13, 0)
      val w3 = wo.rowsBetween(-2, 0)
      DailyGrid.ohlc(s, d)
        .withColumn("n14", count(lit(1)).over(w14))
        .withColumn("h14", max("h").over(w14))
        .withColumn("l14", min("l").over(w14))
        .filter(col("n14") === 14 && col("h14") > col("l14"))
        .withColumn("k_u", round((col("c") - col("l14")) * 1e8
          / (col("h14") - col("l14"))).cast("long"))
        .withColumn("n3", count(lit(1)).over(w3))
        .withColumn("sk", sum("k_u").over(w3))
        .filter(col("n3") === 3)
        .select(col("event_type"), col("d"),
          round(col("k_u") / 1e6, 4).as("pct_k"),
          round(col("sk") / 3.0 / 1e6, 4).as("pct_d"))
        .orderBy("event_type", "d")
    }),

    // 14-day rolling correlation between the click and view daily
    // revenue series: exact centi sums/products inside the window
    // (daily totals keep n·Σab far inside long range), one double
    // expression per emitted day. The day-grid join is |days| rows.
    "q_rolling_corr" -> ((s, d) => {
      // bounded grain: one row per day
      val w14 = Window.orderBy("d").rowsBetween(-13, 0)
      DailyGrid.centiOf(s, d, "click", "a")
        .join(DailyGrid.centiOf(s, d, "view", "b"), "d")
        .withColumn("n", count(lit(1)).over(w14))
        .withColumn("sa", sum("a").over(w14))
        .withColumn("sb", sum("b").over(w14))
        .withColumn("sab", sum(col("a") * col("b")).over(w14))
        .withColumn("saa", sum(col("a") * col("a")).over(w14))
        .withColumn("sbb", sum(col("b") * col("b")).over(w14))
        .filter(col("n") === 14)
        .select(col("d"), col("n"),
          round((lit(14.0) * col("sab")
              - col("sa").cast("double") * col("sb"))
            / sqrt((lit(14.0) * col("saa")
                - col("sa").cast("double") * col("sa"))
              * (lit(14.0) * col("sbb")
                - col("sb").cast("double") * col("sb"))), 6)
            .as("corr14"))
        .orderBy("d")
    }),

    // Brier score per day of the props.k/100 "purchase propensity"
    // against the purchase label: Σ(k − 100y)² stays an exact long,
    // one division per day row.
    "q_brier_score" -> ((s, d) =>
      Tables.events(s, d)
        .select(to_date(col("ts")).as("d"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("y"))
        .withColumn("se", (col("k") - col("y") * 100)
          * (col("k") - col("y") * 100))
        .groupBy("d")
        .agg(count(lit(1)).as("n"),
          round(sum("y").cast("double") / count(lit(1)), 6)
            .as("base_rate"),
          round(sum("se") / (count(lit(1)) * 1e4), 6).as("brier"))
        .orderBy("d")),

    // Log-loss per day of the same propensity, p clamped to
    // [0.01, 0.99]; per-row −[y·ln p + (1−y)·ln(1−p)] snaps to the
    // 1e9 grid before the distributed sum.
    "q_log_loss" -> ((s, d) =>
      Tables.events(s, d)
        .select(to_date(col("ts")).as("d"),
          greatest(least(get_json_object(col("props"), "$.k")
            .cast("long"), lit(99L)), lit(1L)).cast("double")
            ./(100.0).as("p"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("y"))
        .withColumn("t_u", round(lit(-1.0) * (col("y") * log(col("p"))
          + (lit(1) - col("y")) * log(lit(1.0) - col("p"))) * 1e9)
          .cast("long"))
        .groupBy("d")
        .agg(count(lit(1)).as("n"),
          round(sum("t_u") / count(lit(1)) / 1e9, 6).as("log_loss"))
        .orderBy("d")),

    // Matthews correlation of the thresholded propensity (k ≥ 50)
    // against the purchase label: exact confusion counts, MCC and F1
    // as one double expression each. One corpus scan, one row out.
    "q_matthews_corr" -> ((s, d) =>
      Tables.events(s, d)
        .select(when(get_json_object(col("props"), "$.k")
            .cast("long") >= 50, 1L).otherwise(0L).as("pred"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("y"))
        .agg(
          sum(when(col("pred") === 1 && col("y") === 1, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("pred") === 1 && col("y") === 0, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("pred") === 0 && col("y") === 1, 1L)
            .otherwise(0L)).as("fn"),
          sum(when(col("pred") === 0 && col("y") === 0, 1L)
            .otherwise(0L)).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          round((col("tp").cast("double") * col("tn")
              - col("fp").cast("double") * col("fn"))
            / sqrt((col("tp") + col("fp")).cast("double")
              * (col("tp") + col("fn"))
              * (col("tn").cast("double") + col("fp"))
              * (col("tn") + col("fn"))), 6).as("mcc"),
          round(lit(2.0) * col("tp")
            / (lit(2.0) * col("tp") + col("fp") + col("fn")), 6)
            .as("f1"))),

    // Cohen's d (and Hedges' g) between purchase and view values:
    // pooled sd from exact centi moments; the two-group pivot is a
    // bounded conditional agg, no join.
    "q_cohens_d" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("v"))
        .agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n1"),
          sum(when(col("event_type") === "purchase", col("v")))
            .as("s1"),
          sum(when(col("event_type") === "purchase", col("v") * col("v")))
            .as("q1"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("n2"),
          sum(when(col("event_type") === "view", col("v"))).as("s2"),
          sum(when(col("event_type") === "view", col("v") * col("v")))
            .as("q2"))
        .withColumn("m1", col("s1").cast("double") / col("n1") / 100.0)
        .withColumn("m2", col("s2").cast("double") / col("n2") / 100.0)
        .withColumn("sp", sqrt(((col("q1")
            - col("s1").cast("double") * col("s1") / col("n1"))
          + (col("q2")
            - col("s2").cast("double") * col("s2") / col("n2")))
          / (col("n1") + col("n2") - 2)) / 100.0)
        .select(col("n1"), col("n2"),
          round(col("m1") - col("m2"), 4).as("mean_diff"),
          round((col("m1") - col("m2")) / col("sp"), 6).as("cohens_d"),
          round((col("m1") - col("m2")) / col("sp")
            * (lit(1.0) - lit(3.0)
              / ((col("n1") + col("n2")) * 4.0 - 9.0)),
            6).as("hedges_g"))),

    // Poisson goodness-of-fit (index of dispersion) on daily counts
    // per type: D = s²/mean over the bounded day grid, χ² = (k−1)·D —
    // the overdispersion gate before any Poisson rate model.
    "q_poisson_gof" -> ((s, d) =>
      DailyGrid.mean(s, d).select(col("event_type"), col("cnt").as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("k"), sum("c").as("n"),
          sum(col("c") * col("c")).as("q"))
        .withColumn("mean_d", col("n").cast("double") / col("k"))
        .withColumn("var_d", (col("q")
          - col("n").cast("double") * col("n") / col("k"))
          / (col("k") - 1))
        .select(col("event_type"), col("k").as("n_days"),
          col("n").as("n_events"),
          round(col("mean_d"), 4).as("mean_daily"),
          round(col("var_d"), 4).as("var_daily"),
          round(col("var_d") / col("mean_d"), 6).as("dispersion"),
          round((col("k") - 1) * col("var_d") / col("mean_d"), 4)
            .as("chi2"))
        .orderBy("event_type"))
  )

  val oracle: Map[String, String] = Map(
    // identical exact centi sums and double band expressions
    "q_bollinger" ->
      s"""WITH $dailyCte,
        |w AS (
        |  SELECT event_type, d, c,
        |    COUNT(*) OVER w7 AS n7,
        |    SUM(c) OVER w7 AS sm,
        |    SUM(c * c) OVER w7 AS sq
        |  FROM daily
        |  WINDOW w7 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |b AS (
        |  SELECT event_type, d, c, sm / 7.0 AS mid_d,
        |    sqrt((sq - CAST(sm AS DOUBLE) * sm / 7.0) / 6.0) AS sd_d
        |  FROM w WHERE n7 = 7)
        |SELECT event_type, d, ROUND(c / 100.0, 4) AS close,
        |  ROUND(mid_d / 100.0, 4) AS mid,
        |  ROUND((mid_d + 2 * sd_d) / 100.0, 4) AS upper_band,
        |  ROUND((mid_d - 2 * sd_d) / 100.0, 4) AS lower_band,
        |  CAST(CASE WHEN c > mid_d + 2 * sd_d THEN 1
        |       WHEN c < mid_d - 2 * sd_d THEN -1 ELSE 0 END AS BIGINT)
        |    AS breakout
        |FROM b ORDER BY event_type, d""".stripMargin,

    // identical exact TR (greatest skips the null first-day lag)
    "q_atr" ->
      s"""WITH $dailyCte,
        |tr AS (
        |  SELECT event_type, d,
        |    greatest(h - l,
        |      abs(h - lag(c) OVER (PARTITION BY event_type ORDER BY d)),
        |      abs(l - lag(c) OVER (PARTITION BY event_type ORDER BY d)))
        |      AS tr
        |  FROM daily),
        |w AS (
        |  SELECT event_type, d, tr,
        |    COUNT(*) OVER w7 AS n7, SUM(tr) OVER w7 AS st
        |  FROM tr
        |  WINDOW w7 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, d, ROUND(tr / 100.0, 4) AS true_range,
        |  ROUND(st / 7.0 / 100.0, 4) AS atr7
        |FROM w WHERE n7 = 7 ORDER BY event_type, d""".stripMargin,

    // identical exact sign·volume prefix sums
    "q_obv" ->
      s"""WITH $dailyCte,
        |dir AS (
        |  SELECT event_type, d, vol,
        |    CAST(sign(c - lag(c) OVER (PARTITION BY event_type
        |      ORDER BY d)) AS BIGINT) AS dir
        |  FROM daily)
        |SELECT event_type, d, COALESCE(dir, 0) AS dir, vol,
        |  CAST(SUM(COALESCE(dir, 0) * vol) OVER (PARTITION BY event_type
        |    ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS obv
        |FROM dir ORDER BY event_type, d""".stripMargin,

    // identical 1e6-snapped %K and exact 3-day smoothing
    "q_stochastic" ->
      s"""WITH $dailyCte,
        |w AS (
        |  SELECT event_type, d, c,
        |    COUNT(*) OVER w14 AS n14,
        |    MAX(h) OVER w14 AS h14, MIN(l) OVER w14 AS l14
        |  FROM daily
        |  WINDOW w14 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |k AS (
        |  SELECT event_type, d,
        |    CAST(ROUND((c - l14) * 1e8 / (h14 - l14)) AS BIGINT) AS k_u
        |  FROM w WHERE n14 = 14 AND h14 > l14),
        |dd AS (
        |  SELECT event_type, d, k_u,
        |    COUNT(*) OVER w3 AS n3, SUM(k_u) OVER w3 AS sk
        |  FROM k
        |  WINDOW w3 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
        |SELECT event_type, d, ROUND(k_u / 1e6, 4) AS pct_k,
        |  ROUND(sk / 3.0 / 1e6, 4) AS pct_d
        |FROM dd WHERE n3 = 3 ORDER BY event_type, d""".stripMargin,

    // identical exact window moments and one double corr expression
    "q_rolling_corr" ->
      """WITH da AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS a
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |db AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS b
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |j AS (
        |  SELECT da.d, da.a, db.b FROM da JOIN db ON da.d = db.d),
        |w AS (
        |  SELECT d,
        |    COUNT(*) OVER w14 AS n,
        |    SUM(a) OVER w14 AS sa, SUM(b) OVER w14 AS sb,
        |    SUM(a * b) OVER w14 AS sab,
        |    SUM(a * a) OVER w14 AS saa, SUM(b * b) OVER w14 AS sbb
        |  FROM j
        |  WINDOW w14 AS (ORDER BY d
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT d, n,
        |  ROUND((14.0 * sab - CAST(sa AS DOUBLE) * sb)
        |    / sqrt((14.0 * saa - CAST(sa AS DOUBLE) * sa)
        |         * (14.0 * sbb - CAST(sb AS DOUBLE) * sb)), 6) AS corr14
        |FROM w WHERE n = 14 ORDER BY d""".stripMargin,

    // identical exact squared-error longs
    "q_brier_score" ->
      """WITH t AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |e AS (
        |  SELECT d, y, (k - 100 * y) * (k - 100 * y) AS se FROM t)
        |SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS base_rate,
        |  ROUND(SUM(se) / (COUNT(*) * 1e4), 6) AS brier
        |FROM e GROUP BY 1 ORDER BY d""".stripMargin,

    // identical clamp and 1e9-snapped per-row terms
    "q_log_loss" ->
      """WITH t AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    greatest(least(CAST(json_extract(props, '$.k') AS BIGINT),
        |      99), 1) / 100.0 AS p,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |u AS (
        |  SELECT d,
        |    CAST(ROUND(-1.0 * (y * ln(p) + (1 - y) * ln(1.0 - p)) * 1e9)
        |      AS BIGINT) AS t_u
        |  FROM t)
        |SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(t_u) / COUNT(*) / 1e9, 6) AS log_loss
        |FROM u GROUP BY 1 ORDER BY d""".stripMargin,

    // identical exact confusion counts, one double MCC/F1 each
    "q_matthews_corr" ->
      """WITH t AS (
        |  SELECT
        |    CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) >= 50
        |      THEN 1 ELSE 0 END AS pred,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |c AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tn
        |  FROM t)
        |SELECT tp, fp, fn, tn,
        |  ROUND((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
        |    / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
        |         * (CAST(tn AS DOUBLE) + fp) * (tn + fn)), 6) AS mcc,
        |  ROUND(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1
        |FROM c""".stripMargin,

    // identical exact centi moments and pooled-sd expression
    "q_cohens_d" ->
      """WITH t AS (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |p AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS n1,
        |    SUM(CASE WHEN event_type = 'purchase' THEN v END) AS s1,
        |    SUM(CASE WHEN event_type = 'purchase' THEN v * v END) AS q1,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    SUM(CASE WHEN event_type = 'view' THEN v END) AS s2,
        |    SUM(CASE WHEN event_type = 'view' THEN v * v END) AS q2
        |  FROM t),
        |f AS (
        |  SELECT n1, n2,
        |    CAST(s1 AS DOUBLE) / n1 / 100.0 AS m1,
        |    CAST(s2 AS DOUBLE) / n2 / 100.0 AS m2,
        |    sqrt(((q1 - CAST(s1 AS DOUBLE) * s1 / n1)
        |        + (q2 - CAST(s2 AS DOUBLE) * s2 / n2))
        |      / (n1 + n2 - 2)) / 100.0 AS sp
        |  FROM p)
        |SELECT n1, n2, ROUND(m1 - m2, 4) AS mean_diff,
        |  ROUND((m1 - m2) / sp, 6) AS cohens_d,
        |  ROUND((m1 - m2) / sp
        |    * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6) AS hedges_g
        |FROM f""".stripMargin,

    // identical exact daily-count moments
    "q_poisson_gof" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(c) AS BIGINT) AS n, SUM(c * c) AS q
        |  FROM daily GROUP BY 1)
        |SELECT event_type, k AS n_days, n AS n_events,
        |  ROUND(CAST(n AS DOUBLE) / k, 4) AS mean_daily,
        |  ROUND((q - CAST(n AS DOUBLE) * n / k) / (k - 1), 4)
        |    AS var_daily,
        |  ROUND(((q - CAST(n AS DOUBLE) * n / k) / (k - 1))
        |    / (CAST(n AS DOUBLE) / k), 6) AS dispersion,
        |  ROUND((k - 1) * ((q - CAST(n AS DOUBLE) * n / k) / (k - 1))
        |    / (CAST(n AS DOUBLE) / k), 4) AS chi2
        |FROM m ORDER BY event_type""".stripMargin
  )
}
