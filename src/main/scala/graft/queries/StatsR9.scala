package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-9 wave 1 (SURVEY.md §2 B.10b): the second technical-analysis
  * / portfolio-diagnostics family over the shared daily-OHLC grid
  * (DailyGrid.ohlc — one partial agg over the corpus, |types|·
  * |days| rows out): Williams %R, Donchian channel breakouts, MACD
  * (SMA-signal variant — relational, the Cutler-RSI precedent), CMF,
  * MFI, Sortino, ulcer index, Calmar, market beta, Keltner channels.
  * Exact-integer discipline throughout: centi closes, (h+l+c) triple
  * prices and sign tests stay longs; each statistic snaps to a 1e6
  * grid before any distributed double sum; at most one double
  * division per emitted row, spelled identically in the oracle.
  * Every window partitions by event_type over the bounded day grid —
  * at 100 TB per-partition state is one row per DAY, never per event.
  */
object StatsR9 {

  import DailyGrid.{dailyCte, retCte, wo}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Williams %R (14-day): −100·(h14−c)/(h14−l14), snapped to the
    // percent·1e6 grid exactly like q_stochastic's %K (of which it is
    // the reflection: %R = %K − 100). Full windows, flat-range guard.
    "q_williams_r" -> ((s, d) => {
      val w14 = wo.rowsBetween(-13, 0)
      DailyGrid.ohlc(s, d)
        .withColumn("n14", count(lit(1)).over(w14))
        .withColumn("h14", max("h").over(w14))
        .withColumn("l14", min("l").over(w14))
        .filter(col("n14") === 14 && col("h14") > col("l14"))
        .withColumn("r_u", round((col("h14") - col("c")) * 1e8
          / (col("h14") - col("l14"))).cast("long"))
        // negate in INTEGER space (-0L == 0L) so a flat close-at-high day
        // yields +0.0 on both engines — dividing by -1e6 produces IEEE -0.0
        // in DuckDB but +0.0 via Spark's BigDecimal round (r9 hash-FAIL).
        .select(col("event_type"), col("d"),
          round((-col("r_u")) / 1e6, 4).as("pct_r"))
        .orderBy("event_type", "d")
    }),

    // Donchian channel (14-day) + breakout flags: the channel the
    // CURRENT day trades in is [-13,0] extremes (mid exact /200);
    // breakouts compare today's extremes against the PRIOR 14 days
    // ([-14,-1]) — a new high/low is an escape from yesterday's
    // channel, the turtle-trading entry rule. All comparisons on
    // exact centi longs; both windows full-history gated.
    "q_donchian" -> ((s, d) => {
      val cur = wo.rowsBetween(-13, 0)
      val prev = wo.rowsBetween(-14, -1)
      DailyGrid.ohlc(s, d)
        .withColumn("n_cur", count(lit(1)).over(cur))
        .withColumn("u14", max("h").over(cur))
        .withColumn("d14", min("l").over(cur))
        .withColumn("n_prev", count(lit(1)).over(prev))
        .withColumn("up_p", max("h").over(prev))
        .withColumn("dn_p", min("l").over(prev))
        .filter(col("n_cur") === 14 && col("n_prev") === 14)
        .select(col("event_type"), col("d"),
          round(col("u14") / 100.0, 2).as("upper"),
          round(col("d14") / 100.0, 2).as("lower"),
          round((col("u14") + col("d14")) / 200.0, 4).as("mid"),
          when(col("h") > col("up_p"), 1L).otherwise(0L).as("break_up"),
          when(col("l") < col("dn_p"), 1L).otherwise(0L).as("break_dn"))
        .orderBy("event_type", "d")
    }),

    // MACD (12/26 EMA difference, SMA-9 signal — the SMA signal keeps
    // it relational, the Cutler-RSI precedent): each EMA is the
    // recursion UNROLLED into a weighted sum over the bounded day grid
    // (q_ses_forecast's closed form, seeded at c_1), so the day² self-
    // join is pairs of DAYS (~465/type), never events. Per-pair terms
    // snap to the 1e-6-dollar grid (centi·1e4) before the distributed
    // sum; the SMA signal then averages exact macd_u longs.
    "q_macd" -> ((s, d) => {
      val idx = DailyGrid.ohlc(s, d)
        .select(col("event_type"), col("d"), col("i"), col("c"))
      val b = idx.select(col("event_type").as("et2"), col("i").as("j"),
        col("c").as("cj"))
      def emaW(alpha: Column, beta: Column): Column =
        when(col("j") === 1, pow(beta, col("i") - 1))
          .otherwise(alpha * pow(beta, col("i") - col("j")))
      val a12 = lit(2.0) / lit(13.0); val b12 = lit(11.0) / lit(13.0)
      val a26 = lit(2.0) / lit(27.0); val b26 = lit(25.0) / lit(27.0)
      val ema = idx.join(b, col("et2") === col("event_type")
          && col("j") <= col("i"))
        .groupBy(col("event_type"), col("d"), col("i"))
        .agg(sum(round(emaW(a12, b12) * col("cj") * 1e4).cast("long"))
            .as("e12_u"),
          sum(round(emaW(a26, b26) * col("cj") * 1e4).cast("long"))
            .as("e26_u"))
        .withColumn("macd_u", col("e12_u") - col("e26_u"))
      val w9 = wo.rowsBetween(-8, 0)
      ema
        .withColumn("n9", count(lit(1)).over(w9))
        .withColumn("sig_s", sum("macd_u").over(w9))
        .filter(col("i") >= 26 && col("n9") === 9)
        .select(col("event_type"), col("d"),
          round(col("macd_u") / 1e6, 4).as("macd"),
          round(col("sig_s") / 9.0 / 1e6, 4).as("signal"),
          round((col("macd_u") - col("sig_s") / 9.0) / 1e6, 4)
            .as("histogram"))
        .orderBy("event_type", "d")
    }),

    // Chaikin money flow (7-day): per-day money-flow volume snaps the
    // ONE rational ((2c−h−l)/(h−l), a pure long expression times 1e6)
    // to a long before the window sum; CMF is one division per row.
    "q_cmf" -> ((s, d) => {
      val w7 = wo.rowsBetween(-6, 0)
      DailyGrid.ohlc(s, d)
        .withColumn("mfv_u", when(col("h") > col("l"),
          round(((col("c") * 2 - col("h") - col("l")) * 1000000L
            * col("vol")).cast("double") / (col("h") - col("l")))
            .cast("long")).otherwise(0L))
        .withColumn("n7", count(lit(1)).over(w7))
        .withColumn("smfv", sum("mfv_u").over(w7))
        .withColumn("svol", sum("vol").over(w7))
        .filter(col("n7") === 7)
        .select(col("event_type"), col("d"),
          round(col("smfv") / col("svol") / 1e6, 6).as("cmf7"))
        .orderBy("event_type", "d")
    }),

    // Money flow index (14-day): triple price 3·tp = h+l+c stays an
    // exact long, its lag comparison routes each day's raw flow
    // (3tp·vol, exact) into the positive or negative leg, MFI is one
    // snap + one division. Ties (equal 3tp) join neither leg —
    // stated, and identical in the oracle.
    "q_mfi" -> ((s, d) => {
      val w14 = wo.rowsBetween(-13, 0)
      DailyGrid.ohlc(s, d)
        .withColumn("tp3", col("h") + col("l") + col("c"))
        .withColumn("ptp3", lag("tp3", 1).over(wo))
        .withColumn("mf", col("tp3") * col("vol"))
        .filter(col("ptp3").isNotNull)
        .withColumn("n14", count(lit(1)).over(w14))
        .withColumn("pos", sum(when(col("tp3") > col("ptp3"), col("mf"))
          .otherwise(0L)).over(w14))
        .withColumn("neg", sum(when(col("tp3") < col("ptp3"), col("mf"))
          .otherwise(0L)).over(w14))
        .filter(col("n14") === 14 && col("pos") + col("neg") > 0)
        .withColumn("mfi_u", round(col("pos") * 1e8
          / (col("pos") + col("neg"))).cast("long"))
        .select(col("event_type"), col("d"),
          round(col("mfi_u") / 1e6, 4).as("mfi14"))
        .orderBy("event_type", "d")
    }),

    // Sortino ratio (rf=0, annualized √252 — stated): downside
    // deviation from µ-snapped daily log returns; min(r,0)² sums are
    // exact longs (1e12·days, far inside range), one sqrt + one
    // division at the end. q_volatility's semideviation sibling.
    "q_sortino" -> ((s, d) =>
      DailyGrid.ret(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_ret"), sum("r_u").as("sr"),
          sum(when(col("r_u") < 0, col("r_u") * col("r_u"))
            .otherwise(0L)).as("sdd"))
        .filter(col("sdd") > 0)
        .withColumn("mean_r", col("sr").cast("double") / col("n_ret") / 1e6)
        .withColumn("dd", sqrt(col("sdd").cast("double") / col("n_ret")) / 1e6)
        .select(col("event_type"), col("n_ret"),
          round(col("mean_r"), 6).as("mean_ret"),
          round(col("dd"), 6).as("downside_dev"),
          round(col("mean_r") / col("dd") * sqrt(lit(252.0)), 4)
            .as("sortino_ann"))
        .orderBy("event_type")),

    // Ulcer index: RMS of the percent drawdown from the running peak
    // close — drawdowns snap to the percent·1e6 grid (≤1e8), squares
    // sum as exact longs (≤1e16·days), one sqrt at the end.
    "q_ulcer_index" -> ((s, d) =>
      DailyGrid.ohlc(s, d)
        .withColumn("peak", max("c").over(
          wo.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("dd_u", round((col("peak") - col("c")) * 1e8
          / col("peak")).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          round(max("dd_u") / 1e6, 4).as("max_dd_pct"),
          round(sqrt(sum(col("dd_u") * col("dd_u")).cast("double")
            / count(lit(1))) / 1e6, 4).as("ulcer_index"))
        .orderBy("event_type")),

    // Calmar ratio: annualized log return over the max PEAK-relative
    // drawdown fraction — the two exact derivations above joined on
    // the bounded type grid; one division per type row.
    "q_calmar" -> ((s, d) => {
      val ret = DailyGrid.ret(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_ret"), sum("r_u").as("sr"))
      val dd = DailyGrid.ohlc(s, d)
        .withColumn("peak", max("c").over(
          wo.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("dd_u", round((col("peak") - col("c")) * 1e8
          / col("peak")).cast("long"))
        .groupBy("event_type").agg(max("dd_u").as("mdd_u"))
      ret.join(dd, "event_type")
        .filter(col("mdd_u") > 0)
        .withColumn("ann", col("sr").cast("double") / col("n_ret")
          / 1e6 * 252.0)
        .select(col("event_type"),
          round(col("ann"), 6).as("ann_return"),
          round(col("mdd_u") / 1e8, 6).as("max_drawdown"),
          round(col("ann") * 1e8 / col("mdd_u"), 4).as("calmar"))
        .orderBy("event_type")
    }),

    // Market beta/alpha/R² per type: the "market" is the all-types
    // daily milli-mean series; both legs' µ-snapped log returns join
    // on the bounded day grid, the regression assembles from exact
    // long moments (n·Σ ≈ 30·30·1e12 — far inside range), three
    // double expressions per type row.
    "q_beta_market" -> ((s, d) => {
      DailyGrid.ret(s, d).join(broadcast(DailyGrid.marketRet(s, d)), "d")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("r_u").as("sr"),
          sum("rm_u").as("sm"),
          sum(col("r_u") * col("rm_u")).as("srm"),
          sum(col("rm_u") * col("rm_u")).as("smm"),
          sum(col("r_u") * col("r_u")).as("srr"))
        .withColumn("cov_n", col("n").cast("double") * col("srm")
          - col("sr").cast("double") * col("sm"))
        .withColumn("var_m", col("n").cast("double") * col("smm")
          - col("sm").cast("double") * col("sm"))
        .withColumn("var_r", col("n").cast("double") * col("srr")
          - col("sr").cast("double") * col("sr"))
        .withColumn("beta", col("cov_n") / col("var_m"))
        .select(col("event_type"), col("n").as("n_ret"),
          round(col("beta"), 6).as("beta"),
          round((col("sr") - col("beta") * col("sm"))
            / col("n") / 1e6, 6).as("alpha_daily"),
          round(col("cov_n") * col("cov_n")
            / (col("var_m") * col("var_r")), 6).as("r2"))
        .orderBy("event_type")
    }),

    // Keltner channels (7-day): midline = SMA of the exact triple
    // price (Σ(h+l+c)/21), bands at ±2·ATR7 (q_atr's exact TR sums);
    // close position vs the double bands uses the identical
    // expression in the oracle (the bollinger breakout convention).
    "q_keltner" -> ((s, d) => {
      val w7 = wo.rowsBetween(-6, 0)
      DailyGrid.ohlc(s, d)
        .withColumn("pc", lag("c", 1).over(wo))
        .withColumn("tr", greatest(col("h") - col("l"),
          abs(col("h") - col("pc")), abs(col("l") - col("pc"))))
        .withColumn("n7", count(lit(1)).over(w7))
        .withColumn("s3tp", sum(col("h") + col("l") + col("c")).over(w7))
        .withColumn("str", sum("tr").over(w7))
        .filter(col("n7") === 7)
        .withColumn("mid_d", col("s3tp") / 21.0)
        .withColumn("band_d", col("str") * 2 / 7.0)
        .select(col("event_type"), col("d"),
          round(col("mid_d") / 100.0, 4).as("mid"),
          round((col("mid_d") + col("band_d")) / 100.0, 4).as("upper"),
          round((col("mid_d") - col("band_d")) / 100.0, 4).as("lower"),
          when(col("c") > col("mid_d") + col("band_d"), 1L)
            .when(col("c") < col("mid_d") - col("band_d"), -1L)
            .otherwise(0L).as("position"))
        .orderBy("event_type", "d")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical percent·1e6 snap (%R = −(h14−c)/(h14−l14)·100)
    "q_williams_r" ->
      s"""WITH $dailyCte,
        |w AS (
        |  SELECT event_type, d, c,
        |    COUNT(*) OVER w14 AS n14,
        |    MAX(h) OVER w14 AS h14, MIN(l) OVER w14 AS l14
        |  FROM daily
        |  WINDOW w14 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, d,
        |  ROUND((-CAST(ROUND((h14 - c) * 1e8 / (h14 - l14)) AS BIGINT))
        |    / 1e6, 4) AS pct_r
        |FROM w WHERE n14 = 14 AND h14 > l14
        |ORDER BY event_type, d""".stripMargin,

    // identical exact-centi channels and prior-window breakout flags
    "q_donchian" ->
      s"""WITH $dailyCte,
        |w AS (
        |  SELECT event_type, d, h, l,
        |    COUNT(*) OVER cur AS n_cur,
        |    MAX(h) OVER cur AS u14, MIN(l) OVER cur AS d14,
        |    COUNT(*) OVER prev AS n_prev,
        |    MAX(h) OVER prev AS up_p, MIN(l) OVER prev AS dn_p
        |  FROM daily
        |  WINDOW cur AS (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
        |    prev AS (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, d,
        |  ROUND(u14 / 100.0, 2) AS upper, ROUND(d14 / 100.0, 2) AS lower,
        |  ROUND((u14 + d14) / 200.0, 4) AS mid,
        |  CAST(CASE WHEN h > up_p THEN 1 ELSE 0 END AS BIGINT) AS break_up,
        |  CAST(CASE WHEN l < dn_p THEN 1 ELSE 0 END AS BIGINT) AS break_dn
        |FROM w WHERE n_cur = 14 AND n_prev = 14
        |ORDER BY event_type, d""".stripMargin,

    // identical closed-form EMA unroll terms (same literals, same
    // 1e-6-dollar snap) and exact SMA-9 signal
    "q_macd" ->
      s"""WITH $dailyCte,
        |idx AS (
        |  SELECT event_type, d, c,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) AS i
        |  FROM daily),
        |ema AS (
        |  SELECT a.event_type, a.d, a.i,
        |    CAST(SUM(CAST(ROUND(
        |      CASE WHEN b.i = 1 THEN pow(11.0/13.0, a.i - 1)
        |        ELSE 2.0/13.0 * pow(11.0/13.0, a.i - b.i) END
        |      * b.c * 1e4) AS BIGINT)) AS BIGINT) AS e12_u,
        |    CAST(SUM(CAST(ROUND(
        |      CASE WHEN b.i = 1 THEN pow(25.0/27.0, a.i - 1)
        |        ELSE 2.0/27.0 * pow(25.0/27.0, a.i - b.i) END
        |      * b.c * 1e4) AS BIGINT)) AS BIGINT) AS e26_u
        |  FROM idx a JOIN idx b ON a.event_type = b.event_type
        |    AND b.i <= a.i
        |  GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT event_type, d, i, e12_u - e26_u AS macd_u,
        |    COUNT(*) OVER w9 AS n9, SUM(e12_u - e26_u) OVER w9 AS sig_s
        |  FROM ema
        |  WINDOW w9 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 8 PRECEDING AND CURRENT ROW))
        |SELECT event_type, d, ROUND(macd_u / 1e6, 4) AS macd,
        |  ROUND(sig_s / 9.0 / 1e6, 4) AS signal,
        |  ROUND((macd_u - sig_s / 9.0) / 1e6, 4) AS histogram
        |FROM m WHERE i >= 26 AND n9 = 9
        |ORDER BY event_type, d""".stripMargin,

    // identical per-day 1e6 money-flow snap and window sums
    "q_cmf" ->
      s"""WITH $dailyCte,
        |mfv AS (
        |  SELECT event_type, d, vol,
        |    CASE WHEN h > l THEN CAST(ROUND(
        |      CAST((c * 2 - h - l) * 1000000 * vol AS DOUBLE) / (h - l))
        |      AS BIGINT) ELSE 0 END AS mfv_u
        |  FROM daily),
        |w AS (
        |  SELECT event_type, d,
        |    COUNT(*) OVER w7 AS n7,
        |    SUM(mfv_u) OVER w7 AS smfv, SUM(vol) OVER w7 AS svol
        |  FROM mfv
        |  WINDOW w7 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, d, ROUND(smfv / svol / 1e6, 6) AS cmf7
        |FROM w WHERE n7 = 7 ORDER BY event_type, d""".stripMargin,

    // identical exact triple-price legs and percent·1e6 snap
    "q_mfi" ->
      s"""WITH $dailyCte,
        |tp AS (
        |  SELECT event_type, d, h + l + c AS tp3,
        |    lag(h + l + c) OVER (PARTITION BY event_type ORDER BY d)
        |      AS ptp3,
        |    (h + l + c) * vol AS mf
        |  FROM daily),
        |w AS (
        |  SELECT event_type, d,
        |    COUNT(*) OVER w14 AS n14,
        |    SUM(CASE WHEN tp3 > ptp3 THEN mf ELSE 0 END) OVER w14 AS pos,
        |    SUM(CASE WHEN tp3 < ptp3 THEN mf ELSE 0 END) OVER w14 AS neg
        |  FROM tp WHERE ptp3 IS NOT NULL
        |  WINDOW w14 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, d,
        |  ROUND(CAST(ROUND(pos * 1e8 / (pos + neg)) AS BIGINT) / 1e6, 4)
        |    AS mfi14
        |FROM w WHERE n14 = 14 AND pos + neg > 0
        |ORDER BY event_type, d""".stripMargin,

    // identical µ-snapped returns and exact downside-square sums
    "q_sortino" ->
      s"""WITH $retCte,
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_ret,
        |    CAST(SUM(r_u) AS BIGINT) AS sr,
        |    CAST(SUM(CASE WHEN r_u < 0 THEN r_u * r_u ELSE 0 END)
        |      AS BIGINT) AS sdd
        |  FROM ret GROUP BY 1)
        |SELECT event_type, n_ret,
        |  ROUND(CAST(sr AS DOUBLE) / n_ret / 1e6, 6) AS mean_ret,
        |  ROUND(sqrt(CAST(sdd AS DOUBLE) / n_ret) / 1e6, 6)
        |    AS downside_dev,
        |  ROUND((CAST(sr AS DOUBLE) / n_ret / 1e6)
        |    / (sqrt(CAST(sdd AS DOUBLE) / n_ret) / 1e6)
        |    * sqrt(252.0), 4) AS sortino_ann
        |FROM g WHERE sdd > 0 ORDER BY event_type""".stripMargin,

    // identical percent·1e6 drawdown snap and exact square sums
    "q_ulcer_index" ->
      s"""WITH $dailyCte,
        |dd AS (
        |  SELECT event_type,
        |    CAST(ROUND((peak - c) * 1e8 / peak) AS BIGINT) AS dd_u
        |  FROM (SELECT event_type, c,
        |          MAX(c) OVER (PARTITION BY event_type ORDER BY d
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS peak
        |        FROM daily))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  ROUND(MAX(dd_u) / 1e6, 4) AS max_dd_pct,
        |  ROUND(sqrt(CAST(SUM(dd_u * dd_u) AS DOUBLE) / COUNT(*)) / 1e6,
        |    4) AS ulcer_index
        |FROM dd GROUP BY 1 ORDER BY event_type""".stripMargin,

    // identical return and drawdown grids joined per type
    "q_calmar" ->
      s"""WITH $dailyCte,
        |$retCte,
        |r AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_ret,
        |    CAST(SUM(r_u) AS BIGINT) AS sr
        |  FROM ret GROUP BY 1),
        |mdd AS (
        |  SELECT event_type, CAST(MAX(CAST(ROUND((peak - c) * 1e8 / peak)
        |    AS BIGINT)) AS BIGINT) AS mdd_u
        |  FROM (SELECT event_type, c,
        |          MAX(c) OVER (PARTITION BY event_type ORDER BY d
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS peak
        |        FROM daily)
        |  GROUP BY 1)
        |SELECT r.event_type,
        |  ROUND(CAST(sr AS DOUBLE) / n_ret / 1e6 * 252.0, 6) AS ann_return,
        |  ROUND(mdd_u / 1e8, 6) AS max_drawdown,
        |  ROUND(CAST(sr AS DOUBLE) / n_ret / 1e6 * 252.0 * 1e8 / mdd_u, 4)
        |    AS calmar
        |FROM r JOIN mdd ON r.event_type = mdd.event_type
        |WHERE mdd_u > 0 ORDER BY r.event_type""".stripMargin,

    // identical µ-snapped legs and exact long regression moments
    "q_beta_market" ->
      s"""WITH $retCte,
        |${DailyGrid.mktCte},
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(r_u) AS BIGINT) AS sr,
        |    CAST(SUM(rm_u) AS BIGINT) AS sm,
        |    CAST(SUM(r_u * rm_u) AS BIGINT) AS srm,
        |    CAST(SUM(rm_u * rm_u) AS BIGINT) AS smm,
        |    CAST(SUM(r_u * r_u) AS BIGINT) AS srr
        |  FROM ret JOIN mret USING (d) GROUP BY 1),
        |f AS (
        |  SELECT event_type, n, sr, sm,
        |    CAST(n AS DOUBLE) * srm - CAST(sr AS DOUBLE) * sm AS cov_n,
        |    CAST(n AS DOUBLE) * smm - CAST(sm AS DOUBLE) * sm AS var_m,
        |    CAST(n AS DOUBLE) * srr - CAST(sr AS DOUBLE) * sr AS var_r
        |  FROM g)
        |SELECT event_type, n AS n_ret,
        |  ROUND(cov_n / var_m, 6) AS beta,
        |  ROUND((sr - cov_n / var_m * sm) / n / 1e6, 6) AS alpha_daily,
        |  ROUND(cov_n * cov_n / (var_m * var_r), 6) AS r2
        |FROM f ORDER BY event_type""".stripMargin,

    // identical exact triple-price SMA and ATR band arithmetic
    "q_keltner" ->
      s"""WITH $dailyCte,
        |tr AS (
        |  SELECT event_type, d, c, h, l,
        |    greatest(h - l,
        |      abs(h - lag(c) OVER (PARTITION BY event_type ORDER BY d)),
        |      abs(l - lag(c) OVER (PARTITION BY event_type ORDER BY d)))
        |      AS tr
        |  FROM daily),
        |w AS (
        |  SELECT event_type, d, c,
        |    COUNT(*) OVER w7 AS n7,
        |    SUM(h + l + c) OVER w7 AS s3tp, SUM(tr) OVER w7 AS str
        |  FROM tr
        |  WINDOW w7 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |b AS (
        |  SELECT event_type, d, c, s3tp / 21.0 AS mid_d,
        |    str * 2 / 7.0 AS band_d
        |  FROM w WHERE n7 = 7)
        |SELECT event_type, d,
        |  ROUND(mid_d / 100.0, 4) AS mid,
        |  ROUND((mid_d + band_d) / 100.0, 4) AS upper,
        |  ROUND((mid_d - band_d) / 100.0, 4) AS lower,
        |  CAST(CASE WHEN c > mid_d + band_d THEN 1
        |       WHEN c < mid_d - band_d THEN -1 ELSE 0 END AS BIGINT)
        |    AS position
        |FROM b ORDER BY event_type, d""".stripMargin
  )
}
