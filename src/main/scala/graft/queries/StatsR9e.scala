package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 5 (SURVEY.md §2 B.10b): risk backtesting, cohort
  * churn, tolerance as-of, and index-quality eval — historical
  * VaR/CVaR by exact order statistics, the Kupiec POF backtest,
  * drawdown spell durations (gaps-and-islands on the below-peak
  * flag), day-over-day active-user turnover, an as-of match with a
  * time tolerance realized as ONE union scan + window (the linear
  * asof-merge shape), and ANN recall of the IVF probe against the
  * exact scan. Exact integers to the last division, as ever.
  */
object StatsR9e {

  import DailyGrid.{wo, wp}

  /** µ-snapped daily log returns of the milli-mean series per type,
    * with a per-type return index (1-based, day order). */
  private def retIdx(s: SparkSession, d: String): DataFrame =
    DailyGrid.ret(s, d).withColumn("i", row_number().over(wo).cast("long"))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Historical VaR95/CVaR95 per type by EXACT order statistics:
    // rank k = ceil(0.05·n) over (r_u, d) ascending — no
    // interpolation, so both engines agree bit-for-bit; CVaR is the
    // exact mean of the k tail returns.
    "q_var_historical" -> ((s, d) => {
      val r = retIdx(s, d)
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy("r_u", "d")).cast("long"))
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("k", ceil(col("n") * 0.05).cast("long"))
      r.filter(col("rk") <= col("k"))
        .groupBy("event_type")
        .agg(max("n").as("n_ret"), max("k").as("k_tail"),
          max("r_u").as("var_neg_u"), sum("r_u").as("tail_sum"),
          count(lit(1)).as("kc"))
        .select(col("event_type"), col("n_ret"), col("k_tail"),
          round(-col("var_neg_u") / 1e6, 6).as("var95"),
          round(-col("tail_sum").cast("double") / col("kc") / 1e6, 6)
            .as("cvar95"))
        .orderBy("event_type")
    }),

    // Kupiec proportion-of-failures backtest: the VaR threshold is
    // the TRAIN-window (first 14 returns) minimum — the exact 95%
    // order statistic at n=14 — and test breaches are strict; the LR
    // statistic handles x=0 with the 0·ln(0)=0 limit via CASE,
    // spelled identically in the oracle.
    "q_kupiec_pof" -> ((s, d) => {
      val r = retIdx(s, d)
      val thr = r.filter(col("i") <= 14)
        .groupBy(col("event_type").as("et2"))
        .agg(min("r_u").as("thr_u"))
      r.filter(col("i") > 14)
        .join(thr, col("event_type") === col("et2"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("r_u") < col("thr_u"), 1L).otherwise(0L))
            .as("n_breach"))
        .withColumn("fr", col("n_breach").cast("double") / col("n_test"))
        .select(col("event_type"), col("n_test"), col("n_breach"),
          round(lit(-2.0) * ((col("n_test") - col("n_breach"))
              * log(lit(0.95)) + col("n_breach") * log(lit(0.05))
            - when(col("n_breach") === col("n_test"), lit(0.0))
              .otherwise((col("n_test") - col("n_breach"))
                * log(lit(1.0) - col("fr")))
            - when(col("n_breach") === 0, lit(0.0))
              .otherwise(col("n_breach") * log(col("fr")))), 4)
            .as("lr_pof"))
        .orderBy("event_type")
    }),

    // Drawdown spell durations: gaps-and-islands over the below-peak
    // flag on the daily close — island id = day index − rank among
    // flagged days (all exact longs); emits per-type spell counts
    // and the longest spell.
    "q_drawdown_duration" -> ((s, d) => {
      val c = DailyGrid.ohlc(s, d)
        .withColumn("peak", max("c").over(
          wo.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("c") < col("peak"))
        .withColumn("grp", col("i") - row_number().over(wo).cast("long"))
      c.groupBy("event_type", "grp")
        .agg(count(lit(1)).as("len"))
        .groupBy("event_type")
        .agg(sum("len").as("n_dd_days"), count(lit(1)).as("n_spells"),
          max("len").as("max_spell_days"))
        .orderBy("event_type")
    }),

    // Day-over-day active-user turnover: retained = |A_t ∩ A_{t+1}|
    // via a self-join of the distinct (day, user) grid on the
    // successor day; lost/new/Jaccard from exact counts. Output is
    // one row per day pair — O(days) regardless of corpus size.
    "q_user_turnover" -> ((s, d) => {
      val act = Tables.events(s, d)
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
        .localCheckpoint(eager = true) // day×user grid, 3 legs
      val cnt = act.groupBy("d").agg(count(lit(1)).as("n"))
      val ret = act.join(act.select(date_sub(col("d"), 1).as("d"),
          col("user_id")), Seq("d", "user_id"))
        .groupBy("d").agg(count(lit(1)).as("retained"))
      cnt.select(col("d"), col("n").as("n_prev"))
        .join(cnt.select(date_sub(col("d"), 1).as("d"),
          col("n").as("n_cur"), col("d").as("day")), "d")
        .join(ret, "d")
        .select(col("day"), col("retained"),
          (col("n_prev") - col("retained")).as("lost"),
          (col("n_cur") - col("retained")).as("new_users"),
          round(col("retained") * 1e6 / (col("n_prev") + col("n_cur")
            - col("retained")) / lit(1e6), 6).as("jaccard"))
        .orderBy("day")
    }),

    // As-of match with a 1-hour tolerance: each purchase matches the
    // most recent SAME-USER click within 3600 s — realized as ONE
    // union scan + per-user window (ts ascending makes the running
    // MAX of click timestamps the LAST one — the linear asof-merge
    // shape, no range join); per-day rollup of match rate and the
    // exact µs lag sum.
    "q_asof_tolerance" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"), col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), to_date(col("ts")).as("d"))
        .withColumn("last_click",
          max(when(col("event_type") === "click", col("ts_us"))).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("matched", col("last_click").isNotNull
          && col("ts_us") - col("last_click") <= 3600000000L)
        .groupBy("d")
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("matched"), 1L).otherwise(0L)).as("n_matched"),
          round(sum(when(col("matched"), col("ts_us") - col("last_click"))
              .otherwise(0L)).cast("double")
            / sum(when(col("matched"), 1L).otherwise(0L)) / 1e6, 4)
            .as("avg_lag_sec"))
        .filter(col("n_matched") > 0)
        .orderBy("d")
    }),

    // ANN index quality: recall@10 of the IVF probe (q_sim_ivf,
    // nprobe=4) against the exact full-scan top-10 for the same
    // query vector — the eval loop every index deployment runs. Both
    // legs come from the existing derivations; this key adds one
    // bounded set intersection.
    "q_ann_recall" -> ((s, d) => {
      val ivf = TextSim.queries("q_sim_ivf")(s, d).select("vec_id")
      val exact = LlmOps.queries("q_sim_cosine_topk")(s, d).select("vec_id")
      val common = ivf.join(exact, "vec_id")
        .agg(count(lit(1)).as("n_common"))
      common.select(lit(10L).as("k"), col("n_common"),
        round(col("n_common") / 10.0, 2).as("recall_at_10"))
    })
  )

  private val retCte: String =
    """ret AS (
      |  SELECT event_type, d, r_u,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
      |      AS BIGINT) AS i
      |  FROM (
      |    SELECT event_type, d,
      |      CAST(ROUND(ln(CAST(y AS DOUBLE) / py) * 1e6) AS BIGINT)
      |        AS r_u
      |    FROM (SELECT event_type, d, y,
      |            lag(y) OVER (PARTITION BY event_type ORDER BY d) AS py
      |          FROM (SELECT event_type, CAST(ts AS DATE) AS d,
      |                  CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
      |                    // COUNT(*) AS BIGINT) AS y
      |                FROM events GROUP BY 1, 2))
      |    WHERE py IS NOT NULL))""".stripMargin

  val oracle: Map[String, String] = Map(
    // identical ceil-rank order statistics and exact tail mean
    "q_var_historical" ->
      s"""WITH $retCte,
        |r AS (
        |  SELECT event_type, r_u,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY r_u, d) AS BIGINT) AS rk,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM ret),
        |t AS (
        |  SELECT event_type, r_u, rk, n,
        |    CAST(ceil(n * 0.05) AS BIGINT) AS k
        |  FROM r)
        |SELECT event_type, MAX(n) AS n_ret, MAX(k) AS k_tail,
        |  ROUND(-MAX(r_u) / 1e6, 6) AS var95,
        |  ROUND(-CAST(SUM(r_u) AS DOUBLE) / COUNT(*) / 1e6, 6) AS cvar95
        |FROM t WHERE rk <= k GROUP BY 1 ORDER BY event_type""".stripMargin,

    // identical train-min threshold and 0·ln(0)=0 CASE limits
    "q_kupiec_pof" ->
      s"""WITH $retCte,
        |thr AS (
        |  SELECT event_type, CAST(MIN(r_u) AS BIGINT) AS thr_u
        |  FROM ret WHERE i <= 14 GROUP BY 1),
        |t AS (
        |  SELECT ret.event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n_test,
        |    CAST(SUM(CASE WHEN ret.r_u < thr.thr_u THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_breach
        |  FROM ret JOIN thr ON ret.event_type = thr.event_type
        |  WHERE ret.i > 14 GROUP BY 1)
        |SELECT event_type, n_test, n_breach,
        |  ROUND(-2.0 * ((n_test - n_breach) * ln(0.95)
        |    + n_breach * ln(0.05)
        |    - CASE WHEN n_breach = n_test THEN 0.0
        |        ELSE (n_test - n_breach)
        |          * ln(1.0 - CAST(n_breach AS DOUBLE) / n_test) END
        |    - CASE WHEN n_breach = 0 THEN 0.0
        |        ELSE n_breach * ln(CAST(n_breach AS DOUBLE) / n_test)
        |      END), 4) AS lr_pof
        |FROM t ORDER BY event_type""".stripMargin,

    // identical below-peak islands (i − rank-among-flagged)
    "q_drawdown_duration" ->
      s"""WITH ${DailyGrid.dailyCte},
        |f AS (
        |  SELECT event_type, c,
        |    CAST(row_number() OVER wp AS BIGINT) AS i,
        |    MAX(c) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
        |    d
        |  FROM daily
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY d)),
        |g AS (
        |  SELECT event_type,
        |    i - CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY d) AS BIGINT) AS grp
        |  FROM f WHERE c < peak),
        |sp AS (
        |  SELECT event_type, grp, CAST(COUNT(*) AS BIGINT) AS len
        |  FROM g GROUP BY 1, 2)
        |SELECT event_type, CAST(SUM(len) AS BIGINT) AS n_dd_days,
        |  CAST(COUNT(*) AS BIGINT) AS n_spells,
        |  CAST(MAX(len) AS BIGINT) AS max_spell_days
        |FROM sp GROUP BY 1 ORDER BY event_type""".stripMargin,

    // identical distinct-grid self-join on the successor day
    "q_user_turnover" ->
      """WITH act AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |cnt AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM act GROUP BY 1),
        |ret AS (
        |  SELECT a.d, CAST(COUNT(*) AS BIGINT) AS retained
        |  FROM act a JOIN act b
        |    ON b.user_id = a.user_id AND b.d = a.d + INTERVAL 1 DAY
        |  GROUP BY 1)
        |SELECT c2.d AS day, ret.retained,
        |  c1.n - ret.retained AS lost,
        |  c2.n - ret.retained AS new_users,
        |  ROUND(ret.retained * 1e6 / (c1.n + c2.n - ret.retained)
        |    / 1e6, 6) AS jaccard
        |FROM ret
        |JOIN cnt c1 ON c1.d = ret.d
        |JOIN cnt c2 ON c2.d = ret.d + INTERVAL 1 DAY
        |ORDER BY day""".stripMargin,

    // identical union-scan window asof (running MAX of click µs IS
    // the most recent under the ascending total order)
    "q_asof_tolerance" ->
      """WITH ev AS (
        |  SELECT event_type, user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(ts AS DATE) AS d
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |w AS (
        |  SELECT event_type, d, ts_us,
        |    MAX(CASE WHEN event_type = 'click' THEN ts_us END)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_click
        |  FROM ev),
        |p AS (
        |  SELECT d,
        |    last_click IS NOT NULL
        |      AND ts_us - last_click <= 3600000000 AS matched,
        |    ts_us - last_click AS lag_us
        |  FROM w WHERE event_type = 'purchase'),
        |g AS (
        |  SELECT d, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |    CAST(SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_matched,
        |    ROUND(CAST(SUM(CASE WHEN matched THEN lag_us ELSE 0 END)
        |        AS DOUBLE)
        |      / SUM(CASE WHEN matched THEN 1 ELSE 0 END) / 1e6, 4)
        |      AS avg_lag_sec
        |  FROM p GROUP BY 1)
        |SELECT d, n_purchases, n_matched, avg_lag_sec
        |FROM g WHERE n_matched > 0 ORDER BY d""".stripMargin,

    // both legs are the existing oracles, composed: the IVF probe's
    // top-10 ids intersected with the exact scan's top-10 ids
    "q_ann_recall" ->
      s"""WITH ivf_leg AS (${TextSim.oracle("q_sim_ivf")}),
        |exact_leg AS (${LlmOps.oracle("q_sim_cosine_topk")}),
        |c AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM ivf_leg JOIN exact_leg
        |    ON ivf_leg.vec_id = exact_leg.vec_id)
        |SELECT CAST(10 AS BIGINT) AS k, n_common,
        |  ROUND(n_common / 10.0, 2) AS recall_at_10
        |FROM c""".stripMargin
  )
}
