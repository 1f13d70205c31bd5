package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-8 wave 6 (SURVEY.md §2 B.10b): the classic gaps-and-islands
  * SQL shapes (interval union, missing-day islands) plus two product/
  * marketing analytics staples (finite geometric adstock,
  * new-vs-returning decomposition). All windows partition by a
  * bounded key (user, type); nothing orders the raw corpus globally.
  */
object StatsR8d {

  import DailyGrid.wo

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Interval union per user: total µs covered by the union of
    // [ts, ts+5min) activity intervals — the gaps-and-islands merge
    // (an interval starts an island iff it begins after the running
    // max end of everything before it). Exact µs arithmetic; one
    // ordered window per user.
    "q_interval_union" -> ((s, d) => {
      val horizon = 300000000L // 5 min in µs
      val wo = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      val wprev = wo.rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"))
        .withColumn("end_us", col("ts_us") + horizon)
        .withColumn("prev_max_end", max("end_us").over(wprev))
        .withColumn("island_start",
          when(col("prev_max_end").isNull
            || col("ts_us") > col("prev_max_end"), 1L).otherwise(0L))
        .withColumn("island", sum("island_start").over(wo))
        .groupBy("user_id", "island")
        .agg(min("ts_us").as("i_start"), max("end_us").as("i_end"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("i_end") - col("i_start")).as("covered_us"))
        .select(col("user_id"), col("n_islands"),
          round(col("covered_us") / 6e7, 4).as("covered_minutes"))
        .orderBy("user_id")
    }),

    // Missing-day islands per event type: which calendar stretches
    // have NO events (the date − row_number trick: consecutive days
    // share one group key)? Reported as present-day islands with
    // span bounds — the data-completeness audit a daily pipeline
    // runs before trusting any time series.
    "q_gaps_islands" -> ((s, d) => {
      DailyGrid.mean(s, d)
        .withColumn("grp", date_sub(col("d"), col("i").cast("int")))
        .groupBy("event_type", "grp")
        .agg(min("d").as("island_start"), max("d").as("island_end"),
          count(lit(1)).as("n_days"))
        .select(col("event_type"), col("island_start"), col("island_end"),
          col("n_days"))
        .orderBy("event_type", "island_start")
    }),

    // Finite geometric adstock (14-day carryover, λ=0.5) of daily
    // purchase value: adstock_t = Σ_{j=0..13} λ^j · y_{t−j} — the
    // marketing-carryover transform, computed as a BOUNDED lag-grid
    // join (day × 14 offsets) instead of the unstable λ^t rescaling
    // trick; terms snap to the µ grid before the sum. Day grid only.
    "q_adstock" -> ((s, d) => {
      val daily = DailyGrid.mean(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("d"), col("s_m").as("y"))
      val lags = s.range(0, 14).select(col("id").cast("int").as("j"))
      daily.crossJoin(broadcast(lags))
        .select(expr("date_add(d, j)").as("d"), col("j"), col("y"))
        .join(daily.select(col("d")), "d") // keep real days only
        .withColumn("t_u",
          round(pow(lit(0.5), col("j")) * col("y")).cast("long"))
        .groupBy("d")
        .agg(count(lit(1)).as("n_terms"), sum("t_u").as("ad"))
        .select(col("d"), col("n_terms"),
          round(col("ad") / 1e3, 4).as("adstock"))
        .orderBy("d")
    }),

    // New vs returning users per day: a user's first-ever event day
    // (exact min over the whole span) splits each day's actives — the
    // growth-accounting decomposition next to q_retention_cohort.
    // One min-per-user agg + one day-grain agg; no windows at all.
    "q_new_returning" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val first = ev.groupBy("user_id").agg(min("d").as("first_d"))
      ev.distinct()
        .join(first, "user_id")
        .groupBy("d")
        .agg(count(lit(1)).as("active_users"),
          sum(when(col("d") === col("first_d"), 1L).otherwise(0L))
            .as("new_users"))
        .select(col("d"), col("active_users"), col("new_users"),
          (col("active_users") - col("new_users")).as("returning_users"),
          round(col("new_users").cast("double") / col("active_users"), 4)
            .as("new_share"))
        .orderBy("d")
    }),

    // Lorenz curve of purchase value over users at deciles: cum share
    // of value held by the bottom d·10% of users (the curve q_gini's
    // scalar summarizes). Users rank by exact centi totals with id
    // tie-break; decile cut = rank ≤ n·d div 10; shares stay exact
    // cross-multiplied longs until one division per decile row.
    "q_lorenz_curve" -> ((s, d) => {
      val u = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast("long")).as("v"))
      // exact-long mass → the two-pass range-partitioned prefix sum
      // (operators/PrefixSum): no single-task global sort at the user
      // grain; bit-identical to the window it replaces (long sums are
      // associative)
      val ranked = graft.operators.PrefixSum.rankAndCumSum(u,
          Seq(col("v"), col("user_id")), col("v"), "rn", "cumv")
        .localCheckpoint(eager = true) // bounded user rollup, 2 legs
      val tot = ranked.agg(count(lit(1)).as("n"), max("cumv").as("tv"))
      val deciles = s.range(1, 11).select(col("id").cast("int").as("dec"))
      ranked.crossJoin(broadcast(tot)).crossJoin(broadcast(deciles))
        .filter(col("rn") === ((col("n") * col("dec")) / 10).cast("long"))
        .select(col("dec").cast("long").as("decile"),
          col("rn").cast("long").as("n_users"),
          round(col("cumv").cast("double") / col("tv"), 6)
            .as("cum_value_share"))
        .orderBy("decile")
    }),

    // Isotonic calibration of the props.k score against the purchase
    // rate: empirical rate per score decile, then the PAV fit over
    // the TEN-bucket grid via the same minimax identity as
    // q_isotonic_fit (the lattice is 10² here — trivially bounded).
    // Rates stay exact cross-multiplied longs inside the lattice:
    // mean over buckets k..j of (pos/n) uses per-bucket 1e9-snapped
    // rates, so the min/max runs on exact longs.
    "q_calibration_isotonic" -> ((s, d) => {
      val b = Tables.events(s, d)
        .select(least(floor(get_json_object(col("props"), "$.k")
            .cast("long") / 10), lit(9L)).as("bkt"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
        .groupBy("bkt")
        .agg(count(lit(1)).as("n"), sum("pos").as("p"))
        .withColumn("rate_u",
          round(col("p") * 1e9 / col("n")).cast("long"))
        // bounded grain: fixed 10-bucket rollup
        .withColumn("i", row_number().over(Window.orderBy("bkt")))
        .withColumn("pre", sum("rate_u").over(Window.orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, 0)))
        .localCheckpoint(eager = true) // 10 rows, 3 legs
      val segs = b.select(col("i").as("j"), col("pre").as("pj"))
        .join(b.select((col("i") + 1).as("k"), col("pre").as("pk1"))
          .union(b.sparkSession.range(1, 2)
            .select(lit(1).as("k"), lit(0L).as("pk1"))),
          col("j") >= col("k"))
        .select(col("k"), col("j"),
          ((col("pj") - col("pk1")).cast("double")
            / (col("j") - col("k") + 1)).as("avg_u"))
      val wk = Window.partitionBy("k").orderBy(col("j").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      segs.withColumn("mn", min("avg_u").over(wk))
        .groupBy(col("j").as("i")).agg(max("mn").as("fit_u"))
        .join(b.select(col("i"), col("bkt"), col("n"), col("rate_u")), "i")
        .select(col("bkt").as("score_decile"), col("n"),
          round(col("rate_u") / 1e9, 6).as("raw_rate"),
          round(col("fit_u") / 1e9, 6).as("calibrated_rate"))
        .orderBy("score_decile")
    }),

    // Discrete-time churn hazard by lifetime offset: for users whose
    // observed lifetime (last day − first day) is t, hazard(t) =
    // #(L = t) / #(L ≥ t) — the per-offset churn risk q_survival_km's
    // curve integrates. Exact counts via a suffix sum over the
    // bounded lifetime grid.
    "q_churn_hazard" -> ((s, d) => {
      val lt = Tables.events(s, d)
        .groupBy("user_id")
        .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
          .cast("long").as("lt"))
        .groupBy("lt").agg(count(lit(1)).as("ended"))
      val wsuf = Window.orderBy(col("lt").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      lt.withColumn("at_risk", sum("ended").over(wsuf))
        .select(col("lt").as("lifetime_days"), col("ended"),
          col("at_risk"),
          round(col("ended").cast("double") / col("at_risk"), 6)
            .as("hazard"))
        .orderBy("lifetime_days")
    }),

    // DAU/WAU stickiness per day: daily actives over trailing-7-day
    // actives — the engagement ratio. The user-day DISTINCT table is
    // the only corpus-sized object; the trailing window is a bounded
    // ±6-day band join against the day grid (linear in user-days),
    // and only days with a full 7-day history emit (stated).
    "q_stickiness" -> ((s, d) => {
      val ud = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("ud_d")).distinct()
        .localCheckpoint(eager = true) // user-day grain, 2 legs
      val grid = ud.select(col("ud_d").as("d")).distinct()
      val firstD = ud.agg(min("ud_d").as("d0"))
      val wau = grid.join(ud,
          col("ud_d").between(expr("date_sub(d, 6)"), col("d")))
        .groupBy("d").agg(countDistinct("user_id").as("wau"))
      val dau = ud.groupBy(col("ud_d").as("d"))
        .agg(countDistinct("user_id").as("dau"))
      dau.join(wau, "d").crossJoin(broadcast(firstD))
        .filter(datediff(col("d"), col("d0")) >= 6)
        .select(col("d"), col("dau"), col("wau"),
          round(col("dau").cast("double") / col("wau"), 4)
            .as("stickiness"))
        .orderBy("d")
    }),

    // Maximum drawdown per event type on the daily milli-mean series:
    // running peak via a prefix-max window, per-day drawdown ratio
    // snapped to the 1e9 grid (exact argmax), trough picked by
    // (drawdown desc, day asc) — the risk statistic behind the OHLC
    // family. Day-grid windows only.
    "q_max_drawdown" -> ((s, d) => {
      val wpick = Window.partitionBy("event_type")
        .orderBy(col("dd_u").desc, col("d"))
      DailyGrid.mean(s, d)
        .withColumn("peak", max("y").over(
          wo.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("dd_u", round((col("peak") - col("y")) * 1e9
          / col("peak")).cast("long"))
        .withColumn("rn", row_number().over(wpick))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("d").as("trough_d"),
          round(col("peak") / 1e3, 4).as("peak_v"),
          round(col("y") / 1e3, 4).as("trough_v"),
          round(col("dd_u") / 1e9, 6).as("max_drawdown"))
        .orderBy("event_type")
    }),

    // Power-law tail MLE over per-user purchase totals above a fixed
    // xmin: α = 1 + n/Σln(x/xmin) (Clauset-style continuous MLE) —
    // the tail-heaviness estimate q_tail_index's Hill plot feeds.
    // Per-row log terms snap to 1e9 before the distributed sum.
    "q_power_law_mle" -> ((s, d) => {
      val xminC = 5000L // 50.00 in centi units
      val u = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast("long")).as("v"))
        .filter(col("v") >= xminC)
        .withColumn("t_u",
          round(log(col("v").cast("double") / xminC) * 1e9).cast("long"))
      u.agg(count(lit(1)).as("n_tail"), sum("t_u").as("st"))
        .select(col("n_tail"), lit(50.0).as("xmin"),
          round(lit(1.0) + col("n_tail") * 1e9
            / col("st").cast("double"), 4).as("alpha"))
    }),

    // Volume-weighted average price per (type, day), weight =
    // props.k (the size field): Σv·k/Σk in exact centi·k longs —
    // q_twap's sibling where size, not time, is the weight.
    "q_vwap" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("dd"),
          round(col("value") * 100).cast("long").as("v_c"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type", "dd")
        .agg(count(lit(1)).as("n"), sum(col("v_c") * col("k")).as("vw"),
          sum("k").as("sk"))
        .filter(col("sk") > 0)
        .select(col("event_type"), col("dd").as("d"), col("n"),
          round(col("vw").cast("double") / col("sk") / 100.0, 4)
            .as("vwap"))
        .orderBy("event_type", "d")),

    // Repeat-purchase decomposition: how many purchasers come back?
    // Exact per-user purchase counts → one bounded summary row.
    "q_repeat_purchase" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(count(lit(1)).as("np"))
        .agg(count(lit(1)).as("n_purchasers"),
          sum(when(col("np") >= 2, 1L).otherwise(0L)).as("n_repeat"),
          sum("np").as("total_purchases"))
        .select(col("n_purchasers"), col("n_repeat"),
          round(col("n_repeat").cast("double") / col("n_purchasers"), 4)
            .as("repeat_rate"),
          round(col("total_purchases").cast("double")
            / col("n_purchasers"), 4).as("avg_purchases"))),

    // Simpson diversity of the token distribution per language:
    // 1 − Σn(n−1)/(N(N−1)) — the collision-probability complement to
    // q_yule_k's repetitiveness and q_text_entropy's surprise. All
    // exact longs until one division.
    "q_simpson_diversity" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("m"))
        .groupBy("lang")
        .agg(sum("m").as("n_tok"), count(lit(1)).as("vocab"),
          sum(col("m") * (col("m") - 1)).as("coll"))
        .select(col("lang"), col("n_tok"), col("vocab"),
          round(lit(1.0) - col("coll").cast("double")
            / (col("n_tok").cast("double") * (col("n_tok") - 1)), 6)
            .as("simpson_d"))
        .orderBy("lang")),

    // Price elasticity of demand from lineitem: OLS slope of
    // ln(quantity) on ln(unit price) — the econ primitive over the
    // star schema. Logs snap to the 1e4 grid (1e4, not 1e9: Σx²·rows
    // must stay in long range at 100 TB shard grain), all moments
    // exact, slope/intercept one IEEE expression.
    "q_price_elasticity" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(
          round(log(col("l_extendedprice") / col("l_quantity")) * 1e4)
            .cast("long").as("x"),
          round(log(col("l_quantity")) * 1e4).cast("long").as("y"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        // n·sxy overflows a long at corpus scale — the determinant is
        // assembled in doubles from the exact long moments, with the
        // oracle spelling the identical double expression
        .withColumn("slope",
          (col("n").cast("double") * col("sxy")
            - col("sx").cast("double") * col("sy"))
            / (col("n").cast("double") * col("sxx")
              - col("sx").cast("double") * col("sx")))
        .select(col("n"), round(col("slope"), 4).as("elasticity"),
          round((col("sy") - col("slope") * col("sx"))
            / col("n") / 1e4, 4).as("intercept"))),

    // Daily log-return volatility + annualized Sharpe per event type:
    // returns = ln(y_t/y_{t−1}) snapped to the 1e6 grid, sample sd
    // from exact snapped moments, Sharpe = mean/sd·√365 (rf = 0,
    // stated). The finance companion of q_max_drawdown.
    "q_volatility" -> ((s, d) => {
      DailyGrid.ret(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_ret"), sum("r_u").as("sr"),
          sum(col("r_u") * col("r_u")).as("qr"))
        .withColumn("mean_r", col("sr").cast("double") / col("n_ret") / 1e6)
        .withColumn("vol", sqrt((col("qr") - col("sr").cast("double")
          * col("sr") / col("n_ret"))
          / (col("n_ret") - 1)) / 1e6)
        .select(col("event_type"), col("n_ret"),
          round(col("mean_r"), 6).as("mean_daily_ret"),
          round(col("vol"), 6).as("daily_vol"),
          round(col("mean_r") / col("vol") * sqrt(lit(365.0)), 4)
            .as("sharpe_annualized"))
        .orderBy("event_type")
    }),

    // Weekday-uniformity χ² per event type: are events spread evenly
    // over the days of week (the seasonality gate before any
    // dow-conditioned model)? Exact counts on the bounded 7-cell
    // grid; expected = n/7 kept cross-multiplied so χ² needs one
    // division per type.
    "q_dow_chi2" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), dayofweek(col("ts")).as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(sum("c").as("n"), count(lit(1)).as("k"),
          sum(col("c") * col("c")).as("s2"))
        // χ² = Σ(c−n/7)²/(n/7) = 7·Σc²/n − n, exact until one division
        .select(col("event_type"), col("n"), col("k").as("n_weekdays"),
          round(lit(7.0) * col("s2") / col("n") - col("n"), 4)
            .as("dow_chi2"))
        .orderBy("event_type")),

    // Daily event-type mix entropy: H of the type distribution per
    // day, 1e9-snapped per-cell terms against exact day totals — the
    // one-number daily health signal the drift keys trend over weeks.
    "q_mix_entropy_daily" -> ((s, d) => {
      val cells = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("d"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val tot = cells.groupBy("d").agg(sum("c").as("n"))
      cells.join(tot, "d")
        .withColumn("t_u", round(lit(-1.0) * col("c") / col("n")
          * log(col("c").cast("double") / col("n")) * 1e9).cast("long"))
        .groupBy("d")
        .agg(max("n").as("n"), count(lit(1)).as("k_types"),
          sum("t_u").as("h_u"))
        .select(col("d"), col("n"), col("k_types"),
          round(col("h_u") / 1e9, 6).as("mix_entropy"))
        .orderBy("d")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical running-max island detection in exact µs
    "q_interval_union" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    epoch_us(ts) + 300000000 AS end_us
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts_us, event_id, end_us,
        |    MAX(end_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_max_end
        |  FROM ev),
        |isl AS (
        |  SELECT user_id, ts_us, end_us,
        |    SUM(CASE WHEN prev_max_end IS NULL OR ts_us > prev_max_end
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS island
        |  FROM m),
        |grp AS (
        |  SELECT user_id, island, MIN(ts_us) AS i_start,
        |    MAX(end_us) AS i_end
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  ROUND(SUM(i_end - i_start) / 6e7, 4) AS covered_minutes
        |FROM grp GROUP BY 1 ORDER BY user_id""".stripMargin,

    // identical date − row_number grouping over distinct days
    "q_gaps_islands" ->
      """WITH dd AS (
        |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS d
        |  FROM events),
        |g AS (
        |  SELECT event_type, d,
        |    d - CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY d) AS INTEGER) AS grp
        |  FROM dd)
        |SELECT event_type, MIN(d) AS island_start, MAX(d) AS island_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_days
        |FROM g GROUP BY event_type, grp
        |ORDER BY event_type, island_start""".stripMargin,

    // identical bounded lag grid and µ-snapped pow terms
    "q_adstock" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS y
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |lagged AS (
        |  SELECT daily.d + CAST(j.j AS INTEGER) AS d, j.j, daily.y
        |  FROM daily CROSS JOIN (SELECT unnest(generate_series(0, 13))
        |    AS j) j),
        |kept AS (
        |  SELECT lagged.d, lagged.j, lagged.y
        |  FROM lagged JOIN daily real_d ON lagged.d = real_d.d),
        |t AS (
        |  SELECT d, CAST(ROUND(pow(0.5, j) * y) AS BIGINT) AS t_u
        |  FROM kept)
        |SELECT d, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  ROUND(SUM(t_u) / 1e3, 4) AS adstock
        |FROM t GROUP BY 1 ORDER BY d""".stripMargin,

    // identical first-day split, no windows
    "q_new_returning" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (
        |  SELECT user_id, MIN(d) AS first_d
        |  FROM (SELECT user_id, CAST(ts AS DATE) AS d FROM events)
        |  GROUP BY 1)
        |SELECT ev.d, CAST(COUNT(*) AS BIGINT) AS active_users,
        |  CAST(SUM(CASE WHEN ev.d = f.first_d THEN 1 ELSE 0 END)
        |    AS BIGINT) AS new_users,
        |  CAST(COUNT(*) - SUM(CASE WHEN ev.d = f.first_d THEN 1 ELSE 0
        |    END) AS BIGINT) AS returning_users,
        |  ROUND(CAST(SUM(CASE WHEN ev.d = f.first_d THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 4) AS new_share
        |FROM ev JOIN f ON ev.user_id = f.user_id
        |GROUP BY 1 ORDER BY ev.d""".stripMargin,

    // identical exact centi totals, rank cuts, cross-multiplied shares
    "q_lorenz_curve" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |r AS (
        |  SELECT user_id, v,
        |    CAST(row_number() OVER (ORDER BY v, user_id) AS BIGINT)
        |      AS rn,
        |    CAST(SUM(v) OVER (ORDER BY v, user_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cumv
        |  FROM u),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MAX(cumv) AS BIGINT) AS tv FROM r),
        |dec AS (SELECT unnest(generate_series(1, 10)) AS dec)
        |SELECT CAST(dec AS BIGINT) AS decile, rn AS n_users,
        |  ROUND(CAST(cumv AS DOUBLE) / tv, 6) AS cum_value_share
        |FROM r CROSS JOIN tot CROSS JOIN dec
        |WHERE rn = n * dec // 10
        |ORDER BY decile""".stripMargin,

    // identical decile grid, 1e9-snapped rates, minimax PAV lattice
    "q_calibration_isotonic" ->
      """WITH b AS (
        |  SELECT least(CAST(json_extract(props, '$.k') AS BIGINT) // 10,
        |      9) AS bkt,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS p
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT bkt, n, p,
        |    CAST(ROUND(p * 1e9 / n) AS BIGINT) AS rate_u,
        |    CAST(row_number() OVER (ORDER BY bkt) AS BIGINT) AS i,
        |    CAST(SUM(CAST(ROUND(p * 1e9 / n) AS BIGINT)) OVER (
        |      ORDER BY bkt
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS pre
        |  FROM b),
        |ks AS (
        |  SELECT i + 1 AS k, pre AS pk1 FROM m
        |  UNION ALL SELECT 1, 0),
        |segs AS (
        |  SELECT ks.k, j.i AS j,
        |    CAST(j.pre - ks.pk1 AS DOUBLE) / (j.i - ks.k + 1) AS avg_u
        |  FROM m j JOIN ks ON j.i >= ks.k),
        |inner_min AS (
        |  SELECT t.i, t.bkt, t.n, t.rate_u, segs.k, MIN(avg_u) AS mn
        |  FROM segs JOIN m t ON segs.k <= t.i AND segs.j >= t.i
        |  GROUP BY 1, 2, 3, 4, 5),
        |fit AS (
        |  SELECT i, bkt, n, rate_u, MAX(mn) AS fit_u
        |  FROM inner_min GROUP BY 1, 2, 3, 4)
        |SELECT bkt AS score_decile, n, ROUND(rate_u / 1e9, 6) AS raw_rate,
        |  ROUND(fit_u / 1e9, 6) AS calibrated_rate
        |FROM fit ORDER BY score_decile""".stripMargin,

    // identical lifetime grid and suffix-sum risk sets
    "q_churn_hazard" ->
      """WITH lt AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS BIGINT) AS lt
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT lt, CAST(COUNT(*) AS BIGINT) AS ended
        |  FROM lt GROUP BY 1),
        |r AS (
        |  SELECT lt, ended,
        |    CAST(SUM(ended) OVER (ORDER BY lt DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS at_risk
        |  FROM g)
        |SELECT lt AS lifetime_days, ended, at_risk,
        |  ROUND(CAST(ended AS DOUBLE) / at_risk, 6) AS hazard
        |FROM r ORDER BY lifetime_days""".stripMargin,

    // identical user-day grain, ±6-day band join, full-history gate
    "q_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS ud_d
        |  FROM events),
        |grid AS (SELECT DISTINCT ud_d AS d FROM ud),
        |f AS (SELECT MIN(ud_d) AS d0 FROM ud),
        |wau AS (
        |  SELECT grid.d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM grid JOIN ud
        |    ON ud.ud_d BETWEEN grid.d - 6 AND grid.d
        |  GROUP BY 1),
        |dau AS (
        |  SELECT ud_d AS d, CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |    AS dau
        |  FROM ud GROUP BY 1)
        |SELECT dau.d, dau.dau, wau.wau,
        |  ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 4) AS stickiness
        |FROM dau JOIN wau ON dau.d = wau.d CROSS JOIN f
        |WHERE date_diff('day', f.d0, dau.d) >= 6
        |ORDER BY dau.d""".stripMargin,

    // identical prefix peak, 1e9-snapped drawdown, tie-broken trough
    "q_max_drawdown" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
        |      // COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |pk AS (
        |  SELECT event_type, d, y,
        |    MAX(y) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM daily),
        |dd AS (
        |  SELECT event_type, d, y, peak,
        |    CAST(ROUND((peak - y) * 1e9 / peak) AS BIGINT) AS dd_u,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(ROUND((peak - y) * 1e9 / peak) AS BIGINT)
        |        DESC, d) AS rn
        |  FROM pk)
        |SELECT event_type, d AS trough_d, ROUND(peak / 1e3, 4) AS peak_v,
        |  ROUND(y / 1e3, 4) AS trough_v,
        |  ROUND(dd_u / 1e9, 6) AS max_drawdown
        |FROM dd WHERE rn = 1 ORDER BY event_type""".stripMargin,

    // identical tail subset and 1e9-snapped log terms
    "q_power_law_mle" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |t AS (
        |  SELECT CAST(ROUND(ln(CAST(v AS DOUBLE) / 5000) * 1e9)
        |    AS BIGINT) AS t_u
        |  FROM u WHERE v >= 5000)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
        |  CAST(50.0 AS DOUBLE) AS xmin,
        |  ROUND(1.0 + COUNT(*) * 1e9 / CAST(SUM(t_u) AS DOUBLE), 4)
        |    AS alpha
        |FROM t""".stripMargin,

    // identical exact centi·k weights
    "q_vwap" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS dd,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v_c,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |a AS (
        |  SELECT event_type, dd, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(v_c * k) AS vw, SUM(k) AS sk
        |  FROM ev GROUP BY 1, 2)
        |SELECT event_type, dd AS d, n,
        |  ROUND(CAST(vw AS DOUBLE) / sk / 100.0, 4) AS vwap
        |FROM a WHERE sk > 0
        |ORDER BY event_type, d""".stripMargin,

    // identical per-user counts and one-row rollup
    "q_repeat_purchase" ->
      """WITH u AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS np
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_purchasers,
        |    CAST(SUM(CASE WHEN np >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_repeat,
        |    CAST(SUM(np) AS BIGINT) AS total_purchases
        |  FROM u)
        |SELECT n_purchasers, n_repeat,
        |  ROUND(CAST(n_repeat AS DOUBLE) / n_purchasers, 4)
        |    AS repeat_rate,
        |  ROUND(CAST(total_purchases AS DOUBLE) / n_purchasers, 4)
        |    AS avg_purchases
        |FROM a""".stripMargin,

    // identical exact collision sums
    "q_simpson_diversity" ->
      """WITH tf AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tc AS (
        |  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS m
        |  FROM tf GROUP BY 1, 2)
        |SELECT lang, CAST(SUM(m) AS BIGINT) AS n_tok,
        |  CAST(COUNT(*) AS BIGINT) AS vocab,
        |  ROUND(1.0 - CAST(SUM(m * (m - 1)) AS DOUBLE)
        |    / (CAST(SUM(m) AS DOUBLE) * (SUM(m) - 1)), 6) AS simpson_d
        |FROM tc GROUP BY 1 ORDER BY lang""".stripMargin,

    // identical 1e4-snapped logs and exact normal equations
    "q_price_elasticity" ->
      """WITH t AS (
        |  SELECT
        |    CAST(ROUND(ln(l_extendedprice / l_quantity) * 1e4)
        |      AS BIGINT) AS x,
        |    CAST(ROUND(ln(l_quantity) * 1e4) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
        |    SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM t),
        |f AS (
        |  SELECT n,
        |    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |      AS slope,
        |    sx, sy
        |  FROM m)
        |SELECT n, ROUND(slope, 4) AS elasticity,
        |  ROUND((sy - slope * sx) / n / 1e4, 4) AS intercept
        |FROM f""".stripMargin,

    // identical 1e6-snapped log returns and exact moments
    "q_volatility" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
        |      // COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type,
        |    CAST(ROUND(ln(CAST(y AS DOUBLE)
        |      / lag(y) OVER (PARTITION BY event_type ORDER BY d)) * 1e6)
        |      AS BIGINT) AS r_u
        |  FROM daily),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_ret,
        |    SUM(r_u) AS sr, SUM(r_u * r_u) AS qr
        |  FROM r WHERE r_u IS NOT NULL GROUP BY 1),
        |v AS (
        |  SELECT event_type, n_ret,
        |    CAST(sr AS DOUBLE) / n_ret / 1e6 AS mean_r,
        |    sqrt((qr - CAST(sr AS DOUBLE) * sr / n_ret) / (n_ret - 1))
        |      / 1e6 AS vol
        |  FROM m)
        |SELECT event_type, n_ret, ROUND(mean_r, 6) AS mean_daily_ret,
        |  ROUND(vol, 6) AS daily_vol,
        |  ROUND(mean_r / vol * sqrt(365.0), 4) AS sharpe_annualized
        |FROM v ORDER BY event_type""".stripMargin,

    // identical 7-cell counts and cross-multiplied chi-square
    "q_dow_chi2" ->
      """WITH c AS (
        |  SELECT event_type, dayofweek(ts) AS dow,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT event_type, SUM(c) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS k, SUM(c * c) AS s2
        |  FROM c GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n, k AS n_weekdays,
        |  ROUND(7.0 * s2 / n - n, 4) AS dow_chi2
        |FROM a ORDER BY event_type""".stripMargin,

    // identical 1e9-snapped entropy cells against exact day totals
    "q_mix_entropy_daily" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT d, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1),
        |t AS (
        |  SELECT cells.d, tot.n,
        |    CAST(ROUND(-1.0 * c / n * ln(CAST(c AS DOUBLE) / n) * 1e9)
        |      AS BIGINT) AS t_u
        |  FROM cells JOIN tot ON cells.d = tot.d)
        |SELECT d, MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS k_types,
        |  ROUND(SUM(t_u) / 1e9, 6) AS mix_entropy
        |FROM t GROUP BY 1 ORDER BY d""".stripMargin
  )
}
