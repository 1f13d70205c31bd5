package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Round-10 wave 2 (SURVEY.md §2 B.10b): operations planning and
  * experiment-integrity statistics — Croston's intermittent-demand
  * forecast in exact floor-div integer state, hour-of-day occupancy
  * from exact session-interval algebra, a Huber M-estimator with
  * 1e6-snapped IRLS weights, and the A/B "peeking" audit (how many
  * interim looks would have falsely stopped the experiment).
  */
object StatsR10b {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Croston's method per type on the daily revenue series: a
    // "demand day" is a day whose revenue exceeds 1.2× the mean day
    // (5·c·n > 6·S exact cross-multiply, stated — revenue here is
    // dense, so Croston's sparse-demand split needs a threshold).
    // Size EMA z ← (z+q) div 2 seeds at the first demand; interval
    // EMA p ← (p+g) div 2 seeds at the SECOND demand's gap. Exact
    // floor-div recursions folded with aggregate() over the
    // calendar-bounded day array (the q_holt_winters shape); forecast
    // = z/p, one division at the end. Types need ≥ 2 demand days.
    "q_croston" -> ((s, d) => {
      val fold =
        """aggregate(
          |  slice(arr, 2, size(arr) - 1),
          |  named_struct(
          |    'z', element_at(arr, 1).q,
          |    'p', CAST(-1 AS BIGINT),
          |    'last', element_at(arr, 1).t,
          |    'n', CAST(1 AS BIGINT)),
          |  (acc, x) -> named_struct(
          |    'z', (acc.z + x.q) DIV 2,
          |    'p', CASE WHEN acc.p < 0 THEN x.t - acc.last
          |      ELSE (acc.p + (x.t - acc.last)) DIV 2 END,
          |    'last', x.t,
          |    'n', acc.n + 1),
          |  a -> a)""".stripMargin
      val day = DailyGrid.centi(s, d)
        .select(col("event_type"), col("x").as("c"), col("i").as("t"))
      val tot = day.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("c").as("st"))
      day.join(broadcast(tot), "event_type")
        .filter(col("c") * 5 * col("n") > col("st") * 6)
        .groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("t"), col("c").as("q"))))
          .as("arr"))
        .filter(size(col("arr")) >= 2)
        .withColumn("f", expr(fold))
        .select(col("event_type"),
          size(col("arr")).cast("long").as("n_demand_days"),
          round(col("f.z") / 100.0, 2).as("size_ema"),
          col("f.p").as("interval_ema_days"),
          round(col("f.z") / col("f.p").cast("double") / 100, 4)
            .as("croston_forecast"))
        .orderBy("event_type")
    }),

    // Hour-of-day occupancy: 30-minute-gap user sessions (the
    // q_session_gaps convention) intersected EXACTLY with absolute
    // hour windows — Σ overlap µs per hour-of-day, normalized by the
    // distinct calendar days observed. The capacity-planning view of
    // the session table; all interval algebra in exact µs longs.
    "q_hourly_occupancy" -> ((s, d) => {
      val wu = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val sess = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev", lag("us", 1).over(wu))
        .withColumn("brk",
          when(col("prev").isNull
            || col("us") - col("prev") > 1800000000L, 1L).otherwise(0L))
        .withColumn("sid", sum("brk").over(
          wu.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(min("us").as("s0"), max("us").as("s1"))
      val nDays = Tables.events(s, d)
        .agg(countDistinct(to_date(col("ts"))).as("nd"))
      sess
        .withColumn("k", explode(expr(
          "sequence(s0 DIV 3600000000, s1 DIV 3600000000)")))
        .withColumn("ov",
          least(col("s1"), (col("k") + 1) * 3600000000L)
            - greatest(col("s0"), col("k") * 3600000000L))
        .filter(col("ov") > 0)
        .groupBy(pmod(col("k"), lit(24L)).as("hour"))
        .agg(sum("ov").as("busy_us"), count(lit(1)).as("n_spans"))
        .crossJoin(broadcast(nDays))
        .select(col("hour"), col("n_spans"),
          round(col("busy_us") / 1e6, 2).as("busy_seconds"),
          round(col("busy_us").cast("double")
            / (col("nd") * 3600000000L), 6).as("avg_concurrency"))
        .orderBy("hour")
    }),

    // Huber M-estimator of the centi value per type: µ0 = mean, scale
    // k = 1.345·σ (population σ from exact moments — MAD would hit
    // even-count median interpolation, stated), then 3 IRLS rounds
    // with weights snapped to the 1e6 grid (w = 1e6 inside |x−µ| ≤ k,
    // else round(k·1e6/|x−µ|)) so every Σw and Σw·x is an exact
    // integer — no double-summation-order risk across engines.
    "q_huber_mean" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("x"))
        .localCheckpoint(eager = true) // 1 moment pass + 3 IRLS passes
      val mom = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
        .withColumn("mu0", col("sx").cast("double") / col("n"))
        .withColumn("k", lit(1.345) * sqrt(
          (col("n") * col("sxx") - col("sx").cast("decimal(38,0)")
            * col("sx")).cast("double")
          / (col("n").cast("double") * col("n"))))
        .select("event_type", "n", "mu0", "k")
      def irls(mu: DataFrame, muCol: String, out: String): DataFrame = {
        ev.join(broadcast(mu), "event_type")
          .withColumn("ad", abs(col("x") - col(muCol)))
          .withColumn("w", when(col("ad") <= col("k"), lit(1000000L))
            .otherwise(round(col("k") * 1e6 / col("ad")).cast("long")))
          .groupBy("event_type")
          .agg(max("n").as("n"), max("k").as("k"),
            (sum(col("w").cast("decimal(38,0)") * col("x"))
              .cast("double")
              / sum("w").cast("double")).as(out))
      }
      val m1 = irls(mom, "mu0", "mu1")
      val m2 = irls(m1, "mu1", "mu2")
      val m3 = irls(m2, "mu2", "mu3")
      mom.join(m3.select("event_type", "mu3"), "event_type")
        .select(col("event_type"), col("n"),
          round(col("mu0") / 100, 4).as("mean"),
          round(col("mu3") / 100, 4).as("huber_mean"))
        .orderBy("event_type")
    }),

    // A/B peeking audit between the click and view arms' centi
    // values: per-day cumulative Welch t from exact prefix moments,
    // flagging every interim day where |t| > 1.96 — the number of
    // looks that would have "stopped" the test early, vs the final t.
    // The why-you-need-SPRT companion to q_sprt_boundary.
    "q_ab_peeking" -> ((s, d) => {
      val day = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .groupBy(col("event_type"), to_date(col("ts")).as("dd"))
        .agg(count(lit(1)).as("cn"),
          sum(round(col("value") * 100).cast("long")).as("cs"),
          sum(round(col("value") * 100).cast("long")
            * round(col("value") * 100).cast("long")).as("cs2"))
      val wd = Window.partitionBy("event_type").orderBy("dd")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = day
        .withColumn("n", sum("cn").over(wd))
        .withColumn("s", sum("cs").over(wd))
        .withColumn("s2", sum("cs2").over(wd))
        .select(col("event_type"), col("dd"), col("n"), col("s"),
          col("s2"))
      val a = cum.filter(col("event_type") === "click")
        .select(col("dd"), col("n").as("na"), col("s").as("sa"),
          col("s2").as("sa2"))
      val b = cum.filter(col("event_type") === "view")
        .select(col("dd").as("dd_b"), col("n").as("nb"),
          col("s").as("sb"), col("s2").as("sb2"))
      val t = a.join(b, col("dd") === col("dd_b"))
        .filter(col("na") > 1 && col("nb") > 1)
        .withColumn("va", (col("sa2").cast("double")
          - col("sa").cast("double") * col("sa") / col("na"))
          / (col("na") - 1))
        .withColumn("vb", (col("sb2").cast("double")
          - col("sb").cast("double") * col("sb") / col("nb"))
          / (col("nb") - 1))
        .withColumn("t", (col("sa").cast("double") / col("na")
          - col("sb").cast("double") / col("nb"))
          / sqrt(col("va") / col("na") + col("vb") / col("nb")))
        .localCheckpoint(eager = true) // crossing rollup + final-row leg
      // bounded grain: one crossing row per day
      val wLast = Window.orderBy(col("dd").desc)
      val last = t.withColumn("lr", row_number().over(wLast))
        .filter(col("lr") === 1)
        .select(col("t").as("t_final"), col("dd").as("last_day"))
      t.agg(count(lit(1)).as("n_looks"),
          sum(when(abs(col("t")) > 1.96, 1L).otherwise(0L))
            .as("n_crossings"),
          min(when(abs(col("t")) > 1.96, col("dd")))
            .as("first_crossing"))
        .crossJoin(broadcast(last))
        .select(col("n_looks"), col("n_crossings"),
          col("first_crossing"), round(col("t_final"), 4).as("t_final"))
    })
  )

  val oracle: Map[String, String] = Map(
    // identical threshold split + coupled floor-div recursions
    "q_croston" ->
      """WITH RECURSIVE day AS (
        |  SELECT event_type, CAST(ts AS DATE) AS dd,
        |    SUM(CAST(ROUND(value * 100) AS BIGINT)) AS c
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, c,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY dd) AS BIGINT) AS t,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n,
        |    SUM(c) OVER (PARTITION BY event_type) AS st
        |  FROM day),
        |dem AS (
        |  SELECT event_type, c AS q, t,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY t) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS nd
        |  FROM idx WHERE c * 5 * n > st * 6),
        |r AS (
        |  SELECT event_type, rn, q AS z, CAST(-1 AS BIGINT) AS p,
        |    t AS last_t, nd
        |  FROM dem WHERE rn = 1
        |  UNION ALL
        |  SELECT dem.event_type, dem.rn, (r.z + dem.q) // 2,
        |    CASE WHEN r.p < 0 THEN dem.t - r.last_t
        |      ELSE (r.p + (dem.t - r.last_t)) // 2 END,
        |    dem.t, r.nd
        |  FROM r JOIN dem ON dem.event_type = r.event_type
        |    AND dem.rn = r.rn + 1)
        |SELECT event_type, nd AS n_demand_days,
        |  ROUND(z / 100.0, 2) AS size_ema,
        |  p AS interval_ema_days,
        |  ROUND(z / CAST(p AS DOUBLE) / 100, 4) AS croston_forecast
        |FROM r WHERE rn = nd AND nd >= 2
        |ORDER BY event_type""".stripMargin,

    // identical 30-min gap sessions + exact hour-window overlaps
    "q_hourly_occupancy" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |brk AS (
        |  SELECT user_id, us,
        |    SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS sid
        |  FROM ev),
        |sess AS (
        |  SELECT user_id, sid, MIN(us) AS s0, MAX(us) AS s1
        |  FROM brk GROUP BY 1, 2),
        |nd AS (
        |  SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
        |    AS nd FROM events),
        |spans AS (
        |  SELECT UNNEST(generate_series(s0 // 3600000000,
        |      s1 // 3600000000)) AS k, s0, s1
        |  FROM sess),
        |ov AS (
        |  SELECT k % 24 AS hour,
        |    LEAST(s1, (k + 1) * 3600000000)
        |      - GREATEST(s0, k * 3600000000) AS ov
        |  FROM spans)
        |SELECT CAST(hour AS BIGINT) AS hour,
        |  CAST(COUNT(*) AS BIGINT) AS n_spans,
        |  ROUND(SUM(ov) / 1e6, 2) AS busy_seconds,
        |  ROUND(CAST(SUM(ov) AS DOUBLE)
        |    / ((SELECT nd FROM nd) * 3600000000), 6)
        |    AS avg_concurrency
        |FROM ov WHERE ov > 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical snapped IRLS rounds
    "q_huber_mean" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS x
        |  FROM events),
        |mom AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM ev GROUP BY 1),
        |m0 AS (
        |  SELECT event_type, n,
        |    CAST(sx AS DOUBLE) / n AS mu0,
        |    1.345 * sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx
        |        AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * n)) AS k
        |  FROM mom),
        |i1 AS (
        |  SELECT ev.event_type,
        |    CAST(SUM(CAST(CASE WHEN ABS(ev.x - m0.mu0) <= m0.k
        |        THEN 1000000
        |        ELSE CAST(ROUND(m0.k * 1e6 / ABS(ev.x - m0.mu0))
        |          AS BIGINT) END AS HUGEINT) * ev.x) AS DOUBLE)
        |      / CAST(SUM(CASE WHEN ABS(ev.x - m0.mu0) <= m0.k
        |        THEN 1000000
        |        ELSE CAST(ROUND(m0.k * 1e6 / ABS(ev.x - m0.mu0))
        |          AS BIGINT) END) AS DOUBLE) AS mu1
        |  FROM ev JOIN m0 ON ev.event_type = m0.event_type
        |  GROUP BY 1),
        |i2 AS (
        |  SELECT ev.event_type,
        |    CAST(SUM(CAST(CASE WHEN ABS(ev.x - i1.mu1) <= m0.k
        |        THEN 1000000
        |        ELSE CAST(ROUND(m0.k * 1e6 / ABS(ev.x - i1.mu1))
        |          AS BIGINT) END AS HUGEINT) * ev.x) AS DOUBLE)
        |      / CAST(SUM(CASE WHEN ABS(ev.x - i1.mu1) <= m0.k
        |        THEN 1000000
        |        ELSE CAST(ROUND(m0.k * 1e6 / ABS(ev.x - i1.mu1))
        |          AS BIGINT) END) AS DOUBLE) AS mu2
        |  FROM ev JOIN m0 ON ev.event_type = m0.event_type
        |  JOIN i1 ON ev.event_type = i1.event_type
        |  GROUP BY 1),
        |i3 AS (
        |  SELECT ev.event_type,
        |    CAST(SUM(CAST(CASE WHEN ABS(ev.x - i2.mu2) <= m0.k
        |        THEN 1000000
        |        ELSE CAST(ROUND(m0.k * 1e6 / ABS(ev.x - i2.mu2))
        |          AS BIGINT) END AS HUGEINT) * ev.x) AS DOUBLE)
        |      / CAST(SUM(CASE WHEN ABS(ev.x - i2.mu2) <= m0.k
        |        THEN 1000000
        |        ELSE CAST(ROUND(m0.k * 1e6 / ABS(ev.x - i2.mu2))
        |          AS BIGINT) END) AS DOUBLE) AS mu3
        |  FROM ev JOIN m0 ON ev.event_type = m0.event_type
        |  JOIN i2 ON ev.event_type = i2.event_type
        |  GROUP BY 1)
        |SELECT m0.event_type, m0.n,
        |  ROUND(m0.mu0 / 100, 4) AS mean,
        |  ROUND(i3.mu3 / 100, 4) AS huber_mean
        |FROM m0 JOIN i3 ON m0.event_type = i3.event_type
        |ORDER BY m0.event_type""".stripMargin,

    // identical prefix-moment Welch t per interim day
    "q_ab_peeking" ->
      """WITH day AS (
        |  SELECT event_type, CAST(ts AS DATE) AS dd,
        |    CAST(COUNT(*) AS BIGINT) AS cn,
        |    SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cs,
        |    SUM(CAST(ROUND(value * 100) AS BIGINT)
        |      * CAST(ROUND(value * 100) AS BIGINT)) AS cs2
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, dd,
        |    SUM(cn) OVER w AS n, SUM(cs) OVER w AS s,
        |    SUM(cs2) OVER w AS s2
        |  FROM day
        |  WINDOW w AS (PARTITION BY event_type ORDER BY dd
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (
        |  SELECT a.dd,
        |    (CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
        |    / sqrt(
        |      ((CAST(a.s2 AS DOUBLE)
        |        - CAST(a.s AS DOUBLE) * a.s / a.n) / (a.n - 1)) / a.n
        |      + ((CAST(b.s2 AS DOUBLE)
        |        - CAST(b.s AS DOUBLE) * b.s / b.n) / (b.n - 1)) / b.n)
        |      AS t
        |  FROM (SELECT * FROM cum WHERE event_type = 'click') a
        |  JOIN (SELECT * FROM cum WHERE event_type = 'view') b
        |    ON a.dd = b.dd
        |  WHERE a.n > 1 AND b.n > 1),
        |last AS (
        |  SELECT t AS t_final, dd AS last_day FROM t
        |  ORDER BY dd DESC LIMIT 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_looks,
        |  CAST(SUM(CASE WHEN ABS(t) > 1.96 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_crossings,
        |  MIN(CASE WHEN ABS(t) > 1.96 THEN dd END) AS first_crossing,
        |  ROUND((SELECT t_final FROM last), 4) AS t_final
        |FROM t""".stripMargin
  )
}
