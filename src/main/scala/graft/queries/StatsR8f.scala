package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-8 wave 8 (SURVEY.md §2 B.10b): the nonparametric /
  * time-series-diagnostics family — Wilcoxon signed-rank, Ljung-Box
  * portmanteau, Durbin-Watson, Hodges-Lehmann pseudo-median,
  * Nelson-Aalen cumulative hazard. Everything reduces the corpus to
  * the bounded day / lifetime grid with one partial agg first; the
  * rank/lag machinery then runs on ≤|days| rows per type.
  */
object StatsR8f {

  import DailyGrid.wp

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Wilcoxon signed-rank on the paired daily click/view totals:
    // zero diffs drop (Pratt exclusion), |d| ranks average ties in
    // exact HALF-units (2·min_rank + t − 1), W+ folds those, and the
    // tie-corrected normal z is one double expression. Rank windows
    // run on the bounded day grid only.
    "q_wilcoxon_signrank" -> ((s, d) => {
      val diffs = DailyGrid.centiOf(s, d, "click", "a")
        .join(DailyGrid.centiOf(s, d, "view", "b"), "d")
        .filter(col("a") =!= col("b"))
        .select((col("a") - col("b")).as("dd"),
          abs(col("a") - col("b")).as("ad"))
        .localCheckpoint(eager = true) // bounded day grid, 2 legs
      val r = diffs
        .withColumn("mr", rank().over(Window.orderBy("ad")).cast("long"))
        .withColumn("t", count(lit(1)).over(Window.partitionBy("ad")))
      val agg1 = r.agg(count(lit(1)).as("n"),
        sum(when(col("dd") > 0, col("mr") * 2 + col("t") - 1)
          .otherwise(0L)).as("w_half"))
      val tiec = diffs.groupBy("ad").agg(count(lit(1)).as("t"))
        .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tsum"))
      agg1.crossJoin(tiec)
        .select(col("n"), (col("w_half") / 2.0).as("w_plus"),
          round((col("w_half") / 2.0
              - col("n") * (col("n") + 1) / 4.0)
            / sqrt(col("n") * (col("n") + lit(1.0))
                * (col("n") * 2 + 1) / 24.0
              - col("tsum") / 48.0), 6).as("z"))
    }),

    // Ljung-Box Q (lags 1..7) per type: the series mean-centers by
    // the EXACT n-scaling trick u_t = n·x_t − Σx (u ~ 2e8 at daily-
    // total magnitude, so Σu·u ≲ 1.2e18 stays in long range on the
    // ≤50-day grid — documented bound); ρ_k snaps to 1e9 after the
    // lag join, Q is one double fold over the 7-row-per-type grid.
    "q_ljung_box" -> ((s, d) => {
      val idx = DailyGrid.centi(s, d)
      val m = idx.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"))
      val u = idx.join(m, "event_type")
        .select(col("event_type"), col("i"), col("n"),
          (col("x") * col("n") - col("sx")).as("u"))
        .localCheckpoint(eager = true) // day grid × types, 3 legs
      val den = u.groupBy("event_type")
        .agg(max("n").as("n"), sum(col("u") * col("u")).as("duu"))
      val lags = s.range(1, 8).select(col("id").as("k"))
      val u2 = u.select(col("event_type").as("et2"), col("i").as("i2"),
        col("u").as("u2"))
      u.crossJoin(broadcast(lags))
        .join(u2, col("et2") === col("event_type")
          && col("i2") === col("i") + col("k"))
        .join(den.select(col("event_type"), col("duu")), "event_type")
        .groupBy("event_type", "k")
        .agg(max("n").as("n"),
          round(sum(col("u") * col("u2")) * 1e9 / max("duu"))
            .cast("long").as("r_u"))
        .groupBy("event_type")
        .agg(max("n").as("n"),
          round(max("n") * (max("n") + lit(2.0))
            * sum((col("r_u") / 1e9) * (col("r_u") / 1e9)
              / (col("n") - col("k"))), 4).as("lb_q"))
        .select(col("event_type"), col("n"), col("lb_q"))
        .orderBy("event_type")
    }),

    // Durbin-Watson on the residuals of the daily-total OLS trend:
    // exact (t, y) moments → one double slope/intercept, residuals
    // snap back to the exact centi grid, DW is exact sums after the
    // snap. One lag window on the day grid.
    "q_durbin_watson" -> ((s, d) => {
      val idx = DailyGrid.centi(s, d).withColumnRenamed("x", "y")
        .withColumnRenamed("i", "t")
      val m = idx.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("t").as("st"), sum("y").as("sy"),
          sum(col("t") * col("y")).as("sty"),
          sum(col("t") * col("t")).as("stt"))
        .withColumn("slope", (col("n").cast("double") * col("sty")
            - col("st").cast("double") * col("sy"))
          / (col("n").cast("double") * col("stt")
            - col("st").cast("double") * col("st")))
      val e = idx.join(m.select(col("event_type"), col("n"), col("st"),
          col("sy"), col("slope")), "event_type")
        .select(col("event_type"), col("t"),
          round(col("y") - col("slope") * col("t")
            - (col("sy") - col("slope") * col("st")) / col("n"))
            .cast("long").as("e_u"))
      e.withColumn("pe", lag("e_u", 1).over(
          Window.partitionBy("event_type").orderBy("t")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(when(col("pe").isNull, 0.0)
              .otherwise((col("e_u") - col("pe")).cast("double")
                * (col("e_u") - col("pe"))))
            / sum(col("e_u").cast("double") * col("e_u")), 6).as("dw"))
        .orderBy("event_type")
    }),

    // Hodges-Lehmann pseudo-median of the daily milli means per type:
    // Walsh sums over the bounded day grid (n(n+1)/2 ≈ 465 rows per
    // type — pairs of DAYS, never of events), middle-two average on
    // exact longs, one division at the end.
    "q_hodges_lehmann" -> ((s, d) => {
      val idx = DailyGrid.mean(s, d)
        .select(col("event_type"), col("y"), col("i"))
      val b = idx.select(col("event_type").as("et2"), col("y").as("y2"),
        col("i").as("i2"))
      idx.join(b, col("et2") === col("event_type")
          && col("i") <= col("i2"))
        .select(col("event_type"), (col("y") + col("y2")).as("w"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy("w")).cast("long"))
        .withColumn("nw", count(lit(1)).over(wp))
        // Middle ranks via TRUNCATING casts (Spark '/' on longs is double
        // division — x.5 would never match an integer rn; the cast is
        // load-bearing, same convention as q_levene_bf's med2). Each Walsh
        // SUM w = y_i + y_j is twice the Walsh average, and the estimate
        // averages the two middle rows, hence /4 — so the single middle
        // row of an odd count must weigh 2.
        .withColumn("p1", ((col("nw") + 1) / 2).cast("long"))
        .withColumn("p2", (col("nw") / 2 + 1).cast("long"))
        .groupBy("event_type")
        .agg(max("nw").as("n_walsh"),
          round(sum(when(col("rn") === col("p1") && col("p1") === col("p2"),
              col("w") * 2)
            .when(col("rn") === col("p1") || col("rn") === col("p2"),
              col("w"))
            .otherwise(0L)) / 4.0 / 1e3, 4).as("hl_estimate"))
        .orderBy("event_type")
    }),

    // Nelson-Aalen cumulative hazard over the lifetime grid —
    // q_churn_hazard's estimator-integral sibling: per-offset
    // ended/at_risk snaps to 1e9, then one prefix sum.
    "q_nelson_aalen" -> ((s, d) => {
      val g = Tables.events(s, d)
        .groupBy("user_id")
        .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
          .cast("long").as("lt"))
        .groupBy("lt").agg(count(lit(1)).as("ended"))
      // bounded grain: one row per distinct lifetime-day value (<= day span)
      val wsuf = Window.orderBy(col("lt").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val wpre = Window.orderBy("lt")
        .rowsBetween(Window.unboundedPreceding, 0)
      g.withColumn("at_risk", sum("ended").over(wsuf))
        .withColumn("h_u",
          round(col("ended") * 1e9 / col("at_risk")).cast("long"))
        .withColumn("cum_hazard",
          round(sum("h_u").over(wpre).cast("double") / 1e9, 6))
        .select(col("lt").as("lifetime_days"), col("ended"),
          col("at_risk"), col("cum_hazard"))
        .orderBy("lifetime_days")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical half-unit average ranks and tie-corrected z
    "q_wilcoxon_signrank" ->
      """WITH da AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS a
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |db AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS b
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |diffs AS (
        |  SELECT da.d, da.a - db.b AS dd, abs(da.a - db.b) AS ad
        |  FROM da JOIN db ON da.d = db.d WHERE da.a <> db.b),
        |r AS (
        |  SELECT dd, ad,
        |    CAST(rank() OVER (ORDER BY ad) AS BIGINT) AS mr,
        |    CAST(COUNT(*) OVER (PARTITION BY ad) AS BIGINT) AS t
        |  FROM diffs),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN dd > 0 THEN 2 * mr + t - 1 ELSE 0 END)
        |      AS BIGINT) AS w_half
        |  FROM r),
        |tiec AS (
        |  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tsum
        |  FROM (SELECT ad, CAST(COUNT(*) AS BIGINT) AS t
        |    FROM diffs GROUP BY 1))
        |SELECT n, w_half / 2.0 AS w_plus,
        |  ROUND((w_half / 2.0 - n * (n + 1) / 4.0)
        |    / sqrt(n * (n + 1.0) * (2 * n + 1) / 24.0 - tsum / 48.0), 6)
        |    AS z
        |FROM agg CROSS JOIN tiec""".stripMargin,

    // identical n-scaled exact centering and 1e9-snapped rho
    "q_ljung_box" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, x,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) AS i
        |  FROM daily),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx
        |  FROM idx GROUP BY 1),
        |u AS (
        |  SELECT idx.event_type, idx.i, m.n, idx.x * m.n - m.sx AS u
        |  FROM idx JOIN m ON idx.event_type = m.event_type),
        |den AS (
        |  SELECT event_type, MAX(n) AS n, SUM(u * u) AS duu
        |  FROM u GROUP BY 1),
        |rho AS (
        |  SELECT u1.event_type, k.k, MAX(den.n) AS n,
        |    CAST(ROUND(SUM(u1.u * u2.u) * 1e9 / MAX(den.duu)) AS BIGINT)
        |      AS r_u
        |  FROM u u1
        |  CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS k) k
        |  JOIN u u2 ON u2.event_type = u1.event_type
        |    AND u2.i = u1.i + k.k
        |  JOIN den ON den.event_type = u1.event_type
        |  GROUP BY 1, 2)
        |SELECT event_type, MAX(n) AS n,
        |  ROUND(MAX(n) * (MAX(n) + 2.0)
        |    * SUM((r_u / 1e9) * (r_u / 1e9) / (n - k)), 4) AS lb_q
        |FROM rho GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical exact trend moments and centi-snapped residuals
    "q_durbin_watson" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, d, y,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) AS t
        |  FROM daily),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(t) AS st, SUM(y) AS sy, SUM(t * y) AS sty,
        |    SUM(t * t) AS stt
        |  FROM idx GROUP BY 1),
        |fit AS (
        |  SELECT event_type, n,
        |    (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
        |      / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
        |      AS slope,
        |    st, sy
        |  FROM m),
        |e AS (
        |  SELECT idx.event_type, idx.t,
        |    CAST(ROUND(idx.y - fit.slope * idx.t
        |      - (fit.sy - fit.slope * fit.st) / fit.n) AS BIGINT) AS e_u
        |  FROM idx JOIN fit ON idx.event_type = fit.event_type),
        |dw AS (
        |  SELECT event_type, e_u,
        |    lag(e_u) OVER (PARTITION BY event_type ORDER BY t) AS pe
        |  FROM e)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(CASE WHEN pe IS NULL THEN 0
        |      ELSE CAST((e_u - pe) AS DOUBLE) * (e_u - pe) END)
        |    / SUM(CAST(e_u AS DOUBLE) * e_u), 6) AS dw
        |FROM dw GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical Walsh sums and middle-two average
    "q_hodges_lehmann" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) // COUNT(*)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) AS i
        |  FROM daily),
        |walsh AS (
        |  SELECT a.event_type, a.y + b.y AS w
        |  FROM idx a JOIN idx b
        |    ON a.event_type = b.event_type AND a.i <= b.i),
        |r AS (
        |  SELECT event_type, w,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY w)
        |      AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS nw
        |  FROM walsh)
        |SELECT event_type, MAX(nw) AS n_walsh,
        |  ROUND(SUM(CASE
        |      WHEN rn = (nw + 1) // 2 AND (nw + 1) // 2 = nw // 2 + 1
        |        THEN 2 * w
        |      WHEN rn IN ((nw + 1) // 2, nw // 2 + 1) THEN w
        |      ELSE 0 END) / 4.0 / 1e3, 4) AS hl_estimate
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical lifetime grid, 1e9-snapped terms, prefix sum
    "q_nelson_aalen" ->
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
        |  FROM g),
        |t AS (
        |  SELECT lt, ended, at_risk,
        |    CAST(ROUND(ended * 1e9 / at_risk) AS BIGINT) AS h_u
        |  FROM r)
        |SELECT lt AS lifetime_days, ended, at_risk,
        |  ROUND(CAST(SUM(h_u) OVER (ORDER BY lt
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) / 1e9, 6) AS cum_hazard
        |FROM t ORDER BY lifetime_days""".stripMargin
  )
}
