package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 2 (SURVEY.md §2 B.10b): regression/series diagnostics
  * and agreement tests — Cook's distance, Granger-style F, CCF,
  * turning-point randomness, Bartels rank von Neumann, Cochran's Q,
  * Fleiss' kappa, White's heteroskedasticity LM, L-moments, Gumbel
  * extreme-value fit. The corpus reduces to a bounded grid (days,
  * users, or one row) with one partial agg first; every statistic
  * assembles from EXACT long moments of milli/centi-snapped values,
  * with the few double expressions spelled identically in the DuckDB
  * oracle (§7.6 discipline).
  */
object StatsR9b {

  import DailyGrid.{wo, wp}

  /** Exact OLS trend moments per type over the daily grid. */
  private def trendFit(s: SparkSession, d: String): DataFrame =
    DailyGrid.mean(s, d).withColumnRenamed("i", "t").groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("t").as("st"), sum("y").as("sy"),
        sum(col("t") * col("y")).as("sty"),
        sum(col("t") * col("t")).as("stt"))
      .withColumn("slope", (col("n").cast("double") * col("sty")
          - col("st").cast("double") * col("sy"))
        / (col("n").cast("double") * col("stt")
          - col("st").cast("double") * col("st")))
      .withColumn("icept", (col("sy") - col("slope") * col("st"))
        / col("n"))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Cook's distance of each day on the daily-mean OLS trend:
    // leverage h_t = 1/n + (t−t̄)²/Sxx in closed form from exact
    // moments, residuals snapped to milli longs (the durbin_watson
    // convention), D_t = e²h/(2s²(1−h)²), influential if D > 4/n.
    "q_cooks_distance" -> ((s, d) => {
      val e = DailyGrid.mean(s, d).withColumnRenamed("i", "t")
        .join(trendFit(s, d), "event_type")
        .withColumn("e_u", round(col("y") - col("slope") * col("t")
          - col("icept")).cast("long"))
      val s2 = e.groupBy(col("event_type").as("et2"))
        .agg(sum(col("e_u") * col("e_u")).as("see"))
      e.join(s2, col("event_type") === col("et2"))
        .withColumn("sxx", col("stt").cast("double")
          - col("st").cast("double") * col("st") / col("n"))
        .withColumn("h", lit(1.0) / col("n")
          + (col("t") - col("st").cast("double") / col("n"))
            * (col("t") - col("st").cast("double") / col("n")) / col("sxx"))
        .withColumn("s2", col("see").cast("double") / (col("n") - 2))
        .withColumn("cd", col("e_u").cast("double") * col("e_u") * col("h")
          / (lit(2.0) * col("s2") * (lit(1.0) - col("h"))
            * (lit(1.0) - col("h"))))
        .select(col("event_type"), col("d"),
          round(col("h"), 6).as("leverage"),
          round(col("cd"), 6).as("cooks_d"),
          when(col("cd") * col("n") > 4.0, 1L).otherwise(0L)
            .as("influential"))
        .orderBy("event_type", "d")
    }),

    // Granger-style causality F: does yesterday's click mean improve
    // the AR(1) forecast of today's view mean? Restricted (y~y₁) and
    // unrestricted (y~y₁+x₁) OLS both in closed form from ONE set of
    // exact long moments on the joined day grid; F with (1, n−3) df.
    "q_granger_lite" -> ((s, d) => {
      val g = DailyGrid.mean(s, d)
        .filter(col("event_type").isin("click", "view"))
        .groupBy("d")
        .agg(max(when(col("event_type") === "view", col("y"))).as("yv"),
          max(when(col("event_type") === "click", col("y"))).as("xc"))
        .filter(col("yv").isNotNull && col("xc").isNotNull)
        // bounded grain: one row per day
        .withColumn("rn", row_number().over(Window.orderBy("d")))
      val wl = Window.orderBy("rn")
      val tri = g
        .withColumn("y1", lag("yv", 1).over(wl))
        .withColumn("x1", lag("xc", 1).over(wl))
        .filter(col("y1").isNotNull)
        .select(col("yv").as("y"), col("y1"), col("x1"))
      tri.agg(count(lit(1)).as("n"),
          sum("y").as("sy"), sum("y1").as("s1"), sum("x1").as("s2"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("y") * col("y1")).as("sy1"),
          sum(col("y") * col("x1")).as("sy2"),
          sum(col("y1") * col("y1")).as("s11"),
          sum(col("y1") * col("x1")).as("s12"),
          sum(col("x1") * col("x1")).as("s22"))
        // centered second moments (doubles; identical spelling below)
        .withColumn("cyy", col("syy") - col("sy").cast("double")
          * col("sy") / col("n"))
        .withColumn("cy1", col("sy1") - col("sy").cast("double")
          * col("s1") / col("n"))
        .withColumn("cy2", col("sy2") - col("sy").cast("double")
          * col("s2") / col("n"))
        .withColumn("c11", col("s11") - col("s1").cast("double")
          * col("s1") / col("n"))
        .withColumn("c12", col("s12") - col("s1").cast("double")
          * col("s2") / col("n"))
        .withColumn("c22", col("s22") - col("s2").cast("double")
          * col("s2") / col("n"))
        .withColumn("rss_r", col("cyy") - col("cy1") * col("cy1")
          / col("c11"))
        .withColumn("det", col("c11") * col("c22")
          - col("c12") * col("c12"))
        .withColumn("b1", (col("cy1") * col("c22")
          - col("cy2") * col("c12")) / col("det"))
        .withColumn("b2", (col("cy2") * col("c11")
          - col("cy1") * col("c12")) / col("det"))
        .withColumn("rss_u", col("cyy") - col("b1") * col("cy1")
          - col("b2") * col("cy2"))
        .select(col("n"),
          round(col("b2"), 6).as("click_coef"),
          round((col("rss_r") - col("rss_u"))
            / (col("rss_u") / (col("n") - 3)), 4).as("f_stat"))
    }),

    // Cross-correlation function (lags −7..+7) between the click and
    // view daily means on the SHARED day grid: exact n-scaled
    // centering (u = n·x − Σx, the ljung_box trick), ρ_k snapped to
    // 1e9 after the lag join — negative lags mean click leads.
    "q_ccf" -> ((s, d) => {
      val g = DailyGrid.mean(s, d)
        .filter(col("event_type").isin("click", "view"))
        .groupBy("d")
        .agg(max(when(col("event_type") === "click", col("y"))).as("x"),
          max(when(col("event_type") === "view", col("y"))).as("yv"))
        .filter(col("x").isNotNull && col("yv").isNotNull)
        // bounded grain: one row per day
        .withColumn("i", row_number().over(Window.orderBy("d")).cast("long"))
        .localCheckpoint(eager = true) // bounded day grid, 3 legs
      val m = g.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("yv").as("sy")).localCheckpoint(eager = true)
      val u = g.crossJoin(broadcast(m))
        .select(col("i"), (col("x") * col("n") - col("sx")).as("ux"),
          (col("yv") * col("n") - col("sy")).as("uy"))
        .localCheckpoint(eager = true)
      val den = u.agg(sum(col("ux") * col("ux")).as("dxx"),
        sum(col("uy") * col("uy")).as("dyy"))
      val lags = s.range(-7, 8).select(col("id").as("k"))
      val u2 = u.select(col("i").as("i2"), col("uy").as("uy2"))
      u.crossJoin(broadcast(lags))
        .join(u2, col("i2") === col("i") + col("k"))
        .groupBy("k")
        .agg(sum(col("ux") * col("uy2")).as("num"),
          count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(den))
        .select(col("k").as("lag"), col("n_pairs"),
          round(round(col("num") * 1e9
            / sqrt(col("dxx").cast("double") * col("dyy")))
            / 1e9, 6).as("ccf"))
        .orderBy("lag")
    }),

    // Turning-point randomness test per type: strict local extrema
    // (ties break neither way — stated) counted on the daily-mean
    // grid; E[T] = 2(n−2)/3, Var = (16n−29)/90, one z per type.
    "q_turning_points" -> ((s, d) =>
      DailyGrid.mean(s, d)
        .withColumn("py", lag("y", 1).over(wo))
        .withColumn("ny", lead("y", 1).over(wo))
        .filter(col("py").isNotNull && col("ny").isNotNull)
        .withColumn("tp", when((col("y") > col("py") && col("y") > col("ny"))
          || (col("y") < col("py") && col("y") < col("ny")), 1L)
          .otherwise(0L))
        .groupBy("event_type")
        .agg((count(lit(1)) + 2).as("n"), sum("tp").as("n_turning"))
        .select(col("event_type"), col("n"), col("n_turning"),
          round((col("n_turning") - lit(2.0) * (col("n") - 2) / 3.0)
            / sqrt((lit(16.0) * col("n") - 29.0) / 90.0), 4).as("z"))
        .orderBy("event_type")),

    // Bartels rank von Neumann ratio per type: mid-ranks in exact
    // DOUBLED units (2·min_rank + t − 1, the wilcoxon convention) so
    // Σr2 = n(n+1) exactly and the mean n+1 is an integer; RVN =
    // Σ(Δr2)²/Σ(r2−(n+1))² is a ratio of exact longs. z uses the
    // exact Bartels variance, one double expression.
    "q_bartels_rank" -> ((s, d) => {
      val r = DailyGrid.mean(s, d)
        .withColumn("mr", rank().over(
          Window.partitionBy("event_type").orderBy("y")).cast("long"))
        .withColumn("tc", count(lit(1)).over(
          Window.partitionBy("event_type", "y")))
        .withColumn("r2", col("mr") * 2 + col("tc") - 1)
      r.withColumn("pr2", lag("r2", 1).over(wo))
        .withColumn("nn", count(lit(1)).over(wp))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pr2").isNotNull,
            (col("r2") - col("pr2")) * (col("r2") - col("pr2")))
            .otherwise(0L)).as("num2"),
          sum((col("r2") - col("nn") - 1)
            * (col("r2") - col("nn") - 1)).as("den2"))
        .withColumn("rvn", col("num2").cast("double") / col("den2"))
        .select(col("event_type"), col("n"), round(col("rvn"), 6).as("rvn"),
          round((col("rvn") - 2.0)
            / sqrt(lit(4.0) * (col("n") - 2) * (lit(5.0) * col("n") * col("n")
                - lit(2.0) * col("n") - 9.0)
              / (lit(5.0) * col("n") * (col("n") + 1)
                * (col("n") - 1) * (col("n") - 1))), 4).as("z"))
        .orderBy("event_type")
    }),

    // Cochran's Q across three binary per-user exposures (any
    // purchase / any value>150 / any props.k>90): column totals G_j
    // and per-user row totals L_i stay exact longs on the bounded
    // user grid; Q = k(k−1)Σ(G−ΣL/k)² / (kΣL − ΣL²).
    "q_cochrans_q" -> ((s, d) => {
      val u = Tables.events(s, d)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("t1"),
          max(when(col("value") > 150, 1L).otherwise(0L)).as("t2"),
          max(when(get_json_object(col("props"), "$.k").cast("long") > 90,
            1L).otherwise(0L)).as("t3"))
        .withColumn("li", col("t1") + col("t2") + col("t3"))
      u.agg(count(lit(1)).as("n_users"),
          sum("t1").as("g1"), sum("t2").as("g2"), sum("t3").as("g3"),
          sum("li").as("sl"), sum(col("li") * col("li")).as("sll"))
        .withColumn("gb", col("sl").cast("double") / 3.0)
        .select(col("n_users"), col("g1"), col("g2"), col("g3"),
          round(lit(6.0) * ((col("g1") - col("gb")) * (col("g1") - col("gb"))
              + (col("g2") - col("gb")) * (col("g2") - col("gb"))
              + (col("g3") - col("gb")) * (col("g3") - col("gb")))
            / (lit(3.0) * col("sl") - col("sll")), 4).as("q_stat"))
    }),

    // Fleiss' kappa across three deterministic raters (value / k /
    // event-type buckets, 3 categories each): per-item category
    // counts n_ij from one unpivot, ΣΣn², column shares p_j — all
    // exact longs until the two P̄/P_e divisions.
    "q_fleiss_kappa" -> ((s, d) => {
      val rated = Tables.events(s, d)
        .select(col("event_id"),
          when(col("value") < 50, 0L).when(col("value") < 150, 1L)
            .otherwise(2L).as("ra"),
          when(get_json_object(col("props"), "$.k").cast("long") < 33, 0L)
            .when(get_json_object(col("props"), "$.k").cast("long") < 66, 1L)
            .otherwise(2L).as("rb"),
          when(col("event_type").isin("click", "view"), 0L)
            .when(col("event_type") === "purchase", 1L).otherwise(2L)
            .as("rc"))
      val long = rated.select(col("event_id"),
        explode(array(col("ra"), col("rb"), col("rc"))).as("cat"))
      val cell = long.groupBy("event_id", "cat")
        .agg(count(lit(1)).as("nij"))
      val perItem = cell.groupBy("event_id")
        .agg(sum(col("nij") * col("nij")).as("sq"))
      val colTot = cell.groupBy("cat").agg(sum("nij").as("cj"))
      val nItems = perItem.agg(count(lit(1)).as("n"),
        sum("sq").as("ssq"))
      nItems.crossJoin(colTot.agg(
          sum(col("cj") * col("cj")).as("scc")))
        .withColumn("p_bar", (col("ssq") - lit(3.0) * col("n"))
          / (lit(6.0) * col("n")))
        .withColumn("p_e", col("scc").cast("double")
          / (lit(9.0) * col("n") * col("n")))
        .select(col("n").as("n_items"),
          round(col("p_bar"), 6).as("p_bar"),
          round(col("p_e"), 6).as("p_e"),
          round((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")), 6)
            .as("fleiss_kappa"))
    }),

    // White's heteroskedasticity test per type: the squared snapped
    // trend residuals regress on (t, t²) in closed form — the
    // granger-lite normal equations over exact long moments of
    // (e², t, t²); LM = n·R² with 2 df. Residuals snap to the DECI
    // grid (milli/100), not milli: R² is invariant under scaling the
    // dependent variable, and Σe⁴ on the deci grid stays ≤ ~5e14·days
    // (milli residuals overflowed long Σe⁴ on sparse day grids).
    "q_white_test" -> ((s, d) => {
      val e = DailyGrid.mean(s, d).withColumnRenamed("i", "t")
        .join(trendFit(s, d).select(col("event_type"), col("slope"),
          col("icept")), "event_type")
        .withColumn("e_u", round((col("y") - col("slope") * col("t")
          - col("icept")) / 100).cast("long"))
        .select(col("event_type"), (col("e_u") * col("e_u")).as("y2"),
          col("t").as("x1"), (col("t") * col("t")).as("x2"))
      e.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("y2").as("sy"), sum("x1").as("s1"), sum("x2").as("s2"),
          sum(col("y2") * col("y2")).as("syy"),
          sum(col("y2") * col("x1")).as("sy1"),
          sum(col("y2") * col("x2")).as("sy2"),
          sum(col("x1") * col("x1")).as("s11"),
          sum(col("x1") * col("x2")).as("s12"),
          sum(col("x2") * col("x2")).as("s22"))
        .withColumn("cyy", col("syy") - col("sy").cast("double")
          * col("sy") / col("n"))
        .withColumn("cy1", col("sy1") - col("sy").cast("double")
          * col("s1") / col("n"))
        .withColumn("cy2", col("sy2") - col("sy").cast("double")
          * col("s2") / col("n"))
        .withColumn("c11", col("s11") - col("s1").cast("double")
          * col("s1") / col("n"))
        .withColumn("c12", col("s12") - col("s1").cast("double")
          * col("s2") / col("n"))
        .withColumn("c22", col("s22") - col("s2").cast("double")
          * col("s2") / col("n"))
        .withColumn("det", col("c11") * col("c22")
          - col("c12") * col("c12"))
        .withColumn("b1", (col("cy1") * col("c22")
          - col("cy2") * col("c12")) / col("det"))
        .withColumn("b2", (col("cy2") * col("c11")
          - col("cy1") * col("c12")) / col("det"))
        .withColumn("r2", (col("b1") * col("cy1")
          + col("b2") * col("cy2")) / col("cyy"))
        .select(col("event_type"), col("n"),
          round(col("r2"), 6).as("r2_aux"),
          round(col("n") * col("r2"), 4).as("lm_stat"))
        .orderBy("event_type")
    }),

    // L-moments of the daily means per type: order statistics ranked
    // by (y, d) — a deterministic total order — give exact integer
    // weighted sums B1 = Σ(i−1)y, B2 = Σ(i−1)(i−2)y, B3; λ-moments
    // and ratios assemble as double rationals at the end.
    "q_l_moments" -> ((s, d) =>
      DailyGrid.mean(s, d)
        .withColumn("i", row_number().over(
          Window.partitionBy("event_type").orderBy("y", "d")).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("y").as("b0n"),
          sum((col("i") - 1) * col("y")).as("b1n"),
          sum((col("i") - 1) * (col("i") - 2) * col("y")).as("b2n"),
          sum((col("i") - 1) * (col("i") - 2) * (col("i") - 3)
            * col("y")).as("b3n"))
        .withColumn("b0", col("b0n").cast("double") / col("n"))
        .withColumn("b1", col("b1n").cast("double")
          / (col("n") - 1) / col("n"))
        .withColumn("b2", col("b2n").cast("double")
          / (col("n") - 1) / (col("n") - 2) / col("n"))
        .withColumn("b3", col("b3n").cast("double")
          / (col("n") - 1) / (col("n") - 2) / (col("n") - 3) / col("n"))
        .withColumn("l2", lit(2.0) * col("b1") - col("b0"))
        .withColumn("l3", lit(6.0) * col("b2") - lit(6.0) * col("b1")
          + col("b0"))
        .withColumn("l4", lit(20.0) * col("b3") - lit(30.0) * col("b2")
          + lit(12.0) * col("b1") - col("b0"))
        .select(col("event_type"), col("n"),
          round(col("b0") / 1e3, 4).as("l1"),
          round(col("l2") / 1e3, 4).as("l2"),
          round(col("l3") / col("l2"), 6).as("l_skew"),
          round(col("l4") / col("l2"), 6).as("l_kurt"))
        .orderBy("event_type")),

    // Gumbel extreme-value fit on the daily MAX centi values per
    // type, method of moments: β = s·√6/π, μ = mean − γβ (γ and π as
    // shared literals), plus the 10-day return level μ − β·ln(−ln(0.9)).
    "q_gumbel_fit" -> ((s, d) =>
      DailyGrid.ohlc(s, d).select(col("event_type"), col("h").as("mx"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("mx").as("sm"),
          sum(col("mx") * col("mx")).as("sq"))
        .withColumn("mean", col("sm").cast("double") / col("n"))
        .withColumn("sd", sqrt((col("sq") - col("sm").cast("double")
          * col("sm") / col("n")) / (col("n") - 1)))
        .withColumn("beta", col("sd") * sqrt(lit(6.0))
          / lit(3.141592653589793))
        .withColumn("mu", col("mean")
          - lit(0.5772156649015329) * col("beta"))
        .select(col("event_type"), col("n"),
          round(col("mu") / 100.0, 4).as("gumbel_mu"),
          round(col("beta") / 100.0, 4).as("gumbel_beta"),
          round((col("mu") - col("beta") * log(-log(lit(0.9)))) / 100.0, 4)
            .as("return_level_10d"))
        .orderBy("event_type"))
  )

  /** Shared daily milli-mean + trend-fit CTEs (oracle side). */
  private val idxCte: String =
    """idx AS (
      |  SELECT event_type, d, y,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
      |      AS BIGINT) AS t
      |  FROM (SELECT event_type, CAST(ts AS DATE) AS d,
      |          CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) // COUNT(*)
      |            AS BIGINT) AS y
      |        FROM events GROUP BY 1, 2))""".stripMargin

  private val fitCte: String =
    """fit AS (
      |  SELECT event_type, n, st, sy, stt, slope,
      |    (sy - slope * st) / n AS icept
      |  FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |          CAST(SUM(t) AS BIGINT) AS st,
      |          CAST(SUM(y) AS BIGINT) AS sy,
      |          CAST(SUM(t * t) AS BIGINT) AS stt,
      |          (CAST(COUNT(*) AS DOUBLE) * SUM(t * y)
      |            - CAST(SUM(t) AS DOUBLE) * SUM(y))
      |          / (CAST(COUNT(*) AS DOUBLE) * SUM(t * t)
      |            - CAST(SUM(t) AS DOUBLE) * SUM(t)) AS slope
      |        FROM idx GROUP BY 1))""".stripMargin

  val oracle: Map[String, String] = Map(
    // identical exact moments, snapped residuals, closed-form leverage
    "q_cooks_distance" ->
      s"""WITH $idxCte,
        |$fitCte,
        |e AS (
        |  SELECT idx.event_type, idx.d, idx.t, fit.n, fit.st, fit.stt,
        |    CAST(ROUND(idx.y - fit.slope * idx.t - fit.icept) AS BIGINT)
        |      AS e_u
        |  FROM idx JOIN fit ON idx.event_type = fit.event_type),
        |s2 AS (
        |  SELECT event_type, CAST(SUM(e_u * e_u) AS BIGINT) AS see
        |  FROM e GROUP BY 1),
        |f AS (
        |  SELECT e.event_type, e.d, e.e_u, e.n,
        |    1.0 / e.n + (e.t - CAST(e.st AS DOUBLE) / e.n)
        |      * (e.t - CAST(e.st AS DOUBLE) / e.n)
        |      / (CAST(e.stt AS DOUBLE) - CAST(e.st AS DOUBLE) * e.st / e.n)
        |      AS h,
        |    CAST(s2.see AS DOUBLE) / (e.n - 2) AS s2
        |  FROM e JOIN s2 ON e.event_type = s2.event_type),
        |cd AS (
        |  SELECT event_type, d, h, n,
        |    CAST(e_u AS DOUBLE) * e_u * h / (2.0 * s2 * (1.0 - h)
        |      * (1.0 - h)) AS cd
        |  FROM f)
        |SELECT event_type, d, ROUND(h, 6) AS leverage,
        |  ROUND(cd, 6) AS cooks_d,
        |  CAST(CASE WHEN cd * n > 4.0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS influential
        |FROM cd ORDER BY event_type, d""".stripMargin,

    // identical centered-moment normal equations
    "q_granger_lite" ->
      s"""WITH $idxCte,
        |g AS (
        |  SELECT d,
        |    MAX(CASE WHEN event_type = 'view' THEN y END) AS yv,
        |    MAX(CASE WHEN event_type = 'click' THEN y END) AS xc
        |  FROM idx WHERE event_type IN ('click', 'view')
        |  GROUP BY 1
        |  HAVING MAX(CASE WHEN event_type = 'view' THEN y END)
        |      IS NOT NULL
        |    AND MAX(CASE WHEN event_type = 'click' THEN y END)
        |      IS NOT NULL),
        |tri AS (
        |  SELECT yv AS y, lag(yv) OVER (ORDER BY d) AS y1,
        |    lag(xc) OVER (ORDER BY d) AS x1
        |  FROM g QUALIFY y1 IS NOT NULL),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(y1) AS BIGINT) AS s1,
        |    CAST(SUM(x1) AS BIGINT) AS s2,
        |    CAST(SUM(y * y) AS BIGINT) AS syy,
        |    CAST(SUM(y * y1) AS BIGINT) AS sy1,
        |    CAST(SUM(y * x1) AS BIGINT) AS sy2,
        |    CAST(SUM(y1 * y1) AS BIGINT) AS s11,
        |    CAST(SUM(y1 * x1) AS BIGINT) AS s12,
        |    CAST(SUM(x1 * x1) AS BIGINT) AS s22
        |  FROM tri),
        |c AS (
        |  SELECT n,
        |    syy - CAST(sy AS DOUBLE) * sy / n AS cyy,
        |    sy1 - CAST(sy AS DOUBLE) * s1 / n AS cy1,
        |    sy2 - CAST(sy AS DOUBLE) * s2 / n AS cy2,
        |    s11 - CAST(s1 AS DOUBLE) * s1 / n AS c11,
        |    s12 - CAST(s1 AS DOUBLE) * s2 / n AS c12,
        |    s22 - CAST(s2 AS DOUBLE) * s2 / n AS c22
        |  FROM m),
        |f AS (
        |  SELECT n, cyy, cy1, cy2,
        |    cyy - cy1 * cy1 / c11 AS rss_r,
        |    (cy1 * c22 - cy2 * c12) / (c11 * c22 - c12 * c12) AS b1,
        |    (cy2 * c11 - cy1 * c12) / (c11 * c22 - c12 * c12) AS b2
        |  FROM c),
        |u AS (
        |  SELECT n, b2, rss_r, cyy - b1 * cy1 - b2 * cy2 AS rss_u
        |  FROM f)
        |SELECT n, ROUND(b2, 6) AS click_coef,
        |  ROUND((rss_r - rss_u) / (rss_u / (n - 3)), 4) AS f_stat
        |FROM u""".stripMargin,

    // identical n-scaled centering and 1e9 snap
    "q_ccf" ->
      s"""WITH $idxCte,
        |g AS (
        |  SELECT d,
        |    MAX(CASE WHEN event_type = 'click' THEN y END) AS x,
        |    MAX(CASE WHEN event_type = 'view' THEN y END) AS yv
        |  FROM idx WHERE event_type IN ('click', 'view')
        |  GROUP BY 1
        |  HAVING MAX(CASE WHEN event_type = 'click' THEN y END)
        |      IS NOT NULL
        |    AND MAX(CASE WHEN event_type = 'view' THEN y END)
        |      IS NOT NULL),
        |gi AS (
        |  SELECT x, yv,
        |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
        |  FROM g),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(yv) AS BIGINT) AS sy
        |  FROM gi),
        |u AS (
        |  SELECT i, x * n - sx AS ux, yv * n - sy AS uy
        |  FROM gi CROSS JOIN m),
        |den AS (
        |  SELECT CAST(SUM(ux * ux) AS BIGINT) AS dxx,
        |    CAST(SUM(uy * uy) AS BIGINT) AS dyy
        |  FROM u)
        |SELECT k.k AS lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  ROUND(CAST(ROUND(SUM(u1.ux * u2.uy) * 1e9
        |    / sqrt(CAST(MAX(den.dxx) AS DOUBLE) * MAX(den.dyy)))
        |    AS BIGINT) / 1e9, 6) AS ccf
        |FROM u u1
        |CROSS JOIN (SELECT unnest(generate_series(-7, 7)) AS k) k
        |JOIN u u2 ON u2.i = u1.i + k.k
        |CROSS JOIN den
        |GROUP BY 1 ORDER BY lag""".stripMargin,

    // identical strict-extrema count and moments
    "q_turning_points" ->
      s"""WITH $idxCte,
        |w AS (
        |  SELECT event_type, y,
        |    lag(y) OVER wp AS py, lead(y) OVER wp AS ny
        |  FROM idx
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY d)),
        |t AS (
        |  SELECT event_type,
        |    CASE WHEN (y > py AND y > ny) OR (y < py AND y < ny)
        |      THEN 1 ELSE 0 END AS tp
        |  FROM w WHERE py IS NOT NULL AND ny IS NOT NULL)
        |SELECT event_type, CAST(COUNT(*) + 2 AS BIGINT) AS n,
        |  CAST(SUM(tp) AS BIGINT) AS n_turning,
        |  ROUND((SUM(tp) - 2.0 * (COUNT(*) + 2 - 2) / 3.0)
        |    / sqrt((16.0 * (COUNT(*) + 2) - 29.0) / 90.0), 4) AS z
        |FROM t GROUP BY 1 ORDER BY event_type""".stripMargin,

    // identical doubled mid-ranks and exact long ratio
    "q_bartels_rank" ->
      s"""WITH $idxCte,
        |r AS (
        |  SELECT event_type, d,
        |    CAST(rank() OVER (PARTITION BY event_type ORDER BY y)
        |      AS BIGINT) * 2
        |    + CAST(COUNT(*) OVER (PARTITION BY event_type, y) AS BIGINT)
        |    - 1 AS r2
        |  FROM idx),
        |w AS (
        |  SELECT event_type, r2,
        |    lag(r2) OVER (PARTITION BY event_type ORDER BY d) AS pr2,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM r),
        |g AS (
        |  SELECT event_type, MAX(n) AS n,
        |    CAST(SUM(CASE WHEN pr2 IS NULL THEN 0
        |      ELSE (r2 - pr2) * (r2 - pr2) END) AS BIGINT) AS num2,
        |    CAST(SUM((r2 - n - 1) * (r2 - n - 1)) AS BIGINT) AS den2
        |  FROM w GROUP BY 1)
        |SELECT event_type, n,
        |  ROUND(CAST(num2 AS DOUBLE) / den2, 6) AS rvn,
        |  ROUND((CAST(num2 AS DOUBLE) / den2 - 2.0)
        |    / sqrt(4.0 * (n - 2) * (5.0 * n * n - 2.0 * n - 9.0)
        |      / (5.0 * n * (n + 1) * (n - 1) * (n - 1))), 4) AS z
        |FROM g ORDER BY event_type""".stripMargin,

    // identical exact row/column totals
    "q_cochrans_q" ->
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS t1,
        |    MAX(CASE WHEN value > 150 THEN 1 ELSE 0 END) AS t2,
        |    MAX(CASE WHEN CAST(json_extract_string(props, '$.k')
        |      AS BIGINT) > 90 THEN 1 ELSE 0 END) AS t3
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(t1) AS BIGINT) AS g1, CAST(SUM(t2) AS BIGINT) AS g2,
        |    CAST(SUM(t3) AS BIGINT) AS g3,
        |    CAST(SUM(t1 + t2 + t3) AS BIGINT) AS sl,
        |    CAST(SUM((t1 + t2 + t3) * (t1 + t2 + t3)) AS BIGINT) AS sll
        |  FROM u)
        |SELECT n_users, g1, g2, g3,
        |  ROUND(6.0 * ((g1 - CAST(sl AS DOUBLE) / 3.0)
        |      * (g1 - CAST(sl AS DOUBLE) / 3.0)
        |    + (g2 - CAST(sl AS DOUBLE) / 3.0)
        |      * (g2 - CAST(sl AS DOUBLE) / 3.0)
        |    + (g3 - CAST(sl AS DOUBLE) / 3.0)
        |      * (g3 - CAST(sl AS DOUBLE) / 3.0))
        |    / (3.0 * sl - sll), 4) AS q_stat
        |FROM m""".stripMargin,

    // identical per-item count squares and column shares
    "q_fleiss_kappa" ->
      """WITH rated AS (
        |  SELECT event_id,
        |    CASE WHEN value < 50 THEN 0 WHEN value < 150 THEN 1
        |      ELSE 2 END AS ra,
        |    CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
        |        < 33 THEN 0
        |      WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
        |        < 66 THEN 1 ELSE 2 END AS rb,
        |    CASE WHEN event_type IN ('click', 'view') THEN 0
        |      WHEN event_type = 'purchase' THEN 1 ELSE 2 END AS rc
        |  FROM events),
        |lng AS (
        |  SELECT event_id, unnest([ra, rb, rc]) AS cat FROM rated),
        |cell AS (
        |  SELECT event_id, cat, CAST(COUNT(*) AS BIGINT) AS nij
        |  FROM lng GROUP BY 1, 2),
        |pi AS (
        |  SELECT event_id, CAST(SUM(nij * nij) AS BIGINT) AS sq
        |  FROM cell GROUP BY 1),
        |ct AS (
        |  SELECT CAST(SUM(cj * cj) AS BIGINT) AS scc
        |  FROM (SELECT cat, CAST(SUM(nij) AS BIGINT) AS cj
        |        FROM cell GROUP BY 1)),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(sq) AS BIGINT) AS ssq
        |  FROM pi)
        |SELECT n AS n_items,
        |  ROUND((ssq - 3.0 * n) / (6.0 * n), 6) AS p_bar,
        |  ROUND(CAST(scc AS DOUBLE) / (9.0 * n * n), 6) AS p_e,
        |  ROUND(((ssq - 3.0 * n) / (6.0 * n)
        |      - CAST(scc AS DOUBLE) / (9.0 * n * n))
        |    / (1.0 - CAST(scc AS DOUBLE) / (9.0 * n * n)), 6)
        |    AS fleiss_kappa
        |FROM m CROSS JOIN ct""".stripMargin,

    // identical squared-residual normal equations
    "q_white_test" ->
      s"""WITH $idxCte,
        |$fitCte,
        |e AS (
        |  SELECT idx.event_type,
        |    CAST(ROUND((idx.y - fit.slope * idx.t - fit.icept) / 100)
        |      AS BIGINT) AS e_u,
        |    idx.t AS x1, idx.t * idx.t AS x2
        |  FROM idx JOIN fit ON idx.event_type = fit.event_type),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(e_u * e_u) AS BIGINT) AS sy,
        |    CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
        |    CAST(SUM(e_u * e_u * e_u * e_u) AS BIGINT) AS syy,
        |    CAST(SUM(e_u * e_u * x1) AS BIGINT) AS sy1,
        |    CAST(SUM(e_u * e_u * x2) AS BIGINT) AS sy2,
        |    CAST(SUM(x1 * x1) AS BIGINT) AS s11,
        |    CAST(SUM(x1 * x2) AS BIGINT) AS s12,
        |    CAST(SUM(x2 * x2) AS BIGINT) AS s22
        |  FROM e GROUP BY 1),
        |c AS (
        |  SELECT event_type, n,
        |    syy - CAST(sy AS DOUBLE) * sy / n AS cyy,
        |    sy1 - CAST(sy AS DOUBLE) * s1 / n AS cy1,
        |    sy2 - CAST(sy AS DOUBLE) * s2 / n AS cy2,
        |    s11 - CAST(s1 AS DOUBLE) * s1 / n AS c11,
        |    s12 - CAST(s1 AS DOUBLE) * s2 / n AS c12,
        |    s22 - CAST(s2 AS DOUBLE) * s2 / n AS c22
        |  FROM m),
        |f AS (
        |  SELECT event_type, n, cyy, cy1, cy2,
        |    (cy1 * c22 - cy2 * c12) / (c11 * c22 - c12 * c12) AS b1,
        |    (cy2 * c11 - cy1 * c12) / (c11 * c22 - c12 * c12) AS b2
        |  FROM c)
        |SELECT event_type, n,
        |  ROUND((b1 * cy1 + b2 * cy2) / cyy, 6) AS r2_aux,
        |  ROUND(n * (b1 * cy1 + b2 * cy2) / cyy, 4) AS lm_stat
        |FROM f ORDER BY event_type""".stripMargin,

    // identical (y, d) total order and exact B-weight sums
    "q_l_moments" ->
      s"""WITH $idxCte,
        |r AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY y, d) AS BIGINT) AS i
        |  FROM idx),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS b0n,
        |    CAST(SUM((i - 1) * y) AS BIGINT) AS b1n,
        |    CAST(SUM((i - 1) * (i - 2) * y) AS BIGINT) AS b2n,
        |    CAST(SUM((i - 1) * (i - 2) * (i - 3) * y) AS BIGINT) AS b3n
        |  FROM r GROUP BY 1),
        |b AS (
        |  SELECT event_type, n,
        |    CAST(b0n AS DOUBLE) / n AS b0,
        |    CAST(b1n AS DOUBLE) / (n - 1) / n AS b1,
        |    CAST(b2n AS DOUBLE) / (n - 1) / (n - 2) / n AS b2,
        |    CAST(b3n AS DOUBLE) / (n - 1) / (n - 2) / (n - 3) / n AS b3
        |  FROM m),
        |l AS (
        |  SELECT event_type, n, b0,
        |    2.0 * b1 - b0 AS l2,
        |    6.0 * b2 - 6.0 * b1 + b0 AS l3,
        |    20.0 * b3 - 30.0 * b2 + 12.0 * b1 - b0 AS l4
        |  FROM b)
        |SELECT event_type, n, ROUND(b0 / 1e3, 4) AS l1,
        |  ROUND(l2 / 1e3, 4) AS l2,
        |  ROUND(l3 / l2, 6) AS l_skew, ROUND(l4 / l2, 6) AS l_kurt
        |FROM l ORDER BY event_type""".stripMargin,

    // identical daily-max moments and shared γ/π literals
    "q_gumbel_fit" ->
      """WITH mx AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS mx
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(mx) AS BIGINT) AS sm,
        |    CAST(SUM(mx * mx) AS BIGINT) AS sq
        |  FROM mx GROUP BY 1),
        |f AS (
        |  SELECT event_type, n,
        |    CAST(sm AS DOUBLE) / n AS mean,
        |    sqrt((sq - CAST(sm AS DOUBLE) * sm / n) / (n - 1))
        |      * sqrt(6.0) / 3.141592653589793 AS beta
        |  FROM m)
        |SELECT event_type, n,
        |  ROUND((mean - 0.5772156649015329 * beta) / 100.0, 4)
        |    AS gumbel_mu,
        |  ROUND(beta / 100.0, 4) AS gumbel_beta,
        |  ROUND((mean - 0.5772156649015329 * beta
        |    - beta * ln(-ln(0.9))) / 100.0, 4) AS return_level_10d
        |FROM f ORDER BY event_type""".stripMargin
  )
}
