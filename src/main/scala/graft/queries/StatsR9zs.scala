package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-9 wave 46 (SURVEY.md §2 B.10b): normal-fit diagnostics and
  * the attribute/count control-chart pair — Lilliefors KS vs the
  * fitted normal and the Anderson-Darling A²/A²* (both via the
  * codegen'd `erf_as` Φ with the identical A&S Horner chain in the
  * oracle, per-row CDFs snapped to 1e9), an empirical-rule audit
  * (observed vs Φ-expected vs the Chebyshev floor at k = 1, 2, 3),
  * the p-chart and c-chart with EXACT cleared 3σ out-of-control
  * tests, and the Western-Electric 8-in-a-row runs rule.
  *
  * Fixture: customer log-revenue on the 1e6 ln grid (the q_atkinson
  * snap) for the fit tests; the daily event grid for the charts.
  */
object StatsR9zs {

  import DailyGrid.wo

  /** x_u = round(ln(cents)·1e6) per customer + exact moments. */
  private def logRev(s: SparkSession, d: String): DataFrame =
    StatsR9ze.custRev(s, d)
      .select(round(log("x") * 1e6).cast("long").as("xu"))

  private val xuCte: String =
    s"""${StatsR9ze.crCte},
      |xu AS (
      |  SELECT CAST(ROUND(LN(x) * 1000000) AS BIGINT) AS xu
      |  FROM cr)""".stripMargin

  /** Φ((xu−m)/s) snapped to 1e9 and clamped to [1, 1e9−1]: the A&S
    * erf chain on both engines. */
  private def phiU(df: DataFrame): DataFrame = {
    val m = df.agg(count(lit(1)).as("n"), sum("xu").as("sx"),
      sum(col("xu").cast("decimal(38,0)") * col("xu")).as("sxx"))
    df.crossJoin(broadcast(m))
      .withColumn("mu", col("sx").cast("double") / col("n"))
      .withColumn("sd", sqrt((col("n") * col("sxx").cast("double")
        - col("sx").cast("double") * col("sx"))
        / (col("n").cast("double") * (col("n") - 1))))
      .withColumn("z", (col("xu") - col("mu")) / col("sd"))
      .withColumn("uu", greatest(lit(1L), least(lit(999999999L),
        round((lit(0.5) * (lit(1.0)
          + expr("erf_as(z / sqrt(2.0))"))) * 1e9).cast("long"))))
  }

  private val phiCte: String =
    """m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(xu) AS sx,
      |    SUM(CAST(xu AS HUGEINT) * xu) AS sxx
      |  FROM xu),
      |zz AS (
      |  SELECT xu.xu, m.n,
      |    (xu.xu - CAST(m.sx AS DOUBLE) / m.n)
      |      / sqrt((m.n * CAST(m.sxx AS DOUBLE)
      |        - CAST(m.sx AS DOUBLE) * m.sx)
      |        / (CAST(m.n AS DOUBLE) * (m.n - 1))) AS z
      |  FROM xu, m),
      |ex AS (
      |  SELECT n, z, abs(z / sqrt(2.0)) AS ax,
      |    1.0 / (1.0 + 0.3275911 * abs(z / sqrt(2.0))) AS t
      |  FROM zz),
      |ph AS (
      |  SELECT n, z,
      |    GREATEST(1, LEAST(999999999,
      |      CAST(ROUND((0.5 * (1.0 + (CASE WHEN z < 0 THEN -1.0
      |        ELSE 1.0 END) * (1.0 - ((((1.061405429 * t
      |        + -1.453152027) * t + 1.421413741) * t + -0.284496736)
      |        * t + 0.254829592) * t * exp(-ax * ax)))) * 1e9)
      |        AS BIGINT))) AS uu
      |  FROM ex)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Lilliefors: KS envelopes on the sorted snapped Φ values, the
    // critical ratio d·(√n − 0.01 + 0.85/√n) alongside (stated).
    "q_lilliefors" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      // revenue-grain sorted positions → tie-safe range-partitioned
      // block ranks (r10 VERDICT task 4); the KS envelopes only read
      // the value-at-position, which is tie-order invariant
      val pos = graft.operators.PrefixSum
        .sortedPositions(phiU(logRev(s, d)), col("uu"), "uu", "i")
      // n = max position (positions are dense 1..n; reads the cheap
      // checkpointed block table, not a second revenue derivation)
      val u = pos.crossJoin(broadcast(pos.agg(max("i").as("n"))))
      u.agg(max("n").as("n_obs"),
          max(col("i") * lit(1000000000L) - col("n") * col("uu"))
            .as("dp"),
          max(col("n") * col("uu") - (col("i") - 1) * lit(1000000000L))
            .as("dm"))
        .withColumn("d", greatest(col("dp"), col("dm")).cast("double")
          / (col("n_obs").cast("double") * 1e9))
        .select(col("n_obs"), round(col("d"), 6).as("lilliefors_d"),
          round(col("d") * (sqrt(col("n_obs").cast("double"))
            - lit(0.01) + lit(0.85)
              / sqrt(col("n_obs").cast("double"))), 6)
            .as("lilliefors_stat"))
    }),

    // Anderson-Darling: sorted snapped U, mirror join i ↔ n+1−i,
    // per-row (2i−1)(ln u_i + ln(1−u_mirror)) snapped to 1e6;
    // A² = −n − Σ/(n·1e6), A²* = A²(1 + 0.75/n + 2.25/n²).
    "q_ad_normal" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      // revenue-grain sorted positions → tie-safe range-partitioned
      // block ranks (r10 VERDICT task 4); the (2i−1) weights read the
      // value-at-position, which is tie-order invariant
      val pos = graft.operators.PrefixSum
        .sortedPositions(phiU(logRev(s, d)), col("uu"), "uu", "i")
      // n = max position (dense 1..n; reads the cheap checkpointed
      // block table, not a second revenue derivation)
      val u = pos.crossJoin(broadcast(pos.agg(max("i").as("n"))))
        .select("n", "i", "uu")
        .localCheckpoint(eager = true)
      val j = u.join(u.select((col("n") + 1 - col("i")).as("i"),
          col("uu").as("uur")), Seq("i"))
        .withColumn("term_u",
          round((lit(2L) * col("i") - 1)
            * (log(col("uu") / 1e9)
              + log(lit(1.0) - col("uur") / 1e9)) * 1e6).cast("long"))
      j.agg(max("n").as("n_obs"), sum("term_u").as("st"))
        .withColumn("a2", -col("n_obs").cast("double")
          - col("st") / (col("n_obs").cast("double") * 1e6))
        .select(col("n_obs"), round(col("a2"), 6).as("ad_a2"),
          round(col("a2") * (lit(1.0)
            + lit(0.75) / col("n_obs")
            + lit(2.25) / (col("n_obs") * col("n_obs"))), 6)
            .as("ad_a2_star"))
    }),

    // Empirical-rule audit at k = 1, 2, 3: observed within-kσ share
    // vs the Φ expectation erf(k/√2) vs the Chebyshev floor 1−1/k².
    "q_empirical_rule" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      import s.implicits._
      val x = logRev(s, d)
      val m = x.agg(count(lit(1)).as("n"), sum("xu").as("sx"),
        sum(col("xu").cast("decimal(38,0)") * col("xu")).as("sxx"))
      val ks = Seq(1, 2, 3).toDF("k")
      x.crossJoin(broadcast(m)).crossJoin(broadcast(ks))
        .withColumn("mu", col("sx").cast("double") / col("n"))
        .withColumn("sd", sqrt((col("n") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx"))
          / (col("n").cast("double") * (col("n") - 1))))
        .groupBy("k")
        .agg(max("n").as("n_obs"),
          sum(when(abs(col("xu") - col("mu"))
            <= col("k") * col("sd"), 1L).otherwise(0L)).as("within"))
        .select(col("k"), col("within"),
          round(col("within").cast("double") / col("n_obs"), 6)
            .as("observed_frac"),
          round(expr("erf_as(k / sqrt(2.0))"), 6)
            .as("normal_expected"),
          round(lit(1.0) - lit(1.0) / (col("k") * col("k")), 6)
            .as("chebyshev_min"))
        .orderBy("k")
    }),

    // p-chart: daily purchase share vs p̄ with 3σ binomial limits —
    // OOC iff (x_t·N − n_t·K)² > 9·K·(N−K)·n_t, all longs.
    "q_p_chart" -> ((s, d) => {
      val day = DailyGrid.mean(s, d)
        .groupBy(col("d").as("dd"))
        .agg(sum("cnt").as("nt"),
          sum(when(col("event_type") === "purchase", col("cnt")).otherwise(0L))
            .as("xt"))
        .localCheckpoint(eager = true)
      val tot = day.agg(sum("nt").as("nn"), sum("xt").as("kk"))
      day.crossJoin(broadcast(tot))
        .withColumn("ooc",
          (col("xt") * col("nn") - col("nt") * col("kk"))
            * (col("xt") * col("nn") - col("nt") * col("kk"))
            > lit(9L) * col("kk") * (col("nn") - col("kk")) * col("nt"))
        .agg(count(lit(1)).as("n_days"), max("nn").as("nn"),
          max("kk").as("kk"),
          sum(when(col("ooc"), 1L).otherwise(0L)).as("n_ooc"))
        .select(col("n_days"),
          round(col("kk").cast("double") / col("nn"), 6).as("pbar"),
          col("n_ooc"))
    }),

    // c-chart on daily error counts: OOC iff (c_t·N − S)² > 9·S·N.
    "q_c_chart" -> ((s, d) => {
      val day = DailyGrid.mean(s, d)
        .groupBy(col("d").as("dd"))
        .agg(sum(when(col("event_type") === "error", col("cnt")).otherwise(0L))
          .as("ct"))
        .localCheckpoint(eager = true)
      val tot = day.agg(count(lit(1)).as("nd"), sum("ct").as("sc"))
      day.crossJoin(broadcast(tot))
        .withColumn("ooc", (col("ct") * col("nd") - col("sc"))
          * (col("ct") * col("nd") - col("sc"))
          > lit(9L) * col("sc") * col("nd"))
        .agg(max("nd").as("n_days"), max("sc").as("sc"),
          sum(when(col("ooc"), 1L).otherwise(0L)).as("n_ooc"))
        .select(col("n_days"),
          round(col("sc").cast("double") / col("n_days"), 6)
            .as("cbar"),
          round(col("sc").cast("double") / col("n_days")
            + lit(3.0) * sqrt(col("sc").cast("double")
              / col("n_days")), 4).as("ucl"),
          col("n_ooc"))
    }),

    // Western-Electric rule 4 (8 consecutive points one side of the
    // center line) per type on the daily grid: sides from the exact
    // n·y − Σy sign (zero is its own side and breaks runs, stated).
    "q_we_rules" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d)
      val tot = dm.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"))
      val sided = dm.join(tot, "event_type")
        .withColumn("side", signum((col("n") * col("y") - col("sy"))
          .cast("double")).cast("long"))
      val runs = sided
        .withColumn("brk", when(lag("side", 1).over(wo).isNull
          || lag("side", 1).over(wo) =!= col("side"), 1L).otherwise(0L))
        .withColumn("grp", sum("brk").over(
          wo.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("event_type", "grp", "side")
        .agg(count(lit(1)).as("len"))
      runs.groupBy("event_type")
        .agg(sum(when(col("side") =!= 0 && col("len") >= 8, 1L)
          .otherwise(0L)).as("n_violations"),
          max(when(col("side") =!= 0, col("len")).otherwise(0L))
            .as("longest_run"))
        .orderBy("event_type")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical snapped Φ + envelopes
    "q_lilliefors" ->
      (s"WITH $xuCte, $phiCte," +
      """
        |ix AS (
        |  SELECT n, uu,
        |    CAST(row_number() OVER (ORDER BY uu) AS BIGINT) AS i
        |  FROM ph),
        |ag AS (
        |  SELECT MAX(n) AS n_obs,
        |    MAX(i * 1000000000 - n * uu) AS dp,
        |    MAX(n * uu - (i - 1) * 1000000000) AS dm
        |  FROM ix)
        |SELECT n_obs,
        |  ROUND(CAST(GREATEST(dp, dm) AS DOUBLE)
        |    / (CAST(n_obs AS DOUBLE) * 1e9), 6) AS lilliefors_d,
        |  ROUND(CAST(GREATEST(dp, dm) AS DOUBLE)
        |    / (CAST(n_obs AS DOUBLE) * 1e9)
        |    * (sqrt(CAST(n_obs AS DOUBLE)) - 0.01
        |      + 0.85 / sqrt(CAST(n_obs AS DOUBLE))), 6)
        |    AS lilliefors_stat
        |FROM ag""".stripMargin),

    // identical mirror-join snapped AD terms
    "q_ad_normal" ->
      (s"WITH $xuCte, $phiCte," +
      """
        |ix AS (
        |  SELECT n, uu,
        |    CAST(row_number() OVER (ORDER BY uu) AS BIGINT) AS i
        |  FROM ph),
        |j AS (
        |  SELECT a.n, a.i, a.uu, b.uu AS uur
        |  FROM ix a JOIN ix b ON b.i = a.n + 1 - a.i),
        |terms AS (
        |  SELECT n,
        |    CAST(ROUND((2 * i - 1) * (LN(uu / 1e9)
        |      + LN(1.0 - uur / 1e9)) * 1e6) AS BIGINT) AS term_u
        |  FROM j),
        |ag AS (SELECT MAX(n) AS n_obs, SUM(term_u) AS st FROM terms)
        |SELECT n_obs,
        |  ROUND(-CAST(n_obs AS DOUBLE)
        |    - st / (CAST(n_obs AS DOUBLE) * 1e6), 6) AS ad_a2,
        |  ROUND((-CAST(n_obs AS DOUBLE)
        |    - st / (CAST(n_obs AS DOUBLE) * 1e6))
        |    * (1.0 + 0.75 / n_obs + 2.25 / (n_obs * n_obs)), 6)
        |    AS ad_a2_star
        |FROM ag""".stripMargin),

    // identical Φ expectations and exact within-counts
    "q_empirical_rule" ->
      (s"WITH $xuCte," +
      """
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(xu) AS sx,
        |    SUM(CAST(xu AS HUGEINT) * xu) AS sxx
        |  FROM xu),
        |ks AS (SELECT UNNEST([1, 2, 3]) AS k),
        |st AS (
        |  SELECT xu.xu, ks.k, m.n,
        |    CAST(m.sx AS DOUBLE) / m.n AS mu,
        |    sqrt((m.n * CAST(m.sxx AS DOUBLE)
        |      - CAST(m.sx AS DOUBLE) * m.sx)
        |      / (CAST(m.n AS DOUBLE) * (m.n - 1))) AS sd
        |  FROM xu, m, ks),
        |ag AS (
        |  SELECT k, MAX(n) AS n_obs,
        |    CAST(SUM(CASE WHEN ABS(xu - mu) <= k * sd THEN 1 ELSE 0
        |      END) AS BIGINT) AS within
        |  FROM st GROUP BY 1),
        |ph AS (
        |  SELECT k, n_obs, within,
        |    k / sqrt(2.0) AS ax,
        |    1.0 / (1.0 + 0.3275911 * k / sqrt(2.0)) AS t
        |  FROM ag)
        |SELECT CAST(k AS INT) AS k, within,
        |  ROUND(CAST(within AS DOUBLE) / n_obs, 6) AS observed_frac,
        |  ROUND(1.0 - ((((1.061405429 * t + -1.453152027) * t
        |    + 1.421413741) * t + -0.284496736) * t + 0.254829592) * t
        |    * exp(-ax * ax), 6) AS normal_expected,
        |  ROUND(1.0 - 1.0 / (k * k), 6) AS chebyshev_min
        |FROM ph ORDER BY k""".stripMargin),

    // identical cleared binomial limits
    "q_p_chart" ->
      """WITH day AS (
        |  SELECT CAST(ts AS DATE) AS dd,
        |    CAST(COUNT(*) AS BIGINT) AS nt,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS xt
        |  FROM events GROUP BY 1),
        |tot AS (SELECT SUM(nt) AS nn, SUM(xt) AS kk FROM day)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |  ROUND(CAST(MAX(kk) AS DOUBLE) / MAX(nn), 6) AS pbar,
        |  CAST(SUM(CASE WHEN (xt * nn - nt * kk) * (xt * nn - nt * kk)
        |    > 9 * kk * (nn - kk) * nt THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ooc
        |FROM day, tot""".stripMargin,

    // identical cleared Poisson limits
    "q_c_chart" ->
      """WITH day AS (
        |  SELECT CAST(ts AS DATE) AS dd,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0
        |      END) AS BIGINT) AS ct
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, SUM(ct) AS sc
        |        FROM day)
        |SELECT MAX(nd) AS n_days,
        |  ROUND(CAST(MAX(sc) AS DOUBLE) / MAX(nd), 6) AS cbar,
        |  ROUND(CAST(MAX(sc) AS DOUBLE) / MAX(nd)
        |    + 3.0 * sqrt(CAST(MAX(sc) AS DOUBLE) / MAX(nd)), 4)
        |    AS ucl,
        |  CAST(SUM(CASE WHEN (ct * nd - sc) * (ct * nd - sc)
        |    > 9 * sc * nd THEN 1 ELSE 0 END) AS BIGINT) AS n_ooc
        |FROM day, tot""".stripMargin,

    // identical sign-island runs
    "q_we_rules" ->
      (s"WITH ${DailyGrid.dmCte}," +
      """
        |tot AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(y) AS sy
        |  FROM dm GROUP BY 1),
        |sided AS (
        |  SELECT dm.event_type, dm.d,
        |    CAST(SIGN(dm.y * tot.n - tot.sy) AS BIGINT) AS side
        |  FROM dm JOIN tot ON dm.event_type = tot.event_type),
        |brk AS (
        |  SELECT event_type, d, side,
        |    CASE WHEN lag(side) OVER w IS NULL
        |      OR lag(side) OVER w <> side THEN 1 ELSE 0 END AS brk
        |  FROM sided
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |grp AS (
        |  SELECT event_type, side,
        |    SUM(brk) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS grp
        |  FROM brk),
        |runs AS (
        |  SELECT event_type, grp, side,
        |    CAST(COUNT(*) AS BIGINT) AS len
        |  FROM grp GROUP BY 1, 2, 3)
        |SELECT event_type,
        |  CAST(SUM(CASE WHEN side <> 0 AND len >= 8 THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_violations,
        |  CAST(MAX(CASE WHEN side <> 0 THEN len ELSE 0 END)
        |    AS BIGINT) AS longest_run
        |FROM runs GROUP BY 1 ORDER BY event_type""".stripMargin)
  )
}
