package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-9 wave 29 (SURVEY.md §2 B.10b): regression diagnostics and
  * causal identification on the daily event grid — Breusch-Pagan
  * heteroscedasticity LM (residuals² re-regressed on the day index,
  * per-row squares snapped to integer milli² units so every sum
  * stays exact), the Chow structural-break F at the stated mid-series
  * split, Goldfeld-Quandt outer-thirds variance ratio, the KPSS
  * level-stationarity statistic (cleared partial sums, the n³ grid
  * scale cancels exactly), a Wald IV estimate of purchase revenue on
  * click volume instrumented by the weekend indicator, and a sharp
  * RDD at the stated day-15.5 cutoff with ±7-day local-linear fits
  * on a ×2-cleared running variable.
  *
  * Exactness posture: OLS moments stay in longs (DECIMAL(38,0)/
  * HUGEINT where squares of milli² sums would pass 2^63); doubles
  * appear once per key in a final chain spelled identically in both
  * engines, 6dp. Scale posture: everything reduces to the bounded
  * (type × day) rollup first — the window/self-join grids are ≤
  * types × days rows no matter the corpus size.
  */
object StatsR9zc {

  import DailyGrid.wo

  /** Per-type day-indexed milli-mean series with OLS moments vs the
    * index — the shared seed of the four diagnostic keys.
    */
  private def indexed(s: SparkSession, d: String): DataFrame =
    DailyGrid.mean(s, d)
      .select(col("event_type"), col("i"), col("y"))

  private def mom(df: DataFrame): DataFrame =
    df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("i").as("sx"), sum("y").as("sy"),
        sum(col("i") * col("y")).as("sxy"),
        sum(col("i") * col("i")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("cxy", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("cxx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("cyy", col("n") * col("syy") - col("sy") * col("sy"))

  /** SSR of the per-segment OLS fit, as a double column chain:
    * SSR = (cyy − cxy²/cxx)/n with cxy squared in doubles (its long
    * square would wrap).
    */
  private def ssr(pfx: String): org.apache.spark.sql.Column =
    (col(s"${pfx}cyy").cast("double")
      - col(s"${pfx}cxy").cast("double") * col(s"${pfx}cxy")
        / col(s"${pfx}cxx")) / col(s"${pfx}n")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Breusch-Pagan LM per type: OLS residual e_i from the cleared
    // slope/intercept, g_i = round(e_i²) (exact milli² grid, stated),
    // then R² of g on i from long/decimal moments; LM = n·R².
    "q_breusch_pagan" -> ((s, d) => {
      val ix = indexed(s, d).localCheckpoint(eager = true)
      val cl = mom(ix).filter(col("cxx") > 0)
      val g = ix.join(cl, "event_type")
        .withColumn("b", col("cxy").cast("double") / col("cxx"))
        .withColumn("a",
          (col("sy") - col("b") * col("sx")) / col("n"))
        .withColumn("e", col("y") - col("a") - col("b") * col("i"))
        .select(col("event_type"), col("i"),
          round(col("e") * col("e")).cast("long").as("g"))
      g.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("i").as("sx"), sum("g").as("sg"),
          sum(col("i") * col("g")).as("sxg"),
          sum(col("i") * col("i")).as("sxx"),
          sum(col("g").cast("decimal(38,0)") * col("g")).as("sgg"))
        .withColumn("cxg", col("n") * col("sxg") - col("sx") * col("sg"))
        .withColumn("cxx", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("cgg", col("n") * col("sgg").cast("decimal(38,0)")
          - col("sg").cast("decimal(38,0)") * col("sg"))
        .filter(col("cxx") > 0 && col("cgg") > 0)
        .select(col("event_type"), col("n").as("n_days"),
          round(col("n") * col("cxg").cast("double") * col("cxg")
            / (col("cxx").cast("double") * col("cgg").cast("double")), 6)
            .as("bp_lm"))
        .orderBy("event_type")
    }),

    // Chow break F at i ≤ 15 vs > 15 (stated): pooled and per-half
    // cleared moments, F = ((SSRp − SSR1 − SSR2)/2) /
    // ((SSR1 + SSR2)/(n − 4)).
    "q_chow_test" -> ((s, d) => {
      val ix = indexed(s, d).localCheckpoint(eager = true)
      val p = mom(ix).select(col("event_type"), col("n").as("pn"),
        col("cxy").as("pcxy"), col("cxx").as("pcxx"), col("cyy").as("pcyy"))
      val h1 = mom(ix.filter(col("i") <= 15)).select(col("event_type"),
        col("n").as("h1n"), col("cxy").as("h1cxy"),
        col("cxx").as("h1cxx"), col("cyy").as("h1cyy"))
      val h2 = mom(ix.filter(col("i") > 15)).select(col("event_type"),
        col("n").as("h2n"), col("cxy").as("h2cxy"),
        col("cxx").as("h2cxx"), col("cyy").as("h2cyy"))
      p.join(h1, "event_type").join(h2, "event_type")
        .filter(col("pcxx") > 0 && col("h1cxx") > 0 && col("h2cxx") > 0
          && col("h1n") > 2 && col("h2n") > 2)
        .withColumn("ssrp", ssr("p"))
        .withColumn("ssr1", ssr("h1"))
        .withColumn("ssr2", ssr("h2"))
        .filter(col("ssr1") + col("ssr2") > 0)
        .select(col("event_type"), col("pn").as("n_days"),
          round(((col("ssrp") - col("ssr1") - col("ssr2")) / 2)
            / ((col("ssr1") + col("ssr2")) / (col("pn") - 4)), 6)
            .as("chow_f"))
        .orderBy("event_type")
    }),

    // Goldfeld-Quandt outer thirds (m = n DIV 3 first/last days,
    // stated): F = (SSR_late/(m−2)) / (SSR_early/(m−2)).
    "q_goldfeld_quandt" -> ((s, d) => {
      val ix = indexed(s, d).localCheckpoint(eager = true)
      val nPer = ix.groupBy("event_type").agg(count(lit(1)).as("nt"))
      val withM = ix.join(nPer, "event_type")
        .withColumn("m", expr("nt div 3"))
      val e1 = mom(withM.filter(col("i") <= col("m")))
        .select(col("event_type"), col("n").as("e1n"),
          col("cxy").as("e1cxy"), col("cxx").as("e1cxx"),
          col("cyy").as("e1cyy"))
      val e2 = mom(withM.filter(col("i") > col("nt") - col("m")))
        .select(col("event_type"), col("n").as("e2n"),
          col("cxy").as("e2cxy"), col("cxx").as("e2cxx"),
          col("cyy").as("e2cyy"))
      e1.join(e2, "event_type")
        .filter(col("e1cxx") > 0 && col("e2cxx") > 0 && col("e1n") > 2)
        .withColumn("ssr1", ssr("e1"))
        .withColumn("ssr2", ssr("e2"))
        .filter(col("ssr1") > 0)
        .select(col("event_type"), col("e1n").as("m_days"),
          round((col("ssr2") / (col("e2n") - 2))
            / (col("ssr1") / (col("e1n") - 2)), 6).as("gq_f"))
        .orderBy("event_type")
    }),

    // KPSS level statistic per type: cleared z_i = n·y_i − Σy,
    // partial sums S_t by window, KPSS = ΣS²/(n·Σz²) — the clearing
    // grid cancels exactly (derivation in SURVEY §2 row).
    "q_kpss_lite" -> ((s, d) => {
      val ix = indexed(s, d)
      val tot = ix.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"))
      val z = ix.join(tot, "event_type")
        .withColumn("z", col("n") * col("y") - col("sy"))
        .withColumn("st", sum("z").over(wo.orderBy("i")
          .rowsBetween(Window.unboundedPreceding, 0)))
      z.groupBy("event_type")
        .agg(max("n").as("n_days"),
          sum(col("st").cast("decimal(38,0)") * col("st")).as("ss2"),
          sum(col("z").cast("decimal(38,0)") * col("z")).as("sz2"))
        .filter(col("sz2") > 0)
        .select(col("event_type"), col("n_days"),
          round(col("ss2").cast("double")
            / (col("n_days") * col("sz2").cast("double")), 6).as("kpss"))
        .orderBy("event_type")
    }),

    // Wald IV: daily purchase milli-revenue on daily click count,
    // instrumented by the weekend indicator (stated). β =
    // (ȳ_we − ȳ_wd)/(c̄_we − c̄_wd) from exact long day sums; the
    // first stage is emitted alongside.
    "q_iv_wald" -> ((s, d) => {
      val day = DailyGrid.mean(s, d)
        .groupBy("d")
        .agg(sum(when(col("event_type") === "purchase", col("s_m"))
            .otherwise(0L)).as("y"),
          sum(when(col("event_type") === "click", col("cnt")).otherwise(0L))
            .as("c"))
        .withColumn("we", dayofweek(col("d")).isin(1, 7))
      day.agg(
          sum(when(col("we"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("we"), col("y")).otherwise(0L)).as("sy1"),
          sum(when(col("we"), col("c")).otherwise(0L)).as("sc1"),
          sum(when(!col("we"), 1L).otherwise(0L)).as("n0"),
          sum(when(!col("we"), col("y")).otherwise(0L)).as("sy0"),
          sum(when(!col("we"), col("c")).otherwise(0L)).as("sc0"))
        .filter(col("n1") > 0 && col("n0") > 0
          && col("sc1") * col("n0") =!= col("sc0") * col("n1"))
        .select(col("n1").as("n_weekend"), col("n0").as("n_weekday"),
          round((col("sc1").cast("double") / col("n1")
            - col("sc0").cast("double") / col("n0")), 6)
            .as("first_stage_clicks"),
          round(((col("sy1").cast("double") / col("n1")
              - col("sy0").cast("double") / col("n0")) / 1000.0)
            / (col("sc1").cast("double") / col("n1")
              - col("sc0").cast("double") / col("n0")), 6)
            .as("beta_iv"))
    }),

    // Sharp RDD at day 15.5 (stated): all-type daily milli-mean,
    // running variable u = 2i − 31 (odd integers clear the half-unit
    // cutoff), local-linear windows u ∈ [−13,−1] / [1,13]; effect =
    // right intercept − left intercept at u = 0, from exact moments.
    "q_rdd_estimate" -> ((s, d) => {
      val day = DailyGrid.market(s, d)
        .withColumn("u", lit(2L) * col("i") - 31L)
        .filter(abs(col("u")) >= 1 && abs(col("u")) <= 13)
        .withColumn("side", when(col("u") < 0, lit("L")).otherwise(lit("R")))
      val m = day.groupBy("side")
        .agg(count(lit(1)).as("n"), sum("u").as("su"), sum("y").as("sy"),
          sum(col("u") * col("y")).as("suy"),
          sum(col("u") * col("u")).as("suu"))
        .withColumn("den", col("n") * col("suu") - col("su") * col("su"))
        .filter(col("den") > 0)
        .withColumn("a0",
          (col("sy").cast("double") * col("suu")
            - col("su").cast("double") * col("suy")) / col("den"))
      val l = m.filter(col("side") === "L")
        .select(col("n").as("n_left"), col("a0").as("a_left"))
      val r = m.filter(col("side") === "R")
        .select(col("n").as("n_right"), col("a0").as("a_right"))
      l.crossJoin(r)
        .select(col("n_left"), col("n_right"),
          round(col("a_left") / 1000.0, 6).as("left_at_cutoff"),
          round(col("a_right") / 1000.0, 6).as("right_at_cutoff"),
          round((col("a_right") - col("a_left")) / 1000.0, 6)
            .as("rdd_effect"))
    })
  )

  private val ixCte: String =
    s"""${DailyGrid.dmCte},
      |ix AS (
      |  SELECT event_type,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
      |      AS BIGINT) AS i, y
      |  FROM dm)""".stripMargin

  private val momSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(i) AS sx, SUM(y) AS sy, SUM(i * y) AS sxy,
      |    SUM(i * i) AS sxx, SUM(y * y) AS syy""".stripMargin

  val oracle: Map[String, String] = Map(
    // identical milli²-snapped residual regression
    "q_breusch_pagan" ->
      s"""WITH $ixCte,
        |ag AS ($momSql FROM ix GROUP BY 1),
        |cl AS (
        |  SELECT event_type, n, sx, sy,
        |    n * sxy - sx * sy AS cxy, n * sxx - sx * sx AS cxx
        |  FROM ag WHERE n * sxx - sx * sx > 0),
        |g AS (
        |  SELECT ix.event_type, ix.i,
        |    CAST(ROUND((ix.y - ((cl.sy - (CAST(cl.cxy AS DOUBLE) / cl.cxx)
        |        * cl.sx) / cl.n)
        |      - (CAST(cl.cxy AS DOUBLE) / cl.cxx) * ix.i)
        |      * (ix.y - ((cl.sy - (CAST(cl.cxy AS DOUBLE) / cl.cxx)
        |        * cl.sx) / cl.n)
        |      - (CAST(cl.cxy AS DOUBLE) / cl.cxx) * ix.i)) AS BIGINT)
        |      AS g
        |  FROM ix JOIN cl ON ix.event_type = cl.event_type),
        |ag2 AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(i) AS sx, SUM(g) AS sg, SUM(i * g) AS sxg,
        |    SUM(i * i) AS sxx, SUM(CAST(g AS HUGEINT) * g) AS sgg
        |  FROM g GROUP BY 1),
        |cl2 AS (
        |  SELECT event_type, n,
        |    n * sxg - sx * sg AS cxg,
        |    n * sxx - sx * sx AS cxx,
        |    n * sgg - CAST(sg AS HUGEINT) * sg AS cgg
        |  FROM ag2)
        |SELECT event_type, n AS n_days,
        |  ROUND(n * CAST(cxg AS DOUBLE) * cxg
        |    / (CAST(cxx AS DOUBLE) * CAST(cgg AS DOUBLE)), 6) AS bp_lm
        |FROM cl2 WHERE cxx > 0 AND cgg > 0
        |ORDER BY event_type""".stripMargin,

    // identical pooled/half cleared moments and F chain
    "q_chow_test" ->
      s"""WITH $ixCte,
        |p AS ($momSql FROM ix GROUP BY 1),
        |h1 AS ($momSql FROM ix WHERE i <= 15 GROUP BY 1),
        |h2 AS ($momSql FROM ix WHERE i > 15 GROUP BY 1),
        |cl AS (
        |  SELECT p.event_type, p.n AS pn,
        |    (CAST(p.n * p.syy - p.sy * p.sy AS DOUBLE)
        |      - CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
        |        * (p.n * p.sxy - p.sx * p.sy)
        |        / (p.n * p.sxx - p.sx * p.sx)) / p.n AS ssrp,
        |    (CAST(h1.n * h1.syy - h1.sy * h1.sy AS DOUBLE)
        |      - CAST(h1.n * h1.sxy - h1.sx * h1.sy AS DOUBLE)
        |        * (h1.n * h1.sxy - h1.sx * h1.sy)
        |        / (h1.n * h1.sxx - h1.sx * h1.sx)) / h1.n AS ssr1,
        |    (CAST(h2.n * h2.syy - h2.sy * h2.sy AS DOUBLE)
        |      - CAST(h2.n * h2.sxy - h2.sx * h2.sy AS DOUBLE)
        |        * (h2.n * h2.sxy - h2.sx * h2.sy)
        |        / (h2.n * h2.sxx - h2.sx * h2.sx)) / h2.n AS ssr2
        |  FROM p
        |  JOIN h1 ON p.event_type = h1.event_type
        |  JOIN h2 ON p.event_type = h2.event_type
        |  WHERE p.n * p.sxx - p.sx * p.sx > 0
        |    AND h1.n * h1.sxx - h1.sx * h1.sx > 0
        |    AND h2.n * h2.sxx - h2.sx * h2.sx > 0
        |    AND h1.n > 2 AND h2.n > 2)
        |SELECT event_type, pn AS n_days,
        |  ROUND(((ssrp - ssr1 - ssr2) / 2)
        |    / ((ssr1 + ssr2) / (pn - 4)), 6) AS chow_f
        |FROM cl WHERE ssr1 + ssr2 > 0
        |ORDER BY event_type""".stripMargin,

    // identical outer-thirds split and variance-ratio chain
    "q_goldfeld_quandt" ->
      s"""WITH $ixCte,
        |np AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nt
        |       FROM ix GROUP BY 1),
        |wm AS (
        |  SELECT ix.*, np.nt, np.nt // 3 AS m
        |  FROM ix JOIN np ON ix.event_type = np.event_type),
        |e1 AS ($momSql FROM wm WHERE i <= m GROUP BY 1),
        |e2 AS ($momSql FROM wm WHERE i > nt - m GROUP BY 1),
        |cl AS (
        |  SELECT e1.event_type, e1.n AS e1n, e2.n AS e2n,
        |    (CAST(e1.n * e1.syy - e1.sy * e1.sy AS DOUBLE)
        |      - CAST(e1.n * e1.sxy - e1.sx * e1.sy AS DOUBLE)
        |        * (e1.n * e1.sxy - e1.sx * e1.sy)
        |        / (e1.n * e1.sxx - e1.sx * e1.sx)) / e1.n AS ssr1,
        |    (CAST(e2.n * e2.syy - e2.sy * e2.sy AS DOUBLE)
        |      - CAST(e2.n * e2.sxy - e2.sx * e2.sy AS DOUBLE)
        |        * (e2.n * e2.sxy - e2.sx * e2.sy)
        |        / (e2.n * e2.sxx - e2.sx * e2.sx)) / e2.n AS ssr2
        |  FROM e1 JOIN e2 ON e1.event_type = e2.event_type
        |  WHERE e1.n * e1.sxx - e1.sx * e1.sx > 0
        |    AND e2.n * e2.sxx - e2.sx * e2.sx > 0 AND e1.n > 2)
        |SELECT event_type, e1n AS m_days,
        |  ROUND((ssr2 / (e2n - 2)) / (ssr1 / (e1n - 2)), 6) AS gq_f
        |FROM cl WHERE ssr1 > 0
        |ORDER BY event_type""".stripMargin,

    // identical cleared partial sums
    "q_kpss_lite" ->
      s"""WITH $ixCte,
        |tot AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(y) AS sy
        |  FROM ix GROUP BY 1),
        |z AS (
        |  SELECT ix.event_type, tot.n,
        |    tot.n * ix.y - tot.sy AS z,
        |    SUM(tot.n * ix.y - tot.sy) OVER (
        |      PARTITION BY ix.event_type ORDER BY ix.i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st
        |  FROM ix JOIN tot ON ix.event_type = tot.event_type),
        |ag AS (
        |  SELECT event_type, MAX(n) AS n_days,
        |    SUM(CAST(st AS HUGEINT) * st) AS ss2,
        |    SUM(CAST(z AS HUGEINT) * z) AS sz2
        |  FROM z GROUP BY 1)
        |SELECT event_type, n_days,
        |  ROUND(CAST(ss2 AS DOUBLE)
        |    / (n_days * CAST(sz2 AS DOUBLE)), 6) AS kpss
        |FROM ag WHERE sz2 > 0
        |ORDER BY event_type""".stripMargin,

    // identical weekend-instrument day sums
    "q_iv_wald" ->
      """WITH day AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(FLOOR(value * 1000) AS BIGINT) ELSE 0 END) AS y,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c
        |  FROM events GROUP BY 1),
        |fl AS (SELECT *, dayofweek(d) IN (0, 6) AS we FROM day),
        |ag AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    SUM(CASE WHEN we THEN y ELSE 0 END) AS sy1,
        |    SUM(CASE WHEN we THEN c ELSE 0 END) AS sc1,
        |    CAST(SUM(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    SUM(CASE WHEN NOT we THEN y ELSE 0 END) AS sy0,
        |    SUM(CASE WHEN NOT we THEN c ELSE 0 END) AS sc0
        |  FROM fl)
        |SELECT n1 AS n_weekend, n0 AS n_weekday,
        |  ROUND(CAST(sc1 AS DOUBLE) / n1 - CAST(sc0 AS DOUBLE) / n0, 6)
        |    AS first_stage_clicks,
        |  ROUND(((CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)
        |      / 1000.0)
        |    / (CAST(sc1 AS DOUBLE) / n1 - CAST(sc0 AS DOUBLE) / n0), 6)
        |    AS beta_iv
        |FROM ag
        |WHERE n1 > 0 AND n0 > 0 AND sc1 * n0 <> sc0 * n1""".stripMargin,

    // identical ×2-cleared local-linear intercepts
    "q_rdd_estimate" ->
      """WITH dm2 AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) // COUNT(*)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |ix AS (
        |  SELECT y,
        |    2 * CAST(row_number() OVER (ORDER BY d) AS BIGINT) - 31
        |      AS u
        |  FROM dm2),
        |win AS (
        |  SELECT *, CASE WHEN u < 0 THEN 'L' ELSE 'R' END AS side
        |  FROM ix WHERE ABS(u) >= 1 AND ABS(u) <= 13),
        |m AS (
        |  SELECT side, CAST(COUNT(*) AS BIGINT) AS n, SUM(u) AS su,
        |    SUM(y) AS sy, SUM(u * y) AS suy, SUM(u * u) AS suu
        |  FROM win GROUP BY 1),
        |a AS (
        |  SELECT side, n,
        |    (CAST(sy AS DOUBLE) * suu - CAST(su AS DOUBLE) * suy)
        |      / (n * suu - su * su) AS a0
        |  FROM m WHERE n * suu - su * su > 0)
        |SELECT l.n AS n_left, r.n AS n_right,
        |  ROUND(l.a0 / 1000.0, 6) AS left_at_cutoff,
        |  ROUND(r.a0 / 1000.0, 6) AS right_at_cutoff,
        |  ROUND((r.a0 - l.a0) / 1000.0, 6) AS rdd_effect
        |FROM (SELECT n, a0 FROM a WHERE side = 'L') l,
        |  (SELECT n, a0 FROM a WHERE side = 'R') r""".stripMargin
  )
}
