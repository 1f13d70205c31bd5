package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-9 wave 26 (SURVEY.md §2 B.10b): ordinal association and
  * serial/spatial autocorrelation over the bounded daily grid —
  * Somers' D (both asymmetric directions), Goodman-Kruskal gamma,
  * Hoeffding's D (the full tie-weighted ×16-cleared form), the
  * Brunner-Munzel rank test (×2-cleared midranks, the scipy
  * formulation), Moran's I and Geary's C with lag-1 series adjacency.
  * Exact-integer discipline: every concordance / rank / dominance
  * count is a long (or decimal(38,0) where the z²-sum can pass 2^63);
  * at most one double chain per emitted row, spelled identically in
  * the DuckDB oracle. Every pair/self-join is on the DAY grid — at
  * 100 TB the grids stay calendar-bounded (|days|² pairs), so these
  * are flat in corpus size after the one partial agg over events.
  */
object StatsR9z {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Somers' D of daily purchase milli-mean (y) on click (x): the
    // kendall pair grid with the asymmetric tie denominators —
    // D_yx = (C−D)/(n0−tx) (x the predictor), D_xy = (C−D)/(n0−ty).
    "q_somers_d" -> ((s, d) => {
      val wide = DailyGrid.mean(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("d")
        .agg(max(when(col("event_type") === "click", col("y"))).as("x"),
          max(when(col("event_type") === "purchase", col("y"))).as("y"))
        .filter(col("x").isNotNull && col("y").isNotNull)
        .localCheckpoint(eager = true) // bounded day grid, 2 join legs
      val pairs = wide.select(col("d").as("d1"), col("x").as("x1"),
          col("y").as("y1"))
        .join(wide.select(col("d").as("d2"), col("x").as("x2"),
          col("y").as("y2")), col("d1") < col("d2"))
        .withColumn("sx", signum(col("x2") - col("x1")).cast("long"))
        .withColumn("sy", signum(col("y2") - col("y1")).cast("long"))
      pairs.agg(count(lit(1)).as("n0"),
          sum(when(col("sx") * col("sy") > 0, 1L).otherwise(0L)).as("c"),
          sum(when(col("sx") * col("sy") < 0, 1L).otherwise(0L))
            .as("disc"),
          sum(when(col("sx") === 0, 1L).otherwise(0L)).as("tx"),
          sum(when(col("sy") === 0, 1L).otherwise(0L)).as("ty"))
        .filter(col("n0") - col("tx") > 0 && col("n0") - col("ty") > 0)
        .select(col("n0").as("n_pairs"), col("c").as("concordant"),
          col("disc").as("discordant"),
          round((col("c") - col("disc")).cast("double")
            / (col("n0") - col("tx")), 6).as("d_yx"),
          round((col("c") - col("disc")).cast("double")
            / (col("n0") - col("ty")), 6).as("d_xy"))
    }),

    // Goodman-Kruskal gamma of daily signup on view milli-means:
    // gamma = (C−D)/(C+D) — ties dropped from the denominator
    // entirely (the tau-b / Somers counterpoint).
    "q_gk_gamma" -> ((s, d) => {
      val wide = DailyGrid.mean(s, d)
        .filter(col("event_type").isin("view", "signup"))
        .groupBy("d")
        .agg(max(when(col("event_type") === "view", col("y"))).as("x"),
          max(when(col("event_type") === "signup", col("y"))).as("y"))
        .filter(col("x").isNotNull && col("y").isNotNull)
        .localCheckpoint(eager = true)
      val pairs = wide.select(col("d").as("d1"), col("x").as("x1"),
          col("y").as("y1"))
        .join(wide.select(col("d").as("d2"), col("x").as("x2"),
          col("y").as("y2")), col("d1") < col("d2"))
        .withColumn("sx", signum(col("x2") - col("x1")).cast("long"))
        .withColumn("sy", signum(col("y2") - col("y1")).cast("long"))
      pairs.agg(
          sum(when(col("sx") * col("sy") > 0, 1L).otherwise(0L)).as("c"),
          sum(when(col("sx") * col("sy") < 0, 1L).otherwise(0L))
            .as("disc"))
        .filter(col("c") + col("disc") > 0)
        .select(col("c").as("concordant"), col("disc").as("discordant"),
          round((col("c") - col("disc")).cast("double")
            / (col("c") + col("disc")), 6).as("gamma"))
    }),

    // Hoeffding's D between daily click and view milli-means, the
    // full tie-weighted form: per day i, u = 2R_i, v = 2S_i (doubled
    // midranks) and w4 = 4Q_i (quadrupled bivariate dominance count,
    // ties weighted 1/2 edge, 1/4 double) from ONE day-grid self-join;
    // D1/D2/D3 are then ×16-cleared longs and
    // D = 30·((n−2)(n−3)D1 + D2 − 2(n−2)D3) / (n(n−1)...(n−4)) gets
    // its single double chain at the end (n ≥ 5 guard).
    "q_hoeffding_d" -> ((s, d) => {
      val wide = DailyGrid.mean(s, d)
        .filter(col("event_type").isin("click", "view"))
        .groupBy("d")
        .agg(max(when(col("event_type") === "click", col("y"))).as("x"),
          max(when(col("event_type") === "view", col("y"))).as("y"))
        .filter(col("x").isNotNull && col("y").isNotNull)
        .localCheckpoint(eager = true)
      val cnts = wide.select(col("d").as("d1"), col("x").as("x1"),
          col("y").as("y1"))
        .join(wide.select(col("d").as("d2"), col("x").as("x2"),
          col("y").as("y2")), col("d1") =!= col("d2"))
        .groupBy("d1")
        .agg((lit(2L) + lit(2L) * sum(when(col("x2") < col("x1"), 1L)
            .otherwise(0L))
          + sum(when(col("x2") === col("x1"), 1L).otherwise(0L)))
            .as("u"),
          (lit(2L) + lit(2L) * sum(when(col("y2") < col("y1"), 1L)
            .otherwise(0L))
          + sum(when(col("y2") === col("y1"), 1L).otherwise(0L)))
            .as("v"),
          (lit(4L)
            + lit(4L) * sum(when(col("x2") < col("x1")
              && col("y2") < col("y1"), 1L).otherwise(0L))
            + lit(2L) * sum(when(col("x2") === col("x1")
              && col("y2") < col("y1"), 1L).otherwise(0L))
            + lit(2L) * sum(when(col("x2") < col("x1")
              && col("y2") === col("y1"), 1L).otherwise(0L))
            + sum(when(col("x2") === col("x1")
              && col("y2") === col("y1"), 1L).otherwise(0L))).as("w4"))
      cnts.agg(count(lit(1)).as("n"),
          sum((col("w4") - 4) * (col("w4") - 8)).as("d1_16"),
          sum((col("u") - 2) * (col("u") - 4) * (col("v") - 2)
            * (col("v") - 4)).as("d2_16"),
          sum((col("u") - 4) * (col("v") - 4) * (col("w4") - 4))
            .as("d3_16"))
        .filter(col("n") >= 5)
        .select(col("n"),
          round(((col("n") - 2) * (col("n") - 3) * col("d1_16")
              + col("d2_16") - lit(2L) * (col("n") - 2) * col("d3_16"))
              .cast("double") * 30
            / (lit(16L) * col("n") * (col("n") - 1) * (col("n") - 2)
              * (col("n") - 3) * (col("n") - 4)).cast("double"), 8)
            .as("hoeffd"))
    }),

    // Brunner-Munzel rank test, click (group 1) vs view (group 2)
    // daily milli-means: doubled midranks u (combined) and v (within
    // group) from one bounded cross join; p̂ = (R̄₂−(n₂+1)/2)/n₁ has an
    // exact long numerator, and W follows the scipy formulation
    // W = n₁n₂(R̄₂−R̄₁) / ((n₁+n₂)·√(n₁S₁²+n₂S₂²)) with
    // n_k·S_k² = (n_kΣt²−T²)/(4(n_k−1)), t = u−v exact longs.
    "q_brunner_munzel" -> ((s, d) => {
      val ser = DailyGrid.mean(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(when(col("event_type") === "click", 1L).otherwise(2L)
            .as("g"), col("d"), col("y"))
      val rk = ser.select(col("g").as("g1"), col("d").as("d1"),
          col("y").as("y1"))
        .crossJoin(ser.select(col("g").as("g2"), col("y").as("y2")))
        .groupBy("g1", "d1", "y1")
        .agg((lit(2L) * sum(when(col("y2") < col("y1"), 1L)
            .otherwise(0L))
          + sum(when(col("y2") === col("y1"), 1L).otherwise(0L))
          + lit(1L)).as("u"),
          (lit(2L) * sum(when(col("g2") === col("g1")
            && col("y2") < col("y1"), 1L).otherwise(0L))
          + sum(when(col("g2") === col("g1")
            && col("y2") === col("y1"), 1L).otherwise(0L))
          + lit(1L)).as("v"))
      val gsum = rk.groupBy("g1")
        .agg(count(lit(1)).as("nk"), sum("u").as("su"),
          sum(col("u") - col("v")).as("t"),
          sum((col("u") - col("v")) * (col("u") - col("v"))).as("t2"))
      gsum.agg(
          max(when(col("g1") === 1, col("nk"))).as("n1"),
          max(when(col("g1") === 2, col("nk"))).as("n2"),
          max(when(col("g1") === 1, col("su"))).as("su1"),
          max(when(col("g1") === 2, col("su"))).as("su2"),
          max(when(col("g1") === 1,
            col("nk") * col("t2") - col("t") * col("t"))).as("a1"),
          max(when(col("g1") === 2,
            col("nk") * col("t2") - col("t") * col("t"))).as("a2"))
        .filter(col("n1") > 1 && col("n2") > 1
          && col("a1") + col("a2") > 0)
        .select(col("n1"), col("n2"),
          round((col("su2") - col("n2") * (col("n2") + 1))
            .cast("double") / (lit(2L) * col("n1") * col("n2")), 6)
            .as("p_hat"),
          round((col("n1") * col("su2") - col("n2") * col("su1"))
              .cast("double") / 2
            / ((col("n1") + col("n2"))
              * sqrt(col("a1").cast("double")
                  / (lit(4L) * (col("n1") - 1))
                + col("a2").cast("double")
                  / (lit(4L) * (col("n2") - 1)))), 6).as("w_bm"))
    }),

    // Moran's I per event type over the daily milli-mean series with
    // lag-1 adjacency (w_ij = 1 for consecutive observations):
    // z = n·y − Σy cleared longs, Σz·z_lag and Σz² as decimal(38,0)
    // (the z²-sum passes 2^63 on long corpora — the 4th-power-sum
    // precedent), I = n·Σ_adj/((n−1)·Σz²) in one double chain; the
    // null expectation −1/(n−1) emitted alongside.
    "q_moran_i" -> ((s, d) => {
      val daily = DailyGrid.mean(s, d)
      val st = daily.groupBy(col("event_type").as("et"))
        .agg(count(lit(1)).as("n"), sum("y").as("sm"))
      val z = daily.join(broadcast(st),
          col("event_type") === col("et"))
        .withColumn("z", col("n") * col("y") - col("sm"))
        .withColumn("pz", lag("z", 1).over(Window
          .partitionBy("event_type").orderBy("d")))
      z.groupBy("event_type")
        .agg(max("n").as("n"),
          sum(col("z").cast("decimal(38,0)") * col("z")).as("sz2"),
          sum(when(col("pz").isNotNull,
            col("z").cast("decimal(38,0)") * col("pz"))).as("sadj"))
        .filter(col("n") >= 3 && col("sz2") > 0)
        .select(col("event_type"),
          round(col("n") * col("sadj").cast("double")
            / (col("n") - 1) / col("sz2").cast("double"), 6)
            .as("moran_i"),
          round(lit(-1.0) / (col("n") - 1), 6).as("e_i"))
        .orderBy("event_type")
    }),

    // Geary's C per event type, same series and adjacency: the
    // squared-difference sum Σ(y_i−y_{i−1})² stays a long (diffs are
    // day-to-day), Σz² the decimal carrier, and
    // C = n²·Σd²/(2·Σz²) in one double chain (1 = no autocorrelation).
    "q_geary_c" -> ((s, d) => {
      val daily = DailyGrid.mean(s, d)
      val st = daily.groupBy(col("event_type").as("et"))
        .agg(count(lit(1)).as("n"), sum("y").as("sm"))
      val z = daily.join(broadcast(st),
          col("event_type") === col("et"))
        .withColumn("z", col("n") * col("y") - col("sm"))
        .withColumn("py", lag("y", 1).over(Window
          .partitionBy("event_type").orderBy("d")))
      z.groupBy("event_type")
        .agg(max("n").as("n"),
          sum(col("z").cast("decimal(38,0)") * col("z")).as("sz2"),
          sum(when(col("py").isNotNull,
            (col("y") - col("py")) * (col("y") - col("py"))))
            .as("sd2"))
        .filter(col("n") >= 3 && col("sz2") > 0)
        .select(col("event_type"),
          round(col("n") * col("n") * col("sd2").cast("double")
            / 2 / col("sz2").cast("double"), 6).as("geary_c"))
        .orderBy("event_type")
    })
  )

  private val dailyAll =
    """daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
      |      // COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2)""".stripMargin

  val oracle: Map[String, String] = Map(
    // identical pair grid; asymmetric tie denominators
    "q_somers_d" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
        |      // COUNT(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |wide AS (
        |  SELECT d, MAX(CASE WHEN event_type = 'click' THEN y END) AS x,
        |    MAX(CASE WHEN event_type = 'purchase' THEN y END) AS y
        |  FROM daily GROUP BY 1
        |  HAVING MAX(CASE WHEN event_type = 'click' THEN y END)
        |      IS NOT NULL
        |    AND MAX(CASE WHEN event_type = 'purchase' THEN y END)
        |      IS NOT NULL),
        |pairs AS (
        |  SELECT sign(b.x - a.x) AS sx, sign(b.y - a.y) AS sy
        |  FROM wide a JOIN wide b ON a.d < b.d),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c,
        |    CAST(SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS disc,
        |    CAST(SUM(CASE WHEN sx = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tx,
        |    CAST(SUM(CASE WHEN sy = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ty
        |  FROM pairs)
        |SELECT n0 AS n_pairs, c AS concordant, disc AS discordant,
        |  ROUND(CAST(c - disc AS DOUBLE) / (n0 - tx), 6) AS d_yx,
        |  ROUND(CAST(c - disc AS DOUBLE) / (n0 - ty), 6) AS d_xy
        |FROM agg WHERE n0 - tx > 0 AND n0 - ty > 0""".stripMargin,

    // identical pair grid; tie-free denominator
    "q_gk_gamma" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
        |      // COUNT(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('view', 'signup')
        |  GROUP BY 1, 2),
        |wide AS (
        |  SELECT d, MAX(CASE WHEN event_type = 'view' THEN y END) AS x,
        |    MAX(CASE WHEN event_type = 'signup' THEN y END) AS y
        |  FROM daily GROUP BY 1
        |  HAVING MAX(CASE WHEN event_type = 'view' THEN y END)
        |      IS NOT NULL
        |    AND MAX(CASE WHEN event_type = 'signup' THEN y END)
        |      IS NOT NULL),
        |pairs AS (
        |  SELECT sign(b.x - a.x) AS sx, sign(b.y - a.y) AS sy
        |  FROM wide a JOIN wide b ON a.d < b.d),
        |agg AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c,
        |    CAST(SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS disc
        |  FROM pairs)
        |SELECT c AS concordant, disc AS discordant,
        |  ROUND(CAST(c - disc AS DOUBLE) / (c + disc), 6) AS gamma
        |FROM agg WHERE c + disc > 0""".stripMargin,

    // identical ×16-cleared dominance counts and final chain
    "q_hoeffding_d" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
        |      // COUNT(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1, 2),
        |wide AS (
        |  SELECT d, MAX(CASE WHEN event_type = 'click' THEN y END) AS x,
        |    MAX(CASE WHEN event_type = 'view' THEN y END) AS y
        |  FROM daily GROUP BY 1
        |  HAVING MAX(CASE WHEN event_type = 'click' THEN y END)
        |      IS NOT NULL
        |    AND MAX(CASE WHEN event_type = 'view' THEN y END)
        |      IS NOT NULL),
        |cnts AS (
        |  SELECT a.d,
        |    CAST(2 + 2 * SUM(CASE WHEN b.x < a.x THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) AS BIGINT)
        |      AS u,
        |    CAST(2 + 2 * SUM(CASE WHEN b.y < a.y THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS v,
        |    CAST(4 + 4 * SUM(CASE WHEN b.x < a.x AND b.y < a.y
        |        THEN 1 ELSE 0 END)
        |      + 2 * SUM(CASE WHEN b.x = a.x AND b.y < a.y
        |        THEN 1 ELSE 0 END)
        |      + 2 * SUM(CASE WHEN b.x < a.x AND b.y = a.y
        |        THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN b.x = a.x AND b.y = a.y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS w4
        |  FROM wide a JOIN wide b ON a.d <> b.d GROUP BY 1),
        |sums AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM((w4 - 4) * (w4 - 8)) AS d1_16,
        |    SUM((u - 2) * (u - 4) * (v - 2) * (v - 4)) AS d2_16,
        |    SUM((u - 4) * (v - 4) * (w4 - 4)) AS d3_16
        |  FROM cnts)
        |SELECT n,
        |  ROUND(CAST((n - 2) * (n - 3) * d1_16 + d2_16
        |      - 2 * (n - 2) * d3_16 AS DOUBLE) * 30
        |    / CAST(16 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4)
        |      AS DOUBLE), 8) AS hoeffd
        |FROM sums WHERE n >= 5""".stripMargin,

    // identical doubled midranks and scipy-form W chain
    "q_brunner_munzel" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
        |      // COUNT(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1, 2),
        |ser AS (
        |  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS g,
        |    d, y
        |  FROM daily),
        |rk AS (
        |  SELECT a.g,
        |    CAST(2 * SUM(CASE WHEN b.y < a.y THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) + 1
        |      AS BIGINT) AS u,
        |    CAST(2 * SUM(CASE WHEN b.g = a.g AND b.y < a.y
        |        THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN b.g = a.g AND b.y = a.y THEN 1 ELSE 0 END)
        |      + 1 AS BIGINT) AS v
        |  FROM ser a JOIN ser b ON TRUE GROUP BY a.g, a.d, a.y),
        |gsum AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS nk, SUM(u) AS su,
        |    SUM(u - v) AS t, SUM((u - v) * (u - v)) AS t2
        |  FROM rk GROUP BY 1),
        |w AS (
        |  SELECT MAX(CASE WHEN g = 1 THEN nk END) AS n1,
        |    MAX(CASE WHEN g = 2 THEN nk END) AS n2,
        |    MAX(CASE WHEN g = 1 THEN su END) AS su1,
        |    MAX(CASE WHEN g = 2 THEN su END) AS su2,
        |    CAST(MAX(CASE WHEN g = 1 THEN nk * t2 - t * t END)
        |      AS BIGINT) AS a1,
        |    CAST(MAX(CASE WHEN g = 2 THEN nk * t2 - t * t END)
        |      AS BIGINT) AS a2
        |  FROM gsum)
        |SELECT n1, n2,
        |  ROUND(CAST(su2 - n2 * (n2 + 1) AS DOUBLE) / (2 * n1 * n2), 6)
        |    AS p_hat,
        |  ROUND(CAST(n1 * su2 - n2 * su1 AS DOUBLE) / 2
        |    / ((n1 + n2) * sqrt(CAST(a1 AS DOUBLE) / (4 * (n1 - 1))
        |      + CAST(a2 AS DOUBLE) / (4 * (n2 - 1)))), 6) AS w_bm
        |FROM w WHERE n1 > 1 AND n2 > 1 AND a1 + a2 > 0""".stripMargin,

    // identical cleared z-series; HUGEINT carries the z²-sum
    "q_moran_i" -> (s"""WITH $dailyAll,""".stripMargin +
      """
        |st AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(y) AS s
        |  FROM daily GROUP BY 1),
        |z AS (
        |  SELECT daily.event_type, d, st.n, st.n * y - st.s AS z
        |  FROM daily JOIN st ON daily.event_type = st.event_type),
        |lz AS (
        |  SELECT event_type, n, z,
        |    LAG(z) OVER (PARTITION BY event_type ORDER BY d) AS pz
        |  FROM z),
        |agg AS (
        |  SELECT event_type, MAX(n) AS n,
        |    SUM(CAST(z AS HUGEINT) * z) AS sz2,
        |    SUM(CASE WHEN pz IS NOT NULL
        |      THEN CAST(z AS HUGEINT) * pz END) AS sadj
        |  FROM lz GROUP BY 1)
        |SELECT event_type,
        |  ROUND(n * CAST(sadj AS DOUBLE) / (n - 1)
        |    / CAST(sz2 AS DOUBLE), 6) AS moran_i,
        |  ROUND(-1.0 / (n - 1), 6) AS e_i
        |FROM agg WHERE n >= 3 AND sz2 > 0
        |ORDER BY event_type""".stripMargin),

    // identical cleared series; long Σd², HUGEINT Σz²
    "q_geary_c" -> (s"""WITH $dailyAll,""".stripMargin +
      """
        |st AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(y) AS s
        |  FROM daily GROUP BY 1),
        |z AS (
        |  SELECT daily.event_type, d, st.n, st.n * y - st.s AS z, y
        |  FROM daily JOIN st ON daily.event_type = st.event_type),
        |lz AS (
        |  SELECT event_type, n, z, y,
        |    LAG(y) OVER (PARTITION BY event_type ORDER BY d) AS py
        |  FROM z),
        |agg AS (
        |  SELECT event_type, MAX(n) AS n,
        |    SUM(CAST(z AS HUGEINT) * z) AS sz2,
        |    CAST(SUM(CASE WHEN py IS NOT NULL
        |      THEN (y - py) * (y - py) END) AS BIGINT) AS sd2
        |  FROM lz GROUP BY 1)
        |SELECT event_type,
        |  ROUND(n * n * CAST(sd2 AS DOUBLE) / 2
        |    / CAST(sz2 AS DOUBLE), 6) AS geary_c
        |FROM agg WHERE n >= 3 AND sz2 > 0
        |ORDER BY event_type""".stripMargin)
  )
}
