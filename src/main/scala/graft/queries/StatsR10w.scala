package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 wave 24 (SURVEY.md §2 B.10b): modern dependence and
  * distribution-distance measures on the paired daily grid —
  * Chatterjee's ξ, exact 1-D Wasserstein, the BWS rank test, and
  * distance correlation.
  *
  * House discipline: every rank/count is exact integer algebra on
  * the bounded day grid; Wasserstein's step integral rides
  * cross-multiplied long products (ONE division at the end);
  * distance correlation's double-centering assembles from exact
  * |diff| row sums with the double chain last.
  */
object StatsR10w {


  /** Paired daily milli means for every ordered/unordered type pair. */
  private def paired(s: SparkSession, d: String): DataFrame = {
    val dm = DailyGrid.mean(s, d).select(col("event_type"), col("d"), col("y"))
    dm.select(col("event_type").as("t1"), col("d"), col("y").as("x"))
      .join(dm.select(col("event_type").as("t2"), col("d"),
        col("y").as("yy")), "d")
      .filter(col("t1") =!= col("t2"))
  }

  private val pairedCte: String =
    """dm AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) // COUNT(*)
      |      AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |paired AS (
      |  SELECT a.event_type AS t1, b.event_type AS t2, a.d,
      |    a.y AS x, b.y AS yy
      |  FROM dm a JOIN dm b ON a.d = b.d
      |  WHERE a.event_type <> b.event_type)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Chatterjee's ξ (2020) for every ORDERED type pair (ξ is
    // asymmetric — it estimates "is y a measurable function of x"):
    // rows sorted by (x, d), r_i = #{y_j ≤ y_i}, l_i = #{y_j ≥ y_i},
    // ξ = 1 − n·Σ|r_{i+1} − r_i| / (2·Σ l_i(n − l_i)) — the
    // ties-general form, exact integer algebra throughout.
    "q_chatterjee_xi" -> ((s, d) => {
      val base = paired(s, d).localCheckpoint(eager = true)
      val yRanks = base.select(col("t1"), col("t2"),
          col("d"), col("x"), col("yy"))
        .withColumn("r", (count(lit(1)).over(Window
            .partitionBy("t1", "t2").orderBy("yy")
            .rangeBetween(Window.unboundedPreceding, 0))).cast("long"))
        .withColumn("l", (count(lit(1)).over(Window
            .partitionBy("t1", "t2").orderBy(col("yy").desc)
            .rangeBetween(Window.unboundedPreceding, 0))).cast("long"))
      val wx = Window.partitionBy("t1", "t2").orderBy("x", "d")
      yRanks
        .withColumn("rn", lead("r", 1).over(wx))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("t1", "t2")))
        .groupBy("t1", "t2")
        .agg(max("n").as("n"),
          sum(when(col("rn").isNotNull, abs(col("rn") - col("r")))
            .otherwise(0L)).as("sd"),
          sum(col("l") * (col("n") - col("l"))).as("sl"))
        .select(col("t1"), col("t2"), col("n").as("n_days"),
          round(lit(1.0) - col("n").cast("double") * col("sd")
            / (lit(2.0) * col("sl")), 6).as("xi"))
        .orderBy("t1", "t2")
    }),

    // Exact 1-D Wasserstein-1 between each unordered type pair's
    // daily distributions: the step integral Σ|F1 − F2|·Δv over the
    // merged value grid, cross-multiplied to exact longs
    // (|c1·n2 − c2·n1|·Δv summed as longs, ONE division by n1·n2 at
    // the end) — the distribution-shift distance JSD's binning
    // approximates.
    "q_wasserstein" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d)
        .select(col("event_type"), col("y"))
      val pairs = dm.select(col("event_type").as("t1")).distinct()
        .join(dm.select(col("event_type").as("t2")).distinct(),
          col("t1") < col("t2"))
      val vals = pairs.join(dm,
          col("event_type") === col("t1")
            || col("event_type") === col("t2"))
        .groupBy("t1", "t2", "y")
        .agg(sum(when(col("event_type") === col("t1"), 1L)
          .otherwise(0L)).as("a1"),
          sum(when(col("event_type") === col("t2"), 1L)
            .otherwise(0L)).as("a2"))
      val wv = Window.partitionBy("t1", "t2").orderBy("y")
      vals
        .withColumn("c1", sum("a1").over(
          wv.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("c2", sum("a2").over(
          wv.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("nv", lead("y", 1).over(wv))
        .withColumn("n1", sum("a1").over(
          Window.partitionBy("t1", "t2")))
        .withColumn("n2", sum("a2").over(
          Window.partitionBy("t1", "t2")))
        .filter(col("nv").isNotNull)
        .groupBy("t1", "t2")
        .agg(max("n1").as("n1"), max("n2").as("n2"),
          sum(abs(col("c1") * col("n2") - col("c2") * col("n1"))
            * (col("nv") - col("y"))).as("si"))
        .select(col("t1"), col("t2"), col("n1"), col("n2"),
          round(col("si") / (col("n1").cast("double") * col("n2"))
            / 1e3, 6).as("w1"))
        .orderBy("t1", "t2")
    }),

    // Baumgartner-Weiss-Schindler two-sample test per unordered pair
    // on the pooled doubled-midrank grid: B = (B_X + B_Y)/2 with
    // B_X = (1/n)Σ (R_i − (m+n)/n·i)² / (i/(n+1)(1−i/(n+1))·m(m+n)/n)
    // — rank-based like Mann-Whitney but weighting the tails, where
    // location shifts hide.
    "q_bws_test" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d).select(col("event_type"), col("d"), col("y"))
      val pairs = dm.select(col("event_type").as("t1")).distinct()
        .join(dm.select(col("event_type").as("t2")).distinct(),
          col("t1") < col("t2"))
      val pooled = pairs.join(dm, col("event_type") === col("t1")
        || col("event_type") === col("t2"))
        .withColumn("r2", rank().over(Window.partitionBy("t1", "t2")
          .orderBy("y")).cast("long") * 2
          + count(lit(1)).over(Window.partitionBy("t1", "t2", "y")) - 1)
        .localCheckpoint(eager = true) // ns leg + two side legs
      val ns = pooled.groupBy("t1", "t2")
        .agg(sum(when(col("event_type") === col("t1"), 1L)
          .otherwise(0L)).as("nx"),
          sum(when(col("event_type") === col("t2"), 1L)
            .otherwise(0L)).as("ny"))
      def bStat(tag: String, own: org.apache.spark.sql.Column,
          other: org.apache.spark.sql.Column): DataFrame =
        pooled.filter(col("event_type") === col(tag))
          .withColumn("i", row_number().over(Window
            .partitionBy("t1", "t2").orderBy("r2", "d")).cast("long"))
          .join(ns, Seq("t1", "t2"))
          .withColumn("nn", own)
          .withColumn("mm", other)
          .withColumn("term",
            (col("r2") / 2.0 - (col("mm") + col("nn"))
              / col("nn").cast("double") * col("i"))
            * (col("r2") / 2.0 - (col("mm") + col("nn"))
              / col("nn").cast("double") * col("i"))
            / (col("i") / (col("nn") + 1.0)
              * (lit(1.0) - col("i") / (col("nn") + 1.0))
              * (col("mm").cast("double") * (col("mm") + col("nn"))
                / col("nn"))))
          .groupBy("t1", "t2")
          .agg((sum("term") / max("nn")).as(s"b_$tag"))
      bStat("t1", col("nx"), col("ny"))
        .join(bStat("t2", col("ny"), col("nx")), Seq("t1", "t2"))
        .join(ns, Seq("t1", "t2"))
        .select(col("t1"), col("t2"), col("nx").as("n1"),
          col("ny").as("n2"),
          round(col("b_t1"), 4).as("b_x"),
          round(col("b_t2"), 4).as("b_y"),
          round((col("b_t1") + col("b_t2")) / 2, 4).as("b_stat"))
        .orderBy("t1", "t2")
    }),

    // Distance correlation per unordered type pair on paired daily
    // means: |diff| matrices double-centered via exact long row sums
    // (a_j· and a··), dCov² = mean(A·B), dCor = dCov/√(dVarX·dVarY)
    // — zero iff independent, where Pearson only sees linearity. The
    // day² pair grid is bounded (C(|days|,2) per pair).
    "q_distance_corr" -> ((s, d) => {
      val base = paired(s, d).filter(col("t1") < col("t2"))
        .localCheckpoint(eager = true)
      val grid = base.select(col("t1"), col("t2"), col("d").as("dj"),
          col("x").as("xj"), col("yy").as("yj"))
        .join(base.select(col("t1"), col("t2"), col("d").as("dk"),
          col("x").as("xk"), col("yy").as("yk")), Seq("t1", "t2"))
        .select(col("t1"), col("t2"), col("dj"), col("dk"),
          abs(col("xj") - col("xk")).as("ax"),
          abs(col("yj") - col("yk")).as("ay"))
        .localCheckpoint(eager = true) // row-sum leg + term leg
      val rows = grid.groupBy("t1", "t2", "dj")
        .agg(sum("ax").as("rx"), sum("ay").as("ry"),
          count(lit(1)).as("n"))
      val tot = rows.groupBy("t1", "t2")
        .agg(sum("rx").as("gx"), sum("ry").as("gy"), max("n").as("n"))
      grid
        .join(broadcast(rows.select(col("t1"), col("t2"),
          col("dj"), col("rx").as("rxj"), col("ry").as("ryj"))),
          Seq("t1", "t2", "dj"))
        .join(broadcast(rows.select(col("t1"), col("t2"),
          col("dj").as("dk"), col("rx").as("rxk"),
          col("ry").as("ryk"))), Seq("t1", "t2", "dk"))
        .join(broadcast(tot), Seq("t1", "t2"))
        .withColumn("aa", col("ax")
          - col("rxj").cast("double") / col("n")
          - col("rxk").cast("double") / col("n")
          + col("gx").cast("double") / col("n") / col("n"))
        .withColumn("bb", col("ay")
          - col("ryj").cast("double") / col("n")
          - col("ryk").cast("double") / col("n")
          + col("gy").cast("double") / col("n") / col("n"))
        .groupBy("t1", "t2")
        .agg(max("n").as("n"),
          (sum(col("aa") * col("bb"))
            / (max("n").cast("double") * max("n"))).as("dcov2"),
          (sum(col("aa") * col("aa"))
            / (max("n").cast("double") * max("n"))).as("dvarx"),
          (sum(col("bb") * col("bb"))
            / (max("n").cast("double") * max("n"))).as("dvary"))
        .select(col("t1"), col("t2"), col("n").as("n_days"),
          round(sqrt(greatest(col("dcov2"), lit(0.0)))
            / sqrt(sqrt(col("dvarx") * col("dvary"))), 6).as("dcor"))
        .orderBy("t1", "t2")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_chatterjee_xi" ->
      s"""WITH $pairedCte,
        |rk AS (
        |  SELECT t1, t2, d, x, yy,
        |    CAST(COUNT(*) OVER (PARTITION BY t1, t2 ORDER BY yy
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS r,
        |    CAST(COUNT(*) OVER (PARTITION BY t1, t2 ORDER BY yy DESC
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS l
        |  FROM paired),
        |sq AS (
        |  SELECT t1, t2, r, l,
        |    lead(r) OVER (PARTITION BY t1, t2 ORDER BY x, d) AS rn,
        |    COUNT(*) OVER (PARTITION BY t1, t2) AS n
        |  FROM rk),
        |g AS (
        |  SELECT t1, t2, MAX(n) AS n,
        |    CAST(SUM(CASE WHEN rn IS NOT NULL THEN abs(rn - r)
        |      ELSE 0 END) AS BIGINT) AS sd,
        |    CAST(SUM(l * (n - l)) AS BIGINT) AS sl
        |  FROM sq GROUP BY 1, 2)
        |SELECT t1, t2, n AS n_days,
        |  ROUND(1.0 - CAST(n AS DOUBLE) * sd / (2.0 * sl), 6) AS xi
        |FROM g ORDER BY t1, t2""".stripMargin,

    "q_wasserstein" ->
      s"""WITH $pairedCte,
        |pr AS (
        |  SELECT DISTINCT a.event_type AS t1, b.event_type AS t2
        |  FROM dm a, dm b WHERE a.event_type < b.event_type),
        |vals AS (
        |  SELECT pr.t1, pr.t2, dm.y,
        |    CAST(SUM(CASE WHEN dm.event_type = pr.t1 THEN 1 ELSE 0
        |      END) AS BIGINT) AS a1,
        |    CAST(SUM(CASE WHEN dm.event_type = pr.t2 THEN 1 ELSE 0
        |      END) AS BIGINT) AS a2
        |  FROM pr JOIN dm
        |    ON dm.event_type = pr.t1 OR dm.event_type = pr.t2
        |  GROUP BY 1, 2, 3),
        |c AS (
        |  SELECT t1, t2, y,
        |    CAST(SUM(a1) OVER w AS BIGINT) AS c1,
        |    CAST(SUM(a2) OVER w AS BIGINT) AS c2,
        |    lead(y) OVER (PARTITION BY t1, t2 ORDER BY y) AS nv,
        |    CAST(SUM(a1) OVER (PARTITION BY t1, t2) AS BIGINT) AS n1,
        |    CAST(SUM(a2) OVER (PARTITION BY t1, t2) AS BIGINT) AS n2
        |  FROM vals
        |  WINDOW w AS (PARTITION BY t1, t2 ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (
        |  SELECT t1, t2, MAX(n1) AS n1, MAX(n2) AS n2,
        |    CAST(SUM(abs(c1 * n2 - c2 * n1) * (nv - y)) AS BIGINT)
        |      AS si
        |  FROM c WHERE nv IS NOT NULL GROUP BY 1, 2)
        |SELECT t1, t2, n1, n2,
        |  ROUND(si / (CAST(n1 AS DOUBLE) * n2) / 1e3, 6) AS w1
        |FROM g ORDER BY t1, t2""".stripMargin,

    "q_bws_test" ->
      s"""WITH $pairedCte,
        |pr AS (
        |  SELECT DISTINCT a.event_type AS t1, b.event_type AS t2
        |  FROM dm a, dm b WHERE a.event_type < b.event_type),
        |pooled AS (
        |  SELECT pr.t1, pr.t2, dm.event_type, dm.d, dm.y,
        |    CAST(rank() OVER (PARTITION BY pr.t1, pr.t2 ORDER BY dm.y)
        |      AS BIGINT) * 2
        |      + COUNT(*) OVER (PARTITION BY pr.t1, pr.t2, dm.y) - 1
        |      AS r2
        |  FROM pr JOIN dm
        |    ON dm.event_type = pr.t1 OR dm.event_type = pr.t2),
        |ns AS (
        |  SELECT t1, t2,
        |    CAST(SUM(CASE WHEN event_type = t1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nx,
        |    CAST(SUM(CASE WHEN event_type = t2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ny
        |  FROM pooled GROUP BY 1, 2),
        |sx AS (
        |  SELECT p.t1, p.t2, p.r2, ns.nx AS nn, ns.ny AS mm,
        |    CAST(row_number() OVER (PARTITION BY p.t1, p.t2
        |      ORDER BY p.r2, p.d) AS BIGINT) AS i
        |  FROM pooled p JOIN ns ON p.t1 = ns.t1 AND p.t2 = ns.t2
        |  WHERE p.event_type = p.t1),
        |bx AS (
        |  SELECT t1, t2,
        |    SUM((r2 / 2.0 - (mm + nn) / CAST(nn AS DOUBLE) * i)
        |      * (r2 / 2.0 - (mm + nn) / CAST(nn AS DOUBLE) * i)
        |      / (i / (nn + 1.0) * (1.0 - i / (nn + 1.0))
        |        * (CAST(mm AS DOUBLE) * (mm + nn) / nn)))
        |      / MAX(nn) AS b_t1
        |  FROM sx GROUP BY 1, 2),
        |sy AS (
        |  SELECT p.t1, p.t2, p.r2, ns.ny AS nn, ns.nx AS mm,
        |    CAST(row_number() OVER (PARTITION BY p.t1, p.t2
        |      ORDER BY p.r2, p.d) AS BIGINT) AS i
        |  FROM pooled p JOIN ns ON p.t1 = ns.t1 AND p.t2 = ns.t2
        |  WHERE p.event_type = p.t2),
        |by AS (
        |  SELECT t1, t2,
        |    SUM((r2 / 2.0 - (mm + nn) / CAST(nn AS DOUBLE) * i)
        |      * (r2 / 2.0 - (mm + nn) / CAST(nn AS DOUBLE) * i)
        |      / (i / (nn + 1.0) * (1.0 - i / (nn + 1.0))
        |        * (CAST(mm AS DOUBLE) * (mm + nn) / nn)))
        |      / MAX(nn) AS b_t2
        |  FROM sy GROUP BY 1, 2)
        |SELECT bx.t1, bx.t2, ns.nx AS n1, ns.ny AS n2,
        |  ROUND(b_t1, 4) AS b_x, ROUND(b_t2, 4) AS b_y,
        |  ROUND((b_t1 + b_t2) / 2, 4) AS b_stat
        |FROM bx JOIN by ON bx.t1 = by.t1 AND bx.t2 = by.t2
        |JOIN ns ON bx.t1 = ns.t1 AND bx.t2 = ns.t2
        |ORDER BY bx.t1, bx.t2""".stripMargin,

    "q_distance_corr" ->
      s"""WITH $pairedCte,
        |base AS (SELECT * FROM paired WHERE t1 < t2),
        |grid AS (
        |  SELECT a.t1, a.t2, a.d AS dj, b.d AS dk,
        |    abs(a.x - b.x) AS ax, abs(a.yy - b.yy) AS ay
        |  FROM base a JOIN base b
        |    ON a.t1 = b.t1 AND a.t2 = b.t2),
        |rows_ AS (
        |  SELECT t1, t2, dj, CAST(SUM(ax) AS BIGINT) AS rx,
        |    CAST(SUM(ay) AS BIGINT) AS ry,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM grid GROUP BY 1, 2, 3),
        |tot AS (
        |  SELECT t1, t2, CAST(SUM(rx) AS BIGINT) AS gx,
        |    CAST(SUM(ry) AS BIGINT) AS gy, MAX(n) AS n
        |  FROM rows_ GROUP BY 1, 2),
        |cent AS (
        |  SELECT g.t1, g.t2, tot.n,
        |    g.ax - CAST(rj.rx AS DOUBLE) / tot.n
        |      - CAST(rk.rx AS DOUBLE) / tot.n
        |      + CAST(tot.gx AS DOUBLE) / tot.n / tot.n AS aa,
        |    g.ay - CAST(rj.ry AS DOUBLE) / tot.n
        |      - CAST(rk.ry AS DOUBLE) / tot.n
        |      + CAST(tot.gy AS DOUBLE) / tot.n / tot.n AS bb
        |  FROM grid g
        |  JOIN rows_ rj ON g.t1 = rj.t1 AND g.t2 = rj.t2
        |    AND g.dj = rj.dj
        |  JOIN rows_ rk ON g.t1 = rk.t1 AND g.t2 = rk.t2
        |    AND g.dk = rk.dj
        |  JOIN tot ON g.t1 = tot.t1 AND g.t2 = tot.t2),
        |f AS (
        |  SELECT t1, t2, MAX(n) AS n,
        |    SUM(aa * bb) / (CAST(MAX(n) AS DOUBLE) * MAX(n)) AS dcov2,
        |    SUM(aa * aa) / (CAST(MAX(n) AS DOUBLE) * MAX(n)) AS dvarx,
        |    SUM(bb * bb) / (CAST(MAX(n) AS DOUBLE) * MAX(n)) AS dvary
        |  FROM cent GROUP BY 1, 2)
        |SELECT t1, t2, n AS n_days,
        |  ROUND(sqrt(GREATEST(dcov2, 0.0))
        |    / sqrt(sqrt(dvarx * dvary)), 6) AS dcor
        |FROM f ORDER BY t1, t2""".stripMargin
  )
}
