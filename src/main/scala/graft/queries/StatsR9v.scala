package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-9 wave 22 (SURVEY.md §2 B.10b): distribution alignment and
  * modern two-sample distances — quantile normalization (the batch-
  * effect fix: rank-r values replaced by the cross-type mean of r-th
  * order statistics, ×k cleared to exact longs), Cliff's delta
  * (pairwise dominance, exact), Cp/Cpk process capability against
  * stated spec limits, Cauchy-kernel MMD² (the rational kernel σ²/(σ²+Δ²) is
  * characteristic like the RBF but has NO exp — no cross-engine ulp
  * surface; per-pair values snapped to 1e9 before the exact sums), the fully-exact energy distance (no
  * transcendentals at all), and two-level binary segmentation
  * reusing the SNHT clearing per segment. Exact to the last
  * division.
  */
object StatsR9v {

  import DailyGrid.{dmCte, wo, wp}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Quantile normalization across types: rank r within type
    // (day-order tie-break), replaced by the mean of the r-th order
    // statistics across ALL types carrying that rank — Σy_r stays a
    // long, ONE division per row; only ranks present in every type
    // (stated).
    "q_quantile_normalize" -> ((s, d) => {
      val k = DailyGrid.mean(s, d).select(countDistinct("event_type"))
        .first().getLong(0)
      val ranked = DailyGrid.mean(s, d)
        .withColumn("r", row_number().over(
          Window.partitionBy("event_type").orderBy("y", "d"))
          .cast("long"))
      val refs = ranked.groupBy("r")
        .agg(count(lit(1)).as("nt"), sum("y").as("sy"))
        .filter(col("nt") === k)
      ranked.join(refs, "r")
        .select(col("event_type"), col("d"), col("r"),
          round(col("y") / 1e3, 4).as("y_raw"),
          round(col("sy").cast("double") / (col("nt") * 1000.0), 4)
            .as("y_qnorm"))
        .orderBy("event_type", "d")
    }),

    // Cliff's delta for every type pair on daily milli means:
    // δ = (#(x>y) − #(x<y))/(n₁n₂) over the bounded day² pair grid —
    // exact counts, ONE division.
    "q_cliff_delta" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d).select(col("event_type"), col("y"))
      dm.select(col("event_type").as("t1"), col("y").as("x"))
        .join(dm.select(col("event_type").as("t2"), col("y").as("yy")),
          col("t1") < col("t2"))
        .groupBy("t1", "t2")
        .agg(count(lit(1)).as("np"),
          sum(when(col("x") > col("yy"), 1L)
            .when(col("x") < col("yy"), -1L).otherwise(0L)).as("dom"))
        .select(col("t1"), col("t2"), col("np").as("n_pairs"),
          round(col("dom").cast("double") / col("np"), 4)
            .as("cliff_delta"))
        .orderBy("t1", "t2")
    }),

    // Cp/Cpk against stated spec limits LSL=0, USL=400 (value
    // units = 400000 milli): σ from the cleared sample variance,
    // identical chains.
    "q_process_capability" -> ((s, d) => {
      val usl = 400000L
      DailyGrid.mean(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("clr", col("n") * col("syy") - col("sy") * col("sy"))
        .filter(col("n") > 1 && col("clr") > 0)
        .select(col("event_type"), col("n").as("n_days"),
          round(lit(usl.toDouble)
            / (lit(6.0) * sqrt(col("clr").cast("double")
              / (col("n") * (col("n") - lit(1L))))), 4).as("cp"),
          round(least(
            lit(usl.toDouble) - col("sy").cast("double") / col("n"),
            col("sy").cast("double") / col("n"))
            / (lit(3.0) * sqrt(col("clr").cast("double")
              / (col("n") * (col("n") - lit(1L))))), 4).as("cpk"))
        .orderBy("event_type")
    }),

    // Cauchy-kernel MMD² for every type pair (σ² = 1e10 milli²,
    // stated): k(x,y) = σ²/(σ²+Δ²) is a PURE RATIONAL — unlike the
    // RBF's exp it has no libm-vs-JVM ulp surface — snapped to 1e9
    // longs before the exact sums; MMD² = Sxx/n₁² + Syy/n₂² −
    // 2Sxy/(n₁n₂) in one identical chain.
    "q_mmd_cauchy" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d).select(col("event_type"), col("y"))
      def kern(a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) =
        round(lit(1e19) / (lit(1e10)
          + (a - b).cast("double") * (a - b))).cast("long")
      val within = dm.select(col("event_type").as("t"), col("y").as("a"))
        .join(dm.select(col("event_type").as("t"), col("y").as("b")),
          "t")
        .groupBy("t")
        .agg(count(lit(1)).as("nn"), sum(kern(col("a"), col("b")))
          .as("sw"))
      val cross = dm.select(col("event_type").as("t1"), col("y").as("a"))
        .join(dm.select(col("event_type").as("t2"), col("y").as("b")),
          col("t1") < col("t2"))
        .groupBy("t1", "t2")
        .agg(count(lit(1)).as("nc"), sum(kern(col("a"), col("b")))
          .as("sx"))
      cross
        .join(within.select(col("t").as("t1"), col("sw").as("sw1"),
          col("nn").as("nn1")), "t1")
        .join(within.select(col("t").as("t2"), col("sw").as("sw2"),
          col("nn").as("nn2")), "t2")
        .select(col("t1"), col("t2"),
          round((col("sw1").cast("double") / col("nn1")
            + col("sw2").cast("double") / col("nn2")
            - lit(2.0) * col("sx") / col("nc")) / 1e9, 6)
            .as("mmd2"))
        .orderBy("t1", "t2")
    }),

    // Energy distance for every type pair — FULLY exact: E = 2·mean
    // |x−y| − mean|x−x'| − mean|y−y'| over milli longs, three
    // bounded pair sums, one chain.
    "q_energy_distance" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d).select(col("event_type"), col("y"))
      val within = dm.select(col("event_type").as("t"), col("y").as("a"))
        .join(dm.select(col("event_type").as("t"), col("y").as("b")),
          "t")
        .groupBy("t")
        .agg(count(lit(1)).as("nn"), sum(abs(col("a") - col("b")))
          .as("sw"))
      val cross = dm.select(col("event_type").as("t1"), col("y").as("a"))
        .join(dm.select(col("event_type").as("t2"), col("y").as("b")),
          col("t1") < col("t2"))
        .groupBy("t1", "t2")
        .agg(count(lit(1)).as("nc"), sum(abs(col("a") - col("b")))
          .as("sx"))
      cross
        .join(within.select(col("t").as("t1"), col("sw").as("sw1"),
          col("nn").as("nn1")), "t1")
        .join(within.select(col("t").as("t2"), col("sw").as("sw2"),
          col("nn").as("nn2")), "t2")
        .select(col("t1"), col("t2"),
          round((lit(2.0) * col("sx") / col("nc")
            - col("sw1").cast("double") / col("nn1")
            - col("sw2").cast("double") / col("nn2")) / 1e3, 4)
            .as("energy_dist"))
        .orderBy("t1", "t2")
    }),

    // Two-level binary segmentation per type: level 1 = the SNHT-
    // cleared argmax split t*, level 2 = the same statistic within
    // each side (prefix sums offset by the segment bounds — still
    // exact longs); emits up to 3 ordered changepoints per type.
    "q_binseg2" -> ((s, d) => {
      val base = DailyGrid.mean(s, d)
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("p", sum("y").over(
          wo.rowsBetween(Window.unboundedPreceding, 0)))
        .localCheckpoint(eager = true) // level-1 + level-2 legs
      def dstat(iC: org.apache.spark.sql.Column,
          pC: org.apache.spark.sql.Column,
          lo: org.apache.spark.sql.Column,
          hi: org.apache.spark.sql.Column,
          pLo: org.apache.spark.sql.Column,
          pHi: org.apache.spark.sql.Column) = {
        // cleared deviation of the prefix within [lo, hi]:
        // m = segment length, t = position in segment,
        // D = m·(P_i − P_{lo−1}) − t·(P_hi − P_{lo−1})
        val m = hi - lo + 1
        val t = iC - lo + 1
        abs((pC - pLo) * m - (pHi - pLo) * t)
      }
      val tot = base.groupBy("event_type")
        .agg(max("n").as("nn"), max("p").as("ptot"))
      val l1 = base.join(broadcast(tot), "event_type")
        .filter(col("i") < col("n"))
        .withColumn("dd", dstat(col("i"), col("p"), lit(1L), col("nn"),
          lit(0L), col("ptot")))
        .withColumn("mx", max("dd").over(wp))
        .filter(col("dd") === col("mx"))
        .groupBy("event_type")
        .agg(min("i").as("t1"))
      val withT1 = base.join(broadcast(tot), "event_type")
        .join(broadcast(l1), "event_type")
        .withColumn("pT1", max(when(col("i") === col("t1"), col("p")))
          .over(wp))
      val left = withT1.filter(col("i") < col("t1"))
        .withColumn("dd", dstat(col("i"), col("p"), lit(1L), col("t1"),
          lit(0L), col("pT1")))
        .withColumn("mx", max("dd").over(wp))
        .filter(col("dd") === col("mx"))
        .groupBy("event_type").agg(min("i").as("tl"))
      val right = withT1.filter(col("i") > col("t1")
          && col("i") < col("n"))
        .withColumn("dd", dstat(col("i"), col("p"), col("t1") + 1,
          col("nn"), col("pT1"), col("ptot")))
        .withColumn("mx", max("dd").over(wp))
        .filter(col("dd") === col("mx"))
        .groupBy("event_type").agg(min("i").as("tr"))
      l1.join(left, Seq("event_type"), "left")
        .join(right, Seq("event_type"), "left")
        .select(col("event_type"), col("tl").as("cp_left"),
          col("t1").as("cp_main"), col("tr").as("cp_right"))
        .orderBy("event_type")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical rank references
    "q_quantile_normalize" ->
      s"""WITH $dmCte,
        |kk AS (SELECT COUNT(DISTINCT event_type) AS k FROM dm),
        |rk AS (
        |  SELECT event_type, d, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY y, d) AS BIGINT) AS r
        |  FROM dm),
        |rf AS (
        |  SELECT r, CAST(COUNT(*) AS BIGINT) AS nt,
        |    CAST(SUM(y) AS BIGINT) AS sy
        |  FROM rk, kk GROUP BY r, kk.k HAVING COUNT(*) = kk.k)
        |SELECT rk.event_type, rk.d, rk.r,
        |  ROUND(rk.y / 1e3, 4) AS y_raw,
        |  ROUND(CAST(rf.sy AS DOUBLE) / (rf.nt * 1000.0), 4)
        |    AS y_qnorm
        |FROM rk JOIN rf ON rk.r = rf.r
        |ORDER BY event_type, d""".stripMargin,

    // identical dominance counts
    "q_cliff_delta" ->
      s"""WITH $dmCte
        |SELECT a.event_type AS t1, b.event_type AS t2,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  ROUND(CAST(SUM(CASE WHEN a.y > b.y THEN 1
        |    WHEN a.y < b.y THEN -1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 4) AS cliff_delta
        |FROM dm a JOIN dm b ON a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY t1, t2""".stripMargin,

    // identical cleared variance and chains
    "q_process_capability" ->
      s"""WITH $dmCte,
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM dm GROUP BY 1),
        |cl AS (
        |  SELECT event_type, n, sy, n * syy - sy * sy AS clr
        |  FROM ag WHERE n > 1 AND n * syy - sy * sy > 0)
        |SELECT event_type, n AS n_days,
        |  ROUND(400000.0 / (6.0 * sqrt(CAST(clr AS DOUBLE)
        |    / (n * (n - 1)))), 4) AS cp,
        |  ROUND(LEAST(400000.0 - CAST(sy AS DOUBLE) / n,
        |    CAST(sy AS DOUBLE) / n)
        |    / (3.0 * sqrt(CAST(clr AS DOUBLE) / (n * (n - 1)))), 4)
        |    AS cpk
        |FROM cl ORDER BY event_type""".stripMargin,

    // identical snapped rational kernels and chain
    "q_mmd_cauchy" ->
      s"""WITH $dmCte,
        |wn AS (
        |  SELECT a.event_type AS t, CAST(COUNT(*) AS BIGINT) AS nn,
        |    CAST(SUM(CAST(ROUND(1e19 / (1e10
        |      + CAST((a.y - b.y) AS DOUBLE) * (a.y - b.y)))
        |      AS BIGINT)) AS BIGINT) AS sw
        |  FROM dm a JOIN dm b ON a.event_type = b.event_type
        |  GROUP BY 1),
        |cr AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2,
        |    CAST(COUNT(*) AS BIGINT) AS nc,
        |    CAST(SUM(CAST(ROUND(1e19 / (1e10
        |      + CAST((a.y - b.y) AS DOUBLE) * (a.y - b.y)))
        |      AS BIGINT)) AS BIGINT) AS sx
        |  FROM dm a JOIN dm b ON a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT cr.t1, cr.t2,
        |  ROUND((CAST(w1.sw AS DOUBLE) / w1.nn
        |    + CAST(w2.sw AS DOUBLE) / w2.nn
        |    - 2.0 * cr.sx / cr.nc) / 1e9, 6) AS mmd2
        |FROM cr
        |JOIN wn w1 ON cr.t1 = w1.t
        |JOIN wn w2 ON cr.t2 = w2.t
        |ORDER BY t1, t2""".stripMargin,

    // identical exact pair sums
    "q_energy_distance" ->
      s"""WITH $dmCte,
        |wn AS (
        |  SELECT a.event_type AS t, CAST(COUNT(*) AS BIGINT) AS nn,
        |    CAST(SUM(ABS(a.y - b.y)) AS BIGINT) AS sw
        |  FROM dm a JOIN dm b ON a.event_type = b.event_type
        |  GROUP BY 1),
        |cr AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2,
        |    CAST(COUNT(*) AS BIGINT) AS nc,
        |    CAST(SUM(ABS(a.y - b.y)) AS BIGINT) AS sx
        |  FROM dm a JOIN dm b ON a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT cr.t1, cr.t2,
        |  ROUND((2.0 * cr.sx / cr.nc
        |    - CAST(w1.sw AS DOUBLE) / w1.nn
        |    - CAST(w2.sw AS DOUBLE) / w2.nn) / 1e3, 4)
        |    AS energy_dist
        |FROM cr
        |JOIN wn w1 ON cr.t1 = w1.t
        |JOIN wn w2 ON cr.t2 = w2.t
        |ORDER BY t1, t2""".stripMargin,

    // identical cleared per-segment deviations, three argmax picks
    "q_binseg2" ->
      s"""WITH $dmCte,
        |base AS (
        |  SELECT event_type, d, y,
        |    CAST(row_number() OVER wd AS BIGINT) AS i,
        |    CAST(COUNT(*) OVER wp AS BIGINT) AS n,
        |    CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS p
        |  FROM dm
        |  WINDOW wd AS (PARTITION BY event_type ORDER BY d),
        |    wp AS (PARTITION BY event_type)),
        |tt AS (
        |  SELECT event_type, MAX(n) AS nn, MAX(p) AS ptot
        |  FROM base GROUP BY 1),
        |l1d AS (
        |  SELECT base.event_type, base.i,
        |    ABS(base.p * tt.nn - tt.ptot * base.i) AS dd
        |  FROM base JOIN tt ON base.event_type = tt.event_type
        |  WHERE base.i < tt.nn),
        |l1 AS (
        |  SELECT event_type, MIN(i) AS t1 FROM (
        |    SELECT event_type, i, dd,
        |      MAX(dd) OVER (PARTITION BY event_type) AS mx
        |    FROM l1d) WHERE dd = mx GROUP BY 1),
        |pt1 AS (
        |  SELECT base.event_type, base.p AS pT1, l1.t1
        |  FROM base JOIN l1 ON base.event_type = l1.event_type
        |    AND base.i = l1.t1),
        |lf AS (
        |  SELECT event_type, MIN(i) AS tl FROM (
        |    SELECT b.event_type, b.i,
        |      ABS(b.p * p1.t1 - p1.pT1 * b.i) AS dd,
        |      MAX(ABS(b.p * p1.t1 - p1.pT1 * b.i))
        |        OVER (PARTITION BY b.event_type) AS mx
        |    FROM base b JOIN pt1 p1 ON b.event_type = p1.event_type
        |    WHERE b.i < p1.t1) WHERE dd = mx GROUP BY 1),
        |rt AS (
        |  SELECT event_type, MIN(i) AS tr FROM (
        |    SELECT b.event_type, b.i,
        |      ABS((b.p - p1.pT1) * (tt.nn - p1.t1)
        |        - (tt.ptot - p1.pT1) * (b.i - p1.t1)) AS dd,
        |      MAX(ABS((b.p - p1.pT1) * (tt.nn - p1.t1)
        |        - (tt.ptot - p1.pT1) * (b.i - p1.t1)))
        |        OVER (PARTITION BY b.event_type) AS mx
        |    FROM base b
        |    JOIN pt1 p1 ON b.event_type = p1.event_type
        |    JOIN tt ON b.event_type = tt.event_type
        |    WHERE b.i > p1.t1 AND b.i < tt.nn)
        |  WHERE dd = mx GROUP BY 1)
        |SELECT l1.event_type, lf.tl AS cp_left, l1.t1 AS cp_main,
        |  rt.tr AS cp_right
        |FROM l1
        |LEFT JOIN lf ON l1.event_type = lf.event_type
        |LEFT JOIN rt ON l1.event_type = rt.event_type
        |ORDER BY l1.event_type""".stripMargin
  )
}
