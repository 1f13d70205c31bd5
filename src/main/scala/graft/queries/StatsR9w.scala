package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-9 wave 23 (SURVEY.md §2 B.10b): the signal-complexity
  * family over the daily grid — unnormalized Haar energy split
  * (exact ±half-sums), the variogram at lags {1,2,3,7}, permutation
  * entropy over ordinal 3-patterns (position tie-break, 1e9-snapped
  * cells), sample entropy (integer tolerance keeps the template
  * counts EXACT; one ln), the horizon-bounded visibility graph
  * (the clearance test (y_k−y_i)(j−i) < (y_j−y_i)(k−i) stays in
  * longs), and Poincaré SD1/SD2. Exact to the last division.
  */
object StatsR9w {

  import DailyGrid.{dmCte, wo, wp}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Unnormalized 1-level Haar split: disjoint day pairs
    // (y₂ₖ₋₁, y₂ₖ) → a = y₁+y₂, dd = y₁−y₂ (the √2 dropped — it
    // cancels in the ENERGY SHARE, stated); detail share =
    // Σd²/(Σa²+Σd²) exact to one division.
    "q_haar_energy" -> ((s, d) => {
      DailyGrid.mean(s, d)
        .withColumn("k", expr("(i + 1) div 2"))
        .groupBy("event_type", "k")
        .agg(count(lit(1)).as("m"),
          sum(when(col("i") % 2 === 1, col("y")).otherwise(-col("y")))
            .as("dd"),
          sum("y").as("a"))
        .filter(col("m") === 2)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("a") * col("a")).as("ea"),
          sum(col("dd") * col("dd")).as("ed"))
        .filter(col("ea") + col("ed") > 0)
        .select(col("event_type"), col("n_pairs"),
          round(col("ed").cast("double") / (col("ea") + col("ed")), 6)
            .as("detail_energy_share"))
        .orderBy("event_type")
    }),

    // Variogram at lags {1,2,3,7}: γ(h) = Σ(y_{i+h}−y_i)²/(2n_h) —
    // exact squared-difference sums per lag via a bounded
    // day-grid self-join, one division per (type, lag) row.
    "q_variogram" -> ((s, d) => {
      import s.implicits._
      val base = DailyGrid.mean(s, d)
      val lags = Seq(1L, 2L, 3L, 7L).toDF("h")
      base.crossJoin(broadcast(lags))
        .join(base.select(col("event_type").as("et2"),
          col("i").as("j"), col("y").as("y2")),
          col("et2") === col("event_type")
            && col("j") === col("i") + col("h"))
        .groupBy("event_type", "h")
        .agg(count(lit(1)).as("n_h"),
          sum((col("y2") - col("y")) * (col("y2") - col("y")))
            .as("ss"))
        .filter(col("n_h") > 0)
        .select(col("event_type"), col("h").as("lag"), col("n_h"),
          round(col("ss").cast("double")
            / (col("n_h") * 2.0 * 1e6), 6).as("gamma"))
        .orderBy("event_type", "lag")
    }),

    // Permutation entropy over ordinal 3-patterns (ties broken by
    // POSITION — lexicographic on (value, index), stated): pattern =
    // the rank order of (y_i, y_{i+1}, y_{i+2}); per-pattern
    // −p·ln p cells snapped to 1e9 before the exact sum.
    "q_permutation_entropy" -> ((s, d) => {
      val pat = DailyGrid.mean(s, d)
        .withColumn("y2", lead("y", 1).over(wo))
        .withColumn("y3", lead("y", 2).over(wo))
        .filter(col("y3").isNotNull)
        // rank of each element among the three with index tie-break:
        // smaller value first; on equal values the EARLIER index wins
        .withColumn("r1",
          lit(1L)
            + when(col("y2") < col("y"), 1L).otherwise(0L)
            + when(col("y3") < col("y"), 1L).otherwise(0L))
        .withColumn("r2",
          lit(1L)
            + when(col("y") <= col("y2"), 1L).otherwise(0L)
            + when(col("y3") < col("y2"), 1L).otherwise(0L))
        .withColumn("r3",
          lit(1L)
            + when(col("y") <= col("y3"), 1L).otherwise(0L)
            + when(col("y2") <= col("y3"), 1L).otherwise(0L))
        .withColumn("pat", col("r1") * 100 + col("r2") * 10 + col("r3"))
      val cells = pat.groupBy("event_type", "pat")
        .agg(count(lit(1)).as("c"))
        .withColumn("n", sum("c").over(wp))
        .select(col("event_type"), col("n"),
          round(col("c").cast("double") / col("n")
            * log(col("c").cast("double") / col("n")) * -1e9)
            .cast("long").as("h_u"))
      cells.groupBy("event_type")
        .agg(max("n").as("n_windows"), count(lit(1)).as("n_patterns"),
          round(sum("h_u") / 1e9, 6).as("perm_entropy"))
        .orderBy("event_type")
    }),

    // Sample entropy (m=2, r=20000 milli ~ 0.2 sd, stated): template-match
    // counts B (length-2) and A (length-3) with the Chebyshev
    // distance on exact longs — no floats until the final −ln(A/B).
    "q_sample_entropy" -> ((s, d) => {
      val base = DailyGrid.mean(s, d)
        .withColumn("y2", lead("y", 1).over(
          Window.partitionBy("event_type").orderBy("i")))
        .withColumn("y3", lead("y", 2).over(
          Window.partitionBy("event_type").orderBy("i")))
        .localCheckpoint(eager = true)
      val t2 = base.filter(col("y2").isNotNull)
        .select(col("event_type"), col("i"), col("y"), col("y2"))
      val t3 = base.filter(col("y3").isNotNull)
        .select(col("event_type"), col("i"), col("y"), col("y2"),
          col("y3"))
      val b = t2.join(t2.select(col("event_type").as("et2"),
          col("i").as("j"), col("y").as("z1"), col("y2").as("z2")),
          col("et2") === col("event_type") && col("j") > col("i"))
        .filter(abs(col("y") - col("z1")) <= 20000
          && abs(col("y2") - col("z2")) <= 20000)
        .groupBy("event_type").agg(count(lit(1)).as("b"))
      val a = t3.join(t3.select(col("event_type").as("et2"),
          col("i").as("j"), col("y").as("z1"), col("y2").as("z2"),
          col("y3").as("z3")),
          col("et2") === col("event_type") && col("j") > col("i"))
        .filter(abs(col("y") - col("z1")) <= 20000
          && abs(col("y2") - col("z2")) <= 20000
          && abs(col("y3") - col("z3")) <= 20000)
        .groupBy("event_type").agg(count(lit(1)).as("a"))
      b.join(a, "event_type")
        .filter(col("a") > 0 && col("b") > 0)
        .select(col("event_type"), col("b").as("n_b"), col("a").as("n_a"),
          round(-log(col("a").cast("double") / col("b")), 4)
            .as("sampen"))
        .orderBy("event_type")
    }),

    // Horizon-bounded natural visibility graph (lag ≤ 20, stated):
    // i sees j iff every k between clears the line — the test
    // (y_k−y_i)(j−i) < (y_j−y_i)(k−i) stays in exact longs; emits
    // per-type node/edge counts and mean degree.
    "q_visibility_graph" -> ((s, d) => {
      val base = DailyGrid.mean(s, d)
      val cand = base.join(base.select(col("event_type").as("et2"),
          col("i").as("j"), col("y").as("yj")),
          col("et2") === col("event_type") && col("j") > col("i")
            && col("j") <= col("i") + 20)
      val mid = base.select(col("event_type").as("et3"),
        col("i").as("k"), col("y").as("yk"))
      val blocked = cand.join(mid, col("et3") === col("event_type")
          && col("k") > col("i") && col("k") < col("j"))
        .filter((col("yk") - col("y")) * (col("j") - col("i"))
          >= (col("yj") - col("y")) * (col("k") - col("i")))
        .select("event_type", "i", "j").distinct()
      val edges = cand.select("event_type", "i", "j")
        .join(blocked, Seq("event_type", "i", "j"), "left_anti")
      val nNodes = base.groupBy("event_type")
        .agg(count(lit(1)).as("n_nodes"))
      edges.groupBy("event_type").agg(count(lit(1)).as("n_edges"))
        .join(nNodes, "event_type")
        .select(col("event_type"), col("n_nodes"), col("n_edges"),
          round(col("n_edges") * 2.0 / col("n_nodes"), 4)
            .as("mean_degree"))
        .orderBy("event_type")
    }),

    // Poincaré plot descriptors from successive pairs: 2·SD1² =
    // Var(Δ) and 2·SD2² = 4·Var(y) − Var(Δ) (sample variances from
    // cleared sums, stated convention); SD1/SD2 in value units.
    "q_poincare" -> ((s, d) => {
      DailyGrid.mean(s, d)
        .withColumn("py", lag("y", 1).over(wo))
        .withColumn("dd", col("y") - col("py"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_all"), sum("y").as("sy"),
          sum(col("y") * col("y")).as("syy"),
          sum(when(col("py").isNotNull, 1L).otherwise(0L)).as("nd"),
          sum(when(col("py").isNotNull, col("dd")).otherwise(0L))
            .as("sd"),
          sum(when(col("py").isNotNull, col("dd") * col("dd"))
            .otherwise(0L)).as("sdd"))
        .withColumn("vard", (col("nd") * col("sdd")
          - col("sd") * col("sd")).cast("double")
          / (col("nd") * (col("nd") - lit(1L))))
        .withColumn("vary", (col("n_all") * col("syy")
          - col("sy") * col("sy")).cast("double")
          / (col("n_all") * (col("n_all") - lit(1L))))
        .filter(col("nd") > 1 && col("n_all") > 1
          && col("vard") > 0
          && lit(4.0) * col("vary") > col("vard"))
        .select(col("event_type"), col("nd").as("n_diffs"),
          round(sqrt(col("vard") / 2) / 1e3, 4).as("sd1"),
          round(sqrt((lit(4.0) * col("vary") - col("vard")) / 2)
            / 1e3, 4).as("sd2"))
        .orderBy("event_type")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical disjoint pairs and energy split
    "q_haar_energy" ->
      s"""WITH $dmCte,
        |ix AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY d) AS BIGINT) AS i
        |  FROM dm),
        |pr AS (
        |  SELECT event_type, (i + 1) // 2 AS k,
        |    CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM(CASE WHEN i % 2 = 1 THEN y ELSE -y END)
        |      AS BIGINT) AS dd,
        |    CAST(SUM(y) AS BIGINT) AS a
        |  FROM ix GROUP BY 1, 2),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(a * a) AS BIGINT) AS ea,
        |    CAST(SUM(dd * dd) AS BIGINT) AS ed
        |  FROM pr WHERE m = 2 GROUP BY 1)
        |SELECT event_type, n_pairs,
        |  ROUND(CAST(ed AS DOUBLE) / (ea + ed), 6)
        |    AS detail_energy_share
        |FROM ag WHERE ea + ed > 0 ORDER BY event_type""".stripMargin,

    // identical lag joins
    "q_variogram" ->
      s"""WITH $dmCte,
        |ix AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY d) AS BIGINT) AS i
        |  FROM dm),
        |lg AS (SELECT unnest([1, 2, 3, 7]) AS h),
        |j AS (
        |  SELECT a.event_type, CAST(lg.h AS BIGINT) AS lag,
        |    CAST(COUNT(*) AS BIGINT) AS n_h,
        |    CAST(SUM((b.y - a.y) * (b.y - a.y)) AS BIGINT) AS ss
        |  FROM ix a
        |  CROSS JOIN lg
        |  JOIN ix b ON b.event_type = a.event_type
        |    AND b.i = a.i + lg.h
        |  GROUP BY 1, 2)
        |SELECT event_type, lag, n_h,
        |  ROUND(CAST(ss AS DOUBLE) / (n_h * 2.0 * 1e6), 6) AS gamma
        |FROM j WHERE n_h > 0 ORDER BY event_type, lag""".stripMargin,

    // identical rank construction and snapped cells
    "q_permutation_entropy" ->
      s"""WITH $dmCte,
        |tr AS (
        |  SELECT event_type, y,
        |    lead(y, 1) OVER w AS y2, lead(y, 2) OVER w AS y3
        |  FROM dm
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |pt AS (
        |  SELECT event_type,
        |    (1 + CASE WHEN y2 < y THEN 1 ELSE 0 END
        |       + CASE WHEN y3 < y THEN 1 ELSE 0 END) * 100
        |    + (1 + CASE WHEN y <= y2 THEN 1 ELSE 0 END
        |       + CASE WHEN y3 < y2 THEN 1 ELSE 0 END) * 10
        |    + (1 + CASE WHEN y <= y3 THEN 1 ELSE 0 END
        |       + CASE WHEN y2 <= y3 THEN 1 ELSE 0 END) AS pat
        |  FROM tr WHERE y3 IS NOT NULL),
        |cl AS (
        |  SELECT event_type, pat, CAST(COUNT(*) AS BIGINT) AS c,
        |    CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type)
        |      AS BIGINT) AS n
        |  FROM pt GROUP BY 1, 2),
        |hc AS (
        |  SELECT event_type, n,
        |    CAST(ROUND(CAST(c AS DOUBLE) / n
        |      * ln(CAST(c AS DOUBLE) / n) * -1e9) AS BIGINT) AS h_u
        |  FROM cl)
        |SELECT event_type, MAX(n) AS n_windows,
        |  CAST(COUNT(*) AS BIGINT) AS n_patterns,
        |  ROUND(CAST(SUM(h_u) AS BIGINT) / 1e9, 6) AS perm_entropy
        |FROM hc GROUP BY 1 ORDER BY event_type""".stripMargin,

    // identical exact template counts
    "q_sample_entropy" ->
      s"""WITH $dmCte,
        |ix AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER w AS BIGINT) AS i,
        |    lead(y, 1) OVER w AS y2, lead(y, 2) OVER w AS y3
        |  FROM dm
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |b AS (
        |  SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS b
        |  FROM ix a JOIN ix bb ON bb.event_type = a.event_type
        |    AND bb.i > a.i
        |  WHERE a.y2 IS NOT NULL AND bb.y2 IS NOT NULL
        |    AND ABS(a.y - bb.y) <= 20000 AND ABS(a.y2 - bb.y2) <= 20000
        |  GROUP BY 1),
        |aa AS (
        |  SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS a
        |  FROM ix a JOIN ix bb ON bb.event_type = a.event_type
        |    AND bb.i > a.i
        |  WHERE a.y3 IS NOT NULL AND bb.y3 IS NOT NULL
        |    AND ABS(a.y - bb.y) <= 20000 AND ABS(a.y2 - bb.y2) <= 20000
        |    AND ABS(a.y3 - bb.y3) <= 20000
        |  GROUP BY 1)
        |SELECT b.event_type, b.b AS n_b, aa.a AS n_a,
        |  ROUND(-ln(CAST(aa.a AS DOUBLE) / b.b), 4) AS sampen
        |FROM b JOIN aa ON b.event_type = aa.event_type
        |WHERE aa.a > 0 AND b.b > 0 ORDER BY b.event_type""".stripMargin,

    // identical integer clearance test
    "q_visibility_graph" ->
      s"""WITH $dmCte,
        |ix AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY d) AS BIGINT) AS i
        |  FROM dm),
        |cand AS (
        |  SELECT a.event_type, a.i, b.i AS j, a.y, b.y AS yj
        |  FROM ix a JOIN ix b ON b.event_type = a.event_type
        |    AND b.i > a.i AND b.i <= a.i + 20),
        |blk AS (
        |  SELECT DISTINCT cand.event_type, cand.i, cand.j
        |  FROM cand JOIN ix m ON m.event_type = cand.event_type
        |    AND m.i > cand.i AND m.i < cand.j
        |  WHERE (m.y - cand.y) * (cand.j - cand.i)
        |    >= (cand.yj - cand.y) * (m.i - cand.i)),
        |ed AS (
        |  SELECT cand.event_type, CAST(COUNT(*) AS BIGINT) AS n_edges
        |  FROM cand
        |  LEFT JOIN blk ON cand.event_type = blk.event_type
        |    AND cand.i = blk.i AND cand.j = blk.j
        |  WHERE blk.i IS NULL
        |  GROUP BY 1),
        |nd AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |  FROM ix GROUP BY 1)
        |SELECT nd.event_type, nd.n_nodes, ed.n_edges,
        |  ROUND(ed.n_edges * 2.0 / nd.n_nodes, 4) AS mean_degree
        |FROM ed JOIN nd ON ed.event_type = nd.event_type
        |ORDER BY nd.event_type""".stripMargin,

    // identical cleared variances and chains
    "q_poincare" ->
      s"""WITH $dmCte,
        |lg AS (
        |  SELECT event_type, y,
        |    lag(y) OVER (PARTITION BY event_type ORDER BY d) AS py
        |  FROM dm),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_all,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(y * y) AS BIGINT) AS syy,
        |    CAST(SUM(CASE WHEN py IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nd,
        |    CAST(SUM(CASE WHEN py IS NOT NULL THEN y - py ELSE 0 END)
        |      AS BIGINT) AS sd,
        |    CAST(SUM(CASE WHEN py IS NOT NULL
        |      THEN (y - py) * (y - py) ELSE 0 END) AS BIGINT) AS sdd
        |  FROM lg GROUP BY 1),
        |vv AS (
        |  SELECT event_type, nd,
        |    CAST(nd * sdd - sd * sd AS DOUBLE)
        |      / (nd * (nd - 1)) AS vard,
        |    CAST(n_all * syy - sy * sy AS DOUBLE)
        |      / (n_all * (n_all - 1)) AS vary,
        |    n_all
        |  FROM ag WHERE nd > 1 AND n_all > 1)
        |SELECT event_type, nd AS n_diffs,
        |  ROUND(sqrt(vard / 2) / 1e3, 4) AS sd1,
        |  ROUND(sqrt((4.0 * vary - vard) / 2) / 1e3, 4) AS sd2
        |FROM vv WHERE vard > 0 AND 4.0 * vary > vard
        |ORDER BY event_type""".stripMargin
  )
}
