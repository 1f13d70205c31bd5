package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Round-10 wave 20 (SURVEY.md §2 B.10b): group-sequential
  * O'Brien-Fleming monitoring, quantile treatment effects, exact
  * two-feature Shapley attribution, and banded DTW distances via the
  * codegen'd `dtw_dist` Catalyst expression.
  *
  * House discipline: look-level moments are exact milli sums;
  * quantiles are value-at-index selections; Shapley values come from
  * the exact 2^2 coalition table; DTW costs are exact longs end to
  * end (expr/DtwDist.scala — the LcsCore codegen posture).
  */
object StatsR10s {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // O'Brien-Fleming group-sequential monitor: 4 equally-spaced
    // looks over the day grid, Welch z of even-vs-odd user milli
    // means at each look, boundary 2.024·√(4/k) (the classical OBF
    // shape at overall α≈0.05) — the "peek 4 times safely" answer to
    // q_ab_peeking's inflation demo.
    "q_obrien_fleming" -> ((s, d) => {
      val days = Tables.events(s, d)
        .select(to_date(col("ts")).as("day")).distinct()
        // bounded grain: one row per distinct day
        .withColumn("dr", row_number().over(Window.orderBy("day"))
          .cast("long"))
        .withColumn("nd", count(lit(1)).over())
      val looks = s.range(1, 5).select(col("id").as("look"))
      val ev = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"),
          (pmod(col("user_id"), lit(2)) === 0).as("tr"),
          floor(col("value") * 1e3).cast("long").as("vm"))
        .join(broadcast(days), "day")
        .crossJoin(broadcast(looks))
        .filter(col("dr") * 4 <= col("look") * col("nd"))
      ev.groupBy("look")
        .agg(
          sum(when(col("tr"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("tr"), col("vm")).otherwise(0L)).as("s1"),
          sum(when(col("tr"), col("vm") * col("vm")).otherwise(0L))
            .as("q1"),
          sum(when(!col("tr"), 1L).otherwise(0L)).as("n0"),
          sum(when(!col("tr"), col("vm")).otherwise(0L)).as("s0"),
          sum(when(!col("tr"), col("vm") * col("vm")).otherwise(0L))
            .as("q0"))
        .withColumn("v1", (col("n1").cast("double") * col("q1")
          - col("s1").cast("double") * col("s1"))
          / col("n1") / (col("n1") - 1))
        .withColumn("v0", (col("n0").cast("double") * col("q0")
          - col("s0").cast("double") * col("s0"))
          / col("n0") / (col("n0") - 1))
        .withColumn("z", (col("s1").cast("double") / col("n1")
          - col("s0").cast("double") / col("n0"))
          / sqrt(col("v1") / col("n1") + col("v0") / col("n0")))
        .withColumn("bound", lit(2.024)
          * sqrt(lit(4.0) / col("look")))
        .select(col("look"), col("n1"), col("n0"),
          round(col("z"), 4).as("z"),
          round(col("bound"), 4).as("obf_bound"),
          when(abs(col("z")) > col("bound"), 1L).otherwise(0L)
            .as("crossed"))
        .orderBy("look")
    }),

    // Quantile treatment effects at deciles 1..9 (even-vs-odd user
    // split on exact centi values): type-1 quantiles as
    // value-at-index picks (i = ceil(q·n)), QTE = the per-decile
    // difference — where the mean-only ATT hides distributional
    // shifts.
    "q_qte_deciles" -> ((s, d) => {
      val w = Window.partitionBy("tr").orderBy("vc", "event_id")
      val ranked = Tables.events(s, d)
        .select((pmod(col("user_id"), lit(2)) === 0).as("tr"),
          round(col("value") * 100).cast("long").as("vc"),
          col("event_id"))
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("tr")))
        .localCheckpoint(eager = true) // 9 decile legs ride one frame
      val decs = s.range(1, 10).select(col("id").as("dec"))
      ranked.crossJoin(broadcast(decs))
        .filter(col("i") === expr("CAST(ceil(dec * n / 10.0) AS BIGINT)"))
        .groupBy("dec")
        .agg(
          max(when(col("tr"), col("vc"))).as("qt"),
          max(when(!col("tr"), col("vc"))).as("qc"))
        .select(col("dec").as("decile"),
          round(col("qt") / 100.0, 2).as("q_treat"),
          round(col("qc") / 100.0, 2).as("q_ctrl"),
          round((col("qt") - col("qc")) / 100.0, 2).as("qte"))
        .orderBy("decile")
    }),

    // Exact two-feature Shapley attribution of the purchase rate
    // (features: high value, high props.k): the 2² coalition table
    // from exact counts, φ_A = ½[(v(A)−v(∅)) + (v(AB)−v(B))],
    // interaction = v(AB)−v(A)−v(B)+v(∅) — exact by enumeration, the
    // k=2 case of the estimator q_shapley_attrib samples.
    "q_shapley_2f" -> ((s, d) => {
      val t = Tables.events(s, d)
        .select((col("value") > 100).as("fa"),
          (get_json_object(col("props"), "$.k").cast("int") > 50)
            .as("fb"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("y"))
      t.agg(
          (sum("y").cast("double") / count(lit(1))).as("v0"),
          (sum(when(col("fa"), col("y")).otherwise(0L)).cast("double")
            / sum(when(col("fa"), 1L).otherwise(0L))).as("va"),
          (sum(when(col("fb"), col("y")).otherwise(0L)).cast("double")
            / sum(when(col("fb"), 1L).otherwise(0L))).as("vb"),
          (sum(when(col("fa") && col("fb"), col("y")).otherwise(0L))
            .cast("double")
            / sum(when(col("fa") && col("fb"), 1L).otherwise(0L)))
            .as("vab"))
        .select(round(col("v0"), 6).as("base_rate"),
          round(col("va"), 6).as("rate_a"),
          round(col("vb"), 6).as("rate_b"),
          round(col("vab"), 6).as("rate_ab"),
          round((col("va") - col("v0") + col("vab") - col("vb")) / 2, 6)
            .as("phi_a"),
          round((col("vb") - col("v0") + col("vab") - col("va")) / 2, 6)
            .as("phi_b"),
          round(col("vab") - col("va") - col("vb") + col("v0"), 6)
            .as("interaction"))
    }),

    // Banded DTW distance between every type pair's daily milli-mean
    // series (Sakoe-Chiba w=10) via the codegen'd dtw_dist Catalyst
    // expression — EXACT long costs end to end; the elastic
    // similarity a lockstep Euclidean misses under phase shift.
    // OMIT: the O(n·m) DP has no DuckDB-SQL equivalent short of a
    // quadratic recursive CTE; pinned by the R10sOpsSpec fold.
    "q_dtw_pairs" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val series = DailyGrid.mean(s, d)
        .groupBy("event_type")
        .agg(array_agg(struct(col("d"), col("y"))).as("rows"))
        .select(col("event_type"),
          expr("transform(array_sort(rows), r -> r.y)").as("ys"))
        .localCheckpoint(eager = true) // two pair legs
      series.select(col("event_type").as("t1"), col("ys").as("y1"))
        .join(series.select(col("event_type").as("t2"),
          col("ys").as("y2")), col("t1") < col("t2"))
        .select(col("t1"), col("t2"),
          size(col("y1")).as("n1"), size(col("y2")).as("n2"),
          expr("dtw_dist(y1, y2)").as("dtw_milli"))
        // −1 = the undefined (empty-series) sentinel — surface a null
        // per-step ratio, never a negative "distance"
        .withColumn("dtw_per_step",
          when(col("dtw_milli") < 0, lit(null))
            .otherwise(round(col("dtw_milli") / 1e3
              / (col("n1") + col("n2")).cast("double"), 4)))
        .orderBy("t1", "t2")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_obrien_fleming" ->
      """WITH days AS (
        |  SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT)
        |      AS dr,
        |    COUNT(*) OVER () AS nd
        |  FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)),
        |ev AS (
        |  SELECT l.look, user_id % 2 = 0 AS tr,
        |    CAST(FLOOR(value * 1000) AS BIGINT) AS vm
        |  FROM events e
        |  JOIN days ON CAST(e.ts AS DATE) = days.day
        |  CROSS JOIN (SELECT CAST(unnest([1, 2, 3, 4]) AS BIGINT)
        |    AS look) l
        |  WHERE days.dr * 4 <= l.look * days.nd),
        |g AS (
        |  SELECT look,
        |    CAST(SUM(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN tr THEN vm ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(SUM(CASE WHEN tr THEN vm * vm ELSE 0 END) AS BIGINT)
        |      AS q1,
        |    CAST(SUM(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(SUM(CASE WHEN NOT tr THEN vm ELSE 0 END) AS BIGINT)
        |      AS s0,
        |    CAST(SUM(CASE WHEN NOT tr THEN vm * vm ELSE 0 END)
        |      AS BIGINT) AS q0
        |  FROM ev GROUP BY 1),
        |f AS (
        |  SELECT look, n1, n0,
        |    (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
        |    / sqrt(((CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
        |        / n1 / (n1 - 1)) / n1
        |      + ((CAST(n0 AS DOUBLE) * q0 - CAST(s0 AS DOUBLE) * s0)
        |        / n0 / (n0 - 1)) / n0) AS z,
        |    2.024 * sqrt(4.0 / look) AS bound
        |  FROM g)
        |SELECT look, n1, n0,
        |  ROUND(z, 4) AS z,
        |  ROUND(bound, 4) AS obf_bound,
        |  CAST(CASE WHEN abs(z) > bound THEN 1 ELSE 0 END AS BIGINT)
        |    AS crossed
        |FROM f ORDER BY look""".stripMargin,

    "q_qte_deciles" ->
      """WITH r AS (
        |  SELECT user_id % 2 = 0 AS tr,
        |    CAST(ROUND(value * 100) AS BIGINT) AS vc,
        |    CAST(row_number() OVER (PARTITION BY user_id % 2 = 0
        |      ORDER BY CAST(ROUND(value * 100) AS BIGINT), event_id)
        |      AS BIGINT) AS i,
        |    COUNT(*) OVER (PARTITION BY user_id % 2 = 0) AS n
        |  FROM events),
        |p AS (
        |  SELECT d.dec, tr, vc
        |  FROM r CROSS JOIN
        |    (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS dec) d
        |  WHERE i = CAST(CEIL(d.dec * n / 10.0) AS BIGINT)),
        |g AS (
        |  SELECT dec,
        |    MAX(CASE WHEN tr THEN vc END) AS qt,
        |    MAX(CASE WHEN NOT tr THEN vc END) AS qc
        |  FROM p GROUP BY 1)
        |SELECT CAST(dec AS BIGINT) AS decile,
        |  ROUND(qt / 100.0, 2) AS q_treat,
        |  ROUND(qc / 100.0, 2) AS q_ctrl,
        |  ROUND((qt - qc) / 100.0, 2) AS qte
        |FROM g ORDER BY decile""".stripMargin,

    "q_shapley_2f" ->
      """WITH t AS (
        |  SELECT value > 100 AS fa,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
        |      AS fb,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |g AS (
        |  SELECT
        |    CAST(SUM(y) AS DOUBLE) / COUNT(*) AS v0,
        |    CAST(SUM(CASE WHEN fa THEN y ELSE 0 END) AS DOUBLE)
        |      / SUM(CASE WHEN fa THEN 1 ELSE 0 END) AS va,
        |    CAST(SUM(CASE WHEN fb THEN y ELSE 0 END) AS DOUBLE)
        |      / SUM(CASE WHEN fb THEN 1 ELSE 0 END) AS vb,
        |    CAST(SUM(CASE WHEN fa AND fb THEN y ELSE 0 END) AS DOUBLE)
        |      / SUM(CASE WHEN fa AND fb THEN 1 ELSE 0 END) AS vab
        |  FROM t)
        |SELECT ROUND(v0, 6) AS base_rate,
        |  ROUND(va, 6) AS rate_a, ROUND(vb, 6) AS rate_b,
        |  ROUND(vab, 6) AS rate_ab,
        |  ROUND((va - v0 + vab - vb) / 2, 6) AS phi_a,
        |  ROUND((vb - v0 + vab - va) / 2, 6) AS phi_b,
        |  ROUND(vab - va - vb + v0, 6) AS interaction
        |FROM g""".stripMargin
  )
}
