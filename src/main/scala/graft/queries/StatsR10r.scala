package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 wave 19 (SURVEY.md §2 B.10/B.10b): AR(2) Yule-Walker fit
  * and the mutual-kNN diagnostic on the shared neighbor ranking.
  *
  * House discipline: autocovariances assemble from exact long
  * cross-products of µ-snapped returns (one double chain per type);
  * the mutual-kNN pass is a self-join of the memoized rankedTop10
  * sample — no new pair scan.
  */
object StatsR10r {

  import DailyGrid.wo

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // AR(2) via Yule-Walker per type on µ-snapped daily returns:
    // r1, r2 from exact cross-product sums (full-series mean),
    // φ1 = r1(1−r2)/(1−r1²), φ2 = (r2−r1²)/(1−r1²), innovation
    // variance ratio 1 − φ1r1 − φ2r2 — the two-lag memory q_ar1_fit
    // cannot see.
    "q_ar2_yw" -> ((s, d) => {
      DailyGrid.ret(s, d)
        .withColumn("x1", lead("r_u", 1).over(wo))
        .withColumn("x2", lead("r_u", 2).over(wo))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("r_u").as("ss"),
          sum(col("r_u") * col("r_u")).as("s2"),
          sum(when(col("x1").isNotNull,
            col("r_u") * col("x1")).otherwise(0L)).as("a1"),
          sum(when(col("x1").isNotNull, col("r_u")).otherwise(0L))
            .as("b1"),
          sum(when(col("x1").isNotNull, col("x1")).otherwise(0L))
            .as("c1"),
          sum(when(col("x1").isNotNull, 1L).otherwise(0L)).as("n1"),
          sum(when(col("x2").isNotNull,
            col("r_u") * col("x2")).otherwise(0L)).as("a2"),
          sum(when(col("x2").isNotNull, col("r_u")).otherwise(0L))
            .as("b2"),
          sum(when(col("x2").isNotNull, col("x2")).otherwise(0L))
            .as("c2"),
          sum(when(col("x2").isNotNull, 1L).otherwise(0L)).as("n2"))
        .filter(col("n") >= 4)
        .withColumn("xb", col("ss").cast("double") / col("n"))
        .withColumn("c0", (col("s2")
          - col("ss").cast("double") * col("ss") / col("n")) / col("n"))
        .withColumn("cv1", (col("a1")
          - col("xb") * (col("b1") + col("c1"))
          + col("n1") * col("xb") * col("xb")) / col("n"))
        .withColumn("cv2", (col("a2")
          - col("xb") * (col("b2") + col("c2"))
          + col("n2") * col("xb") * col("xb")) / col("n"))
        .withColumn("r1", col("cv1") / col("c0"))
        .withColumn("r2", col("cv2") / col("c0"))
        .withColumn("phi1", col("r1") * (lit(1.0) - col("r2"))
          / (lit(1.0) - col("r1") * col("r1")))
        .withColumn("phi2", (col("r2") - col("r1") * col("r1"))
          / (lit(1.0) - col("r1") * col("r1")))
        .select(col("event_type"), col("n").as("n_ret"),
          round(col("r1"), 6).as("acf1"),
          round(col("r2"), 6).as("acf2"),
          round(col("phi1"), 6).as("phi1"),
          round(col("phi2"), 6).as("phi2"),
          round(lit(1.0) - col("phi1") * col("r1")
            - col("phi2") * col("r2"), 6).as("innov_var_ratio"))
        .orderBy("event_type")
    }),

    // Mutual-kNN rate within the 1-in-17 query sample: directed
    // top-10 edges whose endpoints are BOTH sample members, and the
    // pairs where each is in the other's list — low mutuality means
    // asymmetric (hub-dominated) neighborhoods, the companion readout
    // to q_hubness. Pure self-join of the memoized ranking.
    "q_mutual_knn" -> ((s, d) => {
      val edges = LlmOps.rankedTop10(s, d)
        .filter(col("b_id") % graft.operators.EvalSample.every === 0
          && col("b_id") < graft.operators.EvalSample.bound)
        .select(col("a_id"), col("b_id"))
        .localCheckpoint(eager = true) // two mutual legs
      val nSample = LlmOps.rankedTop10(s, d)
        .select("a_id").distinct().count()
      val mutual = edges
        .join(edges.select(col("a_id").as("b_id"),
          col("b_id").as("a_id")), Seq("a_id", "b_id"))
        .filter(col("a_id") < col("b_id"))
      edges.agg(count(lit(1)).as("n_within"))
        .crossJoin(broadcast(mutual.agg(count(lit(1)).as("n_mutual"))))
        .select(lit(nSample).as("n_sample"), col("n_within"),
          col("n_mutual").as("n_mutual_pairs"),
          round(col("n_mutual") * 2 / col("n_within").cast("double"), 6)
            .as("mutuality"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_ar2_yw" ->
      s"""WITH ${DailyGrid.retCte},
        |lagged AS (
        |  SELECT event_type, r_u,
        |    lead(r_u, 1) OVER w AS x1,
        |    lead(r_u, 2) OVER w AS x2
        |  FROM ret
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(r_u) AS BIGINT) AS ss,
        |    CAST(SUM(r_u * r_u) AS BIGINT) AS s2,
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL THEN r_u * x1 ELSE 0
        |      END) AS BIGINT) AS a1,
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL THEN r_u ELSE 0 END)
        |      AS BIGINT) AS b1,
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL THEN x1 ELSE 0 END)
        |      AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN x2 IS NOT NULL THEN r_u * x2 ELSE 0
        |      END) AS BIGINT) AS a2,
        |    CAST(SUM(CASE WHEN x2 IS NOT NULL THEN r_u ELSE 0 END)
        |      AS BIGINT) AS b2,
        |    CAST(SUM(CASE WHEN x2 IS NOT NULL THEN x2 ELSE 0 END)
        |      AS BIGINT) AS c2,
        |    CAST(SUM(CASE WHEN x2 IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2
        |  FROM lagged GROUP BY 1 HAVING COUNT(*) >= 4),
        |m AS (
        |  SELECT event_type, n,
        |    CAST(ss AS DOUBLE) / n AS xb,
        |    (s2 - CAST(ss AS DOUBLE) * ss / n) / n AS c0,
        |    a1, b1, c1, n1, a2, b2, c2, n2
        |  FROM g),
        |cv AS (
        |  SELECT event_type, n,
        |    (a1 - xb * (b1 + c1) + n1 * xb * xb) / n / c0 AS r1,
        |    (a2 - xb * (b2 + c2) + n2 * xb * xb) / n / c0 AS r2
        |  FROM m),
        |f AS (
        |  SELECT event_type, n, r1, r2,
        |    r1 * (1.0 - r2) / (1.0 - r1 * r1) AS phi1,
        |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi2
        |  FROM cv)
        |SELECT event_type, n AS n_ret,
        |  ROUND(r1, 6) AS acf1, ROUND(r2, 6) AS acf2,
        |  ROUND(phi1, 6) AS phi1, ROUND(phi2, 6) AS phi2,
        |  ROUND(1.0 - phi1 * r1 - phi2 * r2, 6) AS innov_var_ratio
        |FROM f ORDER BY event_type""".stripMargin,

    "q_mutual_knn" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    ROUND(${LlmOps.duckCos("a.embedding", "b.embedding")}, 6)
        |      AS cos
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
        |  WHERE ${graft.operators.EvalSample.sqlPred("a.vec_id")}),
        |top AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
        |      ORDER BY cos DESC, b_id) AS rn
        |    FROM pairs) WHERE rn <= 10),
        |within AS (
        |  SELECT a_id, b_id FROM top WHERE ${graft.operators.EvalSample.sqlPred("b_id")}),
        |mutual AS (
        |  SELECT w1.a_id, w1.b_id
        |  FROM within w1 JOIN within w2
        |    ON w1.a_id = w2.b_id AND w1.b_id = w2.a_id
        |  WHERE w1.a_id < w1.b_id),
        |ns AS (SELECT CAST(COUNT(DISTINCT a_id) AS BIGINT) AS n_sample
        |  FROM top)
        |SELECT ns.n_sample,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM within) AS n_within,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM mutual)
        |    AS n_mutual_pairs,
        |  ROUND((SELECT COUNT(*) FROM mutual) * 2
        |    / CAST((SELECT COUNT(*) FROM within) AS DOUBLE), 6)
        |    AS mutuality
        |FROM ns""".stripMargin
  )
}
