package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 wave 14 (SURVEY.md §2 B.10/B.10b): graded ranking-eval
  * metrics (ERR, RBP) on the shared 1-in-17 neighbor ranking,
  * recommendation-list personalization, and the EWMA control chart.
  *
  * House discipline: ERR/RBP coefficients are dyadic (0.5^k) or
  * Scala-precomputed 1e9-snapped literals interpolated into BOTH
  * engines; per-query scores are exact long sums; the EWMA recursion
  * rides the q_ewma closed-form window (pow(0.8, i) parity is
  * established there); chart moments come from exact milli sums.
  */
object StatsR10m {

  import DailyGrid.wo

  /** RBP (p=0.8) 1e9-snapped rank coefficients, ranks 1..10 —
    * computed once in Scala and interpolated into both engines.
    */
  private val rbpC: IndexedSeq[Long] =
    (1 to 10).map(i => math.round(1e9 * math.pow(0.8, i - 1)))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Expected Reciprocal Rank at 10 (Chapelle et al.) on the
    // 1-in-17 neighbor ranking, binary label-match relevance → the
    // stop probability R = 0.5 at every relevant rank:
    // ERR = Σ_{rel ranks i} (1/i)·0.5^(c_i + 1), c_i = relevant
    // ranks before i. 0.5 powers are dyadic (exact in both engines);
    // each term snaps to 1e9 before the per-query exact sum.
    "q_err_at_k" -> ((s, d) => {
      val wPrev = Window.partitionBy("a_id").orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, -1)
      LlmOps.rankedTop10(s, d)
        .withColumn("rel", (col("b_lab") === col("a_lab")).cast("long"))
        .withColumn("cum", coalesce(sum("rel").over(wPrev), lit(0L)))
        .withColumn("t_u", when(col("rel") === 1,
          round(lit(1e9) * pow(lit(0.5), col("cum") + 1) / col("rn"))
            .cast("long")).otherwise(0L))
        .groupBy("a_id", "a_lab")
        .agg(sum("t_u").as("err_u"))
        .groupBy(col("a_lab").as("label"))
        .agg(count(lit(1)).as("n_queries"),
          round(sum("err_u") / count(lit(1)) / 1e9, 6).as("err_at_10"))
        .orderBy("label")
    }),

    // Rank-biased precision (Moffat & Zobel, p=0.8) on the same
    // ranking: RBP = (1−p)·Σ rel_i·p^(i−1) with the ten p-powers
    // precomputed as 1e9-snapped longs (identical literals in the
    // oracle), so the per-query score is an exact long sum.
    "q_rbp" -> ((s, d) => {
      val coef = element_at(array(rbpC.map(lit): _*),
        col("rn").cast("int"))
      LlmOps.rankedTop10(s, d)
        .withColumn("rel", (col("b_lab") === col("a_lab")).cast("long"))
        .withColumn("c_u", coef)
        .groupBy("a_id", "a_lab")
        .agg(sum(col("rel") * col("c_u")).as("rbp_u"))
        .groupBy(col("a_lab").as("label"))
        .agg(count(lit(1)).as("n_queries"),
          round(lit(0.2) * sum("rbp_u") / count(lit(1)) / 1e9, 6)
            .as("rbp_at_10"))
        .orderBy("label")
    }),

    // Recommendation-list personalization: 1 − mean pairwise Jaccard
    // of the top-3 rec sets (q_recs_topn's exact lists) across the 50
    // most active customers (deterministic activity sample — the
    // stated scale bound; pair count is C(50,2)). Per-pair Jaccard
    // snaps to 1e6 before the exact mean.
    "q_personalization" -> ((s, d) => {
      val cb = Analytics.custBrand(s, d)
      val sims = Analytics.brandSims(s, d)
      val active = cb.groupBy("cust")
        .agg(sum(col("c")).cast("long").as("act"))
        .orderBy(col("act").desc, col("cust")).limit(50)
        .select(col("cust"))
      // per-cust ranking is independent, so the active-50 cut pushes
      // BELOW the candidate scoring: only 50 baskets are scored and
      // ranked (the full-corpus cand ranking was the 11 s tail)
      val cbAct = cb.join(broadcast(active), "cust")
        .localCheckpoint(eager = true) // cand leg + owned leg
      val cand = cbAct.join(broadcast(sims), "b")
        .groupBy(col("cust"), col("b2").as("rec"))
        .agg(round(sum(col("c") * col("cos")), 6).as("score"))
      val owned = cbAct.select(col("cust"), col("b").as("rec"))
      val wTop = Window.partitionBy("cust")
        .orderBy(col("score").desc, col("rec"))
      val recs = cand.join(owned, Seq("cust", "rec"), "left_anti")
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 3)
        .groupBy("cust")
        .agg(sort_array(collect_list(col("rec"))).as("lst"))
        .localCheckpoint(eager = true) // two pair legs
      val pairs = recs.select(col("cust").as("c1"), col("lst").as("l1"))
        .join(recs.select(col("cust").as("c2"), col("lst").as("l2")),
          col("c1") < col("c2"))
        .select(round(size(array_intersect(col("l1"), col("l2")))
          * lit(1e6)
          / size(array_union(col("l1"), col("l2")))).cast("long")
          .as("j_u"))
      pairs.agg(count(lit(1)).as("n_pairs"), sum("j_u").as("sj"))
        .select(col("n_pairs"),
          round(col("sj") / col("n_pairs") / 1e6, 6).as("avg_jaccard"),
          round(lit(1.0) - col("sj") / col("n_pairs") / 1e6, 6)
            .as("personalization"))
    }),

    // EWMA control chart (λ=0.2, L=3) on daily milli means per type:
    // z_t from the q_ewma closed-form window (0.8-power rescaled
    // running sum, seeded at the series mean), limits
    // μ ± 3σ√(λ/(2−λ)(1−0.8^2t)) from exact milli moments; every day
    // emitted with its signed flag (0 inside the limits).
    "q_ewma_chart" -> ((s, d) => {
      val wRun = wo.rowsBetween(Window.unboundedPreceding, 0)
      val dm = DailyGrid.mean(s, d)
        .select(col("event_type"), col("d"), col("y"), col("i").as("t"))
      val mom = dm.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("y").as("sm"),
          sum(col("y") * col("y")).as("ss"))
        .filter(col("n") >= 2)
        .select(col("event_type"),
          (col("sm").cast("double") / col("n")).as("mu"),
          sqrt((col("n").cast("double") * col("ss")
            - col("sm").cast("double") * col("sm"))
            / col("n") / (col("n") - 1)).as("sd"))
      dm.join(broadcast(mom), "event_type")
        .withColumn("u", lit(0.2) * col("y") * pow(lit(0.8), -col("t")))
        .withColumn("z", pow(lit(0.8), col("t"))
          * (col("mu") + sum("u").over(wRun)))
        .withColumn("hw", lit(3.0) * col("sd")
          * sqrt(lit(0.2) / lit(1.8)
            * (lit(1.0) - pow(lit(0.8), col("t") * 2))))
        .select(col("event_type"), col("d"),
          round(col("z") / 1e3, 4).as("ewma"),
          round((col("mu") + col("hw")) / 1e3, 4).as("ucl"),
          round((col("mu") - col("hw")) / 1e3, 4).as("lcl"),
          when(col("z") > col("mu") + col("hw"), 1L)
            .when(col("z") < col("mu") - col("hw"), -1L)
            .otherwise(0L).as("flag"))
        .orderBy("event_type", "d")
    })
  )

  /** The rankedTop10 CTE (the q_ndcg oracle pairs/top blocks). */
  private val topCte: String =
    s"""e AS (SELECT vec_id, label, embedding FROM embeddings),
       |pairs AS (
       |  SELECT a.vec_id AS a_id, a.label AS a_lab, b.label AS b_lab,
       |    b.vec_id AS b_id,
       |    ROUND(${LlmOps.duckCos("a.embedding", "b.embedding")}, 6)
       |      AS cos
       |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
       |  WHERE ${graft.operators.EvalSample.sqlPred("a.vec_id")}),
       |top AS (
       |  SELECT a_id, a_lab, rn,
       |    CASE WHEN b_lab = a_lab THEN 1 ELSE 0 END AS rel
       |  FROM (SELECT *, row_number() OVER (PARTITION BY a_id
       |          ORDER BY cos DESC, b_id) AS rn FROM pairs)
       |  WHERE rn <= 10)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_err_at_k" ->
      s"""WITH $topCte,
        |c AS (
        |  SELECT a_id, a_lab, rn, rel,
        |    COALESCE(SUM(rel) OVER (PARTITION BY a_id ORDER BY rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum
        |  FROM top),
        |t AS (
        |  SELECT a_id, a_lab,
        |    CASE WHEN rel = 1 THEN CAST(ROUND(1e9 * pow(0.5, cum + 1)
        |      / rn) AS BIGINT) ELSE 0 END AS t_u
        |  FROM c),
        |pq AS (
        |  SELECT a_id, a_lab, CAST(SUM(t_u) AS BIGINT) AS err_u
        |  FROM t GROUP BY 1, 2)
        |SELECT a_lab AS label, CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  ROUND(SUM(err_u) / COUNT(*) / 1e9, 6) AS err_at_10
        |FROM pq GROUP BY 1 ORDER BY label""".stripMargin,

    "q_rbp" ->
      s"""WITH $topCte,
        |t AS (
        |  SELECT a_id, a_lab,
        |    rel * ([${rbpC.mkString(", ")}][rn]) AS c_u
        |  FROM top),
        |pq AS (
        |  SELECT a_id, a_lab, CAST(SUM(c_u) AS BIGINT) AS rbp_u
        |  FROM t GROUP BY 1, 2)
        |SELECT a_lab AS label, CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  ROUND(0.2 * SUM(rbp_u) / COUNT(*) / 1e9, 6) AS rbp_at_10
        |FROM pq GROUP BY 1 ORDER BY label""".stripMargin,

    "q_personalization" ->
      """WITH cb AS (
        |  SELECT o_custkey AS cust, p_brand AS b,
        |    CAST(COUNT(*) AS DOUBLE) AS c
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |n AS (SELECT b, sqrt(SUM(c * c)) AS nrm FROM cb GROUP BY 1),
        |s AS (
        |  SELECT x.b, y.b AS b2, SUM(x.c * y.c) AS dot
        |  FROM cb x JOIN cb y ON x.cust = y.cust AND x.b <> y.b
        |  GROUP BY 1, 2),
        |sim AS (
        |  SELECT s.b, s.b2, s.dot / (n1.nrm * n2.nrm) AS cos
        |  FROM s JOIN n n1 ON s.b = n1.b JOIN n n2 ON s.b2 = n2.b),
        |cand AS (
        |  SELECT cb.cust, sim.b2 AS rec,
        |    ROUND(SUM(cb.c * sim.cos), 6) AS score
        |  FROM cb JOIN sim ON cb.b = sim.b GROUP BY 1, 2),
        |flt AS (
        |  SELECT c.* FROM cand c WHERE NOT EXISTS (
        |    SELECT 1 FROM cb WHERE cb.cust = c.cust AND cb.b = c.rec)),
        |active AS (
        |  SELECT cust FROM (
        |    SELECT cust, CAST(SUM(c) AS BIGINT) AS act FROM cb
        |    GROUP BY 1 ORDER BY act DESC, cust LIMIT 50)),
        |topr AS (
        |  SELECT cust, rec FROM (
        |    SELECT cust, rec, row_number() OVER (
        |      PARTITION BY cust ORDER BY score DESC, rec) AS rk
        |    FROM flt)
        |  WHERE rk <= 3),
        |lists AS (
        |  SELECT cust, list_sort(list(rec)) AS lst
        |  FROM topr JOIN active USING (cust) GROUP BY 1),
        |pj AS (
        |  SELECT CAST(ROUND(len(list_intersect(a.lst, b.lst)) * 1e6
        |    / len(list_distinct(list_concat(a.lst, b.lst)))) AS BIGINT)
        |    AS j_u
        |  FROM lists a JOIN lists b ON a.cust < b.cust)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  ROUND(SUM(j_u) / COUNT(*) / 1e6, 6) AS avg_jaccard,
        |  ROUND(1.0 - SUM(j_u) / COUNT(*) / 1e6, 6) AS personalization
        |FROM pj""".stripMargin,

    "q_ewma_chart" ->
      s"""WITH ${DailyGrid.dmCte},
        |mom AS (
        |  SELECT event_type,
        |    CAST(SUM(y) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS mu,
        |    sqrt((CAST(COUNT(*) AS DOUBLE) * SUM(y * y)
        |      - CAST(SUM(y) AS DOUBLE) * SUM(y))
        |      / COUNT(*) / (COUNT(*) - 1)) AS sd
        |  FROM dm GROUP BY 1 HAVING COUNT(*) >= 2),
        |r AS (
        |  SELECT dm.event_type, d, y, mu, sd,
        |    CAST(row_number() OVER (PARTITION BY dm.event_type
        |      ORDER BY d) AS BIGINT) AS t
        |  FROM dm JOIN mom ON dm.event_type = mom.event_type),
        |z AS (
        |  SELECT event_type, d, mu, sd, t,
        |    pow(0.8, t) * (mu + SUM(0.2 * y * pow(0.8, -t))
        |      OVER (PARTITION BY event_type ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS z,
        |    3.0 * sd * sqrt(0.2 / 1.8 * (1.0 - pow(0.8, t * 2))) AS hw
        |  FROM r)
        |SELECT event_type, d,
        |  ROUND(z / 1e3, 4) AS ewma,
        |  ROUND((mu + hw) / 1e3, 4) AS ucl,
        |  ROUND((mu - hw) / 1e3, 4) AS lcl,
        |  CAST(CASE WHEN z > mu + hw THEN 1
        |       WHEN z < mu - hw THEN -1 ELSE 0 END AS BIGINT) AS flag
        |FROM z ORDER BY event_type, d""".stripMargin
  )
}
