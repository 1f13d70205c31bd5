package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Cells
import graft.tables.Tables

/** Round-12 wave 1 (SURVEY.md §2 B.10): hierarchical graph ANN —
  * q_ann_hnsw closes the r11 VERDICT's "true HNSW hierarchy" gap.
  * Where q_ann_nsw walks a single-layer graph from a FIXED entry
  * (vec 1), HNSW descends a layer hierarchy so the layer-0 beam
  * starts from a query-adapted entry and search cost grows with the
  * (geometrically small) upper layers, not the cell size:
  *
  *  - LAYERS: deterministic hash-geometric assignment — the md5
  *    bucket of vec_id (the house sampler posture, reproducible
  *    across engines and re-runs) puts ~1% of vectors on layer 2 and
  *    ~10% on layer ≥ 1; every vector is on layer 0. Layers NEST
  *    (member of layer l ⇒ member of every layer below), the HNSW
  *    invariant that makes cross-layer handoff safe.
  *  - PER-LAYER GRAPHS: each layer reuses the cell-local top-8 graph
  *    machinery (StatsR11.cellGraphFromPacked) over its OWN members;
  *    seeds are the first k members by vec_id (TakeOrdered — k rows,
  *    k = operators/Cells from the layer's count, so upper-layer
  *    graphs stay linear in the layer size).
  *  - DESCENT: from the top layer's single deterministic entry (min
  *    vec_id of the highest non-empty layer), two greedy steps per
  *    upper layer — candidate set = {current} ∪ out-edges(current),
  *    keep the top-1 by (cos-to-query DESC, vec_id) on the 6dp grid.
  *    Every frontier is ONE row, so the whole descent is bounded
  *    broadcast joins.
  *  - LAYER-0 BEAM: q_ann_nsw's beam (B=4, 3 unrolled hops) seeded
  *    at the descended entry instead of vec 1. Output shape matches
  *    q_ann_nsw (top-5 + exact-top-5 membership) so the two keys'
  *    recall columns compare directly; R12OpsSpec pins
  *    recall(hnsw) ≥ recall(nsw) on the same fixture.
  *
  * The DuckDB oracle unrolls the identical hierarchy — layer CTEs,
  * two greedy steps per layer, three beam hops — so the whole
  * descent is hash-checked, the q_ann_nsw verification pattern.
  */
object StatsR12 {

  /** The HNSW layer assignment expression (md5 bucket of the id →
    * geometric level 2/1/0) — shared verbatim by the batch hierarchy
    * and the streaming insert's stream-side projection, so an
    * arriving vector lands on exactly the level the batch build would
    * give it. */
  private[graft] def levelCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val b = conv(substring(md5(id.cast("string")), 1, 4), 16, 10)
      .cast("int") % 10000
    when(b < 100, 2).when(b < 1000, 1).otherwise(0)
  }

  /** Session-memoized layered corpus (vec_id ≠ 0 with its md5-
    * geometric `lvl`) — the layer subsets and entry selection of
    * q_ann_hnsw and s_stream_hnsw_insert. */
  private[graft] def layeredCorpus(s: SparkSession, d: String): DataFrame =
    graft.util.SessionMemo.of(s, s"layeredCorpus:$d") {
      Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
        .withColumn("lvl", levelCol(col("vec_id")))
    }

  /** Session-memoized per-layer cell-local top-8 graph of q_ann_hnsw and
    * s_stream_hnsw_insert; seeds = first k members by vec_id (k from
    * the LAYER's count — upper layers get small k, operators/Cells). */
  private[graft] def layerGraph(s: SparkSession, d: String, l: Int): DataFrame =
    graft.util.SessionMemo.value(s, s"layerGraph:$d:$l") {
      graft.expr.Registry.ensure(s)
      val lv = layeredCorpus(s, d)
      val sub = lv.filter(col("lvl") >= l).select("vec_id", "embedding")
      val k = Cells.k(sub.count()) // one-row count, bounded by design
      // bounded grain: the seed window ranks the k-row limit output
      val seeds = sub.orderBy("vec_id").limit(k)
        .withColumn("cell",
          row_number().over(Window.orderBy("vec_id")).cast("int"))
        .select(col("cell"), col("embedding").as("c_emb"))
      val packed = seeds
        .agg(array_sort(collect_list(struct(col("cell"), col("c_emb"))))
          .as("cents"))
      StatsR11.cellGraphFromPacked(sub, packed, k, m = 8)
    }

  /** DuckDB twin of [[layeredCorpus]]: the held-out corpus `e` and
    * the layered view `lv` (declared above `oracle` — init order). */
  private[graft] val eLvCtes: String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id <> 0),
       |lv AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    CASE WHEN b < 100 THEN 2 WHEN b < 1000 THEN 1 ELSE 0 END
       |      AS lvl
       |  FROM (SELECT vec_id, embedding,
       |      CAST(CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)),
       |        1, 4) AS INT) % 10000 AS INT) AS b
       |    FROM e) z)""".stripMargin

  /** DuckDB twin of [[layerGraph]]: per-layer seed/assign/top-8 CTEs
    * over `lv` (sd$l / a$l / nb$l) — shared by the q_ann_hnsw oracle
    * and s_stream_hnsw_insert's batch twin. */
  private[graft] def layerCtes(l: Int): String = {
    val k = Cells.kSql(s"lv WHERE lvl >= $l")
    val cosTS = LlmOps.duckCos("t.embedding", "sd.c_emb")
    val cosAB = LlmOps.duckCos("a.embedding", "b.embedding")
    s"""sd$l AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT)
       |      AS cell, embedding AS c_emb
       |  FROM lv WHERE lvl >= $l
       |  QUALIFY row_number() OVER (ORDER BY vec_id) <= $k),
       |a$l AS MATERIALIZED (
       |  SELECT vec_id, cell, embedding FROM (
       |    SELECT t.vec_id, sd.cell, t.embedding,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ROUND($cosTS, 6) DESC, sd.cell) AS rn
       |    FROM (SELECT vec_id, embedding FROM lv WHERE lvl >= $l) t
       |    CROSS JOIN sd$l sd) z
       |  WHERE rn = 1),
       |nb$l AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (
       |    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ROUND($cosAB, 6) DESC, b.vec_id) AS rnk
       |    FROM a$l a JOIN a$l b
       |      ON a.cell = b.cell AND a.vec_id <> b.vec_id) t
       |  WHERE rnk <= 8)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    "q_ann_hnsw" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val B = 4
      val hops = 3
      val gsteps = 2
      val e = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
      // deterministic geometric layer assignment (session-memoized)
      val lv = layeredCorpus(s, d)
      val g2 = layerGraph(s, d, 2)
      val g1 = layerGraph(s, d, 1)
      // layer 0 = the session-memoized corpus graph q_ann_nsw shares
      val g0 = StatsR11.corpusCellGraph(s, d, heldOut = true)
      val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val scores = e.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(expr("cosine_sim(embedding, q_emb)"), 6).as("cq"))
        .localCheckpoint(true) // descent legs + beam legs + exact top-5
      // entry = min vec_id of the highest non-empty layer (1 row)
      val top = lv.agg(max("lvl").as("ml"))
      var cur = lv.crossJoin(broadcast(top))
        .filter(col("lvl") === col("ml"))
        .agg(min("vec_id").as("vec_id"))
        .join(scores, "vec_id")
        .localCheckpoint(true)
      // greedy descent: 2 steps on layer 2's graph, 2 on layer 1's
      for (g <- Seq(g2, g1); _ <- 1 to gsteps) {
        val out = g
          .join(broadcast(cur.select(col("vec_id").as("a_id"))), "a_id")
          .select(col("b_id").as("vec_id")).distinct()
          .join(scores, "vec_id")
        cur = cur.select("vec_id", "cq")
          .unionByName(out.select("vec_id", "cq"))
          .orderBy(col("cq").desc, col("vec_id")).limit(1)
          .localCheckpoint(true) // 1 row
      }
      // layer-0 beam from the descended entry (the q_ann_nsw walk)
      var visited = cur
      var frontier = cur
      for (_ <- 1 to hops) {
        val cand = g0
          .join(broadcast(frontier.select(col("vec_id").as("a_id"))), "a_id")
          .select(col("b_id").as("vec_id")).distinct()
        val next = cand.join(scores, "vec_id")
          .join(broadcast(visited.select(col("vec_id").as("vv"))),
            col("vec_id") === col("vv"), "left_anti")
          .orderBy(col("cq").desc, col("vec_id")).limit(B)
          .localCheckpoint(true) // ≤ B rows, feeds visited + next hop
        visited = visited.unionByName(next).localCheckpoint(true)
        frontier = next
      }
      val exact = scores.orderBy(col("cq").desc, col("vec_id")).limit(5)
        .select(col("vec_id").as("ev"), lit(1L).as("hit"))
      visited.orderBy(col("cq").desc, col("vec_id")).limit(5)
        // bounded grain: ranks the 5-row limit output
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("cq").desc, col("vec_id"))).cast("long"))
        .join(broadcast(exact), col("vec_id") === col("ev"), "left")
        .select(col("rnk"), col("vec_id"), col("cq").as("cos_q"),
          coalesce(col("hit"), lit(0L)).as("in_exact_top5"))
        .orderBy("rnk")
    }),

    // TWO unrolled NN-descent rounds (r11 VERDICT task 5): the
    // convergence trajectory, hash-checked — round 2 re-ranks each
    // node over {g1} ∪ {reverse g1} ∪ {g1∘g1} exactly like round 1
    // did over the two-clustering union. Output per node: edge count,
    // µ-grid half-up mean after round 1 and round 2, and how many
    // round-2 edges are NEW vs g1 (the churn the convergence loop in
    // operators/NnDescent watches — refineUntilConverged stops when
    // this count falls under tol, and LOUD-FAILS at maxRounds rather
    // than ship an unconverged graph; R12NnDescentSpec pins both the
    // stopping rule and the monotone per-round quality sum).
    "q_ann_nndescent2" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val all = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // session-memoized graphs, shared with q_ann_nndescent
      val gA = StatsR11.corpusCellGraph(s, d)
      val gB = StatsR11.corpusCellGraph(s, d, altSeeds = true)
      val g0 = gA.unionByName(gB).distinct().localCheckpoint(true)
      val g1 = graft.operators.NnDescent.round(all, g0)
      val g2 = graft.operators.NnDescent.round(all, g1)
      val r1 = g1.groupBy("a_id")
        .agg(count(lit(1)).as("n1"), sum("cu").as("su1"))
      val r2 = g2
        .join(g1.select(col("a_id"), col("b_id"), lit(1L).as("old")),
          Seq("a_id", "b_id"), "left")
        .groupBy("a_id")
        .agg(count(lit(1)).as("n2"), sum("cu").as("su2"),
          sum(when(col("old").isNull, 1L).otherwise(0L)).as("n_new"))
      r1.join(r2, "a_id")
        // µ-grid half-up integer means — the q_ann_nndescent tie rule
        .select(col("a_id").as("vec_id"), col("n2").as("n_nb"),
          round(expr("(2 * su1 + n1) div (2 * n1)") / 1e6, 6)
            .as("mean_cos_r1"),
          round(expr("(2 * su2 + n2) div (2 * n2)") / 1e6, 6)
            .as("mean_cos_r2"),
          col("n_new").as("n_replaced_r2"))
        .orderBy("vec_id")
    })
  )

  val oracle: Map[String, String] = Map(
    // the identical hierarchy, unrolled: layer CTEs + per-layer
    // graphs + 2 greedy steps per upper layer + the 3-hop beam
    "q_ann_hnsw" -> {
      val cosEQ = LlmOps.duckCos("e.embedding", "q.q_emb")
      // per-layer graph CTEs (sd/a/nb): the shared layerCtes above
      // one greedy step: cur ∪ out-edges(cur), top-1 by (cq, vec_id)
      def step(i: Int, nb: String): String =
        s"""d$i AS MATERIALIZED (
           |  SELECT vec_id, cq FROM (
           |    SELECT vec_id, cq FROM d${i - 1}
           |    UNION ALL
           |    SELECT sc.vec_id, sc.cq
           |    FROM $nb JOIN d${i - 1} p ON $nb.a_id = p.vec_id
           |    JOIN sc ON sc.vec_id = $nb.b_id) u
           |  ORDER BY cq DESC, vec_id LIMIT 1)""".stripMargin
      def hop(h: Int): String = {
        val pf = s"f${h - 1}"
        val pv = s"v${h - 1}"
        s"""f$h AS MATERIALIZED (
           |  SELECT sc.vec_id, sc.cq
           |  FROM (SELECT DISTINCT nb0.b_id FROM nb0
           |        JOIN $pf ON nb0.a_id = $pf.vec_id) c
           |  JOIN sc ON sc.vec_id = c.b_id
           |  WHERE c.b_id NOT IN (SELECT vec_id FROM $pv)
           |  ORDER BY sc.cq DESC, sc.vec_id LIMIT 4),
           |v$h AS MATERIALIZED (
           |  SELECT * FROM $pv UNION ALL SELECT * FROM f$h)""".stripMargin
      }
      val cosAB0 = LlmOps.duckCos("a.embedding", "b.embedding")
      s"""WITH $eLvCtes,
         |q AS (SELECT embedding AS q_emb FROM embeddings
         |  WHERE vec_id = 0),
         |sc AS MATERIALIZED (
         |  SELECT e.vec_id, ROUND($cosEQ, 6) AS cq
         |  FROM e CROSS JOIN q),
         |${layerCtes(2)},
         |${layerCtes(1)},
         |c0 AS (SELECT vec_id AS cid, embedding AS c FROM e
         |  WHERE vec_id BETWEEN 1 AND ${Cells.kSql("e")}),
         |s1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, cid) AS rn
         |  FROM (SELECT e.vec_id, c0.cid, e.embedding,
         |      ROUND(${LlmOps.duckCos("e.embedding", "c0.c")}, 6) AS cos
         |    FROM e CROSS JOIN c0)),
         |asg AS MATERIALIZED (SELECT vec_id, cid, embedding FROM s1
         |  WHERE rn = 1),
         |pairs AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ROUND($cosAB0, 6) AS cos
         |  FROM asg a JOIN asg b
         |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
         |nb0 AS MATERIALIZED (
         |  SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
         |      ORDER BY cos DESC, b_id) AS rnk
         |    FROM pairs) t
         |  WHERE rnk <= 8),
         |ent AS (SELECT vec_id FROM lv
         |  WHERE lvl = (SELECT MAX(lvl) FROM lv)
         |  ORDER BY vec_id LIMIT 1),
         |d0 AS (SELECT sc.vec_id, sc.cq FROM sc
         |  JOIN ent ON sc.vec_id = ent.vec_id),
         |${step(1, "nb2")},
         |${step(2, "nb2")},
         |${step(3, "nb1")},
         |${step(4, "nb1")},
         |f0 AS (SELECT vec_id, cq FROM d4),
         |v0 AS (SELECT * FROM f0),
         |${hop(1)},
         |${hop(2)},
         |${hop(3)},
         |res AS (
         |  SELECT vec_id, cq,
         |    CAST(row_number() OVER (ORDER BY cq DESC, vec_id)
         |      AS BIGINT) AS rnk
         |  FROM (SELECT * FROM v3 ORDER BY cq DESC, vec_id LIMIT 5) t),
         |ex AS (SELECT vec_id FROM sc ORDER BY cq DESC, vec_id LIMIT 5)
         |SELECT rnk, res.vec_id, cq AS cos_q,
         |  CAST(CASE WHEN res.vec_id IN (SELECT vec_id FROM ex)
         |    THEN 1 ELSE 0 END AS BIGINT) AS in_exact_top5
         |FROM res ORDER BY rnk""".stripMargin
    },

    // round 2 appended to the shared round-1 CTE chain
    "q_ann_nndescent2" -> {
      val cosXY = LlmOps.duckCos("x.embedding", "y.embedding")
      s"""WITH ${StatsR11.nndescentBaseCtes},
         |cand2 AS (
         |  SELECT DISTINCT a_id, b_id FROM (
         |    SELECT a_id, b_id FROM g1
         |    UNION ALL SELECT b_id, a_id FROM g1
         |    UNION ALL SELECT x1.a_id, x2.b_id FROM g1 x1
         |      JOIN g1 x2 ON x1.b_id = x2.a_id) u
         |  WHERE a_id <> b_id),
         |scored2 AS (
         |  SELECT c.a_id, c.b_id,
         |    CAST(ROUND(ROUND($cosXY, 6) * 1e6) AS BIGINT) AS cu
         |  FROM cand2 c JOIN embeddings x ON x.vec_id = c.a_id
         |  JOIN embeddings y ON y.vec_id = c.b_id),
         |g2 AS MATERIALIZED (
         |  SELECT a_id, b_id, cu FROM (
         |    SELECT a_id, b_id, cu, row_number() OVER (
         |      PARTITION BY a_id ORDER BY cu DESC, b_id) AS rnk
         |    FROM scored2) t
         |  WHERE rnk <= 8),
         |r1 AS (SELECT a_id, CAST(COUNT(*) AS BIGINT) AS n1,
         |    SUM(cu) AS su1
         |  FROM g1 GROUP BY 1),
         |r2 AS (
         |  SELECT g2.a_id, CAST(COUNT(*) AS BIGINT) AS n2,
         |    SUM(g2.cu) AS su2,
         |    CAST(SUM(CASE WHEN g1.b_id IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_new
         |  FROM g2 LEFT JOIN g1
         |    ON g2.a_id = g1.a_id AND g2.b_id = g1.b_id
         |  GROUP BY 1)
         |SELECT r1.a_id AS vec_id, n2 AS n_nb,
         |  ROUND(((2 * su1 + n1) // (2 * n1)) / 1e6, 6) AS mean_cos_r1,
         |  ROUND(((2 * su2 + n2) // (2 * n2)) / 1e6, 6) AS mean_cos_r2,
         |  n_new AS n_replaced_r2
         |FROM r1 JOIN r2 ON r1.a_id = r2.a_id
         |ORDER BY vec_id""".stripMargin
    }
  )
}
