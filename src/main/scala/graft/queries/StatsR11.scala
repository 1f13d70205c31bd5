package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Round-11 wave 1 (SURVEY.md §2 B.10): graph-based approximate
  * nearest neighbor — the NSW/HNSW-class search mode the r10 VERDICT
  * named as the remaining ANN gap beyond IVF (q_sim_ivf) and RP-LSH
  * (q_ann_rplsh). Two stages, both deterministic end to end:
  *
  *  1. GRAPH BUILD: a cell-local top-M=8 cosine neighbor graph over
  *     the corpus (query vec 0 held out) — the IVF-graph hybrid:
  *     vectors assign to packed broadcast seeds by projection-only
  *     argmax (the q_semdedup shape, 6dp grid, min-cid tiebreak) and
  *     neighbor edges stay within the assigned cell, so pair work is
  *     Σ|cell|² = n²/k — and k derives from the corpus count
  *     (operators/Cells: max(4, ⌈n/budget⌉), r11 VERDICT task 2), so
  *     per-cell size stays ≈ budget rows and the build is LINEAR. The
  *     oracle replicates the assignment exactly, so the graph is
  *     hash-checked, and the recall column is the honest meter for
  *     what cell-locality costs the search. The graph is the
  *     write-once artifact a deployment materializes next to the
  *     embeddings (NN-descent refinement is the documented upgrade
  *     path when cells alone under-recall).
  *
  *  2. BEAM SEARCH: greedy best-first from the deterministic entry
  *     point (vec_id 1), beam B=4, 3 unrolled hops: each hop expands
  *     the frontier's out-edges, drops visited vertices, and keeps
  *     the top-B by (cos-to-query DESC, vec_id) on the 6dp grid.
  *     Every frontier/visited table is ≤ 1+B·hops rows, so the whole
  *     walk is bounded broadcast joins — no driver loop, no
  *     collect(). Output: the top-5 of the visited set with each
  *     row's membership in the EXACT top-5 (the per-rank recall a
  *     retrieval eval reads; exact side is one broadcast 1×n pass).
  */
object StatsR11 {

  /** Cell-local top-M cosine graph (IVF-graph hybrid). Assignment =
    * the q_semdedup shape: packed broadcast seeds (vec_ids
    * 1..cellsK), projection-only argmax on the 6dp grid, min-cid
    * tiebreak; neighbor edges stay WITHIN the assigned cell, so
    * build pair work is Σ|cell|² = n²/k — callers derive cellsK from
    * the corpus count (operators/Cells), which keeps the build linear
    * in the corpus, and the searchers' recall columns are the honest
    * quality meter for what cell-locality costs.
    */
  private[graft] def cellGraph(e: DataFrame, cellsK: Int, m: Int,
                               seedBase: Int = 1): DataFrame = {
    val packed = e.filter(col("vec_id").between(seedBase, seedBase + cellsK - 1))
      .select(col("vec_id").cast("int").as("cell"),
        col("embedding").as("c_emb"))
      .agg(array_sort(collect_list(struct(col("cell"), col("c_emb"))))
        .as("cents"))
    cellGraphFromPacked(e, packed, cellsK, m)
  }

  /** Assignment + within-cell top-m edges from an ALREADY-PACKED
    * 1-row seed frame (`cents` = sorted array of (cell 1..cellsK,
    * c_emb) structs) — shared by [[cellGraph]] and the per-layer
    * graphs of q_ann_hnsw (StatsR12), whose seeds are the first k
    * layer members by vec_id rather than a vec_id range.
    */
  private[queries] def cellGraphFromPacked(e: DataFrame, packed: DataFrame,
                                           cellsK: Int, m: Int): DataFrame = {
    val cand = (1 to cellsK).map { i =>
      struct(
        round(expr(s"cosine_sim(embedding, try_element_at(cents, $i).c_emb)"), 6)
          .as("cs"),
        lit(-i).as("negcell"))
    }
    val assigned = e.crossJoin(broadcast(packed))
      .withColumn("best", greatest(cand: _*))
      .select(col("vec_id"), col("embedding"),
        (-col("best.negcell")).as("cell"))
      .localCheckpoint(true) // both sides of the cell-local join
    val members = assigned.select(col("cell").as("cb"),
      col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val wTop = Window.partitionBy("a_id")
      .orderBy(col("cos").desc, col("b_id"))
    assigned
      .select(col("cell"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"))
      .join(members,
        col("cell") === col("cb") && col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(expr("cosine_sim(a_emb, b_emb)"), 6).as("cos"))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= m)
      .select("a_id", "b_id")
      .localCheckpoint(true) // scanned once per hop
  }

  /** Session-memoized corpus cell graph — the write-once index every
    * graph-ANN key searches: q_ann_nsw, q_ann_nsw_multi, q_ann_hnsw,
    * q_ann_nndescent(2), q_ann_tombstone, s_stream_graph_insert and
    * s_stream_graph_delete. Variants: `heldOut`
    * drops the query vector 0 (q_ann_nsw's contract); `altSeeds` uses
    * seed set k+1..2k (NN-descent's disagreeing init). k is
    * data-derived (operators/Cells), m = 8 everywhere.
    */
  private[graft] def corpusCellGraph(s: SparkSession, d: String,
                                     heldOut: Boolean = false,
                                     altSeeds: Boolean = false): DataFrame =
    graft.util.SessionMemo.value(s, s"cellGraph:$d:$heldOut:$altSeeds") {
      graft.expr.Registry.ensure(s)
      val e0 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val e = if (heldOut) e0.filter(col("vec_id") =!= 0) else e0
      // k = max(4, ⌈n/budget⌉) from a one-row count (bounded by design)
      val k = graft.operators.Cells.k(e.count())
      cellGraph(e, cellsK = k, m = 8, seedBase = if (altSeeds) k + 1 else 1)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    "q_ann_nsw" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val B = 4
      val hops = 3
      val e = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
      // ---- stage 1: cell-local top-8 graph over the held-out corpus
      // (session-memoized — shared with q_ann_hnsw's layer 0)
      val graph = corpusCellGraph(s, d, heldOut = true)
      // ---- stage 2: beam search, unrolled bounded broadcasts ----
      val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val scores = e.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(expr("cosine_sim(embedding, q_emb)"), 6).as("cq"))
        .localCheckpoint(true) // one leg per hop + exact top-5
      var visited = scores.filter(col("vec_id") === 1)
        .localCheckpoint(true)
      var frontier = visited
      for (_ <- 1 to hops) {
        val cand = graph
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

    // Eval-grade multi-query beam: the q_ann_nsw walk for EVERY
    // query of the standard 1-in-17 sample (the q_precision_recall_k
    // sampling contract) in ONE plan — per-query frontiers ride the
    // same bounded joins keyed by (qid, vec), hop selection is a
    // PARTITIONED window (per qid), and the output is the per-query
    // recall@5 table a retrieval eval reads. Graph built once over
    // the FULL corpus; each query only excludes itself from scoring.
    // Scale (r11 VERDICT task 3): the raw 1-in-17 slice is
    // PROPORTIONAL, so the score table would be corpus²/17 — still
    // quadratic; operators/EvalSample caps the query set at an
    // ABSOLUTE maxQueries (first members by vec_id), making the
    // score/frontier tables ≤ maxQueries·corpus — linear. The cap
    // binds at sf0.1 (118 → 64 queries) and is slack at sf0.01.
    "q_ann_nsw_multi" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val B = 4
      val hops = 3
      val all = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val graph = corpusCellGraph(s, d) // session-memoized
      val qs = all.filter(
          col("vec_id") % graft.operators.EvalSample.every === 0
          && col("vec_id") < graft.operators.EvalSample.bound)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
      val sc = all.join(broadcast(qs), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(expr("cosine_sim(embedding, q_emb)"), 6).as("cq"))
        .localCheckpoint(true) // one leg per hop + exact ranks
      // entry = vec 1 for every query (qids are multiples of 17,
      // never 1, so the entry never collides with a query)
      var visited = sc.filter(col("vec_id") === 1)
        .localCheckpoint(true)
      var frontier = visited
      val wBeam = Window.partitionBy("qid")
        .orderBy(col("cq").desc, col("vec_id"))
      for (_ <- 1 to hops) {
        val cand = graph
          .join(broadcast(frontier.select(col("qid"), col("vec_id").as("a_id"))),
            "a_id")
          .select(col("qid"), col("b_id").as("vec_id")).distinct()
        val next = cand.join(sc, Seq("qid", "vec_id"))
          .join(broadcast(visited.select(col("qid").as("vq"),
            col("vec_id").as("vv"))),
            col("qid") === col("vq") && col("vec_id") === col("vv"),
            "left_anti")
          .withColumn("rn", row_number().over(wBeam))
          .filter(col("rn") <= B)
          .select("qid", "vec_id", "cq")
          .localCheckpoint(true) // ≤ B·|sample| rows
        visited = visited.unionByName(next).localCheckpoint(true)
        frontier = next
      }
      val res = visited
        .withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= 5)
      val exact = sc
        .withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= 5)
      val hits = res.join(exact
          .select(col("qid").as("eq"), col("vec_id").as("ev"),
            col("rn").as("ern")),
          col("qid") === col("eq") && col("vec_id") === col("ev"), "left")
        .groupBy("qid")
        .agg(count(col("ev")).as("n_hit"),
          max(when(col("rn") === 1, col("cq"))).as("found_top1"))
      val exTop = exact.filter(col("rn") === 1)
        .select(col("qid"), col("cq").as("exact_top1"))
      hits.join(exTop, "qid")
        .select(col("qid"),
          round(col("n_hit") / 5.0, 2).as("recall_at_5"),
          col("found_top1").as("cos_found_top1"),
          col("exact_top1").as("cos_exact_top1"))
        .orderBy("qid")
    }),

    // One NN-descent refinement round (Dong et al. WWW'11) over the
    // cell-local graph — the standard fix for what cell-locality
    // misses. A single clustering's neighbor-of-neighbor closure
    // never leaves the cell (the within-cell top-M is already exact
    // there), so the initial graph unions TWO cell-local graphs from
    // DISAGREEING seeds (1..4 and 5..8) — exactly NN-descent's
    // random-init role, deterministic here — and each node re-ranks
    // {union edges} ∪ {reverse} ∪ {neighbor-of-neighbor over the
    // union} down to its top-8. Candidate fan-in is ≤ 2M + 2M + 4M²
    // per node — LINEAR in the corpus, every step an equi-join on
    // node ids; production iterates this to convergence, one round
    // keeps the oracle exact. Output: per-node edge quality of the
    // PRIMARY (seeds 1..4) graph before vs after (µ-snapped exact
    // half-up means) + how many edges the round replaced.
    "q_ann_nndescent" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val all = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // session-memoized; the disagreeing init uses seeds 1..k and
      // k+1..2k (k data-derived inside the memo)
      val gA = corpusCellGraph(s, d)
      val gB = corpusCellGraph(s, d, altSeeds = true)
      val g0 = gA.unionByName(gB).distinct().localCheckpoint(true)
      // the round is operators/NnDescent.round (r11 VERDICT task 5
      // factored it out for the convergence loop + q_ann_nndescent2)
      val g1 = graft.operators.NnDescent.round(all, g0)
      val ea = all.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
      val eb = all.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
      val s0 = gA.join(ea, "a_id").join(eb, "b_id")
        .select(col("a_id"), col("b_id"),
          expr("CAST(ROUND(ROUND(cosine_sim(a_emb, b_emb), 6) * 1e6) AS BIGINT)")
            .as("cu"))
      val before = s0.groupBy("a_id")
        .agg(count(lit(1)).as("n0"), sum("cu").as("su0"))
      val kept = g1.join(s0.select(col("a_id"), col("b_id"),
          lit(1L).as("old")), Seq("a_id", "b_id"), "left")
      val after = kept.groupBy("a_id")
        .agg(count(lit(1)).as("n1"), sum("cu").as("su1"),
          sum(when(col("old").isNull, 1L).otherwise(0L)).as("n_new"))
      before.join(after, "a_id")
        // mean on the µ grid via EXACT half-up integer division —
        // a double mean can land on an x.5µ tie and round apart
        // across engines (measured: 6/500 rows at sf0.01)
        .select(col("a_id").as("vec_id"), col("n1").as("n_nb"),
          round(expr("(2 * su0 + n0) div (2 * n0)") / 1e6, 6)
            .as("mean_cos_before"),
          round(expr("(2 * su1 + n1) div (2 * n1)") / 1e6, 6)
            .as("mean_cos_after"),
          col("n_new").as("n_replaced"))
        .orderBy("vec_id")
    })
  )

  /** Shared CTE chain for the NN-descent oracles (q_ann_nndescent
    * here; q_ann_nndescent2 in StatsR12): the two disagreeing
    * cell-graph inits (seeds 1..k and k+1..2k, k data-derived), their
    * union nb, and ONE refinement round's output g1 (candidate union
    * → µ-snapped top-8). Ends at g1 so callers append their own
    * stats or further rounds.
    */
  private[queries] val nndescentBaseCtes: String = {
      val cosAB = LlmOps.duckCos("a.embedding", "b.embedding")
      val cosXY = LlmOps.duckCos("x.embedding", "y.embedding")
      def nbCte(tag: String, lo: String, hi: String): String =
        s"""c$tag AS (SELECT vec_id AS cid, embedding AS c
           |  FROM embeddings WHERE vec_id BETWEEN $lo AND $hi),
           |s$tag AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
           |    ORDER BY cos DESC, cid) AS rn
           |  FROM (SELECT e.vec_id, c$tag.cid, e.embedding,
           |      ROUND(${LlmOps.duckCos("e.embedding", s"c$tag.c")}, 6) AS cos
           |    FROM embeddings e CROSS JOIN c$tag)),
           |asg$tag AS MATERIALIZED (SELECT vec_id, cid, embedding
           |  FROM s$tag WHERE rn = 1),
           |prs$tag AS (
           |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |    ROUND($cosAB, 6) AS cos
           |  FROM asg$tag a JOIN asg$tag b
           |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
           |nb$tag AS MATERIALIZED (
           |  SELECT a_id, b_id FROM (
           |    SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
           |      ORDER BY cos DESC, b_id) AS rnk
           |    FROM prs$tag) t
           |  WHERE rnk <= 8)""".stripMargin
      s"""kk AS (SELECT ${graft.operators.Cells.kSql("embeddings")} AS k),
         |${nbCte("a", "1", "(SELECT k FROM kk)")},
         |${nbCte("b", "(SELECT k FROM kk) + 1", "2 * (SELECT k FROM kk)")},
         |nb AS MATERIALIZED (
         |  SELECT DISTINCT a_id, b_id FROM (
         |    SELECT a_id, b_id FROM nba
         |    UNION ALL SELECT a_id, b_id FROM nbb) u),
         |cand AS (
         |  SELECT DISTINCT a_id, b_id FROM (
         |    SELECT a_id, b_id FROM nb
         |    UNION ALL SELECT b_id, a_id FROM nb
         |    UNION ALL SELECT x1.a_id, x2.b_id FROM nb x1
         |      JOIN nb x2 ON x1.b_id = x2.a_id) u
         |  WHERE a_id <> b_id),
         |scored AS (
         |  SELECT c.a_id, c.b_id,
         |    CAST(ROUND(ROUND($cosXY, 6) * 1e6) AS BIGINT) AS cu
         |  FROM cand c JOIN embeddings x ON x.vec_id = c.a_id
         |  JOIN embeddings y ON y.vec_id = c.b_id),
         |g1 AS MATERIALIZED (
         |  SELECT a_id, b_id, cu FROM (
         |    SELECT a_id, b_id, cu, row_number() OVER (
         |      PARTITION BY a_id ORDER BY cu DESC, b_id) AS rnk
         |    FROM scored) t
         |  WHERE rnk <= 8)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // brute-force top-8 graph + the identical unrolled beam walk
    "q_ann_nsw" -> {
      val cosAB = LlmOps.duckCos("a.embedding", "b.embedding")
      val cosEQ = LlmOps.duckCos("e.embedding", "q.q_emb")
      def hop(h: Int): String = {
        val pf = s"f${h - 1}"
        val pv = s"v${h - 1}"
        s"""f$h AS MATERIALIZED (
           |  SELECT sc.vec_id, sc.cq
           |  FROM (SELECT DISTINCT nb.b_id FROM nb
           |        JOIN $pf ON nb.a_id = $pf.vec_id) c
           |  JOIN sc ON sc.vec_id = c.b_id
           |  WHERE c.b_id NOT IN (SELECT vec_id FROM $pv)
           |  ORDER BY sc.cq DESC, sc.vec_id LIMIT 4),
           |v$h AS MATERIALIZED (
           |  SELECT * FROM $pv UNION ALL SELECT * FROM f$h)""".stripMargin
      }
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id <> 0),
         |q AS (SELECT embedding AS q_emb FROM embeddings
         |  WHERE vec_id = 0),
         |sc AS MATERIALIZED (
         |  SELECT e.vec_id, ROUND($cosEQ, 6) AS cq
         |  FROM e CROSS JOIN q),
         |c0 AS (SELECT vec_id AS cid, embedding AS c FROM e
         |  WHERE vec_id BETWEEN 1 AND ${graft.operators.Cells.kSql("e")}),
         |s1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, cid) AS rn
         |  FROM (SELECT e.vec_id, c0.cid, e.embedding,
         |      ROUND(${LlmOps.duckCos("e.embedding", "c0.c")}, 6) AS cos
         |    FROM e CROSS JOIN c0)),
         |asg AS MATERIALIZED (SELECT vec_id, cid, embedding FROM s1
         |  WHERE rn = 1),
         |pairs AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ROUND($cosAB, 6) AS cos
         |  FROM asg a JOIN asg b
         |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
         |nb AS MATERIALIZED (
         |  SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
         |      ORDER BY cos DESC, b_id) AS rnk
         |    FROM pairs) t
         |  WHERE rnk <= 8),
         |f0 AS (SELECT vec_id, cq FROM sc WHERE vec_id = 1),
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

    // graph over the full corpus + per-query unrolled hops (windows
    // partitioned by qid), recall@5 per sampled query
    "q_ann_nsw_multi" -> {
      val cosAB = LlmOps.duckCos("a.embedding", "b.embedding")
      val cosEQ = LlmOps.duckCos("e.embedding", "qs.q_emb")
      def hop(h: Int): String = {
        val pf = s"f${h - 1}"
        val pv = s"v${h - 1}"
        s"""f$h AS MATERIALIZED (
           |  SELECT qid, vec_id, cq FROM (
           |    SELECT sc.qid, sc.vec_id, sc.cq,
           |      row_number() OVER (PARTITION BY sc.qid
           |        ORDER BY sc.cq DESC, sc.vec_id) AS rn
           |    FROM (SELECT DISTINCT $pf.qid, nb.b_id FROM nb
           |          JOIN $pf ON nb.a_id = $pf.vec_id) c
           |    JOIN sc ON sc.qid = c.qid AND sc.vec_id = c.b_id
           |    WHERE NOT EXISTS (SELECT 1 FROM $pv
           |      WHERE $pv.qid = c.qid AND $pv.vec_id = c.b_id)) t
           |  WHERE rn <= 4),
           |v$h AS MATERIALIZED (
           |  SELECT * FROM $pv UNION ALL SELECT * FROM f$h)""".stripMargin
      }
      s"""WITH qs AS (SELECT vec_id AS qid, embedding AS q_emb
         |  FROM embeddings
         |  WHERE ${graft.operators.EvalSample.sqlPred("vec_id")}),
         |sc AS MATERIALIZED (
         |  SELECT qs.qid, e.vec_id, ROUND($cosEQ, 6) AS cq
         |  FROM embeddings e CROSS JOIN qs WHERE e.vec_id <> qs.qid),
         |c0 AS (SELECT vec_id AS cid, embedding AS c FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND ${graft.operators.Cells.kSql("embeddings")}),
         |s1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, cid) AS rn
         |  FROM (SELECT e.vec_id, c0.cid, e.embedding,
         |      ROUND(${LlmOps.duckCos("e.embedding", "c0.c")}, 6) AS cos
         |    FROM embeddings e CROSS JOIN c0)),
         |asg AS MATERIALIZED (SELECT vec_id, cid, embedding FROM s1
         |  WHERE rn = 1),
         |pairs AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ROUND($cosAB, 6) AS cos
         |  FROM asg a JOIN asg b
         |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
         |nb AS MATERIALIZED (
         |  SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
         |      ORDER BY cos DESC, b_id) AS rnk
         |    FROM pairs) t
         |  WHERE rnk <= 8),
         |f0 AS (SELECT qid, vec_id, cq FROM sc WHERE vec_id = 1),
         |v0 AS (SELECT * FROM f0),
         |${hop(1)},
         |${hop(2)},
         |${hop(3)},
         |res AS (
         |  SELECT qid, vec_id, cq,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cq DESC, vec_id) AS rn
         |  FROM v3 QUALIFY rn <= 5),
         |ex AS (
         |  SELECT qid, vec_id, cq,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cq DESC, vec_id) AS rn
         |  FROM sc QUALIFY rn <= 5),
         |hits AS (
         |  SELECT res.qid,
         |    CAST(COUNT(ex.vec_id) AS BIGINT) AS n_hit,
         |    MAX(CASE WHEN res.rn = 1 THEN res.cq END) AS found_top1
         |  FROM res LEFT JOIN ex
         |    ON res.qid = ex.qid AND res.vec_id = ex.vec_id
         |  GROUP BY res.qid)
         |SELECT h.qid,
         |  ROUND(n_hit / 5.0, 2) AS recall_at_5,
         |  found_top1 AS cos_found_top1,
         |  e1.cq AS cos_exact_top1
         |FROM hits h JOIN (SELECT qid, cq FROM ex WHERE rn = 1) e1
         |  ON h.qid = e1.qid
         |ORDER BY h.qid""".stripMargin
    },

    // identical two-clustering init + one candidate-union re-rank
    "q_ann_nndescent" -> {
      val cosXY = LlmOps.duckCos("x.embedding", "y.embedding")
      s"""WITH $nndescentBaseCtes,
         |s0 AS MATERIALIZED (
         |  SELECT nba.a_id, nba.b_id,
         |    CAST(ROUND(ROUND($cosXY, 6) * 1e6) AS BIGINT) AS cu
         |  FROM nba JOIN embeddings x ON x.vec_id = nba.a_id
         |  JOIN embeddings y ON y.vec_id = nba.b_id),
         |bef AS (SELECT a_id, CAST(COUNT(*) AS BIGINT) AS n0,
         |    SUM(cu) AS su0
         |  FROM s0 GROUP BY 1),
         |aft AS (
         |  SELECT g1.a_id, CAST(COUNT(*) AS BIGINT) AS n1,
         |    SUM(g1.cu) AS su1,
         |    CAST(SUM(CASE WHEN s0.b_id IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_new
         |  FROM g1 LEFT JOIN s0
         |    ON g1.a_id = s0.a_id AND g1.b_id = s0.b_id
         |  GROUP BY 1)
         |SELECT bef.a_id AS vec_id, n1 AS n_nb,
         |  ROUND(((2 * su0 + n0) // (2 * n0)) / 1e6, 6)
         |    AS mean_cos_before,
         |  ROUND(((2 * su1 + n1) // (2 * n1)) / 1e6, 6)
         |    AS mean_cos_after,
         |  n_new AS n_replaced
         |FROM bef JOIN aft ON bef.a_id = aft.a_id
         |ORDER BY vec_id""".stripMargin
    }
  )

}
