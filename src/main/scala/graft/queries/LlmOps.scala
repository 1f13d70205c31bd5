package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** B.10 LLM-data-pipeline operators: dedup, similarity search, text
  * analysis (SURVEY.md §2; literature PAPERS.md).
  *
  * Scale design (100 TB posture, SURVEY.md §7.5):
  *  - exact dedup = hash-groupBy (shuffle on digest; partial agg).
  *  - near-dup = inverted-index (token, lang) self-join — candidates
  *    only where a token is shared; at corpus scale this is replaced
  *    by MinHash+LSH banding (q_minhash_lsh) which bounds candidate
  *    pairs per band-bucket; the exact Jaccard here is the re-rank.
  *  - cosine top-k = brute force against one broadcast query vector
  *    (linear scan, no shuffle); per-label kNN confines the quadratic
  *    self-join inside label partitions.
  *  - all doubles rounded (4/6dp) before compare (SURVEY.md §7.6).
  */
object LlmOps {

  private def toks(c: Column): Column = split(c, " ")

  /** Salt factor for low-cardinality join keys: replication is pure
    * overhead while parallelism <= natural bucket count, so scale the
    * salt with the session's shuffle partitions (1 at local[4]; ~125
    * at a 2000-partition cluster). */
  private[queries] def saltFactor(s: SparkSession): Int =
    math.max(1, s.sessionState.conf.numShufflePartitions / 16)

  /** Sum over an array<double> column (sequential fold — deterministic). */
  private def arrSum(c: Column): Column =
    aggregate(c, lit(0.0), (acc, x) => acc + x)

  /** Session-memoized ranked top-10 neighbor table
    * (a_id, a_lab, b_id, b_lab, cos, rn) — one broadcast-cross +
    * window read by q_precision_recall_k, q_ndcg, q_err_at_k, q_rbp
    * and q_mutual_knn, each paying only its own rollup.
    *
    * SAMPLING CONTRACT (r8 VERDICT task 4; absolute cap r11 task 3):
    * the QUERY side is operators/EvalSample — the deterministic
    * 1-in-17 slice CAPPED at the first maxQueries members by vec_id
    * (`vec_id % 17 = 0 AND vec_id < 17·maxQueries`). The proportional
    * slice alone keeps the pair space (corpus/17)·corpus — still
    * quadratic; the absolute cap makes it ≤ maxQueries·corpus, LINEAR
    * in the corpus. The corpus side stays exact (every query still
    * ranks against ALL vectors, so per-query metrics are unchanged —
    * only the query population is sampled), and the DuckDB oracles
    * apply the identical predicate via EvalSample.sqlPred. At 100 TB
    * the corpus side additionally routes through the IVF cells
    * (q_sim_ivf); the scoring tail here is unchanged. */
  private[graft] def rankedTop10(s: SparkSession, d: String): DataFrame =
    graft.util.SessionMemo.of(s, s"rankedTop10:$d") {
      graft.expr.Registry.ensure(s)
      val e = Tables.embeddings(s, d)
      val a = e.filter(col("vec_id") % graft.operators.EvalSample.every === 0
          && col("vec_id") < graft.operators.EvalSample.bound)
        .select(col("vec_id").as("a_id"), col("label").as("a_lab"),
        col("embedding").as("a_emb"))
      val b = e.select(col("vec_id").as("b_id"), col("label").as("b_lab"),
        col("embedding").as("b_emb"))
      val w = Window.partitionBy("a_id").orderBy(col("cos").desc, col("b_id"))
      a.join(broadcast(b), col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("a_lab"), col("b_lab"),
          round(expr("cosine_sim(a_emb, b_emb)"), 6).as("cos"), col("b_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
    }

  private def dotD(a: Column, b: Column): Column =
    arrSum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  /** Cosine similarity between two array<float> columns, computed in
    * double precision (DuckDB's list_cosine_similarity is float32 —
    * the oracle uses an explicit double formulation instead). */
  def cosine(a: Column, b: Column): Column =
    dotD(a, b) / (sqrt(dotD(a, a)) * sqrt(dotD(b, b)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .select(md5(lower(trim(col("text")))).as("h"), col("doc_id"))
        .groupBy("h")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
        .orderBy("keep_id")),

    // Exact set-similarity self-join over hashed token sets at τ=0.8,
    // routed through SetSimJoin.auto: cheap corpus stats pick among the
    // PPJoin prefix strategy (sparse vocab — the default 100 TB shape:
    // df-packed global order + prefix/length/positional filters +
    // narrow packed-pair shuffle + codegen'd merge verify + adaptive
    // salt), co-occurrence counting (dense vocab), and the direct
    // broadcast-intersect probe (corpus fits an executor — this
    // corpus' 31-word vocabulary lands here). Identical exact results
    // whichever is picked (ShingleSpec).
    // Served from the memoized edge layer (operators/EdgeGraph):
    // q_pagerank consumes the same (token, τ=0.8) pair table, so the
    // derivation runs once per session.
    "q_dedup_near_jaccard" -> ((s, d) =>
      graft.operators.EdgeGraph.pairs(s, d, "token", 0.8)),

    // Weighted rerank of the dedup candidate set: the memoized τ=0.8
    // token-Jaccard pairs re-scored by tf-idf cosine — the candidate-
    // then-rerank composition every production near-dup pipeline runs
    // (cheap set filter proposes, the weighted model disposes). Term
    // weights tf·ln(N/df) snap to the milli-grid so per-pair dots and
    // per-doc norms aggregate as exact longs (sums stay ≤ ~1e12);
    // candidates and the term index both come from session memos, so
    // this key pays only the rerank joins. Top-50 via TakeOrdered.
    "q_tfidf_rerank" -> ((s, d) => {
      val pairs = graft.operators.EdgeGraph.pairs(s, d, "token", 0.8)
        .select("a_id", "b_id")
      val tf = graft.operators.EdgeGraph.termFreq(s, d)
        .select(col("doc_id"), col("term"), col("tf_raw"))
      val nd = tf.agg(countDistinct("doc_id").cast("double").as("nd"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      // only docs that appear in a candidate pair need weights — the
      // semi-join cuts the weight table from corpus-grain to the
      // candidate population BEFORE it materializes (solo cost 14s →
      // the rerank joins alone when restricted). No broadcast hints:
      // pairDocs (candidate-pair doc population) and dfT (the whole
      // vocabulary) both grow with the corpus, so a forced broadcast
      // blows the driver at scale — AQE promotes either side to
      // broadcast at runtime whenever it measures small. nd is a
      // 1-row literal, the one crossJoin broadcast that is always safe.
      val pairDocs = pairs
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .distinct()
      // r14 opt (guide §2.3 "shuffle keys and metadata instead of
      // payloads", §3.3 "explode before a join multiplies the
      // shuffle"; profile in OPTIMIZATION_r14.md §8): the old shape
      // joined pairs (759 k) to per-term weight rows on a_id — a
      // ~15 M-row pair×term intermediate — then shuffled THAT on
      // (b_id, term) and re-aggregated back to pair grain (~4 s of the
      // ~4.7 s key). Instead pack each candidate doc's (term, w_m)
      // rows ONCE into a term-sorted array + its exact norm, join
      // pairs to two packed payloads (pair-grain rows only, no
      // explosion, one fewer exchange and no re-agg), and compute the
      // dot with the codegen'd sorted_dot merge walk — exact long
      // arithmetic, so the result is bit-identical to the
      // groupBy-sum it replaces (every τ=0.8 pair shares ≥1 token, so
      // both shapes emit every pair; zero-weight terms contribute 0
      // either way). Oracle unchanged and green.
      graft.expr.Registry.ensure(s)
      val wp = tf.join(pairDocs, Seq("doc_id"), "left_semi")
        .join(dfT, "term").crossJoin(broadcast(nd))
        .withColumn("w_m",
          round(col("tf_raw") * log(col("nd") / col("df")) * 1e3).cast("long"))
        .groupBy("doc_id")
        .agg(array_sort(collect_list(struct(col("term"), col("w_m")))).as("tw"),
          sum(col("w_m") * col("w_m")).as("n2"))
        .localCheckpoint(eager = true) // both pair-side joins read it
      pairs
        .join(wp.select(col("doc_id").as("a_id"), col("tw").as("a_tw"),
          col("n2").as("na")), "a_id")
        .join(wp.select(col("doc_id").as("b_id"), col("tw").as("b_tw"),
          col("n2").as("nb")), "b_id")
        .select(col("a_id"), col("b_id"),
          round(expr("sorted_dot(a_tw, b_tw)") / (sqrt(col("na").cast("double"))
            * sqrt(col("nb").cast("double"))), 6).as("cos_tfidf"))
        .orderBy(col("cos_tfidf").desc, col("a_id"), col("b_id"))
        .limit(50)
    }),

    "q_sim_cosine_topk" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), round(expr("cosine_sim(embedding, q_emb)"), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    }),

    // Matryoshka truncation audit (Kusupati et al.): retrieval quality
    // of prefix-truncated embeddings — top-10 recall vs the full-dim
    // ranking and the mean top-10 cosine at dims {8,16,32,64}. The
    // per-(vector, dim) cosine is ONE projection pass over broadcast
    // q (no self-join); top-10s come from a per-dim window; means ride
    // the µ-snapped integer grid. This is the dial a 100 TB ANN
    // deployment reads before shipping short-prefix indexes.
    "q_matryoshka_trunc" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      val cosAll = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), explode(expr("array(8, 16, 32, 64)")).as("k_dim"),
          col("embedding"), col("q_emb"))
        .select(col("vec_id"), col("k_dim"),
          round(expr(
            "cosine_sim(slice(embedding, 1, k_dim), slice(q_emb, 1, k_dim))"),
            6).as("cos"))
      val w = Window.partitionBy("k_dim").orderBy(col("cos").desc, col("vec_id"))
      val topk = cosAll.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .localCheckpoint(eager = true) // bounded 40 rows, 2 consumers
      val full = topk.filter(col("k_dim") === 64)
        .select(col("vec_id").as("fv"))
      topk.join(broadcast(full), col("vec_id") === col("fv"), "left")
        .groupBy("k_dim")
        .agg((sum(when(col("fv").isNotNull, 1L).otherwise(0L)) / lit(10.0))
          .as("recall10"),
          round(sum(round(col("cos") * 1e6).cast("long")) / lit(1e7), 6)
            .as("mean_cos_top10"))
        .orderBy("k_dim")
    }),

    // Exact per-vector top-3 within label, routed through IVF cells
    // (r5, VERDICT item 4 — the old within-label brute force planned a
    // per-label quadratic self-join; at 100× rows that is 10⁴× the
    // pair work). Shape:
    //  (1) per-label coarse quantizer: 4 seed vectors (deterministic:
    //      smallest vec_ids; a production pipeline samples), packed
    //      into one broadcast row per label;
    //  (2) cell assignment as a PURE PROJECTION over the broadcast
    //      seeds (the q_kmeans shape — vectors never shuffle for it);
    //  (3) k-th candidate from the OWN cell only (quadratic confined
    //      to cells — 16× less pair work than label-wide);
    //  (4) cell pruning with a SOUND cosine bound: for any member x of
    //      cell C, angle(a,x) ≥ angle(a,seed_C) − radius_C (angular
    //      triangle inequality), so cos(a,x) ≤ cos(max(0, θ−r)). A
    //      cell is probed only if that bound reaches the own-cell
    //      k-th score — compared on the 6dp-rounded grid with an ε
    //      margin, so a pruned cell provably cannot supply a top-3
    //      row even on rounded ties (row_number ties break by b_id,
    //      which only matters between rows of EQUAL rounded score —
    //      and equal-rounded-score rows are never pruned);
    //  (5) exact re-rank over the probed cells' members.
    // The exhaustive within-label formulation remains the oracle, so
    // exactness of the pruning is hash-checked every round. Fallback:
    // a vector with < 3 own-cell neighbors has no k-th score and
    // probes all its label's cells (the brute-force degenerate case).
    "q_knn_per_label" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val k = 3
      val e = Tables.embeddings(s, d)
      // cells per label from a one-row (count, |labels|) agg — bounded
      // by design (operators/Cells, r11 VERDICT task 2). The routing
      // is EXACT for any cellsK (angular bound below), so the
      // exhaustive oracle needs no k at all.
      val cellsK = {
        val r = e.agg(count(lit(1)), countDistinct(col("label"))).head
        graft.operators.Cells.kPerLabel(r.getLong(0), r.getLong(1))
      }
      def angle(c: Column): Column = acos(least(greatest(c, lit(-1.0)), lit(1.0)))
      val wSeed = Window.partitionBy("label").orderBy("vec_id")
      val seeds = e.withColumn("cell", row_number().over(wSeed))
        .filter(col("cell") <= cellsK)
        .select(col("label"), col("cell"), col("embedding").as("c_emb"))
      val packed = seeds.groupBy("label")
        .agg(array_sort(collect_list(struct(col("cell"), col("c_emb")))).as("cents"))
      // cosine to every seed + argmax in one codegen'd projection;
      // try_element_at: a small label has < cellsK seeds, and the null
      // (cs, negcell) candidate sorts below every real one
      val csCols = (1 to cellsK).map { i =>
        expr(s"cosine_sim(embedding, try_element_at(cents, $i).c_emb)").as(s"cs$i")
      }
      val best = greatest((1 to cellsK).map { i =>
        struct(col(s"cs$i").as("cs"), lit(-i).as("negcell"))
      }: _*)
      val assigned = e.join(broadcast(packed), "label")
        .select(Seq(col("label"), col("vec_id"), col("embedding")) ++ csCols: _*)
        .withColumn("best", best)
        .withColumn("cell", -col("best.negcell"))
        .withColumn("own_cs", col("best.cs"))
        .drop("best")
        // five consumers below — materialize the assignment once;
        // localCheckpoint, not persist: blocks are freed when the
        // frame is unreferenced instead of pinning the CacheManager
        // across reruns (r6, ADVICE)
        .localCheckpoint(true)
      val radii = assigned.groupBy("label", "cell")
        .agg(max(angle(col("own_cs"))).as("r"))
      val members = assigned.select(col("label").as("lb"), col("cell").as("cb"),
        col("vec_id").as("b_id"), col("embedding").as("b_emb"))
      // own-cell k-th score (unrounded; ties make position k's VALUE
      // deterministic regardless of tie order)
      val wOwn = Window.partitionBy("a_id").orderBy(col("cos").desc)
      val kth = assigned
        .select(col("label"), col("cell"), col("vec_id").as("a_id"),
          col("embedding").as("a_emb"))
        .join(members,
          col("label") === col("lb") && col("cell") === col("cb") &&
          col("a_id") =!= col("b_id"))
        .select(col("a_id"), expr("cosine_sim(a_emb, b_emb)").as("cos"))
        .withColumn("rn", row_number().over(wOwn))
        .filter(col("rn") === k)
        .select(col("a_id"), col("cos").as("kth"))
      // (a, cell) probe set: own cell always survives (bound = 1)
      val csStack = assigned.select(col("label"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"),
        expr(s"stack($cellsK, ${(1 to cellsK).map(i => s"$i, cs$i").mkString(", ")}) AS (cell, cs)"))
        .select(col("label"), col("a_id"), col("a_emb"), col("cell"), col("cs"))
      val probes = csStack
        .join(broadcast(radii), Seq("label", "cell"))
        .join(kth, Seq("a_id"), "left")
        .filter(col("kth").isNull ||
          round(cos(greatest(lit(0.0), angle(col("cs")) - col("r"))) + lit(1e-9), 6)
            >= round(col("kth"), 6))
        .select(col("label"), col("cell"), col("a_id"), col("a_emb"))
      val cand = probes.join(members,
          col("label") === col("lb") && col("cell") === col("cb") &&
          col("a_id") =!= col("b_id"))
        .select(col("label"), col("a_id"), col("b_id"),
          round(expr("cosine_sim(a_emb, b_emb)"), 6).as("cos"))
      val w = Window.partitionBy("a_id").orderBy(col("cos").desc, col("b_id"))
      cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("label", "a_id", "b_id", "cos", "rn")
        .orderBy("a_id", "rn")
    }),

    // Embedding-cosine near-duplicate pairs (the semantic-dedup mode).
    // r10 VERDICT task 3: the old label-blocked self-join was
    // quadratic WITHIN label — at 100 TB with bounded label
    // cardinality that's corpus²/|labels|. Now routed through the
    // same per-label seeded-cell assignment as q_knn_per_label: each
    // vector probes only cells whose SOUND cosine bound can reach τ
    // (angular triangle inequality: for any member x of cell C,
    // angle(a,x) ≥ angle(a,seed_C) − radius_C, so cos(a,x) ≤
    // cos(max(0, θ−r)); a pair (a,b) with cos ≥ τ forces a's bound on
    // cell(b) ≥ τ, so the probe always survives — the 1e-9 margin
    // covers acos/cos roundoff). Extra probes only add candidates the
    // exact `c ≥ τ` filter removes, so the pair set is IDENTICAL to
    // the exhaustive within-label join (the oracle, hash-checked).
    // Documented residual: at this low τ (0.3 ⇒ θ ≈ 72°) wide cells
    // prune weakly, so the win over label-blocking tracks cluster
    // quality; at production τ (≥ 0.7, the semantic-dedup regime) and
    // k ∝ corpus/cell-budget cells, pruning is sharp and pair work is
    // per-cell — the same bound, no code change.
    "q_dedup_embed" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val tau = 0.3
      val e = Tables.embeddings(s, d)
      // cells per label from a one-row (count, |labels|) agg — bounded
      // by design (operators/Cells): pair work stays per-cell-bounded
      // at any corpus scale, and the pair set stays IDENTICAL to the
      // exhaustive oracle for any cellsK (sound bound below)
      val cellsK = {
        val r = e.agg(count(lit(1)), countDistinct(col("label"))).head
        graft.operators.Cells.kPerLabel(r.getLong(0), r.getLong(1))
      }
      def angle(c: Column): Column =
        acos(least(greatest(c, lit(-1.0)), lit(1.0)))
      val wSeed = Window.partitionBy("label").orderBy("vec_id")
      val seeds = e.withColumn("cell", row_number().over(wSeed))
        .filter(col("cell") <= cellsK)
        .select(col("label"), col("cell"), col("embedding").as("c_emb"))
      val packed = seeds.groupBy("label")
        .agg(array_sort(collect_list(struct(col("cell"), col("c_emb"))))
          .as("cents"))
      val csCols = (1 to cellsK).map { i =>
        expr(s"cosine_sim(embedding, try_element_at(cents, $i).c_emb)")
          .as(s"cs$i")
      }
      val best = greatest((1 to cellsK).map { i =>
        struct(col(s"cs$i").as("cs"), lit(-i).as("negcell"))
      }: _*)
      val assigned = e.join(broadcast(packed), "label")
        .select(Seq(col("label"), col("vec_id"), col("embedding")) ++ csCols: _*)
        .withColumn("best", best)
        .withColumn("cell", -col("best.negcell"))
        .withColumn("own_cs", col("best.cs"))
        .drop("best")
        .localCheckpoint(true)
      val radii = assigned.groupBy("label", "cell")
        .agg(max(angle(col("own_cs"))).as("r"))
      val members = assigned.select(col("label").as("lb"),
        col("cell").as("cb"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"))
      // (a, cell) probe set: own cell has θ ≤ r so its bound is cos(0)
      val csStack = assigned.select(col("label"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"),
        expr(s"stack($cellsK, ${(1 to cellsK).map(i => s"$i, cs$i").mkString(", ")}) AS (cell, cs)"))
        .select(col("label"), col("a_id"), col("a_emb"), col("cell"), col("cs"))
      val probes = csStack
        .join(broadcast(radii), Seq("label", "cell"))
        .filter(cos(greatest(lit(0.0), angle(col("cs")) - col("r"))) + lit(1e-9)
          >= lit(tau))
        .select(col("label"), col("cell"), col("a_id"), col("a_emb"))
      probes.join(members,
          col("label") === col("lb") && col("cell") === col("cb") &&
          col("a_id") < col("b_id"))
        .withColumn("c", expr("cosine_sim(a_emb, b_emb)"))
        .filter(col("c") >= tau)
        .select(col("a_id"), col("b_id"), round(col("c"), 6).as("cos"))
        .orderBy("a_id", "b_id")
    }),

    // SemDeDup-style cluster-level semantic dedup (r5): assign every
    // vector to one of k=4 coarse clusters (broadcast packed seeds,
    // projection-only argmax — the q_kmeans shape), then inside each
    // cluster drop any vector whose cosine to a PRIOR member (lower
    // vec_id — the deterministic stand-in for "keep the first seen")
    // reaches τ. This is the resolution step q_dedup_embed's pair list
    // feeds in a real pipeline, confined to clusters so the pair space
    // is corpus/k per bucket, not corpus² — and at scale the cluster
    // key is the IVF cell. Cosines round to 6dp BEFORE the max so the
    // τ compare is grid-exact in both engines.
    "q_semdedup" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      // τ picked from this corpus' prior-cos distribution (p99 ≈ 0.47):
      // ~2% of vectors drop — the realistic semantic-dedup rate; both
      // engines compare the same 6dp-rounded grid so the boundary is
      // exact
      val tau = 0.45
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // cluster count from the footer row count — operators/Cells
      // keeps per-cluster size ≈ budget; the oracle computes the
      // identical k in SQL
      val k = graft.operators.Cells.k(Tables.rowCount(s, d, "embeddings"))
      val packed = e.filter(col("vec_id").between(1, k))
        .select(col("vec_id").as("cid"), col("embedding").as("c"))
        .agg(array_sort(collect_list(struct(col("cid"), col("c")))).as("cents"))
      val cand = (1 to k).map { i =>
        struct(
          round(expr(s"cosine_sim(embedding, try_element_at(cents, $i).c)"), 6).as("cs"),
          (-expr(s"try_element_at(cents, $i).cid")).as("negcid"))
      }
      val assigned = e.crossJoin(broadcast(packed))
        .withColumn("best", greatest(cand: _*))
        .select(col("vec_id"), (-col("best.negcid")).as("cid"), col("embedding"))
      val prior = assigned.select(col("cid").as("cid_b"),
        col("vec_id").as("b_id"), col("embedding").as("b_emb"))
      assigned.join(prior,
          col("cid") === col("cid_b") && col("b_id") < col("vec_id"), "left")
        .withColumn("cs", round(expr("cosine_sim(embedding, b_emb)"), 6))
        .groupBy("vec_id", "cid")
        .agg(max("cs").as("max_prior_cos"))
        .withColumn("keep",
          col("max_prior_cos").isNull || col("max_prior_cos") < tau)
        .select("vec_id", "cid", "max_prior_cos", "keep")
        .orderBy("vec_id")
    }),

    // Embedding-norm QA (r5): per-vector L2 norm with per-label
    // z-scores — the vector-sanity audit (collapsed or exploded norms
    // signal a broken encoder run) an embedding pipeline runs before
    // indexing. Norms fold the array sequentially (identical order in
    // both engines → identical doubles); the per-label moments are a
    // bounded broadcastable table (one row per label, §7.5).
    "q_embed_norm" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val norms = e.select(col("label"), col("vec_id"),
        sqrt(aggregate(col("embedding"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double"))).as("nrm"))
      val st = norms.groupBy("label")
        .agg(avg("nrm").as("mu"), stddev_samp("nrm").as("sd"))
      norms.join(broadcast(st), "label")
        .select(col("label"), col("vec_id"), round(col("nrm"), 6).as("nrm"),
          round((col("nrm") - col("mu")) / col("sd"), 4).as("z"),
          (abs(col("nrm") - col("mu")) > lit(2.0) * col("sd")).as("outlier"))
        .orderBy("vec_id")
    }),

    // int8 scalar quantization per embedding (the standard ANN
    // compression: 4x smaller vectors, codes reconstruct within
    // scale/2) — min/max calibration per vector, codes emitted as a
    // joined string (array outputs crash the driver comparator).
    "q_vec_quantize" -> ((s, d) =>
      Tables.embeddings(s, d)
        .withColumn("dd", expr("transform(embedding, x -> cast(x as double))"))
        .withColumn("mn", array_min(col("dd")))
        .withColumn("mx", array_max(col("dd")))
        .withColumn("scale", (col("mx") - col("mn")) / 255.0)
        .select(col("vec_id"),
          round(col("mn"), 6).as("mn"),
          round(col("mx"), 6).as("mx"),
          // scale = 0 (constant vector) would make every code 0/0 =
          // NaN — and the engines disagree on CAST(NaN AS INT), so the
          // degenerate case must be guarded identically on both sides
          array_join(expr(
            "transform(dd, x -> cast((case when scale = 0D then 0 " +
            "else cast(round((x - mn) / scale, 0) as int) end) as string))"),
            ",").as("codes"))
        .orderBy("vec_id")),

    // Per-dimension distribution profile of the embedding corpus (the
    // drift/collapse check an embedding pipeline runs per batch: a
    // dimension whose variance collapses or mean drifts flags a bad
    // encoder rollout). Slice-before-explode is unnecessary here —
    // all 64 dims are wanted — so this is one posexplode into a
    // 64-group partial agg; output is dim-bounded (64 rows) at any
    // corpus size.
    "q_embed_dimstats" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("x", col("x").cast("double"))
        .groupBy("dim")
        .agg(round(avg("x"), 6).as("mu"),
          round(stddev_samp("x"), 6).as("sd"),
          round(min("x"), 6).as("mn"),
          round(max("x"), 6).as("mx"))
        .orderBy("dim")),

    // Distributed PCA, top component: the Gram matrix accumulates in
    // ONE partial-agg pass over an exploded upper-triangle (i, j,
    // xi*xj) stream — dim²-bounded state (64x64), corpus-size
    // independent, the textbook tall-skinny covariance shape. The
    // 2 080-entry Gram table and 64 means are BOUNDED scalars (the CC
    // convergence-counter precedent, §7.5): eigen-solving them on the
    // driver is O(dim²) work on dim²-sized data, not a data collect.
    // Power iteration (200 steps, fixed init, sign-canonicalized)
    // is deterministic; Gram sums are rounded 6dp before the solve so
    // shuffle-order double noise cannot reach the eigenvector. Scores
    // then project each row against the broadcast-literal component.
    // No DuckDB oracle (no eigensolver there): R6OpsSpec pins the
    // eigenpair residual, explained-variance bounds, and projection
    // equivalence on a collected re-computation.
    "q_embed_pca" -> ((s, d) => {
      // r14 opt: fan out the single-file scan (util.Par) — the dim²
      // upper-triangle explode (2 080 structs per row) and its partial
      // aggregation otherwise run in one task
      val e = graft.util.Par.fanOut(Tables.embeddings(s, d))
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
      val gramRows = e.select(explode(expr(
          "flatten(transform(v, (xi, i) -> " +
          "transform(slice(v, i + 1, size(v) - i), (xj, j) -> " +
          "named_struct('i', i, 'j', i + j, 'p', xi * xj))))")).as("t"))
        .groupBy(col("t.i").as("i"), col("t.j").as("j"))
        .agg(sum("t.p").as("sp"))
        .collect()
      val muRows = e.select(posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("i").agg(avg("x").as("mu"), count(lit(1)).as("n"))
        .collect()
      val dim = muRows.length
      val n = muRows.head.getAs[Long]("n").toDouble
      val mu = Array.ofDim[Double](dim)
      muRows.foreach(r => mu(r.getAs[Int]("i")) = r.getAs[Double]("mu"))
      val cov = Array.ofDim[Double](dim, dim)
      gramRows.foreach { r =>
        val (i, j) = (r.getAs[Int]("i"), r.getAs[Int]("j"))
        val c = math.rint((r.getAs[Double]("sp") / n - mu(i) * mu(j)) * 1e6) / 1e6
        cov(i)(j) = c; cov(j)(i) = c
      }
      var vec = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
      var lambda = 0.0
      for (_ <- 1 to 200) {
        val av = Array.tabulate(dim)(i =>
          (0 until dim).foldLeft(0.0)((a, j) => a + cov(i)(j) * vec(j)))
        lambda = math.sqrt(av.map(x => x * x).sum)
        vec = av.map(_ / lambda)
      }
      val pivot = vec.indices.maxBy(i => math.abs(vec(i)))
      if (vec(pivot) < 0) { vec = vec.map(-_); () }
      val trace = (0 until dim).map(i => cov(i)(i)).sum
      val pc = array(vec.map(x => lit(math.rint(x * 1e6) / 1e6)): _*)
      val muDot = vec.zip(mu).map { case (a, b) => a * b }.sum
      e.withColumn("pc", pc)
        .select(col("vec_id"),
          round(expr("aggregate(zip_with(v, pc, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")
            .minus(lit(muDot)), 4).as("score"),
          lit(math.rint(lambda / trace * 1e4) / 1e4).as("explained"))
        .orderBy(abs(col("score")).desc, col("vec_id"))
        .limit(10)
    }),

    // Cluster-resolution keep-best: the step after dedup resolution a
    // curation pipeline actually ships — per near-dup cluster, keep
    // the highest-quality member (char mass; doc_id tiebreak), not
    // the arbitrary min-id representative q_dedup_components reports.
    // Consumes the session-memoized EdgeGraph resolution (labels
    // materialize once per session), one label-partitioned window.
    // No DuckDB oracle (needs the CC resolution): R6OpsSpec pins the
    // argmax invariant, the cluster partition, and corpus coverage.
    "q_dedup_keep_best" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      import org.apache.spark.sql.expressions.Window
      val labels = graft.operators.EdgeGraph.components(s, d, "bigram", 0.3)
      val q = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").as("quality"))
      val best = Window.partitionBy("label")
        .orderBy(col("quality").desc, col("doc_id"))
      labels.join(q, "doc_id")
        .withColumn("rk", row_number().over(best))
        .withColumn("n_members", count(lit(1)).over(Window.partitionBy("label")))
        .filter(col("rk") === 1)
        .select(col("label").as("cluster_id"), col("doc_id").as("kept_doc"),
          col("n_members"), col("quality").as("best_quality"))
        .orderBy("cluster_id")
    }),

    "q_vec_centroid" -> ((s, d) =>
      Tables.embeddings(s, d)
        // slice BEFORE exploding: only the 4 requested dims leave the
        // row (16x fewer exploded rows than explode-then-filter)
        .select(col("label"), posexplode(slice(col("embedding"), 1, 4)).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(round(avg(col("v").cast("double")), 6).as("centroid"))
        .orderBy("label", "dim")),

    "q_text_stats" -> ((s, d) => {
      val doc = Tables.documents(s, d)
      val base = doc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("n_chars"), 4).as("avg_chars"),
          round(avg(size(toks(col("text"))).cast("double")), 4).as("avg_toks"))
      val vocab = doc
        .select(col("lang"), explode(array_distinct(toks(col("text")))).as("tok"))
        .groupBy("lang")
        .agg(countDistinct("tok").as("n_vocab"))
      base.join(vocab, "lang").orderBy("lang")
    }),

    "q_tfidf_top" -> ((s, d) => {
      graft.expr.Registry.ensure(s) // RewriteWindowTopK for the top-5 window
      val doc = Tables.documents(s, d)
      // corpus size as a broadcast single-row side — no eager driver
      // count at plan-build time; the whole query stays one lazy plan
      val nd = doc.agg(count(lit(1)).cast("double").as("n_corpus"))
      // both the df table and the scoring join consume tf; served from
      // the session-memoized term index (operators/EdgeGraph.termFreq)
      // — computed once per (session, sfDir), no per-call persist to
      // leak cache blocks across bench/verify reruns (r6)
      val tf = graft.operators.EdgeGraph.termFreq(s, d)
      val df_ = tf.groupBy("term").agg(countDistinct("doc_id").as("df"))
        .crossJoin(broadcast(nd))
        .withColumn("idf", log(col("n_corpus") / col("df")))
        .drop("n_corpus")
      // NO broadcast hint on df_: its cardinality is the corpus
      // VOCABULARY, which does not fit an executor at corpus scale —
      // let AQE pick from runtime stats (it still broadcasts at test
      // sf, so the local plan is unchanged). See SURVEY §7.5.
      val scored = tf.join(df_, "term")
        .withColumn("tfidf", col("tf") * col("idf"))
        .groupBy("lang", "term")
        .agg(round(avg("tfidf"), 6).as("score"))
      val w = Window.partitionBy("lang").orderBy(col("score").desc, col("term"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("lang", "term", "score", "rn")
        .orderBy("lang", "rn")
    }),

    // BM25 retrieval scoring (Okapi, k1=1.2 b=0.75): a literal
    // query-term table scores the corpus and keeps the top-10 docs
    // per query — the relevance-mining shape (quality filtering /
    // targeted subset selection) a training pipeline runs against its
    // own corpus. tf/dlen come from the session-memoized term index;
    // the vocab-sized df table is pruned to the QUERY terms before it
    // ever meets the corpus, idf + avgdl fold into one 8-row broadcast
    // side, so the fact table is probed exactly once with no shuffle
    // on the scoring join; ranking is a per-query window over the
    // pre-aggregated (query, doc) scores — |queries|·|docs| rows
    // bounded by the top-k filter.
    "q_bm25_topk" -> ((s, d) => {
      import s.implicits._
      graft.expr.Registry.ensure(s) // RewriteWindowTopK for the top-10 window
      val tf = graft.operators.EdgeGraph.termFreq(s, d)
      val corpus = Tables.documents(s, d)
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).as("sum_dl"))
      val qterms = Seq((1, "spark"), (1, "join"), (1, "hash"),
          (2, "stream"), (2, "window"), (2, "batch"),
          (3, "vector"), (3, "scan")).toDF("qid", "term")
      val df_ = tf.groupBy("term").agg(countDistinct("doc_id").as("df"))
      val probe = df_.join(broadcast(qterms), "term")
        .crossJoin(broadcast(corpus))
        .withColumn("idf", log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
        .select("term", "qid", "idf", "avgdl")
      val scored = tf.join(broadcast(probe), "term")
        .withColumn("w", col("idf") * col("tf_raw") * lit(2.2) /
          (col("tf_raw") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dlen") / col("avgdl"))))
        .groupBy("qid", "doc_id")
        .agg(round(sum("w"), 6).as("score"))
      val w = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select("qid", "doc_id", "score", "rn")
        .orderBy("qid", "rn")
    }),

    // Embedding-space isotropy audit (the Ethayarajh/Mu-Viswanath
    // anisotropy check a retrieval stack runs before trusting cosine):
    // mean cosine over DETERMINISTIC strided pairs (i ↔ (i+k) mod N
    // for k ∈ {1, 7, 49} — stratified across the id space, no RNG), a
    // high mean meaning the space collapses toward a common direction.
    // Per-pair cosines µ-snap before the sum; the self-join is three
    // equi-joins on the shifted id, never a sampling pass. Reports the
    // mean, the |cos| mean, and the >0.5 concentration share.
    "q_emb_isotropy" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val n = e.agg(count(lit(1)).as("n_vecs"))
      val shifted = e.crossJoin(broadcast(n))
        .select(col("vec_id"), col("embedding"), col("n_vecs"),
          explode(expr("array(1L, 7L, 49L)")).as("k"))
        .withColumn("pid", pmod(col("vec_id") + col("k"), col("n_vecs")))
      val pairs = shifted.join(
          e.select(col("vec_id").as("pid"), col("embedding").as("p_emb")),
          "pid")
        .filter(col("vec_id") =!= col("pid"))
        .withColumn("cos_u",
          round(expr("cosine_sim(embedding, p_emb)") * 1e6).cast("long"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          round(sum("cos_u") / count(lit(1)) / 1e6, 6).as("mean_cos"),
          round(sum(abs(col("cos_u"))) / count(lit(1)) / 1e6, 6)
            .as("mean_abs_cos"),
          round(sum(when(col("cos_u") > 500000L, 1L).otherwise(0L))
            / count(lit(1)).cast("double"), 6).as("share_gt_half"))
    }),

    // BM25 + pseudo-relevance feedback (Rocchio PRF — the classic
    // two-round IR loop): round 1 ranks with the base query, the top-5
    // docs are taken as pseudo-relevant, the 3 strongest NEW terms in
    // them (by summed µ-snapped BM25 weight) expand the query at half
    // weight, and round 2 re-ranks. Every per-term contribution snaps
    // to the µ-grid BEFORE any per-doc or per-term sum (6-term sums of
    // raw doubles would be partial-agg-order-dependent); both rounds
    // run off the memoized term index with broadcast probes, and the
    // expansion-term scan is vocab-bounded.
    "q_bm25_prf" -> ((s, d) => {
      import s.implicits._
      graft.expr.Registry.ensure(s)
      val tf = graft.operators.EdgeGraph.termFreq(s, d)
      val corpus = Tables.documents(s, d)
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).as("sum_dl"))
      val dfAll = tf.groupBy("term").agg(countDistinct("doc_id").as("df"))
      // µ-snapped BM25 weight of every (doc, term) — vocab-grain probe
      val wAll = tf.join(broadcast(dfAll), "term")
        .crossJoin(broadcast(corpus))
        .withColumn("idf", log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .withColumn("w_u", round(col("idf") * col("tf_raw") * lit(2.2) /
          (col("tf_raw") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dlen")
            / (col("sum_dl").cast("double") / col("n_docs")))) * 1e6)
          .cast("long"))
        .select("doc_id", "term", "w_u")
        .localCheckpoint(eager = true) // round 1, expansion, round 2
      val q0 = Seq("spark", "join", "hash").toDF("term")
      val top5 = wAll.join(broadcast(q0), "term")
        .groupBy("doc_id").agg(sum("w_u").as("s_u"))
        .orderBy(col("s_u").desc, col("doc_id")).limit(5)
        .select(col("doc_id").as("rel_id"))
      val expansion = wAll
        .join(broadcast(top5), col("doc_id") === col("rel_id"))
        .join(broadcast(q0.withColumn("is_q", lit(1))), Seq("term"), "left_anti")
        .groupBy("term").agg(sum("w_u").as("e_u"))
        .orderBy(col("e_u").desc, col("term")).limit(3)
        .select(col("term"), lit(500000L).as("qw_u")) // half weight, µ-grid
      val q2 = q0.select(col("term"), lit(1000000L).as("qw_u"))
        .unionByName(expansion)
      wAll.join(broadcast(q2), "term")
        // qw_u/1e6 ∈ {1, 0.5} exactly — the scaled term stays µ-exact
        // (integer div: both engines floor identically on positives)
        .withColumn("c_u", expr("(w_u * qw_u) div 1000000"))
        .groupBy("doc_id").agg(sum("c_u").as("s_u"))
        .orderBy(col("s_u").desc, col("doc_id")).limit(10)
        // bounded grain: ranks the 10-row limit output
        .withColumn("rn", row_number().over(
          Window.orderBy(col("s_u").desc, col("doc_id"))))
        .select(col("doc_id"), round(col("s_u") / 1e6, 6).as("score"),
          col("rn"))
        .orderBy("rn")
    }),

    // Sequence packing (concat-and-chunk): assign documents to fixed
    // token-budget training bins (512 tokens) in deterministic
    // (lang, doc_id) order — the step that turns a filtered corpus
    // into packed training sequences. r10 VERDICT task 2: the old
    // per-lang window cumsum put a whole language in ONE task (~5
    // langs over a 100 TB corpus). Now the running token count is a
    // range-partitioned GLOBAL prefix sum over (lang, doc_id) order
    // (operators/PrefixSum — parallel across the corpus), and the
    // per-lang view is recovered by subtracting each language's
    // exclusive offset (a ≤|langs|-row broadcast). Long addition is
    // associative, so the bins are bit-identical to the windowed form.
    "q_pack_sequences" -> ((s, d) => {
      val sized = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(toks(col("text"))).cast("long").as("n_toks"))
      val cum = graft.operators.PrefixSum.rankAndCumSum(sized,
        Seq(col("lang"), col("doc_id")), col("n_toks"), "__rn", "__gcum")
      val offs = cum.groupBy("lang").agg(sum("n_toks").as("__ls"))
        // bounded grain: ≤|langs| rows (one per language)
        .withColumn("__loff", coalesce(sum("__ls").over(
          Window.orderBy("lang")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("lang", "__loff")
      cum.join(broadcast(offs), "lang")
        // per-lang EXCLUSIVE cumsum = global inclusive − lang offset − own
        .withColumn("bin",
          ((col("__gcum") - col("__loff") - col("n_toks")) / 512).cast("int"))
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("lang", "bin")
    }),

    // Text quality scoring: deterministic per-doc heuristics of the
    // kind a pretraining pipeline filters on.
    "q_text_quality" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(toks(col("text"))).as("n_toks"),
          length(col("text")).as("text_len"),
          round(length(regexp_replace(col("text"), "[^ ]", "")).cast("double")
            / length(col("text")), 6).as("space_ratio"),
          round(length(col("text")).cast("double") / size(toks(col("text"))), 6)
            .as("avg_tok_len"))
        .orderBy("doc_id")),

    // Spherical k-means (Lloyd's) over the embedding corpus: k=4
    // centroids seeded deterministically from vec_id 1..4, two fixed
    // iterations, cosine assignment. The semantic-clustering primitive
    // a pretraining pipeline uses for topic balancing / cluster-level
    // dedup. Scale shape (the MLlib shape in DataFrame form): the k
    // centroids are packed into ONE broadcast row, the per-vector
    // argmax is k unrolled codegen'd cosine columns + `greatest` over
    // (cos, -cid) structs — the vectors are NEVER shuffled; the only
    // exchange per iteration is the centroid update's k×dim partial
    // sums. Cosines round to 6dp BEFORE the argmax so near-ties
    // resolve by the cid tiebreak identically in both engines; updated
    // centroids re-cast to float32 (IEEE, identical cross-engine) to
    // stay in cosine_sim's input domain.
    "q_kmeans" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val k = 4
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // assignment is a pure projection: no shuffle, stays in one
      // whole-stage-codegen span (freshName'd cosine locals — k fused
      // instances must not collide)
      def assign(cents: DataFrame): DataFrame = {
        val packed = cents
          .agg(array_sort(collect_list(struct(col("cid"), col("c")))).as("cents"))
        // try_element_at: a cluster can empty out mid-iteration, which
        // shrinks the packed array — ANSI cents[i] would THROW, while a
        // null entry yields a (null, null) struct that sorts below every
        // real candidate and is never picked by greatest
        val cand = (0 until k).map { i =>
          struct(
            round(expr(s"cosine_sim(embedding, try_element_at(cents, ${i + 1}).c)"), 6)
              .as("cos"),
            (-expr(s"try_element_at(cents, ${i + 1}).cid")).as("negcid"))
        }
        e.crossJoin(broadcast(packed))
          .withColumn("best", greatest(cand: _*))
          .select(col("vec_id"), (-col("best.negcid")).as("cid"),
            col("best.cos").as("cos"), col("embedding"))
      }
      var cents = e.filter(col("vec_id").between(1, k))
        .select(col("vec_id").as("cid"), col("embedding").as("c"))
      for (_ <- 1 to 2)
        cents = assign(cents)
          .select(col("cid"), posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy("cid", "dim").agg(avg(col("v").cast("double")).as("m"))
          .groupBy("cid")
          .agg(expr("transform(array_sort(collect_list(struct(dim, m))), p -> CAST(p.m AS FLOAT))")
            .as("c"))
      assign(cents).select(col("vec_id"), col("cid"), col("cos")).orderBy("vec_id")
    }),

    // Maximal Marginal Relevance selection (Carbonell & Goldstein
    // SIGIR'98): greedy top-5 from the top-20 relevance candidates,
    // score = λ·rel − (1−λ)·max-sim-to-selected (λ=0.7) — the
    // diversity-aware retrieval step RAG rerankers and few-shot
    // example pickers run after ANN. Scale shape: everything
    // corpus-sized stays distributed (relevance scan + top-k); the
    // candidate set is BOUNDED by construction (top-20 — at 100 TB
    // the ANN stage supplies it), so its 20×20 cosine matrix is ONE
    // small job and the greedy itself runs driver-side over ~420
    // collected doubles — a bounded statistic table (the CC
    // convergence-counter posture), not data collection. A first cut
    // ran the greedy as 5 rounds of Spark jobs over the 20-row frame:
    // 7.8 s of pure per-round scheduling/codegen for identical
    // output — the overhead was scale-INDEPENDENT, so it bought
    // nothing. Ties break on the 6dp-rounded score grid then vec_id,
    // so the selection sequence is deterministic. OMIT (iterative):
    // R6OpsSpec replays a pure-Scala reference MMR from the raw
    // embeddings — exact sequence equality.
    "q_mmr_select" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val lam = 0.7
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      val cand = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("embedding"),
          round(expr("cosine_sim(embedding, q_emb)"), 6).as("rel"))
        .orderBy(col("rel").desc, col("vec_id"))
        .limit(20)
        .localCheckpoint(eager = true)
      val rel = cand.select("vec_id", "rel").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toSeq.sortBy(p => (-p._2, p._1))
      val sim = cand.as("a").crossJoin(cand.as("b"))
        .filter(col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("ai"), col("b.vec_id").as("bi"),
          round(expr("cosine_sim(a.embedding, b.embedding)"), 6).as("sim"))
        .collect()
        .flatMap(r => {
          val (a, b, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
          Seq((a, b) -> c, (b, a) -> c)
        }).toMap
      var picked = Vector.empty[(Long, Double)] // (vec_id, mmr score)
      for (_ <- 1 to 5) {
        val scored = rel.filterNot(c => picked.exists(_._1 == c._1))
          .map { case (id, r) =>
            val m =
              if (picked.isEmpty) r
              else {
                val ms = picked.map(p => sim((id, p._1))).max
                BigDecimal(lam * r - (1 - lam) * ms)
                  .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
              }
            (id, r, m)
          }
        val best = scored.minBy { case (id, _, m) => (-m, id) }
        picked :+= ((best._1, best._3))
      }
      import s.implicits._
      val relMap = rel.toMap
      picked.zipWithIndex
        .map { case ((id, sc), i) => (i + 1, id, relMap(id), sc) }
        .toDF("sel_order", "vec_id", "rel", "mmr_score")
        .orderBy("sel_order")
    }),

    // Compressibility quality signal: DEFLATE(text) / octet_length —
    // template/machine-generated text compresses far below natural
    // prose, so a low ratio flags boilerplate the entropy and
    // repetition scores can miss (they look at characters and exact
    // n-grams; zlib's LZ77 window catches long-range structure). Per
    // doc one codegen'd `deflate_len` call (expr/DeflateLen.scala),
    // then a per-lang rollup with a flag count below a fixed bar.
    // DuckDB has no compressed-size function → unit contract instead
    // (ExprSpec roundtrip + R6OpsSpec invariants), rows-only driver
    // check — same class as the sketch keys.
    "q_compress_ratio" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          octet_length(col("text")).as("raw_len"),
          expr("deflate_len(text)").as("comp_len"))
        .withColumn("ratio", round(col("comp_len") / col("raw_len").cast("double"), 6))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("ratio"), 4).as("avg_ratio"),
          round(min("ratio"), 4).as("min_ratio"),
          sum(when(col("ratio") < 0.35, 1L).otherwise(0L)).as("n_suspect"))
        .orderBy("lang")
    }),

    // Retrieval-quality eval: precision@10 per label over the exact
    // neighbor ranking of the 1-in-17 query sample (rankedTop10's
    // sampling contract) — each sampled vector queries the WHOLE
    // corpus, its top-10 by cosine (tiebreak vec_id) are scored
    // against the label. This is the exact eval baseline q_sim_ivf's
    // recall is measured against; at 100 TB the candidate generation
    // additionally routes through the IVF cells and this same scoring
    // tail runs unchanged on the probed candidates.
    "q_precision_recall_k" -> ((s, d) => {
      rankedTop10(s, d)
        .groupBy("a_id", "a_lab")
        .agg(sum(when(col("b_lab") === col("a_lab"), 1L).otherwise(0L)).as("hits"))
        .groupBy(col("a_lab").as("label"))
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("hits") / 10.0), 6).as("p_at_10"))
        .orderBy("label")
    }),

    // Ranking-quality metrics for the retrieval index: NDCG@10 and MRR
    // per label, treating every SAMPLED vector (rankedTop10's 1-in-17
    // query-side contract) as a query and same-label neighbors as
    // relevant (broadcast corpus, rank by 6dp cosine + id tiebreak);
    // ideal-DCG truncation still uses the FULL label count. Every
    // per-rank gain term is snapped to the integer µ-unit grid BEFORE
    // any aggregation (round(1e6/log2(rank+1)) — the cusum lesson:
    // sums of inexact doubles are partial-agg-order-dependent, sums of
    // longs are not), the per-query NDCG is one long ratio against the
    // label's ideal-DCG (itself a sum of the same µ-snapped terms,
    // truncated at the label's relevant-count), and MRR max-folds
    // µ-snapped reciprocal ranks. At scale the broadcast side becomes
    // the ANN candidate set; the metric plumbing is unchanged.
    "q_ndcg" -> ((s, d) => {
      val labCnt = Tables.embeddings(s, d)
        .groupBy(col("label").as("a_lab"))
        .agg(count(lit(1)).as("n_lab"))
      def gainU(rank: Column): Column =
        round(lit(1e6) / log2(rank.cast("double") + lit(1.0))).cast("long")
      val perQuery = rankedTop10(s, d)
        .withColumn("rel", (col("b_lab") === col("a_lab")).cast("long"))
        .groupBy("a_id", "a_lab")
        .agg(sum(col("rel") * gainU(col("rn"))).as("dcg_u"),
          max(col("rel") * round(lit(1e6) / col("rn")).cast("long")).as("rr_u"))
      // ideal DCG: the first min(10, n_lab - 1) ranks all relevant —
      // the same µ-snapped constants, truncated per label
      val idcg = (1 to 10).map(i =>
        when(lit(i) <= least(lit(10L), col("n_lab") - 1),
          lit(math.round(1e6 / (math.log(i + 1.0) / math.log(2.0)))))
          .otherwise(lit(0L))).reduce(_ + _)
      perQuery.join(broadcast(labCnt), "a_lab")
        .withColumn("ndcg_u",
          round(col("dcg_u") * lit(1e6) / idcg).cast("long"))
        .groupBy(col("a_lab").as("label"))
        .agg(count(lit(1)).as("n_queries"),
          round(sum("ndcg_u") / count(lit(1)) / lit(1e6), 6).as("ndcg_at_10"),
          round(sum("rr_u") / count(lit(1)) / lit(1e6), 6).as("mrr"))
        .orderBy("label")
    }),

    // Mislabel/outlier detection in embedding space (the cleanlab
    // pass): distance to the OWN-label centroid, 20 farthest surfaced
    // via TakeOrdered. Centroids derive once per label (posexplode +
    // partial avg — the q_sim_ivf derivation) and broadcast to the
    // scoring join; the corpus streams through one codegen'd cosine.
    "q_embed_outlier" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val e = Tables.embeddings(s, d)
      val centroids = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim").agg(avg(col("v").cast("double")).as("m"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(dim, m))), p -> CAST(p.m AS FLOAT))")
          .as("centroid"))
      e.join(broadcast(centroids), "label")
        .select(col("vec_id"), col("label"),
          round(lit(1.0) - expr("cosine_sim(embedding, centroid)"), 6).as("dist"))
        .orderBy(col("dist").desc, col("vec_id"))
        .limit(20)
    }),

    // Corpus-level label-separation margin: mean intra-label vs
    // inter-label pairwise cosine in ONE conditional-agg pass over
    // the pair stream — the embedding-quality scalar beside
    // q_precision_recall_k's ranking view (margin ≈ 0 ⇒ labels are
    // not cosine clusters, which is exactly what p@10 ≈ 1/|labels|
    // showed on this corpus). Brute pairs at test scale; at 100 TB
    // the pair stream is sampled — the aggregate shape is unchanged.
    "q_emb_margin" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val e = Tables.embeddings(s, d)
      val a = e.select(col("vec_id").as("a_id"), col("label").as("a_lab"),
        col("embedding").as("a_emb"))
      val b = e.select(col("vec_id").as("b_id"), col("label").as("b_lab"),
        col("embedding").as("b_emb"))
      a.join(broadcast(b), col("a_id") < col("b_id"))
        .select((col("a_lab") === col("b_lab")).as("intra"),
          expr("cosine_sim(a_emb, b_emb)").as("cos"))
        .agg(
          sum(when(col("intra"), 1L).otherwise(0L)).as("n_intra"),
          sum(when(!col("intra"), 1L).otherwise(0L)).as("n_inter"),
          round(avg(when(col("intra"), col("cos"))), 6).as("mean_intra"),
          round(avg(when(!col("intra"), col("cos"))), 6).as("mean_inter"))
        .withColumn("margin",
          round(col("mean_intra") - col("mean_inter"), 6))
    }),

    // Product quantization encode (Jégou et al. TPAMI'11 — the PQ half
    // of IVF-PQ, completing q_sim_ivf's coarse quantizer): the 64-dim
    // vector splits into m=4 16-dim subspaces; each learns its own
    // k=8 codebook (seeds = subvectors of vec_id 1..8, one Lloyd
    // round — the q_kmeans determinism recipe applied per subspace)
    // and every vector encodes to 4 one-byte codes + its total
    // reconstruction error. ALL subspaces train in one plan: the
    // subvector table is (corpus × m) rows, codebooks stay a
    // broadcast 32-row table, assignment is projection-only argmin
    // (least over k structs, distances 6dp-rounded BEFORE the min so
    // the argmin is grid-exact in both engines). At 100 TB this is
    // the memory shape that matters: 64 floats → 4 bytes per vector,
    // and the ADC distance tables are (m × k) per query — the
    // standard billion-scale ANN layout.
    "q_pq_encode" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val sv = pqSubvecs(e)
      val cb1 = pqCodebook(sv)
      pqAssign(sv, cb1)
        .groupBy("vec_id")
        .agg(
          max(when(col("j") === 0, col("cid"))).as("c0"),
          max(when(col("j") === 1, col("cid"))).as("c1"),
          max(when(col("j") === 2, col("cid"))).as("c2"),
          max(when(col("j") === 3, col("cid"))).as("c3"),
          max(when(col("j") === 0, col("err"))).as("e0"),
          max(when(col("j") === 1, col("err"))).as("e1"),
          max(when(col("j") === 2, col("err"))).as("e2"),
          max(when(col("j") === 3, col("err"))).as("e3"))
        // explicit left-to-right sum of the four per-subspace errors —
        // identical addition order in both engines, so the rounded
        // total cannot drift
        .select(col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3"),
          round(col("e0") + col("e1") + col("e2") + col("e3"), 6).as("err"))
        .orderBy("vec_id")
    }),

    // End-to-end IVF-PQ ANN query (Jégou TPAMI'11 §IV — the billion-
    // scale layout): coarse quantizer (4 cells, cosine argmax to the
    // seed centroids) prunes the corpus to nprobe=2 probed cells; the
    // PQ codebooks (shared derivation with q_pq_encode) turn every
    // candidate into 4 one-byte codes; the query computes an ADC
    // distance TABLE (m × k = 32 sub-distances per query, 6dp grid)
    // and each candidate's approximate distance is 4 table lookups +
    // an explicit-order sum — the candidate's raw floats are NEVER
    // touched at query time. Top-5 per query by (adist, vec_id).
    // Scale: dtab is queries × 32 rows (broadcast), candidates are
    // probed-cells-only, lookups are 4 broadcast joins — the exact
    // shape a vector store runs per query batch.
    "q_ivf_pq_query" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val kc = 4; val nprobe = 2; val topk = 5
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // coarse cells: cosine argmax to seed centroids (vec_id 1..kc)
      val packedCells = e.filter(col("vec_id").between(1, kc))
        .select(col("vec_id").as("cid"), col("embedding").as("c"))
        .agg(array_sort(collect_list(struct(col("cid"), col("c")))).as("cents"))
      val cellCand = (1 to kc).map { i =>
        struct(
          round(expr(s"cosine_sim(embedding, try_element_at(cents, $i).c)"), 6).as("cs"),
          (-expr(s"try_element_at(cents, $i).cid")).as("negcid"))
      }
      val assigned = e.crossJoin(broadcast(packedCells))
        .withColumn("best", greatest(cellCand: _*))
        .select(col("vec_id"), (-col("best.negcid")).as("cell"))
      // PQ codes for the whole corpus (shared codebook derivation)
      val sv = pqSubvecs(e)
      val cb1 = pqCodebook(sv).localCheckpoint(eager = true) // dtab + codes
      val codes = pqAssign(sv, cb1)
        .groupBy("vec_id")
        .agg(max(when(col("j") === 0, col("cid"))).as("k0"),
          max(when(col("j") === 1, col("cid"))).as("k1"),
          max(when(col("j") === 2, col("cid"))).as("k2"),
          max(when(col("j") === 3, col("cid"))).as("k3"))
      // queries: vec_id 0..4; their per-subspace ADC distance tables
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val qsv = pqSubvecs(queries.select(col("q_id").as("vec_id"),
          col("q_emb").as("embedding")))
        .select(col("vec_id").as("q_id"), col("j"), col("s").as("qs"))
      val dtab = qsv.join(broadcast(cb1), Seq("j"))
        .select(col("q_id"), col("j"), col("cid"),
          expr(pqSqd("qs", "c")).as("dv"))
        .localCheckpoint(eager = true) // 4 per-j broadcast lookups below
      // probe the nprobe nearest cells per query
      val probes = queries.crossJoin(broadcast(packedCells))
        .select(col("q_id"), explode(expr(
          s"transform(sequence(1, $kc), i -> named_struct(" +
          "'cid', try_element_at(cents, i).cid, " +
          "'cs', round(cosine_sim(q_emb, try_element_at(cents, i).c), 6)))"))
          .as("p"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(col("p.cs").desc, col("p.cid"))))
        .filter(col("rn") <= nprobe)
        .select(col("q_id"), col("p.cid").as("cell"))
      // candidates = vectors in probed cells (minus the query itself),
      // ADC distance = 4 dtab lookups summed in explicit order
      def look(j: Int, kcol: String) = dtab.filter(col("j") === j)
        .select(col("q_id"), col("cid").as(kcol), col("dv").as(s"d$j"))
      probes.join(assigned, Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .join(codes, Seq("vec_id"))
        .join(broadcast(look(0, "k0")), Seq("q_id", "k0"))
        .join(broadcast(look(1, "k1")), Seq("q_id", "k1"))
        .join(broadcast(look(2, "k2")), Seq("q_id", "k2"))
        .join(broadcast(look(3, "k3")), Seq("q_id", "k3"))
        .withColumn("adist",
          round(col("d0") + col("d1") + col("d2") + col("d3"), 6))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(col("adist"), col("vec_id"))))
        .filter(col("rn") <= topk)
        .select(col("q_id"), col("rn").as("rank"), col("vec_id"), col("adist"))
        .orderBy("q_id", "rank")
    }),

    // Signed-random-projection LSH for cosine ANN candidates
    // (Charikar STOC'02 — the embedding-space complement of minhash
    // [Jaccard] and simhash [text]): 16 deterministic hyperplanes
    // (md5-derived component grid, bit p = sign of ⟨emb, h_p⟩), 4
    // bands × 4 bits → band-bucket equi-joins → exact cosine verify at
    // τ=0.3. Banding tuned to THIS corpus's similarity regime (max
    // pair cos ≈ 0.51): at cos=0.3 the s-curve gives ~0.42 candidate
    // recall while pruning ~77% of the pair space — R7OpsSpec pins
    // both ends. EVERYTHING is cross-engine exact: plane components
    // are md5 arithmetic both engines compute identically, the dot
    // runs in array order (fold), and the verify rounds to the 6dp
    // grid before the τ compare — so unlike typical LSH this key
    // hash-matches a DuckDB oracle, not just a recall floor. Scale
    // shape: signatures are a projection (no shuffle), candidates come
    // from four bucket equi-joins (never corpus²), verify touches
    // candidates only.
    "q_ann_rplsh" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val tau = 0.3
      def planeVals(p: Int): Seq[Double] = (0 until 64).map { d0 =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"${p}_${d0}".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (java.lang.Long.parseLong(hex.take(8), 16) / 4294967295.0) * 2 - 1
      }
      def bit(p: Int) = {
        val plane = array(planeVals(p).map(lit): _*)
        aggregate(
          zip_with(col("embedding"), plane,
            (x, y) => x.cast("double") * y),
          lit(0.0), (acc, v) => acc + v) >= 0.0
      }
      def band(lo: Int): org.apache.spark.sql.Column =
        (lo until lo + 4).map(p =>
          when(bit(p), lit(1 << (p - lo))).otherwise(lit(0)))
          .reduce(_ + _)
      val sig = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          band(0).as("b0"), band(4).as("b1"),
          band(8).as("b2"), band(12).as("b3"))
        .localCheckpoint(eager = true) // signatures reused by 4 band joins
      def cands(bcol: String) = sig.select(col("vec_id").as("a_id"),
          col(bcol).as("bk"), col("embedding").as("a_emb"))
        .join(sig.select(col("vec_id").as("b_id"), col(bcol).as("bk"),
          col("embedding").as("b_emb")), Seq("bk"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id", "a_emb", "b_emb")
      Seq("b0", "b1", "b2", "b3").map(cands).reduce(_.unionByName(_))
        .dropDuplicates("a_id", "b_id")
        .withColumn("cos", round(expr("cosine_sim(a_emb, b_emb)"), 6))
        .filter(col("cos") >= tau)
        .select("a_id", "b_id", "cos")
        .orderBy("a_id", "b_id")
    }),

    // Embedding-space (semantic) decontamination: does a held-out eval
    // vector have a near-duplicate in the training split? Eval = odd
    // vec_ids, train = even; candidates are confined to a shared
    // coarse cell (nearest of 4 seed centroids — the q_semdedup
    // blocking, i.e. the IVF cell at scale) so the pair space is
    // corpus²/cells, never corpus²; per eval vector the max train
    // cosine within its cell decides contamination. Cosines round to
    // 6dp BEFORE the max (grid-exact argmax in both engines); eval
    // vectors whose cell holds no train vector surface with
    // max_train_cos = -1 (still reported — silent omission would
    // read as "clean").
    "q_contamination_embed" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val kc = 4
      val tau = 0.5
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val packed = e.filter(col("vec_id").between(1, kc))
        .select(col("vec_id").as("cid"), col("embedding").as("c"))
        .agg(array_sort(collect_list(struct(col("cid"), col("c")))).as("cents"))
      val cand = (1 to kc).map { i =>
        struct(
          round(expr(s"cosine_sim(embedding, try_element_at(cents, $i).c)"), 6).as("cs"),
          (-expr(s"try_element_at(cents, $i).cid")).as("negcid"))
      }
      val assigned = e.crossJoin(broadcast(packed))
        .withColumn("best", greatest(cand: _*))
        .select(col("vec_id"), (-col("best.negcid")).as("cell"), col("embedding"))
        .localCheckpoint(eager = true) // referenced as both sides
      val eval = assigned.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("cell"), col("embedding").as("ev"))
      val train = assigned.filter(col("vec_id") % 2 === 0)
        .select(col("cell"), col("embedding").as("tv"))
      eval.join(train, Seq("cell"), "left")
        .select(col("vec_id"), col("cell"),
          when(col("tv").isNull, lit(-1.0))
            .otherwise(round(expr("cosine_sim(ev, tv)"), 6)).as("cos"))
        .groupBy("vec_id", "cell")
        .agg(max("cos").as("max_train_cos"))
        .select(col("vec_id"), col("cell"), col("max_train_cos"),
          (col("max_train_cos") >= tau).as("contaminated"))
        .orderBy("vec_id")
    })
  )

  // Double-precision cosine in DuckDB SQL (list_cosine_similarity is
  // float32 — verified locally; SURVEY.md §7.6.10).
  private[graft] def duckCos(a: String, b: String): String =
    s"""(list_sum(list_transform(list_zip($a, $b),
       |   p -> CAST(struct_extract(p, 1) AS DOUBLE) * CAST(struct_extract(p, 2) AS DOUBLE)))
       | / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |  * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin

  // ---- PQ building blocks (q_pq_encode + q_ivf_pq_query) ----------
  // m=4 subspaces × 16 dims, k=8 codes per subspace; Lloyd round and
  // argmin both on the 6dp distance grid so assignments are
  // cross-engine exact.
  private val PqM = 4; private val PqSub = 16; private val PqK = 8

  /** (vec_id, j, s): the m per-subspace slices of each embedding. */
  private def pqSubvecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), j -> " +
        s"named_struct('j', j, 's', slice(embedding, j * $PqSub + 1, $PqSub)))"))
        .as("p"))
      .select(col("vec_id"), col("p.j").as("j"), col("p.s").as("s"))

  /** 6dp-rounded squared L2 between two float arrays, array-order fold. */
  private def pqSqd(a: String, b: String): String =
    s"round(aggregate(zip_with($a, $b, (x, y) -> " +
    s"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), " +
    s"0D, (acc, v) -> acc + v), 6)"

  /** Argmin assignment of every subvector to its subspace codebook:
    * (vec_id, j, cid, err, s). The packed codebook is a broadcast
    * m-row table; try_element_at + coalesce guard clusters that
    * emptied out during the Lloyd round. */
  private def pqAssign(sv: DataFrame, cb: DataFrame): DataFrame = {
    val packed = cb.groupBy("j")
      .agg(array_sort(collect_list(struct(col("cid"), col("c")))).as("cents"))
    val cand = (1 to PqK).map { i =>
      struct(
        coalesce(expr(pqSqd("s", s"try_element_at(cents, $i).c")),
          lit(Double.MaxValue)).as("dist"),
        coalesce(expr(s"try_element_at(cents, $i).cid"), lit(Long.MaxValue))
          .as("cid"))
    }
    sv.join(broadcast(packed), Seq("j"))
      .withColumn("best", least(cand: _*))
      .select(col("vec_id"), col("j"), col("best.cid").as("cid"),
        col("best.dist").as("err"), col("s"))
  }

  /** Post-Lloyd per-subspace codebook (j, cid, c): seeds = subvectors
    * of vec_id 1..k, one assignment + per-dim mean update. */
  private def pqCodebook(sv: DataFrame): DataFrame = {
    val seeds = sv.filter(col("vec_id").between(1, PqK))
      .select(col("j"), col("vec_id").as("cid"), col("s").as("c"))
    pqAssign(sv, seeds)
      .select(col("j"), col("cid"), posexplode(col("s")).as(Seq("dim", "v")))
      .groupBy("j", "cid", "dim").agg(avg(col("v").cast("double")).as("mv"))
      .groupBy("j", "cid")
      .agg(expr("transform(array_sort(collect_list(struct(dim, mv))), p -> CAST(p.mv AS FLOAT))")
        .as("c"))
  }

  /** Double-precision squared L2 distance in DuckDB SQL (q_pq_encode). */
  private def duckSqd(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |  p -> (CAST(struct_extract(p, 1) AS DOUBLE) - CAST(struct_extract(p, 2) AS DOUBLE))
       |     * (CAST(struct_extract(p, 1) AS DOUBLE) - CAST(struct_extract(p, 2) AS DOUBLE))))""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_pq_encode" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
         |sv AS (SELECT vec_id, j, embedding[(j*16+1):(j*16+16)] AS s
         |       FROM e CROSS JOIN js),
         |c0 AS (SELECT j, vec_id AS cid, s AS c FROM sv WHERE vec_id BETWEEN 1 AND 8),
         |d1 AS (SELECT sv.vec_id, sv.j, c0.cid, sv.s,
         |         ROUND(${duckSqd("sv.s", "c0.c")}, 6) AS dist
         |       FROM sv JOIN c0 ON sv.j = c0.j),
         |a1 AS (SELECT vec_id, j, cid, s FROM (
         |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
         |           ORDER BY dist, cid) AS rn FROM d1) WHERE rn = 1),
         |dims AS (SELECT unnest(generate_series(1, 16)) AS i),
         |m1 AS (SELECT j, cid, i, AVG(CAST(s[i] AS DOUBLE)) AS mv
         |       FROM a1 CROSS JOIN dims GROUP BY 1, 2, 3),
         |c1 AS (SELECT j, cid, list(CAST(mv AS FLOAT) ORDER BY i) AS c
         |       FROM m1 GROUP BY 1, 2),
         |d2 AS (SELECT sv.vec_id, sv.j, c1.cid,
         |         ROUND(${duckSqd("sv.s", "c1.c")}, 6) AS dist
         |       FROM sv JOIN c1 ON sv.j = c1.j),
         |a2 AS (SELECT vec_id, j, cid, dist FROM (
         |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
         |           ORDER BY dist, cid) AS rn FROM d2) WHERE rn = 1)
         |SELECT vec_id,
         |  MAX(CASE WHEN j = 0 THEN cid END) AS c0,
         |  MAX(CASE WHEN j = 1 THEN cid END) AS c1,
         |  MAX(CASE WHEN j = 2 THEN cid END) AS c2,
         |  MAX(CASE WHEN j = 3 THEN cid END) AS c3,
         |  ROUND(MAX(CASE WHEN j = 0 THEN dist END)
         |      + MAX(CASE WHEN j = 1 THEN dist END)
         |      + MAX(CASE WHEN j = 2 THEN dist END)
         |      + MAX(CASE WHEN j = 3 THEN dist END), 6) AS err
         |FROM a2 GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // r7: q_dedup_keep_best converts from OMIT to oracled — the
    // components labeling has an exact recursive-CTE twin
    // (q_dedup_components precedent), and the keep-best argmax is a
    // plain window on top of it.
    "q_dedup_keep_best" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(generate_series(1, len(l) - 1),
        |                  i -> l[i] || ' ' || l[i + 1])) AS shingles
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents)
        |  WHERE len(l) >= 2),
        |p0 AS (
        |  SELECT a_id, b_id, j FROM (
        |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |      len(list_intersect(a.shingles, b.shingles)) * 1.0 /
        |      (len(a.shingles) + len(b.shingles)
        |       - len(list_intersect(a.shingles, b.shingles))) AS j
        |    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id)
        |  WHERE j >= 0.3),
        |symk AS (
        |  SELECT a_id AS src, b_id AS dst, j FROM p0
        |  UNION ALL SELECT b_id, a_id, j FROM p0),
        |rkc AS (
        |  SELECT src, dst, j, row_number() OVER (
        |    PARTITION BY src ORDER BY ROUND(j, 4) DESC, dst) AS r
        |  FROM symk),
        |pairs AS (
        |  SELECT DISTINCT LEAST(src, dst) AS a_id,
        |    GREATEST(src, dst) AS b_id
        |  FROM rkc WHERE r <= 64),
        |sym AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION
        |  SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |lab AS (SELECT src AS doc_id, MIN(dst) AS label FROM reach GROUP BY src),
        |jq AS (SELECT lab.label, lab.doc_id, d.n_chars AS quality
        |       FROM lab JOIN documents d ON d.doc_id = lab.doc_id),
        |rk AS (SELECT label, doc_id, quality,
        |        ROW_NUMBER() OVER (PARTITION BY label
        |          ORDER BY quality DESC, doc_id) AS rk,
        |        COUNT(*) OVER (PARTITION BY label) AS n_members
        |       FROM jq)
        |SELECT label AS cluster_id, doc_id AS kept_doc, n_members,
        |  quality AS best_quality
        |FROM rk WHERE rk = 1 ORDER BY cluster_id""".stripMargin,

    // r7: q_mmr_select converts from OMIT to oracled — the greedy is
    // unrolled into 5 pick CTEs over the bounded top-20 candidate
    // set; (1 - 0.7) is written as the SQL expression (not 0.3) so
    // both engines use the identical double 0.30000000000000004.
    "q_mmr_select" -> {
      val picks = new StringBuilder
      picks ++=
        """p1 AS (SELECT vec_id, rel, rel AS m FROM cand
          |       ORDER BY rel DESC, vec_id LIMIT 1)""".stripMargin
      for (r <- 2 to 5) {
        val prev = (1 until r).map(i => s"SELECT vec_id FROM p$i").mkString(" UNION ALL ")
        picks ++= s""",
          |p$r AS (SELECT c.vec_id, c.rel,
          |       ROUND(0.7 * c.rel - (1 - 0.7) * (
          |         SELECT MAX(s.s) FROM sim s
          |         WHERE s.ai = c.vec_id AND s.bi IN ($prev)), 6) AS m
          |       FROM cand c WHERE c.vec_id NOT IN ($prev)
          |       ORDER BY m DESC, c.vec_id LIMIT 1)""".stripMargin
      }
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT embedding AS q_emb FROM e WHERE vec_id = 0),
         |cand AS (SELECT vec_id, embedding,
         |           ROUND(${duckCos("embedding", "q_emb")}, 6) AS rel
         |         FROM e CROSS JOIN q WHERE vec_id <> 0
         |         ORDER BY rel DESC, vec_id LIMIT 20),
         |sim AS (SELECT a.vec_id AS ai, b.vec_id AS bi,
         |          ROUND(${duckCos("a.embedding", "b.embedding")}, 6) AS s
         |        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         |$picks
         |""".stripMargin +
        (1 to 5).map(r =>
          s"SELECT CAST($r AS INT) AS sel_order, vec_id, rel, m AS mmr_score FROM p$r")
          .mkString("\nUNION ALL\n") +
        "\nORDER BY sel_order"
    },

    "q_ivf_pq_query" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, embedding AS c FROM e
         |          WHERE vec_id BETWEEN 1 AND 4),
         |asg AS (SELECT vec_id, cid AS cell FROM (
         |          SELECT e.vec_id, seeds.cid,
         |            ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |              ORDER BY ROUND(${duckCos("e.embedding", "seeds.c")}, 6) DESC,
         |                seeds.cid) AS rn
         |          FROM e CROSS JOIN seeds) WHERE rn = 1),
         |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
         |sv AS (SELECT vec_id, j, embedding[(j*16+1):(j*16+16)] AS s
         |       FROM e CROSS JOIN js),
         |pc0 AS (SELECT j, vec_id AS cid, s AS c FROM sv WHERE vec_id BETWEEN 1 AND 8),
         |pd1 AS (SELECT sv.vec_id, sv.j, pc0.cid, sv.s,
         |         ROUND(${duckSqd("sv.s", "pc0.c")}, 6) AS dist
         |       FROM sv JOIN pc0 ON sv.j = pc0.j),
         |pa1 AS (SELECT vec_id, j, cid, s FROM (
         |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
         |           ORDER BY dist, cid) AS rn FROM pd1) WHERE rn = 1),
         |dims AS (SELECT unnest(generate_series(1, 16)) AS i),
         |pm1 AS (SELECT j, cid, i, AVG(CAST(s[i] AS DOUBLE)) AS mv
         |       FROM pa1 CROSS JOIN dims GROUP BY 1, 2, 3),
         |pc1 AS (SELECT j, cid, list(CAST(mv AS FLOAT) ORDER BY i) AS c
         |       FROM pm1 GROUP BY 1, 2),
         |pd2 AS (SELECT sv.vec_id, sv.j, pc1.cid,
         |         ROUND(${duckSqd("sv.s", "pc1.c")}, 6) AS dist
         |       FROM sv JOIN pc1 ON sv.j = pc1.j),
         |codes AS (SELECT vec_id, j, cid FROM (
         |         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
         |           ORDER BY dist, cid) AS rn FROM pd2) WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM e WHERE vec_id < 5),
         |qsv AS (SELECT q_id, j, q_emb[(j*16+1):(j*16+16)] AS qs
         |        FROM q CROSS JOIN js),
         |dtab AS (SELECT q_id, qsv.j, pc1.cid,
         |          ROUND(${duckSqd("qsv.qs", "pc1.c")}, 6) AS dv
         |        FROM qsv JOIN pc1 ON qsv.j = pc1.j),
         |probes AS (SELECT q_id, cid AS cell FROM (
         |          SELECT q.q_id, seeds.cid,
         |            ROW_NUMBER() OVER (PARTITION BY q.q_id
         |              ORDER BY ROUND(${duckCos("q.q_emb", "seeds.c")}, 6) DESC,
         |                seeds.cid) AS rn
         |          FROM q CROSS JOIN seeds) WHERE rn <= 2),
         |cand AS (
         |  SELECT p.q_id, a.vec_id FROM probes p JOIN asg a ON a.cell = p.cell
         |  WHERE a.vec_id <> p.q_id),
         |ad AS (
         |  SELECT c.q_id, c.vec_id,
         |    ROUND(t0.dv + t1.dv + t2.dv + t3.dv, 6) AS adist
         |  FROM cand c
         |  JOIN codes k0 ON k0.vec_id = c.vec_id AND k0.j = 0
         |  JOIN codes k1 ON k1.vec_id = c.vec_id AND k1.j = 1
         |  JOIN codes k2 ON k2.vec_id = c.vec_id AND k2.j = 2
         |  JOIN codes k3 ON k3.vec_id = c.vec_id AND k3.j = 3
         |  JOIN dtab t0 ON t0.q_id = c.q_id AND t0.j = 0 AND t0.cid = k0.cid
         |  JOIN dtab t1 ON t1.q_id = c.q_id AND t1.j = 1 AND t1.cid = k1.cid
         |  JOIN dtab t2 ON t2.q_id = c.q_id AND t2.j = 2 AND t2.cid = k2.cid
         |  JOIN dtab t3 ON t3.q_id = c.q_id AND t3.j = 3 AND t3.cid = k3.cid)
         |SELECT q_id, CAST(rank AS INT) AS rank, vec_id, adist FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY adist, vec_id) AS rank FROM ad)
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "q_ann_rplsh" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |planes AS (
         |  SELECT p, list(CAST('0x' || substring(md5(CAST(p AS VARCHAR) || '_' ||
         |      CAST(d AS VARCHAR)), 1, 8) AS BIGINT) / 4294967295.0 * 2 - 1
         |    ORDER BY d) AS h
         |  FROM (SELECT unnest(generate_series(0, 15)) AS p)
         |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS d)
         |  GROUP BY p),
         |sig AS (
         |  SELECT e.vec_id, planes.p,
         |    CASE WHEN list_sum(list_transform(list_zip(e.embedding, planes.h),
         |      z -> CAST(struct_extract(z, 1) AS DOUBLE) * struct_extract(z, 2)))
         |      >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM e CROSS JOIN planes),
         |bands AS (
         |  SELECT vec_id,
         |    SUM(CASE WHEN p < 4 THEN bit * (1 << p) ELSE 0 END) AS b0,
         |    SUM(CASE WHEN p >= 4 AND p < 8 THEN bit * (1 << (p - 4)) ELSE 0 END) AS b1,
         |    SUM(CASE WHEN p >= 8 AND p < 12 THEN bit * (1 << (p - 8)) ELSE 0 END) AS b2,
         |    SUM(CASE WHEN p >= 12 THEN bit * (1 << (p - 12)) ELSE 0 END) AS b3
         |  FROM sig GROUP BY vec_id),
         |cands AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.vec_id < b.vec_id AND (a.b0 = b.b0 OR a.b1 = b.b1
         |      OR a.b2 = b.b2 OR a.b3 = b.b3))
         |SELECT c.a_id, c.b_id,
         |  ROUND(${duckCos("ea.embedding", "eb.embedding")}, 6) AS cos
         |FROM cands c
         |JOIN e ea ON ea.vec_id = c.a_id
         |JOIN e eb ON eb.vec_id = c.b_id
         |WHERE ROUND(${duckCos("ea.embedding", "eb.embedding")}, 6) >= 0.3
         |ORDER BY a_id, b_id""".stripMargin,

    "q_contamination_embed" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, embedding AS c FROM e
         |          WHERE vec_id BETWEEN 1 AND 4),
         |asg AS (SELECT vec_id, cid AS cell, embedding FROM (
         |          SELECT e.vec_id, seeds.cid, e.embedding,
         |            ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |              ORDER BY ROUND(${duckCos("e.embedding", "seeds.c")}, 6) DESC,
         |                seeds.cid) AS rn
         |          FROM e CROSS JOIN seeds) WHERE rn = 1),
         |ev AS (SELECT vec_id, cell, embedding AS evv FROM asg WHERE vec_id % 2 = 1),
         |tr AS (SELECT cell, embedding AS tvv FROM asg WHERE vec_id % 2 = 0),
         |mx AS (SELECT ev.vec_id, ev.cell,
         |         MAX(CASE WHEN tr.cell IS NULL THEN -1.0
         |             ELSE ROUND(${duckCos("ev.evv", "tr.tvv")}, 6) END) AS max_train_cos
         |       FROM ev LEFT JOIN tr ON ev.cell = tr.cell GROUP BY 1, 2)
         |SELECT vec_id, cell, max_train_cos,
         |  max_train_cos >= 0.5 AS contaminated
         |FROM mx ORDER BY vec_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "q_dedup_near_jaccard" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, ROUND(j, 4) AS jaccard FROM (
        |  SELECT a_id, b_id,
        |    i * 1.0 / (sa.n + sb.n - i) AS j
        |  FROM inter
        |  JOIN sz sa ON inter.a_id = sa.doc_id
        |  JOIN sz sb ON inter.b_id = sb.doc_id)
        |WHERE j >= 0.8 ORDER BY a_id, b_id""".stripMargin,

    // the near_jaccard candidate CTE + milli-grid tf-idf cosine rerank
    "q_tfidf_rerank" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id, i * 1.0 / (sa.n + sb.n - i) AS j
        |    FROM inter
        |    JOIN sz sa ON inter.a_id = sa.doc_id
        |    JOIN sz sb ON inter.b_id = sb.doc_id)
        |  WHERE j >= 0.8),
        |tf AS (
        |  SELECT doc_id, w AS term, COUNT(*) AS tf_raw
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  GROUP BY 1, 2),
        |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM tf),
        |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |wts AS (
        |  SELECT doc_id, term,
        |    CAST(ROUND(tf_raw * ln(nd / df) * 1e3) AS BIGINT) AS w_m
        |  FROM tf JOIN dfx USING (term) CROSS JOIN nd),
        |norms AS (SELECT doc_id, CAST(SUM(w_m * w_m) AS BIGINT) AS n2
        |          FROM wts GROUP BY 1),
        |dots AS (
        |  SELECT c.a_id, c.b_id, CAST(SUM(wa.w_m * wb.w_m) AS BIGINT) AS dot
        |  FROM cand c
        |  JOIN wts wa ON wa.doc_id = c.a_id
        |  JOIN wts wb ON wb.doc_id = c.b_id AND wb.term = wa.term
        |  GROUP BY 1, 2)
        |SELECT d.a_id, d.b_id,
        |  ROUND(dot / (sqrt(CAST(na.n2 AS DOUBLE))
        |    * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos_tfidf
        |FROM dots d
        |JOIN norms na ON d.a_id = na.doc_id
        |JOIN norms nb ON d.b_id = nb.doc_id
        |ORDER BY cos_tfidf DESC, a_id, b_id LIMIT 50""".stripMargin,

    "q_sim_cosine_topk" ->
      s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ROUND(${duckCos("e.embedding", "q.q_emb")}, 6) AS cos
         |FROM embeddings e CROSS JOIN q
         |WHERE e.vec_id <> 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // identical per-dim sliced cosine grid, window top-10, µ-grid means
    "q_matryoshka_trunc" ->
      s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings
         |           WHERE vec_id = 0),
         |ks AS (SELECT unnest([8, 16, 32, 64]) AS k_dim),
         |c AS (
         |  SELECT e.vec_id, ks.k_dim,
         |    ROUND(${duckCos("(e.embedding[1:ks.k_dim])", "(q.q_emb[1:ks.k_dim])")}, 6)
         |      AS cos
         |  FROM embeddings e CROSS JOIN q CROSS JOIN ks
         |  WHERE e.vec_id <> 0),
         |t AS (
         |  SELECT k_dim, vec_id, cos,
         |    row_number() OVER (PARTITION BY k_dim
         |      ORDER BY cos DESC, vec_id) AS rn
         |  FROM c),
         |topk AS (SELECT k_dim, vec_id, cos FROM t WHERE rn <= 10),
         |fl AS (SELECT vec_id FROM topk WHERE k_dim = 64)
         |SELECT CAST(k_dim AS INT) AS k_dim,
         |  SUM(CASE WHEN vec_id IN (SELECT vec_id FROM fl)
         |      THEN 1 ELSE 0 END) / 10.0 AS recall10,
         |  ROUND(SUM(CAST(ROUND(cos * 1e6) AS BIGINT)) / 1e7, 6)
         |    AS mean_cos_top10
         |FROM topk GROUP BY k_dim ORDER BY k_dim""".stripMargin,

    "q_knn_per_label" ->
      s"""WITH pairs AS (
         |  SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
         |    ROUND(${duckCos("a.embedding", "b.embedding")}, 6) AS cos
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id <> b.vec_id)
         |SELECT label, a_id, b_id, cos, rn FROM (
         |  SELECT label, a_id, b_id, cos,
         |    CAST(row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS INT) AS rn
         |  FROM pairs)
         |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin,

    "q_dedup_embed" ->
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  ROUND(${duckCos("a.embedding", "b.embedding")}, 6) AS cos
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${duckCos("a.embedding", "b.embedding")} >= 0.3
         |ORDER BY a_id, b_id""".stripMargin,

    "q_semdedup" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, embedding AS c FROM e
         |  WHERE vec_id BETWEEN 1 AND ${graft.operators.Cells.kSql("e")}),
         |s1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
         |       FROM (SELECT e.vec_id, c0.cid, e.embedding,
         |               ROUND(${duckCos("e.embedding", "c0.c")}, 6) AS cos
         |             FROM e CROSS JOIN c0)),
         |a AS (SELECT vec_id, cid, embedding FROM s1 WHERE rn = 1),
         |mp AS (
         |  SELECT a.vec_id, a.cid,
         |    MAX(ROUND(${duckCos("a.embedding", "b.embedding")}, 6)) AS max_prior_cos
         |  FROM a LEFT JOIN a b ON a.cid = b.cid AND b.vec_id < a.vec_id
         |  GROUP BY 1, 2)
         |SELECT vec_id, cid, max_prior_cos,
         |  (max_prior_cos IS NULL OR max_prior_cos < 0.45) AS keep
         |FROM mp ORDER BY vec_id""".stripMargin,

    "q_embed_norm" ->
      """WITH n AS (
        |  SELECT label, vec_id,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |st AS (SELECT label, AVG(nrm) AS mu, stddev_samp(nrm) AS sd FROM n GROUP BY label)
        |SELECT n.label AS label, vec_id, ROUND(nrm, 6) AS nrm,
        |  ROUND((nrm - mu) / sd, 4) AS z,
        |  ABS(nrm - mu) > 2.0 * sd AS outlier
        |FROM n JOIN st USING (label) ORDER BY vec_id""".stripMargin,

    "q_vec_quantize" ->
      """WITH d AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dd
        |  FROM embeddings),
        |m AS (SELECT vec_id, dd, list_min(dd) AS mn, list_max(dd) AS mx FROM d),
        |s AS (SELECT vec_id, dd, mn, mx, (mx - mn) / 255.0 AS scale FROM m)
        |SELECT vec_id, ROUND(mn, 6) AS mn, ROUND(mx, 6) AS mx,
        |  array_to_string(list_transform(dd,
        |    x -> CAST((CASE WHEN scale = 0 THEN 0
        |               ELSE CAST(round((x - mn) / scale) AS INT) END) AS VARCHAR)), ',') AS codes
        |FROM s ORDER BY vec_id""".stripMargin,

    "q_embed_dimstats" ->
      """SELECT CAST(pos - 1 AS INT) AS dim,
        |  ROUND(AVG(CAST(v AS DOUBLE)), 6) AS mu,
        |  ROUND(STDDEV_SAMP(CAST(v AS DOUBLE)), 6) AS sd,
        |  ROUND(MIN(CAST(v AS DOUBLE)), 6) AS mn,
        |  ROUND(MAX(CAST(v AS DOUBLE)), 6) AS mx
        |FROM (SELECT unnest(embedding) AS v,
        |        generate_subscripts(embedding, 1) AS pos
        |      FROM embeddings)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_vec_centroid" ->
      """SELECT label, CAST(pos - 1 AS INT) AS dim,
        |  ROUND(AVG(CAST(v AS DOUBLE)), 6) AS centroid
        |FROM (SELECT label, unnest(embedding) AS v,
        |        generate_subscripts(embedding, 1) AS pos
        |      FROM embeddings)
        |WHERE pos <= 4 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_text_stats" ->
      """WITH base AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    ROUND(AVG(n_chars), 4) AS avg_chars,
        |    ROUND(AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS avg_toks
        |  FROM documents GROUP BY lang),
        |vocab AS (
        |  SELECT lang, COUNT(DISTINCT tok) AS n_vocab FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY lang)
        |SELECT base.lang AS lang, n_docs, avg_chars, avg_toks, n_vocab
        |FROM base JOIN vocab ON base.lang = vocab.lang
        |ORDER BY lang""".stripMargin,

    "q_tfidf_top" ->
      """WITH tf AS (
        |  SELECT doc_id, lang, dlen, term, COUNT(*) AS tf_raw,
        |    COUNT(*) * 1.0 / dlen AS tf
        |  FROM (SELECT doc_id, lang, len(string_split(text, ' ')) AS dlen,
        |          unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY doc_id, lang, dlen, term),
        |idf AS (
        |  SELECT term, ln((SELECT COUNT(*) * 1.0 FROM documents) / COUNT(DISTINCT doc_id)) AS idf
        |  FROM tf GROUP BY term),
        |scored AS (
        |  SELECT lang, tf.term AS term, ROUND(AVG(tf * idf), 6) AS score
        |  FROM tf JOIN idf ON tf.term = idf.term
        |  GROUP BY lang, tf.term)
        |SELECT lang, term, score, rn FROM (
        |  SELECT lang, term, score,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY score DESC, term) AS INT) AS rn
        |  FROM scored)
        |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,

    "q_emb_isotropy" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |n AS (SELECT COUNT(*) AS n_vecs FROM e),
         |sh AS (
         |  SELECT e.vec_id, e.embedding,
         |    (e.vec_id + k) % n_vecs AS pid
         |  FROM e CROSS JOIN n, unnest([1, 7, 49]) t(k)),
         |p AS (
         |  SELECT CAST(ROUND(${duckCos("sh.embedding", "b.embedding")} * 1e6)
         |    AS BIGINT) AS cos_u
         |  FROM sh JOIN e b ON sh.pid = b.vec_id
         |  WHERE sh.vec_id <> sh.pid)
         |SELECT COUNT(*) AS n_pairs,
         |  ROUND(SUM(cos_u) / COUNT(*) / 1e6, 6) AS mean_cos,
         |  ROUND(SUM(abs(cos_u)) / COUNT(*) / 1e6, 6) AS mean_abs_cos,
         |  ROUND(SUM(CASE WHEN cos_u > 500000 THEN 1 ELSE 0 END)
         |    * 1.0 / COUNT(*), 6) AS share_gt_half
         |FROM p""".stripMargin,

    // same µ-snapped weight table, two rounds + the expansion pick
    "q_bm25_prf" ->
      """WITH corpus AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, dlen, term, COUNT(*) AS tf_raw FROM (
        |    SELECT doc_id, len(string_split(text, ' ')) AS dlen,
        |      unnest(string_split(text, ' ')) AS term
        |    FROM documents)
        |  GROUP BY 1, 2, 3),
        |dfx AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        |wall AS MATERIALIZED (
        |  SELECT doc_id, term,
        |    CAST(ROUND(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |      * tf_raw * 2.2
        |      / (tf_raw + 1.2 * (0.25 + 0.75 * dlen
        |        / (CAST(sum_dl AS DOUBLE) / n_docs))) * 1e6) AS BIGINT) AS w_u
        |  FROM tf JOIN dfx USING (term) CROSS JOIN corpus),
        |q0(term) AS (VALUES ('spark'), ('join'), ('hash')),
        |top5 AS (SELECT doc_id FROM (
        |    SELECT doc_id, SUM(w_u) AS s_u
        |    FROM wall JOIN q0 USING (term) GROUP BY 1)
        |  ORDER BY s_u DESC, doc_id LIMIT 5),
        |expn AS (SELECT term, CAST(500000 AS BIGINT) AS qw_u FROM (
        |    SELECT w.term, CAST(SUM(w.w_u) AS BIGINT) AS e_u
        |    FROM wall w JOIN top5 t ON w.doc_id = t.doc_id
        |    WHERE w.term NOT IN (SELECT term FROM q0)
        |    GROUP BY 1)
        |  ORDER BY e_u DESC, term LIMIT 3),
        |q2 AS (SELECT term, CAST(1000000 AS BIGINT) AS qw_u FROM q0
        |       UNION ALL SELECT term, qw_u FROM expn),
        |r2 AS (SELECT doc_id,
        |         CAST(SUM((w_u * qw_u) // 1000000) AS BIGINT) AS s_u
        |       FROM wall JOIN q2 USING (term) GROUP BY 1),
        |fin AS (SELECT doc_id, s_u,
        |          row_number() OVER (ORDER BY s_u DESC, doc_id) AS rn
        |        FROM r2 ORDER BY s_u DESC, doc_id LIMIT 10)
        |SELECT doc_id, ROUND(s_u / 1e6, 6) AS score, CAST(rn AS INT) AS rn
        |FROM fin ORDER BY rn""".stripMargin,

    "q_bm25_topk" ->
      """WITH q(qid, term) AS (VALUES (1, 'spark'), (1, 'join'), (1, 'hash'),
        |  (2, 'stream'), (2, 'window'), (2, 'batch'),
        |  (3, 'vector'), (3, 'scan')),
        |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dlen,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, dlen, COUNT(*) AS tf FROM tok GROUP BY 1, 2, 3),
        |c AS (SELECT COUNT(*) AS n_docs,
        |    SUM(len(string_split(text, ' '))) AS sum_dl FROM documents),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        |s AS (
        |  SELECT q.qid, tf.doc_id,
        |    ROUND(SUM(ln(1.0 + (c.n_docs - df.df + 0.5) / (df.df + 0.5))
        |      * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dlen
        |        / (c.sum_dl * 1.0 / c.n_docs)))), 6) AS score
        |  FROM tf JOIN q USING (term) JOIN df USING (term) CROSS JOIN c
        |  GROUP BY 1, 2)
        |SELECT qid, doc_id, score, rn FROM (
        |  SELECT qid, doc_id, score,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rn
        |  FROM s)
        |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,

    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, lang, n_toks,
        |    CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS INT) AS bin
        |  FROM t)
        |SELECT lang, bin, COUNT(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_toks,
        |  CAST(length(text) AS INT) AS text_len,
        |  ROUND(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
        |    / length(text), 6) AS space_ratio,
        |  ROUND(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6)
        |    AS avg_tok_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Two unrolled Lloyd's iterations as CTE pairs (assign sN/aN,
    // update mN/cN); argmax = row_number over (rounded cos DESC, cid)
    // — the same deterministic tiebreak as the engine's max_by struct.
    "q_kmeans" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |dims AS (SELECT unnest(generate_series(1, 64)) AS i),
         |c0 AS (SELECT vec_id AS cid, embedding AS c FROM e WHERE vec_id BETWEEN 1 AND 4),
         |s1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
         |       FROM (SELECT e.vec_id, c0.cid, e.embedding,
         |               ROUND(${duckCos("e.embedding", "c0.c")}, 6) AS cos
         |             FROM e CROSS JOIN c0)),
         |a1 AS (SELECT vec_id, cid, embedding FROM s1 WHERE rn = 1),
         |m1 AS (SELECT cid, i, AVG(CAST(embedding[i] AS DOUBLE)) AS m
         |       FROM a1 CROSS JOIN dims GROUP BY cid, i),
         |c1 AS (SELECT cid, list(CAST(m AS FLOAT) ORDER BY i) AS c FROM m1 GROUP BY cid),
         |s2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
         |       FROM (SELECT e.vec_id, c1.cid, e.embedding,
         |               ROUND(${duckCos("e.embedding", "c1.c")}, 6) AS cos
         |             FROM e CROSS JOIN c1)),
         |a2 AS (SELECT vec_id, cid, embedding FROM s2 WHERE rn = 1),
         |m2 AS (SELECT cid, i, AVG(CAST(embedding[i] AS DOUBLE)) AS m
         |       FROM a2 CROSS JOIN dims GROUP BY cid, i),
         |c2 AS (SELECT cid, list(CAST(m AS FLOAT) ORDER BY i) AS c FROM m2 GROUP BY cid),
         |s3 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
         |       FROM (SELECT e.vec_id, c2.cid,
         |               ROUND(${duckCos("e.embedding", "c2.c")}, 6) AS cos
         |             FROM e CROSS JOIN c2))
         |SELECT vec_id, cid, cos FROM s3 WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "q_precision_recall_k" ->
      s"""WITH pairs AS (
         |  SELECT a.vec_id AS a_id, a.label AS a_lab, b.vec_id AS b_id,
         |    b.label AS b_lab,
         |    ROUND(${duckCos("a.embedding", "b.embedding")}, 6) AS cos
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE ${graft.operators.EvalSample.sqlPred("a.vec_id")}),
         |top AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY a_id
         |      ORDER BY cos DESC, b_id) AS rn FROM pairs)
         |  WHERE rn <= 10),
         |pq AS (
         |  SELECT a_id, a_lab,
         |    SUM(CASE WHEN b_lab = a_lab THEN 1 ELSE 0 END) AS hits
         |  FROM top GROUP BY 1, 2)
         |SELECT a_lab AS label, COUNT(*) AS n_queries,
         |  ROUND(AVG(hits / 10.0), 6) AS p_at_10
         |FROM pq GROUP BY 1 ORDER BY label""".stripMargin,

    "q_ndcg" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
         |lc AS (SELECT label, COUNT(*) AS n_lab FROM e GROUP BY 1),
         |pairs AS (
         |  SELECT a.vec_id AS a_id, a.label AS a_lab, b.label AS b_lab,
         |    b.vec_id AS b_id,
         |    ROUND(${duckCos("a.embedding", "b.embedding")}, 6) AS cos
         |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
         |  WHERE ${graft.operators.EvalSample.sqlPred("a.vec_id")}),
         |top AS (
         |  SELECT a_id, a_lab, rn,
         |    CASE WHEN b_lab = a_lab THEN 1 ELSE 0 END AS rel
         |  FROM (SELECT *, row_number() OVER (PARTITION BY a_id
         |          ORDER BY cos DESC, b_id) AS rn FROM pairs)
         |  WHERE rn <= 10),
         |pq AS (
         |  SELECT a_id, a_lab,
         |    CAST(SUM(rel * CAST(ROUND(1e6 / log2(rn + 1.0)) AS BIGINT))
         |      AS BIGINT) AS dcg_u,
         |    CAST(MAX(rel * CAST(ROUND(1e6 / rn) AS BIGINT)) AS BIGINT) AS rr_u
         |  FROM top GROUP BY 1, 2),
         |ideal AS (
         |  SELECT label, CAST(list_sum(list_transform(
         |    generate_series(1, CAST(LEAST(10, n_lab - 1) AS INT)),
         |    i -> CAST(ROUND(1e6 / log2(i + 1.0)) AS BIGINT))) AS BIGINT)
         |    AS idcg_u
         |  FROM lc),
         |nd AS (
         |  SELECT a_lab, rr_u,
         |    CAST(ROUND(dcg_u * 1e6 / idcg_u) AS BIGINT) AS ndcg_u
         |  FROM pq JOIN ideal ON ideal.label = pq.a_lab)
         |SELECT a_lab AS label, COUNT(*) AS n_queries,
         |  ROUND(SUM(ndcg_u) / COUNT(*) / 1e6, 6) AS ndcg_at_10,
         |  ROUND(SUM(rr_u) / COUNT(*) / 1e6, 6) AS mrr
         |FROM nd GROUP BY 1 ORDER BY label""".stripMargin,

    "q_embed_outlier" ->
      s"""WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
         |m AS (SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS m
         |      FROM embeddings CROSS JOIN dims GROUP BY label, i),
         |c AS (SELECT label, list(CAST(m AS FLOAT) ORDER BY i) AS c
         |      FROM m GROUP BY label)
         |SELECT e.vec_id, e.label,
         |  ROUND(1.0 - ${duckCos("e.embedding", "c.c")}, 6) AS dist
         |FROM embeddings e JOIN c USING (label)
         |ORDER BY dist DESC, vec_id LIMIT 20""".stripMargin,

    "q_emb_margin" ->
      s"""WITH p AS (
         |  SELECT a.label = b.label AS intra,
         |    ${duckCos("a.embedding", "b.embedding")} AS cos
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |SELECT
         |  CAST(SUM(CASE WHEN intra THEN 1 ELSE 0 END) AS BIGINT) AS n_intra,
         |  CAST(SUM(CASE WHEN intra THEN 0 ELSE 1 END) AS BIGINT) AS n_inter,
         |  ROUND(AVG(CASE WHEN intra THEN cos END), 6) AS mean_intra,
         |  ROUND(AVG(CASE WHEN intra THEN NULL ELSE cos END), 6) AS mean_inter,
         |  ROUND(ROUND(AVG(CASE WHEN intra THEN cos END), 6)
         |    - ROUND(AVG(CASE WHEN intra THEN NULL ELSE cos END), 6), 6)
         |    AS margin
         |FROM p""".stripMargin
  )
}
