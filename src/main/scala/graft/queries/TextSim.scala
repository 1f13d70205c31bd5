package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.Registry
import graft.tables.Tables

/** B.10 continued: generator n-grams, MinHash+LSH candidates, SimHash,
  * document fingerprinting, language-ID heuristic, token counting, and
  * IVF-style ANN (SURVEY.md §2 B.10 + the training-data-pipeline ops).
  *
  * Scale notes: MinHash signatures are one pass per document (no
  * shuffle); LSH banding turns near-dup candidate generation into a
  * bucket-equi-join (shuffle keyed by (band, signature-slice)) —
  * sub-quadratic versus the all-pairs Jaccard join, which is the 100TB
  * path. IVF probes a bounded subset of partitions (2 of 10 lists)
  * instead of the full corpus.
  */
object TextSim {

  private val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  /** n-gram/stopword language-ID heuristic as a reusable Column:
    * CJK codepoint → zh; else marker-token argmax with fixed tie
    * order (en, de, es, fr); no signal → 'und'. */
  /** DuckDB twin of `langId` — shared by the q_text_langid and
    * q_lang_confusion oracles so the heuristic has ONE SQL source. */
  private val langPredCaseSql: String = {
    def sc(l: String) = {
      val lst = langMarkers(l).map(w => s"'$w'").mkString(", ")
      s"len(list_intersect(list_distinct(string_split(text, ' ')), [$lst]))"
    }
    s"""CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |     WHEN ${sc("en")} >= ${sc("de")} AND ${sc("en")} >= ${sc("es")}
       |          AND ${sc("en")} >= ${sc("fr")} AND ${sc("en")} > 0 THEN 'en'
       |     WHEN ${sc("de")} >= ${sc("es")} AND ${sc("de")} >= ${sc("fr")}
       |          AND ${sc("de")} > 0 THEN 'de'
       |     WHEN ${sc("es")} >= ${sc("fr")} AND ${sc("es")} > 0 THEN 'es'
       |     WHEN ${sc("fr")} > 0 THEN 'fr'
       |     ELSE 'und' END""".stripMargin
  }

  def langId(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = array_distinct(split(text, " "))
    def score(lang: String) =
      size(array_intersect(toks, array(langMarkers(lang).map(lit): _*)))
    val (sEn, sDe, sEs, sFr) = (score("en"), score("de"), score("es"), score("fr"))
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(sEn >= sDe && sEn >= sEs && sEn >= sFr && sEn > 0, "en")
      .when(sDe >= sEs && sDe >= sFr && sDe > 0, "de")
      .when(sEs >= sFr && sEs > 0, "es")
      .when(sFr > 0, "fr")
      .otherwise("und")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Generator surface: bigrams via the custom NGrams UDTF.
    "q_text_ngrams" -> ((s, d) => {
      Registry.ensure(s)
      Tables.documents(s, d)
        .select(expr("ngrams(split(text, ' '), 2)").as("ngram"))
        .groupBy("ngram")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("ngram"))
        .limit(20)
    }),

    // MinHash(32 perms) + LSH banding (8 bands x 4 rows): candidate
    // near-dup pairs. OMIT oracle — unit-tested for recall against
    // exact Jaccard (SURVEY.md §2 B.10 q_minhash_lsh row).
    // PER-BUCKET CANDIDATE CAP (r9 VERDICT task 3): a bucket of n
    // band-colliding docs enumerates n²/2 candidates, and near-dup
    // FAMILIES all collide in the same buckets — quadratic in family
    // size (measured 13.6× at sf1's 10-replica fixture). Each
    // (lang, band, bsig) bucket is capped to its 128 smallest doc_ids
    // before pairing, bounding the enumeration at 128²/2 per bucket.
    // 128 sits ABOVE every bucket the real corpus produces (measured
    // max: 106 at sf0.001, 114 at sf0.01 — the ExprSpec ≥0.9 recall
    // pin sees the UNCAPPED enumeration) and bounds only the derived
    // fixture's replica monsters (1088 at sf0.1, 2011 at sf1) and the
    // 100 TB boilerplate case. Recall contract when it binds: a pair
    // is missed only when BOTH members rank > 128 in EVERY band
    // bucket they share; family members always pair with the family's
    // 128 smallest ids (the id-ascending rank is consistent across a
    // family's buckets), so families stay DISCOVERABLE even when the
    // exhaustive within-family pair list is cut.
    "q_minhash_lsh" -> ((s, d) => {
      Registry.ensure(s)
      // signatures come from the memoized per-session table (r5):
      // q_dedup_lsh_resolve shares the same 32-perm computation
      val sig = graft.operators.EdgeGraph.minhashSigs(s, d, 32)
      // band signature collapsed to one 64-bit key (xxhash64 over the
      // 4 minhash lanes) — the bucket join then runs on (lang, band,
      // long) instead of array equality, staying codegen'd and narrow.
      val bands = sig.select(col("doc_id"), col("lang"),
          explode(expr(
            "transform(sequence(0, 7), b -> struct(b as band, " +
            "xxhash64(slice(sig, b * 4 + 1, 4)) as bsig))")).as("bs"))
        .select(col("doc_id"), col("lang"), col("bs.band").as("band"), col("bs.bsig").as("bsig"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("lang", "band", "bsig").orderBy("doc_id")))
        .filter(col("rk") <= 128)
        // both join sides read this — localCheckpoint so the band
        // explosion runs once; blocks free with the frame, no
        // CacheManager pin across reruns (r6, ADVICE)
        .localCheckpoint(true)
      val a = bands.select(col("lang"), col("band"), col("bsig"), col("doc_id").as("a_id"))
      val b = bands.select(col("lang").as("lang_b"), col("band").as("band_b"),
        col("bsig").as("bsig_b"), col("doc_id").as("b_id"))
      a.join(b, col("lang") === col("lang_b") && col("band") === col("band_b") &&
                col("bsig") === col("bsig_b") && col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
        .orderBy("a_id", "b_id")
    }),

    // True n-gram (bigram shingle) Jaccard near-dup pairs — sharper
    // than token-set Jaccard (on this corpus it isolates the ~6 real
    // near-identical doc pairs at J≈0.99). Routed through
    // SetSimJoin.auto: cheap corpus stats pick among the prefix, count
    // and broadcast-intersect strategies (which emit identical exact
    // results — ShingleSpec). This corpus' dense shingle vocabulary
    // (~931 distinct bigrams, avg df ~285 at sf0.1) defeats prefix
    // filtering, and the whole sorted-array table fits a broadcast, so
    // auto lands on the direct intersect probe here; at corpus sizes
    // where that pair space stops being tractable it degrades to the
    // count then prefix strategies. Documents are sorted distinct
    // 64-bit shingle hashes (codegen'd BigramHashes; zero collisions
    // on this corpus, asserted in ShingleSpec).
    // Served from the memoized edge layer (operators/EdgeGraph): the
    // first consumer of (bigram, τ=0.3) in a session pays the
    // SetSimJoin derivation, the other three keys scan the
    // checkpointed pair table — the materialize-once shape a real
    // pipeline uses for its pair table.
    "q_dedup_shingle" -> ((s, d) =>
      graft.operators.EdgeGraph.pairs(s, d, "bigram", 0.3)),

    // Dedup RESOLUTION: cluster the bigram-shingle near-dup graph into
    // connected components (cluster_id = min member id; keep marks the
    // canonical representative) — the step a pipeline runs after pair
    // generation to actually drop duplicates. Iterative min-label
    // propagation to fixpoint, failing loudly if unconverged
    // (operators/ConnectedComponents; no pointer jumping — wrong trade
    // on low-diameter near-dup graphs).
    "q_dedup_components" -> ((s, d) => {
      Registry.ensure(s)
      graft.operators.EdgeGraph.components(s, d, "bigram", 0.3)
        .select(col("doc_id"), col("label").as("cluster_id"),
          (col("label") === col("doc_id")).as("keep"))
        .orderBy("doc_id")
    }),

    // Dedup-resolution REPORT: the cluster-size distribution of the
    // near-dup graph — how much of the corpus is duplicated, and in
    // what clump sizes (the number a curation run actually reviews:
    // "N docs in M clusters of size k"). Same edge generation as
    // q_dedup_components (a real pipeline materializes the component
    // labels once and derives this from the saved table); the report
    // itself is two tiny aggregations over the label column.
    "q_dup_cluster_sizes" -> ((s, d) => {
      Registry.ensure(s)
      graft.operators.EdgeGraph.components(s, d, "bigram", 0.3)
        .groupBy("label").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy("cluster_size")
    }),

    // Triangle participation count per doc over the τ=0.95 token-set
    // near-IDENTICAL graph — the clique-density curation signal
    // completing the graph trio (components = clusters, PageRank =
    // hubs, triangles = how clique-like each doc's neighborhood is).
    // τ matters here more than on any other graph key: triangle COUNT
    // is cubic in clique size, so a loose threshold makes the OUTPUT
    // itself explode (measured: τ=0.8 at sf0.1 → 759k edges, 154M
    // triangles, 78 s of pure enumeration; τ=0.95 → 47k edges, 1.5M).
    // The edge list is localCheckpoint'd — it feeds THREE join legs,
    // and without materialization each leg re-runs the whole set-sim
    // join. Canonical a<b orientation enumerates each triangle once
    // via two equi-joins (at corpus scale, orient by degree instead
    // of id to bound the wedge join on skewed graphs).
    "q_graph_triangles" -> ((s, d) => {
      Registry.ensure(s)
      // already checkpointed by the edge layer — the three join legs
      // scan the cached pair RDD directly
      val e = graft.operators.EdgeGraph.pairs(s, d, "token", 0.95)
        .select("a_id", "b_id")
      val tri = e.select(col("a_id").as("x"), col("b_id").as("y"))
        .join(e.select(col("a_id").as("y"), col("b_id").as("z")), "y")
        .join(e.select(col("a_id").as("x"), col("b_id").as("z")), Seq("x", "z"))
      tri.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_triangles"))
        .orderBy("doc_id")
    }),

    // LSH banding planner (the s-curve table): collision probability
    // p = 1 − (1 − s^r)^b over the (bands, rows) grid × similarity
    // levels — the design table every MinHash deployment reads before
    // picking its banding (this repo's own 8×4 choice shows up as the
    // τ=0.8, p≈0.94 row). Pure closed-form arithmetic over a
    // generated grid; identical pow sequences in both engines.
    "q_lsh_tuner" -> ((s, d) => {
      val grid = s.range(0, 1) // anchor; the grid itself is literal
        .select(explode(expr("array(4, 8, 16, 32)")).as("b"))
        .select(col("b"), explode(expr("array(2, 4, 8)")).as("r"))
        .select(col("b"), col("r"),
          explode(expr("array(0.5D, 0.6D, 0.7D, 0.8D, 0.9D)")).as("sim"))
      grid
        .withColumn("p_collide",
          round(lit(1.0) - pow(lit(1.0) - pow(col("sim"), col("r")), col("b")), 6))
        .withColumn("catches_at_90pct", col("p_collide") >= 0.9)
        .orderBy("b", "r", "sim")
    }),

    // Link prediction on the near-dup graph (common-neighbors /
    // neighborhood-Jaccard — the classic Liben-Nowell–Kleinberg
    // scores): for every 2-hop pair NOT directly connected, count the
    // shared neighbors and score |N(u)∩N(v)| / |N(u)∪N(v)|; top-20
    // via TakeOrdered. The candidate set is the WEDGE join (edges
    // joined on the shared midpoint), never an all-pairs cross — at
    // corpus scale wedge count is Σ deg², bounded on this graph
    // because τ=0.95 keeps clusters tight (the q_graph_triangles
    // edge layer, already session-checkpointed). Exact-integer
    // degree/count ratios → deterministic ranking.
    "q_link_pred" -> ((s, d) => {
      Registry.ensure(s)
      val e = graft.operators.EdgeGraph.pairs(s, d, "token", 0.95)
        .select("a_id", "b_id")
      val sym = e.union(e.select(col("b_id"), col("a_id")))
        .toDF("src", "dst")
      val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val wedges = sym.select(col("src").as("u"), col("dst").as("w"))
        .join(sym.select(col("src").as("w"), col("dst").as("v")), "w")
        .filter(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("cn"))
      wedges
        .join(e.select(col("a_id").as("u"), col("b_id").as("v")),
          Seq("u", "v"), "left_anti")
        .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
        .select(col("u").as("a_id"), col("v").as("b_id"), col("cn"),
          round(col("cn") / (col("du") + col("dv") - col("cn")), 6)
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
        .limit(20)
    }),

    // Adamic–Adar link prediction on the same τ=0.95 near-dup graph —
    // the degree-weighted refinement of q_link_pred's common-neighbor
    // count: score(u,v) = Σ_{w∈N(u)∩N(v)} 1/ln(deg w), which discounts
    // promiscuous midpoints. Same wedge join (midpoint KEPT so its
    // degree can weight the term; every midpoint has deg ≥ 2, so
    // ln(deg) > 0); per-wedge terms µ-snap to the 1e9 grid before the
    // per-pair sum, making the top-20 ranking deterministic.
    // Scale bound: a raw sym ⋈ sym wedge join materializes Σ_w deg(w)²
    // rows — unbounded under hub skew (one m-doc boilerplate
    // near-clique yields m² wedges per member). Each node's traversal
    // list is therefore capped to its 64 smallest neighbor ids
    // (deterministic, the oracle applies the identical cap), bounding
    // join volume at Σ_w deg(w)·64 — linear in the edge count. The
    // 1/ln weights still use TRUE degrees; only enumeration is capped.
    "q_adamic_adar" -> ((s, d) => {
      Registry.ensure(s)
      val e = graft.operators.EdgeGraph.pairs(s, d, "token", 0.95)
        .select("a_id", "b_id")
      val sym = e.union(e.select(col("b_id"), col("a_id")))
        .toDF("src", "dst")
      val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val wn = org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy("dst")
      val adj = sym.withColumn("rn", row_number().over(wn))
        .filter(col("rn") <= 64).drop("rn")
      val wedges = adj.select(col("src").as("u"), col("dst").as("w"))
        .join(adj.select(col("src").as("w"), col("dst").as("v")), "w")
        .filter(col("u") < col("v"))
        .join(deg.select(col("id").as("w"), col("deg").as("dw")), "w")
        .withColumn("t_u", round(lit(1e9) / log(col("dw"))).cast("long"))
        .groupBy("u", "v")
        .agg(count(lit(1)).as("cn"), sum("t_u").as("aa_u"))
      wedges
        .join(e.select(col("a_id").as("u"), col("b_id").as("v")),
          Seq("u", "v"), "left_anti")
        .select(col("u").as("a_id"), col("v").as("b_id"), col("cn"),
          round(col("aa_u") / 1e9, 6).as("adamic_adar"))
        .orderBy(col("adamic_adar").desc, col("a_id"), col("b_id"))
        .limit(20)
    }),

    // Recursive-CTE SQL surface (Spark 4's WITH RECURSIVE): depth-
    // limited BFS over the near-dup graph from the smallest doc that
    // participates in any edge — min hop count per reached doc. The
    // edge list is a custom-operator DataFrame (SetSimJoin) registered
    // as a temp view and traversed in pure SQL: the recursion the
    // engine itself executes, not an iterative driver loop (contrast
    // q_dedup_components). Depth cap 3 bounds the UNION ALL path
    // blow-up on cliques; near-dup clusters are small, and at corpus
    // scale each recursion step is one equi-join on the hop frontier.
    "q_cte_recursive" -> ((s, d) => {
      Registry.ensure(s)
      val edges = graft.operators.EdgeGraph.pairs(s, d, "bigram", 0.3)
        .select("a_id", "b_id")
      // localCheckpoint BEFORE the view: every recursion STEP scans
      // the view, and an unmaterialized view re-executes the whole
      // set-sim join per step (measured 42 s for a 79-edge graph at
      // sf0.1 — ~8 re-executions). Materialized: the steps scan an RDD.
      // partition count tracks edge volume, not session width: each of
      // the ~4 recursion steps joins the frontier against this list,
      // so near-empty tasks are pure scheduling overhead (measured:
      // 4.8 s → ~3 s at sf0.1 with few partitions) while a fixed small
      // count would straggle at 100× the edges. One task per ~64k sym
      // rows, capped at the session's parallelism. The count() is a
      // cached-scan agg — EdgeGraph.pairs is session-memoized.
      val nSym = edges.count() * 2
      val parts = math.max(1L, math.min(
        s.sparkContext.defaultParallelism.toLong, nSym / 65536 + 1)).toInt
      edges.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
        .coalesce(parts)
        .localCheckpoint(true)
        .createOrReplaceTempView("graft_dup_edges")
      s.sql("""
        |WITH RECURSIVE reach(doc_id, depth) AS (
        |  SELECT MIN(src), 0 FROM graft_dup_edges
        |  UNION ALL
        |  SELECT e.dst, r.depth + 1
        |  FROM reach r JOIN graft_dup_edges e ON r.doc_id = e.src
        |  WHERE r.depth < 3)
        |SELECT doc_id, MIN(depth) AS min_depth
        |FROM reach WHERE doc_id IS NOT NULL
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    }),

    // Centrality over the near-dup graph: damped PageRank (d=0.85,
    // three fixed iterations, uniform init) on the τ=0.8 token-set
    // similarity graph — ranks the "template" documents whose text
    // recurs across the corpus (boilerplate hubs score high; the
    // curation signal complementing q_dedup_components' cluster ids).
    // Scale shape: the edge list is generated once via SetSimJoin.auto
    // and localCheckpoint'd (AQE kept, lineage cut — re-running the
    // set-sim join per iteration would triple the dominant cost);
    // out-degrees join the edges once OUTSIDE the loop; each iteration
    // is then one join (ranks are doc-count-sized — no broadcast hint,
    // AQE decides; at cluster scale both sides co-partition on doc id)
    // plus one groupBy(dst) sum. Ranks round at 1e-8 only on output —
    // double accumulation drift (~1e-18) cannot reach the grain.
    "q_pagerank" -> ((s, d) => {
      Registry.ensure(s)
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = docs.count() // bounded driver scalar (as in ConnectedComponents)
      val pairs = graft.operators.EdgeGraph.pairs(s, d, "token", 0.8)
        .select("a_id", "b_id")
      val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
        .localCheckpoint(true)
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val edgesDeg = edges.join(deg, "src").localCheckpoint(true)
      var ranks = docs.select(col("doc_id"), (lit(1.0) / lit(n.toDouble)).as("r"))
      for (_ <- 1 to 3) {
        val inflow = edgesDeg
          .join(ranks.withColumnRenamed("doc_id", "src"), "src")
          .groupBy(col("dst").as("doc_id"))
          .agg(sum(col("r") / col("deg")).as("inflow"))
        ranks = docs.join(inflow, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (lit(0.15 / n.toDouble) +
              lit(0.85) * coalesce(col("inflow"), lit(0.0))).as("r"))
      }
      ranks.join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (round(col("r") * lit(100000000L)) / lit(100000000L)).as("pr"),
          coalesce(col("deg"), lit(0L)).as("deg"))
        .orderBy("doc_id")
    }),

    // End-to-end APPROXIMATE dedup at the 100 TB composition (r5):
    // MinHash-LSH banding generates candidates sub-quadratically, the
    // codegen'd sorted-merge intersect verifies exact token Jaccard
    // ≥ 0.8 (false positives die here), and ConnectedComponents
    // resolves the verified pairs to cluster labels — the pipeline a
    // petabyte corpus actually runs, where the exact SetSimJoin keys
    // (q_dedup_components) are the small-scale oracle. The verify τ
    // is MATCHED to the banding curve: 8 bands × 4 rows has its
    // s-curve threshold at (1/8)^(1/4) ≈ 0.6, so recall at J ≥ 0.8 is
    // ≈ 0.985 per pair and → 1 as J → 1 (measured here first: a τ=0.5
    // verify against the same banding missed boundary pairs — per-pair
    // candidate probability at J = 0.5 is only 0.40). OMIT oracle
    // (banding recall is probabilistic BY DESIGN); the unit suite pins
    // the honest approximate contract — soundness exactly (every LSH
    // cluster is contained in an exact τ=0.8 cluster: verified pairs
    // cannot over-merge) and recall as a floor.
    "q_dedup_lsh_resolve" -> ((s, d) => {
      Registry.ensure(s)
      val docs = Tables.documents(s, d)
      // banded index from the shared memoized table (r13 opt: the
      // explode + checkpoint used to run per call here AND in
      // s_stream_lsh_dedup — the corpus index is now materialized once
      // per session, the posture both keys' comments already claimed).
      // Band key = xxhash64 over the 4 lanes + band index: one 64-bit
      // join key per (doc, band), never array equality.
      val bands = graft.operators.EdgeGraph.lshBands(s, d)
      // candidate pairs packed into ONE long before the distinct (the
      // SetSimJoin trick — doc ids fit 32 bits by the same invariant):
      // the dedup shuffle carries 8-byte keys instead of two columns.
      // Cost profile at sf0.1 (measured): ~2.0M raw candidates → 756k
      // verified pairs; the distinct and the CC over those edges are
      // the real work of this key, not the signatures.
      val cand = bands.select(col("lang"), col("bsig"), col("doc_id").as("a_id"))
        .join(bands.select(col("lang").as("l2"), col("bsig").as("b2"),
            col("doc_id").as("b_id")),
          col("lang") === col("l2") && col("bsig") === col("b2") &&
          col("a_id") < col("b_id"))
        .select(shiftleft(col("a_id"), 32).bitwiseOR(col("b_id")).as("pk"))
        .distinct()
        .select(shiftright(col("pk"), 32).as("a_id"),
          col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("b_id"))
      // verify table from the session memo (r13 opt): tokenize+hash of
      // the whole corpus ran per call here, in the stream twin and in
      // q_contamination — one materialization serves all three
      val hsT = graft.operators.EdgeGraph.tokenHashes(s, d)
        .select("doc_id", "hs")
      val verified = cand
        .join(hsT.select(col("doc_id").as("a_id"), col("hs").as("a_hs")), "a_id")
        .join(hsT.select(col("doc_id").as("b_id"), col("hs").as("b_hs")), "b_id")
        .withColumn("i", expr("sorted_intersect_count(a_hs, b_hs)"))
        .filter(col("i") / (size(col("a_hs")) + size(col("b_hs")) - col("i")) >= 0.8)
        .select("a_id", "b_id")
      graft.operators.ConnectedComponents.components(s, docs.select("doc_id"), verified)
        .select(col("doc_id"), col("label").as("cluster_id"),
          (col("label") === col("doc_id")).as("keep"))
        .orderBy("doc_id")
    }),

    // SimHash fingerprints (constant-size near-dup sketch). OMIT
    // oracle — property-tested (determinism + self-similarity).
    "q_simhash" -> ((s, d) => {
      Registry.ensure(s)
      Tables.documents(s, d)
        .select(col("doc_id"), expr("simhash64(split(text, ' '))").as("fp"))
        .orderBy("doc_id")
    }),

    // SimHash near-dup RESOLUTION (the Google-crawl dedup shape:
    // Manku et al., WWW'07): 64-bit fingerprints band into 4×16-bit
    // keys — any pair within hamming distance 3 agrees exactly on at
    // least one band (pigeonhole), so candidate generation is four
    // equi-joins on band keys, never all-pairs. Candidates verify
    // with a codegen'd popcount on the XOR'd fingerprints; band
    // collisions dedupe on the packed (min,max) pair id. Sub-quadratic
    // end-to-end — the same bucket-join posture as the MinHash path,
    // at 8 bytes of state per doc instead of a signature array.
    // OMIT oracle (simhash not in DuckDB): R6OpsSpec pins soundness
    // (every pair verified ≤ 3) and completeness vs the brute-force
    // hamming pairs on the collected corpus.
    "q_simhash_dedup" -> ((s, d) => {
      Registry.ensure(s)
      val fp = Tables.documents(s, d)
        .select(col("doc_id"), expr("simhash64(split(text, ' '))").as("fp"))
        .withColumn("b0", shiftright(col("fp"), 48).bitwiseAND(lit(0xffffL)))
        .withColumn("b1", shiftright(col("fp"), 32).bitwiseAND(lit(0xffffL)))
        .withColumn("b2", shiftright(col("fp"), 16).bitwiseAND(lit(0xffffL)))
        .withColumn("b3", col("fp").bitwiseAND(lit(0xffffL)))
        .localCheckpoint(true) // four join legs read this
      val cands = (0 to 3).map { i =>
        val l = fp.select(col("doc_id").as("a_id"), col("fp").as("a_fp"),
          col(s"b$i").as("k"))
        val r = fp.select(col("doc_id").as("b_id"), col("fp").as("b_fp"),
          col(s"b$i").as("k"))
        l.join(r, Seq("k")).filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id", "a_fp", "b_fp")
      }.reduce(_ unionByName _)
      cands
        .withColumn("ham", expr("bit_count(a_fp ^ b_fp)"))
        .filter(col("ham") <= 3)
        .select(col("a_id"), col("b_id"), col("ham")).distinct()
        .orderBy("a_id", "b_id")
    }),

    // Order-insensitive exact-content fingerprint (rolling digest of
    // the sorted distinct token stream) — SQL-expressible, oracled.
    "q_text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " "))))).as("fp"),
          md5(col("text")).as("fp_exact"))
        .orderBy("doc_id")),

    // Language-ID heuristic: CJK codepoint check, else stopword-marker
    // argmax with fixed tie order (en,de,es,fr), else 'und'. On this
    // corpus (shared jargon vocab across langs) everything is 'und' —
    // the operator semantics are still fully exercised and oracled;
    // LangIdSpec proves the heuristic on real multilingual text.
    "q_text_langid" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), langId(col("text")).as("pred"))
        .orderBy("doc_id")),

    // Confusion matrix auditing the langid heuristic against the
    // labeled corpus: per (true lang, predicted) counts — the
    // quality report a curation pipeline keeps for every heuristic
    // classifier it gates on. Exact counts, one partial agg.
    "q_lang_confusion" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), langId(col("text")).as("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")),

    // Classification report for the langid heuristic — the sklearn
    // classification_report shape: per-class support / predicted /
    // TP / precision / recall / F1 off the confusion cells, plus a
    // '~macro' summary row ('~' sorts after every class name in both
    // engines' binary collation). Everything derives from ONE partial
    // agg to the bounded |classes|² cell table; per-class ratios are
    // exact-integer divisions, and the macro averages aggregate
    // µ-snapped longs (the cusum lesson) so the cross-class sum is
    // order-free. At 100 TB the cell table is still |classes|² rows.
    "q_classifier_report" -> ((s, d) => {
      val cells = Tables.documents(s, d)
        .select(col("lang"), langId(col("text")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = true) // bounded: |classes|² cells
      val byTrue = cells.groupBy(col("lang").as("cls"))
        .agg(sum("n").as("support"))
      val byPred = cells.groupBy(col("pred").as("cls"))
        .agg(sum("n").as("pred_n"))
      val tp = cells.filter(col("lang") === col("pred"))
        .select(col("lang").as("cls"), col("n").as("tp"))
      val per = byTrue.join(byPred, Seq("cls"), "full_outer")
        .join(tp, Seq("cls"), "left")
        .na.fill(0L, Seq("support", "pred_n", "tp"))
        .withColumn("p_raw",
          when(col("pred_n") > 0, col("tp") / col("pred_n")).otherwise(lit(0.0)))
        .withColumn("r_raw",
          when(col("support") > 0, col("tp") / col("support")).otherwise(lit(0.0)))
        .withColumn("f_raw", when(col("p_raw") + col("r_raw") > 0,
          lit(2.0) * col("p_raw") * col("r_raw") / (col("p_raw") + col("r_raw")))
          .otherwise(lit(0.0)))
        .localCheckpoint(eager = true) // bounded; feeds rows + macro
      val macroRow = per.agg(count(lit(1)).as("nc"),
          sum("support").as("support"), sum("pred_n").as("pred_n"),
          sum("tp").as("tp"),
          sum(round(col("p_raw") * 1e6).cast("long")).as("sp"),
          sum(round(col("r_raw") * 1e6).cast("long")).as("sr"),
          sum(round(col("f_raw") * 1e6).cast("long")).as("sf"))
        .select(lit("~macro").as("cls"), col("support"), col("pred_n"),
          col("tp"),
          round(col("sp") / col("nc") / lit(1e6), 6).as("precision"),
          round(col("sr") / col("nc") / lit(1e6), 6).as("recall"),
          round(col("sf") / col("nc") / lit(1e6), 6).as("f1"))
      per.select(col("cls"), col("support"), col("pred_n"), col("tp"),
          round(col("p_raw"), 6).as("precision"),
          round(col("r_raw"), 6).as("recall"),
          round(col("f_raw"), 6).as("f1"))
        .unionByName(macroRow)
        .orderBy("cls")
    }),

    // Intra-document repetition ratio (Gopher/RefinedWeb-style quality
    // rule): share of bigram occurrences that are repeats of an
    // earlier bigram in the same doc. 0 = no repeated word pair;
    // high = boilerplate/junk. distinct-bigram count comes from the
    // codegen'd BigramHashes (collision-freedom pinned in ShingleSpec).
    "q_text_repetition" -> ((s, d) => {
      Registry.ensure(s)
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("l"),
          expr("size(bigram_hashes(split(text, ' ')))").as("n_distinct"))
        .filter(size(col("l")) >= 2)
        .select(col("doc_id"),
          (size(col("l")) - 1).as("n_bigrams"),
          col("n_distinct"),
          round(lit(1.0) - col("n_distinct") / (size(col("l")) - lit(1)).cast("double"), 6)
            .as("rep_ratio"))
        .orderBy("doc_id")
    }),

    // Character-level Shannon entropy per document (natural log) — a
    // standard corpus-quality feature (low entropy = repetitive junk).
    "q_text_entropy" -> ((s, d) => {
      val chars = Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).as("len"),
          explode(split(col("text"), "")).as("ch"))
        .groupBy("doc_id", "len", "ch")
        .agg(count(lit(1)).as("cnt"))
      chars.groupBy("doc_id")
        .agg(round(-sum((col("cnt") / col("len")) * log(col("cnt") / col("len"))), 6)
          .as("entropy"))
        .orderBy("doc_id")
    }),

    // Token counting: whitespace tokens + a BPE-ish subword estimate
    // (ceil(len/4) per word — integer arithmetic, exact both engines).
    "q_token_count" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_ws"),
          expr("aggregate(transform(split(text, ' '), w -> (length(w) + 3) div 4), 0L, (a, x) -> a + x)")
            .as("n_subword"))
        .orderBy("doc_id")),

    // IVF-style ANN: coarse quantize by per-label centroids, probe the
    // 2 nearest lists, exact re-rank inside them. OMIT oracle —
    // unit-tested for recall against brute force.
    "q_sim_ivf" -> ((s, d) => {
      Registry.ensure(s)
      val e = Tables.embeddings(s, d)
      val centroids = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim").agg(avg(col("v").cast("double")).as("m"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(dim, m))), p -> CAST(p.m AS FLOAT))").as("centroid"))
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      // nprobe=4: this corpus' labels are weak cosine clusters, so a
      // 2-list probe loses too much recall; 4 of 10 lists still reads
      // less than half the corpus (the IVF scale tradeoff dial).
      val probes = centroids.crossJoin(broadcast(q))
        .select(col("label"), expr("cosine_sim(centroid, q_emb)").as("c"))
        .orderBy(col("c").desc, col("label"))
        .limit(4)
        .select("label")
      e.join(broadcast(probes), "label")
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), round(expr("cosine_sim(embedding, q_emb)"), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    }),

    // Degree distribution of the τ=0.8 near-dup graph — the audit a
    // dedup pipeline runs BEFORE resolution: a fat-tailed histogram
    // predicts connected-component blowup (one hub node can chain
    // half the corpus into one cluster). Edges come from the
    // session-memoized EdgeGraph derivation (materialize-once); this
    // key adds two bounded partial aggs on the pair list plus the
    // isolated-node (degree-0) complement against the corpus count.
    "q_graph_degree_stats" -> ((s, d) => {
      val pairs = graft.operators.EdgeGraph.pairs(s, d, "token", 0.8)
      val deg = pairs.select(col("a_id").as("id"))
        .unionAll(pairs.select(col("b_id").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
        .localCheckpoint(eager = true) // feeds histogram + connected count
      val hist = deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      val nConn = deg.agg(count(lit(1)).as("n_conn"))
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      hist.unionAll(
          nDocs.crossJoin(broadcast(nConn))
            .select(lit(0L).as("degree"),
              (col("n_docs") - col("n_conn")).as("n_nodes")))
        .filter(col("n_nodes") > 0)
        .orderBy("degree")
    }),

    // Token-length histogram per language (tokenizer sizing
    // diagnostic: long-tail word lengths predict subword fertility).
    // Served from the session term-index memo — one partial agg, no
    // fresh tokenize explode.
    "q_token_len_hist" -> ((s, d) =>
      graft.operators.EdgeGraph.termFreq(s, d)
        .groupBy(col("lang"), length(col("term")).as("wlen"))
        .agg(sum("tf_raw").as("n"))
        .orderBy("lang", "wlen")),

    // Dedup threshold-sensitivity sweep: pair volume and docs
    // involved at τ ∈ {0.7, 0.8, 0.9} — the tuning audit run before
    // committing a similarity cut. ONE SetSimJoin derivation at the
    // loosest τ (memoized) serves all three bands: each stricter
    // threshold is a filter over the same scored pair list, never a
    // re-derivation.
    "q_dedup_threshold_sweep" -> ((s, d) => {
      // r13 opt: the memo is already eagerly checkpointed — the extra
      // localCheckpoint here re-copied every block per call
      val pairs = graft.operators.EdgeGraph.pairs(s, d, "token", 0.7)
      val taus = Seq(0.7, 0.8, 0.9)
      taus.map { tau =>
        val p = pairs.filter(col("jaccard") >= tau)
        val docs = p.select(col("a_id").as("id"))
          .unionAll(p.select(col("b_id").as("id"))).distinct()
        p.agg(count(lit(1)).as("n_pairs"))
          .crossJoin(docs.agg(count(lit(1)).as("n_docs")))
          .select(lit(tau).as("tau"), col("n_pairs"), col("n_docs"))
      }.reduce(_ unionAll _).orderBy("tau")
    }),

    // Term burstiness (Church–Gale): variance-to-mean ratio of
    // per-doc counts (zeros included, via E[x²]−µ² from the sparse
    // term index — no dense expansion) — VMR ≈ 1 is Poisson
    // background, VMR ≫ 1 is topical. Top-20 bursty terms at df ≥ 10
    // on the rounded grid; vocab-grain throughout.
    "q_text_burstiness" -> ((s, d) => {
      val tf = graft.operators.EdgeGraph.termFreq(s, d)
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
      tf.groupBy("term")
        .agg(countDistinct("doc_id").as("df"), sum("tf_raw").as("s1"),
          sum(col("tf_raw") * col("tf_raw")).as("s2"))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") >= 10)
        .withColumn("mu", col("s1") / col("nd").cast("double"))
        .withColumn("vmr", round(
          (col("s2") / col("nd") - col("mu") * col("mu")) / col("mu"), 6))
        .select(col("term"), col("df"), col("s1").as("occ"), col("vmr"))
        .orderBy(col("vmr").desc, col("term"))
        .limit(20)
    }),

    // Vocabulary coverage curve: share of all token occurrences
    // covered by the top-N most frequent terms, N ∈ {10, 100, 1000}
    // — the tokenizer-budget curve (how much text a vocab of size N
    // explains). Rank + cumsum over the vocab-grain frequency table.
    "q_ngram_coverage" -> ((s, d) => {
      val freq = graft.operators.EdgeGraph.termFreq(s, d)
        .groupBy("term").agg(sum("tf_raw").as("n"))
        .localCheckpoint(eager = true) // vocab-grain, referenced twice
      val tot = freq.agg(sum("n").as("nn"))
      val ranked = freq.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("n").desc, col("term"))))
      val cuts = s.range(1, 4).select(pow(lit(10), col("id")).cast("long").as("top_n"))
      // conditional agg, not an rk = N join: a vocab smaller than the
      // cut still yields its (saturated) coverage row
      ranked.crossJoin(broadcast(cuts)).crossJoin(broadcast(tot))
        .groupBy("top_n")
        .agg(sum(when(col("rk") <= col("top_n"), 1L).otherwise(0L)).as("n_terms"),
          round(sum(when(col("rk") <= col("top_n"), col("n")).otherwise(0L))
            / min("nn").cast("double"), 6).as("coverage"))
        .orderBy("top_n")
    })
  ,
    // Stopword candidate detection (tokenizer/IDF prep): terms whose
    // document frequency exceeds half the corpus — vocab-grain from
    // the memoized term index, df share + per-occurrence mass out.
    "q_stopword_detect" -> ((s, d) => {
      val tf = graft.operators.EdgeGraph.termFreq(s, d)
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
      tf.groupBy("term")
        .agg(countDistinct("doc_id").as("df"), sum("tf_raw").as("occ"))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") > col("nd") * 0.5)
        .select(col("term"), col("df"), col("occ"),
          round(col("df") / col("nd"), 6).as("df_share"))
        .orderBy(col("df_share").desc, col("term"))
    }),

    // Near-duplication rate per source — the q_dataset_card
    // complement at the NEAR-dup grain (its dup_rate is exact-hash):
    // share of each source's docs participating in at least one
    // τ=0.8 pair. Served from the memoized EdgeGraph pairs; one
    // bounded distinct + one partial agg on top.
    "q_near_dup_rate" -> ((s, d) => {
      val pairs = graft.operators.EdgeGraph.pairs(s, d, "token", 0.8)
      val inPair = pairs.select(col("a_id").as("doc_id"))
        .unionAll(pairs.select(col("b_id").as("doc_id")))
        .distinct()
        .withColumn("dup", lit(1L))
      Tables.documents(s, d)
        .join(inPair, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("dup"), lit(0L))).as("n_dup"))
        .withColumn("dup_rate", round(col("n_dup") / col("n_docs"), 6))
        .orderBy("source")
    }),

    // Asymmetric containment join (the quote/subset detector —
    // C(A,B) = |A∩B|/|A| ≥ 0.9, vs the SYMMETRIC Jaccard of
    // q_dedup_near_jaccard): finds documents whose BIGRAM-shingle set
    // is nearly swallowed by another's, the relationship symmetric
    // dedup misses when |B| ≫ |A|. Shingles, not unigrams: this
    // corpus's per-lang vocabulary is small, so unigram containment
    // is trivially dense (~80k pairs — measured), while word-order-
    // sensitive bigrams keep containment meaning "contains the same
    // PHRASING". Candidates via the containment prefix filter
    // (pigeonhole: if |A∩B| ≥ ⌈t·|A|⌉ then B holds one of A's
    // |A|−⌈t·|A|⌉+1 globally-rarest shingles), probing the FULL
    // inverted index on the B side — exact, never all-pairs. All
    // threshold comparisons are integer (10·i ≥ 9·|A| etc.), so the
    // τ cut is grid-free and engine-exact; only the reported
    // containment value divides.
    "q_contain_join" -> ((s, d) => {
      Registry.ensure(s)
      // r14 note: deliberately NOT fanned out (util.Par) — measured A/B
      // (OPTIMIZATION_r14.md §12, 3 reps each) says the single-partition
      // shape wins 3.5 vs 5.2 s: this key's cost is its join/window
      // cascade, not per-row hashing, and 32-way partitioning just
      // multiplies short-stage scheduling and shuffle-block count at this
      // corpus size. At scale the scan arrives pre-split anyway.
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), expr("bigram_hashes(split(text, ' '))").as("hs"))
        .withColumn("sz", size(col("hs")))
        .filter(col("sz") >= 1)
        .localCheckpoint(eager = true) // probe + index + verify sides
      val tok = docs.select(col("doc_id"), col("sz"), explode(col("hs")).as("h"))
      val dfreq = tok.groupBy("h").agg(count(lit(1)).as("df"))
      val prefix = tok.join(dfreq, "h")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("doc_id").orderBy(col("df"), col("h"))))
        .filter(col("rn") <= col("sz") - expr("(9 * sz + 9) div 10") + 1)
        .select(col("doc_id").as("a_id"), col("sz").as("a_sz"), col("h"))
      val index = tok.select(col("doc_id").as("b_id"), col("sz").as("b_sz"), col("h"))
      val cand = prefix.join(index, Seq("h"))
        .filter(col("a_id") =!= col("b_id") &&
          col("b_sz") * 10 >= col("a_sz") * 9)
        .select("a_id", "b_id").distinct()
      cand
        .join(docs.select(col("doc_id").as("a_id"), col("hs").as("a_hs"),
          col("sz").as("a_sz")), "a_id")
        .join(docs.select(col("doc_id").as("b_id"), col("hs").as("b_hs")), "b_id")
        .withColumn("i", expr("sorted_intersect_count(a_hs, b_hs)"))
        .filter(col("i") * 10 >= col("a_sz") * 9)
        .select(col("a_id"), col("b_id"),
          round(col("i").cast("double") / col("a_sz").cast("double"), 4)
            .as("containment"))
        .orderBy("a_id", "b_id")
    })
  )

  val oracle: Map[String, String] = Map(
    // r7: q_sim_ivf converts from OMIT to oracled — centroids are the
    // per-label dim means (kmeans float-snap recipe), probes the top-4
    // lists by centroid cosine, final top-10 on the 6dp grid.
    "q_sim_ivf" -> {
      def cos(a: String, b: String): String =
        s"""(list_sum(list_transform(list_zip($a, $b),
           |   p -> CAST(struct_extract(p, 1) AS DOUBLE) * CAST(struct_extract(p, 2) AS DOUBLE)))
           | / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           |  * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
         |dims AS (SELECT unnest(generate_series(1, 64)) AS i),
         |cm AS (SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS m
         |       FROM e CROSS JOIN dims GROUP BY 1, 2),
         |cl AS (SELECT label, list(CAST(m AS FLOAT) ORDER BY i) AS c
         |       FROM cm GROUP BY label),
         |q AS (SELECT embedding AS q_emb FROM e WHERE vec_id = 0),
         |pr AS (SELECT label FROM (
         |         SELECT cl.label, ${cos("cl.c", "q.q_emb")} AS cs
         |         FROM cl CROSS JOIN q)
         |       ORDER BY cs DESC, label LIMIT 4)
         |SELECT vec_id, ROUND(${cos("e.embedding", "q.q_emb")}, 6) AS cos
         |FROM e JOIN pr USING (label) CROSS JOIN q
         |WHERE vec_id <> 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
    },

    "q_contain_join" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(l) - 1),
        |                  i -> l[i] || ' ' || l[i + 1])) AS shingles
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |  WHERE len(l) >= 2),
        |tok AS (SELECT doc_id, unnest(shingles) AS tk FROM sh),
        |sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |  FROM tok a JOIN tok b ON a.tk = b.tk AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id,
        |  ROUND(CAST(i AS DOUBLE) / CAST(sa.n AS DOUBLE), 4) AS containment
        |FROM inter
        |JOIN sz sa ON inter.a_id = sa.doc_id
        |WHERE i * 10 >= sa.n * 9
        |ORDER BY a_id, b_id""".stripMargin,

    // three unrolled PageRank iterations over the τ=0.8 token-set
    // similarity graph (tok/sz/inter reproduce q_dedup_near_jaccard's
    // pair semantics exactly)
    "q_pagerank" ->
      """WITH tok AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        |inter AS MATERIALIZED (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS MATERIALIZED (
        |  SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id, i * 1.0 / (sa.n + sb.n - i) AS j
        |    FROM inter
        |    JOIN sz sa ON inter.a_id = sa.doc_id
        |    JOIN sz sb ON inter.b_id = sb.doc_id)
        |  WHERE j >= 0.8),
        |edges AS MATERIALIZED (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs),
        |dg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM documents),
        |r0 AS (SELECT doc_id, 1.0 / (SELECT n FROM nn) AS r FROM documents),
        |r1 AS (
        |  SELECT d.doc_id, 0.15 / (SELECT n FROM nn)
        |      + 0.85 * COALESCE(f.inflow, 0) AS r
        |  FROM documents d LEFT JOIN (
        |    SELECT e.dst AS doc_id, SUM(p.r / dg.deg) AS inflow
        |    FROM edges e JOIN r0 p ON e.src = p.doc_id
        |    JOIN dg ON dg.src = e.src GROUP BY e.dst) f USING (doc_id)),
        |r2 AS (
        |  SELECT d.doc_id, 0.15 / (SELECT n FROM nn)
        |      + 0.85 * COALESCE(f.inflow, 0) AS r
        |  FROM documents d LEFT JOIN (
        |    SELECT e.dst AS doc_id, SUM(p.r / dg.deg) AS inflow
        |    FROM edges e JOIN r1 p ON e.src = p.doc_id
        |    JOIN dg ON dg.src = e.src GROUP BY e.dst) f USING (doc_id)),
        |r3 AS (
        |  SELECT d.doc_id, 0.15 / (SELECT n FROM nn)
        |      + 0.85 * COALESCE(f.inflow, 0) AS r
        |  FROM documents d LEFT JOIN (
        |    SELECT e.dst AS doc_id, SUM(p.r / dg.deg) AS inflow
        |    FROM edges e JOIN r2 p ON e.src = p.doc_id
        |    JOIN dg ON dg.src = e.src GROUP BY e.dst) f USING (doc_id))
        |SELECT r3.doc_id, ROUND(r3.r * 100000000) / 100000000 AS pr,
        |  CAST(COALESCE(dg.deg, 0) AS BIGINT) AS deg
        |FROM r3 LEFT JOIN dg ON dg.src = r3.doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_text_ngrams" ->
      """SELECT ngram, COUNT(*) AS cnt FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(l) - 1),
        |                i -> l[i] || ' ' || l[i + 1])) AS ngram
        |  FROM (SELECT string_split(text, ' ') AS l FROM documents))
        |GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 20""".stripMargin,

    // per-node 64-neighbor cap mirrors EdgeGraph.capLowTau exactly
    // (rank by ROUND(j,4) DESC, id ASC over the symmetric view; keep a
    // pair iff either endpoint ranks the other <= 64) — r9 VERDICT
    // task 3: the τ<0.5 family-size blowup is capped IDENTICALLY on
    // both engines, so parity never depends on the cap not binding
    "q_dedup_shingle" ->
      """WITH sh AS (
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
        |rk AS (
        |  SELECT src, dst, j, row_number() OVER (
        |    PARTITION BY src ORDER BY ROUND(j, 4) DESC, dst) AS r
        |  FROM symk),
        |capped AS (
        |  SELECT DISTINCT LEAST(src, dst) AS a_id,
        |    GREATEST(src, dst) AS b_id, j
        |  FROM rk WHERE r <= 64)
        |SELECT a_id, b_id, ROUND(j, 4) AS jaccard FROM capped
        |ORDER BY a_id, b_id""".stripMargin,

    // transitive closure of the (small) near-dup graph via a recursive
    // CTE — exact component minima, engine-independent
    "q_dedup_components" ->
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
        |rk AS (
        |  SELECT src, dst, j, row_number() OVER (
        |    PARTITION BY src ORDER BY ROUND(j, 4) DESC, dst) AS r
        |  FROM symk),
        |pairs AS (
        |  SELECT DISTINCT LEAST(src, dst) AS a_id,
        |    GREATEST(src, dst) AS b_id
        |  FROM rk WHERE r <= 64),
        |sym AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION
        |  SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
        |SELECT src AS doc_id, MIN(dst) AS cluster_id, MIN(dst) = src AS keep
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    // same inverted-index pair derivation as q_dedup_near_jaccard,
    // then the identical oriented 3-way join
    "q_graph_triangles" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id, i * 1.0 / (sa.n + sb.n - i) AS j
        |    FROM inter
        |    JOIN sz sa ON inter.a_id = sa.doc_id
        |    JOIN sz sb ON inter.b_id = sb.doc_id)
        |  WHERE j >= 0.95),
        |tri AS (
        |  SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
        |  FROM e e1
        |  JOIN e e2 ON e1.b_id = e2.a_id
        |  JOIN e e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
        |u AS (SELECT unnest([x, y, z]) AS doc_id FROM tri)
        |SELECT doc_id, COUNT(*) AS n_triangles
        |FROM u GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_lsh_tuner" ->
      """WITH b AS (SELECT unnest([4, 8, 16, 32]) AS b),
        |r AS (SELECT unnest([2, 4, 8]) AS r),
        |s AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
        |        AS sim)
        |SELECT CAST(b AS INT) AS b, CAST(r AS INT) AS r, sim,
        |  ROUND(1.0 - pow(1.0 - pow(sim, r), b), 6) AS p_collide,
        |  ROUND(1.0 - pow(1.0 - pow(sim, r), b), 6) >= 0.9
        |    AS catches_at_90pct
        |FROM b CROSS JOIN r CROSS JOIN s
        |ORDER BY b, r, sim""".stripMargin,

    // identical τ=0.95 edge derivation, then wedge join + degree Jaccard
    "q_link_pred" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id, i * 1.0 / (sa.n + sb.n - i) AS j
        |    FROM inter
        |    JOIN sz sa ON inter.a_id = sa.doc_id
        |    JOIN sz sb ON inter.b_id = sb.doc_id)
        |  WHERE j >= 0.95),
        |sym AS (SELECT a_id AS src, b_id AS dst FROM e
        |        UNION ALL SELECT b_id, a_id FROM e),
        |deg AS (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY 1),
        |wedges AS (
        |  SELECT s1.src AS u, s2.dst AS v, COUNT(*) AS cn
        |  FROM sym s1 JOIN sym s2 ON s1.dst = s2.src
        |  WHERE s1.src < s2.dst GROUP BY 1, 2),
        |cand AS (SELECT u, v, cn FROM wedges
        |  WHERE NOT EXISTS (SELECT 1 FROM e
        |    WHERE e.a_id = wedges.u AND e.b_id = wedges.v))
        |SELECT u AS a_id, v AS b_id, cn,
        |  ROUND(cn * 1.0 / (du.deg + dv.deg - cn), 6) AS jaccard
        |FROM cand
        |JOIN deg du ON cand.u = du.id
        |JOIN deg dv ON cand.v = dv.id
        |ORDER BY jaccard DESC, a_id, b_id LIMIT 20""".stripMargin,

    // identical τ=0.95 edges; wedge join keeps the midpoint, whose
    // degree weights each 1e9-snapped 1/ln(deg) term
    "q_adamic_adar" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id, i * 1.0 / (sa.n + sb.n - i) AS j
        |    FROM inter
        |    JOIN sz sa ON inter.a_id = sa.doc_id
        |    JOIN sz sb ON inter.b_id = sb.doc_id)
        |  WHERE j >= 0.95),
        |sym AS (SELECT a_id AS src, b_id AS dst FROM e
        |        UNION ALL SELECT b_id, a_id FROM e),
        |deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM sym GROUP BY 1),
        |adj AS (
        |  SELECT src, dst FROM (
        |    SELECT src, dst,
        |      row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
        |    FROM sym)
        |  WHERE rn <= 64),
        |wedges AS (
        |  SELECT s1.src AS u, s2.dst AS v,
        |    CAST(COUNT(*) AS BIGINT) AS cn,
        |    CAST(SUM(CAST(ROUND(1e9 / ln(dw.deg)) AS BIGINT)) AS BIGINT)
        |      AS aa_u
        |  FROM adj s1 JOIN adj s2 ON s1.dst = s2.src
        |  JOIN deg dw ON s1.dst = dw.id
        |  WHERE s1.src < s2.dst GROUP BY 1, 2),
        |cand AS (SELECT u, v, cn, aa_u FROM wedges
        |  WHERE NOT EXISTS (SELECT 1 FROM e
        |    WHERE e.a_id = wedges.u AND e.b_id = wedges.v))
        |SELECT u AS a_id, v AS b_id, cn,
        |  ROUND(aa_u / 1e9, 6) AS adamic_adar
        |FROM cand
        |ORDER BY adamic_adar DESC, a_id, b_id LIMIT 20""".stripMargin,

    // identical BFS recursion over the SQL-derived pair list
    "q_cte_recursive" ->
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
        |rk AS (
        |  SELECT src, dst, j, row_number() OVER (
        |    PARTITION BY src ORDER BY ROUND(j, 4) DESC, dst) AS r
        |  FROM symk),
        |pairs AS (
        |  SELECT DISTINCT LEAST(src, dst) AS a_id,
        |    GREATEST(src, dst) AS b_id
        |  FROM rk WHERE r <= 64),
        |sym AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION
        |  SELECT b_id, a_id FROM pairs),
        |reach(doc_id, depth) AS (
        |  SELECT MIN(src), 0 FROM sym
        |  UNION ALL
        |  SELECT e.dst, r.depth + 1
        |  FROM reach r JOIN sym e ON r.doc_id = e.src
        |  WHERE r.depth < 3)
        |SELECT doc_id, MIN(depth) AS min_depth
        |FROM reach WHERE doc_id IS NOT NULL
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same recursive closure as q_dedup_components, rolled up to the
    // size distribution
    "q_dup_cluster_sizes" ->
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
        |rk AS (
        |  SELECT src, dst, j, row_number() OVER (
        |    PARTITION BY src ORDER BY ROUND(j, 4) DESC, dst) AS r
        |  FROM symk),
        |pairs AS (
        |  SELECT DISTINCT LEAST(src, dst) AS a_id,
        |    GREATEST(src, dst) AS b_id
        |  FROM rk WHERE r <= 64),
        |sym AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION
        |  SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |comp AS (
        |  SELECT src AS doc_id, MIN(dst) AS label FROM reach GROUP BY src),
        |sizes AS (
        |  SELECT label, COUNT(*) AS cluster_size FROM comp GROUP BY label)
        |SELECT cluster_size, COUNT(*) AS n_clusters,
        |  cluster_size * COUNT(*) AS n_docs
        |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
        |  md5(text) AS fp_exact
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_langid" ->
      s"""SELECT doc_id, lang,
         |  $langPredCaseSql AS pred
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_lang_confusion" ->
      s"""WITH p AS (
         |  SELECT lang, $langPredCaseSql AS pred FROM documents)
         |SELECT lang, pred, COUNT(*) AS n
         |FROM p GROUP BY lang, pred ORDER BY lang, pred""".stripMargin,

    "q_classifier_report" ->
      s"""WITH p AS (
         |  SELECT lang, $langPredCaseSql AS pred FROM documents),
         |cells AS (SELECT lang, pred, COUNT(*) AS n FROM p GROUP BY 1, 2),
         |bt AS (SELECT lang AS cls, CAST(SUM(n) AS BIGINT) AS support
         |       FROM cells GROUP BY 1),
         |bp AS (SELECT pred AS cls, CAST(SUM(n) AS BIGINT) AS pred_n
         |       FROM cells GROUP BY 1),
         |tpc AS (SELECT lang AS cls, n AS tp FROM cells WHERE lang = pred),
         |per AS (SELECT COALESCE(bt.cls, bp.cls) AS cls,
         |  COALESCE(support, 0) AS support, COALESCE(pred_n, 0) AS pred_n,
         |  COALESCE(tp, 0) AS tp
         |  FROM bt FULL OUTER JOIN bp ON bt.cls = bp.cls
         |  LEFT JOIN tpc ON tpc.cls = COALESCE(bt.cls, bp.cls)),
         |sc AS (SELECT cls, support, pred_n, tp,
         |  CASE WHEN pred_n > 0 THEN tp * 1.0 / pred_n ELSE 0.0 END AS p_raw,
         |  CASE WHEN support > 0 THEN tp * 1.0 / support ELSE 0.0 END AS r_raw
         |  FROM per),
         |sc2 AS (SELECT *, CASE WHEN p_raw + r_raw > 0
         |    THEN 2.0 * p_raw * r_raw / (p_raw + r_raw) ELSE 0.0 END AS f_raw
         |  FROM sc),
         |mac AS (SELECT '~macro' AS cls,
         |  CAST(SUM(support) AS BIGINT) AS support,
         |  CAST(SUM(pred_n) AS BIGINT) AS pred_n,
         |  CAST(SUM(tp) AS BIGINT) AS tp,
         |  ROUND(SUM(CAST(ROUND(p_raw * 1e6) AS BIGINT)) / COUNT(*) / 1e6, 6)
         |    AS "precision",
         |  ROUND(SUM(CAST(ROUND(r_raw * 1e6) AS BIGINT)) / COUNT(*) / 1e6, 6)
         |    AS recall,
         |  ROUND(SUM(CAST(ROUND(f_raw * 1e6) AS BIGINT)) / COUNT(*) / 1e6, 6)
         |    AS f1
         |  FROM sc2)
         |SELECT cls, support, pred_n, tp,
         |  ROUND(p_raw, 6) AS "precision", ROUND(r_raw, 6) AS recall,
         |  ROUND(f_raw, 6) AS f1
         |FROM sc2
         |UNION ALL SELECT * FROM mac
         |ORDER BY cls""".stripMargin,

    "q_text_repetition" ->
      """SELECT doc_id,
        |  CAST(len(l) - 1 AS INT) AS n_bigrams,
        |  CAST(len(list_distinct(list_transform(generate_series(1, len(l) - 1),
        |       i -> l[i] || ' ' || l[i + 1]))) AS INT) AS n_distinct,
        |  ROUND(1.0 - len(list_distinct(list_transform(generate_series(1, len(l) - 1),
        |       i -> l[i] || ' ' || l[i + 1]))) * 1.0 / (len(l) - 1), 6) AS rep_ratio
        |FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |WHERE len(l) >= 2 ORDER BY doc_id""".stripMargin,

    "q_text_entropy" ->
      """WITH c0 AS (
        |  SELECT doc_id, text, strlen(text) AS len,
        |    unnest(generate_series(1, CAST(strlen(text) AS BIGINT))) AS i
        |  FROM documents),
        |c AS (SELECT doc_id, len, substring(text, CAST(i AS INT), 1) AS ch FROM c0),
        |f AS (SELECT doc_id, len, ch, COUNT(*) AS cnt FROM c GROUP BY 1, 2, 3)
        |SELECT doc_id,
        |  ROUND(-SUM((cnt * 1.0 / len) * ln(cnt * 1.0 / len)), 6) AS entropy
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
        |  CAST(list_sum(list_transform(string_split(text, ' '),
        |       w -> (length(w) + 3) // 4)) AS BIGINT) AS n_subword
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dedup_threshold_sweep" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT a_id, b_id,
        |    i * 1.0 / (sa.n + sb.n - i) AS j,
        |    ROUND(i * 1.0 / (sa.n + sb.n - i), 4) AS jr
        |  FROM inter
        |  JOIN sz sa ON inter.a_id = sa.doc_id
        |  JOIN sz sb ON inter.b_id = sb.doc_id),
        |base AS (SELECT a_id, b_id, jr FROM sc WHERE j >= 0.7),
        |t AS (SELECT CAST(unnest([0.7, 0.8, 0.9]) AS DOUBLE) AS tau)
        |SELECT t.tau,
        |  (SELECT COUNT(*) FROM base WHERE jr >= t.tau) AS n_pairs,
        |  (SELECT COUNT(DISTINCT id) FROM (
        |     SELECT a_id AS id FROM base WHERE jr >= t.tau
        |     UNION ALL SELECT b_id FROM base WHERE jr >= t.tau))
        |    AS n_docs
        |FROM t ORDER BY tau""".stripMargin,

    "q_text_burstiness" ->
      """WITH tf AS (
        |  SELECT doc_id, term, COUNT(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents) GROUP BY 1, 2),
        |n AS (SELECT COUNT(*) AS nd FROM documents),
        |a AS (
        |  SELECT term, COUNT(*) AS df, SUM(c) AS s1, SUM(c * c) AS s2
        |  FROM tf GROUP BY 1)
        |SELECT term, CAST(df AS BIGINT) AS df, CAST(s1 AS BIGINT) AS occ,
        |  ROUND((s2 * 1.0 / nd - (s1 * 1.0 / nd) * (s1 * 1.0 / nd))
        |    / (s1 * 1.0 / nd), 6) AS vmr
        |FROM a CROSS JOIN n WHERE df >= 10
        |ORDER BY vmr DESC, term LIMIT 20""".stripMargin,

    "q_ngram_coverage" ->
      """WITH f AS (
        |  SELECT term, COUNT(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY 1),
        |t AS (SELECT SUM(n) AS nn FROM f),
        |r AS (SELECT term, n,
        |        row_number() OVER (ORDER BY n DESC, term) AS rk FROM f),
        |c AS (SELECT CAST(unnest([10, 100, 1000]) AS BIGINT) AS top_n)
        |SELECT c.top_n,
        |  CAST(SUM(CASE WHEN r.rk <= c.top_n THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_terms,
        |  ROUND(SUM(CASE WHEN r.rk <= c.top_n THEN r.n ELSE 0 END)
        |    * 1.0 / MIN(t.nn), 6) AS coverage
        |FROM r CROSS JOIN c CROSS JOIN t
        |GROUP BY c.top_n ORDER BY top_n""".stripMargin,

    "q_stopword_detect" ->
      """WITH tf AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |d AS (SELECT term, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS occ
        |      FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nd FROM documents)
        |SELECT term, CAST(df AS BIGINT) AS df, CAST(occ AS BIGINT) AS occ,
        |  ROUND(df * 1.0 / nd, 6) AS df_share
        |FROM d CROSS JOIN n WHERE df > nd * 0.5
        |ORDER BY df_share DESC, term""".stripMargin,

    "q_near_dup_rate" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id, i * 1.0 / (sa.n + sb.n - i) AS j
        |    FROM inter
        |    JOIN sz sa ON inter.a_id = sa.doc_id
        |    JOIN sz sb ON inter.b_id = sb.doc_id)
        |  WHERE j >= 0.8),
        |ip AS (
        |  SELECT DISTINCT id AS doc_id FROM (
        |    SELECT a_id AS id FROM pairs
        |    UNION ALL SELECT b_id AS id FROM pairs))
        |SELECT d.source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN ip.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup,
        |  ROUND(SUM(CASE WHEN ip.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    * 1.0 / COUNT(*), 6) AS dup_rate
        |FROM documents d LEFT JOIN ip ON d.doc_id = ip.doc_id
        |GROUP BY 1 ORDER BY source""".stripMargin,

    "q_graph_degree_stats" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |  FROM tok a JOIN tok b
        |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id, i * 1.0 / (sa.n + sb.n - i) AS j
        |    FROM inter
        |    JOIN sz sa ON inter.a_id = sa.doc_id
        |    JOIN sz sb ON inter.b_id = sb.doc_id)
        |  WHERE j >= 0.8),
        |deg AS (
        |  SELECT id, COUNT(*) AS degree FROM (
        |    SELECT a_id AS id FROM pairs
        |    UNION ALL SELECT b_id AS id FROM pairs)
        |  GROUP BY id),
        |hist AS (SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree),
        |iso AS (
        |  SELECT CAST(0 AS BIGINT) AS degree,
        |    (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM deg)
        |      AS n_nodes)
        |SELECT degree, CAST(n_nodes AS BIGINT) AS n_nodes FROM (
        |  SELECT * FROM hist UNION ALL SELECT * FROM iso)
        |WHERE n_nodes > 0 ORDER BY degree""".stripMargin,

    "q_token_len_hist" ->
      """SELECT lang, CAST(length(w) AS INT) AS wlen,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
        |      FROM documents)
        |GROUP BY 1, 2 ORDER BY lang, wlen""".stripMargin
  )
}
