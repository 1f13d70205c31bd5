package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StringType, StructField, StructType}

import StreamOps.{runToParquet, stageTable}

import graft.tables.Tables

/** Streams over the documents and embeddings corpora (SURVEY.md §2
  * B.9): the ingest-time face of the LLM-data pipeline, each a real
  * `Trigger.AvailableNow` query over the staged table.
  *
  * Documents: near-dup detection on arrival against the memoized LSH
  * index (`s_stream_lsh_dedup`, the setting of "Distributed Streaming
  * Set Similarity Join", ICDE 2020, PAPERS.md), the quality gate, the
  * provenance md5 chain, the verbatim-window Bloom and the MinHash
  * sketch.
  *
  * Embeddings: arriving vectors assigned to the STATIC cell structure
  * in flight — the cell id decides which index shard an arriving
  * vector lands in, so assignment is a stateless stream-side
  * projection, not a batch job — then the semantic near-dup gate and
  * the NSW/HNSW graph insert and delete. Each probes the
  * session-memoized index (packed seeds, cell graph, layer graphs)
  * through a stream-static join: stateless APPEND, no watermark,
  * replayable from any offset.
  *
  * Every key but `s_stream_lsh_dedup` is DuckDB-oracled. Provenance
  * and substring_dup fold in doc order and run under StreamState's
  * single-batch invariant.
  */
object StreamCorpus {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Streaming set-similarity join (r6; PAPERS.md: "Distributed
    // Streaming Set Similarity Join", ICDE 2020): near-dup detection
    // the moment a document ARRIVES, against a static reference
    // corpus — q_dedup_lsh_resolve's LSH band probe run as a
    // stream-static equi-join. The static side is the memoized banded
    // signature index + token-hash verify table (the materialize-once
    // corpus index a production dedup service keeps); each micro-batch
    // computes the SAME codegen'd minhash/band expressions on arriving
    // docs, probes the index on the 64-bit bucket key (STATELESS
    // stream-static join — state never grows with the stream), and
    // exact-verifies candidates with sorted_intersect_count before
    // emitting. Band-collision duplicates dedupe at read-back: a
    // streaming distinct would hold unbounded state for no semantic
    // gain (the pair set is idempotent). Batch-twin equality pinned
    // in StreamingSpec.
    "s_stream_lsh_dedup" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val in = stageTable(d, "documents")
      // the static corpus index comes from the SESSION memos (r13 opt):
      // banded signatures + token-hash verify table are materialized
      // once per session and shared with q_dedup_lsh_resolve — this key
      // used to re-derive + re-checkpoint both per call
      val refBands = graft.operators.EdgeGraph.lshBands(s, d)
        .select(col("doc_id").as("ref_id"), col("lang").as("ref_lang"),
          col("bsig").as("ref_bsig"))
      val refHs = graft.operators.EdgeGraph.tokenHashes(s, d)
        .select(col("doc_id").as("hs_id"), col("hs").as("ref_hs"))
      // r14 opt (guide §2.5): the staged input is ONE parquet file, so
      // each micro-batch arrives as one partition and the 32-perm
      // signature + token-hash projections run on one core. This is a
      // STATELESS stream-static probe, so a round-robin repartition is
      // legal and the pair set is unchanged; width = the session's
      // default parallelism.
      val verified = s.readStream.schema(docSchema).parquet(in)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("lang"),
          expr("minhash_sig(array_distinct(split(text, ' ')), 32)").as("sig"),
          expr("token_hashes(split(text, ' '))").as("hs"))
        .select(col("doc_id"), col("lang"), col("hs"),
          explode(expr(
            "transform(sequence(0, 7), b -> xxhash64(slice(sig, b * 4 + 1, 4), b))"))
            .as("bsig"))
        .join(refBands,
          col("lang") === col("ref_lang") && col("bsig") === col("ref_bsig") &&
            col("doc_id") < col("ref_id"))
        .join(refHs, col("ref_id") === col("hs_id"))
        .withColumn("i", expr("sorted_intersect_count(hs, ref_hs)"))
        .filter(col("i") / (size(col("hs")) + size(col("ref_hs")) - col("i")) >= 0.8)
        .select(col("doc_id").as("a_id"), col("ref_id").as("b_id"))
      runToParquet(verified).distinct().orderBy("a_id", "b_id")
    }),

    // Streaming quality gate: q_gopher_rules' verdict applied as a
    // STATELESS stream filter over a documents stream — the shape a
    // crawl-ingest pipeline runs the hygiene gate in. The top-bigram
    // statistic is recomputed IN-ROW (array ops over the ≤doc-length
    // token list — per-row O(n²) but zero shuffle and zero state, the
    // right trade at stream grain vs the batch key's doc-grain
    // rollup). The oracle is the batch rule set filtered to pass —
    // equality proves the two formulations agree on every document.
    "s_doc_quality_gate" -> ((s, d) => {
      val in = stageTable(d, "documents")
      val gated = s.readStream.schema(docSchema).parquet(in)
        .withColumn("l", split(col("text"), " "))
        .withColumn("n_words", size(col("l")))
        .withColumn("bgs", expr(
          "transform(sequence(0, size(l) - 2)," +
            " i -> concat(element_at(l, i + 1), ' ', element_at(l, i + 2)))"))
        // max-multiplicity via sort + one linear run-length fold —
        // O(n log n) per row; the naive distinct×filter scan is O(n²)
        // interpreted closures and measured 20× slower at stream grain
        .withColumn("top_bg", when(col("n_words") >= 2,
          expr("""aggregate(array_sort(bgs),
                 |  named_struct('prev', '', 'run', 0, 'best', 0),
                 |  (a, x) -> named_struct(
                 |    'prev', x,
                 |    'run', IF(x = a.prev, a.run + 1, 1),
                 |    'best', greatest(a.best, IF(x = a.prev, a.run + 1, 1))),
                 |  a -> a.best)""".stripMargin).cast("double")
            / (col("n_words") - 1)).otherwise(lit(0.0)))
        .withColumn("mwl",
          expr("aggregate(l, 0L, (acc, x) -> acc + length(x))").cast("double")
            / col("n_words"))
        .withColumn("dr",
          size(array_distinct(col("l"))).cast("double") / col("n_words"))
        .withColumn("has_stopword", arrays_overlap(col("l"),
          array(lit("the"), lit("a"), lit("of"), lit("and"), lit("in"))))
        .filter(col("n_words") >= 40 && col("mwl") >= 3.0
          && col("mwl") <= 10.0 && col("dr") >= 0.4
          && col("top_bg") <= 0.08 && col("has_stopword"))
        .select(col("doc_id"), col("n_words"))
      runToParquet(gated).orderBy("doc_id")
    }),

    // Streaming dataset-provenance chain per source: state = (docs
    // seen, running md5 CHAIN) with chain_1 = md5(text_1) and
    // chain_i = md5(chain_{i−1} || md5(text_i)) in doc_id order — the
    // incremental form of q_dataset_fingerprint (a flat sorted concat
    // can't extend incrementally; the chain is O(32 bytes) state and
    // commits every prefix). Order-sensitive — single-batch invariant.
    "s_stream_provenance" -> ((s, d) => {
      import s.implicits._
      val in = stageTable(d, "documents")
      val ev = s.readStream.schema(docSchema).parquet(in)
        .select(col("source"), col("doc_id"), md5(col("text")).as("h"))
        .as[(String, Long, String)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, String), (String, Long, String)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (src, rows, state: GroupState[(Long, String)]) =>
            var (n, chain) = state.getOption.getOrElse((0L, ""))
            def m(x: String): String =
              java.security.MessageDigest.getInstance("MD5")
                .digest(x.getBytes("UTF-8"))
                .map("%02x".format(_)).mkString
            rows.toArray.sortBy(_._2).foreach { r =>
              chain = if (n == 0) r._3 else m(chain + r._3)
              n += 1
            }
            state.update((n, chain))
            Iterator((src, n, chain))
        }
        .toDF("source", "n", "chain")
      runToParquet(scored, singleBatch = true).groupBy("source")
        .agg(max(struct(col("n"), col("chain"))).as("f"))
        .select(col("source"), col("f.n").as("n_docs"),
          col("f.chain").as("chain_fingerprint"))
        .orderBy("source")
    }),

    // Streaming verbatim-duplication detector over the DOCUMENT
    // stream: every 10-token window fingerprinted (md5, the
    // q_substring_dup grid), fp mapped to a 60-bit long (first 15 hex
    // chars — the q_eth_abi_roundtrip conversion), then the SHARDED
    // Bloom state of s_stream_bloom_dedup (8 shards by hash prefix,
    // m=4096, k=3): a window is flagged when all 3 of its shard's
    // bits were set before insertion — true verbatim repeats plus
    // quantified false positives. Order-sensitive within (doc_id,
    // window index) — the single-batch invariant applies.
    "s_stream_substring_dup" -> ((s, d) => {
      import s.implicits._
      val in = stageTable(d, "documents")
      val ps = Array(2654435761L, 2246822519L, 3266489917L)
      val qs = Array(1L, 7L, 13L)
      val ev = s.readStream.schema(docSchema).parquet(in)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 10)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(1, size(toks) - 9)," +
            " i -> CAST(conv(substring(md5(array_join(slice(toks, i, 10)," +
            " ' ')), 1, 15), 16, 10) AS BIGINT))")).as(Seq("i", "h")))
        .select(
          // 60-bit h × the Knuth constant overflows BIGINT — the
          // DECIMAL pmod reduction as everywhere (HUGEINT in oracle)
          expr("CAST(pmod(CAST(h AS DECIMAL(38,0)) * 2654435761," +
            " 9223372036854775808) AS BIGINT) % 8").as("shard"),
          col("doc_id"), (col("i") + 1).cast("long").as("i"), col("h"))
        .as[(Long, Long, Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Array[Byte]),
          (Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (sh, rows, state: GroupState[(Long, Long, Array[Byte])]) =>
            var (n, fl, bits) = state.getOption
              .getOrElse((0L, 0L, new Array[Byte](4096)))
            rows.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
              val hsArr = (0 to 2).map(j =>
                (((r._4 * ps(j) + qs(j)) & 0x7FFFFFFFFFFFFFFFL)
                  % 2147483647L % 4096L).toInt)
              if (hsArr.forall(bits(_) == 1)) fl += 1
              hsArr.foreach(bits(_) = 1)
              n += 1
            }
            state.update((n, fl, bits))
            Iterator((sh, n, fl))
        }
        .toDF("shard", "n", "fl")
      runToParquet(scored, singleBatch = true).groupBy("shard")
        .agg(max(struct(col("n"), col("fl"))).as("fin"))
        .agg(sum(col("fin.n")).as("n_windows"),
          sum(col("fin.fl")).as("n_flagged"))
        .select(col("n_windows"), col("n_flagged"),
          round(col("n_flagged").cast("double") / col("n_windows"), 6)
            .as("flag_rate"))
    }),

    // Streaming 16-lane MinHash signature per source over the
    // DOCUMENT stream: state = 16 lane minima + a docs-seen counter.
    // Min-merge commutes, so the state is ORDER-INDEPENDENT (the
    // mergeable-sketch property, like s_stream_hll) and the read-back
    // equals the batch per-(source, lane) minimum exactly. Doc key =
    // the 60-bit md5 prefix of the text; lane hashes are the affine
    // (x·(2654435761 + 2i) + i·2246822519) mod 2^63 family, computed
    // in exact BigInteger space to match the oracle's HUGEINT.
    "s_stream_minhash" -> ((s, d) => {
      import s.implicits._
      val in = stageTable(d, "documents")
      val ev = s.readStream.schema(docSchema).parquet(in)
        .select(col("source"),
          expr("CAST(conv(substring(md5(text), 1, 15), 16, 10)" +
            " AS BIGINT)").as("x"))
        .as[(String, Long)]
      val M = java.math.BigInteger.valueOf(Long.MinValue).negate() // 2^63
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Array[Long]),
          (String, Long, Seq[Long])](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (src, rows, state: GroupState[(Long, Array[Long])]) =>
            var (n, mins) = state.getOption.getOrElse(
              (0L, Array.fill(16)(Long.MaxValue)))
            rows.foreach { r =>
              n += 1
              val x = java.math.BigInteger.valueOf(r._2)
              var i = 0
              while (i < 16) {
                val h = x.multiply(java.math.BigInteger.valueOf(
                    2654435761L + 2L * i))
                  .add(java.math.BigInteger.valueOf(2246822519L * i))
                  .mod(M).longValueExact()
                if (h < mins(i)) mins(i) = h
                i += 1
              }
            }
            state.update((n, mins))
            Iterator((src, n, mins.toSeq))
        }
        .toDF("source", "n", "mins")
      runToParquet(scored).groupBy("source")
        .agg(max(struct(col("n"), col("mins"))).as("f"))
        .select(col("source"), col("f.n").as("n_docs"),
          posexplode(col("f.mins")).as(Seq("lane", "min_h")))
        .select(col("source"), col("n_docs"),
          col("lane").cast("long").as("lane"), col("min_h"))
        .orderBy("source", "lane")
    }),

    // Ingest-time cell assignment: the packed seed row (the
    // q_semdedup / q_ann_nsw assignment contract: 6dp grid argmax,
    // min-cid tiebreak) is a 1-row broadcast static side of a
    // stream-static equi-join. Read-back = per-cell envelope (count,
    // exact µ-grid half-up mean own-cosine, id span).
    "s_stream_cell_assign" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      // data-derived cell count (operators/Cells) from the STATIC
      // corpus's footer row count, read once at query start exactly
      // like a production index's nlist
      val cellsK = graft.operators.Cells.k(Tables.rowCount(s, d, "embeddings"))
      val dir = stageTable(d, "embeddings")
      val packed = Tables.embeddings(s, d)
        .filter(col("vec_id").between(1, cellsK))
        .select(col("vec_id").cast("int").as("cell"),
          col("embedding").as("c_emb"))
        .agg(array_sort(collect_list(struct(col("cell"), col("c_emb"))))
          .as("cents"))
        .withColumn("k", lit(1))
      val cand = (1 to cellsK).map { i =>
        struct(
          round(expr(s"cosine_sim(embedding, try_element_at(cents, $i).c_emb)"), 6)
            .as("cs"),
          lit(-i).as("negcell"))
      }
      val assigned = s.readStream.schema(embSchema).parquet(dir)
        .withColumn("k", lit(1))
        .join(broadcast(packed), "k") // stream-static, 1-row static side
        .withColumn("best", greatest(cand: _*))
        .select(col("vec_id"), (-col("best.negcell")).as("cell"),
          expr("CAST(ROUND(best.cs * 1e6) AS BIGINT)").as("cs_u"))
      runToParquet(assigned)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"), sum("cs_u").as("su"),
          min("vec_id").as("min_vec"), max("vec_id").as("max_vec"))
        .select(col("cell").cast("long").as("cell"), col("n_vecs"),
          // µ-grid half-up mean (the q_ann_nndescent tie rule)
          round(expr("(2 * su + n_vecs) div (2 * n_vecs)") / 1e6, 6)
            .as("mean_own_cos"),
          col("min_vec"), col("max_vec"))
        .orderBy("cell")
    }),

    // Streaming semantic-dedup gate — the ingest-time decision a
    // training pipeline actually runs: does this arriving embedding
    // near-duplicate anything already in the corpus? Each arriving
    // vector assigns to its cell (the stateless projection above)
    // and joins ONLY that cell's static members (stream-static
    // equi-join on the cell id — the IVF-list probe, never a corpus
    // cross join); flag = max cosine ≥ τ. Self-matches excluded
    // (the staged stream IS the corpus, so the honest fixture reads
    // "would this doc be flagged against everyone else"). Stateless
    // APPEND, offset-replayable. Read-back: per-cell arrival count,
    // flagged count, µ-grid half-up mean of the max-cos.
    "s_stream_neardup_gate" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val tau = 0.45 // the q_semdedup boundary (p99 of prior-cos)
      val dir = stageTable(d, "embeddings")
      val stat = Tables.embeddings(s, d)
      // data-derived cell count from the static corpus's footer row
      // count (operators/Cells)
      val cellsK = graft.operators.Cells.k(Tables.rowCount(s, d, "embeddings"))
      val packed = stat
        .filter(col("vec_id").between(1, cellsK))
        .select(col("vec_id").cast("int").as("cell"),
          col("embedding").as("c_emb"))
        .agg(array_sort(collect_list(struct(col("cell"), col("c_emb"))))
          .as("cents"))
        .withColumn("k", lit(1))
      def cand(in: DataFrame): DataFrame = {
        val cs = (1 to cellsK).map { i =>
          struct(
            round(expr(s"cosine_sim(embedding, try_element_at(cents, $i).c_emb)"), 6)
              .as("cs"),
            lit(-i).as("negcell"))
        }
        in.withColumn("k", lit(1))
          .join(broadcast(packed), "k")
          .withColumn("best", greatest(cs: _*))
          .select(col("vec_id"), col("embedding"),
            (-col("best.negcell")).as("cell"))
      }
      // static members with their cells, batch-side once
      val members = cand(stat).select(col("cell").as("cb"),
        col("vec_id").as("b_id"), col("embedding").as("b_emb"))
        .localCheckpoint(true)
      val arriving = cand(s.readStream.schema(embSchema).parquet(dir)
        .select(col("vec_id"), col("embedding")))
      // per-vector running max via flatMapGroupsWithState (the
      // s_stream_slo posture): state = ONE long per (vec, cell) —
      // max-merge commutes, so the state is ORDER-INDEPENDENT and the
      // sink carries one row per vector per batch, never the n²/k
      // candidate stream (the first draft sank the raw join and paid
      // 100M parquet rows at sf1)
      import s.implicits._
      val gated0 = arriving.join(members,
          col("cell") === col("cb") && col("vec_id") =!= col("b_id"))
        .select(col("vec_id"), col("cell").cast("int").as("cell"),
          expr("CAST(ROUND(ROUND(cosine_sim(embedding, b_emb), 6) * 1e6) AS BIGINT)")
            .as("c_u"))
        .as[(Long, Int, Long)]
      val gated = gated0.groupByKey(r => (r._1, r._2))
        .flatMapGroupsWithState[Long, (Long, Int, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case ((vid, cell), rows,
              state: GroupState[Long]) =>
            var mx = state.getOption.getOrElse(Long.MinValue)
            rows.foreach(r => if (r._3 > mx) mx = r._3)
            state.update(mx)
            Iterator((vid, cell, mx))
        }.toDF("vec_id", "cell", "mx_u")
      runToParquet(gated)
        .groupBy("vec_id", "cell")
        .agg(max("mx_u").as("mx_u"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_arrived"),
          sum(when(col("mx_u") >= (tau * 1e6).toLong, 1L).otherwise(0L))
            .as("n_flagged"),
          sum("mx_u").as("su"))
        .select(col("cell").cast("long").as("cell"), col("n_arrived"),
          col("n_flagged"),
          round(expr("(2 * su + n_arrived) div (2 * n_arrived)") / 1e6, 6)
            .as("mean_max_cos"))
        .orderBy("cell")
    }),

    // Streaming index maintenance (r11 VERDICT task 8): an arriving
    // vector acquires its top-8 NSW edges by a stateless stream-static
    // equi-join against the MATERIALIZED cell graph (the write-once
    // artifact q_ann_nsw builds) — the shard-freshness path a vector
    // pipeline runs so new arrivals are searchable without rebuilding
    // the index. Stateless APPEND, no watermark/state store,
    // offset-replayable; the static side is the checkpointed graph, so
    // each micro-batch pays one hash join probe per arrival. Read-back
    // = per-vector edge envelope (count + id span + exact id sum),
    // DuckDB-oracled against the batch-twin graph.
    "s_stream_graph_insert" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val dir = stageTable(d, "embeddings")
      // the session-memoized corpus graph (k data-derived inside)
      val graph = graft.queries.StatsR11.corpusCellGraph(s, d)
      val arriving = s.readStream.schema(embSchema).parquet(dir)
        .select(col("vec_id").as("a_id"))
      val edges = arriving.join(graph, Seq("a_id")) // stream-static probe
      runToParquet(edges)
        .groupBy("a_id")
        .agg(count(lit(1)).as("n_nb"), min("b_id").as("min_nb"),
          max("b_id").as("max_nb"), sum("b_id").as("sum_nb"))
        .select(col("a_id").as("vec_id"), col("n_nb"), col("min_nb"),
          col("max_nb"), col("sum_nb"))
        .orderBy("vec_id")
    }),

    // HNSW upper-layer maintenance (r12 VERDICT task 5): an arriving
    // vector whose md5 level ≥ 1 must also join the layer-1/2 graphs,
    // or the hierarchy goes stale with ingest. Its level is a
    // stream-side projection of the exact batch layer rule
    // (StatsR12.levelCol, md5-geometric, so stream and batch never
    // disagree), and each upper layer it belongs to is probed against
    // that layer's memoized graph (StatsR12.layerGraph, the same
    // artifacts q_ann_hnsw descends). Read-back = per-(layer, vector)
    // edge envelope.
    "s_stream_hnsw_insert" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val dir = stageTable(d, "embeddings")
      // the session-memoized per-layer graphs (k data-derived per
      // layer inside the memo — upper layers get small k)
      val g1 = graft.queries.StatsR12.layerGraph(s, d, 1)
      val g2 = graft.queries.StatsR12.layerGraph(s, d, 2)
      val arriving = s.readStream.schema(embSchema).parquet(dir)
        .filter(col("vec_id") =!= 0) // the held-out query vector
        .select(col("vec_id").as("a_id"),
          graft.queries.StatsR12.levelCol(col("vec_id")).as("lvl"))
      val e1 = arriving.filter(col("lvl") >= 1)
        .join(g1, Seq("a_id")) // stream-static probe, layer 1
        .select(lit(1L).as("layer"), col("a_id"), col("b_id"))
      val e2 = arriving.filter(col("lvl") >= 2)
        .join(g2, Seq("a_id")) // stream-static probe, layer 2
        .select(lit(2L).as("layer"), col("a_id"), col("b_id"))
      runToParquet(e1.unionByName(e2))
        .groupBy("layer", "a_id")
        .agg(count(lit(1)).as("n_nb"), min("b_id").as("min_nb"),
          max("b_id").as("max_nb"), sum("b_id").as("sum_nb"))
        .select(col("layer"), col("a_id").as("vec_id"), col("n_nb"),
          col("min_nb"), col("max_nb"), col("sum_nb"))
        .orderBy("layer", "vec_id")
    }),

    // Streaming ANN DELETION (the r12 VERDICT task 4's streaming
    // face, complementing batch q_ann_tombstone): a tombstone FEED —
    // arriving ids in the md5 delete bucket, the RTBF event stream —
    // emits the edge RETRACTIONS each delete implies: its out-edges
    // and its in-edges, found by two stateless stream-static probes
    // of the MATERIALIZED cell graph (no rebuild, no corpus scan; the
    // retraction log is what a downstream index shard consumes to
    // repair itself). Stateless APPEND, offset-replayable. Read-back
    // = per-deleted-vector retraction envelope (out/in counts + peer
    // id sum), DuckDB-oracled against the batch-twin graph + the
    // identical tombstone rule; R13OpsSpec pins the conservation law
    // live + retractions = full graph across the two tombstone keys.
    "s_stream_graph_delete" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val dir = stageTable(d, "embeddings")
      val graph = graft.queries.StatsR11.corpusCellGraph(s, d)
      val deletes = s.readStream.schema(embSchema).parquet(dir)
        .select(col("vec_id"))
        .filter((conv(substring(md5(col("vec_id").cast("string")), 1, 4),
          16, 10).cast("int") % 100) < 5)
      val outE = deletes.join(graph, col("vec_id") === col("a_id"))
        .select(col("vec_id"), lit(0L).as("is_in"), col("b_id").as("peer"))
      val inE = deletes.join(graph, col("vec_id") === col("b_id"))
        .select(col("vec_id"), lit(1L).as("is_in"), col("a_id").as("peer"))
      runToParquet(outE.unionByName(inE))
        .groupBy("vec_id")
        .agg(sum(when(col("is_in") === 0L, 1L).otherwise(0L)).as("n_out"),
          sum(when(col("is_in") === 1L, 1L).otherwise(0L)).as("n_in"),
          sum("peer").as("sum_peer"))
        .orderBy("vec_id")
    })
  )

  val oracle: Map[String, String] = Map(
    // the batch gopher rule set, filtered to the passing documents
    "s_doc_quality_gate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS l
        |           FROM documents),
        |b AS (SELECT doc_id, l, len(l) AS n_words,
        |        list_sum(list_transform(l, x -> CAST(length(x) AS BIGINT)))
        |          AS cl,
        |        len(list_distinct(l)) AS nd,
        |        len(list_intersect(l, ['the','a','of','and','in'])) > 0
        |          AS has_stopword
        |      FROM w),
        |bg AS (SELECT doc_id, l[i] || ' ' || l[i + 1] AS bgm
        |       FROM b, unnest(generate_series(1, n_words - 1)) AS t(i)
        |       WHERE n_words >= 2),
        |bc AS (SELECT doc_id, bgm, COUNT(*) AS nb FROM bg GROUP BY 1, 2),
        |bf AS (SELECT doc_id, MAX(nb) * 1.0 / SUM(nb) AS top_bg
        |       FROM bc GROUP BY 1)
        |SELECT b.doc_id, CAST(n_words AS INT) AS n_words
        |FROM b LEFT JOIN bf USING (doc_id)
        |WHERE n_words >= 40 AND cl * 1.0 / n_words BETWEEN 3.0 AND 10.0
        |  AND nd * 1.0 / n_words >= 0.4 AND COALESCE(top_bg, 0.0) <= 0.08
        |  AND has_stopword
        |ORDER BY doc_id""".stripMargin,

    // the recursive-CTE twin of the md5 chain recursion per source
    "s_stream_provenance" ->
      """WITH RECURSIVE d AS (
        |  SELECT source, md5(text) AS h,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM documents),
        |r AS (
        |  SELECT source, rn, h AS chain, n FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.rn, md5(r.chain || d.h), r.n
        |  FROM r JOIN d ON d.source = r.source AND d.rn = r.rn + 1)
        |SELECT source, n AS n_docs, chain AS chain_fingerprint
        |FROM r WHERE rn = n
        |ORDER BY source""".stripMargin,

    // the batch twin of the windowed sharded Bloom: min-setter rank
    // per (shard, bit) over windows in (doc_id, window-index) order
    "s_stream_substring_dup" ->
      """WITH js AS (SELECT UNNEST([0, 1, 2]) AS j),
        |w AS (
        |  SELECT doc_id,
        |    UNNEST(generate_series(1,
        |      len(string_split(text, ' ')) - 9)) AS i
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 10),
        |wh AS (
        |  SELECT w.doc_id, w.i,
        |    CAST(CAST('0x' || substring(
        |      md5(array_to_string(
        |        string_split(d.text, ' ')[w.i:w.i+9], ' ')), 1, 15)
        |      AS UBIGINT) AS BIGINT) AS h
        |  FROM w JOIN documents d ON w.doc_id = d.doc_id),
        |sh AS (
        |  SELECT doc_id, i, h,
        |    ((CAST(h AS HUGEINT) * 2654435761)
        |      % 9223372036854775808) % 8 AS shard
        |  FROM wh),
        |rn AS (
        |  SELECT shard, h,
        |    CAST(row_number() OVER (PARTITION BY shard
        |      ORDER BY doc_id, i) AS BIGINT) AS rn
        |  FROM sh),
        |bh AS (
        |  SELECT rn.shard, rn.rn, js.j,
        |    ((CAST(rn.h AS HUGEINT)
        |      * (CASE js.j WHEN 0 THEN 2654435761
        |        WHEN 1 THEN 2246822519 ELSE 3266489917 END)
        |      + (CASE js.j WHEN 0 THEN 1 WHEN 1 THEN 7 ELSE 13 END))
        |      % 9223372036854775808)
        |      % 2147483647 % 4096 AS hb
        |  FROM rn, js),
        |mb AS (SELECT shard, hb, MIN(rn) AS mr FROM bh GROUP BY 1, 2),
        |fl AS (
        |  SELECT bh.shard, bh.rn
        |  FROM bh JOIN mb ON bh.shard = mb.shard AND bh.hb = mb.hb
        |  GROUP BY bh.shard, bh.rn
        |  HAVING SUM(CASE WHEN mb.mr < bh.rn THEN 1 ELSE 0 END) = 3),
        |ag AS (
        |  SELECT
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM wh) AS n_windows,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM fl) AS n_flagged)
        |SELECT n_windows, n_flagged,
        |  ROUND(CAST(n_flagged AS DOUBLE) / n_windows, 6) AS flag_rate
        |FROM ag""".stripMargin,

    // batch per-(source, lane) minimum — the exact twin of the
    // order-independent min-merge state
    "s_stream_minhash" ->
      """WITH x AS (
        |  SELECT source,
        |    CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS x
        |  FROM documents),
        |lanes AS (SELECT unnest(generate_series(0, 15)) AS lane),
        |m AS (
        |  SELECT source, lane,
        |    MIN(CAST((CAST(x AS HUGEINT) * (2654435761 + 2 * lane)
        |      + 2246822519 * lane) % 9223372036854775808 AS BIGINT))
        |      AS min_h,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM x, lanes GROUP BY 1, 2)
        |SELECT source, n_docs, CAST(lane AS BIGINT) AS lane, min_h
        |FROM m ORDER BY source, lane""".stripMargin,

    // identical packed-seed assignment, batch-side in DuckDB
    "s_stream_cell_assign" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS c
         |  FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND ${graft.operators.Cells.kSql("embeddings")}),
         |s1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, cid) AS rn
         |  FROM (SELECT e.vec_id, c0.cid,
         |      ROUND(${graft.queries.LlmOps.duckCos("e.embedding", "c0.c")}, 6)
         |        AS cos
         |    FROM embeddings e CROSS JOIN c0)),
         |a AS (SELECT vec_id, cid,
         |    CAST(ROUND(cos * 1e6) AS BIGINT) AS cs_u
         |  FROM s1 WHERE rn = 1),
         |g AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |    SUM(cs_u) AS su,
         |    MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
         |  FROM a GROUP BY 1)
         |SELECT CAST(cid AS BIGINT) AS cell, n_vecs,
         |  ROUND(((2 * su + n_vecs) // (2 * n_vecs)) / 1e6, 6)
         |    AS mean_own_cos,
         |  min_vec, max_vec
         |FROM g ORDER BY cell""".stripMargin,

    // identical assignment + within-cell max-cos gate, batch-side
    "s_stream_neardup_gate" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS c
         |  FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND ${graft.operators.Cells.kSql("embeddings")}),
         |s1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, cid) AS rn
         |  FROM (SELECT e.vec_id, c0.cid, e.embedding,
         |      ROUND(${graft.queries.LlmOps.duckCos("e.embedding", "c0.c")}, 6)
         |        AS cos
         |    FROM embeddings e CROSS JOIN c0)),
         |a AS MATERIALIZED (SELECT vec_id, cid, embedding FROM s1
         |  WHERE rn = 1),
         |mx AS (
         |  SELECT x.vec_id, x.cid,
         |    MAX(CAST(ROUND(ROUND(${graft.queries.LlmOps.duckCos("x.embedding", "y.embedding")}, 6)
         |      * 1e6) AS BIGINT)) AS mx_u
         |  FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id <> y.vec_id
         |  GROUP BY 1, 2),
         |g AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_arrived,
         |    CAST(SUM(CASE WHEN mx_u >= 450000 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_flagged,
         |    SUM(mx_u) AS su
         |  FROM mx GROUP BY 1)
         |SELECT CAST(cid AS BIGINT) AS cell, n_arrived, n_flagged,
         |  ROUND(((2 * su + n_arrived) // (2 * n_arrived)) / 1e6, 6)
         |    AS mean_max_cos
         |FROM g ORDER BY cell""".stripMargin,

    // batch-twin cell graph (the q_ann_nsw_multi graph CTEs over the
    // full corpus, k data-derived), rolled up per vector
    "s_stream_graph_insert" -> {
      val cosAB = graft.queries.LlmOps.duckCos("a.embedding", "b.embedding")
      val cosEC = graft.queries.LlmOps.duckCos("e.embedding", "c0.c")
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS c FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND ${graft.operators.Cells.kSql("embeddings")}),
         |s1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, cid) AS rn
         |  FROM (SELECT e.vec_id, c0.cid, e.embedding,
         |      ROUND($cosEC, 6) AS cos
         |    FROM embeddings e CROSS JOIN c0)),
         |asg AS MATERIALIZED (SELECT vec_id, cid, embedding FROM s1
         |  WHERE rn = 1),
         |pairs AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ROUND($cosAB, 6) AS cos
         |  FROM asg a JOIN asg b
         |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
         |nb AS (
         |  SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
         |      ORDER BY cos DESC, b_id) AS rnk
         |    FROM pairs) t
         |  WHERE rnk <= 8)
         |SELECT a_id AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_nb,
         |  MIN(b_id) AS min_nb, MAX(b_id) AS max_nb,
         |  CAST(SUM(b_id) AS BIGINT) AS sum_nb
         |FROM nb GROUP BY 1 ORDER BY vec_id""".stripMargin
    },

    // batch-twin per-layer graphs (the exact q_ann_hnsw layer CTEs),
    // rolled up per (layer, vector)
    "s_stream_hnsw_insert" ->
      s"""WITH ${graft.queries.StatsR12.eLvCtes},
         |${graft.queries.StatsR12.layerCtes(2)},
         |${graft.queries.StatsR12.layerCtes(1)},
         |env AS (
         |  SELECT CAST(1 AS BIGINT) AS layer, a_id, b_id FROM nb1
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT) AS layer, a_id, b_id FROM nb2)
         |SELECT layer, a_id AS vec_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_nb,
         |  MIN(b_id) AS min_nb, MAX(b_id) AS max_nb,
         |  CAST(SUM(b_id) AS BIGINT) AS sum_nb
         |FROM env GROUP BY 1, 2 ORDER BY layer, vec_id""".stripMargin,

    // batch-twin full-corpus graph + the identical md5 tombstone rule,
    // retractions unioned out+in and rolled up per deleted vector
    "s_stream_graph_delete" -> {
      val cosAB = graft.queries.LlmOps.duckCos("a.embedding", "b.embedding")
      val cosEC = graft.queries.LlmOps.duckCos("e.embedding", "c0.c")
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS c FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND ${graft.operators.Cells.kSql("embeddings")}),
         |s1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, cid) AS rn
         |  FROM (SELECT e.vec_id, c0.cid, e.embedding,
         |      ROUND($cosEC, 6) AS cos
         |    FROM embeddings e CROSS JOIN c0)),
         |asg AS MATERIALIZED (SELECT vec_id, cid, embedding FROM s1
         |  WHERE rn = 1),
         |prs AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ROUND($cosAB, 6) AS cos
         |  FROM asg a JOIN asg b
         |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
         |nb AS MATERIALIZED (
         |  SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
         |      ORDER BY cos DESC, b_id) AS rnk
         |    FROM prs) t
         |  WHERE rnk <= 8),
         |dead AS (SELECT vec_id FROM embeddings
         |  WHERE CAST(CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)),
         |    1, 4) AS INT) % 100 AS INT) < 5),
         |env AS (
         |  SELECT nb.a_id AS vec_id, 0 AS is_in, nb.b_id AS peer FROM nb
         |  WHERE nb.a_id IN (SELECT vec_id FROM dead)
         |  UNION ALL
         |  SELECT nb.b_id, 1, nb.a_id FROM nb
         |  WHERE nb.b_id IN (SELECT vec_id FROM dead))
         |SELECT vec_id,
         |  CAST(SUM(CASE WHEN is_in = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_out,
         |  CAST(SUM(CASE WHEN is_in = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_in,
         |  CAST(SUM(peer) AS BIGINT) AS sum_peer
         |FROM env GROUP BY 1 ORDER BY vec_id""".stripMargin
    }
  )
}
