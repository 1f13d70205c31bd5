package graft.queries

import org.apache.spark.sql.{Column, SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Training-data curation operators (B.10 extension, round 3): the
  * corpus-hygiene passes a large-scale LLM data pipeline runs between
  * raw crawl and tokenizer — n-gram decontamination, PII redaction,
  * sub-document dedup, domain mixture sampling, co-occurrence stats.
  *
  * Scale posture: everything here is explode → shuffled aggregate or
  * hash-split join — partial aggregation applies, no driver-side data,
  * no rand() (all sampling is md5-bucket deterministic, reproducible
  * across engines and cluster sizes). N-gram join keys are kept as
  * strings so the DuckDB oracle is exact; a 100 TB deployment would
  * xxhash64 them (same plan shape, 8-byte shuffle keys).
  */
object Training {

  /** md5-derived bucket in [0, 10000) — same selector as Sampling. */
  private def bucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 4), 16, 10).cast("int") % 10000

  /** Session-memoized 10-round BPE merge table, read by q_bpe_learn
    * and q_bpe_apply, learned in EXACT BATCHES (r7): each Spark job
    * yields as many canonical merges as provably commute (see the
    * selection proof inline), cutting the sequential argmax-job count — the latency
    * floor of distributed BPE — by the mean batch size. Each
    * round is a pair-explode + partial agg over the word-TYPE table
    * weighted by freq — round cost ∝ distinct types, not tokens; the
    * per-round argmax is a bounded 1-ROW driver scalar (CC
    * convergence-counter precedent), tie-broken (freq desc, pair asc)
    * so the merge sequence is deterministic. */
  private[graft] def learnedMerges(s: SparkSession, d: String): Array[(Int, String, String, Long)] =
    graft.util.SessionMemo.value(s, s"learnedMerges:$d") {
      val rounds = 10
      val topM = 64
      var words = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .select(concat(split(col("w"), ""), array(lit("</w>"))).as("syms"),
          col("freq"))
        .localCheckpoint(true)
      val merges = Array.newBuilder[(Int, String, String, Long)]
      var done = 0
      while (done < rounds) {
        // ONE job per batch round: the sorted top-M of the pair-count
        // table (bounded driver statistic, topM rows — CC convergence-
        // counter precedent). The r6 shape took exactly one merge per
        // job; batching amortizes the scheduling latency that
        // dominates at any scale (VERDICT r6 task 7).
        val rows = words
          .select(col("freq"), explode(expr(
            "transform(sequence(1, size(syms) - 1), i -> " +
            "named_struct('a', element_at(syms, i), 'b', element_at(syms, i + 1)))"))
            .as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("freq").as("f"))
          .orderBy(col("f").desc, col("a"), col("b"))
          .limit(topM)
          .collect()
          .map(t => (t.getString(0), t.getString(1), t.getLong(2)))
        val tail = if (rows.length == topM) rows.last._3 else 0L

        // EXACT batch selection: take the longest contiguous prefix of
        // the sorted pair list whose merges provably reproduce the
        // canonical one-at-a-time argmax sequence. Merging (a1,b1)
        // only changes counts of pairs (x,a1) / (b1,y), removes
        // (a1,b1), and creates (x,a1b1) / (a1b1,y) whose counts are
        // bounded by the old (x,a1) / (b1,y) counts. So a later pick
        // (a,b,f) is canon-next iff
        //   (i)  it is count-invariant to every earlier pick:
        //        b != a_i, a != b_i, and neither symbol equals an
        //        earlier output string a_ib_i (nor outputs collide);
        //   (ii) no NEW pair can overtake it: f strictly exceeds every
        //        old count of a pair inheriting from an earlier pick
        //        (second elem == a_i or first elem == b_i), and
        //        strictly exceeds the top-M tail (pairs outside the
        //        collected prefix are <= tail);
        //   (iii) earlier outputs are FRESH symbols (don't pre-exist
        //        in the type table), so created pairs never conflate
        //        with old ones. Checked with one bounded job; skipped
        //        when the tentative batch is a single merge (plain
        //        sequential semantics need no freshness).
        // Count-invariance also rules out overlapping occurrences
        // (b==a_i / a==b_i), so one left-to-right fold pass applies
        // the whole batch exactly as the sequential greedy would.
        def select(existing: Option[Set[String]]): List[(String, String, Long)] = {
          val sel = scala.collection.mutable.ListBuffer[(String, String, Long)]()
          var stop = false
          for (p @ (a, b, f) <- rows if !stop && done + sel.size < rounds) {
            if (sel.isEmpty) {
              sel += p
              // a conflating first output breaks the inheritance bound
              // for later picks — close the batch at size 1
              if (existing.exists(_.contains(a + b))) stop = true
            } else {
              val interacts = sel.exists { case (ai, bi, _) =>
                b == ai || a == bi || a == ai + bi || b == ai + bi ||
                  ai == a + b || bi == a + b || a + b == ai + bi
              }
              val bound = rows.iterator.filter { case (qa, qb, _) =>
                sel.exists { case (ai, bi, _) =>
                  (qb == ai || qa == bi) && (qa, qb) != (ai, bi)
                }
              }.map(_._3).foldLeft(tail)(math.max)
              val fresh = existing.forall(ex => !ex.contains(a + b))
              if (!interacts && fresh && f > bound) sel += p
              else stop = true
            }
          }
          sel.toList
        }
        val tentative = select(existing = None)
        val batch =
          if (tentative.size <= 1) tentative
          else {
            // freshness check for candidate outputs: one bounded job
            val cands = rows.map(p => p._1 + p._2).distinct.toSeq
            val existing = words
              .select(explode(col("syms")).as("sym"))
              .where(col("sym").isin(cands: _*))
              .distinct().collect().map(_.getString(0)).toSet
            select(Some(existing))
          }
        if (sys.env.contains("GRAFT_BPE_DEBUG"))
          println(s"[bpe] batch of ${batch.size} after $done: " +
            batch.map(p => p._1 + "+" + p._2).mkString(", "))
        batch.zipWithIndex.foreach { case ((a, b, f), i) =>
          merges += ((done + i + 1, a, b, f))
        }
        // apply the whole batch in ONE fold pass (+1 checkpoint job)
        words = words.withColumn("syms",
            aggregate(col("syms"), array().cast("array<string>"),
              (acc, x) => {
                val base = concat(acc, array(x))
                val lastEl = element_at(acc, lit(-1))
                batch.foldRight(base) { case ((a, b, _), els) =>
                  when(size(acc) > 0 && lastEl === lit(a) && x === lit(b),
                    concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
                    .otherwise(els)
                }
              }))
          .localCheckpoint(true)
        done += batch.size
      }
      merges.result()
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // 13-gram exact-overlap decontamination (the GPT-3/Gopher eval
    // protocol): for every TEST-split document, how many of its
    // distinct 13-grams also occur anywhere in the TRAIN split. The
    // train side collapses to a distinct-gram set (one shuffle), so
    // the probe join is test-grams x matching-grams, never test x
    // train documents.
    "q_contamination_ngram" -> ((s, d) => {
      val w = 13
      val docs = Tables.documents(s, d).withColumn("l", split(col("text"), " "))
      val grams = docs.filter(size(col("l")) >= w)
        .select(col("doc_id"),
          explode(expr(s"transform(sequence(1, size(l) - ${w - 1}), " +
            s"i -> concat_ws(' ', slice(l, i, $w)))")).as("g"))
      val side = docs.select(col("doc_id"), bucket(col("doc_id")).as("b"))
      val trainG = grams.join(side.filter(col("b") < 8000), "doc_id")
        .select("g").distinct()
      val testG = grams.join(side.filter(col("b") >= 9000), "doc_id")
        .dropDuplicates("doc_id", "g")
      testG.join(trainG.withColumn("hit", lit(1)), Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .withColumn("ratio", round(col("n_hit") / col("n_grams"), 4))
        .withColumn("contaminated", col("n_hit") > 0)
        .orderBy("doc_id")
    }),

    // PII redaction: regex scrub of emails and phone numbers. The
    // corpus has none, so deterministic PII is synthesized from
    // doc_id first — the redaction (and its count) is then exactly
    // checkable. Output carries the md5 of the redacted text, not the
    // text (the redacted artifact is what ships; the hash proves it).
    "q_pii_redact" -> ((s, d) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+1-555-[0-9]{4}"
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or +1-555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("t"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(emailRe), lit(0))).as("n_email"),
          size(regexp_extract_all(col("t"), lit(phoneRe), lit(0))).as("n_phone"),
          md5(regexp_replace(regexp_replace(col("t"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // Sub-document (paragraph-grain) exact dedup, CCNet-style: chunk
    // each document into consecutive 8-token spans, hash each span,
    // report spans shared by >= 2 documents with the canonical keeper.
    // This catches boilerplate repeated across otherwise-distinct
    // documents, which whole-document dedup misses by construction.
    "q_dedup_paragraph" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("l", split(col("text"), " "))
        .select(col("doc_id"),
          explode(expr("transform(sequence(0, (size(l) - 1) div 8), " +
            "i -> concat_ws(' ', slice(l, i * 8 + 1, 8)))")).as("chunk"))
        .groupBy(md5(col("chunk")).as("h"))
        .agg(countDistinct("doc_id").as("n_docs"), min("doc_id").as("keep_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy("h")),

    // URL parse + canonicalization (r5): the CommonCrawl-style curation
    // step — parse host/path/query out of each document's URL,
    // normalize (lowercase host, default port dropped by the parser,
    // tracking params stripped), and report per-host dedup pressure:
    // docs vs distinct paths vs distinct canonical URLs (sec=doc_id%7
    // collapses the id-space 7-fold once trackers are gone). URLs are
    // synthesized deterministically from (source, lang, doc_id) — the
    // corpus has no url column — with an UPPERCASE host + :443 + two
    // tracking params so every normalization rule does real work. All
    // scalar work is codegen'd expressions on the scan; the only
    // shuffle is the per-host agg (multi-distinct expands 2×). The
    // oracle re-derives host/path/query with plain regexes — an
    // independent parser implementation checking parse_url's.
    "q_url_extract" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(lit("https://"), col("source"), lit(".Example.COM:443/"),
            col("lang"), lit("/"), pmod(col("doc_id"), lit(50)).cast("string"),
            lit("/page?sec="), pmod(col("doc_id"), lit(7)).cast("string"),
            lit("&utm_source=feed&ref="), col("source")).as("url"))
        .select(col("doc_id"),
          lower(expr("parse_url(url, 'HOST')")).as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          regexp_replace(expr("parse_url(url, 'QUERY')"),
            "&(utm_[a-z]+|ref)=[^&]*", "").as("q"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("path").as("n_paths"),
          countDistinct(concat(col("host"), col("path"), lit("?"), col("q")))
            .as("n_canon"))
        .orderBy("host")),

    // Domain mixture sampling: per-source target rates applied via the
    // deterministic hash bucket — the "20% web, 50% curated" knob of a
    // training mix, reproducible at any scale because membership is a
    // pure function of the row key.
    "q_domain_mix" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("b", bucket(col("doc_id")))
        .withColumn("rate",
          when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 0.8)
            .when(col("source").isin("src5", "src6", "src7", "src8", "src9"), 0.5)
            .otherwise(0.2))
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          // integer threshold, not `b < rate * 10000`: 0.8 * 10000 is
          // 8000.0000000000004 in doubles, which silently kept bucket
          // 8000 and made the effective rate 8001/10000. ROUND to the
          // intended bucket count (spelled identically in the oracle)
          // so the boundary bucket is excluded as intended.
          sum(when(col("b") < round(col("rate") * 10000, 0).cast("long"), 1L)
            .otherwise(0L)).as("n_kept"),
          max("rate").as("rate"))
        .orderBy("source")),

    // Token co-occurrence PMI per language: top-5 token pairs by
    // pointwise mutual information (documents as contexts). The pair
    // space is per-document distinct-token pairs — bounded by the
    // per-doc vocabulary, not the corpus — and the ranking runs on the
    // ROUNDED score so the cross-engine order is identical even where
    // raw doubles differ in the last ulp.
    "q_cooccur_pmi" -> ((s, d) => {
      graft.expr.Registry.ensure(s) // RewriteWindowTopK for the top-5 window
      val docs = Tables.documents(s, d)
      val tok = docs.select(col("doc_id"), col("lang"),
        explode(array_distinct(split(col("text"), " "))).as("t"))
      val nl = docs.groupBy("lang").agg(count(lit(1)).as("nl"))
      val tc = tok.groupBy("lang", "t").agg(count(lit(1)).as("n_t"))
      val pr = tok.select(col("doc_id"), col("lang"), col("t").as("ta"))
        .join(tok.select(col("doc_id"), col("t").as("tb")), "doc_id")
        .filter(col("ta") < col("tb"))
        .groupBy("lang", "ta", "tb").agg(count(lit(1)).as("n_ab"))
      // nl is one row per language — broadcast. The tc sides are
      // VOCABULARY-sized (per-lang term counts): no broadcast hint, or
      // a real corpus' vocabulary table would have to fit an executor;
      // AQE still broadcasts them at test sf from runtime stats.
      // See SURVEY §7.5.
      val scored = pr
        .join(broadcast(nl), "lang")
        .join(tc.select(col("lang"), col("t").as("ta"), col("n_t").as("na")),
          Seq("lang", "ta"))
        .join(tc.select(col("lang"), col("t").as("tb"), col("n_t").as("nb")),
          Seq("lang", "tb"))
        .withColumn("pmi", round(log(col("n_ab") * col("nl") / (col("na") * col("nb"))), 6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("pmi").desc, col("ta"), col("tb"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("lang", "ta", "tb", "n_ab", "pmi", "rn")
        .orderBy("lang", "rn")
    }),

    // Per-language length z-score outlier flag — the distributional
    // quality filter (drop truncated fragments and boilerplate
    // mega-docs) every curation pipeline runs. Per-lang moments are a
    // bounded table (one row per language — structurally broadcastable
    // per §7.5); the flag compares against the UNrounded stats.
    "q_quality_zscore" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("len"))
      val st = docs.groupBy("lang")
        .agg(avg(col("len").cast("double")).as("mu"),
          stddev_samp(col("len").cast("double")).as("sd"))
      docs.join(broadcast(st), "lang")
        .withColumn("z", round((col("len") - col("mu")) / col("sd"), 4))
        .withColumn("outlier", abs(col("len") - col("mu")) > lit(2.0) * col("sd"))
        .select("doc_id", "lang", "len", "z", "outlier")
        .orderBy("doc_id")
    }),

    // RAG/training chunking (r5): explode each document into
    // overlapping token windows (size 32, stride 24 — the standard
    // "chunk with overlap" retrieval shape), emitting per chunk its
    // index, token offset, length and content hash. The last chunk
    // covers the tail (start = ceil((n-L)/S)·S), so every token lands
    // in at least one chunk. One generator pass per document — no
    // shuffle until the final order; at corpus scale this is the map
    // stage in front of an embedding or indexing pipeline, and the
    // md5 becomes the chunk's content address.
    "q_rag_chunk" -> ((s, d) => {
      val L = 32; val S = 24
      Tables.documents(s, d)
        .withColumn("l", split(col("text"), " "))
        .withColumn("n", size(col("l")))
        // integer ceil-div on a guarded-positive operand: (n-L+S-1) div S
        // truncates identically in both engines only for non-negative
        // numerators, hence the n <= L guard (the q_domain_mix lesson)
        .withColumn("k", explode(expr(
          s"sequence(0, CASE WHEN n <= $L THEN 0 ELSE (n - $L + ${S - 1}) div $S END)")))
        .select(col("doc_id"),
          col("k").cast("int").as("chunk_idx"),
          (col("k") * S).cast("int").as("start_tok"),
          least(lit(L), col("n") - col("k") * S).cast("int").as("chunk_len"),
          md5(concat_ws(" ", expr(s"slice(l, k * $S + 1, $L)"))).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // Containment dedup (r5): document A whose DISTINCT 8-token chunk
    // set is fully covered by another document B's — the "same text
    // plus appended boilerplate" crawl artifact that neither whole-doc
    // dedup (hashes differ) nor near-dup Jaccard (the union grows with
    // B) reliably catches. Realized at chunk grain, which is what
    // makes it blockable: candidates come from the chunk-hash
    // inverted-index join (pairs share >= 1 chunk), then containment
    // is just count(shared) == |chunks(A)|. Requires >= 2 chunks so a
    // single shared boilerplate paragraph is not "containment". At
    // corpus scale the join key becomes xxhash64(chunk) and stop-chunk
    // df-capping bounds the hot buckets (same posture as SetSimJoin's
    // prefix buckets).
    "q_chunk_contain" -> ((s, d) => {
      val ch = Tables.documents(s, d)
        .withColumn("l", split(col("text"), " "))
        .select(col("doc_id"),
          explode(expr("transform(sequence(0, (size(l) - 1) div 8), " +
            "i -> concat_ws(' ', slice(l, i * 8 + 1, 8)))")).as("chunk"))
        .dropDuplicates("doc_id", "chunk")
      val sz = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      val shared = ch.select(col("doc_id").as("a_id"), col("chunk"))
        .join(ch.select(col("doc_id").as("b_id"), col("chunk")), "chunk")
        .filter(col("a_id") =!= col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_shared"))
      shared.join(sz.withColumnRenamed("doc_id", "a_id"), "a_id")
        .filter(col("n_shared") === col("n_chunks") && col("n_chunks") >= 2)
        .select(col("a_id"), col("b_id"), col("n_chunks"))
        .orderBy("a_id", "b_id")
    }),

    // Corpus bigram-LM fluency score (CCNet-style LM filtering,
    // simplified): per-doc average conditional log-probability
    // avg(ln(count(w1 w2) / count(w1 _))) under the per-language
    // corpus bigram model. Junk/boilerplate scores low; the counts are
    // vocabulary-sized tables joined WITHOUT broadcast hints (§7.5 —
    // AQE broadcasts them at test sf, a real corpus shuffles).
    "q_bigram_lm" -> ((s, d) =>
      // per-doc scores from the session-memoized bigram-LM table
      // (operators/EdgeGraph.bigramScores) — the model derivation is
      // shared with q_ppl_bucket, computed once per (session, sfDir)
      graft.operators.EdgeGraph.bigramScores(s, d)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_lp"), 6).as("avg_logprob"))
        .orderBy("doc_id")),

    // CCNet-style perplexity bucketing: each document's bigram-LM
    // perplexity (exp of negative avg conditional log-prob) is
    // compared to its LANGUAGE's corpus terciles → head / middle /
    // tail — the bucket CCNet uses to stratify training data by
    // fluency. The terciles go through the distributed ExactQuantiles
    // plan (value-count + rank window — no per-group value buffer)
    // and come back as a per-lang broadcast bound table; the per-doc
    // scores come from the session-memoized bigramScores table, so
    // the LM derivation is paid once across both consumers.
    "q_ppl_bucket" -> ((s, d) => {
      val sc = graft.operators.EdgeGraph.bigramScores(s, d)
        .select(col("doc_id"), col("lang"),
          round(exp(-col("avg_lp")), 6).as("ppl"))
      val cuts = graft.operators.ExactQuantiles
        .byGroup(sc, Seq("lang"), "ppl", Seq(1.0 / 3, 2.0 / 3))
        .groupBy("lang")
        .agg(round(max(when(col("q") === 1.0 / 3, col("v"))), 6).as("t1"),
          round(max(when(col("q") === 2.0 / 3, col("v"))), 6).as("t2"))
      sc.join(broadcast(cuts), "lang")
        .withColumn("bucket", when(col("ppl") <= col("t1"), "head")
          .when(col("ppl") <= col("t2"), "middle").otherwise("tail"))
        .select("doc_id", "lang", "ppl", "bucket")
        .orderBy("doc_id")
    }),

    // Vocabulary pruning / OOV-rate (r5): the tokenizer-prep pass that
    // decides which tokens survive into the vocab. Per language, a
    // token whose corpus frequency is below the threshold maps to
    // <unk>; the report carries per-lang vocab size, token volume, and
    // the OOV token rate the downstream tokenizer would see. Two
    // shuffles total — explode→(lang,token) count (partial agg does
    // the heavy lifting: ~60 distinct words/lang at any SF), then the
    // per-lang rollup. No join back to documents: the rates roll up
    // from the count table itself, so the corpus is scanned ONCE.
    "q_vocab_prune" -> ((s, d) => {
      val minFreq = 100
      val tc = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("t"))
        .groupBy("lang", "t").agg(count(lit(1)).as("n"))
      tc.groupBy("lang").agg(
          count(lit(1)).as("n_types"),
          sum("n").as("n_tokens"),
          sum(when(col("n") >= minFreq, 1).otherwise(0)).as("vocab_size"),
          sum(when(col("n") < minFreq, col("n")).otherwise(0L)).as("oov_tokens"))
        .withColumn("oov_rate", round(col("oov_tokens") / col("n_tokens"), 6))
        .orderBy("lang")
    }),

    // Boilerplate stripping (r5, CCNet-style): a paragraph (8-word
    // chunk) that recurs across ≥3 documents of the SAME source is
    // boilerplate (nav bars, footers, license headers); each doc
    // reports how much of it survives the strip. Unlike
    // q_dedup_paragraph (global duplicate listing, first-doc-wins)
    // this is a per-(source, chunk) frequency JOINED BACK to the
    // exploded corpus — the join key is (source, md5(chunk)), so at
    // 100 TB both sides hash-partition on the same key and the
    // boilerplate side stays proportional to the distinct-chunk count,
    // not the corpus.
    "q_boilerplate_strip" -> ((s, d) => {
      val chunks = Tables.documents(s, d)
        .withColumn("l", split(col("text"), " "))
        .select(col("doc_id"), col("source"),
          explode(expr("transform(sequence(0, (size(l) - 1) div 8), " +
            "i -> concat_ws(' ', slice(l, i * 8 + 1, 8)))")).as("chunk"))
        .select(col("doc_id"), col("source"),
          md5(col("chunk")).as("h"), length(col("chunk")).as("chars"))
      val bp = chunks.groupBy("source", "h")
        .agg(countDistinct("doc_id").as("n_docs"))
        .filter(col("n_docs") >= 3)
        .select(col("source"), col("h"), lit(1).as("is_bp"))
      chunks.join(bp, Seq("source", "h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("is_bp").isNull, 1).otherwise(0)).as("n_kept"),
          sum(when(col("is_bp").isNull, col("chars")).otherwise(0L))
            .as("kept_chars"))
        .withColumn("keep_ratio", round(col("n_kept") / col("n_chunks"), 4))
        .orderBy("doc_id")
    }),

    // Unicode NFC canonicalization (r5): web corpora mix composed
    // (U+00E9 'é') and decomposed (e + U+0301) encodings of identical
    // text, which silently defeats exact-hash dedup and splits
    // vocabulary entries. Decomposed text is synthesized
    // deterministically (corpus text is ASCII): a combining-acute
    // sequence appended per doc. Normalization runs through the custom
    // codegen'd NfcNormalize expression (Spark has no built-in; DuckDB
    // ships nfc_normalize — an independent implementation, so the md5
    // equality is a real cross-engine check of the JDK normalizer).
    // Lengths are code-point counts in both engines; the composed form
    // is 1 shorter per combining pair. Pure per-row scalar work — no
    // shuffle at all until the (tiny) ordered output.
    "q_text_normalize" -> ((s, d) => {
      graft.expr.Registry.ensure(s) // nfc_normalize
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 40),
            lit(" cafe"), lit("\u0301 "), col("source")).as("dirty"))
        .select(col("doc_id"),
          length(col("dirty")).as("len_raw"),
          length(expr("nfc_normalize(dirty)")).as("len_nfc"),
          md5(expr("nfc_normalize(dirty)")).as("h_nfc"))
        .orderBy("doc_id")
    }),

    // Temperature-scaled domain mixture (the multilingual/multi-source
    // sampling rule: w_d ∝ mass_d^α, α=0.5): upweights tail domains,
    // downweights the head. Everything heavy is one partial-agg
    // groupBy over the corpus; the windows then run over the
    // per-domain table — domains, not documents, so the single
    // window partition holds dozens of rows at any corpus size.
    "q_mix_temperature" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val whole = Window.partitionBy(lit(1))
      Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
        .withColumn("p_raw",
          col("n_tokens") / sum("n_tokens").over(whole).cast("double"))
        .withColumn("u", pow(col("n_tokens"), 0.5))
        .withColumn("w_temp", col("u") / sum("u").over(whole))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("p_raw"), 6).as("p_raw"),
          round(col("w_temp"), 6).as("w_temp"),
          round(col("w_temp") / col("p_raw"), 4).as("boost"))
        .orderBy("source")
    }),

    // Mixture MATERIALIZATION (the step after q_mix_temperature): turn
    // per-source boost factors into an actual resampled corpus,
    // deterministically — every doc replicates floor(boost) times plus
    // one more iff its md5 bucket falls under the fractional part
    // (boost 1.38 → 38% of docs get a 2nd copy). Replication is a
    // sequence-explode (no rand(), reproducible across engines and
    // cluster sizes); the boost table is domain-bounded and broadcast.
    // Output: per-source materialized volume vs the α-target share.
    "q_mix_materialize" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val m = docs.groupBy("source")
        .agg(sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
      val whole = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      val boost = m
        .withColumn("p", col("n_tokens") / sum("n_tokens").over(whole).cast("double"))
        .withColumn("u", pow(col("n_tokens"), 0.5))
        .withColumn("w", col("u") / sum("u").over(whole))
        .select(col("source"), (col("w") / col("p")).as("boost"), col("w"))
      docs.join(broadcast(boost), "source")
        .withColumn("n_rep",
          floor(col("boost")).cast("long") +
            when(bucket(col("doc_id")) <
              round((col("boost") - floor(col("boost"))) * 10000, 0).cast("long"),
              1L).otherwise(0L))
        .select(col("source"), col("w"),
          // sequence(1, 0) in Spark is the DESCENDING [1, 0], not
          // empty — the dropped-doc case must yield array() so the
          // explode removes the row
          explode(expr("CASE WHEN n_rep >= 1 THEN sequence(1, n_rep) " +
            "ELSE CAST(array() AS array<bigint>) END")).as("copy"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs_out"),
          sum(col("toks")).as("n_tokens_out"),
          round(max("w"), 6).as("w_target"))
        .withColumn("share_out",
          round(col("n_tokens_out") /
            sum("n_tokens_out").over(whole).cast("double"), 4))
        .orderBy("source")
    }),

    // Deterministic k-per-group exemplar sample (the "show me 5 docs
    // per domain" debugging/eval draw): md5-ordered row_number per
    // source — reproducible across engines, cluster sizes and runs,
    // and rewritten by RewriteWindowTopK into the two-phase top-k
    // (partial per-partition heads before the shuffle).
    "q_group_sample" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("source"), col("rk"), col("doc_id"), col("lang"))
        .orderBy("source", "rk")
    }),

    // Quality-mass nucleus selection (top-p curation): per source,
    // take documents by descending char mass until 90% of the
    // source's total mass is covered (the crossing doc included).
    // One running-sum window per source partition — ROWS frame over
    // a total order so engines agree on the boundary row — then a
    // partial-agg rollup. No driver-side data.
    "q_select_topp" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byMass = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = Window.partitionBy("source")
      Tables.documents(s, d)
        .withColumn("cum", sum("n_chars").over(byMass))
        .withColumn("tot", sum("n_chars").over(whole))
        .withColumn("sel", col("cum") - col("n_chars") < col("tot") * 0.9)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("sel"), 1L).otherwise(0L)).as("n_sel"),
          sum(when(col("sel"), col("n_chars")).otherwise(0L)).as("chars_sel"),
          max("tot").as("chars_total"))
        .withColumn("mass_ratio",
          round(col("chars_sel") / col("chars_total").cast("double"), 4))
        .orderBy("source")
    }),

    // Distributed BPE merge learning (Sennrich word-type formulation —
    // the tokenizer-training pass of a data pipeline): the corpus
    // collapses ONCE to a (word, freq) type table (corpus-sized scan,
    // vocab-sized state), then each of the 10 merge rounds is one
    // pair-explode + partial-agg over word TYPES weighted by freq —
    // never the corpus again. That type-table iteration is exactly how
    // BPE scales to 100 TB: round cost ∝ distinct word types, not
    // tokens. The per-round argmax is a bounded 1-ROW driver scalar
    // (the CC convergence-counter precedent), tie-broken (freq desc,
    // pair asc) so the merge sequence is deterministic; the merge
    // applies as a codegen'd left-to-right `aggregate` fold, and the
    // type table localCheckpoints per round (10 nested HOF projections
    // would otherwise stack into one giant codegen unit). No DuckDB
    // oracle (iterative): R6OpsSpec replays a pure-Scala reference BPE
    // on the collected type table and pins the exact merge sequence.
    "q_bpe_learn" -> ((s, d) => {
      import s.implicits._
      learnedMerges(s, d).toSeq
        .toDF("rank", "left", "rite", "pair_freq")
        .orderBy("rank")
    }),

    // BPE ENCODE (the apply step pairing q_bpe_learn): re-learn the
    // 10-merge table (session-cheap — the type table is vocab-sized),
    // then apply the merge sequence to every document as 10 statically
    // chained codegen'd `aggregate` folds — rank order preserved, no
    // per-round materialization needed because the chain is a fixed
    // expression tree, not an iteration over data. Output per doc:
    // symbol count before/after and the compression ratio — the
    // "tokens saved per merge table" accounting a tokenizer rollout
    // reports. No DuckDB oracle (depends on the learned merges):
    // R6OpsSpec re-encodes collected docs against the learned table.
    "q_bpe_apply" -> ((s, d) => {
      val merges = learnedMerges(s, d).sortBy(_._1).map(m => (m._2, m._3))
      // Fold PER WORD, not per document: the aggregate fold rebuilds
      // its accumulator array per element (O(len²) per fold), so the
      // unit of folding must be the ≤~15-symbol word, never the
      // ~300-symbol document — word-level keeps the whole encode
      // linear in corpus tokens (doc-level measured 21 s solo at
      // sf0.1; word-level ~2 s).
      val base = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("transform(filter(split(text, ' '), w -> length(w) > 0), " +
            "w -> concat(split(w, ''), array('</w>')))").as("words"))
        .withColumn("n_chars_syms", size(flatten(col("words"))))
      val encoded = merges.foldLeft(base) { case (df, (a, b)) =>
        val (aV, bV, abV) = (lit(a), lit(b), lit(a + b))
        df.withColumn("words",
          transform(col("words"), syms =>
            aggregate(syms, array().cast("array<string>"),
              (acc, x) => when(size(acc) > 0 &&
                  element_at(acc, lit(-1)) === aV && x === bV,
                concat(slice(acc, lit(1), size(acc) - 1), array(abV)))
                .otherwise(concat(acc, array(x))))))
      }
      encoded
        .select(col("doc_id"), col("n_chars_syms"),
          size(flatten(col("words"))).as("n_tokens"),
          round(size(flatten(col("words"))) / col("n_chars_syms").cast("double"), 4)
            .as("compression"))
        .orderBy("doc_id")
    }),

    // Per-document 8-gram novelty (the RefinedWeb/FineWeb "how much
    // of this doc is new text" signal): fraction of a doc's distinct
    // 8-grams whose corpus-wide first occurrence (min doc_id) is this
    // doc. First-occurrence is a partial-agg min per gram; the probe
    // join is gram-keyed hash-split. String gram keys keep the DuckDB
    // oracle exact; at 100 TB they'd be xxhash64'd (same plan, 8-byte
    // keys) — the q_contamination_ngram posture.
    "q_ngram_novelty" -> ((s, d) => {
      val w = 8
      // r13 opt (guide §2.3/§2.4): gram duplicates only exist WITHIN a
      // doc, so array_distinct before the explode replaces the
      // dropDuplicates(doc_id, g) SHUFFLE with map-side work, and the
      // per-doc distinct-gram count is size(gs) — computed before the
      // explode, no doc-grain re-aggregation of the big gram table.
      val docGrams = Tables.documents(s, d)
        .withColumn("l", split(col("text"), " "))
        .filter(size(col("l")) >= w)
        .select(col("doc_id"),
          array_distinct(expr(s"transform(sequence(1, size(l) - ${w - 1}), " +
            s"i -> concat_ws(' ', slice(l, i, $w)))")).as("gs"))
      val nGrams = docGrams.select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"))
      // novel grams per doc: a doc's gram is novel iff the doc is the
      // corpus-wide min doc_id for that gram — so count the FIRST table
      // by first_doc instead of joining it back onto the corpus-grain
      // gram table on the STRING key (the old plan's widest shuffle;
      // the re-attached rows were only ever re-aggregated to doc grain)
      val novel = docGrams.select(col("doc_id"), explode(col("gs")).as("g"))
        .groupBy("g").agg(min("doc_id").as("first_doc"))
        .groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      nGrams.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel") / col("n_grams").cast("double"), 4))
        .orderBy("doc_id")
    }),

    // Zipf's-law fit per language: OLS slope/R² of ln(freq) against
    // ln(rank) over the term-frequency distribution — the standard
    // sanity check that a corpus slice looks like natural language
    // (slope ≈ −1) rather than template spam. Served from the
    // session-memoized term index (one derivation per corpus
    // snapshot); the rank window runs over the VOCABULARY (bounded,
    // per-lang), never the corpus, and regr_* aggregates partial-
    // combine like any sum — the whole fit is one vocab-sized pass.
    "q_zipf_fit" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("freq").desc, col("term"))
      graft.operators.EdgeGraph.termFreq(s, d)
        .groupBy("lang", "term").agg(sum("tf_raw").as("freq"))
        .withColumn("rank", row_number().over(w))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_terms"),
          round(expr("regr_slope(ln(freq), ln(rank))"), 4).as("zipf_slope"),
          round(expr("regr_r2(ln(freq), ln(rank))"), 4).as("fit_r2"))
        .orderBy("lang")
    }),

    // Hapax-legomena density per document: share of a doc's distinct
    // terms that occur exactly ONCE in the whole per-lang corpus
    // slice — high hapax density flags OCR junk, mangled encodings
    // and tokenizer-hostile text (the OOV pressure signal tokenizer
    // training watches). Served from the memoized term index; the
    // corpus-frequency table joins at vocab grain with NO broadcast
    // hint (vocabulary posture, SURVEY §7.5).
    "q_hapax_ratio" -> ((s, d) => {
      val tf = graft.operators.EdgeGraph.termFreq(s, d)
      val cf = tf.groupBy("lang", "term").agg(sum("tf_raw").as("cf"))
      tf.join(cf, Seq("lang", "term"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          sum(when(col("cf") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .withColumn("hapax_ratio",
          round(col("n_hapax") / col("n_terms").cast("double"), 6))
        .orderBy("doc_id")
    }),

    // Hashing-trick featurization (Weinberger ICML'09): categorical
    // attributes map to a FIXED d=64 index space via the md5 bucket —
    // no vocabulary table, no fit step, deterministic across engines
    // and cluster sizes, collisions by design. Per doc the sorted
    // index vector (the sparse-feature representation a downstream
    // trainer consumes); pure projection + one doc-grain agg, no
    // shuffle wider than the output. The sorted index vector is
    // emitted as a comma-joined STRING (q_map_funcs precedent): the
    // driver's pandas comparator cannot sort array columns, so the
    // array form stays internal and the wire format is scalar.
    "q_feature_hash" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(array(
          concat(lit("lang="), col("lang")),
          concat(lit("src="), col("source")))).as("feat"))
        .withColumn("idx",
          conv(substring(md5(col("feat")), 1, 4), 16, 10).cast("int") % 64)
        .groupBy("doc_id")
        .agg(array_join(sort_array(collect_list(col("idx"))), ",").as("fvec"))
        .orderBy("doc_id"))
,
    // Multinomial Naive Bayes language ID, trained and applied inside
    // the engine — the fastText-style classifier pass a curation
    // pipeline runs (CCNet line 1: classify, then filter). Train on
    // even doc_ids (Laplace-smoothed per-class token log-probs, log
    // priors), score odd doc_ids as token-sum log-likelihoods, output
    // the confusion matrix. Every stage is explode → partial agg or a
    // join against the BOUNDED (vocab × 5) model table; the candidate
    // frame is tokens × classes — linear in the corpus with a
    // constant class factor, the canonical distributed NB shape.
    // Argmax tiebreak: max (score, class) struct — deterministic.
    "q_nb_langid" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tok = docs.select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val wc = tok.filter(col("doc_id") % 2 === 0)
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = true) // the model: bounded vocab × classes
      val tot = wc.groupBy("lang").agg(sum("c").as("tc"))
      val v = wc.agg(countDistinct("w").as("v"))
      val pri = docs.filter(col("doc_id") % 2 === 0)
        .groupBy("lang").agg(count(lit(1)).as("nd"))
        .localCheckpoint(eager = true) // 5 rows, referenced twice
      val priT = pri.agg(sum("nd").as("ndt"))
      val cand = tok.filter(col("doc_id") % 2 === 1).select("doc_id", "w")
        .crossJoin(broadcast(pri.select(col("lang").as("cl"))))
        .join(wc.select(col("lang").as("cl"), col("w"), col("c")),
          Seq("cl", "w"), "left")
        .na.fill(0L, Seq("c"))
        .join(broadcast(tot.select(col("lang").as("cl"), col("tc"))), "cl")
        .crossJoin(broadcast(v))
        .groupBy("doc_id", "cl")
        .agg(sum(log((col("c") + 1.0) / (col("tc") + col("v")))).as("ll"))
      val scored = cand
        .join(broadcast(pri.select(col("lang").as("cl"), col("nd"))), "cl")
        .crossJoin(broadcast(priT))
        .withColumn("score", col("ll") + log(col("nd") / col("ndt")))
      val pred = scored.groupBy("doc_id")
        .agg(max(struct(col("score"), col("cl"))).as("best"))
        .select(col("doc_id"), col("best.cl").as("pred"))
      docs.filter(col("doc_id") % 2 === 1).select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    }),

    // Dataset card: the per-source datasheet a corpus release ships —
    // doc/token volume, language spread, length profile, and the
    // exact-duplicate rate (1 - distinct-hash / docs). One partial
    // agg over the corpus; every metric is mergeable, so the same
    // plan emits per-shard cards that roll up at 100 TB.
    "q_dataset_card" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          countDistinct("lang").as("n_langs"),
          round(avg(length(col("text"))), 4).as("avg_chars"),
          countDistinct(md5(col("text"))).as("n_uniq"))
        .withColumn("dup_rate",
          round(lit(1.0) - col("n_uniq") / col("n_docs"), 6))
        .orderBy("source")),

    // Vocabulary-growth (Heaps' law) curve: terms are attributed to
    // the doc-id decile where they FIRST appear (min doc_id per term
    // — one explode + partial agg), so cumulative vocabulary size per
    // decile falls out of a 10-row window — the whole curve from one
    // corpus scan, no per-prefix rescans. The tokenizer-sizing
    // diagnostic: sublinear growth says when vocab saturates.
    "q_vocab_growth" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val mx = docs.agg((max("doc_id") + 1).as("mxd"))
      val firstSeen = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(min("doc_id").as("first_doc"))
      val newTerms = firstSeen.crossJoin(broadcast(mx))
        .groupBy(expr("(first_doc * 10) div mxd").cast("int").as("bucket"))
        .agg(count(lit(1)).as("new_terms"))
      val docStats = docs.crossJoin(broadcast(mx))
        .groupBy(expr("(doc_id * 10) div mxd").cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      // bounded grain: fixed 10-bucket rollup
      val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      docStats.join(newTerms, Seq("bucket"), "left")
        .na.fill(0L, Seq("new_terms"))
        .select(col("bucket"),
          sum("n_docs").over(w).as("cum_docs"),
          sum("n_tokens").over(w).as("cum_tokens"),
          sum("new_terms").over(w).as("vocab_size"))
        .orderBy("bucket")
    }),

    // Distinctive vocabulary per source — the Monroe et al. log-odds
    // ratio with a Dirichlet prior (a=0.5/term): what q_tfidf_top is
    // at doc grain, this is at CORPUS-SLICE grain, the
    // compare-two-corpora primitive (what words make src3 different).
    // Everything runs at vocab grain (explode → partial aggs, bounded
    // marginals broadcast); top-3 per source on the rounded score.
    "q_log_odds_terms" -> ((s, d) => {
      val st = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = true) // vocab-grain, referenced 3×
      val sTot = st.groupBy("source").agg(sum("n").as("ns"))
      val tTot = st.groupBy("term").agg(sum("n").as("nt"))
      val vocab = st.agg(countDistinct("term").as("v"), sum("n").as("nn"))
      val a = 0.5
      val scored = st
        .join(broadcast(sTot), "source")
        .join(tTot, "term")
        .crossJoin(broadcast(vocab))
        .withColumn("rest", col("nt") - col("n"))
        .withColumn("nrest", col("nn") - col("ns"))
        .withColumn("delta", round(
          log((col("n") + a) / (col("ns") - col("n") + lit(a) * col("v")))
            - log((col("rest") + a) / (col("nrest") - col("rest") + lit(a) * col("v"))),
          6))
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("delta").desc, col("term"))
      scored.withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 3)
        .select(col("source"), col("rk"), col("term"), col("delta"))
        .orderBy("source", "rk")
    }),

    // Per-source language-diversity entropy (the mixture-health
    // metric next to q_domain_mix's sampling): Shannon entropy of
    // each source's language distribution in nats, plus the
    // normalized form against ln(n_langs). One partial agg; the
    // entropy algebra runs on the bounded (source, lang) cells.
    "q_src_diversity" -> ((s, d) => {
      val cells = Tables.documents(s, d)
        .groupBy("source", "lang").agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = true)
      val tot = cells.groupBy("source").agg(sum("n").as("nt"),
        countDistinct("lang").as("nl"))
      cells.join(broadcast(tot), "source")
        .groupBy(col("source"))
        .agg(min("nl").as("n_langs"),
          round(-sum((col("n") / col("nt"))
            * log(col("n") / col("nt"))), 6).as("entropy"),
          round(-sum((col("n") / col("nt")) * log(col("n") / col("nt")))
            / log(greatest(min("nl").cast("double"), lit(2.0))), 6)
            .as("norm_entropy"))
        .orderBy("source")
    }),

    // DSIR-style importance resampling (Xie et al., NeurIPS'23 —
    // "Data Selection for Language Models via Importance Resampling"):
    // score every raw document by how target-like its hashed-unigram
    // distribution is. Features are md5-hashed token buckets (d=256,
    // the hashing-trick posture of q_feature_hash); the target slice
    // is lang='en'. Per-bucket log-likelihood-ratio under Laplace
    // smoothing, snapped to an exact integer µ-unit grid (the
    // q_cusum_drift lesson: the per-doc sum then runs over exact
    // longs in any order), one final division per doc. Scale shape:
    // token explode → 256-row model (broadcast) → doc-grain rollup —
    // the model is O(d), never corpus-sized.
    "q_importance_resample" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .withColumn("b",
          conv(substring(md5(col("w")), 1, 4), 16, 10).cast("int") % 256)
      val tgt = tok.filter(col("lang") === "en")
        .groupBy("b").agg(count(lit(1)).as("ct"))
      val raw = tok.groupBy("b").agg(count(lit(1)).as("cr"))
      val tt = tgt.agg(sum("ct").as("tt"))
      val rt = raw.agg(sum("cr").as("rt"))
      val model = raw.join(tgt, Seq("b"), "left").na.fill(0L, Seq("ct"))
        .crossJoin(broadcast(tt)).crossJoin(broadcast(rt))
        .select(col("b"),
          round(log(((col("ct") + lit(1.0)) / (col("tt") + lit(256.0)))
            / ((col("cr") + lit(1.0)) / (col("rt") + lit(256.0)))) * 1e6)
            .cast("long").as("lr_u"))
      tok.join(broadcast(model), Seq("b"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("lr_u").as("su"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("su") / (col("n_tokens") * lit(1e6)), 4).as("dsir_score"),
          (col("su") > 0).as("selected"))
        .orderBy("doc_id")
    }),

    // Greedy max-coverage data selection (submodular facility-location
    // family — the "pick the k docs that together cover the most
    // vocabulary" coreset selector): k=5 rounds, each picking the doc
    // with the largest NEW-token gain against the accumulated covered
    // set, ties by doc_id. The covered set is VOCABULARY-bounded (a
    // production selector hashes features to bound it), so carrying it
    // driver-side between rounds is the sanctioned bounded-statistic
    // posture (BPE-argmax precedent); each round's gain scan stays
    // distributed. Integer gains → the greedy sequence is exactly
    // reproducible, and the oracle unrolls the same 5 rounds.
    "q_select_coverage" -> ((s, d) => {
      val k = 5
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("tk"))
        .localCheckpoint(eager = true) // scanned once per round
      var covered = Set.empty[String]
      var picked = Vector.empty[(Int, Long, Int, Int)]
      for (r <- 1 to k) {
        val covArr =
          if (covered.isEmpty) array().cast("array<string>")
          else array(covered.toSeq.sorted.map(lit): _*)
        val cand = docs
          .filter(if (picked.isEmpty) lit(true)
            else !col("doc_id").isin(picked.map(_._2): _*))
          .withColumn("gain", size(array_except(col("tk"), covArr)))
          .orderBy(col("gain").desc, col("doc_id"))
          .limit(1).head() // bounded 1-row driver argmax per round
        covered ++= cand.getSeq[String](1)
        picked :+= ((r, cand.getLong(0), cand.getInt(2), covered.size))
      }
      import s.implicits._
      picked.toDF("rank", "doc_id", "gain", "covered_total")
    }),

    // In-engine logistic-regression training (the quality-classifier
    // fit a curation pipeline runs — CCNet/DSIR both gate on one):
    // 2 full-batch gradient steps on (length, token-count) features
    // predicting the target slice (lang='en'), then the training
    // accuracy. The distributed gradient is the classic order-
    // dependent double sum, so each row's contribution is snapped to
    // an exact integer µ-grid BEFORE the sum (q_cusum_drift recipe) —
    // the weight trajectory is bit-identical across engines and
    // cluster sizes, which is what makes this oracled rather than
    // "approximately converged". The per-step weights are 3 bounded
    // driver scalars (BPE-argmax posture); everything row-grain stays
    // distributed.
    "q_logreg_quality" -> ((s, d) => {
      val feat = Tables.documents(s, d).select(
          col("doc_id"),
          (col("n_chars") / lit(300.0)).as("x1"),
          (size(split(col("text"), " ")) / lit(50.0)).as("x2"),
          when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
        .localCheckpoint(eager = true) // reused across steps
      val n = feat.count() // bounded scalar: corpus row count
      def margin(w: (Double, Double, Double)) =
        lit(w._1) * col("x1") + lit(w._2) * col("x2") + lit(w._3)
      def p(w: (Double, Double, Double)) =
        lit(1.0) / (lit(1.0) + exp(-margin(w)))
      var w = (0.0, 0.0, 0.0)
      for (_ <- 1 to 2) {
        def g(x: org.apache.spark.sql.Column) =
          sum(round(((p(w) - col("y")) * x) * lit(1e6)).cast("long"))
        val r = feat.agg(g(col("x1")).as("g1"), g(col("x2")).as("g2"),
          g(lit(1.0)).as("g3")).head() // bounded: 3 longs
        w = (w._1 - 0.1 * ((r.getLong(0) / 1e6) / n),
          w._2 - 0.1 * ((r.getLong(1) / 1e6) / n),
          w._3 - 0.1 * ((r.getLong(2) / 1e6) / n))
      }
      feat.agg(
          count(lit(1)).as("n"),
          round(lit(w._1), 6).as("w1"),
          round(lit(w._2), 6).as("w2"),
          round(lit(w._3), 6).as("w3"),
          round(sum(when((margin(w) > 0) === (col("y") === 1.0), 1L)
            .otherwise(0L)).cast("double") / n.toDouble, 6).as("accuracy"))
    }),

    // Curriculum sharding: assign every document a difficulty tier
    // (exact length quartiles via the distributed ExactQuantiles plan
    // — NO global ntile window, which would funnel the corpus through
    // one partition) and a deterministic md5 shard within the tier,
    // then report the (tier, shard) manifest a curriculum-ordered
    // training run consumes. Hash sharding instead of row_number means
    // the assignment is embarrassingly parallel and stable under
    // re-partitioning — the property a resumable data loader needs.
    "q_curriculum_shards" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        .withColumn("g", lit(1))
      val cuts = graft.operators.ExactQuantiles
        .byGroup(docs, Seq("g"), "n_chars", Seq(0.25, 0.5, 0.75))
        .groupBy("g").agg(
          max(when(col("q") === 0.25, col("v"))).as("q1"),
          max(when(col("q") === 0.5, col("v"))).as("q2"),
          max(when(col("q") === 0.75, col("v"))).as("q3"))
      docs.join(broadcast(cuts), "g")
        .withColumn("tier", when(col("n_chars") <= col("q1"), 1)
          .when(col("n_chars") <= col("q2"), 2)
          .when(col("n_chars") <= col("q3"), 3).otherwise(4))
        .withColumn("shard",
          conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("int") % 8)
        .groupBy("tier", "shard")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars").cast("double")), 4).as("avg_chars"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("tier", "shard")
    }),

    // Gopher-style quality rule suite (Rae et al. 2021 §A1.1 — the
    // standard pre-training hygiene gate). Per document: word count,
    // mean word length, distinct-word ratio (1 − Gopher's duplicated-
    // content fraction), top-bigram occupancy (its repetition signal),
    // and stopword presence, each with a boolean verdict. Bounds are
    // Gopher's canonical ones where this corpus exercises them
    // (3 ≤ mwl ≤ 10) and re-calibrated where the synthetic text is
    // outside Gopher's regime (word floor 40 vs 50, top-bigram cap
    // 0.08 vs 0.20 — measured p90 on this corpus; the thresholds are
    // data, not architecture). Scale shape: the only shuffle is the
    // doc-grain bigram rollup (explode → partial-agg count → per-doc
    // max/sum), everything else is a codegen'd projection; every
    // ratio is an exact-integer division, so the flags cannot flap
    // cross-engine at the boundary.
    "q_gopher_rules" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .withColumn("l", split(col("text"), " "))
        .withColumn("n_words", size(col("l")))
      val topBg = base.filter(col("n_words") >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(l) - 2)," +
            " i -> concat(element_at(l, i + 1), ' ', element_at(l, i + 2)))"))
          .as("bgm"))
        .groupBy("doc_id", "bgm").agg(count(lit(1)).as("nb"))
        .groupBy("doc_id")
        .agg((max("nb").cast("double") / sum("nb")).as("top_bg"))
      base.join(topBg, Seq("doc_id"), "left")
        .withColumn("mwl", expr(
          "aggregate(l, 0L, (acc, x) -> acc + length(x))").cast("double")
          / col("n_words"))
        .withColumn("dr",
          size(array_distinct(col("l"))).cast("double") / col("n_words"))
        .withColumn("tb", coalesce(col("top_bg"), lit(0.0)))
        .withColumn("has_stopword", arrays_overlap(col("l"),
          array(lit("the"), lit("a"), lit("of"), lit("and"), lit("in"))))
        .select(col("doc_id"), col("n_words"),
          round(col("mwl"), 6).as("mean_word_len"),
          round(col("dr"), 6).as("distinct_ratio"),
          round(col("tb"), 6).as("top_bigram_frac"),
          col("has_stopword"),
          (col("n_words") >= 40).as("ok_words"),
          (col("mwl") >= 3.0 && col("mwl") <= 10.0).as("ok_mwl"),
          (col("dr") >= 0.4).as("ok_dup"),
          (col("tb") <= 0.08).as("ok_rep"),
          (col("n_words") >= 40 && col("mwl") >= 3.0 && col("mwl") <= 10.0
            && col("dr") >= 0.4 && col("tb") <= 0.08
            && col("has_stopword")).as("pass"))
        .orderBy("doc_id")
    }),

    // RAKE keyword extraction (Rose et al. 2010): phrases are maximal
    // stopword-free token runs (islands under a per-doc stopword
    // cumsum), word score = degree/frequency where degree sums the
    // containing phrase's length per occurrence, phrase score = Σ of
    // its words' scores. Word scores are exact-integer ratios snapped
    // to the µ-grid BEFORE the phrase sum (order-free), so the top-10
    // ranking is engine-stable. Shapes: one posexplode + windows at
    // doc grain, vocab-bounded score table, phrase-text rollup.
    "q_keyword_rake" -> ((s, d) => {
      val stop = Seq("the", "a", "of", "and", "in")
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " "))
          .as(Seq("pos", "w")))
        .withColumn("is_stop", col("w").isInCollection(stop))
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Long.MinValue, 0)
      val phrased = toks
        .withColumn("pid", sum(col("is_stop").cast("long")).over(wDoc))
        .filter(!col("is_stop"))
        .localCheckpoint(eager = true) // feeds lengths, scores, texts
      val plen = phrased.groupBy("doc_id", "pid")
        .agg(count(lit(1)).as("plen"))
      val occur = phrased.join(plen, Seq("doc_id", "pid"))
      val scores = occur.groupBy("w")
        .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
        .withColumn("score_u",
          round(col("deg") * lit(1e6) / col("freq")).cast("long"))
      // order the phrase tokens by position explicitly — collect_list
      // order is partial-agg-dependent, array_sort on (pos, w) is not
      val phraseText = occur
        .groupBy("doc_id", "pid")
        .agg(expr("concat_ws(' ', transform(array_sort(" +
          "collect_list(struct(pos, w))), x -> x.w))").as("ptext"))
      occur.join(broadcast(scores.select("w", "score_u")), "w")
        .groupBy("doc_id", "pid")
        .agg(sum("score_u").as("ps_u"), count(lit(1)).as("n_words"))
        .join(phraseText, Seq("doc_id", "pid"))
        .groupBy("ptext")
        .agg(count(lit(1)).as("n_occur"), max("n_words").as("n_words"),
          max("ps_u").as("ps_u"))
        .select(col("ptext").as("phrase"), col("n_words"), col("n_occur"),
          round(col("ps_u") / lit(1e6), 4).as("score"))
        .orderBy(col("score").desc, col("phrase")).limit(10)
    }),

    // word2vec-style negative-sampling audit (Mikolov et al.: draw
    // negatives ∝ unigram^0.75): the smoothed-unigram cumulative table
    // (window cumsum over the bounded vocab in term order), 1000
    // deterministic md5-grid draws mapped onto it by an interval join,
    // and the realized-vs-expected sampling share per term — the
    // check a pretraining pipeline runs on its sampler. The interval
    // probe is the band-join shape; at corpus-vocab scale the
    // RewriteBandJoin rule (plans/Rules.scala) turns it into bucketed
    // equi-join, here the vocab side is broadcast-bounded.
    "q_negative_sampling" -> ((s, d) => {
      val D = 1000
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("term").rowsBetween(Long.MinValue, 0)
      val vocab = graft.operators.EdgeGraph.termFreq(s, d)
        .groupBy("term").agg(sum("tf_raw").as("n"))
        .withColumn("wt", pow(col("n").cast("double"), lit(0.75)))
        .withColumn("cum", sum("wt").over(w))
        .withColumn("lo", col("cum") - col("wt"))
        .localCheckpoint(eager = true) // vocab-bounded; feeds total + probe
      val tot = vocab.agg(max("cum").as("tw"))
      val draws = s.range(1, D + 1)
        .select(col("id").as("i"))
        .crossJoin(broadcast(tot))
        .withColumn("u",
          (conv(substring(md5(col("i").cast("string")), 1, 4), 16, 10)
            .cast("double") + 0.5) / 65536.0 * col("tw"))
      val hits = draws.join(broadcast(vocab),
          col("u") > col("lo") && col("u") <= col("cum"))
        .groupBy("term").agg(count(lit(1)).as("n_draws"))
      vocab.crossJoin(broadcast(tot))
        .join(hits, Seq("term"), "left").na.fill(0L, Seq("n_draws"))
        .select(col("term"), col("n").as("corpus_n"),
          round(col("wt") / col("tw"), 6).as("expected_share"),
          col("n_draws"),
          round(col("n_draws") / lit(D.toDouble), 6).as("realized_share"))
        .orderBy("term")
    }),

    // T5-style span corruption planner (Raffel et al.): deterministic
    // mask spans — n/20 spans of mean length 3 for the canonical 15%
    // mask ratio — with md5-seeded starts, overlapping spans merged
    // into sentinel islands exactly as the objective concatenates
    // them. Reports per doc the planned corruption profile (span
    // count, masked-token count, realized ratio, sentinel count). One
    // generator explode + one per-doc window; everything is exact
    // integer arithmetic on the md5 grid, so the plan is reproducible
    // across engines and cluster sizes — the property a resumable
    // pretraining data loader needs.
    "q_span_corruption" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
        .withColumn("n_spans", expr("greatest(1, (n + 10) div 20)"))
      val pos = base
        .select(col("doc_id"), col("n"), col("n_spans"),
          explode(expr("sequence(1, n_spans)")).as("k"))
        .withColumn("st",
          conv(substring(md5(concat_ws("|", col("doc_id"), col("k"))), 1, 4),
            16, 10).cast("int") % col("n"))
        .select(col("doc_id"), col("n"), col("n_spans"),
          explode(expr("sequence(st, least(st + 2, n - 1))")).as("p"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("p")
      pos.withColumn("prev", lag("p", 1).over(w))
        .withColumn("head",
          (col("prev").isNull || col("p") =!= col("prev") + 1).cast("long"))
        .groupBy("doc_id", "n", "n_spans")
        .agg(count(lit(1)).as("n_masked"), sum("head").as("n_sentinels"))
        .select(col("doc_id"), col("n").as("n_tokens"),
          col("n_spans").cast("long").as("n_spans"), col("n_masked"),
          round(col("n_masked") / col("n"), 6).as("mask_ratio"),
          col("n_sentinels"))
        .orderBy("doc_id")
    }),

    // ROUGE-L scoring of candidate/reference pairs (Lin 2004) via the
    // codegen'd `lcs_len` expression (expr/LcsLen.scala — O(n·m) DP,
    // rolling buffer, UTF8 byte equality): adjacent doc pairs stand in
    // for (candidate, reference); precision/recall/F derive from the
    // LCS and the exact-integer lengths. One equi-join on the pair id
    // then a pure codegen'd projection — the eval harness shape a
    // summarization pipeline scores millions of pairs with. OMIT
    // (custom expression DuckDB lacks); pinned in R7OpsSpec against a
    // pure-Scala DP reference.
    "q_rouge_l" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val cand = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("a_id"), col("toks").as("a_toks"))
      val ref = docs.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") - 1).as("a_id"), col("toks").as("b_toks"))
      cand.join(ref, "a_id")
        .select(col("a_id"), (col("a_id") + 1).as("b_id"),
          size(col("a_toks")).as("len_a"), size(col("b_toks")).as("len_b"),
          expr("lcs_len(a_toks, b_toks)").as("lcs"))
        .withColumn("rouge_p", round(col("lcs") / col("len_a"), 6))
        .withColumn("rouge_r", round(col("lcs") / col("len_b"), 6))
        .withColumn("rouge_f", round(when(col("lcs") > 0,
          lit(2.0) * col("lcs") * col("lcs")
            / (col("len_a") * col("lcs") + col("len_b") * col("lcs")))
          .otherwise(lit(0.0)), 6))
        .orderBy("a_id")
    }),

    // Corpus-drift monitor: Jensen-Shannon divergence between each
    // source's token distribution and the corpus distribution — the
    // "which ingest feed changed" alarm a production pipeline runs per
    // batch. p, q are exact-count ratios; each KL term is µ-snapped to
    // a 1e-12 grid long BEFORE the vocabulary sum (the cusum lesson —
    // vocab-order partial aggregation must not move the total), one
    // final division at output. Scale shape: token explode → (source,
    // token) partial agg → vocab-grain join against the broadcast
    // corpus distribution; the per-source rollup is |vocab|-bounded.
    "q_drift_jsd" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .localCheckpoint(eager = true) // feeds per-source and corpus counts
      val bySrc = tok.groupBy("source", "w").agg(count(lit(1)).as("ns"))
      val srcTot = bySrc.groupBy("source").agg(sum("ns").as("ts"))
      val corpus = tok.groupBy("w").agg(count(lit(1)).as("nc"))
      val corpTot = corpus.agg(sum("nc").as("tc"))
      val terms = bySrc.join(broadcast(srcTot), "source")
        .join(corpus, "w").crossJoin(broadcast(corpTot))
        .withColumn("p", col("ns") / col("ts"))
        .withColumn("q", col("nc") / col("tc"))
        .withColumn("m", (col("p") + col("q")) / 2)
        // vocab terms with p=0 contribute only on the q side; every
        // (source, w) row here has p>0, so add q-only mass separately
        .withColumn("t_u",
          round((col("p") * log(col("p") / col("m"))
            + col("q") * log(col("q") / col("m"))) * lit(1e12)).cast("long"))
      // tokens absent from a source: p=0 ⇒ m=q/2 ⇒ term = q·ln2
      val seen = terms.groupBy("source")
        .agg(sum("t_u").as("seen_u"), sum(col("nc")).as("nc_seen"))
      seen.crossJoin(broadcast(corpTot))
        .withColumn("absent_u",
          round((lit(1.0) - col("nc_seen") / col("tc")) * log(lit(2.0))
            * lit(1e12)).cast("long"))
        .select(col("source"),
          round((col("seen_u") + col("absent_u")) / lit(2e12), 6).as("jsd"))
        .orderBy("source")
    }),

    // Source-vocabulary overlap matrix: pairwise Jaccard of the
    // distinct-token sets of every source pair — the redundancy map a
    // corpus-composition pass reads before mixing feeds. Inverted-
    // index shape: (token → sources) join produces only co-occurring
    // pairs; set sizes join back broadcast (|sources| is bounded).
    "q_source_overlap" -> ((s, d) => {
      val vocab = Tables.documents(s, d)
        .select(col("source"), explode(array_distinct(split(col("text"), " ")))
          .as("w"))
        .distinct()
        .localCheckpoint(eager = true) // feeds sizes + the pair join
      val sizes = vocab.groupBy("source").agg(count(lit(1)).as("nv"))
      val pairs = vocab.join(
          vocab.select(col("source").as("source_b"), col("w")), "w")
        .filter(col("source") < col("source_b"))
        .groupBy("source", "source_b").agg(count(lit(1)).as("inter"))
      pairs
        .join(broadcast(sizes), "source")
        .join(broadcast(sizes.select(col("source").as("source_b"),
          col("nv").as("nv_b"))), "source_b")
        .select(col("source").as("source_a"), col("source_b"),
          col("inter"),
          round(col("inter") / (col("nv") + col("nv_b") - col("inter")), 6)
            .as("jaccard"))
        .orderBy("source_a", "source_b")
    }),

    // Moving-average type-token ratio (Covington & McFall 2010 —
    // MATTR): lexical diversity without TTR's document-length bias.
    // Windows of 25 tokens at stride 5 (stride amortizes cost; MATTR's
    // estimate is stride-insensitive for stationary text); each
    // window's TTR is distinct/25, MATTR their mean; docs shorter than
    // one window fall back to whole-doc TTR. One generator projection
    // per document — zero shuffles before the final order: the window
    // TTRs are computed INSIDE the row via sequence → slice →
    // array_distinct, and each is an exact-integer division, so the
    // left-to-right fold that averages them is bit-identical in any
    // engine. At 100 TB this is a pure map stage.
    "q_ttr_mattr" -> ((s, d) => {
      val W = 25; val S = 5
      Tables.documents(s, d)
        .withColumn("l", split(col("text"), " "))
        .withColumn("n_words", size(col("l")))
        .withColumn("ttrs", when(col("n_words") < W,
            array(size(array_distinct(col("l"))).cast("double")
              / col("n_words")))
          .otherwise(expr(
            s"transform(sequence(0, size(l) - $W, $S)," +
              s" st -> cast(size(array_distinct(slice(l, st + 1, $W))) as double) / $W.0D)")))
        .select(col("doc_id"), col("n_words"),
          round(size(array_distinct(col("l"))).cast("double")
            / col("n_words"), 6).as("ttr"),
          round(expr("aggregate(ttrs, 0.0D, (acc, x) -> acc + x)")
            / size(col("ttrs")), 6).as("mattr"),
          size(col("ttrs")).as("n_windows"))
        .orderBy("doc_id")
    }),

    // Code-likeness detection (the filter a pretraining mix runs to
    // route code-heavy docs to their own pipeline): per-doc density of
    // a fixed SQL/code lexicon over whitespace tokens, flag at ≥ 25%,
    // rolled up per source. Density rides the exact µ-grid integer
    // division; the only corpus-sized work is one projection + one
    // partial agg to the bounded source grid.
    "q_code_detect" -> ((s, d) => {
      val kw = Seq("select", "join", "table", "index", "query", "scan",
        "filter", "merge", "sort", "group", "order", "key")
      val kwArr = kw.map(w => s"'$w'").mkString("array(", ", ", ")")
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tok", size(col("toks")))
        .withColumn("n_kw", size(expr(
          s"filter(toks, t -> array_contains($kwArr, t))")))
        .withColumn("dens_u", expr("(n_kw * 1000000L) div n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("dens_u").as("sd_u"),
          sum(when(col("dens_u") >= 250000L, 1L).otherwise(0L))
            .as("n_code_like"))
        .select(col("source"), col("n_docs"),
          round(expr("sd_u div n_docs") / 1e6, 6).as("mean_kw_density"),
          round(col("n_code_like").cast("double") / col("n_docs"), 6)
            .as("code_share"))
        .orderBy("source")
    }),

    // Tokenizer fertility audit (subword tokens per word, by
    // language) — the compression readout that decides whether a
    // tokenizer punishes a language: Σ ceil(len/4) subwords over
    // Σ whitespace words per lang, plus mean word length. All three
    // ratios are single divisions of exact corpus-level longs, so the
    // per-lang rows are bit-identical cross-engine. One projection +
    // one bounded partial agg.
    "q_tokenizer_fertility" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("lang"),
          size(col("toks")).cast("long").as("nw"),
          expr("aggregate(transform(toks, w -> (length(w) + 3) div 4)," +
            " 0L, (a, x) -> a + x)").as("nsw"),
          expr("aggregate(transform(toks, w -> CAST(length(w) AS LONG))," +
            " 0L, (a, x) -> a + x)").as("nch"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("nw").as("n_words"),
          sum("nsw").as("n_subwords"), sum("nch").as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_subwords"),
          round(col("n_subwords").cast("double") / col("n_words"), 6)
            .as("fertility"),
          round(col("n_chars").cast("double") / col("n_words"), 4)
            .as("mean_word_len"))
        .orderBy("lang"))
  )

  private val bucketSql =
    "CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 10000 AS INT)"

  val oracle: Map[String, String] = Map(
    "q_importance_resample" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    CAST(CAST('0x' || substring(md5(w), 1, 4) AS INT) % 256 AS INT) AS b
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE length(w) > 0),
        |tgt AS (SELECT b, COUNT(*) AS ct FROM tok WHERE lang = 'en' GROUP BY 1),
        |raw AS (SELECT b, COUNT(*) AS cr FROM tok GROUP BY 1),
        |tt AS (SELECT SUM(ct) AS tt FROM tgt),
        |rt AS (SELECT SUM(cr) AS rt FROM raw),
        |model AS (
        |  SELECT raw.b,
        |    CAST(ROUND(ln(((COALESCE(tgt.ct, 0) + 1.0) / (tt.tt + 256.0))
        |      / ((raw.cr + 1.0) / (rt.rt + 256.0))) * 1000000) AS BIGINT) AS lr_u
        |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tt CROSS JOIN rt),
        |sc AS (
        |  SELECT tok.doc_id, COUNT(*) AS n_tokens, SUM(model.lr_u) AS su
        |  FROM tok JOIN model ON tok.b = model.b GROUP BY 1)
        |SELECT doc_id, n_tokens,
        |  -- + 0.0 canonicalizes IEEE -0.0 (DuckDB ROUND preserves the
        |  -- sign of a tiny negative; Spark's BigDecimal round never
        |  -- emits -0.0 — r11, found by the sf0.1 sweep)
        |  ROUND(su / (n_tokens * 1000000.0), 4) + 0.0 AS dsir_score,
        |  su > 0 AS selected
        |FROM sc ORDER BY doc_id""".stripMargin,

    "q_select_coverage" -> {
      // unrolled 5-round greedy: pN = round-N pick, cN = covered set
      val sb = new StringBuilder
      sb ++= "WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk FROM documents),\n"
      sb ++= "p1 AS (SELECT doc_id, tk, CAST(len(tk) AS INT) AS gain FROM d ORDER BY gain DESC, doc_id LIMIT 1),\n"
      sb ++= "c1 AS (SELECT tk AS cov FROM p1)"
      for (r <- 2 to 5) {
        val excl = (1 until r).map(i => s"SELECT doc_id FROM p$i").mkString(" UNION ALL ")
        sb ++= s",\np$r AS (SELECT doc_id, tk, CAST(len(list_filter(tk, t -> NOT list_contains(c${r - 1}.cov, t))) AS INT) AS gain" +
          s" FROM d CROSS JOIN c${r - 1} WHERE doc_id NOT IN ($excl) ORDER BY gain DESC, doc_id LIMIT 1)"
        sb ++= s",\nc$r AS (SELECT list_distinct(list_concat(c${r - 1}.cov, p$r.tk)) AS cov FROM c${r - 1} CROSS JOIN p$r)"
      }
      sb ++= "\n" + (1 to 5).map(r =>
        s"SELECT CAST($r AS INT) AS rank, p$r.doc_id, p$r.gain, " +
        s"CAST(len(c$r.cov) AS INT) AS covered_total FROM p$r CROSS JOIN c$r")
        .mkString("\nUNION ALL\n")
      sb ++= "\nORDER BY rank"
      sb.toString
    },

    "q_logreg_quality" ->
      """WITH f AS (
        |  SELECT doc_id, n_chars / 300.0 AS x1,
        |    len(string_split(text, ' ')) / 50.0 AS x2,
        |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        |  FROM documents),
        |nn AS (SELECT COUNT(*) AS n FROM f),
        |g1 AS (SELECT
        |    SUM(CAST(ROUND((((1.0 / (1.0 + exp(-(0.0 * x1 + 0.0 * x2 + 0.0)))) - y) * x1) * 1000000) AS BIGINT)) AS ga,
        |    SUM(CAST(ROUND((((1.0 / (1.0 + exp(-(0.0 * x1 + 0.0 * x2 + 0.0)))) - y) * x2) * 1000000) AS BIGINT)) AS gb,
        |    SUM(CAST(ROUND((((1.0 / (1.0 + exp(-(0.0 * x1 + 0.0 * x2 + 0.0)))) - y) * 1.0) * 1000000) AS BIGINT)) AS gc
        |  FROM f),
        |w1 AS (SELECT 0.0 - 0.1 * ((ga / 1000000.0) / n) AS wa,
        |         0.0 - 0.1 * ((gb / 1000000.0) / n) AS wb,
        |         0.0 - 0.1 * ((gc / 1000000.0) / n) AS wc
        |       FROM g1 CROSS JOIN nn),
        |g2 AS (SELECT
        |    SUM(CAST(ROUND((((1.0 / (1.0 + exp(-(wa * x1 + wb * x2 + wc)))) - y) * x1) * 1000000) AS BIGINT)) AS ga,
        |    SUM(CAST(ROUND((((1.0 / (1.0 + exp(-(wa * x1 + wb * x2 + wc)))) - y) * x2) * 1000000) AS BIGINT)) AS gb,
        |    SUM(CAST(ROUND((((1.0 / (1.0 + exp(-(wa * x1 + wb * x2 + wc)))) - y) * 1.0) * 1000000) AS BIGINT)) AS gc
        |  FROM f CROSS JOIN w1),
        |w2 AS (SELECT wa - 0.1 * ((ga / 1000000.0) / n) AS wa,
        |         wb - 0.1 * ((gb / 1000000.0) / n) AS wb,
        |         wc - 0.1 * ((gc / 1000000.0) / n) AS wc
        |       FROM g2 CROSS JOIN w1 CROSS JOIN nn)
        |SELECT nn.n AS n, ROUND(w2.wa, 6) AS w1, ROUND(w2.wb, 6) AS w2,
        |  ROUND(w2.wc, 6) AS w3,
        |  ROUND(CAST(SUM(CASE WHEN (w2.wa * x1 + w2.wb * x2 + w2.wc > 0) = (y = 1.0)
        |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(nn.n AS DOUBLE), 6) AS accuracy
        |FROM f CROSS JOIN w2 CROSS JOIN nn
        |GROUP BY nn.n, w2.wa, w2.wb, w2.wc""".stripMargin,

    "q_curriculum_shards" ->
      """WITH d AS (SELECT doc_id, n_chars FROM documents),
        |c AS (SELECT quantile_cont(n_chars, 0.25) AS q1,
        |        quantile_cont(n_chars, 0.5) AS q2,
        |        quantile_cont(n_chars, 0.75) AS q3 FROM d),
        |t AS (SELECT doc_id, n_chars,
        |        CASE WHEN n_chars <= q1 THEN 1 WHEN n_chars <= q2 THEN 2
        |             WHEN n_chars <= q3 THEN 3 ELSE 4 END AS tier,
        |        CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
        |          AS INT) % 8 AS INT) AS shard
        |      FROM d CROSS JOIN c)
        |SELECT tier, shard, COUNT(*) AS n_docs,
        |  ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM t GROUP BY 1, 2 ORDER BY tier, shard""".stripMargin,

    "q_hapax_ratio" ->
      """WITH tf AS (
        |  SELECT doc_id, lang, term, COUNT(*) AS tf_raw
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2, 3),
        |cf AS (SELECT lang, term, SUM(tf_raw) AS cf FROM tf GROUP BY 1, 2)
        |SELECT tf.doc_id, COUNT(*) AS n_terms,
        |  COUNT(*) FILTER (WHERE cf.cf = 1) AS n_hapax,
        |  ROUND(COUNT(*) FILTER (WHERE cf.cf = 1) * 1.0 / COUNT(*), 6)
        |    AS hapax_ratio
        |FROM tf JOIN cf ON tf.lang = cf.lang AND tf.term = cf.term
        |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin,

    "q_feature_hash" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(CAST('0x' || substring(md5(feat), 1, 4) AS INT) % 64 AS INT) AS idx
        |  FROM (SELECT doc_id,
        |          unnest(['lang=' || lang, 'src=' || source]) AS feat
        |        FROM documents))
        |SELECT doc_id, array_to_string(list_sort(list(idx)), ',') AS fvec
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_zipf_fit" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
        |freq AS (
        |  SELECT lang, term, COUNT(*) AS freq FROM toks GROUP BY lang, term),
        |r AS (
        |  SELECT lang, freq,
        |    row_number() OVER (PARTITION BY lang ORDER BY freq DESC, term) AS rank
        |  FROM freq)
        |SELECT lang, COUNT(*) AS n_terms,
        |  ROUND(regr_slope(ln(freq), ln(rank)), 4) AS zipf_slope,
        |  ROUND(regr_r2(ln(freq), ln(rank)), 4) AS fit_r2
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    // independent parse: plain regexes against the same synthesized
    // URLs check Spark's parse_url-based derivation
    "q_url_extract" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' || source || '.Example.COM:443/' || lang || '/' ||
        |      CAST(doc_id % 50 AS VARCHAR) || '/page?sec=' ||
        |      CAST(doc_id % 7 AS VARCHAR) ||
        |      '&utm_source=feed&ref=' || source AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '://([^/:?#]+)', 1)) AS host,
        |    regexp_extract(url, '://[^/]+(/[^?#]*)', 1) AS path,
        |    regexp_replace(regexp_extract(url, '\?(.*)$', 1),
        |      '&(utm_[a-z]+|ref)=[^&]*', '', 'g') AS q
        |  FROM u)
        |SELECT host, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT path) AS n_paths,
        |  COUNT(DISTINCT host || path || '?' || q) AS n_canon
        |FROM p GROUP BY host ORDER BY host""".stripMargin,

    "q_contamination_ngram" ->
      s"""WITH l AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 12),
         |    i -> array_to_string(l[i:i+12], ' '))) AS g
         |  FROM l WHERE len(l) >= 13),
         |side AS (SELECT doc_id, $bucketSql AS b FROM documents),
         |train_g AS (
         |  SELECT DISTINCT g FROM g JOIN side USING (doc_id) WHERE b < 8000),
         |test_g AS (
         |  SELECT DISTINCT g.doc_id, g.g FROM g JOIN side USING (doc_id) WHERE b >= 9000),
         |agg AS (
         |  SELECT t.doc_id, COUNT(*) AS n_grams,
         |    CAST(SUM(CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit
         |  FROM test_g t LEFT JOIN train_g tr ON t.g = tr.g
         |  GROUP BY 1)
         |SELECT doc_id, n_grams, n_hit, ROUND(n_hit / n_grams, 4) AS ratio,
         |  n_hit > 0 AS contaminated
         |FROM agg ORDER BY doc_id""".stripMargin,

    "q_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com or +1-555-'
        |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(t, '\+1-555-[0-9]{4}')) AS INT) AS n_phone,
        |  md5(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM p ORDER BY doc_id""".stripMargin,

    "q_dedup_paragraph" ->
      """WITH c AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(0, (len(l) - 1) // 8),
        |    i -> array_to_string(l[i*8+1:i*8+8], ' '))) AS chunk
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))
        |SELECT md5(chunk) AS h, COUNT(DISTINCT doc_id) AS n_docs,
        |  MIN(doc_id) AS keep_doc
        |FROM c GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2 ORDER BY h""".stripMargin,

    "q_domain_mix" ->
      s"""SELECT source, COUNT(*) AS n_total,
         |  CAST(SUM(CASE WHEN $bucketSql < CAST(ROUND(rate * 10000, 0) AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  MAX(rate) AS rate
         |FROM (
         |  SELECT doc_id, source,
         |    CAST(CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 0.8
         |              WHEN source IN ('src5','src6','src7','src8','src9') THEN 0.5
         |              ELSE 0.2 END AS DOUBLE) AS rate
         |  FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_cooccur_pmi" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |nl AS (SELECT lang, COUNT(*) AS nl FROM documents GROUP BY 1),
        |tc AS (SELECT lang, t, COUNT(*) AS n_t FROM tok GROUP BY 1, 2),
        |pr AS (
        |  SELECT a.lang, a.t AS ta, b.t AS tb, COUNT(*) AS n_ab
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.t < b.t
        |  GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT pr.lang, ta, tb, n_ab,
        |    ROUND(ln(n_ab * nl.nl / (ca.n_t * cb.n_t)), 6) AS pmi
        |  FROM pr
        |  JOIN nl ON pr.lang = nl.lang
        |  JOIN tc ca ON pr.lang = ca.lang AND pr.ta = ca.t
        |  JOIN tc cb ON pr.lang = cb.lang AND pr.tb = cb.t)
        |SELECT lang, ta, tb, n_ab, pmi, rn FROM (
        |  SELECT lang, ta, tb, n_ab, pmi,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY pmi DESC, ta, tb) AS INT) AS rn
        |  FROM scored)
        |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,

    "q_quality_zscore" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS INT) AS len
        |  FROM documents),
        |st AS (
        |  SELECT lang, AVG(len * 1.0) AS mu, stddev_samp(len * 1.0) AS sd
        |  FROM d GROUP BY lang)
        |SELECT doc_id, lang, len,
        |  ROUND((len - mu) / sd, 4) AS z,
        |  ABS(len - mu) > 2.0 * sd AS outlier
        |FROM d JOIN st USING (lang) ORDER BY doc_id""".stripMargin,

    "q_rag_chunk" ->
      """WITH l AS (
        |  SELECT doc_id, string_split(text, ' ') AS l,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, l, n,
        |    unnest(generate_series(0,
        |      CASE WHEN n <= 32 THEN 0 ELSE (n - 32 + 23) // 24 END)) AS k
        |  FROM l)
        |SELECT doc_id, CAST(k AS INT) AS chunk_idx,
        |  CAST(k * 24 AS INT) AS start_tok,
        |  CAST(LEAST(32, n - k * 24) AS INT) AS chunk_len,
        |  md5(array_to_string(l[k*24+1 : k*24+32], ' ')) AS chunk_md5
        |FROM k ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_chunk_contain" ->
      """WITH ch AS (
        |  SELECT DISTINCT doc_id, chunk FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(0, (len(l) - 1) // 8),
        |      i -> array_to_string(l[i*8+1:i*8+8], ' '))) AS chunk
        |    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))),
        |sz AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id),
        |shared AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
        |  FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, sz.n_chunks
        |FROM shared JOIN sz ON shared.a_id = sz.doc_id
        |WHERE n_shared = n_chunks AND n_chunks >= 2
        |ORDER BY a_id, b_id""".stripMargin,

    "q_bigram_lm" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |b0 AS (
        |  SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(l) - 1),
        |    i -> l[i] || ' ' || l[i + 1])) AS g
        |  FROM d),
        |bb AS (
        |  SELECT doc_id, lang,
        |    string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2
        |  FROM b0),
        |bc AS (SELECT lang, w1, w2, COUNT(*) AS n12 FROM bb GROUP BY 1, 2, 3),
        |uc AS (SELECT lang, w1, COUNT(*) AS n1 FROM bb GROUP BY 1, 2)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(AVG(ln(n12 * 1.0 / n1)), 6) AS avg_logprob
        |FROM bb
        |JOIN bc USING (lang, w1, w2)
        |JOIN uc USING (lang, w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ppl_bucket" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |b0 AS (
        |  SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(l) - 1),
        |    i -> l[i] || ' ' || l[i + 1])) AS g
        |  FROM d),
        |bb AS (
        |  SELECT doc_id, lang,
        |    string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2
        |  FROM b0),
        |bc AS (SELECT lang, w1, w2, COUNT(*) AS n12 FROM bb GROUP BY 1, 2, 3),
        |uc AS (SELECT lang, w1, COUNT(*) AS n1 FROM bb GROUP BY 1, 2),
        |sc AS (
        |  SELECT doc_id, lang, ROUND(exp(-AVG(ln(n12 * 1.0 / n1))), 6) AS ppl
        |  FROM bb JOIN bc USING (lang, w1, w2) JOIN uc USING (lang, w1)
        |  GROUP BY 1, 2),
        |cuts AS (
        |  SELECT lang, ROUND(quantile_cont(ppl, 1.0/3), 6) AS t1,
        |    ROUND(quantile_cont(ppl, 2.0/3), 6) AS t2
        |  FROM sc GROUP BY 1)
        |SELECT doc_id, lang, ppl,
        |  CASE WHEN ppl <= t1 THEN 'head' WHEN ppl <= t2 THEN 'middle'
        |    ELSE 'tail' END AS bucket
        |FROM sc JOIN cuts USING (lang)
        |ORDER BY doc_id""".stripMargin,

    "q_vocab_prune" ->
      """WITH c AS (
        |  SELECT lang, t, COUNT(*) AS n FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY 1, 2)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_types,
        |  CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN n >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_size,
        |  CAST(SUM(CASE WHEN n < 100 THEN n ELSE 0 END) AS BIGINT) AS oov_tokens,
        |  ROUND(SUM(CASE WHEN n < 100 THEN n ELSE 0 END) /
        |    CAST(SUM(n) AS DOUBLE), 6) AS oov_rate
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    // DuckDB's nfc_normalize is an independent implementation of the
    // same Unicode standard annex — the md5 equality cross-checks the
    // JDK normalizer behind the custom expression
    "q_text_normalize" ->
      """SELECT doc_id,
        |  CAST(length(dirty) AS INT) AS len_raw,
        |  CAST(length(nfc_normalize(dirty)) AS INT) AS len_nfc,
        |  md5(nfc_normalize(dirty)) AS h_nfc
        |FROM (
        |  SELECT doc_id,
        |    substring(text, 1, 40) || ' cafe' || chr(769) || ' ' || source
        |      AS dirty
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_boilerplate_strip" ->
      """WITH ch AS (
        |  SELECT doc_id, source, md5(chunk) AS h,
        |    CAST(length(chunk) AS INT) AS chars
        |  FROM (
        |    SELECT doc_id, source,
        |      unnest(list_transform(generate_series(0, (len(l) - 1) // 8),
        |        i -> array_to_string(l[i*8+1:i*8+8], ' '))) AS chunk
        |    FROM (SELECT doc_id, source, string_split(text, ' ') AS l
        |          FROM documents))),
        |bp AS (
        |  SELECT source, h FROM ch
        |  GROUP BY 1, 2 HAVING COUNT(DISTINCT doc_id) >= 3)
        |SELECT ch.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN bp.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN bp.h IS NULL THEN chars ELSE 0 END) AS BIGINT)
        |    AS kept_chars,
        |  ROUND(SUM(CASE WHEN bp.h IS NULL THEN 1 ELSE 0 END) /
        |    CAST(COUNT(*) AS DOUBLE), 4) AS keep_ratio
        |FROM ch LEFT JOIN bp ON ch.source = bp.source AND ch.h = bp.h
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_mix_temperature" ->
      """WITH m AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |t AS (
        |  SELECT source, n_docs, n_tokens,
        |    n_tokens / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS p_raw,
        |    power(n_tokens, 0.5) AS u
        |  FROM m)
        |SELECT source, n_docs, n_tokens,
        |  ROUND(p_raw, 6) AS p_raw,
        |  ROUND(u / SUM(u) OVER (), 6) AS w_temp,
        |  ROUND((u / SUM(u) OVER ()) / p_raw, 4) AS boost
        |FROM t ORDER BY source""".stripMargin,

    "q_mix_materialize" ->
      s"""WITH m AS (
         |  SELECT source,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |t AS (
         |  SELECT source, n_tokens,
         |    n_tokens / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS p,
         |    power(n_tokens, 0.5) AS u
         |  FROM m),
         |b AS (
         |  SELECT source, (u / SUM(u) OVER ()) / p AS boost,
         |    u / SUM(u) OVER () AS w
         |  FROM t),
         |r AS (
         |  SELECT d.source, b.w,
         |    CAST(floor(b.boost) AS BIGINT) +
         |      CASE WHEN $bucketSql <
         |        CAST(round((b.boost - floor(b.boost)) * 10000, 0) AS BIGINT)
         |      THEN 1 ELSE 0 END AS n_rep,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS toks
         |  FROM documents d JOIN b USING (source)),
         |e AS (
         |  SELECT source, w, toks,
         |    unnest(generate_series(1, n_rep)) AS copy
         |  FROM r WHERE n_rep >= 1),
         |g AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_out,
         |    CAST(SUM(toks) AS BIGINT) AS n_tokens_out,
         |    ROUND(MAX(w), 6) AS w_target
         |  FROM e GROUP BY source)
         |SELECT source, n_docs_out, n_tokens_out, w_target,
         |  ROUND(n_tokens_out / CAST(SUM(n_tokens_out) OVER () AS DOUBLE), 4)
         |    AS share_out
         |FROM g ORDER BY source""".stripMargin,

    "q_group_sample" ->
      """SELECT source, CAST(rk AS INT) AS rk, doc_id, lang FROM (
        |  SELECT source, doc_id, lang,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY source, rk""".stripMargin,

    "q_select_topp" ->
      """WITH w AS (
        |  SELECT source, doc_id, n_chars,
        |    SUM(n_chars) OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(n_chars) OVER (PARTITION BY source) AS tot
        |  FROM documents),
        |f AS (SELECT *, cum - n_chars < tot * 0.9 AS sel FROM w)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
        |  CAST(SUM(CASE WHEN sel THEN n_chars ELSE 0 END) AS BIGINT)
        |    AS chars_sel,
        |  CAST(MAX(tot) AS BIGINT) AS chars_total,
        |  ROUND(SUM(CASE WHEN sel THEN n_chars ELSE 0 END) /
        |    CAST(MAX(tot) AS DOUBLE), 4) AS mass_ratio
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    "q_ngram_novelty" ->
      """WITH l AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(l) - 7),
        |        i -> array_to_string(l[i:i+7], ' '))) AS g
        |    FROM l WHERE len(l) >= 8)),
        |f AS (SELECT g, MIN(doc_id) AS first_doc FROM g GROUP BY g)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  ROUND(SUM(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END) /
        |    CAST(COUNT(*) AS DOUBLE), 4) AS novelty
        |FROM g JOIN f USING (g) GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    "q_nb_langid" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, w FROM (
        |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |    FROM documents) WHERE length(w) > 0),
        |wc AS (SELECT lang, w, COUNT(*) AS c FROM tok
        |       WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |tot AS (SELECT lang, SUM(c) AS tc FROM wc GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT w) AS v FROM wc),
        |pri AS (SELECT lang, COUNT(*) AS nd FROM documents
        |        WHERE doc_id % 2 = 0 GROUP BY 1),
        |prit AS (SELECT SUM(nd) AS ndt FROM pri),
        |cand AS (
        |  SELECT t.doc_id, p.lang AS cl,
        |    SUM(ln((COALESCE(wc.c, 0) + 1.0) / (tot.tc + v.v))) AS ll
        |  FROM (SELECT doc_id, w FROM tok WHERE doc_id % 2 = 1) t
        |  CROSS JOIN pri p
        |  LEFT JOIN wc ON wc.lang = p.lang AND wc.w = t.w
        |  JOIN tot ON tot.lang = p.lang CROSS JOIN v
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT cand.doc_id, cand.cl,
        |    cand.ll + ln(pri.nd * 1.0 / prit.ndt) AS score
        |  FROM cand JOIN pri ON pri.lang = cand.cl CROSS JOIN prit),
        |pred AS (
        |  SELECT doc_id, cl AS pred FROM (
        |    SELECT doc_id, cl, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cl DESC) AS rn FROM sc)
        |  WHERE rn = 1)
        |SELECT d.lang, p.pred, COUNT(*) AS n
        |FROM documents d JOIN pred p USING (doc_id)
        |WHERE d.doc_id % 2 = 1
        |GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin,

    "q_dataset_card" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  ROUND(AVG(length(text)), 4) AS avg_chars,
        |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_uniq,
        |  ROUND(1.0 - COUNT(DISTINCT md5(text)) * 1.0 / COUNT(*), 6)
        |    AS dup_rate
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_vocab_growth" ->
      """WITH mx AS (SELECT MAX(doc_id) + 1 AS mxd FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |fs AS (SELECT term, MIN(doc_id) AS first_doc FROM tok GROUP BY 1),
        |nt AS (
        |  SELECT CAST((first_doc * 10) // mxd AS INT) AS bucket,
        |    COUNT(*) AS new_terms
        |  FROM fs CROSS JOIN mx GROUP BY 1),
        |ds AS (
        |  SELECT CAST((doc_id * 10) // mxd AS INT) AS bucket,
        |    COUNT(*) AS n_docs,
        |    SUM(len(string_split(text, ' '))) AS n_tokens
        |  FROM documents CROSS JOIN mx GROUP BY 1)
        |SELECT ds.bucket,
        |  CAST(SUM(ds.n_docs) OVER win AS BIGINT) AS cum_docs,
        |  CAST(SUM(ds.n_tokens) OVER win AS BIGINT) AS cum_tokens,
        |  CAST(SUM(COALESCE(nt.new_terms, 0)) OVER win AS BIGINT) AS vocab_size
        |FROM ds LEFT JOIN nt USING (bucket)
        |WINDOW win AS (ORDER BY ds.bucket
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY bucket""".stripMargin,

    "q_log_odds_terms" ->
      """WITH st AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |c AS (SELECT source, term, COUNT(*) AS n FROM st GROUP BY 1, 2),
        |s AS (SELECT source, SUM(n) AS ns FROM c GROUP BY 1),
        |t AS (SELECT term, SUM(n) AS nt FROM c GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT term) AS v, SUM(n) AS nn FROM c),
        |sc AS (
        |  SELECT c.source, c.term,
        |    ROUND(ln((c.n + 0.5) / (s.ns - c.n + 0.5 * v.v))
        |      - ln((t.nt - c.n + 0.5)
        |          / (v.nn - s.ns - (t.nt - c.n) + 0.5 * v.v)), 6) AS delta
        |  FROM c JOIN s USING (source) JOIN t USING (term) CROSS JOIN v),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY delta DESC, term) AS rk
        |  FROM sc)
        |SELECT source, CAST(rk AS INT) AS rk, term, delta
        |FROM rk WHERE rk <= 3 ORDER BY source, rk""".stripMargin,

    "q_src_diversity" ->
      """WITH c AS (
        |  SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2),
        |t AS (SELECT source, SUM(n) AS nt, COUNT(DISTINCT lang) AS nl
        |      FROM c GROUP BY 1)
        |SELECT c.source, CAST(MIN(t.nl) AS BIGINT) AS n_langs,
        |  ROUND(-SUM((c.n * 1.0 / t.nt) * ln(c.n * 1.0 / t.nt)), 6)
        |    AS entropy,
        |  ROUND(-SUM((c.n * 1.0 / t.nt) * ln(c.n * 1.0 / t.nt))
        |    / ln(GREATEST(MIN(t.nl) * 1.0, 2.0)), 6) AS norm_entropy
        |FROM c JOIN t USING (source)
        |GROUP BY c.source ORDER BY source""".stripMargin,

    "q_keyword_rake" ->
      """WITH toks AS (
        |  SELECT doc_id, i - 1 AS pos, l[i] AS w,
        |    l[i] IN ('the', 'a', 'of', 'and', 'in') AS is_stop
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |    unnest(generate_series(1, len(l))) t(i)),
        |ph AS (
        |  SELECT doc_id, pos, w, is_stop,
        |    SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING) AS pid
        |  FROM toks),
        |occ AS (SELECT doc_id, pid, pos, w FROM ph WHERE NOT is_stop),
        |plen AS (SELECT doc_id, pid, COUNT(*) AS plen
        |         FROM occ GROUP BY 1, 2),
        |o2 AS (SELECT occ.*, plen FROM occ JOIN plen USING (doc_id, pid)),
        |sc AS (SELECT w, COUNT(*) AS freq, CAST(SUM(plen) AS BIGINT) AS deg
        |       FROM o2 GROUP BY 1),
        |sc2 AS (SELECT w, CAST(ROUND(deg * 1e6 / freq) AS BIGINT) AS score_u
        |        FROM sc),
        |pp AS (
        |  SELECT doc_id, pid, CAST(SUM(score_u) AS BIGINT) AS ps_u,
        |    COUNT(*) AS n_words, string_agg(w, ' ' ORDER BY pos) AS ptext
        |  FROM o2 JOIN sc2 USING (w) GROUP BY 1, 2),
        |fin AS (
        |  SELECT ptext AS phrase, COUNT(*) AS n_occur,
        |    CAST(MAX(n_words) AS BIGINT) AS n_words,
        |    CAST(MAX(ps_u) AS BIGINT) AS ps_u
        |  FROM pp GROUP BY 1)
        |SELECT phrase, n_words, n_occur, ROUND(ps_u / 1e6, 4) AS score
        |FROM fin ORDER BY score DESC, phrase LIMIT 10""".stripMargin,

    "q_negative_sampling" ->
      """WITH tc AS (
        |  SELECT w AS term, COUNT(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1),
        |v AS (
        |  SELECT term, n, pow(n * 1.0, 0.75) AS wt,
        |    SUM(pow(n * 1.0, 0.75)) OVER (ORDER BY term
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tc),
        |v2 AS (SELECT term, n, wt, cum, cum - wt AS lo FROM v),
        |t AS (SELECT MAX(cum) AS tw FROM v2),
        |draws AS (
        |  SELECT i, (CAST(CAST('0x' || substring(md5(CAST(i AS VARCHAR)), 1, 4)
        |    AS INT) AS DOUBLE) + 0.5) / 65536.0 * tw AS u
        |  FROM generate_series(1, 1000) g(i) CROSS JOIN t),
        |hits AS (SELECT term, COUNT(*) AS n_draws
        |         FROM draws JOIN v2 ON u > lo AND u <= cum GROUP BY 1)
        |SELECT v2.term, n AS corpus_n, ROUND(wt / tw, 6) AS expected_share,
        |  COALESCE(n_draws, 0) AS n_draws,
        |  ROUND(COALESCE(n_draws, 0) / 1000.0, 6) AS realized_share
        |FROM v2 CROSS JOIN t LEFT JOIN hits USING (term)
        |ORDER BY term""".stripMargin,

    "q_span_corruption" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    GREATEST(1, (CAST(len(string_split(text, ' ')) AS BIGINT) + 10)
        |      // 20) AS n_spans
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, n, n_spans,
        |    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|'
        |      || CAST(k AS VARCHAR)), 1, 4) AS INT) % n AS BIGINT) AS st
        |  FROM base, unnest(generate_series(1, CAST(n_spans AS INT))) t(k)),
        |pos AS (
        |  SELECT DISTINCT doc_id, n, n_spans, p
        |  FROM sp, unnest(generate_series(st, LEAST(st + 2, n - 1))) tp(p)),
        |wd AS (SELECT *, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
        |       FROM pos),
        |ag AS (
        |  SELECT doc_id, n, n_spans, COUNT(*) AS n_masked,
        |    CAST(SUM(CASE WHEN prev IS NULL OR p != prev + 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_sentinels
        |  FROM wd GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  CAST(n_spans AS BIGINT) AS n_spans,
        |  CAST(n_masked AS BIGINT) AS n_masked,
        |  ROUND(n_masked * 1.0 / n, 6) AS mask_ratio,
        |  n_sentinels
        |FROM ag ORDER BY doc_id""".stripMargin,

    "q_drift_jsd" ->
      """WITH tok AS (
        |  SELECT source, w FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  WHERE length(w) > 0),
        |bs AS (SELECT source, w, COUNT(*) AS ns FROM tok GROUP BY 1, 2),
        |st AS (SELECT source, CAST(SUM(ns) AS BIGINT) AS ts
        |       FROM bs GROUP BY 1),
        |cw AS (SELECT w, COUNT(*) AS nc FROM tok GROUP BY 1),
        |ct AS (SELECT CAST(SUM(nc) AS BIGINT) AS tc FROM cw),
        |pq AS (SELECT bs.source, bs.ns * 1.0 / st.ts AS p,
        |         cw.nc * 1.0 / ct.tc AS q,
        |         (bs.ns * 1.0 / st.ts + cw.nc * 1.0 / ct.tc) / 2 AS m,
        |         cw.nc
        |       FROM bs JOIN st USING (source)
        |       JOIN cw USING (w) CROSS JOIN ct),
        |terms AS (
        |  SELECT source,
        |    CAST(ROUND((p * ln(p / m) + q * ln(q / m)) * 1e12) AS BIGINT)
        |      AS t_u,
        |    nc
        |  FROM pq),
        |seen AS (SELECT source, CAST(SUM(t_u) AS BIGINT) AS seen_u,
        |           CAST(SUM(nc) AS BIGINT) AS nc_seen
        |         FROM terms GROUP BY 1)
        |SELECT source,
        |  ROUND((seen_u + CAST(ROUND((1.0 - nc_seen * 1.0 / tc) * ln(2.0)
        |    * 1e12) AS BIGINT)) / 2e12, 6) AS jsd
        |FROM seen CROSS JOIN ct ORDER BY source""".stripMargin,

    "q_source_overlap" ->
      """WITH v AS (
        |  SELECT DISTINCT source, unnest(list_distinct(string_split(text, ' ')))
        |    AS w
        |  FROM documents),
        |sz AS (SELECT source, COUNT(*) AS nv FROM v GROUP BY 1),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |        COUNT(*) AS inter
        |      FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT source_a, source_b, inter,
        |  ROUND(inter * 1.0 / (sa.nv + sb.nv - inter), 6) AS jaccard
        |FROM p
        |JOIN sz sa ON p.source_a = sa.source
        |JOIN sz sb ON p.source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin,

    "q_gopher_rules" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |b AS (SELECT doc_id, l, len(l) AS n_words,
        |        list_sum(list_transform(l, x -> CAST(length(x) AS BIGINT))) AS cl,
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
        |SELECT b.doc_id, CAST(n_words AS INT) AS n_words,
        |  ROUND(cl * 1.0 / n_words, 6) AS mean_word_len,
        |  ROUND(nd * 1.0 / n_words, 6) AS distinct_ratio,
        |  ROUND(COALESCE(top_bg, 0.0), 6) AS top_bigram_frac,
        |  has_stopword,
        |  n_words >= 40 AS ok_words,
        |  cl * 1.0 / n_words BETWEEN 3.0 AND 10.0 AS ok_mwl,
        |  nd * 1.0 / n_words >= 0.4 AS ok_dup,
        |  COALESCE(top_bg, 0.0) <= 0.08 AS ok_rep,
        |  (n_words >= 40 AND cl * 1.0 / n_words BETWEEN 3.0 AND 10.0
        |   AND nd * 1.0 / n_words >= 0.4 AND COALESCE(top_bg, 0.0) <= 0.08
        |   AND has_stopword) AS pass
        |FROM b LEFT JOIN bf USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_ttr_mattr" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |b AS (SELECT doc_id, l, len(l) AS n_words,
        |        len(list_distinct(l)) AS nd FROM w),
        |t AS (SELECT doc_id, n_words, nd,
        |  CASE WHEN n_words < 25
        |    THEN [nd * 1.0 / n_words]
        |    ELSE list_transform(generate_series(0, n_words - 25, 5),
        |           st -> len(list_distinct(l[st + 1 : st + 25])) * 1.0 / 25.0)
        |  END AS ttrs
        |  FROM b)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words,
        |  ROUND(nd * 1.0 / n_words, 6) AS ttr,
        |  ROUND(list_sum(ttrs) / len(ttrs), 6) AS mattr,
        |  CAST(len(ttrs) AS INT) AS n_windows
        |FROM t ORDER BY doc_id""".stripMargin,

    // identical fixed lexicon and µ-grid density division
    "q_code_detect" ->
      """WITH t AS (
        |  SELECT source, string_split(text, ' ') AS toks
        |  FROM documents),
        |k AS (
        |  SELECT source, len(toks) AS n_tok,
        |    len(list_filter(toks, x -> list_contains(
        |      ['select', 'join', 'table', 'index', 'query', 'scan',
        |       'filter', 'merge', 'sort', 'group', 'order', 'key'], x)))
        |      AS n_kw
        |  FROM t),
        |d AS (
        |  SELECT source,
        |    CAST((n_kw * 1000000) // n_tok AS BIGINT) AS dens_u
        |  FROM k),
        |g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dens_u) AS BIGINT) AS sd_u,
        |    CAST(SUM(CASE WHEN dens_u >= 250000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_code_like
        |  FROM d GROUP BY 1)
        |SELECT source, n_docs,
        |  ROUND((sd_u // n_docs) / 1e6, 6) AS mean_kw_density,
        |  ROUND(n_code_like * 1.0 / n_docs, 6) AS code_share
        |FROM g ORDER BY source""".stripMargin,

    // identical ceil(len/4) subword estimator and exact-long ratios
    "q_tokenizer_fertility" ->
      """WITH t AS (
        |  SELECT lang, string_split(text, ' ') AS toks
        |  FROM documents),
        |p AS (
        |  SELECT lang, CAST(len(toks) AS BIGINT) AS nw,
        |    CAST(list_sum(list_transform(toks, w -> (len(w) + 3) // 4))
        |      AS BIGINT) AS nsw,
        |    CAST(list_sum(list_transform(toks, w -> len(w)))
        |      AS BIGINT) AS nch
        |  FROM t),
        |g AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(nw) AS BIGINT) AS n_words,
        |    CAST(SUM(nsw) AS BIGINT) AS n_subwords,
        |    CAST(SUM(nch) AS BIGINT) AS n_chars
        |  FROM p GROUP BY 1)
        |SELECT lang, n_docs, n_words, n_subwords,
        |  ROUND(n_subwords * 1.0 / n_words, 6) AS fertility,
        |  ROUND(n_chars * 1.0 / n_words, 4) AS mean_word_len
        |FROM g ORDER BY lang""".stripMargin
  )
}
