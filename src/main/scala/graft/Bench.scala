package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run benchmark: times every SparkEntry query at
  * `SPARK_GRAFT_SF_DIR` and emits ONE JSON line. The full-precision
  * per-query map is written to `SPARK_GRAFT_BENCH_OUT` (default
  * `bench_out.json` in the cwd); the final stdout line is a compact
  * variant (headline total + the slowest queries only) sized to
  * survive the driver's ~3 KB tail-of-log capture.
  *
  * `SPARK_GRAFT_ONLY=q_a,q_b` restricts the run (local iteration aid).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // Bench numbers are load-sensitive (BASELINE.md: concurrent work
    // skews every query +10-20%+ uniformly). Stamp the capture with the
    // 1/5/15-min load averages at start and end plus a wall-clock
    // timestamp, so a skewed capture is diagnosable as such instead of
    // misreading as a code regression (this cost round 3 its headline:
    // a 207s loaded capture vs 145s idle).
    def loadavg(): String =
      try new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
        .split("\\s+").take(3).mkString(",")
      catch { case _: Throwable => "" }
    // Load-settle wait (r11 VERDICT task 9): the r10 AND r11 driver
    // captures were both load-skewed (loadavg 3.32 / 4.23) because the
    // bench ran right after the sweep + full suite. Rather than depend
    // on driver sequencing, wait — bounded — for the 1-min loadavg to
    // fall under 2.0 before timing anything; the capture then records
    // the POST-settle load. Skipped for targeted SPARK_GRAFT_ONLY
    // iteration runs; cap via SPARK_GRAFT_SETTLE_MAX (seconds, default
    // 600, 0 disables). A capture that still starts loaded after the
    // budget is stamped skewed as before — the wait is best-effort,
    // the stamp is the guarantee.
    def load1(): Double = loadavg().split(",").headOption
      .flatMap(v => scala.util.Try(v.toDouble).toOption).getOrElse(0.0)
    val settleMax = sys.env.getOrElse("SPARK_GRAFT_SETTLE_MAX", "600").toInt
    if (only.isEmpty && settleMax > 0) {
      val deadline = System.nanoTime() + settleMax * 1000000000L
      var l = load1()
      while (l > 2.0 && System.nanoTime() < deadline) {
        System.err.println(
          f"[bench] settling: loadavg $l%.2f > 2.0, waiting 15 s")
        Thread.sleep(15000)
        l = load1()
      }
    }
    val loadStart = loadavg()
    val startedAt = java.time.Instant.now().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen/parquet-reader warmup so the first timed query does
    // not absorb one-time framework cost (~5s of JIT at local[4]).
    spark.range(1000000L).selectExpr("sum(id)", "avg(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    // Warm the CUSTOM-expression codegen paths too: the first key of
    // each family (alphabetically stable since the sorted-order change)
    // otherwise absorbs ~2-3s of first-use Janino compilation that
    // belongs to the session, not the query — q_cte_recursive carried
    // the whole bigram/set-sim family's compile cost in the 147-key
    // captures. Steady-state per-key numbers are the diffable ones.
    graft.expr.Registry.ensure(spark)
    spark.range(1, 17).selectExpr("id",
        "split(concat('tok', id, ' tok', id + 1, ' tok', id + 2), ' ') AS toks",
        "transform(sequence(0, 7), j -> cast(id * (j + 1) as float)) AS v")
      .selectExpr("bigram_hashes(toks)", "token_hashes(toks)",
        "minhash_sig(toks, 16)", "simhash64(toks)",
        "sorted_intersect_count(token_hashes(toks), token_hashes(toks))",
        "cosine_sim(v, v)", "jaro_winkler('kettle', 'kitten')",
        "zorder2(id, id + 1)", "keccak256('ab')")
      .collect()
    // Pre-warm the SESSION-scoped near-dup memos (r10 VERDICT task 6):
    // the bigram-τ0.3 pair table and its CC labels are derived ONCE
    // per session by design (EdgeGraph — "a real pipeline materializes
    // the pair table once"); without this, whichever consumer runs
    // first alphabetically (q_cross_source_dups in the 877-key order)
    // absorbs the whole ~8 s derivation and reads as a per-key
    // regression. The derivation cost still lands inside this process'
    // wall-clock — it is amortization made visible, not hidden work.
    // r12 VERDICT task 2: warm ALL of them, not just bigram-τ0.3 —
    // otherwise whichever key is alphabetically first in each family
    // absorbs a shared build (q_assortativity carried the token-τ0.8
    // pair table, q_ann_hnsw the L0 cell graph) and per-key timings
    // stop diffing across rounds. Each warm is the same derivation the
    // first consumer would have paid; the wall-clock lands in this
    // process but OUTSIDE every per-key timer.
    // r13 ADVICE: the warm phase pre-materializes every shared
    // derivation OUTSIDE the per-key timers — record its wall-clock per
    // tag in the bench JSON so the total cost stays attributable and a
    // cross-round comparison against an unwarmed baseline can add it
    // back.
    val warmSecs = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (only.isEmpty) { // targeted SPARK_GRAFT_ONLY runs skip the warm
      def warm(tag: String)(body: => Unit): Unit = {
        val t0 = System.nanoTime()
        try body catch { case e: Throwable =>
          System.err.println(s"[bench] memo pre-warm $tag failed: ${e.getMessage}")
        }
        warmSecs(tag) = (System.nanoTime() - t0) / 1e9
      }
      warm("edge-pairs") {
        for ((kind, tau) <- Seq(("bigram", 0.3), ("token", 0.7),
            ("token", 0.8), ("token", 0.95)))
          graft.operators.EdgeGraph.pairs(spark, sfDir, kind, tau).count()
      }
      warm("edge-labels") {
        graft.operators.EdgeGraph.components(spark, sfDir, "bigram", 0.3).count()
        graft.operators.EdgeGraph.labelProp(spark, sfDir, "token", 0.8).count()
      }
      warm("cell-graphs") {
        graft.queries.StatsR11.corpusCellGraph(spark, sfDir).count()
        graft.queries.StatsR11.corpusCellGraph(spark, sfDir, heldOut = true).count()
        graft.queries.StatsR11.corpusCellGraph(spark, sfDir, altSeeds = true).count()
      }
      warm("hnsw-layers") {
        graft.queries.StatsR12.layeredCorpus(spark, sfDir).count()
        graft.queries.StatsR12.layerGraph(spark, sfDir, 1).count()
        graft.queries.StatsR12.layerGraph(spark, sfDir, 2).count()
      }
      // r13: complete the r12-task-2 sweep — EVERY session memo warms
      // here so no key's first-touch absorbs a shared build. Same
      // rationale as above: each warm is the identical derivation the
      // first consumer would have paid; wall-clock stays in this
      // process, outside the per-key timers.
      warm("lsh-index") {
        graft.operators.EdgeGraph.minhashSigs(spark, sfDir, 32).count()
        graft.operators.EdgeGraph.lshBands(spark, sfDir).count()
        graft.operators.EdgeGraph.tokenHashes(spark, sfDir).count()
      }
      warm("term-index") {
        graft.operators.EdgeGraph.termFreq(spark, sfDir).count()
        graft.operators.EdgeGraph.bigramScores(spark, sfDir).count()
      }
      warm("interactions") {
        graft.queries.Analytics.custBrand(spark, sfDir).count()
        graft.queries.Analytics.brandSims(spark, sfDir).count()
        graft.queries.Analytics.recsTop3(spark, sfDir).count()
        graft.queries.TpchPartSupp.partsupp(spark, sfDir).count()
      }
      warm("er-candidates") {
        graft.queries.Analytics.sortedNeighborhoodPairs(spark, sfDir).count()
      }
      warm("eval-topk") {
        graft.queries.LlmOps.rankedTop10(spark, sfDir).count()
      }
      warm("bpe-merges") {
        graft.queries.Training.learnedMerges(spark, sfDir)
      }
      warm("media") {
        graft.multimodal.Multimodal.pngCorpus(spark, sfDir).count()
        graft.multimodal.Multimodal.imagePhash(spark, sfDir).count()
      }
      warm("daily-grids") {
        graft.queries.DailyGrid.ret(spark, sfDir).count()
        graft.queries.DailyGrid.marketRet(spark, sfDir).count()
        graft.queries.DailyGrid.ohlc(spark, sfDir).count()
        graft.queries.DailyGrid.centi(spark, sfDir).count()
        graft.queries.StatsR9za.handoff(spark, sfDir).count()
        graft.queries.StatsR9ze.custRev(spark, sfDir).count()
      }
      warm("baskets") {
        // transitively builds consecOrders + orderBrands too
        graft.queries.StatsR9zp.curBrands(spark, sfDir).count()
      }
      warm("holdout") {
        val (tr, te) = graft.queries.StatsR9zb.trainTest(spark, sfDir)
        tr.count(); te.count()
      }
    }
    // Sorted, not Map (hash) order: hash order reshuffles every time a
    // key is added, so "which key runs first and absorbs the first-use
    // codegen of a shared operator stack" changed per round and made
    // per-key timings non-diffable (q_dedup_components swung 3.4↔6.5 s
    // across captures purely by position). Alphabetical order is stable
    // across rounds and pays each family's warmup in the same place.
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      only.forall(_.contains(name))
    }
    val outcome = KeyLoop.run(spark, sfDir, "bench", selected)((_, df) => df.count())
    val results = outcome.secs
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Self-defense against load skew (r5, VERDICT item 7): BASELINE.md
    // documents ~3 as the comparability ceiling for loadavg at capture
    // start — tag the JSON explicitly so a loaded capture can never
    // masquerade as a code regression (r3's 207.8 s) or hide one.
    val skewed = loadStart.split(",").headOption
      .flatMap(v => scala.util.Try(v.toDouble).toOption)
      .exists(_ > 3.0)
    if (skewed)
      System.err.println(s"[bench] WARNING: loadavg_start=$loadStart > 3 — " +
        "timings are load-skewed and not comparable to idle captures (BASELINE.md)")
    val warmTotal = warmSecs.values.sum
    val warmQs = warmSecs.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val meta = s""""started":"$startedAt","loadavg_start":"$loadStart","loadavg_end":"${loadavg()}","skewed":$skewed"""
    val json = s"""{"metric":"total","value":$total,"unit":"sec",$meta,"warm_total_sec":$warmTotal,"warm_sec":$warmQs,${outcome.failedJson()},"queries":$qs,"sf":"$sfDir"}"""
    Files.writeString(Paths.get(outFile), json + "\n")
    spark.stop()
    // The driver captures only the TAIL of the log (~3 KB): a full
    // per-query map (~3.3 KB and growing) gets its head truncated and
    // the metric is lost (BENCH_r01/r02 both landed `parsed: null`).
    // So the sole final stdout line is COMPACT — headline total plus
    // only the timings big enough to matter (>= 0.25 s, 2dp), capped
    // at the 40 slowest, and at most 20 failed key names. The
    // full-precision map and every failed key live in `outFile`.
    // Locale.ROOT: a comma-decimal default locale would otherwise turn
    // "value":207.79 into invalid JSON and break the driver's parse.
    def r2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val big = results.toSeq.filter(_._2 >= 0.25).sortBy(-_._2).take(40)
    val bigQs = big.map { case (k, v) => "\"" + k + "\":" + r2(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r2(total)},"unit":"sec","n_queries":${results.size},${outcome.failedJson(20)},$meta,"warm_total_sec":${r2(warmTotal)},"queries":$bigQs,"queries_full":"$outFile","sf":"$sfDir"}""")
  }
}
