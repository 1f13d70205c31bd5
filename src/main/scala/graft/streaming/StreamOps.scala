package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

import graft.tables.Tables

/** B.9 Structured Streaming parity layer (SURVEY.md §2 Part A ↦ B.9).
  *
  * Each `s_*` entry runs a real streaming query (file source →
  * transforms → sink) under `Trigger.AvailableNow` and returns the
  * sink read back as an ordered batch DataFrame, so the driver's
  * rows-only check and the batch-equivalence ScalaTest suite both see
  * the streamed result. DuckDB oracles are omitted by design — the
  * honest oracle for streaming is equality with the batch twin
  * (SURVEY.md §5.2.3).
  *
  * Reference semantics carried over (SURVEY.md §2 Part A):
  *  - A1/A2/A4 ingest+decode → s_stream_ingest
  *  - A10 replay dedup       → s_dedup_watermark
  *  - A8 offset/resume       → checkpointLocation on every query
  *  - A11 reorg/late events  → s_late_data
  *  - A7 idempotent upsert   → s_foreach_upsert
  *
  * Scale posture: all stateful ops are bounded by watermarks (state
  * eviction), sinks are keyed/idempotent so any micro-batch can
  * replay, and nothing collects to the driver.
  */
object StreamOps {

  /** events schema as the streaming file source must declare it: ts is
    * unannotated µs TIMESTAMP in the parquet footer (isAdjustedToUTC
    * absent → TIMESTAMP_NTZ to Spark 4). The read casts it to
    * TimestampType — the session is pinned UTC so the instants are
    * identical, and every downstream watermark/window keeps the
    * TimestampType contract the engine has had since r1. */
  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming scratch root (r5, VERDICT item 5): checkpoints, staged
    * inputs and sinks live on tmpfs (/dev/shm) when available — the
    * per-micro-batch checkpoint fsync/rename traffic is the dominant
    * cost of the bounded test streams, and none of it needs to survive
    * the process (every query creates a fresh checkpoint; replay tests
    * replay within one process). A shutdown hook removes the whole
    * per-process subtree, so repeated runs cannot accumulate in RAM.
    * In production the checkpoint dir must be durable shared storage —
    * this is a bench-harness placement choice, not an engine semantic
    * (batch-equivalence is unchanged and still asserted in
    * StreamingSpec). */
  private lazy val scratchRoot: java.nio.file.Path = {
    val shm = Paths.get("/dev/shm")
    val base =
      if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
      else Paths.get(sys.props("java.io.tmpdir"))
    val p = Files.createTempDirectory(base, "graft_stream_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(p.toFile)
    }))
    p
  }

  private[streaming] def tmp(tag: String): String =
    Files.createTempDirectory(scratchRoot, s"graft_$tag").toString

  /** The file stream source requires a directory; testdata tables are
    * single files — stage a copy into a temp dir. Derived scale tiers
    * (sf1data) ship tables as DIRECTORIES of part files: stage each
    * part file, not the directory inode (a bare Files.copy of a dir
    * stages an empty dir and the stream silently reads zero rows —
    * r9 sf1 finding). */
  private[streaming] def stageTable(d: String, name: String, tag: String): String = {
    val dir = tmp(tag)
    val src = Paths.get(s"$d/$name.parquet")
    if (Files.isDirectory(src)) {
      val it = Files.list(src).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet"))
          Files.copy(p, Paths.get(dir, p.getFileName.toString))
      }
    } else Files.copy(src, Paths.get(dir, s"$name.parquet"))
    dir
  }

  private[streaming] def eventsDir(d: String, tag: String): String =
    stageTable(d, "events", tag)

  /** Stage the documents table into a fresh dir (document streams). */
  private def docsDir(d: String, tag: String): String =
    stageTable(d, "documents", tag)

  private[streaming] def readEventsStream(s: SparkSession, path: String): DataFrame =
    // no session-conf writes here — the micros-typed parquet output
    // conf is set-and-restored inside runToParquet, where the sink
    // actually writes (r8 ADVICE: the old unconditional set leaked
    // outputTimestampType into every key run after a streaming one)
    s.readStream.schema(rawSchema).parquet(path)
      .withColumn("ts", col("ts").cast(TimestampType))

  /** Stateful streaming creates one state store — and its per-batch
    * checkpoint I/O — per shuffle partition. On bounded test inputs
    * that I/O dominates compute, so cap stream-side partitions while a
    * query runs (the cap is captured into the checkpoint at first
    * start). At real scale the state-store count should track input
    * throughput, not the session's batch-side parallelism — this cap
    * is the knob for that. */
  private[streaming] def withBoundedStatePartitions[A](s: SparkSession)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    // r14: cap default 8 → 2, parameterised. Every micro-batch commits
    // one delta file per state store per stateful operator, so on the
    // bounded test inputs (state ≤ a few thousand keys) the commit I/O
    // scales with the CAP, not the data — measured A/B
    // (OPTIMIZATION_r14.md §11, alternating reps, idle): cap2 beats cap8
    // on every sampled stateful key (zscore 2.44→1.75, sessionize
    // 1.92→1.56, dedup_watermark 2.07→1.87, topk 1.70→1.58, cms
    // 3.28→3.17). Results are partition-count-independent (batch-twin
    // pins + oracle). A real deployment sizes state stores to input
    // throughput via SPARK_GRAFT_STREAM_STATE_PARTS (env) or the
    // graft.stream.maxStateParts system property — the knob this
    // helper has documented since r9; explicit repartition() calls
    // (e.g. the lsh probe fan-out) are unaffected by this conf.
    val cap = sys.props.get("graft.stream.maxStateParts")
      .orElse(sys.env.get("SPARK_GRAFT_STREAM_STATE_PARTS"))
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(2)
    s.conf.set(key, math.min(prev.toInt, cap).toString)
    try f finally s.conf.set(key, prev)
  }

  private[streaming] def runToParquet(df: DataFrame, out: String, ckpt: String): Unit = {
    val s = df.sparkSession
    // set-and-restore: the parquet sink must emit micros-typed
    // timestamps (the DuckDB-readable wire convention), but leaking
    // this conf into the shared session would silently re-type
    // timestamps for every key run after a streaming one.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = s.conf.getOption(tsKey)
    s.conf.set(tsKey, "TIMESTAMP_MICROS")
    try withBoundedStatePartitions(s) {
      df.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally prevTs match {
      case Some(v) => s.conf.set(tsKey, v)
      case None    => s.conf.unset(tsKey)
    }
  }

  /** Copy the events table into a fresh dir `copies` times (replay input). */
  private def stageEventsInput(s: SparkSession, d: String, copies: Int, tag: String): String = {
    val dir = tmp(tag)
    (1 to copies).foreach { i =>
      Tables.events(s, d)
        .withColumn("ts", col("ts").cast(TimestampNTZType)) // back to the raw NTZ µs shape
        .write.mode("append").parquet(dir)
    }
    dir
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 as a first-class connector: the DSv2 burn-event
    // MicroBatchStream → wei-exact decode → parquet sink (sfDir only
    // scales the synthetic block range).
    "s_dsv2_burn_ingest" -> ((s, d) => {
      val out = tmp("burn_out")
      val endBlock = if (d.contains("0.1")) 999L else 99L
      val stream = s.readStream.format("graft.sources.BurnEventSource")
        .option("startBlock", "0").option("endBlock", endBlock.toString)
        .option("blocksPerTrigger", "100")
        .load()
        .withColumn("tokenWhole", expr("valueWei div CAST(1000000000000000000 AS DECIMAL(19,0))"))
      runToParquet(stream, out, tmp("burn_ckpt"))
      s.read.parquet(out).orderBy("blockNumber", "logIndex")
    }),

    // A2 historical backfill as a BATCH DSv2 read with source-side
    // pushdown: the blockNumber filter narrows the scanned block range
    // INSIDE the source (BurnScanBuilder — the getLogs-range analog),
    // so filtered-out blocks are never generated, let alone scanned.
    "q_dsv2_burn_backfill" -> ((s, d) => {
      val endBlock = if (d.contains("0.1")) 999L else 99L
      s.read.format("graft.sources.BurnEventSource")
        .option("startBlock", "0").option("endBlock", endBlock.toString)
        .load()
        .filter(col("blockNumber") >= endBlock / 2 + 1)
        .withColumn("tokenWhole", expr("valueWei div CAST(1000000000000000000 AS DECIMAL(19,0))"))
        .orderBy("blockNumber", "logIndex")
    }),

    // A1+A2+A4: ingest → decode/normalize → append parquet, checkpointed.
    // Read-back projects timestamps to unix_micros longs (ntz-safe
    // wire convention) so the deterministic streamed result is
    // DuckDB-oracle-checkable (r6 VERDICT task 3); the sink keeps the
    // full TimestampType shape.
    "s_stream_ingest" -> ((s, d) => {
      val out = tmp("ingest_out")
      val decoded = readEventsStream(s, eventsDir(d, "ingest_in"))
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .withColumn("hour", date_trunc("hour", col("ts")))
        .drop("props")
      runToParquet(decoded, out, tmp("ingest_ckpt"))
      s.read.parquet(out)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("k"),
          unix_micros(col("hour")).as("hour_us"))
        .orderBy("event_id")
    }),

    // A10: duplicate delivery across reconnects must not double-insert.
    // Read-back is ntz-safe (unix_micros) and therefore oracled: the
    // 2× replay must collapse to exactly the original table.
    "s_dedup_watermark" -> ((s, d) => {
      val in = stageEventsInput(s, d, copies = 2, "dedup_in")
      val out = tmp("dedup_out")
      val deduped = readEventsStream(s, in)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      runToParquet(deduped, out, tmp("dedup_ckpt"))
      s.read.parquet(out)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .orderBy("event_id")
    }),

    // A8-style custom state: per-user sessionization (30-min gap) via
    // flatMapGroupsWithState with event-time timeout. Sessions are
    // emitted when closed by a later event or by watermark timeout;
    // the open tail session at end-of-input stays in state (append-
    // mode semantics — asserted against the batch twin in tests).
    "s_stateful_sessionize" -> ((s, d) => {
      import s.implicits._
      val out = tmp("sess_out")
      val gapUs = 30L * 60 * 1000 * 1000
      // timestamps carried as unix µs longs end-to-end —
      // java.sql.Timestamp.getTime is ms-precision and would corrupt
      // the µs event times.
      // the watermarked event-time column must remain in the Dataset
      // for EventTimeTimeout to resolve; ts_us carries the µs value.
      val ev = readEventsStream(s, eventsDir(d, "sess_in"))
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
        .as[(Long, java.sql.Timestamp, Long)]

      val sessions = ev
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          case (user, rows, state: GroupState[(Long, Long, Long)]) =>
            if (state.hasTimedOut) {
              val (st, en, n) = state.get
              state.remove()
              Iterator((user, st, en, n))
            } else {
              val ts = rows.map(_._3).toArray.sorted
              var acc = List.empty[(Long, Long, Long)]
              var cur = state.getOption
              ts.foreach { t =>
                cur match {
                  case Some((st, en, n)) if t - en <= gapUs => cur = Some((st, t, n + 1))
                  case Some(closed) => acc = closed :: acc; cur = Some((t, t, 1L))
                  case None => cur = Some((t, t, 1L))
                }
              }
              cur.foreach { c =>
                state.update(c)
                // timeout API is ms-precision; round up so the timeout
                // never fires early
                state.setTimeoutTimestamp((c._2 + gapUs) / 1000 + 1)
              }
              acc.reverseIterator.map { case (st, en, n) => (user, st, en, n) }
            }
        }
        .toDF("user_id", "s_start_us", "s_end_us", "n_events")
        .select(col("user_id"),
          timestamp_micros(col("s_start_us")).as("s_start"),
          timestamp_micros(col("s_end_us")).as("s_end"),
          col("n_events"))
      runToParquet(sessions, out, tmp("sess_ckpt"))
      s.read.parquet(out).orderBy("user_id", "s_start")
    }),

    // Stream ⋈ static dimension (no state needed).
    "s_stream_static_join" -> ((s, d) => {
      val out = tmp("ssj_out")
      val cohorts = Tables.events(s, d).select("user_id").distinct()
        .withColumn("cohort", concat(lit("c"), col("user_id") % 3))
      val joined = readEventsStream(s, eventsDir(d, "ssj_in"))
        .join(broadcast(cohorts), "user_id")
        .select("event_id", "user_id", "event_type", "cohort")
      runToParquet(joined, out, tmp("ssj_ckpt"))
      s.read.parquet(out).orderBy("event_id")
    }),

    // Stream-stream inner join with event-time bound (view→purchase
    // conversion pairs within 12 h), both sides watermarked.
    "s_stream_stream_join" -> ((s, d) => {
      val out = tmp("ss2_out")
      val ev = readEventsStream(s, eventsDir(d, "ss2_in"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("v_id"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = views.join(purchases,
        col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 12 HOURS"))
        .select(col("v_user").as("user_id"), col("v_id"), col("p_id"), col("v_ts"), col("p_ts"))
      runToParquet(joined, out, tmp("ss2_ckpt"))
      s.read.parquet(out).orderBy("v_id", "p_id")
    }),

    // A11: events arriving behind the watermark are dropped. Two
    // sequential AvailableNow runs against one checkpoint: run 1
    // establishes the watermark at max(ts)-10min; run 2 delivers only
    // stale events (ts shifted -40 days) which the persisted watermark
    // discards. Output = tumbling-hour counts in append mode.
    "s_late_data" -> ((s, d) => {
      val in = tmp("late_in")
      val out = tmp("late_out")
      val ckpt = tmp("late_ckpt")
      // stage ts as NTZ µs so the staged files match rawSchema exactly
      // (the same physical shape the driver-generated parquet has)
      val raw = Tables.events(s, d).withColumn("ts", col("ts").cast(TimestampNTZType))
      raw.write.mode("append").parquet(in)
      def agg(): DataFrame = readEventsStream(s, in)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("wstart"), col("n"))
      runToParquet(agg(), out, ckpt)
      // second delivery: only late rows (well behind the watermark)
      raw.withColumn("ts", col("ts") - expr("INTERVAL 40 DAYS"))
        .write.mode("append").parquet(in)
      runToParquet(agg(), out, ckpt)
      s.read.parquet(out).orderBy("wstart")
    }),

    // Streaming twin of q_ohlc_resample: watermarked hourly OHLC bars
    // in append mode — min_by/max_by are declarative aggregates, so
    // the arg-min/max semantics ride the streaming state exactly like
    // sum/count (no custom state needed); each closed window emits one
    // immutable bar, the metric-store ingestion shape. Append-mode
    // boundary: the final unflushed window(s) stay in state
    // (StreamingSpec asserts emitted ⊆ batch with equal values).
    "s_ohlc_bars" -> ((s, d) => {
      val out = tmp("ohlc_out")
      val bars = readEventsStream(s, eventsDir(d, "ohlc_in"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          round(min_by(col("value"), struct(col("ts"), col("event_id"))), 4).as("open"),
          round(max("value"), 4).as("high"),
          round(min("value"), 4).as("low"),
          round(max_by(col("value"), struct(col("ts"), col("event_id"))), 4).as("close"),
          count(lit(1)).as("n"),
          round(sum("value"), 4).as("volume"))
        .select(col("window.start").cast("timestamp_ntz").as("bucket"),
          col("event_type"), col("open"), col("high"), col("low"),
          col("close"), col("n"), col("volume"))
      runToParquet(bars, out, tmp("ohlc_ckpt"))
      s.read.parquet(out).orderBy("bucket", "event_type")
    }),

    // Spark 4's arbitrary-state API v2 (r5): per-user running totals
    // via transformWithState — typed ValueState through the
    // StatefulProcessorHandle instead of the flatMapGroupsWithState
    // closure-state shape (s_stateful_sessionize keeps the v1 surface;
    // this is the forward-looking one: named state variables, TTL
    // config, timers). TWS requires the RocksDB state-store provider —
    // set for the query, restored after. Batch equivalence (= one
    // groupBy) pinned in R5OpsSpec.
    "s_tws_running_total" -> ((s, d) => {
      import s.implicits._
      val out = tmp("tws_out")
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val ev = readEventsStream(s, eventsDir(d, "tws_in"))
          .select(col("user_id"), col("value")).as[(Long, Double)]
        val totals = ev.groupByKey(_._1)
          .transformWithState(new RunningTotals, TimeMode.None(), OutputMode.Append())
          .toDF("user_id", "n_events", "sum_value")
          // 4dp: state accumulation order varies with shuffle order;
          // rounding absorbs the ~1e-12 double drift (§7.6)
          .select(col("user_id"), col("n_events"),
            round(col("sum_value"), 4).as("sum_value"))
        runToParquet(totals, out, tmp("tws_ckpt"))
        s.read.parquet(out).orderBy("user_id")
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    }),

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
      val in = docsDir(d, "lshstream_in")
      val out = tmp("lshstream_out")
      // the static corpus index comes from the SESSION memos (r13 opt):
      // banded signatures + token-hash verify table are materialized
      // once per session and shared with q_dedup_lsh_resolve — this key
      // used to re-derive + re-checkpoint both per call
      val refBands = graft.operators.EdgeGraph.lshBands(s, d)
        .select(col("doc_id").as("ref_id"), col("lang").as("ref_lang"),
          col("bsig").as("ref_bsig"))
      val refHs = graft.operators.EdgeGraph.tokenHashes(s, d)
        .select(col("doc_id").as("hs_id"), col("hs").as("ref_hs"))
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      // r14 opt (guide §2.5): the staged input is ONE parquet file, so
      // each micro-batch arrives as one partition and the 32-perm
      // signature + token-hash projections run on one core. This is a
      // STATELESS stream-static probe, so a round-robin repartition is
      // legal and the pair set is unchanged; width = the session's
      // default parallelism, the same batch-side knob
      // withBoundedStatePartitions documents for state stores.
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
      runToParquet(verified, out, tmp("lshstream_ckpt"))
      s.read.parquet(out).distinct().orderBy("a_id", "b_id")
    }),

    // Arbitrary-state v2 TIMERS (r6): per-user sessionization where
    // the trailing session is closed by an EVENT-TIME TIMER, not by a
    // subsequent event — the state-expiry surface s_tws_running_total
    // (ValueState, TimeMode.None) does not touch. In-batch gaps close
    // sessions inline in handleInputRows; the still-open session
    // registers a timer at last_event + gap, re-registered as events
    // extend it (deleteTimer + registerTimer — the sliding-timeout
    // idiom), and handleExpiredTimer emits it once the watermark
    // passes. Sessions within `gap` of the corpus max timestamp
    // correctly never close — exactly what a live pipeline sees.
    // Batch-twin equality (window sessionization + the same maturity
    // cut) pinned in StreamingSpec.
    "s_tws_session_timeout" -> ((s, d) => {
      import s.implicits._
      val out = tmp("twst_out")
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val ev = readEventsStream(s, eventsDir(d, "twst_in"))
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("ts"), unix_millis(col("ts")).as("ms"))
          .as[(Long, java.sql.Timestamp, Long)]
        val sessions = ev.groupByKey(_._1)
          .transformWithState(new SessionTimeout(SessionGapMs),
            TimeMode.EventTime(), OutputMode.Append())
          .toDF("user_id", "start_ms", "end_ms", "n_events")
        runToParquet(sessions, out, tmp("twst_ckpt"))
        s.read.parquet(out).orderBy("user_id", "start_ms")
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    }),

    // A7 through the DSv2 STREAMING_WRITE surface (r5): the staged-
    // commit sink's epoch-keyed commits (sinks/StagedCommitSink) make
    // a FULL replay idempotent with no key-based dedup at all — a
    // replayed epoch renames over its own epoch dir. The pipeline
    // runs twice from fresh checkpoints; the returned frame must equal
    // one batch projection of the input (pinned in DSv2SinkSpec).
    "s_dsv2_sink_ingest" -> ((s, d) => {
      val sink = tmp("v2sink_out")
      val in = eventsDir(d, "v2sink_in")
      def run(ck: String): Unit = withBoundedStatePartitions(s) {
        readEventsStream(s, in)
          .select("event_id", "user_id", "event_type", "value")
          .writeStream.format("graft.sinks.StagedCommitSink")
          .option("path", sink)
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination()
      }
      run(tmp("v2sink_ckpt"))
      run(tmp("v2sink_ckpt2")) // full replay — epoch-keyed idempotence
      graft.sinks.StagedCommitSink.readEpochs(s, sink, StructType(Seq(
          StructField("event_id", LongType), StructField("user_id", LongType),
          StructField("event_type", StringType), StructField("value", DoubleType))))
        .orderBy("event_id")
    }),

    // A7: idempotent keyed upsert per micro-batch (the Backendless-
    // save analog). The whole pipeline is run twice from a fresh
    // checkpoint — the second full replay must leave the sink
    // unchanged (merge-by-key), which the returned frame exposes.
    // The sink is hash-bucketed by key and each micro-batch rewrites
    // ONLY the buckets it touches — see `upsertOnce`.
    "s_foreach_upsert" -> ((s, d) => {
      val sink = tmp("upsert_sink") + "/cur"
      val in = eventsDir(d, "upsert_in")
      upsertOnce(s, in, sink, tmp("upsert_ckpt"))
      upsertOnce(s, in, sink, tmp("upsert_ckpt2")) // full replay — idempotence
      s.read.parquet(sink).drop("bucket")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
        .orderBy("event_id")
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
      val in = docsDir(d, "qgate_in")
      val out = tmp("qgate_out")
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
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
      runToParquet(gated, out, tmp("qgate_ckpt"))
      s.read.parquet(out).orderBy("doc_id")
    }),

    // Streaming count-min sketch: the q_count_min counter array
    // maintained as PER-KEY RUNNING STATE across micro-batches — the
    // mergeability property that makes CMS the streaming frequency
    // sketch. The input is the events table staged TWICE with
    // maxFilesPerTrigger=1, so the counters provably merge increments
    // from separate micro-batches; each batch emits the key's running
    // total (Append) and the read-back takes the final (max) value.
    // The DuckDB oracle rebuilds the doubled counter table from the
    // same md5 row hashes — equality proves per-key state carried
    // across batch boundaries.
    "s_stream_cms" -> ((s, d) => {
      import s.implicits._
      val out = tmp("cms_out")
      val in = stageEventsInput(s, d, 2, "cms_in")
      // set-and-restore: leaking this conf into the shared session
      // would silently re-type timestamps for every key run after it
      val tsKey = "spark.sql.parquet.outputTimestampType"
      val prevTs = s.conf.getOption(tsKey)
      s.conf.set(tsKey, "TIMESTAMP_MICROS")
      try {
      val rows = s.readStream.schema(rawSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .withColumn("item", concat_ws("|", col("event_type"),
          least(floor(col("value") / 50), lit(9L)).cast("long")))
        .select(col("item"), explode(expr("sequence(0, 3)")).as("r"))
        .withColumn("bkt",
          conv(substring(md5(concat(col("r").cast("string"), lit("|"),
            col("item"))), 1, 4), 16, 10).cast("int") % 256)
        .select(col("r"), col("bkt"))
        .as[(Int, Int)]
      val counters = withBoundedStatePartitions(s) {
        rows.groupByKey(identity)
          .flatMapGroupsWithState[Long, (Int, Int, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            case ((r, b), it, state: GroupState[Long]) =>
              val c = state.getOption.getOrElse(0L) + it.length
              state.update(c)
              Iterator.single((r, b, c))
          }
          .toDF("r", "bkt", "c")
      }
      runToParquet(counters, out, tmp("cms_ckpt"))
      s.read.parquet(out).groupBy("r", "bkt").agg(max("c").as("c"))
        .orderBy("r", "bkt")
      } finally prevTs match {
        case Some(v) => s.conf.set(tsKey, v)
        case None    => s.conf.unset(tsKey)
      }
    }),

    // Streaming z-score anomaly alarm: per-event-type running
    // (n, Σv, Σv²) state in EXACT centi longs; each event past the
    // 30-observation warmup scores against the state BEFORE its own
    // update (the online-monitoring convention), |z| > 3 alarms.
    // O(1) state per key; the read-back rolls alarms up per type.
    // The batch twin is a plain prefix window (ROWS … 1 PRECEDING)
    // over the same exact longs — the DuckDB oracle IS that twin, so
    // equality proves the sequential state math carried across rows.
    "s_stream_zscore" -> ((s, d) => {
      import s.implicits._
      val out = tmp("zsc_out")
      val ev = readEventsStream(s, eventsDir(d, "zsc_in"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("v_c"))
        .as[(String, Long, Long, Long)]
      val scored = withBoundedStatePartitions(s) {
        ev.groupByKey(_._1)
          .flatMapGroupsWithState[(Long, Long, Long), (String, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            case (t, rows, state: GroupState[(Long, Long, Long)]) =>
              var (n, s1, s2) = state.getOption.getOrElse((0L, 0L, 0L))
              val res = rows.toArray.sortBy(r => (r._2, r._3)).flatMap { r =>
                val o = if (n >= 30) {
                  // sd == 0 (all warmup values identical) would give
                  // z = NaN, where JVM abs(NaN) > 3 is false but DuckDB
                  // orders NaN above all values — guard both engines
                  // with the same exact-integer test s2·n > s1² (true
                  // iff the variance is strictly positive).
                  val alarm = if (s2 * n > s1 * s1) {
                    val mean = s1.toDouble / n
                    val sd = math.sqrt(
                      (s2 - s1.toDouble * s1 / n) / (n - 1))
                    if (math.abs((r._4 - mean) / sd) > 3.0) 1L else 0L
                  } else 0L
                  Some((t, alarm))
                } else None
                n += 1; s1 += r._4; s2 += r._4 * r._4
                o
              }
              state.update((n, s1, s2))
              res.iterator
          }
          .toDF("event_type", "alarm")
      }
      runToParquet(scored, out, tmp("zsc_ckpt"))
      s.read.parquet(out).groupBy("event_type")
        .agg(count(lit(1)).as("n_scored"), sum("alarm").as("n_alarms"))
        .orderBy("event_type")
    }),

    // Streaming CUSUM drift monitor in EXACT integers: the recursion
    // s⁺ₙ = max(0, s⁺ₙ₋₁ + (x−target−slack)) equals Pₙ − min₀..ₙ Pₖ
    // over the raw prefix sum P — so the O(1) per-type state is two
    // exact centi longs (P, minP), no clamped recursion and no
    // doubles anywhere. Alarm when s⁺ > H. The DuckDB oracle IS the
    // closed form: one prefix-sum window + one running-min window
    // over the same exact longs — equality proves the sequential
    // state math carried across rows.
    "s_stream_cusum" -> ((s, d) => {
      import s.implicits._
      val out = tmp("cusum_out")
      val target = 5000L; val slack = 200L; val h = 100000L
      val ev = readEventsStream(s, eventsDir(d, "cusum_in"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("v_c"))
        .as[(String, Long, Long, Long)]
      val scored = withBoundedStatePartitions(s) {
        ev.groupByKey(_._1)
          .flatMapGroupsWithState[(Long, Long), (String, Long, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            case (t, rows, state: GroupState[(Long, Long)]) =>
              var (p, minp) = state.getOption.getOrElse((0L, 0L))
              val res = rows.toArray.sortBy(r => (r._2, r._3)).map { r =>
                p += r._4 - target - slack
                if (p < minp) minp = p
                val sPlus = p - minp
                (t, if (sPlus > h) 1L else 0L, sPlus)
              }
              state.update((p, minp))
              res.iterator
          }
          .toDF("event_type", "alarm", "s_plus")
      }
      runToParquet(scored, out, tmp("cusum_ckpt"))
      s.read.parquet(out).groupBy("event_type")
        .agg(count(lit(1)).as("n_scored"), sum("alarm").as("n_alarms"),
          round(max("s_plus") / 100.0, 2).as("max_s_plus"))
        .orderBy("event_type")
    }),

    // Streaming new-extreme alarm: O(1) exact state = the running max
    // centi value per type; an arriving value strictly above it alarms
    // (the first value of a type is a new high by convention — stated,
    // and mirrored by the oracle's NULL branch). Oracle = prefix-max
    // window over ROWS … 1 PRECEDING.
    "s_stream_newhigh" -> ((s, d) => {
      import s.implicits._
      val out = tmp("nh_out")
      val ev = readEventsStream(s, eventsDir(d, "nh_in"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("v_c"))
        .as[(String, Long, Long, Long)]
      val scored = withBoundedStatePartitions(s) {
        ev.groupByKey(_._1)
          .flatMapGroupsWithState[Long, (String, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            case (t, rows, state: GroupState[Long]) =>
              var mx = state.getOption.getOrElse(Long.MinValue)
              val res = rows.toArray.sortBy(r => (r._2, r._3)).map { r =>
                val alarm = if (r._4 > mx) 1L else 0L
                if (r._4 > mx) mx = r._4
                (t, alarm)
              }
              state.update(mx)
              res.iterator
          }
          .toDF("event_type", "alarm")
      }
      runToParquet(scored, out, tmp("nh_ckpt"))
      s.read.parquet(out).groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("alarm").as("n_newhighs"))
        .orderBy("event_type")
    }),

    // Streaming per-type top-3 maxima: state = the running top list
    // (O(k) per key), merged per micro-batch (maxFilesPerTrigger=1 →
    // one batch per staged part file). Max-merge is COMMUTATIVE, so
    // the final top-3 is file-order-independent; every batch emits
    // its running top-3, and the read-back re-ranks the union of
    // emissions (which contains the true top-3 because the last
    // batch's emission is it) with event_id dedup. Oracle = the
    // plain batch top-3 per type.
    "s_stream_topk" -> ((s, d) => {
      import s.implicits._
      val out = tmp("topk_out")
      val in = stageEventsInput(s, d, 1, "topk_in")
      val ev = s.readStream.schema(rawSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("v_c"), col("event_id"))
        .as[(String, Long, Long)]
      val tops = withBoundedStatePartitions(s) {
        ev.groupByKey(_._1)
          .flatMapGroupsWithState[List[(Long, Long)], (String, Long, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            case (t, rows, state: GroupState[List[(Long, Long)]]) =>
              val merged = (state.getOption.getOrElse(Nil)
                ++ rows.map(r => (r._2, r._3)))
                .distinct.sortBy(p => (-p._1, p._2)).take(3)
              state.update(merged)
              merged.map(p => (t, p._1, p._2)).iterator
          }.toDF("event_type", "v_c", "event_id")
      }
      runToParquet(tops, out, tmp("topk_ckpt"))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("v_c").desc, col("event_id"))
      s.read.parquet(out)
        .select("event_type", "v_c", "event_id").distinct()
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 3)
        .select(col("event_type"), col("rank").cast("long").as("rank"),
          round(col("v_c") / 100.0, 2).as("value"), col("event_id"))
        .orderBy("event_type", "rank")
    }),

    // Streaming Markov transitions: per-user LAST-EVENT state
    // (flatMapGroupsWithState, O(1) state per key — the minimal
    // stateful-stream shape), each arriving event emits one
    // (prev → cur) pair; pair counts roll up at the sink read-back.
    // Batch twin: q_markov_transition's (cur, next, n) — equality
    // asserted in StreamingSpec. Carries µs timestamps as longs (the
    // sessionize precision rule) and sorts within the micro-batch;
    // cross-batch order is the file source's time order.
    "s_markov_transitions" -> ((s, d) => {
      import s.implicits._
      val out = tmp("markov_out")
      val ev = readEventsStream(s, eventsDir(d, "markov_in"))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
        .as[(Long, Long, Long, String)]
      val pairs = withBoundedStatePartitions(s) {
        ev.groupByKey(_._1)
          .flatMapGroupsWithState[(Long, Long, String), (String, String)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            case (_, rows, state: GroupState[(Long, Long, String)]) =>
              // PRECONDITION (enforced, not assumed): pairs are only
              // correct if batches arrive in event-time order per key.
              // The state carries the last-seen (ts_us, event_id); any
              // arriving event at-or-behind that high-water mark is a
              // late replay/out-of-order delivery and is DROPPED
              // (watermark-style) rather than silently emitting a
              // wrong (prev → cur) pair — a late event can never
              // retroactively splice into an already-emitted chain.
              val sorted = rows.toArray.sortBy(r => (r._2, r._3))
              val fresh = state.getOption match {
                case Some((lts, lid, _)) => sorted.filter(r =>
                  r._2 > lts || (r._2 == lts && r._3 > lid))
                case None => sorted
              }
              val chain = state.getOption.map(_._3).toArray ++ fresh.map(_._4)
              val out = chain.sliding(2)
                .collect { case Array(a, b) => (a, b) }.toList
              fresh.lastOption.foreach(e => state.update((e._2, e._3, e._4)))
              out.iterator
          }
          .toDF("cur", "next")
      }
      runToParquet(pairs, out, tmp("markov_ckpt"))
      s.read.parquet(out)
        .groupBy("cur", "next").agg(count(lit(1)).as("n"))
        .orderBy("cur", "next")
    }),

    // Streaming funnel match (the q_asof_tolerance streaming twin):
    // per user, a purchase matches the most recent click ≤ 1 h before
    // it. O(1) exact state = last click µs; emits one row per
    // purchase. Oracle = the batch running-max-of-click-µs window
    // over the same (ts, event_id) order.
    "s_stream_funnel" -> ((s, d) => {
      import s.implicits._
      val out = tmp("sfunnel_out")
      val ev = readEventsStream(s, eventsDir(d, "sfunnel_in"))
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"),
          to_date(col("ts")).cast("string").as("dd"))
        .as[(Long, Long, Long, String, String)]
      val matched = withBoundedStatePartitions(s) {
        ev.groupByKey(_._1)
          .flatMapGroupsWithState[Long, (String, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            case (_, rows, state: GroupState[Long]) =>
              var lastClick = state.getOption.getOrElse(Long.MinValue)
              val res = rows.toArray.sortBy(r => (r._2, r._3)).flatMap { r =>
                if (r._4 == "purchase") {
                  val ok = lastClick != Long.MinValue &&
                    r._2 - lastClick <= 3600000000L
                  Some((r._5, if (ok) 1L else 0L))
                } else { lastClick = r._2; None }
              }
              state.update(lastClick)
              res.iterator
          }
          .toDF("d", "matched")
      }
      runToParquet(matched, out, tmp("sfunnel_ckpt"))
      s.read.parquet(out).groupBy("d")
        .agg(count(lit(1)).as("n_purchases"),
          sum("matched").as("n_matched"))
        .orderBy("d")
    }),

    // Streaming drawdown alarm: O(1) exact state = the running peak
    // centi value per type; dd = peak − v alarms above 20.00 (2000
    // centi, stated). Oracle = prefix-max window including the
    // current row over the same exact longs.
    "s_stream_drawdown" -> ((s, d) => {
      import s.implicits._
      val out = tmp("sdd_out")
      val ev = readEventsStream(s, eventsDir(d, "sdd_in"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("v_c"))
        .as[(String, Long, Long, Long)]
      val scored = withBoundedStatePartitions(s) {
        ev.groupByKey(_._1)
          .flatMapGroupsWithState[Long, (String, Long, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            case (t, rows, state: GroupState[Long]) =>
              var peak = state.getOption.getOrElse(Long.MinValue)
              val res = rows.toArray.sortBy(r => (r._2, r._3)).map { r =>
                if (r._4 > peak) peak = r._4
                val dd = peak - r._4
                (t, dd, if (dd > 2000L) 1L else 0L)
              }
              state.update(peak)
              res.iterator
          }
          .toDF("event_type", "dd", "alarm")
      }
      runToParquet(scored, out, tmp("sdd_ckpt"))
      s.read.parquet(out).groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(max("dd") / 100.0, 2).as("max_dd"),
          sum("alarm").as("n_alarms"))
        .orderBy("event_type")
    }),

    // Streaming inter-arrival gap alarm: O(1) exact state = last µs
    // per type; a gap > 1 h alarms; the first event of a type has
    // gap 0 by convention (stated — the oracle's COALESCE branch).
    "s_stream_gap_alarm" -> ((s, d) => {
      import s.implicits._
      val out = tmp("sgap_out")
      val ev = readEventsStream(s, eventsDir(d, "sgap_in"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"))
        .as[(String, Long, Long)]
      val scored = withBoundedStatePartitions(s) {
        ev.groupByKey(_._1)
          .flatMapGroupsWithState[Long, (String, Long, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            case (t, rows, state: GroupState[Long]) =>
              var last = state.getOption.getOrElse(Long.MinValue)
              val res = rows.toArray.sortBy(r => (r._2, r._3)).map { r =>
                val gap = if (last == Long.MinValue) 0L else r._2 - last
                last = r._2
                (t, gap, if (gap > 3600000000L) 1L else 0L)
              }
              state.update(last)
              res.iterator
          }
          .toDF("event_type", "gap_us", "alarm")
      }
      runToParquet(scored, out, tmp("sgap_ckpt"))
      s.read.parquet(out).groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("alarm").as("n_gaps"),
          round(max("gap_us") / 1e6, 2).as("max_gap_sec"))
        .orderBy("event_type")
    }),

    // Streaming VWAP per type: O(1) exact state = (Σ price·1, Σ 1)
    // centi longs (every event trades one unit — stated); the
    // read-back divides once per type. Oracle = the plain batch
    // ratio over the same exact longs.
    "s_stream_vwap" -> ((s, d) => {
      import s.implicits._
      val out = tmp("svwap_out")
      val ev = readEventsStream(s, eventsDir(d, "svwap_in"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("v_c"))
        .as[(String, Long, Long, Long)]
      val scored = withBoundedStatePartitions(s) {
        ev.groupByKey(_._1)
          .flatMapGroupsWithState[(Long, Long), (String, Long, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            case (t, rows, state: GroupState[(Long, Long)]) =>
              var (sp, n) = state.getOption.getOrElse((0L, 0L))
              val res = rows.toArray.sortBy(r => (r._2, r._3)).map { r =>
                sp += r._4; n += 1
                (t, sp, n)
              }
              state.update((sp, n))
              res.iterator
          }
          .toDF("event_type", "sp", "n")
      }
      runToParquet(scored, out, tmp("svwap_ckpt"))
      // the LAST emission per type carries the final running state
      s.read.parquet(out).groupBy("event_type")
        .agg(max("n").as("n_events"), max(struct(col("n"), col("sp")))
          .getField("sp").as("sp_final"))
        .select(col("event_type"), col("n_events"),
          round(col("sp_final").cast("double") / col("n_events") / 100,
            4).as("vwap"))
        .orderBy("event_type")
    }),

    // Streaming ring-buffer z-score (the windowed twin of the
    // expanding s_stream_zscore): state = the last 20 centi values
    // per type (O(k) exact); an arriving value alarms when outside
    // mean ± 2sd of the PRIOR full ring (score-before-update), with
    // the exact 20·Σv² > (Σv)² positive-variance gate. Oracle = the
    // batch ROWS 20 PRECEDING..1 PRECEDING window over the same
    // longs.
    "s_stream_ring_zscore" -> ((s, d) => {
      import s.implicits._
      val out = tmp("sring_out")
      val ev = readEventsStream(s, eventsDir(d, "sring_in"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("v_c"))
        .as[(String, Long, Long, Long)]
      val scored = withBoundedStatePartitions(s) {
        ev.groupByKey(_._1)
          .flatMapGroupsWithState[List[Long], (String, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            case (t, rows, state: GroupState[List[Long]]) =>
              var ring = state.getOption.getOrElse(Nil)
              val res = rows.toArray.sortBy(r => (r._2, r._3)).map { r =>
                val alarm =
                  if (ring.length == 20) {
                    val s1 = ring.sum
                    val s2 = ring.map(x => x * x).sum
                    // 20·sd² cleared: (20v − s1)² > 4·(20·s2 − s1²)
                    val dev = 20L * r._4 - s1
                    if (20L * s2 > s1 * s1
                      && dev * dev > 4L * (20L * s2 - s1 * s1))
                      1L
                    else 0L
                  } else 0L
                ring = (ring :+ r._4).takeRight(20)
                (t, alarm)
              }
              state.update(ring)
              res.iterator
          }
          .toDF("event_type", "alarm")
      }
      runToParquet(scored, out, tmp("sring_ckpt"))
      s.read.parquet(out).groupBy("event_type")
        .agg(count(lit(1)).as("n_scored"), sum("alarm").as("n_alarms"))
        .orderBy("event_type")
    })
  )

  /** DuckDB oracles for the DETERMINISTIC streaming keys (r6 VERDICT
    * task 3): under Trigger.AvailableNow over a bounded in-order input
    * these sinks' read-backs are pure batch functions of the events
    * table, so the driver's DuckDB compare applies — and the read-back
    * projections above are ntz-safe (unix_micros / no timestamps).
    * The boundary-dependent keys (sessionize, tws timers, stream-
    * stream join, late-data replay, lsh stream) keep their OMIT
    * status: their emitted subset depends on watermark/timer cuts the
    * oracle can't express row-for-row — those stay pinned by
    * StreamingSpec's batch-equivalence asserts instead.
    */
  val oracle: Map[String, String] = Map(
    // the batch asof twin: running MAX of click µs over the same
    // (ts, event_id) order, 1-h tolerance, one row per purchase
    "s_stream_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(CAST(ts AS DATE) AS VARCHAR) AS d
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |w AS (
        |  SELECT event_type, d, ts_us,
        |    MAX(CASE WHEN event_type = 'click' THEN ts_us END)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_click
        |  FROM ev)
        |SELECT d, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(CASE WHEN last_click IS NOT NULL
        |    AND ts_us - last_click <= 3600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_matched
        |FROM w WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY d""".stripMargin,

    // prefix-max (including current) over the same exact centi longs
    "s_stream_drawdown" ->
      """WITH ev AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v
        |  FROM events),
        |w AS (
        |  SELECT event_type,
        |    MAX(v) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - v
        |      AS dd
        |  FROM ev)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  ROUND(MAX(dd) / 100.0, 2) AS max_dd,
        |  CAST(SUM(CASE WHEN dd > 2000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alarms
        |FROM w GROUP BY 1 ORDER BY event_type""".stripMargin,

    // lag window over the same order; first event gap 0 (COALESCE)
    "s_stream_gap_alarm" ->
      """WITH ev AS (
        |  SELECT event_type, ts, event_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |w AS (
        |  SELECT event_type,
        |    COALESCE(ts_us - lag(ts_us) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id), 0) AS gap_us
        |  FROM ev)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_gaps,
        |  ROUND(MAX(gap_us) / 1e6, 2) AS max_gap_sec
        |FROM w GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the batch ratio over the same exact centi longs (unit volume)
    "s_stream_vwap" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
        |    AS DOUBLE) / COUNT(*) / 100, 4) AS vwap
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // batch ROWS 20 PRECEDING..1 PRECEDING twin of the ring state,
    // identical cleared variance gate and ±2sd test
    "s_stream_ring_zscore" ->
      """WITH ev AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v
        |  FROM events),
        |w AS (
        |  SELECT event_type, v,
        |    COUNT(*) OVER wr AS nw,
        |    CAST(SUM(v) OVER wr AS BIGINT) AS s1,
        |    CAST(SUM(v * v) OVER wr AS BIGINT) AS s2
        |  FROM ev
        |  WINDOW wr AS (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |a AS (
        |  SELECT event_type,
        |    CASE WHEN nw = 20 AND 20 * s2 > s1 * s1
        |      AND (20 * v - s1) * (20 * v - s1)
        |        > 4 * (20 * s2 - s1 * s1)
        |      THEN 1 ELSE 0 END AS alarm
        |  FROM w)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
        |  CAST(SUM(alarm) AS BIGINT) AS n_alarms
        |FROM a GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the batch twin of the streaming state math: prefix window over
    // the same exact centi longs, warmup and alarm gates identical
    "s_stream_zscore" ->
      """WITH ev AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v
        |  FROM events),
        |w AS (
        |  SELECT event_type, v,
        |    COUNT(*) OVER wp AS n,
        |    SUM(v) OVER wp AS s1,
        |    SUM(v * v) OVER wp AS s2
        |  FROM ev
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |sc AS (
        |  SELECT event_type,
        |    CASE WHEN s2 * n > s1 * s1
        |        AND abs((v - CAST(s1 AS DOUBLE) / n)
        |          / sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)))
        |          > 3.0
        |      THEN 1 ELSE 0 END AS alarm
        |  FROM w WHERE n >= 30)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
        |  CAST(SUM(alarm) AS BIGINT) AS n_alarms
        |FROM sc GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the closed form of the CUSUM recursion: prefix sum + running
    // min over the same exact centi longs
    "s_stream_cusum" ->
      """WITH ev AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v
        |  FROM events),
        |p AS (
        |  SELECT event_type, ts, event_id,
        |    SUM(v - 5200) OVER wp AS pp
        |  FROM ev
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |sp AS (
        |  SELECT event_type,
        |    pp - LEAST(0, MIN(pp) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW)) AS s_plus
        |  FROM p)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
        |  CAST(SUM(CASE WHEN s_plus > 100000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_alarms,
        |  ROUND(MAX(s_plus) / 100.0, 2) AS max_s_plus
        |FROM sp GROUP BY 1 ORDER BY event_type""".stripMargin,

    // prefix-max over ROWS ... 1 PRECEDING; NULL prev = first value
    // = new high (the key's stated convention)
    "s_stream_newhigh" ->
      """WITH ev AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v
        |  FROM events),
        |w AS (
        |  SELECT event_type, v,
        |    MAX(v) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM ev)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN pm IS NULL OR v > pm THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_newhighs
        |FROM w GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the batch top-3 per type — the commutative-merge argument in
    // the key's comment is why file order can't change this
    "s_stream_topk" ->
      """WITH r AS (
        |  SELECT event_type,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v_c, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(ROUND(value * 100) AS BIGINT) DESC, event_id)
        |      AS rank
        |  FROM events)
        |SELECT event_type, CAST(rank AS BIGINT) AS rank,
        |  ROUND(v_c / 100.0, 2) AS value, event_id
        |FROM r WHERE rank <= 3
        |ORDER BY event_type, rank""".stripMargin,

    "s_stream_ingest" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
        |  CAST(json_extract(props, '$.k') AS INT) AS k,
        |  epoch_us(date_trunc('hour', ts)) AS hour_us
        |FROM events ORDER BY event_id""".stripMargin,

    "s_dedup_watermark" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,

    "s_stream_static_join" ->
      """SELECT event_id, user_id, event_type,
        |  'c' || CAST(user_id % 3 AS VARCHAR) AS cohort
        |FROM events ORDER BY event_id""".stripMargin,

    "s_foreach_upsert" ->
      """SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        |FROM events ORDER BY event_id""".stripMargin,

    "s_dsv2_sink_ingest" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

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

    // the doubled (2-copy staged input) counter table rebuilt from the
    // same md5 row hashes — cross-batch state merge proven by equality
    "s_stream_cms" ->
      """WITH it AS (
        |  SELECT event_type || '|' ||
        |    CAST(CAST(LEAST(FLOOR(value / 50), 9) AS BIGINT) AS VARCHAR)
        |    AS item
        |  FROM events),
        |rws AS (SELECT item, r
        |        FROM it, unnest(generate_series(0, 3)) t(r)),
        |h AS (SELECT r,
        |        CAST(CAST('0x' || substring(md5(CAST(r AS VARCHAR) || '|'
        |          || item), 1, 4) AS INT) % 256 AS INT) AS bkt
        |      FROM rws)
        |SELECT CAST(r AS INT) AS r, bkt, CAST(2 * COUNT(*) AS BIGINT) AS c
        |FROM h GROUP BY r, bkt ORDER BY r, bkt""".stripMargin,

    "s_markov_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next
        |  FROM events)
        |SELECT cur, next, COUNT(*) AS n FROM p
        |WHERE next IS NOT NULL GROUP BY 1, 2 ORDER BY cur, next""".stripMargin,

    // append-mode cut: a window is emitted once the watermark
    // (max ts − 10 min) has passed its END; the unflushed tail stays
    // in state. The cut predicate mirrors Spark's eviction exactly.
    "s_ohlc_bars" ->
      """WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events),
        |b AS (
        |  SELECT date_trunc('hour', ts) AS bucket, event_type, value, ts, event_id
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY bucket, event_type
        |                       ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY bucket, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM b)
        |SELECT bucket, event_type,
        |  ROUND(MAX(CASE WHEN ra = 1 THEN value END), 4) AS open,
        |  ROUND(MAX(value), 4) AS high,
        |  ROUND(MIN(value), 4) AS low,
        |  ROUND(MAX(CASE WHEN rd = 1 THEN value END), 4) AS close,
        |  COUNT(*) AS n,
        |  ROUND(SUM(value), 4) AS volume
        |FROM r CROSS JOIN wm
        |GROUP BY bucket, event_type, wm.w
        |HAVING bucket + INTERVAL 1 HOUR <= wm.w
        |ORDER BY bucket, event_type""".stripMargin
  )

  /** StatefulProcessor for s_tws_running_total: one named ValueState
    * per user carrying (count, sum); every input batch folds into it
    * and emits the updated totals. State is keyed storage in the
    * RocksDB provider — at scale this is the per-key point-lookup
    * shape, never a per-batch full-state scan. */
  private class RunningTotals
      extends StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {
    @transient private var totals: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)]("totals",
        org.apache.spark.sql.Encoders.product[(Long, Double)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                                 timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
      var (n, sum) = if (totals.exists()) totals.get() else (0L, 0.0)
      rows.foreach { r => n += 1; sum += r._2 }
      totals.update((n, sum))
      Iterator.single((key, n, sum))
    }
  }

  /** Session gap for s_tws_session_timeout (30 min, matching
    * q_session_gaps' batch sessionization). */
  private[graft] val SessionGapMs: Long = 30L * 60 * 1000

  /** StatefulProcessor for s_tws_session_timeout: one (start, last, n)
    * ValueState per user plus ONE live event-time timer at
    * last + gap. Timer bookkeeping is the per-key point-write shape —
    * no state scan; the store indexes timers by expiry so a batch
    * touches only the timers the watermark actually crossed. */
  private class SessionTimeout(gapMs: Long)
      extends StatefulProcessor[Long, (Long, java.sql.Timestamp, Long), (Long, Long, Long, Long)] {
    @transient private var sess: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
                                 timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val ts = rows.map(_._3).toArray.sorted
      val closed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var cur: Option[(Long, Long, Long)] =
        if (sess.exists()) {
          val c = sess.get()
          getHandle.deleteTimer(c._2 + gapMs) // will re-register at the new tail
          Some(c)
        } else None
      ts.foreach { t =>
        cur match {
          case Some((st, last, n)) if t - last > gapMs =>
            closed += ((key, st, last, n))
            cur = Some((t, t, 1L))
          case Some((st, last, n)) =>
            cur = Some((st, math.max(last, t), n + 1))
          case None =>
            cur = Some((t, t, 1L))
        }
      }
      cur.foreach { c =>
        sess.update(c)
        getHandle.registerTimer(c._2 + gapMs)
      }
      closed.iterator
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
      if (sess.exists() && sess.get()._2 + gapMs == info.getExpiryTimeInMs) {
        val (st, last, n) = sess.get()
        sess.clear()
        Iterator.single((key, st, last, n))
      } else Iterator.empty
    }
  }

  /** Key-bucket count of the upsert sink. 8 suffices for the test
    * corpus; at scale this is sized so a bucket rewrite is a bounded
    * unit of work (e.g. key-space / target-file-size). */
  private[graft] val upsertBuckets = 8

  /** One AvailableNow upsert run: per micro-batch, merge the batch into
    * a sink laid out as `bucket=k/` key-hash partitions, rewriting ONLY
    * the buckets the batch touches — O(touched buckets), not O(sink),
    * per micro-batch (the 100 TB posture; the old full-sink rewrite
    * reread and rewrote everything every batch). The merged buckets are
    * staged and swapped in with per-bucket renames, so the
    * inconsistency window is per-bucket, not sink-wide.
    */
  private[graft] def upsertOnce(s: SparkSession, in: String, sink: String, ckpt: String): Unit =
    // the bounded-partition wrapper here is about BATCH stage width,
    // not state stores (a foreachBatch sink is stateless): micro-batch
    // merge jobs on bounded inputs are dominated by per-stage
    // scheduling + first-use codegen, so 8-wide stages beat 32-wide
    // ones (profiled both: capped 2.7 s vs uncapped 3.1 s first batch).
    // At real scale the batch width should track micro-batch volume.
    withBoundedStatePartitions(s) {
    val q = readEventsStream(s, in)
      .select("event_id", "user_id", "event_type", "value", "ts")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sp = batch.sparkSession
        val withB = batch.withColumn("bucket", pmod(col("event_id"), lit(upsertBuckets)))
        // bounded by the bucket count, not by data volume
        val touched = withB.select("bucket").distinct().collect().map(_.getLong(0)).sorted
        // UPSERT means the incoming batch wins over the sink row for
        // the same key — tag each side with a priority and pick
        // deterministically. ts orders duplicate keys within one side,
        // and a value hash breaks exact (pri, ts) ties, so replayed
        // batches produce byte-identical sink contents regardless of
        // scan order.
        val ord = struct(col("pri"), col("ts"),
          xxhash64(col("user_id"), col("event_type"), col("value")))
        def newest(df: DataFrame): DataFrame = df
          .groupBy("event_id")
          .agg(max_by(
            struct("user_id", "event_type", "value", "ts", "bucket"), ord).as("r"))
          .select(col("event_id"), col("r.user_id"), col("r.event_type"),
            col("r.value"), col("r.ts"), col("r.bucket"))
        val merged =
          if (Files.exists(Paths.get(sink))) {
            val existing = sp.read.parquet(sink)
              .filter(col("bucket").isin(touched: _*))
              .withColumn("bucket", col("bucket").cast("long"))
              .withColumn("pri", lit(0))
            newest(existing.unionByName(withB.withColumn("pri", lit(1))))
          } else newest(withB.withColumn("pri", lit(1)))
        val staged = sink + "_staged"
        merged.write.mode("overwrite").partitionBy("bucket").parquet(staged)
        val fs = org.apache.hadoop.fs.FileSystem.get(sp.sparkContext.hadoopConfiguration)
        fs.mkdirs(new org.apache.hadoop.fs.Path(sink))
        touched.foreach { k =>
          val dst = new org.apache.hadoop.fs.Path(s"$sink/bucket=$k")
          fs.delete(dst, true)
          fs.rename(new org.apache.hadoop.fs.Path(s"$staged/bucket=$k"), dst)
        }
        fs.delete(new org.apache.hadoop.fs.Path(staged), true)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
