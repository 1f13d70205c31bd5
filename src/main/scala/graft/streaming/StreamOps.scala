package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

import graft.tables.Tables
import graft.util.ScopedConf

/** B.9 Structured Streaming parity layer (SURVEY.md §2 Part A ↦ B.9):
  * staging, the one run path, the state-store cap, and the listener-
  * path keys (burn ingest and backfill, event ingest, watermark dedup,
  * sessionize, the two joins, late data, OHLC, the two
  * transformWithState keys, the DSv2 sink and the keyed upsert). The
  * per-key state folds over events live in [[StreamState]], the
  * document and embedding streams in [[StreamCorpus]].
  *
  * Each `s_*` entry runs a real streaming query (file source →
  * transforms → sink) under `Trigger.AvailableNow` and returns the
  * sink read back as an ordered batch DataFrame, so the driver's
  * rows-only check and the batch-equivalence ScalaTest suite both see
  * the streamed result. The honest oracle for streaming is equality
  * with the batch twin (SURVEY.md §5.2.3); keys whose read-back is a
  * pure batch function of the input also carry a DuckDB oracle.
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
  private[streaming] val rawSchema = StructType(Seq(
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
  private[streaming] def stageTable(d: String, name: String): String = {
    val dir = tmp(name)
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

  /** Copy the events table into a fresh dir `copies` times (replay input). */
  private[streaming] def stageEventsInput(s: SparkSession, d: String, copies: Int): String = {
    val dir = tmp("events")
    (1 to copies).foreach { _ =>
      Tables.events(s, d)
        .withColumn("ts", col("ts").cast(TimestampNTZType)) // back to the raw NTZ µs shape
        .write.mode("append").parquet(dir)
    }
    dir
  }

  private[streaming] def readEventsStream(s: SparkSession, path: String): DataFrame =
    s.readStream.schema(rawSchema).parquet(path)
      .withColumn("ts", col("ts").cast(TimestampType))

  /** State stores per stateful operator. Every micro-batch commits one
    * delta file per state store, so on the bounded test inputs (state
    * ≤ a few thousand keys) the commit I/O follows this count, not the
    * data: in the alternating A/B of OPTIMIZATION_r14.md §11, 2 beat 8
    * on every sampled stateful key. Results do not depend on it
    * (batch-twin pins + oracle). At real scale the count should follow
    * input throughput; which value to derive is open (ROADMAP item 5). */
  private[streaming] val StateStoreCap = 2

  /** Runs `f` with stream-side shuffle partitions capped at
    * [[StateStoreCap]]. The state-store count is fixed in the
    * checkpoint when a query first starts, so only the start needs the
    * cap — building a plan under it changes nothing. Explicit
    * repartition() calls (e.g. the lsh probe fan-out) are unaffected. */
  private[streaming] def withBoundedStatePartitions[A](s: SparkSession)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    ScopedConf(s, key -> math.min(s.conf.get(key).toInt, StateStoreCap).toString)(f)
  }

  /** The run path of a streamed key: `df` runs into a parquet sink with
    * its checkpoint, both in fresh scratch dirs, and the sink comes
    * back as a batch read. `singleBatch` is for the order-sensitive
    * folds (see [[StreamState]]). */
  private[streaming] def runToParquet(df: DataFrame, singleBatch: Boolean = false): DataFrame = {
    val out = tmp("out")
    runInto(df, out, tmp("ckpt"), singleBatch)
    df.sparkSession.read.parquet(out)
  }

  /** Starts `df` into the parquet sink at `out`, checkpointed at
    * `ckpt`, under [[StateStoreCap]] and micros-typed sink timestamps
    * (the DuckDB-readable wire convention), and waits for the
    * AvailableNow run to end. Both confs are scoped to the run. With
    * `singleBatch`, a run that committed more than one data batch
    * fails. Keys that restart one query on one checkpoint
    * (s_late_data) call this with their own paths. */
  private[streaming] def runInto(df: DataFrame, out: String, ckpt: String,
                                 singleBatch: Boolean = false): Unit = {
    val s = df.sparkSession
    val q = ScopedConf(s, "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      withBoundedStatePartitions(s) {
        val q = df.writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q
      }
    }
    if (singleBatch) {
      val batches = q.recentProgress.count(_.numInputRows > 0)
      if (batches > 1) throw new IllegalStateException(
        s"a single-batch fold committed $batches data batches: it orders " +
          "rows only within a batch, so its result would not equal its batch twin")
    }
  }

  /** Last block of the burn keys' synthetic range: one block per 100
    * event rows, at least 100 blocks. */
  private def burnEndBlock(s: SparkSession, d: String): Long =
    math.max(100L, Tables.rowCount(s, d, "events") / 100) - 1

  /** RocksDB state store, which transformWithState requires. */
  private val rocksDbProvider = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 as a first-class connector: the DSv2 burn-event
    // MicroBatchStream → wei-exact decode → parquet sink (the sfDir
    // only sizes the synthetic block range, via burnEndBlock).
    "s_dsv2_burn_ingest" -> ((s, d) => {
      val stream = s.readStream.format("graft.sources.BurnEventSource")
        .option("startBlock", "0").option("endBlock", burnEndBlock(s, d).toString)
        .option("blocksPerTrigger", "100")
        .load()
        .withColumn("tokenWhole", expr("valueWei div CAST(1000000000000000000 AS DECIMAL(19,0))"))
      runToParquet(stream).orderBy("blockNumber", "logIndex")
    }),

    // A2 historical backfill as a BATCH DSv2 read with source-side
    // pushdown: the blockNumber filter narrows the scanned block range
    // INSIDE the source (BurnScanBuilder — the getLogs-range analog),
    // so filtered-out blocks are never generated, let alone scanned.
    "q_dsv2_burn_backfill" -> ((s, d) => {
      val endBlock = burnEndBlock(s, d)
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
      val decoded = readEventsStream(s, stageTable(d, "events"))
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .withColumn("hour", date_trunc("hour", col("ts")))
        .drop("props")
      runToParquet(decoded)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("k"),
          unix_micros(col("hour")).as("hour_us"))
        .orderBy("event_id")
    }),

    // A10: duplicate delivery across reconnects must not double-insert.
    // Read-back is ntz-safe (unix_micros) and therefore oracled: the
    // 2× replay must collapse to exactly the original table.
    "s_dedup_watermark" -> ((s, d) => {
      val in = stageEventsInput(s, d, copies = 2)
      val deduped = readEventsStream(s, in)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      runToParquet(deduped)
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
      val gapUs = 30L * 60 * 1000 * 1000
      // timestamps carried as unix µs longs end-to-end —
      // java.sql.Timestamp.getTime is ms-precision and would corrupt
      // the µs event times.
      // the watermarked event-time column must remain in the Dataset
      // for EventTimeTimeout to resolve; ts_us carries the µs value.
      val ev = readEventsStream(s, stageTable(d, "events"))
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
      runToParquet(sessions).orderBy("user_id", "s_start")
    }),

    // Stream ⋈ static dimension (no state needed).
    "s_stream_static_join" -> ((s, d) => {
      val cohorts = Tables.events(s, d).select("user_id").distinct()
        .withColumn("cohort", concat(lit("c"), col("user_id") % 3))
      val joined = readEventsStream(s, stageTable(d, "events"))
        .join(broadcast(cohorts), "user_id")
        .select("event_id", "user_id", "event_type", "cohort")
      runToParquet(joined).orderBy("event_id")
    }),

    // Stream-stream inner join with event-time bound (view→purchase
    // conversion pairs within 12 h), both sides watermarked.
    "s_stream_stream_join" -> ((s, d) => {
      val ev = readEventsStream(s, stageTable(d, "events"))
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
      runToParquet(joined).orderBy("v_id", "p_id")
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
      runInto(agg(), out, ckpt)
      // second delivery: only late rows (well behind the watermark)
      raw.withColumn("ts", col("ts") - expr("INTERVAL 40 DAYS"))
        .write.mode("append").parquet(in)
      runInto(agg(), out, ckpt)
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
      val bars = readEventsStream(s, stageTable(d, "events"))
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
      runToParquet(bars).orderBy("bucket", "event_type")
    }),

    // Spark 4's arbitrary-state API v2 (r5): per-user running totals
    // via transformWithState — typed ValueState through the
    // StatefulProcessorHandle instead of the flatMapGroupsWithState
    // closure-state shape (s_stateful_sessionize keeps the v1 surface;
    // this is the forward-looking one: named state variables, TTL
    // config, timers). TWS requires the RocksDB state-store provider —
    // scoped to the query. Batch equivalence (= one
    // groupBy) pinned in R5OpsSpec.
    "s_tws_running_total" -> ((s, d) => {
      import s.implicits._
      ScopedConf(s, rocksDbProvider) {
        val ev = readEventsStream(s, stageTable(d, "events"))
          .select(col("user_id"), col("value")).as[(Long, Double)]
        val totals = ev.groupByKey(_._1)
          .transformWithState(new RunningTotals, TimeMode.None(), OutputMode.Append())
          .toDF("user_id", "n_events", "sum_value")
          // 4dp: state accumulation order varies with shuffle order;
          // rounding absorbs the ~1e-12 double drift (§7.6)
          .select(col("user_id"), col("n_events"),
            round(col("sum_value"), 4).as("sum_value"))
        runToParquet(totals).orderBy("user_id")
      }
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
      ScopedConf(s, rocksDbProvider) {
        val ev = readEventsStream(s, stageTable(d, "events"))
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("ts"), unix_millis(col("ts")).as("ms"))
          .as[(Long, java.sql.Timestamp, Long)]
        val sessions = ev.groupByKey(_._1)
          .transformWithState(new SessionTimeout(SessionGapMs),
            TimeMode.EventTime(), OutputMode.Append())
          .toDF("user_id", "start_ms", "end_ms", "n_events")
        runToParquet(sessions).orderBy("user_id", "start_ms")
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
      val in = stageTable(d, "events")
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
      val in = stageTable(d, "events")
      upsertOnce(s, in, sink, tmp("upsert_ckpt"))
      upsertOnce(s, in, sink, tmp("upsert_ckpt2")) // full replay — idempotence
      s.read.parquet(sink).drop("bucket")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
        .orderBy("event_id")
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
        |ORDER BY bucket, event_type""".stripMargin,

    "s_dsv2_sink_ingest" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    "s_foreach_upsert" ->
      """SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        |FROM events ORDER BY event_id""".stripMargin
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
