package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

/** `listen`: the burn-event listener, open loop at a fixed block rate.
  *
  * BurnEventSource (blocks served by [[PacedRpc]]) → the
  * s_dsv2_burn_ingest decode → dedup on (transactionHash, logIndex)
  * under a blockTs watermark → StagedCommitSink, checkpointed.
  * Backfill drains a fixed backlog with Trigger.AvailableNow; the live
  * phase resumes from the same checkpoint with a ProcessingTime
  * trigger while the stand-in releases blocks on schedule. */
object Listen {
  val backlogBlocks: Long = 8000L
  val backfillPerTrigger: Long = 1000L
  /** Blocks the set-up drains through the same pipeline, into a
    * checkpoint of its own, so the backfill's first batch does not pay
    * the streaming path's class loading and first compilations. */
  val warmBlocks: Long = 500L
  val liveRate: Double = 2.0      // blocks per second
  val livePerTrigger: Long = 1L   // the source's blocksPerTrigger while live
  val leadMs: Double = 1500.0     // first live block is due this long after start()
  /** Live blocks before the measured ones: the first batches after a
    * restart run the per-batch path still mostly interpreted and took
    * up to twice as long as the rest. */
  val liveWarmBlocks: Long = 4L

  val sinkSchema: StructType = StructType(Seq(
    StructField("transactionHash", StringType), StructField("logIndex", IntegerType),
    StructField("blockNumber", LongType), StructField("fromAddress", StringType),
    StructField("aeAddress", StringType), StructField("valueWei", StringType),
    StructField("tokenWhole", LongType), StructField("burnCount", LongType),
    StructField("blockTsUs", LongType)))

  private def source(spark: SparkSession, endBlock: Long, perTrigger: Long,
                     stream: Boolean): DataFrame = {
    val opts = Map("startBlock" -> "0", "endBlock" -> endBlock.toString,
      "blocksPerTrigger" -> perTrigger.toString,
      "numPartitions" -> spark.sparkContext.defaultParallelism.toString,
      "rpcClass" -> classOf[PacedRpc].getName)
    val fmt = "graft.sources.BurnEventSource"
    if (stream) spark.readStream.format(fmt).options(opts).load()
    else spark.read.format(fmt).options(opts).load()
  }

  /** Decode exactly as the s_dsv2_burn_ingest key does, then project to
    * the sink's wire types (wei kept exact as text). */
  private def decoded(df: DataFrame): DataFrame =
    df.withColumn("tokenWhole",
        expr("valueWei div CAST(1000000000000000000 AS DECIMAL(19,0))"))

  private def toSink(df: DataFrame): DataFrame = df.select(
    col("transactionHash"), col("logIndex"), col("blockNumber"), col("fromAddress"),
    col("aeAddress"), col("valueWei").cast(StringType).as("valueWei"),
    col("tokenWhole").cast(LongType).as("tokenWhole"), col("burnCount"),
    unix_micros(col("blockTs")).as("blockTsUs"))

  /** The dedup gets as many state stores as graft's own streaming keys
    * (the engine's cap, applied while the query starts); the count is
    * fixed in the checkpoint at the first start. */
  private def start(spark: SparkSession, endBlock: Long, perTrigger: Long,
                    trigger: Trigger, sink: String, ckpt: String): StreamingQuery =
    graft.streaming.BenchStateParts(spark) {
      toSink(decoded(source(spark, endBlock, perTrigger, stream = true))
          .withWatermark("blockTs", "10 minutes")
          .dropDuplicatesWithinWatermark("transactionHash", "logIndex"))
        .writeStream.format("graft.sinks.StagedCommitSink")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(trigger)
        .start()
    }

  private def progressJson(p: StreamingQueryProgress): Map[String, Any] = {
    val src = p.sources.headOption
    val state = p.stateOperators.headOption
    Map(
      "batch" -> p.batchId,
      "ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "rows" -> p.numInputRows,
      "start_block" -> src.flatMap(s => Option(s.startOffset)).map(_.toLong).getOrElse(-1L),
      "end_block" -> src.flatMap(s => Option(s.endOffset)).map(_.toLong).getOrElse(-1L),
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
      "state_rows" -> state.map(_.numRowsTotal).getOrElse(0L),
      "state_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L),
      "state_commit_ms" -> state.map(_.commitTimeMs).getOrElse(0L),
      "state_parts" -> state.map(_.numShufflePartitions).getOrElse(0L))
  }

  /** Drains blocks [0, backlogBlocks) with AvailableNow; returns
    * (events committed, wall seconds). */
  private def backfill(ctx: Ctx, spark: SparkSession, sink: String, ckpt: String,
                       blocks: Long = backlogBlocks): (Long, Double, StreamingQuery) = {
    Pace.reset(Schedule(ctx.seed, paced = false, 0.0, 0L, 1.0))
    val t0 = System.nanoTime()
    val q = start(spark, blocks - 1, backfillPerTrigger, Trigger.AvailableNow(),
      sink, ckpt)
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    val rows = q.recentProgress.map(_.numInputRows).sum
    (rows, secs, q)
  }

  /** Part of every set-up: a short backfill into a scratch checkpoint. */
  def warm(ctx: Ctx, spark: SparkSession): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(ctx.workDir), "listen-warm").toString
    val (_, _, q) = backfill(ctx, spark, s"$dir/sink", s"$dir/ckpt", warmBlocks)
    q.exception.foreach(e => throw e)
  }

  def run(ctx: Ctx): Unit = {
    val spark = Setup.repeated(ctx, Nil)
    val work = s"${ctx.workDir}/listen"
    val sink = s"$work/sink"; val ckpt = s"$work/ckpt"
    val wl = ctx.trace.open("listen")

    // backfill: the restart catch-up
    ctx.trace.span("backfill") { sp =>
      ctx.attempt("backfill") {
        val (rows, secs, q) = backfill(ctx, spark, sink, ckpt)
        q.exception.foreach(e => throw e)
        ctx.trace.extraGroups(sp.id) = q.runId.toString
        ctx.result("backfill") = Map("events" -> rows, "wall_s" -> secs,
          "batches" -> q.recentProgress.length, "blocks" -> backlogBlocks,
          "run_id" -> q.runId.toString, "span" -> sp.id,
          "progress" -> q.recentProgress.toSeq.map(progressJson))
      }
    }

    // live: resume from the same checkpoint, blocks released on schedule
    val liveBlocks = liveWarmBlocks + math.max(4L, math.round(ctx.seconds * liveRate))
    val end = backlogBlocks + liveBlocks - 1
    ctx.trace.span("live") { sp =>
      val tStart = Clock.ms()
      val sched = Schedule(ctx.seed, paced = true, tStart + leadMs, backlogBlocks, liveRate)
      Pace.reset(sched)
      val q = start(spark, end, livePerTrigger, Trigger.ProcessingTime(0L), sink, ckpt)
      ctx.trace.extraGroups(sp.id) = q.runId.toString
      try {
        // the source bounds the stream at `end`: this returns once every
        // scheduled block is committed
        val ok = ctx.attempt("live") {
          q.processAllAvailable()
          q.exception.foreach(e => throw e)
        }.isDefined
        q.stop()
        val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        if (ok) progress.foreach(p => ctx.attempted += 1) // each live batch is an op
        val blockEvents = (backlogBlocks to end).map(b =>
          graft.sources.BurnEvents.eventsInBlock(b, ctx.seed).size)
        ctx.result("live") = Map(
          "t_live_ms" -> sched.tLiveMs, "b_first" -> backlogBlocks, "b_last" -> end,
          "b_measured" -> (backlogBlocks + liveWarmBlocks),
          "rate" -> liveRate, "per_trigger" -> livePerTrigger,
          "block_events" -> blockEvents, "run_id" -> q.runId.toString, "span" -> sp.id,
          "serve_wait_ms" -> Pace.waitMs.sum(),
          "gen_late_max_ms" -> Pace.lateMax.get() / 1000.0,
          "progress" -> progress.map(progressJson))
        progress.foreach { p =>
          val pj = progressJson(p)
          val ts = pj("ts_ms").asInstanceOf[Double]
          val b = ctx.trace.record(s"batch-${p.batchId}", sp.id, ts,
            ts + p.durationMs.get("triggerExecution").longValue())
          b.counts("rows") = p.numInputRows.toDouble
        }
      } finally if (q.isActive) q.stop()
    }

    // output check: the sink equals a batch read of the same range
    ctx.trace.span("check") { _ =>
      ctx.attempt("check") {
        Pace.reset(Schedule(ctx.seed, paced = false, 0.0, 0L, 1.0))
        val got = graft.sinks.StagedCommitSink.readEpochs(spark, sink, sinkSchema)
        val want = toSink(decoded(source(spark, end, backfillPerTrigger, stream = false)))
        val (gn, gd) = Digest.of(got)
        val (wn, wd) = Digest.of(want)
        val distinct = got.select("transactionHash", "logIndex").distinct().count()
        ctx.result("check") = Map("sink_rows" -> gn, "batch_rows" -> wn,
          "distinct_keys" -> distinct, "sink_digest" -> gd, "batch_digest" -> wd)
        if (gd != wd || distinct != gn)
          ctx.wrongOutput("listen-sink", s"sink $gn rows ($distinct distinct) digest $gd " +
            s"!= batch read $wn rows digest $wd")
        val files = listFiles(new java.io.File(sink)).filter(_.getName.endsWith(".csv"))
        ctx.result("sink_files") = files.size
        ctx.result("sink_bytes") = files.map(_.length()).sum
      }
    }
    ctx.trace.close(wl)

    if (ctx.traced) {
      ctx.collectCensus(spark)
      ctx.stop(spark)
      // single-thread baseline: the same backfill at local[1]
      val one = ctx.trace.span("backfill-1core") { sp =>
        val s1 = ctx.session("local[1]")
        val r = ctx.attempt("backfill-1core") {
          val (rows, secs, q) = backfill(ctx, s1, s"$work/sink1", s"$work/ckpt1")
          q.exception.foreach(e => throw e)
          ctx.trace.extraGroups(sp.id) = q.runId.toString
          Map("events" -> rows, "wall_s" -> secs, "span" -> sp.id)
        }
        ctx.stop(s1)
        r
      }
      one.foreach(ctx.result("backfill_1core") = _)
    } else ctx.stop(spark)
  }

  private def listFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else Seq(f)
}
