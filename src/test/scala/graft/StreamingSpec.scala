package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps
import graft.tables.Tables

/** Batch-equivalence harness for the B.9 streaming layer
  * (SURVEY.md §5.2.3): every streamed result must equal its batch twin
  * over the same input, modulo documented append-mode boundaries
  * (open tail sessions / unemitted final windows).
  */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("s_stream_ingest equals batch decode") {
    val streamed = run("s_stream_ingest")
    val batch = Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("s_dedup_watermark collapses the 2x replay to the original stream") {
    val streamed = run("s_dedup_watermark")
    val n = Tables.events(spark, sf).count()
    assert(streamed.count() === n)
    assert(streamed.select("event_id").distinct().count() === n)
  }

  test("s_stateful_sessionize equals batch gaps-and-islands sessions (closed ones)") {
    val streamed = run("s_stateful_sessionize")
      .select("user_id", "s_start", "s_end", "n_events")

    val ev = Tables.events(spark, sf)
    ev.createOrReplaceTempView("ev_sess_test")
    val batch = spark.sql(
      """WITH o AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        |  FROM ev_sess_test),
        |f AS (SELECT user_id, ts,
        |        CASE WHEN pts IS NULL
        |             OR unix_micros(ts) - unix_micros(pts) > 1800000000
        |             THEN 1 ELSE 0 END AS flag FROM o),
        |g AS (SELECT user_id, ts,
        |        SUM(flag) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_end,
        |       COUNT(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin)

    // Append mode emits a session when it is closed by a later event or
    // its event-time timeout fires (s_end + gap < final watermark =
    // max ts). The open tail session per user may be unemitted.
    val maxTs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val gapUs = 30L * 60 * 1000 * 1000
    val lastPerUser = batch.groupBy("user_id").agg(max("s_start").as("s_start"))
      .withColumn("is_last", lit(true))
    val expected = batch.join(lastPerUser, Seq("user_id", "s_start"), "left")
      .filter(!(col("is_last") === true &&
                unix_micros(col("s_end")) + gapUs >= maxTs))
      .drop("is_last")

    assert(streamed.exceptAll(expected).isEmpty && expected.exceptAll(streamed).isEmpty,
      s"streamed=${streamed.count()} expected=${expected.count()}")
  }

  test("s_stream_lsh_dedup equals the batch LSH-banded, exact-verified pair set") {
    val streamed = run("s_stream_lsh_dedup")
    graft.expr.Registry.ensure(spark)
    val bands = graft.operators.EdgeGraph.minhashSigs(spark, sf, 32)
      .select(col("doc_id"), col("lang"),
        explode(expr(
          "transform(sequence(0, 7), b -> xxhash64(slice(sig, b * 4 + 1, 4), b))"))
          .as("bsig"))
    val cand = bands.select(col("lang"), col("bsig"), col("doc_id").as("a_id"))
      .join(bands.select(col("lang").as("l2"), col("bsig").as("b2"),
          col("doc_id").as("b_id")),
        col("lang") === col("l2") && col("bsig") === col("b2") &&
          col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val hs = Tables.documents(spark, sf)
      .select(col("doc_id"), expr("token_hashes(split(text, ' '))").as("hs"))
    val expected = cand
      .join(hs.select(col("doc_id").as("a_id"), col("hs").as("a_hs")), "a_id")
      .join(hs.select(col("doc_id").as("b_id"), col("hs").as("b_hs")), "b_id")
      .withColumn("i", expr("sorted_intersect_count(a_hs, b_hs)"))
      .filter(col("i") / (size(col("a_hs")) + size(col("b_hs")) - col("i")) >= 0.8)
      .select("a_id", "b_id")
    assert(streamed.exceptAll(expected).isEmpty && expected.exceptAll(streamed).isEmpty,
      s"streamed=${streamed.count()} expected=${expected.count()}")
  }

  test("s_tws_session_timeout: timer-closed sessions equal the batch twin") {
    val streamed = run("s_tws_session_timeout")
      .select("user_id", "start_ms", "end_ms", "n_events")

    val ev = Tables.events(spark, sf)
    ev.createOrReplaceTempView("ev_twst_test")
    val batch = spark.sql(
      """WITH o AS (
        |  SELECT user_id, unix_millis(ts) AS ms,
        |    lag(unix_millis(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pms
        |  FROM ev_twst_test),
        |f AS (SELECT user_id, ms,
        |        CASE WHEN pms IS NULL OR ms - pms > 1800000
        |             THEN 1 ELSE 0 END AS flag FROM o),
        |g AS (SELECT user_id, ms,
        |        SUM(flag) OVER (PARTITION BY user_id ORDER BY ms
        |                        ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id, MIN(ms) AS start_ms, MAX(ms) AS end_ms,
        |       COUNT(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin)

    // the trailing open session emits only once its timer
    // (end + gap) is at or behind the final watermark (max ts, ms)
    val maxMs = ev.agg(max(unix_millis(col("ts")))).head().getLong(0)
    val gapMs = 30L * 60 * 1000
    val lastPerUser = batch.groupBy("user_id").agg(max("start_ms").as("start_ms"))
      .withColumn("is_last", lit(true))
    val expected = batch.join(lastPerUser, Seq("user_id", "start_ms"), "left")
      .filter(!(col("is_last") === true && col("end_ms") + gapMs > maxMs))
      .drop("is_last")

    assert(streamed.exceptAll(expected).isEmpty && expected.exceptAll(streamed).isEmpty,
      s"streamed=${streamed.count()} expected=${expected.count()}")
  }

  test("s_stream_static_join equals batch join") {
    val streamed = run("s_stream_static_join")
    val cohorts = Tables.events(spark, sf).select("user_id").distinct()
      .withColumn("cohort", concat(lit("c"), col("user_id") % 3))
    val batch = Tables.events(spark, sf)
      .join(cohorts, "user_id")
      .select("event_id", "user_id", "event_type", "cohort")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("s_stream_stream_join equals batch theta join pairs") {
    val streamed = run("s_stream_stream_join").select("v_id", "p_id")
    val ev = Tables.events(spark, sf)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"), col("ts").as("v_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val batch = v.join(p, col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 12 HOURS"))
      .select("v_id", "p_id")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("s_late_data drops rows behind the watermark") {
    val streamed = run("s_late_data")
    // run 2 delivered only 40-day-stale rows: no window before the
    // original data's start may appear in the sink.
    val minTs = Tables.events(spark, sf).agg(min("ts")).head().getTimestamp(0)
    assert(streamed.filter(col("wstart") < lit(minTs) - expr("INTERVAL 1 HOUR")).count() === 0)
    // emitted windows match the batch counts over the original input
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("n"))
    val joined = streamed.join(batch, "wstart")
    assert(joined.filter(streamed("n") =!= batch("n")).count() === 0)
    assert(streamed.count() > 0 && streamed.count() <= batch.count())
  }

  test("s_ohlc_bars equals the batch OHLC on emitted (closed) windows") {
    val streamed = run("s_ohlc_bars")
    val batch = SparkEntry.queries("q_ohlc_resample")(spark, sf)
    val j = streamed.as("s").join(batch.as("b"), Seq("bucket", "event_type"))
    // every emitted bar exists in the batch result with equal values
    assert(j.count() === streamed.count())
    for (c <- Seq("open", "high", "low", "close", "n", "volume"))
      assert(j.filter(col(s"s.$c") =!= col(s"b.$c")).count() === 0,
        s"column $c diverges from the batch twin")
    // append-mode boundary: only the unflushed tail may be missing
    assert(streamed.count() > 0 && streamed.count() <= batch.count())
  }

  test("s_foreach_upsert is an idempotent keyed sink") {
    val sink = run("s_foreach_upsert")
    val n = Tables.events(spark, sf).count()
    assert(sink.count() === n)
    assert(sink.select("event_id").distinct().count() === n)
  }

  test("rate-micro-batch source generates the deterministic sequence (B.1 contract)") {
    // the synthetic-load source for soak-testing a pipeline shape:
    // rowsPerBatch fixed values 0..n-1 per batch, deterministic
    val out = java.nio.file.Files.createTempDirectory("graft_rate_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rate_ckpt").toString
    val q = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 100)
      .load()
      .select("timestamp", "value")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      def n(): Long =
        try spark.read.parquet(out).count() catch { case _: Throwable => 0L }
      while (n() < 200 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(n() >= 200, "rate source produced fewer than 2 batches in 60s")
    } finally q.stop()
    val got = spark.read.parquet(out)
    import org.apache.spark.sql.functions._
    // values are the exact sequence 0..n-1, no gaps or duplicates
    val stats = got.agg(min("value"), max("value"),
      count(lit(1)), countDistinct("value")).head()
    assert(stats.getLong(0) === 0L)
    assert(stats.getLong(1) === stats.getLong(2) - 1)
    assert(stats.getLong(2) === stats.getLong(3))
    assert(got.filter(col("timestamp").isNull).isEmpty)
  }

  test("stateful ops run unchanged on the RocksDB state store provider") {
    // the production state backend for large state (off-heap,
    // incremental checkpoints) — results must match the default
    // HDFS-backed provider exactly
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = run("s_dedup_watermark")
      val n = Tables.events(spark, sf).count()
      assert(streamed.count() === n)
      assert(streamed.select("event_id").distinct().count() === n)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("upsert rewrites only the key-buckets a batch touches") {
    import java.nio.file.{Files, Paths}
    val B = StreamOps.upsertBuckets
    val sink = Files.createTempDirectory("graft_ub_sink").toString + "/cur"
    def stage(df: org.apache.spark.sql.DataFrame): String = {
      val dir = Files.createTempDirectory("graft_ub_in").toString
      df.withColumn("ts", col("ts").cast("timestamp_ntz")).write.mode("append").parquet(dir)
      dir
    }
    StreamOps.upsertOnce(spark, stage(Tables.events(spark, sf)), sink,
      Files.createTempDirectory("graft_ub_ck1").toString)
    def sig(k: Int): Set[String] = {
      val files = Files.list(Paths.get(s"$sink/bucket=$k")).toArray
      files.map { p0 =>
        val p = p0.asInstanceOf[java.nio.file.Path]
        s"${p.getFileName}:${Files.getLastModifiedTime(p)}:${Files.size(p)}"
      }.toSet
    }
    (0 until B).foreach(k => assert(Files.exists(Paths.get(s"$sink/bucket=$k"))))
    val before = (0 until B).map(sig)
    // delta touches exactly one bucket (event_id ≡ 0 mod B)
    StreamOps.upsertOnce(spark,
      stage(Tables.events(spark, sf).filter(pmod(col("event_id"), lit(B)) === 0)),
      sink, Files.createTempDirectory("graft_ub_ck2").toString)
    val after = (0 until B).map(sig)
    assert(after(0) !== before(0), "touched bucket 0 must be rewritten")
    (1 until B).foreach(k =>
      assert(after(k) === before(k), s"untouched bucket $k was rewritten"))
    // merge-by-key: no new keys, so the sink row count is unchanged
    assert(spark.read.parquet(sink).count() === Tables.events(spark, sf).count())
  }

  test("q_agg_approx_distinct is within 5% of exact") {
    val approx = queries.Aggs.queries("q_agg_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      assert(math.abs(ap - ex).toDouble / ex <= 0.05, s"$k: approx=$ap exact=$ex")
    }
  }

  test("s_markov_transitions equals the batch transition counts") {
    val streamed = run("s_markov_transitions")
      .select("cur", "next", "n")
    val batch = graft.queries.EventsQ.queries("q_markov_transition")(spark, sf)
      .select("cur", "next", "n")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }
}
