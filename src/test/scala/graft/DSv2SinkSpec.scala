package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.StagedCommitSink

/** The staged-commit DSv2 sink's transactional semantics: atomic
  * generation swap on commit, prior-generation survival on job abort,
  * superseded-generation GC, byte-exact string quoting, and the
  * writers' Hadoop conf arriving as a broadcast. */
class DSv2SinkSpec extends AnyFunSuite with SparkFixture {

  private def freshPath(tag: String): String =
    Files.createTempDirectory(s"graft_sink_$tag").toString

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType),
    StructField("s", StringType)))

  private def writeDf(df: org.apache.spark.sql.DataFrame, path: String): Unit =
    df.write.format("graft.sinks.StagedCommitSink")
      .option("path", path).mode("overwrite").save()

  test("overwrite swaps the generation atomically and GCs the old one") {
    import spark.implicits._
    val path = freshPath("swap")
    writeDf(Seq((1L, 1.5, "a"), (2L, 2.5, "b")).toDF("id", "v", "s"), path)
    val g1 = StagedCommitSink.currentDir(spark, path)
    assert(StagedCommitSink.read(spark, path, schema).count() === 2)
    writeDf(Seq((3L, 3.5, "c")).toDF("id", "v", "s"), path)
    val g2 = StagedCommitSink.currentDir(spark, path)
    assert(g1 !== g2)
    val rows = StagedCommitSink.read(spark, path, schema).collect()
    assert(rows.length === 1 && rows.head.getLong(0) === 3L)
    // superseded generation dir is gone; only the live one + pointer remain
    val entries = new java.io.File(path).listFiles().map(_.getName).toSet
    assert(!entries.contains(new java.io.File(g1).getName), entries.toString)
    assert(entries.contains(new java.io.File(g2).getName))
  }

  test("a failing job aborts: prior generation stays live, no staging residue") {
    import spark.implicits._
    val path = freshPath("abort")
    writeDf(Seq((1L, 1.0, "keep")).toDF("id", "v", "s"), path)
    val bad = spark.range(0, 100).select(col("id"),
      lit(1.0).as("v"),
      when(col("id") === 57, raise_error(lit("boom")))
        .otherwise(lit("x")).as("s"))
    intercept[Exception] { writeDf(bad, path) }
    // the committed view is untouched by the failed job
    val rows = StagedCommitSink.read(spark, path, schema).collect()
    assert(rows.length === 1 && rows.head.getString(2) === "keep")
    // and the failed job's staging dir was removed by BatchWrite.abort
    val residue = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.startsWith(".staging-"))
    assert(residue.isEmpty, residue.mkString(","))
  }

  test("string quoting round-trips commas, quotes and backslashes byte-exact") {
    import spark.implicits._
    val path = freshPath("quote")
    val tricky = Seq(
      (1L, 0.5, """plain"""),
      (2L, 1.5, """with,comma"""),
      (3L, 2.5, """with"quote"""),
      (4L, 3.5, """back\slash"""),
      (5L, 4.5, """both\",tricky"""))
    writeDf(tricky.toDF("id", "v", "s"), path)
    val got = StagedCommitSink.read(spark, path, schema)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(got.toSeq === tricky)
  }

  test("quoting property: generated strings round-trip byte-exact through write+read") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val params = Gen.Parameters.default.withSize(30)
    // printable chars with quote/backslash/comma over-weighted; \n and
    // \r excluded — the read path is multiLine=false by design (a
    // documented sink limitation, as in Spark's own csv defaults)
    val charGen = Gen.frequency(
      (8, Gen.choose(32.toChar, 126.toChar)),
      (2, Gen.oneOf('"', '\\', ',')))
    val strGen = Gen.nonEmptyListOf(charGen).map(_.mkString)
    val strings = (0 until 300).flatMap(i => strGen.apply(params, Seed(i.toLong)))
    val rows = strings.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val path = freshPath("prop")
    rows.toDF("id", "s").write.format("graft.sinks.StagedCommitSink")
      .option("path", path).mode("overwrite").save()
    val schema2 = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    val got = StagedCommitSink.read(spark, path, schema2)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === rows)
  }

  test("streaming epoch commits are replay-idempotent and equal the batch projection") {
    val got = graft.streaming.StreamOps.queries("s_dsv2_sink_ingest")(spark, sf)
      .collect()
    val expected = graft.tables.Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id").collect()
    // the query ran the WHOLE pipeline twice from fresh checkpoints:
    // equality with one batch pass proves the second replay replaced
    // its epochs instead of appending duplicates
    assert(got === expected)
  }

  test("a shorter replay deletes the prior run's tail epochs from the manifest") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val in = freshPath("stale_in")
    val sink = freshPath("stale_sink")
    val schema2 = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    Seq((1L, "a")).toDF("id", "s").coalesce(1).write.mode("append").parquet(in)
    Seq((2L, "b")).toDF("id", "s").coalesce(1).write.mode("append").parquet(in)
    def run(ck: String, maxFiles: Int): Unit =
      spark.readStream.schema(schema2).option("maxFilesPerTrigger", maxFiles)
        .parquet(in)
        .writeStream.format("graft.sinks.StagedCommitSink")
        .option("path", sink).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    run(freshPath("stale_ck1"), 1) // one file per epoch -> epochs 0 and 1
    // fresh checkpoint, both files in ONE batch -> only epoch 0; the
    // prior run's epoch-1 dir must leave the manifest AND the disk,
    // else readEpochs double-counts its rows
    run(freshPath("stale_ck2"), 10)
    val got = StagedCommitSink.readEpochs(spark, sink, schema2)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "a"), (2L, "b")))
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(sink, "epoch-1")),
      "stale tail epoch dir must be deleted on replay commit")
  }

  test("unsupported column types fail loudly at planning") {
    import spark.implicits._
    val path = freshPath("types")
    val withTs = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "ts")
    intercept[Exception] { writeDf(withTs, path) }
  }

  // ---- multi-generation retention + time travel (r11 task 6) ----

  private def writeRetained(df: org.apache.spark.sql.DataFrame,
                            path: String, retain: Int): Unit =
    df.write.format("graft.sinks.StagedCommitSink")
      .option("path", path).option("retain", retain.toString)
      .mode("overwrite").save()

  test("retain=3 keeps three generations; the 4th commit GCs the oldest") {
    import spark.implicits._
    val path = freshPath("retain")
    for (i <- 1 to 4)
      writeRetained(Seq((i.toLong, i * 1.0, s"v$i")).toDF("id", "v", "s"),
        path, retain = 3)
    val gens = StagedCommitSink.generations(spark, path)
    assert(gens.size === 3, gens.toString)
    // on-disk dirs match the log exactly (GC removed commit 1's dir)
    val dirs = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("gen-")).toSet
    assert(dirs === gens.toSet, s"dirs $dirs vs log $gens")
    // generations are commit-ordered: steps back read v4, v3, v2
    for ((expect, back) <- Seq("v4" -> 0, "v3" -> 1, "v2" -> 2)) {
      val rows = StagedCommitSink.readAt(spark, path, schema, back).collect()
      assert(rows.length === 1 && rows.head.getString(2) === expect,
        s"stepsBack=$back")
    }
    // _current still points at the newest generation
    assert(StagedCommitSink.read(spark, path, schema)
      .collect().head.getString(2) === "v4")
  }

  test("time travel past the retention horizon fails loudly") {
    import spark.implicits._
    val path = freshPath("horizon")
    writeRetained(Seq((1L, 1.0, "a")).toDF("id", "v", "s"), path, retain = 2)
    writeRetained(Seq((2L, 2.0, "b")).toDF("id", "v", "s"), path, retain = 2)
    val ex = intercept[IllegalArgumentException] {
      StagedCommitSink.readAt(spark, path, schema, stepsBack = 2)
    }
    assert(ex.getMessage.contains("retained"), ex.getMessage)
  }

  test("default retain=1 preserves the original swap-and-GC behavior") {
    import spark.implicits._
    val path = freshPath("retain1")
    writeDf(Seq((1L, 1.0, "a")).toDF("id", "v", "s"), path)
    writeDf(Seq((2L, 2.0, "b")).toDF("id", "v", "s"), path)
    val dirs = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("gen-"))
    assert(dirs.length === 1, dirs.mkString(","))
    assert(StagedCommitSink.generations(spark, path).size === 1)
  }

  // ---- optimistic concurrency + commit-log authority (r12 task 3) ----

  private def newWrite(path: String) = {
    import scala.jdk.CollectionConverters._
    val sch = schema
    val table = new StagedCommitSink()
      .getTable(sch, Array.empty, Map("path" -> path).asJava)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options() = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("path" -> path).asJava)
      override def queryId() = java.util.UUID.randomUUID().toString
      override def schema() = sch
    }
    table.newWriteBuilder(info).build()
  }

  private def newBatchWrite(path: String) = newWrite(path).toBatch

  private def writeOneRow(bw: org.apache.spark.sql.connector.write.BatchWrite,
                          id: Long, tag: String) = {
    val w = bw.createBatchWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions() = 1
      }).createWriter(0, id)
    w.write(org.apache.spark.sql.catalyst.InternalRow(
      id, 1.5, org.apache.spark.unsafe.types.UTF8String.fromString(tag)))
    w.commit()
  }

  test("two interleaved commits: one wins the CAS, the loser aborts loudly, table equals the winner") {
    import spark.implicits._
    val path = freshPath("cas")
    writeDf(Seq((0L, 0.0, "seed")).toDF("id", "v", "s"), path)
    // both writes are PLANNED against the same base version — the
    // real interleaving a concurrent-writer race produces
    val bw1 = newBatchWrite(path)
    val bw2 = newBatchWrite(path)
    val m1 = writeOneRow(bw1, 1L, "winner")
    val m2 = writeOneRow(bw2, 2L, "loser")
    bw1.commit(Array(m1))
    val ex = intercept[graft.sinks.ConcurrentWriteException] {
      bw2.commit(Array(m2))
    }
    assert(ex.getMessage.contains("concurrent commit conflict"), ex.getMessage)
    bw2.abort(Array(m2)) // what Spark's write exec does after the throw
    val rows = StagedCommitSink.read(spark, path, schema).collect()
    assert(rows.length === 1 && rows.head.getString(2) === "winner")
    // no staging residue, no orphan generation from the loser, and
    // the on-disk generations are exactly the log's
    val entries = new java.io.File(path).listFiles().map(_.getName)
    assert(!entries.exists(_.startsWith(".staging-")), entries.mkString(","))
    val gens = StagedCommitSink.generations(spark, path)
    assert(gens.size === 1)
    assert(entries.filter(_.startsWith("gen-")).toSet === gens.toSet,
      entries.mkString(","))
  }

  test("read paths derive from the commit log; a stale _current pointer is ignored") {
    import spark.implicits._
    val path = freshPath("authority")
    writeDf(Seq((1L, 1.0, "old")).toDF("id", "v", "s"), path)
    writeDf(Seq((2L, 2.0, "live")).toDF("id", "v", "s"), path)
    // simulate a crash between the CAS and the pointer write: the
    // pointer still names a superseded (deleted) generation
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_current"), "gen-bogus")
    assert(StagedCommitSink.read(spark, path, schema)
      .collect().head.getString(2) === "live")
    assert(!StagedCommitSink.currentDir(spark, path).endsWith("gen-bogus"))
  }

  test("a legacy _log table is readable and migrates to versioned commits on the next write") {
    import spark.implicits._
    val path = freshPath("legacy")
    // hand-build the r12 layout: one generation + _log + _current
    val gdir = new java.io.File(path, "gen-legacy1")
    assert(gdir.mkdirs())
    java.nio.file.Files.writeString(
      gdir.toPath.resolve("part-00000-0.csv"), "1,1.0,\"old\"\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_log"), "gen-legacy1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_current"), "gen-legacy1")
    // readable BEFORE migration via the _log fallback
    assert(StagedCommitSink.read(spark, path, schema)
      .collect().head.getString(2) === "old")
    writeRetained(Seq((2L, 2.0, "new")).toDF("id", "v", "s"), path, retain = 2)
    // migrated: versioned commits carry legacy v0 + new v1, _log gone
    val gens = StagedCommitSink.generations(spark, path)
    assert(gens === Seq("gen-legacy1", gens.last))
    assert(StagedCommitSink.readAt(spark, path, schema, stepsBack = 1)
      .collect().head.getString(2) === "old")
    assert(StagedCommitSink.read(spark, path, schema)
      .collect().head.getString(2) === "new")
    assert(!new java.io.File(path, "_log").exists())
  }

  // ---- the writers' Hadoop conf travels as a broadcast ----

  test("writer factories carry no Hadoop conf: each serializes under 16 KB") {
    val write = newWrite(freshPath("factory_size"))
    val info = new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
      override def numPartitions() = 2
    }
    def serializedBytes(o: AnyRef): Int = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      try out.writeObject(o) finally out.close()
      bytes.size()
    }
    // a session conf inside a factory is ~100 KB, and the factory goes
    // into the task binary of every (micro-)batch
    val batch = serializedBytes(write.toBatch.createBatchWriterFactory(info))
    val stream = serializedBytes(write.toStreaming.createStreamingWriterFactory(info))
    assert(batch < 16 * 1024, s"batch writer factory: $batch bytes")
    assert(stream < 16 * 1024, s"streaming writer factory: $stream bytes")
  }

  test("the writers resolve their file system from the session's Hadoop conf") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    val scheme = ProbeFileSystem.Scheme
    val keys = Map(
      s"fs.$scheme.impl" -> classOf[ProbeFileSystem].getName,
      s"fs.$scheme.impl.disable.cache" -> "true",
      s"fs.AbstractFileSystem.$scheme.impl" -> classOf[ProbeFs].getName)
    keys.foreach { case (k, v) => hc.set(k, v) }
    def partsCreated(): Seq[String] = {
      val names = Seq.newBuilder[String]
      var n = ProbeFileSystem.created.poll()
      while (n != null) { names += n; n = ProbeFileSystem.created.poll() }
      names.result().filter(_.startsWith("part-"))
    }
    try {
      // the scheme resolves only through fs.<scheme>.impl, and with
      // the cache off every writer looks it up in the conf it was given
      val schema2 = StructType(Seq(
        StructField("id", LongType), StructField("s", StringType)))
      val in = freshPath("probe_in")
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1)
        .write.mode("append").parquet(in)
      val streamSink = s"$scheme://" + freshPath("probe_stream")
      partsCreated()
      spark.readStream.schema(schema2).parquet(in)
        .writeStream.format("graft.sinks.StagedCommitSink")
        .option("path", streamSink)
        .option("checkpointLocation", freshPath("probe_ck"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      assert(partsCreated().nonEmpty, "streaming part files bypassed the probe")
      assert(StagedCommitSink.readEpochs(spark, streamSink, schema2)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        === Seq((1L, "a"), (2L, "b")))

      val batchSink = s"$scheme://" + freshPath("probe_batch")
      writeDf(Seq((3L, 3.5, "c"), (4L, 4.5, "d")).toDF("id", "v", "s"), batchSink)
      assert(partsCreated().nonEmpty, "batch part files bypassed the probe")
      assert(StagedCommitSink.read(spark, batchSink, schema)
        .orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(3L, 4L))
    } finally keys.keys.foreach(hc.unset)
  }
}

/** A local file system under a scheme of its own that records the name
  * of every file it creates. */
class ProbeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  override def getUri: java.net.URI = java.net.URI.create(s"${ProbeFileSystem.Scheme}:///")
  override def getScheme: String = ProbeFileSystem.Scheme

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    ProbeFileSystem.created.add(f.getName)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    ProbeFileSystem.created.add(f.getName)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object ProbeFileSystem {
  val Scheme = "graftprobe"
  val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** [[ProbeFileSystem]] for `FileContext`, which the sink's commit uses. */
class ProbeFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      uri, new ProbeFileSystem, conf, ProbeFileSystem.Scheme, false)
