package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM. Arguments are `key=value` pairs
  * (written by perfbench/run.py); the raw result — spans, samples,
  * checks, failures and run metadata — goes to `out=` as JSON, and the
  * metrics are computed from it by run.py. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val ctx = new Ctx(args)
    val ok = try {
      args("workload") match {
        case "listen" => Listen.run(ctx)
        case "adhoc" => Adhoc.run(ctx)
        case "dedup" => Dedup.run(ctx)
        case "sweep" => Sweep.run(ctx)
        case "selftest" => SelfTest.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      true
    } catch {
      case e: Throwable =>
        ctx.fail("workload", e)
        false
    }
    ctx.finish(ok)
    // engine threads (e.g. shutdown hooks) must not keep the JVM alive
    sys.exit(if (ok) 0 else 1)
  }
}

/** Per-run state shared by the workloads: arguments, sessions, the
  * trace and census, attempted/failed accounting and the result map. */
final class Ctx(val args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args.getOrElse("seed", "0").toLong
  val seconds: Double = args.getOrElse("seconds", "10").toDouble
  val traced: Boolean = args.getOrElse("trace", "0") == "1"
  val cpus: Int = args.getOrElse("cpus", "4").toInt
  val dataDir: String = args.getOrElse("data", "")
  val workDir: String = args("work")
  val out: String = args("out")
  /** Set-ups per run; `setup_s` is their median. */
  val setupReps: Int = 3
  /** listen's checkpoint files go through the fork-free local file
    * system (see LocalFs.scala); the other workloads keep Hadoop's. */
  val sessionConf: Map[String, String] = if (workload == "listen") LocalFs.conf else Map.empty

  /** JVM start, epoch ms; start-up is reported apart from set-up. */
  val jvmStartMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  val mainStartMs: Double = Clock.ms()

  val trace = new Trace(s"$workload-$seed-${System.currentTimeMillis()}")
  /** One census for every session of the run (traced runs only). */
  lazy val census: Census = new Census
  val result = mutable.LinkedHashMap[String, Any]()
  val failures = mutable.ArrayBuffer[Map[String, Any]]()
  var attempted = 0L
  var wrong = 0L

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Throwable => "" }
  private val loadStart = loadavg()

  def session(master: String = s"local[$cpus]"): SparkSession = {
    val parts = master.stripPrefix("local[").stripSuffix("]")
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config(sessionConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    trace.attach(spark.sparkContext)
    if (traced) spark.sparkContext.addSparkListener(census)
    spark
  }

  /** Stops a session after copying its census onto the spans. */
  def stop(spark: SparkSession): Unit = {
    collectCensus(spark)
    spark.stop()
  }

  def collectCensus(spark: SparkSession): Unit =
    if (traced && !spark.sparkContext.isStopped) {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      trace.attachCounts(census)
    }

  /** The shared session warm-up: JIT, codegen, the parquet reader and
    * the engine's custom expressions, so the first timed call does not
    * absorb one-time framework cost. */
  def warm(spark: SparkSession): Unit = {
    spark.range(200000L).selectExpr("sum(id)", "avg(id)").collect()
    graft.expr.Registry.ensure(spark)
    spark.range(1, 17).selectExpr("id",
        "split(concat('tok', id, ' tok', id + 1, ' tok', id + 2), ' ') AS toks")
      .selectExpr("bigram_hashes(toks)", "token_hashes(toks)",
        "minhash_sig(toks, 16)", "keccak256('ab')")
      .collect()
    Digest.of(spark.range(1000).selectExpr("id", "cast(id AS string) AS s"))
    if (dataDir.nonEmpty)
      graft.tables.Tables.documents(spark, dataDir).groupBy("lang").count().collect()
    if (workload == "listen") Listen.warm(this, spark)
  }

  /** Runs one attempted operation; a throw is recorded by name and the
    * operation gets no timing. */
  def attempt[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body) catch {
      case e: Throwable => fail(name, e); None
    }
  }

  def fail(name: String, e: Throwable): Unit = {
    val msg = Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" ")
    System.err.println(s"[perfbench] FAILED $name: $msg")
    failures += Map("name" -> name, "error" -> msg.take(400))
  }

  /** An output check that did not hold: counted as a wrong op. */
  def wrongOutput(name: String, detail: String): Unit = {
    wrong += 1
    System.err.println(s"[perfbench] WRONG $name: $detail")
    failures += Map("name" -> name, "error" -> s"wrong output: $detail")
  }

  private def vmHwmKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Throwable => 0L }

  def finish(ok: Boolean): Unit = {
    val meta = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> s"local[$cpus]",
      "heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "jvm_start_ms" -> jvmStartMs, "main_start_ms" -> mainStartMs,
      "spark_version" -> org.apache.spark.SPARK_VERSION)
    val body = mutable.LinkedHashMap[String, Any](
      "ok" -> ok, "attempted" -> attempted, "failed" -> failures.size,
      "wrong" -> wrong, "failures" -> failures.toSeq, "meta" -> meta,
      "peak_rss_mb" -> vmHwmKb() / 1024.0)
    body ++= result
    if (traced) {
      body("spans") = trace.toJson
      body("stages") = census.stageRuns.toSeq.map { r =>
        val ts = r.taskMs.sorted
        Map("group" -> r.group, "wall_ms" -> r.wallMs, "tasks" -> ts.size,
          "max_ms" -> ts.lastOption.getOrElse(0.0),
          "median_ms" -> (if (ts.isEmpty) 0.0 else ts(ts.size / 2)))
      }
    }
    Files.writeString(Paths.get(out), Json(body) + "\n")
  }
}
