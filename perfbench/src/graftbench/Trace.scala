package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a named interval at a call boundary of the benchmark,
  * with its parent, the run it belongs to and the counts recorded on
  * it. Times are epoch milliseconds (fractional). */
final class Span(val id: Int, val name: String, val parent: Int,
                 val startMs: Double) {
  var endMs: Double = Double.NaN
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
}

/** Spans at the benchmark's call boundaries. Every span also becomes
  * the Spark job group of the calls made inside it, so the scheduler
  * counts gathered by [[Census]] land on the span that caused them.
  * Spans are kept in memory and written with the result. */
final class Trace(val runId: String) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _

  def attach(ctx: SparkContext): Unit = sc = ctx

  private def setGroup(): Unit = if (sc != null && !sc.isStopped) stack match {
    case s :: _ => sc.setJobGroup(s.id.toString, s.name, interruptOnCancel = false)
    case Nil => sc.clearJobGroup()
  }

  def open(name: String): Span = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      Clock.ms())
    spans += s
    stack = s :: stack
    setGroup()
    s
  }

  def close(s: Span): Unit = {
    s.endMs = Clock.ms()
    stack = stack.dropWhile(_ ne s).drop(1)
    setGroup()
  }

  def span[A](name: String)(body: Span => A): A = {
    val s = open(name)
    try body(s) finally close(s)
  }

  /** A span whose interval is known after the fact (e.g. one
    * streaming batch taken from its progress report). */
  def record(name: String, parent: Int, startMs: Double, endMs: Double): Span = {
    val s = new Span(spans.size, name, parent, startMs)
    s.endMs = endMs
    spans += s
    s
  }

  /** Job groups other than a span's own id whose counts belong to the
    * span (a streaming query runs its jobs under its run id). */
  val extraGroups = mutable.HashMap[Int, String]()

  /** Copies each span's own scheduler counts onto it. */
  def attachCounts(census: Census): Unit = spans.foreach { s =>
    val groups = Seq(s.id.toString) ++ extraGroups.get(s.id)
    if (groups.exists(g => census.counts(g).isDefined)) {
      val k = census.total(groups)
      s.counts ++= Seq("jobs" -> k.jobs.toDouble, "stages" -> k.stages.toDouble,
        "tasks" -> k.tasks.toDouble, "task_ms" -> k.taskMs, "gc_ms" -> k.gcMs,
        "shuffle_write_bytes" -> k.shuffleWrite.toDouble,
        "spill_bytes" -> k.spill.toDouble, "scan_bytes" -> k.inputBytes.toDouble,
        "checkpoint_jobs" -> k.checkpointJobs.toDouble,
        "count_jobs" -> k.countJobs.toDouble)
    }
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> runId,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "counts" -> s.counts)
  }
}

object Clock {
  private val base = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def ms(): Double = base + (System.nanoTime() - baseNs) / 1e6
}

/** Scheduler census keyed by job group (= span id): jobs, stages,
  * tasks, task and GC time, shuffle, spill, scanned bytes, and the
  * call sites of the jobs. Attached only in traced runs. */
final class Census extends SparkListener {
  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskMs = 0.0; var gcMs = 0.0
    var shuffleWrite = 0L; var spill = 0L; var inputBytes = 0L
    var checkpointJobs = 0L; var countJobs = 0L
  }
  final case class StageRun(group: String, wallMs: Double, taskMs: Seq[Double])

  private val byGroup = mutable.HashMap[String, Counts]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val stageTasks = mutable.HashMap[Int, mutable.ArrayBuffer[Double]]()
  val stageRuns = mutable.ArrayBuffer[StageRun]()

  private def c(g: String): Counts = byGroup.getOrElseUpdate(g, new Counts)

  def counts(group: String): Option[Counts] = synchronized(byGroup.get(group))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    // the result stage is named after the job's call site, "<op> at <file>:<line>"
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val k = c(g)
    k.jobs += 1
    if (site.contains("heckpoint")) k.checkpointJobs += 1
    if (site.startsWith("count at")) k.countJobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val g = stageGroup.getOrElse(info.stageId, "-")
    c(g).stages += 1
    val wall = (for (a <- info.submissionTime; b <- info.completionTime) yield (b - a).toDouble)
      .getOrElse(0.0)
    stageRuns += StageRun(g, wall,
      stageTasks.remove(info.stageId).map(_.toSeq).getOrElse(Nil))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "-")
    val k = c(g)
    k.tasks += 1
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration.toDouble
    val m = e.taskMetrics
    if (m != null) {
      k.taskMs += m.executorRunTime
      k.gcMs += m.jvmGCTime
      k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      k.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Sum of the counts of every group in `groups`. */
  def total(groups: Iterable[String]): Counts = synchronized {
    val t = new Counts
    groups.flatMap(byGroup.get).foreach { k =>
      t.jobs += k.jobs; t.stages += k.stages; t.tasks += k.tasks
      t.taskMs += k.taskMs; t.gcMs += k.gcMs; t.shuffleWrite += k.shuffleWrite
      t.spill += k.spill; t.inputBytes += k.inputBytes
      t.checkpointJobs += k.checkpointJobs; t.countJobs += k.countJobs
    }
    t
  }
}
