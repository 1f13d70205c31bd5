package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `adhoc`: one client runs a seeded, stratified sample of
  * SparkEntry.queries, each key once, closed loop. Set-up builds the
  * public session memos; each key is timed from its function call to
  * a full-row digest, split into build, plan and execute. */
object Adhoc {
  def run(ctx: Ctx): Unit = {
    val keys = scala.io.Source.fromFile(ctx.args("keys")).getLines().map(_.trim)
      .filter(_.nonEmpty).toSeq
    val memos = ctx.args.getOrElse("memos", "").split(",").filter(_.nonEmpty).toSeq
    val spark = Setup.repeated(ctx, memos)
    val queries = graft.SparkEntry.queries
    val d = ctx.dataDir
    val (cg0, cgMs0) = org.apache.spark.BenchCodegen.snapshot()
    val rows = mutable.ArrayBuffer[Map[String, Any]]()
    val w0 = Clock.ms()
    ctx.trace.span("adhoc") { _ =>
      keys.foreach { key =>
        ctx.trace.span(key) { ks =>
          val t0 = Clock.ms()
          val r = ctx.attempt(key) {
            val fn = queries.getOrElse(key, throw new NoSuchElementException(s"no key $key"))
            val (dig, tb) = timed(ctx, "build") { Digest.frame(fn(spark, d)) }
            val (_, tp) = timed(ctx, "plan") { dig.queryExecution.executedPlan }
            val ((n, digest), te) = timed(ctx, "exec") { Digest.value(dig) }
            Map("key" -> key, "ok" -> true, "total_s" -> (Clock.ms() - t0) / 1000.0,
              "build_s" -> tb, "plan_s" -> tp, "exec_s" -> te, "rows" -> n,
              "digest" -> digest, "span" -> ks.id)
          }
          rows += r.getOrElse(Map("key" -> key, "ok" -> false, "span" -> ks.id))
          // like graft.Bench: no cached plan outlives its key
          spark.catalog.clearCache()
        }
      }
    }
    ctx.result("wall_s") = (Clock.ms() - w0) / 1000.0
    val (cg1, cgMs1) = org.apache.spark.BenchCodegen.snapshot()
    ctx.result("keys") = rows.toSeq
    ctx.result("codegen") = Map("compiles" -> (cg1 - cg0), "ms" -> (cgMs1 - cgMs0))
    ctx.stop(spark)
  }

  private def timed[A](ctx: Ctx, name: String)(body: => A): (A, Double) =
    ctx.trace.span(name) { _ =>
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
}

/** Set-up, done `setupReps` times in one run so its median can be
  * reported: a fresh session, the shared warm-up and the given memo
  * tags. All but the last session are stopped. */
object Setup {
  def repeated(ctx: Ctx, memos: Seq[String]): SparkSession = {
    val warm = mutable.ArrayBuffer[Double]()
    val memoS = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val reps = (1 to ctx.setupReps).map { i =>
      // the previous set-up's garbage is not this one's cost
      System.gc()
      val t0 = Clock.ms()
      val spark = ctx.trace.span(s"setup-$i") { _ =>
        val s = ctx.session()
        val w0 = Clock.ms()
        ctx.trace.span("warm") { _ => ctx.warm(s) }
        warm += (Clock.ms() - w0) / 1000.0
        memos.foreach { tag =>
          val m0 = Clock.ms()
          ctx.trace.span(s"memo-$tag") { _ => Memos.build(s, ctx.dataDir, tag) }
          memoS.getOrElseUpdate(tag, mutable.ArrayBuffer()) += (Clock.ms() - m0) / 1000.0
        }
        s
      }
      val secs = (Clock.ms() - t0) / 1000.0
      if (i < ctx.setupReps) ctx.stop(spark)
      (secs, spark)
    }
    ctx.result("setup_reps_s") = reps.map(_._1)
    ctx.result("jvm_to_main_s") = (ctx.mainStartMs - ctx.jvmStartMs) / 1000.0
    ctx.result("warm_s") = warm.toSeq
    ctx.result("memo_s") = memoS.map { case (k, v) => k -> v.toSeq }
    reps.last._2
  }
}
