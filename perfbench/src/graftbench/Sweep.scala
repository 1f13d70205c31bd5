package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}

/** Creation-time sweep behind perfbench/expected/keys.tsv (run by
  * perfbench/make_expected.py, never by a benchmark run): every
  * SparkEntry key once, after the public memos are built, recording
  * its reference time, digest and the memo tags its jobs read. With
  * `dump=<dir>` each result is also written as parquet, with
  * oracle_sql.json, for the DuckDB oracle check, and the digest of the
  * re-read parquet is recorded beside the direct one. */
object Sweep {
  def run(ctx: Ctx): Unit = {
    val spark = ctx.session()
    ctx.warm(spark)
    val d = ctx.dataDir
    val sc = spark.sparkContext
    // RDD ids are sequential: the ids created while a tag builds are
    // exactly the memo frames (and their lineage) of that tag
    val ranges = Memos.tags.map { case (tag, build) =>
      val lo = sc.emptyRDD[Int].id
      val t0 = System.nanoTime()
      build(spark, d)
      val secs = (System.nanoTime() - t0) / 1e9
      val hi = sc.emptyRDD[Int].id
      System.err.println(f"[sweep] memo $tag%-12s $secs%.2f s")
      (tag, lo, hi)
    }
    val rddsByGroup = mutable.HashMap[String, mutable.Set[Int]]()
    sc.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("-")
        rddsByGroup.getOrElseUpdate(g, mutable.Set()) ++= e.stageInfo.rddInfos.map(_.id)
      }
    })
    val dump = ctx.args.get("dump")
    val lines = mutable.ArrayBuffer[String]()
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (key, fn) =>
        sc.setJobGroup(key, key)
        val t0 = System.nanoTime()
        val res = scala.util.Try(Digest.of(fn(spark, d)))
        val secs = (System.nanoTime() - t0) / 1e9
        val pq = res.toOption.flatMap(_ => dump).map { dir =>
          sc.setJobGroup(key + "#dump", key)
          scala.util.Try {
            val path = s"$dir/$key"
            fn(spark, d).coalesce(1).write.mode("overwrite").parquet(path)
            Digest.of(spark.read.parquet(path))._2
          }.getOrElse("error")
        }.getOrElse("-")
        spark.catalog.clearCache()
        org.apache.spark.BenchBus.drain(sc)
        val used = rddsByGroup.getOrElse(key, mutable.Set.empty[Int])
        val tags = ranges.collect { case (t, lo, hi) if used.exists(i => i > lo && i < hi) => t }
        val line = res match {
          case scala.util.Success((rows, dig)) =>
            f"$key\t$secs%.4f\t$rows\t$dig\t${tags.mkString(",")}\t$pq"
          case scala.util.Failure(e) =>
            System.err.println(s"[sweep] $key FAILED: ${e.getMessage}")
            f"$key\t$secs%.4f\t-1\tFAILED\t${tags.mkString(",")}\t-"
        }
        System.err.println("[sweep] " + line)
        lines += line
      }
    dump.foreach { dir =>
      val json = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
        .map { case (k, v) => Json.str(k) + ": " + Json.str(v) }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"), json)
    }
    Files.writeString(Paths.get(ctx.args("tsv")), lines.mkString("", "\n", "\n"))
    ctx.stop(spark)
  }
}
