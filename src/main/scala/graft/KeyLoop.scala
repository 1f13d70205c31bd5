package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The per-key loop of the harness mains (Bench, Verify): every key
  * once, in the given order, each timed; a key that throws is logged
  * to stderr, recorded by name and never stops the run. */
object KeyLoop {
  type Query = (SparkSession, String) => DataFrame

  /** Wall seconds per key in run order (failed keys included), and the
    * failed keys, sorted. */
  final case class Outcome(secs: Seq[(String, Double)], failed: Seq[String]) {
    /** `"n_failed":N,"failed":[…]` for a harness JSON line, naming at
      * most `limit` keys. */
    def failedJson(limit: Int = Int.MaxValue): String =
      s""""n_failed":${failed.size},"failed":""" +
        failed.take(limit).map("\"" + _ + "\"").mkString("[", ",", "]")
  }

  def run(spark: SparkSession, d: String, tag: String,
          queries: Seq[(String, Query)])(use: (String, DataFrame) => Unit): Outcome = {
    val failed = Seq.newBuilder[String]
    val secs = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try use(name, fn(spark, d)) catch {
        case e: Throwable =>
          // never silent: a failed query must be visible in the log
          System.err.println(s"[$tag] $name FAILED: ${e.getMessage}")
          failed += name
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // drop per-query persists: hundreds of queries in one session
      // would otherwise accumulate leaked cached plans
      spark.catalog.clearCache()
      name -> dt
    }
    Outcome(secs, failed.result().sorted)
  }
}
