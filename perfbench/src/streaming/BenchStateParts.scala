package graft.streaming

import org.apache.spark.sql.SparkSession

/** Runs `f` under the engine's own cap on stream-side state stores
  * (StreamOps.withBoundedStatePartitions), so the listener sizes its
  * state the way graft's streaming keys do and follows any change to
  * that policy. */
object BenchStateParts {
  def apply[A](s: SparkSession)(f: => A): A = StreamOps.withBoundedStatePartitions(s)(f)
}
