package graft.util

import org.apache.spark.sql.SparkSession

/** Session confs that hold only while one body runs. A query that
  * needs a conf at plan or start time (a pushdown switch, a state-store
  * provider, the sink's timestamp type) must not leak it into the
  * shared session, where it would silently change every key run after
  * it.
  */
object ScopedConf {

  /** Sets each `key -> value`, runs `body`, then puts every key back to
    * its old value, or unsets it if it had none — also when `body`
    * throws. */
  def apply[A](s: SparkSession, kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      kv.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach { case (k, old) =>
      old.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }
}
