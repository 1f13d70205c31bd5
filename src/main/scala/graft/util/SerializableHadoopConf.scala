package graft.util

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast

/** Java-serializable wrapper for a Hadoop `Configuration` (which is
  * `Writable` but not `Serializable`), so executor-side code can
  * resolve `FileSystem`s with the JOB's conf — scheme impls,
  * credentials, tuning — instead of a default `new Configuration()`
  * that silently drops all session settings on a real deployment.
  * Same shape as Spark's own (spark-private) wrapper: the conf
  * travels through its Writable write/readFields.
  *
  * Ship it with [[SerializableHadoopConf.broadcast]], never inside a
  * closure or a writer factory: a session conf is ~1k entries (~100 KB
  * serialized), and a wrapper captured by a task is serialized into
  * the task binary and deserialized again by EVERY task. A broadcast
  * reaches each executor once.
  */
class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

object SerializableHadoopConf {

  /** Broadcast a SNAPSHOT of `sc.hadoopConfiguration` as it is now:
    * the copy keeps later session conf changes out of this broadcast
    * in local mode too, where executors read the driver's object
    * instead of deserializing it. Take one per job or per query, not
    * per `SparkContext`, so conf set after this call reaches the
    * next job. Executor code reads it as `bc.value.value`. */
  def broadcast(sc: SparkContext): Broadcast[SerializableHadoopConf] =
    sc.broadcast(new SerializableHadoopConf(new Configuration(sc.hadoopConfiguration)))
}
