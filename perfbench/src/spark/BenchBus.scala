package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so the census is complete before it is read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Janino compilations so far and their total time in ms (exact while
  * the histogram's reservoir still holds every sample, else count x
  * mean). */
object BenchCodegen {
  def snapshot(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    (n, if (snap.size() >= n) snap.getValues.map(_.toDouble).sum else n * snap.getMean)
  }
}
