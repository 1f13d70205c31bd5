package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-test")
    .getOrCreate()

  /** Jobs `body` starts. A marker job follows it in the same group,
    * and a listener sees job starts in order, so once the marker's
    * start is seen every job of `body` has been counted. */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-pin-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "marker") markerSeen.countDown()
          else jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try {
        body
        sc.setJobDescription("marker")
        spark.range(1).count()
      } finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    // keep the session alive across suites (same JVM when forked once)
    super.afterAll()
  }
}
