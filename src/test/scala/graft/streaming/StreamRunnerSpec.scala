package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.util.ScopedConf

/** The run path every streamed key shares (StreamOps.runToParquet /
  * runInto): the state-store cap it applies at start, and the
  * single-batch guard of the order-sensitive folds. */
class StreamRunnerSpec extends AnyFunSuite with SparkFixture {

  private val idSchema = StructType(Seq(StructField("id", LongType)))

  /** A dir holding one parquet file per range. */
  private def staged(ranges: (Long, Long)*): String = {
    val dir = Files.createTempDirectory("graft_runner_in").toString
    ranges.foreach { case (a, b) =>
      spark.range(a, b).coalesce(1).write.mode("append").parquet(dir)
    }
    dir
  }

  test("the runner caps state stores at start, and restores the session's partitions") {
    val shuffleKey = "spark.sql.shuffle.partitions"
    ScopedConf(spark, shuffleKey -> "4") {
      // the stateful plan is built outside any cap
      val df = spark.readStream.schema(idSchema).parquet(staged((0L, 100L)))
        .selectExpr("id % 10 AS k").dropDuplicates("k")
      val out = Files.createTempDirectory("graft_runner_out").toString
      val ckpt = Files.createTempDirectory("graft_runner_ckpt").toString
      StreamOps.runInto(df, out, ckpt)
      val parts = Paths.get(ckpt, "state", "0").toFile.list()
        .filter(_.forall(_.isDigit)).toSet
      assert(parts === Set("0", "1"))
      assert(spark.conf.get(shuffleKey) === "4")
      assert(spark.read.parquet(out).count() === 10)
    }
  }

  test("a single-batch run that commits two data batches fails") {
    val in = staged((0L, 5L), (5L, 10L))
    def df = spark.readStream.schema(idSchema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val e = intercept[IllegalStateException](
      StreamOps.runToParquet(df, singleBatch = true))
    assert(e.getMessage.contains("committed 2 data batches"))
    // the same input unguarded, or drained in one batch, runs through
    assert(StreamOps.runToParquet(df).count() === 10)
    assert(StreamOps.runToParquet(spark.readStream.schema(idSchema).parquet(in),
      singleBatch = true).count() === 10)
  }
}
