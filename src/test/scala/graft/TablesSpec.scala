package graft

import org.scalatest.funsuite.AnyFunSuite

/** Input sizing reads the parquet footers: `Tables.rowCount` is the
  * table's row count without running a Spark job. */
class TablesSpec extends AnyFunSuite with SparkFixture {

  private val sf01 = "/root/testdata/sf0.01"

  test("rowCount equals count() and runs no Spark job") {
    for ((table, read) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
        "events" -> tables.Tables.events, "embeddings" -> tables.Tables.embeddings)) {
      var n = -1L
      assert(jobsDuring { n = tables.Tables.rowCount(spark, sf01, table) } === 0)
      assert(n === read(spark, sf01).count(), table)
    }
  }
}
