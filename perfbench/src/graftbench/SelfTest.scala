package graftbench

import org.apache.spark.sql.functions._

/** Checks of the harness itself (run by perfbench/tests): the digest
  * ignores row order, partitioning and column order but sees a lost or
  * duplicated row, and the reference union-find and label propagation
  * give the expected labels on small graphs. */
object SelfTest {
  def run(ctx: Ctx): Unit = {
    val spark = ctx.session()
    def expect(name: String, ok: Boolean): Unit = {
      ctx.attempted += 1
      if (!ok) ctx.wrongOutput(name, "self-test failed")
    }
    val df = spark.range(0, 500).select(col("id"), (col("id") % 7).as("k"),
      concat(lit("x"), col("id").cast("string")).as("s"), (col("id") / 3.0).as("d"),
      map(col("k"), col("s")).as("m"), array(col("id"), col("k")).as("a"))
    val base = Digest.of(df)
    expect("digest-order", Digest.of(df.orderBy(col("id").desc)) == base)
    expect("digest-partitioning", Digest.of(df.repartition(7)) == base)
    expect("digest-columns", Digest.of(df.select(df.columns.reverse.map(col): _*)) == base)
    expect("digest-duplicate", Digest.of(df.union(df.filter(col("id") === 3))) != base)
    expect("digest-lost", Digest.of(df.filter(col("id") =!= 3)) != base)
    expect("digest-value", Digest.of(df.withColumn("d", when(col("id") === 3, 0.5)
      .otherwise(col("d")))) != base)
    expect("digest-count", base._1 == 500L)
    expect("union-find", Dedup.unionFind(Array(1L, 2L, 3L, 4L, 5L),
      Array((2L, 3L), (4L, 3L))) == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 5L))
    // star around 1 plus a pendant 5-4: the hub takes its smallest
    // neighbour label, leaves take the hub's
    expect("label-prop", Dedup.labelProp(Array((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L)), 1) ==
      Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 4L))
    ctx.stop(spark)
  }
}
