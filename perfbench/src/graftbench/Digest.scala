package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Full-row, order-insensitive digest of a result: the row count and
  * the sums of two independent per-row hashes over every column
  * (columns taken in name order). Summing makes the digest blind to
  * row order and partitioning but not to a lost or duplicated row,
  * and hashing every column keeps the optimizer from pruning any
  * column the query computes. */
object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** The one-row aggregate whose collected value is the digest. */
  def frame(df: DataFrame): DataFrame = {
    val order = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    // hash expressions reject maps; their JSON text is canonical enough
    val cols: Seq[Column] = order.toSeq.map { case (f, i) =>
      if (hasMap(f.dataType)) to_json(col(s"c$i")) else col(s"c$i")
    }
    val hs = if (cols.isEmpty) Seq(lit(0)) else cols
    named.select(xxhash64(hs: _*).as("h"), hash(hs: _*).as("m"))
      .agg(count(lit(1)).as("n"),
        sum(col("h").cast(DecimalType(38, 0))).as("sh"),
        sum(col("m").cast(LongType)).as("sm"))
  }

  def value(dig: DataFrame): (Long, String) = {
    val r = dig.collect()(0)
    val n = r.getLong(0)
    (n, s"$n:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}")
  }

  def of(df: DataFrame): (Long, String) = value(frame(df))
}
