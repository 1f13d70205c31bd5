package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed readers for the driver-generated parquet tables
  * (schemas: FIXTURES.md; read-only testdata, TESTDATA.md).
  *
  * Parquet is the schema source of truth — no runtime inference happens
  * here beyond parquet footer reads, and filters/projections applied by
  * callers push down to the vectorized parquet scan (verify via
  * `.explain`: `PushedFilters`/`ReadSchema`).
  */
object Tables {
  /** Footer-inferred schema per table path, resolved once per process.
    *
    * `spark.read.parquet(path)` with no explicit schema runs a small
    * schema-inference JOB on every call (~75 ms at local[*]); a session
    * that executes hundreds of queries pays it per table reference.
    * This is the local analogue of why production tables keep a CATALOG
    * schema instead of re-unioning footers per query (the
    * q_io_schema_evolution note). The memoized schema is byte-identical
    * to what inference yields — the first reference per path still
    * infers, every later reference pins it via `.schema(...)` and skips
    * the job. Keyed by absolute path only: testdata is read-only for a
    * process lifetime (TESTDATA.md), and `events` keeps its
    * footer-branch semantics because the branch runs on the memoized
    * schema (inferred under the same nanosAsLong conf).
    *
    * INVARIANT (r13 ADVICE): entries are never invalidated, so a path
    * must not be rewritten within one JVM, and the first caller's
    * parquet confs must match every later caller's. Both hold by
    * construction here: all reads go through [[rd]], the only
    * inference-relevant conf is `nanosAsLong`, and `events` — the one
    * table it affects — sets it unconditionally before every read. A
    * test or tool that regenerates files at a cached path in-process
    * would be served the stale schema; none does (testdata is
    * driver-generated before the JVM starts, TESTDATA.md).
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def rd(s: SparkSession, dir: String, name: String): DataFrame = {
    // Write TimestampType as annotated µs int64, not legacy INT96 —
    // INT96 reads back as ns and defeats µs-exact oracle comparison.
    s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path, p => s.read.parquet(p).schema)
    s.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = rd(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = rd(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = rd(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = rd(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = rd(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = rd(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = rd(s, d, "lineitem")
  /** `events.ts` has shipped as both TIMESTAMP(NANOS) (which Spark 4
    * only reads as LongType nanos via the legacy conf) and plain µs
    * TIMESTAMP across testdata generations. Branch on what the footer
    * actually yielded so either generation reads to the same µs
    * TimestampType column — matching what DuckDB 1.0 sees on read.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = rd(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = rd(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = rd(s, d, "embeddings")

  /** Row count of a table, summed from its parquet footers: sizing a
    * key by its input runs no Spark job. */
  def rowCount(s: SparkSession, d: String, table: String): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new Path(s"$d/$table.parquet")
    p.getFileSystem(conf).listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }
}
