package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Round-10 wave 26 (SURVEY.md §2 B.10/B.10b): Lempel-Ziv 76 series
  * complexity via the codegen'd `lz76` Catalyst expression, and the
  * GSEA-style enrichment score through the range-partitioned
  * PrefixSum (corpus-grain running sum with NO single-partition
  * window).
  */
object StatsR10y {

  import DailyGrid.wo

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // LZ76 complexity of each type's up/down/flat daily symbol
    // sequence (sign of the day-over-day milli diff): the
    // Kaspar-Schuster phrase count via the codegen'd lz76 expression,
    // normalized by the n/log2(n) random-sequence baseline — low
    // values = structured/repetitive series. OMIT: the exhaustive-
    // history parse is sequential (no DuckDB equivalent); pinned by
    // the R10yOpsSpec reference fold.
    "q_lz76_series" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      DailyGrid.mean(s, d)
        .withColumn("py", lag("y", 1).over(wo))
        .filter(col("py").isNotNull)
        .withColumn("sym", signum((col("y") - col("py")).cast("double"))
          .cast("long"))
        .groupBy("event_type")
        .agg(array_agg(struct(col("d"), col("sym"))).as("rows"))
        .select(col("event_type"),
          expr("transform(array_sort(rows), r -> r.sym)").as("syms"))
        .select(col("event_type"), size(col("syms")).as("n_symbols"),
          expr("lz76(syms)").as("lz_phrases"))
        .withColumn("norm", col("lz_phrases")
          * (log(col("n_symbols").cast("double")) / lit(math.log(2.0)))
          / col("n_symbols"))
        .select(col("event_type"), col("n_symbols"), col("lz_phrases"),
          round(col("norm"), 4).as("lz_normalized"))
        .orderBy("event_type")
    }),

    // GSEA-style enrichment score: are English docs enriched at the
    // TOP of the quality ranking (1e6-snapped TTR, tie doc_id)?
    // Running deviation in EXACT cross-multiplied integer space
    // (+Nmiss per hit, −Nhit per miss — zero drift by construction),
    // cumulated through operators/PrefixSum so the corpus-grain
    // running sum needs no single-partition window; ES± = the
    // extreme deviations / (Nhit·Nmiss).
    "q_enrichment_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("l", split(col("text"), " "))
        .select(col("doc_id"), (col("lang") === "en").as("hit"),
          round(size(array_distinct(col("l"))) * lit(1e6)
            / size(col("l"))).cast("long").as("qu"))
        .localCheckpoint(eager = true) // count leg + walk leg
      val cnt = docs.agg(
        sum(when(col("hit"), 1L).otherwise(0L)).as("nh"),
        sum(when(!col("hit"), 1L).otherwise(0L)).as("nm"))
      val stepped = docs.crossJoin(broadcast(cnt))
        .withColumn("step",
          when(col("hit"), col("nm")).otherwise(-col("nh")))
      graft.operators.PrefixSum.rankAndCumSum(stepped,
          Seq(col("qu").desc, col("doc_id")), col("step"),
          "rn", "dev")
        .groupBy("nh", "nm")
        .agg(count(lit(1)).as("n_docs"), max("dev").as("mx"),
          min("dev").as("mn"))
        .withColumn("esp", col("mx")
          / (col("nh").cast("double") * col("nm")))
        .withColumn("esn", col("mn")
          / (col("nh").cast("double") * col("nm")))
        .select(col("n_docs"), col("nh").as("n_hits"),
          round(col("esp"), 6).as("es_pos"),
          round(col("esn"), 6).as("es_neg"),
          round(when(col("esp") > -col("esn"), col("esp"))
            .otherwise(col("esn")), 6).as("es"))
    })
  )

  val oracle: Map[String, String] = Map(
    // single-window twin — PrefixSum's exactness contract
    "q_enrichment_score" ->
      """WITH docs AS (
        |  SELECT doc_id, lang = 'en' AS hit,
        |    CAST(ROUND(len(list_distinct(string_split(text, ' ')))
        |      * 1e6 / len(string_split(text, ' '))) AS BIGINT) AS qu
        |  FROM documents),
        |cnt AS (
        |  SELECT CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nh,
        |    CAST(SUM(CASE WHEN NOT hit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nm
        |  FROM docs),
        |walk AS (
        |  SELECT nh, nm,
        |    CAST(SUM(CASE WHEN hit THEN nm ELSE -nh END)
        |      OVER (ORDER BY qu DESC, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS dev
        |  FROM docs, cnt),
        |g AS (
        |  SELECT nh, nm, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(MAX(dev) AS BIGINT) AS mx,
        |    CAST(MIN(dev) AS BIGINT) AS mn
        |  FROM walk GROUP BY 1, 2),
        |f AS (
        |  SELECT n_docs, nh, mx / (CAST(nh AS DOUBLE) * nm) AS esp,
        |    mn / (CAST(nh AS DOUBLE) * nm) AS esn
        |  FROM g)
        |SELECT n_docs, nh AS n_hits,
        |  ROUND(esp, 6) AS es_pos,
        |  ROUND(esn, 6) AS es_neg,
        |  ROUND(CASE WHEN esp > -esn THEN esp ELSE esn END, 6) AS es
        |FROM f""".stripMargin
  )
}
