package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 41 (SURVEY.md §2 B.10b): engine-semantics and
  * profiling keys — calendar densification by sequence explode with
  * a gaps-and-islands longest-missing-run, functional-dependency
  * audits over three stated column pairs, ROLLUP with GROUPING
  * flags, explode-vs-explode_outer row accounting on a derived
  * sometimes-empty array, per-language vocabulary purity against the
  * top-100 in-language vocab, and a trailing-window rolling p90
  * exceedance count.
  *
  * All counts exact; purity snaps per doc to 1e6 before averaging.
  */
object StatsR9zn {

  import DailyGrid.wo

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Calendar densification per type: sequence(min_d, max_d) left-
    // joined against observed days; missing days fill 0 and the
    // longest missing run comes from the island trick on the filled
    // flag.
    "q_densify_days" -> ((s, d) => {
      val act = DailyGrid.mean(s, d)
        .select(col("event_type"), col("d").as("dd"), col("cnt").as("n"))
      val span = act.groupBy("event_type")
        .agg(min("dd").as("lo"), max("dd").as("hi"))
      val cal = span
        .select(col("event_type"),
          explode(expr("sequence(lo, hi, interval 1 day)")).as("dd"))
      val filled = cal.join(act, Seq("event_type", "dd"), "left")
        .withColumn("missing", col("n").isNull)
        .localCheckpoint(eager = true)
      val w = Window.partitionBy("event_type").orderBy("dd")
      val runs = filled.filter(col("missing"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("grp", expr("date_sub(dd, CAST(rn AS INT))"))
        .groupBy("event_type", "grp").agg(count(lit(1)).as("len"))
        .groupBy("event_type").agg(max("len").as("max_gap_days"))
      filled.groupBy("event_type")
        .agg(count(lit(1)).as("n_days_span"),
          sum(when(col("missing"), 1L).otherwise(0L)).as("n_missing"))
        .join(runs, Seq("event_type"), "left")
        .select(col("event_type"), col("n_days_span"), col("n_missing"),
          coalesce(col("max_gap_days"), lit(0L)).as("max_gap_days"))
        .orderBy("event_type")
    }),

    // Functional-dependency audit over three stated pairs:
    // custkey→nationkey (holds), partkey→brand (holds),
    // custkey→orderpriority across orders (expected to fail) —
    // violating determinants and the worst fan-out.
    "q_fd_check" -> ((s, d) => {
      def fd(df: DataFrame, k: String, v: String, name: String) =
        df.groupBy(col(k)).agg(countDistinct(col(v)).as("nd"))
          .agg(lit(name).as("fd"), count(lit(1)).as("n_keys"),
            sum(when(col("nd") > 1, 1L).otherwise(0L))
              .as("n_violating_keys"),
            max("nd").as("max_distinct"))
      val a = fd(Tables.customer(s, d), "c_custkey", "c_nationkey",
        "custkey_to_nationkey")
      val b = fd(Tables.part(s, d), "p_partkey", "p_brand",
        "partkey_to_brand")
      val c = fd(Tables.orders(s, d), "o_custkey", "o_orderpriority",
        "custkey_to_orderpriority")
      a.union(b).union(c).orderBy("fd")
    }),

    // ROLLUP with GROUPING flags: (returnflag, linestatus) rollup,
    // gid = 2·grouping(rf) + grouping(ls), exact qty sums.
    "q_grouping_id" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg((grouping(col("l_returnflag")) * 2
          + grouping(col("l_linestatus"))).as("gid"),
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("gid").cast("long").as("gid"), col("n"), col("qty"))
        .orderBy("gid", "rf", "ls")
    }),

    // explode vs explode_outer accounting on the long-token array
    // (tokens with length > 8 — sometimes empty, stated): outer
    // preserves empty-array docs as one null row.
    "q_explode_outer" -> ((s, d) => {
      val arr = Tables.documents(s, d)
        .select(col("doc_id"),
          filter(split(col("text"), " "), t => length(t) > 8).as("a"))
        .localCheckpoint(eager = true)
      val inner = arr.select(col("doc_id"), explode(col("a")).as("t"))
        .agg(count(lit(1)).as("n_rows_inner"))
      val outer = arr.select(col("doc_id"),
          explode_outer(col("a")).as("t"))
        .agg(count(lit(1)).as("n_rows_outer"),
          sum(when(col("t").isNull, 1L).otherwise(0L))
            .as("n_null_rows"))
      val docs = arr.agg(count(lit(1)).as("n_docs"),
        sum(when(size(col("a")) === 0, 1L).otherwise(0L))
          .as("n_empty_docs"))
      docs.crossJoin(inner).crossJoin(outer)
        .select(col("n_docs"), col("n_empty_docs"), col("n_rows_inner"),
          col("n_rows_outer"), col("n_null_rows"))
    }),

    // Per-language vocabulary purity: top-100 in-language vocab
    // (count DESC, word), per-doc in-vocab token share snapped to
    // 1e6, per-lang mean/min.
    "q_lang_purity" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .localCheckpoint(eager = true)
      val wTop = Window.partitionBy("lang")
        .orderBy(col("cw").desc, col("w").asc)
      val top = toks.groupBy("lang", "w").agg(count(lit(1)).as("cw"))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 100)
        .select("lang", "w")
      val per = toks.join(top.withColumn("inv", lit(1L)),
          Seq("lang", "w"), "left")
        .groupBy("lang", "doc_id")
        .agg(count(lit(1)).as("nt"),
          sum(coalesce(col("inv"), lit(0L))).as("iv"))
        .select(col("lang"),
          round(col("iv") * lit(1e6) / col("nt")).cast("long")
            .as("p_u"))
      per.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(sum("p_u") / count(lit(1)).cast("double") / 1e6, 6)
            .as("mean_purity"),
          round(min("p_u") / 1e6, 6).as("min_purity"))
        .orderBy("lang")
    }),

    // Trailing-window rolling p90 exceedance per type: full 14-day
    // PRIOR windows (−14..−1), p90 = 13th order statistic (type-1,
    // ceil(0.9·14), stated); count days strictly above.
    "q_rolling_p90" -> ((s, d) => {
      val w14 = wo.rowsBetween(-14, -1)
      DailyGrid.mean(s, d)
        .withColumn("arr", collect_list("y").over(w14))
        .filter(size(col("arr")) === 14)
        .withColumn("p90", element_at(array_sort(col("arr")), 13))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("y") > col("p90"), 1L).otherwise(0L))
            .as("n_exceed"),
          round(max(struct(col("d"), col("p90"))).getField("p90")
            / 1000.0, 6).as("last_p90"))
        .orderBy("event_type")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical sequence densification + island runs
    "q_densify_days" ->
      """WITH act AS (
        |  SELECT event_type, CAST(ts AS DATE) AS dd,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT event_type, MIN(dd) AS lo, MAX(dd) AS hi
        |  FROM act GROUP BY 1),
        |cal AS (
        |  SELECT event_type,
        |    CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))
        |      AS DATE) AS dd
        |  FROM span),
        |filled AS (
        |  SELECT cal.event_type, cal.dd, act.n IS NULL AS missing
        |  FROM cal LEFT JOIN act ON cal.event_type = act.event_type
        |    AND cal.dd = act.dd),
        |runs AS (
        |  SELECT event_type, MAX(len) AS max_gap_days FROM (
        |    SELECT event_type,
        |      CAST(COUNT(*) AS BIGINT) AS len
        |    FROM (
        |      SELECT event_type, dd,
        |        dd - CAST(row_number() OVER (PARTITION BY event_type
        |          ORDER BY dd) AS INT) AS grp
        |      FROM filled WHERE missing)
        |    GROUP BY event_type, grp)
        |  GROUP BY 1)
        |SELECT f.event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_days_span,
        |  CAST(SUM(CASE WHEN f.missing THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_missing,
        |  COALESCE(MAX(r.max_gap_days), 0) AS max_gap_days
        |FROM filled f LEFT JOIN runs r ON f.event_type = r.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical fan-out audits
    "q_fd_check" ->
      """WITH a AS (
        |  SELECT 'custkey_to_nationkey' AS fd,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating_keys,
        |    MAX(nd) AS max_distinct
        |  FROM (SELECT c_custkey,
        |          CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS nd
        |        FROM customer GROUP BY 1)),
        |b AS (
        |  SELECT 'partkey_to_brand' AS fd,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating_keys,
        |    MAX(nd) AS max_distinct
        |  FROM (SELECT p_partkey,
        |          CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS nd
        |        FROM part GROUP BY 1)),
        |c AS (
        |  SELECT 'custkey_to_orderpriority' AS fd,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating_keys,
        |    MAX(nd) AS max_distinct
        |  FROM (SELECT o_custkey,
        |          CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd
        |        FROM orders GROUP BY 1))
        |SELECT * FROM a UNION ALL SELECT * FROM b
        |UNION ALL SELECT * FROM c ORDER BY fd""".stripMargin,

    // identical rollup + grouping flags
    "q_grouping_id" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus)
        |    AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, rf, ls""".stripMargin,

    // identical inner/outer row accounting
    "q_explode_outer" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 8) AS a
        |  FROM documents),
        |inner_ AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_inner
        |  FROM (SELECT doc_id, UNNEST(a) FROM arr)),
        |outer_ AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN len(a) = 0 THEN 1 ELSE len(a) END)
        |      AS BIGINT) AS n_rows_outer,
        |    CAST(SUM(CASE WHEN len(a) = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_null_rows
        |  FROM arr),
        |docs AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN len(a) = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_empty_docs
        |  FROM arr)
        |SELECT n_docs, n_empty_docs, n_rows_inner, n_rows_outer,
        |  n_null_rows
        |FROM docs, inner_, outer_""".stripMargin,

    // identical top-100 vocab and snapped purity
    "q_lang_purity" ->
      """WITH toks AS (
        |  SELECT lang, doc_id, UNNEST(string_split(text, ' ')) AS w
        |  FROM documents),
        |top AS (
        |  SELECT lang, w FROM (
        |    SELECT lang, w,
        |      row_number() OVER (PARTITION BY lang
        |        ORDER BY COUNT(*) DESC, w ASC) AS rk
        |    FROM toks GROUP BY lang, w) WHERE rk <= 100),
        |per AS (
        |  SELECT t.lang, t.doc_id,
        |    CAST(ROUND(SUM(CASE WHEN top.w IS NOT NULL THEN 1 ELSE 0
        |      END) * 1e6 / COUNT(*)) AS BIGINT) AS p_u
        |  FROM toks t
        |  LEFT JOIN top ON t.lang = top.lang AND t.w = top.w
        |  GROUP BY 1, 2)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  ROUND(SUM(p_u) / CAST(COUNT(*) AS DOUBLE) / 1e6, 6)
        |    AS mean_purity,
        |  ROUND(MIN(p_u) / 1e6, 6) AS min_purity
        |FROM per GROUP BY 1 ORDER BY lang""".stripMargin,

    // identical trailing-window order statistic
    "q_rolling_p90" ->
      (s"WITH ${DailyGrid.dmCte}," +
      """
        |w AS (
        |  SELECT event_type, d, y,
        |    list_sort(list(y) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)) AS arr
        |  FROM dm),
        |f AS (
        |  SELECT event_type, d, y, arr[13] AS p90
        |  FROM w WHERE len(arr) = 14)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  CAST(SUM(CASE WHEN y > p90 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exceed,
        |  ROUND(MAX(CASE WHEN d = (SELECT MAX(d) FROM f f2
        |    WHERE f2.event_type = f.event_type) THEN p90 END)
        |    / 1000.0, 6) AS last_p90
        |FROM f GROUP BY 1 ORDER BY event_type""".stripMargin)
  )
}
