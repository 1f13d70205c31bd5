package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 18, batch half (SURVEY.md §2 B.10b): multi-year
  * order-book economics — YoY revenue growth (lag-12 over the exact
  * cents month grid), a Laspeyres price index between order-date
  * halves (base-quantity weights make the denominator EXACT cents;
  * numerator terms snapped once per brand), repeat-part purchase
  * rates, and median/mean order value per market segment (med2
  * convention on exact cents). The streaming half of this wave lives
  * in streaming/StreamState.scala (s_stream_vwap /
  * s_stream_ring_zscore).
  */
object StatsR9r {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Year-over-year revenue growth by calendar month: exact cents
    // sums, lag 12 over the bounded month grid, one division per row.
    "q_yoy_growth" -> ((s, d) => {
      val m = Tables.orders(s, d)
        .groupBy(date_format(date_trunc("month", col("o_orderdate")),
          "yyyy-MM").as("month"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
      val w = Window.orderBy("month")
      m.withColumn("prev", lag("cents", 12).over(w))
        .filter(col("prev").isNotNull && col("prev") > 0)
        .select(col("month"),
          round(col("cents") / 100.0, 2).as("revenue"),
          round((col("cents").cast("double") / col("prev") - 1) * 100,
            4).as("yoy_pct"))
        .orderBy("month")
    }),

    // Laspeyres price index between order-date halves (< 1996 base,
    // stated), items = brands, unit price = Σcents/Σqty: base-weight
    // terms p0·q0 collapse to the EXACT base cents; current terms
    // p1·q0 snap once per brand (bounded rows), ONE final division.
    "q_laspeyres" -> ((s, d) => {
      val j = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .withColumn("half",
          when(col("l_shipdate") < lit("1996-01-01").cast("date"), 0)
            .otherwise(1))
        .groupBy("p_brand", "half")
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("sc"),
          sum(col("l_quantity").cast("long")).as("qq"))
      val b0 = j.filter(col("half") === 0)
        .select(col("p_brand"), col("sc").as("s0"), col("qq").as("q0"))
      val b1 = j.filter(col("half") === 1)
        .select(col("p_brand"), col("sc").as("s1"), col("qq").as("q1"))
      b0.join(b1, "p_brand")
        .filter(col("q0") > 0 && col("q1") > 0)
        .select(col("s0"),
          round(col("s1").cast("double") * col("q0") / col("q1"))
            .cast("long").as("n_u"))
        .agg(count(lit(1)).as("n_brands"), sum("s0").as("den"),
          sum("n_u").as("num"))
        .filter(col("den") > 0)
        .select(col("n_brands"),
          round(col("num").cast("double") / col("den"), 6)
            .as("laspeyres_idx"))
    }),

    // Repeat-part purchase rate per brand: (customer, part) pairs
    // with ≥ 2 lines — the reorder signal merchandisers read.
    "q_repeat_part_rate" -> ((s, d) => {
      val pairs = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("o_custkey"), col("p_partkey"))
        .agg(count(lit(1)).as("c"))
      pairs.groupBy("p_brand")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_repeat"))
        .select(col("p_brand"), col("n_pairs"), col("n_repeat"),
          round(col("n_repeat").cast("double") / col("n_pairs"), 4)
            .as("repeat_rate"))
        .orderBy("p_brand")
    }),

    // Order value per market segment: exact cents mean + med2 median
    // (the q_levene_bf convention), ties broken by orderkey.
    "q_segment_aov" -> ((s, d) => {
      val j = Tables.orders(s, d)
        .join(Tables.customer(s, d)
          .select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderkey"))
      val wseg = Window.partitionBy("c_mktsegment")
      val ranked = j
        .withColumn("rn", row_number().over(
          wseg.orderBy("cents", "o_orderkey")).cast("long"))
        .withColumn("n", count(lit(1)).over(wseg))
        .withColumn("p1", expr("(n + 1) div 2"))
        .withColumn("p2", expr("n div 2 + 1"))
      ranked.groupBy("c_mktsegment")
        .agg(max("n").as("n_orders"), sum("cents").as("sc"),
          (sum(when(col("rn") === col("p1"), col("cents")).otherwise(0L))
            + sum(when(col("rn") === col("p2"), col("cents"))
              .otherwise(0L))).as("med2"))
        .select(col("c_mktsegment"), col("n_orders"),
          round(col("sc").cast("double") / col("n_orders") / 100, 2)
            .as("aov"),
          round(col("med2") / 200.0, 2).as("median_aov"))
        .orderBy("c_mktsegment")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical exact cents grid and lag 12
    "q_yoy_growth" ->
      """WITH m AS (
        |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
        |    AS month,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |w AS (
        |  SELECT month, cents,
        |    lag(cents, 12) OVER (ORDER BY month) AS prev
        |  FROM m)
        |SELECT month, ROUND(cents / 100.0, 2) AS revenue,
        |  ROUND((CAST(cents AS DOUBLE) / prev - 1) * 100, 4)
        |    AS yoy_pct
        |FROM w WHERE prev IS NOT NULL AND prev > 0
        |ORDER BY month""".stripMargin,

    // identical half split, exact base cents, snapped current terms
    "q_laspeyres" ->
      """WITH j AS (
        |  SELECT p.p_brand,
        |    CASE WHEN l.l_shipdate < DATE '1996-01-01' THEN 0 ELSE 1
        |      END AS half,
        |    CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS sc,
        |    CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qq
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |b AS (
        |  SELECT a.p_brand, a.sc AS s0, a.qq AS q0,
        |    c.sc AS s1, c.qq AS q1
        |  FROM j a JOIN j c ON a.p_brand = c.p_brand
        |    AND a.half = 0 AND c.half = 1
        |  WHERE a.qq > 0 AND c.qq > 0),
        |t AS (
        |  SELECT s0,
        |    CAST(ROUND(CAST(s1 AS DOUBLE) * q0 / q1) AS BIGINT) AS n_u
        |  FROM b),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
        |    CAST(SUM(s0) AS BIGINT) AS den,
        |    CAST(SUM(n_u) AS BIGINT) AS num
        |  FROM t)
        |SELECT n_brands,
        |  ROUND(CAST(num AS DOUBLE) / den, 6) AS laspeyres_idx
        |FROM ag WHERE den > 0""".stripMargin,

    // identical pair counts
    "q_repeat_part_rate" ->
      """WITH pr AS (
        |  SELECT p.p_brand, o.o_custkey, l.l_partkey,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2, 3)
        |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_repeat,
        |  ROUND(CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 4) AS repeat_rate
        |FROM pr GROUP BY 1 ORDER BY p_brand""".stripMargin,

    // identical exact cents and med2
    "q_segment_aov" ->
      """WITH j AS (
        |  SELECT c.c_mktsegment,
        |    CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
        |    o.o_orderkey
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |rk AS (
        |  SELECT c_mktsegment, cents,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY c_mktsegment) AS BIGINT)
        |      AS n
        |  FROM j),
        |ag AS (
        |  SELECT c_mktsegment, MAX(n) AS n_orders,
        |    CAST(SUM(cents) AS BIGINT) AS sc,
        |    CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN cents ELSE 0
        |      END) + SUM(CASE WHEN rn = n // 2 + 1 THEN cents ELSE 0
        |      END) AS BIGINT) AS med2
        |  FROM rk GROUP BY 1)
        |SELECT c_mktsegment, n_orders,
        |  ROUND(CAST(sc AS DOUBLE) / n_orders / 100, 2) AS aov,
        |  ROUND(med2 / 200.0, 2) AS median_aov
        |FROM ag ORDER BY c_mktsegment""".stripMargin
  )
}
