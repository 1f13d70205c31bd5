package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 50 (SURVEY.md §2 B.10b): commerce-ops depth — an
  * annualized CLV run-rate per market segment, brand catalog
  * profiling, the type×type lead-lag matrix (snapped correlations at
  * lags −3..3, exact argmax), the suppliers-per-order distribution,
  * return rates by shipping-lag bucket, and the reorder-gap
  * acceleration slope (pooled cleared OLS of gap on order index).
  */
object StatsR9zw {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Annualized CLV run-rate per segment (stated model): 365 ×
    // (revenue per customer / mean active lifespan days), lifespan =
    // last−first order date per customer (≥1 day floor, stated).
    "q_clv_simple" -> ((s, d) => {
      val perCust = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
            .as("rev"),
          count(lit(1)).as("n_orders"),
          greatest(datediff(max(col("o_orderdate")).cast("date"),
            min(col("o_orderdate")).cast("date")).cast("long"), lit(1L))
            .as("lifespan"))
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
      perCust.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"), sum("rev").as("srev"),
          sum("n_orders").as("sord"), sum("lifespan").as("slife"))
        .select(col("c_mktsegment").as("segment"), col("n_customers"),
          round(col("srev").cast("double") / col("sord") / 100, 2)
            .as("aov"),
          round(col("sord").cast("double") / col("n_customers"), 6)
            .as("orders_per_customer"),
          round(col("slife").cast("double") / col("n_customers"), 6)
            .as("mean_lifespan_days"),
          round(lit(365.0) * (col("srev").cast("double")
            / col("n_customers"))
            / (col("slife").cast("double") / col("n_customers"))
            / 100, 2).as("clv_annual_runrate"))
        .orderBy("segment")
    }),

    // Brand catalog profile: parts, distinct types/sizes, mean
    // retail price.
    "q_catalog_profile" -> ((s, d) => {
      Tables.part(s, d)
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_parts"),
          countDistinct("p_type").as("n_types"),
          countDistinct("p_size").as("n_sizes"),
          sum(round(col("p_retailprice") * 100).cast("long")).as("sp"))
        .select(col("brand"), col("n_parts"), col("n_types"),
          col("n_sizes"),
          round(col("sp").cast("double") / col("n_parts") / 100, 2)
            .as("mean_retail_price"))
        .orderBy("brand")
    }),

    // Lead-lag matrix: per ordered type pair, the lag ∈ [−3,3]
    // maximizing the cross-correlation of daily milli-means
    // (correlations snapped to 1e6, argmax by (corr DESC, lag ASC),
    // stated).
    "q_lead_lag_matrix" -> ((s, d) => {
      import s.implicits._
      val base = DailyGrid.mean(s, d)
        .select(col("event_type"), col("i"), col("y"))
      val lags = (-3L to 3L).toDF("lag")
      val j = base.select(col("event_type").as("t1"), col("i"),
          col("y").as("y1"))
        .crossJoin(broadcast(lags))
        .join(base.select(col("event_type").as("t2"),
          col("i").as("j"), col("y").as("y2")),
          col("t2") =!= col("t1") && col("j") === col("i") + col("lag"))
      val cor = j.groupBy("t1", "t2", "lag")
        .agg(count(lit(1)).as("n"), sum("y1").as("sa"),
          sum("y2").as("sb"), sum(col("y1") * col("y2")).as("sab"),
          sum(col("y1") * col("y1")).as("saa"),
          sum(col("y2") * col("y2")).as("sbb"))
        .filter(col("n") > 2
          && col("n") * col("saa") > col("sa") * col("sa")
          && col("n") * col("sbb") > col("sb") * col("sb"))
        .withColumn("c_u",
          round((col("n") * col("sab") - col("sa") * col("sb"))
            .cast("double")
            / sqrt((col("n") * col("saa") - col("sa") * col("sa"))
              .cast("double")
              * (col("n") * col("sbb") - col("sb") * col("sb")))
            * 1e6).cast("long"))
      val w = Window.partitionBy("t1", "t2")
        .orderBy(col("c_u").desc, col("lag").asc)
      cor.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("t1"), col("t2"), col("lag").as("best_lag"),
          round(col("c_u") / 1e6, 6).as("corr_at_best"))
        .orderBy("t1", "t2")
    }),

    // Suppliers-per-order distribution + mean.
    "q_suppliers_per_order" -> ((s, d) => {
      val per = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(countDistinct("l_suppkey").as("k"))
        .localCheckpoint(eager = true)
      val tot = per.agg(count(lit(1)).as("n"), sum("k").as("sk"))
      per.groupBy("k").agg(count(lit(1)).as("n_orders"))
        .crossJoin(broadcast(tot))
        .select(col("k").as("n_suppliers"), col("n_orders"),
          round(col("n_orders").cast("double") / col("n"), 6)
            .as("share"),
          round(col("sk").cast("double") / col("n"), 6)
            .as("mean_suppliers"))
        .orderBy("n_suppliers")
    }),

    // Return rate by shipping-lag bucket (0-15 / 16-30 / 31+ days).
    "q_returns_by_lag" -> ((s, d) => {
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("lag_d", datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")).cast("long"))
        .withColumn("bucket",
          when(col("lag_d") <= 15, "00-15")
            .when(col("lag_d") <= 30, "16-30").otherwise("31+"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returned"))
        .select(col("bucket"), col("n_lines"), col("n_returned"),
          round(col("n_returned").cast("double") / col("n_lines"), 6)
            .as("return_rate"))
        .orderBy("bucket")
    }),

    // Reorder acceleration: consecutive order gaps (days) per
    // customer indexed 1, 2, …; pooled cleared OLS slope of gap on
    // index — negative slope = accelerating reorders.
    "q_reorder_acceleration" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      val gaps = Tables.orders(s, d)
        .withColumn("pd", lag(col("o_orderdate"), 1).over(w))
        .filter(col("pd").isNotNull)
        .withColumn("g", datediff(col("o_orderdate").cast("date"),
          col("pd").cast("date")).cast("long"))
        .withColumn("j", (row_number().over(w) - 1).cast("long"))
      gaps.agg(count(lit(1)).as("n"), sum("j").as("sx"),
          sum("g").as("sy"), sum(col("j") * col("g")).as("sxy"),
          sum(col("j") * col("j")).as("sxx"))
        .withColumn("cxx", col("n") * col("sxx") - col("sx") * col("sx"))
        .filter(col("cxx") > 0)
        .select(col("n").as("n_gaps"),
          round(col("sy").cast("double") / col("n"), 6)
            .as("mean_gap_days"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") / col("cxx"), 6)
            .as("gap_slope_per_index"))
    })
  )

  val oracle: Map[String, String] = Map(
    // identical per-customer rollup
    "q_clv_simple" ->
      """WITH pc AS (
        |  SELECT o.o_custkey,
        |    SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    GREATEST(CAST(CAST(MAX(o.o_orderdate) AS DATE)
        |      - CAST(MIN(o.o_orderdate) AS DATE) AS BIGINT), 1)
        |      AS lifespan
        |  FROM orders o GROUP BY 1),
        |j AS (
        |  SELECT cu.c_mktsegment AS segment, pc.*
        |  FROM pc JOIN customer cu ON pc.o_custkey = cu.c_custkey)
        |SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  ROUND(CAST(SUM(rev) AS DOUBLE) / SUM(n_orders) / 100, 2)
        |    AS aov,
        |  ROUND(CAST(SUM(n_orders) AS DOUBLE) / COUNT(*), 6)
        |    AS orders_per_customer,
        |  ROUND(CAST(SUM(lifespan) AS DOUBLE) / COUNT(*), 6)
        |    AS mean_lifespan_days,
        |  ROUND(365.0 * (CAST(SUM(rev) AS DOUBLE) / COUNT(*))
        |    / (CAST(SUM(lifespan) AS DOUBLE) / COUNT(*)) / 100, 2)
        |    AS clv_annual_runrate
        |FROM j GROUP BY 1 ORDER BY segment""".stripMargin,

    // identical brand rollup
    "q_catalog_profile" ->
      """SELECT p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types,
        |  CAST(COUNT(DISTINCT p_size) AS BIGINT) AS n_sizes,
        |  ROUND(CAST(SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT))
        |    AS DOUBLE) / COUNT(*) / 100, 2) AS mean_retail_price
        |FROM part GROUP BY 1 ORDER BY brand""".stripMargin,

    // identical snapped lag correlations + argmax
    "q_lead_lag_matrix" -> (s"WITH ${DailyGrid.dmCte}," +
      """
        |ix AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY d) AS BIGINT) AS i
        |  FROM dm),
        |lags AS (SELECT UNNEST([-3, -2, -1, 0, 1, 2, 3]) AS lag),
        |j AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2, lags.lag,
        |    a.y AS y1, b.y AS y2
        |  FROM ix a
        |  CROSS JOIN lags
        |  JOIN ix b ON b.event_type <> a.event_type
        |    AND b.i = a.i + lags.lag),
        |cor AS (
        |  SELECT t1, t2, lag, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(y1) AS sa, SUM(y2) AS sb, SUM(y1 * y2) AS sab,
        |    SUM(y1 * y1) AS saa, SUM(y2 * y2) AS sbb
        |  FROM j GROUP BY 1, 2, 3),
        |cu AS (
        |  SELECT t1, t2, lag,
        |    CAST(ROUND(CAST(n * sab - sa * sb AS DOUBLE)
        |      / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
        |        * CAST(n * sbb - sb * sb AS DOUBLE)) * 1e6)
        |      AS BIGINT) AS c_u
        |  FROM cor
        |  WHERE n > 2 AND n * saa > sa * sa AND n * sbb > sb * sb),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY t1, t2
        |    ORDER BY c_u DESC, lag ASC) AS rk
        |  FROM cu)
        |SELECT t1, t2, CAST(lag AS BIGINT) AS best_lag,
        |  ROUND(c_u / 1e6, 6) AS corr_at_best
        |FROM rk WHERE rk = 1
        |ORDER BY t1, t2""".stripMargin),

    // identical distribution
    "q_suppliers_per_order" ->
      """WITH per AS (
        |  SELECT l_orderkey,
        |    CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS k
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(k) AS sk
        |        FROM per)
        |SELECT per.k AS n_suppliers,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(tot.n), 6) AS share,
        |  ROUND(CAST(MAX(tot.sk) AS DOUBLE) / MAX(tot.n), 6)
        |    AS mean_suppliers
        |FROM per, tot GROUP BY per.k ORDER BY n_suppliers""".stripMargin,

    // identical lag buckets
    "q_returns_by_lag" ->
      """WITH f AS (
        |  SELECT CAST(CAST(l.l_shipdate AS DATE)
        |      - CAST(o.o_orderdate AS DATE) AS BIGINT) AS lag_d,
        |    l.l_returnflag
        |  FROM lineitem l JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey),
        |b AS (
        |  SELECT CASE WHEN lag_d <= 15 THEN '00-15'
        |    WHEN lag_d <= 30 THEN '16-30' ELSE '31+' END AS bucket,
        |    l_returnflag
        |  FROM f)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_returned,
        |  ROUND(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
        |    END) AS DOUBLE) / COUNT(*), 6) AS return_rate
        |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin,

    // identical pooled gap OLS
    "q_reorder_acceleration" ->
      """WITH g AS (
        |  SELECT
        |    CAST(CAST(o_orderdate AS DATE) - CAST(pd AS DATE)
        |      AS BIGINT) AS g,
        |    CAST(rn - 1 AS BIGINT) AS j
        |  FROM (SELECT o_orderdate,
        |          lag(o_orderdate) OVER w AS pd,
        |          row_number() OVER w AS rn
        |        FROM orders
        |        WINDOW w AS (PARTITION BY o_custkey
        |          ORDER BY o_orderdate, o_orderkey))
        |  WHERE pd IS NOT NULL),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(j) AS sx,
        |    SUM(g) AS sy, SUM(j * g) AS sxy, SUM(j * j) AS sxx
        |  FROM g)
        |SELECT n AS n_gaps,
        |  ROUND(CAST(sy AS DOUBLE) / n, 6) AS mean_gap_days,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (n * sxx - sx * sx), 6) AS gap_slope_per_index
        |FROM ag WHERE n * sxx - sx * sx > 0""".stripMargin
  )
}
