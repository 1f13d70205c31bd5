package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 55 (SURVEY.md §2 B.10b): per-priority order-value
  * box-plot statistics (type-1 five-number summary, exact 1.5·IQR
  * whisker outlier counts via ×2-cleared comparisons, Tukey
  * trimean), expected shortfall at 95% on daily µ-returns,
  * top-10-brand leaderboard stability between the temporal halves,
  * the Gini of per-user activity, the monthly AOV trend (snapped
  * AOV + cleared OLS), and the first-vs-last order-priority shift
  * matrix per customer.
  */
object StatsR9zzb {

  import DailyGrid.wp

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Box-plot stats per priority on order totals (cents): type-1
    // Q1/med/Q3 (ceil(p·n), stated), outliers beyond 1.5·IQR by the
    // exact 2·x vs 5·q3 − 3·q1 clearing, trimean (q1+2m+q3)/4.
    "q_boxplot_stats" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("v").asc, col("o_orderkey").asc)
      val base = Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("v"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("o_orderpriority")).cast("long"))
        .localCheckpoint(eager = true)
      val qs = base.groupBy("o_orderpriority")
        .agg(max("n").as("n"),
          sum(when(col("rk") === expr("(n + 3) div 4"), col("v"))
            .otherwise(0L)).as("q1"),
          sum(when(col("rk") === expr("(n + 1) div 2"), col("v"))
            .otherwise(0L)).as("med"),
          sum(when(col("rk") === expr("(3 * n + 3) div 4"), col("v"))
            .otherwise(0L)).as("q3"))
      base.join(qs.select(col("o_orderpriority"), col("q1"),
          col("q3")), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(sum(when(lit(2L) * col("v")
            > lit(5L) * col("q3") - lit(3L) * col("q1"), 1L)
          .otherwise(0L)).as("n_high_outliers"),
          sum(when(lit(2L) * col("v")
            < lit(5L) * col("q1") - lit(3L) * col("q3"), 1L)
            .otherwise(0L)).as("n_low_outliers"))
        .join(qs, "o_orderpriority")
        .select(col("o_orderpriority"), col("n").as("n_orders"),
          round(col("q1") / 100.0, 2).as("q1"),
          round(col("med") / 100.0, 2).as("median"),
          round(col("q3") / 100.0, 2).as("q3"),
          round((col("q1") + lit(2L) * col("med") + col("q3"))
            / 400.0, 2).as("trimean"),
          col("n_low_outliers"), col("n_high_outliers"))
        .orderBy("o_orderpriority")
    }),

    // Expected shortfall at 95% per type: VaR = the ceil(0.05·n)-th
    // ascending µ-return (type-1, stated), ES = mean of returns ≤
    // VaR — exact µ sums.
    "q_expected_shortfall" -> ((s, d) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("r_u").asc, col("d").asc)
      val r = DailyGrid.ret(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wp).cast("long"))
        .localCheckpoint(eager = true)
      val varq = r.filter(col("rk") === expr("(n + 19) div 20"))
        .select(col("event_type"), col("r_u").as("var_u"))
      r.join(varq, "event_type")
        .filter(col("r_u") <= col("var_u"))
        .groupBy("event_type")
        .agg(max("n").as("n_days"), max("var_u").as("var_u"),
          count(lit(1)).as("n_tail"), sum("r_u").as("st"))
        .select(col("event_type"), col("n_days"),
          round(col("var_u") / 1e6, 6).as("var_95"),
          round(col("st").cast("double") / col("n_tail") / 1e6, 6)
            .as("es_95"))
        .orderBy("event_type")
    }),

    // Leaderboard stability: top-10 revenue brands in each temporal
    // half ((rev DESC, brand), stated): set Jaccard + the count of
    // brands holding the SAME rank.
    "q_topk_stability" -> ((s, d) => {
      val j = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .withColumn("half",
          when(col("o_orderdate") < lit("1998-01-01")
            .cast("timestamp_ntz"), 1).otherwise(2))
        .groupBy("half", "p_brand")
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("rev"))
      val wr = Window.partitionBy("half")
        .orderBy(col("rev").desc, col("p_brand").asc)
      val ranked = j.withColumn("rk", row_number().over(wr).cast("long"))
        .filter(col("rk") <= 10)
        .localCheckpoint(eager = true)
      val t1 = ranked.filter(col("half") === 1)
        .select(col("p_brand"), col("rk").as("rk1"))
      val t2 = ranked.filter(col("half") === 2)
        .select(col("p_brand"), col("rk").as("rk2"))
      val inter = t1.join(t2, "p_brand")
        .agg(count(lit(1)).as("common"),
          sum(when(col("rk1") === col("rk2"), 1L).otherwise(0L))
            .as("same_rank"))
      inter.select(col("common"), col("same_rank"),
        round(col("common").cast("double") / (lit(20L) - col("common")),
          6).as("topk_jaccard"))
    }),

    // Activity Gini over per-user event counts (the sorted identity).
    "q_activity_gini" -> ((s, d) => {
      val per = Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("k"))
      // user-grain global rank → range-partitioned (r10 VERDICT task 4)
      graft.operators.PrefixSum.rank(per,
          Seq(col("k").asc, col("user_id").asc), "i")
        .agg(count(lit(1)).as("n"), sum("k").as("sk"),
          sum(col("i") * col("k")).as("sik"))
        .filter(col("sk") > 0)
        .select(col("n").as("n_users"),
          round(col("sk").cast("double") / col("n"), 6)
            .as("mean_events"),
          round(lit(2.0) * col("sik")
            / (col("n").cast("double") * col("sk"))
            - (col("n") + 1).cast("double") / col("n"), 6)
            .as("activity_gini"))
    }),

    // Monthly AOV trend: AOV = order-count-weighted cents snapped to
    // the exact rational (rev, n) pair; per-month AOV snapped 1e4
    // (0.01 cents) then cleared OLS on the month index.
    "q_aov_trend" -> ((s, d) => {
      val m = Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
          .as("m"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("rev"), count(lit(1)).as("n_ord"))
        .withColumn("aov_u",
          round(col("rev").cast("double") / col("n_ord") * 100)
            .cast("long"))
        // bounded grain: one row per month
        .withColumn("i", row_number().over(Window.orderBy("m"))
          .cast("long"))
      m.agg(count(lit(1)).as("n"), sum("i").as("sx"),
          sum("aov_u").as("sy"), sum(col("i") * col("aov_u")).as("sxy"),
          sum(col("i") * col("i")).as("sxx"))
        .withColumn("cxx", col("n") * col("sxx") - col("sx") * col("sx"))
        .filter(col("cxx") > 0)
        .select(col("n").as("n_months"),
          round(col("sy").cast("double") / col("n") / 1e4, 2)
            .as("mean_aov"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") / col("cxx") / 1e4, 6)
            .as("aov_slope_per_month"))
    }),

    // Priority shift: first vs last order priority per multi-order
    // customer (urgency rank = the leading digit, stated); counts of
    // escalation / same / de-escalation.
    "q_priority_shift" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      val per = Tables.orders(s, d)
        .withColumn("p", substring(col("o_orderpriority"), 1, 1)
          .cast("long"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n_ord", count(lit(1)).over(
          Window.partitionBy("o_custkey")))
        .filter(col("n_ord") >= 2)
        .withColumn("lastp", last("p").over(
          w.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .filter(col("rk") === 1)
        .select(col("p").as("firstp"), col("lastp"))
      per.agg(count(lit(1)).as("n_customers"),
          sum(when(col("lastp") < col("firstp"), 1L).otherwise(0L))
            .as("escalated"),
          sum(when(col("lastp") === col("firstp"), 1L).otherwise(0L))
            .as("unchanged"),
          sum(when(col("lastp") > col("firstp"), 1L).otherwise(0L))
            .as("deescalated"))
        .select(col("n_customers"), col("escalated"), col("unchanged"),
          col("deescalated"),
          round(col("escalated").cast("double") / col("n_customers"), 6)
            .as("escalation_rate"))
    })
  )

  val oracle: Map[String, String] = Map(
    // identical type-1 five-number summary
    "q_boxplot_stats" ->
      """WITH base AS (
        |  SELECT o_orderpriority,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT),
        |        o_orderkey) AS BIGINT) AS rk,
        |    CAST(COUNT(*) OVER (PARTITION BY o_orderpriority)
        |      AS BIGINT) AS n
        |  FROM orders),
        |qs AS (
        |  SELECT o_orderpriority, MAX(n) AS n,
        |    SUM(CASE WHEN rk = (n + 3) // 4 THEN v ELSE 0 END) AS q1,
        |    SUM(CASE WHEN rk = (n + 1) // 2 THEN v ELSE 0 END) AS med,
        |    SUM(CASE WHEN rk = (3 * n + 3) // 4 THEN v ELSE 0 END)
        |      AS q3
        |  FROM base GROUP BY 1),
        |ol AS (
        |  SELECT base.o_orderpriority,
        |    CAST(SUM(CASE WHEN 2 * base.v > 5 * qs.q3 - 3 * qs.q1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers,
        |    CAST(SUM(CASE WHEN 2 * base.v < 5 * qs.q1 - 3 * qs.q3
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers
        |  FROM base JOIN qs ON base.o_orderpriority = qs.o_orderpriority
        |  GROUP BY 1)
        |SELECT qs.o_orderpriority, qs.n AS n_orders,
        |  ROUND(qs.q1 / 100.0, 2) AS q1,
        |  ROUND(qs.med / 100.0, 2) AS median,
        |  ROUND(qs.q3 / 100.0, 2) AS q3,
        |  ROUND((qs.q1 + 2 * qs.med + qs.q3) / 400.0, 2) AS trimean,
        |  ol.n_low_outliers, ol.n_high_outliers
        |FROM qs JOIN ol ON qs.o_orderpriority = ol.o_orderpriority
        |ORDER BY qs.o_orderpriority""".stripMargin,

    // identical type-1 tail means
    "q_expected_shortfall" -> (s"WITH ${DailyGrid.retCte}," +
      """
        |rk AS (
        |  SELECT event_type, d, r_u,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY r_u ASC, d ASC) AS BIGINT) AS rk,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n
        |  FROM ret),
        |vq AS (
        |  SELECT event_type, r_u AS var_u FROM rk
        |  WHERE rk = (n + 19) // 20),
        |tl AS (
        |  SELECT rk.event_type, MAX(rk.n) AS n_days,
        |    MAX(vq.var_u) AS var_u,
        |    CAST(COUNT(*) AS BIGINT) AS n_tail, SUM(rk.r_u) AS st
        |  FROM rk JOIN vq ON rk.event_type = vq.event_type
        |  WHERE rk.r_u <= vq.var_u
        |  GROUP BY 1)
        |SELECT event_type, n_days,
        |  ROUND(var_u / 1e6, 6) AS var_95,
        |  ROUND(CAST(st AS DOUBLE) / n_tail / 1e6, 6) AS es_95
        |FROM tl ORDER BY event_type""".stripMargin),

    // identical half leaderboards
    "q_topk_stability" ->
      """WITH j AS (
        |  SELECT CASE WHEN o.o_orderdate < TIMESTAMP '1998-01-01'
        |      THEN 1 ELSE 2 END AS half,
        |    p.p_brand,
        |    SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS rev
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT half, p_brand,
        |    CAST(row_number() OVER (PARTITION BY half
        |      ORDER BY rev DESC, p_brand ASC) AS BIGINT) AS rk
        |  FROM j),
        |t AS (SELECT * FROM rk WHERE rk <= 10),
        |iv AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS common,
        |    CAST(SUM(CASE WHEN a.rk = b.rk THEN 1 ELSE 0 END)
        |      AS BIGINT) AS same_rank
        |  FROM t a JOIN t b ON a.p_brand = b.p_brand
        |    AND a.half = 1 AND b.half = 2)
        |SELECT common, same_rank,
        |  ROUND(CAST(common AS DOUBLE) / (20 - common), 6)
        |    AS topk_jaccard
        |FROM iv""".stripMargin,

    // identical sorted identity
    "q_activity_gini" ->
      """WITH per AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM events GROUP BY 1),
        |ix AS (
        |  SELECT k,
        |    CAST(row_number() OVER (ORDER BY k, user_id) AS BIGINT)
        |      AS i
        |  FROM per),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(k) AS sk,
        |    SUM(i * k) AS sik
        |  FROM ix)
        |SELECT n AS n_users,
        |  ROUND(CAST(sk AS DOUBLE) / n, 6) AS mean_events,
        |  ROUND(2.0 * sik / (CAST(n AS DOUBLE) * sk)
        |    - CAST(n + 1 AS DOUBLE) / n, 6) AS activity_gini
        |FROM ag WHERE sk > 0""".stripMargin,

    // identical snapped AOV trend
    "q_aov_trend" ->
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE))
        |      AS DATE) AS m,
        |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev,
        |    CAST(COUNT(*) AS BIGINT) AS n_ord
        |  FROM orders GROUP BY 1),
        |ix AS (
        |  SELECT CAST(ROUND(CAST(rev AS DOUBLE) / n_ord * 100)
        |      AS BIGINT) AS aov_u,
        |    CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS i
        |  FROM m),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(i) AS sx,
        |    SUM(aov_u) AS sy, SUM(i * aov_u) AS sxy, SUM(i * i) AS sxx
        |  FROM ix)
        |SELECT n AS n_months,
        |  ROUND(CAST(sy AS DOUBLE) / n / 1e4, 2) AS mean_aov,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (n * sxx - sx * sx) / 1e4, 6) AS aov_slope_per_month
        |FROM ag WHERE n * sxx - sx * sx > 0""".stripMargin,

    // identical first/last priority digits
    "q_priority_shift" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS p,
        |    row_number() OVER w AS rk,
        |    COUNT(*) OVER (PARTITION BY o_custkey) AS n_ord,
        |    last_value(CAST(substring(o_orderpriority, 1, 1)
        |      AS BIGINT)) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND UNBOUNDED FOLLOWING) AS lastp
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey)),
        |f AS (
        |  SELECT p AS firstp, lastp FROM per
        |  WHERE rk = 1 AND n_ord >= 2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(CASE WHEN lastp < firstp THEN 1 ELSE 0 END)
        |    AS BIGINT) AS escalated,
        |  CAST(SUM(CASE WHEN lastp = firstp THEN 1 ELSE 0 END)
        |    AS BIGINT) AS unchanged,
        |  CAST(SUM(CASE WHEN lastp > firstp THEN 1 ELSE 0 END)
        |    AS BIGINT) AS deescalated,
        |  ROUND(CAST(SUM(CASE WHEN lastp < firstp THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 6) AS escalation_rate
        |FROM f""".stripMargin
  )
}
