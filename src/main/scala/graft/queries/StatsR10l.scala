package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Round-10 wave 13 (SURVEY.md §2 B.10b): Hosmer-Lemeshow calibration
  * GOF, Watson's U² circular uniformity test, and bipartite butterfly
  * counting on the customer×brand graph.
  *
  * House discipline: HL expected counts ride 1e6-snapped prediction
  * longs (no distributed double sums); Watson terms snap to 1e9 from
  * exact integer cross-products; butterflies are pure C(n,2) integer
  * algebra on a bounded-fanout pair expansion (brands are a
  * dimension, so the per-customer pair blowup is C(|brands|,2)).
  */
object StatsR10l {

  import DailyGrid.wp

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Hosmer-Lemeshow GOF on the q_calibration_bins decile grid
    // (pred = min(value/200, .999999), y = purchase): HL =
    // Σ (O−E)²/(E(1−E/n)) with E from exact 1e6-snapped prediction
    // sums — the χ²(bins−2) companion to the ECE readout.
    "q_hosmer_lemeshow" -> ((s, d) => {
      val binned = Tables.events(s, d)
        .withColumn("pred", least(col("value") / 200.0, lit(0.999999)))
        .withColumn("bin", floor(col("pred") * 10).cast("int"))
        .withColumn("pu", round(col("pred") * 1e6).cast("long"))
        .withColumn("y",
          when(col("event_type") === "purchase", 1L).otherwise(0L))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("pu").as("spu"),
          sum("y").as("o1"))
        .withColumn("e1", col("spu") / 1e6)
        .withColumn("term", (col("o1") - col("e1"))
          * (col("o1") - col("e1"))
          / (col("e1") * (lit(1.0) - col("e1") / col("n"))))
      binned.agg(count(lit(1)).as("n_bins"),
          sum("n").as("n_total"), sum("term").as("hl"))
        .select(col("n_bins"), col("n_total"),
          round(col("hl"), 4).as("hl_stat"),
          (col("n_bins") - 2).as("df"))
    }),

    // Watson's U² circular uniformity test on time-of-day per type:
    // W² = Σ(u_i − (2i−1)/(2n))² + 1/(12n) with per-row terms from
    // the exact integer cross-product (2n·us − (2i−1)·day), snapped
    // to 1e9 before the sum; U² = W² − n(ū − ½)² subtracts the
    // rotation term KS/CvM are blind to.
    "q_watson_u2" -> ((s, d) => {
      val dayUs = 86400000000L
      val w = Window.partitionBy("event_type")
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          (unix_micros(col("ts")) % dayUs).as("us"))
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("dnum", col("n") * 2 * col("us")
          - (col("i") * 2 - 1) * dayUs)
        .withColumn("t_u", round(
          (col("dnum") / (col("n").cast("double") * 2 * dayUs))
            * (col("dnum") / (col("n").cast("double") * 2 * dayUs))
            * 1e9).cast("long"))
        .groupBy("event_type")
        .agg(max("n").as("n"), sum("t_u").as("st"), sum("us").as("sus"))
        .withColumn("w2", col("st") / 1e9
          + lit(1.0) / (col("n") * 12).cast("double"))
        .withColumn("ubar", col("sus")
          / (col("n").cast("double") * lit(dayUs.toDouble)))
        .select(col("event_type"), col("n").as("n_events"),
          round(col("w2"), 6).as("w2_stat"),
          round(col("w2") - col("n") * (col("ubar") - lit(0.5))
            * (col("ubar") - lit(0.5)), 6).as("u2_stat"))
        .orderBy("event_type")
    }),

    // Bipartite butterfly (4-cycle) census on the customer×brand
    // incidence graph: wedges = Σ_cust C(deg,2) (= Σ_pairs support),
    // butterflies = Σ_{b1<b2} C(support,2) — the bipartite clustering
    // signal behind co-purchase strength. The pair expansion is
    // bounded by C(|brands|,2) per customer (brand is a dimension);
    // all counting is exact integer algebra.
    "q_butterfly_count" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey").as("cust"), col("p_brand").as("b"))
        .distinct()
        .localCheckpoint(eager = true) // two join legs + degree leg
      val pairs = edges.join(
          edges.select(col("cust"), col("b").as("b2")), "cust")
        .filter(col("b") < col("b2"))
        .groupBy("b", "b2").agg(count(lit(1)).as("cnt"))
      val base = edges.agg(countDistinct("cust").as("n_cust"),
        countDistinct("b").as("n_brands"), count(lit(1)).as("n_edges"))
      pairs.agg(sum("cnt").as("n_wedges"),
          sum(col("cnt") * (col("cnt") - 1)).as("bf2"),
          max("cnt").as("max_support"))
        .crossJoin(broadcast(base))
        .select(col("n_cust"), col("n_brands"), col("n_edges"),
          col("n_wedges"), expr("bf2 div 2").as("n_butterflies"),
          col("max_support"),
          round((col("bf2") / 2) / col("n_wedges").cast("double"), 6)
            .as("butterflies_per_wedge"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_hosmer_lemeshow" ->
      """WITH b AS (
        |  SELECT FLOOR(LEAST(value / 200.0, 0.999999) * 10) AS bin,
        |    CAST(ROUND(LEAST(value / 200.0, 0.999999) * 1e6) AS BIGINT)
        |      AS pu,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |g AS (
        |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(pu) AS BIGINT) AS spu,
        |    CAST(SUM(y) AS BIGINT) AS o1
        |  FROM b GROUP BY 1),
        |t AS (
        |  SELECT n, (o1 - spu / 1e6) * (o1 - spu / 1e6)
        |    / ((spu / 1e6) * (1.0 - (spu / 1e6) / n)) AS term
        |  FROM g)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
        |  CAST(SUM(n) AS BIGINT) AS n_total,
        |  ROUND(SUM(term), 4) AS hl_stat,
        |  CAST(COUNT(*) - 2 AS BIGINT) AS df
        |FROM t""".stripMargin,

    "q_watson_u2" ->
      """WITH ev AS (
        |  SELECT event_type, event_id,
        |    epoch_us(ts) % 86400000000 AS us
        |  FROM events),
        |r AS (
        |  SELECT event_type, us,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY us, event_id) AS BIGINT) AS i,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM ev),
        |t AS (
        |  SELECT event_type, us, n,
        |    CAST(ROUND(
        |      ((n * 2 * us - (i * 2 - 1) * 86400000000)
        |        / (CAST(n AS DOUBLE) * 2 * 86400000000))
        |      * ((n * 2 * us - (i * 2 - 1) * 86400000000)
        |        / (CAST(n AS DOUBLE) * 2 * 86400000000))
        |      * 1e9) AS BIGINT) AS t_u
        |  FROM r),
        |g AS (
        |  SELECT event_type, MAX(n) AS n,
        |    CAST(SUM(t_u) AS BIGINT) AS st,
        |    CAST(SUM(us) AS BIGINT) AS sus
        |  FROM t GROUP BY 1),
        |f AS (
        |  SELECT event_type, n,
        |    st / 1e9 + 1.0 / CAST(n * 12 AS DOUBLE) AS w2,
        |    sus / (CAST(n AS DOUBLE) * 86400000000.0) AS ubar
        |  FROM g)
        |SELECT event_type, n AS n_events,
        |  ROUND(w2, 6) AS w2_stat,
        |  ROUND(w2 - n * (ubar - 0.5) * (ubar - 0.5), 6) AS u2_stat
        |FROM f ORDER BY event_type""".stripMargin,

    "q_butterfly_count" ->
      """WITH edges AS (
        |  SELECT DISTINCT o.o_custkey AS cust, p.p_brand AS b
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey),
        |pairs AS (
        |  SELECT a.b, b.b AS b2, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM edges a JOIN edges b
        |    ON a.cust = b.cust AND a.b < b.b
        |  GROUP BY 1, 2),
        |base AS (
        |  SELECT CAST(COUNT(DISTINCT cust) AS BIGINT) AS n_cust,
        |    CAST(COUNT(DISTINCT b) AS BIGINT) AS n_brands,
        |    CAST(COUNT(*) AS BIGINT) AS n_edges
        |  FROM edges),
        |agg AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_wedges,
        |    CAST(SUM(cnt * (cnt - 1)) AS BIGINT) AS bf2,
        |    CAST(MAX(cnt) AS BIGINT) AS max_support
        |  FROM pairs)
        |SELECT n_cust, n_brands, n_edges, n_wedges,
        |  bf2 // 2 AS n_butterflies, max_support,
        |  ROUND((bf2 // 2) / CAST(n_wedges AS DOUBLE), 6)
        |    AS butterflies_per_wedge
        |FROM agg, base""".stripMargin
  )
}
