package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Round-10 wave 16 (SURVEY.md §2 B.10b): frequent brand triples,
  * EOQ, Siegel repeated-median slope, the u control chart, and the
  * pairwise source win-rate matrix with Wilson bounds.
  *
  * House discipline: itemset supports are exact counts over the
  * order-grain basket rollup (triple expansion bounded by
  * C(|brands in order|,3)); EOQ and chart limits are one double
  * chain from exact sums; Siegel medians are value-at-index
  * selections; win rates ride 1e6-snapped quality scores.
  */
object StatsR10o {

  import DailyGrid.wp

  /** Phi^-1(0.975) — the q_ctr_wilson constant, shared with the
    * oracle by string interpolation.
    */
  private val wilsonZ = 1.959963984540054

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Frequent brand TRIPLES (the 3-itemset step after q_freq_pairs /
    // q_assoc_rules): support from exact order counts, lift vs the
    // independence product of singleton supports; top 20 by count.
    // The C(b,3) per-order expansion is dimension-bounded (brand is
    // a 25-value dimension).
    "q_freq_triples" -> ((s, d) => {
      // ONE shuffle builds the per-order sorted basket array; the
      // order count, singleton supports, and the triple expansion all
      // read the checkpointed baskets (the join form shuffled the
      // order×brand edge set three more times)
      val baskets = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
        .localCheckpoint(eager = true)
      val nOrders = baskets.count()
      val singles = baskets.select(explode(col("bs")).as("b"))
        .groupBy("b").agg(count(lit(1)).as("c1"))
      val triples = baskets
        .select(col("bs"), posexplode(col("bs")).as(Seq("i", "b1")))
        .select(col("bs"), col("i"), col("b1"),
          posexplode(expr("slice(bs, i + 2, size(bs))"))
            .as(Seq("j", "b2")))
        .select(col("b1"), col("b2"),
          explode(expr("slice(bs, i + j + 3, size(bs))")).as("b3"))
        .groupBy("b1", "b2", "b3").agg(count(lit(1)).as("cnt"))
      triples
        .join(broadcast(singles.select(col("b").as("b1"),
          col("c1").as("s1"))), "b1")
        .join(broadcast(singles.select(col("b").as("b2"),
          col("c1").as("s2"))), "b2")
        .join(broadcast(singles.select(col("b").as("b3"),
          col("c1").as("s3"))), "b3")
        .select(col("b1"), col("b2"), col("b3"), col("cnt"),
          round(col("cnt") / lit(nOrders.toDouble), 6).as("support"),
          round((col("cnt") / lit(nOrders.toDouble))
            / ((col("s1") / lit(nOrders.toDouble))
              * (col("s2") / lit(nOrders.toDouble))
              * (col("s3") / lit(nOrders.toDouble))), 4).as("lift"))
        .orderBy(col("cnt").desc, col("b1"), col("b2"), col("b3"))
        .limit(20)
    }),

    // Economic order quantity per part (top 25 by annual demand):
    // EOQ = √(2DS/H) with S = 100 (stated ordering cost) and H =
    // 20% of the part's retail price — plus the implied order
    // frequency. Demand from exact quantity sums.
    "q_eoq" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity").cast("long")).as("dem"))
        .join(Tables.part(s, d).select(col("p_partkey").as("pk"),
          col("p_retailprice")), "pk")
        .withColumn("h", lit(0.2) * col("p_retailprice"))
        .withColumn("eoq", sqrt(lit(2.0) * col("dem") * lit(100.0)
          / col("h")))
        .select(col("pk").as("partkey"), col("dem").as("annual_demand"),
          round(col("h"), 4).as("holding_cost"),
          round(col("eoq"), 4).as("eoq"),
          round(col("dem") / col("eoq"), 4).as("orders_per_year"))
        .orderBy(col("annual_demand").desc, col("partkey"))
        .limit(25)
    }),

    // Siegel repeated-median slope per type on the day-indexed milli
    // means: for each point i the MEDIAN over j of pairwise slopes,
    // then the median of those medians — 50% breakdown vs Theil-Sen's
    // 29%. Both medians are value-at-index selections on the bounded
    // C(n,2) day grid.
    "q_siegel_slope" -> ((s, d) => {
      val pts = DailyGrid.mean(s, d)
        .select(col("event_type"), col("d"), col("y"), col("i"))
      val sl = pts.select(col("event_type"), col("i").as("i1"),
          col("y").as("y1"))
        .join(pts.select(col("event_type"), col("i").as("i2"),
          col("y").as("y2")), "event_type")
        .filter(col("i1") =!= col("i2"))
        .select(col("event_type"), col("i1"),
          ((col("y2") - col("y1")).cast("double")
            / (col("i2") - col("i1"))).as("sl"))
      val wIn = Window.partitionBy("event_type", "i1").orderBy("sl")
      val med1 = sl
        .withColumn("r", row_number().over(wIn).cast("long"))
        .withColumn("m", count(lit(1)).over(
          Window.partitionBy("event_type", "i1")))
        .groupBy("event_type", "i1")
        .agg(avg(when(expr("(m % 2 = 1 AND r = (m + 1) div 2)" +
          " OR (m % 2 = 0 AND (r = m div 2 OR r = m div 2 + 1))"),
          col("sl"))).as("ms"))
      val wOut = Window.partitionBy("event_type").orderBy("ms")
      val slope = med1
        .withColumn("r", row_number().over(wOut).cast("long"))
        .withColumn("m", count(lit(1)).over(wp))
        .groupBy("event_type")
        .agg(max("m").as("n_pts"),
          avg(when(expr("(m % 2 = 1 AND r = (m + 1) div 2)" +
            " OR (m % 2 = 0 AND (r = m div 2 OR r = m div 2 + 1))"),
            col("ms"))).as("b"))
      val wIc = Window.partitionBy("event_type").orderBy("ic")
      pts.join(broadcast(slope), "event_type")
        .select(col("event_type"), col("n_pts"), col("b"),
          (col("y") - col("b") * col("i")).as("ic"))
        .withColumn("r", row_number().over(wIc).cast("long"))
        .withColumn("m", count(lit(1)).over(wp))
        .groupBy("event_type")
        .agg(max("n_pts").as("n_pts"),
          round(max("b") / 1e3, 6).as("slope_per_day"),
          round(avg(when(expr("(m % 2 = 1 AND r = (m + 1) div 2)" +
            " OR (m % 2 = 0 AND (r = m div 2 OR r = m div 2 + 1))"),
            col("ic"))) / 1e3, 4).as("intercept"))
        .orderBy("event_type")
    }),

    // u control chart on daily error rates (defects per unit with
    // VARYING sample size — the p/c charts assume it fixed): u_i =
    // errors_i/n_i, limits ū ± 3√(ū/n_i) with ū = Σx/Σn from exact
    // counts; every day emitted with its signed flag.
    "q_u_chart" -> ((s, d) => {
      val daily = DailyGrid.mean(s, d)
        .groupBy("d")
        .agg(sum("cnt").as("n"),
          sum(when(col("event_type") === "error", col("cnt")).otherwise(0L))
            .as("x"))
        .localCheckpoint(eager = true) // center leg + chart leg
      val c = daily.agg(sum("x").as("tx"), sum("n").as("tn"))
      daily.crossJoin(broadcast(c))
        .withColumn("ubar", col("tx").cast("double") / col("tn"))
        .withColumn("u", col("x").cast("double") / col("n"))
        .withColumn("hw", lit(3.0) * sqrt(col("ubar") / col("n")))
        .select(col("d"), col("n"), col("x"),
          round(col("u"), 6).as("u"),
          round(col("ubar") + col("hw"), 6).as("ucl"),
          round(greatest(col("ubar") - col("hw"), lit(0.0)), 6)
            .as("lcl"),
          when(col("u") > col("ubar") + col("hw"), 1L)
            .when(col("u") < greatest(col("ubar") - col("hw"),
              lit(0.0)), -1L)
            .otherwise(0L).as("flag"))
        .orderBy("d")
    }),

    // Pairwise source win-rate matrix (the eval-arena shape): docs
    // matched across sources by their within-source doc_id rank,
    // quality = the 1e6-snapped distinct-token ratio; per source
    // pair: wins/losses/ties and the Wilson 95% lower bound on the
    // tie-excluded win rate.
    "q_winrate_matrix" -> ((s, d) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
      val scored = Tables.documents(s, d)
        .withColumn("l", split(col("text"), " "))
        .select(col("source"), col("doc_id"),
          round(size(array_distinct(col("l"))) * lit(1e6)
            / size(col("l"))).cast("long").as("qu"))
        .withColumn("r", row_number().over(w))
        .localCheckpoint(eager = true) // two matrix legs
      val g = scored.select(col("source").as("s1"), col("r"),
          col("qu").as("q1"))
        .join(scored.select(col("source").as("s2"), col("r"),
          col("qu").as("q2")), "r")
        .filter(col("s1") < col("s2"))
        .groupBy("s1", "s2")
        .agg(sum(when(col("q1") > col("q2"), 1L).otherwise(0L)).as("w1"),
          sum(when(col("q1") < col("q2"), 1L).otherwise(0L)).as("w2"),
          sum(when(col("q1") === col("q2"), 1L).otherwise(0L)).as("t"))
        .filter(col("w1") + col("w2") > 0)
      g.withColumn("nd", (col("w1") + col("w2")).cast("double"))
        .withColumn("p", col("w1") / col("nd"))
        .select(col("s1"), col("s2"), col("w1").as("wins"),
          col("w2").as("losses"), col("t").as("ties"),
          round(col("p"), 6).as("win_rate"),
          round((col("p") + lit(wilsonZ * wilsonZ) / (col("nd") * 2)
            - lit(wilsonZ) * sqrt(col("p") * (lit(1.0) - col("p"))
              / col("nd")
              + lit(wilsonZ * wilsonZ)
                / (col("nd") * col("nd") * 4.0)))
            / (lit(1.0) + lit(wilsonZ * wilsonZ) / col("nd")), 6)
            .as("wilson_low"))
        .orderBy("s1", "s2")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_freq_triples" ->
      """WITH ob AS (
        |  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |no AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM ob),
        |singles AS (
        |  SELECT b, CAST(COUNT(*) AS BIGINT) AS c1 FROM ob GROUP BY 1),
        |tr AS (
        |  SELECT a.b AS b1, bb.b AS b2, cc.b AS b3,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM ob a
        |  JOIN ob bb ON a.ok = bb.ok AND a.b < bb.b
        |  JOIN ob cc ON a.ok = cc.ok AND bb.b < cc.b
        |  GROUP BY 1, 2, 3)
        |SELECT b1, b2, b3, cnt,
        |  ROUND(cnt / CAST(n AS DOUBLE), 6) AS support,
        |  ROUND((cnt / CAST(n AS DOUBLE))
        |    / ((s1.c1 / CAST(n AS DOUBLE)) * (s2.c1 / CAST(n AS DOUBLE))
        |      * (s3.c1 / CAST(n AS DOUBLE))), 4) AS lift
        |FROM tr
        |JOIN singles s1 ON tr.b1 = s1.b
        |JOIN singles s2 ON tr.b2 = s2.b
        |JOIN singles s3 ON tr.b3 = s3.b, no
        |ORDER BY cnt DESC, b1, b2, b3 LIMIT 20""".stripMargin,

    "q_eoq" ->
      """WITH dem AS (
        |  SELECT l_partkey AS pk,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS dem
        |  FROM lineitem GROUP BY 1),
        |f AS (
        |  SELECT pk, dem, 0.2 * p_retailprice AS h,
        |    sqrt(2.0 * dem * 100.0 / (0.2 * p_retailprice)) AS eoq
        |  FROM dem JOIN part ON pk = p_partkey)
        |SELECT pk AS partkey, dem AS annual_demand,
        |  ROUND(h, 4) AS holding_cost,
        |  ROUND(eoq, 4) AS eoq,
        |  ROUND(dem / eoq, 4) AS orders_per_year
        |FROM f ORDER BY annual_demand DESC, partkey LIMIT 25""".stripMargin,

    "q_siegel_slope" ->
      s"""WITH ${DailyGrid.dmCte},
        |pts AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) AS i
        |  FROM dm),
        |sl AS (
        |  SELECT a.event_type, a.i AS i1,
        |    CAST(b.y - a.y AS DOUBLE) / (b.i - a.i) AS sl
        |  FROM pts a JOIN pts b
        |    ON a.event_type = b.event_type AND a.i <> b.i),
        |r1 AS (
        |  SELECT event_type, i1, sl,
        |    CAST(row_number() OVER (PARTITION BY event_type, i1
        |      ORDER BY sl) AS BIGINT) AS r,
        |    COUNT(*) OVER (PARTITION BY event_type, i1) AS m
        |  FROM sl),
        |med1 AS (
        |  SELECT event_type, i1,
        |    AVG(CASE WHEN (m % 2 = 1 AND r = (m + 1) // 2)
        |      OR (m % 2 = 0 AND (r = m // 2 OR r = m // 2 + 1))
        |      THEN sl END) AS ms
        |  FROM r1 GROUP BY 1, 2),
        |r2 AS (
        |  SELECT event_type, ms,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY ms)
        |      AS BIGINT) AS r,
        |    COUNT(*) OVER (PARTITION BY event_type) AS m
        |  FROM med1),
        |slope AS (
        |  SELECT event_type, MAX(m) AS n_pts,
        |    AVG(CASE WHEN (m % 2 = 1 AND r = (m + 1) // 2)
        |      OR (m % 2 = 0 AND (r = m // 2 OR r = m // 2 + 1))
        |      THEN ms END) AS b
        |  FROM r2 GROUP BY 1),
        |ics AS (
        |  SELECT p.event_type, s.n_pts, s.b, p.y - s.b * p.i AS ic
        |  FROM pts p JOIN slope s ON p.event_type = s.event_type),
        |r3 AS (
        |  SELECT event_type, n_pts, b, ic,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY ic)
        |      AS BIGINT) AS r,
        |    COUNT(*) OVER (PARTITION BY event_type) AS m
        |  FROM ics)
        |SELECT event_type, MAX(n_pts) AS n_pts,
        |  ROUND(MAX(b) / 1e3, 6) AS slope_per_day,
        |  ROUND(AVG(CASE WHEN (m % 2 = 1 AND r = (m + 1) // 2)
        |    OR (m % 2 = 0 AND (r = m // 2 OR r = m // 2 + 1))
        |    THEN ic END) / 1e3, 4) AS intercept
        |FROM r3 GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_u_chart" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT CAST(SUM(x) AS BIGINT) AS tx,
        |    CAST(SUM(n) AS BIGINT) AS tn
        |  FROM daily),
        |f AS (
        |  SELECT d, n, x,
        |    CAST(tx AS DOUBLE) / tn AS ubar,
        |    CAST(x AS DOUBLE) / n AS u,
        |    3.0 * sqrt((CAST(tx AS DOUBLE) / tn) / n) AS hw
        |  FROM daily, c)
        |SELECT d, n, x,
        |  ROUND(u, 6) AS u,
        |  ROUND(ubar + hw, 6) AS ucl,
        |  ROUND(GREATEST(ubar - hw, 0.0), 6) AS lcl,
        |  CAST(CASE WHEN u > ubar + hw THEN 1
        |    WHEN u < GREATEST(ubar - hw, 0.0) THEN -1 ELSE 0 END
        |    AS BIGINT) AS flag
        |FROM f ORDER BY d""".stripMargin,

    "q_winrate_matrix" ->
      s"""WITH scored AS (
        |  SELECT source, doc_id,
        |    CAST(ROUND(len(list_distinct(string_split(text, ' ')))
        |      * 1e6 / len(string_split(text, ' '))) AS BIGINT) AS qu,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |      AS r
        |  FROM documents),
        |g AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |    CAST(SUM(CASE WHEN a.qu > b.qu THEN 1 ELSE 0 END)
        |      AS BIGINT) AS w1,
        |    CAST(SUM(CASE WHEN a.qu < b.qu THEN 1 ELSE 0 END)
        |      AS BIGINT) AS w2,
        |    CAST(SUM(CASE WHEN a.qu = b.qu THEN 1 ELSE 0 END)
        |      AS BIGINT) AS t
        |  FROM scored a JOIN scored b
        |    ON a.r = b.r AND a.source < b.source
        |  GROUP BY 1, 2 HAVING SUM(CASE WHEN a.qu <> b.qu THEN 1
        |    ELSE 0 END) > 0),
        |f AS (
        |  SELECT s1, s2, w1, w2, t,
        |    CAST(w1 + w2 AS DOUBLE) AS nd,
        |    w1 / CAST(w1 + w2 AS DOUBLE) AS p
        |  FROM g)
        |SELECT s1, s2, w1 AS wins, w2 AS losses, t AS ties,
        |  ROUND(p, 6) AS win_rate,
        |  ROUND((p + ${wilsonZ * wilsonZ} / (nd * 2)
        |    - $wilsonZ * sqrt(p * (1.0 - p) / nd
        |      + ${wilsonZ * wilsonZ} / (nd * nd * 4.0)))
        |    / (1.0 + ${wilsonZ * wilsonZ} / nd), 6) AS wilson_low
        |FROM f ORDER BY s1, s2""".stripMargin
  )
}
