package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Round-9 wave 36 (SURVEY.md §2 B.10b): trade-flow analytics on the
  * star schema (nation×nation revenue matrix, per-nation trade
  * balance), a deterministic RANSAC-style robust line fit on the
  * daily series (fixed anchor-pair candidates, EXACT integer inlier
  * tests by cross-multiplication), the end-of-month order
  * concentration effect, Burrows' Delta stylometric distance between
  * sources (all z-scores snapped to integer grids before any
  * cross-row sum), and Chao1 vocabulary-richness estimation per
  * language.
  *
  * Scale: the flow matrix is a 25×25 rollup; RANSAC candidates are a
  * FIXED 8-pair set (each test one scan of the bounded day grid);
  * Burrows rides the top-20-word × 20-source grid; Chao1 is a
  * per-(lang, word) rollup. Nothing is quadratic in the corpus.
  */
object StatsR9zi {

  /** (cust_nation_key, supp_nation_key, revenue_cents) rollup. */
  private def flows(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey").as("cn"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey").as("sn"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("cn", "sn")
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
        .as("rev"))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Customer-nation × supplier-nation revenue matrix, top 20 flows
    // by (revenue, names): the full-matrix generalization of TPC-H
    // Q7's two-nation slice.
    "q_nation_flow_matrix" -> ((s, d) => {
      val n = Tables.nation(s, d).select("n_nationkey", "n_name")
      flows(s, d)
        .join(broadcast(n.select(col("n_nationkey"),
          col("n_name").as("cust_nation"))),
          col("cn") === col("n_nationkey"))
        .join(broadcast(n.select(col("n_nationkey").as("nk2"),
          col("n_name").as("supp_nation"))),
          col("sn") === col("nk2"))
        .select(col("cust_nation"), col("supp_nation"),
          round(col("rev") / 100.0, 2).as("revenue"))
        .orderBy(col("revenue").desc, col("cust_nation").asc,
          col("supp_nation").asc)
        .limit(20)
    }),

    // Per-nation trade balance: exports (as supplier nation) minus
    // imports (as customer nation), exact cents.
    "q_flow_balance" -> ((s, d) => {
      val f = flows(s, d).localCheckpoint(eager = true)
      val exp = f.groupBy(col("sn").as("nk")).agg(sum("rev").as("exports"))
      val imp = f.groupBy(col("cn").as("nk")).agg(sum("rev").as("imports"))
      exp.join(imp, Seq("nk"), "full_outer")
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("nk"), col("n_name"))), Seq("nk"))
        .select(col("n_name").as("nation"),
          round(coalesce(col("exports"), lit(0L)) / 100.0, 2)
            .as("exports"),
          round(coalesce(col("imports"), lit(0L)) / 100.0, 2)
            .as("imports"),
          round((coalesce(col("exports"), lit(0L))
            - coalesce(col("imports"), lit(0L))) / 100.0, 2)
            .as("balance"))
        .orderBy("nation")
    }),

    // Deterministic RANSAC line fit on the all-type daily milli-mean:
    // candidates = the 8 stated anchor index pairs; a day k is an
    // inlier of (i,j) iff |(y_k−y_i)(j−i) − (k−i)(y_j−y_i)| ≤
    // 5000·(j−i) (τ = 5000 milli, stated) — EXACT longs. Best by
    // (inliers DESC, i, j).
    "q_ransac_lite" -> ((s, d) => {
      import s.implicits._
      val day = DailyGrid.market(s, d).select("i", "y")
      val pairs = Seq((1L, 8L), (1L, 15L), (8L, 22L), (15L, 29L),
        (1L, 29L), (8L, 15L), (15L, 22L), (22L, 29L))
        .toDF("ai", "aj")
      val anchors = pairs
        .join(day.select(col("i").as("ai"), col("y").as("yi")), Seq("ai"))
        .join(day.select(col("i").as("aj"), col("y").as("yj")), Seq("aj"))
      val inl = day.crossJoin(broadcast(anchors))
        .filter(abs((col("y") - col("yi")) * (col("aj") - col("ai"))
          - (col("i") - col("ai")) * (col("yj") - col("yi")))
          <= lit(5000L) * (col("aj") - col("ai")))
        .groupBy("ai", "aj", "yi", "yj")
        .agg(count(lit(1)).as("n_inliers"))
      inl.orderBy(col("n_inliers").desc, col("ai").asc, col("aj").asc)
        .limit(1)
        .select(col("ai").as("anchor_i"), col("aj").as("anchor_j"),
          col("n_inliers"),
          round((col("yj") - col("yi")).cast("double")
            / (col("aj") - col("ai")) / 1000.0, 6).as("slope_per_day"))
    }),

    // End-of-month effect: orders in the last 3 calendar days of
    // their month vs the per-month-length expectation; χ² with 1 df
    // from exact per-month-length counts.
    "q_eom_effect" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          dayofmonth(last_day(col("o_orderdate"))).cast("long").as("dim"))
      val g = o.groupBy("dim")
        .agg(count(lit(1)).as("n_dim"),
          sum(when(col("dom") > col("dim") - 3, 1L).otherwise(0L))
            .as("eom_dim"))
      g.agg(sum("n_dim").as("n"), sum("eom_dim").as("eom"),
          sum(col("n_dim") * 3.0 / col("dim")).as("exp"))
        .filter(col("exp") > 0 && col("n") > col("exp"))
        .select(col("n").as("n_orders"), col("eom").as("n_eom"),
          round(col("eom") / col("n").cast("double"), 6).as("eom_share"),
          round(pow(col("eom") - col("exp"), 2) / col("exp")
            + pow((col("n") - col("eom")) - (col("n") - col("exp")), 2)
              / (col("n") - col("exp")), 6).as("chi2"))
    }),

    // Burrows' Delta between sources over the global top-20 words
    // (count DESC, word ASC, stated): per-source relative frequencies
    // snapped to 1e9, per-word population z snapped to 1e6, Delta =
    // mean |z1−z2| over the 20 words; 5 closest pairs.
    "q_burrows_delta" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .localCheckpoint(eager = true)
      val top = toks.groupBy("w").agg(count(lit(1)).as("cw"))
        .orderBy(col("cw").desc, col("w").asc).limit(20)
        .select("w")
      val srcTot = toks.groupBy("source").agg(count(lit(1)).as("tot"))
      val fu = toks.join(broadcast(top), "w")
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .join(srcTot, "source")
        .select(col("source"), col("w"),
          round(col("c") * lit(1e9) / col("tot")).cast("long").as("fu"))
      // complete the (source × top-word) grid with zeros
      val grid = srcTot.select("source").crossJoin(broadcast(top))
        .join(fu, Seq("source", "w"), "left")
        .withColumn("fu", coalesce(col("fu"), lit(0L)))
        .localCheckpoint(eager = true)
      val stats = grid.groupBy("w")
        .agg(count(lit(1)).as("ns"), sum("fu").as("sf"),
          sum(col("fu").cast("decimal(38,0)") * col("fu")).as("sff"))
        .withColumn("mean", col("sf").cast("double") / col("ns"))
        .withColumn("sd", sqrt(col("sff").cast("double") / col("ns")
          - col("mean") * col("mean")))
        .filter(col("sd") > 0)
      val z = grid.join(broadcast(stats.select("w", "mean", "sd")), "w")
        .select(col("source"), col("w"),
          round((col("fu") - col("mean")) / col("sd") * 1e6)
            .cast("long").as("zu"))
        .localCheckpoint(eager = true)
      z.select(col("source").as("s1"), col("w"), col("zu").as("z1"))
        .join(z.select(col("source").as("s2"), col("w"),
          col("zu").as("z2")), "w")
        .filter(col("s1") < col("s2"))
        .groupBy("s1", "s2")
        .agg(count(lit(1)).as("nw"), sum(abs(col("z1") - col("z2")))
          .as("sz"))
        .select(col("s1"), col("s2"),
          round(col("sz") / col("nw").cast("double") / 1e6, 6)
            .as("delta"))
        .orderBy(col("delta").asc, col("s1").asc, col("s2").asc)
        .limit(5)
    }),

    // Chao1 vocabulary richness per language: V + F1²/(2F2), the
    // F2=0 fallback V + F1(F1−1)/2 (stated standard correction).
    "q_chao1_vocab" -> ((s, d) => {
      val wc = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      wc.groupBy("lang")
        .agg(count(lit(1)).as("v"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
        .select(col("lang"), col("v"), col("f1"), col("f2"),
          round(when(col("f2") > 0, col("v")
            + col("f1").cast("double") * col("f1") / (lit(2L) * col("f2")))
            .otherwise(col("v")
              + col("f1").cast("double") * (col("f1") - 1) / 2), 6)
            .as("chao1"))
        .orderBy("lang")
    })
  )

  private val flowCte: String =
    """f AS (
      |  SELECT cu.c_nationkey AS cn, su.s_nationkey AS sn,
      |    SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS rev
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer cu ON o.o_custkey = cu.c_custkey
      |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
      |  GROUP BY 1, 2)""".stripMargin

  val oracle: Map[String, String] = Map(
    // identical matrix rollup + name join
    "q_nation_flow_matrix" ->
      s"""WITH $flowCte
        |SELECT nc.n_name AS cust_nation, ns.n_name AS supp_nation,
        |  ROUND(rev / 100.0, 2) AS revenue
        |FROM f
        |JOIN nation nc ON f.cn = nc.n_nationkey
        |JOIN nation ns ON f.sn = ns.n_nationkey
        |ORDER BY revenue DESC, cust_nation ASC, supp_nation ASC
        |LIMIT 20""".stripMargin,

    // identical export/import rollups
    "q_flow_balance" ->
      s"""WITH $flowCte,
        |ex AS (SELECT sn AS nk, SUM(rev) AS exports FROM f GROUP BY 1),
        |im AS (SELECT cn AS nk, SUM(rev) AS imports FROM f GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(ex.nk, im.nk) AS nk,
        |    COALESCE(ex.exports, 0) AS exports,
        |    COALESCE(im.imports, 0) AS imports
        |  FROM ex FULL OUTER JOIN im ON ex.nk = im.nk)
        |SELECT n.n_name AS nation,
        |  ROUND(j.exports / 100.0, 2) AS exports,
        |  ROUND(j.imports / 100.0, 2) AS imports,
        |  ROUND((j.exports - j.imports) / 100.0, 2) AS balance
        |FROM j JOIN nation n ON j.nk = n.n_nationkey
        |ORDER BY nation""".stripMargin,

    // identical exact cross-multiplied inlier tests
    "q_ransac_lite" ->
      """WITH day AS (
        |  SELECT CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
        |      // COUNT(*) AS BIGINT) AS y,
        |    CAST(row_number() OVER (ORDER BY CAST(ts AS DATE))
        |      AS BIGINT) AS i
        |  FROM events GROUP BY CAST(ts AS DATE)),
        |pairs AS (
        |  SELECT * FROM (VALUES (1, 8), (1, 15), (8, 22), (15, 29),
        |    (1, 29), (8, 15), (15, 22), (22, 29)) AS t(ai, aj)),
        |anch AS (
        |  SELECT p.ai, p.aj, di.y AS yi, dj.y AS yj
        |  FROM pairs p
        |  JOIN day di ON di.i = p.ai
        |  JOIN day dj ON dj.i = p.aj),
        |inl AS (
        |  SELECT a.ai, a.aj, a.yi, a.yj,
        |    CAST(COUNT(*) AS BIGINT) AS n_inliers
        |  FROM day k, anch a
        |  WHERE ABS((k.y - a.yi) * (a.aj - a.ai)
        |    - (k.i - a.ai) * (a.yj - a.yi)) <= 5000 * (a.aj - a.ai)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT CAST(ai AS BIGINT) AS anchor_i,
        |  CAST(aj AS BIGINT) AS anchor_j, n_inliers,
        |  ROUND(CAST(yj - yi AS DOUBLE) / (aj - ai) / 1000.0, 6)
        |    AS slope_per_day
        |FROM inl ORDER BY n_inliers DESC, ai ASC, aj ASC
        |LIMIT 1""".stripMargin,

    // identical per-month-length expectation
    "q_eom_effect" ->
      """WITH o AS (
        |  SELECT CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS dom,
        |    CAST(EXTRACT(day FROM last_day(CAST(o_orderdate AS DATE)))
        |      AS BIGINT) AS dim
        |  FROM orders),
        |g AS (
        |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_dim,
        |    CAST(SUM(CASE WHEN dom > dim - 3 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS eom_dim
        |  FROM o GROUP BY 1),
        |ag AS (
        |  SELECT CAST(SUM(n_dim) AS BIGINT) AS n,
        |    CAST(SUM(eom_dim) AS BIGINT) AS eom,
        |    SUM(n_dim * 3.0 / dim) AS exp
        |  FROM g)
        |SELECT n AS n_orders, eom AS n_eom,
        |  ROUND(eom / CAST(n AS DOUBLE), 6) AS eom_share,
        |  ROUND(POW(eom - exp, 2) / exp
        |    + POW((n - eom) - (n - exp), 2) / (n - exp), 6) AS chi2
        |FROM ag WHERE exp > 0 AND n > exp""".stripMargin,

    // identical snapped frequency/z grids
    "q_burrows_delta" ->
      """WITH toks AS (
        |  SELECT source, UNNEST(string_split(text, ' ')) AS w
        |  FROM documents),
        |top AS (
        |  SELECT w FROM (
        |    SELECT w, COUNT(*) AS cw FROM toks GROUP BY 1
        |    ORDER BY cw DESC, w ASC LIMIT 20)),
        |st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS tot
        |       FROM toks GROUP BY 1),
        |fu AS (
        |  SELECT t.source, t.w,
        |    CAST(ROUND(COUNT(*) * 1e9 / MAX(st.tot)) AS BIGINT) AS fu
        |  FROM toks t JOIN top ON t.w = top.w
        |  JOIN st ON t.source = st.source
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT st.source, top.w, COALESCE(fu.fu, 0) AS fu
        |  FROM st CROSS JOIN top
        |  LEFT JOIN fu ON fu.source = st.source AND fu.w = top.w),
        |stats AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS ns,
        |    CAST(SUM(fu) AS DOUBLE) / COUNT(*) AS mean,
        |    sqrt(CAST(SUM(CAST(fu AS HUGEINT) * fu) AS DOUBLE)
        |        / COUNT(*)
        |      - (CAST(SUM(fu) AS DOUBLE) / COUNT(*))
        |        * (CAST(SUM(fu) AS DOUBLE) / COUNT(*))) AS sd
        |  FROM grid GROUP BY 1),
        |z AS (
        |  SELECT g.source, g.w,
        |    CAST(ROUND((g.fu - s.mean) / s.sd * 1e6) AS BIGINT) AS zu
        |  FROM grid g JOIN stats s ON g.w = s.w
        |  WHERE s.sd > 0)
        |SELECT a.source AS s1, b.source AS s2,
        |  ROUND(SUM(ABS(a.zu - b.zu))
        |    / CAST(COUNT(*) AS DOUBLE) / 1e6, 6) AS delta
        |FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
        |GROUP BY 1, 2
        |ORDER BY delta ASC, s1 ASC, s2 ASC
        |LIMIT 5""".stripMargin,

    // identical singleton/doubleton assembly
    "q_chao1_vocab" ->
      """WITH wc AS (
        |  SELECT lang, w, COUNT(*) AS c FROM (
        |    SELECT lang, UNNEST(string_split(text, ' ')) AS w
        |    FROM documents)
        |  GROUP BY 1, 2)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS v,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f1,
        |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f2,
        |  ROUND(CASE WHEN SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) > 0
        |    THEN COUNT(*)
        |      + CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |        / (2 * SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END))
        |    ELSE COUNT(*)
        |      + CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1) / 2
        |    END, 6) AS chao1
        |FROM wc GROUP BY lang ORDER BY lang""".stripMargin
  )
}
