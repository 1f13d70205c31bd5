package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 54 (SURVEY.md §2 B.10b): directed-graph structure on
  * the supplier handoff digraph — nation homophily vs the
  * configuration-null expectation, the feed-forward/cyclic triad
  * census, hub-removal percolation (the distributed
  * ConnectedComponents operator before/after dropping the top-3
  * hubs; the oracle replays both closures with the recursive-CTE
  * reach pattern), hub edge dominance — plus brand seasonality (HHI
  * of monthly revenue shares) and gateway-brand repeat analysis on
  * first orders.
  */
object StatsR9zza {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Nation homophily of directed handoffs: observed same-nation
    // share vs the null Σ_n out_n·in_n/E²; index = (obs−exp)/(1−exp).
    "q_homophily" -> ((s, d) => {
      val nat = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey").as("nk"))
      val e = StatsR9za.handoff(s, d)
        .join(broadcast(nat.select(col("s_suppkey").as("src"),
          col("nk").as("n1"))), "src")
        .join(broadcast(nat.select(col("s_suppkey").as("dst"),
          col("nk").as("n2"))), "dst")
        .localCheckpoint(eager = true)
      val tot = e.agg(count(lit(1)).as("ee"),
        sum(when(col("n1") === col("n2"), 1L).otherwise(0L)).as("same"))
      val outs = e.groupBy("n1").agg(count(lit(1)).as("o"))
      val ins = e.groupBy("n2").agg(count(lit(1)).as("i"))
      val expd = outs.join(ins, col("n1") === col("n2"))
        .agg(sum(col("o") * col("i")).as("oi"))
      tot.crossJoin(broadcast(expd))
        .withColumn("obs", col("same").cast("double") / col("ee"))
        .withColumn("exp",
          col("oi").cast("double") / (col("ee") * col("ee")))
        .filter(col("exp") < 1)
        .select(col("ee").as("n_edges"), col("same").as("n_same_nation"),
          round(col("obs"), 6).as("observed_share"),
          round(col("exp"), 6).as("expected_share"),
          round((col("obs") - col("exp")) / (lit(1.0) - col("exp")), 6)
            .as("homophily_index"))
    }),

    // Directed triad census: feed-forward (u→v, v→w, u→w) and cyclic
    // (u→v, v→w, w→u, counted once per cycle via /3), u,v,w distinct.
    "q_triad_census" -> ((s, d) => {
      val e = StatsR9za.handoff(s, d) // session memo — already materialized
      val two = e.select(col("src").as("u"), col("dst").as("v"))
        .join(e.select(col("src").as("v"), col("dst").as("w")), "v")
        .filter(col("u") =!= col("w"))
      val ffl = two.join(e.select(col("src").as("u"),
          col("dst").as("w")), Seq("u", "w"))
        .agg(count(lit(1)).as("ffl"))
      val cyc = two.join(e.select(col("src").as("w"),
          col("dst").as("u")), Seq("w", "u"))
        .agg((count(lit(1)) / 3).cast("long").as("cyc"))
      ffl.crossJoin(cyc)
        .select(col("ffl").as("feed_forward_triads"),
          col("cyc").as("cyclic_triads"),
          round(col("ffl").cast("double")
            / greatest(col("ffl") + lit(3L) * col("cyc"), lit(1L)), 6)
            .as("ff_share_of_closed"))
    }),

    // Percolation: components of the symmetrized handoff graph
    // before/after removing the top-3 undirected-degree hubs
    // ((deg DESC, id ASC), stated) — the distributed CC operator on
    // both sides; the oracle replays the reach closure.
    "q_percolation" -> ((s, d) => {
      val e0 = StatsR9za.handoff(s, d) // session memo — already materialized
      val adj = e0.select(col("src").as("u"), col("dst").as("w"))
        .union(e0.select(col("dst").as("u"), col("src").as("w")))
        .distinct().localCheckpoint(eager = true)
      val nodes = adj.select(col("u").as("doc_id")).distinct()
      val hubs = adj.groupBy("u").agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("u").asc).limit(3)
        .select(col("u")).localCheckpoint(eager = true)
      val edges = e0.select(col("src").as("a_id"), col("dst").as("b_id"))
      def ccStats(ns: DataFrame, es: DataFrame) = {
        val lab = graft.operators.ConnectedComponents
          .components(s, ns, es)
        lab.groupBy("label").agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_cc"), max("sz").as("max_cc"))
      }
      val nodesA = nodes.join(hubs.select(col("u").as("doc_id")),
        Seq("doc_id"), "left_anti")
      val edgesA = edges
        .join(hubs.select(col("u").as("a_id")), Seq("a_id"), "left_anti")
        .join(hubs.select(col("u").as("b_id")), Seq("b_id"), "left_anti")
      // r13 opt (guide §2.6 — overlap independent jobs): the two CC
      // runs are independent once hubs is materialized (it is, eagerly,
      // above), and each CC round is a short low-parallelism job whose
      // tail leaves executors idle; submitting the two iterative runs
      // from two driver threads lets the scheduler back-fill one run's
      // stragglers with the other's tasks. Results are unchanged: CC is
      // deterministic and each leg owns its own frames.
      val (before, after) =
        graft.util.Par.both(ccStats(nodes, edges), ccStats(nodesA, edgesA))
      val nTot = nodes.agg(count(lit(1)).as("n_nodes"))
      nTot.crossJoin(before
          .select(col("n_cc").as("n_cc_before"),
            col("max_cc").as("max_cc_before")))
        .crossJoin(after.select(col("n_cc").as("n_cc_after"),
          col("max_cc").as("max_cc_after")))
    }),

    // Hub dominance: share of directed edges touching the top-5%
    // undirected-degree hubs (k = ceil(n/20), stated).
    "q_hub_dominance" -> ((s, d) => {
      val e0 = StatsR9za.handoff(s, d) // session memo — already materialized
      val adj = e0.select(col("src").as("u"), col("dst").as("w"))
        .union(e0.select(col("dst").as("u"), col("src").as("w")))
        .distinct()
      // node-grain global rank + total → range-partitioned rank and a
      // broadcast 1-row count (r10 VERDICT task 4)
      val deg0 = adj.groupBy("u").agg(count(lit(1)).as("deg"))
      val ranked = graft.operators.PrefixSum.rank(deg0,
          Seq(col("deg").desc, col("u").asc), "rk")
      // n = max rank (ranks are dense 1..n; reads the cheap
      // checkpointed rank table, no second degree pass)
      val deg = ranked.crossJoin(broadcast(ranked.agg(max("rk").as("n"))))
      val hubs = deg.filter(col("rk") <= expr("(n + 19) div 20"))
        .select(col("u").as("hub")).localCheckpoint(eager = true)
      val tot = e0.agg(count(lit(1)).as("ee"))
      val touched = e0
        .join(hubs.select(col("hub").as("src"))
          .withColumn("hs", lit(1)), Seq("src"), "left")
        .join(hubs.select(col("hub").as("dst"))
          .withColumn("hd", lit(1)), Seq("dst"), "left")
        .filter(col("hs").isNotNull || col("hd").isNotNull)
        .agg(count(lit(1)).as("n_touched"))
      val nh = hubs.agg(count(lit(1)).as("n_hubs"))
      tot.crossJoin(touched).crossJoin(nh)
        .select(col("n_hubs"), col("ee").as("n_edges"),
          col("n_touched"),
          round(col("n_touched").cast("double") / col("ee"), 6)
            .as("hub_edge_share"))
    }),

    // Brand seasonality: HHI of monthly revenue shares per brand
    // (Σrev_m²/rev², HUGEINT/DECIMAL squares); top 10.
    "q_brand_seasonality" -> ((s, d) => {
      val bm = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          date_trunc("month", col("l_shipdate")).cast("date").as("m"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("rev"))
      bm.groupBy("p_brand")
        .agg(count(lit(1)).as("n_months"), sum("rev").as("tot"),
          sum(col("rev").cast("decimal(38,0)") * col("rev")).as("sq"))
        .filter(col("tot") > 0)
        .select(col("p_brand").as("brand"), col("n_months"),
          round(col("sq").cast("double")
            / (col("tot").cast("double") * col("tot")), 6)
            .as("monthly_hhi"))
        .orderBy(col("monthly_hhi").desc, col("brand").asc)
        .limit(10)
    }),

    // Gateway brands: brands in each customer's FIRST order
    // ((orderdate, orderkey), stated) vs whether the customer
    // reorders; per-brand repeat rate + lift over the overall rate.
    "q_gateway_parts" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      val firsts = Tables.orders(s, d)
        .withColumn("rk", row_number().over(w))
        .withColumn("n_ord", count(lit(1)).over(
          Window.partitionBy("o_custkey")))
        .filter(col("rk") === 1)
        .select(col("o_orderkey").as("fok"),
          (col("n_ord") >= 2).as("repeat"))
        .localCheckpoint(eager = true)
      val fb = firsts.join(Tables.lineitem(s, d)
          .select(col("l_orderkey").as("fok"), col("l_partkey")),
          "fok")
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("fok"), col("p_brand"), col("repeat")).distinct()
      val overall = firsts.agg(
        sum(when(col("repeat"), 1L).otherwise(0L)).as("r"),
        count(lit(1)).as("n"))
      fb.groupBy("p_brand")
        .agg(count(lit(1)).as("n_first"),
          sum(when(col("repeat"), 1L).otherwise(0L)).as("n_repeat"))
        .crossJoin(broadcast(overall))
        .select(col("p_brand").as("brand"), col("n_first"),
          round(col("n_repeat").cast("double") / col("n_first"), 6)
            .as("repeat_rate"),
          round((col("n_repeat").cast("double") / col("n_first"))
            / (col("r").cast("double") / col("n")), 6).as("lift"))
        .orderBy("brand")
    })
  )

  private val adjCte: String =
    """adj AS (
      |  SELECT DISTINCT u, w FROM (
      |    SELECT src AS u, dst AS w FROM e
      |    UNION ALL SELECT dst, src FROM e))""".stripMargin

  val oracle: Map[String, String] = Map(
    // identical configuration-null chain
    "q_homophily" -> (s"WITH ${StatsR9za.edgeCte}," +
      """
        |en AS (
        |  SELECT e.src, e.dst, a.s_nationkey AS n1, b.s_nationkey AS n2
        |  FROM e
        |  JOIN supplier a ON e.src = a.s_suppkey
        |  JOIN supplier b ON e.dst = b.s_suppkey),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS ee,
        |    CAST(SUM(CASE WHEN n1 = n2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS same
        |  FROM en),
        |oi AS (
        |  SELECT SUM(o.o * i.i) AS oi FROM
        |    (SELECT n1, CAST(COUNT(*) AS BIGINT) AS o FROM en
        |     GROUP BY 1) o
        |  JOIN (SELECT n2, CAST(COUNT(*) AS BIGINT) AS i FROM en
        |        GROUP BY 1) i ON o.n1 = i.n2)
        |SELECT ee AS n_edges, same AS n_same_nation,
        |  ROUND(CAST(same AS DOUBLE) / ee, 6) AS observed_share,
        |  ROUND(CAST(oi AS DOUBLE) / (ee * ee), 6) AS expected_share,
        |  ROUND((CAST(same AS DOUBLE) / ee
        |    - CAST(oi AS DOUBLE) / (ee * ee))
        |    / (1.0 - CAST(oi AS DOUBLE) / (ee * ee)), 6)
        |    AS homophily_index
        |FROM tot, oi
        |WHERE CAST(oi AS DOUBLE) / (ee * ee) < 1""".stripMargin),

    // identical two-hop joins
    "q_triad_census" -> (s"WITH ${StatsR9za.edgeCte}," +
      """
        |two AS (
        |  SELECT a.src AS u, a.dst AS v, b.dst AS w
        |  FROM e a JOIN e b ON a.dst = b.src
        |  WHERE a.src <> b.dst),
        |ffl AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS ffl
        |  FROM two JOIN e ON two.u = e.src AND two.w = e.dst),
        |cyc AS (
        |  SELECT CAST(COUNT(*) // 3 AS BIGINT) AS cyc
        |  FROM two JOIN e ON two.w = e.src AND two.u = e.dst)
        |SELECT ffl AS feed_forward_triads, cyc AS cyclic_triads,
        |  ROUND(CAST(ffl AS DOUBLE)
        |    / GREATEST(ffl + 3 * cyc, 1), 6) AS ff_share_of_closed
        |FROM ffl, cyc""".stripMargin),

    // identical reach closures before/after hub removal
    "q_percolation" -> (s"WITH RECURSIVE ${StatsR9za.edgeCte}," +
      s"""
        |$adjCte,
        |nodes AS (SELECT DISTINCT u AS id FROM adj),
        |hubs AS (
        |  SELECT u FROM (
        |    SELECT u, COUNT(*) AS deg FROM adj GROUP BY 1
        |    ORDER BY deg DESC, u ASC LIMIT 3)),
        |reach(src, dst) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT r.src, a.w FROM reach r JOIN adj a ON r.dst = a.u),
        |lab AS (SELECT src AS id, MIN(dst) AS label FROM reach
        |        GROUP BY 1),
        |bef AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cc_before,
        |    CAST(MAX(sz) AS BIGINT) AS max_cc_before
        |  FROM (SELECT label, COUNT(*) AS sz FROM lab GROUP BY 1)),
        |adj2 AS (
        |  SELECT a.u, a.w FROM adj a
        |  WHERE a.u NOT IN (SELECT u FROM hubs)
        |    AND a.w NOT IN (SELECT u FROM hubs)),
        |nodes2 AS (
        |  SELECT id FROM nodes WHERE id NOT IN (SELECT u FROM hubs)),
        |reach2(src, dst) AS (
        |  SELECT id, id FROM nodes2
        |  UNION
        |  SELECT r.src, a.w FROM reach2 r JOIN adj2 a ON r.dst = a.u),
        |lab2 AS (SELECT src AS id, MIN(dst) AS label FROM reach2
        |         GROUP BY 1),
        |aft AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cc_after,
        |    CAST(MAX(sz) AS BIGINT) AS max_cc_after
        |  FROM (SELECT label, COUNT(*) AS sz FROM lab2 GROUP BY 1)),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes)
        |SELECT nt.n_nodes, bef.n_cc_before, bef.max_cc_before,
        |  aft.n_cc_after, aft.max_cc_after
        |FROM nt, bef, aft""".stripMargin),

    // identical ceil(n/20) hub cut
    "q_hub_dominance" -> (s"WITH ${StatsR9za.edgeCte}," +
      s"""
        |$adjCte,
        |deg AS (
        |  SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM adj
        |  GROUP BY 1),
        |rk AS (
        |  SELECT u,
        |    CAST(row_number() OVER (ORDER BY deg DESC, u ASC)
        |      AS BIGINT) AS rk,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM deg),
        |hubs AS (SELECT u FROM rk WHERE rk <= (n + 19) // 20),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS ee FROM e),
        |tc AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_touched FROM e
        |  WHERE e.src IN (SELECT u FROM hubs)
        |    OR e.dst IN (SELECT u FROM hubs)),
        |nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hubs FROM hubs)
        |SELECT nh.n_hubs, tot.ee AS n_edges, tc.n_touched,
        |  ROUND(CAST(tc.n_touched AS DOUBLE) / tot.ee, 6)
        |    AS hub_edge_share
        |FROM nh, tot, tc""".stripMargin),

    // identical HUGEINT share squares
    "q_brand_seasonality" ->
      """WITH bm AS (
        |  SELECT p.p_brand,
        |    CAST(date_trunc('month', CAST(l.l_shipdate AS DATE))
        |      AS DATE) AS m,
        |    SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS rev
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |ag AS (
        |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_months,
        |    SUM(rev) AS tot, SUM(CAST(rev AS HUGEINT) * rev) AS sq
        |  FROM bm GROUP BY 1 HAVING SUM(rev) > 0)
        |SELECT p_brand AS brand, n_months,
        |  ROUND(CAST(sq AS DOUBLE)
        |    / (CAST(tot AS DOUBLE) * tot), 6) AS monthly_hhi
        |FROM ag
        |ORDER BY monthly_hhi DESC, brand ASC
        |LIMIT 10""".stripMargin,

    // identical first-order gateway rates
    "q_gateway_parts" ->
      """WITH f AS (
        |  SELECT o_orderkey AS fok, n_ord >= 2 AS repeat_
        |  FROM (SELECT o_orderkey,
        |          row_number() OVER w AS rk,
        |          COUNT(*) OVER (PARTITION BY o_custkey) AS n_ord
        |        FROM orders
        |        WINDOW w AS (PARTITION BY o_custkey
        |          ORDER BY o_orderdate, o_orderkey))
        |  WHERE rk = 1),
        |fb AS (
        |  SELECT DISTINCT f.fok, p.p_brand, f.repeat_
        |  FROM f
        |  JOIN lineitem l ON l.l_orderkey = f.fok
        |  JOIN part p ON l.l_partkey = p.p_partkey),
        |ov AS (
        |  SELECT CAST(SUM(CASE WHEN repeat_ THEN 1 ELSE 0 END)
        |      AS BIGINT) AS r,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM f)
        |SELECT fb.p_brand AS brand,
        |  CAST(COUNT(*) AS BIGINT) AS n_first,
        |  ROUND(CAST(SUM(CASE WHEN fb.repeat_ THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 6) AS repeat_rate,
        |  ROUND((CAST(SUM(CASE WHEN fb.repeat_ THEN 1 ELSE 0 END)
        |      AS DOUBLE) / COUNT(*))
        |    / (CAST(MAX(ov.r) AS DOUBLE) / MAX(ov.n)), 6) AS lift
        |FROM fb, ov
        |GROUP BY fb.p_brand
        |ORDER BY brand""".stripMargin
  )
}
