package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** B.3 joins (SURVEY.md §2).
  *
  * Scale posture: dimension tables (region/nation/supplier at these
  * shapes) are explicitly `broadcast()` so the fact side never
  * shuffles for them; fact⋈fact equi-joins shuffle on their keys and
  * rely on AQE for skew. The event self-joins are equi-keyed on
  * user_id with the time predicate evaluated post-join — at 100 TB the
  * user_id hash partitioning bounds each task to one user's events.
  */
object Joins {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_inner_equi" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
             round(sum("o_totalprice"), 4).as("total_price"))
        .orderBy("c_mktsegment")
    }),

    "q_join_broadcast" -> ((s, d) => {
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")
    }),

    "q_join_5way" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      val su = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(broadcast(su), l("l_suppkey") === su("s_suppkey") &&
                             c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(r("r_name") === "ASIA" &&
                o("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                o("o_orderdate") <  lit("1997-01-01").cast("timestamp"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
        .orderBy("n_name")
    }),

    "q_join_left_outer" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }),

    "q_join_full_outer" -> ((s, d) => {
      val su = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      su.join(n, su("s_nationkey") === n("n_nationkey"), "full")
        .select("n_nationkey", "n_name", "s_suppkey", "s_name")
        .orderBy(col("n_nationkey").asc_nulls_first, col("s_suppkey").asc_nulls_first)
    }),

    "q_join_semi" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    "q_join_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    "q_join_theta_range" -> ((s, d) => {
      val e = Tables.events(s, d)
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      v.join(p, col("v_user") === col("p_user") &&
                col("p_ts") >= col("v_ts") &&
                col("p_ts") <= col("v_ts") + expr("INTERVAL 12 HOURS"))
        .groupBy(col("v_user").as("user_id"))
        .agg(count(lit(1)).as("conv_pairs"))
        .orderBy("user_id")
    }),

    // As-of (most recent prior view per purchase). At 100 TB the
    // unbounded v_ts <= ts predicate would be bounded by a horizon
    // (e.g. 30 days) exactly like q_join_range_bucket's bucket trick,
    // turning the prior-event search into a bounded bucket probe.
    "q_join_asof" -> ((s, d) => {
      val e = Tables.events(s, d)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      p.join(v, col("user_id") === col("v_user") && col("v_ts") <= col("ts"), "left")
        .groupBy("event_id", "user_id", "ts")
        .agg(max("v_ts").as("last_view_ts"))
        // ntz final projection (naive timestamps for the driver compare)
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("last_view_ts").cast("timestamp_ntz").as("last_view_ts"))
        .orderBy("event_id")
    }),

    // TPC-H Q3 (shipping priority): the canonical fact⋈fact⋈dim
    // 3-way with date range predicates on both fact sides. Revenue is
    // computed in EXACT integer 1e-4-dollar units (cents × residual
    // discount percent, both DECIMAL) so the per-order totals, their
    // DESC ordering, and the top-10 cut are drift-free — a double
    // SUM(p·(1−d)) straddles rounding boundaries between engines.
    // customer/supplier carry NO broadcast hint (they scale with the
    // corpus — §7.5 posture; AQE still broadcasts them at test sf);
    // only region/nation are structurally bounded.
    "q_tpch_q3" -> ((s, d) => {
      val rev4 = (round(col("l_extendedprice") * 100, 0)
          .cast(org.apache.spark.sql.types.DecimalType(20, 0))
        * round(lit(100) - col("l_discount") * 100, 0)
          .cast(org.apache.spark.sql.types.DecimalType(20, 0)))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))
      val c = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp_ntz"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp_ntz"))
        .select(col("l_orderkey"), rev4.as("rev4"))
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum("rev4").cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("r4"))
        .orderBy(col("r4").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("o_orderdate"),
          col("r4").cast("string").as("revenue_e4"),
          round(col("r4").cast("double") / 1e4, 2).as("revenue"))
    }),

    // TPC-H Q5 (local supplier volume): the 6-way region→nation→
    // customer/supplier→orders→lineitem join with the c_nationkey =
    // s_nationkey locality constraint. Same exact-decimal revenue.
    "q_tpch_q5" -> ((s, d) => {
      val rev4 = (round(col("l_extendedprice") * 100, 0)
          .cast(org.apache.spark.sql.types.DecimalType(20, 0))
        * round(lit(100) - col("l_discount") * 100, 0)
          .cast(org.apache.spark.sql.types.DecimalType(20, 0)))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))
      val n = Tables.nation(s, d).join(
        Tables.region(s, d).filter(col("r_name") === "ASIA").select("r_regionkey"),
        col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
        .select("o_orderkey", "o_custkey")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), rev4.as("rev4"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum("rev4").cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("r4"))
        .orderBy(col("r4").desc, col("n_name"))
        .select(col("n_name"),
          col("r4").cast("string").as("revenue_e4"),
          round(col("r4").cast("double") / 1e4, 2).as("revenue"))
    }),

    // TPC-H Q10 (returned-item reporting): top-20 customers by revenue
    // lost to returns in one quarter. lineitem filters on returnflag
    // before the join (scan-level pushdown cuts ~2/3 of the fact side);
    // customer is the grouping side and carries NO broadcast hint
    // (scales with the corpus — §7.5); nation is structurally bounded
    // and broadcast. Same exact integer 1e-4-dollar revenue units as
    // Q3/Q5 so the DESC order and the top-20 cut are drift-free;
    // c_acctbal rides through untouched (no arithmetic → exact).
    "q_tpch_q10" -> ((s, d) => {
      val rev4 = (round(col("l_extendedprice") * 100, 0)
          .cast(org.apache.spark.sql.types.DecimalType(20, 0))
        * round(lit(100) - col("l_discount") * 100, 0)
          .cast(org.apache.spark.sql.types.DecimalType(20, 0)))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp_ntz"))
        .select("o_orderkey", "o_custkey")
      val l = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), rev4.as("rev4"))
      val c = Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val n = Tables.nation(s, d).select("n_nationkey", "n_name")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(sum("rev4").cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("r4"))
        .orderBy(col("r4").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"),
          col("r4").cast("string").as("revenue_e4"),
          round(col("r4").cast("double") / 1e4, 2).as("revenue"))
    }),

    // TPC-H Q18 (large-volume customers): orders whose total quantity
    // exceeds 250, with their customer. The HAVING-filtered per-order
    // aggregate computes FIRST (partial agg on l_orderkey, then the
    // filter cuts it to a tiny table), so the orders/customer joins see
    // only qualifying keys — AQE broadcasts the filtered side without a
    // hint (it scales with the corpus, §7.5). l_quantity is integral in
    // this data, so SUM is exact; o_totalprice rides through with no
    // arithmetic — the DESC order and top-100 cut compare exact doubles.
    "q_tpch_q18" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sum("l_quantity").as("sum_qty"))
        .filter(col("sum_qty") > 250)
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val c = Tables.customer(s, d).select("c_custkey", "c_name")
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // Forward as-of: FIRST view strictly after each purchase (the
    // response-lag direction; q_join_asof is the attribution
    // direction). Same bounded-horizon note applies at scale.
    "q_join_asof_fwd" -> ((s, d) => {
      val e = Tables.events(s, d)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      p.join(v, col("user_id") === col("v_user") && col("v_ts") > col("ts"), "left")
        .groupBy("event_id", "user_id", "ts")
        .agg(min("v_ts").as("next_view_ts"))
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("next_view_ts").cast("timestamp_ntz").as("next_view_ts"))
        .orderBy("event_id")
    }),

    // NEAREST-direction as-of (the third member of the family: backward
    // = q_join_asof, forward = q_join_asof_fwd): each purchase matches
    // the view with the smallest |Δt| in either direction, ties to the
    // earlier view. The argmin folds as min(struct(delta, ts)) inside
    // the same grouped aggregation the siblings use — no window, no
    // second pass; purchases with no views keep a null match (min
    // ignores the null-guarded struct). Exact-µs integer deltas.
    "q_join_asof_nearest" -> ((s, d) => {
      val e = Tables.events(s, d)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      p.join(v, col("user_id") === col("v_user"), "left")
        .withColumn("delta",
          abs(unix_micros(col("v_ts")) - unix_micros(col("ts"))))
        .groupBy("event_id", "user_id", "ts")
        .agg(min(when(col("v_ts").isNotNull,
          struct(col("delta"), col("v_ts")))).as("m"))
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("m.v_ts").cast("timestamp_ntz").as("nearest_view_ts"),
          col("m.delta").as("delta_us"))
        .orderBy("event_id")
    }),

    // Explicit bloom-filter semi-join pre-filter — the sketch-then-
    // verify JOIN shape: the build side aggregates into one bloom blob
    // (Spark's internal BloomFilterAggregate, surfaced via Registry),
    // the scalar subquery broadcasts it, and the probe side drops
    // non-members BEFORE the shuffle; the IN semi-join then removes the
    // false positives. No false negatives, so result ≡ the plain
    // semi-join — which is exactly what the oracle runs. At 100 TB this
    // is the row-level runtime filter made explicit: the big fact side
    // is pruned at the scan side of the exchange instead of shuffling
    // every row to the join. r5: the bloom is SIZED — bloom_agg's
    // capacity argument (Registry) sets estimatedNumItems to a cheap
    // upper bound on the build side (the quarter's order count; at
    // scale, a stats-catalog NDV) instead of the 1M-item default, so
    // the filter's bits match the data and the false-positive rate
    // cannot erode the pruning as the build side grows.
    "q_join_bloom_prefilter" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val build = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp_ntz"))
        .select("o_orderkey")
      build.createOrReplaceTempView("graft_bloom_build")
      // bounded driver scalar: one count on the (already filtered)
      // build side — the same pass any runtime-filter planner pays
      val capacity = math.max(1024L, build.count())
      Tables.lineitem(s, d).select("l_orderkey", "l_returnflag", "l_quantity")
        .createOrReplaceTempView("graft_bloom_probe")
      s.sql(s"""
        |SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM graft_bloom_probe l
        |WHERE bloom_might_contain(
        |        (SELECT bloom_agg(xxhash64(o_orderkey), ${capacity}L) FROM graft_bloom_build),
        |        xxhash64(l.l_orderkey))
        |  AND l.l_orderkey IN (SELECT o_orderkey FROM graft_bloom_build)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // The as-of join in its 100 TB shape: q_join_asof's join+group-max
    // costs O(views × purchases) per user; this one is O(n log n) —
    // tag both sides, hash-repartition by user, sort each partition by
    // (user, ts, kind), and one mapPartitions merge scan carries the
    // last seen view forward into each purchase row. `kind` sorts
    // views (0) before purchases (1) at equal ts, giving the same
    // inclusive v_ts <= ts semantics; the oracle is IDENTICAL to
    // q_join_asof's correlated subquery, so the two plans are proven
    // equivalent cross-engine. This is the sanctioned mapPartitions
    // case (§2 preference (d)): genuinely per-partition imperative
    // logic no built-in operator expresses without a quadratic blowup.
    "q_join_asof_merge" -> ((s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
      val v = e.filter(col("event_type") === "view")
        .select(lit(-1L).as("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), lit(0).as("kind"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), lit(1).as("kind"))
      val merged = v.unionByName(p)
        .repartition(col("user_id"))
        .sortWithinPartitions("user_id", "us", "kind")
        .as[(Long, Long, Long, Int)]
        .mapPartitions { it =>
          var curUser = Long.MinValue
          var lastView = Option.empty[Long]
          it.flatMap { case (eid, uid, us, kind) =>
            if (uid != curUser) { curUser = uid; lastView = None }
            if (kind == 0) { lastView = Some(us); None }
            else Some((eid, uid, us, lastView))
          }
        }
        .toDF("event_id", "user_id", "us", "last_view_us")
      merged.select(col("event_id"), col("user_id"),
          expr("timestamp_micros(us)").cast("timestamp_ntz").as("ts"),
          expr("timestamp_micros(last_view_us)").cast("timestamp_ntz")
            .as("last_view_ts"))
        .orderBy("event_id")
    }),

    "q_join_cross" -> ((s, d) =>
      Tables.region(s, d).crossJoin(Tables.nation(s, d))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")),

    // Interval OVERLAP join (r5): which user sessions were live at the
    // same time — the temporal-DB / concurrency-analysis join (genomics
    // calls it a range intersection). Sessions are derived inline with
    // the lag + running-sum construction (gap > 30 min opens a new
    // session; ≥2 events keeps real sessions only), then the
    // interval×interval overlap a.st ≤ b.en ∧ b.st ≤ a.en is realized
    // as an HOUR-BUCKET equi-join — each interval explodes to the hour
    // buckets it covers (sessions run ~1 h, so ≤3 buckets each) and
    // only same-bucket pairs are tested with the exact residual, then
    // distinct'd (a pair can share several buckets). Candidates per
    // bucket are bounded by concurrent-session count — the property
    // that survives 100 TB, where the plain theta join (the oracle
    // formulation) is a quadratic nested loop. Overlap duration is
    // output in exact integer µs.
    "q_join_interval_overlap" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val iv = Tables.events(s, d)
        .select("user_id", "ts", "event_id")
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .withColumn("brk",
          when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1).otherwise(0))
        .withColumn("sid", sum("brk").over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)).cast("long"))
        .groupBy("user_id", "sid")
        .agg(min("ts").as("st"), max("ts").as("en"), count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .select(col("user_id"), col("sid"), col("st"), col("en"),
          floor(unix_micros(col("st")) / 3600000000L).cast("long").as("b0"),
          floor(unix_micros(col("en")) / 3600000000L).cast("long").as("b1"))
      val a = iv.select(col("user_id").as("a_user"), col("sid").as("a_sid"),
        col("st").as("a_st"), col("en").as("a_en"),
        explode(sequence(col("b0"), col("b1"))).as("bkt"))
      val b = iv.select(col("user_id").as("b_user"), col("sid").as("b_sid"),
        col("st").as("b_st"), col("en").as("b_en"),
        explode(sequence(col("b0"), col("b1"))).as("bkt"))
      a.join(b, Seq("bkt"))
        .filter(col("a_user") < col("b_user") &&
          col("a_st") <= col("b_en") && col("b_st") <= col("a_en"))
        .select(col("a_user"), col("a_sid"), col("b_user"), col("b_sid"),
          (least(unix_micros(col("a_en")), unix_micros(col("b_en"))) -
           greatest(unix_micros(col("a_st")), unix_micros(col("b_st"))))
            .as("overlap_us"))
        .distinct()
        .orderBy("a_user", "a_sid", "b_user", "b_sid")
    }),

    // TPC-H Q7 (volume shipping): bilateral trade between two nations
    // by ship year. The n1×n2 nation-pair filter is pushed to the two
    // dimension joins (both broadcast — nation is structurally tiny);
    // the supp-side and cust-side restrictions land BEFORE the
    // fact⋈fact join, so lineitem and orders each shuffle pre-filtered
    // to ~2/25 of the corpus. Same exact 1e-4-dollar integer revenue
    // as Q3/Q5/Q10 — the (nation, nation, year) group-by compares
    // drift-free.
    "q_tpch_q7" -> ((s, d) => {
      val rev4 = (round(col("l_extendedprice") * 100, 0)
          .cast(org.apache.spark.sql.types.DecimalType(20, 0))
        * round(lit(100) - col("l_discount") * 100, 0)
          .cast(org.apache.spark.sql.types.DecimalType(20, 0)))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))
      val pair = Seq("NATION_1", "NATION_2")
      val supp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "supp_nation")
      val cust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("n2key"), col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("n2key"))
        .select("c_custkey", "cust_nation")
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"), rev4.as("rev4"))
      l.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(sum("rev4").cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("r4"))
        .orderBy("supp_nation", "cust_nation", "l_year")
        .select(col("supp_nation"), col("cust_nation"), col("l_year"),
          col("r4").cast("string").as("revenue_e4"),
          round(col("r4").cast("double") / 1e4, 2).as("revenue"))
    }),

    // TPC-H Q14 (promo effect): share of one month's revenue earned by
    // promo parts. part is a true dimension — broadcast — so lineitem
    // never shuffles; the month filter is pushed to the fact scan. Both
    // revenue sums in exact 1e-4-dollar integer units; only the final
    // ratio (one row) is a rounded double.
    "q_tpch_q14" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType
      val rev4 = (round(col("l_extendedprice") * 100, 0).cast(dec(20, 0))
        * round(lit(100) - col("l_discount") * 100, 0).cast(dec(20, 0)))
        .cast(dec(38, 0))
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-07-01").cast("timestamp_ntz"))
        .select(col("l_partkey"), rev4.as("rev4"))
      val p = Tables.part(s, d)
        .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("is_promo"), col("rev4"))).cast(dec(38, 0)).as("p4"),
          sum("rev4").cast(dec(38, 0)).as("t4"))
        .select(col("p4").cast("string").as("promo_e4"),
          col("t4").cast("string").as("total_e4"),
          round(lit(100.0) * col("p4").cast("double") / col("t4").cast("double"), 6)
            .as("promo_pct"))
    }),

    // TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    // three (brand, size-range, quantity-range) clauses OR'd together —
    // the predicate spans BOTH tables, so no clause pushes down whole;
    // what DOES reach the scans is the derivable envelope (quantity
    // ≤ 30 on lineitem; the brand IN-list on part). part broadcasts,
    // the residual disjunction evaluates post-join inside codegen.
    // Exact 1e-4-dollar integer revenue.
    "q_tpch_q19" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType
      val rev4 = (round(col("l_extendedprice") * 100, 0).cast(dec(20, 0))
        * round(lit(100) - col("l_discount") * 100, 0).cast(dec(20, 0)))
        .cast(dec(38, 0))
      val l = Tables.lineitem(s, d)
        .filter(col("l_quantity") <= 30)
        .select(col("l_partkey"), col("l_quantity"), rev4.as("rev4"))
      val p = Tables.part(s, d)
        .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#3"))
        .select("p_partkey", "p_brand", "p_size")
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(count(lit(1)).as("n_items"),
          sum("rev4").cast(dec(38, 0)).as("r4"))
        .select(col("n_items"),
          col("r4").cast("string").as("revenue_e4"),
          round(col("r4").cast("double") / 1e4, 2).as("revenue"))
    }),

    // Skew-salted join (r5): the hot-key spreading rewrite for a
    // shuffled join whose build side is too big to broadcast and whose
    // probe side piles onto few keys. lineitem carries only 100
    // distinct suppkeys here (at 100 TB: millions of rows per key —
    // one straggler task each), so the dim side replicates ×16 with an
    // explicit salt column and the fact side picks its replica by
    // xxhash64(orderkey, linenumber) — same-supplier rows spread over
    // 16 shuffle partitions instead of 1. The rewrite is EXACT for any
    // salt width (each fact row matches exactly one of the 16 dim
    // copies); the oracle is the plain unsalted join. SHUFFLE_HASH
    // hint keeps the demo on the shuffle path (AQE would otherwise
    // broadcast this small dim and hide the salt).
    "q_join_skew_salted" -> ((s, d) => {
      val m = 16
      val dim = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))
        .withColumn("salt", explode(sequence(lit(0), lit(m - 1))))
      val fact = Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"),
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(m))
            .cast("int").as("salt"))
      fact.join(dim.hint("SHUFFLE_HASH"),
          fact("l_suppkey") === dim("s_suppkey") && fact("salt") === dim("salt"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("s_nationkey")
    }),

    // OPTIMIZER-injected runtime bloom filter (vs q_join_bloom_
    // prefilter's hand-built bloom): with runtime.bloomFilter enabled
    // Catalyst's InjectRuntimeFilter plants a BloomFilterMightContain
    // predicate on the fact side of a shuffle join, built from the
    // dim side's selective filter — zero user code, the feature that
    // skips most of a 100 TB probe before the shuffle. The size
    // thresholds are production guards tuned for real corpora;
    // scoped down here so the demonstration triggers at test scale
    // (plan-pinned in PlanAssertionsSpec). executedPlan is forced
    // inside the conf scope, as q_scan_agg_pushdown does.
    "q_runtime_bloom" -> ((s, d) => {
      graft.util.ScopedConf(s,
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val o = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey")
        val li = Tables.lineitem(s, d)
        val df = li.join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
          .orderBy("l_returnflag")
        df.queryExecution.executedPlan // plan under the scoped confs
        df
      }
    }),

    // AUTOMATIC band-join rewrite (plans/Rules.RewriteBandJoin): the
    // query is written as the naive theta join `abs(s_acctbal -
    // c_acctbal) <= 1.0` — which Spark would plan as an O(n·m)
    // BroadcastNestedLoopJoin — and the optimizer rule turns it into
    // a bucketed equi-join with the original predicate as residual
    // (EXACT, no recall tradeoff; plan-pinned: no BNLJ, a Generate +
    // hash join instead). The manual realizations of the same idea
    // are q_join_theta_range / q_join_range_bucket; this closes the
    // triangle with the optimizer doing it invisibly.
    "q_band_join_auto" -> ((s, d) => {
      graft.expr.Registry.ensure(s) // installs RewriteBandJoin
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_acctbal"))
      val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
      sup.join(cust, abs(col("s_acctbal") - col("c_acctbal")) <= 1.0)
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_matches"),
          round(min(abs(col("s_acctbal") - col("c_acctbal"))), 4).as("closest"))
        .orderBy("s_suppkey")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(r4 AS VARCHAR) AS revenue_e4,
        |  ROUND(CAST(r4 AS DOUBLE) / 10000, 2) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l.l_shipdate) AS INT) AS l_year, CAST(SUM(
        |      CAST(ROUND(l.l_extendedprice * 100, 0) AS DECIMAL(20,0)) *
        |      CAST(ROUND(100 - l.l_discount * 100, 0) AS DECIMAL(20,0))) AS DECIMAL(38,0)) AS r4
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |    AND n2.n_name IN ('NATION_1', 'NATION_2')
        |    AND n1.n_name <> n2.n_name
        |    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1, 2, 3)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q_tpch_q14" ->
      """SELECT CAST(p4 AS VARCHAR) AS promo_e4, CAST(t4 AS VARCHAR) AS total_e4,
        |  ROUND(100.0 * CAST(p4 AS DOUBLE) / CAST(t4 AS DOUBLE), 6) AS promo_pct
        |FROM (
        |  SELECT
        |    CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN
        |      CAST(ROUND(l.l_extendedprice * 100, 0) AS DECIMAL(20,0)) *
        |      CAST(ROUND(100 - l.l_discount * 100, 0) AS DECIMAL(20,0)) END)
        |      AS DECIMAL(38,0)) AS p4,
        |    CAST(SUM(
        |      CAST(ROUND(l.l_extendedprice * 100, 0) AS DECIMAL(20,0)) *
        |      CAST(ROUND(100 - l.l_discount * 100, 0) AS DECIMAL(20,0)))
        |      AS DECIMAL(38,0)) AS t4
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE l.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
        |    AND l.l_shipdate < TIMESTAMP '1997-07-01 00:00:00')""".stripMargin,

    "q_tpch_q19" ->
      """SELECT n_items, CAST(r4s AS VARCHAR) AS revenue_e4,
        |  ROUND(CAST(r4s AS DOUBLE) / 10000, 2) AS revenue
        |FROM (
        |  SELECT CAST(SUM(
        |      CAST(ROUND(l.l_extendedprice * 100, 0) AS DECIMAL(20,0)) *
        |      CAST(ROUND(100 - l.l_discount * 100, 0) AS DECIMAL(20,0)))
        |      AS DECIMAL(38,0)) AS r4s, COUNT(*) AS n_items
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
        |          AND l.l_quantity BETWEEN 1 AND 11)
        |     OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
        |          AND l.l_quantity BETWEEN 10 AND 20)
        |     OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
        |          AND l.l_quantity BETWEEN 20 AND 30))""".stripMargin,

    // plain unsalted join — the salt rewrite must be invisible in the
    // result
    "q_join_skew_salted" ->
      """SELECT s.s_nationkey, COUNT(*) AS n_items,
        |  ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // plain theta-join formulation — semantics oracle for the
    // hour-bucket equi-join realization
    "q_join_interval_overlap" ->
      """WITH m AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id,
        |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS BIGINT) AS sid, ts
        |  FROM m),
        |iv AS (
        |  SELECT user_id, sid, MIN(ts) AS st, MAX(ts) AS en
        |  FROM s GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT a.user_id AS a_user, a.sid AS a_sid,
        |  b.user_id AS b_user, b.sid AS b_sid,
        |  least(epoch_us(a.en), epoch_us(b.en)) -
        |    greatest(epoch_us(a.st), epoch_us(b.st)) AS overlap_us
        |FROM iv a JOIN iv b
        |  ON a.user_id < b.user_id AND a.st <= b.en AND b.st <= a.en
        |ORDER BY a_user, a_sid, b_user, b_sid""".stripMargin,

    "q_join_inner_equi" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  ROUND(SUM(o_totalprice), 4) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_join_broadcast" ->
      """SELECT r_name, n_name FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY r_name, n_name""".stripMargin,

    "q_join_5way" ->
      """SELECT n_name,
        |  ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_join_left_outer" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_join_full_outer" ->
      """SELECT n_nationkey, n_name, s_suppkey, s_name
        |FROM supplier FULL OUTER JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY n_nationkey ASC NULLS FIRST, s_suppkey ASC NULLS FIRST""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_theta_range" ->
      """SELECT v.user_id AS user_id, COUNT(*) AS conv_pairs
        |FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '12 hours'
        |GROUP BY v.user_id ORDER BY user_id""".stripMargin,

    "q_join_asof" ->
      """SELECT p.event_id, p.user_id, p.ts,
        |  (SELECT MAX(v.ts) FROM events v
        |   WHERE v.event_type = 'view' AND v.user_id = p.user_id AND v.ts <= p.ts)
        |  AS last_view_ts
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    // the bloom pre-filter admits no false negatives, so the exact
    // semi-join alone defines the result
    "q_join_bloom_prefilter" ->
      """SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem l
        |WHERE l.l_orderkey IN (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // IDENTICAL to q_join_asof's oracle: the merge-scan plan must
    // produce exactly what the join+group-max plan produces
    "q_join_asof_merge" ->
      """SELECT p.event_id, p.user_id, p.ts,
        |  (SELECT MAX(v.ts) FROM events v
        |   WHERE v.event_type = 'view' AND v.user_id = p.user_id AND v.ts <= p.ts)
        |  AS last_view_ts
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    "q_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate, CAST(r4 AS VARCHAR) AS revenue_e4,
        |  ROUND(CAST(r4 AS DOUBLE) / 10000, 2) AS revenue
        |FROM (
        |  SELECT l.l_orderkey, o.o_orderdate, CAST(SUM(
        |      CAST(ROUND(l.l_extendedprice * 100, 0) AS DECIMAL(20,0)) *
        |      CAST(ROUND(100 - l.l_discount * 100, 0) AS DECIMAL(20,0))) AS DECIMAL(38,0)) AS r4
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = 'BUILDING'
        |    AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |    AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |  GROUP BY 1, 2)
        |ORDER BY r4 DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name, CAST(r4 AS VARCHAR) AS revenue_e4,
        |  ROUND(CAST(r4 AS DOUBLE) / 10000, 2) AS revenue
        |FROM (
        |  SELECT n.n_name, CAST(SUM(
        |      CAST(ROUND(l.l_extendedprice * 100, 0) AS DECIMAL(20,0)) *
        |      CAST(ROUND(100 - l.l_discount * 100, 0) AS DECIMAL(20,0))) AS DECIMAL(38,0)) AS r4
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'ASIA'
        |    AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1)
        |ORDER BY r4 DESC, n_name""".stripMargin,

    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, n_name, c_acctbal,
        |  CAST(r4 AS VARCHAR) AS revenue_e4,
        |  ROUND(CAST(r4 AS DOUBLE) / 10000, 2) AS revenue
        |FROM (
        |  SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name, CAST(SUM(
        |      CAST(ROUND(l.l_extendedprice * 100, 0) AS DECIMAL(20,0)) *
        |      CAST(ROUND(100 - l.l_discount * 100, 0) AS DECIMAL(20,0))) AS DECIMAL(38,0)) AS r4
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE l.l_returnflag = 'R'
        |    AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY 1, 2, 3, 4)
        |ORDER BY r4 DESC, c_custkey LIMIT 20""".stripMargin,

    "q_tpch_q18" ->
      """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
        |  o.o_totalprice, b.sum_qty
        |FROM (
        |  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250) b
        |JOIN orders o ON b.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100""".stripMargin,

    "q_join_asof_fwd" ->
      """SELECT p.event_id, p.user_id, p.ts,
        |  (SELECT MIN(v.ts) FROM events v
        |   WHERE v.event_type = 'view' AND v.user_id = p.user_id AND v.ts > p.ts)
        |  AS next_view_ts
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    "q_join_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS v_user, ts AS v_ts FROM events
        |      WHERE event_type = 'view'),
        |j AS (SELECT p.event_id, p.user_id, p.ts, v.v_ts,
        |        abs(epoch_us(v.v_ts) - epoch_us(p.ts)) AS delta
        |      FROM p LEFT JOIN v ON p.user_id = v.v_user),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY event_id
        |         ORDER BY delta NULLS LAST, v_ts) AS rn FROM j)
        |SELECT event_id, user_id, ts, v_ts AS nearest_view_ts,
        |  delta AS delta_us
        |FROM rk WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "q_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q_runtime_bloom" ->
      """SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "q_band_join_auto" ->
      """SELECT s_suppkey, COUNT(*) AS n_matches,
        |  ROUND(MIN(abs(s_acctbal - c_acctbal)), 4) AS closest
        |FROM supplier JOIN customer ON abs(s_acctbal - c_acctbal) <= 1.0
        |GROUP BY 1 ORDER BY s_suppkey""".stripMargin
  )
}
