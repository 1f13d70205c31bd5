package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Further analytic operators: string aggregation, histogramming, the
  * bucketed range join (equi-join realization of a theta join — the
  * 100TB-scale shape), and a one-pass vector centroid via a typed
  * array Aggregator.
  */
object Analytics {

  /** Session-memoized (customer, brand) purchase-count table — the
    * interaction matrix behind [[brandSims]], [[recsTop3]],
    * q_recs_novelty and q_personalization. */
  private[graft] def custBrand(s: SparkSession, d: String): DataFrame =
    graft.util.SessionMemo.of(s, s"custBrand:$d") {
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("o_custkey").as("cust"), col("p_brand").as("b"))
        .agg(count(lit(1)).cast("double").as("c"))
    }

  /** Session-memoized directed (b, b2, cos) brand similarity — both
    * orientations — read by q_cf_item_sim, [[recsTop3]] and
    * q_personalization. */
  private[graft] def brandSims(s: SparkSession, d: String): DataFrame =
    graft.util.SessionMemo.of(s, s"brandSims:$d") {
      val cb = custBrand(s, d)
      val norms = cb.groupBy("b").agg(sqrt(sum(col("c") * col("c"))).as("nrm"))
      cb.join(cb.select(col("cust"), col("b").as("b2"), col("c").as("c2")),
          "cust")
        .filter(col("b") =!= col("b2"))
        .groupBy("b", "b2").agg(sum(col("c") * col("c2")).as("dot"))
        .join(broadcast(norms), "b")
        .join(broadcast(norms.select(col("b").as("b2"), col("nrm").as("nrm2"))),
          "b2")
        .select(col("b"), col("b2"),
          (col("dot") / (col("nrm") * col("nrm2"))).as("cos"))
    }

  /** Session-memoized PrefixSum rank over (p_name, p_partkey) — the
    * name-sort both blocking pipelines start from: q_er_resolve and
    * [[sortedNeighborhoodPairs]]. */
  private[graft] def partNameRank(s: SparkSession, d: String): DataFrame =
    graft.util.SessionMemo.of(s, s"partNameRank:$d") {
      graft.operators.PrefixSum.rank(
        Tables.part(s, d).select("p_partkey", "p_name"),
        Seq(col("p_name"), col("p_partkey")), "rn")
    }

  /** Session-memoized sorted-neighborhood candidate pairs (a_id, b_id,
    * jw) over [[partNameRank]] — w=2 successors via rn+i equi-joins (a
    * window here would need a single-task global sort). Read by
    * q_sorted_neighborhood and q_blocking_quality, which order on
    * read. */
  private[graft] def sortedNeighborhoodPairs(s: SparkSession, d: String): DataFrame =
    graft.util.SessionMemo.of(s, s"snPairs:$d") {
      graft.expr.Registry.ensure(s)
      // the memoized rank IS the materialization the successor joins
      // reuse (its old per-call localCheckpoint copy is gone with it)
      val ranked = partNameRank(s, d)
      def succ(i: Int) = ranked.select((col("rn") - i).as("rn"),
        col("p_partkey").as(s"b${i}_id"), col("p_name").as(s"b${i}_name"))
      ranked
        .join(succ(1), Seq("rn"), "left")
        .join(succ(2), Seq("rn"), "left")
        .select(col("p_partkey").as("a_id"), col("p_name"),
          explode(array(
            struct(col("b1_id").as("b_id"), col("b1_name").as("b_name")),
            struct(col("b2_id").as("b_id"), col("b2_name").as("b_name"))))
            .as("c"))
        .filter(col("c.b_id").isNotNull)
        .withColumn("jw",
          round(expr("jaro_winkler(p_name, c.b_name)"), 6))
        .filter(col("jw") >= 0.92)
        .select(col("a_id"), col("c.b_id").as("b_id"), col("jw"))
    }

  /** Top-3 brand recs per customer (cust, rk, rec, score) — the full
    * q_recs_topn derivation without its output ordering.
    * Session-memoized (r13 opt): q_recs_novelty re-ran the whole
    * customer-grain pipeline inside itself. Deterministic: the window
    * orders by (score desc, rec), both exact on the 6dp grid. */
  private[graft] def recsTop3(s: SparkSession, d: String): DataFrame =
    graft.util.SessionMemo.of(s, s"recsTop3:$d") {
      val cb = custBrand(s, d)
      val sims = brandSims(s, d)
      val cand = cb.join(broadcast(sims), "b")
        .groupBy(col("cust"), col("b2").as("rec"))
        .agg(round(sum(col("c") * col("cos")), 6).as("score"))
      val owned = cb.select(col("cust"), col("b").as("rec"))
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy("cust").orderBy(col("score").desc, col("rec"))
      cand.join(owned, Seq("cust", "rec"), "left_anti")
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 3)
        .select(col("cust"), col("rk"), col("rec"), col("score"))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // deterministic string aggregation (sorted before joining, so no
    // engine-specific aggregation-order dependence).
    "q_string_agg" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(array_join(sort_array(collect_set("o_orderstatus")), ",").as("statuses"),
             count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    // fixed-width histogram of events.value: identical bucket
    // arithmetic on both engines (floor of a shared double division).
    "q_histogram" -> ((s, d) =>
      Tables.events(s, d)
        .select(floor(col("value") / 10.0).cast("int").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // Bucketed range join: |purchase.ts - view.ts| <= 1h for the same
    // user, realized as an equi-join on hour buckets (each left row
    // probes bucket b-1, b, b+1) + exact residual filter. Same result
    // as the pure theta join (the oracle), but the candidate space is
    // bounded per bucket — this is how a time-range join survives
    // 100 TB where a nested-loop theta join cannot.
    "q_join_range_bucket" -> ((s, d) => {
      val e = Tables.events(s, d)
      val v = e.filter(col("event_type") === "view")
        .withColumn("base", floor(unix_micros(col("ts")) / 3600000000L).cast("long"))
        .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
          col("ts").as("v_ts"),
          explode(array(col("base") - 1, col("base"), col("base") + 1)).as("bkt"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
          col("ts").as("p_ts"),
          floor(unix_micros(col("ts")) / 3600000000L).cast("long").as("bkt_p"))
      v.join(p, col("v_user") === col("p_user") && col("bkt") === col("bkt_p") &&
                abs(unix_micros(col("p_ts")) - unix_micros(col("v_ts"))) <= 3600000000L)
        .select(col("v_id"), col("p_id"))
        .dropDuplicates("v_id", "p_id")
        .orderBy("v_id", "p_id")
    }),

    // one-pass full-width centroid via the typed VectorSum Aggregator
    // (no posexplode row multiplication). The final column is the
    // micro-unit (x1e6, rounded) component vector joined to a string:
    // integers render identically on both engines, and the driver's
    // comparator cannot hash array columns.
    "q_vec_centroid_full" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val vecSum = udaf(new graft.expr.VectorSum(64))
      e.groupBy("label")
        .agg(vecSum(col("embedding")).as("sums"), count(lit(1)).as("n"))
        .select(col("label"),
          array_join(expr(
            "transform(sums, x -> cast(cast(round(x / n * 1000000, 0) as bigint) as string))"),
            ",").as("centroid"))
        .orderBy("label")
    }),

    // Entity-resolution fuzzy match over part names: dedupe to the
    // DISTINCT name table first (the duplicate-pair explosion killer —
    // 20k part rows share 64 names, and at corpus scale an entity
    // table is always low-distinct relative to facts), then block by
    // length band (edit distance ≤ 3 ⇒ |len(a)−len(b)| ≤ 3, so a
    // band width of 4 with one-neighbor probing covers every true
    // pair), and score candidates with the THRESHOLD form of
    // levenshtein — O(k·n) banded DP instead of O(n²) per pair.
    "q_fuzzy_match" -> ((s, d) => {
      val names = Tables.part(s, d).select(col("p_name")).distinct()
        .select(col("p_name"), length(col("p_name")).as("len"),
          (length(col("p_name")) / 4).cast("int").as("home"))
      val probe = names.select(col("p_name").as("b_name"), col("len").as("b_len"),
        explode(array(col("home") - 1, col("home"), col("home") + 1)).as("bkt"))
      names.select(col("p_name").as("a_name"), col("len").as("a_len"),
          col("home").as("bkt"))
        .join(probe, "bkt")
        .filter(col("a_name") < col("b_name") &&
          abs(col("a_len") - col("b_len")) <= 3)
        .select(col("a_name"), col("b_name"),
          expr("levenshtein(a_name, b_name, 3)").as("dist"))
        .filter(col("dist") =!= -1)
        .distinct()
        .orderBy("a_name", "b_name")
    }),

    // Prefix-weighted fuzzy scoring via the custom codegen'd
    // jaro_winkler expression (expr/JaroWinkler.scala — byte-level,
    // DuckDB-compatible semantics): all distinct-name pairs scoring
    // ≥ 0.75, over the DEDUPED entity table (64 names behind 20k part
    // rows). r5: candidate generation is BLOCKED — two disjoint
    // equi-join legs replace the all-pairs cross join (the plan has no
    // CartesianProduct; pinned in PlanAssertionsSpec), each leg sound
    // for the 6dp-rounded JW ≥ 0.75 threshold:
    //  - leg 1, shared first character: JW's prefix boost (≤ 0.4 of
    //    the Jaro deficit) only exists with a common prefix, and under
    //    the max boost 0.75 admits any length ratio — so same-first-
    //    char pairs join on the character itself (a ≤256-way block;
    //    at entity scale this is where a skew salt would attach).
    //  - leg 2, different first character: the boost is exactly 0, so
    //    jw = jaro ≤ (2 + min/max)/3 (matches ≤ min length,
    //    transposition term ≤ 1) and jw ≥ 0.7499995 forces a length
    //    ratio ≥ 0.2499985 — blocked as 50·min ≥ 11·max (margin
    //    included), realized as a log2-length band join: each probe
    //    row explodes to its ±3 neighbor buckets, which covers every
    //    ratio down to 2^-3 < 0.22.
    // The exact all-pairs formulation remains the oracle, so the
    // blocking's soundness is hash-checked, not assumed.
    "q_fuzzy_jw" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val names = Tables.part(s, d).select(col("p_name")).distinct()
        .select(col("p_name"), length(col("p_name")).as("len"),
          substring(col("p_name"), 1, 1).as("c1"),
          floor(log2(length(col("p_name")))).cast("int").as("lbkt"))
      val leg1 = names.select(col("p_name").as("a_name"), col("c1"))
        .join(names.select(col("p_name").as("b_name"), col("c1").as("c1_b")),
          col("c1") === col("c1_b") && col("a_name") < col("b_name"))
        .select("a_name", "b_name")
      val probe = names.select(col("p_name").as("b_name"), col("len").as("b_len"),
        col("c1").as("c1_b"),
        explode(sequence(col("lbkt") - 3, col("lbkt") + 3)).as("bkt"))
      val leg2 = names.select(col("p_name").as("a_name"), col("len").as("a_len"),
          col("c1"), col("lbkt").as("bkt"))
        .join(probe, "bkt")
        .filter(col("c1") =!= col("c1_b") && col("a_name") < col("b_name") &&
          least(col("a_len"), col("b_len")) * 50 >= greatest(col("a_len"), col("b_len")) * 11)
        .select("a_name", "b_name")
      leg1.unionByName(leg2)
        .select(col("a_name"), col("b_name"),
          round(expr("jaro_winkler(a_name, b_name)"), 6).as("jw"))
        .filter(col("jw") >= 0.75)
        .orderBy("a_name", "b_name")
    }),

    // One-pass data profiling of the lineitem measures: count, nulls,
    // distinct, min/max/avg per column — the validation table every
    // ingest pipeline materializes. ONE scan computes all 4 columns'
    // stats (multi-distinct expands the rows 4×, still a single
    // shuffle); the 1-row result unpivots via stack into the
    // (column_name, stats…) shape.
    // Equi-depth binning (the quantile-bucket profile): ntile(10) over
    // value per event type, then per-bin count/min/max — the boundary
    // table a feature-binning or drift-monitoring step consumes. All
    // compares on raw stored doubles; ntile over the unique
    // (value, event_id) order is engine-identical. The per-type window
    // shuffles once on event_type; at corpus scale this is
    // approx_percentile boundaries + a broadcast bucket join instead,
    // but the exact ntile is the oracle-checkable reference semantics.
    "q_equidepth_bins" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("value"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("value"), col("event_id"))
        .withColumn("bin", ntile(10).over(w))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"),
          min("value").as("lo"), max("value").as("hi"))
        .orderBy("event_type", "bin")
    }),

    // Skyline (Pareto frontier) of parts: cheapest-for-their-size parts
    // under dominance (q.price <= p.price, q.size >= p.size, strict in
    // one). NOT the quadratic NOT EXISTS self-join: survival reduces to
    // two exact conditions — p is the max size AT its price, and
    // strictly larger than the max size over all STRICTLY cheaper
    // prices (a running max over the per-price aggregate). The window
    // runs over the distinct-price table, which is what bounds the
    // single-partition sort; at 100 TB the running max becomes the
    // standard two-pass range-partitioned prefix aggregate. Every
    // comparison is on raw stored doubles/ints — no arithmetic, no
    // drift. The oracle deliberately uses the quadratic NOT EXISTS
    // formulation: same semantics, independent derivation.
    "q_skyline" -> ((s, d) => {
      val p = Tables.part(s, d)
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
      // bounded grain: runs over the distinct-price AGGREGATE (the
      // per-price groupBy below), not the corpus — see header comment
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("p_retailprice")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val perPrice = p.groupBy("p_retailprice")
        .agg(max("p_size").as("mx_here"))
        .withColumn("mx_cheaper", max("mx_here").over(w))
      p.join(perPrice, "p_retailprice")
        .filter(col("p_size") === col("mx_here") &&
          (col("mx_cheaper").isNull || col("p_size") > col("mx_cheaper")))
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    }),

    // SCD2 dimension build (r5): per-user event_type change history as
    // validity intervals — the type-2 slowly-changing-dimension table
    // a warehouse derives from an event stream. Change points = rows
    // whose attr differs from the previous row in (ts, event_id)
    // order; valid_to = next change's valid_from (null = current).
    // Two window passes over the same (user_id) partitioning — ONE
    // shuffle, both windows reuse the sort. At 100 TB this keys by the
    // dimension's natural key and the window is per-key sequential —
    // the scalable shape (contrast a self-join on "next change").
    "q_scd2_dim" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        // Timestamps leave the engine as unix_micros longs (ntz-safe
        // wire convention, q_funnel precedent): Spark writes session-tz
        // parquet timestamps, the oracle writes ntz — longs are the
        // only representation both agree on byte-for-byte.
        .select(col("user_id"), col("event_id").as("change_id"),
          col("event_type"), unix_micros(col("ts")).as("valid_from"),
          unix_micros(col("valid_to")).as("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy("user_id", "valid_from", "change_id")
    }),

    // Point-in-time dimension lookup (the SCD2 family's missing JOIN:
    // fact rows resolved against the version valid at their event
    // time). The interval predicate rides on the user equi-key, so
    // the plan is a hash join with a range residual — never a
    // nested-loop; each fact matches exactly one version because the
    // intervals tile the user's timeline from their first event.
    // Timestamps stay unix_micros longs end-to-end (the scd2 wire
    // convention).
    "q_scd2_lookup" -> ((s, d) => {
      val dim = queries("q_scd2_dim")(s, d)
        .select(col("user_id"), col("change_id"),
          col("event_type").as("attr_at_ts"),
          col("valid_from"), col("valid_to"))
      val facts = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      facts.join(dim,
          facts("user_id") === dim("user_id")
            && col("ts_us") >= col("valid_from")
            && (col("valid_to").isNull || col("ts_us") < col("valid_to")))
        .select(col("event_id"), facts("user_id"), col("ts_us"),
          col("attr_at_ts"), col("change_id").as("version_id"))
        .orderBy("event_id")
    }),

    // Snapshot CDC diff (r5): classify every key across two table
    // snapshots as insert / delete / update — the change-data-capture
    // derivation a warehouse runs between loads when the source can't
    // emit a changelog. The two snapshots are derived deterministically
    // from orders (key%10==3 absent from OLD → insert; key%10==5
    // absent from NEW → delete; key%10==7 carries price+1.0 in OLD →
    // update; the +1.0 delta is exact double arithmetic, no rounding
    // surface). The diff itself is ONE full outer join hash-partitioned
    // on the key — the shape that scales: both sides shuffle once, AQE
    // handles skew, and at 100 TB file-level min/max stats prune
    // unchanged regions before the join ever sees them.
    "q_snapshot_diff" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val old = o.filter(col("o_orderkey") % 10 =!= 3)
        .select(col("o_orderkey").as("k_old"),
          when(col("o_orderkey") % 10 === 7, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("price_old"))
      val nw = o.filter(col("o_orderkey") % 10 =!= 5)
        .select(col("o_orderkey").as("k_new"),
          col("o_totalprice").as("price_new"))
      old.join(nw, col("k_old") === col("k_new"), "full_outer")
        .select(coalesce(col("k_old"), col("k_new")).as("o_orderkey"),
          when(col("k_old").isNull, "insert")
            .when(col("k_new").isNull, "delete")
            .when(col("price_old") =!= col("price_new"), "update")
            .otherwise("unchanged").as("change_type"),
          col("price_old"), col("price_new"))
        .filter(col("change_type") =!= "unchanged")
        .orderBy("o_orderkey")
    }),

    // SCD2 point-in-time snapshot (r5): reconstruct the dimension
    // state AT a fixed timestamp T from the change history — "what was
    // each user's state on Jan 16, and since when" — the time-travel
    // read every type-2 dimension exists to answer. Change points as
    // in q_scd2_dim (lag over the same (user_id, ts, event_id) order),
    // then the latest change strictly before T via row_number DESC.
    // Both windows share the user_id partitioning → ONE shuffle, two
    // sorts; at 100 TB the T-filter lands before the second sort, so
    // the argmax runs over changes-before-T only.
    "q_scd2_snapshot" -> ((s, d) => {
      val t0 = lit("2024-01-16").cast("timestamp")
      val wLag = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev", lag("event_type", 1).over(wLag))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .filter(col("ts") < t0)
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") === 1)
        // since_ts as unix_micros long — same ntz-safe convention as
        // q_scd2_dim's valid_from/valid_to.
        .select(col("user_id"), col("event_type").as("state"),
          unix_micros(col("ts")).as("since_ts"), col("event_id").as("change_id"))
        .orderBy("user_id")
    }),

    // Batch MERGE apply (r5): apply a changelog (inserts + updates +
    // delete markers) onto a base snapshot in ONE full outer join —
    // the lakehouse MERGE INTO semantics (the batch complement of the
    // streaming s_foreach_upsert sink, and the inverse of
    // q_snapshot_diff: diff produces the changelog, this consumes it).
    // Base/delta derive from orders with the same deterministic key%10
    // scheme as q_snapshot_diff, so the post-merge table must equal
    // "orders minus the deleted keys at original prices" — which is
    // exactly what the oracle derives INDEPENDENTLY of the merge
    // machinery. Output is the per-(key%10) audit aggregate. At scale
    // this is the shuffle-on-key merge a MERGE INTO plans when file
    // pruning can't narrow the touched set.
    "q_merge_apply" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val base = o.filter(col("o_orderkey") % 10 =!= 3)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 10 === 7, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("price"))
      val delta = o.filter(col("o_orderkey") % 10 === 3 ||
          col("o_orderkey") % 10 === 7)
        .select(col("o_orderkey").as("dk"), col("o_totalprice").as("dprice"),
          when(col("o_orderkey") % 10 === 3, "insert").otherwise("update").as("op"))
        .unionByName(o.filter(col("o_orderkey") % 10 === 5)
          .select(col("o_orderkey").as("dk"),
            lit(null).cast("double").as("dprice"), lit("delete").as("op")))
      base.join(delta, col("k") === col("dk"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "delete")
        .select(coalesce(col("dk"), col("k")).as("o_orderkey"),
          coalesce(col("dprice"), col("price")).as("price"))
        .groupBy((col("o_orderkey") % 10).as("kmod"))
        .agg(count(lit(1)).as("n"), round(sum("price"), 2).as("sum_price"),
          sum("o_orderkey").as("sum_key"))
        .orderBy("kmod")
    }),

    // Mergeable distinct-count sketches (r5): per-group HLL sketches
    // (Spark's DataSketches-backed hll_sketch_agg) UNIONED into a
    // global estimate — the two-level pattern that makes distinct
    // counts reaggregatable at 100 TB (per-partition/per-day sketches
    // merge without rescanning; exact countDistinct cannot). OMIT
    // oracle (estimates are engine-specific); ExprSpec-style unit test
    // pins within-2% accuracy of exact on every group AND the merged
    // total, and DeterminismSpec pins run-twice stability.
    "q_hll_sketch" -> ((s, d) => {
      val per = Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(expr("hll_sketch_agg(o_custkey)").as("sk"),
          countDistinct("o_custkey").as("exact_nd"))
      val global = per.agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_nd"))
        .crossJoin(Tables.orders(s, d).agg(countDistinct("o_custkey").as("exact_nd")))
        .select(lit("ALL").as("grp"), col("approx_nd"), col("exact_nd"))
      per.select(col("o_orderpriority").as("grp"),
          expr("hll_sketch_estimate(sk)").as("approx_nd"), col("exact_nd"))
        .unionByName(global)
        .orderBy("grp")
    }),

    "q_profile_stats" -> ((s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val li = Tables.lineitem(s, d)
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).as(s"${c}_n"),
          countDistinct(col(c)).as(s"${c}_nd"),
          min(col(c)).cast("double").as(s"${c}_min"),
          max(col(c)).cast("double").as(s"${c}_max"),
          (round(avg(col(c)) * lit(10000)) / lit(10000)).as(s"${c}_avg"))
      }
      val stackArgs = cols.map { c =>
        s"'$c', ${c}_n, ${c}_nd, ${c}_min, ${c}_max, ${c}_avg"
      }.mkString(", ")
      li.agg(aggs.head, aggs.tail: _*)
        .select(expr(s"stack(${cols.size}, $stackArgs) AS (column_name, n, n_distinct, min_v, max_v, avg_v)"))
        .orderBy("column_name")
    }),

    // RFM segmentation (r5): the classic customer-value cube — per
    // customer recency (days since last order, vs the corpus max
    // date), frequency (order count), monetary (lifetime spend in
    // EXACT integer cents), each median-split into high/low, customers
    // bucketed into the 8 R/F/M octants. Monetary is integer cents so
    // the median input has no summation-order surface; medians are
    // snapped round(x·1e4)/1e4 (the q_winsorize ulp guard) and
    // BROADCAST back as a 1-row bound table.
    //
    // The medians are EXACT but DISTRIBUTED (r6): `percentile(x,.5)`
    // buffers every value in one aggregator (O(n) driver-side-style
    // memory — a 100 TB killer), so instead the three metrics are
    // unpivoted to (metric, v) rows, value-counted in one map-side-
    // combinable groupBy, cumulatively ranked with a per-metric window
    // over the DISTINCT values (external sort, O(1) state), and the
    // two middle ranks averaged — bit-identical to percentile/
    // quantile_cont's linear midpoint, with the full-table buffer
    // replaced by a distinct-value stream.
    "q_rfm_segment" -> ((s, d) => {
      def r4(c: Column): Column = round(c * lit(10000)) / lit(10000)
      val o = Tables.orders(s, d)
      val refDate = o.agg(max("o_orderdate").as("ref"))
      val rfm = o.groupBy("o_custkey")
        .agg(max("o_orderdate").as("last_order"),
          count(lit(1)).as("f"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("m_cents"))
        .crossJoin(broadcast(refDate))
        .select(col("o_custkey"),
          datediff(col("ref"), col("last_order")).as("r"),
          col("f"), col("m_cents"))
        // two consumers (median derivation + final octant pass) —
        // materialize the customer-proportional table once instead of
        // re-running the orders aggregate per consumer
        .localCheckpoint(true)
      val longs = rfm.select(expr(
        """stack(3, 'r', CAST(r AS DOUBLE), 'f', CAST(f AS DOUBLE),
          |         'm', CAST(m_cents AS DOUBLE)) AS (metric, v)""".stripMargin))
      val totals = longs.groupBy("metric").agg(count(lit(1)).as("n"))
      val wm = org.apache.spark.sql.expressions.Window
        .partitionBy("metric").orderBy("v")
      val med = longs.groupBy("metric", "v").agg(count(lit(1)).as("cnt"))
        .withColumn("hi", sum("cnt").over(wm))
        .withColumn("lo", col("hi") - col("cnt") + 1)
        .join(broadcast(totals), "metric")
        // 1-based middle ranks: n odd -> both = (n+1)/2; n even -> n/2, n/2+1
        // (Column./ is double division, hence the floor())
        .withColumn("lo_t", floor((col("n") + 1) / lit(2)))
        .withColumn("hi_t", floor((col("n") + 2) / lit(2)))
        .where((col("lo") <= col("lo_t") && col("lo_t") <= col("hi")) ||
               (col("lo") <= col("hi_t") && col("hi_t") <= col("hi")))
        .groupBy("metric").agg(avg("v").as("v_med"))
        .groupBy().pivot("metric", Seq("r", "f", "m")).agg(first("v_med"))
        .select(r4(col("r")).as("r_med"), r4(col("f")).as("f_med"),
          r4(col("m")).as("m_med"))
      rfm.crossJoin(broadcast(med))
        .select(col("o_custkey"), col("f"), col("m_cents"),
          concat(
            when(col("r") <= col("r_med"), lit("R")).otherwise(lit("r")),
            when(col("f") >= col("f_med"), lit("F")).otherwise(lit("f")),
            when(col("m_cents") >= col("m_med"), lit("M")).otherwise(lit("m")))
            .as("segment"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_cust"),
          sum("f").as("total_orders"),
          sum("m_cents").as("total_cents"))
        .orderBy("segment")
    }),

    // Month-over-month growth series per nation: monthly revenue in
    // exact integer cents, then one lag window per nation for the
    // percent change — the growth-analytics shape (lag over an
    // AGGREGATED series: the window runs on |nations|·|months| rows,
    // never the fact table). Month keys leave as strings (tz-free,
    // the retention-cohort precedent).
    "q_mom_growth" -> ((s, d) => {
      val m = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("n_name").orderBy("month")
      m.withColumn("prev", lag("cents", 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("mom_pct",
          round((col("cents") - col("prev")) * 100.0 / col("prev"), 4))
        .select("n_name", "month", "cents", "mom_pct")
        .orderBy("n_name", "month")
    }),

    // Head-of-distribution selection: the smallest set of sources
    // covering ≥80% of corpus bytes — the "which domains carry the
    // mass" cut data-mixing recipes start from. The cumulative window
    // is GLOBAL but runs over the source rollup (bounded: 20 sources;
    // the q_skyline/zorder sanctioned-bounded-window argument). The
    // 80% cut compares in INTEGER space (10·(cum−bytes) < 8·total) —
    // no double rounding at the boundary.
    "q_topn_percent" -> ((s, d) => {
      // src feeds both the cumsum and the total — materialize the
      // bounded per-source rollup so the corpus is scanned once
      val src = Tables.documents(s, d)
        .groupBy("source").agg(sum("n_chars").as("bytes"))
        .localCheckpoint(eager = true)
      val total = src.agg(sum("bytes").as("total"))
      // exact-long mass → the two-pass range-partitioned prefix sum
      // (operators/PrefixSum): the rollup is 20 sources today, but at
      // a 10⁸-source grain the old global window would sort in one
      // task; bit-identical to the window it replaces
      graft.operators.PrefixSum.rankAndCumSum(src,
          Seq(col("bytes").desc, col("source")), col("bytes"),
          "rank", "cum")
        .crossJoin(broadcast(total))
        .filter((col("cum") - col("bytes")) * 10 < col("total") * 8)
        .select(col("rank").cast("int").as("rank"), col("source"),
          col("bytes"), col("cum"),
          round(col("cum") / col("total").cast("double"), 6).as("cum_share"))
        .orderBy("rank")
    }),

    // Gini concentration coefficient of order value per customer
    // nation — the standard inequality metric over a revenue
    // distribution. Needs each group's values in rank order, which is
    // irreducibly a per-group sort: one window (external sort, O(1)
    // running state) assigns ranks, then a partial-agg rollup applies
    // the closed form G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n. Ties commute
    // (equal x at swapped ranks leave Σ(i·x_i) unchanged), so the
    // orderkey tiebreak is for engine-order stability only. At 100 TB
    // the per-nation sort shards like any range sort; the alternative
    // — an equi-depth-histogram approximation — trades exactness for
    // one pass and is the documented fallback when groups stop
    // fitting a sort spill budget. (operators/PrefixSum does not apply
    // here: the statistic needs Σ i·x_i, not a prefix sum, and x is
    // double mass — see PrefixSum's exactness contract.)
    "q_gini" -> ((s, d) => {
      val j = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("o_totalprice").as("x"), col("o_orderkey"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("n_name").orderBy(col("x"), col("o_orderkey"))
      j.withColumn("i", row_number().over(w))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("i") * col("x")).as("six"))
        .select(col("n_name"), col("n"),
          round(lit(2.0) * col("six") / (col("n") * col("sx"))
            - (col("n") + lit(1.0)) / col("n"), 4).as("gini"))
        .orderBy("n_name")
    }),

    // Smoothed mean-target encoding (the leakage-safe categorical
    // feature): segment-level order-value means shrunk toward the
    // global mean with pseudo-count m=10 — enc = (n·μ_seg + m·μ)/n+m.
    // One shuffle join orders⋈customer + one partial agg; the
    // encoding table is bounded (one row per category) and would be
    // broadcast back to feature rows in a full pipeline.
    "q_target_encode" -> ((s, d) => {
      val st = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), avg("o_totalprice").as("m"))
        .localCheckpoint(eager = true) // bounded, referenced twice
      val g = st.agg((sum(col("m") * col("n")) / sum("n")).as("gm"))
      st.crossJoin(broadcast(g))
        .select(col("c_mktsegment"), col("n"),
          round((col("n") * col("m") + lit(10.0) * col("gm"))
            / (col("n") + lit(10.0)), 6).as("enc"))
        .orderBy("c_mktsegment")
    }),

    // k-anonymity / l-diversity audit over the quasi-identifier pair
    // (nation, market segment): group sizes k, distinct sensitive
    // values l (account-balance kilo-bucket), and the re-id risk flag
    // k < 5 — the privacy gate a training-data release runs before
    // shipping. One partial agg over the corpus; output is bounded by
    // the QI domain.
    "q_kanon" -> ((s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("k_size"),
          countDistinct(floor(col("c_acctbal") / 1000)).as("l_div"))
        .withColumn("at_risk", col("k_size") < 5)
        .orderBy("n_name", "c_mktsegment")),

    // Market-basket frequent brand pairs with lift — the a-priori
    // shape: baskets collapse to DISTINCT (order, brand) first, the
    // pair join is per-order over bounded baskets (O(k²) rows per
    // order, never a global cross), and item supports join back via
    // a broadcast of the bounded brand table. Support cut at 1% of
    // orders scales with the corpus, not an absolute count.
    "q_freq_pairs" -> ((s, d) => {
      val basket = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("okey"), col("p_brand").as("b"))
        .distinct()
        .localCheckpoint(eager = true) // feeds items, pairs, and totals
      val nOrders = basket.select(countDistinct("okey").as("n_orders"))
      val items = basket.groupBy(col("b")).agg(count(lit(1)).as("nb"))
      val pairs = basket.join(
          basket.select(col("okey"), col("b").as("b2")), "okey")
        .filter(col("b") < col("b2"))
        .groupBy("b", "b2").agg(count(lit(1)).as("n"))
      pairs
        .join(broadcast(items), "b")
        .join(broadcast(items.select(col("b").as("b2"), col("nb").as("nb2"))), "b2")
        .crossJoin(broadcast(nOrders))
        .filter(col("n") >= col("n_orders") * 0.01)
        .select(col("b").as("brand_a"), col("b2").as("brand_b"), col("n"),
          round(col("n") / col("n_orders"), 6).as("support"),
          round(col("n").cast("double") * col("n_orders")
            / (col("nb").cast("double") * col("nb2")), 4).as("lift"))
        .orderBy("brand_a", "brand_b")
    }),

    // Seasonal index: each month's revenue relative to its year's
    // monthly average — the classic retail seasonality normalization.
    // One partial agg to the bounded (year, month) rollup; the yearly
    // averages broadcast back. Money compared at 2dp (the io_roundtrip
    // large-sum rule), the index at 4dp.
    "q_seasonal_index" -> ((s, d) => {
      val monthly = Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(sum("o_totalprice").as("rev"))
        .localCheckpoint(eager = true) // bounded, feeds yearly avg too
      val yearly = monthly.groupBy("yr").agg(avg("rev").as("avg_rev"))
      monthly.join(broadcast(yearly), "yr")
        .select(col("yr"), col("mo"), round(col("rev"), 2).as("rev"),
          round(col("rev") / col("avg_rev"), 4).as("idx"))
        .orderBy("yr", "mo")
    }),

    // Decile lift chart — the marketing-model eval: rank by score
    // (value), cut into POPULATION deciles on the bounded score grid
    // (cum-count integer arithmetic, the q_auc collapse — never a
    // global row sort), then purchase rate and lift per decile.
    // Decile 0 = highest scores.
    "q_decile_lift" -> ((s, d) => {
      val grid = Tables.events(s, d)
        .withColumn("is_pos",
          when(col("event_type") === "purchase", 1L).otherwise(0L))
        .groupBy("value")
        .agg(count(lit(1)).as("n"), sum("is_pos").as("pos"))
        .localCheckpoint(eager = true) // bounded score grid, referenced twice
      val tot = grid.agg(sum("n").as("nn"), sum("pos").as("pp"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("value").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      grid
        .withColumn("cb", coalesce(sum("n").over(w), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("decile", expr("(cb * 10) div nn").cast("int"))
        .groupBy("decile")
        .agg(sum("n").as("n"), sum("pos").as("n_pos"),
          round(sum("pos") / sum("n").cast("double"), 6).as("rate"),
          round((sum("pos") / sum("n").cast("double"))
            / (min("pp") / min("nn").cast("double")), 4).as("lift"))
        .orderBy("decile")
    }),

    // Rare-category collapse (the feature-prep recode): labels below
    // 1% frequency fold into OTHER before encoding — kills the
    // long-tail cardinality that would blow up one-hot/target
    // encodings. One partial agg builds the bounded frequency table;
    // the recode is a broadcast probe.
    "q_rare_collapse" -> ((s, d) => {
      val freq = Tables.part(s, d)
        .groupBy("p_type").agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = true)
      val tot = freq.agg(sum("n").as("nn"))
      freq.crossJoin(broadcast(tot))
        .withColumn("recoded",
          when(col("n") < col("nn") * 0.01, lit("OTHER")).otherwise(col("p_type")))
        .groupBy("recoded")
        .agg(sum("n").as("n_parts"), count(lit(1)).as("n_source_labels"))
        .orderBy("recoded")
    }),

    // Sorted-neighborhood ER blocking (Hernández–Stolfo): sort by the
    // name key, compare each record ONLY to its w=2 window neighbors
    // — O(n·w) candidates instead of O(n²), the classic alternative
    // to q_fuzzy_match's band blocking and q_string_cluster's
    // fingerprint collapse. The name-sort rank is PrefixSum.rank (r11
    // VERDICT task 1 — the range-partitioned two-pass rank, never a
    // single-task sort) and the w=2 neighbors are successor equi-joins
    // on rn+1/rn+2, bit-identical to the lead() window they replace.
    // Candidates verified by the codegen'd Jaro-Winkler ≥ 0.92, cut
    // on the 6dp-rounded grid (the fuzzy_jw rule).
    "q_sorted_neighborhood" -> ((s, d) =>
      sortedNeighborhoodPairs(s, d).orderBy("a_id", "b_id")),

    // OpenRefine-style fingerprint clustering (entity-resolution
    // lite): normalize → tokenize → sort → rejoin collapses word
    // order and duplicates, grouping name variants under one key.
    // One scalar projection + one partial agg; canonical member =
    // lexicographic min (deterministic). Normalization order matters
    // (r6 ADVICE): lower() FIRST, then strip — stripping before
    // case-folding deletes uppercase letters instead of folding them,
    // giving 'Foo Bar' and 'foo bar' different fingerprints.
    "q_string_cluster" -> ((s, d) =>
      Tables.part(s, d)
        .withColumn("fp", array_join(array_sort(array_distinct(
          split(regexp_replace(lower(col("p_name")), "[^a-z0-9 ]", ""), " "))),
          " "))
        .groupBy("fp")
        .agg(count(lit(1)).as("n_parts"),
          countDistinct("p_name").as("n_variants"),
          min("p_name").as("canonical"))
        .orderBy("fp")),

    // Wilson lower-bound ranking (the rank-under-uncertainty formula
    // comment feeds use): per-brand return rate with its 95% Wilson
    // lower bound — small-sample brands can't top the ranking on a
    // lucky streak. Closed-form on the bounded brand rollup; ranking
    // cut on the 6dp-ROUNDED bound.
    "q_ctr_wilson" -> ((s, d) => {
      val z = 1.959963984540054 // Phi^-1(0.975)
      val br = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("k"))
      br.withColumn("nd", col("n").cast("double")) // double up front:
        // n·n in long space overflows at petabyte trial counts
        .withColumn("p", col("k") / col("nd"))
        .withColumn("wilson", round(
          (col("p") + lit(z * z) / (col("nd") * 2)
            - lit(z) * sqrt(col("p") * (lit(1.0) - col("p")) / col("nd")
              + lit(z * z) / (col("nd") * col("nd") * 4.0)))
            / (lit(1.0) + lit(z * z) / col("nd")), 6))
        .select(col("p_brand"), col("n"), col("k"),
          round(col("p"), 6).as("rate"), col("wilson"))
        .orderBy(col("wilson").desc, col("p_brand"))
    }),

    // Join-key skew report — the diagnostic that decides when
    // q_join_skew_salted's salting is worth it: per-key row counts
    // rolled into max/avg skew factor plus the top-5 heaviest keys.
    // One partial agg; the stats run on the bounded key-count table.
    "q_skew_stats" -> ((s, d) => {
      val keyCounts = Tables.lineitem(s, d)
        .groupBy("l_suppkey").agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = true) // feeds stats + top-5
      val stats = keyCounts.agg(count(lit(1)).as("n_keys"),
        max("n").as("max_n"), avg("n").as("avg_n"))
      val top = keyCounts.orderBy(col("n").desc, col("l_suppkey")).limit(5)
        // order rebuilt INSIDE the array (collect_list order is not a
        // contract): sort by (-n, key) = count desc, key asc
        .agg(expr("array_join(transform(array_sort(collect_list(" +
          "struct(-n AS nn, l_suppkey))), p -> cast(p.l_suppkey AS string)), ',')")
          .as("top5_keys"))
      stats.crossJoin(broadcast(top))
        .select(col("n_keys"), col("max_n"),
          round(col("avg_n"), 4).as("avg_n"),
          round(col("max_n") / col("avg_n"), 4).as("skew_factor"),
          col("top5_keys"))
    }),

    // Pareto / ABC inventory classification: parts ranked by revenue,
    // cumulative share cut at 80%/95% into A/B/C classes. The cumsum
    // window runs over the PART-grain rollup (dimension-grain, not
    // fact-grain — the standard ABC shape); class sizes + revenue
    // shares out. SCALE BOUND: the global window sorts the part
    // DIMENSION in one task — fine to ~10⁷ parts; at 10⁸+ the plan is
    // operators/PrefixSum (two-pass range-partitioned cumsum), which
    // requires integer mass — snap revenue to centi-longs at ingestion
    // first (double sums are not associative, so a range-partitioned
    // double cumsum would vary with the sampled bounds; see
    // PrefixSum's exactness contract).
    "q_pareto_abc" -> ((s, d) => {
      val byPart = Tables.lineitem(s, d)
        .groupBy("l_partkey")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))
        .localCheckpoint(eager = true)
      val tot = byPart.agg(sum("rev").as("tot"))
      // bounded grain: per-PART revenue rollup (dimension-sized), and
      // the cum mass is DOUBLE — PrefixSum is long-only by contract,
      // so the scale plan is snap-to-cents at ingestion, then adopt it
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("rev").desc, col("l_partkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      byPart.crossJoin(broadcast(tot))
        .withColumn("cum_share", sum("rev").over(w) / col("tot"))
        .withColumn("abc",
          when(col("cum_share") <= 0.8, "A")
            .when(col("cum_share") <= 0.95, "B").otherwise("C"))
        .groupBy("abc")
        .agg(count(lit(1)).as("n_parts"),
          round(sum("rev") / min("tot"), 6).as("rev_share"))
        .orderBy("abc")
    }),

    // ABC × XYZ inventory planning matrix: q_pareto_abc's revenue
    // classes crossed with demand-variability classes (monthly-demand
    // CV over months with sales, cut on the 4dp-rounded grid:
    // X < 0.5 steady, Y < 1.0, Z volatile or <2 observations). Both
    // class derivations run at PART grain; the output is the bounded
    // 3×3 planning matrix. SCALE BOUND: same part-dimension global
    // window as q_pareto_abc — see that key's PrefixSum note.
    "q_abc_xyz" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val monthly = li.groupBy(col("l_partkey"),
          date_trunc("month", col("l_shipdate")).as("m"))
        .agg(sum("l_quantity").as("q"))
      val xyz = monthly.groupBy("l_partkey")
        .agg(count(lit(1)).as("nm"), avg("q").as("mu"),
          stddev_samp("q").as("sd"))
        .withColumn("cv", round(col("sd") / col("mu"), 4))
        .withColumn("xyz",
          when(col("nm") < 2, "Z")
            .when(col("cv") < 0.5, "X")
            .when(col("cv") < 1.0, "Y").otherwise("Z"))
        .select("l_partkey", "xyz")
      val byPart = li.groupBy("l_partkey")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))
        .localCheckpoint(eager = true)
      val tot = byPart.agg(sum("rev").as("tot"))
      // bounded grain: per-PART revenue rollup (dimension-sized),
      // double mass — same posture as q_pareto_abc above
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("rev").desc, col("l_partkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val abc = byPart.crossJoin(broadcast(tot))
        .withColumn("cum_share", sum("rev").over(w) / col("tot"))
        .withColumn("abc",
          when(col("cum_share") <= 0.8, "A")
            .when(col("cum_share") <= 0.95, "B").otherwise("C"))
        .select("l_partkey", "abc")
      abc.join(xyz, "l_partkey")
        .groupBy("abc", "xyz").agg(count(lit(1)).as("n_parts"))
        .orderBy("abc", "xyz")
    }),

    // Top-3 brand recommendations per customer — the full recsys
    // composition over q_cf_item_sim: a customer's owned brands pull
    // in similar brands (score = Σ own-count · cos), already-owned
    // candidates anti-join away, top-3 per customer via a per-group
    // window. Every stage is bounded-basket × bounded-brand work.
    "q_recs_topn" -> ((s, d) => recsTop3(s, d).orderBy("cust", "rk")),

    // Beyond-accuracy recsys metrics (novelty + catalog coverage —
    // the Castells/Vargas diversity lens): per recommendation rank,
    // the mean self-information −log₂(owner share) of the recommended
    // brands (µ-snapped per rec before the rank rollup) and the share
    // of the catalog the recommender actually surfaces. Rides the
    // session-memoized interaction matrix; the popularity and catalog
    // sides are bounded broadcasts.
    "q_recs_novelty" -> ((s, d) => {
      // session memo (r13 opt): the recs table derives once for
      // q_recs_topn and this key instead of twice; order is irrelevant
      // under the groupBy(rk)
      val recs = recsTop3(s, d)
      val cb = custBrand(s, d)
      val nCust = cb.agg(countDistinct("cust").cast("double").as("nc"))
      val pop = cb.groupBy(col("b").as("rec"))
        .agg(countDistinct("cust").as("owners"))
        .localCheckpoint(eager = true) // bounded brand table
      val cat = pop.agg(count(lit(1)).as("n_brands"))
      recs.join(broadcast(pop), "rec").crossJoin(broadcast(nCust))
        .withColumn("nov_u",
          round(-log2(col("owners") / col("nc")) * 1e6).cast("long"))
        .groupBy("rk")
        .agg(count(lit(1)).as("n_recs"),
          round(sum("nov_u") / count(lit(1)) / 1e6, 6).as("mean_novelty"),
          countDistinct("rec").as("n_distinct"))
        .crossJoin(broadcast(cat))
        .select(col("rk"), col("n_recs"), col("mean_novelty"),
          round(col("n_distinct") / col("n_brands").cast("double"), 6)
            .as("coverage"))
        .orderBy("rk")
    }),

    // Item-item collaborative-filtering similarity: cosine between
    // brand purchase-count vectors (over the customer dimension) —
    // the recsys "customers who bought X" primitive. The co-product
    // join runs PER CUSTOMER over bounded baskets (never across the
    // customer dimension), norms broadcast back; one corpus scan.
    "q_cf_item_sim" -> ((s, d) =>
      brandSims(s, d)
        .filter(col("b") < col("b2"))
        .select(col("b").as("brand_a"), col("b2").as("brand_b"),
          round(col("cos"), 6).as("cos"))
        .orderBy("brand_a", "brand_b")),

    // Percent-of-parent rollup (the OLAP drill-down ratio): nation
    // revenue as a share of its region, region as a share of the
    // total — shares derive from ONE bounded nation-grain rollup via
    // two window sums, the fact table is scanned once.
    "q_share_of_parent" -> ((s, d) => {
      val byNation = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum("o_totalprice").as("rev"))
      val wr = org.apache.spark.sql.expressions.Window.partitionBy("r_name")
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)) // bounded 25-row rollup — global frame is safe
      byNation
        .select(col("r_name"), col("n_name"), round(col("rev"), 2).as("rev"),
          round(col("rev") / sum("rev").over(wr), 6).as("share_of_region"),
          round(sum("rev").over(wr) / sum("rev").over(wAll), 6)
            .as("region_share_of_total"))
        .orderBy("r_name", "n_name")
    }),

    // Pairwise Pearson correlation matrix over the lineitem numeric
    // columns — ONE aggregate pass computes all six co-moment pairs
    // (no per-pair rescan), then a 6-row stack unpivots to tidy
    // (col_a, col_b, r) form. The profiling primitive feature stores
    // run nightly; at 100 TB it is still one scan + one 1-row agg.
    "q_corr_matrix" -> ((s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cols.indices; j <- (i + 1) until cols.size
      } yield (cols(i), cols(j))
      val aggs = pairs.map { case (a, b) =>
        round(corr(a, b), 6).as(s"${a}__$b") }
      val stackArgs = pairs
        .map { case (a, b) => s"'$a', '$b', ${a}__$b" }.mkString(", ")
      Tables.lineitem(s, d)
        .agg(aggs.head, aggs.tail: _*)
        .select(expr(
          s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, r)"))
        .orderBy("col_a", "col_b")
    }),

    // Mutual information (nats) between event type and the value
    // band, with marginal entropies and the normalized MI — the
    // dependence measure that catches what Pearson can't (non-linear,
    // categorical). One contingency partial agg; all the information
    // algebra runs on the bounded cell table.
    "q_mutual_info" -> ((s, d) => {
      val cells = Tables.events(s, d)
        .withColumn("b", least(floor(col("value") / 20).cast("int"), lit(9)))
        .groupBy("event_type", "b").agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = true) // bounded cells, referenced 4×
      val px = cells.groupBy("event_type").agg(sum("n").as("nx"))
      val py = cells.groupBy("b").agg(sum("n").as("ny"))
      val tot = cells.agg(sum("n").as("nn"))
      val joint = cells.join(broadcast(px), "event_type")
        .join(broadcast(py), "b").crossJoin(broadcast(tot))
      val mi = joint.agg(
        count(lit(1)).as("n_cells"),
        sum((col("n") / col("nn"))
          * log(col("n").cast("double") * col("nn")
            / (col("nx").cast("double") * col("ny"))))
          .as("mi_raw"))
      val hx = px.crossJoin(broadcast(tot))
        .agg(sum((col("nx") / col("nn")) * log(col("nx") / col("nn"))).as("hx_neg"))
      val hy = py.crossJoin(broadcast(tot))
        .agg(sum((col("ny") / col("nn")) * log(col("ny") / col("nn"))).as("hy_neg"))
      mi.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
        .select(col("n_cells"),
          round(col("mi_raw"), 6).as("mi"),
          round(-col("hx_neg"), 6).as("h_type"),
          round(-col("hy_neg"), 6).as("h_band"),
          round(col("mi_raw") / least(-col("hx_neg"), -col("hy_neg")), 6)
            .as("nmi"))
    }),

    // Benford first-digit audit of order totals — the fraud/data-
    // quality screen: observed leading-digit shares vs the Benford
    // expectation log10(1+1/d). Digit extracted from the STRING form
    // (both engines print doubles < 1e7 identically), so no
    // log10-boundary ulp surface. One partial agg; 9-row output.
    "q_benford" -> ((s, d) => {
      val digits = Tables.orders(s, d)
        .withColumn("digit",
          substring(col("o_totalprice").cast("string"), 1, 1).cast("int"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = true)
      val tot = digits.agg(sum("n").as("nn"))
      digits.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          round(col("n") / col("nn"), 6).as("share"),
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("benford"),
          round(col("n") / col("nn")
            - log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("excess"))
        .orderBy("digit")
    }),

    // Robust (median/IQR) feature scaling — the sklearn RobustScaler
    // shape, with Tukey-style outlier counting on the robust z: the
    // per-group quartiles come from the distributed ExactQuantiles
    // plan (value-count groupBy + rank window, never a per-group
    // value buffer), broadcast back to a single corpus scan. Only
    // order-free aggregates of the scaled value ship (count / min /
    // max — a MEAN of scaled doubles would be partial-agg-order-
    // dependent, the cusum lesson in aggregate form).
    "q_robust_scale" -> ((s, d) => {
      val qv = graft.operators.ExactQuantiles.byGroup(
        Tables.events(s, d), Seq("event_type"), "value",
        Seq(0.25, 0.5, 0.75))
      val stats = qv.groupBy("event_type")
        .agg(max(when(col("q") === 0.25, col("v"))).as("q1"),
          max(when(col("q") === 0.5, col("v"))).as("med"),
          max(when(col("q") === 0.75, col("v"))).as("q3"))
        .withColumn("iqr", col("q3") - col("q1"))
      Tables.events(s, d).join(broadcast(stats), "event_type")
        .withColumn("z", (col("value") - col("med")) / col("iqr"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(min("med"), 4).as("median"),
          round(min("iqr"), 4).as("iqr"),
          sum(when(abs(col("z")) > 3.0, 1L).otherwise(0L)).as("n_outliers"),
          round(min("z"), 4).as("z_min"),
          round(max("z"), 4).as("z_max"))
        .orderBy("event_type")
    }),

    // Empirical-Bayes rate shrinkage (beta-binomial, method of
    // moments — the baseball-batting-average estimator applied to
    // cohort conversion): per user-cohort purchase rates, the MoM
    // (α, β) prior fitted from the across-cohort mean and variance,
    // and each cohort's shrunken rate (k+α)/(n+α+β) — small cohorts
    // pull hard toward the prior, big ones barely move. All counts
    // exact longs; the rate variance aggregates µ-snapped squares so
    // the prior fit is order-free; one bounded-cohort rollup.
    "q_eb_shrinkage" -> ((s, d) => {
      val cohorts = Tables.events(s, d)
        .withColumn("cohort", (col("user_id") % 100).cast("int"))
        .groupBy("cohort")
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("k"))
        .withColumn("r_u", round(col("k") * lit(1e6) / col("n")).cast("long"))
        .localCheckpoint(eager = true) // bounded 100 rows; feeds fit + rows
      val fit = cohorts.agg(
          sum("k").as("sk"), sum("n").as("sn"), count(lit(1)).as("nc"),
          sum("r_u").as("sr"), sum(col("r_u") * col("r_u")).as("sr2"))
        .withColumn("pbar", col("sk") / col("sn"))
        .withColumn("s2", greatest(
          (col("sr2") - col("sr").cast("double") * col("sr") / col("nc"))
            / (col("nc") - 1) / lit(1e12), lit(1e-12)))
        .withColumn("m", col("pbar") * (lit(1.0) - col("pbar")) / col("s2") - 1)
        .withColumn("alpha", col("pbar") * col("m"))
        .withColumn("beta", (lit(1.0) - col("pbar")) * col("m"))
      cohorts.crossJoin(broadcast(fit.select("pbar", "alpha", "beta")))
        .select(col("cohort"), col("n"), col("k"),
          round(col("r_u") / lit(1e6), 6).as("raw_rate"),
          round(col("alpha"), 4).as("alpha"),
          round(col("beta"), 4).as("beta"),
          round((col("k") + col("alpha"))
            / (col("n") + col("alpha") + col("beta")), 6).as("shrunk_rate"))
        .orderBy("cohort")
    }),

    // End-to-end entity resolution (the full ER pipeline as ONE
    // operator): sorted-neighborhood blocking with a DISJOINT BLOCK
    // CUT → Jaro-Winkler ≥ 0.92 verify → connected-component
    // resolution (operators/ConnectedComponents — the dedup-graph
    // machinery applied to entities) → per-entity canonical record
    // (min name, member envelope). Only multi-member entities ship —
    // the "what merged" report a master-data pass reviews. The block
    // cap (r10 VERDICT task 8): a candidate pair never crosses a
    // W=1024-row boundary of the name sort. Unlike Hernández–Stolfo's
    // sliding window (which keeps boundary-straddling pairs), this is
    // a disjoint cut, deliberately: pairs straddling each boundary are
    // dropped (a small deterministic recall loss at every 1024th row,
    // mirrored exactly in the oracle) so a transitively-chained
    // component is confined to one block (diameter ≤ W) and
    // pointer-jumping CC converges in ≤ log₂W + O(1) rounds
    // INDEPENDENT of corpus size — maxIter stays at the operator
    // default. The name-sort rank itself is PrefixSum.rank (r11
    // VERDICT task 1: the previous un-partitioned window sorted the
    // whole part dimension in ONE task) and lead(1)/lead(2) are
    // successor equi-joins on rn+i — the q_knn_shapley pattern, fully
    // distributed and bit-identical to the window it replaces.
    "q_er_resolve" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val W = 1024
      // r14 opt (r13 VERDICT task 5): the (p_name, p_partkey) PrefixSum
      // rank is the same table sortedNeighborhoodPairs materializes —
      // served from the shared session memo instead of re-running the
      // two-pass rank here.
      val ranked = partNameRank(s, d)
      // r13 opt (guide §2.4): the w=2 successors used to be TWO rn+i
      // equi-joins (+ explode + same-block filter) — three scans of the
      // checkpointed rank table and two corpus-grain shuffles. Because
      // er_resolve drops window slides that straddle a W-block boundary
      // ANYWAY (the diameter cap that keeps CC rounds bounded), the
      // successors are exactly lead(1)/lead(2) over a window PARTITIONED
      // by the block id: rn is globally dense, so ranks inside one block
      // are contiguous and lead(i) is null iff rn+i falls outside the
      // block — bit-identical to the join+filter it replaces, one
      // bounded-grain (≤ W rows) shuffle instead of two joins.
      // r14 opt (guide §1.2 — the right distributed algorithm; r13
      // VERDICT task 2's "attack the dominant stage" applied here):
      // the ER graph is INTERVAL-SHAPED by construction — every edge
      // is a forward rank edge (r, r+1) or (r, r+2) inside a disjoint
      // W-block — so its connected components are exactly the maximal
      // rank runs between "cut" boundaries, and no iterative CC is
      // needed at all. Boundary (r−1 | r) is connected iff SOME edge
      // spans it: e1(r−1) [edge r−1→r], e2(r−1) [r−1→r+1] or e2(r−2)
      // [r−2→r]; a component = a run between cuts; its CC label
      // (min member doc_id), size, canonical name and max member are
      // plain aggregates per (block, run). Bit-identical to the
      // pointer-jumping CC it replaces (oracle green at both SFs):
      // same edges, same transitive closure — computed in one
      // block-grain window pass + one aggregation instead of
      // ~log₂ W checkpointed label rounds.
      val wBlk = org.apache.spark.sql.expressions.Window
        .partitionBy("blk").orderBy("rn")
      val wRun = wBlk.rowsBetween(Long.MinValue, 0)
      val flags = ranked
        .withColumn("blk", expr(s"(rn - 1) div $W"))
        .withColumn("b1_name", lead("p_name", 1).over(wBlk))
        .withColumn("b2_name", lead("p_name", 2).over(wBlk))
        .withColumn("e1", col("b1_name").isNotNull &&
          round(expr("jaro_winkler(p_name, b1_name)"), 6) >= 0.92)
        .withColumn("e2", col("b2_name").isNotNull &&
          round(expr("jaro_winkler(p_name, b2_name)"), 6) >= 0.92)
      flags
        .withColumn("conn",
          coalesce(lag("e1", 1).over(wBlk), lit(false)) ||
          coalesce(lag("e2", 1).over(wBlk), lit(false)) ||
          coalesce(lag("e2", 2).over(wBlk), lit(false)))
        .withColumn("grp", max(when(!col("conn"), col("rn"))).over(wRun))
        .groupBy("blk", "grp")
        .agg(min("p_partkey").as("entity_id"),
          count(lit(1)).as("n_members"),
          min("p_name").as("canonical_name"),
          max("p_partkey").as("max_member"))
        .filter(col("n_members") >= 2)
        .select(col("entity_id"), col("n_members"),
          col("canonical_name"), col("max_member"))
        .orderBy("entity_id")
    }),

    // Weight-of-evidence / information-value binning — the credit-
    // scoring feature screen: equi-width value bins vs the binary
    // purchase label, WoE_i = ln((pos_i/P)/(neg_i/N)) with 0.5
    // smoothing, IV = Σ (pos_i/P − neg_i/N)·WoE_i. One partial agg to
    // the 10-row bin table, broadcast scalar totals, window-sum for
    // the running IV — the per-bin table is O(bins) regardless of
    // corpus size. Counts stay exact longs until the ln.
    "q_woe_binning" -> ((s, d) => {
      // bounded grain: the running-IV window runs over the 10-row
      // equi-width bin table, never the corpus
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("bin").rowsBetween(Long.MinValue, 0)
      val bins = Tables.events(s, d)
        .withColumn("bin", least(floor(col("value") / 50), lit(9L)).cast("int"))
        .withColumn("pos", when(col("event_type") === "purchase", 1L).otherwise(0L))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
        .withColumn("n_neg", col("n") - col("n_pos"))
        .localCheckpoint(eager = true) // bounded 10-row bin table
      val tot = bins.agg(sum("n_pos").as("tp"), sum("n_neg").as("tn"))
      bins.crossJoin(broadcast(tot))
        .withColumn("woe_raw",
          log(((col("n_pos") + lit(0.5)) / (col("tp") + lit(0.5)))
            / ((col("n_neg") + lit(0.5)) / (col("tn") + lit(0.5)))))
        .withColumn("iv_term",
          ((col("n_pos") + lit(0.5)) / (col("tp") + lit(0.5))
            - (col("n_neg") + lit(0.5)) / (col("tn") + lit(0.5))) * col("woe_raw"))
        .select(col("bin"), col("n"), col("n_pos"), col("n_neg"),
          round(col("woe_raw"), 6).as("woe"),
          round(col("iv_term"), 6).as("iv_term"),
          round(sum("iv_term").over(w), 6).as("iv_cum"))
        .orderBy("bin")
    }),

    // Differentially-private count release (Dwork et al., ε = 1):
    // per-(lang, source) counts plus Laplace(1/ε) noise drawn
    // DETERMINISTICALLY from the cell's md5 — u = (bucket + 0.5)/10⁴
    // − 0.5 ∈ (−½, ½), noise = −sign(u)·ln(1 − 2|u|)/ε — so the
    // release is reproducible across engines and re-runs (the
    // md5-bucket posture every sampler here uses; a production
    // release would swap in a calibrated RNG, same plan). One partial
    // agg; the noise projection is codegen'd scalar math on the
    // bounded cell table.
    "q_dp_count" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("lang", "source").agg(count(lit(1)).as("true_n"))
        .withColumn("b",
          conv(substring(md5(concat_ws("|", col("lang"), col("source"))), 1, 4),
            16, 10).cast("int") % 10000)
        .withColumn("u", (col("b") + lit(0.5)) / lit(10000.0) - lit(0.5))
        .withColumn("noise", -signum(col("u"))
          * log(lit(1.0) - lit(2.0) * abs(col("u"))))
        .select(col("lang"), col("source"), col("true_n"),
          round(col("noise"), 4).as("noise"),
          greatest(round(col("true_n") + col("noise"), 0).cast("long"), lit(0L))
            .as("dp_n"))
        .orderBy("lang", "source")),

    // Split-conformal prediction intervals (Vovk; the distribution-
    // free ML-eval wrapper): md5-deterministic 50/50 calibration/test
    // split per event_type, point model = calibration mean (exact
    // centi-unit integer division), nonconformity = |value − ŷ| as an
    // exact centi-long, q̂ = the ⌈(n_cal+1)(1−α)⌉-th order statistic
    // (α = 0.1) picked by a rank window with event_id tiebreak, and
    // the guaranteed-coverage check on the held-out half — every
    // comparison is exact-integer, so the interval and the coverage
    // are bit-identical across engines. Scale: the rank window
    // partitions by event_type (bounded cardinality ⇒ salting would
    // apply at extreme skew); everything else is partial aggs.
    "q_conformal_interval" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("v_c"))
        .withColumn("is_cal",
          conv(substring(md5(col("event_id").cast("string")), 1, 4), 16, 10)
            .cast("int") % 2 === 0)
        .localCheckpoint(eager = true) // feeds model, ranks, coverage
      val model = ev.filter(col("is_cal"))
        .groupBy("event_type")
        .agg(sum("v_c").as("sv"), count(lit(1)).as("n_cal"))
        .withColumn("yhat_c", expr("sv div n_cal"))
      val resid = ev.filter(col("is_cal"))
        .join(broadcast(model), "event_type")
        .withColumn("r_c", abs(col("v_c") - col("yhat_c")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("r_c"), col("event_id"))
      val qhat = resid
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === ceil((col("n_cal") + 1) * lit(0.9)).cast("int"))
        .select(col("event_type"), col("r_c").as("qhat_c"))
      val test = ev.filter(!col("is_cal"))
        .join(broadcast(model), "event_type")
        .join(broadcast(qhat), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(abs(col("v_c") - col("yhat_c")) <= col("qhat_c"), 1L)
            .otherwise(0L)).as("covered"),
          min(col("n_cal")).as("n_cal"),
          min(col("yhat_c")).as("yc"), min(col("qhat_c")).as("qc"))
      test.select(col("event_type"), col("n_cal"), col("n_test"),
          round(col("yc") / 100.0, 2).as("y_hat"),
          round(col("qc") / 100.0, 2).as("q_hat"),
          round(col("covered") / col("n_test").cast("double"), 6)
            .as("coverage"))
        .orderBy("event_type")
    }),

    // Poisson bootstrap CI for the per-language mean document length —
    // THE bootstrap that scales (each row draws an independent
    // Poisson(1) replicate weight, so no sampling-with-replacement
    // pass over the corpus is ever needed; the classic distributed-
    // systems formulation). B = 50 replicates via one explode; the
    // weight is the md5-bucket inverse-CDF (thresholds at 10⁴·F(k),
    // integer-crisp), each replicate mean is an exact-integer ratio
    // snapped to the µ-unit grid (the q_cusum_drift lesson) so the
    // replicate aggregation is exact-long arithmetic; the normal-
    // approximation CI (±1.96·se) comes off two exact sums.
    "q_bootstrap_ci" -> ((s, d) => {
      val B = 50
      val reps = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          explode(expr(s"sequence(1, $B)")).as("rep"))
        .withColumn("bkt",
          conv(substring(md5(concat_ws("|", col("doc_id"), col("rep"))), 1, 4),
            16, 10).cast("int") % 10000)
        // Poisson(1) inverse CDF on the 1e-4 grid: F(0)=.3679 F(1)=.7358
        // F(2)=.9197 F(3)=.9810 F(4)=.9963, capped at 5
        .withColumn("w", when(col("bkt") < 3679, 0L).when(col("bkt") < 7358, 1L)
          .when(col("bkt") < 9197, 2L).when(col("bkt") < 9810, 3L)
          .when(col("bkt") < 9963, 4L).otherwise(5L))
      val repMeans = reps.groupBy("lang", "rep")
        .agg(sum(col("w") * col("n_chars")).as("sx"), sum("w").as("sw"))
        .filter(col("sw") > 0)
        // snap each replicate mean to the exact integer MILLI-unit
        // grid: identical long division in both engines, and both the
        // sum and the sum-of-squares stay exact longs (m ≤ 2e6 milli
        // ⇒ m² ≤ 4e12, ×B well under 2⁵³ — the µ-grid would overflow
        // double's exact-integer range in the squares)
        .withColumn("m_m", round(col("sx") * lit(1e3) / col("sw")).cast("long"))
      val base = Tables.documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          avg(col("n_chars").cast("double")).as("point_mean"))
      repMeans.groupBy("lang")
        .agg(count(lit(1)).as("n_reps"), sum("m_m").as("s1"),
          sum(col("m_m") * col("m_m")).as("s2"))
        .withColumn("bm", col("s1") / lit(1e3) / col("n_reps"))
        .withColumn("se", sqrt(greatest(
          (col("s2") - col("s1").cast("double") * col("s1") / col("n_reps"))
            / (col("n_reps") - 1), lit(0.0))) / lit(1e3))
        .join(broadcast(base), "lang")
        .select(col("lang"), col("n_docs"), col("n_reps"),
          round(col("point_mean"), 4).as("point_mean"),
          round(col("bm"), 4).as("boot_mean"),
          round(col("se"), 4).as("boot_se"),
          round(col("bm") - lit(1.96) * col("se"), 4).as("ci_lo"),
          round(col("bm") + lit(1.96) * col("se"), 4).as("ci_hi"))
        .orderBy("lang")
    }),

    // Cramér's V association strength between two categoricals
    // (order priority × order status) — the effect-size companion to
    // q_chisq_indep's test statistic. The contingency table is one
    // partial agg to a bounded r×c grid; every χ² cell term µ-snaps
    // to the 1e9 grid before the bounded sum, so V is deterministic.
    "q_cramers_v" -> ((s, d) => {
      val cells = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("p"), col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint(eager = true) // bounded r×c grid, 4 consumers
      val rt = cells.groupBy("p").agg(sum("o").as("rt"))
      val ct = cells.groupBy("st").agg(sum("o").as("ct"))
      val tot = cells.agg(sum("o").as("n"),
        countDistinct("p").as("r"), countDistinct("st").as("c"))
      cells.join(broadcast(rt), "p").join(broadcast(ct), "st")
        .crossJoin(broadcast(tot))
        .withColumn("e", col("rt").cast("double") * col("ct") / col("n"))
        .withColumn("t_u", round((col("o") - col("e")) * (col("o") - col("e"))
          / col("e") * 1e9).cast("long"))
        .groupBy("n", "r", "c")
        .agg(sum("t_u").as("chi_u"))
        .select(col("n"), col("r"), col("c"),
          round(col("chi_u") / 1e9, 4).as("chi2"),
          round(sqrt(col("chi_u") / 1e9
            / (col("n") * least(col("r") - 1, col("c") - 1))), 6)
            .as("cramers_v"))
    }),

    // l-diversity audit (Machanavajjhala et al.) — the companion to
    // q_kanon on the re-identification axis that k-anonymity misses:
    // per quasi-identifier group (nation × market segment), the
    // DISTINCT count and entropy of the sensitive attribute (order
    // priority) over the group's orders. Entropy terms µ-snap to the
    // 1e9 grid over a ≤5-value bounded domain; the QI grid is the
    // only shuffle (customer⋈orders on the broadcast-side dims).
    "q_ldiversity" -> ((s, d) => {
      val qi = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"), col("c_mktsegment"))
      val joined = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderpriority"))
        .join(qi, col("o_custkey") === col("c_custkey"))
      val sv = joined.groupBy("n_name", "c_mktsegment", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
      val grp = sv.groupBy("n_name", "c_mktsegment")
        .agg(sum("cnt").as("n_orders"), count(lit(1)).as("l_distinct"))
      sv.join(grp, Seq("n_name", "c_mktsegment"))
        .withColumn("h_u", round((col("cnt") / col("n_orders"))
          * -log(col("cnt") / col("n_orders")) * 1e9).cast("long"))
        .groupBy("n_name", "c_mktsegment", "n_orders", "l_distinct")
        .agg(sum("h_u").as("hs_u"))
        .select(col("n_name"), col("c_mktsegment"),
          col("n_orders"), col("l_distinct"),
          round(exp(col("hs_u") / 1e9), 4).as("entropy_l"),
          (col("l_distinct") >= 3).as("meets_l3"))
        .orderBy("n_name", "c_mktsegment")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_mom_growth" ->
      """WITH m AS (
        |  SELECT n_name,
        |    strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT *, lag(cents) OVER (PARTITION BY n_name ORDER BY month) AS prev
        |  FROM m)
        |SELECT n_name, month, cents,
        |  ROUND((cents - prev) * 100.0 / prev, 4) AS mom_pct
        |FROM r WHERE prev IS NOT NULL ORDER BY n_name, month""".stripMargin,

    "q_topn_percent" ->
      """WITH src AS (
        |  SELECT source, SUM(n_chars) AS bytes FROM documents GROUP BY source),
        |t AS (SELECT SUM(bytes) AS total FROM src),
        |r AS (
        |  SELECT source, bytes,
        |    row_number() OVER (ORDER BY bytes DESC, source) AS rank,
        |    SUM(bytes) OVER (ORDER BY bytes DESC, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM src)
        |SELECT CAST(rank AS INT) AS rank, source,
        |  CAST(bytes AS BIGINT) AS bytes, CAST(cum AS BIGINT) AS cum,
        |  ROUND(cum * 1.0 / total, 6) AS cum_share
        |FROM r, t WHERE (cum - bytes) * 10 < total * 8
        |ORDER BY rank""".stripMargin,

    "q_gini" ->
      """WITH j AS (
        |  SELECT n_name, o_totalprice AS x, o_orderkey
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |r AS (
        |  SELECT n_name, x,
        |    row_number() OVER (PARTITION BY n_name ORDER BY x, o_orderkey) AS i
        |  FROM j)
        |SELECT n_name, COUNT(*) AS n,
        |  ROUND(2.0 * SUM(i * x) / (COUNT(*) * SUM(x))
        |    - (COUNT(*) + 1.0) / COUNT(*), 4) AS gini
        |FROM r GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_rfm_segment" ->
      """WITH rfm AS (
        |  SELECT o_custkey,
        |    date_diff('day', MAX(o_orderdate),
        |      (SELECT MAX(o_orderdate) FROM orders)) AS r,
        |    COUNT(*) AS f,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS m_cents
        |  FROM orders GROUP BY 1),
        |med AS (
        |  SELECT ROUND(quantile_cont(r, 0.5) * 10000) / 10000 AS r_med,
        |    ROUND(quantile_cont(f, 0.5) * 10000) / 10000 AS f_med,
        |    ROUND(quantile_cont(m_cents, 0.5) * 10000) / 10000 AS m_med
        |  FROM rfm)
        |SELECT
        |  (CASE WHEN r <= r_med THEN 'R' ELSE 'r' END) ||
        |  (CASE WHEN f >= f_med THEN 'F' ELSE 'f' END) ||
        |  (CASE WHEN m_cents >= m_med THEN 'M' ELSE 'm' END) AS segment,
        |  COUNT(*) AS n_cust,
        |  CAST(SUM(f) AS BIGINT) AS total_orders,
        |  CAST(SUM(m_cents) AS BIGINT) AS total_cents
        |FROM rfm, med
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_string_agg" ->
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(floor(value / 10.0) AS INT) AS bucket, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // oracle = the plain theta join (semantics, not algorithm)
    "q_join_range_bucket" ->
      """SELECT v.event_id AS v_id, p.event_id AS p_id
        |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view') v
        |JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        | AND abs(epoch_us(p.ts) - epoch_us(v.ts)) <= 3600000000
        |ORDER BY v_id, p_id""".stripMargin,

    "q_vec_centroid_full" ->
      """SELECT label,
        |  array_to_string(
        |    list(CAST(CAST(round(m * 1000000) AS BIGINT) AS VARCHAR) ORDER BY pos),
        |    ',') AS centroid
        |FROM (
        |  SELECT label, pos, SUM(CAST(v AS DOUBLE)) / COUNT(*) AS m
        |  FROM (SELECT label, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS pos
        |        FROM embeddings)
        |  GROUP BY label, pos)
        |GROUP BY label ORDER BY label""".stripMargin,

    "q_fuzzy_match" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS a_name, b.p_name AS b_name,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM names a JOIN names b
        |  ON a.p_name < b.p_name
        | AND abs(len(a.p_name) - len(b.p_name)) <= 3
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY a_name, b_name""".stripMargin,

    "q_fuzzy_jw" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS a_name, b.p_name AS b_name,
        |  ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        |FROM names a JOIN names b ON a.p_name < b.p_name
        |WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.75
        |ORDER BY a_name, b_name""".stripMargin,

    "q_equidepth_bins" ->
      """SELECT event_type, CAST(bin AS INT) AS bin, COUNT(*) AS n,
        |  MIN(value) AS lo, MAX(value) AS hi
        |FROM (
        |  SELECT event_type, value,
        |    ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bin
        |  FROM events)
        |GROUP BY event_type, bin ORDER BY event_type, bin""".stripMargin,

    // independent quadratic formulation — semantics oracle
    "q_skyline" ->
      """SELECT p_partkey, p_name, p_retailprice, p_size
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE (q.p_retailprice <  p.p_retailprice AND q.p_size >= p.p_size)
        |     OR (q.p_retailprice <= p.p_retailprice AND q.p_size >  p.p_size))
        |ORDER BY p_partkey""".stripMargin,

    // independent post-state derivation: the merged table must equal
    // "orders minus deleted keys at original prices" — no merge
    // machinery on the oracle side at all
    "q_merge_apply" ->
      """SELECT o_orderkey % 10 AS kmod, COUNT(*) AS n,
        |  ROUND(SUM(o_totalprice), 2) AS sum_price,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders WHERE o_orderkey % 10 <> 5
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_snapshot_diff" ->
      """WITH a AS (
        |  SELECT o_orderkey AS k_old,
        |    CASE WHEN o_orderkey % 10 = 7 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS price_old
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |b AS (
        |  SELECT o_orderkey AS k_new, o_totalprice AS price_new
        |  FROM orders WHERE o_orderkey % 10 <> 5)
        |SELECT o_orderkey, change_type, price_old, price_new FROM (
        |  SELECT COALESCE(a.k_old, b.k_new) AS o_orderkey,
        |    CASE WHEN a.k_old IS NULL THEN 'insert'
        |         WHEN b.k_new IS NULL THEN 'delete'
        |         WHEN a.price_old <> b.price_new THEN 'update'
        |         ELSE 'unchanged' END AS change_type,
        |    a.price_old, b.price_new
        |  FROM a FULL OUTER JOIN b ON a.k_old = b.k_new)
        |WHERE change_type <> 'unchanged'
        |ORDER BY o_orderkey""".stripMargin,

    "q_scd2_snapshot" ->
      """WITH m AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT user_id, ts, event_id, event_type FROM m
        |      WHERE prev IS NULL OR prev <> event_type),
        |r AS (
        |  SELECT user_id, event_type AS state, epoch_us(ts) AS since_ts, event_id AS change_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM c WHERE ts < TIMESTAMP '2024-01-16')
        |SELECT user_id, state, since_ts, change_id
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_scd2_dim" ->
      """WITH m AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT user_id, ts, event_id, event_type FROM m
        |      WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_id AS change_id, event_type,
        |  epoch_us(ts) AS valid_from,
        |  epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        |FROM c ORDER BY user_id, valid_from, change_id""".stripMargin,

    // the scd2 CTE + the interval lookup join
    "q_scd2_lookup" ->
      """WITH m AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT user_id, ts, event_id, event_type FROM m
        |      WHERE prev IS NULL OR prev <> event_type),
        |dim AS (
        |  SELECT user_id, event_id AS version_id, event_type AS attr_at_ts,
        |    epoch_us(ts) AS valid_from,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) AS valid_to
        |  FROM c),
        |f AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |      FROM events WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id, f.ts_us, dim.attr_at_ts,
        |  dim.version_id
        |FROM f JOIN dim ON f.user_id = dim.user_id
        |  AND f.ts_us >= dim.valid_from
        |  AND (dim.valid_to IS NULL OR f.ts_us < dim.valid_to)
        |ORDER BY f.event_id""".stripMargin,

    "q_profile_stats" ->
      """SELECT column_name, n, n_distinct, min_v, max_v, avg_v FROM (
        |  SELECT 'l_quantity' AS column_name, COUNT(l_quantity) AS n,
        |    CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
        |    CAST(MIN(l_quantity) AS DOUBLE) AS min_v, CAST(MAX(l_quantity) AS DOUBLE) AS max_v,
        |    ROUND(AVG(l_quantity) * 10000) / 10000 AS avg_v FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', COUNT(l_extendedprice),
        |    CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
        |    CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE),
        |    ROUND(AVG(l_extendedprice) * 10000) / 10000 FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', COUNT(l_discount),
        |    CAST(COUNT(DISTINCT l_discount) AS BIGINT),
        |    CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE),
        |    ROUND(AVG(l_discount) * 10000) / 10000 FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax', COUNT(l_tax),
        |    CAST(COUNT(DISTINCT l_tax) AS BIGINT),
        |    CAST(MIN(l_tax) AS DOUBLE), CAST(MAX(l_tax) AS DOUBLE),
        |    ROUND(AVG(l_tax) * 10000) / 10000 FROM lineitem)
        |ORDER BY column_name""".stripMargin,

    "q_target_encode" ->
      """WITH st AS (
        |  SELECT c_mktsegment, COUNT(*) AS n, AVG(o_totalprice) AS m
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |g AS (SELECT SUM(m * n) / SUM(n) AS gm FROM st)
        |SELECT c_mktsegment, n,
        |  ROUND((n * m + 10.0 * gm) / (n + 10.0), 6) AS enc
        |FROM st CROSS JOIN g ORDER BY c_mktsegment""".stripMargin,

    "q_kanon" ->
      """SELECT n_name, c_mktsegment, COUNT(*) AS k_size,
        |  CAST(COUNT(DISTINCT FLOOR(c_acctbal / 1000)) AS BIGINT) AS l_div,
        |  COUNT(*) < 5 AS at_risk
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY n_name, c_mktsegment""".stripMargin,

    "q_freq_pairs" ->
      """WITH basket AS (
        |  SELECT DISTINCT l_orderkey AS okey, p_brand AS b
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |no AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM basket),
        |items AS (SELECT b, COUNT(*) AS nb FROM basket GROUP BY 1),
        |pairs AS (
        |  SELECT x.b, y.b AS b2, COUNT(*) AS n
        |  FROM basket x JOIN basket y ON x.okey = y.okey AND x.b < y.b
        |  GROUP BY 1, 2)
        |SELECT p.b AS brand_a, p.b2 AS brand_b, p.n,
        |  ROUND(p.n * 1.0 / no.n_orders, 6) AS support,
        |  ROUND(p.n * 1.0 * no.n_orders / (i1.nb * 1.0 * i2.nb), 4) AS lift
        |FROM pairs p
        |JOIN items i1 ON p.b = i1.b
        |JOIN items i2 ON p.b2 = i2.b
        |CROSS JOIN no
        |WHERE p.n >= no.n_orders * 0.01
        |ORDER BY brand_a, brand_b""".stripMargin,

    "q_seasonal_index" ->
      """WITH m AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |    CAST(month(o_orderdate) AS INT) AS mo,
        |    SUM(o_totalprice) AS rev
        |  FROM orders GROUP BY 1, 2),
        |y AS (SELECT yr, AVG(rev) AS avg_rev FROM m GROUP BY 1)
        |SELECT m.yr, m.mo, ROUND(m.rev, 2) AS rev,
        |  ROUND(m.rev / y.avg_rev, 4) AS idx
        |FROM m JOIN y USING (yr) ORDER BY yr, mo""".stripMargin,

    "q_sorted_neighborhood" ->
      """WITH s AS (
        |  SELECT p_partkey, p_name,
        |    lead(p_partkey, 1) OVER w AS k1, lead(p_name, 1) OVER w AS m1,
        |    lead(p_partkey, 2) OVER w AS k2, lead(p_name, 2) OVER w AS m2
        |  FROM part WINDOW w AS (ORDER BY p_name, p_partkey)),
        |c AS (
        |  SELECT p_partkey AS a_id, k1 AS b_id,
        |    ROUND(jaro_winkler_similarity(p_name, m1), 6) AS jw
        |  FROM s WHERE k1 IS NOT NULL
        |  UNION ALL
        |  SELECT p_partkey, k2,
        |    ROUND(jaro_winkler_similarity(p_name, m2), 6)
        |  FROM s WHERE k2 IS NOT NULL)
        |SELECT a_id, b_id, jw FROM c WHERE jw >= 0.92
        |ORDER BY a_id, b_id""".stripMargin,

    // the q_sorted_neighborhood pair derivation, then UNROLLED
    // Shiloach-Vishkin rounds (hook = neighbor min, compress =
    // label-of-label) instead of a reach closure — the blocking
    // chains make components thousands deep, so transitive closure
    // would be quadratic in the chain length while pointer jumping
    // converges in log₂(diameter) rounds (24 covers 2²³ nodes)
    "q_er_resolve" -> {
      val rounds = 24
      val chain = (0 until rounds).map { k =>
        s"""l${k + 1} AS MATERIALIZED (
           |  SELECT v, MIN(l) AS l FROM (
           |    SELECT v, l FROM l$k
           |    UNION ALL
           |    SELECT a.v, b.l FROM l$k a JOIN l$k b ON a.l = b.v
           |    UNION ALL
           |    SELECT s2.src AS v, x.l FROM sym s2 JOIN l$k x ON s2.dst = x.v
           |  ) GROUP BY v)""".stripMargin
      }.mkString(",\n")
      s"""WITH s AS (
         |  SELECT p_partkey, p_name,
         |    row_number() OVER w AS rn,
         |    lead(p_partkey, 1) OVER w AS k1, lead(p_name, 1) OVER w AS m1,
         |    lead(p_partkey, 2) OVER w AS k2, lead(p_name, 2) OVER w AS m2
         |  FROM part WINDOW w AS (ORDER BY p_name, p_partkey)),
         |c AS (
         |  SELECT p_partkey AS a_id, k1 AS b_id,
         |    ROUND(jaro_winkler_similarity(p_name, m1), 6) AS jw
         |  FROM s WHERE k1 IS NOT NULL
         |    AND (rn - 1) // 1024 = rn // 1024
         |  UNION ALL
         |  SELECT p_partkey, k2,
         |    ROUND(jaro_winkler_similarity(p_name, m2), 6)
         |  FROM s WHERE k2 IS NOT NULL
         |    AND (rn - 1) // 1024 = (rn + 1) // 1024),
         |e AS MATERIALIZED (SELECT a_id, b_id FROM c WHERE jw >= 0.92),
         |sym AS (SELECT a_id AS src, b_id AS dst FROM e
         |        UNION SELECT b_id, a_id FROM e),
         |l0 AS (SELECT p_partkey AS v, p_partkey AS l FROM part),
         |$chain,
         |lab AS (SELECT v AS doc_id, l AS label FROM l$rounds),
         |g AS (
         |  SELECT label, COUNT(*) AS n_members,
         |    MIN(p.p_name) AS canonical_name,
         |    CAST(MAX(lab.doc_id) AS BIGINT) AS max_member
         |  FROM lab JOIN part p ON p.p_partkey = lab.doc_id
         |  GROUP BY label)
         |SELECT label AS entity_id, n_members, canonical_name, max_member
         |FROM g WHERE n_members >= 2 ORDER BY entity_id""".stripMargin
    },

    "q_string_cluster" ->
      """SELECT list_aggr(list_sort(list_distinct(string_split(
        |    regexp_replace(lower(p_name), '[^a-z0-9 ]', '', 'g'), ' '))),
        |    'string_agg', ' ') AS fp,
        |  COUNT(*) AS n_parts,
        |  CAST(COUNT(DISTINCT p_name) AS BIGINT) AS n_variants,
        |  MIN(p_name) AS canonical
        |FROM part GROUP BY 1 ORDER BY fp""".stripMargin,

    "q_ctr_wilson" ->
      """WITH br AS (
        |  SELECT p_brand, COUNT(*) AS n,
        |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS k
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1),
        |w AS (
        |  SELECT p_brand, n, k, k * 1.0 / n AS p, n * 1.0 AS nd,
        |    1.959963984540054 AS z
        |  FROM br)
        |SELECT p_brand, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |  ROUND(p, 6) AS rate,
        |  ROUND((p + z * z / (nd * 2)
        |    - z * sqrt(p * (1.0 - p) / nd + z * z / (nd * nd * 4.0)))
        |    / (1.0 + z * z / nd), 6) AS wilson
        |FROM w ORDER BY wilson DESC, p_brand""".stripMargin,

    "q_skew_stats" ->
      """WITH kc AS (SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY 1),
        |st AS (SELECT COUNT(*) AS n_keys, MAX(n) AS max_n, AVG(n) AS avg_n
        |       FROM kc),
        |top AS (
        |  SELECT string_agg(CAST(l_suppkey AS VARCHAR), ','
        |           ORDER BY n DESC, l_suppkey) AS top5_keys
        |  FROM (SELECT * FROM kc ORDER BY n DESC, l_suppkey LIMIT 5))
        |SELECT n_keys, CAST(max_n AS BIGINT) AS max_n,
        |  ROUND(avg_n, 4) AS avg_n,
        |  ROUND(max_n / avg_n, 4) AS skew_factor, top5_keys
        |FROM st CROSS JOIN top""".stripMargin,

    "q_abc_xyz" ->
      """WITH m AS (
        |  SELECT l_partkey, date_trunc('month', l_shipdate) AS mo,
        |    SUM(l_quantity) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |x AS (
        |  SELECT l_partkey,
        |    CASE WHEN COUNT(*) < 2 THEN 'Z'
        |         WHEN ROUND(stddev_samp(q) / AVG(q), 4) < 0.5 THEN 'X'
        |         WHEN ROUND(stddev_samp(q) / AVG(q), 4) < 1.0 THEN 'Y'
        |         ELSE 'Z' END AS xyz
        |  FROM m GROUP BY 1),
        |bp AS (
        |  SELECT l_partkey, SUM(l_extendedprice * (1.0 - l_discount)) AS rev
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT SUM(rev) AS tot FROM bp),
        |a AS (
        |  SELECT l_partkey,
        |    CASE WHEN SUM(rev) OVER (ORDER BY rev DESC, l_partkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / t.tot
        |        <= 0.8 THEN 'A'
        |      WHEN SUM(rev) OVER (ORDER BY rev DESC, l_partkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / t.tot
        |        <= 0.95 THEN 'B' ELSE 'C' END AS abc
        |  FROM bp CROSS JOIN t)
        |SELECT a.abc, x.xyz, COUNT(*) AS n_parts
        |FROM a JOIN x USING (l_partkey)
        |GROUP BY 1, 2 ORDER BY abc, xyz""".stripMargin,

    "q_pareto_abc" ->
      """WITH bp AS (
        |  SELECT l_partkey, SUM(l_extendedprice * (1.0 - l_discount)) AS rev
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT SUM(rev) AS tot FROM bp),
        |c AS (
        |  SELECT rev, t.tot,
        |    SUM(rev) OVER (ORDER BY rev DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / t.tot
        |      AS cum_share
        |  FROM bp CROSS JOIN t)
        |SELECT CASE WHEN cum_share <= 0.8 THEN 'A'
        |            WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc,
        |  COUNT(*) AS n_parts, ROUND(SUM(rev) / MIN(tot), 6) AS rev_share
        |FROM c GROUP BY 1 ORDER BY abc""".stripMargin,

    "q_recs_topn" ->
      """WITH cb AS (
        |  SELECT o_custkey AS cust, p_brand AS b,
        |    CAST(COUNT(*) AS DOUBLE) AS c
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |n AS (SELECT b, sqrt(SUM(c * c)) AS nrm FROM cb GROUP BY 1),
        |s AS (
        |  SELECT x.b, y.b AS b2, SUM(x.c * y.c) AS dot
        |  FROM cb x JOIN cb y ON x.cust = y.cust AND x.b <> y.b
        |  GROUP BY 1, 2),
        |sim AS (
        |  SELECT s.b, s.b2, s.dot / (n1.nrm * n2.nrm) AS cos
        |  FROM s JOIN n n1 ON s.b = n1.b JOIN n n2 ON s.b2 = n2.b),
        |cand AS (
        |  SELECT cb.cust, sim.b2 AS rec, ROUND(SUM(cb.c * sim.cos), 6) AS score
        |  FROM cb JOIN sim ON cb.b = sim.b GROUP BY 1, 2),
        |flt AS (
        |  SELECT c.* FROM cand c WHERE NOT EXISTS (
        |    SELECT 1 FROM cb WHERE cb.cust = c.cust AND cb.b = c.rec)),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY cust
        |    ORDER BY score DESC, rec) AS rk
        |  FROM flt)
        |SELECT cust, CAST(rk AS INT) AS rk, rec, score
        |FROM rk WHERE rk <= 3 ORDER BY cust, rk""".stripMargin,

    // the recs_topn derivation + popularity self-information rollup
    "q_recs_novelty" ->
      """WITH cb AS (
        |  SELECT o_custkey AS cust, p_brand AS b,
        |    CAST(COUNT(*) AS DOUBLE) AS c
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |n AS (SELECT b, sqrt(SUM(c * c)) AS nrm FROM cb GROUP BY 1),
        |s AS (
        |  SELECT x.b, y.b AS b2, SUM(x.c * y.c) AS dot
        |  FROM cb x JOIN cb y ON x.cust = y.cust AND x.b <> y.b
        |  GROUP BY 1, 2),
        |sim AS (
        |  SELECT s.b, s.b2, s.dot / (n1.nrm * n2.nrm) AS cos
        |  FROM s JOIN n n1 ON s.b = n1.b JOIN n n2 ON s.b2 = n2.b),
        |cand AS (
        |  SELECT cb.cust, sim.b2 AS rec, ROUND(SUM(cb.c * sim.cos), 6) AS score
        |  FROM cb JOIN sim ON cb.b = sim.b GROUP BY 1, 2),
        |flt AS (
        |  SELECT c.* FROM cand c WHERE NOT EXISTS (
        |    SELECT 1 FROM cb WHERE cb.cust = c.cust AND cb.b = c.rec)),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY cust
        |    ORDER BY score DESC, rec) AS rk
        |  FROM flt),
        |recs AS (SELECT cust, CAST(rk AS INT) AS rk, rec
        |         FROM rk WHERE rk <= 3),
        |ncst AS (SELECT CAST(COUNT(DISTINCT cust) AS DOUBLE) AS nc FROM cb),
        |pop AS (SELECT b AS rec, COUNT(DISTINCT cust) AS owners
        |        FROM cb GROUP BY 1),
        |cat AS (SELECT COUNT(*) AS n_brands FROM pop),
        |nv AS (
        |  SELECT recs.rk,
        |    CAST(ROUND(-log2(owners / nc) * 1e6) AS BIGINT) AS nov_u,
        |    recs.rec
        |  FROM recs JOIN pop USING (rec) CROSS JOIN ncst)
        |SELECT rk, COUNT(*) AS n_recs,
        |  ROUND(SUM(nov_u) / COUNT(*) / 1e6, 6) AS mean_novelty,
        |  ROUND(COUNT(DISTINCT rec) * 1.0 / n_brands, 6) AS coverage
        |FROM nv CROSS JOIN cat GROUP BY rk, n_brands ORDER BY rk""".stripMargin,

    "q_cf_item_sim" ->
      """WITH cb AS (
        |  SELECT o_custkey AS cust, p_brand AS b,
        |    CAST(COUNT(*) AS DOUBLE) AS c
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |n AS (SELECT b, sqrt(SUM(c * c)) AS nrm FROM cb GROUP BY 1),
        |cp AS (
        |  SELECT x.b, y.b AS b2, SUM(x.c * y.c) AS dot
        |  FROM cb x JOIN cb y ON x.cust = y.cust AND x.b < y.b
        |  GROUP BY 1, 2)
        |SELECT cp.b AS brand_a, cp.b2 AS brand_b,
        |  ROUND(cp.dot / (n1.nrm * n2.nrm), 6) AS cos
        |FROM cp JOIN n n1 ON cp.b = n1.b JOIN n n2 ON cp.b2 = n2.b
        |ORDER BY brand_a, brand_b""".stripMargin,

    "q_share_of_parent" ->
      """WITH bn AS (
        |  SELECT r_name, n_name, SUM(o_totalprice) AS rev
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, ROUND(rev, 2) AS rev,
        |  ROUND(rev / SUM(rev) OVER (PARTITION BY r_name), 6)
        |    AS share_of_region,
        |  ROUND(SUM(rev) OVER (PARTITION BY r_name) / SUM(rev) OVER (), 6)
        |    AS region_share_of_total
        |FROM bn ORDER BY r_name, n_name""".stripMargin,

    "q_decile_lift" ->
      """WITH grid AS (
        |  SELECT value, COUNT(*) AS n,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos
        |  FROM events GROUP BY value),
        |t AS (SELECT SUM(n) AS nn, SUM(pos) AS pp FROM grid),
        |acc AS (
        |  SELECT n, pos,
        |    COALESCE(SUM(n) OVER (ORDER BY value DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM grid),
        |dec AS (
        |  SELECT CAST((acc.cb * 10) // t.nn AS INT) AS decile,
        |    acc.n, acc.pos, t.nn, t.pp
        |  FROM acc CROSS JOIN t)
        |SELECT decile, CAST(SUM(n) AS BIGINT) AS n,
        |  CAST(SUM(pos) AS BIGINT) AS n_pos,
        |  ROUND(SUM(pos) * 1.0 / SUM(n), 6) AS rate,
        |  ROUND((SUM(pos) * 1.0 / SUM(n)) / (MIN(pp) * 1.0 / MIN(nn)), 4)
        |    AS lift
        |FROM dec GROUP BY decile ORDER BY decile""".stripMargin,

    "q_rare_collapse" ->
      """WITH f AS (SELECT p_type, COUNT(*) AS n FROM part GROUP BY 1),
        |t AS (SELECT SUM(n) AS nn FROM f)
        |SELECT CASE WHEN f.n < t.nn * 0.01 THEN 'OTHER' ELSE f.p_type END
        |    AS recoded,
        |  CAST(SUM(f.n) AS BIGINT) AS n_parts,
        |  COUNT(*) AS n_source_labels
        |FROM f CROSS JOIN t GROUP BY 1 ORDER BY recoded""".stripMargin,

    "q_corr_matrix" ->
      """SELECT col_a, col_b, r FROM (
        |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |    ROUND(corr(l_quantity, l_extendedprice), 6) AS r FROM lineitem
        |  UNION ALL SELECT 'l_quantity', 'l_discount',
        |    ROUND(corr(l_quantity, l_discount), 6) FROM lineitem
        |  UNION ALL SELECT 'l_quantity', 'l_tax',
        |    ROUND(corr(l_quantity, l_tax), 6) FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount',
        |    ROUND(corr(l_extendedprice, l_discount), 6) FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax',
        |    ROUND(corr(l_extendedprice, l_tax), 6) FROM lineitem
        |  UNION ALL SELECT 'l_discount', 'l_tax',
        |    ROUND(corr(l_discount, l_tax), 6) FROM lineitem)
        |ORDER BY col_a, col_b""".stripMargin,

    "q_mutual_info" ->
      """WITH cells AS (
        |  SELECT event_type, LEAST(CAST(FLOOR(value / 20) AS INT), 9) AS b,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |px AS (SELECT event_type, SUM(n) AS nx FROM cells GROUP BY 1),
        |py AS (SELECT b, SUM(n) AS ny FROM cells GROUP BY 1),
        |tt AS (SELECT SUM(n) AS nn FROM cells),
        |mi AS (
        |  SELECT COUNT(*) AS n_cells,
        |    SUM((cells.n * 1.0 / tt.nn)
        |      * ln(cells.n * 1.0 * tt.nn / (px.nx * 1.0 * py.ny))) AS mi_raw
        |  FROM cells JOIN px USING (event_type) JOIN py USING (b)
        |  CROSS JOIN tt),
        |hx AS (SELECT SUM((nx * 1.0 / nn) * ln(nx * 1.0 / nn)) AS hx_neg
        |       FROM px CROSS JOIN tt),
        |hy AS (SELECT SUM((ny * 1.0 / nn) * ln(ny * 1.0 / nn)) AS hy_neg
        |       FROM py CROSS JOIN tt)
        |SELECT n_cells, ROUND(mi_raw, 6) AS mi,
        |  ROUND(-hx_neg, 6) AS h_type, ROUND(-hy_neg, 6) AS h_band,
        |  ROUND(mi_raw / LEAST(-hx_neg, -hy_neg), 6) AS nmi
        |FROM mi CROSS JOIN hx CROSS JOIN hy""".stripMargin,

    "q_benford" ->
      """WITH d AS (
        |  SELECT CAST(substring(CAST(o_totalprice AS VARCHAR), 1, 1) AS INT)
        |    AS digit, COUNT(*) AS n
        |  FROM orders GROUP BY 1),
        |t AS (SELECT SUM(n) AS nn FROM d)
        |SELECT digit, n, ROUND(n * 1.0 / nn, 6) AS share,
        |  ROUND(log10(1.0 + 1.0 / digit), 6) AS benford,
        |  ROUND(n * 1.0 / nn - log10(1.0 + 1.0 / digit), 6) AS excess
        |FROM d CROSS JOIN t ORDER BY digit""".stripMargin,

    "q_robust_scale" ->
      """WITH st AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.25) AS q1,
        |    quantile_cont(value, 0.5) AS med,
        |    quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY 1),
        |z AS (
        |  SELECT e.event_type, st.med, st.q3 - st.q1 AS iqr,
        |    (e.value - st.med) / (st.q3 - st.q1) AS z
        |  FROM events e JOIN st USING (event_type))
        |SELECT event_type, COUNT(*) AS n,
        |  ROUND(MIN(med), 4) AS median,
        |  ROUND(MIN(iqr), 4) AS iqr,
        |  CAST(SUM(CASE WHEN abs(z) > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  ROUND(MIN(z), 4) AS z_min,
        |  ROUND(MAX(z), 4) AS z_max
        |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_eb_shrinkage" ->
      """WITH c AS (
        |  SELECT CAST(user_id % 100 AS INT) AS cohort, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k
        |  FROM events GROUP BY 1),
        |c2 AS (SELECT cohort, n, k,
        |         CAST(ROUND(k * 1e6 / n) AS BIGINT) AS r_u FROM c),
        |fit AS (
        |  SELECT CAST(SUM(k) AS BIGINT) AS sk, CAST(SUM(n) AS BIGINT) AS sn,
        |    COUNT(*) AS nc, CAST(SUM(r_u) AS BIGINT) AS sr,
        |    CAST(SUM(r_u * r_u) AS BIGINT) AS sr2
        |  FROM c2),
        |p AS (
        |  SELECT sk / sn AS pbar,
        |    GREATEST((sr2 - CAST(sr AS DOUBLE) * sr / nc) / (nc - 1) / 1e12,
        |      1e-12) AS s2
        |  FROM fit),
        |ab AS (
        |  SELECT pbar, pbar * (pbar * (1.0 - pbar) / s2 - 1) AS alpha,
        |    (1.0 - pbar) * (pbar * (1.0 - pbar) / s2 - 1) AS beta
        |  FROM p)
        |SELECT cohort, n, k,
        |  ROUND(r_u / 1e6, 6) AS raw_rate,
        |  ROUND(alpha, 4) AS alpha, ROUND(beta, 4) AS beta,
        |  ROUND((k + alpha) / (n + alpha + beta), 6) AS shrunk_rate
        |FROM c2 CROSS JOIN ab ORDER BY cohort""".stripMargin,

    "q_conformal_interval" ->
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v_c,
        |    CAST(CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 4)
        |      AS INT) % 2 AS INT) = 0 AS is_cal
        |  FROM events),
        |model AS (
        |  SELECT event_type, COUNT(*) AS n_cal,
        |    CAST(CAST(SUM(v_c) AS BIGINT) // COUNT(*) AS BIGINT) AS yhat_c
        |  FROM ev WHERE is_cal GROUP BY 1),
        |resid AS (
        |  SELECT e.event_type, e.event_id, abs(e.v_c - m.yhat_c) AS r_c,
        |    m.n_cal
        |  FROM ev e JOIN model m USING (event_type) WHERE e.is_cal),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |         ORDER BY r_c, event_id) AS rk FROM resid),
        |qh AS (SELECT event_type, r_c AS qhat_c FROM rk
        |       WHERE rk = CAST(CEIL((n_cal + 1) * 0.9) AS INT)),
        |test AS (
        |  SELECT e.event_type, COUNT(*) AS n_test,
        |    CAST(SUM(CASE WHEN abs(e.v_c - m.yhat_c) <= q.qhat_c
        |      THEN 1 ELSE 0 END) AS BIGINT) AS covered,
        |    MIN(m.n_cal) AS n_cal, MIN(m.yhat_c) AS yc, MIN(q.qhat_c) AS qc
        |  FROM ev e JOIN model m USING (event_type) JOIN qh q USING (event_type)
        |  WHERE NOT is_cal GROUP BY 1)
        |SELECT event_type, n_cal, n_test,
        |  ROUND(yc / 100.0, 2) AS y_hat,
        |  ROUND(qc / 100.0, 2) AS q_hat,
        |  ROUND(covered * 1.0 / n_test, 6) AS coverage
        |FROM test ORDER BY event_type""".stripMargin,

    "q_woe_binning" ->
      """WITH b AS (
        |  SELECT CAST(LEAST(FLOOR(value / 50), 9) AS INT) AS bin,
        |    COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_pos
        |  FROM events GROUP BY 1),
        |b2 AS (SELECT bin, n, n_pos, n - n_pos AS n_neg FROM b),
        |t AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS tp,
        |        CAST(SUM(n_neg) AS BIGINT) AS tn FROM b2),
        |sc AS (SELECT bin, n, n_pos, n_neg,
        |  ln(((n_pos + 0.5) / (tp + 0.5)) / ((n_neg + 0.5) / (tn + 0.5)))
        |    AS woe_raw,
        |  ((n_pos + 0.5) / (tp + 0.5) - (n_neg + 0.5) / (tn + 0.5))
        |    * ln(((n_pos + 0.5) / (tp + 0.5)) / ((n_neg + 0.5) / (tn + 0.5)))
        |    AS iv_t
        |  FROM b2 CROSS JOIN t)
        |SELECT bin, n, n_pos, n_neg, ROUND(woe_raw, 6) AS woe,
        |  ROUND(iv_t, 6) AS iv_term,
        |  ROUND(SUM(iv_t) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING), 6)
        |    AS iv_cum
        |FROM sc ORDER BY bin""".stripMargin,

    "q_dp_count" ->
      """WITH c AS (
        |  SELECT lang, source, COUNT(*) AS true_n
        |  FROM documents GROUP BY 1, 2),
        |n AS (SELECT lang, source, true_n,
        |  CAST(CAST('0x' || substring(md5(lang || '|' || source), 1, 4)
        |    AS INT) % 10000 AS INT) AS b
        |  FROM c),
        |x AS (SELECT lang, source, true_n,
        |        (b + 0.5) / 10000.0 - 0.5 AS u FROM n)
        |SELECT lang, source, true_n,
        |  ROUND(-sign(u) * ln(1.0 - 2.0 * abs(u)), 4) AS noise,
        |  GREATEST(CAST(ROUND(true_n + (-sign(u) * ln(1.0 - 2.0 * abs(u))), 0)
        |    AS BIGINT), 0) AS dp_n
        |FROM x ORDER BY lang, source""".stripMargin,

    "q_bootstrap_ci" ->
      """WITH reps AS (
        |  SELECT doc_id, lang, n_chars, r AS rep
        |  FROM documents, unnest(generate_series(1, 50)) AS t(r)),
        |wb AS (SELECT lang, rep, n_chars,
        |  CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|'
        |    || CAST(rep AS VARCHAR)), 1, 4) AS INT) % 10000 AS INT) AS bkt
        |  FROM reps),
        |w2 AS (SELECT lang, rep, n_chars,
        |  CASE WHEN bkt < 3679 THEN 0 WHEN bkt < 7358 THEN 1
        |       WHEN bkt < 9197 THEN 2 WHEN bkt < 9810 THEN 3
        |       WHEN bkt < 9963 THEN 4 ELSE 5 END AS w
        |  FROM wb),
        |rm AS (SELECT lang, rep, CAST(SUM(w * n_chars) AS BIGINT) AS sx,
        |         CAST(SUM(w) AS BIGINT) AS sw
        |       FROM w2 GROUP BY 1, 2 HAVING SUM(w) > 0),
        |mm AS (SELECT lang, rep,
        |         CAST(ROUND(sx * 1e3 / sw) AS BIGINT) AS m_m FROM rm),
        |ag AS (SELECT lang, COUNT(*) AS n_reps,
        |         CAST(SUM(m_m) AS BIGINT) AS s1,
        |         CAST(SUM(m_m * m_m) AS BIGINT) AS s2
        |       FROM mm GROUP BY 1),
        |base AS (SELECT lang, COUNT(*) AS n_docs,
        |           AVG(n_chars * 1.0) AS point_mean
        |         FROM documents GROUP BY 1),
        |fin AS (SELECT lang, n_reps, s1 / 1e3 / n_reps AS bm,
        |  sqrt(GREATEST((s2 - CAST(s1 AS DOUBLE) * s1 / n_reps)
        |    / (n_reps - 1), 0.0)) / 1e3 AS se
        |  FROM ag)
        |SELECT base.lang, n_docs, n_reps,
        |  ROUND(point_mean, 4) AS point_mean,
        |  ROUND(bm, 4) AS boot_mean,
        |  ROUND(se, 4) AS boot_se,
        |  ROUND(bm - 1.96 * se, 4) AS ci_lo,
        |  ROUND(bm + 1.96 * se, 4) AS ci_hi
        |FROM fin JOIN base USING (lang) ORDER BY lang""".stripMargin,

    // identical bounded contingency grid with 1e9-snapped cell terms
    "q_cramers_v" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS p, o_orderstatus AS st,
        |    CAST(COUNT(*) AS BIGINT) AS o
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT p, SUM(o) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT st, SUM(o) AS ct FROM cells GROUP BY 1),
        |tot AS (SELECT SUM(o) AS n, COUNT(DISTINCT p) AS r,
        |          COUNT(DISTINCT st) AS c FROM cells),
        |t AS (
        |  SELECT n, r, c,
        |    CAST(ROUND((o - e) * (o - e) / e * 1e9) AS BIGINT) AS t_u
        |  FROM (
        |    SELECT cells.o, n, r, c,
        |      CAST(rt AS DOUBLE) * ct / n AS e
        |    FROM cells JOIN rt USING (p) JOIN ct USING (st)
        |    CROSS JOIN tot))
        |SELECT CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS r,
        |  CAST(c AS BIGINT) AS c,
        |  ROUND(SUM(t_u) / 1e9, 4) AS chi2,
        |  ROUND(sqrt(SUM(t_u) / 1e9 / (n * LEAST(r - 1, c - 1))), 6)
        |    AS cramers_v
        |FROM t GROUP BY n, r, c""".stripMargin,

    // identical QI grid and 1e9-snapped entropy over <=5 cells
    "q_ldiversity" ->
      """WITH qi AS (
        |  SELECT c_custkey, n_name, c_mktsegment
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |j AS (
        |  SELECT n_name, c_mktsegment, o_orderpriority
        |  FROM orders JOIN qi ON o_custkey = c_custkey),
        |sv AS (
        |  SELECT n_name, c_mktsegment, o_orderpriority,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM j GROUP BY 1, 2, 3),
        |grp AS (
        |  SELECT n_name, c_mktsegment, SUM(cnt) AS n_orders,
        |    CAST(COUNT(*) AS BIGINT) AS l_distinct
        |  FROM sv GROUP BY 1, 2),
        |h AS (
        |  SELECT sv.n_name, sv.c_mktsegment, n_orders, l_distinct,
        |    CAST(ROUND((cnt * 1.0 / n_orders)
        |      * -ln(cnt * 1.0 / n_orders) * 1e9) AS BIGINT) AS h_u
        |  FROM sv JOIN grp USING (n_name, c_mktsegment))
        |SELECT n_name, c_mktsegment, CAST(n_orders AS BIGINT) AS n_orders,
        |  l_distinct, ROUND(exp(SUM(h_u) / 1e9), 4) AS entropy_l,
        |  l_distinct >= 3 AS meets_l3
        |FROM h GROUP BY n_name, c_mktsegment, n_orders, l_distinct
        |ORDER BY n_name, c_mktsegment""".stripMargin
  )
}
