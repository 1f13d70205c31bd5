package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** B.1 scans + B.2 projection/filter/predicates (SURVEY.md §2).
  *
  * Scale notes: every query here is a single scan with filters and
  * projections that Catalyst pushes into the parquet reader — no
  * shuffle except for the final total-order sort, which is bounded by
  * the (small) post-filter/limit result. Determinism: every query ends
  * in a total order over a unique key set (SURVEY.md §7.6).
  */
object Relational {

  /** nullif(x, v) for doubles without relying on SQL literal typing. */
  private def nullifD(c: org.apache.spark.sql.Column, v: Double) =
    when(c === v, lit(null).cast("double")).otherwise(c)

  /** Parquet aggregate pushdown on, with parquet routed through the
    * DSv2 reader (where the pushdown lives; parquet defaults to V1). */
  private def aggPushdownConfs(s: SparkSession): Seq[(String, String)] = {
    val v1Key = "spark.sql.sources.useV1SourceList"
    Seq("spark.sql.parquet.aggregatePushdown" -> "true",
      v1Key -> s.conf.get(v1Key).split(",").filterNot(_.trim == "parquet").mkString(","))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_project" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        // (l_orderkey, l_linenumber) is NOT unique in this data —
        // l_extendedprice completes the unique key (verified sf0.01).
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(100)),

    // CSV + JSON + ORC source/sink surface as an ORACLED operator:
    // lineitem rides parquet → csv → json → orc → aggregate, and the
    // result must equal the oracle's aggregate over the original table
    // — i.e. every round-trip is lossless for longs/doubles/strings
    // (Spark writes shortest-round-trip doubles). Timestamps are
    // excluded by design: text timestamp formats are a config surface,
    // not a data one.
    "q_io_roundtrip" -> ((s, d) => {
      // fixed scratch dir (r5, ADVICE): every write below is
      // mode("overwrite"), so reuse is idempotent and repeated
      // bench/verify runs stop leaking temp directories
      val tmp = graft.util.Scratch.dirFor("io_roundtrip", d)
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
      li.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
      val fromCsv = s.read.option("header", "true").schema(li.schema).csv(s"$tmp/csv")
      fromCsv.write.mode("overwrite").json(s"$tmp/json")
      s.read.schema(li.schema).json(s"$tmp/json")
        .write.mode("overwrite").orc(s"$tmp/orc")
      s.read.orc(s"$tmp/orc")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 4).as("sum_qty"),
          // 2dp, not 4: at sf0.1 the sum is ~1e10 over 600k addends and
          // double accumulation ORDER drifts ~1e-4 between engines —
          // more than 4dp rounding can absorb. The exact total of 2dp
          // prices is itself 2dp (never a half-boundary), so 2dp
          // rounding is drift-proof.
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // Schema EVOLUTION across parquet generations (r6): gen1 files
    // carry two columns, gen2 adds o_orderpriority; the mergeSchema
    // read unions the footers into one schema and fills the missing
    // column with nulls for gen1 rows — the lakehouse add-a-column
    // path, exercised end-to-end (write old, write new, read merged,
    // aggregate over the evolved column). Money summed in exact
    // cents. At 100 TB mergeSchema's footer-union cost is the reason
    // tables keep a catalog schema; the READ semantics pinned here
    // are identical.
    "q_io_schema_evolution" -> ((s, d) => {
      // NOT "schema_evo" — q_schema_evolution reads that whole dir
      // with partition discovery, and foreign gen1/gen2 subdirs would
      // break its v=1/v=2 layout inference.
      val tmp = graft.util.Scratch.dirFor("schema_evo_gens", d)
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$tmp/gen1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$tmp/gen2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/gen1", s"$tmp/gen2")
        .groupBy(coalesce(col("o_orderpriority"), lit("pre-evolution")).as("prio"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("prio")
    }),

    // Aggregate pushdown into the parquet scan (r6): with
    // spark.sql.parquet.aggregatePushdown on, a bare MIN/MAX/COUNT
    // (no filter, no residual grouping) is answered from ROW-GROUP
    // FOOTER STATISTICS — zero data pages decoded. At 100 TB this is
    // the difference between a full-corpus scan and a
    // metadata-only pass over file footers (plan-pinned:
    // PushedAggregation at the scan). Conf set per query, restored.
    "q_scan_agg_pushdown" -> ((s, d) => {
      // conf is consulted at PLAN time, so the physical plan is
      // forced inside the scope (the Dataset caches it; later
      // execution reuses the pushed plan)
      graft.util.ScopedConf(s, aggPushdownConfs(s): _*) {
        // numeric columns only: parquet aggregate pushdown rejects
        // timestamp min/max (logical-type stats ambiguity), and ONE
        // unsupported aggregate abandons the whole pushdown
        val df = Tables.lineitem(s, d)
          .agg(count(lit(1)).as("n_rows"),
            min("l_orderkey").as("min_key"),
            max("l_orderkey").as("max_key"),
            min("l_quantity").as("min_qty"),
            max("l_quantity").as("max_qty"))
        df.queryExecution.executedPlan // plan under the pushdown confs
        df
      }
    }),

    // GROUP BY pushdown over a partitioned layout (r6): when the
    // grouping key IS the partition column, min/max/count per group
    // are answered from the file listing plus row-group footers —
    // still zero data pages. The complement of q_scan_agg_pushdown:
    // that one proves the global profile, this one the per-partition
    // profile (PushedAggregation + PushedGroupBy pinned). This is how
    // a 100 TB table reports per-partition health without a scan.
    "q_scan_groupby_pushdown" -> ((s, d) => {
      val tmp = graft.util.Scratch.dirFor("agg_pd_part", d)
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .write.mode("overwrite").partitionBy("o_orderpriority")
        .parquet(s"$tmp/po")
      graft.util.ScopedConf(s, aggPushdownConfs(s): _*) {
        val df = s.read.parquet(s"$tmp/po")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            min("o_orderkey").as("min_key"),
            max("o_orderkey").as("max_key"))
          .orderBy("o_orderpriority")
        df.queryExecution.executedPlan // plan under the pushdown confs
        df
      }
    }),

    // Malformed-record ingest (r6): the PERMISSIVE-mode contract a
    // production ingest relies on — a row whose typed parse fails
    // keeps its parseable fields, nulls the failed one, and surfaces
    // the raw line in columnNameOfCorruptRecord; the job NEVER dies
    // on dirty input (vs fail-fast). Corruption is staged
    // deterministically (orderkey % 7 == 3 carries a non-numeric
    // price), so the oracle reproduces good/bad counts and the
    // clean-row exact-cents sum from the ORIGINAL table with a CASE.
    // At 100 TB this is the quarantine pattern: corrupt raws split to
    // a dead-letter column instead of failing a 6-hour job.
    "q_io_badrecords" -> ((s, d) => {
      val tmp = graft.util.Scratch.dirFor("io_badrecords", d)
      Tables.orders(s, d)
        .select(concat_ws(",",
          col("o_orderkey"),
          when(col("o_orderkey") % 7 === 3, lit("N/A"))
            .otherwise(col("o_totalprice").cast("string"))).as("line"))
        .write.mode("overwrite").text(s"$tmp/csv")
      s.read
        .schema("o_orderkey LONG, o_totalprice DOUBLE, _bad STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(s"$tmp/csv")
        .agg(
          count(when(col("_bad").isNull, 1)).as("n_good"),
          count(when(col("_bad").isNotNull, 1)).as("n_bad"),
          sum(when(col("_bad").isNull,
            round(col("o_totalprice") * 100).cast("long"))).as("good_cents"))
    }),

    // Partitioned-write + partition-pruning surface: orders land as
    // hive-style o_orderpriority=… parquet directories; the read-back
    // filter must prune to ONE partition directory (PartitionFilters
    // at the scan — pinned in PlanAssertionsSpec). At 100 TB this is
    // the layout knob: a pruned scan reads 1/5th of the files before
    // any row is decoded.
    "q_io_partitioned" -> ((s, d) => {
      val tmp = graft.util.Scratch.dirFor("io_partitioned", d)
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").partitionBy("o_orderpriority")
        .parquet(s"$tmp/po")
      s.read.parquet(s"$tmp/po")
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          countDistinct("o_custkey").as("n_cust"),
          round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    // ANSI-mode error-safe function surface: try_divide (null at zero
    // divisor), try_cast (null on malformed), try_element_at (null out
    // of bounds) — the graceful-degradation API a pipeline needs when
    // ANSI strictness (on by default in Spark 4) would otherwise fail
    // a whole job on one bad row. min/max of the division are single
    // operations on identical doubles (no accumulation), snapped via
    // round(x·1e4)/1e4; counts are exact.
    // Null-hygiene surface (DataFrameNaFunctions): the corpus has no
    // NULL cells (FIXTURES.md), so nulls are synthesized
    // deterministically (custkey mod), then repaired with na.fill —
    // the imputation pass every ingest runs before analytics. The
    // fill is per-row scalar work; the report is one partial agg.
    "q_na_clean" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          when(col("c_custkey") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("c_acctbal")).as("bal"),
          when(col("c_custkey") % 11 === 0, lit(null).cast("string"))
            .otherwise(col("c_mktsegment")).as("seg"))
        .na.fill(Map("bal" -> 0.0, "seg" -> "UNKNOWN"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"),
          sum(when(col("c_custkey") % 7 === 0, 1L).otherwise(0L))
            .as("n_bal_filled"),
          round(sum("bal"), 2).as("sum_bal"))
        .orderBy("seg")),

    "q_try_funcs" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          expr("try_divide(l_extendedprice, l_quantity - 25)").as("dv"),
          expr("try_cast(CASE WHEN l_returnflag = 'A' THEN 'x' " +
            "ELSE CAST(l_linenumber AS STRING) END AS INT)").as("cv"),
          expr("try_element_at(sequence(1, CAST(l_quantity AS INT)), 30)").as("ev"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          count(col("dv")).as("n_div"),
          (round(min("dv") * lit(10000)) / lit(10000)).as("min_div"),
          (round(max("dv") * lit(10000)) / lit(10000)).as("max_div"),
          count(col("cv")).as("n_cast"),
          count(col("ev")).as("n_elem"))
        .orderBy("l_returnflag")),

    // XML source/sink (native in Spark 4 — the merged spark-xml):
    // same lossless-round-trip contract as q_io_roundtrip, over the
    // remaining text format. Read-back uses the explicit schema (XML
    // carries no types); equality with the oracle's aggregate over the
    // ORIGINAL table proves write+parse lossless for longs/doubles/
    // strings (Java Double.toString is round-trip exact).
    "q_io_xml" -> ((s, d) => {
      val tmp = graft.util.Scratch.dirFor("io_xml", d)
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      o.write.mode("overwrite").format("xml")
        .option("rootTag", "orders").option("rowTag", "o")
        .save(s"$tmp/xml")
      s.read.format("xml").option("rowTag", "o").schema(o.schema)
        .load(s"$tmp/xml")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          countDistinct("o_custkey").as("n_cust"),
          round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    // First-class DSv2 WRITE surface (r5): lineitem rides through the
    // custom staged-commit sink (sinks/StagedCommitSink — executor-side
    // staged files, per-task commit messages, atomic generation-pointer
    // swap on driver commit, abort leaves the prior generation live)
    // and is read back from the committed generation; the aggregate
    // must equal the oracle's aggregate over the ORIGINAL table, which
    // proves the sink's write+commit+read path lossless. Abort/
    // overwrite/quoting semantics are pinned in DSv2SinkSpec.
    "q_dsv2_sink_roundtrip" -> ((s, d) => {
      // pid-keyed (r12 ADVICE): the sink's optimistic commit makes a
      // concurrent harness JVM on the SAME table abort loudly by
      // design, so each process writes its own table; dead-pid
      // siblings are swept inside pidDirFor
      val path = graft.util.Scratch.pidDirFor("staged_sink", d)
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
      li.write.format("graft.sinks.StagedCommitSink")
        .option("path", path).mode("overwrite").save()
      graft.sinks.StagedCommitSink.read(s, path, li.schema)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // TIME TRAVEL through the sink's multi-generation commit log
    // (r11 VERDICT task 6): two committed writes land two retained
    // generations (retain=3), and the query reads generation N−1
    // (the l_linenumber=1 subset) WHILE generation N (the full
    // table) is live — equality with the oracle's subset aggregate
    // proves the retained snapshot is byte-intact and the travel
    // index points at the right commit. Retention/GC/horizon
    // semantics are pinned in DSv2SinkSpec. Idempotent across
    // re-runs: readAt(1) is always THIS run's first write because
    // the log is commit-ordered.
    "q_dsv2_time_travel" -> ((s, d) => {
      // pid-keyed for the same reason as q_dsv2_sink_roundtrip, plus
      // readAt(1) must be THIS process' first write, not a racer's
      val path = graft.util.Scratch.pidDirFor("staged_tt", d)
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag")
      li.filter(col("l_linenumber") === 1)
        .write.format("graft.sinks.StagedCommitSink")
        .option("path", path).option("retain", "3")
        .mode("overwrite").save()
      li.write.format("graft.sinks.StagedCommitSink")
        .option("path", path).option("retain", "3")
        .mode("overwrite").save()
      graft.sinks.StagedCommitSink.readAt(s, path, li.schema, stepsBack = 1)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // Bucketed co-located join: both fact tables land as 8-bucket
    // tables hashed AND sorted on the join key, so the per-order
    // aggregate and the orders⋈lineitem join both run WITHOUT a
    // shuffle — the plan contains zero hash-partition exchanges
    // (pinned in PlanAssertionsSpec). This is THE layout knob for a
    // repeated fact⋈fact join at 100 TB: the shuffle is paid once at
    // write time and amortized over every subsequent join/aggregate on
    // that key. Bucket count is the parallelism knob — 8 matches this
    // testdata; a cluster sizes it to executor-count × a small factor.
    // Tables are session-catalog parquet (DROP + overwrite → re-runs
    // are idempotent).
    "q_join_bucketed" -> ((s, d) => {
      // the in-memory catalog is per-session but the warehouse DIR
      // persists on disk — drop both, or a fresh session hits
      // LOCATION_ALREADY_EXISTS on the stale directory. The delete
      // must target the filesystem that OWNS the warehouse URI (r5,
      // ADVICE): FileSystem.get(conf) resolves fs.defaultFS, which is
      // a silent no-op when the warehouse lives on another scheme.
      // Table names carry the JVM pid (r10 VERDICT task 7): two JVMs
      // sharing ./spark-warehouse (the driver sweep + a concurrent
      // sbt test run) otherwise race on the same directory — one
      // deletes the other's files mid-read.
      val pid = ProcessHandle.current().pid()
      val ordersT = s"graft_bkt_orders_p$pid"
      val lineitemT = s"graft_bkt_lineitem_p$pid"
      // sweep STALE pid-suffixed tables/dirs from dead JVMs first
      // (r11 ADVICE): each run only ever dropped its own pid's names,
      // so repeated runs accumulated orphans in the shared warehouse.
      // A pid is swept only when no live process owns it — a
      // concurrent run's tables survive (the r10 race fix stands).
      // ASSUMPTION (r12 ADVICE, documented not hidden): liveness via
      // ProcessHandle sees only THIS host's pid namespace, so the
      // sweep is sound only while the warehouse dir is single-host /
      // single-namespace — true here (local ./spark-warehouse). A
      // shared-warehouse deployment would gate on a host+start-time
      // heartbeat file instead; a recycled pid merely keeps a dead
      // JVM's tables alive (benign leak), never deletes a live one.
      val whRoot = new org.apache.hadoop.fs.Path(
        java.net.URI.create(s.conf.get("spark.sql.warehouse.dir")))
      val whFs = whRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
      val stale = "graft_bkt_[a-z]+_p(\\d+)".r
      if (whFs.exists(whRoot)) whFs.listStatus(whRoot).foreach { st =>
        st.getPath.getName match {
          case stale(p) if p.toLong != pid &&
              !ProcessHandle.of(p.toLong).map[Boolean](_.isAlive).orElse(false) =>
            s.sql(s"DROP TABLE IF EXISTS ${st.getPath.getName}")
            whFs.delete(st.getPath, true)
          // pre-r10 layout had no pid suffix — always an orphan now
          case n @ ("graft_bkt_orders" | "graft_bkt_lineitem") =>
            s.sql(s"DROP TABLE IF EXISTS $n")
            whFs.delete(st.getPath, true)
          case _ => ()
        }
      }
      Seq(ordersT, lineitemT).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          java.net.URI.create(s.conf.get("spark.sql.warehouse.dir") + "/" + t))
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(loc, true)
      }
      // r13 opt (guide §2.6): the two bucketed writes are independent
      // jobs — submit them from two driver threads so the second
      // write's tasks back-fill executors left idle by the first's
      // straggler tail (each write is only 8 bucket tasks wide)
      graft.util.Par.both(
        Tables.orders(s, d).select("o_orderkey", "o_totalprice")
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .mode("overwrite").saveAsTable(ordersT),
        Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .mode("overwrite").saveAsTable(lineitemT))
      val agg = s.table(lineitemT)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_lines"), sum("l_quantity").as("sum_qty"))
      s.table(ordersT)
        .join(agg, col("o_orderkey") === col("l_orderkey"))
        .select("o_orderkey", "o_totalprice", "n_lines", "sum_qty")
        .orderBy("o_orderkey")
        .limit(200)
    }),

    // Z-order layout audit: interleave (customer-key, order-day) into
    // the Morton key (expr/ZOrder.scala), lay the table out in zkey
    // order, and report per-file-bucket min/max of BOTH dimensions —
    // the clustering-quality stats a reader's pruning would use. The
    // production write path is `repartitionByRange($"zkey", ...)` +
    // parquet (range exchange, fully parallel); the ntile here is the
    // deterministic stand-in for "file number" so the bucket stats are
    // oracle-checkable. Tight per-bucket ranges on both dims = a
    // predicate on EITHER column skips most files at 100 TB.
    "q_zorder_layout" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      // BOTH dimensions are masked into ZOrderKey's 16-bit domain (r5,
      // ADVICE): yk was previously unguarded, so dates outside
      // [1995-01-01, +65535d] would silently alias through the
      // interleave's low-16-bit mask — the precondition is now
      // explicit in the query (and mirrored in the oracle) instead of
      // inherited from the data generator.
      val z = Tables.orders(s, d)
        .select(col("o_orderkey"),
          pmod(col("o_custkey"), lit(65536L)).as("xk"),
          pmod(datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long"), lit(65536L)).as("yk"))
        .withColumn("zkey", expr("zorder2(xk, yk)"))
      // file-number assignment = closed-form NTILE over the range-
      // partitioned global rank (operators/PrefixSum) — the production
      // write path is repartitionByRange on zkey; this stand-in keeps
      // the same semantics with no single-task corpus sort
      val ranked = graft.operators.PrefixSum.rank(z,
        Seq(col("zkey"), col("o_orderkey")), "rn")
      val tot = z.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(tot))
        .withColumn("bucket",
          expr(graft.operators.PrefixSum.ntileExpr("rn", "n", 16)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("xk").as("x_min"), max("xk").as("x_max"),
          min("yk").as("y_min"), max("yk").as("y_max"))
        .orderBy("bucket")
    }),

    // Hilbert-curve layout — the q_zorder_layout twin on the strictly
    // more local space-filling curve (unit curve steps always move one
    // cell in ONE dimension; Morton jumps diagonally at power-of-two
    // boundaries — the reason Delta's OPTIMIZE default moved to
    // Hilbert). Same masked 16-bit dimensions, same ntile(16) file
    // buckets, same per-bucket min/max envelope — so the two keys'
    // outputs directly compare how tight each curve keeps the parquet
    // footer stats. `hilbert2` is the codegen'd expr/Hilbert.scala
    // expression; the oracle unrolls the same 16 rotate/flip levels as
    // chained CTEs (locality + bijectivity pinned in R7OpsSpec).
    "q_hilbert_layout" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val z = Tables.orders(s, d)
        .select(col("o_orderkey"),
          pmod(col("o_custkey"), lit(65536L)).as("xk"),
          pmod(datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long"), lit(65536L)).as("yk"))
        .withColumn("hkey", expr("hilbert2(xk, yk)"))
      // same range-partitioned NTILE stand-in as q_zorder_layout —
      // no single-task corpus sort (production = repartitionByRange)
      val ranked = graft.operators.PrefixSum.rank(z,
        Seq(col("hkey"), col("o_orderkey")), "rn")
      val tot = z.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(tot))
        .withColumn("bucket",
          expr(graft.operators.PrefixSum.ntileExpr("rn", "n", 16)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("xk").as("x_min"), max("xk").as("x_max"),
          min("yk").as("y_min"), max("yk").as("y_max"))
        .orderBy("bucket")
    }),

    "q_scan_pruned" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1998-06-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")),

    // Schema evolution on read (r5): two parquet generations of the
    // same table — v=1 written before a column existed, v=2 with the
    // new o_orderpriority column — read back in ONE scan with
    // mergeSchema; rows from the old generation surface the new column
    // as null and the aggregate buckets them explicitly. This is the
    // additive-migration path a long-lived 100 TB table actually
    // takes: no rewrite of old files, the merged footer schema is
    // resolved once at planning. Even/odd orderkey split makes the
    // generations deterministic, so the oracle reproduces them with a
    // CASE over the original table.
    "q_schema_evolution" -> ((s, d) => {
      val tmp = graft.util.Scratch.dirFor("schema_evo", d)
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$tmp/v=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$tmp/v=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy(coalesce(col("o_orderpriority"), lit("<pre-migration>")).as("prio"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("prio")
    }),

    "q_filter_range" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.06) &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"))),

    "q_proj_compute" -> ((s, d) => {
      // charge is a 6-decimal-digit product (2dp x 2dp x 2dp), so
      // rounding to 4dp lands exactly on .5 boundaries where Spark
      // (exact decimal expansion) and DuckDB (scaled multiply)
      // disagree — round(x*1e4)/1e4 makes both engines round the same
      // IEEE double (SURVEY.md §7.6.3).
      val revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val charge = revenue * (lit(1.0) + col("l_tax"))
      Tables.lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (round(revenue * 1e4, 0) / 1e4).as("revenue"),
          (round(charge * 1e4, 0) / 1e4).as("charge"))
        .orderBy("l_orderkey", "l_linenumber", "revenue", "charge")
        .limit(100)
    }),

    "q_filter_in_like" -> ((s, d) =>
      Tables.part(s, d)
        .filter(
          (col("p_type").like("PROMO%") ||
           col("p_brand").isin("Brand#1", "Brand#13", "Brand#25")) &&
          col("p_size").between(5, 40))
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        .orderBy("p_partkey")),

    "q_filter_null_safe" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(
          col("l_returnflag"),
          nullifD(col("l_discount"), 0.0).as("disc_n"),
          nullifD(col("l_tax"), 0.0).as("tax_n"))
      li.groupBy("l_returnflag")
        .agg(
          count(when(col("disc_n").isNull, 1)).as("n_disc_null"),
          count(when(col("disc_n") <=> col("tax_n"), 1)).as("n_nseq"),
          count(when(col("disc_n") === col("tax_n"), 1)).as("n_eq"))
        .orderBy("l_returnflag")
    }),

    // Stats-based scan pruning (r5): the file-footer min/max prune,
    // composed explicitly. A tiny per-(day, event_type) stats table
    // (the parquet footer stand-in) is aggregated once; partitions
    // whose max(value) misses the predicate are dropped BEFORE the
    // fact re-scan (broadcast semi-side: 23 of 150 partitions survive
    // threshold 300 at test SF) — the mechanics behind Delta/Iceberg
    // data skipping. Result ≡ the plain filter (pruned partitions
    // contribute zero qualifying rows — that's what makes stats
    // pruning sound); the oracle IS the plain filter. Qualifying sums
    // in exact integer micro-units (per-row round, then integer sum).
    "q_stats_prune" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("event_type"), col("value"))
      val live = ev.groupBy("day", "event_type")
        .agg(max("value").as("mx"))
        .filter(col("mx") >= 300.0)
        .select("day", "event_type")
      ev.join(broadcast(live), Seq("day", "event_type"))
        .filter(col("value") >= 300.0)
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1e6, 0).cast("long")).as("sum_micro"))
        .orderBy("day", "event_type")
    }),

    // Small-file compaction planning (r5): the OPTIMIZE/bin-packing
    // pass every long-lived table needs — logical "files" (the
    // (source, lang) cells of documents, sized by their char sum) are
    // packed into ~64 KiB bins per source by running-sum assignment
    // (largest-first, deterministic lang tie-break). Per-source window
    // → embarrassingly parallel across tables at warehouse scale; the
    // file list is metadata (thousands of rows per table), never data.
    "q_compaction_plan" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("bytes").desc, col("lang"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      Tables.documents(s, d)
        .groupBy("source", "lang")
        .agg(sum("n_chars").as("bytes"), count(lit(1)).as("n_docs"))
        .withColumn("cum", sum("bytes").over(w))
        .withColumn("bin", expr("CAST((cum - 1) DIV 65536 AS INT)"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_files"), sum("bytes").as("bin_bytes"),
          sum("n_docs").as("bin_docs"))
        .orderBy("source", "bin")
    }),

    // Deequ-style data-quality validation suite: constraint rules
    // over the fact table as ONE declarative report — row-local
    // domain rules fold into a single conditional-agg scan (stack-
    // unpivoted), relational rules (FK orphans via anti-join,
    // duplicate PK via count>1, ship-before-order via the FK join)
    // each cost one join/agg. All counts exact integers. A 100 TB
    // ingest runs exactly this shape as its admission gate; every
    // rule is partial-agg or anti-join — no collect, no windows.
    "q_dq_checks" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val local = li.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L)).as("neg_price"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("bad_discount"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("bad_quantity"))
        .select(expr("stack(3, 'neg_price', neg_price, " +
          "'bad_discount', bad_discount, 'bad_quantity', bad_quantity) " +
          "AS (rule, n_violations)"), col("n_rows").as("n_checked"))
      val orphans = li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("fk_orphan").as("rule"), col("n_violations"),
          lit(null).cast("long").as("n_checked"))
      val dupPk = li.groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n_violations"))
        .select(lit("dup_pk").as("rule"), col("n_violations"),
          lit(null).cast("long").as("n_checked"))
      val shipOrder = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .agg(sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L))
          .as("n_violations"))
        .select(lit("ship_before_order").as("rule"), col("n_violations"),
          lit(null).cast("long").as("n_checked"))
      local.unionByName(orphans).unionByName(dupPk).unionByName(shipOrder)
        .orderBy("rule")
    }),

    // DYNAMIC partition pruning (vs q_io_partitioned's static prune):
    // the fact table is partitioned by order year on disk and the
    // selective predicate arrives only through a JOIN to a derived
    // dim, so no static filter exists at plan time — Spark injects a
    // runtime subquery on the partition column (plan-pinned as
    // `dynamicpruning` in PlanAssertionsSpec). At 100 TB this is the
    // difference between scanning 7 year-partitions and 2: whole
    // directories are skipped based on the dim filter's result.
    "q_dpp_prune" -> ((s, d) => {
      val tmp = graft.util.Scratch.dirFor("dpp_prune", d)
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .select("o_orderkey", "o_totalprice", "o_year")
        .write.mode("overwrite").partitionBy("o_year").parquet(s"$tmp/fact")
      val dim = Tables.orders(s, d)
        .select(year(col("o_orderdate")).as("y")).distinct()
        .withColumn("era", when(col("y") <= 1996, "early").otherwise("late"))
      val fact = s.read.parquet(s"$tmp/fact")
      fact.join(broadcast(dim.filter(col("era") === "early")),
          fact("o_year") === dim("y"))
        .groupBy("o_year")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_year")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_dq_checks" ->
      """WITH local AS (
        |  SELECT COUNT(*) AS n_rows,
        |    COUNT(*) FILTER (WHERE l_extendedprice <= 0) AS neg_price,
        |    COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS bad_discount,
        |    COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS bad_quantity
        |  FROM lineitem)
        |SELECT rule, n_violations, n_checked FROM (
        |  SELECT 'neg_price' AS rule, neg_price AS n_violations, n_rows AS n_checked FROM local
        |  UNION ALL
        |  SELECT 'bad_discount', bad_discount, n_rows FROM local
        |  UNION ALL
        |  SELECT 'bad_quantity', bad_quantity, n_rows FROM local
        |  UNION ALL
        |  SELECT 'fk_orphan',
        |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |    CAST(NULL AS BIGINT)
        |  UNION ALL
        |  SELECT 'dup_pk',
        |    (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) FROM
        |      (SELECT COUNT(*) AS c FROM lineitem
        |       GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)),
        |    CAST(NULL AS BIGINT)
        |  UNION ALL
        |  SELECT 'ship_before_order',
        |    (SELECT COUNT(*) FILTER (WHERE l.l_shipdate < o.o_orderdate)
        |     FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |    CAST(NULL AS BIGINT))
        |ORDER BY rule""".stripMargin,
    // the null-filled pre-evolution rows are exactly the even keys
    "q_io_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
        |            ELSE 'pre-evolution' END AS prio,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_scan_agg_pushdown" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
        |FROM lineitem""".stripMargin,

    "q_scan_groupby_pushdown" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // corrupt rows are exactly the orderkey % 7 == 3 ones
    "q_io_badrecords" ->
      """SELECT
        |  COUNT(CASE WHEN o_orderkey % 7 <> 3 THEN 1 END) AS n_good,
        |  COUNT(CASE WHEN o_orderkey % 7 = 3 THEN 1 END) AS n_bad,
        |  CAST(SUM(CASE WHEN o_orderkey % 7 <> 3
        |           THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END)
        |       AS BIGINT) AS good_cents
        |FROM orders""".stripMargin,

    "q_io_partitioned" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        |  ROUND(SUM(o_totalprice), 2) AS sum_price
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_na_clean" ->
      """SELECT
        |  COALESCE(CASE WHEN c_custkey % 11 = 0 THEN NULL
        |    ELSE c_mktsegment END, 'UNKNOWN') AS seg,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bal_filled,
        |  ROUND(SUM(COALESCE(CASE WHEN c_custkey % 7 = 0 THEN NULL
        |    ELSE c_acctbal END, 0.0)), 2) AS sum_bal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_try_funcs" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  COUNT(dv) AS n_div,
        |  ROUND(MIN(dv) * 10000) / 10000 AS min_div,
        |  ROUND(MAX(dv) * 10000) / 10000 AS max_div,
        |  COUNT(cv) AS n_cast,
        |  COUNT(ev) AS n_elem
        |FROM (
        |  SELECT l_returnflag,
        |    CASE WHEN l_quantity = 25 THEN NULL
        |         ELSE l_extendedprice / (l_quantity - 25) END AS dv,
        |    TRY_CAST(CASE WHEN l_returnflag = 'A' THEN 'x'
        |             ELSE CAST(l_linenumber AS VARCHAR) END AS INTEGER) AS cv,
        |    list_extract(generate_series(1, CAST(l_quantity AS BIGINT)), 30) AS ev
        |  FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the oracle aggregates the ORIGINAL table: equality proves the
    // staged-commit sink's write+commit+read path lossless
    "q_dsv2_sink_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the oracle aggregates the FIRST write's subset: equality proves
    // readAt(1) returned generation N-1 intact while N is live
    "q_dsv2_time_travel" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_price
        |FROM lineitem WHERE l_linenumber = 1
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the oracle aggregates the ORIGINAL table: equality proves the
    // csv+json round-trips were lossless
    "q_io_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_extendedprice LIMIT 100""".stripMargin,

    // aggregates the ORIGINAL table: equality proves the XML
    // round-trip was lossless
    "q_io_xml" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        |  ROUND(SUM(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the oracle sees the original tables — equality proves the
    // bucketed write/read round-trip is lossless
    "q_join_bucketed" ->
      """SELECT o.o_orderkey, o.o_totalprice, l.n_lines, l.sum_qty
        |FROM orders o
        |JOIN (
        |  SELECT l_orderkey, COUNT(*) AS n_lines, SUM(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey) l
        |  ON o.o_orderkey = l.l_orderkey
        |ORDER BY o.o_orderkey LIMIT 200""".stripMargin,

    // identical bit-interleave arithmetic via list_transform; ntile
    // over the same (zkey, o_orderkey) total order assigns identical
    // buckets in both engines
    "q_zorder_layout" ->
      """WITH z AS (
        |  SELECT o_orderkey,
        |    o_custkey % 65536 AS xk,
        |    ((date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |      % 65536) + 65536) % 65536 AS yk
        |  FROM orders),
        |zz AS (
        |  SELECT *, CAST(list_sum(list_transform(generate_series(0, 15), i ->
        |      ((xk >> i) & 1) * (1::BIGINT << (2*i)) +
        |      ((yk >> i) & 1) * (1::BIGINT << (2*i + 1)))) AS BIGINT) AS zkey
        |  FROM z),
        |b AS (
        |  SELECT *, ntile(16) OVER (ORDER BY zkey, o_orderkey) AS bucket FROM zz)
        |SELECT CAST(bucket AS INT) AS bucket, COUNT(*) AS n,
        |  MIN(xk) AS x_min, MAX(xk) AS x_max,
        |  MIN(yk) AS y_min, MAX(yk) AS y_max
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_scan_pruned" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-06-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // the same 16 rotate/flip levels as expr/Hilbert.scala's xy2d,
    // unrolled as chained CTEs (level-indexed columns so no alias
    // shadows an input; the q_mmr_select generated-CTE posture)
    "q_hilbert_layout" -> {
      val chain = (0 until 16).map { k =>
        val b = 15 - k
        val s2 = (1L << b) * (1L << b)
        s"""h${k + 1} AS (
           |  SELECT o_orderkey, xk, yk,
           |    d$k + $s2 * xor(3 * ((x$k >> $b) & 1), (y$k >> $b) & 1)
           |      AS d${k + 1},
           |    CASE WHEN ((y$k >> $b) & 1) = 0 THEN
           |      (CASE WHEN ((x$k >> $b) & 1) = 1 THEN 65535 - y$k ELSE y$k END)
           |    ELSE x$k END AS x${k + 1},
           |    CASE WHEN ((y$k >> $b) & 1) = 0 THEN
           |      (CASE WHEN ((x$k >> $b) & 1) = 1 THEN 65535 - x$k ELSE x$k END)
           |    ELSE y$k END AS y${k + 1}
           |  FROM h$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH h0 AS (
         |  SELECT o_orderkey,
         |    o_custkey % 65536 AS xk,
         |    ((date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
         |      % 65536) + 65536) % 65536 AS yk,
         |    o_custkey % 65536 AS x0,
         |    ((date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
         |      % 65536) + 65536) % 65536 AS y0,
         |    CAST(0 AS BIGINT) AS d0
         |  FROM orders),
         |$chain,
         |b AS (
         |  SELECT o_orderkey, xk, yk,
         |    ntile(16) OVER (ORDER BY d16, o_orderkey) AS bucket
         |  FROM h16)
         |SELECT CAST(bucket AS INT) AS bucket, COUNT(*) AS n,
         |  MIN(xk) AS x_min, MAX(xk) AS x_max,
         |  MIN(yk) AS y_min, MAX(yk) AS y_max
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    },

    // the oracle reproduces the two generations with a CASE over the
    // ORIGINAL table — equality proves the merged-schema read saw
    // every row with the right (possibly null) migrated column
    "q_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-migration>'
        |            ELSE o_orderpriority END AS prio,
        |  COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY prio ORDER BY prio""".stripMargin,

    "q_filter_range" ->
      """SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.06
        |  AND l_quantity < 24""".stripMargin,

    "q_proj_compute" ->
      """SELECT l_orderkey, l_linenumber,
        |  ROUND(l_extendedprice * (1.0 - l_discount) * 10000.0) / 10000.0 AS revenue,
        |  ROUND(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 10000.0) / 10000.0 AS charge
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue, charge LIMIT 100""".stripMargin,

    "q_filter_in_like" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part
        |WHERE (p_type LIKE 'PROMO%' OR p_brand IN ('Brand#1', 'Brand#13', 'Brand#25'))
        |  AND p_size BETWEEN 5 AND 40
        |ORDER BY p_partkey""".stripMargin,

    "q_filter_null_safe" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |         nullif(l_discount, 0.0) AS disc_n,
        |         nullif(l_tax, 0.0) AS tax_n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  COUNT(CASE WHEN disc_n IS NULL THEN 1 END) AS n_disc_null,
        |  COUNT(CASE WHEN disc_n IS NOT DISTINCT FROM tax_n THEN 1 END) AS n_nseq,
        |  COUNT(CASE WHEN disc_n = tax_n THEN 1 END) AS n_eq
        |FROM t GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the plain filter — pruned partitions contribute nothing, so the
    // stats-prune composition must be invisible in the result
    "q_stats_prune" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) AS BIGINT)
        |    AS sum_micro
        |FROM events WHERE value >= 300.0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_compaction_plan" ->
      """WITH f AS (
        |  SELECT source, lang, CAST(SUM(n_chars) AS BIGINT) AS bytes,
        |    COUNT(*) AS n_docs
        |  FROM documents GROUP BY 1, 2),
        |b AS (
        |  SELECT source, lang, bytes, n_docs,
        |    SUM(bytes) OVER (PARTITION BY source
        |      ORDER BY bytes DESC, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM f)
        |SELECT source, CAST((cum - 1) // 65536 AS INT) AS bin,
        |  COUNT(*) AS n_files, CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
        |  CAST(SUM(n_docs) AS BIGINT) AS bin_docs
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_dpp_prune" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, COUNT(*) AS n,
        |  ROUND(SUM(o_totalprice), 2) AS sum_price
        |FROM orders WHERE year(o_orderdate) <= 1996
        |GROUP BY 1 ORDER BY o_year""".stripMargin
  )
}
