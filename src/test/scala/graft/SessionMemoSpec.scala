package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every shared derivation sits behind util.SessionMemo. The memo
  * must be pure amortization: the materialized frame byte-equals a
  * fresh derivation, and repeated calls serve the SAME frame instead
  * of re-deriving. These pins keep a future edit from turning the
  * memo into a semantics change. */
class SessionMemoSpec extends AnyFunSuite with SparkFixture {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("memoized frame equals a fresh derivation (dailyMean grid)") {
    val ev = tables.Tables.events(spark, sf)
    val wo = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("d")
    // the un-memoized expressions, written out fresh from the events
    val mean = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(floor(col("value") * 1e3).cast("long")).as("s_m"),
        count(lit(1)).as("cnt"))
      .withColumn("y", expr("s_m div cnt"))
      .withColumn("i", row_number().over(wo).cast("long"))
    val market = ev
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(floor(col("value") * 1e3).cast("long")).as("s_m"),
        count(lit(1)).as("cnt"))
      .withColumn("y", expr("s_m div cnt"))
      .withColumn("i", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("d")).cast("long"))
    val at = struct(col("ts"), col("event_id"))
    val ohlc = ev
      .select(col("event_type"), to_date(col("ts")).as("d"),
        round(col("value") * 100).cast("long").as("v_c"),
        col("ts"), col("event_id"))
      .groupBy("event_type", "d")
      .agg(max("v_c").as("h"), min("v_c").as("l"),
        max_by(col("v_c"), at).as("c"), count(lit(1)).as("vol"),
        min_by(col("v_c"), at).as("o"))
      .withColumn("i", row_number().over(wo).cast("long"))
    for ((memo, fresh) <- Seq(
        queries.DailyGrid.mean(spark, sf) -> mean,
        queries.DailyGrid.market(spark, sf) -> market,
        queries.DailyGrid.ohlc(spark, sf) -> ohlc)) {
      assert(memo.schema.map(f => (f.name, f.dataType)) ===
        fresh.schema.map(f => (f.name, f.dataType)))
      assert(rows(memo) === rows(fresh))
    }
  }

  test("second call serves the same materialized frame (no re-derivation)") {
    val a = queries.DailyGrid.mean(spark, sf)
    val b = queries.DailyGrid.mean(spark, sf)
    assert(a eq b, "SessionMemo must return the cached instance")
    val p = queries.Analytics.recsTop3(spark, sf)
    val q = queries.Analytics.recsTop3(spark, sf)
    assert(p eq q)
  }

  test("memoized frame is materialized (plan is a scan, not the derivation)") {
    // the memo eagerly localCheckpoints: consumers scan an RDD, they do
    // not re-run the events scan + aggregation per call
    val memo = queries.DailyGrid.mean(spark, sf)
    val plan = memo.queryExecution.optimizedPlan
    assert(plan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
      s"expected a checkpoint scan, got:\n$plan")
  }

  // r13 ADVICE: these two pins were tautological when they compared the
  // memo to a key that is DEFINED as the memo plus orderBy — compare to
  // an inline fresh re-statement of the original derivation instead, so
  // a future edit to the memoized build cannot silently change what the
  // consumers compute.
  test("recsTop3 memo equals a fresh inline derivation") {
    val memo = queries.Analytics.recsTop3(spark, sf)
    val cb = queries.Analytics.custBrand(spark, sf)
    val sims = queries.Analytics.brandSims(spark, sf)
    val cand = cb.join(broadcast(sims), "b")
      .groupBy(col("cust"), col("b2").as("rec"))
      .agg(round(sum(col("c") * col("cos")), 6).as("score"))
    val owned = cb.select(col("cust"), col("b").as("rec"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("cust").orderBy(col("score").desc, col("rec"))
    val fresh = cand.join(owned, Seq("cust", "rec"), "left_anti")
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 3)
      .select(col("cust"), col("rk"), col("rec"), col("score"))
    assert(rows(memo) === rows(fresh))
  }

  test("sortedNeighborhood memo equals a fresh inline derivation") {
    graft.expr.Registry.ensure(spark)
    val memo = queries.Analytics.sortedNeighborhoodPairs(spark, sf)
    val ranked = operators.PrefixSum.rank(
        tables.Tables.part(spark, sf).select("p_partkey", "p_name"),
        Seq(col("p_name"), col("p_partkey")), "rn")
      .localCheckpoint(eager = true)
    def succ(i: Int) = ranked.select((col("rn") - i).as("rn"),
      col("p_partkey").as(s"b${i}_id"), col("p_name").as(s"b${i}_name"))
    val fresh = ranked
      .join(succ(1), Seq("rn"), "left")
      .join(succ(2), Seq("rn"), "left")
      .select(col("p_partkey").as("a_id"), col("p_name"),
        explode(array(
          struct(col("b1_id").as("b_id"), col("b1_name").as("b_name")),
          struct(col("b2_id").as("b_id"), col("b2_name").as("b_name"))))
          .as("c"))
      .filter(col("c.b_id").isNotNull)
      .withColumn("jw",
        round(org.apache.spark.sql.functions.expr("jaro_winkler(p_name, c.b_name)"), 6))
      .filter(col("jw") >= 0.92)
      .select(col("a_id"), col("c.b_id").as("b_id"), col("jw"))
    assert(rows(memo) === rows(fresh))
  }

  test("memos that had their own (context, sfDir) maps stay apart in the shared key space") {
    graft.expr.Registry.ensure(spark)
    val memos = Seq(
      operators.EdgeGraph.tokenHashes(spark, sf) -> Seq("doc_id", "lang", "hs"),
      operators.EdgeGraph.lshBands(spark, sf) -> Seq("doc_id", "lang", "bsig"),
      operators.EdgeGraph.termFreq(spark, sf) ->
        Seq("doc_id", "lang", "dlen", "term", "tf_raw", "tf"),
      operators.EdgeGraph.bigramScores(spark, sf) ->
        Seq("doc_id", "lang", "n_bigrams", "avg_lp"),
      queries.Analytics.custBrand(spark, sf) -> Seq("cust", "b", "c"),
      queries.Analytics.brandSims(spark, sf) -> Seq("b", "b2", "cos"),
      queries.TpchPartSupp.partsupp(spark, sf) ->
        Seq("ps_partkey", "ps_suppkey", "ps_availqty", "ps_supplycost_cents"),
      queries.LlmOps.rankedTop10(spark, sf) ->
        Seq("a_id", "a_lab", "b_lab", "cos", "b_id", "rn"),
      queries.StatsR12.layeredCorpus(spark, sf) -> Seq("vec_id", "embedding", "lvl"))
    memos.foreach { case (df, cols) => assert(df.columns.toSeq === cols) }
    val frames = memos.map(_._1)
    for (i <- frames.indices; j <- frames.indices if i < j)
      assert(!(frames(i) eq frames(j)), s"memo $i and memo $j share a frame")
  }

  test("an outer memo build stores the inner memo it builds") {
    // `fresh` is the same data under a key no other test builds, so
    // each outer memo below is built before its inner one
    val fresh = sf + "/"
    val builds = Seq[(() => Unit, () => AnyRef)](
      (() => operators.EdgeGraph.components(spark, sf, "bigram", 0.6),
        () => operators.EdgeGraph.pairs(spark, sf, "bigram", 0.6)),
      (() => queries.Analytics.brandSims(spark, fresh),
        () => queries.Analytics.custBrand(spark, fresh)),
      (() => queries.StatsR12.layerGraph(spark, fresh, 1),
        () => queries.StatsR12.layeredCorpus(spark, fresh)))
    builds.foreach { case (outer, inner) =>
      outer()
      var first: AnyRef = null
      assert(jobsDuring { first = inner() } === 0,
        "the inner memo was rebuilt: the outer build did not store it")
      assert(inner() eq first)
    }
  }
}
