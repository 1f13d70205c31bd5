package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.EdgeGraph

/** `dedup`: the LLM-data near-duplicate chain, cold, once per run, on
  * half the sf0.1 documents (all of them on seed 0) plus the run's
  * injected near-duplicates: MinHash signatures → LSH bands → pair
  * tables → components and label propagation → the consumer keys. Its
  * outputs are checked against an independent union-find and label
  * propagation over the emitted pairs. */
object Dedup {
  /** The pair tables the chain's consumers read: bigram τ0.3 (components
    * and the three reports on them), token τ0.8 (label propagation and
    * q_near_dup_rate). */
  val pairSpecs: Seq[(String, Double)] = Seq(("bigram", 0.3), ("token", 0.8))
  val consumers: Seq[String] = Seq("q_dedup_lsh_resolve", "q_dedup_components",
    "q_dup_cluster_sizes", "q_dedup_keep_best", "q_near_dup_rate")

  def run(ctx: Ctx): Unit = {
    val spark = Setup.repeated(ctx, Nil)
    val d = ctx.args("dedup_data")
    val steps = mutable.ArrayBuffer[Map[String, Any]]()
    def step(name: String)(body: => Any): Unit = ctx.trace.span(name) { sp =>
      val t0 = System.nanoTime()
      ctx.attempt(name)(body) match {
        case Some(extra: Map[_, _]) => steps += Map[String, Any]("step" -> name,
          "secs" -> (System.nanoTime() - t0) / 1e9, "span" -> sp.id) ++
          extra.asInstanceOf[Map[String, Any]]
        case Some(_) => steps += Map("step" -> name,
          "secs" -> (System.nanoTime() - t0) / 1e9, "span" -> sp.id)
        case None => steps += Map("step" -> name, "failed" -> true, "span" -> sp.id)
      }
    }
    val t0 = System.nanoTime()
    ctx.trace.span("dedup") { _ =>
      step("sigs") { EdgeGraph.minhashSigs(spark, d, 32) }
      step("bands") { EdgeGraph.lshBands(spark, d) }
      pairSpecs.foreach { case (kind, tau) =>
        step(s"pairs-$kind-$tau") { EdgeGraph.pairs(spark, d, kind, tau) }
      }
      step("components") { EdgeGraph.components(spark, d, "bigram", 0.3) }
      step("labelprop") { EdgeGraph.labelProp(spark, d, "token", 0.8) }
      consumers.foreach { key =>
        step(key) {
          val (n, dig) = Digest.of(graft.SparkEntry.queries(key)(spark, d))
          Map("rows" -> n, "digest" -> dig)
        }
      }
    }
    ctx.result("dedup_s") = (System.nanoTime() - t0) / 1e9
    ctx.result("steps") = steps.toSeq
    ctx.trace.span("check") { _ => check(ctx, spark, d) }
    ctx.stop(spark)
  }

  private def edges(df: DataFrame): Array[(Long, Long)] =
    df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))

  /** Components must equal a union-find over the bigram-τ0.3 pairs and
    * label propagation must equal the same four rounds computed here. */
  private def check(ctx: Ctx, spark: SparkSession, d: String): Unit = {
    ctx.attempt("check") {
      val counts = pairSpecs.map { case (k, t) =>
        s"$k-$t" -> EdgeGraph.pairs(spark, d, k, t).count() }.toMap
      ctx.result("pairs_rows") = counts
      val nodes = graft.tables.Tables.documents(spark, d).select("doc_id")
        .collect().map(_.getLong(0))
      val cc = EdgeGraph.components(spark, d, "bigram", 0.3).select("doc_id", "label")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(nodes, edges(EdgeGraph.pairs(spark, d, "bigram", 0.3)))
      if (cc != want) {
        val diff = want.count { case (k, v) => !cc.get(k).contains(v) }
        ctx.wrongOutput("components", s"$diff of ${want.size} labels differ from union-find")
      }
      val lp = EdgeGraph.labelProp(spark, d, "token", 0.8).select("node", "lbl")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val lpWant = labelProp(edges(EdgeGraph.pairs(spark, d, "token", 0.8)), 4)
      if (lp != lpWant) {
        val diff = lpWant.count { case (k, v) => !lp.get(k).contains(v) }
        ctx.wrongOutput("labelprop", s"$diff of ${lpWant.size} labels differ from " +
          "the reference propagation")
      }
      ctx.result("components") = Map("nodes" -> cc.size,
        "clusters" -> cc.values.toSet.size, "lp_nodes" -> lp.size)
    }
  }

  /** Component label = smallest node id in the component. */
  def unionFind(nodes: Array[Long], es: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    nodes.foreach(n => parent(n) = n)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    nodes.map(n => n -> find(n)).toMap
  }

  /** Synchronous label propagation over the symmetrized edge list:
    * each round a node takes the label most frequent among its
    * in-neighbours, ties to the smallest label. */
  def labelProp(es: Array[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val ids = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val at = ids.zipWithIndex.toMap
    val into = Array.fill(ids.length)(mutable.ArrayBuilder.make[Int])
    es.foreach { case (a, b) => into(at(b)) += at(a); into(at(a)) += at(b) }
    val in = into.map(_.result())
    var lbl = ids.clone()
    val counts = mutable.HashMap[Long, Int]()
    for (_ <- 1 to rounds) {
      val next = new Array[Long](ids.length)
      var v = 0
      while (v < ids.length) {
        counts.clear()
        in(v).foreach(u => counts(lbl(u)) = counts.getOrElse(lbl(u), 0) + 1)
        next(v) = counts.minBy { case (l, n) => (-n, l) }._1
        v += 1
      }
      lbl = next
    }
    ids.indices.map(i => ids(i) -> lbl(i)).toMap
  }
}
