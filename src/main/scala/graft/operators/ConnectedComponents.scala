package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected pair graph — the dedup
  * RESOLUTION step: near-dup pair generation (SetSimJoin) says which
  * documents overlap; this says which CLUSTER each document belongs to
  * (cluster id = smallest member id), so a pipeline can keep one
  * canonical document per cluster.
  *
  * Algorithm: min-label propagation — label(v) <- min(label(v),
  * min over neighbors' labels) until fixpoint, which takes at most
  * graph-diameter rounds. Near-dup graphs are dense and low-diameter
  * (clusters are near-cliques), so 1-3 rounds converge; `maxIter`
  * bounds pathological chains.
  *
  * `jump = true` adds pointer jumping: after each propagation step,
  * label(v) <- label(label(v)) (one extra equi-join per round on the
  * label key). Label chains then halve every round, so long-diameter
  * graphs (paths, meshes) converge in O(log n) rounds instead of
  * O(diameter) — the remedy when the loud maxIter failure fires.
  * Off by default: on low-diameter near-dup graphs the extra join per
  * round costs more than the rounds it saves.
  *
  * Iterative graph algorithms are inherently multi-job: each round
  * materializes the label table and runs a convergence count — that is
  * the algorithm, not an accidental eager action (contrast the
  * plan-build-time count removed from q_tfidf_top). Every round is a
  * pair of equi-joins on the label key — shuffle-partitioned, no
  * driver-side data.
  */
object ConnectedComponents {

  /** @param nodes (doc_id) — every vertex, including isolated ones.
    * @param edges (a_id, b_id) — undirected pairs. An edge with an
    *              endpoint outside `nodes` is DROPPED (semi-joined away
    *              before the rounds, as the pre-r14 shape ignored it):
    *              a foreign vertex neither gets a label nor relays one
    *              between two nodes.
    * @return (doc_id, label) with label = min doc_id of the component
    */
  def components(s: SparkSession, nodes: DataFrame, edges: DataFrame,
                 maxIter: Int = 30, jump: Boolean = false): DataFrame = {
    // materialize the edge input FIRST: the symmetrization union reads
    // it twice and every round re-reads it, and edge generation (a
    // set-similarity join) is far more expensive than the label joins.
    // localCheckpoint, NOT persist: persist would pin the edge
    // pipeline to its non-adaptive plan (cached subtrees bypass AQE —
    // measured 1.5x slower here); the eager checkpoint runs it once
    // under AQE and truncates the lineage to the materialized rows.
    // The node semi-joins ride the same job. The two checkpoints also
    // OBSERVE what the set-up needs (edge count, node count, initial
    // label sum), so sizing and the fixpoint seed run no job of their
    // own.
    val eObs = org.apache.spark.sql.Observation("cc_edges")
    val e = edges
      .join(nodes.select(col("doc_id").as("a_id")), Seq("a_id"), "left_semi")
      .join(nodes.select(col("doc_id").as("b_id")), Seq("b_id"), "left_semi")
      .observe(eObs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val nObs = org.apache.spark.sql.Observation("cc_nodes")
    var labels = nodes.select(col("doc_id"), col("doc_id").as("label"))
      .observe(nObs, count(lit(1)).as("n"), decimalSum.as("s"))
      .localCheckpoint(true)
    // r14 opt (guide §2.4, §3.1, measured ~0.7 s/round → ~0.35 s/round
    // on the LSH graph): three structural changes to the round loop.
    //
    // 1. SELF-LOOPS instead of the prop join: sym carries one static
    //    (v, v) edge per node, so min(dlabel) over a vertex's join
    //    matches IS least(old label, min neighbor label) — the old
    //    left-join + least() leg (an extra sort-merge join + two
    //    exchanges per round) vanishes, and isolated vertices keep
    //    their label through their self-loop.
    // 2. sym is hash-partitioned by the probe key ONCE, outside the
    //    loop — every round's join reuses the partitioning and only
    //    the label-sized side moves. Partition count tracks edge
    //    volume (the labelProp rule): near-empty tasks are overhead.
    // 3. SHUFFLE_HASH on the label side: labels come from a checkpoint
    //    each round, so their LogicalRDD carries no size stats and the
    //    planner would otherwise sort-merge — re-sorting the edge list
    //    EVERY round (measured ~1.2 s/round). The hash build is
    //    node-grain / partition count, the same bound the label state
    //    already has.
    val nEdges = observed[Long](eObs, "n")(e.count())
    val nNodes = observed[Long](nObs, "n")(labels.count())
    val parts = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong,
      (nEdges * 2 + nNodes) / 65536 + 1)).toInt
    val sym = e.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(e.select(col("b_id").as("src"), col("a_id").as("dst")))
      .union(labels.select(col("doc_id").as("src"), col("doc_id").as("dst")))
      .repartition(parts, col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Convergence via the label-sum fixpoint: every vertex's label is
    // non-increasing round over round (new = min(old ∪ neighbor
    // labels)), so Σ label strictly decreases until the fixpoint and
    // is constant exactly there. Summed as DECIMAL(38,0) — exact for
    // any id domain, no overflow at any realistic node count — so the
    // check is bit-reliable like the old per-row chg count it
    // replaces, but needs no `old` column carried through the round.
    // The per-round sum rides the CHECKPOINT job via observe(), like
    // the set-up values above, so each round runs ONE job instead of
    // checkpoint + a separate convergence agg; labelSum is only the
    // fallback.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(decimalSum).head().getDecimal(0)
    var prevSum = observed[java.math.BigDecimal](nObs, "s")(labelSum(labels))
    var changed = true
    var i = 0
    while (changed && i < maxIter) {
      val nbr = sym
        .join(labels.select(col("doc_id").as("dst"), col("label").as("dlabel"))
          .hint("SHUFFLE_HASH"), "dst")
        .groupBy(col("src").as("doc_id")).agg(min("dlabel").as("label"))
      // materialize each round via EAGER localCheckpoint, which also
      // TRUNCATES the lineage: the round's table feeds the next round
      // (and the jump self-join), so without truncation the logical
      // plan DOUBLES per round and analysis goes exponential in the
      // round count — invisible on 2-3-round near-dup graphs, a hang
      // on a 15-round chain.
      val obs = org.apache.spark.sql.Observation(s"cc_round_$i")
      val next = (if (!jump) nbr else {
        // pointer jumping: label(v) <- label(label(v)). Labels are
        // vertex ids with label(v) <= v, so the lookup side is the
        // same propagated table; chains halve every round. Checkpoint
        // it — it feeds both join sides.
        val p = nbr.localCheckpoint(true)
        val look = p.select(col("doc_id").as("j_id"), col("label").as("j_lab"))
        p.join(look, p("label") === look("j_id"), "left")
          .select(p("doc_id"),
            least(p("label"), coalesce(col("j_lab"), p("label"))).as("label"))
      }).observe(obs, decimalSum.as("s"))
        .localCheckpoint(true)
      val s2 = observed[java.math.BigDecimal](obs, "s")(labelSum(next))
      changed = s2.compareTo(prevSum) != 0
      prevSum = s2
      // previous rounds' checkpoint blocks become unreachable here and
      // are released by the ContextCleaner; the tables are label-sized
      labels = next
      i += 1
    }
    sym.unpersist()
    // exiting via the iteration cap with changes still flowing means
    // the labels are NOT component ids — silently returning them would
    // hand wrong clusters downstream (and diverge from any exact
    // transitive-closure oracle). Convergence is already computed every
    // round, so fail loudly instead.
    if (changed)
      throw new IllegalStateException(
        s"ConnectedComponents did not converge in $maxIter rounds " +
        s"(label sum still decreasing); raise maxIter — the graph has a longer chain than expected")
    labels
  }

  private def decimalSum =
    coalesce(sum(col("label").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))

  /** An `observe()` metric of an eager checkpoint that has run
    * (CollectMetrics fires when the checkpoint materializes the plan —
    * verified in this Spark build); `fallback` computes it with a job
    * of its own if the observation does not surface. */
  private def observed[T](obs: org.apache.spark.sql.Observation, name: String)
                         (fallback: => T): T =
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Await.result(Future(obs.get), Duration(60, "s"))(name).asInstanceOf[T]
    } catch { case _: Throwable => fallback }
}
