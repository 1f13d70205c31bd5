package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates one entry per implemented operator from
  * SURVEY.md §2 Part B; `oracleSql` carries the DuckDB-equivalent SQL
  * for every hash-checked key (OMIT rows are unit-tested instead).
  */
object SparkEntry {

  /** Flagship query (TPC-H-Q1 shape) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggs.queries("q_agg_q1")(spark, "/root/testdata/sf0.001")

  private type Query = (SparkSession, String) => DataFrame

  /** One row per module: its query map and its oracle map. */
  private def modules: Seq[(Map[String, Query], Map[String, String])] = Seq(
    (Relational.queries, Relational.oracle),
    (Joins.queries, Joins.oracle),
    (TpchExtra.queries, TpchExtra.oracle),
    (TpchPartSupp.queries, TpchPartSupp.oracle),
    (Subqueries.queries, Subqueries.oracle),
    (Aggs.queries, Aggs.oracle),
    (Reshape.queries, Reshape.oracle),
    (Windows.queries, Windows.oracle),
    (SetOps.queries, SetOps.oracle),
    (Scalars.queries, Scalars.oracle),
    (EventsQ.queries, EventsQ.oracle),
    (EthOps.queries, EthOps.oracle),
    (LlmOps.queries, LlmOps.oracle),
    (TextSim.queries, TextSim.oracle),
    (MultimodalQ.queries, MultimodalQ.oracle),
    (Sampling.queries, Sampling.oracle),
    (Analytics.queries, Analytics.oracle),
    (Training.queries, Training.oracle),
    (StatsR8.queries, StatsR8.oracle),
    (StatsR8b.queries, StatsR8b.oracle),
    (StatsR8c.queries, StatsR8c.oracle),
    (StatsR8d.queries, StatsR8d.oracle),
    (StatsR8e.queries, StatsR8e.oracle),
    (StatsR8f.queries, StatsR8f.oracle),
    (StatsR9.queries, StatsR9.oracle),
    (StatsR9b.queries, StatsR9b.oracle),
    (StatsR9c.queries, StatsR9c.oracle),
    (StatsR9d.queries, StatsR9d.oracle),
    (StatsR9e.queries, StatsR9e.oracle),
    (StatsR9f.queries, StatsR9f.oracle),
    (StatsR9g.queries, StatsR9g.oracle),
    (StatsR9h.queries, StatsR9h.oracle),
    (StatsR9i.queries, StatsR9i.oracle),
    (StatsR9j.queries, StatsR9j.oracle),
    (StatsR9k.queries, StatsR9k.oracle),
    (StatsR9l.queries, StatsR9l.oracle),
    (StatsR9m.queries, StatsR9m.oracle),
    (StatsR9n.queries, StatsR9n.oracle),
    (StatsR9o.queries, StatsR9o.oracle),
    (StatsR9p.queries, StatsR9p.oracle),
    (StatsR9q.queries, StatsR9q.oracle),
    (StatsR9r.queries, StatsR9r.oracle),
    (StatsR9s.queries, StatsR9s.oracle),
    (StatsR9t.queries, StatsR9t.oracle),
    (StatsR9u.queries, StatsR9u.oracle),
    (StatsR9v.queries, StatsR9v.oracle),
    (StatsR9w.queries, StatsR9w.oracle),
    (StatsR9x.queries, StatsR9x.oracle),
    (StatsR9y.queries, StatsR9y.oracle),
    (StatsR9z.queries, StatsR9z.oracle),
    (StatsR9za.queries, StatsR9za.oracle),
    (StatsR9zb.queries, StatsR9zb.oracle),
    (StatsR9zc.queries, StatsR9zc.oracle),
    (StatsR9zd.queries, StatsR9zd.oracle),
    (StatsR9ze.queries, StatsR9ze.oracle),
    (StatsR9zf.queries, StatsR9zf.oracle),
    (StatsR9zg.queries, StatsR9zg.oracle),
    (StatsR9zh.queries, StatsR9zh.oracle),
    (StatsR9zi.queries, StatsR9zi.oracle),
    (StatsR9zj.queries, StatsR9zj.oracle),
    (StatsR9zk.queries, StatsR9zk.oracle),
    (StatsR9zl.queries, StatsR9zl.oracle),
    (StatsR9zm.queries, StatsR9zm.oracle),
    (StatsR9zn.queries, StatsR9zn.oracle),
    (StatsR9zo.queries, StatsR9zo.oracle),
    (StatsR9zp.queries, StatsR9zp.oracle),
    (StatsR9zq.queries, StatsR9zq.oracle),
    (StatsR9zr.queries, StatsR9zr.oracle),
    (StatsR9zs.queries, StatsR9zs.oracle),
    (StatsR9zt.queries, StatsR9zt.oracle),
    (StatsR9zu.queries, StatsR9zu.oracle),
    (StatsR9zv.queries, StatsR9zv.oracle),
    (StatsR9zw.queries, StatsR9zw.oracle),
    (StatsR9zx.queries, StatsR9zx.oracle),
    (StatsR9zy.queries, StatsR9zy.oracle),
    (StatsR9zz.queries, StatsR9zz.oracle),
    (StatsR9zza.queries, StatsR9zza.oracle),
    (StatsR9zzb.queries, StatsR9zzb.oracle),
    (StatsR9zzc.queries, StatsR9zzc.oracle),
    (StatsR10.queries, StatsR10.oracle),
    (StatsR10b.queries, StatsR10b.oracle),
    (StatsR10c.queries, StatsR10c.oracle),
    (StatsR10d.queries, StatsR10d.oracle),
    (StatsR10e.queries, StatsR10e.oracle),
    (StatsR10f.queries, StatsR10f.oracle),
    (StatsR10g.queries, StatsR10g.oracle),
    (StatsR10h.queries, StatsR10h.oracle),
    (StatsR10i.queries, StatsR10i.oracle),
    (StatsR10j.queries, StatsR10j.oracle),
    (StatsR10k.queries, StatsR10k.oracle),
    (StatsR10l.queries, StatsR10l.oracle),
    (StatsR10m.queries, StatsR10m.oracle),
    (StatsR10n.queries, StatsR10n.oracle),
    (StatsR10o.queries, StatsR10o.oracle),
    (StatsR10p.queries, StatsR10p.oracle),
    (StatsR10q.queries, StatsR10q.oracle),
    (StatsR10r.queries, StatsR10r.oracle),
    (StatsR10s.queries, StatsR10s.oracle),
    (StatsR10t.queries, StatsR10t.oracle),
    (StatsR10u.queries, StatsR10u.oracle),
    (StatsR10v.queries, StatsR10v.oracle),
    (StatsR10w.queries, StatsR10w.oracle),
    (StatsR10x.queries, StatsR10x.oracle),
    (StatsR10y.queries, StatsR10y.oracle),
    (StatsR11.queries, StatsR11.oracle),
    (StatsR12.queries, StatsR12.oracle),
    (StatsR13.queries, StatsR13.oracle),
    (graft.streaming.StreamOps.queries, graft.streaming.StreamOps.oracle),
    (graft.streaming.StreamState.queries, graft.streaming.StreamState.oracle),
    (graft.streaming.StreamCorpus.queries, graft.streaming.StreamCorpus.oracle)
  )

  // a Seq + reduce, NOT one ++ chain: 100+ infix terms in a single
  // expression overflow scalac's typer stack (r11)
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _)

  def oracleSql: Map[String, String] = modules.map(_._2).reduce(_ ++ _)
}
