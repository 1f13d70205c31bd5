package graftbench

import org.apache.spark.sql.SparkSession

import graft.operators.EdgeGraph

/** The engine's session memos that have public builders, grouped by
  * the tag the benchmark builds them under. Building a tag is the same
  * derivation the first consumer key would otherwise pay. */
object Memos {
  val tags: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "edge-pairs" -> ((s, d) =>
      for ((kind, tau) <- Seq(("bigram", 0.3), ("token", 0.7), ("token", 0.8),
          ("token", 0.95)))
        EdgeGraph.pairs(s, d, kind, tau)),
    "edge-labels" -> ((s, d) => {
      EdgeGraph.components(s, d, "bigram", 0.3)
      EdgeGraph.labelProp(s, d, "token", 0.8)
    }),
    "lsh-index" -> ((s, d) => {
      EdgeGraph.minhashSigs(s, d, 32)
      EdgeGraph.lshBands(s, d)
      EdgeGraph.tokenHashes(s, d)
    }),
    "term-index" -> ((s, d) => {
      EdgeGraph.termFreq(s, d)
      EdgeGraph.bigramScores(s, d)
    }),
    "media" -> ((s, d) => {
      graft.multimodal.Multimodal.pngCorpus(s, d)
      graft.multimodal.Multimodal.imagePhash(s, d)
    }))

  def build(s: SparkSession, d: String, tag: String): Unit =
    tags.find(_._1 == tag).getOrElse(throw new IllegalArgumentException(s"no memo tag $tag"))
      ._2(s, d)
}
