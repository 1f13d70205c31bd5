package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.Registry
import graft.operators.SetSimJoin
import graft.tables.Tables

/** Invariants of the hashed set-similarity representation
  * (TokenHashes / BigramHashes / SortedIntersectCount) and equality of
  * the two SetSimJoin strategies against a brute-force HOF oracle.
  */
class ShingleSpec extends AnyFunSuite with SparkFixture {

  private def docs = { Registry.ensure(spark); Tables.documents(spark, sf) }

  test("token_hashes is collision-free on this corpus (|hashes| == |distinct tokens|)") {
    val bad = docs.select(
        size(expr("token_hashes(split(text, ' '))")).as("nh"),
        size(array_distinct(split(col("text"), " "))).as("nt"))
      .filter(col("nh") =!= col("nt")).count()
    assert(bad === 0L)
  }

  test("bigram_hashes is collision-free on this corpus (|hashes| == |distinct bigrams|)") {
    val bad = docs
      .select(split(col("text"), " ").as("l"),
        size(expr("bigram_hashes(split(text, ' '))")).as("nh"))
      .filter(size(col("l")) >= 2)
      .select(col("nh"), size(array_distinct(expr(
        "transform(sequence(1, size(l) - 1), i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))")))
        .as("ns"))
      .filter(col("nh") =!= col("ns")).count()
    assert(bad === 0L)
  }

  test("bigram_hashes of a short array is empty, of a constant array is a single hash") {
    val r = spark.sql(
      "SELECT size(bigram_hashes(array('a'))) AS s1, " +
      "size(bigram_hashes(array('x','x','x','x'))) AS s2, " +
      "size(bigram_hashes(cast(array() as array<string>))) AS s0").head()
    assert(r.getInt(0) === 0) // no bigram from 1 token
    assert(r.getInt(1) === 1) // 'x x' repeated dedupes to one
    assert(r.getInt(2) === 0)
  }

  test("sorted_intersect_count equals size(array_intersect) on hashed token arrays") {
    val a = docs.select(col("doc_id").as("a_id"),
      expr("token_hashes(split(text, ' '))").as("ha"))
    val b = docs.select(col("doc_id").as("b_id"),
      expr("token_hashes(split(text, ' '))").as("hb"))
    val bad = a.join(b, col("a_id") < col("b_id"))
      .filter(expr("sorted_intersect_count(ha, hb)") =!=
        size(array_intersect(col("ha"), col("hb"))))
      .count()
    assert(bad === 0L)
  }

  test("sorted_dot equals the exploded-join weighted sum (r14 tfidf shape)") {
    // per-doc term weights exactly as q_tfidf_rerank derives them,
    // dot computed both ways for every doc pair with any shared term
    val w = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("w_m"))
    val packed = w.groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("term"), col("w_m")))).as("tw"))
    val viaExpr = packed.select(col("doc_id").as("a_id"), col("tw").as("a_tw"))
      .join(packed.select(col("doc_id").as("b_id"), col("tw").as("b_tw")),
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        expr("sorted_dot(a_tw, b_tw)").as("dot"))
      .filter(col("dot") =!= 0L)
    val viaJoin = w.select(col("doc_id").as("a_id"), col("term"), col("w_m").as("wa"))
      .join(w.select(col("doc_id").as("b_id"), col("term"), col("w_m").as("wb")),
        "term")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(sum(col("wa") * col("wb")).as("dot"))
      .filter(col("dot") =!= 0L)
    assert(viaExpr.exceptAll(viaJoin).count() === 0L)
    assert(viaJoin.exceptAll(viaExpr).count() === 0L)
  }

  test("sorted_dot null/empty semantics") {
    val r = spark.sql(
      "SELECT sorted_dot(array(named_struct('k', 'a', 'v', 2L), named_struct('k', 'b', 'v', 3L)), " +
      "                  array(named_struct('k', 'b', 'v', 5L), named_struct('k', 'c', 'v', 7L))) AS d, " +
      "       sorted_dot(cast(array() as array<struct<k: string, v: bigint>>), " +
      "                  array(named_struct('k', 'a', 'v', 1L))) AS e, " +
      "       sorted_dot(cast(null as array<struct<k: string, v: bigint>>), " +
      "                  array(named_struct('k', 'a', 'v', 1L))) AS n").head()
    assert(r.getLong(0) === 15L) // only 'b' matches: 3*5
    assert(r.getLong(1) === 0L)
    assert(r.isNullAt(2))
  }

  test("prefix-strategy pairs == brute-force token Jaccard at tau=0.8") {
    val got = SetSimJoin.pairs(spark,
      docs.select(col("doc_id"), col("lang"),
        expr("token_hashes(split(text, ' '))").as("hs")), tau = 0.8)
    val ts = docs.select(col("doc_id"), col("lang"),
      array_distinct(split(col("text"), " ")).as("ts"))
    val brute = ts.select(col("doc_id").as("a_id"), col("lang"), col("ts").as("ta"))
      .join(ts.select(col("doc_id").as("b_id"), col("lang").as("lang_b"), col("ts").as("tb")),
        col("lang") === col("lang_b") && col("a_id") < col("b_id"))
      .withColumn("i", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("j", col("i") / (size(col("ta")) + size(col("tb")) - col("i")))
      .filter(col("j") >= 0.8)
      .select(col("a_id"), col("b_id"), round(col("j"), 4).as("jaccard"))
    assert(got.exceptAll(brute).count() === 0L)
    assert(brute.exceptAll(got).count() === 0L)
  }

  test("set-sim joins handle degenerate inputs: empty corpus, single doc, exact duplicates") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
      .select(col("doc_id"), col("lang"), expr("token_hashes(split(text, ' '))").as("hs"))
    assert(SetSimJoin.pairs(spark, empty, 0.8).count() === 0)
    assert(SetSimJoin.pairsByCount(spark, empty, 0.3).count() === 0)

    val single = Seq((1L, "en", "a b c")).toDF("doc_id", "lang", "text")
      .select(col("doc_id"), col("lang"), expr("token_hashes(split(text, ' '))").as("hs"))
    assert(SetSimJoin.pairs(spark, single, 0.8).count() === 0)

    // three byte-identical docs: all 3 pairs at J = 1.0 on both paths
    val dup = Seq((1L, "en", "x y z w"), (2L, "en", "x y z w"), (3L, "en", "x y z w"))
      .toDF("doc_id", "lang", "text")
    val dupTok = dup.select(col("doc_id"), col("lang"),
      expr("token_hashes(split(text, ' '))").as("hs"))
    val p1 = SetSimJoin.pairs(spark, dupTok, 0.8).collect()
    assert(p1.length === 3 && p1.forall(_.getDouble(2) === 1.0))
    val dupSh = dup.select(col("doc_id"), col("lang"),
      expr("bigram_hashes(split(text, ' '))").as("hs"))
    val p2 = SetSimJoin.pairsByCount(spark, dupSh, 0.3).collect()
    assert(p2.length === 3 && p2.forall(_.getDouble(2) === 1.0))
  }

  test("bipartite pairsBetween == self-join pairs restricted to cross-side pairs") {
    val hs = docs.select(col("doc_id"), col("lang"),
      expr("token_hashes(split(text, ' '))").as("hs"))
    val left = hs.filter(col("doc_id") % 3 === 0)
    val right = hs.filter(col("doc_id") % 3 =!= 0)
    val got = SetSimJoin.pairsBetween(spark, left, right, 0.8)
      .select(least(col("l_id"), col("r_id")).as("a_id"),
        greatest(col("l_id"), col("r_id")).as("b_id"), col("jaccard"))
    val want = SetSimJoin.pairs(spark, hs, 0.8)
      .filter((col("a_id") % 3 === 0) =!= (col("b_id") % 3 === 0))
      .select("a_id", "b_id", "jaccard")
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
    assert(got.count() > 0L) // the corpus does have cross-side near-dups
  }

  test("packed-prefix 40-bit collisions do not inflate the verified intersection") {
    import spark.implicits._
    // hB and hC are distinct 64-bit elements with equal low-40 bits and
    // equal df (1) — they pack to the SAME prefix key. Verification
    // over the packed arrays would count them as shared (J = 1.0);
    // verification over the full 64-bit arrays sees J = 1/3 < 0.8.
    val x = 0x123456789AL
    val hA = x               // bridge element, df = 2
    val hB = (1L << 40) | x
    val hC = (2L << 40) | x
    val sets = Seq((1L, "en", Seq(hA, hB)), (2L, "en", Seq(hA, hC)))
      .toDF("doc_id", "lang", "hs")
    assert(SetSimJoin.pairs(spark, sets, 0.8).count() === 0L)
  }

  test("hash expressions null-propagate") {
    val r = spark.sql(
      "SELECT token_hashes(CAST(NULL AS ARRAY<STRING>)) AS t, " +
      "bigram_hashes(CAST(NULL AS ARRAY<STRING>)) AS b, " +
      "sorted_intersect_count(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS c").head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("connected components equal driver-side union-find on the same edges") {
    import graft.operators.ConnectedComponents
    val nodes = docs.select("doc_id")
    val edges = SetSimJoin.pairsByCount(spark,
      docs.select(col("doc_id"), col("lang"),
        expr("bigram_hashes(split(text, ' '))").as("hs")), tau = 0.3)
      .select("a_id", "b_id")
    val got = ConnectedComponents.components(spark, nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force: union-find over the collected edge list (test-only)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    nodes.collect().foreach(r => parent(r.getLong(0)) = r.getLong(0))
    edges.collect().foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(v => v -> find(v)).toMap
    assert(got === want)
    // at least one real near-dup cluster exists in this corpus
    assert(want.exists { case (v, l) => v != l })
  }

  test("intersect-strategy pairs == prefix and count strategies (three-way equality)") {
    val sets = docs.select(col("doc_id"), col("lang"),
      expr("bigram_hashes(split(text, ' '))").as("hs"))
    val byIntersect = SetSimJoin.pairsByIntersect(spark, sets, 0.3)
    val byCount = SetSimJoin.pairsByCount(spark, sets, 0.3)
    val byPrefix = SetSimJoin.pairs(spark, sets, 0.3)
    assert(byIntersect.exceptAll(byCount).count() === 0L)
    assert(byCount.exceptAll(byIntersect).count() === 0L)
    assert(byIntersect.exceptAll(byPrefix).count() === 0L)
    assert(byPrefix.exceptAll(byIntersect).count() === 0L)
    assert(byIntersect.count() > 0L)
  }

  test("auto picks a strategy from corpus stats and agrees with every manual strategy") {
    import graft.operators.SetSimJoin.{chooseStrategy, corpusStats, CorpusStats}
    val sets = docs.select(col("doc_id"), col("lang"),
      expr("token_hashes(split(text, ' '))").as("hs"))
    // this corpus: tiny broadcast + tractable pair space → intersect
    // (sumDf2 is by-name and must NOT be needed on this path)
    val st = corpusStats(sets)
    assert(chooseStrategy(st, 0.8, 4,
      sys.error("sumDf2 must not be evaluated on the intersect path"))
      === "intersect")
    val got = SetSimJoin.auto(spark, sets, 0.8)
    val want = SetSimJoin.pairs(spark, sets, 0.8)
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)

    // synthetic stats hit the other branches: too big to broadcast,
    // dense vocabulary + AFFORDABLE co-occurrence volume → count
    val big = CorpusStats(nDocs = 1000000000L, sumN = 100000000000L,
      pairSpace = 5e17, vocab = 1000000L) // density 1e5
    assert(chooseStrategy(big, 0.8, 4, 1e9) === "count")
    // dense vocabulary whose exact Σdf² EXCEEDS the row budget must
    // fall back to prefix — the r9 sf1 finding (the density-only rule
    // picked a 9.4e9-row co-occurrence join on a 31-token vocabulary)
    assert(chooseStrategy(big, 0.8, 4, 9.4e9) === "prefix")
    val sparse = CorpusStats(nDocs = 1000000000L, sumN = 100000000000L,
      pairSpace = 5e17, vocab = 50000000000L) // density 2
    assert(chooseStrategy(sparse, 0.8, 4, 1e9) === "prefix")
    // low tau defeats prefix filtering even on a sparse vocabulary —
    // count, while its row volume is affordable
    assert(chooseStrategy(sparse, 0.3, 4, 1e9) === "count")
    assert(chooseStrategy(sparse, 0.3, 4, 1e12) === "prefix")
    // the intersect budget scales with parallelism: a probe 4 cores
    // reject (10e9 > 4e9) is accepted at 32 partitions (<= 32e9)
    val mid = CorpusStats(nDocs = 100000L, sumN = 2300000L,
      pairSpace = 2.2e8, vocab = 200L) // intersectCost ~1e10, 18 MB
    assert(chooseStrategy(mid, 0.95, 4, 1e12) === "prefix")
    assert(chooseStrategy(mid, 0.95, 32, 1e12) === "intersect")
  }

  test("autoBetween and pairsBetweenByIntersect agree with pairsBetween") {
    val hs = docs.select(col("doc_id"), col("lang"),
      expr("token_hashes(split(text, ' '))").as("hs"))
    val left = hs.filter(col("doc_id") % 5 === 0)
    val right = hs.filter(col("doc_id") % 5 =!= 0)
    val want = SetSimJoin.pairsBetween(spark, left, right, 0.8)
    val direct = SetSimJoin.pairsBetweenByIntersect(spark, left, right, 0.8)
    val auto = SetSimJoin.autoBetween(spark, left, right, 0.8)
    assert(direct.exceptAll(want).count() === 0L)
    assert(want.exceptAll(direct).count() === 0L)
    assert(auto.exceptAll(want).count() === 0L)
    assert(want.exceptAll(auto).count() === 0L)
    assert(want.count() > 0L)
  }

  test("pointer jumping converges a 100-node path graph in O(log n) rounds") {
    import graft.operators.ConnectedComponents
    import spark.implicits._
    // path 0-1-2-...-99: diameter 99, one component with min label 0.
    // Plain min-label propagation moves the 0 label one hop per round,
    // so 15 rounds CANNOT converge it — the loud failure must fire.
    val nodes = spark.range(100).toDF("doc_id")
    val edges = spark.range(99).select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
    val ex = intercept[IllegalStateException] {
      ConnectedComponents.components(spark, nodes, edges, maxIter = 15).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // with jumping, label chains halve every round: well under 15
    val got = ConnectedComponents.components(spark, nodes, edges, maxIter = 15, jump = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 100 && got.values.forall(_ === 0L))
  }

  test("an edge endpoint outside the node set is dropped, not a label relay") {
    import graft.operators.ConnectedComponents
    import spark.implicits._
    // 99 is not a node: the edges (2, 99) and (99, 3) must not join 3
    // to the {1, 2} component through it, and 99 gets no label
    val nodes = Seq(1L, 2L, 3L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 99L), (99L, 3L)).toDF("a_id", "b_id")
    val got = ConnectedComponents.components(spark, nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("jump=true equals jump=false on the near-dup corpus graph") {
    import graft.operators.ConnectedComponents
    val nodes = docs.select("doc_id")
    val edges = SetSimJoin.auto(spark,
      docs.select(col("doc_id"), col("lang"),
        expr("bigram_hashes(split(text, ' '))").as("hs")), tau = 0.3)
      .select("a_id", "b_id")
    val plain = ConnectedComponents.components(spark, nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val jumped = ConnectedComponents.components(spark, nodes, edges, jump = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain === jumped)
  }

  test("random corpora: all three strategies equal brute force (property)") {
    import spark.implicits._
    // deterministically-seeded random corpora across both vocabulary
    // regimes (dense: 24-element universe, sparse: 4096-element) plus
    // degenerate rows (empty and single-element sets) — the fixed test
    // corpus can't cover the space the strategy choice spans
    val rnd = new scala.util.Random(42)
    for ((vocabSize, tau) <- Seq((24, 0.3), (24, 0.8), (4096, 0.5))) {
      val docs = (1L to 48L).map { id =>
        val n = rnd.nextInt(12) // 0..11 elements; 0 = degenerate empty set
        val hs = Seq.fill(n)(rnd.nextInt(vocabSize).toLong * 0x9E3779B97F4A7C15L)
          .distinct
        (id, if (id % 2 == 0) "en" else "de", hs)
      }
      val sets = docs.toDF("doc_id", "lang", "hs")
      val brute = {
        val a = sets.select(col("lang"), col("doc_id").as("a_id"), col("hs").as("ha"))
        val b = sets.select(col("lang").as("lang_b"), col("doc_id").as("b_id"), col("hs").as("hb"))
        a.join(b, col("lang") === col("lang_b") && col("a_id") < col("b_id"))
          .withColumn("i", size(array_intersect(col("ha"), col("hb"))))
          // try_divide: empty-vs-empty is 0/0 — the operators define
          // empty sets as never pairing, so a null j filters out
          .withColumn("j", expr("try_divide(i, size(ha) + size(hb) - i)"))
          .filter(col("j") >= tau)
          .select(col("a_id"), col("b_id"), round(col("j"), 4).as("jaccard"))
      }
      for ((tag, got) <- Seq(
          "prefix" -> SetSimJoin.pairs(spark, sets, tau),
          "count" -> SetSimJoin.pairsByCount(spark, sets, tau),
          "intersect" -> SetSimJoin.pairsByIntersect(spark, sets, tau))) {
        assert(got.exceptAll(brute).count() === 0L, s"$tag vocab=$vocabSize tau=$tau extra")
        assert(brute.exceptAll(got).count() === 0L, s"$tag vocab=$vocabSize tau=$tau missing")
      }
    }
  }

  test("count-strategy pairs == brute-force bigram Jaccard at tau=0.3") {
    val got = SetSimJoin.pairsByCount(spark,
      docs.select(col("doc_id"), col("lang"),
        expr("bigram_hashes(split(text, ' '))").as("hs")), tau = 0.3)
    val sh = docs.select(col("doc_id"), col("lang"), split(col("text"), " ").as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("doc_id"), col("lang"), array_distinct(expr(
        "transform(sequence(1, size(l) - 1), i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"))
        .as("ts"))
    val brute = sh.select(col("doc_id").as("a_id"), col("lang"), col("ts").as("ta"))
      .join(sh.select(col("doc_id").as("b_id"), col("lang").as("lang_b"), col("ts").as("tb")),
        col("lang") === col("lang_b") && col("a_id") < col("b_id"))
      .withColumn("i", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("j", col("i") / (size(col("ta")) + size(col("tb")) - col("i")))
      .filter(col("j") >= 0.3)
      .select(col("a_id"), col("b_id"), round(col("j"), 4).as("jaccard"))
    assert(got.exceptAll(brute).count() === 0L)
    assert(brute.exceptAll(got).count() === 0L)
  }
}
