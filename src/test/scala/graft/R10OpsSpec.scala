package graft

import java.math.{BigDecimal => JBD, RoundingMode}
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r10 wave-1 key-level pins (queries/StatsR10.scala,
  * streaming/StreamState.scala, StreamCorpus.scala): each key's result folded brute-force
  * in pure Scala over the sf0.001 events/part tables — the triple-gate
  * spec leg alongside the DuckDB oracle and the solo bench.
  */
class R10OpsSpec extends AnyFunSuite with SparkFixture {

  private def rnd(x: Double, sc: Int): Double =
    new JBD(x).setScale(sc, RoundingMode.HALF_UP).doubleValue

  private def rndL(x: Double): Long =
    new JBD(x).setScale(0, RoundingMode.HALF_UP).longValue

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def knuth(id: Long): Long =
    ((id * 2654435761L) & 0x7FFFFFFFFFFFFFFFL)

  /** (event_id, type, micros, value-centi) in (µs, id) order. */
  private lazy val ev: Array[(Long, String, Long, Long)] =
    graft.tables.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        rndL(r.getDouble(3) * 100)))
      .sortBy(e => (e._3, e._1))

  private def dayOf(us: Long): java.time.LocalDate =
    Instant.ofEpochSecond(Math.floorDiv(us, 1000000L))
      .atZone(ZoneOffset.UTC).toLocalDate

  test("q_reservoir_sample matches the priority-rank fold") {
    val want = ev.groupBy(_._2).toArray.sortBy(_._1).map { case (t, g) =>
      val ranked = g.sortBy(e => (knuth(e._1), e._1))
      val samp = ranked.take(100)
      (t, g.length.toLong, samp.length.toLong,
        rnd(g.map(_._4).sum.toDouble / g.length / 100, 4),
        rnd(samp.map(_._4).sum.toDouble / samp.length / 100, 4))
    }
    val got = q("q_reservoir_sample").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got.toSeq == want.toSeq)
  }

  test("q_pps_sample matches the priority-sampling fold") {
    val want = ev.filter(_._4 > 0).groupBy(_._2).toArray.sortBy(_._1)
      .map { case (t, g) =>
        val scored = g.map { e =>
          val u = (knuth(e._1) + 1).toDouble / 9.223372036854776e18
          (e._4, e._4 / u, e._1)
        }.sortBy(x => (-x._2, x._3))
        val tau = if (scored.length > 50) scored(50)._2 else 0.0
        val est = scored.take(50).map(x => math.max(x._1.toDouble, tau)).sum
        val tw = g.map(_._4).sum
        (t, g.length.toLong, math.min(50, scored.length).toLong,
          rnd(tw / 100.0, 2), rnd(est / 100.0, 2),
          rnd(math.abs(est - tw) / tw, 6))
      }
    val got = q("q_pps_sample").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == want.toSeq)
  }

  test("q_jackknife matches the cleared-integer identity fold") {
    val want = ev.groupBy(_._2).toArray.sortBy(_._1).flatMap { case (t, g) =>
      val days = g.groupBy(e => dayOf(e._3)).map(_._2.map(_._4).sum)
        .toArray
      val n = days.length.toLong
      if (n <= 1) None else {
        val st = days.sum
        val sc2 = days.map(c => BigInt(c) * c).sum
        val num = (BigInt(n) * sc2 - BigInt(st) * st).toDouble
        Some((t, n, rnd(st.toDouble / n / 100, 4),
          rnd(math.sqrt(num / (n.toDouble * n * (n - 1))) / 100, 6)))
      }
    }
    val got = q("q_jackknife").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == want.toSeq)
  }

  test("q_fuzzy_levenshtein matches the blocked edit-distance fold") {
    def lev(a: String, b: String): Long = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length).toLong
    }
    val parts0 = graft.tables.Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_brand"), col("p_name")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // per-block 128-cap by smallest partkey (the documented recall
    // contract — binds only above sf0.1-scale blocks)
    val parts = parts0.groupBy(p => (p._2, p._3.split(" ")(0)))
      .values.flatMap(_.sortBy(_._1).take(128)).toArray
    val want = (for {
      a <- parts; b <- parts
      if a._2 == b._2 && a._3.split(" ")(0) == b._3.split(" ")(0)
      if a._1 < b._1
    } yield (a._1, b._1, lev(a._3, b._3)))
      .sortBy(x => (x._3, x._1, x._2)).take(20)
    val got = q("q_fuzzy_levenshtein").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("q_allan_variance matches the complete-bin fold") {
    val want = ev.groupBy(_._2).toArray.sortBy(_._1).flatMap { case (t, g) =>
      val counts = g.groupBy(e => dayOf(e._3)).toArray.sortBy(_._1)
        .map(_._2.length.toLong)
      Seq(1, 2, 4).flatMap { tau =>
        val bins = counts.zipWithIndex.groupBy(_._2 / tau).toArray
          .sortBy(_._1).map(_._2).filter(_.length == tau)
          .map(_.map(_._1).sum)
        val diffs = bins.sliding(2).filter(_.length == 2)
          .map(a => a(1) - a(0)).toArray
        if (diffs.isEmpty) None
        else Some((t, tau.toLong, (diffs.length + 1).toLong,
          rnd(diffs.map(x => x * x).sum.toDouble
            / (2.0 * diffs.length * tau * tau), 6)))
      }
    }
    val got = q("q_allan_variance").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == want.toSeq)
  }

  private def sprtFold: Array[(String, String, Long, Double)] = {
    val incA = math.round(math.log(1.25) * 1e9)
    val incB = math.round(math.log(5.0 / 6.0) * 1e9)
    val bound = math.round(math.log(19.0) * 1e9)
    ev.groupBy(_._2).toArray.sortBy(_._1).map { case (t, g) =>
      var cum = 0L; var rn = 0L
      var dec = "continue"; var nDec = 0L; var llrDec = 0L
      g.sortBy(e => (e._3, e._1)).foreach { e =>
        rn += 1
        cum += (if (e._4 > 5000) incA else incB)
        if (dec == "continue") {
          if (cum >= bound) { dec = "accept_h1"; nDec = rn; llrDec = cum }
          else if (cum <= -bound) { dec = "accept_h0"; nDec = rn; llrDec = cum }
        }
      }
      if (dec == "continue") (t, dec, rn, rnd(cum / 1e9, 6))
      else (t, dec, nDec, rnd(llrDec / 1e9, 6))
    }
  }

  test("q_sprt_boundary matches the sequential LLR fold") {
    val got = q("q_sprt_boundary").collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == sprtFold.toSeq)
  }

  test("s_stream_sprt matches the same fold (streaming twin)") {
    val got = q("s_stream_sprt").collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == sprtFold.toSeq)
  }

  test("s_stream_reservoir matches the batch priority-rank fold") {
    val want = ev.groupBy(_._2).toArray.sortBy(_._1).map { case (t, g) =>
      val samp = g.sortBy(e => (knuth(e._1), e._1)).take(64)
      (t, g.length.toLong, samp.length.toLong,
        rnd(samp.map(_._4).sum.toDouble / samp.length / 100, 4))
    }
    val got = q("s_stream_reservoir").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == want.toSeq)
  }

  test("q_median_polish matches the 2-sweep fold") {
    def median(xs: Array[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + (s(n / 2) - s(n / 2 - 1)) * 0.5)
    }
    val cells = ev.groupBy(e => (e._2,
        ((dayOf(e._3).getDayOfWeek.getValue + 6) % 7))) // Mon=1 → weekday 0
      .map { case ((t, dw), g) =>
        ((t, dw.toLong), g.map(_._4).sum.toDouble / g.length)
      }
    var grid = cells
    val types = grid.keys.map(_._1).toArray.distinct.sorted
    val dows = grid.keys.map(_._2).toArray.distinct.sorted
    val m1 = types.map(t => t -> median(
      dows.flatMap(dw => grid.get((t, dw))))).toMap
    grid = grid.map { case (k, v) => k -> (v - m1(k._1)) }
    val c1 = dows.map(dw => dw -> median(
      types.flatMap(t => grid.get((t, dw))))).toMap
    grid = grid.map { case (k, v) => k -> (v - c1(k._2)) }
    val m2 = types.map(t => t -> median(
      dows.flatMap(dw => grid.get((t, dw))))).toMap
    grid = grid.map { case (k, v) => k -> (v - m2(k._1)) }
    val c2 = dows.map(dw => dw -> median(
      types.flatMap(t => grid.get((t, dw))))).toMap
    grid = grid.map { case (k, v) => k -> (v - c2(k._2)) }
    val want = grid.toArray.sortBy(_._1).map { case ((t, dw), r) =>
      (t, dw, rnd(r / 100, 6),
        rnd((m1(t) + m2(t)) / 100, 6), rnd((c1(dw) + c2(dw)) / 100, 6))
    }
    val got = q("q_median_polish").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got.toSeq == want.toSeq)
  }
}
