package graft

import java.math.{BigDecimal => JBD, RoundingMode}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r9 wave-34 streaming semantics (streaming/StreamState.scala):
  * each streaming key's read-back pinned against the brute-force
  * batch fold of the sf0.001 events (the batch-twin doctrine,
  * SURVEY §5.2.3) — these six are fully deterministic read-backs.
  */
class R9StreamWave34Spec extends AnyFunSuite with SparkFixture {

  private def rnd(x: Double, sc: Int): Double =
    new JBD(x).setScale(sc, RoundingMode.HALF_UP).doubleValue

  private def rndL(x: Double): Long =
    new JBD(x).setScale(0, RoundingMode.HALF_UP).longValue

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  /** (event_id, type, user, micros, value-centi) in (µs, id) order. */
  private lazy val ev: Array[(Long, String, Long, Long, Long)] =
    graft.tables.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("user_id"),
        unix_micros(col("ts")), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), rndL(r.getDouble(4) * 100)))
      .sortBy(e => (e._4, e._1))

  test("s_stream_kmv matches the batch KMV fold") {
    val want = ev.groupBy(_._2).toArray.sortBy(_._1).map { case (t, g) =>
      val hs = g.map(e => ((e._3 * 2654435761L) & 0x7FFFFFFFFFFFFFFFL)
          % 4294967296L)
        .distinct.sorted
      val est = if (hs.length >= 64) 63.0 * 4294967296.0 / hs(63)
        else hs.length.toDouble
      (t, g.length.toLong, rnd(est, 4))
    }
    val got = q("s_stream_kmv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("s_stream_bloom_dedup matches the sharded bit-order fold") {
    val ps = Array(2654435761L, 2246822519L, 3266489917L)
    val qs = Array(1L, 7L, 13L)
    // 8 independent shards keyed by the low-63-bit Knuth-hash prefix;
    // global (ts, id) order restricted to a shard IS the shard-local
    // order, so one ordered pass over 8 arrays is the exact fold
    val bits = Array.fill(8)(new Array[Boolean](4096))
    var fl = 0L
    ev.foreach { e =>
      val sh = (((e._1 * 2654435761L) & 0x7FFFFFFFFFFFFFFFL) % 8L).toInt
      val hs = (0 to 2).map(j =>
        (((e._1 * ps(j) + qs(j)) & 0x7FFFFFFFFFFFFFFFL)
          % 2147483647L % 4096L).toInt)
      if (hs.forall(bits(sh)(_))) fl += 1
      hs.foreach(bits(sh)(_) = true)
    }
    val r = q("s_stream_bloom_dedup").collect()(0)
    assert(r.getLong(0) == ev.length.toLong)
    assert(r.getLong(1) == fl)
    assert(r.getDouble(2) == rnd(fl.toDouble / ev.length, 6))
  }

  test("s_stream_lag1_autocorr matches the pair-moment fold") {
    val want = ev.groupBy(_._2).toArray.sortBy(_._1).flatMap { case (t, g) =>
      val vs = g.sortBy(e => (e._4, e._1)).map(_._5)
      val pairs = vs.sliding(2).map(a => (a(1), a(0))).toArray
      val m = pairs.length.toLong
      val sa = pairs.map(_._1).sum; val sb = pairs.map(_._2).sum
      val sab = pairs.map(p => p._1 * p._2).sum
      val saa = pairs.map(p => p._1 * p._1).sum
      val sbb = pairs.map(p => p._2 * p._2).sum
      if (m <= 1 || m * saa <= sa * sa || m * sbb <= sb * sb) None
      else Some((t, m, rnd((m * sab - sa * sb).toDouble
        / math.sqrt((m * saa - sa * sa).toDouble * (m * sbb - sb * sb)),
        6)))
    }
    val got = q("s_stream_lag1_autocorr").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("s_stream_ema_int matches the floor-div recurrence fold") {
    val want = ev.groupBy(_._2).toArray.sortBy(_._1).map { case (t, g) =>
      val vs = g.sortBy(e => (e._4, e._1)).map(_._5)
      var e = 0L; var n = 0L
      vs.foreach { v => e = if (n == 0) v else (v + e) / 2; n += 1 }
      (t, n, rnd(e / 100.0, 2))
    }
    val got = q("s_stream_ema_int").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("s_stream_interarrival matches the seconds-grid gap fold") {
    val want = ev.groupBy(_._2).toArray.sortBy(_._1).flatMap { case (t, g) =>
      val ts = g.sortBy(e => (e._4, e._1)).map(_._4)
      val gaps = ts.sliding(2).map(a => (a(1) - a(0)) / 1000000L).toArray
      val n = gaps.length.toLong
      val sg = gaps.sum; val sgg = gaps.map(x => x * x).sum
      val mu = sg.toDouble / n
      val sd = math.sqrt(sgg.toDouble / n - mu * mu)
      if (n <= 1 || sd + mu <= 0) None
      else Some((t, n, rnd(mu, 6), rnd((sd - mu) / (sd + mu), 6)))
    }
    val got = q("s_stream_interarrival").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == want.toSeq)
  }

  test("s_stream_lastk_distinct matches the tail-ring fold") {
    val want = ev.groupBy(_._2).toArray.sortBy(_._1).map { case (t, g) =>
      val ring = g.sortBy(e => (e._4, e._1)).map(_._3).takeRight(50)
      (t, ring.length.toLong, ring.distinct.length.toLong)
    }
    val got = q("s_stream_lastk_distinct").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
  }
}
