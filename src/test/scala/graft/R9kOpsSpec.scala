package graft

import java.math.{BigDecimal => JBD, RoundingMode}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r9 wave-11 semantics (queries/StatsR9k.scala + the three streaming
  * keys in streaming/StreamState.scala): batch statistics re-derived by
  * brute-force folds; streaming keys checked against the same folds
  * (batch equivalence — the stream ran through real state stores).
  */
class R9kOpsSpec extends AnyFunSuite with SparkFixture {

  private def rnd(x: Double): Long =
    new JBD(x).setScale(0, RoundingMode.HALF_UP).longValue

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  // (event_id, ts_us, day, user_id, event_type, value)
  private lazy val evs: Array[(Long, Long, String, Long, String, Double)] =
    graft.tables.Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")),
        to_date(col("ts")).cast("string"), col("user_id"),
        col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getString(4), r.getDouble(5)))

  private lazy val dmean: Map[String, Array[(String, Long)]] =
    evs.groupBy(_._5).map { case (t, g) =>
      t -> g.groupBy(_._3).map { case (d0, gg) =>
        (d0, gg.map(e => math.floor(e._6 * 1e3).toLong).sum / gg.length)
      }.toArray.sortBy(_._1)
    }

  private def rets(ds: Array[(String, Long)]): Array[(String, Long)] =
    ds.sliding(2).collect { case Array((_, py), (d1, y)) =>
      (d1, rnd(math.log(y.toDouble / py) * 1e6))
    }.toArray

  test("q_updown_capture matches the sum-ratio fold") {
    val mkt = evs.groupBy(_._3).map { case (d0, g) =>
      (d0, g.map(e => math.floor(e._6 * 1e3).toLong).sum / g.length)
    }.toArray.sortBy(_._1)
    val rm = rets(mkt).toMap
    val got = q("q_updown_capture").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    for ((t, ds) <- dmean) {
      val joined = rets(ds).flatMap { case (d0, r0) =>
        rm.get(d0).map(m => (r0, m))
      }
      val up = joined.filter(_._2 > 0); val dn = joined.filter(_._2 < 0)
      val smu = up.map(_._2).sum; val smd = dn.map(_._2).sum
      val su = up.map(_._1).sum; val sd = dn.map(_._1).sum
      if (smu > 0 && smd < 0 && sd != 0) {
        val (gnu, gnd, guc, gdc, gcr) = got(t)
        assert(gnu === up.length.toLong)
        assert(gnd === dn.length.toLong)
        assert(math.abs(guc - rnd(su.toDouble / smu * 1e4) / 1e4) <= 1e-9)
        assert(math.abs(gdc - rnd(sd.toDouble / smd * 1e4) / 1e4) <= 1e-9)
        assert(math.abs(gcr - rnd(su.toDouble * smd / (smu.toDouble * sd)
          * 1e4) / 1e4) <= 1e-9)
      } else assert(!got.contains(t))
    }
  }

  test("q_cvm_test matches the distinct-rank fold") {
    val types = dmean.keys.toArray.sorted
    val got = q("q_cvm_test").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    for (i <- types.indices; j <- i + 1 until types.length) {
      val t1 = types(i); val t2 = types(j)
      val pool = (dmean(t1).map(x => (x._2, t1, x._1))
        ++ dmean(t2).map(x => (x._2, t2, x._1)))
        .sortBy(x => (x._1, x._2, x._3)).zipWithIndex
      val n = dmean(t1).length.toLong; val m = dmean(t2).length.toLong
      var i1 = 0L; var i2 = 0L; var u1 = 0L; var u2 = 0L
      for (((_, t, _), r0) <- pool) {
        val r = (r0 + 1).toLong
        if (t == t1) { i1 += 1; u1 += (r - i1) * (r - i1) }
        else { i2 += 1; u2 += (r - i2) * (r - i2) }
      }
      val tStat = (n * u1 + m * u2).toDouble / (n * m * (n + m)) -
        (n * m * 4 - 1).toDouble / ((n + m) * 6)
      val (gn, gm, gt) = got((t1, t2))
      assert(gn === n)
      assert(gm === m)
      assert(math.abs(gt - rnd(tStat * 1e6) / 1e6) <= 1e-9)
    }
  }

  test("q_ad_ksample matches the snapped Scholz-Stephens fold") {
    val pool = dmean.toArray.flatMap { case (t, ds) =>
      ds.map(x => (x._2, t, x._1))
    }.sortBy(x => (x._1, x._2, x._3))
    val nTot = pool.length.toLong
    val types = dmean.keys.toArray.sorted
    val ng = types.map(t => t -> dmean(t).length.toLong).toMap
    var sa = 0L
    for (g <- types) {
      var mgi = 0L; var su = 0L
      for ((row, idx) <- pool.zipWithIndex) {
        if (row._2 == g) mgi += 1
        val i = (idx + 1).toLong
        if (i < nTot) {
          val dev = nTot * mgi - i * ng(g)
          su += rnd(dev.toDouble * dev * 1e6 / (i * (nTot - i)))
        }
      }
      sa += rnd(su.toDouble / ng(g))
    }
    val a2 = sa.toDouble / (1e6 * nTot)
    val r = q("q_ad_ksample").collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === types.length.toLong)
    assert(r(0).getLong(1) === nTot)
    assert(math.abs(r(0).getDouble(2) - rnd(a2 * 1e4) / 1e4) <= 1e-9)
  }

  test("s_stream_funnel equals the batch asof fold") {
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
    for ((_, g) <- evs.filter(e => e._5 == "click" || e._5 == "purchase")
        .groupBy(_._4)) {
      var lastClick = Long.MinValue
      for (e <- g.sortBy(x => (x._2, x._1))) {
        if (e._5 == "purchase") {
          val ok = lastClick != Long.MinValue && e._2 - lastClick <= 3600000000L
          val (np, nm) = acc.getOrElse(e._3, (0L, 0L))
          acc(e._3) = (np + 1, nm + (if (ok) 1L else 0L))
        } else lastClick = e._2
      }
    }
    val got = q("s_stream_funnel").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === acc.keySet.toSet)
    for ((d0, (np, nm)) <- acc) assert(got(d0) === ((np, nm)))
  }

  test("s_stream_drawdown equals the prefix-max fold") {
    val got = q("s_stream_drawdown").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2),
        r.getLong(3)))).toMap
    for ((t, g) <- evs.groupBy(_._5)) {
      var peak = Long.MinValue; var mx = 0L; var alarms = 0L
      for (e <- g.sortBy(x => (x._2, x._1))) {
        val v = rnd(e._6 * 100)
        if (v > peak) peak = v
        val dd = peak - v
        if (dd > mx) mx = dd
        if (dd > 2000L) alarms += 1
      }
      val (gn, gmx, ga) = got(t)
      assert(gn === g.length.toLong)
      assert(math.abs(gmx - rnd(mx / 100.0 * 100) / 100.0) <= 1e-9)
      assert(ga === alarms)
    }
  }

  test("s_stream_gap_alarm equals the lag fold") {
    val got = q("s_stream_gap_alarm").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    for ((t, g) <- evs.groupBy(_._5)) {
      var last = Long.MinValue; var gaps = 0L; var mx = 0L
      for (e <- g.sortBy(x => (x._2, x._1))) {
        val gap = if (last == Long.MinValue) 0L else e._2 - last
        last = e._2
        if (gap > 3600000000L) gaps += 1
        if (gap > mx) mx = gap
      }
      val (gn, gg, gmx) = got(t)
      assert(gn === g.length.toLong)
      assert(gg === gaps)
      assert(math.abs(gmx - rnd(mx / 1e6 * 100) / 100.0) <= 1e-9)
    }
  }
}
