package graft

import java.math.{BigDecimal => JBD, RoundingMode}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r10: key-level pins for the two r9 streaming keys that had full
  * DuckDB oracles but no named spec test (`s_stream_cusum`,
  * `s_stream_newhigh`, streaming/StreamState.scala) — the batch-twin
  * doctrine fold of the sf0.001 events, same pattern as
  * R9StreamWave34Spec (r9 VERDICT task 4).
  */
class R10StreamPinsSpec extends AnyFunSuite with SparkFixture {

  private def rnd(x: Double, sc: Int): Double =
    new JBD(x).setScale(sc, RoundingMode.HALF_UP).doubleValue

  private def rndL(x: Double): Long =
    new JBD(x).setScale(0, RoundingMode.HALF_UP).longValue

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  /** (event_id, type, micros, value-centi) in (µs, id) order. */
  private lazy val ev: Array[(Long, String, Long, Long)] =
    graft.tables.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        rndL(r.getDouble(3) * 100)))
      .sortBy(e => (e._3, e._1))

  test("s_stream_cusum matches the exact prefix-min fold") {
    val target = 5000L; val slack = 200L; val h = 100000L
    val want = ev.groupBy(_._2).toArray.sortBy(_._1).map { case (t, g) =>
      var p = 0L; var minp = 0L; var alarms = 0L; var maxS = Long.MinValue
      g.sortBy(e => (e._3, e._1)).foreach { e =>
        p += e._4 - target - slack
        if (p < minp) minp = p
        val sPlus = p - minp
        if (sPlus > h) alarms += 1
        if (sPlus > maxS) maxS = sPlus
      }
      (t, g.length.toLong, alarms, rnd(maxS / 100.0, 2))
    }
    val got = q("s_stream_cusum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq == want.toSeq)
  }

  test("s_stream_newhigh matches the running-max fold") {
    val want = ev.groupBy(_._2).toArray.sortBy(_._1).map { case (t, g) =>
      var mx = Long.MinValue; var alarms = 0L
      g.sortBy(e => (e._3, e._1)).foreach { e =>
        if (e._4 > mx) { alarms += 1; mx = e._4 }
      }
      (t, g.length.toLong, alarms)
    }
    val got = q("s_stream_newhigh").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
  }
}
