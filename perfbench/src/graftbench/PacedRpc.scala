package graftbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import org.apache.spark.sql.catalyst.InternalRow

import graft.sources.{BlockRangeRpc, BurnEvents}

/** The block schedule the stand-in node serves: chain `seed`, and
  * block b due at `tLiveMs + (b - bFirst) * 1000 / rate`. With
  * `paced = false` every block is already due (the backlog). */
final case class Schedule(seed: Long, paced: Boolean, tLiveMs: Double,
                          bFirst: Long, rate: Double) {
  def dueMs(b: Long): Double =
    if (!paced) Double.NegativeInfinity else tLiveMs + (b - bFirst) * 1000.0 / rate
}

/** JVM-wide schedule and counters of the stand-in. In local mode the
  * executors share this JVM, so the reader-side instances see them. */
object Pace {
  @volatile var schedule: Schedule = Schedule(0L, paced = false, 0.0, 0L, 1.0)
  val waitMs = new DoubleAdder
  val lateMax = new AtomicLong(0L) // µs, max generator delay past max(due, asked)
  def reset(s: Schedule): Unit = {
    schedule = s
    waitMs.reset(); lateMax.set(0L)
  }
}

/** Benchmark-owned stand-in for the node behind `BlockRangeRpc`,
  * injected through the source's `rpcClass` option. It serves the
  * seeded synthetic chain `BurnEvents.eventsInBlock(b, seed)` and hands
  * out block b no earlier than its due time, so a batch that asks for
  * blocks not yet produced waits for them. */
class PacedRpc extends BlockRangeRpc {
  override def getLogs(fromBlock: Long, toBlock: Long): Iterator[InternalRow] = {
    val s = Pace.schedule
    (fromBlock to toBlock).iterator.flatMap { b =>
      val due = s.dueMs(b)
      val before = Clock.ms()
      if (before < due) {
        Thread.sleep(math.ceil(due - before).toLong)
        Pace.waitMs.add(Clock.ms() - before)
      }
      val rows = BurnEvents.eventsInBlock(b, s.seed)
      val g1 = Clock.ms()
      if (s.paced)
        Pace.lateMax.accumulateAndGet(((g1 - math.max(due, before)) * 1000).toLong, math.max)
      rows
    }
  }
}
