package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

  test("both: the other leg settles before a leg's error reaches the caller") {
    val settled = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      util.Par.both(throw new IllegalStateException("leg 1"),
        { Thread.sleep(500); settled.set(true) })
    }
    assert(e.getMessage === "leg 1")
    assert(settled.get, "leg 2 was still running when leg 1's error propagated")
  }
}
