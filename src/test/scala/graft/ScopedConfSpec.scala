package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.ScopedConf

/** util.ScopedConf: every key it sets goes back to its old state after
  * the body, whether the body returns or throws. */
class ScopedConfSpec extends AnyFunSuite with SparkFixture {

  private val unsetKey = "graft.test.scoped.unset"
  private val setKey = "graft.test.scoped.set"

  private def check(body: => Unit): Unit = {
    spark.conf.unset(unsetKey)
    spark.conf.set(setKey, "old")
    ScopedConf(spark, unsetKey -> "a", setKey -> "b") {
      assert(spark.conf.get(unsetKey) === "a")
      assert(spark.conf.get(setKey) === "b")
      body
    }
  }

  test("a key that was unset returns to unset, a set key to its old value") {
    check(())
    assert(spark.conf.getOption(unsetKey) === None)
    assert(spark.conf.get(setKey) === "old")
  }

  test("both keys are restored when the body throws") {
    val e = intercept[RuntimeException](check(throw new RuntimeException("boom")))
    assert(e.getMessage === "boom")
    assert(spark.conf.getOption(unsetKey) === None)
    assert(spark.conf.get(setKey) === "old")
  }
}
