package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** A key that throws in a harness run is named in the harness JSON,
  * and the run goes on to the next key. */
class KeyLoopSpec extends AnyFunSuite with SparkFixture {

  private val keys = Seq[(String, KeyLoop.Query)](
    "q_boom" -> ((_, _) => throw new IllegalStateException("boom")),
    "q_ok" -> ((s, _) => s.range(3).toDF("id")))

  test("a throwing key is counted and named; the others still run") {
    val out = KeyLoop.run(spark, sf, "test", keys)((_, df) => df.count())
    assert(out.secs.map(_._1) === Seq("q_boom", "q_ok"))
    assert(out.failed === Seq("q_boom"))
    assert(out.failedJson() === "\"n_failed\":1,\"failed\":[\"q_boom\"]")
    assert(out.failedJson(0) === "\"n_failed\":1,\"failed\":[]")
  }

  test("Verify's dump writes the failed key to verify.json") {
    val dir = Files.createTempDirectory("verify-pin").toString
    val out = Verify.dump(spark, sf, dir, keys)
    assert(out.failed === Seq("q_boom"))
    val json = new String(Files.readAllBytes(Paths.get(dir, "verify.json")), "UTF-8")
    assert(json.contains("\"n_failed\":1"), json)
    assert(json.contains("\"failed\":[\"q_boom\"]"), json)
    assert(Files.exists(Paths.get(dir, "q_ok")))
    assert(!Files.exists(Paths.get(dir, "q_boom")))
  }
}
