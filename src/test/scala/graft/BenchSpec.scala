package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench's input handling: the core count and the floors that
  * judge a drive. */
class BenchSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS normalizes to an integer or stops the drive") {
    assert(Bench.cpusOf(Some("8")) == 8)
    assert(Bench.cpusOf(Some(" 32 ")) == 32)
    val all = Runtime.getRuntime.availableProcessors
    assert(Bench.cpusOf(Some("*")) == all && Bench.cpusOf(None) == all)
    for (bad <- Seq("0", "-4", "eight", "4.5", ""))
      intercept[RuntimeException](Bench.cpusOf(Some(bad)))
  }

  test("floors: only this core count's keys judge; untagged keys are @32, tagged win") {
    val json = """{
      |"a@32":1.5,
      |"a@8":0.5,
      |"b":2.0,
      |"c":3.0,
      |"c@32":2.5
      |}""".stripMargin
    assert(Bench.floorsAt(json, 32) == Map("a" -> 1.5, "b" -> 2.0, "c" -> 2.5))
    assert(Bench.floorsAt(json, 8) == Map("a" -> 0.5))
    assert(Bench.floorsAt(json, 4).isEmpty)
  }
}
