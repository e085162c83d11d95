package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("Bench.summaryLine: a full board with failures stays a short parseable line") {
    val gates = (0 until 250).map(i => f"x_gate_with_a_long_family_name_$i%03d")
    val line = Bench.summaryLine(433.6, 250, Nil, "testdata/sf0.1")
    assert(line ==
      """{"metric":"total","value":433.6,"unit":"sec","passed":250,"nFailed":0,"failed":[],"sf":"testdata/sf0.1"}""")
    Seq(gates.take(3), gates).foreach { failed =>
      val l = Bench.summaryLine(400.0, 250 - failed.size, failed, "testdata/sf0.1")
      assert(l.getBytes("UTF-8").length < 2048, s"${l.length} bytes")
      assert(!l.contains("\n") && !l.contains("queries"))
      assert(l.contains(s""""nFailed":${failed.size},"""))
      assert(l.contains(failed.take(Bench.MaxListedFailures).map("\"" + _ + "\"").mkString("[", ",", "]")))
    }
  }

  test("Bench.artifactName: two core counts name two artifacts") {
    assert(Bench.artifactName(17, 32) == "BENCH_local_r17_c32.json")
    assert(Bench.artifactName(17, 8) != Bench.artifactName(17, 32))
  }
}
