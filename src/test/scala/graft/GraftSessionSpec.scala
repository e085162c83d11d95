package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("defaultShufflePartitions: one per core on local masters, 32 elsewhere") {
    // SPARK_GRAFT_SHUFFLE overrides every master.
    def expect(width: Int) = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", width.toString)
    assert(GraftSession.defaultShufflePartitions("local[3]") == expect(3))
    assert(GraftSession.defaultShufflePartitions("local[3,2]") == expect(3))
    assert(GraftSession.defaultShufflePartitions("local[*]") ==
      expect(Runtime.getRuntime.availableProcessors))
    assert(GraftSession.defaultShufflePartitions("local") == expect(1))
    assert(GraftSession.defaultShufflePartitions("spark://host:7077") == expect(32))
  }
}
