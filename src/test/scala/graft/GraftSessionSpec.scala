package graft

import org.scalatest.funsuite.AnyFunSuite

/** The default master every CLI main and the benchmark start from. */
class GraftSessionSpec extends AnyFunSuite {

  test("defaultMaster: SPARK_GRAFT_CPUS unset → one thread per processor") {
    assert(GraftSession.defaultMaster(Map.empty, processors = 4) == "local[4]")
    assert(GraftSession.defaultMaster(Map("OTHER" -> "9"), processors = 6) ==
      "local[6]")
  }

  test("defaultMaster: SPARK_GRAFT_CPUS set → that thread count") {
    assert(GraftSession.defaultMaster(Map("SPARK_GRAFT_CPUS" -> "16"),
      processors = 4) == "local[16]")
  }

  test("defaultMaster reads the real processor count by default") {
    assert(GraftSession.defaultMaster(Map.empty) ==
      s"local[${Runtime.getRuntime.availableProcessors}]")
  }
}
