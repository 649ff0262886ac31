package graft

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS accepts a positive integer and rejects anything else") {
    assert(Harness.parseCpus("4") == 4)
    for (bad <- Seq("*", "0", "abc")) {
      val e = intercept[IllegalArgumentException](Harness.parseCpus(bad))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }
}
