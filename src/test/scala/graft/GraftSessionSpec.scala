package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  test("parseCpus: unset is the default, '*' every processor, else a positive integer") {
    assert(GraftSession.parseCpus(None, 4) === 4)
    assert(GraftSession.parseCpus(Some("*"), 4) ===
      Runtime.getRuntime.availableProcessors())
    assert(GraftSession.parseCpus(Some("6"), 4) === 6)
    for (bad <- Seq("0", "abc")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parseCpus(Some(bad), 4))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
      assert(e.getMessage.contains(s"'$bad'"), bad)
    }
  }
}
