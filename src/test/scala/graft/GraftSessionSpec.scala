package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]]'s environment parsing, checked without a session. */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset means 32, a positive int is taken, anything else is refused by name") {
    assert(GraftSession.parseCpus(None) === 32)
    assert(GraftSession.parseCpus(Some("4")) === 4)
    Seq("0", "-1", "four", "", " 8", "2.5", "99999999999").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
