package graft

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

class GraftSessionSpec extends AnyFunSpec with Matchers {

  it("SPARK_GRAFT_CPUS parses as a strictly positive Int, default 32") {
    GraftSession.parseCpus(None) shouldBe 32
    GraftSession.parseCpus(Some("4")) shouldBe 4
  }

  it("a bad SPARK_GRAFT_CPUS fails naming the variable and the value") {
    for (bad <- Seq("0", "-1", "4x", "")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad)))
      e.getMessage should include("SPARK_GRAFT_CPUS")
      e.getMessage should include(s"'$bad'")
    }
  }
}
