package graft

/** `bench_out.json` keeps a checkout's widest run ([[Bench.replacesRecord]]). */
class BenchRecordSpec extends org.scalatest.funspec.AnyFunSpec
    with org.scalatest.matchers.should.Matchers {

  private def record(sha: String, cpus: Int): String =
    s"""{"metric":"total","value":1.000,"cpus":$cpus,"provenance":""" +
      s"""{"git_sha":"$sha","ts_ms":1,"loadavg_start":0.10,""" +
      s""""loadavg_end":0.20,"cpus":$cpus,"host_cores":32},"dq1":{}}"""

  it("a run replaces no record, another sha's, or the same sha's from " +
     "no more cores; never the same sha's from more cores") {
    Bench.replacesRecord(None, "abc", 8) shouldBe true
    Bench.replacesRecord(Some(record("def", 32)), "abc", 8) shouldBe true
    Bench.replacesRecord(Some(record("abc", 8)), "abc", 32) shouldBe true
    Bench.replacesRecord(Some(record("abc", 32)), "abc", 32) shouldBe true
    Bench.replacesRecord(Some(record("abc", 32)), "abc", 8) shouldBe false
    Bench.replacesRecord(Some("not a record"), "abc", 8) shouldBe true
  }

  it("a run with no known sha always replaces the held record") {
    Bench.replacesRecord(Some(record("unknown", 32)), "unknown", 8) shouldBe true
  }
}
