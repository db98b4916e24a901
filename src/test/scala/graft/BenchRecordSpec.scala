package graft

import java.nio.file.{Files, Path}

/** `bench_out.json` keeps a checkout's widest run ([[Bench.replacesRecord]]). */
class BenchRecordSpec extends org.scalatest.funspec.AnyFunSpec
    with org.scalatest.matchers.should.Matchers {

  private def record(sha: String, cpus: Int): String =
    s"""{"metric":"total","value":1.000,"cpus":$cpus,"provenance":""" +
      s"""{"git_sha":"$sha","ts_ms":1,"loadavg_start":0.10,""" +
      s""""loadavg_end":0.20,"cpus":$cpus,"host_cores":32},"dq1":{}}"""

  /** A record as `Bench.main` writes it: `n` queries ahead of the stamp. */
  private def full(sha: String, cpus: Int, n: Int): String =
    s"""{"metric":"total","value":1.000,"unit":"sec","queries":""" +
      (1 to n).map(i => s""""dq$i":0.100""").mkString("{", ",", "}") +
      s""","cpus":$cpus,"provenance":{"git_sha":"$sha","ts_ms":1,""" +
      s""""loadavg_start":0.10,"loadavg_end":0.20,"cpus":$cpus,""" +
      s""""host_cores":32}}"""

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

  it("a filtered run never replaces the same sha's record from as many " +
     "cores over more queries") {
    val held = Some(full("abc", 4, 192))
    Bench.replacesRecord(held, "abc", 4, queries = 4) shouldBe false
    Bench.replacesRecord(held, "abc", 4, queries = 192) shouldBe true
    Bench.replacesRecord(Some(full("abc", 4, 3)), "abc", 4, queries = 4) shouldBe
      true
    Bench.replacesRecord(held, "def", 4, queries = 4) shouldBe true
    Bench.replacesRecord(held, "abc", 8, queries = 4) shouldBe true
    Bench.replacesRecord(Some(full("abc", 8, 4)), "abc", 4,
      queries = 192) shouldBe false
  }

  private def tempDir(): Path = graft.io.TempReaper.tempDir("graft-bench-rec")

  it("a SPARK_GRAFT_ONLY run leaves bench_summary.json and bench_records/ " +
     "untouched and keeps the full record in bench_out.json") {
    val d = tempDir()
    val fullLine = full("abc", 4, 192)
    Files.writeString(d.resolve("bench_out.json"), fullLine + "\n")
    Files.writeString(d.resolve("bench_summary.json"), "{\"n\":192}\n")
    Files.createDirectories(d.resolve("bench_records"))
    val stamped = d.resolve("bench_records/bench_abc_c4.json")
    Files.writeString(stamped, fullLine + "\n")
    Bench.writeRecords(d, full("abc", 4, 4), "{\"n\":4}", "abc", 4,
      queries = 4, filtered = true)
    Files.readString(d.resolve("bench_out.json")) shouldBe fullLine + "\n"
    Files.readString(d.resolve("bench_summary.json")) shouldBe "{\"n\":192}\n"
    Files.readString(stamped) shouldBe fullLine + "\n"
    // another sha's filtered run writes its own bench_out.json, no more
    Bench.writeRecords(d, full("def", 4, 4), "{\"n\":4}", "def", 4,
      queries = 4, filtered = true)
    Files.readString(d.resolve("bench_out.json")) shouldBe
      full("def", 4, 4) + "\n"
    Files.readString(d.resolve("bench_summary.json")) shouldBe "{\"n\":192}\n"
    Files.exists(d.resolve("bench_records/bench_def_c4.json")) shouldBe false
  }

  it("a full run writes bench_out.json, its stamped record and the summary") {
    val d = tempDir()
    val line = full("abc", 4, 192)
    Bench.writeRecords(d, line, "{\"n\":192}", "abc", 4, queries = 192,
      filtered = false)
    Files.readString(d.resolve("bench_out.json")) shouldBe line + "\n"
    Files.readString(d.resolve("bench_records/bench_abc_c4.json")) shouldBe
      line + "\n"
    Files.readString(d.resolve("bench_summary.json")) shouldBe "{\"n\":192}\n"
  }
}
