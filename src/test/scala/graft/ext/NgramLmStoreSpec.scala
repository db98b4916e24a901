package graft.ext

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.GraftSpec

/** The persisted bigram LM: stored-score parity with the per-call
  * [[NgramLm.scoreAgainst]], append-as-model-update semantics, the
  * exactly-once replay contract, compaction by summed partials, and the
  * 100 TB property — scoring a batch never re-reads history text.
  */
class NgramLmStoreSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-lmstore-spec")
      .toString + "/idx"

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val batch = docs.filter($"doc_id" % 7 === 0)
    .select(($"doc_id" + 100000).as("doc_id"), $"text")
    .localCheckpoint(true)

  private def scoresOf(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id")
      .select($"doc_id", $"n_bigrams", $"sum_micro", $"mean_micro")
      .as[(Long, Long, Long, Long)].collect().toSeq

  it("stored scoring equals the per-call NgramLm.scoreAgainst bit for bit") {
    val store = NgramLmStore.build(docs, "doc_id", "text", tmp())
    scoresOf(store.scoreBatch(batch, "doc_id", "text")) shouldBe
      scoresOf(NgramLm.scoreAgainst(batch, docs, "doc_id", "text"))
  }

  it("append IS the model update: post-append scores equal a per-call " +
     "model over history ∪ appended (including integer-division shifts)") {
    val store = NgramLmStore.build(docs, "doc_id", "text", tmp())
    val appended = docs.filter($"doc_id" % 11 === 0)
      .select(($"doc_id" + 200000).as("doc_id"), $"text")
      .localCheckpoint(true)
    store.append(appended, "doc_id", "text")
    val grown = docs.select("doc_id", "text")
      .union(appended.select("doc_id", "text"))
    scoresOf(store.scoreBatch(batch, "doc_id", "text")) shouldBe
      scoresOf(NgramLm.scoreAgainst(batch, grown, "doc_id", "text"))
  }

  it("appendOnce is idempotent and the excludeToken view replays the " +
     "pre-append gate (the IngestIndex contract)") {
    val store = NgramLmStore.build(docs, "doc_id", "text", tmp(),
      loMicro = 20000L)
    val before = store.gate(batch, "doc_id", "text", Some("t#1")).kept
      .select("doc_id").as[Long].collect().sorted
    val kept = store.gate(batch, "doc_id", "text", Some("t#1"))
    store.append(kept, Some("t#1"))
    val st = store.stats
    store.append(kept, Some("t#1")) // replay: no-op
    store.stats shouldBe st
    // replay view: the gate reproduces its pre-append answer
    store.gate(batch, "doc_id", "text", Some("t#1")).kept
      .select("doc_id").as[Long].collect().sorted shouldBe before
  }

  it("count partials compact past the threshold by SUMMING — scores " +
     "unchanged, active listing bounded") {
    val key = "spark.graft.index.compactThreshold"
    spark.conf.set(key, "2")
    try {
      val path = tmp()
      val store = NgramLmStore.build(docs.filter($"doc_id" % 4 === 0),
        "doc_id", "text", path)
      (1 to 3).foreach { i =>
        store.append(docs.filter($"doc_id" % 4 === i), "doc_id", "text")
      }
      new java.io.File(s"$path/counts").listFiles()
        .map(_.getName).count(_.startsWith("append=c")) should be >= 1
      scoresOf(store.scoreBatch(batch, "doc_id", "text")) shouldBe
        scoresOf(NgramLm.scoreAgainst(batch, docs, "doc_id", "text"))
    } finally spark.conf.unset(key)
  }

  it("a reader PLANNED before a compaction still collects correctly " +
     "after a default-retention vacuum (superseded dirs survive the " +
     "window); only a zero-retention vacuum unlinks them — the documented " +
     "failure mode for readers older than the window") {
    val key = "spark.graft.index.compactThreshold"
    spark.conf.set(key, "2")
    try {
      val path = tmp()
      val store = NgramLmStore.build(docs.filter($"doc_id" % 4 === 0),
        "doc_id", "text", path)
      store.append(docs.filter($"doc_id" % 4 === 1), "doc_id", "text")
      store.append(docs.filter($"doc_id" % 4 === 2), "doc_id", "text")
      // pin a reader NOW: the plan's file index resolves the three
      // pre-compaction dirs (a000001..a000003)
      val pinned = store.scorePlanFor(batch, "doc_id", "text")
      val expect = scoresOf(NgramLm.scoreAgainst(batch,
        docs.filter($"doc_id" % 4 <= 2), "doc_id", "text"))
      // the next append folds a000001..a000003 into a superseding dir
      store.append(docs.filter($"doc_id" % 4 === 3), "doc_id", "text")
      new java.io.File(s"$path/counts").listFiles()
        .map(_.getName).count(_.startsWith("append=c")) should be >= 1
      // DEFAULT retention (1h): vacuum may remove NOTHING yet...
      store.vacuum() shouldBe 0
      // ...so the pinned pre-compaction reader completes correctly
      scoresOf(pinned) shouldBe expect
      // past retention the superseded dirs ARE unlinked: a reader older
      // than the window sees FileNotFoundException — the documented
      // trade (ManifestLog concurrency contract: size
      // spark.graft.index.vacuumRetentionMs to cover the longest query)
      spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
      try store.vacuum() should be >= 3
      finally spark.conf.unset("spark.graft.index.vacuumRetentionMs")
      new java.io.File(s"$path/counts").listFiles()
        .map(_.getName).count(_.startsWith("append=a")) shouldBe 1 // newest
    } finally spark.conf.unset(key)
  }

  it("a small append and a compaction fold each write one parquet file " +
     "directly under their append=<id>/ dir (no wb= bucket dirs)") {
    val key = "spark.graft.index.compactThreshold"
    spark.conf.set(key, "2")
    try {
      val path = tmp()
      val store = NgramLmStore.build(docs.filter($"doc_id" % 4 === 0),
        "doc_id", "text", path)
      (1 to 3).foreach { i =>
        store.append(docs.filter($"doc_id" % 4 === i), "doc_id", "text")
      }
      val dirs = new java.io.File(s"$path/counts").listFiles()
        .filter(_.getName.startsWith("append=")).sortBy(_.getName)
      dirs.map(_.getName.take(8)).toSet shouldBe Set("append=a", "append=c")
      for (d <- dirs) withClue(s"${d.getName}: ") {
        val entries = d.listFiles().map(_.getName)
        entries.count(n => n.startsWith("part-") && n.endsWith(".parquet")) shouldBe 1
        d.listFiles().filter(_.isDirectory) shouldBe empty
      }
    } finally spark.conf.unset(key)
  }

  it("the score plan reads the stored counts ONCE: one file scan over " +
     "every active dir, and no reused exchange (no model self-join)") {
    val path = tmp()
    val store = NgramLmStore.build(docs, "doc_id", "text", path)
    store.append(docs.filter($"doc_id" % 3 === 0)
      .select(($"doc_id" + 300000).as("doc_id"), $"text"), "doc_id", "text")
    val plan = store.scorePlanFor(batch, "doc_id", "text")
    plan.collect()
    val exec = plan.queryExecution.executedPlan
    val scans = graft.plans.PlanWalk.collectAll(exec) {
      case f: FileSourceScanExec => f.relation.location.rootPaths.size
    }
    scans shouldBe Seq(2)
    graft.plans.PlanWalk.collectAll(exec) {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
    } shouldBe empty
  }

  it("a degenerate FIRST build (no bigrams/postings/windows) is refused " +
     "with a clear error instead of wedging every later read") {
    val shorts = Seq((1L, "single"), (2L, "word")).toDF("doc_id", "text")
    (intercept[IllegalArgumentException] {
      NgramLmStore.build(shorts, "doc_id", "text", tmp())
    }).getMessage should include("no bigrams")
    (intercept[IllegalArgumentException] {
      Bm25Store.build(shorts.filter(lit(false)), "doc_id", "text", tmp())
    }).getMessage should include("no postings")
    (intercept[IllegalArgumentException] {
      SubstrIndex.build(shorts, "doc_id", "text", tmp(), k = 8)
    }).getMessage should include("8-token windows")
    (intercept[IllegalArgumentException] {
      NearDupIndex.build(shorts, "doc_id", "text", tmp(),
        numHashes = 16, bands = 4)
    }).getMessage should include("no shingles")
  }

  it("scoring a batch scans ONLY the stored model — history text never " +
     "appears in the plan (the 100 TB seam)") {
    val path = tmp()
    val store = NgramLmStore.build(docs, "doc_id", "text", path)
    val plan = store.scorePlanFor(batch, "doc_id", "text")
    plan.collect()
    val scanned = graft.plans.PlanWalk
      .collectAll(plan.queryExecution.executedPlan) {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
    scanned should not be empty
    scanned.count(!_.contains(path)) shouldBe 0
  }
}
