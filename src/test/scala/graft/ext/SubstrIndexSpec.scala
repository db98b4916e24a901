package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.GraftSpec

/** The persisted exact-substring gate index: stored-layout parity with
  * the per-call [[ExactSubstring.dupWindowReport]], append semantics, the
  * exactly-once replay contract, and the 100 TB property — a gate against
  * the stored index never re-reads history text.
  */
class SubstrIndexSpec extends GraftSpec {
  import spark.implicits._

  private val k = 4

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-ssidx-spec").toString + "/idx"

  private val history = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "one two three four five six seven")).toDF("doc_id", "text")

  private val batch = Seq(
    (10L, "alpha beta gamma delta epsilon zeta"),   // verbatim replay
    (11L, "fresh words then one two three four"),   // tail overlap
    (12L, "wholly novel content with no overlap"),
    (13L, "tiny")).toDF("doc_id", "text")           // < k tokens

  it("stored-index gate reproduces the per-call dupWindowReport exactly") {
    val idx = SubstrIndex.build(history, "doc_id", "text", tmp(), k)
    val stored = idx.dupWindowReport(batch, "doc_id", "text")
      .orderBy("doc_id")
      .select($"doc_id", $"n_windows", $"n_dup_windows")
      .as[(Long, Long, Long)].collect().toSeq
    val percall = ExactSubstring
      .dupWindowReport(batch, history, "doc_id", "text", k)
      .orderBy("doc_id")
      .select($"doc_id", $"n_windows", $"n_dup_windows")
      .as[(Long, Long, Long)].collect().toSeq
    stored shouldBe percall
    stored.map(_._3).sum should be > 0L
  }

  it("the gate's plan scans ONLY the index layout — history text never " +
     "appears (the 100 TB seam)") {
    val path = tmp()
    val hist = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val idx = SubstrIndex.build(hist, "doc_id", "text", path, k = 8)
    val probe = Seq((1L, hist.select("text").as[String].head()))
      .toDF("doc_id", "text")
    val rep = idx.reportPlanFor(probe, "doc_id", "text")
    val scanned = graft.plans.PlanWalk
      .collectAll(rep.queryExecution.executedPlan) {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
    scanned should not be empty
    all(scanned) should include(path)
    rep.where($"doc_id" === 1L).select("n_dup_windows")
      .as[Long].head() should be > 0L
  }

  it("append indexes survivors: batch 2 sees batch 1's fresh windows " +
     "through the stored relation, and keepFresh gates on them") {
    val idx = SubstrIndex.build(history, "doc_id", "text", tmp(), k)
    val st0 = idx.stats
    val kept1 = idx.keepFresh(batch, "doc_id", "text").localCheckpoint(true)
    // fully-verbatim doc 10 is gated; 11 (some dup windows) gated too at
    // maxDupWindows=0; 12 fresh survives; 13 has no windows -> survives
    kept1.select("doc_id").as[Long].collect().sorted shouldBe Array(12L, 13L)
    val st1 = idx.append(kept1, "doc_id", "text")
    st1.digests should be > st0.digests
    st1.k shouldBe k
    // a verbatim replay of the batch-1 SURVIVOR is now caught
    val b2 = Seq((20L, "wholly novel content with no overlap"))
      .toDF("doc_id", "text")
    idx.keepFresh(b2, "doc_id", "text").count() shouldBe 0L
  }

  it("appendOnce is idempotent under its token and a token-excluded gate " +
     "replays the pre-append answer (the IngestIndex contract)") {
    val idx = SubstrIndex.build(history, "doc_id", "text", tmp(), k)
    val token = "ss,stream#0" // commas legal (Manifest round-trip)
    val gated = idx.gate(batch, "doc_id", "text", Some(token))
    val original = gated.kept
    idx.append(gated, Some(token))
    val st1 = idx.stats
    idx.append(gated, Some(token)) // replay: no-op
    idx.stats shouldBe st1
    val replay = idx.gate(batch, "doc_id", "text", Some(token)).kept
    replay.select("doc_id").as[Long].collect().sorted shouldBe
      original.select("doc_id").as[Long].collect().sorted
    // a NON-excluded gate sees the appended windows and drops the
    // replays; the windowless doc 13 (< k tokens, zero verbatim risk by
    // definition) always passes
    idx.keepFresh(batch, "doc_id", "text")
      .select("doc_id").as[Long].collect() shouldBe Array(13L)
  }

  it("the generic streamed ingest loop runs over a SubstrIndex and " +
     "converges under micro-batch replay") {
    import graft.streaming.EventStream
    val path = tmp()
    val idx = SubstrIndex.build(history, "doc_id", "text", path, k)
    val out = graft.io.TempReaper.tempDir("graft-ss-replay").toString
    val b = batch.localCheckpoint(true)
    EventStream.indexedIngestBatch(idx, "doc_id", "text", out, "ss")(b, 0L)
    val kept1 = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").as[Long].collect().sorted
    val commits1 = new java.io.File(s"$path/_commits").listFiles().length
    // simulated crash-and-replay of the SAME micro-batch
    EventStream.indexedIngestBatch(idx, "doc_id", "text", out, "ss")(b, 0L)
    spark.read.parquet(s"$out/batch=0")
      .select("doc_id").as[Long].collect().sorted shouldBe kept1
    new java.io.File(s"$path/_commits").listFiles().length shouldBe commits1
    kept1 shouldBe Array(12L, 13L)
  }

  it("digest dirs compact past the threshold: gate answers unchanged, " +
     "active listing bounded, vacuum unlinks the superseded dirs") {
    val path = tmp()
    val key = "spark.graft.index.compactThreshold"
    spark.conf.set(key, "2")
    try {
      val idx = SubstrIndex.build(history, "doc_id", "text", path, k)
      (1 to 4).foreach { i =>
        val b = Seq((100L + i, s"novel batch $i words alpha$i beta$i gamma$i delta$i"))
          .toDF("doc_id", "text")
        idx.append(b, "doc_id", "text")
      }
      // a compaction commit published a folded dir
      new java.io.File(s"$path/digests").listFiles()
        .map(_.getName).count(_.startsWith("append=c")) should be >= 1
      // replays of every appended batch (including pre-compaction ones)
      // are still caught through the folded relation
      (1 to 4).foreach { i =>
        val replay = Seq((200L + i, s"novel batch $i words alpha$i beta$i gamma$i delta$i"))
          .toDF("doc_id", "text")
        idx.keepFresh(replay, "doc_id", "text").count() shouldBe 0L
      }
      val before = new java.io.File(s"$path/digests").listFiles().length
      // RETENTION GUARD: under the default 1h window the just-superseded
      // dirs are too young to unlink — the vacuum is refused, and a
      // reader that resolved its paths before the compaction still scans
      val reader = spark.read.parquet(
        new java.io.File(s"$path/digests").listFiles().map(_.getPath): _*)
      idx.vacuum() shouldBe 0
      reader.count() should be > 0L // every planned file survived
      new java.io.File(s"$path/digests").listFiles().length shouldBe before
      // retention 0 (a quiesced pipeline): the superseded dirs unlink
      spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
      val removed = idx.vacuum()
      removed should be > 0
      new java.io.File(s"$path/digests").listFiles().length shouldBe
        before - removed
      idx.vacuum() shouldBe 0
      idx.keepFresh(batch, "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted shouldBe
        ExactSubstring.dupWindowReport(batch, history, "doc_id", "text", k)
          .where($"n_dup_windows" === 0).select("doc_id")
          .as[Long].collect().sorted
    } finally {
      spark.conf.unset(key)
      spark.conf.unset("spark.graft.index.vacuumRetentionMs")
    }
  }

  it("open() restores k from stats, rejects missing layouts, and build " +
     "refuses an occupied path; crashed (uncommitted) appends are invisible") {
    val path = tmp()
    SubstrIndex.build(history, "doc_id", "text", path, k = 6)
    SubstrIndex.open(spark, path).stats.k shouldBe 6
    an[Exception] should be thrownBy SubstrIndex.open(spark, tmp())
    an[Exception] should be thrownBy
      SubstrIndex.build(history, "doc_id", "text", path, k = 6)
    val idx = SubstrIndex.open(spark, path)
    val before = idx.dupWindowReport(batch, "doc_id", "text")
      .agg(sum("n_dup_windows")).as[Long].head()
    // a writer that died after data but before its marker
    Seq("deadbeef").toDF("dg").write.parquet(s"$path/digests/append=a999999")
    idx.dupWindowReport(batch, "doc_id", "text")
      .agg(sum("n_dup_windows")).as[Long].head() shouldBe before
  }

  it("a crashed append's orphan dir is cleared on replay instead of " +
     "wedging errorifexists, and its rows never become visible") {
    val path = tmp()
    val idx = SubstrIndex.build(history, "doc_id", "text", path, k)
    // the NEXT append seq is 2; a predecessor wrote its data dir for that
    // seq but died before the marker commit
    Seq("deadbeefdeadbeefdeadbeefdeadbeef").toDF("dg")
      .write.parquet(s"$path/digests/append=a000002")
    val fresh = Seq((50L, "totally new sentence with unique words here"))
      .toDF("doc_id", "text") // 7 tokens, k=4 → exactly 4 distinct windows
    val before = idx.stats.digests
    val st = idx.append(fresh, "doc_id", "text")
    // stats counted only the replayed append's digests — the orphan's row
    // was cleared, not merged
    st.digests shouldBe before + 4
    spark.read.parquet(s"$path/digests/append=a000002")
      .filter($"dg" === "deadbeefdeadbeefdeadbeefdeadbeef")
      .count() shouldBe 0L
  }

  it("appending a fully-dropped (empty) gated batch commits cleanly; the " +
     "gate stays correct across it") {
    val idx = SubstrIndex.build(history, "doc_id", "text", tmp(), k)
    val before = idx.stats
    val st = idx.appendOnce(history.filter(lit(false)), "doc_id", "text",
      "empty#1")
    st.digests shouldBe before.digests
    idx.keepFresh(batch, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted shouldBe
      ExactSubstring.dupWindowReport(batch, history, "doc_id", "text", k)
        .where($"n_dup_windows" === 0).select("doc_id")
        .as[Long].collect().sorted
  }

  it("a junk compactThreshold conf fails NAMING the conf, not with an " +
     "anonymous NumberFormatException mid-append") {
    val key = "spark.graft.index.compactThreshold"
    val idx = SubstrIndex.build(history, "doc_id", "text", tmp(), k)
    spark.conf.set(key, "lots")
    try {
      val e = intercept[IllegalArgumentException] {
        idx.append(Seq((60L, "some novel appended words flowing along here"))
          .toDF("doc_id", "text"), "doc_id", "text")
      }
      e.getMessage should include(key)
    } finally spark.conf.unset(key)
  }
}
