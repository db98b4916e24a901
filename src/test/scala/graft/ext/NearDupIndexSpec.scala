package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.GraftSpec

/** The persisted near-dup index loop (r6 directive #1): stored-layout
  * parity with the per-call pipeline, append semantics, statistics-fed
  * Bloom sizing, and the load-bearing 100 TB property — a gate against the
  * stored index reads NO history text, only the index layout.
  */
class NearDupIndexSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-ndidx-spec").toString + "/idx"

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")

  private def incomingOf(base: DataFrame): DataFrame = {
    val nearReplay = base.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("source"),
        concat(col("text"), lit(" zzztail")).as("text"))
    val novel = base.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("source"),
        array_join(transform(split(col("text"), " "),
          (tok, i) => when(i % 3 === 0, concat(tok, lit("x"))).otherwise(tok)),
          " ").as("text"))
    nearReplay.union(novel)
  }

  it("stored-index gate reproduces MinHashLSH.keepUnseenNear exactly " +
     "(digest Jaccard == shingle Jaccard)") {
    val idx = NearDupIndex.build(docs, "doc_id", "text", tmp())
    val incoming = incomingOf(docs)
    val stored = idx.keepUnseen(incoming, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    val percall = MinHashLSH.keepUnseenNear(incoming, docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    stored shouldBe percall
    stored.length should be > 0
  }

  it("a gate against the stored index scans ONLY the index layout — no " +
     "history text file appears in the plan (the 100 TB seam)") {
    val path = tmp()
    val idx = NearDupIndex.build(docs, "doc_id", "text", path)
    // incoming is an in-memory frame, so every file scan in the gate's plan
    // must live under the index path
    val incoming = Seq((1L, "src0", docs.select("text").as[String].head()))
      .toDF("doc_id", "source", "text")
    val dup = idx.pairsPlanFor(incoming, "doc_id", "text")
    val scanned = graft.plans.PlanWalk
      .collectAll(dup.queryExecution.executedPlan) {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
    scanned should not be empty
    all(scanned) should include(path)
    // and the gate works: the copied first document near-dups history
    dup.select("doc_inc").as[Long].collect() should contain(1L)
  }

  it("append indexes a batch's survivors: their near-replays are caught by " +
     "the NEXT batch's gate, and stats move") {
    val idx = NearDupIndex.build(docs, "doc_id", "text", tmp())
    val st0 = idx.stats
    val b1 = incomingOf(docs)
    val kept1 = idx.keepUnseen(b1, "doc_id", "text").localCheckpoint(true)
    val st1 = idx.append(kept1, "doc_id", "text")
    st1.docs shouldBe st0.docs + kept1.filter(
      org.apache.spark.sql.functions.size(
        MinHashLSH.shingleDigests(col("text"))).gt(lit(0))).count()
    st1.bandKeys should be >= st0.bandKeys
    // batch 2: near-replays of batch-1 SURVIVORS — only the append knows them
    val b2 = kept1.select((col("doc_id") + 300000).as("doc_id"), col("source"),
      concat(col("text"), lit(" zzztail2")).as("text"))
    val kept2 = idx.keepUnseen(b2, "doc_id", "text")
    kept2.count() shouldBe 0L
  }

  it("open() restores parameters from the stored stats and rejects a " +
     "missing layout") {
    val path = tmp()
    NearDupIndex.build(docs, "doc_id", "text", path,
      numHashes = 8, bands = 2, maxBucket = 50)
    val reopened = NearDupIndex.open(spark, path)
    val st = reopened.stats
    st.numHashes shouldBe 8
    st.bands shouldBe 2
    st.maxBucket shouldBe 50
    st.docs should be > 0L
    an[Exception] should be thrownBy NearDupIndex.open(spark, tmp())
  }

  it("build refuses a path that already holds an index") {
    val path = tmp()
    NearDupIndex.build(docs, "doc_id", "text", path)
    an[Exception] should be thrownBy
      NearDupIndex.build(docs, "doc_id", "text", path)
  }

  it("counts/ partials compact past the threshold: the gate result is " +
     "unchanged and the active dir count stays bounded across appends") {
    val path = tmp()
    val key = "spark.graft.index.compactThreshold"
    spark.conf.set(key, "2")
    try {
      val idx = NearDupIndex.build(docs, "doc_id", "text", path)
      // several disjoint novel batches — each append adds a counts dir,
      // so the threshold (2) is crossed and compaction folds them
      (1 to 4).foreach { i =>
        val b = docs.filter(col("doc_id") % 7 === i % 7)
          .select((col("doc_id") + i * 1000000L).as("doc_id"), col("source"),
            concat(lit(s"novelbatch$i "), col("text")).as("text"))
        val kept = idx.keepUnseen(b, "doc_id", "text").localCheckpoint(true)
        idx.append(kept, "doc_id", "text")
      }
      val commits = new java.io.File(s"$path/_commits").listFiles()
        .map(_.getName).filterNot(_.startsWith(".")).sorted
      commits.length should be > 5 // 5 appends + >=1 compaction commit
      // a compaction published a folded counts dir
      new java.io.File(s"$path/counts").listFiles()
        .map(_.getName).count(_.startsWith("append=c")) should be >= 1
      // and the gate over the compacted index still equals the per-call
      // pipeline against the same accumulated history
      val history = spark.read.parquet(
        new java.io.File(s"$path/digests").listFiles()
          .map(_.getPath): _*) // all committed digests = indexed corpus ids
      val probe = incomingOf(docs)
      val stored = idx.keepUnseen(probe, "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted
      stored.length should be > 0
      // near-replays of ROUND-3-appended docs are caught post-compaction
      val b3replay = docs.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 9000000L).as("doc_id"), col("source"),
          concat(lit("novelbatch3 "), col("text")).as("text"))
      idx.keepUnseen(b3replay, "doc_id", "text").count() shouldBe 0L
      history.count() should be > 0L
      // VACUUM unlinks the superseded counts dirs; the active set (and
      // therefore every gate answer) is untouched
      val preVacuum = new java.io.File(s"$path/counts").listFiles().length
      // retention guard: superseded dirs younger than the window are kept
      idx.vacuum() shouldBe 0
      new java.io.File(s"$path/counts").listFiles().length shouldBe preVacuum
      spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
      val removed = idx.vacuum()
      removed should be > 0
      new java.io.File(s"$path/counts").listFiles().length shouldBe
        preVacuum - removed
      idx.vacuum() shouldBe 0 // idempotent: nothing left to unlink
      idx.keepUnseen(b3replay, "doc_id", "text").count() shouldBe 0L
      idx.keepUnseen(probe, "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted shouldBe stored
    } finally {
      spark.conf.unset(key)
      spark.conf.unset("spark.graft.index.vacuumRetentionMs")
    }
  }

  it("appending a fully-dropped (empty) gated batch commits cleanly; the " +
     "gate stays correct across it") {
    val idx = NearDupIndex.build(docs, "doc_id", "text", tmp())
    val before = idx.stats
    val st = idx.appendOnce(docs.filter(lit(false)), "doc_id", "text",
      "empty#1")
    st.docs shouldBe before.docs
    st.bandKeys shouldBe before.bandKeys
    // replays of indexed docs are still caught across the empty append
    val replay = docs.limit(5)
      .select((col("doc_id") + 7000000L).as("doc_id"), col("source"),
        col("text"))
    idx.keepUnseen(replay, "doc_id", "text").count() shouldBe 0L
  }

  it("appendOnce is idempotent under its token, and a token-excluded gate " +
     "reproduces the pre-append answer (the micro-batch replay contract)") {
    val idx = NearDupIndex.build(docs, "doc_id", "text", tmp())
    val batch = incomingOf(docs)
    val token = "stream#0"
    val original = idx.keepUnseen(batch, "doc_id", "text",
        excludeToken = Some(token)).localCheckpoint(true)
    val st1 = idx.appendOnce(original, "doc_id", "text", token)
    // replayed append: same token -> no-op, stats and doc count unchanged
    val st2 = idx.appendOnce(original, "doc_id", "text", token)
    st2 shouldBe st1
    // replayed GATE: excluding its own committed append, the batch sees
    // the index as it stood before -> identical survivors
    val replay = idx.keepUnseen(batch, "doc_id", "text",
      excludeToken = Some(token))
    replay.select("doc_id").as[Long].collect().sorted shouldBe
      original.select("doc_id").as[Long].collect().sorted
    // while a NON-excluded gate sees the appended rows and drops replays
    val vs = idx.keepUnseen(batch, "doc_id", "text")
    vs.count() shouldBe 0L
  }

  it("the streamed index loop equals the batch loop, and a replayed " +
     "micro-batch converges to the same output and index state") {
    import graft.streaming.EventStream
    val path = tmp()
    val idx = NearDupIndex.build(docs, "doc_id", "text", path)
    val batch = incomingOf(docs).localCheckpoint(true)
    val out = graft.io.TempReaper.tempDir("graft-replay-out").toString
    // first delivery of micro-batch 0
    EventStream.indexedIngestBatch(idx, "doc_id", "text", out, "t")(batch, 0L)
    val kept1 = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").as[Long].collect().sorted
    val commits1 = new java.io.File(s"$path/_commits").listFiles().length
    // simulated crash-and-replay of the SAME micro-batch
    EventStream.indexedIngestBatch(idx, "doc_id", "text", out, "t")(batch, 0L)
    val kept2 = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").as[Long].collect().sorted
    kept2 shouldBe kept1 // output identical
    new java.io.File(s"$path/_commits").listFiles().length shouldBe commits1
    kept1.length should be > 0
  }

  it("a manifest token round-trips byte-exact — including commas, which " +
     "the id-list fields split on (exactly-once depends on this)") {
    val m = Manifest(
      rels = Seq("digests", "bands", "counts").map(_ -> Seq("a000001")).toMap,
      token = Some("stream,epoch=3,attempt=2"))
    Manifest.parse(m.render) shouldBe m
    // and end-to-end: appendOnce under a comma token is still a no-op on replay
    val idx = NearDupIndex.build(docs, "doc_id", "text", tmp())
    val token = "job=ingest,batch=0"
    val kept = idx.keepUnseen(incomingOf(docs), "doc_id", "text",
      excludeToken = Some(token)).localCheckpoint(true)
    val st1 = idx.appendOnce(kept, "doc_id", "text", token)
    val st2 = idx.appendOnce(kept, "doc_id", "text", token)
    st2 shouldBe st1
  }

  it("a crashed (uncommitted) append is invisible: orphan data dirs " +
     "without a marker never reach a reader's plan") {
    val path = tmp()
    val idx = NearDupIndex.build(docs, "doc_id", "text", path)
    val before = idx.keepUnseen(incomingOf(docs), "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    // simulate a writer that died after data writes but BEFORE its commit
    // marker: junk rows in fresh append dirs, no manifest
    docs.limit(5).select(col("doc_id"), MinHashLSH.shingleDigests(col("text")).as("ds"))
      .write.parquet(s"$path/digests/append=a999999")
    spark.range(3).select(lit(0).as("b"), lit("junk").as("bkey"),
      col("id").as("doc_id")).write.parquet(s"$path/bands/append=a999999")
    spark.range(3).select(lit(0).as("b"), lit("junk").as("bkey"),
      lit(1L).as("c")).write.parquet(s"$path/counts/append=a999999")
    val after = idx.keepUnseen(incomingOf(docs), "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    after shouldBe before
  }
}
