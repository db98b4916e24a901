package graft.ext

import org.apache.spark.sql.functions._

import graft.GraftSpec

/** The terminal shard materialization ([[ShardWriter]] / the declared
  * `shard_write` stage): deterministic assignment, integrity report
  * computed from the bytes on disk, exactly-once tokens, crash replay,
  * and the parameter surface.
  */
class ShardWriterSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-shard-spec")
      .toString + "/st"

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
    .select("doc_id", "text")

  it("the persisted report equals a recomputation from the shards read " +
     "back, every row lands exactly once, and greedy capacity holds " +
     "within every stream") {
    val path = tmp()
    ShardWriter.write(docs, "doc_id", "text", path, capacity = 2000)
    val shards = ShardWriter.shards(spark, path)
    shards.count() shouldBe docs.count()
    shards.select("doc_id").distinct().count() shouldBe docs.count()
    val persisted = ShardWriter.report(spark, path).drop("round")
    val recomputed = ShardWriter.reportOf(shards, "doc_id", "text")
    persisted.orderBy("stream", "bin").collect() shouldBe
      recomputed.orderBy("stream", "bin").collect()
    // capacity: every bin's units fit, except single-doc oversized bins
    val over = persisted
      .filter(col("units") > 2000 && col("n_docs") > 1).count()
    over shouldBe 0L
    // streams: 16 hex prefixes (or fewer if a prefix is empty at this SF)
    persisted.select("stream").distinct().count() should be <= 16L
    // file discipline: the cluster-before-partitionBy write leaves at
    // most ONE part file per shard (the dq127 fan-out rule) — a loader
    // opens #shards files, not #tasks × #shards
    val partFiles = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$path/data"))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .count()
    partFiles should be <= persisted.count()
  }

  it("a token-carrying write is exactly-once: the replay recognizes the " +
     "committed token and appends nothing; a different token appends a " +
     "second round") {
    val path = tmp()
    ShardWriter.write(docs, "doc_id", "text", path, capacity = 2000,
      token = Some("run#1")) should be > 0L
    val firstRows = ShardWriter.shards(spark, path).count()
    ShardWriter.write(docs, "doc_id", "text", path, capacity = 2000,
      token = Some("run#1")) shouldBe 0L // replay: no-op
    ShardWriter.shards(spark, path).count() shouldBe firstRows
    ShardWriter.report(spark, path).select("round").distinct()
      .count() shouldBe 1L
    ShardWriter.write(docs.limit(5), "doc_id", "text", path,
      capacity = 2000, token = Some("run#2")) should be > 0L
    ShardWriter.report(spark, path).select("round").distinct()
      .count() shouldBe 2L
    ShardWriter.shards(spark, path).count() shouldBe firstRows + 5L
  }

  it("a crash BEFORE the commit leaves the layout invisible; the retry " +
     "under the same token lands the set exactly once (orphans cleared)") {
    val path = tmp()
    ManifestLog.failCommitUnder = Some(path)
    try {
      intercept[IllegalStateException] {
        ShardWriter.write(docs, "doc_id", "text", path, capacity = 2000,
          token = Some("run#1"))
      }
      ShardWriter.exists(spark, path) shouldBe false
    } finally ManifestLog.failCommitUnder = None
    ShardWriter.write(docs, "doc_id", "text", path, capacity = 2000,
      token = Some("run#1")) should be > 0L
    ShardWriter.shards(spark, path).count() shouldBe docs.count()
    // and the retry's replay is still a no-op
    ShardWriter.write(docs, "doc_id", "text", path, capacity = 2000,
      token = Some("run#1")) shouldBe 0L
  }

  it("units 'subtokens' sizes by the token array; an epoch column from a " +
     "repeat stage gives every copy its own key; streams=1 packs one " +
     "'all' stream; oversized docs get their own bin") {
    val toks = Seq(
      (1L, "a b", Seq("a", "b"), 1L), (1L, "a b", Seq("a", "b"), 2L),
      (2L, "c d e", Seq("c", "d", "e"), 1L),
      (3L, "f " * 40, Seq.fill(80)("f"), 1L))
      .toDF("doc_id", "text", "subtokens", "epoch")
    val a = ShardWriter.assign(toks, "doc_id", "text", "subtokens",
      capacity = 4, epoch = 1, streams = 1)
    a.select("stream").distinct().as[String].collect() shouldBe Array("all")
    // epoch-distinct keys: the two copies of doc 1 have different skey
    a.filter($"doc_id" === 1L).select("skey").distinct().count() shouldBe 2L
    // units are token counts
    a.filter($"doc_id" === 2L).select("units").as[Long].head() shouldBe 3L
    // the 80-token doc exceeds capacity 4: it sits alone in its bin
    val oversizedBin = a.filter($"doc_id" === 3L)
      .select("bin").as[Long].head()
    a.filter($"bin" === oversizedBin).count() shouldBe 1L
    // every greedy bin respects capacity unless it is a lone oversize
    val perBin = a.groupBy("bin")
      .agg(sum("units").as("u"), count(lit(1)).as("n")).collect()
    perBin.filter(r => r.getLong(1) > 4L && r.getLong(2) > 1L) shouldBe empty
  }

  it("units 'bytes' sizes by the declared binary column's octet_length, " +
     "the integrity hashes COVER the payload bytes (a flipped payload " +
     "byte fails verify; an undeclared verify cannot match), and the " +
     "report round-trips") {
    val path = tmp()
    val media = docs.select($"doc_id",
      Multimodal.syntheticImagePayload($"doc_id").as("payload"),
      $"text".as("caption"))
    ShardWriter.write(media, "doc_id", "caption", path, capacity = 512,
      units = "bytes", binaryCol = Some("payload"))
    val shards = ShardWriter.shards(spark, path)
    shards.count() shouldBe media.count()
    // units are payload byte counts, never caption chars
    shards.filter($"units" =!= octet_length($"payload").cast("long"))
      .count() shouldBe 0L
    // the persisted report equals a payload-covering recomputation
    val persisted = ShardWriter.report(spark, path).drop("round")
    val recomputed = ShardWriter.reportOf(shards, "doc_id", "caption",
      binaryCol = Some("payload"))
    persisted.orderBy("stream", "bin").collect() shouldBe
      recomputed.orderBy("stream", "bin").collect()
    // a verify with the same declaration is clean…
    ShardWriter.verify(spark, path, "doc_id", "caption",
      binaryCol = Some("payload")).filter(!col("ok")).count() shouldBe 0L
    // …one WITHOUT it recomputes text-only hashes and cannot match the
    // payload-covering manifest: the declaration is part of the contract
    ShardWriter.verify(spark, path, "doc_id", "caption")
      .filter(col("ok")).count() shouldBe 0L
    // flip ONE payload byte in one shard file: exactly that shard fails
    val dataDir = java.nio.file.Paths.get(s"$path/data/append=a000001")
    val victim = java.nio.file.Files.walk(dataDir)
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get().getParent
    val bin = victim.getFileName.toString.stripPrefix("bin=").toLong
    val stream = victim.getParent.getFileName.toString
      .stripPrefix("stream=")
    val flipped = spark.read.parquet(victim.toString)
      .withColumn("payload",
        concat($"payload", lit(Array[Byte](0x7f))))
      .localCheckpoint(true)
    flipped.coalesce(1).write.mode("overwrite").parquet(victim.toString)
    val bad = ShardWriter.verify(spark, path, "doc_id", "caption",
      binaryCol = Some("payload")).filter(!col("ok")).collect()
    bad.length shouldBe 1
    bad.head.getAs[String]("stream") shouldBe stream
    bad.head.getAs[Long]("bin") shouldBe bin
  }

  it("parameter surface: reserved columns, unknown units, bad streams, " +
     "and the declared stage's strict parse") {
    intercept[IllegalArgumentException] {
      ShardWriter.assign(docs.withColumn("bin", lit(1)), "doc_id", "text",
        "chars", 100, 1, 16)
    }.getMessage should include("reserved")
    intercept[IllegalArgumentException] {
      ShardWriter.assign(docs, "doc_id", "text", "pixels", 100, 1, 16)
    }.getMessage should include("unknown units")
    // 'bytes' is a real kind now, but needs the binary declaration…
    intercept[IllegalArgumentException] {
      ShardWriter.assign(docs, "doc_id", "text", "bytes", 100, 1, 16)
    }.getMessage should include("binary")
    // …and the declared column must exist in the input
    intercept[IllegalArgumentException] {
      ShardWriter.assign(docs, "doc_id", "text", "bytes", 100, 1, 16,
        binaryCol = Some("payload"))
    }.getMessage should include("'payload'")
    intercept[IllegalArgumentException] {
      ShardWriter.assign(docs, "doc_id", "text", "chars", 100, 1, 7)
    }.getMessage should include("streams")
    intercept[IllegalArgumentException] {
      ShardWriter.assign(docs, "doc_id", "text", "subtokens", 100, 1, 16)
    }.getMessage should include("bpe_tokenize")
    // duplicated (epoch, id) rows are refused by name, not multiplied —
    // the check rides the pack's own sort (r18: no standalone dup-check
    // job), so the refusal surfaces at the consuming action wrapped in
    // Spark's task-failure error; the named message is preserved
    val dupEx = intercept[Exception] {
      ShardWriter.assign(docs.limit(3).unionByName(docs.limit(3)),
        "doc_id", "text", "chars", 100, 1, 16).count()
    }
    (Iterator.iterate(dupEx: Throwable)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
      should include("duplicate"))
    def bad(json: String, frag: String): Unit =
      intercept[IllegalArgumentException] {
        graft.plan.CurationConfig.parse(json)
      }.getMessage should include(frag)
    bad("""{"table":"t","id":"i","text":"x",
        | "stages":[{"stage":"shard_write","path":"/p"}]}""".stripMargin,
      "'capacity'")
    bad("""{"table":"t","id":"i","text":"x",
        | "stages":[{"stage":"shard_write","path":"/p","capacity":0}]}"""
        .stripMargin, ">= 1")
    bad("""{"table":"t","id":"i","text":"x",
        | "stages":[{"stage":"shard_write","path":"/p","capacity":10,
        |  "units":"bytes"}]}""".stripMargin, "units")
    bad("""{"table":"t","id":"i","text":"x",
        | "stages":[{"stage":"shard_write","path":"/p","capacity":10,
        |  "streams":7}]}""".stripMargin, "streams")
    // units 'bytes' and 'binary' travel together, both ways
    bad("""{"table":"t","id":"i","text":"x",
        | "stages":[{"stage":"shard_write","path":"/p","capacity":10,
        |  "units":"bytes"}]}""".stripMargin, "'binary'")
    bad("""{"table":"t","id":"i","text":"x",
        | "stages":[{"stage":"shard_write","path":"/p","capacity":10,
        |  "units":"chars","binary":"payload"}]}""".stripMargin,
      "only meaningful")
  }

  it("verify: a fresh set is all ok; a flipped row, an orphan directory, " +
     "and a lost shard each surface as one named ok=false row; 'rounds' " +
     "scopes the read to one append") {
    val path = tmp()
    ShardWriter.write(docs, "doc_id", "text", path, capacity = 2000,
      token = Some("run#1"))
    val v1 = ShardWriter.verify(spark, path, "doc_id", "text")
    v1.filter(!col("ok")).count() shouldBe 0L
    v1.count() shouldBe ShardWriter.report(spark, path).count()

    // flip one row's text inside one shard file: only that shard's
    // disk-side content md5 can move (n_docs and the stored units don't)
    val dataDir = java.nio.file.Paths.get(s"$path/data/append=a000001")
    val victim = java.nio.file.Files.walk(dataDir)
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get().getParent
    val bin = victim.getFileName.toString.stripPrefix("bin=").toLong
    val stream = victim.getParent.getFileName.toString
      .stripPrefix("stream=")
    val flipped = spark.read.parquet(victim.toString)
      .withColumn("text", concat(col("text"), lit("!bitflip")))
      .localCheckpoint(true) // sever lineage before overwriting the files
    flipped.coalesce(1).write.mode("overwrite").parquet(victim.toString)
    val v2 = ShardWriter.verify(spark, path, "doc_id", "text")
    val bad = v2.filter(!col("ok")).collect()
    bad.length shouldBe 1
    bad.head.getAs[String]("stream") shouldBe stream
    bad.head.getAs[Long]("bin") shouldBe bin
    bad.head.getAs[String]("manifest_md5") should not be
      bad.head.getAs[String]("disk_md5")

    // an orphan shard directory the manifest never committed, and a
    // committed shard whose directory is gone: each is one named row
    spark.read.parquet(victim.toString).limit(1)
      .write.parquet(s"$path/data/append=a000001/stream=zz/bin=99")
    val lost = java.nio.file.Files.walk(dataDir)
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map[java.nio.file.Path](_.getParent).distinct()
      .filter(p => p != victim &&
        !p.toString.contains("stream=zz")).findFirst().get()
    val lostBin = lost.getFileName.toString.stripPrefix("bin=").toLong
    val lostStream = lost.getParent.getFileName.toString
      .stripPrefix("stream=")
    java.nio.file.Files.walk(lost)
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => { java.nio.file.Files.delete(p); () })
    val v3 = ShardWriter.verify(spark, path, "doc_id", "text")
    v3.filter(!col("ok")).count() shouldBe 3L
    v3.filter(col("stream") === "zz" && col("bin") === 99L)
      .select("manifest_md5").head().isNullAt(0) shouldBe true
    v3.filter(col("stream") === lostStream && col("bin") === lostBin)
      .select("disk_md5").head().isNullAt(0) shouldBe true

    // a second append verifies clean in isolation via 'rounds' — the
    // per-new-append production cadence
    ShardWriter.write(docs.limit(7), "doc_id", "text", path,
      capacity = 2000, token = Some("run#2"))
    val v4 = ShardWriter.verify(spark, path, "doc_id", "text",
      rounds = Some(Seq(2L)))
    v4.select("round").distinct().as[Long].collect() shouldBe Array(2L)
    v4.filter(!col("ok")).count() shouldBe 0L
    intercept[IllegalArgumentException] {
      ShardWriter.verify(spark, path, "doc_id", "text",
        rounds = Some(Seq(9L)))
    }.getMessage should include("no committed round")

    // a LOST round-1 data TREE: verify reports (doesn't crash) — every
    // round-1 manifest shard flags ok=false with a null disk hash, and
    // the round-2 scoped check is untouched by round-1 damage
    def rmTree(p: String): Unit =
      java.nio.file.Files.walk(java.nio.file.Paths.get(p))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.delete(f); () })
    rmTree(s"$path/data/append=a000001")
    val round1Shards = ShardWriter.report(spark, path)
      .filter(col("round") === 1L).count()
    val v5 = ShardWriter.verify(spark, path, "doc_id", "text")
    v5.filter(col("round") === 1L && col("ok")).count() shouldBe 0L
    v5.filter(col("round") === 1L).count() shouldBe round1Shards
    v5.filter(col("round") === 1L)
      .select("disk_md5").collect().foreach(_.isNullAt(0) shouldBe true)
    ShardWriter.verify(spark, path, "doc_id", "text",
      rounds = Some(Seq(2L))).filter(!col("ok")).count() shouldBe 0L

    // a damaged REPORT dir is the one named error (nothing to diff
    // against) — and it still doesn't poison a verify scoped elsewhere
    rmTree(s"$path/report/append=a000001")
    intercept[IllegalStateException] {
      ShardWriter.verify(spark, path, "doc_id", "text").collect()
    }.getMessage should include("manifest itself is damaged")
    ShardWriter.verify(spark, path, "doc_id", "text",
      rounds = Some(Seq(2L))).filter(!col("ok")).count() shouldBe 0L
  }

  it("the declared stage composes: bpe_tokenize feeds units 'subtokens', " +
     "rows pass through with the assignment appended, and the streamed " +
     "runner accepts the chain (per-micro-batch shard sets)") {
    val d = dir
    val base = graft.io.TempReaper.tempDir("graft-shard-stage").toString
    val cfg =
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "bpe_tokenize", "path": "$base/bpe", "numMerges": 3},
        |   {"stage": "shard_write", "path": "$base/st", "capacity": 64,
        |    "units": "subtokens", "streams": 16}]}""".stripMargin
    val p = graft.plan.CurationConfig.parse(cfg)
    val full = spark.read.parquet(s"$d/documents.parquet")
    val out = p.run(spark, d, Some("r1"))
    out.count() shouldBe full.count()
    out.columns should contain allOf ("skey", "units", "stream", "bin")
    ShardWriter.shards(spark, s"$base/st").count() shouldBe full.count()
    // outputSchema contract holds through the composed chain
    val shape = p.outputSchema(full.schema).fields.map(f => (f.name, f.dataType))
    out.schema.fields.map(f => (f.name, f.dataType)) shouldBe shape
    // rerun under the same runId: the stage token makes the write a
    // no-op — still one committed round
    p.run(spark, d, Some("r1")).count() shouldBe docs.count()
    ShardWriter.report(spark, s"$base/st").select("round").distinct()
      .count() shouldBe 1L
  }
}
