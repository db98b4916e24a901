package graft.plan

import org.apache.spark.sql.functions._

import graft.GraftSpec

/** Config-driven curation pipeline: strict parsing (the ReportConfig
  * fail-at-parse rule) and stage composition semantics.
  */
class CurationConfigSpec extends GraftSpec {
  import spark.implicits._

  private def dir: String = {
    // a tiny parquet table the pipeline can load like testdata
    val d = graft.io.TempReaper.tempDir("graft-curation").toString
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again today"), // dup of 1
      (3L, "short text"),                                              // < minTokens
      (4L, "the quick brown fox naps under the shady oak tree nearby"),
      // rare continuations of the corpus-common prefix "the": low mean
      (5L, "the zz the yy the xx the ww the vv the uu"))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    d
  }

  private val okConfig =
    """{"table": "documents", "id": "doc_id", "text": "text",
      | "stages": [
      |   {"stage": "exact_dedup"},
      |   {"stage": "quality_gate", "minTokens": 5}]}""".stripMargin

  it("parses and runs a pipeline as one composed plan: dedup keeps the " +
     "lowest id, the gate drops short docs") {
    val p = CurationConfig.parse(okConfig)
    p.stages should have length 2
    val kept = p.run(spark, dir).select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(1L, 4L, 5L) // 2 deduped away, 3 under the gate
  }

  it("fluency_band trains on the CURRENT survivors and drops the " +
     "rare-transition document (exact integer means)") {
    val d = dir
    val full =
      """{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "exact_dedup"},
        |   {"stage": "quality_gate", "minTokens": 5},
        |   {"stage": "fluency_band", "loMicro": 600000, "hiMicro": 1000000}]}"""
        .stripMargin
    // post-dedup+gate survivors {1,4,5}; under THAT model c1(the)=10, so
    // docs 1/4 mean exactly 780000 micro while doc 5's "the <rare>"
    // transitions average 509090 — the band keeps 1 and 4 only
    val kept = CurationConfig.parse(full).run(spark, d)
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(1L, 4L)
  }

  it("token_budget and repeat_epochs stages compose into the pipeline " +
     "(mixture then repetition, schema growing an epoch column)") {
    val d = dir
    val cfg =
      """{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "exact_dedup"},
        |   {"stage": "token_budget", "strata": "source",
        |    "budgets": {"srcA": 100, "srcB": 100}},
        |   {"stage": "repeat_epochs", "factor": 2.0}]}""".stripMargin
    // the tiny corpus has no source column -> build one via a table copy
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .withColumn("source",
        org.apache.spark.sql.functions.when($"doc_id" <= 3, "srcA")
          .otherwise("srcB"))
    val d2 = graft.io.TempReaper.tempDir("graft-curation2").toString
    docs.write.parquet(s"$d2/documents.parquet")
    val out = CurationConfig.parse(cfg).run(spark, d2)
    out.columns should contain("epoch")
    // dedup drops doc 2; budgets fit everything else; factor 2 doubles
    out.count() shouldBe 2 * 4
    out.select("epoch").distinct().as[Long].collect().sorted shouldBe
      Array(1L, 2L)
  }

  private def gateCfg(path: String, whereExpr: String, k: Int = 4): String =
    s"""{"table":"documents","id":"doc_id","text":"text",
      | "stages":[{"stage":"where","expr":"$whereExpr"},
      |   {"stage":"substr_gate","path":"$path","k":$k}]}""".stripMargin

  it("substr_gate: round 1 SEEDS the store from the batch (all kept); " +
     "later pipeline runs gate their batches through it and append " +
     "survivors — the config-driven ingest loop") {
    val d = dir
    val path = graft.io.TempReaper
      .tempDir("graft-curation-ssg").toString + "/idx"
    val r1 = CurationConfig.parse(gateCfg(path, "doc_id <= 2"))
      .run(spark, d).select("doc_id").as[Long].collect().sorted
    r1 shouldBe Array(1L, 2L) // bootstrap round: everything kept, index seeded
    // round 2: 1 and 2 re-sent (their own windows are stored → dropped);
    // 3 has < k tokens (no windows → passes); 4 shares the 4-token window
    // "the quick brown fox" with stored doc 1 → dropped
    val r2 = CurationConfig.parse(gateCfg(path, "doc_id <= 4"))
      .run(spark, d).select("doc_id").as[Long].collect().sorted
    r2 shouldBe Array(3L)
    // round 3: doc 5 is fresh → kept AND appended ...
    CurationConfig.parse(gateCfg(path, "doc_id = 5"))
      .run(spark, d).select("doc_id").as[Long].collect() shouldBe Array(5L)
    // ... so round 4's re-send drops through round 3's append
    CurationConfig.parse(gateCfg(path, "doc_id = 5"))
      .run(spark, d).count() shouldBe 0L
  }

  it("neardup_gate: bootstrap, then replays drop through the stored " +
     "index across pipeline runs; dissimilar docs survive") {
    val d = dir
    val path = graft.io.TempReaper
      .tempDir("graft-curation-ndg").toString + "/idx"
    def cfg(whereExpr: String): String =
      s"""{"table":"documents","id":"doc_id","text":"text",
        | "stages":[{"stage":"where","expr":"$whereExpr"},
        |   {"stage":"neardup_gate","path":"$path"}]}""".stripMargin
    CurationConfig.parse(cfg("doc_id <= 2")).run(spark, d)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 2L)
    // a replay of doc 2 is Jaccard 1.0 against the seeded store → dropped
    CurationConfig.parse(cfg("doc_id = 2")).run(spark, d).count() shouldBe 0L
    // doc 4 shares only 2 of ~16 distinct shingles with doc 1 → kept
    CurationConfig.parse(cfg("doc_id = 4")).run(spark, d)
      .select("doc_id").as[Long].collect() shouldBe Array(4L)
  }

  it("a NAMED run's gate rounds are crash-replayable: a rerun with the " +
     "same runId reproduces the run's survivors and commits nothing " +
     "twice — seed rounds and gate rounds both") {
    val d = dir
    val path = graft.io.TempReaper
      .tempDir("graft-curation-rrd").toString + "/idx"
    def commits(): Int = new java.io.File(s"$path/_commits").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("."))
    // seed round under runId run1
    val p1 = CurationConfig.parse(gateCfg(path, "doc_id <= 2"))
    p1.run(spark, d, Some("run1"))
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 2L)
    val c1 = commits()
    // a run that crashed AFTER its seed build reruns with the same id:
    // the stage recognizes its own seed (whole batch kept), no new commit
    p1.run(spark, d, Some("run1"))
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 2L)
    commits() shouldBe c1
    // gate round under runId run2: doc 5 is fresh -> kept + appended
    val p2 = CurationConfig.parse(gateCfg(path, "doc_id = 5"))
    p2.run(spark, d, Some("run2"))
      .select("doc_id").as[Long].collect() shouldBe Array(5L)
    val c2 = commits()
    c2 shouldBe c1 + 1
    // a run that crashed AFTER its append reruns with the same id: the
    // gate excludes its own committed append (doc 5 looks fresh again —
    // a plain re-gate would emit an EMPTY batch downstream) and the
    // append is a no-op
    p2.run(spark, d, Some("run2"))
      .select("doc_id").as[Long].collect() shouldBe Array(5L)
    commits() shouldBe c2
    // whereas a NEW run id (an intentional re-ingest of the same doc) is
    // deduplicated against the stored corpus, as before
    p2.run(spark, d, Some("run3")).count() shouldBe 0L
  }

  it("a gate stage refuses a stored index whose parameters differ from " +
     "the config's (fail fast, naming both)") {
    val d = dir
    val path = graft.io.TempReaper
      .tempDir("graft-curation-kmm").toString + "/idx"
    CurationConfig.parse(gateCfg(path, "doc_id <= 2", k = 4)).run(spark, d)
      .count()
    val e = intercept[IllegalArgumentException] {
      CurationConfig.parse(gateCfg(path, "doc_id <= 4", k = 6)).run(spark, d)
        .count()
    }
    e.getMessage should (include("k=4") and include("k=6"))
  }

  it("semantic_gate: bootstrap trains+seeds the store; replays of seeded " +
     "vectors drop by cosine; orthogonal vectors survive; mismatched " +
     "params are refused") {
    val d = graft.io.TempReaper.tempDir("graft-curation-sem").toString
    def oneHot(i: Int): Seq[Float] = Seq.tabulate(8)(j => if (j == i) 1f else 0f)
    Seq((1L, oneHot(0)), (2L, oneHot(1)), (3L, oneHot(2)), (4L, oneHot(3)),
        (5L, oneHot(0)), (11L, oneHot(0)), (12L, oneHot(5)))
      .toDF("vec_id", "embedding").write.parquet(s"$d/embeddings.parquet")
    val path = graft.io.TempReaper
      .tempDir("graft-curation-semg").toString + "/idx"
    def cfg(whereExpr: String, tau: Double = 0.5): String =
      s"""{"table":"embeddings","id":"vec_id","text":"embedding",
        | "stages":[{"stage":"where","expr":"$whereExpr"},
        |   {"stage":"semantic_gate","path":"$path","k":4,
        |    "tau":$tau,"nprobe":2}]}""".stripMargin
    CurationConfig.parse(cfg("vec_id <= 5")).run(spark, d)
      .select("vec_id").as[Long].collect().sorted shouldBe
      Array(1L, 2L, 3L, 4L, 5L) // bootstrap: trained + seeded, all kept
    // vec 11 duplicates stored e1 (cosine 1.0 in its probed cell) →
    // dropped; vec 12 is orthogonal to every stored vector (cosine 0) →
    // kept and appended
    CurationConfig.parse(cfg("vec_id > 10")).run(spark, d)
      .select("vec_id").as[Long].collect() shouldBe Array(12L)
    // vec 12 re-sent: now it drops through ITS OWN append
    CurationConfig.parse(cfg("vec_id = 12")).run(spark, d)
      .count() shouldBe 0L
    // the gate's stored identity is (tau, nprobe): a drifted config fails
    val e = intercept[IllegalArgumentException] {
      CurationConfig.parse(cfg("vec_id <= 5", tau = 0.7)).run(spark, d).count()
    }
    e.getMessage should (include("tau=0.5") and include("tau=0.7"))
  }

  it("semantic_gate tier 'pq' (dq179): the declared scale path — seed " +
     "creates the store WITH the code tier, gate rounds route through " +
     "the m-byte net + exact refine, a full-width shortlist answers " +
     "exactly like the float gate, and tier mismatches are refused by " +
     "name at open") {
    val d = graft.io.TempReaper.tempDir("graft-curation-pqsem").toString
    def oneHot(i: Int): Seq[Float] =
      Seq.tabulate(64)(j => if (j == i) 1f else 0f)
    Seq((1L, oneHot(0)), (2L, oneHot(1)), (3L, oneHot(2)), (4L, oneHot(3)),
        (5L, oneHot(0)), (11L, oneHot(0)), (12L, oneHot(5)))
      .toDF("vec_id", "embedding").write.parquet(s"$d/embeddings.parquet")
    val path = graft.io.TempReaper
      .tempDir("graft-curation-pqsemg").toString + "/idx"
    def cfg(whereExpr: String, tier: String = "pq"): String =
      s"""{"table":"embeddings","id":"vec_id","text":"embedding",
        | "stages":[{"stage":"where","expr":"$whereExpr"},
        |   {"stage":"semantic_gate","path":"$path","k":4,
        |    "tau":0.5,"nprobe":2,"tier":"$tier","pqM":16,"pqK":4,
        |    "shortlist":10000}]}""".stripMargin
    CurationConfig.parse(cfg("vec_id <= 5")).run(spark, d)
      .select("vec_id").as[Long].collect().sorted shouldBe
      Array(1L, 2L, 3L, 4L, 5L) // bootstrap: trained + seeded, all kept
    // the float gate's exact semantics through the pq route: 11
    // duplicates stored e1 → dropped, 12 orthogonal → kept + appended
    CurationConfig.parse(cfg("vec_id > 10")).run(spark, d)
      .select("vec_id").as[Long].collect() shouldBe Array(12L)
    CurationConfig.parse(cfg("vec_id = 12")).run(spark, d)
      .count() shouldBe 0L
    // a FLOAT-declared round against the same store still works (the
    // tier only picks the gate route; the layout carries both)...
    CurationConfig.parse(cfg("vec_id = 11", tier = "float")).run(spark, d)
      .count() shouldBe 0L
    // ...but a pq-declared round against a TIERLESS store is refused
    // at open with the config's vocabulary
    val bare = graft.io.TempReaper
      .tempDir("graft-curation-pqbare").toString + "/idx"
    def bareCfg(tier: String): String =
      s"""{"table":"embeddings","id":"vec_id","text":"embedding",
        | "stages":[{"stage":"semantic_gate","path":"$bare","k":4,
        |    "tau":0.5,"nprobe":2,"tier":"$tier"}]}""".stripMargin
    CurationConfig.parse(bareCfg("float")).run(spark, d).count() shouldBe 7L
    intercept[IllegalArgumentException] {
      CurationConfig.parse(bareCfg("pq")).run(spark, d).count()
    }.getMessage should include("no PQ tier")
    // parser strictness
    intercept[IllegalArgumentException] {
      CurationConfig.parse(
        """{"table":"e","id":"i","text":"t",
          | "stages":[{"stage":"semantic_gate","path":"/tmp/x","k":4,
          |  "tier":"sq8"}]}""".stripMargin)
    }.getMessage should include("unknown tier")
  }

  it("lm_gate: bootstrap seeds the stored model (all kept); later runs " +
     "band-gate against it; a drifted band is refused") {
    val d = dir
    val path = graft.io.TempReaper
      .tempDir("graft-curation-lmg").toString + "/idx"
    def cfg(whereExpr: String, lo: Long = 20000L): String =
      s"""{"table":"documents","id":"doc_id","text":"text",
        | "stages":[{"stage":"where","expr":"$whereExpr"},
        |   {"stage":"lm_gate","path":"$path","loMicro":$lo}]}""".stripMargin
    CurationConfig.parse(cfg("doc_id <= 2")).run(spark, d)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 2L)
    // doc 1 re-sent: every bigram in the seeded model → high mean → kept
    CurationConfig.parse(cfg("doc_id = 1")).run(spark, d)
      .select("doc_id").as[Long].collect() shouldBe Array(1L)
    // doc 5's rare-transition bigrams are all unseen → mean 0 → dropped
    CurationConfig.parse(cfg("doc_id = 5")).run(spark, d)
      .count() shouldBe 0L
    val e = intercept[IllegalArgumentException] {
      CurationConfig.parse(cfg("doc_id = 1", lo = 30000L)).run(spark, d)
        .count()
    }
    e.getMessage should (include("20000") and include("30000"))
  }

  it("persisted-gate and where stages parse strictly, naming the stage " +
     "and the constraint") {
    def bad(json: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](CurationConfig.parse(json))
      e.getMessage should include(needle)
    }
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"where"}]}""".stripMargin, "'expr'")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"where","expr":"  "}]}""".stripMargin, "'expr'")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"substr_gate","k":4}]}""".stripMargin, "'path'")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"substr_gate","path":"/tmp/x"}]}""".stripMargin,
      "'k'")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"substr_gate","path":"/tmp/x","k":1}]}"""
      .stripMargin, ">= 2")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"substr_gate","path":"/tmp/x","k":4,
          |   "maxDupWindows":-1}]}""".stripMargin, ">= 0")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"neardup_gate","path":"/tmp/x",
          |   "numHashes":5,"bands":4}]}""".stripMargin, "multiple of bands")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"neardup_gate","path":"/tmp/x",
          |   "threshold":1.5}]}""".stripMargin, "(0, 1)")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"neardup_gate"}]}""".stripMargin, "'path'")
    bad("""{"table":"embeddings","id":"i","text":"t",
          | "stages":[{"stage":"semantic_gate","path":"/tmp/x"}]}"""
      .stripMargin, "'k'")
    bad("""{"table":"embeddings","id":"i","text":"t",
          | "stages":[{"stage":"semantic_gate","path":"/tmp/x","k":4,
          |   "tau":1.5}]}""".stripMargin, "(0, 1)")
    bad("""{"table":"embeddings","id":"i","text":"t",
          | "stages":[{"stage":"semantic_gate","path":"/tmp/x","k":4,
          |   "nprobe":0}]}""".stripMargin, ">= 1")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"lm_gate","path":"/tmp/x"}]}""".stripMargin,
      "'loMicro'")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"lm_gate","path":"/tmp/x","loMicro":9,
          |   "hiMicro":3}]}""".stripMargin, "hiMicro")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"lm_gate","loMicro":5}]}""".stripMargin,
      "'path'")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"probe_gate"}]}""".stripMargin, "'path'")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"probe_gate","path":"  "}]}""".stripMargin,
      "'path'")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"bpe_tokenize","numMerges":4}]}""".stripMargin,
      "'path'")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"bpe_tokenize","path":"/tmp/x"}]}""".stripMargin,
      "'numMerges'")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"bpe_tokenize","path":"/tmp/x",
          |   "numMerges":0}]}""".stripMargin, ">= 1")
    // an integer that does not fit its parameter is refused by name,
    // never wrapped (4294967298 = 2^32 + 2 would wrap to k = 2)
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"substr_gate","path":"/x",
          |   "k":4294967298}]}""".stripMargin, "k must be <= 2147483647")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"neardup_gate","path":"/x",
          |   "numHashes":4294967312}]}""".stripMargin, "numHashes")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"neardup_gate","path":"/x",
          |   "bands":4294967300}]}""".stripMargin, "bands")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"neardup_gate","path":"/x",
          |   "maxBucket":4294967396}]}""".stripMargin, "maxBucket")
    bad("""{"table":"embeddings","id":"i","text":"t",
          | "stages":[{"stage":"semantic_gate","path":"/x",
          |   "k":4294967300}]}""".stripMargin, "k must be <=")
    bad("""{"table":"embeddings","id":"i","text":"t",
          | "stages":[{"stage":"semantic_gate","path":"/x","k":4,
          |   "nprobe":4294967298}]}""".stripMargin, "nprobe")
    bad("""{"table":"embeddings","id":"i","text":"t",
          | "stages":[{"stage":"semantic_gate","path":"/x","k":4,
          |   "pqM":4294967312}]}""".stripMargin, "pqM")
    bad("""{"table":"embeddings","id":"i","text":"t",
          | "stages":[{"stage":"semantic_gate","path":"/x","k":4,
          |   "shortlist":4294967360}]}""".stripMargin, "shortlist")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"bpe_tokenize","path":"/x",
          |   "numMerges":4294967304}]}""".stripMargin, "numMerges")
  }

  it("bpe_tokenize: the first run seeds the stored vocabulary from the " +
     "survivors and tokenizes them; later runs reuse the COMMITTED " +
     "vocabulary (no retraining); a drifted numMerges is refused") {
    val d = dir
    val path = graft.io.TempReaper
      .tempDir("graft-curation-bpe").toString + "/idx"
    def cfg(whereExpr: String, n: Int = 4): String =
      s"""{"table":"documents","id":"doc_id","text":"text",
        | "stages":[{"stage":"where","expr":"$whereExpr"},
        |   {"stage":"bpe_tokenize","path":"$path","numMerges":$n}]}""".stripMargin
    val r1 = CurationConfig.parse(cfg("doc_id <= 4")).run(spark, d)
      .select($"doc_id", array_join($"subtokens", " ").as("j"))
      .as[(Long, String)].collect().toMap
    r1.keySet shouldBe Set(1L, 2L, 3L, 4L)
    // the seeded vocabulary equals a per-call train over the same docs
    val docs14 = spark.read.parquet(s"$d/documents.parquet")
      .filter($"doc_id" <= 4)
    val session = graft.ext.BpeTrain.learn(docs14, "text", numMerges = 4)
    graft.ext.BpeStore.open(spark, path).model.vocab shouldBe session.vocab
    // round 2: a NEW doc tokenizes under the ROUND-1 vocabulary
    val r2 = CurationConfig.parse(cfg("doc_id = 5")).run(spark, d)
      .select($"doc_id", array_join($"subtokens", " ").as("j"))
      .as[(Long, String)].collect().toMap
    val expect5 = spark.read.parquet(s"$d/documents.parquet")
      .filter($"doc_id" === 5)
      .select(graft.functions.SubwordTokenize(
        regexp_replace(lower($"text"), "\\W+", " "), session.vocab).as("s"))
      .select(array_join($"s", " ")).as[String].head()
    r2(5L) shouldBe expect5
    val e = intercept[IllegalArgumentException] {
      CurationConfig.parse(cfg("doc_id = 5", n = 3)).run(spark, d).count()
    }
    e.getMessage should (include("numMerges=4") and include("3"))
    // tokenize is a map-only COLUMN, not a join: duplicate ids from a
    // preceding repeat_epochs stage stay one-row-per-input (factor 2 ->
    // exactly 2 rows per doc, never k^2)
    val rep = s"""{"table":"documents","id":"doc_id","text":"text",
      | "stages":[{"stage":"where","expr":"doc_id <= 4"},
      |   {"stage":"repeat_epochs","factor":2},
      |   {"stage":"bpe_tokenize","path":"$path","numMerges":4}]}""".stripMargin
    val counts = CurationConfig.parse(rep).run(spark, d)
      .groupBy("doc_id").count().select("count").as[Long].collect()
    counts should have length 4
    all(counts) shouldBe 2L
  }

  it("probe_gate: bootstrap seeds the stored statistics (all kept); " +
     "later runs mean-gate against them and fold survivors in") {
    // the probe regresses 4 features — the tiny 5-doc fixture's seed half
    // is a singular design matrix, so this stage gets a varied corpus
    val d = graft.io.TempReaper.tempDir("graft-curation-pgd").toString
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "the", "and", "of", "to", "in", "is")
    Seq.tabulate(12) { i =>
      val n = 6 + (i * 7) % 11
      val toks = Seq.tabulate(n)(k => words((i * 5 + k * (1 + i % 3)) % words.size))
      (i.toLong + 1L, toks.mkString(" "))
    }.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val path = graft.io.TempReaper
      .tempDir("graft-curation-pg").toString + "/idx"
    def cfg(whereExpr: String): String =
      s"""{"table":"documents","id":"doc_id","text":"text",
        | "stages":[{"stage":"where","expr":"$whereExpr"},
        |   {"stage":"probe_gate","path":"$path"}]}""".stripMargin
    val seedIds = spark.read.parquet(s"$d/documents.parquet")
      .filter($"doc_id" % 2 === 1).select("doc_id").as[Long].collect().sorted
    CurationConfig.parse(cfg("doc_id % 2 = 1")).run(spark, d)
      .select("doc_id").as[Long].collect().sorted shouldBe seedIds
    // round 2: the gate must equal the store's own gate over the
    // seeded statistics (the stage is the loop, declared)
    val store = graft.ext.QualityProbeStore.open(spark, path)
    val all = spark.read.parquet(s"$d/documents.parquet")
    val expect = store
      .gate(all, "doc_id", "text", None).kept
      .select("doc_id").as[Long].collect().sorted
    CurationConfig.parse(cfg("TRUE")).run(spark, d)
      .select("doc_id").as[Long].collect().sorted shouldBe expect
  }

  it("decontam_gate: the benchmark index is built on FIRST use from the " +
     "declared slice (never the batch), verbatim-contaminated docs drop, " +
     "and the stage is gate-only — reruns of the same batch keep the " +
     "same survivors because nothing is ever appended") {
    val d = dir
    val path = graft.io.TempReaper
      .tempDir("graft-curation-dcg").toString + "/idx"
    def cfg(batchWhere: String): String =
      s"""{"table":"documents","id":"doc_id","text":"text",
        | "stages":[{"stage":"where","expr":"$batchWhere"},
        |   {"stage":"decontam_gate","path":"$path","k":8,
        |    "benchmarkTable":"documents","benchmarkWhere":"doc_id <= 2"}]}"""
        .stripMargin
    val p = CurationConfig.parse(cfg("TRUE"))
    // doc 1 is IN the benchmark (and 2 is its verbatim copy) → dropped;
    // 3 is under k tokens (no windows) and 4/5 share no 8-token window
    val r1 = p.run(spark, d).select("doc_id").as[Long].collect().sorted
    r1 shouldBe Array(3L, 4L, 5L)
    // gate-only: the survivors were NOT appended, so a re-send of the
    // same batch keeps them again (a substr_gate would drop them all)
    p.run(spark, d).select("doc_id").as[Long].collect().sorted shouldBe r1
    // once built, the dir-less apply form gates against the same index
    p.stages.last
      .apply(spark.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        None)
      .select("doc_id").as[Long].collect().sorted shouldBe r1
    // a drifted k is refused, naming the stored parameter
    val e = intercept[IllegalArgumentException] {
      CurationConfig.parse(cfg("TRUE").replace("\"k\":8", "\"k\":4"))
        .run(spark, d).count()
    }
    e.getMessage should include("built with k=8")
  }

  it("media_decontam_gate: frozen stores build on FIRST use from the " +
     "declared benchmark table, byte-exact copies drop at the exact " +
     "stage, single-block variants at the near stage, far/fresh/null " +
     "payloads survive, and reruns keep identical survivors (gate-only)") {
    val d = graft.io.TempReaper.tempDir("graft-curation-mdg").toString
    def blocks(key: String, diff: Set[Int] = Set.empty,
        salt: String = "v"): String =
      (0 to 7).map(j =>
        (if (diff(j)) s"BLK$salt$j" else s"BLK$key$j").padTo(32, '_'))
        .mkString("")
    Seq((900L, blocks("a")), (901L, blocks("b")))
      .toDF("doc_id", "s")
      .select(col("doc_id"), col("s").cast("binary").as("payload"))
      .write.parquet(s"$d/media_bench.parquet")
    val batch = Seq(
      (1L, blocks("a")),                       // byte-exact copy -> exact
      (2L, blocks("b", Set(7))),               // 7/8 vs b -> near
      (3L, blocks("a", Set(0, 3, 7))),         // 5/8 -> survives
      (4L, blocks("zz")))                      // fresh -> survives
      .toDF("doc_id", "s")
      .select(col("doc_id"), col("s").cast("binary").as("payload"))
      .union(Seq(5L).toDF("doc_id")
        .select(col("doc_id"),
          lit(null).cast("binary").as("payload"))) // null -> survives
      .withColumn("caption", lit("c"))
    val cfg =
      s"""{"table":"documents","id":"doc_id","text":"caption",
        | "stages":[
        |  {"stage":"media_decontam_gate","path":"$d/ex","binary":"payload",
        |   "benchmarkTable":"media_bench"},
        |  {"stage":"media_decontam_gate","mode":"near","path":"$d/nr",
        |   "binary":"payload","benchmarkTable":"media_bench",
        |   "blocks":8,"minMatch":6,"maxBucket":100}]}""".stripMargin
    val p = CurationConfig.parse(cfg)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    val r1 = ids(p.applyStages(batch, d))
    r1 shouldBe Seq(3L, 4L, 5L)
    // gate-only: nothing appended — an exact re-send survives again
    ids(p.applyStages(batch, d)) shouldBe r1
    // the dir-less apply form gates against the now-built stores
    ids(p.stages.head.apply(batch, "doc_id", "caption", None)) shouldBe
      Seq(2L, 3L, 4L, 5L)
    // drifted near parameters are refused naming both sides
    intercept[IllegalArgumentException] {
      CurationConfig.parse(cfg.replace("\"minMatch\":6", "\"minMatch\":7"))
        .applyStages(batch, d).count()
    }.getMessage should (include("minMatch=6") and include("minMatch=7"))
    // a missing store refuses the dir-less form with the run pointer
    intercept[IllegalArgumentException] {
      CurationConfig.MediaDecontamGate(s"$d/nope", "exact", "payload",
        "media_bench", "TRUE", 8, 6, 100)
        .apply(batch, "doc_id", "caption", None)
    }.getMessage should include("PipelineDef.run")
    // a benchmark table without the declared binary column is refused
    Seq((1L, "x")).toDF("doc_id", "text")
      .write.parquet(s"$d/no_bin.parquet")
    intercept[IllegalArgumentException] {
      CurationConfig.MediaDecontamGate(s"$d/nb", "exact", "payload",
        "no_bin", "TRUE", 8, 6, 100)
        .applyIn(d)(batch, "doc_id", "caption", None)
    }.getMessage should include("no 'payload' binary column")
    // strict parse: mode, path, binary, benchmarkTable, minMatch
    def bad(json: String, needle: String): Unit =
      intercept[IllegalArgumentException](CurationConfig.parse(json))
        .getMessage should include(needle)
    bad("""{"table":"d","id":"i","text":"t","stages":[
        |  {"stage":"media_decontam_gate","binary":"p",
        |   "benchmarkTable":"b"}]}""".stripMargin, "'path'")
    bad("""{"table":"d","id":"i","text":"t","stages":[
        |  {"stage":"media_decontam_gate","path":"/x",
        |   "benchmarkTable":"b"}]}""".stripMargin, "'binary'")
    bad("""{"table":"d","id":"i","text":"t","stages":[
        |  {"stage":"media_decontam_gate","path":"/x","binary":"p"}]}"""
      .stripMargin, "benchmarkTable")
    bad("""{"table":"d","id":"i","text":"t","stages":[
        |  {"stage":"media_decontam_gate","path":"/x","binary":"p",
        |   "benchmarkTable":"b","mode":"fuzzy"}]}""".stripMargin,
      "unknown mode")
    bad("""{"table":"d","id":"i","text":"t","stages":[
        |  {"stage":"media_decontam_gate","path":"/x","binary":"p",
        |   "benchmarkTable":"b","minMatch":9}]}""".stripMargin, "minMatch")
    bad("""{"table":"d","id":"i","text":"t","stages":[
        |  {"stage":"media_decontam_gate","path":"/x","binary":"p",
        |   "benchmarkTable":"b","maxBucket":4294967396}]}""".stripMargin,
      "maxBucket")
    bad("""{"table":"d","id":"i","text":"t","stages":[
        |  {"stage":"media_decontam_gate","path":"/x","binary":"p",
        |   "benchmarkTable":"b","minShared":4294967299}]}""".stripMargin,
      "minShared")
  }

  it("decontam_gate without a committed index refuses the dir-less apply " +
     "form with a pointer to PipelineDef.run, and parses strictly") {
    val missing = graft.io.TempReaper
      .tempDir("graft-curation-dcg2").toString + "/nothing"
    val st = CurationConfig.DecontamGate(missing, 8, "documents", "TRUE", 0L)
    val e = intercept[IllegalArgumentException] {
      st(Seq((1L, "a b c")).toDF("doc_id", "text"), "doc_id", "text", None)
    }
    e.getMessage should include("PipelineDef.run")
    def bad(json: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](CurationConfig.parse(json))
      ex.getMessage should include(needle)
    }
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"decontam_gate","k":8,
          |   "benchmarkTable":"documents"}]}""".stripMargin, "'path'")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"decontam_gate","path":"/x","k":1,
          |   "benchmarkTable":"documents"}]}""".stripMargin, "k must be >= 2")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"decontam_gate","path":"/x","k":8}]}"""
      .stripMargin, "benchmarkTable")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"decontam_gate","path":"/x","k":4294967304,
          |   "benchmarkTable":"documents"}]}""".stripMargin,
      "k must be <= 2147483647")
  }

  it("runAudited attributes every input row's fate to the stage that " +
     "dropped it — pure stages and persisted gates alike — without " +
     "changing the pipeline result") {
    val d = dir
    val full =
      """{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "exact_dedup"},
        |   {"stage": "quality_gate", "minTokens": 5},
        |   {"stage": "fluency_band", "loMicro": 600000, "hiMicro": 1000000}]}"""
        .stripMargin
    val p = CurationConfig.parse(full)
    val (result, audit) = p.runAudited(spark, d)
    // the result is run()'s result, audit or not
    result.select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 4L)
    audit.select("doc_id", "stage_idx", "stage").orderBy("doc_id")
      .as[(Long, Long, String)].collect().toSeq shouldBe Seq(
      (1L, 0L, "kept"),
      (2L, 1L, "exact_dedup"),   // the planted dup of doc 1
      (3L, 2L, "quality_gate"),  // under minTokens
      (4L, 0L, "kept"),
      (5L, 3L, "fluency_band"))  // the rare-transition doc
    // a persisted-gate stage attributes its drops the same way: seed
    // round keeps everything, the replay round names the gate
    val path = graft.io.TempReaper
      .tempDir("graft-curation-audit").toString + "/idx"
    CurationConfig.parse(gateCfg(path, "doc_id <= 2")).run(spark, d)
    val (_, audit2) = CurationConfig.parse(gateCfg(path, "doc_id <= 4"))
      .runAudited(spark, d)
    audit2.select("doc_id", "stage_idx", "stage").orderBy("doc_id")
      .as[(Long, Long, String)].collect().toSeq shouldBe Seq(
      (1L, 2L, "substr_gate"), (2L, 2L, "substr_gate"),
      (3L, 0L, "kept"),
      (4L, 2L, "substr_gate"),  // shares the stored "the quick brown fox"
      (5L, 1L, "where"))
  }

  it("repeat_epochs accepts a per-strata factors table (the LLaMA " +
     "epochs-per-dataset form), matching the operator; parse is strict") {
    val d = dir
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .withColumn("source",
        when($"doc_id" <= 3, "srcA").otherwise("srcB"))
    val d2 = graft.io.TempReaper.tempDir("graft-curation-rebs").toString
    docs.write.parquet(s"$d2/documents.parquet")
    val cfg =
      """{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "repeat_epochs", "strata": "source",
        |    "factors": {"srcA": 2.5, "srcB": 0.25}}]}""".stripMargin
    val got = CurationConfig.parse(cfg).run(spark, d2)
      .select("doc_id", "epoch").as[(Long, Long)].collect().sorted
    got shouldBe graft.ext.Sampling
      .repeatEpochsByStrata(docs, "source", "doc_id",
        Map("srcA" -> 2.5, "srcB" -> 0.25))
      .select("doc_id", "epoch").as[(Long, Long)].collect().sorted
    def bad(json: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](CurationConfig.parse(json))
      ex.getMessage should include(needle)
    }
    bad("""{"table":"d","id":"i","text":"t",
          | "stages":[{"stage":"repeat_epochs",
          |   "factors":{"a":2.0}}]}""".stripMargin, "'strata'")
    bad("""{"table":"d","id":"i","text":"t",
          | "stages":[{"stage":"repeat_epochs","strata":"source",
          |   "factors":{"a":0}}]}""".stripMargin, "must be > 0")
    bad("""{"table":"d","id":"i","text":"t",
          | "stages":[{"stage":"repeat_epochs","strata":"source",
          |   "factors":{"a":"x"}}]}""".stripMargin, "must be numeric")
    bad("""{"table":"d","id":"i","text":"t",
          | "stages":[{"stage":"repeat_epochs"}]}""".stripMargin,
      "numeric 'factor'")
  }

  it("lang_gate keeps only the declared languages (und included only if " +
     "declared), matching the languageId operator; parse is strict") {
    val docs = Seq(
      (1L, "the cat and the dog ran to the house in a hurry"),
      (2L, "der Hund und die Katze sind nicht auf der Straße"),
      (3L, "el perro y el gato no se ven en la casa"),
      (4L, "zzz qqq xxx www")) // no stopword hits -> 'und'
      .toDF("doc_id", "text")
    val d2 = graft.io.TempReaper.tempDir("graft-curation-lg").toString
    docs.write.parquet(s"$d2/documents.parquet")
    def run(keep: String): Array[Long] = CurationConfig.parse(
      s"""{"table":"documents","id":"doc_id","text":"text",
        | "stages":[{"stage":"lang_gate","keep":[$keep]}]}""".stripMargin)
      .run(spark, d2).select("doc_id").as[Long].collect().sorted
    run("\"en\"") shouldBe Array(1L)
    run("\"en\", \"es\"") shouldBe Array(1L, 3L)
    run("\"en\", \"und\"") shouldBe Array(1L, 4L)
    // membership = the operator, verbatim
    run("\"de\"") shouldBe docs
      .filter(graft.ext.TextAnalysis.languageId($"text") === "de")
      .select("doc_id").as[Long].collect().sorted
    def bad(json: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](CurationConfig.parse(json))
      ex.getMessage should include(needle)
    }
    bad("""{"table":"d","id":"i","text":"t",
          | "stages":[{"stage":"lang_gate"}]}""".stripMargin, "'keep'")
    bad("""{"table":"d","id":"i","text":"t",
          | "stages":[{"stage":"lang_gate","keep":[]}]}""".stripMargin,
      "non-empty 'keep'")
    bad("""{"table":"d","id":"i","text":"t",
          | "stages":[{"stage":"lang_gate","keep":[3]}]}""".stripMargin,
      "language codes")
  }

  it("temperature_mix declares the GPT-3 flattening rule as a stage: " +
     "membership equals the operator call, and parse is strict") {
    val d = dir
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .withColumn("source",
        when($"doc_id" <= 3, "srcA").otherwise("srcB"))
    val d2 = graft.io.TempReaper.tempDir("graft-curation-tm").toString
    docs.write.parquet(s"$d2/documents.parquet")
    val cfg =
      """{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "temperature_mix", "strata": "source",
        |    "targetDocs": 3}]}""".stripMargin
    val got = CurationConfig.parse(cfg).run(spark, d2)
      .select("doc_id").as[Long].collect().sorted
    got shouldBe graft.ext.Sampling
      .temperatureMixPortable(docs, "source", "doc_id", 3L)
      .select("doc_id").as[Long].collect().sorted
    def bad(json: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](CurationConfig.parse(json))
      ex.getMessage should include(needle)
    }
    bad("""{"table":"d","id":"i","text":"t",
          | "stages":[{"stage":"temperature_mix","targetDocs":3}]}"""
      .stripMargin, "'strata'")
    bad("""{"table":"d","id":"i","text":"t",
          | "stages":[{"stage":"temperature_mix","strata":"source"}]}"""
      .stripMargin, "targetDocs")
    bad("""{"table":"d","id":"i","text":"t",
          | "stages":[{"stage":"temperature_mix","strata":"source",
          |   "targetDocs":-1}]}""".stripMargin, "must be >= 0")
  }

  it("two pipeline runs racing the same store's CREATE both converge: " +
     "the loser of the seed race falls through to gating against the " +
     "winner's committed store instead of failing the fresh-path require") {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val d = dir
    val path = graft.io.TempReaper
      .tempDir("graft-curation-race").toString + "/idx"
    val start = new java.util.concurrent.CountDownLatch(2)
    def racer(runId: String): Future[Array[Long]] = Future {
      start.countDown(); start.await()
      CurationConfig.parse(gateCfg(path, "TRUE"))
        .run(spark, d, runId = Some(runId))
        .select("doc_id").as[Long].collect().sorted
    }
    val (fa, fb) = (racer("raceA"), racer("raceB"))
    val ra = Await.result(fa, 5.minutes)
    val rb = Await.result(fb, 5.minutes)
    // one run seeded (kept the whole batch); the other gated against the
    // winner's store: every doc with k-token windows is a verbatim replay
    // and drops, only windowless doc 3 survives (and appends no digests).
    // Holds for EVERY interleaving — true race or degenerate sequential.
    val all = Array(1L, 2L, 3L, 4L, 5L)
    Set(ra.toSeq, rb.toSeq) shouldBe Set(all.toSeq, Seq(3L))
    // the loser's round is replayable under its own token: a rerun with
    // the same runId returns the same survivors (appendOnce + exclude)
    val loser = if (ra.length == 1) "raceA" else "raceB"
    CurationConfig.parse(gateCfg(path, "TRUE"))
      .run(spark, d, runId = Some(loser))
      .select("doc_id").as[Long].collect().sorted shouldBe Array(3L)
  }

  it("a decontam_gate first-use build race is benign: the loser gates " +
     "against the winner's benchmark index (deterministic from the " +
     "declared slice) and both runs return the same survivors") {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val d = dir
    val path = graft.io.TempReaper
      .tempDir("graft-curation-dcgrace").toString + "/idx"
    val cfg =
      s"""{"table":"documents","id":"doc_id","text":"text",
        | "stages":[{"stage":"decontam_gate","path":"$path","k":8,
        |    "benchmarkTable":"documents","benchmarkWhere":"doc_id <= 2"}]}"""
        .stripMargin
    val start = new java.util.concurrent.CountDownLatch(2)
    def racer(): Future[Array[Long]] = Future {
      start.countDown(); start.await()
      CurationConfig.parse(cfg).run(spark, d)
        .select("doc_id").as[Long].collect().sorted
    }
    val (fa, fb) = (racer(), racer())
    Await.result(fa, 5.minutes) shouldBe Array(3L, 4L, 5L)
    Await.result(fb, 5.minutes) shouldBe Array(3L, 4L, 5L)
  }

  it("rejects unknown stages and bad parameters AT PARSE TIME, naming " +
     "the stage") {
    def bad(json: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](CurationConfig.parse(json))
      e.getMessage should include(needle)
    }
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"near_dup"}]}""".stripMargin, "unknown stage")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"quality_gate"}]}""".stripMargin, "minTokens")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"quality_gate","minTokens":-1}]}""".stripMargin,
      ">= 0")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"quality_gate","minTokens":9,"maxTokens":3}]}"""
      .stripMargin, "maxTokens")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"fluency_band","loMicro":5,"hiMicro":1}]}"""
      .stripMargin, "loMicro")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"quality_gate","minTokens":"lots"}]}""".stripMargin,
      "integer")
    bad("""{"table":"documents","id":"i","text":"t","stages":[]}""",
      "non-empty")
    bad("""{"id":"i","text":"t","stages":[{"stage":"exact_dedup"}]}""",
      "'table'")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"token_budget","strata":"source",
          |   "budgets":{}}]}""".stripMargin, "non-empty 'budgets'")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"token_budget","strata":"source",
          |   "budgets":{"a":-5}}]}""".stripMargin, "non-negative")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"token_budget","budgets":{"a":5}}]}"""
      .stripMargin, "'strata'")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"repeat_epochs","factor":0}]}""".stripMargin,
      "> 0")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"repeat_epochs"}]}""".stripMargin, "factor")
    // a BigInt past Long is refused, not wrapped (2^64 + 1 would wrap to 1)
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"quality_gate",
          |   "minTokens":18446744073709551617}]}""".stripMargin,
      "minTokens must be <= 9223372036854775807")
    bad("""{"table":"documents","id":"i","text":"t",
          | "stages":[{"stage":"token_budget","strata":"source",
          |   "budgets":{"a":18446744073709551621}}]}""".stripMargin,
      "non-negative")
  }

  it("parses one vocabulary: every stage name parse accepts comes back " +
     "as its stage's stageName (the audit `stage` column)") {
    val minimal: Map[String, Seq[String]] = Map(
      "exact_dedup" -> Seq(""),
      "quality_gate" -> Seq(""""minTokens":1"""),
      "fluency_band" -> Seq(""""loMicro":1,"hiMicro":2"""),
      "lang_gate" -> Seq(""""keep":["en"]"""),
      "media_gate" -> Seq(""""kind":"image","binary":"b""""),
      "media_dedup" -> Seq(""""binary":"b""""),
      "media_digest_gate" -> Seq(""""path":"/p","binary":"b""""),
      "media_sig_gate" -> Seq(""""path":"/p","binary":"b""""),
      "media_cdc_gate" -> Seq(""""path":"/p","binary":"b""""),
      "media_decontam_gate" ->
        Seq(""""path":"/p","binary":"b","benchmarkTable":"t""""),
      "token_budget" -> Seq(""""strata":"s","budgets":{"a":1}"""),
      "temperature_mix" -> Seq(""""strata":"s","targetDocs":1"""),
      "mix_gate" -> Seq(""""path":"/p","strata":"s","targetDocs":1"""),
      "repeat_epochs" ->
        Seq(""""factor":2""", """"strata":"s","factors":{"a":2}"""),
      "where" -> Seq(""""expr":"TRUE""""),
      "substr_gate" -> Seq(""""path":"/p","k":4"""),
      "decontam_gate" -> Seq(""""path":"/p","k":4,"benchmarkTable":"t""""),
      "neardup_gate" -> Seq(""""path":"/p""""),
      "semantic_gate" -> Seq(""""path":"/p","k":2"""),
      "ivf_maintain" -> Seq(""""path":"/p","k":2"""),
      "store_vacuum" -> Seq(""""kind":"lm","path":"/p""""),
      "lm_gate" -> Seq(""""path":"/p","loMicro":0"""),
      "probe_gate" -> Seq(""""path":"/p""""),
      "bpe_tokenize" -> Seq(""""path":"/p","numMerges":4"""),
      "shard_write" -> Seq(""""path":"/p","capacity":10"""))
    minimal.keySet shouldBe CurationConfig.stageNames.toSet
    for ((name, forms) <- minimal; fields <- forms) {
      val extra = if (fields.isEmpty) "" else "," + fields
      val st = CurationConfig.parse(
        s"""{"table":"t","id":"i","text":"x",
          | "stages":[{"stage":"$name"$extra}]}""".stripMargin).stages.head
      withClue(fields) { CurationConfig.stageName(st) shouldBe name }
    }
    // both repeat_epochs forms
    CurationConfig.parse("""{"table":"t","id":"i","text":"x","stages":[
      | {"stage":"repeat_epochs","strata":"s","factors":{"a":2}}]}"""
      .stripMargin).stages.head shouldBe
      CurationConfig.RepeatEpochsByStrata("s", Map("a" -> 2.0))
    // the unknown-stage message lists the same vocabulary
    val e = intercept[IllegalArgumentException](CurationConfig.parse(
      """{"table":"t","id":"i","text":"x","stages":[{"stage":"nope"}]}"""))
    CurationConfig.stageNames.foreach(n => e.getMessage should include(n))
  }

  it("ivf_maintain declares the index lifecycle: not advised → no-op; " +
     "drift past the threshold → refit (baseline resets) + vacuum of " +
     "superseded dirs; a rerun no-ops; rows pass through; parse is " +
     "strict") {
    val d = graft.io.TempReaper.tempDir("graft-curation-maint").toString
    def axis(a: Int): Seq[Float] = Seq.tabulate(4)(j => if (j == a) 1f else 0f)
    val emb = ((0 until 20).map(i => (i.toLong, axis(0))) ++
      (20 until 40).map(i => (i.toLong, axis(1))))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    emb.write.parquet(s"$d/embeddings.parquet")
    val path = graft.io.TempReaper
      .tempDir("graft-curation-maintidx").toString + "/idx"
    val store = graft.ext.IvfStore.create(emb, "vec_id", "embedding",
      path, k = 2)
    def commits(): Int = new java.io.File(s"$path/_commits").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("."))
    def assignedDirs(): Seq[String] = new java.io.File(s"$path/assigned")
      .listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq
    val cfg =
      s"""{"table":"embeddings","id":"vec_id","text":"embedding",
        | "stages":[{"stage":"where","expr":"vec_id < 10"},
        |   {"stage":"ivf_maintain","path":"$path","k":2}]}""".stripMargin
    val p = CurationConfig.parse(cfg)
    spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
    try {
      // a lone baseline histogram: nothing to compare → no-op
      val c0 = commits()
      p.run(spark, d).select("vec_id").as[Long].collect().sorted shouldBe
        (0L until 10L).toArray
      commits() shouldBe c0
      // an entirely-shifted append trips the advisory → the declared
      // maintenance refits (one superseding commit, baseline resets)
      // and vacuums the superseded dirs
      store.append(
        (100 until 160).map(i => (i.toLong, axis(2)))
          .toDF("vec_id", "embedding"), "vec_id", "embedding")
      store.refitAdvised() shouldBe true
      val c1 = commits()
      p.run(spark, d).count() shouldBe 10L
      commits() shouldBe c1 + 1
      store.refitAdvised() shouldBe false
      assignedDirs() should have size 1 // vacuumed down to the refit dir
      assignedDirs().head should startWith("append=r")
      // idempotent: the advisory is reset, a rerun maintains nothing
      val c2 = commits()
      p.run(spark, d).count() shouldBe 10L
      commits() shouldBe c2
    } finally spark.conf.unset("spark.graft.index.vacuumRetentionMs")
    // a maintenance stage pointing at nothing fails naming itself
    val missing = CurationConfig.parse(
      s"""{"table":"embeddings","id":"vec_id","text":"embedding",
        | "stages":[{"stage":"ivf_maintain","path":"$path-nope","k":2}]}"""
        .stripMargin)
    val e = intercept[IllegalArgumentException] { missing.run(spark, d).count() }
    e.getMessage should include("no committed IVF store")
    // strict parse: k required, threshold and vacuum typed
    def bad(json: String, frag: String): Unit = {
      val err = intercept[IllegalArgumentException] { CurationConfig.parse(json) }
      err.getMessage should include(frag)
    }
    bad(s"""{"table":"e","id":"i","text":"t",
          | "stages":[{"stage":"ivf_maintain","path":"$path"}]}""".stripMargin,
      "'k'")
    bad(s"""{"table":"e","id":"i","text":"t",
          | "stages":[{"stage":"ivf_maintain","path":"$path","k":2,
          |  "l1ThresholdPpm":-1}]}""".stripMargin, ">= 0")
    bad(s"""{"table":"e","id":"i","text":"t",
          | "stages":[{"stage":"ivf_maintain","path":"$path","k":2,
          |  "vacuum":"yes"}]}""".stripMargin, "boolean")
    bad(s"""{"table":"e","id":"i","text":"t",
          | "stages":[{"stage":"ivf_maintain","path":"$path",
          |  "k":4294967298}]}""".stripMargin, "k must be <=")
  }

  it("store_vacuum declares the retention-guarded vacuum for the store " +
     "family: superseded dirs unlink once eligible, reruns no-op, rows " +
     "pass through; parse is strict about kinds") {
    val d = dir
    val path = graft.io.TempReaper
      .tempDir("graft-curation-vac").toString + "/idx"
    // force folds: threshold 1 means the third append compacts history
    spark.conf.set("spark.graft.index.compactThreshold", "1")
    spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
    try {
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val store = graft.ext.NgramLmStore.build(
        docs.filter($"doc_id" === 1L), "doc_id", "text", path)
      store.append(docs.filter($"doc_id" === 4L), "doc_id", "text")
      store.append(docs.filter($"doc_id" === 5L), "doc_id", "text")
      def countDirs(): Int = new java.io.File(s"$path/counts")
        .listFiles().count(_.isDirectory)
      val before = countDirs()
      val cfg =
        s"""{"table":"documents","id":"doc_id","text":"text",
          | "stages":[{"stage":"where","expr":"doc_id <= 2"},
          |   {"stage":"store_vacuum","kind":"lm","path":"$path"}]}"""
          .stripMargin
      val p = CurationConfig.parse(cfg)
      p.run(spark, d).select("doc_id").as[Long].collect().sorted shouldBe
        Array(1L, 2L) // rows pass through
      countDirs() should be < before // superseded folds unlinked
      val after = countDirs()
      p.run(spark, d).count() shouldBe 2L // idempotent rerun
      countDirs() shouldBe after
      // the model still answers (active dirs untouched)
      store.scoreBatch(docs.filter($"doc_id" === 1L), "doc_id", "text")
        .count() shouldBe 1L
    } finally {
      spark.conf.unset("spark.graft.index.compactThreshold")
      spark.conf.unset("spark.graft.index.vacuumRetentionMs")
    }
    // the probe store is part of the compacting family now: force a
    // fold, declare kind "probe", superseded moment dirs unlink and the
    // 14-row summed table still answers
    val ppath = graft.io.TempReaper
      .tempDir("graft-curation-vacp").toString + "/qp"
    spark.conf.set("spark.graft.index.compactThreshold", "1")
    spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
    try {
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val qp = graft.ext.QualityProbeStore.create(
        docs.filter($"doc_id" <= 2), "doc_id", "text", ppath)
      qp.append(docs.filter($"doc_id" === 3L), "doc_id", "text")
      qp.append(docs.filter($"doc_id" === 4L), "doc_id", "text") // folds
      def pDirs(): Int = new java.io.File(s"$ppath/moments")
        .listFiles().count(_.isDirectory)
      val pBefore = pDirs()
      val pcfg = CurationConfig.parse(
        s"""{"table":"documents","id":"doc_id","text":"text",
          | "stages":[{"stage":"store_vacuum","kind":"probe","path":"$ppath"}]}"""
          .stripMargin)
      pcfg.run(spark, d).count() shouldBe 5L // rows pass through
      pDirs() should be < pBefore
      qp.moments().count() shouldBe 14L
    } finally {
      spark.conf.unset("spark.graft.index.compactThreshold")
      spark.conf.unset("spark.graft.index.vacuumRetentionMs")
    }
    // the strata-count store completes the family (r14 verdict #3 —
    // compaction + vacuum existed in code but the declared stage could
    // not reach them): force a fold, declare kind "strata", superseded
    // count dirs unlink and the summed counts still answer
    val spath = graft.io.TempReaper
      .tempDir("graft-curation-vacs").toString + "/sc"
    spark.conf.set("spark.graft.index.compactThreshold", "1")
    spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
    try {
      val sc = graft.ext.StrataCountStore.create(spark, spath,
        Seq(("en", 3L), ("de", 1L)))
      sc.append(Seq(("en", 2L)))
      sc.append(Seq(("fr", 5L))) // folds past threshold 1
      def sDirs(): Int = new java.io.File(s"$spath/counts")
        .listFiles().count(_.isDirectory)
      val sBefore = sDirs()
      val scfg = CurationConfig.parse(
        s"""{"table":"documents","id":"doc_id","text":"text",
          | "stages":[{"stage":"store_vacuum","kind":"strata","path":"$spath"}]}"""
          .stripMargin)
      scfg.run(spark, d).count() shouldBe 5L // rows pass through
      sDirs() should be < sBefore
      sc.counts() shouldBe Seq(("de", 1L), ("en", 5L), ("fr", 5L))
    } finally {
      spark.conf.unset("spark.graft.index.compactThreshold")
      spark.conf.unset("spark.graft.index.vacuumRetentionMs")
    }
    // a vacuum pointed at nothing fails naming the kind and path
    val missing = CurationConfig.parse(
      s"""{"table":"documents","id":"doc_id","text":"text",
        | "stages":[{"stage":"store_vacuum","kind":"lm","path":"$path-x"}]}"""
        .stripMargin)
    intercept[IllegalArgumentException] { missing.run(spark, dir).count() }
      .getMessage should include("no committed 'lm' store")
    // strict parse: unknown kind names the options (probe is a real kind
    // now — the store compacts and vacuums like its siblings)
    val e = intercept[IllegalArgumentException] {
      CurationConfig.parse(
        """{"table":"t","id":"i","text":"x",
          | "stages":[{"stage":"store_vacuum","kind":"rocks","path":"/p"}]}"""
          .stripMargin)
    }
    e.getMessage should (include("unknown kind") and include("rocks") and
      include("probe") and include("strata"))
  }

  it("media_gate: the declared multimodal ingest gate keeps rows whose " +
     "payload parses and whose headline dimension sits in the band, " +
     "appends the parsed media_* columns (outputSchema pinned), is " +
     "stream-legal, and the parse is strict") {
    val d = graft.io.TempReaper.tempDir("graft-media").toString
    // ids chosen so the WAV synthesis covers every (rate, reject) branch:
    // rate = 8000/16000/22050/44100 by id%4, id%7==0 is not audio
    spark.range(1, 41).select($"id".as("doc_id"),
        concat(lit("clip "), $"id").as("text"))
      .write.parquet(s"$d/documents.parquet")
    val p = CurationConfig.parse(
      """{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [{"stage": "media_gate", "kind": "audio",
        |   "binary": "payload", "minRate": 10000, "maxRate": 30000}]}"""
        .stripMargin)
    // media_gate is PURE per-row byte arithmetic — stream-legal
    p.batchScopedStages shouldBe empty
    val media = spark.read.parquet(s"$d/documents.parquet")
      .select($"doc_id", $"text",
        graft.ext.Multimodal.syntheticWavPayload($"doc_id").as("payload"))
    val out = p.applyStages(media, d)
    // survivors: parses (id % 7 != 0) AND rate in [10000, 30000]
    // (rate 16000 at id%4==1, 22050 at id%4==2 — 8000 and 44100 band out)
    val expected = (1L until 41L)
      .filter(i => i % 7 != 0 && (i % 4 == 1 || i % 4 == 2))
    out.select("doc_id").as[Long].collect().sorted shouldBe expected
    // the appended columns are the kernel's parse, row for row
    val gotMeta = out.select("doc_id", "media_channels", "media_rate")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    val kernel = graft.ext.Multimodal
      .audioMeta(media, "doc_id", "payload")
      .filter($"sample_rate".between(10000, 30000))
      .select("doc_id", "channels", "sample_rate")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    gotMeta shouldBe kernel
    // outputSchema is the real schema (the zero-batch contract)
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    shape(out.schema) shouldBe shape(p.outputSchema(media.schema))
    // a missing binary column is refused by name
    intercept[IllegalArgumentException] {
      p.applyStages(media.drop("payload"), d).count()
    }.getMessage should include("'payload'")
    // the appended parse columns are reserved — refused, never replaced
    intercept[IllegalArgumentException] {
      p.applyStages(media.withColumn("media_rate", lit(1)), d).count()
    }.getMessage should include("'media_rate'")
    // a video gate with NO upper bound must not overflow
    // Long.MaxValue * timescale — the absent bound is simply no filter
    val vOpen = CurationConfig.parse(
      """{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [{"stage": "media_gate", "kind": "video",
        |   "binary": "payload", "minSecMicro": 0}]}""".stripMargin)
    val vids = spark.read.parquet(s"$d/documents.parquet")
      .select($"doc_id", $"text",
        graft.ext.Multimodal.syntheticMp4Payload($"doc_id").as("payload"))
    vOpen.applyStages(vids, d).select("doc_id").as[Long].collect()
      .sorted shouldBe (1L until 41L).filter(_ % 3 != 0) // parse-only
    // strict parse: unknown kind, missing binary, inverted band
    def bad(json: String, frag: String): Unit =
      intercept[IllegalArgumentException] {
        CurationConfig.parse(json)
      }.getMessage should include(frag)
    bad("""{"table":"t","id":"i","text":"x",
        | "stages":[{"stage":"media_gate","kind":"pdf","binary":"b"}]}"""
        .stripMargin, "unknown kind")
    bad("""{"table":"t","id":"i","text":"x",
        | "stages":[{"stage":"media_gate","kind":"image"}]}""".stripMargin,
      "'binary'")
    bad("""{"table":"t","id":"i","text":"x",
        | "stages":[{"stage":"media_gate","kind":"image","binary":"b",
        |  "minWidth":100,"maxWidth":10}]}""".stripMargin, "maxWidth")
  }

  it("ivf_maintain composes with the STREAMED pipeline: the gate seeds " +
     "and appends per micro-batch, and the declared maintenance refits " +
     "at the batch whose drift trips the advisory — replaying that " +
     "micro-batch afterwards still reproduces its survivors (the refit " +
     "carries the token window forward)") {
    import graft.streaming.EventStream
    val d = graft.io.TempReaper.tempDir("graft-curation-maintstream").toString
    def axis(a: Int): Seq[Float] = Seq.tabulate(8)(j => if (j == a) 1f else 0f)
    // table exists only for the config contract; batches drive the stream
    val b1 = ((0 until 20).map(i => (i.toLong, axis(0))) ++
      (20 until 40).map(i => (i.toLong, axis(1))))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val b2 = (100 until 130).map(i => (i.toLong, axis(2)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    b1.unionByName(b2).write.parquet(s"$d/embeddings.parquet")
    val path = graft.io.TempReaper
      .tempDir("graft-curation-maintstream-idx").toString + "/idx"
    val pipeline = CurationConfig.parse(
      s"""{"table":"embeddings","id":"vec_id","text":"embedding",
        | "stages":[
        |   {"stage":"semantic_gate","path":"$path","k":2,
        |    "tau":0.5,"nprobe":1},
        |   {"stage":"ivf_maintain","path":"$path","k":2}]}""".stripMargin)
    val incoming = EventStream.twoFileBatchStream(b1, b2, "maintstream")
    val res = EventStream.runConfigPipeline(incoming, pipeline, d,
      "maintstream")
    // batch 1 seeds (40 kept, maintenance no-ops on a lone baseline);
    // batch 2 is orthogonal to everything stored (30 kept, appended) and
    // its one-cell histogram trips the advisory → the declared
    // maintenance refits
    res.groupBy("batch").count().orderBy("batch")
      .as[(Long, Long)].collect().toSeq shouldBe Seq((1L, 40L), (2L, 30L))
    val store = graft.ext.IvfStore.open(spark, path)
    store.refitAdvised() shouldBe false // baseline reset by the refit
    store.driftReport().select("append").distinct().count() shouldBe 1L
    // the replayed micro-batch (same runId the stream used) reproduces
    // its survivors even though its append was folded into the refit
    pipeline.applyStages(b2, d, Some("maintstream:b1"))
      .select("vec_id").as[Long].collect().sorted shouldBe
      (100L until 130L).toArray
  }

  it("runConfigPipeline streams the declared chain: batch 1 seeds the " +
     "store through the stages, batch 2 gates against it — stream/batch " +
     "parity with named runs, and a replayed micro-batch reproduces its " +
     "survivors with no new commits") {
    import graft.streaming.EventStream
    val d = dir
    def cfgAt(base: String): CurationConfig.PipelineDef =
      CurationConfig.parse(
        s"""{"table": "documents", "id": "doc_id", "text": "text",
          | "stages": [
          |   {"stage": "exact_dedup"},
          |   {"stage": "substr_gate", "path": "$base/ss", "k": 4,
          |    "maxDupWindows": 0}]}""".stripMargin)
    val docs = spark.read.parquet(s"$d/documents.parquet")
    // b1: the dup pair (dedup keeps 1, store seeds from it); b2 carries a
    // VERBATIM copy of the stored doc (2) and a doc sharing the 4-token
    // window "the quick brown fox" with it (4) — both dropped by the
    // window gate — plus the short doc (3, zero windows) and the fresh
    // doc (5), kept
    val b1 = docs.filter($"doc_id" <= 2).localCheckpoint(true)
    val b2 = docs.filter($"doc_id" >= 2).localCheckpoint(true)
    val streamBase = graft.io.TempReaper
      .tempDir("graft-cfgstream-store").toString
    val incoming = EventStream.twoFileBatchStream(b1, b2, "cfgstream")
    val res = EventStream
      .runConfigPipeline(incoming, cfgAt(streamBase), d, "cfgstream")
      .select($"batch", $"doc_id").as[(Long, Long)].collect().sorted.toSeq
    res shouldBe Seq((1L, 1L), (2L, 3L), (2L, 5L))
    // stream/batch parity: the same two batches as NAMED batch runs over
    // a separate store produce the same per-round survivors
    val batchBase = graft.io.TempReaper.tempDir("graft-cfgbatch-store").toString
    val p = cfgAt(batchBase)
    p.applyStages(b1, d, Some("r1")).select("doc_id")
      .as[Long].collect().sorted shouldBe Array(1L)
    p.applyStages(b2, d, Some("r2")).select("doc_id")
      .as[Long].collect().sorted shouldBe Array(3L, 5L)
    // crash-replay: re-running micro-batch 1 under ITS runId (the batch
    // id Structured Streaming would replay it with) reproduces the
    // survivors and commits nothing twice
    def commits(): Int = new java.io.File(s"$streamBase/ss/_commits")
      .listFiles().count(f => f.isFile && !f.getName.startsWith("."))
    val c = commits()
    cfgAt(streamBase).applyStages(b2, d, Some("cfgstream:b1"))
      .select("doc_id").as[Long].collect().sorted shouldBe Array(3L, 5L)
    commits() shouldBe c
  }

  it("the streamed runners REFUSE batch-scoped stages by name: " +
     "per-micro-batch frame statistics are not corpus statistics") {
    import graft.streaming.EventStream
    val d = dir
    val pipeline = CurationConfig.parse(
      """{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "exact_dedup"},
        |   {"stage": "temperature_mix", "strata": "text", "targetDocs": 3},
        |   {"stage": "token_budget", "strata": "text", "budgets": {"a": 5}},
        |   {"stage": "fluency_band", "loMicro": 0, "hiMicro": 1000000}]}"""
        .stripMargin)
    pipeline.batchScopedStages shouldBe
      Seq("temperature_mix", "token_budget", "fluency_band")
    // refusal is UP FRONT — before the stream starts, so the incoming
    // frame is never touched (an empty-dir file stream suffices)
    val emptyIn = graft.io.TempReaper.tempDir("graft-refuse-in").toString
    def incoming = spark.readStream
      .schema(graft.streaming.EventStream.documentsSchema).parquet(emptyIn)
    val e = intercept[IllegalArgumentException] {
      EventStream.runConfigPipeline(incoming, pipeline, d, "refuse")
    }
    e.getMessage should (include("temperature_mix") and
      include("token_budget") and include("fluency_band") and
      include("not corpus statistics"))
    val e2 = intercept[IllegalArgumentException] {
      EventStream.runConfigPipelineAudited(incoming, pipeline, d, "refuse2")
    }
    e2.getMessage should include("temperature_mix")
    // the same chain stays legal in the BATCH runner — the stages are
    // refused only where their semantics would silently change
    CurationConfig.parse(
      """{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "exact_dedup"},
        |   {"stage": "fluency_band", "loMicro": 0, "hiMicro": 1000000}]}"""
        .stripMargin).run(spark, d).count() should be > 0L
  }

  it("PipelineDef.outputSchema matches the real applyStages output " +
     "(column-adding stages included), and a ZERO-BATCH stream returns " +
     "exactly that schema plus the batch column") {
    import graft.streaming.EventStream
    val d = dir
    val bpePath = graft.io.TempReaper
      .tempDir("graft-oschema-bpe").toString + "/bpe"
    val p = CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "exact_dedup"},
        |   {"stage": "repeat_epochs", "factor": 2},
        |   {"stage": "bpe_tokenize", "path": "$bpePath", "numMerges": 3}]}"""
        .stripMargin)
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    val in = spark.read.parquet(s"$d/documents.parquet").schema
    val real = p.run(spark, d) // trains the BPE store as a side effect
    shape(real.schema) shouldBe shape(p.outputSchema(in))
    // zero-batch: no input file ever fires a micro-batch, yet the
    // streamed result carries the PIPELINE's schema (not the input's) —
    // derived statically, no store side effect (the store at bpePath is
    // NOT consulted; delete it to prove the derivation is static)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(bpePath))
    val emptyIn = graft.io.TempReaper.tempDir("graft-zb-in").toString
    val incoming = spark.readStream
      .schema(EventStream.documentsSchema).parquet(emptyIn)
    val res = EventStream.runConfigPipeline(incoming, p, d, "zb")
    res.count() shouldBe 0L
    shape(res.schema) shouldBe
      shape(p.outputSchema(EventStream.documentsSchema)
        .add("batch", org.apache.spark.sql.types.LongType))
  }

  it("zero-batch AUDIT stream types the audit id column from the " +
     "pipeline's actual id type (string ids, not hardcoded long)") {
    import graft.streaming.EventStream
    val d = graft.io.TempReaper.tempDir("graft-zb-strid").toString
    Seq(("a", "some text here"), ("b", "other text there"))
      .toDF("doc_key", "text").write.parquet(s"$d/documents.parquet")
    val p = CurationConfig.parse(
      """{"table": "documents", "id": "doc_key", "text": "text",
        | "stages": [{"stage": "exact_dedup"}]}""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_key",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val emptyIn = graft.io.TempReaper.tempDir("graft-zb-strid-in").toString
    val incoming = spark.readStream.schema(schema).parquet(emptyIn)
    val (res, audit) =
      EventStream.runConfigPipelineAudited(incoming, p, d, "zbstr")
    res.count() shouldBe 0L
    audit.count() shouldBe 0L
    audit.schema("doc_key").dataType shouldBe
      org.apache.spark.sql.types.StringType
    res.schema("doc_key").dataType shouldBe
      org.apache.spark.sql.types.StringType
  }

  it("a gate stage checkpoints a createDataFrame(rdd) input before it " +
     "seeds: the input's RDD runs once, so the seeded store and the " +
     "stage's output are one evaluation of it (a LogicalRDD alone is not " +
     "a materialized checkpoint)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val evals = spark.sparkContext.longAccumulator("gate-input-evals")
    val rows = spark.sparkContext.parallelize(Seq(
      Row(1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      Row(2L, "one two three four five six seven eight nine ten")), 1)
      .mapPartitions { it => evals.add(1L); it }
    val input = spark.createDataFrame(rows, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))
    val path = graft.io.TempReaper.tempDir("graft-cc-rdd")
      .toString + "/idx"
    val out = CurationConfig.NearDupGate(path, 16, 4, 100, 0.8)
      .apply(input, "doc_id", "text", None)
    out.collect().length shouldBe 2
    out.collect().length shouldBe 2
    evals.value shouldBe 1L
  }
}
