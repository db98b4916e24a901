package graft.ext

import org.apache.spark.sql.functions._

import graft.GraftSpec

/** The persisted BPE state: retrain-from-summed-counts equals the
  * from-scratch trainer over the union corpus, stored-vocabulary
  * tokenization equals the per-call kernel, exactly-once appends,
  * compaction/vacuum, and degenerate-layout refusals. */
class BpeStoreSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-bpestore-spec")
      .toString + "/idx"

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")

  private def mergesOf(m: BpeTrain.Model): Seq[(Int, String, String, Long)] =
    m.merges.map(g => (g.step, g.left, g.right, g.pairCount))

  it("create stores the counts and the trained model: merges equal " +
     "learn() and counts equal wordCounts() over the corpus") {
    val store = BpeStore.create(docs, "text", tmp(), numMerges = 5)
    mergesOf(store.model) shouldBe
      mergesOf(BpeTrain.learn(docs, "text", numMerges = 5))
    val stored = store.wordCounts().as[(String, Long)].collect().sorted
    val direct = BpeTrain.wordCounts(docs, "text")
      .as[(String, Long)].collect().sorted
    stored shouldBe direct
  }

  it("create + appendOnce + retrain equals learn() over the UNION corpus " +
     "(counts are associative; text never re-read at retrain)") {
    val hist = docs.filter($"doc_id" % 5 =!= 0)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val store = BpeStore.create(hist, "text", tmp(), numMerges = 4)
    store.appendOnce(batch, "text", "b#1")
    store.appendOnce(batch, "text", "b#1") // replay: no-op
    mergesOf(store.retrain(5)) shouldBe
      mergesOf(BpeTrain.learn(docs, "text", numMerges = 5))
    // the excludeToken view replays the pre-append counts
    val histOnly = BpeTrain.wordCounts(hist, "text")
      .as[(String, Long)].collect().sorted
    store.wordCounts(excludeToken = Some("b#1"))
      .as[(String, Long)].collect().sorted shouldBe histOnly
  }

  it("open() reads the committed model without retraining; tokenize " +
     "equals the per-call train+tokenize kernel") {
    val path = tmp()
    BpeStore.create(docs, "text", path, numMerges = 5)
    val store = BpeStore.open(spark, path)
    val session = BpeTrain.learn(docs, "text", numMerges = 5)
    store.model.vocab shouldBe session.vocab
    val stored = store.tokenize(docs, "doc_id", "text")
      .select($"doc_id", array_join($"subtokens", " ").as("j"))
      .as[(Long, String)].collect().sorted
    val direct = docs.select($"doc_id",
        graft.functions.SubwordTokenize(
          regexp_replace(lower($"text"), "\\W+", " "), session.vocab).as("s"))
      .select($"doc_id", array_join($"s", " ").as("j"))
      .as[(Long, String)].collect().sorted
    stored shouldBe direct
  }

  it("word partials compact past the threshold (counts unchanged) and " +
     "vacuum unlinks superseded dirs; retrain supersedes the old model") {
    val path = tmp()
    spark.conf.set("spark.graft.index.compactThreshold", "2")
    spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
    try {
      val store = BpeStore.create(docs.filter($"doc_id" % 7 === 0), "text",
        path, numMerges = 3)
      for (i <- 1 to 4)
        store.append(docs.filter($"doc_id" % 7 === i), "text")
      val summed = store.wordCounts().as[(String, Long)].collect().sorted
      // equality vs a directly-counted union of the same slices
      val direct = BpeTrain.wordCounts(
        docs.filter($"doc_id" % 7 <= 4).select("text"),
        "text").as[(String, Long)].collect().sorted
      summed shouldBe direct
      store.retrain(3) // supersedes the create-time model
      val removed = store.vacuum()
      removed should be >= 1
      // both reads still work after vacuum
      store.wordCounts().as[(String, Long)].collect().sorted shouldBe summed
      store.model.merges should have size 3
    } finally {
      spark.conf.unset("spark.graft.index.compactThreshold")
      spark.conf.unset("spark.graft.index.vacuumRetentionMs")
    }
  }

  it("create refuses an occupied path and an empty corpus; open refuses " +
     "a missing layout") {
    val path = tmp()
    BpeStore.create(docs, "text", path, numMerges = 2)
    an[Exception] should be thrownBy
      BpeStore.create(docs, "text", path, numMerges = 2)
    an[Exception] should be thrownBy
      BpeStore.create(docs.filter(lit(false)), "text", tmp(), numMerges = 2)
    an[Exception] should be thrownBy BpeStore.open(spark, tmp())
  }

  it("create is crash-replayable: a layout with committed seed words but " +
     "no committed model (death before the initial retrain) recovers by " +
     "running the missing retrain, not by refusing") {
    val path = tmp()
    val full = BpeStore.create(docs, "text", path, numMerges = 4)
    val wordRows = full.stats.wordRows
    // doctor the layout into the exact crash state the pre-retrain death
    // leaves: seed words + pre-retrain stats committed, model absent
    def rmr(p: String): Unit = {
      val root = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    rmr(s"$path/model"); rmr(s"$path/alphabet")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$path/_commits/m000002"))
    BpeStore.exists(spark, path) shouldBe true
    BpeStore.open(spark, path).hasModel shouldBe false
    // the seed commit carries its own pre-retrain stats
    BpeStore.open(spark, path).stats shouldBe BpeStoreStats(wordRows, 0, 0)
    // rerun of create(): recovers via retrain from the committed counts
    val recovered = BpeStore.create(docs, "text", path, numMerges = 4)
    recovered.hasModel shouldBe true
    recovered.stats.mergeBudget shouldBe 4
    mergesOf(recovered.model) shouldBe
      mergesOf(BpeTrain.learn(docs, "text", numMerges = 4))
    // the config stage's own recovery line: open + retrain-if-modelless
    // (the recovery retrain above committed m000002 — remove it again)
    rmr(s"$path/model"); rmr(s"$path/alphabet")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$path/_commits/m000002"))
    val viaStage = graft.plan.CurationConfig
      .parse(s"""{"table":"documents","id":"doc_id","text":"text",
        | "stages":[{"stage":"bpe_tokenize","path":"$path",
        |   "numMerges":4}]}""".stripMargin)
      .run(spark, dir)
    viaStage.columns should contain("subtokens")
    viaStage.count() shouldBe docs.count()
    BpeStore.open(spark, path).stats.mergeBudget shouldBe 4
  }
}
