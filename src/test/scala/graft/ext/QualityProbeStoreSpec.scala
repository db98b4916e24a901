package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSpec

/** The persisted quality-probe statistics: seed parity with the per-call
  * dq112 table, associative incremental appends against the frozen
  * reference LM, exactly-once tokens, and weight re-derivation. */
class QualityProbeStoreSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-qpstore-spec")
      .toString + "/idx"

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")

  private def tableOf(df: DataFrame): Seq[(String, Long)] =
    df.orderBy("term").as[(String, Long)].collect().toSeq

  private def perCallMoments(batch: DataFrame, modelDocs: DataFrame): DataFrame = {
    val y = NgramLm.scoreAgainst(batch, modelDocs, "doc_id", "text")
      .select(col("doc_id"), col("mean_micro"))
    QualityProbe.moments(
      QualityProbe.features(batch, "doc_id", "text").join(y, "doc_id"),
      "mean_micro")
  }

  it("the seed table equals the per-call self-trained moments (the frozen " +
     "model IS the self-model at create)") {
    val store = QualityProbeStore.create(docs, "doc_id", "text", tmp())
    tableOf(store.moments()) shouldBe tableOf(perCallMoments(docs, docs))
  }

  it("create + append equals one per-call pass over the union with the " +
     "FROZEN history model as the target's reference (associativity)") {
    val hist = docs.filter($"doc_id" % 5 =!= 0)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val store = QualityProbeStore.create(hist, "doc_id", "text", tmp())
    store.appendOnce(batch, "doc_id", "text", "b#1")
    tableOf(store.moments()) shouldBe tableOf(perCallMoments(docs, hist))
    // and the exact Cramer weights re-derive from the summed table
    store.milliWeights().toSeq shouldBe QualityProbe.milliWeights(
      perCallMoments(docs, hist).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap).toSeq
  }

  it("appendOnce is idempotent under its token; the excludeToken view " +
     "replays the pre-append table") {
    val hist = docs.filter($"doc_id" % 5 =!= 0)
    val store = QualityProbeStore.create(hist, "doc_id", "text", tmp())
    val seed = tableOf(store.moments())
    val batch = docs.filter($"doc_id" % 5 === 0)
    store.appendOnce(batch, "doc_id", "text", "b#1")
    val after = tableOf(store.moments())
    store.appendOnce(batch, "doc_id", "text", "b#1") // replay: no-op
    tableOf(store.moments()) shouldBe after
    tableOf(store.moments(excludeToken = Some("b#1"))) shouldBe seed
  }

  it("gate equals the hand-derived mean gate: stored Cramer weights, " +
     "threshold from the moments alone (no corpus rescan)") {
    val store = QualityProbeStore.create(docs, "doc_id", "text", tmp())
    val batch = docs.select($"doc_id" + 900000 as "doc_id", $"text")
    // by-hand: weights from the stored table, threshold from the same
    // 14 terms (x0 = 1 ⇒ Σ score = Σ_j w_j·m_0_j over m_0_0 docs)
    val m = store.moments().as[(String, Long)].collect().toMap
    val w = QualityProbe.milliWeights(m)
    val num = (0 until 4).map(j => BigInt(w(j)) * BigInt(m(s"m_0_$j"))).sum
    val thr = (num / BigInt(m("m_0_0")) -
      (if (num % BigInt(m("m_0_0")) != 0 && num < 0) 1 else 0)).toLong
    val expect = QualityProbe.features(batch, "doc_id", "text")
      .withColumn("s", QualityProbe.score(w))
      .where($"s" >= thr).select("doc_id")
      .as[Long].collect().sorted
    store.gate(batch, "doc_id", "text", None).kept
      .select("doc_id").as[Long].collect().sorted shouldBe expect
    // and the threshold equals the directly-computed stored-corpus mean
    val scores = QualityProbe.features(docs, "doc_id", "text")
      .withColumn("s", QualityProbe.score(w))
      .agg(sum($"s").cast("long"), count(lit(1))).head()
    thr shouldBe Math.floorDiv(scores.getLong(0), scores.getLong(1))
    store.model()._2 shouldBe thr
  }

  it("the ingest-loop contract: append is exactly-once and the " +
     "excludeToken gate replays the pre-append model") {
    val hist = docs.filter($"doc_id" % 5 =!= 0)
    val store = QualityProbeStore.create(hist, "doc_id", "text", tmp())
    val batch = docs.filter($"doc_id" % 5 === 0)
    val gated = store.gate(batch, "doc_id", "text", Some("t#1"))
    val keptBefore = gated.kept.select("doc_id").as[Long].collect().sorted
    store.append(gated, Some("t#1"))
    store.append(store.gate(batch, "doc_id", "text", None),
      Some("t#1")) // replay: no-op
    // the replay view (excluding the committed token) gates identically
    store.gate(batch, "doc_id", "text", Some("t#1")).kept
      .select("doc_id").as[Long].collect().sorted shouldBe keptBefore
  }

  it("the gate plan scans NO files at all over a checkpointed batch — " +
     "model and threshold are driver-side constants off the moment table " +
     "(the 100 TB seam: zero corpus-sized reads per gate)") {
    val store = QualityProbeStore.create(docs, "doc_id", "text", tmp())
    val batch = docs.select($"doc_id" + 70000 as "doc_id", $"text")
      .localCheckpoint(true)
    val kept = store.keepAboveMean(batch, "doc_id", "text")
    kept.collect()
    val scans = graft.plans.PlanWalk
      .collectAll(kept.queryExecution.executedPlan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    scans shouldBe empty
  }

  it("create is crash-replayable: a predecessor that died between the " +
     "LM build and the first moments commit is recovered, not wedged") {
    val path = tmp()
    // simulate the crash: the frozen LM exists, the moments log is empty
    NgramLmStore.build(docs, "doc_id", "text", s"$path/lm")
    val store = QualityProbeStore.create(docs, "doc_id", "text", path)
    store.moments().count() shouldBe 14
    store.milliWeights() should have length 4
  }

  it("compaction folds moment partials past the threshold into ONE summed " +
     "dir (bit-exact table, newest dir never folded), and vacuum unlinks " +
     "the superseded dirs without changing the model") {
    val path = tmp()
    def slice(r: Int) = docs.filter($"doc_id" % 7 === r)
    spark.conf.set("spark.graft.index.compactThreshold", "3")
    spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
    try {
      val store = QualityProbeStore.create(slice(1), "doc_id", "text", path)
      (2 to 6).foreach(r =>
        store.appendOnce(slice(r), "doc_id", "text", s"b#$r"))
      // an identical store with compaction effectively off is the oracle
      val twinPath = tmp()
      spark.conf.set("spark.graft.index.compactThreshold", "1000")
      val twin = QualityProbeStore.create(slice(1), "doc_id", "text", twinPath)
      (2 to 6).foreach(r =>
        twin.appendOnce(slice(r), "doc_id", "text", s"b#$r"))
      tableOf(store.moments()) shouldBe tableOf(twin.moments())
      store.milliWeights().toSeq shouldBe twin.milliWeights().toSeq
      def dirs(p: String): Seq[String] =
        new java.io.File(s"$p/moments").listFiles()
          .map(_.getName).filter(_.startsWith("append=")).sorted.toSeq
      // a compaction happened: a c-dir exists, and vacuum unlinks the
      // superseded a-dirs (retention 0) leaving fewer dirs than the twin
      dirs(path).exists(_.startsWith("append=c")) shouldBe true
      store.vacuum() should be > 0
      dirs(path).size should be < dirs(twinPath).size
      tableOf(store.moments()) shouldBe tableOf(twin.moments())
      // replay of an already-folded token is still a no-op post-compaction
      val before = tableOf(store.moments())
      store.appendOnce(slice(3), "doc_id", "text", "b#3")
      tableOf(store.moments()) shouldBe before
      // vacuum is idempotent
      store.vacuum() shouldBe 0
    } finally {
      spark.conf.unset("spark.graft.index.compactThreshold")
      spark.conf.unset("spark.graft.index.vacuumRetentionMs")
    }
  }

  it("open() restores the store and its frozen LM; a missing layout is " +
     "refused; create refuses an occupied path") {
    val path = tmp()
    QualityProbeStore.create(docs, "doc_id", "text", path)
    val reopened = QualityProbeStore.open(spark, path)
    reopened.moments().count() shouldBe 14
    an[Exception] should be thrownBy QualityProbeStore.open(spark, tmp())
    an[Exception] should be thrownBy
      QualityProbeStore.create(docs, "doc_id", "text", path)
  }
}
