package graft.plan

import org.apache.spark.sql.functions._

import graft.GraftSpec
import graft.ext.{Sampling, StrataCountStore}

/** Store-mediated temperature mixing (`mix_gate` over a
  * [[StrataCountStore]]): the stream-correct sibling of the batch-scoped
  * `temperature_mix` — rates from corpus-to-date counts, exact-integer
  * chain shared with the per-call operator, exactly-once count folds,
  * legal in the streamed runner.
  */
class MixGateSpec extends GraftSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
    .select("doc_id", "source")
  private lazy val b1 = docs.filter($"doc_id" % 4 === 1).localCheckpoint(true)
  private lazy val b2 = docs
    .filter($"doc_id" % 4 === 2 || $"doc_id" % 4 === 3).localCheckpoint(true)

  private def tmp(): String = graft.io.TempReaper
    .tempDir("graft-mixgate").toString + "/sc"

  private def cfgAt(path: String, target: Long): CurationConfig.PipelineDef =
    CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "mix_gate", "path": "$path", "strata": "source",
        |    "targetDocs": $target}]}""".stripMargin)

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("doc_id").as[Long].collect().sorted.toSeq

  it("round 1 equals the plain frame-local operator (seed = batch-alone " +
     "rates); round 2's rates flatten over the CUMULATIVE counts — and " +
     "the chain is the shared Sampling arithmetic, bit for bit") {
    val path = tmp()
    val p = cfgAt(path, target = 50)
    val k1 = ids(p.applyStages(b1, dir, Some("r1")))
    k1 shouldBe ids(Sampling
      .temperatureMixPortable(b1, "source", "doc_id", targetDocs = 50))
    val k2 = ids(p.applyStages(b2, dir, Some("r2")))
    val unionCounts =
      Sampling.strataCounts(b1.unionByName(b2), "source")
    k2 shouldBe ids(Sampling.temperatureGate(b2, "source", "doc_id",
      Sampling.temperatureRatesMicro(unionCounts, targetDocs = 50), 42L))
    // round 2's rates differ from the frame-local form's: the stored
    // history changes the mixture (that is the operator's point)
    k2 should not be ids(Sampling
      .temperatureMixPortable(b2, "source", "doc_id", targetDocs = 50))
    // the store now holds the raw union composition
    StrataCountStore.open(spark, path).counts() shouldBe
      unionCounts.sortBy(_._1)
  }

  it("replays are exactly-once: a rerun under the crashed round's runId " +
     "reproduces its survivors and folds no counts twice; the seed " +
     "round's replay is deterministic without the store") {
    val path = tmp()
    val p = cfgAt(path, target = 50)
    val k1 = ids(p.applyStages(b1, dir, Some("r1")))
    val k2 = ids(p.applyStages(b2, dir, Some("r2")))
    def commits(): Int = new java.io.File(
      path + "/_commits").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("."))
    val c = commits()
    ids(p.applyStages(b2, dir, Some("r2"))) shouldBe k2
    ids(p.applyStages(b1, dir, Some("r1"))) shouldBe k1 // seed replay
    commits() shouldBe c
    StrataCountStore.open(spark, path).counts() shouldBe
      Sampling.strataCounts(b1.unionByName(b2), "source").sortBy(_._1)
  }

  it("the STREAMED runner accepts mix_gate (store-mediated, not " +
     "batch-scoped) and matches the named batch rounds") {
    import graft.streaming.EventStream
    val p = cfgAt(tmp(), target = 50)
    val streamed = EventStream.runConfigPipeline(
      EventStream.twoFileBatchStream(b1, b2, "mixstream"),
      p, dir, "mixstream")
    val batchTwin = cfgAt(tmp(), target = 50)
    ids(streamed.filter($"batch" === 1L)) shouldBe
      ids(batchTwin.applyStages(b1, dir, Some("r1")))
    ids(streamed.filter($"batch" === 2L)) shouldBe
      ids(batchTwin.applyStages(b2, dir, Some("r2")))
    p.batchScopedStages shouldBe empty
  }

  it("StrataCountStore: appendOnce idempotent, compaction sum-identical, " +
     "vacuum retention-guarded, empty appends round-trip") {
    val path = tmp()
    spark.conf.set("spark.graft.index.compactThreshold", "2")
    spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
    try {
      val st = StrataCountStore.create(spark, path,
        Seq(("a", 3L), ("b", 1L)), seedToken = Some("s"))
      st.appendOnce(Seq(("a", 2L)), "t1")
      st.appendOnce(Seq(("a", 2L)), "t1") // replay: no double fold
      st.appendOnce(Seq(("c", 5L)), "t2")
      st.append(Nil) // an empty batch still commits (schema-carrying file)
      st.appendOnce(Seq(("b", 4L)), "t3")
      st.counts() shouldBe Seq(("a", 5L), ("b", 5L), ("c", 5L))
      st.counts(excludeToken = Some("t3")) shouldBe
        Seq(("a", 5L), ("b", 1L), ("c", 5L))
      st.seededBy("s") shouldBe true
      st.seededBy("t1") shouldBe false
      // compaction happened (threshold 2) and vacuum unlinks the folds
      st.vacuum() should be > 0
      st.counts() shouldBe Seq(("a", 5L), ("b", 5L), ("c", 5L))
    } finally {
      spark.conf.unset("spark.graft.index.compactThreshold")
      spark.conf.unset("spark.graft.index.vacuumRetentionMs")
    }
  }

  it("strict parse and NULL-strata refusal") {
    def bad(json: String, frag: String): Unit =
      intercept[IllegalArgumentException] { CurationConfig.parse(json) }
        .getMessage should include(frag)
    bad("""{"table":"t","id":"i","text":"x",
        | "stages":[{"stage":"mix_gate","strata":"s","targetDocs":5}]}"""
        .stripMargin, "'path'")
    bad("""{"table":"t","id":"i","text":"x",
        | "stages":[{"stage":"mix_gate","path":"/p","targetDocs":5}]}"""
        .stripMargin, "'strata'")
    bad("""{"table":"t","id":"i","text":"x",
        | "stages":[{"stage":"mix_gate","path":"/p","strata":"s"}]}"""
        .stripMargin, "'targetDocs'")
    val withNull = Seq((1L, "a"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "source")
    intercept[IllegalArgumentException] {
      cfgAt(tmp(), 5).applyStages(withNull, dir, Some("r1"))
    }.getMessage should include("NULL")
  }
}
