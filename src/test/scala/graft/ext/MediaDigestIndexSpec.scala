package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSpec

/** The persisted exact-payload gate index ([[MediaDigestIndex]], dq176):
  * history-only gate semantics, the exactly-once token contract with the
  * excludeToken replay view, compaction + vacuum lifecycle, and the
  * declared `media_digest_gate` stage.
  */
class MediaDigestIndexSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-mdidx-spec")
      .toString + "/idx"

  /** (id, payload derived from `key` — ids sharing a key are
    * byte-identical). */
  private def frame(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "k")
      .select(col("doc_id"),
        concat(lit("payload:"), col("k")).cast("binary").as("payload"))

  private def ids(df: DataFrame): Seq[Long] =
    df.select("doc_id").as[Long].collect().sorted.toSeq

  it("gates batches against STORED payload digests: byte-identical rows " +
     "drop, fresh rows pass and their digests fold in; within-batch " +
     "copies BOTH pass (history-only semantics)") {
    val idx = MediaDigestIndex.build(
      frame(1L -> "a", 2L -> "b"), "doc_id", "payload", tmp())
    idx.stats.digests shouldBe 2L
    // 10 copies history "a" (drops); 11/12 share fresh "c" (BOTH pass —
    // the within-frame stage is media_dedup's job); 13 fresh "d" passes
    val b1 = frame(10L -> "a", 11L -> "c", 12L -> "c", 13L -> "d")
    val kept = idx.keepUnseenPayloads(b1, "doc_id", "payload")
    ids(kept) shouldBe Seq(11L, 12L, 13L)
    kept.columns.toSeq shouldBe b1.columns.toSeq
    idx.append(kept.localCheckpoint(true), "doc_id", "payload")
    // ONE distinct digest per fresh payload was stored: "c" now gates
    idx.stats.digests shouldBe 4L
    ids(idx.keepUnseenPayloads(
      frame(20L -> "c", 21L -> "d", 22L -> "e"),
      "doc_id", "payload")) shouldBe Seq(22L)
  }

  it("exactly-once tokens: a replayed appendOnce is a no-op, and the " +
     "excludeToken view gates as if the append never happened") {
    val idx = MediaDigestIndex.build(
      frame(1L -> "a"), "doc_id", "payload", tmp())
    val b1 = frame(10L -> "b", 11L -> "c")
    idx.appendOnce(b1, "doc_id", "payload", "t1")
    idx.appendOnce(b1, "doc_id", "payload", "t1") // replay: no-op
    idx.stats.digests shouldBe 3L
    // committed view: b and c are seen
    ids(idx.keepUnseenPayloads(frame(20L -> "b", 21L -> "z"),
      "doc_id", "payload")) shouldBe Seq(21L)
    // the replay view excludes t1's append: b is fresh again
    ids(idx.keepUnseenPayloads(frame(20L -> "b", 21L -> "z"),
      "doc_id", "payload",
      excludeToken = Some("t1"))) shouldBe Seq(20L, 21L)
    idx.seededBy("t1") shouldBe false
    val seeded = MediaDigestIndex.build(frame(1L -> "a"), "doc_id",
      "payload", tmp(), seedToken = Some("s1"))
    seeded.seededBy("s1") shouldBe true
  }

  it("null payloads carry no identity: they are always kept and never " +
     "stored as digests") {
    val idx = MediaDigestIndex.build(
      frame(1L -> "a"), "doc_id", "payload", tmp())
    val withNull = frame(10L -> "a", 11L -> "b")
      .withColumn("payload",
        when(col("doc_id") === 11L, lit(null).cast("binary"))
          .otherwise(col("payload")))
    ids(idx.keepUnseenPayloads(withNull, "doc_id", "payload")) shouldBe
      Seq(11L)
    idx.append(withNull.filter(col("doc_id") === 11L), "doc_id", "payload")
    idx.stats.digests shouldBe 1L // the null row stored nothing
  }

  it("compaction folds digest dirs past the threshold (newest never " +
     "folded — the token-replay window) and vacuum unlinks superseded " +
     "dirs under the retention guard") {
    val path = tmp()
    spark.conf.set("spark.graft.index.compactThreshold", "2")
    try {
      val idx = MediaDigestIndex.build(
        frame(1L -> "a"), "doc_id", "payload", path)
      for (i <- 2 to 5)
        idx.appendOnce(frame(i.toLong -> s"k$i"), "doc_id", "payload",
          s"t$i")
      val dirs = new java.io.File(s"$path/digests").listFiles()
        .count(_.getName.startsWith("append="))
      // still gates correctly over the folded layout
      ids(idx.keepUnseenPayloads(
        frame(10L -> "a", 11L -> "k5", 12L -> "new"),
        "doc_id", "payload")) shouldBe Seq(12L)
      // retention guard: young superseded dirs survive vacuum
      idx.vacuum() shouldBe 0
      spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
      val removed = idx.vacuum()
      removed should be > 0
      new java.io.File(s"$path/digests").listFiles()
        .count(_.getName.startsWith("append=")) shouldBe (dirs - removed)
      ids(idx.keepUnseenPayloads(
        frame(10L -> "a", 11L -> "k5", 12L -> "new"),
        "doc_id", "payload")) shouldBe Seq(12L)
    } finally {
      spark.conf.unset("spark.graft.index.compactThreshold")
      spark.conf.unset("spark.graft.index.vacuumRetentionMs")
    }
  }

  it("build refuses an occupied path, open fails fast on a missing " +
     "layout, and a first build with only null payloads is refused") {
    val path = tmp()
    MediaDigestIndex.build(frame(1L -> "a"), "doc_id", "payload", path)
    intercept[IllegalArgumentException] {
      MediaDigestIndex.build(frame(2L -> "b"), "doc_id", "payload", path)
    }.getMessage should include("already holds")
    an[Exception] should be thrownBy
      MediaDigestIndex.open(spark, tmp())
    intercept[IllegalArgumentException] {
      MediaDigestIndex.build(
        frame(1L -> "a").withColumn("payload", lit(null).cast("binary")),
        "doc_id", "payload", tmp())
    }.getMessage should include("no non-null payloads")
  }

  it("the declared media_digest_gate stage: round 1 seeds, round 2 " +
     "gates + appends, a replayed round under its token returns the " +
     "original answer, and store_vacuum reaches kind 'mediadigest'") {
    val path = tmp()
    def stage = graft.plan.CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "media_digest_gate", "path": "$path",
        |   "binary": "payload"}]}""".stripMargin).stages.head
    val r1 = frame(1L -> "a", 2L -> "b").withColumn("caption", lit("c"))
    // round 1 seeds: everything kept
    ids(stage.apply(r1, "doc_id", "caption", Some("run1"))) shouldBe
      Seq(1L, 2L)
    MediaDigestIndex.exists(spark, path) shouldBe true
    // a REPLAY of round 1 recognizes its own seed (all kept, no re-gate)
    ids(stage.apply(r1, "doc_id", "caption", Some("run1"))) shouldBe
      Seq(1L, 2L)
    // round 2 gates against the seed and appends its survivors
    val r2 = frame(10L -> "a", 11L -> "x").withColumn("caption", lit("c"))
    ids(stage.apply(r2, "doc_id", "caption", Some("run2"))) shouldBe
      Seq(11L)
    // round 2 REPLAYED under the same token: the excludeToken view
    // returns the original survivors even though x is now stored
    ids(stage.apply(r2, "doc_id", "caption", Some("run2"))) shouldBe
      Seq(11L)
    // the lifecycle stage reaches the new store kind
    val vac = graft.plan.CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "store_vacuum", "kind": "mediadigest",
        |   "path": "$path"}]}""".stripMargin).stages.head
    ids(vac.apply(r1, "doc_id", "caption", None)) shouldBe Seq(1L, 2L)
    // the parser refuses a missing binary/path by name
    intercept[IllegalArgumentException] {
      graft.plan.CurationConfig.parse(
        """{"table": "d", "id": "i", "text": "t",
          | "stages": [{"stage": "media_digest_gate",
          |   "path": "/tmp/x"}]}""".stripMargin)
    }.getMessage should include("binary")
  }
}
