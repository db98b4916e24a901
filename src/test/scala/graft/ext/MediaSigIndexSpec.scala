package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSpec

/** The persisted blocked-signature gate index ([[MediaSigIndex]],
  * dq180): the near-match drop rule and its boundary, the exact-replay
  * subsumption, the token contract, parameter pins, lifecycle, and the
  * declared `media_sig_gate` stage.
  */
class MediaSigIndexSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-msidx-spec")
      .toString + "/idx"

  /** (id, payload of 8 32-byte blocks keyed on `key`, blocks in `diff`
    * salted per-doc). */
  private def frame(rows: (Long, String, Set[Int])*): DataFrame =
    rows.toSeq.map { case (id, key, diff) =>
      (id, (0 to 7).map(j =>
        (if (diff(j)) s"BLK$id$j" else s"BLK$key$j").padTo(32, '_'))
        .mkString(""))
    }.toDF("doc_id", "s")
      .select(col("doc_id"), col("s").cast("binary").as("payload"))

  private def ids(df: DataFrame): Seq[Long] =
    df.select("doc_id").as[Long].collect().sorted.toSeq

  it("gates near-identical payloads against the STORE: <= blocks - " +
     "minMatch differing blocks drop (exact replays included), more " +
     "differing blocks pass, different lengths always pass, and " +
     "survivors' signatures fold in") {
    val idx = MediaSigIndex.build(
      frame((1L, "a", Set()), (2L, "b", Set())), "doc_id", "payload",
      tmp(), blocks = 8, minMatch = 6)
    val b1 = frame(
      (10L, "a", Set()),      // exact replay of stored a: 8/8 -> drop
      (11L, "a", Set(0, 7)),  // 6/8 matches vs a -> drop
      (12L, "a", Set(0, 3, 7)), // 5/8 -> pass
      (13L, "c", Set()))      // fresh key -> pass
      .union(frame((14L, "a", Set())).withColumn("payload",
        concat(col("payload"), lit("TAIL").cast("binary"))))
      // same prefix but longer: the length fence passes it
    val kept = idx.keepFarPayloads(b1, "doc_id", "payload")
    ids(kept) shouldBe Seq(12L, 13L, 14L)
    idx.append(kept.localCheckpoint(true), "doc_id", "payload")
    // 13's signatures are now stored: a near-variant of 13 drops
    ids(idx.keepFarPayloads(frame((20L, "c", Set(5))), "doc_id",
      "payload")) shouldBe Seq()
  }

  it("exactly-once tokens + the excludeToken replay view; null " +
     "payloads always pass and store nothing") {
    val idx = MediaSigIndex.build(frame((1L, "a", Set())), "doc_id",
      "payload", tmp())
    val b1 = frame((10L, "b", Set()))
    idx.appendOnce(b1, "doc_id", "payload", "t1")
    idx.appendOnce(b1, "doc_id", "payload", "t1") // replay: no-op
    idx.stats.sigRows shouldBe 16L
    ids(idx.keepFarPayloads(frame((20L, "b", Set(7))), "doc_id",
      "payload")) shouldBe Seq()
    ids(idx.keepFarPayloads(frame((20L, "b", Set(7))), "doc_id",
      "payload", excludeToken = Some("t1"))) shouldBe Seq(20L)
    val withNull = frame((30L, "z", Set())).withColumn("payload",
      lit(null).cast("binary"))
    ids(idx.keepFarPayloads(withNull, "doc_id", "payload")) shouldBe
      Seq(30L)
    idx.append(withNull, "doc_id", "payload")
    idx.stats.sigRows shouldBe 16L
  }

  it("compaction folds past the threshold (newest never folded) and " +
     "vacuum honors the retention guard") {
    val path = tmp()
    spark.conf.set("spark.graft.index.compactThreshold", "2")
    try {
      val idx = MediaSigIndex.build(frame((1L, "a", Set())), "doc_id",
        "payload", path)
      for (i <- 2 to 5)
        idx.appendOnce(frame((i.toLong, s"k$i", Set())), "doc_id",
          "payload", s"t$i")
      ids(idx.keepFarPayloads(
        frame((10L, "a", Set(0)), (11L, "k5", Set()), (12L, "new", Set())),
        "doc_id", "payload")) shouldBe Seq(12L)
      idx.vacuum() shouldBe 0
      spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
      idx.vacuum() should be > 0
      ids(idx.keepFarPayloads(
        frame((10L, "a", Set(0)), (11L, "k5", Set()), (12L, "new", Set())),
        "doc_id", "payload")) shouldBe Seq(12L)
    } finally {
      spark.conf.unset("spark.graft.index.compactThreshold")
      spark.conf.unset("spark.graft.index.vacuumRetentionMs")
    }
  }

  it("the declared media_sig_gate stage: seed, gate+append, replayed " +
     "rounds, drifted parameters refused by name, store_vacuum reaches " +
     "kind 'mediasig'") {
    val path = tmp()
    def stage(minMatch: Int = 6) = graft.plan.CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "media_sig_gate", "path": "$path",
        |   "binary": "payload", "blocks": 8, "minMatch": $minMatch,
        |   "maxBucket": 100}]}""".stripMargin).stages.head
    val r1 = frame((1L, "a", Set()), (2L, "b", Set()))
      .withColumn("caption", lit("c"))
    ids(stage().apply(r1, "doc_id", "caption", Some("run1"))) shouldBe
      Seq(1L, 2L)
    // replay of the seed round recognizes its own token
    ids(stage().apply(r1, "doc_id", "caption", Some("run1"))) shouldBe
      Seq(1L, 2L)
    val r2 = frame((10L, "a", Set(7)), (11L, "x", Set()))
      .withColumn("caption", lit("c"))
    ids(stage().apply(r2, "doc_id", "caption", Some("run2"))) shouldBe
      Seq(11L)
    ids(stage().apply(r2, "doc_id", "caption", Some("run2"))) shouldBe
      Seq(11L)
    // drifted parameters are refused at open with both values named
    intercept[IllegalArgumentException] {
      stage(minMatch = 7).apply(r2, "doc_id", "caption", Some("run3"))
    }.getMessage should (include("minMatch=6") and include("minMatch=7"))
    val vac = graft.plan.CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "store_vacuum", "kind": "mediasig",
        |   "path": "$path"}]}""".stripMargin).stages.head
    ids(vac.apply(r1, "doc_id", "caption", None)) shouldBe Seq(1L, 2L)
  }

  it("a degenerate store (every bucket over the cap) passes the batch " +
     "unchanged instead of crashing: the capped relation is empty, and " +
     "an empty-relation Bloom filter would throw on every probe") {
    // three byte-identical payloads: every (nb, i, bh) bucket holds 3
    // rows > maxBucket = 2, so the cap empties the stored relation
    val idx = MediaSigIndex.build(
      frame((1L, "a", Set()), (2L, "a", Set()), (3L, "a", Set())),
      "doc_id", "payload", tmp(), blocks = 8, minMatch = 6,
      maxBucket = 2)
    // even an exact replay passes: no stored key survives the cap
    ids(idx.keepFarPayloads(frame((10L, "a", Set()), (11L, "z", Set())),
      "doc_id", "payload")) shouldBe Seq(10L, 11L)
  }

  it("duplicate stored signature rows do not double the match count: " +
     "the per-(batch, stored) evidence is DISTINCT block indices, so a " +
     "payload sharing only minMatch/2 blocks with a twice-appended " +
     "payload survives") {
    val idx = MediaSigIndex.build(frame((1L, "a", Set())), "doc_id",
      "payload", tmp(), blocks = 8, minMatch = 6, maxBucket = 100)
    // the same rows again via the UNTOKENED append: vid 1's signature
    // rows are now stored twice (compaction's straight union keeps them)
    idx.append(frame((1L, "a", Set())).localCheckpoint(true), "doc_id",
      "payload")
    // shares blocks 5, 6, 7 with stored a — 3 distinct < minMatch 6;
    // a row-count rule would see 3 x 2 = 6 and falsely drop it
    ids(idx.keepFarPayloads(frame((20L, "a", Set(0, 1, 2, 3, 4))),
      "doc_id", "payload")) shouldBe Seq(20L)
    // a true 6-block match still drops through the doubled store
    ids(idx.keepFarPayloads(frame((21L, "a", Set(0, 7))),
      "doc_id", "payload")) shouldBe Seq()
  }
}
