package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSpec

/** The persisted content-defined-chunk gate index ([[MediaCdcIndex]],
  * dq188/dq189): the length-robust drop rule (insertion AND truncation
  * variants of stored payloads drop — the rows the blocked-signature
  * store's length fence structurally passes), the token contract,
  * parameter pins, lifecycle, and the declared `media_cdc_gate` stage.
  */
class MediaCdcIndexSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-mcidx-spec")
      .toString + "/idx"

  /** High-entropy 256-char bodies — the CDC boundary condition is
    * content-defined, so the fixture needs real entropy. */
  private def entropic(seed: Int): String =
    new scala.util.Random(seed).alphanumeric.take(256).mkString

  private def frame(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "s")
      .select(col("doc_id"), col("s").cast("binary").as("payload"))

  private def ids(df: DataFrame): Seq[Long] =
    df.select("doc_id").as[Long].collect().sorted.toSeq

  it("gates length-CHANGED variants against the STORE — insertion, " +
     "truncation, and byte-exact replays all drop on shared chunks; " +
     "disjoint payloads survive and their chunks fold in") {
    val a = entropic(1)
    val b = entropic(2)
    val idx = MediaCdcIndex.build(frame((1L, a), (2L, b)), "doc_id",
      "payload", tmp(), window = 4, minShared = 3)
    val batch = frame(
      (10L, "X" + a),         // one byte INSERTED — drop (the sig
                              // store's length fence would pass it)
      (11L, b.substring(3)),  // three bytes TRUNCATED — drop
      (12L, a),               // byte-exact replay — drop (subsumes exact)
      (13L, entropic(9)))     // disjoint content — keep
    val kept = idx.keepFarPayloads(batch, "doc_id", "payload")
    ids(kept) shouldBe Seq(13L)
    idx.append(kept.localCheckpoint(true), "doc_id", "payload")
    // 13's chunks are now stored: its insertion variant drops
    ids(idx.keepFarPayloads(frame((20L, "Y" + entropic(9))), "doc_id",
      "payload")) shouldBe Seq()
  }

  it("exactly-once tokens + the excludeToken replay view; null " +
     "payloads always pass and store nothing") {
    val idx = MediaCdcIndex.build(frame((1L, entropic(1))), "doc_id",
      "payload", tmp())
    val before = idx.stats.chunkRows
    val b1 = frame((10L, entropic(5)))
    idx.appendOnce(b1, "doc_id", "payload", "t1")
    idx.appendOnce(b1, "doc_id", "payload", "t1") // replay: no-op
    val after = idx.stats.chunkRows
    after should be > before
    ids(idx.keepFarPayloads(frame((20L, "Z" + entropic(5))), "doc_id",
      "payload")) shouldBe Seq()
    ids(idx.keepFarPayloads(frame((20L, "Z" + entropic(5))), "doc_id",
      "payload", excludeToken = Some("t1"))) shouldBe Seq(20L)
    val withNull = frame((30L, "zz")).withColumn("payload",
      lit(null).cast("binary"))
    ids(idx.keepFarPayloads(withNull, "doc_id", "payload")) shouldBe
      Seq(30L)
    idx.append(withNull, "doc_id", "payload")
    idx.stats.chunkRows shouldBe after
  }

  it("compaction folds past the threshold (newest never folded), " +
     "vacuum honors the retention guard, and a drifted parameter is " +
     "refused at the declared stage by name") {
    val path = tmp()
    spark.conf.set("spark.graft.index.compactThreshold", "2")
    try {
      val idx = MediaCdcIndex.build(frame((1L, entropic(1))), "doc_id",
        "payload", path)
      for (i <- 2 to 5)
        idx.appendOnce(frame((i.toLong, entropic(100 + i))), "doc_id",
          "payload", s"t$i")
      ids(idx.keepFarPayloads(
        frame((10L, "X" + entropic(1)), (11L, entropic(104)),
          (12L, entropic(50))),
        "doc_id", "payload")) shouldBe Seq(12L)
      idx.vacuum() shouldBe 0
      spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
      idx.vacuum() should be > 0
      ids(idx.keepFarPayloads(
        frame((10L, "X" + entropic(1)), (11L, entropic(104)),
          (12L, entropic(50))),
        "doc_id", "payload")) shouldBe Seq(12L)
    } finally {
      spark.conf.unset("spark.graft.index.compactThreshold")
      spark.conf.unset("spark.graft.index.vacuumRetentionMs")
    }
  }

  it("the zeros dial: a coarser boundary (16^zeros-byte mean chunks) " +
     "stores an order of magnitude fewer chunk rows, still drops " +
     "length-perturbed variants, and a zeros drift is refused by name") {
    val long1 = new scala.util.Random(41).alphanumeric.take(4096).mkString
    val long2 = new scala.util.Random(42).alphanumeric.take(4096).mkString
    val fine = MediaCdcIndex.build(frame((1L, long1), (2L, long2)),
      "doc_id", "payload", tmp(), zeros = 1)
    val path = tmp()
    val coarse = MediaCdcIndex.build(frame((1L, long1), (2L, long2)),
      "doc_id", "payload", path, zeros = 2)
    coarse.stats.zeros shouldBe 2
    // the storage dial: ~16x fewer stored hash rows at zeros=2 (mean
    // chunk 16 -> 256 bytes); the stored relation is what a 100 TB
    // media store keeps, so this ratio IS the operator's scale story
    coarse.stats.chunkRows.toDouble should be <
      (fine.stats.chunkRows.toDouble / 4)
    // the length-robust drop survives the coarser boundary
    ids(coarse.keepFarPayloads(frame(
      (10L, "X" + long1),   // insertion variant — drop
      (11L, entropic(9))),  // fresh — keep
      "doc_id", "payload")) shouldBe Seq(11L)
    // declared stage: a zeros drift is refused by name
    val st = graft.plan.CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "media_cdc_gate", "path": "$path",
        |   "binary": "payload", "zeros": 1}]}""".stripMargin).stages.head
    intercept[IllegalArgumentException] {
      st.apply(frame((20L, entropic(3))).withColumn("caption", lit("c")),
        "doc_id", "caption", Some("rz"))
    }.getMessage should (include("zeros=2") and include("zeros=1"))
  }

  it("the declared media_cdc_gate stage: seed, gate+append, replayed " +
     "rounds, drifted parameters refused by name, store_vacuum kind " +
     "'mediacdc', and the frozen media_decontam_gate mode 'cdc'") {
    val path = tmp()
    def stage(minShared: Int = 3) = graft.plan.CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "media_cdc_gate", "path": "$path",
        |   "binary": "payload", "window": 4, "minShared": $minShared,
        |   "maxBucket": 100}]}""".stripMargin).stages.head
    val r1 = frame((1L, entropic(1)), (2L, entropic(2)))
      .withColumn("caption", lit("c"))
    ids(stage().apply(r1, "doc_id", "caption", Some("run1"))) shouldBe
      Seq(1L, 2L)
    ids(stage().apply(r1, "doc_id", "caption", Some("run1"))) shouldBe
      Seq(1L, 2L)
    val r2 = frame((10L, "X" + entropic(1)), (11L, entropic(30)))
      .withColumn("caption", lit("c"))
    ids(stage().apply(r2, "doc_id", "caption", Some("run2"))) shouldBe
      Seq(11L)
    intercept[IllegalArgumentException] {
      stage(minShared = 4).apply(r2, "doc_id", "caption", Some("run3"))
    }.getMessage should (include("minShared=3") and
      include("minShared=4"))
    val vac = graft.plan.CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "store_vacuum", "kind": "mediacdc",
        |   "path": "$path"}]}""".stripMargin).stages.head
    ids(vac.apply(r1, "doc_id", "caption", None)) shouldBe Seq(1L, 2L)
    // the frozen benchmark form: mode "cdc" builds a MediaCdcIndex on
    // first use and a LENGTH-PERTURBED copy of a benchmark payload
    // drops; gate-only, so a rerun keeps the same survivors
    val d = graft.io.TempReaper.tempDir("graft-mcidx-frozen").toString
    frame((900L, entropic(77)))
      .write.parquet(s"$d/media_bench.parquet")
    val fz = graft.plan.CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "media_decontam_gate", "mode": "cdc",
        |   "path": "$d/fz", "binary": "payload",
        |   "benchmarkTable": "media_bench", "window": 4,
        |   "minShared": 3, "maxBucket": 100}]}""".stripMargin)
    val cand = frame((50L, "QQ" + entropic(77)), (51L, entropic(78)))
      .withColumn("caption", lit("c"))
    ids(fz.applyStages(cand, d)) shouldBe Seq(51L)
    ids(fz.applyStages(cand, d)) shouldBe Seq(51L)
  }
}
