package graft.ext

import graft.GraftSpec

/** Pins the Spark job count of one store cycle — the ingest loop's
  * serial driver cost ([[graft.streaming.EventStream.indexedIngestBatch]]:
  * open, `gate` under the batch token, `append` of its answer) on the
  * three text gates, and one `append` plus `stats`
  * on [[Bm25Store]]. Each bound is the count measured before the stores
  * moved onto the shared [[StoreLog]] core, or the lower count a later
  * change measured; a change that adds a job to a
  * cycle fails here instead of surfacing as a slower ingest loop.
  *
  * Jobs are counted by job group with a `SparkListener` ([[JobCount]]).
  */
class StoreJobPinSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    graft.io.TempReaper.tempDir(s"graft-jobpin-$tag")
      .toString + "/idx"

  private val history = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "one two three four five six seven eight nine ten"),
    (3L, "the rain in the sea and the wind in the sun"))
    .toDF("doc_id", "text")

  private val batch = Seq(
    (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (11L, "fresh words then one two three four five six"),
    (12L, "wholly novel content with no overlap at all here"))
    .toDF("doc_id", "text").localCheckpoint(true)

  private def jobsOf(tag: String)(body: => Unit): Int =
    JobCount.of(spark, tag)(body)

  private def cycle(idx: IngestIndex, token: String): Unit = {
    idx.append(idx.gate(batch, "doc_id", "text", Some(token)), Some(token))
  }

  it("one NearDupIndex gate/append cycle runs no more jobs than before") {
    val path = tmp("nd")
    NearDupIndex.build(history, "doc_id", "text", path)
    val n = jobsOf("nd")(cycle(NearDupIndex.open(spark, path), "nd#1"))
    info(s"NearDupIndex cycle: $n jobs")
    n should be <= StoreJobPinSpec.NearDupCycle
  }

  it("one SubstrIndex gate/append cycle runs no more jobs than before") {
    val path = tmp("ss")
    SubstrIndex.build(history, "doc_id", "text", path, k = 4)
    val n = jobsOf("ss")(cycle(SubstrIndex.open(spark, path), "ss#1"))
    info(s"SubstrIndex cycle: $n jobs")
    n should be <= StoreJobPinSpec.SubstrCycle
  }

  it("one NgramLmStore gate/append cycle runs no more jobs than before") {
    val path = tmp("lm")
    NgramLmStore.build(history, "doc_id", "text", path)
    val n = jobsOf("lm")(cycle(NgramLmStore.open(spark, path), "lm#1"))
    info(s"NgramLmStore cycle: $n jobs")
    n should be <= StoreJobPinSpec.NgramLmCycle
  }

  it("one Bm25Store append plus stats runs no more jobs than before") {
    val path = tmp("bm")
    Bm25Store.build(history, "doc_id", "text", path, buckets = 4)
    val n = jobsOf("bm") {
      val store = Bm25Store.open(spark, path)
      store.append(batch, "doc_id", "text")
      store.stats
      ()
    }
    info(s"Bm25Store append + stats: $n jobs")
    n should be <= StoreJobPinSpec.Bm25AppendStats
  }
}

object StoreJobPinSpec {
  // BM25's count was measured on the per-store layouts this spec was
  // written against (its stats partials as parquet dirs summed by a Spark
  // job). The text gates' counts are those of the two-phase cycle: the
  // gate hands its materialized survivors and their features to the
  // append, so the caller's checkpoint and the append's re-derivation
  // are gone (23, 16 and 20 jobs before; NearDup's 23 was already below
  // its first 28 because its append stats come from footers). NearDup's
  // gate takes the distinct candidate pairs and the distinct duplicate
  // ids it broadcasts, one job each. NgramLm's cycle fell 19 → 12 when
  // its counts/ stopped partitioning by prefix bucket (one file per
  // append) and its score read the stored partials once instead of
  // joining the model to its own prefix totals. NearDup's cycle fell
  // 20 → 11 and Substr's 11 → 7 when a batch small enough to broadcast
  // (this one) began to gate on driver-side key sets: the fan-out, the
  // cache load, one collect of the batch side, one map-only scan per
  // history relation (NearDup: counts/, bands/, digests/; Substr:
  // digests/) and the checkpoint of the kept rows — no joins, no Bloom
  // filter job.
  val NearDupCycle = 11
  val SubstrCycle = 7
  val NgramLmCycle = 12
  val Bm25AppendStats = 9
}
