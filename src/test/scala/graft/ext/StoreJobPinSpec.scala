package graft.ext

import org.apache.spark.sql.DataFrame

import graft.GraftSpec

/** Pins the Spark job count of one store cycle — the ingest loop's
  * serial driver cost ([[graft.streaming.EventStream.indexedIngestBatch]]:
  * open, `gateKeep` under the batch token, `localCheckpoint(true)`,
  * `appendToken`) on the three text gates, and one `append` plus `stats`
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
    java.nio.file.Files.createTempDirectory(s"graft-jobpin-$tag")
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
    val kept: DataFrame = idx.gateKeep(batch, "doc_id", "text", Some(token))
      .localCheckpoint(true)
    idx.appendToken(kept, "doc_id", "text", token)
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
  // counts measured on the per-store layouts this spec was written
  // against: a separate stats file per store, and BM25's stats partials
  // as parquet dirs summed by a Spark job. NearDupIndex's is lower: its
  // append stats come from footers, without the doc count and the
  // distinct count over every `counts/` dir (28 before).
  val NearDupCycle = 23
  val SubstrCycle = 16
  val NgramLmCycle = 20
  val Bm25AppendStats = 9
}
