package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter join pruning — the 100 TB semi-join technique: build a
  * Bloom filter over the (small) dimension side's keys, broadcast it, and
  * drop fact rows that cannot match BEFORE they enter the join shuffle.
  * No false negatives (every true match survives); false positives only
  * cost their shuffle bytes, tuned by `fpp`.
  *
  * Uses Spark's own sketch (`DataFrameStatFunctions.bloomFilter` /
  * `org.apache.spark.util.sketch.BloomFilter`), serialized into a broadcast
  * and probed by a scalar predicate.
  *
  * vs Spark's NATIVE runtime Bloom filter
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`, on by default) —
  * measured head-to-head on the dq55 shuffle-join shape (`SCALE_BLOOM`
  * probe, PERF.md round 6): when the native rule fires it prunes
  * marginally better (10.7× vs 9.7× shuffled-record reduction at 10×
  * data; walls identical at probe scale), so plain scan-backed joins
  * should just leave it on. This utility earns its keep where the native
  * rule CANNOT fire: the application side is a derived/cached relation
  * rather than a file scan (verified: no `might_contain` injected there),
  * or the filter is applied far from any join — [[split]]'s
  * definitely-absent half skipping an anti-join entirely
  * ([[Dedup.keepUnseen]], [[MinHashLSH.nearDupPairsVsHistory]]) has no
  * join-time equivalent. The stored gates ([[NearDupIndex]],
  * [[SubstrIndex]]) build one only on their distributed path: a batch
  * within a gate's small-batch bound ([[CacheScope.fitsDriver]]) is
  * answered from its exact key sets,
  * collected to the driver, which leave a filter nothing to prune and
  * would cost it a job over history. The probe membership stays a
  * scalar `udf` (not codegen) because Spark's `might_contain` is
  * non-public API; at one virtual call per row it has never surfaced in
  * a profile next to the shuffle it saves.
  */
object BloomPrune {

  /** Build a filter over `keyCol` of `dim`. */
  def buildFilter(dim: DataFrame, keyCol: String, expectedItems: Long,
      fpp: Double = 0.01): BloomFilter =
    dim.stat.bloomFilter(keyCol, expectedItems, fpp)

  /** Prune `fact` to rows whose `keyCol` might be in the filter.
    *
    * Probes with the column's NATIVE type — `buildFilter` inserts native
    * values, so probing integral keys as long, strings as string, binary as
    * bytes. A mismatched probe type would silently return false for every
    * row (empty result, no error), hence the explicit dispatch + up-front
    * rejection of unsupported key types. Nulls never match (no null was
    * ever inserted).
    */
  def prune(fact: DataFrame, keyCol: String, filter: BloomFilter): DataFrame =
    fact.filter(probeColumn(fact, keyCol, filter))

  /** Partition `fact` by filter membership:
    * (might-be-in-filter, definitely-NOT-in-filter). The complement view is
    * what ANTI-join pruning needs — "definitely not" rows can skip the
    * anti-join entirely (no false negatives ⇒ they cannot have a match),
    * so only the might-match minority rides the shuffle.
    */
  def split(fact: DataFrame, keyCol: String,
      filter: BloomFilter): (DataFrame, DataFrame) = {
    val probe = probeColumn(fact, keyCol, filter)
    (fact.filter(probe), fact.filter(!probe))
  }

  private def probeColumn(fact: DataFrame, keyCol: String,
      filter: BloomFilter): Column = {
    val spark = fact.sparkSession
    val bc = spark.sparkContext.broadcast(filter)
    import org.apache.spark.sql.types._
    val probe: Column = fact.schema(keyCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        udf((k: java.lang.Long) => k != null && bc.value.mightContainLong(k))
          .apply(col(keyCol).cast("long"))
      case StringType =>
        udf((k: String) => k != null && bc.value.mightContainString(k))
          .apply(col(keyCol))
      case BinaryType =>
        udf((k: Array[Byte]) => k != null && bc.value.mightContainBinary(k))
          .apply(col(keyCol))
      case dt => throw new IllegalArgumentException(
        s"BloomPrune: unsupported key type $dt for column $keyCol " +
          "(supported: byte/short/int/long, string, binary)")
    }
    probe
  }

  /** Semi-join-shaped pipeline: prune the fact side with the dim's Bloom
    * filter, then perform the real join — the shuffle only carries
    * surviving rows.
    */
  def prunedJoin(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val f = buildFilter(dim, dimKey, expectedItems, fpp)
    prune(fact, factKey, f).join(dim, col(factKey) === col(dimKey))
  }
}
