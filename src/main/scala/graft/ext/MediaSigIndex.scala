package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stored statistics for [[MediaSigIndex]]: `sigRows` the (advisory)
  * stored signature-row count — the Bloom sizing feed — and the
  * signature parameters, pinned so a reader can't probe a stored index
  * with mismatched blocking. */
final case class MediaSigIndexStats(sigRows: Long, blocks: Int,
    minMatch: Int, maxBucket: Int)

/** PERSISTED blocked-signature gate index — the NEAR-dup sibling of
  * [[MediaDigestIndex]] (exact gate) and the store-mediated form of
  * [[MediaDedup.nearDupPairsBytes]] (within-frame near dedup): history
  * payloads are signature'd ONCE — `blocks` equal-stride hex-slice md5s
  * per payload ([[MediaDedup.signatureRows]], the SimHash pigeonhole on
  * bytes) — and every later batch drops rows whose payload shares ≥
  * `minMatch` block hashes AT THE SAME OFFSET with some same-length
  * stored payload. History payload BYTES are never read again; the
  * gate's only history input is `sigs/` (32-hex-char block hashes).
  *
  * == Layout ==
  *
  * [[SubstrIndex]]'s manifest-committed append-only scheme, one
  * relation:
  *  - `sigs/append=<id>/` (vid, nb, i, bh) — per-append signature rows
  *    (`blocks` rows per payload);
  *  - `_commits/m<seq>` marker manifests ([[StoreLog]]); each data
  *    commit carries the [[MediaSigIndexStats]] (Bloom sizing +
  *    parameter pins).
  *
  * == Gate shape ([[keepFarPayloads]]) ==
  *
  * [[MinHashLSH.nearDupPairsVsHistory]]'s architecture with band keys
  * replaced by `(nb, i, bh)` buckets: stored buckets larger than
  * `maxBucket` are dropped at read (the LSH guard — a degenerate shared
  * block cannot go quadratic), a Bloom filter over the surviving
  * composite keys passes provably-fresh batch blocks without any join,
  * and only the might-seen minority rides the signature equi-join; a
  * batch row drops when any stored vid accumulates ≥ `minMatch`
  * matches. NO self-id exclusion (the gate contract: a stored row
  * bearing the batch row's own id is duplicate evidence — replays drop
  * through their own append). Byte-identical payloads share all
  * `blocks` hashes, so the near gate subsumes the exact gate at the
  * same parameters. Exactly-once loops use [[gate]] with
  * `excludeToken`, then `append(gated, token)` (the [[IngestIndex]]
  * contract).
  */
final class MediaSigIndex private (
    private val spark: SparkSession, val path: String)
    extends IngestIndex with LoggedStore {

  private[ext] val log = new StoreLog(spark, path, Seq(StoreRel("sigs",
    // straight union rewrite — signature rows are already per-payload facts
    fold = Some((from, to) =>
      sigs(from).coalesce(4).write.mode("errorifexists").parquet(to)))))

  private def statsOf(kv: Map[String, String]): MediaSigIndexStats =
    MediaSigIndexStats(kv("sigRows").toLong, kv("blocks").toInt,
      kv("minMatch").toInt, kv("maxBucket").toInt)

  /** Current stored statistics (appends move it; read off the newest
    * commit — zero Spark jobs per read). */
  def stats: MediaSigIndexStats = statsOf(log.stats)

  private def sigs(dirs: Seq[String]): DataFrame =
    RelRead.read(spark, s"$path#sigs", dirs)

  // ---------------- writes ----------------

  /** Index a batch's signature rows: one fresh `append=<id>` dir, one
    * marker commit carrying the refreshed stats. Call with rows that do
    * not read this index (a [[keepFarPayloads]] answer materialized, or
    * use [[gate]], whose answer already is). */
  def append(df: DataFrame, idCol: String,
      payloadCol: String): MediaSigIndexStats =
    write(df, idCol, payloadCol, None)

  /** [[append]] with an idempotence token — exactly-once. */
  def appendOnce(df: DataFrame, idCol: String, payloadCol: String,
      token: String): MediaSigIndexStats =
    write(df, idCol, payloadCol, Some(token))

  /** Every append's one locked write: exactly once under `token`,
    * unconditionally without one. */
  private def write(df: DataFrame, idCol: String, payloadCol: String,
      token: Option[String]): MediaSigIndexStats =
    log.write(token)(stats)(writeBatch(df, idCol, payloadCol, None, token))

  private def writeBatch(df: DataFrame, idCol: String, payloadCol: String,
      init: Option[MediaSigIndexStats],
      token: Option[String]): MediaSigIndexStats = statsOf(
    log.append(token, fresh = init.nonEmpty) { (id, before) =>
      val prev = init.getOrElse(statsOf(log.statsIn(before)))
      val dir = log.dir("sigs", id)
      val rows = MediaDedup.signatureRows(
          df.filter(col(payloadCol).isNotNull), idCol, payloadCol,
          prev.blocks)
        .withColumnRenamed("doc_id", "vid")
      rows.write.mode("errorifexists").parquet(dir)
      RelRead.seed(s"$path#sigs", rows.schema) // same-JVM gate skips inference
      val added = graft.io.ParquetMeta.rowCount(spark, dir)
      require(init.isEmpty || added > 0,
        s"cannot build a stored index at $path from a corpus with no " +
          "non-null payloads")
      StoreLog.kvOf(prev.copy(sigRows = prev.sigRows + added))
    }.stats)

  // ---------------- queries ----------------

  /** Keep batch rows whose payload is NEAR-identical to NO stored
    * payload: same length and ≥ `minMatch` of `blocks` block hashes at
    * the same offset. Bloom-split on the stored composite keys (sized
    * from stats), over-cap stored buckets dropped at read, exact match
    * counting only on the might-seen minority. Null payloads always
    * pass. */
  def keepFarPayloads(batch: DataFrame, idCol: String,
      payloadCol: String, fpp: Double = 0.01,
      excludeToken: Option[String] = None): DataFrame = {
    val ms = log.visible(excludeToken)
    val st = statsOf(log.statsIn(ms))
    val hw = sigs(log.dirs(ms, "sigs"))
      // the LSH cap, applied at read over the ACTIVE relation (an
      // append can grow a bucket past the cap later; the decision must
      // reflect the store as gated against, not write-time snapshots)
      .withColumn("__c", count(lit(1))
        .over(Window.partitionBy("nb", "i", "bh")))
      .filter(col("__c") <= st.maxBucket)
      .drop("__c")
    CacheScope.withCached(hw) {
      // a degenerate store (every bucket over the cap) leaves the capped
      // relation EMPTY — no stored key can match anything, and Spark's
      // stat.bloomFilter over zero rows is the null-bits filter that
      // throws on every probe, so the empty case must short-circuit
      if (hw.head(1).isEmpty) batch
      else {
        val keyStr = concat_ws("|", col("nb"), col("i"), col("bh"))
        val bloom = BloomPrune.buildFilter(hw.select(keyStr.as("__k")),
          "__k", math.max(1L, st.sigRows), fpp)
        val bs = MediaDedup.signatureRows(
          batch.filter(col(payloadCol).isNotNull), idCol, payloadCol,
          st.blocks)
          .withColumnRenamed("doc_id", "__b_id")
          .withColumn("__k", keyStr)
        val (maybeSeen, _) = BloomPrune.split(bs, "__k", bloom)
        val dup = maybeSeen
          .join(hw.select(col("vid").as("__h_id"), col("nb"), col("i"),
            col("bh")), Seq("nb", "i", "bh"))
          .groupBy(col("__b_id"), col("__h_id"))
          // distinct BLOCK INDICES, not joined rows: the plain append()
          // path can store the same signature rows twice (compaction's
          // straight union preserves them), and double-counted rows
          // would let a payload sharing only minMatch/2 real blocks
          // with a twice-stored payload be falsely dropped
          .agg(countDistinct(col("i")).as("__n"))
          .filter(col("__n") >= st.minMatch)
          .select(col("__b_id")).distinct()
        // cache + count the (tiny, ≤ batch ids) drop relation so the
        // planner sees its true size and broadcasts the anti-join
        // STATICALLY: a fresh aggregation has no statistics, the static
        // plan is a sort-merge join, and the batch's PAYLOAD bytes take
        // the shuffle write even when AQE later converts to broadcast —
        // caught by SCALE_MEDIASIG's runtime-bytes audit
        CacheScope.withCached(dup) {
          if (dup.count() == 0L) batch
          else batch.join(dup, batch(idCol) === col("__b_id"), "left_anti")
        }
      }
    }
  }

  // ---------------- IngestIndex ----------------

  /** The generic-loop gate: `textCol` IS the binary payload column. */
  def gate(batch: DataFrame, idCol: String, textCol: String,
      excludeToken: Option[String]): IngestIndex.Gated =
    IngestIndex.ofRows(path,
      keepFarPayloads(batch, idCol, textCol, excludeToken = excludeToken),
      idCol, textCol)

  def append(gated: IngestIndex.Gated, token: Option[String]): Unit = {
    gated.requireFrom(path)
    write(gated.features, gated.idCol, gated.textCol, token)
    ()
  }
}

object MediaSigIndex extends StoreProbe {

  /** Build a new index at `path` from the history corpus — the one time
    * history payloads are read. The signature parameters are pinned in
    * the commits' stats and every later gate/append uses them. */
  def build(history: DataFrame, idCol: String, payloadCol: String,
      path: String, blocks: Int = 8, minMatch: Int = 6,
      maxBucket: Int = 100,
      seedToken: Option[String] = None): MediaSigIndex = {
    require(blocks >= 2 && blocks <= 256, "blocks in [2, 256]")
    require(minMatch >= 1 && minMatch <= blocks,
      s"minMatch must be in [1, blocks=$blocks], got $minMatch")
    require(maxBucket >= 2, "maxBucket must be >= 2")
    val idx = new MediaSigIndex(history.sparkSession, path)
    idx.log.locked(idx.writeBatch(history, idCol, payloadCol,
      Some(MediaSigIndexStats(0L, blocks, minMatch, maxBucket)), seedToken))
    idx
  }

  /** Open a stored index (fails fast on a missing or older layout). */
  def open(spark: SparkSession, path: String): MediaSigIndex =
    StoreLog.open(new MediaSigIndex(spark, path))
}
