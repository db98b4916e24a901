package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stored statistics for [[MediaCdcIndex]]: `chunkRows` the (advisory)
  * stored chunk-row count — the Bloom sizing feed — and the chunking
  * parameters, pinned so a reader can't probe a stored index with
  * mismatched boundaries. */
final case class MediaCdcIndexStats(chunkRows: Long, window: Int,
    minShared: Int, maxBucket: Int, zeros: Int)

/** PERSISTED content-defined-chunk gate index — the LENGTH-ROBUST
  * sibling of [[MediaSigIndex]] (r16 verdict #6 taken cross-batch: the
  * blocked-signature store's length fence means an insertion/truncation
  * VARIANT of a stored payload sails through the history gate; chunk
  * boundaries that the payload's own bytes define survive the edit):
  * history payloads are chunked ONCE ([[MediaDedup.cdcChunkRows]] —
  * boundaries where the `window`-byte slice's md5 opens with `zeros`
  * hex '0's, so the stored relation is ~nb/16^zeros hashes per payload:
  * `zeros` is the storage/granularity dial, 16^zeros-byte mean chunks)
  * and every later batch drops rows whose payload shares ≥ `minShared`
  * DISTINCT chunk hashes with some single stored payload. History
  * payload BYTES are never read again; the gate's only history input is
  * `chunks/` (32-hex-char chunk hashes).
  *
  * == Layout ==
  *
  * [[SubstrIndex]]'s manifest-committed append-only scheme, one
  * relation:
  *  - `chunks/append=<id>/` (vid, ch) — per-append DISTINCT
  *    (payload, chunk-hash) rows (~nb/(16+window) per payload);
  *  - `_commits/m<seq>` marker manifests ([[StoreLog]]); each data
  *    commit carries the [[MediaCdcIndexStats]] (Bloom sizing +
  *    parameter pins).
  *
  * == Gate shape ([[keepFarPayloads]]) ==
  *
  * [[MediaSigIndex.keepFarPayloads]]'s architecture with `(nb, i, bh)`
  * buckets replaced by bare chunk hashes — no length key, no offset
  * rule, which is the point: stored buckets larger than `maxBucket`
  * are dropped at read (the LSH guard — a ubiquitous boilerplate chunk
  * cannot go quadratic, and the SAME guard defuses tiny chunks:
  * consecutive boundary positions legitimately emit 1-byte chunks
  * whose 256-value content space is shared corpus-wide, so at scale
  * they exceed the cap and fall out of the match relation instead of
  * minting false ≥ minShared pairs), a Bloom filter over the surviving hashes
  * passes provably-fresh batch chunks without any join, and only the
  * might-seen minority rides the chunk equi-join; a batch row drops
  * when any single stored vid accumulates ≥ `minShared` distinct
  * shared hashes. NO self-id exclusion (the gate contract: replays
  * drop through their own append). Exactly-once loops use [[gate]]
  * with `excludeToken`, then `append(gated, token)` (the [[IngestIndex]]
  * contract) —
  * the EIGHTH gated modality of the one generic ingest loop.
  */
final class MediaCdcIndex private (
    private val spark: SparkSession, val path: String)
    extends IngestIndex with LoggedStore {

  private[ext] val log = new StoreLog(spark, path, Seq(StoreRel("chunks",
    // straight union rewrite — duplicates across replayed appends are
    // harmless under the countDistinct match rule
    fold = Some((from, to) =>
      chunks(from).coalesce(4).write.mode("errorifexists").parquet(to)))))

  private def statsOf(kv: Map[String, String]): MediaCdcIndexStats =
    MediaCdcIndexStats(kv("chunkRows").toLong, kv("window").toInt,
      kv("minShared").toInt, kv("maxBucket").toInt, kv("zeros").toInt)

  /** Current stored statistics (appends move it; read off the newest
    * commit — zero Spark jobs per read). */
  def stats: MediaCdcIndexStats = statsOf(log.stats)

  private def chunks(dirs: Seq[String]): DataFrame =
    RelRead.read(spark, s"$path#chunks", dirs)

  // ---------------- writes ----------------

  /** Index a batch's chunk rows: one fresh `append=<id>` dir, one
    * marker commit carrying the refreshed stats. Call with rows that do
    * not read this index (a [[keepFarPayloads]] answer materialized, or
    * use [[gate]], whose answer already is). */
  def append(df: DataFrame, idCol: String,
      payloadCol: String): MediaCdcIndexStats =
    write(df, idCol, payloadCol, None)

  /** [[append]] with an idempotence token — exactly-once. */
  def appendOnce(df: DataFrame, idCol: String, payloadCol: String,
      token: String): MediaCdcIndexStats =
    write(df, idCol, payloadCol, Some(token))

  /** Every append's one locked write: exactly once under `token`,
    * unconditionally without one. */
  private def write(df: DataFrame, idCol: String, payloadCol: String,
      token: Option[String]): MediaCdcIndexStats =
    log.write(token)(stats)(writeBatch(df, idCol, payloadCol, None, token))

  private def writeBatch(df: DataFrame, idCol: String, payloadCol: String,
      init: Option[MediaCdcIndexStats],
      token: Option[String]): MediaCdcIndexStats = statsOf(
    log.append(token, fresh = init.nonEmpty) { (id, before) =>
      val prev = init.getOrElse(statsOf(log.statsIn(before)))
      val dir = log.dir("chunks", id)
      val rows = MediaDedup.cdcChunkRows(df, idCol, payloadCol,
          prev.window, prev.zeros)
        .withColumnRenamed("doc_id", "vid")
        .distinct() // repeated content inside ONE payload is one fact
      rows.write.mode("errorifexists").parquet(dir)
      RelRead.seed(s"$path#chunks", rows.schema) // same-JVM gate skips inference
      val added = graft.io.ParquetMeta.rowCount(spark, dir)
      require(init.isEmpty || added > 0,
        s"cannot build a stored index at $path from a corpus with no " +
          "non-null payloads")
      StoreLog.kvOf(prev.copy(chunkRows = prev.chunkRows + added))
    }.stats)

  // ---------------- queries ----------------

  /** Keep batch rows whose payload shares < `minShared` distinct chunk
    * hashes with EVERY stored payload — length-robust: an insertion
    * variant of a stored payload shares all chunks but the edited one
    * and drops. Bloom-split on the stored hashes (sized from stats),
    * over-cap stored buckets dropped at read, exact shared counting
    * only on the might-seen minority. Null payloads always pass. */
  def keepFarPayloads(batch: DataFrame, idCol: String,
      payloadCol: String, fpp: Double = 0.01,
      excludeToken: Option[String] = None): DataFrame = {
    val ms = log.visible(excludeToken)
    val st = statsOf(log.statsIn(ms))
    val hw = chunks(log.dirs(ms, "chunks"))
      // the LSH cap, applied at read over the ACTIVE relation (an
      // append can grow a bucket past the cap later)
      .withColumn("__c", count(lit(1)).over(Window.partitionBy("ch")))
      .filter(col("__c") <= st.maxBucket)
      .drop("__c")
    CacheScope.withCached(hw) {
      // a degenerate store (every bucket over the cap): nothing can
      // match, and an empty-relation Bloom filter throws on probe
      if (hw.head(1).isEmpty) batch
      else {
        val bloom = BloomPrune.buildFilter(hw.select(col("ch").as("__k")),
          "__k", math.max(1L, st.chunkRows), fpp)
        val bs = MediaDedup.cdcChunkRows(batch, idCol, payloadCol,
          st.window, st.zeros)
          .withColumnRenamed("doc_id", "__b_id")
          .distinct()
          .withColumn("__k", col("ch"))
        val (maybeSeen, _) = BloomPrune.split(bs, "__k", bloom)
        val dup = maybeSeen
          .join(hw.select(col("vid").as("__h_id"), col("ch")), Seq("ch"))
          .groupBy(col("__b_id"), col("__h_id"))
          // distinct hashes, not joined rows: replayed appends can
          // store the same chunk rows twice (straight-union compaction)
          .agg(countDistinct(col("ch")).as("__n"))
          .filter(col("__n") >= st.minShared)
          .select(col("__b_id")).distinct()
        // cache + count the (tiny) drop relation: a statistics-free
        // aggregation statically plans a sort-merge anti-join and the
        // batch's PAYLOAD bytes take the shuffle write (the
        // SCALE_MEDIASIG catch on the sig gate, same shape here)
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

object MediaCdcIndex extends StoreProbe {

  /** Build a new index at `path` from the history corpus — the one time
    * history payloads are read. The chunking parameters are pinned in
    * the commits' stats and every later gate/append uses them. */
  def build(history: DataFrame, idCol: String, payloadCol: String,
      path: String, window: Int = 4, minShared: Int = 3,
      maxBucket: Int = 100, zeros: Int = 1,
      seedToken: Option[String] = None): MediaCdcIndex = {
    require(window >= 1 && window <= 64, s"window in [1, 64], got $window")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxBucket >= 2, "maxBucket must be >= 2")
    require(zeros >= 1 && zeros <= 8, s"zeros in [1, 8], got $zeros")
    val idx = new MediaCdcIndex(history.sparkSession, path)
    idx.log.locked(idx.writeBatch(history, idCol, payloadCol,
      Some(MediaCdcIndexStats(0L, window, minShared, maxBucket, zeros)),
      seedToken))
    idx
  }

  /** Open a stored index (fails fast on a missing or older layout). */
  def open(spark: SparkSession, path: String): MediaCdcIndex =
    StoreLog.open(new MediaCdcIndex(spark, path))
}
