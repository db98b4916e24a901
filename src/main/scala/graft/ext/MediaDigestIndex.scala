package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored statistics for [[MediaDigestIndex]]: the (advisory) stored
  * digest count — the gate's Bloom sizing feed; an over-count across
  * appends costs filter bits, never correctness. */
final case class MediaDigestIndexStats(digests: Long)

/** PERSISTED exact-payload gate index — the STORE-MEDIATED form of
  * [[MediaDedup.exactByPayload]] (r15 verdict #1: the declared
  * `media_dedup` stage is within-frame; "drop payloads seen in any
  * EARLIER batch" needs history, and history gates go through a store):
  * history payloads are digested ONCE, at [[MediaDigestIndex.build]] /
  * [[append]] time, and every later batch gates against the stored
  * digest relation. History payload BYTES are never read again — the
  * gate's only history input is `digests/` (32-hex-char
  * [[MediaDedup.payloadDigest]] keys, the same hex-domain identity the
  * within-frame stage uses, so batch-vs-history and within-frame
  * decisions can never disagree about what "byte-identical" means).
  *
  * == Layout ==
  *
  * [[SubstrIndex]]'s manifest-committed append-only scheme
  * ([[ManifestLog]]), one relation:
  *  - `digests/append=<id>/` (dg) — per-append DISTINCT payload digests
  *    (cross-append duplicates are fine: the gate is a membership
  *    anti-join);
  *  - `_commits/m<seq>` marker manifests ([[StoreLog]]) — un-committed
  *    dirs from a crashed writer stay invisible; each data commit carries
  *    the [[MediaDigestIndexStats]] (statistics-fed Bloom sizing, no
  *    count job per gate).
  *
  * == Gate shape ([[keepUnseenPayloads]]) ==
  *
  * [[Dedup.keepUnseen]]'s split with the history derivation replaced by
  * the stored relation: a Bloom filter over stored digests (sized from
  * stats) passes provably-fresh batch payloads without any join — only
  * the might-seen minority anti-joins `digests/`. GATE SEMANTICS ARE
  * HISTORY-ONLY: two copies of a fresh payload in ONE batch both pass
  * (and one distinct digest is stored) — compose a within-frame
  * `media_dedup` stage before the gate when batch-internal copies must
  * also collapse, exactly like `exact_dedup` before `substr_gate`.
  * Exactly-once streaming loops use [[gate]] with `excludeToken`, then
  * `append(gated, token)` (the [[IngestIndex]] contract): a replayed
  * micro-batch gates against
  * the index as it stood before its own committed append, and the
  * re-append is a no-op.
  */
final class MediaDigestIndex private (
    private val spark: SparkSession, val path: String)
    extends IngestIndex with LoggedStore {

  private[ext] val log = new StoreLog(spark, path, Seq(StoreRel("digests",
    fold = Some((from, to) => digests(from).distinct().coalesce(4)
      .write.mode("errorifexists").parquet(to)))))

  private def statsOf(kv: Map[String, String]): MediaDigestIndexStats =
    MediaDigestIndexStats(kv("digests").toLong)

  /** Current stored statistics (appends move it; read off the newest
    * commit — zero Spark jobs per read). */
  def stats: MediaDigestIndexStats = statsOf(log.stats)

  private def digests(dirs: Seq[String]): DataFrame =
    RelRead.read(spark, s"$path#digests", dirs)

  // ---------------- writes ----------------

  /** Index a batch's payload digests: one fresh `append=<id>` dir, one
    * marker commit carrying the refreshed stats. Call with rows that do
    * not read this index: a [[keepUnseenPayloads]] result's plan does, so
    * materialize it first — or use [[gate]], whose answer is already
    * materialized. */
  def append(df: DataFrame, idCol: String,
      payloadCol: String): MediaDigestIndexStats =
    write(df, payloadCol, None)

  /** [[append]] with an idempotence token — the exactly-once append: a
    * committed manifest carrying `token` makes the call a no-op. */
  def appendOnce(df: DataFrame, idCol: String, payloadCol: String,
      token: String): MediaDigestIndexStats =
    write(df, payloadCol, Some(token))

  /** Every append's one locked write: exactly once under `token`,
    * unconditionally without one. */
  private def write(df: DataFrame, payloadCol: String,
      token: Option[String]): MediaDigestIndexStats =
    log.write(token)(stats)(writeBatch(df, payloadCol, first = false, token))

  private def writeBatch(df: DataFrame, payloadCol: String, first: Boolean,
      token: Option[String]): MediaDigestIndexStats = statsOf(
    log.append(token, fresh = first) { (id, before) =>
      val prev =
        if (first) MediaDigestIndexStats(0L) else statsOf(log.statsIn(before))
      val dir = log.dir("digests", id)
      val dgs = df
        .select(MediaDedup.payloadDigest(col(payloadCol)).as("dg"))
        .filter(col("dg").isNotNull) // null payloads carry no identity
        .distinct()
      dgs.write.mode("errorifexists").parquet(dir)
      RelRead.seed(s"$path#digests", dgs.schema) // same-JVM gate skips inference
      val added = graft.io.ParquetMeta.rowCount(spark, dir)
      // a FIRST append with zero digests would leave the index unreadable
      // (every later read infers schema over only-empty dirs)
      require(!first || added > 0,
        s"cannot build a stored index at $path from a corpus with no " +
          "non-null payloads")
      StoreLog.kvOf(MediaDigestIndexStats(prev.digests + added))
    }.stats)

  // ---------------- queries ----------------

  /** Keep batch rows whose payload digest has never been stored —
    * [[Dedup.keepUnseen]] against the stored relation: the Bloom filter
    * (sized from stored stats) passes definitely-fresh rows without a
    * join; only the might-seen minority rides the digest anti-join.
    * Null payloads are always kept (they carry no identity to collide
    * on). */
  def keepUnseenPayloads(batch: DataFrame, idCol: String,
      payloadCol: String, fpp: Double = 0.01,
      excludeToken: Option[String] = None): DataFrame = {
    val ms = log.visible(excludeToken)
    val st = statsOf(log.statsIn(ms))
    val hw = digests(log.dirs(ms, "digests"))
    val bloom = BloomPrune.buildFilter(hw, "dg",
      math.max(1L, st.digests), fpp)
    val inc = batch.withColumn("__dg",
      MediaDedup.payloadDigest(col(payloadCol)))
    val nullPayload = inc.filter(col("__dg").isNull)
    val (maybeSeen, definitelyNew) =
      BloomPrune.split(inc.filter(col("__dg").isNotNull), "__dg", bloom)
    val verifiedNew = maybeSeen
      .join(hw, col("__dg") === col("dg"), "left_anti")
      .select(definitelyNew.columns.map(col): _*)
    definitelyNew.union(verifiedNew).union(nullPayload).drop("__dg")
  }

  // ---------------- IngestIndex ----------------

  /** The generic-loop gate: `textCol` IS the binary payload column for
    * this modality (the [[IngestIndex]] contract names it text because
    * four of six stores gate on text). */
  def gate(batch: DataFrame, idCol: String, textCol: String,
      excludeToken: Option[String]): IngestIndex.Gated =
    IngestIndex.ofRows(path,
      keepUnseenPayloads(batch, idCol, textCol, excludeToken = excludeToken),
      idCol, textCol)

  def append(gated: IngestIndex.Gated, token: Option[String]): Unit = {
    gated.requireFrom(path)
    write(gated.features, gated.textCol, token)
    ()
  }
}

object MediaDigestIndex extends StoreProbe {

  /** Build a new index at `path` (must not already hold one) from the
    * history corpus — the one time history payloads are read.
    * `seedToken` rides the first commit so a build-if-absent caller can
    * recognize its own seed on crash-replay ([[IngestIndex.seededBy]]). */
  def build(history: DataFrame, idCol: String, payloadCol: String,
      path: String, seedToken: Option[String] = None): MediaDigestIndex = {
    val idx = new MediaDigestIndex(history.sparkSession, path)
    idx.log.locked(idx.writeBatch(history, payloadCol, first = true,
      token = seedToken))
    idx
  }

  /** Open a stored index (fails fast on a missing or older layout). */
  def open(spark: SparkSession, path: String): MediaDigestIndex =
    StoreLog.open(new MediaDigestIndex(spark, path))
}
