package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Stored statistics for [[SubstrIndex]]: `digests` the (advisory) stored
  * digest count — the Bloom sizing feed, an over-count across appends is
  * harmless — and `k`, the window width, so a reader can't probe a stored
  * index with mismatched windowing. */
final case class SubstrIndexStats(digests: Long, k: Int)

/** PERSISTED exact-substring gate index — the production form of
  * [[ExactSubstring.dupWindowReport]]'s incremental loop (that call
  * re-derives history's window digests per batch; the class doc promises
  * a stored layout, this is it): history is tokenized and window-digested
  * ONCE, at [[SubstrIndex.build]]/[[append]] time, and every later batch
  * gates against the stored digest relation. History TEXT is never read
  * again — the gate's only history input is `digests/` (16-byte md5 keys).
  *
  * == Layout ==
  *
  * [[NearDupIndex]]'s manifest-committed append-only scheme
  * ([[ManifestLog]]), specialized to one relation:
  *  - `digests/append=<id>/` (dg) — the per-append DISTINCT window
  *    digests (cross-append duplicates are fine: the gate is a
  *    membership semi-join);
  *  - `_commits/m<seq>` — marker manifests ([[StoreLog]]); un-committed
  *    data dirs from a crashed writer stay invisible. Each data commit
  *    carries the [[SubstrIndexStats]]: `digests` sizes the gate's Bloom
  *    filter so no query runs a count job over the index
  *    (statistics-fed, advisory: an over-count costs filter bits, never
  *    correctness), `k` pins the window width.
  *
  * == Gate shape ([[dupWindowReport]]/[[keepFresh]]) ==
  *
  * Identical to the per-call [[ExactSubstring.dupWindowReport]] stage for
  * stage — Bloom split (sized from stored stats) so provably-fresh batch
  * windows never enter the digest join; only the might-seen minority
  * shuffles against `digests/` — with the history derivation replaced by
  * the stored relation. That is the distributed plan, the 100 TB path;
  * [[gate]] takes it only when its cached window frame measures above
  * [[SubstrIndex.SmallBatchBytes]] or above
  * `spark.sql.autoBroadcastJoinThreshold` ([[CacheScope.fitsDriver]]).
  * At or below both, the gate
  * collects the batch's window digests, reads `digests/` once filtered
  * by them (a map-only scan, no join, no Bloom filter) and counts each
  * id's matching windows on the driver. Exactly-once streaming loops
  * use [[gate]] with `excludeToken`, then `append(gated, token)` (the
  * [[IngestIndex]] contract): a replayed micro-batch gates against the
  * index as it stood before its own committed append and the re-append
  * is a no-op; the append writes the window digests the gate already
  * derived.
  */
final class SubstrIndex private (
    private val spark: SparkSession, val path: String)
    extends IngestIndex with LoggedStore {

  private[ext] val log = new StoreLog(spark, path, Seq(StoreRel("digests",
    // one DISTINCT relation: de-duplicates cross-append digests,
    // shrinking both the scan and the Bloom over-count
    fold = Some((from, to) => digests(from).distinct().coalesce(4)
      .write.mode("errorifexists").parquet(to)))))

  private def statsOf(kv: Map[String, String]): SubstrIndexStats =
    SubstrIndexStats(kv("digests").toLong, kv("k").toInt)

  /** Current stored statistics (appends move it; read off the newest
    * commit — zero Spark jobs per read). */
  def stats: SubstrIndexStats = statsOf(log.stats)

  private def digests(dirs: Seq[String]): DataFrame =
    RelRead.read(spark, s"$path#digests", dirs,
      schema = Some(SubstrIndex.digestsSchema))

  // ---------------- writes ----------------

  /** Index a batch's window digests: one fresh `append=<id>` dir, one
    * marker commit carrying the refreshed stats. Windows `df`'s text; the
    * ingest loop's [[gate]] hands its survivors' digests to
    * `append(gated, token)` instead. */
  def append(df: DataFrame, idCol: String, textCol: String): SubstrIndexStats =
    write(windowsOf(df, idCol, textCol, stats.k), None)

  /** [[append]] with an idempotence token — the exactly-once append: a
    * committed manifest carrying `token` makes the call a no-op. */
  def appendOnce(df: DataFrame, idCol: String, textCol: String,
      token: String): SubstrIndexStats =
    write(windowsOf(df, idCol, textCol, stats.k), Some(token))

  /** Every append's one locked write: exactly once under `token`,
    * unconditionally without one. */
  private def write(windows: DataFrame,
      token: Option[String]): SubstrIndexStats =
    log.write(token)(stats)(writeBatch(windows, None, token))

  private def windowsOf(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    ExactSubstring.windowDigestsOf(ExactSubstring.tokenize(df, idCol, textCol),
      idCol, k)

  /** The one relation writer: the window digests (`dg`) of the appended
    * documents become the commit's distinct `digests/` dir. `init` is the
    * build's parameters (a fresh path); appends continue from the
    * snapshot's stats. */
  private def writeBatch(windows: DataFrame, init: Option[SubstrIndexStats],
      token: Option[String]): SubstrIndexStats = statsOf(
    log.append(token, fresh = init.nonEmpty) { (id, before) =>
      val prev = init.getOrElse(statsOf(log.statsIn(before)))
      val dir = log.dir("digests", id)
      windows.select("dg").distinct().write.mode("errorifexists").parquet(dir)
      // footer-summed row count: no re-scan job over the dir just written
      val added = graft.io.ParquetMeta.rowCount(spark, dir)
      // a FIRST append with zero digests would leave the index unreadable
      // (every later read infers schema over only-empty dirs): refuse the
      // degenerate build with a clear error instead of wedging later
      require(init.isEmpty || added > 0,
        s"cannot build a stored index at $path from a corpus with no " +
          s"${prev.k}-token windows")
      StoreLog.kvOf(SubstrIndexStats(prev.digests + added, prev.k))
    }.stats)

  // ---------------- queries ----------------

  /** Per batch document: total k-window count and how many of its windows
    * already occur in the INDEXED history —
    * [[ExactSubstring.dupWindowReport]] against the stored relation.
    * The Bloom filter is sized from stored stats (no count job); its
    * content is always built from the committed digest relation itself.
    */
  def dupWindowReport(batch: DataFrame, idCol: String, textCol: String,
      fpp: Double = 0.01, excludeToken: Option[String] = None): DataFrame = {
    val ms = log.visible(excludeToken)
    val st = statsOf(log.statsIn(ms))
    val bw = ExactSubstring.windowDigestsOf(
      ExactSubstring.tokenize(batch, idCol, textCol), idCol, st.k)
    CacheScope.withCached(bw)(reportPlan(batch, bw, idCol, fpp, ms, st))
  }

  /** The gate's UN-materialized plan — plan-audit hook (the
    * [[NearDupIndex.pairsPlanFor]] precedent): the production wrapper
    * collapses its result with a call-scoped checkpoint before a spec
    * could walk it for the no-history-scan property. */
  private[graft] def reportPlanFor(batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val ms = log.visible(None)
    val st = statsOf(log.statsIn(ms))
    reportPlan(batch, ExactSubstring.windowDigestsOf(
      ExactSubstring.tokenize(batch, idCol, textCol), idCol, st.k),
      idCol, 0.01, ms, st)
  }

  /** The gate over one snapshot `ms`: its digest dirs, and the stats `st`
    * it carries. */
  private def reportPlan(batch: DataFrame, bw: DataFrame, idCol: String,
      fpp: Double, ms: Seq[Manifest], st: SubstrIndexStats): DataFrame = {
    val dup = dupWindows(bw, idCol, fpp, ms, st)
    val totals = bw.groupBy(idCol).agg(count(lit(1)).as("n_windows"))
    batch.select(col(idCol))
      .join(totals, Seq(idCol), "left_outer")
      .join(dup, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
  }

  /** (idCol, n_dup_windows) for each batch document with at least one
    * window already in the snapshot's history. */
  private def dupWindows(bw: DataFrame, idCol: String, fpp: Double,
      ms: Seq[Manifest], st: SubstrIndexStats): DataFrame = {
    val hw = digests(log.dirs(ms, "digests"))
    val bloom = BloomPrune.buildFilter(hw, "dg",
      math.max(1L, st.digests), fpp)
    val (maybeSeen, _) = BloomPrune.split(bw, "dg", bloom)
    maybeSeen.join(hw, Seq("dg"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_dup_windows"))
  }

  /** Keep batch documents with at most `maxDupWindows` windows already in
    * history (default 0: no verbatim overlap at all) — the ingest gate:
    * [[gate]]'s kept rows, materialized. */
  def keepFresh(batch: DataFrame, idCol: String, textCol: String,
      maxDupWindows: Long = 0L, fpp: Double = 0.01,
      excludeToken: Option[String] = None): DataFrame =
    gate(batch, idCol, textCol, excludeToken, maxDupWindows, fpp).kept

  // ---------------- IngestIndex ----------------

  def gate(batch: DataFrame, idCol: String, textCol: String,
      excludeToken: Option[String]): IngestIndex.Gated =
    gate(batch, idCol, textCol, excludeToken, maxDupWindows = 0L)

  /** The batch documents with at most `maxDupWindows` windows in history,
    * materialized with their window digests ([[IngestIndex]]'s gate
    * phase). The batch is tokenized and windowed once and its rows ride
    * the cached frame. The over-limit ids come from [[overLimitIds]]'
    * driver-side count when that frame fits the small-batch bound, from
    * [[dupWindows]] above it; either way the kept rows are the cached
    * rows without them (a document absent from the duplicate counts has
    * none). A row with a null id is dropped, as [[dupWindowReport]]'s
    * per-id answer cannot name it. */
  def gate(batch: DataFrame, idCol: String, textCol: String,
      excludeToken: Option[String], maxDupWindows: Long,
      fpp: Double = 0.01): IngestIndex.Gated = {
    require(maxDupWindows >= 0, s"maxDupWindows must be >= 0, got $maxDupWindows")
    val ms = log.visible(excludeToken)
    val st = statsOf(log.statsIn(ms))
    val feats = ExactSubstring.withWindowDigests(batch, textCol, st.k)
    val kept = CacheScope.withCached(feats) {
      if (CacheScope.fitsDriver(feats, SubstrIndex.SmallBatchBytes)) {
        val over = overLimitIds(feats, idCol, maxDupWindows, ms)
        feats.where(col(idCol).isNotNull && !Bridge.inSet(feats, col(idCol), over))
      } else {
        val bw = feats.select(col(idCol), explode(col("__dgs")).as("dg"))
        // grouped by id, so at most the batch's ids: broadcast, so the
        // cached rows never shuffle for the anti-join
        val over = dupWindows(bw, idCol, fpp, ms, st)
          .where(col("n_dup_windows") > maxDupWindows)
        feats.where(col(idCol).isNotNull)
          .join(broadcast(over), Seq(idCol), "left_anti")
      }
    }
    new IngestIndex.Gated(kept.drop("__dgs"),
      kept.select(explode(col("__dgs")).as("dg")), idCol, textCol, path)
  }

  /** The ids of the cached batch `feats` with more than `maxDupWindows`
    * windows in snapshot `ms` — [[dupWindows]]' answer for a batch small
    * enough to broadcast: one collect of the batch's window digests, one
    * map-only scan of `digests/` filtered by them (none for a batch with
    * no window), and the per-id count on the driver. A window counts once
    * per occurrence in its document, and a repeated id sums its rows, as
    * the explode and the group by id do. */
  private def overLimitIds(feats: DataFrame, idCol: String,
      maxDupWindows: Long, ms: Seq[Manifest]): Iterable[Any] = {
    val docs = feats.where(col(idCol).isNotNull)
      .select(col(idCol), col("__dgs")).collect()
      .map(r => (r.get(0), r.getSeq[String](1)))
    val windows = docs.flatMap(_._2).distinct
    val seen: Set[String] =
      if (windows.isEmpty) Set.empty
      else {
        val stored = digests(log.dirs(ms, "digests"))
        stored.where(Bridge.inSet(stored, col("dg"), windows)).collect()
          .map(_.getString(0)).toSet
      }
    docs.groupBy(d => IngestIndex.idKey(d._1)).values.collect {
      case rows if rows.map(_._2.count(seen).toLong).sum > maxDupWindows =>
        rows.head._1
    }
  }

  /** Index a [[gate]] answer of this store from its window digests. */
  def append(gated: IngestIndex.Gated, token: Option[String]): Unit = {
    gated.requireFrom(path)
    write(gated.features, token)
    ()
  }
}

object SubstrIndex extends StoreProbe {

  /** The largest cached gate frame [[SubstrIndex.gate]] answers on the
    * driver: 1 MB, where the two paths measured even (about 450
    * documents: 1.1 s each on 4 cores, [[GateSweep]]). Below it the
    * driver-side count wins (0.46 s against 0.74 s at 200 documents);
    * above it the distributed plan does (0.59 s against 1.25 s at 1,000),
    * as the filter set the scan ships grows with the batch's windows. */
  private[ext] val SmallBatchBytes: Long = 1L << 20

  /** The `digests/` relation's schema as written ([[ExactSubstring
    * .windowDigestsOf]]'s `dg` projection) — declared so no read of the
    * relation ever runs a schema-inference job; pinned against the real
    * layout by `StoreRelationSchemaSpec`. */
  private[ext] val digestsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("dg",
        org.apache.spark.sql.types.StringType)))

  /** Build a new index at `path` (must not already hold one) from the
    * history corpus — the one time history text is read. `seedToken` (if
    * any) rides the first commit so a build-if-absent caller can
    * recognize its own seed on crash-replay ([[IngestIndex.seededBy]]). */
  def build(history: DataFrame, idCol: String, textCol: String, path: String,
      k: Int = 8, seedToken: Option[String] = None): SubstrIndex = {
    require(k >= 2, "need k >= 2")
    val idx = new SubstrIndex(history.sparkSession, path)
    idx.log.locked(idx.writeBatch(idx.windowsOf(history, idCol, textCol, k),
      Some(SubstrIndexStats(0L, k)), seedToken))
    idx
  }

  /** Open a stored index (fails fast on a missing or older layout); `k`
    * comes from its commits' stats. */
  def open(spark: SparkSession, path: String): SubstrIndex =
    StoreLog.open(new SubstrIndex(spark, path))
}
