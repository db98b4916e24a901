package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.unsafe.types.UTF8String

/** Index-wide statistics, stored with the layout and re-read by [[NearDupIndex.open]]:
  * `docs` indexed documents, `bandKeys` an (advisory) upper bound on the
  * distinct (b, bkey) pairs — each append adds its own distinct keys, so
  * keys shared across appends count once per append; it only sizes the
  * Bloom filter — plus the construction parameters, so a reader can't probe
  * a stored index with mismatched banding.
  */
final case class NearDupIndexStats(docs: Long, bandKeys: Long,
    numHashes: Int, bands: Int, maxBucket: Int)

/** PERSISTED MinHash+LSH near-duplicate index — the production shape of the
  * "daily batch vs 100 TB corpus" ingest loop that
  * [[MinHashLSH.nearDupPairsVsHistory]] demonstrates per-call (round-6
  * directive #1): history is shingled ONCE, at [[NearDupIndex.build]] /
  * [[append]] time, and every later batch reads the stored layout instead.
  * History TEXT is never touched again — not even for candidates: exact
  * verification runs on the stored per-document shingle DIGESTS
  * ([[MinHashLSH.shingleDigests]]), whose Jaccard equals the shingle sets'
  * (md5 per distinct shingle), and md5 is engine-reproducible, so the DuckDB
  * oracle re-derives every stage including the digests themselves.
  *
  * == Layout (manifest-committed, append-only) ==
  *
  * Data lives under per-commit subdirectories; a commit MARKER under
  * `_commits/` — written last, via create-temp-then-rename (atomic on
  * POSIX and HDFS) — is what makes an append visible:
  *  - `digests/append=<id>/`  (doc_id, ds: sorted array<md5-hex>) — the
  *    verification relation, the only per-document payload queries re-read;
  *    candidates reach it through an id equi-join, so non-candidate rows
  *    are never deserialized past the scan
  *  - `bands/append=<id>/`    (doc_id, b, bkey) — the LSH candidate
  *    relation (keys only, ~`bands` short rows per doc)
  *  - `counts/append=<id>/`   (b, bkey, c) — per-append bucket-population
  *    partials; the degenerate-bucket cap is an aggregation of THIS
  *    relation, never a window over `bands/`
  *  - `_commits/m<seq>`       one line-oriented manifest per commit naming
  *    the relation dirs it publishes (and, for compactions, the counts
  *    dirs it supersedes) — the shared [[StoreLog]] core. Readers resolve
  *    every relation through the manifest list — data dirs without a
  *    marker (a crashed append) are INVISIBLE, so a multi-relation append
  *    is all-or-nothing without a table format. Each data commit carries
  *    the [[NearDupIndexStats]]: `bandKeys` sizes the Bloom filter so no
  *    query runs a count job over the index (the statistics-fed
  *    [[Dedup.keepUnseen]] treatment); the filter's CONTENT is always
  *    built from the committed key relation itself.
  *
  * `counts/` partials accumulate one dir per append; past
  * `spark.graft.index.compactThreshold` (default 16) active dirs, the
  * next append folds them into one summed dir published by a superseding
  * commit. Superseded dirs stay on disk (a running query may still hold
  * their paths) until [[vacuum]] unlinks them once no such reader exists.
  *
  * Writers SERIALIZE on the layout's writer lock
  * ([[ManifestLog.withWriteLock]] — every mutating entry point takes it),
  * so concurrent appends both land and compaction never races an append;
  * the atomic no-overwrite marker rename remains as defense in depth (a
  * lock-bypassing writer fails its commit, leaving only invisible orphan
  * dirs, rather than corrupting the index). Readers take no lock (they
  * see the last committed set).
  *
  * Query shape ([[pairsVs]], and [[gate]]/[[keepUnseen]] above the
  * small-batch bound), mirroring [[MinHashLSH.nearDupPairsVsHistory]]
  * stage for stage — the distributed plan, the 100 TB path:
  *  1. over-cap buckets (> maxBucket members across ALL appends — the
  *     stopword-profile degenerate buckets) come from aggregating
  *     `counts/` and are anti-joined out of the stored band relation;
  *  2. a Bloom filter over the surviving stored keys — sized from stored
  *     `band_keys`, built by scanning only `counts/` — splits the incoming
  *     keys: provably-absent keys never enter the candidate join;
  *  3. surviving keys equi-join `bands/` → candidate (inc, hist) pairs;
  *  4. exact digest-Jaccard verification joins `digests/` by candidate id.
  * The incoming batch is shingled exactly once (call-scoped cache), and the
  * history side is touched as keys (`counts/`, `bands/`) plus candidate
  * digest rows — the bytes-read evidence the Bench block records.
  *
  * Small-batch gate: when the gate's cached frame (the batch's rows, digests
  * and band keys), loaded, measures at most [[NearDupIndex.SmallBatchBytes]]
  * and at most `spark.sql.autoBroadcastJoinThreshold` ([[CacheScope.fitsDriver]]),
  * [[gate]] answers the same stages on the driver instead, with no join and no
  * Bloom filter — the query side ships to the data (REPOSE, ICDE 2021):
  * one collect of the batch's ids, digests and band keys, then one
  * map-only scan per relation, each filtered by an `InSet` of what the
  * previous step found (`counts/` by the batch keys, summed per key
  * against `maxBucket`; `bands/` by the surviving keys; `digests/` by the
  * candidate ids, verified with [[MinHashLSH.jaccardSortedOf]]). A step
  * with nothing to look up runs no job. Either way the cached frame's band
  * keys are computed once and ride the gate's answer to [[append]].
  */
final class NearDupIndex private (
    private val spark: SparkSession, val path: String)
    extends IngestIndex with LoggedStore {

  private[ext] val log = new StoreLog(spark, path, Seq(
    StoreRel("digests"), StoreRel("bands"),
    // counts partials fold into one summed dir — bounds the per-query
    // file listing of the hottest relation (every gate aggregates
    // `counts/` first)
    StoreRel("counts", fold = Some((from, to) =>
      rel("counts", from)
        .groupBy("b", "bkey").agg(sum(col("c")).cast("long").as("c"))
        .coalesce(4)
        .write.mode("errorifexists").parquet(to)))))

  private def statsOf(kv: Map[String, String]): NearDupIndexStats =
    NearDupIndexStats(kv("docs").toLong, kv("bandKeys").toLong,
      kv("numHashes").toInt, kv("bands").toInt, kv("maxBucket").toInt)

  /** Current stored statistics (appends move it; read off the newest
    * commit — zero Spark jobs per read). */
  def stats: NearDupIndexStats = statsOf(log.stats)

  private def rel(name: String, dirs: Seq[String]): DataFrame =
    RelRead.read(spark, s"$path#$name", dirs)

  private def relOf(ms: Seq[Manifest], name: String): DataFrame =
    rel(name, log.dirs(ms, name))

  // ---------------- writes ----------------

  /** Index an accepted batch: its digests, band keys, and bucket-count
    * partials land in fresh `append=<id>` dirs, then ONE marker commit
    * makes all three — and the refreshed stats — visible atomically.
    * Shingles `df`'s text; the ingest loop's [[gate]] hands its
    * survivors' digests to `append(gated, token)` instead.
    */
  def append(df: DataFrame, idCol: String, textCol: String): NearDupIndexStats =
    withShingled(df, idCol, textCol)(write(_, None))

  /** [[append]] with an idempotence token — the EXACTLY-ONCE append: if
    * a committed manifest already carries `token`, the call is a no-op (the
    * batch was fully indexed before a crash/replay), so a replayed
    * micro-batch can never double-index its survivors. Pair with
    * `keepUnseen(..., excludeToken = Some(token))` so the replayed GATE
    * also reproduces its original answer. */
  def appendOnce(df: DataFrame, idCol: String, textCol: String,
      token: String): NearDupIndexStats =
    withShingled(df, idCol, textCol)(write(_, Some(token)))

  /** `body` over `df`'s digests, shingled once. The shingleFrame rule
    * ([[MinHashLSH]]): cache the UNFILTERED projection and filter above
    * the boundary, so the empty-digest predicate can't be pushed below the
    * fan-out exchange and recompute digests single-core. */
  private def withShingled[T](df: DataFrame, idCol: String, textCol: String)(
      body: DataFrame => T): T = {
    val feats = incomingProjection(df, idCol, textCol).persist()
    try body(feats)
    finally { feats.unpersist(blocking = false); () }
  }

  /** Every append's one locked write: exactly once under `token`,
    * unconditionally without one. */
  private def write(feats: DataFrame,
      token: Option[String]): NearDupIndexStats =
    log.write(token)(stats)(writeBatch(feats, None, token))

  /** The one relation writer: a `(doc_id, ds)` digest frame becomes the
    * commit's three relation dirs and its stats. */
  private def writeBatch(feats: DataFrame, init: Option[NearDupIndexStats],
      token: Option[String]): NearDupIndexStats = statsOf(
    log.append(token, fresh = init.nonEmpty) { (id, before) =>
      val prev = init.getOrElse(statsOf(log.statsIn(before)))
      relations(feats, prev).foreach { case (name, rows) =>
        rows.write.mode("errorifexists").parquet(log.dir(name, id))
        // writer-side schema registration: the gate/append reads of these
        // relations (same JVM, the ingest-loop shape) skip the first-read
        // schema-inference job
        RelRead.seed(s"$path#$name", rows.schema)
      }
      // stats off the new dirs' parquet footers (no Spark job): `docs`
      // is exact; `bandKeys` adds this append's distinct keys to the
      // previous bound, so a key already in history counts again — an
      // upper bound, which only sizes the gate's Bloom filter
      val batchDocs = graft.io.ParquetMeta.rowCount(spark, log.dir("digests", id))
      // a FIRST build with zero shingled docs would leave every relation
      // unreadable (schema inference over only-empty dirs): refuse with
      // a clear error, like the other text-keyed stores
      require(init.isEmpty || batchDocs > 0,
        s"cannot build a stored index at $path from a corpus with no shingles")
      val batchKeys = graft.io.ParquetMeta.rowCount(spark, log.dir("counts", id))
      StoreLog.kvOf(prev.copy(docs = prev.docs + batchDocs,
        bandKeys = prev.bandKeys + batchKeys))
    }.stats)

  /** The rows each relation of one append holds, from the appended
    * documents' digests: nothing here reads text. */
  private def relations(feats: DataFrame,
      st: NearDupIndexStats): Seq[(String, DataFrame)] = {
    val nonEmpty = feats.filter(size(col("ds")) > 0)
    // a gate answer carries its documents' band arrays: explode them
    // rather than recompute every signature
    val bk =
      if (feats.columns.contains("bands")) MinHashLSH.bandRows(nonEmpty)
      else MinHashLSH.bandedKeysFromDigests(nonEmpty, st.numHashes, st.bands)
    Seq("digests" -> nonEmpty.select("doc_id", "ds"), "bands" -> bk,
      "counts" -> bk.groupBy("b", "bkey").agg(count(lit(1)).as("c")))
  }

  // ---------------- queries ----------------

  /** `(doc_inc, doc_hist, jac)` for every incoming document whose digest
    * Jaccard against some INDEXED document exceeds `threshold` — the stored
    * counterpart of [[MinHashLSH.nearDupPairsVsHistory]] (see class doc for
    * the stage map).
    */
  def pairsVs(incoming: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, fpp: Double = 0.01,
      excludeToken: Option[String] = None): DataFrame = {
    val incProj = incomingProjection(incoming, idCol, textCol)
    CacheScope.withCached(incProj) {
      pairsPlan(incProj, threshold, fpp, excludeToken)
    }
  }

  /** The gate's UN-materialized plan (no call-scoped cache/checkpoint) —
    * exposed so plan audits can assert the 100 TB property directly: every
    * file scan in this plan lives under the index path ([[MinHashLSH.candidatePlanFor]]
    * precedent; the production [[pairsVs]] wraps the same plan in a cache
    * scope, whose eager checkpoint collapses it before a test could walk it).
    */
  private[graft] def pairsPlanFor(incoming: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.8, fpp: Double = 0.01): DataFrame =
    pairsPlan(incomingProjection(incoming, idCol, textCol), threshold, fpp,
      excludeToken = None)

  private def incomingProjection(incoming: DataFrame, idCol: String,
      textCol: String): DataFrame =
    digestsOf(digested(
      incoming.select(col(idCol).as("doc_id"), col(textCol).as("__text")),
      "__text"), "doc_id")

  /** `df` with its documents' shingle digests as `__ds` — the one place a
    * batch is shingled. Repartitioned first, so the projection fans out
    * past single-row-group inputs (the [[MinHashLSH]] shingle-frame
    * rule); callers cache the result and filter above it. */
  private def digested(df: DataFrame, textCol: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .withColumn("__ds", MinHashLSH.shingleDigests(col(textCol)))

  private def digestsOf(digestedRows: DataFrame, idCol: String): DataFrame =
    digestedRows.select(col(idCol).as("doc_id"), col("__ds").as("ds"))

  private def pairsPlan(incProj: DataFrame, threshold: Double,
      fpp: Double, excludeToken: Option[String]): DataFrame = {
    val ms = log.visible(excludeToken)
    val st = statsOf(log.statsIn(ms))
    locally {
      val incDs = incProj.filter(size(col("ds")) > 0)
      val keyStr = concat_ws("|", col("b"), col("bkey"))
      // degenerate buckets across all appends: aggregate the counts
      // partials (tiny) and anti-join the stored band relation
      val totals = relOf(ms, "counts").groupBy("b", "bkey").agg(sum(col("c")).as("__c"))
      val okKeys = totals.filter(col("__c") <= st.maxBucket).select("b", "bkey")
      val histIdx = relOf(ms, "bands").join(okKeys, Seq("b", "bkey"), "left_semi")
      // Bloom over the surviving stored keys, sized from stored statistics
      // (bandKeys is an upper bound: pre-cap keys, cross-append repeats
      // counted per append — an overestimate costs filter bits, never
      // correctness)
      val filter = BloomPrune.buildFilter(okKeys.select(keyStr.as("__k")),
        "__k", math.max(1L, st.bandKeys), fpp)
      val (maybeSeen, _) = BloomPrune.split(
        MinHashLSH.bandedKeysFromDigests(incDs, st.numHashes, st.bands)
          .withColumn("__k", keyStr), "__k", filter)
      val cand = maybeSeen
        .join(histIdx.select(col("doc_id").as("__hist_id"), col("b"), col("bkey")),
          Seq("b", "bkey"))
        .select(col("doc_id").as("doc_inc"), col("__hist_id").as("doc_hist"))
        .distinct()
      val x = incDs.select(col("doc_id").as("doc_inc"), col("ds").as("ds_a"))
      val y = relOf(ms, "digests")
        .select(col("doc_id").as("doc_hist"), col("ds").as("ds_b"))
      cand.join(x, "doc_inc").join(y, "doc_hist")
        .select(col("doc_inc"), col("doc_hist"),
          MinHashLSH.jaccardSorted(col("ds_a"), col("ds_b")).as("jac"))
        .filter(col("jac") > threshold)
    }
  }

  /** Keep only incoming rows that near-duplicate NO indexed document — the
    * stored-index ingest gate ([[MinHashLSH.keepUnseenNear]]'s production
    * form): [[gate]]'s kept rows, materialized.
    */
  def keepUnseen(incoming: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, fpp: Double = 0.01,
      excludeToken: Option[String] = None): DataFrame =
    gate(incoming, idCol, textCol, excludeToken, threshold, fpp).kept

  // ---------------- IngestIndex ----------------

  def gate(batch: DataFrame, idCol: String, textCol: String,
      excludeToken: Option[String]): IngestIndex.Gated =
    gate(batch, idCol, textCol, excludeToken, threshold = 0.8)

  /** The rows of `batch` with no indexed near-duplicate above `threshold`,
    * materialized with their digests ([[IngestIndex]]'s gate phase). The
    * batch is shingled once and its rows ride the cached digest frame, so
    * the batch's own plan runs once per call; the duplicate ids come from
    * the driver-side lookups when that frame fits the small-batch bound
    * (class doc), from the pairs plan and one anti-join above it. */
  def gate(batch: DataFrame, idCol: String, textCol: String,
      excludeToken: Option[String], threshold: Double,
      fpp: Double = 0.01): IngestIndex.Gated = {
    // band geometry is fixed at build: the cached frame carries every
    // document's band keys, which both the lookups and the append read
    val st = stats
    val feats = MinHashLSH.withBandArrays(digested(batch, textCol), "__ds",
      st.numHashes, st.bands, "__bands")
    val kept = CacheScope.withCached(feats) {
      if (CacheScope.fitsDriver(feats, NearDupIndex.SmallBatchBytes)) {
        // a null id names no answer: kept, as the anti-join keeps it
        val dup = dupIds(feats, idCol, threshold, excludeToken)
        feats.where(col(idCol).isNull || !Bridge.inSet(feats, col(idCol), dup))
      } else {
        // the distinct duplicate ids, at most the batch's: broadcast, so
        // the cached rows never shuffle for the anti-join
        val dup = pairsPlan(digestsOf(feats, idCol), threshold, fpp,
          excludeToken).select(col("doc_inc")).distinct()
        feats.join(broadcast(dup), col(idCol) === col("doc_inc"), "left_anti")
      }
    }
    new IngestIndex.Gated(kept.drop("__ds", "__bands"),
      kept.select(col(idCol).as("doc_id"), col("__ds").as("ds"),
        col("__bands").as("bands")), idCol, textCol, path)
  }

  /** The ids of the cached batch `feats` with an indexed near-duplicate
    * above `threshold` — [[pairsPlan]]'s answer for a batch small enough
    * to broadcast, from driver-side sets: one collect of the batch's
    * digests and band keys, then one map-only scan per history relation,
    * filtered by the keys or candidates found so far. Exact key sets
    * leave nothing for a Bloom filter to prune. A step with nothing to
    * look up runs no job. */
  private def dupIds(feats: DataFrame, idCol: String, threshold: Double,
      excludeToken: Option[String]): Iterable[Any] = {
    val ms = log.visible(excludeToken)
    val st = statsOf(log.statsIn(ms))
    val docs = feats.where(col(idCol).isNotNull && size(col("__ds")) > 0)
      .select(col(idCol), col("__ds"), col("__bands")).collect()
      .map(r => NearDupIndex.BatchDoc(r.get(0), utf8(r.getSeq[String](1)),
        r.getSeq[Row](2).map(k => (k.getInt(0), k.getString(1)))))
    val keys = docs.flatMap(_.keys).toSet
    // over-cap buckets: the batch keys' populations across all appends
    val population = lookup(ms, "counts", "bkey", keys.map(_._2), "b", "c")
      .groupMapReduce(r => (r.getInt(1), r.getString(0)))(_.getLong(2))(_ + _)
    val ok = keys.filter(population.get(_).exists(_ <= st.maxBucket))
    // the stored members of every surviving bucket
    val members = lookup(ms, "bands", "bkey", ok.map(_._2), "b", "doc_id")
      .map(r => ((r.getInt(1), r.getString(0)), r.get(2)))
      .filter(m => ok(m._1)).groupMap(_._1)(_._2)
      .withDefaultValue(Array.empty[Any])
    // answers are per id: a repeated batch id pools its rows' candidates
    // and digests, as the verification join on the id does
    val byId = docs.groupBy(d => IngestIndex.idKey(d.id))
    val cand = byId.map { case (id, rows) => id -> rows.flatMap(_.keys)
      .flatMap(members).distinctBy(IngestIndex.idKey(_)) }
    val stored = lookup(ms, "digests", "doc_id",
        cand.values.flatten.toSeq.distinctBy(IngestIndex.idKey(_)), "ds")
      .groupMap(r => IngestIndex.idKey(r.get(0)))(r =>
        utf8(r.getSeq[String](1)))
      .withDefaultValue(Array.empty[ArrayData])
    byId.collect { case (id, rows) if rows.exists(d => cand(id).exists(h =>
        stored(IngestIndex.idKey(h))
          .exists(MinHashLSH.jaccardSortedOf(d.ds, _) > threshold))) =>
      rows.head.id }
  }

  /** `(keyCol, cols...)` of the rows of relation `name` in snapshot `ms`
    * whose `keyCol` is one of `values`: one map-only, pushed-down scan,
    * collected; no scan for no values. */
  private def lookup(ms: Seq[Manifest], name: String, keyCol: String,
      values: Iterable[Any], cols: String*): Array[Row] =
    if (values.isEmpty) Array.empty
    else {
      val rel = relOf(ms, name)
      rel.where(Bridge.inSet(rel, col(keyCol), values))
        .select(keyCol, cols: _*).collect()
    }

  private def utf8(ds: Seq[String]): ArrayData =
    new GenericArrayData(ds.map(UTF8String.fromString).toArray[Any])

  /** Index a [[gate]] answer of this store from its digests. */
  def append(gated: IngestIndex.Gated, token: Option[String]): Unit = {
    gated.requireFrom(path)
    write(gated.features, token)
    ()
  }
}

object NearDupIndex extends StoreProbe {

  /** The largest cached gate frame [[NearDupIndex.gate]] answers on the
    * driver: 10 MB, Spark's default broadcast threshold. The driver-side
    * path measured faster than the distributed plan at every batch size
    * tried, up to 20,000 documents (38 MB cached: 27 s against 58 s on 4
    * cores, [[GateSweep]]); the bound caps what the driver collects, about
    * 5,000 documents' digests and band keys, however high the join
    * threshold is set. */
  private[ext] val SmallBatchBytes: Long = 10L << 20

  /** One batch row as the small-batch gate collects it: its id, sorted
    * digests and `(b, bkey)` band keys. */
  private final case class BatchDoc(id: Any, ds: ArrayData,
      keys: Seq[(Int, String)])

  /** Build a new index at `path` (must not already hold one) from the
    * history corpus — the one time history text is read. `seedToken` (if
    * any) rides the first commit so a build-if-absent caller can
    * recognize its own seed on crash-replay ([[IngestIndex.seededBy]]).
    */
  def build(history: DataFrame, idCol: String, textCol: String, path: String,
      numHashes: Int = 16, bands: Int = 4, maxBucket: Int = 100,
      seedToken: Option[String] = None): NearDupIndex = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val idx = new NearDupIndex(history.sparkSession, path)
    idx.withShingled(history, idCol, textCol)(feats => idx.log.locked(
      idx.writeBatch(feats,
        Some(NearDupIndexStats(0L, 0L, numHashes, bands, maxBucket)), seedToken)))
    idx
  }

  /** Open a stored index (fails fast on a missing or older layout);
    * parameters come from its commits' stats. */
  def open(spark: SparkSession, path: String): NearDupIndex =
    StoreLog.open(new NearDupIndex(spark, path))
}
