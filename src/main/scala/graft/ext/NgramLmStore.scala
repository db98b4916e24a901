package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stored statistics for [[NgramLmStore]]: advisory `bigramRows` (count
  * partials on disk, not distinct bigrams) and the fluency-band gate
  * parameters (`loMicro`, `hiMicro`) pinned at build so a reader can't
  * gate a stored model with mismatched thresholds (the [[IvfStoreStats]]
  * rule). */
final case class NgramLmStoreStats(bigramRows: Long, loMicro: Long,
    hiMicro: Long)

/** PERSISTED bigram language model — [[NgramLm]]'s per-call training made
  * an INCREMENTAL stored model, the fifth member of the index family
  * ([[NearDupIndex]], [[SubstrIndex]], [[IvfStore]], [[Bm25Store]]):
  * bigram counts are ASSOCIATIVE, so the corpus is tokenized once at
  * [[NgramLmStore.build]]/[[append]] time into count PARTIALS, later
  * batches score against the summed stored model (history text is never
  * re-read), and appending a batch's survivors IS the model update —
  * CCNet's train-then-filter loop with the model maintained in place
  * instead of retrained per call.
  *
  * == Layout ==
  *
  * The [[ManifestLog]] marker-commit scheme shared by the family:
  *  - `counts/append=<id>/` (__w1, __bg, __c12) — per-append
  *    bigram-count partials as plain parquet, sorted by `(__w1, __bg)`
  *    within files; the file count is whatever the aggregation's
  *    (AQE-coalesced) partitions give, one file for a micro-batch. No
  *    reader prunes by directory (the gate prunes rows by a semi-join on
  *    `__w1`), so the relation has no partition columns. Cross-append
  *    duplicates are fine: every reader SUMS partials (the
  *    [[NearDupIndex]] counts/ pattern), and compaction folds them;
  *  - `_commits/m<seq>` marker manifests ([[StoreLog]]; crashed appends
  *    invisible), each data commit carrying the [[NgramLmStoreStats]].
  *
  * == Scoring shape ([[scoreBatch]]) ==
  *
  * The batch's bigram prefixes prune the stored relation FIRST (a
  * semi-join on `__w1` — all rows of a surviving prefix are kept, so its
  * `c1` total is exact). The pruned partials are then read ONCE: one
  * exchange on `__w1` feeds both the `(__w1, __bg)` sum into the model
  * and, over that same partitioning, each prefix's total `c1` (a window
  * sum, so no second scan and no model self-join). Each bigram's
  * probability is floored into integer micro-units `(1e6·c12) div c1` —
  * the same all-integer arithmetic as [[NgramLm.fluencyReport]], so
  * scores are bit-portable and the DuckDB oracle re-derives the whole
  * incremental chain. Per-call work is model-sized (vocabulary-bounded),
  * never corpus-sized.
  *
  * == Ingest gate ([[IngestIndex]]) ==
  *
  * [[keepBand]] keeps batch documents whose stored-model `mean_micro`
  * lies in `[loMicro, hiMicro]` — the fluency-band quality gate scored
  * against the PERSISTED model; through [[gate]] and
  * `append(gated, token)` (survivors' counts join the model
  * exactly-once, from the bigrams the gate already derived) the
  * unchanged generic loop
  * ([[graft.streaming.EventStream.runIndexedIngest]]) runs the
  * score → gate → model-update cycle per micro-batch.
  */
final class NgramLmStore private (
    private val spark: SparkSession, val path: String)
    extends IngestIndex with LoggedStore {

  private[ext] val log = new StoreLog(spark, path, Seq(StoreRel("counts",
    // one SUMMED relation: bounds the per-score file listing AND
    // deduplicates cross-append bigram rows (shrinking every later model
    // aggregation); sum-identical by associativity
    fold = Some((from, to) => counts(from)
      .groupBy("__w1", "__bg")
      .agg(sum(col("__c12")).as("__c12"))
      .select("__w1", "__bg", "__c12")
      .sortWithinPartitions("__w1", "__bg")
      .write.mode("errorifexists").parquet(to)))))

  private def statsOf(kv: Map[String, String]): NgramLmStoreStats =
    NgramLmStoreStats(kv("bigramRows").toLong, kv("loMicro").toLong,
      kv("hiMicro").toLong)

  /** Current stored statistics (appends move it; read off the newest
    * commit — zero Spark jobs per read). */
  def stats: NgramLmStoreStats = statsOf(log.stats)

  private def counts(dirs: Seq[String]): DataFrame =
    RelRead.read(spark, s"$path#counts", dirs,
      schema = Some(NgramLmStore.countsSchema))

  // ---------------- writes ----------------

  /** Fold a batch's bigram counts into the model: one partials dir, one
    * marker commit carrying the refreshed stats. Serialized with every other writer on the layout
    * ([[ManifestLog.withWriteLock]]). Tokenizes `df`'s text; the ingest
    * loop's [[gate]] hands its survivors' bigrams to
    * `append(gated, token)` instead. */
  def append(df: DataFrame, idCol: String, textCol: String): NgramLmStoreStats =
    write(NgramLm.bigramsOf(df, textCol), None)

  /** [[append]] with an idempotence token — exactly-once model updates
    * (the token check and the commit are atomic under the writer lock:
    * two racers with the same token fold the batch once). */
  def appendOnce(df: DataFrame, idCol: String, textCol: String,
      token: String): NgramLmStoreStats =
    write(NgramLm.bigramsOf(df, textCol), Some(token))

  /** Every append's one locked write: exactly once under `token`,
    * unconditionally without one. */
  private def write(bigrams: DataFrame,
      token: Option[String]): NgramLmStoreStats =
    log.write(token)(stats)(writeBatch(bigrams, None, token))

  /** The one relation writer: a bigram-occurrence frame (`__bg`, one row
    * per occurrence) becomes the commit's counts partials — the caller
    * derives it once (the text paths above, [[gate]]'s survivors,
    * [[QualityProbeStore.create]]'s shared history bigrams). */
  private def writeBatch(bigrams: DataFrame, init: Option[NgramLmStoreStats],
      token: Option[String]): NgramLmStoreStats = statsOf(
    log.append(token, fresh = init.nonEmpty) { (id, before) =>
      val prev = init.getOrElse(statsOf(log.statsIn(before)))
      val dir = log.dir("counts", id)
      bigrams.select(col("__bg"))
        .groupBy("__bg").agg(count(lit(1)).as("__c12"))
        .select(split(col("__bg"), " ").getItem(0).as("__w1"),
          col("__bg"), col("__c12"))
        .sortWithinPartitions("__w1", "__bg")
        .write.mode("errorifexists").parquet(dir)
      val added = graft.io.ParquetMeta.rowCount(spark, dir)
      // a FIRST append with zero rows would leave the model unreadable
      // (every later read infers schema over only-empty dirs): refuse the
      // degenerate build with a clear error instead of wedging later
      require(init.isEmpty || added > 0,
        s"cannot build a stored model at $path from a corpus with no bigrams")
      StoreLog.kvOf(prev.copy(bigramRows = prev.bigramRows + added))
    }.stats)

  // ---------------- queries ----------------

  /** Per batch document: (idCol, n_bigrams, sum_micro, mean_micro) scored
    * against the STORED model — [[NgramLm.scoreAgainst]]'s contract with
    * the model side replaced by the summed stored partials, pruned to the
    * batch's bigram prefixes before aggregation. Bigrams absent from the
    * model contribute 0 micro-units but count in `n_bigrams` (unseen
    * transitions drag the mean down — the gate's signal). */
  def scoreBatch(batch: DataFrame, idCol: String, textCol: String,
      excludeToken: Option[String] = None): DataFrame = {
    val bg = NgramLm.bigramsOf(batch, textCol, col(idCol))
    CacheScope.withCached(bg)(
      scorePlan(batch.select(col(idCol)), bg, idCol, excludeToken))
  }

  /** [[scoreBatch]] over a CALLER-computed (and caller-persisted)
    * per-doc bigram frame — the create-path fusion hook
    * ([[QualityProbeStore.create]] tokenizes the history once and feeds
    * both the frozen-LM build and this seed scoring). Result
    * materialized exactly like [[scoreBatch]]'s. */
  private[ext] def scoreBatchWith(batch: DataFrame, bg: DataFrame,
      idCol: String, excludeToken: Option[String] = None): DataFrame =
    scorePlan(batch.select(col(idCol)), bg, idCol, excludeToken)
      .localCheckpoint(true)

  /** The score's UN-materialized plan — plan-audit hook (the family's
    * `pairsPlanFor` precedent): every file scan must live under the model
    * path; batch text is tokenized from the (checkpointed) batch itself. */
  private[graft] def scorePlanFor(batch: DataFrame, idCol: String,
      textCol: String): DataFrame =
    scorePlan(batch.select(col(idCol)),
      NgramLm.bigramsOf(batch, textCol, col(idCol)), idCol,
      None)

  /** `rows` (which carry `idCol`) with their documents' `n_bigrams`,
    * `sum_micro` and `mean_micro` appended, from the per-doc bigrams
    * `bg`. */
  private def scorePlan(rows: DataFrame, bg: DataFrame, idCol: String,
      excludeToken: Option[String]): DataFrame = {
    // prune the stored partials to the batch's prefixes BEFORE the model
    // aggregation: a kept prefix keeps ALL its rows, so its c1 is exact;
    // unneeded vocabulary never aggregates
    val prefixes = bg
      .select(split(col("__bg"), " ").getItem(0).as("__w1")).distinct()
    val pruned = counts(log.dirs(log.visible(excludeToken), "counts"))
      .join(prefixes, Seq("__w1"), "left_semi")
    // one exchange on the prefix serves both the bigram sum and the
    // prefix total: the partials are scanned once, with no self-join
    val scoredModel = pruned.repartition(col("__w1"))
      .groupBy("__w1", "__bg").agg(sum(col("__c12")).as("__c12"))
      .withColumn("__c1", sum(col("__c12")).over(Window.partitionBy("__w1")))
      .select(col("__bg"), expr("(1000000 * __c12) div __c1").as("__micro"))
    val perDoc = bg.join(scoredModel, Seq("__bg"), "left_outer")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("__micro"), lit(0L))).as("sum_micro"))
    // the mean from the raw columns first: a doc with no bigram rows has
    // null, not 0, counts here (0 div 0 fails under ANSI)
    rows.join(perDoc, Seq(idCol), "left_outer")
      .withColumn("mean_micro",
        coalesce(expr("sum_micro div n_bigrams"), lit(0L)))
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("sum_micro", coalesce(col("sum_micro"), lit(0L)))
  }

  /** Keep batch documents whose stored-model `mean_micro` lies in
    * `[loMicro, hiMicro]` — the fluency-band gate against the persisted
    * model: [[gate]]'s kept rows at that band, materialized. */
  def keepBand(batch: DataFrame, idCol: String, textCol: String,
      loMicro: Long, hiMicro: Long,
      excludeToken: Option[String] = None): DataFrame =
    gate(batch, idCol, textCol, excludeToken, loMicro, hiMicro).kept

  // ---------------- IngestIndex ----------------

  /** [[keepBand]]'s gate at the stored band. */
  def gate(batch: DataFrame, idCol: String, textCol: String,
      excludeToken: Option[String]): IngestIndex.Gated = {
    val st = stats
    gate(batch, idCol, textCol, excludeToken, st.loMicro, st.hiMicro)
  }

  /** The batch documents scoring in `[loMicro, hiMicro]`, materialized
    * with their bigrams ([[IngestIndex]]'s gate phase). The batch is
    * tokenized once and its rows ride the cached bigram frame into the
    * score join, so the batch's own plan runs once and no second join
    * picks the kept rows. A row with a null id is dropped, as
    * [[scoreBatch]]'s per-id answer cannot name it. */
  def gate(batch: DataFrame, idCol: String, textCol: String,
      excludeToken: Option[String], loMicro: Long,
      hiMicro: Long): IngestIndex.Gated = {
    val feats = NgramLm.withBigrams(batch, textCol)
    val kept = CacheScope.withCached(feats) {
      val bg = feats.select(col(idCol), explode(col("__bgs")).as("__bg"))
      scorePlan(feats.where(col(idCol).isNotNull), bg, idCol, excludeToken)
        .where(col("mean_micro").between(loMicro, hiMicro))
        .drop("n_bigrams", "sum_micro", "mean_micro")
    }
    new IngestIndex.Gated(kept.drop("__bgs"),
      kept.select(explode(col("__bgs")).as("__bg")), idCol, textCol, path)
  }

  /** Fold a [[gate]] answer of this store into the model from its
    * bigrams. */
  def append(gated: IngestIndex.Gated, token: Option[String]): Unit = {
    gated.requireFrom(path)
    write(gated.features, token)
    ()
  }
}

object NgramLmStore extends StoreProbe {

  /** The `counts/` relation's schema as written (the data columns in
    * write order; the relation has no partition columns) — declared so no
    * read of the relation ever runs a schema-inference job; pinned
    * against the real layout by `StoreRelationSchemaSpec`. */
  private[ext] val countsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("__w1", StringType),
      StructField("__bg", StringType),
      StructField("__c12", LongType)))
  }

  /** Build a new stored model at `path` (must not already hold one) from
    * the history corpus — the one time history text is read. `loMicro` /
    * `hiMicro` pin the [[IngestIndex]] gate band. `seedToken` (if any)
    * rides the first commit so a build-if-absent caller can recognize
    * its own seed on crash-replay ([[IngestIndex.seededBy]]). */
  def build(history: DataFrame, idCol: String, textCol: String, path: String,
      loMicro: Long = 0L, hiMicro: Long = Long.MaxValue,
      seedToken: Option[String] = None): NgramLmStore = {
    require(loMicro >= 0L && loMicro <= hiMicro,
      "need 0 <= loMicro <= hiMicro")
    val idx = new NgramLmStore(history.sparkSession, path)
    idx.log.locked(idx.writeBatch(NgramLm.bigramsOf(history, textCol),
      Some(NgramLmStoreStats(0L, loMicro, hiMicro)), seedToken))
    idx
  }

  /** [[build]] over a CALLER-computed bigram-occurrence frame of the
    * same history (must carry `__bg`; caller persists it) — the
    * create-path fusion hook ([[QualityProbeStore.create]] tokenizes the
    * history once for this build and its seed scoring). */
  private[ext] def buildFromBigrams(history: DataFrame, bg: DataFrame,
      path: String, loMicro: Long = 0L, hiMicro: Long = Long.MaxValue,
      seedToken: Option[String] = None): NgramLmStore = {
    val idx = new NgramLmStore(history.sparkSession, path)
    idx.log.locked(idx.writeBatch(bg,
      Some(NgramLmStoreStats(0L, loMicro, hiMicro)), seedToken))
    idx
  }

  /** Open a stored model (fails fast on a missing or older layout);
    * parameters come from its commits' stats. A model whose stats carry
    * `buckets` has the older prefix-hash-bucketed `counts/` layout
    * (`wb=<b>/` dirs) and is refused by name. Every data commit carries
    * stats, so the open probe's own manifest read answers this. */
  def open(spark: SparkSession, path: String): NgramLmStore = {
    val store = new NgramLmStore(spark, path)
    if (store.log.requireCurrent(_.stats.nonEmpty).stats.contains("buckets"))
      throw ManifestLog.predates(path, "bucketed counts/ (wb=…)")
    store
  }
}
