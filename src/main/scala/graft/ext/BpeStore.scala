package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored statistics for [[BpeStore]]: advisory `wordRows` (count
  * partials on disk, not distinct words), the current model's ACTUAL
  * merge count `numMerges` (training may drain the pair space before
  * the budget is spent), and the `mergeBudget` it was trained with —
  * the config-stage identity parameter ([[graft.plan.CurationConfig]]
  * compares declared vs trained budgets, not drained actuals). */
final case class BpeStoreStats(wordRows: Long, numMerges: Int,
    mergeBudget: Int)

/** PERSISTED BPE vocabulary — [[BpeTrain]]'s training state made a
  * stored incremental artifact, the seventh member of the index family:
  * BPE training consumes ONLY the distinct-word count table
  * ([[BpeTrain.learnFromCounts]]), and word counts are ASSOCIATIVE, so
  * the corpus is tokenized once at [[BpeStore.create]]/[[appendOnce]]
  * time into (word, cnt) PARTIALS and [[retrain]] learns from the
  * SUMMED table — exactly the model a from-scratch [[BpeTrain.learn]]
  * over the union corpus would produce (spec- and oracle-gated), with
  * the corpus-sized text pass paid once per document ever. The trained
  * merge table persists alongside the counts, so [[tokenize]] (dq108's
  * [[graft.functions.SubwordTokenize]] kernel under the STORED
  * vocabulary) needs no training at open time at all.
  *
  * == Layout ==
  *
  * The [[ManifestLog]] marker-commit scheme shared by the family:
  *  - `words/append=<id>/` (word, cnt) — per-append word-count
  *    partials; readers SUM, compaction folds;
  *  - `model/append=<id>/` (step, left, right, pair_count) +
  *    `alphabet/` (sym, with the same dir id) — the trained merge
  *    table; a [[retrain]] commits a NEW model dir superseding the old
  *    (manifest `rel.model`/`supersedes.model`, the compaction pattern),
  *    so the current model is always the last committed one;
  *  - `_commits/m<seq>` marker manifests ([[StoreLog]]), each carrying
  *    the [[BpeStoreStats]]; `appendOnce` tokens make ingest-loop count
  *    updates exactly-once.
  *
  * Scale shape: appends are one distributed word count over the batch
  * (map-side combined); [[retrain]] runs over the summed DISTINCT-WORD
  * table — the model-state bound of every production BPE trainer —
  * never over text; [[tokenize]] is a map-only codegen'd kernel with
  * the vocabulary in the plan.
  *
  * Cites the reference's expression surface only through dq107/dq108's
  * operators; the store itself is new Spark-side machinery.
  */
final class BpeStore private (
    private val spark: SparkSession, val path: String) extends LoggedStore {

  private[ext] val log = new StoreLog(spark, path, Seq(
    // sum-identical by associativity (the [[NgramLmStore]] rule)
    StoreRel("words", fold = Some((from, to) => words(from)
      .groupBy("word").agg(sum(col("cnt")).as("cnt"))
      .coalesce(1).write.mode("errorifexists").parquet(to))),
    StoreRel("model", companions = Seq("alphabet"), appended = false)))

  private def statsOf(kv: Map[String, String]): BpeStoreStats =
    BpeStoreStats(kv("wordRows").toLong, kv("numMerges").toInt,
      kv("mergeBudget").toInt)

  /** Current stored statistics (appends and retrains move it; read off
    * the newest commit — zero Spark jobs per read). */
  def stats: BpeStoreStats = statsOf(log.stats)

  private def words(dirs: Seq[String]): DataFrame =
    RelRead.read(spark, s"$path#words", dirs, basePath = Some(s"$path/words"))

  /** The SUMMED word-count table over every committed append —
    * [[BpeTrain.wordCounts]]'s contract over the stored partials. */
  def wordCounts(excludeToken: Option[String] = None): DataFrame =
    words(log.dirs(log.visible(excludeToken), "words"))
      .groupBy("word").agg(sum(col("cnt")).cast("long").as("cnt"))

  // ---------------- writes ----------------

  /** Fold a batch's word counts into the store (the model is NOT
    * retrained — vocabulary stability until an explicit [[retrain]]).
    * Serialized with every other writer on the layout
    * ([[ManifestLog.withWriteLock]]). */
  def append(df: DataFrame, textCol: String): BpeStoreStats =
    log.locked(writeBatch(df, textCol, first = false, token = None))

  /** [[append]] with an idempotence token — exactly-once count updates
    * (check-then-commit atomic under the writer lock). */
  def appendOnce(df: DataFrame, textCol: String,
      token: String): BpeStoreStats =
    log.once(token)(stats)(writeBatch(df, textCol, first = false, Some(token)))

  private def writeBatch(df: DataFrame, textCol: String, first: Boolean,
      token: Option[String]): BpeStoreStats = statsOf(
    log.append(token, fresh = first) { (id, before) =>
      val dir = log.dir("words", id)
      BpeTrain.wordCounts(df, textCol)
        .coalesce(1).write.mode("errorifexists").parquet(dir)
      val added = graft.io.ParquetMeta.rowCount(spark, dir)
      // a FIRST append with zero words would leave the counts unreadable
      // (schema inference over only-empty dirs): refuse the degenerate
      // build with a clear error instead of wedging later
      require(!first || added > 0,
        s"cannot build a stored BPE state at $path from a corpus with no words")
      val prev = if (first) BpeStoreStats(0L, 0, 0) else statsOf(log.statsIn(before))
      StoreLog.kvOf(prev.copy(wordRows = prev.wordRows + added))
    }.stats)

  // ---------------- the model ----------------

  private def currentModelId: String = {
    val ids = log.activeIds(log.visible(None), "model")
    require(ids.nonEmpty, s"no committed model under $path")
    ids.last
  }

  /** Whether the store holds a committed model (merge table) — false in
    * the crash window of a [[BpeStore.create]] that committed its seed
    * word counts but died before the initial [[retrain]]; callers
    * ([[BpeStore.create]] itself on rerun, the config `bpe_tokenize`
    * stage) recover by retraining from the committed counts instead of
    * failing on a wedged layout. */
  def hasModel: Boolean = log.activeIds(log.visible(None), "model").nonEmpty

  /** The stored CURRENT model — merge table + alphabet, no training. */
  def model: BpeTrain.Model = {
    val id = currentModelId
    val merges = spark.read.parquet(s"$path/model/append=$id")
      .orderBy("step").collect()
      .map(r => BpeTrain.Merge(r.getAs[Int]("step"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[Long]("pair_count")))
      .toSeq
    val alphabet = spark.read.parquet(s"$path/alphabet/append=$id")
      .orderBy("sym").collect().map(_.getString(0)).toSeq
    BpeTrain.Model(merges, alphabet)
  }

  /** Learn `numMerges` merges from the SUMMED stored counts — exactly
    * [[BpeTrain.learn]] over the corpus the counts describe, without
    * re-reading any text — and commit the result as the new current
    * model (superseding the old one, which [[vacuum]] may later
    * unlink). */
  def retrain(numMerges: Int): BpeTrain.Model =
    log.locked(retrainLocked(numMerges))

  /** [[retrain]]'s body with the writer lock already held (NOT
    * reentrant — [[BpeStore.create]] runs seed + retrain in one lock). */
  private def retrainLocked(numMerges: Int): BpeTrain.Model = {
    val m = BpeTrain.learnFromCounts(wordCounts(), numMerges)
    writeModel(m, numMerges)
    m
  }

  private def writeModel(m: BpeTrain.Model, numMerges: Int): Unit = {
    import spark.implicits._
    val (ms, seq, id) = log.begin('a', Seq("model"))
    m.merges.map(g => (g.step, g.left, g.right, g.pairCount))
      .toDF("step", "left", "right", "pair_count")
      .coalesce(1).write.mode("errorifexists").parquet(log.dir("model", id))
    m.alphabet.toDF("sym")
      .coalesce(1).write.mode("errorifexists").parquet(log.dir("alphabet", id))
    log.manifests.commit(Manifest(rels = Map("model" -> Seq(id)),
      supersedes = Map("model" -> log.activeIds(ms, "model")),
      stats = StoreLog.kvOf(statsOf(log.statsIn(ms))
        .copy(numMerges = m.merges.size, mergeBudget = numMerges))), seq)
  }

  // ---------------- inference ----------------

  /** The subtoken COLUMN under the STORED vocabulary — dq108's
    * inference kernel ([[graft.functions.SubwordTokenize]], codegen'd,
    * map-only) with the vocabulary read from the model dir instead of
    * trained per call. A Column, so callers compose it without a join
    * (duplicate-id inputs stay one-row-per-input). */
  def tokenizeColumn(textCol: String): org.apache.spark.sql.Column =
    graft.functions.SubwordTokenize(
      regexp_replace(lower(col(textCol)), "\\W+", " "), model.vocab)

  /** (idCol, subtokens) — [[tokenizeColumn]] projected over `df`. */
  def tokenize(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), tokenizeColumn(textCol).as("subtokens"))
}

object BpeStore extends StoreProbe {

  /** Build a new store at `path` (must be fresh): one word count over
    * the history corpus — the one time history text is read — then an
    * initial [[BpeStore.retrain]] with `numMerges`.
    *
    * Crash-replayable (the [[QualityProbeStore.create]] rule): a
    * predecessor that died between the seed word-count commit and the
    * initial retrain left committed words but no committed model — a
    * rerun runs the missing retrain from the committed counts (identical
    * model: training consumes only the summed count table) instead of
    * refusing on a wedged layout. */
  def create(history: DataFrame, textCol: String, path: String,
      numMerges: Int): BpeStore = {
    val store = new BpeStore(history.sparkSession, path)
    store.log.locked {
      if (BpeStore.exists(history.sparkSession, path) && !store.hasModel)
        store.retrainLocked(numMerges)
      else {
        store.writeBatch(history, textCol, first = true, token = None)
        store.retrainLocked(numMerges)
      }
    }
    store
  }

  /** Open a stored vocabulary (+ counts); fails fast on a missing or
    * older layout. */
  def open(spark: SparkSession, path: String): BpeStore =
    StoreLog.open(new BpeStore(spark, path))
}
