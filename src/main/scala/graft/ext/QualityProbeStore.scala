package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED quality-probe TRAINING STATISTICS — [[QualityProbe]]'s
  * moment table maintained incrementally: the normal-equations moments
  * (Σ xᵢxⱼ, Σ xᵢy over documents) are associative Long sums, so they
  * accumulate as per-append PARTIALS the same way [[NgramLmStore]]'s
  * bigram counts do, and the probe's exact Cramer weights
  * ([[QualityProbe.milliWeights]]) re-derive from the summed table at
  * any point — train statistics once per document ever, refresh the
  * model for free after every ingest round.
  *
  * The regression target `y` (the dq92 fluency mean) must come from a
  * FIXED model for the sums to be associative — scoring each batch
  * against the batch-dependent self-model would make earlier partials
  * retroactively wrong. So the store owns a FROZEN reference LM: an
  * [[NgramLmStore]] built once at [[QualityProbeStore.create]] from the
  * history corpus under `path/lm` (never appended to), and every batch's
  * `y` is scored against it — CCNet's fixed-reference-model design. For
  * the create batch itself the frozen model IS its own model, so the
  * seed moments equal the per-call self-trained table (dq112) exactly.
  *
  * == Layout ==
  *  - `lm/` — the frozen reference [[NgramLmStore]] (one commit, frozen);
  *  - `moments/append=<id>/` (term, value) — 14 partial-sum rows per
  *    append (the d·(d+1)/2 + d moment terms);
  *  - `_commits/m<seq>` marker manifests ([[StoreLog]]); `appendOnce`
  *    tokens make ingest-loop statistics updates exactly-once.
  *
  * Reading the model is a 14·appends-row aggregation — tiny rows, but
  * each append is a new DIRECTORY, and at production cadence (one
  * append per ingest batch, forever) the per-read file LISTING would
  * come to dominate the 14-row sum. So the store compacts like its
  * siblings: past `spark.graft.index.compactThreshold` active dirs the
  * partials fold into ONE summed dir under a superseding commit
  * (sum-identical by associativity — the moments are plain Long sums),
  * the newest dir is never folded (the token-replay window), and
  * [[vacuum]] unlinks superseded dirs under the family retention guard.
  * [[moments]] sums the active partials, [[milliWeights]] hands the
  * summed table to the exact Cramer solve.
  *
  * == Ingest gate ([[IngestIndex]]) ==
  *
  * The store is also the fifth gated modality: [[keepAboveMean]] keeps batch
  * documents scoring at or above the STORED corpus's mean quality under
  * the CURRENT stored weights (dq115's train→score→mean-gate with the
  * per-call retrain replaced by incremental statistics), and
  * `append(gated, token)` folds survivors' moments back in, so accepted
  * documents move the model for the next round. Both the weights and
  * the threshold come off the 14-row summed table alone: since x0 = 1,
  * Σ_docs score = Σ_j w_j·m_0_j and the document count is m_0_0, so
  * thr = ⌊Σ_j w_j·m_0_j / m_0_0⌋ — the gate never reads a stored
  * document (there are none; the index IS the statistics).
  */
final class QualityProbeStore private (
    private val spark: SparkSession, val path: String)
    extends IngestIndex with LoggedStore {

  private[ext] val log = new StoreLog(spark, path, Seq(StoreRel("moments",
    // sum-identical by associativity (the [[NgramLmStore]] compaction
    // rule on a 14-term vocabulary)
    fold = Some((from, to) => partials(from)
      .groupBy("term").agg(sum(col("value")).cast("long").as("value"))
      .coalesce(1).write.mode("errorifexists").parquet(to)))))

  /** The frozen reference LM (built at create, never appended). */
  lazy val referenceLm: NgramLmStore = NgramLmStore.open(spark, s"$path/lm")

  private def partials(dirs: Seq[String]): DataFrame =
    RelRead.read(spark, s"$path#moments", dirs,
      schema = Some(QualityProbeStore.momentsSchema))

  // ---------------- writes ----------------

  /** Fold a batch's moment partials into the store: features from the
    * batch text, `y` scored against the FROZEN reference LM, one
    * 14-row partials dir, one marker commit. Serialized with every
    * other writer on the layout ([[ManifestLog.withWriteLock]]). */
  def append(df: DataFrame, idCol: String, textCol: String): Unit =
    write(df, idCol, textCol, None)

  /** [[append]] with an idempotence token — exactly-once statistics
    * (check-then-commit atomic under the writer lock). */
  def appendOnce(df: DataFrame, idCol: String, textCol: String,
      token: String): Unit =
    write(df, idCol, textCol, Some(token))

  /** Every append's one locked write: exactly once under `token`,
    * unconditionally without one. */
  private def write(df: DataFrame, idCol: String, textCol: String,
      token: Option[String]): Unit =
    log.write(token)(())(writeBatch(df, idCol, textCol, token))

  private def writeBatch(df: DataFrame, idCol: String, textCol: String,
      token: Option[String],
      bgOverride: Option[DataFrame] = None): Unit = {
    log.append(token) { (id, _) =>
      // bgOverride: the create-path fusion hook — the seed scoring reuses
      // the bigram frame the frozen-LM build already computed (one
      // tokenize+explode pass over the history corpus instead of two)
      val y = bgOverride
        .fold(referenceLm.scoreBatch(df, idCol, textCol))(bg =>
          referenceLm.scoreBatchWith(df, bg, idCol))
        .select(col(idCol), col("mean_micro"))
      val xy = QualityProbe.features(df, idCol, textCol).join(y, idCol)
      QualityProbe.moments(xy, "mean_micro")
        .coalesce(1).write.mode("errorifexists").parquet(log.dir("moments", id))
      Map.empty
    }
    ()
  }

  // ---------------- reads ----------------

  /** The SUMMED moment table (term, value) over every committed append —
    * [[QualityProbe.moments]]'s contract over the stored partials. */
  def moments(excludeToken: Option[String] = None): DataFrame =
    partials(log.dirs(log.visible(excludeToken), "moments"))
      .groupBy("term").agg(sum(col("value")).cast("long").as("value"))

  /** The probe's EXACT milli-weights from the stored statistics
    * ([[QualityProbe.milliWeights]] — Cramer's rule over BigInt
    * determinants on the 14 summed Longs). */
  def milliWeights(excludeToken: Option[String] = None): Array[Long] =
    QualityProbe.milliWeights(
      moments(excludeToken).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)

  /** (milli-weights, gate threshold) off ONE read of the stored table.
    * The threshold is the stored corpus's mean score under its own
    * weights, derived from the moments alone (class doc): exact BigInt
    * floor of Σ_j w_j·m_0_j over m_0_0 — the same corpus-mean floor as
    * [[QualityProbe.gate]], without rescanning any document. */
  def model(excludeToken: Option[String] = None): (Array[Long], Long) = {
    val m = moments(excludeToken).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = QualityProbe.milliWeights(m)
    val num = (0 until w.length).map(j => BigInt(w(j)) * BigInt(m(s"m_0_$j"))).sum
    val n = BigInt(m("m_0_0"))
    require(n > 0, s"empty stored corpus under $path (m_0_0 = 0)")
    val q = num / n
    val thr = (if (num % n != 0 && num < 0) q - 1 else q).toLong
    (w, thr)
  }

  // ---------------- IngestIndex ----------------

  /** Keep batch documents whose integer probe score under the stored
    * weights is ≥ the stored-corpus mean threshold ([[model]]) — a
    * map-only codegen'd dot product over the batch; the only store read
    * is the 14·appends-row moment aggregation. */
  def keepAboveMean(batch: DataFrame, idCol: String, textCol: String,
      excludeToken: Option[String] = None): DataFrame = {
    val (w, thr) = model(excludeToken)
    val keep = QualityProbe.features(batch, idCol, textCol)
      .where(QualityProbe.score(w) >= thr)
      .select(col(idCol))
    batch.join(keep, Seq(idCol), "left_semi")
  }

  def gate(batch: DataFrame, idCol: String, textCol: String,
      excludeToken: Option[String]): IngestIndex.Gated =
    IngestIndex.ofRows(path, keepAboveMean(batch, idCol, textCol,
      excludeToken), idCol, textCol)

  def append(gated: IngestIndex.Gated, token: Option[String]): Unit = {
    gated.requireFrom(path)
    write(gated.features, gated.idCol, gated.textCol, token)
  }
}

object QualityProbeStore extends StoreProbe {

  /** The `moments/` relation's schema as written ([[QualityProbe
    * .moments]]'s stack projection) — declared so no read of the
    * relation ever runs a schema-inference job; pinned against the real
    * layout by `StoreRelationSchemaSpec`. */
  private[ext] val momentsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("term", StringType),
      StructField("value", LongType)))
  }

  /** Build a new statistics store at `path` (must be fresh): the frozen
    * reference LM trains on `history` under `path/lm`, and history's own
    * moment partials (its `y` scored against that model — for the seed
    * batch the frozen model IS the self-model, so the seed table equals
    * the per-call dq112 moments) become the first append. */
  def create(history: DataFrame, idCol: String, textCol: String,
      path: String, seedToken: Option[String] = None): QualityProbeStore = {
    val spark = history.sparkSession
    val store = new QualityProbeStore(spark, path)
    store.log.locked {
      require(!exists(spark, path),
        s"$path already holds a committed store (create() wants a fresh path)")
      // ONE tokenize+explode pass over the history corpus feeds BOTH the
      // frozen-LM build (its grouped counts) and the seed scoring (its
      // per-doc bigrams) — the per-path form ran the corpus-sized
      // bigramsOf twice per create (guide §1.2: don't compute things
      // twice). Grouped counts off the per-doc frame are identical by
      // construction, so the stored model and the seed moments are
      // bit-unchanged (oracle-gated).
      val bg = NgramLm.bigramsOf(history, textCol, col(idCol)).persist()
      try {
        // crash-replayable: a predecessor that died between the LM build
        // and the first moments commit left a committed LM — reuse it (it
        // was built from the same history; the moments log is still
        // empty). The nested build locks path/lm's OWN log — a different
        // lock file, no self-deadlock.
        if (!NgramLmStore.exists(spark, s"$path/lm"))
          NgramLmStore.buildFromBigrams(history, bg, s"$path/lm")
        store.writeBatch(history, idCol, textCol, token = seedToken,
          bgOverride = Some(bg))
      } finally { bg.unpersist(blocking = false); () }
    }
    store
  }

  /** Open a stored statistics table (+ its frozen reference LM); fails
    * fast on a missing or older layout. */
  def open(spark: SparkSession, path: String): QualityProbeStore = {
    val store = StoreLog.open(new QualityProbeStore(spark, path))
    store.referenceLm
    store
  }
}
