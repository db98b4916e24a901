package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Stored statistics for [[IvfStore]]: live `cells`, vector `dims`, the
  * (advisory) total vector count, the semantic-gate parameters
  * (`gateTau` cosine threshold, `gateNprobe` probed cells), and the SQ8
  * `packedScale` — all pinned at create time so a reader can't gate or
  * packed-search a stored index with mismatched parameters (the
  * [[SubstrIndexStats]] `k` rule). */
final case class IvfStoreStats(cells: Int, dims: Int, vectors: Long,
    gateTau: Double, gateNprobe: Int, packedScale: Int)

/** [[IvfStore.occupancyAdvisory]]'s row: the per-generation occupancy
  * curve reduced to the numbers an operator acts on. */
final case class OccupancyAdvisory(generation: Int, cells: Int,
    vectors: Long, maxCellShareMicro: Long, imbalanceMicro: Long,
    recommendedNprobe: Int, targetMassMicro: Long,
    expectedMassMicroAtRecommended: Long)

/** The pair of drift statistics [[IvfStore.driftAdvisory]] derives from
  * the stored per-write cell histograms (both L1 distances between
  * cell-share distributions, parts-per-million): `newestL1Ppm` is the
  * newest write vs the prior corpus (fast trigger), `cumulativeL1Ppm` is
  * all writes since the generation baseline, summed, vs that baseline
  * (slow trigger — catches N small same-direction drifts). */
final case class DriftAdvisory(newestL1Ppm: Long, cumulativeL1Ppm: Long,
    writesSinceBaseline: Int)

/** [[IvfStore.permuteAdvisory]]'s row — "does `pqPermute` pay HERE?"
  * made store-readable (the r16 finding: dq177 proved the permutation
  * wins 25/30 vs 7/30 on variance-skewed coordinates and is isotropic
  * noise otherwise, but nothing an operator could read said which
  * regime their store is in): `skewMicro` is the hottest CONTIGUOUS
  * subspace's variance share over the mean subspace share
  * (parts-per-million of 1.0; 1e6 = perfectly even, the isotropic
  * regime; ≥ the threshold = contiguous slicing wastes codebook budget
  * and the balanced permutation is advised). Derived entirely from the
  * per-generation stored variance spectrum — no corpus pass. */
final case class PermuteAdvisory(generation: Int, subspaces: Int,
    skewMicro: Long, thresholdMicro: Long, advised: Boolean,
    permuted: Boolean)

/** PERSISTED IVF ANN index — [[IvfIndex]]'s session-lifetime model made a
  * stored layout, completing the index-maintenance story across the
  * modalities ([[NearDupIndex]] near-dup text, [[SubstrIndex]] verbatim
  * windows, this for embeddings): centroids are trained ONCE
  * ([[IvfIndex.fit]] — the oracle-exact Lloyd's), the assignment relation
  * is written to disk, and later vector batches are assigned to the
  * FROZEN centroids and appended under [[ManifestLog]] marker commits —
  * the standard production IVF contract (FAISS `add` after `train`):
  * append is map-only against the stored centroid matrix, never a refit.
  *
  * == Layout ==
  *  - `centroids/`, `centroids_g<g>/` (cell, c: array<double>) — k
  *    driver-sized rows per GENERATION: the create's training is
  *    generation 1, each [[refit]] commits the next (manifest
  *    `generation=` key); a query pairs the centroids of its manifest
  *    snapshot's generation with that snapshot's dirs;
  *  - `assigned/append=<id>/cell=<c>/` (vid, emb, nrm) — the vector
  *    relation, PARTITIONED BY CELL: a probe of `nprobe` cells reads
  *    `nprobe/cells` of the files, falling out of partition pruning
  *    rather than a runtime filter (the dq59 treatment applied to ANN);
  *    files are vid-sorted within each cell so a `vid IN (...)` fetch
  *    prunes at parquet row-group min/max;
  *  - `vidmap/append=<id>/`  (vid, cell) — the vid-keyed SIDECAR: a
  *    stored-id query resolves its home cells here (a 12-byte-row
  *    relation, vid-sorted for row-group pruning) instead of scanning
  *    every cell partition of the full vector relation;
  *  - `packed/append=<id>/cell=<c>/` (vid, pemb: binary) — the STORED
  *    SQ8 candidate tier ([[IvfIndex.packed]]'s shape persisted): every
  *    vector's unit form quantized to packed int8 at write time, so
  *    [[searchPacked]] scans 1 B/dim instead of 4 — a 4× cut of the
  *    candidate read on top of the nprobe/cells partition pruning;
  *  - `drift/append=<id>/`   (cell, n) — each write's cell histogram
  *    (≤ k tiny rows): [[refitAdvised]]'s input, the cheap statistic that
  *    flags distribution drift away from the frozen centroids;
  *  - `_commits/m<seq>`      marker manifests ([[StoreLog]]; crashed
  *    appends invisible), each data commit carrying the
  *    [[IvfStoreStats]].
  *
  * == Query shape ==
  * [[search]] takes caller-supplied query vectors (the production API —
  * real queries are usually not already in the index): probe cells are
  * ranked on the driver against the k held centroids and the ONLY scan of
  * the stored relation is the nprobe-pruned candidate scan.
  * A stored-id query passes [[vectorsOf]]'s rows; that lookup goes
  * through `vidmap/` + a home-cell-pruned fetch, never a full pass.
  * Exactly-once appends via [[appendOnce]] tokens; a gate-style
  * `excludeToken` view gives replayed batches their original answer.
  *
  * == Ingest gate ([[IngestIndex]]) ==
  * The third gated modality (round-10 verdict #1): [[semanticKeepUnseen]]
  * drops an incoming embedding whose max cosine against the STORED
  * vectors in its `gateNprobe` probed cells exceeds `gateTau` — SemDeDup's
  * dedup rule (dq75) as a daily-batch-vs-stored-corpus gate. Probing is
  * map-only (the frozen-centroid kernel); the batch's distinct probed
  * cells (≤ k, driver-sized) become a LITERAL partition filter, so the
  * gate reads only probed cell partitions at file listing. With
  * [[gate]] and `append(gated, token)`, the unchanged generic ingest loop
  * ([[graft.streaming.EventStream.runIndexedIngest]]) serves embeddings
  * exactly as it serves the two text modalities.
  */
final class IvfStore private (private val spark: SparkSession,
    val path: String) extends IngestIndex with LoggedStore {

  /** `assigned/` with its per-id tiers; superseded GENERATIONS' centroid
    * dirs are kept forever (k tiny rows each, and a reader inside the
    * retention window may still resolve them through its old manifest
    * snapshot), so vacuum never touches them. */
  private[ext] val log = new StoreLog(spark, path, Seq(StoreRel("assigned",
    companions = Seq("vidmap", "packed", "drift", "pqcodes"),
    fold = Some((from, to) => compactInto(from, to)))))

  private def statsOf(kv: Map[String, String]): IvfStoreStats =
    IvfStoreStats(kv("cells").toInt, kv("dims").toInt,
      kv("vectors").toLong, kv("gateTau").toDouble,
      kv("gateNprobe").toInt, kv("packedScale").toInt)

  /** Current stored statistics (appends and refits move it; read off the
    * newest commit — zero Spark jobs per read). */
  def stats: IvfStoreStats = statsOf(log.stats)

  /** Which exact-refine fetch the LAST PQ-tier gate used — `(distinct
    * shortlist ids, "inline" | "semi-join")`: the driver-size guard's
    * observable (evidence/specs read it; advisory-style, never input
    * to a decision). */
  @volatile var lastShortlistFetchPath: Option[(Long, String)] = None

  // ---------------- generations ----------------

  /** The centroid GENERATION a manifest snapshot pins: 1 is the create's
    * training; each [[refit]] commits the next. Every query resolves its
    * centroids from the SAME snapshot it resolves relation dirs from, so
    * an in-flight reader that planned before a refit keeps the old
    * generation's centroids AND its (retention-guarded) old dirs — the
    * cut-over is consistent by construction. */
  private def genOf(ms: Seq[Manifest]): Int =
    ms.flatMap(_.generation).maxOption.getOrElse(1)

  /** Generation `g`'s dir of `name` (`centroids`, `pqbook`, `varspec`):
    * the bare name for the create's generation, `<name>_g<g>` after. */
  private def genDir(name: String, g: Int): String =
    if (g == 1) s"$path/$name" else s"$path/${name}_g$g"

  private val generations =
    scala.collection.concurrent.TrieMap.empty[Int, IvfStore.Generation]

  /** Generation `g` as stored, read at most once per store instance: its
    * centroids (k driver-sized rows) now, its PQ tier on first use. Like
    * the centroids, the books of superseded generations are kept on
    * disk: an in-flight reader inside the retention window resolves its
    * own snapshot's generation. */
  private[ext] def generation(g: Int): IvfStore.Generation =
    generations.getOrElseUpdate(g, {
      val cs = spark.read.parquet(genDir("centroids", g)).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
      require(cs.nonEmpty, s"no generation-$g centroids under $path")
      new IvfStore.Generation(cs, tierOf(g))
    })

  /** The generation's PQ tier from ONE pass over its book dir, None when
    * the layout was created without the tier (`pqM = 0`): appends then
    * skip the code sidecar and [[searchPq]] refuses with a named error.
    * Every book row carries the tier's `k0`, residual flag and
    * permutation ([[IvfStore.bookDf]]). */
  private def tierOf(g: Int): Option[IvfStore.PqTier] = {
    val dir = genDir("pqbook", g)
    if (!log.manifests.fileSystem.exists(new org.apache.hadoop.fs.Path(dir)))
      None
    else {
      val rows = spark.read.parquet(dir).collect()
      val grouped = rows.groupBy(_.getAs[Int]("j"))
      // a malformed book (a subspace with zero surviving rows, or a
      // partial write) must be a named error, not silently re-indexed
      // subspaces shifting positions under the positional sort
      require(grouped.keySet == (0 until grouped.size).toSet,
        s"PQ codebook at $dir is malformed: subspace ids " +
          s"${grouped.keySet.toSeq.sorted.mkString(",")} are not " +
          s"exactly 0 until ${grouped.size} — restore the book dir")
      val sub = grouped.toSeq.sortBy(_._1)
        .map { case (_, cs) =>
          cs.map(r => (r.getAs[Int]("cell"), r.getAs[Seq[Double]]("c").toArray))
            .sortBy(_._1).toSeq }
        .toVector
      val pinned = rows.head
      val perm = pinned.fieldIndex("perm")
      Some(IvfStore.PqTier(
        PqAnn.Codebook(sub.head.head._2.length * sub.size, sub.size, sub),
        pinned.getAs[Int]("k0"), pinned.getAs[Boolean]("residual"),
        if (pinned.isNullAt(perm)) None
        else Some(pinned.getSeq[Int](perm).toArray)))
    }
  }

  /** The manifest snapshot a query reads and the generation it pins;
    * `pqUse` names what a PQ-tier query needs the tier for, and such a
    * query is refused by name on a layout without it. */
  private def snapshot(excludeToken: Option[String],
      pqUse: Option[String]): (Seq[Manifest], IvfStore.Generation) = {
    val ms = log.visible(excludeToken)
    val gen = generation(genOf(ms))
    pqUse.foreach { use =>
      if (gen.tier.isEmpty) throw new IllegalArgumentException(
        s"no PQ tier under $path (layout created with pqM = 0; $use)")
    }
    (ms, gen)
  }

  /** The CURRENT generation's centroids (k driver-sized rows). */
  def centroids: Seq[(Int, Array[Double])] =
    generation(genOf(log.visible(None))).centroids

  /** Whether the CURRENT generation carries the PQ tier — the
    * config-surface probe ([[graft.plan.CurationConfig.SemanticGate]]
    * validates a declared `tier: "pq"` at open, not at first query). */
  def hasPqTier: Boolean = generation(genOf(log.visible(None))).tier.nonEmpty

  /** "Does `pqPermute` pay on THIS corpus?" from the generation's
    * STORED variance spectrum ([[PqAnn.varianceMicroSums]], persisted
    * at create/refit beside the books — dims tiny rows, no corpus
    * pass): the per-dim exact-integer variance scores
    * `n·Σ⌊x²·1e6⌋·1e6 − (Σ⌊x·1e6⌋)²`
    * are summed over the CONTIGUOUS subspace slices the non-permuted
    * encoder would use, and `skewMicro` is the hottest slice over the
    * mean slice. Isotropic corpora sit near 1e6 (the permutation is
    * noise — dq177's honest sf0.1 numbers); a skewed spectrum
    * (PCA-ordered or structured embeddings) concentrates variance in
    * few adjacent dims and the advisory flips. The spectrum is of the
    * TRAINING relation in ORIGINAL coordinate order (residuals for a
    * residual tier, pre-permutation always), so the statistic answers
    * the same question for permuted and non-permuted stores. */
  def permuteAdvisory(
      thresholdMicro: Long = 2000000L): PermuteAdvisory = {
    require(thresholdMicro >= 1000000L,
      s"thresholdMicro must be >= 1000000 (1.0x), got $thresholdMicro")
    val g = genOf(log.visible(None))
    val tier = generation(g).tier.getOrElse(throw new IllegalArgumentException(
      s"no PQ tier under $path (layout created with pqM = 0) — " +
        "permute advice is about the tier's subspace allocation"))
    val book = tier.book
    val dir = genDir("varspec", g)
    val rows = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Int]("d"), r.getAs[Long]("sx"),
        r.getAs[Long]("sxx"), r.getAs[Long]("n")))
      .sortBy(_._1)
    val dims = rows.length
    require(dims == book.dims && dims % book.m == 0,
      s"variance spectrum at $dir has $dims dims; the generation-$g " +
        s"book expects ${book.dims} split into ${book.m} subspaces")
    val n = BigInt(rows.headOption.map(_._4).getOrElse(0L))
    // the unit-consistent exact variance score (micro² on both terms —
    // see PqAnn.balancedPermutationFromSums); flooring can leave it a
    // hair negative on near-constant dims, clamped
    val score = rows.map(r =>
      (n * BigInt(r._3) * BigInt(1000000) -
        BigInt(r._2) * BigInt(r._2)).max(BigInt(0)))
    val subDim = dims / book.m
    val subVar = (0 until book.m)
      .map(j => score.slice(j * subDim, (j + 1) * subDim).sum)
    val total = subVar.sum
    val skewMicro =
      if (total <= 0) 1000000L // a constant corpus: nothing to balance
      else (subVar.max * book.m * 1000000 / total).toLong
    PermuteAdvisory(g, book.m, skewMicro, thresholdMicro,
      advised = total > 0 && skewMicro >= thresholdMicro,
      permuted = tier.perm.nonEmpty)
  }

  /** [[permuteAdvisory]] reduced to the flag, at the configured
    * threshold (`spark.graft.ivf.permuteSkewThresholdMicro`, default
    * 2e6 = "the hottest contiguous subspace carries ≥ 2x the mean") —
    * the [[refitAdvised]]/[[autoNprobe]] shape. */
  def permuteAdvised(): Boolean = {
    val t = IndexConf.strictLong(spark,
      "spark.graft.ivf.permuteSkewThresholdMicro", default = 2000000L,
      min = 1000000L)
    permuteAdvisory(t).advised
  }

  /** Active assigned dir ids: all published, minus any a later compaction
    * or refit superseded — the ids of every per-id tier too. */
  private def activeIds(ms: Seq[Manifest]): Seq[String] =
    log.activeIds(ms, "assigned")

  /** A relation (`assigned/`, its `packed/`/`pqcodes/` tier or its
    * `vidmap/` sidecar) over the active dir ids. basePath anchors
    * partition discovery when several append roots are listed (each
    * holding cell=<c> subdirs);
    * only the manifest-listed dirs are read, so the replay view is
    * unaffected. */
  private def cellRelOf(ms: Seq[Manifest], rel: String): DataFrame = {
    val ids = activeIds(ms)
    require(ids.nonEmpty, s"no committed $rel dirs under $path")
    spark.read.option("basePath", s"$path/$rel")
      .parquet(ids.map(log.dir(rel, _)): _*)
  }

  /** Nearest STORED cell for an embedding column — the frozen-centroid
    * assignment every append rides (map-only; literal fold vs broadcast
    * kernel routed by k like every IVF surface). */
  private def cellOf(emb: Column, cs: Seq[(Int, Array[Double])]): Column =
    element_at(IvfIndex.probeCells(emb, cs, 1, spark), 1)

  // ---------------- writes ----------------

  /** Append a vector batch: assign to the frozen centroids, write one
    * `append=<id>` dir partitioned by cell (+ its vidmap sidecar), one
    * marker commit. Serialized with every other writer on the layout
    * ([[ManifestLog.withWriteLock]]). */
  def append(df: DataFrame, idCol: String, embCol: String): IvfStoreStats =
    write(df, idCol, embCol, None)

  /** [[append]] with an idempotence token: a committed manifest carrying
    * `token` makes the call a no-op (micro-batch replay safe;
    * check-then-commit atomic under the writer lock). */
  def appendOnce(df: DataFrame, idCol: String, embCol: String,
      token: String): IvfStoreStats =
    write(df, idCol, embCol, Some(token))

  /** Every append's one locked write: exactly once under `token`,
    * unconditionally without one. */
  private def write(df: DataFrame, idCol: String, embCol: String,
      token: Option[String]): IvfStoreStats =
    log.write(token)(stats)(writeBatch(df, idCol, embCol, token))

  private[ext] def writeBatch(df: DataFrame, idCol: String, embCol: String,
      token: Option[String]): IvfStoreStats = statsOf(
    log.append(token) { (id, before) =>
      // a store instance only exists for a committed layout (create
      // commits the first append before returning), so prev stats exist
      val prev = statsOf(log.statsIn(before))
      // the CURRENT generation's frozen matrix and frozen codebooks —
      // append never retrains (FAISS add)
      val gen = generation(genOf(before))
      val added = writeAssigned(
        df.select(col(idCol).as("vid"), col(embCol).as("emb"),
          VectorFunctions.l2Norm(col(embCol)).as("nrm"),
          cellOf(col(embCol), gen.centroids).as("cell")), id,
        prev.packedScale, gen)
      StoreLog.kvOf(prev.copy(vectors = prev.vectors + added))
    }.stats)

  /** Write one (vid, emb, nrm, cell) relation dir `append=<id>`:
    * cell-partitioned vid-sorted vector files plus the vidmap sidecar and
    * the SQ8 packed tier (both derived from a column-pruned read-back of
    * the written files — the assignment kernel runs once, not thrice).
    * The caller's commit start ([[StoreLog.begin]]) has cleared any
    * same-named UNCOMMITTED dir a crashed predecessor left. `gen` is the
    * generation `rows` were assigned under; its PQ tier, if any, encodes
    * the code sidecar. Returns the row count, summed from parquet footers
    * (no count job). */
  private def writeAssigned(rows: DataFrame, id: String, scale: Int,
      gen: IvfStore.Generation): Long = {
    val aDir = log.dir("assigned", id)
    val vDir = log.dir("vidmap", id)
    val pDir = log.dir("packed", id)
    val dDir = log.dir("drift", id)
    val qDir = log.dir("pqcodes", id)
    rows.sortWithinPartitions("cell", "vid")
      .write.partitionBy("cell").mode("errorifexists").parquet(aDir)
    val added = graft.io.ParquetMeta.rowCount(spark, aDir)
    if (added == 0) {
      // a fully-dropped gated batch: the empty write left no parquet file
      // to read back, so stage the (empty, schema-carrying) sidecars from
      // explicit one-partition frames instead of wedging the loop on
      // schema inference
      def emptyOf(fields: Seq[org.apache.spark.sql.types.StructField],
          dir: String): Unit =
        spark.createDataFrame(
            spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 1),
            org.apache.spark.sql.types.StructType(fields))
          .write.mode("errorifexists").parquet(dir)
      emptyOf(Seq(rows.schema("vid"), rows.schema("cell")), vDir)
      // the packed sidecar is cell-PARTITIONED in non-empty appends, so
      // the empty one must keep the same leaf depth and data columns
      // (vid, pemb under a cell= dir) — a flat file with cell as a data
      // column would make partition discovery over mixed appends throw
      // CONFLICTING_DIRECTORY_STRUCTURES
      emptyOf(Seq(rows.schema("vid"),
        org.apache.spark.sql.types.StructField("pemb",
          org.apache.spark.sql.types.BinaryType)), s"$pDir/cell=0")
      emptyOf(Seq(rows.schema("cell"),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType)), dDir)
      // the PQ code sidecar shares the packed tier's leaf-depth rule
      gen.tier.foreach { _ =>
        emptyOf(Seq(rows.schema("vid"),
          org.apache.spark.sql.types.StructField("codes",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.IntegerType))), s"$qDir/cell=0")
      }
    } else {
      val back = spark.read.option("basePath", s"$path/assigned").parquet(aDir)
      back.select("vid", "cell").sort("vid")
        .write.mode("errorifexists").parquet(vDir)
      back.select(col("vid"), col("cell"),
          QuantizedAnn.quantizePacked(
            IvfIndex.unit(col("emb"), col("nrm")), scale).as("pemb"))
        .sortWithinPartitions("cell", "vid")
        .write.partitionBy("cell").mode("errorifexists").parquet(pDir)
      // drift sidecar: this write's per-cell histogram (≤ k tiny rows) —
      // the input of [[driftReport]]/[[refitAdvised]]; a compaction or
      // refit writes the folded histogram, which is exactly the stored
      // baseline the next appends are compared against
      back.groupBy("cell").agg(count(lit(1)).as("n")).sort("cell")
        .coalesce(1).write.mode("errorifexists").parquet(dDir)
      // PQ code sidecar: every vector's m sub-centroid ids against the
      // generation's FROZEN codebooks (map-only, same read-back), coarse-
      // cell-partitioned like packed/ so searchPq prunes at file listing;
      // a residual-tier book encodes x − centroid(cell) against the SAME
      // generation's frozen coarse centroids (still map-only — the
      // subtraction is a literal-map zip_with, no join)
      gen.tier.foreach { t =>
        val encBase =
          if (t.residual) back.select(col("vid"),
            PqAnn.residualCol(col("emb"), col("cell"), gen.centroids)
              .as("emb"), col("cell"))
          else back.select("vid", "emb", "cell")
        // a permuted-tier book was trained on permuted (residual)
        // vectors: encode sees the same fixed coordinate order
        val enc = t.perm.fold(encBase)(p => encBase.select(col("vid"),
          PqAnn.applyPerm(col("emb"), p).as("emb"), col("cell")))
        PqAnn.encode(enc, "vid", "emb", t.book, keep = Seq("cell"))
          .sortWithinPartitions("cell", "vid")
          .write.partitionBy("cell").mode("errorifexists").parquet(qDir)
      }
    }
    added
  }

  /** The compaction fold: rewrite the assigned dirs `from` (and their
    * per-id tiers) into one cell-partitioned relation at `to` — merges the
    * per-cell small files that per-append partitioning accumulates.
    * Row-identical: a straight union rewrite, no re-assignment. */
  private def compactInto(from: Seq[String], to: String): Unit = {
    // cluster the fold by cell: appends stay map-only (latency), but
    // the compaction's whole purpose is merging the per-cell small
    // files they accumulate — an unclustered rewrite would re-emit
    // one file per cell per read task (the dq127 fan-out finding);
    // clustered, the fold leaves ONE file per cell
    writeAssigned(
      spark.read.option("basePath", s"$path/assigned").parquet(from: _*)
        .select("vid", "emb", "nrm", "cell")
        .repartition(col("cell")),
      to.substring(to.lastIndexOf("append=") + "append=".length),
      stats.packedScale,
      // re-encode: frozen book (+ frozen centroids when residual,
      // frozen permutation when permuted), bit-identical codes
      generation(genOf(log.visible(None))))
    ()
  }

  // ---------------- drift + refit ----------------

  /** RETRAIN the index on its own stored corpus and commit the result as
    * a SUPERSEDING GENERATION — the lifecycle step frozen-centroid ANN
    * eventually needs (the FAISS contract retrains when the ingested
    * distribution drifts from the training sample; without it append-only
    * recall silently decays): new centroids from [[IvfIndex.fit]] over
    * the active relation (text/embeddings are re-read ONCE — this is the
    * one deliberately corpus-sized operation of the store), every stored
    * vector re-assigned, and ONE commit that publishes the new relation
    * dir, supersedes all prior dirs, and bumps the generation. Because
    * the fit's initialization orders on `(md5(vid), vid)` — data, not row
    * order — refit over the stored relation equals a from-scratch
    * [[IvfStore.create]] on the union corpus exactly (dq142's oracle).
    *
    * Cut-over is SAFE for in-flight readers: every query resolves
    * centroids and relation dirs from one manifest snapshot ([[genOf]]),
    * old dirs survive [[vacuum]] for the retention window, and old
    * generations' centroid dirs are never deleted. Gate parameters and
    * the packed scale carry over unchanged.
    *
    * TOKEN-REPLAY WINDOW: compaction preserves it by never folding the
    * newest dir; refit folds EVERYTHING, so it preserves it differently —
    * the refit manifest CARRIES FORWARD the newest active token (if any).
    * A replayed micro-batch's `excludeToken` view then excludes BOTH the
    * original append's manifest and the refit's: the old manifests become
    * un-superseded in that view, so the replay resolves the pre-append
    * generation and its (retention-guarded) dirs and gets its original
    * answer — without the carry, the visible refit relation would contain
    * the replayed batch's own rows and a dedup gate would wrongly return
    * empty. Self-propagating: a second refit carries the same token.
    *
    * `enablePermute` TURNS ON the OPQ-lite tier at this refit (the
    * [[permuteAdvisory]] acted on — an already-permuted store keeps
    * its tier either way): the refit trains its books on the permuted
    * union relation exactly as a from-scratch `pqPermute = true`
    * create would, so the refit-equals-scratch contract extends to the
    * flip. Refused by name on a layout without the PQ tier. */
  def refit(k: Int, iters: Int = 2,
      enablePermute: Boolean = false): IvfStoreStats = log.locked {
    val (ms, seq, id) = log.begin('r')
    val old = generation(genOf(ms)).tier
    require(!enablePermute || old.nonEmpty,
      s"refit(enablePermute): no PQ tier under $path (pqM = 0) — the " +
        "permutation is a property of the tier's subspace allocation")
    val ids = activeIds(ms)
    require(ids.nonEmpty, s"no committed assigned dirs under $path")
    val active = ids.toSet
    val carried = ms.filter(_.rel("assigned").exists(active)).flatMap(_.token)
      .lastOption
    val prev = statsOf(log.statsIn(ms))
    val g = genOf(ms) + 1
    val rel = cellRelOf(ms, "assigned").select("vid", "emb", "nrm")
    val idx = IvfIndex.fit(rel, "vid", "emb", k, iters)
    try {
      // the PQ tier refits WITH the coarse index: same m, the create's
      // pinned k, trained on the same stored corpus — so refit-then-query
      // equals a from-scratch create on the union (the dq142 contract,
      // extended to the codebooks)
      val gen = writeGeneration(g, idx, rel, old.fold(0)(_.book.m),
        old.fold(0)(_.k0), old.exists(_.residual),
        old.exists(_.perm.nonEmpty) || enablePermute, iters)
      val n = writeAssigned(
        idx.assigned.select("vid", "emb", "nrm", "cell")
          .repartition(col("cell")), id, prev.packedScale, gen)
      val st = IvfStoreStats(idx.centroids.size,
        idx.centroids.head._2.length, n, prev.gateTau, prev.gateNprobe,
        prev.packedScale)
      log.manifests.commit(Manifest(rels = Map("assigned" -> Seq(id)),
        supersedes = Map("assigned" -> ids), stats = StoreLog.kvOf(st),
        token = carried, generation = Some(g)), seq)
      st
    } finally idx.release()
  }

  /** Write generation `g` from `idx`'s fit — the one generation writer
    * behind [[IvfStore.create]] and [[refit]] — and cache it. With a PQ
    * tier (`pqM > 0`), `pqM` per-subspace codebooks of `pqK` cells are
    * trained on the SAME corpus as the centroids (FAISS train, before any
    * add), frozen for appends: on `raw` (vid, emb), or with `residual` on
    * x − centroid(cell) against THIS generation's coarse centroids (the
    * IndexIVFPQ form — see PqAnn.residualCol; books are tied to their
    * generation's centroids, so the subtraction moves with a refit);
    * `permute` first deals the TRAINING relation's coordinates into
    * variance-balanced subspaces (OPQ-lite — the permutation is computed
    * on what gets encoded: residuals when both flags are on). A crashed
    * predecessor's uncommitted dirs of the same `g` (computed from
    * COMMITTED generations only) are cleared so the retry can't wedge. */
  private def writeGeneration(g: Int, idx: IvfIndex, raw: DataFrame,
      pqM: Int, pqK: Int, residual: Boolean, permute: Boolean,
      iters: Int): IvfStore.Generation = {
    import spark.implicits._
    val tier = if (pqM == 0) None else Some {
      val trainRel =
        if (residual)
          idx.assigned.select(col("vid"),
            PqAnn.residualCol(col("emb"), col("cell"), idx.centroids)
              .as("emb"))
        else raw
      val dims = idx.centroids.head._2.length
      // the tier's variance spectrum is persisted for EVERY PQ generation
      // (permuted or not): permuteAdvisory answers "would the balanced
      // permutation pay here?" from these dims tiny rows, and the
      // permuted path derives its permutation from the SAME sums (one
      // corpus aggregation either way)
      val (sx, sxx, n) = PqAnn.varianceMicroSums(trainRel, "emb")
      require(sx.length == dims,
        s"embeddings have ${sx.length} dims, not $dims")
      val perm =
        if (permute)
          Some(PqAnn.balancedPermutationFromSums(sx, sxx, n, dims, pqM))
        else None
      val book = PqAnn.fit(
        perm.fold(trainRel)(p => trainRel.select(col("vid"),
          PqAnn.applyPerm(col("emb"), p).as("emb"))),
        "vid", "emb", dims, pqM, pqK, iters)
      (IvfStore.PqTier(book, pqK, residual, perm),
        IvfStore.varspecDf(spark, sx, sxx, n))
    }
    val centroidsDf = idx.centroids.map { case (cell, c) => (cell, c.toSeq) }
      .toDF("cell", "c").coalesce(1)
    val dirs = ("centroids" -> centroidsDf) +: tier.toSeq.flatMap {
      case (t, spectrum) => Seq("varspec" -> spectrum,
        "pqbook" -> IvfStore.bookDf(spark, t))
    }
    dirs.foreach { case (name, df) =>
      log.manifests.clearOrphan(genDir(name, g))
      df.write.mode("errorifexists").parquet(genDir(name, g))
    }
    val gen = new IvfStore.Generation(idx.centroids, tier.map(_._1))
    generations.put(g, gen)
    gen
  }

  /** The active dir ids — every write leaves `drift/append=<id>` — in
    * DATA-AGE order: folds first (a compaction `c…` or refit `r…` always
    * holds strictly older data than every surviving append — compaction
    * excludes the then-newest append and [[refit]] supersedes everything,
    * so at most one fold is ever active), then appends by sequence. Plain
    * id sort is wrong once folds enter the mix (`c…`/`r…` sort after all
    * `a…`), and manifest COMMIT order is wrong by one slot (a compaction
    * commits after the append that survives it) — data age is the order
    * the drift trend is defined over. */
  private def driftIds(): Seq[String] =
    activeIds(log.visible(None))
      .sortBy(id => (if (id.startsWith("a")) 1 else 0, id))

  /** Per-active-write cell histograms `(cell, n, append)` — ≤ k tiny
    * rows per committed write, the input of [[refitAdvised]]. After a
    * refit only the refit's own (whole-corpus, new-generation) histogram
    * is active — the drift trend restarts against the fresh baseline. */
  def driftReport(): DataFrame =
    spark.read.option("basePath", s"$path/drift")
      .parquet(driftIds().map(id => s"$path/drift/append=$id"): _*)

  /** The two driver-side drift statistics behind [[refitAdvised]], both
    * L1 distances between cell-SHARE distributions in parts-per-million
    * (Σ_cell |share_a − share_b|, max 2e6), computed over the ≤ k·appends
    * drift rows in DATA-AGE ORDER (per [[driftIds]]: folds first, then
    * appends by sequence — neither lexicographic id order nor manifest
    * commit order is right, since a compaction COMMITS after the append
    * that survives it but its data is OLDER):
    *  - `newestL1Ppm`: the newest committed write vs everything stored
    *    before it — the fast trigger a single anomalous batch trips;
    *  - `cumulativeL1Ppm`: ALL writes since the baseline (the oldest
    *    active histogram: the generation's refit fold, a compaction fold,
    *    or the create), summed, vs that baseline — the slow trigger N
    *    small same-direction drifts trip even when each stays under the
    *    per-append threshold.
    * None until at least one write follows the baseline. */
  def driftAdvisory(): Option[DriftAdvisory] = {
    val ids = driftIds()
    if (ids.size < 2) None
    else {
      val order = ids.zipWithIndex.toMap
      val rows = spark.read.option("basePath", s"$path/drift")
        .parquet(ids.map(id => s"$path/drift/append=$id"): _*)
        .collect()
        .map(r => (r.getAs[String]("append"), r.getAs[Int]("cell"),
          r.getAs[Long]("n")))
      val byAppend = rows.groupBy(_._1).toSeq.sortBy(p => order(p._1))
      def shares(xs: Seq[(String, Int, Long)]): Map[Int, Long] = {
        val total = xs.map(_._3).sum max 1L
        xs.groupBy(_._2).map { case (c, g) =>
          c -> g.map(_._3).sum * 1000000L / total }
      }
      def l1(a: Map[Int, Long], b: Map[Int, Long]): Long =
        (a.keySet ++ b.keySet).toSeq
          .map(c => math.abs(a.getOrElse(c, 0L) - b.getOrElse(c, 0L))).sum
      val newest = byAppend.last._2.toSeq
      val beforeNewest = byAppend.dropRight(1).flatMap(_._2)
      val baseline = byAppend.head._2.toSeq
      val sinceBaseline = byAppend.drop(1).flatMap(_._2)
      Some(DriftAdvisory(
        newestL1Ppm = l1(shares(newest), shares(beforeNewest)),
        cumulativeL1Ppm = l1(shares(sinceBaseline), shares(baseline)),
        writesSinceBaseline = byAppend.size - 1))
    }
  }

  /** TRUE when either drift statistic of [[driftAdvisory]] exceeds
    * `l1ThresholdPpm` — the cheap signal that the frozen centroids no
    * longer describe what is being ingested and a [[refit]] is due. The
    * cumulative arm catches slow drift: N small appends each under the
    * threshold in the same direction still advise once their SUM against
    * the generation baseline crosses it. False until at least one write
    * follows the baseline. */
  def refitAdvised(l1ThresholdPpm: Long = 500000L): Boolean = {
    require(l1ThresholdPpm >= 0, "l1ThresholdPpm >= 0")
    driftAdvisory().exists(a =>
      a.newestL1Ppm > l1ThresholdPpm || a.cumulativeL1Ppm > l1ThresholdPpm)
  }

  /** Per-cell occupancy of the CURRENT generation `(cell, count)`,
    * summed from the drift sidecars — ≤ k·appends tiny driver rows; the
    * assigned relation is never scanned. Cells with no vectors are
    * absent. */
  def cellOccupancy(): Seq[(Int, Long)] =
    driftReport().groupBy("cell").agg(sum(col("n")).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq

  /** The OPERATIONAL answer to "what nprobe do I need now?" — derived
    * from the stored occupancy curve, so the post-refit recall cliff
    * (`SCALE_REFIT`: recall@nprobe=2 fell from 1.0 to ~0.5 once the
    * refit dissolved a hot cell that had been handing two probes half
    * the corpus) is visible from the STORE, not a perf document:
    *  - `imbalanceMicro`: k·Σ shareᵢ² in micro — FAISS's imbalance
    *    factor; 1e6 is perfectly balanced, a hot cell inflates it;
    *  - `expectedMassMicroAt(n)`: expected corpus share scanned by an
    *    nprobe=n query DRAWN FROM THE STORED DISTRIBUTION — the query's
    *    own cell modeled exactly (Σᵢ sᵢ·sᵢ), its other n−1 probes as
    *    average remaining cells (each (1−sᵢ)/(k−1)); exactly n/k at the
    *    balanced limit, and the hot-cell statistic at the other
    *    (a query in a 50%-share cell scans half the corpus at n=1);
    *  - `recommendedNprobe`: smallest n whose expected scanned mass
    *    reaches `targetMassMicro` — a recall PROXY (true recall needs
    *    labeled queries; scanned mass is the monotone store-derivable
    *    stand-in: more candidate mass can only help).
    * Empty cells count toward k (stats.cells): they dilute probes, which
    * is exactly what the operator must know after a collapse-prone fit. */
  def occupancyAdvisory(
      targetMassMicro: Long = 500000L): OccupancyAdvisory = {
    require(targetMassMicro >= 0 && targetMassMicro <= 1000000L,
      "targetMassMicro in [0, 1e6]")
    val occ = cellOccupancy()
    val k = stats.cells
    val total = math.max(1L, occ.map(_._2).sum)
    val shares = occ.map(_._2.toDouble / total)
    def expectedMass(n: Int): Double =
      if (n >= k) 1.0
      else shares.map { s =>
        val others = if (k <= 1) 0.0 else (n - 1) * (1.0 - s) / (k - 1)
        s * math.min(1.0, s + others)
      }.sum
    def micro(x: Double): Long = math.round(x * 1000000L)
    val rec = (1 to k).find(n =>
      micro(expectedMass(n)) >= targetMassMicro).getOrElse(k)
    OccupancyAdvisory(
      generation = genOf(log.visible(None)),
      cells = k,
      vectors = total,
      maxCellShareMicro = micro(shares.maxOption.getOrElse(0.0)),
      imbalanceMicro = micro(k * shares.map(s => s * s).sum),
      recommendedNprobe = rec,
      targetMassMicro = targetMassMicro,
      expectedMassMicroAtRecommended = micro(expectedMass(rec)))
  }

  // ---------------- queries ----------------

  /** One search's driver-side probe, built once and shared by the four
    * search tiers: the manifest snapshot (it pins both the generation's
    * centroids and the relation dirs — consistent across a concurrent
    * refit cut-over), its generation, and per query `(qid, vector,
    * norm, probed cells)`, the cells ranked by [[nearestCellsDriver]]. */
  private final class Probe(val ms: Seq[Manifest],
      val gen: IvfStore.Generation,
      val queries: Seq[(Long, Array[Float], Double, Seq[Int])]) {
    /** One `(qid, qemb, qnrm, probe)` row per probed cell of each query. */
    val rows: Seq[(Long, Seq[Float], Double, Int)] =
      queries.flatMap { case (qid, emb, nrm, cells) =>
        cells.map(c => (qid, emb.toSeq, nrm, c)) }
    /** The distinct probed cells — the candidate scan's literal filter on
      * the PARTITION column (pruning at file listing). */
    val cells: Seq[Int] = rows.map(_._4).distinct
  }

  private def probe(queries: Seq[(Long, Array[Float])], nprobe: Int,
      excludeToken: Option[String], pqUse: Option[String] = None): Probe = {
    val (ms, gen) = snapshot(excludeToken, pqUse)
    new Probe(ms, gen, queries.map { case (qid, emb) =>
      (qid, emb, IvfStore.l2NormDriver(emb),
        nearestCellsDriver(emb.toSeq, nprobe, gen.centroids))
    })
  }

  /** The exact cosine of a stored float row (`emb`, `nrm`) against the
    * query columns — every exact tier and gate scores with this, so a
    * re-ranked pair scores bit-identically to [[search]]. */
  private def cosineTo(qemb: String, qnrm: String): Column =
    (VectorFunctions.dot(col("emb"), col(qemb)) /
      (col("nrm") * col(qnrm))).as("sim")

  /** The candidate join of the float and SQ8 tiers: `rel`'s probed cell
    * partitions against the probe rows (as `query` shapes them), a
    * stored row never matching its own query id (the self-match rule of
    * [[IvfIndex.queryAll]]).
    *
    * Hot-cell note: unlike the gate's relation-vs-relation join
    * ([[saltedCandidates]]), this join BROADCASTS the driver-sized
    * probe rows — there is no shuffle key to skew: the candidate scan
    * stays partitioned by its parquet splits (`maxPartitionBytes`), so a
    * hot cell's rows are already spread across scan tasks and each task
    * joins its split against the broadcast map. No salt needed. */
  private def probedJoin(p: Probe, rel: String,
      query: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    cellRelOf(p.ms, rel)
      .where(col("cell").isin(p.cells: _*))
      .join(broadcast(query(p.rows.toDF("qid", "qemb", "qnrm", "probe"))),
        col("cell") === col("probe") && col("vid") =!= col("qid"))
  }

  private def noHits(score: String): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(Long, Long, Double)].toDF("qid", "vid", score)
  }

  /** Top-k cosine neighbors for caller-supplied `(qid, vector)` queries —
    * the PRIMARY search API (round-10 verdict #2: real queries are
    * usually not already in the index). Probe cells are ranked on the
    * driver with EXACTLY the executor kernel's arithmetic, and the ONLY
    * scan over the stored relation is the nprobe-pruned candidate scan
    * (a literal predicate on the PARTITION column — pruning at file
    * listing, the dq59 class of evidence). Output: (qid, vid, sim),
    * top-k per qid; stored rows sharing a query's id are excluded (the
    * self-match rule of [[IvfIndex.queryAll]]). Stored ids search through
    * [[vectorsOf]]. */
  def search(queries: Seq[(Long, Array[Float])], topK: Int, nprobe: Int,
      excludeToken: Option[String] = None): DataFrame = {
    val p = probe(queries, nprobe, excludeToken)
    if (p.rows.isEmpty) return noHits("sim")
    val scored = probedJoin(p, "assigned", identity)
      .select(col("qid"), col("vid"), cosineTo("qemb", "qnrm"))
    CandidateTopK.topPerQuery(scored, "sim", topK).select("qid", "vid", "sim")
  }

  /** ADVISORY-DRIVEN nprobe (round-14 verdict #6): resolve the probe
    * count from the stored occupancy statistics instead of a caller
    * literal — [[occupancyAdvisory]]'s `recommendedNprobe` at the
    * configured target mass (`spark.graft.ivf.autoTargetMassMicro`,
    * default 500000 = "expect to scan half the corpus mass"). A skewed
    * store resolves FEWER probes (its hot cell already carries the
    * mass), a balanced one more — the operational knob the r13 "raise
    * nprobe after refit" lesson asked to make store-readable: pass
    * `autoNprobe()` as the `nprobe` of any search form. Reads only
    * the ≤ k·appends drift sidecar rows, never the vector relation. */
  def autoNprobe(): Int = {
    val target = IndexConf.strictLong(spark,
      "spark.graft.ivf.autoTargetMassMicro", default = 500000L, min = 0L)
    require(target <= 1000000L,
      s"spark.graft.ivf.autoTargetMassMicro must be <= 1000000, got $target")
    occupancyAdvisory(target).recommendedNprobe
  }

  /** The STORED vectors of `queryIds` as `(vid, vector)` search input —
    * the stored-id form of every search tier: resolved through the
    * `vidmap/` sidecar (home cells first, then a fetch pruned to those
    * cell partitions with `vid IN` pushed to parquet row groups), never a
    * full pass over the vector relation. Ids not stored are absent. */
  def vectorsOf(queryIds: Seq[Long],
      excludeToken: Option[String] = None): Seq[(Long, Array[Float])] =
    lookupPlan(queryIds, excludeToken).collect().toSeq.map { r =>
      (r.getLong(0), r.getSeq[Float](1).toArray)
    }

  /** The stored-id lookup BEFORE its collect — plan-audit hook: the spec
    * asserts its vector-relation scan is pruned to the queries' home
    * cells (and carries the pushed `vid` filter), proving the lookup
    * shares the candidate scan's scale class instead of a full pass. */
  private[graft] def lookupPlan(queryIds: Seq[Long],
      excludeToken: Option[String]): DataFrame = {
    val ms = log.visible(excludeToken)
    val homeCells = cellRelOf(ms, "vidmap")
      .filter(col("vid").isin(queryIds: _*))
      .select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq // ≤ min(#queries, k) rows
    if (homeCells.isEmpty)
      cellRelOf(ms, "assigned").select("vid", "emb", "nrm").limit(0)
    else cellRelOf(ms, "assigned")
      .where(col("cell").isin(homeCells: _*) && col("vid").isin(queryIds: _*))
      .select("vid", "emb", "nrm")
  }

  /** [[search]] on the STORED SQ8 tier: candidates come exclusively from
    * the `packed/` relation (1 B/dim — the candidate scan reads a quarter
    * of the float bytes, on top of the nprobe/cells partition pruning),
    * scored with the codegen'd [[graft.functions.ByteDot]] integer
    * kernel. Query vectors are quantized through the SAME expression the
    * write path used, so ranking is bit-identical to
    * [[IvfPackedIndex.queryAll]] on identical centroids. Output:
    * (qid, vid, score: long), top-k per qid. */
  def searchPacked(queries: Seq[(Long, Array[Float])], topK: Int,
      nprobe: Int, excludeToken: Option[String] = None): DataFrame = {
    import spark.implicits._
    val scale = stats.packedScale
    val p = probe(queries, nprobe, excludeToken)
    if (p.rows.isEmpty)
      return spark.emptyDataset[(Long, Long, Long)]
        .toDF("qid", "vid", "score")
    // quantize the query rows with the WRITE path's expression (same
    // unit-vector + floor(x·s + 0.5) clamp), not a driver reimplementation
    val scored = probedJoin(p, "packed", _.select(col("qid"),
        QuantizedAnn.quantizePacked(
          IvfIndex.unit(col("qemb"), col("qnrm")), scale).as("qpemb"),
        col("probe")))
      .select(col("qid"), col("vid"),
        graft.functions.ByteDot(col("qpemb"), col("pemb")).as("score"))
    CandidateTopK.topPerQuery(scored, "score", topK)
      .select("qid", "vid", "score")
  }

  private val pqSearchUse =
    Some("create(..., pqM = <subspaces>) stores the code relation")

  /** [[search]] on the STORED PQ tier — IVF-PQ from disk: probe cells
    * rank on the driver against the snapshot generation's centroids, the
    * candidate scan reads ONLY probed `pqcodes/` cell partitions (m
    * bytes per vector vs dims·4 — the theoretical 16× in-flight ratio at
    * m=16/dims=64, 4× under the SQ8 tier; AT REST parquet measures
    * 17–26× under the float relation: dq164 Bench evidence and the
    * `SCALE_PQ` probe), and scoring is [[PqAnn.adcTopKProbed]]'s table-lookup
    * ADC against the SAME generation's frozen codebooks. Output:
    * (qid, vid, score: double — approximate inner product), top-k per
    * qid. Refuses a layout created without the tier (pqM = 0). */
  def searchPq(queries: Seq[(Long, Array[Float])], topK: Int,
      nprobe: Int, excludeToken: Option[String] = None): DataFrame =
    pqScores(probe(queries, nprobe, excludeToken, pqSearchUse), topK)

  /** [[searchPq]] over an already-built probe — the shared body, so
    * [[searchPqRerank]]'s two stages read ONE snapshot (a commit landing
    * between them can no longer rerank stage 1's shortlist against a
    * different generation's centroids). */
  private def pqScores(p: Probe, topK: Int): DataFrame = {
    if (p.queries.isEmpty) return noHits("score")
    val t = p.gen.tier.get
    val queries = p.queries.map(q => (q._1, q._2))
    val probes = p.queries.map(q => q._1 -> q._4).toMap
    val rel = cellRelOf(p.ms, "pqcodes")
      .where(col("cell").isin(probes.values.flatten.toSeq.distinct: _*))
    // a residual-tier generation scores q·centroid(cell) + the residual
    // table fold (the codes ARE residual codes — the add-back term is
    // driver-sized, the scan shape identical); a permuted-tier
    // generation builds its subspace tables from permuted queries (the
    // coarse add-back stays in original coordinates)
    if (t.residual)
      PqAnn.adcTopKProbedResidual(rel, t.book, queries, probes,
        p.gen.centroids, topK, t.perm)
    else PqAnn.adcTopKProbed(rel, t.book, queries, probes, topK, t.perm)
  }

  /** TWO-STAGE IVF-PQ search — ADC shortlist, then EXACT re-rank: the
    * production recall-recovery pattern (FAISS's `search` + refine):
    * stage 1 runs [[searchPq]] at `shortlist` ≥ topK (m-byte codes,
    * probed cells only — the cheap wide net); stage 2 re-scores ONLY
    * the shortlisted `(qid, vid)` pairs with the EXACT cosine of the
    * float relation ([[search]]'s arithmetic verbatim, so a re-ranked
    * pair scores bit-identically to the exhaustive probed search) and
    * keeps the true top-k. The float fetch prunes to the queries'
    * probed cell partitions AND pushes `vid IN (shortlist)` into the
    * parquet row groups — it reads candidate rows, never the cells'
    * full mass. Cost: the ADC scan + Q·shortlist exact dot products;
    * recall: exact WITHIN the shortlist (quantization error can no
    * longer reorder the final top-k, only exclude a candidate from the
    * net — widen `shortlist` to close that gap, measured in the dq173
    * Bench evidence; 4·topK is FAISS's refine `k_factor` convention).
    * Output: (qid, vid, sim: cosine), top-k per qid.
    * Works on both raw-vector and residual generations (stage 1
    * routes by the stored flag). BOTH stages read ONE manifest
    * snapshot, resolved here — a commit (append/compact/refit) landing
    * between them cannot split the generations. */
  def searchPqRerank(queries: Seq[(Long, Array[Float])], topK: Int,
      nprobe: Int, shortlist: Int,
      excludeToken: Option[String] = None): DataFrame = {
    import spark.implicits._
    require(shortlist >= topK,
      s"searchPqRerank: shortlist ($shortlist) must be >= topK ($topK)")
    val p = probe(queries, nprobe, excludeToken, pqSearchUse)
    val short = pqScores(p, shortlist)
      .select("qid", "vid").as[(Long, Long)].collect()
    if (short.isEmpty) return noHits("sim")
    // Q·shortlist pairs — driver-sized by contract (queries are a
    // driver-side Seq, shortlist a small constant)
    val pairDf = short.toSeq.toDF("qid", "vid")
    val qDf = p.queries.map { case (qid, emb, nrm, _) =>
      (qid, emb.toSeq, nrm)
    }.toDF("qid", "qemb", "qnrm")
    val reranked = cellRelOf(p.ms, "assigned")
      .where(col("cell").isin(p.cells: _*) &&
        col("vid").isin(short.map(_._2).distinct.toSeq: _*))
      .join(broadcast(pairDf), Seq("vid"))
      .join(broadcast(qDf), Seq("qid"))
      .select(col("qid"), col("vid"), cosineTo("qemb", "qnrm"))
    CandidateTopK.topPerQuery(reranked, "sim", topK)
      .select("qid", "vid", "sim")
  }

  /** The `nprobe` nearest stored cells for one query vector, computed on
    * the driver with EXACTLY the executor kernel's arithmetic (left-to-
    * right double accumulation of squared component deltas; ties to the
    * lower cell id). */
  private def nearestCellsDriver(emb: Seq[Float], nprobe: Int,
      cs: Seq[(Int, Array[Double])]): Seq[Int] = {
    require(emb.length == cs.head._2.length,
      s"query vector has ${emb.length} dims, stored centroids have " +
        s"${cs.head._2.length}")
    cs.map { case (cell, c) =>
      var acc = 0.0
      var i = 0
      while (i < emb.length) {
        val d = emb(i).toDouble - c(i)
        acc += d * d
        i += 1
      }
      (acc, cell)
    }.sortBy(identity).take(nprobe).map(_._2)
  }

  // ---------------- semantic ingest gate ----------------

  /** One gate call's probe side, shared by [[semanticPairs]],
    * [[semanticPairsPq]] and [[gateCandidateCounts]]: the snapshot, its
    * generation, and the batch's map-only probe projection (frozen-
    * centroid kernel) `(__qid, __qemb, __qnrm, __probe)`. */
  private final class GateProbe(val ms: Seq[Manifest],
      val gen: IvfStore.Generation, val probes: DataFrame) {
    /** The batch's DISTINCT probed cells — ≤ k rows by construction. */
    lazy val cells: Seq[Int] =
      probes.select("__probe").distinct().collect().map(_.getInt(0)).toSeq
    lazy val salt: Int = IndexConf.strictInt(spark,
      "spark.graft.ivfstore.cellSalt", default = 8, min = 1)
  }

  /** `pairs` over the gate's probed cells; an empty batch (the streaming
    * loop's schema probe) gets an empty result in the contract shape,
    * id-typed from the batch itself. */
  private def pairsOr(gp: GateProbe)(pairs: => DataFrame): DataFrame =
    if (gp.cells.isEmpty)
      gp.probes.select(col("__qid").as("qid"),
        col("__qid").cast("long").as("vid"), lit(0.0).as("sim"))
    else pairs

  /** The gate's candidate space over `rel`'s probed cells under the
    * HOT-CELL SKEW GUARD (round-11 verdict #1): the stored side is
    * bucketed by `pmod(hash(vid), cellSalt)` and each probe row
    * replicated once per salt bucket, so the in-cell join's shuffle key
    * is (cell, salt) and a skewed cell — one dominant topic cluster, the
    * common case in real embedding corpora — spreads across `cellSalt`
    * tasks instead of funneling `|stored∩cell| × |probes∩cell|` work
    * through one (the `hotDigestCap`/`maxBucket` treatment applied to the
    * embedding modality). RESULT-IDENTICAL to the unsalted join by
    * construction: every (stored, probe) pair matches exactly the one
    * probe replica whose salt equals the stored row's.
    * `spark.graft.ivfstore.cellSalt` defaults to 8; 1 restores the
    * unsalted plan. The probe side (`probed`, the probe rows with any
    * query-side columns added) is the replicated side — it is the daily
    * batch (× nprobe × cellSalt rows), never the corpus. */
  private def saltedCandidates(gp: GateProbe, rel: String,
      probed: DataFrame): DataFrame =
    cellRelOf(gp.ms, rel)
      .where(col("cell").isin(gp.cells: _*))
      .withColumn("__vsalt", pmod(hash(col("vid")), lit(gp.salt)))
      .join(probed.withColumn("__qsalt",
          explode(array((0 until gp.salt).map(i => lit(i)): _*))),
        col("cell") === col("__probe") && col("__vsalt") === col("__qsalt"))

  private def gateProbe(batch: DataFrame, idCol: String, embCol: String,
      nprobe: Int, excludeToken: Option[String],
      pqUse: Option[String] = None): GateProbe = {
    val (ms, gen) = snapshot(excludeToken, pqUse)
    new GateProbe(ms, gen,
      batch.select(col(idCol).as("__qid"), col(embCol).as("__qemb"),
          VectorFunctions.l2Norm(col(embCol)).as("__qnrm"),
          IvfIndex.probeCells(col(embCol), gen.centroids, nprobe, spark)
            .as("__probes"))
        .select(col("__qid"), col("__qemb"), col("__qnrm"),
          explode(col("__probes")).as("__probe")))
  }

  /** `(qid, vid, sim)` for every incoming embedding whose cosine against
    * some STORED vector in its `nprobe` probed cells exceeds `tau` — the
    * semantic near-duplicate evidence the gate acts on. Map-only probe
    * (frozen-centroid kernel), then the batch's DISTINCT probed cells
    * (≤ k, driver-sized) become a literal partition filter on the stored
    * relation: the join touches only probed cell partitions. */
  def semanticPairs(batch: DataFrame, idCol: String, embCol: String,
      tau: Double, nprobe: Int,
      excludeToken: Option[String] = None): DataFrame = {
    val gp = gateProbe(batch, idCol, embCol, nprobe, excludeToken)
    CacheScope.withCached(gp.probes)(pairsPlan(gp, tau))
  }

  /** The gate's UN-materialized plan — plan-audit hook (the
    * [[NearDupIndex.pairsPlanFor]] precedent): the production wrapper
    * collapses its result with a call-scoped checkpoint before a spec
    * could walk it for the probed-cells-only scan property. */
  private[graft] def gatePlanFor(batch: DataFrame, idCol: String,
      embCol: String, tau: Double, nprobe: Int): DataFrame =
    pairsPlan(gateProbe(batch, idCol, embCol, nprobe, None), tau)

  private def pairsPlan(gp: GateProbe, tau: Double): DataFrame =
    pairsOr(gp)(saltedCandidates(gp, "assigned", gp.probes)
      .select(col("__qid").as("qid"), col("vid"),
        cosineTo("__qemb", "__qnrm"))
      .filter(col("sim") > tau))

  /** Per-(cell, salt) candidate counts of the gate join — the skew-guard
    * evidence surface (the hot-cell spec and Bench's
    * `dq122_max_cell_candidates`): with a hot cell holding F stored rows
    * and P probe rows aimed at it, no single task's group exceeds
    * ~F/cellSalt × P instead of F × P. */
  def gateCandidateCounts(batch: DataFrame, idCol: String, embCol: String,
      nprobe: Int, excludeToken: Option[String] = None): DataFrame = {
    import spark.implicits._
    val gp = gateProbe(batch, idCol, embCol, nprobe, excludeToken)
    if (gp.cells.isEmpty)
      spark.emptyDataset[(Int, Int, Long)].toDF("cell", "salt", "candidates")
    else saltedCandidates(gp, "assigned", gp.probes)
      .groupBy(col("cell"), col("__vsalt").as("salt"))
      .agg(count(lit(1)).as("candidates"))
  }

  /** [[semanticPairs]] THROUGH THE PQ TIER (r15 verdict #5 — the
    * float-relation gate re-reads dims·4 bytes per stored vector in
    * every probed cell; with the residual+rerank tier proven, the
    * gate's WIDE NET can read the m-byte code relation instead and
    * refine exactly):
    *  - stage 1 joins the batch's probe rows against the probed
    *    `pqcodes/` cell partitions (same hot-cell salt as the float
    *    gate) and scores each candidate with the DISTRIBUTED ADC kernel
    *    ([[PqAnn.adcDotCol]] — the batch is an arbitrary-size frame, so
    *    the driver literal tables of the search path cannot exist;
    *    residual generations add the `q·centroid(cell)` term, permuted
    *    generations permute the query side), keeping the top
    *    `shortlist` candidates per batch row (bounded heap);
    *  - stage 2 re-scores ONLY the shortlisted pairs with the EXACT
    *    cosine of the float relation (probed-cell pruning + `vid IN`
    *    row-group pushdown — the [[searchPqRerank]] fetch shape) and
    *    emits pairs above `tau`.
    * A pair the net misses is a pair the gate misses (the FAISS recall
    * trade — widen `shortlist` to close it); at a shortlist covering
    * every probed candidate the result is BIT-IDENTICAL to
    * [[semanticPairs]] (spec-gated). The shortlisted candidate ids are
    * collected for the pushdown — batch·shortlist driver longs, the
    * micro-batch gate contract (the same driver-size class as
    * [[searchPqRerank]]'s shortlist; a corpus-sized "batch" belongs in
    * front of the float gate, not here). */
  def semanticPairsPq(batch: DataFrame, idCol: String, embCol: String,
      tau: Double, nprobe: Int, shortlist: Int,
      excludeToken: Option[String] = None): DataFrame = {
    require(shortlist >= 1, "shortlist must be >= 1")
    val gp = gateProbe(batch, idCol, embCol, nprobe, excludeToken,
      Some("the PQ-tier gate needs the code relation"))
    CacheScope.withCached(gp.probes)(
      pairsOr(gp)(pqPairs(gp, tau, shortlist)))
  }

  private def pqPairs(gp: GateProbe, tau: Double,
      shortlist: Int): DataFrame = {
    val t = gp.gen.tier.get
    // stage 1: the m-byte wide net over probed code partitions
    val qp = t.perm.fold(col("__qemb"))(p =>
      PqAnn.applyPerm(col("__qemb"), p))
    val adc = PqAnn.adcDotCol(col("__qp"), col("codes"), t.book, spark)
    val est =
      if (t.residual) {
        val cLit = typedlit(
          gp.gen.centroids.map { case (id, c) => id -> c.toSeq }.toMap)
        VectorFunctions.dot(col("__qemb"),
          element_at(cLit, col("cell"))) + adc
      } else adc
    // NO self-id exclusion — the SEARCH path excludes qid==vid (a
    // query shouldn't return itself), but the GATE's contract is the
    // float gate's: a stored row with the batch row's own id IS
    // duplicate evidence (that's how a replayed id drops through its
    // own append)
    val scored = saltedCandidates(gp, "pqcodes",
        gp.probes.withColumn("__qp", qp))
      .select(col("__qid").as("qid"), col("vid"), est.as("est"))
    val short = graft.plans.GraftPlans.topKPerKey(scored,
      Seq(col("qid")), Seq(col("est").desc, col("vid").asc), shortlist)
      .select("qid", "vid").localCheckpoint(true)
    // stage 2: exact cosine over ONLY the shortlisted float rows.
    // The driver-size contract is ENFORCED, not just documented
    // (r16 verdict #1): the inline `vid IN` pushdown collects
    // batch·shortlist ids to the driver — fine for the micro-batch
    // gate, a multi-million-literal plan for a corpus-sized batch —
    // so over the cap the fetch degrades to a LEFT-SEMI join on vid
    // (same probed-cell partition pruning, trades only the
    // row-group pushdown; survivors are bit-identical, spec-gated).
    val maxIds = IndexConf.strictLong(spark,
      "spark.graft.ivfstore.maxShortlistIds", default = 1000000L,
      min = 1L)
    val distinctVids = short.select("vid").distinct()
    val nIds = distinctVids.count()
    val floatsBase = cellRelOf(gp.ms, "assigned")
      .where(col("cell").isin(gp.cells: _*))
    val floats = (if (nIds <= maxIds) {
      lastShortlistFetchPath = Some((nIds, "inline"))
      val shortIds = distinctVids.collect().map(_.getLong(0)).toSeq
      floatsBase.where(col("vid").isin(shortIds: _*))
    } else {
      System.err.println(s"[graft] PQ-gate shortlist has $nIds " +
        "distinct ids > spark.graft.ivfstore.maxShortlistIds=" +
        s"$maxIds - degrading the exact-refine fetch to a vid " +
        "semi-join (cell pruning kept, row-group pushdown traded)")
      lastShortlistFetchPath = Some((nIds, "semi-join"))
      floatsBase.join(distinctVids, Seq("vid"), "left_semi")
    }).select(col("vid"), col("emb"), col("nrm"))
    val qRows = gp.probes
      .select(col("__qid"), col("__qemb"), col("__qnrm"))
      .dropDuplicates("__qid")
    short.join(floats, Seq("vid"))
      .join(qRows, col("qid") === col("__qid"))
      .select(col("qid"), col("vid"), cosineTo("__qemb", "__qnrm"))
      .filter(col("sim") > tau)
  }

  /** The gate's keep: the `batch` rows no `pairs` row names. The join
    * key is a reserved name: the batch may itself carry a 'qid' column
    * (the NearDupIndex.keepUnseen 'doc_inc' precedent). */
  private def keepUnpaired(batch: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val dup = pairs.select(col("qid").as("__gate_qid")).distinct()
    batch.join(dup, batch(idCol) === col("__gate_qid"), "left_anti")
  }

  /** [[semanticKeepUnseen]] with [[semanticPairsPq]]'s two-stage
    * evidence — the same keep rule over the cheaper net. */
  def semanticKeepUnseenPq(batch: DataFrame, idCol: String, embCol: String,
      tau: Double, nprobe: Int, shortlist: Int,
      excludeToken: Option[String] = None): DataFrame =
    keepUnpaired(batch, idCol, semanticPairsPq(batch, idCol, embCol, tau,
      nprobe, shortlist, excludeToken))

  /** Keep only incoming embeddings that semantically duplicate NO stored
    * vector (max probed-cell cosine ≤ `tau`) — the embedding-modality
    * ingest gate, SemDeDup's rule against a persisted corpus. */
  def semanticKeepUnseen(batch: DataFrame, idCol: String, embCol: String,
      tau: Double, nprobe: Int,
      excludeToken: Option[String] = None): DataFrame =
    keepUnpaired(batch, idCol,
      semanticPairs(batch, idCol, embCol, tau, nprobe, excludeToken))

  // ---------------- IngestIndex ----------------

  def gate(batch: DataFrame, idCol: String, textCol: String,
      excludeToken: Option[String]): IngestIndex.Gated = {
    val st = stats
    IngestIndex.ofRows(path, semanticKeepUnseen(batch, idCol, textCol,
      st.gateTau, st.gateNprobe, excludeToken), idCol, textCol)
  }

  /** [[gate]] on the PQ tier ([[semanticKeepUnseenPq]]). */
  def gatePq(batch: DataFrame, idCol: String, embCol: String, tau: Double,
      nprobe: Int, shortlist: Int,
      excludeToken: Option[String]): IngestIndex.Gated =
    IngestIndex.ofRows(path, semanticKeepUnseenPq(batch, idCol, embCol, tau,
      nprobe, shortlist, excludeToken = excludeToken), idCol, embCol)

  def append(gated: IngestIndex.Gated, token: Option[String]): Unit = {
    gated.requireFrom(path)
    write(gated.features, gated.idCol, gated.textCol, token)
    ()
  }
}

object IvfStore extends StoreProbe {

  /** One generation's PQ tier, as its book dir stores it: the books
    * ([[PqAnn.Codebook]]); `k0`, the k they were TRAINED with
    * (surviving cells per subspace can be fewer, so it is not
    * recoverable from the book itself — a [[IvfStore.refit]] retrains at
    * the same k); `residual`, whether they were trained on RESIDUALS
    * `x − centroid(cell)` against the generation's coarse centroids (the
    * FAISS IndexIVFPQ form, `create(..., pqResidual = true)`); and
    * `perm`, the OPQ-lite coordinate permutation
    * ([[PqAnn.balancedPermutation]], `create(..., pqPermute = true)`) —
    * the books were trained on PERMUTED vectors (or permuted residuals),
    * so encode and the query-side ADC tables must see the same
    * permutation; None is the identity. All four are generation-keyed (a
    * refit recomputes them from the new training relation). */
  private[ext] final case class PqTier(book: PqAnn.Codebook, k0: Int,
      residual: Boolean, perm: Option[Array[Int]])

  /** One centroid generation: its centroids and, read on first use, its
    * optional PQ tier. Immutable once committed, so a store instance
    * caches it per generation number. */
  private[ext] final class Generation(
      val centroids: Seq[(Int, Array[Double])],
      tierOf: => Option[PqTier]) {
    lazy val tier: Option[PqTier] = tierOf
  }

  /** Train on `df` ([[IvfIndex.fit]] — oracle-exact Lloyd's), then write
    * the layout at `path` (must be fresh): centroids, the first assigned
    * append (+ vidmap sidecar), one commit carrying the stats.
    * `gateTau`/`gateNprobe` parameterize the [[IngestIndex]] semantic gate
    * and are pinned in the commits' stats. `pqM > 0` adds the PQ tier
    * (`pqK` cells per subspace; `pqResidual`, `pqPermute`: see
    * [[PqTier]]). */
  def create(df: DataFrame, idCol: String, embCol: String, path: String,
      k: Int, iters: Int = 2, gateTau: Double = 0.5,
      gateNprobe: Int = 2, packedScale: Int = 127,
      seedToken: Option[String] = None,
      pqM: Int = 0, pqK: Int = 16, pqResidual: Boolean = false,
      pqPermute: Boolean = false): IvfStore = {
    require(gateTau > 0.0 && gateTau < 1.0, "gateTau in (0, 1)")
    require(gateNprobe >= 1, "gateNprobe >= 1")
    require(packedScale >= 1 && packedScale <= 127, "packedScale in [1, 127]")
    require(pqM >= 0, "pqM >= 0 (0 = no PQ tier)")
    require(!pqResidual || pqM > 0,
      "pqResidual needs the PQ tier (pqM > 0)")
    require(!pqPermute || pqM > 0,
      "pqPermute needs the PQ tier (pqM > 0)")
    val spark = df.sparkSession
    val idx = IvfIndex.fit(df, idCol, embCol, k, iters)
    try {
      val store = new IvfStore(spark, path)
      store.log.locked(store.log.append(seedToken, fresh = true) { (id, _) =>
        // nothing is committed, so any generation dir here is a crashed
        // predecessor's orphan — the writer clears it so the rerun can't
        // wedge
        val gen = store.writeGeneration(1, idx,
          df.select(col(idCol).as("vid"), col(embCol).as("emb")),
          pqM, pqK, pqResidual, pqPermute, iters)
        // the fit already computed the assignment; persist ITS rows rather
        // than re-assigning (bit-identical either way — same centroids)
        val n = store.writeAssigned(
          idx.assigned.select("vid", "emb", "nrm", "cell"), id,
          packedScale, gen)
        StoreLog.kvOf(IvfStoreStats(idx.centroids.size,
          idx.centroids.head._2.length, n, gateTau, gateNprobe, packedScale))
      })
      store
    } finally idx.release()
  }

  /** Open a stored index: the current generation's centroids are re-read
    * driver-side (k rows) to fail fast on a missing/foreign layout. */
  def open(spark: SparkSession, path: String): IvfStore = {
    val store = StoreLog.open(new IvfStore(spark, path))
    store.centroids
    store
  }

  /** ‖v‖₂ with the executor kernel's exact arithmetic — [[VectorFunctions.l2Norm]]
    * is sqrt of the left-to-right double dot fold; this is that fold on
    * the driver, so caller-supplied query norms are bit-identical to
    * stored ones. */
  private[ext] def l2NormDriver(emb: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < emb.length) {
      val x = emb(i).toDouble
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }

  /** The PQ codebooks as their stored relation: `(j, cell, c, k0,
    * residual, perm)` — m·(surviving k) driver-sized rows, with the
    * trained k pinned so a refit retrains at the create's parameter, and
    * the tier's residual flag and permutation on every row. */
  private def bookDf(spark: SparkSession, t: PqTier): DataFrame = {
    import spark.implicits._
    t.book.sub.zipWithIndex.flatMap { case (cs, j) =>
      cs.map { case (cell, c) =>
        (j, cell, c.toSeq, t.k0, t.residual, t.perm.map(_.toSeq)) }
    }.toDF("j", "cell", "c", "k0", "residual", "perm").coalesce(1)
  }

  /** The per-generation variance spectrum as its stored relation:
    * `(d, sx, sxx, n)` — dims tiny rows of exact micro-integer moment
    * sums ([[PqAnn.varianceMicroSums]]), [[IvfStore.permuteAdvisory]]'s
    * only input. */
  private[ext] def varspecDf(spark: SparkSession, sx: Seq[Long],
      sxx: Seq[Long], n: Long): DataFrame = {
    import spark.implicits._
    sx.indices.map(d => (d, sx(d), sxx(d), n))
      .toDF("d", "sx", "sxx", "n").coalesce(1)
  }
}
