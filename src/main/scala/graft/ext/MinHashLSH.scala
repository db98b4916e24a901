package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** Stage-separated wall times from [[MinHashLSH.stageTimings]]. */
final case class MinHashStageTimings(
    shingleSec: Double, candSec: Double, verifySec: Double,
    candidates: Long, pairs: Long)

/** MinHash + LSH near-duplicate detection (EXT, SURVEY §2.10 U3).
  *
  * Pipeline: token 3-gram shingles → per-shingle hash pair → integer minhash
  * signature → banded bucket keys → candidate pairs generated per bucket
  * (capped) → exact Jaccard verification on the candidates only.
  *
  * Scale design (the reason this beats brute force at 100 TB):
  *  - ONE md5 digest per shingle; the `numHashes` minhash functions are
  *    derived from its two 32-bit halves by integer double hashing
  *    g_i(x) = (h1(x) + i·h2(x)) mod (2^31−1)  (Kirsch–Mitzenmacher
  *    construction) — so signature cost is one digest + numHashes
  *    multiply-adds per shingle, not numHashes digests
  *  - signatures are tiny (numHashes longs) regardless of document size
  *  - candidates come from grouping on (band, bucketKey): per-bucket id
  *    lists, pair expansion bounded by `maxBucket` (oversized buckets are
  *    degenerate — a stopword-like shingle profile — and are dropped, the
  *    standard LSH guard against candidate blowup on high-background-
  *    similarity corpora); near-dup candidates are a vanishing fraction of
  *    the N² pair space
  *  - exact Jaccard runs only on candidates, joining the shingle-set table
  *    by id twice, so full documents never ride through the pair shuffle
  *  - every expression is a Catalyst higher-order function (codegen, no UDFs)
  *
  * The per-shingle hash is md5 of the shingle text and the derivation is pure
  * 64-bit integer arithmetic, so any engine (the DuckDB oracle included)
  * reproduces signatures bit-for-bit.
  */
object MinHashLSH {

  /** 2^31 − 1 (Mersenne prime) — the double-hashing modulus. h1 + i·h2 stays
    * far below 2^63 for any sane numHashes, so the arithmetic never wraps.
    */
  val Prime: Long = 2147483647L

  /** Distinct token 3-gram shingles of a text column.
    * (Spark's `sequence(1, 0)` counts DOWN — guard short docs explicitly.)
    * The tokens are bound once ([[evalOnce]]): written out, the tokenizer
    * would run again at each of its uses, three per shingle.
    */
  def shingles(text: Column): Column =
    evalOnce(TextAnalysis.tokens(text)) { toks =>
      when(size(toks) < 3, array().cast("array<string>")).otherwise(
        array_distinct(transform(
          sequence(lit(1), size(toks) - 2),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))))
    }

  /** `f(c)` with `c` evaluated once per row: `f` sees a lambda variable
    * bound to `c`'s value. An expression used more than once within one
    * column is evaluated at every use (inside a lambda, at every use in
    * every iteration); separate projections cannot help there. */
  private def evalOnce(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Sorted distinct shingle digests — the persistable per-document
    * verification payload ([[NearDupIndex]]): Jaccard over digest sets
    * equals Jaccard over the shingle sets they hash, signatures derive from
    * the digests' 32-bit halves ([[hashPairsFromDigests]]), and md5 is
    * engine-reproducible, so a stored digest relation replaces the text for
    * every downstream stage. Only the first 16 hex chars are kept — exactly
    * the (h1, h2) halves the signature arithmetic reads — halving the
    * stored payload vs the full digest (64 collision bits; the digest IS
    * the defined dedup identity on both engines).
    */
  def shingleDigests(text: Column): Column =
    sort_array(transform(shingles(text), x => substring(md5(x), 1, 16)))

  /** Per-shingle hash pair: the two 32-bit halves of one md5 digest, as
    * longs. The caller materializes this in its own projection so the digest
    * is computed once per shingle (CollapseProject keeps multi-referenced
    * non-trivial aliases in place).
    */
  def hashPairs(shingleSet: Column): Column =
    hashPairsFromDigests(transform(shingleSet, x => md5(x)))

  /** [[hashPairs]] over an already-digested shingle set ([[shingleDigests]])
    * — no second md5 pass; the digest IS the hash source.
    */
  def hashPairsFromDigests(digests: Column): Column =
    transform(digests, d =>
      struct(
        conv(substring(d, 1, 8), 16, 10).cast(LongType).as("h1"),
        conv(substring(d, 9, 8), 16, 10).cast(LongType).as("h2")))

  /** MinHash signature over a [[hashPairs]] column: element i is
    * min over shingles of (h1 + i·h2) mod Prime. One element expression
    * per i, so `hp` is referenced `numHashes` times and CollapseProject
    * keeps its projection in place: inlined into a lambda over i, the
    * digest parsing behind `hp` would run once per hash function.
    */
  def signatureFrom(hp: Column, numHashes: Int): Column =
    array((0 until numHashes).map(i =>
      array_min(transform(hp, h =>
        (h.getField("h1") + lit(i) * h.getField("h2")) % Prime))): _*)

  /** Convenience single-expression signature (recomputes the digest per
    * minhash function — use [[hashPairs]] + [[signatureFrom]] with a
    * materialized hash-pair column on hot paths).
    */
  def signature(shingleSet: Column, numHashes: Int): Column =
    signatureFrom(hashPairs(shingleSet), numHashes)

  /** Jaccard over two distinct-element arrays.
    * |A∪B| = |A|+|B|−|A∩B|: one intersect instead of intersect+union —
    * halves the dominant per-pair set-op cost on verification joins.
    */
  def jaccard(a: Column, b: Column): Column = {
    val i = size(array_intersect(a, b)).cast("double")
    i / (size(a) + size(b) - i)
  }

  /** Jaccard for ASC-SORTED distinct-element arrays: zero-allocation
    * two-pointer merge ([[graft.functions.SortedIntersectSize]]) instead of a
    * per-pair hash set — the form to use on large verification joins, with
    * `sort_array` applied once on the build side.
    */
  def jaccardSorted(a: Column, b: Column): Column = {
    val i = graft.functions.SortedIntersectSize(a, b).cast("double")
    i / (size(a) + size(b) - i)
  }

  /** [[jaccardSorted]] on the driver, over two collected ASC-sorted
    * string arrays: the same [[graft.functions.SortedIntersectSize]]
    * count and the same `i / (|a| + |b| - i)` in doubles. */
  private[ext] def jaccardSortedOf(a: ArrayData, b: ArrayData): Double = {
    val i = sortedIntersect.nullSafeEval(a, b).asInstanceOf[Int].toDouble
    i / (a.numElements() + b.numElements() - i)
  }

  private lazy val sortedIntersect = {
    val strings = BoundReference(0, ArrayType(StringType), nullable = true)
    graft.functions.SortedIntersectSize(strings, strings)
  }

  /** LSH candidate pairs only (no Jaccard verification) — exposed for
    * tuning/diagnostics: candidate volume ≈ Σ_buckets C(size, 2) over
    * buckets of size ≤ maxBucket, the knob that controls cost on
    * high-background-similarity corpora.
    */
  def candidatePairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, maxBucket: Int = 100): DataFrame = {
    val projected = shingleFrame(df, idCol, textCol)
    CacheScope.withCached(projected) {
      bandCandidates(projected.filter(size(col("sh")) > 0), numHashes, bands, maxBucket)
    }
  }

  /** Un-materialized candidate plan (no call-scoped cache/checkpoint) —
    * exposed so plan audits can assert the join-free candidate shape.
    */
  private[graft] def candidatePlanFor(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, maxBucket: Int = 100): DataFrame =
    bandCandidates(shingleFrame(df, idCol, textCol).filter(size(col("sh")) > 0),
      numHashes, bands, maxBucket)

  /** Per-bucket population histogram — diagnostics for the `maxBucket` cap:
    * (band, bucketKey, size). Bench records max size and the count of
    * dropped (over-cap) buckets as evidence that candidate generation is not
    * blowing up.
    */
  def bucketStats(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val projected = shingleFrame(df, idCol, textCol)
    bandedKeys(projected.filter(size(col("sh")) > 0), numHashes, bands)
      .groupBy(col("b"), col("bkey"))
      .agg(count(lit(1)).as("bucket_size"))
  }

  /** Per-stage wall times for the near-dup pipeline — bench evidence, not a
    * query surface (VERDICT r4: dq19's driver-bench time moved 79% between
    * rounds on a plan-identical diff; this turns "the wall number moved"
    * into "WHICH stage moved"). Each stage is materialized at a cache
    * boundary so its cost is separable:
    *  - `shingleSec`: tokenize + per-shingle md5 sort into the call cache
    *  - `candSec`: signatures + banding + bucket grouping + pair expansion
    *    (signatures derive from the CACHED shingles, so this is pure
    *    integer/banding work)
    *  - `verifySec`: the two shingle-set joins + sorted-intersect Jaccard
    * The fused production plan ([[nearDupPairs]]) shares the same cache
    * boundary, so shingleSec+candSec+verifySec ≈ its wall.
    */
  def stageTimings(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, threshold: Double = 0.8,
      maxBucket: Int = 100): MinHashStageTimings = {
    def timed[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f; ((System.nanoTime() - t0) / 1e9, a)
    }
    val projected = shingleFrame(df, idCol, textCol).persist()
    try {
      val (tSh, _) = timed(projected.count())
      val sh = projected.filter(size(col("sh")) > 0)
      val cand = bandCandidates(sh, numHashes, bands, maxBucket).persist()
      try {
        val (tCand, nCand) = timed(cand.count())
        val x = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        val y = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        val verified = cand.join(x, "doc_a").join(y, "doc_b")
          .select(col("doc_a"), col("doc_b"),
            jaccardSorted(col("sh_a"), col("sh_b")).as("jac"))
          .filter(col("jac") > threshold)
        val (tVer, nPairs) = timed(verified.count())
        MinHashStageTimings(tSh, tCand, tVer, nCand, nPairs)
      } finally { cand.unpersist(blocking = false); () }
    } finally { projected.unpersist(blocking = false); () }
  }

  /** Near-duplicate pairs (idA < idB, Jaccard > threshold).
    *
    * The shingle-set frame is cached only for the duration of the call
    * (consumed by the signature branch and both sides of the verification
    * join) and released before returning — see [[CacheScope]].
    *
    * @param numHashes signature length (bands * rowsPerBand)
    * @param bands     LSH bands; rowsPerBand = numHashes / bands
    * @param maxBucket drop LSH buckets holding more members than this —
    *                  bounded candidate expansion (see class doc)
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.8,
      maxBucket: Int = 100
  ): DataFrame = {
    val projected = shingleFrame(df, idCol, textCol)
    CacheScope.withCached(projected) {
      val sh = projected.filter(size(col("sh")) > 0)
      val cand = bandCandidates(sh, numHashes, bands, maxBucket)
      // exact verification: join the (small) candidate list back to shingle sets
      val x = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      val y = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
      cand.join(x, "doc_a").join(y, "doc_b")
        .select(col("doc_a"), col("doc_b"), jaccardSorted(col("sh_a"), col("sh_b")).as("jac"))
        .filter(col("jac") > threshold)
    }
  }

  /** The PERSISTABLE history index for incremental near-dup detection:
    * the banded signature relation `(doc_id, b, bkey)` — one row per
    * document per band, the same relation [[nearDupPairs]] buckets on. At
    * 100 TB this is what an ingest loop stores with the corpus and appends
    * each accepted batch to; it is tiny relative to the corpus (bands
    * integer-string keys per doc, no text, no shingles).
    */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    // cache boundary BELOW the empty-shingle filter (the shingleFrame
    // rule): filtering the lazy projection directly lets Catalyst push
    // size(shingles(text)) > 0 under the repartition exchange, where it
    // recomputes every document's shingles on the unsplit input partition
    // — single-core. The scope also materializes the result, which is what
    // an index-build API should hand back.
    val projected = shingleFrame(df, idCol, textCol)
    CacheScope.withCached(projected) {
      bandedKeys(projected.filter(size(col("sh")) > 0), numHashes, bands)
    }
  }

  /** Batch-vs-HISTORY near-dup pairs — the incremental complement of
    * [[nearDupPairs]] (which is batch-internal): `(doc_inc, doc_hist,
    * jac)` for every incoming document whose Jaccard against some history
    * document exceeds `threshold`.
    *
    * Scale shape, mirroring [[Dedup.keepUnseen]]'s Bloom split:
    *  1. the history side is its [[bandIndex]] relation with degenerate
    *     buckets (> `maxBucket` members — stopword-profile shingles)
    *     dropped AT THE INDEX, so no join can expand on them;
    *  2. a Bloom filter over the history's distinct band keys is broadcast
    *     and splits the incoming band keys — keys provably absent from
    *     history (no false negatives) never enter the candidate join;
    *  3. surviving keys equi-join the index → candidate (inc, hist) id
    *     pairs; exact Jaccard verification touches only those candidates.
    * History documents are shingled once per call here (cached in-scope);
    * a production loop would read the persisted index instead and shingle
    * only the candidate history rows. `expectedBandKeys` sizes the Bloom
    * filter from layout statistics (the [[Dedup.keepUnseen]] lesson:
    * overestimating costs filter bits, underestimating costs join traffic,
    * never correctness); absent, the distinct keys are counted off the
    * call-scoped cache.
    */
  def nearDupPairsVsHistory(incoming: DataFrame, history: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8, maxBucket: Int = 100, fpp: Double = 0.01,
      expectedBandKeys: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cache the UNFILTERED projections (the shingleFrame rule — see
    // [[bandIndex]]): an empty-shingle filter inside the cached plan gets
    // pushed under the repartition exchange and recomputes every shingle
    // single-core on the unsplit input (measured 16.8s → 3.1s at sf0.1)
    val histProj = shingleFrame(history, idCol, textCol)
    val incProj = shingleFrame(incoming, idCol, textCol)
    CacheScope.withCached(histProj, incProj) {
      val histSh = histProj.filter(size(col("sh")) > 0)
      val incSh = incProj.filter(size(col("sh")) > 0)
      val histIdx = bandedKeys(histSh, numHashes, bands)
        .withColumn("__c", count(lit(1)).over(Window.partitionBy("b", "bkey")))
        .filter(col("__c") <= maxBucket)
        .drop("__c")
      CacheScope.withCached(histIdx) {
        val keyStr = concat_ws("|", col("b"), col("bkey"))
        val histKeys = histIdx.select(keyStr.as("__k")).distinct()
        val filter = BloomPrune.buildFilter(histKeys, "__k",
          math.max(1L, expectedBandKeys.getOrElse(histKeys.count())), fpp)
        val (maybeSeen, _) = BloomPrune.split(
          bandedKeys(incSh, numHashes, bands).withColumn("__k", keyStr), "__k", filter)
        val cand = maybeSeen
          .join(histIdx.select(col("doc_id").as("__hist_id"), col("b"), col("bkey")),
            Seq("b", "bkey"))
          .select(col("doc_id").as("doc_inc"), col("__hist_id").as("doc_hist"))
          .distinct()
        val x = incSh.select(col("doc_id").as("doc_inc"), col("sh").as("sh_a"))
        val y = histSh.select(col("doc_id").as("doc_hist"), col("sh").as("sh_b"))
        cand.join(x, "doc_inc").join(y, "doc_hist")
          .select(col("doc_inc"), col("doc_hist"),
            jaccardSorted(col("sh_a"), col("sh_b")).as("jac"))
          .filter(col("jac") > threshold)
      }
    }
  }

  /** Incremental NEAR-dup ingest gate: keep only incoming rows that are
    * not a near-duplicate of any HISTORY document — the companion of
    * [[Dedup.keepUnseen]] (exact fingerprints) for the "daily batch vs
    * 100 TB corpus" loop. The anti-join's right side is the (small)
    * verified-pair id set, so incoming bodies never ride a shuffle beyond
    * their one shingle pass.
    */
  def keepUnseenNear(incoming: DataFrame, history: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8, maxBucket: Int = 100, fpp: Double = 0.01,
      expectedBandKeys: Option[Long] = None): DataFrame = {
    val dup = nearDupPairsVsHistory(incoming, history, idCol, textCol,
      numHashes, bands, threshold, maxBucket, fpp, expectedBandKeys)
      .select(col("doc_inc")).distinct()
    incoming.join(dup, incoming(idCol) === col("doc_inc"), "left_anti")
  }

  /** (doc_id, sorted shingle set) — the cache-worthy intermediate.
    * Fans the heavy per-row work (tokenize + md5 per shingle) across all
    * cores even when the input is a single unsplittable row group.
    * The empty-shingle filter goes ABOVE the persist boundary: filtering
    * the projection directly lets Catalyst substitute the full shingle
    * expression into the filter and push it below the exchange, where it
    * recomputes every doc's shingles on the unsplit input partition.
    */
  private def shingleFrame(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), sort_array(shingles(col("__text"))).as("sh"))

  /** (doc_id, band index b, bucket key) — one row per document per band.
    * The bucket key is the band's signature slice rendered as a '|'-joined
    * string of longs: no second digest, and byte-identical in any engine.
    */
  private def bandedKeys(sh: DataFrame, numHashes: Int, bands: Int): DataFrame =
    bandExplode(
      sh.select(col("doc_id"), hashPairs(col("sh")).as("__hp"))
        .select(col("doc_id"), signatureFrom(col("__hp"), numHashes).as("mh")),
      numHashes, bands)

  /** [[bandedKeys]] over a `(doc_id, ds)` digest frame ([[shingleDigests]])
    * — the [[NearDupIndex]] ingest path, where the shingle text no longer
    * exists. Signatures are order-independent mins, so digest-derived bands
    * are bit-identical to shingle-derived ones.
    */
  private[ext] def bandedKeysFromDigests(ds: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    bandRows(withBandArrays(ds, "ds", numHashes, bands, "bands"))

  /** `df` with column `out`: the band keys of its digest column `dsCol`
    * as one array of `(b, bkey)` structs — [[bandedKeysFromDigests]]'s
    * rows before the explode ([[bandRows]]), the shape a gate caches and
    * collects. */
  private[ext] def withBandArrays(df: DataFrame, dsCol: String,
      numHashes: Int, bands: Int, out: String): DataFrame =
    df.withColumn("__hp", hashPairsFromDigests(col(dsCol)))
      .withColumn("__mh", signatureFrom(col("__hp"), numHashes))
      .withColumn(out, bandStructs(col("__mh"), numHashes, bands))
      .drop("__hp", "__mh")

  /** `(doc_id, b, bkey)`, one row per band of a `(doc_id, bands)` frame
    * ([[withBandArrays]]). */
  private[ext] def bandRows(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(col("bands")).as("band"))
      .select(col("doc_id"), col("band.b"), col("band.bkey"))

  private def bandExplode(sig: DataFrame, numHashes: Int, bands: Int): DataFrame =
    bandRows(sig.select(col("doc_id"),
      bandStructs(col("mh"), numHashes, bands).as("bands")))

  /** The `(b, bkey)` struct of every band of signature `mh`: one struct
    * expression per band, so the signature projection is not inlined and
    * recomputed per band (see [[signatureFrom]]). */
  private def bandStructs(mh: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    array((0 until bands).map(b =>
      struct(lit(b).as("b"),
        concat_ws("|", transform(slice(mh, b * rows + 1, rows),
          v => v.cast("string"))).as("bkey"))): _*)
  }

  /** Candidate pairs from per-bucket id lists: one shuffle (the groupBy on
    * the bucket key), pair expansion inline and bounded by `maxBucket`, then
    * a distinct across bands. Replaces the banded self-join — same result,
    * one less shuffled side, and a structural cap on expansion.
    */
  private def bandCandidates(sh: DataFrame, numHashes: Int, bands: Int,
      maxBucket: Int): DataFrame =
    Pairs.explodeSortedIdPairs(
      bandedKeys(sh, numHashes, bands)
        .groupBy(col("b"), col("bkey"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")).between(2, maxBucket)),
      "ids")
      .distinct()
}
