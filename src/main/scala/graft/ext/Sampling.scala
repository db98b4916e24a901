package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `df.sample()` is seed-deterministic only for a FIXED partitioning — a
  * repartition, AQE re-plan, or input split change reshuffles which rows the
  * per-partition RNG visits. Corpus curation needs the opposite: membership
  * decided by the ROW (its key), so the same document is in or out of the
  * sample regardless of layout, cluster width, or engine. That's what
  * hash-gate sampling gives: keep iff `xxhash64(key, seed) mod M < f·M`.
  * It is also how you carve stable train/validation/test splits (disjoint
  * gates over the same hash).
  */
object Sampling {

  private val M = 1000000L // gate resolution: fractions to 1e-6

  private def gate(keyCol: Column, seed: Long): Column =
    pmod(xxhash64(keyCol, lit(seed)), lit(M))

  /** Keep ~`fraction` of rows, membership a pure function of the key. */
  def byKeyHash(df: DataFrame, keyCol: String, fraction: Double,
      seed: Long = 42L): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    df.filter(gate(col(keyCol), seed) < lit((fraction * M).toLong))
  }

  /** Stratified keep-fractions per value of `strataCol`, same hash-gate
    * determinism per key. Strata missing from `fractions` are dropped
    * (mirrors `DataFrameStatFunctions.sampleBy`).
    */
  def stratifiedByKeyHash(df: DataFrame, strataCol: String, keyCol: String,
      fractions: Map[String, Double], seed: Long = 42L): DataFrame =
    df.filter(gate(col(keyCol), seed) < strataBound(strataCol, fractions))

  // per-stratum gate bound: the single place the fraction → gate-threshold
  // arithmetic lives, shared by the xxhash64 and portable-md5 variants
  private def strataBound(strataCol: String,
      fractions: Map[String, Double]): Column = {
    require(fractions.values.forall(f => f >= 0 && f <= 1),
      "fractions must be in [0,1]")
    fractions.foldLeft(lit(-1L)) { case (acc, (stratum, f)) =>
      when(col(strataCol) === lit(stratum), lit((f * M).toLong)).otherwise(acc)
    }
  }

  /** Disjoint train/validation/test split by hash range — every key lands
    * in exactly one split, stable across runs, layouts, and engines.
    * Returns (train, validation, test).
    */
  def split(df: DataFrame, keyCol: String, trainFrac: Double, valFrac: Double,
      seed: Long = 42L): (DataFrame, DataFrame, DataFrame) = {
    require(trainFrac + valFrac <= 1, "train + validation must be <= 1")
    val g = gate(col(keyCol), seed)
    val t = (trainFrac * M).toLong
    val v = ((trainFrac + valFrac) * M).toLong
    (df.filter(g < t), df.filter(g >= t && g < v), df.filter(g >= v))
  }

  /** CROSS-ENGINE portable gate: md5-derived instead of xxhash64, so any
    * engine (the DuckDB oracle, a Python curation script, ...) reproduces
    * membership bit-for-bit: first 8 hex chars of md5("key:seed") as an
    * integer, mod the gate resolution. Costlier per row than xxhash64 —
    * use when the split must be re-derivable OUTSIDE Spark; the semantics
    * are identical.
    */
  def gatePortable(keyCol: Column, seed: Long): Column =
    pmod(conv(substring(
      md5(concat(keyCol.cast("string"), lit(":" + seed))), 1, 8), 16, 10)
      .cast("long"), lit(M))

  /** [[stratifiedByKeyHash]] with the CROSS-ENGINE portable gate — the
    * source-mixing primitive: down-weight overrepresented sources (or
    * up-weight rare ones toward a target mixture) with membership that any
    * engine re-derives bit-for-bit. Strata missing from `fractions` are
    * dropped.
    */
  def stratifiedPortable(df: DataFrame, strataCol: String, keyCol: String,
      fractions: Map[String, Double], seed: Long = 42L): DataFrame =
    df.filter(gatePortable(col(keyCol), seed) < strataBound(strataCol, fractions))

  /** Split label ('train' / 'validation' / 'test') from the portable gate —
    * the labeled-column form of [[split]] for engine-portable lineage.
    */
  def splitLabelPortable(keyCol: Column, trainFrac: Double, valFrac: Double,
      seed: Long = 42L): Column = {
    require(trainFrac + valFrac <= 1, "train + validation must be <= 1")
    val g = gatePortable(keyCol, seed)
    when(g < lit((trainFrac * M).toLong), "train")
      .when(g < lit(((trainFrac + valFrac) * M).toLong), "validation")
      .otherwise("test")
  }

  /** Deterministic, engine-portable EPOCH SHUFFLE key: ordering training
    * data by `md5("<epoch>:<id>")` gives every epoch an independent,
    * reproducible permutation that any engine (and any later audit)
    * re-derives from the id alone — no stateful RNG, no layout
    * dependence. Sorting by the key is a range-partitioned global sort at
    * scale; epoch-to-epoch the permutation decorrelates because the hash
    * input changes, which is what per-epoch reshuffling is for.
    */
  def epochShuffleKey(idCol: Column, epoch: Int): Column =
    md5(concat_ws(":", lit(epoch), idCol))

  /** TEMPERATURE-scaled source mixture (the GPT-3 / Pile mixing rule —
    * Brown et al. 2020 §2.2, Gao et al. 2020 §2): source `s` with `n_s`
    * documents receives mixture weight `n_s^0.5`, flattening the corpus
    * mixture toward rare sources (alpha = 1 would be proportional; the
    * canonical flattening exponent 0.5 is FIXED here because `sqrt` is
    * the one power IEEE 754 requires correctly rounded, which is what
    * makes the derived rates engine-portable — an arbitrary `pow` is
    * not). A target of `targetDocs` total documents implies per-source
    * acceptance `min(1, targetDocs · p_s / n_s)` with
    * `p_s = w_s / Σ w_t`, applied via [[gatePortable]].
    *
    * 100 TB shape: ONE per-source count aggregate collected to the
    * driver (strata-sized — #sources rows, the dq68/token-budget
    * precedent), rates derived there, then ONE scan with a literal CASE
    * gate; document bodies never shuffle.
    *
    * Exactness contract (the oracle re-derives membership bit-for-bit):
    * weight `w_s = floor(sqrt(n_s) · 1e6)` as a Long — sqrt and the one
    * double multiply are correctly rounded, so both engines produce the
    * SAME integer; the normalizer `Σ w_t` is an exact integer sum
    * (order-free); the per-source micro-rate
    * `min(1e6, floor(targetDocs · w_s · 1e6 / (Σw · n_s)))` is BigInt on
    * this side, HUGEINT on the oracle side — everything downstream of
    * the sqrt is integer arithmetic.
    */
  def temperatureMixPortable(df: DataFrame, strataCol: String, idCol: String,
      targetDocs: Long, seed: Long = 42L): DataFrame =
    temperatureGate(df, strataCol, idCol,
      temperatureRatesMicro(strataCounts(df, strataCol), targetDocs), seed)

  /** Per-stratum document counts, collected — driver-sized by
    * construction (one row per source), with the STRING/NULL strata
    * checks shared by every mixing form (a NULL stratum would add its
    * sqrt(n) weight to the normalizer while the literal CASE gate
    * silently dropped its rows). */
  private[graft] def strataCounts(df: DataFrame,
      strataCol: String): Seq[(String, Long)] = {
    require(df.schema(strataCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"temperatureMix: strata column '$strataCol' must be STRING, got " +
        df.schema(strataCol).dataType.simpleString)
    val counts = df.groupBy(strataCol).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    require(counts.forall(_._1 != null),
      s"temperatureMix: strata column '$strataCol' contains NULL — every " +
        "document needs a source (filter or fill upstream)")
    counts
  }

  /** The RATE DERIVATION of [[temperatureMixPortable]] from counts
    * alone — extracted so the stored form ([[graft.plan.CurationConfig]]'s
    * `mix_gate` over a [[StrataCountStore]], whose counts are
    * corpus-to-date rather than frame-local) shares the exact integer
    * chain and can never drift from the per-call operator. */
  private[graft] def temperatureRatesMicro(counts: Seq[(String, Long)],
      targetDocs: Long): Seq[(String, Long)] = {
    require(targetDocs >= 0, "targetDocs must be >= 0")
    val wts = counts.map { case (s, n) =>
      (s, n, BigInt(math.floor(math.sqrt(n.toDouble) * 1e6).toLong))
    }
    val wsum = wts.map(_._3).sum
    wts.map { case (s, n, w) =>
      val r = (BigInt(targetDocs) * w * M) / (wsum * BigInt(n))
      (s, r.min(BigInt(M)).toLong)
    }
  }

  /** The membership gate of [[temperatureMixPortable]]: literal CASE
    * rates + the engine-portable md5 gate. Strata absent from `rates`
    * drop (rate −1). */
  private[graft] def temperatureGate(df: DataFrame, strataCol: String,
      idCol: String, rates: Seq[(String, Long)], seed: Long): DataFrame =
    df.filter(gatePortable(col(idCol), seed) <
      rates.foldLeft(lit(-1L)) { case (acc, (s, m)) =>
        when(col(strataCol) === lit(s), lit(m)).otherwise(acc)
      })

  /** CLUSTER-BALANCED subsampling: at most `perCell` representatives per
    * trained-IVF cell, ranked by the engine-portable md5 gate — the
    * "cluster, then cap per cluster" diversity-preserving subsample of
    * corpus curation (a uniform hash gate keeps the corpus's topic skew;
    * capping per embedding-space cell flattens it). Deterministic end to
    * end: the cells come from [[IvfIndex.fit]]'s seeded Lloyd's, the
    * within-cell order from `(md5(id), id)` — both engine-reproducible,
    * so the oracle re-derives the exact member set.
    *
    * Scale shape: cell assignment is map-only (broadcast centroid
    * matrix); ranking runs through the bounded-heap
    * [[graft.plans.TopKPerKeyExec]], so the exchange moves
    * O(cells · perCell) rows — never the corpus.
    */
  def clusterBalanced(df: DataFrame, idCol: String, embCol: String,
      index: IvfIndex, perCell: Int): DataFrame = {
    require(perCell > 0, "perCell must be positive")
    val assigned = index.withCell(
      df.select(col(idCol), col(embCol).as("__emb")), "__emb")
    graft.plans.GraftPlans.topKPerKey(assigned, Seq(col("cell")),
      Seq(md5(col(idCol).cast("string")).asc, col(idCol).asc), perCell)
      .select(col("cell"), col(idCol))
  }

  /** TOKEN-BUDGET mixture: per stratum, keep documents in the portable
    * hash order (`md5("<id>:<seed>")`, then id) until the running token
    * total reaches the stratum's budget — "give me N tokens of source X",
    * the unit data mixes are actually specified in (a document-count
    * fraction over-/under-shoots when sources have different document
    * lengths). A document is kept iff the running total INCLUDING it fits
    * the budget; strata missing from `budgets` are dropped.
    *
    * Scale shape — the naive formulation is a running sum over each
    * stratum's ENTIRE hash order: one window partition per stratum, i.e.
    * a single reducer walking terabytes. This implementation is the exact
    * two-phase form: the hash order is pre-split into 256 hash-prefix
    * buckets, per-(stratum, bucket) token sums (a tiny aggregate) are
    * prefix-summed on the DRIVER to locate each stratum's CUTOFF bucket,
    * whole buckets before it are kept outright, buckets after it are
    * dropped, and the exact running sum runs only INSIDE the cutoff
    * bucket — ~1/256 of the stratum, with the budget already reduced by
    * the kept-bucket mass. Bit-identical to the naive window by
    * construction (same order, same cumulative arithmetic); the oracle
    * replays the naive form.
    */
  def tokenBudgetPortable(df: DataFrame, strataCol: String, idCol: String,
      textCol: String, budgets: Map[String, Long],
      seed: Long = 42L): DataFrame = {
    require(budgets.values.forall(_ >= 0), "budgets must be >= 0")
    // the temperatureMix rule: fail naming the column, not with a
    // ClassCastException from the driver-side cutoff fold (NULL strata
    // are fine here — they miss the budget table and drop, the declared
    // unlisted-stratum semantics)
    require(df.schema(strataCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"tokenBudget: strata column '$strataCol' must be STRING, got " +
        df.schema(strataCol).dataType.simpleString)
    val keyed = df
      .withColumn("__ok",
        md5(concat(col(idCol).cast("string"), lit(":" + seed))))
      .withColumn("__bk",
        conv(substring(col("__ok"), 1, 2), 16, 10).cast("int"))
      .withColumn("__nt",
        TextAnalysis.tokenCount(col(textCol)).cast("long"))
      .filter(col(strataCol).isin(budgets.keys.toSeq: _*))
    CacheScope.withCached(keyed) {
      // phase 1: per-(stratum, bucket) token mass — strata×256 rows
      val bucketSums = keyed.groupBy(strataCol, "__bk")
        .agg(sum(col("__nt")).as("__bt"))
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      // driver prefix-sum per stratum: cutoff bucket + tokens kept before it
      val cut: Map[String, (Int, Long)] = bucketSums.groupBy(_._1).map {
        case (stratum, rows) =>
          val budget = budgets(stratum)
          var acc = 0L
          var cutoff = 256 // past the last bucket: whole stratum fits
          var base = 0L
          rows.sortBy(_._2).foreach { case (_, bk, bt) =>
            if (cutoff == 256) {
              if (acc + bt > budget) { cutoff = bk; base = acc }
              else acc += bt
            }
          }
          stratum -> (cutoff, base)
      }
      val cutoffCol = budgets.keys.foldLeft(lit(-1)) { (acc, s) =>
        when(col(strataCol) === lit(s), lit(cut.get(s).fold(256)(_._1)))
          .otherwise(acc)
      }
      val remainingCol = budgets.keys.foldLeft(lit(-1L)) { (acc, s) =>
        when(col(strataCol) === lit(s),
          lit(budgets(s) - cut.get(s).fold(0L)(_._2))).otherwise(acc)
      }
      val whole = keyed.filter(col("__bk") < cutoffCol)
      // phase 2: the exact running sum, cutoff bucket only (~1/256)
      val byOrder = org.apache.spark.sql.expressions.Window
        .partitionBy(strataCol).orderBy(col("__ok"), col(idCol))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val edge = keyed.filter(col("__bk") === cutoffCol)
        .withColumn("__cum", sum(col("__nt")).over(byOrder))
        .filter(col("__cum") <= remainingCol)
        .drop("__cum")
      whole.unionByName(edge).drop("__ok", "__bk", "__nt")
    }
  }

  /** FRACTIONAL-EPOCH repetition — the data-mixing repeat factor (a
    * source weighted 2.3 epochs appears twice, plus a stable 30% sample a
    * third time): each row yields `floor(factor)` full epochs, and epoch
    * `floor(factor)+1` keeps the rows whose portable gate falls under the
    * fractional remainder — the same key-determined membership as every
    * gate here, so the partial epoch is identical across runs, layouts,
    * and engines. Output: input columns + `epoch` (1-based); pair with
    * [[epochShuffleKey]] to order each epoch independently.
    */
  def repeatEpochsPortable(df: DataFrame, idCol: String, factor: Double,
      seed: Long = 42L): DataFrame = {
    require(factor > 0, "factor must be positive")
    val full = math.floor(factor).toLong
    val frac = factor - full
    val epochs = df.withColumn("epoch",
      explode(sequence(lit(1L), lit(full + 1))))
    // round, not truncate: 2.3 - 2.0 is 0.2999…98 in binary, and the gate
    // threshold must be the 300000 the caller meant (and the oracle writes)
    epochs.filter(col("epoch") <= full ||
      gatePortable(col(idCol), seed) < lit(math.round(frac * M)))
  }

  /** Per-STRATUM repetition factors — the "epochs per dataset" table of
    * the LLaMA recipe (each source repeats a different number of times
    * in one training run): stratum `s` with factor `f_s` contributes
    * `floor(f_s)` full epochs of every row plus a stable hash-gated
    * partial epoch at rate `round((f_s − floor(f_s)) · 1e6)` — the
    * [[repeatEpochsPortable]] rule applied per stratum. Strata missing
    * from `factors` are dropped (the `sampleBy` convention shared with
    * [[stratifiedByKeyHash]]). One explode + one gate on literal CASE
    * columns: engine-portable membership, no shuffle, and the `epoch`
    * column keeps the copies explicit for a downstream pack/shuffle.
    */
  def repeatEpochsByStrata(df: DataFrame, strataCol: String, idCol: String,
      factors: Map[String, Double], seed: Long = 42L): DataFrame = {
    require(factors.nonEmpty && factors.values.forall(_ > 0),
      "factors must be a non-empty map of positive doubles")
    val fullCol = factors.foldLeft(lit(-1L)) { case (acc, (s, f)) =>
      when(col(strataCol) === lit(s), lit(math.floor(f).toLong))
        .otherwise(acc)
    }
    val fracMicroCol = factors.foldLeft(lit(0L)) { case (acc, (s, f)) =>
      when(col(strataCol) === lit(s),
        lit(math.round((f - math.floor(f)) * M))).otherwise(acc)
    }
    df.withColumn("__full", fullCol).withColumn("__frm", fracMicroCol)
      .filter(col("__full") >= 0L) // unlisted strata drop
      .withColumn("epoch", explode(sequence(lit(1L), col("__full") + 1L)))
      .filter(col("epoch") <= col("__full") ||
        gatePortable(col(idCol), seed) < col("__frm"))
      .drop("__full", "__frm")
  }
}
