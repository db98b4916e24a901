package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained bigram language-model fluency scoring — the
  * perplexity-family quality filter (CCNet, Wenzek et al. 2020, scores
  * documents with a KenLM n-gram model; DSIR-style selection uses the same
  * n-gram statistics): train bigram counts on the corpus itself, then
  * score each document by the MEAN conditional probability of its bigrams,
  * P(w₂|w₁) = c(w₁w₂) / c(w₁·). Low mean = improbable token transitions =
  * disfluent/garbled text; high mean = text shaped like the corpus.
  *
  * Bit-portability (the dq86 rule, taken one step further): `log`
  * perplexity is not bit-portable across libm, and float probability sums
  * reassociate — so each bigram's probability is floored into integer
  * micro-units with pure INTEGER arithmetic, `(1e6 · c₁₂) div c₁` (exact
  * in any engine; no doubles anywhere), and the per-document sum of longs
  * is associative, so the whole score is reproducible under any
  * partial-aggregation plan. Long-safety: 10⁶·c₁₂ overflows only past
  * ~9·10¹² occurrences of one bigram.
  *
  * Shape at 100 TB: two corpus-sized shuffles and nothing else —
  * (1) (bigram) occurrences aggregate into the model with map-side
  * partials (the model relation is vocabulary²-bounded, far smaller than
  * the corpus); its prefix totals are a second aggregation OVER THE MODEL
  * (model-sized, not corpus-sized); (2) per-document bigram occurrences
  * equi-join the model on the bigram key — document bodies never shuffle,
  * only (doc_id, bigram) pairs do — and aggregate per doc_id. At real
  * scale the model for a fixed vocabulary broadcasts instead; Spark's AQE
  * makes that call at runtime from the model's actual size.
  */
object NgramLm {

  /** Per-document fluency report: (idCol, n_bigrams, sum_micro,
    * mean_micro) where mean_micro = Σ floor(1e6·P(w₂|w₁)) div n_bigrams.
    * Documents with fewer than 2 tokens score 0 over 0 bigrams.
    */
  def fluencyReport(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    scoreAgainst(docs, docs, idCol, textCol)

  /** [[fluencyReport]] generalized to a model trained on a DIFFERENT
    * corpus — the cross-domain scoring primitive behind DSIR-style data
    * selection (Xie et al. 2023: select raw documents whose n-gram
    * statistics look like the target domain's): score `docs` under the
    * bigram model of `modelDocs`. Bigrams absent from the model
    * contribute 0 micro-units (they still count in `n_bigrams`, so
    * out-of-domain transitions drag the mean down — exactly the signal).
    * When `modelDocs` eq `docs` every bigram is in-model and this is
    * [[fluencyReport]].
    */
  /** One row per bigram occurrence of `textCol`, carrying `cols` through:
    * `(cols..., __bg)` — the shared derivation of the per-call paths and
    * the persisted model ([[NgramLmStore]]), so counts can never drift. */
  private[ext] def bigramsOf(df: DataFrame, textCol: String,
      cols: Column*): DataFrame =
    withBigrams(df.select(cols :+ col(textCol): _*), textCol)
      .select(cols :+ explode(col("__bgs")).as("__bg"): _*)

  /** `df` plus `__bgs`: each document's bigrams ("w1 w2") in text order
    * — the one bigram derivation ([[bigramsOf]] explodes it; a store gate
    * caches it on the batch rows, so its survivors keep their bigrams). */
  private[ext] def withBigrams(df: DataFrame, textCol: String): DataFrame = {
    val grams = when(size(col("__toks")) >= 2,
      transform(sequence(lit(0), size(col("__toks")) - 2),
        i => concat_ws(" ", element_at(col("__toks"), i + 1),
          element_at(col("__toks"), i + 2))))
      .otherwise(array())
    df.withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .withColumn("__bgs", grams)
      .drop("__toks")
  }

  def scoreAgainst(docs: DataFrame, modelDocs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def bigramsOf(df: DataFrame, cols: Column*): DataFrame =
      NgramLm.bigramsOf(df, textCol, cols: _*)
    val bg = bigramsOf(docs, col(idCol))

    // the bigram frame feeds BOTH the model aggregation (same-corpus case)
    // and the scoring join — cache it for the call so the tokenizer and
    // explode run once (the MinHashLSH pattern)
    CacheScope.withCached(bg) {
      // the model: bigram counts, then prefix totals aggregated FROM the model
      val modelBg =
        if (modelDocs eq docs) bg.select(col("__bg")) else bigramsOf(modelDocs)
      val model = modelBg.groupBy("__bg").agg(count(lit(1)).as("__c12"))
      val withPrefix = model.withColumn("__w1", split(col("__bg"), " ").getItem(0))
      val prefix = withPrefix.groupBy("__w1").agg(sum(col("__c12")).as("__c1"))
      val scoredModel = withPrefix.join(prefix, "__w1")
        .select(col("__bg"), expr("(1000000 * __c12) div __c1").as("__micro"))

      val perDoc = bg.join(scoredModel, Seq("__bg"), "left_outer")
        .groupBy(idCol)
        .agg(count(lit(1)).as("n_bigrams"),
          sum(coalesce(col("__micro"), lit(0L))).as("sum_micro"))

      // short documents (< 2 tokens) have no bigram rows — restore them as 0s
      docs.select(col(idCol)).join(perDoc, Seq(idCol), "left_outer")
        .select(col(idCol),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("sum_micro"), lit(0L)).as("sum_micro"),
          coalesce(expr("sum_micro div n_bigrams"), lit(0L)).as("mean_micro"))
    }
  }
}
