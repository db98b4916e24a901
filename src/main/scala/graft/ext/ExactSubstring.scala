package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact substring deduplication (the ExactSubstr family of Lee et al.
  * 2022, "Deduplicating Training Data Makes Language Models Better"):
  * find every maximal token span whose k-token windows all occur MORE THAN
  * ONCE in the corpus — the verbatim boilerplate/lifted-passage mass that
  * similarity detectors ([[MinHashLSH]], [[SimHash]], [[Winnow]]) rank but
  * never localize. Lee et al. build a corpus suffix array; the
  * Spark-native equivalent of its "duplicated substring of length ≥ k"
  * query is window fingerprinting:
  *
  *   1. tokenize (whitespace; positions are 1-based token indices),
  *   2. digest every k-token window (md5 of the space-joined window — the
  *      repo's portable exact-dedup gate, identical in DuckDB, so the
  *      oracle re-derives every digest bit-for-bit),
  *   3. count digests corpus-wide; a window is DUPLICATED iff its digest
  *      occurs ≥ 2 times (across documents or within one — Lee et al.
  *      remove both),
  *   4. per document, merge overlapping/adjacent duplicated windows into
  *      maximal spans (gaps-and-islands over window start positions: a
  *      window starting at p extends a span whose previous window started
  *      at q iff p ≤ q + k, i.e. their token ranges overlap or touch).
  *
  * A span's tokens are exactly the tokens covered by SOME duplicated
  * window — the "every length-k substring of it is duplicated" region
  * whose removal Lee et al. 6.1 prescribes (removing the span, not the
  * document, is the point: the unique remainder survives).
  *
  * Scale shape (100 TB): document BODIES never shuffle — step 2 projects
  * each window to (digest, doc_id, pos) before any exchange, so the
  * shuffled width is ~50 B/window regardless of text size; step 3 is a
  * partial-aggregated count on the digest; step 4 shuffles only the
  * surviving duplicated window positions. The one body-sized exchange is
  * the final span-content join back to the tokenized documents, keyed by
  * `idCol` — co-locatable with a bucketed documents table
  * ([[graft.io.Bucketing]]), and it moves only span-BEARING documents
  * (the semi-joined minority).
  */
object ExactSubstring {

  /** The ONE corpus tokenization of this family: (idCol, __toks).
    * Repartitioned BEFORE the split so the projection (and its call-scoped
    * cache build) fans out past single-row-group parquet inputs — the
    * [[MinHashLSH]] shingle-frame rule (PERF round-1 finding #4). Every
    * public operator caches this frame for its call and derives windows,
    * span content, and removal accounting from it — the corpus is split
    * exactly once per call.
    */
  private[ext] def tokenize(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol), tokensOf(col(textCol)).as("__toks"))

  /** `df`'s rows, fanned out like [[tokenize]], with each document's
    * k-window digests in window order as `__dgs` — the row-carrying form
    * a store gate caches, so its survivors keep their digests. */
  private[ext] def withWindowDigests(df: DataFrame, textCol: String,
      k: Int): DataFrame =
    fanOut(df).withColumn("__toks", tokensOf(col(textCol)))
      .withColumn("__dgs", windowDigests(col("__toks"), k))
      .drop("__toks")

  private def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  private def tokensOf(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Every k-token window's content digest, in window order (md5 of the
    * space-joined window) — the one window derivation. Pass a projected
    * token column: the window lambda reads it once per window. */
  private def windowDigests(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        p => md5(concat_ws(" ", slice(toks, p, lit(k))))))
      .otherwise(array().cast("array<string>"))

  /** (idCol, pos, dg): every k-token window's position and content digest
    * — the only corpus-wide-shuffled shape of this family. */
  private[ext] def windowDigestsOf(toks: DataFrame, idCol: String,
      k: Int): DataFrame =
    toks.select(col(idCol),
        posexplode(windowDigests(col("__toks"), k)).as(Seq("__p", "dg")))
      .select(col(idCol), (col("__p") + 1).cast("long").as("pos"), col("dg"))

  /** Duplicated-digest occurrence threshold above which a digest is
    * routed through the BROADCAST side of the starts join (strict-parsed
    * conf `spark.graft.exsub.hotDigestCap`, default 10000). A window this
    * frequent is corpus boilerplate; hash-joining its positions would put
    * every occurrence in one shuffle partition — the degenerate-bucket
    * skew [[MinHashLSH]] caps with `maxBucket`. The hot SET is tiny by
    * pigeonhole (≤ duplicated windows / cap), so broadcasting it flags
    * those positions map-side; only bounded-multiplicity (≤ cap) digests
    * reach the shuffled semi-join. Result-invariant: duplicated means
    * count ≥ 2 on both routes.
    */
  private def hotDigestCap(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.exsub.hotDigestCap")
      .map { v =>
        val n = try v.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.exsub.hotDigestCap must be a positive long, got '$v'")
        }
        require(n >= 2, s"spark.graft.exsub.hotDigestCap must be >= 2, got $n")
        n
      }.getOrElse(10000L)

  /** [[duplicatedSpans]] body over an (ideally cached) token frame. The
    * window digests are NOT separately cached: re-deriving them from the
    * cached tokens is a map-side md5 pass, cheaper than materializing a
    * window-sized block store relation (measured: caching `wins` cost
    * ~2x wall at SCALE_EXSUB 50k). */
  private def spansOf(toks: DataFrame, idCol: String, k: Int): DataFrame =
    spansPlan(toks, windowDigestsOf(toks, idCol, k), idCol, k)

  /** The caller-managed-frame plan-audit hooks ([[NearDupIndex.pairsPlanFor]]
    * precedent): the UN-materialized spans plan over an explicit token /
    * window frame, so specs can persist the inputs and assert the
    * single-tokenization and broadcast-split shapes structurally — the
    * production wrappers collapse their result with a call-scoped
    * checkpoint before a test could walk it. */
  private[graft] def tokenizeFor(df: DataFrame, idCol: String,
      textCol: String): DataFrame = tokenize(df, idCol, textCol)

  private[graft] def spansPlanOver(toks: DataFrame, idCol: String,
      k: Int): DataFrame =
    spansPlan(toks, windowDigestsOf(toks, idCol, k), idCol, k)

  private def spansPlan(toks: DataFrame, wins: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    val cap = hotDigestCap(toks)
    locally {
      // corpus-wide duplicated digests (partial-aggregated count; the
      // overwhelmingly-unique tail combines map-side to count 1 and drops)
      val dupCounts = wins.groupBy("dg").agg(count(lit(1)).as("__n"))
        .where(col("__n") > 1)
      val hot = dupCounts.where(col("__n") > cap).select("dg")
      val warm = dupCounts.where(col("__n") <= cap).select("dg")

      // duplicated window starts — boilerplate digests flagged map-side
      // via broadcast, the bounded rest shuffled — merged into maximal
      // spans per document
      val starts = wins.join(broadcast(hot), Seq("dg"), "left_semi")
        .unionByName(wins.join(warm, Seq("dg"), "left_semi"))
        .select(col(idCol), col("pos"))
      val spans = starts
        .withColumn("__brk",
          when(lag(col("pos"), 1).over(byDoc).isNull
            || col("pos") > lag(col("pos"), 1).over(byDoc) + k, 1).otherwise(0))
        .withColumn("__isl", sum(col("__brk")).over(
          byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col(idCol), col("__isl"))
        .agg(min(col("pos")).as("span_start"),
          (max(col("pos")) + (k - 1)).as("__span_end"))

      // content digest of each span — the join back to token arrays, keyed
      // by idCol (bucket documents on idCol to make this exchange-free)
      spans.join(toks, idCol)
        .select(col(idCol), col("span_start"),
          (col("__span_end") - col("span_start") + 1).cast("long").as("n_tokens"),
          md5(concat_ws(" ", slice(col("__toks"), col("span_start").cast("int"),
            (col("__span_end") - col("span_start") + 1).cast("int")))).as("span_md5"))
    }
  }

  /** Maximal duplicated spans per document:
    * (idCol, span_start, n_tokens, span_md5) — 1-based token positions,
    * `span_md5` the digest of the space-joined span content (content
    * identity, oracle-checkable). Documents with < k tokens, and spans
    * none of whose windows repeat, yield no rows.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "need k >= 2 (k=1 would flag every repeated token)")
    val toks = tokenize(df, idCol, textCol)
    CacheScope.withCached(toks)(spansOf(toks, idCol, k))
  }

  /** The CLEANED corpus — [[duplicatedSpans]] applied: every duplicated
    * span's tokens deleted, the remainder re-joined with single spaces
    * (the Lee et al. 6.1 deliverable: remove the span, keep the unique
    * remainder, never drop whole documents). Per document:
    * (idCol, kept_tokens, removed_tokens, clean_md5) — the md5 of the
    * cleaned text is the byte-level contract the oracle re-derives.
    *
    * Span deletion is per-document LOCAL work: spans arrive as one
    * doc-keyed array (same join key as the span-content digest), and the
    * token drop is an indexed `filter` HOF over the already-held token
    * array — no token-level shuffle.
    */
  def removeSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "need k >= 2 (k=1 would flag every repeated token)")
    val toks = tokenize(df, idCol, textCol)
    CacheScope.withCached(toks) {
      val spans = spansOf(toks, idCol, k)
        .groupBy(idCol)
        .agg(collect_list(struct(col("span_start"), col("n_tokens"))).as("__spans"))
      val covered = (i: org.apache.spark.sql.Column) =>
        exists(col("__spans"), s =>
          i + 1 >= s.getField("span_start") &&
            i + 1 < s.getField("span_start") + s.getField("n_tokens"))
      toks.join(spans, Seq(idCol), "left_outer")
        .select(col(idCol), col("__toks"),
          when(col("__spans").isNull, col("__toks"))
            .otherwise(filter(col("__toks"), (_, i) => !covered(i)))
            .as("__kept"))
        .select(col(idCol),
          size(col("__kept")).cast("long").as("kept_tokens"),
          (size(col("__toks")) - size(col("__kept"))).cast("long")
            .as("removed_tokens"),
          md5(concat_ws(" ", col("__kept"))).as("clean_md5"))
    }
  }

  /** INCREMENTAL exact-substring gate — the batch-vs-history form of this
    * modality (the [[Dedup.keepUnseen]]/[[MinHashLSH.keepUnseenNear]]
    * treatment for verbatim spans): per BATCH document, how many of its
    * k-token windows already occur in the history corpus. A document with
    * `n_dup_windows > 0` contains verbatim history text (Lee et al.'s
    * between-corpus ExactSubstr direction — train/new-crawl overlap).
    *
    * Scale shape: history is touched as DISTINCT window digests only
    * (never text past the scan); a Bloom filter over them splits the
    * batch's windows so provably-fresh windows skip the digest join —
    * only the might-seen minority shuffles. Per-call the filter is built
    * from one history pass; the production LOOP that stores the digest
    * relation and its count instead of re-deriving is [[SubstrIndex]].
    */
  /** Bloom-split telemetry from the most recent INSTRUMENTED
    * [[dupWindowReport]] (conf `spark.graft.exsub.instrument=true`, the
    * [[ConnectedComponents.lastStats]] pattern — extra count jobs, so
    * harness-only): how many batch windows existed, how many passed the
    * history Bloom (the join's real input), and how many matched. */
  final case class GateStats(batchWindows: Long, bloomPassed: Long,
      dupWindows: Long)
  @volatile var lastGateStats: Option[GateStats] = None

  def dupWindowReport(batch: DataFrame, history: DataFrame, idCol: String,
      textCol: String, k: Int, fpp: Double = 0.01): DataFrame = {
    val hw = windowDigestsOf(tokenize(history, idCol, textCol), idCol, k)
      .select("dg").distinct()
    CacheScope.withCached(hw) {
      val expected = math.max(1L, hw.count())
      val bloom = BloomPrune.buildFilter(hw, "dg", expected, fpp)
      val bw = windowDigestsOf(tokenize(batch, idCol, textCol), idCol, k)
      CacheScope.withCached(bw) {
        val (maybeSeen, _) = BloomPrune.split(bw, "dg", bloom)
        val matched = maybeSeen.join(hw, Seq("dg"), "left_semi")
        val instrument = batch.sparkSession.conf
          .getOption("spark.graft.exsub.instrument").contains("true")
        def result: DataFrame = {
          if (instrument) // gate join counted off the SAME (cached) frame
            lastGateStats = Some(GateStats(bw.count(), maybeSeen.count(),
              matched.count()))
          val dup = matched
            .groupBy(idCol).agg(count(lit(1)).as("n_dup_windows"))
          val totals = bw.groupBy(idCol).agg(count(lit(1)).as("n_windows"))
          batch.select(col(idCol))
            .join(totals, Seq(idCol), "left_outer")
            .join(dup, Seq(idCol), "left_outer")
            .select(col(idCol),
              coalesce(col("n_windows"), lit(0L)).as("n_windows"),
              coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
        }
        // the instrumented branch consumes `matched` twice (count + dup):
        // cache it for the call so the gate join runs once either way
        if (instrument) CacheScope.withCached(matched)(result) else result
      }
    }
  }

  /** Removal accounting over [[duplicatedSpans]] — the "how much does
    * ExactSubstr delete" number Lee et al. report (Bench evidence
    * surface): per span-bearing document, the span count, removed token
    * total, and the document's total token count (removal share =
    * removed_tokens / total_tokens).
    */
  def removalReport(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "need k >= 2 (k=1 would flag every repeated token)")
    val toks = tokenize(df, idCol, textCol)
    CacheScope.withCached(toks) {
      spansOf(toks, idCol, k)
        .groupBy(idCol)
        .agg(sum(col("n_tokens")).as("removed_tokens"),
          count(lit(1)).as("n_spans"))
        .join(toks, idCol)
        .select(col(idCol), col("n_spans"), col("removed_tokens"),
          size(col("__toks")).cast("long").as("total_tokens"))
    }
  }
}
