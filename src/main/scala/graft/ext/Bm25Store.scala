package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored statistics for [[Bm25Store]]: total indexed `docs` and their
  * summed token length `dlSum` (both exact Longs — the N / avgdl feed, so
  * no query ever aggregates the corpus), plus the `buckets` count the
  * posting relation is partitioned by, pinned so a reader can't probe a
  * stored index with a mismatched bucket function. */
final case class Bm25StoreStats(docs: Long, dlSum: Long, buckets: Int)

/** PERSISTED BM25 inverted index — the retrieval modality's stored layout,
  * completing the index family ([[NearDupIndex]] near-dup text,
  * [[SubstrIndex]] verbatim windows, [[IvfStore]] embeddings, THIS for
  * lexical retrieval): the corpus is tokenized ONCE, at [[Bm25Store.build]]
  * / [[append]] time, into the exploded posting relation
  * `(term, __id, __dl, __tf)`, and every later query reads postings for
  * ITS OWN terms only. Document text is never re-read; corpus length
  * statistics (N, Σdl) accumulate as exact Long PARTIALS carried by each
  * data commit — every batch document counts (zero-token docs included,
  * matching the session scorer's corpus count), and a partial publishes
  * in the same marker as its postings, so the summed stats can never
  * disagree with the committed postings.
  *
  * == Layout ==
  *
  * The [[ManifestLog]] marker-commit scheme shared by the family:
  *  - `postings/append=<id>/tb=<b>/` (term, __id, __dl, __tf) — the
  *    posting relation, PARTITIONED BY TERM-HASH BUCKET
  *    (`tb = pmod(hash(term), buckets)`): a query's terms resolve to their
  *    buckets and the scan prunes to those partitions at file listing —
  *    the dq59/dq118 treatment applied to text retrieval; files are
  *    term-sorted within each bucket, so the `term IN (...)` predicate
  *    additionally prunes at parquet row-group min/max;
  *  - `_commits/m<seq>` marker manifests ([[StoreLog]]; crashed appends
  *    invisible): each data commit carries the pinned `buckets` and its
  *    batch's (docs, dlSum) partial, and a compaction commit the folded
  *    sum of the partials it supersedes.
  *
  * == Query shape ==
  *
  * [[search]] runs [[Bm25.scoreFromPostings]] — the SAME expression tree
  * as the per-call [[Bm25.topK]] — over the pruned stored postings, with
  * (N, avgdl) from the stored Longs instead of a corpus aggregate. Since
  * stored df/tf/dl equal their corpus-wide values for every query term,
  * a search over a store holding the corpus is bit-identical to the
  * session path (spec- and oracle-gated). Not an [[IngestIndex]]:
  * retrieval has no dedup gate; appends are exactly-once via
  * [[appendOnce]] tokens.
  *
  * Scale shape: the per-query cost is (postings of the query's terms) —
  * bounded by query vocabulary and df, independent of corpus size; the
  * one corpus-sized pass is the append-time tokenize+count, paid once
  * per document ever.
  */
final class Bm25Store private (
    private val spark: SparkSession, val path: String) extends LoggedStore {

  private[ext] val log = new StoreLog(spark, path, Seq(StoreRel("postings",
    // row-identical union rewrite: bounds the per-search file listing and
    // merges the per-bucket small files
    fold = Some((from, to) => postings(from)
      .select("term", "__id", "__dl", "__tf", "tb")
      .repartition(col("tb"))
      .sortWithinPartitions("tb", "term")
      .write.partitionBy("tb").mode("errorifexists").parquet(to)))),
    // the folded commits' partials fold into the compaction's commit
    foldStats = ms => StoreLog.kvOf(Bm25Store.summed(ms)))

  /** Current stored statistics: docs/Σdl SUMMED on the driver from the
    * active commits' partials — a manifest read, no Spark job, and never
    * out of step with the committed postings (there is no separate
    * mutable total to fall behind). */
  def stats: Bm25StoreStats = statsOf(excludeToken = None)

  /** [[stats]] under the micro-batch replay view ([[search]] passes its
    * `excludeToken` so a replayed gate scores with pre-append N/avgdl,
    * matching the pruned posting relation it reads). */
  def statsOf(excludeToken: Option[String]): Bm25StoreStats =
    statsIn(log.visible(excludeToken))

  private def statsIn(ms: Seq[Manifest]): Bm25StoreStats = {
    val active = log.activeIds(ms, "postings").toSet
    require(active.nonEmpty, s"no committed postings dirs under $path")
    Bm25Store.summed(ms.filter(_.rel("postings").exists(active)))
  }

  private def postings(dirs: Seq[String]): DataFrame =
    RelRead.read(spark, s"$path#postings", dirs,
      basePath = Some(s"$path/postings"))

  // ---------------- writes ----------------

  /** Index a document batch: tokenize, explode to postings, write one
    * bucket-partitioned `append=<id>` dir, one marker commit carrying the
    * batch's exact (docs, Σdl) partial.
    *
    * Document ids must be UNIQUE ACROSS APPENDS — the scope of the
    * stored-vs-session parity claim: the same id appended in two batches
    * yields two posting rows per (term, doc), which inflates that term's
    * df by one and sums both copies into one (qid, vid) score, whereas
    * the session scorer over the union corpus would see a single row
    * with the combined tf. The store does not dedupe by id (an id-join
    * against the full stored relation per append is exactly the
    * corpus-sized re-read the layout exists to avoid); an ingest
    * pipeline gets uniqueness for free from upstream exact dedup, and a
    * replayed micro-batch from [[appendOnce]]'s token. */
  def append(df: DataFrame, idCol: String, textCol: String): Bm25StoreStats =
    log.locked(writeBatch(df, idCol, textCol, None, token = None))

  /** [[append]] with an idempotence token — exactly-once: a committed
    * manifest carrying `token` makes the call a no-op. */
  def appendOnce(df: DataFrame, idCol: String, textCol: String,
      token: String): Bm25StoreStats =
    log.once(token)(stats)(writeBatch(df, idCol, textCol, None, Some(token)))

  /** `buckets` is the build's pin (a fresh path); appends reuse the
    * snapshot's. */
  private def writeBatch(df: DataFrame, idCol: String, textCol: String,
      buckets: Option[Int], token: Option[String]): Bm25StoreStats = {
    log.append(token, fresh = buckets.nonEmpty) { (id, before) =>
      val tb = buckets.getOrElse(log.statsIn(before)("buckets").toInt)
      // tokenize the batch text ONCE into the marker-carrying posting
      // frame: the cached layer is the compact POST-aggregation relation
      // (caching the per-document token arrays instead measurably doubled
      // the large-corpus build — columnar array caching is the wrong
      // shape), and it feeds both the posting write and the statistics
      // partial with no second pass over document text.
      val postsAll = Bm25.postingsWithRowMarkers(
        Bm25.tokenized(df, idCol, textCol))
      postsAll.persist()
      try {
        // a FIRST append with zero postings would leave the index
        // unreadable (every later read infers schema over only-empty
        // dirs): refuse the degenerate build BEFORE writing anything,
        // off the cached frame — a limit-1 cache scan, NOT a footer walk
        // of the written dir (serial footer opens over the
        // tasks×buckets file fan-out measured ~14s, dwarfing the write)
        if (buckets.nonEmpty)
          require(postsAll.where(col("term").isNotNull).head(1).nonEmpty,
            s"cannot build a stored index at $path from a corpus with no postings")
        // cluster the write BY BUCKET before partitionBy: without it every
        // write task fans out one file per bucket it touches — tasks ×
        // buckets files per append (51k files for a 200-task, 256-bucket
        // production append); the batch-sized shuffle caps it at ≤ buckets
        // files per append, each term-sorted for row-group pruning
        postsAll.filter(col("term").isNotNull)
          .withColumn("tb", pmod(hash(col("term")), lit(tb)))
          .repartition(col("tb"))
          .sortWithinPartitions("tb", "term")
          .write.partitionBy("tb").mode("errorifexists")
          .parquet(log.dir("postings", id))
        // batch statistics off the cached frame's null-term MARKER rows:
        // their __tf is the exact row multiplicity, so EVERY batch row
        // counts toward N and Σdl — zero-token docs, null-text docs, and
        // a document sent twice in one batch all included, exactly as the
        // session scorer ([[Bm25.scores]]) counts corpus rows (a
        // distinct-id count would undercount duplicate rows and break
        // stored-vs-session N/avgdl parity). The partial rides the
        // marker commit that publishes the postings.
        val agg = postsAll.filter(col("term").isNull)
          .agg(coalesce(sum(col("__tf")), lit(0L)).as("n"),
            coalesce(sum(col("__dl") * col("__tf")), lit(0L)).as("s"))
          .head()
        StoreLog.kvOf(Bm25StoreStats(agg.getLong(0), agg.getLong(1), tb))
      } finally { postsAll.unpersist(blocking = false); () }
    }
    stats
  }

  // ---------------- queries ----------------

  /** Top-k BM25 documents per query over the STORED corpus — the
    * [[Bm25.topK]] contract with the corpus pass replaced by the pruned
    * posting scan: the query terms' hash buckets become a literal
    * partition filter (file-listing pruning), `term IN (...)` reaches the
    * parquet reader (row-group pruning within the term-sorted files), and
    * (N, avgdl) come from the stored Longs. Output:
    * (qid, vid, score_micro, rnk), top-k per qid. */
  def search(queries: DataFrame, k: Int, k1: Double = 1.2,
      b: Double = 0.75, excludeToken: Option[String] = None): DataFrame = {
    val ms = log.visible(excludeToken)
    val st = statsIn(ms)
    // query vocabulary with its buckets: a query-sized executor job (the
    // bucket function is the executor's hash — never reimplemented on the
    // driver), collected to literals for static pruning
    val vocab = queries.select(col("term")).distinct()
      .select(col("term"), pmod(hash(col("term")), lit(st.buckets)).as("tb"))
      .collect()
    if (vocab.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("qid",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("vid",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("score_micro",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rnk",
            org.apache.spark.sql.types.IntegerType))))
    val terms = vocab.map(_.getString(0)).toSeq
    val tbs = vocab.map(_.getInt(1)).distinct.toSeq
    val posts = postings(log.dirs(ms, "postings"))
      .where(col("tb").isin(tbs: _*) && col("term").isin(terms: _*))
      .select("__id", "__dl", "term", "__tf")
    val statsDf = {
      import spark.implicits._
      Seq((st.docs, st.dlSum)).toDF("__docs", "__dlsum")
        .select(col("__docs").as("__n"),
          (col("__dlsum").cast("double") / col("__docs")).as("__avgdl"))
    }
    CandidateTopK.rankedTopPerQuery(
      Bm25.scoreFromPostings(posts, queries, statsDf, k1, b),
      "score_micro", k)
  }

  /** The search's pruned posting scan BEFORE scoring — plan-audit hook
    * (the [[IvfStore.lookupPlan]] precedent): the spec asserts its only
    * file scan is partition-pruned to the query terms' buckets with the
    * term predicate pushed. */
  private[graft] def prunedPostingsFor(queries: DataFrame): DataFrame = {
    val ms = log.visible(None)
    val vocab = queries.select(col("term")).distinct()
      .select(col("term"),
        pmod(hash(col("term")), lit(statsIn(ms).buckets)).as("tb"))
      .collect()
    postings(log.dirs(ms, "postings"))
      .where(col("tb").isin(vocab.map(_.getInt(1)).distinct.toSeq: _*) &&
        col("term").isin(vocab.map(_.getString(0)).toSeq: _*))
      .select("__id", "__dl", "term", "__tf")
  }
}

object Bm25Store extends StoreProbe {

  /** Build a new index at `path` (must not already hold one) from the
    * corpus — the one time document text is read. `buckets` pins the
    * posting partitioning (choose ≥ cluster parallelism at production
    * corpus sizes; each query prunes to its own terms' buckets). */
  def build(corpus: DataFrame, idCol: String, textCol: String, path: String,
      buckets: Int = 16): Bm25Store = {
    require(buckets >= 1, "need buckets >= 1")
    val idx = new Bm25Store(corpus.sparkSession, path)
    idx.log.locked(idx.writeBatch(corpus, idCol, textCol, Some(buckets), None))
    idx
  }

  /** Open a stored index (fails fast on a missing or older layout);
    * `buckets` comes from its commits' stats. */
  def open(spark: SparkSession, path: String): Bm25Store =
    StoreLog.open(new Bm25Store(spark, path))

  /** The summed (docs, Σdl) partials of `parts` (data or compaction
    * commits), with their pinned `buckets`. */
  private def summed(parts: Seq[Manifest]): Bm25StoreStats =
    Bm25StoreStats(parts.map(_.stats("docs").toLong).sum,
      parts.map(_.stats("dlSum").toLong).sum,
      parts.last.stats("buckets").toInt)
}
