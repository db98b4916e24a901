package graft.ext

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.GraftSpec

/** The persisted BM25 inverted index: stored-search parity with the
  * session scorer, split-invariant appends, exactly-once tokens, and the
  * scale property — a search scans only the query terms' hash-bucket
  * partitions of the posting relation.
  */
class Bm25StoreSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-bm25store-spec")
      .toString + "/idx"

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val queries = docs.filter(col("doc_id") % 101 === 0)
    .select(col("doc_id").as("qid"),
      explode(array_distinct(slice(TextAnalysis.tokens(col("text")), 1, 4)))
        .as("term"))
    .localCheckpoint(true)

  it("stored search equals the session Bm25.topK bit for bit") {
    val store = Bm25Store.build(docs, "doc_id", "text", tmp())
    val stored = store.search(queries, k = 3)
      .orderBy("qid", "rnk")
      .as[(Long, Long, Long, Int)].collect().toSeq
    val session = Bm25.topK(docs, "doc_id", "text", queries, k = 3)
      .orderBy("qid", "rnk")
      .as[(Long, Long, Long, Int)].collect().toSeq
    stored shouldBe session
    stored should not be empty
  }

  it("zero-token documents count toward N and avgdl exactly as the " +
     "session scorer counts them (stored-vs-session parity on a corpus " +
     "with empty-token docs)") {
    val withEmpty = docs.select($"doc_id", $"text")
      .union(Seq((900001L, ""), (900002L, "!!! ...")).toDF("doc_id", "text"))
    val store = Bm25Store.build(withEmpty, "doc_id", "text", tmp())
    store.stats.docs shouldBe withEmpty.count()
    val stored = store.search(queries, k = 3)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
    val session = Bm25.topK(withEmpty, "doc_id", "text", queries, k = 3)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
    stored shouldBe session
    stored should not be empty
  }

  it("duplicate document rows in one batch count toward N/avgdl exactly " +
     "as the session scorer counts corpus rows (row-marker multiplicity)") {
    // 10 documents appear TWICE: session N counts every corpus row, so
    // the stored statistics must too — a distinct-id count undercounts
    val dup = docs.limit(50).union(docs.limit(10))
    val store = Bm25Store.build(dup, "doc_id", "text", tmp())
    store.stats.docs shouldBe dup.count()
    val stored = store.search(queries, k = 3)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
    val session = Bm25.topK(dup, "doc_id", "text", queries, k = 3)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
    stored shouldBe session
  }

  it("build + append is split-invariant: an 80/20 split ranks exactly " +
     "like a one-shot build (stored df/N/avgdl equal corpus-wide values)") {
    val oneShot = Bm25Store.build(docs, "doc_id", "text", tmp())
    val split = Bm25Store.build(docs.filter($"doc_id" % 5 =!= 0),
      "doc_id", "text", tmp())
    split.appendOnce(docs.filter($"doc_id" % 5 === 0), "doc_id", "text", "b#1")
    split.search(queries, k = 3).orderBy("qid", "rnk")
      .as[(Long, Long, Long, Int)].collect().toSeq shouldBe
      oneShot.search(queries, k = 3).orderBy("qid", "rnk")
        .as[(Long, Long, Long, Int)].collect().toSeq
    // stats accumulated exactly
    split.stats.docs shouldBe oneShot.stats.docs
    split.stats.dlSum shouldBe oneShot.stats.dlSum
  }

  it("appendOnce is idempotent under its token") {
    val store = Bm25Store.build(docs.filter($"doc_id" % 5 =!= 0),
      "doc_id", "text", tmp())
    val batch = docs.filter($"doc_id" % 5 === 0)
    val st1 = store.appendOnce(batch, "doc_id", "text", "tok#1")
    store.appendOnce(batch, "doc_id", "text", "tok#1") shouldBe st1
  }

  it("a search scans ONLY the query terms' bucket partitions, with the " +
     "term predicate pushed to the parquet reader") {
    val store = Bm25Store.build(docs, "doc_id", "text", tmp(), buckets = 16)
    // a one-term query: at most one of the 16 bucket partitions is read
    val q1 = Seq((1L, "the")).toDF("qid", "term")
    val pruned = store.prunedPostingsFor(q1)
    pruned.collect()
    val scans = graft.plans.PlanWalk
      .collectAll(pruned.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f
      }
    scans should have size 1
    scans.head.metrics.get("numPartitions").map(_.value) shouldBe Some(1L)
    scans.head.metadata.getOrElse("PushedFilters", "") should include("term")
  }

  it("open() restores buckets from stats; a missing layout is refused; " +
     "build refuses an occupied path; a crashed append's orphan dir is " +
     "cleared on replay") {
    val path = tmp()
    Bm25Store.build(docs, "doc_id", "text", path, buckets = 8)
    Bm25Store.open(spark, path).stats.buckets shouldBe 8
    an[Exception] should be thrownBy Bm25Store.open(spark, tmp())
    an[Exception] should be thrownBy
      Bm25Store.build(docs, "doc_id", "text", path)
    // orphan for the NEXT append seq, then a real append over it
    val store = Bm25Store.open(spark, path)
    Seq(("zzz", 1L, 3L, 1L, 0)).toDF("term", "__id", "__dl", "__tf", "tb")
      .write.partitionBy("tb").parquet(s"$path/postings/append=a000002")
    val before = store.stats
    val fresh = Seq((990001L, "wholly novel appended document text"))
      .toDF("doc_id", "text")
    val st = store.append(fresh, "doc_id", "text")
    st.docs shouldBe before.docs + 1
    // the orphan's fake posting never became visible
    store.search(Seq((5L, "zzz")).toDF("qid", "term"), k = 3)
      .count() shouldBe 0L
  }
}
