package graft.ext

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.GraftSpec

/** Property sweep of the stored BM25 layout against the session scorer:
  * for random small corpora — duplicate document rows, empty texts,
  * punctuation-only texts, random build/append splits — the stored
  * index's search must rank EXACTLY like [[Bm25.topK]] over the union,
  * and the stored N/Σdl must equal the session scorer's corpus-row
  * counts (the invariant a hand-picked fixture almost missed: duplicate
  * rows must count twice). Raw ScalaCheck `Gen` with fixed seeds, the
  * [[graft.plan.ProjectionPropertySpec]] pattern (the
  * scalatest-scalacheck bridge isn't in the offline cache).
  */
class Bm25StorePropertySpec extends GraftSpec {
  import spark.implicits._

  private def forAll[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(1234L + i)).foreach(body)
    }

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-bm25prop")
      .toString + "/idx"

  private val word =
    Gen.oneOf("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen")
  private val text: Gen[String] = Gen.frequency(
    6 -> Gen.choose(1, 7).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" "))),
    1 -> Gen.const(""),        // zero-token document
    1 -> Gen.const("!!! ...")) // punctuation-only (tokenizes to nothing)

  /** (rows, dupCount): `dupCount` leading rows are repeated VERBATIM —
    * same doc_id, same text — modelling a re-sent record inside a batch. */
  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(4, 20)
    texts <- Gen.listOfN(n, text)
    dups <- Gen.choose(0, 3)
  } yield {
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    rows ++ rows.take(dups)
  }

  it("stored build+append ranks exactly like session BM25 over random " +
     "corpora with duplicate rows, empty docs, and random splits; stored " +
     "N/Σdl equal the session scorer's corpus-row counts") {
    var checked = 0
    forAll(corpusGen, 10) { rows =>
      val docs = rows.toDF("doc_id", "text").localCheckpoint(true)
      val buildHalf = docs.filter($"doc_id" % 2 === 0)
      val appendHalf = docs.filter($"doc_id" % 2 === 1)
      val buildHasTokens = buildHalf
        .where(TextAnalysis.tokenCount($"text") > 0).head(1).nonEmpty
      if (!buildHasTokens) {
        // degenerate build half: the refusal is the contract
        val e = intercept[IllegalArgumentException] {
          Bm25Store.build(buildHalf, "doc_id", "text", tmp())
        }
        e.getMessage should include("no postings")
      } else {
        val store = Bm25Store.build(buildHalf, "doc_id", "text", tmp())
        store.appendOnce(appendHalf, "doc_id", "text", "prop#b1")
        // stats: EVERY corpus row counts (duplicates twice), Σdl is the
        // total token count over rows — the session scorer's N/avgdl feed
        store.stats.docs shouldBe rows.size.toLong
        store.stats.dlSum shouldBe docs
          .agg(coalesce(sum(TextAnalysis.tokenCount($"text")
            .cast("long")), lit(0L))).head().getLong(0)
        val queries = docs
          .select($"doc_id".as("qid"), explode(array_distinct(
            slice(TextAnalysis.tokens($"text"), 1, 3))).as("term"))
          .localCheckpoint(true)
        val stored = store.search(queries, k = 3)
          .as[(Long, Long, Long, Int)].collect().toSeq.sorted
        val session = Bm25.topK(docs, "doc_id", "text", queries, k = 3)
          .as[(Long, Long, Long, Int)].collect().toSeq.sorted
        stored shouldBe session
        checked += 1
      }
    }
    checked should be >= 5 // most random corpora exercise the parity path
  }
}
