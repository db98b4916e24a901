package graft.ext

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.GraftSpec

/** Property sweep of the stored bigram LM against the session scorer:
  * for random small corpora (duplicate rows, empty and sub-bigram
  * texts), scoring a batch against the stored model must equal
  * [[NgramLm.scoreAgainst]] with the history as the model corpus,
  * row-for-row in exact integer micro-units — and after an append the
  * stored model must score like the session model over history ∪
  * appended (the model update IS the append). Fixed-seed Gen sampling
  * per the existing property-spec pattern.
  */
class NgramLmStorePropertySpec extends GraftSpec {
  import spark.implicits._

  private def forAll[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(987L + i)).foreach(body)
    }

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-lmprop")
      .toString + "/idx"

  private val word =
    Gen.oneOf("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen")
  private val text: Gen[String] = Gen.frequency(
    6 -> Gen.choose(2, 7).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" "))),
    1 -> Gen.const(""),
    1 -> word) // single token: no bigrams, must score (0, 0, 0)

  private val cornerGen: Gen[(Seq[(Long, String)], Seq[(Long, String)])] =
    for {
      nh <- Gen.choose(3, 12)
      hist <- Gen.listOfN(nh, text)
      dups <- Gen.choose(0, 2)
      nb <- Gen.choose(2, 8)
      batch <- Gen.listOfN(nb, text)
    } yield {
      val h = hist.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val b = batch.zipWithIndex.map { case (t, i) => (100L + i, t) }
      (h ++ h.take(dups), b)
    }

  it("stored scoring equals session scoreAgainst for random corpora, " +
     "before and after an append (exact integer micro-units)") {
    var checked = 0
    forAll(cornerGen, 8) { case (histRows, batchRows) =>
      val history = histRows.toDF("doc_id", "text").localCheckpoint(true)
      val batch = batchRows.toDF("doc_id", "text").localCheckpoint(true)
      val hasBigrams = NgramLm.bigramsOf(history, "text").head(1).nonEmpty
      if (hasBigrams) {
        val store = NgramLmStore.build(history, "doc_id", "text", tmp())
        def collect(df: org.apache.spark.sql.DataFrame) =
          df.as[(Long, Long, Long, Long)].collect().toSeq.sorted
        collect(store.scoreBatch(batch, "doc_id", "text")) shouldBe
          collect(NgramLm.scoreAgainst(batch, history, "doc_id", "text"))
        // the model update IS the append: post-append scoring must match
        // a session model over the UNION corpus, including the integer
        // division shifts the grown prefix totals cause
        store.append(batch, "doc_id", "text")
        collect(store.scoreBatch(batch, "doc_id", "text")) shouldBe
          collect(NgramLm.scoreAgainst(batch, history.union(batch),
            "doc_id", "text"))
        checked += 1
      }
    }
    checked should be >= 5
  }
}
