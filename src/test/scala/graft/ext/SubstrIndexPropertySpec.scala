package graft.ext

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.GraftSpec

/** Property sweep of the stored exact-substring gate against the
  * per-call [[ExactSubstring.dupWindowReport]]: histories and batches
  * are built from a small pool of shared 4-word fragments plus noise,
  * so k-token verbatim overlaps occur at random positions — including
  * multi-fragment replays, partial overlaps, sub-k texts, and empty
  * texts. For every generated pair the stored gate must report the
  * SAME per-document window and duplicate-window counts as the
  * per-call path over raw history text. Fixed-seed Gen sampling per
  * the existing property-spec pattern.
  */
class SubstrIndexPropertySpec extends GraftSpec {
  import spark.implicits._

  private val k = 4

  private def forAll[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(555L + i)).foreach(body)
    }

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-ssprop").toString + "/idx"

  private val frag = Gen.oneOf(
    "alpha beta gamma delta", "one two three four",
    "red green blue cyan", "north south east west",
    "apple mango peach plum", "wind rain snow hail")
  private val noise =
    Gen.oneOf("zz1", "zz2", "zz3", "zz4", "zz5", "zz6", "zz7", "zz8")

  private val sentence: Gen[String] = Gen.frequency(
    6 -> (for {
      nf <- Gen.choose(1, 3)
      fs <- Gen.listOfN(nf, frag)
      np <- Gen.choose(0, 3)
      pre <- Gen.listOfN(np, noise)
      ns <- Gen.choose(0, 2)
      suf <- Gen.listOfN(ns, noise)
    } yield (pre ++ fs ++ suf).mkString(" ")),
    1 -> Gen.const("tiny doc"), // < k tokens: zero windows
    1 -> Gen.const(""))

  private val pairGen: Gen[(Seq[(Long, String)], Seq[(Long, String)])] =
    for {
      nh <- Gen.choose(2, 8)
      hist <- Gen.listOfN(nh, sentence)
      nb <- Gen.choose(2, 6)
      batch <- Gen.listOfN(nb, sentence)
    } yield (
      hist.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      batch.zipWithIndex.map { case (t, i) => (100L + i, t) })

  it("stored gate reports the same window/dup counts as the per-call " +
     "path for random fragment-sharing corpora") {
    var checked = 0
    forAll(pairGen, 8) { case (histRows, batchRows) =>
      val history = histRows.toDF("doc_id", "text").localCheckpoint(true)
      val batch = batchRows.toDF("doc_id", "text").localCheckpoint(true)
      // build refuses a window-less history (all texts < k tokens)
      val hasWindows = ExactSubstring
        .windowDigestsOf(
          ExactSubstring.tokenize(history, "doc_id", "text"),
          "doc_id", k).head(1).nonEmpty
      if (hasWindows) {
        val idx = SubstrIndex.build(history, "doc_id", "text", tmp(), k)
        val stored = idx.dupWindowReport(batch, "doc_id", "text")
          .select($"doc_id", $"n_windows", $"n_dup_windows")
          .as[(Long, Long, Long)].collect().toSeq.sorted
        val percall = ExactSubstring
          .dupWindowReport(batch, history, "doc_id", "text", k)
          .select($"doc_id", $"n_windows", $"n_dup_windows")
          .as[(Long, Long, Long)].collect().toSeq.sorted
        stored shouldBe percall
        checked += 1
      }
    }
    checked should be >= 5
  }
}
