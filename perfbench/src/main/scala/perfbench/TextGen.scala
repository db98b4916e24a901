package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

object Seeds {
  /** splitmix64 finalizer: independent streams from (seed, stream index). */
  def mix(seed: Long, stream: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Seeded documents for the ingest loop, drawn from a Zipfian vocabulary.
  *
  * Each batch plants, at fixed shares: exact copies of history documents,
  * exact copies of a fresh document of the same batch (with a higher id),
  * near-duplicates of history and of earlier batches' fresh documents (two
  * tokens mutated, so the copy still shares long token runs with its
  * source), and fresh documents. Only the fresh documents may survive the
  * pipeline; the planted copies are at the extreme end of similarity, and
  * fresh documents share no 8-token window with anything else except with
  * negligible probability, so the expected survivors are unambiguous.
  *
  * Batch `b` depends only on (seed, b): the sources of its near-duplicates
  * are regenerated, not remembered.
  */
final class TextGen(seed: Long, val historyDocs: Int = 500, val batchDocs: Int = 200,
    vocab: Int = 20000, minTokens: Int = 40, maxTokens: Int = 80) {

  val fresh: Int = batchDocs / 2
  val batchCopies: Int = batchDocs / 20
  val historyCopies: Int = batchDocs / 10
  val nearHistory: Int = (batchDocs - fresh - batchCopies - historyCopies) / 2
  val nearEarlier: Int = batchDocs - fresh - batchCopies - historyCopies - nearHistory

  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocab)(i => 1.0 / (i + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private def token(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    val rank = if (i >= 0) i else math.min(-i - 1, vocab - 1)
    "w" + Integer.toString(rank, 36)
  }
  private def doc(r: SplittableRandom): String =
    Array.fill(minTokens + r.nextInt(maxTokens - minTokens + 1))(token(r)).mkString(" ")

  def historyText(i: Int): String = doc(new SplittableRandom(Seeds.mix(seed, 7L << 40 | i)))
  def freshText(b: Int, j: Int): String =
    doc(new SplittableRandom(Seeds.mix(seed, (11L << 40) | (b.toLong << 20) | j)))

  private def mutate(text: String, r: SplittableRandom): String = {
    val toks = text.split(' ')
    val a = r.nextInt(toks.length)
    val b = (a + 1 + r.nextInt(toks.length - 1)) % toks.length
    toks(a) = toks(a) + "x"
    toks(b) = toks(b) + "x"
    toks.mkString(" ")
  }

  def historyId(i: Int): Long = i + 1L
  def batchBase(b: Int): Long = 1000000L * (b + 1)

  /** (id, text) of history, in id order. */
  def history: Iterator[(Long, String)] = Iterator.range(0, historyDocs).map(i => historyId(i) -> historyText(i))

  /** Batch `b`'s documents and the ids that must survive it. */
  def batch(b: Int): (Seq[(Long, String)], Set[Long]) = {
    val r = new SplittableRandom(Seeds.mix(seed, (13L << 40) | b))
    val base = batchBase(b)
    val freshDocs = (0 until fresh).map(j => (base + j) -> freshText(b, j))
    var next = base + fresh
    def id(): Long = { next += 1; next }
    val copies = (0 until batchCopies).map(_ => id() -> freshDocs(r.nextInt(fresh))._2)
    val histCopies = (0 until historyCopies).map(_ => id() -> historyText(r.nextInt(historyDocs)))
    val nearHist = (0 until nearHistory).map(_ => id() -> mutate(historyText(r.nextInt(historyDocs)), r))
    val nearEarl = (0 until nearEarlier).map { _ =>
      val src =
        if (b == 0) historyText(r.nextInt(historyDocs))
        else freshText(r.nextInt(b), r.nextInt(fresh))
      id() -> mutate(src, r)
    }
    // shuffled so no position in the file predicts a document's fate
    val all = (freshDocs ++ copies ++ histCopies ++ nearHist ++ nearEarl).toArray
    (all.indices.reverse).foreach { i =>
      val j = r.nextInt(i + 1); val t = all(i); all(i) = all(j); all(j) = t
    }
    (all.toSeq, freshDocs.map(_._1).toSet)
  }

  /** Write documents as one JSON-lines file; returns its size in bytes. */
  def writeJsonLines(f: File, docs: Iterator[(Long, String)]): Long = {
    f.getParentFile.mkdirs()
    val w = java.nio.file.Files.newBufferedWriter(f.toPath, UTF_8)
    try docs.foreach { case (id, text) =>
      w.write(s"""{"doc_id":$id,"text":"$text"}"""); w.newLine()
    } finally w.close()
    f.length()
  }
}
