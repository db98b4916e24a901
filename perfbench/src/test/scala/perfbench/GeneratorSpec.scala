package perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  private def tmp(): File = Files.createTempDirectory("perfbench-gen").toFile

  private def bytesOf(dir: File): Seq[(String, Seq[Byte])] =
    dir.listFiles().toSeq.sortBy(_.getName).map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq)

  test("the same seed writes a byte-identical proto slice with the same expected digest") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    val sa = ProtoGen.writeSlice(a, 42L, 3, 2, 50)
    val sb = ProtoGen.writeSlice(b, 42L, 3, 2, 50)
    val sc = ProtoGen.writeSlice(c, 43L, 3, 2, 50)
    assert(bytesOf(a) == bytesOf(b))
    assert((sa.rows, sa.hash, sa.bytes) == (sb.rows, sb.hash, sb.bytes))
    assert(bytesOf(a) != bytesOf(c))
    assert(sa.messages == 100 && sa.rows > 0 && sa.rows < 100)
  }

  test("the same seed gives the same document batches and survivors") {
    val (g1, g2, g3) = (new TextGen(7L, historyDocs = 50), new TextGen(7L, historyDocs = 50),
      new TextGen(8L, historyDocs = 50))
    assert(g1.history.toSeq == g2.history.toSeq)
    (0 until 3).foreach(b => assert(g1.batch(b) == g2.batch(b)))
    assert(g1.batch(1) != g3.batch(1))
    val (docs, keep) = g1.batch(2)
    assert(docs.size == g1.batchDocs && keep.size == g1.fresh)
    assert(docs.map(_._1).distinct.size == docs.size)
  }
}
