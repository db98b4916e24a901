package graft.io

import graft.GraftSpec
import graft.io.ProtoIngest._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the proto3 wire decoder: random values round-trip,
  * field order doesn't matter, interleaved unknown fields never change the
  * result, and the planned decoder agrees with the former `Row` decoder
  * ([[ProtoRowOracle]]) on random messages, through `decodeBytes` and through
  * a `ProtoSource` scan. Raw ScalaCheck Gen with fixed seeds (the
  * scalatest-scalacheck bridge isn't in the offline cache).
  */
class ProtoWirePropertySpec extends GraftSpec {

  private def forAll[A](gen: Gen[A], n: Int = 100)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(7L + i)).foreach(body)
    }

  // -------------------------------------------------- encoder (test-side)
  private class W {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v: Long): W = {
      var n = v
      while ((n & ~0x7fL) != 0) { out.write(((n & 0x7f) | 0x80).toInt); n >>>= 7 }
      out.write(n.toInt); this
    }
    def tag(f: Int, w: Int): W = varint((f.toLong << 3) | w)
    def bytes: Array[Byte] = out.toByteArray
  }
  private def zz(n: Long): Long = (n << 1) ^ (n >> 63)

  private val msg = PMessage("m", Seq(
    PField(1, "id", PInt64),
    PField(2, "name", PString),
    PField(3, "delta", PSInt64),
    PField(4, "flag", PBool),
    PField(5, "score", PDouble),
    PField(6, "counts", PInt32, repeated = true)))

  private case class V(id: Long, name: String, delta: Long, flag: Boolean,
      score: Double, counts: List[Int])

  private val genV: Gen[V] = for {
    id <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    name <- Gen.oneOf(Gen.const(""), Gen.alphaNumStr.map(_.take(20)),
      Gen.const("üñïçødé ✓"))
    delta <- Gen.chooseNum(-1000000L, 1000000L)
    flag <- Gen.oneOf(true, false)
    score <- Gen.chooseNum(-1e9, 1e9)
    counts <- Gen.listOfN(3, Gen.chooseNum(0, 1000))
  } yield V(id, name, delta, flag, score, counts)

  /** Encode one field of v; packed toggles the repeated encoding. */
  private def encField(w: W, v: V, field: Int, packed: Boolean): Unit = field match {
    case 1 => w.tag(1, 0).varint(v.id)
    case 2 =>
      val b = v.name.getBytes("UTF-8")
      w.tag(2, 2).varint(b.length); w.out.write(b)
    case 3 => w.tag(3, 0).varint(zz(v.delta))
    case 4 => w.tag(4, 0).varint(if (v.flag) 1 else 0)
    case 5 =>
      w.tag(5, 1)
      val bits = java.lang.Double.doubleToLongBits(v.score)
      (0 until 8).foreach(i => w.out.write(((bits >>> (8 * i)) & 0xff).toInt))
    case 6 =>
      if (packed) {
        val p = new W(); v.counts.foreach(c => p.varint(c.toLong))
        val pb = p.bytes
        w.tag(6, 2).varint(pb.length); w.out.write(pb)
      } else v.counts.foreach(c => w.tag(6, 0).varint(c.toLong))
  }

  private def check(r: org.apache.spark.sql.Row, v: V): Unit = {
    r.getAs[Long]("id") shouldBe v.id
    // set-but-empty string coerces to null (the reference's :210 rule)
    Option(r.getAs[String]("name")) shouldBe
      (if (v.name.isEmpty) None else Some(v.name))
    r.getAs[Long]("delta") shouldBe v.delta
    r.getAs[Boolean]("flag") shouldBe v.flag
    r.getAs[Double]("score") shouldBe v.score
    r.getAs[Seq[Int]]("counts") shouldBe v.counts
  }

  it("random values round-trip, in any field order, packed or unpacked") {
    val gen = for {
      v <- genV
      order <- Gen.oneOf(Seq(1, 2, 3, 4, 5, 6).permutations.toSeq)
      packed <- Gen.oneOf(true, false)
    } yield (v, order, packed)
    forAll(gen) { case (v, order, packed) =>
      val w = new W()
      order.foreach(f => encField(w, v, f, packed))
      check(decodeBytes(w.bytes, msg), v)
    }
  }

  it("proto map<k,v> round-trips: last duplicate key wins, defaults apply") {
    val mmsg = PMessage("mm", Seq(
      PField(1, "id", PInt64),
      PField(2, "attrs", PMap(PString, PInt32))))
    def encEntry(w: W, k: String, v: Int): Unit = {
      val e = new W()
      val kb = k.getBytes("UTF-8")
      e.tag(1, 2).varint(kb.length); e.out.write(kb)
      e.tag(2, 0).varint(v.toLong)
      val eb = e.bytes
      w.tag(2, 2).varint(eb.length); w.out.write(eb)
    }
    val genEntries = for {
      es <- Gen.listOfN(4, for {
        k <- Gen.alphaNumStr.map(_.take(8))
        v <- Gen.chooseNum(0, 1000)
      } yield (k, v))
      dupFirst <- Gen.oneOf(true, false)
    } yield if (dupFirst && es.nonEmpty) es :+ ((es.head._1, es.head._2 + 1)) else es
    forAll(genEntries) { entries =>
      val w = new W()
      w.tag(1, 0).varint(7L)
      entries.foreach { case (k, v) => encEntry(w, k, v) }
      decodeBytes(w.bytes, mmsg).getAs[Map[String, Int]]("attrs") shouldBe
        entries.toMap // toMap keeps the LAST duplicate — proto3 map rule
    }
    // absent map decodes to {}
    decodeBytes(new W().tag(1, 0).varint(1L).bytes, mmsg)
      .getAs[Map[String, Int]]("attrs") shouldBe Map.empty
    // empty entry message: key/value take proto3 zero defaults ("" -> 0)
    val we = new W(); we.tag(2, 2).varint(0)
    decodeBytes(we.bytes, mmsg).getAs[Map[String, Int]]("attrs") shouldBe Map("" -> 0)
  }

  it("map schema derives MapType and unroll bounds recursive map values") {
    val mmsg = PMessage("mm", Seq(PField(1, "attrs", PMap(PString, PInt64))))
    val st = structTypeOf(mmsg)
    st("attrs").dataType shouldBe
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.LongType, valueContainsNull = false)
    st("attrs").nullable shouldBe false
    lazy val rec: PMessage = PMessage("node", Seq(
      PField(1, "name", PString),
      PField(2, "children", PMap(PString, PNestedRec(rec)))))
    val bounded = unroll(rec, maxDepth = 2)
    // depth 2: the leaf level's recursive map field is dropped
    val lvl2 = bounded.fields(1).ptype.asInstanceOf[PMap]
      .value.asInstanceOf[PNested].msg
    lvl2.fields.map(_.name) shouldBe Seq("name")
  }

  it("unknown fields interleaved anywhere never change the result") {
    val gen = for {
      v <- genV
      junkAt <- Gen.choose(0, 6)
      junkKind <- Gen.choose(0, 2)
    } yield (v, junkAt, junkKind)
    forAll(gen) { case (v, junkAt, junkKind) =>
      val w = new W()
      (1 to 6).foreach { f =>
        if (f - 1 == junkAt) junkKind match {
          case 0 => w.tag(99, 0).varint(123456789L)              // varint
          case 1 => w.tag(98, 2).varint(3); w.out.write(Array[Byte](1, 2, 3)) // len-delim
          case 2 =>
            w.tag(97, 1)                                          // fixed64
            (0 until 8).foreach(_ => w.out.write(0xab))
        }
        encField(w, v, f, packed = true)
      }
      check(decodeBytes(w.bytes, msg), v)
    }
  }

  // ------------------------------------------ parity with the Row decoder
  private val level = PEnum(Map(0 -> "NONE", 1 -> "LOW", 2 -> "HIGH"), "Level")
  private val status = PEnum(Map(0 -> "UNSPECIFIED", 1 -> "ON", 3 -> "OFF"), "Status")
  private val inner = PMessage("Inner", Seq(
    PField(1, "label", PString),
    PField(2, "level", level),
    PField(3, "tags", PString, repeated = true),
    PField(4, "n", PSInt32)))
  private val rich = PMessage("Rich", Seq(
    PField(1, "id", PInt64),
    PField(2, "name", PString),
    PField(3, "status", status),
    PField(4, "inner", PNested(inner)),
    PField(5, "inners", PNested(inner), repeated = true),
    PField(6, "counts", PInt32, repeated = true),
    PField(7, "deltas", PSInt64, repeated = true),
    PField(8, "ratios", PDouble, repeated = true),
    PField(9, "words", PString, repeated = true),
    PField(10, "attrs", PMap(PString, PInt64)),
    PField(11, "named", PMap(PInt32, PString)),
    PField(12, "children", PMap(PString, PNested(inner))),
    PField(13, "blob", PBytes),
    PField(14, "flag", PBool),
    PField(15, "code", PFixed32),
    PField(16, "score", PFloat),
    PField(17, "statuses", status, repeated = true),
    PField(18, "big", PFixed64)))

  /** One random `Rich` message: every field maybe absent, maybe repeated on
    * the wire (the last occurrence wins), numeric repeats packed or not, map
    * entries with duplicate or missing keys and values, enum numbers outside
    * the symbol tables, empty strings everywhere a string goes, and unknown
    * fields of every wire type between the fields.
    */
  private def richBytes(rnd: scala.util.Random): Array[Byte] = {
    def str(): String = rnd.nextInt(4) match {
      case 0 => ""
      case 1 => rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString
      case 2 => "üñïçødé ✓"
      case _ => "k"
    }
    def enumNumber(): Long = Seq(0L, 1L, 2L, 3L, 7L, -1L)(rnd.nextInt(6))
    def strField(w: W, f: Int, s: String): Unit = {
      val b = s.getBytes("UTF-8"); w.tag(f, 2).varint(b.length); w.out.write(b)
    }
    def lenField(w: W, f: Int, b: Array[Byte]): Unit = {
      w.tag(f, 2).varint(b.length); w.out.write(b)
    }
    def fixed(w: W, bits: Long, n: Int): Unit =
      (0 until n).foreach(i => w.out.write(((bits >>> (8 * i)) & 0xff).toInt))
    def unknown(w: W): Unit = rnd.nextInt(4) match {
      case 0 => w.tag(90 + rnd.nextInt(10), 0).varint(rnd.nextLong())
      case 1 => w.tag(90 + rnd.nextInt(10), 1); fixed(w, rnd.nextLong(), 8)
      case 2 => lenField(w, 90 + rnd.nextInt(10), str().getBytes("UTF-8"))
      case _ => w.tag(90 + rnd.nextInt(10), 5); fixed(w, rnd.nextLong(), 4)
    }
    /** Encoded occurrences, shuffled, with unknown fields between them. */
    def message(parts: Seq[W => Unit]): Array[Byte] = {
      val w = new W()
      rnd.shuffle(parts).foreach { p =>
        if (rnd.nextInt(4) == 0) unknown(w)
        p(w)
      }
      w.bytes
    }
    def times(max: Int)(part: => (W => Unit)): Seq[W => Unit] = Seq.fill(rnd.nextInt(max + 1))(part)
    def repeated(f: Int, wire: Int)(value: W => Unit): Seq[W => Unit] = {
      val n = rnd.nextInt(5)
      if (n > 0 && wire != 2 && rnd.nextBoolean()) Seq((w: W) => {
        val p = new W(); (0 until n).foreach(_ => value(p)); lenField(w, f, p.bytes)
      })
      else Seq.fill(n)((w: W) => { w.tag(f, wire); value(w) })
    }
    def innerBytes(): Array[Byte] = message(
      times(2)(w => strField(w, 1, str())) ++
      times(2)(w => w.tag(2, 0).varint(enumNumber())) ++
      repeated(3, 2)(w => { val b = str().getBytes("UTF-8"); w.varint(b.length); w.out.write(b) }) ++
      times(1)(w => w.tag(4, 0).varint(zz(rnd.nextInt(2000) - 1000L))))
    def entry(f: Int, key: Option[W => Unit], value: Option[W => Unit]): W => Unit =
      w => lenField(w, f, message(key.toSeq ++ value.toSeq))
    def keyStr(): W => Unit = { val k = Seq("", "a", "b", "ü")(rnd.nextInt(4)); w => strField(w, 1, k) }
    def maybe(p: => (W => Unit)): Option[W => Unit] = if (rnd.nextInt(5) == 0) None else Some(p)
    message(
      times(2)(w => w.tag(1, 0).varint(rnd.nextLong())) ++
      times(2)(w => strField(w, 2, str())) ++
      times(1)(w => w.tag(3, 0).varint(enumNumber())) ++
      times(2)(w => lenField(w, 4, innerBytes())) ++
      repeated(5, 2)(w => { val b = innerBytes(); w.varint(b.length); w.out.write(b) }) ++
      repeated(6, 0)(w => w.varint(rnd.nextInt(100000).toLong - 50000L)) ++
      repeated(6, 0)(w => w.varint(rnd.nextInt(100).toLong)) ++
      repeated(7, 0)(w => w.varint(zz(rnd.nextLong()))) ++
      repeated(8, 1)(w => fixed(w, java.lang.Double.doubleToLongBits(rnd.nextDouble() * 2e6 - 1e6), 8)) ++
      repeated(9, 2)(w => { val b = str().getBytes("UTF-8"); w.varint(b.length); w.out.write(b) }) ++
      times(5)(entry(10, maybe(keyStr()), maybe { val v = rnd.nextLong(); (w: W) => w.tag(2, 0).varint(v) })) ++
      times(4)(entry(11, maybe { val k = rnd.nextInt(3).toLong; (w: W) => w.tag(1, 0).varint(k) },
        maybe { val v = str(); (w: W) => strField(w, 2, v) })) ++
      times(3)(entry(12, maybe(keyStr()), maybe { val v = innerBytes(); (w: W) => lenField(w, 2, v) })) ++
      times(1)(w => lenField(w, 13, Array.fill(rnd.nextInt(4))(rnd.nextInt(256).toByte))) ++
      times(1)(w => w.tag(14, 0).varint(rnd.nextInt(2).toLong)) ++
      times(1)(w => { w.tag(15, 5); fixed(w, rnd.nextInt().toLong, 4) }) ++
      times(1)(w => { w.tag(16, 5); fixed(w, java.lang.Float.floatToIntBits(rnd.nextFloat() * 100f).toLong, 4) }) ++
      repeated(17, 0)(w => w.varint(enumNumber())) ++
      times(1)(w => { w.tag(18, 1); fixed(w, rnd.nextLong(), 8) }))
  }

  /** Rows as plain comparable values: byte arrays by content, doubles and
    * floats by bits, every collection as a List or Map. */
  private def norm(v: Any): Any = v match {
    case r: Row => r.toSeq.map(norm).toList
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => norm(k) -> norm(x) }.toMap
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case b: Array[Byte] => b.toList
    case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
    case f: Float => ("float", java.lang.Float.floatToIntBits(f))
    case other => other
  }

  private val richMessages: IndexedSeq[Array[Byte]] =
    (0 until 300).map(i => richBytes(new scala.util.Random(1000L + i)))

  it("decodeBytes agrees with the Row decoder on random rich messages") {
    richMessages.foreach { bytes =>
      norm(decodeBytes(bytes, rich)) shouldBe norm(ProtoRowOracle.decode(bytes, rich))
    }
  }

  it("a ProtoSource scan agrees with the Row decoder, full and pruned + gated") {
    val d = graft.io.TempReaper.tempDir("graft-proto-parity")
    val b64 = java.util.Base64.getEncoder
    java.nio.file.Files.write(d.resolve("c0.txt"),
      (b64.encodeToString("q".getBytes("UTF-8")) +: richMessages.map(b64.encodeToString))
        .mkString("\n").getBytes("UTF-8"))
    ProtoSource.registerDescriptor("rich_row", rich)
    val scan = spark.read.format("graft.io.ProtoSource").option("descriptor", "rich_row")
      .load(d.toString)
    val oracle = richMessages.map(ProtoRowOracle.decode(_, rich))
    scan.collect().toSeq.map(norm) shouldBe oracle.map(norm)

    // the pushed gate reads `status` by ordinal; the scan decodes 3 fields
    val gated = scan.filter(col("status") === "ON").select("children", "id", "words")
    gated.queryExecution.executedPlan.toString should include("PushedRowGate: [")
    gated.collect().toSeq.map(norm) shouldBe oracle
      .filter(_.getAs[String]("status") == "ON")
      .map(r => norm(Row(r.getAs[Any]("children"), r.getAs[Any]("id"), r.getAs[Any]("words"))))
  }
}
