package graft.io

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.io.ProtoIngest._

/** The former `Row`-building proto3 decoder, kept in test scope as the
  * reference the planned `InternalRow` decoder is checked against: one
  * `Row` per message and nested message, values as Scala objects, the
  * reference's null/default rules applied per message. It reads well-formed
  * messages only — it has no bounds checks.
  */
object ProtoRowOracle {

  private final class Reader(val buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0
      var out = 0L
      while (shift < 64) {
        val b = buf(pos); pos += 1
        out |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return out
        shift += 7
      }
      throw new IllegalArgumentException("varint longer than 64 bits")
    }
    def fixed32(): Int = {
      val v = (buf(pos) & 0xff) | ((buf(pos + 1) & 0xff) << 8) |
        ((buf(pos + 2) & 0xff) << 16) | ((buf(pos + 3) & 0xff) << 24)
      pos += 4; v
    }
    def fixed64(): Long = {
      var v = 0L
      var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8; v
    }
    def bytes(n: Int): Array[Byte] = {
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; out
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => val n = varint().toInt; pos += n
      case 5 => pos += 4
      case w => throw new IllegalArgumentException(s"unsupported wire type $w")
    }
  }

  private def zigzag(n: Long): Long = (n >>> 1) ^ -(n & 1)

  private def scalarOf(t: PType, r: Reader): Any = t match {
    case PInt32     => r.varint().toInt
    case PInt64     => r.varint()
    case PSInt32    => zigzag(r.varint()).toInt
    case PSInt64    => zigzag(r.varint())
    case PFixed32   => r.fixed32()
    case PFixed64   => r.fixed64()
    case PFloat     => java.lang.Float.intBitsToFloat(r.fixed32())
    case PDouble    => java.lang.Double.longBitsToDouble(r.fixed64())
    case PBool      => r.varint() != 0L
    case PString    => new String(r.bytes(r.varint().toInt), "UTF-8")
    case PBytes     => r.bytes(r.varint().toInt)
    case PEnum(sym, _) => val v = r.varint().toInt; sym.getOrElse(v, s"UNKNOWN_$v")
    case PNested(m) =>
      val n = r.varint().toInt
      val sub = new Reader(r.buf, r.pos, r.pos + n)
      r.pos += n
      decodeMessage(sub, m)
    case PMap(kt, vt) =>
      val n = r.varint().toInt
      val stop = r.pos + n
      var k: Any = mapEntryDefault(kt)
      var v: Any = mapEntryDefault(vt)
      while (r.pos < stop) {
        val tag = r.varint()
        val num = (tag >>> 3).toInt
        if (num == 1) k = scalarOf(kt, r)
        else if (num == 2) v = scalarOf(vt, r)
        else r.skip((tag & 7).toInt)
      }
      (k, v)
    case _: PNestedRec => throw new IllegalArgumentException("recursive reference")
  }

  private def mapEntryDefault(t: PType): Any = t match {
    case PString    => ""
    case PBytes     => Array.emptyByteArray
    case PNested(_) => null
    case other      => defaultOf(other)
  }

  private def decodeMessage(r: Reader, msg: PMessage): Row = {
    val index = msg.fields.iterator.zipWithIndex.map { case (f, i) => f.number -> i }.toMap
    val schema: StructType = structTypeOf(msg)
    val values = new Array[Any](msg.fields.length)
    val repeats = new Array[scala.collection.mutable.ArrayBuffer[Any]](msg.fields.length)
    while (r.hasMore) {
      val tag = r.varint()
      val number = (tag >>> 3).toInt
      val wireType = (tag & 7).toInt
      index.get(number) match {
        case None => r.skip(wireType)
        case Some(i) =>
          val f = msg.fields(i)
          val lenDelimited = f.ptype match {
            case PString | PBytes | _: PNested | _: PMap => true
            case _ => false
          }
          if (f.repeated || f.ptype.isInstanceOf[PMap]) {
            if (repeats(i) == null)
              repeats(i) = scala.collection.mutable.ArrayBuffer.empty[Any]
            if (wireType == 2 && !lenDelimited) {
              val len = r.varint().toInt
              val stop = r.pos + len
              while (r.pos < stop) repeats(i) += scalarOf(f.ptype, r)
            } else repeats(i) += scalarOf(f.ptype, r)
          } else values(i) = scalarOf(f.ptype, r)
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      msg.fields.zipWithIndex.map { case (f, i) =>
        if (f.ptype.isInstanceOf[PMap]) {
          if (repeats(i) == null) Map.empty
          else repeats(i).iterator.map(_.asInstanceOf[(Any, Any)]).toMap
        }
        else if (f.repeated) { if (repeats(i) == null) Seq.empty else repeats(i).toSeq }
        else values(i) match {
          case null => defaultOf(f.ptype)
          case ""   => null
          case v    => v
        }
      }.toArray[Any], schema)
  }

  private def defaultOf(t: PType): Any = t match {
    case PInt32 | PSInt32 | PFixed32 => 0
    case PInt64 | PSInt64 | PFixed64 => 0L
    case PFloat                      => 0f
    case PDouble                     => 0d
    case PBool                       => false
    case PString | PBytes            => null
    case PEnum(sym, _)               => sym.getOrElse(0, null)
    case _: PMap                     => Map.empty
    case PNested(_)                  => null
    case _: PNestedRec               => throw new IllegalArgumentException("recursive reference")
  }

  def decode(bytes: Array[Byte], msg: PMessage): Row =
    decodeMessage(new Reader(bytes, 0, bytes.length), msg)
}
