package graft.io

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Protobuf binary ingest without external jars — the reference's actual
  * input surface (S1: a stream of serialized `GoogleAdsRow` protos) rebuilt
  * on the proto3 wire format directly, since neither `spark-protobuf` nor
  * `protobuf-java` ships in this Spark distribution.
  *
  * Schema model: a minimal descriptor ([[PMessage]]/[[PField]]) standing in
  * for `Descriptors.Descriptor`; [[structTypeOf]] derives the Spark schema
  * with the REFERENCE's mapping rules (ProtoMessageToAvroMappings.scala:
  * 221-243 type map, :241-242 nullability, :70-83 zero defaults, :210
  * empty-string→null, :314-318 missing-submessage→null):
  *  - int32/sint32/sfixed32 → int, int64/sint64/sfixed64 → long,
  *    float/double/bool/string/bytes → same-named Spark types
  *  - enum → the symbol name as string
  *  - nested message → nullable struct; missing → null (never an empty row)
  *  - repeated → array (packed and unpacked wire encodings both accepted),
  *    missing → []
  *  - unset scalar → proto3 zero default; unset/empty string → null
  *  - unknown field numbers are skipped by wire type (forward compat)
  *
  * Execution shape: each task plans the decode once per message descriptor
  * ([[DecodePlan]]: field number → slot, slot kinds, pre-encoded enum
  * symbols, nested plans) and then decodes every message straight into a
  * Catalyst `InternalRow` — no `Row` and no per-value type conversion in
  * between. `ProtoSource`'s readers and [[decode]]'s partitions run it as
  * per-row imperative byte work (the case SURVEY §7 reserves
  * mapPartitions for); everything downstream (the Translator projection,
  * filters, sinks) is ordinary codegen'd Catalyst. Every length the decoder
  * reads is checked against the end of its message, so a truncated message
  * throws [[MalformedProtoException]] instead of decoding as defaults.
  */
object ProtoIngest {

  // ---------------------------------------------------------------- schema
  sealed trait PType
  case object PInt32 extends PType
  case object PInt64 extends PType
  case object PSInt32 extends PType // zigzag
  case object PSInt64 extends PType // zigzag
  case object PFixed32 extends PType
  case object PFixed64 extends PType
  case object PFloat extends PType
  case object PDouble extends PType
  case object PBool extends PType
  case object PString extends PType
  case object PBytes extends PType
  /** Proto enum: number→symbol map plus the descriptor's enum NAME, carried
    * through the Spark schema as column metadata so the Avro sink can emit a
    * named `enum` schema with the symbol list (reference
    * ProtoMessageToAvroMappings.scala:230-233) instead of a plain string.
    */
  final case class PEnum(symbols: Map[Int, String], name: String = "Enum") extends PType
  /** Proto `map<k,v>`: wire-encoded as a repeated nested entry message
    * (field 1 = key, field 2 = value) → Spark `MapType`; duplicate keys keep
    * the LAST entry, missing key/value take their proto3 zero defaults, an
    * absent map decodes to {} — proto3 map semantics. (The reference throws
    * on map fields, ProtoMessageToAvroMappings.scala:234-237; this is the
    * declared superset.)
    */
  final case class PMap(key: PType, value: PType) extends PType
  final case class PNested(msg: PMessage) extends PType
  /** Lazy nested reference — the cycle-bearing edge of a RECURSIVE proto
    * schema (the reference supports these via a `seen` node cache,
    * ProtoMessageToAvroMappings.scala:164-174). Spark types cannot be
    * recursive, so [[unroll]] must be applied before use.
    */
  final class PNestedRec(msg0: => PMessage) extends PType {
    lazy val msg: PMessage = msg0
  }
  object PNestedRec {
    def apply(msg: => PMessage): PNestedRec = new PNestedRec(msg)
  }

  final case class PField(number: Int, name: String, ptype: PType,
      repeated: Boolean = false)
  final case class PMessage(name: String, fields: Seq[PField])

  /** Unroll a (possibly recursive) message to a finite descriptor: lazy
    * recursive references expand `maxDepth` levels; beyond that the field
    * is DROPPED from the descriptor, so deeper wire bytes are skipped as
    * unknown fields — the same truncation contract as spark-protobuf's
    * `recursive.fields.max.depth` (SURVEY §7.4, the one semantic-fidelity
    * gap vs the reference's unbounded `seen`-cache recursion).
    */
  def unroll(msg: PMessage, maxDepth: Int): PMessage = {
    require(maxDepth >= 1, "maxDepth must be >= 1")
    def go(m: PMessage, depth: Int): PMessage =
      PMessage(m.name, m.fields.flatMap { f =>
        f.ptype match {
          case PNested(sub) => Some(f.copy(ptype = PNested(go(sub, depth))))
          case r: PNestedRec =>
            if (depth >= maxDepth) None // drop: deeper bytes skip as unknown
            else Some(f.copy(ptype = PNested(go(r.msg, depth + 1))))
          case PMap(k, PNested(sub)) => Some(f.copy(ptype = PMap(k, PNested(go(sub, depth)))))
          case PMap(k, r: PNestedRec) =>
            if (depth >= maxDepth) None
            else Some(f.copy(ptype = PMap(k, PNested(go(r.msg, depth + 1)))))
          case _ => Some(f)
        }
      })
    go(msg, 1)
  }

  private def baseTypeOf(t: PType, owner: String, fname: String): DataType = t match {
    case PInt32 | PSInt32 | PFixed32 => IntegerType
    case PInt64 | PSInt64 | PFixed64 => LongType
    case PFloat                      => FloatType
    case PDouble                     => DoubleType
    case PBool                       => BooleanType
    case PString                     => StringType
    case PBytes                      => BinaryType
    case PEnum(_, _)                 => StringType
    case PNested(m)                  => structTypeOf(m)
    case PMap(k, v) =>
      MapType(baseTypeOf(k, owner, fname), baseTypeOf(v, owner, fname),
        valueContainsNull = v match {
          case PString | PBytes | PNested(_) => true
          case _                             => false
        })
    case _: PNestedRec => throw new IllegalArgumentException(
      s"recursive reference in $owner.$fname: apply ProtoIngest.unroll(msg, maxDepth) first")
  }

  /** Spark schema for a message, by the reference's rules. Enum fields carry
    * [[AvroSchemas.EnumNameKey]]/[[AvroSchemas.EnumSymbolsKey]] metadata
    * (symbols in descriptor number order), which the Avro sink turns back
    * into a named `enum` schema.
    */
  def structTypeOf(msg: PMessage): StructType = StructType(msg.fields.map { f =>
    val base = baseTypeOf(f.ptype, msg.name, f.name)
    val (dt, nullable) =
      if (f.repeated) (ArrayType(base, containsNull = false), false)
      else base match {
        case _: MapType => (base, false) // absent map → {}
        case StringType | BinaryType | _: StructType => (base, true)
        case _ => (base, false) // proto3 zero-default scalars
      }
    val metadata = f.ptype match {
      case PEnum(symbols, name) =>
        AvroSchemas.enumMetadata(name, symbols.toSeq.sortBy(_._1).map(_._2))
      case PNested(m) => AvroSchemas.recordMetadata(m.name)
      case _ => Metadata.empty
    }
    StructField(f.name, dt, nullable, metadata)
  })

  // ---------------------------------------------------------------- decode
  /** A message the decoder cannot read: a length, varint or fixed-width
    * value that runs past the end of its enclosing message, or a wire type
    * proto3 does not define. Readers of cache files re-throw it with the
    * file and line it came from.
    */
  final class MalformedProtoException(message: String, cause: Throwable = null)
      extends IllegalArgumentException(message, cause)

  /** Cursor over one serialized message. `limit` is the end of the message
    * being read (narrowed while a nested message, map entry or packed run is
    * read); every read checks it, so a truncated message fails instead of
    * reading past its end.
    */
  private final class Reader(val buf: Array[Byte]) {
    var pos = 0
    var limit: Int = buf.length

    private def overrun(what: String, need: Long): Nothing =
      throw new MalformedProtoException(s"truncated message: $what at offset $pos " +
        s"needs $need byte(s) but only ${limit - pos} remain before the message end")

    def varint(): Long = {
      val at = pos
      var shift = 0
      var out = 0L
      while (shift < 64) {
        if (pos >= limit) throw new MalformedProtoException(
          s"truncated message: varint at offset $at runs past the message end at $limit")
        val b = buf(pos); pos += 1
        out |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return out
        shift += 7
      }
      throw new MalformedProtoException(s"varint at offset $at is longer than 64 bits")
    }
    private def need(n: Int, what: String): Unit =
      if (limit - pos < n) overrun(what, n)
    def fixed32(): Int = {
      need(4, "fixed32")
      val v = (buf(pos) & 0xff) | ((buf(pos + 1) & 0xff) << 8) |
        ((buf(pos + 2) & 0xff) << 16) | ((buf(pos + 3) & 0xff) << 24)
      pos += 4; v
    }
    def fixed64(): Long = {
      need(8, "fixed64")
      var v = 0L
      var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8; v
    }
    /** A length prefix, checked against the bytes left in the message. */
    def length(): Int = {
      val n = varint()
      if (n < 0 || n > limit - pos) overrun("length-delimited field", n)
      n.toInt
    }
    def bytes(): Array[Byte] = {
      val n = length()
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; out
    }
    /** The string's bytes in place; malformed UTF-8 is decoded the way
      * `new String(_, UTF_8)` does, replacing bad sequences with U+FFFD. */
    def string(): UTF8String = {
      val n = length()
      val start = pos
      pos += n
      val s = UTF8String.fromBytes(buf, start, n)
      var k = start
      while (k < pos && buf(k) >= 0) k += 1 // all ASCII: valid, no full check
      if (k == pos || s.isValid) s
      else UTF8String.fromString(new String(buf, start, n, StandardCharsets.UTF_8))
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => need(8, "fixed64"); pos += 8
      case 2 => val n = length(); pos += n
      case 5 => need(4, "fixed32"); pos += 4
      case w => throw new MalformedProtoException(s"unsupported wire type $w before offset $pos")
    }
    /** Narrows reading to the next `n` bytes; returns the limit to restore. */
    def enter(n: Int): Int = { val outer = limit; limit = pos + n; outer }
  }

  private def zigzag(n: Long): Long = (n >>> 1) ^ -(n & 1)

  /** Int-keyed lookup for field and enum numbers: a dense array for small
    * non-negative keys, which is what descriptors almost always declare, and
    * a map for the rest.
    */
  private final class IntTable[T >: Null <: AnyRef: scala.reflect.ClassTag](
      entries: Seq[(Int, T)]) {
    private val (small, large) = entries.partition { case (k, _) => k >= 0 && k < 4096 }
    private val dense: Array[T] = {
      val a = new Array[T](if (small.isEmpty) 0 else small.map(_._1).max + 1)
      small.foreach { case (k, v) => a(k) = v }
      a
    }
    private val sparse: Map[Int, T] = large.toMap
    def apply(k: Int): T =
      if (k >= 0 && k < dense.length) dense(k)
      else if (sparse.isEmpty) null
      else sparse.getOrElse(k, null)
  }

  // wire value kinds of a [[ValueSpec]]
  private final val KInt32 = 0
  private final val KInt64 = 1
  private final val KSInt32 = 2
  private final val KSInt64 = 3
  private final val KFixed32 = 4
  private final val KFixed64 = 5
  private final val KFloat = 6
  private final val KDouble = 7
  private final val KBool = 8
  private final val KString = 9
  private final val KBytes = 10
  private final val KEnum = 11
  private final val KMessage = 12
  private final val KMap = 13

  /** How one wire value of type `t` decodes to its Catalyst value. */
  private final class ValueSpec(t: PType, owner: String) {
    val kind: Int = t match {
      case PInt32 => KInt32
      case PInt64 => KInt64
      case PSInt32 => KSInt32
      case PSInt64 => KSInt64
      case PFixed32 => KFixed32
      case PFixed64 => KFixed64
      case PFloat => KFloat
      case PDouble => KDouble
      case PBool => KBool
      case PString => KString
      case PBytes => KBytes
      case _: PEnum => KEnum
      case _: PNested => KMessage
      case _: PMap => KMap
      case _: PNestedRec => throw new IllegalArgumentException(
        s"recursive reference in $owner: apply ProtoIngest.unroll(msg, maxDepth) first")
    }
    /** Length-delimited on the wire, so a repeat of it is never packed. */
    val lenDelimited: Boolean =
      kind == KString || kind == KBytes || kind == KMessage || kind == KMap
    /** Symbols pre-encoded, by enum number. */
    val symbols: IntTable[UTF8String] = t match {
      case PEnum(sym, _) => new IntTable(sym.toSeq.map { case (k, v) => k -> UTF8String.fromString(v) })
      case _ => null
    }
    val nested: DecodePlan = t match {
      case PNested(m) => new DecodePlan(m)
      case _ => null
    }
    val (key, value): (ValueSpec, ValueSpec) = t match {
      case PMap(k, v) => (new ValueSpec(k, owner), new ValueSpec(v, owner))
      case _ => (null, null)
    }

    def enumSymbol(number: Int): UTF8String = {
      val s = symbols(number)
      if (s != null) s else UTF8String.fromString(s"UNKNOWN_$number")
    }

    /** Proto3 zero default of an unset field (ProtoMessageToAvroMappings.scala
      * :70-83): a missing submessage is null (:314-318), an unset string or
      * bytes field null, an unset enum its number-0 symbol.
      */
    def fieldDefault: Any = kind match {
      case KInt32 | KSInt32 | KFixed32 => 0
      case KInt64 | KSInt64 | KFixed64 => 0L
      case KFloat => 0f
      case KDouble => 0d
      case KBool => false
      case KEnum => symbols(0)
      case _ => null
    }

    /** Proto3 zero default INSIDE a map entry — unlike top-level fields, a
      * missing string key/value is the empty string (map keys cannot be null
      * in Spark's MapType), and a missing nested value is null.
      */
    def entryDefault: Any = kind match {
      case KString => UTF8String.EMPTY_UTF8
      case KBytes => Array.emptyByteArray
      case _ => fieldDefault
    }

    def read(r: Reader): Any = (kind: @scala.annotation.switch) match {
      case KInt32 => r.varint().toInt
      case KInt64 => r.varint()
      case KSInt32 => zigzag(r.varint()).toInt
      case KSInt64 => zigzag(r.varint())
      case KFixed32 => r.fixed32()
      case KFixed64 => r.fixed64()
      case KFloat => java.lang.Float.intBitsToFloat(r.fixed32())
      case KDouble => java.lang.Double.longBitsToDouble(r.fixed64())
      case KBool => r.varint() != 0L
      case KString => r.string()
      case KBytes => r.bytes()
      case KEnum => enumSymbol(r.varint().toInt)
      case KMessage =>
        val outer = r.enter(r.length())
        val row = nested.read(r)
        r.limit = outer
        row
    }
  }

  private final class Slot(val ordinal: Int, f: PField, owner: String) {
    val number: Int = f.number
    val spec = new ValueSpec(f.ptype, s"$owner.${f.name}")
    val isMap: Boolean = spec.kind == KMap
    if (isMap && f.repeated) throw new IllegalArgumentException(
      s"map field $owner.${f.name} cannot also be repeated")
    val repeated: Boolean = f.repeated
    /** A set-but-empty string is null (:210); enums render as strings too. */
    val emptyIsNull: Boolean = !repeated && (spec.kind == KString || spec.kind == KEnum)
    val default: Any = spec.fieldDefault
  }

  private def copyOf(a: Array[Any], n: Int): Array[Any] =
    java.util.Arrays.copyOf(a.asInstanceOf[Array[AnyRef]], n).asInstanceOf[Array[Any]]

  private val EmptyArray = new GenericArrayData(Array.empty[Any])
  private val EmptyMap = new ArrayBasedMapData(EmptyArray, EmptyArray)

  /** The decoder for one message descriptor, planned once and reused for
    * every message a reader decodes: field number → slot, each slot's value
    * kind, enum symbols pre-encoded as `UTF8String`, one nested plan per
    * sub-message field. It writes Catalyst values straight into a
    * `GenericInternalRow`: strings are `UTF8String`s over the message
    * buffer (which must not be modified afterwards), repeated fields
    * `GenericArrayData`, maps `ArrayBasedMapData`. Not thread-safe: it keeps
    * scratch buffers for repeated fields, so use one plan per task.
    */
  private[io] final class DecodePlan(msg: PMessage) {
    private val slots = msg.fields.zipWithIndex.map { case (f, i) => new Slot(i, f, msg.name) }.toArray
    private val byNumber = new IntTable(slots.toSeq.map(s => s.number -> s))
    // per slot: repeated elements, or a map's keys and values interleaved
    private val items = new Array[Array[Any]](slots.length)
    private val counts = new Array[Int](slots.length)
    private lazy val dedup = new java.util.HashMap[Any, Integer]()

    def decode(bytes: Array[Byte]): InternalRow = read(new Reader(bytes))

    private def add(i: Int, v: Any): Unit = {
      var a = items(i)
      val c = counts(i)
      if (a == null) { a = new Array[Any](8); items(i) = a }
      else if (c == a.length) { a = copyOf(a, c * 2); items(i) = a }
      a(c) = v
      counts(i) = c + 1
    }

    /** One wire occurrence of a map field = one entry message: field 1 key,
      * field 2 value, missing ones at their proto3 zero defaults.
      */
    private def addEntry(i: Int, spec: ValueSpec, r: Reader): Unit = {
      val outer = r.enter(r.length())
      var k = spec.key.entryDefault
      var v = spec.value.entryDefault
      while (r.pos < r.limit) {
        val tag = r.varint()
        val num = (tag >>> 3).toInt
        if (num == 1) k = spec.key.read(r)
        else if (num == 2) v = spec.value.read(r)
        else r.skip((tag & 7).toInt)
      }
      r.limit = outer
      add(i, k)
      add(i, v)
    }

    private[ProtoIngest] def read(r: Reader): InternalRow = {
      val values = new Array[Any](slots.length)
      java.util.Arrays.fill(counts, 0)
      while (r.pos < r.limit) {
        val tag = r.varint()
        val wireType = (tag & 7).toInt
        val s = byNumber((tag >>> 3).toInt)
        if (s == null) r.skip(wireType)
        else if (s.isMap) addEntry(s.ordinal, s.spec, r)
        else if (!s.repeated) values(s.ordinal) = s.spec.read(r) // last one wins (proto3)
        else if (wireType == 2 && !s.spec.lenDelimited) {
          // packed numeric repeat: elements until the length runs out
          val outer = r.enter(r.length())
          while (r.pos < r.limit) add(s.ordinal, s.spec.read(r))
          r.limit = outer
        } else add(s.ordinal, s.spec.read(r))
      }
      var i = 0
      while (i < slots.length) {
        val s = slots(i)
        if (s.isMap) values(i) = mapOf(i)
        else if (s.repeated)
          values(i) =
            if (counts(i) == 0) EmptyArray else new GenericArrayData(copyOf(items(i), counts(i)))
        else if (values(i) == null) values(i) = s.default
        else if (s.emptyIsNull && values(i).asInstanceOf[UTF8String].numBytes == 0) values(i) = null
        i += 1
      }
      new GenericInternalRow(values)
    }

    /** The map of slot `i`'s entries; on a duplicate key the LAST value wins
      * (proto3), at the key's first position.
      */
    private def mapOf(i: Int): MapData = {
      val n = counts(i) / 2
      if (n == 0) return EmptyMap
      val kv = items(i)
      val keys = new Array[Any](n)
      val vals = new Array[Any](n)
      var m = 0
      if (n == 1) { keys(0) = kv(0); vals(0) = kv(1); m = 1 }
      else {
        dedup.clear()
        var e = 0
        while (e < n) {
          val at = dedup.putIfAbsent(kv(2 * e), m)
          if (at == null) { keys(m) = kv(2 * e); vals(m) = kv(2 * e + 1); m += 1 }
          else vals(at) = kv(2 * e + 1)
          e += 1
        }
      }
      if (m == n) new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
      else new ArrayBasedMapData(
        new GenericArrayData(copyOf(keys, m)), new GenericArrayData(copyOf(vals, m)))
    }
  }

  /** Decode one serialized message. */
  def decodeBytes(bytes: Array[Byte], msg: PMessage): Row = {
    val toRow = CatalystTypeConverters.createToScalaConverter(structTypeOf(msg))
    toRow(new DecodePlan(msg).decode(bytes)).asInstanceOf[Row]
  }

  /** Decode `binCol` of `df` into the message's full column set —
    * `spark.read` + this = the reference's S1 scan for proto payloads. The
    * schema keeps the descriptor's field METADATA, so enum columns carry
    * their `graft.enum.*` tags all the way to the Avro sink.
    */
  def decode(df: DataFrame, binCol: String, msg: PMessage): DataFrame = {
    val rows = df.select(col(binCol)).queryExecution.toRdd.mapPartitions { it =>
      val plan = new DecodePlan(msg)
      it.map(r => plan.decode(r.getBinary(0)))
    }
    org.apache.spark.sql.graft.Bridge.ofInternalRows(df.sparkSession, rows, structTypeOf(msg))
  }
}
