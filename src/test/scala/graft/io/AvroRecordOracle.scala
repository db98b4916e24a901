package graft.io

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The former `Row → GenericRecord` conversion of the Avro sink, kept in test
  * scope as the reference the compiled `InternalRow` writer is checked
  * against: unions unwrapped and enum symbols looked up per value, the
  * record then written by Avro's own `GenericDatumWriter`.
  */
object AvroRecordOracle {

  def toRecord(row: Row, st: StructType, avro: Schema): GenericRecord = {
    val rec = new GenericData.Record(avro)
    st.fields.zipWithIndex.foreach { case (f, i) =>
      val fieldSchema = unwrapUnion(avro.getFields.get(i).schema())
      rec.put(f.name, toAvroValue(if (row.isNullAt(i)) null else row.get(i), f.dataType, fieldSchema))
    }
    rec
  }

  private def unwrapUnion(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
    else s

  private def toAvroValue(v: Any, dt: DataType, avro: Schema): AnyRef = v match {
    case null => null
    case s: String if avro.getType == Schema.Type.ENUM =>
      new GenericData.EnumSymbol(avro, s)
    case r: Row => toRecord(r, dt.asInstanceOf[StructType], avro)
    case s: scala.collection.Seq[_] =>
      val el = unwrapUnion(avro.getElementType)
      val edt = dt.asInstanceOf[ArrayType].elementType
      s.map(x => toAvroValue(x, edt, el)).asJava
    case m: Map[_, _] =>
      val vs  = unwrapUnion(avro.getValueType)
      val vdt = dt.asInstanceOf[MapType].valueType
      m.map { case (k, x) => k.toString -> toAvroValue(x, vdt, vs) }.asJava
    case b: Array[Byte]           => java.nio.ByteBuffer.wrap(b)
    case d: java.math.BigDecimal  => d.toPlainString
    case d: BigDecimal            => d.bigDecimal.toPlainString
    case d: java.sql.Date         => d.toString
    case t: java.sql.Timestamp    => t.toInstant.toString
    case i: java.time.LocalDate   => i.toString
    case i: java.time.Instant     => i.toString
    case b: Byte                  => java.lang.Integer.valueOf(b.toInt)
    case sh: Short                => java.lang.Integer.valueOf(sh.toInt)
    case other                    => other.asInstanceOf[AnyRef]
  }
}
