package perfbench

import java.io.File
import java.lang.{StringBuilder => SB}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}

/** Canonical form of an output row, shared by the generator's expected rows
  * and the rows read back from the Avro and JSON outputs: keys sorted, null
  * fields dropped (the JSON writer omits them), numbers tagged integral or
  * floating. A row set is summarized as (count, sum of 64-bit row hashes),
  * which does not depend on row order or file layout.
  *
  * The Avro and JSON readers render straight from the decoded records, with
  * the same rules as [[render]] for the generator's values.
  */
object Canon {

  def render(v: Any): String = {
    val sb = new SB
    write(sb, v)
    sb.toString
  }

  private def write(sb: SB, v: Any): Unit = v match {
    case null => sb.append("null")
    case m: scala.collection.Map[_, _] =>
      obj(sb, m.toSeq.collect { case (k, x) if x != null => k.toString -> x })(write)
    case s: scala.collection.Seq[_] => arr(sb, s)(write)
    case d: Double => sb.append('d').append(java.lang.Double.toString(d))
    case i: Int => sb.append('i').append(i)
    case l: Long => sb.append('i').append(l)
    case b: Boolean => sb.append(b)
    case s: String => quote(sb, s)
    case other => throw new IllegalArgumentException(s"no canonical form for ${other.getClass}")
  }

  private def obj[T](sb: SB, fields: Seq[(String, T)])(w: (SB, T) => Unit): Unit = {
    sb.append('{')
    fields.sortBy(_._1).zipWithIndex.foreach { case ((k, x), i) =>
      if (i > 0) sb.append(',')
      quote(sb, k)
      sb.append(':')
      w(sb, x)
    }
    sb.append('}')
  }

  private def arr[T](sb: SB, xs: Iterable[T])(w: (SB, T) => Unit): Unit = {
    sb.append('[')
    xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); w(sb, x) }
    sb.append(']')
  }

  private def quote(sb: SB, s: String): Unit =
    sb.append('"').append(s.replace("\\", "\\\\").replace("\"", "\\\"")).append('"')

  private val md5 = ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  private def hashOf(canonical: String): Long =
    java.nio.ByteBuffer.wrap(md5.get.digest(canonical.getBytes("UTF-8"))).getLong

  def hash(row: Any): Long = hashOf(render(row))

  /** (row count, hash sum) over every `.avro` container file in `dir`. */
  def avroDigest(dir: File): (Long, Long) = sumOver(files(dir, ".avro")) { f =>
    var n = 0L
    var h = 0L
    val reader = new DataFileReader(f, new GenericDatumReader[GenericRecord]())
    try reader.iterator().asScala.foreach { r =>
      val sb = new SB
      writeAvro(sb, r)
      n += 1; h += hashOf(sb.toString)
    } finally reader.close()
    (n, h)
  }

  private val mapper = new ObjectMapper()

  /** (row count, hash sum) over every JSON-lines part file in `dir`. */
  def jsonDigest(dir: File): (Long, Long) = sumOver(files(dir, ".json")) { f =>
    var n = 0L
    var h = 0L
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).foreach { line =>
      val sb = new SB
      writeJson(sb, mapper.readTree(line))
      n += 1; h += hashOf(sb.toString)
    } finally src.close()
    (n, h)
  }

  private def files(dir: File, suffix: String): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(f => f.isFile && f.getName.endsWith(suffix))

  /** Sums the per-file digests, one file per task on the global pool. */
  private def sumOver(fs: Seq[File])(one: File => (Long, Long)): (Long, Long) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val parts = Await.result(Future.traverse(fs)(f => Future(one(f))), scala.concurrent.duration.Duration.Inf)
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def writeAvro(sb: SB, v: Any): Unit = v match {
    case r: GenericRecord =>
      obj(sb, r.getSchema.getFields.asScala.toSeq.map(f => f.name -> r.get(f.pos)).filter(_._2 != null))(writeAvro)
    case m: java.util.Map[_, _] =>
      obj(sb, m.asScala.toSeq.collect { case (k, x) if x != null => k.toString -> (x: Any) })(writeAvro)
    case l: java.util.Collection[_] => arr(sb, l.asScala)(writeAvro)
    case s: CharSequence => quote(sb, s.toString)
    case e: org.apache.avro.generic.GenericEnumSymbol[_] => quote(sb, e.toString)
    case i: java.lang.Integer => sb.append('i').append(i.intValue)
    case l: java.lang.Long => sb.append('i').append(l.longValue)
    case d: java.lang.Double => sb.append('d').append(java.lang.Double.toString(d.doubleValue))
    case b: java.lang.Boolean => sb.append(b.booleanValue)
    case null => sb.append("null")
    case other => throw new IllegalArgumentException(s"unexpected Avro value ${other.getClass}")
  }

  private def writeJson(sb: SB, n: JsonNode): Unit =
    if (n.isObject)
      obj(sb, n.properties().asScala.toSeq.map(e => e.getKey -> e.getValue).filterNot(_._2.isNull))(writeJson)
    else if (n.isArray) arr(sb, n.elements().asScala.toSeq)(writeJson)
    else if (n.isTextual) quote(sb, n.textValue)
    else if (n.isIntegralNumber) sb.append('i').append(n.longValue)
    else if (n.isFloatingPointNumber) sb.append('d').append(java.lang.Double.toString(n.doubleValue))
    else if (n.isBoolean) sb.append(n.booleanValue)
    else if (n.isNull) sb.append("null")
    else throw new IllegalArgumentException(s"unexpected JSON value $n")
}
