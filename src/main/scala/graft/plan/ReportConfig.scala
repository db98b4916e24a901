package graft.plan

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, LongType, StringType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Config-driven report definition — the Spark rebuild of the reference
  * runner's declare-a-report-then-run workflow (Main.scala:28-39 loads the
  * typed config; CampaignCriterionStructureReport.scala:2-51 declares the
  * field list and the GAQL WHERE). A report here is a small JSON document:
  *
  * {{{
  * {
  *   "table":  "orders",                 // parquet table under the data dir
  *   "fields": ["o_orderkey"],           // projection paths (P1/P2)
  *   "where":  "o_totalprice > 1000",    // SQL predicate (the GAQL WHERE)
  *   "idOrdering": ["o_orderkey"],       // optional: runner's id-first O1
  *   "mappings": [                       // user-defined mappings (P4/P5/P6)
  *     { "name": "metadata", "record": "metadata", "fields": [
  *         { "name": "author",      "constant": "Ben" },
  *         { "name": "report_date", "scalar": "report_date_src" } ] }
  *   ]
  * }
  * }}}
  *
  * The credential half of the reference config (`GoogleClientParameters`)
  * is deliberately absent: the transport is out of scope here, and holding
  * live credentials in a repo config is the part of the reference NOT worth
  * reproducing. Parsing uses json4s, which ships with Spark — no extra
  * dependency.
  */
object ReportConfig {

  final case class SinkDef(format: String, path: String)

  final case class ReportDef(
      table: String,
      fields: List[String],
      where: Option[String],
      mappings: List[(String, MappingNode)],
      ordering: Ordering[String],
      sinks: List[SinkDef]) {

    def translator: Translator =
      Translator(fields, userDefinedMappings = mappings, ordering = ordering)

    /** Read the table from `dir`, apply the WHERE, run the projection —
      * the whole reference runner loop as one declarative plan.
      */
    def run(spark: SparkSession, dir: String): DataFrame =
      applyTo(spark.read.parquet(s"$dir/$table.parquet"))

    /** Apply the declared WHERE + projection to an ARBITRARY frame — the
      * STREAMED entry point: the projection is stateless, so a STREAMING
      * DataFrame (e.g. [[graft.io.ProtoSource]]'s micro-batch tail over
      * the replay cache) passes through unchanged semantics and the whole
      * reference workflow — cache → GAQL WHERE → projection → sink —
      * becomes one declarative streaming job (dq157). */
    def applyTo(df: DataFrame): DataFrame =
      translator(where.fold(df)(df.filter))

    /** Fan `df` out to every declared sink — the reference runner writes the
      * same rows to Avro AND JSON (Main.scala:205-217); here each sink writes
      * the same computed rows (persisted across the fan-out, so the plan
      * executes once, not once per sink). Formats were validated at parse
      * time — no sink can fail on format after another already wrote.
      */
    def writeSinks(df: DataFrame): Unit =
      if (sinks.nonEmpty) {
        df.persist()
        try sinks.foreach { s =>
          s.format match {
            case "avro"    => graft.io.AvroSink.write(df, s.path, table)
            case "json"    => graft.io.JsonSink.write(df, s.path)
            case "parquet" => df.write.mode("overwrite").parquet(s.path)
          }
        } finally df.unpersist(blocking = false)
      }

    /** [[run]] then [[writeSinks]]. */
    def runAndWrite(spark: SparkSession, dir: String): DataFrame = {
      val df = run(spark, dir)
      writeSinks(df)
      df
    }
  }

  private val SinkFormats = Set("avro", "json", "parquet")

  def load(path: String): ReportDef =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  def parse(json: String): ReportDef = {
    val j = JsonMethods.parse(json)
    val table = j \ "table" match {
      case JString(t) => t
      case _ => fail("'table' (string) is required")
    }
    val fields = j \ "fields" match {
      case JArray(fs) => fs.map {
        case JString(f) => f
        case other => fail(s"field paths must be strings, got $other")
      }
      case JNothing => Nil
      case other => fail(s"'fields' must be an array, got $other")
    }
    val where = j \ "where" match {
      case JString(w) => Some(w)
      case JNothing => None
      case other => fail(s"'where' must be a string, got $other")
    }
    val mappings = j \ "mappings" match {
      case JArray(ms) => ms.map(mappingNode)
      case JNothing => Nil
      case other => fail(s"'mappings' must be an array, got $other")
    }
    val ordering = j \ "idOrdering" match {
      case JArray(ids) => FieldOrdering.idFirst(ids.map {
        case JString(s) => s
        case other => fail(s"idOrdering entries must be strings, got $other")
      })
      case JNothing => FieldOrdering.Lexicographic
      case other => fail(s"'idOrdering' must be an array, got $other")
    }
    val sinks = j \ "sinks" match {
      case JArray(ss) => ss.map { sj =>
        (sj \ "format", sj \ "path") match {
          case (JString(f), JString(p)) =>
            // reject HERE: a bad format failing mid-write would leave a
            // partial set of report outputs from an invalid config
            if (!SinkFormats.contains(f))
              fail(s"unsupported sink format '$f' " +
                s"(${SinkFormats.toSeq.sorted.mkString(" | ")})")
            SinkDef(f, p)
          case _ => fail("each sink needs 'format' and 'path' strings: " +
            JsonMethods.compact(sj))
        }
      }
      case JNothing => Nil
      case other => fail(s"'sinks' must be an array, got $other")
    }
    if (fields.isEmpty && mappings.isEmpty)
      fail("a report needs at least one of 'fields' or 'mappings'")
    ReportDef(table, fields, where, mappings, ordering, sinks)
  }

  /** One user-defined mapping: `record` (struct, P6) | `scalar` (flatten,
    * P4) | `constant` (P5). Constant types are inferred from the JSON value
    * or forced with `"type": <DDL>`.
    */
  private def mappingNode(j: JValue): (String, MappingNode) = {
    val name = j \ "name" match {
      case JString(n) => n
      case _ => fail(s"every mapping needs a 'name': ${JsonMethods.compact(j)}")
    }
    (j \ "record", j \ "scalar") match {
      case (JString(rec), _) =>
        val nested = j \ "fields" match {
          case JArray(fs) => fs.map(mappingNode)
          case _ => fail(s"record mapping '$name' needs a 'fields' array")
        }
        name -> MappingNode.Message(rec, nested)
      case (_, JString(path)) =>
        name -> MappingNode.Scalar(path)
      case _ =>
        val v = j \ "constant"
        if (v == JNothing)
          fail(s"mapping '$name' needs one of 'record'/'scalar'/'constant'")
        val dt = j \ "type" match {
          case JString(ddl) => DataType.fromDDL(ddl)
          case _ => v match {
            case _: JString => StringType
            case _: JInt | _: JLong => LongType
            case _: JDouble | _: JDecimal => DoubleType
            case _: JBool => BooleanType
            case JNull => StringType
            case other => fail(s"unsupported constant for '$name': $other")
          }
        }
        val value: Any = v match {
          case JString(s) => s
          case JInt(i) => i.toLong
          case JLong(l) => l
          case JDouble(d) => d
          case JDecimal(d) => d.toDouble
          case JBool(b) => b
          case JNull => null
          case other => fail(s"unsupported constant for '$name': $other")
        }
        name -> MappingNode.Constant(dt, value)
    }
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"report config: $msg")
}
