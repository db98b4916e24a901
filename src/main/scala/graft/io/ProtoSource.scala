package graft.io

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.io.ProtoIngest.PMessage

/** DataSource V2 batch source for the reference's proto replay-cache format
  * (S1/S2, `Main.scala:67-120`): text files whose first line is
  * base64(query text) and every following line one base64-encoded serialized
  * proto message.
  *
  * ```
  * ProtoSource.registerDescriptor("ads_row", msg)   // driver-side, once
  * spark.read.format("graft.io.ProtoSource")
  *   .option("descriptor", "ads_row")
  *   .option("expectedQuery", gaqlText)             // optional S2 validity check
  *   .load("/cache/dir")
  * ```
  *
  * Why a DSv2 source rather than `textFile → decode`: the scan IS the
  * integration point where Spark pushes work down, and this source
  * accepts it —
  * **column pruning reaches the wire decoder**: `SupportsPushDownRequiredColumns`
  * prunes the message DESCRIPTOR to the requested fields, and the proto3
  * decoder then skips every other field by wire type without materializing
  * it (the same skip path unknown fields take). A projection of 2 of 40
  * columns decodes 2 columns — the moral equivalent of parquet's
  * `ReadSchema` pruning, applied to protobuf bytes.
  *
  * Scale shape: one input partition per file (the format is line-oriented
  * but file-granular like the reference's cache); readers stream lines
  * through constant memory. The gRPC transport itself is out of scope in
  * this environment (no network/stubs) — this source is the landing path
  * its payloads would take.
  */
class ProtoSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ProtoIngest.structTypeOf(ProtoSource.descriptorFor(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ProtoSource.ProtoTable(new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = false
}

object ProtoSource {

  /** Driver-side descriptor registry: DSv2 options are strings, so the
    * descriptor travels by NAME through `.option("descriptor", name)`; the
    * resolved `PMessage` itself is serialized into the reader factory (so
    * executors never need the registry).
    */
  private val registry = new java.util.concurrent.ConcurrentHashMap[String, PMessage]()

  def registerDescriptor(name: String, msg: PMessage): Unit = {
    registry.put(name, msg); ()
  }

  private[io] def descriptorFor(options: CaseInsensitiveStringMap): PMessage = {
    val name = Option(options.get("descriptor")).getOrElse(
      throw new IllegalArgumentException(
        "graft proto source requires .option(\"descriptor\", <registered name>)"))
    Option(registry.get(name)).getOrElse(
      throw new IllegalArgumentException(
        s"no descriptor registered under '$name' — call ProtoSource.registerDescriptor first"))
  }

  private final class ProtoTable(options: CaseInsensitiveStringMap)
      extends Table with SupportsRead {
    private val msg = descriptorFor(options)
    override def name(): String = s"graft-proto(${msg.name})"
    override def schema(): StructType = ProtoIngest.structTypeOf(msg)
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
      new ProtoScanBuilder(msg,
        Option(opts.get("path")).orElse(Option(options.get("path"))).getOrElse(
          throw new IllegalArgumentException("graft proto source requires a path")),
        Option(options.get("expectedQuery")))
  }

  private final class ProtoScanBuilder(msg: PMessage, path: String,
      expectedQuery: Option[String])
      extends ScanBuilder with SupportsPushDownRequiredColumns
      with SupportsPushDownFilters with SupportsPushDownLimit {
    private var required: StructType = ProtoIngest.structTypeOf(msg)
    private var pushed: Array[sources.Filter] = Array.empty
    private var limit: Int = -1

    override def pruneColumns(requiredSchema: StructType): Unit =
      required = requiredSchema

    // PARTIAL push: each partition reader stops decoding after `limit`
    // emitted rows (post-gate), but partitions are independent, so Spark
    // keeps its global limit above the scan
    override def pushLimit(l: Int): Boolean = { limit = l; true }
    override def isPartiallyPushed(): Boolean = true

    override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
      // accept filters the row-gate can evaluate; Spark re-evaluates every
      // filter above the scan anyway (we return them all as residual), so
      // the gate only ever SKIPS work, never changes results
      pushed = filters.filter(f => RowGate.supports(f, msg))
      filters
    }
    override def pushedFilters(): Array[sources.Filter] = pushed

    override def build(): Scan = {
      // prune the DESCRIPTOR to the required fields, in required-column
      // order — the decoder then wire-skips everything else
      val pruned = PMessage(msg.name,
        required.fieldNames.flatMap(n => msg.fields.find(_.name == n)).toSeq)
      // capture the SESSION's Hadoop conf at plan time (driver-side): it
      // carries configured fs credentials the executors cannot re-derive
      val hconf = new SerializableHadoopConf(
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
      new ProtoScan(pruned, msg, pushed, path, expectedQuery, hconf, limit)
    }
  }

  /** Java-serializable Hadoop `Configuration` carrier: the session's
    * configured filesystem settings/credentials must reach both driver-side
    * listings and executor-side readers — `new Configuration()` would
    * silently drop them on any configured remote filesystem.
    */
  private final class SerializableHadoopConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** One listing RPC; callers take paths AND lengths from it (statistics
    * estimation must not re-fetch per-file status).
    */
  private def listCacheStatuses(path: String,
      conf: Configuration): Seq[(String, Long)] = {
    val fs = FileSystem.get(new java.net.URI(path), conf)
    val p = new HPath(path)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq.filter(_.isFile)
      else Seq(fs.getFileStatus(p))
    files.filterNot(_.getPath.getName.startsWith("_"))
      .map(s => (s.getPath.toString, s.getLen)).sortBy(_._1)
  }

  private def listCacheFiles(path: String, conf: Configuration): Seq[String] =
    listCacheStatuses(path, conf).map(_._1)

  /** Evidence metrics for the two skipped-work claims this source makes:
    * `rowsGated` counts rows the pushed row-gate rejected from the cheap
    * gate-field decode (their full decode never ran), and `fieldsSkipped`
    * counts field decodes avoided by descriptor pruning (pruned fields ×
    * emitted rows). Both surface in the SQL UI per scan and are asserted in
    * `ProtoSourceSpec`.
    */
  private final class RowsGatedMetric extends metric.CustomSumMetric {
    override def name(): String = "rowsGated"
    override def description(): String =
      "rows rejected by the pushed row gate (full decode skipped)"
  }
  private final class FieldsSkippedMetric extends metric.CustomSumMetric {
    override def name(): String = "fieldsSkipped"
    override def description(): String =
      "field decodes avoided by descriptor pruning"
  }
  private final case class ProtoTaskMetric(metricName: String, value: Long)
      extends metric.CustomTaskMetric {
    override def name(): String = metricName
  }

  private final class ProtoScan(msg: PMessage, fullMsg: PMessage,
      filters: Array[sources.Filter], path: String,
      expectedQuery: Option[String], hconf: SerializableHadoopConf,
      limit: Int)
      extends Scan with Batch with SupportsReportStatistics {
    override def readSchema(): StructType = ProtoIngest.structTypeOf(msg)
    override def toBatch: Batch = this
    override def description(): String =
      s"graft-proto ${msg.name} ReadFields: [${msg.fields.map(_.name).mkString(", ")}]" +
        s" PushedRowGate: [${filters.mkString(", ")}]" +
        (if (limit >= 0) s" PushedLimit: $limit" else "")
    override def supportedCustomMetrics(): Array[metric.CustomMetric] =
      Array(new RowsGatedMetric, new FieldsSkippedMetric)

    // ONE listing RPC per Scan, shared by statistics and partition
    // planning: Spark may request statistics several times while planning a
    // single query, and a batch Scan is created fresh per query, so the
    // snapshot can't go stale. Try-wrapped: statistics degrade to "unknown"
    // on a listing failure, while partition planning still surfaces it.
    private lazy val listed: scala.util.Try[Seq[(String, Long)]] =
      scala.util.Try(listCacheStatuses(path, hconf.value))

    /** Size from the cache listing: base64 inflates payloads 4/3, so the
      * decoded relation is ~3/4 of the file bytes. Reporting it lets the
      * optimizer make broadcast/AQE decisions for proto scans instead of
      * assuming `defaultSizeInBytes` (which disables broadcasting).
      */
    override def estimateStatistics(): Statistics = new Statistics {
      private val bytes = listed.map(_.map(_._2).sum).getOrElse(-1L)
      override def sizeInBytes(): java.util.OptionalLong =
        if (bytes < 0) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(math.max(1L, bytes * 3 / 4))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }

    override def planInputPartitions(): Array[InputPartition] =
      listed.get.map(f => ProtoFilePartition(f._1): InputPartition).toArray

    override def createReaderFactory(): PartitionReaderFactory =
      new ProtoReaderFactory(msg, fullMsg, filters, expectedQuery, hconf, limit)

    override def toMicroBatchStream(checkpointLocation: String): streaming.MicroBatchStream =
      new ProtoMicroBatchStream(msg, fullMsg, filters, path, expectedQuery, hconf)
  }

  /** Offset = the LAST CONSUMED file path ("" before any batch). A
    * self-describing offset makes exactly-once independent of listing
    * stability: a batch is "every file strictly greater than the last
    * consumed name", so a file appearing between `latestOffset` and
    * `planInputPartitions` can shift nothing — ranges are by name, not by
    * index. A file sorting BELOW the consumed watermark (a non-monotonic
    * writer) or a deleted watermark file is detected and failed fast
    * rather than silently skipped or double-delivered.
    */
  private final case class ProtoOffset(lastFile: String)
      extends streaming.Offset {
    override def json(): String = lastFile
  }

  /** Micro-batch stream over the cache directory: each batch = the files
    * that appeared since the last committed offset — the streaming shape of
    * the reference's gRPC iterator (S1), landing on its cache format (S2).
    */
  private final class ProtoMicroBatchStream(msg: PMessage, fullMsg: PMessage,
      filters: Array[sources.Filter], path: String,
      expectedQuery: Option[String], hconf: SerializableHadoopConf)
      extends streaming.MicroBatchStream {

    // A file that shows up sorting at-or-below an already-REPORTED offset
    // is invisible to name-range batching (latestOffset = max name doesn't
    // change, so no batch is even planned) — silent data loss, failed fast
    // instead. The bound must be the last offset this stream actually
    // reported/consumed, NOT the max of everything ever listed: files
    // above the reported offset may legitimately become visible in any
    // order and will be range-delivered by the next batch. `seen`
    // distinguishes new files from re-listed ones; size ∝ cache file count
    // (one file per reference fetch), not data.
    private var seen: Set[String] = null
    private var reported: String = null // highest offset handed to the engine

    /** Register a listing; returns files that violate the append-only
      * monotonic-naming contract: NEW (never listed before) but sorting
      * at-or-below `bound`. The first listing is the restart baseline —
      * the checkpoint vouches for everything already present.
      *
      * KNOWN LIMITATION (also in the README's proto-source section): the
      * baseline makes the fail-fast blind across restarts — a file written
      * at-or-below the checkpointed offset WHILE THE STREAM WAS DOWN is
      * present in the first post-restart listing, gets vouched for, and is
      * silently never delivered. Detecting it would need the seen-set
      * persisted alongside the checkpoint (one name per cache file); until
      * then, operators must treat downtime writes below the offset as
      * unrecoverable.
      */
    private def observe(files: Seq[String], bound: String): Seq[String] =
      synchronized {
        val prior = seen
        seen = if (prior == null) files.toSet else prior ++ files
        if (prior == null || bound == null || bound.isEmpty) Nil
        else files.filterNot(prior.contains).filter(_ <= bound)
      }

    private def failLate(late: Seq[String], bound: String): Nothing =
      throw new IllegalStateException(
        s"proto cache file(s) ${late.mkString(", ")} appeared at-or-below " +
          s"'$bound' — non-monotonic naming breaks exactly-once delivery")

    override def initialOffset(): streaming.Offset = ProtoOffset("")
    override def latestOffset(): streaming.Offset = {
      val files = listCacheFiles(path, hconf.value)
      val bound = synchronized(reported)
      val late = observe(files, bound)
      if (late.nonEmpty) failLate(late, s"the last reported offset '$bound'")
      val latest = files.lastOption.getOrElse("")
      synchronized {
        // a latest sorting BELOW an already-reported bound means a consumed
        // cache file vanished from the listing: handing the engine the
        // regressed offset would silently rewind the checkpoint watermark
        if (reported != null && reported.nonEmpty && latest < reported)
          throw new IllegalStateException(
            s"listing of $path regressed below the last reported offset " +
              s"'$reported' (latest visible: '$latest') — a consumed cache " +
              "file disappeared; the cache is not append-only. Cannot " +
              "guarantee exactly-once delivery.")
        if (reported == null || latest > reported) reported = latest
      }
      ProtoOffset(latest)
    }
    override def deserializeOffset(json: String): streaming.Offset = {
      // pre-filename checkpoints stored a plain file COUNT; fail with the
      // real diagnosis instead of a bogus "file disappeared" later
      if (json.nonEmpty && json.forall(_.isDigit))
        throw new IllegalStateException(
          s"checkpoint offset '$json' uses the old file-count format; " +
            "clear the checkpoint directory to restart this stream")
      ProtoOffset(json)
    }

    override def planInputPartitions(start: streaming.Offset,
        end: streaming.Offset): Array[InputPartition] = {
      val s = start.asInstanceOf[ProtoOffset].lastFile
      val e = end.asInstanceOf[ProtoOffset].lastFile
      val files = listCacheFiles(path, hconf.value)
      if (e.nonEmpty && !files.contains(e))
        throw new IllegalStateException(
          s"proto cache offset file '$e' not in the current listing of " +
            s"$path (${files.size} files) — either the cache is not " +
            "append-only (deleted/renamed file) or the checkpoint was " +
            "written against a different path form; clear the checkpoint " +
            "if the cache itself is intact. Cannot guarantee exactly-once.")
      // restart replay: the checkpointed END is an offset this instance has
      // reported even if latestOffset never ran in this process
      synchronized {
        if (e.nonEmpty && (reported == null || e > reported)) reported = e
      }
      // catches the listing race between latestOffset and here
      val late = observe(files, s)
      if (late.nonEmpty) failLate(late, s"the consumed offset '$s'")
      files.filter(f => f > s && f <= e)
        .map(f => ProtoFilePartition(f): InputPartition).toArray
    }

    override def createReaderFactory(): PartitionReaderFactory =
      new ProtoReaderFactory(msg, fullMsg, filters, expectedQuery, hconf,
        limit = -1) // limits are not pushed into streams

    override def commit(end: streaming.Offset): Unit = ()
    override def stop(): Unit = ()
  }

  private final case class ProtoFilePartition(file: String) extends InputPartition

  private final class ProtoReaderFactory(msg: PMessage, fullMsg: PMessage,
      filters: Array[sources.Filter], expectedQuery: Option[String],
      hconf: SerializableHadoopConf, limit: Int) extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      new ProtoPartitionReader(
        partition.asInstanceOf[ProtoFilePartition].file, msg, fullMsg, filters,
        expectedQuery, hconf.value, limit)
  }

  private final class ProtoPartitionReader(file: String, msg: PMessage,
      fullMsg: PMessage, filters: Array[sources.Filter],
      expectedQuery: Option[String], conf: Configuration, limit: Int)
      extends PartitionReader[InternalRow] {
    private val plan = new ProtoIngest.DecodePlan(msg)
    private val stream = FileSystem.get(new java.net.URI(file), conf)
      .open(new HPath(file))
    private val lines = new java.io.BufferedReader(
      new java.io.InputStreamReader(stream, "UTF-8"))
    private val b64 = java.util.Base64.getDecoder

    // first line = base64(query text); replay only if it matches (S2 rule)
    locally {
      val header = lines.readLine()
      expectedQuery.foreach { q =>
        val cached = Option(header).map(h => new String(b64.decode(h), "UTF-8"))
        if (!cached.contains(q))
          throw new IllegalStateException(
            s"cache holds a different query (${cached.getOrElse("<empty>")}); refetch required")
      }
    }

    // two-phase decode (lazy materialization): when filters are pushed,
    // decode ONLY their fields first and skip the full decode for rows that
    // fail — the selective-scan shape where most bytes are never parsed
    private val gate: Array[Byte] => Boolean =
      if (filters.isEmpty) null
      else {
        val gateFields = filters.flatMap(RowGate.references).distinct
        val gateMsg = PMessage(fullMsg.name,
          gateFields.flatMap(n => fullMsg.fields.find(_.name == n)).toSeq)
        val gatePlan = new ProtoIngest.DecodePlan(gateMsg)
        val tests = filters.map(RowGate.compile(_, ProtoIngest.structTypeOf(gateMsg)))
        (bytes: Array[Byte]) => {
          val r = gatePlan.decode(bytes)
          var i = 0
          while (i < tests.length && tests(i)(r)) i += 1
          i == tests.length
        }
      }

    private var current: InternalRow = _
    private var lineNo = 1 // the header
    private var gated = 0L
    private var emitted = 0L
    private val prunedFields = (fullMsg.fields.size - msg.fields.size).toLong

    override def next(): Boolean = {
      if (limit >= 0 && emitted >= limit) return false // pushed (partial) limit
      var line = lines.readLine()
      while (line != null && line.nonEmpty) {
        lineNo += 1
        val row = try {
          val bytes = b64.decode(line)
          if (gate == null || gate(bytes)) plan.decode(bytes) else null
        } catch {
          case e: IllegalArgumentException => throw new ProtoIngest.MalformedProtoException(
            s"$file line $lineNo: ${e.getMessage}", e)
        }
        if (row != null) {
          current = row
          emitted += 1
          return true
        }
        gated += 1
        line = lines.readLine()
      }
      false
    }

    override def get(): InternalRow = current
    override def close(): Unit = lines.close()

    override def currentMetricsValues(): Array[metric.CustomTaskMetric] = Array(
      ProtoTaskMetric("rowsGated", gated),
      ProtoTaskMetric("fieldsSkipped", emitted * prunedFields))
  }

  /** Conservative evaluator for pushed filters against a decoded gate row:
    * supports simple comparisons on top-level non-repeated scalar fields.
    * Unsupported filters are simply not pushed (Spark evaluates everything
    * above the scan regardless), so this can only skip work, never change a
    * result. Null semantics: any comparison on null is false (SQL), matching
    * the residual Spark filter.
    */
  private object RowGate {
    import org.apache.spark.sql.sources._

    private def gateable(name: String, msg: PMessage): Boolean =
      msg.fields.exists(f => f.name == name && !f.repeated && (f.ptype match {
        case ProtoIngest.PNested(_) | _: ProtoIngest.PNestedRec |
             _: ProtoIngest.PMap | ProtoIngest.PBytes => false
        case _ => true
      }))

    def supports(f: Filter, msg: PMessage): Boolean = f match {
      case EqualTo(a, v)            => gateable(a, msg) && comparable(v)
      case GreaterThan(a, v)        => gateable(a, msg) && comparable(v)
      case GreaterThanOrEqual(a, v) => gateable(a, msg) && comparable(v)
      case LessThan(a, v)           => gateable(a, msg) && comparable(v)
      case LessThanOrEqual(a, v)    => gateable(a, msg) && comparable(v)
      case In(a, vs)                => gateable(a, msg) && vs.forall(comparable)
      case IsNull(a)                => gateable(a, msg)
      case IsNotNull(a)             => gateable(a, msg)
      case And(l, r)                => supports(l, msg) && supports(r, msg)
      case _                        => false
    }

    private def comparable(v: Any): Boolean = v match {
      case _: Long | _: Int | _: Short | _: Byte | _: Double | _: Float |
           _: String | _: Boolean => true
      case _ => false
    }

    def references(f: Filter): Seq[String] = f.references.toSeq

    private def integral(n: Number): Boolean = n match {
      case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
           _: java.lang.Byte => true
      case _ => false
    }

    // Integral pairs compare as longs — int64 values >= 2^53 are not
    // representable in double, and a lossy compare here SKIPS rows at the
    // scan that the residual Spark filter never sees again (silent wrong
    // results, not just wasted work). Mixed integral/fractional pairs
    // compare exactly through BigDecimal (both conversions are exact);
    // NaN sorts greater than everything, matching Spark's ordering. Strings
    // compare as UTF-8 bytes, Spark's own string order. NoOrder: the pair
    // does not compare, so no comparison filter accepts it.
    private final val NoOrder = Int.MinValue
    private def cmp(x: Any, v: Any): Int = (x, v) match {
      case (a: Number, b: Number) if integral(a) && integral(b) =>
        java.lang.Long.compare(a.longValue(), b.longValue())
      case (a: Number, b: Number) =>
        // NaN sorts greatest (Spark ordering); ±Infinity would blow up
        // BigDecimal's double constructor, so it compares directly — both
        // are non-finite guards on the mixed paths below
        def nonFinite(d: Double): Boolean =
          java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)
        (integral(a), integral(b)) match {
          case (false, false) =>
            java.lang.Double.compare(a.doubleValue(), b.doubleValue())
          case (true, false) =>
            val d = b.doubleValue()
            if (nonFinite(d)) { if (d == Double.NegativeInfinity) 1 else -1 }
            else java.math.BigDecimal.valueOf(a.longValue())
              .compareTo(new java.math.BigDecimal(d))
          case (false, true) =>
            val d = a.doubleValue()
            if (nonFinite(d)) { if (d == Double.NegativeInfinity) -1 else 1 }
            else new java.math.BigDecimal(d)
              .compareTo(java.math.BigDecimal.valueOf(b.longValue()))
          case _ => NoOrder // unreachable
        }
      case (a: UTF8String, b: UTF8String) => a.binaryCompare(b)
      case (a: Boolean, b: Boolean) => java.lang.Boolean.compare(a, b)
      case _ => NoOrder
    }

    /** Compiles a pushed filter into a test of a gate row decoded with
      * `schema`: each referenced field is read by its ordinal, and string
      * literals are encoded once. SQL null semantics: a comparison with a
      * null field is false.
      */
    def compile(f: Filter, schema: StructType): InternalRow => Boolean = {
      def compare(a: String, v: Any)(accept: Int => Boolean): InternalRow => Boolean = {
        val i = schema.fieldIndex(a)
        val dt = schema(i).dataType
        val lit = v match {
          case s: String => UTF8String.fromString(s)
          case other => other
        }
        r => !r.isNullAt(i) && { val c = cmp(r.get(i, dt), lit); c != NoOrder && accept(c) }
      }
      f match {
        case EqualTo(a, v)            => compare(a, v)(_ == 0)
        case GreaterThan(a, v)        => compare(a, v)(_ > 0)
        case GreaterThanOrEqual(a, v) => compare(a, v)(_ >= 0)
        case LessThan(a, v)           => compare(a, v)(_ < 0)
        case LessThanOrEqual(a, v)    => compare(a, v)(_ <= 0)
        case In(a, vs) =>
          val tests = vs.map(v => compare(a, v)(_ == 0))
          r => tests.exists(_(r))
        case IsNull(a)    => val i = schema.fieldIndex(a); r => r.isNullAt(i)
        case IsNotNull(a) => val i = schema.fieldIndex(a); r => !r.isNullAt(i)
        case And(l, rr) =>
          val (lt, rt) = (compile(l, schema), compile(rr, schema))
          r => lt(r) && rt(r)
        case _ => _ => true // never pushed; defensive
      }
    }
  }
}
