package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.io.{AvroSink, JsonSink, ProtoSource}
import graft.plan.ReportConfig

/** The paper's workload: a declared report over a proto replay cache,
  * written to Avro and JSON. An op is one report over one slice of the
  * cache; an item is one proto message.
  *
  * The op is `ReportConfig.runAndWrite`'s body — WHERE plus projection via
  * `applyTo`, the frame persisted across the sink fan-out, each declared
  * sink written — over a `ProtoSource` scan of the slice: `runAndWrite`
  * itself reads only parquet tables.
  */
final class ProtoReport(o: Options, cpus: Int) extends Workload {
  val name = "proto_report"
  val tailPercentile = 0.54

  /** A slice is a sixteenth of the paper's report of 207,971 rows (to a
    * multiple of the core count): large enough that the executors' decode
    * and encode take most of an op, small enough for about 25 ops in a run.
    * Ops cycle through `SliceCount` distinct slices, a quarter of the
    * report, so that generating them stays a small part of set-up. */
  val PaperRows = 207971
  val SliceCount = 4
  val MessagesPerSlice: Int = PaperRows / 16 / cpus * cpus
  val WarmupOps = 3

  private val in = new File(o.work, "cache")
  private val out = new File(o.work, "out")
  private var spark: SparkSession = _
  private var slices: IndexedSeq[ProtoGen.Slice] = IndexedSeq.empty
  private var outBytes = 0L
  private var outItems = 0L
  private var avroBytes = 0L
  private var jsonBytes = 0L
  private var rowsOut = 0L
  private val compileS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val avroS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val jsonS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var probeRows = 0L
  private var probeSeconds = 0.0
  private var scanRows = 0L
  private var scanGated = 0L
  private var scanSkipped = 0L

  def sizes: Seq[(String, Any)] = Seq(
    "slices" -> SliceCount, "messages_per_slice" -> MessagesPerSlice,
    "files_per_slice" -> cpus, "cache_bytes" -> slices.map(_.bytes).sum,
    "rows_per_slice" -> slices.map(_.rows).mkString("[", ",", "]"))

  def setup(s: SparkSession): Unit = {
    spark = s
    Stats.deleteTree(in)
    Stats.deleteTree(out)
    val perFile = MessagesPerSlice / cpus
    // one generator thread per core; each slice depends only on (seed, i)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try slices = (0 until SliceCount).map { i =>
      pool.submit(new java.util.concurrent.Callable[ProtoGen.Slice] {
        def call(): ProtoGen.Slice =
          ProtoGen.writeSlice(new File(in, f"slice-$i%03d"), o.seed, i, cpus, perFile)
      })
    }.map(_.get)
    finally pool.shutdown()
    Main.log(s"cache written: ${slices.map(_.bytes).sum} bytes")
    o.inject.foreach(inject(_, slices(0)))
    ProtoSource.registerDescriptor(ProtoGen.DescriptorName, ProtoGen.AdsRow)
    // warm-up: JIT, codegen caches and the first-use class loading
    (0 until WarmupOps).foreach(i => op(-1 - i, slices((i + 1) % SliceCount), None))
  }

  /** Test hook: corrupts the input or the expected digest of one slice. */
  private def inject(kind: String, s: ProtoGen.Slice): Unit = kind match {
    case "corrupt_proto" =>
      val f = new File(s.dir, "part-000.txt")
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      lines.set(1, "%corrupt%")
      java.nio.file.Files.write(f.toPath, lines)
    case "bad_hash" =>
      slices = slices.updated(0, s.copy(hash = s.hash + 1))
    case other => throw new IllegalArgumentException(s"unknown injection '$other'")
  }

  private def source(dir: File): DataFrame =
    spark.read.format("graft.io.ProtoSource")
      .option("descriptor", ProtoGen.DescriptorName)
      .option("expectedQuery", ProtoGen.QueryText)
      .load(dir.getAbsolutePath)

  private def op(id: Int, slice: ProtoGen.Slice, tracer: Option[Tracer]): OpRec = {
    val a = new File(out, s"avro-$id")
    val j = new File(out, s"json-$id")
    def span[T](n: String)(body: => T): T = tracer.fold(body)(_.span(n, id)(body))
    tracer.foreach(_.beginOp())
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var probe = 0.0
    val ok = scala.util.Try {
      span("op") {
        val (rep, df) = span("plan.compile") {
          val rep = ReportConfig.parse(ProtoGen.reportJson(a.getAbsolutePath, j.getAbsolutePath))
          val df = rep.applyTo(source(slice.dir))
          if (tracer.isDefined) df.queryExecution.executedPlan
          (rep, df)
        }
        if (tracer.isDefined) {
          val p0 = System.nanoTime()
          span("io.decode_probe")(probeScan(df, slice))
          probe = (System.nanoTime() - p0) / 1e9
        }
        df.persist()
        try rep.sinks.foreach { s =>
          s.format match {
            case "avro" => span("io.avro_write")(AvroSink.write(df, s.path, rep.table))
            case "json" => span("io.json_write")(JsonSink.write(df, s.path))
          }
        } finally df.unpersist(blocking = false)
      }
    }.isSuccess
    val secs = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val jobs = tracer.map(_.endOp()._2).getOrElse(Nil)
    tracer.foreach { t =>
      t.attach(jobs)
      t.recorded.filter(_.op == id).foreach { s =>
        s.name match {
          case "plan.compile" => compileS += s.seconds
          case "io.avro_write" => avroS += s.seconds
          case "io.json_write" => jsonS += s.seconds
          case _ =>
        }
      }
    }
    val checked = ok && check(slice, a, j)
    Stats.deleteTree(a)
    Stats.deleteTree(j)
    OpRec(id, slice.messages, secs, checked, tracer.isDefined, startMs, endMs, jobs, probe)
  }

  /** Scan, WHERE and projection into the `noop` sink; reads the scan's own
    * skip counters off the executed plan. */
  private def probeScan(df: DataFrame, slice: ProtoGen.Slice): Unit = {
    var qe: QueryExecution = null
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, q: QueryExecution, d: Long): Unit = qe = q
      override def onFailure(f: String, q: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val t0 = System.nanoTime()
    try df.write.format("noop").mode("overwrite").save()
    finally {
      probeSeconds += (System.nanoTime() - t0) / 1e9
      probeRows += slice.messages
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    if (qe != null) {
      val scans = graft.plans.PlanWalk.collectAll(qe.executedPlan) {
        case b if b.getClass.getSimpleName == "BatchScanExec" => b
      }
      scans.foreach { b =>
        scanRows += slice.messages
        scanGated += b.metrics.get("rowsGated").map(_.value).getOrElse(0L)
        scanSkipped += b.metrics.get("fieldsSkipped").map(_.value).getOrElse(0L)
      }
    }
  }

  private def check(slice: ProtoGen.Slice, a: File, j: File): Boolean = {
    val av = Canon.avroDigest(a)
    val js = Canon.jsonDigest(j)
    val ab = Stats.dirBytes(a)
    val jb = Stats.dirBytes(j)
    outBytes += ab + jb
    outItems += slice.messages
    avroBytes += ab
    jsonBytes += jb
    rowsOut += av._1
    av == (slice.rows, slice.hash) && js == (slice.rows, slice.hash)
  }

  def run(deadlineNs: Long, tracer: Option[Tracer]): Seq[OpRec] = {
    outBytes = 0L; outItems = 0L; avroBytes = 0L; jsonBytes = 0L; rowsOut = 0L
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpRec]
    var i = 0
    while (System.nanoTime() < deadlineNs) {
      ops += op(i, slices(i % SliceCount), tracer.filter(_ => i % 2 == 1))
      i += 1
    }
    ops.toSeq
  }

  def storedBytesPerItem: Double = outBytes.toDouble / outItems

  def layerMetrics(ops: Seq[OpRec]): Map[String, Double] = {
    val fields = ProtoGen.AdsRow.fields.size.toDouble
    Map(
      "plan.compile_s" -> Stats.median(compileS.toSeq),
      "io.decode_rows_per_s" -> probeRows / probeSeconds,
      "io.fields_skipped_frac" -> scanSkipped / (fields * scanRows),
      "io.rows_gated_frac" -> scanGated.toDouble / scanRows,
      "io.avro_write_s" -> Stats.median(avroS.toSeq),
      "io.json_write_s" -> Stats.median(jsonS.toSeq),
      "io.avro_bytes_per_row" -> avroBytes.toDouble / rowsOut,
      "io.json_bytes_per_row" -> jsonBytes.toDouble / rowsOut)
  }
}
