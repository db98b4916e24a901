package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.plan.CurationConfig
import graft.streaming.EventStream

/** The production ingest loop: document batches streamed through a
  * declared curation pipeline whose gates each keep a persisted store and
  * append every batch's survivors to it. An op is one micro-batch (one
  * batch file); its latency is the micro-batch's `triggerExecution`. An
  * item is one document.
  *
  * Each op is one `runConfigPipeline` call over one new batch file, which
  * it runs as one micro-batch. A traced run traces every op, so that
  * `ext.append_growth` compares the first and last quarters of all of them.
  */
final class TextIngest(o: Options, cpus: Int) extends Workload {
  val name = "text_ingest"
  val tailPercentile = 1.0

  private val gen = new TextGen(o.seed)
  private val stores = new File(o.work, "stores")
  private val in = new File(o.work, "in")
  private var spark: SparkSession = _
  private var pipeline: CurationConfig.PipelineDef = _
  private var nextBatch = 0
  private var docsIn = 0L
  // store bytes and documents in when the timed ops start
  private var bytesAtRun = 0L
  private var docsAtRun = 0L
  private var inputBytes = 0L
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  // per traced batch: (store files added, store bytes added, docs)
  private val growth = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
  private val overheadS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val manifestS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val sampleS = scala.collection.mutable.ArrayBuffer.empty[Double]

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def pipelineJson: String = {
    def p(n: String) = new File(stores, n).getAbsolutePath
    s"""{"table": "documents", "id": "doc_id", "text": "text",
       | "stages": [
       |   {"stage": "exact_dedup"},
       |   {"stage": "neardup_gate", "path": "${p("neardup")}", "numHashes": 16,
       |    "bands": 4, "maxBucket": 100, "threshold": 0.8},
       |   {"stage": "substr_gate", "path": "${p("substr")}", "k": 8},
       |   {"stage": "lm_gate", "path": "${p("lm")}", "loMicro": 0}]}""".stripMargin
  }

  def sizes: Seq[(String, Any)] = Seq(
    "history_docs" -> gen.historyDocs, "batch_docs" -> gen.batchDocs,
    "fresh_per_batch" -> gen.fresh, "batches" -> nextBatch,
    "docs_streamed" -> (docsIn - gen.historyDocs), "input_bytes" -> inputBytes)

  def setup(s: SparkSession): Unit = {
    spark = s
    Main.log("session started")
    Seq(stores, in).foreach(Stats.deleteTree)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    pipeline = CurationConfig.parse(pipelineJson)
    // seeding and warm-up at once: the history streams as two micro-batches,
    // the first building every gate's store and the second gating against
    // them as the timed batches do; each must keep all its documents and is
    // checked but not timed
    gen.history.grouped((gen.historyDocs + 1) / 2).zipWithIndex.foreach { case (half, i) =>
      require(stream(s"history-$i", -1 - i, half, half.map(_._1).toSet, None).ok,
        s"history batch $i failed its check")
    }
  }

  /** Streams the next batch. */
  private def call(traced: Option[Tracer]): OpRec = {
    val b = nextBatch
    nextBatch += 1
    val (docs, keep) = gen.batch(b)
    stream(f"b$b%06d", b, docs, keep, traced)
  }

  /** Streams one file of documents through one `runConfigPipeline` call,
    * which runs it as one micro-batch; the op passes if exactly `keep`
    * survives. */
  private def stream(name: String, b: Int, docs: Seq[(Long, String)], keep: Set[Long],
      traced: Option[Tracer]): OpRec = {
    val dir = new File(in, name)
    inputBytes += gen.writeJsonLines(new File(dir, "batch.json"), docs.iterator)
    docsIn += docs.size
    val filesBefore = Stats.dirFiles(stores)
    val bytesBefore = Stats.dirBytes(stores)
    progress.clear()
    traced.foreach(_.beginOp())
    val incoming = spark.readStream.schema(Schema).json(dir.getAbsolutePath)
    val survivors = scala.util.Try(
      EventStream.runConfigPipeline(incoming, pipeline, o.work.getAbsolutePath, s"perfbench-$name")
        .select("doc_id").collect().map(_.getLong(0)).toSet)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val ended = traced.map(_.endOp())
    val p = progress.asScala.find(_.numInputRows > 0)
    val dur: Map[String, Long] =
      p.map(_.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap).getOrElse(Map.empty)
    val secs = dur.getOrElse("triggerExecution", 0L) / 1000.0
    val startMs = p.map(x => java.time.Instant.parse(x.timestamp).toEpochMilli).getOrElse(0L)
    val endMs = startMs + dur.getOrElse("triggerExecution", 0L)
    val jobs = (for (x <- p; (_, js) <- ended) yield js.filter(j =>
      j.props.get("streaming.sql.batchId").contains(x.batchId.toString) &&
        j.props.get("sql.streaming.queryId").contains(x.id.toString))).getOrElse(Nil)
    for (t <- traced; x <- p; (log, _) <- ended) {
      addSpans(t, b, x, startMs, jobs)
      manifestS += log.driverSeconds("manifest", startMs, endMs)
      sampleS += log.samplingSeconds(startMs, endMs)
      overheadS += (dur.getOrElse("triggerExecution", 0L) - dur.getOrElse("addBatch", 0L)) / 1000.0
      growth += (((Stats.dirFiles(stores) - filesBefore).toDouble,
        (Stats.dirBytes(stores) - bytesBefore).toDouble, docs.size.toDouble))
    }
    OpRec(b, docs.size, secs, p.isDefined && survivors.toOption.contains(keep),
      traced.isDefined, startMs, endMs, jobs)
  }

  /** The micro-batch's spans: its streaming phases, laid out in execution
    * order from their durations, and under `addBatch` one span per
    * call-site group of its jobs. */
  private def addSpans(t: Tracer, b: Int, p: StreamingQueryProgress, startMs: Long,
      jobs: Seq[JobRec]): Unit = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val ms = 1000000L
    val s0 = startMs * ms
    val root = t.add(-1, b, "op", s0, s0 + d.getOrElse("triggerExecution", 0L) * ms,
      Tracer.counters(jobs))
    var at = s0
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { phase =>
        d.get(phase).foreach { len =>
          val id = t.add(root, b, s"streaming.$phase", at, at + len * ms)
          if (phase == "addBatch") jobs.groupBy(_.site).foreach { case (site, js) =>
            t.add(id, b, s"ext.$site", js.map(_.start).min * ms,
              js.map(j => if (j.end < 0) j.start else j.end).max * ms, Tracer.counters(js))
          }
          at += len * ms
        }
      }
  }

  def run(deadlineNs: Long, tracer: Option[Tracer]): Seq[OpRec] = {
    bytesAtRun = Stats.dirBytes(stores)
    docsAtRun = docsIn
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpRec]
    while (System.nanoTime() < deadlineNs) ops += call(tracer)
    ops.toSeq
  }

  /** Store bytes the timed batches added, per document they streamed; the
    * seeded history is set-up's, and counting it would tie the figure to
    * how many batches a run completes. */
  def storedBytesPerItem: Double = (Stats.dirBytes(stores) - bytesAtRun).toDouble / (docsIn - docsAtRun)

  def layerMetrics(ops: Seq[OpRec]): Map[String, Double] = {
    val t = ops.filter(_.traced)
    val storeBusy = t.map(_.jobs.filter(j => j.site != "other").map(_.busyS).sum)
    require(storeBusy.size >= 2, "ext.append_growth needs at least two traced batches")
    val q = math.max(1, storeBusy.size / 4)
    // ManifestLog works through the filesystem API and starts no Spark
    // job, so its busy time is the driver time sampled inside it
    Seq("neardup", "substr", "lm", "manifest").flatMap(g => Stats.extGroup(g, ops)).toMap ++ Map(
      "ext.manifest.busy_s" -> manifestS.sum / math.max(1, manifestS.size),
      "streaming.batch_overhead_s" -> Stats.median(overheadS.toSeq),
      "ext.append_growth" -> Stats.median(storeBusy.takeRight(q)) / Stats.median(storeBusy.take(q)),
      // every op is traced, so the overhead is the time the sampler held
      // the stream thread, over the ops' time
      "trace.overhead_frac" -> sampleS.sum / t.map(_.seconds).sum,
      "ext.store_files_per_batch" -> growth.map(_._1).sum / math.max(1, growth.size),
      "ext.bytes_written_per_doc" -> growth.map(_._2).sum / growth.map(_._3).sum)
  }
}
