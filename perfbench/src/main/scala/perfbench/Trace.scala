package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as the traced run saw it: its local properties, its
  * call-site group (see [[SiteSampler]]), and the task counters summed over
  * its stages. Times are epoch milliseconds. */
final class JobRec(val id: Int, val start: Long, val props: Map[String, String]) {
  @volatile var site: String = "other"
  @volatile var end: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  def busyS: Double = if (end < 0) 0.0 else (end - start) / 1000.0
}

/** Records jobs and task metrics while registered. */
final class JobLog extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val sampler = new SiteSampler

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties).map(_.asScala.toMap).getOrElse(Map.empty[String, String])
    val j = new JobRec(e.jobId, e.time, props)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def start(): Unit = sampler.start()

  /** Stops sampling; returns the jobs in id order, each with the group
    * the stream-thread samples taken while it ran show. A streaming query
    * pins every job's recorded call site to where the query started, so
    * the call site itself cannot tell the stores' jobs apart. */
  def finish(): Seq[JobRec] = {
    sampler.halt()
    val all = jobs.values.asScala.toSeq.sortBy(_.id)
    all.foreach(j => j.site = sampler.siteDuring(j.start, if (j.end < 0) j.start else j.end))
    all
  }

  /** Streaming driver-thread time in [start, end] (epoch ms) whose
    * innermost library frame is in `group`'s file. */
  def driverSeconds(group: String, start: Long, end: Long): Double =
    sampler.seconds(group, start, end)

  /** Time in [start, end] (epoch ms) the sampler spent reading stacks,
    * during which the sampled thread is held. */
  def samplingSeconds(start: Long, end: Long): Double = sampler.costSeconds(start, end)
}

object JobLog {
  /** Library source files whose jobs are attributed to their own layer
    * group. The innermost frame on a stack that names one wins, so
    * manifest work done for a store counts as manifest work. */
  val Sites: Seq[(String, String)] = Seq(
    "ManifestLog.scala" -> "manifest", "NearDupIndex.scala" -> "neardup",
    "SubstrIndex.scala" -> "substr", "NgramLmStore.scala" -> "lm")

  def siteOf(stack: Array[StackTraceElement]): String =
    stack.iterator.flatMap(e => Sites.collectFirst { case (f, g) if e.getFileName == f => g })
      .nextOption().getOrElse("other")
}

/** Samples, every 10 ms, the stack of each streaming query's execution
  * thread, where the library's micro-batch code runs and waits for its jobs,
  * and keeps (epoch ms, call-site group) per sample and (epoch ms, ns) per
  * stack read. */
final class SiteSampler extends Thread("perfbench-site-sampler") {
  setDaemon(true)
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
  private val costs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var running = true
  @volatile private var ticks = 0L
  @volatile private var first = 0L
  @volatile private var last = 0L

  private def streamThreads(): Seq[Thread] = {
    var root = Thread.currentThread.getThreadGroup
    while (root.getParent != null) root = root.getParent
    val all = new Array[Thread](root.activeCount() * 2 + 16)
    all.take(root.enumerate(all, true)).toSeq.filter(_.getName.startsWith("stream execution thread"))
  }

  override def run(): Unit = {
    var targets = Seq.empty[Thread]
    var scanned = 0L
    first = System.currentTimeMillis()
    while (running) {
      val now = System.currentTimeMillis()
      if (now - scanned >= 100) { targets = streamThreads(); scanned = now }
      targets.foreach { t =>
        val c0 = System.nanoTime()
        val st = t.getStackTrace
        costs.add(now -> (System.nanoTime() - c0))
        if (st.exists(_.getClassName.startsWith("graft."))) samples.add(now -> JobLog.siteOf(st))
      }
      ticks += 1
      last = now
      Thread.sleep(10)
    }
  }

  /** Samples of `group` in [start, end], times the mean sampling interval. */
  def seconds(group: String, start: Long, end: Long): Double =
    if (ticks < 2) 0.0
    else samples.asScala.count { case (t, g) => g == group && t >= start && t <= end } *
      ((last - first).toDouble / (ticks - 1)) / 1000.0

  def costSeconds(start: Long, end: Long): Double =
    costs.asScala.collect { case (t, ns) if t >= start && t <= end => ns }.sum / 1e9

  def halt(): Unit = { running = false; join() }

  /** The most frequent group sampled in [start, end], else the nearest
    * sample's group within 50 ms of the interval. */
  def siteDuring(start: Long, end: Long): String = {
    val all = samples.asScala.toSeq
    val in = all.filter { case (t, _) => t >= start && t <= end }
    if (in.nonEmpty) in.groupBy(_._2).maxBy(_._2.size)._1
    else {
      val near = all.map { case (t, g) => (math.min(math.abs(t - start), math.abs(t - end)), g) }
        .filter(_._1 <= 50)
      if (near.isEmpty) "other" else near.minBy(_._1)._2
    }
  }
}

/** A span: one op, or one call the benchmark makes inside an op. Times are
  * epoch nanoseconds; `parent` is -1 for an op span. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long,
    counters: Map[String, Double] = Map.empty) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory spans of the traced ops, written out when the run ends.
  * Spark jobs are tied to spans through the `perfbench.span` local
  * property, which Spark copies to every job the calling thread starts. */
final class Tracer(sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private val epoch0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var nextId = 0
  private var log: JobLog = _
  private var current = -1
  private var currentOp = -1

  def now: Long = epoch0 + System.nanoTime()

  /** Starts recording one traced op: registers a fresh job log. */
  def beginOp(): Unit = {
    log = new JobLog
    sc.addSparkListener(log)
    log.start()
  }

  /** Stops recording: waits for the bus, detaches the log and returns it
    * with its jobs. */
  def endOp(): (JobLog, Seq[JobRec]) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(log)
    val l = log
    log = null
    (l, l.finish())
  }

  def span[T](name: String, op: Int)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = if (currentOp == op) current else -1
    val (savedCur, savedOp) = (current, currentOp)
    current = id; currentOp = op
    sc.setLocalProperty("perfbench.span", id.toString)
    val t0 = now
    try body
    finally {
      val t1 = now
      spans += Span(id, parent, op, name, t0, t1)
      current = savedCur; currentOp = savedOp
      sc.setLocalProperty("perfbench.span", if (savedCur < 0) null else savedCur.toString)
    }
  }

  /** Adds a span measured elsewhere (streaming phases, job groups). */
  def add(parent: Int, op: Int, name: String, start: Long, end: Long,
      counters: Map[String, Double] = Map.empty): Int = {
    val id = nextId; nextId += 1
    spans += Span(id, parent, op, name, start, end, counters)
    id
  }

  def recorded: Seq[Span] = spans.toSeq

  /** Attaches each span's directly-owned job counters. */
  def attach(jobs: Seq[JobRec]): Unit = {
    val bySpan = jobs.groupBy(_.props.getOrElse("perfbench.span", ""))
    spans.indices.foreach { i =>
      bySpan.get(spans(i).id.toString).foreach { js =>
        spans(i) = spans(i).copy(counters = spans(i).counters ++ Tracer.counters(js))
      }
    }
  }

  /** Self time: a span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter(k => k._2 > k._1).sortBy(_._1)
    var covered = 0L
    var reach = s.start
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (s.end - s.start - covered) / 1e9
  }

  /** One JSON line per span, with self time. */
  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = java.nio.file.Files.newBufferedWriter(f.toPath)
    try spans.sortBy(s => (s.op, s.start)).foreach { s =>
      val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"dur_s":${s.seconds},""" +
        s""""self_s":${selfSeconds(s)},"counters":{$cs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  def counters(js: Seq[JobRec]): Map[String, Double] = Map(
    "jobs" -> js.size.toDouble,
    "job_busy_s" -> js.map(_.busyS).sum,
    "tasks" -> js.map(_.tasks).sum.toDouble,
    "executor_run_s" -> js.map(_.runMs).sum / 1000.0,
    "gc_s" -> js.map(_.gcMs).sum / 1000.0,
    "input_bytes" -> js.map(_.inputBytes).sum.toDouble,
    "shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
    "spill_bytes" -> js.map(_.spillBytes).sum.toDouble)

  /** Share of [start, end] (epoch ms) during which no job of `js` ran. */
  def idleFrac(js: Seq[JobRec], start: Long, end: Long): Double = {
    if (end <= start) return 0.0
    val iv = js.filter(_.end >= 0).map(j => (math.max(j.start, start), math.min(j.end, end)))
      .filter(i => i._2 > i._1).sortBy(_._1)
    var busy = 0L
    var reach = start
    iv.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { busy += b - from; reach = b }
    }
    1.0 - busy.toDouble / (end - start)
  }
}
