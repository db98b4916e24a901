package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One timed op. `startMs`/`endMs` bound its wall interval (epoch ms) and
  * `jobs` holds its Spark jobs when it was traced. `probeS` is time a traced
  * op spent in probes that an untraced op does not run. */
final case class OpRec(id: Int, items: Long, seconds: Double, ok: Boolean,
    traced: Boolean = false, startMs: Long = 0L, endMs: Long = 0L,
    jobs: Seq[JobRec] = Nil, probeS: Double = 0.0)

/** A workload: seeded inputs, a closed loop of ops by one client, an output
  * check after each op, and the layer metrics of its traced ops. */
trait Workload {
  def name: String
  /** The op-latency percentile reported as `op_tail_s`: the highest one
    * with at least ten ops beyond it in a run of the declared length, or
    * 1.0 (the slowest op) where a run holds fewer than eleven ops. */
  def tailPercentile: Double
  /** Input generation, store seeding and warm-up; leaves the workload ready
    * for its first timed op. */
  def setup(spark: SparkSession): Unit
  /** Runs ops until `deadlineNs` (System.nanoTime), tracing the ops the
    * workload chooses when given a tracer. */
  def run(deadlineNs: Long, tracer: Option[Tracer]): Seq[OpRec]
  def storedBytesPerItem: Double
  def sizes: Seq[(String, Any)]
  /** This workload's own layer metrics, from its traced ops. */
  def layerMetrics(ops: Seq[OpRec]): Map[String, Double]
}

final case class Options(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: File, traceOut: Option[File], inject: Option[String] = None)

object Main {

  def parse(args: Array[String]): Options = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Catalog.Workloads.contains(w), s"unknown workload '$w' (${Catalog.Workloads.mkString(" | ")})")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be >= 1")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Options(w, need("seed").toLong, seconds, trace, new File(need("work")),
      kv.get("trace-out").map(new File(_)), kv.get("inject"))
  }

  def workload(o: Options, cpus: Int): Workload = o.workload match {
    case "proto_report" => new ProtoReport(o, cpus)
    case "text_ingest" => new TextIngest(o, cpus)
  }

  def session(o: Options, cpus: Int): SparkSession = {
    val s = graft.GraftSession.builder("perfbench")
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cpus(): Int = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      throw new IllegalStateException("SPARK_GRAFT_CPUS must be set to the core count"))
    val n = scala.util.Try(raw.trim.toInt).getOrElse(0)
    require(n >= 1, s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'")
    n
  }

  final case class Result(info: String, json: String)

  def run(o: Options): Result = {
    val n = cpus()
    val w = workload(o, n)
    // one set-up per JVM, so `setup_s` includes first-use costs (class
    // loading, session start, first codegen) that a repeated set-up skips
    val t0 = System.nanoTime()
    val spark = session(o, n)
    w.setup(spark)
    val setupS = (System.nanoTime() - t0) / 1e9
    log(f"set-up took $setupS%.2f s")
    val tracer = if (o.trace) Some(new Tracer(spark.sparkContext)) else None
    val ops = w.run(System.nanoTime() + o.seconds * 1000000000L, tracer)
    require(ops.nonEmpty, "no op completed")
    require(!o.trace || ops.exists(_.traced), "the traced run completed no traced op")
    log(s"${ops.size} ops done, seconds: ${ops.map(o => f"${o.seconds}%.3f").mkString(" ")}")
    val failed = ops.count(!_.ok)
    val lat = ops.map(_.seconds).sorted
    val beyond = ops.size - math.ceil(w.tailPercentile * ops.size).toInt
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("items_per_s", ops.map(_.items).sum / ops.map(_.seconds).sum, "items/s"),
        ("op_p50_s", Stats.percentile(lat, 0.5), "s"),
        ("op_tail_s", Stats.percentile(lat, w.tailPercentile), "s"),
        ("setup_s", setupS, "s"),
        ("peak_rss_mb", Stats.peakRssMb(), "MB"),
        ("stored_bytes_per_item", w.storedBytesPerItem, "B/item"),
        ("ok_frac", (ops.size - failed).toDouble / ops.size, "ratio"))
      case Some(t) =>
        val layers = Map("trace.overhead_frac" -> Stats.overhead(ops)) ++
          Stats.sparkMetrics(ops) ++ w.layerMetrics(ops)
        o.traceOut.foreach(t.write)
        Catalog.PerLayer.map(m => (m.name, layers.getOrElse(m.name, 0.0), m.unit))
    }
    val tags = if (o.trace) Catalog.PerLayer.map(m =>
      s""""${m.name}":{"moves":"${m.moves}","on":"${m.on}"}""").mkString(""","moves":{""", ",", "}") else ""
    val info = s"""{"perfbench":{"workload":"${w.name}","seed":${o.seed},"trace":${o.trace},""" +
      s""""cpus":$n,"ops":${ops.size},"traced_ops":${ops.count(_.traced)},""" +
      s""""tail_percentile":${w.tailPercentile},"ops_beyond_tail":$beyond,""" +
      s""""setup_s":$setupS,""" +
      w.sizes.map { case (k, v) => s""""$k":$v""" }.mkString(""""sizes":{""", ",", "}") + tags + "}}"
    val ms = metrics.map { case (k, v, u) => s""""$k":{"value":${Stats.num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    val json = s"""{"correct":${failed == 0},"attempted":${ops.size},"failed":$failed,"metrics":$ms}"""
    Result(info, json)
  }

  /** Progress on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(
    f"perfbench [${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s] $msg")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val r = try run(o) finally SparkSession.getActiveSession.foreach(_.stop())
    log("session stopped")
    println(r.info)
    println(r.json)
  }
}

object Stats {
  /** Nearest-rank percentile of sorted values. */
  def percentile(sorted: Seq[Double], p: Double): Double =
    sorted(math.min(sorted.size - 1, math.max(0, math.ceil(p * sorted.size).toInt - 1)))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else v.toString

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  def dirFiles(f: File): Long =
    if (f.isFile) 1L
    else Option(f.listFiles()).toSeq.flatten.map(dirFiles).sum

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Traced ops' median wall time, net of probes, over untraced ops'. */
  def overhead(ops: Seq[OpRec]): Double = {
    val (t, u) = ops.partition(_.traced)
    if (t.isEmpty || u.isEmpty) 0.0
    else median(t.map(o => o.seconds - o.probeS)) / median(u.map(_.seconds)) - 1.0
  }

  /** Engine counters per traced op. */
  def sparkMetrics(ops: Seq[OpRec]): Map[String, Double] = {
    val t = ops.filter(_.traced)
    if (t.isEmpty) return Map.empty
    def per(f: JobRec => Double): Double = t.map(_.jobs.map(f).sum).sum / t.size
    Map(
      "spark.jobs_per_op" -> t.map(_.jobs.size).sum.toDouble / t.size,
      "spark.driver_idle_frac" -> median(t.map(o => Tracer.idleFrac(o.jobs, o.startMs, o.endMs))),
      "spark.executor_busy_s" -> per(_.runMs / 1000.0),
      "spark.tasks_per_op" -> per(_.tasks.toDouble),
      "spark.input_bytes_per_op" -> per(_.inputBytes.toDouble),
      "spark.shuffle_bytes_per_op" -> per(_.shuffleBytes.toDouble),
      "spark.spill_bytes_per_op" -> per(_.spillBytes.toDouble),
      "spark.gc_s_per_op" -> per(_.gcMs / 1000.0))
  }

  /** Jobs per op and busy seconds per op of one call-site group. */
  def extGroup(group: String, ops: Seq[OpRec]): Map[String, Double] = {
    val t = ops.filter(_.traced)
    if (t.isEmpty) return Map.empty
    val js = t.map(_.jobs.filter(_.site == group))
    Map(s"ext.$group.jobs" -> js.map(_.size).sum.toDouble / t.size,
      s"ext.$group.busy_s" -> js.map(_.map(_.busyS).sum).sum / t.size)
  }
}
