package graft

import org.apache.spark.sql.SparkSession

/** One place for session defaults, tuned for the target execution model:
  * local[N] while testing, many-executor clusters at 100 TB. Everything here
  * is also correct on a real cluster — nothing is local-mode-only.
  *
  * Two defaults keep whole-stage codegen warm across calls that each start
  * a streaming query ([[graft.streaming.EventStream.runConfigPipeline]]
  * runs one per micro-batch file):
  *  - `spark.sql.artifact.isolation.enabled=false`. A streaming query runs
  *    on a clone of the caller's session, and with isolation on the
  *    executor gives every cloned session its own classloader. Spark's
  *    codegen cache is keyed by (classloader, code), so each new query
  *    recompiled every task-side class whose code was byte-identical one
  *    call earlier (113–185 compiles per streamed text-ingest call). The
  *    library adds no jars, artifacts or files to a session, so isolation
  *    buys it nothing; with it off, every session of the application runs
  *    tasks under the one executor classloader.
  *  - `spark.sql.codegen.cache.maxEntries=1000`. With one classloader, the
  *    streamed gate loop's steady-state working set is ~200 generated
  *    classes (~120 task-side, ~80 driver-side); Spark's default of 100
  *    evicts them in rotation and each call still recompiled ~170. 1,000
  *    leaves headroom for larger pipelines.
  * Both are static or creation-time confs, so the builder is the only
  * place they take effect.
  */
object GraftSession {

  /** Local parallelism from `SPARK_GRAFT_CPUS` (default 32), parsed once:
    * the master URL, the shuffle width and Bench's provenance all use it. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A strictly positive Int, or an `IllegalArgumentException` naming the
    * variable and the bad value. */
  private[graft] def parseCpus(raw: Option[String]): Int = raw match {
    case None => 32
    case Some(s) =>
      s.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  def builder(appName: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
    // local[N] is a FALLBACK, not an override: spark-submit --master (and
    // any explicit spark.master) wins, so Bench/Verify deployed on a real
    // cluster run distributed rather than silently single-node.
    if (!sys.props.contains("spark.master") && !sys.env.contains("SPARK_MASTER"))
      b.master(s"local[$cpus]")
    b
      // size shuffles to the actual parallelism, not the 200 default
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // AQE: runtime coalescing, skew-join splitting, dynamic broadcast
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // push nested-struct pruning into the parquet scan — the core of P1
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      // legacy fallback: if events.ts is ever regenerated as parquet
      // TIMESTAMP(NANOS) again, read it as a Long instead of throwing.
      // A no-op for the current TIMESTAMP(MICROS) files — consumers
      // detect the scanned unit either way (graft.io.EventTime).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // one executor classloader for every session, streaming clones
      // included, so generated classes are reused across queries (see the
      // object doc)
      .config("spark.sql.artifact.isolation.enabled", "false")
      // hold the streamed loop's ~200-class working set (see the object doc)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
  }

  def get(appName: String): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
