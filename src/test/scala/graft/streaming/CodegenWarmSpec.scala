package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.GraftSpec
import graft.plan.CurationConfig

/** Pins warm codegen across streamed ingest calls: every
  * [[EventStream.runConfigPipeline]] call starts its own streaming query
  * on a clone of the session, and a steady-state call must find all of its
  * generated classes in Spark's codegen cache — it compiles none. That
  * needs the two [[graft.GraftSession]] defaults: one executor classloader
  * for every session (artifact isolation off), and a cache large enough
  * for the loop's working set.
  */
class CodegenWarmSpec extends GraftSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def fresh(b: Int): Seq[String] = {
    val r = new scala.util.Random(7919L * b)
    Seq.fill(30)(Seq.fill(20 + r.nextInt(10))("w" + r.nextInt(5000)).mkString(" "))
  }

  // one batch: 30 fresh texts, 5 in-batch exact copies, and 5 replays of
  // the previous batch's texts (in-batch copies for the first batch), so
  // exact_dedup and the store gates each have rows to drop; 30 survive
  private def batch(b: Int): Seq[(Long, String)] = {
    val base = 1000L * b
    val own = fresh(b)
    val prev = if (b == 1) own else fresh(b - 1)
    own.zipWithIndex.map { case (t, j) => (base + j, t) } ++
      (0 until 5).map(j => (base + 100 + j, own(j))) ++
      (0 until 5).map(j => (base + 200 + j, prev(10 + j)))
  }

  private def writeBatch(root: Path, b: Int): String = {
    val dir = Files.createDirectories(root.resolve(s"in$b"))
    Files.write(dir.resolve("batch.json"), batch(b).map { case (id, t) =>
      s"""{"doc_id":$id,"text":"$t"}""" }.mkString("", "\n", "\n").getBytes(UTF_8))
    dir.toString
  }

  it("a steady-state streamed pipeline call compiles no new classes") {
    val root = graft.io.TempReaper.tempDir("graft-codegenwarm")
    def store(n: String) = root.resolve(n).toString
    val pipeline = CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "text",
         | "stages": [
         |   {"stage": "exact_dedup"},
         |   {"stage": "neardup_gate", "path": "${store("neardup")}",
         |    "numHashes": 16, "bands": 4, "maxBucket": 100, "threshold": 0.8},
         |   {"stage": "substr_gate", "path": "${store("substr")}", "k": 8},
         |   {"stage": "lm_gate", "path": "${store("lm")}", "loMicro": 0}]}"""
        .stripMargin)
    def call(b: Int): Long = {
      val incoming = spark.readStream.schema(schema).json(writeBatch(root, b))
      EventStream.runConfigPipeline(incoming, pipeline, root.toString, s"warm$b")
        .count()
    }
    // AQE off for this spec only: at this size, which join a re-planning
    // picks can depend on which stage finishes first, and a new plan shape
    // compiles its own classes whatever the cache holds. Without AQE each
    // call's plans follow from its data alone, so a warm call compiles 0.
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try {
      // batch 1 seeds every store; batches 2 and 3 gate against them
      call(1) shouldBe 30L
      call(2) shouldBe 30L
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      call(3) shouldBe 30L
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      info(s"third call: $compiled compilations")
      compiled shouldBe 0L
    } finally spark.conf.set(aqe, prev)
  }
}
