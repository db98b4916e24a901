package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.GraftSpec
import graft.ext.IngestIndex

/** The branches every stream runner shares, driven for the runners whose
  * own specs do not reach them: the zero-input run (no micro-batch fires),
  * the 1-based `batch` number of the read-back, and the config runners'
  * `dir` reaching the stages inside the per-batch body.
  */
class StreamRunnerSpec extends GraftSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  // 20 texts of 20–29 words drawn from 5,000: no 8-word window repeats
  // across seeds, so every document is fresh to every index built here
  private def docs(seed: Int, firstId: Long): DataFrame = {
    val r = new scala.util.Random(7919L * seed)
    Seq.tabulate(20)(j => (firstId + j,
      Seq.fill(20 + r.nextInt(10))("w" + r.nextInt(5000)).mkString(" ")))
      .toDF("doc_id", "text")
  }

  private def tempDir(name: String): String =
    graft.io.TempReaper.tempDir(s"graft-$name").toString

  /** A stream over a directory with no file in it: no batch fires. */
  private def emptyStream(name: String): DataFrame =
    spark.readStream.schema(schema).parquet(s"${tempDir(s"$name-in")}/*.parquet")

  private def index(name: String): IngestIndex = graft.ext.SubstrIndex.build(
    docs(0, 0L), "doc_id", "text", s"${tempDir(s"$name-idx")}/idx", k = 8)

  describe("a zero-input stream") {
    it("runIndexedIngest returns no rows in the incoming schema plus batch") {
      val incoming = emptyStream("idx-empty")
      val res = EventStream.runIndexedIngest(incoming, index("idx-empty"),
        "doc_id", "text", "idx-empty")
      res.schema shouldBe incoming.schema.add("batch", LongType)
      res.count() shouldBe 0L
    }

    it("runFoldIngest never calls the fold") {
      var calls = 0
      EventStream.runFoldIngest(emptyStream("fold-empty"), "fold-empty") {
        (_, _) => calls += 1
      }
      calls shouldBe 0
    }
  }

  describe("the config runners") {
    val runners: Seq[(String, (DataFrame, graft.plan.CurationConfig.PipelineDef,
        String, String) => DataFrame)] = Seq(
      "runConfigPipeline" -> EventStream.runConfigPipeline,
      "runConfigPipelineAudited" -> ((in, p, dir, name) =>
        EventStream.runConfigPipelineAudited(in, p, dir, name)._1))

    runners.foreach { case (runner, run) =>
      it(s"$runner resolves the declared tables from its dir") {
        val dir = tempDir(s"cfg-$runner")
        docs(1, 1000L).write.parquet(s"$dir/bench.parquet")
        val pipeline = graft.plan.CurationConfig.parse(
          s"""{"table":"bench","id":"doc_id","text":"text",
            | "stages":[{"stage":"decontam_gate","path":"$dir/idx","k":8,
            |   "benchmarkTable":"bench"}]}""".stripMargin)
        // batch 1 is the benchmark itself and drops whole
        val out = run(EventStream.twoFileBatchStream(docs(1, 1000L),
          docs(2, 2000L), s"cfg-$runner"), pipeline, dir, s"cfg-$runner")
        out.select("batch", "doc_id").as[(Long, Long)].collect()
          .groupBy(_._1).map { case (b, rows) => b -> rows.map(_._2).sorted.toSeq }
          .shouldBe(Map(2L -> (2000L until 2020L)))
      }
    }
  }

  describe("two micro-batches") {
    val runners: Seq[(String, (DataFrame, IngestIndex, String) => DataFrame)] = Seq(
      "runFrozenGate" -> ((in, idx, name) =>
        EventStream.runFrozenGate(in, idx, "doc_id", "text", name)),
      "runIndexedIngest" -> ((in, idx, name) =>
        EventStream.runIndexedIngest(in, idx, "doc_id", "text", name)))

    runners.foreach { case (runner, run) =>
      it(s"$runner numbers them 1 and 2, each with its own documents") {
        val name = s"two-$runner"
        val out = run(EventStream.twoFileBatchStream(
          docs(1, 1000L), docs(2, 2000L), name), index(name), name)
        out.select("batch", "doc_id").as[(Long, Long)].collect()
          .groupBy(_._1).map { case (b, rows) => b -> rows.map(_._2).sorted.toSeq }
          .shouldBe(Map(1L -> (1000L until 1020L), 2L -> (2000L until 2020L)))
      }
    }
  }
}
