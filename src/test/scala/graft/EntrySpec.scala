package graft

import org.apache.spark.sql.functions._

import graft.plan.{MappingNode, ReportConfig, Translator}

/** The driver's smoke gate: the flagship entry query must return rows. */
class EntrySpec extends GraftSpec {

  it("entry() returns rows with the id-first/metadata-last shape") {
    val df = SparkEntry.entry(spark)
    df.count() should be > 0L
    val cols = df.columns.toSeq
    cols.take(2) shouldBe Seq("order_id", "customer_id")
    cols.last shouldBe "metadata"
    cols should contain("info")
  }

  describe("ReportConfig (the reference's declare-a-report-in-config workflow)") {
    val dir = "/root/testdata/sf0.001"

    it("builds dq05's report from a config literal — config and code paths " +
       "produce identical plans on identical data") {
      val report = ReportConfig.parse(
        """{
          |  "table": "orders",
          |  "fields": ["o_orderkey"],
          |  "mappings": [
          |    { "name": "metadata", "record": "metadata", "fields": [
          |        { "name": "author",        "constant": "Ben" },
          |        { "name": "download_date", "constant": "2026-08-12" },
          |        { "name": "report_date",   "scalar": "report_date_src" } ] }
          |  ]
          |}""".stripMargin)
      // the same pre-shaped frame dq05 uses (report_date_src lifted from
      // o_orderdate)
      val shaped = spark.read.parquet(s"$dir/orders.parquet").select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("report_date_src"))
      val fromConfig = report.translator(shaped).orderBy("o_orderkey")
      val fromCode = Translator(List("o_orderkey"),
        userDefinedMappings = List("metadata" -> MappingNode.Message("metadata", Seq(
          "author"        -> MappingNode.Constant(org.apache.spark.sql.types.StringType, "Ben"),
          "download_date" -> MappingNode.Constant(org.apache.spark.sql.types.StringType, "2026-08-12"),
          "report_date"   -> MappingNode.Scalar("report_date_src")))))(shaped)
        .orderBy("o_orderkey")
      fromConfig.schema shouldBe fromCode.schema
      fromConfig.collect() shouldBe fromCode.collect()
      fromConfig.count() should be > 0L
    }

    it("run() executes table + WHERE + projection as one declarative plan, " +
       "and the WHERE reaches the scan") {
      val report = ReportConfig.parse(
        """{
          |  "table": "lineitem",
          |  "fields": ["l_orderkey", "l_linenumber", "l_quantity"],
          |  "where": "l_quantity > 45"
          |}""".stripMargin)
      val df = report.run(spark, dir)
      // default O1 ordering is lexicographic, like the reference translator
      df.columns.toSeq shouldBe Seq("l_linenumber", "l_orderkey", "l_quantity")
      df.count() should be > 0L
      df.agg(min("l_quantity")).head().getDouble(0) should be > 45.0
      df.queryExecution.executedPlan.toString should
        include("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)")
    }

    it("runAndWrite fans the report out to declared avro + json sinks " +
       "(the reference runner's dual-sink shape)") {
      val base = graft.io.TempReaper.tempDir("graft-report-sinks")
      val report = ReportConfig.parse(
        s"""{
          |  "table": "region",
          |  "fields": ["r_regionkey", "r_name"],
          |  "sinks": [
          |    { "format": "avro", "path": "$base/avro" },
          |    { "format": "json", "path": "$base/json" }
          |  ]
          |}""".stripMargin)
      val df = report.runAndWrite(spark, dir)
      val n = df.count()
      n shouldBe 5
      // no spark-avro module in this environment — AvroSink reads its own
      // container files back (same helper IoSpec round-trips with)
      graft.io.AvroSink.readToJsonStrings(spark, s"$base/avro").size.toLong shouldBe n
      spark.read.json(s"$base/json").count() shouldBe n
    }

    it("rejects malformed configs with a named error") {
      val ex = intercept[IllegalArgumentException] {
        ReportConfig.parse("""{ "fields": ["x"] }""")
      }
      ex.getMessage should include("'table'")
      val ex2 = intercept[IllegalArgumentException] {
        ReportConfig.parse("""{ "table": "orders" }""")
      }
      ex2.getMessage should include("at least one")
      // sink formats validate at PARSE time — a bad format must never fail
      // mid-write after earlier sinks already wrote
      val ex3 = intercept[IllegalArgumentException] {
        ReportConfig.parse(
          """{ "table": "orders", "fields": ["o_orderkey"],
            |  "sinks": [ { "format": "csv", "path": "/tmp/x" } ] }""".stripMargin)
      }
      ex3.getMessage should include("unsupported sink format 'csv'")
    }
  }
}
