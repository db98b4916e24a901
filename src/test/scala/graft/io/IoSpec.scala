package graft.io

import org.apache.avro.Schema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSpec

/** S2–S4 (SURVEY §2.1): avro sink round-trip, schema derivation rules,
  * result cache hit/invalidate semantics.
  */
class IoSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(prefix: String) = graft.io.TempReaper.tempDir(prefix).toString

  describe("AvroSchemas (ProtoMessageToAvroMappings.scala:221-269)") {
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("tags", ArrayType(StringType, containsNull = false), nullable = true),
      StructField("meta", StructType(Seq(
        StructField("flag", BooleanType, nullable = false))), nullable = true)))
    val avro = AvroSchemas.toAvro(st, "Rec")

    it("nullable field → union [null, T], null first (:241,:266)") {
      val f = avro.getField("name").schema()
      f.getType shouldBe Schema.Type.UNION
      f.getTypes.get(0).getType shouldBe Schema.Type.NULL
      f.getTypes.get(1).getType shouldBe Schema.Type.STRING
    }
    it("non-nullable scalar → bare type with zero default (:70-83)") {
      avro.getField("id").schema().getType shouldBe Schema.Type.LONG
      avro.getField("id").defaultVal() shouldBe 0
    }
    it("struct → record, array → array") {
      val meta = avro.getField("meta").schema().getTypes.get(1)
      meta.getType shouldBe Schema.Type.RECORD
      meta.getField("flag").schema().getType shouldBe Schema.Type.BOOLEAN
      avro.getField("tags").schema().getTypes.get(1).getType shouldBe Schema.Type.ARRAY
    }
    it("unsupported type → IllegalStateException (:234-237)") {
      intercept[IllegalStateException](
        AvroSchemas.toAvro(StructType(Seq(
          StructField("x", CalendarIntervalType))), "Bad"))
    }
  }

  describe("named-enum schema fidelity (:230-233,:51-53)") {
    it("an enum-tagged string column becomes a NAMED Avro enum and the " +
       "written container carries it, symbols round-tripping") {
      val dir = tmp("avro-enum") + "/out"
      val df = AvroSchemas.markEnum(
        Seq((1L, "ENABLED"), (2L, "PAUSED")).toDF("id", "status"),
        "status", "CampaignStatus", Seq("UNSPECIFIED", "ENABLED", "PAUSED"))
      AvroSink.write(df.coalesce(1), dir, "Report")

      // the WRITTEN file's embedded schema, not just the derived one
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dir), new org.apache.hadoop.conf.Configuration())
      val avroFile = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath).find(_.getName.endsWith(".avro")).get
      val reader = new org.apache.avro.file.DataFileReader(
        new org.apache.avro.mapred.FsInput(avroFile, new org.apache.hadoop.conf.Configuration()),
        new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      try {
        val statusSchema = reader.getSchema.getField("status").schema()
          .getTypes.get(1) // [null, enum]
        statusSchema.getType shouldBe Schema.Type.ENUM
        statusSchema.getName shouldBe "CampaignStatus"
        statusSchema.getEnumSymbols.toArray.toSeq shouldBe
          Seq("UNSPECIFIED", "ENABLED", "PAUSED")
        val rows = new scala.collection.mutable.ArrayBuffer[(Long, String)]
        while (reader.hasNext) {
          val r = reader.next()
          rows += ((r.get("id").asInstanceOf[Long], r.get("status").toString))
        }
        rows.sortBy(_._1).toSeq shouldBe Seq((1L, "ENABLED"), (2L, "PAUSED"))
      } finally reader.close()
    }
    it("ProtoIngest enum fields arrive pre-tagged for the Avro sink") {
      import ProtoIngest._
      val msg = PMessage("m", Seq(
        PField(1, "status", PEnum(Map(0 -> "UNKNOWN", 1 -> "OK"), "StatusEnum"))))
      val st = structTypeOf(msg)
      val avro = AvroSchemas.toAvro(st, "M")
      val en = avro.getField("status").schema().getTypes.get(1)
      en.getType shouldBe Schema.Type.ENUM
      en.getName shouldBe "StatusEnum"
      en.getEnumSymbols.toArray.toSeq shouldBe Seq("UNKNOWN", "OK")
    }
    it("nested messages keep their proto type name and nest the namespace " +
       "under the enclosing record (ProtobufData naming convention)") {
      import ProtoIngest._
      val msg = PMessage("AdsRow", Seq(
        PField(1, "campaign", PNested(PMessage("Campaign", Seq(
          PField(1, "id", PInt64),
          PField(2, "status", PEnum(Map(0 -> "UNKNOWN"), "Status"))))))))
      val avro = AvroSchemas.toAvro(structTypeOf(msg), "AdsRow")
      avro.getFullName shouldBe "graft.AdsRow"
      val campaign = avro.getField("campaign").schema().getTypes.get(1)
      campaign.getType shouldBe Schema.Type.RECORD
      campaign.getName shouldBe "Campaign"        // proto type name, not a path
      campaign.getNamespace shouldBe "graft.AdsRow"
      val status = campaign.getField("status").schema().getTypes.get(1)
      status.getFullName shouldBe "graft.AdsRow.Campaign.Status"
    }
  }

  describe("AvroSink (Main.scala:205-217)") {
    it("writes container files per partition and round-trips values") {
      val dir = tmp("avro") + "/out"
      val df = Seq(
        (1L, "alpha", Seq("x", "y"), ("2021-02-01", 10.5)),
        (2L, null.asInstanceOf[String], Seq.empty[String], ("2021-02-02", 0.0)))
        .toDF("id", "name", "tags", "info")
      AvroSink.write(df.repartition(2), dir, "Report")

      val lines = AvroSink.readToJsonStrings(spark, dir)
      lines should have size 2
      val all = lines.mkString("\n")
      all should include(""""id": 1""")
      all should include(""""alpha"""")
      all should include(""""name": null""") // nullable union renders null
      all should include(""""_2": 10.5""")
    }
  }

  describe("AvroSink type coverage") {
    it("dates, timestamps, decimals, and maps round-trip as declared") {
      val dir = tmp("avro2") + "/out"
      val df = spark.sql(
        """SELECT DATE'2021-02-03' AS d, TIMESTAMP'2021-02-03 04:05:06' AS ts,
          |CAST(12.34 AS DECIMAL(10,2)) AS dec, map('k', 42L) AS m""".stripMargin)
      AvroSink.write(df, dir, "Typed")
      val line = AvroSink.readToJsonStrings(spark, dir).head
      line should include("2021-02-03")       // date as ISO string
      line should include("2021-02-03T04:05:06Z") // timestamp as instant
      line should include("12.34")            // decimal as plain string
      line should include(""""k": 42""")      // map value
    }
  }

  describe("AvroSink's compiled InternalRow writer") {
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._

    val inner = StructType(Seq(
      StructField("x", IntegerType, nullable = false),
      StructField("s", StringType, nullable = true)))
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("b", ByteType, nullable = false),
      StructField("bn", ByteType, nullable = true),
      StructField("sh", ShortType, nullable = false),
      StructField("shn", ShortType, nullable = true),
      StructField("i", IntegerType, nullable = false),
      StructField("in", IntegerType, nullable = true),
      StructField("ln", LongType, nullable = true),
      StructField("f", FloatType, nullable = false),
      StructField("fn", FloatType, nullable = true),
      StructField("d", DoubleType, nullable = false),
      StructField("dn", DoubleType, nullable = true),
      StructField("z", BooleanType, nullable = false),
      StructField("zn", BooleanType, nullable = true),
      StructField("s", StringType, nullable = false),
      StructField("status", StringType, nullable = true,
        AvroSchemas.enumMetadata("Status", Seq("UNKNOWN", "ON", "OFF"))),
      StructField("statuses", ArrayType(StringType, containsNull = false), nullable = false,
        AvroSchemas.enumMetadata("Statuses", Seq("UNKNOWN", "ON", "OFF"))),
      StructField("inner", inner, nullable = true, AvroSchemas.recordMetadata("Inner")),
      StructField("inners", ArrayType(inner, containsNull = false), nullable = true),
      StructField("tags", ArrayType(StringType, containsNull = true), nullable = false),
      StructField("attrs", MapType(StringType, LongType, valueContainsNull = true), nullable = true),
      StructField("bin", BinaryType, nullable = true),
      StructField("day", DateType, nullable = true),
      StructField("ts", TimestampType, nullable = true),
      StructField("amount", DecimalType(12, 3), nullable = true)))
    val rows = Seq(
      Row(1L, 1.toByte, 2.toByte, 3.toShort, 4.toShort, 5, 6, 7L, 1.5f, 2.5f, 3.25, 4.5,
        true, false, "alpha", "ON", Seq("OFF", "UNKNOWN"), Row(8, "nested"),
        Seq(Row(9, null), Row(10, "")), Seq("a", null, ""), Map("k" -> 1L, "nil" -> null, "" -> -2L),
        Array[Byte](0, 1, -1), java.sql.Date.valueOf("2021-02-03"),
        java.sql.Timestamp.valueOf("2021-02-03 04:05:06.789"), new java.math.BigDecimal("-12.340")),
      Row(2L, -128.toByte, null, -32768.toShort, null, Int.MinValue, null, null, -0.5f, null,
        -1e300, null, false, null, "", null, Seq.empty, null, null, Seq.empty, null, null,
        null, null, null),
      Row(Long.MaxValue, 127.toByte, 0.toByte, 32767.toShort, 0.toShort, Int.MaxValue, 0, Long.MinValue,
        Float.MaxValue, 0f, Double.MinPositiveValue, 0d, true, true, "üñï ✓", "UNKNOWN",
        Seq("ON"), Row(0, null), Seq.empty, Seq(null), Map.empty[String, Long], Array.emptyByteArray,
        java.sql.Date.valueOf("1970-01-01"), java.sql.Timestamp.valueOf("1999-12-31 23:59:59"),
        new java.math.BigDecimal("123456789.000")))
    val df = spark.createDataFrame(rows.asJava, st)
    val avro = AvroSchemas.toAvro(st, "Rec")

    def readBack(files: Seq[java.io.File]): Seq[GenericRecord] = files.flatMap { f =>
      val reader = new DataFileReader(f, new GenericDatumReader[GenericRecord]())
      try reader.iterator().asScala.toList finally reader.close()
    }.sortBy(_.get("id").asInstanceOf[Long])

    it("writes the records the Row → GenericRecord oracle writes, byte for byte") {
      val dir = tmp("avro-parity") + "/out"
      AvroSink.write(df.repartition(2), dir, "Rec")
      val written = readBack(new java.io.File(dir).listFiles().toSeq
        .filter(_.getName.endsWith(".avro")))

      val oracleFile = new java.io.File(tmp("avro-oracle"), "oracle.avro")
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](avro)).create(avro, oracleFile)
      try df.collect().foreach(r => w.append(AvroRecordOracle.toRecord(r, st, avro)))
      finally w.close()
      val expected = readBack(Seq(oracleFile))

      written should have size 3
      written shouldBe expected
      // and the encoded bytes of every record, straight from the rows
      def encode(write: org.apache.avro.io.Encoder => Unit): Seq[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
        write(enc); enc.flush(); out.toByteArray.toSeq
      }
      val internal = df.queryExecution.toRdd.map(_.copy()).collect()
      val writer = new AvroSink.RowDatumWriter(st, avro)
      val oracleWriter = new GenericDatumWriter[GenericRecord](avro)
      internal.zip(df.collect()).foreach { case (ir, r) =>
        encode(writer.write(ir, _)) shouldBe
          encode(oracleWriter.write(AvroRecordOracle.toRecord(r, st, avro), _))
      }
    }

    it("fails on a null in a non-nullable column, naming the field") {
      // Spark's own projections keep nulls out of non-nullable columns, so
      // the writer is handed a row that breaks its schema directly
      val schema = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("inner", inner, nullable = false)))
      val writer = new AvroSink.RowDatumWriter(schema, AvroSchemas.toAvro(schema, "Rec"))
      val enc = org.apache.avro.io.EncoderFactory.get()
        .binaryEncoder(new java.io.ByteArrayOutputStream(), null)
      import org.apache.spark.sql.catalyst.InternalRow
      val utf8 = org.apache.spark.unsafe.types.UTF8String.fromString("s")
      writer.write(InternalRow(1L, InternalRow(2, utf8)), enc)
      intercept[NullPointerException](writer.write(InternalRow(1L, null), enc))
        .getMessage should include("non-nullable record field Rec.inner")
      intercept[NullPointerException](writer.write(InternalRow(1L, InternalRow(null, utf8)), enc))
        .getMessage should include("non-nullable int field Rec.inner.x")
    }

    it("throws AvroTypeException for an enum value outside the symbols") {
      val bad = AvroSchemas.markEnum(Seq((1L, "ON"), (2L, "SIDEWAYS")).toDF("id", "status"),
        "status", "Status", Seq("UNKNOWN", "ON", "OFF"))
      val ex = intercept[Exception](AvroSink.write(bad.coalesce(1), tmp("avro-enum-bad") + "/out", "Rec"))
      val typeError = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: org.apache.avro.AvroTypeException => t }
      typeError.map(_.getMessage).getOrElse(fail(s"no AvroTypeException in $ex")) should
        include("SIDEWAYS")
    }
  }

  describe("ResultCache (Main.scala:67-121)") {
    it("same plan → cache hit; different plan → recompute") {
      val dir = tmp("cache") + "/c"
      val base = spark.range(100).toDF("n")
      val q1 = base.filter($"n" % 2 === 0)

      ResultCache.readThrough(q1, dir).count() shouldBe 50
      // hit: underlying data unchanged even if we tamper with the store
      val fp1 = ResultCache.fingerprint(q1)
      ResultCache.fingerprint(base.filter($"n" % 2 === 0)) shouldBe fp1
      ResultCache.readThrough(base.filter($"n" % 2 === 0), dir).count() shouldBe 50

      // a different query must NOT replay the stale cache
      val q2 = base.filter($"n" % 2 === 1).withColumn("m", $"n" * 2)
      ResultCache.fingerprint(q2) should not be fp1
      val out = ResultCache.readThrough(q2, dir)
      out.count() shouldBe 50
      out.columns.toSeq shouldBe Seq("n", "m")
    }
  }

  describe("JsonSink (Main.scala:234-246)") {
    it("emits one JSON object per row") {
      val df = Seq((1L, "a")).toDF("id", "name")
      df.select(JsonSink.toJsonColumn(df).as("j")).as[String].head() shouldBe
        """{"id":1,"name":"a"}"""
    }
  }

  describe("streaming parquet sink (exactly-once via checkpoint)") {
    it("writes once and a restart with the same checkpoint adds nothing") {
      val base = graft.io.TempReaper.tempDir("graft-stream-pq").toString
      def runOnce(): Unit = {
        val q = graft.streaming.EventStream.readEvents(spark, "/root/testdata/sf0.001")
          .select("event_id", "event_type")
          .writeStream
          .format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val expected = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
      runOnce()
      spark.read.parquet(s"$base/out").count() shouldBe expected
      runOnce() // same checkpoint, no new input → exactly-once: no duplicates
      spark.read.parquet(s"$base/out").count() shouldBe expected
    }
  }

  describe("streaming into the Avro sink (foreachBatch)") {
    it("streams events through foreachBatch into Avro container files") {
      val dir = graft.io.TempReaper.tempDir("graft-stream-avro").toString
      val src = graft.streaming.EventStream.readEvents(spark, "/root/testdata/sf0.001")
        .select("event_id", "event_type")
      val q = src.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          AvroSink.write(batch, s"$dir/batch_$id", "Event")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val expected = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
      val lines = AvroSink.readToJsonStrings(spark, s"$dir/batch_0")
      lines.size.toLong shouldBe expected
      lines.head should include("event_id")
    }
  }
}
