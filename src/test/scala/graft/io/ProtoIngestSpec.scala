package graft.io

import graft.GraftSpec
import graft.io.ProtoIngest._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Proto3 wire decode: encoded-by-hand messages (independent encoder below)
  * round-trip through decodeBytes with the reference's null/default rules.
  */
class ProtoIngestSpec extends GraftSpec {
  import spark.implicits._

  // -------------------------------------------------- tiny wire ENCODER
  // (test-side only; independent of the decoder under test)
  private class W {
    private val out = new java.io.ByteArrayOutputStream()
    def varint(v: Long): W = {
      var n = v
      while ((n & ~0x7fL) != 0) { out.write(((n & 0x7f) | 0x80).toInt); n >>>= 7 }
      out.write(n.toInt); this
    }
    def tag(field: Int, wire: Int): W = varint((field.toLong << 3) | wire)
    def str(field: Int, s: String): W = {
      val b = s.getBytes("UTF-8"); tag(field, 2).varint(b.length)
      b.foreach(x => out.write(x.toInt)); this
    }
    def i64le(field: Int, bits: Long): W = {
      tag(field, 1)
      (0 until 8).foreach(i => out.write(((bits >>> (8 * i)) & 0xff).toInt)); this
    }
    def f32le(field: Int, bits: Int): W = {
      tag(field, 5)
      (0 until 4).foreach(i => out.write(((bits >>> (8 * i)) & 0xff).toInt)); this
    }
    def nested(field: Int, w: W): W = {
      val b = w.bytes; tag(field, 2).varint(b.length)
      b.foreach(x => out.write(x.toInt)); this
    }
    def raw(field: Int, b: Array[Byte]): W = {
      tag(field, 2).varint(b.length); b.foreach(x => out.write(x.toInt)); this
    }
    def bytes: Array[Byte] = out.toByteArray
  }

  private val campaign = PMessage("campaign", Seq(
    PField(1, "id", PInt64),
    PField(2, "name", PString),
    PField(3, "status", PEnum(Map(0 -> "UNSPECIFIED", 2 -> "ENABLED", 3 -> "PAUSED"), "CampaignStatus"))))

  private val row = PMessage("ads_row", Seq(
    PField(1, "campaign", PNested(campaign)),
    PField(2, "impressions", PInt64),
    PField(3, "ctr", PDouble),
    PField(4, "labels", PString, repeated = true),
    PField(5, "clicks_by_day", PInt32, repeated = true),
    PField(6, "balance", PSInt32),
    PField(7, "active", PBool)))

  it("derives the schema with the reference's type and nullability rules") {
    val st = structTypeOf(row)
    st("campaign").dataType shouldBe a[StructType]
    st("campaign").nullable shouldBe true
    st("impressions").dataType shouldBe LongType
    st("impressions").nullable shouldBe false
    st("labels").dataType shouldBe ArrayType(StringType, containsNull = false)
    st("ctr").dataType shouldBe DoubleType
    val c = st("campaign").dataType.asInstanceOf[StructType]
    c("status").dataType shouldBe StringType
    c("name").nullable shouldBe true
  }

  it("round-trips a fully populated message") {
    val camp = new W().tag(1, 0).varint(1234).str(2, "Summer Sale").tag(3, 0).varint(2)
    val packedPayload = new W().varint(3).varint(5).varint(8).bytes
    val msgBytes = new W()
      .nested(1, camp)
      .tag(2, 0).varint(98765)
      .i64le(3, java.lang.Double.doubleToLongBits(0.0375))
      .str(4, "brand").str(4, "eu")
      .raw(5, packedPayload) // packed repeated int32
      .tag(6, 0).varint((((-42) << 1) ^ ((-42) >> 31)).toLong & 0xffffffffL) // zigzag(-42)
      .tag(7, 0).varint(1)
      .bytes

    val r = decodeBytes(msgBytes, row)
    val c = r.getAs[org.apache.spark.sql.Row]("campaign")
    c.getAs[Long]("id") shouldBe 1234L
    c.getAs[String]("name") shouldBe "Summer Sale"
    c.getAs[String]("status") shouldBe "ENABLED"
    r.getAs[Long]("impressions") shouldBe 98765L
    r.getAs[Double]("ctr") shouldBe 0.0375
    r.getAs[Seq[String]]("labels") shouldBe Seq("brand", "eu")
    r.getAs[Seq[Int]]("clicks_by_day") shouldBe Seq(3, 5, 8)
    r.getAs[Int]("balance") shouldBe -42
    r.getAs[Boolean]("active") shouldBe true
  }

  it("applies null/default semantics to an EMPTY message") {
    val r = decodeBytes(Array.emptyByteArray, row)
    Option(r.getAs[AnyRef]("campaign")) shouldBe None          // missing submessage → null
    r.getAs[Long]("impressions") shouldBe 0L        // zero default
    r.getAs[Double]("ctr") shouldBe 0d
    r.getAs[Seq[String]]("labels") shouldBe Seq.empty // repeated → []
    r.getAs[Boolean]("active") shouldBe false
  }

  it("coerces a set-but-empty string to null and keeps enum defaults") {
    val camp = new W().str(2, "")
    val r = decodeBytes(new W().nested(1, camp).bytes, row)
    val c = r.getAs[org.apache.spark.sql.Row]("campaign")
    Option(c.getAs[AnyRef]("name")) shouldBe None              // empty string → null (:210)
    c.getAs[String]("status") shouldBe "UNSPECIFIED" // enum zero default
  }

  it("skips unknown fields and accepts unpacked repeats") {
    val bytes = new W()
      .tag(99, 0).varint(7)            // unknown varint field
      .str(98, "ignored")              // unknown length-delimited field
      .tag(5, 0).varint(11)            // unpacked repeated int32
      .tag(5, 0).varint(13)
      .bytes
    val r = decodeBytes(bytes, row)
    r.getAs[Seq[Int]]("clicks_by_day") shouldBe Seq(11, 13)
  }

  it("unrolls recursive schemas to max depth; deeper wire bytes skip cleanly") {
    // tree { int64 v = 1; tree child = 2; } — the reference's recursive case
    // (ProtoMessageToAvroMappings.scala:164-174), depth-limited like
    // spark-protobuf's recursive.fields.max.depth
    lazy val tree: PMessage = PMessage("tree", Seq(
      PField(1, "v", PInt64),
      PField(2, "child", PNestedRec(tree))))
    an[IllegalArgumentException] should be thrownBy structTypeOf(tree)

    val unrolled = unroll(tree, maxDepth = 3)
    val st = structTypeOf(unrolled)
    // depth 3: v, child.v, child.child.v — and no deeper child field
    st.fieldNames should contain("child")
    val d3 = st("child").dataType.asInstanceOf[StructType]("child")
      .dataType.asInstanceOf[StructType]
    d3.fieldNames.toSeq shouldBe Seq("v")

    // depth-4 payload: level-4 subtree bytes are skipped as unknown fields
    def level(v: Long, child: Option[W]): W = {
      val w = new W().tag(1, 0).varint(v)
      child.fold(w)(c => w.nested(2, c))
    }
    val bytes = level(1, Some(level(2, Some(level(3, Some(level(4, None))))))).bytes
    val r = decodeBytes(bytes, unrolled)
    r.getAs[Long]("v") shouldBe 1L
    val c2 = r.getAs[org.apache.spark.sql.Row]("child")
    c2.getAs[Long]("v") shouldBe 2L
    val c3 = c2.getAs[org.apache.spark.sql.Row]("child")
    c3.getAs[Long]("v") shouldBe 3L
    c3.schema.fieldNames.toSeq shouldBe Seq("v") // level 4 dropped, no error
  }

  it("decodes a DataFrame of payloads and feeds the Translator pipeline") {
    val payloads = (1L to 50L).map { i =>
      val camp = new W().tag(1, 0).varint(i).str(2, s"campaign_$i")
        .tag(3, 0).varint(if (i % 2 == 0) 2 else 3)
      (i, new W().nested(1, camp).tag(2, 0).varint(i * 100).bytes)
    }.toDF("row_id", "payload")

    val decoded = ProtoIngest.decode(payloads, "payload", row)
    decoded.count() shouldBe 50

    // the reference pipeline: binary scan → decode → path projection
    val projected = graft.plan.Translator(List("campaign.id", "campaign.status"))(decoded)
    projected.schema.fieldNames shouldBe Array("campaign")
    projected.select(col("campaign.id")).as[Long].collect().sorted shouldBe (1L to 50L)
    projected.filter(col("campaign.status") === "ENABLED").count() shouldBe 25
  }

  it("full reference shape end-to-end: wire decode → flatten → NAMED-enum " +
     "Avro container (the proto→Avro contract, schema included)") {
    val payloads = (1L to 10L).map { i =>
      val camp = new W().tag(1, 0).varint(i).str(2, s"c_$i")
        .tag(3, 0).varint(if (i % 2 == 0) 2 else 3)
      new W().nested(1, camp).tag(2, 0).varint(i * 10).bytes
    }.toDF("payload")
    val decoded = ProtoIngest.decode(payloads, "payload", row)

    // P4 flatten through the Translator: Scalar re-attaches the leaf field's
    // metadata, so the enum tag survives flattening with no manual re-tag
    val statusEnum = row.fields.find(_.name == "campaign").get.ptype
      .asInstanceOf[PNested].msg.fields.find(_.name == "status").get.ptype
      .asInstanceOf[PEnum]
    val shaped = graft.plan.Translator(
      List("impressions"),
      userDefinedMappings = List(
        "campaign_id" -> graft.plan.MappingNode.Scalar("campaign.id"),
        "status"      -> graft.plan.MappingNode.Scalar("campaign.status")))(decoded)
    shaped.schema("status").metadata.getString(AvroSchemas.EnumNameKey) shouldBe
      statusEnum.name

    val dir = graft.io.TempReaper.tempDir("graft-e2e-avro").toString + "/out"
    AvroSink.write(shaped.coalesce(1), dir, "AdsRow")

    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), new org.apache.hadoop.conf.Configuration())
    val avroFile = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).find(_.getName.endsWith(".avro")).get
    val reader = new org.apache.avro.file.DataFileReader(
      new org.apache.avro.mapred.FsInput(avroFile, new org.apache.hadoop.conf.Configuration()),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try {
      val en = reader.getSchema.getField("status").schema().getTypes.get(1)
      en.getType shouldBe org.apache.avro.Schema.Type.ENUM
      en.getName shouldBe statusEnum.name
      val statuses = new scala.collection.mutable.ArrayBuffer[String]
      while (reader.hasNext) statuses += reader.next().get("status").toString
      statuses.sorted.toSeq shouldBe
        (1L to 10L).map(i => if (i % 2 == 0) "ENABLED" else "PAUSED").sorted
    } finally reader.close()
  }
}
