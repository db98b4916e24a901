package graft.io

import graft.GraftSpec
import graft.io.ProtoIngest._
import org.apache.spark.sql.functions._

/** DSv2 proto source: reads the reference cache format, prunes columns into
  * the wire decoder, enforces the S2 query-validity check.
  */
class ProtoSourceSpec extends GraftSpec {
  import spark.implicits._

  private val msg = PMessage("ads_row", Seq(
    PField(1, "id", PInt64),
    PField(2, "name", PString),
    PField(3, "impressions", PInt64),
    PField(4, "status", PEnum(Map(0 -> "UNKNOWN", 1 -> "OK"), "Status"))))

  private def varint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def enc(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    varint(out, 8); varint(out, id)                  // field 1
    val n = s"row_$id".getBytes("UTF-8")
    varint(out, 18); varint(out, n.length); out.write(n) // field 2
    varint(out, 24); varint(out, id * 100)           // field 3
    varint(out, 32); varint(out, id % 2)             // field 4
    out.toByteArray
  }

  private val query = "SELECT ads_row FROM server WHERE x"

  private lazy val dir: String = {
    val d = graft.io.TempReaper.tempDir("graft-proto-src")
    val b64 = java.util.Base64.getEncoder
    // two cache files → two input partitions
    Seq(1L to 5L, 6L to 9L).zipWithIndex.foreach { case (ids, i) =>
      val lines = b64.encodeToString(query.getBytes("UTF-8")) +:
        ids.map(id => b64.encodeToString(enc(id)))
      java.nio.file.Files.write(d.resolve(s"cache_$i.txt"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    ProtoSource.registerDescriptor("ads_row", msg)
    d.toString
  }

  private def read = spark.read.format("graft.io.ProtoSource")
    .option("descriptor", "ads_row")

  it("reads the cache format across files with full proto semantics") {
    val df = read.load(dir)
    df.count() shouldBe 9
    df.select("id", "impressions", "status")
      .as[(Long, Long, String)].collect().sortBy(_._1).take(2) shouldBe
      Array((1L, 100L, "OK"), (2L, 200L, "UNKNOWN"))
    // rdd partitions = files
    df.rdd.getNumPartitions shouldBe 2
  }

  it("prunes the projection into the DECODER: the scan reads only the " +
     "selected fields") {
    val df = read.load(dir).select("impressions")
    val p = df.queryExecution.executedPlan.toString
    p should include("ReadFields: [impressions]") // descriptor pruned
    df.as[Long].collect().sorted shouldBe (1L to 9L).map(_ * 100)
  }

  it("pushes filters into a two-phase decode: gate fields first, full " +
     "decode only for passing rows — plan shows the pushed row gate") {
    val df = read.load(dir).filter(col("impressions") > 500).select("id", "name")
    val p = df.queryExecution.executedPlan.toString
    p should include("PushedRowGate: [")
    p should include("GreaterThan(impressions")
    // the residual Filter above the scan needs the gate column, so the scan
    // outputs it too; the gate's win is skipping FULL decodes of failing rows
    p should include("ReadFields: [id, name, impressions]")
    df.as[(Long, String)].collect().sortBy(_._1) shouldBe
      (6L to 9L).map(i => (i, s"row_$i"))
  }

  it("emits skipped-work evidence metrics: rowsGated counts gate-rejected " +
     "rows, fieldsSkipped counts pruned field decodes") {
    val df = read.load(dir).filter(col("impressions") > 500).select("id")
    df.collect().length shouldBe 4
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .find(_.getClass.getSimpleName == "BatchScanExec")
      .getOrElse(fail("no BatchScanExec in plan"))
    // ids 1..5 fail impressions>500 at the gate — their full decode never ran
    scan.metrics("rowsGated").value shouldBe 5
    // scan reads (id, impressions) of the 4-field message → 2 fields wire-
    // skipped per emitted row × 4 emitted rows
    scan.metrics("fieldsSkipped").value shouldBe 8
  }

  it("gates on int64 values beyond 2^53 without double-precision loss") {
    val d = graft.io.TempReaper.tempDir("graft-proto-bigid")
    val b64 = java.util.Base64.getEncoder
    val big = (1L << 53) // 9007199254740992; +1 is not representable in double
    def encId(id: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      varint(out, 8); varint(out, id)
      out.toByteArray
    }
    val lines = b64.encodeToString(query.getBytes("UTF-8")) +:
      Seq(big, big + 1, big + 2).map(id => b64.encodeToString(encId(id)))
    java.nio.file.Files.write(d.resolve("c.txt"),
      lines.mkString("\n").getBytes("UTF-8"))
    // double rounds big+1 down to big, so a lossy gate would reject it
    read.load(d.toString).filter(col("id") > big)
      .select("id").as[Long].collect().sorted shouldBe Seq(big + 1, big + 2)
  }

  it("pushes LIMIT into the readers (partial: per-partition stop, global " +
     "limit stays above the scan)") {
    val df = read.load(dir).limit(3)
    df.count() shouldBe 3
    val p = df.queryExecution.executedPlan.toString
    p should include("PushedLimit: 3")
    // partial push — a Spark-side limit stays above the scan
    p should include regex "(GlobalLimit|CollectLimit)"
    // composes with the row gate: limit counts EMITTED (post-gate) rows
    val gated = read.load(dir).filter(col("impressions") > 500).limit(2)
    gated.count() shouldBe 2
  }

  it("reports listing-derived statistics so the optimizer can broadcast " +
     "small proto relations") {
    val df = read.load(dir)
    val stats = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // ~3/4 of the base64 cache bytes: far below the 10MB broadcast
    // threshold and far above zero
    stats.toLong should be > 0L
    stats.toLong should be < 10L * 1024 * 1024
    val joined = spark.range(20).toDF("id").join(broadcast(df), "id")
    joined.count() should be > 0L
  }

  it("gates on enum symbols and conjunctions; unsupported filters still " +
     "evaluate above the scan") {
    val df = read.load(dir)
      .filter(col("status") === "OK" && col("id") <= 7 &&
        org.apache.spark.sql.functions.length(col("name")) === 5) // not gateable — residual only
    df.select("id").as[Long].collect().sorted shouldBe Seq(1L, 3L, 5L, 7L)
    val p = df.queryExecution.executedPlan.toString
    p should include("EqualTo(status,OK)")
  }

  it("streams the cache directory micro-batch: new files only, exactly " +
     "once across restarts from the checkpoint") {
    val d = graft.io.TempReaper.tempDir("graft-proto-stream")
    val out = graft.io.TempReaper.tempDir("graft-proto-stream-out")
    val b64 = java.util.Base64.getEncoder
    def writeCache(name: String, ids: Seq[Long]): Unit = {
      val lines = b64.encodeToString(query.getBytes("UTF-8")) +:
        ids.map(id => b64.encodeToString(enc(id)))
      java.nio.file.Files.write(d.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
      ()
    }
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft.io.ProtoSource")
        .option("descriptor", "ads_row")
        .load(d.toString)
        .select("id", "impressions")
        .writeStream
        .format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    writeCache("c0.txt", Seq(1L, 2L))
    runOnce()
    spark.read.parquet(s"$out/data").select("id").as[Long].collect().sorted shouldBe
      Seq(1L, 2L)
    writeCache("c1.txt", Seq(3L))
    runOnce() // restart from checkpoint: only the NEW file is delivered
    spark.read.parquet(s"$out/data").select("id").as[Long].collect().sorted shouldBe
      Seq(1L, 2L, 3L)
    runOnce() // nothing new → nothing duplicated
    spark.read.parquet(s"$out/data").count() shouldBe 3
  }

  it("fails fast when a file appears BELOW the consumed offset (non-" +
     "monotonic naming breaks exactly-once, and must not be silent)") {
    val d = graft.io.TempReaper.tempDir("graft-proto-nonmono")
    val out = graft.io.TempReaper.tempDir("graft-proto-nonmono-out")
    val b64 = java.util.Base64.getEncoder
    def writeCache(name: String, ids: Seq[Long]): Unit = {
      val lines = b64.encodeToString(query.getBytes("UTF-8")) +:
        ids.map(id => b64.encodeToString(enc(id)))
      java.nio.file.Files.write(d.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
      ()
    }
    writeCache("c5.txt", Seq(1L))
    ProtoSource.registerDescriptor("ads_row", msg)
    val q = spark.readStream.format("graft.io.ProtoSource")
      .option("descriptor", "ads_row")
      .load(d.toString)
      .select("id")
      .writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .start()
    try {
      q.processAllAvailable() // batch 1 consumes c5.txt; offset = ...c5.txt
      // a LATE file sorting below the consumed offset: name-range batching
      // would silently skip it — the stream must fail instead
      writeCache("c1.txt", Seq(2L))
      val ex = intercept[Exception] { q.processAllAvailable() }
      ex.getMessage should include("non-monotonic")
    } finally q.stop()
  }

  it("fails fast when the newest consumed cache file DISAPPEARS (a " +
     "regressed listing must not silently rewind the checkpoint watermark)") {
    val d = graft.io.TempReaper.tempDir("graft-proto-rewind")
    val out = graft.io.TempReaper.tempDir("graft-proto-rewind-out")
    val b64 = java.util.Base64.getEncoder
    def writeCache(name: String, ids: Seq[Long]): Unit = {
      val lines = b64.encodeToString(query.getBytes("UTF-8")) +:
        ids.map(id => b64.encodeToString(enc(id)))
      java.nio.file.Files.write(d.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
      ()
    }
    writeCache("c5.txt", Seq(1L))
    ProtoSource.registerDescriptor("ads_row", msg)
    val q = spark.readStream.format("graft.io.ProtoSource")
      .option("descriptor", "ads_row")
      .load(d.toString)
      .select("id")
      .writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .start()
    try {
      q.processAllAvailable()
      writeCache("c7.txt", Seq(2L))
      q.processAllAvailable() // reported offset is now ...c7.txt
      java.nio.file.Files.delete(d.resolve("c7.txt"))
      val ex = intercept[Exception] { q.processAllAvailable() }
      ex.getMessage should include("regressed")
    } finally q.stop()
  }

  it("enforces the S2 cache-validity rule: mismatched query → refetch error") {
    read.option("expectedQuery", query).load(dir)
      .select("id", "impressions").as[(Long, Long)].collect().sortBy(_._1)
      .toSeq shouldBe (1L to 9L).map(id => (id, id * 100))
    val ex = intercept[Exception] {
      read.option("expectedQuery", "other query").load(dir).count()
    }
    ex.getMessage should include("refetch")
  }

  it("fails loudly, naming the file and line, on a truncated message — " +
     "with a pushed gate and without one") {
    val d = graft.io.TempReaper.tempDir("graft-proto-truncated")
    val b64 = java.util.Base64.getEncoder
    // id and impressions intact, then a name announcing 50 bytes of which 3
    // are present: the full decode reads past the end, the gate and the
    // pruned decode skip past it
    val truncated = {
      val out = new java.io.ByteArrayOutputStream()
      varint(out, 8); varint(out, 3)
      varint(out, 24); varint(out, 900)
      varint(out, 18); varint(out, 50); out.write("row".getBytes("UTF-8"))
      out.toByteArray
    }
    val lines = b64.encodeToString(query.getBytes("UTF-8")) +:
      Seq(enc(1), enc(2), truncated, enc(4)).map(b64.encodeToString)
    java.nio.file.Files.write(d.resolve("cut.txt"), lines.mkString("\n").getBytes("UTF-8"))
    val scans = Seq(
      "full decode" -> read.load(d.toString),
      "pruned decode" -> read.load(d.toString).select("id"),
      "pushed gate" -> read.load(d.toString).filter(col("impressions") > 150).select("id"))
    scans.foreach { case (what, df) =>
      withClue(what) {
        val ex = intercept[Exception](df.collect())
        ex.getMessage should include("MalformedProtoException")
        ex.getMessage should include("cut.txt line 4")
        ex.getMessage should include("truncated message")
      }
    }
    scans.last._2.queryExecution.executedPlan.toString should include("PushedRowGate: [")
  }

  it("a persisted scan fanned out to the Avro and JSON sinks decodes the " +
     "cache once, even when its plan was built before persist()") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val out = graft.io.TempReaper.tempDir("graft-proto-fanout")
    val df = read.load(dir).filter(col("impressions") > 500).select("id", "name", "status")
    df.queryExecution.executedPlan // planned before persist(), as a traced report op is
    val report = graft.plan.ReportConfig.parse(
      s"""{"table": "ads_row", "fields": ["id", "name", "status"], "sinks": [{"format": "avro", "path": "$out/avro"},
         |{"format": "json", "path": "$out/json"}]}""".stripMargin)
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.synchronized { plans += qe.executedPlan }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try report.writeSinks(df)
    finally {
      org.apache.spark.sql.graft.Bridge.waitListeners(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    AvroSink.readToJsonStrings(spark, s"$out/avro") should have size 4
    spark.read.json(s"$out/json").count() shouldBe 4

    def scansOf(p: SparkPlan) = graft.plans.PlanWalk.collectAll(p) {
      case b if b.getClass.getSimpleName == "BatchScanExec" => b
    }
    plans should have size 2 // the Avro write, then the JSON write
    val cached = plans.toSeq.map { p =>
      scansOf(p) shouldBe empty
      graft.plans.PlanWalk.collectAll(p) { case m: InMemoryTableScanExec => m }.head
    }
    // ids 1..5 fail the gate: rejected once by the cache's own scan, never
    // by the plan built before persist()
    val cacheScan = scansOf(cached.head.relation.cacheBuilder.cachedPlan).head
    cacheScan.metrics("rowsGated").value shouldBe 5
    scansOf(df.queryExecution.executedPlan).head.metrics("rowsGated").value shouldBe 0
  }
}
