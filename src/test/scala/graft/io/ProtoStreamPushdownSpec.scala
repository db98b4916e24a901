package graft.io

import org.apache.spark.sql.functions._

import graft.GraftSpec

/** Does the STREAMING side of the proto source receive Catalyst's
  * pushdown the way the batch side does? ANSWER (probed on Spark 4.1,
  * and the reason dq157's scaladoc says what it says): NO — the
  * micro-batch plan shows `ReadFields: [id, name, score]` (every
  * declared field) and `PushedRowGate: []`; Spark's scan-pushdown rule
  * only handles BATCH DSv2 relations, so a streaming report decodes all
  * declared fields and filters above the scan. Correctness is unaffected
  * either way — filters stay residual above the scan even on the pushed
  * batch path — which is exactly what this spec pins: the filtered,
  * projected stream delivers the batch-mode answer row for row. Pruning
  * a stream is done at the DESCRIPTOR (declare only the fields needed);
  * batch reads of the same cache get the full pushdown (`ProtoSourceSpec`).
  */
class ProtoStreamPushdownSpec extends GraftSpec {
  import graft.io.ProtoIngest._

  private val msg = PMessage("push_row", Seq(
    PField(1, "id", PInt64),
    PField(2, "name", PString),
    PField(3, "score", PInt64)))

  private def enc(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    varint(8); varint(id)
    val n = s"row_$id".getBytes("UTF-8")
    varint(18); varint(n.length.toLong); out.write(n, 0, n.length)
    varint(24); varint(id % 10)
    out.toByteArray
  }

  it("a filtered, projected micro-batch stream delivers exactly the " +
     "batch-mode answer (the scan builder is shared; filters stay " +
     "residual, so pushdown can only skip work, never change rows)") {
    val d = graft.io.TempReaper.tempDir("graft-proto-push")
    val out = graft.io.TempReaper.tempDir("graft-proto-push-out")
    val b64 = java.util.Base64.getEncoder
    val lines = b64.encodeToString("q".getBytes("UTF-8")) +:
      (0L until 200L).map(id => b64.encodeToString(enc(id)))
    java.nio.file.Files.write(d.resolve("c0.txt"),
      lines.mkString("\n").getBytes("UTF-8"))
    ProtoSource.registerDescriptor("push_row", msg)
    val q = spark.readStream.format("graft.io.ProtoSource")
      .option("descriptor", "push_row")
      .load(d.toString)
      .filter(col("score") >= 8L) // 2 of 10 ids pass
      .select("id", "score")
      .writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$out/data")
    got.columns.sorted shouldBe Array("id", "score")
    got.count() shouldBe 40L // ids with id % 10 in {8, 9}
    got.agg(min("score"), max("score")).head() match {
      case r => (r.getLong(0), r.getLong(1)) shouldBe ((8L, 9L))
    }
    // batch-mode parity over the same cache
    val batch = spark.read.format("graft.io.ProtoSource")
      .option("descriptor", "push_row").load(d.toString)
      .filter(col("score") >= 8L).select("id", "score")
    import spark.implicits._
    got.orderBy("id").as[(Long, Long)].collect().toSeq shouldBe
      batch.orderBy("id").as[(Long, Long)].collect().toSeq
  }
}
