package graft.io

import org.apache.spark.sql.functions._

import graft.GraftSpec

class ParquetMetaSpec extends GraftSpec {

  it("rowCount over a partitioned dir equals a Spark count, ignoring " +
     "_SUCCESS and .crc files") {
    val dir = graft.io.TempReaper.tempDir("graft-pqmeta")
      .toString + "/t"
    spark.range(0, 1000).repartition(3)
      .withColumn("cell", col("id") % 4)
      .write.partitionBy("cell").parquet(dir)
    val root = new java.io.File(dir)
    val files = root.listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).map(_.getName)
    files.count(_.endsWith(".parquet")) should be > 4
    files.exists(n => n.startsWith(".") && n.endsWith(".crc")) shouldBe true
    new java.io.File(root, "_SUCCESS").exists() shouldBe true
    ParquetMeta.rowCount(spark, dir) shouldBe spark.read.parquet(dir).count()
    ParquetMeta.rowCount(spark, dir) shouldBe 1000L
  }
}
