package graft.io

import graft.GraftSpec
import org.apache.spark.sql.functions._

/** Write-time layout: non-overlapping file ranges, partition pruning. */
class LayoutSpec extends GraftSpec {
  import spark.implicits._

  it("sortedWrite produces files with non-overlapping key ranges") {
    val dir = graft.io.TempReaper.tempDir("graft-layout").toString
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    Layout.sortedWrite(li, dir, numFiles = 4, "l_shipdate")

    // per-file min/max of the clustering key must not overlap
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_shipdate").as("lo"), max("l_shipdate").as("hi"))
      .orderBy("lo")
      .as[(String, String, String)].collect()
    ranges.length should be >= 2
    ranges.sliding(2).foreach {
      case Array((_, _, hi1), (_, lo2, _)) => hi1 should be <= lo2
      case _ =>
    }
    // round-trip completeness
    spark.read.parquet(dir).count() shouldBe li.count()
  }

  it("zorderWrite bounds file extents in BOTH dimensions — a band filter " +
     "on the second key skips files that a linear sort cannot") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_quantity", "l_extendedprice")
    val zDir = graft.io.TempReaper.tempDir("graft-z").toString
    val xDir = graft.io.TempReaper.tempDir("graft-x").toString
    Layout.zorderWrite(li, zDir, numFiles = 16, "l_quantity", "l_extendedprice")
    Layout.sortedWrite(li, xDir, numFiles = 16, "l_quantity")

    // per-file min/max extents of the SECOND dimension
    def priceExtents(dir: String) = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
      .select("lo", "hi").as[(Double, Double)].collect()

    // a 10%-of-range band on price, mid-distribution
    val (pLo, pHi) = li.agg(min("l_extendedprice"), max("l_extendedprice"))
      .as[(Double, Double)].head()
    val bandLo = pLo + (pHi - pLo) * 0.45
    val bandHi = pLo + (pHi - pLo) * 0.55
    def overlapping(ext: Array[(Double, Double)]): Int =
      ext.count { case (lo, hi) => lo <= bandHi && hi >= bandLo }

    val zFiles = priceExtents(zDir)
    val xFiles = priceExtents(xDir)
    zFiles.length shouldBe 16
    // linear-by-quantity leaves price uniform across every file: no skipping
    overlapping(xFiles) shouldBe xFiles.length
    // z-order bounds price per file: a min/max-aware reader skips some files
    overlapping(zFiles) should be < xFiles.length
    // and correctness: both layouts hold the full dataset
    spark.read.parquet(zDir).count() shouldBe li.count()
  }

  it("partitionedWriteCached rewrites once per input: same plan+data skips, " +
     "changed data re-lays-out") {
    val src = graft.io.TempReaper.tempDir("graft-lc-src").toString
    val out = graft.io.TempReaper.tempDir("graft-lc-out").toString + "/layout"
    def files(): Set[String] = spark.read.parquet(out)
      .select(input_file_name()).distinct().as[String].collect().toSet

    Seq((1L, "a"), (2L, "b")).toDF("id", "k")
      .write.mode("overwrite").parquet(src)
    Layout.partitionedWriteCached(spark.read.parquet(src), out, "k")
    val first = files()

    // identical plan over identical input: the layout must NOT be rewritten
    // (part-file names are fresh UUIDs on every write, so identity of the
    // file set proves the skip)
    Layout.partitionedWriteCached(spark.read.parquet(src), out, "k")
    files() shouldBe first

    // new input data at the same path: fingerprint miss, fresh layout
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "k")
      .write.mode("overwrite").parquet(src)
    Layout.partitionedWriteCached(spark.read.parquet(src), out, "k")
    files() should not be first
    spark.read.parquet(out).count() shouldBe 3
  }

  it("interleave16 stays non-negative across the full 16-bit range (the " +
     "32-bit sign-wrap regression)") {
    val z = Seq((65535, 65535), (32768, 0), (32767, 65535), (0, 0))
      .toDF("a", "b")
      .select(Layout.interleave16(col("a"), col("b")).as("z"))
      .as[Long].collect()
    z(0) shouldBe 0xFFFFFFFFL // all 32 bits set, POSITIVE in long
    z(1) shouldBe 0x80000000L // a's bit 15 at position 31, not a sign bit
    z(2) shouldBe 0x7FFFFFFFL
    z(3) shouldBe 0L
    // ordering sanity: the top half of the a-range sorts AFTER the bottom
    z(1) should be > z(2)
  }

  it("compact collapses a small-file mess into byte-sized output files") {
    val src = graft.io.TempReaper.tempDir("graft-cp-src").toString
    val dst = graft.io.TempReaper.tempDir("graft-cp-dst").toString + "/out"
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.repartition(64).write.mode("overwrite").parquet(src) // the mess
    def fileCount(dir: String): Int = spark.read.parquet(dir)
      .select(input_file_name()).distinct().count().toInt
    fileCount(src) shouldBe 64

    val srcBytes = {
      val hp = new org.apache.hadoop.fs.Path(src)
      hp.getFileSystem(spark.sessionState.newHadoopConf())
        .getContentSummary(hp).getLength
    }
    val n = Layout.compact(spark, src, dst, targetFileBytes = srcBytes / 4,
      sortCols = Seq("l_shipdate"))
    fileCount(dst) shouldBe n
    n should be <= 6 // ceil(total/(total/4)) = 4-ish; far fewer than 64
    spark.read.parquet(dst).count() shouldBe li.count()
    // and the rewrite re-clustered: non-overlapping l_shipdate file ranges
    val ranges = spark.read.parquet(dst)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_shipdate").as("lo"), max("l_shipdate").as("hi"))
      .orderBy("lo").select("lo", "hi").as[(String, String)].collect()
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => hi1 should be <= lo2
      case _ =>
    }
  }

  it("partitionedWrite prunes directories for an equality filter") {
    val dir = graft.io.TempReaper.tempDir("graft-layout-p").toString
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("yr", year($"o_orderdate"))
    Layout.partitionedWrite(o, dir, "yr")

    val read = spark.read.parquet(dir).filter($"yr" === 1995)
    read.count() shouldBe o.filter($"yr" === 1995).count()
    // partition pruning visible in the scan: only the yr=1995 directory
    val scanned = read.select(input_file_name()).distinct()
      .as[String].collect()
    all(scanned) should include("yr=1995")
  }
}
