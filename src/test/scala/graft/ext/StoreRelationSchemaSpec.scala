package graft.ext

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.GraftSpec

/** Pins every DECLARED store-relation schema (the r18 optimization: a
  * declared schema means no read of the relation ever runs a parquet
  * schema-inference job — one driver round-trip job saved per relation
  * per store) against the schema Spark would have INFERRED from the
  * written layout. A writer change that drifts a relation's shape fails
  * here instead of silently misreading the store.
  *
  * Also covers the stats that ride in the commit manifest ([[StoreLog]]:
  * zero Spark jobs per read or write): round-trip, the newest commit
  * wins, and the fail-fast on a missing or foreign layout; the named
  * refusal of layouts written before the current format; and the
  * least-recently-used bound of [[RelRead]]'s schema cache.
  */
class StoreRelationSchemaSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    graft.io.TempReaper.tempDir(s"graft-relschema-$tag")
      .toString + "/idx"

  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "one two three four five six seven eight nine ten"),
    (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    .toDF("doc_id", "text")

  private def inferred(paths: Seq[String],
      basePath: Option[String] = None): StructType = {
    val r = spark.read
    basePath.foreach(b => r.option("basePath", b))
    r.parquet(paths: _*).schema
  }

  it("SubstrIndex.digestsSchema matches the written layout") {
    val path = tmp("ss")
    SubstrIndex.build(docs, "doc_id", "text", path, k = 4)
    inferred(Seq(s"$path/digests/append=a000001")) shouldBe
      SubstrIndex.digestsSchema
  }

  it("NgramLmStore.countsSchema matches the written layout " +
     "(three data columns, no partition columns)") {
    val path = tmp("lm")
    NgramLmStore.build(docs, "doc_id", "text", path)
    inferred(Seq(s"$path/counts/append=a000001")) shouldBe
      NgramLmStore.countsSchema
  }

  it("QualityProbeStore.momentsSchema matches the written layout") {
    val path = tmp("qp")
    QualityProbeStore.create(docs, "doc_id", "text", path)
    inferred(Seq(s"$path/moments/append=a000001")) shouldBe
      QualityProbeStore.momentsSchema
  }

  it("NearDupIndex write-side seeded schemas match inference " +
     "(digests, bands, counts)") {
    val path = tmp("nd")
    NearDupIndex.build(docs, "doc_id", "text", path)
    // the seed registered at write time must equal what a foreign-JVM
    // reader would infer — read each relation through RelRead (seeded)
    // and through bare inference, and compare
    for (rel <- Seq("digests", "bands", "counts")) {
      val seeded = RelRead.read(spark, s"$path#$rel",
        Seq(s"$path/$rel/append=a000001")).schema
      inferred(Seq(s"$path/$rel/append=a000001")) shouldBe seeded
    }
  }

  it("media index write-side seeded schemas match inference") {
    val media = docs.select(col("doc_id"),
      concat((0 to 7).map(j =>
        md5(concat_ws(":", lit("mb"), col("doc_id"), lit(j)))): _*)
        .cast("binary").as("payload"))
    val dg = tmp("md"); val sg = tmp("msig"); val cd = tmp("mcdc")
    MediaDigestIndex.build(media, "doc_id", "payload", dg)
    MediaSigIndex.build(media, "doc_id", "payload", sg)
    MediaCdcIndex.build(media, "doc_id", "payload", cd)
    for ((path, rel) <- Seq((dg, "digests"), (sg, "sigs"), (cd, "chunks"))) {
      val seeded = RelRead.read(spark, s"$path#$rel",
        Seq(s"$path/$rel/append=a000001")).schema
      inferred(Seq(s"$path/$rel/append=a000001")) shouldBe seeded
    }
  }

  it("commit stats round-trip and overwrite (newest commit wins) and fail " +
     "fast on a missing or foreign layout") {
    val path = tmp("kv")
    val log = new StoreLog(spark, path, Seq(StoreRel("r")))
    log.locked(log.append(None) { (_, _) => Map("a" -> "1", "b" -> "x=y") })
    // read back off the marker file by a fresh reader
    new StoreLog(spark, path, Nil).stats shouldBe Map("a" -> "1", "b" -> "x=y")
    log.locked(log.append(None) { (_, _) => Map("a" -> "2") })
    log.stats shouldBe Map("a" -> "2")
    // a commit without stats (a compaction's) does not hide them
    log.locked {
      val (_, seq, id) = log.begin('c')
      log.manifests.commit(Manifest(rels = Map("r" -> Seq(id))), seq)
    }
    log.stats shouldBe Map("a" -> "2")
    log.statsIn(log.visible(None)) shouldBe Map("a" -> "2")
    an[IllegalArgumentException] should be thrownBy
      new StoreLog(spark, tmp("kv-missing"), Nil).stats
    // a foreign layout: parquet data but no commit log
    val foreign = tmp("kv-foreign")
    docs.write.parquet(s"$foreign/digests/append=a000001")
    an[IllegalArgumentException] should be thrownBy
      SubstrIndex.open(spark, foreign)
  }

  /** A pre-change layout: a positional manifest (no `format=2`) over a
    * relation dir, as the sidecar-era writers left it. */
  private def legacyLayout(tag: String, manifest: String): String = {
    val path = tmp(tag)
    docs.write.parquet(s"$path/digests/append=a000001")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$path/_commits"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/_commits/m000001"),
      manifest.getBytes("UTF-8"))
    path
  }

  private def refusal(path: String)(open: => Any): Unit = {
    val e = intercept[IllegalArgumentException](open)
    e.getMessage should (include(path) and include("predates") and
      include("rebuilt"))
  }

  it("open refuses a positional manifest + stats/stats.kv layout by name") {
    val path = legacyLayout("legacy-kv", "digests=a000001")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$path/stats"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/stats/stats.kv"),
      "digests=3\nk=4\n".getBytes("UTF-8"))
    refusal(path)(SubstrIndex.open(spark, path))
  }

  it("open refuses a positional manifest + 1-row parquet stats/ layout by " +
     "name, and a stale stats/ dir beside current manifests") {
    val path = legacyLayout("legacy-parquet",
      "digests=a000001\nbands=a000001\ncounts=a000001")
    Seq((3L, 7L, 16, 4, 100)).toDF("docs", "band_keys", "num_hashes",
      "bands", "max_bucket").coalesce(1).write.parquet(s"$path/stats")
    refusal(path)(NearDupIndex.open(spark, path))
    // the manifest check alone: every read of the log refuses it
    refusal(path)(new ManifestLog(spark, path).read())
    // the stats/ check alone: current manifests, a leftover stats/ dir
    val current = tmp("stale-stats")
    NearDupIndex.build(docs, "doc_id", "text", current)
    docs.write.parquet(s"$current/stats")
    refusal(current)(NearDupIndex.open(spark, current))
  }

  it("NgramLmStore.open refuses the prefix-hash-bucketed counts/ layout " +
     "(wb= dirs, stat.buckets in the commit) by name") {
    val path = tmp("lm-bucketed")
    Seq(("alpha", "alpha beta", 2L)).toDF("__w1", "__bg", "__c12")
      .write.parquet(s"$path/counts/append=a000001/wb=3")
    // the marker as the bucketed writer rendered it
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$path/_commits"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/_commits/m000001"),
      Seq("format=2", "rel.counts=a000001", "stat.bigramRows=1",
        "stat.buckets=16", s"stat.hiMicro=${Long.MaxValue}", "stat.loMicro=0")
        .mkString("\n").getBytes("UTF-8"))
    NgramLmStore.exists(spark, path) shouldBe true
    refusal(path)(NgramLmStore.open(spark, path))
    intercept[IllegalArgumentException](NgramLmStore.open(spark, path))
      .getMessage should include("bucketed counts/")
  }

  it("RelRead's schema cache evicts least-recently-used entries: a key " +
     "touched between 1,100 other inserts is still served without an " +
     "inference job") {
    val path = tmp("lru")
    SubstrIndex.build(docs, "doc_id", "text", path, k = 4)
    val dirs = Seq(s"$path/digests/append=a000001")
    val key = s"$path#lru-probe"
    RelRead.seed(key, SubstrIndex.digestsSchema)
    JobCount.of(spark, "lru") {
      for (i <- 1 to 1100) {
        RelRead.seed(s"$path#lru-filler-$i", SubstrIndex.digestsSchema)
        if (i % 100 == 0) RelRead.read(spark, key, dirs)
      }
      RelRead.read(spark, key, dirs)
      ()
    } shouldBe 0
  }

  it("stats survive store reopen (the commit is the stats of record)") {
    val path = tmp("reopen")
    val st = SubstrIndex.build(docs, "doc_id", "text", path, k = 4).stats
    SubstrIndex.open(spark, path).stats shouldBe st
    st.k shouldBe 4
    st.digests should be > 0L
  }
}
