package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSpec

/** Property sweep for the IVF refit lifecycle (the dq142 oracle
  * generalized to random corpora, the family's property-sweep pattern):
  * refit-from-the-stored-relation must equal a from-scratch
  * [[IvfStore.create]] on the union corpus — centroids, search results —
  * for ANY corpus and ANY append split, with a pre-commit crash retried
  * and a double refit both converging. Plus the reader-pin contract
  * across generations: a search planned before a refit keeps its
  * generation-1 snapshot (centroids AND dirs) after the cut-over, for as
  * long as the vacuum retention window guarantees the dirs.
  */
class IvfRefitPropertySpec extends GraftSpec {
  import spark.implicits._

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-ivf-refit")
      .toString + "/idx"

  private def corpus(seed: Long, n: Int, dims: Int): DataFrame = {
    val rnd = new java.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong + 1, Seq.fill(dims)(rnd.nextDouble().toFloat * 2f - 1f))
    }.toDF("vec_id", "embedding").localCheckpoint(true)
  }

  private def resOf(s: IvfStore, qids: Seq[Long]): Seq[(Long, Long, Double)] =
    s.search(s.vectorsOf(qids), topK = 4, nprobe = 2)
      .orderBy("qid", "vid").as[(Long, Long, Double)].collect().toSeq

  it("refit ≡ create-from-scratch on the union corpus for random corpora " +
     "and append splits; a crashed refit is invisible and its retry — or " +
     "a post-commit rerun — converges") {
    for (seed <- 0 until 3) withClue(s"seed=$seed: ") {
      val rnd = new java.util.Random(4200L + seed)
      val docs = corpus(9100L + seed, 50 + rnd.nextInt(30), 6)
      val cut = (2 + rnd.nextInt(7)).toLong
      val path = tmp()
      val store = IvfStore.create(
        docs.filter(pmod($"vec_id", lit(cut)) =!= 0L),
        "vec_id", "embedding", path, k = 4, iters = 2)
      store.appendOnce(docs.filter(pmod($"vec_id", lit(cut)) === 0L),
        "vec_id", "embedding", s"rfp#$seed")
      val qids = docs.select("vec_id").as[Long].collect().sorted.take(5).toSeq
      val gen1 = resOf(store, qids)
      if (rnd.nextBoolean()) {
        // pre-commit death inside the refit: new centroid dir + relation
        // dir staged, marker absent — the store must still serve gen 1
        ManifestLog.failCommitUnder = Some(path)
        try an[Exception] should be thrownBy store.refit(k = 4)
        finally ManifestLog.failCommitUnder = None
        resOf(store, qids) shouldBe gen1
        resOf(IvfStore.open(spark, path), qids) shouldBe gen1
      }
      val st = store.refit(k = 4)
      st.vectors shouldBe docs.count()
      val fresh = IvfStore.create(docs, "vec_id", "embedding", tmp(),
        k = 4, iters = 2)
      resOf(store, qids) shouldBe resOf(fresh, qids)
      store.centroids.map { case (c, v) => (c, v.toSeq) } shouldBe
        fresh.centroids.map { case (c, v) => (c, v.toSeq) }
      // the post-commit rerun: same stored corpus → same training → the
      // next generation is semantically identical (refit is idempotent in
      // RESULTS even though each run commits a new generation)
      store.refit(k = 4)
      resOf(store, qids) shouldBe resOf(fresh, qids)
      resOf(IvfStore.open(spark, path), qids) shouldBe resOf(fresh, qids)
    }
  }

  it("a search planned before a refit keeps its generation-1 snapshot " +
     "after the cut-over (within vacuum retention); past retention the " +
     "old dirs unlink but every generation's centroid dir survives") {
    val docs = corpus(7700L, 60, 6)
    val path = tmp()
    val store = IvfStore.create(docs.filter($"vec_id" <= 40L),
      "vec_id", "embedding", path, k = 4)
    store.appendOnce(docs.filter($"vec_id" > 40L), "vec_id", "embedding",
      "pin#1")
    val qids = Seq(1L, 2L, 3L)
    // pin a reader NOW: search resolved ONE manifest snapshot —
    // generation-1 centroids for the probe ranking AND the two
    // pre-refit relation dirs for the candidate scan
    val pinned = store.search(store.vectorsOf(qids), topK = 4, nprobe = 2)
    val expect = pinned.orderBy("qid", "vid")
      .as[(Long, Long, Double)].collect().toSeq
    store.refit(k = 4)
    // DEFAULT retention (1h): the refit-superseded dirs survive vacuum...
    store.vacuum() shouldBe 0
    // ...so the pinned generation-1 reader still collects correctly
    pinned.orderBy("qid", "vid")
      .as[(Long, Long, Double)].collect().toSeq shouldBe expect
    // while NEW plans resolve generation 2 ≡ scratch-on-union
    resOf(store, qids) shouldBe resOf(
      IvfStore.create(docs, "vec_id", "embedding", tmp(), k = 4), qids)
    // past retention the superseded dirs ARE unlinked — a reader older
    // than the window is the documented failure mode (size
    // spark.graft.index.vacuumRetentionMs to cover the longest query)
    spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
    try store.vacuum() should be >= 2
    finally spark.conf.unset("spark.graft.index.vacuumRetentionMs")
    // generations' centroid dirs are never vacuumed (k tiny rows each):
    // an in-window reader can always resolve its snapshot's matrix
    new java.io.File(s"$path/centroids").exists() shouldBe true
    new java.io.File(s"$path/centroids_g2").exists() shouldBe true
    // and the post-vacuum store still serves generation 2 intact
    resOf(IvfStore.open(spark, path), qids) shouldBe
      resOf(store, qids)
  }
}
