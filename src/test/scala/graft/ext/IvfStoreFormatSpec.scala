package graft.ext

import org.apache.spark.sql.functions._

import graft.GraftSpec

/** The format-2 [[IvfStore]] layout invariants the readers rely on
  * without probing the filesystem: every write path (create, append —
  * a fully dropped batch included —, compaction and refit, with and
  * without the PQ tier) leaves a `drift/append=<id>` sidecar for every
  * active id, a variance spectrum for every PQ generation, and `residual`
  * and `perm` columns in every codebook.
  */
class IvfStoreFormatSpec extends GraftSpec {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-ivf-format-spec")
      .toString + "/idx"

  /** The invariants on the store's current snapshot; returns its active ids. */
  private def checkLayout(store: IvfStore, pq: Boolean): Seq[String] = {
    val fs = store.log.manifests.fileSystem
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    val active = store.log.activeIds(store.log.visible(None), "assigned")
    active.filterNot(id => exists(s"${store.path}/drift/append=$id")) shouldBe empty
    // the drift reads list every active id's sidecar without probing it
    store.driftReport().select("append").as[String].collect().toSet
      .subsetOf(active.toSet) shouldBe true
    store.cellOccupancy().map(_._2).sum shouldBe store.stats.vectors
    val books = fs.listStatus(new org.apache.hadoop.fs.Path(store.path))
      .map(_.getPath.getName).filter(_.startsWith("pqbook")).toSeq
    books.isEmpty shouldBe !pq
    books.foreach { b =>
      exists(s"${store.path}/${b.replace("pqbook", "varspec")}") shouldBe true
      spark.read.parquet(s"${store.path}/$b").columns should contain allOf (
        "residual", "perm")
    }
    if (pq) store.permuteAdvisory().generation should be >= 1
    active
  }

  for (pq <- Seq(false, true))
    it(s"every format-2 write path keeps the sidecars the readers assume " +
       s"(PQ tier: $pq)") {
      val key = StoreLog.CompactThresholdKey
      spark.conf.set(key, "1")
      try {
        val store = IvfStore.create(emb.filter($"vec_id" % 3 === 0),
          "vec_id", "embedding", tmp(), k = 4,
          pqM = if (pq) 16 else 0, pqK = 8)
        val seen = Seq.newBuilder[String]
        seen ++= checkLayout(store, pq)
        store.append(emb.filter(lit(false)), "vec_id", "embedding")
        seen ++= checkLayout(store, pq)
        for (r <- Seq(1, 2)) {
          store.append(emb.filter($"vec_id" % 3 === r), "vec_id", "embedding")
          seen ++= checkLayout(store, pq)
        }
        store.refit(k = 4)
        seen ++= checkLayout(store, pq)
        // every write path ran: appends (a…), a compaction fold (c…), a refit (r…)
        seen.result().map(_.head).toSet shouldBe Set('a', 'c', 'r')
      } finally spark.conf.unset(key)
    }
}
