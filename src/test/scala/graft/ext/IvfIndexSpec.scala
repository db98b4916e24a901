package graft.ext

import graft.GraftSpec

/** Trained-centroid IVF index: determinism, recall vs the exact baseline,
  * and the batched query path.
  */
class IvfIndexSpec extends GraftSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val index = IvfIndex.fit(emb, "vec_id", "embedding", k = 8)

  it("fit bounds k: centroids are driver-collected, so an unbounded k " +
     "is refused up front") {
    an[IllegalArgumentException] should be thrownBy
      IvfIndex.fit(emb, "vec_id", "embedding", k = (1 << 16) + 1)
    an[IllegalArgumentException] should be thrownBy
      IvfIndex.fit(emb, "vec_id", "embedding", k = 0)
  }

  it("probing all cells reproduces the exact brute-force top-k") {
    val exact = Ann.bruteForceTopK(emb, "vec_id", "embedding", 1L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val ivf = index.query(1L, 10, nprobe = 8)
      .select("vid").as[Long].collect().toSeq
    ivf shouldBe exact
  }

  it("probing few cells returns a subset with nonzero recall") {
    val exact = Ann.bruteForceTopK(emb, "vec_id", "embedding", 2L, 10)
      .select("vec_id").as[Long].collect().toSet
    val approx = index.query(2L, 10, nprobe = 2)
      .select("vid").as[Long].collect().toSet
    approx.size should be <= 10
    (approx intersect exact) should not be empty
  }

  it("every vector lands in exactly one cell") {
    index.assigned.select("cell").distinct().count() should be <= 8L
    index.assigned.count() shouldBe emb.count()
  }

  it("training is deterministic: a second fit yields identical centroids") {
    val again = IvfIndex.fit(emb, "vec_id", "embedding", k = 8)
    try {
      again.centroids.map(_._1) shouldBe index.centroids.map(_._1)
      again.centroids.zip(index.centroids).foreach { case ((_, a), (_, b)) =>
        a.toSeq shouldBe b.toSeq // exact double equality — no RNG, no drift
      }
    } finally again.release()
  }

  it("queryAll batches every query into one plan, equal to per-id queries") {
    val batched = index.queryAll(Seq(1L, 2L, 3L), topK = 4, nprobe = 2)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    val singles = Seq(1L, 2L, 3L).flatMap { q =>
      index.queryAll(Seq(q), topK = 4, nprobe = 2)
        .select("qid", "vid").as[(Long, Long)].collect()
    }.toSet
    batched shouldBe singles
  }

  it("packed-int8 scoring (IVF+SQ8) returns full top-k per query and " +
     "tracks the float cosine ranking") {
    val f = index.queryAll(Seq(1L, 2L), topK = 10, nprobe = 8)
      .select("qid", "vid").as[(Long, Long)].collect().groupBy(_._1)
    val p = index.queryAllPacked(Seq(1L, 2L), topK = 10, nprobe = 8)
      .select("qid", "vid").as[(Long, Long)].collect().groupBy(_._1)
    p.keySet shouldBe f.keySet
    p.foreach { case (qid, rows) =>
      rows.length shouldBe 10
      // integer inner product vs float cosine: substantial overlap on this
      // near-uniform-norm corpus
      (rows.map(_._2).toSet intersect f(qid).map(_._2).toSet).size should be >= 5
    }
  }

  it("packed() materializes the stored index: identical ranking to the " +
     "on-the-fly packed tier, and the candidate scan carries NO float column") {
    val pidx = index.packed()
    try {
      // the cached candidate relation is exactly (vid, cell, pemb)
      pidx.packed.schema.fieldNames.toSeq shouldBe Seq("vid", "cell", "pemb")
      pidx.packed.storageLevel.useMemory shouldBe true

      val stored = pidx.queryAll(Seq(1L, 2L), topK = 10, nprobe = 4)
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      val onTheFly = index.queryAllPacked(Seq(1L, 2L), topK = 10, nprobe = 4)
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      stored shouldBe onTheFly

      // plan audit: the join's candidate side reads the packed cache (no
      // emb/nrm attribute), while any scan carrying the float emb is the
      // tiny id-filtered query side
      val plan = pidx.queryAll(Seq(1L), topK = 5, nprobe = 2)
        .queryExecution.executedPlan.toString
      val scans = plan.split("\n").filter(_.contains("InMemoryTableScan"))
      scans.exists(l => l.contains("pemb#") &&
        !l.matches(".*[\\[, ]emb#.*") && !l.contains("nrm#")) shouldBe true
    } finally pidx.release()
  }

  it("all three batched query paths plan through the bounded-heap " +
     "TopKPerKeyExec — no rank window over the candidate set") {
    def audit(df: org.apache.spark.sql.DataFrame): Unit = {
      val p = df.queryExecution.executedPlan.toString
      "TopKPerKey".r.findAllIn(p).size shouldBe 2 // partial + final heap
      p should not include "row_number"
      p should not include "Window"
      // exactly one hash exchange — the heap final's qid clustering; the
      // window formulation would add nothing less
      "Exchange hashpartitioning\\(qid".r.findAllIn(p).size shouldBe 1
    }
    audit(index.queryAll(Seq(1L, 2L), topK = 5, nprobe = 2))
    audit(index.queryAllPacked(Seq(1L, 2L), topK = 5, nprobe = 2))
    val pidx = index.packed()
    try audit(pidx.queryAll(Seq(1L, 2L), topK = 5, nprobe = 2))
    finally pidx.release()
  }

  it("ranked surfaces (annTopK / annTopKMultiProbe / quantized topK) rank " +
     "AFTER the heap: the window's input is the O(qids·k) survivor set") {
    def audit(df: org.apache.spark.sql.DataFrame): Unit = {
      val p = df.queryExecution.executedPlan.toString
      "TopKPerKey".r.findAllIn(p).size shouldBe 2
      // executedPlan prints parents first: the rank window must sit ABOVE
      // the heap (consume its output), not below it on the candidate join
      p.indexOf("Window") should (be >= 0 and be < p.indexOf("TopKPerKey"))
    }
    audit(Ann.annTopK(emb, "vec_id", "embedding", Seq(1L, 2L), k = 5))
    audit(Ann.annTopKMultiProbe(emb, "vec_id", "embedding", Seq(1L, 2L), k = 5))
    audit(QuantizedAnn.topK(emb, "vec_id", "embedding", Seq(1L, 2L), k = 5))
  }

  it("large-k broadcast-kernel path (and the broadcast-join formulation) " +
     "are bit-identical to the literal fold: centroids, assignment, and " +
     "every query surface") {
    val q = Seq(1L, 2L, 3L)
    // literal-path truth, captured BEFORE the conf flips (probe selection
    // reads the conf at query-build time)
    val litIdx = IvfIndex.fit(emb, "vec_id", "embedding", k = 8)
    val litCentroids = litIdx.centroids
    val litAssigned = litIdx.assigned.select("vid", "cell")
      .as[(Long, Int)].collect().toSet
    val litQ = litIdx.queryAll(q, topK = 5, nprobe = 3)
      .as[(Long, Long, Double)].collect().toSet
    val litP = litIdx.queryAllPacked(q, topK = 5, nprobe = 3)
      .as[(Long, Long, Long)].collect().toSet
    litIdx.release()

    // the broadcast-JOIN formulation (cross-join + bounded-heap argmin)
    // assigns identically
    val viaJoin = IvfIndex.assignViaJoin(
        emb.select($"vec_id".as("vid"), $"embedding".as("emb")),
        "emb", "vid", litCentroids)
      .select("vid", "cell").as[(Long, Int)].collect().toSet
    viaJoin shouldBe litAssigned

    try {
      spark.conf.set(IvfIndex.LiteralMaxKConf, "0") // kernel path at any k
      val bcIdx = IvfIndex.fit(emb, "vec_id", "embedding", k = 8)
      try {
        bcIdx.centroids.map(_._1) shouldBe litCentroids.map(_._1)
        bcIdx.centroids.zip(litCentroids).foreach { case ((_, a), (_, b)) =>
          a.toSeq shouldBe b.toSeq // exact doubles — same fold, same ties
        }
        bcIdx.assigned.select("vid", "cell")
          .as[(Long, Int)].collect().toSet shouldBe litAssigned
        bcIdx.queryAll(q, topK = 5, nprobe = 3)
          .as[(Long, Long, Double)].collect().toSet shouldBe litQ
        bcIdx.queryAllPacked(q, topK = 5, nprobe = 3)
          .as[(Long, Long, Long)].collect().toSet shouldBe litP
        // interpreted eval of the kernel agrees with its codegen (the DF
        // runs codegen'd; NO_CODEGEN forces the interpreted Projection)
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        try {
          bcIdx.queryAll(q, topK = 5, nprobe = 3)
            .as[(Long, Long, Double)].collect().toSet shouldBe litQ
        } finally spark.conf.unset("spark.sql.codegen.factoryMode")
      } finally bcIdx.release()
    } finally spark.conf.unset(IvfIndex.LiteralMaxKConf)
  }

  it("NearestCells edge cases: nprobe past k truncates, ties break to the " +
     "lower cell id, short/null-element inputs fold like SquaredDistance") {
    import org.apache.spark.sql.functions.col
    val cents = Seq(0 -> Array(0.0, 0.0), 1 -> Array(1.0, 1.0), 2 -> Array(0.0, 0.0))
    val bc = spark.sparkContext.broadcast(cents.map(_._2).toArray)
    def cellsOf(emb: Seq[java.lang.Float], nprobe: Int): Seq[Int] = {
      val df = Seq(Tuple1(emb)).toDF("emb")
      df.select(graft.functions.NearestCells(col("emb"), bc,
        cents.map(_._1).toArray, nprobe).as("c")).as[Seq[Int]].head()
    }
    // cells 0 and 2 are identical → tie breaks toward cell 0, then 2
    cellsOf(Seq(0.1f, 0.1f), 3) shouldBe Seq(0, 2, 1)
    // nprobe beyond k returns exactly k cells
    cellsOf(Seq(0.9f, 0.9f), 99) shouldBe Seq(1, 0, 2)
    // a short embedding folds over min(len, dim) dims — cell 1 contributes
    // (1-0.9)^2 over one dim, beating the zero centroids' 0.81
    cellsOf(Seq(0.9f), 1) shouldBe Seq(1)
    // null elements contribute 0 to every distance (SquaredDistance parity)
    cellsOf(Seq(null, 0.9f), 1) shouldBe Seq(1)
  }

  it("the centroid matrix broadcast is ONE memoized handle per index, " +
     "destroyed by release()") {
    val idx = IvfIndex.fit(emb, "vec_id", "embedding", k = 4)
    try {
      val b1 = idx.matrixBroadcast(spark)
      val b2 = idx.matrixBroadcast(spark)
      (b1 eq b2) shouldBe true // repeated large-k queries share one copy
      b1.value.length shouldBe idx.centroids.size
      idx.release()
      // destroyed: the handle no longer serves values
      an[Exception] should be thrownBy b1.value
    } finally idx.release()
  }

  it("release() drops the index's cache blocks") {
    index.release()
    index.assigned.storageLevel.useMemory shouldBe false
  }
}
