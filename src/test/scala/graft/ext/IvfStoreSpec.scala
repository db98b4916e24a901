package graft.ext

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.GraftSpec

/** The persisted IVF index: stored-search parity with the in-memory
  * [[IvfIndex]], frozen-centroid appends, exactly-once tokens, and the
  * scale property — a probe reads only the probed cell partitions.
  */
class IvfStoreSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-ivfstore-spec").toString + "/idx"

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  it("stored search equals the in-memory IvfIndex.queryAll bit for bit") {
    val store = IvfStore.create(emb, "vec_id", "embedding", tmp(), k = 8)
    val idx = IvfIndex.fit(emb, "vec_id", "embedding", k = 8)
    try {
      val stored = store.search(store.vectorsOf(Seq(1L, 2L, 3L)), topK = 5,
        nprobe = 2)
        .orderBy("qid", "vid")
        .as[(Long, Long, Double)].collect().toSeq
      val mem = idx.queryAll(Seq(1L, 2L, 3L), topK = 5, nprobe = 2)
        .orderBy("qid", "vid")
        .as[(Long, Long, Double)].collect().toSeq
      stored shouldBe mem
      stored.length shouldBe 15
    } finally idx.release()
  }

  it("append assigns to the FROZEN centroids; appended vectors are " +
     "searchable as candidates and usable as queries; stats move") {
    val store = IvfStore.create(emb.filter($"vec_id" % 5 =!= 0),
      "vec_id", "embedding", tmp(), k = 8)
    val st0 = store.stats
    val batch = emb.filter($"vec_id" % 5 === 0)
    val st1 = store.append(batch, "vec_id", "embedding")
    st1.vectors shouldBe st0.vectors + batch.count()
    st1.cells shouldBe st0.cells // frozen: append never refits
    // centroid parity with an index trained the same way
    val idx = IvfIndex.fit(emb.filter($"vec_id" % 5 =!= 0),
      "vec_id", "embedding", k = 8)
    try {
      store.centroids.map(_._1) shouldBe idx.centroids.map(_._1)
      store.centroids.zip(idx.centroids).foreach { case ((_, a), (_, b)) =>
        a.toSeq shouldBe b.toSeq
      }
    } finally idx.release()
    // vec_id 5 was appended: it queries, and its neighbors include other
    // appended and original vectors
    val res = store.search(store.vectorsOf(Seq(5L)), topK = 5, nprobe = 2)
    res.count() shouldBe 5
  }

  it("appendOnce is idempotent under its token and the excludeToken view " +
     "replays the pre-append search") {
    val store = IvfStore.create(emb.filter($"vec_id" % 5 =!= 0),
      "vec_id", "embedding", tmp(), k = 8)
    val before = store.search(store.vectorsOf(Seq(1L, 2L)), topK = 5,
      nprobe = 2)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val batch = emb.filter($"vec_id" % 5 === 0)
    val token = "vecs,b#0"
    val st1 = store.appendOnce(batch, "vec_id", "embedding", token)
    store.appendOnce(batch, "vec_id", "embedding", token) shouldBe st1
    store.search(store.vectorsOf(Seq(1L, 2L), Some(token)), topK = 5,
        nprobe = 2, excludeToken = Some(token))
      .as[(Long, Long, Double)].collect().toSeq.sorted shouldBe before
  }

  it("a search scans ONLY the probed cell partitions (static partition " +
     "pruning — the dq59 property applied to ANN)") {
    val store = IvfStore.create(emb, "vec_id", "embedding", tmp(), k = 8)
    val res = store.search(store.vectorsOf(Seq(1L)), topK = 5, nprobe = 2)
    res.collect()
    val partitionsRead = graft.plans.PlanWalk
      .collectAll(res.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f.metrics.get("numPartitions").map(_.value)
      }.flatten
    partitionsRead should not be empty
    // the candidate scan reads exactly nprobe of the k cell partitions
    partitionsRead.min shouldBe 2L
    all(partitionsRead) should be < store.stats.cells.toLong
  }

  it("assigned dirs compact past the threshold: search results unchanged, " +
     "vacuum unlinks superseded dirs") {
    val path = tmp()
    val key = "spark.graft.index.compactThreshold"
    spark.conf.set(key, "2")
    try {
      val store = IvfStore.create(emb.filter($"vec_id" % 4 === 0),
        "vec_id", "embedding", path, k = 4)
      (1 to 3).foreach { i =>
        store.append(emb.filter($"vec_id" % 4 === i), "vec_id", "embedding")
      }
      new java.io.File(s"$path/assigned").listFiles()
        .map(_.getName).count(_.startsWith("append=c")) should be >= 1
      val res = store.search(store.vectorsOf(Seq(1L, 2L, 3L)), topK = 5,
        nprobe = 2)
        .orderBy("qid", "vid").as[(Long, Long, Double)].collect().toSeq
      res.length shouldBe 15
      val before = new java.io.File(s"$path/assigned").listFiles().length
      // retention guard: superseded dirs younger than the window are kept
      store.vacuum() shouldBe 0
      new java.io.File(s"$path/assigned").listFiles().length shouldBe before
      spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
      val removed = store.vacuum()
      removed should be > 0
      new java.io.File(s"$path/assigned").listFiles().length shouldBe
        before - removed
      // the vidmap sidecar's superseded dirs unlink with their appends
      new java.io.File(s"$path/vidmap").listFiles().length shouldBe
        new java.io.File(s"$path/assigned").listFiles().length
      store.search(store.vectorsOf(Seq(1L, 2L, 3L)), topK = 5, nprobe = 2)
        .orderBy("qid", "vid").as[(Long, Long, Double)]
        .collect().toSeq shouldBe res
    } finally {
      spark.conf.unset(key)
      spark.conf.unset("spark.graft.index.vacuumRetentionMs")
    }
  }

  it("search with caller-supplied query vectors equals the stored-id " +
     "vectorsOf search bit for bit (driver norm = executor kernel norm)") {
    val store = IvfStore.create(emb, "vec_id", "embedding", tmp(), k = 8)
    val qs = emb.filter($"vec_id".isin(1L, 2L, 3L))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val supplied = store.search(qs, topK = 5, nprobe = 2)
      .orderBy("qid", "vid").as[(Long, Long, Double)].collect().toSeq
    val storedIds = store.search(store.vectorsOf(Seq(1L, 2L, 3L)), topK = 5,
      nprobe = 2)
      .orderBy("qid", "vid").as[(Long, Long, Double)].collect().toSeq
    supplied shouldBe storedIds
    // the driver-side query norm equals the stored executor-kernel norm
    store.lookupPlan(Seq(1L, 2L, 3L), None).collect().foreach { r =>
      IvfStore.l2NormDriver(r.getSeq[Float](1).toArray) shouldBe r.getDouble(2)
    }
  }

  it("a caller-supplied query vector with mismatched dims is refused") {
    val store = IvfStore.create(emb, "vec_id", "embedding", tmp(), k = 8)
    an[IllegalArgumentException] should be thrownBy
      store.search(Seq((1L, Array(1f, 2f))), topK = 5, nprobe = 2)
  }

  it("the stored-id lookup resolves home cells through the vidmap sidecar " +
     "and prunes the vector fetch to them — never a full pass (round-10 " +
     "verdict #2)") {
    val store = IvfStore.create(emb, "vec_id", "embedding", tmp(), k = 8)
    val lp = store.lookupPlan(Seq(1L), None)
    lp.collect()
    val scans = graft.plans.PlanWalk
      .collectAll(lp.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f
      }
    val assignedScans = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("/assigned")))
    assignedScans should have size 1
    // one query vector lives in exactly one cell: the fetch reads ONE of
    // the k cell partitions (static pruning at file listing)
    assignedScans.head.metrics.get("numPartitions")
      .map(_.value) shouldBe Some(1L)
    // and the vid predicate reaches the parquet reader (row-group min/max
    // pruning within the vid-sorted cell files)
    assignedScans.head.metadata.getOrElse("PushedFilters", "") should
      include("vid")
  }

  it("semantic gate: stored-vector copies are dropped, fresh vectors kept; " +
     "copies of APPENDED survivors are dropped only because of the append; " +
     "the excludeToken view replays the pre-append gate") {
    val hist = emb.filter($"vec_id" % 3 =!= 0)
    val store = IvfStore.create(hist, "vec_id", "embedding", tmp(), k = 8,
      gateTau = 0.5, gateNprobe = 2)
    val copies = hist.filter($"vec_id" % 7 === 0)
      .select(($"vec_id" + 1000).as("vec_id"), $"embedding")
    val fresh = emb.filter($"vec_id" % 6 === 0)
      .select("vec_id", "embedding")
    val b1 = copies.union(fresh)
    val gated1 = store.gate(b1, "vec_id", "embedding", None)
    val kept1 = gated1.kept
    val keptIds = kept1.select("vec_id").as[Long].collect().toSet
    // every exact copy probes its original's cell first: cosine 1.0 > tau
    val copyIds = copies.select("vec_id").as[Long].collect().toSet
    keptIds.intersect(copyIds) shouldBe empty
    keptIds should not be empty // random held-out vectors survive tau 0.5
    store.append(gated1, Some("g#1"))
    // copies of the appended survivors: only the append knows them
    val replays = kept1.select(($"vec_id" + 5000).as("vec_id"), $"embedding")
      .localCheckpoint(true)
    store.gate(replays, "vec_id", "embedding", None).kept
      .count() shouldBe 0L
    // replay view: with its own append excluded, the gate reproduces the
    // pre-append answer (survivor vectors were all fresh vs history)
    store.gate(replays, "vec_id", "embedding", Some("g#1")).kept
      .count() shouldBe keptIds.size.toLong
    // and the token re-append is a no-op
    val st = store.stats
    store.append(gated1, Some("g#1"))
    store.stats shouldBe st
  }

  it("the semantic gate reads ONLY the batch's probed cell partitions of " +
     "the stored relation (the distinct probes become a literal partition " +
     "filter)") {
    val hist = emb.filter($"vec_id" % 3 =!= 0)
    val store = IvfStore.create(hist, "vec_id", "embedding", tmp(), k = 8)
    // a small batch probes few cells — the 100 TB shape: a daily batch's
    // probe set is tiny against a large-k production index
    val batch = emb.filter($"vec_id".isin(0L, 6L)).localCheckpoint(true)
    val plan = store.gatePlanFor(batch, "vec_id", "embedding", 0.5, 2)
    plan.collect()
    val scans = graft.plans.PlanWalk
      .collectAll(plan.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f
      }
    val assignedScans = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("/assigned")))
    assignedScans should have size 1
    val parts = assignedScans.head.metrics.get("numPartitions").map(_.value)
    parts should not be empty
    // 2 vectors × 2 probes → at most 4 of the 8 cell partitions listed
    parts.get should be <= 4L
    // the checkpointed batch contributes no file scan: every scan in the
    // gate plan is under the index layout
    scans.size shouldBe assignedScans.size
  }

  it("a crashed append's orphan dir is cleared on replay instead of " +
     "wedging errorifexists; orphan rows never join the committed relation") {
    val path = tmp()
    val store = IvfStore.create(emb.filter($"vec_id" % 5 =!= 0),
      "vec_id", "embedding", path, k = 8)
    val histN = store.stats.vectors
    // a predecessor that wrote data for append 2 but died before commit
    Seq((999999L, Seq.fill(64)(0.1f), 1.0, 0))
      .toDF("vid", "emb", "nrm", "cell")
      .write.partitionBy("cell").parquet(s"$path/assigned/append=a000002")
    val batch = emb.filter($"vec_id" % 5 === 0)
    val st = store.append(batch, "vec_id", "embedding")
    st.vectors shouldBe histN + batch.count() // orphan replaced, not merged
    // the orphan's row is gone from the layout entirely
    store.search(store.vectorsOf(Seq(999999L)), topK = 3,
      nprobe = 2).count() shouldBe 0L
  }

  it("the generic ingest loop's micro-batch replay is exactly-once for " +
     "the semantic index (same output, no second append)") {
    val path = tmp()
    val store = IvfStore.create(emb.filter($"vec_id" % 3 =!= 0),
      "vec_id", "embedding", path, k = 8)
    val batch = emb.filter($"vec_id" % 6 === 0).select("vec_id", "embedding")
    val out = graft.io.TempReaper.tempDir("graft-ivf-replay").toString
    graft.streaming.EventStream
      .indexedIngestBatch(store, "vec_id", "embedding", out, "t")(batch, 0L)
    val kept = spark.read.parquet(s"$out/batch=0")
      .select("vec_id").as[Long].collect().sorted
    val commits = new java.io.File(s"$path/_commits").listFiles().length
    // simulated crash-and-replay of the SAME micro-batch
    graft.streaming.EventStream
      .indexedIngestBatch(store, "vec_id", "embedding", out, "t")(batch, 0L)
    spark.read.parquet(s"$out/batch=0")
      .select("vec_id").as[Long].collect().sorted shouldBe kept
    new java.io.File(s"$path/_commits").listFiles().length shouldBe commits
  }

  it("the STORED SQ8 tier ranks bit-identically to the session " +
     "IvfPackedIndex (same centroids, same quantization, same ByteDot)") {
    val store = IvfStore.create(emb, "vec_id", "embedding", tmp(), k = 8)
    val idx = IvfIndex.fit(emb, "vec_id", "embedding", k = 8)
    val pidx = idx.packed()
    try {
      val stored = store.searchPacked(store.vectorsOf(Seq(1L, 2L, 3L)),
        topK = 5, nprobe = 2)
        .orderBy("qid", "vid").as[(Long, Long, Long)].collect().toSeq
      val mem = pidx.queryAll(Seq(1L, 2L, 3L), topK = 5, nprobe = 2)
        .orderBy("qid", "vid").as[(Long, Long, Long)].collect().toSeq
      stored shouldBe mem
      stored.length shouldBe 15
      // caller-supplied vectors rank identically for stored ids
      val qs = emb.filter($"vec_id".isin(1L, 2L, 3L))
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      store.searchPacked(qs, topK = 5, nprobe = 2)
        .orderBy("qid", "vid").as[(Long, Long, Long)]
        .collect().toSeq shouldBe stored
    } finally { pidx.release(); idx.release() }
  }

  it("a packed search scans ONLY the probed partitions of the packed " +
     "relation — no float-embedding scan anywhere in its plan") {
    val store = IvfStore.create(emb, "vec_id", "embedding", tmp(), k = 8)
    val res = store.searchPacked(store.vectorsOf(Seq(1L)), topK = 5, nprobe = 2)
    res.collect()
    val scans = graft.plans.PlanWalk
      .collectAll(res.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f
      }
    val packedScans = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("/packed")))
    packedScans should have size 1
    packedScans.head.metrics.get("numPartitions")
      .map(_.value) shouldBe Some(2L)
    // the candidate side never touches the float relation
    scans.count(_.relation.location.rootPaths
      .exists(_.toString.contains("/assigned"))) shouldBe 0
  }

  it("appending a fully-dropped (empty) gated batch commits cleanly " +
     "instead of wedging the loop on the sidecar read-back") {
    val store = IvfStore.create(emb, "vec_id", "embedding", tmp(), k = 8)
    val st0 = store.stats
    val st = store.appendOnce(emb.filter(lit(false)), "vec_id", "embedding",
      "empty#1")
    st.vectors shouldBe st0.vectors
    // the layout stays fully queryable across the empty append
    store.search(store.vectorsOf(Seq(1L)), topK = 3,
      nprobe = 2).count() shouldBe 3
    // and a following NON-empty gate/append round still works
    store.gate(emb.filter($"vec_id" === 1L)
      .select(($"vec_id" + 7777).as("vec_id"), $"embedding"),
      "vec_id", "embedding", None).kept.count() shouldBe 0L // dup of stored 1
    // the PACKED tier must survive the empty append too: its sidecar is
    // cell-partitioned, so the empty dir must keep the same leaf depth
    // (a flat file with cell as data column breaks partition discovery)
    store.searchPacked(store.vectorsOf(Seq(1L)), topK = 3,
      nprobe = 2).count() shouldBe 3
  }

  it("hot-cell skew guard: a planted 90%-hot cell's gate candidates " +
     "spread across every salt bucket with bounded per-task counts, and " +
     "the salted result is IDENTICAL to the unsalted plan") {
    // 200 stored vectors: 180 packed around one direction (the hot
    // topic cluster), 20 spread across three others — Lloyd's puts the
    // hot mass in one cell
    def hot(i: Int): Seq[Float] =
      Seq(1f, 0.001f * (i % 7), 0.001f * (i % 5), 0f)
    def cold(i: Int): Seq[Float] = {
      val axis = i % 3
      Seq.tabulate(4)(j => if (j == axis + 1) 1f else 0.001f * (i % 3))
    }
    val corpus = ((0 until 180).map(i => (i.toLong, hot(i))) ++
      (180 until 200).map(i => (i.toLong, cold(i))))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val store = IvfStore.create(corpus, "vec_id", "embedding", tmp(),
      k = 4, gateTau = 0.999, gateNprobe = 1)
    // 30 probes aimed at the hot cell
    val batch = (1000 until 1030).map(i => (i.toLong, hot(i)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    def pairs(salt: Int): Seq[(Long, Long, Double)] = {
      spark.conf.set("spark.graft.ivfstore.cellSalt", salt.toString)
      try store.semanticPairs(batch, "vec_id", "embedding", tau = 0.5,
          nprobe = 1).orderBy("qid", "vid")
        .as[(Long, Long, Double)].collect().toSeq
      finally spark.conf.unset("spark.graft.ivfstore.cellSalt")
    }
    // result invariance: the salted join is the unsalted join
    val salted = pairs(8)
    salted shouldBe pairs(1)
    salted should not be empty
    // bounded per-task work: each hot cell's candidates split across all
    // 8 salt buckets, no bucket past 2x the even share, and the per-cell
    // totals equal the unsalted counts (invariance at the count level)
    def countsAt(salt: Int): Seq[(Int, Int, Long)] = {
      spark.conf.set("spark.graft.ivfstore.cellSalt", salt.toString)
      try store.gateCandidateCounts(batch, "vec_id", "embedding", nprobe = 1)
        .as[(Int, Int, Long)].collect().toSeq
      finally spark.conf.unset("spark.graft.ivfstore.cellSalt")
    }
    val totals = countsAt(1).map(c => c._1 -> c._3).toMap
    val salted8 = countsAt(8)
    salted8.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap shouldBe totals
    // the planted skew is real: one cell dominates the candidate space
    val hotTotal = totals.values.max
    hotTotal should be >= (totals.values.sum * 8) / 10
    salted8.groupBy(_._1).foreach { case (cell, groups) =>
      val total = totals(cell)
      if (total >= 80L) withClue(s"cell $cell (total $total): ") {
        groups.map(_._2).toSet shouldBe (0 until 8).toSet
        all(groups.map(_._3)) should be <= (total / 8) * 2
      }
    }
  }

  it("refit retrains on the STORED corpus as a superseding generation: " +
     "search equals a from-scratch create on the union corpus (float and " +
     "packed tiers), and post-refit appends assign to the NEW centroids") {
    val path = tmp()
    val store = IvfStore.create(emb.filter($"vec_id" % 5 =!= 0),
      "vec_id", "embedding", path, k = 8)
    store.appendOnce(emb.filter($"vec_id" % 5 === 0), "vec_id",
      "embedding", "rf#1")
    val st = store.refit(k = 8, iters = 2)
    st.vectors shouldBe emb.count()
    val fresh = IvfStore.create(emb, "vec_id", "embedding", tmp(), k = 8)
    def res(s: IvfStore) = s.search(s.vectorsOf(Seq(1L, 2L, 5L)), topK = 5,
      nprobe = 2)
      .orderBy("qid", "vid").as[(Long, Long, Double)].collect().toSeq
    res(store) shouldBe res(fresh)
    def resPacked(s: IvfStore) = s
      .searchPacked(s.vectorsOf(Seq(1L, 2L, 5L)), topK = 5, nprobe = 2)
      .orderBy("qid", "vid").as[(Long, Long, Long)].collect().toSeq
    resPacked(store) shouldBe resPacked(fresh)
    // a REOPENED handle resolves the new generation too
    res(IvfStore.open(spark, path)) shouldBe res(fresh)
    // the new generation's centroids are the union training's, not gen 1's
    store.centroids.zip(fresh.centroids).foreach { case ((_, a), (_, b)) =>
      a.toSeq shouldBe b.toSeq
    }
    // an append after the refit is gated/searchable against gen 2
    val extra = emb.filter($"vec_id" === 7L)
      .select(($"vec_id" + 9000).as("vec_id"), $"embedding")
    store.appendOnce(extra, "vec_id", "embedding", "rf#2")
    store.search(store.vectorsOf(Seq(9007L)), topK = 1, nprobe = 8)
      .select("vid").as[Long].head() shouldBe 7L // its exact copy
  }

  it("drift statistics: a same-distribution append does not advise a " +
     "refit, a shifted-distribution append does, and a refit resets the " +
     "baseline") {
    def axis(a: Int, i: Int): Seq[Float] =
      Seq.tabulate(4)(j => if (j == a) 1f else 0.001f * (i % 5))
    val corpus = ((0 until 60).map(i => (i.toLong, axis(0, i))) ++
      (60 until 120).map(i => (i.toLong, axis(1, i))))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val path = tmp()
    val store = IvfStore.create(corpus, "vec_id", "embedding", path, k = 4)
    // same mix as the corpus: tiny L1 distance between share distributions
    val same = ((200 until 230).map(i => (i.toLong, axis(0, i))) ++
      (230 until 260).map(i => (i.toLong, axis(1, i))))
      .toDF("vec_id", "embedding")
    store.append(same, "vec_id", "embedding")
    store.refitAdvised() shouldBe false
    // a batch from an unseen region: all rows funnel into whichever cell
    // is nearest — the share distribution shifts almost entirely
    val shifted = (300 until 360).map(i => (i.toLong, axis(2, i)))
      .toDF("vec_id", "embedding")
    store.append(shifted, "vec_id", "embedding")
    store.refitAdvised() shouldBe true
    // the refit folds everything into one new-generation baseline
    store.refit(k = 4)
    store.driftReport().select("append").distinct().count() shouldBe 1L
    store.refitAdvised() shouldBe false
  }

  it("cumulative drift: five small same-direction appends each under the " +
     "per-append threshold still trip the cumulative trigger") {
    // two identical-point clusters so k=2 assigns deterministically: every
    // axis-0 doc lands in one cell, every axis-1 doc in the other — cell
    // SHARES are then exact fractions of the batch sizes below
    def docs(ids: Range, a: Int) =
      ids.map(i => (i.toLong, Seq.tabulate(4)(j => if (j == a) 1f else 0f)))
    val base = (docs(0 until 10, 0) ++ docs(10 until 20, 1))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val store = IvfStore.create(base, "vec_id", "embedding", tmp(), k = 2)
    // appends of 100 docs drifting toward axis 0 by +3 pp each: the
    // rolling corpus follows the drift, so every newest-vs-prior L1 stays
    // under 200k ppm (max ~159k at the 5th), while the appends-vs-baseline
    // cumulative climbs 100k → 220k and crosses after the 5th
    val T = 200000L
    val shares = Seq(55, 58, 61, 64, 67)
    shares.zipWithIndex.foreach { case (s, i) =>
      val lo = 1000 + i * 200
      val batch = (docs(lo until lo + s, 0) ++ docs(lo + s until lo + 100, 1))
        .toDF("vec_id", "embedding")
      store.append(batch, "vec_id", "embedding")
      store.driftAdvisory().get.newestL1Ppm should be <= T
      if (i < shares.size - 1) store.refitAdvised(T) shouldBe false
    }
    val fin = store.driftAdvisory().get
    fin.writesSinceBaseline shouldBe 5
    fin.newestL1Ppm should be <= T
    fin.cumulativeL1Ppm should be > T
    store.refitAdvised(T) shouldBe true
  }

  it("drift ordering survives a compaction: the fold is the baseline and " +
     "the surviving append stays the newest, even though the fold's id " +
     "and commit both come after it") {
    def docs(ids: Range, a: Int) =
      ids.map(i => (i.toLong, Seq.tabulate(4)(j => if (j == a) 1f else 0f)))
    val base = (docs(0 until 30, 0) ++ docs(30 until 60, 1))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val path = tmp()
    spark.conf.set("spark.graft.index.compactThreshold", "1")
    try {
      val store = IvfStore.create(base, "vec_id", "embedding", path, k = 2)
      // three same-mix appends: enough to trigger folds at threshold 1;
      // the LAST append is heavily shifted toward axis 0
      Seq(0, 1).foreach { i =>
        val lo = 1000 + i * 100
        store.append(
          (docs(lo until lo + 30, 0) ++ docs(lo + 30 until lo + 60, 1))
            .toDF("vec_id", "embedding"), "vec_id", "embedding")
      }
      val shifted = docs(5000 until 5060, 0).toDF("vec_id", "embedding")
      store.append(shifted, "vec_id", "embedding")
      // active is now [fold, newest append]; a plain id sort would call the
      // fold (c…, data = everything BEFORE the shifted batch) the newest
      // and dilute the drift to zero — data-age order keeps the shifted
      // batch as the newest and its 50→100% share jump is the statistic
      val adv = store.driftAdvisory().get
      adv.newestL1Ppm should be > 500000L
      store.refitAdvised() shouldBe true
    } finally spark.conf.unset("spark.graft.index.compactThreshold")
  }

  it("a token replay SURVIVES a refit: the refit manifest carries the " +
     "newest append's token forward, so the excludeToken view resolves " +
     "the pre-append generation and dirs and the replayed gate+append " +
     "reproduce their original answer with no new commits") {
    val store = IvfStore.create(emb.filter($"vec_id" % 5 =!= 0),
      "vec_id", "embedding", tmp(), k = 8)
    // one stored-copy vector (dropped by the gate) + the fresh rest (kept)
    val batch = emb.filter($"vec_id" % 5 === 0)
      .select(($"vec_id" + 7000).as("vec_id"), $"embedding")
      .union(emb.filter($"vec_id" === 2L)
        .select(($"vec_id" + 8000).as("vec_id"), $"embedding"))
      .localCheckpoint(true)
    val tok = "rt#1"
    val gated = store.gate(batch, "vec_id", "embedding",
      excludeToken = Some(tok))
    val kept = gated.kept
    store.append(gated, Some(tok))
    val keptIds = kept.select("vec_id").as[Long].collect().sorted
    keptIds should not contain 8002L // the stored copy dropped
    // the refit folds EVERYTHING, including the token's append
    store.refit(k = 8)
    // ... and the replay still gets its original answer: without the
    // token carry the visible refit relation would contain the batch's
    // own rows and the dedup gate would return EMPTY
    store.gate(batch, "vec_id", "embedding", excludeToken = Some(tok)).kept
      .select("vec_id").as[Long].collect().sorted shouldBe keptIds
    // and the replayed append is a committed no-op
    val commits = new java.io.File(s"${store.path}/_commits").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("."))
    store.append(gated, Some(tok))
    new java.io.File(s"${store.path}/_commits").listFiles()
      .count(f => f.isFile && !f.getName.startsWith(".")) shouldBe commits
    // a SECOND refit self-propagates the carry
    store.refit(k = 8)
    store.gate(batch, "vec_id", "embedding", excludeToken = Some(tok)).kept
      .select("vec_id").as[Long].collect().sorted shouldBe keptIds
  }

  it("occupancy advisory: a hot cell flatters low nprobe, a balanced " +
     "store needs more probes for the same target mass — the post-refit " +
     "'raise nprobe' lesson readable from the store") {
    def docs(ids: Range, a: Int) =
      ids.map(i => (i.toLong, Seq.tabulate(4)(j => if (j == a) 1f else 0f)))
    // HOT: seed balanced 10/10 (two identical-point clusters — k=2
    // provably lands one centroid per cluster on this base, the
    // cumulative-drift fixture), then APPEND the 80-doc hot tail against
    // the frozen centroids → 90/10 occupancy
    val hot = IvfStore.create(
      (docs(0 until 10, 0) ++ docs(10 until 20, 1))
        .toDF("vec_id", "embedding").localCheckpoint(true),
      "vec_id", "embedding", tmp(), k = 2)
    hot.append(docs(100 until 180, 0).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    hot.cellOccupancy().map(_._2).sorted.reverse shouldBe Seq(90L, 10L)
    val hotAdv = hot.occupancyAdvisory(targetMassMicro = 600000L)
    hotAdv.cells shouldBe 2
    hotAdv.vectors shouldBe 100L
    hotAdv.maxCellShareMicro shouldBe 900000L
    // imbalance k·Σs² = 2·(0.81+0.01) = 1.64e6; expected mass at n=1 is
    // Σ s·s = 0.82 ≥ 0.6 → ONE probe "suffices" (the hot-cell flattery)
    hotAdv.imbalanceMicro shouldBe 1640000L
    hotAdv.recommendedNprobe shouldBe 1
    hotAdv.expectedMassMicroAtRecommended shouldBe 820000L
    // BALANCED: 50/50 — each probe covers half; the same target needs 2
    val bal = IvfStore.create(
      (docs(0 until 10, 0) ++ docs(10 until 20, 1))
        .toDF("vec_id", "embedding").localCheckpoint(true),
      "vec_id", "embedding", tmp(), k = 2)
    bal.append(
      (docs(100 until 140, 0) ++ docs(200 until 240, 1))
        .toDF("vec_id", "embedding"), "vec_id", "embedding")
    val balAdv = bal.occupancyAdvisory(targetMassMicro = 600000L)
    balAdv.maxCellShareMicro shouldBe 500000L
    balAdv.imbalanceMicro shouldBe 1000000L // perfectly balanced
    balAdv.recommendedNprobe shouldBe 2
    balAdv.expectedMassMicroAtRecommended shouldBe 1000000L
    // the advisory WIRED THROUGH SEARCH (r14 verdict #6): nprobe = None
    // resolves from the stored occupancy at the configured target mass —
    // the skewed store probes 1 cell, the balanced one 2, and each
    // auto-resolved answer is bit-identical to passing the
    // recommendation as a literal
    spark.conf.set("spark.graft.ivf.autoTargetMassMicro", "600000")
    try {
      hot.autoNprobe() shouldBe 1
      bal.autoNprobe() shouldBe 2
      def res(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("qid", "vid").collect().toSeq
      res(hot.search(hot.vectorsOf(Seq(0L)), topK = 3,
        nprobe = hot.autoNprobe())) shouldBe
        res(hot.search(hot.vectorsOf(Seq(0L)), topK = 3, nprobe = 1))
      res(bal.search(bal.vectorsOf(Seq(0L)), topK = 3,
        nprobe = bal.autoNprobe())) shouldBe
        res(bal.search(bal.vectorsOf(Seq(0L)), topK = 3, nprobe = 2))
    } finally spark.conf.unset("spark.graft.ivf.autoTargetMassMicro")
    // appends fold into the occupancy; a refit bumps the generation and
    // keeps full sidecar coverage (the refit writes its own histogram)
    hot.append(docs(200 until 260, 1).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    hot.cellOccupancy().map(_._2).sum shouldBe 160L
    hot.refit(k = 2)
    val after = hot.occupancyAdvisory()
    after.generation shouldBe 2
    after.vectors shouldBe 160L
  }

  it("the semantic gate tolerates a batch that itself carries a 'qid' " +
     "column (reserved-name anti-join key)") {
    val store = IvfStore.create(emb, "vec_id", "embedding", tmp(), k = 8)
    val batch = emb.filter($"vec_id" === 2L)
      .select(($"vec_id" + 8888).as("vec_id"), $"embedding",
        lit(42L).as("qid"))
    // a stored-copy vector: dropped — and the extra qid column is inert
    store.semanticKeepUnseen(batch, "vec_id", "embedding",
      tau = 0.5, nprobe = 2).count() shouldBe 0L
  }

  it("open() restores centroids exactly; a missing layout is refused; " +
     "create refuses an occupied path") {
    val path = tmp()
    val store = IvfStore.create(emb, "vec_id", "embedding", path, k = 8)
    val reopened = IvfStore.open(spark, path)
    reopened.centroids.map(_._1) shouldBe store.centroids.map(_._1)
    reopened.centroids.zip(store.centroids).foreach { case ((_, a), (_, b)) =>
      a.toSeq shouldBe b.toSeq
    }
    reopened.search(reopened.vectorsOf(Seq(1L)), topK = 3,
      nprobe = 2).count() shouldBe 3
    an[Exception] should be thrownBy IvfStore.open(spark, tmp())
    an[Exception] should be thrownBy
      IvfStore.create(emb, "vec_id", "embedding", path, k = 8)
  }
}
