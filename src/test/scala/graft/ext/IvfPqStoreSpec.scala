package graft.ext

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.GraftSpec

/** The STORED PQ tier of [[IvfStore]] (dq164): session parity, the
  * frozen-codebook append contract, probe pruning on the code relation,
  * compaction/refit behavior, the empty-append sidecar, the pqM=0
  * refusal, and the one-pass read of a generation's book dir.
  */
class IvfPqStoreSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(): String =
    graft.io.TempReaper.tempDir("graft-ivfpq-spec")
      .toString + "/idx"

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("qid", "vid").as[(Long, Long, Double)].collect().toSeq

  it("stored searchPq equals the session IVF-PQ composition bit for bit " +
     "(same coarse cells, same codebooks, same ADC fold)") {
    val store = IvfStore.create(emb, "vec_id", "embedding", tmp(),
      k = 8, pqM = 16, pqK = 16)
    val ivf = IvfIndex.fit(emb, "vec_id", "embedding", k = 8)
    try {
      val cb = PqAnn.fit(emb, "vec_id", "embedding", 64, 16, 16)
      val rel = PqAnn.encode(ivf.withCell(emb, "embedding"),
        "vec_id", "embedding", cb, keep = Seq("cell"))
        .localCheckpoint(true)
      val qrows = emb.filter($"vec_id".isin(1L, 2L, 3L))
      val probes = qrows.select($"vec_id",
          ivf.probesFor($"embedding", 2, spark).as("p")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val queries = qrows.select($"vec_id", $"embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        .sortBy(_._1)
      val session = rows(
        PqAnn.adcTopKProbed(rel, cb, queries, probes, topK = 5))
      val stored = rows(store.searchPq(queries, topK = 5, nprobe = 2))
      stored shouldBe session
      stored shouldBe rows(
        store.searchPq(store.vectorsOf(Seq(1L, 2L, 3L)), topK = 5, nprobe = 2))
      stored.length shouldBe 15
    } finally ivf.release()
  }

  it("PQ training within the plan-literal budget (16 books of 8) runs " +
     "compiled: no stage falls back to interpreted evaluation") {
    val fallback = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(fallback)
    spark.conf.set(fallback, "false")
    try {
      val store = IvfStore.create(emb, "vec_id", "embedding", tmp(),
        k = 4, pqM = 16, pqK = 8)
      store.refit(k = 4)
      val cb = PqAnn.fit(emb, "vec_id", "embedding", 64, 16, 8)
      cb.sub.map(_.size).sum should be <= 128
    } finally prev match {
      case Some(v) => spark.conf.set(fallback, v)
      case None => spark.conf.unset(fallback)
    }
  }

  it("append encodes against the FROZEN codebooks (the book relation is " +
     "byte-identical before and after) and appended vectors rank") {
    val path = tmp()
    val store = IvfStore.create(emb.filter($"vec_id" % 5 =!= 0),
      "vec_id", "embedding", path, k = 8, pqM = 16, pqK = 16)
    val bookBefore = spark.read.parquet(s"$path/pqbook")
      .orderBy("j", "cell").collect().toSeq
    store.appendOnce(emb.filter($"vec_id" % 5 === 0),
      "vec_id", "embedding", "b1")
    spark.read.parquet(s"$path/pqbook").orderBy("j", "cell")
      .collect().toSeq shouldBe bookBefore
    // vec_id 5 was appended; it resolves as a stored query and appears
    // as a candidate for others
    val res = rows(store.searchPq(store.vectorsOf(Seq(1L, 5L)), topK = 5,
      nprobe = 2))
    res.map(_._1).distinct shouldBe Seq(1L, 5L)
    // exactly-once: the replay is a no-op (one manifest per token)
    store.appendOnce(emb.filter($"vec_id" % 5 === 0),
      "vec_id", "embedding", "b1")
    rows(store.searchPq(store.vectorsOf(Seq(1L, 5L)), topK = 5,
      nprobe = 2)) shouldBe res
  }

  it("a PQ search scans ONLY the probed cell partitions of the code " +
     "relation, and the scanned files carry m ints, not floats") {
    val store = IvfStore.create(emb, "vec_id", "embedding", tmp(),
      k = 8, pqM = 16, pqK = 16)
    val q = emb.filter($"vec_id" === 1L).select($"embedding")
      .as[Seq[Float]].head().toArray
    val df = store.searchPq(Seq((1L, q)), topK = 5, nprobe = 2)
    df.collect()
    val scans = graft.plans.PlanWalk
      .collectAll(df.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f
      }
    scans should not be empty
    // the candidate scan reads pqcodes/ (never assigned/ or packed/)
    scans.map(_.metadata.getOrElse("Location", "")).mkString should
      include("pqcodes")
    val partitionsRead =
      scans.flatMap(_.metrics.get("numPartitions").map(_.value))
    partitionsRead should not be empty
    all(partitionsRead) should be <= 2L // nprobe cells of 8
  }

  it("refit retrains BOTH tiers on the stored corpus: post-refit PQ " +
     "search equals a from-scratch create on the union (the dq142 " +
     "contract extended to codebooks)") {
    val path = tmp()
    val store = IvfStore.create(emb.filter($"vec_id" % 5 =!= 0),
      "vec_id", "embedding", path, k = 8, pqM = 16, pqK = 16)
    store.append(emb.filter($"vec_id" % 5 === 0), "vec_id", "embedding")
    store.refit(k = 8)
    val fresh = IvfStore.create(emb, "vec_id", "embedding", tmp(),
      k = 8, pqM = 16, pqK = 16)
    rows(store.searchPq(store.vectorsOf(Seq(1L, 2L, 5L)), topK = 5,
      nprobe = 2)) shouldBe
      rows(fresh.searchPq(fresh.vectorsOf(Seq(1L, 2L, 5L)), topK = 5,
        nprobe = 2))
    // the new generation's book landed beside the old one (kept for
    // in-flight readers, like centroid generations)
    spark.read.parquet(s"$path/pqbook_g2").count() should be > 0L
  }

  it("compaction folds the code sidecars bit-identically (frozen book " +
     "re-encode — post-fold PQ search equals an uncompacted twin's), " +
     "and vacuum unlinks superseded pqcodes dirs") {
    val path = tmp()
    val key = "spark.graft.index.compactThreshold"
    spark.conf.set(key, "1")
    val store =
      try {
        val s = IvfStore.create(emb.filter($"vec_id" % 3 === 0),
          "vec_id", "embedding", path, k = 4, pqM = 16, pqK = 16)
        s.append(emb.filter($"vec_id" % 3 === 1), "vec_id", "embedding")
        s.append(emb.filter($"vec_id" % 3 === 2), "vec_id", "embedding")
        s
      } finally spark.conf.unset(key)
    // threshold 1 folded everything but the newest append; an
    // UNCOMPACTED twin over the same create/append sequence is the
    // bit-identical reference
    val twin = IvfStore.create(emb.filter($"vec_id" % 3 === 0),
      "vec_id", "embedding", tmp(), k = 4, pqM = 16, pqK = 16)
    twin.append(emb.filter($"vec_id" % 3 === 1), "vec_id", "embedding")
    twin.append(emb.filter($"vec_id" % 3 === 2), "vec_id", "embedding")
    val expected = rows(twin.searchPq(twin.vectorsOf(Seq(3L, 7L)), topK = 5,
      nprobe = 2))
    rows(store.searchPq(store.vectorsOf(Seq(3L, 7L)), topK = 5,
      nprobe = 2)) shouldBe
      expected
    spark.conf.set("spark.graft.index.vacuumRetentionMs", "0")
    try store.vacuum() should be > 0
    finally spark.conf.unset("spark.graft.index.vacuumRetentionMs")
    // superseded pqcodes dirs are gone; the answer is unchanged
    rows(store.searchPq(store.vectorsOf(Seq(3L, 7L)), topK = 5,
      nprobe = 2)) shouldBe
      expected
  }

  it("an empty gated batch commits a schema-carrying empty code sidecar " +
     "and the next search still plans over mixed appends") {
    val store = IvfStore.create(emb, "vec_id", "embedding", tmp(),
      k = 8, pqM = 16, pqK = 16)
    store.appendOnce(emb.filter(lit(false)), "vec_id", "embedding", "e1")
    rows(store.searchPq(store.vectorsOf(Seq(1L)), topK = 5, nprobe = 2))
      .length shouldBe 5
  }

  it("the RESIDUAL tier (dq170): stored search equals the in-memory " +
     "residual chain with frozen create semantics, the flag survives a " +
     "fresh open, appends subtract the FROZEN generation's centroids, " +
     "and refit equals a from-scratch residual create on the union") {
    val path = tmp()
    val train = emb.filter($"vec_id" % 5 =!= 0)
    val store = IvfStore.create(train, "vec_id", "embedding", path,
      k = 8, pqM = 16, pqK = 16, pqResidual = true)
    store.appendOnce(emb.filter($"vec_id" % 5 === 0),
      "vec_id", "embedding", "res:b1")
    // in-memory replication of the frozen-split residual chain: coarse
    // + residual books on the train split, EVERYTHING assigned and
    // residual-encoded against the frozen results
    val ivf = IvfIndex.fit(train, "vec_id", "embedding", k = 8)
    try {
      val residTrain = ivf.withCell(train, "embedding")
        .withColumn("__r", PqAnn.residualCol($"embedding", $"cell",
          ivf.centroids))
      val cb = PqAnn.fit(residTrain, "vec_id", "__r", 64, 16, 16)
      val residAll = ivf.withCell(emb, "embedding")
        .withColumn("__r", PqAnn.residualCol($"embedding", $"cell",
          ivf.centroids))
      val rel = PqAnn.encode(residAll, "vec_id", "__r", cb,
        keep = Seq("cell")).localCheckpoint(true)
      val qrows = emb.filter($"vec_id".isin(1L, 2L, 5L))
      val probes = qrows.select($"vec_id",
          ivf.probesFor($"embedding", 2, spark).as("p")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val queries = qrows.select($"vec_id", $"embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        .sortBy(_._1)
      val session = rows(PqAnn.adcTopKProbedResidual(rel, cb, queries,
        probes, ivf.centroids, topK = 5))
      rows(store.searchPq(queries, topK = 5, nprobe = 2)) shouldBe session
      // a FRESH open re-reads the flag from the book dir (no cache)
      val reopened = IvfStore.open(spark, path)
      rows(reopened.searchPq(reopened.vectorsOf(Seq(1L, 2L, 5L)), topK = 5,
        nprobe = 2)) shouldBe session
    } finally ivf.release()
    // refit retrains coarse + residual books against the NEW generation:
    // post-refit search equals a from-scratch residual create on the
    // union (dq142 extended through the subtraction)
    store.refit(k = 8)
    val fresh = IvfStore.create(emb, "vec_id", "embedding", tmp(),
      k = 8, pqM = 16, pqK = 16, pqResidual = true)
    rows(store.searchPq(store.vectorsOf(Seq(1L, 2L, 5L)), topK = 5,
      nprobe = 2)) shouldBe
      rows(fresh.searchPq(fresh.vectorsOf(Seq(1L, 2L, 5L)), topK = 5,
        nprobe = 2))
    // the refit generation's book still carries the flag
    spark.read.parquet(s"$path/pqbook_g2")
      .select("residual").head().getBoolean(0) shouldBe true
  }

  it("two-stage rerank (dq173): a full-width shortlist makes rerank " +
     "BIT-IDENTICAL to the exact probed cosine search; a narrow " +
     "shortlist's recall is >= ADC-only against that exact ranking; " +
     "shortlist < topK is refused") {
    val path = tmp()
    val store = IvfStore.create(emb.filter($"vec_id" % 5 =!= 0),
      "vec_id", "embedding", path, k = 8, pqM = 16, pqK = 16,
      pqResidual = true)
    store.appendOnce(emb.filter($"vec_id" % 5 === 0),
      "vec_id", "embedding", "rr:b1")
    val qids = Seq(1L, 2L, 5L)
    // exact probed cosine — what stage 2 would compute over EVERYTHING
    val exact = rows(store.search(store.vectorsOf(qids), topK = 5, nprobe = 2))
    // a shortlist wider than any probed cell mass nets every candidate:
    // rerank == the exact search, bit for bit (same snapshot, same
    // cosine arithmetic, same tie-break)
    rows(store.searchPqRerank(store.vectorsOf(qids), topK = 5, nprobe = 2,
      shortlist = 10000)) shouldBe exact
    // a production-width shortlist: exact WITHIN the net, so its top-5
    // overlap vs the exact ranking is >= the ADC-only tier's
    def overlap(got: Seq[(Long, Long, Double)]): Int = qids.map { q =>
      val e = exact.filter(_._1 == q).map(_._2).toSet
      val g = got.filter(_._1 == q).map(_._2).toSet
      (e intersect g).size
    }.sum
    val adcOnly = rows(
      store.searchPq(store.vectorsOf(qids), topK = 5, nprobe = 2))
    val reranked = rows(store.searchPqRerank(store.vectorsOf(qids), topK = 5,
      nprobe = 2, shortlist = 20))
    overlap(reranked) should be >= overlap(adcOnly)
    intercept[IllegalArgumentException] {
      store.searchPqRerank(store.vectorsOf(qids), topK = 5, nprobe = 2,
        shortlist = 3)
    }.getMessage should include("shortlist")
  }

  it("rerank under the token-replay view: excludeToken hides a pending " +
     "append from BOTH stages even across a refit — centroids, " +
     "codebooks AND stage 2's float fetch resolve the pre-append " +
     "generation, so the excluded answer is bit-identical to the " +
     "pre-append answer") {
    val store = IvfStore.create(emb.filter($"vec_id" % 5 =!= 0),
      "vec_id", "embedding", tmp(), k = 8, pqM = 16, pqK = 16)
    val qids = Seq(1L, 2L, 3L)
    val before = rows(store.searchPqRerank(store.vectorsOf(qids), topK = 5,
      nprobe = 2, shortlist = 20))
    store.appendOnce(emb.filter($"vec_id" % 5 === 0),
      "vec_id", "embedding", "rk:t1")
    // a replayed micro-batch mid-append sees only committed-before-me
    // state: the shortlist, the rerank cosine, and the query lookup all
    // read the excluded snapshot
    rows(store.searchPqRerank(store.vectorsOf(qids, Some("rk:t1")), topK = 5,
      nprobe = 2, shortlist = 20, excludeToken = Some("rk:t1"))) shouldBe before
    // the refit folds everything but CARRIES the newest token — the
    // excluded view then resolves the pre-append generation's dirs
    // through both stages (the r15 two-snapshot hazard, now impossible:
    // one manifest snapshot is threaded through stage 1 and stage 2)
    store.refit(k = 8)
    rows(store.searchPqRerank(store.vectorsOf(qids, Some("rk:t1")), topK = 5,
      nprobe = 2, shortlist = 20, excludeToken = Some("rk:t1"))) shouldBe before
  }

  it("advisory-resolved rerank: nprobe = None resolves through the " +
     "stored occupancy advisory (a target-mass flip changes the probe " +
     "count) and shortlist = None defaults to 4·topK — each None form " +
     "bit-identical to its literal form") {
    val store = IvfStore.create(emb, "vec_id", "embedding", tmp(),
      k = 8, pqM = 16, pqK = 16)
    val qids = Seq(1L, 2L, 5L)
    val conf = "spark.graft.ivf.autoTargetMassMicro"
    def resolvedAt(target: String): Int = {
      spark.conf.set(conf, target)
      try store.autoNprobe() finally spark.conf.unset(conf)
    }
    // the flip: a small target mass needs few probes, a near-total one
    // needs (nearly) all cells — the advisory, not a literal, decides
    val lowN = resolvedAt("100000")
    val highN = resolvedAt("990000")
    lowN should be < highN
    for ((target, n) <- Seq("100000" -> lowN, "990000" -> highN)) {
      spark.conf.set(conf, target)
      try {
        // nprobe = None → the advisory's recommendation; shortlist =
        // None → 4·topK: both resolved forms equal the literal calls
        rows(store.searchPqRerank(store.vectorsOf(qids), topK = 5,
          nprobe = store.autoNprobe(),
          shortlist = 4 * 5)) shouldBe
          rows(store.searchPqRerank(store.vectorsOf(qids), topK = 5, nprobe = n,
            shortlist = 20))
      } finally spark.conf.unset(conf)
    }
  }

  it("the PERMUTED tier (dq177): stored searchPq on a pqPermute layout " +
     "equals the session chain over the permuted relation; the " +
     "permutation survives a fresh open; appends encode under the " +
     "FROZEN permutation; refit recomputes it and equals a " +
     "from-scratch permuted create on the union") {
    val path = tmp()
    val create8 = emb.filter($"vec_id" % 5 =!= 0).localCheckpoint(true)
    val store = IvfStore.create(create8, "vec_id", "embedding", path,
      k = 8, pqM = 16, pqK = 16, pqPermute = true)
    val queries = emb.filter($"vec_id".isin(1L, 2L, 3L))
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .sortBy(_._1)
    // session twin: same permutation derivation, same fit, same probes
    val perm = PqAnn.balancedPermutation(create8, "embedding", 64, 16)
    val ivf = IvfIndex.fit(create8, "vec_id", "embedding", k = 8)
    try {
      val pdf = create8.select($"vec_id".as("vid"),
        PqAnn.applyPerm($"embedding", perm).as("emb"))
      val cb = PqAnn.fit(pdf, "vid", "emb", 64, 16, 16)
      val rel = PqAnn.encode(
        ivf.withCell(create8, "embedding")
          .select($"vec_id".as("vid"),
            PqAnn.applyPerm($"embedding", perm).as("emb"), $"cell"),
        "vid", "emb", cb, keep = Seq("cell")).localCheckpoint(true)
      val probes = queries.map { case (qid, _) =>
        qid -> create8.filter($"vec_id" === qid)
          .select(ivf.probesFor($"embedding", 2, spark))
          .head().getSeq[Int](0).toSeq
      }.toMap
      rows(store.searchPq(queries, topK = 5, nprobe = 2)) shouldBe
        rows(PqAnn.adcTopKProbed(rel, cb, queries, probes, 5, Some(perm)))
    } finally ivf.release()
    // the permutation is a stored, generation-keyed fact
    rows(IvfStore.open(spark, path)
      .searchPq(queries, topK = 5, nprobe = 2)) shouldBe
      rows(store.searchPq(queries, topK = 5, nprobe = 2))
    // append encodes under the FROZEN permutation (and frozen books):
    // the book relation is byte-identical before and after
    val bookBefore = spark.read.parquet(s"$path/pqbook")
      .orderBy("j", "cell").collect().toSeq
    store.appendOnce(emb.filter($"vec_id" % 5 === 0),
      "vec_id", "embedding", "pm:b1")
    spark.read.parquet(s"$path/pqbook")
      .orderBy("j", "cell").collect().toSeq shouldBe bookBefore
    // refit recomputes the permutation from the union and equals a
    // from-scratch permuted create on the same corpus
    store.refit(k = 8)
    val scratch = IvfStore.create(emb, "vec_id", "embedding", tmp(),
      k = 8, pqM = 16, pqK = 16, pqPermute = true)
    rows(store.searchPq(queries, topK = 5, nprobe = 2)) shouldBe
      rows(scratch.searchPq(queries, topK = 5, nprobe = 2))
  }

  it("residual + permuted compose (the full OPQ-lite IndexIVFPQ): the " +
     "permutation is computed on the RESIDUAL relation, the coarse " +
     "add-back stays in original coordinates, and the stored search " +
     "equals a from-scratch twin bit for bit") {
    val store = IvfStore.create(emb, "vec_id", "embedding", tmp(),
      k = 8, pqM = 16, pqK = 16, pqResidual = true, pqPermute = true)
    val twin = IvfStore.create(emb, "vec_id", "embedding", tmp(),
      k = 8, pqM = 16, pqK = 16, pqResidual = true, pqPermute = true)
    val qids = Seq(1L, 2L, 3L)
    val got = rows(store.searchPq(store.vectorsOf(qids), topK = 5, nprobe = 2))
    got shouldBe rows(twin.searchPq(twin.vectorsOf(qids), topK = 5, nprobe = 2))
    got.length shouldBe 15
    // the rerank path rides the permuted stage 1 unchanged: full-width
    // shortlist == the exact probed cosine search
    rows(store.searchPqRerank(store.vectorsOf(qids), topK = 5, nprobe = 2,
      shortlist = 10000)) shouldBe
      rows(store.search(store.vectorsOf(qids), topK = 5, nprobe = 2))
    // pqPermute without the tier is refused by name
    intercept[IllegalArgumentException] {
      IvfStore.create(emb, "vec_id", "embedding", tmp(), k = 8,
        pqPermute = true)
    }.getMessage should include("pqPermute")
  }

  it("a generation's PQ tier is read in ONE pass over its book dir: a " +
     "fresh open's first searchPq on a residual, permuted store runs " +
     "exactly one query over pqbook/ (books, k0, residual flag and " +
     "permutation together)") {
    val path = tmp()
    IvfStore.create(emb, "vec_id", "embedding", path, k = 8, pqM = 16,
      pqK = 16, pqResidual = true, pqPermute = true)
    val store = IvfStore.open(spark, path)
    val queries = emb.filter($"vec_id".isin(1L, 2L, 3L))
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    def readsBook(qe: QueryExecution): Boolean = qe.analyzed.exists {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.exists(_.getName == "pqbook")
        case _ => false
      }
      case _ => false
    }
    val bookQueries = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (readsBook(qe)) { bookQueries.incrementAndGet(); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      rows(store.searchPq(queries, topK = 5, nprobe = 2)).length shouldBe 15
      Bridge.waitListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    bookQueries.get() shouldBe 1
  }

  it("the PQ-TIER semantic gate (r15 #5): at a full-width shortlist the " +
     "two-stage net+refine emits EXACTLY the float gate's pairs and " +
     "keeps exactly its survivors (residual+permuted store included); " +
     "a narrow net can only keep MORE rows (missed evidence), never " +
     "drop extra; a no-tier layout is refused by name") {
    val hist = emb.filter($"vec_id" % 3 =!= 0).localCheckpoint(true)
    val store = IvfStore.create(hist, "vec_id", "embedding", tmp(),
      k = 8, gateTau = 0.9, gateNprobe = 2, pqM = 16, pqK = 16,
      pqResidual = true, pqPermute = true)
    // a batch of exact stored copies (sim 1.0 — must drop) + fresh rows
    val batch = hist.filter($"vec_id" % 7 === 0)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding")
      .union(emb.filter($"vec_id" % 6 === 0)
        .select($"vec_id", $"embedding"))
      .localCheckpoint(true)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("vec_id").as[Long].collect().sorted.toSeq
    val floatKept = ids(store.semanticKeepUnseen(batch, "vec_id",
      "embedding", tau = 0.9, nprobe = 2))
    val pqKept = ids(store.semanticKeepUnseenPq(batch, "vec_id",
      "embedding", tau = 0.9, nprobe = 2, shortlist = 100000))
    pqKept shouldBe floatKept
    // the evidence pairs are bit-identical at full width, not just the
    // keep decision
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "vid").as[(Long, Long, Double)].collect().toSeq
    pairs(store.semanticPairsPq(batch, "vec_id", "embedding",
      tau = 0.9, nprobe = 2, shortlist = 100000)) shouldBe
      pairs(store.semanticPairs(batch, "vec_id", "embedding",
        tau = 0.9, nprobe = 2))
    // a narrow net misses evidence at worst: survivors ⊇ the float
    // gate's (nothing is invented above tau by the exact stage 2)
    val narrow = ids(store.semanticKeepUnseenPq(batch, "vec_id",
      "embedding", tau = 0.9, nprobe = 2, shortlist = 1))
    floatKept.toSet.subsetOf(narrow.toSet) shouldBe true
    // no PQ tier → the gate refuses by name
    val bare = IvfStore.create(hist, "vec_id", "embedding", tmp(), k = 8)
    intercept[IllegalArgumentException] {
      bare.semanticPairsPq(batch, "vec_id", "embedding", 0.9, 2, 10)
    }.getMessage should include("pqM")
  }

  it("permuteAdvisory (r16 #2): a variance-skewed corpus advises the " +
     "flag, an isotropic one does not, the spectrum is generation-keyed " +
     "(refit refreshes it), a permuted store reports itself, and a " +
     "no-tier layout is refused by name") {
    // dims 0..3 carry structured ±1 energy, the rest near-constant —
    // contiguous subspace 0 would swallow the whole spectrum
    val skewRows = (0L until 200L).map { i =>
      val v = Array.tabulate(64) { d =>
        if (d < 4) (if (((i >> d) & 1L) == 0L) 1.0f else -1.0f)
        else (((i * 13 + d * 5) % 89) / 8900.0f)
      }
      (i, v.toSeq)
    }
    val skew = skewRows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    val sstore = IvfStore.create(skew, "vec_id", "embedding", tmp(),
      k = 4, pqM = 16, pqK = 16)
    val sa = sstore.permuteAdvisory()
    sa.advised shouldBe true
    sa.skewMicro should be > 2000000L
    sa.permuted shouldBe false
    // the near-isotropic synthetic embeddings: even spectrum, no advice
    val istore = IvfStore.create(emb, "vec_id", "embedding", tmp(),
      k = 8, pqM = 16, pqK = 16)
    val ia = istore.permuteAdvisory()
    ia.advised shouldBe false
    ia.skewMicro should be < 2000000L
    istore.permuteAdvised() shouldBe false
    // refit records generation 2's spectrum — the advisory follows it
    sstore.refit(k = 4)
    val sa2 = sstore.permuteAdvisory()
    sa2.generation shouldBe 2
    sa2.advised shouldBe true
    // a permuted store reports the operator already acted on the advice
    IvfStore.create(skew, "vec_id", "embedding", tmp(), k = 4,
      pqM = 16, pqK = 16, pqPermute = true)
      .permuteAdvisory().permuted shouldBe true
    val bare = IvfStore.create(emb, "vec_id", "embedding", tmp(), k = 8)
    intercept[IllegalArgumentException] { bare.permuteAdvisory() }
      .getMessage should include("pqM")
    // ivf_maintain permute:"auto" HONORS the advisory: the skewed
    // store's next maintenance refit turns the tier on (and the
    // advisory alone is a refit trigger), equal to a from-scratch
    // permuted create on the same corpus; the isotropic store is
    // left untouched
    val input = skew.withColumnRenamed("vec_id", "doc_id")
      .withColumnRenamed("embedding", "text")
    def maintain(p: String, k: Int) = graft.plan.CurationConfig.parse(
      s"""{"table":"documents","id":"doc_id","text":"text",
        | "stages":[{"stage":"ivf_maintain","path":"$p","k":$k,
        |  "permute":"auto"}]}""".stripMargin)
      .stages.head.apply(input, "doc_id", "text", None)
    maintain(sstore.path, 4)
    val flipped = sstore.permuteAdvisory()
    flipped.permuted shouldBe true
    flipped.generation shouldBe 3
    val scratch = IvfStore.create(skew, "vec_id", "embedding", tmp(),
      k = 4, pqM = 16, pqK = 16, pqPermute = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "vid").collect().toSeq
    rows(sstore.searchPq(sstore.vectorsOf(Seq(1L, 2L)), topK = 3,
      nprobe = 2)) shouldBe
      rows(scratch.searchPq(scratch.vectorsOf(Seq(1L, 2L)), topK = 3,
        nprobe = 2))
    maintain(istore.path, 8)
    istore.permuteAdvisory().permuted shouldBe false
    // enablePermute without the tier is refused by name
    intercept[IllegalArgumentException] {
      bare.refit(k = 8, enablePermute = true)
    }.getMessage should include("enablePermute")
  }

  it("the PQ-gate driver-size contract is ENFORCED (r16 verdict #1): " +
     "over spark.graft.ivfstore.maxShortlistIds the exact-refine fetch " +
     "degrades to a vid SEMI-JOIN with bit-identical pairs — no " +
     "multi-million-literal plan, and the path taken is observable") {
    val hist = emb.filter($"vec_id" % 3 =!= 0).localCheckpoint(true)
    val store = IvfStore.create(hist, "vec_id", "embedding", tmp(),
      k = 8, gateTau = 0.9, gateNprobe = 2, pqM = 16, pqK = 16)
    val batch = hist.filter($"vec_id" % 7 === 0)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding")
      .union(emb.filter($"vec_id" % 6 === 0)
        .select($"vec_id", $"embedding"))
      .localCheckpoint(true)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "vid").as[(Long, Long, Double)].collect().toSeq
    val inline = pairs(store.semanticPairsPq(batch, "vec_id",
      "embedding", tau = 0.9, nprobe = 2, shortlist = 8))
    store.lastShortlistFetchPath.map(_._2) shouldBe Some("inline")
    val inlineIds = store.lastShortlistFetchPath.get._1
    inlineIds should be > 1L
    spark.conf.set("spark.graft.ivfstore.maxShortlistIds", "1")
    try {
      val joined = pairs(store.semanticPairsPq(batch, "vec_id",
        "embedding", tau = 0.9, nprobe = 2, shortlist = 8))
      store.lastShortlistFetchPath shouldBe Some((inlineIds, "semi-join"))
      joined shouldBe inline
      // a junk cap is refused naming the conf, not a bare parse error
      spark.conf.set("spark.graft.ivfstore.maxShortlistIds", "lots")
      intercept[IllegalArgumentException] {
        store.semanticPairsPq(batch, "vec_id", "embedding", 0.9, 2, 8)
      }.getMessage should include("maxShortlistIds")
    } finally spark.conf.unset("spark.graft.ivfstore.maxShortlistIds")
  }

  it("a layout created without the tier refuses PQ search by name and " +
     "appends skip the code sidecar") {
    val path = tmp()
    val store = IvfStore.create(emb, "vec_id", "embedding", path, k = 8)
    intercept[IllegalArgumentException] {
      store.searchPq(store.vectorsOf(Seq(1L)), topK = 5, nprobe = 2)
    }.getMessage should include("pqM")
    store.append(emb.limit(3).select($"vec_id" + 10000 as "vec_id",
      $"embedding"), "vec_id", "embedding")
    new java.io.File(s"$path/pqcodes").exists() shouldBe false
  }
}
