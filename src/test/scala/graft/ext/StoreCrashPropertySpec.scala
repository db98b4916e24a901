package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSpec

/** Generic crash-replay property sweep across the persisted-store
  * family (round-11 verdict #3): drive three micro-batches through each
  * of the five gated modalities ([[NearDupIndex]], [[SubstrIndex]],
  * [[IvfStore]], [[NgramLmStore]], [[QualityProbeStore]] — the
  * [[IngestIndex]] contract), the two fold modalities ([[BpeStore]],
  * [[Bm25Store]]), the mixing count store ([[StrataCountStore]] through
  * the declared `mix_gate` round), and the terminal shard writer
  * ([[ShardWriter]]), with a crash injected at a seed-chosen point —
  * pre-commit (the [[ManifestLog]] failpoint: relation dirs written,
  * marker absent) or post-commit (a full replay of the batch) — at a
  * seed-chosen batch INCLUDING the seed build, then replay the batch
  * and assert the run converges to the no-crash run: identical
  * per-batch survivors, identical manifest log (dir ids + tokens),
  * identical store observables. The per-store crash specs pin one
  * planted point each; this sweep covers the combinatorial rest.
  */
class StoreCrashPropertySpec extends GraftSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    graft.io.TempReaper.tempDir(s"graft-crash-$tag")
      .toString + "/idx"

  // ---------------- corpora ----------------

  private val words = Seq("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "the", "and", "of", "to",
    "in", "is", "rain", "sun", "wind", "sea")

  /** Three text batches (12-doc seed, then 6-doc rounds) with ~30%
    * verbatim replays of earlier documents — gates must actually drop. */
  private def textBatches(rnd: java.util.Random): Seq[DataFrame] = {
    var nextId = 0L
    val history = scala.collection.mutable.ArrayBuffer[String]()
    Seq(12, 6, 6).map { size =>
      val rows = (0 until size).map { _ =>
        nextId += 1
        val text =
          if (history.nonEmpty && rnd.nextDouble() < 0.3)
            history(rnd.nextInt(history.size))
          else {
            val n = 5 + rnd.nextInt(9)
            val t = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
            history += t
            t
          }
        (nextId, text)
      }
      rows.toDF("doc_id", "text").localCheckpoint(true)
    }
  }

  /** Three image-payload batches (PNGs on the dq183 dimension lattice,
    * ~30% byte-exact replays, ~15% non-image junk) for the COMPOSED
    * capstone round. */
  private def pngBatches(rnd: java.util.Random): Seq[DataFrame] = {
    var nextId = 0L
    val history = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    Seq(12, 6, 6).map { size =>
      val rows = (0 until size).map { _ =>
        nextId += 1
        val junk = rnd.nextDouble() < 0.15
        val (w, h) =
          if (!junk && history.nonEmpty && rnd.nextDouble() < 0.3)
            history(rnd.nextInt(history.size))
          else {
            val p = (64 + rnd.nextInt(100) * 8, 64 + rnd.nextInt(100) * 4)
            if (!junk) history += p
            p
          }
        (nextId, w, h, junk)
      }
      rows.toDF("doc_id", "w", "h", "junk")
        .select(col("doc_id"),
          when(col("junk"),
            concat(lit("junk "), col("doc_id").cast("string"))
              .cast("binary"))
            .otherwise(Multimodal.syntheticPngPayload(col("w"), col("h")))
            .as("payload"),
          concat(lit("cap:"), col("doc_id")).as("caption"))
        .localCheckpoint(true)
    }
  }

  /** The dq183 composed config over base path `p` (sig store + shard
    * store both under it, so the failpoint covers both commits). */
  private def capstonePipeline(p: String) =
    graft.plan.CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [
        |   {"stage": "media_dedup", "binary": "payload"},
        |   {"stage": "media_gate", "kind": "image", "binary": "payload",
        |    "minWidth": 64, "maxWidth": 1600,
        |    "minHeight": 64, "maxHeight": 1000},
        |   {"stage": "media_sig_gate", "path": "$p/sig",
        |    "binary": "payload", "blocks": 8, "minMatch": 7,
        |    "maxBucket": 100},
        |   {"stage": "shard_write", "path": "$p/shards", "capacity": 100,
        |    "units": "bytes", "binary": "payload", "epoch": 1,
        |    "streams": 16}]}""".stripMargin)

  /** Three embedding batches with ~30% exact vector replays. */
  private def embBatches(rnd: java.util.Random): Seq[DataFrame] = {
    var nextId = 0L
    val history = scala.collection.mutable.ArrayBuffer[Seq[Float]]()
    Seq(12, 6, 6).map { size =>
      val rows = (0 until size).map { _ =>
        nextId += 1
        val v =
          if (history.nonEmpty && rnd.nextDouble() < 0.3)
            history(rnd.nextInt(history.size))
          else {
            val x = Seq.fill(6)(rnd.nextDouble().toFloat * 2f - 1f)
            history += x
            x
          }
        (nextId, v)
      }
      rows.toDF("doc_id", "text").localCheckpoint(true)
    }
  }

  // ---------------- harnesses ----------------

  /** One modality: build-if-absent seed, a gated-or-fold batch step
    * (returns survivor ids), and a canonical store observable. */
  private final case class H(name: String,
      mkBatches: java.util.Random => Seq[DataFrame],
      seed: (String, DataFrame) => Unit,
      step: (String, DataFrame, String) => Seq[Long],
      observe: String => Seq[String])

  private def ids(df: DataFrame): Seq[Long] =
    df.select("doc_id").as[Long].collect().sorted.toSeq

  /** The streaming loop's batch body ([[graft.streaming.EventStream
    * .indexedIngestBatch]]): gate under the batch token, append once. */
  private def gatedStep(open: String => IngestIndex)(
      path: String, batch: DataFrame, token: String): Seq[Long] = {
    val idx = open(path)
    val gated = idx.gate(batch, "doc_id", "text", Some(token))
    idx.append(gated, Some(token))
    ids(gated.kept)
  }

  private def manifestState(path: String): Seq[String] =
    new ManifestLog(spark, path).read().map(_.render)

  private val harnesses = Seq(
    H("neardup", textBatches,
      (p, b0) => if (!NearDupIndex.exists(spark, p)) {
        NearDupIndex.build(b0, "doc_id", "text", p); ()
      },
      gatedStep(p => NearDupIndex.open(spark, p)),
      p => manifestState(p) :+
        NearDupIndex.open(spark, p).stats.toString),
    H("substr", textBatches,
      (p, b0) => if (!SubstrIndex.exists(spark, p)) {
        SubstrIndex.build(b0, "doc_id", "text", p, k = 4); ()
      },
      gatedStep(p => SubstrIndex.open(spark, p)),
      p => manifestState(p) :+ SubstrIndex.open(spark, p).stats.toString),
    H("semantic", embBatches,
      // PQ tier ON (m=2 over the 6-dim vectors) in its RESIDUAL form:
      // the sweep's crashes now also land between the pqbook/pqcodes
      // writes and the commit, convergence includes the PQ search
      // answer, and every append's subtraction runs against the frozen
      // generation
      (p, b0) => if (!IvfStore.exists(spark, p)) {
        IvfStore.create(b0, "doc_id", "text", p, k = 4, iters = 2,
          gateTau = 0.9, gateNprobe = 2, pqM = 2, pqK = 4,
          pqResidual = true); ()
      },
      gatedStep(p => IvfStore.open(spark, p)),
      p => {
        val st = IvfStore.open(spark, p)
        manifestState(p) :+ st.stats.toString :+
          st.searchPq(st.vectorsOf(Seq(1L)), topK = 3, nprobe = 2)
            .orderBy("vid").collect().mkString(",") :+
          // the TWO-STAGE search converges too: a crash-replayed run's
          // rerank (ADC shortlist + exact refine over one snapshot)
          // answers identically to the clean run's
          st.searchPqRerank(st.vectorsOf(Seq(1L)), topK = 3, nprobe = 2,
              shortlist = 6)
            .orderBy("vid").collect().mkString(",")
      }),
    // the binary-payload digest gate: the same text corpus riding as
    // payload BYTES (text cast to binary) — byte-identical replays drop,
    // and the crash sweep covers the seed/gate/append/commit points of
    // the sixth gated modality
    H("mediadigest", r => textBatches(r).map(b =>
        b.withColumn("text", col("text").cast("binary"))
          .localCheckpoint(true)),
      (p, b0) => if (!MediaDigestIndex.exists(spark, p)) {
        MediaDigestIndex.build(b0, "doc_id", "text", p); ()
      },
      gatedStep(p => MediaDigestIndex.open(spark, p)),
      p => manifestState(p) :+
        MediaDigestIndex.open(spark, p).stats.toString),
    // the NEAR-dup payload gate (blocked signatures): byte-identical
    // replays share all 8 blocks and drop; the sweep covers the
    // seventh gated modality's seed/gate/append/commit points
    H("mediasig", r => textBatches(r).map(b =>
        b.withColumn("text", col("text").cast("binary"))
          .localCheckpoint(true)),
      (p, b0) => if (!MediaSigIndex.exists(spark, p)) {
        MediaSigIndex.build(b0, "doc_id", "text", p); ()
      },
      gatedStep(p => MediaSigIndex.open(spark, p)),
      p => manifestState(p) :+
        MediaSigIndex.open(spark, p).stats.toString),
    // the length-robust CDC payload gate: same byte corpus, minShared 1
    // (short low-entropy texts often carve a single chunk — one shared
    // chunk must suffice for replays to actually drop in the sweep)
    H("mediacdc", r => textBatches(r).map(b =>
        b.withColumn("text", col("text").cast("binary"))
          .localCheckpoint(true)),
      (p, b0) => if (!MediaCdcIndex.exists(spark, p)) {
        MediaCdcIndex.build(b0, "doc_id", "text", p, minShared = 1); ()
      },
      gatedStep(p => MediaCdcIndex.open(spark, p)),
      p => manifestState(p) :+
        MediaCdcIndex.open(spark, p).stats.toString),
    H("lm", textBatches,
      (p, b0) => if (!NgramLmStore.exists(spark, p)) {
        NgramLmStore.build(b0, "doc_id", "text", p, loMicro = 10000L); ()
      },
      gatedStep(p => NgramLmStore.open(spark, p)),
      p => manifestState(p) :+ NgramLmStore.open(spark, p).stats.toString),
    H("probe", textBatches,
      (p, b0) => if (!QualityProbeStore.exists(spark, p)) {
        QualityProbeStore.create(b0, "doc_id", "text", p); ()
      },
      gatedStep(p => QualityProbeStore.open(spark, p)),
      p => manifestState(p) ++ QualityProbeStore.open(spark, p)
        .moments().orderBy("term").as[(String, Long)].collect()
        .map(_.toString)),
    H("bpefold", textBatches,
      (p, b0) => if (!BpeStore.exists(spark, p)) {
        BpeStore.create(b0, "text", p, numMerges = 3); ()
      },
      (p, batch, token) => {
        BpeStore.open(spark, p).appendOnce(batch, "text", token)
        ids(batch)
      },
      p => manifestState(p) ++ BpeStore.open(spark, p).wordCounts()
        .orderBy("word").as[(String, Long)].collect().map(_.toString)),
    H("bm25fold", textBatches,
      (p, b0) => if (!Bm25Store.exists(spark, p)) {
        Bm25Store.build(b0, "doc_id", "text", p, buckets = 4); ()
      },
      (p, batch, token) => {
        Bm25Store.open(spark, p).appendOnce(batch, "doc_id", "text", token)
        ids(batch)
      },
      p => manifestState(p) :+ Bm25Store.open(spark, p).stats.toString),
    // the mixing count store, driven through the declared mix_gate round
    // (gate with corpus-to-date ∪ batch rates, fold raw counts once)
    H("stratamix", r => textBatches(r).map(_.withColumn("source",
        concat(lit("s"), col("doc_id") % 3))),
      (p, b0) => if (!StrataCountStore.exists(spark, p)) {
        StrataCountStore.create(spark, p,
          Sampling.strataCounts(b0, "source")); ()
      },
      (p, batch, token) => ids(graft.plan.CurationConfig
        .MixGate(p, "source", targetDocs = 8L)
        .apply(batch, "doc_id", "text", Some(token))),
      p => manifestState(p) ++
        StrataCountStore.open(spark, p).counts().map(_.toString)),
    // the COMPOSED capstone round (r16 verdict #2): media_dedup ->
    // media_gate(image) -> media_sig_gate -> shard_write in ONE
    // declared config — crash points land between the sig-store append
    // and the shard commit, so convergence covers the cross-store
    // composition, not each store alone
    H("mediacapstone", pngBatches,
      (p, b0) => { capstonePipeline(p).applyStages(b0, p, Some("seed")); () },
      (p, batch, token) => ids(
        capstonePipeline(p).applyStages(batch, p, Some(token))),
      p => manifestState(s"$p/sig") ++ manifestState(s"$p/shards") ++
        (manifestState(s"$p/sig").map(_ =>
          MediaSigIndex.open(spark, s"$p/sig").stats.toString).take(1)) ++
        ShardWriter.report(spark, s"$p/shards")
          .orderBy("round", "stream", "bin").collect().map(_.toString)),
    // the terminal shard writer: every batch materializes its own shard
    // set exactly-once; the observable is the persisted integrity report
    H("shardwrite", textBatches,
      (p, b0) => if (!ShardWriter.exists(spark, p)) {
        ShardWriter.write(b0, "doc_id", "text", p, capacity = 60); ()
      },
      (p, batch, token) => {
        ShardWriter.write(batch, "doc_id", "text", p, capacity = 60,
          token = Some(token))
        ids(batch)
      },
      p => manifestState(p) ++ ShardWriter.report(spark, p)
        .orderBy("round", "stream", "bin").collect().map(_.toString)))

  /** Run the 3-batch ingest; `crashAt` (-1 = clean) names the crashed
    * batch, `preCommit` the injection point. Returns per-batch survivor
    * ids and the final observable. */
  private def drive(h: H, batches: Seq[DataFrame], crashAt: Int,
      preCommit: Boolean): (Seq[Seq[Long]], Seq[String]) = {
    val path = tmp(h.name)
    val survivors = batches.zipWithIndex.map { case (b, i) =>
      def once(): Seq[Long] =
        if (i == 0) { h.seed(path, b); ids(b) }
        else h.step(path, b, s"crash#$i")
      if (i == crashAt && preCommit) {
        ManifestLog.failCommitUnder = Some(path)
        try an[Exception] should be thrownBy once()
        finally ManifestLog.failCommitUnder = None
        once() // the rerun after the pre-commit death
      } else if (i == crashAt) {
        val first = once()
        once() shouldBe first // the rerun after a post-commit death
        first
      } else once()
    }
    (survivors, h.observe(path))
  }

  it("every modality converges to the no-crash run from a random crash " +
     "point (pre-commit and post-commit, seed builds included)") {
    for (seed <- 0 until 2; h <- harnesses) {
      withClue(s"modality=${h.name} seed=$seed: ") {
        val rnd = new java.util.Random(9000L + seed)
        val batches = h.mkBatches(new java.util.Random(77L + seed))
        val crashAt = rnd.nextInt(3)
        val preCommit = rnd.nextBoolean()
        val (cleanSurv, cleanObs) = drive(h, batches, -1, preCommit)
        val (surv, obs) = drive(h, batches, crashAt, preCommit)
        withClue(s"(crashAt=$crashAt preCommit=$preCommit) ") {
          surv shouldBe cleanSurv
          obs shouldBe cleanObs
        }
      }
    }
  }
}
