package graft.plan

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.collection.immutable.ListMap

import graft.ext.{BpeStore, Dedup, IngestIndex, IvfStore, LoggedStore, MediaCdcIndex, MediaDigestIndex, MediaSigIndex, NearDupIndex, NgramLm, NgramLmStore, QualityProbeStore, Sampling, StoreProbe, StrataCountStore, SubstrIndex, TextAnalysis}

/** Config-driven CURATION pipeline — the EXT analogue of [[ReportConfig]]'s
  * declare-a-report-then-run workflow (the reference runner loads a typed
  * config and executes it, Main.scala:28-39,146): a small JSON document
  * declares dedup / quality / fluency stages over a text table, and the
  * pipeline compiles to ONE composed DataFrame plan — Catalyst sees the
  * whole chain, not a sequence of independently-run jobs, so filters fold
  * and each stage's work feeds the next without materialization.
  *
  * {{{
  * {
  *   "table":  "documents",
  *   "id":     "doc_id",
  *   "text":   "text",
  *   "stages": [
  *     { "stage": "exact_dedup" },
  *     { "stage": "quality_gate", "minTokens": 6, "maxTokens": 10000 },
  *     { "stage": "fluency_band", "loMicro": 30000, "hiMicro": 42000 }
  *   ]
  * }
  * }}}
  *
  * Stages (each delegating to the EXT operator it names, so pipeline
  * behavior and standalone behavior can never drift):
  *  - `exact_dedup` — [[Dedup.exactByContent]]: keep the lowest-id row
  *    per content digest (dq13's semantics on text).
  *  - `quality_gate` — token-count band over [[TextAnalysis.tokens]]:
  *    `minTokens` (required, ≥ 0) and optional `maxTokens`.
  *  - `fluency_band` — [[NgramLm.fluencyReport]] TRAINED ON THE CURRENT
  *    SURVIVORS (the composition point: dedup first means the model is
  *    not skewed by duplicates), keeping docs whose integer micro-unit
  *    mean lies in `[loMicro, hiMicro]`.
  *
  * Parsing is strict: an unknown stage name or a missing/ill-typed
  * parameter fails at parse time with the offending stage named — a
  * pipeline can never fail mid-run on config it already accepted (the
  * [[ReportConfig]] sink-format rule).
  */
object CurationConfig {

  /** A declared stage; `name` is the config name [[parse]] accepted for
    * it (stable across refactors: it is the pipeline's own vocabulary, so
    * audit rows and error messages speak the language of the config). */
  sealed abstract class Stage(val name: String) {
    /** Run the stage. `runToken` is this pipeline RUN's identity for this
      * stage position (minted by [[PipelineDef.run]] from the caller's
      * `runId`) — the persisted-index gate stages ride it for their
      * exactly-once crash-replay contract; pure stages ignore it. */
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame

    /** The `dir`-aware form [[PipelineDef.run]] calls: stages that
      * resolve AUXILIARY tables from the run's data directory (e.g.
      * [[DecontamGate]]'s benchmark corpus) override this; the default
      * ignores `dir`. */
    def applyIn(dir: String)(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame =
      apply(df, idCol, textCol, runToken)

    /** True for stages whose semantics derive STATISTICS FROM THE INPUT
      * FRAME (mixing rates from stratum counts, budget prefix sums, a
      * self-trained fluency model): in a batch run the frame is the
      * declared corpus, so those are corpus statistics; run per
      * micro-batch they silently become batch statistics — a different
      * answer with no error. The streamed runners
      * ([[graft.streaming.EventStream.runConfigPipeline]] and its audit
      * twin) REFUSE a pipeline containing one; the store-mediated gate
      * stages are stream-correct precisely because their state lives in
      * the store, and the per-row stages carry no state at all. */
    def batchScoped: Boolean = false

    /** The stage's output schema for a given input schema — the
      * zero-batch contract of the streamed runners: a stream with no
      * input files never fires a micro-batch, and the empty result's
      * shape must be derived WITHOUT running the stage (a store-gate
      * stage applied to an empty frame would attempt an empty SEED —
      * a side effect, and a refused one). Identity for the
      * row-preserving majority; the column-adding stages override. */
    def outputSchema(in: StructType, idCol: String,
        textCol: String): StructType = in

    /** Refuse, naming the stage, an input without the declared payload
      * column. */
    protected def requireBinary(df: DataFrame, binaryCol: String): Unit =
      require(df.columns.contains(binaryCol),
        s"$name: no '$binaryCol' binary column in the input")
  }

  case object ExactDedup extends Stage("exact_dedup") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame =
      Dedup.exactByContent(df, textCol, idCol)
  }

  final case class QualityGate(minTokens: Long,
      maxTokens: Option[Long]) extends Stage("quality_gate") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame = {
      val n = size(TextAnalysis.tokens(col(textCol))).cast("long")
      val lo = df.filter(n >= minTokens)
      maxTokens.fold(lo)(mx => lo.filter(n <= mx))
    }
  }

  final case class FluencyBand(loMicro: Long,
      hiMicro: Long) extends Stage("fluency_band") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame = {
      val keep = NgramLm.fluencyReport(df, idCol, textCol)
        .filter(col("mean_micro").between(loMicro, hiMicro))
        .select(col(idCol))
      df.join(keep, Seq(idCol), "left_semi")
    }
    // trains the LM on the current survivors FRAME — corpus statistics
    // in a batch run, batch statistics per micro-batch (use lm_gate, the
    // store-mediated form, in a stream)
    override def batchScoped: Boolean = true
  }

  final case class TokenBudget(strataCol: String,
      budgets: Map[String, Long]) extends Stage("token_budget") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame =
      Sampling.tokenBudgetPortable(df, strataCol, idCol, textCol, budgets)
    // prefix-sums stratum token totals of the input FRAME
    override def batchScoped: Boolean = true
  }

  /** Language-ID gate ([[graft.ext.TextAnalysis.languageId]]): keep
    * documents whose detected language is in the declared allow-list —
    * the first filter of most real curation pipelines. Pure (per-row
    * stopword-ratio argmax, one scan, nothing shuffles); 'und' rows are
    * kept only if 'und' is declared. */
  final case class LangGate(keep: Set[String]) extends Stage("lang_gate") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame =
      df.filter(graft.ext.TextAnalysis.languageId(col(textCol))
        .isin(keep.toSeq: _*))
  }

  /** MULTIMODAL INGEST GATE — the declared form of the header kernels
    * ([[graft.functions.ImageMeta]]/[[graft.functions.AudioMeta]]/
    * [[graft.functions.VideoMeta]], dq73/79/80): keep rows whose binary
    * payload PARSES as the declared modality AND whose headline
    * dimension falls in the declared band — "the image decodes and is at
    * least 64×64", the first filter of any multimodal curation pipeline.
    * Per kind the band means:
    *   - `image`: width in [loA, hiA] and height in [loB, hiB];
    *   - `audio`: sample rate in [loA, hiA];
    *   - `video`: duration in seconds×1e6 in [loA, hiA], compared
    *     EXACTLY as `duration·1e6 between loA·timescale and
    *     hiA·timescale` (integer arithmetic — no float division, so any
    *     engine re-derives the same survivors).
    * Unparseable payloads drop here (the audit runner counts them
    * against this stage by name, like every gate); survivors carry the
    * PARSED header fields as appended `media_*` columns so downstream
    * stages and the oracle see what the gate saw. Pure per-row byte
    * arithmetic — one scan, nothing shuffles, stream-safe. */
  final case class MediaGate(kind: String, binaryCol: String,
      loA: Long, hiA: Long, loB: Long, hiB: Long) extends Stage("media_gate") {
    private def appended: Seq[String] = kind match {
      case "image" => Seq("media_format", "media_w", "media_h")
      case "audio" => Seq("media_channels", "media_rate")
      case _ => Seq("media_brand", "media_timescale", "media_duration")
    }
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame = {
      requireBinary(df, binaryCol)
      // the appended parse columns and the scratch struct are reserved
      // (the ShardWriter rule: refuse by name, never silently replace)
      (appended :+ "__m").filter(df.columns.contains).headOption
        .foreach(c => throw new IllegalArgumentException(
          s"media_gate: input already has a '$c' column (reserved for " +
            "the parsed header fields)"))
      val out = df.columns.map(col)
      kind match {
        case "image" =>
          val m = graft.functions.ImageMeta(col(binaryCol))
          df.withColumn("__m", m)
            .filter(col("__m").isNotNull &&
              col("__m.width").between(loA, hiA) &&
              col("__m.height").between(loB, hiB))
            .select(out :+ col("__m.format").as("media_format") :+
              col("__m.width").as("media_w") :+
              col("__m.height").as("media_h"): _*)
        case "audio" =>
          val m = graft.functions.AudioMeta(col(binaryCol))
          df.withColumn("__m", m)
            .filter(col("__m").isNotNull &&
              col("__m.sample_rate").between(loA, hiA))
            .select(out :+ col("__m.channels").as("media_channels") :+
              col("__m.sample_rate").as("media_rate"): _*)
        case "video" =>
          val m = graft.functions.VideoMeta(col(binaryCol))
          // the band products can exceed Long for ANY large declared
          // bound (bound × timescale, timescale up to 2^31−1 from
          // untrusted bytes) and for a hostile v1 duration (duration ×
          // 1e6, duration up to Long.MaxValue) — legacy mode would wrap
          // negative and silently invert the gate, ANSI would throw.
          // Decimal(38,0) holds both products exactly (< 1e29), so the
          // comparison is the same integer arithmetic, just wide enough.
          val dec = org.apache.spark.sql.types.DecimalType(38, 0)
          val secMicro = col("__m.duration").cast(dec) * lit(1000000L)
          val upper =
            if (hiA == Long.MaxValue) lit(true)
            else secMicro <= lit(hiA).cast(dec) * col("__m.timescale")
          df.withColumn("__m", m)
            .filter(col("__m").isNotNull &&
              secMicro >= lit(loA).cast(dec) * col("__m.timescale") &&
              upper)
            .select(out :+ col("__m.brand").as("media_brand") :+
              col("__m.timescale").as("media_timescale") :+
              col("__m.duration").as("media_duration"): _*)
      }
    }
    override def outputSchema(in: StructType, idCol: String,
        textCol: String): StructType = kind match {
      // survivors passed the null filter, so the appended VALUES are
      // never null — but apply() extracts them from the kernel's
      // NULLABLE struct, which Spark types nullable = true; the
      // zero-batch contract schema must say what a real batch says
      case "image" => in
        .add(StructField("media_format", StringType, nullable = true))
        .add(StructField("media_w",
          org.apache.spark.sql.types.IntegerType, nullable = true))
        .add(StructField("media_h",
          org.apache.spark.sql.types.IntegerType, nullable = true))
      case "audio" => in
        .add(StructField("media_channels",
          org.apache.spark.sql.types.IntegerType, nullable = true))
        .add(StructField("media_rate",
          org.apache.spark.sql.types.IntegerType, nullable = true))
      case _ => in
        .add(StructField("media_brand", StringType, nullable = true))
        .add(StructField("media_timescale",
          org.apache.spark.sql.types.IntegerType, nullable = true))
        .add(StructField("media_duration", LongType, nullable = true))
    }
  }

  /** BINARY-PAYLOAD CONTENT DEDUP — the multimodal gate the text family
    * cannot provide (every text dedup keys on the caption, so two
    * byte-identical images with different captions pass them all):
    *  - `mode: "exact"` ([[graft.ext.MediaDedup.exactByPayload]]): keep
    *    the lowest-id row per byte-identical payload — one digest
    *    shuffle, payloads never ride an exchange;
    *  - `mode: "near"` ([[graft.ext.MediaDedup.keepNearCanonical]]):
    *    blocked byte signatures (`blocks` equal-stride hex-slice md5s)
    *    bucketed on (length, block index, block hash) with the
    *    [2, maxBucket] LSH cap; same-length payloads sharing ≥
    *    `minMatch` blocks at the same offset are near-duplicates, and
    *    the keep is the transitive-closure min-id rule.
    * WITHIN-FRAME semantics exactly like `exact_dedup` (per micro-batch
    * in a stream — batch-local, no corpus statistics, stream-legal);
    * cross-batch payload gating is the store-mediated form. */
  final case class MediaDedupStage(mode: String, binaryCol: String,
      blocks: Int, minMatch: Int, maxBucket: Int, window: Int = 4,
      minShared: Int = 3, zeros: Int = 1) extends Stage("media_dedup") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame = {
      requireBinary(df, binaryCol)
      mode match {
        case "exact" =>
          graft.ext.MediaDedup.exactByPayload(df, binaryCol, idCol)
        case "cdc" =>
          // the LENGTH-ROBUST near form: content-defined chunk overlap
          // (an insertion/truncation variant still pairs)
          graft.ext.MediaDedup.keepNearCanonicalCdc(df, idCol, binaryCol,
            window, minShared, maxBucket, zeros)
        case _ =>
          graft.ext.MediaDedup.keepNearCanonical(df, idCol, binaryCol,
            blocks, minMatch, maxBucket)
      }
    }
  }

  /** Temperature-scaled source mixture
    * ([[Sampling.temperatureMixPortable]]): flatten the mixture toward
    * rare strata (n^0.5 weights) at a declared total-document target —
    * the GPT-3/Pile mixing rule as a declared stage. */
  final case class TemperatureMix(strataCol: String,
      targetDocs: Long) extends Stage("temperature_mix") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame =
      Sampling.temperatureMixPortable(df, strataCol, idCol, targetDocs)
    // derives per-stratum keep rates from counts of the input FRAME
    override def batchScoped: Boolean = true
  }

  /** STORE-MEDIATED temperature mixing — the stream-correct sibling of
    * [[TemperatureMix]] (whose frame-derived rates make it batch-scoped
    * and refused by the streamed runners): per-source rates derive from
    * the CORPUS-TO-DATE counts in a [[StrataCountStore]] at `path`
    * UNION the current batch's counts, the batch is gated with
    * [[Sampling]]'s exact integer rate chain (shared code — the stored
    * form can never drift from dq146's operator), and the batch's RAW
    * counts (pre-gate: composition statistics track the corpus, not the
    * sample) fold into the store exactly-once under the run token. The
    * first round sees an absent store, so its rates come from the batch
    * alone — plain `temperature_mix` semantics, which also makes a
    * crash-replayed seed round deterministic without reading the store.
    * Replays follow the family contract (reuse the crashed run's runId,
    * replay before successor rounds run): the `excludeToken` view hands
    * a rerun its original rate inputs and `appendOnce` folds nothing
    * twice. Unlike the frame-local stage this one is legal in
    * [[graft.streaming.EventStream.runConfigPipeline]] — its statistics
    * live in the store. */
  final case class MixGate(path: String, strataCol: String,
      targetDocs: Long) extends Stage("mix_gate") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame = {
      val spark = df.sparkSession
      val staged = df.localCheckpoint(true) // count + gate see one row set
      val batchCounts = Sampling.strataCounts(staged, strataCol)
      def gateWith(stored: Seq[(String, Long)]): DataFrame = {
        val merged = (stored ++ batchCounts).groupBy(_._1).view
          .mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
        Sampling.temperatureGate(staged, strataCol, idCol,
          Sampling.temperatureRatesMicro(merged, targetDocs), seed = 42L)
      }
      if (!StrataCountStore.exists(spark, path)) {
        val kept = gateWith(Nil)
        try { StrataCountStore.create(spark, path, batchCounts, runToken); () }
        catch {
          case scala.util.control.NonFatal(e) =>
            // lost a concurrent create race: fold into the winner's store
            if (!StrataCountStore.exists(spark, path)) throw e
            runToken match {
              case Some(t) =>
                StrataCountStore.open(spark, path).appendOnce(batchCounts, t)
              case None =>
                StrataCountStore.open(spark, path).append(batchCounts)
            }
        }
        kept
      } else {
        val store = StrataCountStore.open(spark, path)
        if (runToken.exists(store.seededBy)) gateWith(Nil) // seed replay
        else {
          val kept = gateWith(store.counts(excludeToken = runToken))
          runToken match {
            case Some(t) => store.appendOnce(batchCounts, t)
            case None => store.append(batchCounts)
          }
          kept
        }
      }
    }
  }

  /** Multiplies rows (adds `epoch`): declare it LAST — a dedup or gate
    * downstream of the repeat would see every copy. */
  final case class RepeatEpochs(factor: Double) extends Stage("repeat_epochs") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame =
      Sampling.repeatEpochsPortable(df, idCol, factor)
    override def outputSchema(in: StructType, idCol: String,
        textCol: String): StructType =
      in.add(StructField("epoch", LongType, nullable = false))
  }

  /** [[RepeatEpochs]] with a per-stratum factor table
    * ([[Sampling.repeatEpochsByStrata]]) — the LLaMA "epochs per
    * dataset" recipe as a declared stage; same declare-it-LAST rule. */
  final case class RepeatEpochsByStrata(strataCol: String,
      factors: Map[String, Double]) extends Stage("repeat_epochs") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame =
      Sampling.repeatEpochsByStrata(df, strataCol, idCol, factors)
    override def outputSchema(in: StructType, idCol: String,
        textCol: String): StructType =
      in.add(StructField("epoch", LongType, nullable = false))
  }

  /** Row filter on a SQL boolean expression over the table's columns —
    * the reference runner's WHERE as a pipeline stage (and the batch
    * selector in front of the persisted-index gates below). */
  final case class WhereExpr(exprStr: String) extends Stage("where") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame =
      df.filter(expr(exprStr))
  }

  /** PERSISTED-INDEX gate stages — the config-driven form of the
    * production ingest loop (round-10 verdict #5): the stage points at a
    * stored index path; if no committed index exists there the incoming
    * batch SEEDS it (built from the batch, which is then fully kept —
    * the bootstrap round), otherwise the batch is gated against the
    * store and the survivors are appended. Each run of the pipeline is
    * one ingest round; the index carries state across runs.
    *
    * Unlike the pure stages, a gate stage is a MATERIALIZATION BOUNDARY:
    * its result is materialized before the append (the gate's own answer,
    * [[graft.ext.IngestIndex]] — appending underneath an unmaterialized
    * gate plan would let a re-evaluation see the batch's own rows), and
    * a seed round checkpoints its input, so Catalyst composes the stages
    * before and after it, not across it.
    *
    * When the caller names the run ([[PipelineDef.run]]'s `runId`), every
    * gate round is CRASH-REPLAYABLE under the same token contract the
    * streaming loop uses ([[graft.streaming.EventStream
    * .runIndexedIngest]], whose batch ids play the runId role): the
    * stage's token is `cfg:<runId>:s<stageIndex>`, the gate runs with
    * `excludeToken` so a rerun of a crashed run sees the store WITHOUT
    * its own already-committed append (a plain re-gate would emit an
    * EMPTY result from a dedup gate and double-fold a statistics gate),
    * and the append runs under the token so the fold lands exactly once. A
    * rerun whose seed build already committed is recognized through
    * [[graft.ext.IngestIndex.seededBy]] and keeps the whole batch, the
    * seed round's answer. Reruns must reuse the crashed run's `runId`
    * (the scheduler-retry contract — an Airflow/cron attempt keeps its
    * logical run id); a run with NO `runId` keeps the historical plain
    * semantics and is not safely rerunnable after a crash between a
    * gate's append and the pipeline output's consumption. */
  final case class SubstrGate(path: String, k: Int,
      maxDupWindows: Long) extends Stage("substr_gate") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame =
      replayableRound(df, runToken, SubstrIndex.exists(_, path),
        openSubstr(name, path, k))(
        (seeded, tok) =>
          SubstrIndex.build(seeded, idCol, textCol, path, k, seedToken = tok))(
        (idx, input, tok) =>
          idx.gate(input, idCol, textCol, tok, maxDupWindows))
  }

  /** The BINARY-payload history gate ([[MediaDigestIndex]]): round 1
    * seeds the digest store from the batch's payloads; later rounds
    * drop rows whose payload digest is already STORED (byte-identical
    * to any earlier round's payload — the cross-batch complement of the
    * within-frame `media_dedup` stage) and append the survivors'
    * digests. History-only semantics: batch-internal copies both pass —
    * compose `media_dedup` before this gate to collapse them. Same
    * exactly-once replayable-round machinery as every stored gate. */
  final case class MediaDigestGate(path: String,
      binaryCol: String) extends Stage("media_digest_gate") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame = {
      requireBinary(df, binaryCol)
      replayableRound(df, runToken, MediaDigestIndex.exists(_, path),
        MediaDigestIndex.open(_, path))(
        (seeded, tok) =>
          MediaDigestIndex.build(seeded, idCol, binaryCol, path,
            seedToken = tok))(
        (idx, input, tok) => idx.gate(input, idCol, binaryCol, tok))
    }
  }

  /** The NEAR-dup BINARY-payload history gate ([[MediaSigIndex]]): the
    * blocked-signature sibling of [[MediaDigestGate]] — round 1 seeds
    * the signature store; later rounds drop rows whose payload shares
    * ≥ `minMatch` of `blocks` block hashes at the same offset with a
    * same-length STORED payload (byte-identical payloads share all
    * blocks, so this subsumes the exact gate at the same parameters)
    * and append the survivors' signatures. The parameters are the
    * stored identity — a drifted config is refused at open. */
  final case class MediaSigGate(path: String, binaryCol: String,
      blocks: Int, minMatch: Int,
      maxBucket: Int) extends Stage("media_sig_gate") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame = {
      requireBinary(df, binaryCol)
      replayableRound(df, runToken, MediaSigIndex.exists(_, path),
        openSig(name, path, blocks, minMatch, maxBucket))(
        (seeded, tok) =>
          MediaSigIndex.build(seeded, idCol, binaryCol, path,
            blocks, minMatch, maxBucket, seedToken = tok))(
        (idx, input, tok) => idx.gate(input, idCol, binaryCol, tok))
    }
  }

  /** The LENGTH-ROBUST payload history gate ([[graft.ext.MediaCdcIndex]]):
    * the content-defined-chunk sibling of [[MediaSigGate]] — round 1
    * seeds the chunk store; later rounds drop rows whose payload shares
    * ≥ `minShared` DISTINCT chunk hashes with a single STORED payload
    * (an insertion/truncation variant of a stored payload still drops —
    * the blocked signature's length fence cannot see it) and append the
    * survivors' chunks. The parameters are the stored identity — a
    * drifted config is refused at open. */
  final case class MediaCdcGate(path: String, binaryCol: String,
      window: Int, minShared: Int, maxBucket: Int,
      zeros: Int = 1) extends Stage("media_cdc_gate") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame = {
      requireBinary(df, binaryCol)
      replayableRound(df, runToken, MediaCdcIndex.exists(_, path),
        openCdc(name, path, window, minShared, maxBucket, zeros))(
        (seeded, tok) =>
          MediaCdcIndex.build(seeded, idCol, binaryCol, path,
            window, minShared, maxBucket, zeros, seedToken = tok))(
        (idx, input, tok) => idx.gate(input, idCol, binaryCol, tok))
    }
  }

  /** BENCHMARK DECONTAMINATION FOR BINARY PAYLOADS — the multimodal
    * member of the frozen-reference family (r16 verdict #1: the frozen
    * gates covered verbatim windows, semantic, LM, probe, and fuzzy
    * text near-dup, so a benchmark IMAGE in the training corpus passed
    * every declared gate): the stage points at a FROZEN payload store
    * built ON FIRST USE from the declared benchmark table/slice — never
    * from the batch — and drops batch rows whose payload collides with
    * it:
    *  - `mode: "exact"` — a [[MediaDigestIndex]] of benchmark payload
    *    digests; byte-identical payloads drop;
    *  - `mode: "near"`  — a [[graft.ext.MediaSigIndex]] of blocked byte
    *    signatures; payloads sharing ≥ `minMatch` of `blocks` block
    *    hashes at the same offset with a same-length benchmark payload
    *    drop (subsumes exact at the same parameters).
    * Gate-ONLY like [[DecontamGate]]: survivors are never appended, the
    * benchmark set is frozen, reruns and streamed micro-batches re-gate
    * against the same store — naturally idempotent, no token machinery,
    * stream-legal. */
  final case class MediaDecontamGate(path: String, mode: String,
      binaryCol: String, benchmarkTable: String, benchmarkWhere: String,
      blocks: Int, minMatch: Int, maxBucket: Int, window: Int = 4,
      minShared: Int = 3, zeros: Int = 1) extends Stage("media_decontam_gate") {

    /** The frozen store's probe: digests, chunks or signatures by mode. */
    private def store: StoreProbe = mode match {
      case "exact" => MediaDigestIndex
      case "cdc" => MediaCdcIndex
      case _ => MediaSigIndex
    }

    private def gate(df: DataFrame, idCol: String): DataFrame = {
      requireBinary(df, binaryCol)
      val spark = df.sparkSession
      mode match {
        case "exact" =>
          MediaDigestIndex.open(spark, path)
            .keepUnseenPayloads(df, idCol, binaryCol)
        case "cdc" =>
          // LENGTH-ROBUST benchmark decontamination: a re-encoded /
          // trimmed copy of a benchmark payload still collides on its
          // content-defined chunks
          openCdc(name, path, window, minShared, maxBucket, zeros)(spark)
            .keepFarPayloads(df, idCol, binaryCol)
        case _ =>
          openSig(name, path, blocks, minMatch, maxBucket)(spark)
            .keepFarPayloads(df, idCol, binaryCol)
      }
    }

    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame = {
      require(store.exists(df.sparkSession, path),
        s"media_decontam_gate at $path: no committed benchmark store — " +
          "run the stage through PipelineDef.run so it can build one " +
          s"from '$benchmarkTable'")
      gate(df, idCol)
    }

    override def applyIn(dir: String)(df: DataFrame, idCol: String,
        textCol: String, runToken: Option[String]): DataFrame = {
      buildFrozenIfAbsent(df.sparkSession, dir, benchmarkTable,
        benchmarkWhere, store.exists(_, path)) { bench =>
        require(bench.columns.contains(binaryCol),
          s"media_decontam_gate: benchmark table '$benchmarkTable' has " +
            s"no '$binaryCol' binary column")
        mode match {
          case "exact" => MediaDigestIndex.build(bench, idCol, binaryCol, path)
          case "cdc" => MediaCdcIndex.build(bench, idCol, binaryCol, path,
            window, minShared, maxBucket, zeros)
          case _ => MediaSigIndex.build(bench, idCol, binaryCol, path,
            blocks, minMatch, maxBucket)
        }
      }
      gate(df, idCol)
    }
  }

  /** The EMBEDDING-modality gate ([[IvfStore]]'s semantic dedup): the
    * pipeline's `text` column is the embedding `array<float>` column
    * here. Round 1 seeds the store (trains the frozen centroids on the
    * batch); later rounds drop rows whose max cosine vs STORED vectors
    * in their `nprobe` probed cells exceeds `tau`, and append the
    * survivors — all three persisted-index modalities now have the same
    * declare-then-run form. */
  final case class SemanticGate(path: String, k: Int, tau: Double,
      nprobe: Int, tier: String = "float", pqM: Int = 16, pqK: Int = 16,
      pqResidual: Boolean = true, pqPermute: Boolean = false,
      shortlist: Int = 64) extends Stage("semantic_gate") {
    private def pq: Boolean = tier == "pq"
    private def openValidated(spark: SparkSession): IvfStore = {
      val store = IvfStore.open(spark, path)
      val st = store.stats
      // `k` only parameterizes the CREATE-time training (stats.cells is
      // the LIVE cell count — Lloyd's may collapse empty cells below
      // the declared k); the gate's stored identity is (tau, nprobe)
      requireBuiltWith(name, path,
        ("tau", st.gateTau, tau), ("nprobe", st.gateNprobe, nprobe))
      // a pq-tier gate against a store created without the code
      // relation must fail at OPEN with the config's vocabulary, not
      // at query time with the engine's
      require(!pq || store.hasPqTier,
        s"semantic_gate at $path declares tier 'pq' but the stored " +
          "layout has no PQ tier (created with pqM = 0)")
      store
    }
    def apply(df: DataFrame, idCol: String, embCol: String,
        runToken: Option[String]): DataFrame =
      replayableRound(df, runToken, IvfStore.exists(_, path), openValidated)(
        (seeded, tok) =>
          IvfStore.create(seeded, idCol, embCol, path, k, iters = 2,
            gateTau = tau, gateNprobe = nprobe, seedToken = tok,
            pqM = if (pq) pqM else 0, pqK = pqK,
            pqResidual = pq && pqResidual,
            pqPermute = pq && pqPermute))(
        (store, input, tok) =>
          // tier 'pq': the m-byte wide net + exact refine
          // (IvfStore.semanticKeepUnseenPq — dq178); tier 'float':
          // the direct probed-cosine gate
          if (pq) store.gatePq(input, idCol, embCol, tau, nprobe, shortlist,
            tok)
          else store.gate(input, idCol, embCol, tok))
  }

  /** The stored-model fluency gate ([[NgramLmStore]]): round 1 seeds the
    * model from the batch (trains = counts, everything kept); later
    * rounds band-gate against the persisted model and fold survivors'
    * counts back in — [[FluencyBand]]'s semantics with the per-call
    * retrain replaced by incremental model maintenance. */
  final case class LmGate(path: String, loMicro: Long,
      hiMicro: Long) extends Stage("lm_gate") {
    private def openValidated(spark: SparkSession): NgramLmStore = {
      val store = NgramLmStore.open(spark, path)
      val st = store.stats
      requireBuiltWith(name, path,
        ("loMicro", st.loMicro, loMicro), ("hiMicro", st.hiMicro, hiMicro))
      store
    }
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame =
      replayableRound(df, runToken, NgramLmStore.exists(_, path),
        openValidated)(
        (seeded, tok) =>
          NgramLmStore.build(seeded, idCol, textCol, path,
            loMicro = loMicro, hiMicro = hiMicro, seedToken = tok))(
        (store, input, tok) => store.gate(input, idCol, textCol, tok))
  }

  /** The stored-statistics quality gate ([[graft.ext.QualityProbeStore]]):
    * round 1 seeds the statistics (frozen reference LM + self-model
    * moments, everything kept); later rounds keep documents scoring at
    * or above the stored corpus's mean quality under the CURRENT Cramer
    * weights and fold survivors' moments back in — dq115's
    * train→score→mean-gate with the per-call retrain replaced by
    * incremental statistics maintenance. No tunables: the threshold IS
    * the stored mean, derived from the moment table alone. */
  final case class ProbeGate(path: String) extends Stage("probe_gate") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame =
      replayableRound(df, runToken, QualityProbeStore.exists(_, path),
        QualityProbeStore.open(_, path))(
        (seeded, tok) =>
          QualityProbeStore.create(seeded, idCol, textCol, path,
            seedToken = tok))(
        (store, input, tok) => store.gate(input, idCol, textCol, tok))
  }

  /** The curate-then-TOKENIZE terminal stage ([[graft.ext.BpeStore]]):
    * the first run seeds the stored BPE state from the current
    * survivors (word counts + a `numMerges`-merge vocabulary); later
    * runs tokenize against the COMMITTED vocabulary with no training at
    * all (vocabulary stability — the property a training pipeline
    * needs). Adds a `subtokens` column; id/text pass through. */
  final case class BpeTokenize(path: String,
      numMerges: Int) extends Stage("bpe_tokenize") {
    private def openValidated(spark: SparkSession): BpeStore = {
      val st = BpeStore.open(spark, path)
      // a crashed create committed its seed word counts but died
      // before the initial retrain: run the missing retrain (same
      // model — training consumes only the committed counts) instead
      // of failing the budget check on a wedged layout
      if (!st.hasModel) st.retrain(numMerges)
      requireBuiltWith(name, path,
        ("numMerges", st.stats.mergeBudget, numMerges))
      st
    }
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame = {
      val spark = df.sparkSession
      val (store, input) =
        if (!BpeStore.exists(spark, path)) {
          val seeded = df.localCheckpoint(true)
          val st =
            try BpeStore.create(seeded, textCol, path, numMerges)
            catch {
              case scala.util.control.NonFatal(e) =>
                // lost a concurrent create race: tokenize against the
                // winner's committed vocabulary (openValidated still
                // enforces the declared merge budget); anything with no
                // committed store underneath propagates
                if (!BpeStore.exists(spark, path)) throw e
                openValidated(spark)
            }
          (st, seeded)
        } else (openValidated(spark), df)
      // a map-only column, NOT a join: duplicate ids (e.g. a preceding
      // repeat_epochs stage) must stay one-row-per-input
      input.withColumn("subtokens", store.tokenizeColumn(textCol))
    }
    override def outputSchema(in: StructType, idCol: String,
        textCol: String): StructType =
      // SubwordTokenize is a UnaryExpression over the text column, so
      // the column's nullability rides the text column's
      in.add(StructField("subtokens",
        ArrayType(StringType, containsNull = false),
        nullable = in(textCol).nullable))
  }

  /** TERMINAL SHARD MATERIALIZATION ([[graft.ext.ShardWriter]]) — the
    * pipeline's last meter: curate → mix → tokenize → **materialize**.
    * Orders the current frame by the portable epoch-shuffle key, packs
    * it greedily into `capacity`-bounded shards per hex-prefix stream,
    * writes `data/append=<id>/stream=<s>/bin=<n>` parquet plus a
    * per-shard integrity report (computed from the data READ BACK), and
    * publishes both under one marker commit. Declare it LAST: it is the
    * sink. Rows pass through with their shard assignment columns
    * (`skey`, `units`, `stream`, `bin`) appended, so a downstream report
    * can audit the materialization it just produced. With a named run
    * the write is exactly-once under the stage token (a replayed run —
    * batch rerun or streamed micro-batch — recognizes its committed
    * token and skips the rewrite); each distinct run appends its OWN
    * shard set, the per-round production shape. The stage is a
    * materialization boundary (the gate-stage rule): its input is
    * checkpointed, so the write and the returned assignment see one
    * row set. */
  final case class ShardWrite(path: String, capacity: Long, units: String,
      epoch: Int, streams: Int,
      binaryCol: Option[String] = None) extends Stage("shard_write") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame = {
      val staged = df.localCheckpoint(true)
      graft.ext.ShardWriter.write(staged, idCol, textCol, path, capacity,
        units, epoch, streams, runToken, binaryCol)
      graft.ext.ShardWriter.assign(staged, idCol, textCol, units, capacity,
        epoch, streams, binaryCol)
    }
    override def outputSchema(in: StructType, idCol: String,
        textCol: String): StructType = in
      .add(StructField("skey", StringType, nullable = false))
      .add(StructField("units", LongType, nullable = false))
      .add(StructField("stream", StringType, nullable = false))
      .add(StructField("bin", LongType, nullable = false))
  }

  /** INDEX MAINTENANCE as a declared stage — the lifecycle side of the
    * declare-then-run workflow (the gates above keep a store GROWING;
    * this keeps it HEALTHY): points at a committed [[IvfStore]], checks
    * the stored drift statistics ([[IvfStore.refitAdvised]] — newest and
    * cumulative L1 vs `l1ThresholdPpm`), runs the corpus-sized
    * [[IvfStore.refit]] ONLY when they advise it, then (by default)
    * [[IvfStore.vacuum]]s superseded dirs under the retention guard.
    * Rows pass through untouched — declare it wherever the operational
    * schedule wants the check (typically last). Naturally idempotent: a
    * replayed run re-checks the advisory, and a refit RESETS the drift
    * baseline, so the rerun no-ops instead of retraining twice. */
  final case class IvfMaintain(path: String, k: Int, l1ThresholdPpm: Long,
      vacuum: Boolean, permute: String = "keep") extends Stage("ivf_maintain") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame = {
      val spark = df.sparkSession
      require(IvfStore.exists(spark, path),
        s"ivf_maintain at $path: no committed IVF store — maintenance " +
          "declares lifecycle for a store some gate/ingest already built")
      val store = IvfStore.open(spark, path)
      // permute: "auto" honors the stored variance-spectrum advisory
      // (r16 verdict #2/#4): when the spectrum is skewed and the tier
      // is not yet permuted, the next refit turns the OPQ-lite tier on
      // — and the advisory itself becomes a refit TRIGGER (a drift-calm
      // store with a skewed spectrum still benefits)
      val flipPermute = permute == "auto" && store.hasPqTier && {
        val adv = store.permuteAdvisory()
        adv.advised && !adv.permuted
      }
      if (store.refitAdvised(l1ThresholdPpm) || flipPermute) {
        store.refit(k, iters = 2, enablePermute = flipPermute); ()
      }
      if (vacuum) { store.vacuum(); () }
      df
    }
  }

  /** Retention-guarded VACUUM as a declared stage — [[IvfMaintain]]'s
    * storage-lifecycle sibling for the whole store family: unlink the
    * compaction-superseded dirs of the store at `path` once their
    * superseding commit is older than
    * `spark.graft.index.vacuumRetentionMs` (1h default — an in-flight
    * reader that planned before the fold gets the window to finish).
    * `kind` names the layout (each store owns its dir shapes) — all
    * eight compacting stores, the quality-probe and strata-count stores
    * included. Rows pass through untouched; naturally idempotent (an
    * already-vacuumed layout has nothing eligible). */
  final case class StoreVacuum(kind: String,
      path: String) extends Stage("store_vacuum") {
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame = {
      val spark = df.sparkSession
      val store = storeKinds.getOrElse(kind, throw new IllegalArgumentException(
        s"store_vacuum: unknown kind '$kind'"))
      require(store.probe.exists(spark, path),
        s"store_vacuum at $path: no committed '$kind' store")
      store.open(spark, path).vacuum()
      df
    }
  }

  /** BENCHMARK DECONTAMINATION as a declared stage — the eval-leakage
    * guard every training pipeline needs (documents sharing a verbatim
    * k-token window with an evaluation corpus must not reach training):
    * the stage points at a [[SubstrIndex]] holding the BENCHMARK's
    * window digests — built on first use from `benchmarkTable` (filtered
    * by `benchmarkWhere`) in the run's data directory, NEVER from the
    * batch — and drops batch documents with more than `maxDupWindows`
    * stored windows. Unlike [[SubstrGate]] this is gate-ONLY: the
    * benchmark is a frozen reference, survivors are never appended, so
    * the stage is naturally idempotent (a crashed run's rerun re-gates
    * against the same frozen set — no token machinery needed) and
    * reruns of the same batch always return the same survivors. */
  final case class DecontamGate(path: String, k: Int,
      benchmarkTable: String, benchmarkWhere: String,
      maxDupWindows: Long) extends Stage("decontam_gate") {
    private def gate(df: DataFrame, idCol: String,
        textCol: String): DataFrame =
      openSubstr(name, path, k)(df.sparkSession)
        .keepFresh(df, idCol, textCol, maxDupWindows, excludeToken = None)

    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame = {
      require(SubstrIndex.exists(df.sparkSession, path),
        s"decontam_gate at $path: no committed benchmark index — run the " +
          "stage through PipelineDef.run so it can build one from " +
          s"'$benchmarkTable'")
      gate(df, idCol, textCol)
    }

    override def applyIn(dir: String)(df: DataFrame, idCol: String,
        textCol: String, runToken: Option[String]): DataFrame = {
      buildFrozenIfAbsent(df.sparkSession, dir, benchmarkTable,
        benchmarkWhere, SubstrIndex.exists(_, path))(
        SubstrIndex.build(_, idCol, textCol, path, k))
      gate(df, idCol, textCol)
    }
  }

  final case class NearDupGate(path: String, numHashes: Int, bands: Int,
      maxBucket: Int, threshold: Double) extends Stage("neardup_gate") {
    private def openValidated(spark: SparkSession): NearDupIndex = {
      val idx = NearDupIndex.open(spark, path)
      val st = idx.stats
      requireBuiltWith(name, path, ("numHashes", st.numHashes, numHashes),
        ("bands", st.bands, bands), ("maxBucket", st.maxBucket, maxBucket))
      idx
    }
    def apply(df: DataFrame, idCol: String, textCol: String,
        runToken: Option[String]): DataFrame =
      replayableRound(df, runToken, NearDupIndex.exists(_, path),
        openValidated)(
        (seeded, tok) =>
          NearDupIndex.build(seeded, idCol, textCol, path, numHashes, bands,
            maxBucket, seedToken = tok))(
        (idx, input, tok) =>
          idx.gate(input, idCol, textCol, tok, threshold))
  }

  /** Materialize `df` unless it already IS a materialized checkpoint: its
    * analyzed plan is a LogicalRDD whose RDD is checkpointed (what
    * `localCheckpoint(eager = true)` returns), possibly under column
    * selections (a store gate's kept rows drop their feature column).
    * Gate stages and the audit runner meet at stage boundaries where the
    * previous step has already checkpointed; re-checkpointing copies the
    * rows into a second block-manager cache for no semantic gain — the
    * requirement is only that the frame cannot re-read a store a later
    * append mutates. A LogicalRDD alone does not guarantee that:
    * `createDataFrame(rdd)` and a lazy `localCheckpoint(eager = false)`
    * give one whose RDD still recomputes its lineage. A cached frame is
    * not taken as materialized either: evicted blocks recompute. */
  private def materialized(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    @scala.annotation.tailrec
    def checkpointed(p: LogicalPlan): Boolean = p match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.isCheckpointed
      case Project(cols, child) if cols.forall(_.isInstanceOf[Attribute]) =>
        checkpointed(child)
      case _ => false
    }
    if (checkpointed(df.queryExecution.analyzed)) df
    else df.localCheckpoint(true)
  }

  /** The crash-replay skeleton every persisted-index gate stage shares
    * (class doc of [[SubstrGate]]): seed / recognize-own-seed /
    * gate+append exactly once under the run's stage token. The gate
    * answer carries its materialized survivors and their features
    * ([[graft.ext.IngestIndex]]), so the append derives nothing again and
    * the round adds no checkpoint of its own. `exists` and `open` are the
    * store's probe and its open, which checks the stored parameters
    * against the declared ones. With `runToken = None` every branch
    * degenerates to the plain non-replayable round (gate over the full
    * store, unconditional append) — the semantics of a run nobody named. */
  private def replayableRound[I <: IngestIndex](df: DataFrame,
      runToken: Option[String], exists: SparkSession => Boolean,
      open: SparkSession => I)(
      seed: (DataFrame, Option[String]) => Unit)(
      gate: (I, DataFrame, Option[String]) => IngestIndex.Gated)
      : DataFrame = {
    val spark = df.sparkSession
    def gateRound(idx: I, input: DataFrame): DataFrame =
      if (runToken.exists(idx.seededBy)) input
      else {
        val gated = gate(idx, input, runToken)
        idx.append(gated, runToken)
        gated.kept
      }
    if (exists(spark)) gateRound(open(spark), df)
    else {
      val seeded = materialized(df)
      try { seed(seeded, runToken); seeded }
      catch {
        case scala.util.control.NonFatal(e) =>
          // The seed refused (or timed out on the writer lock) and a
          // COMMITTED store is now visible at the path: this run LOST a
          // concurrent create race (two pipeline runs bootstrapping the
          // same store), so fall through to the gate round against the
          // winner's store — the result lock-serialized runs would have
          // produced. `open` re-validates the config's parameters; a
          // seed failure with no committed store underneath (degenerate
          // corpus, bad parameters, IO) propagates unchanged. If THIS
          // run's own seed committed before failing (post-commit stats
          // write), the token check recognizes it as the seed round.
          scala.util.Try(open(spark)).toOption match {
            case Some(idx) => gateRound(idx, seeded)
            case None => throw e
          }
      }
    }
  }

  /** Refuse, naming the stage, a store whose stored parameters differ
    * from the declared ones: each `(name, stored, declared)` must agree. */
  private def requireBuiltWith(stage: String, path: String,
      params: (String, Any, Any)*): Unit = {
    def show(pick: ((String, Any, Any)) => Any): String = {
      val kv = params.map(p => s"${p._1}=${pick(p)}")
      if (kv.size == 1) kv.head else kv.mkString("(", ", ", ")")
    }
    require(params.forall(p => p._2 == p._3),
      s"$stage at $path was built with ${show(_._2)}; the config declares " +
        show(_._3))
  }

  /** The [[SubstrIndex]] at `path`, refused if built with another `k`. */
  private def openSubstr(stage: String, path: String, k: Int)(
      spark: SparkSession): SubstrIndex = {
    val idx = SubstrIndex.open(spark, path)
    requireBuiltWith(stage, path, ("k", idx.stats.k, k))
    idx
  }

  /** The [[MediaSigIndex]] at `path`, refused if built with other
    * blocked-signature parameters. */
  private def openSig(stage: String, path: String, blocks: Int,
      minMatch: Int, maxBucket: Int)(spark: SparkSession): MediaSigIndex = {
    val idx = MediaSigIndex.open(spark, path)
    val st = idx.stats
    requireBuiltWith(stage, path, ("blocks", st.blocks, blocks),
      ("minMatch", st.minMatch, minMatch),
      ("maxBucket", st.maxBucket, maxBucket))
    idx
  }

  /** The [[MediaCdcIndex]] at `path`, refused if built with other chunk
    * parameters. */
  private def openCdc(stage: String, path: String, window: Int,
      minShared: Int, maxBucket: Int, zeros: Int)(
      spark: SparkSession): MediaCdcIndex = {
    val idx = MediaCdcIndex.open(spark, path)
    val st = idx.stats
    requireBuiltWith(stage, path, ("window", st.window, window),
      ("minShared", st.minShared, minShared),
      ("maxBucket", st.maxBucket, maxBucket), ("zeros", st.zeros, zeros))
    idx
  }

  /** Build a gate-only stage's FROZEN reference store on first use, from
    * the declared benchmark slice in the run's data directory (never from
    * the batch). A concurrent run may win the first-use build race: the
    * store is a deterministic function of the slice, so the winner's
    * commit IS this run's store; a failure with no committed store
    * underneath propagates. */
  private def buildFrozenIfAbsent(spark: SparkSession, dir: String,
      table: String, where: String, exists: SparkSession => Boolean)(
      build: DataFrame => Any): Unit =
    if (!exists(spark)) {
      val bench = spark.read.parquet(s"$dir/$table.parquet").filter(expr(where))
      try { build(bench); () }
      catch {
        case scala.util.control.NonFatal(e) => if (!exists(spark)) throw e
      }
    }

  /** A persisted store kind [[StoreVacuum]] declares: its companion's
    * probe and `open`. */
  private final case class StoreKind(probe: StoreProbe,
      open: (SparkSession, String) => LoggedStore)

  /** Every store layout by its `store_vacuum` kind name. */
  private val storeKinds: Map[String, StoreKind] = Map(
    "substr" -> StoreKind(SubstrIndex, SubstrIndex.open),
    "neardup" -> StoreKind(NearDupIndex, NearDupIndex.open),
    "lm" -> StoreKind(NgramLmStore, NgramLmStore.open),
    "bm25" -> StoreKind(graft.ext.Bm25Store, graft.ext.Bm25Store.open),
    "bpe" -> StoreKind(BpeStore, BpeStore.open),
    "ivf" -> StoreKind(IvfStore, IvfStore.open),
    "probe" -> StoreKind(QualityProbeStore, QualityProbeStore.open),
    "strata" -> StoreKind(StrataCountStore, StrataCountStore.open),
    "mediadigest" -> StoreKind(MediaDigestIndex, MediaDigestIndex.open),
    "mediasig" -> StoreKind(MediaSigIndex, MediaSigIndex.open),
    "mediacdc" -> StoreKind(MediaCdcIndex, MediaCdcIndex.open))

  /** The config name of a stage ([[Stage.name]]) — the `stage` column
    * of [[PipelineDef.runAudited]]. */
  private[graft] def stageName(st: Stage): String = st.name

  final case class PipelineDef(table: String, idCol: String, textCol: String,
      stages: List[Stage]) {

    /** Load the table and fold every stage into one plan. `runId` names
      * THIS pipeline run (a scheduler's logical run/attempt id): with it,
      * every persisted-index gate stage gets the exactly-once
      * crash-replay contract ([[SubstrGate]] class doc) under the token
      * `cfg:<runId>:s<stageIndex>` — a rerun with the SAME runId
      * reproduces the crashed run's survivors and folds nothing twice.
      * Without it the gates keep the plain one-shot semantics. */
    def run(spark: SparkSession, dir: String,
        runId: Option[String] = None): DataFrame =
      applyStages(spark.read.parquet(s"$dir/$table.parquet"), dir, runId)

    /** Fold the declared stage chain over an ARBITRARY batch frame — the
      * core [[run]] applies to the declared table and the STREAMED
      * runner ([[graft.streaming.EventStream.runConfigPipeline]]) applies
      * to every micro-batch: same composition, same
      * `cfg:<runId>:s<stageIndex>` stage tokens, so one micro-batch is
      * exactly one (crash-replayable) pipeline run — a replayed
      * micro-batch reuses its batch id, hence its runId, hence every
      * gate's original answer. */
    def applyStages(df: DataFrame, dir: String,
        runId: Option[String] = None): DataFrame = {
      runId.foreach(r => require(r.nonEmpty && !r.contains("\n"),
        "runId: non-empty, one line"))
      stages.zipWithIndex.foldLeft(df) { case (d, (st, i)) =>
        st.applyIn(dir)(d, idCol, textCol,
          runId.map(r => s"cfg:$r:s${i + 1}"))
      }
    }

    /** The pipeline's OUTPUT schema for a given input schema — each
      * stage's [[Stage.outputSchema]] folded in declaration order. The
      * zero-batch contract of the streamed runners: derivable without
      * running any stage (no store side effects), and pinned against the
      * real [[applyStages]] output by `CurationConfigSpec`. */
    def outputSchema(in: StructType): StructType =
      stages.foldLeft(in)((s, st) => st.outputSchema(s, idCol, textCol))

    /** The declared stages that are BATCH-SCOPED ([[Stage.batchScoped]]),
      * by config name — what the streamed runners refuse. */
    def batchScopedStages: Seq[String] =
      stages.filter(_.batchScoped).map(stageName).distinct

    /** [[run]] with per-stage DROP ACCOUNTING — the audit a production
      * curation pipeline needs to answer "which stage dropped this
      * document". Returns the pipeline result plus an audit frame with
      * one row per input-row fate: `(id, stage_idx, stage)` where a
      * dropped row carries the 1-based index and config name of the
      * stage that dropped it and a surviving row carries
      * `(0, "kept")`. Attribution is generic (an id anti-join across
      * each stage boundary), so it covers every stage kind including
      * the persisted-store gates; each boundary is checkpointed —
      * batch-sized frames, the gate stages' own materialization rule —
      * so audit mode trades the cross-stage plan fusion of [[run]] for
      * the accounting, and the RESULT is unchanged. Rows of a
      * row-multiplying stage (`repeat_epochs`) share their id across
      * copies, so audit such pipelines upstream of the repeat. */
    def runAudited(spark: SparkSession, dir: String,
        runId: Option[String] = None): (DataFrame, DataFrame) =
      applyStagesAudited(spark.read.parquet(s"$dir/$table.parquet"),
        dir, runId)

    /** [[applyStages]] with [[runAudited]]'s per-stage drop accounting —
      * the streamed runner's audit form ([[graft.streaming.EventStream
      * .runConfigPipelineAudited]] feeds each micro-batch through it). */
    def applyStagesAudited(input: DataFrame, dir: String,
        runId: Option[String] = None): (DataFrame, DataFrame) = {
      runId.foreach(r => require(r.nonEmpty && !r.contains("\n"),
        "runId: non-empty, one line"))
      var df = materialized(input)
      val drops = stages.zipWithIndex.map { case (st, i) =>
        val out = materialized(st.applyIn(dir)(df, idCol, textCol,
          runId.map(r => s"cfg:$r:s${i + 1}")))
        val dropped = df.select(col(idCol))
          .join(out.select(col(idCol)), Seq(idCol), "left_anti")
          .withColumn("stage_idx", lit((i + 1).toLong))
          .withColumn("stage", lit(stageName(st)))
        df = out
        dropped
      }
      val kept = df.select(col(idCol))
        .withColumn("stage_idx", lit(0L)).withColumn("stage", lit("kept"))
      (df, drops.foldLeft(kept)(_ unionByName _))
    }
  }

  def parse(json: String): PipelineDef = {
    val j = JsonMethods.parse(json)
    def str(field: String): String = j \ field match {
      case JString(s) => s
      case _ => fail(s"'$field' (string) is required")
    }
    val stages = j \ "stages" match {
      case JArray(ss) if ss.nonEmpty => ss.map(stageNode)
      case JArray(_) | JNothing => fail("'stages' must be a non-empty array")
      case other => fail(s"'stages' must be an array, got $other")
    }
    PipelineDef(str("table"), str("id"), str("text"), stages)
  }

  private def stageNode(j: JValue): Stage = {
    val name = j \ "stage" match {
      case JString(n) => n
      case _ => fail(s"every stage needs a 'stage' name: ${JsonMethods.compact(j)}")
    }
    val read = stageParsers.getOrElse(name, fail(s"unknown stage '$name' " +
      stageParsers.keys.mkString("(", " | ", ")")))
    read(new Fields(name, j))
  }

  /** The typed readers over one stage's JSON object. Each reads and
    * checks a field the same way for every stage, and every refusal names
    * the stage and the field; an integer outside its range (one past
    * `Long` included) is refused, never wrapped. */
  private final class Fields(stage: String, j: JValue) {
    def apply(field: String): JValue = j \ field

    /** Refuse the stage's config. */
    def fail(msg: String): Nothing =
      CurationConfig.fail(s"stage '$stage': $msg")

    /** Refuse the stage's config for a missing or ill-typed field. */
    def needs(what: String): Nothing =
      CurationConfig.fail(s"stage '$stage' needs $what")

    /** A required non-empty string; `what` says what it names. */
    def text(field: String, what: String = "string"): String = j \ field match {
      case JString(s) if s.trim.nonEmpty => s
      case _ => needs(s"a non-empty '$field' $what")
    }

    /** An optional non-empty string. */
    def textOpt(field: String): Option[String] = j \ field match {
      case JString(s) if s.trim.nonEmpty => Some(s)
      case JNothing => None
      case other => fail(s"'$field' must be a non-empty string, got $other")
    }

    /** The payload column of a binary-modality stage; `reader` says what
      * reads it. */
    def binary(reader: String = "the gate keys on"): String =
      text("binary", s"column name (the payload bytes $reader)")

    /** The strata column of a mixing or epoch stage (any string). */
    def strata: String = j \ "strata" match {
      case JString(s) => s
      case _ => needs("a 'strata' column name")
    }

    /** The evaluation corpus a decontamination stage guards against. */
    def benchmarkTable: String = text("benchmarkTable",
      "string (the evaluation corpus it guards against)")

    /** The benchmark slice's filter; all rows when absent. */
    def benchmarkWhere: String = textOpt("benchmarkWhere").getOrElse("TRUE")

    /** An optional integer in `[lo, hi]`. */
    def longOpt(field: String, lo: Long = Long.MinValue,
        hi: Long = Long.MaxValue): Option[Long] = {
      val v = j \ field match {
        case JInt(i) => Some(i)
        case JLong(l) => Some(BigInt(l))
        case JNothing => None
        case other => fail(s"'$field' must be an integer, got $other")
      }
      v.foreach { i =>
        if (i < lo) fail(s"$field must be >= $lo, got $i")
        if (i > hi) fail(s"$field must be <= $hi, got $i")
      }
      v.map(_.toLong)
    }

    /** An integer in `[lo, hi]`; `default` when absent, required without
      * one. */
    def long(field: String, lo: Long = Long.MinValue,
        hi: Long = Long.MaxValue, default: Option[Long] = None): Long =
      longOpt(field, lo, hi).orElse(default).getOrElse(needs(s"'$field'"))

    /** [[long]] for an `Int` parameter. */
    def int(field: String, lo: Int = Int.MinValue, hi: Int = Int.MaxValue,
        default: Option[Int] = None): Int =
      long(field, lo.toLong, hi.toLong, default.map(_.toLong)).toInt

    /** A number in the open interval `(lo, hi)`; `default` when absent,
      * required without one. */
    def number(field: String, lo: Double,
        hi: Double = Double.PositiveInfinity,
        default: Option[Double] = None): Double = {
      def show(b: Double) = if (b == b.toLong) b.toLong.toString else s"$b"
      val d = j \ field match {
        case JNothing => default.getOrElse(needs(s"a numeric '$field'"))
        case v => numeric(v).getOrElse(
          fail(s"'$field' must be a number, got $v"))
      }
      if (d <= lo || (hi.isFinite && d >= hi))
        fail(s"$field must be " + (if (hi.isFinite)
          s"in (${show(lo)}, ${show(hi)})" else s"> ${show(lo)}") + s", got $d")
      d
    }

    /** A boolean; `default` when absent. */
    def bool(field: String, default: Boolean): Boolean = j \ field match {
      case JBool(b) => b
      case JNothing => default
      case other => fail(s"'$field' must be a boolean, got $other")
    }

    /** One of `choices`; `default` when absent, required without one. */
    def choice(field: String, choices: Seq[String],
        default: Option[String] = None): String = {
      val options = choices.mkString("(", " | ", ")")
      j \ field match {
        case JString(c) if choices.contains(c) => c
        case JString(c) => fail(s"unknown $field '$c' $options")
        case JNothing => default.getOrElse(needs(s"a '$field' string $options"))
        case other => fail(s"'$field' must be a string $options, got $other")
      }
    }

    /** Refuse a band whose upper end lies below its lower end. */
    def ordered(loKey: String, lo: Long, hiKey: String, hi: Long): Unit =
      if (hi < lo) fail(s"$hiKey ($hi) < $loKey ($lo)")
  }

  /** A JSON number as a double. */
  private def numeric(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d)
    case JInt(i) => Some(i.toDouble)
    case JLong(l) => Some(l.toDouble)
    case JDecimal(d) => Some(d.toDouble)
    case _ => None
  }

  /** The blocked-signature parameters of the media stages:
    * `(blocks, minMatch, maxBucket)`. */
  private def sigParams(f: Fields): (Int, Int, Int) = {
    val blocks = f.int("blocks", 2, 256, Some(8))
    (blocks, f.int("minMatch", 1, blocks, Some(blocks * 3 / 4)),
      f.int("maxBucket", 2, default = Some(100)))
  }

  /** The content-defined chunk parameters of the media stages:
    * `(window, minShared, maxBucket, zeros)`. */
  private def chunkParams(f: Fields): (Int, Int, Int, Int) =
    (f.int("window", 1, 64, Some(4)), f.int("minShared", 1, default = Some(3)),
      f.int("maxBucket", 2, default = Some(100)), f.int("zeros", 1, 8, Some(1)))

  private val mediaModes = Seq("exact", "near", "cdc")

  /** Every stage name [[parse]] accepts, in declaration order. */
  private[graft] def stageNames: Seq[String] = stageParsers.keys.toSeq

  private def stage(name: String)(
      read: Fields => Stage): (String, Fields => Stage) = name -> read

  /** Every stage [[parse]] accepts, by config name, with its reader. */
  private val stageParsers: ListMap[String, Fields => Stage] = ListMap(
    stage("exact_dedup")(_ => ExactDedup),
    stage("quality_gate") { f =>
      val min = f.long("minTokens", 0)
      val max = f.longOpt("maxTokens")
      max.foreach(f.ordered("minTokens", min, "maxTokens", _))
      QualityGate(min, max)
    },
    stage("fluency_band") { f =>
      val lo = f.long("loMicro")
      val hi = f.long("hiMicro")
      f.ordered("loMicro", lo, "hiMicro", hi)
      FluencyBand(lo, hi)
    },
    stage("lang_gate") { f =>
      LangGate(f("keep") match {
        case JArray(vs) if vs.nonEmpty => vs.map {
          case JString(c) if c.trim.nonEmpty => c
          case other => f.fail("'keep' entries must be non-empty language " +
            s"codes, got $other")
        }.toSet
        case _ => f.needs("a non-empty 'keep' array of language codes")
      })
    },
    stage("media_gate") { f =>
      val kind = f.choice("kind", Seq("image", "audio", "video"))
      val binary = f.binary("the header kernel parses")
      def band(loKey: String, hiKey: String): (Long, Long) = {
        val lo = f.long(loKey, 0, Long.MaxValue, Some(0L))
        val hi = f.long(hiKey, default = Some(Long.MaxValue))
        f.ordered(loKey, lo, hiKey, hi)
        (lo, hi)
      }
      kind match {
        case "image" =>
          val (loW, hiW) = band("minWidth", "maxWidth")
          val (loH, hiH) = band("minHeight", "maxHeight")
          MediaGate(kind, binary, loW, hiW, loH, hiH)
        case "audio" =>
          val (loR, hiR) = band("minRate", "maxRate")
          MediaGate(kind, binary, loR, hiR, 0L, Long.MaxValue)
        case _ =>
          val (loS, hiS) = band("minSecMicro", "maxSecMicro")
          MediaGate(kind, binary, loS, hiS, 0L, Long.MaxValue)
      }
    },
    stage("media_dedup") { f =>
      val binary = f.binary("the dedup keys on")
      val mode = f.choice("mode", mediaModes, Some("exact"))
      val (blocks, minMatch, maxBucket) = sigParams(f)
      val (window, minShared, _, zeros) = chunkParams(f)
      MediaDedupStage(mode, binary, blocks, minMatch, maxBucket, window,
        minShared, zeros)
    },
    stage("media_digest_gate")(f => MediaDigestGate(
      f.text("path", "string (the stored digest index location)"), f.binary())),
    stage("media_sig_gate") { f =>
      val path = f.text("path", "string (the stored signature index location)")
      val binary = f.binary()
      val (blocks, minMatch, maxBucket) = sigParams(f)
      MediaSigGate(path, binary, blocks, minMatch, maxBucket)
    },
    stage("media_cdc_gate") { f =>
      val path = f.text("path", "string (the stored chunk index location)")
      val binary = f.binary()
      val (window, minShared, maxBucket, zeros) = chunkParams(f)
      MediaCdcGate(path, binary, window, minShared, maxBucket, zeros)
    },
    stage("media_decontam_gate") { f =>
      val path = f.text("path", "string (the frozen benchmark store location)")
      val mode = f.choice("mode", mediaModes, Some("exact"))
      val binary = f.binary()
      val (table, where) = (f.benchmarkTable, f.benchmarkWhere)
      val (blocks, minMatch, maxBucket) = sigParams(f)
      val (window, minShared, _, zeros) = chunkParams(f)
      MediaDecontamGate(path, mode, binary, table, where, blocks, minMatch,
        maxBucket, window, minShared, zeros)
    },
    stage("token_budget") { f =>
      val strata = f.strata
      TokenBudget(strata, f("budgets") match {
        case JObject(fields) if fields.nonEmpty => fields.map {
          case (k, JInt(v)) if v >= 0 && v.isValidLong => k -> v.toLong
          case (k, JLong(v)) if v >= 0 => k -> v
          case (k, other) => f.fail(s"budget '$k' must be a non-negative " +
            s"64-bit integer, got $other")
        }.toMap
        case _ => f.needs("a non-empty 'budgets' object")
      })
    },
    stage("temperature_mix")(f =>
      TemperatureMix(f.strata, f.long("targetDocs", 0))),
    stage("mix_gate")(f =>
      MixGate(f.text("path"), f.strata, f.long("targetDocs", 0))),
    stage("repeat_epochs") { f =>
      (f("factors"), f("strata")) match {
        case (JObject(fields), JString(strata)) if fields.nonEmpty =>
          // the per-dataset epoch table form (LLaMA recipe)
          RepeatEpochsByStrata(strata, fields.map { case (k, v) =>
            val d = numeric(v).getOrElse(
              f.fail(s"factor for '$k' must be numeric, got $v"))
            if (d <= 0) f.fail(s"factor for '$k' must be > 0, got $d")
            k -> d
          }.toMap)
        case (JObject(_), _) =>
          f.fail("'factors' needs a 'strata' column name (and a non-empty " +
            "factors object)")
        case (JNothing, _) if f("factor") == JNothing =>
          f.needs("a numeric 'factor' (or a 'strata' + 'factors' table)")
        case (JNothing, _) => RepeatEpochs(f.number("factor", 0))
        case (other, _) => f.fail(s"'factors' must be an object, got $other")
      }
    },
    stage("where")(f => WhereExpr(f.text("expr"))),
    stage("substr_gate")(f => SubstrGate(f.text("path"), f.int("k", 2),
      f.long("maxDupWindows", 0, default = Some(0L)))),
    stage("decontam_gate")(f => DecontamGate(f.text("path"), f.int("k", 2),
      f.benchmarkTable, f.benchmarkWhere,
      f.long("maxDupWindows", 0, default = Some(0L)))),
    stage("neardup_gate") { f =>
      val path = f.text("path")
      val numHashes = f.int("numHashes", 1, default = Some(16))
      val bands = f.int("bands", 1, default = Some(4))
      if (numHashes % bands != 0)
        f.fail(s"numHashes ($numHashes) must be a positive multiple of " +
          s"bands ($bands)")
      NearDupGate(path, numHashes, bands,
        f.int("maxBucket", 1, default = Some(100)),
        f.number("threshold", 0, 1, Some(0.8)))
    },
    stage("semantic_gate")(f => SemanticGate(f.text("path"), f.int("k", 1),
      f.number("tau", 0, 1, Some(0.5)), f.int("nprobe", 1, default = Some(2)),
      f.choice("tier", Seq("float", "pq"), Some("float")),
      f.int("pqM", 1, default = Some(16)), f.int("pqK", 1, 128, Some(16)),
      f.bool("pqResidual", default = true),
      f.bool("pqPermute", default = false),
      f.int("shortlist", 1, default = Some(64)))),
    stage("ivf_maintain") { f =>
      val path = f.text("path")
      if (f("k") == JNothing) f.needs("'k' (the refit's training cell count)")
      IvfMaintain(path, f.int("k", 1),
        f.long("l1ThresholdPpm", 0, default = Some(500000L)),
        f.bool("vacuum", default = true),
        f.choice("permute", Seq("keep", "auto"), Some("keep")))
    },
    stage("store_vacuum")(f => StoreVacuum(
      f.choice("kind", storeKinds.keys.toSeq.sorted), f.text("path"))),
    stage("lm_gate") { f =>
      val path = f.text("path")
      val lo = f.long("loMicro", 0)
      val hi = f.long("hiMicro", default = Some(Long.MaxValue))
      f.ordered("loMicro", lo, "hiMicro", hi)
      LmGate(path, lo, hi)
    },
    stage("probe_gate")(f => ProbeGate(f.text("path"))),
    stage("bpe_tokenize")(f =>
      BpeTokenize(f.text("path"), f.int("numMerges", 1))),
    stage("shard_write") { f =>
      val path = f.text("path")
      val capacity = f.long("capacity", 1)
      val units = f.choice("units", Seq("chars", "subtokens", "bytes"),
        Some("chars"))
      val binary = f.textOpt("binary")
      if (units == "bytes" && binary.isEmpty)
        f.fail("units 'bytes' needs 'binary' (the payload column " +
          "octet_length measures)")
      if (units != "bytes" && binary.nonEmpty)
        f.fail("'binary' is only meaningful with units 'bytes' (got units " +
          s"'$units')")
      val epoch = f.int("epoch", 1, default = Some(1))
      val streams = f.int("streams", default = Some(16))
      if (!Seq(1, 16, 256).contains(streams))
        f.fail("streams must be 1, 16 or 256 (hex-prefix parallelism), " +
          s"got $streams")
      ShardWrite(path, capacity, units, epoch, streams, binary)
    })

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"curation config: $msg")
}
