package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table (SURVEY §2.9 — the reference
  * only pseudo-streams a gRPC iterator; this is the Spark-native upgrade:
  * real incremental execution with watermarks, windowed state, and custom
  * per-key state machines).
  *
  * Batch/stream parity: every transform here is also valid on a batch frame,
  * and the DuckDB oracles check the streamed results against batch SQL over
  * the same parquet — the unification Structured Streaming promises.
  *
  * `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (read as a
  * nanos LongType under spark.sql.legacy.parquet.nanosAsLong) and
  * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ); [[readEvents]] probes the
  * file's actual unit ([[graft.io.EventTime]]) and converts ONCE at ingest
  * to a TimestampType `event_time` — everything downstream is
  * unit-agnostic and works off `event_time` / `unix_micros(event_time)`.
  */
object EventStream {

  /** Events schema with the raw-Long `ts` shape (what the suite's own
    * synthetic event files use; also the legacy nanos-as-Long form of the
    * testdata). [[readEvents]] declares the schema from the FILE's probed
    * unit via [[eventsSchemaWith]] instead of assuming this one. */
  val eventsSchema: StructType = eventsSchemaWith(LongType)

  /** Events schema parameterized by the raw `ts` type the parquet
    * actually scans as ([[graft.io.EventTime.tsTypeOf]]). */
  def eventsSchemaWith(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream of the documents table — the ingest-side stream of a
    * continuously-crawled corpus (each arriving parquet file is one
    * micro-batch of new documents; the harness corpus is one file, so one
    * batch — the plumbing is what multi-file production runs use unchanged).
    */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** Run an incoming document stream through a per-batch ingest transform
    * (e.g. [[graft.ext.MinHashLSH.keepUnseenNear]] against a static history)
    * and return the union of the surviving rows. `foreachBatch` is the
    * production shape for batch-library reuse inside a stream; each batch
    * writes to its own `batch=<id>` directory with overwrite, so a replayed
    * batch after failure lands idempotently (the standard exactly-once
    * file-sink pattern for foreachBatch, same idempotence rule as
    * [[runToTable]]'s complete-mode overwrite).
    */
  def runIngestGate(incoming: DataFrame, name: String)
      (gate: DataFrame => DataFrame): DataFrame = {
    val base = runEachBatch(incoming, s"graft-ingest-$name") { (base, batch, id) =>
      gate(batch).write.mode("overwrite").parquet(s"$base/out/batch=$id")
    }
    // Zero input files → no batch ever fired. The gate's output schema on
    // an empty static frame of the incoming schema IS the contract shape.
    readBatches(incoming.sparkSession, s"$base/out",
      gate(emptyFrame(incoming.sparkSession, incoming.schema)).schema)
      .drop("batch")
  }

  /** One micro-batch of the INDEXED ingest loop — exposed separately so a
    * spec can invoke it twice with the same batch id and prove the replay
    * contract directly: gate against the index EXCLUDING this batch's own
    * (possibly already committed) append, idempotent output overwrite,
    * then append the gate's answer under the batch token
    * ([[graft.ext.IngestIndex]]: the answer is already materialized and
    * carries its features). Any crash point replays to the identical gate
    * answer, output, and index state — exactly-once without a
    * transactional sink.
    */
  def indexedIngestBatch(idx: graft.ext.IngestIndex, idCol: String,
      textCol: String, out: String, name: String)
      (batch: DataFrame, id: Long): Unit = {
    val token = s"$name#$id"
    val gated = idx.gate(batch, idCol, textCol, excludeToken = Some(token))
    gated.kept.write.mode("overwrite").parquet(s"$out/batch=$id")
    idx.append(gated, Some(token))
  }

  /** [[runIngestGate]] upgraded to the STORED-index loop (dq104's batch
    * shape made streaming): every micro-batch gates against the persisted
    * [[graft.ext.NearDupIndex]] and appends its survivors before the next
    * batch fires — so batch N+1 is deduplicated against batch N's
    * survivors through the INDEX, not a per-batch re-derivation of
    * history (dq87's `keepUnseenNear` re-shingles history every batch;
    * here history text is never read at all). Returns the union of
    * surviving rows with their 1-based batch number.
    */
  def runIndexedIngest(incoming: DataFrame, idx: graft.ext.IngestIndex,
      idCol: String, textCol: String, name: String): DataFrame = {
    val base = runEachBatch(incoming, s"graft-ndingest-$name") { (base, batch, id) =>
      indexedIngestBatch(idx, idCol, textCol, s"$base/out", name)(batch, id)
    }
    readBatches(incoming.sparkSession, s"$base/out", incoming.schema)
  }

  /** The gate-ONLY twin of [[runIndexedIngest]]: every micro-batch is
    * gated against the SAME frozen reference index and survivors are
    * never appended — streamed benchmark decontamination
    * ([[graft.plan.CurationConfig.DecontamGate]]'s semantics over a
    * stream). Naturally idempotent (no tokens: replays re-gate against
    * an unchanged store), and the store provably does not grow. */
  def runFrozenGate(incoming: DataFrame, idx: graft.ext.IngestIndex,
      idCol: String, textCol: String, name: String): DataFrame = {
    val base = runEachBatch(incoming, s"graft-frzgate-$name") { (base, batch, id) =>
      idx.gate(batch, idCol, textCol, excludeToken = None).kept
        .write.mode("overwrite").parquet(s"$base/out/batch=$id")
    }
    readBatches(incoming.sparkSession, s"$base/out", incoming.schema)
  }

  /** The DECLARED curation pipeline STREAMED — the capstone composition:
    * a [[graft.plan.CurationConfig.PipelineDef]] (dedup → stored gates →
    * tokenize, whatever STREAMABLE chain the JSON declares) runs ONCE
    * PER MICRO-BATCH via [[graft.plan.CurationConfig.PipelineDef
    * .applyStages]], so the stores its gate stages point at are seeded by
    * batch 1 and gate batch 2 — production ingest is a stream, and this
    * locks the composition of the config workflow with the streaming
    * loop. Exactly-once falls out of the EXISTING machinery, nothing
    * new: each micro-batch runs under runId `<name>:b<id>`, and
    * Structured Streaming replays a crashed micro-batch under the SAME
    * id, so every gate stage's `cfg:<runId>:s<i>` token hands the replay
    * its original answer (seed recognition, excludeToken gate view,
    * appendOnce no-op) and the batch-dir rewrite is idempotent. Returns
    * the union of per-batch results with their 1-based batch number.
    *
    * BATCH-SCOPED stages are REFUSED up front
    * ([[graft.plan.CurationConfig.Stage.batchScoped]] —
    * `temperature_mix`, `token_budget`, `fluency_band`): they derive
    * statistics from the input frame, and per-micro-batch statistics are
    * not corpus statistics — running them here would silently break the
    * stream/batch parity every streamed query in this library holds.
    * Declare them in a BATCH pipeline over the materialized union (or
    * use the store-mediated sibling, e.g. `lm_gate` for `fluency_band`).
    */
  def runConfigPipeline(incoming: DataFrame,
      pipeline: graft.plan.CurationConfig.PipelineDef, dir: String,
      name: String): DataFrame = {
    requireStreamable(pipeline)
    val base = runEachBatch(incoming, s"graft-cfgstream-$name") { (base, batch, id) =>
      pipeline.applyStages(batch, dir, Some(s"$name:b$id"))
        .write.mode("overwrite").parquet(s"$base/out/batch=$id")
    }
    // zero input files → no batch ever fired; the empty result's shape
    // is the PIPELINE's output schema (stages can add columns —
    // bpe_tokenize, repeat_epochs), derived statically so no store
    // side effect runs ([[graft.plan.CurationConfig.Stage.outputSchema]])
    readBatches(incoming.sparkSession, s"$base/out",
      pipeline.outputSchema(incoming.schema))
  }

  /** Refuse a pipeline the streamed runners cannot run faithfully —
    * see [[runConfigPipeline]]'s batch-scoped note. */
  private def requireStreamable(
      pipeline: graft.plan.CurationConfig.PipelineDef): Unit = {
    val bad = pipeline.batchScopedStages
    require(bad.isEmpty,
      s"streamed config pipeline: stage(s) ${bad.mkString("'", "', '", "'")} " +
        "derive statistics from the input frame — per-micro-batch " +
        "statistics are not corpus statistics, so streaming them would " +
        "silently diverge from the batch run. Declare them in a batch " +
        "pipeline over the materialized union instead (or use the " +
        "store-mediated sibling, e.g. lm_gate for fluency_band).")
  }

  /** [[runConfigPipeline]] in AUDIT mode — each micro-batch runs
    * [[graft.plan.CurationConfig.PipelineDef.applyStagesAudited]], so
    * every input row of every micro-batch gets a fate row `(id,
    * stage_idx, stage)` attributing its drop to the stage that dropped
    * it (or `(0, "kept")`) — production observability for the streamed
    * pipeline: "which stage dropped this document, in which batch".
    * Returns (result, audit), both with the 1-based batch number; the
    * result frame matches [[runConfigPipeline]]'s row for row (audit
    * mode never changes the outcome — the [[graft.plan.CurationConfig
    * .PipelineDef.runAudited]] contract). */
  def runConfigPipelineAudited(incoming: DataFrame,
      pipeline: graft.plan.CurationConfig.PipelineDef, dir: String,
      name: String): (DataFrame, DataFrame) = {
    requireStreamable(pipeline)
    val base = runEachBatch(incoming, s"graft-cfgaudit-$name") { (base, batch, id) =>
      val (res, audit) =
        pipeline.applyStagesAudited(batch, dir, Some(s"$name:b$id"))
      res.write.mode("overwrite").parquet(s"$base/out/batch=$id")
      audit.write.mode("overwrite").parquet(s"$base/audit/batch=$id")
    }
    // zero-batch shapes: the result carries the PIPELINE's output schema
    // (stages add columns) and the audit's id column carries the
    // pipeline's ACTUAL id type — both derived from incoming.schema, so
    // an empty stream yields the same schema as a non-empty one
    val spark = incoming.sparkSession
    (readBatches(spark, s"$base/out", pipeline.outputSchema(incoming.schema)),
      readBatches(spark, s"$base/audit", StructType(Seq(
        StructField(pipeline.idCol, incoming.schema(pipeline.idCol).dataType),
        StructField("stage_idx", LongType),
        StructField("stage", StringType)))))
  }

  /** Stage `b1`/`b2` as two single-file parquet batches under a fresh
    * temp dir (`b2` stamped with a future mtime so the file source's
    * modified-time ordering delivers it second) and return a stream
    * reading them one file per micro-batch — the two-micro-batch
    * fixture the streamed ingest queries share (dq139/dq140 and the
    * fold-loop spec), kept in ONE place so the stream-ordering trick
    * cannot silently diverge between copies. */
  def twoFileBatchStream(b1: DataFrame, b2: DataFrame,
      name: String): DataFrame = {
    val spark = b1.sparkSession
    val in = graft.io.TempReaper.tempDir(s"graft-$name-in").toString
    b1.coalesce(1).write.parquet(s"$in/b1.parquet")
    b2.coalesce(1).write.parquet(s"$in/b2.parquet")
    val later = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 120000L)
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$in/b2.parquet"))
      .forEach(p => { java.nio.file.Files.setLastModifiedTime(p, later); () })
    spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
  }

  /** The APPEND-ONLY sibling of [[runIndexedIngest]] for stores whose
    * state is associative and ungated ([[graft.ext.BpeStore]] word
    * counts): every micro-batch is folded in whole via `fold(batch,
    * token)` — the callee's `appendOnce` under the batch token makes a
    * replayed micro-batch a no-op, so the summed state after the stream
    * equals one batch pass over the union of all micro-batches. */
  def runFoldIngest(incoming: DataFrame, name: String)
      (fold: (DataFrame, String) => Unit): Unit =
    runEachBatch(incoming, s"graft-foldingest-$name") { (_, batch, id) =>
      fold(batch, s"$name#$id")
    }: Unit

  /** The one stream run behind every runner here: a temp dir reaped at JVM
    * exit ([[graft.io.TempReaper]] — the runners' results read their
    * parquet lazily, so the tree must outlive the call), the checkpoint
    * under it, the availableNow trigger, start, and await. `sink`
    * configures the writer given that dir, which is returned. */
  private def runStream(df: DataFrame, prefix: String)
      (sink: String => DataStreamWriter[Row] => DataStreamWriter[Row]): String = {
    val base = graft.io.TempReaper.tempDir(prefix).toString
    sink(base)(df.writeStream)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    base
  }

  /** [[runStream]] with a `foreachBatch` body `(base, batch, batchId)`,
    * `base` being the run's dir. */
  private def runEachBatch(incoming: DataFrame, prefix: String)
      (body: (String, DataFrame, Long) => Unit): String =
    runStream(incoming, prefix)(base =>
      _.foreachBatch((batch: DataFrame, id: Long) => body(base, batch, id)))

  /** The per-batch output a runner wrote under `root` (one `batch=<id>`
    * dir per micro-batch, with overwrite, so a replayed batch lands
    * idempotently), `batch` re-numbered 1-based. When no batch fired,
    * an empty frame of `schema` plus `batch`. */
  private def readBatches(spark: SparkSession, root: String,
      schema: => StructType): DataFrame =
    if (Option(new java.io.File(root).listFiles())
        .exists(_.exists(_.getName.startsWith("batch="))))
      spark.read.parquet(root).withColumn("batch", col("batch").cast(LongType) + 1L)
    else emptyFrame(spark, schema.add("batch", LongType))

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** File-source stream of the events table with a proper event-time column.
    * (The file source wants a directory; select the one table via glob.)
    *
    * The two session confs the stream depends on are VALIDATED, not
    * mutated: a library call silently rewriting a shared session's
    * timezone/parquet semantics would surprise every other query on that
    * session — and a set-then-restore scope is unsound for streams, whose
    * micro-batches keep reading the conf long after this builder returns.
    * `GraftSession.builder` sets both; any other session needs them set
    * once at construction.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "event-time rendering is defined in UTC: set " +
        "spark.sql.session.timeZone=UTC on the session " +
        "(GraftSession.builder does) before building event streams")
    // Probe the file's actual ts unit (footer-only batch read) so the
    // declared streaming schema matches whatever the generator wrote —
    // TIMESTAMP(NANOS) needs the legacy conf to scan at all; micros does
    // not. Fail fast with the conf name rather than a deep parquet error.
    val tsType = try graft.io.EventTime.tsTypeOf(spark, dir) catch {
      case e: Exception if Option(e.getMessage).exists(_.contains("NANOS")) =>
        throw new IllegalArgumentException(
          "events.ts is parquet TIMESTAMP(NANOS): set " +
            "spark.sql.legacy.parquet.nanosAsLong=true on the session " +
            "(GraftSession.builder does) before building event streams", e)
    }
    spark.readStream
      .schema(eventsSchemaWith(tsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("event_time", graft.io.EventTime.eventTimeCol(tsType, "ts"))
  }

  /** Hourly tumbling-window counts+sums per event_type, 1h watermark.
    * At scale: partial aggregation per micro-batch, state keyed by
    * (window, event_type), watermark bounds the state store.
    */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** CHAINED time-window aggregations in one streaming query — the
    * hourly → daily rollup (multiple stateful operators, supported since
    * Spark 3.4): the first aggregation's window struct is re-windowed by
    * the second (`window(col("window"), "1 day")`), so daily totals build
    * from hourly PARTIALS — each day's state upstream is 24 closed hourly
    * rows, not that day's raw events. Append mode (chained stateful
    * operators require it): a daily window emits once the watermark
    * passes its end, so under availableNow the final partial day stays in
    * state and is NOT emitted — the dq96 oracle encodes exactly that
    * boundary (day end ≤ max event time − delay).
    *
    * The daily value sum routes through DECIMAL(18,6): it re-aggregates
    * the hourly DOUBLE sums, and only a fixed-point carrier makes the
    * re-aggregation association-proof cross-engine (the file-header
    * convention).
    */
  def hourlyToDaily(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("__n"), sum(col("value")).as("__sv"))
      .groupBy(window(col("window"), "1 day"), col("event_type"))
      .agg(sum(col("__n")).as("n"),
        sum(col("__sv").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("sum_value"))

  final case class Event(event_id: Long, user_id: Long, epochUs: Long, value: Double)
  /** [[Event]] plus the watermark column — the event-time-timeout checker
    * requires the watermarked attribute to SURVIVE the projection feeding
    * flatMapGroupsWithState.
    */
  final case class TimedEvent(event_id: Long, user_id: Long, epochUs: Long,
      value: Double, event_time: java.sql.Timestamp)
  final case class Session(user_id: Long, session_start: String, n_events: Long,
      duration_sec: Double)

  /** Per-user sessionization with a 10-minute inactivity gap via
    * flatMapGroupsWithState — the custom-state escape hatch
    * (KeyValueGroupedDataset).
    *
    * SCOPE: this is the U-ladder demonstration of arbitrary per-key state,
    * correct under BOUNDED input (availableNow / batch-parity harness),
    * where each key's events arrive in one group call and state never
    * outlives the batch. It accumulates a key's timestamps in memory to
    * sort them, so an unbounded continuous deployment would grow state
    * without limit. The PRODUCTION path for continuous sessionization is
    * [[SparkEntry]] dq46's `session_window` aggregation: Catalyst merges
    * windows incrementally in the state store and the watermark both closes
    * sessions and evicts state — no per-key accumulation. For session logic
    * `session_window` cannot express on a CONTINUOUS stream, use
    * [[sessionizeContinuous]] — same semantics plus event-time timeout and
    * a per-key cap.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 10): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L // microsecond arithmetic: exact cross-engine

    // epoch micros off the normalized event_time (readEvents provides it
    // in every ts unit), not the raw ts column
    val typed = events.select(
      col("event_id"), col("user_id"),
      unix_micros(col("event_time")).as("epochUs"),
      col("value")).as[Event]

    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Long], Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, events, state: GroupState[List[Long]]) =>
          // bounded data (availableNow): all of the user's events arrive in
          // one group; split on inactivity gaps
          val ts = (state.getOption.getOrElse(Nil) ++ events.map(_.epochUs)).sorted
          state.remove()
          mkSessions(user, splitByGap(ts, gapUs))
      }
  }

  /** Continuous-safe sessionization — the same 10-minute-gap semantics as
    * [[sessionize]], but with every safety valve an UNBOUNDED deployment
    * needs:
    *
    *   - **watermark-driven emission**: a session is emitted once the
    *     watermark passes its last event + gap (no on-time event can extend
    *     it anymore) — append-mode, each session exactly once;
    *   - **event-time timeout**: an idle key's state fires
    *     `GroupStateTimeout.EventTimeTimeout` at the EARLIEST buffered
    *     session's close boundary (first session's last event + gap), so
    *     closed sessions flush the moment the watermark allows — without
    *     waiting for the key to ever speak again, and without stranding
    *     behind a still-open tail (the timeout handler re-checks the
    *     watermark, emits what closed, and re-arms for the rest);
    *   - **per-key cap**: a key buffering more than `maxBufferedPerKey`
    *     timestamps force-flushes everything as sessions and resets —
    *     pathological hot keys degrade to split sessions instead of OOM.
    *
    * State per key is only the OPEN tail (closed sessions leave state every
    * batch), so steady-state memory is bounded by gap-window activity, not
    * history. [[sessionize]] stays the bounded-input/batch-parity variant
    * (it flushes open sessions at end of input, which a true stream cannot
    * know to do); prefer `session_window` (dq46) when the per-session
    * aggregate is expressible declaratively.
    */
  def sessionizeContinuous(events: DataFrame, gapMinutes: Int = 10,
      watermarkDelay: String = "10 minutes",
      maxBufferedPerKey: Int = 100000): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L

    typedWithWatermark(events, watermarkDelay).groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Long], Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, events: Iterator[TimedEvent], state: GroupState[List[Long]]) =>
          if (state.hasTimedOut) {
            // the EARLIEST buffered session's close boundary passed with no
            // new data: flush everything the watermark has closed, keep (and
            // re-arm for) anything still open
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val ts = state.getOption.getOrElse(Nil).sorted
            val (closed, open) =
              splitByGap(ts, gapUs).partition(s => s.last + gapUs < wmUs)
            rearmContinuous(state, open, gapUs)
            mkSessions(user, closed)
          } else {
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val buf = (state.getOption.getOrElse(Nil) ++ events.map(_.epochUs))
              .sorted
            val sessions = splitByGap(buf, gapUs)
            if (buf.size > maxBufferedPerKey) {
              // cap breached: force-flush (documented split-session behavior)
              state.remove()
              mkSessions(user, sessions)
            } else {
              val (closed, open) =
                sessions.partition(s => s.last + gapUs < wmUs)
              rearmContinuous(state, open, gapUs)
              mkSessions(user, closed)
            }
          }
      }
  }

  /** Keep `open` sessions in state with the timeout at the EARLIEST open
    * session's close boundary (first session's last + gap), not the key's
    * last event — so an already-closed session flushes as soon as the
    * watermark passes ITS boundary instead of stranding behind an idle
    * tail until the key sees input again. Emission contract (and the dq78
    * oracle criterion): a session is emitted exactly when
    * `last_event + gap < watermark`. Strictly above the watermark by
    * construction (open means last + gap >= wm); +1ms for equality.
    */
  private def rearmContinuous(state: GroupState[List[Long]],
      open: List[List[Long]], gapUs: Long): Unit =
    if (open.isEmpty) state.remove()
    else {
      state.update(open.flatten)
      state.setTimeoutTimestamp((open.head.last + gapUs) / 1000L + 1L)
    }

  /** [[sessionizeContinuous]] on Spark 4's `transformWithState` — the
    * current arbitrary-state operator: named typed state variables on the
    * processor handle (a `ListState` of buffered event times here) and
    * explicit event-time TIMERS instead of the single implicit
    * per-key timeout. Same semantics and safety valves as
    * [[sessionizeContinuous]] (watermark-driven emission, idle-key timer
    * flush, per-key cap) — spec-checked on the same scenarios. Requires the
    * RocksDB state store (`spark.sql.streaming.stateStore.providerClass` =
    * `RocksDBStateStoreProvider`); transformWithState does not run on the
    * default HDFS-backed store.
    */
  def sessionizeTws(events: DataFrame, gapMinutes: Int = 10,
      watermarkDelay: String = "10 minutes",
      maxBufferedPerKey: Int = 100000): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    typedWithWatermark(events, watermarkDelay).groupByKey(_.user_id)
      .transformWithState(
        new SessionProcessor(gapMinutes * 60000000L, maxBufferedPerKey),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** The [[sessionizeTws]] state machine: one `ListState` of buffered event
    * times and exactly ONE registered timer per key — every update deletes
    * the previous timer, so a stale early timer can never flush a session
    * the next batch extended (the expired-timer path still re-checks the
    * watermark defensively and re-arms for anything still open).
    */
  private final class SessionProcessor(gapUs: Long, maxBufferedPerKey: Int)
      extends StatefulProcessor[Long, TimedEvent, Session] {
    @transient private var ts: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ts = getHandle.getListState[Long]("ts",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    // timer at the EARLIEST open session's boundary (see [[rearmContinuous]])
    private def rearm(open: List[List[Long]]): Unit =
      if (open.isEmpty) ts.clear()
      else {
        ts.put(open.flatten.toArray)
        getHandle.registerTimer((open.head.last + gapUs) / 1000L + 1L)
      }

    override def handleInputRows(user: Long, rows: Iterator[TimedEvent],
        timers: TimerValues): Iterator[Session] = {
      val wmUs = timers.getCurrentWatermarkInMs() * 1000L
      val buf = (ts.get().toList ++ rows.map(_.epochUs)).sorted
      val sessions = splitByGap(buf, gapUs)
      getHandle.listTimers().foreach(getHandle.deleteTimer) // one-timer policy
      if (buf.size > maxBufferedPerKey) {
        ts.clear()
        mkSessions(user, sessions) // cap breached: force-flush
      } else {
        val (closed, open) = sessions.partition(s => s.last + gapUs < wmUs)
        rearm(open)
        mkSessions(user, closed)
      }
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[Session] = {
      val wmUs = timers.getCurrentWatermarkInMs() * 1000L
      val buf = ts.get().toList.sorted
      ts.clear()
      val (closed, open) =
        splitByGap(buf, gapUs).partition(s => s.last + gapUs < wmUs)
      rearm(open)
      mkSessions(user, closed)
    }
  }

  // ------------- shared greedy-session machinery -------------------------

  private def typedWithWatermark(events: DataFrame,
      watermarkDelay: String): Dataset[TimedEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("event_time", watermarkDelay)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("event_time")).as("epochUs"), col("value"),
        col("event_time"))
      .as[TimedEvent]
  }

  /** Split SORTED timestamps into sessions on a > gap jump. */
  private def splitByGap(ts: List[Long], gapUs: Long): List[List[Long]] =
    if (ts.isEmpty) Nil
    else ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
      if (t - acc.head.head <= gapUs) (t :: acc.head) :: acc.tail
      else List(t) :: acc
    }.map(_.reverse).reverse

  private def mkSessions(user: Long,
      sessions: List[List[Long]]): Iterator[Session] =
    sessions.iterator.map { s =>
      Session(user, fmtUs(s.head), s.size.toLong, (s.last - s.head) / 1000000.0)
    }

  private def fmtUs(us: Long): String =
    java.time.Instant.ofEpochSecond(us / 1000000L).atZone(java.time.ZoneOffset.UTC)
      .toLocalDateTime.format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))

  /** Streaming exact dedup on key columns + per-type distinct-key counts.
    * `dropDuplicates` keeps the first arrival (state keyed by the cols,
    * watermark-bounded in production); counting per type afterwards is
    * arrival-order independent, which is what makes the result
    * deterministic and oracle-checkable.
    */
  def dedupCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "1 hour")
      .dropDuplicates("user_id", "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_unique_users"))

  /** [[dedupCounts]] with BOUNDED state — `dropDuplicatesWithinWatermark`:
    * each key's dedup state is EVICTED once the watermark passes its event
    * time plus the delay, so the state store holds only keys seen within
    * the watermark horizon instead of every key ever (plain
    * `dropDuplicates` state never expires — the shape that eventually OOMs
    * a long-running 100 TB stream; this one's state is O(keys per
    * horizon)). The contract every bounded-state dedup accepts: duplicates
    * arriving within the horizon of the retained occurrence are dropped,
    * and a duplicate arriving after eviction re-emits as a fresh first
    * occurrence (spec-driven in `EventStreamSpec`). Counted downstream per
    * type so the checked result is arrival-order independent.
    */
  def dedupCountsWithinWatermark(events: DataFrame,
      delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("event_time", delay)
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_unique_users"))

  /** Run a streaming frame to completion (availableNow) through the
    * PRODUCTION sink path and return the written result — used by the
    * Verify/oracle harness to check stream/batch parity.
    *
    * Append-mode streams go through the native parquet file sink
    * (exactly-once via the checkpoint's file manifest — restart-tested in
    * `IoSpec`). Complete-mode aggregations — which the file sink cannot
    * take — go through `foreachBatch` with an idempotent full overwrite per
    * batch, the standard file-sink pattern for complete-mode state.
    * Either way the result lives in executor-written parquet, never a
    * driver-resident memory sink, so the harness path is the same shape
    * that runs at 100 TB.
    */
  def runToTable(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val base = runStream(df, s"graft-stream-$name") { base => w =>
      if (mode == OutputMode.Append()) w.format("parquet").option("path", s"$base/out")
      else w.outputMode(mode).foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(s"$base/out")
      }
    }
    df.sparkSession.read.parquet(s"$base/out")
  }
}
