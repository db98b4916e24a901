package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TRAINING-SHARD MATERIALIZATION (EXT) — the last meter of the curation
  * pipeline: turn a curated (possibly tokenized, possibly epoch-repeated)
  * document frame into the size-bounded, epoch-shuffled shard FILES plus
  * manifest that a trainer's data loader actually consumes. The reference
  * workflow is declare-then-run to a sink
  * (/root/reference/src/runner/src/main/scala/Main.scala:205-217); this is
  * that sink for the LLM-data shape, composed from pieces the suite has
  * already verified one by one:
  *
  *  1. ORDER: every row gets the deterministic, engine-portable epoch
  *     shuffle key `md5("<epoch>:<id>")` ([[Sampling.epochShuffleKey]],
  *     dq101) — a reproducible permutation any engine re-derives from the
  *     id alone. Rows carrying an `epoch` column (a `repeat_epochs` stage
  *     upstream) shuffle per epoch; otherwise the declared epoch applies.
  *  2. STREAM: the key's first `prefixLen` hex chars split the corpus
  *     into 16^prefixLen independent STREAMS — the parallelism unit.
  *     Greedy packing is inherently sequential, so the stream count is
  *     the scale knob: 16 streams at test scale, 256+ at 100 TB, each
  *     stream a partition-local pass after ONE hash shuffle.
  *  3. PACK: within each stream, ascending-key greedy capacity packing
  *     ([[Packing.packGreedy]], dq66: a doc that would overflow
  *     `capacity` units starts the next bin; an oversized doc gets its
  *     own bin). A shard is `(stream, bin)`.
  *  4. WRITE: one `data/append=<id>/stream=<s>/bin=<n>/` parquet tree
  *     (clustered before `partitionBy`, so files stay ≤ shards, the
  *     dq127 rule), a per-shard REPORT computed from the data READ BACK
  *     off disk (n_docs, units, and a content md5 in key order — the
  *     loader's integrity manifest describes what is actually on disk,
  *     not what the writer meant), and one [[ManifestLog]] marker commit
  *     publishing both all-or-nothing.
  *
  * Exactly-once: a `token`-carrying write whose token is already
  * committed is a no-op (the family `appendOnce` contract), so a replayed
  * pipeline run — batch rerun or streamed micro-batch replay under
  * `cfg:<runId>:s<i>` — lands one shard set, not two. A crashed write is
  * invisible (no manifest) and its orphan dirs are cleared on retry.
  * Each run appends its OWN shard set (`append=<id>`): production ingest
  * shards per round, and a loader consumes the rounds it has seen
  * committed.
  *
  * Size columns: `units = "chars"` measures `length(text)`;
  * `"subtokens"` measures `size(subtokens)` — the real token-budget
  * shape, fed by a `bpe_tokenize` stage upstream; `"bytes"` measures
  * `octet_length` of a DECLARED binary column (`binaryCol`) — the
  * multimodal shape, where an image/audio/video payload dominates the
  * shard size and caption text is noise. A declared `binaryCol` also
  * folds the payload BYTES into every integrity hash (`md5(id:text:`
  * `hex(payload))`) so a flipped payload byte is caught exactly like a
  * flipped caption character; [[verify]] must be called with the same
  * declaration.
  */
object ShardWriter extends StoreProbe {

  /** Columns this writer synthesizes into the shard files. Inputs must
    * not already use them — refused by name rather than silently
    * overwritten. */
  private val Reserved = Seq("skey", "stream", "bin", "units")

  private[ext] def unitsColumn(units: String, textCol: String,
      schema: org.apache.spark.sql.types.StructType,
      binaryCol: Option[String] = None)
      : org.apache.spark.sql.Column = units match {
    case "chars" => length(col(textCol)).cast("long")
    case "subtokens" =>
      require(schema.fieldNames.contains("subtokens"),
        "shard_write: units 'subtokens' needs a 'subtokens' column — " +
          "declare a bpe_tokenize stage upstream")
      size(col("subtokens")).cast("long")
    case "bytes" =>
      val b = binaryCol.getOrElse(throw new IllegalArgumentException(
        "shard_write: units 'bytes' needs a declared binary column " +
          "('binary' in the config)"))
      require(schema.fieldNames.contains(b),
        s"shard_write: units 'bytes' needs the declared binary column " +
          s"'$b' in the input")
      octet_length(col(b)).cast("long")
    case other => throw new IllegalArgumentException(
      s"shard_write: unknown units '$other' (chars | subtokens | bytes)")
  }

  /** The shard ASSIGNMENT plan for a frame — (input columns) + `skey`,
    * `stream`, `bin`, `units`; deterministic in the row set alone. Rows
    * must be unique per (epoch, id): the key is their identity. */
  def assign(df: DataFrame, idCol: String, textCol: String, units: String,
      capacity: Long, epoch: Int, streams: Int,
      binaryCol: Option[String] = None): DataFrame = {
    require(capacity >= 1, "capacity must be >= 1")
    val prefixLen = streams match {
      case 1 => 0
      case 16 => 1
      case 256 => 2
      case other => throw new IllegalArgumentException(
        s"shard_write: streams must be 1, 16 or 256 (hex-prefix " +
          s"parallelism), got $other")
    }
    Reserved.filter(df.columns.contains).headOption.foreach(c =>
      throw new IllegalArgumentException(
        s"shard_write: input already has a '$c' column (reserved for " +
          "the shard layout)"))
    val epochCol =
      if (df.columns.contains("epoch")) col("epoch").cast("string")
      else lit(epoch.toString)
    val keyed = df
      .withColumn("skey", md5(concat_ws(":", epochCol, col(idCol))))
      .withColumn("units", unitsColumn(units, textCol, df.schema, binaryCol))
      .withColumn("stream",
        if (prefixLen == 0) lit("all") else substring(col("skey"), 1, prefixLen))
    // pack CARRYING the rows (one exchange total — the group-key shuffle
    // IS the placement move): the projection+join-back form moved the
    // fat rows twice at scale (the assignment join's skey exchange plus
    // the placement repartition — AQE only sometimes broadcast the
    // corpus-sized assignment side; caught by SCALE_MEDIA's runtime
    // bytes audit). Output comes back clustered by stream in
    // (stream, bin, skey) order, so the terminal write lands it with
    // no further exchange. The key IS row identity: a duplicated
    // (epoch, id) would silently multiply shard rows — refused by name
    // INSIDE the pack's own (stream, skey) sort (equal keys are
    // adjacent), which replaced the earlier standalone keys-only
    // aggregation job per write; the refusal now surfaces at the
    // consuming action, wrapped in Spark's task-failure error.
    Packing.packGreedyCarry(keyed, "stream", "skey", "units", capacity,
        duplicateIdError = Some(
          s"shard_write: duplicate (epoch, $idCol) rows in the input — " +
            "the shuffle key is row identity; dedup upstream (or repeat " +
            "via repeat_epochs, whose epoch column keys every copy)"))
      .select(df.columns.map(col) ++
        Seq(col("skey"), col("units"), col("stream"), col("bin")): _*)
  }

  /** Materialize the frame's shard set under `path` and commit it. A
    * committed `token` makes the call a no-op (replay). Returns the
    * number of SHARDS written (0 on a recognized replay). */
  def write(df: DataFrame, idCol: String, textCol: String, path: String,
      capacity: Long, units: String = "chars", epoch: Int = 1,
      streams: Int = 16, token: Option[String] = None,
      binaryCol: Option[String] = None): Long = {
    val log = storeLog(df.sparkSession, path)
    def writeShards(): Long = {
      val m = log.append(token) { (id, _) =>
        val dataDir = log.dir("data", id)
        // assign's output is already stream-clustered in
        // (stream, bin, skey) order (packGreedyCarry) — the partitioned
        // write lands it directly, no second payload exchange
        assign(df, idCol, textCol, units, capacity, epoch, streams,
            binaryCol)
          .write.partitionBy("stream", "bin").mode("errorifexists")
          .parquet(dataDir)
        // the report describes the BYTES ON DISK: read the shards back
        // and aggregate — a write that lost rows would be caught here,
        // not at training time
        reportOf(df.sparkSession.read.option("basePath", dataDir)
            .parquet(dataDir), idCol, textCol, binaryCol)
          .coalesce(1).write.mode("errorifexists").parquet(log.dir("report", id))
        Map.empty
      }
      graft.io.ParquetMeta.rowCount(df.sparkSession,
        log.dir("report", m.rel("report").head)) // tiny: shards
    }
    token.fold(log.locked(writeShards()))(t => log.once(t)(0L)(writeShards()))
  }

  /** Per-shard integrity report of a shard frame: `(stream, bin, n_docs,
    * units, content_md5)` where `content_md5` hashes the concatenation of
    * per-row `md5(id:text)` in shuffle-key order — the loader's check
    * that a shard's bytes are the committed bytes. The per-shard list is
    * CAPACITY-bounded by construction (a shard holds at most `capacity`
    * units), so the collect_list is shard-sized, never corpus-sized. */
  def reportOf(shards: DataFrame, idCol: String,
      textCol: String, binaryCol: Option[String] = None): DataFrame =
    shards
      .withColumn("__row_md5", binaryCol match {
        case Some(b) =>
          // the payload bytes ride the hash as hex — engine-portable
          // (DuckDB: md5(id || ':' || text || ':' || hex(payload)))
          md5(concat(col(idCol).cast("string"), lit(":"), col(textCol),
            lit(":"), hex(col(b))))
        case None =>
          md5(concat(col(idCol).cast("string"), lit(":"), col(textCol)))
      })
      // stream/bin come back as PARTITION columns on the read-back
      // frame, and partition-type inference is content-dependent: a
      // small round whose hex prefixes are all digits infers `stream`
      // as INT, and a later union with an alphabetic prefix ('f')
      // fails the cast — pin both to their layout types here
      .groupBy(col("stream").cast("string").as("stream"),
        col("bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("units")).as("units"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("skey").as("k"),
              col("__row_md5").as("m")))),
            x => x.getField("m")),
          "")).as("content_md5"))

  /** All committed shard rows under `path` (every append), with their
    * layout columns. */
  def shards(spark: SparkSession, path: String): DataFrame = {
    val ids = appendIds(spark, path)
    require(ids.nonEmpty, s"no committed shard sets under $path")
    spark.read.option("basePath", s"$path/data")
      .parquet(ids.map(id => s"$path/data/append=$id"): _*)
      // pin the partition columns' layout types (inference is
      // content-dependent — an all-digit-prefix append infers INT)
      .withColumn("stream", col("stream").cast("string"))
      .withColumn("bin", col("bin").cast("long"))
  }

  /** The PERSISTED per-shard reports under `path` (every append, with
    * the append id as `round` ordinal 1..n) — what a loader reads before
    * touching data. */
  def report(spark: SparkSession, path: String): DataFrame = {
    val ids = appendIds(spark, path)
    require(ids.nonEmpty, s"no committed shard sets under $path")
    ids.zipWithIndex.map { case (id, i) =>
      spark.read.parquet(s"$path/report/append=$id")
        .withColumn("round", lit((i + 1).toLong))
    }.reduce(_ unionByName _)
  }

  /** LOADER-SIDE INTEGRITY VERIFICATION — before a trainer consumes a
    * shard set, confirm the bytes on disk are the bytes the manifest
    * committed: recompute every shard's [[reportOf]] row from the data
    * tree and full-outer-join it against the PERSISTED report on
    * `(round, stream, bin)`. A shard is `ok` only when both sides exist
    * and agree on doc count, unit total, AND the key-ordered content
    * md5 — so a lost file, a truncated write, a flipped row, or an
    * orphan directory the manifest never committed each surface as one
    * named `(round, stream, bin, ok=false)` row with both hashes for
    * the operator to diff. This is deliberately the ONE corpus-sized
    * read in the shard lifecycle (like [[IvfStore]] refit): it re-reads
    * every committed shard once, in one parallel scan per append — the
    * loader runs it per NEW append (`rounds = Some(Seq(latest))`) at
    * production cadence, not over all history. */
  def verify(spark: SparkSession, path: String, idCol: String,
      textCol: String, rounds: Option[Seq[Long]] = None,
      binaryCol: Option[String] = None): DataFrame = {
    val ids = appendIds(spark, path)
    require(ids.nonEmpty, s"no committed shard sets under $path")
    val picked = ids.zipWithIndex
      .map { case (id, i) => (id, (i + 1).toLong) }
      .filter { case (_, r) => rounds.forall(_.contains(r)) }
    require(picked.nonEmpty,
      s"verify: no committed round matches ${rounds.getOrElse(Nil)} " +
        s"(committed: 1..${ids.size})")
    val disk = picked.map { case (id, round) =>
      val dataDir = s"$path/data/append=$id"
      // a LOST/EMPTY data tree must surface as ok=false rows for every
      // manifest shard of the round — not as an AnalysisException (the
      // loader's check reports damage, it doesn't crash on it)
      val diskReport =
        try reportOf(
          spark.read.option("basePath", dataDir).parquet(dataDir),
          idCol, textCol, binaryCol)
        catch {
          case _: org.apache.spark.sql.AnalysisException =>
            spark.createDataFrame(
              spark.sparkContext.parallelize(
                Seq.empty[org.apache.spark.sql.Row], 1),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("stream",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("bin",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("n_docs",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("units",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("content_md5",
                  org.apache.spark.sql.types.StringType))))
        }
      diskReport.withColumn("round", lit(round))
    }.reduce(_ unionByName _)
    // read ONLY the picked rounds' report dirs (a scoped verify of round
    // N must not depend on other rounds' reports being readable); a
    // PICKED round's unreadable report is a damaged manifest — that one
    // IS a named error, since there is nothing to diff against
    val manifest = picked.map { case (id, round) =>
      (try spark.read.parquet(s"$path/report/append=$id")
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"verify: committed report append=$id under $path is " +
              "unreadable — the integrity manifest itself is damaged; " +
              s"restore it before trusting this shard set (${e.getMessage})")
      }).withColumn("round", lit(round))
    }.reduce(_ unionByName _)
    manifest.alias("m")
      .join(disk.alias("d"), Seq("round", "stream", "bin"), "full_outer")
      .select(col("round"), col("stream"), col("bin"),
        (col("m.content_md5").isNotNull &&
          col("d.content_md5").isNotNull &&
          col("m.n_docs") <=> col("d.n_docs") &&
          col("m.units") <=> col("d.units") &&
          col("m.content_md5") <=> col("d.content_md5")).as("ok"),
        // coalesce across BOTH sides: an orphan shard (disk-only,
        // manifest_md5 null) still reports its real disk-side size, so a
        // damage diff never loses the orphan's counts
        coalesce(col("m.n_docs"), col("d.n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("m.units"), col("d.units"), lit(0L)).as("units"),
        col("m.content_md5").as("manifest_md5"),
        col("d.content_md5").as("disk_md5"))
  }

  private def storeLog(spark: SparkSession, path: String) =
    new StoreLog(spark, path, Seq(StoreRel("data"), StoreRel("report")))

  /** The committed shard-set ids, oldest first. */
  private def appendIds(spark: SparkSession, path: String): Seq[String] = {
    val log = storeLog(spark, path)
    log.activeIds(log.visible(None), "data")
  }
}
