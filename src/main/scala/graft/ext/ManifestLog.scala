package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** One commit's manifest: self-describing `key=value` lines, no JSON
  * dependency, human-greppable:
  *  - `format=2` — the layout version; a commit without it predates the
  *    current layout and [[ManifestLog.read]] refuses it by name;
  *  - `rel.<name>=id,…` — the relation dirs (`<name>/append=<id>/`) the
  *    commit publishes;
  *  - `supersedes.<name>=id,…` — the dirs a compaction or refit folds
  *    away (they stay on disk for in-flight readers until a vacuum);
  *  - `stat.<key>=v` — the store's statistics as of this commit, so data
  *    and stats publish in one atomic marker rename;
  *  - `generation=` — [[IvfStore]]'s centroid generation;
  *  - `token=` — the caller's idempotence token (the exactly-once append
  *    contract).
  */
private[ext] final case class Manifest(
    rels: Map[String, Seq[String]] = Map.empty,
    supersedes: Map[String, Seq[String]] = Map.empty,
    stats: Map[String, String] = Map.empty,
    token: Option[String] = None,
    generation: Option[Int] = None,
    format: Option[Int] = Some(Manifest.Format)) {
  def rel(name: String): Seq[String] = rels.getOrElse(name, Nil)
  def superseded(name: String): Seq[String] = supersedes.getOrElse(name, Nil)

  def render: String = {
    def keyed(prefix: String, kv: Map[String, String]) =
      kv.toSeq.sorted.collect { case (k, v) if v.nonEmpty => s"$prefix$k=$v" }
    (format.map(f => s"format=$f") ++
      keyed("rel.", rels.map { case (k, v) => k -> v.mkString(",") }) ++
      keyed("supersedes.", supersedes.map { case (k, v) => k -> v.mkString(",") }) ++
      keyed("stat.", stats) ++
      generation.map(g => s"generation=$g") ++
      token.map(t => s"token=$t"))
      .mkString("\n")
  }
}

private[ext] object Manifest {
  val Format = 2

  def parse(s: String): Manifest = {
    // values stay RAW here: only the id-list keys split on ',' — the
    // token is caller-chosen text (commas legal per the appendOnce
    // contracts) and must round-trip byte-exact or a replayed micro-batch
    // misses the committed-token check and double-indexes its survivors
    val kv = s.linesIterator.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); (k, v) }
      .toSeq
    def under(prefix: String): Map[String, String] = kv.collect {
      case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v
    }.toMap
    def ids(prefix: String) = under(prefix).map { case (k, v) => k -> v.split(",").toSeq }
    val top = kv.toMap
    Manifest(ids("rel."), ids("supersedes."), under("stat."), top.get("token"),
      top.get("generation").map(_.toInt), top.get("format").map(_.toInt))
  }
}

/** The marker-commit log under an index path: sequential manifests in
  * `_commits/`, each staged to a dot-file then renamed (no-overwrite —
  * atomic on POSIX and HDFS) into place, so a multi-relation append
  * becomes visible all-or-nothing and a second concurrent writer FAILS
  * its commit instead of publishing over the first (readers always see
  * the last committed set). Extracted from [[NearDupIndex]] so every
  * persisted index shares one implementation.
  *
  * == Concurrency contract ==
  *
  * WRITERS serialize on [[withWriteLock]] — every mutating entry point of
  * every store (append/appendOnce, build/create, retrain, vacuum) runs
  * its read-modify-commit cycle under the layout's `.lock` file, so:
  *  - two concurrent appends both land, in some order, neither lost (the
  *    second waits, then reads a log that includes the first);
  *  - appendOnce's token check-then-commit is atomic — two racers with
  *    the SAME token fold the batch exactly once;
  *  - compaction (called from an append, inside its lock) can never race
  *    another append or another compaction, so a relation dir is
  *    superseded by at most one fold and counts are never doubled;
  *  - vacuum (locked) can never unlink a dir an in-flight WRITER is
  *    folding. READERS take no lock at all: they resolve paths from a
  *    committed manifest snapshot, and the vacuum retention guard
  *    ([[vacuumEligible]]) keeps superseded dirs on disk for the
  *    retention window, so a scan planned just before a compaction can
  *    finish. A reader older than the retention window may see
  *    `FileNotFoundException` — lengthen
  *    `spark.graft.index.vacuumRetentionMs` to cover the longest query.
  * The commit publish stays no-overwrite (rename on HDFS; a hard link on
  * the local scheme, where POSIX rename(2) would silently replace), so
  * even a writer that BYPASSES the lock cannot publish over a committed
  * manifest — it fails its commit instead (defense in depth, not the
  * contract). Lock liveness: holders heartbeat the lock file
  * ([[withWriteLock]]), so only a holder that has STOPPED beating for a
  * whole `lockStaleMs` window is presumed dead and broken — a corpus-sized
  * [[IvfStore.refit]] holds its lock for hours without any conf tuning.
  *
  * == Stats ride in the commit ==
  *
  * A data commit's manifest carries the store's statistics (`stat.*`
  * keys), so one marker publish makes the relation dirs AND the stats that
  * describe them visible together, and a reader resolves its dirs and its
  * stats from one [[read]] snapshot ([[StoreLog]]).
  */
private[ext] final class ManifestLog(spark: SparkSession, path: String) {

  private[ext] def fileSystem: FileSystem =
    new HPath(path).getFileSystem(spark.sessionState.newHadoopConf())
  private def fs: FileSystem = fileSystem

  private def commitsDir = new HPath(s"$path/_commits")

  def read(): Seq[Manifest] = markers().map(parse)

  /** The committed marker files, oldest first. Order is the NUMERIC
    * sequence, not lexicographic: at seq 1,000,000 the `m%06d` name
    * widens to 7 digits and "m999999" > "m1000000" as strings. */
  private def markers(): Seq[org.apache.hadoop.fs.FileStatus] = {
    val f = fs
    if (!f.exists(commitsDir)) Nil
    else f.listStatus(commitsDir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("."))
      .sortBy(s => ManifestLog.commitSeqOf(s.getPath.getName))
  }

  /** Parse one marker; a commit without `format=2` predates the current
    * layout and is refused by name — no retry, no fallback. */
  private def parse(st: org.apache.hadoop.fs.FileStatus): Manifest = {
    val in = fs.open(st.getPath)
    val bytes = new Array[Byte](st.getLen.toInt)
    try in.readFully(bytes) finally in.close()
    val m = Manifest.parse(new String(bytes, "UTF-8"))
    if (!m.format.contains(Manifest.Format)) throw ManifestLog.predates(path,
      s"commit ${st.getPath.getName} has no format=${Manifest.Format}")
    m
  }

  /** The NEWEST committed manifest satisfying `p`, reading markers
    * newest-first and stopping at the first match — one listing plus
    * (usually) one small file read, no Spark job. */
  def newest(p: Manifest => Boolean): Option[Manifest] =
    markers().reverseIterator.map(parse).find(p)

  /** Run `body` holding this layout's writer lock — an atomic
    * create-no-overwrite `.lock` file under `_commits/` (atomic on HDFS
    * and object stores with conditional create; on the local scheme the
    * create goes through nio `CREATE_NEW` = O_EXCL, because Hadoop's
    * RawLocalFileSystem `create(overwrite=false)` is exists-then-create
    * and two same-process racers could both "win"). A held lock is waited
    * on up to `spark.graft.index.lockWaitMs` (default 2 min), then the
    * call fails fast NAMING the lock file.
    *
    * LIVENESS vs crashed holders: the holder HEARTBEATS — a driver-side
    * daemon touches the lock file's mtime every
    * `spark.graft.index.lockHeartbeatMs` (default 30 s); on filesystems
    * whose setTimes can't do that (some object stores) it writes an
    * owner-NAMED sidecar `.lock.hb.<owner>` instead, so the shared lock
    * path is NEVER written after acquisition. Staleness is judged on
    * HEARTBEAT age (max of lock mtime and the current owner's sidecar
    * mtime), not acquisition age: a lock whose last heartbeat is older
    * than `spark.graft.index.lockStaleMs` (default 10 min) is presumed
    * abandoned by a crashed writer and broken via a unique-name rename
    * (exactly one waiter wins the takeover, which also removes the dead
    * owner's sidecar), while a legitimately LONG holder —
    * [[IvfStore.refit]] is corpus-sized by design — keeps its live lock
    * for as long as it keeps beating. Keep the heartbeat period well
    * under the stale window. The lock file carries an `owner=` nonce;
    * release (and each beat) checks it, so a holder that was wrongly
    * broken anyway (e.g. suspended longer than the stale window) cannot
    * delete its successor's lock — and since its beats only ever touch
    * its OWN sidecar, it cannot clobber the successor's lock either.
    * Release awaits the in-flight beat before the owner-checked delete,
    * then removes its own sidecar. NOT reentrant:
    * public store entry points acquire it once and call lock-free
    * internals. */
  def withWriteLock[T](body: => T): T = {
    val waitMs = IndexConf.strictLong(spark,
      "spark.graft.index.lockWaitMs", default = 120000L, min = 0L)
    val staleMs = IndexConf.strictLong(spark,
      "spark.graft.index.lockStaleMs", default = 600000L, min = 1L)
    // clamp the beat to a third of the stale window: a conf pair with
    // hbMs >= staleMs would let a waiter break a LIVE holder between
    // beats — the exact failure the heartbeat exists to prevent
    val hbMs = math.min(
      IndexConf.strictLong(spark,
        "spark.graft.index.lockHeartbeatMs", default = 30000L, min = 1L),
      math.max(1L, staleMs / 3))
    val f = fs
    f.mkdirs(commitsDir)
    val lock = new HPath(commitsDir, ".lock")
    val owner = java.util.UUID.randomUUID().toString
    val content =
      s"pid=${ProcessHandle.current().pid()}\nowner=$owner\n"
        .getBytes("UTF-8")
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    while (!acquired) {
      acquired = tryCreateLock(f, lock, content)
      if (!acquired) {
        val st =
          try Some(f.getFileStatus(lock))
          catch { case _: java.io.FileNotFoundException => None }
        st match {
          case Some(s) if System.currentTimeMillis() -
              lastBeatMs(f, lock, s.getModificationTime) >= staleMs =>
            // no heartbeat (lock mtime OR the owner's sidecar) for a whole
            // stale window: presumed-dead holder. Rename-then-verify: the
            // rename serializes breakers (a LOST race surfaces as
            // rename=false or as FileNotFoundException — RawLocalFileSystem
            // falls back to a copy when renameTo fails, and the copy stats
            // the gone source), and the VERIFY closes the stat→rename
            // TOCTOU: a racing waiter may have broken the stale lock and a
            // new holder created a FRESH one in between, so we confirm the
            // file we moved is the very stale file we statted (rename
            // preserves mtime; a live sidecar-beating holder re-checks via
            // its sidecar) and RESTORE it if not
            val broken = new HPath(commitsDir,
              s".lock.broken.${System.nanoTime()}")
            val won =
              try f.rename(lock, broken)
              catch { case _: java.io.FileNotFoundException => false }
            if (won) {
              val bOwner = lockOwner(f, broken)
              val confirmedStale =
                (try f.getFileStatus(broken).getModificationTime ==
                  s.getModificationTime
                catch { case _: java.io.IOException => false }) &&
                System.currentTimeMillis() -
                  lastBeatOf(f, s.getModificationTime, bOwner) >= staleMs
              if (confirmedStale) {
                f.delete(broken, false)
                bOwner.foreach(o => f.delete(hbSidecar(o), false))
              } else if (!f.rename(broken, lock)) {
                // a new lock already appeared where we'd restore: the
                // victim loses its lock file (its beats skip, its release
                // no-ops) — a nanoseconds-wide double race, and commits
                // stay safe regardless (no-overwrite publish)
                f.delete(broken, false)
              }
            }
          case Some(_) =>
            if (System.currentTimeMillis() > deadline)
              throw new IllegalStateException(
                s"writer lock $lock is held (another writer on $path); " +
                  "waited spark.graft.index.lockWaitMs — raise it, or " +
                  "remove the file if its holder is known dead")
            Thread.sleep(100L)
          case None => () // released between our create and stat: retry now
        }
      }
    }
    // sweep heartbeat-sidecar litter: we hold the lock, a live holder
    // deletes its own sidecar at release, so any sidecar but ours is a
    // crashed predecessor's orphan
    try f.listStatus(commitsDir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith(".lock.hb.") &&
        p.getName != s".lock.hb.$owner")
      .foreach(p => f.delete(p, false))
    catch { case _: java.io.IOException => () }
    val hb = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, s"graft-lock-heartbeat-$owner")
        t.setDaemon(true); t
      })
    hb.scheduleAtFixedRate(() => {
      // refresh ONLY a lock we still own — never a successor's after a
      // (wrong) break; any failure here is tolerable (a missed beat), the
      // stale window is many periods wide. The shared lock path is NEVER
      // WRITTEN after acquisition: setTimes is a metadata touch, and the
      // fallback for setTimes-less filesystems (some object stores) beats
      // an owner-NAMED sidecar instead — a stale holder's in-flight beat
      // can no longer clobber a successor's lock (round-13 finding #3)
      try if (!hb.isShutdown && lockOwner(f, lock).contains(owner)) {
        try {
          if (ManifestLog.disableSetTimes)
            throw new java.io.IOException("setTimes disabled (failpoint)")
          f.setTimes(lock, System.currentTimeMillis(), -1)
        } catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            val out = f.create(hbSidecar(owner), true)
            try out.write(
              s"owner=$owner\nts=${System.currentTimeMillis()}\n"
                .getBytes("UTF-8"))
            finally out.close()
        }
      } catch { case _: Throwable => () }
    }, hbMs, hbMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    try body finally {
      hb.shutdownNow()
      // a beat that already passed its owner check must FINISH before the
      // owner-checked delete below — shutdownNow alone does not wait, and
      // a release racing its own last beat could otherwise interleave
      // with the delete (ADVICE r13); the beat is sub-millisecond
      try { hb.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS); () }
      catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      if (lockOwner(f, lock).contains(owner)) f.delete(lock, false)
      f.delete(hbSidecar(owner), false) // only ever ours — unconditional
    }
  }

  /** The owner-named heartbeat sidecar: the beat target on filesystems
    * whose setTimes can't touch the lock's mtime. Owner-unique, written
    * only by its owner, deleted at release / takeover / the next
    * acquirer's sweep. */
  private def hbSidecar(owner: String): HPath =
    new HPath(commitsDir, s".lock.hb.$owner")

  /** The lock's last sign of life: the newer of its own mtime and its
    * CURRENT owner's heartbeat-sidecar mtime. Foreign/orphaned sidecars
    * never count — staleness always keys on the owner actually holding
    * the lock. */
  private def lastBeatMs(f: FileSystem, lock: HPath,
      lockMtime: Long): Long =
    lastBeatOf(f, lockMtime, lockOwner(f, lock))

  private def lastBeatOf(f: FileSystem, lockMtime: Long,
      owner: Option[String]): Long = {
    val hbM = owner.flatMap { o =>
      try Some(f.getFileStatus(hbSidecar(o)).getModificationTime)
      catch { case _: java.io.IOException => None }
    }
    math.max(lockMtime, hbM.getOrElse(0L))
  }

  /** Atomic create-no-overwrite of the lock file: nio `CREATE_NEW`
    * (O_CREAT|O_EXCL — kernel-atomic) on the local scheme, Hadoop
    * `create(overwrite=false)` elsewhere (atomic on HDFS; conditional
    * create on object stores). */
  private def tryCreateLock(f: FileSystem, lock: HPath,
      content: Array[Byte]): Boolean =
    try {
      if (f.getScheme == "file") {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(lock.toUri.getPath), content,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        ()
      } else {
        val out = f.create(lock, false)
        try out.write(content) finally out.close()
      }
      true
    } catch { case _: java.io.IOException => false }

  /** The `owner=` nonce of the current lock file, None if absent/unreadable
    * (a missing file, a mid-break rename, a pre-nonce lock). */
  private def lockOwner(f: FileSystem, lock: HPath): Option[String] =
    try {
      val st = f.getFileStatus(lock)
      val in = f.open(lock)
      val bytes = new Array[Byte](st.getLen.toInt)
      try in.readFully(bytes) finally in.close()
      new String(bytes, "UTF-8").linesIterator
        .collectFirst { case l if l.startsWith("owner=") => l.substring(6) }
    } catch { case _: java.io.IOException => None }

  /** The commit point: marker content staged to a dot-file, then published
    * no-overwrite into place — a second writer racing the same sequence
    * number fails here instead of publishing over us. On HDFS the publish
    * is the usual no-overwrite rename; on the LOCAL scheme Hadoop's rename
    * delegates to POSIX rename(2), which silently REPLACES an existing
    * destination, so the publish is a hard LINK instead — link(2) fails
    * with EEXIST, kernel-atomically, restoring the no-overwrite promise
    * (the defense-in-depth behind the writer lock). */
  def commit(m: Manifest, seq: Int): Unit = {
    ManifestLog.failCommitUnder.foreach { prefix =>
      if (path.startsWith(prefix))
        throw new IllegalStateException(
          s"injected crash before commit under $path (test failpoint)")
    }
    val f = fs
    f.mkdirs(commitsDir)
    val name = f"m$seq%06d"
    val tmp = new HPath(commitsDir, s".$name.tmp")
    val dest = new HPath(commitsDir, name)
    val bytes = m.render.getBytes("UTF-8")
    def collision() = new IllegalStateException(
      s"commit collision on $name under $path — concurrent writer? " +
        "(writers must hold the layout lock — see withWriteLock)")
    if (f.getScheme == "file") {
      val tp = java.nio.file.Paths.get(tmp.toUri.getPath)
      val dp = java.nio.file.Paths.get(dest.toUri.getPath)
      // a crashed predecessor's stage is invisible garbage — replace it
      java.nio.file.Files.deleteIfExists(tp)
      java.nio.file.Files.write(tp, bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      try java.nio.file.Files.createLink(dp, tp)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalStateException(collision().getMessage, e)
      } finally java.nio.file.Files.deleteIfExists(tp)
    } else {
      val out = f.create(tmp, false)
      try out.write(bytes) finally out.close()
      if (!f.rename(tmp, dest)) throw collision()
    }
  }

  /** Delete an UNCOMMITTED relation dir a crashed predecessor left behind
    * (it is invisible by construction — no manifest names it), so a
    * replayed append with the recomputed sequence number can't wedge on
    * `errorifexists`. Call only for a dir id about to be (re)written. */
  def clearOrphan(dir: String): Unit = {
    fs.delete(new HPath(dir), true)
    ()
  }

  /** The manifests whose superseded dirs are vacuum-ELIGIBLE under the
    * retention guard: those whose commit file is at least
    * `spark.graft.index.vacuumRetentionMs` old (default 1h). A reader that planned its scan before a
    * superseding compaction holds the old paths; the age guard gives it
    * the retention window to finish before a (locked) vacuum may unlink
    * them. Set the conf to 0 to vacuum eagerly (tests; a quiesced
    * pipeline). */
  def vacuumEligible(): Seq[Manifest] = {
    val retention = IndexConf.strictLong(spark,
      "spark.graft.index.vacuumRetentionMs", default = 3600000L, min = 0L)
    val now = System.currentTimeMillis()
    markers().filter(now - _.getModificationTime >= retention).map(parse)
  }
}

private[ext] object ManifestLog {
  /** The refusal of a layout written before the current manifest format
    * (positional manifests, a `stats/` sidecar or parquet stats dir):
    * named, immediate, and final — such a store must be rebuilt. */
  private[ext] def predates(path: String, why: String) =
    new IllegalArgumentException(s"store layout at $path predates the " +
      s"current format ($why); it must be rebuilt")

  /** Numeric sequence of a commit-marker name (`m%06d`, widening past a
    * million): the sort/max key of the marker listing. Non-numeric names
    * (never written by [[ManifestLog.commit]]) sort first. */
  private[ext] def commitSeqOf(name: String): Long = {
    val digits = name.dropWhile(!_.isDigit)
    if (digits.nonEmpty && digits.forall(_.isDigit)) digits.toLong else -1L
  }

  /** TEST-ONLY failpoint: when set, any [[ManifestLog.commit]] under a
    * path with this prefix throws BEFORE publishing — the
    * post-write-pre-commit crash injection of the store crash-replay
    * property sweep. Scoped by path prefix so nothing outside the
    * injecting spec's temp dir is touched. */
  @volatile private[ext] var failCommitUnder: Option[String] = None

  /** TEST-ONLY failpoint: pretend the filesystem has no usable setTimes
    * (object-store semantics), forcing every heartbeat onto the
    * owner-named sidecar path — the StoreConcurrencySpec scenarios
    * re-run under it to prove lock liveness without ever writing the
    * shared lock path. */
  @volatile private[ext] var disableSetTimes: Boolean = false
}

/** Schema-declared parquet reads of store RELATION dirs. Spark's parquet
  * schema inference over a multi-file read runs as a one-task Spark job —
  * one driver round-trip per gate/append relation read, several per
  * ingest cycle. A store relation's schema is invariant for the life of
  * its layout (written by the same code on every append/compaction), so
  * callers that know it pass it as `schema` and NO read of that relation
  * ever runs an inference job — including the first of a fresh store,
  * the common case in per-batch ingest loops whose store paths are
  * unique per creation ([[graft.io.TempReaper]]). Declared schemas are
  * pinned against the written layout by `StoreRelationSchemaSpec`, and
  * a compaction rewriting a relation under a declared schema can no
  * longer silently drift from it (the schema is code, not a cached
  * first impression — closes the stale-cached-schema hazard of the
  * earlier infer-once design). Callers without a declared schema fall
  * back to infer-once-per-`key` ("<store path>#<relation>"), bounded by
  * least-recent use: store paths are unique per creation
  * ([[graft.io.TempReaper]]), so a long-lived driver creating many
  * short-lived stores evicts the dead ones while a live store's keys,
  * touched every cycle, stay served. */
private[ext] object RelRead {
  private val MaxEntries = 1024
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, org.apache.spark.sql.types.StructType](
        16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String,
          org.apache.spark.sql.types.StructType]): Boolean =
        size() > MaxEntries
    })

  /** Read `paths` as parquet under the declared `schema` (no inference
    * job, ever), or — when absent — inferring only on the first read of
    * `key`. `basePath`, when set, is the partition-discovery root (the
    * partition column must then be declared in `schema`, last, exactly
    * as inference would place it). */
  def read(spark: SparkSession, key: String, paths: Seq[String],
      basePath: Option[String] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : org.apache.spark.sql.DataFrame = {
    def reader = {
      val r = spark.read
      basePath.foreach(b => r.option("basePath", b))
      r
    }
    schema.orElse(Option(schemas.get(key))) match {
      case Some(s) => reader.schema(s).parquet(paths: _*)
      case None =>
        val df = reader.parquet(paths: _*)
        schemas.put(key, df.schema)
        df
    }
  }

  /** Register `key`'s read schema from the WRITER side — the writer just
    * wrote the relation and knows its exact shape, so the common
    * build→gate→append loop (one JVM) never pays the first-read
    * inference job either. Call with the READ-side schema: the written
    * frame's, nullable (parquet file sources surface every column
    * nullable), for unpartitioned relation dirs. Cross-JVM readers of a
    * foreign store still fall back to infer-once. */
  def seed(key: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    schemas.put(key, allNullable(schema))
    ()
  }

  /** File sources surface every column (and every nested element)
    * nullable; register the same shape so a seeded schema matches what
    * inference would have produced. */
  private def allNullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def conv(dt: DataType): DataType = dt match {
      case s: StructType =>
        StructType(s.fields.map(f =>
          f.copy(dataType = conv(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(conv(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(conv(m.keyType), conv(m.valueType), valueContainsNull = true)
      case other => other
    }
    conv(st).asInstanceOf[StructType]
  }
}

/** Strict parsing for graft's session confs — a junk value
  * fails NAMING the conf and its constraint at the call site, instead of
  * an anonymous NumberFormatException from inside a committed append
  * (the `hotDigestCap` rule, shared by every index layout and
  * `TopKPerKeyExec`). */
private[graft] object IndexConf {

  def strictInt(spark: SparkSession, key: String, default: Int,
      min: Int): Int = {
    val v = spark.conf.getOption(key).map { s =>
      try s.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$key must be an integer, got '$s'")
      }
    }.getOrElse(default)
    require(v >= min, s"$key must be >= $min, got $v")
    v
  }

  def strictLong(spark: SparkSession, key: String, default: Long,
      min: Long): Long = {
    val v = spark.conf.getOption(key).map { s =>
      try s.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$key must be an integer, got '$s'")
      }
    }.getOrElse(default)
    require(v >= min, s"$key must be >= $min, got $v")
    v
  }
}
