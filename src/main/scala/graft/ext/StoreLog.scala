package graft.ext

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** One relation of a [[StoreLog]] layout: per-commit dirs
  * `<path>/<name>/append=<id>/`. `companions` are sibling relations
  * written under the same ids and unlinked with them ([[IvfStore]]'s
  * vidmap/packed/drift/pqcodes tiers, [[BpeStore]]'s alphabet). `fold`,
  * when set, compacts the relation: it rewrites the rows of the source
  * dirs into the target dir (the target is cleared first), and the store
  * publishes the result as a superseding commit. `appended = false` marks
  * a relation a data commit does not write (BpeStore's model, committed
  * by its retrain). */
private[ext] final case class StoreRel(name: String,
    companions: Seq[String] = Nil,
    fold: Option[(Seq[String], String) => Unit] = None,
    appended: Boolean = true)

/** The append-log core every persisted store shares, over one
  * [[ManifestLog]]: a store supplies its relations (writers and
  * compaction folds) and its stats codec; the core owns everything else —
  *  - the writer-locked append ([[append]]) and the token-checked
  *    exactly-once form ([[once]]);
  *  - the replay view [[visible]] and per-relation active-dir resolution
  *    ([[activeIds]], [[dirs]]), superseded dirs dropped;
  *  - the stats of a snapshot ([[statsIn]]) and of the newest commit
  *    ([[stats]]) — stats ride in the data commit's manifest;
  *  - threshold compaction past `spark.graft.index.compactThreshold`
  *    active dirs (default 16), the newest dir never folded;
  *  - retention-guarded [[vacuum]], orphan clearing, [[seededBy]] and the
  *    `exists`/`open` probes (which refuse layouts written before the
  *    current format).
  *
  * == The replay view ==
  *
  * [[visible]] drops the commit carrying `excludeToken`: a rerun of
  * micro-batch N gates against the store as it stood before its own
  * append. Guaranteed while that commit's dirs are unfolded — compaction
  * never folds the newest dir, which is exactly the window in which a
  * streaming engine can replay the batch ([[IvfStore.refit]], which folds
  * everything, carries the token forward instead).
  */
private[ext] final class StoreLog(spark: SparkSession, val path: String,
    rels: Seq[StoreRel],
    foldStats: Seq[Manifest] => Map[String, String] = _ => Map.empty) {

  val manifests = new ManifestLog(spark, path)

  def dir(rel: String, id: String): String = s"$path/$rel/append=$id"

  /** Committed manifests minus `excludeToken`'s commit — the replay view. */
  def visible(excludeToken: Option[String]): Seq[Manifest] =
    manifests.read().filterNot(m => excludeToken.exists(m.token.contains))

  /** `rel`'s published dir ids in `ms`, minus any a later commit
    * superseded, in commit order. */
  def activeIds(ms: Seq[Manifest], rel: String): Seq[String] = {
    val sup = ms.flatMap(_.superseded(rel)).toSet
    ms.flatMap(_.rel(rel)).filterNot(sup)
  }

  /** The active dirs of `rel` in `ms`; fails naming the store when none is
    * committed. */
  def dirs(ms: Seq[Manifest], rel: String): Seq[String] = {
    val ids = activeIds(ms, rel)
    require(ids.nonEmpty, s"no committed $rel dirs under $path")
    ids.map(dir(rel, _))
  }

  /** The stats of a snapshot: the `stat.*` keys of its newest manifest
    * that carries them (data commits do; compactions do not). */
  def statsIn(ms: Seq[Manifest]): Map[String, String] =
    ms.reverseIterator.map(_.stats).find(_.nonEmpty)
      .getOrElse(throw StoreLog.missing(path))

  /** The current stats: the newest commit carrying them — a listing plus
    * one or two small file reads, no Spark job. */
  def stats: Map[String, String] =
    manifests.newest(_.stats.nonEmpty).map(_.stats)
      .getOrElse(throw StoreLog.missing(path))

  /** Whether the FIRST commit carries `token` (the
    * [[IngestIndex.seededBy]] contract). */
  def seededBy(token: String): Boolean =
    manifests.read().headOption.exists(_.token.contains(token))

  /** Run `body` under the layout's writer lock. */
  def locked[T](body: => T): T = manifests.withWriteLock(body)

  /** The exactly-once form of a locked write: if a committed manifest
    * already carries `token`, return `committed` instead of running
    * `body` — the check and the commit are atomic under the writer lock,
    * so two racers with the same token fold a batch once. */
  def once[T](token: String)(committed: => T)(body: => T): T = {
    require(token.nonEmpty && !token.contains("\n"), "token: non-empty, one line")
    locked {
      if (manifests.read().exists(_.token.contains(token))) committed else body
    }
  }

  /** A locked write: exactly once under `token` ([[once]]), or
    * unconditionally without one. */
  def write[T](token: Option[String])(committed: => T)(body: => T): T =
    token.fold(locked(body))(t => once(t)(committed)(body))

  /** Start a commit (writer lock held): the snapshot, the next sequence
    * number and a fresh dir id `<prefix><seq>` ([[next]]). */
  def begin(prefix: Char, names: Seq[String] = rels.map(_.name))
      : (Seq[Manifest], Int, String) = {
    val ms = manifests.read()
    val (seq, id) = next(ms, prefix, names)
    (ms, seq, id)
  }

  /** The sequence number and dir id `<prefix><seq>` of the commit after
    * `ms`, with any uncommitted dir of that id a crashed predecessor left
    * (invisible by construction) cleared under `names` and their
    * companions, so the rewrite can't wedge on `errorifexists`. */
  private def next(ms: Seq[Manifest], prefix: Char,
      names: Seq[String]): (Int, String) = {
    val seq = ms.size + 1
    val id = f"$prefix$seq%06d"
    rels.filter(r => names.contains(r.name))
      .flatMap(r => r.name +: r.companions)
      .foreach(r => manifests.clearOrphan(dir(r, id)))
    (seq, id)
  }

  /** One data commit (writer lock held): `write(id, snapshot)` writes
    * every appended relation's dir for the fresh id and returns the
    * commit's stats; the marker then publishes dirs and stats together,
    * and threshold compaction runs. `fresh` refuses a path that already
    * holds a commit (build/create). Returns the committed manifest. */
  def append(token: Option[String], fresh: Boolean = false)(
      write: (String, Seq[Manifest]) => Map[String, String]): Manifest = {
    val names = rels.filter(_.appended).map(_.name)
    val (before, seq, id) = begin('a', names)
    require(!fresh || before.isEmpty,
      s"$path already holds a committed store (build/create wants a fresh path)")
    val m = Manifest(rels = names.map(_ -> Seq(id)).toMap,
      stats = write(id, before), token = token)
    manifests.commit(m, seq) // now visible
    compact()
    m
  }

  /** Fold a relation's active dirs into one once more than
    * `spark.graft.index.compactThreshold` (default 16) of them are
    * foldable — bounds the per-read file listing across unbounded append
    * loops. The NEWEST dir is never folded: it may belong to a token
    * append a streaming engine could still replay ([[visible]]).
    * Published as a superseding commit; superseded dirs stay on disk for
    * in-flight readers until [[vacuum]]. */
  private def compact(): Unit = {
    val threshold = IndexConf.strictInt(spark, StoreLog.CompactThresholdKey,
      default = 16, min = 1)
    for (r <- rels; fold <- r.fold) {
      val ms = manifests.read()
      val foldable = activeIds(ms, r.name).dropRight(1)
      if (foldable.size > threshold) {
        val (seq, cid) = next(ms, 'c', Seq(r.name))
        fold(foldable.map(dir(r.name, _)), dir(r.name, cid))
        val folded = foldable.toSet
        manifests.commit(Manifest(rels = Map(r.name -> Seq(cid)),
          supersedes = Map(r.name -> foldable),
          stats = foldStats(ms.filter(_.rel(r.name).exists(folded)))), seq)
      }
    }
  }

  /** Unlink the dirs (and companions) a compaction or refit superseded,
    * under the retention guard ([[ManifestLog.vacuumEligible]]): only
    * dirs whose superseding commit is at least
    * `spark.graft.index.vacuumRetentionMs` old (default 1h) are touched,
    * so a reader that resolved its paths just before the compaction gets
    * the window to finish. The manifest history is untouched (superseded
    * ids simply point at nothing). Locked writer; returns the number of
    * relation dirs removed. */
  def vacuum(): Int = locked {
    val f = manifests.fileSystem
    val eligible = manifests.vacuumEligible()
    rels.map { r =>
      eligible.flatMap(_.superseded(r.name)).distinct.count { id =>
        r.companions.foreach(c => f.delete(new HPath(dir(c, id)), true))
        f.delete(new HPath(dir(r.name, id)), true)
      }
    }.sum
  }

  /** The `open` probe: fail fast, by name, on a path with no committed
    * store, and on a layout written before the current format (a `stats/`
    * dir from the sidecar era, or a commit without `format=2`, which every
    * manifest read refuses). No sleep, no retry. Returns the newest commit
    * satisfying `p`, for a store's own layout checks; `p` must hold for
    * the first commit, so that none means no store. */
  def requireCurrent(p: Manifest => Boolean = _ => true): Manifest = {
    if (manifests.fileSystem.exists(new HPath(s"$path/stats")))
      throw ManifestLog.predates(path, "a stats/ dir; stats now ride in the commit")
    manifests.newest(p).getOrElse(throw StoreLog.missing(path))
  }
}

private[ext] object StoreLog {

  /** The one compaction knob of every persisted store. */
  val CompactThresholdKey = "spark.graft.index.compactThreshold"

  /** A store instance over an existing layout, probed
    * ([[StoreLog.requireCurrent]]) — every store's `open`. */
  def open[S <: LoggedStore](store: S): S = { store.log.requireCurrent(); store }

  /** A stats case class as commit keys: field name → value text
    * (`Double.toString` round-trips exactly). */
  def kvOf(stats: Product): Map[String, String] =
    stats.productElementNames.zip(stats.productIterator.map(_.toString)).toMap

  private def missing(path: String) = new IllegalArgumentException(
    s"no committed store under $path — not a store layout?")
}

/** The maintenance surface every [[StoreLog]] store shares. */
trait LoggedStore {
  private[ext] def log: StoreLog

  /** Unlink dirs a compaction (or refit/retrain) superseded, under the
    * retention guard ([[StoreLog.vacuum]]). Returns the dirs removed. */
  def vacuum(): Int = log.vacuum()

  /** Whether the store's FIRST commit carries `token` — the
    * build-if-absent crash-replay probe ([[IngestIndex.seededBy]]). */
  def seededBy(token: String): Boolean = log.seededBy(token)
}

/** The probe every store's companion shares. */
trait StoreProbe {

  /** Whether `path` holds at least one committed manifest — the
    * build-if-absent probe of config-driven stages
    * ([[graft.plan.CurationConfig]]). Uncommitted orphan dirs do not
    * count (they are invisible to every reader). */
  def exists(spark: SparkSession, path: String): Boolean =
    new ManifestLog(spark, path).newest(_ => true).nonEmpty
}
