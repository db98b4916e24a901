package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Bridge

/** Call-scoped caching for operators whose pipeline consumes an expensive
  * intermediate more than once (both sides of a self-join, signature branch +
  * verification branch, ...).
  *
  * The intermediates are persisted only for the duration of the call: the
  * result is eagerly materialized with `localCheckpoint` — which cuts its
  * lineage so it no longer references the cached inputs — and the inputs are
  * released before returning. No cache entries outlive the call, so a session
  * running many such operators (e.g. a benchmark loop) does not accumulate
  * orphaned blocks; the checkpoint blocks themselves are reclaimed by the
  * ContextCleaner once the returned frame is garbage-collected.
  */
private[graft] object CacheScope {

  /** Persist `frames` while `body` builds the result; return the result
    * materialized and detached from the caches.
    */
  def withCached(frames: DataFrame*)(body: => DataFrame): DataFrame = {
    frames.foreach(_.persist())
    try body.localCheckpoint(eager = true)
    finally frames.foreach(_.unpersist(blocking = false))
  }

  /** Whether `frame`, persisted by an enclosing [[withCached]], is small
    * enough for a gate's driver-side path once materialized: its cache
    * entry's measured size is at most `maxBytes`, the gate's own measured
    * bound, and at most `spark.sql.autoBroadcastJoinThreshold` (a negative
    * threshold never fits: disabling broadcasts forces the distributed
    * plan, and raising the threshold for joins never grows what a gate
    * collects past `maxBytes`). Loads the cache first: one job, which the
    * frame's first query would otherwise run. */
  def fitsDriver(frame: DataFrame, maxBytes: Long): Boolean = {
    val limit = math.min(Bridge.broadcastThreshold(frame.sparkSession), maxBytes)
    limit >= 0 && Bridge.loadCache(frame).exists(_ <= limit)
  }
}
