package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED per-stratum document counts — the corpus-COMPOSITION
  * statistics behind store-mediated mixing ([[graft.plan.CurationConfig]]'s
  * `mix_gate`): temperature mixing derives per-source rates from corpus
  * counts, and a frame-local count is exactly the statistic that goes
  * wrong per micro-batch (the round-13 batch-scoped finding). Counts are
  * associative Longs, so this is the family's smallest store — one
  * `(stratum, n)` partial per append (strata-sized rows), summed at
  * read, exactly-once tokens, compaction past
  * `spark.graft.index.compactThreshold`, retention-guarded vacuum: the
  * [[NgramLmStore]] skeleton on a two-column relation, all of it but the
  * relation itself from the shared [[StoreLog]] core.
  */
final class StrataCountStore private (
    private val spark: SparkSession, val path: String) extends LoggedStore {

  private[ext] val log = new StoreLog(spark, path, Seq(StoreRel("counts",
    fold = Some((from, to) => summed(from)
      .coalesce(1).write.mode("errorifexists").parquet(to)))))

  private def summed(dirs: Seq[String]): DataFrame =
    spark.read.parquet(dirs: _*)
      .groupBy("stratum").agg(sum(col("n")).cast("long").as("n"))

  /** Summed per-stratum counts over the visible commits — driver-sized
    * (one row per stratum ever seen). */
  def counts(excludeToken: Option[String] = None): Seq[(String, Long)] = {
    val ms = log.visible(excludeToken)
    if (log.activeIds(ms, "counts").isEmpty) Nil
    else summed(log.dirs(ms, "counts"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
  }

  def append(counts: Seq[(String, Long)]): Unit =
    log.locked(writeBatch(counts, token = None))

  /** [[append]] with an idempotence token — exactly-once composition
    * updates (check-then-commit atomic under the writer lock). */
  def appendOnce(counts: Seq[(String, Long)], token: String): Unit =
    log.once(token)(())(writeBatch(counts, Some(token)))

  private def writeBatch(counts: Seq[(String, Long)], token: Option[String],
      fresh: Boolean = false): Unit = {
    require(counts.forall(_._1 != null), "NULL stratum")
    log.append(token, fresh) { (id, _) =>
      import spark.implicits._
      // an EMPTY batch still needs a schema-carrying parquet file (a
      // zero-partition empty write leaves only _SUCCESS and later reads
      // fail schema inference — the IvfStore.writeAssigned rule), so
      // stage an explicit one-partition empty frame for that case
      val frame =
        if (counts.nonEmpty) counts.toDF("stratum", "n").coalesce(1)
        else spark.createDataFrame(
          spark.sparkContext.parallelize(
            Seq.empty[org.apache.spark.sql.Row], 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("stratum",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.LongType))))
      frame.write.mode("errorifexists").parquet(log.dir("counts", id))
      Map.empty
    }
    ()
  }
}

object StrataCountStore extends StoreProbe {

  /** Build a new count store at `path` (must be fresh) from the seed
    * batch's counts. */
  def create(spark: SparkSession, path: String,
      counts: Seq[(String, Long)],
      seedToken: Option[String] = None): StrataCountStore = {
    val store = new StrataCountStore(spark, path)
    store.log.locked(store.writeBatch(counts, seedToken, fresh = true))
    store
  }

  def open(spark: SparkSession, path: String): StrataCountStore =
    StoreLog.open(new StrataCountStore(spark, path))
}
