package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The text stores' gates and appends as they were before the gate
  * handed its rows and features over, kept in test scope as the parity
  * oracle for `gate` + `append(gated, token)` (`TextStoreParitySpec`):
  *  - each keep step picks the kept rows from the store's public per-id
  *    answer (`pairsVs`, `dupWindowReport`, `scoreBatch`) with its own
  *    anti- or semi-join on the raw batch;
  *  - each append re-derives its features from the kept rows' TEXT
  *    (shingle digests, whitespace tokens + k-window md5s, word tokens
  *    + bigrams) and writes the relations and the commit stats from
  *    them. The derivations are copies, so a change to the library's
  *    own derivation cannot move both sides at once. */
object TextStoreOracle {

  /** NearDupIndex: the batch rows with no verified near-duplicate pair. */
  def keepUnseen(idx: NearDupIndex, batch: DataFrame, idCol: String,
      textCol: String, token: String): DataFrame = {
    val dup = idx.pairsVs(batch, idCol, textCol, excludeToken = Some(token))
      .select(col("doc_inc")).distinct()
    batch.join(dup, batch(idCol) === col("doc_inc"), "left_anti")
  }

  /** SubstrIndex: the batch rows whose id has no window in history. */
  def keepFresh(idx: SubstrIndex, batch: DataFrame, idCol: String,
      textCol: String, token: String): DataFrame = {
    val keep = idx.dupWindowReport(batch, idCol, textCol,
        excludeToken = Some(token))
      .where(col("n_dup_windows") <= 0L).select(col(idCol))
    batch.join(keep, Seq(idCol), "left_semi")
  }

  /** NgramLmStore: the batch rows whose id scores in the stored band. */
  def keepBand(store: NgramLmStore, batch: DataFrame, idCol: String,
      textCol: String, token: String): DataFrame = {
    val st = store.stats
    val keep = store.scoreBatch(batch, idCol, textCol, Some(token))
      .where(col("mean_micro").between(st.loMicro, st.hiMicro))
      .select(col(idCol))
    batch.join(keep, Seq(idCol), "left_semi")
  }

  private def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  private def footerRows(kept: DataFrame, dir: String): Long =
    graft.io.ParquetMeta.rowCount(kept.sparkSession, dir)

  /** NearDupIndex: digests, bands and counts from the kept text. */
  def nearDup(idx: NearDupIndex, kept: DataFrame, idCol: String,
      textCol: String, token: String): Unit = {
    val log = idx.log
    log.once(token)(()) {
      log.append(Some(token)) { (id, before) =>
        val prev = log.statsIn(before)
        val proj = fanOut(kept.select(col(idCol).as("doc_id"),
            col(textCol).as("__text")))
          .select(col("doc_id"), MinHashLSH.shingleDigests(col("__text")).as("ds"))
        proj.persist()
        try {
          val nonEmpty = proj.filter(size(col("ds")) > 0)
          nonEmpty.write.parquet(log.dir("digests", id))
          val bk = MinHashLSH.bandedKeysFromDigests(nonEmpty,
            prev("numHashes").toInt, prev("bands").toInt)
          bk.write.parquet(log.dir("bands", id))
          bk.groupBy("b", "bkey").agg(count(lit(1)).as("c"))
            .write.parquet(log.dir("counts", id))
          prev ++ Map(
            "docs" -> (prev("docs").toLong +
              footerRows(kept, log.dir("digests", id))).toString,
            "bandKeys" -> (prev("bandKeys").toLong +
              footerRows(kept, log.dir("counts", id))).toString)
        } finally { proj.unpersist(blocking = true); () }
      }
      ()
    }
  }

  /** SubstrIndex: the distinct k-window digests of the kept text. */
  def substr(idx: SubstrIndex, kept: DataFrame, idCol: String,
      textCol: String, token: String): Unit = {
    val log = idx.log
    log.once(token)(()) {
      log.append(Some(token)) { (id, before) =>
        val prev = log.statsIn(before)
        val k = prev("k").toInt
        val toks = fanOut(kept.select(col(idCol), col(textCol)))
          .select(col(idCol),
            filter(split(col(textCol), "\\s+"), t => length(t) > 0).as("__toks"))
        toks.where(size(col("__toks")) >= k)
          .select(col(idCol),
            explode(sequence(lit(1), size(col("__toks")) - (k - 1))).as("pos"),
            col("__toks"))
          .select(md5(concat_ws(" ",
            slice(col("__toks"), col("pos"), lit(k)))).as("dg"))
          .distinct()
          .write.parquet(log.dir("digests", id))
        prev + ("digests" -> (prev("digests").toLong +
          footerRows(kept, log.dir("digests", id))).toString)
      }
      ()
    }
  }

  /** NgramLmStore: bigram-count partials of the kept text. */
  def ngramLm(store: NgramLmStore, kept: DataFrame, textCol: String,
      token: String): Unit = {
    val log = store.log
    log.once(token)(()) {
      log.append(Some(token)) { (id, before) =>
        val prev = log.statsIn(before)
        val grams = when(size(col("__toks")) >= 2,
          transform(sequence(lit(0), size(col("__toks")) - 2),
            i => concat_ws(" ", element_at(col("__toks"), i + 1),
              element_at(col("__toks"), i + 2))))
          .otherwise(array())
        kept.select(TextAnalysis.tokens(col(textCol)).as("__toks"))
          .select(explode(grams).as("__bg"))
          .groupBy("__bg").agg(count(lit(1)).as("__c12"))
          .select(split(col("__bg"), " ").getItem(0).as("__w1"),
            col("__bg"), col("__c12"))
          .sortWithinPartitions("__w1", "__bg")
          .write.parquet(log.dir("counts", id))
        prev + ("bigramRows" -> (prev("bigramRows").toLong +
          footerRows(kept, log.dir("counts", id))).toString)
      }
      ()
    }
  }
}
