package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Path crossover probe for the NearDup and Substr gates: both stores are
  * built from the even-id half of a documents table, then batches of
  * growing size (half near copies of history, half fresh documents, cloned
  * past the table's size) are gated on the small-batch path (broadcast
  * threshold raised to 1 GB) and on the distributed path (threshold -1).
  * Each line also gives the measured size of the frame the gate caches,
  * which is what the default threshold (10 MB) is compared with. Run:
  * `sbt "runMain graft.ext.GateSweep <documents.parquet> <work dir> 50 200 1000 5000"`.
  */
object GateSweep {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.get("graft-gate-sweep")
    val docs = spark.read.parquet(args(0)).select("doc_id", "text").cache()
    val work = args(1)
    val sizes = args.drop(2).map(_.toInt).toSeq
    val hist = docs.where(col("doc_id") % 2 === 0)
    val fresh = docs.where(col("doc_id") % 2 =!= 0)
    val nd = NearDupIndex.build(hist, "doc_id", "text", s"$work/neardup")
    val ss = SubstrIndex.build(hist, "doc_id", "text", s"$work/substr")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    for (n <- sizes) {
      val batch = batchOf(hist, fresh, n).localCheckpoint()
      val ndBytes = cachedBytes(MinHashLSH.withBandArrays(
        batch.withColumn("__ds", MinHashLSH.shingleDigests(col("text"))), "__ds",
        nd.stats.numHashes, nd.stats.bands, "__bands"))
      val ssBytes = cachedBytes(
        ExactSubstring.withWindowDigests(batch, "text", ss.stats.k))
      for ((store, bytes, gate) <- Seq[(String, BigInt, () => DataFrame)](
          ("neardup", ndBytes, () => nd.gate(batch, "doc_id", "text", None).kept),
          ("substr", ssBytes, () => ss.gate(batch, "doc_id", "text", None).kept));
          (path, threshold) <- Seq("small" -> "1g", "distributed" -> "-1")) {
        spark.conf.set(key, threshold)
        val kept = gate().count() // warm-up
        val secs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          gate().count()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        println(f"""{"probe":"gate_sweep","store":"$store","batch_docs":$n,""" +
          f""""cached_bytes":$bytes,"path":"$path","kept":$kept,""" +
          f""""median_s":${secs(1)}%.3f,"min_s":${secs(0)}%.3f}""")
      }
      saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  /** `n` documents: half near copies of history (one appended token),
    * half fresh, cloned under new ids past the table's size. */
  private def batchOf(hist: DataFrame, fresh: DataFrame, n: Int): DataFrame = {
    def take(df: DataFrame, k: Int, copy: Boolean) = {
      val reps = math.max(1L, (k + 999L) / 1000L)
      df.crossJoin(df.sparkSession.range(reps).toDF("rep"))
        .select((col("doc_id") + (col("rep") + 1) * 1000000000L).as("doc_id"),
          (if (copy) concat(col("text"), lit(" zq")) else
            concat(col("text"), lit(" r"), col("rep").cast("string"))).as("text"))
        .limit(k)
    }
    take(hist, n / 2, copy = true).union(take(fresh, n - n / 2, copy = false))
  }

  private def cachedBytes(frame: DataFrame): BigInt = {
    frame.persist()
    try Bridge.loadCache(frame).getOrElse(BigInt(-1))
    finally { frame.unpersist(blocking = true); () }
  }
}
