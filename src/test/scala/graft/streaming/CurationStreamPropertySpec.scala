package graft.streaming

import org.apache.spark.sql.functions._

import graft.GraftSpec
import graft.plan.CurationConfig

/** Randomized stream/batch parity for the STREAMED declared pipeline
  * ([[EventStream.runConfigPipeline]]) — the dq153 contract generalized
  * the way `IvfRefitPropertySpec` generalizes dq142: on random corpora
  * and random batch splits, the streamed chain's per-micro-batch
  * survivors equal two NAMED batch runs of the same config over a
  * separate store, including planted cross-batch replays that must drop
  * through the seeded store.
  */
class CurationStreamPropertySpec extends GraftSpec {
  import spark.implicits._

  private val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango")

  it("streamed declared chain ≡ named batch runs on random corpora and " +
     "splits, with planted cross-batch replays dropping through the " +
     "seeded store (3 trials, fixed seed)") {
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 3) {
      def doc(): String =
        Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      val docs = (1L to 40L).map(i => (i, doc()))
      val split = 15 + rnd.nextInt(10)
      val (d1, d2raw) = docs.splitAt(split)
      // batch 2 re-sends some batch-1 texts under fresh ids: their k=4
      // windows are all stored by the seed round, so the gate must drop
      // them in BOTH the streamed and the named-batch form
      val replaySrc = rnd.shuffle(d1).take(5).zipWithIndex
        .map { case ((src, t), j) => (1000L + j, t, src) }
      val replays = replaySrc.map { case (id, t, _) => (id, t) }
      // every doc carries a deterministic binary payload KEYED ON
      // doc_id % 23 — groups share byte-identical payloads, so the
      // chain's media_dedup (within-frame) and media_digest_gate
      // (cross-batch store) both have real work: the random chain now
      // covers per-row byte arithmetic AND binary-payload dedup
      // composed with stateful store gates in the stream
      def withPayload(rows: Seq[(Long, String)]) = rows
        .toDF("doc_id", "text")
        .withColumn("payload",
          graft.ext.Multimodal.syntheticImagePayload(col("doc_id") % 23))
        .localCheckpoint(true)
      val b1 = withPayload(d1)
      val b2 = withPayload(d2raw ++ replays)
      val dir = graft.io.TempReaper.tempDir(s"graft-csps-dir$trial").toString
      def cfgAt(base: String): CurationConfig.PipelineDef =
        CurationConfig.parse(
          s"""{"table": "documents", "id": "doc_id", "text": "text",
            | "stages": [
            |   {"stage": "exact_dedup"},
            |   {"stage": "media_dedup", "binary": "payload"},
            |   {"stage": "media_gate", "kind": "image",
            |    "binary": "payload", "minWidth": 16, "maxWidth": 1500},
            |   {"stage": "substr_gate", "path": "$base/ss", "k": 4,
            |    "maxDupWindows": 0},
            |   {"stage": "media_digest_gate", "path": "$base/md",
            |    "binary": "payload"}]}""".stripMargin)
      val sBase = graft.io.TempReaper.tempDir(s"graft-csps-s$trial").toString
      val bBase = graft.io.TempReaper.tempDir(s"graft-csps-b$trial").toString
      val streamed = EventStream.runConfigPipeline(
        EventStream.twoFileBatchStream(b1, b2, s"csps$trial"),
        cfgAt(sBase), dir, s"csps$trial")
      def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.select("doc_id").as[Long].collect().sorted.toSeq
      val s1 = ids(streamed.filter($"batch" === 1L))
      val s2 = ids(streamed.filter($"batch" === 2L))
      val p = cfgAt(bBase)
      ids(p.applyStages(b1, dir, Some("r1"))) shouldBe s1
      ids(p.applyStages(b2, dir, Some("r2"))) shouldBe s2
      // every planted replay whose SOURCE doc survived batch 1 dropped
      // (its windows are stored by the seed round); a replay of a
      // gate-dropped source may legitimately survive — its text never
      // reached the store (the media_gate sits before the substr gate)
      val mustDrop = replaySrc
        .filter { case (_, _, src) => s1.contains(src) }.map(_._1).toSet
      mustDrop should not be empty
      s2.filter(mustDrop) shouldBe empty
      // and batch 1 survivors are exactly its post-dedup set (seed round)
      s1 should not be empty
    }
  }
}
