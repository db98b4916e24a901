package graft.ext

import org.apache.spark.sql.DataFrame

/** The contract a persisted gate index offers an exactly-once ingest
  * loop ([[graft.streaming.EventStream.runIndexedIngest]]), in two
  * phases:
  *  1. [[gate]] answers a batch against the stored layout (excluding the
  *     batch's OWN possibly-committed append on replay) and returns an
  *     [[IngestIndex.Gated]]: the kept rows, MATERIALIZED once inside the
  *     gate's own call scope, plus the kept rows' features in the shape
  *     the store writes (NearDup shingle digests, Substr window digests,
  *     LM bigrams; the binary, semantic and probe stores keep the rows
  *     themselves);
  *  2. [[append]] writes the store's relations from those features under
  *     the batch token — a replay with the same token is a no-op. It never
  *     re-derives features from text, and the caller needs no checkpoint
  *     of its own between the phases: the kept rows no longer read the
  *     store, so appending underneath them is safe.
  *
  * Eight modalities implement it — [[NearDupIndex]] (near-duplicate
  * documents), [[SubstrIndex]] (verbatim window overlap), [[IvfStore]]
  * (semantic cosine dedup), [[NgramLmStore]] (fluency band),
  * [[QualityProbeStore]] (mean-quality gate), [[MediaDigestIndex]]
  * (byte-identical binary payloads), [[MediaSigIndex]] (near-identical
  * binary payloads) and [[MediaCdcIndex]] (payloads sharing
  * content-defined chunks) — so ONE streaming loop serves every gated
  * curation modality.
  */
trait IngestIndex {

  /** Gate `batch` with `excludeToken`'s committed append (if any)
    * invisible — the micro-batch replay view. `textCol` names the column
    * the store keys on (text, payload bytes or embedding). */
  def gate(batch: DataFrame, idCol: String, textCol: String,
      excludeToken: Option[String]): IngestIndex.Gated

  /** Append a [[gate]] answer of THIS store: under `token`, exactly once
    * (a committed manifest carrying it makes the call a no-op); with no
    * token, unconditionally. */
  def append(gated: IngestIndex.Gated, token: Option[String]): Unit

  /** Whether the store's FIRST committed manifest carries `token` — i.e.
    * the run that minted this token SEEDED the store. A build-if-absent
    * caller ([[graft.plan.CurationConfig]]'s gate stages) that crashed
    * after its seed build uses this on rerun to recognize the store as
    * its own seed (every row of the batch was kept) instead of gating
    * the batch against a store that already contains it — which would
    * silently emit an empty result from a dedup gate and double-fold a
    * statistics gate. */
  def seededBy(token: String): Boolean
}

object IngestIndex {

  /** One [[IngestIndex.gate]] answer: `kept`, the surviving rows (batch
    * schema, materialized), and the store-shaped `features` of exactly
    * those rows, which only the gating store's [[IngestIndex.append]]
    * reads. */
  final class Gated private[ext] (val kept: DataFrame,
      private[ext] val features: DataFrame, private[ext] val idCol: String,
      private[ext] val textCol: String, private[ext] val store: String) {

    /** Refuse an answer another store produced: its features have that
      * store's shape. */
    private[ext] def requireFrom(path: String): Unit =
      require(store == path,
        s"a gate answer of the store at $store cannot be appended to $path")
  }

  /** An id collected to the driver as a key that compares by value: a
    * binary id (an array, equal only to itself) becomes a buffer over
    * its bytes. */
  private[ext] def idKey(id: Any): Any = id match {
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case other => other
  }

  /** The answer of a store whose append writes the kept rows themselves:
    * the rows, checkpointed, are also the features. */
  private[ext] def ofRows(store: String, kept: DataFrame, idCol: String,
      textCol: String): Gated = {
    val rows = kept.localCheckpoint(eager = true)
    new Gated(rows, rows, idCol, textCol, store)
  }
}
