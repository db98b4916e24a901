package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.GraftPlans

/** Shared ranking tail for every ANN query path: reduce scored candidates
  * `(qid, vid, <score>)` to the per-query top k through the bounded-heap
  * [[graft.plans.TopKPerKeyExec]] instead of a rank window over ALL
  * candidates.
  *
  * Why: the window formulation exchanges and fully sorts every scored
  * candidate before discarding all but k per query; the heap operator's
  * partial phase forwards at most k rows per qid from each map partition, so
  * the exchange moves O(qids·k) rows regardless of candidate volume
  * (SCALE_TOPK probe: 160k vs 10M records shuffled at the same shape). At
  * 100 TB the candidate set of an ANN batch is the largest intermediate in
  * the query — this is the difference between shuffling it and not.
  *
  * Determinism: the ordering (score desc, vid asc) is TOTAL, so the heap's
  * k survivors are exactly the window's ranks 1..k — results bit-identical,
  * spec-gated per path.
  */
private[ext] object CandidateTopK {

  /** Scored candidates → top-k rows per qid (no rank column). */
  def topPerQuery(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    GraftPlans.topKPerKey(scored, Seq(col("qid")),
      Seq(col(scoreCol).desc, col("vid")), k)
  }

  /** [[topPerQuery]] plus a 1-based `rnk` column, for surfaces whose output
    * contract includes the rank. The rank window runs AFTER the heap, over
    * the O(qids·k) survivors — under the total order the survivors ARE
    * ranks 1..k, so the ranks equal ranking the full candidate set. The
    * survivors arrive already hash-clustered by qid (the heap's final phase
    * required that distribution), so the window plans with no second
    * exchange, just a per-partition sort of k-row groups.
    */
  def rankedTopPerQuery(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col(scoreCol).desc, col("vid"))
    topPerQuery(scored, scoreCol, k).withColumn("rnk", row_number().over(w))
  }
}
