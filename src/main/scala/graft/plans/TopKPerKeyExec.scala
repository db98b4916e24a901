package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** The deepest rung of the §2.10 extension ladder: the PHYSICAL operator
  * for [[TopKPerKey]], planned by [[TopKPerKeyStrategy]] — the node's only
  * implementation.
  *
  * Why a bounded heap beats a rank window at scale: the window formulation
  * sorts every group entirely (full `Exchange` + `Sort` of ALL rows, then
  * discards everything past rank k), while this operator keeps only k rows
  * per key at every stage. The `partial = true` instance runs before the
  * shuffle — each map partition forwards at most k rows per key it has
  * seen, the exact analogue of map-side partial aggregation — so the
  * exchange moves O(keys·k) rows instead of O(input). The final instance
  * (`requiredChildDistribution = ClusteredDistribution(keys)`; Spark's
  * `EnsureRequirements` inserts the hash exchange automatically) merges the
  * per-partition survivors to the exact per-key top k. Results equal the
  * window formulation whenever the ordering is total (spec-gated on dq57's
  * shape); output order within a group is unspecified, as with any
  * aggregation.
  */
case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else if (keys.isEmpty) Seq(AllTuples)
    else Seq(ClusteredDistribution(keys))

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    // memory bound for the PARTIAL phase: the map side sees arbitrary key
    // cardinality, so when the heap map exceeds this many keys it is
    // flushed downstream and restarted. Flushing early from the partial
    // phase only ever forwards a SUPERSET per key — the final phase still
    // reduces exactly — so correctness is unaffected (the same
    // safety-valve shape as Spark's hash-aggregate fallback). The final
    // phase is key-clustered, so its per-partition key count is already
    // 1/numPartitions of the total and is not flushed. Read (strictly, ≥ 1)
    // from spark.graft.topk.maxKeysInMemory on the driver at execution time.
    val maxKeys =
      if (!partial) Int.MaxValue
      else graft.ext.IndexConf.strictInt(session,
        "spark.graft.topk.maxKeysInMemory", default = 100000, min = 1)
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keys, child.output)
      val ord = RowOrdering.create(order, child.output)
      // max-heap per key under the sort order: head = worst retained row, so
      // a better (earlier-sorting) arrival evicts it in O(log k)
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      def drain(): Iterator[InternalRow] = {
        val out = heaps.values.flatten.toArray
        heaps.clear()
        out.iterator
      }
      val flushed = iter.flatMap { row =>
        // probe with the reused projection row; copy the key ONLY on first
        // sight of it (getOrElseUpdate would copy on every input row)
        val probe = keyProj(row)
        val heap = heaps.get(probe) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](ord)
            heaps.put(probe.copy(), h)
            h
        }
        if (heap.size < k) heap.enqueue(row.copy())
        else if (ord.lt(row, heap.head)) {
          heap.dequeue()
          heap.enqueue(row.copy())
        }
        if (heaps.size > maxKeys) drain() else Iterator.empty
      }
      flushed ++ drain()
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Plans [[TopKPerKey]] as partial-heap → (exchange, inserted by
  * EnsureRequirements) → final-heap. [[GraftPlans.topKPerKey]] registers
  * it on the session; `GraftExtensions` injects it for config-driven
  * deployments.
  */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}
