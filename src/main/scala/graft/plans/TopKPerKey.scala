package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.graft.Bridge

/** The whole-operator extension rung (SURVEY §2.10 U1 ladder, option (c)):
  * a custom `LogicalPlan` node planned by a custom physical strategy,
  * registered through `SparkSessionExtensions` (config-driven deployments)
  * or `spark.experimental.extraStrategies` (live sessions).
  *
  * The operator: top-k rows per key group under an ordering — the "best k
  * variants per document / nearest k per query" shape every training-data
  * pipeline runs. Users call [[GraftPlans.topKPerKey]]; the plan carries an
  * explicit [[TopKPerKey]] node through analysis and optimization (it is
  * fully resolved at construction, so the analyzer passes it untouched),
  * and [[TopKPerKeyStrategy]] plans it as the bounded-heap
  * [[TopKPerKeyExec]] pair. Owning the logical node keeps the
  * implementation in one place instead of an inlined window at every
  * call site.
  */
final case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

object GraftPlans {

  /** Top-k rows per key group under `order`; output order within a group
    * is unspecified. Registers [[TopKPerKeyStrategy]] on the session's
    * experimental strategies unless its planner already carries it (a
    * previous call, or a `GraftExtensions` deployment), so the node plans
    * on any session.
    */
  def topKPerKey(df: DataFrame, keyCols: Seq[Column], orderCols: Seq[Column],
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    spark.experimental.synchronized {
      if (!Bridge.plannerStrategies(spark).contains(TopKPerKeyStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    }
    val child = Bridge.analyzed(df)
    // bind column references against the child NOW — a hand-built node is
    // outside the Dataset API's own resolution path
    def bind(e: Expression): Expression = e.transformUp {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        val name = u.nameParts.mkString(".")
        child.output.find(_.name.equalsIgnoreCase(name)).getOrElse(
          throw new IllegalArgumentException(
            s"column $name not found in ${child.output.map(_.name).mkString(", ")}"))
    }
    val keys = keyCols.map(c => bind(Bridge.eagerExpression(c)))
    val order = orderCols.map(c => bind(Bridge.eagerExpression(c))).map {
      case s: SortOrder => s
      case e            => SortOrder(e, Ascending)
    }
    Bridge.ofRows(spark, TopKPerKey(keys, order, k, child))
  }
}
