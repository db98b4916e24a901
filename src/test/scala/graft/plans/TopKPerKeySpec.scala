package graft.plans

import graft.GraftSpec
import org.apache.spark.sql.functions._

/** Custom logical node + bounded-heap physical strategy: correctness vs the
  * inline window formulation, the heap pair planned on any session.
  */
class TopKPerKeySpec extends GraftSpec {
  import spark.implicits._

  private lazy val orders =
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  private def heapNodes(df: org.apache.spark.sql.DataFrame): Seq[TopKPerKeyExec] =
    PlanWalk.collectAll(df.queryExecution.executedPlan) {
      case t: TopKPerKeyExec => t
    }

  it("returns exactly the top-k rows per key") {
    val got = GraftPlans.topKPerKey(orders,
        Seq($"o_custkey"), Seq($"o_totalprice".desc, $"o_orderkey"), k = 2)
      .select("o_custkey", "o_orderkey")

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    val expected = orders
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
      .select("o_custkey", "o_orderkey")

    got.exceptAll(expected).count() shouldBe 0
    expected.exceptAll(got).count() shouldBe 0
  }

  it("a session with no TopKPerKey handling plans a bare topKPerKey call " +
     "as exactly the two TopKPerKeyExec nodes") {
    val (rules, strategies) =
      (spark.experimental.extraOptimizations, spark.experimental.extraStrategies)
    try {
      spark.experimental.extraOptimizations = Seq.empty
      spark.experimental.extraStrategies = Seq.empty
      val df = GraftPlans.topKPerKey(orders, Seq($"o_custkey"),
        Seq($"o_totalprice".desc, $"o_orderkey"), k = 1)
      heapNodes(df).map(_.partial).sorted shouldBe Seq(false, true)
      df.count() shouldBe orders.select("o_custkey").distinct().count()
    } finally {
      spark.experimental.extraOptimizations = rules
      spark.experimental.extraStrategies = strategies
    }
  }

  it("repeated calls register the strategy on the planner exactly once") {
    GraftPlans.topKPerKey(orders, Seq($"o_custkey"), Seq($"o_totalprice"), k = 1)
    GraftPlans.topKPerKey(orders, Seq($"o_custkey"), Seq($"o_totalprice"), k = 2)
    org.apache.spark.sql.graft.Bridge.plannerStrategies(spark)
      .count(_ == TopKPerKeyStrategy) shouldBe 1
  }

  it("physical strategy: bounded-heap TopKPerKeyExec pair around ONE " +
     "exchange, result equals the window formulation") {
    val got = GraftPlans.topKPerKey(orders,
        Seq($"o_custkey"), Seq($"o_totalprice".desc, $"o_orderkey"), k = 2)
      .select("o_custkey", "o_orderkey")
    val p = got.queryExecution.executedPlan.toString
    // partial heap (map-side, O(keys·k) forwarded) → exchange → final
    // heap (SparkPlan.nodeName strips the Exec suffix in plan strings)
    "TopKPerKey".r.findAllIn(p).size shouldBe 2
    "Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).size shouldBe 1
    p should not include "Window"
    p should not include "row_number"

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    val expected = orders
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
      .select("o_custkey", "o_orderkey")
    got.exceptAll(expected).count() shouldBe 0
    expected.exceptAll(got).count() shouldBe 0
  }

  it("physical strategy bounds partial output: the map side forwards at " +
     "most k rows per key per partition") {
    // 1000 rows, ONE key, k=3, several input partitions: the exchange
    // must move ≤ 3 rows per input partition, and the final result is 3
    val df = spark.range(1000).repartition(4)
      .select(lit(1L).as("key"), $"id".as("v"))
    val top = GraftPlans.topKPerKey(df, Seq($"key"), Seq($"v".desc), k = 3)
    top.select("v").as[Long].collect().sorted shouldBe Array(997L, 998L, 999L)
  }

  it("partial-phase flush valve: a tiny maxKeysInMemory bound still yields " +
     "exact results (flushes forward supersets, the final phase reduces)") {
    val key = "spark.graft.topk.maxKeysInMemory"
    try {
      spark.conf.set(key, "3") // force many flushes across 50 keys
      val df = spark.range(10000).repartition(4)
        .select(($"id" % 50).as("key"), $"id".as("v"))
      val top = GraftPlans.topKPerKey(df, Seq($"key"), Seq($"v".desc), k = 2)
        .select("key", "v")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy($"v".desc)
      val expected = df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2).select("key", "v")
      top.exceptAll(expected).count() shouldBe 0
      expected.exceptAll(top).count() shouldBe 0
    } finally spark.conf.unset(key)
  }

  it("a malformed or non-positive maxKeysInMemory fails naming the key") {
    val key = "spark.graft.topk.maxKeysInMemory"
    try {
      for (bad <- Seq("lots", "0")) {
        spark.conf.set(key, bad)
        val e = intercept[IllegalArgumentException] {
          GraftPlans.topKPerKey(orders, Seq($"o_custkey"),
            Seq($"o_totalprice".desc), k = 1).collect()
        }
        e.getMessage should include(key)
        e.getMessage should include(bad)
      }
    } finally spark.conf.unset(key)
  }

  it("keeps the child's full column set and schema") {
    val df = GraftPlans.topKPerKey(orders, Seq($"o_orderstatus"),
      Seq($"o_orderdate"), k = 3)
    df.schema shouldBe orders.schema
    df.groupBy("o_orderstatus").count()
      .agg(max("count")).as[Long].head() should be <= 3L
  }
}
