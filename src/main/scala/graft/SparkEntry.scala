package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plan.{FieldOrdering, MappingNode, Translator}
import graft.plan.MappingNode.{Constant, Message, Scalar}
import graft.ext.{Ann, AsOfJoin, Bm25, ConnectedComponents, Decontamination, Dedup, IvfIndex, MinHashLSH, Multimodal, RangeJoin, Sampling, SimHash, TextAnalysis}
import graft.io.EventTime
import graft.streaming.EventStream
import graft.functions.VectorFunctions

/** Driver contract — declared queries (SURVEY.md §2.11) + DuckDB oracles.
  *
  * Conventions shared by every query/oracle pair (the driver hash-compares
  * after sorting columns by NAME, so names must match exactly on both sides):
  *  - every aggregate/computed column is aliased identically in Spark and SQL
  *  - every query ends with an ORDER BY on a unique key
  *  - timestamps are rendered as formatted strings (engine-portable hashing;
  *    also faithful to the reference, where dates are GAQL ISO strings —
  *    SURVEY §2.8)
  *  - double SUMs over many rows go through DECIMAL(18,6) so the result is
  *    addition-order independent (Spark partial aggregation vs DuckDB
  *    sequential scan would otherwise diverge in the last float bits)
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // make the queries safe under ANY caller-provided session, not just
    // GraftSession (both are runtime-settable confs):
    //  - if events.ts is parquet TIMESTAMP(NANOS) (legacy testdata unit),
    //    read it as long nanos instead of throwing; a no-op for the
    //    current TIMESTAMP(MICROS) unit (EventTime detects the scanned
    //    type either way)
    //  - timestamp rendering (date_format/window) must match the UTC oracle
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val df = s.read.parquet(s"$dir/$name.parquet")
    // fail fast (naming the regeneration) if a silent testdata regen
    // changed a physical shape the kernels bake in — the EventTime
    // lesson, generalized (footer-only: no data is read here)
    graft.io.SchemaGuard.check(name, df.schema)
    df
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's full production pipeline shape
    * (CampaignCriterionStructureReport.scala:48-51 + Main.scala:148-195):
    * server-side WHERE (pushed-down filter) → nested projection with pruning
    * → lifted id columns → metadata struct of constants + a report date →
    * id-first/metadata-last column ordering.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val shaped = t(spark, dir, "orders")
      .filter(col("o_orderdate").between(lit("1996-01-01"), lit("1996-12-31"))
        && col("o_totalprice") > 0)
      .select(
        col("o_orderkey"), col("o_custkey"),
        struct(col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"),
          col("o_totalprice").as("totalprice")).as("info"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("report_date_src"))
    Translator(
      List("info.status", "info.totalprice"),
      userDefinedMappings = List(
        "order_id"    -> Scalar("o_orderkey"),
        "customer_id" -> Scalar("o_custkey"),
        metadataNode(DownloadDate)),
      ordering = FieldOrdering.idFirst(List("order_id", "customer_id"))
    )(shaped)
  }

  // ---------------------------------------------------------------- shaping
  // The reference consumes an already-nested proto row; the testdata is flat
  // TPC-H. Each query first shapes a nested frame (the "descriptor"), then
  // exercises the library on it.

  /** customer rows nested as customer{custkey, mktsegment, name} + acctbal. */
  private def nestedCustomer(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(
      struct(
        col("c_custkey").as("custkey"),
        col("c_name").as("name"),
        col("c_mktsegment").as("mktsegment")
      ).as("customer"),
      col("c_acctbal"))

  /** orders with an info{} struct and sibling columns to prune. */
  private def nestedOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"),
      struct(
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("orderdate"),
        col("o_orderpriority").as("priority"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("totalprice")
      ).as("info"),
      col("o_custkey"))

  private def metadataNode(downloadDate: String): (String, MappingNode) =
    "metadata" -> Message("metadata", Seq(
      "author"        -> Constant(StringType, "Ben"),
      "download_date" -> Constant(StringType, downloadDate),
      "report_date"   -> Scalar("report_date_src")
    ))

  private val DownloadDate = "2026-08-12" // fixed literal — never now()

  // ---------------------------------------------------------------- queries

  /** Struct-valued output columns rendered as compact JSON strings for the
    * driver compare (its canonicalizer sorts rows with pandas, which cannot
    * order struct/dict cells). The JSON still encodes the full nested shape
    * — field names, order, and pruning — so a projection regression (e.g. an
    * unpruned sibling field) changes the string and fails the hash. */
  private def jsonified(df: DataFrame, structCols: String*): DataFrame =
    df.select(df.columns.map(c =>
      if (structCols.contains(c)) to_json(col(c)).as(c) else col(c)).toIndexedSeq: _*)

  /** DQ1 (P1): path projection — keep exactly customer.{custkey,name},
    * pruning mktsegment inside the struct and acctbal beside it. */
  private def q01(s: SparkSession, dir: String): DataFrame =
    jsonified(
      Translator(List("customer.custkey", "customer.name"))(nestedCustomer(s, dir))
        .withColumn("custkey", col("customer.custkey")),
      "customer")
      .orderBy("custkey")

  /** DQ2 (P1/P2): a path ending at a struct keeps the whole subtree. */
  private def q02(s: SparkSession, dir: String): DataFrame =
    jsonified(Translator(List("o_orderkey", "info"))(nestedOrders(s, dir)), "info")
      .orderBy("o_orderkey")

  /** DQ3 (P4): scalar flattening — lift customer.custkey to top level. */
  private def q03(s: SparkSession, dir: String): DataFrame =
    jsonified(
      Translator(
        List("customer.custkey", "customer.name"),
        userDefinedMappings = List("customer_id" -> Scalar("customer.custkey"))
      )(nestedCustomer(s, dir)),
      "customer")
      .orderBy("customer_id")

  /** DQ4 (P5): constant columns (mirrors ProtoToAvroMappingTest.scala:61-62). */
  private def q04(s: SparkSession, dir: String): DataFrame =
    Translator(
      List("n_nationkey", "n_name"),
      userDefinedMappings = List(
        "author"   -> Constant(StringType, "Ben"),
        "test_run" -> Constant(IntegerType, 1))
    )(t(s, dir, "nation")).orderBy("n_nationkey")

  /** DQ5 (P6): struct construction from constants + a lifted column
    * (mirrors Main.scala:175-185). */
  private def q05(s: SparkSession, dir: String): DataFrame = {
    val shaped = t(s, dir, "orders").select(
      col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("report_date_src"))
    jsonified(
      Translator(List("o_orderkey"), userDefinedMappings = List(metadataNode(DownloadDate)))(shaped),
      "metadata")
      .orderBy("o_orderkey")
  }

  /** DQ6 (P7): the GAQL WHERE shape — date BETWEEN + numeric comparison
    * (CampaignCriterionStructureReport.scala:49-51). Both predicates push
    * down to the parquet scan. */
  private def q06(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate").between(lit("1996-01-01"), lit("1996-02-01"))
        && col("l_quantity") > 0)
      .transform(Translator(List("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")).apply)
      .orderBy("l_orderkey", "l_linenumber")

  /** DQ7 (P8): proto null/default semantics — empty string → null,
    * unset numeric → zero-default. */
  private def q07(s: SparkSession, dir: String): DataFrame =
    Translator(List("event_id", "props", "value"))(t(s, dir, "events"))
      .orderBy("event_id")

  /** DQ8 (P9): enum-as-symbol-string passthrough. */
  private def q08(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select("o_orderstatus").distinct().orderBy("o_orderstatus")

  /** DQ9 (O1/O2): id-first / metadata-last top-level ordering
    * (Main.scala:148-168) over lifted ids + metadata struct. */
  private def q09FieldOrdering(s: SparkSession, dir: String): DataFrame = {
    val shaped = t(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("report_date_src"))
    // jsonified preserves the translator's column order (ids first,
    // metadata last) — the ordering itself is additionally unit-tested,
    // since the driver compare sorts columns by name before hashing
    jsonified(
      Translator(
        List("o_totalprice"),
        userDefinedMappings = List(
          "order_id"    -> Scalar("o_orderkey"),
          "customer_id" -> Scalar("o_custkey"),
          metadataNode(DownloadDate)),
        ordering = FieldOrdering.idFirst(List("order_id", "customer_id"))
      )(shaped),
      "metadata")
      .orderBy("order_id")
  }

  /** DQ10 (S4): Avro-style JSON encoding of a projected struct. */
  private def q10(s: SparkSession, dir: String): DataFrame =
    Translator(List("customer.custkey", "customer.name"))(nestedCustomer(s, dir))
      .select(
        col("customer.custkey").as("c_custkey"),
        to_json(col("customer")).as("customer_json"))
      .orderBy("c_custkey")

  /** DQ11 (EXT): equi-join on the lifted id — the downstream join the P4
    * design enables. Shuffle hash/SMJ on the key; AQE may broadcast the
    * smaller side at runtime. */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("o_orderkey"), col("c_custkey").as("customer_id"),
        col("c_name"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** DQ12 (EXT): TPC-H Q1 core. Decimal-typed SUM for addition-order
    * independence; partial (map-side) aggregation is automatic. */
  private def q12(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast(DoubleType).as("revenue"),
        sum(col("l_quantity").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_qty"),
        (sum(col("l_quantity").cast(DecimalType(18, 6))).cast(DoubleType) / count(lit(1)))
          .as("avg_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  /** DQ13 (EXT): exact dedup keeping the min-event_id row per
    * (user_id, event_type) — deterministic survivor, one shuffle. */
  private def q13(s: SparkSession, dir: String): DataFrame =
    Dedup.keepFirst(t(s, dir, "events"), Seq("user_id", "event_type"), col("event_id"))
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("user_id", "event_type")

  /** DQ14 (EXT): brute-force cosine top-k vs the vec_id=1 query vector.
    * The 1-row query side is broadcast; ORDER BY+LIMIT compiles to
    * TakeOrderedAndProject (no global sort) — the pattern that survives a
    * 100 TB scan. */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 1).select(col("embedding").as("qv"))
    e.filter(col("vec_id") =!= 1)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), VectorFunctions.cosine(col("embedding"), col("qv")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** DQ15 (EXT): token counting — lower → split \W+ → explode → count. */
  private def q15(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  /** DQ16 (EXT): n-gram-heuristic language ID — per-language doc counts. */
  private def q16(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(TextAnalysis.tokens(col("text")).as("toks")) // tokenize once
      .select(TextAnalysis.languageIdFrom(col("toks")).as("lang_pred"))
      .groupBy("lang_pred").agg(count(lit(1)).as("n"))
      .orderBy("lang_pred")

  /** DQ17 (EXT): quality-score components per document — pure arithmetic,
    * shuffle-free, codegen'd. */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val cols = TextAnalysis.qualityColumnsFrom(col("text"), col("toks"))
      .map { case (n, c) => c.as(n) }
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id") +: cols: _*)
      .orderBy("doc_id")
  }

  /** DQ18 (EXT): canonical md5 document fingerprint (rolling-hash stand-in;
    * 32 hex chars shuffle instead of document bodies). */
  private def q18(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** DQ19 (EXT): MinHash+LSH near-dup pairs, exact-Jaccard-verified.
    * Banded signature join — candidates only, never N². */
  private def q19(s: SparkSession, dir: String): DataFrame =
    MinHashLSH.nearDupPairs(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 16, bands = 4, threshold = 0.8)
      .orderBy("doc_a", "doc_b")

  /** DQ20 (EXT): frequency-weighted 64-bit SimHash near-dup pairs
    * (hamming ≤ 3) via pigeonhole banding. */
  private def q20(s: SparkSession, dir: String): DataFrame =
    SimHash.nearDupPairs(t(s, dir, "documents"), "doc_id", "text",
        bits = 64, bands = 4, maxHamming = 3)
      .orderBy("doc_a", "doc_b")

  /** DQ21 (EXT): character-4-gram Jaccard near-dups within source groups —
    * through `ext.AllPairs` prefix filtering (WWW'07), which is LOSSLESS:
    * the result is identical to the brute-force within-group self-join the
    * oracle computes, but the pair space is candidates-sharing-a-rare-token
    * instead of O(group²) — group sizes here grow linearly with the corpus,
    * so the plain self-join is the scale-killer this replaces. */
  private def q21(s: SparkSession, dir: String): DataFrame = {
    // shingle sets sorted once for the zero-allocation two-pointer jaccard
    // (primitive ints); cached only for the call (consumed by the candidate
    // generator and both verification sides), released on return
    val d = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("source"),
        sort_array(TextAnalysis.packedCharShingles(col("text"), 4)).as("sh"))
    graft.ext.CacheScope.withCached(d) {
      graft.ext.AllPairs.jaccardPairsAdaptive(d, "doc_id", "sh", Seq("source"), 0.5)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jac"))
    }.orderBy("doc_a", "doc_b")
  }

  /** DQ22 (EXT): embedding near-dup pairs via IVF-style sign-bucket cells +
    * in-cell cosine. */
  private def q22(s: SparkSession, dir: String): DataFrame =
    Ann.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        dims = 4, threshold = 0.4)
      .orderBy("vec_a", "vec_b")

  /** DQ23 (EXT): approximate top-5 neighbors for query vectors 1..3,
    * probing only each query's own cell. */
  private def q23(s: SparkSession, dir: String): DataFrame =
    Ann.annTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryIds = Seq(1L, 2L, 3L), k = 5, dims = 4)
      .orderBy("qid", "rnk")

  /** DQ24 (EXT): multimodal plumbing — binary payload column through the
    * mapPartitions decode stub; features must match pure-SQL byte math. */
  private def q24(s: SparkSession, dir: String): DataFrame =
    Multimodal.featuresOf(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** DQ25 (EXT): Structured Streaming windowed aggregation — hourly tumbling
    * counts per event_type, run to completion via availableNow, checked
    * against batch SQL (stream/batch parity). */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    val res = EventStream.runToTable(
      EventStream.hourlyTypeCounts(EventStream.readEvents(s, dir)),
      "q25_hourly", org.apache.spark.sql.streaming.OutputMode.Complete())
    res.orderBy("window_start", "event_type")
  }

  /** DQ26 (EXT): flatMapGroupsWithState sessionization (10-min gap),
    * checked against a gaps-and-islands batch oracle. */
  private def q26(s: SparkSession, dir: String): DataFrame = {
    val res = EventStream.runToTable(
      EventStream.sessionize(EventStream.readEvents(s, dir), gapMinutes = 10).toDF(),
      "q26_sessions", org.apache.spark.sql.streaming.OutputMode.Append())
    res.orderBy("user_id", "session_start")
  }

  /** DQ27 (EXT, §2.5): window function — per-customer running revenue in
    * event order. One shuffle on the partition key; state is the frame. */
  private def q27(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // DECIMAL accumulation: window-sum association differs across engines
    // on doubles (segment trees reassociate); decimal addition doesn't care
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast(DecimalType(18, 6))).over(w)
          .cast(DoubleType).as("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** DQ28 (EXT, §2.7): set operation — customers active in 1995 but not in
    * 1996 (EXCEPT = left-anti on distinct keys). */
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    def custsIn(y: Int) =
      o.filter(year(col("o_orderdate")) === y).select(col("o_custkey")).distinct()
    custsIn(1995).except(custsIn(1996)).orderBy("o_custkey")
  }

  /** DQ29 (EXT, §2.4): distinct-count aggregation per dimension — exact
    * (partial-aggregated); `approx_count_distinct` (HLL) is unit-tested
    * instead, since sketches don't hash-match across engines. */
  private def q29(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** DQ30 (EXT): multi-probe ANN — own cell + hamming-1 neighbor cells,
    * recall beyond dq23 at a bounded extra probe cost. */
  private def q30(s: SparkSession, dir: String): DataFrame =
    Ann.annTopKMultiProbe(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryIds = Seq(1L, 2L, 3L), k = 5, dims = 4)
      .orderBy("qid", "rnk")

  /** DQ31 (EXT): streaming dedup — dropDuplicates state over the stream,
    * then order-independent distinct-key counts per type. */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    val res = EventStream.runToTable(
      EventStream.dedupCounts(EventStream.readEvents(s, dir)),
      "q31_dedup", org.apache.spark.sql.streaming.OutputMode.Complete())
    res.orderBy("event_type")
  }

  /** DQ32 (EXT, §2.3): left-anti join — customers with no 1995 orders. */
  private def q32(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(year(col("o_orderdate")) === 1995),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** DQ33 (EXT, §2.3): left outer join + aggregation — order counts per
    * customer including order-less customers (count of a null-keyed group
    * is 0). */
  private def q33(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 6))).cast(DoubleType).as("total_spent"))
      .orderBy("c_custkey")

  /** DQ34 (EXT, §2.4): ROLLUP grouping sets — revenue subtotals at
    * (flag, status), (flag), and grand-total levels. NULLS FIRST ordering
    * pinned on both engines (Spark's asc default; DuckDB needs it explicit). */
  private def q34(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** DQ35 (EXT): pivot — yearly order counts spread over status columns.
    * Explicit pivot values keep the output schema static (plan-time, no
    * value-discovery scan); the oracle is the conditional-aggregation form
    * pivot compiles to. */
  private def q35(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(year(col("o_orderdate")).as("yr"), col("o_orderstatus"))
      .groupBy("yr")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("yr")

  /** DQ36 (EXT): JSON property extraction — parse events.props and
    * aggregate by the extracted key (empty string → null, skipped). */
  private def q36(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
      .filter(col("k").isNotNull)
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy("k")

  /** DQ37 (EXT): as-of join — each click attributed to the user's most
    * recent prior (or simultaneous) purchase; one shuffle via the
    * union+running-window formulation (ext.AsOfJoin). */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    // canonical epoch-micros ts on both sides, whatever unit the parquet
    // scans as (oracle side: DuckDB epoch_us over its native timestamp)
    val ev = EventTime.withTsMicros(t(s, dir, "events"))
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value")
    AsOfJoin.backward(clicks, purchases, "user_id", "ts", "ts", "value")
      .select(col("event_id"), col("user_id"), col("asof_value"),
        ((col("ts") - col("asof_time")) / 1000000.0).as("gap_sec"))
      .orderBy("event_id")
  }

  /** DQ38 (EXT): range join — lineitems matched to quantity bands via the
    * bucketed equi-join (ext.RangeJoin), never a nested-loop inequality
    * join. Revenue per band. */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    val bands = s.range(5).toDF("band_id")
      .select(col("band_id"),
        (col("band_id") * 10 + 1).cast(DoubleType).as("lo"),
        (col("band_id") * 10 + 11).cast(DoubleType).as("hi"))
    RangeJoin.pointInRange(
        t(s, dir, "lineitem").select(col("l_quantity"), col("l_extendedprice")),
        "l_quantity", bands, "lo", "hi", bucketWidth = 10.0)
      .groupBy("band_id")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(18, 6))).cast(DoubleType).as("revenue"))
      .orderBy("band_id")
  }

  /** DQ39 (EXT, §2.3): left-semi join — customers having at least one
    * high-value order. The semi join shuffles only the key column of the
    * probe side and never duplicates matches. */
  private def q39(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** DQ40 (EXT, §2.7): INTERSECT — customers active in both 1995 and 1996
    * (dq28's EXCEPT complement; distinct + hash semi join underneath). */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    def custsIn(y: Int) =
      o.filter(year(col("o_orderdate")) === y).select(col("o_custkey")).distinct()
    custsIn(1995).intersect(custsIn(1996)).orderBy("o_custkey")
  }

  /** DQ41 (EXT, §2.4): CUBE grouping sets — all four aggregation levels of
    * (flag, status) in one pass (partial-aggregated expand). */
  private def q41(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** DQ42 (EXT, §2.4): exact percentiles — median and p90 of quantity per
    * return flag (sort-based exact percentile; `approx_percentile` is the
    * sketch alternative, unit-tested instead since sketches don't
    * hash-match across engines). */
  private def q42(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"))
      .orderBy("l_returnflag")

  /** DQ43 (EXT, §2.8): ordered string aggregation — deterministic
    * comma-joined distinct year list per order priority (collect_set is
    * unordered by design; the explicit array_sort pins the result). */
  private def q43(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        array_join(array_sort(collect_set(year(col("o_orderdate")).cast(StringType))), ",")
          .as("years"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** DQ44 (EXT, §2.9): stream-static join — the streaming event feed
    * enriched against the static customer dimension (broadcast; no state,
    * re-planned per micro-batch), aggregated per market segment. */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("mktsegment"))
    val joined = EventStream.readEvents(s, dir)
      .join(broadcast(cust), "user_id")
      .groupBy("mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
    EventStream.runToTable(joined, "q44_enriched",
      org.apache.spark.sql.streaming.OutputMode.Complete())
      .orderBy("mktsegment")
  }

  /** DQ45 (EXT): dedup clustering — connected components over the MinHash
    * near-dup pair graph (dq19's output), labeling every document with the
    * min doc_id of its duplicate group: the step that turns PAIRS into the
    * keep-one-per-group decision a dedup pipeline actually needs. */
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val pairs = MinHashLSH.nearDupPairs(t(s, dir, "documents"), "doc_id", "text",
      numHashes = 16, bands = 4, threshold = 0.8)
    ConnectedComponents.run(pairs, "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** DQ46 (EXT, §2.9): built-in `session_window` sessionization — the
    * declarative complement to dq26's flatMapGroupsWithState: Catalyst
    * merges overlapping [t, t+gap) windows in the state store. Complete
    * mode re-emits the final state of every session, so the availableNow
    * run's last batch IS the full batch-parity answer. (Boundary: a gap of
    * EXACTLY 10 min starts a new session — [t, t+gap) is half-open — hence
    * `>=` in the oracle, where dq26's fold uses `>`.) */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val sess = EventStream.readEvents(s, dir)
      .withWatermark("event_time", "1 hour")
      .groupBy(col("user_id"), session_window(col("event_time"), "10 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"))
    EventStream.runToTable(sess, "q46_sessions",
      org.apache.spark.sql.streaming.OutputMode.Complete())
      .orderBy("user_id", "session_start")
  }

  /** DQ47 (EXT): the complete near-dup dedup pipeline — detector pairs →
    * transitive closure → keep ONE representative (min id) per duplicate
    * group plus all unpaired documents (`ext.Dedup.keepCanonical`). */
  private def q47(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = MinHashLSH.nearDupPairs(docs, "doc_id", "text",
      numHashes = 16, bands = 4, threshold = 0.8)
    Dedup.keepCanonical(docs, "doc_id", pairs)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** DQ48 (EXT, §2.4): GROUPING SETS beyond rollup/cube — two disjoint
    * single-column groupings in one pass, through the `spark.sql` entry
    * point (the SQL surface of the same Catalyst Expand operator). */
  private def q48(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql("""SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n
      |FROM lineitem_v GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""
      .stripMargin)
  }

  /** DQ49 (EXT, §2.9): stream-stream interval join — each click joined to
    * the same user's purchases within the preceding hour; watermarks bound
    * both join-state buffers (state eviction = watermark − interval).
    * availableNow delivers in one batch, so the append-mode output is the
    * complete interval-join answer the batch oracle computes. */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val clicks = EventStream.readEvents(s, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", "1 hour")
    val purchases = EventStream.readEvents(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_time").as("p_time"),
        col("value"))
      .withWatermark("p_time", "1 hour")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_time") <= col("click_time") &&
        col("p_time") >= col("click_time") - expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("user_id"),
        unix_micros(col("p_time")).as("p_us"), col("value").as("p_value"))
    EventStream.runToTable(joined, "q49_attrib",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("click_id", "p_us", "p_value")
  }

  /** DQ50 (EXT, §2.10): custom TypedImperativeAggregate — per-cell embedding
    * centroids via `functions.VectorSumMicros`: one long[dim] buffer per
    * group folds vectors in place map-side (no posexplode row blowup), and
    * integer micro-unit accumulation is associative, so the result is
    * identical under any partial-aggregation tree and in the oracle. */
  private def q50(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(Ann.signBucket(col("embedding"), dims = 4).as("bucket"),
        col("embedding"))
      .groupBy("bucket")
      .agg(graft.functions.VectorSumMicros.of(col("embedding")).as("ms"),
        count(lit(1)).as("n"))
      .select(col("bucket"), col("n"), posexplode(col("ms")).as(Seq("pos", "m")))
      .select(col("bucket"), (col("pos") + 1).as("d"),
        ((col("m") / lit(1000000.0)) / col("n")).as("centroid"))
      .orderBy("bucket", "d")

  /** DQ51 (EXT): trained-centroid IVF ANN (`ext.IvfIndex`) — deterministic
    * Lloyd's cells (seeded-hash init, micro-unit centroid arithmetic) +
    * batched nprobe search for query vectors 1..3 in ONE job
    * (`IvfIndex.queryAll`: probe cells ranked against the centroid literal,
    * no per-query driver round-trip). Every arithmetic step is
    * engine-reproducible, so the DuckDB oracle derives identical centroids
    * and the full rows/schema/hash check applies. */
  private def q51(s: SparkSession, dir: String): DataFrame = {
    val index = IvfIndex.fit(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 8, iters = 2)
    try index.queryAll(Seq(1L, 2L, 3L), topK = 5, nprobe = 2)
      .orderBy("qid", "vid")
      .localCheckpoint(true) // materialize before releasing the index cache
    finally index.release()
  }

  /** DQ52 (EXT, §2.3 scale note): bucketed co-located join — both sides
    * written bucketed by the join key (io.Bucketing), so the sort-merge
    * join reads bucket-aligned splits with NO exchange on either side; the
    * result must equal the plain join the oracle computes. */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    io.Bucketing.writeBucketed(t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice"), "dq52_orders", "o_custkey", 8)
    io.Bucketing.writeBucketed(t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment"), "dq52_customer", "c_custkey", 8)
    io.Bucketing.colocatedJoin(s, "dq52_orders", "dq52_customer",
        "o_custkey", "c_custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 6))).cast(DoubleType).as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** DQ53 (EXT): character-diversity quality signal — letter-frequency Gini
    * impurity per document (`ext.TextAnalysis.charDiversity`; Gini, not
    * Shannon: `ln` isn't bit-identical across engines, +,×,÷ are). */
  private def q53(s: SparkSession, dir: String): DataFrame = {
    val (n, gini) = TextAnalysis.charDiversity(col("text"))
    // no repartition: the LetterGini kernel made per-row work one byte
    // loop, so the old "spread the 26 translate-scans off the single row
    // group" shuffle costs more than it buys (0.22s without vs 0.47s with)
    t(s, dir, "documents")
      .select(col("doc_id"), n.as("n_letters"), gini.as("char_gini"))
      .orderBy("doc_id")
  }

  /** DQ54 (EXT, §2.3): skew-salted join through the gate — the salted
    * (key, salt) equi-join must produce exactly the plain join's rows. */
  private def q54(s: SparkSession, dir: String): DataFrame =
    graft.ext.SaltedJoin.inner(
        t(s, dir, "orders"), t(s, dir, "customer"),
        "o_custkey", "c_custkey", saltBuckets = 8,
        saltCols = Seq("o_orderkey")) // PK salt: narrow hash, full spread
      .select("o_orderkey", "c_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** DQ55 (EXT): Bloom-pruned join through the gate — pruning may pass
    * false positives but never drops a true match, so after the real join
    * the result equals the plain join exactly. */
  private def q55(s: SparkSession, dir: String): DataFrame = {
    val hot = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
    graft.ext.BloomPrune.prunedJoin(
        t(s, dir, "orders"), hot, "o_custkey", "c_custkey", expectedItems = 1000)
      .select("o_orderkey", "c_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** DQ56 (EXT): skew-salted dedup through the gate — two-phase salted
    * keepFirst equals single-phase keepFirst when the order key is unique
    * (event_id is), so dq13's oracle applies verbatim. */
  private def q56(s: SparkSession, dir: String): DataFrame =
    Dedup.keepFirstSalted(t(s, dir, "events"), Seq("user_id", "event_type"),
        col("event_id"), saltBuckets = 8)
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("user_id", "event_type")

  /** DQ57 (EXT, §2.10 ladder (c), full depth): the custom `TopKPerKey`
    * LogicalPlan node planned by its bounded-heap strategy
    * (`plans.TopKPerKeyExec`: partial per-partition heaps → one hash
    * exchange moving O(keys·k) rows → final heaps; no full sort) — top-2
    * orders by price per customer must match the rank-window SQL
    * oracle. */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftPlans.topKPerKey(
        t(s, dir, "orders"),
        Seq(col("o_custkey")), Seq(col("o_totalprice").desc, col("o_orderkey")), k = 2)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** DQ58 (EXT): hash-gate train/validation/test split (`ext.Sampling`) —
    * membership is a pure function of the KEY (portable md5 gate), so the
    * same document lands in the same split under any layout, cluster width,
    * or engine; the oracle re-derives every label independently. Also
    * aggregates per-split × per-source counts (the stratification report a
    * curation pipeline actually reads). */
  private def q58(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        graft.ext.Sampling.splitLabelPortable(col("doc_id"), 0.8, 0.1).as("split"))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"))
      .orderBy("split", "source")

  /** DQ59 (EXT, §2.6 scale note): dynamic partition pruning over a
    * hive-partitioned layout (`io.Layout.partitionedWrite`). The fact table
    * is re-laid-out partitioned by order month; the query filters a derived
    * month DIMENSION on an attribute (quarter) and joins on the partition
    * column. Catalyst's DPP turns the broadcast dim into a runtime partition
    * filter on the fact scan — at 100 TB the scan reads 3 of ~80 month
    * directories instead of all of them. `PlanAuditSpec` asserts the
    * `dynamicpruning` expression in the executed plan's PartitionFilters. */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "orders")
    // one layout per source dir; the fingerprint sidecar makes the rewrite
    // once-per-input (lay out once, query many), not once-per-run
    val path = s.conf.getOption("spark.local.dir").getOrElse("/tmp") +
      "/graft_dq59_orders_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    io.Layout.partitionedWriteCached(
      raw.select(col("o_orderkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("o_month")),
      path, "o_month")
    val fact = s.read.parquet(path)
    val dim = raw.select(
        date_format(col("o_orderdate"), "yyyy-MM").as("d_month"),
        concat(year(col("o_orderdate")), lit("-Q"),
          quarter(col("o_orderdate"))).as("d_quarter"))
      .distinct()
    // explicit broadcast: DPP (reuseBroadcastOnly mode, the default) only
    // inserts the runtime filter when the dim side is STATICALLY planned as
    // a broadcast — a distinct-aggregate's unknown stats would otherwise
    // pick SMJ at plan time and forfeit the pruning even if AQE later
    // broadcasts it
    fact.join(broadcast(dim.filter(col("d_quarter") === "1996-Q2")),
        col("o_month") === col("d_month"))
      .groupBy("o_month")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 6))).cast(DoubleType).as("revenue"))
      .orderBy("o_month")
  }

  /** DQ60 (EXT): int8 scalar-quantized similarity search
    * (`ext.QuantizedAnn`) — 4× fewer scan/shuffle bytes than float32 and an
    * integer scoring kernel; quantization and scoring are bit-exactly
    * engine-reproducible (portable round-half-up), so the full hash oracle
    * applies where float cosine would drift. */
  private def q60(s: SparkSession, dir: String): DataFrame =
    graft.ext.QuantizedAnn.topK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryIds = Seq(1L, 2L, 3L), k = 5)
      .orderBy("qid", "rnk")

  /** DQ61 (§2.7): unpivot/melt — the inverse of dq35's pivot. A wide
    * per-segment aggregate row becomes (segment, metric, value) long form
    * via the native `Dataset.unpivot` (no UDF, no explode-of-struct). */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir, "customer")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).cast(DoubleType).as("n_customers"),
        sum(col("c_acctbal").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_acctbal"),
        min(col("c_acctbal")).as("min_acctbal"),
        max(col("c_acctbal")).as("max_acctbal"))
    wide.unpivot(
        Array(col("c_mktsegment")),
        Array(col("n_customers"), col("sum_acctbal"),
          col("min_acctbal"), col("max_acctbal")),
        "metric", "value")
      .orderBy("c_mktsegment", "metric")
  }

  /** DQ62 (EXT): the composed curation pipeline a training-data run
    * actually executes, end to end in ONE declarative plan: quality-score
    * filter (dq17's arithmetic) → exact content dedup (sha-256 of the
    * body, smallest doc_id survives — shuffles digests, not documents) →
    * portable hash-gate split labels (dq58's gate) → stratified per-split ×
    * per-source report. Every stage is an already-verified operator; this
    * query locks their COMPOSITION (and its oracle re-derives all four
    * stages independently in SQL). */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val qs = TextAnalysis.qualityColumns(col("text")).toMap.apply("quality_score")
    val kept = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"), qs.as("q"))
      .filter(col("q") >= 0.5)
    Dedup.exactByContent(kept, "text", "doc_id")
      .select(col("source"),
        graft.ext.Sampling.splitLabelPortable(col("doc_id"), 0.8, 0.1).as("split"),
        col("q"), col("doc_id"))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n"),
        sum(col("q").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_q"),
        min("doc_id").as("min_doc"))
      .orderBy("split", "source")
  }

  /** DQ63 (EXT, §2.6 scale note): selective band query over the Z-ORDERED
    * layout (`io.Layout.zorderWriteCached`) — both-dimension predicates
    * reach the scan as PushedFilters, and because every file has bounded
    * extents in BOTH keys (LayoutSpec), parquet row-group min/max stats
    * skip most of the data. Result gate: equals the same filter on the raw
    * table. */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    val path = s.conf.getOption("spark.local.dir").getOrElse("/tmp") +
      "/graft_dq63_lineitem_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    io.Layout.zorderWriteCached(raw, path, numFiles = 16,
      "l_quantity", "l_extendedprice")
    s.read.parquet(path)
      .filter(col("l_quantity").between(10, 15) &&
        col("l_extendedprice").between(20000, 30000))
      .groupBy("l_quantity")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(18, 6))).cast(DoubleType).as("revenue"))
      .orderBy("l_quantity")
  }

  /** DQ64 (EXT): Gopher-style top-bigram repetition ratio
    * (`TextAnalysis.repetitionRatio`) — the boilerplate/spam filter signal
    * from Rae et al. 2021; explode → two-level aggregation, map-side
    * partial, no quadratic HOFs. */
  private def q64(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionRatio(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** DQ65 (EXT): fixed-window chunking with overlap
    * (`TextAnalysis.chunks`) — 200-char windows every 150 chars; shuffle-
    * free declarative blow-up, chunk identity independent of layout. */
  private def q65(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunks(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id", "chunk_idx")

  /** DQ66 (EXT): greedy sequence packing (`ext.Packing.packGreedy`) —
    * deterministic bin assignment (ascending doc_id per source, 1000-char
    * capacity) aggregated to the per-bin report; the oracle replays the
    * same greedy recurrence as a recursive CTE. */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ext.Packing.packGreedy(docs, "source", "doc_id", "n_chars",
        capacity = 1000)
      .join(docs.select("doc_id", "n_chars"), "doc_id")
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"),
        min("doc_id").as("first_doc"))
      .orderBy("source", "bin")
  }

  /** DQ67 (EXT): benchmark decontamination
    * (`ext.Decontamination.contaminationReport`) — training docs sharing
    * any word 4-gram with the eval slice (doc_id % 97 == 0); eval grams
    * broadcast, corpus scanned once, bodies never shuffle. */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Decontamination.contaminationReport(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 4)
      .orderBy("doc_id")
  }

  /** DQ68 (EXT): weighted source mixing
    * (`ext.Sampling.stratifiedPortable`) — per-source keep rates
    * (1.0 / 0.5 / 0.1 by source index mod 3) through the engine-portable
    * md5 gate; the report is the post-mix source histogram. */
  private def q68(s: SparkSession, dir: String): DataFrame = {
    val rates = (0 to 19).map(i => s"src$i" -> (i % 3 match {
      case 0 => 1.0
      case 1 => 0.5
      case _ => 0.1
    })).toMap
    Sampling.stratifiedPortable(t(s, dir, "documents"), "source", "doc_id", rates)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), min("doc_id").as("min_doc"))
      .orderBy("source")
  }

  /** DQ69 (EXT): most distinctive term per document
    * (`ext.TextAnalysis.topTfIdfTerm`) — rational-idf TF-IDF argmax,
    * bit-portable (no log); two keyed aggregations + a vocabulary join. */
  private def q69(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTfIdfTerm(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** DQ70 (runner): config-driven report (`plan.ReportConfig`) — the reference
    * runner's declare-a-report-in-config workflow (Main.scala:28-39,146),
    * oracle-gated: table + fields + WHERE parsed from a JSON literal and
    * executed as one declarative plan. */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    val report = plan.ReportConfig.parse(
      """{
        |  "table": "customer",
        |  "fields": ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"],
        |  "where": "c_acctbal > 9000 AND c_mktsegment = 'BUILDING'"
        |}""".stripMargin)
    report.run(s, dir).orderBy("c_custkey")
  }

  /** DQ71 (EXT): per-source length-outlier filtering — drop documents
    * outside their source's [p5, p95] length band (the distribution-aware
    * length filter of a curation pipeline, vs a fixed global cutoff that
    * over-trims verbose sources and under-trims terse ones). The per-source
    * bounds table is one tiny aggregation joined back by BROADCAST —
    * the corpus scans once, bodies never shuffle. `percentile` ↔
    * `quantile_cont` is the proven cross-engine pair (dq42). */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bounds = docs.groupBy("source").agg(
      expr("percentile(n_chars, 0.05)").as("lo"),
      expr("percentile(n_chars, 0.95)").as("hi"))
    docs.join(broadcast(bounds), "source")
      .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), min("n_chars").as("min_len"),
        max("n_chars").as("max_len"))
      .orderBy("source")
  }

  /** DQ72 (EXT): winnowing fingerprint overlap (`ext.Winnow`) — the
    * MOSS-style rolling-hash fingerprinter: pairs of documents sharing
    * ≥ 3 winnowed k-gram fingerprints (position-robust shared-passage
    * detection, a different modality from MinHash's whole-document
    * similarity). Integer-only arithmetic; the oracle re-derives every
    * rolling hash in DuckDB. */
  private def q72(s: SparkSession, dir: String): DataFrame =
    graft.ext.Winnow.sharedFingerprintPairs(t(s, dir, "documents"),
        "doc_id", "text", k = 16, w = 8, minShared = 3, maxFpFreq = 100)
      .orderBy("doc_a", "doc_b")

  /** DQ73 (EXT): REAL multimodal decode — synthesize byte-exact PNG/JPEG
    * payloads (variable-length JPEG segments, so dimensions sit at
    * data-dependent offsets) plus non-image rows, then parse format/width/
    * height back out of the BYTES with the [[graft.functions.ImageMeta]]
    * header kernel; non-images are rejected by the parse, not by the
    * synthesis rule. The oracle builds identical blobs in DuckDB and
    * re-parses them independently (hex-string marker walk). */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "documents").select(col("doc_id"),
      graft.ext.Multimodal.syntheticImagePayload(col("doc_id")).as("payload"))
    graft.ext.Multimodal.imageMeta(media, "doc_id", "payload")
      .orderBy("doc_id")
  }

  /** DQ74 (EXT): Gopher duplicate-line fraction (Rae et al. §A1.1). The
    * corpus is single-line word soup, so line structure is SYNTHESIZED
    * deterministically first (token pairs joined by newlines — the dq73
    * pattern: fixture synthesis in engine-portable Column algebra), then
    * [[graft.ext.TextAnalysis.duplicateLineStats]] computes the real
    * dup-line / dup-char fractions over the newline-delimited text. */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      graft.ext.TextAnalysis.tokens(col("text")).as("__toks"))
    val pairLines = when(size(col("__toks")) >= 2,
      transform(sequence(lit(0), floor(size(col("__toks")) / 2).cast("int") - 1),
        i => concat_ws(" ", element_at(col("__toks"), i * 2 + 1),
          element_at(col("__toks"), i * 2 + 2))))
      .otherwise(array().cast("array<string>"))
    val synth = docs.select(col("doc_id"), concat_ws("\n", pairLines).as("text"))
    graft.ext.TextAnalysis.duplicateLineStats(synth, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** DQ75 (EXT): SemDeDup-shaped semantic dedup (Abbas et al. 2023) — the
    * embedding-space complement of dq47's MinHash pipeline, composed
    * entirely from verified parts: embedding cells ([[Ann.nearDupPairs]]'s
    * sign-bucket coarse quantizer), within-cell cosine > τ edges (dq22's
    * exact formulation), [[ConnectedComponents]] clustering, and
    * [[Dedup.keepCanonical]] (keep the min-id representative per cluster).
    * Cells bound the pair space (never N²), edges/cluster tables are ∝
    * duplicates, and bodies/embeddings never ride the CC iteration. */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val pairs = Ann.nearDupPairs(emb, "vec_id", "embedding",
      dims = 4, threshold = 0.4)
    Dedup.keepCanonical(emb, "vec_id", pairs,
        pairACol = "vec_a", pairBCol = "vec_b")
      .select("vec_id")
      .orderBy("vec_id")
  }

  /** DQ76 (EXT): curation pipeline v2 — the round-4 operators composed
    * end-to-end the way dq62 locked the round-1/2 stages: per-source
    * length-band filter (dq71) → benchmark decontamination (dq67) →
    * shared-passage winnow dedup with canonical keep (dq72 edges + dq47
    * keep rule) → weighted source mixing (dq68) → stratified split report
    * (dq62). Everything flows as DataFrame plans; only digests,
    * fingerprints (ints) and (doc, gram) pairs shuffle — document bodies
    * stay in their scan partitions until the final tiny report
    * aggregation. The curated intermediate is consumed twice (fingerprint
    * branch + keep join), so it rides a call-scoped cache exactly like the
    * shingle frame inside MinHashLSH — measured 7.0s → 5.75s at sf0.1 (the
    * remaining floor is CC's fixed per-iteration job overhead). */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bounds = docs.groupBy("source").agg(
      expr("percentile(n_chars, 0.05)").as("lo"),
      expr("percentile(n_chars, 0.95)").as("hi"))
    val banded = docs.join(broadcast(bounds), "source")
      .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
      .select("doc_id", "source", "text")
    val evalSet = docs.filter(col("doc_id") % 97 === 0)
    val clean = Decontamination.decontaminate(
      banded.filter(col("doc_id") % 97 =!= 0), evalSet, "doc_id", "text", n = 4)
    graft.ext.CacheScope.withCached(clean) {
      val pairs = graft.ext.Winnow.sharedFingerprintPairs(clean, "doc_id", "text",
        k = 16, w = 8, minShared = 3, maxFpFreq = 100)
      val deduped = Dedup.keepCanonical(clean, "doc_id", pairs)
      val rates = (0 to 19).map(i => s"src$i" -> (i % 3 match {
        case 0 => 1.0
        case 1 => 0.5
        case _ => 0.1
      })).toMap
      val mixed = Sampling.stratifiedPortable(deduped, "source", "doc_id", rates)
      mixed.select(col("source"),
          Sampling.splitLabelPortable(col("doc_id"), 0.8, 0.1).as("split"),
          col("doc_id"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_doc"))
        .orderBy("split", "source")
    }
  }

  /** DQ77 (EXT): the rest of the Gopher top-n-gram family — top-3-gram and
    * top-4-gram fractions per document (dq64 is the top-2-gram member),
    * inner-joined so each row carries both widths. */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val t3 = TextAnalysis.topNgramFraction(docs, "doc_id", "text", 3)
      .withColumnRenamed("rep_ratio", "top3_frac")
    val t4 = TextAnalysis.topNgramFraction(docs, "doc_id", "text", 4)
      .withColumnRenamed("rep_ratio", "top4_frac")
    t3.join(t4, Seq("doc_id"))
      .orderBy("doc_id")
  }

  /** DQ78 (EXT): [[graft.streaming.EventStream.sessionizeTws]] under the
    * ORACLE gate (dq26 gates the bounded flatMapGroupsWithState surface;
    * the transformWithState path was previously spec-checked only). With a
    * real watermark delay the operator's emission rule is deterministic —
    * a session is emitted iff `last_event + gap < final watermark`, where
    * the final watermark is `(max_event_time_ms − delay_ms)` — so the
    * DuckDB oracle reconstructs the sessions in batch SQL and applies the
    * SAME closure criterion. Runs on RocksDB (transformWithState does not
    * run on the default HDFS-backed store); the provider conf is restored
    * after the stream terminates. */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val res = EventStream.runToTable(
        EventStream.sessionizeTws(EventStream.readEvents(s, dir),
          gapMinutes = 10, watermarkDelay = "10 minutes").toDF(),
        "q78_sessions_tws", org.apache.spark.sql.streaming.OutputMode.Append())
      res.orderBy("user_id", "session_start")
    } finally prev.fold(s.conf.unset(key))(v => s.conf.set(key, v))
  }

  /** DQ79 (EXT): REAL audio decode — the dq73 pattern for WAV/RIFF:
    * synthesize byte-exact chunk tables (variable-length LIST chunk, so
    * the walk is load-bearing; all fields little-endian) plus non-audio
    * rows, parse channels/rate/bits/declared-sample-count back out of the
    * BYTES with [[graft.functions.AudioMeta]]. The oracle re-parses
    * identical blobs in DuckDB (hex walk with reversed byte pairs for the
    * little-endian fields). */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "documents").select(col("doc_id"),
      graft.ext.Multimodal.syntheticWavPayload(col("doc_id")).as("payload"))
    graft.ext.Multimodal.audioMeta(media, "doc_id", "payload")
      .orderBy("doc_id")
  }

  /** DQ80 (EXT): REAL video decode — MP4 / ISO BMFF box walk
    * ([[graft.functions.VideoMeta]]): ftyp brand + mvhd timescale/duration
    * (the clip-length curation gate) parsed from the box tree, with
    * variable-length `free` and `udta` filler boxes making BOTH the
    * top-level and child walks data-driven. Completes the modality triple:
    * dq73 image (big-endian fixed offsets + marker stream), dq79 audio
    * (little-endian chunk table), dq80 video (nested box tree). */
  private def q80(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "documents").select(col("doc_id"),
      graft.ext.Multimodal.syntheticMp4Payload(col("doc_id")).as("payload"))
    graft.ext.Multimodal.videoMeta(media, "doc_id", "payload")
      .orderBy("doc_id")
  }

  /** DQ81 (EXT): incremental-ingest dedup ([[Dedup.keepUnseen]]) — the
    * daily-batch shape. The corpus has no natural cross-batch duplicates,
    * so the incoming batch is SYNTHESIZED from it (the dq73 pattern):
    * replayed docs under fresh ids (a re-crawl — same text, must be
    * DROPPED against history) plus revised docs (text suffixed — new
    * fingerprints, must be KEPT). History = the corpus itself. */
  private def q81(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val replayed = docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("source"), col("text"))
    val revised = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("source"),
        concat(col("text"), lit(" rev"), col("doc_id").cast("string")).as("text"))
    val incoming = replayed.union(revised)
    Dedup.keepUnseen(incoming, docs, "text")
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** DQ82 (EXT): packed-sequence MATERIALIZATION — dq66 assigns documents
    * to bins; this produces the training sequences themselves: per bin,
    * the documents concatenated in id order with a separator token, hashed
    * (the md5 keeps the verified artifact small while still byte-checking
    * the exact concatenation and order). */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val packed = graft.ext.Packing.packGreedy(docs, "source", "doc_id",
      "n_chars", capacity = 1000)
    val seq = array_join(
      transform(sort_array(collect_list(struct(col("doc_id"), col("text")))),
        s => s.getField("text")),
      "<|doc|>")
    packed.join(docs.select("doc_id", "text"), "doc_id")
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), seq.as("__seq"))
      .select(col("source"), col("bin"), col("n_docs"),
        length(col("__seq")).as("seq_chars"), md5(col("__seq")).as("seq_md5"))
      .orderBy("source", "bin")
  }

  /** DQ83 (EXT): incremental NEAR-dup dedup
    * ([[MinHashLSH.keepUnseenNear]]) — dq81's exact-fingerprint ingest
    * gate upgraded to similarity: keep only incoming docs that are no
    * near-duplicate of ANY history document, via the persisted band-bucket
    * index + Bloom split + candidate-only Jaccard verification. The
    * incoming batch is synthesized (dq81's pattern): near-replays (a
    * one-token tail appended — Jaccard (t−2)/(t−1) vs the original, well
    * above 0.8 for real docs → DROPPED) and heavy revisions (every 3rd
    * space-token mutated — every 3-gram shingle window contains a mutated
    * index, Jaccard ≈ 0 → KEPT). */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nearReplay = docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("source"),
        concat(col("text"), lit(" zzztail")).as("text"))
    val novel = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("source"),
        array_join(transform(split(col("text"), " "),
          (tok, i) => when(i % 3 === 0, concat(tok, lit("x"))).otherwise(tok)),
          " ").as("text"))
    MinHashLSH.keepUnseenNear(nearReplay.union(novel), docs, "doc_id", "text")
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** DQ84 (EXT): the LARGE-k IVF assignment path under the oracle gate —
    * dq51's exact pipeline with `spark.graft.ivf.literalMaxK` forced to 0,
    * so training, assignment, and probe selection all run through the
    * broadcast [[graft.functions.NearestCells]] kernel instead of the
    * plan-literal fold. Same oracle as dq51: the paths are bit-identical
    * by contract, and this row has the DuckDB gate prove it every round
    * (the SCALE_IVFK probe proves it at k=1024, where the literal can't
    * go). Conf is saved/restored; the result is materialized before the
    * restore so the lazy plan can't observe the rollback. */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    val key = IvfIndex.LiteralMaxKConf
    val old = s.conf.getOption(key)
    s.conf.set(key, "0")
    try {
      val index = IvfIndex.fit(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 2)
      try index.queryAll(Seq(1L, 2L, 3L), topK = 5, nprobe = 2)
        .orderBy("qid", "vid")
        .localCheckpoint(true)
      finally index.release()
    } finally old match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** DQ85 (EXT): PII scrubbing ([[TextAnalysis.redactPii]]) — emails and
    * phone numbers planted deterministically into each document (the
    * corpus has none), then redacted to placeholder tokens; the oracle
    * re-plants and re-redacts with the same Java∩RE2 regexes and the
    * redacted text is byte-checked via md5. Counts surface the removal
    * report a curation pipeline logs. */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val salted = docs.select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example"), (col("doc_id") % 7).cast("string"), lit(".com or +"),
        (col("doc_id") % 90 + 10).cast("string"), lit("-"),
        (col("doc_id") % 900 + 100).cast("string"), lit("-"),
        (col("doc_id") % 9000 + 1000).cast("string")).as("text"))
    val (nEmails, nPhones) = TextAnalysis.piiCounts(col("text"))
    salted.select(col("doc_id"),
      nEmails.as("n_emails"), nPhones.as("n_phones"),
      md5(TextAnalysis.redactPii(col("text"))).as("redacted_md5"),
      length(TextAnalysis.redactPii(col("text"))).as("n_chars_redacted"))
      .orderBy("doc_id")
  }

  /** DQ86 (EXT): BM25 retrieval top-k ([[graft.ext.Bm25]]) — lexical
    * ranking for a query set over the corpus, the retrieval loop of
    * dedup-by-retrieval / hard-negative mining. Queries: every doc with
    * doc_id % 101 == 0, terms = its first 4 tokens (distinct); k = 3;
    * identity hits excluded. Rational idf + micro-unit score sums (no
    * `ln`, no float reassociation) make the ranking hash-exact vs the
    * DuckDB re-derivation. */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") % 101 === 0)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(TextAnalysis.tokens(col("text")), 1, 4)))
          .as("term"))
    Bm25.topK(docs, "doc_id", "text", queries, k = 3)
      .orderBy("qid", "rnk")
  }

  /** DQ87 (EXT): STREAMING ingest near-dup gate — dq83's batch-vs-history
    * gate run as a Structured Streaming ingest loop: the incoming batch
    * (same synthesis as dq83) arrives as a file-source STREAM, and each
    * micro-batch passes through [[MinHashLSH.keepUnseenNear]] against the
    * static history corpus inside `foreachBatch`, landing in per-batch
    * idempotent parquet ([[EventStream.runIngestGate]]). Same oracle as
    * dq83 — the gate result must be identical streamed or batched, which
    * is exactly the batch/stream parity Structured Streaming promises and
    * the continuous-crawl shape the incremental dedup family exists for. */
  private def q87(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val stream = EventStream.readDocuments(s, dir)
    val nearReplay = stream.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("source"),
        concat(col("text"), lit(" zzztail")).as("text"))
    val novel = stream.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("source"),
        array_join(transform(split(col("text"), " "),
          (tok, i) => when(i % 3 === 0, concat(tok, lit("x"))).otherwise(tok)),
          " ").as("text"))
    EventStream.runIngestGate(nearReplay.union(novel), "q87") { batch =>
      MinHashLSH.keepUnseenNear(batch, docs, "doc_id", "text")
        .select("doc_id", "source")
    }.orderBy("doc_id")
  }

  /** DQ88 (EXT): corpus-level boilerplate-line removal
    * ([[TextAnalysis.removeBoilerplateLines]]) — the CCNet/RefinedWeb
    * chrome gate: lines appearing in > 5% of documents are dropped from
    * every document, order preserved. Line structure is synthesized
    * exactly as dq74 (token pairs joined by newlines); the cleaned text is
    * byte-checked via md5 and the kept/removed counts surface the
    * curation report. */
  private def q88(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("__toks"))
    val pairLines = when(size(col("__toks")) >= 2,
      transform(sequence(lit(0), floor(size(col("__toks")) / 2).cast("int") - 1),
        i => concat_ws(" ", element_at(col("__toks"), i * 2 + 1),
          element_at(col("__toks"), i * 2 + 2))))
      .otherwise(array().cast("array<string>"))
    val synth = docs.select(col("doc_id"), concat_ws("\n", pairLines).as("text"))
    TextAnalysis.removeBoilerplateLines(synth, "doc_id", "text",
        maxDocFrac = 0.05)
      .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
        col("n_lines_kept"), col("n_lines_removed"))
      .orderBy("doc_id")
  }

  /** DQ89 (EXT): greedy longest-match subword tokenization
    * ([[graft.functions.SubwordTokenize]]) — the WordPiece-inference
    * algorithm over a fixed demo vocabulary, applied to the canonical
    * token stream: real subword token counts per document (the training
    * budget arithmetic dq15's whitespace counts approximate), unknown
    * fallback counted separately, full token sequence byte-checked via
    * md5. Map-only inside WholeStageCodegen — no shuffle; the oracle
    * replays the same greedy recurrence as a DuckDB recursive CTE over
    * the corpus's DISTINCT words. */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // HOF-free canonical stream (lambdas run interpreted and would drop the
    // stage out of WholeStageCodegen — PlanAuditSpec locks this in): non-word
    // runs become single spaces; the kernel skips empty words, so the word
    // sequence equals TextAnalysis.tokens' exactly
    val stream = docs.select(col("doc_id"),
      regexp_replace(lower(col("text")), "\\W+", " ").as("__stream"))
    val sub = stream.select(col("doc_id"),
      graft.functions.SubwordTokenize(col("__stream"),
        graft.functions.SubwordTokenize.DemoVocab).as("__sub"))
    // '?' can only be the unknown token (vocab entries are space-free word
    // chars), so counting it on the joined stream is a codegen'd translate,
    // not an interpreted filter lambda
    val joined = sub.select(col("doc_id"), col("__sub"),
      array_join(col("__sub"), " ").as("__joined"))
    joined.select(col("doc_id"),
      size(col("__sub")).cast("long").as("n_subtokens"),
      (length(col("__joined")) -
        length(translate(col("__joined"), "?", ""))).cast("long").as("n_unk"),
      md5(col("__joined")).as("subtok_md5"))
      .orderBy("doc_id")
  }

  /** DQ90 (EXT): hard-negative mining ([[Bm25.hardNegatives]]) — the
    * contrastive-training data prep step (DPR-style BM25 negatives):
    * dq86's query set, labeled positives = same-source documents with
    * vid % 3 == 0 (a deterministic relevance-label stand-in), negatives =
    * top-5 BM25 candidates AFTER the broadcast anti-join removes
    * positives, so each removed positive frees its rank. Oracle = dq86's
    * scoring chain + the positive-pair anti-join re-derived in SQL. */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val qdocs = docs.filter(col("doc_id") % 101 === 0)
    val queries = qdocs.select(col("doc_id").as("qid"),
      explode(array_distinct(slice(TextAnalysis.tokens(col("text")), 1, 4)))
        .as("term"))
    val positives = qdocs.select(col("doc_id").as("qid"), col("source").as("__qsrc"))
      .join(docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("vid"), col("source").as("__vsrc")),
        col("__qsrc") === col("__vsrc"))
      .select("qid", "vid")
    Bm25.hardNegatives(docs, "doc_id", "text", queries, positives, k = 5)
      .orderBy("qid", "rnk")
  }

  /** DQ91 (EXT): semantic decontamination
    * ([[Decontamination.semanticReport]]) — the embedding-space complement
    * of dq67's n-gram gate: training vectors whose cosine against ANY
    * broadcast eval vector (vec_id % 97 == 0) exceeds 0.3, with hit count
    * and max similarity. Exact by design (a decontamination false negative
    * ships leakage); fixed-fold cosine keeps the doubles hash-identical
    * cross-engine. */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val evalSet = e.filter(col("vec_id") % 97 === 0)
    val train = e.filter(col("vec_id") % 97 =!= 0)
    Decontamination.semanticReport(train, evalSet, "vec_id", "embedding",
        threshold = 0.3)
      .orderBy("vec_id")
  }

  /** DQ92 (EXT): bigram LM fluency scoring ([[graft.ext.NgramLm]]) — the
    * CCNet-family perplexity quality filter with the model trained on the
    * corpus itself: per-document mean conditional bigram probability in
    * pure-integer micro-units (no `log`, no float sums — exact integer
    * division on both engines), short documents scoring 0 over 0 bigrams. */
  private def q92(s: SparkSession, dir: String): DataFrame =
    graft.ext.NgramLm.fluencyReport(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** DQ93 (EXT): chunk-level retrieval — the RAG indexing shape: the
    * corpus chunked (dq65's 200/150 windows), each chunk a retrieval unit
    * with a synthetic `chunk_id = 10⁹ + doc_id·10⁶ + chunk_idx` (offset
    * keeps chunk ids disjoint from query ids so [[Bm25.topK]]'s identity
    * exclusion never fires on a chunk; the 10⁶ stride allows 10⁶ chunks
    * per document — ~1.5·10⁸ tokens ≈ 1 GB of text at stride 150 —
    * before ids collide into the next document's range, vs ~1 MB under
    * the previous 10³ stride), BM25-ranked against dq86's query
    * set with k = 3, source doc and chunk index re-derived from the id.
    * Retrieval granularity below the document is what grounds a context
    * window; the whole pipeline (chunk → score → bounded-heap rank)
    * composes already-verified operators in ONE plan. */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val chunks = TextAnalysis.chunks(docs, "doc_id", "text")
      .select((lit(1000000000L) + col("doc_id") * 1000000L + col("chunk_idx"))
        .as("chunk_id"), col("chunk"))
    val queries = docs.filter(col("doc_id") % 101 === 0)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(TextAnalysis.tokens(col("text")), 1, 4)))
          .as("term"))
    Bm25.topK(chunks, "chunk_id", "chunk", queries, k = 3)
      .select(col("qid"),
        expr("(vid - 1000000000L) div 1000000L").as("doc_id"),
        (col("vid") % 1000000L).as("chunk_idx"),
        col("score_micro"), col("rnk"))
      .orderBy("qid", "rnk")
  }

  /** DQ94 (EXT): BOUNDED-state streaming dedup
    * ([[EventStream.dedupCountsWithinWatermark]]) —
    * `dropDuplicatesWithinWatermark`, whose per-key state is evicted as
    * the watermark passes (dq31's `dropDuplicates` state never expires).
    * The testdata's duplicates all fall within the horizon, so the gated
    * result equals dq31's exact-distinct oracle; the eviction/re-emit
    * behavior past the horizon is scenario-spec'd in `EventStreamSpec`. */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    val res = EventStream.runToTable(
      EventStream.dedupCountsWithinWatermark(EventStream.readEvents(s, dir)),
      "q94_dedup_ww", org.apache.spark.sql.streaming.OutputMode.Complete())
    res.orderBy("event_type")
  }

  /** DQ95 (EXT): CROSS-MODAL curation pipeline in one plan — the round-6
    * operators composed: bigram-LM fluency band (dq92) gates text quality,
    * semantic decontamination (dq91, embeddings joined by doc_id = vec_id)
    * drops eval-near documents AND the eval members themselves, and the
    * survivors' training budget is computed with the real subword
    * tokenizer (dq89) as a per-source token report. The oracle re-derives
    * all three stages plus the budget in one SQL chain. */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val flu = graft.ext.NgramLm.fluencyReport(docs, "doc_id", "text")
      .filter(col("mean_micro").between(34000, 40000)).select("doc_id")
    val evalSet = emb.filter(col("vec_id") % 97 === 0)
    val train = emb.filter(col("vec_id") % 97 =!= 0)
    val flagged = Decontamination
      .semanticReport(train, evalSet, "vec_id", "embedding", threshold = 0.3)
      .select(col("vec_id").as("doc_id"))
    val kept = docs.filter(col("doc_id") % 97 =!= 0)
      .join(flu, "doc_id")
      .join(flagged, Seq("doc_id"), "left_anti")
    val sub = kept.select(col("source"),
      size(graft.functions.SubwordTokenize(
        regexp_replace(lower(col("text")), "\\W+", " "),
        graft.functions.SubwordTokenize.DemoVocab)).cast("long").as("__nt"))
    sub.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("total_subtokens"))
      .orderBy("source")
  }

  /** DQ96 (EXT): chained streaming window aggregations
    * ([[EventStream.hourlyToDaily]]) — hourly partials re-windowed into
    * daily totals inside ONE streaming query (multiple stateful
    * operators, append mode). The oracle re-derives the rollup AND the
    * append-mode emission boundary: the final partial day is held in
    * state, so only days whose window end precedes the final watermark
    * (max event time − 1h) appear. */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    val res = EventStream.runToTable(
      EventStream.hourlyToDaily(EventStream.readEvents(s, dir)),
      "q96_daily", org.apache.spark.sql.streaming.OutputMode.Append())
    res.orderBy("day", "event_type")
  }

  /** DQ97 (EXT, §2.9): stream-stream LEFT OUTER interval join — dq49 with
    * unmatched clicks EMITTED as null-matches once the watermark proves no
    * purchase can still arrive for them (state eviction at watermark >
    * click_time). The append-mode boundary is part of the contract: a
    * click younger than the final global watermark (min of both sides'
    * max event time − 1h) stays in state un-emitted, and the oracle
    * re-derives exactly that set. */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val clicks = EventStream.readEvents(s, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", "1 hour")
    val purchases = EventStream.readEvents(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_time").as("p_time"),
        col("value"))
      .withWatermark("p_time", "1 hour")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_time") <= col("click_time") &&
        col("p_time") >= col("click_time") - expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("click_id"), col("user_id"),
        unix_micros(col("p_time")).as("p_us"), col("value").as("p_value"))
    EventStream.runToTable(joined, "q97_attrib_outer",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("click_id", "p_us", "p_value")
  }

  /** DQ98 (EXT): DSIR-style importance scoring
    * ([[graft.ext.NgramLm.scoreAgainst]]) — data selection by domain
    * resemblance (Xie et al. 2023): every document scored under a bigram
    * model trained on the TARGET domain (source src0) and under the
    * full-corpus model; the importance signal is the integer micro-unit
    * difference, top-25 by difference. Out-of-domain transitions score 0
    * under the target model, dragging its mean down — the ranking
    * surfaces documents whose token statistics look like the target. */
  private def q98(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val target = docs.filter(col("source") === "src0")
    val tgt = graft.ext.NgramLm.scoreAgainst(docs, target, "doc_id", "text")
      .select(col("doc_id"), col("mean_micro").as("target_mean_micro"))
    val raw = graft.ext.NgramLm.fluencyReport(docs, "doc_id", "text")
      .select(col("doc_id"), col("mean_micro").as("raw_mean_micro"))
    tgt.join(raw, "doc_id")
      .select(col("doc_id"), col("target_mean_micro"), col("raw_mean_micro"),
        (col("target_mean_micro") - col("raw_mean_micro")).as("diff_micro"))
      .orderBy(col("diff_micro").desc, col("doc_id"))
      .limit(25)
  }

  /** DQ99 (EXT): kNN majority-vote classification ([[Ann.knnClassify]]) —
    * weak labeling by exact nearest neighbors: queries = every vec_id
    * divisible by 173, k = 7, ties toward the smaller label; candidates
    * ranked through the bounded heap, the vote aggregated over exactly
    * the k survivors. */
  private def q99(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Ann.knnClassify(e, "vec_id", "embedding", "label",
        col("vec_id") % 173 === 0, k = 7)
      .orderBy("qid")
  }

  /** DQ100 (EXT): sequence packing by TOKEN budget — dq66's greedy
    * packing with the capacity measured in REAL subword tokens (dq89's
    * kernel) instead of characters: the actual batch-prep arithmetic of
    * LLM pre-training (a 2048-token context packs by tokenizer counts,
    * not byte lengths). The oracle chains the tokenizer recurrence into
    * the packing recurrence — two recursive CTEs, one WITH. */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val withTok = docs.select(col("doc_id"), col("source"),
      size(graft.functions.SubwordTokenize(
        regexp_replace(lower(col("text")), "\\W+", " "),
        graft.functions.SubwordTokenize.DemoVocab)).cast("long").as("n_tok"))
    graft.ext.Packing.packGreedy(withTok, "source", "doc_id", "n_tok",
        capacity = 2048)
      .join(withTok.select("doc_id", "n_tok"), "doc_id")
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("toks"),
        min("doc_id").as("first_doc"))
      .orderBy("source", "bin")
  }

  /** DQ101 (EXT): deterministic portable epoch shuffle
    * ([[Sampling.epochShuffleKey]]) — reproducible per-epoch training
    * order from `md5("<epoch>:<id>")`: two epochs' first 10 documents,
    * each via orderBy+limit (TakeOrderedAndProject, no global sort
    * materialization); the oracle re-derives both permutations from the
    * ids alone. */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def top(epoch: Int) = docs.select(lit(epoch).as("epoch"), col("doc_id"),
        Sampling.epochShuffleKey(col("doc_id"), epoch).as("skey"))
      .orderBy("skey").limit(10)
    top(1).union(top(2)).orderBy("epoch", "skey")
  }

  /** DQ102 (EXT): the Gopher-rules composite quality gate (Rae et al.
    * 2021 §A1.1 apply the repetition family as a CONJUNCTION) — one
    * keep/drop report per document from four already-verified signals in
    * ONE plan: token-count bounds, top-2-gram fraction (dq64), top-3-gram
    * fraction (dq77), duplicate-line fraction (dq74's synthesized lines).
    * Every signal is bit-exact (integer numerators, one double division),
    * so the boolean gate is too; the oracle re-derives all four signals
    * and the conjunction. */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val len = docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val rep2 = TextAnalysis.topNgramFraction(docs, "doc_id", "text", 2)
      .withColumnRenamed("rep_ratio", "rep2")
    val top3 = TextAnalysis.topNgramFraction(docs, "doc_id", "text", 3)
      .withColumnRenamed("rep_ratio", "top3")
    val toks = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
    val pairLines = when(size(col("__toks")) >= 2,
      transform(sequence(lit(0), floor(size(col("__toks")) / 2).cast("int") - 1),
        i => concat_ws(" ", element_at(col("__toks"), i * 2 + 1),
          element_at(col("__toks"), i * 2 + 2))))
      .otherwise(array().cast("array<string>"))
    val synth = toks.select(col("doc_id"), concat_ws("\n", pairLines).as("text"))
    val dup = TextAnalysis.duplicateLineStats(synth, "doc_id", "text")
      .select(col("doc_id"), col("dup_line_frac"))
    len.join(rep2, "doc_id").join(top3, "doc_id").join(dup, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("rep2"), col("top3"),
        col("dup_line_frac"),
        (col("n_tokens") >= 20 && col("rep2") <= 0.06 &&
          col("top3") <= 0.05 && col("dup_line_frac") <= 0.05).as("keep"))
      .orderBy("doc_id")
  }

  /** DQ103 (EXT): dense hourly resampling with gap fill — the time-series
    * densification every monitoring/feature pipeline needs: the full hour
    * spine (min→max event hour, built with `sequence`, no driver loop)
    * cross-joined with the distinct type dimension, left-joined to the
    * hourly aggregates, gaps filled with 0. The spine is
    * hours × types (tiny — it broadcasts); the event aggregation is the
    * only corpus-sized work, and it runs over the SLICED scan: the 24h
    * window is applied below the groupBy as raw-unit bounds on `ts`
    * (hour-truncation maps an event into the slice iff its raw ts lies in
    * [lo, hi), so the predicate is exact — and it reaches the parquet scan
    * as PushedFilters, r6 directive #2; EventTime.tsLiteral keeps that
    * true in whichever unit the parquet scans as). The spine bounds and the type
    * dimension still come from the FULL corpus (column-pruned single-column
    * scans — types absent from the slice must still zero-fill), and the
    * formatted-string filter stays only as the final presentation slice.
    * Emitted per type for a 24h slice so the gated result stays
    * review-sized; zero-filled rows are the point. */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    // slice bounds as literals in the RAW ts column's own unit/type, so
    // the comparison pushes down to the parquet scan in any unit
    val tsType = raw.schema("ts").dataType
    val sliceLo = EventTime.tsLiteral(tsType,
      java.time.Instant.parse("2024-01-10T00:00:00Z"))
    val sliceHi = EventTime.tsLiteral(tsType,
      java.time.Instant.parse("2024-01-11T00:00:00Z"))
    val hh = date_trunc("hour", EventTime.eventTimeCol(tsType, "ts")).as("hh")
    val hourly = raw
      .filter(col("ts") >= sliceLo && col("ts") < sliceHi)
      .select(hh, col("event_type"), col("value"))
      .groupBy("hh", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    val bounds = raw.select(hh).agg(min(col("hh")).as("__lo"),
      max(col("hh")).as("__hi"))
    val spine = bounds
      .select(explode(sequence(col("__lo"), col("__hi"),
        expr("INTERVAL 1 HOUR"))).as("hh"))
      .filter(col("hh") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("hh") < lit("2024-01-11 00:00:00").cast("timestamp"))
      .crossJoin(raw.select("event_type").distinct())
    spine.join(hourly, Seq("hh", "event_type"), "left_outer")
      .select(date_format(col("hh"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0d)).as("sum_value"))
      .filter(col("hour") >= "2024-01-10 00:00:00" &&
        col("hour") < "2024-01-11 00:00:00")
      .orderBy("hour", "event_type")
  }

  /** Mutate every `step`-th space-token (0-based) by appending `suffix` —
    * the dq83 "heavy revision" synthesis: every 3-gram shingle window
    * contains a mutated index, so Jaccard vs the original is ≈ 0.
    */
  private def mutateTokens(text: Column, step: Int, suffix: String): Column =
    array_join(transform(split(text, " "),
      (tok, i) => when(i % step === 0, concat(tok, lit(suffix))).otherwise(tok)),
      " ")

  /** DQ104 (EXT): the PERSISTED-index incremental near-dup ingest LOOP
    * ([[graft.ext.NearDupIndex]]) — dq83's gate productionized (r6
    * directive #1): history is shingled once into a stored layout
    * (digests + band keys + bucket-count partials + statistics), then TWO
    * consecutive batches run the gate against the STORE — batch 2's
    * history side is parquet the loop itself wrote, with Bloom sizing fed
    * from stored statistics (no count job) and exact verification on
    * stored digests (history text is never re-read; the
    * `NearDupIndexSpec` plan audit proves batch 2's scans touch only the
    * index). Batch 1 is dq83's synthesis; its survivors are APPENDED, and
    * batch 2 then carries (a) near-replays of batch-1 survivors — dropped
    * ONLY because the append indexed them, (b) near-replays of original
    * history — dropped via the build, (c) fresh revisions — kept. The
    * oracle re-derives both rounds including the append semantics. */
  /** The dq104/dq109 two-batch fixture: batch 1 = near-replays of history
    * (dropped via the build) + fresh revisions (kept, then appended);
    * batch 2 = near-replays of batch-1 SURVIVORS (dropped only because the
    * append indexed them) + more history replays + fresh revisions. */
  private[graft] def nearDupBatches(docs: DataFrame): (DataFrame, DataFrame) = {
    val b1 = docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("source"),
        concat(col("text"), lit(" zzztail")).as("text"))
      .union(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("source"),
          mutateTokens(col("text"), 3, "x").as("text")))
    val b2 = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 300000).as("doc_id"), col("source"),
        concat(mutateTokens(col("text"), 3, "x"), lit(" zzztail")).as("text"))
      .union(docs.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 400000).as("doc_id"), col("source"),
          concat(col("text"), lit(" zzztail")).as("text")))
      .union(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 500000).as("doc_id"), col("source"),
          mutateTokens(col("text"), 2, "y").as("text")))
    (b1, b2)
  }

  private def q104(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (b1, b2) = nearDupBatches(docs)
    // reaped at JVM exit (TempReaper): kept2 reads the index lazily, so
    // the tree must outlive this call — but not the bench/driver process
    val path = graft.io.TempReaper.tempDir("graft-ndidx").toString + "/idx"
    val idx = graft.ext.NearDupIndex.build(docs, "doc_id", "text", path)
    val kept1 = idx.keepUnseen(b1, "doc_id", "text").localCheckpoint(true)
    idx.append(kept1, "doc_id", "text")
    val kept2 = idx.keepUnseen(b2, "doc_id", "text")
    kept1.select(lit(1L).as("batch"), col("doc_id"), col("source"))
      .union(kept2.select(lit(2L).as("batch"), col("doc_id"), col("source")))
      .orderBy("batch", "doc_id")
  }

  /** DQ105 (EXT): CELL-PRUNED semantic decontamination
    * ([[Decontamination.semanticReportPruned]], r6 directive #3) — dq91's
    * eval battery run through the trained-IVF candidate machinery: train
    * rows carry their dq51-trained cell (map-only), each eval vector
    * probes its 2 nearest of 8 cells, and the exact cosine threshold
    * report runs on in-cell candidates only — corpus×(probed cells)
    * instead of corpus×eval. The EXACT variant (dq91) remains the gated
    * default; this row locks the pruned computation itself under the
    * oracle (the DuckDB chain re-derives training, assignment, probes,
    * and the pruned report bit-for-bit), while `CellPrunedSpec` checks
    * pruned-vs-exact recall on this corpus and the SCALE_DECON probe
    * records the candidate reduction. */
  private def q105(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val evalSet = e.filter(col("vec_id") % 97 === 0)
    val train = e.filter(col("vec_id") % 97 =!= 0)
    val index = IvfIndex.fit(train, "vec_id", "embedding", k = 8, iters = 2)
    try graft.ext.Decontamination.semanticReportPruned(train, evalSet,
        "vec_id", "embedding", threshold = 0.3, index, nprobe = 2)
      .orderBy("vec_id").localCheckpoint(true)
    finally index.release()
  }

  /** DQ109 (EXT, §2.9): the dq104 loop STREAMED — the two ingest batches
    * arrive as micro-batches of a file-source stream, and each gates
    * against the persisted [[graft.ext.NearDupIndex]] then appends its
    * survivors inside `foreachBatch`
    * ([[EventStream.runIndexedIngest]]) — so batch 2 is deduplicated
    * against batch 1's survivors through the STORED index (dq87's
    * per-batch gate re-derives history instead; here history text is
    * never read). Append idempotence (`appendOnce` + batch token) plus
    * gate-time self-exclusion make micro-batch replay exactly-once —
    * spec-driven in `NearDupIndexSpec`/`EventStreamSpec`. Identical
    * result contract to dq104, so it shares the oracle SQL verbatim. */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (b1, b2) = nearDupBatches(docs)
    // stage the batches as one file each with strictly increasing mtimes
    // (the file source orders by modification time) -> two micro-batches
    val in = graft.io.TempReaper.tempDir("graft-dq109-in").toString
    b1.coalesce(1).write.parquet(s"$in/b1.parquet")
    b2.coalesce(1).write.parquet(s"$in/b2.parquet")
    val later = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 120000L)
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$in/b2.parquet"))
      .forEach(p => { java.nio.file.Files.setLastModifiedTime(p, later); () })
    val idxPath = graft.io.TempReaper.tempDir("graft-dq109-idx").toString + "/idx"
    val idx = graft.ext.NearDupIndex.build(docs, "doc_id", "text", idxPath)
    val incoming = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
    EventStream.runIndexedIngest(incoming, idx, "doc_id", "text", "dq109")
      .select(col("batch"), col("doc_id"), col("source"))
      .orderBy("batch", "doc_id")
  }

  /** DQ106 (EXT): exact substring dedup (Lee et al. 2022 ExactSubstr) —
    * maximal token spans whose k-token windows each occur more than once
    * corpus-wide, localized per document (the verbatim-duplicate mass the
    * similarity detectors dq19/dq20/dq72 rank but never localize). k=8
    * keeps the span set review-sized on the synthetic corpus; production
    * uses Lee et al.'s k=50-token threshold unchanged. */
  private def q106(s: SparkSession, dir: String): DataFrame =
    graft.ext.ExactSubstring
      .duplicatedSpans(t(s, dir, "documents"), "doc_id", "text", k = 8)
      .orderBy("doc_id", "span_start")

  /** DQ110 (EXT): the CLEANED corpus — dq106's spans APPLIED
    * ([[graft.ext.ExactSubstring.removeSpans]]): duplicated-span tokens
    * deleted, unique remainder kept per document (Lee et al.'s actual
    * deliverable; dq106 localizes, this removes). The md5 of each
    * cleaned text is the byte-level contract the oracle re-derives. */
  private def q110(s: SparkSession, dir: String): DataFrame =
    graft.ext.ExactSubstring
      .removeSpans(t(s, dir, "documents"), "doc_id", "text", k = 8)
      .orderBy("doc_id")

  /** DQ111 (EXT): cluster-balanced subsampling
    * ([[Sampling.clusterBalanced]]) — dq51's trained IVF cells with at
    * most 20 md5-ranked representatives each: the "cluster, then cap"
    * diversity-preserving subsample (a plain hash gate keeps topic skew;
    * this flattens it). The oracle replays Lloyd's training, final
    * assignment, and the per-cell rank cap. */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val index = IvfIndex.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
    try Sampling.clusterBalanced(emb, "vec_id", "embedding", index,
        perCell = 20)
      .orderBy("cell", "vec_id").localCheckpoint(true)
    finally index.release()
  }

  /** DQ112 (EXT): linear quality-probe TRAINING
    * ([[graft.ext.QualityProbe]]) — the normal-equations moment table for
    * regressing dq92's integer LM-fluency score on integer-milli surface
    * features (mean token length, stopword ratio, type-token ratio):
    * ONE corpus pass of map-side-combined Long sums; the d×d solve is
    * driver-side and spec-checked. The cluster-side computation is
    * all-integer, so the oracle re-derives every moment bit-for-bit
    * (dq92's fluency chain embedded as the target). */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val y = graft.ext.NgramLm.fluencyReport(docs, "doc_id", "text")
      .select(col("doc_id"), col("mean_micro"))
    val xy = graft.ext.QualityProbe.features(docs, "doc_id", "text")
      .join(y, "doc_id")
    graft.ext.QualityProbe.moments(xy, "mean_micro").orderBy("term")
  }

  /** DQ115 (EXT): quality-probe INFERENCE + GATE
    * ([[graft.ext.QualityProbe.milliWeights]]/[[graft.ext.QualityProbe.gate]])
    * — dq112's training composed with scoring in one query: the moment
    * table is collected (14 Longs), the weights come out of Cramer's rule
    * as EXACT rationals rounded half-up to integer milli-units (BigInt —
    * no floating point anywhere), every document is scored with the
    * integer dot product, and the gate keeps documents at or above the
    * corpus-mean score (exact integer floor). The oracle re-derives the
    * moments, the four 4×4 determinants (HUGEINT Leibniz expansion), the
    * same floor-division rounding, and the gate — train → score →
    * threshold checked end-to-end bit for bit. */
  private def q115(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val y = graft.ext.NgramLm.fluencyReport(docs, "doc_id", "text")
      .select(col("doc_id"), col("mean_micro"))
    val xy = graft.ext.QualityProbe.features(docs, "doc_id", "text")
      .join(y, "doc_id")
    val mom = graft.ext.QualityProbe.moments(xy, "mean_micro")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = graft.ext.QualityProbe.milliWeights(mom)
    graft.ext.QualityProbe.gate(docs, "doc_id", "text", w.toSeq)
      .orderBy("doc_id")
  }

  /** dq116's pipeline declaration — fixed config so the oracle can chain
    * the same stages; [[graft.plan.CurationConfig]] parses and compiles it. */
  private val Dq116Config =
    """{"table": "documents", "id": "doc_id", "text": "text",
      | "stages": [
      |   {"stage": "exact_dedup"},
      |   {"stage": "quality_gate", "minTokens": 24, "maxTokens": 10000},
      |   {"stage": "fluency_band", "loMicro": 33900, "hiMicro": 35300}]}"""
      .stripMargin

  /** DQ116 (EXT): CONFIG-DRIVEN curation pipeline
    * ([[graft.plan.CurationConfig]]) — the declare-then-run workflow of the
    * reference runner applied to curation: a JSON document declares
    * exact-dedup → token-count gate → fluency band, and the three stages
    * compile into ONE composed plan (the fluency model trains on the
    * DEDUPED, GATED survivors — the composition the config expresses).
    * Oracle: the same three stages chained as CTEs. */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val pipeline = graft.plan.CurationConfig.parse(Dq116Config)
    pipeline.run(s, dir)
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** DQ113 (EXT): incremental exact-substring gate
    * ([[graft.ext.ExactSubstring.dupWindowReport]]) — dq104's batch-1
    * fixture gated against the history corpus by k-token WINDOW digests:
    * per batch document, how many of its windows already occur verbatim
    * in history (the zzztail near-replays carry their source's windows;
    * the every-3rd-token mutants share none at k=8). The
    * Bloom-split/digest-join treatment dq81/dq83 give their modalities,
    * applied to verbatim spans. */
  private def q113(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (b1, _) = nearDupBatches(docs)
    graft.ext.ExactSubstring.dupWindowReport(b1, docs, "doc_id", "text", k = 8)
      .orderBy("doc_id")
  }

  /** DQ114 (EXT): BATCHED BPE training ([[graft.ext.BpeTrain.learnBatched]])
    * — the production path for 30k-merge vocabularies: per round, the
    * touched-word sub-state (model-sized, cap-guarded) is pulled and
    * sequential BPE simulated in memory to the exactness horizon, then the
    * state is rebuilt in one distributed pass; the trigram-guarded
    * distributed prefix tier covers refused pulls. Twice dq107's merge
    * depth, and the oracle replays the SEQUENTIAL recurrence — the result
    * matching IS the proof that batching changed nothing. */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    val bat = graft.ext.BpeTrain.learnBatched(t(s, dir, "documents"), "text",
      numMerges = BpeBatchMerges)
    s.createDataFrame(bat.model.merges)
      .select(col("step").cast("long").as("step"),
        col("left").as("left_sym"), col("right").as("right_sym"),
        col("pairCount").as("pair_count"))
      .orderBy("step")
  }

  /** DQ117 (EXT): the PERSISTED exact-substring gate LOOP
    * ([[graft.ext.SubstrIndex]]) — dq113's incremental gate
    * productionized the dq104 way: history's window digests are stored
    * ONCE (manifest-committed layout), batch 1 is reported and gated
    * against the stored relation, its fresh survivors' windows are
    * APPENDED, and batch 2's report then sees batch 1's survivors through
    * the index — history text is never re-read (spec-pinned plan
    * property). Output: both batch reports. The oracle re-derives the
    * stored digest set, the gate, the survivor append, and the second
    * report as one SQL chain. */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (b1, b2) = nearDupBatches(docs)
    val path = graft.io.TempReaper.tempDir("graft-dq117-idx").toString + "/idx"
    val idx = graft.ext.SubstrIndex.build(docs, "doc_id", "text", path, k = 8)
    val r1 = idx.dupWindowReport(b1, "doc_id", "text")
    val kept1 = idx.keepFresh(b1, "doc_id", "text").localCheckpoint(true)
    idx.append(kept1, "doc_id", "text")
    val r2 = idx.dupWindowReport(b2, "doc_id", "text")
    r1.select(lit(1L).as("batch"), col("doc_id"), col("n_windows"),
        col("n_dup_windows"))
      .unionByName(r2.select(lit(2L).as("batch"), col("doc_id"),
        col("n_windows"), col("n_dup_windows")))
      .orderBy("batch", "doc_id")
  }

  /** DQ118 (EXT): the PERSISTED IVF ANN index ([[graft.ext.IvfStore]]) —
    * the FAISS train-then-add contract as a stored layout: centroids
    * trained once on the 80% split (dq51's oracle-exact Lloyd's), the
    * assignment relation written partitioned BY CELL, then the held-out
    * 20% appended against the FROZEN centroids (map-only, never a refit)
    * and searched — queries include an appended vector, proving appends
    * are both candidates and query-able. Probes are a STATIC partition
    * filter (driver-ranked cells), so the candidate scan reads nprobe of
    * the cell partitions at file-listing time. The oracle trains on the
    * 80% chain but assigns/queries the FULL table against the frozen
    * final centroids — exactly the store's semantics. */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val path = graft.io.TempReaper.tempDir("graft-dq118-idx").toString + "/idx"
    val store = graft.ext.IvfStore.create(emb.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", path, k = 8, iters = 2)
    store.appendOnce(emb.filter(col("vec_id") % 5 === 0), "vec_id",
      "embedding", "dq118#b1")
    store.search(store.vectorsOf(Seq(1L, 2L, 5L)), topK = 5, nprobe = 2)
      .orderBy("qid", "vid")
  }

  /** DQ119 (EXT): TOKEN-BUDGET source mixture
    * ([[graft.ext.Sampling.tokenBudgetPortable]]) — "N tokens per source",
    * the unit data mixes are specified in: per source, the maximal
    * portable-hash-ordered prefix of documents whose running token total
    * fits the budget. Even sources get 900 tokens, odd 400. The Spark
    * side runs the bucketed two-phase exact form (driver prefix over 256
    * hash-prefix bucket sums, window only inside the cutoff bucket); the
    * oracle replays the naive full window — equality IS the two-phase
    * correctness proof. */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    val budgets = (0 to 19).map(i =>
      s"src$i" -> (if (i % 2 == 0) 900L else 400L)).toMap
    graft.ext.Sampling.tokenBudgetPortable(t(s, dir, "documents"),
        "source", "doc_id", "text", budgets)
      .select(col("doc_id"), col("source"),
        graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      .orderBy("doc_id")
  }

  /** DQ120 (EXT): FRACTIONAL-EPOCH repetition
    * ([[graft.ext.Sampling.repeatEpochsPortable]]) — the repeat factor of
    * weighted data mixes (factor 2.3: every doc twice, a stable 30%
    * key-gated sample a third time), each copy carrying its dq101
    * epoch-shuffle key so every epoch orders independently. The oracle
    * re-derives the epoch explosion, the md5 gate, and the shuffle keys. */
  private def q120(s: SparkSession, dir: String): DataFrame = {
    graft.ext.Sampling.repeatEpochsPortable(
        t(s, dir, "documents"), "doc_id", factor = 2.3)
      .select(col("doc_id"), col("epoch"),
        md5(concat_ws(":", col("epoch"), col("doc_id"))).as("shuffle_key"))
      .orderBy("epoch", "doc_id")
  }

  /** DQ121 (EXT, §2.9): dq117's stored-gate loop STREAMED — the two
    * batches arrive as file-source micro-batches and the GENERIC ingest
    * loop ([[EventStream.runIndexedIngest]] over the [[graft.ext.IngestIndex]]
    * contract) gates each against the persisted [[graft.ext.SubstrIndex]]
    * and appends its fresh survivors' windows before the next batch fires
    * — exactly-once via batch tokens + the replay-view gate. Output: the
    * surviving rows per batch. Shares dq117's derivation: the oracle's
    * kept sets are its reports' zero-overlap documents — stream/batch
    * parity against one chain (the dq109/dq104 precedent). */
  private def q121(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (b1, b2) = nearDupBatches(docs)
    val in = graft.io.TempReaper.tempDir("graft-dq121-in").toString
    b1.coalesce(1).write.parquet(s"$in/b1.parquet")
    b2.coalesce(1).write.parquet(s"$in/b2.parquet")
    val later = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 120000L)
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$in/b2.parquet"))
      .forEach(p => { java.nio.file.Files.setLastModifiedTime(p, later); () })
    val idxPath = graft.io.TempReaper.tempDir("graft-dq121-idx").toString + "/idx"
    val idx = graft.ext.SubstrIndex.build(docs, "doc_id", "text", idxPath, k = 8)
    val incoming = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
    EventStream.runIndexedIngest(incoming, idx, "doc_id", "text", "dq121")
      .select(col("batch"), col("doc_id"), col("source"))
      .orderBy("batch", "doc_id")
  }

  /** The dq122/dq123 two-batch fixture over `embeddings` (the dq104
    * pattern for the semantic modality): history = vec_id % 3 != 0;
    * batch 1 = exact copies of history vectors (+100000 — semantic dups,
    * dropped via the build) + held-out fresh vectors (kept, appended);
    * batch 2 = copies of batch-1's fresh candidates (+300000 — dropped
    * ONLY because the append indexed their originals) + more history
    * copies (+400000) + the remaining held-out fresh vectors. */
  private[graft] def semBatches(emb: DataFrame): (DataFrame, DataFrame) = {
    val hist = emb.filter(col("vec_id") % 3 =!= 0)
    val b1 = hist.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      .union(emb.filter(col("vec_id") % 6 === 0)
        .select(col("vec_id"), col("embedding")))
    val b2 = emb.filter(col("vec_id") % 6 === 0)
      .select((col("vec_id") + 300000).as("vec_id"), col("embedding"))
      .union(hist.filter(col("vec_id") % 11 === 0)
        .select((col("vec_id") + 400000).as("vec_id"), col("embedding")))
      .union(emb.filter((col("vec_id") % 3 === 0) && (col("vec_id") % 2 === 1))
        .select(col("vec_id"), col("embedding")))
    (b1, b2)
  }

  private def semStore(s: SparkSession, emb: DataFrame,
      tag: String): graft.ext.IvfStore = {
    val path = graft.io.TempReaper.tempDir(s"graft-$tag-idx").toString + "/idx"
    graft.ext.IvfStore.create(emb.filter(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", path, k = 8, iters = 2,
      gateTau = 0.5, gateNprobe = 2)
  }

  /** DQ122 (EXT): the SEMANTIC ingest gate over the persisted IVF store
    * ([[graft.ext.IvfStore.semanticKeepUnseen]]) — the third gated index
    * modality (MinHash dq104, substring dq117, embeddings HERE): history
    * embeddings are trained+stored once, then two consecutive batches are
    * gated by SemDeDup's rule against the STORE — drop an incoming vector
    * whose max cosine vs stored vectors in its 2 probed cells exceeds
    * 0.5 — with batch 1's survivors APPENDED (map-only, frozen centroids)
    * before batch 2 gates. The probe is map-only and the batch's distinct
    * probed cells become a literal partition filter, so the gate reads
    * only probed cell partitions (Bench evidence). The oracle re-derives
    * training, the frozen assignment, both probe rounds, the cosine
    * edges, and the append semantics. */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (b1, b2) = semBatches(emb)
    val store = semStore(s, emb, "dq122")
    val kept1 = store.semanticKeepUnseen(b1, "vec_id", "embedding",
      tau = 0.5, nprobe = 2).localCheckpoint(true)
    store.append(kept1, "vec_id", "embedding")
    val kept2 = store.semanticKeepUnseen(b2, "vec_id", "embedding",
      tau = 0.5, nprobe = 2)
    kept1.select(lit(1L).as("batch"), col("vec_id"))
      .union(kept2.select(lit(2L).as("batch"), col("vec_id")))
      .orderBy("batch", "vec_id")
  }

  /** DQ123 (EXT, §2.9): dq122's semantic gate STREAMED — the two
    * embedding batches arrive as file-source micro-batches and the
    * UNCHANGED generic ingest loop ([[EventStream.runIndexedIngest]] over
    * [[graft.ext.IngestIndex]]) gates each against the persisted
    * [[graft.ext.IvfStore]] and appends its survivors before the next
    * batch fires — the same loop that serves both text modalities
    * (dq109/dq121), now serving embeddings. Exactly-once via batch
    * tokens + the replay-view gate. Shares dq122's oracle verbatim
    * (stream/batch parity, the dq109/dq104 precedent). */
  private def q123(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (b1, b2) = semBatches(emb)
    val in = graft.io.TempReaper.tempDir("graft-dq123-in").toString
    b1.coalesce(1).write.parquet(s"$in/b1.parquet")
    b2.coalesce(1).write.parquet(s"$in/b2.parquet")
    val later = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 120000L)
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$in/b2.parquet"))
      .forEach(p => { java.nio.file.Files.setLastModifiedTime(p, later); () })
    val store = semStore(s, emb, "dq123")
    val incoming = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
    EventStream.runIndexedIngest(incoming, store, "vec_id", "embedding", "dq123")
      .select(col("batch"), col("vec_id"))
      .orderBy("batch", "vec_id")
  }

  /** dq124's pipeline declaration, parameterized by the index path and
    * the round's batch selector (the config-driven ingest round). */
  private def dq124Config(path: String, whereExpr: String): String =
    s"""{"table": "documents", "id": "doc_id", "text": "text",
      | "stages": [
      |   {"stage": "where", "expr": "$whereExpr"},
      |   {"stage": "substr_gate", "path": "$path", "k": 8, "maxDupWindows": 0}]}"""
      .stripMargin

  /** DQ124 (EXT): CONFIG-DRIVEN incremental ingest
    * ([[graft.plan.CurationConfig.SubstrGate]], round-10 verdict #5) —
    * the persisted-index loop as a declared pipeline: a JSON config names
    * a `where` batch selector and a `substr_gate` stage pointing at a
    * stored index path. Round 1 (batch = doc_id % 4 = 1) finds no index
    * and SEEDS it from the batch (all kept — the bootstrap round); round
    * 2 re-parses a config with a wider selector (% 4 IN (1, 2)) against
    * the SAME path, so the re-sent % 4 = 1 documents are dropped through
    * the store (their own windows are indexed) while % 4 = 2 documents
    * survive unless they share an 8-token window with round 1. The
    * oracle re-derives the seeded digest set and the round-2 gate. */
  private def q124(s: SparkSession, dir: String): DataFrame = {
    val path = graft.io.TempReaper.tempDir("graft-dq124-idx").toString + "/idx"
    val r1 = graft.plan.CurationConfig
      .parse(dq124Config(path, "doc_id % 4 = 1")).run(s, dir, Some("r1"))
    val r2 = graft.plan.CurationConfig
      .parse(dq124Config(path, "doc_id % 4 = 1 OR doc_id % 4 = 2")).run(s, dir, Some("r2"))
    r1.select(lit(1L).as("round"), col("doc_id"))
      .union(r2.select(lit(2L).as("round"), col("doc_id")))
      .orderBy("round", "doc_id")
  }

  /** dq125's pipeline declaration over `embeddings` — the `text` column
    * of the pipeline contract is the embedding payload here. */
  private def dq125Config(path: String, whereExpr: String): String =
    s"""{"table": "embeddings", "id": "vec_id", "text": "embedding",
      | "stages": [
      |   {"stage": "where", "expr": "$whereExpr"},
      |   {"stage": "semantic_gate", "path": "$path", "k": 8,
      |    "tau": 0.5, "nprobe": 2}]}""".stripMargin

  /** DQ125 (EXT): CONFIG-DRIVEN semantic ingest
    * ([[graft.plan.CurationConfig.SemanticGate]]) — dq124's
    * declare-then-run ingest round for the EMBEDDING modality, so all
    * three persisted-index gates now have the config-driven form. Round 1
    * (vec_id % 3 != 0) seeds the store — trains the frozen centroids on
    * the batch, everything kept; round 2 re-parses the config with the
    * held-out selector (% 3 = 0) against the SAME path: each vector
    * probes its 2 nearest frozen cells and is dropped when its cosine
    * against a STORED vector there exceeds 0.5. The oracle replays the
    * training chain, the assignment, the probes, and the gate. */
  private def q125(s: SparkSession, dir: String): DataFrame = {
    val path = graft.io.TempReaper.tempDir("graft-dq125-idx").toString + "/idx"
    val r1 = graft.plan.CurationConfig
      .parse(dq125Config(path, "vec_id % 3 <> 0")).run(s, dir, Some("r1"))
    val r2 = graft.plan.CurationConfig
      .parse(dq125Config(path, "vec_id % 3 = 0")).run(s, dir, Some("r2"))
    r1.select(lit(1L).as("round"), col("vec_id"))
      .union(r2.select(lit(2L).as("round"), col("vec_id")))
      .orderBy("round", "vec_id")
  }

  /** DQ179 (EXT/runner): the PQ-TIER semantic gate DECLARED — dq125's
    * two-round config with `tier: "pq"` (the gate's wide net reads
    * m-byte codes through the declared surface — the scale path as a
    * config knob, residual+permuted, dq178's engine route) at a
    * FULL-WIDTH shortlist, which the parity spec pins bit-identical to
    * the float gate — so the oracle IS dq125's chain (the dq84→dq51 and
    * dq127→dq86 same-oracle precedent: a differently-executed query
    * whose answer the contract fixes). The NARROW-net form is dq178's
    * own oracle. Round 1 seeds the store WITH the tier (codes +
    * residual books + balanced permutation trained on the seed batch);
    * round 2 gates the held-out selector through ADC + exact refine. */
  private def q179(s: SparkSession, dir: String): DataFrame = {
    val path = graft.io.TempReaper.tempDir("graft-dq179-idx").toString + "/idx"
    def cfg(whereExpr: String): String =
      s"""{"table": "embeddings", "id": "vec_id", "text": "embedding",
        | "stages": [
        |   {"stage": "where", "expr": "$whereExpr"},
        |   {"stage": "semantic_gate", "path": "$path", "k": 8,
        |    "tau": 0.5, "nprobe": 2, "tier": "pq", "pqM": 16,
        |    "pqK": 16, "pqResidual": true, "pqPermute": true,
        |    "shortlist": 100000}]}""".stripMargin
    val r1 = graft.plan.CurationConfig
      .parse(cfg("vec_id % 3 <> 0")).run(s, dir, Some("r1"))
    val r2 = graft.plan.CurationConfig
      .parse(cfg("vec_id % 3 = 0")).run(s, dir, Some("r2"))
    r1.select(lit(1L).as("round"), col("vec_id"))
      .union(r2.select(lit(2L).as("round"), col("vec_id")))
      .orderBy("round", "vec_id")
  }

  /** DQ126 (EXT): the STORED SQ8 candidate tier of the persisted IVF
    * index ([[graft.ext.IvfStore.searchPacked]]) — dq118's layout with
    * the search moved onto the `packed/` relation: every stored vector's
    * unit form is quantized to packed int8 at WRITE time (1 B/dim), the
    * probe is the same static partition filter, and scoring is the
    * codegen'd integer ByteDot — the candidate scan reads a quarter of
    * the float bytes on top of reading only nprobe of the cell
    * partitions. Same fixture as dq118 (train on the 80% split, append
    * the held-out 20% against frozen centroids, query an appended id);
    * the oracle re-derives training, assignment, probes, the unit-vector
    * SQ8 quantization (floor(x·127 + 0.5) clamp — the engine-portable
    * rounding), and the integer ranking. */
  private def q126(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val path = graft.io.TempReaper.tempDir("graft-dq126-idx").toString + "/idx"
    val store = graft.ext.IvfStore.create(emb.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", path, k = 8, iters = 2)
    store.appendOnce(emb.filter(col("vec_id") % 5 === 0), "vec_id",
      "embedding", "dq126#b1")
    store.searchPacked(store.vectorsOf(Seq(1L, 2L, 5L)), topK = 5,
        nprobe = 2)
      .orderBy("qid", "vid")
  }

  /** DQ127 (EXT): the PERSISTED BM25 inverted index
    * ([[graft.ext.Bm25Store]]) — the retrieval modality's stored layout,
    * completing the index family: the corpus is tokenized ONCE into a
    * term-hash-bucket-partitioned posting relation (80% at build, the
    * held-out 20% appended exactly-once under a token), corpus statistics
    * (N, Σdl) accumulate as exact Longs, and a search reads ONLY its own
    * query terms' buckets (partition pruning at file listing, `term IN`
    * pushed to row groups) — document text is never re-read. Scoring runs
    * the SAME expression tree as the session scorer (dq86), so the oracle
    * is dq86's chain verbatim: stored search over build+append must rank
    * exactly like session BM25 over the whole corpus. */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") % 101 === 0)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(TextAnalysis.tokens(col("text")), 1, 4)))
          .as("term"))
    val path = graft.io.TempReaper.tempDir("graft-dq127-idx").toString + "/idx"
    val store = graft.ext.Bm25Store.build(docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", path)
    store.appendOnce(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
      "dq127#b1")
    store.search(queries, k = 3).orderBy("qid", "rnk")
  }

  /** DQ128 (EXT): the PERSISTED bigram LM as an incremental fluency gate
    * ([[graft.ext.NgramLmStore]]) — the fifth stored modality: bigram
    * counts are associative, so history is tokenized ONCE into count
    * partials and each batch scores against the SUMMED stored model
    * (integer micro-probabilities, the dq92 arithmetic), keeps documents
    * whose mean is in the stored band (replays of corpus-shaped text
    * pass; token-mutated text's unseen transitions drag the mean down),
    * and APPENDS the survivors' counts — the model update IS the append,
    * so batch 2 scores against history + batch-1 survivors, including
    * the integer-division shifts the grown prefix totals cause. The
    * oracle replays both rounds' models, scores, bands, and the count
    * union. */
  private def q128(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (b1, b2) = nearDupBatches(docs)
    val path = graft.io.TempReaper.tempDir("graft-dq128-idx").toString + "/idx"
    val store = graft.ext.NgramLmStore.build(docs, "doc_id", "text", path,
      loMicro = 20000L)
    val st = store.stats
    val kept1 = store.keepBand(b1, "doc_id", "text", st.loMicro, st.hiMicro)
      .localCheckpoint(true)
    store.append(kept1, "doc_id", "text")
    val kept2 = store.keepBand(b2, "doc_id", "text", st.loMicro, st.hiMicro)
    kept1.select(lit(1L).as("batch"), col("doc_id"))
      .union(kept2.select(lit(2L).as("batch"), col("doc_id")))
      .orderBy("batch", "doc_id")
  }

  /** DQ129 (EXT, §2.9): dq128's stored-model gate STREAMED through the
    * UNCHANGED generic ingest loop ([[EventStream.runIndexedIngest]]);
    * exactly-once via batch tokens + the replay-view gate. Shares
    * dq128's oracle verbatim. */
  private def q129(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (b1, b2) = nearDupBatches(docs)
    val in = graft.io.TempReaper.tempDir("graft-dq129-in").toString
    b1.coalesce(1).write.parquet(s"$in/b1.parquet")
    b2.coalesce(1).write.parquet(s"$in/b2.parquet")
    val later = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 120000L)
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$in/b2.parquet"))
      .forEach(p => { java.nio.file.Files.setLastModifiedTime(p, later); () })
    val idxPath = graft.io.TempReaper.tempDir("graft-dq129-idx").toString + "/idx"
    val store = graft.ext.NgramLmStore.build(docs, "doc_id", "text", idxPath,
      loMicro = 20000L)
    val incoming = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
    EventStream.runIndexedIngest(incoming, store, "doc_id", "text", "dq129")
      .select(col("batch"), col("doc_id"))
      .orderBy("batch", "doc_id")
  }

  /** DQ130 (EXT): CONFIG-DRIVEN LM-gated ingest
    * ([[graft.plan.CurationConfig.LmGate]]) — the declare-then-run form of
    * dq128's stored-model loop, extending the config family to a fourth
    * gated modality (substr dq124, semantic dq125, LM here): round 1
    * (doc_id % 4 = 1) seeds the model from the batch (counts = training,
    * all kept); round 2 re-parses with the wider selector against the
    * SAME path and band-gates every document against the seeded model,
    * folding survivors' counts back in. The oracle replays the seed
    * model, the integer scoring, and the band. */
  private def q130(s: SparkSession, dir: String): DataFrame = {
    val path = graft.io.TempReaper.tempDir("graft-dq130-idx").toString + "/idx"
    def cfg(whereExpr: String): String =
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "where", "expr": "$whereExpr"},
        |   {"stage": "lm_gate", "path": "$path", "loMicro": 20000}]}"""
        .stripMargin
    val r1 = graft.plan.CurationConfig.parse(cfg("doc_id % 4 = 1")).run(s, dir, Some("r1"))
    val r2 = graft.plan.CurationConfig
      .parse(cfg("doc_id % 4 = 1 OR doc_id % 4 = 2")).run(s, dir, Some("r2"))
    r1.select(lit(1L).as("round"), col("doc_id"))
      .union(r2.select(lit(2L).as("round"), col("doc_id")))
      .orderBy("round", "doc_id")
  }

  /** DQ131 (EXT): PERSISTED quality-probe statistics
    * ([[graft.ext.QualityProbeStore]]) — dq112's normal-equations moment
    * table maintained INCREMENTALLY: moments are associative Long sums,
    * so the store accumulates per-append partials, with each batch's
    * regression target scored against a FROZEN reference LM (an
    * [[graft.ext.NgramLmStore]] built once from history — the fixed
    * model that makes the sums associative; for the seed batch it IS the
    * self-model, so the seed equals dq112's table). The held-out 20% is
    * appended exactly-once and the output is the SUMMED table — the
    * oracle re-derives the frozen model, both batches' targets
    * (absent-bigram zeros included), the integer-milli features, and the
    * moment sums over the union. */
  private def q131(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val path = graft.io.TempReaper.tempDir("graft-dq131-idx").toString + "/idx"
    val store = graft.ext.QualityProbeStore.create(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", path)
    store.appendOnce(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
      "dq131#b1")
    store.moments().orderBy("term")
  }

  /** DQ132 (EXT): the stored statistics as the FIFTH gated modality —
    * [[graft.ext.QualityProbeStore.keepAboveMean]] keeps batch documents
    * scoring at or above the stored corpus's mean quality under the
    * CURRENT Cramer weights (threshold ⌊Σ w_j·m_0_j / m_0_0⌋ — both
    * model and threshold off the 14-row table, no history rescan), and
    * survivors' moments fold back in, moving the model for round 2.
    * The oracle re-derives the frozen LM, both rounds' exact-rational
    * weights and mean thresholds in HUGEINT, and the integer scores. */
  private def q132(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (b1, b2) = nearDupBatches(docs)
    val path = graft.io.TempReaper.tempDir("graft-dq132-idx").toString + "/idx"
    val store = graft.ext.QualityProbeStore.create(docs, "doc_id", "text", path)
    val kept1 = store.keepAboveMean(b1, "doc_id", "text").localCheckpoint(true)
    store.append(kept1, "doc_id", "text")
    val kept2 = store.keepAboveMean(b2, "doc_id", "text")
    kept1.select(lit(1L).as("batch"), col("doc_id"))
      .union(kept2.select(lit(2L).as("batch"), col("doc_id")))
      .orderBy("batch", "doc_id")
  }

  /** DQ133 (EXT, §2.9): dq132's stored-statistics gate STREAMED through
    * the UNCHANGED generic ingest loop — [[EventStream.runIndexedIngest]]
    * now serves all FIVE gated modalities; exactly-once via batch tokens
    * + the replay-view gate. Shares dq132's oracle verbatim. */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (b1, b2) = nearDupBatches(docs)
    val in = graft.io.TempReaper.tempDir("graft-dq133-in").toString
    b1.coalesce(1).write.parquet(s"$in/b1.parquet")
    b2.coalesce(1).write.parquet(s"$in/b2.parquet")
    val later = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 120000L)
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$in/b2.parquet"))
      .forEach(p => { java.nio.file.Files.setLastModifiedTime(p, later); () })
    val idxPath = graft.io.TempReaper.tempDir("graft-dq133-idx").toString + "/idx"
    val store = graft.ext.QualityProbeStore.create(docs, "doc_id", "text", idxPath)
    val incoming = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
    EventStream.runIndexedIngest(incoming, store, "doc_id", "text", "dq133")
      .select(col("batch"), col("doc_id"))
      .orderBy("batch", "doc_id")
  }

  /** DQ134 (EXT): CONFIG-DRIVEN probe-gated ingest
    * ([[graft.plan.CurationConfig.ProbeGate]]) — the declare-then-run
    * form of dq132's loop, completing the config family over all FIVE
    * gated modalities: round 1 (doc_id % 4 = 1) seeds the statistics
    * (frozen LM + self-model moments, all kept); round 2 re-parses with
    * the wider selector against the SAME path and mean-gates every
    * document against the stored model, folding survivors' moments back
    * in. The oracle replays the seed model, the Cramer weights, the
    * moments-only threshold, and the integer scoring. */
  private def q134(s: SparkSession, dir: String): DataFrame = {
    val path = graft.io.TempReaper.tempDir("graft-dq134-idx").toString + "/idx"
    def cfg(whereExpr: String): String =
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "where", "expr": "$whereExpr"},
        |   {"stage": "probe_gate", "path": "$path"}]}""".stripMargin
    val r1 = graft.plan.CurationConfig.parse(cfg("doc_id % 4 = 1")).run(s, dir, Some("r1"))
    val r2 = graft.plan.CurationConfig
      .parse(cfg("doc_id % 4 = 1 OR doc_id % 4 = 2")).run(s, dir, Some("r2"))
    r1.select(lit(1L).as("round"), col("doc_id"))
      .union(r2.select(lit(2L).as("round"), col("doc_id")))
      .orderBy("round", "doc_id")
  }

  /** DQ135 (EXT): the FULL config-declared CURATION LOOP — one JSON
    * pipeline chaining exact dedup and THREE persisted gates
    * (exact_dedup → substr_gate → lm_gate → probe_gate) over the same
    * store family, run for two ingest rounds: round 1 seeds all three
    * stores from the deduped batch (each gate bootstraps, all kept);
    * round 2's wider selector is deduped, then window-gated against the
    * stored digests, band-gated against the stored LM, and mean-gated
    * against the stored statistics — each stage over the previous
    * stage's survivors, each appending its survivors back. The
    * reference's declare-then-run workflow composed across the index
    * family; the oracle replays all four stages per round. */
  private def q135(s: SparkSession, dir: String): DataFrame = {
    val base = graft.io.TempReaper.tempDir("graft-dq135-idx").toString
    def cfg(whereExpr: String): String =
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "where", "expr": "$whereExpr"},
        |   {"stage": "exact_dedup"},
        |   {"stage": "substr_gate", "path": "$base/ss", "k": 8, "maxDupWindows": 0},
        |   {"stage": "lm_gate", "path": "$base/lm", "loMicro": 20000},
        |   {"stage": "probe_gate", "path": "$base/qp"}]}""".stripMargin
    val r1 = graft.plan.CurationConfig.parse(cfg("doc_id % 4 = 1")).run(s, dir, Some("r1"))
    val r2 = graft.plan.CurationConfig
      .parse(cfg("doc_id % 4 = 1 OR doc_id % 4 = 2")).run(s, dir, Some("r2"))
    r1.select(lit(1L).as("round"), col("doc_id"))
      .union(r2.select(lit(2L).as("round"), col("doc_id")))
      .orderBy("round", "doc_id")
  }

  /** DQ136 (EXT): the PERSISTED BPE state ([[graft.ext.BpeStore]]) —
    * training consumes only the distinct-word count table, and word
    * counts are associative, so the store accumulates per-append
    * (word, cnt) partials (text read once per document ever) and
    * [[graft.ext.BpeStore.retrain]] learns from the SUMMED table: the
    * result is EXACTLY [[graft.ext.BpeTrain.learn]] over the union
    * corpus, so the oracle is dq107's full unrolled merge chain
    * verbatim (history create + held-out append = the whole corpus). */
  private def q136(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val path = graft.io.TempReaper.tempDir("graft-dq136-idx").toString + "/idx"
    val store = graft.ext.BpeStore.create(
      docs.filter(col("doc_id") % 5 =!= 0), "text", path,
      numMerges = BpeMerges)
    store.appendOnce(docs.filter(col("doc_id") % 5 === 0), "text",
      "dq136#b1")
    val model = store.retrain(BpeMerges)
    s.createDataFrame(model.merges)
      .select(col("step").cast("long").as("step"),
        col("left").as("left_sym"), col("right").as("right_sym"),
        col("pairCount").as("pair_count"))
      .orderBy("step")
  }

  /** DQ137 (EXT): STORED-vocabulary subword tokenization —
    * [[graft.ext.BpeStore.tokenize]] reads the committed merge table
    * (no training at open time) and runs dq108's codegen'd inference
    * kernel under it; a store created from the corpus tokenizes it
    * bit-identically to the per-call train+tokenize, so the oracle is
    * dq108's chain verbatim (the dq127/dq86 stored-reuses-session
    * pattern). */
  private def q137(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val path = graft.io.TempReaper.tempDir("graft-dq137-idx").toString + "/idx"
    graft.ext.BpeStore.create(docs, "text", path, numMerges = BpeMerges)
    val store = graft.ext.BpeStore.open(s, path)
    store.tokenize(docs, "doc_id", "text")
      .select(col("doc_id"),
        size(col("subtokens")).cast("long").as("n_subtokens"),
        md5(array_join(col("subtokens"), " ")).as("subtok_md5"))
      .orderBy("doc_id")
  }

  /** DQ138 (EXT): the config-declared CURATE-THEN-TOKENIZE pipeline
    * ([[graft.plan.CurationConfig.BpeTokenize]]) — a JSON pipeline whose
    * terminal stage seeds the stored BPE state
    * ([[graft.ext.BpeStore]]) from the dedup survivors and emits their
    * subtoken stream under that vocabulary: the end of a production
    * training-data pipeline (curated documents out as training-ready
    * tokens). The oracle runs the full unrolled merge chain AND the
    * greedy longest-match inference recurrence over the survivor
    * selection. */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    val path = graft.io.TempReaper.tempDir("graft-dq138-idx").toString + "/idx"
    val cfg =
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "where", "expr": "doc_id % 3 = 1"},
        |   {"stage": "exact_dedup"},
        |   {"stage": "bpe_tokenize", "path": "$path", "numMerges": $BpeMerges}]}"""
        .stripMargin
    graft.plan.CurationConfig.parse(cfg).run(s, dir)
      .select(col("doc_id"),
        size(col("subtokens")).cast("long").as("n_subtokens"),
        md5(array_join(col("subtokens"), " ")).as("subtok_md5"))
      .orderBy("doc_id")
  }

  /** DQ139 (EXT, §2.9): dq136's count folding STREAMED — the two
    * held-out halves arrive as micro-batches through
    * [[EventStream.runFoldIngest]] (exactly-once via batch tokens: a
    * replayed micro-batch's `appendOnce` is a no-op), then one
    * [[graft.ext.BpeStore.retrain]] over the summed table. Word counts
    * are associative, so stream order is invisible and the result is
    * the from-scratch chain over ALL documents — dq107's oracle
    * verbatim, the third reuse (batch dq136 / stream here). */
  private def q139(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val incoming = EventStream.twoFileBatchStream(
      docs.filter(col("doc_id") % 10 === 0),
      docs.filter(col("doc_id") % 10 === 5), "dq139")
    val path = graft.io.TempReaper.tempDir("graft-dq139-idx").toString + "/idx"
    val store = graft.ext.BpeStore.create(
      docs.filter(col("doc_id") % 5 =!= 0), "text", path,
      numMerges = BpeMerges)
    EventStream.runFoldIngest(incoming, "dq139") { (batch, token) =>
      store.appendOnce(batch, "text", token); ()
    }
    val model = store.retrain(BpeMerges)
    s.createDataFrame(model.merges)
      .select(col("step").cast("long").as("step"),
        col("left").as("left_sym"), col("right").as("right_sym"),
        col("pairCount").as("pair_count"))
      .orderBy("step")
  }

  /** DQ140 (EXT, §2.9): dq127's posting ingest STREAMED — the held-out
    * 20% arrives as two micro-batches through
    * [[EventStream.runFoldIngest]] (exactly-once posting + statistics
    * appends via batch tokens: a replayed micro-batch's `appendOnce` is
    * a no-op), then the same stored search. Postings and the N/Σdl
    * partials are associative, so stream order and batch boundaries are
    * invisible and the stored ranking equals session BM25 over the
    * whole corpus — dq86's oracle, the third reuse (session dq86 /
    * batch-built dq127 / stream here). Completes the retrieval
    * modality's streamed twin: every stored layout now has one (gated
    * loops dq109/121/123/129/133, fold loops dq139 and here). */
  private def q140(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") % 101 === 0)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(TextAnalysis.tokens(col("text")), 1, 4)))
          .as("term"))
    val incoming = EventStream.twoFileBatchStream(
      docs.filter(col("doc_id") % 10 === 0),
      docs.filter(col("doc_id") % 10 === 5), "dq140")
    val path = graft.io.TempReaper.tempDir("graft-dq140-idx").toString + "/idx"
    val store = graft.ext.Bm25Store.build(docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", path)
    EventStream.runFoldIngest(incoming, "dq140") { (batch, token) =>
      store.appendOnce(batch, "doc_id", "text", token); ()
    }
    store.search(queries, k = 3).orderBy("qid", "rnk")
  }

  /** DQ141 (EXT, runner): the CONFIG-DRIVEN near-dup ingest — the
    * `neardup_gate` stage run for two pipeline rounds (round-11 verdict
    * #7: the one gate stage without its own oracle-gated query): round 1
    * seeds the stored [[graft.ext.NearDupIndex]] from its batch (all
    * kept), round 2 re-sends round 1's slice (every doc an exact replay
    * of a STORED doc — banded to its own bucket, digest Jaccard 1.0,
    * dropped) plus a fresh slice gated for near-dups against the store.
    * The oracle re-derives dq104's shingle→digest→band→cap→Jaccard chain
    * ([[dq104Chain]], shared verbatim) over the two where-selected
    * slices. */
  private def q141(s: SparkSession, dir: String): DataFrame = {
    val path = graft.io.TempReaper.tempDir("graft-dq141-idx").toString + "/idx"
    def cfg(whereExpr: String): String =
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "where", "expr": "$whereExpr"},
        |   {"stage": "neardup_gate", "path": "$path", "numHashes": 16,
        |    "bands": 4, "maxBucket": 100, "threshold": 0.8}]}""".stripMargin
    val r1 = graft.plan.CurationConfig.parse(cfg("doc_id % 4 = 1"))
      .run(s, dir, Some("r1"))
    val r2 = graft.plan.CurationConfig
      .parse(cfg("doc_id % 4 = 1 OR doc_id % 4 = 2")).run(s, dir, Some("r2"))
    r1.select(lit(1L).as("round"), col("doc_id"))
      .union(r2.select(lit(2L).as("round"), col("doc_id")))
      .orderBy("round", "doc_id")
  }

  /** DQ142 (EXT): IVF REFIT — the index-lifecycle step of
    * [[graft.ext.IvfStore]] (round-11 verdict #5): train on the 80%
    * split, append the held-out 20% against the frozen generation-1
    * centroids, then [[graft.ext.IvfStore.refit]] — retrain on the
    * STORED corpus, re-assign every vector, commit a superseding
    * GENERATION — and search. The oracle trains the dq51 Lloyd's chain
    * on the FULL table: matching it proves refit-from-the-stored-relation
    * equals a from-scratch create on the union corpus (the `retrain`
    * precedent, dq136, applied to ANN), generation cut-over included. */
  private def q142(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val path = graft.io.TempReaper.tempDir("graft-dq142-idx").toString + "/idx"
    val store = graft.ext.IvfStore.create(emb.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", path, k = 8, iters = 2)
    store.appendOnce(emb.filter(col("vec_id") % 5 === 0), "vec_id",
      "embedding", "dq142#b1")
    store.refit(k = 8, iters = 2)
    store.search(store.vectorsOf(Seq(1L, 2L, 5L)), topK = 5, nprobe = 2)
      .orderBy("qid", "vid")
  }

  /** dq143's pipeline — dq116's three curation stages behind a WHERE
    * batch selector, run in AUDIT mode. */
  private[graft] val Dq143Config =
    """{"table": "documents", "id": "doc_id", "text": "text",
      | "stages": [
      |   {"stage": "where", "expr": "doc_id % 4 < 3"},
      |   {"stage": "exact_dedup"},
      |   {"stage": "quality_gate", "minTokens": 24, "maxTokens": 10000},
      |   {"stage": "fluency_band", "loMicro": 33900, "hiMicro": 35300}]}"""
      .stripMargin

  /** DQ143 (EXT): the curation-loop DROP AUDIT
    * ([[graft.plan.CurationConfig.PipelineDef.runAudited]]) — the
    * accounting a production pipeline needs to answer "which stage
    * dropped this document": every input row's fate as `(doc_id,
    * stage_idx, stage)` — the 1-based index and config name of the
    * dropping stage, or `(0, "kept")` for a survivor. Attribution is a
    * generic id anti-join across each stage boundary, so it covers every
    * stage kind (persisted-store gates included); here the four audited
    * stages are dq116's chain behind a `where` selector so the oracle
    * can re-derive each stage's drop set as CTEs. */
  private def q143(s: SparkSession, dir: String): DataFrame = {
    val pipeline = graft.plan.CurationConfig.parse(Dq143Config)
    val (_, audit) = pipeline.runAudited(s, dir)
    audit.orderBy("doc_id")
  }

  /** DQ144 (EXT): BENCHMARK DECONTAMINATION as a declared config stage
    * ([[graft.plan.CurationConfig.DecontamGate]]) — the eval-leakage
    * guard of a training pipeline in its production form: the stage's
    * [[graft.ext.SubstrIndex]] is built ON FIRST USE from the declared
    * benchmark slice (never from the batch) and batch documents sharing
    * any verbatim 8-token window with it are dropped. The batch slice
    * (doc_id % 5 = 0) CONTAINS the benchmark slice (doc_id % 10 = 0), so
    * the verbatim benchmark members fall and the disjoint half survives.
    * Gate-only ⇒ idempotent: round 2 re-sends the SAME batch against the
    * frozen index and must return identical survivors (nothing was
    * appended) — both rounds are the output. Oracle: the dq117 window
    * chain, benchmark-vs-batch, emitted twice. */
  private def q144(s: SparkSession, dir: String): DataFrame = {
    val path = graft.io.TempReaper.tempDir("graft-dq144-idx").toString + "/idx"
    val cfg =
      s"""{"table":"documents","id":"doc_id","text":"text",
        | "stages":[{"stage":"where","expr":"doc_id % 5 = 0"},
        |   {"stage":"decontam_gate","path":"$path","k":8,
        |    "benchmarkTable":"documents",
        |    "benchmarkWhere":"doc_id % 10 = 0"}]}""".stripMargin
    val pipeline = graft.plan.CurationConfig.parse(cfg)
    def round(n: Long): DataFrame = pipeline.run(s, dir)
      .select(lit(n).as("round"), col("doc_id"),
        md5(col("text")).as("text_md5"))
    round(1L).unionByName(round(2L)).orderBy("round", "doc_id")
  }

  /** DQ145 (EXT): STREAMED benchmark decontamination
    * ([[graft.streaming.EventStream.runFrozenGate]]) — the gate-ONLY
    * twin of the generic ingest loop: every micro-batch is gated against
    * the SAME frozen benchmark [[graft.ext.SubstrIndex]] (built once
    * from the doc_id % 10 = 0 slice, NEVER appended to). Batch 2 sends
    * the SAME documents as batch 1 and must return the IDENTICAL
    * survivor set — an appending gate would return none of them —
    * dq144's gate-only idempotence contract, streamed, with no token
    * machinery at all (replays re-gate against an unchanged store). */
  private def q145(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
    val incoming = EventStream.twoFileBatchStream(batch, batch, "dq145")
    val idxPath = graft.io.TempReaper.tempDir("graft-dq145-idx").toString + "/idx"
    val idx = graft.ext.SubstrIndex.build(
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", idxPath, k = 8)
    EventStream.runFrozenGate(incoming, idx, "doc_id", "text", "dq145")
      .select(col("batch"), col("doc_id"), md5(col("text")).as("text_md5"))
      .orderBy("batch", "doc_id")
  }

  /** DQ146 (EXT): TEMPERATURE-scaled source mixture
    * ([[graft.ext.Sampling.temperatureMixPortable]]) — the GPT-3 / Pile
    * mixing rule: per-source weight n_s^0.5 flattens the mixture toward
    * rare sources, a target document count implies per-source acceptance
    * rates, membership via the engine-portable md5 gate. The rate
    * derivation is bit-exact cross-engine by construction: one correctly
    * rounded sqrt per source, then pure integer (BigInt ↔ HUGEINT)
    * arithmetic — the oracle re-derives every rate and every member. One
    * driver-sized count aggregate + one gated scan; bodies never
    * shuffle. */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ext.Sampling
      .temperatureMixPortable(docs, "source", "doc_id", targetDocs = 200L)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  /** DQ147 (EXT): the CANONICAL curation chain as ONE declared config —
    * language gate → exact dedup → temperature-scaled mixture, the
    * opening stages of every real LLM data pipeline, composed: the
    * dedup sees only the kept language, and the mixture's per-source
    * rates derive from the DEDUPED counts (the composition point — a
    * source full of duplicates must not inflate its mixture weight).
    * Oracle: dq16's language argmax as a filter, dq116's lowest-id
    * content dedup, dq146's integer rate chain computed over the
    * survivors. */
  private def q147(s: SparkSession, dir: String): DataFrame = {
    val cfg =
      """{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "lang_gate", "keep": ["en"]},
        |   {"stage": "exact_dedup"},
        |   {"stage": "temperature_mix", "strata": "source",
        |    "targetDocs": 150}]}""".stripMargin
    graft.plan.CurationConfig.parse(cfg).run(s, dir)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  /** DQ148 (EXT): per-SOURCE repetition factors
    * ([[graft.ext.Sampling.repeatEpochsByStrata]]) — the LLaMA recipe's
    * "epochs per dataset" table: even-numbered sources repeat 2.5×
    * (two full epochs + a stable half-rate partial), odd-numbered 0.25×
    * (a quarter-rate single pass). Factors chosen with exact binary
    * fractions so the micro-rates (500000 / 250000) are the same
    * integers in both engines; membership via the shared md5 gate. */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val srcs = docs.select("source").distinct()
      .collect().map(_.getString(0))
    val factors = srcs.map { src =>
      val tier = src.reverse.takeWhile(_.isDigit).reverse match {
        case "" => 1L
        case ds => ds.toLong % 2
      }
      src -> (if (tier == 0L) 2.5 else 0.25)
    }.toMap
    graft.ext.Sampling
      .repeatEpochsByStrata(docs, "source", "doc_id", factors)
      .select(col("doc_id"), col("source"), col("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** DQ149 (EXT): STREAMED SEMANTIC decontamination —
    * [[graft.streaming.EventStream.runFrozenGate]] over the persisted
    * IVF store: the stored corpus is a FROZEN evaluation embedding set
    * (the dq122 history slice), both micro-batches carry the SAME
    * held-out slice, and survivors are the vectors with no stored
    * neighbor above tau in their probed cells. Because the gate never
    * appends, batch 2 must return batch 1's survivors verbatim — an
    * appending gate would drop every one as a self-duplicate. The
    * embedding twin of dq145's verbatim-window frozen gate: ONE generic
    * loop, two frozen-reference modalities. */
  private def q149(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val batch = emb.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"), col("embedding"))
    val store = semStore(s, emb, "dq149")
    val incoming = EventStream.twoFileBatchStream(batch, batch, "dq149")
    EventStream.runFrozenGate(incoming, store, "vec_id", "embedding", "dq149")
      .select(col("batch"), col("vec_id"))
      .orderBy("batch", "vec_id")
  }

  /** DQ150 (EXT): the REFERENCE-LM quality filter, streamed — the CCNet
    * shape (Wenzek et al. 2019: score candidate documents against a
    * fixed LM trained on a trusted reference corpus) via
    * [[graft.streaming.EventStream.runFrozenGate]] over the persisted
    * [[graft.ext.NgramLmStore]]: the stored model is FROZEN (trained on
    * the full documents corpus), both micro-batches carry dq128's
    * mutated batch, and survivors are band-kept by their micro-mean
    * against that model. Gate-only ⇒ batch 2 returns batch 1's
    * survivors verbatim — the fold loop (dq129) would instead adapt the
    * model between batches. Third frozen-reference modality through the
    * ONE generic loop. */
  private def q150(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (b1, _) = nearDupBatches(docs)
    val path = graft.io.TempReaper.tempDir("graft-dq150-idx").toString + "/idx"
    val store = graft.ext.NgramLmStore.build(docs, "doc_id", "text", path,
      loMicro = 20000L)
    val incoming = EventStream.twoFileBatchStream(b1, b1, "dq150")
    EventStream.runFrozenGate(incoming, store, "doc_id", "text", "dq150")
      .select(col("batch"), col("doc_id"))
      .orderBy("batch", "doc_id")
  }

  /** DQ151 (EXT): the FROZEN QUALITY-CLASSIFIER filter, streamed — the
    * quality-model gating of modern corpus curation (a classifier
    * trained once on a trusted slice filters all candidates; the
    * FineWeb-Edu shape) via [[graft.streaming.EventStream
    * .runFrozenGate]] over the persisted
    * [[graft.ext.QualityProbeStore]]: the stored moments (and therefore
    * the Cramer weights AND the mean threshold) are frozen at the
    * trusted slice, both micro-batches carry the same candidate set,
    * survivors score at or above the frozen mean. Gate-only ⇒ identical
    * survivors in both batches — dq133's fold loop would shift the
    * threshold as batches fold in. FOURTH frozen-reference modality
    * through the one generic loop (dq152 closes the fifth). */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val path = graft.io.TempReaper.tempDir("graft-dq151-idx").toString + "/idx"
    val store = graft.ext.QualityProbeStore.create(
      docs.filter(col("doc_id") % 4 === 1), "doc_id", "text", path)
    val batch = docs
      .filter(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2)
      .select(col("doc_id"), col("text"))
    val incoming = EventStream.twoFileBatchStream(batch, batch, "dq151")
    EventStream.runFrozenGate(incoming, store, "doc_id", "text", "dq151")
      .select(col("batch"), col("doc_id"))
      .orderBy("batch", "doc_id")
  }

  /** DQ152 (EXT): FUZZY benchmark decontamination, streamed — the
    * near-duplicate complement of dq145's verbatim windows (real eval
    * leakage is usually paraphrased, which is exactly what MinHash sees
    * and exact windows can miss): [[graft.streaming.EventStream
    * .runFrozenGate]] over a [[graft.ext.NearDupIndex]] built ONCE from
    * the frozen benchmark slice (doc_id % 10 = 0) and never appended to.
    * The candidate batch carries light paraphrases of benchmark members
    * (a one-token tail — Jaccard stays above the 0.8 gate, dropped),
    * heavy rewrites (every 3rd token mutated — most shingles break,
    * kept), and disjoint documents (kept); both micro-batches send the
    * SAME candidates and must return the IDENTICAL survivor set. FIFTH
    * frozen-reference modality: every gated store family now has both an
    * adaptive (fold/append) and a frozen (reference) streamed form.
    * Oracle: dq104's shingle→digest→band→cap→Jaccard chain verbatim,
    * benchmark-vs-batch, emitted for both batch numbers. */
  private def q152(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zzztail")).as("text"))
      .union(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          mutateTokens(col("text"), 3, "x").as("text")))
      .union(docs.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 300000).as("doc_id"), col("text")))
    val incoming = EventStream.twoFileBatchStream(batch, batch, "dq152")
    val idxPath = graft.io.TempReaper.tempDir("graft-dq152-idx").toString + "/idx"
    val idx = graft.ext.NearDupIndex.build(bench, "doc_id", "text", idxPath)
    EventStream.runFrozenGate(incoming, idx, "doc_id", "text", "dq152")
      .select(col("batch"), col("doc_id"), md5(col("text")).as("text_md5"))
      .orderBy("batch", "doc_id")
  }

  /** DQ153 (EXT, §2.9): the DECLARED curation pipeline STREAMED
    * ([[graft.streaming.EventStream.runConfigPipeline]]) — dq135's full
    * config chain (exact_dedup → substr_gate → lm_gate → probe_gate,
    * three persisted stores) with the two ingest ROUNDS arriving as
    * micro-batches of a file-source stream: batch 1 seeds all three
    * stores through the declared stages (everything kept), batch 2 is
    * gated against them and its survivors fold in — the capstone
    * composition of the config workflow with the streaming loop, zero
    * new gate code (each micro-batch runs `PipelineDef.applyStages`
    * under runId `dq153:b<id>`, so the existing `cfg:<runId>:s<i>`
    * stage tokens make micro-batch replay exactly-once per stage).
    * Identical result contract to dq135's named batch rounds, so it
    * shares the oracle SQL verbatim. */
  private def q153(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val base = graft.io.TempReaper.tempDir("graft-dq153-idx").toString
    val cfg =
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "exact_dedup"},
        |   {"stage": "substr_gate", "path": "$base/ss", "k": 8, "maxDupWindows": 0},
        |   {"stage": "lm_gate", "path": "$base/lm", "loMicro": 20000},
        |   {"stage": "probe_gate", "path": "$base/qp"}]}""".stripMargin
    val pipeline = graft.plan.CurationConfig.parse(cfg)
    val b1 = docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), col("text"))
    val b2 = docs.filter(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2)
      .select(col("doc_id"), col("text"))
    val incoming = EventStream.twoFileBatchStream(b1, b2, "dq153")
    EventStream.runConfigPipeline(incoming, pipeline, dir, "dq153")
      .select(col("batch").as("round"), col("doc_id"))
      .orderBy("round", "doc_id")
  }

  /** DQ154 (EXT, §2.9): the STREAMED drop audit
    * ([[graft.streaming.EventStream.runConfigPipelineAudited]]) — dq143's
    * per-stage fate accounting composed with dq153's streamed declared
    * pipeline: every input row of every micro-batch gets `(round,
    * doc_id, stage_idx, stage)` attributing its drop to the stage that
    * dropped it (or `(0, "kept")`), over the FULL stored-gate chain —
    * round 1 is the seed round (only the dedup can drop; every store
    * seeds), round 2's drops attribute to the gating store stages. The
    * production observability question — "which stage dropped this
    * document, in which batch" — answered from the same tokenized,
    * replayable loop. Oracle: the shared dq135 chain body with a fate
    * SELECT per round instead of the survivor SELECT. */
  private def q154(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val base = graft.io.TempReaper.tempDir("graft-dq154-idx").toString
    val cfg =
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "exact_dedup"},
        |   {"stage": "substr_gate", "path": "$base/ss", "k": 8, "maxDupWindows": 0},
        |   {"stage": "lm_gate", "path": "$base/lm", "loMicro": 20000},
        |   {"stage": "probe_gate", "path": "$base/qp"}]}""".stripMargin
    val pipeline = graft.plan.CurationConfig.parse(cfg)
    val b1 = docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), col("text"))
    val b2 = docs.filter(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2)
      .select(col("doc_id"), col("text"))
    val incoming = EventStream.twoFileBatchStream(b1, b2, "dq154")
    val (_, audit) = EventStream
      .runConfigPipelineAudited(incoming, pipeline, dir, "dq154")
    audit.select(col("batch").as("round"), col("doc_id"),
        col("stage_idx"), col("stage"))
      .orderBy("round", "doc_id")
  }

  /** DQ155 (S1/S2): the PROTO REPLAY-CACHE path under the full oracle —
    * the reference's ingest surface end-to-end, previously spec- and
    * Bench-evidenced only: `orders` is encoded into the proto3 wire
    * format (varint / length-delimited / fixed64) and staged as the
    * replay-cache layout DISTRIBUTED (every partition's file leads with
    * the base64 query-text header the S2 validity check reads), then
    * read back through the DSv2 source ([[graft.io.ProtoSource]]) with
    * the `expectedQuery` header check on and the row gate pushed into
    * the wire decoder (`o_totalprice > 400000` rejects ~80% of rows
    * before full decode — the dq's Bench evidence records rowsGated),
    * and compared BIT-EXACTLY against DuckDB over the original parquet:
    * doubles round-trip through fixed64 bits, strings through UTF-8,
    * int64 through varints. */
  private val OrderWireQuery = "SELECT order_row FROM orders"

  /** The `order_row` wire descriptor dq155/dq156 share. */
  private def orderWireMsg: graft.io.ProtoIngest.PMessage = {
    import graft.io.ProtoIngest._
    PMessage("order_row", Seq(
      PField(1, "o_orderkey", PInt64),
      PField(2, "o_orderstatus", PString),
      PField(3, "o_custkey", PInt64),
      PField(4, "o_totalprice", PDouble)))
  }

  /** Encode an `orders` slice into the proto3 wire format and stage it as
    * replay-cache files under `destDir` with `prefix`-monotonic names —
    * DISTRIBUTED (one file per partition, each leading with the base64
    * query header the S2 validity check reads). */
  private def stageOrderCache(slice: DataFrame, destDir: String,
      prefix: String): Unit = {
    val header = java.util.Base64.getEncoder
      .encodeToString(OrderWireQuery.getBytes("UTF-8"))
    val stage = graft.io.TempReaper.tempDir("graft-orderwire").toString + "/s"
    slice
      .select("o_orderkey", "o_orderstatus", "o_custkey", "o_totalprice")
      .rdd.mapPartitions { rows =>
        val b64 = java.util.Base64.getEncoder
        Iterator(header) ++ rows.map { r =>
          val out = new java.io.ByteArrayOutputStream()
          def varint(v0: Long): Unit = {
            var v = v0
            while ((v & ~0x7fL) != 0) {
              out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7
            }
            out.write(v.toInt)
          }
          varint(8); varint(r.getLong(0))
          val sb = r.getString(1).getBytes("UTF-8")
          varint(18); varint(sb.length.toLong); out.write(sb, 0, sb.length)
          varint(24); varint(r.getLong(2))
          varint(33)
          val bits = java.lang.Double.doubleToLongBits(r.getDouble(3))
          var i = 0
          while (i < 8) { out.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
          b64.encodeToString(out.toByteArray)
        }
      }.saveAsTextFile(stage)
    val parts = new java.io.File(stage).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(destDir))
    parts.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(f"$destDir/$prefix-$i%05d.txt"))
    }
  }

  private def q155(s: SparkSession, dir: String): DataFrame = {
    val cache = graft.io.TempReaper.tempDir("graft-dq155").toString + "/cache"
    stageOrderCache(t(s, dir, "orders"), cache, "c0")
    graft.io.ProtoSource.registerDescriptor("order_row", orderWireMsg)
    s.read.format("graft.io.ProtoSource")
      .option("descriptor", "order_row")
      .option("expectedQuery", OrderWireQuery)
      .load(cache)
      .filter(col("o_totalprice") > 400000.0)
      .orderBy("o_orderkey")
  }

  /** DQ156 (S1, §2.9): the proto replay cache TAILED AS A STREAM under
    * the full oracle — [[graft.io.ProtoSource]]'s `MicroBatchStream`
    * (the streaming shape of the reference's gRPC iterator), exercised
    * across a CHECKPOINT RESTART: run 1 consumes the first staged slice
    * (availableNow), the second slice lands in the cache dir, run 2
    * restarts from the checkpoint and must deliver ONLY the new files
    * (the consumed-file offset), appending to the same parquet sink.
    * The final sink holding exactly the full table — no loss, no
    * duplication — IS the exactly-once evidence, checked bit-exactly by
    * the plain full-table oracle. */
  private def q156(s: SparkSession, dir: String): DataFrame = {
    val base = graft.io.TempReaper.tempDir("graft-dq156").toString
    val cache = s"$base/cache"
    val orders = t(s, dir, "orders")
    graft.io.ProtoSource.registerDescriptor("order_row", orderWireMsg)
    def runOnce(): Unit = {
      val q = s.readStream.format("graft.io.ProtoSource")
        .option("descriptor", "order_row")
        .option("expectedQuery", OrderWireQuery)
        .load(cache)
        .writeStream.format("parquet")
        .option("path", s"$base/data")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    stageOrderCache(orders.filter(col("o_orderkey") % 2 === 0), cache, "c0")
    runOnce()
    stageOrderCache(orders.filter(col("o_orderkey") % 2 === 1), cache, "c1")
    runOnce()
    s.read.parquet(s"$base/data")
      .select("o_orderkey", "o_orderstatus", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** DQ157 (S1/S2 + runner, §2.9): the reference's ENTIRE workflow as one
    * declarative STREAMING job — cache → GAQL WHERE → projection → sink,
    * all from config: the proto replay cache is tailed by
    * [[graft.io.ProtoSource]]'s micro-batch stream, a declared
    * [[graft.plan.ReportConfig]] report (fields + where) applies DIRECTLY
    * to the streaming frame ([[graft.plan.ReportConfig.ReportDef
    * .applyTo]] — the projection is stateless, so no foreachBatch, no
    * custom loop), and the parquet sink collects across a checkpoint
    * restart (two availableNow runs, the second slice landing between —
    * dq156's exactly-once shape). Honest plan note (probed empirically,
    * `ProtoStreamPushdownSpec`): Spark 4.1 does NOT run scan pushdown on
    * STREAMING DSv2 relations — the micro-batch scan decodes every
    * declared field and the WHERE filters above it (correctness
    * unaffected; filters are residual even on the batch path). Pruning a
    * stream is done at the DESCRIPTOR (declare only needed fields);
    * batch reads of the same cache get the full pushdown (dq155).
    * Oracle: the same report in SQL over the original parquet. */
  private def q157(s: SparkSession, dir: String): DataFrame = {
    val base = graft.io.TempReaper.tempDir("graft-dq157").toString
    val cache = s"$base/cache"
    val orders = t(s, dir, "orders")
    graft.io.ProtoSource.registerDescriptor("order_row", orderWireMsg)
    val report = graft.plan.ReportConfig.parse(
      """{
        |  "table": "orders",
        |  "fields": ["o_orderkey", "o_totalprice"],
        |  "where": "o_totalprice > 400000"
        |}""".stripMargin)
    def runOnce(): Unit = {
      val q = report.applyTo(
          s.readStream.format("graft.io.ProtoSource")
            .option("descriptor", "order_row")
            .option("expectedQuery", OrderWireQuery)
            .load(cache))
        .writeStream.format("parquet")
        .option("path", s"$base/data")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    stageOrderCache(orders.filter(col("o_orderkey") % 2 === 0), cache, "c0")
    runOnce()
    stageOrderCache(orders.filter(col("o_orderkey") % 2 === 1), cache, "c1")
    runOnce()
    s.read.parquet(s"$base/data").orderBy("o_orderkey")
  }

  /** DQ158 (EXT/runner): TERMINAL SHARD MATERIALIZATION — the declared
    * pipeline ends at the artifact a trainer's data loader consumes
    * ([[graft.ext.ShardWriter]] as the `shard_write` stage): rows
    * ordered by the portable epoch-shuffle key (dq101's md5 permutation),
    * greedily packed into 4000-char shards per hex-prefix stream (dq66's
    * capacity recurrence, 16 parallel streams), written as
    * `stream=<s>/bin=<n>` parquet with a per-shard integrity report
    * computed from the data READ BACK off disk, all under one marker
    * commit. The query returns the PERSISTED report — stream, bin, doc
    * count, unit total, and a content md5 over per-row `md5(id:text)` in
    * key order — so the oracle re-derives the full chain (key → stream →
    * greedy recurrence → ordered content hash) from the raw table and
    * checks the bytes that landed. Exactly-once under the run's stage
    * token (`cfg:dq158:s2`). */
  private def q158(s: SparkSession, dir: String): DataFrame = {
    val base =
      graft.io.TempReaper.tempDir("graft-dq158-shards").toString + "/st"
    val cfg =
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "where", "expr": "doc_id % 3 = 1"},
        |   {"stage": "shard_write", "path": "$base", "capacity": 4000,
        |    "units": "chars", "epoch": 1, "streams": 16}]}""".stripMargin
    graft.plan.CurationConfig.parse(cfg).run(s, dir, Some("dq158"))
    graft.ext.ShardWriter.report(s, base)
      .select(col("stream"), col("bin"), col("n_docs"), col("units"),
        col("content_md5"))
      .orderBy("stream", "bin")
  }

  /** DQ159 (EXT/runner, §2.9): STORE-MEDIATED temperature mixing
    * STREAMED (`CurationConfig.MixGate` over a
    * [[graft.ext.StrataCountStore]]) — the stream-correct form of the
    * batch-scoped `temperature_mix` the streamed runner refuses: the
    * per-source rates derive from CORPUS-TO-DATE counts (the stored
    * composition statistics plus the current batch), not the
    * micro-batch frame, so mixing is finally legal in the streamed
    * declared pipeline. Batch 1 seeds the count store (rates from the
    * batch alone — plain dq146 semantics, which also makes a replayed
    * seed round deterministic), batch 2's rates flatten over the UNION
    * counts; raw batch counts fold exactly-once under the cfg stage
    * tokens. The rate chain is [[graft.ext.Sampling]]'s exact integer
    * arithmetic SHARED with the per-call operator, so the oracle is
    * dq146's HUGEINT chain computed per round over the cumulative
    * counts. */
  private def q159(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val base =
      graft.io.TempReaper.tempDir("graft-dq159-mix").toString + "/sc"
    val cfg =
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "mix_gate", "path": "$base", "strata": "source",
        |    "targetDocs": 150}]}""".stripMargin
    val pipeline = graft.plan.CurationConfig.parse(cfg)
    val b1 = docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), col("source"))
    val b2 = docs.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3)
      .select(col("doc_id"), col("source"))
    val incoming = EventStream.twoFileBatchStream(b1, b2, "dq159")
    EventStream.runConfigPipeline(incoming, pipeline, dir, "dq159")
      .select(col("batch").as("round"), col("doc_id"), col("source"))
      .orderBy("round", "doc_id")
  }

  /** DQ160 (EXT/runner, §2.9): TERMINAL SHARD MATERIALIZATION STREAMED —
    * the declared pipeline's sink runs per micro-batch: each batch of the
    * ingest stream packs and commits its OWN shard set
    * ([[graft.ext.ShardWriter]] appends `append=<id>` under the batch's
    * exactly-once stage token `cfg:dq160:b<id>:s1`) — the per-round
    * production shape, where a trainer's loader consumes the rounds it
    * has seen committed. The query returns the PERSISTED per-round
    * integrity reports; the oracle re-derives BOTH rounds' full chains
    * (epoch-shuffle key → hex-prefix stream → greedy capacity recurrence
    * → key-ordered content md5) from the raw table and the known batch
    * split. A replayed micro-batch recognizes its committed token and
    * appends nothing (the dq153 streamed-runner replay contract plus
    * [[graft.ext.ShardWriter.write]]'s appendOnce). */
  private def q160(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val base =
      graft.io.TempReaper.tempDir("graft-dq160-shards").toString + "/st"
    val cfg =
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "shard_write", "path": "$base", "capacity": 4000,
        |    "units": "chars", "epoch": 1, "streams": 16}]}""".stripMargin
    val pipeline = graft.plan.CurationConfig.parse(cfg)
    val b1 = docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), col("text"))
    val b2 = docs.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3)
      .select(col("doc_id"), col("text"))
    val incoming = EventStream.twoFileBatchStream(b1, b2, "dq160")
    EventStream.runConfigPipeline(incoming, pipeline, dir, "dq160")
    graft.ext.ShardWriter.report(s, base)
      .select(col("round"), col("stream"), col("bin"), col("n_docs"),
        col("units"), col("content_md5"))
      .orderBy("round", "stream", "bin")
  }

  /** DQ161 (EXT): LOADER-SIDE SHARD INTEGRITY over a MULTI-EPOCH
    * materialization — `repeat_epochs 2` gives every kept document two
    * epoch copies, `shard_write` keys each copy by its OWN epoch-shuffle
    * key `md5('<epoch>:<id>')` (both training epochs landed up front,
    * each a different reproducible permutation), and
    * [[graft.ext.ShardWriter.verify]] re-reads the data tree, recomputes
    * every shard's report row from the bytes on disk, and
    * full-outer-joins it against the persisted manifest — the check a
    * loader runs before consuming an append. Every shard verifies ok
    * here; the oracle re-derives the epoch-expanded chain and asserts
    * both hashes itself. Tampered / lost / orphaned shards are spec
    * territory (`ShardWriterSpec` flips a row, orphans a directory, and
    * deletes a shard) — parquet the SQL oracle cannot see. */
  private def q161(s: SparkSession, dir: String): DataFrame = {
    val base =
      graft.io.TempReaper.tempDir("graft-dq161-epochs").toString + "/st"
    val cfg =
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "where", "expr": "doc_id % 5 = 2"},
        |   {"stage": "repeat_epochs", "factor": 2.0},
        |   {"stage": "shard_write", "path": "$base", "capacity": 6000,
        |    "units": "chars", "streams": 16}]}""".stripMargin
    graft.plan.CurationConfig.parse(cfg).run(s, dir, Some("dq161"))
    graft.ext.ShardWriter.verify(s, base, "doc_id", "text")
      .select(col("round"), col("stream"), col("bin"), col("ok"),
        col("n_docs"), col("units"), col("manifest_md5"), col("disk_md5"))
      .orderBy("stream", "bin")
  }

  /** DQ162 (EXT): PRODUCT-QUANTIZED similarity search
    * ([[graft.ext.PqAnn]] — Jégou et al. 2011, the PQ/ADC tier of the
    * FAISS taxonomy): the 64-dim embeddings split into 16 subspaces, a
    * 16-centroid codebook trained per subspace with the family's
    * oracle-exact Lloyd's (seeded-hash init, (dist, cell) argmin
    * tie-break, micro-integer means), every vector encoded as its 16
    * nearest-sub-centroid ids (~16 B at rest under parquet bit-packing vs
    * 256 B of float32 — the 100 TB memory path; 4 B/code in flight), and queries 1–3 ranked by Asymmetric Distance
    * Computation: per-subspace inner-product tables, score = the
    * subspace-ordered sum of 16 table lookups, bounded-heap top-5. The
    * oracle replays all sixteen subspace k-means chains, the code
    * assignment, the ADC tables, and the left-associative add chain.
    * (m=16 is the measured knee on this near-isotropic corpus: m=4/k=8
    * recalls ~1/10 of the exact top-10, m=16/k=16 ~4/10 mean over the
    * three queries — `PqAnnSpec` pins the floor.) */
  private def q162(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cb = graft.ext.PqAnn.fit(emb, "vec_id", "embedding",
      dims = 64, m = 16, k = 16)
    // materialize the code relation (the m-bytes/vector table a
    // deployment persists) so scoring scans 16-int rows, not a plan
    // that re-encodes the corpus per consumer
    val codes = graft.ext.PqAnn.encode(emb, "vec_id", "embedding", cb)
      .localCheckpoint(true)
    val queries = emb.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .sortBy(_._1)
    graft.ext.PqAnn.adcTopK(codes, cb, queries, topK = 5)
      .select(col("qid"), col("vid"), col("score"))
      .orderBy("qid", "vid")
  }

  /** DQ163 (EXT): IVF-PQ — the two prunings COMPOSED (FAISS's
    * IndexIVFPQ shape, here without residual encoding: the codebooks
    * quantize raw vectors, the coarse index only prunes): dq51's
    * 8-cell coarse quantizer assigns every vector a cell
    * ([[graft.ext.IvfIndex.withCell]] riding through
    * [[graft.ext.PqAnn.encode]]'s `keep`), dq162's 16 PQ codebooks give
    * it a 16-byte code, and each query ADC-scores ONLY the vectors in
    * its 2 probed cells — the scan touches ~nprobe/k of the corpus AND
    * m small codes per candidate, multiplicative prunings. The oracle is the
    * dq51 coarse chain and the dq162 PQ chains joined: candidates
    * restricted to probed coarse cells, scored by the ordered table
    * fold. */
  private def q163(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val ivf = graft.ext.IvfIndex.fit(emb, "vec_id", "embedding", k = 8)
    try {
      val cb = graft.ext.PqAnn.fit(emb, "vec_id", "embedding",
        dims = 64, m = 16, k = 16)
      val rel = graft.ext.PqAnn.encode(ivf.withCell(emb, "embedding"),
        "vec_id", "embedding", cb, keep = Seq("cell"))
        .localCheckpoint(true)
      val qrows = emb.filter(col("vec_id").isin(1L, 2L, 3L))
        .localCheckpoint(true)
      val probes = qrows.select(col("vec_id"),
          ivf.probesFor(col("embedding"), 2, s).as("p")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val queries = qrows.select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        .sortBy(_._1)
      graft.ext.PqAnn.adcTopKProbed(rel, cb, queries, probes, topK = 5)
        .select(col("qid"), col("vid"), col("score"))
        .orderBy("qid", "vid")
    } finally ivf.release()
  }

  /** DQ169 (EXT): RESIDUAL IVF-PQ — dq163 upgraded to the full FAISS
    * IndexIVFPQ shape (Jégou et al. 2011 §IV: quantize `x − q1(x)`, not
    * `x`): the PQ codebooks train on RESIDUALS against the frozen
    * coarse generation ([[graft.ext.PqAnn.residualCol]] — exact double
    * arithmetic, so any engine re-derives identical residuals), the
    * stored codes are residual codes, and
    * [[graft.ext.PqAnn.adcTopKProbedResidual]] re-adds the
    * `q·centroid(cell)` term as a driver-sized `(qid, cell)` constant
    * in front of the subspace fold. This is where IndexIVFPQ earns its
    * recall at the same m·k — residuals concentrate near zero, so the
    * codebook budget covers a smaller ball (`PqAnnSpec` pins recall ≥
    * the raw-vector tier on the same fixture). The oracle is the dq163
    * chain with the subtraction step (`re`) and the `qc` add-back. */
  private def q169(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val ivf = graft.ext.IvfIndex.fit(emb, "vec_id", "embedding", k = 8)
    try {
      val resid = ivf.withCell(emb, "embedding")
        .withColumn("__r", graft.ext.PqAnn.residualCol(col("embedding"),
          col("cell"), ivf.centroids))
        .localCheckpoint(true)
      val cb = graft.ext.PqAnn.fit(resid, "vec_id", "__r",
        dims = 64, m = 16, k = 16)
      val rel = graft.ext.PqAnn.encode(resid, "vec_id", "__r", cb,
        keep = Seq("cell"))
        .localCheckpoint(true)
      val qrows = emb.filter(col("vec_id").isin(1L, 2L, 3L))
        .localCheckpoint(true)
      val probes = qrows.select(col("vec_id"),
          ivf.probesFor(col("embedding"), 2, s).as("p")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val queries = qrows.select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        .sortBy(_._1)
      graft.ext.PqAnn.adcTopKProbedResidual(rel, cb, queries, probes,
          ivf.centroids, topK = 5)
        .select(col("qid"), col("vid"), col("score"))
        .orderBy("qid", "vid")
    } finally ivf.release()
  }

  /** DQ164 (EXT): the PERSISTED IVF-PQ store — dq163's layout made a
    * STORED tier of the embedding index family
    * ([[graft.ext.IvfStore]] `pqcodes/` + generation-keyed `pqbook/`):
    * create trains the coarse centroids AND the 16 PQ codebooks on the
    * 80% split (FAISS `train`), the 20% append encodes against the
    * FROZEN books (`add` — map-only, never a retrain), and
    * `searchPq` over `vectorsOf` resolves stored ids through the vidmap, probes
    * 2 cells on the driver, scans ONLY probed `pqcodes/` cell
    * partitions (m codes/vector — measured 17× under the float relation
    * at rest, see the dq164 Bench evidence), and ADC-scores via [[graft.ext.PqAnn.adcTopKProbed]]. The
    * oracle trains both tiers on the split, assigns/encodes the full
    * table against the frozen results, and re-derives the probe-pruned
    * table-fold ranking — matching the chain IS the frozen-append
    * proof (the dq118 rule, now for codebooks too). */
  private def q164(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val base =
      graft.io.TempReaper.tempDir("graft-dq164-pqstore").toString + "/ivf"
    val store = graft.ext.IvfStore.create(
      emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding", base,
      k = 8, pqM = 16, pqK = 16)
    store.appendOnce(emb.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", "dq164:b1")
    store.searchPq(store.vectorsOf(Seq(1L, 2L, 5L)), topK = 5, nprobe = 2)
      .orderBy("qid", "vid")
  }

  /** DQ171 (EXT/runner, §2.9): the MULTIMODAL pipeline STREAMED — dq167
    * composed with the streamed declared runner (dq160's machinery):
    * each micro-batch of an image+caption ingest stream flows through
    * the declared `media_gate(image)` (pure per-row byte arithmetic —
    * stream-legal, no batch-scoped statistics) into a per-round
    * `shard_write(units: bytes)` that commits its OWN shard set under
    * the batch's exactly-once stage token. The query returns the
    * persisted per-round integrity reports, payload-covering hashes
    * included; the oracle re-derives BOTH rounds from the raw table and
    * the known batch split — blob synthesis, the dq73 marker walk, the
    * band, octet_length units, the per-round packing recurrence, and
    * `md5(id:caption:hex(payload))` content hashes. Streamed ≡
    * sequential batch runs by per-round append semantics (the dq160
    * rule). */
  private def q171(s: SparkSession, dir: String): DataFrame = {
    val st =
      graft.io.TempReaper.tempDir("graft-dq171-mstream").toString + "/st"
    val media = t(s, dir, "documents").select(col("doc_id"),
      graft.ext.Multimodal.syntheticImagePayload(col("doc_id"))
        .as("payload"),
      col("text").as("caption"))
    val cfg =
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [
        |   {"stage": "media_gate", "kind": "image", "binary": "payload",
        |    "minWidth": 64, "maxWidth": 1600,
        |    "minHeight": 64, "maxHeight": 1000},
        |   {"stage": "shard_write", "path": "$st", "capacity": 512,
        |    "units": "bytes", "binary": "payload", "epoch": 1,
        |    "streams": 16}]}""".stripMargin
    val pipeline = graft.plan.CurationConfig.parse(cfg)
    val b1 = media.filter(col("doc_id") % 4 === 1)
    val b2 = media.filter(col("doc_id") % 4 === 2 ||
      col("doc_id") % 4 === 3)
    val incoming = EventStream.twoFileBatchStream(b1, b2, "dq171")
    EventStream.runConfigPipeline(incoming, pipeline, dir, "dq171")
    graft.ext.ShardWriter.report(s, st)
      .select(col("round"), col("stream"), col("bin"), col("n_docs"),
        col("units"), col("content_md5"))
      .orderBy("round", "stream", "bin")
  }

  /** DQ173 (EXT): TWO-STAGE IVF-PQ search — ADC shortlist, EXACT
    * re-rank ([[graft.ext.IvfStore.searchPqRerank]] — FAISS's
    * search+refine pattern): stage 1 runs dq170's residual ADC at
    * shortlist 20 over the probed code partitions; stage 2 fetches
    * ONLY the shortlisted vectors from the float relation (probed-cell
    * partition pruning + `vid IN` row-group pushdown) and re-scores
    * them with the EXACT cosine, so quantization error can exclude a
    * candidate from the net but never reorder the final top-5. The
    * oracle chains dq170's full derivation with the shortlist window
    * and dq118's exact cosine tail. Recall recovery is measured in the
    * Bench evidence (rerank ≥ ADC-only against the exhaustive probed
    * ranking). */
  private def q173(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val base =
      graft.io.TempReaper.tempDir("graft-dq173-rerank").toString + "/ivf"
    val store = graft.ext.IvfStore.create(
      emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding", base,
      k = 8, pqM = 16, pqK = 16, pqResidual = true)
    store.appendOnce(emb.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", "dq173:b1")
    store.searchPqRerank(store.vectorsOf(Seq(1L, 2L, 5L)), topK = 5,
        nprobe = 2, shortlist = 20)
      .orderBy("qid", "vid")
  }

  /** DQ174 (EXT/runner): EXACT BINARY-PAYLOAD DEDUP DECLARED (r15
    * verdict #1a — until now two byte-identical images with different
    * captions passed every gate, because the whole dedup family keys on
    * text): payloads synthesized from `doc_id % 97` (so documents
    * sharing a group carry BYTE-IDENTICAL image payloads under distinct
    * captions) flow through a declared `media_dedup` stage
    * ([[graft.ext.MediaDedup.exactByPayload]]) — keep the lowest-id row
    * per payload digest. Digests shuffle, payloads don't: the keep
    * decision returns as an anti-join against the losers. The oracle
    * re-synthesizes the payload bytes (dq167's PNG/JPEG hex synthesis,
    * group-keyed), re-derives the hex-domain digest `md5(hex(payload))`,
    * and keeps min(doc_id) per digest. */
  private def q174(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "documents").select(col("doc_id"),
      graft.ext.Multimodal.syntheticImagePayload(col("doc_id") % 97)
        .as("payload"),
      col("text").as("caption"))
    val cfg =
      """{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "media_dedup", "binary": "payload"}]}"""
        .stripMargin
    graft.plan.CurationConfig.parse(cfg).applyStages(media, dir)
      .select(col("doc_id"),
        graft.ext.MediaDedup.payloadDigest(col("payload"))
          .as("payload_md5"),
        octet_length(col("payload")).cast("long").as("nb"))
      .orderBy("doc_id")
  }

  /** DQ175 (EXT/runner): NEAR-dup BINARY dedup DECLARED — the blocked
    * byte signature ([[graft.ext.MediaDedup.nearDupPairsBytes]]: the
    * SimHash pigeonhole applied to bytes): payloads are eight 32-byte
    * blocks; documents in the same `doc_id % 60` group share blocks
    * 0..6 and differ (by `(doc_id DIV 60) % 3`) only in block 7 —
    * 7 of 8 matches ≥ the declared minMatch 6, so every group collapses
    * to its min id through [[graft.ext.Dedup.keepCanonical]]'s
    * transitive closure; `doc_id % 7 = 0` rows salt EVERY block with
    * their own id (no bucket ever pairs them) and all survive. The
    * oracle re-derives the block bytes, the hex-slice md5 signature,
    * the capped (length, index, hash) buckets, the ≥ minMatch pair
    * rule, and the recursive-CTE closure (dq47's pattern). */
  private def q175(s: SparkSession, dir: String): DataFrame = {
    val g = col("doc_id") % 60
    val v = expr("doc_id DIV 60") % 3
    val solo = col("doc_id") % 7 === 0
    def blk(j: Int): Column =
      when(solo, md5(concat_ws(":", lit("solo"), col("doc_id"), lit(j))))
        .otherwise(
          if (j == 7) md5(concat_ws(":", lit("mb"), g, lit(j), v))
          else md5(concat_ws(":", lit("mb"), g, lit(j))))
    val media = t(s, dir, "documents").select(col("doc_id"),
      concat((0 to 7).map(blk): _*).cast("binary").as("payload"),
      col("text").as("caption"))
    val cfg =
      """{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "media_dedup", "mode": "near",
        |   "binary": "payload", "blocks": 8, "minMatch": 6,
        |   "maxBucket": 100}]}""".stripMargin
    graft.plan.CurationConfig.parse(cfg).applyStages(media, dir)
      .select(col("doc_id"),
        graft.ext.MediaDedup.payloadDigest(col("payload"))
          .as("payload_md5"),
        octet_length(col("payload")).cast("long").as("nb"))
      .orderBy("doc_id")
  }

  /** DQ176 (EXT, §2.9): the BINARY-payload history gate STREAMED — the
    * [[graft.ext.MediaDigestIndex]] as the SIXTH modality of the ONE
    * generic ingest loop ([[EventStream.runIndexedIngest]] over the
    * [[graft.ext.IngestIndex]] contract): history payloads are digested
    * once at build; each micro-batch drops rows whose payload digest is
    * already stored (byte-identical to any earlier round — batch 1's
    * history copies drop, batch 2's copies of batch 1's fresh payloads
    * drop ONLY because the loop appended them) and appends its
    * survivors' digests, exactly-once via batch tokens + the
    * replay-view gate. The oracle re-derives every payload's hex-domain
    * digest from the synthesized bytes and replays the two-round
    * seen-set recurrence. */
  private def q176(s: SparkSession, dir: String): DataFrame = {
    def pay(c: Column): Column = concat(
      md5(concat_ws(":", lit("pay"), c)),
      md5(concat_ws(":", lit("pay2"), c))).cast("binary")
    val withP = t(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("payload", pay(col("doc_id")))
    val hist = withP.filter(col("doc_id") % 3 =!= 0)
    val b1 = hist.filter(col("doc_id") % 7 === 1)
      .select((col("doc_id") + 10000).as("doc_id"), col("payload"),
        col("source"))
      .union(withP.filter(col("doc_id") % 6 === 0)
        .select(col("doc_id"), col("payload"), col("source")))
    val b2 = withP.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + 30000).as("doc_id"), col("payload"),
        col("source"))
      .union(hist.filter(col("doc_id") % 7 === 2)
        .select((col("doc_id") + 40000).as("doc_id"), col("payload"),
          col("source")))
      .union(withP.filter(col("doc_id") % 6 === 3)
        .select(col("doc_id"), col("payload"), col("source")))
    val in = graft.io.TempReaper.tempDir("graft-dq176-in").toString
    b1.coalesce(1).write.parquet(s"$in/b1.parquet")
    b2.coalesce(1).write.parquet(s"$in/b2.parquet")
    val later = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 120000L)
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$in/b2.parquet"))
      .forEach(p => { java.nio.file.Files.setLastModifiedTime(p, later); () })
    val idxPath =
      graft.io.TempReaper.tempDir("graft-dq176-idx").toString + "/idx"
    val idx = graft.ext.MediaDigestIndex.build(hist, "doc_id", "payload",
      idxPath)
    val incoming = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
    EventStream.runIndexedIngest(incoming, idx, "doc_id", "payload",
        "dq176")
      .select(col("batch"), col("doc_id"), col("source"))
      .orderBy("batch", "doc_id")
  }

  /** DQ177 (EXT): OPQ-LITE SUBSPACE BALANCING — dq162's PQ chain over a
    * VARIANCE-BALANCED coordinate permutation
    * ([[graft.ext.PqAnn.balancedPermutation]], the deterministic cousin
    * of OPQ's learned rotation): dimensions rank by exact-integer
    * per-dim variance (micro sums, `n·Σ⌊x²·1e6⌋·1e6 − (Σ⌊x·1e6⌋)²` in
    * BigInt — micro² on both terms — ties to
    * the lower dim) and deal round-robin into the m subspaces, so every
    * subspace carries one dimension from each variance stratum instead
    * of whatever contiguous slicing dealt it. A fixed permutation is
    * orthogonal — inner products are unchanged — so recall moves only
    * through better codebook allocation. Codes encode permuted vectors;
    * ADC tables read permuted queries. The oracle re-derives the
    * ranking (HUGEINT arithmetic), the round-robin positions, the
    * permuted relation, and dq162's full train/encode/score chain over
    * it. */
  private def q177(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val perm = graft.ext.PqAnn.balancedPermutation(
      emb, "embedding", dims = 64, m = 16)
    val pdf = emb.select(col("vec_id").as("vid"),
      graft.ext.PqAnn.applyPerm(col("embedding"), perm).as("emb"))
    val cb = graft.ext.PqAnn.fit(pdf, "vid", "emb",
      dims = 64, m = 16, k = 16)
    val codes = graft.ext.PqAnn.encode(pdf, "vid", "emb", cb)
      .localCheckpoint(true)
    val queries = emb.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .sortBy(_._1)
    graft.ext.PqAnn.adcTopK(codes, cb, queries, topK = 5, Some(perm))
      .select(col("qid"), col("vid"), col("score"))
      .orderBy("qid", "vid")
  }

  /** DQ178 (EXT): the SEMANTIC GATE THROUGH THE PQ TIER (r15 verdict
    * #5 — [[graft.ext.IvfStore.semanticPairsPq]]): the gate's wide net
    * reads the probed `pqcodes/` partitions (m-byte codes, 17–26×
    * under the float relation) scored by the DISTRIBUTED ADC kernel
    * ([[graft.functions.PqAdcDot]] — the batch is an arbitrary-size
    * frame, so the search path's driver literal tables cannot exist),
    * keeps the ADC-top-`shortlist` candidates per batch row (bounded
    * heap), and re-scores ONLY those with the exact float cosine.
    * A NARROW net (shortlist 4) is declared so the oracle must
    * re-derive the ADC ranking itself: the frozen PQ chain (dq162's
    * arithmetic trained on the create corpus), the probe-pruned
    * estimate per (batch row, stored vector), the top-4 window, the
    * exact cosine on exactly those pairs, and the tau filter. Output:
    * the gate's evidence pairs (qid, vid, sim > 0.5). */
  private def q178(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val hist = emb.filter(col("vec_id") % 3 =!= 0)
    val base =
      graft.io.TempReaper.tempDir("graft-dq178-pqgate").toString + "/ivf"
    val store = graft.ext.IvfStore.create(hist, "vec_id", "embedding",
      base, k = 8, pqM = 16, pqK = 16)
    val batch = hist.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      .union(emb.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id"), col("embedding")))
      .localCheckpoint(true)
    store.semanticPairsPq(batch, "vec_id", "embedding",
        tau = 0.5, nprobe = 2, shortlist = 4)
      .orderBy("qid", "vid")
  }

  /** DQ180 (EXT, §2.9): the NEAR-dup BINARY-payload gate STREAMED —
    * [[graft.ext.MediaSigIndex]] as the SEVENTH modality of the ONE
    * generic ingest loop (the blocked-signature sibling of dq176's
    * exact digest gate): history payloads are signature'd once (eight
    * 32-byte blocks, hex-slice md5s); each micro-batch drops rows
    * sharing ≥ 6 of 8 block hashes at the same offset with a
    * same-length stored payload — batch 1's single-block variants of
    * history payloads drop (7/8 matches), batch 2's variants of batch
    * 1's FRESH payloads drop ONLY because the loop appended their
    * signatures — and appends its survivors' signatures, exactly-once
    * via batch tokens + the replay-view gate. The oracle re-derives
    * every payload's block bytes, the hex-slice signature, the
    * ≥ minMatch pair rule, and the two-round seen-set recurrence. */
  private def q180(s: SparkSession, dir: String): DataFrame = {
    def pay(g: Column, v: Int): Column = concat((0 to 7).map(j =>
      if (j == 7) md5(concat_ws(":", lit("mb"), g, lit(j), lit(v)))
      else md5(concat_ws(":", lit("mb"), g, lit(j)))): _*).cast("binary")
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val hist = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), pay(col("doc_id"), 0).as("payload"),
        col("source"))
    val b1 = docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 7 === 1)
      .select((col("doc_id") + 10000).as("doc_id"),
        pay(col("doc_id"), 1).as("payload"), col("source"))
      .union(docs.filter(col("doc_id") % 6 === 0)
        .select(col("doc_id"), pay(col("doc_id"), 0).as("payload"),
          col("source")))
    val b2 = docs.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + 30000).as("doc_id"),
        pay(col("doc_id"), 2).as("payload"), col("source"))
      .union(docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 7 === 2)
        .select((col("doc_id") + 40000).as("doc_id"),
          pay(col("doc_id"), 1).as("payload"), col("source")))
      .union(docs.filter(col("doc_id") % 6 === 3)
        .select(col("doc_id"), pay(col("doc_id"), 0).as("payload"),
          col("source")))
    val in = graft.io.TempReaper.tempDir("graft-dq180-in").toString
    b1.coalesce(1).write.parquet(s"$in/b1.parquet")
    b2.coalesce(1).write.parquet(s"$in/b2.parquet")
    val later = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 120000L)
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$in/b2.parquet"))
      .forEach(p => { java.nio.file.Files.setLastModifiedTime(p, later); () })
    val idxPath =
      graft.io.TempReaper.tempDir("graft-dq180-idx").toString + "/idx"
    val idx = graft.ext.MediaSigIndex.build(hist, "doc_id", "payload",
      idxPath, blocks = 8, minMatch = 6, maxBucket = 100)
    val incoming = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
    EventStream.runIndexedIngest(incoming, idx, "doc_id", "payload",
        "dq180")
      .select(col("batch"), col("doc_id"), col("source"))
      .orderBy("batch", "doc_id")
  }

  /** The dq181/dq182 payload fixture, shared so the declared and
    * streamed media-decontamination queries cannot drift: every payload
    * is eight 32-byte md5 blocks. `mb:<g>:<j>` blocks key the benchmark
    * family (block 7 carries a variant id), `far` salts blocks 5..7
    * (5/8 matches — under the near gate's 6), `fr` payloads are fully
    * per-id salted (no benchmark block at all). */
  private def mediaBenchPay(g: Column, variant: Int): Column =
    concat((0 to 7).map(j =>
      if (j == 7) md5(concat_ws(":", lit("mb"), g, lit(j), lit(variant)))
      else md5(concat_ws(":", lit("mb"), g, lit(j)))): _*).cast("binary")

  private def mediaFarPay(g: Column): Column =
    concat((0 to 7).map(j =>
      if (j >= 5) md5(concat_ws(":", lit("far"), g, lit(j)))
      else md5(concat_ws(":", lit("mb"), g, lit(j)))): _*).cast("binary")

  private def mediaFreshPay(id: Column): Column =
    concat((0 to 7).map(j =>
      md5(concat_ws(":", lit("fr"), id, lit(j)))): _*).cast("binary")

  /** The dq181/dq182 candidate batch against the `doc_id % 10 = 0`
    * benchmark slice: +100000 byte-exact benchmark copies, +200000
    * single-block variants (7/8 — near-dup), +300000 three-block
    * variants (5/8 — far), and untouched `% 10 = 7` fresh payloads. */
  private def mediaDecontamBatch(docs: DataFrame): DataFrame = {
    val benchIds = docs.filter(col("doc_id") % 10 === 0)
    benchIds.select((col("doc_id") + 100000).as("doc_id"),
        mediaBenchPay(col("doc_id"), 0).as("payload"))
      .union(benchIds.select((col("doc_id") + 200000).as("doc_id"),
        mediaBenchPay(col("doc_id"), 1).as("payload")))
      .union(benchIds.select((col("doc_id") + 300000).as("doc_id"),
        mediaFarPay(col("doc_id")).as("payload")))
      .union(docs.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id"), mediaFreshPay(col("doc_id")).as("payload")))
  }

  /** DQ181 (EXT/runner): BENCHMARK MEDIA DECONTAMINATION DECLARED —
    * the frozen-reference family's missing multimodal member (r16
    * verdict #1: a benchmark IMAGE in the training corpus passed every
    * gate): TWO chained `media_decontam_gate` stages, `mode: "exact"`
    * then `mode: "near"`, each pointing at a FROZEN store built on
    * first use from the declared `media_bench` table (written to the
    * run's data dir — never from the batch). Byte-exact benchmark
    * copies drop at the exact stage, single-block variants (7/8 block
    * matches ≥ minMatch 6) drop at the near stage, three-block
    * variants (5/8) and fresh payloads survive. Gate-only: nothing is
    * appended, so a rerun of the same config returns the same
    * survivors. The oracle re-derives the benchmark digests AND the
    * blocked signatures benchmark-vs-batch (the dq152 pattern on
    * payload bytes). */
  private def q181(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val base = graft.io.TempReaper.tempDir("graft-dq181").toString
    docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), mediaBenchPay(col("doc_id"), 0).as("payload"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/media_bench.parquet")
    val batch = mediaDecontamBatch(docs).withColumn("caption", lit("c"))
    val cfg =
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [
        |  {"stage": "media_decontam_gate", "mode": "exact",
        |   "path": "$base/exact_store", "binary": "payload",
        |   "benchmarkTable": "media_bench"},
        |  {"stage": "media_decontam_gate", "mode": "near",
        |   "path": "$base/near_store", "binary": "payload",
        |   "benchmarkTable": "media_bench", "blocks": 8,
        |   "minMatch": 6, "maxBucket": 100}]}""".stripMargin
    graft.plan.CurationConfig.parse(cfg).applyStages(batch, base)
      .select(col("doc_id"),
        graft.ext.MediaDedup.payloadDigest(col("payload"))
          .as("payload_md5"),
        octet_length(col("payload")).cast("long").as("nb"))
      .orderBy("doc_id")
  }

  /** DQ182 (EXT, §2.9): BENCHMARK MEDIA DECONTAMINATION STREAMED — the
    * dq152 arc on payload bytes: [[graft.streaming.EventStream
    * .runFrozenGate]] over a [[graft.ext.MediaSigIndex]] built ONCE
    * from the frozen benchmark slice and never appended to (gate-only,
    * no tokens — replays re-gate against an unchanged store). Both
    * micro-batches carry the SAME candidate set (dq181's roles:
    * byte-exact copies AND single-block variants drop — the near gate
    * subsumes exact; far variants and fresh payloads survive) and must
    * return the IDENTICAL survivor set — the frozen store provably
    * does not grow. EIGHTH frozen-reference modality through the one
    * generic loop. */
  private def q182(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), mediaBenchPay(col("doc_id"), 0).as("payload"))
    val batch = mediaDecontamBatch(docs)
    val idxPath =
      graft.io.TempReaper.tempDir("graft-dq182-idx").toString + "/idx"
    val idx = graft.ext.MediaSigIndex.build(bench, "doc_id", "payload",
      idxPath, blocks = 8, minMatch = 6, maxBucket = 100)
    val incoming = EventStream.twoFileBatchStream(batch, batch, "dq182")
    EventStream.runFrozenGate(incoming, idx, "doc_id", "payload", "dq182")
      .select(col("batch"), col("doc_id"),
        graft.ext.MediaDedup.payloadDigest(col("payload"))
          .as("payload_md5"))
      .orderBy("batch", "doc_id")
  }

  /** The dq183/dq184 multimodal-capstone fixture: 33-byte PNG payloads
    * whose width/height are lattice functions of the group id — width
    * `g%100·8 + 64` (≡ 0 mod 8), height `(7g)%100·4 + 64` (≡ 0 mod 4)
    * — so off-lattice offsets (+4 width, +2 height) provably match NO
    * stored dimension, and under the 8-block signature of a 33-byte
    * payload "shares width or height" is exactly a 7-of-8 match
    * ([[graft.ext.Multimodal.syntheticPngPayload]]). Round 1: the
    * `% 12 = 1` groups, each payload sent TWICE (within-frame exact
    * dup) plus `% 12 = 5` non-image junk. Round 2: byte-exact replays,
    * height-offset near variants (7/8 — drop), width+height-offset far
    * variants (6/8 — keep), and the `% 12 = 7` fresh groups (disjoint
    * dimension lattice classes mod 4 — keep). */
  private def mediaCapstoneRounds(
      docs: DataFrame): (DataFrame, DataFrame) = {
    val g = col("doc_id")
    def png(dw: Int, dh: Int): Column =
      graft.ext.Multimodal.syntheticPngPayload(
        g % 100 * 8 + 64 + dw, (g * 7) % 100 * 4 + 64 + dh)
    val s1 = docs.filter(col("doc_id") % 12 === 1)
    val s2 = docs.filter(col("doc_id") % 12 === 7)
    def cap(df: DataFrame): DataFrame =
      df.withColumn("caption", concat(lit("cap:"), col("doc_id")))
    val b1 = cap(s1.select(col("doc_id"), png(0, 0).as("payload"))
      .union(s1.select((col("doc_id") + 100000).as("doc_id"),
        png(0, 0).as("payload")))
      .union(docs.filter(col("doc_id") % 12 === 5)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(lit("junk "), g.cast("string")).cast("binary")
            .as("payload"))))
    val b2 = cap(s1.select((col("doc_id") + 300000).as("doc_id"),
        png(0, 0).as("payload"))
      .union(s1.select((col("doc_id") + 400000).as("doc_id"),
        png(0, 2).as("payload")))
      .union(s1.select((col("doc_id") + 500000).as("doc_id"),
        png(4, 2).as("payload")))
      .union(s2.select(col("doc_id"), png(0, 0).as("payload"))))
    (b1, b2)
  }

  private def mediaCapstoneCfg(sg: String, st: String): String =
    s"""{"table": "documents", "id": "doc_id", "text": "caption",
      | "stages": [
      |   {"stage": "media_dedup", "binary": "payload"},
      |   {"stage": "media_gate", "kind": "image", "binary": "payload",
      |    "minWidth": 64, "maxWidth": 1600,
      |    "minHeight": 64, "maxHeight": 1000},
      |   {"stage": "media_sig_gate", "path": "$sg", "binary": "payload",
      |    "blocks": 8, "minMatch": 7, "maxBucket": 100},
      |   {"stage": "shard_write", "path": "$st", "capacity": 512,
      |    "units": "bytes", "binary": "payload", "epoch": 1,
      |    "streams": 16}]}""".stripMargin

  /** DQ185 (EXT/runner): the BINARY-payload digest gate's OWN declared
    * two-round query (r16 verdict #5 — `media_digest_gate` was
    * spec-covered and stream-dq'd through the generic loop (dq176) but
    * had no declared-round dq, the dq141 precedent): round 1 seeds the
    * [[graft.ext.MediaDigestIndex]] from its batch through the declared
    * stage (all kept), round 2 re-sends round 1's payloads under fresh
    * ids (byte-identical to STORED → dropped) plus a fresh slice
    * (kept, appended). Exactly-once under each round's stage tokens.
    * Oracle: dq176's digest recurrence without the stream — round 2
    * gates against exactly round 1's distinct digests. */
  private def q185(s: SparkSession, dir: String): DataFrame = {
    def pay(c: Column): Column = concat(
      md5(concat_ws(":", lit("pay"), c)),
      md5(concat_ws(":", lit("pay2"), c))).cast("binary")
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val path =
      graft.io.TempReaper.tempDir("graft-dq185-idx").toString + "/idx"
    val p = graft.plan.CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "media_digest_gate", "path": "$path",
        |   "binary": "payload"}]}""".stripMargin)
    val b1 = docs.filter(col("doc_id") % 5 === 1)
      .select(col("doc_id"), pay(col("doc_id")).as("payload"),
        col("source"))
      .withColumn("caption", lit("c"))
    val b2 = docs.filter(col("doc_id") % 5 === 1)
      .select((col("doc_id") + 30000).as("doc_id"),
        pay(col("doc_id")).as("payload"), col("source"))
      .union(docs.filter(col("doc_id") % 5 === 2)
        .select(col("doc_id"), pay(col("doc_id")).as("payload"),
          col("source")))
      .withColumn("caption", lit("c"))
    val r1 = p.applyStages(b1, dir, Some("dq185r1"))
    val r2 = p.applyStages(b2, dir, Some("dq185r2"))
    r1.select(lit(1L).as("round"), col("doc_id"), col("source"))
      .union(r2.select(lit(2L).as("round"), col("doc_id"), col("source")))
      .orderBy("round", "doc_id")
  }

  /** DQ186 (EXT/runner): the NEAR-dup payload gate's OWN declared
    * two-round query (r16 verdict #5, the blocked-signature sibling of
    * dq185): round 1 seeds the [[graft.ext.MediaSigIndex]] through the
    * declared `media_sig_gate`; round 2 sends byte-exact replays (8/8
    * blocks — drop), single-block variants (7/8 ≥ minMatch 6 — drop),
    * three-block variants (5/8 — keep), and a fresh slice (keep, both
    * appended). Oracle: dq180's signature chain without the stream. */
  private def q186(s: SparkSession, dir: String): DataFrame = {
    def pay(g: Column, v: Int): Column = concat((0 to 7).map(j =>
      if (j == 7) md5(concat_ws(":", lit("mb"), g, lit(j), lit(v)))
      else md5(concat_ws(":", lit("mb"), g, lit(j)))): _*).cast("binary")
    def payFar(g: Column): Column = concat((0 to 7).map(j =>
      if (j >= 5) md5(concat_ws(":", lit("fv"), g, lit(j)))
      else md5(concat_ws(":", lit("mb"), g, lit(j)))): _*).cast("binary")
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val path =
      graft.io.TempReaper.tempDir("graft-dq186-idx").toString + "/idx"
    val p = graft.plan.CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "media_sig_gate", "path": "$path",
        |   "binary": "payload", "blocks": 8, "minMatch": 6,
        |   "maxBucket": 100}]}""".stripMargin)
    val a = docs.filter(col("doc_id") % 5 === 1)
    val b1 = a.select(col("doc_id"), pay(col("doc_id"), 0).as("payload"),
        col("source"))
      .withColumn("caption", lit("c"))
    val b2 = a.select((col("doc_id") + 30000).as("doc_id"),
        pay(col("doc_id"), 0).as("payload"), col("source"))
      .union(a.select((col("doc_id") + 40000).as("doc_id"),
        pay(col("doc_id"), 1).as("payload"), col("source")))
      .union(a.select((col("doc_id") + 50000).as("doc_id"),
        payFar(col("doc_id")).as("payload"), col("source")))
      .union(docs.filter(col("doc_id") % 5 === 2)
        .select(col("doc_id"), pay(col("doc_id"), 0).as("payload"),
          col("source")))
      .withColumn("caption", lit("c"))
    val r1 = p.applyStages(b1, dir, Some("dq186r1"))
    val r2 = p.applyStages(b2, dir, Some("dq186r2"))
    r1.select(lit(1L).as("round"), col("doc_id"), col("source"))
      .union(r2.select(lit(2L).as("round"), col("doc_id"), col("source")))
      .orderBy("round", "doc_id")
  }

  /** The dq188/dq189 payload body: eight md5 hex blocks keyed
    * `(tag, g, j)` — 256 bytes of high-entropy content any engine
    * re-derives (the CDC boundary condition is content-defined, so the
    * fixture needs real entropy — dq187's lesson). */
  private def cdcBody(tag: String, g: Column, blocks: Int = 8): Column =
    concat((0 until blocks).map(j =>
      md5(concat_ws(":", lit(tag), g, lit(j)))): _*)

  /** DQ188 (EXT, §2.9): the LENGTH-ROBUST payload gate STREAMED —
    * [[graft.ext.MediaCdcIndex]] as the EIGHTH modality of the ONE
    * generic ingest loop (round 17; the store-mediated form of dq187's
    * content-defined chunking, closing the cross-batch hole the
    * blocked-signature store structurally cannot: its length fence
    * passes any insertion/truncation VARIANT of a stored payload):
    * history payloads are chunked once (`chunks/` holds (vid, ch) rows
    * on the ManifestLog skeleton); each micro-batch drops rows sharing
    * ≥ 3 distinct chunk hashes with a single stored payload — batch
    * 1's one-byte-insertion variants of HISTORY payloads drop, batch
    * 2's two-byte variants of batch 1's FRESH payloads drop ONLY
    * because the loop appended their chunks — and appends its
    * survivors' chunks, exactly-once via batch tokens + the
    * replay-view gate. The oracle re-derives every boundary position,
    * the chunk slices, and the two-round seen-set recurrence. */
  private def q188(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val hist = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"),
        cdcBody("cd", col("doc_id")).cast("binary").as("payload"),
        col("source"))
    val b1 = docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 7 === 1)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(lit("X"), cdcBody("cd", col("doc_id"))).cast("binary")
          .as("payload"), col("source"))
      .union(docs.filter(col("doc_id") % 6 === 0)
        .select(col("doc_id"),
          cdcBody("n1", col("doc_id")).cast("binary").as("payload"),
          col("source")))
    val b2 = docs.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + 30000).as("doc_id"),
        concat(lit("XY"), cdcBody("n1", col("doc_id"))).cast("binary")
          .as("payload"), col("source"))
      .union(docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 7 === 2)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat(lit("X"), cdcBody("cd", col("doc_id"))).cast("binary")
            .as("payload"), col("source")))
      .union(docs.filter(col("doc_id") % 6 === 3)
        .select(col("doc_id"),
          cdcBody("n2", col("doc_id")).cast("binary").as("payload"),
          col("source")))
    val idxPath =
      graft.io.TempReaper.tempDir("graft-dq188-idx").toString + "/idx"
    val idx = graft.ext.MediaCdcIndex.build(hist, "doc_id", "payload",
      idxPath, window = 4, minShared = 3, maxBucket = 100)
    val incoming = EventStream.twoFileBatchStream(b1, b2, "dq188")
    EventStream.runIndexedIngest(incoming, idx, "doc_id", "payload",
        "dq188")
      .select(col("batch"), col("doc_id"), col("source"))
      .orderBy("batch", "doc_id")
  }

  /** DQ189 (EXT/runner): the CDC payload gate's declared two-round
    * query (round 17, the dq186 pattern on content-defined chunks):
    * round 1 seeds the [[graft.ext.MediaCdcIndex]] through the
    * declared `media_cdc_gate`; round 2 sends byte-exact replays
    * (every chunk shared — drop; CDC subsumes exact), one-byte
    * INSERTION variants (the rows the signature gate's length fence
    * would pass — drop), and two fresh slices (keep, appended). The
    * oracle replays the chunk derivation and the round-2-vs-stored
    * shared-count rule. */
  private def q189(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val path =
      graft.io.TempReaper.tempDir("graft-dq189-idx").toString + "/idx"
    val p = graft.plan.CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "media_cdc_gate", "path": "$path",
        |   "binary": "payload", "window": 4, "minShared": 3,
        |   "maxBucket": 100}]}""".stripMargin)
    val a = docs.filter(col("doc_id") % 5 === 1)
    val b1 = a.select(col("doc_id"),
        cdcBody("cd", col("doc_id")).cast("binary").as("payload"),
        col("source"))
      .withColumn("caption", lit("c"))
    val b2 = a.select((col("doc_id") + 30000).as("doc_id"),
        cdcBody("cd", col("doc_id")).cast("binary").as("payload"),
        col("source"))
      .union(a.select((col("doc_id") + 40000).as("doc_id"),
        concat(lit("X"), cdcBody("cd", col("doc_id"))).cast("binary")
          .as("payload"), col("source")))
      .union(a.select((col("doc_id") + 50000).as("doc_id"),
        cdcBody("fv", col("doc_id")).cast("binary").as("payload"),
        col("source")))
      .union(docs.filter(col("doc_id") % 5 === 2)
        .select(col("doc_id"),
          cdcBody("cd2", col("doc_id")).cast("binary").as("payload"),
          col("source")))
      .withColumn("caption", lit("c"))
    val r1 = p.applyStages(b1, dir, Some("dq189r1"))
    val r2 = p.applyStages(b2, dir, Some("dq189r2"))
    r1.select(lit(1L).as("round"), col("doc_id"), col("source"))
      .union(r2.select(lit(2L).as("round"), col("doc_id"), col("source")))
      .orderBy("round", "doc_id")
  }

  /** DQ190 (EXT/runner): the CDC gate's STORAGE DIAL declared — the
    * dq189 arc at `zeros: 2` (round 17: coarser content-defined
    * boundaries, 16^zeros-byte mean chunks, so the stored `chunks/`
    * relation carries ~nb/256 hash rows per payload instead of ~nb/16
    * — the ratio that keeps a 100 TB media store's chunk relation at
    * ~1–10% of payload volume instead of 2× it). Payloads here are
    * 2 KB (64 md5 blocks) so the coarse boundary still yields ~8
    * chunks ≫ minShared: round 1 seeds through the declared
    * `media_cdc_gate {zeros: 2}`; round 2 sends byte-exact replays
    * (drop), one-byte insertion variants (drop — length-robust at ANY
    * zeros), and a fresh slice (keep, appended). The oracle replays
    * the coarse-boundary chunk derivation (`substr(md5(window),1,2) =
    * '00'`) and the round-2-vs-stored shared-count rule. */
  private def q190(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val path =
      graft.io.TempReaper.tempDir("graft-dq190-idx").toString + "/idx"
    val p = graft.plan.CurationConfig.parse(
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "media_cdc_gate", "path": "$path",
        |   "binary": "payload", "window": 4, "minShared": 3,
        |   "maxBucket": 100, "zeros": 2}]}""".stripMargin)
    // repartition BEFORE the 2 KB payload synthesis: the single-row-group
    // testdata parquet otherwise leaves the whole boundary scan (one
    // window-md5 per payload byte) on one core (the SCALE_MEDIACDC trap)
    val a = docs.filter(col("doc_id") % 11 === 3).repartition(32)
    val b1 = a.select(col("doc_id"),
        cdcBody("cz", col("doc_id"), 64).cast("binary").as("payload"),
        col("source"))
      .withColumn("caption", lit("c"))
    val b2 = a.select((col("doc_id") + 60000).as("doc_id"),
        cdcBody("cz", col("doc_id"), 64).cast("binary").as("payload"),
        col("source"))
      .union(a.select((col("doc_id") + 70000).as("doc_id"),
        concat(lit("X"), cdcBody("cz", col("doc_id"), 64)).cast("binary")
          .as("payload"), col("source")))
      .union(a.select((col("doc_id") + 80000).as("doc_id"),
        cdcBody("fz", col("doc_id"), 64).cast("binary").as("payload"),
        col("source")))
      .withColumn("caption", lit("c"))
    val r1 = p.applyStages(b1, dir, Some("dq190r1"))
    val r2 = p.applyStages(b2, dir, Some("dq190r2"))
    r1.select(lit(1L).as("round"), col("doc_id"), col("source"))
      .union(r2.select(lit(2L).as("round"), col("doc_id"), col("source")))
      .orderBy("round", "doc_id")
  }

  /** The dq191/dq192 shared fixture: one batch carrying BOTH
    * modalities. `A` rows are real documents (text contaminated ⟺
    * doc_id % 10 = 0 — the row IS a benchmark member, dq144's natural
    * contamination) whose payloads are insertion variants of benchmark
    * payloads exactly when doc_id % 20 = 0; `B` rows are
    * payload-ONLY-contaminated (fresh 3-token text no 8-window can
    * hit, a DIFFERENT insertion variant of a benchmark payload); `C`
    * rows are clean in both modalities. */
  private def composedDecontamBatch(docs: DataFrame): DataFrame = {
    val a = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 20 === 0,
          concat(lit("X"), cdcBody("mb", col("doc_id"))))
          .otherwise(cdcBody("fp", col("doc_id")))
          .cast("binary").as("payload"))
    val b = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat_ws(" ", lit("payload"), lit("only"), col("doc_id"))
          .as("text"),
        concat(lit("XY"), cdcBody("mb", col("doc_id"))).cast("binary")
          .as("payload"))
    val c = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat_ws(" ", lit("clean"), lit("doc"), col("doc_id")).as("text"),
        cdcBody("fq", col("doc_id")).cast("binary").as("payload"))
    a.unionByName(b).unionByName(c)
  }

  /** The dq191/dq192 config dir: BOTH frozen benchmark tables under
    * one root — the text benchmark is the documents table itself
    * (copied verbatim so `decontam_gate` resolves it beside the media
    * table), the media benchmark the doc_id % 10 = 0 payload slice. */
  private def composedDecontamDir(docs: DataFrame, tag: String): String = {
    val base = graft.io.TempReaper.tempDir(s"graft-$tag").toString
    docs.write.mode("overwrite").parquet(s"$base/documents.parquet")
    docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        cdcBody("mb", col("doc_id")).cast("binary").as("payload"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/media_bench.parquet")
    base
  }

  private def composedDecontamCfg(base: String): String =
    s"""{"table": "documents", "id": "doc_id", "text": "text",
      | "stages": [
      |  {"stage": "decontam_gate", "path": "$base/txt_idx", "k": 8,
      |   "benchmarkTable": "documents",
      |   "benchmarkWhere": "doc_id % 10 = 0"},
      |  {"stage": "media_decontam_gate", "mode": "cdc",
      |   "path": "$base/cdc_idx", "binary": "payload",
      |   "benchmarkTable": "media_bench"}]}""".stripMargin

  /** DQ191 (EXT/runner): the DECONTAMINATION CAPSTONE — both frozen
    * benchmark modalities composed in ONE declared config (round 17:
    * the missing composition lock over the frozen family — dq144
    * proves the text gate, dq181 the payload gate, but a real
    * curation run needs BOTH, and a benchmark row contaminating only
    * ONE modality must still drop): `decontam_gate` (verbatim 8-token
    * windows vs the benchmark text slice) then `media_decontam_gate`
    * mode `cdc` (content-defined chunks vs the benchmark payload
    * slice — length-robust, an insertion variant still collides).
    * Survivors are rows clean in BOTH modalities; the oracle replays
    * the dq144 window derivation AND the dq189 chunk chain and
    * intersects. Both gates are gate-only (frozen stores, no appends)
    * — a rerun returns the identical set. */
  private def q191(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val base = composedDecontamDir(docs, "dq191")
    val batch = composedDecontamBatch(docs)
    graft.plan.CurationConfig.parse(composedDecontamCfg(base))
      .applyStages(batch, base)
      .select(col("doc_id"), md5(col("text")).as("text_md5"),
        graft.ext.MediaDedup.payloadDigest(col("payload"))
          .as("payload_md5"))
      .orderBy("doc_id")
  }

  /** DQ192 (EXT, §2.9): the decontamination capstone STREAMED —
    * [[graft.streaming.EventStream.runConfigPipeline]] over the SAME
    * composed two-gate config, two micro-batches carrying the SAME
    * candidate set: both frozen stores are seeded from the declared
    * benchmark tables on first use (never from the batch) and neither
    * gate appends, so batch 2 must return the IDENTICAL survivor set
    * — the dq145/dq182 gate-only idempotence contract, now across TWO
    * modalities in one declared pipeline. */
  private def q192(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val base = composedDecontamDir(docs, "dq192")
    val batch = composedDecontamBatch(docs)
    val incoming = EventStream.twoFileBatchStream(batch, batch, "dq192")
    EventStream.runConfigPipeline(incoming,
        graft.plan.CurationConfig.parse(composedDecontamCfg(base)),
        base, "dq192")
      .select(col("batch"), col("doc_id"), md5(col("text")).as("text_md5"),
        graft.ext.MediaDedup.payloadDigest(col("payload"))
          .as("payload_md5"))
      .orderBy("batch", "doc_id")
  }

  /** DQ187 (EXT/runner): LENGTH-ROBUST payload near-dup DECLARED — the
    * content-defined-chunking mode of `media_dedup` (r16 verdict #6:
    * the blocked signature's equal strides make a ONE-BYTE insertion
    * shift every block, so a same-content-different-length variant can
    * NEVER pair — the length fence is structural): chunk boundaries
    * cut where the payload's own bytes say so (md5 of the 4-byte
    * window opens with hex '0'), so an insertion perturbs only the
    * chunk containing it and boundaries re-synchronize. The fixture
    * sends each high-entropy payload beside its one-byte-PREFIX
    * variant (257 vs 256 bytes — the exact pair the blocked form
    * provably misses, spec-pinned) plus disjoint solo payloads; pairs
    * share ≥ 3 distinct chunk hashes and collapse to the min id. The
    * oracle re-derives every boundary position, the chunk slices, the
    * capped buckets, the shared-chunk rule, and the recursive-CTE
    * closure. */
  private def q187(s: SparkSession, dir: String): DataFrame = {
    def body(tag: String, g: Column): Column = concat((0 to 7).map(j =>
      md5(concat_ws(":", lit(tag), g, lit(j)))): _*)
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val a = docs.filter(col("doc_id") % 6 === 1)
    val media = a.select(col("doc_id"),
        body("cd", col("doc_id")).cast("binary").as("payload"))
      .union(a.select((col("doc_id") + 70000).as("doc_id"),
        concat(lit("X"), body("cd", col("doc_id"))).cast("binary")
          .as("payload")))
      .union(docs.filter(col("doc_id") % 6 === 4)
        .select(col("doc_id"),
          body("sl", col("doc_id")).cast("binary").as("payload")))
      .withColumn("caption", lit("c"))
    val cfg =
      """{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "media_dedup", "mode": "cdc",
        |   "binary": "payload", "window": 4, "minShared": 3,
        |   "maxBucket": 100}]}""".stripMargin
    graft.plan.CurationConfig.parse(cfg).applyStages(media, dir)
      .select(col("doc_id"),
        graft.ext.MediaDedup.payloadDigest(col("payload"))
          .as("payload_md5"),
        octet_length(col("payload")).cast("long").as("nb"))
      .orderBy("doc_id")
  }

  /** DQ183 (EXT/runner): the MULTIMODAL CAPSTONE — round 16's payload
    * operators COMPOSED in one declared JSON, the dq165 arc for binary
    * payloads (r16 verdict #2): `media_dedup` (within-frame exact —
    * round 1's doubled payloads collapse) → `media_gate(image)` (junk
    * payloads die at the parse+band) → `media_sig_gate` (store-mediated
    * cross-batch: round 1 seeds the signature store, round 2's
    * byte-exact replays AND height-only near variants drop at
    * minMatch 7, off-lattice far variants and fresh groups survive) →
    * terminal `shard_write(units: "bytes")` — then the query returns
    * what a trainer checks: [[graft.ext.ShardWriter.verify]] over BOTH
    * committed rounds, integrity hashes covering the payload bytes.
    * Exactly-once under each round's stage tokens. The oracle chains
    * the proven dq174/dq180/dq167/dq168 derivations: PNG synthesis,
    * digest dedup, the header parse, the signature recurrence, the
    * packing recurrence, and both md5s. */
  private def q183(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val (b1, b2) = mediaCapstoneRounds(docs)
    val base = graft.io.TempReaper.tempDir("graft-dq183").toString
    val pipeline = graft.plan.CurationConfig.parse(
      mediaCapstoneCfg(s"$base/sig", s"$base/shards"))
    pipeline.applyStages(b1, dir, Some("dq183r1"))
    pipeline.applyStages(b2, dir, Some("dq183r2"))
    graft.ext.ShardWriter.verify(s, s"$base/shards", "doc_id", "caption",
        binaryCol = Some("payload"))
      .select(col("round"), col("stream"), col("bin"), col("ok"),
        col("n_docs"), col("units"), col("manifest_md5"), col("disk_md5"))
      .orderBy("round", "stream", "bin")
  }

  /** DQ184 (EXT/runner, §2.9): the MULTIMODAL CAPSTONE STREAMED — the
    * dq183 chain run once per micro-batch through
    * [[graft.streaming.EventStream.runConfigPipeline]] (the dq166 arc
    * for binary payloads): batch 1 seeds the signature store through
    * the declared `media_sig_gate`, batch 2's replays and near
    * variants drop THROUGH BATCH 1'S APPENDED SIGNATURES, and each
    * batch commits its own byte-unit shard set exactly-once under the
    * micro-batch stage tokens. Identical survivor/shard contract to
    * dq183's named rounds, so the oracle differs only in the report
    * shape (content hashes instead of the verify pair). */
  private def q184(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val (b1, b2) = mediaCapstoneRounds(docs)
    val base = graft.io.TempReaper.tempDir("graft-dq184").toString
    val pipeline = graft.plan.CurationConfig.parse(
      mediaCapstoneCfg(s"$base/sig", s"$base/shards"))
    val incoming = EventStream.twoFileBatchStream(b1, b2, "dq184")
    EventStream.runConfigPipeline(incoming, pipeline, dir, "dq184")
    graft.ext.ShardWriter.report(s, s"$base/shards")
      .select(col("round"), col("stream"), col("bin"), col("n_docs"),
        col("units"), col("content_md5"))
      .orderBy("round", "stream", "bin")
  }

  /** DQ172 (EXT/runner): the AUDIO media gate DECLARED — completes the
    * modality triple on the declared surface (dq167 image, dq168
    * video): WAV payloads (dq79's byte-exact chunk-table synthesis)
    * through `media_gate(audio)` with a sample-rate band [10 kHz,
    * 30 kHz] — keep clips that parse AND whose declared rate a speech
    * pipeline accepts (16 kHz and 22.05 kHz pass; 8 kHz telephony and
    * 44.1 kHz music band out). Survivors carry the parsed
    * `media_channels`/`media_rate`; the oracle re-runs dq79's
    * little-endian chunk walk and applies the same band. */
  private def q172(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "documents").select(col("doc_id"),
      graft.ext.Multimodal.syntheticWavPayload(col("doc_id"))
        .as("payload"),
      col("text").as("caption"))
    val cfg =
      """{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [{"stage": "media_gate", "kind": "audio",
        |   "binary": "payload", "minRate": 10000, "maxRate": 30000}]}"""
        .stripMargin
    graft.plan.CurationConfig.parse(cfg).applyStages(media, dir)
      .select(col("doc_id"), col("media_channels"), col("media_rate"))
      .orderBy("doc_id")
  }

  /** DQ170 (EXT): the PERSISTED residual IVF-PQ tier — dq169's residual
    * chain as dq164's stored layout (`create(..., pqResidual = true)`):
    * coarse centroids AND residual codebooks train on the 80% split
    * against generation-1 centroids; the 20% append subtracts the SAME
    * frozen centroids before encoding against the FROZEN residual books
    * (the generation rule extended: residual books are tied to the
    * coarse generation whose centroids they subtract — a refit retrains
    * BOTH against the new generation); `searchPq` detects the
    * residual flag pinned in the book dir and scores
    * `q·centroid(cell) + table fold`. Pre-residual layouts read as raw
    * byte for byte (the flag column defaults absent→false). The oracle
    * is the dq164 frozen-split chain with the `re`/`ret` subtraction
    * CTEs and the `qc` add-back. */
  private def q170(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val base =
      graft.io.TempReaper.tempDir("graft-dq170-respq").toString + "/ivf"
    val store = graft.ext.IvfStore.create(
      emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding", base,
      k = 8, pqM = 16, pqK = 16, pqResidual = true)
    store.appendOnce(emb.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", "dq170:b1")
    store.searchPq(store.vectorsOf(Seq(1L, 2L, 5L)), topK = 5, nprobe = 2)
      .orderBy("qid", "vid")
  }

  /** DQ165 (EXT/runner): the CAPSTONE curation-to-artifact pipeline —
    * the canonical real-world chain declared in ONE JSON config and run
    * end to end: `lang_gate("en")` (dq16's argmax) → `exact_dedup`
    * (dq116's lowest-id content rule) → `temperature_mix` (dq146's
    * integer rate chain over DEDUPED counts) → `repeat_epochs 2` (both
    * training epochs landed) → terminal `shard_write` (dq158's
    * materialization, epoch-keyed) — then the query returns what a
    * TRAINER would check before consuming the artifact:
    * [[graft.ext.ShardWriter.verify]] over the committed shard set.
    * Exactly-once under the run's stage tokens. The oracle chains the
    * dq147 front half (lang → dedup → HUGEINT mix rates → md5 gate),
    * expands the two epochs, re-runs the greedy packing recurrence per
    * stream, and asserts both integrity hashes itself — five verified
    * operators composed into one derivation. */
  private def q165(s: SparkSession, dir: String): DataFrame = {
    val base =
      graft.io.TempReaper.tempDir("graft-dq165-capstone").toString + "/st"
    val cfg =
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "lang_gate", "keep": ["en"]},
        |   {"stage": "exact_dedup"},
        |   {"stage": "temperature_mix", "strata": "source",
        |    "targetDocs": 150},
        |   {"stage": "repeat_epochs", "factor": 2.0},
        |   {"stage": "shard_write", "path": "$base", "capacity": 5000,
        |    "units": "chars", "streams": 16}]}""".stripMargin
    graft.plan.CurationConfig.parse(cfg).run(s, dir, Some("dq165"))
    graft.ext.ShardWriter.verify(s, base, "doc_id", "text")
      .select(col("round"), col("stream"), col("bin"), col("ok"),
        col("n_docs"), col("units"), col("manifest_md5"), col("disk_md5"))
      .orderBy("stream", "bin")
  }

  /** DQ166 (EXT/runner, §2.9): the STREAMED capstone — the two
    * stream-legal halves of the production tail COMPOSED in one
    * declared config, once per micro-batch: `mix_gate` (store-mediated
    * temperature mixing — round 1 seeds the count store, round 2's
    * rates flatten over the CUMULATIVE raw counts, dq159) feeding a
    * terminal `shard_write` (each batch commits its OWN shard set under
    * its stage tokens, dq160). Mixing membership decides what each
    * round MATERIALIZES, so the oracle derives both rounds' rate chains
    * (dq146's HUGEINT arithmetic over batch-1 then union counts), gates
    * the members, and re-runs the per-round packing recurrence over
    * exactly the surviving documents — ingest-to-artifact as a stream,
    * exactly-once end to end. */
  private def q166(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sc =
      graft.io.TempReaper.tempDir("graft-dq166-mix").toString + "/sc"
    val st =
      graft.io.TempReaper.tempDir("graft-dq166-shards").toString + "/st"
    val cfg =
      s"""{"table": "documents", "id": "doc_id", "text": "text",
        | "stages": [
        |   {"stage": "mix_gate", "path": "$sc", "strata": "source",
        |    "targetDocs": 150},
        |   {"stage": "shard_write", "path": "$st", "capacity": 4000,
        |    "units": "chars", "epoch": 1, "streams": 16}]}""".stripMargin
    val pipeline = graft.plan.CurationConfig.parse(cfg)
    val b1 = docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), col("source"), col("text"))
    val b2 = docs.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3)
      .select(col("doc_id"), col("source"), col("text"))
    val incoming = EventStream.twoFileBatchStream(b1, b2, "dq166")
    EventStream.runConfigPipeline(incoming, pipeline, dir, "dq166")
    graft.ext.ShardWriter.report(s, st)
      .select(col("round"), col("stream"), col("bin"), col("n_docs"),
        col("units"), col("content_md5"))
      .orderBy("round", "stream", "bin")
  }

  /** DQ167 (EXT/runner): MULTIMODAL INTO THE DECLARED PIPELINE — the
    * verified header kernels finally feed the declare-then-run workflow
    * (`media_gate`, r14 verdict #1): an image+caption frame (dq73's
    * byte-exact PNG/JPEG synthesis riding as a real `binary` column
    * beside the document text) flows through a declared
    * `media_gate(image)` — keep rows whose payload PARSES and whose
    * width/height fall in the declared band — into a terminal
    * `shard_write` with `units: "bytes"` (`octet_length` of the payload:
    * the multimodal packing meter, where image bytes dominate shard
    * size, not caption chars). The query returns the per-document
    * assignment — parsed header fields + byte units + hex-prefix stream
    * + greedy bin — so the oracle re-derives the ENTIRE chain from raw
    * ids: blob synthesis, the dq73 marker walk, the band, octet_length,
    * the epoch-shuffle key, and the dq66 packing recurrence.
    * Exactly-once under the run's stage token. */
  private def q167(s: SparkSession, dir: String): DataFrame = {
    val base =
      graft.io.TempReaper.tempDir("graft-dq167-media").toString + "/st"
    val media = t(s, dir, "documents").select(col("doc_id"),
      graft.ext.Multimodal.syntheticImagePayload(col("doc_id"))
        .as("payload"),
      col("text").as("caption"))
    val cfg =
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [
        |   {"stage": "media_gate", "kind": "image", "binary": "payload",
        |    "minWidth": 64, "maxWidth": 1600,
        |    "minHeight": 64, "maxHeight": 1000},
        |   {"stage": "shard_write", "path": "$base", "capacity": 512,
        |    "units": "bytes", "binary": "payload", "epoch": 1,
        |    "streams": 16}]}""".stripMargin
    graft.plan.CurationConfig.parse(cfg)
      .applyStages(media, dir, Some("dq167"))
      .select(col("doc_id"), col("media_format"), col("media_w"),
        col("media_h"), col("units"), col("stream"), col("bin"))
      .orderBy("doc_id")
  }

  /** DQ168 (EXT/runner): the multimodal materialization VERIFIED — the
    * video sibling of dq167 closed through the loader-side integrity
    * check: `media_gate(video)` keeps clips whose MP4 box tree parses
    * (dq80's nested walk) and whose duration lies in [5s, 600s] —
    * compared EXACTLY as `duration·1e6 between lo·timescale and
    * hi·timescale`, integer arithmetic any engine re-derives — then
    * `shard_write(units: bytes)` materializes clip+caption rows into
    * size-bounded shards whose integrity hashes COVER THE PAYLOAD BYTES
    * (`md5(id:caption:hex(payload))`): a flipped clip byte now fails
    * verification exactly like a flipped caption character. The query
    * returns [[graft.ext.ShardWriter.verify]] over the committed set;
    * the oracle re-derives blob synthesis, the box walk, the band
    * gate, the packing recurrence, and BOTH payload-covering md5s. */
  private def q168(s: SparkSession, dir: String): DataFrame = {
    val base =
      graft.io.TempReaper.tempDir("graft-dq168-clips").toString + "/st"
    val media = t(s, dir, "documents").select(col("doc_id"),
      graft.ext.Multimodal.syntheticMp4Payload(col("doc_id"))
        .as("payload"),
      col("text").as("caption"))
    val cfg =
      s"""{"table": "documents", "id": "doc_id", "text": "caption",
        | "stages": [
        |   {"stage": "media_gate", "kind": "video", "binary": "payload",
        |    "minSecMicro": 5000000, "maxSecMicro": 600000000},
        |   {"stage": "shard_write", "path": "$base", "capacity": 2048,
        |    "units": "bytes", "binary": "payload", "epoch": 1,
        |    "streams": 16}]}""".stripMargin
    // applyStages runs the declared write eagerly (the shard_write
    // stage is a materialization boundary); only verify's frame returns
    graft.plan.CurationConfig.parse(cfg).applyStages(media, dir,
      Some("dq168"))
    graft.ext.ShardWriter.verify(s, base, "doc_id", "caption",
        binaryCol = Some("payload"))
      .select(col("round"), col("stream"), col("bin"), col("ok"),
        col("n_docs"), col("units"), col("manifest_md5"), col("disk_md5"))
      .orderBy("stream", "bin")
  }

  /** DQ107 (EXT): BPE vocabulary TRAINING (Sennrich et al. 2016) — the
    * merge-learning loop over the documents corpus ([[graft.ext.BpeTrain]]):
    * 6 deterministic merges (argmax pair count, lexicographic tie-break),
    * emitted as the ordered merge table. The oracle replays the full
    * relational recurrence — distinct-word symbol table, pair counting,
    * greedy left-to-right merge — unrolled step by step in SQL. */
  private def q107(s: SparkSession, dir: String): DataFrame = {
    val model = graft.ext.BpeTrain.learn(t(s, dir, "documents"), "text",
      numMerges = BpeMerges)
    s.createDataFrame(model.merges)
      .select(col("step").cast("long").as("step"),
        col("left").as("left_sym"), col("right").as("right_sym"),
        col("pairCount").as("pair_count"))
      .orderBy("step")
  }

  /** DQ108 (EXT): the TRAINED vocabulary feeding dq89's inference kernel —
    * vocab = alphabet ∪ merge products from dq107's training run, consumed
    * by [[graft.functions.SubwordTokenize]] over the same corpus (dq89's
    * exact result shape). The oracle derives the SAME vocab from the
    * unrolled BPE chain and replays the greedy longest-match recurrence
    * against it — training and inference checked end-to-end. */
  private def q108(s: SparkSession, dir: String): DataFrame = {
    val model = graft.ext.BpeTrain.learn(t(s, dir, "documents"), "text",
      numMerges = BpeMerges)
    val stream = t(s, dir, "documents").select(col("doc_id"),
      regexp_replace(lower(col("text")), "\\W+", " ").as("__stream"))
    val sub = stream.select(col("doc_id"),
      graft.functions.SubwordTokenize(col("__stream"), model.vocab).as("__sub"))
    sub.select(col("doc_id"), col("__sub"),
        array_join(col("__sub"), " ").as("__joined"))
      .select(col("doc_id"),
        size(col("__sub")).cast("long").as("n_subtokens"),
        md5(col("__joined")).as("subtok_md5"))
      .orderBy("doc_id")
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq01_nested_projection"   -> (q01 _),
    "dq02_select_all_expansion" -> (q02 _),
    "dq03_scalar_flatten"      -> (q03 _),
    "dq04_constant_columns"    -> (q04 _),
    "dq05_struct_construction" -> (q05 _),
    "dq06_filter_predicates"   -> (q06 _),
    "dq07_null_semantics"      -> (q07 _),
    "dq08_enum_passthrough"    -> (q08 _),
    "dq09_field_ordering"      -> ((s: SparkSession, d: String) => q09FieldOrdering(s, d)),
    "dq10_json_sink"           -> (q10 _),
    "dq11_join"                -> (q11 _),
    "dq12_aggregation"         -> (q12 _),
    "dq13_dedup_exact"         -> (q13 _),
    "dq14_similarity_topk"     -> (q14 _),
    "dq15_text_tokens"         -> (q15 _),
    "dq16_lang_id"             -> (q16 _),
    "dq17_quality_score"       -> (q17 _),
    "dq18_fingerprint"         -> (q18 _),
    "dq19_minhash_lsh"         -> (q19 _),
    "dq20_simhash"             -> (q20 _),
    "dq21_ngram_jaccard"       -> (q21 _),
    "dq22_embedding_neardup"   -> (q22 _),
    "dq23_ann_ivf"             -> (q23 _),
    "dq24_multimodal_decode"   -> (q24 _),
    "dq25_stream_window"       -> (q25 _),
    "dq26_stream_sessions"     -> (q26 _),
    "dq27_window_running"      -> (q27 _),
    "dq28_set_except"          -> (q28 _),
    "dq29_distinct_count"      -> (q29 _),
    "dq30_ann_multiprobe"      -> (q30 _),
    "dq31_stream_dedup"        -> (q31 _),
    "dq32_anti_join"           -> (q32 _),
    "dq33_outer_join_agg"      -> (q33 _),
    "dq34_rollup"              -> (q34 _),
    "dq35_pivot"               -> (q35 _),
    "dq36_json_extract"        -> (q36 _),
    "dq37_asof_join"           -> (q37 _),
    "dq38_range_join"          -> (q38 _),
    "dq39_semi_join"           -> (q39 _),
    "dq40_set_intersect"       -> (q40 _),
    "dq41_cube"                -> (q41 _),
    "dq42_percentiles"         -> (q42 _),
    "dq43_string_agg"          -> (q43 _),
    "dq44_stream_static_join"  -> (q44 _),
    "dq45_dedup_clusters"      -> (q45 _),
    "dq46_session_window"      -> (q46 _),
    "dq47_dedup_canonical"     -> (q47 _),
    "dq48_grouping_sets"       -> (q48 _),
    "dq49_stream_interval_join" -> (q49 _),
    "dq50_vector_centroids"    -> (q50 _),
    "dq51_ann_trained_ivf"     -> (q51 _),
    "dq52_bucketed_join"       -> (q52 _),
    "dq53_char_diversity"      -> (q53 _),
    "dq54_salted_join"         -> (q54 _),
    "dq55_bloom_pruned_join"   -> (q55 _),
    "dq56_dedup_salted"        -> (q56 _),
    "dq57_topk_per_key"        -> (q57 _),
    "dq58_sample_split"        -> (q58 _),
    "dq59_partition_pruning"   -> (q59 _),
    "dq60_quantized_ann"       -> (q60 _),
    "dq61_unpivot"             -> (q61 _),
    "dq62_curation_pipeline"   -> (q62 _),
    "dq63_zorder_band"         -> (q63 _),
    "dq64_repetition_ratio"    -> (q64 _),
    "dq65_chunking"            -> (q65 _),
    "dq66_sequence_packing"    -> (q66 _),
    "dq67_decontamination"     -> (q67 _),
    "dq68_source_mix"          -> (q68 _),
    "dq69_tfidf_top_term"      -> (q69 _),
    "dq70_config_report"       -> (q70 _),
    "dq71_length_outliers"     -> (q71 _),
    "dq72_winnow_overlap"      -> (q72 _),
    "dq73_image_meta"          -> (q73 _),
    "dq74_dup_lines"           -> (q74 _),
    "dq75_semdedup"            -> (q75 _),
    "dq76_curation_v2"         -> (q76 _),
    "dq77_topngram_family"     -> (q77 _),
    "dq78_sessions_tws"        -> (q78 _),
    "dq79_audio_meta"          -> (q79 _),
    "dq80_video_meta"          -> (q80 _),
    "dq81_incremental_dedup"   -> (q81 _),
    "dq82_sequence_materialize" -> (q82 _),
    "dq83_incremental_neardup"  -> (q83 _),
    "dq84_ann_ivf_kernel"       -> (q84 _),
    "dq85_pii_redaction"        -> (q85 _),
    "dq86_bm25_topk"            -> (q86 _),
    "dq87_stream_ingest_gate"   -> (q87 _),
    "dq88_boilerplate_lines"    -> (q88 _),
    "dq89_subword_tokenize"     -> (q89 _),
    "dq90_hard_negatives"       -> (q90 _),
    "dq91_semantic_decon"       -> (q91 _),
    "dq92_lm_fluency"           -> (q92 _),
    "dq93_chunk_retrieval"      -> (q93 _),
    "dq94_stream_dedup_ww"      -> (q94 _),
    "dq95_curation_v3"          -> (q95 _),
    "dq96_stream_daily_rollup"  -> (q96 _),
    "dq97_stream_outer_join"    -> (q97 _),
    "dq98_dsir_importance"      -> (q98 _),
    "dq99_knn_classify"         -> (q99 _),
    "dq100_token_packing"       -> (q100 _),
    "dq101_epoch_shuffle"       -> (q101 _),
    "dq102_quality_gate"        -> (q102 _),
    "dq103_dense_resample"      -> (q103 _),
    "dq104_neardup_index_loop"  -> (q104 _),
    "dq105_semantic_decon_pruned" -> (q105 _),
    "dq106_exact_substring"     -> (q106 _),
    "dq107_bpe_train"           -> (q107 _),
    "dq108_bpe_tokenize"        -> (q108 _),
    "dq109_stream_index_loop"   -> (q109 _),
    "dq110_exact_substring_clean" -> (q110 _),
    "dq111_cluster_balanced"    -> (q111 _),
    "dq112_quality_probe"       -> (q112 _),
    "dq113_exact_substring_gate" -> (q113 _),
    "dq114_bpe_train_batched"   -> (q114 _),
    "dq115_quality_probe_gate"  -> (q115 _),
    "dq116_curation_config"     -> (q116 _),
    "dq117_substr_index_loop"   -> (q117 _),
    "dq118_ivf_store"           -> (q118 _),
    "dq119_token_budget"        -> (q119 _),
    "dq120_epoch_repeat"        -> (q120 _),
    "dq121_stream_substr_loop"  -> (q121 _),
    "dq122_sem_index_loop"      -> (q122 _),
    "dq123_stream_sem_loop"     -> (q123 _),
    "dq124_config_ingest"       -> (q124 _),
    "dq125_config_sem_ingest"   -> (q125 _),
    "dq179_config_pq_gate"      -> (q179 _),
    "dq180_stream_media_sig"    -> (q180 _),
    "dq126_ivf_store_packed"    -> (q126 _),
    "dq127_bm25_store"          -> (q127 _),
    "dq128_lm_store_gate"       -> (q128 _),
    "dq129_stream_lm_loop"      -> (q129 _),
    "dq130_config_lm_ingest"    -> (q130 _),
    "dq131_probe_stats_store"   -> (q131 _),
    "dq132_probe_gate_loop"     -> (q132 _),
    "dq133_stream_probe_loop"   -> (q133 _),
    "dq134_config_probe_ingest" -> (q134 _),
    "dq135_config_curation_loop" -> (q135 _),
    "dq136_bpe_store"           -> (q136 _),
    "dq137_bpe_store_tokenize"  -> (q137 _),
    "dq138_config_bpe_tokenize" -> (q138 _),
    "dq139_stream_bpe_fold"     -> (q139 _),
    "dq140_stream_bm25_fold"    -> (q140 _),
    "dq141_config_neardup_ingest" -> (q141 _),
    "dq142_ivf_refit"           -> (q142 _),
    "dq143_curation_drop_audit" -> (q143 _),
    "dq144_decontam_gate_stage" -> (q144 _),
    "dq145_stream_decontam"     -> (q145 _),
    "dq146_temperature_mix"     -> (q146 _),
    "dq147_config_lang_mix"     -> (q147 _),
    "dq148_epochs_by_source"    -> (q148 _),
    "dq149_stream_sem_decontam" -> (q149 _),
    "dq150_stream_reflm_gate"   -> (q150 _),
    "dq151_stream_frozen_probe" -> (q151 _),
    "dq152_stream_fuzzy_decontam" -> (q152 _),
    "dq153_stream_config_pipeline" -> (q153 _),
    "dq154_stream_drop_audit"     -> (q154 _),
    "dq155_proto_replay_report"   -> (q155 _),
    "dq156_proto_stream_tail"     -> (q156 _),
    "dq157_stream_config_report"  -> (q157 _),
    "dq158_shard_write"           -> (q158 _),
    "dq159_stream_mix_gate"       -> (q159 _),
    "dq160_stream_shard_write"    -> (q160 _),
    "dq161_shard_verify_epochs"   -> (q161 _),
    "dq162_pq_adc_topk"           -> (q162 _),
    "dq163_ivfpq_topk"            -> (q163 _),
    "dq164_ivfpq_store"           -> (q164 _),
    "dq165_capstone_pipeline"     -> (q165 _),
    "dq166_stream_mix_materialize" -> (q166 _),
    "dq167_media_gate_shards"     -> (q167 _),
    "dq168_media_shard_verify"    -> (q168 _),
    "dq169_residual_ivfpq"        -> (q169 _),
    "dq170_residual_pq_store"     -> (q170 _),
    "dq171_stream_media_shards"   -> (q171 _),
    "dq172_audio_gate"            -> (q172 _),
    "dq173_pq_rerank"             -> (q173 _),
    "dq174_media_dedup_exact"     -> (q174 _),
    "dq175_media_dedup_near"      -> (q175 _),
    "dq176_stream_media_digest"   -> (q176 _),
    "dq177_pq_permuted"           -> (q177 _),
    "dq178_pq_gate"               -> (q178 _),
    "dq181_media_decontam_gate"   -> (q181 _),
    "dq182_stream_media_decontam" -> (q182 _),
    "dq183_media_capstone"        -> (q183 _),
    "dq184_stream_media_capstone" -> (q184 _),
    "dq185_config_media_digest"   -> (q185 _),
    "dq186_config_media_sig"      -> (q186 _),
    "dq187_media_dedup_cdc"       -> (q187 _),
    "dq188_stream_media_cdc"      -> (q188 _),
    "dq189_config_media_cdc"      -> (q189 _),
    "dq190_config_media_cdc_coarse" -> (q190 _),
    "dq191_decontam_capstone"     -> (q191 _),
    "dq192_stream_decontam_capstone" -> (q192 _)
  )

  /** The shared CDC chunk-derivation CTE fragment (dq188-dq192):
    * assumes a `roles(id, source, g, tag, pre, grp)` relation — `(id,
    * grp)` is the payload key, so one id may carry DIFFERENT payloads
    * in different groups (dq191's batch-vs-benchmark overlap) — and
    * produces `hx(id, source, grp, h, nb)` and the DISTINCT per-payload
    * chunk rows `dch(id, grp, ch)` — every boundary position where the
    * 4-byte window's md5 opens with '0', the lead()-paired chunk
    * slices, and their md5s ([[graft.ext.MediaDedup.cdcChunkRows]]'s
    * exact arithmetic). */
  private def cdcChainSql(blocks: Int = 8, zeros: Int = 1): String =
    s"""blk AS (SELECT id, source, grp, pre, j,
      |    md5(tag || ':' || g::VARCHAR || ':' || j) AS b
      |  FROM roles, unnest(range(0, $blocks)) t(j)),
      |pays AS (SELECT id, source, grp,
      |    pre || string_agg(b, '' ORDER BY j) AS ps
      |  FROM blk GROUP BY id, source, grp, pre),
      |hx AS (SELECT id, source, grp, upper(hex(ps::BLOB)) h,
      |    octet_length(ps::BLOB)::INT nb FROM pays),
      |pos AS (SELECT id, grp, p + 4 AS cut
      |  FROM hx, unnest(range(0, nb - 3)) t(p)
      |  WHERE substr(md5(substr(h, (p * 2 + 1)::INT, 8)), 1, $zeros) =
      |    '${"0" * zeros}'),
      |starts AS (
      |  SELECT id, grp, CAST(0 AS BIGINT) AS s FROM hx
      |  UNION
      |  SELECT pos.id, pos.grp, pos.cut FROM pos JOIN hx USING (id, grp)
      |    WHERE pos.cut < hx.nb),
      |w AS (SELECT id, grp, s,
      |    lead(s) OVER (PARTITION BY id, grp ORDER BY s) nxt FROM starts),
      |chunks AS (SELECT w.id, hx.grp,
      |    md5(substr(hx.h, (w.s * 2 + 1)::INT,
      |      ((COALESCE(w.nxt, hx.nb) - w.s) * 2)::INT)) ch
      |  FROM w JOIN hx USING (id, grp)),
      |dch AS (SELECT DISTINCT id, grp, ch FROM chunks),
      |""".stripMargin

  /** The dq183/dq184 shared oracle body: PNG synthesis on the dimension
    * lattice, per-round digest dedup, the header parse + band, the
    * blocked-signature recurrence at minMatch 7 (round 1 seeds, round 2
    * gates), and the per-round packing recurrence at 512 bytes —
    * everything up to the `packed` relation the two report tails read. */
  private val MediaCapstoneSqlBody: String =
    """WITH RECURSIVE s1 AS (SELECT doc_id AS g FROM documents
      |  WHERE doc_id % 12 = 1),
      |s2 AS (SELECT doc_id AS g FROM documents WHERE doc_id % 12 = 7),
      |roles AS (
      |  SELECT g AS id, g, 0 AS dw, 0 AS dh, 'png' AS kind, 1 AS round
      |    FROM s1
      |  UNION ALL SELECT g + 100000, g, 0, 0, 'png', 1 FROM s1
      |  UNION ALL SELECT doc_id + 200000, doc_id, 0, 0, 'junk', 1
      |    FROM documents WHERE doc_id % 12 = 5
      |  UNION ALL SELECT g + 300000, g, 0, 0, 'png', 2 FROM s1
      |  UNION ALL SELECT g + 400000, g, 0, 2, 'png', 2 FROM s1
      |  UNION ALL SELECT g + 500000, g, 4, 2, 'png', 2 FROM s1
      |  UNION ALL SELECT g, g, 0, 0, 'png', 2 FROM s2),
      |payload AS (SELECT id, round,
      |    CASE WHEN kind = 'junk' THEN ('junk ' || g::VARCHAR)::BLOB
      |    ELSE unhex('89504E470D0A1A0A' || '0000000D' || '49484452'
      |      || lpad(to_hex(g % 100 * 8 + 64 + dw), 8, '0')
      |      || lpad(to_hex((g * 7) % 100 * 4 + 64 + dh), 8, '0')
      |      || '0806000000') END AS payload
      |  FROM roles),
      |hx AS (SELECT id, round, upper(hex(payload)) h,
      |    octet_length(payload)::BIGINT nb FROM payload),
      |dd AS (SELECT id, round, h, nb FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY round, md5(h) ORDER BY id) rn FROM hx) z
      |  WHERE rn = 1),
      |gated AS (SELECT id, round, h, nb FROM dd
      |  WHERE substr(h, 1, 16) = '89504E470D0A1A0A'
      |    AND substr(h, 17, 8) = '0000000D'
      |    AND substr(h, 25, 8) = '49484452'
      |    AND TRY_CAST(('0x' || substr(h, 33, 8)) AS BIGINT)
      |      BETWEEN 64 AND 1600
      |    AND TRY_CAST(('0x' || substr(h, 41, 8)) AS BIGINT)
      |      BETWEEN 64 AND 1000),
      |sigi AS (SELECT id, round, nb, h, unnest(range(0, 8)) i FROM gated),
      |sig AS (SELECT id, round, nb, i,
      |    md5(substr(h, (i * 10 + 1)::INT, 10)) bh FROM sigi),
      |d2 AS (SELECT b.id FROM sig b
      |  JOIN (SELECT id hid, nb, i, bh FROM sig WHERE round = 1) h0
      |    ON b.nb = h0.nb AND b.i = h0.i AND b.bh = h0.bh
      |  WHERE b.round = 2
      |  GROUP BY b.id, h0.hid HAVING count(*) >= 7),
      |surv AS (SELECT id, round, h, nb FROM gated
      |  WHERE round = 1
      |    OR id NOT IN (SELECT DISTINCT id FROM d2)),
      |kept AS (SELECT round, id, h, nb AS units,
      |    md5('1:' || id::VARCHAR) skey,
      |    substr(md5('1:' || id::VARCHAR), 1, 1) stream
      |  FROM surv),
      |r AS (SELECT *, row_number() OVER (
      |    PARTITION BY round, stream ORDER BY skey) rn FROM kept),
      |packed AS (
      |  SELECT round, stream, skey, id, h, units, rn,
      |    CAST(0 AS BIGINT) AS bin, units AS fill
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.round, r.stream, r.skey, r.id, r.h, r.units, r.rn,
      |    CASE WHEN p.fill + r.units > 512 THEN p.bin + 1 ELSE p.bin END,
      |    CASE WHEN p.fill + r.units > 512 THEN r.units
      |         ELSE p.fill + r.units END
      |  FROM r JOIN packed p
      |    ON r.round = p.round AND r.stream = p.stream
      |    AND r.rn = p.rn + 1)
      |""".stripMargin

  /** dq19's pipeline as reusable SQL (no ORDER BY) — dq45 embeds it as the
    * edge list of its clustering oracle, so the two stay in lockstep. */
  private val Dq19Sql =
    """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
      |    x -> len(x) > 0) toks FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) sh
      |  FROM t WHERE len(toks) >= 3),
      |hp AS (SELECT doc_id, sh, list_transform(sh, x -> md5(x)) ds FROM s),
      |sig AS (SELECT doc_id, list_transform(range(0, 16),
      |    i -> list_min(list_transform(ds,
      |      d -> (('0x' || substr(d, 1, 8))::BIGINT + i * ('0x' || substr(d, 9, 8))::BIGINT)
      |           % 2147483647))) mh FROM hp),
      |bands AS (SELECT doc_id, b,
      |    mh[4*b+1] || '|' || mh[4*b+2] || '|' || mh[4*b+3] || '|' || mh[4*b+4] bkey
      |  FROM sig, unnest(range(0, 4)) AS u(b)),
      |sized AS (SELECT doc_id, b, bkey, count(*) OVER (PARTITION BY b, bkey) c FROM bands),
      |cand AS (SELECT DISTINCT a.doc_id ai, b.doc_id bi
      |  FROM sized a JOIN sized b USING (b, bkey)
      |  WHERE a.doc_id < b.doc_id AND a.c <= 100),
      |pairs AS (SELECT ai, bi,
      |    len(list_intersect(x.sh, y.sh))::DOUBLE / len(list_distinct(x.sh || y.sh)) jac
      |  FROM cand JOIN s x ON x.doc_id = ai JOIN s y ON y.doc_id = bi)
      |SELECT ai AS doc_a, bi AS doc_b, jac FROM pairs WHERE jac > 0.8""".stripMargin

  /** dq83's batch-vs-history near-dup gate as reusable SQL — shared with
    * dq87, which runs the SAME gate as a foreachBatch stream (stream/batch
    * parity: one oracle for both). */
  private val Dq83Sql =
    """WITH incoming AS (
      |  SELECT doc_id + 100000 AS doc_id, source, text || ' zzztail' AS text
      |  FROM documents WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, source,
      |    array_to_string(list_transform(range(1, len(tk) + 1),
      |      i -> CASE WHEN (i - 1) % 3 = 0 THEN tk[i] || 'x' ELSE tk[i] END),
      |      ' ') AS text
      |  FROM (SELECT doc_id, source, string_split(text, ' ') tk
      |        FROM documents WHERE doc_id % 13 = 0)),
      |ht AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
      |    x -> len(x) > 0) toks FROM documents),
      |it AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
      |    x -> len(x) > 0) toks FROM incoming),
      |hs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) sh
      |  FROM ht WHERE len(toks) >= 3),
      |iss AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) sh
      |  FROM it WHERE len(toks) >= 3),
      |hhp AS (SELECT doc_id, list_transform(sh, x -> md5(x)) ds FROM hs),
      |ihp AS (SELECT doc_id, list_transform(sh, x -> md5(x)) ds FROM iss),
      |hsig AS (SELECT doc_id, list_transform(range(0, 16),
      |    i -> list_min(list_transform(ds,
      |      d -> (('0x' || substr(d, 1, 8))::BIGINT + i * ('0x' || substr(d, 9, 8))::BIGINT)
      |           % 2147483647))) mh FROM hhp),
      |isig AS (SELECT doc_id, list_transform(range(0, 16),
      |    i -> list_min(list_transform(ds,
      |      d -> (('0x' || substr(d, 1, 8))::BIGINT + i * ('0x' || substr(d, 9, 8))::BIGINT)
      |           % 2147483647))) mh FROM ihp),
      |hb AS (SELECT doc_id, b,
      |    mh[4*b+1] || '|' || mh[4*b+2] || '|' || mh[4*b+3] || '|' || mh[4*b+4] bkey
      |  FROM hsig, unnest(range(0, 4)) AS u(b)),
      |ib AS (SELECT doc_id, b,
      |    mh[4*b+1] || '|' || mh[4*b+2] || '|' || mh[4*b+3] || '|' || mh[4*b+4] bkey
      |  FROM isig, unnest(range(0, 4)) AS u(b)),
      |hok AS (SELECT doc_id, b, bkey FROM
      |    (SELECT doc_id, b, bkey, count(*) OVER (PARTITION BY b, bkey) c FROM hb)
      |  WHERE c <= 100),
      |cand AS (SELECT DISTINCT i.doc_id inc_id, h.doc_id hist_id
      |  FROM ib i JOIN hok h USING (b, bkey)),
      |pairs AS (SELECT inc_id,
      |    len(list_intersect(x.sh, y.sh))::DOUBLE / len(list_distinct(x.sh || y.sh)) jac
      |  FROM cand JOIN iss x ON x.doc_id = inc_id JOIN hs y ON y.doc_id = hist_id)
      |SELECT doc_id, source FROM incoming
      |WHERE doc_id NOT IN (SELECT inc_id FROM pairs WHERE jac > 0.8)
      |ORDER BY doc_id""".stripMargin

  /** One digest/signature/band derivation for dq104, over a named
    * (doc_id, text) relation: sorted md5 digests of the distinct 3-gram
    * shingles (`${p}s.ds` — byte-identical to the [[graft.ext.NearDupIndex]]
    * stored payload), the 16-hash signature derived from the digests'
    * 32-bit halves, and the 4 banded keys (`${p}b`). Same arithmetic as
    * [[Dq83Sql]]; the difference is that every downstream stage (including
    * exact Jaccard) runs on the digests, never the shingle text.
    */
  private def dq104Chain(src: String, p: String): String =
    s"""${p}t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\W+'),
      |    x -> len(x) > 0) toks FROM $src),
      |${p}s AS (SELECT doc_id, list_sort(list_distinct(list_transform(
      |      range(1, len(toks) - 1),
      |      i -> substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 16)))) ds
      |  FROM ${p}t WHERE len(toks) >= 3),
      |${p}g AS (SELECT doc_id, list_transform(range(0, 16),
      |    i -> list_min(list_transform(ds,
      |      d -> (('0x' || substr(d, 1, 8))::BIGINT + i * ('0x' || substr(d, 9, 8))::BIGINT)
      |           % 2147483647))) mh FROM ${p}s),
      |${p}b AS (SELECT doc_id, b,
      |    mh[4*b+1] || '|' || mh[4*b+2] || '|' || mh[4*b+3] || '|' || mh[4*b+4] bkey
      |  FROM ${p}g, unnest(range(0, 4)) AS u(b))""".stripMargin

  /** dq104's two-round persisted-index loop: build from documents, gate
    * batch 1, append survivors, gate batch 2 against the UNIONED index.
    */
  private lazy val Dq104Sql = {
    def mut(step: Int, sfx: Char): String =
      s"""array_to_string(list_transform(range(1, len(tk) + 1),
        |      i -> CASE WHEN (i - 1) % $step = 0 THEN tk[i] || '$sfx' ELSE tk[i] END),
        |      ' ')""".stripMargin
    s"""WITH b1 AS (
      |  SELECT doc_id + 100000 AS doc_id, source, text || ' zzztail' AS text
      |  FROM documents WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, source, ${mut(3, 'x')} AS text
      |  FROM (SELECT doc_id, source, string_split(text, ' ') tk
      |        FROM documents WHERE doc_id % 13 = 0)),
      |b2 AS (
      |  SELECT doc_id + 300000 AS doc_id, source,
      |    ${mut(3, 'x')} || ' zzztail' AS text
      |  FROM (SELECT doc_id, source, string_split(text, ' ') tk
      |        FROM documents WHERE doc_id % 13 = 0)
      |  UNION ALL
      |  SELECT doc_id + 400000 AS doc_id, source, text || ' zzztail' AS text
      |  FROM documents WHERE doc_id % 19 = 0
      |  UNION ALL
      |  SELECT doc_id + 500000 AS doc_id, source, ${mut(2, 'y')} AS text
      |  FROM (SELECT doc_id, source, string_split(text, ' ') tk
      |        FROM documents WHERE doc_id % 11 = 0)),
      |${dq104Chain("documents", "h")},
      |${dq104Chain("b1", "p")},
      |${dq104Chain("b2", "q")},
      |hok AS (SELECT doc_id, b, bkey FROM
      |    (SELECT doc_id, b, bkey, count(*) OVER (PARTITION BY b, bkey) c FROM hb)
      |  WHERE c <= 100),
      |c1 AS (SELECT DISTINCT i.doc_id inc_id, h.doc_id hist_id
      |  FROM pb i JOIN hok h USING (b, bkey)),
      |v1 AS (SELECT inc_id,
      |    len(list_intersect(x.ds, y.ds))::DOUBLE / len(list_distinct(x.ds || y.ds)) jac
      |  FROM c1 JOIN ps x ON x.doc_id = inc_id JOIN hs y ON y.doc_id = hist_id),
      |k1 AS (SELECT doc_id, source FROM b1
      |  WHERE doc_id NOT IN (SELECT inc_id FROM v1 WHERE jac > 0.8)),
      |h2s AS (SELECT doc_id, ds FROM hs
      |  UNION ALL SELECT ps.doc_id, ps.ds FROM ps JOIN k1 USING (doc_id)),
      |h2b AS (SELECT doc_id, b, bkey FROM hb
      |  UNION ALL SELECT pb.doc_id, pb.b, pb.bkey FROM pb JOIN k1 USING (doc_id)),
      |h2ok AS (SELECT doc_id, b, bkey FROM
      |    (SELECT doc_id, b, bkey, count(*) OVER (PARTITION BY b, bkey) c FROM h2b)
      |  WHERE c <= 100),
      |c2 AS (SELECT DISTINCT i.doc_id inc_id, h.doc_id hist_id
      |  FROM qb i JOIN h2ok h USING (b, bkey)),
      |v2 AS (SELECT inc_id,
      |    len(list_intersect(x.ds, y.ds))::DOUBLE / len(list_distinct(x.ds || y.ds)) jac
      |  FROM c2 JOIN qs x ON x.doc_id = inc_id JOIN h2s y ON y.doc_id = hist_id),
      |k2 AS (SELECT doc_id, source FROM b2
      |  WHERE doc_id NOT IN (SELECT inc_id FROM v2 WHERE jac > 0.8))
      |SELECT CAST(1 AS BIGINT) AS batch, doc_id, source FROM k1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS batch, doc_id, source FROM k2
      |ORDER BY batch, doc_id""".stripMargin
  }

  /** dq141: the config-declared near-dup ingest — round 1 seeds the store
    * from the `doc_id % 4 = 1` slice (all kept), round 2 gates the union
    * slice against it with dq104's chain verbatim (same shingle→digest→
    * band→cap→Jaccard arithmetic over the where-selected relations). */
  private lazy val Dq141Sql =
    s"""WITH r1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1),
      |r2 AS (SELECT doc_id, text FROM documents
      |  WHERE doc_id % 4 = 1 OR doc_id % 4 = 2),
      |${dq104Chain("r1", "h")},
      |${dq104Chain("r2", "p")},
      |hok AS (SELECT doc_id, b, bkey FROM
      |    (SELECT doc_id, b, bkey, count(*) OVER (PARTITION BY b, bkey) c FROM hb)
      |  WHERE c <= 100),
      |c1 AS (SELECT DISTINCT i.doc_id inc_id, h.doc_id hist_id
      |  FROM pb i JOIN hok h USING (b, bkey)),
      |v1 AS (SELECT inc_id,
      |    len(list_intersect(x.ds, y.ds))::DOUBLE / len(list_distinct(x.ds || y.ds)) jac
      |  FROM c1 JOIN ps x ON x.doc_id = inc_id JOIN hs y ON y.doc_id = hist_id),
      |k2 AS (SELECT doc_id FROM r2
      |  WHERE doc_id NOT IN (SELECT inc_id FROM v1 WHERE jac > 0.8))
      |SELECT CAST(1 AS BIGINT) AS round, doc_id FROM r1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS round, doc_id FROM k2
      |ORDER BY round, doc_id""".stripMargin

  /** dq72's winnow shared-passage pairs as reusable SQL over a named
    * (doc_id, text) relation (no ORDER BY) — identical rolling-hash
    * arithmetic to `ext.Winnow` (same B^j mod M constants; integer-only, so
    * every hash matches bit-for-bit). dq76 embeds it over its curated
    * subset the way dq45 embeds [[Dq19Sql]]. */
  private def winnowPairsSql(src: String): String = {
    val (k, w) = (16, 8)
    val pows = graft.ext.Winnow.powers(k)
    val terms = (0 until k)
      .map(j => s"ascii(substr(s, i+$j, 1))::BIGINT * ${pows(k - 1 - j)}")
      .mkString(" + ")
    s"""WITH wt AS (SELECT doc_id, lower(text) s FROM $src),
      |wh AS (SELECT doc_id, list_transform(range(1, len(s) - ${k - 2}),
      |    i -> ($terms) % 2147483647) hs
      |  FROM wt WHERE len(s) >= $k),
      |wfp AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(hs) - ${w - 2}),
      |    i -> list_min(hs[i:i+${w - 1}])))) f
      |  FROM wh WHERE len(hs) >= $w),
      |wok AS (SELECT f FROM wfp GROUP BY f HAVING count(*) BETWEEN 2 AND 100)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(count(*) AS BIGINT) AS n_shared
      |FROM wfp a JOIN wfp b ON a.f = b.f AND a.doc_id < b.doc_id
      |JOIN wok ON wok.f = a.f
      |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin
  }

  /** dq22's pipeline as reusable SQL (no ORDER BY) — dq75 embeds it as the
    * edge list of its SemDeDup oracle, the same way dq45 embeds [[Dq19Sql]]. */
  private val Dq22Sql =
    """WITH e22 AS (SELECT vec_id, embedding,
      |  (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END +
      |   CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END +
      |   CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END +
      |   CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) bucket FROM embeddings)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
      |  / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
      |     * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS sim
      |FROM e22 a JOIN e22 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
      |  / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
      |     * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) > 0.4""".stripMargin

  /** dq51's deterministic-Lloyd's IVF pipeline as DuckDB SQL, generated from
    * the same constants as q51 (k=8, 2 iterations, nprobe=2, top-5, queries
    * 1..3) so the unrolled CTE chain stays in lockstep with
    * `IvfIndex.fit`/`queryAll`: c0 = seeded-hash init; per iteration,
    * assignment by squared-distance argmin (tie → lower cell) then centroid
    * update in integer micro-units; final assignment; probe the nprobe
    * nearest cells per query; cosine top-k within probed cells.
    */
  private def ivfDistSql(emb: String, c: String) =
    s"list_sum(list_transform(range(1, 65), i -> ($emb[i]::DOUBLE - $c.c[i]) * ($emb[i]::DOUBLE - $c.c[i])))"

  /** The deterministic-Lloyd's training + assignment + probe chain shared
    * by the IVF oracles (dq51/dq84/dq105): `e` (optionally filtered) →
    * seeded-hash `c0` → `iters` assignment/update rounds → final assignment
    * `af` → per-query probe cells `probe` (from the `q` CTE the caller
    * appends before this string is closed — see usage).
    */
  private def ivfChainSql(k: Int, iters: Int, nprobe: Int,
      eWhere: String, qSelect: String,
      assignSql: String = "SELECT vid, emb FROM e"): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT vec_id vid, embedding emb FROM embeddings$eWhere),
      |c0 AS (SELECT rn - 1 AS cell, c FROM (
      |  SELECT row_number() OVER (ORDER BY md5(vid::VARCHAR), vid) rn,
      |         list_transform(emb, x -> x::DOUBLE) c FROM e) WHERE rn <= $k),
      |""".stripMargin
    for (i <- 1 to iters)
      sb ++= s"""d$i AS (SELECT e.vid, e.emb, c.cell, ${ivfDistSql("e.emb", "c")} dist
        |  FROM e CROSS JOIN c${i - 1} c),
        |a$i AS (SELECT vid, emb, cell FROM (SELECT vid, emb, cell,
        |    row_number() OVER (PARTITION BY vid ORDER BY dist, cell) rn FROM d$i) WHERE rn = 1),
        |u$i AS (SELECT cell, d,
        |    (SUM(CAST(FLOOR(emb[d]::DOUBLE * 1000000) AS BIGINT)) / 1000000.0) / COUNT(*) cd
        |  FROM a$i, unnest(range(1, 65)) t(d) GROUP BY cell, d),
        |c$i AS (SELECT cell, list(cd ORDER BY d) c FROM u$i GROUP BY cell),
        |""".stripMargin
    sb ++= s"""ef AS ($assignSql),
      |df AS (SELECT ef.vid, ef.emb, c.cell, ${ivfDistSql("ef.emb", "c")} dist
      |  FROM ef CROSS JOIN c$iters c),
      |af AS (SELECT vid, emb, cell FROM (SELECT vid, emb, cell,
      |    row_number() OVER (PARTITION BY vid ORDER BY dist, cell) rn FROM df) WHERE rn = 1),
      |q AS ($qSelect),
      |qd AS (SELECT q.qid, q.qemb, c.cell, ${ivfDistSql("q.qemb", "c")} dist
      |  FROM q CROSS JOIN c$iters c),
      |probe AS (SELECT qid, qemb, cell FROM (SELECT qid, qemb, cell,
      |    row_number() OVER (PARTITION BY qid ORDER BY dist, cell) rn FROM qd) WHERE rn <= $nprobe)""".stripMargin
    sb.toString
  }

  private val Dq51Sql: String = {
    val topK = 5
    ivfChainSql(8, 2, 2, "", "SELECT vid qid, emb qemb FROM e WHERE vid IN (1, 2, 3)") +
      s""",
      |scored AS (SELECT p.qid, a.vid,
      |    list_sum(list_transform(range(1, 65), i -> a.emb[i]::DOUBLE * p.qemb[i]::DOUBLE))
      |    / (sqrt(list_sum(list_transform(a.emb, x -> x::DOUBLE * x::DOUBLE)))
      |       * sqrt(list_sum(list_transform(p.qemb, x -> x::DOUBLE * x::DOUBLE)))) sim
      |  FROM af a JOIN probe p ON a.cell = p.cell AND a.vid <> p.qid)
      |SELECT qid, vid, sim FROM (SELECT qid, vid, sim,
      |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid) rnk FROM scored)
      |WHERE rnk <= $topK ORDER BY qid, vid""".stripMargin
  }

  /** dq118: centroids trained on the 80% split, the FULL table assigned
    * against the frozen result (`ef` = all embeddings — the store's
    * append semantics), queries incl. the appended vec_id 5. */
  private val Dq118Sql: String = {
    val topK = 5
    ivfChainSql(8, 2, 2, " WHERE vec_id % 5 <> 0",
      "SELECT vid qid, emb qemb FROM ef WHERE vid IN (1, 2, 5)",
      assignSql = "SELECT vec_id vid, embedding emb FROM embeddings") +
      s""",
      |scored AS (SELECT p.qid, a.vid,
      |    list_sum(list_transform(range(1, 65), i -> a.emb[i]::DOUBLE * p.qemb[i]::DOUBLE))
      |    / (sqrt(list_sum(list_transform(a.emb, x -> x::DOUBLE * x::DOUBLE)))
      |       * sqrt(list_sum(list_transform(p.qemb, x -> x::DOUBLE * x::DOUBLE)))) sim
      |  FROM af a JOIN probe p ON a.cell = p.cell AND a.vid <> p.qid)
      |SELECT qid, vid, sim FROM (SELECT qid, vid, sim,
      |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid) rnk FROM scored)
      |WHERE rnk <= $topK ORDER BY qid, vid""".stripMargin
  }

  /** The per-subspace PQ chains shared by the dq162/dq163/dq164 oracles:
    * assumes CTEs `e(vid, emb)` and `q(qid, qemb)` are already in
    * scope; emits the shared seed ranking `s0`, each subspace's Lloyd's
    * chain (the ivfChainSql arithmetic on `emb[off+1 : off+subDim]`
    * slices), the final per-subspace assignments `as_j`, the per-query
    * ADC tables `tq_j`, and the UNPIVOTED `cu`/`tqall` pair the scorer
    * equi-joins (never an m-way join — see Dq162Sql's note). No leading
    * WITH, no trailing comma. `assignFrom` is the relation the CODES are
    * derived over — `e` for session PQ (train set == corpus), `ef` for
    * the stored tier (train on the create split, encode everything
    * against the FROZEN books — dq164's append contract). */
  private def pqChainsSql(m: Int, subDim: Int, k: Int,
      iters: Int, assignFrom: String = "e",
      trainFrom: String = "e"): String = {
    def dist(emb: String, off: Int) =
      s"list_sum(list_transform(range(1, ${subDim + 1}), " +
        s"i -> ($emb[$off + i]::DOUBLE - c.c[i]) * ($emb[$off + i]::DOUBLE - c.c[i])))"
    val sb = new StringBuilder
    sb ++= s"""s0 AS (SELECT vid, emb,
      |  row_number() OVER (ORDER BY md5(vid::VARCHAR), vid) rn
      |  FROM $trainFrom),
      |""".stripMargin
    for (j <- 0 until m) {
      val off = j * subDim
      sb ++= s"""c${j}_0 AS (SELECT rn - 1 AS cell,
        |  list_transform(range(1, ${subDim + 1}), i -> emb[$off + i]::DOUBLE) c
        |  FROM s0 WHERE rn <= $k),
        |""".stripMargin
      for (it <- 1 to iters)
        sb ++= s"""d${j}_$it AS (SELECT e.vid, e.emb, c.cell,
          |    ${dist("e.emb", off)} dist
          |  FROM $trainFrom e CROSS JOIN c${j}_${it - 1} c),
          |a${j}_$it AS (SELECT vid, emb, cell FROM (SELECT vid, emb, cell,
          |    row_number() OVER (PARTITION BY vid ORDER BY dist, cell) rn
          |  FROM d${j}_$it) WHERE rn = 1),
          |u${j}_$it AS (SELECT cell, d,
          |    (SUM(CAST(FLOOR(emb[$off + d]::DOUBLE * 1000000) AS BIGINT))
          |      / 1000000.0) / COUNT(*) cd
          |  FROM a${j}_$it, unnest(range(1, ${subDim + 1})) t(d)
          |  GROUP BY cell, d),
          |c${j}_$it AS (SELECT cell, list(cd ORDER BY d) c FROM u${j}_$it
          |  GROUP BY cell),
          |""".stripMargin
      sb ++= s"""fd$j AS (SELECT x.vid, c.cell, ${dist("x.emb", off)} dist
        |  FROM $assignFrom x CROSS JOIN c${j}_$iters c),
        |as$j AS (SELECT vid, cell FROM (SELECT vid, cell,
        |    row_number() OVER (PARTITION BY vid ORDER BY dist, cell) rn
        |  FROM fd$j) WHERE rn = 1),
        |tq$j AS (SELECT q.qid, c.cell,
        |    list_sum(list_transform(range(1, ${subDim + 1}),
        |      i -> q.qemb[$off + i]::DOUBLE * c.c[i])) t
        |  FROM q CROSS JOIN c${j}_$iters c),
        |""".stripMargin
    }
    val cu = (0 until m)
      .map(j => s"SELECT vid, $j j, cell FROM as$j")
      .mkString("\n  UNION ALL ")
    val tq = (0 until m)
      .map(j => s"SELECT qid, $j j, cell, t FROM tq$j")
      .mkString("\n  UNION ALL ")
    sb ++= s"""cu AS ($cu),
      |tqall AS ($tq)""".stripMargin
    sb.toString
  }

  /** The shared ADC rank tail: per-(qid, vid) score = the m terms folded
    * in subspace order (`list_sum(list(t ORDER BY j))` — list_sum walks
    * the list sequentially, the same ((t0+t1)+t2)+… association the
    * engine's reduceLeft builds), row_number top-k. `extraJoins` narrows
    * the candidate set (dq163's probe pruning). */
  private def pqScoreTailSql(topK: Int, extraJoins: String = ""): String =
    s""",
      |scored AS (SELECT t.qid, c.vid, list_sum(list(t.t ORDER BY c.j)) score
      |  FROM cu c JOIN tqall t ON t.j = c.j AND t.cell = c.cell
      |  $extraJoins
      |  WHERE c.vid <> t.qid
      |  GROUP BY t.qid, c.vid)
      |SELECT qid, vid, score FROM (SELECT qid, vid, score,
      |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) rnk
      |  FROM scored)
      |WHERE rnk <= $topK ORDER BY qid, vid""".stripMargin

  /** dq162 tail: one UNPIVOTED code/table pair + a single equi-join, NOT
    * an m-way join of per-subspace relations — m tiny join inputs
    * sharing a qid key invite the join-order optimizer into exponential
    * tq0×tq1×…-first plans (measured: the 16-way form never finished at
    * 500 rows; this form is sub-second). */
  private val Dq162Sql: String =
    """WITH e AS (SELECT vec_id vid, embedding emb FROM embeddings),
      |q AS (SELECT vec_id qid, embedding qemb FROM embeddings
      |  WHERE vec_id IN (1, 2, 3)),
      |""".stripMargin +
      pqChainsSql(m = 16, subDim = 4, k = 16, iters = 2) +
      pqScoreTailSql(topK = 5)

  /** dq177: the OPQ-lite permutation CTEs in front of dq162's chain —
    * per-dim micro-integer sums, the HUGEINT variance score
    * `n·Σ⌊x²·1e6⌋·1e6 − (Σ⌊x·1e6⌋)²` (both terms micro² — the unit
    * fix that keeps nonzero-mean dims ranked by VARIANCE, not by mean
    * magnitude) ranked desc with ties to the lower
    * dim, the round-robin position `(r % m)·subDim + r/m`, and the
    * permuted e/q relations the unchanged PQ chain then consumes. */
  private val Dq177Sql: String =
    """WITH e0 AS (SELECT vec_id vid, embedding emb FROM embeddings),
      |q0 AS (SELECT vec_id qid, embedding qemb FROM embeddings
      |  WHERE vec_id IN (1, 2, 3)),
      |vs AS (SELECT d,
      |    SUM(CAST(FLOOR(emb[d]::DOUBLE * 1000000) AS BIGINT)) sx,
      |    SUM(CAST(FLOOR(emb[d]::DOUBLE * emb[d]::DOUBLE * 1000000)
      |      AS BIGINT)) sxx,
      |    COUNT(*) n
      |  FROM e0, unnest(range(1, 65)) t(d) GROUP BY d),
      |rk AS (SELECT d, row_number() OVER (
      |    ORDER BY (n::HUGEINT * sxx::HUGEINT * 1000000::HUGEINT
      |      - sx::HUGEINT * sx::HUGEINT)
      |      DESC, d) - 1 AS r
      |  FROM vs),
      |pm AS (SELECT list(d ORDER BY (r % 16) * 4 + r // 16) pl FROM rk),
      |e AS (SELECT vid,
      |    list_transform(range(1, 65), p -> emb[pl[p]]) emb
      |  FROM e0, pm),
      |q AS (SELECT qid,
      |    list_transform(range(1, 65), p -> qemb[pl[p]]) qemb
      |  FROM q0, pm),
      |""".stripMargin +
      pqChainsSql(m = 16, subDim = 4, k = 16, iters = 2) +
      pqScoreTailSql(topK = 5)

  /** dq163: IVF-PQ — the dq51 coarse chain (af = every vector's coarse
    * cell, probe = each query's 2 nearest cells) composed with the PQ
    * chains; the scorer keeps only candidates whose coarse cell is
    * probed by the query. ivfChainSql already defines `e` and `q`, so
    * the PQ chains bolt on verbatim. */
  private val Dq163Sql: String =
    ivfChainSql(8, 2, 2, "",
      "SELECT vid qid, emb qemb FROM e WHERE vid IN (1, 2, 3)") + ",\n" +
      pqChainsSql(m = 16, subDim = 4, k = 16, iters = 2) +
      pqScoreTailSql(topK = 5,
        extraJoins = """JOIN af ON af.vid = c.vid
          |  JOIN probe p ON p.qid = t.qid AND p.cell = af.cell""".stripMargin)

  /** dq169: RESIDUAL IVF-PQ — the full FAISS IndexIVFPQ shape: after
    * the dq51 coarse chain, the PQ codebooks train on RESIDUALS
    * `x − centroid(cell(x))` (the `re` CTE — exact double arithmetic)
    * instead of raw vectors, codes are residual codes, and the score
    * re-adds the `q·centroid(cell)` term the subtraction moved out
    * (the `qc` table) in front of the subspace fold — the association
    * `qcdot + list_sum(list(t ORDER BY j))` matching the engine's
    * `const + reduceLeft` exactly. */
  private val Dq169Sql: String =
    ivfChainSql(8, 2, 2, "",
      "SELECT vid qid, emb qemb FROM e WHERE vid IN (1, 2, 3)") + ",\n" +
      """re AS (SELECT af.vid,
        |    list_transform(range(1, 65), i -> af.emb[i]::DOUBLE - c.c[i])
        |      emb,
        |    af.cell
        |  FROM af JOIN c2 c ON c.cell = af.cell),
        |""".stripMargin +
      pqChainsSql(m = 16, subDim = 4, k = 16, iters = 2,
        assignFrom = "re", trainFrom = "re") +
      s""",
        |qc AS (SELECT q.qid, c.cell,
        |    list_sum(list_transform(range(1, 65),
        |      i -> q.qemb[i]::DOUBLE * c.c[i])) qcdot
        |  FROM q CROSS JOIN c2 c),
        |scored AS (SELECT t.qid, c.vid,
        |    any_value(qc.qcdot) + list_sum(list(t.t ORDER BY c.j)) score
        |  FROM cu c JOIN tqall t ON t.j = c.j AND t.cell = c.cell
        |  JOIN af ON af.vid = c.vid
        |  JOIN probe p ON p.qid = t.qid AND p.cell = af.cell
        |  JOIN qc ON qc.qid = t.qid AND qc.cell = af.cell
        |  WHERE c.vid <> t.qid
        |  GROUP BY t.qid, c.vid)
        |SELECT qid, vid, score FROM (SELECT qid, vid, score,
        |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY qid, vid""".stripMargin

  /** The dq79 WAV chunk-walk derivation (synthesis + little-endian
    * re-parse up to the `parsed` CTE) — shared with dq172, whose
    * declared `media_gate(audio)` adds the rate band on top. */
  private val WavParseSql: String =
    """WITH m AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |      WHEN 2 THEN 22050 ELSE 44100 END AS rate,
        |    doc_id % 2 + 1 AS ch,
        |    CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits,
        |    (doc_id % 9 + 2) * 2 AS ll,
        |    doc_id % 997 + 10 AS ns
        |  FROM documents),
        |m2 AS (SELECT *, ch * (bits // 8) AS al, ns * ch * (bits // 8) AS ds FROM m),
        |payload AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN ('not audio ' || doc_id::VARCHAR)::BLOB
        |    ELSE
        |      'RIFF'::BLOB ||
        |      unhex(substr(lpad(to_hex(44 + ll + ds),8,'0'),7,2) || substr(lpad(to_hex(44 + ll + ds),8,'0'),5,2) || substr(lpad(to_hex(44 + ll + ds),8,'0'),3,2) || substr(lpad(to_hex(44 + ll + ds),8,'0'),1,2)) ||
        |      'WAVE'::BLOB || 'LIST'::BLOB ||
        |      unhex(substr(lpad(to_hex(ll),8,'0'),7,2) || substr(lpad(to_hex(ll),8,'0'),5,2) || substr(lpad(to_hex(ll),8,'0'),3,2) || substr(lpad(to_hex(ll),8,'0'),1,2)) ||
        |      repeat('J', ll)::BLOB ||
        |      'fmt '::BLOB || unhex('10000000') || unhex('0100') ||
        |      unhex(substr(lpad(to_hex(ch),4,'0'),3,2) || substr(lpad(to_hex(ch),4,'0'),1,2)) ||
        |      unhex(substr(lpad(to_hex(rate),8,'0'),7,2) || substr(lpad(to_hex(rate),8,'0'),5,2) || substr(lpad(to_hex(rate),8,'0'),3,2) || substr(lpad(to_hex(rate),8,'0'),1,2)) ||
        |      unhex(substr(lpad(to_hex(rate*al),8,'0'),7,2) || substr(lpad(to_hex(rate*al),8,'0'),5,2) || substr(lpad(to_hex(rate*al),8,'0'),3,2) || substr(lpad(to_hex(rate*al),8,'0'),1,2)) ||
        |      unhex(substr(lpad(to_hex(al),4,'0'),3,2) || substr(lpad(to_hex(al),4,'0'),1,2)) ||
        |      unhex(substr(lpad(to_hex(bits),4,'0'),3,2) || substr(lpad(to_hex(bits),4,'0'),1,2)) ||
        |      'data'::BLOB ||
        |      unhex(substr(lpad(to_hex(ds),8,'0'),7,2) || substr(lpad(to_hex(ds),8,'0'),5,2) || substr(lpad(to_hex(ds),8,'0'),3,2) || substr(lpad(to_hex(ds),8,'0'),1,2))
        |    END AS payload
        |  FROM m2),
        |hx AS (SELECT doc_id, upper(hex(payload)) AS h FROM payload),
        |w1 AS (SELECT doc_id, h,
        |    CASE WHEN substr(h,1,8) = '52494646' AND substr(h,17,8) = '57415645'
        |         AND substr(h,25,8) = '4C495354'
        |      THEN 41 + TRY_CAST(('0x' || substr(h,39,2) || substr(h,37,2) || substr(h,35,2) || substr(h,33,2)) AS BIGINT) * 2
        |    END AS p2
        |  FROM hx),
        |w2 AS (SELECT doc_id, h, p2,
        |    CASE WHEN p2 IS NOT NULL AND substr(h, p2::INT, 8) = '666D7420'
        |         AND substr(h, p2::INT + 16, 4) = '0100'
        |      THEN p2 + 48 END AS p3
        |  FROM w1),
        |parsed AS (
        |  SELECT doc_id,
        |    CASE WHEN p3 IS NOT NULL AND substr(h, p3::INT, 8) = '64617461' THEN
        |      TRY_CAST(('0x' || substr(h, p2::INT + 22, 2) || substr(h, p2::INT + 20, 2)) AS BIGINT)
        |    END AS channels,
        |    TRY_CAST(('0x' || substr(h, p2::INT + 30, 2) || substr(h, p2::INT + 28, 2) || substr(h, p2::INT + 26, 2) || substr(h, p2::INT + 24, 2)) AS BIGINT) AS sample_rate,
        |    TRY_CAST(('0x' || substr(h, p2::INT + 46, 2) || substr(h, p2::INT + 44, 2)) AS BIGINT) AS bits,
        |    TRY_CAST(('0x' || substr(h, p2::INT + 42, 2) || substr(h, p2::INT + 40, 2)) AS BIGINT) AS align,
        |    TRY_CAST(('0x' || substr(h, p3::INT + 14, 2) || substr(h, p3::INT + 12, 2) || substr(h, p3::INT + 10, 2) || substr(h, p3::INT + 8, 2)) AS BIGINT) AS data_size
        |  FROM w2)""".stripMargin

  /** dq170: the STORED residual tier — dq164's frozen-split chain (train
    * on the 80%, assign/encode everything against the frozen result)
    * with dq169's subtraction: residuals over the FULL assigned relation
    * (`re` — appends subtract the frozen generation-1 centroids), books
    * trained on the TRAIN SPLIT's residuals only (`ret` — the create
    * corpus), scores re-add `q·centroid(cell)`. */
  private val Dq170ChainSql: String =
    ivfChainSql(8, 2, 2, " WHERE vec_id % 5 <> 0",
      "SELECT vid qid, emb qemb FROM ef WHERE vid IN (1, 2, 5)",
      assignSql = "SELECT vec_id vid, embedding emb FROM embeddings") +
      ",\n" +
      """re AS (SELECT af.vid,
        |    list_transform(range(1, 65), i -> af.emb[i]::DOUBLE - c.c[i])
        |      emb,
        |    af.cell
        |  FROM af JOIN c2 c ON c.cell = af.cell),
        |ret AS (SELECT * FROM re WHERE vid % 5 <> 0),
        |""".stripMargin +
      pqChainsSql(m = 16, subDim = 4, k = 16, iters = 2,
        assignFrom = "re", trainFrom = "ret") +
      s""",
        |qc AS (SELECT q.qid, c.cell,
        |    list_sum(list_transform(range(1, 65),
        |      i -> q.qemb[i]::DOUBLE * c.c[i])) qcdot
        |  FROM q CROSS JOIN c2 c),
        |scored AS (SELECT t.qid, c.vid,
        |    any_value(qc.qcdot) + list_sum(list(t.t ORDER BY c.j)) score
        |  FROM cu c JOIN tqall t ON t.j = c.j AND t.cell = c.cell
        |  JOIN af ON af.vid = c.vid
        |  JOIN probe p ON p.qid = t.qid AND p.cell = af.cell
        |  JOIN qc ON qc.qid = t.qid AND qc.cell = af.cell
        |  WHERE c.vid <> t.qid
        |  GROUP BY t.qid, c.vid)""".stripMargin

  private val Dq170Sql: String =
    Dq170ChainSql +
      """
        |SELECT qid, vid, score FROM (SELECT qid, vid, score,
        |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY qid, vid""".stripMargin

  /** dq173: the TWO-STAGE search — dq170's ADC chain shortlists 20 per
    * query, then the EXACT probed cosine (dq118's formula) re-ranks
    * ONLY the shortlisted pairs to the true top-5. */
  private val Dq173Sql: String =
    Dq170ChainSql +
      """,
        |sl AS (SELECT qid, vid FROM (SELECT qid, vid,
        |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) rnk
        |  FROM scored) WHERE rnk <= 20),
        |rr AS (SELECT s.qid, a.vid,
        |    list_sum(list_transform(range(1, 65), i -> a.emb[i]::DOUBLE * q.qemb[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(a.emb, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(q.qemb, x -> x::DOUBLE * x::DOUBLE)))) sim
        |  FROM sl s JOIN af a ON a.vid = s.vid JOIN q ON q.qid = s.qid)
        |SELECT qid, vid, sim FROM (SELECT qid, vid, sim,
        |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid) rnk
        |  FROM rr)
        |WHERE rnk <= 5 ORDER BY qid, vid""".stripMargin

  /** dq164: the STORED IVF-PQ tier — coarse centroids AND PQ codebooks
    * train on the create split (vec_id % 5 <> 0), everything (incl. the
    * appended 20%) is assigned/encoded against the FROZEN results (af
    * and as_j over `ef` — the FAISS train-then-add contract held by both
    * tiers at once), queried at nprobe 2 from the code relation. */
  private val Dq164Sql: String =
    ivfChainSql(8, 2, 2, " WHERE vec_id % 5 <> 0",
      "SELECT vid qid, emb qemb FROM ef WHERE vid IN (1, 2, 5)",
      assignSql = "SELECT vec_id vid, embedding emb FROM embeddings") +
      ",\n" +
      pqChainsSql(m = 16, subDim = 4, k = 16, iters = 2,
        assignFrom = "ef") +
      pqScoreTailSql(topK = 5,
        extraJoins = """JOIN af ON af.vid = c.vid
          |  JOIN probe p ON p.qid = t.qid AND p.cell = af.cell""".stripMargin)

  /** dq142: refit-from-the-stored-relation must equal a from-scratch
    * create on the union corpus — so the oracle is simply the dq51/dq118
    * Lloyd's chain trained on the FULL embeddings table (no eWhere), the
    * full table assigned, queries incl. the appended vec_id 5. */
  private val Dq142Sql: String = {
    val topK = 5
    ivfChainSql(8, 2, 2, "",
      "SELECT vid qid, emb qemb FROM e WHERE vid IN (1, 2, 5)") +
      s""",
      |scored AS (SELECT p.qid, a.vid,
      |    list_sum(list_transform(range(1, 65), i -> a.emb[i]::DOUBLE * p.qemb[i]::DOUBLE))
      |    / (sqrt(list_sum(list_transform(a.emb, x -> x::DOUBLE * x::DOUBLE)))
      |       * sqrt(list_sum(list_transform(p.qemb, x -> x::DOUBLE * x::DOUBLE)))) sim
      |  FROM af a JOIN probe p ON a.cell = p.cell AND a.vid <> p.qid)
      |SELECT qid, vid, sim FROM (SELECT qid, vid, sim,
      |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid) rnk FROM scored)
      |WHERE rnk <= $topK ORDER BY qid, vid""".stripMargin
  }

  /** dq122/dq123: the semantic gate's two-round persisted-index loop —
    * centroids trained on history (vec_id % 3 <> 0), history assigned
    * against the frozen result (`af`), batch 1 probed (2 nearest cells
    * per vector vs the final centroids), dropped when cosine > 0.5 vs a
    * stored vector in a probed cell; survivors assigned to their frozen
    * cell and APPENDED (`af2`); batch 2 probed against the grown
    * relation. Both rounds' kept ids are the contract (the [[Dq104Sql]]
    * pattern for the embedding modality); dq123 shares it verbatim. */
  private lazy val Dq122Sql: String = {
    def cos(a: String, q: String): String =
      s"""list_sum(list_transform(range(1, 65), i -> $a.emb[i]::DOUBLE * $q.qemb[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform($a.emb, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform($q.qemb, x -> x::DOUBLE * x::DOUBLE))))""".stripMargin
    ivfChainSql(8, 2, 2, " WHERE vec_id % 3 <> 0",
      """SELECT vec_id + 100000 qid, embedding qemb FROM embeddings
        |    WHERE vec_id % 3 <> 0 AND vec_id % 7 = 0
        |  UNION ALL
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 6 = 0""".stripMargin) +
      s""",
        |dup1 AS (SELECT DISTINCT p.qid FROM af a JOIN probe p ON a.cell = p.cell
        |  WHERE ${cos("a", "p")} > 0.5),
        |k1 AS (SELECT qid, qemb FROM q WHERE qid NOT IN (SELECT qid FROM dup1)),
        |kd AS (SELECT k1.qid vid, k1.qemb emb, c.cell, ${ivfDistSql("k1.qemb", "c")} dist
        |  FROM k1 CROSS JOIN c2 c),
        |ka AS (SELECT vid, emb, cell FROM (SELECT vid, emb, cell,
        |    row_number() OVER (PARTITION BY vid ORDER BY dist, cell) rn FROM kd) WHERE rn = 1),
        |af2 AS (SELECT vid, emb, cell FROM af
        |  UNION ALL SELECT vid, emb, cell FROM ka),
        |q2 AS (SELECT vec_id + 300000 qid, embedding qemb FROM embeddings
        |    WHERE vec_id % 6 = 0
        |  UNION ALL
        |  SELECT vec_id + 400000, embedding FROM embeddings
        |    WHERE vec_id % 3 <> 0 AND vec_id % 11 = 0
        |  UNION ALL
        |  SELECT vec_id, embedding FROM embeddings
        |    WHERE vec_id % 3 = 0 AND vec_id % 2 = 1),
        |qd2 AS (SELECT q2.qid, q2.qemb, c.cell, ${ivfDistSql("q2.qemb", "c")} dist
        |  FROM q2 CROSS JOIN c2 c),
        |probe2 AS (SELECT qid, qemb, cell FROM (SELECT qid, qemb, cell,
        |    row_number() OVER (PARTITION BY qid ORDER BY dist, cell) rn FROM qd2) WHERE rn <= 2),
        |dup2 AS (SELECT DISTINCT p.qid FROM af2 a JOIN probe2 p ON a.cell = p.cell
        |  WHERE ${cos("a", "p")} > 0.5),
        |k2 AS (SELECT qid FROM q2 WHERE qid NOT IN (SELECT qid FROM dup2))
        |SELECT CAST(1 AS BIGINT) AS batch, qid AS vec_id FROM k1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS batch, qid AS vec_id FROM k2
        |ORDER BY batch, vec_id""".stripMargin
  }

  /** dq125: the config-driven semantic ingest — the dq122 training chain
    * (history = round-1 batch) with ONE gate round over the held-out
    * selector; round 1 is the bootstrap (all kept). */
  private lazy val Dq125Sql: String = {
    def cos(a: String, q: String): String =
      s"""list_sum(list_transform(range(1, 65), i -> $a.emb[i]::DOUBLE * $q.qemb[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform($a.emb, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform($q.qemb, x -> x::DOUBLE * x::DOUBLE))))""".stripMargin
    ivfChainSql(8, 2, 2, " WHERE vec_id % 3 <> 0",
      "SELECT vec_id qid, embedding qemb FROM embeddings WHERE vec_id % 3 = 0") +
      s""",
        |dup1 AS (SELECT DISTINCT p.qid FROM af a JOIN probe p ON a.cell = p.cell
        |  WHERE ${cos("a", "p")} > 0.5),
        |k1 AS (SELECT qid FROM q WHERE qid NOT IN (SELECT qid FROM dup1))
        |SELECT CAST(1 AS BIGINT) AS round, vec_id FROM embeddings
        |WHERE vec_id % 3 <> 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS round, qid AS vec_id FROM k1
        |ORDER BY round, vec_id""".stripMargin
  }

  /** dq149: dq125's gate chain — the SAME history training and the SAME
    * held-out probe slice — but gate-only: k1 emitted for BOTH batches
    * (the frozen store never grows between micro-batches). */
  private lazy val Dq149Sql: String = {
    def cos(a: String, q: String): String =
      s"""list_sum(list_transform(range(1, 65), i -> $a.emb[i]::DOUBLE * $q.qemb[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform($a.emb, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform($q.qemb, x -> x::DOUBLE * x::DOUBLE))))""".stripMargin
    ivfChainSql(8, 2, 2, " WHERE vec_id % 3 <> 0",
      "SELECT vec_id qid, embedding qemb FROM embeddings WHERE vec_id % 3 = 0") +
      s""",
        |dup1 AS (SELECT DISTINCT p.qid FROM af a JOIN probe p ON a.cell = p.cell
        |  WHERE ${cos("a", "p")} > 0.5),
        |k1 AS (SELECT qid FROM q WHERE qid NOT IN (SELECT qid FROM dup1))
        |SELECT CAST(1 AS BIGINT) AS batch, qid AS vec_id FROM k1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS batch, qid AS vec_id FROM k1
        |ORDER BY batch, vec_id""".stripMargin
  }

  /** dq178: the PQ-tier gate at a NARROW shortlist — the dq122 gate
    * fixture's round-1 shape, with the wide net re-derived through the
    * frozen PQ chain: per-(batch row, stored vector) ADC estimate over
    * probed cells, the top-4 window (est desc, vid asc — the bounded
    * heap's order), exact cosine on exactly those pairs, tau filter. */
  private lazy val Dq178Sql: String = {
    def cos(a: String, q: String): String =
      s"""list_sum(list_transform(range(1, 65), i -> $a.emb[i]::DOUBLE * $q.qemb[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform($a.emb, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform($q.qemb, x -> x::DOUBLE * x::DOUBLE))))""".stripMargin
    ivfChainSql(8, 2, 2, " WHERE vec_id % 3 <> 0",
      """SELECT vec_id + 100000 qid, embedding qemb FROM embeddings
        |    WHERE vec_id % 3 <> 0 AND vec_id % 7 = 0
        |  UNION ALL
        |  SELECT vec_id, embedding FROM embeddings
        |    WHERE vec_id % 3 = 0""".stripMargin) + ",\n" +
      pqChainsSql(m = 16, subDim = 4, k = 16, iters = 2,
        assignFrom = "af", trainFrom = "e") +
      s""",
        |est AS (SELECT t.qid, c.vid, list_sum(list(t.t ORDER BY c.j)) est
        |  FROM cu c JOIN tqall t ON t.j = c.j AND t.cell = c.cell
        |  JOIN af ON af.vid = c.vid
        |  JOIN probe p ON p.qid = t.qid AND p.cell = af.cell
        |  GROUP BY t.qid, c.vid),
        |short AS (SELECT qid, vid FROM (SELECT qid, vid,
        |    row_number() OVER (PARTITION BY qid ORDER BY est DESC, vid) rn
        |  FROM est) WHERE rn <= 4),
        |refined AS (SELECT s.qid, s.vid, ${cos("a", "q")} sim
        |  FROM short s JOIN af a ON a.vid = s.vid JOIN q ON q.qid = s.qid)
        |SELECT qid, vid, sim FROM refined WHERE sim > 0.5
        |ORDER BY qid, vid""".stripMargin
  }

  /** dq126: dq118's trained/appended store, searched on the SQ8 tier —
    * the unit-vector quantization (portable floor(x·127 + 0.5) clamp,
    * zero vectors passed through unscaled) and integer dot ranking. */
  private lazy val Dq126Sql: String = {
    def sq8(src: String, vec: String): String =
      s"""list_transform($vec, x -> greatest(-127, least(127,
        |      CAST(floor((CASE WHEN $src.nrm = 0 THEN x::DOUBLE
        |                       ELSE x::DOUBLE / $src.nrm END) * 127.0 + 0.5)
        |        AS BIGINT))))""".stripMargin
    ivfChainSql(8, 2, 2, " WHERE vec_id % 5 <> 0",
      "SELECT vid qid, emb qemb FROM ef WHERE vid IN (1, 2, 5)",
      assignSql = "SELECT vec_id vid, embedding emb FROM embeddings") +
      s""",
        |pn AS (SELECT vid, cell, emb,
        |    sqrt(list_sum(list_transform(emb, y -> y::DOUBLE * y::DOUBLE))) nrm
        |  FROM af),
        |pv AS (SELECT vid, cell, ${sq8("pn", "emb")} dv FROM pn),
        |qn AS (SELECT qid, cell, qemb,
        |    sqrt(list_sum(list_transform(qemb, y -> y::DOUBLE * y::DOUBLE))) nrm
        |  FROM probe),
        |qv AS (SELECT qid, cell, ${sq8("qn", "qemb")} qd FROM qn),
        |scored AS (SELECT q.qid, a.vid,
        |    CAST(list_dot_product(q.qd::DOUBLE[], a.dv::DOUBLE[]) AS BIGINT) score
        |  FROM pv a JOIN qv q ON a.cell = q.cell AND a.vid <> q.qid)
        |SELECT qid, vid, score FROM (SELECT qid, vid, score,
        |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY qid, vid""".stripMargin
  }

  /** dq86/dq127 shared scoring chain: the rational-idf BM25 (no ln — not
    * bit-portable across libm), every per-term factor a fixed IEEE
    * expression tree, per-term scores floored into micro-units whose
    * BIGINT sum is associative: the ranking hash-matches at full
    * precision. Parenthesization mirrors the Spark expression EXACTLY.
    * dq127 (the PERSISTED inverted index, built 80% + appended 20%)
    * shares it verbatim: stored df/tf/dl/N/avgdl equal their corpus-wide
    * values, so stored search ≡ session scoring. */
  private lazy val Dq86Sql: String =
    """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
      |    x -> len(x) > 0) toks FROM documents),
      |wl AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) dl FROM t),
      |stats AS (SELECT CAST(count(*) AS BIGINT) n,
      |    CAST(sum(dl) AS DOUBLE) / count(*) avgdl FROM wl),
      |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM wl)
      |  GROUP BY 1, 2, 3),
      |q AS (SELECT doc_id AS qid, unnest(list_distinct(toks[1:4])) AS term
      |  FROM t WHERE doc_id % 101 = 0),
      |posts AS (SELECT tf.* FROM tf JOIN (SELECT DISTINCT term FROM q) qv USING (term)),
      |dfq AS (SELECT term, CAST(count(*) AS BIGINT) df FROM posts GROUP BY 1),
      |scored AS (SELECT q.qid, p.doc_id AS vid,
      |    CAST(sum(CAST(floor(
      |      ((CAST(s.n AS DOUBLE) - df + 0.5) / (df + 0.5)) *
      |      ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) *
      |      1000000.0) AS BIGINT)) AS BIGINT) score_micro
      |  FROM posts p JOIN q USING (term) JOIN dfq USING (term), stats s
      |  WHERE p.doc_id <> q.qid GROUP BY 1, 2),
      |r AS (SELECT qid, vid, score_micro,
      |    row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, vid) rnk
      |  FROM scored)
      |SELECT qid, vid, score_micro, rnk FROM r WHERE rnk <= 3
      |ORDER BY qid, rnk""".stripMargin

  /** dq128/dq129: the stored bigram model's two-round gate — model 1 from
    * history counts, batch 1 scored (dq92's all-integer arithmetic,
    * absent bigrams 0-micro but counted), band-kept, survivors' counts
    * UNIONED into model 2, batch 2 scored against it. The batch fixture
    * is [[Dq104Sql]]'s b1/b2 verbatim. */
  // ---- dq128/dq129/dq150 shared oracle blocks: token mutation, bigram
  // extraction, and one frozen-model score-and-band round
  private def lmMutSql(step: Int, sfx: Char): String =
    s"""array_to_string(list_transform(range(1, len(tk) + 1),
      |      i -> CASE WHEN (i - 1) % $step = 0 THEN tk[i] || '$sfx' ELSE tk[i] END),
      |      ' ')""".stripMargin

  private def lmGramsSql(src: String, p: String): String =
    s"""${p}t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\W+'),
      |    x -> len(x) > 0) toks FROM $src),
      |${p}g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i+1])) AS bg
      |  FROM ${p}t WHERE len(toks) >= 2)""".stripMargin

  private def lmScoreRoundSql(model: String, batchG: String, batch: String,
      p: String): String =
    s"""${p}m AS (SELECT bg, CAST(count(*) AS BIGINT) c12 FROM $model GROUP BY 1),
      |${p}pc AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) c1
      |  FROM ${p}m GROUP BY 1),
      |${p}mm AS (SELECT bg, (1000000 * c12) // c1 AS micro
      |  FROM ${p}m JOIN ${p}pc ON string_split(${p}m.bg, ' ')[1] = ${p}pc.w1),
      |${p}s AS (SELECT doc_id, CAST(count(*) AS BIGINT) nb,
      |    CAST(sum(COALESCE(micro, 0)) AS BIGINT) sm
      |  FROM $batchG LEFT JOIN ${p}mm USING (bg) GROUP BY 1),
      |${p}k AS (SELECT $batch.doc_id FROM $batch LEFT JOIN ${p}s USING (doc_id)
      |  WHERE COALESCE(sm // nb, 0) >= 20000)""".stripMargin

  /** dq128's (and dq129's) round-1 batch as SQL — nearDupBatches' b1. */
  private def lmB1Sql: String =
    s"""b1 AS (
      |  SELECT doc_id + 100000 AS doc_id, source, text || ' zzztail' AS text
      |  FROM documents WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, source, ${lmMutSql(3, 'x')} AS text
      |  FROM (SELECT doc_id, source, string_split(text, ' ') tk
      |        FROM documents WHERE doc_id % 13 = 0))""".stripMargin

  private lazy val Dq128Sql: String = {
    def mut(step: Int, sfx: Char): String = lmMutSql(step, sfx)
    def grams(src: String, p: String): String = lmGramsSql(src, p)
    def scoreRound(model: String, batchG: String, batch: String,
        p: String): String = lmScoreRoundSql(model, batchG, batch, p)
    s"""WITH $lmB1Sql,
      |b2 AS (
      |  SELECT doc_id + 300000 AS doc_id, source,
      |    ${mut(3, 'x')} || ' zzztail' AS text
      |  FROM (SELECT doc_id, source, string_split(text, ' ') tk
      |        FROM documents WHERE doc_id % 13 = 0)
      |  UNION ALL
      |  SELECT doc_id + 400000 AS doc_id, source, text || ' zzztail' AS text
      |  FROM documents WHERE doc_id % 19 = 0
      |  UNION ALL
      |  SELECT doc_id + 500000 AS doc_id, source, ${mut(2, 'y')} AS text
      |  FROM (SELECT doc_id, source, string_split(text, ' ') tk
      |        FROM documents WHERE doc_id % 11 = 0)),
      |${grams("documents", "h")},
      |${grams("b1", "p")},
      |${grams("b2", "q")},
      |hbg AS (SELECT bg FROM hg),
      |${scoreRound("hbg", "pg", "b1", "r1")},
      |h2 AS (SELECT bg FROM hbg
      |  UNION ALL SELECT pg.bg FROM pg JOIN r1k USING (doc_id)),
      |${scoreRound("h2", "qg", "b2", "r2")}
      |SELECT CAST(1 AS BIGINT) AS batch, doc_id FROM r1k
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS batch, doc_id FROM r2k
      |ORDER BY batch, doc_id""".stripMargin
  }

  /** dq150: dq128's round-1 batch scored against the FROZEN corpus model
    * — one score-and-band round, emitted for BOTH batches (gate-only:
    * the reference LM never folds the batch in). */
  private lazy val Dq150Sql: String =
    s"""WITH $lmB1Sql,
      |${lmGramsSql("documents", "h")},
      |${lmGramsSql("b1", "p")},
      |hbg AS (SELECT bg FROM hg),
      |${lmScoreRoundSql("hbg", "pg", "b1", "r1")}
      |SELECT CAST(1 AS BIGINT) AS batch, doc_id FROM r1k
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS batch, doc_id FROM r1k
      |ORDER BY batch, doc_id""".stripMargin

  /** dq131: the incremental moment table — features over ALL documents,
    * target `y` scored against the FROZEN history model (absent bigrams
    * contribute 0 micro but count — the [[graft.ext.NgramLmStore]]
    * scoring semantics), moments summed over the union (create batch +
    * append batch ≡ one pass, by associativity). */
  private lazy val Dq131Sql: String = {
    val terms =
      (for (i <- 0 until 4; j <- i until 4) yield (s"m_${i}_$j", s"x$i * x$j")) ++
        (0 until 4).map(i => (s"v_$i", s"x$i * y"))
    val unions = terms.map { case (t, e) =>
      s"SELECT '$t' AS term, CAST(sum($e) AS BIGINT) AS value FROM j"
    }.mkString("\n  UNION ALL ")
    // one definition of the probe blocks for the whole stored-probe
    // family: dq131's frozen model trains on the %5<>0 history while
    // features + targets span ALL documents (create batch + append)
    s"""WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      |${probeTokSql("hist", "hht")},
      |${probeModelSql("hht", "fm")},
      |${probeTokSql("documents", "ht")},
      |${probeYSql("documents", "ht", "fm", "h")},
      |${probeFeatSql("documents", "ht", "hf")},
      |j AS (SELECT hf.x0, hf.x1, hf.x2, hf.x3, hy.y
      |  FROM hf JOIN hy USING (doc_id))
      |SELECT term, value FROM (
      |  $unions
      |) ORDER BY term""".stripMargin
  }

  // ---- dq132/dq133/dq134 shared oracle machinery: the probe chain as
  // composable CTE blocks — tokenization, the frozen bigram micro model,
  // the per-doc fluency target, integer-milli features, and the Cramer
  // weights + MOMENTS-ONLY mean threshold (x0 = 1 ⇒ Σ score =
  // Σ_j w_j·m_0_j and docs = m_0_0, so the gate threshold derives from
  // the 14-term table with no corpus rescan — mirroring
  // [[graft.ext.QualityProbeStore.model]]).

  private def probeTokSql(src: String, out: String): String =
    s"""$out AS MATERIALIZED (SELECT doc_id,
      |  list_filter(regexp_split_to_array(lower(text), '\\W+'),
      |    x -> len(x) > 0) toks FROM $src)""".stripMargin

  /** Frozen bigram micro model over the `$toks` CTE: `$out` = (bg, micro). */
  private def probeModelSql(toks: String, out: String): String =
    s"""${out}bg AS (SELECT unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i+1])) AS bg
      |  FROM $toks WHERE len(toks) >= 2),
      |${out}c AS (SELECT bg, CAST(count(*) AS BIGINT) c12 FROM ${out}bg GROUP BY 1),
      |${out}p AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) c1
      |  FROM ${out}c GROUP BY 1),
      |$out AS MATERIALIZED (SELECT bg, (1000000 * c12) // c1 AS micro
      |  FROM ${out}c JOIN ${out}p ON string_split(${out}c.bg, ' ')[1] = ${out}p.w1)"""
      .stripMargin

  /** Per-doc fluency target vs the frozen model `$model`: `{p}y` =
    * (doc_id, y) for every row of `$docs` — absent bigrams contribute 0
    * micro but count; <2-token docs score 0. */
  private def probeYSql(docs: String, toks: String, model: String,
      p: String): String =
    s"""${p}bgl AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i+1])) AS bg
      |  FROM $toks WHERE len(toks) >= 2),
      |${p}sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) nb,
      |    CAST(sum(COALESCE(micro, 0)) AS BIGINT) sm
      |  FROM ${p}bgl LEFT JOIN $model USING (bg) GROUP BY 1),
      |${p}y AS (SELECT d.doc_id, COALESCE(s.sm // s.nb, 0) AS y
      |  FROM $docs d LEFT JOIN ${p}sc s USING (doc_id))""".stripMargin

  /** Integer-milli features over `$docs` × `$toks`: `$out` =
    * (doc_id, x0..x3) — the Dq131Sql feature block, parameterized. */
  private def probeFeatSql(docs: String, toks: String, out: String): String = {
    val sw = graft.ext.QualityProbe.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""$out AS MATERIALIZED (SELECT d.doc_id,
      |    CAST(1 AS BIGINT) x0,
      |    CASE WHEN len(t.toks) = 0 THEN 0
      |      ELSE (1000 * CAST(list_sum(list_transform(t.toks, x -> len(x))) AS BIGINT))
      |        // len(t.toks) END x1,
      |    CASE WHEN len(t.toks) = 0 THEN 0
      |      ELSE (1000 * len(list_filter(t.toks,
      |        x -> list_contains([$sw], x)))) // len(t.toks) END x2,
      |    CASE WHEN len(t.toks) = 0 THEN 0
      |      ELSE (1000 * len(list_distinct(t.toks))) // len(t.toks) END x3
      |  FROM $docs d JOIN $toks t USING (doc_id))""".stripMargin
  }

  /** The Cramer block over a (x0..x3, y) CTE `$src`: `{p}w` = the four
    * exact milli-weights (HUGEINT determinants, the Dq115Sql
    * expressions), `{p}th` = the moments-only mean threshold. */
  private def probeCramerSql(p: String, src: String): String = {
    val momCols =
      ((for (i <- 0 until 4; j <- i until 4)
        yield s"CAST(sum(x$i * x$j) AS HUGEINT) AS hm_${i}_$j") ++
        (0 until 4).map(i => s"CAST(sum(x$i * y) AS HUGEINT) AS hv_$i"))
        .mkString(", ")
    val dcols = (s"(${detExprSql(None)}) AS dt0" +:
      (0 until 4).map(j => s"(${detExprSql(Some(j))}) AS e$j")).mkString(",\n    ")
    val ncols = ("CASE WHEN dt0 < 0 THEN -dt0 ELSE dt0 END AS dt" +:
      (0 until 4).map(j => s"CASE WHEN dt0 < 0 THEN -e$j ELSE e$j END AS d$j"))
      .mkString(",\n    ")
    val wcols = (0 until 4).map { j =>
      s"CAST(((2000 * d$j + dt) - (((2000 * d$j + dt) % (2 * dt) + (2 * dt))" +
        s" % (2 * dt))) // (2 * dt) AS BIGINT) AS w$j"
    }.mkString(",\n    ")
    s"""${p}mom AS MATERIALIZED (SELECT $momCols FROM $src),
      |${p}dz AS (SELECT $dcols FROM ${p}mom),
      |${p}dn AS (SELECT $ncols FROM ${p}dz),
      |${p}w AS MATERIALIZED (SELECT $wcols FROM ${p}dn),
      |${p}th AS (SELECT CAST((a - ((a % n + n) % n)) // n AS BIGINT) AS thr
      |  FROM (SELECT CAST(w0 * hm_0_0 + w1 * hm_0_1 + w2 * hm_0_2 + w3 * hm_0_3
      |      AS HUGEINT) AS a, hm_0_0 AS n
      |    FROM ${p}mom CROSS JOIN ${p}w) z)""".stripMargin
  }

  /** Score + mean-gate a feature CTE against `{p}w`/`{p}th`: `{p}k` =
    * the kept doc_ids (integer dot product, ≥ threshold). */
  private def probeKeepSql(p: String, featSrc: String): String =
    s"""${p}k AS (SELECT f.doc_id
      |  FROM $featSrc f CROSS JOIN ${p}w CROSS JOIN ${p}th
      |  WHERE CAST(${p}w.w0 * f.x0 + ${p}w.w1 * f.x1 + ${p}w.w2 * f.x2 +
      |    ${p}w.w3 * f.x3 AS BIGINT) >= ${p}th.thr)""".stripMargin

  /** dq132 (and dq133 verbatim — batch/stream parity): the stored
    * statistics gate over two ingest rounds. Round 1's model trains on
    * the full corpus (create's seed, self-model target); kept batch-1
    * docs fold their moments in (target vs the FROZEN model); round 2
    * re-derives weights and threshold from the GROWN table. */
  private lazy val Dq132Sql: String = {
    def mut(step: Int, sfx: Char): String =
      s"""array_to_string(list_transform(range(1, len(tk) + 1),
        |      i -> CASE WHEN (i - 1) % $step = 0 THEN tk[i] || '$sfx' ELSE tk[i] END),
        |      ' ')""".stripMargin
    s"""WITH b1 AS (
      |  SELECT doc_id + 100000 AS doc_id, text || ' zzztail' AS text
      |  FROM documents WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, ${mut(3, 'x')} AS text
      |  FROM (SELECT doc_id, string_split(text, ' ') tk
      |        FROM documents WHERE doc_id % 13 = 0)),
      |b2 AS (
      |  SELECT doc_id + 300000 AS doc_id, ${mut(3, 'x')} || ' zzztail' AS text
      |  FROM (SELECT doc_id, string_split(text, ' ') tk
      |        FROM documents WHERE doc_id % 13 = 0)
      |  UNION ALL
      |  SELECT doc_id + 400000 AS doc_id, text || ' zzztail' AS text
      |  FROM documents WHERE doc_id % 19 = 0
      |  UNION ALL
      |  SELECT doc_id + 500000 AS doc_id, ${mut(2, 'y')} AS text
      |  FROM (SELECT doc_id, string_split(text, ' ') tk
      |        FROM documents WHERE doc_id % 11 = 0)),
      |${probeTokSql("documents", "ht")},
      |${probeModelSql("ht", "fm")},
      |${probeYSql("documents", "ht", "fm", "h")},
      |${probeFeatSql("documents", "ht", "hf")},
      |j1 AS MATERIALIZED (SELECT hf.x0, hf.x1, hf.x2, hf.x3, hy.y
      |  FROM hf JOIN hy USING (doc_id)),
      |${probeCramerSql("r1", "j1")},
      |${probeTokSql("b1", "b1t")},
      |${probeFeatSql("b1", "b1t", "b1f")},
      |${probeKeepSql("r1", "b1f")},
      |${probeYSql("b1", "b1t", "fm", "p")},
      |j2 AS (SELECT x0, x1, x2, x3, y FROM j1
      |  UNION ALL
      |  SELECT f.x0, f.x1, f.x2, f.x3, py.y
      |  FROM b1f f JOIN py USING (doc_id) JOIN r1k USING (doc_id)),
      |${probeCramerSql("r2", "j2")},
      |${probeTokSql("b2", "b2t")},
      |${probeFeatSql("b2", "b2t", "b2f")},
      |${probeKeepSql("r2", "b2f")}
      |SELECT CAST(1 AS BIGINT) AS batch, doc_id FROM r1k
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS batch, doc_id FROM r2k
      |ORDER BY batch, doc_id""".stripMargin
  }

  /** dq135: the FULL declared curation loop — four chained stages per
    * round, each over the previous stage's survivors. Round 1 (doc_id %
    * 4 = 1): dedup keeps the lowest id per exact text, every gate seeds
    * (all kept) → s1. Round 2 (% 4 ∈ {1, 2}): dedup within the batch,
    * then the stored-window gate (any 8-token whitespace window seen in
    * s1 drops the doc), then the stored-LM band (bigram mean micro vs
    * the s1-trained model, ≥ 20000), then the stored-statistics mean
    * gate (s1's Cramer weights + moments-only threshold). */
  private lazy val Dq135Sql: String =
    s"""$Dq135ChainSql
      |SELECT CAST(1 AS BIGINT) AS round, doc_id FROM s1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS round, doc_id FROM r1k
      |ORDER BY round, doc_id""".stripMargin

  /** dq135's full two-round store chain as a shared WITH body — the
    * round-1 seed CTEs (b1 → dedup s1 → window set w1 + LM/probe models)
    * and the round-2 gate CTEs (b2 → dedup d2 → substr s2 → LM s3 →
    * probe r1k). [[Dq135Sql]] (and dq153 verbatim) select the per-round
    * SURVIVORS from it; [[Dq154Sql]] selects the per-round, per-stage
    * FATES — one audit row per input row per round. */
  private lazy val Dq135ChainSql: String =
    s"""WITH b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1),
      |s1 AS MATERIALIZED (SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) rn
      |    FROM b1) z WHERE rn = 1),
      |s1t AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
      |    x -> len(x) > 0) toks FROM s1),
      |w1 AS MATERIALIZED (SELECT DISTINCT
      |    md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) dg
      |  FROM s1t, unnest(range(1, len(toks) - 6)) r(i)),
      |${probeTokSql("s1", "ht")},
      |${probeModelSql("ht", "fm")},
      |${probeYSql("s1", "ht", "fm", "h")},
      |${probeFeatSql("s1", "ht", "hf")},
      |j1 AS (SELECT hf.x0, hf.x1, hf.x2, hf.x3, hy.y
      |  FROM hf JOIN hy USING (doc_id)),
      |${probeCramerSql("r1", "j1")},
      |b2 AS (SELECT doc_id, text FROM documents
      |  WHERE doc_id % 4 = 1 OR doc_id % 4 = 2),
      |d2 AS MATERIALIZED (SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) rn
      |    FROM b2) z WHERE rn = 1),
      |d2t AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
      |    x -> len(x) > 0) toks FROM d2),
      |wb2 AS (SELECT doc_id,
      |    md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) dg
      |  FROM d2t, unnest(range(1, len(toks) - 6)) r(i)),
      |dup2 AS (SELECT DISTINCT wb2.doc_id FROM wb2 JOIN w1 USING (dg)),
      |s2 AS MATERIALIZED (SELECT doc_id, text FROM d2
      |  WHERE doc_id NOT IN (SELECT doc_id FROM dup2)),
      |${probeTokSql("s2", "s2t")},
      |${probeYSql("s2", "s2t", "fm", "q")},
      |s3 AS MATERIALIZED (SELECT s2.doc_id, s2.text FROM s2
      |  JOIN qy USING (doc_id) WHERE qy.y >= 20000),
      |${probeFeatSql("s3", "s2t", "s3f")},
      |${probeKeepSql("r1", "s3f")}""".stripMargin

  /** dq154: the streamed drop audit's fates, re-derived per round from
    * the shared chain — round 1 is the seed round (only the dedup can
    * drop), round 2 attributes each drop to its gating stage. */
  private lazy val Dq154Sql: String =
    s"""$Dq135ChainSql
      |SELECT round, doc_id, stage_idx, stage FROM (
      |  SELECT CAST(1 AS BIGINT) AS round, doc_id,
      |      CAST(1 AS BIGINT) AS stage_idx, 'exact_dedup' AS stage
      |    FROM b1 WHERE doc_id NOT IN (SELECT doc_id FROM s1)
      |  UNION ALL SELECT CAST(1 AS BIGINT), doc_id, CAST(0 AS BIGINT),
      |      'kept' FROM s1
      |  UNION ALL SELECT CAST(2 AS BIGINT), doc_id, CAST(1 AS BIGINT),
      |      'exact_dedup'
      |    FROM b2 WHERE doc_id NOT IN (SELECT doc_id FROM d2)
      |  UNION ALL SELECT CAST(2 AS BIGINT), doc_id, CAST(2 AS BIGINT),
      |      'substr_gate'
      |    FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM s2)
      |  UNION ALL SELECT CAST(2 AS BIGINT), doc_id, CAST(3 AS BIGINT),
      |      'lm_gate'
      |    FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM s3)
      |  UNION ALL SELECT CAST(2 AS BIGINT), doc_id, CAST(4 AS BIGINT),
      |      'probe_gate'
      |    FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM r1k)
      |  UNION ALL SELECT CAST(2 AS BIGINT), doc_id, CAST(0 AS BIGINT),
      |      'kept' FROM r1k) u
      |ORDER BY round, doc_id""".stripMargin

  /** dq134: the config-driven probe gate — round 1 (doc_id % 4 = 1)
    * seeds the statistics (all kept); round 2's wider selector is
    * mean-gated against the seeded model. */
  private lazy val Dq134Sql: String =
    s"""WITH b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1),
      |b2 AS (SELECT doc_id, text FROM documents
      |  WHERE doc_id % 4 = 1 OR doc_id % 4 = 2),
      |${probeTokSql("b1", "ht")},
      |${probeModelSql("ht", "fm")},
      |${probeYSql("b1", "ht", "fm", "h")},
      |${probeFeatSql("b1", "ht", "hf")},
      |j1 AS (SELECT hf.x0, hf.x1, hf.x2, hf.x3, hy.y
      |  FROM hf JOIN hy USING (doc_id)),
      |${probeCramerSql("r1", "j1")},
      |${probeTokSql("b2", "b2t")},
      |${probeFeatSql("b2", "b2t", "b2f")},
      |${probeKeepSql("r1", "b2f")}
      |SELECT CAST(1 AS BIGINT) AS round, doc_id FROM b1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS round, doc_id FROM r1k
      |ORDER BY round, doc_id""".stripMargin

  /** dq152: the frozen near-dup gate — dq104's shingle→digest→band→cap→
    * Jaccard chain, benchmark slice vs candidate batch, gated ONCE and
    * emitted for both batch numbers (the frozen index never grows, so
    * the streamed loop's two micro-batches keep the same survivors). */
  private lazy val Dq152Sql: String = {
    def mut(step: Int, sfx: Char): String =
      s"""array_to_string(list_transform(range(1, len(tk) + 1),
        |      i -> CASE WHEN (i - 1) % $step = 0 THEN tk[i] || '$sfx' ELSE tk[i] END),
        |      ' ')""".stripMargin
    s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
      |inc AS (
      |  SELECT doc_id + 100000 AS doc_id, text || ' zzztail' AS text
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, ${mut(3, 'x')} AS text
      |  FROM (SELECT doc_id, string_split(text, ' ') tk
      |        FROM documents WHERE doc_id % 10 = 0)
      |  UNION ALL
      |  SELECT doc_id + 300000 AS doc_id, text FROM documents
      |  WHERE doc_id % 10 = 7),
      |${dq104Chain("bench", "h")},
      |${dq104Chain("inc", "p")},
      |hok AS (SELECT doc_id, b, bkey FROM
      |    (SELECT doc_id, b, bkey, count(*) OVER (PARTITION BY b, bkey) c FROM hb)
      |  WHERE c <= 100),
      |c1 AS (SELECT DISTINCT i.doc_id inc_id, h.doc_id hist_id
      |  FROM pb i JOIN hok h USING (b, bkey)),
      |v1 AS (SELECT inc_id,
      |    len(list_intersect(x.ds, y.ds))::DOUBLE / len(list_distinct(x.ds || y.ds)) jac
      |  FROM c1 JOIN ps x ON x.doc_id = inc_id JOIN hs y ON y.doc_id = hist_id),
      |k AS (SELECT doc_id, md5(text) AS text_md5 FROM inc
      |  WHERE doc_id NOT IN (SELECT inc_id FROM v1 WHERE jac > 0.8))
      |SELECT CAST(1 AS BIGINT) AS batch, doc_id, text_md5 FROM k
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS batch, doc_id, text_md5 FROM k
      |ORDER BY batch, doc_id""".stripMargin
  }

  /** dq151: dq134's round-2 gate — b2 scored under the weights AND mean
    * threshold frozen at b1's moments — emitted for BOTH batches (the
    * store never folds the candidates in). */
  private lazy val Dq151Sql: String =
    s"""WITH b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1),
      |b2 AS (SELECT doc_id, text FROM documents
      |  WHERE doc_id % 4 = 1 OR doc_id % 4 = 2),
      |${probeTokSql("b1", "ht")},
      |${probeModelSql("ht", "fm")},
      |${probeYSql("b1", "ht", "fm", "h")},
      |${probeFeatSql("b1", "ht", "hf")},
      |j1 AS (SELECT hf.x0, hf.x1, hf.x2, hf.x3, hy.y
      |  FROM hf JOIN hy USING (doc_id)),
      |${probeCramerSql("r1", "j1")},
      |${probeTokSql("b2", "b2t")},
      |${probeFeatSql("b2", "b2t", "b2f")},
      |${probeKeepSql("r1", "b2f")}
      |SELECT CAST(1 AS BIGINT) AS batch, doc_id FROM r1k
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS batch, doc_id FROM r1k
      |ORDER BY batch, doc_id""".stripMargin

  /** dq117/dq121 shared derivation: history window digests, batch-1
    * report vs them, fresh-survivor append, batch-2 report vs the grown
    * set (`source` carried for dq121's kept-row output). */
  private lazy val SubstrLoopChainSql: String =
    """b1 AS (
        |  SELECT doc_id + 100000 AS doc_id, source, text || ' zzztail' AS text
        |  FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, source,
        |    array_to_string(list_transform(range(1, len(tk) + 1),
        |      i -> CASE WHEN (i - 1) % 3 = 0 THEN tk[i] || 'x' ELSE tk[i] END),
        |      ' ') AS text
        |  FROM (SELECT doc_id, source, string_split(text, ' ') tk
        |        FROM documents WHERE doc_id % 13 = 0)),
        |b2 AS (
        |  SELECT doc_id + 300000 AS doc_id, source,
        |    array_to_string(list_transform(range(1, len(tk) + 1),
        |      i -> CASE WHEN (i - 1) % 3 = 0 THEN tk[i] || 'x' ELSE tk[i] END),
        |      ' ') || ' zzztail' AS text
        |  FROM (SELECT doc_id, source, string_split(text, ' ') tk
        |        FROM documents WHERE doc_id % 13 = 0)
        |  UNION ALL
        |  SELECT doc_id + 400000 AS doc_id, source, text || ' zzztail' AS text
        |  FROM documents WHERE doc_id % 19 = 0
        |  UNION ALL
        |  SELECT doc_id + 500000 AS doc_id, source,
        |    array_to_string(list_transform(range(1, len(tk) + 1),
        |      i -> CASE WHEN (i - 1) % 2 = 0 THEN tk[i] || 'y' ELSE tk[i] END),
        |      ' ') AS text
        |  FROM (SELECT doc_id, source, string_split(text, ' ') tk
        |        FROM documents WHERE doc_id % 11 = 0)),
        |th AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0) toks FROM documents),
        |wh AS (SELECT DISTINCT
        |    md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) dg
        |  FROM th, unnest(range(1, len(toks) - 6)) r(i)),
        |tb1 AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0) toks FROM b1),
        |wb1 AS (SELECT doc_id,
        |    md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) dg
        |  FROM tb1, unnest(range(1, len(toks) - 6)) r(i)),
        |tot1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_windows
        |  FROM wb1 GROUP BY 1),
        |dup1 AS (SELECT wb1.doc_id, CAST(count(*) AS BIGINT) n_dup
        |  FROM wb1 JOIN wh USING (dg) GROUP BY 1),
        |r1 AS (SELECT b1.doc_id, COALESCE(tot1.n_windows, 0) AS n_windows,
        |    COALESCE(dup1.n_dup, 0) AS n_dup_windows
        |  FROM b1 LEFT JOIN tot1 USING (doc_id) LEFT JOIN dup1 USING (doc_id)),
        |fresh1 AS (SELECT doc_id FROM r1 WHERE n_dup_windows = 0),
        |wh2 AS (SELECT dg FROM wh
        |  UNION SELECT wb1.dg FROM wb1 JOIN fresh1 USING (doc_id)),
        |tb2 AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0) toks FROM b2),
        |wb2 AS (SELECT doc_id,
        |    md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) dg
        |  FROM tb2, unnest(range(1, len(toks) - 6)) r(i)),
        |tot2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_windows
        |  FROM wb2 GROUP BY 1),
        |dup2 AS (SELECT wb2.doc_id, CAST(count(*) AS BIGINT) n_dup
        |  FROM wb2 JOIN wh2 USING (dg) GROUP BY 1),
        |r2 AS (SELECT b2.doc_id, COALESCE(tot2.n_windows, 0) AS n_windows,
        |    COALESCE(dup2.n_dup, 0) AS n_dup_windows
        |  FROM b2 LEFT JOIN tot2 USING (doc_id) LEFT JOIN dup2 USING (doc_id))"""
      .stripMargin

  /** dq117: both batch reports off the chain. */
  private lazy val Dq117Sql: String =
    s"""WITH $SubstrLoopChainSql,
      |x AS (
      |  SELECT CAST(1 AS BIGINT) AS batch, doc_id, n_windows, n_dup_windows
      |  FROM r1
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS batch, doc_id, n_windows, n_dup_windows
      |  FROM r2)
      |SELECT * FROM x ORDER BY batch, doc_id""".stripMargin

  /** dq121: the kept rows per streamed micro-batch = the chain's
    * zero-overlap documents. */
  private lazy val Dq121Sql: String =
    s"""WITH $SubstrLoopChainSql,
      |k AS (
      |  SELECT CAST(1 AS BIGINT) AS batch, b1.doc_id, b1.source
      |  FROM b1 JOIN r1 USING (doc_id) WHERE r1.n_dup_windows = 0
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT) AS batch, b2.doc_id, b2.source
      |  FROM b2 JOIN r2 USING (doc_id) WHERE r2.n_dup_windows = 0)
      |SELECT * FROM k ORDER BY batch, doc_id""".stripMargin

  /** dq144: the benchmark slice's distinct window digests, the batch's
    * windows joined against them, survivors = batch minus any-hit docs
    * (docs under k tokens have no windows and pass — keepFresh's rule);
    * the identical survivor set emitted for both rounds (the gate-only
    * idempotence contract). */
  private def decontamTwiceSql(label: String): String =
    s"""WITH wh AS (SELECT DISTINCT
      |    md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) dg
      |  FROM (SELECT list_filter(string_split_regex(text, '\\s+'),
      |      x -> len(x) > 0) toks FROM documents WHERE doc_id % 10 = 0) t,
      |    unnest(range(1, len(toks) - 6)) r(i)),
      |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
      |wt AS (SELECT doc_id,
      |    md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) dg
      |  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
      |      x -> len(x) > 0) toks FROM batch) t,
      |    unnest(range(1, len(toks) - 6)) r(i)),
      |hit AS (SELECT DISTINCT doc_id FROM wt JOIN wh USING (dg)),
      |k AS (SELECT doc_id, md5(text) AS text_md5 FROM batch
      |  WHERE doc_id NOT IN (SELECT doc_id FROM hit))
      |SELECT $label, doc_id, text_md5 FROM (
      |  SELECT CAST(1 AS BIGINT) AS $label, doc_id, text_md5 FROM k
      |  UNION ALL SELECT CAST(2 AS BIGINT), doc_id, text_md5 FROM k) u
      |ORDER BY $label, doc_id""".stripMargin

  private lazy val Dq144Sql: String = decontamTwiceSql("round")

  /** The dq191/dq192 composed-decontamination chain: the dq144 verbatim
    * 8-token-window hit set over the TEXT modality, the dq189 CDC
    * chunk-recurrence drop set over the PAYLOAD modality, survivors =
    * the candidate rows in NEITHER. */
  private def composedDecontamSql(tail: String): String =
    """WITH wh AS (SELECT DISTINCT
      |    md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) dg
      |  FROM (SELECT list_filter(string_split_regex(text, '\s+'),
      |      x -> len(x) > 0) toks FROM documents WHERE doc_id % 10 = 0) t,
      |    unnest(range(1, len(toks) - 6)) r(i)),
      |cand AS (
      |  SELECT doc_id AS id, text, doc_id AS g,
      |      CASE WHEN doc_id % 20 = 0 THEN 'X' ELSE '' END AS pre,
      |      CASE WHEN doc_id % 20 = 0 THEN 'mb' ELSE 'fp' END AS tag
      |    FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 100000, 'payload only ' || doc_id::VARCHAR,
      |      doc_id, 'XY', 'mb'
      |    FROM documents WHERE doc_id % 20 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, 'clean doc ' || doc_id::VARCHAR,
      |      doc_id, '', 'fq'
      |    FROM documents WHERE doc_id % 20 = 0),
      |wt AS (SELECT id,
      |    md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) dg
      |  FROM (SELECT id, list_filter(string_split_regex(text, '\s+'),
      |      x -> len(x) > 0) toks FROM cand) t,
      |    unnest(range(1, len(toks) - 6)) r(i)),
      |thit AS (SELECT DISTINCT id FROM wt JOIN wh USING (dg)),
      |roles AS (
      |  SELECT id, '' AS source, g, tag, pre, 'b' AS grp FROM cand
      |  UNION ALL
      |  SELECT doc_id, '', doc_id, 'mb', '', 'bench'
      |    FROM documents WHERE doc_id % 10 = 0),
      |""".stripMargin + cdcChainSql() +
    """h0 AS (SELECT id AS hid, ch FROM dch WHERE grp = 'bench'),
      |mdrop AS (SELECT b.id FROM dch b
      |  JOIN h0 ON b.ch = h0.ch WHERE b.grp = 'b'
      |  GROUP BY b.id, h0.hid HAVING count(DISTINCT b.ch) >= 3),
      |keep AS (SELECT c.id, md5(c.text) AS text_md5,
      |    md5(hx.h) AS payload_md5
      |  FROM cand c JOIN hx ON hx.id = c.id AND hx.grp = 'b'
      |  WHERE c.id NOT IN (SELECT id FROM thit)
      |    AND c.id NOT IN (SELECT DISTINCT id FROM mdrop))
      |""".stripMargin + tail

  /** dq145: the same gate-only chain — the STREAMED loop's two
    * micro-batches carry identical content and the frozen index never
    * grows, so both batches keep the same survivor set. */
  private lazy val Dq145Sql: String = decontamTwiceSql("batch")

  /** dq105: the cell-pruned semantic-decon report — dq51's trained chain
    * over the TRAIN split, dq91's eval battery probing `nprobe` cells, the
    * exact cosine threshold report on in-cell candidates only.
    */
  private val Dq105Sql: String =
    ivfChainSql(8, 2, 2, " WHERE vec_id % 97 <> 0",
      "SELECT vec_id qid, embedding qemb FROM embeddings WHERE vec_id % 97 = 0") +
      s""",
      |scored AS (SELECT a.vid,
      |    list_sum(list_transform(range(1, 65), i -> a.emb[i]::DOUBLE * p.qemb[i]::DOUBLE))
      |    / (sqrt(list_sum(list_transform(a.emb, x -> x::DOUBLE * x::DOUBLE)))
      |       * sqrt(list_sum(list_transform(p.qemb, x -> x::DOUBLE * x::DOUBLE)))) sim
      |  FROM af a JOIN probe p ON a.cell = p.cell)
      |SELECT vid AS vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
      |  max(sim) AS max_sim
      |FROM scored WHERE sim > 0.3
      |GROUP BY 1 ORDER BY vec_id""".stripMargin

  /** The dq106/dq110 shared ExactSubstr derivation (k=8): tokens →
    * window digests → corpus-duplicated digests → merged maximal spans
    * (`sp`: doc_id, span_start, span_end; `t`: doc_id, toks). */
  private val ExactSubstrChainSql =
    """t AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
      |    x -> len(x) > 0) toks FROM documents),
      |w AS (SELECT doc_id, i AS pos,
      |    md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) dg
      |  FROM t, unnest(range(1, len(toks) - 6)) r(i)),
      |d AS (SELECT dg FROM w GROUP BY dg HAVING count(*) > 1),
      |c AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (dg)),
      |m AS (SELECT doc_id, pos,
      |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
      |      OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
      |      THEN 1 ELSE 0 END brk
      |  FROM c),
      |i AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
      |    ORDER BY pos ROWS UNBOUNDED PRECEDING) isl FROM m),
      |sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) span_start,
      |    CAST(max(pos) + 7 AS BIGINT) span_end
      |  FROM i GROUP BY doc_id, isl)""".stripMargin

  /** dq112: integer-milli features + dq92's fluency chain as the target,
    * then every normal-equation moment as an exact BIGINT sum. */
  /** The dq112/dq115 shared derivation: dq92's fluency target `y` plus
    * the integer-milli feature frame `f`, as a CTE block (`t` through
    * `f`); callers append their own `j` join and consumers. */
  private lazy val QualityBaseSql = {
    val sw = graft.ext.QualityProbe.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\W+'),
      |    x -> len(x) > 0) toks FROM documents),
      |b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i+1])) AS bg
      |  FROM t WHERE len(toks) >= 2),
      |model AS (SELECT bg, CAST(count(*) AS BIGINT) c12 FROM b GROUP BY 1),
      |pc AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) c1
      |  FROM model GROUP BY 1),
      |m AS (SELECT bg, (1000000 * c12) // c1 AS micro
      |  FROM model JOIN pc ON string_split(model.bg, ' ')[1] = pc.w1),
      |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_bigrams,
      |    CAST(sum(micro) AS BIGINT) sum_micro
      |  FROM b JOIN m USING (bg) GROUP BY 1),
      |y AS (SELECT d.doc_id, COALESCE(s.sum_micro // s.n_bigrams, 0) AS y
      |  FROM documents d LEFT JOIN s USING (doc_id)),
      |f AS (SELECT d.doc_id,
      |    CAST(1 AS BIGINT) x0,
      |    CASE WHEN len(t.toks) = 0 THEN 0
      |      ELSE (1000 * CAST(list_sum(list_transform(t.toks, x -> len(x))) AS BIGINT))
      |        // len(t.toks) END x1,
      |    CASE WHEN len(t.toks) = 0 THEN 0
      |      ELSE (1000 * len(list_filter(t.toks,
      |        x -> list_contains([$sw], x)))) // len(t.toks) END x2,
      |    CASE WHEN len(t.toks) = 0 THEN 0
      |      ELSE (1000 * len(list_distinct(t.toks))) // len(t.toks) END x3
      |  FROM documents d JOIN t USING (doc_id))""".stripMargin
  }

  private lazy val Dq112Sql = {
    val terms =
      (for (i <- 0 until 4; j <- i until 4) yield (s"m_${i}_$j", s"x$i * x$j")) ++
        (0 until 4).map(i => (s"v_$i", s"x$i * y"))
    val unions = terms.map { case (t, e) =>
      s"SELECT '$t' AS term, CAST(sum($e) AS BIGINT) AS value FROM j"
    }.mkString("\n  UNION ALL ")
    s"""WITH $QualityBaseSql,
      |j AS (SELECT f.x0, f.x1, f.x2, f.x3, y.y FROM f JOIN y USING (doc_id))
      |SELECT term, value FROM (
      |  $unions
      |) ORDER BY term""".stripMargin
  }

  /** 4-element permutations with parity — the Leibniz expansion feeding
    * [[Dq115Sql]]'s HUGEINT determinants. */
  private lazy val Perms4: Seq[(IndexedSeq[Int], Int)] =
    (0 to 3).permutations.map { p =>
      val inv = (for (i <- 0 until 4; j <- i + 1 until 4 if p(i) > p(j))
        yield 1).sum
      (p, if (inv % 2 == 0) 1 else -1)
    }.toSeq

  /** det of the moment matrix (or, with `repl = Some(j)`, of the matrix
    * with column j replaced by the v-vector — Cramer's numerators), as a
    * SQL expression over the single-row `mom` CTE's HUGEINT columns. */
  private def detExprSql(repl: Option[Int]): String =
    Perms4.map { case (p, sgn) =>
      val prod = (0 until 4).map { i =>
        val c = p(i)
        if (repl.contains(c)) s"hv_$i"
        else s"hm_${math.min(i, c)}_${math.max(i, c)}"
      }.mkString(" * ")
      (if (sgn > 0) "+ " else "- ") + prod
    }.mkString(" ")

  /** dq115: train → score → threshold-gate, one derivation — moments as
    * HUGEINT, the four Cramer determinants via [[detExprSql]], the SAME
    * half-up rounding to milli-weights as
    * [[graft.ext.QualityProbe.milliWeights]] (sign-normalized floor
    * division — `//` after subtracting the non-negative remainder is
    * exact), then the integer dot-product score and the corpus-mean
    * floor threshold. */
  private lazy val Dq115Sql = {
    val momCols =
      ((for (i <- 0 until 4; j <- i until 4)
        yield s"CAST(sum(x$i * x$j) AS HUGEINT) AS hm_${i}_$j") ++
        (0 until 4).map(i => s"CAST(sum(x$i * y) AS HUGEINT) AS hv_$i"))
        .mkString(", ")
    val dcols = (s"(${detExprSql(None)}) AS dt0" +:
      (0 until 4).map(j => s"(${detExprSql(Some(j))}) AS e$j")).mkString(",\n    ")
    val ncols = ("CASE WHEN dt0 < 0 THEN -dt0 ELSE dt0 END AS dt" +:
      (0 until 4).map(j => s"CASE WHEN dt0 < 0 THEN -e$j ELSE e$j END AS d$j"))
      .mkString(",\n    ")
    val wcols = (0 until 4).map { j =>
      s"CAST(((2000 * d$j + dt) - (((2000 * d$j + dt) % (2 * dt) + (2 * dt))" +
        s" % (2 * dt))) // (2 * dt) AS BIGINT) AS w$j"
    }.mkString(",\n    ")
    s"""WITH $QualityBaseSql,
      |j AS (SELECT f.doc_id, f.x0, f.x1, f.x2, f.x3, y.y FROM f JOIN y USING (doc_id)),
      |mom AS (SELECT $momCols FROM j),
      |dz AS (SELECT $dcols FROM mom),
      |dn AS (SELECT $ncols FROM dz),
      |w AS (SELECT $wcols FROM dn),
      |sc AS (SELECT j.doc_id,
      |    CAST(w.w0 * j.x0 + w.w1 * j.x1 + w.w2 * j.x2 + w.w3 * j.x3 AS BIGINT)
      |      AS score_micro
      |  FROM j CROSS JOIN w),
      |th AS (SELECT CAST((s - ((s % n + n) % n)) // n AS BIGINT) AS thr
      |  FROM (SELECT CAST(sum(score_micro) AS HUGEINT) s,
      |        CAST(count(*) AS HUGEINT) n FROM sc) z)
      |SELECT sc.doc_id, sc.score_micro,
      |  CAST(sc.score_micro >= th.thr AS BIGINT) AS keep
      |FROM sc CROSS JOIN th ORDER BY doc_id""".stripMargin
  }

  /** dq116/dq143's shared stage chain as CTE text over `src` — s1 the
    * content dedup (lowest id per sha256), s2 the token-count band, then
    * the dq92 fluency chain TRAINED ON s2 (the composition the config
    * expresses), s3 the band gate. */
  private def curationChainSql(src: String): String =
    raw"""s1 AS (SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) rn
      |    FROM $src) z WHERE rn = 1),
      |s2 AS (SELECT * FROM s1
      |  WHERE len(list_filter(regexp_split_to_array(lower(text), '\W+'),
      |    x -> len(x) > 0)) BETWEEN 24 AND 10000),
      |t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
      |    x -> len(x) > 0) toks FROM s2),
      |b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i+1])) AS bg
      |  FROM t WHERE len(toks) >= 2),
      |model AS (SELECT bg, CAST(count(*) AS BIGINT) c12 FROM b GROUP BY 1),
      |pc AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) c1
      |  FROM model GROUP BY 1),
      |m AS (SELECT bg, (1000000 * c12) // c1 AS micro
      |  FROM model JOIN pc ON string_split(model.bg, ' ')[1] = pc.w1),
      |fl AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_bigrams,
      |    CAST(sum(micro) AS BIGINT) sum_micro
      |  FROM b JOIN m USING (bg) GROUP BY 1),
      |y AS (SELECT s2.doc_id, COALESCE(fl.sum_micro // fl.n_bigrams, 0) AS mm
      |  FROM s2 LEFT JOIN fl USING (doc_id)),
      |s3 AS (SELECT s2.doc_id, s2.text FROM s2 JOIN y USING (doc_id)
      |  WHERE y.mm BETWEEN 33900 AND 35300)""".stripMargin

  private lazy val Dq116Sql =
    s"""WITH ${curationChainSql("documents")}
      |SELECT doc_id, md5(text) AS text_md5 FROM s3 ORDER BY doc_id""".stripMargin

  /** dq143: the chain behind its `where` selector, then every stage's
    * drop set re-derived as `input minus output` with the stage's
    * 1-based index and config name, survivors tagged (0, 'kept'). */
  private lazy val Dq143Sql =
    s"""WITH s0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 < 3),
      |${curationChainSql("s0")}
      |SELECT doc_id, stage_idx, stage FROM (
      |  SELECT doc_id, CAST(1 AS BIGINT) AS stage_idx, 'where' AS stage
      |    FROM documents WHERE doc_id % 4 >= 3
      |  UNION ALL SELECT doc_id, CAST(2 AS BIGINT), 'exact_dedup' FROM s0
      |    WHERE doc_id NOT IN (SELECT doc_id FROM s1)
      |  UNION ALL SELECT doc_id, CAST(3 AS BIGINT), 'quality_gate' FROM s1
      |    WHERE doc_id NOT IN (SELECT doc_id FROM s2)
      |  UNION ALL SELECT doc_id, CAST(4 AS BIGINT), 'fluency_band' FROM s2
      |    WHERE doc_id NOT IN (SELECT doc_id FROM s3)
      |  UNION ALL SELECT doc_id, CAST(0 AS BIGINT), 'kept' FROM s3) u
      |ORDER BY doc_id""".stripMargin

  /** Merge count shared by dq107's training run, dq108's trained-vocab
    * tokenization, and their oracles' unrolled replay. */
  private val BpeMerges = 6

  /** dq114's merge depth: twice dq107's, so the batched trainer is checked
    * past the first simulated round's easy region. */
  private val BpeBatchMerges = 12

  /** The relational-BPE recurrence of [[graft.ext.BpeTrain.learn]]
    * unrolled as a chain of CTEs, one (p,c,d,e,s) block per merge step:
    * p$i the argmax pair (count desc, lexicographic tie-break), c$i the
    * candidate flags, d$i the gaps-and-islands key over candidate row
    * numbers, e$i the greedy even-offset winners, s${i+1} the merged
    * symbol state. `w0` is the distinct-word table (dq89 normalization),
    * `s1` the character-level start state. */
  private def bpeChainSql(n: Int, materialized: Boolean = true,
      src: String = "documents"): String = {
    val m = if (materialized) " MATERIALIZED" else ""
    val base =
      s"""w0 AS$m (SELECT word, CAST(count(*) AS BIGINT) cnt FROM (
        |    SELECT u.x word FROM (SELECT list_filter(
        |        regexp_split_to_array(lower(text), '\\W+'),
        |        x -> len(x) > 0) toks FROM $src) t0, unnest(t0.toks) u(x))
        |  GROUP BY word),
        |s1 AS$m (SELECT word, cnt, i AS pos, substr(word, CAST(i AS INT), 1) sym
        |  FROM w0, unnest(range(1, len(word) + 1)) r(i))""".stripMargin
    val steps = (1 to n).map { i =>
      s"""p$i AS$m (SELECT sym a, nsym b, CAST(sum(cnt) AS BIGINT) pc FROM (
        |    SELECT sym, lead(sym) OVER (PARTITION BY word ORDER BY pos) nsym, cnt
        |    FROM s$i)
        |  WHERE nsym IS NOT NULL GROUP BY 1, 2 ORDER BY pc DESC, a, b LIMIT 1),
        |c$i AS (SELECT s.word, s.cnt, s.pos, s.sym, p.a, p.b,
        |    (s.sym = p.a AND lead(s.sym) OVER wn$i = p.b) isc,
        |    row_number() OVER wn$i rn
        |  FROM s$i s CROSS JOIN p$i p
        |  WINDOW wn$i AS (PARTITION BY s.word ORDER BY s.pos)),
        |d$i AS (SELECT *, rn - sum(CASE WHEN isc THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY word ORDER BY rn ROWS UNBOUNDED PRECEDING) isl
        |  FROM c$i),
        |e$i AS (SELECT *, COALESCE(isc AND
        |      (rn - min(CASE WHEN isc THEN rn END) OVER (PARTITION BY word, isl))
        |      % 2 = 0, FALSE) vm
        |  FROM d$i),
        |s${i + 1} AS$m (SELECT word, cnt, pos,
        |    CASE WHEN vm THEN a || b ELSE sym END sym
        |  FROM (SELECT *, lag(vm) OVER (PARTITION BY word ORDER BY pos) pvm
        |        FROM e$i)
        |  WHERE NOT COALESCE(pvm, FALSE))""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** dq107: the learned merge table off the unrolled chain. */
  private lazy val Dq107Sql = {
    val union = (1 to BpeMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) step, a AS left_sym, b AS right_sym, " +
        s"pc AS pair_count FROM p$i").mkString(" UNION ALL ")
    s"WITH ${bpeChainSql(BpeMerges)}\nSELECT * FROM ($union) ORDER BY step"
  }

  /** dq114: the same sequential recurrence unrolled to [[BpeBatchMerges]]
    * steps — the ground truth the BATCHED trainer must reproduce. */
  private lazy val Dq114Sql = {
    val union = (1 to BpeBatchMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) step, a AS left_sym, b AS right_sym, " +
        s"pc AS pair_count FROM p$i").mkString(" UNION ALL ")
    s"WITH ${bpeChainSql(BpeBatchMerges)}\nSELECT * FROM ($union) ORDER BY step"
  }

  /** dq108 (and dq137/dq138 with a different `src`): vocab = alphabet
    * (distinct s1 symbols) ∪ merge products, then dq89's greedy
    * longest-match recurrence replayed against it. `prelude` injects
    * CTEs (e.g. a survivor selection) ahead of the chain; `src` is the
    * corpus both the training chain and the tokenization read. */
  private def bpeTokenizeSql(nMerges: Int, src: String,
      prelude: String = ""): String = {
    val vocabUnion = (1 to nMerges)
      .map(i => s"SELECT a || b AS v FROM p$i").mkString(" UNION ")
    s"""WITH RECURSIVE $prelude${bpeChainSql(nMerges, materialized = false, src = src)},
      |vocab(v) AS (SELECT DISTINCT sym FROM s1 UNION $vocabUnion),
      |t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\W+'),
      |    x -> len(x) > 0) toks FROM $src),
      |w AS (SELECT doc_id, i AS wid, toks[CAST(i AS INT)] AS word
      |  FROM t, unnest(range(1, len(toks) + 1)) r(i)),
      |dw AS (SELECT DISTINCT word FROM w),
      |steps AS (
      |  SELECT word, CAST(1 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS sub
      |  FROM dw
      |  UNION ALL
      |  SELECT s.word,
      |    s.pos + COALESCE((SELECT max(len(v)) FROM vocab
      |      WHERE substr(s.word, CAST(s.pos AS INT), len(v)) = v), 1),
      |    s.sub || CASE WHEN s.pos = 1 THEN '' ELSE ' ' END ||
      |      COALESCE((SELECT v FROM vocab
      |        WHERE substr(s.word, CAST(s.pos AS INT), len(v)) = v
      |        ORDER BY len(v) DESC LIMIT 1), '?')
      |  FROM steps s WHERE s.pos <= len(s.word)),
      |done AS (SELECT word, sub, CAST(len(string_split(sub, ' ')) AS BIGINT) nt
      |  FROM steps WHERE pos > len(word)),
      |ds AS (SELECT w.doc_id, string_agg(d.sub, ' ' ORDER BY w.wid) AS stream,
      |    CAST(sum(d.nt) AS BIGINT) AS nt
      |  FROM w JOIN done d USING (word) GROUP BY w.doc_id)
      |SELECT doc_id, COALESCE(ds.nt, 0) AS n_subtokens,
      |  md5(COALESCE(ds.stream, '')) AS subtok_md5
      |FROM $src LEFT JOIN ds USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  }

  private lazy val Dq108Sql = bpeTokenizeSql(BpeMerges, "documents")

  /** dq138: the config-declared curate-then-tokenize pipeline — dedup
    * survivors of the selector seed the stored BPE state and are
    * tokenized under its vocabulary (the chain + inference recurrence
    * over `sel` instead of the full corpus). */
  private lazy val Dq138Sql = bpeTokenizeSql(BpeMerges, "sel", prelude =
    """sel AS (SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) rn
      |    FROM documents WHERE doc_id % 3 = 1) z WHERE rn = 1),
      |""".stripMargin)

  /** DuckDB-equivalent SQL per query (same column names, same ORDER BY). */
  def oracleSql: Map[String, String] = Map(
    "dq01_nested_projection" ->
      """SELECT to_json({'custkey': c_custkey, 'name': c_name})::VARCHAR AS customer,
        |  c_custkey AS custkey
        |FROM customer ORDER BY custkey""".stripMargin,
    "dq02_select_all_expansion" ->
      """SELECT o_orderkey, to_json({'orderdate': strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
        |  'priority': o_orderpriority, 'status': o_orderstatus,
        |  'totalprice': o_totalprice})::VARCHAR AS info
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "dq03_scalar_flatten" ->
      """SELECT to_json({'custkey': c_custkey, 'name': c_name})::VARCHAR AS customer,
        |  c_custkey AS customer_id
        |FROM customer ORDER BY customer_id""".stripMargin,
    "dq04_constant_columns" ->
      """SELECT 'Ben' AS author, n_name, n_nationkey, 1 AS test_run
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "dq05_struct_construction" ->
      """SELECT to_json({'author': 'Ben', 'download_date': '2026-08-12',
        |  'report_date': strftime(o_orderdate, '%Y-%m-%d')})::VARCHAR AS metadata,
        |  o_orderkey
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "dq06_filter_predicates" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-02-01' AND l_quantity > 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "dq07_null_semantics" ->
      """SELECT event_id, CASE WHEN props = '' THEN NULL ELSE props END AS props,
        |  COALESCE(value, 0) AS value
        |FROM events ORDER BY event_id""".stripMargin,
    "dq08_enum_passthrough" ->
      "SELECT DISTINCT o_orderstatus FROM orders ORDER BY o_orderstatus",
    "dq09_field_ordering" ->
      """SELECT o_orderkey AS order_id, o_custkey AS customer_id, o_totalprice,
        |  to_json({'author': 'Ben', 'download_date': '2026-08-12',
        |   'report_date': strftime(o_orderdate, '%Y-%m-%d')})::VARCHAR AS metadata
        |FROM orders ORDER BY order_id""".stripMargin,
    "dq10_json_sink" ->
      """SELECT c_custkey,
        |  to_json({'custkey': c_custkey, 'name': c_name})::VARCHAR AS customer_json
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "dq11_join" ->
      """SELECT o_orderkey, c_custkey AS customer_id, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "dq12_aggregation" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "dq13_dedup_exact" ->
      """SELECT event_id, user_id, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "dq14_similarity_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
        |SELECT e.vec_id,
        |  list_sum(list_transform(range(1, len(e.embedding) + 1),
        |    i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
        |  / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |     * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))) AS sim
        |FROM embeddings e, q WHERE e.vec_id <> 1
        |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin,
    "dq99_knn_classify" ->
      // exact cosine kNN (fixed fold), rank by (sim desc, vid), vote over
      // the k survivors, winner by (votes desc, label asc)
      """WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
        |q AS (SELECT vec_id qid, embedding qv FROM e WHERE vec_id % 173 = 0),
        |s AS (SELECT q.qid, e.vec_id vid, e.label,
        |    list_sum(list_transform(range(1, 65),
        |      i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))) AS sim
        |  FROM e, q WHERE e.vec_id <> q.qid),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid) rn
        |  FROM s),
        |v AS (SELECT qid, label, CAST(count(*) AS BIGINT) n_votes, max(sim) best_sim
        |  FROM r WHERE rn <= 7 GROUP BY 1, 2),
        |w AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY n_votes DESC, label) rr
        |  FROM v)
        |SELECT qid, label, n_votes, best_sim FROM w WHERE rr = 1
        |ORDER BY qid""".stripMargin,
    "dq15_text_tokens" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
        |    t -> len(t) > 0)) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "dq16_lang_id" ->
      """WITH t AS (SELECT list_filter(regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) > 0) toks FROM documents),
        |sc AS (SELECT
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','auf','sie'], x)))::DOUBLE / len(toks) END de,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x)))::DOUBLE / len(toks) END en,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','un','es','se','no'], x)))::DOUBLE / len(toks) END es,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','un','une','du','que'], x)))::DOUBLE / len(toks) END fr
        | FROM t)
        |SELECT CASE WHEN greatest(de,en,es,fr) = 0 THEN 'und'
        |  WHEN de = greatest(de,en,es,fr) THEN 'de'
        |  WHEN en = greatest(de,en,es,fr) THEN 'en'
        |  WHEN es = greatest(de,en,es,fr) THEN 'es' ELSE 'fr' END AS lang_pred,
        |  count(*) AS n
        |FROM sc GROUP BY 1 ORDER BY lang_pred""".stripMargin,
    "dq17_quality_score" ->
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) toks
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  len(text)::DOUBLE n_chars_m,
        |  len(toks)::DOUBLE n_tokens,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks) END mean_tok_len,
        |  CASE WHEN len(text) = 0 THEN 0 ELSE len(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g'))::DOUBLE / len(text) END punct_ratio,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x)))::DOUBLE / len(toks) END stopword_ratio
        | FROM t)
        |SELECT doc_id, n_chars_m, n_tokens, mean_tok_len, punct_ratio, stopword_ratio,
        |  greatest(0, least(1,
        |    0.5 * least(stopword_ratio * 5, 1) +
        |    0.3 * (CASE WHEN mean_tok_len BETWEEN 3 AND 10 THEN 1 ELSE 0 END) +
        |    0.2 * (1 - least(punct_ratio * 10, 1)))) AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin,
    "dq18_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dq19_minhash_lsh" -> (Dq19Sql + "\nORDER BY doc_a, doc_b"),
    "dq20_simhash" ->
      """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) > 0) toks FROM documents),
        |bits AS (SELECT doc_id, b,
        |    SUM(CASE WHEN floor((strpos('0123456789abcdef', substr(md5(tok), b//4 + 1, 1)) - 1)
        |      / pow(2, 3 - b%4))::INT % 2 = 1 THEN 1 ELSE -1 END) s
        |  FROM t, unnest(toks) AS u(tok), unnest(range(0, 64)) AS v(b)
        |  GROUP BY doc_id, b),
        |sh AS (SELECT doc_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) sim
        |  FROM bits GROUP BY doc_id),
        |bands AS (SELECT doc_id, sim, b, substr(sim, 16*b+1, 16) bkey
        |  FROM sh, unnest(range(0, 4)) AS u(b)),
        |cand AS (SELECT DISTINCT a.doc_id ai, a.sim sa, b.doc_id bi, b.sim sb
        |  FROM bands a JOIN bands b USING (b, bkey) WHERE a.doc_id < b.doc_id)
        |SELECT ai AS doc_a, bi AS doc_b,
        |  len(list_filter(range(1, 65), i -> substr(sa, i, 1) != substr(sb, i, 1))) AS hamming
        |FROM cand WHERE len(list_filter(range(1, 65), i -> substr(sa, i, 1) != substr(sb, i, 1))) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dq21_ngram_jaccard" ->
      """WITH s AS (SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, greatest(len(text) - 3, 0) + 1),
        |      i -> substr(text, i, 4))) sh
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(a.sh || b.sh)) AS jac
        |FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(a.sh || b.sh)) > 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dq22_embedding_neardup" -> s"$Dq22Sql\nORDER BY vec_a, vec_b",
    "dq23_ann_ivf" ->
      """WITH e AS (SELECT vec_id, embedding,
        |  (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END +
        |   CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END +
        |   CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END +
        |   CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) bucket FROM embeddings),
        |q AS (SELECT vec_id qid, embedding qemb, bucket qbucket FROM e WHERE vec_id IN (1, 2, 3)),
        |scored AS (SELECT q.qid, e.vec_id AS vid,
        |    list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qemb[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(q.qemb, x -> x::DOUBLE * x::DOUBLE)))) AS sim
        |  FROM e JOIN q ON e.bucket = q.qbucket AND e.vec_id <> q.qid),
        |ranked AS (SELECT qid, vid, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid) AS rnk
        |  FROM scored)
        |SELECT qid, vid, sim, rnk FROM ranked WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin,
    "dq24_multimodal_decode" ->
      """SELECT doc_id,
        |  len(text)::BIGINT AS byte_len,
        |  ascii(substr(text, 1, 1)) AS first_byte,
        |  (COALESCE(list_sum(list_transform(range(1, least(len(text), 16) + 1),
        |    i -> ascii(substr(text, i, 1)))), 0) % 256)::BIGINT AS checksum16,
        |  (len(text) // 100)::BIGINT AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dq25_stream_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n, sum(value) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "dq96_stream_daily_rollup" ->
      // hourly partials → daily rollup, DECIMAL-routed value re-sum, and
      // the append-mode boundary: the last (partial) day never emits
      """WITH h AS (SELECT date_trunc('hour', ts) hw, event_type,
        |    CAST(count(*) AS BIGINT) n, sum(value) sv
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT strftime(date_trunc('day', hw), '%Y-%m-%d') AS day, event_type,
        |    CAST(sum(n) AS BIGINT) AS n,
        |    CAST(sum(CAST(sv AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |  FROM h GROUP BY 1, 2),
        |m AS (SELECT max(ts) mx FROM events)
        |SELECT day, event_type, n, sum_value FROM d, m
        |WHERE CAST(day AS DATE) + INTERVAL 1 DAY <= mx - INTERVAL 1 HOUR
        |ORDER BY day, event_type""".stripMargin,
    "dq26_stream_sessions" ->
      """WITH o AS (SELECT user_id, epoch_us(ts) us FROM events),
        |g AS (SELECT user_id, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 600000000
        |      THEN 1 ELSE 0 END brk
        |  FROM o),
        |s AS (SELECT user_id, us,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS UNBOUNDED PRECEDING) sid
        |  FROM g)
        |SELECT user_id,
        |  strftime(to_timestamp(min(us) // 1000000), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events,
        |  (max(us) - min(us)) / 1000000.0 AS duration_sec
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "dq27_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "dq28_set_except" ->
      """SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin,
    "dq29_distinct_count" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "dq30_ann_multiprobe" ->
      """WITH e AS (SELECT vec_id, embedding,
        |  (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END +
        |   CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END +
        |   CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END +
        |   CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) bucket FROM embeddings),
        |q AS (SELECT vec_id qid, embedding qemb, unnest([bucket, xor(bucket, 1),
        |    xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) probe
        |  FROM e WHERE vec_id IN (1, 2, 3)),
        |scored AS (SELECT q.qid, e.vec_id AS vid,
        |    list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qemb[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(q.qemb, x -> x::DOUBLE * x::DOUBLE)))) AS sim
        |  FROM e JOIN q ON e.bucket = q.probe AND e.vec_id <> q.qid),
        |ranked AS (SELECT qid, vid, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid) AS rnk
        |  FROM scored)
        |SELECT qid, vid, sim, rnk FROM ranked WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin,
    "dq103_dense_resample" ->
      // the hour spine from generate_series, the type dimension from the
      // data, gaps zero-filled; DECIMAL-routed hourly value sums
      """WITH ev AS (SELECT date_trunc('hour', ts) hh, event_type, value FROM events),
        |hourly AS (SELECT hh, event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) sum_value
        |  FROM ev GROUP BY 1, 2),
        |b AS (SELECT min(hh) lo, max(hh) hi FROM ev),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hh FROM b),
        |st AS (SELECT spine.hh, t.event_type
        |  FROM spine, (SELECT DISTINCT event_type FROM ev) t)
        |SELECT strftime(st.hh, '%Y-%m-%d %H:%M:%S') AS hour, st.event_type,
        |  COALESCE(h.n, 0) AS n, COALESCE(h.sum_value, 0) AS sum_value
        |FROM st LEFT JOIN hourly h ON st.hh = h.hh AND st.event_type = h.event_type
        |WHERE strftime(st.hh, '%Y-%m-%d %H:%M:%S') >= '2024-01-10 00:00:00'
        |  AND strftime(st.hh, '%Y-%m-%d %H:%M:%S') < '2024-01-11 00:00:00'
        |ORDER BY hour, st.event_type""".stripMargin,
    // the persisted-index loop: the chain below derives, per relation, the
    // EXACT stored payload (sorted digest sets, digest-derived signatures,
    // banded keys); round 2's index side is the round-1 index UNION the
    // batch-1 survivors — the append semantics re-derived in SQL
    "dq104_neardup_index_loop" -> Dq104Sql,
    // the STREAMED loop makes the same promise over the same batches —
    // batch/stream parity against one SQL derivation (the dq31/dq94 and
    // dq83/dq87 precedent)
    "dq109_stream_index_loop" -> Dq104Sql,
    "dq105_semantic_decon_pruned" -> Dq105Sql,
    "dq107_bpe_train" -> Dq107Sql,
    "dq108_bpe_tokenize" -> Dq108Sql,
    // the persisted BPE state: retrain-from-summed-counts must equal the
    // from-scratch chain over the union corpus (history + append = all
    // documents), and the stored-vocabulary tokenize must equal the
    // per-call train+tokenize — both session oracles reused verbatim
    "dq136_bpe_store" -> Dq107Sql,
    // the STREAMED count fold makes the same promise over micro-batched
    // halves (exactly-once tokens; associativity hides stream order)
    "dq139_stream_bpe_fold" -> Dq107Sql,
    "dq140_stream_bm25_fold" -> Dq86Sql,
    "dq137_bpe_store_tokenize" -> Dq108Sql,
    // the declared curate-then-tokenize pipeline: chain + inference
    // recurrence over the dedup survivors of the selector
    "dq138_config_bpe_tokenize" -> Dq138Sql,
    // the batched trainer vs the SEQUENTIAL unrolled chain at 2x depth:
    // matching this oracle is the batched == sequential proof
    "dq114_bpe_train_batched" -> Dq114Sql,
    "dq112_quality_probe" -> Dq112Sql,
    // the INCREMENTAL moment table: frozen history model as the target's
    // reference, partials summed over create + append
    "dq131_probe_stats_store" -> Dq131Sql,
    // the stored statistics as the FIFTH gated modality: two mean-gated
    // ingest rounds, the second against the survivor-grown table — and
    // its streamed twin through the generic loop (batch/stream parity)
    "dq132_probe_gate_loop" -> Dq132Sql,
    "dq133_stream_probe_loop" -> Dq132Sql,
    // config-driven probe ingest: round 1 seeds the statistics (all
    // kept), round 2 mean-gates the wider batch against them
    "dq134_config_probe_ingest" -> Dq134Sql,
    // the frozen quality-classifier filter: dq134's gate round, both batches
    "dq151_stream_frozen_probe" -> Dq151Sql,
    "dq152_stream_fuzzy_decontam" -> Dq152Sql,
    // the streamed declared pipeline shares dq135's oracle verbatim: its
    // two micro-batches ARE dq135's two named rounds (stream/batch parity)
    "dq153_stream_config_pipeline" -> Dq135Sql,
    "dq154_stream_drop_audit" -> Dq154Sql,
    // bit-exact round trip: int64 via varint, string via UTF-8, double
    // via fixed64 bits — the oracle reads the ORIGINAL parquet
    "dq155_proto_replay_report" ->
      """SELECT o_orderkey, o_orderstatus, o_custkey, o_totalprice
        |FROM orders WHERE o_totalprice > 400000
        |ORDER BY o_orderkey""".stripMargin,
    // exactly-once across the checkpoint restart: the sink holds the FULL
    // table — any lost file or re-delivered batch breaks the hash
    "dq156_proto_stream_tail" ->
      """SELECT o_orderkey, o_orderstatus, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // the declared report over the streamed cache: WHERE + projection,
    // exactly-once across the restart — the reference's whole loop
    "dq157_stream_config_report" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 400000 ORDER BY o_orderkey""".stripMargin,
    // store-mediated mixing streamed: round 1's rates from its own
    // counts (the seed round — dq146's chain verbatim), round 2's from
    // the CUMULATIVE counts (b1 ∪ b2), membership via the shared
    // portable md5 gate
    "dq159_stream_mix_gate" ->
      """WITH b1 AS (SELECT doc_id, source FROM documents
        |  WHERE doc_id % 4 = 1),
        |b2 AS (SELECT doc_id, source FROM documents
        |  WHERE doc_id % 4 IN (2, 3)),
        |c1 AS (SELECT source, count(*)::BIGINT AS n FROM b1 GROUP BY source),
        |w1 AS (SELECT source, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w
        |  FROM c1),
        |t1 AS (SELECT CAST(sum(w) AS HUGEINT) AS sw FROM w1),
        |r1 AS (SELECT source,
        |    CAST(LEAST(CAST(1000000 AS HUGEINT),
        |      (CAST(150 AS HUGEINT) * w * 1000000) // (sw * n)) AS BIGINT)
        |      AS micro
        |  FROM w1, t1),
        |c2 AS (SELECT source, count(*)::BIGINT AS n FROM
        |  (SELECT * FROM b1 UNION ALL SELECT * FROM b2) GROUP BY source),
        |w2 AS (SELECT source, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w
        |  FROM c2),
        |t2 AS (SELECT CAST(sum(w) AS HUGEINT) AS sw FROM w2),
        |r2 AS (SELECT source,
        |    CAST(LEAST(CAST(1000000 AS HUGEINT),
        |      (CAST(150 AS HUGEINT) * w * 1000000) // (sw * n)) AS BIGINT)
        |      AS micro
        |  FROM w2, t2)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS round, d.doc_id, d.source
        |  FROM b1 d JOIN r1 USING (source)
        |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
        |    % 1000000 < r1.micro
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), d.doc_id, d.source
        |  FROM b2 d JOIN r2 USING (source)
        |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
        |    % 1000000 < r2.micro)
        |ORDER BY round, doc_id""".stripMargin,
    // the streamed terminal materialization: each micro-batch commits
    // its OWN shard set, so the oracle derives dq158's full chain once
    // per round over that round's batch rows
    "dq160_stream_shard_write" ->
      """WITH RECURSIVE d AS (
        |  SELECT 1::BIGINT AS round, doc_id, text,
        |    len(text)::BIGINT AS units,
        |    md5('1:' || doc_id::VARCHAR) AS skey,
        |    substr(md5('1:' || doc_id::VARCHAR), 1, 1) AS stream
        |  FROM documents WHERE doc_id % 4 = 1
        |  UNION ALL
        |  SELECT 2::BIGINT, doc_id, text, len(text)::BIGINT,
        |    md5('1:' || doc_id::VARCHAR),
        |    substr(md5('1:' || doc_id::VARCHAR), 1, 1)
        |  FROM documents WHERE doc_id % 4 IN (2, 3)),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY round, stream ORDER BY skey) rn
        |  FROM d),
        |packed AS (
        |  SELECT round, stream, skey, doc_id, text, units, rn,
        |    CAST(0 AS BIGINT) AS bin, units AS fill
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.round, r.stream, r.skey, r.doc_id, r.text, r.units,
        |    r.rn,
        |    CASE WHEN p.fill + r.units > 4000 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + r.units > 4000 THEN r.units
        |         ELSE p.fill + r.units END
        |  FROM r JOIN packed p
        |    ON r.round = p.round AND r.stream = p.stream AND r.rn = p.rn + 1)
        |SELECT round, stream, bin, count(*) AS n_docs,
        |  CAST(sum(units) AS BIGINT) AS units,
        |  md5(string_agg(md5(doc_id::VARCHAR || ':' || text), ''
        |    ORDER BY skey)) AS content_md5
        |FROM packed GROUP BY 1, 2, 3
        |ORDER BY round, stream, bin""".stripMargin,
    // loader-side integrity over a two-epoch materialization: the
    // derivation expands each kept doc into its epoch copies (factor 2.0
    // is exact — epochs 1 and 2, no fractional gate), keys each copy by
    // its own epoch-shuffle key, re-runs the packing recurrence, and
    // asserts manifest and disk hashes itself (ok = true by derivation)
    "dq161_shard_verify_epochs" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, text, len(text)::BIGINT AS units,
        |    md5(ep.e::VARCHAR || ':' || doc_id::VARCHAR) AS skey,
        |    substr(md5(ep.e::VARCHAR || ':' || doc_id::VARCHAR), 1, 1)
        |      AS stream
        |  FROM documents
        |  CROSS JOIN (SELECT 1 AS e UNION ALL SELECT 2) ep
        |  WHERE doc_id % 5 = 2),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY stream ORDER BY skey) rn
        |  FROM d),
        |packed AS (
        |  SELECT stream, skey, doc_id, text, units, rn,
        |    CAST(0 AS BIGINT) AS bin, units AS fill
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.stream, r.skey, r.doc_id, r.text, r.units, r.rn,
        |    CASE WHEN p.fill + r.units > 6000 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + r.units > 6000 THEN r.units
        |         ELSE p.fill + r.units END
        |  FROM r JOIN packed p ON r.stream = p.stream AND r.rn = p.rn + 1)
        |SELECT CAST(1 AS BIGINT) AS round, stream, bin, TRUE AS ok,
        |  count(*) AS n_docs, CAST(sum(units) AS BIGINT) AS units,
        |  md5(string_agg(md5(doc_id::VARCHAR || ':' || text), ''
        |    ORDER BY skey)) AS manifest_md5,
        |  md5(string_agg(md5(doc_id::VARCHAR || ':' || text), ''
        |    ORDER BY skey)) AS disk_md5
        |FROM packed GROUP BY stream, bin
        |ORDER BY stream, bin""".stripMargin,
    // the terminal shard materialization: re-derive the epoch-shuffle
    // key, the hex-prefix stream, the per-stream greedy capacity
    // recurrence (dq66's machinery), and the key-ordered content md5 of
    // every shard — then compare against the report the engine computed
    // from the parquet it actually wrote
    "dq158_shard_write" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, text, len(text)::BIGINT AS units,
        |    md5('1:' || doc_id::VARCHAR) AS skey,
        |    substr(md5('1:' || doc_id::VARCHAR), 1, 1) AS stream
        |  FROM documents WHERE doc_id % 3 = 1),
        |r AS (SELECT *, row_number() OVER (PARTITION BY stream ORDER BY skey) rn
        |  FROM d),
        |packed AS (
        |  SELECT stream, skey, doc_id, text, units, rn,
        |    CAST(0 AS BIGINT) AS bin, units AS fill
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.stream, r.skey, r.doc_id, r.text, r.units, r.rn,
        |    CASE WHEN p.fill + r.units > 4000 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + r.units > 4000 THEN r.units
        |         ELSE p.fill + r.units END
        |  FROM r JOIN packed p ON r.stream = p.stream AND r.rn = p.rn + 1)
        |SELECT stream, bin, count(*) AS n_docs,
        |  CAST(sum(units) AS BIGINT) AS units,
        |  md5(string_agg(md5(doc_id::VARCHAR || ':' || text), ''
        |    ORDER BY skey)) AS content_md5
        |FROM packed GROUP BY 1, 2 ORDER BY stream, bin""".stripMargin,
    // the FULL declared curation loop: dedup + three persisted gates
    // chained in one config, two ingest rounds, every stage replayed
    "dq135_config_curation_loop" -> Dq135Sql,
    "dq115_quality_probe_gate" -> Dq115Sql,
    "dq116_curation_config" -> Dq116Sql,
    // batch-1's windows vs the DISTINCT history window digests: matched
    // window count per batch doc (wh is distinct, so the join multiplies
    // nothing); the Bloom split on the Spark side is a pure pruning
    // optimization invisible to the result
    "dq113_exact_substring_gate" ->
      """WITH b1 AS (
        |  SELECT doc_id + 100000 AS doc_id, text || ' zzztail' AS text
        |  FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id,
        |    array_to_string(list_transform(range(1, len(tk) + 1),
        |      i -> CASE WHEN (i - 1) % 3 = 0 THEN tk[i] || 'x' ELSE tk[i] END),
        |      ' ') AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') tk
        |        FROM documents WHERE doc_id % 13 = 0)),
        |th AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0) toks FROM documents),
        |wh AS (SELECT DISTINCT
        |    md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) dg
        |  FROM th, unnest(range(1, len(toks) - 6)) r(i)),
        |tb AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0) toks FROM b1),
        |wb AS (SELECT doc_id,
        |    md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) dg
        |  FROM tb, unnest(range(1, len(toks) - 6)) r(i)),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_windows
        |  FROM wb GROUP BY 1),
        |dup AS (SELECT wb.doc_id, CAST(count(*) AS BIGINT) n_dup
        |  FROM wb JOIN wh USING (dg) GROUP BY 1)
        |SELECT b1.doc_id, COALESCE(tot.n_windows, 0) AS n_windows,
        |  COALESCE(dup.n_dup, 0) AS n_dup_windows
        |FROM b1 LEFT JOIN tot USING (doc_id) LEFT JOIN dup USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // the stored-index LOOP: dq113's chain extended — batch-1 report vs
    // history digests, fresh survivors' windows appended (wh2 = wh ∪
    // survivor windows; UNION dedups, matching the membership semi-join),
    // batch-2 report vs the grown set
    // the stored IVF index: train-80% / assign-all against frozen
    // centroids / probe — matching the chain IS the frozen-append proof
    "dq118_ivf_store" -> Dq118Sql,
    // PQ/ADC: sixteen subspace Lloyd's chains + unpivoted code/table
    // equi-join scoring (built programmatically — see Dq162Sql)
    "dq162_pq_adc_topk" -> Dq162Sql,
    // OPQ-lite: the permutation CTEs in front of the same chain
    "dq177_pq_permuted" -> Dq177Sql,
    // the PQ-tier semantic gate at a narrow net: ADC top-4 window +
    // exact refine + tau, fully re-derived
    "dq178_pq_gate" -> Dq178Sql,
    // IVF-PQ: the dq51 coarse chain pruning the dq162 ADC scan
    "dq163_ivfpq_topk" -> Dq163Sql,
    // the STORED IVF-PQ tier: both chains trained on the create split,
    // everything encoded against the frozen results (dq118's rule)
    "dq164_ivfpq_store" -> Dq164Sql,
    "dq169_residual_ivfpq" -> Dq169Sql,
    "dq170_residual_pq_store" -> Dq170Sql,
    "dq173_pq_rerank" -> Dq173Sql,
    // exact binary-payload dedup: re-synthesize the group-keyed image
    // bytes (dq167's hex synthesis at g = doc_id % 97), re-derive the
    // hex-domain digest md5(hex(payload)), keep min(doc_id) per digest
    "dq174_media_dedup_exact" ->
      """WITH m AS (SELECT doc_id, doc_id % 97 AS g FROM documents),
        |p AS (SELECT doc_id, g, g % 1897 + 16 AS w0,
        |    (g * 7) % 1061 + 16 AS h0,
        |    g % 8 + 14 AS ap, (g * 3) % 5 + 2 AS cp FROM m),
        |payload AS (SELECT doc_id,
        |    CASE WHEN g % 5 = 0 THEN ('not an image ' || g::VARCHAR)::BLOB
        |    WHEN g % 2 = 0 THEN
        |      unhex('89504E470D0A1A0A' || '0000000D' || '49484452'
        |        || lpad(to_hex(w0), 8, '0') || lpad(to_hex(h0), 8, '0')
        |        || '0806000000')
        |    ELSE
        |      unhex('FFD8' || 'FFE0' || lpad(to_hex(ap + 2), 4, '0')
        |        || repeat('4A', ap)
        |        || 'FFFE' || lpad(to_hex(cp + 2), 4, '0') || repeat('43', cp)
        |        || 'FFC0' || '000B' || '08'
        |        || lpad(to_hex(h0), 4, '0') || lpad(to_hex(w0), 4, '0')
        |        || '012200' || 'FFD9')
        |    END AS payload
        |  FROM p),
        |d AS (SELECT doc_id, md5(upper(hex(payload))) AS payload_md5,
        |    octet_length(payload)::BIGINT AS nb FROM payload),
        |k AS (SELECT doc_id, payload_md5, nb,
        |    min(doc_id) OVER (PARTITION BY payload_md5) AS keep FROM d)
        |SELECT doc_id, payload_md5, nb FROM k WHERE doc_id = keep
        |ORDER BY doc_id""".stripMargin,
    // near-dup binary dedup: eight 32-byte blocks per payload, the
    // hex-slice md5 signature, capped (length, index, hash) buckets,
    // the >= minMatch pair rule, and dq47's recursive-CTE closure
    "dq175_media_dedup_near" ->
      """WITH RECURSIVE docs2 AS (SELECT doc_id, doc_id % 60 AS g,
        |    (doc_id // 60) % 3 AS v, (doc_id % 7 = 0) AS solo
        |  FROM documents),
        |blkj AS (SELECT doc_id, g, v, solo, unnest(range(0, 8)) AS j
        |  FROM docs2),
        |blks AS (SELECT doc_id, j,
        |    CASE WHEN solo THEN md5('solo:' || doc_id::VARCHAR || ':' || j)
        |      WHEN j = 7 THEN md5('mb:' || g::VARCHAR || ':' || j
        |        || ':' || v::VARCHAR)
        |      ELSE md5('mb:' || g::VARCHAR || ':' || j) END AS b
        |  FROM blkj),
        |payload AS (SELECT doc_id, string_agg(b, '' ORDER BY j) AS ps
        |  FROM blks GROUP BY doc_id),
        |hx AS (SELECT doc_id, upper(hex(ps::BLOB)) AS h,
        |    octet_length(ps::BLOB)::BIGINT AS nb FROM payload),
        |sigi AS (SELECT doc_id, nb, h, unnest(range(0, 8)) AS i FROM hx),
        |sig AS (SELECT doc_id, nb, i,
        |    md5(substr(h, (i * 64 + 1)::INT, 64)) AS bh FROM sigi),
        |bucket AS (SELECT nb, i, bh, count(*) AS c FROM sig
        |  GROUP BY 1, 2, 3),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sig a JOIN sig b
        |    ON a.nb = b.nb AND a.i = b.i AND a.bh = b.bh
        |    AND a.doc_id < b.doc_id
        |  JOIN bucket k ON k.nb = a.nb AND k.i = a.i AND k.bh = a.bh
        |  WHERE k.c BETWEEN 2 AND 100
        |  GROUP BY 1, 2 HAVING count(*) >= 6),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pr
        |  UNION SELECT doc_b, doc_a FROM pr),
        |verts AS (SELECT DISTINCT a AS id FROM e),
        |reach AS (
        |  SELECT id, id AS r FROM verts
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b),
        |clusters AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
        |SELECT h2.doc_id, md5(h2.h) AS payload_md5, h2.nb AS nb
        |FROM hx h2 LEFT JOIN clusters c ON h2.doc_id = c.id
        |WHERE c.id IS NULL OR h2.doc_id = c.rep
        |ORDER BY h2.doc_id""".stripMargin,
    // the NEAR-dup payload gate streamed: re-derive every payload's
    // block bytes, the hex-slice signature, the >= minMatch pair rule,
    // and the two-round seen-set recurrence over stored signatures
    "dq180_stream_media_sig" ->
      """WITH roles AS (
        |  SELECT doc_id, source, doc_id AS g, 0 AS v, 'h' AS grp
        |    FROM documents WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000, source, doc_id, 1, 'b1'
        |    FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 1
        |  UNION ALL
        |  SELECT doc_id, source, doc_id, 0, 'b1'
        |    FROM documents WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT doc_id + 30000, source, doc_id, 2, 'b2'
        |    FROM documents WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT doc_id + 40000, source, doc_id, 1, 'b2'
        |    FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 2
        |  UNION ALL
        |  SELECT doc_id, source, doc_id, 0, 'b2'
        |    FROM documents WHERE doc_id % 6 = 3),
        |blk AS (SELECT doc_id, grp, j,
        |    CASE WHEN j = 7 THEN md5('mb:' || g::VARCHAR || ':' || j
        |      || ':' || v::VARCHAR)
        |    ELSE md5('mb:' || g::VARCHAR || ':' || j) END AS b
        |  FROM roles, unnest(range(0, 8)) AS t(j)),
        |pays AS (SELECT doc_id, grp, string_agg(b, '' ORDER BY j) ps
        |  FROM blk GROUP BY 1, 2),
        |hx AS (SELECT doc_id, grp, upper(hex(ps::BLOB)) h,
        |    octet_length(ps::BLOB)::BIGINT nb FROM pays),
        |sigi AS (SELECT doc_id, grp, nb, h, unnest(range(0, 8)) i FROM hx),
        |sig AS (SELECT doc_id, grp, nb, i,
        |    md5(substr(h, (i * 64 + 1)::INT, 64)) bh FROM sigi),
        |h0 AS (SELECT doc_id, nb, i, bh FROM sig WHERE grp = 'h'),
        |d1 AS (SELECT b.doc_id FROM sig b
        |  JOIN h0 ON b.nb = h0.nb AND b.i = h0.i AND b.bh = h0.bh
        |  WHERE b.grp = 'b1'
        |  GROUP BY b.doc_id, h0.doc_id HAVING count(*) >= 6),
        |k1 AS (SELECT doc_id, source FROM roles WHERE grp = 'b1'
        |  AND doc_id NOT IN (SELECT DISTINCT doc_id FROM d1)),
        |h1 AS (SELECT doc_id, nb, i, bh FROM h0
        |  UNION ALL
        |  SELECT s.doc_id, s.nb, s.i, s.bh FROM sig s
        |    JOIN k1 ON s.doc_id = k1.doc_id WHERE s.grp = 'b1'),
        |d2 AS (SELECT b.doc_id FROM sig b
        |  JOIN h1 ON b.nb = h1.nb AND b.i = h1.i AND b.bh = h1.bh
        |  WHERE b.grp = 'b2'
        |  GROUP BY b.doc_id, h1.doc_id HAVING count(*) >= 6),
        |k2 AS (SELECT doc_id, source FROM roles WHERE grp = 'b2'
        |  AND doc_id NOT IN (SELECT DISTINCT doc_id FROM d2))
        |SELECT CAST(1 AS BIGINT) AS batch, doc_id, source FROM k1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, source FROM k2
        |ORDER BY batch, doc_id""".stripMargin,
    // the payload-digest history gate streamed: re-derive every
    // synthesized payload's hex-domain digest and replay the two-round
    // seen-set recurrence (history ∪ batch-1 survivors gates batch 2)
    "dq176_stream_media_digest" ->
      """WITH p AS (SELECT doc_id, source,
        |    md5('pay:' || doc_id::VARCHAR)
        |      || md5('pay2:' || doc_id::VARCHAR) AS ps
        |  FROM documents),
        |d AS (SELECT doc_id, source, md5(upper(hex(ps::BLOB))) AS dg
        |  FROM p),
        |hist AS (SELECT DISTINCT dg FROM d WHERE doc_id % 3 <> 0),
        |b1 AS (
        |  SELECT doc_id + 10000 AS doc_id, source, dg FROM d
        |    WHERE doc_id % 3 <> 0 AND doc_id % 7 = 1
        |  UNION ALL
        |  SELECT doc_id, source, dg FROM d WHERE doc_id % 6 = 0),
        |k1 AS (SELECT doc_id, source, dg FROM b1
        |  WHERE dg NOT IN (SELECT dg FROM hist)),
        |seen2 AS (SELECT dg FROM hist UNION SELECT dg FROM k1),
        |b2 AS (
        |  SELECT doc_id + 30000 AS doc_id, source, dg FROM d
        |    WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT doc_id + 40000, source, dg FROM d
        |    WHERE doc_id % 3 <> 0 AND doc_id % 7 = 2
        |  UNION ALL
        |  SELECT doc_id, source, dg FROM d WHERE doc_id % 6 = 3),
        |k2 AS (SELECT doc_id, source FROM b2
        |  WHERE dg NOT IN (SELECT dg FROM seen2))
        |SELECT CAST(1 AS BIGINT) AS batch, doc_id, source FROM k1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, source FROM k2
        |ORDER BY batch, doc_id""".stripMargin,
    // benchmark media decontamination DECLARED: digests gate first
    // (byte-exact copies), then blocked signatures vs the benchmark
    // (>= 6 same-offset block matches) — both frozen, gate-only
    "dq181_media_decontam_gate" ->
      """WITH allp AS (
        |  SELECT doc_id + 100000 AS doc_id, doc_id AS g, 'exact' AS role
        |    FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, doc_id, 'near1'
        |    FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, doc_id, 'far'
        |    FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, doc_id, 'fresh'
        |    FROM documents WHERE doc_id % 10 = 7
        |  UNION ALL
        |  SELECT doc_id, doc_id, 'bench'
        |    FROM documents WHERE doc_id % 10 = 0),
        |blk AS (SELECT doc_id, role, j,
        |    CASE WHEN role = 'fresh'
        |      THEN md5('fr:' || doc_id::VARCHAR || ':' || j)
        |    WHEN role = 'far' AND j >= 5
        |      THEN md5('far:' || g::VARCHAR || ':' || j)
        |    WHEN role = 'near1' AND j = 7
        |      THEN md5('mb:' || g::VARCHAR || ':7:1')
        |    WHEN j = 7 THEN md5('mb:' || g::VARCHAR || ':7:0')
        |    ELSE md5('mb:' || g::VARCHAR || ':' || j) END AS b
        |  FROM allp, unnest(range(0, 8)) t(j)),
        |pays AS (SELECT doc_id, role, string_agg(b, '' ORDER BY j) ps
        |  FROM blk GROUP BY 1, 2),
        |hx AS (SELECT doc_id, role, upper(hex(ps::BLOB)) h,
        |    octet_length(ps::BLOB)::BIGINT nb FROM pays),
        |dgs AS (SELECT doc_id, role, md5(h) dg, h, nb FROM hx),
        |ex AS (SELECT doc_id, role, h, nb, dg FROM dgs
        |  WHERE role <> 'bench'
        |    AND dg NOT IN (SELECT dg FROM dgs WHERE role = 'bench')),
        |sigi AS (SELECT doc_id, role, nb, h, unnest(range(0, 8)) i
        |  FROM hx),
        |sig AS (SELECT doc_id, role, nb, i,
        |    md5(substr(h, (i * 64 + 1)::INT, 64)) bh FROM sigi),
        |d2 AS (SELECT b.doc_id FROM sig b
        |  JOIN (SELECT doc_id hd, nb, i, bh FROM sig WHERE role = 'bench')
        |    h0 ON b.nb = h0.nb AND b.i = h0.i AND b.bh = h0.bh
        |  JOIN ex ON ex.doc_id = b.doc_id
        |  WHERE b.role <> 'bench'
        |  GROUP BY b.doc_id, h0.hd HAVING count(*) >= 6)
        |SELECT doc_id, dg AS payload_md5, nb FROM ex
        |WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM d2)
        |ORDER BY doc_id""".stripMargin,
    // the streamed frozen payload gate: both micro-batches gate against
    // the unchanged benchmark signatures -> identical survivor sets
    "dq182_stream_media_decontam" ->
      """WITH allp AS (
        |  SELECT doc_id + 100000 AS doc_id, doc_id AS g, 'exact' AS role
        |    FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, doc_id, 'near1'
        |    FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, doc_id, 'far'
        |    FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, doc_id, 'fresh'
        |    FROM documents WHERE doc_id % 10 = 7
        |  UNION ALL
        |  SELECT doc_id, doc_id, 'bench'
        |    FROM documents WHERE doc_id % 10 = 0),
        |blk AS (SELECT doc_id, role, j,
        |    CASE WHEN role = 'fresh'
        |      THEN md5('fr:' || doc_id::VARCHAR || ':' || j)
        |    WHEN role = 'far' AND j >= 5
        |      THEN md5('far:' || g::VARCHAR || ':' || j)
        |    WHEN role = 'near1' AND j = 7
        |      THEN md5('mb:' || g::VARCHAR || ':7:1')
        |    WHEN j = 7 THEN md5('mb:' || g::VARCHAR || ':7:0')
        |    ELSE md5('mb:' || g::VARCHAR || ':' || j) END AS b
        |  FROM allp, unnest(range(0, 8)) t(j)),
        |pays AS (SELECT doc_id, role, string_agg(b, '' ORDER BY j) ps
        |  FROM blk GROUP BY 1, 2),
        |hx AS (SELECT doc_id, role, upper(hex(ps::BLOB)) h,
        |    octet_length(ps::BLOB)::BIGINT nb FROM pays),
        |sigi AS (SELECT doc_id, role, nb, h, unnest(range(0, 8)) i
        |  FROM hx),
        |sig AS (SELECT doc_id, role, nb, i,
        |    md5(substr(h, (i * 64 + 1)::INT, 64)) bh FROM sigi),
        |d AS (SELECT b.doc_id FROM sig b
        |  JOIN (SELECT doc_id hd, nb, i, bh FROM sig WHERE role = 'bench')
        |    h0 ON b.nb = h0.nb AND b.i = h0.i AND b.bh = h0.bh
        |  WHERE b.role <> 'bench'
        |  GROUP BY b.doc_id, h0.hd HAVING count(*) >= 6),
        |k AS (SELECT doc_id, md5(h) payload_md5 FROM hx
        |  WHERE role <> 'bench'
        |    AND doc_id NOT IN (SELECT DISTINCT doc_id FROM d))
        |SELECT CAST(1 AS BIGINT) AS batch, doc_id, payload_md5 FROM k
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, payload_md5 FROM k
        |ORDER BY batch, doc_id""".stripMargin,
    // the multimodal capstone: dedup -> image gate -> stored signature
    // gate (round 1 seeds, round 2 drops replays and near variants) ->
    // byte-unit shards, verify's payload-covering hashes re-derived
    "dq183_media_capstone" -> (MediaCapstoneSqlBody +
      """SELECT round, stream, bin, TRUE AS ok, count(*) AS n_docs,
        |  CAST(sum(units) AS BIGINT) AS units,
        |  md5(string_agg(
        |    md5(id::VARCHAR || ':cap:' || id::VARCHAR || ':' || h),
        |    '' ORDER BY skey)) AS manifest_md5,
        |  md5(string_agg(
        |    md5(id::VARCHAR || ':cap:' || id::VARCHAR || ':' || h),
        |    '' ORDER BY skey)) AS disk_md5
        |FROM packed GROUP BY round, stream, bin
        |ORDER BY round, stream, bin""".stripMargin),
    // the streamed capstone: identical chain per micro-batch (batch 1
    // seeds the signature store, batch 2 drops through its appends)
    "dq184_stream_media_capstone" -> (MediaCapstoneSqlBody +
      """SELECT round, stream, bin, count(*) AS n_docs,
        |  CAST(sum(units) AS BIGINT) AS units,
        |  md5(string_agg(
        |    md5(id::VARCHAR || ':cap:' || id::VARCHAR || ':' || h),
        |    '' ORDER BY skey)) AS content_md5
        |FROM packed GROUP BY round, stream, bin
        |ORDER BY round, stream, bin""".stripMargin),
    // the digest gate's declared rounds: round 2 gates against exactly
    // round 1's distinct digests (dq176's recurrence, no stream)
    "dq185_config_media_digest" ->
      """WITH d AS (SELECT doc_id, source,
        |    md5(upper(hex((md5('pay:' || doc_id::VARCHAR)
        |      || md5('pay2:' || doc_id::VARCHAR))::BLOB))) AS dg
        |  FROM documents),
        |r1 AS (SELECT doc_id, source, dg FROM d WHERE doc_id % 5 = 1),
        |b2 AS (
        |  SELECT doc_id + 30000 AS doc_id, source, dg FROM d
        |    WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id, source, dg FROM d WHERE doc_id % 5 = 2),
        |k2 AS (SELECT doc_id, source FROM b2
        |  WHERE dg NOT IN (SELECT dg FROM r1))
        |SELECT CAST(1 AS BIGINT) AS round, doc_id, source FROM r1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, source FROM k2
        |ORDER BY round, doc_id""".stripMargin,
    // the signature gate's declared rounds: dq180's blocked-signature
    // chain, round 2 vs round 1's stored signature rows (no stream)
    "dq186_config_media_sig" ->
      """WITH roles AS (
        |  SELECT doc_id, source, doc_id AS g, 0 AS v, 'p' AS kind,
        |      1 AS round
        |    FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id + 30000, source, doc_id, 0, 'p', 2
        |    FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id + 40000, source, doc_id, 1, 'p', 2
        |    FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id + 50000, source, doc_id, 0, 'f', 2
        |    FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id, source, doc_id, 0, 'p', 2
        |    FROM documents WHERE doc_id % 5 = 2),
        |blk AS (SELECT doc_id, source, round, j,
        |    CASE WHEN kind = 'f' AND j >= 5
        |      THEN md5('fv:' || g::VARCHAR || ':' || j)
        |    WHEN j = 7 THEN md5('mb:' || g::VARCHAR || ':' || j
        |      || ':' || v::VARCHAR)
        |    ELSE md5('mb:' || g::VARCHAR || ':' || j) END AS b
        |  FROM roles, unnest(range(0, 8)) t(j)),
        |pays AS (SELECT doc_id, source, round,
        |    string_agg(b, '' ORDER BY j) ps
        |  FROM blk GROUP BY 1, 2, 3),
        |hx AS (SELECT doc_id, source, round, upper(hex(ps::BLOB)) h,
        |    octet_length(ps::BLOB)::BIGINT nb FROM pays),
        |sigi AS (SELECT doc_id, round, nb, h, unnest(range(0, 8)) i
        |  FROM hx),
        |sig AS (SELECT doc_id, round, nb, i,
        |    md5(substr(h, (i * 64 + 1)::INT, 64)) bh FROM sigi),
        |d2 AS (SELECT b.doc_id FROM sig b
        |  JOIN (SELECT doc_id hd, nb, i, bh FROM sig WHERE round = 1) h0
        |    ON b.nb = h0.nb AND b.i = h0.i AND b.bh = h0.bh
        |  WHERE b.round = 2
        |  GROUP BY b.doc_id, h0.hd HAVING count(*) >= 6)
        |SELECT CAST(1 AS BIGINT) AS round, doc_id, source FROM hx
        |  WHERE round = 1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, source FROM hx
        |  WHERE round = 2
        |    AND doc_id NOT IN (SELECT DISTINCT doc_id FROM d2)
        |ORDER BY round, doc_id""".stripMargin,
    // the CDC store streamed: chunk derivation + the two-round
    // seen-set recurrence (insertion variants of history drop in
    // batch 1; variants of batch-1 survivors drop in batch 2 only
    // through the appended chunks)
    "dq188_stream_media_cdc" ->
      ("""WITH roles AS (
        |  SELECT doc_id AS id, source, doc_id AS g, 'cd' AS tag,
        |      '' AS pre, 'h' AS grp
        |    FROM documents WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000, source, doc_id, 'cd', 'X', 'b1'
        |    FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 1
        |  UNION ALL
        |  SELECT doc_id, source, doc_id, 'n1', '', 'b1'
        |    FROM documents WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT doc_id + 30000, source, doc_id, 'n1', 'XY', 'b2'
        |    FROM documents WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT doc_id + 40000, source, doc_id, 'cd', 'X', 'b2'
        |    FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 2
        |  UNION ALL
        |  SELECT doc_id, source, doc_id, 'n2', '', 'b2'
        |    FROM documents WHERE doc_id % 6 = 3),
        |""".stripMargin + cdcChainSql() +
      """h0 AS (SELECT id AS hid, ch FROM dch WHERE grp = 'h'),
        |d1 AS (SELECT b.id FROM dch b
        |  JOIN h0 ON b.ch = h0.ch WHERE b.grp = 'b1'
        |  GROUP BY b.id, h0.hid HAVING count(DISTINCT b.ch) >= 3),
        |k1 AS (SELECT id, source FROM hx WHERE grp = 'b1'
        |  AND id NOT IN (SELECT DISTINCT id FROM d1)),
        |h1 AS (SELECT hid, ch FROM h0
        |  UNION ALL
        |  SELECT d.id, d.ch FROM dch d JOIN k1 ON d.id = k1.id
        |    WHERE d.grp = 'b1'),
        |d2 AS (SELECT b.id FROM dch b
        |  JOIN h1 ON b.ch = h1.ch WHERE b.grp = 'b2'
        |  GROUP BY b.id, h1.hid HAVING count(DISTINCT b.ch) >= 3),
        |k2 AS (SELECT id, source FROM hx WHERE grp = 'b2'
        |  AND id NOT IN (SELECT DISTINCT id FROM d2))
        |SELECT CAST(1 AS BIGINT) AS batch, id AS doc_id, source FROM k1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), id, source FROM k2
        |ORDER BY batch, doc_id""".stripMargin),
    // the CDC gate's declared rounds: replays share every chunk,
    // insertion variants share all but the edited one (both drop);
    // fresh content folds in
    "dq189_config_media_cdc" ->
      ("""WITH roles AS (
        |  SELECT doc_id AS id, source, doc_id AS g, 'cd' AS tag,
        |      '' AS pre, 'r1' AS grp
        |    FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id + 30000, source, doc_id, 'cd', '', 'r2'
        |    FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id + 40000, source, doc_id, 'cd', 'X', 'r2'
        |    FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id + 50000, source, doc_id, 'fv', '', 'r2'
        |    FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id, source, doc_id, 'cd2', '', 'r2'
        |    FROM documents WHERE doc_id % 5 = 2),
        |""".stripMargin + cdcChainSql() +
      """h0 AS (SELECT id AS hid, ch FROM dch WHERE grp = 'r1'),
        |d2 AS (SELECT b.id FROM dch b
        |  JOIN h0 ON b.ch = h0.ch WHERE b.grp = 'r2'
        |  GROUP BY b.id, h0.hid HAVING count(DISTINCT b.ch) >= 3)
        |SELECT CAST(1 AS BIGINT) AS round, id AS doc_id, source FROM hx
        |  WHERE grp = 'r1'
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), id, source FROM hx
        |  WHERE grp = 'r2'
        |    AND id NOT IN (SELECT DISTINCT id FROM d2)
        |ORDER BY round, doc_id""".stripMargin),
    // the storage dial: the same declared arc at zeros=2 over 2 KB
    // payloads — the oracle's boundary rule is the COARSE one
    // (substr(md5(window),1,2) = '00'), insertion variants still drop
    "dq190_config_media_cdc_coarse" ->
      ("""WITH roles AS (
        |  SELECT doc_id AS id, source, doc_id AS g, 'cz' AS tag,
        |      '' AS pre, 'r1' AS grp
        |    FROM documents WHERE doc_id % 11 = 3
        |  UNION ALL
        |  SELECT doc_id + 60000, source, doc_id, 'cz', '', 'r2'
        |    FROM documents WHERE doc_id % 11 = 3
        |  UNION ALL
        |  SELECT doc_id + 70000, source, doc_id, 'cz', 'X', 'r2'
        |    FROM documents WHERE doc_id % 11 = 3
        |  UNION ALL
        |  SELECT doc_id + 80000, source, doc_id, 'fz', '', 'r2'
        |    FROM documents WHERE doc_id % 11 = 3),
        |""".stripMargin + cdcChainSql(blocks = 64, zeros = 2) +
      """h0 AS (SELECT id AS hid, ch FROM dch WHERE grp = 'r1'),
        |d2 AS (SELECT b.id FROM dch b
        |  JOIN h0 ON b.ch = h0.ch WHERE b.grp = 'r2'
        |  GROUP BY b.id, h0.hid HAVING count(DISTINCT b.ch) >= 3)
        |SELECT CAST(1 AS BIGINT) AS round, id AS doc_id, source FROM hx
        |  WHERE grp = 'r1'
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), id, source FROM hx
        |  WHERE grp = 'r2'
        |    AND id NOT IN (SELECT DISTINCT id FROM d2)
        |ORDER BY round, doc_id""".stripMargin),
    // the composed frozen gates: a row drops on EITHER modality —
    // verbatim text windows vs the benchmark slice OR >= 3 shared
    // content-defined chunks vs a benchmark payload
    "dq191_decontam_capstone" -> composedDecontamSql(
      """SELECT id AS doc_id, text_md5, payload_md5 FROM keep
        |ORDER BY doc_id""".stripMargin),
    // streamed: both micro-batches gate against the same frozen
    // stores (seeded from the benchmark tables, never appended) ->
    // identical survivor sets
    "dq192_stream_decontam_capstone" -> composedDecontamSql(
      """SELECT CAST(1 AS BIGINT) AS batch, id AS doc_id, text_md5,
        |    payload_md5 FROM keep
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), id, text_md5, payload_md5 FROM keep
        |ORDER BY batch, doc_id""".stripMargin),
    // content-defined chunking: every boundary position (window-md5
    // opens with '0'), the chunk slices, capped buckets, the >= 3
    // shared-chunk rule, and the closure — insertion variants pair
    "dq187_media_dedup_cdc" ->
      """WITH RECURSIVE roles AS (
        |  SELECT doc_id AS id, doc_id AS g, FALSE AS ins, 'cd' AS tag
        |    FROM documents WHERE doc_id % 6 = 1
        |  UNION ALL
        |  SELECT doc_id + 70000, doc_id, TRUE, 'cd'
        |    FROM documents WHERE doc_id % 6 = 1
        |  UNION ALL
        |  SELECT doc_id, doc_id, FALSE, 'sl'
        |    FROM documents WHERE doc_id % 6 = 4),
        |blk AS (SELECT id, ins, j,
        |    md5(tag || ':' || g::VARCHAR || ':' || j) AS b
        |  FROM roles, unnest(range(0, 8)) t(j)),
        |pays AS (SELECT id,
        |    (CASE WHEN ins THEN 'X' ELSE '' END)
        |      || string_agg(b, '' ORDER BY j) AS ps
        |  FROM blk GROUP BY id, ins),
        |hx AS (SELECT id, upper(hex(ps::BLOB)) h,
        |    octet_length(ps::BLOB)::INT nb FROM pays),
        |pos AS (SELECT id, p + 4 AS cut
        |  FROM hx, unnest(range(0, nb - 3)) t(p)
        |  WHERE substr(md5(substr(h, (p * 2 + 1)::INT, 8)), 1, 1) = '0'),
        |starts AS (
        |  SELECT id, CAST(0 AS BIGINT) AS s FROM hx
        |  UNION
        |  SELECT pos.id, pos.cut FROM pos JOIN hx USING (id)
        |    WHERE pos.cut < hx.nb),
        |w AS (SELECT id, s,
        |    lead(s) OVER (PARTITION BY id ORDER BY s) nxt FROM starts),
        |chunks AS (SELECT w.id,
        |    md5(substr(hx.h, (w.s * 2 + 1)::INT,
        |      ((COALESCE(w.nxt, hx.nb) - w.s) * 2)::INT)) ch
        |  FROM w JOIN hx USING (id)),
        |dch AS (SELECT DISTINCT id, ch FROM chunks),
        |bucket AS (SELECT ch, count(*) c FROM dch GROUP BY 1),
        |pr AS (SELECT a.id AS doc_a, b.id AS doc_b FROM dch a
        |  JOIN dch b ON a.ch = b.ch AND a.id < b.id
        |  JOIN bucket k ON k.ch = a.ch
        |  WHERE k.c BETWEEN 2 AND 100
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pr
        |  UNION SELECT doc_b, doc_a FROM pr),
        |verts AS (SELECT DISTINCT a AS id FROM e),
        |reach AS (
        |  SELECT id, id AS r FROM verts
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b),
        |clusters AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
        |SELECT hx.id AS doc_id, md5(hx.h) AS payload_md5,
        |  hx.nb::BIGINT AS nb
        |FROM hx LEFT JOIN clusters c ON hx.id = c.id
        |WHERE c.id IS NULL OR hx.id = c.rep
        |ORDER BY doc_id""".stripMargin,
    // refit generation: retrain-on-the-stored-relation must equal the
    // from-scratch chain over the union corpus (full-table training)
    "dq142_ivf_refit" -> Dq142Sql,
    "dq143_curation_drop_audit" -> Dq143Sql,
    "dq144_decontam_gate_stage" -> Dq144Sql,
    // the streamed frozen gate: identical survivors in both micro-batches
    "dq145_stream_decontam" -> Dq145Sql,
    // per-source epoch factors: floor full epochs + round(frac*1e6) gate
    // (factors 2.5/0.25 have exact binary fractions -> identical integers)
    "dq148_epochs_by_source" ->
      """WITH f AS (SELECT doc_id, source,
        |    CASE WHEN CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 2 = 0
        |      THEN 2.5 ELSE 0.25 END fac,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
        |      % 1000000 g
        |  FROM documents),
        |e AS (SELECT doc_id, source, g,
        |    CAST(floor(fac) AS BIGINT) fl,
        |    CAST(round((fac - floor(fac)) * 1000000) AS BIGINT) fr
        |  FROM f)
        |SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch
        |FROM e, unnest(range(1, fl + 2)) r(epoch)
        |WHERE epoch <= fl OR g < fr
        |ORDER BY doc_id, epoch""".stripMargin,
    // the composed chain: dq16's language argmax filters, dq116's dedup,
    // then dq146's rate chain over the SURVIVOR counts
    // the streamed capstone: dq159's per-round rate chains (seed, then
    // cumulative raw counts) decide each round's members; dq160's
    // per-round packing recurrence materializes exactly those members
    "dq166_stream_mix_materialize" ->
      """WITH RECURSIVE b1 AS (SELECT doc_id, source, text FROM documents
        |  WHERE doc_id % 4 = 1),
        |b2 AS (SELECT doc_id, source, text FROM documents
        |  WHERE doc_id % 4 IN (2, 3)),
        |c1 AS (SELECT source, count(*)::BIGINT AS n FROM b1 GROUP BY source),
        |w1 AS (SELECT source, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w
        |  FROM c1),
        |t1 AS (SELECT CAST(sum(w) AS HUGEINT) AS sw FROM w1),
        |r1 AS (SELECT source,
        |    CAST(LEAST(CAST(1000000 AS HUGEINT),
        |      (CAST(150 AS HUGEINT) * w * 1000000) // (sw * n)) AS BIGINT)
        |      AS micro
        |  FROM w1, t1),
        |c2 AS (SELECT source, count(*)::BIGINT AS n FROM
        |  (SELECT * FROM b1 UNION ALL SELECT * FROM b2) GROUP BY source),
        |w2 AS (SELECT source, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w
        |  FROM c2),
        |t2 AS (SELECT CAST(sum(w) AS HUGEINT) AS sw FROM w2),
        |r2 AS (SELECT source,
        |    CAST(LEAST(CAST(1000000 AS HUGEINT),
        |      (CAST(150 AS HUGEINT) * w * 1000000) // (sw * n)) AS BIGINT)
        |      AS micro
        |  FROM w2, t2),
        |m1 AS (SELECT d.doc_id, d.text FROM b1 d JOIN r1 USING (source)
        |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
        |    % 1000000 < r1.micro),
        |m2 AS (SELECT d.doc_id, d.text FROM b2 d JOIN r2 USING (source)
        |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
        |    % 1000000 < r2.micro),
        |ex AS (
        |  SELECT 1::BIGINT AS round, doc_id, text,
        |    len(text)::BIGINT AS units,
        |    md5('1:' || doc_id::VARCHAR) AS skey,
        |    substr(md5('1:' || doc_id::VARCHAR), 1, 1) AS stream
        |  FROM m1
        |  UNION ALL
        |  SELECT 2::BIGINT, doc_id, text, len(text)::BIGINT,
        |    md5('1:' || doc_id::VARCHAR),
        |    substr(md5('1:' || doc_id::VARCHAR), 1, 1)
        |  FROM m2),
        |rr AS (SELECT *,
        |    row_number() OVER (PARTITION BY round, stream ORDER BY skey) rn
        |  FROM ex),
        |packed AS (
        |  SELECT round, stream, skey, doc_id, text, units, rn,
        |    CAST(0 AS BIGINT) AS bin, units AS fill
        |  FROM rr WHERE rn = 1
        |  UNION ALL
        |  SELECT rr.round, rr.stream, rr.skey, rr.doc_id, rr.text,
        |    rr.units, rr.rn,
        |    CASE WHEN p.fill + rr.units > 4000 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + rr.units > 4000 THEN rr.units
        |         ELSE p.fill + rr.units END
        |  FROM rr JOIN packed p
        |    ON rr.round = p.round AND rr.stream = p.stream
        |    AND rr.rn = p.rn + 1)
        |SELECT round, stream, bin, count(*) AS n_docs,
        |  CAST(sum(units) AS BIGINT) AS units,
        |  md5(string_agg(md5(doc_id::VARCHAR || ':' || text), ''
        |    ORDER BY skey)) AS content_md5
        |FROM packed GROUP BY 1, 2, 3
        |ORDER BY round, stream, bin""".stripMargin,
    // multimodal into the declared pipeline: dq73's byte-identical blob
    // synthesis + marker walk decides the media_gate survivors, then
    // octet_length feeds the dq66 packing recurrence at 512 BYTES
    "dq167_media_gate_shards" ->
      """WITH RECURSIVE m AS (
        |  SELECT doc_id, doc_id % 1897 + 16 AS w0, (doc_id * 7) % 1061 + 16 AS h0,
        |    doc_id % 8 + 14 AS ap, (doc_id * 3) % 5 + 2 AS cp
        |  FROM documents),
        |payload AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN ('not an image ' || doc_id::VARCHAR)::BLOB
        |    WHEN doc_id % 2 = 0 THEN
        |      unhex('89504E470D0A1A0A' || '0000000D' || '49484452'
        |        || lpad(to_hex(w0), 8, '0') || lpad(to_hex(h0), 8, '0') || '0806000000')
        |    ELSE
        |      unhex('FFD8' || 'FFE0' || lpad(to_hex(ap + 2), 4, '0') || repeat('4A', ap)
        |        || 'FFFE' || lpad(to_hex(cp + 2), 4, '0') || repeat('43', cp)
        |        || 'FFC0' || '000B' || '08'
        |        || lpad(to_hex(h0), 4, '0') || lpad(to_hex(w0), 4, '0')
        |        || '012200' || 'FFD9')
        |    END AS payload
        |  FROM m),
        |hx AS (SELECT doc_id, upper(hex(payload)) AS h,
        |    octet_length(payload)::BIGINT AS nb
        |  FROM payload),
        |j1 AS (SELECT doc_id, h, nb,
        |    CASE WHEN substr(h, 1, 4) = 'FFD8'
        |      THEN 5 + 4 + TRY_CAST(('0x' || substr(h, 9, 4)) AS BIGINT) * 2 END AS p2
        |  FROM hx),
        |j2 AS (SELECT doc_id, h, nb, p2,
        |    CASE WHEN p2 IS NOT NULL
        |      THEN p2 + 4 + TRY_CAST(('0x' || substr(h, p2::INT + 4, 4)) AS BIGINT) * 2
        |    END AS p3
        |  FROM j1),
        |parsed AS (
        |  SELECT doc_id, nb,
        |    CASE
        |      WHEN substr(h, 1, 16) = '89504E470D0A1A0A' AND substr(h, 17, 8) = '0000000D'
        |           AND substr(h, 25, 8) = '49484452' THEN 'png'
        |      WHEN p3 IS NOT NULL AND substr(h, p3::INT, 4) = 'FFC0' THEN 'jpeg'
        |    END AS format,
        |    CASE
        |      WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
        |        THEN TRY_CAST(('0x' || substr(h, 33, 8)) AS BIGINT)
        |      WHEN p3 IS NOT NULL AND substr(h, p3::INT, 4) = 'FFC0'
        |        THEN TRY_CAST(('0x' || substr(h, p3::INT + 14, 4)) AS BIGINT)
        |    END AS width,
        |    CASE
        |      WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
        |        THEN TRY_CAST(('0x' || substr(h, 41, 8)) AS BIGINT)
        |      WHEN p3 IS NOT NULL AND substr(h, p3::INT, 4) = 'FFC0'
        |        THEN TRY_CAST(('0x' || substr(h, p3::INT + 10, 4)) AS BIGINT)
        |    END AS height
        |  FROM j2),
        |kept AS (
        |  SELECT doc_id, format, width, height, nb AS units,
        |    md5('1:' || doc_id::VARCHAR) AS skey,
        |    substr(md5('1:' || doc_id::VARCHAR), 1, 1) AS stream
        |  FROM parsed
        |  WHERE format IS NOT NULL AND width BETWEEN 64 AND 1600
        |    AND height BETWEEN 64 AND 1000),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY stream ORDER BY skey) rn
        |  FROM kept),
        |packed AS (
        |  SELECT stream, skey, doc_id, format, width, height, units, rn,
        |    CAST(0 AS BIGINT) AS bin, units AS fill
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.stream, r.skey, r.doc_id, r.format, r.width, r.height,
        |    r.units, r.rn,
        |    CASE WHEN p.fill + r.units > 512 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + r.units > 512 THEN r.units
        |         ELSE p.fill + r.units END
        |  FROM r JOIN packed p ON r.stream = p.stream AND r.rn = p.rn + 1)
        |SELECT doc_id, format AS media_format,
        |  CAST(width AS INTEGER) AS media_w,
        |  CAST(height AS INTEGER) AS media_h,
        |  CAST(units AS BIGINT) AS units, stream, bin
        |FROM packed ORDER BY doc_id""".stripMargin,
    // the multimodal pipeline streamed: the dq167 image chain decides
    // each round's survivors (rounds = the known batch split), the
    // per-round packing recurrence runs at 512 BYTES, and the content
    // hashes cover the payload (md5(id:caption:hex(payload)))
    "dq171_stream_media_shards" ->
      """WITH RECURSIVE m AS (
        |  SELECT doc_id, text AS caption,
        |    doc_id % 1897 + 16 AS w0, (doc_id * 7) % 1061 + 16 AS h0,
        |    doc_id % 8 + 14 AS ap, (doc_id * 3) % 5 + 2 AS cp,
        |    CASE WHEN doc_id % 4 = 1 THEN 1
        |         WHEN doc_id % 4 IN (2, 3) THEN 2 END AS round
        |  FROM documents),
        |payload AS (
        |  SELECT doc_id, caption, round,
        |    CASE WHEN doc_id % 5 = 0 THEN ('not an image ' || doc_id::VARCHAR)::BLOB
        |    WHEN doc_id % 2 = 0 THEN
        |      unhex('89504E470D0A1A0A' || '0000000D' || '49484452'
        |        || lpad(to_hex(w0), 8, '0') || lpad(to_hex(h0), 8, '0') || '0806000000')
        |    ELSE
        |      unhex('FFD8' || 'FFE0' || lpad(to_hex(ap + 2), 4, '0') || repeat('4A', ap)
        |        || 'FFFE' || lpad(to_hex(cp + 2), 4, '0') || repeat('43', cp)
        |        || 'FFC0' || '000B' || '08'
        |        || lpad(to_hex(h0), 4, '0') || lpad(to_hex(w0), 4, '0')
        |        || '012200' || 'FFD9')
        |    END AS payload
        |  FROM m WHERE round IS NOT NULL),
        |hx AS (SELECT doc_id, caption, round, upper(hex(payload)) AS h,
        |    octet_length(payload)::BIGINT AS nb
        |  FROM payload),
        |j1 AS (SELECT doc_id, caption, round, h, nb,
        |    CASE WHEN substr(h, 1, 4) = 'FFD8'
        |      THEN 5 + 4 + TRY_CAST(('0x' || substr(h, 9, 4)) AS BIGINT) * 2 END AS p2
        |  FROM hx),
        |j2 AS (SELECT doc_id, caption, round, h, nb, p2,
        |    CASE WHEN p2 IS NOT NULL
        |      THEN p2 + 4 + TRY_CAST(('0x' || substr(h, p2::INT + 4, 4)) AS BIGINT) * 2
        |    END AS p3
        |  FROM j1),
        |parsed AS (
        |  SELECT doc_id, caption, round, h, nb,
        |    CASE
        |      WHEN substr(h, 1, 16) = '89504E470D0A1A0A' AND substr(h, 17, 8) = '0000000D'
        |           AND substr(h, 25, 8) = '49484452' THEN 'png'
        |      WHEN p3 IS NOT NULL AND substr(h, p3::INT, 4) = 'FFC0' THEN 'jpeg'
        |    END AS format,
        |    CASE
        |      WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
        |        THEN TRY_CAST(('0x' || substr(h, 33, 8)) AS BIGINT)
        |      WHEN p3 IS NOT NULL AND substr(h, p3::INT, 4) = 'FFC0'
        |        THEN TRY_CAST(('0x' || substr(h, p3::INT + 14, 4)) AS BIGINT)
        |    END AS width,
        |    CASE
        |      WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
        |        THEN TRY_CAST(('0x' || substr(h, 41, 8)) AS BIGINT)
        |      WHEN p3 IS NOT NULL AND substr(h, p3::INT, 4) = 'FFC0'
        |        THEN TRY_CAST(('0x' || substr(h, p3::INT + 10, 4)) AS BIGINT)
        |    END AS height
        |  FROM j2),
        |kept AS (
        |  SELECT round, doc_id, caption, h, nb AS units,
        |    md5('1:' || doc_id::VARCHAR) AS skey,
        |    substr(md5('1:' || doc_id::VARCHAR), 1, 1) AS stream
        |  FROM parsed
        |  WHERE format IS NOT NULL AND width BETWEEN 64 AND 1600
        |    AND height BETWEEN 64 AND 1000),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY round, stream ORDER BY skey) rn
        |  FROM kept),
        |packed AS (
        |  SELECT round, stream, skey, doc_id, caption, h, units, rn,
        |    CAST(0 AS BIGINT) AS bin, units AS fill
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.round, r.stream, r.skey, r.doc_id, r.caption, r.h,
        |    r.units, r.rn,
        |    CASE WHEN p.fill + r.units > 512 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + r.units > 512 THEN r.units
        |         ELSE p.fill + r.units END
        |  FROM r JOIN packed p
        |    ON r.round = p.round AND r.stream = p.stream
        |    AND r.rn = p.rn + 1)
        |SELECT round, stream, bin, count(*) AS n_docs,
        |  CAST(sum(units) AS BIGINT) AS units,
        |  md5(string_agg(md5(doc_id::VARCHAR || ':' || caption || ':' || h),
        |    '' ORDER BY skey)) AS content_md5
        |FROM packed GROUP BY 1, 2, 3
        |ORDER BY round, stream, bin""".stripMargin,
    // the video materialization verified: dq80's box walk + the exact
    // integer duration band decide survivors; the packing recurrence
    // runs at 2048 BYTES and both integrity hashes COVER the payload
    // (md5(id:caption:hex(payload)) per row, concatenated in key order)
    "dq168_media_shard_verify" ->
      """WITH RECURSIVE m AS (
        |  SELECT doc_id, text AS caption,
        |    CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
        |    doc_id % 16 + 8 AS fl,
        |    (doc_id * 5) % 12 + 8 AS ul,
        |    CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |      WHEN 2 THEN 24000 ELSE 90000 END AS ts,
        |    (doc_id % 9000 + 30) * 100 AS dur
        |  FROM documents),
        |payload AS (
        |  SELECT doc_id, caption,
        |    CASE WHEN doc_id % 3 = 0 THEN ('not a video ' || doc_id::VARCHAR)::BLOB
        |    ELSE
        |      unhex('00000010') || 'ftyp'::BLOB || brand::BLOB || unhex('00000000') ||
        |      unhex(lpad(to_hex(fl), 8, '0')) || 'free'::BLOB || repeat('J', fl - 8)::BLOB ||
        |      unhex(lpad(to_hex(8 + ul + 108), 8, '0')) || 'moov'::BLOB ||
        |      unhex(lpad(to_hex(ul), 8, '0')) || 'udta'::BLOB || repeat('C', ul - 8)::BLOB ||
        |      unhex('0000006C') || 'mvhd'::BLOB || unhex('00000000') ||
        |      unhex('00000000') || unhex('00000000') ||
        |      unhex(lpad(to_hex(ts), 8, '0')) || unhex(lpad(to_hex(dur), 8, '0')) ||
        |      unhex(repeat('00', 80))
        |    END AS payload
        |  FROM m),
        |hx AS (SELECT doc_id, caption, upper(hex(payload)) AS h,
        |    octet_length(payload)::BIGINT AS nb
        |  FROM payload),
        |v1 AS (SELECT doc_id, caption, h, nb,
        |    CASE WHEN substr(h, 1, 8) = '00000010' AND substr(h, 9, 8) = '66747970'
        |         AND substr(h, 41, 8) = '66726565'
        |      THEN 33 + TRY_CAST(('0x' || substr(h, 33, 8)) AS BIGINT) * 2 END AS p1
        |  FROM hx),
        |v2 AS (SELECT doc_id, caption, h, nb, p1,
        |    CASE WHEN p1 IS NOT NULL AND substr(h, p1::INT + 8, 8) = '6D6F6F76'
        |         AND substr(h, p1::INT + 24, 8) = '75647461'
        |      THEN p1 + 16 + TRY_CAST(('0x' || substr(h, p1::INT + 16, 8)) AS BIGINT) * 2
        |    END AS q1
        |  FROM v1),
        |parsed AS (
        |  SELECT doc_id, caption, h, nb,
        |    CASE WHEN q1 IS NOT NULL AND substr(h, q1::INT + 8, 8) = '6D766864'
        |         AND substr(h, q1::INT + 16, 2) = '00'
        |      THEN decode(unhex(substr(h, 17, 8))) END AS brand,
        |    TRY_CAST(('0x' || substr(h, q1::INT + 40, 8)) AS BIGINT) AS timescale,
        |    TRY_CAST(('0x' || substr(h, q1::INT + 48, 8)) AS BIGINT) AS duration
        |  FROM v2),
        |kept AS (
        |  SELECT doc_id, caption, h, nb AS units,
        |    md5('1:' || doc_id::VARCHAR) AS skey,
        |    substr(md5('1:' || doc_id::VARCHAR), 1, 1) AS stream
        |  FROM parsed
        |  WHERE brand IS NOT NULL
        |    AND duration * 1000000 >= 5000000 * timescale
        |    AND duration * 1000000 <= 600000000 * timescale),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY stream ORDER BY skey) rn
        |  FROM kept),
        |packed AS (
        |  SELECT stream, skey, doc_id, caption, h, units, rn,
        |    CAST(0 AS BIGINT) AS bin, units AS fill
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.stream, r.skey, r.doc_id, r.caption, r.h, r.units,
        |    r.rn,
        |    CASE WHEN p.fill + r.units > 2048 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + r.units > 2048 THEN r.units
        |         ELSE p.fill + r.units END
        |  FROM r JOIN packed p ON r.stream = p.stream AND r.rn = p.rn + 1)
        |SELECT CAST(1 AS BIGINT) AS round, stream, bin, TRUE AS ok,
        |  count(*) AS n_docs, CAST(sum(units) AS BIGINT) AS units,
        |  md5(string_agg(md5(doc_id::VARCHAR || ':' || caption || ':' || h),
        |    '' ORDER BY skey)) AS manifest_md5,
        |  md5(string_agg(md5(doc_id::VARCHAR || ':' || caption || ':' || h),
        |    '' ORDER BY skey)) AS disk_md5
        |FROM packed GROUP BY stream, bin
        |ORDER BY stream, bin""".stripMargin,
    // the capstone: dq147's lang→dedup→mix chain (text carried through),
    // two epochs expanded, dq158's greedy packing per stream at 5000
    // chars, integrity hashes asserted by derivation (the dq161 form)
    "dq165_capstone_pipeline" ->
      """WITH RECURSIVE t AS (SELECT doc_id, source, text,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'),
        |      x -> len(x) > 0) toks
        |  FROM documents),
        |sc AS (SELECT doc_id, source, text,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','auf','sie'], x)))::DOUBLE / len(toks) END de,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x)))::DOUBLE / len(toks) END en,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','un','es','se','no'], x)))::DOUBLE / len(toks) END es,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','un','une','du','que'], x)))::DOUBLE / len(toks) END fr
        | FROM t),
        |lang AS (SELECT doc_id, source, text FROM sc
        |  WHERE greatest(de,en,es,fr) > 0 AND de <> greatest(de,en,es,fr)
        |    AND en = greatest(de,en,es,fr)),
        |dd AS (SELECT doc_id, source, text FROM (
        |    SELECT doc_id, source, text,
        |      row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) rn
        |    FROM lang) z WHERE rn = 1),
        |c AS (SELECT source, count(*)::BIGINT AS n FROM dd GROUP BY source),
        |w AS (SELECT source, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w
        |  FROM c),
        |tot AS (SELECT CAST(sum(w) AS HUGEINT) AS sw FROM w),
        |rates AS (SELECT source,
        |    CAST(LEAST(CAST(1000000 AS HUGEINT),
        |      (CAST(150 AS HUGEINT) * w * 1000000) // (sw * n)) AS BIGINT)
        |      AS micro
        |  FROM w, tot),
        |mixed AS (SELECT d.doc_id, d.text FROM dd d JOIN rates USING (source)
        |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
        |    % 1000000 < rates.micro),
        |ex AS (SELECT m.doc_id, m.text, len(m.text)::BIGINT AS units,
        |    md5(ep.e::VARCHAR || ':' || m.doc_id::VARCHAR) AS skey,
        |    substr(md5(ep.e::VARCHAR || ':' || m.doc_id::VARCHAR), 1, 1)
        |      AS stream
        |  FROM mixed m
        |  CROSS JOIN (SELECT 1 AS e UNION ALL SELECT 2) ep),
        |rr AS (SELECT *,
        |    row_number() OVER (PARTITION BY stream ORDER BY skey) rn
        |  FROM ex),
        |packed AS (
        |  SELECT stream, skey, doc_id, text, units, rn,
        |    CAST(0 AS BIGINT) AS bin, units AS fill
        |  FROM rr WHERE rn = 1
        |  UNION ALL
        |  SELECT rr.stream, rr.skey, rr.doc_id, rr.text, rr.units, rr.rn,
        |    CASE WHEN p.fill + rr.units > 5000 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + rr.units > 5000 THEN rr.units
        |         ELSE p.fill + rr.units END
        |  FROM rr JOIN packed p ON rr.stream = p.stream AND rr.rn = p.rn + 1)
        |SELECT CAST(1 AS BIGINT) AS round, stream, bin, TRUE AS ok,
        |  count(*) AS n_docs, CAST(sum(units) AS BIGINT) AS units,
        |  md5(string_agg(md5(doc_id::VARCHAR || ':' || text), ''
        |    ORDER BY skey)) AS manifest_md5,
        |  md5(string_agg(md5(doc_id::VARCHAR || ':' || text), ''
        |    ORDER BY skey)) AS disk_md5
        |FROM packed GROUP BY stream, bin
        |ORDER BY stream, bin""".stripMargin,
    "dq147_config_lang_mix" ->
      """WITH t AS (SELECT doc_id, source, text,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'),
        |      x -> len(x) > 0) toks
        |  FROM documents),
        |sc AS (SELECT doc_id, source, text,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','auf','sie'], x)))::DOUBLE / len(toks) END de,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x)))::DOUBLE / len(toks) END en,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','un','es','se','no'], x)))::DOUBLE / len(toks) END es,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','un','une','du','que'], x)))::DOUBLE / len(toks) END fr
        | FROM t),
        |lang AS (SELECT doc_id, source, text FROM sc
        |  WHERE greatest(de,en,es,fr) > 0 AND de <> greatest(de,en,es,fr)
        |    AND en = greatest(de,en,es,fr)),
        |dd AS (SELECT doc_id, source FROM (
        |    SELECT doc_id, source,
        |      row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) rn
        |    FROM lang) z WHERE rn = 1),
        |c AS (SELECT source, count(*)::BIGINT AS n FROM dd GROUP BY source),
        |w AS (SELECT source, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w
        |  FROM c),
        |tot AS (SELECT CAST(sum(w) AS HUGEINT) AS sw FROM w),
        |r AS (SELECT source,
        |    CAST(LEAST(CAST(1000000 AS HUGEINT),
        |      (CAST(150 AS HUGEINT) * w * 1000000) // (sw * n)) AS BIGINT)
        |      AS micro
        |  FROM w, tot)
        |SELECT d.doc_id, d.source FROM dd d JOIN r USING (source)
        |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
        |  % 1000000 < r.micro
        |ORDER BY d.doc_id""".stripMargin,
    // temperature mixture: floor(sqrt(n)*1e6) weights, HUGEINT rate floor
    // division, the shared md5 gate — every member re-derived
    "dq146_temperature_mix" ->
      """WITH c AS (SELECT source, count(*)::BIGINT AS n
        |  FROM documents GROUP BY source),
        |w AS (SELECT source, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w
        |  FROM c),
        |tot AS (SELECT CAST(sum(w) AS HUGEINT) AS sw FROM w),
        |r AS (SELECT source,
        |    CAST(LEAST(CAST(1000000 AS HUGEINT),
        |      (CAST(200 AS HUGEINT) * w * 1000000) // (sw * n)) AS BIGINT)
        |      AS micro
        |  FROM w, tot)
        |SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
        |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
        |  % 1000000 < r.micro
        |ORDER BY d.doc_id""".stripMargin,
    // the config-declared near-dup ingest: dq104's chain over the two
    // where-selected rounds (seed round all kept, round 2 gated)
    "dq141_config_neardup_ingest" -> Dq141Sql,
    // token-budget mixture: the oracle runs the NAIVE per-source running
    // sum over the full portable hash order; the Spark side's bucketed
    // two-phase form must land on the identical prefix
    "dq119_token_budget" ->
      """WITH t AS (SELECT doc_id, source,
        |    md5(doc_id::VARCHAR || ':42') ok,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\W+'),
        |      x -> len(x) > 0)) AS BIGINT) nt
        |  FROM documents),
        |c AS (SELECT *, sum(nt) OVER (PARTITION BY source ORDER BY ok, doc_id
        |    ROWS UNBOUNDED PRECEDING) cum FROM t)
        |SELECT doc_id, source, nt AS n_tokens FROM c
        |WHERE cum <= CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
        |  THEN 900 ELSE 400 END
        |ORDER BY doc_id""".stripMargin,
    // fractional-epoch repetition: 2 full epochs + the md5-gated 30%
    // third epoch, each copy with its per-epoch shuffle key
    "dq120_epoch_repeat" ->
      """SELECT doc_id, CAST(e AS BIGINT) AS epoch,
        |  md5(e::VARCHAR || ':' || doc_id::VARCHAR) AS shuffle_key
        |FROM documents, unnest(range(1, 4)) r(e)
        |WHERE e <= 2 OR
        |  ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
        |    % 1000000 < 300000
        |ORDER BY epoch, doc_id""".stripMargin,
    "dq117_substr_index_loop" -> Dq117Sql,
    // the STREAMED loop over the same stored index makes the same promise
    // over the same batches: kept rows are the chain's zero-overlap docs
    // per batch (stream/batch parity — the dq109/dq104 precedent)
    "dq121_stream_substr_loop" -> Dq121Sql,
    "dq122_sem_index_loop" -> Dq122Sql,
    // the STREAMED semantic loop gates the same batches through the same
    // stored IVF index: identical kept sets (stream/batch parity)
    "dq123_stream_sem_loop" -> Dq122Sql,
    // config-driven ingest: round 1 seeds the store with the % 4 = 1
    // batch (all kept); round 2's wider batch gates against the seeded
    // window digests (k=8, zero-overlap keep) — same window arithmetic
    // as the dq117 chain
    "dq124_config_ingest" ->
      """WITH b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1),
        |t1 AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0) toks FROM b1),
        |w1 AS (SELECT DISTINCT
        |    md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) dg
        |  FROM t1, unnest(range(1, len(toks) - 6)) r(i)),
        |b2 AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 4 = 1 OR doc_id % 4 = 2),
        |t2 AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0) toks FROM b2),
        |wb2 AS (SELECT doc_id,
        |    md5(array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) dg
        |  FROM t2, unnest(range(1, len(toks) - 6)) r(i)),
        |dup2 AS (SELECT DISTINCT wb2.doc_id FROM wb2 JOIN w1 USING (dg)),
        |k2 AS (SELECT doc_id FROM b2
        |  WHERE doc_id NOT IN (SELECT doc_id FROM dup2))
        |SELECT CAST(1 AS BIGINT) AS round, doc_id FROM b1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS round, doc_id FROM k2
        |ORDER BY round, doc_id""".stripMargin,
    // config-driven SEMANTIC ingest: round 1 seeds (trains) the store on
    // the % 3 <> 0 batch; round 2 gates the held-out vectors against it
    "dq125_config_sem_ingest" -> Dq125Sql,
    // the DECLARED pq-tier gate at a full-width shortlist: the parity
    // contract makes the answer dq125's chain exactly (same-oracle
    // precedent: dq84 -> Dq51Sql, dq127 -> Dq86Sql)
    "dq179_config_pq_gate" -> Dq125Sql,
    // the frozen semantic gate: dq125's chain, k1 emitted for both batches
    "dq149_stream_sem_decontam" -> Dq149Sql,
    // the stored SQ8 candidate tier: same trained/appended layout as
    // dq118, integer ByteDot ranking over the packed relation
    "dq126_ivf_store_packed" -> Dq126Sql,
    // ExactSubstr re-derived: k-token window digests → corpus-duplicated
    // digests → gaps-and-islands span merge (windows at p and q merge iff
    // p <= q + k: overlapping-or-touching token ranges) → span content
    // digest from the token-array slice. Window/span digests are md5 of
    // the space-joined tokens on BOTH sides, bit-identical cross-engine.
    "dq106_exact_substring" ->
      s"""WITH $ExactSubstrChainSql
        |SELECT sp.doc_id, sp.span_start,
        |  CAST(sp.span_end - sp.span_start + 1 AS BIGINT) AS n_tokens,
        |  md5(array_to_string(
        |    t.toks[CAST(sp.span_start AS INT):CAST(sp.span_end AS INT)], ' '))
        |    AS span_md5
        |FROM sp JOIN t USING (doc_id)
        |ORDER BY doc_id, span_start""".stripMargin,
    // the cleaned corpus off the same span chain: token positions covered
    // by NO span, re-joined with single spaces; md5 is the byte contract
    "dq110_exact_substring_clean" ->
      s"""WITH $ExactSubstrChainSql,
        |tok AS (SELECT doc_id, i AS pos, toks[CAST(i AS INT)] tok
        |  FROM t, unnest(range(1, len(toks) + 1)) r(i)),
        |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |    WHERE sp.doc_id = k.doc_id
        |      AND k.pos BETWEEN sp.span_start AND sp.span_end)),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) kept_tokens,
        |    string_agg(tok, ' ' ORDER BY pos) s
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, COALESCE(a.kept_tokens, 0) AS kept_tokens,
        |  CAST(len(t.toks) AS BIGINT) - COALESCE(a.kept_tokens, 0)
        |    AS removed_tokens,
        |  md5(COALESCE(a.s, '')) AS clean_md5
        |FROM t LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dq31_stream_dedup" ->
      """SELECT event_type, count(*) AS n_unique_users FROM (
        |  SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // dq94 = dq31's exact-distinct contract under the BOUNDED-state
    // operator (every testdata duplicate falls within the horizon);
    // stream/batch parity is the checked promise, eviction is spec-driven
    "dq94_stream_dedup_ww" ->
      """SELECT event_type, count(*) AS n_unique_users FROM (
        |  SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "dq32_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
        |ORDER BY c_custkey""".stripMargin,
    "dq33_outer_join_agg" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "dq34_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "dq35_pivot" ->
      """SELECT year(o_orderdate) AS yr,
        |  count(*) FILTER (o_orderstatus = 'F') AS "F",
        |  count(*) FILTER (o_orderstatus = 'O') AS "O",
        |  count(*) FILTER (o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin,
    "dq36_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n
        |FROM events WHERE props <> '' AND props IS NOT NULL
        |GROUP BY 1 HAVING k IS NOT NULL ORDER BY k""".stripMargin,
    "dq37_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) t, 1 side,
        |    NULL::DOUBLE rv, NULL::BIGINT rt
        |  FROM events WHERE event_type = 'click'),
        |r AS (SELECT NULL::BIGINT event_id, user_id, epoch_us(ts) t, 0 side,
        |    value::DOUBLE rv, epoch_us(ts) rt
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
        |m AS (SELECT event_id, user_id, t, side,
        |    last_value(rv IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t, side, rv ROWS UNBOUNDED PRECEDING) asof_value,
        |    last_value(rt IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t, side, rv ROWS UNBOUNDED PRECEDING) asof_time
        |  FROM u)
        |SELECT event_id, user_id, asof_value, (t - asof_time) / 1000000.0 AS gap_sec
        |FROM m WHERE side = 1 ORDER BY event_id""".stripMargin,
    "dq38_range_join" ->
      """WITH bands AS (SELECT b AS band_id, (b * 10 + 1)::DOUBLE lo, (b * 10 + 11)::DOUBLE hi
        |  FROM unnest(range(0, 5)) AS u(b))
        |SELECT band_id, count(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,
    "dq39_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "dq40_set_intersect" ->
      """SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin,
    "dq41_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "dq42_percentiles" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "dq43_string_agg" ->
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT strftime(o_orderdate, '%Y'), ','
        |    ORDER BY strftime(o_orderdate, '%Y')) AS years,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "dq44_stream_static_join" ->
      """SELECT c_mktsegment AS mktsegment, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY mktsegment""".stripMargin,
    "dq45_dedup_clusters" ->
      (s"""WITH RECURSIVE np AS ($Dq19Sql),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM np
        |  UNION SELECT doc_b, doc_a FROM np),
        |verts AS (SELECT DISTINCT a AS id FROM e),
        |reach AS (
        |  SELECT id, id AS r FROM verts
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
        |)
        |SELECT id AS doc_id, min(r) AS cluster_id FROM reach
        |GROUP BY id ORDER BY doc_id""".stripMargin),
    "dq46_session_window" ->
      """WITH o AS (SELECT user_id, epoch_us(ts) us FROM events),
        |g AS (SELECT user_id, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 600000000
        |      THEN 1 ELSE 0 END brk
        |  FROM o),
        |s AS (SELECT user_id, us,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS UNBOUNDED PRECEDING) sid
        |  FROM g)
        |SELECT user_id,
        |  strftime(to_timestamp(min(us) // 1000000), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "dq47_dedup_canonical" ->
      (s"""WITH RECURSIVE np AS ($Dq19Sql),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM np
        |  UNION SELECT doc_b, doc_a FROM np),
        |verts AS (SELECT DISTINCT a AS id FROM e),
        |reach AS (
        |  SELECT id, id AS r FROM verts
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
        |),
        |clusters AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
        |SELECT d.doc_id, d.source
        |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.id
        |WHERE c.id IS NULL OR d.doc_id = c.rep
        |ORDER BY d.doc_id""".stripMargin),
    "dq48_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "dq51_ann_trained_ivf" -> Dq51Sql,
    // dq51's trained chain to the final assignment (af), then the
    // deterministic per-cell rank cap (probe CTEs go unreferenced and are
    // pruned by the optimizer)
    "dq111_cluster_balanced" ->
      (ivfChainSql(8, 2, 1, "",
        "SELECT vid qid, emb qemb FROM e WHERE vid = 1") +
        """
        |SELECT cell, vid AS vec_id FROM (SELECT cell, vid,
        |  row_number() OVER (PARTITION BY cell
        |    ORDER BY md5(vid::VARCHAR), vid) rnk FROM af)
        |WHERE rnk <= 20 ORDER BY cell, vec_id""".stripMargin),
    // the broadcast-kernel path must produce byte-identical results to the
    // literal fold — same oracle, separately executed query
    "dq84_ann_ivf_kernel" -> Dq51Sql,
    "dq85_pii_redaction" ->
      // same deterministic PII planting, same Java∩RE2 regexes (DuckDB
      // needs the explicit 'g' flag; Spark replaces globally by default);
      // the redacted text is byte-compared via md5
      """WITH salted AS (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example' || (doc_id % 7)
        |      || '.com or +' || (doc_id % 90 + 10) || '-' || (doc_id % 900 + 100)
        |      || '-' || (doc_id % 9000 + 1000) AS text
        |  FROM documents),
        |red AS (SELECT doc_id, text,
        |    regexp_replace(
        |      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |      '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS r
        |  FROM salted)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INTEGER AS n_emails,
        |  len(regexp_extract_all(text, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}'))::INTEGER AS n_phones,
        |  md5(r) AS redacted_md5,
        |  length(r)::INTEGER AS n_chars_redacted
        |FROM red ORDER BY doc_id""".stripMargin,
    "dq86_bm25_topk" -> Dq86Sql,
    // the STORED inverted index built as 80% + appended 20% must rank
    // exactly like the session scorer over the whole corpus — one oracle
    // for both (stored/session parity, the dq104/dq109 precedent)
    "dq127_bm25_store" -> Dq86Sql,
    // the stored bigram LM's incremental fluency gate — and its streamed
    // twin through the generic loop (stream/batch parity)
    "dq128_lm_store_gate" -> Dq128Sql,
    "dq129_stream_lm_loop" -> Dq128Sql,
    // the frozen reference-LM filter: round 1's band, both batches
    "dq150_stream_reflm_gate" -> Dq150Sql,
    // config-driven LM ingest: round 1 seeds the model (all kept), round
    // 2 band-gates the wider batch against it (dq92's integer scoring)
    "dq130_config_lm_ingest" ->
      """WITH b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1),
        |b2 AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 4 = 1 OR doc_id % 4 = 2),
        |ht AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) > 0) toks FROM b1),
        |hg AS (SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM ht WHERE len(toks) >= 2),
        |bt AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) > 0) toks FROM b2),
        |bgq AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM bt WHERE len(toks) >= 2),
        |m AS (SELECT bg, CAST(count(*) AS BIGINT) c12 FROM hg GROUP BY 1),
        |pc AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) c1
        |  FROM m GROUP BY 1),
        |mm AS (SELECT bg, (1000000 * c12) // c1 AS micro
        |  FROM m JOIN pc ON string_split(m.bg, ' ')[1] = pc.w1),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) nb,
        |    CAST(sum(COALESCE(micro, 0)) AS BIGINT) sm
        |  FROM bgq LEFT JOIN mm USING (bg) GROUP BY 1),
        |k2 AS (SELECT b2.doc_id FROM b2 LEFT JOIN s USING (doc_id)
        |  WHERE COALESCE(sm // nb, 0) >= 20000)
        |SELECT CAST(1 AS BIGINT) AS round, doc_id FROM b1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS round, doc_id FROM k2
        |ORDER BY round, doc_id""".stripMargin,
    "dq90_hard_negatives" ->
      // dq86's scoring chain verbatim, then the positive-label anti-join
      // BEFORE ranking (a removed positive frees its rank) and k = 5
      """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) > 0) toks FROM documents),
        |wl AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) dl FROM t),
        |stats AS (SELECT CAST(count(*) AS BIGINT) n,
        |    CAST(sum(dl) AS DOUBLE) / count(*) avgdl FROM wl),
        |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM wl)
        |  GROUP BY 1, 2, 3),
        |q AS (SELECT doc_id AS qid, unnest(list_distinct(toks[1:4])) AS term
        |  FROM t WHERE doc_id % 101 = 0),
        |posts AS (SELECT tf.* FROM tf JOIN (SELECT DISTINCT term FROM q) qv USING (term)),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) df FROM posts GROUP BY 1),
        |scored AS (SELECT q.qid, p.doc_id AS vid,
        |    CAST(sum(CAST(floor(
        |      ((CAST(s.n AS DOUBLE) - df + 0.5) / (df + 0.5)) *
        |      ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) *
        |      1000000.0) AS BIGINT)) AS BIGINT) score_micro
        |  FROM posts p JOIN q USING (term) JOIN dfq USING (term), stats s
        |  WHERE p.doc_id <> q.qid GROUP BY 1, 2),
        |pos AS (SELECT qd.doc_id AS qid, d.doc_id AS vid
        |  FROM documents qd JOIN documents d ON d.source = qd.source
        |  WHERE qd.doc_id % 101 = 0 AND d.doc_id % 3 = 0),
        |neg AS (SELECT s.* FROM scored s LEFT JOIN pos
        |    ON s.qid = pos.qid AND s.vid = pos.vid
        |  WHERE pos.qid IS NULL),
        |r AS (SELECT qid, vid, score_micro,
        |    row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, vid) rnk
        |  FROM neg)
        |SELECT qid, vid, score_micro, rnk FROM r WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin,
    "dq91_semantic_decon" ->
      // dq23's cosine formulation (same fold order as the codegen'd
      // DotProduct) over train × broadcast-eval; max is order-independent
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |ev AS (SELECT embedding FROM e WHERE vec_id % 97 = 0),
        |tr AS (SELECT vec_id, embedding FROM e WHERE vec_id % 97 <> 0),
        |s AS (SELECT tr.vec_id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> tr.embedding[i]::DOUBLE * ev.embedding[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(tr.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(ev.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS sim
        |  FROM tr, ev)
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits, max(sim) AS max_sim
        |FROM s WHERE sim > 0.3 GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "dq98_dsir_importance" ->
      // dq92's chain twice: the full-corpus model and the src0-trained
      // target model (OOV bigrams contribute 0 but still count), ranked
      // by the integer difference
      """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) > 0) toks FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM t WHERE len(toks) >= 2),
        |model AS (SELECT bg, CAST(count(*) AS BIGINT) c12 FROM b GROUP BY 1),
        |pc AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) c1
        |  FROM model GROUP BY 1),
        |m AS (SELECT bg, (1000000 * c12) // c1 AS micro
        |  FROM model JOIN pc ON string_split(model.bg, ' ')[1] = pc.w1),
        |raws AS (SELECT doc_id, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(micro) AS BIGINT) s
        |  FROM b JOIN m USING (bg) GROUP BY 1),
        |tb AS (SELECT b.bg FROM b JOIN documents d USING (doc_id)
        |  WHERE d.source = 'src0'),
        |tmodel AS (SELECT bg, CAST(count(*) AS BIGINT) c12 FROM tb GROUP BY 1),
        |tpc AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) c1
        |  FROM tmodel GROUP BY 1),
        |tm AS (SELECT bg, (1000000 * c12) // c1 AS micro
        |  FROM tmodel JOIN tpc ON string_split(tmodel.bg, ' ')[1] = tpc.w1),
        |tgt AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(COALESCE(tm.micro, 0)) AS BIGINT) s
        |  FROM b LEFT JOIN tm USING (bg) GROUP BY 1),
        |sc AS (SELECT d.doc_id,
        |    COALESCE(tgt.s // tgt.n, 0) AS target_mean_micro,
        |    COALESCE(raws.s // raws.n, 0) AS raw_mean_micro
        |  FROM documents d LEFT JOIN tgt USING (doc_id) LEFT JOIN raws USING (doc_id))
        |SELECT doc_id, target_mean_micro, raw_mean_micro,
        |  target_mean_micro - raw_mean_micro AS diff_micro
        |FROM sc ORDER BY diff_micro DESC, doc_id LIMIT 25""".stripMargin,
    "dq92_lm_fluency" ->
      // the same all-integer recurrence: model = bigram counts, prefix
      // totals aggregated FROM the model, per-bigram micro-probability by
      // exact integer division, per-doc sum/mean; short docs restored as 0s
      """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) > 0) toks FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM t WHERE len(toks) >= 2),
        |model AS (SELECT bg, CAST(count(*) AS BIGINT) c12 FROM b GROUP BY 1),
        |pc AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) c1
        |  FROM model GROUP BY 1),
        |m AS (SELECT bg, (1000000 * c12) // c1 AS micro
        |  FROM model JOIN pc ON string_split(model.bg, ' ')[1] = pc.w1),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_bigrams,
        |    CAST(sum(micro) AS BIGINT) sum_micro
        |  FROM b JOIN m USING (bg) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(s.sum_micro, 0) AS sum_micro,
        |  COALESCE(s.sum_micro // s.n_bigrams, 0) AS mean_micro
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dq93_chunk_retrieval" ->
      // dq65's chunking + dq86's BM25 chain with chunks as the retrieval
      // units; chunk_id offset keeps the identity exclusion inert
      """WITH ch AS (SELECT 1000000000 + doc_id * 1000000 + CAST((p - 1) / 150 AS BIGINT) AS cid,
        |    substring(text, CAST(p AS INT), 200) AS chunk
        |  FROM documents, unnest(range(1, len(text) + 1, 150)) t(p)),
        |t AS (SELECT cid, list_filter(regexp_split_to_array(lower(chunk), '\W+'),
        |    x -> len(x) > 0) toks FROM ch),
        |wl AS (SELECT cid, toks, CAST(len(toks) AS BIGINT) dl FROM t),
        |stats AS (SELECT CAST(count(*) AS BIGINT) n,
        |    CAST(sum(dl) AS DOUBLE) / count(*) avgdl FROM wl),
        |tf AS (SELECT cid, dl, term, CAST(count(*) AS BIGINT) tf
        |  FROM (SELECT cid, dl, unnest(toks) AS term FROM wl)
        |  GROUP BY 1, 2, 3),
        |q AS (SELECT doc_id AS qid, unnest(list_distinct(list_filter(
        |      regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0)[1:4])) AS term
        |  FROM documents WHERE doc_id % 101 = 0),
        |posts AS (SELECT tf.* FROM tf JOIN (SELECT DISTINCT term FROM q) qv USING (term)),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) df FROM posts GROUP BY 1),
        |scored AS (SELECT q.qid, p.cid AS vid,
        |    CAST(sum(CAST(floor(
        |      ((CAST(s.n AS DOUBLE) - df + 0.5) / (df + 0.5)) *
        |      ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) *
        |      1000000.0) AS BIGINT)) AS BIGINT) score_micro
        |  FROM posts p JOIN q USING (term) JOIN dfq USING (term), stats s
        |  WHERE p.cid <> q.qid GROUP BY 1, 2),
        |r AS (SELECT qid, vid, score_micro,
        |    row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, vid) rnk
        |  FROM scored)
        |SELECT qid, (vid - 1000000000) // 1000000 AS doc_id, vid % 1000000 AS chunk_idx,
        |  score_micro, rnk
        |FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    // dq92's fluency chain + dq91's flag chain + dq89's token recurrence,
    // composed exactly as the Spark plan composes the operators
    "dq95_curation_v3" -> {
      val vals = graft.functions.SubwordTokenize.DemoVocab
        .map(v => s"('$v')").mkString(", ")
      s"""WITH RECURSIVE vocab(v) AS (SELECT * FROM (VALUES $vals) t(v)),
        |t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\W+'),
        |    x -> len(x) > 0) toks FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bgr
        |  FROM t WHERE len(toks) >= 2),
        |model AS (SELECT bgr, CAST(count(*) AS BIGINT) c12 FROM bg GROUP BY 1),
        |pc AS (SELECT string_split(bgr, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) c1
        |  FROM model GROUP BY 1),
        |mm AS (SELECT bgr, (1000000 * c12) // c1 AS micro
        |  FROM model JOIN pc ON string_split(model.bgr, ' ')[1] = pc.w1),
        |flu AS (SELECT doc_id FROM (
        |    SELECT doc_id, CAST(sum(micro) AS BIGINT) // CAST(count(*) AS BIGINT) mean_micro
        |    FROM bg JOIN mm USING (bgr) GROUP BY 1)
        |  WHERE mean_micro BETWEEN 34000 AND 40000),
        |ev AS (SELECT embedding FROM embeddings WHERE vec_id % 97 = 0),
        |tr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 97 <> 0),
        |sflag AS (SELECT DISTINCT tr.vec_id FROM tr, ev
        |  WHERE list_sum(list_transform(range(1, 65),
        |      i -> tr.embedding[i]::DOUBLE * ev.embedding[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(tr.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(ev.embedding, x -> x::DOUBLE * x::DOUBLE)))) > 0.3),
        |w AS (SELECT doc_id, i AS wid, toks[CAST(i AS INT)] AS word
        |  FROM t, unnest(range(1, len(toks) + 1)) r(i)),
        |dw AS (SELECT DISTINCT word FROM w),
        |steps AS (
        |  SELECT word, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS nt
        |  FROM dw
        |  UNION ALL
        |  SELECT s.word,
        |    s.pos + COALESCE((SELECT max(len(v)) FROM vocab
        |      WHERE substr(s.word, CAST(s.pos AS INT), len(v)) = v), 1),
        |    s.nt + 1
        |  FROM steps s WHERE s.pos <= len(s.word)),
        |done AS (SELECT word, nt FROM steps WHERE pos > len(word)),
        |dn AS (SELECT w.doc_id, CAST(sum(d.nt) AS BIGINT) n
        |  FROM w JOIN done d USING (word) GROUP BY 1),
        |kept AS (SELECT d.doc_id, d.source FROM documents d
        |  WHERE d.doc_id % 97 <> 0
        |    AND d.doc_id IN (SELECT doc_id FROM flu)
        |    AND d.doc_id NOT IN (SELECT vec_id FROM sflag))
        |SELECT kept.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(COALESCE(dn.n, 0)) AS BIGINT) AS total_subtokens
        |FROM kept LEFT JOIN dn USING (doc_id)
        |GROUP BY 1 ORDER BY source""".stripMargin
    },
    "dq88_boilerplate_lines" ->
      // dq74's line synthesis (token pairs), then an independent
      // re-derivation of the removal: per-doc-distinct line digests →
      // document frequency → lines in > 5% of docs become the boilerplate
      // set → order-preserving list filter; the cleaned text is
      // byte-compared via md5 of the newline re-join
      """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
        |    x -> len(x) > 0) toks FROM documents),
        |syn AS (SELECT doc_id, list_transform(range(0, len(toks) // 2),
        |    i -> toks[2*i+1] || ' ' || toks[2*i+2]) lines FROM t),
        |nn AS (SELECT CAST(count(*) AS BIGINT) nd FROM syn),
        |h AS (SELECT doc_id, unnest(list_distinct(list_transform(lines, l -> md5(l)))) AS hh
        |  FROM syn),
        |dfl AS (SELECT hh, CAST(count(*) AS BIGINT) c FROM h GROUP BY 1),
        |boil AS (SELECT hh FROM dfl, nn WHERE CAST(c AS DOUBLE) / nd > 0.05),
        |bs AS (SELECT coalesce(list(hh), []::VARCHAR[]) bl FROM boil),
        |r AS (SELECT doc_id, lines,
        |    list_filter(lines, l -> NOT list_contains(bs.bl, md5(l))) kept
        |  FROM syn, bs)
        |SELECT doc_id, md5(array_to_string(kept, chr(10))) AS clean_md5,
        |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
        |  CAST(len(lines) - len(kept) AS BIGINT) AS n_lines_removed
        |FROM r ORDER BY doc_id""".stripMargin,
    // vocab VALUES list interpolated from SubwordTokenize.DemoVocab — the
    // Spark kernel and the oracle recurrence share one vocabulary by
    // construction; the CTE replays greedy longest-match per DISTINCT word
    // (correlated max-length probe, '?' fallback advancing one char) and
    // joins tokenizations back to word occurrences
    "dq89_subword_tokenize" -> {
      val vals = graft.functions.SubwordTokenize.DemoVocab
        .map(v => s"('$v')").mkString(", ")
      s"""WITH RECURSIVE vocab(v) AS (SELECT * FROM (VALUES $vals) t(v)),
        |t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\W+'),
        |    x -> len(x) > 0) toks FROM documents),
        |w AS (SELECT doc_id, i AS wid, toks[CAST(i AS INT)] AS word
        |  FROM t, unnest(range(1, len(toks) + 1)) r(i)),
        |dw AS (SELECT DISTINCT word FROM w),
        |steps AS (
        |  SELECT word, CAST(1 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS sub
        |  FROM dw
        |  UNION ALL
        |  SELECT s.word,
        |    s.pos + COALESCE((SELECT max(len(v)) FROM vocab
        |      WHERE substr(s.word, CAST(s.pos AS INT), len(v)) = v), 1),
        |    s.sub || CASE WHEN s.pos = 1 THEN '' ELSE ' ' END ||
        |      COALESCE((SELECT v FROM vocab
        |        WHERE substr(s.word, CAST(s.pos AS INT), len(v)) = v
        |        ORDER BY len(v) DESC LIMIT 1), '?')
        |  FROM steps s WHERE s.pos <= len(s.word)),
        |done AS (SELECT word, sub, CAST(len(string_split(sub, ' ')) AS BIGINT) nt,
        |    CAST(len(list_filter(string_split(sub, ' '), x -> x = '?')) AS BIGINT) nu
        |  FROM steps WHERE pos > len(word)),
        |ds AS (SELECT w.doc_id, string_agg(d.sub, ' ' ORDER BY w.wid) AS stream,
        |    CAST(sum(d.nt) AS BIGINT) AS nt, CAST(sum(d.nu) AS BIGINT) AS nu
        |  FROM w JOIN done d USING (word) GROUP BY w.doc_id)
        |SELECT doc_id, COALESCE(ds.nt, 0) AS n_subtokens,
        |  COALESCE(ds.nu, 0) AS n_unk,
        |  md5(COALESCE(ds.stream, '')) AS subtok_md5
        |FROM documents LEFT JOIN ds USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    },
    // dq89's tokenizer recurrence feeding dq66's packing recurrence —
    // both recursive CTEs under one WITH RECURSIVE
    "dq100_token_packing" -> {
      val vals = graft.functions.SubwordTokenize.DemoVocab
        .map(v => s"('$v')").mkString(", ")
      s"""WITH RECURSIVE vocab(v) AS (SELECT * FROM (VALUES $vals) t(v)),
        |t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\W+'),
        |    x -> len(x) > 0) toks FROM documents),
        |w AS (SELECT doc_id, i AS wid, toks[CAST(i AS INT)] AS word
        |  FROM t, unnest(range(1, len(toks) + 1)) r(i)),
        |dw AS (SELECT DISTINCT word FROM w),
        |steps AS (
        |  SELECT word, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS nt
        |  FROM dw
        |  UNION ALL
        |  SELECT s.word,
        |    s.pos + COALESCE((SELECT max(len(v)) FROM vocab
        |      WHERE substr(s.word, CAST(s.pos AS INT), len(v)) = v), 1),
        |    s.nt + 1
        |  FROM steps s WHERE s.pos <= len(s.word)),
        |done AS (SELECT word, nt FROM steps WHERE pos > len(word)),
        |dn AS (SELECT w.doc_id, CAST(sum(d.nt) AS BIGINT) n
        |  FROM w JOIN done d USING (word) GROUP BY 1),
        |d AS (SELECT doc.source, doc.doc_id, dn.n AS ntok,
        |    row_number() OVER (PARTITION BY doc.source ORDER BY doc.doc_id) rn
        |  FROM documents doc JOIN dn USING (doc_id)),
        |packed AS (
        |  SELECT source, doc_id, ntok, rn, CAST(0 AS BIGINT) AS bin, ntok AS fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.doc_id, d.ntok, d.rn,
        |    CASE WHEN p.fill + d.ntok > 2048 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + d.ntok > 2048 THEN d.ntok ELSE p.fill + d.ntok END
        |  FROM d JOIN packed p ON d.source = p.source AND d.rn = p.rn + 1)
        |SELECT source, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS toks, min(doc_id) AS first_doc
        |FROM packed GROUP BY 1, 2 ORDER BY source, bin""".stripMargin
    },
    "dq52_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // built from the same a..z list as the Spark expression — the 26 terms
    // and their fold order stay in lockstep by construction
    "dq53_char_diversity" -> {
      val terms = ('a' to 'z')
        .map(ch => s"((len(s)-len(replace(s,'$ch','')))::DOUBLE / n) * ((len(s)-len(replace(s,'$ch','')))::DOUBLE / n)")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, lower(regexp_replace(text, '[^a-zA-Z]', '', 'g')) s
        |  FROM documents),
        |m AS (SELECT doc_id, s, len(s)::DOUBLE n FROM t)
        |SELECT doc_id, n AS n_letters,
        |  CASE WHEN n > 0 THEN 1.0 - ($terms) ELSE 0.0 END AS char_gini
        |FROM m ORDER BY doc_id""".stripMargin
    },
    "dq54_salted_join" ->
      """SELECT o_orderkey, c_custkey, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "dq55_bloom_pruned_join" ->
      """SELECT o_orderkey, c_custkey, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_acctbal > 9000
        |ORDER BY o_orderkey""".stripMargin,
    "dq56_dedup_salted" ->
      """SELECT event_id, user_id, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "dq57_topk_per_key" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 2
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "dq49_stream_interval_join" ->
      """SELECT c.event_id AS click_id, c.user_id, epoch_us(p.ts) AS p_us, p.value AS p_value
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND epoch_us(p.ts) <= epoch_us(c.ts)
        |  AND epoch_us(p.ts) >= epoch_us(c.ts) - 3600000000
        |ORDER BY click_id, p_us, p_value""".stripMargin,
    "dq97_stream_outer_join" ->
      // dq49's matches UNION the null-extended unmatched clicks the
      // watermark has released: click_time < min(both sides' max) − 1h;
      // NULLS FIRST pinned to Spark's ascending default
      """WITH c AS (SELECT event_id AS click_id, user_id, ts, epoch_us(ts) cus
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id pu, epoch_us(ts) pus, value
        |  FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least(
        |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL 1 HOUR AS w),
        |j AS (SELECT c.click_id, c.user_id, p.pus AS p_us, p.value AS p_value
        |  FROM c JOIN p ON c.user_id = p.pu
        |    AND p.pus <= c.cus AND p.pus >= c.cus - 3600000000),
        |unm AS (SELECT c.click_id, c.user_id,
        |    CAST(NULL AS BIGINT) AS p_us, CAST(NULL AS DOUBLE) AS p_value
        |  FROM c, wm WHERE c.ts < wm.w AND NOT EXISTS (
        |    SELECT 1 FROM p WHERE p.pu = c.user_id
        |      AND p.pus <= c.cus AND p.pus >= c.cus - 3600000000))
        |SELECT * FROM j UNION ALL SELECT * FROM unm
        |ORDER BY click_id, p_us NULLS FIRST, p_value NULLS FIRST""".stripMargin,
    "dq101_epoch_shuffle" ->
      """WITH e1 AS (SELECT 1 AS epoch, doc_id, md5('1:' || doc_id::VARCHAR) skey
        |  FROM documents ORDER BY skey LIMIT 10),
        |e2 AS (SELECT 2 AS epoch, doc_id, md5('2:' || doc_id::VARCHAR) skey
        |  FROM documents ORDER BY skey LIMIT 10)
        |SELECT * FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
        |ORDER BY epoch, skey""".stripMargin,
    "dq58_sample_split" ->
      """WITH g AS (SELECT doc_id, source,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT % 1000000 gt
        |  FROM documents)
        |SELECT CASE WHEN gt < 800000 THEN 'train'
        |            WHEN gt < 900000 THEN 'validation' ELSE 'test' END AS split,
        |  source, count(*) AS n, min(doc_id) AS min_doc
        |FROM g GROUP BY 1, 2 ORDER BY split, source""".stripMargin,
    "dq59_partition_pruning" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM orders WHERE year(o_orderdate) = 1996 AND quarter(o_orderdate) = 2
        |GROUP BY 1 ORDER BY o_month""".stripMargin,
    "dq60_quantized_ann" ->
      """WITH q AS (SELECT vec_id qid, list_transform(embedding,
        |    x -> greatest(-127, least(127, CAST(floor(x * 127.0 + 0.5) AS BIGINT)))) qv
        |  FROM embeddings WHERE vec_id IN (1, 2, 3)),
        |v AS (SELECT vec_id vid, list_transform(embedding,
        |    x -> greatest(-127, least(127, CAST(floor(x * 127.0 + 0.5) AS BIGINT)))) dv
        |  FROM embeddings),
        |s AS (SELECT qid, vid,
        |    CAST(list_dot_product(qv::DOUBLE[], dv::DOUBLE[]) AS BIGINT) AS score
        |  FROM q, v WHERE vid <> qid),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) rnk
        |  FROM s)
        |SELECT qid, vid, score, rnk FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "dq61_unpivot" ->
      """WITH w AS (SELECT c_mktsegment, CAST(count(*) AS DOUBLE) n_customers,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) sum_acctbal,
        |    min(c_acctbal) min_acctbal, max(c_acctbal) max_acctbal
        |  FROM customer GROUP BY 1)
        |SELECT c_mktsegment, metric, value FROM (
        |  SELECT c_mktsegment, 'n_customers' AS metric, n_customers AS value FROM w
        |  UNION ALL SELECT c_mktsegment, 'sum_acctbal', sum_acctbal FROM w
        |  UNION ALL SELECT c_mktsegment, 'min_acctbal', min_acctbal FROM w
        |  UNION ALL SELECT c_mktsegment, 'max_acctbal', max_acctbal FROM w)
        |ORDER BY c_mktsegment, metric""".stripMargin,
    "dq62_curation_pipeline" ->
      """WITH t AS (SELECT doc_id, text, source,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) toks
        |  FROM documents),
        |m AS (SELECT doc_id, text, source,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks) END mean_tok_len,
        |  CASE WHEN len(text) = 0 THEN 0 ELSE len(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g'))::DOUBLE / len(text) END punct_ratio,
        |  CASE WHEN len(toks) = 0 THEN 0 ELSE len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x)))::DOUBLE / len(toks) END stopword_ratio
        | FROM t),
        |q AS (SELECT doc_id, text, source,
        |  greatest(0, least(1,
        |    0.5 * least(stopword_ratio * 5, 1) +
        |    0.3 * (CASE WHEN mean_tok_len BETWEEN 3 AND 10 THEN 1 ELSE 0 END) +
        |    0.2 * (1 - least(punct_ratio * 10, 1)))) AS qs
        | FROM m),
        |kept AS (SELECT * FROM q WHERE qs >= 0.5),
        |dd AS (SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) rn
        |  FROM kept),
        |lab AS (SELECT doc_id, source, qs,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT % 1000000 gt
        |  FROM dd WHERE rn = 1)
        |SELECT CASE WHEN gt < 800000 THEN 'train'
        |            WHEN gt < 900000 THEN 'validation' ELSE 'test' END AS split,
        |  source, count(*) AS n,
        |  CAST(sum(CAST(qs AS DECIMAL(18,6))) AS DOUBLE) AS sum_q,
        |  min(doc_id) AS min_doc
        |FROM lab GROUP BY 1, 2 ORDER BY split, source""".stripMargin,
    "dq81_incremental_dedup" ->
      // same batch synthesis; membership re-derived via the canonical
      // fingerprint (dq18's formulation) and an exact NOT IN — the Bloom
      // split is a plan optimization with no semantic surface
      """WITH f AS (SELECT doc_id, source, text,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) fp
        |  FROM documents),
        |hist AS (SELECT DISTINCT fp FROM f),
        |incoming AS (
        |  SELECT doc_id + 100000 AS doc_id, source,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, source,
        |    md5(trim(regexp_replace(lower(text || ' rev' || doc_id::VARCHAR),
        |      '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT doc_id, source FROM incoming
        |WHERE fp NOT IN (SELECT fp FROM hist)
        |ORDER BY doc_id""".stripMargin,
    // same batch synthesis; near-dup membership re-derived with dq19's
    // signature arithmetic — history band buckets (capped on the HISTORY
    // side, mirroring the index-build cap), incoming keys joined against
    // them, candidate-only Jaccard, then an exact NOT IN. The Bloom
    // split is a plan optimization with no semantic surface (no false
    // negatives), exactly like dq81's. Shared by dq83 (batch) and dq87
    // (the same gate as a foreachBatch STREAM) — stream/batch parity means
    // one oracle for both.
    "dq83_incremental_neardup" -> Dq83Sql,
    "dq87_stream_ingest_gate" -> Dq83Sql,
    "dq82_sequence_materialize" ->
      // dq66's recursive greedy fold assigns the bins; the sequence is the
      // in-bin id-ordered concatenation, verified by md5
      """WITH RECURSIVE d AS (
        |  SELECT source, doc_id, n_chars, text,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) rn
        |  FROM documents),
        |packed AS (
        |  SELECT source, doc_id, n_chars, text, rn,
        |    CAST(0 AS BIGINT) AS bin, n_chars AS fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.doc_id, d.n_chars, d.text, d.rn,
        |    CASE WHEN p.fill + d.n_chars > 1000 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + d.n_chars > 1000 THEN d.n_chars ELSE p.fill + d.n_chars END
        |  FROM d JOIN packed p ON d.source = p.source AND d.rn = p.rn + 1),
        |seqs AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |    string_agg(text, '<|doc|>' ORDER BY doc_id) AS seq
        |  FROM packed GROUP BY 1, 2)
        |SELECT source, bin, n_docs, CAST(length(seq) AS INTEGER) AS seq_chars,
        |  md5(seq) AS seq_md5
        |FROM seqs ORDER BY source, bin""".stripMargin,
    "dq80_video_meta" ->
      // byte-identical MP4 synthesis, then an independent re-parse: the
      // walk reads free's size to find moov and udta's size to find mvhd
      // (data-driven at both levels); box sizes are big-endian so hex
      // substrings cast directly
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
        |    doc_id % 16 + 8 AS fl,
        |    (doc_id * 5) % 12 + 8 AS ul,
        |    CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |      WHEN 2 THEN 24000 ELSE 90000 END AS ts,
        |    (doc_id % 9000 + 30) * 100 AS dur
        |  FROM documents),
        |payload AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN ('not a video ' || doc_id::VARCHAR)::BLOB
        |    ELSE
        |      unhex('00000010') || 'ftyp'::BLOB || brand::BLOB || unhex('00000000') ||
        |      unhex(lpad(to_hex(fl), 8, '0')) || 'free'::BLOB || repeat('J', fl - 8)::BLOB ||
        |      unhex(lpad(to_hex(8 + ul + 108), 8, '0')) || 'moov'::BLOB ||
        |      unhex(lpad(to_hex(ul), 8, '0')) || 'udta'::BLOB || repeat('C', ul - 8)::BLOB ||
        |      unhex('0000006C') || 'mvhd'::BLOB || unhex('00000000') ||
        |      unhex('00000000') || unhex('00000000') ||
        |      unhex(lpad(to_hex(ts), 8, '0')) || unhex(lpad(to_hex(dur), 8, '0')) ||
        |      unhex(repeat('00', 80))
        |    END AS payload
        |  FROM m),
        |hx AS (SELECT doc_id, upper(hex(payload)) AS h FROM payload),
        |v1 AS (SELECT doc_id, h,
        |    CASE WHEN substr(h, 1, 8) = '00000010' AND substr(h, 9, 8) = '66747970'
        |         AND substr(h, 41, 8) = '66726565'
        |      THEN 33 + TRY_CAST(('0x' || substr(h, 33, 8)) AS BIGINT) * 2 END AS p1
        |  FROM hx),
        |v2 AS (SELECT doc_id, h, p1,
        |    CASE WHEN p1 IS NOT NULL AND substr(h, p1::INT + 8, 8) = '6D6F6F76'
        |         AND substr(h, p1::INT + 24, 8) = '75647461'
        |      THEN p1 + 16 + TRY_CAST(('0x' || substr(h, p1::INT + 16, 8)) AS BIGINT) * 2
        |    END AS q1
        |  FROM v1),
        |parsed AS (
        |  SELECT doc_id,
        |    CASE WHEN q1 IS NOT NULL AND substr(h, q1::INT + 8, 8) = '6D766864'
        |         AND substr(h, q1::INT + 16, 2) = '00'
        |      THEN decode(unhex(substr(h, 17, 8))) END AS brand,
        |    TRY_CAST(('0x' || substr(h, q1::INT + 40, 8)) AS BIGINT) AS timescale,
        |    TRY_CAST(('0x' || substr(h, q1::INT + 48, 8)) AS BIGINT) AS duration
        |  FROM v2)
        |SELECT doc_id, brand, CAST(timescale AS INTEGER) timescale,
        |  CAST(duration AS BIGINT) duration
        |FROM parsed WHERE brand IS NOT NULL ORDER BY doc_id""".stripMargin,
    "dq79_audio_meta" ->
      // byte-identical WAV synthesis, then an independent re-parse: the
      // chunk walk reads LIST's length field to locate 'fmt ' (data-driven,
      // like dq73's JPEG walk) and every field decodes little-endian by
      // reversing hex byte pairs
      (WavParseSql +
        """
        |SELECT doc_id, CAST(channels AS INTEGER) channels,
        |  CAST(sample_rate AS INTEGER) sample_rate, CAST(bits AS INTEGER) bits,
        |  CAST(data_size // align AS BIGINT) n_samples
        |FROM parsed WHERE channels IS NOT NULL ORDER BY doc_id"""
          .stripMargin),
    // the declared audio gate: the same walk decides survivors, the
    // declared band keeps rates in [10000, 30000]
    "dq172_audio_gate" ->
      (WavParseSql +
        """
        |SELECT doc_id, CAST(channels AS INTEGER) AS media_channels,
        |  CAST(sample_rate AS INTEGER) AS media_rate
        |FROM parsed WHERE channels IS NOT NULL
        |  AND sample_rate BETWEEN 10000 AND 30000
        |ORDER BY doc_id""".stripMargin),
    "dq78_sessions_tws" ->
      // dq26's session reconstruction + the streaming closure criterion:
      // emitted iff last_event + gap < final watermark, wm_us =
      // ((max_us // 1000) - delay_ms) * 1000 (Spark tracks event-time
      // stats in ms). Open-tail sessions stay in state and are NOT rows.
      """WITH o AS (SELECT user_id, epoch_us(ts) us FROM events),
        |wm AS (SELECT ((max(us) // 1000) - 600000) * 1000 AS wm_us FROM o),
        |g AS (SELECT user_id, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 600000000
        |      THEN 1 ELSE 0 END brk
        |  FROM o),
        |s AS (SELECT user_id, us,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS UNBOUNDED PRECEDING) sid
        |  FROM g),
        |sess AS (SELECT user_id, min(us) mn, max(us) mx, count(*) n
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id,
        |  strftime(to_timestamp(mn // 1000000), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  n AS n_events,
        |  (mx - mn) / 1000000.0 AS duration_sec
        |FROM sess, wm
        |WHERE mx + 600000000 < wm_us
        |ORDER BY user_id, session_start""".stripMargin,
    "dq77_topngram_family" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) toks
        |  FROM documents),
        |g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) g
        |  FROM t WHERE len(toks) >= 3),
        |c3 AS (SELECT doc_id, g, count(*) c FROM g3 GROUP BY 1, 2),
        |a3 AS (SELECT doc_id, max(c) / sum(c) AS top3_frac FROM c3 GROUP BY doc_id),
        |g4 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 2),
        |    i -> array_to_string(toks[i:i+3], ' '))) g
        |  FROM t WHERE len(toks) >= 4),
        |c4 AS (SELECT doc_id, g, count(*) c FROM g4 GROUP BY 1, 2),
        |a4 AS (SELECT doc_id, max(c) / sum(c) AS top4_frac FROM c4 GROUP BY doc_id)
        |SELECT doc_id, top3_frac, top4_frac
        |FROM a3 JOIN a4 USING (doc_id) ORDER BY doc_id""".stripMargin,
    "dq76_curation_v2" ->
      // every stage re-derived independently: length band (quantile_cont),
      // 4-gram decontamination, winnow pairs over the CURATED subset
      // (embedded winnowPairsSql), recursive-CTE clustering + min-id keep,
      // md5 gate mixing, then the dq62-shaped split report
      (s"""WITH RECURSIVE
        |b AS (SELECT source, quantile_cont(n_chars, 0.05) lo,
        |    quantile_cont(n_chars, 0.95) hi FROM documents GROUP BY source),
        |band AS (SELECT d.doc_id, d.source, d.text FROM documents d JOIN b USING (source)
        |  WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi),
        |dt AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> len(x) > 0) toks
        |  FROM documents),
        |dg AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 2),
        |    i -> array_to_string(toks[i:i+3], ' ')))) AS gram
        |  FROM dt WHERE len(toks) >= 4),
        |eg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 97 = 0),
        |contam AS (SELECT DISTINCT dg.doc_id FROM dg JOIN eg USING (gram)
        |  WHERE dg.doc_id % 97 != 0),
        |clean AS (SELECT * FROM band WHERE doc_id % 97 != 0
        |  AND doc_id NOT IN (SELECT doc_id FROM contam)),
        |wp AS (${winnowPairsSql("clean")}),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM wp
        |  UNION SELECT doc_b, doc_a FROM wp),
        |verts AS (SELECT DISTINCT a AS id FROM e),
        |reach AS (
        |  SELECT id, id AS r FROM verts
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
        |),
        |cc AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
        |dedup AS (SELECT c.* FROM clean c LEFT JOIN cc ON c.doc_id = cc.id
        |  WHERE cc.id IS NULL OR c.doc_id = cc.rep),
        |gated AS (SELECT source, doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT % 1000000 g,
        |    CAST(regexp_extract(source, '([0-9]+)$$', 1) AS INT) % 3 tier
        |  FROM dedup),
        |mixed AS (SELECT source, doc_id, g FROM gated
        |  WHERE g < CASE tier WHEN 0 THEN 1000000 WHEN 1 THEN 500000 ELSE 100000 END)
        |SELECT CASE WHEN g < 800000 THEN 'train'
        |            WHEN g < 900000 THEN 'validation' ELSE 'test' END AS split,
        |  source, count(*) AS n, min(doc_id) AS min_doc
        |FROM mixed GROUP BY 1, 2 ORDER BY split, source""".stripMargin),
    "dq75_semdedup" ->
      // dq22's pairs as the edge list; min-reachable-id = the cluster
      // representative keepCanonical retains (dq45's recursive-CTE shape)
      (s"""WITH RECURSIVE np AS ($Dq22Sql),
        |e AS (SELECT vec_a AS a, vec_b AS b FROM np
        |  UNION SELECT vec_b, vec_a FROM np),
        |verts AS (SELECT DISTINCT a AS id FROM e),
        |reach AS (
        |  SELECT id, id AS r FROM verts
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
        |),
        |cc AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
        |SELECT v.vec_id FROM embeddings v LEFT JOIN cc ON v.vec_id = cc.id
        |WHERE cc.id IS NULL OR v.vec_id = cc.rep
        |ORDER BY vec_id""".stripMargin),
    "dq102_quality_gate" ->
      // the four signals re-derived (dq64's bigram fraction, dq77's
      // trigram fraction, dq74's line synthesis + dup fraction, token
      // counts) and the same conjunction
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) toks
        |  FROM documents),
        |nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) n_tokens FROM t),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) g
        |  FROM t WHERE len(toks) >= 2),
        |c2 AS (SELECT doc_id, g, count(*) c FROM g2 GROUP BY 1, 2),
        |a2 AS (SELECT doc_id, max(c) / sum(c) AS rep2 FROM c2 GROUP BY doc_id),
        |g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) g
        |  FROM t WHERE len(toks) >= 3),
        |c3 AS (SELECT doc_id, g, count(*) c FROM g3 GROUP BY 1, 2),
        |a3 AS (SELECT doc_id, max(c) / sum(c) AS top3 FROM c3 GROUP BY doc_id),
        |syn AS (SELECT doc_id, list_transform(range(0, len(toks) // 2),
        |    i -> toks[2*i+1] || ' ' || toks[2*i+2]) lines FROM t),
        |e AS (SELECT doc_id, unnest(lines) AS line FROM syn),
        |c AS (SELECT doc_id, line, count(*) AS cnt FROM e GROUP BY doc_id, line),
        |d AS (SELECT doc_id,
        |    (CAST(sum(cnt) AS BIGINT) - CAST(count(*) AS BIGINT))::DOUBLE
        |      / CAST(sum(cnt) AS BIGINT)::DOUBLE AS dup_line_frac
        |  FROM c GROUP BY doc_id)
        |SELECT nt.doc_id, nt.n_tokens, a2.rep2, a3.top3, d.dup_line_frac,
        |  (nt.n_tokens >= 20 AND a2.rep2 <= 0.06 AND a3.top3 <= 0.05
        |   AND d.dup_line_frac <= 0.05) AS keep
        |FROM nt JOIN a2 USING (doc_id) JOIN a3 USING (doc_id) JOIN d USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dq74_dup_lines" ->
      // same synthesis (token pairs as lines), then an independent
      // re-derivation of the dup-line/dup-char fractions; integer
      // numerators + one double division each → bit-exact
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) toks
        |  FROM documents),
        |syn AS (SELECT doc_id, list_transform(range(0, len(toks) // 2),
        |    i -> toks[2*i+1] || ' ' || toks[2*i+2]) lines FROM t),
        |e AS (SELECT doc_id, unnest(lines) AS line FROM syn),
        |c AS (SELECT doc_id, line, count(*) AS cnt, len(line) AS ln
        |  FROM e GROUP BY doc_id, line),
        |agg AS (SELECT doc_id,
        |    CAST(sum(cnt) AS BIGINT) n, CAST(count(*) AS BIGINT) nd,
        |    CAST(sum((cnt - 1) * ln) AS BIGINT) dupc, CAST(sum(cnt * ln) AS BIGINT) totc
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n AS n_lines,
        |  (n - nd) / n::DOUBLE AS dup_line_frac,
        |  dupc / totc::DOUBLE AS dup_char_frac
        |FROM agg ORDER BY doc_id""".stripMargin,
    "dq73_image_meta" ->
      // construct byte-identical blobs, then RE-PARSE them from the bytes:
      // PNG dims at fixed IHDR offsets; JPEG via a data-driven marker walk
      // (read APP0's length, hop, read COM's length, hop, expect FFC0) —
      // the same walk ImageMeta.parseJpeg does, expressed over hex(payload)
      """WITH m AS (
        |  SELECT doc_id, doc_id % 1897 + 16 AS w0, (doc_id * 7) % 1061 + 16 AS h0,
        |    doc_id % 8 + 14 AS ap, (doc_id * 3) % 5 + 2 AS cp
        |  FROM documents),
        |payload AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN ('not an image ' || doc_id::VARCHAR)::BLOB
        |    WHEN doc_id % 2 = 0 THEN
        |      unhex('89504E470D0A1A0A' || '0000000D' || '49484452'
        |        || lpad(to_hex(w0), 8, '0') || lpad(to_hex(h0), 8, '0') || '0806000000')
        |    ELSE
        |      unhex('FFD8' || 'FFE0' || lpad(to_hex(ap + 2), 4, '0') || repeat('4A', ap)
        |        || 'FFFE' || lpad(to_hex(cp + 2), 4, '0') || repeat('43', cp)
        |        || 'FFC0' || '000B' || '08'
        |        || lpad(to_hex(h0), 4, '0') || lpad(to_hex(w0), 4, '0')
        |        || '012200' || 'FFD9')
        |    END AS payload
        |  FROM m),
        |hx AS (SELECT doc_id, upper(hex(payload)) AS h FROM payload),
        |j1 AS (SELECT doc_id, h,
        |    CASE WHEN substr(h, 1, 4) = 'FFD8'
        |      THEN 5 + 4 + TRY_CAST(('0x' || substr(h, 9, 4)) AS BIGINT) * 2 END AS p2
        |  FROM hx),
        |j2 AS (SELECT doc_id, h, p2,
        |    CASE WHEN p2 IS NOT NULL
        |      THEN p2 + 4 + TRY_CAST(('0x' || substr(h, p2::INT + 4, 4)) AS BIGINT) * 2
        |    END AS p3
        |  FROM j1),
        |parsed AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN substr(h, 1, 16) = '89504E470D0A1A0A' AND substr(h, 17, 8) = '0000000D'
        |           AND substr(h, 25, 8) = '49484452' THEN 'png'
        |      WHEN p3 IS NOT NULL AND substr(h, p3::INT, 4) = 'FFC0' THEN 'jpeg'
        |    END AS format,
        |    CASE
        |      WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
        |        THEN TRY_CAST(('0x' || substr(h, 33, 8)) AS BIGINT)
        |      WHEN p3 IS NOT NULL AND substr(h, p3::INT, 4) = 'FFC0'
        |        THEN TRY_CAST(('0x' || substr(h, p3::INT + 14, 4)) AS BIGINT)
        |    END AS width,
        |    CASE
        |      WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
        |        THEN TRY_CAST(('0x' || substr(h, 41, 8)) AS BIGINT)
        |      WHEN p3 IS NOT NULL AND substr(h, p3::INT, 4) = 'FFC0'
        |        THEN TRY_CAST(('0x' || substr(h, p3::INT + 10, 4)) AS BIGINT)
        |    END AS height
        |  FROM j2)
        |SELECT doc_id, format, CAST(width AS INTEGER) AS width,
        |  CAST(height AS INTEGER) AS height
        |FROM parsed WHERE format IS NOT NULL ORDER BY doc_id""".stripMargin,
    "dq72_winnow_overlap" ->
      s"${winnowPairsSql("documents")}\nORDER BY doc_a, doc_b",
    "dq71_length_outliers" ->
      """WITH b AS (SELECT source,
        |    quantile_cont(n_chars, 0.05) lo, quantile_cont(n_chars, 0.95) hi
        |  FROM documents GROUP BY source)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept,
        |  min(d.n_chars) AS min_len, max(d.n_chars) AS max_len
        |FROM documents d JOIN b USING (source)
        |WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "dq70_config_report" ->
      """SELECT c_acctbal, c_custkey, c_mktsegment, c_name
        |FROM customer
        |WHERE c_acctbal > 9000 AND c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,
    "dq67_decontamination" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) toks
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 2),
        |    i -> array_to_string(toks[i:i+3], ' ')))) AS gram
        |  FROM t WHERE len(toks) >= 4),
        |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
        |SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared
        |FROM g JOIN e USING (gram)
        |WHERE g.doc_id % 97 != 0
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "dq68_source_mix" ->
      """WITH gated AS (SELECT source, doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT % 1000000 g,
        |    CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 3 tier
        |  FROM documents)
        |SELECT source, count(*) AS n_kept, min(doc_id) AS min_doc
        |FROM gated
        |WHERE g < CASE tier WHEN 0 THEN 1000000 WHEN 1 THEN 500000 ELSE 100000 END
        |GROUP BY source ORDER BY source""".stripMargin,
    "dq69_tfidf_top_term" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0)) term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, count(*) df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) n FROM documents),
        |s AS (SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf * n.n AS DOUBLE) / df.df AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf * n.n AS DOUBLE) / df.df DESC, tf.term) rn
        |  FROM tf JOIN df USING (term), n)
        |SELECT doc_id, term, score FROM s WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "dq66_sequence_packing" ->
      """WITH RECURSIVE d AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) rn
        |  FROM documents),
        |packed AS (
        |  SELECT source, doc_id, n_chars, rn, CAST(0 AS BIGINT) AS bin, n_chars AS fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.doc_id, d.n_chars, d.rn,
        |    CASE WHEN p.fill + d.n_chars > 1000 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + d.n_chars > 1000 THEN d.n_chars ELSE p.fill + d.n_chars END
        |  FROM d JOIN packed p ON d.source = p.source AND d.rn = p.rn + 1)
        |SELECT source, bin, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS first_doc
        |FROM packed GROUP BY 1, 2 ORDER BY source, bin""".stripMargin,
    "dq65_chunking" ->
      """SELECT doc_id, CAST((p - 1) / 150 AS BIGINT) AS chunk_idx,
        |  substring(text, CAST(p AS INT), 200) AS chunk
        |FROM documents, unnest(range(1, len(text) + 1, 150)) t(p)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "dq64_repetition_ratio" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\W+'), x -> len(x) > 0) toks
        |  FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) bg
        |  FROM t WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, bg, count(*) c FROM b GROUP BY 1, 2)
        |SELECT doc_id, max(c) / sum(c) AS rep_ratio
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dq63_zorder_band" ->
      """SELECT l_quantity, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 15 AND l_extendedprice BETWEEN 20000 AND 30000
        |GROUP BY 1 ORDER BY l_quantity""".stripMargin,
    "dq50_vector_centroids" ->
      """WITH e AS (SELECT embedding,
        |  (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END +
        |   CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END +
        |   CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END +
        |   CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) bucket FROM embeddings),
        |u AS (SELECT bucket, d,
        |    CAST(FLOOR(embedding[d]::DOUBLE * 1000000) AS BIGINT) m
        |  FROM e, unnest(range(1, 65)) AS t(d))
        |SELECT bucket, d, (SUM(m) / 1000000.0) / COUNT(*) AS centroid
        |FROM u GROUP BY bucket, d ORDER BY bucket, d""".stripMargin
  )
}
