package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.catalyst.expressions.{Literal, Md5, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.GraftSpec

/** The two-phase [[IngestIndex]] contract on the three text stores:
  *  - parity: three batches (one replayed under its token) through
  *    `gate` + `append(gated, token)` leave row-identical relations and
  *    identical commits (stats included) next to the pre-hand-over
  *    gate and append, which picked the kept rows with a join of their
  *    own and re-derived features from their text ([[TextStoreOracle]]),
  *    and both gates keep the same rows — null ids and repeated ids
  *    included. NearDupIndex and SubstrIndex run it on both gate paths:
  *    the small-batch path (driver-side key sets, map-only history
  *    scans) and, with `spark.sql.autoBroadcastJoinThreshold=-1`, the
  *    distributed one; also with string ids, an over-cap bucket and
  *    batches with nothing to look up;
  *  - plan audit: the queries an `append(gated, token)` runs never read
  *    the text column, never compute an md5 (shingle or window digest)
  *    and never split text into tokens — the features come from the
  *    gate; the queries a small-batch gate runs shuffle nothing but the
  *    batch's fan-out and build no Bloom filter.
  */
class TextStoreParitySpec extends GraftSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    graft.io.TempReaper.tempDir(s"graft-parity-$tag")
      .toString + "/idx"

  // seeded word soup: every document distinct, copies planted below
  private def textOf(i: Long): String = {
    val r = new scala.util.Random(i)
    Seq.fill(30 + r.nextInt(30))(s"w${r.nextInt(300)}").mkString(" ")
  }
  private lazy val docs = (0L until 400L).map(i => (i, textOf(i)))
    .toDF("doc_id", "text")
  private lazy val history = docs.filter($"doc_id" % 4 =!= 0)
  // fresh documents, exact copies of history, a one-word and an empty
  // text, and two null ids: a copy of history and a fresh text
  private lazy val b1 = docs.filter($"doc_id" % 8 === 0)
    .unionByName(history.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 100000).as("doc_id"), $"text"))
    .unionByName(Seq[(Option[Long], String)]((Some(900001L), "solitary"),
      (Some(900002L), ""), (None, textOf(1L)), (None, textOf(5000L)),
      // a repeated id is answered as one: 900003 has a copy of history in
      // one row and a fresh text in the other, 900004 two fresh texts
      (Some(900003L), textOf(1L)), (Some(900003L), textOf(6000L)),
      (Some(900004L), textOf(6001L)), (Some(900004L), textOf(6002L)))
      .toDF("doc_id", "text"))
    .localCheckpoint(true)
  // fresh documents and copies of batch 1 (its survivors are in the store)
  private lazy val b2 = docs.filter($"doc_id" % 8 === 4)
    .unionByName(b1.filter($"doc_id" % 3 === 0)
      .select(($"doc_id" + 200000).as("doc_id"), $"text"))
    .localCheckpoint(true)
  // copies of both earlier batches
  private lazy val b3 = b1.unionByName(b2)
    .select(($"doc_id" + 300000).as("doc_id"), $"text")
    .localCheckpoint(true)
  // batch 2 replayed under its own token: same answer, no second fold
  private lazy val rounds = Seq(b1 -> "p#1", b2 -> "p#2", b2 -> "p#2",
    b3 -> "p#3")

  // the same history and rounds under string ids (a null id stays null)
  private def stringIds(df: DataFrame): DataFrame =
    df.select(concat(lit("d"), $"doc_id".cast("string")).as("doc_id"), $"text")
  private lazy val stringRounds = rounds.map { case (b, t) =>
    stringIds(b).localCheckpoint(true) -> t }

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** The gates' two paths: the small-batch one at the session's
    * threshold (every batch here fits it), the distributed one with
    * broadcasting off. */
  private val paths = Seq("small-batch" -> None, "distributed" -> Some("-1"))

  private def onPath[T](limit: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(threshold)
    limit.foreach(spark.conf.set(threshold, _))
    try body
    finally prev match {
      case Some(v) => spark.conf.set(threshold, v)
      case None => spark.conf.unset(threshold)
    }
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def rowsAt(dir: String): Seq[String] = rowsOf(spark.read.parquet(dir))

  /** Every commit and every relation dir of two layouts, side by side. */
  private def sameLayout(a: StoreLog, b: StoreLog): Unit = {
    val (ma, mb) = (a.manifests.read(), b.manifests.read())
    ma.map(_.render) shouldBe mb.map(_.render)
    for (m <- ma; (rel, ids) <- m.rels; id <- ids)
      withClue(s"$rel/append=$id: ") {
        rowsAt(a.dir(rel, id)) shouldBe rowsAt(b.dir(rel, id))
      }
  }

  private def drive[I <: IngestIndex](store: I, oracle: I,
      rounds: Seq[(DataFrame, String)] = rounds)(
      oldGate: (I, DataFrame, String) => DataFrame)(
      oldAppend: (I, DataFrame, String) => Unit): Unit =
    for ((batch, token) <- rounds) {
      val gated = store.gate(batch, "doc_id", "text", Some(token))
      store.append(gated, Some(token))
      val kept = oldGate(oracle, batch, token).localCheckpoint(true)
      oldAppend(oracle, kept, token)
      withClue(s"kept rows of $token: ") {
        rowsOf(gated.kept) shouldBe rowsOf(kept)
        // a gate that keeps all or nothing would make the parity vacuous
        kept.count() should (be > 0L and be < batch.count())
      }
    }

  private def nearDupParity(hist: DataFrame,
      rounds: Seq[(DataFrame, String)]): Unit = {
    val (p, q) = (tmp("nd-new"), tmp("nd-old"))
    NearDupIndex.build(hist, "doc_id", "text", p)
    NearDupIndex.build(hist, "doc_id", "text", q)
    val (store, oracle) = (NearDupIndex.open(spark, p), NearDupIndex.open(spark, q))
    drive(store, oracle, rounds)((o, b, t) =>
      TextStoreOracle.keepUnseen(o, b, "doc_id", "text", t))(
      (o, kept, t) => TextStoreOracle.nearDup(o, kept, "doc_id", "text", t))
    sameLayout(store.log, oracle.log)
  }

  private def substrParity(hist: DataFrame,
      rounds: Seq[(DataFrame, String)]): Unit = {
    val (p, q) = (tmp("ss-new"), tmp("ss-old"))
    SubstrIndex.build(hist, "doc_id", "text", p, k = 6)
    SubstrIndex.build(hist, "doc_id", "text", q, k = 6)
    val (store, oracle) = (SubstrIndex.open(spark, p), SubstrIndex.open(spark, q))
    drive(store, oracle, rounds)((o, b, t) =>
      TextStoreOracle.keepFresh(o, b, "doc_id", "text", t))(
      (o, kept, t) => TextStoreOracle.substr(o, kept, "doc_id", "text", t))
    sameLayout(store.log, oracle.log)
  }

  for ((path, limit) <- paths) {
    // the small-batch runs keep the names these tests had before the
    // distributed twins were added
    val on = if (limit.isEmpty) "" else s", $path gate"
    it(s"NearDupIndex$on: gate + append(gated) equals the text-derived " +
       "append (digests/, bands/, counts/ and commit stats) over three " +
       "batches and a replay") {
      onPath(limit)(nearDupParity(history, rounds))
    }

    it(s"SubstrIndex$on: gate + append(gated) equals the text-derived " +
       "append (digests/ and commit stats) over three batches and a " +
       "replay") {
      onPath(limit)(substrParity(history, rounds))
    }

    it(s"NearDupIndex and SubstrIndex ($path gate): string ids compare " +
       "by value") {
      onPath(limit) {
        nearDupParity(stringIds(history), stringRounds)
        substrParity(stringIds(history), stringRounds)
      }
    }

    it(s"NearDupIndex ($path gate): an over-cap bucket yields no " +
       "candidates") {
      // document 1 and three copies share every band key: 4 members
      // against maxBucket = 3, so a fourth copy gates as unseen, while a
      // copy of document 2 (one member per key) is dropped
      val hist = history.unionByName(history.where($"doc_id" === 1L)
        .crossJoin(Seq(700001L, 700002L, 700003L).toDF("copy"))
        .select($"copy".as("doc_id"), $"text"))
      val batch = docs.where($"doc_id".isin(1L, 2L, 8L))
        .select(($"doc_id" + 800000L).as("doc_id"), $"text")
      val (p, q) = (tmp("nd-cap-new"), tmp("nd-cap-old"))
      NearDupIndex.build(hist, "doc_id", "text", p, maxBucket = 3)
      NearDupIndex.build(hist, "doc_id", "text", q, maxBucket = 3)
      val (store, oracle) = (NearDupIndex.open(spark, p), NearDupIndex.open(spark, q))
      onPath(limit) {
        val kept = rowsOf(store.gate(batch, "doc_id", "text", None).kept)
        kept shouldBe rowsOf(TextStoreOracle.keepUnseen(oracle, batch,
          "doc_id", "text", "none"))
        kept.map(_.takeWhile(_ != ',')) shouldBe Seq("[800001", "[800008")
      }
    }

    it(s"SubstrIndex ($path gate): a repeated id sums its rows' " +
       "history windows against maxDupWindows") {
      val ss = SubstrIndex.build(Seq((1L, "a b c d e f g h")).toDF("doc_id",
        "text"), "doc_id", "text", tmp("ss-sum"), k = 4)
      // id 10: one history window in each of its two rows, 2 in all;
      // id 20: one in its only row
      val batch = Seq((10L, "a b c d p q r s"), (10L, "e f g h t u v w"),
        (20L, "a b c d x y z zz")).toDF("doc_id", "text")
      onPath(limit) {
        ss.gate(batch, "doc_id", "text", None, maxDupWindows = 1L).kept
          .select("doc_id").as[Long].collect().toSeq shouldBe Seq(20L)
      }
    }

    it(s"NearDupIndex and SubstrIndex ($path gate): a batch with no " +
       "candidates, or with no shingles or windows, keeps every row") {
      val nd = NearDupIndex.build(history, "doc_id", "text", tmp("nd-none"))
      val ss = SubstrIndex.build(history, "doc_id", "text", tmp("ss-none"), k = 6)
      val fresh = docs.where($"doc_id" % 8 === 0)
      val bare = Seq((1L, "solitary"), (2L, ""), (3L, "two words"))
        .toDF("doc_id", "text")
      onPath(limit) {
        for (batch <- Seq(fresh, bare); store <- Seq[IngestIndex](nd, ss))
          rowsOf(store.gate(batch, "doc_id", "text", None).kept) shouldBe
            rowsOf(batch)
      }
    }
  }

  it("NgramLmStore: gate + append(gated) equals the text-derived append " +
     "(counts/ and commit stats) over three batches and a replay") {
    val (p, q) = (tmp("lm-new"), tmp("lm-old"))
    // a band from 0 keeps the null-id rows only if the gate forgets to
    // drop them (an unnamed row scores 0); fluent copies score above it
    NgramLmStore.build(history, "doc_id", "text", p, hiMicro = 10000L)
    NgramLmStore.build(history, "doc_id", "text", q, hiMicro = 10000L)
    val (store, oracle) = (NgramLmStore.open(spark, p), NgramLmStore.open(spark, q))
    drive(store, oracle)((o, b, t) =>
      TextStoreOracle.keepBand(o, b, "doc_id", "text", t))(
      (o, kept, t) => TextStoreOracle.ngramLm(o, kept, "text", t))
    sameLayout(store.log, oracle.log)
  }

  /** The analyzed plans of every query `body` runs, captured by a
    * `QueryExecutionListener`; a marker job ([[JobCount]]) flushes the
    * listener queue before they are read. */
  private def plansOf(body: => Unit): Seq[LogicalPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(qe.analyzed); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; JobCount.of(spark, "plans-flush")(()) }
    finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** The executed plans of every query `body` runs. */
  private def executedOf(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(qe.executedPlan); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; JobCount.of(spark, "plans-flush")(()) }
    finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** Every physical node of `p`: through adaptive plans, their query
    * stages, subqueries and the plans of the caches they scan. */
  private def physical(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    p +: (p.children ++ p.subqueries ++ inner).flatMap(physical)
  }

  /** A gate's shuffles past the batch fan-out, and its Bloom filters. */
  private def batchBoundFindings(plan: SparkPlan): Seq[String] =
    physical(plan).flatMap {
      case e: ShuffleExchangeExec if e.shuffleOrigin != REPARTITION_BY_NUM =>
        Seq(s"shuffle ${e.shuffleOrigin}: ${e.outputPartitioning}")
      case n => n.expressions.flatMap(_.collect {
        case a if a.getClass.getSimpleName.contains("BloomFilter") =>
          s"bloom filter in ${n.nodeName}"
      })
    }

  it("a small-batch NearDupIndex or SubstrIndex gate shuffles only the " +
     "batch's fan-out and builds no Bloom filter; the distributed gate " +
     "does both") {
    val nd = NearDupIndex.build(history, "doc_id", "text", tmp("nd-shape"))
    val ss = SubstrIndex.build(history, "doc_id", "text", tmp("ss-shape"), k = 6)
    for ((name, store) <- Seq[(String, IngestIndex)]("NearDupIndex" -> nd,
        "SubstrIndex" -> ss)) withClue(s"$name: ") {
      def findings(limit: Option[String]) = onPath(limit)(
        executedOf { store.gate(b2, "doc_id", "text", None); () }
      ).flatMap(batchBoundFindings)
      findings(None) shouldBe empty
      // the audit sees what the distributed plan runs
      val big = findings(Some("-1"))
      big.exists(_.startsWith("shuffle")) shouldBe true
      big.exists(_.startsWith("bloom")) shouldBe true
    }
  }

  it("the small-batch gates' literal sets stay out of generated code, " +
     "whatever their size or type") {
    import org.apache.spark.sql.execution.debug._
    val dir = tmp("inset")
    val day = java.time.LocalDate.ofEpochDay(_)
    Seq((7, 70L, "q", day(7))).toDF("i", "l", "s", "d").write.parquet(dir)
    val rows = spark.read.parquet(dir)
    // few values (an `In` would inline them) of each id type, a null, and
    // the negated form the NearDup gate keeps null ids with; an int or a
    // date set would compile to an inlining switch
    for ((c, values) <- Seq("i" -> Seq(987651, 7, null), "l" -> Seq(987652L, 70L),
        "s" -> Seq("zq987653", "q"), "d" -> Seq(day(98765), day(7))))
        withClue(s"$c: ") {
      val in = rows.where(Bridge.inSet(rows, col(c), values))
      val out = rows.where(col(c).isNull ||
        !Bridge.inSet(rows, col(c), values.take(1)))
      in.count() shouldBe 1L
      out.count() shouldBe 1L
      for (q <- Seq(in, out)) {
        val code = q.queryExecution.debug.codegenToSeq().map(_._2).mkString
        code should not include "98765"
      }
    }
  }

  private def nodes(p: LogicalPlan): Seq[LogicalPlan] =
    p +: (p.children ++ p.innerChildren.collect { case c: LogicalPlan => c })
      .flatMap(nodes)

  /** What a feature derivation leaves in a plan: a read of the text
    * column, an md5 (shingle and window digests), a tokenizer split. */
  private def derivations(plan: LogicalPlan): Seq[String] =
    nodes(plan).flatMap { n =>
      n.references.filter(_.name == "text").map(a => s"reads $a in ${n.nodeName}") ++
        n.expressions.flatMap(_.collect {
          case m: Md5 => s"md5 in ${n.nodeName}: $m"
          case s: StringSplit if (s.regex match {
            case Literal(r, _) => r != null && r.toString != " "
            case _ => true
          }) => s"tokenizer split in ${n.nodeName}: $s"
        })
    }

  it("no text-gate append plan derives features: append(gated) reads " +
     "neither text nor md5s nor tokens, only the gate's features") {
    val nd = NearDupIndex.build(history, "doc_id", "text", tmp("nd-audit"))
    val ss = SubstrIndex.build(history, "doc_id", "text", tmp("ss-audit"), k = 6)
    val lm = NgramLmStore.build(history, "doc_id", "text", tmp("lm-audit"))
    Seq[(String, IngestIndex, String)](("NearDupIndex", nd, "__ds"),
      ("SubstrIndex", ss, "__dgs"), ("NgramLmStore", lm, "__bgs"))
      .foreach { case (name, store, feature) =>
        val gated = store.gate(b1, "doc_id", "text", Some("audit#1"))
        val plans = plansOf(store.append(gated, Some("audit#1")))
        withClue(s"$name append plans: ") {
          // the relation writes were captured: they read the feature
          plans.exists(p => nodes(p).exists(_.references.exists(
            _.name == feature))) shouldBe true
          plans.flatMap(derivations) shouldBe empty
        }
      }
  }
}
