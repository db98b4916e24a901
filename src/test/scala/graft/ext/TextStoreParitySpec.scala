package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Literal, Md5, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.GraftSpec

/** The two-phase [[IngestIndex]] contract on the three text stores:
  *  - parity: three batches (one replayed under its token) through
  *    `gate` + `append(gated, token)` leave row-identical relations and
  *    identical commits (stats included) next to the pre-hand-over
  *    gate and append, which picked the kept rows with a join of their
  *    own and re-derived features from their text ([[TextStoreOracle]]),
  *    and both gates keep the same rows — null ids included;
  *  - plan audit: the queries an `append(gated, token)` runs never read
  *    the text column, never compute an md5 (shingle or window digest)
  *    and never split text into tokens — the features come from the
  *    gate.
  */
class TextStoreParitySpec extends GraftSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-parity-$tag")
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
      (Some(900002L), ""), (None, textOf(1L)), (None, textOf(5000L)))
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

  private def drive[I <: IngestIndex](store: I, oracle: I)(
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

  it("NearDupIndex: gate + append(gated) equals the text-derived append " +
     "(digests/, bands/, counts/ and commit stats) over three batches and " +
     "a replay") {
    val (p, q) = (tmp("nd-new"), tmp("nd-old"))
    NearDupIndex.build(history, "doc_id", "text", p)
    NearDupIndex.build(history, "doc_id", "text", q)
    val (store, oracle) = (NearDupIndex.open(spark, p), NearDupIndex.open(spark, q))
    drive(store, oracle)((o, b, t) =>
      TextStoreOracle.keepUnseen(o, b, "doc_id", "text", t))(
      (o, kept, t) => TextStoreOracle.nearDup(o, kept, "doc_id", "text", t))
    sameLayout(store.log, oracle.log)
  }

  it("SubstrIndex: gate + append(gated) equals the text-derived append " +
     "(digests/ and commit stats) over three batches and a replay") {
    val (p, q) = (tmp("ss-new"), tmp("ss-old"))
    SubstrIndex.build(history, "doc_id", "text", p, k = 6)
    SubstrIndex.build(history, "doc_id", "text", q, k = 6)
    val (store, oracle) = (SubstrIndex.open(spark, p), SubstrIndex.open(spark, q))
    drive(store, oracle)((o, b, t) =>
      TextStoreOracle.keepFresh(o, b, "doc_id", "text", t))(
      (o, kept, t) => TextStoreOracle.substr(o, kept, "doc_id", "text", t))
    sameLayout(store.log, oracle.log)
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
