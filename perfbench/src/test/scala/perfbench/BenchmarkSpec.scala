package perfbench

import java.io.File
import java.nio.file.Files

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Runs the proto_report workload end to end for three seconds, traced and
  * untraced, and with injected bad inputs. */
class BenchmarkSpec extends AnyFunSuite {

  private val NamePattern = "[A-Za-z0-9_.-]+".r

  private lazy val declared: JValue = {
    val f = new File("../BENCHMARK.json")
    JsonMethods.parse(new String(Files.readAllBytes(f.toPath), "UTF-8"))
  }

  private def declaredMetrics(key: String): Map[String, String] =
    (declared \ key).children.map(m =>
      (m \ "name").asInstanceOf[JString].s -> (m \ "unit").asInstanceOf[JString].s).toMap

  private def run(trace: Boolean, inject: Option[String] = None): JValue = {
    val work = Files.createTempDirectory("perfbench-spec").toFile
    val r = Main.run(Options("proto_report", 11L, 3, trace, work,
      Some(new File(work, "trace.jsonl")), inject))
    JsonMethods.parse(r.json)
  }

  private def metrics(j: JValue): Map[String, (Double, String)] =
    (j \ "metrics").asInstanceOf[JObject].obj.map { case (k, v) =>
      k -> ((v \ "value") match {
        case JDouble(d) => d
        case JInt(i) => i.toDouble
        case other => fail(s"$k: value $other")
      }, (v \ "unit").asInstanceOf[JString].s)
    }.toMap

  test("the catalog matches BENCHMARK.json, name for name and unit for unit") {
    assert(Catalog.EndToEnd.map(m => m.name -> m.unit).toMap == declaredMetrics("end_to_end"))
    assert(Catalog.PerLayer.map(m => m.name -> m.unit).toMap == declaredMetrics("per_layer"))
    assert((declared \ "workloads").children.map(w => (w \ "name").asInstanceOf[JString].s) ==
      Catalog.Workloads.toList)
  }

  test("an untraced run emits exactly the declared end-to-end metrics, and checks pass") {
    val j = run(trace = false)
    val ms = metrics(j)
    assert(ms.keySet.forall(n => NamePattern.matches(n)))
    assert(ms.map { case (k, v) => k -> v._2 } == declaredMetrics("end_to_end"))
    assert(j \ "correct" == JBool(true) && j \ "failed" == JInt(0))
    assert(ms("ok_frac")._1 == 1.0)
  }

  test("a traced run emits exactly the declared per-layer metrics") {
    val ms = metrics(run(trace = true))
    assert(ms.keySet.forall(n => NamePattern.matches(n)))
    assert(ms.map { case (k, v) => k -> v._2 } == declaredMetrics("per_layer"))
    assert(ms("io.rows_gated_frac")._1 > 0.0 && ms("io.fields_skipped_frac")._1 > 0.0)
  }

  for (kind <- Seq("corrupt_proto", "bad_hash"))
    test(s"an injected $kind counts as a failed op instead of crashing or passing") {
      val j = run(trace = false, inject = Some(kind))
      assert(j \ "correct" == JBool(false))
      assert((j \ "failed").asInstanceOf[JInt].num > 0)
      assert(metrics(j)("ok_frac")._1 < 1.0)
    }
}
