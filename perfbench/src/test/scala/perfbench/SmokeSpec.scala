package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every workload at a tiny size: a broken workload, a wrong answer or a
  * metric missing from BENCHMARK.json fails here in seconds, not in a
  * benchmark run.
  */
class SmokeSpec extends AnyFunSuite {
  private val tiny = Sizes(files = 200, pool = 14, batchSpecs = 7, maxBatches = 9)
  private val work = "target/smoke-work"

  private def run(workload: String, trace: Boolean): Ctx =
    Main.run(Main.Opts(workload = workload, seed = 7L, seconds = 1.0, trace = trace,
      workDir = work, sizes = tiny))

  /** metric names BENCHMARK.json declares in one of its metric lists */
  private def declared(list: String): Seq[String] = {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val body = json.substring(json.indexOf("\"" + list + "\""))
    val block = body.substring(body.indexOf('['), body.indexOf(']') + 1)
    "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(block).map(_.group(1)).toSeq
  }

  Workloads.Names.foreach { w =>
    test(s"$w: every operation of a tiny run answers correctly") {
      val c = run(w, trace = false)
      assert(c.out.attempted.get > 0)
      assert(c.out.failed.get == 0, c.out.failures.mkString("; "))
      val m = Main.endToEnd(c)
      assert(m.map(_._1) == declared("end_to_end"))
      m.foreach { case (n, v, _) => assert(v > 0 && !v.isInfinite, s"$n = $v") }
    }
  }

  test("traced run: every per-layer metric, spans covering their operations") {
    val c = run("serve", trace = true)
    assert(c.out.failed.get == 0, c.out.failures.mkString("; "))
    val m = Layers.compute(c).map(x => x._1 -> x._2).toMap
    assert(m.keys.toSet == declared("per_layer").toSet)
    assert(m("trace.coverage_min") >= 0.9)
    assert(m.forall { case (_, v) => !v.isNaN })
    val queries = c.tr.spans.filter(_.name == "search.query")
    assert(queries.nonEmpty && queries.forall(q => c.tr.coverage(q) >= 0.9))
  }

  test("answers: rounding ties may swap places, wrong documents may not") {
    val want = Answer.Ranked(Seq(1L -> 2.0, 2L -> (2.0 + 1e-13), 3L -> 1.0))
    assert(Answer.same(Answer.Ranked(Seq(2L -> (2.0 + 1e-13), 1L -> 2.0, 3L -> 1.0)), want))
    assert(!Answer.same(Answer.Ranked(Seq(1L -> 2.0, 2L -> 2.0, 3L -> 1.5)), want))
    assert(!Answer.same(Answer.Ranked(Seq(1L -> 2.0, 4L -> 2.0, 3L -> 1.0)), want))
    assert(!Answer.same(Answer.Ranked(Seq(1L -> 2.0, 2L -> 2.0)), want))
    assert(!Answer.same(Answer.Count(3), Answer.Count(4)))
    assert(!Answer.same(Answer.RowSet(Seq(1L -> 5L)), Answer.RowSet(Seq(1L -> 6L))))
  }
}
