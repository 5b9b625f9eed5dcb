package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, named after the library's modules.
  * Timings come from the spans the benchmark wraps around public calls;
  * Spark work (CPU, bytes, tasks, skew) from the listener's per-span sums.
  */
object Layers {
  private def med(xs: Iterable[Double]): Double = {
    val m = Stats.median(xs.toSeq)
    if (m.isNaN) 0.0 else m
  }

  def compute(c: Ctx): Seq[(String, Double, String)] = {
    val tr = c.tr
    tr.drain()
    val spans = tr.spans
    def named(n: String) = spans.filter(_.name == n)
    def child(s: Span, n: String) = spans.filter(k => k.parent == s.id && k.name == n)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]
    def put(n: String, v: Double, u: String): Unit = out += ((n, v, u))

    Seq("tokenize.mb_per_s", "core.decode_postings_per_s", "core.bytes_per_posting")
      .foreach(n => put(n, c.layer(n)._1, c.layer(n)._2))

    // build: the window's builds where the workload has them, else set-up's
    val builds = { val w = named("build.build").filter(_.req >= 0); if (w.nonEmpty) w else named("build.build") }
    val bw = builds.map(s => (s, tr.work(s)))
    put("build.cold_s", c.buildColdS, "s")
    put("build.exec_cpu_s", med(bw.map(_._2.cpuNs / 1e9)), "s")
    put("build.exec_run_s", med(bw.map(_._2.runMs / 1e3)), "s")
    put("build.gc_s", med(bw.map(_._2.gcMs / 1e3)), "s")
    put("build.sched_wait_s", med(bw.map(_._2.schedWaitMs / 1e3)), "s")
    put("build.input_bytes", med(bw.map(_._2.inputBytes.toDouble)), "B")
    put("build.shuffle_write_bytes", med(bw.map(_._2.shuffleWrite.toDouble)), "B")
    put("build.shuffle_read_bytes", med(bw.map(_._2.shuffleRead.toDouble)), "B")
    put("build.spill_bytes", med(bw.map(_._2.spillBytes.toDouble)), "B")
    put("build.task_skew", med(bw.map(_._2.taskSkew)), "ratio")
    put("build.jobs", med(bw.map(_._2.jobs.toDouble)), "count")
    put("build.stages", med(bw.map(_._2.stages.toDouble)), "count")
    put("build.files_written", med(builds.map(_.counters.getOrElse("files_written", 0.0))), "count")
    put("build.idle_core_frac", med(bw.map { case (s, w) => 1.0 - w.runMs / (s.ms * c.cores) }), "ratio")

    // search: every solo query after set-up (window, parity checks, probes)
    val inSetup = named("setup").flatMap(tr.descendants).map(_.id).toSet
    val qs = named("search.query").filterNot(q => inSetup(q.id))
    val qw = qs.map(s => (s, tr.work(s)))
    val plans = qs.flatMap(child(_, "search.plan"))
    put("search.plan_ms", med(plans.map(_.ms)), "ms")
    put("search.plan_jobs", plans.map(p => tr.work(p).jobs.toDouble).sum / math.max(1, plans.length), "count")
    put("search.exec_ms", med(qs.flatMap(child(_, "search.exec")).map(_.ms)), "ms")
    put("search.exec_cpu_ms", med(qw.map(_._2.cpuNs / 1e6)), "ms")
    put("search.scan_bytes", med(qw.map(_._2.inputBytes.toDouble)), "B")
    put("search.scan_files", med(qs.flatMap(_.counters.get("scan_files"))), "count")
    put("search.shuffle_bytes", med(qw.map(_._2.shuffleWrite.toDouble)), "B")
    put("search.tasks", med(qw.map(_._2.tasks.toDouble)), "count")
    put("search.sched_wait_ms", med(qw.map(_._2.schedWaitMs.toDouble)), "ms")
    Shape.Kinds.foreach { k =>
      put(s"search.op.${k}_p50_ms", med(qs.filter(_.counters.contains("kind." + k)).map(_.ms)), "ms")
    }

    // msearch: fused batches (window and probe)
    val bs = named("msearch.batch")
    val mw = bs.map(tr.work)
    put("msearch.plan_ms", med(bs.flatMap(child(_, "msearch.plan")).map(_.ms)), "ms")
    put("msearch.exec_ms", med(bs.flatMap(child(_, "msearch.exec")).map(_.ms)), "ms")
    put("msearch.exec_cpu_ms", med(mw.map(_.cpuNs / 1e6)), "ms")
    put("msearch.scan_bytes", med(mw.map(_.inputBytes.toDouble)), "B")
    put("msearch.shuffle_bytes", med(mw.map(_.shuffleWrite.toDouble)), "B")
    put("msearch.task_skew", med(mw.map(_.taskSkew)), "ratio")

    // ingest: the window's commits, or the probe's single append
    val ing = c.ingest.getOrElse(IngestStats(Nil, Nil, Nil, Nil))
    val plain = ing.appends.filterNot(_._2).map(_._1)
    val compacting = ing.appends.filter(_._2).map(_._1)
    put("ingest.append_ms", med(plain), "ms")
    put("ingest.compact_ms", c.layer.get("ingest.compact_ms").map(_._1)
      .getOrElse(if (compacting.isEmpty) 0.0 else med(compacting) - med(plain)), "ms")
    put("ingest.compactions", c.layer.get("ingest.compact_ms").map(_ => 1.0)
      .getOrElse(compacting.length.toDouble), "count")
    put("ingest.open_ms", med(ing.opens), "ms")
    put("ingest.runs_per_shard_max", ing.runsMax.maxOption.getOrElse(0).toDouble, "count")
    put("ingest.files_in_snapshot", med(ing.files.map(_.toDouble)), "count")
    val commits = named("ingest.commit").map(_.id).toSet
    put("ingest.query_scan_bytes", med(qw.filter(q => commits(q._1.parent)).map(_._2.inputBytes.toDouble)), "B")

    put("jvm.jit_ms", ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble, "ms")
    put("jvm.gc_s", ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum / 1e3, "s")

    // tracing itself: traced minus untraced window operations, and how much
    // of each operation's wall time its child spans account for
    val ops = { val b = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]; c.opTimes.forEach(b += _); b }
    val on = med(ops.filter(_._2).map(_._1))
    val off = med(ops.filterNot(_._2).map(_._1))
    put("trace.overhead_ms", on - off, "ms")
    put("trace.overhead_frac", if (off > 0) (on - off) / off else 0.0, "ratio")
    val covered = spans.filter(s => CoverageChecked(s.name))
    put("trace.coverage_min", covered.map(tr.coverage).minOption.getOrElse(1.0), "ratio")
    put("trace.op_self_ms", med(spans.filter(s => OpSpans(s.name)).map(tr.selfMs)), "ms")
    out.toSeq
  }

  /** Top-level window operations. */
  val OpSpans: Set[String] = Set("build.op", "serve.request", "msearch.batch", "ingest.commit")

  /** Spans whose children must account for their wall time. */
  val CoverageChecked: Set[String] = OpSpans ++ Set("search.query", "build.run")

  /** One line per span name: count, median duration and median self time. */
  def summary(c: Ctx): Seq[String] =
    c.tr.spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      f"perfbench: span $n%-20s n=${ss.length}%5d p50=${med(ss.map(_.ms))}%10.2f ms " +
        f"self p50=${med(ss.map(c.tr.selfMs))}%10.2f ms coverage min=${ss.map(c.tr.coverage).min}%.3f"
    }
}
