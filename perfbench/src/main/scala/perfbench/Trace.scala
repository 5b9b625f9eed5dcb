package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed interval around one call into a layer. Spans of one request
  * share `req`; `parent` is the span that was open on the same thread.
  */
final class Span(val id: Long, val name: String, val parent: Long, val req: Long,
                 val startNs: Long) {
  @volatile var endNs: Long = 0L
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span: the listener sums task metrics of
  * every job started while the span's job group was set.
  */
final class SparkWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedWaitMs = 0L
  var inputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spillBytes = 0L
  /** task durations per stage, for the skew of the widest stage */
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.HashMap.empty
  /** job intervals (wall-clock ms) */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; schedWaitMs += o.schedWaitMs
    inputBytes += o.inputBytes; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spillBytes += o.spillBytes
    o.stageTaskMs.foreach { case (s, ds) => stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ds }
    jobIntervals ++= o.jobIntervals
  }

  /** max ÷ median task time in the stage with the most tasks */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ds = stageTaskMs.values.maxBy(_.length).sorted
      val med = math.max(1L, ds(ds.length / 2))
      ds.last.toDouble / med
    }
}

/** Sums stage and task metrics per job group. Runs on Spark's listener
  * thread; read it only after [[Tracer.drain]].
  */
final class SpanListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]
  val work: mutable.Map[String, SparkWork] = mutable.HashMap.empty

  private def of(g: String): SparkWork = work.getOrElseUpdate(g, new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(Tracer.GroupPrefix)).foreach { g =>
      of(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
      jobGroup(e.jobId) = (g, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobGroup.remove(e.jobId).foreach { case (g, t0) => of(g).jobIntervals += ((t0, e.time)) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageGroup.get(e.stageInfo.stageId).foreach(of(_).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageGroup.get(e.stageId).foreach { g =>
      val w = of(g)
      val m = e.taskMetrics
      w.tasks += 1
      if (m != null) {
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.inputBytes += m.inputMetrics.bytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spillBytes += m.diskBytesSpilled
      }
      stageSubmitted.get(e.stageId).foreach(s => w.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      w.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
}

/** Span recorder. Disabled, it runs the body and records nothing. Enabled,
  * each span sets a Spark job group named after itself, so the listener can
  * attribute Spark work to it; spans stay in memory until [[write]].
  * Workloads trace every other operation (`op(traced = …)`), so one run
  * yields both traced and untraced timings of the same operations.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0L)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private val on = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.TRUE
  }
  /** wall-clock ms minus nanoTime ms, to place listener job times on span time */
  val wallOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6
  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None

  def spans: Seq[Span] = { val b = mutable.ArrayBuffer.empty[Span]; recorded.forEach(b += _); b.toSeq }

  def current: Option[Span] = stack.get.headOption

  /** Run one workload operation, traced or not; returns its own duration. */
  def op[T](name: String, req: Long, traced: Boolean)(body: => T): (T, Double) = {
    val prev = on.get
    on.set(traced)
    try {
      val t0 = System.nanoTime()
      val out = span(name, req)(body)
      (out, (System.nanoTime() - t0) / 1e6)
    } finally on.set(prev)
  }

  def span[T](name: String, req: Long = -1L)(body: => T): T = {
    if (!enabled || !on.get) return body
    val parent = stack.get.headOption
    val s = new Span(ids.incrementAndGet(), name, parent.map(_.id).getOrElse(0L),
      if (req >= 0) req else parent.map(_.req).getOrElse(-1L), System.nanoTime())
    stack.set(s :: stack.get)
    sc.setJobGroup(Tracer.GroupPrefix + s.id, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.set(stack.get.tail)
      parent match {
        case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name)
        case None => sc.clearJobGroup()
      }
      recorded.add(s)
    }
  }

  /** Spans are being recorded on this thread. */
  def active: Boolean = enabled && on.get

  /** Attach a counter to the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (active) current.foreach(_.counters(key) = v)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  /** Spark work of a span and all its descendants. */
  def work(s: Span): SparkWork = {
    val out = new SparkWork
    listener.foreach { l => descendants(s).foreach(d => l.work.get(Tracer.GroupPrefix + d.id).foreach(out.add)) }
    out
  }

  private lazy val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)

  def descendants(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(descendants)

  /** Share of a span's wall time covered by its child spans. */
  def coverage(s: Span): Double = {
    val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
    if (s.endNs <= s.startNs) 1.0 else Tracer.covered(kids, s.startNs, s.endNs).toDouble / (s.endNs - s.startNs)
  }

  /** Duration minus the part of it covered by child spans or, for a leaf
    * span, by the Spark jobs it started.
    */
  def selfMs(s: Span): Double = {
    val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
    val jobs = if (kids.nonEmpty) Nil else listener.toSeq.flatMap(_.work.get(Tracer.GroupPrefix + s.id))
      .flatMap(_.jobIntervals).map { case (a, b) =>
        (((a - wallOffsetMs) * 1e6).toLong, ((b - wallOffsetMs) * 1e6).toLong) }
    (s.endNs - s.startNs - Tracer.covered(kids ++ jobs, s.startNs, s.endNs)) / 1e6
  }

  /** Write every span, one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      val w = work(s)
      val c = s.counters.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        s""""start_ms":${Json.num(s.startNs / 1e6)},"end_ms":${Json.num(s.endNs / 1e6)},""" +
        s""""self_ms":${Json.num(selfMs(s))},"jobs":${w.jobs},"tasks":${w.tasks},""" +
        s""""exec_run_ms":${w.runMs},"exec_cpu_ms":${Json.num(w.cpuNs / 1e6)},""" +
        s""""input_bytes":${w.inputBytes},"shuffle_write_bytes":${w.shuffleWrite},""" +
        s""""counters":{$c}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}

/** Minimal JSON number formatting: finite doubles with all their digits. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
