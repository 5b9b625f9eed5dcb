package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The rumspark benchmark. One run = one workload for one seed:
  *
  * {{{
  * perfbench.Main --workload build|serve|msearch|ingest --seed N --seconds S --trace 0|1
  *                [--work-dir DIR]
  * }}}
  *
  * Set-up generates the seed's corpus, builds what the workload needs and
  * computes brute-force answers; the window then runs the workload for S
  * seconds, checking every answer. The last stdout line is one JSON object
  * {correct, attempted, failed, metrics}: end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`.
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
                        trace: Boolean = false, workDir: String = ".bench_build/work",
                        sizes: Sizes = Sizes())

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work-dir" :: v :: t => parse(t, o.copy(workDir = v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def session(workDir: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run one workload; returns the finished context. The heap is sampled
    * once the workload has returned, when only what it hands back in its
    * [[WindowEnd]] is still reachable; the traced probes run after that.
    */
  def run(o: Opts): Ctx = {
    require(Workloads.Names.contains(o.workload),
      s"--workload must be one of ${Workloads.Names.mkString(", ")}")
    val uptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val t0 = System.nanoTime()
    val root = Paths.get(o.workDir).toAbsolutePath
    val dir = root.resolve(s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    Files.createDirectories(dir)
    val spark = session(root)
    // JVM start and session start are set-up: fold both into the uptime
    val startS = uptimeS + (System.nanoTime() - t0) / 1e9
    val c = new Ctx(spark, o.workload, o.seed, o.seconds, o.trace, o.sizes, dir)
    try {
      val end = o.workload match {
        case "build" => Workloads.build(c, startS)
        case "serve" => Workloads.serve(c, startS)
        case "msearch" => Workloads.msearch(c, startS)
        case "ingest" => Workloads.ingest(c, startS)
      }
      Heap.sample()
      if (o.trace) Probes.all(c, Workloads.reload(c, end.attach, end.appended), end.index, end.attach,
        ingestDone = o.workload == "ingest")
      java.lang.ref.Reference.reachabilityFence(end.program)
      c
    } finally Workloads.delete(dir.toString)
  }

  /** End-to-end metrics: the same names on every workload, each mapped to
    * the workload's own measure (see perfbench/README.md).
    */
  def endToEnd(c: Ctx): Seq[(String, Double, String)] = {
    val (rate, p50) = c.workload match {
      case "build" => ("build_warm_files_per_s", "build_warm_p50_ms")
      case "serve" => ("serve_qps", "serve_p50_ms")
      case "msearch" => ("msearch_qps", "msearch_batch_p50_ms")
      case "ingest" => ("ingest_files_per_s", "ingest_append_p50_ms")
    }
    Seq(
      ("setup_s", c.setupS, "s"),
      ("throughput_per_s", c.report(rate)._1, "1/s"),
      ("latency_p50_ms", c.report(p50)._1, "ms"),
      ("index_bytes_per_content_byte", c.indexBytesPerContentByte, "B/B"),
      ("heap_after_gc_mb", Heap.mb, "MB"))
  }

  def main(args: Array[String]): Unit = {
    val o = try parse(args.toList) catch {
      case e: Exception => System.err.println(e.getMessage); sys.exit(2)
    }
    val c = try run(o) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${o.workload} failed in set-up or teardown: $e")
        e.printStackTrace()
        sys.exit(1)
    }
    c.put("setup_s", c.setupS, "s", 1)
    c.put("build_cold_s", c.buildColdS, "s", 1)
    c.put("index_bytes_per_content_byte", c.indexBytesPerContentByte, "B/B", 1)
    c.put("heap_after_gc_mb", Heap.mb, "MB", 1)
    c.put("oracle_s", c.oracleS, "s", 1)
    val attempted = c.out.attempted.get
    val failed = c.out.failed.get
    c.put("failed_op_ratio", failed.toDouble / math.max(1L, attempted), "ratio", attempted)
    val metrics =
      if (o.trace) {
        val ls = Layers.compute(c)
        val trace = Paths.get(o.workDir).toAbsolutePath.getParent.resolve("trace")
          .resolve(s"${o.workload}-${o.seed}.jsonl")
        c.tr.write(trace)
        System.err.println(s"perfbench: spans written to $trace")
        Layers.summary(c).foreach(System.err.println)
        ls
      } else endToEnd(c)
    c.out.failures.foreach(f => System.err.println(s"perfbench: FAILED $f"))
    val report = c.report.map { case (k, (v, u, n)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u","n":$n}""" }.mkString(",")
    println(s"""{"workload":"${o.workload}","seed":${o.seed},"trace":${o.trace},"report":{$report}}""")
    val ms = metrics.map { case (k, v, u) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,"failed":$failed,"metrics":{$ms}}""")
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

/** Heap in use after a full collection at the end of the window: the
  * live set the workload leaves behind (the session, the Searcher with its
  * plans and caches). The benchmark's oracle data is out of reach by then.
  */
object Heap {
  @volatile private var used = 0L

  def sample(): Unit = {
    System.gc()
    used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def mb: Double = used / 1048576.0
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1))) }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; val n = s.length; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
}
