package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.build.{IndexBuilder, IndexMeta, PostingRow, SegmentCatalog}
import graft.core.PostingCursor
import graft.search.Searcher
import graft.sources.CorpusGen
import graft.tokenize.Tokenizer

/** Sizes of one run. The defaults are the benchmark; tests shrink them. */
final case class Sizes(files: Int = 3000, pool: Int = 200, batchSpecs: Int = 24,
                       maxBatches: Int = 24) {
  /** ingest batch: 1% of the base corpus */
  def batchFiles: Int = math.max(1, files / 100)
}

/** Operation outcomes of a timed window, shared by client threads. */
final class Outcomes {
  val attempted = new AtomicLong(0L)
  val failed = new AtomicLong(0L)
  private val lat = mutable.ArrayBuffer.empty[Double]
  private val notes = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def latency(ms: Double): Unit = synchronized { lat += ms }
  def latencies: Seq[Double] = synchronized { lat.toSeq }

  /** Count one checked operation; a mismatch or exception is a failure. */
  def check(what: => String, ok: Boolean): Unit = {
    attempted.incrementAndGet()
    if (!ok) { failed.incrementAndGet(); if (notes.size < 20) notes.add(what) }
  }
  def fail(what: String, e: Throwable): Unit = {
    attempted.incrementAndGet(); failed.incrementAndGet()
    if (notes.size < 20) notes.add(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
  }
  def failures: Seq[String] = { val b = mutable.ArrayBuffer.empty[String]; notes.forEach(b += _); b.toSeq }
}

/** Everything one workload run shares: session, tracer, work directory,
  * the set-up clock and the oracle clock (oracle time is not set-up time).
  */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val traced: Boolean, val sizes: Sizes, val dir: Path) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val tr = new Tracer(traced, spark.sparkContext)
  val out = new Outcomes
  val report = mutable.LinkedHashMap.empty[String, (Double, String, Long)] // name -> (value, unit, n)
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val oracleNs = new AtomicLong(0L)
  val setupStartNs: Long = System.nanoTime()
  var setupS: Double = 0.0
  var buildColdS: Double = 0.0
  var indexBytesPerContentByte: Double = 0.0
  var ingest: Option[IngestStats] = None

  def oracleS: Double = oracleNs.get / 1e9
  def oracle[T](body: => T): T = {
    val t0 = System.nanoTime()
    try tr.span("oracle")(body) finally oracleNs.addAndGet(System.nanoTime() - t0)
  }

  /** Set-up ends: JVM uptime before the run began plus the run's set-up
    * wall, minus time spent computing oracle answers.
    */
  def endSetup(jvmUptimeS: Double): Unit = {
    setupS = jvmUptimeS + (System.nanoTime() - setupStartNs) / 1e9 - oracleS
  }

  /** (ms, traced) of every window operation */
  val opTimes = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Boolean)]()

  /** One window operation, timed and, on traced runs, every other one traced. */
  def op[T](name: String, req: Long)(body: => T): T = {
    val traced = traceOp(req)
    val (out, ms) = tr.op(name, req, traced)(body)
    opTimes.add((ms, traced))
    out
  }

  def put(name: String, value: Double, unit: String, n: Long): Unit = report(name) = (value, unit, n)

  def sub(name: String): String = dir.resolve(name).toString

  /** Traced runs trace every other operation, so the same run also times
    * the operation untraced (the difference is the tracing overhead).
    */
  def traceOp(i: Long): Boolean = traced && i % 2 == 1
}

/** What an ingest run saw per commit: append time and whether it
  * compacted, Searcher open time, and manifest shape.
  */
final case class IngestStats(appends: Seq[(Double, Boolean)], opens: Seq[Double],
                             runsMax: Seq[Int], files: Seq[Int])

/** What a workload's window leaves: the library objects a live service
  * would still hold (kept reachable through the heap sample), and the
  * index the traced probes run over with the number of files appended to
  * the base corpus. Oracle data is not here, so the heap sample does not
  * count it.
  */
final case class WindowEnd(program: AnyRef, index: String, attach: Boolean, appended: Int)

/** Corpus rows with their oracle documents. */
final case class Corpus(df: DataFrame, docs: IndexedSeq[Doc], contents: IndexedSeq[String]) {
  def contentBytes: Long = contents.iterator.map(_.length.toLong).sum
}

object Workloads {
  val Names: Seq[String] = Seq("build", "serve", "msearch", "ingest")

  /** Row offset of a seed's corpus: every seed gets its own files. */
  def offset(seed: Long): Long = (seed & 0xffffffL) * 100000000L

  private def rows(spark: SparkSession, from: Long, n: Int, parts: Int): DataFrame = {
    import spark.implicits._
    val df = spark.range(from, from + n, 1, parts).map(i => CorpusGen.genRow(i))
      .toDF("repo", "path", "commit", "lang", "content")
    CorpusGen.withDocId(df).withColumn("d", pmod(xxhash64(col("doc_id")), lit(100000L)))
  }

  def docsOf(df: DataFrame, attach: Boolean): (IndexedSeq[Doc], IndexedSeq[String]) = {
    val rs = df.select("doc_id", "d", "content").collect()
    val docs = rs.toIndexedSeq.par.map(r =>
      new Doc(r.getLong(0), if (attach) r.getLong(1) else 0L, Tokenizer.code(r.getString(2)))).seq.toIndexedSeq
    (docs, rs.toIndexedSeq.map(_.getString(2)))
  }

  /** The base corpus, written once to parquet and read back, so builds read
    * a table the way they would read a lakehouse source.
    */
  def corpus(c: Ctx, attach: Boolean): Corpus = {
    val path = c.sub("corpus")
    c.tr.span("setup.corpus") {
      rows(c.spark, offset(c.seed), c.sizes.files, c.cores * 2).write.parquet(path)
    }
    val df = c.spark.read.parquet(path)
    val (docs, contents) = c.oracle(docsOf(df, attach))
    val corpus = Corpus(df, docs, contents)
    c.put("corpus_mb", corpus.contentBytes / 1e6, "MB", docs.length)
    corpus
  }

  /** The base corpus again, read back from set-up's parquet, with the
    * first `appended` ingest files: what the traced probes check against
    * once the heap is sampled.
    */
  def reload(c: Ctx, attach: Boolean, appended: Int): Corpus = {
    val df = c.spark.read.parquet(c.sub("corpus"))
    val (docs, contents) = c.oracle(docsOf(df, attach))
    val extra = if (appended == 0) IndexedSeq.empty[Doc] else c.oracle {
      docsOf(rows(c.spark, offset(c.seed) + c.sizes.files, appended, c.cores), attach)._1
    }
    Corpus(df, docs ++ extra, contents)
  }

  /** JIT warm-up: `rounds` rounds of the workload's own work. The count is
    * fixed, not a time budget, so a slow host warms as much as a fast one.
    * The share of the last round's wall time spent compiling is reported
    * (`warmup_jit_frac`), to show whether the JIT had settled.
    */
  def warmUp(c: Ctx, rounds: Int)(round: => Unit): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    var frac = 0.0
    for (_ <- 1 to rounds) {
      val j0 = jit.getTotalCompilationTime
      val t0 = System.nanoTime()
      round
      frac = (jit.getTotalCompilationTime - j0) / ((System.nanoTime() - t0) / 1e6)
    }
    c.put("warmup_jit_frac", frac, "ratio", rounds)
  }

  /** Appended files of ingest batch `b` (and of the probe's extra batch). */
  def batch(c: Ctx, b: Int): DataFrame = {
    val n = c.sizes.batchFiles
    rows(c.spark, offset(c.seed) + c.sizes.files + b.toLong * n, n, math.max(1, math.min(c.cores, n / 50)))
  }

  val BaseParams: Int => IndexBuilder.Params = n =>
    IndexBuilder.Params(nShards = n, tokenizer = "code", attach = Some("d"), altOrder = true)

  /** Build the base index (the first build of the JVM: `build_cold_s`). */
  def baseIndex(c: Ctx, corpus: Corpus, dir: String): IndexMeta = {
    val t0 = System.nanoTime()
    val meta = c.tr.span("build.build") {
      val m = IndexBuilder.build(c.spark, corpus.df, "doc_id", "content", dir, BaseParams(c.cores))
      c.tr.count("files_written", m.dataFiles.valuesIterator.map(_.length).sum)
      m
    }
    c.buildColdS = (System.nanoTime() - t0) / 1e9
    c.indexBytesPerContentByte = dirBytes(dir).toDouble / corpus.contentBytes
    meta
  }

  def dirBytes(dir: String): Long = {
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  def delete(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_)) finally s.close()
    }
  }

  def copy(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val s = Files.walk(src)
    try s.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  /** Answer one shape through its solo call and check it. */
  def query(c: Ctx, s: Searcher, sh: Shape, want: Answer): Unit = {
    val t0 = System.nanoTime()
    try {
      val got = c.tr.span("search.query") { c.tr.count("kind." + sh.kind, 1); Queries.solo(s, sh, c.tr) }
      c.out.latency((System.nanoTime() - t0) / 1e6)
      c.tr.span("check")(c.out.check(s"${sh.kind} '${sh.query}${sh.terms.mkString(",")}'", Answer.same(got, want)))
    } catch { case e: Exception => c.out.fail(s"${sh.kind} ${sh.query}", e) }
  }

  // ---------------------------------------------------------------- build

  def build(c: Ctx, jvmUptimeS: Double): WindowEnd = {
    val params = IndexBuilder.Params(nShards = c.cores, tokenizer = "code")
    /** Build the corpus into `dir`, then validate and check the index;
      * returns the build's own time in ms (validation and check excluded).
      */
    def checked(corpus: Corpus, i: Long, dir: String): Double = {
      val t0 = System.nanoTime()
      val meta = c.tr.span("build.build") {
        val m = IndexBuilder.build(c.spark, corpus.df, "doc_id", "content", dir, params)
        c.tr.count("files_written", m.dataFiles.valuesIterator.map(_.length).sum)
        m
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val issues = c.tr.span("build.validate")(IndexBuilder.validate(c.spark, dir))
      val tokens = corpus.docs.iterator.map(_.len.toLong).sum
      c.tr.span("check")(c.out.check(s"build $i: ${issues.take(3)} docs=${meta.numDocs} tokens=${meta.totalTokens}",
        issues.isEmpty && meta.numDocs == corpus.docs.length && meta.totalTokens == tokens))
      ms
    }
    val cold = c.sub("build-cold")
    val corpus = c.tr.span("setup") {
      val corpus = this.corpus(c, attach = false)
      c.buildColdS = checked(corpus, -1, cold) / 1e3
      c.indexBytesPerContentByte = dirBytes(cold).toDouble / corpus.contentBytes
      // warm-up builds, so the window's builds run on compiled code
      c.tr.span("setup.warmup") {
        warmUp(c, 3) { checked(corpus, -1, c.sub("build-warm")); delete(c.sub("build-warm")) }
      }
      corpus
    }
    c.endSetup(jvmUptimeS)

    val builds = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    var i = 0L
    var last = cold
    while (System.nanoTime() < deadline || builds.isEmpty) {
      val dir = c.sub(s"build-$i")
      c.op("build.op", i) {
        try {
          builds += c.tr.span("build.run") { checked(corpus, i, dir) }
          c.out.latency(builds.last)
        } catch { case e: Exception => c.out.fail(s"build $i", e) }
        c.tr.span("cleanup")(delete(last))
      }
      last = dir
      i += 1
    }
    c.put("build_warm_files_per_s", corpus.docs.length * builds.length / (builds.sum / 1e3), "1/s", builds.length)
    c.put("build_warm_p50_ms", Stats.median(builds.toSeq), "ms", builds.length)
    WindowEnd(null, last, attach = false, 0)
  }

  // ------------------------------------------------------ serve / msearch

  /** Set-up shared by the query workloads: corpus, base index, and the
    * shape pool with its oracle answers.
    */
  private def queryState(c: Ctx): (String, IndexedSeq[Shape], IndexedSeq[Answer]) = {
    val corpus = this.corpus(c, attach = true)
    val dir = c.sub("base")
    baseIndex(c, corpus, dir)
    val oracle = new Oracle(corpus.docs)
    val pool = c.oracle(Queries.pool(oracle, c.sizes.pool, c.seed))
    val answers = c.oracle(pool.par.map(oracle.answer).seq.toIndexedSeq)
    (dir, pool, answers)
  }

  /** Closed-loop serve clients, each in its own FAIR pool. */
  val Clients = 2

  /** Pool shapes planned in set-up: the hottest two of each kind. */
  val HotShapes: Int = 2 * Shape.Kinds.length

  def serve(c: Ctx, jvmUptimeS: Double): WindowEnd = {
    val seen = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]()
    val (dir, pool, answers, searcher) = c.tr.span("setup") {
      val (dir, pool, answers) = queryState(c)
      val hot = 0 until math.min(HotShapes, pool.length)
      c.tr.span("setup.warmup") {
        // planning and kernels compiled: the hottest shape of each kind,
        // freshly planned on a throwaway Searcher each round
        warmUp(c, 4) {
          val s = new Searcher(c.spark, dir)
          hot.take(Shape.Kinds.length).foreach(r => query(c, s, pool(r), answers(r)))
        }
      }
      // a serving Searcher has its hot set planned: the hottest shapes hit
      // the plan cache and term-stats memo, the tail pays planning
      val searcher = new Searcher(c.spark, dir)
      c.tr.span("setup.warmup") {
        hot.foreach { r =>
          query(c, searcher, pool(r), answers(r))
          seen.put(r, true)
        }
      }
      (dir, pool, answers, searcher)
    }
    val warmN = c.out.latencies.length // warm-up latencies are not the window's
    c.endSetup(jvmUptimeS)

    val reqs = new AtomicLong(0L)
    val done = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val deadline = t0 + (c.seconds * 1e9).toLong
    val clients = (0 until Clients).map { k =>
      new Thread(() => {
        c.spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client$k")
        // the same draw order on every seed: a seed changes the corpus the
        // shapes run over, not which ranks miss the plan cache
        val zipf = new Queries.Zipf(pool.length, 31L + k)
        while (System.nanoTime() < deadline) {
          val r = zipf.next()
          val req = reqs.getAndIncrement()
          c.op("serve.request", req) {
            c.tr.count("shape", r)
            c.tr.count("plan_cache_hit", if (seen.putIfAbsent(r, true) == null) 0 else 1)
            query(c, searcher, pool(r), answers(r))
          }
          done.incrementAndGet()
        }
      }, s"perfbench-client-$k")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val lat = c.out.latencies.drop(warmN)
    c.put("serve_qps", done.get / wall, "1/s", done.get)
    c.put("serve_p50_ms", Stats.median(lat), "ms", lat.length)
    c.put("serve_p95_ms", Stats.quantile(lat, 0.95), "ms", lat.length)
    WindowEnd(searcher, dir, attach = true, 0)
  }

  def msearch(c: Ctx, jvmUptimeS: Double): WindowEnd = {
    val (dir, pool, answers) = c.tr.span("setup") {
      val st @ (dir, pool, answers) = queryState(c)
      // JIT warm-up on throwaway Searchers: the hottest shape of each kind
      // solo, then as one freshly planned fused batch
      c.tr.span("setup.warmup") {
        val warm = pool.take(Shape.Kinds.length)
        warmUp(c, 4) {
          val s = new Searcher(c.spark, dir)
          warm.indices.foreach(r => query(c, s, warm(r), answers(r)))
          val got = Queries.slots(warm, s.msearchPlan(warm.map(_.spec)).collect())
          got.indices.foreach(r => c.out.check("warm-up msearch", Answer.same(got(r), Queries.docIdsOnly(answers(r)))))
        }
      }
      st
    }
    val searcher = new Searcher(c.spark, dir)
    c.endSetup(jvmUptimeS)

    val zipf = new Queries.Zipf(pool.length, 31L)
    val batches = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    var b = 0L
    while (System.nanoTime() < deadline || batches.isEmpty) {
      val picks = IndexedSeq.fill(c.sizes.batchSpecs)(zipf.next())
      val shapes = picks.map(pool)
      val traced = c.traceOp(b)
      try {
        val got = c.op("msearch.batch", b) {
          val t0 = System.nanoTime()
          val df = c.tr.span("msearch.plan") {
            val d = searcher.msearchPlan(shapes.map(_.spec)); d.queryExecution.executedPlan; d
          }
          val rows = c.tr.span("msearch.exec")(df.collect())
          batches += (System.nanoTime() - t0) / 1e6
          val got = Queries.slots(shapes, rows)
          c.tr.span("check") {
            got.indices.foreach(j => c.out.check(s"msearch slot ${shapes(j).kind}",
              Answer.same(got(j), Queries.docIdsOnly(answers(picks(j))))))
          }
          got
        }
        // solo parity: one slot per batch, rotating through the batch
        val j = (b % shapes.length).toInt
        c.tr.op("msearch.parity", b, traced) {
          try {
            val solo = c.tr.span("search.query") { c.tr.count("kind." + shapes(j).kind, 1); Queries.solo(searcher, shapes(j), c.tr) }
            c.tr.span("check")(c.out.check(s"msearch slot vs solo ${shapes(j).kind}",
              Answer.same(got(j), Queries.docIdsOnly(solo))))
          } catch { case e: Exception => c.out.fail("msearch solo", e) }
        }
      } catch {
        case e: Exception => (0 until c.sizes.batchSpecs).foreach(_ => c.out.fail(s"msearch batch $b", e))
      }
      b += 1
    }
    val specs = batches.length * c.sizes.batchSpecs
    c.put("msearch_qps", specs / (batches.sum / 1e3), "1/s", specs)
    c.put("msearch_batch_p50_ms", Stats.median(batches.toSeq), "ms", batches.length)
    WindowEnd(searcher, dir, attach = true, 0)
  }

  // --------------------------------------------------------------- ingest

  def ingest(c: Ctx, jvmUptimeS: Double): WindowEnd = {
    val n = c.sizes.maxBatches
    val (live, probes, want) = c.tr.span("setup") {
      val corpus = this.corpus(c, attach = true)
      val base = c.sub("base")
      baseIndex(c, corpus, base)
      val live = c.sub("live")
      c.tr.span("setup.restore")(copy(base, live))
      val extra = c.oracle {
        val all = rows(c.spark, offset(c.seed) + c.sizes.files, c.sizes.batchFiles * n, c.cores)
        docsOf(all, attach = true)._1
      }
      val probes = c.oracle(Queries.pool(new Oracle(corpus.docs), Probes.Count, c.seed ^ 0x1a9eL))
      // want(b) = answers after b appended batches
      val want = c.oracle((0 to n).par.map { b =>
        val o = new Oracle(corpus.docs ++ extra.take(b * c.sizes.batchFiles))
        probes.map(o.answer)
      }.seq.toIndexedSeq)
      c.tr.span("setup.warmup") {
        val scratch = c.sub("warm")
        copy(base, scratch)
        IndexBuilder.append(c.spark, batch(c, n + 1), "doc_id", "content", scratch)
        val s = new Searcher(c.spark, base)
        probes.zip(want(0)).foreach { case (sh, w) => query(c, s, sh, w) }
        delete(scratch)
      }
      (live, probes, want)
    }
    val warmN = c.out.latencies.length
    c.endSetup(jvmUptimeS)

    val appends = mutable.ArrayBuffer.empty[(Double, Boolean)] // (ms, compacted)
    val opens = mutable.ArrayBuffer.empty[Double]
    val runsMax = mutable.ArrayBuffer.empty[Int]
    val files = mutable.ArrayBuffer.empty[Int]
    val t0 = System.nanoTime()
    val deadline = t0 + (c.seconds * 1e9).toLong
    var b = 0
    var searcher: Searcher = null
    while (b < n && (System.nanoTime() < deadline || appends.count(_._2) < 2)) {
      try c.op("ingest.commit", b) {
        val a0 = System.nanoTime()
        val meta = c.tr.span("ingest.append") {
          val m = IndexBuilder.append(c.spark, batch(c, b), "doc_id", "content", live)
          c.tr.count("compacted", if (m.appendRuns == 0) 1 else 0)
          m
        }
        appends += (((System.nanoTime() - a0) / 1e6, meta.appendRuns == 0))
        val o0 = System.nanoTime()
        val s = c.tr.span("ingest.open") {
          val m = SegmentCatalog.load(live).get
          runsMax += runsPerShardMax(m)
          files += m.dataFiles.valuesIterator.map(_.length).sum
          new Searcher(c.spark, live)
        }
        opens += (System.nanoTime() - o0) / 1e6
        searcher = s
        probes.zip(want(b + 1)).foreach { case (sh, w) => query(c, s, sh, w) }
      } catch { case e: Exception => c.out.fail(s"ingest commit $b", e) }
      b += 1
    }
    val appendMs = appends.map(_._1).toSeq
    val q = c.out.latencies.drop(warmN)
    c.put("ingest_files_per_s", appends.length * c.sizes.batchFiles / (appendMs.sum / 1e3), "1/s", appends.length)
    c.put("ingest_append_p50_ms", Stats.median(appendMs), "ms", appends.length)
    c.put("ingest_query_p50_ms", Stats.median(q), "ms", q.length)
    c.put("ingest_compactions", appends.count(_._2), "count", appends.length)
    c.ingest = Some(IngestStats(appends.toSeq, opens.toSeq, runsMax.toSeq, files.toSeq))
    // the probes answer over the index as the window left it
    WindowEnd(searcher, live, attach = true, b * c.sizes.batchFiles)
  }

  /** Most posting files (runs) any one shard holds in the manifest. */
  def runsPerShardMax(m: IndexMeta): Int =
    m.dataFiles.getOrElse("postings", Nil).groupBy(_.takeWhile(_ != '/')).valuesIterator
      .map(_.length).maxOption.getOrElse(0)
}

/** Fixed layer probes run after the window of a traced run, so every
  * layer is measured on every workload: tokenizer and posting-codec
  * throughput, the probe shapes as solo queries and as one fused batch,
  * and (on workloads that do not ingest) one append, open and compaction.
  */
object Probes {
  /** probe shapes: one per kind plus a second bm25 */
  val Count = 8

  /** keeps the decode loop's result observable */
  @volatile private var sinkHole = 0L

  def all(c: Ctx, corpus: Corpus, dir: String, attach: Boolean, ingestDone: Boolean = false): Unit =
    c.tr.span("probe") {
      val o = new Oracle(corpus.docs)
      val probes = Queries.pool(o, Probes.Count, c.seed ^ 0x1a9eL)
      tokenize(c, corpus)
      decode(c, dir, o)
      val want = c.oracle(probes.map(o.answer))
      val s = new Searcher(c.spark, dir)
      probes.zip(want).foreach { case (sh, w) => Workloads.query(c, s, sh, w) }
      c.tr.op("msearch.batch", -1L, traced = true) {
        val df = c.tr.span("msearch.plan") { val d = s.msearchPlan(probes.map(_.spec)); d.queryExecution.executedPlan; d }
        val got = Queries.slots(probes, c.tr.span("msearch.exec")(df.collect()))
        got.zip(want).foreach { case (g, w) => c.out.check("probe msearch", Answer.same(g, Queries.docIdsOnly(w))) }
      }
      if (!ingestDone) c.tr.span("probe.ingest") {
        val added = c.oracle(Workloads.docsOf(Workloads.batch(c, 0), attach)._1)
        val wantA = c.oracle { val oa = new Oracle(corpus.docs ++ added); probes.map(oa.answer) }
        c.tr.op("ingest.commit", -1L, traced = true) {
          val a0 = System.nanoTime()
          c.tr.span("ingest.append")(IndexBuilder.append(c.spark, Workloads.batch(c, 0), "doc_id", "content", dir))
          val appendMs = (System.nanoTime() - a0) / 1e6
          val o0 = System.nanoTime()
          val sa = c.tr.span("ingest.open") { SegmentCatalog.load(dir).get; new Searcher(c.spark, dir) }
          val openMs = (System.nanoTime() - o0) / 1e6
          probes.zip(wantA).foreach { case (sh, w) => Workloads.query(c, sa, sh, w) }
          val m = SegmentCatalog.load(dir).get
          val k0 = System.nanoTime()
          c.tr.span("ingest.compact")(IndexBuilder.compact(c.spark, dir))
          val compactMs = (System.nanoTime() - k0) / 1e6
          c.ingest = Some(IngestStats(Seq((appendMs, false)), Seq(openMs),
            Seq(Workloads.runsPerShardMax(m)), Seq(m.dataFiles.valuesIterator.map(_.length).sum)))
          c.layer("ingest.compact_ms") = (compactMs, "ms")
        }
      }
    }

  /** Single-thread `Tokenizer.code` over the corpus, median of three passes. */
  def tokenize(c: Ctx, corpus: Corpus): Unit = c.tr.span("probe.tokenize") {
    val mb = corpus.contentBytes / 1e6
    val rates = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var n = 0L
      corpus.contents.foreach(t => n += Tokenizer.code(t).length)
      mb / ((System.nanoTime() - t0) / 1e9)
    }
    c.layer("tokenize.mb_per_s") = (Stats.median(rates), "MB/s")
  }

  /** `PostingCursor` over the posting rows of the eight most frequent
    * terms, median of three passes; `termPostings` must return each head
    * term's document frequency.
    */
  def decode(c: Ctx, dir: String, o: Oracle): Unit = c.tr.span("core.decode") {
    import c.spark.implicits._
    val meta = SegmentCatalog.load(dir).get
    val heads = o.df.toSeq.sortBy { case (t, d) => (-d, t) }.take(8).map(_._1)
    val rows = IndexBuilder.readDataset(c.spark, dir, meta, "postings")
      .where(col("term").isin(heads: _*)).as[PostingRow].collect()
    val rates = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var n = 0L
      var sink = 0L
      rows.foreach { r =>
        val cur = new PostingCursor(Iterator(r.blocks))
        while (!cur.done) { sink += cur.docId + cur.tf + cur.positions._1.length; n += 1; cur.next() }
      }
      sinkHole = sink
      n / ((System.nanoTime() - t0) / 1e9)
    }
    c.layer("core.decode_postings_per_s") = (Stats.median(rates), "1/s")
    val s = new Searcher(c.spark, dir)
    heads.take(2).foreach { t =>
      c.out.check(s"termPostings($t)", s.termPostings(t).count() == o.df(t))
    }
    val postingBytes = Workloads.dirBytes(SegmentCatalog.postingsDir(dir))
    val postings = meta.shards.iterator.map(_.postings).sum
    c.layer("core.bytes_per_posting") = (postingBytes.toDouble / math.max(1L, postings), "B")
  }
}
