package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, SegmentCatalog}
import graft.search.Searcher

/** Compaction commit protocol: the new generation is written beside the
  * old one, the manifest commits first, old files are deleted after (or
  * retained for pinned readers). At every step the manifest must reference
  * only files that exist — the crash-safety invariant the old
  * delete-then-rename swap violated.
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def corpus(n: Int) = (0 until n).map { i =>
    (i.toLong, s"alpha tok${i % 7} " + (if (i % 5 == 0) "merge partition" else "sort"),
      i.toLong * 3)
  }

  private def build(n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("compactspec").toString
    IndexBuilder.build(spark, corpus(n).toDF("doc_id", "text", "d"), "doc_id", "text",
      dir, IndexBuilder.Params(nShards = 4, attach = Some("d"), altOrder = true))
    dir
  }

  private def diskFiles(dir: String, kind: String): Set[String] = {
    val base = java.nio.file.Paths.get(kind match {
      case "postings" => SegmentCatalog.postingsDir(dir)
      case "alt" => SegmentCatalog.altDir(dir)
      case "docs" => SegmentCatalog.docsDir(dir)
      case "stats" => SegmentCatalog.statsDir(dir)
    })
    if (!java.nio.file.Files.exists(base)) Set.empty
    else {
      val st = java.nio.file.Files.walk(base)
      try st.filter(p => p.toString.endsWith(".parquet"))
        .map[String](p => base.relativize(p).toString)
        .toArray.map(_.toString).toSet
      finally st.close()
    }
  }

  test("retainOld=true: a reader pinned to the pre-compact snapshot survives") {
    val dir = build(400)
    IndexBuilder.append(spark,
      Seq((400L, "alpha merge partition extra", 1200L)).toDF("doc_id", "text", "d"),
      "doc_id", "text", dir, autoCompactRuns = 0)
    val pinned = new Searcher(spark, dir) // opened BEFORE the compact
    val expect = pinned.count("merge & partition")
    IndexBuilder.compact(spark, dir, retainOld = true)
    // pinned reader: same snapshot, same answer, files still present
    assert(pinned.count("alpha") == 401L)
    assert(new Searcher(spark, dir).count("merge & partition") == expect)
    // old generation is on disk but unreferenced -> gcOrphans reclaims it
    val removed = IndexBuilder.gcOrphans(dir)
    assert(removed.nonEmpty, "expected orphaned pre-compact files")
    val s2 = new Searcher(spark, dir)
    assert(s2.count("merge & partition") == expect)
    assert(IndexBuilder.validate(spark, dir).isEmpty)
  }

  test("default compact: disk holds exactly the committed generation") {
    val dir = build(300)
    IndexBuilder.append(spark,
      Seq((300L, "alpha sort", 900L)).toDF("doc_id", "text", "d"),
      "doc_id", "text", dir, autoCompactRuns = 0)
    IndexBuilder.compact(spark, dir)
    val meta = SegmentCatalog.load(dir).get
    for (kind <- Seq("postings", "alt", "docs", "stats")) {
      assert(diskFiles(dir, kind) == meta.dataFiles(kind).toSet,
        s"$kind: disk vs manifest diverge")
    }
    assert(IndexBuilder.validate(spark, dir).isEmpty)
    assert(new Searcher(spark, dir).count("alpha") == 301L)
  }

  test("manifest never references missing files across append+compact cycles") {
    val dir = build(200)
    for (b <- 0 until 3) {
      IndexBuilder.append(spark,
        Seq((200L + b, s"alpha cycle$b", 600L + b)).toDF("doc_id", "text", "d"),
        "doc_id", "text", dir, autoCompactRuns = 0)
      val meta = SegmentCatalog.load(dir).get
      meta.dataFiles.foreach { case (kind, files) =>
        val disk = diskFiles(dir, kind)
        files.foreach(f => assert(disk.contains(f), s"$kind/$f missing after append $b"))
      }
    }
    IndexBuilder.compact(spark, dir)
    val meta = SegmentCatalog.load(dir).get
    meta.dataFiles.foreach { case (kind, files) =>
      val disk = diskFiles(dir, kind)
      files.foreach(f => assert(disk.contains(f), s"$kind/$f missing after compact"))
    }
    val s = new Searcher(spark, dir)
    assert(s.count("alpha") == 203L)
    assert(s.count("cycle1") == 1L)
  }

  test("delete (compact with exclusions) keeps the commit-first protocol") {
    val dir = build(250)
    val pinned = new Searcher(spark, dir)
    val before = pinned.count("alpha")
    IndexBuilder.delete(spark, dir, Seq(0L, 5L, 10L).toDF("doc_id"))
    assert(new Searcher(spark, dir).count("alpha") == before - 3)
    val meta = SegmentCatalog.load(dir).get
    for (kind <- Seq("postings", "alt", "docs", "stats"))
      assert(diskFiles(dir, kind) == meta.dataFiles(kind).toSet, kind)
    assert(IndexBuilder.validate(spark, dir).isEmpty)
  }

  test("a failed concurrent write cancels its sibling writes before rethrowing") {
    val sc = spark.sparkContext
    val sibling = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      IndexBuilder.runConcurrently(spark, Seq(
        () => {
          // fail only once the sibling's Spark job is running
          val deadline = System.nanoTime() + 60000000000L
          while (sc.statusTracker.getActiveJobIds().isEmpty && System.nanoTime() < deadline)
            Thread.sleep(20)
          throw new IllegalStateException("write failed")
        },
        () => try {
          // a write that blocks until its tasks are killed (or a minute passes)
          sc.parallelize(0 until 2, 2).foreach { _ =>
            val tc = org.apache.spark.TaskContext.get()
            val deadline = System.nanoTime() + 60000000000L
            while (!tc.isInterrupted() && System.nanoTime() < deadline) Thread.sleep(20)
          }
        } catch { case t: Throwable => sibling.set(t); throw t }))
    }
    assert(err.getMessage == "write failed")
    assert(sibling.get != null, "sibling write ran to completion")
    assert(sibling.get.getMessage.toLowerCase.contains("cancel"), sibling.get.getMessage)
    assert((System.nanoTime() - t0) / 1e9 < 30, "sibling was not cancelled promptly")
  }
}
