package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.build.{IndexBuilder, SegmentCatalog}
import graft.search.Searcher

/** Incremental maintenance: append (ruminsert), delete (vacuum anti-join),
  * compact (segment merge), and a Structured Streaming foreachBatch
  * incremental build. The reference exercises index build under
  * insert/delete/vacuum churn (sql/rum.sql:80-102); here every mutation is
  * cross-checked against a fresh full rebuild of the same logical corpus.
  */
class AppendSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val params = IndexBuilder.Params(nShards = 4, blockSize = 8,
    maxPostingsPerChunk = 32, attach = Some("w"))

  private def mkDocs(ids: Range): Seq[(Long, String, Long)] =
    ids.map { i =>
      val words = Seq("alpha", "beta", "gamma", "delta", "epsilon")
        .filter(w => i % (words0.indexOf(w) + 2) == 0)
      (i.toLong, s"doc $i ${words.mkString(" ")} common", i.toLong * 10)
    }
  private val words0 = Seq("alpha", "beta", "gamma", "delta", "epsilon")

  private def build(docs: Seq[(Long, String, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("apx").toString
    IndexBuilder.build(spark, docs.toDF("id", "t", "w"), "id", "t", dir, params)
    dir
  }

  private def results(dir: String): Map[String, Seq[Long]] = {
    val s = new Searcher(spark, dir)
    Seq("common", "alpha & beta", "alpha | epsilon", "!alpha & common",
      "doc <-> 5", "gamm:*").map { q =>
      q -> s.matchingDocs(q).collect().map(_.getLong(0)).sorted.toSeq
    }.toMap
  }

  test("append produces identical results to a full rebuild") {
    val base = mkDocs(0 until 60)
    val extra = mkDocs(60 until 90)
    val dir = build(base)
    IndexBuilder.append(spark, extra.toDF("id", "t", "w"), "id", "t", dir)
    val full = build(base ++ extra)
    assert(results(dir) == results(full))
    // meta refreshed
    val m = SegmentCatalog.load(dir).get
    assert(m.numDocs == 90)
    // addon survives append
    val s = new Searcher(spark, dir)
    val a = s.matchingWithAddon("common").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a(75L) == 750L)
    // the docs table (len, uniq, addon per doc) is derived exactly as a
    // build derives it
    assert(docsTable(dir) == docsTable(full))
  }

  private def docsTable(dir: String): Set[graft.build.DocRow] =
    IndexBuilder.readDataset(spark, dir, SegmentCatalog.load(dir).get, "docs")
      .as[graft.build.DocRow].collect().toSet

  test("append and appendFields write the docs table a fresh build writes") {
    // every tokenizer; empty, NULL and repeated-term values included
    val texts = Seq("Parse parseHTTPResponse getFoo2Bar parse", "", null,
      "alpha alpha beta", "...!!!", "one two three four five six seven eight nine ten")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, i.toLong * 10) }
    val (base, extra) = docs.splitAt(2)
    for (tok <- Seq("simple", "code", "simple_title8")) {
      val p = params.copy(tokenizer = tok)
      def fresh(rows: Seq[(Long, String, Long)]): String = {
        val d = java.nio.file.Files.createTempDirectory("apdocs").toString
        IndexBuilder.build(spark, rows.toDF("id", "t", "w"), "id", "t", d, p)
        d
      }
      val dir = fresh(base)
      IndexBuilder.append(spark, extra.toDF("id", "t", "w"), "id", "t", dir)
      assert(docsTable(dir) == docsTable(fresh(docs)), tok)
    }
    // multi-column: per-field rows summed, a NULL field counting zero
    val fdocs = docs.map { case (i, t, w) => (i, t, if (i % 2 == 0) "en gb" else null, w) }
    val fields = Seq("body" -> "t", "lang" -> "l")
    def freshFields(rows: Seq[(Long, String, String, Long)]): String = {
      val d = java.nio.file.Files.createTempDirectory("apdocsf").toString
      IndexBuilder.buildFields(spark, rows.toDF("id", "t", "l", "w"), "id", fields, d, params)
      d
    }
    val (fbase, fextra) = fdocs.splitAt(2)
    val fdir = freshFields(fbase)
    IndexBuilder.appendFields(spark, fextra.toDF("id", "t", "l", "w"), "id", fields, fdir)
    assert(docsTable(fdir) == docsTable(freshFields(fdocs)))
  }

  test("append then compact: same results, single-run layout") {
    val base = mkDocs(0 until 60)
    val extra = mkDocs(60 until 90)
    val dir = build(base)
    IndexBuilder.append(spark, extra.toDF("id", "t", "w"), "id", "t", dir)
    val before = results(dir)
    IndexBuilder.compact(spark, dir)
    assert(results(dir) == before)
    // compaction merges chunk rows: for each (shard, term) the docId ranges
    // must now be non-overlapping and ascending
    val rows = spark.read.parquet(SegmentCatalog.postingsDir(dir))
      .selectExpr("shard", "term", "blocks[0].firstDoc as firstDoc",
        "blocks[size(blocks)-1].lastDoc as lastDoc")
      .collect().groupBy(r => (r.getInt(0), r.getString(1)))
    rows.values.foreach { chunks =>
      val sorted = chunks.sortBy(_.getLong(2))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(3) < b.getLong(2), s"overlap after compact")
        case _ =>
      }
    }
  }

  test("size-tiered auto-compaction bounds run counts under 20 appends") {
    val dir = build(mkDocs(0 until 20))
    (0 until 20).foreach { i =>
      IndexBuilder.append(spark,
        mkDocs(20 + i * 5 until 25 + i * 5).toDF("id", "t", "w"), "id", "t", dir)
    }
    val m = SegmentCatalog.load(dir).get
    // the manifest counter never accumulates past the policy threshold
    assert(m.appendRuns < IndexBuilder.AutoCompactRuns,
      s"appendRuns=${m.appendRuns}")
    // the run count compaction actually bounds: overlapping posting rows
    // per (shard, term) cell. 'common' appears in every doc, so without
    // auto-compaction it would carry one micro-run PER APPEND (21 here);
    // with the policy it is at most the runs since the last rewrite
    val runsPerCell = spark.read.parquet(SegmentCatalog.postingsDir(dir))
      .where(col("term") === "common")
      .groupBy("shard").count().collect().map(_.getLong(1))
    assert(runsPerCell.nonEmpty &&
      runsPerCell.max <= IndexBuilder.AutoCompactRuns,
      s"runs per cell: ${runsPerCell.mkString(",")}")
    // results identical to a fresh full rebuild of the same logical corpus
    val full = build(mkDocs(0 until 120))
    assert(results(dir) == results(full))
    assert(m.numDocs == 120)
  }

  test("delete removes docs everywhere (vacuum anti-join)") {
    val base = mkDocs(0 until 60)
    val dir = build(base)
    val dead = Seq(2L, 4L, 8L, 16L).toDF("id")
    IndexBuilder.delete(spark, dir, dead)
    val full = build(base.filterNot(d => Set(2L, 4L, 8L, 16L)(d._1)))
    assert(results(dir) == results(full))
    val m = SegmentCatalog.load(dir).get
    assert(m.numDocs == 56)
    // BM25 stats follow the delete
    val s = new Searcher(spark, dir)
    assert(s.topKBm25(Seq("common"), 100).collect()
      .forall(r => !Set(2L, 4L, 8L, 16L)(r.getLong(0))))
  }

  test("streaming ingest auto-compacts mid-stream; results stay exact") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Long)]
    val dir = build(mkDocs(0 until 10))
    val q = stream.toDF().toDF("id", "t", "w")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        IndexBuilder.append(spark, batch, "id", "t", dir)
        ()
      }
      .start()
    // 10 micro-batches → 10 appends → the size-tier policy compacts at
    // append 8, WHILE the stream keeps appending afterwards
    (0 until 10).foreach { i =>
      stream.addData(mkDocs(10 + i * 5 until 15 + i * 5): _*)
      q.processAllAvailable()
    }
    q.stop()
    val m = SegmentCatalog.load(dir).get
    assert(m.appendRuns < IndexBuilder.AutoCompactRuns, s"runs=${m.appendRuns}")
    assert(m.numDocs == 60)
    assert(results(dir) == results(build(mkDocs(0 until 60))))
  }

  test("structured streaming foreachBatch incremental build") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Long)]
    val dir = build(mkDocs(0 until 20))
    val q = stream.toDF().toDF("id", "t", "w")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        IndexBuilder.append(spark, batch, "id", "t", dir)
        ()
      }
      .start()
    stream.addData(mkDocs(20 until 30): _*)
    q.processAllAvailable()
    stream.addData(mkDocs(30 until 40): _*)
    q.processAllAvailable()
    q.stop()
    val full = build(mkDocs(0 until 40))
    assert(results(dir) == results(full))
    assert(SegmentCatalog.load(dir).get.numDocs == 40)
  }
}
