package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.build.IndexBuilder
import graft.search.Searcher
import graft.streaming.StreamingIndexer

/** Structured Streaming ingest: docs arriving on a stream become searchable
  * after each micro-batch, identically to a batch build of the same corpus.
  */
class StreamingIndexerSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("streamed appends match a batch build of the same docs") {
    val dir = java.nio.file.Files.createTempDirectory("stridx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("strckpt").toString

    val seed = Seq((1L, "alpha beta gamma"), (2L, "beta delta")).toDF("doc_id", "text")
    IndexBuilder.build(spark, seed, "doc_id", "text", dir,
      IndexBuilder.Params(nShards = 4))

    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData((3L, "alpha delta epsilon"), (4L, "beta beta alpha"))
    // ProcessingTime(0): keep the query live across addData rounds
    // (AvailableNow would stop after draining the first batch)
    val q = StreamingIndexer.start(spark, mem.toDF.toDF("doc_id", "text"),
      "doc_id", "text", dir, ckpt,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    q.processAllAvailable()
    mem.addData((5L, "epsilon zeta"))
    q.processAllAvailable()
    q.stop()

    val s = new Searcher(spark, dir)
    assert(s.count("alpha") == 3) // docs 1,3,4
    assert(s.count("beta & alpha") == 2) // docs 1,4
    assert(s.count("epsilon") == 2) // docs 3,5
    assert(s.meta.numDocs == 5)

    // identical to batch build over the union (same postings semantics)
    val dir2 = java.nio.file.Files.createTempDirectory("batchidx").toString
    val all = Seq((1L, "alpha beta gamma"), (2L, "beta delta"),
      (3L, "alpha delta epsilon"), (4L, "beta beta alpha"), (5L, "epsilon zeta"))
      .toDF("doc_id", "text")
    IndexBuilder.build(spark, all, "doc_id", "text", dir2,
      IndexBuilder.Params(nShards = 4))
    val s2 = new Searcher(spark, dir2)
    for (q <- Seq("alpha", "beta & alpha", "epsilon", "beta <-> beta")) {
      assert(s.matchingDocs(q).collect().map(_.getLong(0)).sorted.toSeq ==
        s2.matchingDocs(q).collect().map(_.getLong(0)).sorted.toSeq, s"query $q")
    }
  }

  test("streamed appends into a multi-column index (startFields)") {
    val dir = java.nio.file.Files.createTempDirectory("stridxm").toString
    val ckpt = java.nio.file.Files.createTempDirectory("strckptm").toString

    val seed = Seq((1L, "alpha beta", "en"), (2L, "beta gamma", "de"))
      .toDF("doc_id", "body", "lang")
    IndexBuilder.buildFields(spark, seed, "doc_id",
      Seq("body" -> "body", "lang" -> "lang"), dir, IndexBuilder.Params(nShards = 4))

    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    mem.addData((3L, "alpha delta", "en"), (4L, "beta alpha", "fr"))
    val q = StreamingIndexer.startFields(spark,
      mem.toDF.toDF("doc_id", "body", "lang"), "doc_id",
      Seq("body" -> "body", "lang" -> "lang"), dir, ckpt,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    q.processAllAvailable()
    mem.addData((5L, "delta", "en"))
    q.processAllAvailable()
    q.stop()

    val s = new Searcher(spark, dir)
    assert(s.count(Searcher.Where.Fields(Seq("body" -> "alpha"))) == 3) // docs 1,3,4
    assert(s.count(Searcher.Where.Fields(Seq("body" -> "alpha", "lang" -> "en"))) == 2) // 1,3
    assert(s.count(Searcher.Where.Fields(Seq("body" -> "delta", "lang" -> "en | fr"))) == 2) // 3,5
    assert(s.meta.numDocs == 5)
  }
}
