package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.IndexBuilder
import graft.search.Searcher
import graft.search.Searcher.Where.Empty

/** Null/dirty-input semantics at build time — 100 TB corpora have nulls:
  * null or empty TEXT indexes as an empty document (len 0, visible to
  * full scans and negations, like an empty tsvector); null or uncastable
  * docId/addon values fail FAST with an actionable column-named error
  * instead of an opaque encoder assertion deep inside a build stage.
  */
class NullHandlingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp() = java.nio.file.Files.createTempDirectory("nullidx").toString

  test("null and empty text index as empty documents") {
    val dir = tmp()
    val docs = Seq(
      (1L, "alpha beta", 10L),
      (2L, null.asInstanceOf[String], 20L),
      (3L, "", 30L))
    IndexBuilder.build(spark, docs.toDF("id", "t", "w"), "id", "t", dir,
      IndexBuilder.Params(nShards = 2, attach = Some("w")))
    val s = new Searcher(spark, dir)
    assert(s.meta.numDocs == 3)
    assert(s.matchingDocs("alpha").collect().map(_.getLong(0)).toSet == Set(1L))
    // negation routes through the full scan: empty docs match !alpha
    assert(s.matchingDocs("!alpha").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    val lens = s.docLens.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lens == Map(1L -> 2, 2L -> 0, 3L -> 0))
  }

  test("empty/null docs are index-servable via the placeholder key") {
    val dir = tmp()
    val docs = Seq(
      (1L, "alpha beta", 10L),
      (2L, null.asInstanceOf[String], 20L),
      (3L, "", 30L),
      (4L, "...!!!", 40L), // tokenizes to nothing: also empty
      (5L, "beta", 50L))
    IndexBuilder.build(spark, docs.toDF("id", "t", "w"), "id", "t", dir,
      IndexBuilder.Params(nShards = 2, attach = Some("w")))
    val s = new Searcher(spark, dir)
    assert(s.matchingDocs(Empty()).collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L))
    assert(s.count(Empty()) == 3L)
    // the plan reads the postings table only — no docs-table corpus scan
    val plan = s.matchingDocs(Empty()).queryExecution.executedPlan.toString
    assert(plan.contains("postings") && !plan.contains("/docs"))
    // placeholder stays invisible to term, prefix and negation queries
    assert(s.matchingDocs("beta").collect().map(_.getLong(0)).toSet == Set(1L, 5L))
    assert(s.count("a:*") == 1L)
    assert(s.matchingDocs("!beta").collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L))
  }

  test("MatchEmpty/CountEmpty slots ride fused batches (incl. multicolumn)") {
    import Searcher.MsearchSpec._
    val dir = tmp()
    val docs = Seq(
      (1L, "alpha beta", 10L),
      (2L, null.asInstanceOf[String], 20L),
      (3L, "", 30L),
      (4L, "beta", 40L))
    IndexBuilder.build(spark, docs.toDF("id", "t", "w"), "id", "t", dir,
      IndexBuilder.Params(nShards = 2, attach = Some("w")))
    val s = new Searcher(spark, dir)
    val got = s.msearch(Seq(Count(Empty(None)), Match("beta"), Match(Empty(None))))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    assert(got(0).map(t => (t._2, t._3)).toSeq == Seq((2L, 2.0))) // count via spine
    assert(got(1).map(_._2).toSet == Set(1L, 4L))
    assert(got(2).map(_._2).toSet == Set(2L, 3L))
    // multicolumn: field-scoped empty slots
    val dirM = tmp()
    IndexBuilder.buildFields(spark,
      Seq((1L, "alpha", "en"), (2L, "", "de"), (3L, "beta", null.asInstanceOf[String]))
        .toDF("id", "a", "b"),
      "id", Seq("fa" -> "a", "fb" -> "b"), dirM, IndexBuilder.Params(nShards = 2))
    val sM = new Searcher(spark, dirM)
    val gotM = sM.msearch(Seq(Match(Empty(Some("fa"))), Count(Empty(Some("fb")))))
      .collect().map(r => (r.getInt(0), r.getLong(1))).groupBy(_._1)
    assert(gotM(0).map(_._2).toSet == Set(2L))
    assert(gotM(1).map(_._2).toSeq == Seq(1L))
    intercept[IllegalArgumentException](sM.msearch(Seq(Match(Empty(None)))))
  }

  test("placeholder survives append, delete and compact") {
    val dir = tmp()
    val docs = Seq((1L, "alpha", 1L), (2L, "", 2L))
    IndexBuilder.build(spark, docs.toDF("id", "t", "w"), "id", "t", dir,
      IndexBuilder.Params(nShards = 2, attach = Some("w")))
    IndexBuilder.append(spark,
      Seq((3L, null.asInstanceOf[String], 3L), (4L, "beta", 4L)).toDF("id", "t", "w"),
      "id", "t", dir, autoCompactRuns = 0)
    assert(new Searcher(spark, dir).matchingDocs(Empty()).collect()
      .map(_.getLong(0)).toSet == Set(2L, 3L))
    IndexBuilder.delete(spark, dir, Seq(2L).toDF("id"))
    assert(new Searcher(spark, dir).matchingDocs(Empty()).collect()
      .map(_.getLong(0)).toSet == Set(3L))
    IndexBuilder.compact(spark, dir)
    assert(new Searcher(spark, dir).count(Empty()) == 1L)
  }

  test("multi-column: per-field empty placeholders") {
    val dir = tmp()
    val docs = Seq(
      (1L, "alpha", "en"),
      (2L, "", "de"),
      (3L, "beta", null.asInstanceOf[String]))
    IndexBuilder.buildFields(spark, docs.toDF("id", "a", "b"), "id",
      Seq("fa" -> "a", "fb" -> "b"), dir, IndexBuilder.Params(nShards = 2))
    val s = new Searcher(spark, dir)
    assert(s.matchingDocs(Empty(Some("fa"))).collect().map(_.getLong(0)).toSet == Set(2L))
    assert(s.matchingDocs(Empty(Some("fb"))).collect().map(_.getLong(0)).toSet == Set(3L))
    intercept[IllegalArgumentException](s.matchingDocs(Empty(Some("nope"))))
    intercept[IllegalArgumentException](s.matchingDocs(Empty(None)))
  }

  test("hash-keyed index: placeholder key is hashed like any other") {
    val dir = tmp()
    val docs = Seq((1L, "alpha"), (2L, ""))
    IndexBuilder.build(spark, docs.toDF("id", "t"), "id", "t", dir,
      IndexBuilder.Params(nShards = 2, keyKind = "hash"))
    val s = new Searcher(spark, dir)
    assert(s.matchingDocs(Empty()).collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("null addon fails fast with the column name") {
    val docs = Seq(
      (1L, "alpha", java.lang.Long.valueOf(10L)),
      (2L, "beta", null.asInstanceOf[java.lang.Long]))
    val ex = intercept[Exception] {
      IndexBuilder.build(spark, docs.toDF("id", "t", "w"), "id", "t", tmp(),
        IndexBuilder.Params(nShards = 2, attach = Some("w")))
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else (t.getMessage + "") :: messages(t.getCause)
    assert(messages(ex).exists(_.contains("attach column 'w'")),
      messages(ex).mkString(" | "))
  }

  test("null docId fails fast with the column name") {
    val docs = Seq(
      (java.lang.Long.valueOf(1L), "alpha"),
      (null.asInstanceOf[java.lang.Long], "beta"))
    val ex = intercept[Exception] {
      IndexBuilder.build(spark, docs.toDF("id", "t"), "id", "t", tmp(),
        IndexBuilder.Params(nShards = 2))
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else (t.getMessage + "") :: messages(t.getCause)
    assert(messages(ex).exists(_.contains("docId column 'id'")),
      messages(ex).mkString(" | "))
  }
}
