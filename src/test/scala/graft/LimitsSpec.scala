package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.IndexBuilder
import graft.search.Searcher

/** Capacity-limit analog of the reference's sql/limits.sql (lexemes of
  * 2046 bytes × 1024-entry posting lists): one maximal-length term present
  * in 1024 docs (spanning several posting blocks), looked up exactly, with
  * prefix expansion over a family of near-identical long terms.
  */
class LimitsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("2046-byte lexemes x 1024-doc posting lists") {
    val longTerm = "x" * 2046
    // 8 sibling long terms sharing a 2040-char prefix (prefix-scan stress)
    def sibling(i: Int): String = ("x" * 2040) + s"sib$i"
    val docs = (0 until 1500).map { i =>
      val parts = scala.collection.mutable.ArrayBuffer("filler")
      if (i < 1024) parts += longTerm
      if (i % 200 == 0) parts += sibling(i / 200)
      if (i < 1024 && i % 2 == 0) { parts += longTerm; parts += "tail" }
      (i.toLong, parts.mkString(" "))
    }.toDF("doc_id", "text")

    val dir = java.nio.file.Files.createTempDirectory("limidx").toString
    IndexBuilder.build(spark, docs, "doc_id", "text", dir,
      IndexBuilder.Params(nShards = 4, blockSize = 64))
    val s = new Searcher(spark, dir)

    assert(s.count(s"'$longTerm'") == 1024)
    assert(s.count(s"'$longTerm' & tail") == 512)
    // phrase over the long lexeme: "longTerm <-> tail" (even docs only:
    // ... longTerm longTerm tail — second occurrence adjacent to tail)
    assert(s.count(s"'$longTerm' <-> tail") == 512)
    // prefix over the shared 2040-char stem: 1024 longTerm docs + siblings
    val prefixCount = s.count("'" + "x" * 2040 + "':*")
    assert(prefixCount == 1024 + (0 until 1500).count(i => i % 200 == 0 && i >= 1024))
    // tf stored correctly for the doubled occurrences
    val tfs = s.termPostings(longTerm).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(tfs.size == 1024 && tfs(0L) == 2 && tfs(1L) == 1)
  }

  test("blockSize must be positive: rejected at the build call") {
    val docs = Seq((1L, "alpha")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("limbs").toString
    for (bs <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](
        IndexBuilder.build(spark, docs, "doc_id", "text", dir,
          IndexBuilder.Params(nShards = 2, blockSize = bs)))
      assert(e.getMessage.contains(s"blockSize must be positive: $bs"), e.getMessage)
    }
  }
}
