package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.IndexBuilder
import graft.search.Searcher
import graft.search.Searcher.Where.Fields

/** Multi-column index (field-prefixed keys — the attnum entry prefix of
  * the reference's multicolumn support, src/rumutil.c:266-288; regression
  * sql/orderby.sql:89-106): cross-field AND in one kernel pass, field
  * scoping of terms and prefixes, single-column API guarded.
  */
class MultiColSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val n = 800
  private def title(i: Int): String =
    (if (i % 3 == 0) "alpha " else "beta ") + s"doc$i"
  private def body(i: Int): String = {
    val sb = new StringBuilder("common ")
    if (i % 2 == 0) sb.append("alpha ") // same term, different field!
    if (i % 5 == 0) sb.append("gamma special ")
    sb.append(s"word${i % 7}")
    sb.toString
  }

  private lazy val searcher: Searcher = {
    val docs = (0 until n).map(i => (i.toLong, title(i), body(i))).toDF("doc_id", "title", "body")
    val d = java.nio.file.Files.createTempDirectory("multicol").toString
    IndexBuilder.buildFields(spark, docs, "doc_id",
      Seq("title" -> "title", "body" -> "body"), d,
      IndexBuilder.Params(nShards = 4, blockSize = 64))
    new Searcher(spark, d)
  }

  test("cross-field AND equals brute force; terms are field-scoped") {
    // 'alpha' in title (i%3==0) vs in body (i%2==0) are DIFFERENT keys
    val titleAlpha = searcher.count(Fields(Seq("title" -> "alpha")))
    val bodyAlpha = searcher.count(Fields(Seq("body" -> "alpha")))
    assert(titleAlpha == (0 until n).count(_ % 3 == 0))
    assert(bodyAlpha == (0 until n).count(_ % 2 == 0))
    val both = searcher.count(Fields(Seq("title" -> "alpha", "body" -> "alpha & gamma")))
    assert(both == (0 until n).count(i => i % 3 == 0 && i % 2 == 0 && i % 5 == 0))
  }

  test("prefix search stays inside its field") {
    // word* only exists in body; doc* only in title
    assert(searcher.count(Fields(Seq("title" -> "doc:*"))) == n)
    assert(searcher.count(Fields(Seq("title" -> "word:*"))) == 0)
    assert(searcher.count(Fields(Seq("body" -> "word:*"))) == n)
  }

  test("phrase works within a field") {
    assert(searcher.count(Fields(Seq("body" -> "gamma <-> special"))) ==
      (0 until n).count(_ % 5 == 0))
  }

  test("fused msearch over field-scoped specs equals solo multicolumn queries") {
    import Searcher.MsearchSpec._
    val filters = Seq("body" -> "gamma")
    val got = searcher.msearch(Seq(
        Match(Fields(Seq("title" -> "alpha", "body" -> "alpha & gamma"))),
        Cover(Fields(Seq("body" -> "common & gamma", "title" -> "alpha")), 7),
        Bm25(Seq("gamma", "special"), 5, field = Some("body"))))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val m0 = searcher.matchingDocs(
        Fields(Seq("title" -> "alpha", "body" -> "alpha & gamma")))
      .collect().map(_.getLong(0)).toSet
    assert(got(0).map(_._2).toSet == m0)
    val c1 = searcher.topKCover(
        Fields(Seq("body" -> "common & gamma", "title" -> "alpha")), 7)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got(1).map(t => (t._2, t._3)).toSet == c1)
    val b2 = searcher.topKBm25(Seq("gamma", "special"), 5, field = Some("body"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got(2).map(t => (t._2, t._3)).toSet == b2)
  }

  test("single-column API rejected on a multi-column index; unknown field rejected") {
    assert(intercept[IllegalArgumentException](searcher.count("alpha"))
      .getMessage.contains("multi-column"))
    assert(intercept[IllegalArgumentException](
      searcher.count(Fields(Seq("nope" -> "alpha")))).getMessage.contains("unknown field"))
    // bare terms on the term-based APIs would silently miss prefixed keys
    assert(intercept[IllegalArgumentException](
      searcher.topKBm25(Seq("alpha"), 3).collect()).getMessage.contains("fieldKey"))
  }

  /** multicol index with attach + alt-order layout for ordered scans, and
    * a single-column twin over body for cover-rank equivalence.
    */
  private lazy val (searcherO, searcherBody): (Searcher, Searcher) = {
    val docs = (0 until n).map(i => (i.toLong, title(i), body(i), i.toLong * 10))
      .toDF("doc_id", "title", "body", "w")
    val d1 = java.nio.file.Files.createTempDirectory("multicolO").toString
    IndexBuilder.buildFields(spark, docs, "doc_id",
      Seq("title" -> "title", "body" -> "body"), d1,
      IndexBuilder.Params(nShards = 4, blockSize = 64, attach = Some("w"),
        altOrder = true))
    val d2 = java.nio.file.Files.createTempDirectory("bodyonly").toString
    IndexBuilder.build(spark, docs, "doc_id", "body", d2,
      IndexBuilder.Params(nShards = 4, blockSize = 64))
    (new Searcher(spark, d1), new Searcher(spark, d2))
  }

  test("topKCoverMulti: ranks by the rank field only, matches the full tree") {
    // expected = single-column cover rank over body, narrowed to docs whose
    // title matches the filter — distances must be IDENTICAL (the filter
    // field contributes matching, never rank input)
    val single = searcherBody.topKCover("common & gamma", n)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expected = single.filter { case (id, _) => id % 3 == 0 } // title alpha
      .sortBy { case (id, dist) => (dist, id) }.take(10).toSeq
    val got = searcherO.topKCover(
        Fields(Seq("body" -> "common & gamma", "title" -> "alpha")), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected)
    // sanity: the filter actually narrowed the set
    val unfiltered = single.sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
    assert(unfiltered != expected.map(_._1).toSet)
  }

  test("topKAddonMulti: multicolumn ordered-by-addon scan equals brute force") {
    val matches = (0 until n).filter(i => i % 3 == 0) // title alpha; body common = all
    def brute(c: Long, op: String, k: Int): Seq[(Long, Long)] = {
      val withDist = matches.flatMap { i =>
        val a = i.toLong * 10
        op match {
          case "both" => Some((i.toLong, a, math.abs(a - c)))
          case "left" => if (a <= c) Some((i.toLong, a, c - a)) else None
          case "right" => if (a >= c) Some((i.toLong, a, a - c)) else None
        }
      }
      withDist.sortBy { case (id, _, d) => (d, id) }.take(k)
        .map { case (id, a, _) => (id, a) }
    }
    val fq = Seq("title" -> "alpha", "body" -> "common")
    for (op <- Seq("both", "left", "right")) {
      val got = searcherO.topKAddon(Fields(fq), 3000L, op, 7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == brute(3000L, op, 7), s"op=$op")
    }
    // range over the same composite query
    val gotRange = searcherO.rangeAddon(Fields(fq), 1000L, 1500L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(gotRange == matches.filter(i => i * 10 >= 1000 && i * 10 <= 1500).map(_.toLong))
  }

  test("topKBm25Fields: field-scoped stats match a brute-force BM25") {
    import graft.query.Bm25
    val meta = searcherO.meta
    val terms = Seq("common", "gamma")
    def toks(s: String): Seq[String] =
      graft.tokenize.Tokenizer.simpleTokens(s).toSeq
    val bodies = (0 until n).map(i => i.toLong -> toks(body(i)))
    val dfs = terms.map(t => t -> bodies.count(_._2.contains(t)).toLong).toMap
    val expected = bodies.flatMap { case (id, ts) =>
      val score = terms.map { t =>
        val tf = ts.count(_ == t)
        if (tf == 0) 0.0
        else Bm25.termScore(tf, dfs(t), ts.length.toLong, meta.avgLen, meta.numDocs)
      }.sum
      if (score > 0) Some((id, score)) else None
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    val got = searcherO.topKBm25(terms, 10, field = Some("body"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == expected.map(_._1))
    got.zip(expected).foreach { case ((_, g), (_, e)) => assert(math.abs(g - e) < 1e-9) }
  }

  test("multicol ranked plan: field-prefixed term predicate pushed to the scan") {
    val df = searcherO.topKCover(
      Fields(Seq("body" -> "common & gamma", "title" -> "alpha")), 5)
    val plan = df.queryExecution.executedPlan.toString
    // all three field-prefixed keys reach the parquet scan as pushed
    // filters — the multicolumn entry-tree descent analogue
    assert(plan.contains("PushedFilters"), plan.take(2000))
    Seq(IndexBuilder.fieldKey("body", "common"), IndexBuilder.fieldKey("body", "gamma"),
        IndexBuilder.fieldKey("title", "alpha")).foreach { k =>
      assert(plan.contains(k), "missing pushed key " + k.replace(IndexBuilder.FieldSep, "|"))
    }
  }

  test("appendFields: incremental insert into a multi-column index") {
    val docs = (0 until 200).map(i => (i.toLong, title(i), body(i))).toDF("doc_id", "title", "body")
    val more = (200 until 300).map(i => (i.toLong, title(i), body(i))).toDF("doc_id", "title", "body")
    val d = java.nio.file.Files.createTempDirectory("mcappend").toString
    IndexBuilder.buildFields(spark, docs, "doc_id",
      Seq("title" -> "title", "body" -> "body"), d,
      IndexBuilder.Params(nShards = 4, blockSize = 64))
    // field names must match
    assert(intercept[IllegalArgumentException](IndexBuilder.appendFields(
      spark, more, "doc_id", Seq("title" -> "title"), d)).getMessage.contains("field mismatch"))
    IndexBuilder.appendFields(spark, more, "doc_id",
      Seq("title" -> "title", "body" -> "body"), d)
    val s = new Searcher(spark, d)
    assert(s.count(Fields(Seq("title" -> "alpha"))) == (0 until 300).count(_ % 3 == 0))
    assert(s.count(Fields(Seq("title" -> "alpha", "body" -> "gamma"))) ==
      (0 until 300).count(i => i % 3 == 0 && i % 5 == 0))
  }

  // ---- every query family × every Where form: solo == one-slot msearch
  // == brute force over the raw docs ----

  /** fixture with empty and NULL values in both fields and signed,
    * scrambled addons; `null` text indexes like an empty value
    */
  private val tn = 400
  private def tTitle(i: Int): String =
    if (i % 13 == 0) (if (i % 26 == 0) null else "") else title(i)
  private def tBody(i: Int): String =
    if (i % 11 == 0) (if (i % 22 == 0) null else "...") else body(i)
  private def tAddon(i: Int): Long = ((i * 37) % tn).toLong - 200L

  private lazy val (tableSingle, tableMulti): (Searcher, Searcher) = {
    val docs = (0 until tn).map(i => (i.toLong, tTitle(i), tBody(i), tAddon(i)))
      .toDF("doc_id", "title", "body", "w")
    val p = IndexBuilder.Params(nShards = 4, blockSize = 16, attach = Some("w"),
      altOrder = true)
    val d1 = java.nio.file.Files.createTempDirectory("wheresingle").toString
    IndexBuilder.build(spark, docs, "doc_id", "body", d1, p)
    val d2 = java.nio.file.Files.createTempDirectory("wheremulti").toString
    IndexBuilder.buildFields(spark, docs, "doc_id",
      Seq("title" -> "title", "body" -> "body"), d2, p)
    (new Searcher(spark, d1), new Searcher(spark, d2))
  }

  test("every family over every Where form: solo == msearch slot == brute force") {
    import graft.query.{CompiledQuery, CoverRank, TsEval, TsQueryParser}
    import Searcher.{MsearchSpec => M, OrderKey, Where}
    def toks(t: String): Array[String] =
      graft.tokenize.Tokenizer.simpleTokens(if (t == null) "" else t)
    /** (field -> tokens) per doc; the single-column index reads "body" */
    val raw = (0 until tn).map(i => Map("title" -> toks(tTitle(i)), "body" -> toks(tBody(i))))
    def positions(cq: CompiledQuery, ts: Array[String]): Array[Array[Int]] =
      cq.keys.map { k =>
        val ps = ts.indices.filter(j =>
          if (k.prefix) ts(j).startsWith(k.term) else ts(j) == k.term).map(_ + 1).toArray
        if (ps.isEmpty) null else ps
      }
    def eval(q: String, ts: Array[String]): Boolean = {
      val cq = CompiledQuery.compile(TsQueryParser.parse(q))
      val ps = positions(cq, ts)
      TsEval.matches(cq, new TsEval.Provider {
        def positions(k: Int): Array[Int] = ps(k)
        def wclasses(k: Int): Array[Byte] = if (ps(k) == null) null else new Array[Byte](ps(k).length)
      })
    }
    def coverDist(q: String, ts: Array[String]): Double = {
      val cq = CompiledQuery.compile(TsQueryParser.parse(q))
      val ps = positions(cq, ts)
      CoverRank.distance(cq, ps, ps.map(p => if (p == null) null else new Array[Byte](p.length)))
        .toDouble
    }
    /** brute force: does doc i match `w`, and its cover distance */
    def matches(w: Where, i: Int): Boolean = w match {
      case Where.Query(q) => eval(q, raw(i)("body"))
      case Where.Fields(fq) => fq.forall { case (f, q) => eval(q, raw(i)(f)) }
      case Where.Empty(f) => raw(i)(f.getOrElse("body")).isEmpty
    }
    def rank(w: Where, i: Int): Double = w match {
      case Where.Query(q) => coverDist(q, raw(i)("body"))
      case Where.Fields(fq) => coverDist(fq.head._2, raw(i)(fq.head._1))
      // the placeholder's empty payload reads as present at one sentinel
      // position (SearchKernel's CursorProvider): a one-token cover
      case Where.Empty(_) => coverDist("x", Array("x"))
    }
    def addonDist(a: Long, c: Long, op: String): Option[Long] = op match {
      case "both" => Some(math.abs(a - c))
      case "left" => if (a <= c) Some(c - a) else None
      case "right" => if (a >= c) Some(a - c) else None
    }
    val k = 7
    val (c, op, lo, hi, width) = (13L, "both", -120L, 60L, 50L)
    val (c2, op2) = (-50L, "right")

    /** (family, one-slot spec, solo answer, brute answer) for `w` on `s` */
    def family(s: Searcher, w: Where): Seq[(String, M, Any, Any)] = {
      val ids = (0 until tn).filter(matches(w, _))
      def docs(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSet
      def ranked(df: org.apache.spark.sql.DataFrame, col: Int) =
        df.collect().map(r => (r.getLong(0), r.getDouble(col))).toSeq
      Seq(
        ("match", M.Match(w), docs(s.matchingDocs(w)), ids.map(_.toLong).toSet),
        ("count", M.Count(w), s.count(w), ids.size.toLong),
        ("cover", M.Cover(w, k), ranked(s.topKCover(w, k), 1),
          ids.map(i => (i.toLong, rank(w, i))).sortBy(t => (t._2, t._1)).take(k)),
        ("addon", M.Addon(w, c, op, k), ranked(s.topKAddon(w, c, op, k), 2),
          ids.flatMap(i => addonDist(tAddon(i), c, op).map(d => (i.toLong, d)))
            .sortBy(t => (t._2, t._1)).take(k).map(t => (t._1, t._2.toDouble))),
        ("range", M.AddonRange(w, lo, hi), docs(s.rangeAddon(w, lo, hi)),
          ids.filter(i => tAddon(i) >= lo && tAddon(i) <= hi).map(_.toLong).toSet),
        ("facet", M.Facet(w, width, lo, hi),
          s.countByAddonBucket(w, width, lo, hi).collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap,
          ids.map(tAddon).filter(a => a >= lo && a <= hi)
            .groupBy(a => lo + (a - lo) / width * width).map(g => g._1 -> g._2.size.toLong)),
        ("order2", M.Order2(w, c2, op2, k),
          ranked(s.topKMulti(w, Seq(OrderKey.Rank(), OrderKey.Addon(c2, op2)), k), 1),
          ids.flatMap(i => addonDist(tAddon(i), c2, op2).map(d => (i.toLong, rank(w, i), d)))
            .sortBy(t => (t._2, t._3, t._1)).take(k).map(t => (t._1, t._2))))
    }
    /** a one-slot msearch result in the solo answer's shape; an Order2
      * slot emits only the rank distance, so its ordering cannot be
      * compared beyond membership
      */
    def slot(s: Searcher, fam: String, spec: M, solo: Any): (Any, Any) = {
      val rows = s.msearch(Seq(spec)).collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      fam match {
        case "match" | "range" => (rows.map(_._1).toSet, solo)
        case "count" => (rows.map(_._1).sum, solo)
        case "facet" => (rows.map(r => r._1 -> r._2.toLong).toMap, solo)
        case "order2" => (rows.toSet, solo.asInstanceOf[Seq[(Long, Double)]].toSet)
        case _ => (rows.sortBy(r => (r._2, r._1)), solo)
      }
    }
    val cases: Seq[(String, Searcher, Where)] = Seq(
      ("single", tableSingle, Where.Query("common & gamma")),
      ("single", tableSingle, Where.Query("word1 | alpha")),
      ("single", tableSingle, Where.Empty()),
      ("multi", tableMulti, Where.Fields(Seq("body" -> "common & gamma", "title" -> "alpha"))),
      ("multi", tableMulti, Where.Fields(Seq("title" -> "beta", "body" -> "word1 | word2"))),
      ("multi", tableMulti, Where.Fields(Seq("body" -> "alpha"))),
      ("multi", tableMulti, Where.Empty(Some("title"))),
      ("multi", tableMulti, Where.Empty(Some("body"))))
    for ((idx, s, w) <- cases; (fam, spec, solo, brute) <- family(s, w)) {
      val clue = s"$fam over $w on the $idx-column index"
      assert(solo == brute, clue + ": solo vs brute force")
      val (fused, soloShape) = slot(s, fam, spec, solo)
      assert(fused == soloShape, clue + ": msearch slot vs solo")
    }
    // the fixture exercises non-trivial answers for every Where form
    for ((idx, s, w) <- cases) assert(s.count(w) > 0, s"$w on $idx")
  }
}

