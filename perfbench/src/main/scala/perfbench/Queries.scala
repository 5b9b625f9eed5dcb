package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.query.{CompiledQuery, CoverRank, TsEval, TsQueryParser}
import graft.search.Searcher
import graft.search.Searcher.MsearchSpec
import graft.tokenize.Tokenizer

/** One query shape of the seeded pool. `kind` names the operation:
  * bm25 (top-k), count / phrase / prefix (boolean count), cover (top-k),
  * addon_topk (ORDER BY addon <op> c LIMIT k) and addon_range.
  */
final case class Shape(kind: String, query: String, terms: Seq[String] = Nil,
                       c: Long = 0L, op: String = "both", lo: Long = 0L,
                       hi: Long = 0L, k: Int = 10) {
  def spec: MsearchSpec = kind match {
    case "bm25" => MsearchSpec.Bm25(terms, k)
    case "count" | "phrase" | "prefix" => MsearchSpec.Count(query)
    case "cover" => MsearchSpec.Cover(query, k)
    case "addon_topk" => MsearchSpec.Addon(query, c, op, k)
    case "addon_range" => MsearchSpec.AddonRange(query, lo, hi)
  }
}

object Shape {
  val Kinds: Seq[String] =
    Seq("bm25", "count", "phrase", "prefix", "cover", "addon_topk", "addon_range")
}

/** A query's answer in a form both the engine and the oracle produce:
  * a count, a ranked list of (docId, score), or a docId-sorted row set.
  */
sealed trait Answer
object Answer {
  final case class Count(n: Long) extends Answer
  final case class Ranked(rows: Seq[(Long, Double)]) extends Answer
  final case class RowSet(rows: Seq[(Long, Long)]) extends Answer

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Equal answers. Ranked lists must agree on every score; two docIds may
    * swap places only where their scores tie to within rounding, since the
    * engine and the oracle sum per-term scores in different orders. A docId
    * the oracle's list lacks passes only as a tie with its last score.
    */
  def same(got: Answer, want: Answer): Boolean = (got, want) match {
    case (Count(a), Count(b)) => a == b
    case (RowSet(a), RowSet(b)) => a == b
    case (Ranked(a), Ranked(b)) =>
      a.length == b.length && a.zip(b).forall { case ((_, sa), (_, sb)) => close(sa, sb) } && {
        val want = b.toMap
        a.map(_._1).distinct.length == a.length &&
          a.forall { case (d, s) => close(want.getOrElse(d, b.last._2), s) }
      }
    case _ => false
  }
}

/** One tokenized document of the oracle's corpus. */
final class Doc(val id: Long, val addon: Long, val occ: Array[Tokenizer.TermOccs]) {
  val len: Int = occ.iterator.map(_.tf).sum
  private val terms: Array[String] = occ.map(_.term) // sorted by the tokenizer

  private def lowerBound(t: String): Int =
    java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], t) match {
      case i if i >= 0 => i
      case i => -i - 1
    }

  def tf(t: String): Int = {
    val i = lowerBound(t)
    if (i < terms.length && terms(i) == t) occ(i).tf else 0
  }

  /** Positions and weight classes of a query key: an exact term's own, or
    * for a prefix key the position-ordered union of every matching term.
    */
  def key(term: String, prefix: Boolean): (Array[Int], Array[Byte]) = {
    var i = lowerBound(term)
    if (!prefix) {
      if (i < terms.length && terms(i) == term) (occ(i).positions, occ(i).wclasses)
      else (null, null)
    } else {
      val hits = scala.collection.mutable.ArrayBuffer.empty[(Int, Byte)]
      while (i < terms.length && terms(i).startsWith(term)) {
        occ(i).positions.indices.foreach(j => hits += ((occ(i).positions(j), occ(i).wclasses(j))))
        i += 1
      }
      if (hits.isEmpty) (null, null)
      else {
        val s = hits.sortBy(_._1)
        (s.map(_._1).toArray, s.map(_._2).toArray)
      }
    }
  }

  def provider(cq: CompiledQuery): (TsEval.Provider, Array[Array[Int]], Array[Array[Byte]]) = {
    val ks = cq.keys.map(k => key(k.term, k.prefix))
    val ps = ks.map(_._1)
    val ws = ks.map(_._2)
    (new TsEval.Provider {
      def positions(keyIdx: Int): Array[Int] = ps(keyIdx)
      def wclasses(keyIdx: Int): Array[Byte] = ws(keyIdx)
    }, ps, ws)
  }
}

/** Brute-force answers over the raw tokenized corpus: documents are
  * evaluated with [[TsEval]], top-k is an exhaustive sort (score desc or
  * distance asc, then docId asc) and addon operations sort all matches.
  * A document holding none of a query's keys gives [[TsEval]] the same
  * input as an empty document, so it is evaluated once for all of them.
  * BM25 is written out here, so a wrong engine score fails the check;
  * cover distances come from [[CoverRank.distance]] over the raw
  * positions, so they check the index path against that kernel, not the
  * kernel itself.
  */
final class Oracle(val docs: IndexedSeq[Doc]) {
  val numDocs: Long = docs.length.toLong
  val avgLen: Double = docs.iterator.map(_.len.toLong).sum.toDouble / math.max(1L, numDocs)

  /** term -> indices of the documents holding it, ascending */
  private val byTerm: java.util.TreeMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, scala.collection.mutable.ArrayBuilder.ofInt]()
    docs.indices.foreach { i =>
      docs(i).occ.foreach(o => m.computeIfAbsent(o.term, _ => new scala.collection.mutable.ArrayBuilder.ofInt) += i)
    }
    val t = new java.util.TreeMap[String, Array[Int]]()
    m.forEach((k, v) => t.put(k, v.result()))
    t
  }

  lazy val df: Map[String, Long] = byTerm.asScala.map { case (t, ds) => t -> ds.length.toLong }.toMap

  /** term -> occurrences in the whole corpus */
  lazy val cf: Map[String, Long] =
    byTerm.asScala.map { case (t, ds) => t -> ds.iterator.map(i => docs(i).tf(t).toLong).sum }.toMap

  private def holding(term: String, prefix: Boolean): Iterator[Int] =
    if (!prefix) Option(byTerm.get(term)).iterator.flatten
    else byTerm.tailMap(term, true).asScala.iterator.takeWhile(_._1.startsWith(term)).flatMap(_._2)

  private val none = new TsEval.Provider {
    def positions(keyIdx: Int): Array[Int] = null
    def wclasses(keyIdx: Int): Array[Byte] = null
  }

  /** Documents that can match: those holding a key, or every document when
    * a document without keys matches too.
    */
  private def candidates(cq: CompiledQuery): Iterator[Doc] =
    if (TsEval.matches(cq, none)) docs.iterator
    else cq.keys.iterator.flatMap(k => holding(k.term, k.prefix)).toArray.distinct.sorted.iterator.map(docs)

  /** BM25 with Lucene's always-positive idf, k1 = 1.2, b = 0.75, summed
    * over the distinct query terms in sorted order.
    */
  private def bm25(d: Doc, terms: Seq[String], dfs: Seq[Long]): Double = {
    val k1 = 1.2
    val b = 0.75
    var sc = 0.0
    terms.indices.foreach { j =>
      val tf = d.tf(terms(j))
      if (tf > 0) {
        val idf = math.log(1.0 + (numDocs - dfs(j) + 0.5) / (dfs(j) + 0.5))
        sc += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * d.len / avgLen))
      }
    }
    sc
  }

  def answer(s: Shape): Answer = s.kind match {
    case "bm25" =>
      val terms = s.terms.distinct.sorted
      val dfs = terms.map(t => df.getOrElse(t, 0L))
      val scored = terms.iterator.flatMap(holding(_, prefix = false)).toArray.distinct.iterator
        .map(i => (docs(i).id, bm25(docs(i), terms, dfs))).filter(_._2 > 0.0).toSeq
      Answer.Ranked(scored.sortBy { case (id, sc) => (-sc, id) }.take(s.k))
    case "count" | "phrase" | "prefix" =>
      val cq = compile(s.query)
      Answer.Count(candidates(cq).count(d => TsEval.matches(cq, d.provider(cq)._1)).toLong)
    case "cover" =>
      val cq = compile(s.query)
      val rows = candidates(cq).flatMap { d =>
        val (p, ps, ws) = d.provider(cq)
        if (TsEval.matches(cq, p))
          Some((d.id, CoverRank.distance(cq, ps, ws, 0, d.len).toDouble))
        else None
      }.toSeq
      Answer.Ranked(rows.sortBy { case (id, dist) => (dist, id) }.take(s.k))
    case "addon_topk" =>
      val rows = matching(s.query).flatMap { d =>
        val a = d.addon
        val dist = s.op match {
          case "both" => Some(math.abs(a - s.c))
          case "left" => if (a <= s.c) Some(s.c - a) else None
          case "right" => if (a >= s.c) Some(a - s.c) else None
        }
        dist.map(x => (d.id, x.toDouble))
      }
      Answer.Ranked(rows.sortBy { case (id, dist) => (dist, id) }.take(s.k))
    case "addon_range" =>
      Answer.RowSet(matching(s.query).filter(d => d.addon >= s.lo && d.addon <= s.hi)
        .map(d => (d.id, d.addon)).sortBy(_._1))
  }

  private def compile(q: String): CompiledQuery = CompiledQuery.compile(TsQueryParser.parse(q))

  private def matching(q: String): Seq[Doc] = {
    val cq = compile(q)
    candidates(cq).filter(d => TsEval.matches(cq, d.provider(cq)._1)).toSeq
  }
}

object Queries {

  /** Term draws use one fixed seed, so every seed's pool takes its terms
    * at the same places of its own corpus's frequency distribution.
    */
  val TermDrawSeed = 0x7e57L

  /** The shape pool over one seed's corpus, hottest first (index = Zipf
    * rank). Kinds and templates cycle by rank; each shape draws three terms
    * in proportion to their occurrences in the corpus (single-character
    * tokens left out, so a prefix key has at least two). The corpus the
    * seed generated decides the terms and the answers; the seed also picks
    * the addon constants.
    */
  def pool(oracle: Oracle, n: Int, seed: Long): IndexedSeq[Shape] = {
    val rnd = new scala.util.Random(seed)
    val draw = new scala.util.Random(TermDrawSeed)
    val byCf = oracle.cf.toSeq.filter(_._1.length >= 2).sortBy { case (t, f) => (-f, t) }.toIndexedSeq
    val cdf = byCf.map(_._2.toDouble).scanLeft(0.0)(_ + _).tail.toArray
    def term(): String = {
      val i = java.util.Arrays.binarySearch(cdf, draw.nextDouble() * cdf.last)
      byCf(math.min(byCf.length - 1, if (i >= 0) i else -i - 1))._1
    }
    def make(i: Int): Shape = {
      val kind = Shape.Kinds(i % Shape.Kinds.length)
      val v = i / Shape.Kinds.length
      val ts = IndexedSeq.fill(3)(term())
      def t(j: Int) = ts(j)
      def bool = v % 5 match {
        case 0 => s"${t(0)} & ${t(1)}"
        case 1 => s"${t(0)} | ${t(1)}"
        case 2 => s"${t(0)} & !${t(1)}"
        case 3 => s"(${t(0)} | ${t(1)}) & ${t(2)}"
        case _ => s"${t(0)} & ${t(1)} & ${t(2)}"
      }
      kind match {
        case "bm25" => Shape(kind, "", terms = Seq(t(0), t(1), t(2)).distinct)
        case "count" => Shape(kind, bool)
        case "phrase" => Shape(kind, s"${t(0)} <${1 + v % 3}> ${t(1)}")
        case "prefix" => Shape(kind, s"${t(0).take(2 + v % 2)}:* & ${t(1)}")
        case "cover" => Shape(kind, if (v % 2 == 0) s"${t(0)} & ${t(1)}" else bool)
        case "addon_topk" =>
          Shape(kind, if (v % 2 == 0) t(0) else s"${t(0)} & ${t(1)}",
            c = rnd.nextInt(100000).toLong, op = Seq("both", "left", "right")(v % 3))
        case "addon_range" =>
          val lo = rnd.nextInt(95000).toLong
          Shape(kind, if (v % 2 == 0) t(0) else s"${t(0)} | ${t(1)}", lo = lo, hi = lo + 5000L)
      }
    }
    (0 until n).map(make)
  }

  /** Zipf(1) sampler over pool ranks: rank r is drawn with weight 1/(r+1). */
  final class Zipf(n: Int, seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private val cdf: Array[Double] = {
      val w = (1 to n).map(1.0 / _).scanLeft(0.0)(_ + _).tail.toArray
      w.map(_ / w.last)
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def ranked(rows: Array[Row], score: Int): Answer =
    Answer.Ranked(rows.toSeq.map(r => (r.getLong(0), r.getDouble(score))))

  /** Run one shape through its solo public call, split into a planning span
    * (the call plus forcing the physical plan) and an execution span
    * (`collect`). `count` returns a number, so its planning happens inside
    * its execution span.
    */
  def solo(s: Searcher, sh: Shape, tr: Tracer): Answer = {
    def planExec(df: => DataFrame): Array[Row] = {
      val d = tr.span("search.plan") { val d = df; d.queryExecution.executedPlan; d }
      val rows = tr.span("search.exec")(d.collect())
      if (tr.active) tr.count("scan_files", filesRead(d).toDouble)
      rows
    }
    sh.kind match {
      case "bm25" => ranked(planExec(s.topKBm25(sh.terms, sh.k)), 1)
      case "count" | "phrase" | "prefix" => Answer.Count(tr.span("search.exec")(s.count(sh.query)))
      case "cover" => ranked(planExec(s.topKCover(sh.query, sh.k)), 1)
      case "addon_topk" => ranked(planExec(s.topKAddon(sh.query, sh.c, sh.op, sh.k)), 2)
      case "addon_range" =>
        Answer.RowSet(planExec(s.rangeAddon(sh.query, sh.lo, sh.hi))
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1))
    }
  }

  /** Files the executed plan's parquet scans read (the scans' own metric). */
  def filesRead(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }

  /** Per-slot answers of a fused msearch result (qi, docId, score). */
  def slots(shapes: IndexedSeq[Shape], rows: Array[Row]): IndexedSeq[Answer] = {
    val byQi = rows.groupBy(_.getInt(0))
    shapes.indices.map { qi =>
      val rs = byQi.getOrElse(qi, Array.empty[Row]).toSeq.map(r => (r.getLong(1), r.getDouble(2)))
      shapes(qi).kind match {
        case "bm25" => Answer.Ranked(rs.sortBy { case (d, sc) => (-sc, d) })
        case "count" | "phrase" | "prefix" => Answer.Count(rs.headOption.map(_._1).getOrElse(0L))
        case "cover" | "addon_topk" => Answer.Ranked(rs.sortBy { case (d, sc) => (sc, d) })
        case "addon_range" => Answer.RowSet(rs.map(_._1).sorted.map(d => (d, 0L)))
      }
    }
  }

  /** A range slot carries docIds only; compare it on those. */
  def docIdsOnly(a: Answer): Answer = a match {
    case Answer.RowSet(rs) => Answer.RowSet(rs.map(r => (r._1, 0L)))
    case other => other
  }
}
