package perfbench

/** A query as the benchmark issues it. Terms are index terms (lower-case
  * words of the generated vocabulary).
  */
sealed trait Query { def kind: String }
final case class Bm25Q(terms: Seq[String]) extends Query { def kind = "bm25" }
final case class AndQ(terms: Seq[String]) extends Query { def kind = "and" }
final case class OrQ(terms: Seq[String]) extends Query { def kind = "or" }
final case class AndNotQ(must: Seq[String], not: Seq[String]) extends Query { def kind = "andNot" }
final case class PhraseQ(terms: Seq[String]) extends Query { def kind = "phrase" }
final case class TreeQ(tree: QNode) extends Query { def kind = "query" }

/** Query-language tree; rendered to the engine's query string. */
sealed trait QNode
final case class QTerm(t: String) extends QNode
final case class QPhrase(ts: Seq[String]) extends QNode
final case class QAnd(a: QNode, b: QNode) extends QNode
final case class QOr(a: QNode, b: QNode) extends QNode
final case class QNot(a: QNode) extends QNode

object QNode {
  def render(n: QNode): String = n match {
    case QTerm(t) => t
    case QPhrase(ts) => ts.mkString("\"", " ", "\"")
    case QAnd(a, b) => s"(${render(a)} AND ${render(b)})"
    case QOr(a, b) => s"(${render(a)} OR ${render(b)})"
    case QNot(a) => s"NOT ${render(a)}"
  }
}

/** Brute-force reference answers over the generated corpus: a plain
  * term -> (doc, tf) table built in one counting pass, and the documents'
  * token arrays for adjacency. Docs are 0 until `n`; every query takes an
  * `upto` so a growing index (appends) is checked against its
  * acknowledged prefix.
  */
final class Oracle(docs: Array[Array[Int]], words: Array[String]) {
  val n: Int = docs.length
  private val rankOf: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](words.length * 2)
    words.indices.foreach(r => m.put(words(r), r))
    m
  }
  private val dlPrefix: Array[Long] = {
    val p = new Array[Long](n + 1)
    var i = 0
    while (i < n) { p(i + 1) = p(i) + docs(i).length; i += 1 }
    p
  }
  // postings: docs ascending, parallel tf
  private val (pDocs, pTfs): (Array[Array[Int]], Array[Array[Int]]) = {
    val v = words.length
    val df = new Array[Int](v)
    val last = Array.fill(v)(-1)
    var d = 0
    while (d < n) {
      val ts = docs(d); var j = 0
      while (j < ts.length) { val t = ts(j); if (last(t) != d) { last(t) = d; df(t) += 1 }; j += 1 }
      d += 1
    }
    val pd = Array.tabulate(v)(t => new Array[Int](df(t)))
    val pt = Array.tabulate(v)(t => new Array[Int](df(t)))
    val fill = new Array[Int](v)
    java.util.Arrays.fill(last, -1)
    d = 0
    while (d < n) {
      val ts = docs(d); var j = 0
      while (j < ts.length) {
        val t = ts(j)
        if (last(t) != d) { last(t) = d; pd(t)(fill(t)) = d; fill(t) += 1 }
        pt(t)(fill(t) - 1) += 1
        j += 1
      }
      d += 1
    }
    (pd, pt)
  }

  private val postingPrefix: Array[Long] = {
    val p = new Array[Long](n + 1)
    var i = 0
    while (i < n) { p(i + 1) = p(i) + docs(i).distinct.length; i += 1 }
    p
  }
  /** (term, doc) pairs of docs [lo, hi): the postings an index of them holds. */
  def postings(lo: Int, hi: Int): Long = postingPrefix(hi) - postingPrefix(lo)

  def rank(t: String): Int = { val r = rankOf.get(t); if (r == null) -1 else r.intValue }
  def tokens(d: Int): Array[Int] = docs(d)
  def word(r: Int): String = words(r)
  def totalTokens(upto: Int): Long = dlPrefix(upto)

  /** Number of docs below `upto` that hold term rank `r`. */
  def df(r: Int, upto: Int): Int = {
    val i = java.util.Arrays.binarySearch(pDocs(r), upto)
    if (i >= 0) i else -i - 1
  }
  def df(t: String, upto: Int): Int = { val r = rank(t); if (r < 0) 0 else df(r, upto) }

  private def docsOf(t: String, upto: Int): Array[Int] = {
    val r = rank(t)
    if (r < 0) Array.emptyIntArray else java.util.Arrays.copyOf(pDocs(r), df(r, upto))
  }

  def and(terms: Seq[String], upto: Int): Array[Long] = {
    val lists = terms.distinct.map(docsOf(_, upto)).sortBy(_.length)
    if (lists.isEmpty) return Array.emptyLongArray
    var acc = lists.head
    lists.tail.foreach { l =>
      val s = new java.util.HashSet[Int](l.length * 2); l.foreach(s.add)
      acc = acc.filter(s.contains)
    }
    acc.map(_.toLong)
  }

  /** doc -> number of distinct query terms it holds. */
  def or(terms: Seq[String], upto: Int): Map[Long, Int] = {
    val m = scala.collection.mutable.HashMap.empty[Long, Int]
    terms.distinct.foreach(t => docsOf(t, upto).foreach(d => m(d.toLong) = m.getOrElse(d.toLong, 0) + 1))
    m.toMap
  }

  def andNot(must: Seq[String], not: Seq[String], upto: Int): Array[Long] = {
    val drop = or(not, upto).keySet
    and(must, upto).filterNot(drop.contains)
  }

  private def hasPhrase(d: Int, rs: Array[Int]): Boolean = {
    val ts = docs(d)
    var p = 0
    while (p + rs.length <= ts.length) {
      var s = 0
      while (s < rs.length && ts(p + s) == rs(s)) s += 1
      if (s == rs.length) return true
      p += 1
    }
    false
  }

  def phrase(terms: Seq[String], upto: Int): Array[Long] = {
    val rs = terms.map(rank).toArray
    if (rs.exists(_ < 0)) return Array.emptyLongArray
    and(terms, upto).filter(d => hasPhrase(d.toInt, rs))
  }

  /** Evaluates the tree over every doc that holds at least one leaf. */
  def tree(q: QNode, upto: Int): Array[Long] = {
    val leafDocs = scala.collection.mutable.HashMap.empty[QNode, Set[Long]]
    def leaves(x: QNode): Unit = x match {
      case l @ QTerm(t) => leafDocs(l) = docsOf(t, upto).map(_.toLong).toSet
      case l @ QPhrase(ts) => leafDocs(l) = phrase(ts, upto).toSet
      case QAnd(a, b) => leaves(a); leaves(b)
      case QOr(a, b) => leaves(a); leaves(b)
      case QNot(a) => leaves(a)
    }
    leaves(q)
    def ev(x: QNode, d: Long): Boolean = x match {
      case QAnd(a, b) => ev(a, d) && ev(b, d)
      case QOr(a, b) => ev(a, d) || ev(b, d)
      case QNot(a) => !ev(a, d)
      case l => leafDocs(l).contains(d)
    }
    leafDocs.values.flatten.toSet.filter(ev(q, _)).toArray.sorted
  }

  /** Every matching doc scored by BM25 (engine idf), sorted by
    * (score desc, docId asc).
    */
  def bm25(terms: Seq[String], upto: Int, k1: Double = 1.2, b: Double = 0.75): Array[(Long, Double)] = {
    val nDocs = upto.toDouble
    val avgdl = if (upto == 0) 0.0 else dlPrefix(upto).toDouble / upto
    val scores = scala.collection.mutable.HashMap.empty[Int, Double]
    terms.distinct.map(rank).filter(_ >= 0).foreach { r =>
      val df = this.df(r, upto)
      if (df > 0) {
        val idf = math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
        var i = 0
        while (i < df) {
          val d = pDocs(r)(i)
          val tf = pTfs(r)(i).toDouble
          val dl = docs(d).length.toDouble
          scores(d) = scores.getOrElse(d, 0.0) +
            idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
          i += 1
        }
      }
    }
    scores.toArray.map { case (d, s) => (d.toLong, s) }
      .sortWith((x, y) => x._2 > y._2 || (x._2 == y._2 && x._1 < y._1))
  }
}

object Oracle {
  val ScoreTol = 1e-9

  /** Order-independent 64-bit digest of a doc set (or doc -> count map). */
  def digest(ids: Array[Long]): Long = {
    val s = ids.clone(); java.util.Arrays.sort(s)
    var h = 0x1234567L ^ s.length
    s.foreach(d => h = Gen.mix(h, d))
    h
  }
  def digest(m: Map[Long, Int]): Long =
    digest(m.iterator.map { case (d, c) => d * 64 + c }.toArray)

  /** Top-k check tolerant to float ties: every returned score matches the
    * oracle's score for that doc within ScoreTol, the order is (score desc,
    * docId asc), and no doc clearly above the k-th score is missing.
    */
  def checkTopK(got: Array[(Long, Double)], all: Array[(Long, Double)], k: Int): Option[String] = {
    val want = math.min(k, all.length)
    if (got.length != want) return Some(s"bm25 returned ${got.length} rows, expected $want")
    if (want == 0) return None
    val byDoc = all.iterator.toMap
    var i = 0
    while (i < got.length) {
      val (d, s) = got(i)
      byDoc.get(d) match {
        case None => return Some(s"bm25 returned non-matching doc $d")
        case Some(o) if math.abs(o - s) > ScoreTol => return Some(s"bm25 doc $d score $s, oracle $o")
        case _ =>
      }
      if (i > 0) {
        val (pd, ps) = got(i - 1)
        if (ps < s || (ps == s && pd > d)) return Some(s"bm25 order broken at rank $i")
      }
      i += 1
    }
    val kth = all(want - 1)._2
    val gotDocs = got.map(_._1).toSet
    all.iterator.takeWhile(_._2 > kth + ScoreTol).find(x => !gotDocs.contains(x._1))
      .map(x => s"bm25 missed doc ${x._1} score ${x._2}")
      .orElse(got.find(x => byDoc(x._1) < kth - ScoreTol).map(x => s"bm25 doc ${x._1} below k-th score"))
  }
}
