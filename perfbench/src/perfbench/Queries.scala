package perfbench

import graft.index.Searcher
import org.apache.spark.sql.Row

/** Seeded query generator over the oracle's corpus [0, upto). Terms come
  * from real documents, so every and/phrase query matches something.
  * Bands by Zipf rank: head < 64 <= mid/tail. The shape of the i-th query
  * of a kind (term count, the Zipf rank of its head term, tree template)
  * depends on i only, so a seed changes the terms but not the cost of the
  * mix: a query's cost follows its head term's posting count. With
  * `fresh`, each query carries at least one mid/tail term no earlier query
  * used.
  */
final class QueryGen(o: Oracle, seed: Long, upto: Int, fresh: Boolean) {
  private val rng = new Gen.Rng(seed)
  private val used = scala.collection.mutable.HashSet.empty[Int]
  private val count = scala.collection.mutable.HashMap.empty[String, Int]
  private val Head = 64

  private def doc(): Int = rng.int(upto)
  /** The head rank of a kind's i-th query. */
  private def headRank(i: Int): Int = HeadRanks(i % HeadRanks.length)
  private val HeadRanks = Array(0, 9, 21, 4, 38, 14, 57, 27)
  /** A doc that holds head rank h (each is in over 1 doc in 10). */
  private def docWith(h: Int): Int = {
    var d = doc()
    while (!o.tokens(d).contains(h)) d = doc()
    d
  }
  /** A mid/tail term of doc d (fresh when asked). */
  private def rareTerm(d: Int, mustBeFresh: Boolean): Option[Int] = {
    val cand = o.tokens(d).distinct.filter(r => r >= Head && !(mustBeFresh && used.contains(r)))
    if (cand.isEmpty) None else Some(cand(rng.int(cand.length)))
  }
  private def rareTerms(n: Int, sameDoc: Option[Int], exclude: Set[Int]): Seq[Int] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Int] ++ exclude
    var tries = 0
    while (out.size < n + exclude.size) {
      // a short doc may hold too few rare terms: widen to other docs
      val d = if (tries < 20) sameDoc.getOrElse(doc()) else doc()
      val mustBeFresh = fresh && out.size == exclude.size
      rareTerm(d, mustBeFresh).foreach(out += _)
      tries += 1
    }
    val picked = out.toSeq.drop(exclude.size)
    if (fresh) used ++= picked
    picked
  }
  private def w(rs: Seq[Int]): Seq[String] = rs.map(o.word)

  /** `len` adjacent mid/tail tokens of some doc. */
  private def rarePhrase(len: Int): Seq[Int] = {
    var out: Seq[Int] = Nil
    while (out.isEmpty) {
      val ts = o.tokens(doc())
      val starts = (0 to ts.length - len).filter(p => (p until p + len).forall(j => ts(j) >= Head))
      if (starts.nonEmpty) {
        val p = starts(rng.int(starts.length))
        out = ts.slice(p, p + len).toSeq
      }
    }
    if (fresh) used ++= out
    out
  }

  def next(kind: String): Query = {
    val i = count.getOrElse(kind, 0)
    count(kind) = i + 1
    kind match {
      case "bm25" => // one head term + 1..3 rare terms of the same doc
        val h = headRank(i); val d = docWith(h)
        Bm25Q(w(h +: rareTerms(1 + i % 3, Some(d), Set(h))))
      case "and" =>
        val h = headRank(i); val d = docWith(h)
        AndQ(w(h +: rareTerms(1 + i % 2, Some(d), Set(h))))
      case "or" => OrQ(w(rareTerms(2 + i % 2, None, Set.empty)))
      case "andNot" =>
        val h = headRank(i); val d = docWith(h)
        val must = h +: rareTerms(1, Some(d), Set(h))
        AndNotQ(w(must), w(rareTerms(1, None, must.toSet)))
      case "phrase" => PhraseQ(w(rarePhrase(2 + i % 2)))
      case "query" =>
        def t(r: Int) = QTerm(o.word(r))
        i % 4 match {
          case 0 =>
            val Seq(a, b) = rareTerms(2, None, Set.empty)
            TreeQ(QAnd(QOr(t(a), t(b)), t(headRank(i))))
          case 1 =>
            val Seq(a) = rareTerms(1, None, Set.empty)
            TreeQ(QAnd(t(a), QNot(t(headRank(i)))))
          case 2 =>
            val Seq(r) = rareTerms(1, None, Set.empty)
            TreeQ(QOr(QPhrase(w(rarePhrase(2))), t(r)))
          case _ =>
            val d1 = doc(); val d2 = doc()
            val Seq(a, b) = rareTerms(2, Some(d1), Set.empty)
            val Seq(c, e) = rareTerms(2, Some(d2), Set.empty)
            TreeQ(QOr(QAnd(t(a), t(b)), QAnd(t(c), t(e))))
        }
    }
  }
}

object Queries {
  val BoolKinds = Seq("and", "or", "andNot", "phrase", "query")
  val K = 10

  /** One answered query: latency split into the eager Searcher call
    * (plan) and collecting the returned DataFrame (exec).
    */
  final case class Answer(q: Query, planMs: Double, execMs: Double,
      top: Array[(Long, Double)], digest: Long, rows: Int) {
    def ms: Double = planMs + execMs
  }

  def ask(s: Searcher, q: Query, trace: Trace, op: Long): Answer = {
    val (df, planMs) = Stats.timeMs(trace.span("searcher.plan", op)(q match {
      case Bm25Q(ts) => s.bm25(ts, K)
      case AndQ(ts) => s.and(ts)
      case OrQ(ts) => s.or(ts)
      case AndNotQ(m, n) => s.andNot(m, n)
      case PhraseQ(ts) => s.phrase(ts)
      case TreeQ(t) => s.query(QNode.render(t))
    }))
    val (rows, execMs) = Stats.timeMs(trace.span("searcher.exec", op)(df.collect()))
    q match {
      case _: Bm25Q =>
        Answer(q, planMs, execMs, rows.map(r => (r.getLong(0), r.getDouble(1))), 0L, rows.length)
      case _: OrQ =>
        Answer(q, planMs, execMs, null,
          Oracle.digest(rows.map((r: Row) => r.getLong(0) -> r.getInt(1)).toMap), rows.length)
      case _ =>
        Answer(q, planMs, execMs, null, Oracle.digest(rows.map(_.getLong(0))), rows.length)
    }
  }

  /** Checks an answer against the oracle over docs [0, upto). */
  def check(a: Answer, o: Oracle, upto: Int): Option[String] = {
    def set(want: Array[Long]) =
      if (Oracle.digest(want) == a.digest && want.length == a.rows) None
      else Some(s"${a.q.kind} ${a.q}: ${a.rows} rows, oracle ${want.length}")
    a.q match {
      case Bm25Q(ts) => Oracle.checkTopK(a.top, o.bm25(ts, upto), K).map(m => s"$m for $ts")
      case AndQ(ts) => set(o.and(ts, upto))
      case OrQ(ts) =>
        val want = o.or(ts, upto)
        if (Oracle.digest(want) == a.digest && want.size == a.rows) None
        else Some(s"or $ts: ${a.rows} rows, oracle ${want.size}")
      case AndNotQ(m, n) => set(o.andNot(m, n, upto))
      case PhraseQ(ts) => set(o.phrase(ts, upto))
      case TreeQ(t) => set(o.tree(t, upto))
    }
  }

  def queryTerms(q: Query): Seq[String] = q match {
    case Bm25Q(ts) => ts
    case AndQ(ts) => ts
    case OrQ(ts) => ts
    case AndNotQ(m, n) => m ++ n
    case PhraseQ(ts) => ts
    case TreeQ(t) =>
      def walk(x: QNode): Seq[String] = x match {
        case QTerm(s) => Seq(s)
        case QPhrase(ss) => ss
        case QAnd(a, b) => walk(a) ++ walk(b)
        case QOr(a, b) => walk(a) ++ walk(b)
        case QNot(a) => walk(a)
      }
      walk(t)
  }
}
