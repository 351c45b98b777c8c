package graft.query

import graft.text.Tokenize

/** Boolean query-string language over the inverted index.
  *
  * The reference exposes only raw per-tag postings (/root/reference/src/
  * storage/block.rs:283-292) and leaves composition to the caller; a
  * complete search engine needs a user-facing query language. Grammar
  * (standard search-box conventions — Lucene-style):
  *
  * {{{
  *   query   := orExpr
  *   orExpr  := andExpr (OR andExpr)*
  *   andExpr := unary ((AND)? unary)*        // juxtaposition = implicit AND
  *   unary   := NOT unary | primary
  *   primary := '(' orExpr ')' | '"' words '"' | word'*' | word
  * }}}
  *
  * Keywords are case-insensitive; bare words and quoted phrases are
  * normalized through the SAME versioned tokenizer the index uses
  * (Text.scala spec v1), so `Spark-SQL` inside quotes means the phrase
  * `spark sql`. A bare word must normalize to exactly one index term.
  *
  * The AST is deliberately engine-agnostic. It is also `Searcher`'s plan
  * for every search: one postings scan resolves each leaf per segment and
  * [[eval]] decides the tree per candidate doc — never per-node DataFrame
  * set algebra, which would shuffle once per operator.
  *
  * Pure-negation safety: a query satisfiable by a document containing NONE
  * of its leaves (e.g. `NOT a`, `a OR NOT b`) would match the unbounded
  * complement of the index — [[matchesEmptyDoc]] detects this by evaluating
  * the tree under the all-false assignment and `Searcher.query` rejects it,
  * the same rule Lucene's BooleanQuery applies to must-not-only clauses.
  */
object QueryParser {

  sealed trait Node
  sealed trait Leaf extends Node
  final case class TermLeaf(term: String) extends Leaf
  final case class PrefixLeaf(prefix: String) extends Leaf
  final case class PhraseLeaf(terms: Seq[String]) extends Leaf
  /** `a` and `b` within `k` positions (`ordered`: `a` first); no syntax. */
  private[graft] final case class NearLeaf(a: String, b: String, k: Int,
      ordered: Boolean) extends Leaf
  /** Any dictionary term matching the SQL LIKE `pattern`; no syntax. */
  private[graft] final case class LikeLeaf(pattern: String) extends Leaf
  final case class AndNode(left: Node, right: Node) extends Node
  final case class OrNode(left: Node, right: Node) extends Node
  final case class NotNode(child: Node) extends Node

  final case class ParseException(msg: String) extends IllegalArgumentException(msg)

  // ---- lexer ---------------------------------------------------------
  private sealed trait Tok
  private case object LParen extends Tok
  private case object RParen extends Tok
  private case object AndTok extends Tok
  private case object OrTok extends Tok
  private case object NotTok extends Tok
  private final case class WordTok(w: String, prefix: Boolean) extends Tok
  private final case class PhraseTok(raw: String) extends Tok

  private def lex(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = q.length
    while (i < n) {
      val c = q.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') { out += LParen; i += 1 }
      else if (c == ')') { out += RParen; i += 1 }
      else if (c == '"') {
        val close = q.indexOf('"', i + 1)
        if (close < 0) throw ParseException(s"unterminated quote at offset $i")
        out += PhraseTok(q.substring(i + 1, close))
        i = close + 1
      } else {
        val start = i
        while (i < n && !q.charAt(i).isWhitespace &&
          q.charAt(i) != '(' && q.charAt(i) != ')' && q.charAt(i) != '"') i += 1
        val raw = q.substring(start, i)
        raw.toUpperCase(java.util.Locale.ROOT) match {
          case "AND" => out += AndTok
          case "OR" => out += OrTok
          case "NOT" => out += NotTok
          case _ =>
            val isPrefix = raw.endsWith("*")
            val body = if (isPrefix) raw.dropRight(1) else raw
            out += WordTok(body, isPrefix)
        }
      }
    }
    out.result()
  }

  // ---- recursive-descent parser --------------------------------------
  private final class P(toks: Vector[Tok]) {
    private var pos = 0
    private def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    private def advance(): Tok = { val t = toks(pos); pos += 1; t }

    private def normalizeOne(raw: String, what: String): String = {
      val ts = Tokenize.tokenizeScala(raw)
      if (ts.length != 1)
        throw ParseException(s"$what '$raw' does not normalize to one index term " +
          s"(got ${ts.length}); quote multi-word input as a phrase")
      ts(0)
    }

    def parseQuery(): Node = {
      if (toks.isEmpty) throw ParseException("empty query")
      val n = parseOr()
      if (pos < toks.length) throw ParseException(s"unexpected trailing input at token $pos")
      n
    }

    private def parseOr(): Node = {
      var left = parseAnd()
      while (peek.contains(OrTok)) { advance(); left = OrNode(left, parseAnd()) }
      left
    }

    private def parseAnd(): Node = {
      var left = parseUnary()
      var more = true
      while (more) peek match {
        case Some(AndTok) => advance(); left = AndNode(left, parseUnary())
        case Some(LParen) | Some(NotTok) | Some(_: WordTok) | Some(_: PhraseTok) =>
          left = AndNode(left, parseUnary()) // implicit AND
        case _ => more = false
      }
      left
    }

    private def parseUnary(): Node = peek match {
      case Some(NotTok) => advance(); NotNode(parseUnary())
      case _ => parsePrimary()
    }

    private def parsePrimary(): Node = peek match {
      case Some(LParen) =>
        advance()
        val inner = parseOr()
        if (!peek.contains(RParen)) throw ParseException("missing ')'")
        advance()
        inner
      case Some(PhraseTok(raw)) =>
        advance()
        val ts = Tokenize.tokenizeScala(raw).toSeq
        if (ts.isEmpty) throw ParseException("empty phrase")
        if (ts.size == 1) TermLeaf(ts.head) else PhraseLeaf(ts)
      case Some(WordTok(w, isPrefix)) =>
        advance()
        if (isPrefix) PrefixLeaf(normalizeOne(w, "prefix"))
        else TermLeaf(normalizeOne(w, "term"))
      case other =>
        throw ParseException(s"expected term, phrase, prefix, or '(' — got $other")
    }
  }

  def parse(q: String): Node = new P(lex(q)).parseQuery()

  /** Distinct leaves in first-appearance order (duplicate leaves in the
    * query share one docId resolution).
    */
  def leaves(n: Node): Seq[Leaf] = {
    val out = scala.collection.mutable.LinkedHashSet[Leaf]()
    def walk(x: Node): Unit = x match {
      case l: Leaf => out += l: Unit
      case AndNode(a, b) => walk(a); walk(b)
      case OrNode(a, b) => walk(a); walk(b)
      case NotNode(c) => walk(c)
    }
    walk(n)
    out.toSeq
  }

  /** Evaluate the tree with `leaf` deciding each leaf (short-circuit). */
  def eval(n: Node, leaf: Leaf => Boolean): Boolean = n match {
    case l: Leaf => leaf(l)
    case AndNode(a, b) => eval(a, leaf) && eval(b, leaf)
    case OrNode(a, b) => eval(a, leaf) || eval(b, leaf)
    case NotNode(c) => !eval(c, leaf)
  }

  /** True iff the query matches a document containing none of its leaves —
    * such a query selects the unbounded complement and must be rejected.
    */
  def matchesEmptyDoc(n: Node): Boolean = eval(n, _ => false)
}
