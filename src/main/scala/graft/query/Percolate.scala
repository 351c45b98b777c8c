package graft.query

import graft.text.Tokenize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Standing-query matching — the "percolator" of fulltext engines,
  * retrieval inverted: a FIXED set of boolean queries is matched against a
  * flow of documents ("which saved searches does this new page hit?").
  *
  * Spark-first shape: the parsed ASTs ride inside ONE deterministic UDF
  * that tokenizes each doc once and evaluates every query against the
  * doc's token array + hash set — per-doc work only, ZERO shuffles, no
  * index, embarrassingly parallel over any corpus, and stateless, so the
  * same plan runs unchanged over a Structured Streaming micro-batch
  * (select + explode are stream-safe without watermarks). At real scale
  * the query set is the small side by construction (saved searches, alert
  * rules), which is exactly the broadcast-closure pattern; a million-query
  * percolator would shard the query set and union — still shuffle-free.
  *
  * Evaluation semantics mirror the index path ([[graft.index.Searcher]]
  * `query`): TermLeaf = token-set membership, PrefixLeaf = any token
  * startsWith, PhraseLeaf = adjacent token run; pure-negation queries are
  * rejected at registration exactly as the index path rejects them
  * (unbounded complement).
  */
object Percolate {

  private def eval(n: QueryParser.Node, toks: Array[String],
      set: java.util.HashSet[String]): Boolean = QueryParser.eval(n, {
    case QueryParser.TermLeaf(t) => set.contains(t)
    case QueryParser.PrefixLeaf(p) =>
      var i = 0
      var found = false
      while (!found && i < toks.length) {
        if (toks(i).startsWith(p)) found = true
        i += 1
      }
      found
    case QueryParser.PhraseLeaf(ts) =>
      val n0 = ts.length
      if (n0 == 0) false
      else {
        val first = ts.head
        var i = 0
        var ok = false
        while (!ok && i + n0 <= toks.length) {
          if (toks(i) == first) {
            var j = 1
            var all = true
            while (all && j < n0) {
              if (toks(i + j) != ts(j)) all = false
              j += 1
            }
            if (all) ok = true
          }
          i += 1
        }
        ok
      }
    case l => throw new IllegalArgumentException(s"$l has no query-string form")
  })

  /** A REQUIRED-TERM set for `n`: a set of terms such that every matching
    * document must contain at least one of them — the percolator's
    * inverted-map key (real percolators index their query set; a doc then
    * only evaluates queries whose required set intersects its tokens).
    * None = no such finite set derivable (prefix leaves, negations), the
    * query stays on the always-evaluate list.
    *
    *  - a term leaf requires its term; a phrase requires EVERY word, any
    *    one indexes it (the first is used);
    *  - AND needs only ONE side's requirement (prefer the smaller defined
    *    set);
    *  - OR needs both sides' union;
    *  - NOT requires nothing of the document.
    */
  private[query] def requiredTerms(n: QueryParser.Node): Option[Set[String]] =
    n match {
      case QueryParser.TermLeaf(t) => Some(Set(t))
      case QueryParser.PhraseLeaf(ts) => ts.headOption.map(Set(_))
      case _: QueryParser.Leaf => None
      case QueryParser.AndNode(l, r) =>
        (requiredTerms(l), requiredTerms(r)) match {
          case (Some(a), Some(b)) => Some(if (a.size <= b.size) a else b)
          case (a, b) => a.orElse(b)
        }
      case QueryParser.OrNode(l, r) =>
        for (a <- requiredTerms(l); b <- requiredTerms(r)) yield a ++ b
      case QueryParser.NotNode(_) => None
    }

  /** (doc, query) evaluations performed in this JVM — a pruning diagnostic
    * for tests (meaningful in local mode only, like Searcher.scoredCount).
    */
  val evalCount = new java.util.concurrent.atomic.LongAdder()

  /** (idCol, query_id) for every (doc, query) match. Query ids are the
    * caller's map keys; parse/validation failures throw at call time, not
    * inside executors.
    *
    * Scale shape (round-6 verdict item 4): the query set is CLAUSE-INDEXED
    * at registration — a term -> candidate-query-ids map built from each
    * query's [[requiredTerms]] — so a document evaluates only the queries
    * whose required set intersects its token set (plus the small residue
    * with no derivable required set). Pure driver-side prep riding the
    * same closure; still ZERO shuffles, still stream-safe.
    */
  def percolate(docs: DataFrame, idCol: String, textCol: String,
      queries: Map[Int, String]): DataFrame = {
    require(queries.nonEmpty, "no standing queries")
    val parsed: Seq[(Int, QueryParser.Node)] = queries.toSeq.sortBy(_._1)
      .map { case (id, q) =>
        val ast = QueryParser.parse(q)
        if (QueryParser.matchesEmptyDoc(ast))
          throw QueryParser.ParseException(
            s"standing query $id '$q' matches documents containing none of " +
              "its terms (unbounded complement) — add a required positive clause")
        id -> ast
      }
    val qs = parsed.toArray // serializable capture (not the enclosing object)
    // term -> indexes (into qs) of queries requiring that term; `always` =
    // queries with no derivable required set
    val termToQs: Map[String, Array[Int]] = qs.iterator.zipWithIndex
      .flatMap { case ((_, ast), i) =>
        requiredTerms(ast).iterator.flatMap(_.iterator.map(_ -> i))
      }
      .toSeq.groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2).distinct.sorted.toArray }
    val always: Array[Int] = qs.indices
      .filter(i => requiredTerms(qs(i)._2).isEmpty).toArray
    val u = udf { (s: String) =>
      if (s == null) Array.empty[Int]
      else {
        val ts = Tokenize.tokenizeScala(s)
        val set = new java.util.HashSet[String](ts.length * 2)
        var i = 0
        while (i < ts.length) { set.add(ts(i)): Unit; i += 1 }
        // candidate set: always-evaluate residue + queries whose required
        // set intersects this doc's tokens (sorted for deterministic
        // evaluation order; output order is fixed by qs index anyway)
        val cand = new java.util.TreeSet[Integer]()
        always.foreach(cand.add(_): Unit)
        val it = set.iterator()
        while (it.hasNext) {
          val hits = termToQs.getOrElse(it.next(), null)
          if (hits != null) hits.foreach(cand.add(_): Unit)
        }
        val out = new scala.collection.mutable.ArrayBuffer[Int](cand.size())
        val ci = cand.iterator()
        while (ci.hasNext) {
          val qi = ci.next()
          evalCount.increment()
          if (eval(qs(qi)._2, ts, set)) out += qs(qi)._1
        }
        out.toArray
      }
    }
    docs.select(col(idCol), explode(u(col(textCol))).as("query_id"))
  }
}
