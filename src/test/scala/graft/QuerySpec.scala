package graft

import graft.gen.Pages
import graft.index._
import graft.text.Tokenize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Query semantics vs a naive Spark oracle (explode + groupBy formulations
  * — the FIXTURES.md §3 query fixture set) on the zipf-skewed synthetic
  * corpus: AND/OR/NOT/phrase equality and BM25 rank-identity incl. WAND
  * pruning correctness.
  */
class QuerySpec extends SparkSpec {
  import spark.implicits._

  private val N = 3000L
  private lazy val (dir, docs) = {
    val pages = Pages.generate(spark, N, partitions = 8)
    val d = IndexBuilder.assignDocIds(spark, pages, "url", 0L, 8)
      .select(col("docId"), col("url").as("key"), col("text"),
        col("warc_ts").as("ts")).cache()
    val dd = scratch("queryspec")
    IndexBuilder.build(spark, d, dd, IndexOptions(docsPerSegment = 512))
    (dd, d)
  }
  private lazy val s = new Searcher(spark, dir)
  private lazy val toks = docs
    .select(col("docId"), explode(Tokenize.col(col("text"))).as("term"))
    .cache()

  private def docSet(df: DataFrame): Set[Long] =
    df.select(col("docId").cast("long")).as[Long].collect().toSet

  // head, mid, tail terms under the zipf vocab
  private val head = "term0000"
  private val mid = "term0040"
  private val tail = "term0700"

  test("single-term lookup equals naive filter (head and tail)") {
    for (t <- Seq(head, tail)) {
      val naive = docSet(toks.where(col("term") === t).distinct())
      assert(docSet(s.lookup(t)) == naive, t)
    }
  }

  test("AND equals HAVING count(DISTINCT term) = n, extreme df asymmetry") {
    for (ts <- Seq(Seq(head, tail), Seq(head, mid, "term0010"), Seq(mid, tail))) {
      val naive = docSet(toks.where(col("term").isin(ts: _*))
        .groupBy("docId").agg(countDistinct("term").as("c"))
        .where(col("c") === ts.size))
      assert(docSet(s.and(ts)) == naive, ts.mkString(","))
    }
  }

  test("OR equals grouped union with match counts") {
    val ts = Seq(mid, tail, "term0100")
    val naive = toks.where(col("term").isin(ts: _*))
      .groupBy("docId").agg(countDistinct("term").cast("int").as("matched"))
      .as[(Long, Int)].collect().toMap
    val got = s.or(ts).as[(Long, Int)].collect().toMap
    assert(got == naive)
  }

  test("AND NOT subtracts the exclusion set") {
    val naiveMust = docSet(toks.where(col("term").isin(mid, "term0020"))
      .groupBy("docId").agg(countDistinct("term").as("c")).where(col("c") === 2))
    val naiveNot = docSet(toks.where(col("term") === tail).distinct())
    assert(docSet(s.andNot(Seq(mid, "term0020"), Seq(tail))) == naiveMust -- naiveNot)
  }

  test("missing / empty term sets") {
    assert(s.and(Seq("nosuchterm")).count() == 0)
    assert(s.and(Seq(head, "nosuchterm")).count() == 0)
    assert(s.and(Nil).count() == 0)
    assert(s.or(Seq("nosuchterm")).count() == 0)
    assert(s.bm25(Seq("nosuchterm"), 5).count() == 0)
    assert(s.lookup("nosuchterm").count() == 0)
    // one missing term in bm25 must not zero the others
    assert(s.bm25(Seq(tail, "nosuchterm"), 5).count() > 0)
  }

  test("phrase equals position-adjacency oracle") {
    // build a bigram that actually occurs: take one doc's first two tokens
    val sample = docs.select(col("text")).as[String].head()
    val ws = Tokenize.tokenizeScala(sample)
    val phrase = Seq(ws(0), ws(1))
    val naive = docSet(docs.where(
      concat(lit(" "), regexp_replace(col("text"), lit("\\s+"), lit(" ")), lit(" "))
        .contains(s" ${phrase.mkString(" ")} ")).select("docId"))
    assert(docSet(s.phrase(phrase)) == naive)
    assert(naive.nonEmpty)
  }

  /** Naive BM25 in plain Spark SQL ops — the rank-identity oracle. */
  private def naiveBm25(terms: Seq[String], k: Int): Seq[(Long, Double)] = {
    val m = s.manifest
    val nDocs = m.totalDocs.toDouble
    val avgdl = m.avgdl
    val dl = docs.select(col("docId"), size(Tokenize.col(col("text"))).as("dl"))
    val tf = toks.where(col("term").isin(terms: _*))
      .groupBy("docId", "term").agg(count(lit(1)).as("tf"))
    val df = toks.where(col("term").isin(terms: _*))
      .groupBy("term").agg(countDistinct("docId").as("df"))
    tf.join(df, "term").join(dl, "docId")
      .withColumn("idf", log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("part", col("idf") * col("tf") * 2.2 /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))))
      .groupBy("docId").agg(sum("part").as("score"))
      .withColumn("r", round(col("score"), 6))
      .orderBy(col("r").desc, col("docId"))
      .limit(k)
      .select(col("docId"), col("r"))
      .as[(Long, Double)].collect().toSeq
  }

  test("BM25 top-k rank-identical to the naive oracle (head/mid/tail mixes)") {
    for (terms <- Seq(Seq(head, mid), Seq(mid, tail, "term0100"),
        Seq(head, tail), Seq(tail))) {
      val naive = naiveBm25(terms, 10)
      val got = s.bm25(terms, 10)
        .withColumn("r", round(col("score"), 6))
        .orderBy(col("r").desc, col("docId"))
        .select(col("docId"), col("r"))
        .as[(Long, Double)].collect().toSeq
      assert(got == naive, s"terms=$terms\n got=$got\n exp=$naive")
    }
  }

  test("BM25 with k larger than result set returns all matches") {
    val matches = docSet(s.lookup(tail))
    val got = s.bm25(Seq(tail), matches.size + 100)
    assert(got.count() == matches.size)
  }

  test("rounded-tie top-k: 30 score-tied docs rank-identical to the oracle order") {
    // 30 identical top-scoring docs + filler: far more ties at the rounded
    // boundary than any fixed fetch slack — bm25Rounded must widen its cut
    // until the k-th rounded score strictly separates, then resolve ties by
    // doc_id exactly like the SQL oracle's (round(score,4) DESC, doc_id)
    val sfDir = scratch("tied-sf")
    val tied = (0L until 30L).map(i => (i + 500L, "alpha alpha beta"))
    val filler = (0L until 100L).map(i => (i, s"beta gamma w${i % 9} w${i % 13}"))
    import spark.implicits._
    (tied ++ filler).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    val got = SparkEntry.bm25Rounded(spark, sfDir, Seq("alpha"), 10)
      .as[(Long, Double)].collect().toSeq
    // expected: the 10 smallest doc_ids of the tied group, one score value
    assert(got.map(_._1) == (500L until 510L).toSeq, got)
    assert(got.map(_._2).distinct.size == 1)
  }

  test("prefix query equals naive LIKE expansion and emits no duplicates") {
    val p = "term01" // expands to term0100..term0199 under the zipf vocab
    val naive = docSet(toks.where(col("term").startsWith(p)).distinct())
    val got = s.prefix(p)
    assert(docSet(got) == naive)
    assert(got.count() == naive.size, "per-segment dedup must hold globally")
    assert(s.prefix("nosuchprefix").count() == 0)
  }

  test("suggest equals the naive df ranking under the prefix") {
    val p = "term01"
    val naive = toks.where(col("term").startsWith(p))
      .groupBy("term").agg(countDistinct("docId").as("df"))
      .orderBy(col("df").desc, col("term").asc).limit(10)
      .as[(String, Long)].collect().toSeq
    val got = s.suggest(p, 10).as[(String, Long)].collect().toSeq
    assert(got == naive)
    assert(s.suggest("nosuchprefix", 5).count() == 0)
  }

  test("wildcard equals the naive LIKE filter; trailing-only form equals prefix") {
    for (p <- Seq("term0_4%", "%0042", "term01%")) {
      val naive = docSet(toks.where(col("term").like(p)).distinct())
      val got = s.wildcard(p)
      assert(docSet(got) == naive, p)
      assert(got.count() == naive.size, s"per-segment dedup must hold: $p")
    }
    assert(docSet(s.wildcard("term01%")) == docSet(s.prefix("term01")))
    assert(s.wildcard("zz%zz").count() == 0)
    // all-wildcard patterns are rejected, not run as a full index decode
    assertThrows[IllegalArgumentException](s.wildcard("%"))
    assertThrows[IllegalArgumentException](s.wildcard("_%_"))
  }

  test("fuzzy equals the naive levenshtein filter; empty ball -> empty result") {
    // term0040's distance-1 ball under the termNNNN vocab is every
    // single-digit variant present in the corpus (term0041, term0090, ...)
    val t = "term0040"
    val naive = docSet(toks
      .where(levenshtein(col("term"), lit(t)) <= 1).distinct())
    val got = s.fuzzy(t, maxDist = 1)
    assert(docSet(got) == naive)
    assert(naive.size > docSet(s.lookup(t)).size, "expansion must be non-trivial")
    assert(got.count() == naive.size, "per-segment dedup must hold globally")
    assert(s.fuzzy("zzzzzzzzzz", 1).count() == 0)
  }

  test("moreLikeThis = bm25(k+1) minus the seed, reordered, capped at k") {
    val seedTerms = Seq(head, mid)
    val k = 8
    // pick a seed that actually ranks inside the top k+1 so the exclusion
    // path is exercised, not vacuous
    val top = s.bm25(seedTerms, k + 1)
      .select(col("docId").cast("long"), col("score"))
      .as[(Long, Double)].collect()
    val seedDoc = top.head._1
    val expected = top.filter(_._1 != seedDoc).sortBy { case (d, sc) => (-sc, d) }.take(k).toSeq
    val got = s.moreLikeThis(seedTerms, seedDoc, k)
      .select(col("docId").cast("long"), col("score"))
      .as[(Long, Double)].collect().toSeq
    assert(got.toSet == expected.toSet)
    assert(got.size == k)
    assert(!got.exists(_._1 == seedDoc))
  }

  test("near equals the min-gap oracle in both orders") {
    val (a, b, k) = (head, mid, 4)
    val gapUdf = udf { (t: String, ordered: Boolean) =>
      val ts = Tokenize.tokenizeScala(t)
      val pa = ts.indices.filter(ts(_) == a)
      val pb = ts.indices.filter(ts(_) == b)
      if (ordered) pa.exists(p => pb.exists(q => q - p >= 1 && q - p <= k))
      else pa.exists(p => pb.exists(q => math.abs(q - p) <= k))
    }
    val naiveUn = docSet(docs.where(gapUdf(col("text"), lit(false))))
    val naiveOrd = docSet(docs.where(gapUdf(col("text"), lit(true))))
    assert(docSet(s.near(a, b, k)) == naiveUn)
    assert(docSet(s.near(a, b, k, ordered = true)) == naiveOrd)
    assert(naiveOrd.subsetOf(naiveUn))
    // k=1 ordered is exactly phrase adjacency
    assert(docSet(s.near(a, b, 1, ordered = true)) == docSet(s.phrase(Seq(a, b))))
  }

  test("facets equal the naive count-distinct top-n, ordered") {
    val base = Seq(head, "term0005")
    val matched = docSet(s.and(base))
    val naive = toks
      .where(col("docId").isin(matched.toSeq: _*) && !col("term").isin(base: _*))
      .groupBy("term").agg(countDistinct("docId").as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(15)
      .as[(String, Long)].collect().toSeq
    val got = s.facets(base, 15).as[(String, Long)].collect().toSeq
    assert(got == naive)
    // shuffle-join fallback must agree with the broadcast default
    val gotShuffle = s.facets(base, 15, broadcastMatched = false)
      .as[(String, Long)].collect().toSeq
    assert(gotShuffle == naive)
  }

  test("boolean query string equals explicit set algebra") {
    val (a, b, c, d) = (head, "term0100", mid, tail)
    val q = s"($a OR $b) AND $c NOT $d"
    val expected = ((docSet(s.lookup(a)) ++ docSet(s.lookup(b))) &
      docSet(s.lookup(c))) -- docSet(s.lookup(d))
    assert(docSet(s.query(q)) == expected, q)
    // juxtaposition form parses to the same AND
    assert(docSet(s.query(s"$c ($a OR $b) NOT $d")) == expected)
  }

  test("boolean query with prefix and phrase leaves") {
    // phrase leaf: take an adjacent pair that actually occurs
    val sample = docs.select("text").as[String].head()
    val ws = Tokenize.tokenizeScala(sample)
    val ph = Seq(ws(0), ws(1))
    val expected =
      (docSet(s.prefix("term01")) & docSet(s.phrase(ph))) -- docSet(s.lookup(tail))
    val got = s.query(s"""term01* AND "${ph.mkString(" ")}" AND NOT $tail""")
    assert(docSet(got) == expected)
  }

  test("multi-wave and compacted indexes answer every search like one wave") {
    // the same docs as `s`, built as 3 waves cut at docIds 1000 and 2000:
    // with 512 docs per segment, segIds 1 and 3 straddle a wave boundary
    val dd = scratch("queryspec-waves")
    val noTs = docs.drop("ts")
    IndexBuilder.build(spark, noTs.where(col("docId") < 1000L), dd,
      IndexOptions(docsPerSegment = 512))
    IndexBuilder.append(spark,
      noTs.where(col("docId") >= 1000L && col("docId") < 2000L), dd)
    IndexBuilder.append(spark, noTs.where(col("docId") >= 2000L), dd)
    val ph = Tokenize.tokenizeScala(
      docs.orderBy("docId").select("text").as[String].head()).take(2).toSeq
    def answers(x: Searcher): Seq[Iterable[Any]] = Seq(
      docSet(x.lookup(mid)),
      docSet(x.and(Seq(head, mid))),
      x.or(Seq(mid, tail, "term0100")).as[(Long, Int)].collect().toMap,
      docSet(x.andNot(Seq(head, "term0020"), Seq(mid))),
      docSet(x.phrase(ph)),
      docSet(x.near(head, mid, 4)),
      docSet(x.prefix("term01")),
      docSet(x.wildcard("term0_4%")),
      docSet(x.fuzzy("term0040")),
      docSet(x.query(
        s"""(term01* OR "${ph.mkString(" ")}") AND $head NOT $tail""")))
    val single = answers(s)
    assert(single.forall(_.nonEmpty), "every search must match something")
    val waved = new Searcher(spark, dd)
    assert(waved.manifest.waves.size == 3)
    assert(answers(waved) == single)
    Compactor.compact(spark, dd)
    val compacted = new Searcher(spark, dd)
    assert(compacted.manifest.waves.size < 3)
    assert(answers(compacted) == single)
  }

  test("phrase leaves on an index built without positions are rejected") {
    val dd = scratch("queryspec-nopos")
    IndexBuilder.build(spark, docs.where(col("docId") < 600L), dd,
      IndexOptions(docsPerSegment = 512, withPositions = false))
    val np = new Searcher(spark, dd)
    assert(docSet(np.query(s"$head AND NOT $mid")).nonEmpty)
    for (q <- Seq(s""""$head $mid"""", s"""$head AND NOT "$mid $tail""""))
      assertThrows[IllegalArgumentException](np.query(q))
    assertThrows[IllegalArgumentException](np.phrase(Seq(head, mid)))
    assertThrows[IllegalArgumentException](np.near(head, mid, 2))
  }

  test("pure-negation queries are rejected, not silently empty") {
    assertThrows[graft.query.QueryParser.ParseException](s.query(s"NOT $head"))
    assertThrows[graft.query.QueryParser.ParseException](
      s.query(s"$head OR NOT $mid"))
  }

  // ---- substring search over the trigram-analyzed index ------------------

  // substring verification matches corpus rows via string(idCol) ==
  // docmeta.key, so the trigram fixture stamps key = docId (the main
  // fixture's key is the url). ts dropped: the docId halves used by the
  // append test interleave in time, and substring needs no time travel
  private lazy val triDocs =
    docs.drop("ts").withColumn("key", col("docId").cast("string"))
  private lazy val triDir = {
    val dd = scratch("queryspec-tri")
    IndexBuilder.build(spark, triDocs, dd, IndexOptions(docsPerSegment = 512,
      withPositions = false, analyzer = IndexOptions.TrigramAnalyzer))
    dd
  }
  private lazy val tri = new Searcher(spark, triDir)

  private def containsSet(needle: String): Set[Long] =
    docSet(docs.where(col("text").contains(needle)))

  test("trigram windows: count, content, and short-input emptiness") {
    import graft.text.Trigram
    assert(Trigram.gramsScala(null).isEmpty)
    assert(Trigram.gramsScala("").isEmpty)
    assert(Trigram.gramsScala("ab").isEmpty)
    assert(Trigram.gramsScala("abc").toSeq == Seq("abc"))
    val s0 = "a b\tC0!"
    val got = Trigram.gramsScala(s0)
    assert(got.length == s0.length - 2)
    assert(got.indices.forall(i => got(i) == s0.substring(i, i + 3)))
  }

  test("substring equals brute-force contains across selectivities") {
    val sample = docs.orderBy("docId").select("text").as[String].head()
    val needles = Seq(
      sample.substring(3, 17), // a real cross-token span incl. a space
      "term0",                 // low-selectivity: nearly every doc
      "term0700",              // one tail token
      "zz@@never-there")       // absent gram -> stats-only empty
    for (n <- needles)
      assert(docSet(tri.substring(n, docs, "docId", "text")) == containsSet(n),
        s"needle='$n'")
  }

  test("needles shorter than one window fall back to the exact verify scan") {
    for (n <- Seq("rm", "7"))
      assert(docSet(tri.substring(n, docs, "docId", "text")) == containsSet(n), n)
  }

  test("trigram conjunction is necessary-not-sufficient; verify pass prunes") {
    // a needle stitched from windows that all exist somewhere in the corpus
    // but (almost surely) never contiguously: candidates must be a superset
    // of the exact result, and substring() must return exactly the latter
    val needle = "term0700 term0000"
    val grams = graft.text.Trigram.gramsScala(needle).toIndexedSeq.distinct
    val stats = tri.termStats(grams)
    val exact = containsSet(needle)
    assert(docSet(tri.substring(needle, docs, "docId", "text")) == exact)
    if (grams.forall(stats.contains)) {
      val candidates = docSet(tri.and(
        grams.sortBy(g => stats(g).df).take(4)))
      assert(exact.subsetOf(candidates))
    }
  }

  test("substringAny equals the union of contains; absent needle drops out") {
    val needles = Seq("term0700", "term0100 term", "zz@absent")
    val naive = needles.map(containsSet).reduce(_ ++ _)
    assert(docSet(tri.substringAny(needles, docs, "docId", "text")) == naive)
    // every needle absent -> empty from the stats lookup alone
    assert(tri.substringAny(Seq("zz@absent"), docs, "docId", "text").count() == 0)
    // one sub-window needle forces the exact full verify scan
    val withShort = Seq("term0700", "x7")
    assert(docSet(tri.substringAny(withShort, docs, "docId", "text"))
      == withShort.map(containsSet).reduce(_ ++ _))
  }

  test("substringTopK equals the ranked occurrence oracle on both join paths") {
    val needle = "term0"
    def occ(s: String, n: String): Long = {
      var c = 0L
      var i = s.indexOf(n)
      while (i >= 0) { c += 1; i = s.indexOf(n, i + n.length) }
      c
    }
    val exact = docs.select(col("docId"), col("text")).as[(Long, String)]
      .collect().map { case (d, t) => (d, occ(t, needle)) }
      .filter(_._2 > 0)
      .sortBy { case (d, h) => (-h, d) }.take(10).toSeq
    for (limit <- Seq(4096, 8)) { // pushdown path, then semi-join fallback
      val got = tri.substringTopK(needle, docs, "docId", "text", 10,
        pushdownLimit = limit)
        .select(col("docId").cast("long"), col("hits"))
        .as[(Long, Long)].collect().toSeq
      assert(got == exact, s"pushdownLimit=$limit")
    }
  }

  test("substringKwic equals driver-side string arithmetic") {
    val needle = "term0700"
    val w = 12
    val naive = docs.select(col("docId").cast("long"), col("text"))
      .as[(Long, String)].collect()
      .filter(_._2.contains(needle))
      .map { case (d, t) =>
        val p = t.indexOf(needle) + 1 // 1-based
        val lo = math.max(1, p - w)
        val hi = math.min(t.length, p + needle.length - 1 + w)
        (d, p.toLong, t.substring(lo - 1, hi))
      }.toSet
    val got = tri.substringKwic(needle, docs, "docId", "text", w)
      .select(col("docId").cast("long"), col("pos"), col("snippet"))
      .as[(Long, Long, String)].collect().toSet
    assert(got == naive)
    assert(naive.nonEmpty, "fixture needle must occur")
  }

  test("substringOrdered: order-sensitive, equals the regex relation") {
    // two tokens that co-occur in both orders so the relation is genuinely
    // order-sensitive (forward != unordered AND)
    val (a, b) = ("term0000", "term0001")
    def naive(x: String, y: String): Set[Long] =
      docSet(docs.where(col("text").rlike(s"$x.*$y")))
    val fwd = tri.substringOrdered(Seq(a, b), docs, "docId", "text")
    val rev = tri.substringOrdered(Seq(b, a), docs, "docId", "text")
    assert(docSet(fwd) == naive(a, b))
    assert(docSet(rev) == naive(b, a))
    assert(naive(a, b) != (naive(a, b) ++ naive(b, a)),
      "fixture must make order matter")
    // a sub-window part stays in the verify regex but not the plan
    assert(docSet(tri.substringOrdered(Seq(a, "7"), docs, "docId", "text"))
      == docSet(docs.where(col("text").rlike(s"$a.*7"))))
    // absent part -> empty from stats alone
    assert(tri.substringOrdered(Seq(a, "zz@absent"), docs, "docId", "text")
      .count() == 0)
  }

  test("substring on a word-analyzed index is rejected loudly") {
    assertThrows[IllegalArgumentException](
      s.substring("term", docs, "docId", "text"))
  }

  test("boolean word queries on a trigram index are rejected, not silently empty") {
    assertThrows[IllegalArgumentException](tri.query("term0000 AND term0001"))
  }

  test("append to a trigram index keeps the analyzer (manifest round-trip)") {
    val dd = scratch("queryspec-tri-append")
    val lo = triDocs.where(col("docId") < N / 2)
    val hi = triDocs.where(col("docId") >= N / 2)
    IndexBuilder.build(spark, lo, dd, IndexOptions(docsPerSegment = 512,
      withPositions = false, analyzer = IndexOptions.TrigramAnalyzer))
    IndexBuilder.append(spark, hi, dd)
    val se = new Searcher(spark, dd)
    assert(se.manifest.tokenizer.startsWith("trigram"))
    val needle = "term0700"
    assert(docSet(se.substring(needle, docs, "docId", "text"))
      == containsSet(needle))
  }
}
