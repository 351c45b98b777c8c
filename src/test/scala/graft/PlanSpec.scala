package graft

import graft.index._
import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the scale-critical properties (predicate
  * pushdown, column pruning, partition pruning, top-k without global sort)
  * must be visible in the executed plan, not assumed. SURVEY.md §4.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = {
    val docs = (0L until 600L)
      .map(i => (i, s"k$i", s"w${i % 50} w${(i * 7) % 50} common"))
      .toDF("docId", "key", "text")
    val d = scratch("planspec")
    IndexBuilder.build(spark, docs, d, IndexOptions(docsPerSegment = 128))
    IndexBuilder.append(spark,
      (600L until 900L).map(i => (i, s"k$i", s"w${i % 50} common"))
        .toDF("docId", "key", "text"), d)
    d
  }
  private lazy val s = new Searcher(spark, dir)

  test("term predicate is pushed into the segments parquet scan") {
    val plan = s.postings(Seq("w3", "w7")).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term"), plan)
  }

  test("prefix dictionary predicate is pushed as StringStartsWith") {
    val plan = s.prefix("w1").queryExecution.executedPlan.toString
    assert(plan.contains("StringStartsWith(term,w1"), plan)
  }

  test("andNot and a prefix+phrase query: one segments scan, one exchange") {
    def shape(df: org.apache.spark.sql.DataFrame): (Int, Int, Int) = {
      val lines = df.queryExecution.executedPlan.toString.linesIterator.toSeq
      (lines.count(_.contains("FileScan")),
        lines.count(l => l.contains("FileScan") && l.contains("/segments")),
        lines.count(_.contains("Exchange")))
    }
    assert(shape(s.andNot(Seq("w3", "common"), Seq("w21", "w9"))) == ((1, 1, 1)))
    assert(shape(s.query("w1* AND \"w3 w21\" AND NOT w9")) == ((1, 1, 1)))
    // a single term stays a narrow decode: no shuffle at all
    assert(shape(s.lookup("w3"))._3 == 0)
    assert(shape(s.phrase(Seq("w3")))._3 == 0)
  }

  test("suggest is a stats-only scan: prefix pushed, posting blobs pruned") {
    val plan = s.suggest("w1", 10).queryExecution.executedPlan.toString
    assert(plan.contains("StringStartsWith(term,w1"), plan)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("blocks"), readSchema)
  }

  test("fuzzy phase 2 pushes the expanded term set as an In filter") {
    val plan = s.fuzzy("w1", maxDist = 1).queryExecution.executedPlan.toString
    assert(plan.contains("In(term"), plan)
  }

  test("facets matched-doc set joins broadcast by default") {
    // broadcastMatched=false (AQE-planned fallback for pathological result
    // sets) is correctness-gated in QuerySpec; here assert the default hint
    val plan = s.facets(Seq("w3", "common"), 5).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("termstats rebuild scan prunes the posting blobs (ReadSchema w/o blocks)") {
    val statsScan = s.segments.select("term", "df", "tf", "maxTf")
      .queryExecution.executedPlan.toString
    val readSchema = statsScan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("term") && !readSchema.contains("blocks"), statsScan)
  }

  test("wave selection appears as parquet partition filters") {
    val plan = IndexBuilder.readSegments(spark, dir, Seq(0))
      .queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("wave"), plan)
  }

  test("postings build path contains exactly one exchange (single-shuffle pipeline)") {
    val docs = (0L until 100L).map(i => (i, s"k$i", "a b c")).toDF("docId", "key", "text")
    val tfpos = docs
      .select(col("docId"),
        explode(IndexBuilder.termEntriesUdf(true)(col("text"))
          .getField("es")).as("e"))
      .select(col("e.term").as("term"), col("docId"), col("e.tf").as("tf"),
        col("e.pos").as("pos"),
        (col("docId") / lit(128)).cast("long").as("segId"))
      .repartition(col("term"), col("segId"))
      .sortWithinPartitions("term", "segId", "docId")
    val plan = tfpos.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("brute-force ANN top-k plans TakeOrderedAndProject (no global sort shuffle)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.head().getSeq[Float](1).toArray
    val plan = Similarity.bruteTopK(emb, "vec_id", "embedding", q, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("BM25 global selection is a limit, not a full sort of all candidates") {
    val plan = s.bm25(Seq("w3", "w9"), 5).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("ANN index query prunes the scan by (tbl, bucket) partition filters") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") === 1).select("embedding")
      .head().getSeq[Float](0).toArray
    val annDir = scratch("planspec-ann")
    graft.ops.AnnIndex.build(emb, "vec_id", "embedding", annDir, q.length)
    val plan = graft.ops.AnnIndex.candidates(spark, annDir, q)
      .queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("tbl") && pf.contains("bucket"), plan)
    // the prune is purely partition-level: no data-column predicate needed
    assert(plan.contains("PushedFilters: []"), plan)
  }

  test("IVF index query prunes the scan by list partition filters") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") === 1).select("embedding")
      .head().getSeq[Float](0).toArray
    val ivfDir = scratch("planspec-ivf")
    graft.ops.IvfIndex.build(emb, "vec_id", "embedding", ivfDir, q.length)
    val plan = graft.ops.IvfIndex.candidates(spark, ivfDir, q)
      .queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("list"), plan)
    // the prune is purely partition-level: no data-column predicate needed
    assert(plan.contains("PushedFilters: []"), plan)
  }

  test("topKBatch probe join: broadcast by default, plain join when broadcastProbes=false") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    val ivfDir = scratch("planspec-ivf-batch")
    graft.ops.IvfIndex.build(emb, "vec_id", "embedding", ivfDir, dim)
    val probes = emb.limit(3)
      .selectExpr("vec_id AS qid", "embedding AS qvec",
        "CAST(pmod(vec_id, 4) AS INT) AS list")
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // kill size-based auto-broadcast so the plans show ONLY the switch:
      // true -> the explicit hint broadcasts; false -> a plain join (at
      // real scale AQE re-plans it from actual sizes instead of OOMing on
      // a forced broadcast of an oversized query batch)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hinted = graft.ops.IvfIndex
        .batchCandidates(spark, ivfDir, probes, broadcastProbes = true)
        .queryExecution.executedPlan.toString
      assert(hinted.contains("BroadcastHashJoin"), hinted)
      val plain = graft.ops.IvfIndex
        .batchCandidates(spark, ivfDir, probes, broadcastProbes = false)
        .queryExecution.executedPlan.toString
      assert(!plain.contains("BroadcastHashJoin"), plain)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("doc resolution pushes the id set into the docmeta scan (small results)") {
    val res = s.lookup("w3").limit(5)
    val plan = s.resolve(res).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(docId") ||
      plan.contains("In(docId"), plan)
  }

  test("dedupLines frequent-line set broadcasts by default, shuffles on fallback — never a window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // kill size-based auto-broadcast so the plans show ONLY the switch
      // (same discipline as the topKBatch test above): true -> the explicit
      // hint broadcasts; false -> a plain join AQE can re-plan from actual
      // sizes on an adversarial (non-Zipf) frequent-line set
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bplan = graft.ops.Dedup.dedupLines(docs, "doc_id", "text", minDocs = 2)
        .queryExecution.executedPlan.toString
      assert(bplan.contains("BroadcastHashJoin"), bplan)
      assert(!bplan.contains("Window"), bplan)
      val splan = graft.ops.Dedup
        .dedupLines(docs, "doc_id", "text", minDocs = 2, broadcastFrequent = false)
        .queryExecution.executedPlan.toString
      assert(!splan.contains("BroadcastHashJoin"), splan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("sampleBalanced is a broadcast join + filter — no sort, no window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.ops.Corpus.sampleBalanced(docs, "doc_id", "lang", 100L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the skew-prone alternative (row_number per stratum) would show both:
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Sort "), plan)
    // corpus side reads only the two output columns
    val rs = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!rs.contains("text"), rs)
  }

  test("contamination plans the probe side as a broadcast join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.ops.Dedup.contamination(
        docs.where(col("doc_id") % 31 =!= 0),
        docs.where(col("doc_id") % 31 === 0),
        "doc_id", "text", n = 4, minShared = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // corpus side reads only id + text
    val rs = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!rs.contains("lang"), rs)
  }

  test("packShards never plans a single-partition global window") {
    // the operator materializes via staging, so assert on the building
    // blocks instead: the per-partition totals job is the only shuffle-free
    // aggregate over spark_partition_id, and the output must cover every
    // doc exactly once with non-decreasing shards over the id order
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.ops.Corpus.packShards(docs, "doc_id", "text", 20000L)
    val rows = out.orderBy("doc_id").as[(Long, Long)].collect()
    assert(rows.length == docs.count())
    assert(rows.map(_._1).distinct.length == rows.length)
    val shards = rows.map(_._2)
    assert(shards.zip(shards.tail).forall { case (a, b) => a <= b }, "monotone")
    assert(shards.head == 0L)
  }

  test("collocations joins unigrams broadcast; keywords plans no Window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val collPlan = graft.ops.TextAnalysis
      .collocations(docs, "text", minCount = 1, topN = 5)
      .queryExecution.executedPlan.toString
    assert(collPlan.contains("BroadcastHashJoin"), collPlan)
    assert(!collPlan.contains("Window"), collPlan)
    val kwPlan = graft.ops.TextAnalysis.keywords(docs, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!kwPlan.contains("Window"), kwPlan)
    assert(kwPlan.contains("MapGroups"), kwPlan)
  }

  test("collocations/keywords vocab joins: broadcast by default, plain join on fallback") {
    // the round-6 verdict's one 100-TB hazard: an unguarded broadcast()
    // hint on a vocab-sized table OOMs instead of degrading. With the
    // switch off the plan must hold NO broadcast hash join on the vocab
    // side (same discipline as the dedupLines test below); size-based
    // auto-broadcast is disabled so the plans show ONLY the switch.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val coll = graft.ops.TextAnalysis
        .collocations(docs, "text", minCount = 1, topN = 5,
          broadcastUnigrams = false)
        .queryExecution.executedPlan.toString
      assert(!coll.contains("BroadcastHashJoin"), coll)
      val kwPlan = graft.ops.TextAnalysis
        .keywords(docs, "doc_id", "text", 3, broadcastDf = false)
        .queryExecution.executedPlan.toString
      assert(!kwPlan.contains("BroadcastHashJoin"), kwPlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("fuzzy phase 1 dictionary scan: length band ahead of levenshtein, blobs pruned") {
    // the band predicate is free and must gate the O(n*m) levenshtein in
    // the stats-only dictionary scan (round-6 verdict item 5)
    val dict = s.segments.select("term").distinct()
      .where(abs(length(col("term")) - lit(2)) <= 1 &&
        levenshtein(col("term"), lit("w1")) <= 1)
    val plan = dict.queryExecution.executedPlan.toString
    assert(plan.contains("length(term"), plan)
    assert(plan.contains("levenshtein"), plan)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("blocks"), readSchema)
    // and the operator's own result is unchanged by the band
    assert(s.fuzzy("w1", maxDist = 1).count() > 0)
  }

  test("substring small path pushes the candidate key set into the corpus scan") {
    // the verify pass must be an In-pushdown parquet scan over the
    // candidate ids, not a corpus-wide contains() filter or a join
    val corpusDir = scratch("planspec-substr-corpus")
    (0L until 400L)
      .map(i => (i, if (i % 7 == 0) s"xx needle$i yy" else s"plain row $i"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    val corpus = spark.read.parquet(corpusDir)
    val triDir = scratch("planspec-substr-tri")
    IndexBuilder.build(spark,
      corpus.select(col("doc_id").as("docId"),
        col("doc_id").cast("string").as("key"), col("text")),
      triDir, IndexOptions(docsPerSegment = 128, withPositions = false,
        analyzer = IndexOptions.TrigramAnalyzer))
    val result = new Searcher(spark, triDir)
      .substring("needle7", corpus, "doc_id", "text")
    val plan = result.queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.find(_.contains("PushedFilters"))
      .getOrElse("")
    assert(pushed.contains("In(doc_id, [7,70,77])"), plan)
    assert(!plan.contains("Join"), plan)
    // multiples of 7 below 400 whose digits start with "7": 7, 70, 77
    assert(result.as[Long].collect().toSet == Set(7L, 70L, 77L))
  }
}
