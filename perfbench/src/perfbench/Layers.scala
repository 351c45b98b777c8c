package perfbench

import graft.codec.PostingCodec
import graft.index.Searcher

/** Per-layer metrics derived from the trace's spans and listener counts,
  * plus the probes that time one layer in isolation.
  */
object Layers {
  val Cores = 4

  /** BM25 and pooled-boolean query latency. */
  def latency(c: Ctx, answers: Seq[Queries.Answer]): Unit = {
    val bm25 = answers.filter(_.q.kind == "bm25").map(_.ms)
    val bool = answers.filter(_.q.kind != "bm25").map(_.ms)
    c.metric("bm25_p50_ms", Stats.median(bm25), "ms", bm25.size)
    c.metric("bm25_p90_ms", Stats.pct(bm25, 90), "ms", bm25.size)
    c.metric("bool_p50_ms", Stats.median(bool), "ms", bool.size)
    c.metric("bool_p90_ms", Stats.pct(bool, 90), "ms", bool.size)
  }

  /** op_p50_ms: the geometric mean of each op kind's median latency, so
    * every kind weighs the same whatever its share of the ops.
    */
  def opLatency(c: Ctx, byKind: Map[String, Seq[Double]]): Unit = {
    val meds = byKind.values.filter(_.nonEmpty).map(Stats.median)
    c.metric("op_p50_ms", math.exp(meds.map(math.log).sum / meds.size), "ms", byKind.values.map(_.size).sum)
  }

  /** Median latency of each op kind, as `kind.<k>_p50_ms`. */
  def kinds(c: Ctx, byKind: Map[String, Seq[Double]]): Unit =
    byKind.toSeq.sortBy(_._1).foreach { case (k, v) => c.metric(s"kind.${k}_p50_ms", Stats.median(v), "ms", v.size) }

  private def busy(ws: Seq[(Span, Work)]): Double =
    ws.map(_._2.taskMs.toDouble).sum / math.max(1e-9, ws.map(_._1.ms * Cores).sum)

  /** Spark work per op (an op span covers its sub-spans), as
    * `<prefix>.<counter><suffix>`; `name` maps a counter to its metric name.
    */
  private def work(c: Ctx, ops: Seq[Span], name: String => String): Unit = {
    val ws = ops.map(s => s -> c.trace.work(s))
    val n = ws.size
    c.metric(name("stages"), Stats.mean(ws.map(_._2.stages.toDouble)), "count", n)
    c.metric(name("tasks"), Stats.mean(ws.map(_._2.tasks.toDouble)), "count", n)
    c.metric(name("driver_only_ms"), Stats.median(ws.map { case (s, w) => c.trace.driverOnlyMs(s, w) }), "ms", n)
    c.metric(name("task_busy_ratio"), busy(ws), "ratio", n)
    c.metric(name("input_bytes"), Stats.mean(ws.map(_._2.inputBytes.toDouble)), "bytes", n)
    c.metric(name("shuffle_bytes"), Stats.mean(ws.map(_._2.shuffleWrite.toDouble)), "bytes", n)
  }

  /** The spark.* counters per op of the workload. */
  def spark(c: Ctx, ops: Seq[Span]): Unit = {
    c.metric("spark.jobs_per_op", Stats.mean(ops.map(c.trace.work(_).jobs.toDouble)), "count", ops.size)
    work(c, ops, k => if (k == "task_busy_ratio") s"spark.$k" else s"spark.${k}_per_op")
  }

  /** Searcher layer over query spans: the eager call (plan), the collect
    * (exec), and the Spark work per query.
    */
  def searcher(c: Ctx, ops: Seq[Span]): Unit = {
    val ids = ops.map(_.id).toSet
    Seq("plan", "exec").foreach { part =>
      val ss = c.trace.named(s"searcher.$part").filter(s => ids.contains(s.parent))
      c.metric(s"searcher.${part}_ms", Stats.median(ss.map(_.ms)), "ms", ss.size)
      c.metric(s"searcher.${part}_jobs", Stats.mean(ss.map(c.trace.work(_).jobs.toDouble)), "count", ss.size)
    }
    work(c, ops, {
      case k @ ("driver_only_ms" | "task_busy_ratio") => s"searcher.$k"
      case k => s"searcher.${k}_per_query"
    })
  }

  /** Exact BM25 scorings (Δ Searcher.scoredCount) per posting of the
    * BM25 query terms; `dfSums` holds Σ df per BM25 query.
    */
  def wand(c: Ctx, scored: Long, dfSums: Seq[Long]): Unit =
    c.metric("searcher.wand_scored_per_posting", scored.toDouble / math.max(1L, dfSums.sum), "ratio", dfSums.size)

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.toSeq).getOrElse(Nil).map(x => dirBytes(x.getPath)).sum
  }

  /** Replays PostingCodec.decodeRun on the blocks the given queries fetch,
    * one run per (term, segment) as the executors decode them.
    */
  def codec(c: Ctx, s: Searcher, qs: Seq[Query], indexDir: String, postings: Long): Unit = {
    val runs = c.trace.span("codec.fetch", 0) {
      qs.flatMap { q =>
        s.postings(Queries.queryTerms(q).distinct).collect().toSeq
          .groupBy(sp => (sp.term, sp.segId)).values
          .map(_.sortBy(_.wave).flatMap(_.blocks.toSeq))
      }
    }
    val perPass = runs.map(_.map(_.n.toLong).sum).sum
    runs.foreach(PostingCodec.decodeRun) // warm
    var passes = 0
    val t0 = System.nanoTime()
    while (passes < 3 || System.nanoTime() - t0 < 200000000L) {
      runs.foreach(PostingCodec.decodeRun); passes += 1
    }
    val ns = (System.nanoTime() - t0).toDouble
    c.metric("codec.decode_ns_per_posting", ns / math.max(1L, perPass * passes), "ns", passes)
    c.metric("codec.bytes_per_posting", dirBytes(s"$indexDir/segments").toDouble / postings, "bytes")
  }

  def queryString(q: Query): String = q match {
    case Bm25Q(ts) => ts.mkString(" ")
    case AndQ(ts) => ts.mkString(" AND ")
    case OrQ(ts) => ts.mkString(" OR ")
    case AndNotQ(m, n) => (m ++ n.map("NOT " + _)).mkString(" AND ")
    case PhraseQ(ts) => ts.mkString("\"", " ", "\"")
    case TreeQ(t) => QNode.render(t)
  }

  /** Tokenize.tokenizeScala over the texts of the first 2,000 docs, and
    * QueryParser.parse over the run's query strings.
    */
  def textAndParser(c: Ctx, o: Oracle, qs: Seq[Query]): Unit = {
    val texts = (0 until math.min(2000, o.n)).map(i => Gen.text(c.seed, i, o.tokens(i))).toArray
    val tokens = texts.map(graft.text.Tokenize.tokenizeScala(_).length.toLong).sum
    var passes = 0
    var t0 = System.nanoTime()
    while (passes < 3 || System.nanoTime() - t0 < 200000000L) {
      texts.foreach(graft.text.Tokenize.tokenizeScala); passes += 1
    }
    c.metric("text.tokenize_ns_per_token", (System.nanoTime() - t0).toDouble / (tokens * passes), "ns", passes)
    val strs = (if (qs.isEmpty) Seq("a AND b") else qs.map(queryString)).distinct.toArray
    strs.foreach(graft.query.QueryParser.parse)
    passes = 0
    t0 = System.nanoTime()
    while (passes < 3 || System.nanoTime() - t0 < 50000000L) {
      strs.foreach(graft.query.QueryParser.parse); passes += 1
    }
    c.metric("parser.parse_us", (System.nanoTime() - t0) / 1e3 / (strs.length * passes), "us", strs.length)
  }

  /** IndexBuilder layer over bulk builds and appended waves; `postings` is
    * the (term, doc) count over all of them.
    */
  def builder(c: Ctx, builds: Seq[Span], appends: Seq[Span], postings: Long): Unit = {
    val ws = (builds ++ appends).map(s => s -> c.trace.work(s))
    if (builds.nonEmpty) c.metric("builder.build_s", Stats.median(builds.map(_.ms)) / 1000, "s", builds.size)
    if (appends.nonEmpty) c.metric("builder.append_s", Stats.median(appends.map(_.ms)) / 1000, "s", appends.size)
    c.metric("builder.jobs_per_wave", Stats.mean(ws.map(_._2.jobs.toDouble)), "count", ws.size)
    c.metric("builder.shuffle_write_bytes_per_posting",
      ws.map(_._2.shuffleWrite.toDouble).sum / math.max(1L, postings), "bytes", ws.size)
    c.metric("builder.spill_bytes", Stats.mean(ws.map(_._2.spill.toDouble)), "bytes", ws.size)
    c.metric("builder.task_busy_ratio", busy(ws), "ratio", ws.size)
  }
}
