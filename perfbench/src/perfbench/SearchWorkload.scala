package perfbench

import graft.index.{IndexBuilder, IndexOptions, Searcher}

/** search-hot: queries drawn Zipf-weighted from a fixed pool, so after
  * warm-up every Searcher memo hits.
  * search-cold: every query brings a mid/tail term no earlier query used,
  * so term stats and touched segments are fetched.
  * Both run one closed-loop client that alternates BM25 top-10 with the
  * boolean kinds in round-robin. One client, not two: with two, each
  * query's latency depended on which query of the other client overlapped
  * it, and op_p50_ms spread 0.18 (IQR / median over ten seeds, 4-core
  * box, Spark local[4]) against 0.04 with one.
  */
object SearchWorkload {
  val Docs = 32768
  val PoolBm25 = 6
  val PoolPerBoolKind = 1
  val ColdWarmup = 6
  val Opts = IndexOptions(docsPerSegment = 1L << 14, withPositions = true)

  /** Per-client query stream: BM25 and boolean alternate; boolean kinds
    * rotate; within a kind, pool entries are drawn Zipf(1)-weighted.
    */
  private def hotStream(pool: Map[String, IndexedSeq[Query]], seed: Long): Iterator[Query] = {
    val rng = new Gen.Rng(seed)
    def zipf(qs: IndexedSeq[Query]): Query = {
      val w = qs.indices.map(j => 1.0 / (j + 1))
      var u = rng.double() * w.sum
      var j = 0
      while (j < qs.length - 1 && u >= w(j)) { u -= w(j); j += 1 }
      qs(j)
    }
    Iterator.from(0).map { i =>
      if (i % 2 == 0) zipf(pool("bm25"))
      else zipf(pool(Queries.BoolKinds((i / 2) % Queries.BoolKinds.size)))
    }
  }

  private def coldStream(gen: QueryGen): Iterator[Query] =
    Iterator.from(0).map { i =>
      gen.next(if (i % 2 == 0) "bm25" else Queries.BoolKinds((i / 2) % Queries.BoolKinds.size))
    }

  /** Runs each client's stream on its own thread until `deadline`
    * (nanoTime) or the stream ends; returns (answer, completion time).
    */
  private def closedLoop(c: Ctx, streams: Seq[Iterator[Query]], deadline: Long,
      ask: Query => Queries.Answer): Seq[(Queries.Answer, Long)] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Queries.Answer, Long)]()
    val threads = streams.map { stream =>
      new Thread(() => {
        while (stream.hasNext && System.nanoTime() < deadline) {
          val q = stream.next()
          try out.add((ask(q), System.nanoTime()))
          catch { case e: Exception => c.synchronized { c.attempted += 1 }; c.fail(s"${q.kind} $q threw $e") }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq
  }

  def run(c: Ctx, hot: Boolean): Unit = {
    val spark = c.spark
    val pagesDir = c.dir("pages")
    val indexDir = c.dir("index")

    // ---- set-up: corpus, index, Searcher, warm-up ----------------------------
    val (_, genMs) = Stats.timeMs(c.trace.span("gen.pages", 0)(Gen.writePages(spark, c.seed, 0, Docs, pagesDir, 4)))
    val (_, buildMs) = Stats.timeMs(c.trace.span("builder.build", 0)(
      IndexBuilder.build(spark, Gen.builderInput(spark, pagesDir), indexDir, Opts)))
    val (searcher, openMs) = Stats.timeMs(c.trace.span("searcher.open", 0)(new Searcher(spark, indexDir)))
    val oracle = new Oracle(Array.tabulate(Docs)(i => Gen.tokens(c.seed, i)), Gen.vocab(c.seed).words)

    val opIds = new java.util.concurrent.atomic.AtomicLong(0)
    def ask(q: Query) = {
      val op = opIds.incrementAndGet()
      c.trace.span(s"search.${q.kind}", op)(Queries.ask(searcher, q, c.trace, op))
    }
    val (streams, warm) =
      if (hot) {
        val gen = new QueryGen(oracle, c.seed ^ 0x9001, Docs, fresh = false)
        val pool = (("bm25" -> PoolBm25) +: Queries.BoolKinds.map(_ -> PoolPerBoolKind))
          .map { case (k, n) => k -> IndexedSeq.fill(n)(gen.next(k)) }.toMap
        // warm-up: every pool entry once, on 4 threads
        val all = pool.values.flatten.toSeq
        (Seq(hotStream(pool, c.seed * 31)),
          (0 until 4).map(t => all.zipWithIndex.filter(_._2 % 4 == t).map(_._1).iterator))
      } else {
        val stream = coldStream(new QueryGen(oracle, c.seed ^ 0x7007, Docs, fresh = true))
        (Seq(stream), Seq(stream.take(ColdWarmup).toList.iterator))
      }
    val (warmAnswers, warmMs) = Stats.timeMs(closedLoop(c, warm, Long.MaxValue, ask))
    c.log(f"set-up: gen $genMs%.0f ms, build $buildMs%.0f ms, open $openMs%.0f ms, warm-up $warmMs%.0f ms")
    c.metric("setup_s", (genMs + buildMs + openMs + warmMs) / 1000.0, "s")
    c.metric("build_docs_per_s", Docs / (buildMs / 1000.0), "docs/s")
    c.metric("searcher.open_ms", openMs, "ms")

    // ---- timed closed loop ----------------------------------------------------
    val scored0 = Searcher.scoredCount.sum()
    val gc0 = Host.gcMs()
    val loopStart = c.trace.now
    val t0 = System.nanoTime()
    val done = closedLoop(c, streams, t0 + (c.seconds * 1e9).toLong, ask)
    val gcMs = Host.gcMs() - gc0
    val scored = Searcher.scoredCount.sum() - scored0
    val loopS = (done.map(_._2).maxOption.getOrElse(System.nanoTime()) - t0) / 1e9
    val all = done.map(_._1)
    c.log(s"timed loop: ${all.size} queries")

    // ---- correctness (outside the timed loop) ---------------------------------
    val memo = scala.collection.mutable.HashMap.empty[(Query, Long), Option[String]]
    (warmAnswers.map(_._1) ++ all).foreach { a =>
      c.attempted += 1
      val key = (a.q, if (a.top == null) a.digest else a.top.toSeq.hashCode.toLong)
      memo.getOrElseUpdate(key, Queries.check(a, oracle, Docs)).foreach(c.fail)
    }

    Layers.latency(c, all)
    Layers.kinds(c, all.groupBy(_.q.kind).map { case (k, v) => k -> v.map(_.ms) })
    Layers.opLatency(c, Map("bm25" -> all.filter(_.q.kind == "bm25").map(_.ms),
      "bool" -> all.filter(_.q.kind != "bm25").map(_.ms)))
    c.metric("search_qps", all.size / loopS, "1/s", all.size)
    c.metric("throughput_per_s", all.size / loopS, "1/s", all.size)
    if (c.trace.enabled) {
      c.metric("jvm.gc_ms_per_op", gcMs.toDouble / math.max(1, all.size), "ms")
      Layers.wand(c, scored, all.filter(_.q.kind == "bm25")
        .map(a => Queries.queryTerms(a.q).distinct.map(oracle.df(_, Docs).toLong).sum))
      val ops = c.trace.allSpans.filter(s => s.name.startsWith("search.") && s.start >= loopStart)
      Layers.spark(c, ops)
      Layers.searcher(c, ops)
      Layers.codec(c, searcher, all.filter(_.q.kind == "bm25").map(_.q).distinct.take(16),
        indexDir, oracle.postings(0, Docs))
      Layers.textAndParser(c, oracle, all.map(_.q))
      Layers.builder(c, c.trace.named("builder.build"), Nil, oracle.postings(0, Docs))
    }
  }
}
