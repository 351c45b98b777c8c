package perfbench

import graft.index.{Compactor, IndexBuilder, IndexManifest, ManifestIO, Searcher}

/** ingest-lsm: a crawl pipeline over pages with planted near-duplicates.
  * Set-up builds the bulk index; then each incoming wave of later pages is
  * checked for near-duplicates (the dedup operators take turns, one kind
  * per wave), appended, compacted with the tiered policy, and queried by a
  * fixed batch on a fresh Searcher, so every query starts with empty memos.
  * Writes run beside reads on a multi-wave index.
  *
  * The number of waves is fixed by the window, one wave per 5 s and at
  * least 3. With a bulk of 10 waves, ratio-4 compaction merges waves 1+2,
  * then 3 into them and the result into the bulk, so every run ends on a
  * whole merge cycle, and no merge decision sits near its threshold.
  */
object IngestWorkload {
  val BulkDocs = 16380
  val WaveDocs = 1638
  val SecondsPerWave = 5.0

  def waves(seconds: Double): Int = math.max(3, math.round(seconds / SecondsPerWave).toInt)
  private def wavePages(c: Ctx, w: Int) = c.dir(s"pages/wave=$w")

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val bulkPages = c.dir("pages/bulk")
    val indexDir = c.dir("index")
    val nWaves = waves(c.seconds)
    val genOracle = new Oracle(Array.tabulate(BulkDocs)(i => NearDups.tokensOf(c.seed, i)), Gen.vocab(c.seed).words)
    val gen = new QueryGen(genOracle, c.seed ^ 0x1a9e, BulkDocs, fresh = false)
    val batch: Seq[Query] = Seq(gen.next("bm25"), gen.next("query"))
    val dedupKinds = Seq(Seq("minhash", "clusters"), Seq("jaccard"), Seq("simhash"))

    // ---- set-up: corpus and bulk index ---------------------------------------
    var acked = 0L
    def commit(m: IndexManifest, what: String): Unit = {
      c.attempted += 1
      val onDisk = ManifestIO.read(indexDir).totalDocs
      if (m.totalDocs != acked || onDisk != acked)
        c.fail(s"$what: manifest totalDocs ${m.totalDocs} (on disk $onDisk), acknowledged $acked")
    }
    val answers = scala.collection.mutable.ArrayBuffer.empty[(Queries.Answer, Int)]
    def ask(s: Searcher, q: Query, op: Long): Unit =
      try answers += ((c.trace.span(s"search.${q.kind}", op)(Queries.ask(s, q, c.trace, op)), acked.toInt))
      catch { case e: Exception => c.attempted += 1; c.fail(s"${q.kind} $q threw $e") }

    def waveLo(w: Int) = BulkDocs + w.toLong * WaveDocs
    val (_, genMs) = Stats.timeMs {
      Gen.writePages(spark, c.seed, 0, BulkDocs, bulkPages, 4, NearDups.tokensOf)
      (0 until nWaves).foreach { w =>
        Gen.writePages(spark, c.seed, waveLo(w), waveLo(w) + WaveDocs, wavePages(c, w), 4, NearDups.tokensOf)
      }
    }
    val (bulk, buildMs) = Stats.timeMs(c.trace.span("builder.build", 0)(
      IndexBuilder.build(spark, Gen.builderInput(spark, bulkPages), indexDir, SearchWorkload.Opts)))
    acked = BulkDocs
    commit(bulk, "build")
    c.log(f"set-up: gen $genMs%.0f ms, build $buildMs%.0f ms")
    c.metric("setup_s", (genMs + buildMs) / 1000.0, "s")
    c.metric("build_docs_per_s", BulkDocs / (buildMs / 1000.0), "docs/s")

    // ---- timed: append, compact, open, query — once per wave ---------------
    val appendMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val compactMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val openMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val manifestMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val dedupMs = scala.collection.mutable.Map.empty[String, Seq[Double]]
    val dedupWaveMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val dedupResults = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[NearDups.Result])]
    var merges = 0
    val gc0 = Host.gcMs()
    val scored0 = Searcher.scoredCount.sum()
    (0 until nWaves).foreach { w =>
      val op = w + 1L
      c.trace.span("ingest.wave", op) {
        val pages = spark.read.parquet(wavePages(c, w))
        val (rs, dMs) = Stats.timeMs(
          NearDups.runOps(c, pages.select("docId", "text"), dedupKinds(w % dedupKinds.size), op, dedupMs))
        dedupResults += ((w, rs))
        dedupWaveMs += dMs
        val (m, aMs) = Stats.timeMs(c.trace.span("builder.append", op)(
          IndexBuilder.append(spark, pages.selectExpr("docId", "url AS key", "text", "warc_ts AS ts"), indexDir)))
        acked += WaveDocs
        commit(m, s"append $w")
        val (mc, cMs) = Stats.timeMs(c.trace.span("compactor.compact", op)(Compactor.compact(spark, indexDir)))
        merges += m.waves.size - mc.waves.size
        commit(mc, s"compact after wave $w")
        appendMs += aMs
        compactMs += cMs
        manifestMs += Stats.median((0 until 5).map(_ => Stats.timeMs(ManifestIO.read(indexDir))._2))
        val (s, oMs) = Stats.timeMs(c.trace.span("searcher.open", op)(new Searcher(spark, indexDir)))
        openMs += oMs
        batch.foreach(ask(s, _, op))
      }
    }
    val gcMs = Host.gcMs() - gc0
    val scored = Searcher.scoredCount.sum() - scored0
    c.log(s"timed: $nWaves waves, $merges merges")

    // ---- correctness against the acknowledged prefix ----------------------
    val oracle = new Oracle(Array.tabulate(acked.toInt)(i => NearDups.tokensOf(c.seed, i)), Gen.vocab(c.seed).words)
    answers.foreach { case (a, upto) =>
      c.attempted += 1
      Queries.check(a, oracle, upto).foreach(m => c.fail(s"after $upto docs: $m"))
    }
    dedupResults.foreach { case (w, rs) => new NearDups.Oracle(c.seed, waveLo(w), waveLo(w) + WaveDocs).checkAll(c, rs) }

    val timed = answers.map(_._1).toSeq
    val textBytes = (0 until acked.toInt).map(i => Gen.text(c.seed, i, oracle.tokens(i)).length.toLong).sum
    val waveDocs = nWaves.toLong * WaveDocs
    c.metric("append_docs_per_s", waveDocs / ((appendMs.sum + compactMs.sum) / 1000.0), "docs/s", nWaves)
    c.metric("throughput_per_s", waveDocs / ((appendMs.sum + compactMs.sum + dedupWaveMs.sum) / 1000.0),
      "1/s", nWaves)
    c.metric("index_bytes_per_text_byte", Layers.dirBytes(indexDir).toDouble / textBytes, "ratio")
    Layers.latency(c, timed)
    val byKind = Map(
      "dedup" -> dedupWaveMs.toSeq,
      "append" -> appendMs.toSeq,
      "compact" -> compactMs.toSeq,
      "bm25" -> timed.filter(_.q.kind == "bm25").map(_.ms),
      "bool" -> timed.filter(_.q.kind != "bm25").map(_.ms))
    Layers.kinds(c, byKind)
    Layers.opLatency(c, byKind)
    if (c.trace.enabled) {
      c.metric("jvm.gc_ms_per_op", gcMs.toDouble / nWaves, "ms")
      Layers.spark(c, c.trace.named("ingest.wave"))
      Layers.searcher(c, c.trace.allSpans.filter(s => s.name.startsWith("search.") && s.op > 0))
      Layers.wand(c, scored, answers.toSeq.filter(_._1.q.kind == "bm25").map { case (a, upto) =>
        Queries.queryTerms(a.q).distinct.map(oracle.df(_, upto).toLong).sum })
      c.metric("searcher.open_ms", Stats.median(openMs.toSeq), "ms", openMs.size)
      c.metric("manifest.read_ms", Stats.median(manifestMs.toSeq), "ms", manifestMs.size)
      val appends = c.trace.named("builder.append")
      Layers.builder(c, c.trace.named("builder.build"), appends, oracle.postings(0, acked.toInt))
      val compactions = c.trace.named("compactor.compact")
      c.metric("compactor.compact_s", Stats.median(compactions.map(_.ms)) / 1000, "s", compactions.size)
      c.metric("compactor.merges", merges.toDouble, "count")
      val written = (ss: Seq[Span]) => ss.map(c.trace.work(_).outputBytes.toDouble).sum
      c.metric("compactor.write_amp", written(compactions) / math.max(1.0, written(appends)), "ratio")
      Layers.codec(c, new Searcher(spark, indexDir), batch.filter(_.kind == "bm25"), indexDir,
        oracle.postings(0, acked.toInt))
      Layers.textAndParser(c, oracle, batch)
      NearDups.layer(c, dedupMs, spark.read.parquet(wavePages(c, 0)).select("docId", "text"),
        dedupResults.head._2.head.pairs.length)
    }
  }
}
