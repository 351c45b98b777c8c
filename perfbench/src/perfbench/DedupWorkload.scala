package perfbench

import graft.ops.Dedup
import org.apache.spark.sql.DataFrame

/** Planted near-duplicates, the dedup operators as the benchmark calls
  * them, and their oracle.
  *
  * One doc in five (from doc 100 on) is a copy of an earlier original at
  * most 1,000 docs back, with 0, 1, 2, 3 or 6 words substituted.
  */
object NearDups {
  val Shingle = 3
  val MinhashThreshold = 0.9
  val JaccardThreshold = 0.8
  val SimhashDist = 3
  val Kinds = Seq("minhash", "clusters", "jaccard", "simhash")
  private val Edits = Array(0, 1, 2, 3, 6)

  /** Source doc of `i` when `i` is a planted copy. */
  def sourceOf(seed: Long, i: Long): Option[Long] = {
    val h = Gen.mix(seed ^ 0xd0d, i)
    if (i < 100 || (h >>> 1) % 5 != 0) None
    else {
      val j = i - 1 - ((h >>> 8) % math.min(i, 1000L))
      Some(sourceOf(seed, j).getOrElse(j))
    }
  }

  def tokensOf(seed: Long, i: Long): Array[Int] = sourceOf(seed, i) match {
    case None => Gen.tokens(seed, i)
    case Some(src) =>
      val ts = Gen.tokens(seed, src).clone()
      val v = Gen.vocab(seed)
      val h = Gen.mix(seed ^ 0xed17, i)
      (0 until Edits(((h >>> 1) % Edits.length).toInt)).foreach { e =>
        val hh = Gen.mix(h, e)
        ts(((hh >>> 1) % ts.length).toInt) = v.rank(Gen.mix(hh, 7))
      }
      ts
  }

  /** Pairs (a < b) with a score — Jaccard for minhash/jaccard, Hamming
    * distance for simhash — or, for clusters, doc -> representative.
    */
  final case class Result(kind: String, pairs: Array[(Long, Long, Double)], reps: Map[Long, Long])

  private def triples(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  /** Runs the operators of `kinds` over `in` (docId, text), each timed as
    * one op span and its result collected; minhash feeds clusters.
    */
  def runOps(c: Ctx, in: DataFrame, kinds: Seq[String], op: Long,
      times: scala.collection.mutable.Map[String, Seq[Double]]): Seq[Result] = {
    def timed[T](name: String)(f: => T): T = {
      val (r, ms) = Stats.timeMs(c.trace.span(s"dedup.$name", op)(f))
      times(name) = times.getOrElse(name, Nil) :+ ms
      r
    }
    var minhash: DataFrame = null
    val out = kinds.map {
      case "minhash" =>
        minhash = timed("minhash")(Dedup.minhashDedup(in, "docId", "text", Shingle, threshold = MinhashThreshold))
        Result("minhash", triples(minhash), null)
      case "clusters" =>
        Result("clusters", null, timed("clusters")(Dedup.clusters(in, "docId", minhash).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap))
      case "jaccard" =>
        Result("jaccard", timed("jaccard")(triples(Dedup.jaccardPairs(in, "docId", "text", Shingle, JaccardThreshold))), null)
      case "simhash" =>
        Result("simhash", timed("simhash")(Dedup.simhashPairs(in, "docId", "text", SimhashDist)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toDouble))), null)
    }
    Dedup.dropStaged()
    out
  }

  /** Charikar SimHash over md5 of each token occurrence, as the engine
    * defines it (first 8 digest bytes, big-endian).
    */
  def simhash(words: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val acc = new Array[Int](64)
    words.foreach { t =>
      val h = java.nio.ByteBuffer.wrap(md.digest(t.getBytes("UTF-8")), 0, 8).getLong
      (0 until 64).foreach(b => acc(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1))
    }
    (0 until 64).foldLeft(0L)((x, b) => if (acc(b) > 0) x | (1L << b) else x)
  }

  /** Reference answers for docs [lo, hi). */
  final class Oracle(seed: Long, lo: Long, hi: Long) {
    private val toks = (lo until hi).map(i => i -> tokensOf(seed, i)).toMap
    private val sh = toks.map { case (i, ts) =>
      i -> (if (ts.length < Shingle) Set.empty[Long]
        else (0 to ts.length - Shingle).map(p => (ts(p).toLong << 34) | (ts(p + 1).toLong << 17) | ts(p + 2)).toSet)
    }
    private val words = Gen.vocab(seed).words
    def jaccard(a: Long, b: Long): Double = {
      val (x, y) = (sh(a), sh(b))
      val common = x.count(y.contains)
      common.toDouble / (x.size + y.size - common)
    }
    /** Planted pairs inside the range whose Jaccard reaches the threshold. */
    lazy val planted: Seq[(Long, Long)] = (lo until hi).flatMap(i => sourceOf(seed, i).filter(_ >= lo).map(_ -> i))
      .groupBy(_._1).toSeq.flatMap { case (src, cs) =>
        val members = (src +: cs.map(_._2)).sorted
        for (x <- members; y <- members if x < y && jaccard(x, y) >= JaccardThreshold) yield (x, y)
      }

    private def pairs(r: Result, t: Double, what: String): Option[String] =
      r.pairs.find { case (a, b, j) => a >= b || !sh.contains(a) || !sh.contains(b) ||
        math.abs(jaccard(a, b) - j) > 1e-12 || j < t }
        .map { case (a, b, j) => s"$what pair ($a,$b) jaccard $j" }

    /** First mismatch, if any; `minhash` is the pair list clusters used. */
    def check(r: Result, minhash: Result): Option[String] = r.kind match {
      case "minhash" => pairs(r, MinhashThreshold, "minhashDedup")
      case "clusters" =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
        minhash.pairs.foreach { case (a, b, _) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        (lo until hi).find(i => r.reps.get(i) != Some(find(i)))
          .map(i => s"clusters: doc $i rep ${r.reps.get(i)}, oracle ${find(i)}")
          .orElse(if (r.reps.size != hi - lo) Some(s"clusters: ${r.reps.size} docs, expected ${hi - lo}") else None)
      case "jaccard" =>
        pairs(r, JaccardThreshold, "jaccardPairs").orElse {
          val found = r.pairs.map(x => (x._1, x._2)).toSet
          planted.find(x => !found.contains(x)).map(x => s"jaccardPairs missed planted pair $x")
        }
      case "simhash" =>
        r.pairs.find { case (a, b, d) =>
          a >= b || d > SimhashDist ||
            java.lang.Long.bitCount(simhash(toks(a).map(words(_)).toSeq) ^ simhash(toks(b).map(words(_)).toSeq)) != d
        }.map { case (a, b, d) => s"simhashPairs ($a,$b) hamming $d" }
    }

    /** Checks the results of one runOps call. */
    def checkAll(c: Ctx, rs: Seq[Result]): Unit = {
      val mh = rs.find(_.kind == "minhash").orNull
      rs.foreach { r =>
        c.attempted += 1
        check(r, mh).foreach(c.fail)
      }
    }
  }

  /** Per-layer dedup metrics from the traced op spans. */
  def layer(c: Ctx, times: collection.Map[String, Seq[Double]], in: DataFrame, minhashPairs: Int): Unit = {
    Kinds.filter(times.contains).foreach(n =>
      c.metric(s"dedup.${n}_s", Stats.median(times(n)) / 1000, "s", times(n).size))
    val ws = Kinds.flatMap(n => c.trace.named(s"dedup.$n").filter(_.op > 0)).map(c.trace.work)
    c.metric("dedup.jobs", Stats.mean(ws.map(_.jobs.toDouble)), "count", ws.size)
    c.metric("dedup.shuffle_bytes", Stats.mean(ws.map(_.shuffleWrite.toDouble)), "bytes", ws.size)
    val cand = c.trace.span("dedup.candidates", 0)(Dedup.minhashCandidates(in, "docId", "text", Shingle).count())
    Dedup.dropStaged()
    c.metric("dedup.verified_per_candidate", minhashPairs.toDouble / math.max(1L, cand), "ratio")
  }
}

/** dedup-near: the four dedup operators over a corpus with planted
  * near-duplicates, pass after pass while the next pass is expected to end
  * inside the window. No index layer is touched.
  */
object DedupWorkload {
  val Docs = 4096
  val WarmDocs = 1024

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val pagesDir = c.dir("pages")
    val input = () => spark.read.parquet(pagesDir).select("docId", "text")
    val (_, genMs) = Stats.timeMs(Gen.writePages(spark, c.seed, 0, Docs, pagesDir, 4, NearDups.tokensOf))
    val (_, warmMs) = Stats.timeMs(NearDups.runOps(c, input().where(s"docId < $WarmDocs"), NearDups.Kinds, 0,
      scala.collection.mutable.Map.empty))
    c.log(f"set-up: gen $genMs%.0f ms, warm-up pass $warmMs%.0f ms")
    c.metric("setup_s", (genMs + warmMs) / 1000.0, "s")

    val times = scala.collection.mutable.Map.empty[String, Seq[Double]]
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Seq[NearDups.Result], Double)]
    val gc0 = Host.gcMs()
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    while (passes.isEmpty || System.nanoTime() + passes.last._2 * 1e6 < deadline) {
      val op = passes.size + 1L
      passes += Stats.timeMs(c.trace.span("dedup.pass", op)(NearDups.runOps(c, input(), NearDups.Kinds, op, times)))
    }
    val gcMs = Host.gcMs() - gc0

    val oracle = new NearDups.Oracle(c.seed, 0, Docs)
    passes.foreach(p => oracle.checkAll(c, p._1))

    val docsPerS = Docs * passes.size / (passes.map(_._2).sum / 1000.0)
    c.metric("dedup_docs_per_s", docsPerS, "docs/s", passes.size)
    c.metric("throughput_per_s", docsPerS, "1/s", passes.size)
    Layers.kinds(c, times.toMap)
    Layers.opLatency(c, times.toMap)
    if (c.trace.enabled) {
      c.metric("jvm.gc_ms_per_op", gcMs.toDouble / times.values.map(_.size).sum, "ms")
      Layers.spark(c, NearDups.Kinds.flatMap(n => c.trace.named(s"dedup.$n").filter(_.op > 0)))
      NearDups.layer(c, times, input(), passes.head._1.head.pairs.length)
      Layers.textAndParser(c, new Oracle(Array.tabulate(WarmDocs)(i => NearDups.tokensOf(c.seed, i)),
        Gen.vocab(c.seed).words), Nil)
    }
  }
}
