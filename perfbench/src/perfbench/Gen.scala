package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded corpus and query generator. Every value is a pure function of
  * (seed, index), so the executors generate pages and the driver rebuilds
  * the oracle's token arrays from the same function without sharing state.
  */
object Gen {
  val VocabSize: Int = 1 << 17 // 131,072 terms
  val ZipfS = 1.0
  val Epoch = 1704067200000L // 2024-01-01T00:00:00Z
  val MinLen = 20
  val MaxLen = 200

  @inline def splitmix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  @inline def mix(a: Long, b: Long): Long = splitmix(a ^ splitmix(b))
  @inline def unit(h: Long): Double = (h >>> 11) * 1.1102230246251565e-16

  /** Small seeded RNG for driver-side choices (query streams, edits). */
  final class Rng(seed: Long) {
    private var s = splitmix(seed)
    def long(): Long = { s += 0x9e3779b97f4a7c15L; splitmix(s) }
    def double(): Double = unit(long())
    def int(n: Int): Int = ((long() >>> 1) % n).toInt
  }

  private val consonants = "bcdfghjklmnprstvz"
  private val vowels = "aeiou"
  private val syllables: Array[String] =
    for (c <- consonants.toArray; v <- vowels.toArray) yield s"$c$v"

  /** Bijective base-85 syllable spelling: lower-case letters only, even
    * length, so no term is a query keyword (AND/OR/NOT) or splits under
    * the tokenizer.
    */
  private def spell(v0: Int): String = {
    var v = v0 + 1
    val sb = new StringBuilder
    while (v > 0) {
      v -= 1
      sb.append(syllables(v % syllables.length))
      v /= syllables.length
    }
    sb.toString
  }

  /** Zipf(ZipfS) vocabulary; rank 0 is the most frequent term. */
  final class Vocab(val seed: Long) {
    private val a = (splitmix(seed ^ 0x51ed) | 1L) & (VocabSize - 1)
    private val c = splitmix(seed ^ 0x2b7f) & (VocabSize - 1)
    val words: Array[String] =
      Array.tabulate(VocabSize)(r => spell(((a * r + c) & (VocabSize - 1)).toInt))
    private val cum: Array[Double] = {
      val w = Array.tabulate(VocabSize)(j => 1.0 / math.pow(j + 1.0, ZipfS))
      val total = w.sum
      var acc = 0.0
      val out = w.map { x => acc += x / total; acc }
      out(VocabSize - 1) = 1.0
      out
    }
    def rank(h: Long): Int = {
      val i = java.util.Arrays.binarySearch(cum, unit(h))
      math.min(if (i >= 0) i + 1 else -i - 1, VocabSize - 1)
    }
  }

  private val vocabs = new java.util.concurrent.ConcurrentHashMap[Long, Vocab]()
  def vocab(seed: Long): Vocab = vocabs.computeIfAbsent(seed, s => new Vocab(s))

  /** Term ranks of doc `i`, in text order. */
  def tokens(seed: Long, i: Long): Array[Int] = {
    val v = vocab(seed)
    val len = MinLen + (((mix(seed ^ 0x7e2d, i) >>> 1) % (MaxLen - MinLen + 1)).toInt)
    Array.tabulate(len)(j => v.rank(mix(seed ^ 0x3c91, i * 1000003L + j)))
  }

  /** Sentences of 6..15 words: first word capitalized, a comma now and
    * then, a full stop at the end. Tokenizes back to exactly `toks`.
    */
  def text(seed: Long, i: Long, toks: Array[Int]): String = {
    val v = vocab(seed)
    val sb = new java.lang.StringBuilder(toks.length * 7)
    var j = 0
    var left = 0
    while (j < toks.length) {
      val w = v.words(toks(j))
      if (left == 0) {
        if (j > 0) sb.append(". ")
        left = 6 + ((mix(seed ^ 0x99, i * 7919L + j) >>> 1) % 10).toInt
        sb.append(Character.toUpperCase(w.charAt(0))).append(w, 1, w.length)
      } else {
        sb.append(if (((mix(seed ^ 0x77, i * 31L + j) >>> 1) % 9) == 0) ", " else " ")
        sb.append(w)
      }
      left -= 1
      j += 1
    }
    sb.append('.')
    sb.toString
  }

  private val langs = Array("en", "de", "fr", "es", "ru")

  val PageSchema: StructType = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** `pages`-shaped row for doc `i` with the given token ranks. */
  def pageRow(seed: Long, i: Long, toks: Array[Int]): Row = {
    val h = mix(seed, i)
    val t = text(seed, i, toks)
    val html = s"<html><head><title>Page $i</title></head><body><p>$t</p></body></html>"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Row(i, s"https://site-${(h >>> 1) % 997}.example/p/$i",
      new java.sql.Timestamp(Epoch + i * 1000L + ((h >>> 20) % 1000)),
      html, t, langs(((h >>> 40) % langs.length).toInt))
  }

  /** Pages [lo, hi) generated on the executors. `tokensOf` lets a
    * workload substitute edited token arrays (planted near-duplicates).
    */
  def pages(spark: SparkSession, seed: Long, lo: Long, hi: Long, parts: Int,
      tokensOf: (Long, Long) => Array[Int] = tokens): DataFrame = {
    val rdd = spark.sparkContext.range(lo, hi, 1, parts)
      .map(i => pageRow(seed, i, tokensOf(seed, i)))
    spark.createDataFrame(rdd, PageSchema)
  }

  /** Write pages [lo, hi) as Parquet; the index and dedup inputs read it. */
  def writePages(spark: SparkSession, seed: Long, lo: Long, hi: Long,
      dir: String, parts: Int,
      tokensOf: (Long, Long) => Array[Int] = tokens): Unit =
    pages(spark, seed, lo, hi, parts, tokensOf).write.mode("overwrite").parquet(dir)

  /** The builder's input contract (docId, key, text, ts) over a pages table. */
  def builderInput(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .selectExpr("docId", "url AS key", "text", "warc_ts AS ts")
}
