package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

final case class Metric(name: String, value: Double, unit: String, n: Int = -1)

/** What one run hands its workload: the session, the seed, the measuring
  * window, the trace, and a scratch directory inside the checkout.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Trace, val work: String) {
  val metrics = ArrayBuffer.empty[Metric]
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  def metric(name: String, value: Double, unit: String, n: Int = -1): Unit =
    metrics += Metric(name, value, unit, n)
  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (failures.size < 20) failures += msg
  }
  def dir(name: String): String = s"$work/$name"
  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toArray
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Host {
  /** java processes outside this JVM's ancestry (another benchmark, a
    * stray test JVM) — they share the cores and skew every timing.
    */
  def foreignJvms(): Int = {
    import scala.jdk.CollectionConverters._
    val self = ProcessHandle.current()
    var ancestors = Set(self.pid)
    var p = self.parent()
    while (p.isPresent) { ancestors += p.get.pid; p = p.get.parent() }
    ProcessHandle.allProcesses().iterator().asScala
      .filter(h => !ancestors.contains(h.pid))
      .count { h =>
        val i = h.info()
        (i.command().orElse("") + " " + i.commandLine().orElse("")).contains("java")
      }
  }
  def loadAvg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Seq(-1.0, -1.0, -1.0) }
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Exception => -1.0 }
  /** Largest heap occupancy right after any garbage collection so far:
    * the peak of what the run kept reachable, without the garbage the
    * collector had not yet reclaimed.
    */
  private val peakHeapAfterGc = new java.util.concurrent.atomic.AtomicLong(0)
  def watchHeap(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            peakHeapAfterGc.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
          }, null, null)
      case _ =>
    }
  }
  def peakHeapMb(): Double = peakHeapAfterGc.get / (1024.0 * 1024.0)
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}

/** Entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--trace-out <file>] [--metrics <a,b,..> --require <0|1>]`.
  * Prints a host line, one line per metric, a detail JSON line, and as
  * the last line the result object with the `--metrics` it measured; exits
  * 1 when any operation failed, or, with `--require 1`, a metric is missing.
  */
object Main {
  /** End-to-end metrics a traced run repeats as `traced.<name>`; against
    * the untraced run they give the tracing overhead.
    */
  val TracedCopies = Seq("op_p50_ms", "throughput_per_s")

  val Workloads: Map[String, Ctx => Unit] = Map(
    "search-hot" -> (c => SearchWorkload.run(c, hot = true)),
    "search-cold" -> (c => SearchWorkload.run(c, hot = false)),
    "ingest-lsm" -> IngestWorkload.run,
    "dedup-near" -> DedupWorkload.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val run = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload' (one of ${Workloads.keys.toSeq.sorted.mkString(", ")})")
      sys.exit(2)
    })
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts.getOrElse("work", "perfbench-work")
    new java.io.File(work).mkdirs()

    Host.watchHeap()
    val foreign = Host.foreignJvms()
    val load = Host.loadAvg()
    println(s"""{"perfbench_host":{"foreign_jvms":$foreign,"loadavg":[${load.mkString(",")}],"cores":${Runtime.getRuntime.availableProcessors}}}""")

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seed, seconds, new Trace(spark.sparkContext, traced), work)
    val wall0 = System.nanoTime()
    try run(ctx)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.attempted += 1
        ctx.fail(s"workload aborted: $e")
    }
    ctx.metric("peak_rss_mb", Host.peakRssMb(), "MB")
    ctx.metric("peak_heap_mb", Host.peakHeapMb(), "MB")
    if (traced) TracedCopies.foreach { n =>
      ctx.metrics.find(_.name == n).foreach(m => ctx.metric(s"traced.$n", m.value, m.unit, m.n))
    }
    if (traced) ctx.trace.dump(java.nio.file.Paths.get(opts.getOrElse("trace-out", s"$work/trace.jsonl")))
    graft.util.Staging.dropStaged()
    spark.stop()

    ctx.failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    ctx.metrics.foreach { m =>
      println(f"  ${m.name}%-40s ${m.value}%14.4f ${m.unit}" + (if (m.n >= 0) s"  (n=${m.n})" else ""))
    }
    val ratio = if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted
    println(f"  failed_ops_ratio${" " * 24} $ratio%14.6f ratio  (${ctx.failed}/${ctx.attempted})")
    def js(m: Metric) = s""""${m.name}":{"value":${m.value},"unit":"${m.unit}"${if (m.n >= 0) s""","n":${m.n}""" else ""}}"""
    println(s"""{"perfbench_detail":{"workload":"$workload","seed":$seed,"trace":${if (traced) 1 else 0},""" +
      f""""wall_s":${(System.nanoTime() - wall0) / 1e9}%.3f,"failed_ops_ratio":$ratio,""" +
      s""""metrics":{${ctx.metrics.map(js).mkString(",")}}}}""")
    val wanted = opts.get("metrics").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val byName = ctx.metrics.map(m => m.name -> m).toMap
    val out = wanted.flatMap(byName.get)
    val missing = if (opts.get("require").contains("1")) wanted.filterNot(byName.contains) else Nil
    missing.foreach(m => System.err.println(s"[perfbench] metric $m was not measured"))
    val correct = ctx.failed == 0 && ctx.attempted > 0 && missing.isEmpty
    println(s"""{"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""metrics":{${out.map(m => s""""${m.name}":{"value":${m.value},"unit":"${m.unit}"}""").mkString(",")}}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
