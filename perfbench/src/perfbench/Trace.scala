package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Times are epoch milliseconds (fractional,
  * from the monotonic clock) so they line up with Spark's event times.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spark work attributed to one job. */
final class JobRec(val id: Int, val group: String, val start: Long) {
  var end: Long = start
  var stages: Set[Int] = Set.empty
}
/** Spark work of one span (its own jobs and those of its sub-spans). */
final case class Work(jobs: Int, stages: Int, tasks: Int, taskMs: Long,
    inputBytes: Long, shuffleWrite: Long, outputBytes: Long, spill: Long,
    jobIntervals: Seq[(Long, Long)])

final class StageRec {
  var tasks = 0
  var runMs = 0L
  var inputBytes = 0L
  var shuffleWrite = 0L
  var outputBytes = 0L
  var spill = 0L
}

/** Spans recorded from the benchmark's own code around each call into a
  * layer, plus a SparkListener that counts jobs, stages and task metrics.
  * Every span sets a Spark job group, so jobs map back to the span (and
  * op) that started them; jobs started from pool threads that do not carry
  * the group fall back to the innermost span open at the job's start.
  * Disabled, `span` only runs its body.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val GroupKey = "spark.jobGroup.id"
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val current = new ThreadLocal[Span]

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).getOrElse("")
      val r = new JobRec(e.jobId, g, e.time)
      r.stages = e.stageIds.toSet
      jobs.put(e.jobId, r)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.computeIfAbsent(e.stageId, _ => new StageRec)
        s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.outputBytes += m.outputMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Runs `f` as span `name` of op `op`, nested under the thread's
    * current span.
    */
  def span[T](name: String, op: Long)(f: => T): T = {
    if (!enabled) return f
    val parent = current.get()
    val id = nextId.getAndIncrement()
    val prevGroup = sc.getLocalProperty(GroupKey)
    sc.setJobGroup(s"span-$id", name)
    val s0 = Span(id, if (parent == null) 0L else parent.id, op, name, now, 0.0)
    current.set(s0)
    try f
    finally {
      spans.add(s0.copy(end = now))
      current.set(parent)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, "")
    }
  }

  /** Writes spans and jobs as JSON lines once the run has ended. */
  def dump(path: java.nio.file.Path): Unit = {
    if (!enabled) return
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      f"""{"span":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""
    } ++ jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      s"""{"job":${j.id},"group":"${j.group}","start_ms":${j.start},"end_ms":${j.end},"stages":[${j.stages.toSeq.sorted.mkString(",")}]}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private lazy val attributed: Map[Long, Seq[JobRec]] = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    val all = spans.asScala.toSeq
    val byGroup = all.map(s => s"span-${s.id}" -> s).toMap
    jobs.values.asScala.toSeq.flatMap { j =>
      byGroup.get(j.group).filter(s => j.start >= s.start - 1 && j.start <= s.end + 1)
        .orElse(all.filter(s => j.start >= s.start && j.start <= s.end).sortBy(-_.start).headOption)
        .map(_.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }
  private lazy val children: Map[Long, Seq[Span]] = spans.asScala.toSeq.groupBy(_.parent)

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = allSpans.filter(_.name == name)

  def work(s: Span): Work = {
    def subtree(x: Span): Seq[Span] = x +: children.getOrElse(x.id, Nil).flatMap(subtree)
    val js = subtree(s).flatMap(x => attributed.getOrElse(x.id, Nil))
    val st = js.flatMap(_.stages).distinct.flatMap(i => Option(stages.get(i)))
    Work(js.size, st.size, st.map(_.tasks).sum, st.map(_.runMs).sum,
      st.map(_.inputBytes).sum, st.map(_.shuffleWrite).sum,
      st.map(_.outputBytes).sum, st.map(_.spill).sum,
      js.map(j => (j.start, j.end)))
  }

  /** Part of the span's wall time during which none of its jobs ran. */
  def driverOnlyMs(s: Span, w: Work): Double = {
    val iv = w.jobIntervals.map { case (a, b) => (math.max(a.toDouble, s.start), math.min(b.toDouble, s.end)) }
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, s.ms - covered)
  }
}
