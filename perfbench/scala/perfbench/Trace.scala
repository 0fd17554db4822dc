package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced interval: `<layer>.<call>`, wall-clock nanos, the span
  * that caused it (0 = none) and the op id all spans of one op share.
  */
final case class Span(id: Int, name: String, op: Long, parent: Int, start: Long, end: Long) {
  def nanos: Long = end - start
}

/** In-memory span recorder. Spans are kept until the run ends; the
  * parent and op are inherited by threads a traced call spawns
  * (`SqlBackend`'s watchdog worker, `LlmPar`'s pool), so a layer
  * called on another thread still nests under its caller. A span
  * opened on a thread that carries no op (a server's own thread) asks
  * [[opOfThread]] for one.
  */
object Trace {
  @volatile var enabled = false
  @volatile var opOfThread: () => Long = () => 0L
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ctx = new InheritableThreadLocal[(Long, Int)] {
    override def initialValue(): (Long, Int) = (0L, 0)
  }

  def reset(): Unit = spans.clear()
  def all: Seq[Span] = spans.asScala.toSeq

  /** Run `body` as op `op` on this thread (and threads it spawns). */
  def op[A](op: Long)(body: => A): A = {
    val saved = ctx.get
    ctx.set((op, 0))
    try body finally ctx.set(saved)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val saved = ctx.get
      val op = if (saved._1 != 0) saved._1 else opOfThread()
      val id = ids.incrementAndGet()
      ctx.set((op, id))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, op, saved._2, t0, System.nanoTime()))
        ctx.set(saved)
      }
    }

  /** Total length of the union of `[start, end)` intervals, clipped to
    * `[lo, hi)`.
    */
  def unionNanos(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children's intervals cover (overlapping children count once).
    */
  def selfNanos(s: Span, children: Seq[Span]): Long =
    s.nanos - unionNanos(children.map(c => (c.start, c.end)), s.start, s.end)
}

/** Percentiles by the nearest-rank rule, plus the tail rule: report
  * the highest percentile that still has at least ten samples beyond
  * it.
  */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest of p99/p95/p90/p75/p50 with >= 10 samples above its
    * rank, or None when even the median has fewer than ten beyond it.
    */
  def tailPercentile(n: Int): Option[Int] =
    Seq(99, 95, 90, 75, 50).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10)
}

/** One finished Spark job, attributed to the op whose calling thread
  * set `Jobs.OpKey` (or -1 when the job carried none), with the job
  * description its thread set (`SqlBackend`: the SQL; `Serving`:
  * `serving <instance id>`).
  */
final case class Job(id: Int, op: Long, desc: String, start: Long, end: Long,
    stages: Int, tasks: Long, runMs: Long, schedDelayMs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long)

/** The benchmark's SparkListener: sums stage/task metrics per job and
  * tags each job with the op id the submitting thread carried in the
  * `perfbench.op` local property (inherited by the watchdog threads the
  * program spawns). Jobs of the serving server's own threads carry no
  * op; [[Jobs.attribute]] assigns those by their description.
  */
class Jobs extends SparkListener {
  private final class Acc(val op: Long, val desc: String, val start: Long, val stageIds: Seq[Int]) {
    var tasks = 0L; var runMs = 0L; var sched = 0L; var gc = 0L
    var sw = 0L; var sr = 0L; var spill = 0L; var input = 0L
  }
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val done = new ConcurrentLinkedQueue[Job]()

  def finished: Seq[Job] = done.asScala.toSeq
  def reset(): Unit = done.clear()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Jobs.OpKey))).map(_.toLong).getOrElse(-1L)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).orNull
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    open.put(e.jobId, new Acc(op, desc, System.nanoTime(), e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = Option(stageToJob.get(e.stageId)).flatMap(j => Option(open.get(j)))
    (acc, Option(e.taskMetrics)) match {
      case (Some(a), Some(m)) => a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.gc += m.jvmGCTime
        a.sched += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        a.sw += m.shuffleWriteMetrics.bytesWritten
        a.sr += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
      case _ => ()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { a =>
      a.stageIds.foreach(stageToJob.remove)
      done.add(Job(e.jobId, a.op, a.desc, a.start, System.nanoTime(), a.stageIds.size,
        a.tasks, a.runMs, a.sched, a.gc, a.sw, a.sr, a.spill, a.input))
    }
}

object Jobs {
  val OpKey = "perfbench.op"

  /** Jobs that carry no op go to the one op that holds the job's key
    * (the instance id or question its description names) and whose
    * window `(op, keys, start, end)` holds the job's start; a job
    * without a key, or with no or several such ops, stays
    * unattributed (-1).
    */
  def attribute(jobs: Seq[Job], key: Job => Option[String],
      ops: Seq[(Long, Set[String], Long, Long)]): Seq[Job] =
    jobs.map { j =>
      if (j.op >= 0) j
      else key(j).map(k => ops.filter { case (_, ks, a, b) =>
        ks.contains(k) && j.start >= a && j.start <= b }) match {
        case Some(Seq((op, _, _, _))) => j.copy(op = op)
        case _ => j
      }
    }
}
