package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One span: a timed interval inside operation `op`. `parent` is -1 for an
  * operation's root span. Times are epoch nanoseconds. */
final case class Span(id: Long, parent: Long, op: Long, name: String, start: Long, end: Long)

/** One timed operation of the closed loop. */
final case class OpRecord(id: Long, kind: String, start: Long, end: Long, ok: Boolean,
    traced: Boolean) {
  def ms: Double = (end - start) / 1e6
}

/**
 * Spark events tied to operations through the job group the harness sets on
 * the client thread while a traced operation runs. Listener events arrive
 * asynchronously; [[Harness.finish]] runs a sentinel job and waits for its
 * end event, after which every earlier event has been delivered.
 */
final class ExecListener extends SparkListener {
  final class Agg {
    var tasks = 0L; var taskMs = 0L; var inBytes = 0L; var inRows = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var stages = 0L
  }
  import ExecListener._

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
  private val stageOp = new ConcurrentHashMap[Int, (Long, Int)]()
  private val aggs = new ConcurrentHashMap[Long, Agg]()
  @volatile var sentinelEnded = false
  @volatile private var sentinelJob = -1

  def agg(op: Long): Agg = aggs.computeIfAbsent(op, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group match {
      case Some(g) if g.startsWith(Harness.GroupPrefix) =>
        val op = g.stripPrefix(Harness.GroupPrefix).toLong
        jobs.put(e.jobId, Job(op, e.jobId, e.time * 1000000L, -1L))
        e.stageIds.foreach(s => stageOp.put(s, (op, e.jobId)))
      case Some(Harness.SentinelGroup) => sentinelJob = e.jobId
      case _ =>
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L)
    if (e.jobId == sentinelJob) sentinelEnded = true
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageOp.get(info.stageId)).foreach { case (op, job) =>
      agg(op).stages += 1
      for (s <- info.submissionTime; c <- info.completionTime)
        stages.add(Stage(op, job, info.stageId, s * 1000000L, c * 1000000L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { case (op, _) =>
      val a = agg(op)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.taskMs += m.executorRunTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}

object ExecListener {
  final case class Job(op: Long, id: Int, start: Long, var end: Long)
  final case class Stage(op: Long, job: Int, id: Int, start: Long, end: Long)
}

object Harness {
  val GroupPrefix = "perfbench-op-"
  val SentinelGroup = "perfbench-sentinel"

  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Monotonic clock aligned once to the epoch, so spans line up with the
    * epoch-millisecond times of Spark's listener events. */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = System.nanoTime() + epochOffsetNs
}

/**
 * The closed loop's bookkeeping: one client thread runs operations one after
 * another, each timed from call to return. Output checks run outside the
 * timed interval, and an operation that throws or fails its check counts as
 * failed.
 *
 * With tracing on, every second operation of each kind, starting with the
 * first, is traced: it runs under its own Spark job group, its storage
 * counters are diffed, and the layer calls inside it record spans. The untraced half gives the baseline
 * for `trace.overhead_pct`. Untraced runs install no listener at all.
 */
final class Harness(spark: SparkSession, tracing: Boolean) {
  import Harness._

  val ops = mutable.ArrayBuffer[OpRecord]()
  val spans = mutable.ArrayBuffer[Span]()
  private val storage = mutable.Map[Long, Array[Long]]()
  /** Per-layer counts summed over traced operations, by metric name. */
  val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val kindSeen = mutable.Map[String, Int]().withDefaultValue(0)
  private var nextOp = 0L
  private var nextSpan = 0L
  private var current: Option[(Long, Long)] = None // (op id, root span id)
  val listener: Option[ExecListener] =
    if (tracing) { val l = new ExecListener; spark.sparkContext.addSparkListener(l); Some(l) } else None
  private val failures = mutable.Map[String, Int]().withDefaultValue(0)

  def tracingCurrent: Boolean = current.isDefined

  /** Time `body` as one operation of `kind`. On a traced operation the
    * Spark job group and the storage counters cover `body` only. `check`
    * then runs untimed on the result; `probe` (traced operations only) runs
    * after it, untimed and outside the job group, for layer measurements
    * that would distort the operation. Returns the result when the
    * operation succeeded. */
  def op[T](kind: String)(body: => T)(check: T => Boolean,
      probe: T => Unit = (_: T) => ()): Option[T] = {
    val id = nextOp; nextOp += 1
    val traced = tracing && { val n = kindSeen(kind); kindSeen(kind) = n + 1; n % 2 == 0 }
    val sc = spark.sparkContext
    val before = if (traced) {
      val root = nextSpan; nextSpan += 1
      current = Some((id, root))
      sc.setJobGroup(GroupPrefix + id, kind, interruptOnCancel = false)
      CountingFs.snapshot()
    } else null
    val t0 = nowNs()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = nowNs()
    if (traced) {
      storage(id) = CountingFs.snapshot().zip(before).map { case (a, b) => a - b }
      sc.clearJobGroup()
    }
    val ok = res match {
      case Left(e) => fail(kind, e); false
      case Right(v) =>
        try check(v) || { fail(kind, new AssertionError("output differs from the expected answer")); false }
        catch { case e: Throwable => fail(kind, e); false }
    }
    current.foreach { case (_, root) =>
      res.foreach(v => try probe(v) catch { case e: Throwable => fail(kind + ".probe", e) })
      spans += Span(root, -1L, id, kind, t0, t1)
      current = None
    }
    ops += OpRecord(id, kind, t0, t1, ok, traced)
    if (ok) res.toOption else None
  }

  /** Record `body` as a span of the current traced operation. */
  def span[T](name: String)(body: => T): T = current match {
    case None => body
    case Some((op, root)) =>
      val id = nextSpan; nextSpan += 1
      val t0 = nowNs()
      try body finally spans += Span(id, root, op, name, t0, nowNs())
  }

  /** Add to a per-layer count while a traced operation runs. */
  def count(name: String, v: Double): Unit = if (current.isDefined) counts(name) += v

  private def fail(kind: String, e: Throwable): Unit = {
    failures(kind) += 1
    if (failures(kind) <= 3) {
      System.err.println(s"[perfbench] $kind failed: $e")
      if (failures(kind) == 1) e.getStackTrace.take(12).foreach(f => System.err.println(s"    at $f"))
    }
  }

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)

  /** Latencies (ms) of the untraced operations of `kind` that succeeded. */
  def ms(kind: String, traced: Boolean = false): Seq[Double] =
    ops.filter(o => o.kind == kind && o.ok && o.traced == traced).map(_.ms).toSeq

  def tracedOps: Seq[OpRecord] = ops.filter(_.traced).toSeq

  /** Wait until every listener event of the run has been delivered. */
  def finish(): Unit = listener.foreach { l =>
    spark.sparkContext.setJobGroup(SentinelGroup, "sentinel", interruptOnCancel = false)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!l.sentinelEnded && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Spark job and stage intervals become child spans of their operation. */
  def allSpans: Seq[Span] = {
    val roots = spans.filter(_.parent < 0).map(s => s.op -> s.id).toMap
    var id = nextSpan
    val extra = mutable.ArrayBuffer[Span]()
    listener.foreach { l =>
      val jobSpan = mutable.Map[Int, Long]()
      l.jobs.values.asScala.toSeq.sortBy(_.id).filter(j => j.end > 0 && roots.contains(j.op)).foreach { j =>
        jobSpan(j.id) = id
        extra += Span(id, roots(j.op), j.op, s"exec.job", j.start, j.end); id += 1
      }
      l.stages.asScala.foreach { s =>
        jobSpan.get(s.job).foreach { parent =>
          extra += Span(id, parent, s.op, "exec.stage", s.start, s.end); id += 1
        }
      }
    }
    spans.toSeq ++ extra
  }

  /** Job-covered time of each traced op, from its exec.job spans. */
  def jobCoveredNs(all: Seq[Span]): Map[Long, Long] = {
    val byOp = all.filter(_.name == "exec.job").groupBy(_.op)
    tracedOps.map { o =>
      o.id -> covered(byOp.getOrElse(o.id, Nil).map(s => (s.start, s.end)), o.start, o.end)
    }.toMap
  }

  /** Mean duration (ms) of the spans called `name`; 0 when there are none. */
  def meanSpanMs(name: String): Double = {
    val xs = allSpans.filter(_.name == name)
    if (xs.isEmpty) 0.0 else xs.map(s => (s.end - s.start) / 1e6).sum / xs.size
  }

  /** Mean time (ms) the given traced operations spent outside their Spark
    * jobs; 0 when there are none. */
  def driverMs(of: Seq[OpRecord]): Double = {
    val jobNs = jobCoveredNs(allSpans)
    if (of.isEmpty) 0.0 else of.map(o => (o.end - o.start) - jobNs.getOrElse(o.id, 0L)).sum / 1e6 / of.size
  }

  def storageOf(op: Long): Array[Long] = storage.getOrElse(op, Array.fill(CountingFs.Ops.size * CountingFs.Kinds.size)(0L))
}
