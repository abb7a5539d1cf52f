package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed interval at a module boundary. `parent` is the index of the
  * enclosing driver span (-1 at top level); `op` is the operation id the
  * span belongs to (a pipe iteration, a snapshot pass, a trigger). */
final case class Span(name: String, layer: String, start: Long, end: Long,
    parent: Int, op: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder for the traced run. Driver spans are opened
  * and closed on the calling thread around each call into graft; Spark
  * jobs and task metrics arrive from a [[SparkListener]] and are
  * attributed to the operation (and driver span) open when they happen.
  * Recording happens only while `active`: the traced run switches it per
  * operation so traced and untraced operations interleave, and an
  * untraced run never turns it on. */
final class Tracer(val enabled: Boolean) {
  @volatile var active: Boolean = enabled
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  @volatile private var currentOp: Long = -1L
  @volatile private var openSpan: Int = -1
  private val jobs = new ConcurrentLinkedQueue[Span]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, Long)]()
  private val shuffleBytesByOp = new java.util.concurrent.ConcurrentHashMap[Long, AtomicLong]()
  private val cpuNanosByOp = new java.util.concurrent.ConcurrentHashMap[Long, AtomicLong]()

  private val selfNanos = new AtomicLong()
  /** Time spent recording (span bookkeeping and listener callbacks). */
  def recordingSeconds: Double = selfNanos.get / 1e9

  def setOp(op: Long): Unit = currentOp = op

  def span[A](layer: String, name: String)(f: => A): A =
    if (!active) f
    else {
      val r0 = System.nanoTime()
      val idx = synchronized {
        spans += Span(name, layer, System.nanoTime(), -1L, stack.headOption.getOrElse(-1), currentOp)
        spans.size - 1
      }
      stack = idx :: stack
      openSpan = idx
      selfNanos.addAndGet(System.nanoTime() - r0)
      try f
      finally {
        val end = System.nanoTime()
        synchronized { spans(idx) = spans(idx).copy(end = end) }
        stack = stack.tail
        openSpan = stack.headOption.getOrElse(-1)
        selfNanos.addAndGet(System.nanoTime() - end)
      }
    }

  /** Registers the job/task listener on `sc` (traced runs only). */
  def attach(sc: SparkContext): Unit = if (enabled) sc.addSparkListener(new SparkListener {
    private def timed(f: => Unit): Unit = {
      val t = System.nanoTime(); f; selfNanos.addAndGet(System.nanoTime() - t)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (active) timed(jobStart.put(e.jobId, (System.nanoTime(), openSpan, currentOp)))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobStart.remove(e.jobId)).foreach { case (s, parent, op) =>
        jobs.add(Span(s"job-${e.jobId}", "spark", s, System.nanoTime(), parent, op))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (active) timed(Option(e.taskMetrics).foreach { m =>
        val b = m.shuffleWriteMetrics.bytesWritten
        if (b > 0) shuffleBytesByOp.computeIfAbsent(currentOp, _ => new AtomicLong()).addAndGet(b)
        cpuNanosByOp.computeIfAbsent(currentOp, _ => new AtomicLong()).addAndGet(m.executorCpuTime)
      })
  })

  def driverSpans: Seq[Span] = synchronized(spans.toVector)
  def jobSpans: Seq[Span] = jobs.asScala.toVector
  def shuffleBytes(op: Long): Long = Option(shuffleBytesByOp.get(op)).map(_.get).getOrElse(0L)
  def taskCpuSeconds(op: Long): Double = Option(cpuNanosByOp.get(op)).map(_.get / 1e9).getOrElse(0.0)

  def jobsOf(op: Long): Seq[Span] = jobSpans.filter(_.op == op)

  /** Wall time of [start, end) not covered by any job interval of `op`. */
  def driverGapSeconds(op: Long, start: Long, end: Long): Double = {
    val ivs = jobsOf(op).map(j => (math.max(j.start, start), math.min(j.end, end)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    ivs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    ((end - start) - covered) / 1e9
  }

  /** Self time per layer: each driver span's duration minus its driver
    * children. Spark jobs are reported as their own layer (`spark`)
    * without being subtracted, because they overlap their parent's
    * driver work rather than nest in it. */
  def selfSecondsByLayer: Map[String, Double] = {
    val all = driverSpans.filter(_.end > 0)
    val childSum = new Array[Long](all.size)
    all.foreach(s => if (s.parent >= 0 && s.parent < childSum.length) childSum(s.parent) += s.end - s.start)
    val byLayer = all.indices.groupBy(i => all(i).layer).map { case (layer, ix) =>
      layer -> ix.map(i => (all(i).end - all(i).start - childSum(i)) / 1e9).sum
    }
    byLayer + ("spark" -> jobSpans.map(_.seconds).sum)
  }
}

/** One timed operation of a workload (a snapshot pass, a sync iteration,
  * a trigger): its span op id, wall interval, whether it was traced and
  * whether it succeeded. */
final case class OpRecord(op: Long, start: Long, end: Long, traced: Boolean, ok: Boolean) {
  def seconds: Double = (end - start) / 1e9
}

object OpRecord {
  /** Median wall time of traced minus untraced successful operations, as
    * a share of the untraced (NaN without both kinds). */
  def tracedMinusUntraced(ops: Seq[OpRecord]): Double = {
    val t = ops.filter(o => o.traced && o.ok).map(_.seconds)
    val u = ops.filter(o => !o.traced && o.ok).map(_.seconds)
    if (t.isEmpty || u.isEmpty) Double.NaN else (Stats.median(t) - Stats.median(u)) / Stats.median(u)
  }

  /** The per-operation layer metrics every workload reports from its
    * traced operations, and the tracing overhead: the recorder's own time
    * as a share of the traced operations' wall time. */
  def layers(tr: Tracer, ops: Seq[OpRecord]): Map[String, Double] = {
    val traced = ops.filter(o => o.traced && o.ok)
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    Map(
      "spark.jobs_per_op" -> med(traced.map(o => tr.jobsOf(o.op).size.toDouble)),
      "spark.task_cpu_s_per_op" -> med(traced.map(o => tr.taskCpuSeconds(o.op))),
      "spark.shuffle_bytes_per_op" -> med(traced.map(o => tr.shuffleBytes(o.op).toDouble)),
      "driver.gap_s_per_op" -> med(traced.map(o => tr.driverGapSeconds(o.op, o.start, o.end))),
      "trace.overhead_share" -> tr.recordingSeconds / ops.filter(_.traced).map(_.seconds).sum)
  }
}

object Stats {
  /** Nearest-rank percentile; `q` in [0, 1]. Infinite samples (failed
    * operations) sort last, so a failure can only push a percentile up. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(q * s.size).toInt - 1
    s(math.min(s.size - 1, math.max(0, rank)))
  }

  /** Median, averaging the two middle samples of an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile that still has at least `beyond` samples
    * above it, with that percentile: `None` when there are too few
    * samples for any. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    if (xs.size <= beyond) None
    else {
      val s = xs.sorted
      val idx = s.size - 1 - beyond
      Some((s(idx), (idx + 1).toDouble / s.size))
    }
}
