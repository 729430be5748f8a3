package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Order statistics used for every reported timing. */
object Stats {

  /** Fewest samples a p90 may rest on: ten samples beyond it. */
  val MinP90Samples = 100

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `inclusive` rule of Python's
    * `statistics.quantiles`): rank q·(n−1) between the sorted samples.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** p90, or None when fewer than [[MinP90Samples]] samples exist. */
  def p90(xs: Seq[Double]): Option[Double] =
    if (xs.size < MinP90Samples) None else Some(quantile(xs, 0.9))
}

/** One timed interval of the traced run. `parent` is the id of the span
  * that caused it (-1 for a root); `op` is the operation id (-1 outside
  * any operation) and `pass` the pass number (-1 in setup).
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, op: Int, pass: Int) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder; written out once, when the run ends. */
final class Spans(enabled: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var op: Int = -1
  var pass: Int = -1

  def all: Seq[Span] = buf.toSeq

  /** Times `f` as a child of the innermost open span. */
  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = buf.size
      val parent = stack.headOption.getOrElse(-1)
      buf += Span(id, name, System.nanoTime(), -1L, parent, op, pass)
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        buf(id) = buf(id).copy(endNs = System.nanoTime())
      }
    }
}

object Spans {

  /** Self time of each span: its duration minus the part of its
    * interval that its direct children cover (overlapping children are
    * merged, so concurrent children are not subtracted twice).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Task-level totals of one job group (one operation) or of a whole run. */
final case class ExecTotals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuNs: Long = 0, runMs: Long = 0, gcMs: Long = 0, deserMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    eagerJobs: Long = 0) {
  def +(o: ExecTotals): ExecTotals = ExecTotals(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, cpuNs + o.cpuNs,
    runMs + o.runMs, gcMs + o.gcMs, deserMs + o.deserMs,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    spill + o.spill, eagerJobs + o.eagerJobs)
}

/** Accumulates task metrics per job group. Each operation of the traced
  * run sets its own job group, and the local property
  * [[LayerListener.PhaseKey]] says whether a job started while the
  * operation's DataFrame was still being constructed (an eager job).
  */
final class LayerListener extends SparkListener {
  import LayerListener._
  private val stageGroup = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, ExecTotals]

  private def add(group: String, d: ExecTotals): Unit = synchronized {
    totals(group) = totals.getOrElse(group, ExecTotals()) + d
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty(GroupKey)))
      .getOrElse(NoGroup)
    val eager = props.flatMap(p => Option(p.getProperty(PhaseKey)))
      .contains("build")
    synchronized { e.stageIds.foreach(stageGroup(_) = group) }
    add(group, ExecTotals(jobs = 1, eagerJobs = if (eager) 1 else 0))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(groupOf(e.stageInfo.stageId), ExecTotals(stages = 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val d =
      if (m == null) ExecTotals(tasks = 1)
      else ExecTotals(
        tasks = 1,
        cpuNs = m.executorCpuTime,
        runMs = m.executorRunTime,
        gcMs = m.jvmGCTime,
        deserMs = m.executorDeserializeTime,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead,
        spill = m.diskBytesSpilled)
    add(groupOf(e.stageId), d)
  }

  private def groupOf(stage: Int): String =
    synchronized(stageGroup.getOrElse(stage, NoGroup))

  def byGroup: Map[String, ExecTotals] = synchronized(totals.toMap)
}

object LayerListener {
  val GroupKey = "spark.jobGroup.id"
  val PhaseKey = "perfbench.phase"
  val NoGroup = "-"
}
