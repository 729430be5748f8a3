package graft.perfbench

import scala.collection.immutable.ListMap

/** The per-layer metrics of a traced run. Per-pass readings are summed
  * over a pass's operations and reported as the median over the timed
  * passes; setup and probe readings are reported once.
  */
object Layers {

  /** The pass number of the trace-only probes, run after the timed
    * passes (setup is -1, the warm pass 0, timed passes 1 and up).
    */
  val ProbePass = -2

  /** The printed per-layer metrics with their units, in print order. */
  val Units: Seq[(String, String)] = Seq(
    "trace.pass_s" -> "s",
    "session.build_ms" -> "ms",
    "sources.warm_scan_ms" -> "ms",
    "sources.csv_extract_ms" -> "ms",
    "sources.write_ms" -> "ms",
    "sources.bytes_written" -> "bytes",
    "sources.files_written" -> "count",
    "geo.geocode_ms" -> "ms",
    "geo.erase_build_ms" -> "ms",
    "geo.erase_exec_ms" -> "ms",
    "geo.erase_eager_jobs" -> "count") ++
    Workloads.EraseKernels.map { case (_, k) => s"geo.${k}_ms" -> "ms" } ++ Seq(
    "api.process_ms" -> "ms",
    "api.final_analysis_ms" -> "ms",
    "ops.build_ms" -> "ms",
    "ops.eager_jobs" -> "count",
    "ops.memo_ms" -> "ms") ++
    HeavyMemos.map(m => s"ops.memo_ms.$m" -> "ms") ++ Seq(
    "plans.optimize_ms" -> "ms",
    "plans.physical_ms" -> "ms",
    "plans.graft_rules_ms" -> "ms",
    "plans.graft_rules_effective" -> "count",
    "plans.nested_loop_joins" -> "count",
    "functions.kernel_exec_ms" -> "ms",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.executor_cpu_s" -> "s",
    "exec.executor_run_s" -> "s",
    "exec.gc_s" -> "s",
    "exec.deserialize_s" -> "s",
    "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB")

  lazy val HeavyMemos: Seq[String] = HeavyMix.Memos.map(_._1)

  def metrics(sessionMs: Double, stepMs: Seq[(String, String, Double)],
      traces: Seq[OpTrace], byGroup: Map[String, ExecTotals],
      writeMsPerPass: Double, writtenBytes: Long, writtenFiles: Long,
      passWall: Seq[Double]): Map[String, Double] = {
    val timed = traces.filter(_.pass >= 1)
    val passes = timed.map(_.pass).distinct.sorted
    def perPass(f: OpTrace => Double): Double =
      if (passes.isEmpty) 0.0
      else Stats.median(passes.map(p => timed.filter(_.pass == p).map(f).sum))
    def exec(f: ExecTotals => Double, keep: OpTrace => Boolean = _ => true): Double =
      perPass(t => if (keep(t)) f(byGroup.getOrElse(s"op-${t.op}", ExecTotals())) else 0.0)
    def named(n: String)(f: OpTrace => Double): OpTrace => Double =
      t => if (t.name == n) f(t) else 0.0
    val erase = Workloads.EraseKernels.map(_._1).toSet
    def steps(layers: String*): Double =
      stepMs.filter(s => layers.contains(s._1)).map(_._3).sum
    val ms = (ns: Long) => ns / 1e6
    def probe(n: String): Double = {
      val xs = traces.filter(t => t.pass == ProbePass && t.name == n).map(t => ms(t.totalNs))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val csvMs = probe("sources.csv_extract")
    Map(
      "trace.pass_s" -> Stats.median(passWall),
      "session.build_ms" -> sessionMs,
      "sources.warm_scan_ms" -> steps("sources.scan"),
      "sources.csv_extract_ms" -> csvMs,
      "sources.write_ms" -> writeMsPerPass,
      "sources.bytes_written" -> writtenBytes.toDouble,
      "sources.files_written" -> writtenFiles.toDouble,
      "geo.geocode_ms" -> (probe("geo.geocode") - csvMs),
      "geo.erase_build_ms" -> perPass(t => if (erase(t.name)) ms(t.buildNs) else 0.0),
      "geo.erase_exec_ms" -> perPass(t => if (erase(t.name)) ms(t.execNs) else 0.0),
      "geo.erase_eager_jobs" -> exec(_.eagerJobs.toDouble, t => erase(t.name)),
      "api.process_ms" -> perPass(named("api.process")(t => ms(t.totalNs))),
      "api.final_analysis_ms" -> perPass(named("api.final_analysis")(t => ms(t.totalNs))),
      "ops.build_ms" -> perPass(t => ms(t.buildNs)),
      "ops.eager_jobs" -> exec(_.eagerJobs.toDouble),
      "ops.memo_ms" -> steps("ops.memo"),
      "plans.optimize_ms" -> perPass(_.optimizeMs.toDouble),
      "plans.physical_ms" -> perPass(_.physicalMs.toDouble),
      "plans.graft_rules_ms" -> perPass(t => ms(t.graftRuleNs)),
      "plans.graft_rules_effective" -> perPass(_.graftRuleEffective.toDouble),
      "plans.nested_loop_joins" -> perPass(_.nestedLoopJoins.toDouble),
      "functions.kernel_exec_ms" -> perPass(t => if (t.usesKernel) ms(t.execNs) else 0.0),
      "exec.jobs" -> exec(_.jobs.toDouble),
      "exec.stages" -> exec(_.stages.toDouble),
      "exec.tasks" -> exec(_.tasks.toDouble),
      "exec.executor_cpu_s" -> exec(_.cpuNs / 1e9),
      "exec.executor_run_s" -> exec(_.runMs / 1e3),
      "exec.gc_s" -> exec(_.gcMs / 1e3),
      "exec.deserialize_s" -> exec(_.deserMs / 1e3),
      "exec.shuffle_write_mb" -> exec(_.shuffleWrite / 1048576.0),
      "exec.shuffle_read_mb" -> exec(_.shuffleRead / 1048576.0),
      "exec.spill_mb" -> exec(_.spill / 1048576.0)) ++
      Workloads.EraseKernels.map { case (q, k) =>
        s"geo.${k}_ms" -> perPass(named(q)(t => ms(t.totalNs))) } ++
      HeavyMemos.map(m => s"ops.memo_ms.$m" ->
        stepMs.filter(s => s._1 == "ops.memo" && s._2 == m).map(_._3).sum)
  }

  def render(m: Map[String, Double]): ListMap[String, Map[String, Any]] =
    ListMap(Units.map { case (k, u) => k -> Map("value" -> m(k), "unit" -> u) }: _*)
}
