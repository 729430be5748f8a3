package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.GraftSession

/** Per-operation readings of the traced run. */
final case class OpTrace(name: String, op: Int, pass: Int, totalNs: Long,
    buildNs: Long, planNs: Long, execNs: Long, optimizeMs: Long,
    physicalMs: Long, graftRuleNs: Long, graftRuleEffective: Long,
    nestedLoopJoins: Int, usesKernel: Boolean, operators: Seq[(String, Long)])

/** Runs one workload in this JVM: session build, setup steps, an untimed
  * warm pass (all of it inside `setup_s`), timed passes for `--seconds`,
  * the trace-only probes (traced run), then the output checks. Writes its
  * readings as JSON to `--out`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *   --inputs DIR --work DIR --cpus N --out FILE
  */
object Main {

  private val GraftRules =
    Seq("BandJoinRule", "DistJoinRule", "BoundAntiJoinRule")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val traced = opt("trace") == "1"
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val data = opt("data")
    val work = Paths.get(opt("work"))
    Files.createDirectories(work)
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val spans = new Spans(traced)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L

    val setup0 = System.nanoTime()
    val spark = spans("session.build")(GraftSession.build(opt("cpus")))
    val sessionMs = (System.nanoTime() - setup0) / 1e6
    val sc = spark.sparkContext
    val listener = new LayerListener
    val writes = new WriteListener
    if (traced) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(writes)
    }
    val wl = Workloads(opt("workload"), spark, data, Paths.get(opt("inputs")),
      work, seed)

    // setup: every step is an operation; a throw is counted, never dropped
    val stepMs = wl.setup.map { st =>
      attempted += 1
      val t0 = System.nanoTime()
      try spans(s"${st.layer}:${st.name}")(st.run())
      catch { case e: Throwable =>
        failures += s"setup ${st.layer} ${st.name}: ${e.getMessage}" }
      (st.layer, st.name, (System.nanoTime() - t0) / 1e6)
    }

    val resultsDir = work.resolve("results")
    // the warm pass collects each query result (the results are small)
    // and keeps it for the checks as one parquet file, rows in order
    def keep(name: String, schema: StructType, rows: Array[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(resultsDir.resolve(name).toString)

    val traces = mutable.ArrayBuffer.empty[OpTrace]
    // rows each query returned in the warm pass and in every timed pass
    val warmRows = mutable.LinkedHashMap.empty[String, Long]
    val timedRows = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
    var opId = 0
    def runOp(op: Op, pass: Int): Option[Double] = {
      attempted += 1
      opId += 1
      spans.op = opId
      spans.pass = pass
      if (traced) sc.setJobGroup(s"op-$opId", op.name)
      val t0 = System.nanoTime()
      try {
        op match {
          case QueryOp(name, build) =>
            sc.setLocalProperty(LayerListener.PhaseKey, "build")
            val df = spans(s"$name:build")(build())
            val t1 = System.nanoTime()
            sc.setLocalProperty(LayerListener.PhaseKey, "plan")
            spans(s"$name:plan")(df.queryExecution.executedPlan)
            val t2 = System.nanoTime()
            sc.setLocalProperty(LayerListener.PhaseKey, "exec")
            // timed passes evaluate the full physical plan and count its
            // rows; the warm pass runs the same plan and keeps the rows
            if (pass == 0) {
              val rows = spans(s"$name:exec")(df.collect())
              warmRows(name) = rows.length
              spans(s"$name:keep")(keep(name, df.schema, rows))
            } else {
              val n = spans(s"$name:exec")(df.queryExecution.toRdd.count())
              if (pass > 0) timedRows.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += n
            }
            val t3 = System.nanoTime()
            if (traced) traces += planTrace(name, opId, pass, df,
              t3 - t0, t1 - t0, t2 - t1, t3 - t2)
          case CallOp(name, call) =>
            sc.setLocalProperty(LayerListener.PhaseKey, "exec")
            spans(name)(call())
            if (traced) traces += OpTrace(name, opId, pass,
              System.nanoTime() - t0, 0, 0, 0, 0, 0, 0, 0, 0, false, Nil)
        }
        Some((System.nanoTime() - t0) / 1e6)
      } catch { case e: Throwable =>
        failures += s"pass $pass ${op.name}: ${e.getMessage}"
        None
      } finally {
        sc.setLocalProperty(LayerListener.PhaseKey, null)
        if (traced) sc.clearJobGroup()
      }
    }

    log(s"pass order: ${wl.pass.map(_.name).mkString(" ")}")
    // untimed warm pass, the last part of setup
    spans("warm_pass")(wl.pass.foreach(runOp(_, 0)))
    val setupS = (System.nanoTime() - setup0) / 1e9
    log(f"setup done in $setupS%.2f s")

    // timed passes: whole passes until `seconds` have elapsed
    if (traced) org.apache.spark.perfbench.Drain(sc)
    val writes0 = writes.totalMs
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val opMs = mutable.ArrayBuffer.empty[(String, Double)]
    val timed0 = System.nanoTime()
    var pass = 0
    while (pass < 1 || (System.nanoTime() - timed0) / 1e9 < seconds) {
      pass += 1
      val ops = wl.pass
      val c0 = cpuBean.getProcessCpuTime
      val w0 = System.nanoTime()
      spans(s"pass")(ops.foreach(op => runOp(op, pass).foreach(ms => opMs += op.name -> ms)))
      passWall += (System.nanoTime() - w0) / 1e9
      passCpu += (cpuBean.getProcessCpuTime - c0) / 1e9
      log(f"pass $pass: ${passWall.last}%.2f s wall, ${passCpu.last}%.2f s cpu")
    }
    val (writtenBytes, writtenFiles) = wl.written()
    // Spark drops shuffle and broadcast state only after a GC has cleared
    // the references to it: the least of three full-GC readings is the
    // heap the process keeps
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    if (traced) {
      spans("probes")(wl.probes.foreach(runOp(_, Layers.ProbePass)))
      org.apache.spark.perfbench.Drain(sc)
    }
    val perLayer =
      if (!traced) Map.empty
      else Layers.render(Layers.metrics(sessionMs, stepMs, traces.toSeq,
        listener.byGroup, (writes.totalMs - writes0) / passWall.size,
        writtenBytes, writtenFiles, passWall.toSeq))

    // output checks (after the timed passes, in every run)
    spark.sparkContext.setJobGroup("checks", "checks")
    val checks = Checks.run(wl, spark, data, resultsDir) ++ warmRows.map {
      case (n, warm) => Checks.timedRows(n, warm, timedRows.getOrElse(n, Nil).toSeq)
    }
    log(s"jvm checks done: ${checks.count(!_.ok)} failed of ${checks.size}")

    val j = ListMap(
      "workload" -> wl.name,
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(passWall.toSeq),
      "passes" -> passWall.toSeq,
      "pass_cpu_s" -> passCpu.toSeq,
      "timed_ops" -> opMs.size,
      "op_p50_ms" -> Stats.median(opMs.map(_._2).toSeq),
      "op_p90_ms" -> Stats.p90(opMs.map(_._2).toSeq),
      "cpu_s" -> Stats.median(passCpu.toSeq),
      "retained_heap_mb" -> heapMb,
      "written_mb" -> (if (writtenFiles > 0) Some(writtenBytes / 1048576.0) else None),
      "ops_attempted" -> attempted,
      "ops_failed" -> failures.size,
      "failures" -> failures.toSeq,
      "checks" -> checks.map(c => ListMap("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "oracle" -> ListMap("results" -> resultsDir.toString,
        "queries" -> wl.oracleQueries,
        "sql" -> wl.oracleQueries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap,
        "summary_txt" -> (wl match {
          case s: SprayCycle => Some(s.summaryTxt.toString); case _ => None }),
        "summary_sql" -> graft.SparkEntry.oracleSql("wnv_map_export")),
      "per_op_ms" -> ListMap(opMs.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (n, xs) => n -> Stats.median(xs.map(_._2).toSeq) }: _*),
      "per_layer" -> perLayer,
      "trace" -> (if (!traced) Map.empty else ListMap(
        "setup_steps" -> stepMs.map { case (l, n, ms) => ListMap("layer" -> l, "name" -> n, "ms" -> ms) },
        "ops" -> traces.toSeq.map(t => ListMap("name" -> t.name, "op" -> t.op,
          "pass" -> t.pass, "ms" -> t.totalNs / 1e6, "build_ms" -> t.buildNs / 1e6,
          "plan_ms" -> t.planNs / 1e6, "exec_ms" -> t.execNs / 1e6,
          "optimize_ms" -> t.optimizeMs, "physical_ms" -> t.physicalMs,
          "graft_rules_ms" -> t.graftRuleNs / 1e6,
          "graft_rules_effective" -> t.graftRuleEffective,
          "nested_loop_joins" -> t.nestedLoopJoins, "uses_kernel" -> t.usesKernel,
          "exec" -> execFields(listener.byGroup.getOrElse(s"op-${t.op}", ExecTotals())),
          "operators" -> ListMap(t.operators: _*))),
        "spans" -> {
          val self = Spans.selfNs(spans.all)
          spans.all.map(s => ListMap("id" -> s.id, "name" -> s.name,
            "start_ns" -> (s.startNs - setup0), "end_ns" -> (s.endNs - setup0),
            "self_ns" -> self(s.id), "parent" -> s.parent, "op" -> s.op, "pass" -> s.pass))
        })))
    Files.writeString(Paths.get(opt("out")), Serialization.write(j)(DefaultFormats))
    spark.stop()
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def execFields(e: ExecTotals): ListMap[String, Any] = ListMap(
    "jobs" -> e.jobs, "stages" -> e.stages, "tasks" -> e.tasks,
    "eager_jobs" -> e.eagerJobs, "executor_cpu_s" -> e.cpuNs / 1e9,
    "executor_run_s" -> e.runMs / 1e3, "gc_s" -> e.gcMs / 1e3,
    "deserialize_s" -> e.deserMs / 1e3, "shuffle_write_mb" -> e.shuffleWrite / 1048576.0,
    "shuffle_read_mb" -> e.shuffleRead / 1048576.0, "spill_mb" -> e.spill / 1048576.0)

  /** Planner readings of one executed query: the tracker's phase and
    * per-rule timings, and a walk of the final (adaptive) plan.
    */
  private def planTrace(name: String, op: Int, pass: Int, df: DataFrame,
      total: Long, build: Long, plan: Long, exec: Long): OpTrace = {
    val qe = df.queryExecution
    val tr = qe.tracker
    val phases = tr.phases
    val rules = tr.rules.filter { case (k, _) => GraftRules.exists(k.contains) }
    val nodes = finalNodes(qe.executedPlan)
    val nlj = nodes.count(n =>
      n.nodeName.startsWith("BroadcastNestedLoopJoin") || n.nodeName.startsWith("CartesianProduct"))
    val ops = nodes.flatMap(n => n.metrics.get("numOutputRows")
      .map(m => s"${n.nodeName}#${n.id}" -> m.value))
    OpTrace(name, op, pass, total, build, plan, exec,
      phases.get("optimization").map(_.durationMs).getOrElse(0L),
      phases.get("planning").map(_.durationMs).getOrElse(0L),
      rules.values.map(_.totalTimeNs).sum,
      rules.values.map(_.numEffectiveInvocations).sum,
      nlj, nodes.exists(usesKernel), ops)
  }

  /** Every node of the final physical plan, through adaptive wrappers,
    * query stages and subqueries.
    */
  def finalNodes(p: SparkPlan): Seq[SparkPlan] = {
    def expand(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => expand(q.plan)
      case other =>
        other +: (other.children ++ other.subqueries).flatMap(expand)
    }
    expand(p)
  }

  /** Whether a plan node evaluates an expression or aggregator of the
    * program's `graft.functions` package.
    */
  def usesKernel(n: SparkPlan): Boolean = {
    def isGraft(o: AnyRef): Boolean = o != null &&
      o.getClass.getName.startsWith("graft.functions.")
    n.expressions.exists(_.exists {
      case a: org.apache.spark.sql.execution.aggregate.ScalaAggregator[_, _, _] => isGraft(a.agg)
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => isGraft(u.function)
      case e => isGraft(e)
    })
  }
}

/** Total time of the Spark file-write commands, from the execution
  * listener (traced run only).
  */
final class WriteListener extends QueryExecutionListener {
  private var ms = 0.0
  def totalMs: Double = synchronized(ms)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.commandExecuted.getClass.getSimpleName.contains("InsertIntoHadoopFsRelation"))
      synchronized { ms += durationNs / 1e6 }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
