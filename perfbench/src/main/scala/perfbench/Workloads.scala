package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.api.OptOutEtl
import graft.geo.Geo
import graft.ops.Wnv
import graft.sources.Tables

/** One operation of a pass. A query operation is timed as construct
  * (`build`), plan (`executedPlan`) and execute (`toRdd.count()`); a call
  * operation is one API call, timed whole.
  */
sealed trait Op { def name: String }
final case class QueryOp(name: String, build: () => DataFrame) extends Op
final case class CallOp(name: String, call: () => Unit) extends Op

/** A setup step: a table scan or a memo build. A step that throws
  * counts as a failed operation.
  */
final case class Step(layer: String, name: String, run: () => Unit)

/** One workload: its setup steps, the operations of one pass, and what
  * its output checks need.
  */
trait Workload {
  def name: String
  def setup: Seq[Step]
  /** The pass, in the seed's order. */
  def pass: Seq[Op]
  /** Trace-only probes, run once after the timed passes. */
  def probes: Seq[Op] = Nil
  /** Queries whose result the DuckDB oracle re-derives. */
  def oracleQueries: Seq[String]
  /** Bytes and files the pass's sinks leave on disk (0, 0 without sinks). */
  def written(): (Long, Long) = (0L, 0L)
}

object Workloads {

  /** The nine Erase geometry queries, each a projection of one EraseArcs
    * kernel (the tenth kernel, disk-zone `eraseArea`, has no registered
    * query).
    */
  val EraseKernels: Seq[(String, String)] = Seq(
    "wnv_erase_arcs" -> "eraseArcs",
    "wnv_erase_poly" -> "eraseAreaPoly",
    "wnv_erase_poly_sub" -> "eraseAreaPolySub",
    "wnv_erase_poly_sub_rings" -> "eraseRingsPolySubPerZone",
    "wnv_erase_concave" -> "eraseAreaConcave",
    "wnv_erase_concave_sub" -> "eraseAreaConcaveSub",
    "wnv_erase_concave_sub_rings" -> "eraseRingsConcaveSubPerZone",
    "wnv_erase_poly_disk_rings" -> "eraseRingsPolyDiskPerZone",
    "wnv_erase_rings" -> "eraseRingsPerZone")

  /** The perf-queue queries whose executor work grows most with the data
    * (4 cores, sf0.1: 2-5 s each, 3-8 s of executor CPU, up to 72 MB of
    * shuffle). Most of the rest of the queue costs about the same at
    * sf0.1 as at sf0.01: fixed per-query cost.
    */
  val Heavy: Seq[String] = Seq(
    "events_session_overlap", "events_concurrency_curve",
    "dedup_containment", "sample_weighted")

  val ProbeRounds = 5

  def tableScans(spark: SparkSession, data: String,
      names: Seq[String] = Tables.names): Seq[Step] =
    names.map(n => Step("sources.scan", n,
      () => { Tables.t(spark, data, n).queryExecution.toRdd.count(); () }))

  def query(spark: SparkSession, data: String, n: String): QueryOp =
    QueryOp(n, () => SparkEntry.queries(n)(spark, data))

  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] =
    new scala.util.Random(seed).shuffle(xs)

  def apply(name: String, spark: SparkSession, data: String, inputs: Path,
      work: Path, seed: Long): Workload = name match {
    case "spray_cycle" => new SprayCycle(spark, data, inputs, work, seed)
    case "heavy_mix" => new HeavyMix(spark, data, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** One spray-planning cycle per pass over the seeded inputs, then the
  * Erase geometry queries over the table data.
  */
final class SprayCycle(spark: SparkSession, data: String, val inputs: Path,
    work: Path, seed: Long) extends Workload {
  import Workloads._
  val name = "spray_cycle"
  val sink: Path = work.resolve("sink")
  val optOutParquet: String = sink.resolve("optout.parquet").toString
  val reportCsv: String = sink.resolve("target_report.csv").toString
  val summaryTxt: Path = sink.resolve("summary.txt")
  val Subtitle = "Spray-planning cycle"

  def etl: OptOutEtl = new OptOutEtl(spark,
    inputs.resolve("optout.csv").toString, work.toString, optOutParquet)

  def candidates: DataFrame =
    spark.read.parquet(inputs.resolve("candidates.parquet").toString)

  def addressPoints: DataFrame =
    spark.read.parquet(inputs.resolve("addresses.parquet").toString)
      .withColumn("x_ft", Geo.xFt(col("x")))
      .withColumn("y_ft", Geo.yFt(col("y")))

  def optOutPoints: DataFrame = spark.read.parquet(optOutParquet)
    .select(Geo.xFt(col("x")).as("x_ft"), Geo.yFt(col("y")).as("y_ft"))

  def zones: DataFrame = Wnv.zones(spark, data)

  def selection: DataFrame =
    Wnv.eraseSelectionFrom(addressPoints, zones, optOutPoints)

  def zoneCounts: DataFrame = Wnv.zoneTargetCounts(selection, zones)

  def finalAnalysis: DataFrame = etl.finalAnalysis(candidates)

  def report: DataFrame =
    Wnv.targetAddressReport(selection, zones.filter(col("high_risk")))

  /** The nine Erase geometry queries and the distance self-join that
    * `DistJoinRule` plans. The other `wnv_*` queries are sub-second
    * queries bound by fixed per-query cost.
    */
  val wnvQueries: Seq[String] = EraseKernels.map(_._1) :+ "wnv_point_pairs_auto"

  /** The two tables the cycle's queries read. */
  def setup: Seq[Step] = tableScans(spark, data, Seq("customer", "nation"))

  /** The sheet read alone, then read and geocoded, every column
    * evaluated; their difference is the geocoder's time. Five rounds,
    * each reported as its median.
    */
  override def probes: Seq[Op] = Seq.fill(Workloads.ProbeRounds)(Seq(
    CallOp("sources.csv_extract",
      () => { etl.extract().queryExecution.toRdd.count(); () }),
    CallOp("geo.geocode",
      () => { val e = etl; e.transform(e.extract()).queryExecution.toRdd.count(); () }))).flatten

  def pass: Seq[Op] =
    Seq(
      CallOp("api.process", () => { etl.process(); () }),
      QueryOp("api.final_analysis", () => finalAnalysis),
      QueryOp("wnv.erase_counts", () => zoneCounts),
      CallOp("wnv.target_report", () => Tables.writeCsv(report, reportCsv)),
      CallOp("wnv.export_summary",
        () => { Wnv.exportSummaryReport(spark, data, summaryTxt, Subtitle); () })) ++
      shuffled(wnvQueries, seed).map(query(spark, data, _))

  def oracleQueries: Seq[String] =
    wnvQueries.filter(SparkEntry.oracleSql.contains)

  override def written(): (Long, Long) = {
    val files = Files.walk(sink).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(p => Files.isRegularFile(p))
    (files.map(Files.size).sum, files.size.toLong)
  }
}

/** The multi-second, shuffle-heavy queries; their shared memo artifacts
  * are built in setup.
  */
final class HeavyMix(spark: SparkSession, data: String, seed: Long)
    extends Workload {
  import Workloads._
  val name = "heavy_mix"

  /** The shared artifacts these queries read, each built on its own. */
  def setup: Seq[Step] =
    tableScans(spark, data) ++ HeavyMix.Memos.map { case (n, build) =>
      Step("ops.memo", n, () => build(spark, data)) }

  def pass: Seq[Op] =
    shuffled(Heavy, seed).map(query(spark, data, _))

  def oracleQueries: Seq[String] = Heavy
}

object HeavyMix {

  /** The memos the heavy queries share: the session frame of both
    * `events_*` queries, and the shingle table and ranked shingle sets of
    * `dedup_containment`. The ranked sets are private to Dedup; they are
    * checkpointed eagerly when `dedup_containment` is constructed, so
    * constructing it (without running it) builds them, after the shingle
    * table is already built. `Dedup.warmArtifacts` would build four more
    * memos that none of these queries reads (20 s at sf0.1, a third of a
    * run), and no heavy query reads the Relational or Similarity memos.
    */
  val Memos: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "Events.sessionFrame" -> { (s, d) => graft.ops.Events.sessionFrame(s, d); () },
    "Dedup.shingleDf" -> { (s, d) => graft.ops.Dedup.shingleDf(s, d); () },
    "Dedup.rankedSets" -> { (s, d) => SparkEntry.queries("dedup_containment")(s, d); () })
}
