package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.apache.spark.perfbench.Synthetic

/** Self-test of the benchmark's own arithmetic and checks: order
  * statistics, per-layer sums, span self time, listener accumulation over
  * synthetic events, and every output check rejecting a perturbed result. Needs no
  * Spark session. Exits 1 on any failure.
  */
object SelfTest {
  private var passed = 0
  private val failed = mutable.ArrayBuffer.empty[String]

  def expect(name: String)(cond: => Boolean): Unit =
    try { if (cond) passed += 1 else failed += name }
    catch { case e: Throwable => failed += s"$name: $e" }

  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  def row(schema: StructType, vs: Any*): Row = new GenericRowWithSchema(vs.toArray, schema)

  def main(args: Array[String]): Unit = {
    stats(); spans(); listener(); sprayChecks(); geometryChecks()
    println(s"selftest: $passed passed, ${failed.size} failed")
    failed.foreach(f => println(s"FAILED $f"))
    sys.exit(if (failed.isEmpty) 0 else 1)
  }

  def stats(): Unit = {
    expect("median of odd count")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    expect("median of even count")(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    expect("quantile interpolates")(close(Stats.quantile((1 to 11).map(_.toDouble), 0.9), 10.0))
    expect("no p90 below 100 samples")(Stats.p90(Seq.fill(99)(1.0)).isEmpty)
    expect("p90 at 100 samples")(Stats.p90((1 to 100).map(_.toDouble)).exists(close(_, 90.1)))
    // per-pass sums 30, 10, 100 (pass 0 is the warm pass and is ignored)
    def t(pass: Int, buildMs: Long) = OpTrace("q", 0, pass, 0, buildMs * 1000000, 0, 0,
      0, 0, 0, 0, 0, false, Nil)
    val traces = Seq(t(0, 1000), t(1, 10), t(1, 20), t(2, 5), t(2, 5), t(3, 100), t(3, 0))
    val m = Layers.metrics(1.0, Nil, traces, Map.empty, 0.0, 0, 0, Seq(1.0, 3.0, 2.0))
    expect("per-layer value is the median over timed passes")(close(m("ops.build_ms"), 30.0))
    expect("trace.pass_s is the median pass")(m("trace.pass_s") == 2.0)
    // probes run once after the timed passes and stay out of the pass sums
    def probe(name: String, ms: Long) = OpTrace(name, 0, Layers.ProbePass, ms * 1000000,
      ms * 1000000, 0, 0, 0, 0, 0, 0, 0, false, Nil)
    val p = Layers.metrics(1.0, Nil, traces ++ Seq(probe("sources.csv_extract", 40),
      probe("geo.geocode", 70), probe("sources.csv_extract", 400), probe("geo.geocode", 60),
      probe("sources.csv_extract", 30), probe("geo.geocode", 80)), Map.empty, 0.0, 0, 0, Seq(1.0))
    expect("probes are not part of a pass")(close(p("ops.build_ms"), 30.0))
    expect("probe readings are medians; geocode time is their difference")(
      close(p("sources.csv_extract_ms"), 40.0) && close(p("geo.geocode_ms"), 30.0))
    expect("timed-pass row check accepts equal counts")(Checks.timedRows("q", 5, Seq(5, 5)).ok)
    expect("timed-pass row check rejects a changed count")(!Checks.timedRows("q", 5, Seq(5, 4)).ok)
    expect("timed-pass row check rejects no timed pass")(!Checks.timedRows("q", 5, Nil).ok)
  }

  def spans(): Unit = {
    val ss = Seq(Span(0, "op", 0, 100, -1, 1, 1), Span(1, "a", 10, 30, 0, 1, 1),
      Span(2, "b", 20, 50, 0, 1, 1), Span(3, "c", 90, 120, 0, 1, 1),
      Span(4, "d", 25, 27, 2, 1, 1))
    val self = Spans.selfNs(ss)
    // children cover [10, 50] and [90, 100] of the parent's [0, 100]
    expect("self time merges overlapping children")(self(0) == 50)
    expect("self time of a leaf is its duration")(self(1) == 20)
    expect("self time subtracts a grandchild only from its parent")(self(2) == 28)
    val rec = new graft.perfbench.Spans(true)
    rec("outer") { rec("inner")(()) }
    expect("recorded spans nest")(rec.all.size == 2 && rec.all(1).parent == 0 &&
      rec.all(0).durNs >= rec.all(1).durNs)
  }

  def listener(): Unit = {
    val l = new LayerListener
    l.onJobStart(Synthetic.jobStart(1, Seq(10, 11), "op-1", "build"))
    l.onJobStart(Synthetic.jobStart(2, Seq(12), "op-1", "exec"))
    l.onJobStart(Synthetic.jobStart(3, Seq(13), "op-2", "exec"))
    Seq(10, 12, 13).foreach(s => l.onStageCompleted(Synthetic.stageDone(s)))
    l.onTaskEnd(Synthetic.taskEnd(10, 1000000000L, 900, 50, 7, 1000, 10, 20, 5))
    l.onTaskEnd(Synthetic.taskEnd(12, 500000000L, 400, 0, 3, 0, 100, 200, 0))
    l.onTaskEnd(Synthetic.taskEnd(12, 250000000L, 300, 10, 1, 2000, 0, 0, 0))
    l.onTaskEnd(Synthetic.taskEnd(13, 1L, 1, 1, 1, 1, 1, 1, 1))
    l.onTaskEnd(Synthetic.taskEnd(99, 1L, 1, 1, 1, 1, 1, 1, 1))
    val g = l.byGroup
    val op1 = g("op-1")
    expect("jobs and eager jobs per group")(op1.jobs == 2 && op1.eagerJobs == 1)
    expect("completed stages per group (a skipped stage is not counted)")(op1.stages == 2)
    expect("tasks per group")(op1.tasks == 3 && g("op-2").tasks == 1)
    expect("cpu and run time add up")(op1.cpuNs == 1750000000L && op1.runMs == 1600)
    expect("gc and deserialize add up")(op1.gcMs == 60 && op1.deserMs == 11)
    expect("shuffle bytes add up")(op1.shuffleWrite == 3000 && op1.shuffleRead == 330)
    expect("spill adds up")(op1.spill == 5)
    expect("a task of an unknown stage lands in no operation")(g(LayerListener.NoGroup).tasks == 1)
  }

  def sprayChecks(): Unit = {
    import Ref._
    val streets = Seq("825 Walnut St", "1200 Pearl St", "2850 Iliff St", "505 Canyon Blvd")
    val pts = Checks.expectedOptOuts(streets)
    expect("geocoder stays in its box")(pts.nonEmpty && pts.forall { case (lon, lat) =>
      lon >= -105.5 && lon < -105.0 && lat >= 39.9 && lat < 40.2 })
    expect("geocode check rejects a moved point")(!Checks.sameSet(
      pts.map(p => (p._1, p._2)), pts.updated(0, (pts.head._1 + 1e-9, pts.head._2))))
    val z = zone(0) // center (14000, 10000), radius 5280, high risk
    val opt = Seq((14000.0, 10000.0))
    val cands = Seq((1L, 14100.0, 10000.0), (2L, 16000.0, 10000.0), (3L, 15500.0, 10000.0))
    val schema = StructType(Seq(StructField("addr_id", LongType)) ++
      Checks.ReportCols.map(StructField(_, StringType)) ++
      Seq(StructField("x", DoubleType), StructField("y", DoubleType)))
    def addr(id: Long, xft: Double, yft: Double) = row(schema,
      (Seq(id) ++ Checks.ReportCols.map(c => s"$c$id") ++
        Seq(-105.5 + xft / FtX, 39.9 + yft / FtY)): _*)
    val addrs = Seq(addr(1, 14100.0, 10000.0), addr(2, 17000.0, 10000.0), addr(3, 60000.0, 60000.0))
    val (kept, counts, report) = Checks.expectedSpray(opt, cands, addrs, Seq(z))
    expect("erase keeps the candidates outside the buffer")(kept.sorted == Seq(2L))
    expect("boundary distance counts as erased")(!kept.contains(3L))
    expect("final-analysis check rejects an extra candidate")(!Checks.sameSet(kept, kept :+ 3L))
    expect("zone counts count the kept in-zone addresses")(counts == Seq((0, 1L)))
    expect("zone-count check rejects a changed count")(!Checks.sameSet(counts, Seq((0, 2L))))
    expect("report rows are the seven columns")(report.map(_.head) == Seq("FULLADDR2"))
    expect("report check rejects a missing row")(!Checks.sameSet(report.map(_.mkString(",")), Nil))
  }

  def geometryChecks(): Unit = {
    import Checks._
    val z = Ref.zone(0)
    val (cx, cy, r) = (z.cx, z.cy, z.r)
    val foot = footprint(cx, cy)
    val area = 2 * r * r - 2 * 1200.0 * 1200.0
    val areaSchema = StructType(Seq(StructField("zone_id", IntegerType), StructField("area_sqft", DoubleType)))
    val exact = (_: Ref.Zone, _: Int, a: Double) => 1e-6 * a + 1e-3
    def areaOk(rows: Seq[Row]) = areaCheck("area", rows, Seq(z), diamond, Seq(foot), exact).ok
    expect("area check accepts the exact area")(areaOk(Seq(row(areaSchema, 0, area))))
    expect("area check rejects a 1% error")(!areaOk(Seq(row(areaSchema, 0, area * 1.01))))
    expect("area check rejects a missing zone")(!areaOk(Seq(row(areaSchema, 1, area))))
    expect("area check rejects no rows")(!areaOk(Nil))

    val ringSchema = StructType(Seq(StructField("zone_id", IntegerType),
      StructField("ring_id", LongType), StructField("piece_seq", LongType),
      StructField("kind", StringType)) ++ Seq("x1_ft", "y1_ft", "x2_ft", "y2_ft", "ring_area_sqft")
      .map(StructField(_, DoubleType)))
    def ringRows(ring: Long, vs: Seq[(Double, Double)], a: Double) =
      vs.indices.map { i =>
        val (p, q) = (vs(i), vs((i + 1) % vs.size))
        row(ringSchema, 0, ring, i.toLong, "edge", p._1, p._2, q._1, q._2, a)
      }
    val outer = Seq((cx + r, cy), (cx, cy + r), (cx - r, cy), (cx, cy - r))
    val hd = 1200.0
    def v(dx: Double, dy: Double) = (cx + dx * 0.8 - dy * 0.6, cy + dx * 0.6 + dy * 0.8)
    val holeCcw = Seq(v(hd, 0), v(0, hd), v(-hd, 0), v(0, -hd))
    val good = ringRows(0, outer, 2 * r * r) ++ ringRows(1, holeCcw.reverse, -2 * hd * hd)
    def ringsOk(rows: Seq[Row]) = ringCheck("rings", rows, Seq(z), diamond, Seq(foot), Nil,
      exact, topology = true).ok
    expect("ring check accepts exact rings")(ringsOk(good))
    expect("ring check rejects an open ring")(!ringsOk(good.updated(0, row(ringSchema,
      0, 0L, 0L, "edge", cx + r, cy, cx + 1.0, cy + r, 2 * r * r))))
    expect("ring check rejects a CCW hole")(!ringsOk(ringRows(0, outer, 2 * r * r) ++
      ringRows(1, holeCcw, 2 * hd * hd)))
    expect("ring check rejects a wrong reported area")(!ringsOk(ringRows(0, outer, 2 * r * r + 1e4) ++
      ringRows(1, holeCcw.reverse, -2 * hd * hd)))

    val arcSchema = StructType(Seq(StructField("zone_id", IntegerType)) ++
      Seq("start_deg", "end_deg", "arc_deg").map(StructField(_, DoubleType)))
    def arcsOk(rows: Seq[Row], opt: Seq[(Double, Double)]) =
      arcCheck(rows, Seq(z), opt.map { case (x, y) => disk(x, y, Ref.BufferFt) }, opt).ok
    expect("arc check accepts an untouched circle")(arcsOk(Seq(row(arcSchema, 0, 0.0, 360.0, 360.0)), Nil))
    expect("arc check rejects a short circle")(!arcsOk(Seq(row(arcSchema, 0, 0.0, 300.0, 300.0)), Nil))
    // a buffer centered on the circle at angle 0 erases about ±16.3 degrees
    val cut = math.toDegrees(2 * math.asin(Ref.BufferFt / (2 * r)))
    val onCircle = Seq((cx + r, cy))
    expect("arc check accepts the arc around a buffer")(arcsOk(
      Seq(row(arcSchema, 0, cut, 360 - cut, 360 - 2 * cut)), onCircle))
    expect("arc check rejects an arc through a buffer")(!arcsOk(
      Seq(row(arcSchema, 0, -cut - 10, cut + 10, 2 * cut + 20),
        row(arcSchema, 0, cut + 10, 350 - cut, 340 - 2 * cut)), onCircle))
  }
}
