package graft.perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, Polygon}
import org.locationtech.jts.operation.overlayng.{OverlayNG, OverlayNGRobust}

final case class CheckResult(name: String, ok: Boolean, detail: String)

/** Plain-JVM recomputations of the spray-planning outputs. Nothing here
  * calls the program: geocoding is MD5 by `java.security`, selections are
  * grid searches over plain arrays, and Erase geometry is JTS overlay.
  * Spark is used only to read parquet files and to collect results.
  */
object Ref {
  val Lon0 = -105.5
  val Lat0 = 39.9
  val FtX = 280000.0
  val FtY = 364000.0
  val BufferFt = 1500.0

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** 8 hex digits of the MD5 at 1-based offset `off`, as a non-negative long. */
  def h32(s: String, off: Int): Long = {
    val hex = md5Hex(s)
    java.lang.Long.parseLong(hex.substring(off - 1, off + 7), 16)
  }

  /** The mock geocoder on an address string: None on a miss, else (lon, lat). */
  def geocode(addr: String): Option[(Double, Double)] =
    if (h32(addr, 1) % 20 == 0) None
    else Some((Lon0 + (h32(addr, 9) % 100000).toDouble / 200000.0,
      Lat0 + (h32(addr, 17) % 100000).toDouble / 333333.0))

  def xFt(lon: Double): Double = (lon - Lon0) * FtX
  def yFt(lat: Double): Double = (lat - Lat0) * FtY

  def d2(x1: Double, y1: Double, x2: Double, y2: Double): Double =
    (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2)

  final case class Zone(id: Int, cx: Double, cy: Double, r: Double, highRisk: Boolean) {
    def contains(x: Double, y: Double): Boolean = d2(x, y, cx, cy) <= r * r
  }

  def zone(k: Long): Zone = Zone(k.toInt, (k % 5).toDouble * 28000.0 + 14000.0,
    math.floor(k / 5.0) * 21000.0 + 10000.0, k.toDouble * 400.0 + 5280.0, k % 3 != 1)

  /** The zone catalog, from the table data's `nation` keys. */
  def catalog(spark: SparkSession, data: String): Seq[Zone] =
    spark.read.parquet(s"$data/nation.parquet").select("n_nationkey")
      .collect().map(r => zone(r.getAs[Number](0).longValue)).toSeq.sortBy(_.id)

  /** Points within `r` of any center, by a grid of r-sized cells. */
  final class Near(centers: Seq[(Double, Double)], r: Double) {
    private val cells = centers.groupBy { case (x, y) =>
      (math.floor(x / r).toLong, math.floor(y / r).toLong) }
    def within(x: Double, y: Double): Boolean = {
      val gx = math.floor(x / r).toLong
      val gy = math.floor(y / r).toLong
      (-1L to 1L).exists(dx => (-1L to 1L).exists(dy =>
        cells.getOrElse((gx + dx, gy + dy), Nil)
          .exists { case (ox, oy) => d2(x, y, ox, oy) <= r * r }))
    }
  }
}

object Checks {
  import Ref._

  def ok(name: String, cond: Boolean, detail: => String): CheckResult =
    CheckResult(name, cond, if (cond) "" else detail)

  /** The JVM-side checks of a workload; `results` holds the warm pass's
    * query results, one parquet directory per operation.
    */
  def run(wl: Workload, spark: SparkSession, data: String, results: Path): Seq[CheckResult] = {
    def rows(name: String): Seq[Row] =
      spark.read.parquet(results.resolve(name).toString).collect().toSeq
    wl match {
      case s: SprayCycle => spray(s, spark, data, rows) ++ erase(spark, data, rows)
      case _ => Nil
    }
  }

  /** Every timed pass of a query must return as many rows as the warm
    * pass whose result the other checks read.
    */
  def timedRows(name: String, warm: Long, timed: Seq[Long]): CheckResult = {
    val ok = timed.nonEmpty && timed.forall(_ == warm)
    CheckResult(s"rows.$name", ok,
      if (ok) "" else s"warm pass $warm rows, timed passes ${timed.mkString(",")}")
  }

  // ---- spray cycle --------------------------------------------------

  def spray(s: SprayCycle, spark: SparkSession, data: String,
      rows: String => Seq[Row]): Seq[CheckResult] = {
    val sheet = Files.readAllLines(s.inputs.resolve("optout.csv")).asScala.toSeq.drop(1)
    val expectedPts = expectedOptOuts(sheet.map(_.split(",", -1)(1)))
    val loaded = spark.read.parquet(s.optOutParquet).collect()
      .map(r => (r.getAs[Double]("x"), r.getAs[Double]("y"), r.getAs[String]("Type"))).toSeq
    val opt = expectedPts.map { case (lon, lat) => (xFt(lon), yFt(lat)) }
    val cands = spark.read.parquet(s.inputs.resolve("candidates.parquet").toString)
      .collect().map(r => (r.getAs[Long]("cand_id"), r.getAs[Double]("cx_ft"), r.getAs[Double]("cy_ft"))).toSeq
    val keptGot = rows("api.final_analysis").map(_.getAs[Long]("cand_id"))
    val addrs = spark.read.parquet(s.inputs.resolve("addresses.parquet").toString).collect().toSeq
    val zones = catalog(spark, data)
    val countsGot = rows("wnv.erase_counts")
      .map(r => (r.getAs[Number]("zone_id").intValue, r.getAs[Number]("n_targets").longValue))
    val reportGot = readCsvRows(s.reportCsv)
    val summary = Files.readAllLines(s.summaryTxt).asScala.toSeq
    val (keptExp, countsExp, reportExp) = expectedSpray(opt, cands, addrs, zones)
    Seq(
      ok("geocode.loaded_points", sameSet(loaded.map(p => (p._1, p._2)), expectedPts) &&
        loaded.forall(_._3 == "Residential"),
        s"loaded ${loaded.size} points, MD5 recomputation gives ${expectedPts.size}"),
      ok("final_analysis.kept_set", sameSet(keptGot, keptExp),
        s"kept ${keptGot.size}, grid recomputation keeps ${keptExp.size}"),
      ok("erase.zone_target_counts", sameSet(countsGot, countsExp),
        s"got ${countsGot.sorted.take(5)}, expected ${countsExp.sorted.take(5)}"),
      ok("report.target_rows", sameSet(reportGot.map(_.mkString("\u0001")), reportExp.map(_.mkString("\u0001"))),
        s"report has ${reportGot.size} rows, expected ${reportExp.size}"),
      ok("summary.header", summary.take(3) ==
        Seq("West Nile Virus Outbreak — Target Addresses", s.Subtitle, ""),
        s"header ${summary.take(3)}"),
      ok("nonempty.spray", loaded.nonEmpty && keptGot.nonEmpty && countsGot.nonEmpty &&
        reportGot.nonEmpty && summary.size > 3, "a spray-cycle output is empty"))
  }

  /** Equal as multisets. */
  def sameSet[T: Ordering](a: Seq[T], b: Seq[T]): Boolean = a.sorted == b.sorted

  /** The opt-out sheet's geocoded points: (lon, lat) per hit. */
  def expectedOptOuts(streets: Seq[String]): Seq[(Double, Double)] =
    streets.flatMap(a => geocode(a + " Boulder CO"))

  /** finalAnalysis kept ids, per-zone target counts, and report rows. */
  def expectedSpray(opt: Seq[(Double, Double)], cands: Seq[(Long, Double, Double)],
      addrs: Seq[Row], zones: Seq[Zone])
      : (Seq[Long], Seq[(Int, Long)], Seq[Seq[String]]) = {
    val near = new Near(opt, BufferFt)
    val kept = cands.filterNot { case (_, x, y) => near.within(x, y) }.map(_._1)
    val risk = zones.filter(_.highRisk)
    val selected = addrs.flatMap { r =>
      val x = xFt(r.getAs[Double]("x")); val y = yFt(r.getAs[Double]("y"))
      val in = risk.filter(_.contains(x, y))
      if (in.isEmpty || near.within(x, y)) None else Some(r -> in)
    }
    val counts = selected.flatMap(_._2.map(_.id)).groupBy(identity)
      .map { case (z, xs) => (z, xs.size.toLong) }.toSeq
    val report = selected.filter(_._2.size == 1).map { case (r, _) =>
      ReportCols.map(c => r.getAs[String](c)) }
    (kept, counts, report)
  }

  val ReportCols = Seq("FULLADDR", "ADDRNUM", "UNITID", "PREDIR",
    "STREETNAME", "STREETSUFF", "POSTDIR")

  /** Rows of a header CSV directory whose values need no quoting. */
  def readCsvRows(dir: String): Seq[Seq[String]] = {
    val parts = Files.list(java.nio.file.Paths.get(dir)).iterator.asScala.toSeq
      .filter(p => p.getFileName.toString.endsWith(".csv"))
    parts.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toSeq
      val header = lines.head.split(",", -1).toSeq
      lines.tail.map { l =>
        val m = header.zip(l.split(",", -1)).toMap
        ReportCols.map(m)
      }
    }
  }

  // ---- Erase geometry against JTS -----------------------------------

  val gf = new GeometryFactory()
  /** Segments per quarter circle of the JTS disk approximation. */
  val QuadSegs = 64

  /** Area a disk of radius r loses when JTS approximates it by the
    * inscribed 4·QuadSegs-gon: the chord-error bound per disk.
    */
  def lune(r: Double): Double = {
    val n = 4.0 * QuadSegs
    r * r * (math.Pi - n / 2 * math.sin(2 * math.Pi / n))
  }

  def ring(vs: Seq[(Double, Double)]): Array[Coordinate] =
    (vs :+ vs.head).map { case (x, y) => new Coordinate(x, y) }.toArray

  def polygon(outer: Seq[(Double, Double)], holes: Seq[Seq[(Double, Double)]] = Nil): Polygon =
    gf.createPolygon(gf.createLinearRing(ring(outer)),
      holes.map(h => gf.createLinearRing(ring(h))).toArray)

  def disk(x: Double, y: Double, r: Double): Geometry =
    gf.createPoint(new Coordinate(x, y)).buffer(r, QuadSegs)

  def diamond(z: Zone): Polygon = polygon(Seq((z.cx + z.r, z.cy), (z.cx, z.cy + z.r),
    (z.cx - z.r, z.cy), (z.cx, z.cy - z.r)))

  def star(z: Zone): Polygon = {
    val (cx, cy, r) = (z.cx, z.cy, z.r)
    polygon(
      Seq((cx + r, cy), (cx + r * 0.35, cy + r * 0.35), (cx, cy + r),
        (cx - r * 0.35, cy + r * 0.35), (cx - r, cy), (cx - r * 0.35, cy - r * 0.35),
        (cx, cy - r), (cx + r * 0.35, cy - r * 0.35)),
      Seq(Seq((cx + r * 0.15, cy + r * 0.15), (cx - r * 0.15, cy + r * 0.15),
        (cx - r * 0.15, cy - r * 0.15), (cx + r * 0.15, cy - r * 0.15))))
  }

  /** The rotated-square parcel footprint around an opt-out point. */
  def footprint(x: Double, y: Double): Polygon = {
    val hd = 1200.0
    def v(dx: Double, dy: Double) = (x + dx * 0.8 - dy * 0.6, y + dx * 0.6 + dy * 0.8)
    polygon(Seq(v(hd, 0.0), v(0.0, hd), v(-hd, 0.0), v(0.0, -hd)))
  }

  /** zone − ∪ subtrahends, with the number of subtrahends near the zone. */
  def difference(zone: Geometry, subs: Seq[Geometry]): (Geometry, Int) = {
    val env = zone.getEnvelopeInternal
    val near = subs.filter(_.getEnvelopeInternal.intersects(env))
    if (near.isEmpty) (zone, 0)
    else {
      val u = OverlayNGRobust.union(gf.buildGeometry(near.asJava))
      (OverlayNGRobust.overlay(zone, u, OverlayNG.DIFFERENCE), near.size)
    }
  }

  /** Shells and holes of a (multi)polygon. */
  def ringCounts(g: Geometry): (Int, Int) =
    (0 until g.getNumGeometries).map(g.getGeometryN).collect {
      case p: Polygon if !p.isEmpty => (1, p.getNumInteriorRing) }
      .foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** Testdata opt-outs in feet: every 10th customer that geocodes. */
  def testdataOptOuts(spark: SparkSession, data: String): Seq[(Double, Double)] =
    spark.read.parquet(s"$data/customer.parquet").select("c_custkey", "c_name")
      .collect().toSeq.filter(_.getAs[Number](0).longValue % 10 == 0)
      .flatMap(r => geocode(r.getString(1) + " Boulder CO"))
      .map { case (lon, lat) => (xFt(lon), yFt(lat)) }

  def erase(spark: SparkSession, data: String, rows: String => Seq[Row]): Seq[CheckResult] = {
    val zones = catalog(spark, data)
    val opt = testdataOptOuts(spark, data).distinct
    val disks = opt.map { case (x, y) => disk(x, y, BufferFt) }
    val feet = opt.map { case (x, y) => footprint(x, y) }
    val circle = (z: Zone) => disk(z.cx, z.cy, z.r)
    val diskTol = (z: Zone, n: Int, a: Double) => n * lune(BufferFt) + 1e-6 * a + 1e-3
    val exactTol = (_: Zone, _: Int, a: Double) => 1e-6 * a + 1e-3
    Seq(
      areaCheck("wnv_erase_poly", rows("wnv_erase_poly"), zones, diamond, disks, diskTol),
      areaCheck("wnv_erase_poly_sub", rows("wnv_erase_poly_sub"), zones, diamond, feet, exactTol),
      areaCheck("wnv_erase_concave", rows("wnv_erase_concave"), zones, star, disks, diskTol),
      areaCheck("wnv_erase_concave_sub", rows("wnv_erase_concave_sub"), zones, star, feet, exactTol),
      ringCheck("wnv_erase_poly_sub_rings", rows("wnv_erase_poly_sub_rings"), zones,
        diamond, feet, opt, exactTol, topology = true),
      ringCheck("wnv_erase_concave_sub_rings", rows("wnv_erase_concave_sub_rings"), zones,
        star, feet, opt, exactTol, topology = true),
      ringCheck("wnv_erase_poly_disk_rings", rows("wnv_erase_poly_disk_rings"), zones,
        star, disks, opt, diskTol, topology = false),
      ringCheck("wnv_erase_rings", rows("wnv_erase_rings"), zones, circle, disks, opt,
        (z, n, a) => diskTol(z, n, a) + lune(z.r), topology = false),
      arcCheck(rows("wnv_erase_arcs"), zones, disks, opt))
  }

  /** Surviving area per zone: the JTS difference must agree within the
    * tolerance, and zones absent from the output must have no area left.
    */
  def areaCheck(q: String, got: Seq[Row], zones: Seq[Zone], shape: Zone => Geometry,
      subs: Seq[Geometry], tol: (Zone, Int, Double) => Double): CheckResult = {
    val byZone = got.map(r => r.getAs[Number]("zone_id").intValue -> r.getAs[Double]("area_sqft")).toMap
    val bad = zones.flatMap { z =>
      val (g, n) = difference(shape(z), subs)
      val a = byZone.getOrElse(z.id, 0.0)
      val t = tol(z, n, g.getArea)
      if (math.abs(a - g.getArea) <= t) None else Some(s"zone ${z.id}: ${a} vs JTS ${g.getArea} (tol $t)")
    }
    ok(q, got.nonEmpty && bad.isEmpty, if (got.isEmpty) "no rows" else bad.take(3).mkString("; "))
  }

  /** One ring piece: traversal endpoints, Green's term, (for an arc) its
    * midpoint, and the bound on the term's rounding error.
    */
  final case class Piece(sx: Double, sy: Double, ex: Double, ey: Double,
      area: Double, mid: Option[(Double, Double)], err: Double)

  /** One output row as a piece. The Green's term is taken about the
    * zone center (ox, oy), where a closed ring's area is the same and
    * the outputs' rounding (coordinates to 1e-6 ft, angles to 1e-6°)
    * moves it least; `err` bounds what that rounding can move it.
    */
  def piece(r: Row, ox: Double, oy: Double): Piece = {
    def d(c: String): Double = r.getAs[Double](c)
    def has(c: String): Boolean = r.schema.fieldNames.contains(c) && !r.isNullAt(r.fieldIndex(c))
    if (has("start_deg")) {
      val (cx, cy) = (d("cx_ft"), d("cy_ft"))
      val (qx, qy) = (cx - ox, cy - oy)
      val s = math.toRadians(d("start_deg")); val e = math.toRadians(d("end_deg"))
      val rho = if (has("rho_ft")) d("rho_ft") else math.hypot(d("x1_ft") - cx, d("y1_ft") - cy)
      // zone arcs run s → e (CCW); hole arcs run e → s (CW)
      val ccw = if (r.schema.fieldNames.contains("ccw")) r.getAs[Boolean]("ccw") else false
      val green = 0.5 * (rho * rho * (e - s) + rho * qx * (math.sin(e) - math.sin(s)) -
        rho * qy * (math.cos(e) - math.cos(s)))
      def at(a: Double) = (cx + rho * math.cos(a), cy + rho * math.sin(a))
      val (a0, a1) = if (ccw) (s, e) else (e, s)
      val (p0, p1) = (at(a0), at(a1))
      val reach = rho + math.abs(qx) + math.abs(qy)
      val err = rho * math.toRadians(0.5e-6) * reach + 1e-6 * (2 * math.Pi * rho + 2 * reach)
      Piece(p0._1, p0._2, p1._1, p1._2, if (ccw) green else -green, Some(at((s + e) / 2)), err)
    } else {
      val (x1, y1, x2, y2) = (d("x1_ft") - ox, d("y1_ft") - oy, d("x2_ft") - ox, d("y2_ft") - oy)
      Piece(x1 + ox, y1 + oy, x2 + ox, y2 + oy, 0.5 * (x1 * y2 - x2 * y1), None,
        1e-6 * (math.abs(x1) + math.abs(y1) + math.abs(x2) + math.abs(y2)))
    }
  }

  /** Output rings: closed chains, each ring's pieces summing to its
    * reported signed area, Σ ring areas equal to the JTS area, outer
    * rings CCW (positive) and holes CW (negative) in the counts JTS
    * finds (exact subtrahends only), and every arc midpoint outside
    * every buffer.
    */
  def ringCheck(q: String, got: Seq[Row], zones: Seq[Zone], shape: Zone => Geometry,
      subs: Seq[Geometry], opt: Seq[(Double, Double)],
      tol: (Zone, Int, Double) => Double, topology: Boolean): CheckResult = {
    val near = new Ref.Near(opt, BufferFt * (1 - 1e-6))
    val byZone = got.groupBy(_.getAs[Number]("zone_id").intValue)
    val bad = zones.flatMap { z =>
      val rings = byZone.getOrElse(z.id, Nil).groupBy(_.getAs[Long]("ring_id")).toSeq.map {
        case (_, rs) =>
          val sorted = rs.sortBy(_.getAs[Long]("piece_seq"))
          (sorted.map(piece(_, z.cx, z.cy)), sorted.head.getAs[Double]("ring_area_sqft"))
      }
      val (g, n) = difference(shape(z), subs)
      val errs = Seq.newBuilder[String]
      rings.foreach { case (ps, reported) =>
        val gaps = ps.indices.map { i =>
          val (a, b) = (ps(i), ps((i + 1) % ps.size))
          math.hypot(a.ex - b.sx, a.ey - b.sy) }
        if (gaps.exists(_ > 1e-2)) errs += s"zone ${z.id}: ring not closed (gap ${gaps.max})"
        val signed = ps.map(_.area).sum
        if (math.abs(signed - reported) > ps.map(_.err).sum + 1e-6 * math.abs(reported) + 1e-3)
          errs += s"zone ${z.id}: ring pieces give area $signed, reported $reported"
        ps.flatMap(_.mid).foreach { case (x, y) =>
          if (near.within(x, y)) errs += s"zone ${z.id}: arc midpoint ($x, $y) inside a buffer" }
      }
      val total = rings.map(_._2).sum
      val t = tol(z, n, g.getArea)
      if (math.abs(total - g.getArea) > t)
        errs += s"zone ${z.id}: rings sum to $total, JTS area ${g.getArea} (tol $t)"
      if (topology) {
        val (shells, holes) = ringCounts(g)
        val pos = rings.count(_._2 > 0); val neg = rings.count(_._2 < 0)
        if (pos != shells || neg != holes)
          errs += s"zone ${z.id}: $pos CCW / $neg CW rings, JTS has $shells shells / $holes holes"
      }
      errs.result()
    }
    ok(q, got.nonEmpty && bad.isEmpty, if (got.isEmpty) "no rows" else bad.take(3).mkString("; "))
  }

  /** Surviving zone-circle arcs: each midpoint outside every buffer, and
    * per zone the total arc within half a degree of the length of the
    * JTS zone circle left outside the buffer union.
    */
  def arcCheck(got: Seq[Row], zones: Seq[Zone], disks: Seq[Geometry],
      opt: Seq[(Double, Double)]): CheckResult = {
    val near = new Ref.Near(opt, BufferFt * (1 - 1e-6))
    val byZone = got.groupBy(_.getAs[Number]("zone_id").intValue)
    val bad = zones.flatMap { z =>
      val arcs = byZone.getOrElse(z.id, Nil).map(r =>
        (r.getAs[Double]("start_deg"), r.getAs[Double]("arc_deg")))
      val inside = arcs.filter { case (s, len) =>
        val m = math.toRadians(s + len / 2)
        near.within(z.cx + z.r * math.cos(m), z.cy + z.r * math.sin(m))
      }
      val boundary = disk(z.cx, z.cy, z.r).getBoundary
      val (left, _) = difference(boundary, disks)
      val jtsDeg = math.toDegrees(left.getLength / z.r)
      val total = arcs.map(_._2).sum
      (if (inside.nonEmpty) Seq(s"zone ${z.id}: ${inside.size} arc midpoints inside a buffer") else Nil) ++
        (if (math.abs(total - jtsDeg) > 0.5) Seq(s"zone ${z.id}: arcs total $total deg, JTS $jtsDeg") else Nil)
    }
    ok("wnv_erase_arcs", got.nonEmpty && bad.isEmpty, if (got.isEmpty) "no rows" else bad.take(3).mkString("; "))
  }
}
