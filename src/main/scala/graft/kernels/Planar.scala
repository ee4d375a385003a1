package graft.kernels

import graft.core.{FlatGeom, GeomKind}

/**
 * Planar kernels: area, winding, centroid, bounding box, length,
 * point-in-ring / point-in-polygon, distance primitives.
 *
 * Semantics re-derived from the reference implementations (file:line
 * cited per function) — this is a from-scratch Scala re-expression,
 * keeping the numerically-load-bearing details (shift tricks, edge
 * crossing rules, tie-breaks) formula-for-formula so fixtures match.
 */
object Planar {

  // ------------------------------------------------------------- area

  /** Twice the signed ring area (shoelace), with the shift-by-first-coord
    * numerical-stability trick of the reference
    * (geo/src/algorithm/area.rs:4-33). Open or <3-point rings → 0. */
  def twiceSignedRingArea(cs: Array[Double], start: Int, end: Int): Double = {
    val n = end - start
    if (n < 3) return 0.0
    if (cs(2 * start) != cs(2 * (end - 1)) || cs(2 * start + 1) != cs(2 * (end - 1) + 1)) return 0.0
    val sx = cs(2 * start)
    val sy = cs(2 * start + 1)
    var tmp = 0.0
    var i = start
    while (i < end - 1) {
      val x1 = cs(2 * i) - sx
      val y1 = cs(2 * i + 1) - sy
      val x2 = cs(2 * (i + 1)) - sx
      val y2 = cs(2 * (i + 1) + 1) - sy
      tmp += x1 * y2 - x2 * y1
      i += 1
    }
    tmp
  }

  /** Signed planar area (geo/src/algorithm/area.rs:61-67): polygon =
    * exterior minus holes, all divided by two at the end; multi = sum of
    * parts; points/lines → 0. */
  def signedArea(g: FlatGeom): Double = g.kind match {
    case GeomKind.Polygon => polygonSignedArea(g, 0, g.rings.length)
    case GeomKind.MultiPolygon =>
      var sum = 0.0
      var p = 0
      while (p < g.parts.length) { sum += polygonSignedArea(g, g.partStart(p), g.partEnd(p)); p += 1 }
      sum
    case _ => 0.0
  }

  def unsignedArea(g: FlatGeom): Double = g.kind match {
    // MultiPolygon sums |area| per part (area.rs MultiPolygon impl)
    case GeomKind.MultiPolygon =>
      var sum = 0.0
      var p = 0
      while (p < g.parts.length) { sum += Math.abs(polygonSignedArea(g, g.partStart(p), g.partEnd(p))); p += 1 }
      sum
    case _ => Math.abs(signedArea(g))
  }

  /** Signed area of rings [r0, r1): exterior is ring r0; holes subtract
    * with their own winding sign kept (the reference sums ext + holes'
    * signed areas where holes wound opposite contribute negatively). */
  private def polygonSignedArea(g: FlatGeom, r0: Int, r1: Int): Double = {
    if (r1 == r0) return 0.0
    // area.rs:117-135 Polygon impl: |exterior| − Σ|hole| (robust to holes
    // of either winding), sign restored from the exterior's orientation.
    val extArea = twiceSignedRingArea(g.coords, g.ringStart(r0), g.ringEnd(r0)) / 2.0
    val isNegative = extArea < 0.0
    var area = Math.abs(extArea)
    var r = r0 + 1
    while (r < r1) {
      area -= Math.abs(twiceSignedRingArea(g.coords, g.ringStart(r), g.ringEnd(r)) / 2.0)
      r += 1
    }
    if (isNegative) -area else area
  }

  // ---------------------------------------------------------- winding

  final val CW = -1
  final val NoWinding = 0
  final val CCW = 1

  /** Winding order of a closed ring via the sign of its area
    * (geo/src/algorithm/winding_order.rs:62). */
  def ringWinding(cs: Array[Double], start: Int, end: Int): Int = {
    val a2 = twiceSignedRingArea(cs, start, end)
    if (a2 > 0) CCW else if (a2 < 0) CW else NoWinding
  }

  def windingOrder(g: FlatGeom): Int = g.kind match {
    case GeomKind.LineString =>
      // winding of a LineString is defined when closed (winding_order.rs:43)
      ringWinding(g.coords, 0, g.numPoints)
    case GeomKind.Polygon => ringWinding(g.coords, g.ringStart(0), g.ringEnd(0))
    case _ => NoWinding
  }

  // ------------------------------------------------------------- bbox

  /** Axis-aligned bounding rect (geo/src/algorithm/bounding_rect.rs:6-30).
    * Returns (minX, minY, maxX, maxY); NaN-quad if empty. */
  def boundingRect(g: FlatGeom): Array[Double] = {
    val n = g.numPoints
    if (n == 0) return Array(Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    var minX = Double.PositiveInfinity
    var minY = Double.PositiveInfinity
    var maxX = Double.NegativeInfinity
    var maxY = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      val x = g.x(i); val y = g.y(i)
      if (x < minX) minX = x
      if (x > maxX) maxX = x
      if (y < minY) minY = y
      if (y > maxY) maxY = y
      i += 1
    }
    Array(minX, minY, maxX, maxY)
  }

  @inline def bboxIntersects(a: Array[Double], b: Array[Double]): Boolean =
    a(0) <= b(2) && a(2) >= b(0) && a(1) <= b(3) && a(3) >= b(1)

  // ----------------------------------------------------------- length

  /** Euclidean length of all line components
    * (geo/src/algorithm/line_measures/length.rs:24 with Euclidean). */
  def euclideanLength(g: FlatGeom): Double = g.kind match {
    case GeomKind.LineString | GeomKind.MultiLineString =>
      var sum = 0.0
      FlatGeom.foreachRing(g) { (s, e) =>
        var i = s
        while (i < e - 1) {
          sum += Math.hypot(g.x(i + 1) - g.x(i), g.y(i + 1) - g.y(i))
          i += 1
        }
      }
      sum
    case _ => 0.0
  }

  /** Perimeter: sum of ring lengths of polygonal geometries. */
  def perimeter(g: FlatGeom): Double = g.kind match {
    case GeomKind.Polygon | GeomKind.MultiPolygon =>
      var sum = 0.0
      FlatGeom.foreachRing(g) { (s, e) =>
        var i = s
        while (i < e - 1) {
          sum += Math.hypot(g.x(i + 1) - g.x(i), g.y(i + 1) - g.y(i))
          i += 1
        }
      }
      sum
    case _ => 0.0
  }

  // -------------------------------------------------------------- PIP

  final val Outside = 0
  final val Inside = 1
  final val OnBoundary = 2

  @inline private def valueInBetween(v: Double, a: Double, b: Double): Boolean =
    if (a < b) a <= v && v <= b else b <= v && v <= a

  /** Position of (x,y) relative to a closed ring — winding-number
    * accumulation with boundary short-circuit, edge-crossing rules exactly
    * as the reference (geo/src/algorithm/coordinate_position.rs:386-440):
    *  1. upward edge includes its start, excludes its end;
    *  2. downward edge excludes its start, includes its end;
    *  3. horizontal edges excluded;
    *  4. edge-ray intersection strictly right of coord.
    */
  def coordPosInRing(cs: Array[Double], start: Int, end: Int, x: Double, y: Double): Int = {
    val n = end - start
    if (n == 0) return Outside
    if (n == 1) {
      return if (cs(2 * start) == x && cs(2 * start + 1) == y) OnBoundary else Outside
    }
    var winding = 0
    var i = start
    while (i < end - 1) {
      val x1 = cs(2 * i); val y1 = cs(2 * i + 1)
      val x2 = cs(2 * i + 2); val y2 = cs(2 * i + 3)
      if (y1 <= y) {
        if (y2 >= y) {
          val o = Robust.orient2d(x1, y1, x2, y2, x, y)
          if (o == Robust.CounterClockwise && y2 != y) winding += 1
          else if (o == Robust.Collinear && valueInBetween(x, x1, x2)) return OnBoundary
        }
      } else if (y2 <= y) {
        val o = Robust.orient2d(x1, y1, x2, y2, x, y)
        if (o == Robust.Clockwise) winding -= 1
        else if (o == Robust.Collinear && valueInBetween(x, x1, x2)) return OnBoundary
      }
      i += 1
    }
    if (winding == 0) Outside else Inside
  }

  /** Position relative to a polygon given its ring range [r0,r1)
    * (coordinate_position.rs:269-306): test exterior; if inside, any hole
    * containing the coord flips to outside, on a hole boundary → boundary. */
  def coordPosInPolygon(g: FlatGeom, r0: Int, r1: Int, x: Double, y: Double): Int = {
    if (r1 == r0 || g.isEmpty) return Outside
    val ext = coordPosInRing(g.coords, g.ringStart(r0), g.ringEnd(r0), x, y)
    if (ext != Inside) return ext
    var r = r0 + 1
    while (r < r1) {
      val p = coordPosInRing(g.coords, g.ringStart(r), g.ringEnd(r), x, y)
      if (p == Inside) return Outside
      if (p == OnBoundary) return OnBoundary
      r += 1
    }
    Inside
  }

  /** Position of a coord relative to any geometry (coordinate_position.rs
    * per-type impls). For lines: on segment → boundary at endpoints?
    * The reference: for LineString, interior = on the line but not at the
    * (non-closed) endpoints, boundary = the two endpoints. */
  def coordPos(g: FlatGeom, x: Double, y: Double): Int = g.kind match {
    case GeomKind.Point =>
      if (!g.isEmpty && g.x(0) == x && g.y(0) == y) Inside else Outside
    case GeomKind.MultiPoint =>
      var i = 0
      while (i < g.numPoints) { if (g.x(i) == x && g.y(i) == y) return Inside; i += 1 }
      Outside
    case GeomKind.LineString => coordPosOnLine(g, 0, g.numPoints, x, y)
    case GeomKind.MultiLineString =>
      // mod-2 boundary rule: a point that is an endpoint of an odd number
      // of component lines is on the boundary
      var boundaryCount = 0
      var inside = false
      FlatGeom.foreachRing(g) { (s, e) =>
        coordPosOnLine(g, s, e, x, y) match {
          case Inside => inside = true
          case OnBoundary => boundaryCount += 1
          case _ =>
        }
      }
      if (boundaryCount % 2 == 1) OnBoundary else if (inside || boundaryCount > 0) Inside else Outside
    case GeomKind.Polygon => coordPosInPolygon(g, 0, g.rings.length, x, y)
    case GeomKind.MultiPolygon =>
      var res = Outside
      var p = 0
      while (p < g.parts.length) {
        coordPosInPolygon(g, g.partStart(p), g.partEnd(p), x, y) match {
          case OnBoundary => return OnBoundary
          case Inside => res = Inside
          case _ =>
        }
        p += 1
      }
      res
    case _ => Outside
  }

  private def coordPosOnLine(g: FlatGeom, s: Int, e: Int, x: Double, y: Double): Int = {
    val n = e - s
    if (n == 0) return Outside
    if (n == 1) return if (g.x(s) == x && g.y(s) == y) OnBoundary else Outside
    val closed = g.x(s) == g.x(e - 1) && g.y(s) == g.y(e - 1)
    // endpoint test first (boundary of a non-closed line = its endpoints)
    if (!closed && ((g.x(s) == x && g.y(s) == y) || (g.x(e - 1) == x && g.y(e - 1) == y)))
      return OnBoundary
    var i = s
    while (i < e - 1) {
      if (pointOnSegment(g.x(i), g.y(i), g.x(i + 1), g.y(i + 1), x, y)) return Inside
      i += 1
    }
    Outside
  }

  @inline def pointOnSegment(x1: Double, y1: Double, x2: Double, y2: Double, x: Double, y: Double): Boolean =
    Robust.orient2d(x1, y1, x2, y2, x, y) == Robust.Collinear &&
      valueInBetween(x, x1, x2) && valueInBetween(y, y1, y2)

  // ---------------------------------------------------------- centroid

  /** Dimension-weighted centroid, port of the reference's
    * CentroidOperation / WeightedCentroid pipeline
    * (geo/src/algorithm/centroid.rs:436-683). Returns null when empty. */
  def centroid(g: FlatGeom): Array[Double] = {
    val op = new CentroidOp
    op.addGeometry(g)
    op.result()
  }

  /** Dimension-weighted centroid of a heterogeneous collection (the
    * JTS Centroid rule over a GeometryCollection: every component
    * accumulates into the shared accumulator and the highest dimension
    * present wins — lower-dimension parts are infinitesimal). */
  def centroidOfParts(parts: Seq[FlatGeom]): Array[Double] = {
    val op = new CentroidOp
    parts.foreach(g => if (g != null && !g.isEmpty) op.addGeometry(g))
    op.result()
  }

  private final class CentroidOp {
    // dimensions: -1 empty, 0, 1, 2
    var dim: Int = -1
    var weight: Double = 0.0
    var accX: Double = 0.0
    var accY: Double = 0.0

    def result(): Array[Double] =
      if (dim < 0) null else Array(accX / weight, accY / weight)

    def addWeighted(d: Int, cx: Double, cy: Double, w: Double): Unit = {
      if (d > dim) { dim = d; weight = w; accX = cx * w; accY = cy * w }
      else if (d == dim) { weight += w; accX += cx * w; accY += cy * w }
      // d < dim: ignored (lower-dimension parts are infinitesimal)
    }

    def subWeighted(d: Int, cx: Double, cy: Double, w: Double): Unit = {
      if (d == dim) { weight -= w; accX -= cx * w; accY -= cy * w }
    }

    def addCoord(x: Double, y: Double): Unit = addWeighted(0, x, y, 1.0)

    def addLineString(g: FlatGeom, s: Int, e: Int): Unit = {
      if (dim > 1) return
      if (e - s == 1) { addCoord(g.x(s), g.y(s)); return }
      var i = s
      while (i < e - 1) {
        val x1 = g.x(i); val y1 = g.y(i); val x2 = g.x(i + 1); val y2 = g.y(i + 1)
        if (x1 == x2 && y1 == y2) addCoord(x1, y1)
        else {
          val len = Math.hypot(x2 - x1, y2 - y1)
          addWeighted(1, (x1 + x2) / 2.0, (y1 + y2) / 2.0, len)
        }
        i += 1
      }
    }

    /** add_ring (centroid.rs:596-625): area-weighted ring centroid with
      * shift; zero-area rings degrade to linestring/point. */
    def ringCentroid(g: FlatGeom, r: Int): (Double, Double, Double) = {
      val s = g.ringStart(r); val e = g.ringEnd(r)
      val area2 = twiceSignedRingArea(g.coords, s, e)
      if (area2 == 0.0) return null
      val sx = g.x(s); val sy = g.y(s)
      var ax = 0.0; var ay = 0.0
      var i = s
      while (i < e - 1) {
        val x1 = g.x(i) - sx; val y1 = g.y(i) - sy
        val x2 = g.x(i + 1) - sx; val y2 = g.y(i + 1) - sy
        val det = x1 * y2 - x2 * y1
        ax += (x2 + x1) * det
        ay += (y2 + y1) * det
        i += 1
      }
      val area = area2 / 2.0
      val cx = ax / (6.0 * area) + sx
      val cy = ay / (6.0 * area) + sy
      (cx, cy, Math.abs(area))
    }

    def addPolygon(g: FlatGeom, r0: Int, r1: Int): Unit = {
      if (r1 == r0) return
      val ext = ringCentroid(g, r0)
      if (ext == null) {
        // degenerate ring: point or linestring centroid of the exterior
        val s = g.ringStart(r0); val e = g.ringEnd(r0)
        if (e - s == 0) return
        var allSame = true
        var i = s
        while (i < e && allSame) { if (g.x(i) != g.x(s) || g.y(i) != g.y(s)) allSame = false; i += 1 }
        if (allSame) addCoord(g.x(s), g.y(s)) else addLineString(g, s, e)
        return
      }
      // exterior minus holes via a sub-operation (centroid.rs:496-520)
      var w = ext._3
      var ax = ext._1 * ext._3
      var ay = ext._2 * ext._3
      var r = r0 + 1
      while (r < r1) {
        val h = ringCentroid(g, r)
        if (h != null) { w -= h._3; ax -= h._1 * h._3; ay -= h._2 * h._3 }
        r += 1
      }
      if (w == 0.0) {
        addLineString(g, g.ringStart(r0), g.ringEnd(r0))
      } else {
        addWeighted(2, ax / w, ay / w, w)
      }
    }

    def addGeometry(g: FlatGeom): Unit = g.kind match {
      case GeomKind.Point => if (!g.isEmpty) addCoord(g.x(0), g.y(0))
      case GeomKind.MultiPoint =>
        if (dim <= 0) { var i = 0; while (i < g.numPoints) { addCoord(g.x(i), g.y(i)); i += 1 } }
      case GeomKind.LineString => if (!g.isEmpty) addLineString(g, 0, g.numPoints)
      case GeomKind.MultiLineString =>
        if (dim <= 1) FlatGeom.foreachRing(g)((s, e) => addLineString(g, s, e))
      case GeomKind.Polygon => addPolygon(g, 0, g.rings.length)
      case GeomKind.MultiPolygon =>
        var p = 0
        while (p < g.parts.length) { addPolygon(g, g.partStart(p), g.partEnd(p)); p += 1 }
      case _ =>
    }
  }

  // --------------------------------------------------- point distances

  /** Euclidean distance from point to segment
    * (geo-types private_utils::point_line_euclidean_distance semantics:
    * clamp the projection to the segment). */
  def pointSegDistance(px: Double, py: Double, x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val dx = x2 - x1
    val dy = y2 - y1
    if (dx == 0.0 && dy == 0.0) return Math.hypot(px - x1, py - y1)
    val t = ((px - x1) * dx + (py - y1) * dy) / (dx * dx + dy * dy)
    if (t <= 0.0) Math.hypot(px - x1, py - y1)
    else if (t >= 1.0) Math.hypot(px - x2, py - y2)
    else Math.hypot(px - (x1 + t * dx), py - (y1 + t * dy))
  }

  /** The squared length of the offset whose `Math.hypot` is
    * `pointSegDistance(px, py, x1, y1, x2, y2)`: the same branches and
    * the same operations, so only the final rounding differs. Square
    * and sum err by at most a few ulps (while no square overflows or
    * loses precision to underflow), hypot by under one, so an order on
    * this value is the order on the distance outside a thin relative
    * band. */
  def pointSegDist2(px: Double, py: Double, x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val dx = x2 - x1
    val dy = y2 - y1
    var ox = px - x1
    var oy = py - y1
    if (dx != 0.0 || dy != 0.0) {
      val t = ((px - x1) * dx + (py - y1) * dy) / (dx * dx + dy * dy)
      // a NaN t takes pointSegDistance's interior branch
      if (t >= 1.0) { ox = px - x2; oy = py - y2 }
      else if (!(t <= 0.0)) { ox = px - (x1 + t * dx); oy = py - (y1 + t * dy) }
    }
    ox * ox + oy * oy
  }

  /** Exactly `pointSegDistance(px, py, x1, y1, x2, y2) <= tol`, without
    * its `Math.hypot` in all but a thin band. A point farther than
    * `tol` (plus a rounding margin) from the segment's bbox is rejected
    * first; otherwise `pointSegDist2` is compared with `tol²`, which
    * decides outside a relative band of 1e-12. Inside the band, when
    * `tol` lies outside [2^-500, 2^500] or the squared length is not
    * finite (overflow, NaN), the distance itself is compared. */
  def pointSegWithin(px: Double, py: Double, x1: Double, y1: Double, x2: Double, y2: Double,
      tol: Double): Boolean = {
    // the computed nearest point lies within a few ulps of the bbox
    val m = tol * (1 + 1e-12) +
      1e-14 * (Math.abs(px) + Math.abs(py) + Math.abs(x1) + Math.abs(y1) + Math.abs(x2) + Math.abs(y2))
    if (px - Math.max(x1, x2) > m || Math.min(x1, x2) - px > m ||
        py - Math.max(y1, y2) > m || Math.min(y1, y2) - py > m) return false
    val d2 = pointSegDist2(px, py, x1, y1, x2, y2)
    if (d2 < Double.PositiveInfinity && tol >= SquareTiny && tol <= SquareSafe) {
      val t2 = tol * tol
      if (d2 < t2 * (1 - 1e-12)) return true
      if (d2 > t2 * (1 + 1e-12)) return false
    }
    pointSegDistance(px, py, x1, y1, x2, y2) <= tol
  }

  private val SquareSafe = Math.scalb(1.0, 500)
  private val SquareTiny = Math.scalb(1.0, -500)

  /** Nearest point on a segment to p (for ClosestPoint semantics). */
  def closestOnSeg(px: Double, py: Double, x1: Double, y1: Double, x2: Double, y2: Double): Array[Double] = {
    val dx = x2 - x1
    val dy = y2 - y1
    if (dx == 0.0 && dy == 0.0) return Array(x1, y1)
    val t = ((px - x1) * dx + (py - y1) * dy) / (dx * dx + dy * dy)
    if (t <= 0.0) Array(x1, y1)
    else if (t >= 1.0) Array(x2, y2)
    else Array(x1 + t * dx, y1 + t * dy)
  }
}
