package graft.sql

import graft.core.{FlatGeom, GeomKind, Wkt}
import graft.kernels._
import graft.index.{CellId, Geohash, HexGrid}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/**
 * Static evaluation bridge between Catalyst rows and the pure-Scala
 * kernels. Every method is a plain static call so generated code can
 * invoke it directly from whole-stage codegen
 * (`graft.sql.GeomEval.area(row)`), keeping the surrounding plan
 * codegen'd even though the kernel itself is interpreted JVM code.
 */
object GeomEval {

  /** Every geometry argument decodes through the calling thread's
    * [[GeomCache]]: broadcast polygons and literals decode once per
    * thread and keep their prepared point-in-polygon index. */
  @inline private def g(r: InternalRow): FlatGeom = GeomCache.get.geom(r)

  /** Slab edge indexes built by the calling thread (tests). */
  private[graft] def prepareCount: Long = GeomCache.get.prepares

  /** Bytes the calling thread's geometry cache retains (tests). */
  private[graft] def cacheRetainedBytes: Long = GeomCache.get.retainedBytes

  // ------------------------------------------------------------ codecs

  def geomFromTextOrNull(s: UTF8String): InternalRow =
    Wkt.readOpt(s.toString) match {
      case Some(geom) => GeomSchema.toRow(geom)
      case None => null
    }

  /** Lossy 2-D projection parse (Z/M tokens and extra ordinates drop
    * — Wkt.readForce2D); null on malformed input like the strict
    * parse. */
  def geomFromTextForce2D(s: UTF8String): InternalRow =
    Wkt.readForce2DOpt(s.toString) match {
      case Some(geom) => GeomSchema.toRow(geom)
      case None => null
    }

  def asText(r: InternalRow): UTF8String = UTF8String.fromString(Wkt.write(g(r)))

  def asGeoJson(r: InternalRow): UTF8String =
    UTF8String.fromString(graft.core.GeoJson.write(g(r)))

  def geomFromGeoJsonOrNull(s: UTF8String): InternalRow =
    graft.core.GeoJson.readOpt(s.toString) match {
      case Some(geom) => GeomSchema.toRow(geom)
      case None => null
    }

  /** GEOMETRYCOLLECTION WKT → array<geom> (the Spark-native mapping of
    * the reference's heterogeneous GeometryCollection); accepts any
    * single geometry too. Null on parse failure. */
  def collectionFromText(s: UTF8String): GenericArrayData =
    Wkt.readCollectionOpt(s.toString) match {
      case Some(gs) => new GenericArrayData(gs.map(GeomSchema.toRow(_): Any).toArray)
      case None => null
    }

  def collectionAsText(arr: org.apache.spark.sql.catalyst.util.ArrayData): UTF8String = {
    val n = arr.numElements()
    val gs = (0 until n).map(i => GeomSchema.fromRow(arr.getStruct(i, 4)))
    UTF8String.fromString(Wkt.writeCollection(gs))
  }

  /** Unary union over array<geom> (kernels/UnaryUnion): canonical
    * dissolved components [polys?, linework?, points?]. */
  def unaryUnion(arr: org.apache.spark.sql.catalyst.util.ArrayData): GenericArrayData = {
    val n = arr.numElements()
    val gs = (0 until n).map(i => GeomSchema.fromRow(arr.getStruct(i, 4)))
    val res = graft.kernels.UnaryUnion.union(gs, None)
    new GenericArrayData(res.toParts.map(GeomSchema.toRow(_): Any).toArray)
  }

  def numParts(r: InternalRow): Int = GeomSchema.fromRow(r).numParts

  /** JTS GeometryCollection centroid: all parts accumulate, highest
    * dimension wins (kernels/Planar.centroidOfParts). */
  def collectionCentroid(arr: org.apache.spark.sql.catalyst.util.ArrayData): InternalRow = {
    val gs = (0 until arr.numElements()).map(i => GeomSchema.fromRow(arr.getStruct(i, 4)))
    val c = graft.kernels.Planar.centroidOfParts(gs)
    if (c == null) null else GeomSchema.toRow(graft.core.FlatGeom.point(c(0), c(1)))
  }

  /** OGC Mod-2 boundary (kernels/Topo.boundary). */
  def boundary(r: InternalRow): InternalRow =
    GeomSchema.toRow(graft.kernels.Topo.boundary(GeomSchema.fromRow(r)))

  /** Minimum clearance distance (Double.MaxValue when undefined). */
  def minClearance(r: InternalRow): Double =
    graft.kernels.Topo.minClearance(GeomSchema.fromRow(r))._1

  /** The clearance-realizing 2-point line (LINESTRING EMPTY when
    * undefined). */
  def minClearanceLine(r: InternalRow): InternalRow = {
    val (_, line) = graft.kernels.Topo.minClearance(GeomSchema.fromRow(r))
    GeomSchema.toRow(
      if (line == null) graft.core.FlatGeom.lineString(Array.emptyDoubleArray)
      else graft.core.FlatGeom.lineString(line))
  }

  /** Polygonize linework (kernels/Polygonize): array<geom> in,
    * array of formed polygons out. */
  def polygonize(arr: org.apache.spark.sql.catalyst.util.ArrayData): GenericArrayData = {
    val n = arr.numElements()
    val gs = (0 until n).map(i => GeomSchema.fromRow(arr.getStruct(i, 4)))
    new GenericArrayData(
      graft.kernels.Polygonize.polygonize(gs).map(GeomSchema.toRow(_): Any).toArray)
  }

  def winnowFingerprints(t: UTF8String, k: Int, w: Int): GenericArrayData =
    new GenericArrayData(Winnow.fingerprints(t.toString, k, w))

  def point(x: Double, y: Double): InternalRow = GeomSchema.pointRow(x, y)

  /** Axis-aligned rectangle polygon from its corner ordinates. */
  def rectXY(xmin: Double, ymin: Double, xmax: Double, ymax: Double): InternalRow =
    GeomSchema.toRow(FlatGeom.rect(xmin, ymin, xmax, ymax))

  def geometryType(r: InternalRow): UTF8String =
    UTF8String.fromString(GeomKind.name(r.getByte(0)))

  // ---------------------------------------------------------- measures

  def area(r: InternalRow): Double = Planar.signedArea(g(r))
  def unsignedArea(r: InternalRow): Double = Planar.unsignedArea(g(r))
  def sphereArea(r: InternalRow): Double = Sphere.cdSignedArea(g(r))
  /** Exact ellipsoidal polygon area (Karney semantics, signed):
    * geodesic-edge integration on WGS-84 — see [[GeodesicArea]]. */
  def geodesicArea(r: InternalRow): Double = GeodesicArea.signedArea(g(r))

  /** Unsigned variant (rings larger than half the earth supported). */
  def geodesicAreaUnsigned(r: InternalRow): Double = GeodesicArea.unsignedArea(g(r))

  def lengthGeodesic(r: InternalRow): Double = Geodesic.length(g(r))

  def length(r: InternalRow): Double = Planar.euclideanLength(g(r))
  def lengthSphere(r: InternalRow): Double = Sphere.haversineLength(g(r))
  def lengthRhumb(r: InternalRow): Double = Sphere.rhumbLength(g(r))
  def perimeter(r: InternalRow): Double = Planar.perimeter(g(r))
  def numPoints(r: InternalRow): Int = g(r).numPoints
  def isEmpty(r: InternalRow): Boolean = g(r).isEmpty

  def centroid(r: InternalRow): InternalRow = {
    val c = Planar.centroid(g(r))
    if (c == null) null else GeomSchema.pointRow(c(0), c(1))
  }

  def envelope(r: InternalRow): InternalRow = {
    val bb = Planar.boundingRect(g(r))
    if (bb(0).isNaN) null
    else GeomSchema.toRow(FlatGeom.rect(bb(0), bb(1), bb(2), bb(3)))
  }

  def xMin(r: InternalRow): Double = Planar.boundingRect(g(r))(0)
  def yMin(r: InternalRow): Double = Planar.boundingRect(g(r))(1)
  def xMax(r: InternalRow): Double = Planar.boundingRect(g(r))(2)
  def yMax(r: InternalRow): Double = Planar.boundingRect(g(r))(3)
  def pointX(r: InternalRow): Double = { val geom = g(r); if (geom.isEmpty) Double.NaN else geom.x(0) }
  def pointY(r: InternalRow): Double = { val geom = g(r); if (geom.isEmpty) Double.NaN else geom.y(0) }

  def windingOrder(r: InternalRow): UTF8String = {
    Planar.windingOrder(g(r)) match {
      case Planar.CW => UTF8String.fromString("CW")
      case Planar.CCW => UTF8String.fromString("CCW")
      case _ => null
    }
  }

  def isCcw(r: InternalRow): Boolean = Planar.windingOrder(g(r)) == Planar.CCW

  def interiorPoint(r: InternalRow): InternalRow = {
    val p = Topo.interiorPointApprox(g(r))
    if (p == null) null else GeomSchema.pointRow(p(0), p(1))
  }

  // --------------------------------------------------------- distances

  def distance(a: InternalRow, b: InternalRow): Double = Topo.euclideanDistance(g(a), g(b))

  /** Haversine distance between two POINT geoms, meters. */
  def distanceSphere(a: InternalRow, b: InternalRow): Double = {
    val ga = g(a); val gb = g(b)
    if (ga.isEmpty || gb.isEmpty) return Double.NaN
    Sphere.haversineDistance(ga.x(0), ga.y(0), gb.x(0), gb.y(0))
  }

  def distanceRhumb(a: InternalRow, b: InternalRow): Double = {
    val ga = g(a); val gb = g(b)
    if (ga.isEmpty || gb.isEmpty) return Double.NaN
    Sphere.rhumbDistance(ga.x(0), ga.y(0), gb.x(0), gb.y(0))
  }

  def distanceGeodesic(a: InternalRow, b: InternalRow): Double = {
    val ga = g(a); val gb = g(b)
    if (ga.isEmpty || gb.isEmpty) return Double.NaN
    Geodesic.inverseDistance(ga.x(0), ga.y(0), gb.x(0), gb.y(0))
  }

  def bearing(a: InternalRow, b: InternalRow): Double = {
    val ga = g(a); val gb = g(b)
    if (ga.isEmpty || gb.isEmpty) return Double.NaN
    Sphere.haversineBearing(ga.x(0), ga.y(0), gb.x(0), gb.y(0))
  }

  def bearingRhumb(a: InternalRow, b: InternalRow): Double = {
    val ga = g(a); val gb = g(b)
    if (ga.isEmpty || gb.isEmpty) return Double.NaN
    Sphere.rhumbBearing(ga.x(0), ga.y(0), gb.x(0), gb.y(0))
  }

  def bearingGeodesic(a: InternalRow, b: InternalRow): Double = {
    val ga = g(a); val gb = g(b)
    if (ga.isEmpty || gb.isEmpty) return Double.NaN
    Geodesic.inverseAzimuth(ga.x(0), ga.y(0), gb.x(0), gb.y(0))
  }

  def project(a: InternalRow, bearingDeg: Double, meters: Double): InternalRow = {
    val ga = g(a)
    if (ga.isEmpty) return null
    val d = Sphere.haversineDestination(ga.x(0), ga.y(0), bearingDeg, meters)
    GeomSchema.pointRow(d(0), d(1))
  }

  def projectRhumb(a: InternalRow, bearingDeg: Double, meters: Double): InternalRow = {
    val ga = g(a)
    if (ga.isEmpty) return null
    val d = Sphere.rhumbDestination(ga.x(0), ga.y(0), bearingDeg, meters)
    GeomSchema.pointRow(d(0), d(1))
  }

  def projectGeodesic(a: InternalRow, bearingDeg: Double, meters: Double): InternalRow = {
    val ga = g(a)
    if (ga.isEmpty) return null
    val d = Geodesic.direct(ga.x(0), ga.y(0), bearingDeg, meters)
    GeomSchema.pointRow(d(0), d(1))
  }

  def crossTrack(p: InternalRow, a: InternalRow, b: InternalRow): Double = {
    val gp = g(p); val ga = g(a); val gb = g(b)
    if (gp.isEmpty || ga.isEmpty || gb.isEmpty) return Double.NaN
    Sphere.crossTrackDistance(gp.x(0), gp.y(0), ga.x(0), ga.y(0), gb.x(0), gb.y(0))
  }

  def hausdorff(a: InternalRow, b: InternalRow): Double = Topo.hausdorffDistance(g(a), g(b))
  def frechet(a: InternalRow, b: InternalRow): Double = Topo.frechetDistance(g(a), g(b))

  def closestPoint(a: InternalRow, b: InternalRow): InternalRow = {
    // nearest point ON a TO b (ClosestPoint semantics, single best)
    val ga = g(a); val gb = g(b)
    if (ga.isEmpty || gb.isEmpty) return null
    val px = gb.x(0); val py = gb.y(0)
    var best = Double.PositiveInfinity
    var bx = ga.x(0); var by = ga.y(0)
    if (ga.kind == GeomKind.Point || ga.kind == GeomKind.MultiPoint) {
      var i = 0
      while (i < ga.numPoints) {
        val d = Math.hypot(ga.x(i) - px, ga.y(i) - py)
        if (d < best) { best = d; bx = ga.x(i); by = ga.y(i) }
        i += 1
      }
    } else {
      FlatGeom.foreachRing(ga) { (s, e) =>
        var i = s
        while (i < e - 1) {
          val c = Planar.closestOnSeg(px, py, ga.x(i), ga.y(i), ga.x(i + 1), ga.y(i + 1))
          val d = Math.hypot(c(0) - px, c(1) - py)
          if (d < best) { best = d; bx = c(0); by = c(1) }
          i += 1
        }
      }
    }
    GeomSchema.pointRow(bx, by)
  }

  def lineLocatePoint(line: InternalRow, pt: InternalRow): Double = {
    val gp = g(pt)
    if (gp.isEmpty) return Double.NaN
    Transform.lineLocatePoint(g(line), gp.x(0), gp.y(0))
  }

  def lineInterpolatePoint(line: InternalRow, fraction: Double): InternalRow = {
    val p = Transform.lineInterpolatePoint(g(line), fraction)
    if (p == null) null else GeomSchema.pointRow(p(0), p(1))
  }

  /** ST_LineInterpolatePoints (repeat=true): points at every multiple
    * of `fraction` along the line, as a MULTIPOINT (PostGIS contract;
    * fraction in (0, 1]; the endpoint at fraction·k = 1 included). */
  def lineInterpolatePoints(line: InternalRow, fraction: Double): InternalRow = {
    if (!(fraction > 0.0) || fraction > 1.0) return null
    val geom = g(line)
    val n = math.floor(1.0 / fraction).toInt
    if (n <= 0 || n > (1 << 20)) return null
    val pts = new Array[Double](2 * n)
    var i = 1
    while (i <= n) {
      val p = Transform.lineInterpolatePoint(geom, fraction * i)
      if (p == null) return null
      pts(2 * (i - 1)) = p(0); pts(2 * (i - 1) + 1) = p(1)
      i += 1
    }
    GeomSchema.toRow(
      if (n == 1) FlatGeom.point(pts(0), pts(1)) else FlatGeom.multiPoint(pts))
  }

  def lineInterpolateSphere(a: InternalRow, b: InternalRow, ratio: Double): InternalRow = {
    val ga = g(a); val gb = g(b)
    if (ga.isEmpty || gb.isEmpty) return null
    val p = Sphere.haversinePointAtRatio(ga.x(0), ga.y(0), gb.x(0), gb.y(0), ratio)
    GeomSchema.pointRow(p(0), p(1))
  }

  /** Rhumb intermediate (rhumb/intermediate.rs point_at_ratio_between). */
  def lineInterpolateRhumb(a: InternalRow, b: InternalRow, ratio: Double): InternalRow = {
    val ga = g(a); val gb = g(b)
    if (ga.isEmpty || gb.isEmpty) return null
    val p = Sphere.rhumbPointAtRatio(ga.x(0), ga.y(0), gb.x(0), gb.y(0), ratio)
    GeomSchema.pointRow(p(0), p(1))
  }

  /** Geodesic intermediate (geodesic_intermediate.rs / geodesic.rs
    * point_at_ratio_between): inverse for (s12, azi1), direct at
    * ratio·s12. */
  def lineInterpolateGeodesic(a: InternalRow, b: InternalRow, ratio: Double): InternalRow = {
    val ga = g(a); val gb = g(b)
    if (ga.isEmpty || gb.isEmpty) return null
    val p = Geodesic.pointAtRatio(ga.x(0), ga.y(0), gb.x(0), gb.y(0), ratio)
    GeomSchema.pointRow(p(0), p(1))
  }

  // -------------------------------------------------------- predicates

  def contains(a: InternalRow, b: InternalRow): Boolean = Topo.contains(g(a), g(b))
  def within(a: InternalRow, b: InternalRow): Boolean = Topo.within(g(a), g(b))
  def intersects(a: InternalRow, b: InternalRow): Boolean = Topo.intersects(g(a), g(b))
  def disjoint(a: InternalRow, b: InternalRow): Boolean = !Topo.intersects(g(a), g(b))

  /** Hot path of the join refine: polygon struct contains raw (x, y),
    * without building a point row. Polygons of 128 vertices or more
    * answer from their cached y-slab edge index, which runs the ray
    * cast over the edges of the point's slab only; smaller ones take
    * the O(n) ray cast. */
  def containsXY(a: InternalRow, x: Double, y: Double): Boolean =
    GeomCache.get.coordPos(a, x, y) == Planar.Inside

  def intersectsXY(a: InternalRow, x: Double, y: Double): Boolean =
    GeomCache.get.coordPos(a, x, y) != Planar.Outside

  def isConvex(r: InternalRow): Boolean = {
    val geom = g(r)
    if (geom.kind != GeomKind.LineString && geom.kind != GeomKind.Polygon) return false
    val (s, e) =
      if (geom.kind == GeomKind.Polygon) (geom.ringStart(0), geom.ringEnd(0))
      else (0, geom.numPoints)
    val n = e - s - 1 // closed ring: skip duplicate last
    if (n < 3) return false
    var sign = 0
    var i = 0
    while (i < n) {
      val a0 = s + i
      val b0 = s + ((i + 1) % n)
      val c0 = s + ((i + 2) % n)
      val o = Robust.orient2d(geom.x(a0), geom.y(a0), geom.x(b0), geom.y(b0), geom.x(c0), geom.y(c0))
      if (o != Robust.Collinear) {
        if (sign == 0) sign = o
        else if (sign != o) return false
      }
      i += 1
    }
    true
  }

  // ------------------------------------------------------ constructive

  def convexHull(r: InternalRow): InternalRow = {
    val hull = Hull.quickHull(g(r).coords)
    if (hull.length < 8) GeomSchema.toRow(FlatGeom.lineString(hull))
    else GeomSchema.toRow(FlatGeom.polygon(hull))
  }

  def grahamHull(r: InternalRow, includeOnHull: Boolean): InternalRow = {
    val hull = Hull.grahamHull(g(r).coords, includeOnHull)
    if (hull.length < 8) GeomSchema.toRow(FlatGeom.lineString(hull))
    else GeomSchema.toRow(FlatGeom.polygon(hull))
  }

  /** Voronoi cells of the geometry's distinct coordinates, site order,
    * clipped to the JTS default envelope (sites bbox expanded by its
    * larger dimension). Empty-cell sites yield POLYGON EMPTY. */
  def voronoi(r: InternalRow): GenericArrayData = {
    val sites = Voronoi.distinctSites(g(r))
    if (sites.isEmpty) return new GenericArrayData(Array.empty[Any])
    val (minX, minY, maxX, maxY) = Voronoi.defaultClip(sites)
    voronoiRows(sites, minX, minY, maxX, maxY)
  }

  def voronoiClip(r: InternalRow, minX: Double, minY: Double,
      maxX: Double, maxY: Double): GenericArrayData =
    voronoiRows(Voronoi.distinctSites(g(r)), minX, minY, maxX, maxY)

  private def voronoiRows(sites: Array[Double], minX: Double, minY: Double,
      maxX: Double, maxY: Double): GenericArrayData =
    new GenericArrayData(Voronoi.cells(sites, minX, minY, maxX, maxY).map { ring =>
      val p = if (ring.isEmpty) FlatGeom.polygon(Array.emptyDoubleArray)
        else FlatGeom.polygon(ring)
      GeomSchema.toRow(p): Any
    })

  def makeValid(r: InternalRow): InternalRow = GeomSchema.toRow(MakeValid.makeValid(g(r)))

  /** Shortest connecting line between two geometries; zero-length at a
    * shared point when they intersect; null for empty input. */
  def shortestLine(a: InternalRow, b: InternalRow): InternalRow = {
    val ga = g(a); val gb = g(b)
    if (ga.isEmpty || gb.isEmpty) return null
    Topo.closestPair(ga, gb) match {
      case null =>
        // intersecting: witness a shared point through the hetero
        // intersection (first coordinate of any result part)
        val res = Hetero.booleanOp(ga, gb, Overlay.OpIntersection)
        val w = res.toParts.find(p => p != null && !p.isEmpty)
        w match {
          case Some(part) => GeomSchema.toRow(FlatGeom.lineString(
            Array(part.x(0), part.y(0), part.x(0), part.y(0))))
          case None => null
        }
      case p => GeomSchema.toRow(FlatGeom.lineString(p))
    }
  }

  def snapTo(a: InternalRow, b: InternalRow, tol: Double): InternalRow =
    GeomSchema.toRow(Snap.snapTo(g(a), g(b), tol))

  def lineSubstring(r: InternalRow, t0: Double, t1: Double): InternalRow = {
    val out = Lines.lineSubstring(g(r), t0, t1)
    if (out == null) null else GeomSchema.toRow(out)
  }

  def reverseGeom(r: InternalRow): InternalRow = GeomSchema.toRow(Lines.reverse(g(r)))

  def normalizeGeom(r: InternalRow): InternalRow =
    GeomSchema.toRow(Normalize.normalize(g(r)))

  // ----------------------------------------------- accessors (PostGIS family)

  private def ringLine(geom: FlatGeom, ring: Int): InternalRow =
    GeomSchema.toRow(FlatGeom.lineString(java.util.Arrays.copyOfRange(
      geom.coords, geom.ringStart(ring) * 2, geom.ringEnd(ring) * 2)))

  /** ST_ExteriorRing: polygon shell as a closed LineString; null for
    * non-polygons (the PostGIS contract). */
  def exteriorRing(r: InternalRow): InternalRow = {
    val geom = g(r)
    if (geom.kind != GeomKind.Polygon || geom.isEmpty) null
    else ringLine(geom, 0)
  }

  /** ST_NumInteriorRings: hole count of a polygon; null otherwise. */
  def numInteriorRings(r: InternalRow): Any = {
    val geom = g(r)
    if (geom.kind != GeomKind.Polygon || geom.isEmpty) null
    else geom.numRings - 1
  }

  /** ST_InteriorRingN (1-based): nth hole as a closed LineString;
    * null for non-polygons or out-of-range n. */
  def interiorRingN(r: InternalRow, n: Int): InternalRow = {
    val geom = g(r)
    if (geom.kind != GeomKind.Polygon || geom.isEmpty ||
      n < 1 || n > geom.numRings - 1) null
    else ringLine(geom, n)
  }

  /** ST_PointN over a LineString (1-based; negative counts from the
    * end, PostGIS 3.x behavior); null otherwise. */
  def pointN(r: InternalRow, n0: Int): InternalRow = {
    val geom = g(r)
    if (geom.kind != GeomKind.LineString || geom.isEmpty) return null
    val np = geom.numPoints
    val n = if (n0 < 0) np + n0 + 1 else n0
    if (n < 1 || n > np) null
    else GeomSchema.toRow(FlatGeom.point(geom.x(n - 1), geom.y(n - 1)))
  }

  def startPoint(r: InternalRow): InternalRow = pointN(r, 1)
  def endPoint(r: InternalRow): InternalRow = pointN(r, -1)

  /** ST_GeometryN (1-based): nth part of a multi-geometry; the
    * geometry itself at n=1 for single geometries (PostGIS). */
  def geometryN(r: InternalRow, n: Int): InternalRow = {
    val geom = g(r)
    if (geom.isEmpty || n < 1 || n > geom.numParts) null
    else GeomSchema.toRow(FlatGeom.part(geom, n - 1))
  }

  /** ST_DumpRings: every ring of a polygon as a single-ring polygon
    * (shell first, then holes — the PostGIS dump order). */
  def dumpRings(r: InternalRow): GenericArrayData = {
    val geom = g(r)
    if (geom.kind != GeomKind.Polygon || geom.isEmpty)
      return new GenericArrayData(Array.empty[Any])
    new GenericArrayData((0 until geom.numRings).map { ring =>
      GeomSchema.toRow(FlatGeom.polygon(java.util.Arrays.copyOfRange(
        geom.coords, geom.ringStart(ring) * 2, geom.ringEnd(ring) * 2))): Any
    }.toArray)
  }

  /** ST_MaxDistance / ST_LongestLine: the farthest distance between
    * the two geometries' point sets is attained at a vertex pair
    * (distance is convex along each segment), so the O(n·m) vertex
    * scan is exact. Ties keep the first pair in scan order —
    * deterministic, unlike the PostGIS contract. */
  def maxDistanceRaw(a: InternalRow, b: InternalRow): Double = {
    val ga = g(a); val gb = g(b)
    if (ga.isEmpty || gb.isEmpty) return Double.NaN
    var best = -1.0
    var i = 0
    while (i < ga.numPoints) {
      var j = 0
      while (j < gb.numPoints) {
        val dx = ga.x(i) - gb.x(j); val dy = ga.y(i) - gb.y(j)
        val d2 = dx * dx + dy * dy
        if (d2 > best) best = d2
        j += 1
      }
      i += 1
    }
    Math.sqrt(best)
  }

  def maxDistance(a: InternalRow, b: InternalRow): Any = {
    val d = maxDistanceRaw(a, b)
    if (d.isNaN) null else d
  }

  def longestLine(a: InternalRow, b: InternalRow): InternalRow = {
    val ga = g(a); val gb = g(b)
    if (ga.isEmpty || gb.isEmpty) return null
    var best = -1.0
    var bi = 0; var bj = 0
    var i = 0
    while (i < ga.numPoints) {
      var j = 0
      while (j < gb.numPoints) {
        val dx = ga.x(i) - gb.x(j); val dy = ga.y(i) - gb.y(j)
        val d2 = dx * dx + dy * dy
        if (d2 > best) { best = d2; bi = i; bj = j }
        j += 1
      }
      i += 1
    }
    GeomSchema.toRow(FlatGeom.lineString(
      Array(ga.x(bi), ga.y(bi), gb.x(bj), gb.y(bj))))
  }

  def splitBy(a: InternalRow, b: InternalRow): GenericArrayData =
    new GenericArrayData(Split.split(g(a), g(b)).map(GeomSchema.toRow(_): Any))

  def offsetCurve(r: InternalRow, dist: Double): InternalRow =
    GeomSchema.toRow(OffsetCurve.offsetCurve(g(r), dist))

  def lineMerge(r: InternalRow): InternalRow = GeomSchema.toRow(Lines.lineMerge(g(r)))

  def nodeLines(r: InternalRow): InternalRow = GeomSchema.toRow(Lines.node(g(r)))

  def maximumInscribedCircle(r: InternalRow, tol: Double): InternalRow =
    circleRow(InscribedCircle.maximumInscribedCircle(g(r), tol))

  def largestEmptyCircle(r: InternalRow, tol: Double): InternalRow =
    circleRow(InscribedCircle.largestEmptyCircle(g(r), tol))

  private def circleRow(res: Option[(Double, Double, Double, Double, Double)]): InternalRow =
    res match {
      case Some((cx, cy, nx, ny, rad)) =>
        import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
        new GenericInternalRow(Array[Any](
          GeomSchema.toRow(FlatGeom.point(cx, cy)),
          GeomSchema.toRow(FlatGeom.point(nx, ny)), rad))
      case None => null
    }

  /** ST_Subdivide: areal pieces of at most maxVerts ring vertices, the
    * broadcast-side preprocessing for country-sized polygons. */
  def subdivide(r: InternalRow, maxVerts: Int): GenericArrayData =
    new GenericArrayData(
      Subdivide.subdivide(g(r), maxVerts).map(GeomSchema.toRow(_): Any))

  def buffer(r: InternalRow, dist: Double): InternalRow = {
    val out = Buffer.buffer(g(r), dist)
    if (out == null) null else GeomSchema.toRow(out)
  }

  /** PostGIS-style buffer style string: space-separated
    * `quad_segs=8 endcap=round|flat|square join=round|mitre|bevel
    * mitre_limit=5.0`; unknown keys ignored, malformed values -> null
    * (parse-failure contract, like st_geohash_rect). */
  def bufferStyle(r: InternalRow, dist: Double,
      style: org.apache.spark.unsafe.types.UTF8String): InternalRow = {
    var qs = Buffer.DefaultQuadSegs
    var cap = Buffer.CapRound
    var join = Buffer.JoinRound
    var ml = Buffer.DefaultMitreLimit
    val toks = style.toString.trim.split("\\s+").filter(_.nonEmpty)
    var i = 0
    while (i < toks.length) {
      val kv = toks(i).split("=", 2)
      if (kv.length != 2) return null
      kv(0).toLowerCase match {
        case "quad_segs" =>
          val v = kv(1).toIntOption.getOrElse(return null)
          if (v < 1) return null
          qs = v
        case "endcap" => kv(1).toLowerCase match {
          case "round" => cap = Buffer.CapRound
          case "flat" | "butt" => cap = Buffer.CapFlat
          case "square" => cap = Buffer.CapSquare
          case _ => return null
        }
        case "join" => kv(1).toLowerCase match {
          case "round" => join = Buffer.JoinRound
          case "mitre" | "miter" => join = Buffer.JoinMitre
          case "bevel" => join = Buffer.JoinBevel
          case _ => return null
        }
        case "mitre_limit" | "miter_limit" =>
          ml = kv(1).toDoubleOption.getOrElse(return null)
        case _ => // ignore unknown keys, as PostGIS does
      }
      i += 1
    }
    val out = Buffer.buffer(g(r), dist, qs, cap, join, ml)
    if (out == null) null else GeomSchema.toRow(out)
  }

  def simplify(r: InternalRow, eps: Double): InternalRow =
    GeomSchema.toRow(Simplify.rdp(g(r), eps))

  def simplifyVw(r: InternalRow, eps: Double): InternalRow =
    GeomSchema.toRow(Simplify.vw(g(r), eps))

  /** Kept-vertex indices of RDP simplification. LineString only —
    * mirrors the reference's SimplifyIdx trait surface (simplify.rs:254
    * implements it for LineString alone); null for other types. */
  def simplifyIdx(r: InternalRow, eps: Double): GenericArrayData = {
    val geom = g(r)
    if (geom.kind != GeomKind.LineString) return null
    new GenericArrayData(Simplify.rdpIndices(
      geom.coords, 0, geom.numPoints, eps, Simplify.LineStringInitialMin))
  }

  /** Kept-vertex indices of Visvalingam-Whyatt simplification
    * (SimplifyVwIdx, simplify_vw.rs:617 — LineString only). */
  def simplifyVwIdx(r: InternalRow, eps: Double): GenericArrayData = {
    val geom = g(r)
    if (geom.kind != GeomKind.LineString) return null
    new GenericArrayData(Simplify.vwIndices(geom.coords, 0, geom.numPoints, eps))
  }

  def densify(r: InternalRow, maxLen: Double): InternalRow = {
    val d = Transform.densify(g(r), maxLen, 0)
    if (d == null) null else GeomSchema.toRow(d) // null = split-cap overflow
  }

  def densifyHaversine(r: InternalRow, maxLen: Double): InternalRow = {
    val d = Transform.densify(g(r), maxLen, 1)
    if (d == null) null else GeomSchema.toRow(d) // null = split-cap overflow
  }

  def densifyRhumb(r: InternalRow, maxLen: Double): InternalRow = {
    val d = Transform.densify(g(r), maxLen, 2)
    if (d == null) null else GeomSchema.toRow(d) // null = split-cap overflow
  }

  def densifyGeodesic(r: InternalRow, maxLen: Double): InternalRow = {
    val d = Transform.densify(g(r), maxLen, 3)
    if (d == null) null else GeomSchema.toRow(d) // null = split-cap overflow
  }

  def chaikin(r: InternalRow, n: Int): InternalRow =
    GeomSchema.toRow(Transform.chaikin(g(r), n))

  def removeRepeated(r: InternalRow): InternalRow =
    GeomSchema.toRow(Transform.removeRepeatedPoints(g(r)))

  def affine(r: InternalRow, a: Double, b: Double, xoff: Double,
      d: Double, e: Double, yoff: Double): InternalRow =
    GeomSchema.toRow(Transform.affine(g(r), Transform.Affine(a, b, xoff, d, e, yoff)))

  def translate(r: InternalRow, tx: Double, ty: Double): InternalRow =
    GeomSchema.toRow(Transform.affine(g(r), Transform.Affine.translate(tx, ty)))

  def rotate(r: InternalRow, degrees: Double): InternalRow =
    GeomSchema.toRow(Transform.rotateAroundCentroid(g(r), degrees))

  def scale(r: InternalRow, sx: Double, sy: Double): InternalRow = {
    val geom = g(r)
    val bb = Planar.boundingRect(geom)
    GeomSchema.toRow(Transform.affine(geom,
      Transform.Affine.scale(sx, sy, (bb(0) + bb(2)) / 2.0, (bb(1) + bb(3)) / 2.0)))
  }

  def skew(r: InternalRow, degX: Double, degY: Double): InternalRow = {
    val geom = g(r)
    val bb = Planar.boundingRect(geom)
    GeomSchema.toRow(Transform.affine(geom,
      Transform.Affine.skew(degX, degY, (bb(0) + bb(2)) / 2.0, (bb(1) + bb(3)) / 2.0)))
  }

  def toRadians(r: InternalRow): InternalRow = GeomSchema.toRow(Transform.toRadians(g(r)))
  def toDegrees(r: InternalRow): InternalRow = GeomSchema.toRow(Transform.toDegrees(g(r)))

  def forceCw(r: InternalRow): InternalRow = GeomSchema.toRow(forceWinding(g(r), Planar.CW))
  def forceCcw(r: InternalRow): InternalRow = GeomSchema.toRow(forceWinding(g(r), Planar.CCW))

  /** make_cw/ccw_winding (winding_order.rs:62): reverse closed rings
    * that wind the wrong way. Applied to the exterior; holes get the
    * opposite winding (orient.rs Direction::Default convention). */
  private def forceWinding(geom: FlatGeom, extWinding: Int): FlatGeom = geom.kind match {
    case GeomKind.LineString =>
      if (Planar.windingOrder(geom) == -extWinding) reverse(geom) else geom
    case GeomKind.Polygon | GeomKind.MultiPolygon =>
      val coords = geom.coords.clone()
      var r = 0
      val isExt = new Array[Boolean](geom.rings.length)
      geom.kind match {
        case GeomKind.Polygon => if (geom.rings.nonEmpty) isExt(0) = true
        case _ =>
          var p = 0
          while (p < geom.parts.length) { isExt(geom.partStart(p)) = true; p += 1 }
      }
      while (r < geom.rings.length) {
        val want = if (isExt(r)) extWinding else -extWinding
        val s = geom.ringStart(r); val e = geom.ringEnd(r)
        if (Planar.ringWinding(geom.coords, s, e) == -want) {
          var i = 0
          val n = e - s
          while (i < n) {
            coords(2 * (s + i)) = geom.coords(2 * (s + n - 1 - i))
            coords(2 * (s + i) + 1) = geom.coords(2 * (s + n - 1 - i) + 1)
            i += 1
          }
        }
        r += 1
      }
      new FlatGeom(geom.kind, coords, geom.rings, geom.parts)
    case _ => geom
  }

  private def reverse(geom: FlatGeom): FlatGeom = {
    val n = geom.numPoints
    val out = new Array[Double](geom.coords.length)
    var i = 0
    while (i < n) {
      out(2 * i) = geom.x(n - 1 - i)
      out(2 * i + 1) = geom.y(n - 1 - i)
      i += 1
    }
    new FlatGeom(geom.kind, out, geom.rings, geom.parts)
  }

  def lineIntersection(a: InternalRow, b: InternalRow): InternalRow = {
    val ga = g(a); val gb = g(b)
    if (ga.numPoints < 2 || gb.numPoints < 2) return null
    val res = SegIntersect.intersection(
      ga.x(0), ga.y(0), ga.x(1), ga.y(1),
      gb.x(0), gb.y(0), gb.x(1), gb.y(1))
    res.kind match {
      case SegIntersect.None_ => null
      case SegIntersect.CollinearOverlap =>
        GeomSchema.toRow(FlatGeom.lineString(Array(res.x0, res.y0, res.x1, res.y1)))
      case _ => GeomSchema.pointRow(res.x0, res.y0)
    }
  }

  def extremes(r: InternalRow): InternalRow = {
    val e = Transform.extremes(g(r))
    if (e == null) return null
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    new GenericInternalRow(Array[Any](
      e(0).toInt, e(1), e(2).toInt, e(3), e(4).toInt, e(5), e(6).toInt, e(7)))
  }

  // ------------------------------------------------- wkb / validation

  def geomFromWkb(bytes: Array[Byte]): InternalRow =
    graft.core.Wkb.readOpt(bytes) match {
      case Some(geom) => GeomSchema.toRow(geom)
      case None => null
    }

  /** Lossy 2-D projection parse of Z/M-bearing (E)WKB
    * (Wkb.readForce2D); null on malformed input. */
  def geomFromWkbForce2D(bytes: Array[Byte]): InternalRow =
    graft.core.Wkb.readForce2DOpt(bytes) match {
      case Some(geom) => GeomSchema.toRow(geom)
      case None => null
    }

  def asWkb(r: InternalRow): Array[Byte] = graft.core.Wkb.write(g(r))

  def asEwkb(r: InternalRow, srid: Int): Array[Byte] =
    graft.core.Wkb.writeEwkb(g(r), srid)

  def sridOf(bytes: Array[Byte]): Int = graft.core.Wkb.readSrid(bytes)

  def isValid(r: InternalRow): Boolean = Validation.invalidReason(g(r)).isEmpty

  def isValidReason(r: InternalRow): UTF8String =
    Validation.invalidReason(g(r)) match {
      case Some(reason) => UTF8String.fromString(reason)
      case None => UTF8String.fromString("Valid Geometry")
    }

  def simplifyVwPreserve(r: InternalRow, eps: Double): InternalRow =
    GeomSchema.toRow(Simplify.vwPreserve(g(r), eps))

  // ---------------------------------------------------------- overlay

  def intersection(a: InternalRow, b: InternalRow): InternalRow =
    GeomSchema.toRow(Overlay.booleanOp(g(a), g(b), Overlay.OpIntersection))

  def union(a: InternalRow, b: InternalRow): InternalRow =
    GeomSchema.toRow(Overlay.booleanOp(g(a), g(b), Overlay.OpUnion))

  def difference(a: InternalRow, b: InternalRow): InternalRow =
    GeomSchema.toRow(Overlay.booleanOp(g(a), g(b), Overlay.OpDifference))

  def symDifference(a: InternalRow, b: InternalRow): InternalRow =
    GeomSchema.toRow(Overlay.booleanOp(g(a), g(b), Overlay.OpXor))

  def clip(poly: InternalRow, line: InternalRow, invert: Boolean): InternalRow =
    GeomSchema.toRow(Overlay.clip(g(poly), g(line), invert))

  /** JTS PrecisionModel FIXED: every coordinate becomes
    * round(v*scale)/scale. */
  def snapToGrid(r: InternalRow, scale: Double): InternalRow =
    GeomSchema.toRow(SnapRound.snapGeom(g(r), scale))

  /** Fixed-precision (snap-rounded) boolean op. `linework = false`
    * returns the surviving polygonal part; `true` returns the
    * collapsed 1-D support (slivers that snapped flat, collapsed
    * input rings clipped per OverlayNG semantics, edge-touch runs)
    * as a MultiLineString in grid space. Per-row kernel — no shuffle. */
  def booleanSr(a: InternalRow, b: InternalRow, scale: Double,
      op: Int, linework: Boolean): InternalRow = {
    val res = SnapRound.booleanOpFixed(g(a), g(b), op, scale)
    if (linework) GeomSchema.toRow(FlatGeom.multiLineString(res.lines))
    else GeomSchema.toRow(res.polys)
  }

  /** Heterogeneous boolean ops (kernels/Hetero — beyond the reference:
    * geo's BooleanOps is polygon×polygon + 1-D clip only,
    * bool_ops/mod.rs:86-106): any dimension mix in, the JTS OverlayNG
    * mixed-input semantics out, as the array<geom> collection form
    * [polygonal?, linework?, points?] (empty components omitted). */
  def heteroIntersection(a: InternalRow, b: InternalRow): GenericArrayData =
    heteroOp(a, b, Overlay.OpIntersection)
  def heteroUnion(a: InternalRow, b: InternalRow): GenericArrayData =
    heteroOp(a, b, Overlay.OpUnion)
  def heteroDifference(a: InternalRow, b: InternalRow): GenericArrayData =
    heteroOp(a, b, Overlay.OpDifference)
  def heteroSymDifference(a: InternalRow, b: InternalRow): GenericArrayData =
    heteroOp(a, b, Overlay.OpXor)
  private def heteroOp(a: InternalRow, b: InternalRow, op: Int): GenericArrayData = {
    val res = graft.kernels.Hetero.booleanOp(g(a), g(b), op)
    new GenericArrayData(res.toParts.map(GeomSchema.toRow(_): Any).toArray)
  }

  /** CRS reprojection (kernels/Crs — published Snyder/Karney/
    * Schreutelkamp-van-Strien formulas; the reference feature-gates
    * reprojection onto a C library, proj.rs:2). */
  def transformSrid(a: InternalRow, from: Int, to: Int): InternalRow =
    GeomSchema.toRow(graft.kernels.Crs.transform(g(a), from, to))

  /** n-way union of an array of geometries (tree-reduce shape for the
    * distributed dissolve: per-partition collect_list → unary union →
    * final merge). */
  def unionAll(arr: org.apache.spark.sql.catalyst.util.ArrayData): InternalRow = {
    val n = arr.numElements()
    val gs = (0 until n).map(i => GeomSchema.fromRow(arr.getStruct(i, 4)))
    GeomSchema.toRow(Overlay.unaryUnion(gs))
  }

  // ----------------------------------------------------------- relate

  def relate(a: InternalRow, b: InternalRow): UTF8String =
    UTF8String.fromString(Relate.matrixString(Relate.relate(g(a), g(b))))

  def relateMatch(a: InternalRow, b: InternalRow, pattern: UTF8String): Boolean =
    Relate.matches(Relate.relate(g(a), g(b)), pattern.toString)

  def touches(a: InternalRow, b: InternalRow): Boolean =
    Relate.isTouches(Relate.relate(g(a), g(b)))

  def crosses(a: InternalRow, b: InternalRow): Boolean = {
    val ga = g(a); val gb = g(b)
    Relate.isCrosses(Relate.relate(ga, gb), Relate.dimClass(ga), Relate.dimClass(gb))
  }

  def overlaps(a: InternalRow, b: InternalRow): Boolean = {
    val ga = g(a); val gb = g(b)
    Relate.isOverlaps(Relate.relate(ga, gb), Relate.dimClass(ga), Relate.dimClass(gb))
  }

  def covers(a: InternalRow, b: InternalRow): Boolean =
    Relate.isCovers(Relate.relate(g(a), g(b)))

  def coveredBy(a: InternalRow, b: InternalRow): Boolean =
    Relate.isCoveredBy(Relate.relate(g(a), g(b)))

  def equalsTopo(a: InternalRow, b: InternalRow): Boolean =
    Relate.isEqualTopo(Relate.relate(g(a), g(b)))

  // ---------------------------------------------------- shapes (v1.1)

  def concaveHull(r: InternalRow, concavity: Double): InternalRow =
    GeomSchema.toRow(FlatGeom.polygon(Shapes.concaveHull(g(r).coords, concavity)))

  def knnConcaveHull(r: InternalRow, k: Int): InternalRow =
    GeomSchema.toRow(FlatGeom.polygon(Shapes.kNearestConcaveHull(g(r).coords, k)))

  def minRotatedRect(r: InternalRow): InternalRow =
    GeomSchema.toRow(FlatGeom.polygon(Shapes.minimumRotatedRect(g(r).coords)))

  def triangulate(r: InternalRow): GenericArrayData = {
    val tris = Shapes.earcut(g(r))
    new GenericArrayData(tris.map(t => GeomSchema.toRow(FlatGeom.polygon(t))): Array[Any])
  }

  def delaunay(r: InternalRow): GenericArrayData = {
    val geom = g(r)
    val tris = geom.kind match {
      case GeomKind.Polygon | GeomKind.MultiPolygon => Delaunay.constrained(geom)
      case _ => Delaunay.unconstrained(geom)
    }
    new GenericArrayData(tris.map(t => GeomSchema.toRow(FlatGeom.polygon(t))): Array[Any])
  }

  def delaunayUnconstrained(r: InternalRow): GenericArrayData = {
    val tris = Delaunay.unconstrained(g(r))
    new GenericArrayData(tris.map(t => GeomSchema.toRow(FlatGeom.polygon(t))): Array[Any])
  }

  def stitch(arr: org.apache.spark.sql.catalyst.util.ArrayData): InternalRow = {
    val n = arr.numElements()
    val tris = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    var i = 0
    while (i < n) {
      val t = GeomSchema.fromRow(arr.getStruct(i, 4))
      // accept triangle polygons (closed 4-point ring)
      if (t.kind == GeomKind.Polygon && t.numPoints >= 3)
        tris += Array(t.x(0), t.y(0), t.x(1), t.y(1), t.x(2), t.y(2))
      i += 1
    }
    GeomSchema.toRow(Stitch.stitchTriangles(tris.toSeq))
  }

  def segmentize(r: InternalRow, n: Int): InternalRow =
    GeomSchema.toRow(Shapes.segmentize(g(r), n, 0))

  def segmentizeSphere(r: InternalRow, n: Int): InternalRow =
    GeomSchema.toRow(Shapes.segmentize(g(r), n, 1))

  def dimension(r: InternalRow): Int = Shapes.dimension(g(r))

  def closestPointSphere(a: InternalRow, b: InternalRow): InternalRow = {
    val gb = g(b)
    if (gb.isEmpty) return null
    val p = Shapes.haversineClosestPoint(g(a), gb.x(0), gb.y(0))
    if (p == null) null else GeomSchema.pointRow(p(0), p(1))
  }

  def distanceVincenty(a: InternalRow, b: InternalRow): Any = {
    val d = distanceVincentyRaw(a, b)
    if (d.isNaN) null else d // non-convergence → NULL (vincenty_distance.rs:14)
  }

  /** Primitive-returning variant for codegen (NaN = non-convergence;
    * the expression's doGenCode maps NaN → SQL NULL). A boxed `Any`
    * return here would break whole-stage codegen: the generated
    * assignment target is a primitive double. */
  def distanceVincentyRaw(a: InternalRow, b: InternalRow): Double = {
    val ga = g(a); val gb = g(b)
    if (ga.isEmpty || gb.isEmpty) return Double.NaN
    Vincenty.distance(ga.x(0), ga.y(0), gb.x(0), gb.y(0))
  }

  /** PostGIS ST_Azimuth: planar radians clockwise from north of a→b
    * in [0, 2π); NULL for non-point/empty/coincident inputs. */
  def azimuth(a: InternalRow, b: InternalRow): Any = {
    val d = azimuthRaw(a, b)
    if (d.isNaN) null else d
  }

  /** Primitive-returning variant for codegen (NaN → SQL NULL). */
  def azimuthRaw(a: InternalRow, b: InternalRow): Double = {
    val ga = g(a); val gb = g(b)
    if (ga.kind != GeomKind.Point || gb.kind != GeomKind.Point ||
      ga.isEmpty || gb.isEmpty) return Double.NaN
    val dx = gb.x(0) - ga.x(0)
    val dy = gb.y(0) - ga.y(0)
    if (dx == 0.0 && dy == 0.0) return Double.NaN
    val az = Math.atan2(dx, dy)
    if (az < 0.0) az + 2.0 * Math.PI else az
  }

  // -------------------------------------------- line editing (PostGIS family)
  // NOTE: these three are 0-BASED like their PostGIS namesakes —
  // st_pointn/st_interiorringn/st_geometryn stay 1-based, also like
  // PostGIS. The inconsistency is the compatibility contract.

  /** ST_AddPoint: insert a point into a LineString at 0-based
    * `pos` (-1 = append); null for non-lines or out-of-range pos. */
  def addPoint(line: InternalRow, p: InternalRow, pos: Int): InternalRow = {
    val l = g(line); val pt = g(p)
    if (l.kind != GeomKind.LineString || pt.kind != GeomKind.Point ||
      pt.isEmpty) return null
    val n = l.numPoints
    val at = if (pos == -1) n else pos
    if (at < 0 || at > n) return null
    val out = new Array[Double](l.coords.length + 2)
    System.arraycopy(l.coords, 0, out, 0, at * 2)
    out(at * 2) = pt.x(0); out(at * 2 + 1) = pt.y(0)
    System.arraycopy(l.coords, at * 2, out, at * 2 + 2, (n - at) * 2)
    GeomSchema.toRow(FlatGeom.lineString(out))
  }

  /** ST_SetPoint: replace the 0-based `pos`th point (negative counts
    * from the end); null for non-lines or out-of-range pos. */
  def setPoint(line: InternalRow, pos0: Int, p: InternalRow): InternalRow = {
    val l = g(line); val pt = g(p)
    if (l.kind != GeomKind.LineString || pt.kind != GeomKind.Point ||
      pt.isEmpty) return null
    val n = l.numPoints
    val pos = if (pos0 < 0) n + pos0 else pos0
    if (pos < 0 || pos >= n) return null
    val out = l.coords.clone()
    out(pos * 2) = pt.x(0); out(pos * 2 + 1) = pt.y(0)
    GeomSchema.toRow(FlatGeom.lineString(out))
  }

  /** ST_RemovePoint: drop the 0-based `pos`th point; null for
    * non-lines, out-of-range pos, or a result under 2 points. */
  def removePoint(line: InternalRow, pos: Int): InternalRow = {
    val l = g(line)
    if (l.kind != GeomKind.LineString) return null
    val n = l.numPoints
    if (pos < 0 || pos >= n || n <= 2) return null
    val out = new Array[Double](l.coords.length - 2)
    System.arraycopy(l.coords, 0, out, 0, pos * 2)
    System.arraycopy(l.coords, pos * 2 + 2, out, pos * 2, (n - pos - 1) * 2)
    GeomSchema.toRow(FlatGeom.lineString(out))
  }

  // --------------------------------- editor / accessor wave (PostGIS)

  /** ST_FlipCoordinates: swap x and y of every vertex (the axis-order
    * repair for lat/lon-swapped data); kind/ring structure preserved. */
  def flipCoordinates(r: InternalRow): InternalRow = {
    val geom = g(r)
    val out = new Array[Double](geom.coords.length)
    var i = 0
    while (i < out.length) {
      out(i) = geom.coords(i + 1); out(i + 1) = geom.coords(i); i += 2
    }
    GeomSchema.toRow(new FlatGeom(geom.kind, out, geom.rings, geom.parts))
  }

  /** ST_IsClosed: every component line's first point equals its last.
    * Points and polygons are closed by definition (the PostGIS
    * contract); an empty geometry is closed. */
  def isClosed(r: InternalRow): Boolean = {
    val geom = g(r)
    geom.kind match {
      case GeomKind.LineString | GeomKind.MultiLineString =>
        var closed = true
        FlatGeom.foreachRing(geom) { (s, e) =>
          if (e - s > 0 &&
            (geom.x(s) != geom.x(e - 1) || geom.y(s) != geom.y(e - 1)))
            closed = false
        }
        closed
      case _ => true
    }
  }

  /** ST_IsSimple: OGC simplicity (no self-intersection except
    * boundary), routed through the corpus-gated validation kernel. */
  def isSimple(r: InternalRow): Boolean = Validation.isSimple(g(r))

  /** ST_IsRing: LineString only — closed AND simple; null otherwise.
    * Raw form for codegen: -1 = null, 0 = false, 1 = true. */
  def isRingRaw(r: InternalRow): Byte = {
    val geom = g(r)
    if (geom.kind != GeomKind.LineString || geom.isEmpty) return -1
    if (isClosed(r) && Validation.isSimple(geom)) 1 else 0
  }

  def isRing(r: InternalRow): Any = isRingRaw(r) match {
    case -1 => null
    case b => b == 1
  }

  /** ST_Multi: promote a singleton to its multi-variant (no-op on
    * multis, the PostGIS contract). */
  def toMulti(r: InternalRow): InternalRow = {
    val geom = g(r)
    val out = geom.kind match {
      case GeomKind.Point =>
        new FlatGeom(GeomKind.MultiPoint, geom.coords,
          Array.emptyIntArray, Array.emptyIntArray)
      case GeomKind.LineString =>
        new FlatGeom(GeomKind.MultiLineString, geom.coords,
          if (geom.coords.isEmpty) Array.emptyIntArray else Array(geom.numPoints),
          Array.emptyIntArray)
      case GeomKind.Polygon =>
        new FlatGeom(GeomKind.MultiPolygon, geom.coords, geom.rings,
          if (geom.rings.isEmpty) Array.emptyIntArray else Array(geom.rings.length))
      case _ => geom
    }
    GeomSchema.toRow(out)
  }

  /** ST_Points: every vertex (duplicates kept, the PostGIS contract)
    * as a MultiPoint. */
  def pointsOf(r: InternalRow): InternalRow = {
    val geom = g(r)
    GeomSchema.toRow(FlatGeom.multiPoint(geom.coords.clone()))
  }

  /** ST_BoundingDiagonal: the (minx miny)→(maxx maxy) segment of the
    * envelope; null on empty. */
  def boundingDiagonal(r: InternalRow): InternalRow = {
    val geom = g(r)
    if (geom.isEmpty) return null
    var xmin = Double.PositiveInfinity; var ymin = Double.PositiveInfinity
    var xmax = Double.NegativeInfinity; var ymax = Double.NegativeInfinity
    var i = 0
    while (i < geom.numPoints) {
      val x = geom.x(i); val y = geom.y(i)
      if (x < xmin) xmin = x; if (x > xmax) xmax = x
      if (y < ymin) ymin = y; if (y > ymax) ymax = y
      i += 1
    }
    GeomSchema.toRow(FlatGeom.lineString(Array(xmin, ymin, xmax, ymax)))
  }

  /** ST_Scroll: start a CLOSED LineString at the given point, which
    * must be one of its vertices; null otherwise (PostGIS errors). */
  def scroll(r: InternalRow, p: InternalRow): InternalRow = {
    val geom = g(r); val pt = g(p)
    if (geom.kind != GeomKind.LineString || pt.kind != GeomKind.Point ||
      pt.isEmpty || geom.numPoints < 3) return null
    val n = geom.numPoints
    if (geom.x(0) != geom.x(n - 1) || geom.y(0) != geom.y(n - 1)) return null
    val px = pt.x(0); val py = pt.y(0)
    var at = -1
    var i = 0
    while (i < n - 1 && at < 0) {
      if (geom.x(i) == px && geom.y(i) == py) at = i
      i += 1
    }
    if (at < 0) return null
    val out = new Array[Double]((n) * 2)
    // distinct vertices are 0..n-2; rotate them by `at`, then close.
    var j = 0
    while (j < n - 1) {
      val src = (at + j) % (n - 1)
      out(j * 2) = geom.x(src); out(j * 2 + 1) = geom.y(src)
      j += 1
    }
    out((n - 1) * 2) = out(0); out((n - 1) * 2 + 1) = out(1)
    GeomSchema.toRow(FlatGeom.lineString(out))
  }

  /** ST_ShiftLongitude: x in [-180,0) maps to x+360 (the PostGIS
    * antimeridian-unwrap for 0–360 rendering); involutive on the
    * 180–360 range back to negative is NOT applied (PostGIS shifts
    * x > 180 back by -360 too — we mirror that exactly). */
  def shiftLongitude(r: InternalRow): InternalRow = {
    val geom = g(r)
    val out = new Array[Double](geom.coords.length)
    var i = 0
    while (i < out.length) {
      val x = geom.coords(i)
      out(i) = if (x < 0.0) x + 360.0 else if (x > 180.0) x - 360.0 else x
      out(i + 1) = geom.coords(i + 1)
      i += 2
    }
    GeomSchema.toRow(new FlatGeom(geom.kind, out, geom.rings, geom.parts))
  }

  /** ST_MinimumBoundingCircle(geom, segsPerQuadrant): the smallest
    * enclosing circle (Welzl over hull vertices, kernels/Mec) as a
    * 4·segs-vertex polygon; POINT for r=0; null on empty. */
  def minimumBoundingCircle(r: InternalRow, segs: Int): InternalRow = {
    val geom = g(r)
    if (geom.isEmpty) return null
    val c = Mec.circle(geom.coords)
    GeomSchema.toRow(Mec.circlePolygon(c, segs))
  }

  /** ST_MinimumBoundingRadius: (center POINT, radius) of the minimum
    * enclosing circle; null on empty. */
  def minimumBoundingRadius(r: InternalRow): InternalRow = {
    val geom = g(r)
    if (geom.isEmpty) return null
    val c = Mec.circle(geom.coords)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](GeomSchema.pointRow(c(0), c(1)), c(2)))
  }

  // ----------------------------------------------- hexagonal binning

  /** st_hexbin(x, y, size): axial (q, r) of the pointy-top hex
    * containing the point (kernels-free fixed-op-order math —
    * index/HexGrid — so the oracle mirrors it bit-for-bit). */
  def hexBin(x: Double, y: Double, size: Double): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](HexGrid.hexQ(x, y, size), HexGrid.hexR(x, y, size)))

  /** st_hexbin_center(q, r, size): the hex center as a POINT. */
  def hexBinCenter(q: Long, r: Long, size: Double): InternalRow =
    GeomSchema.pointRow(HexGrid.centerX(q, r, size), HexGrid.centerY(q, r, size))

  /** st_hexagon(q, r, size): the hex cell polygon (6 vertices). */
  def hexagonCell(q: Long, r: Long, size: Double): InternalRow =
    GeomSchema.toRow(HexGrid.hexagon(q, r, size))

  // ------------------------------------------------- vector-tile surface

  /** ST_TileEnvelope(z, x, y, margin): XYZ tile rect in EPSG:3857. */
  def tileEnvelope(z: Int, x: Long, y: Long, margin: Double): InternalRow = {
    val g = Mvt.tileEnvelope(z, x, y, margin)
    if (g == null) null else GeomSchema.toRow(g)
  }

  /** ST_AsMVTGeom: integer tile-local geometry (see kernels/Mvt). */
  def asMvtGeom(r: InternalRow, z: Int, x: Long, y: Long,
      extent: Int, buffer: Int, clipGeom: Boolean): InternalRow = {
    val out = Mvt.asMvtGeom(g(r), z, x, y, extent, buffer, clipGeom)
    if (out == null) null else GeomSchema.toRow(out)
  }

  /** ST_SquareGrid(size, g): array of (i, j) cell indices covering the
    * envelope (null = empty input or over the cell cap). */
  def squareGrid(r: InternalRow, size: Double): GenericArrayData = {
    val cells = Mvt.squareGrid(g(r), size)
    if (cells == null) return null
    new GenericArrayData(cells.map(c =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](c(0), c(1))): Any))
  }

  /** ST_SquareGridCell(i, j, size): the cell polygon. */
  def squareGridCell(i: Long, j: Long, size: Double): InternalRow =
    GeomSchema.toRow(Mvt.gridCell(i, j, size))

  /** ST_GeometricMedian (Weiszfeld/Vardi-Zhang; kernels/Median):
    * points-only contract, null otherwise. tol <= 0 = extent-derived
    * default. */
  def geometricMedian(r: InternalRow, tol: Double, maxIter: Int): InternalRow = {
    val geom = g(r)
    if (geom.isEmpty) return null
    val t = if (tol > 0) tol else Median.defaultTol(geom)
    val out = Median.geometricMedian(geom, t, maxIter)
    if (out == null) null else GeomSchema.toRow(out)
  }

  /** Bing quadkey of tile (z, x, y); null out-of-range. */
  def quadkey(z: Int, x: Long, y: Long): UTF8String = {
    val s = Mvt.quadkey(z, x, y)
    if (s == null) null else UTF8String.fromString(s)
  }

  /** quadkey → struct(z, x, y); null on malformed keys. */
  def quadkeyDecode(qk: UTF8String): InternalRow = {
    if (qk == null) return null
    val a = Mvt.quadkeyDecode(qk.toString)
    if (a == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](a(0).toInt, a(1), a(2)))
  }

  /** Hex axial-grid distance (pure integer; HexGrid.hexDistance). */
  def hexDistance(q1: Long, r1: Long, q2: Long, r2: Long): Long =
    HexGrid.hexDistance(q1, r1, q2, r2)

  /** Ring of (q, r) cells at hex distance exactly k. */
  def hexRing(q: Long, r: Long, k: Int): GenericArrayData = {
    val cells = HexGrid.hexRing(q, r, k)
    if (cells == null) return null
    new GenericArrayData(cells.map(c =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](c(0), c(1))): Any))
  }

  /** ST_GeneratePoints (kernels/RandomPoints): deterministic seeded
    * uniform sampling inside a polygon; null for non-areal operands. */
  def generatePoints(r: InternalRow, n: Int, seed: Long): InternalRow = {
    val out = RandomPoints.generatePoints(g(r), n, seed)
    if (out == null) null else GeomSchema.toRow(out)
  }

  /** st_mvt_decode: (id, geom) features of the tile's first layer;
    * null on malformed bytes (typed error contract). */
  def mvtDecode(bytes: Array[Byte]): GenericArrayData =
    try {
      val t = MvtCodec.decodeTile(bytes)
      new GenericArrayData(t.tagged.map { case (id, g, tags) =>
        val ks = new GenericArrayData(
          tags.map(kv => UTF8String.fromString(kv._1): Any).toArray)
        val vs = new GenericArrayData(tags.map { kv =>
          val s = kv._2 match {
            case b: java.lang.Boolean => if (b) "true" else "false"
            case other => String.valueOf(other)
          }
          UTF8String.fromString(s): Any
        }.toArray)
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](id, GeomSchema.toRow(g),
            new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(ks, vs))): Any
      }.toArray)
    } catch { case _: Exception => null }

  def mvtLayerName(bytes: Array[Byte]): org.apache.spark.unsafe.types.UTF8String =
    try org.apache.spark.unsafe.types.UTF8String.fromString(
      MvtCodec.decodeTile(bytes).layer)
    catch { case _: Exception => null }

  def mvtExtent(bytes: Array[Byte]): Any = {
    val v = mvtExtentOrNeg(bytes)
    if (v < 0) null else v
  }

  /** Codegen form: -1 = malformed (maps to null). */
  def mvtExtentOrNeg(bytes: Array[Byte]): Int =
    try MvtCodec.decodeTile(bytes).extent
    catch { case _: Exception => -1 }

  /** ST_SharedPaths: [same-direction, opposite-direction] shared
    * linework as a 2-element collection (array<geom>); null for
    * non-line operands. */
  def sharedPaths(a: InternalRow, b: InternalRow): GenericArrayData =
    SharedPaths.sharedPaths(g(a), g(b)) match {
      case Some((same, opp)) =>
        new GenericArrayData(Array[Any](GeomSchema.toRow(same), GeomSchema.toRow(opp)))
      case None => null
    }

  /** ST_LineCrossingDirection: PostGIS code set over proper
    * crossings (see kernels/SharedPaths); null for non-lines. */
  def lineCrossingDirection(a: InternalRow, b: InternalRow): Any = {
    val c = SharedPaths.crossingDirection(g(a), g(b))
    if (c == Int.MinValue) null else c
  }

  /** ST_MakeLine over an array of geometries: every element's
    * coordinates append in array order (points and lines compose, the
    * PostGIS contract). Pair with array_sort(collect_list(struct(ord,
    * geom))) for the ordered aggregate form. */
  def makeLine(arr: org.apache.spark.sql.catalyst.util.ArrayData): InternalRow = {
    val n = arr.numElements()
    val buf = new scala.collection.mutable.ArrayBuffer[Double]()
    var i = 0
    while (i < n) {
      val part = GeomSchema.fromRow(arr.getStruct(i, 4))
      buf ++= part.coords
      i += 1
    }
    GeomSchema.toRow(FlatGeom.lineString(buf.toArray))
  }

  /** ST_Angle(P1, P2, P3): angle at P2 from ray P2→P1 to ray P2→P3,
    * clockwise positive, in [0, 2π); NULL when either ray is
    * degenerate or an input is not a point. */
  def angle3Raw(a: InternalRow, b: InternalRow, c: InternalRow): Double = {
    val a1 = azimuthRaw(b, a)
    val a3 = azimuthRaw(b, c)
    if (a1.isNaN || a3.isNaN) return Double.NaN
    val diff = a3 - a1
    if (diff < 0.0) diff + 2.0 * Math.PI else diff
  }

  def angle3(a: InternalRow, b: InternalRow, c: InternalRow): Any = {
    val d = angle3Raw(a, b, c)
    if (d.isNaN) null else d
  }

  /** ST_Expand: the envelope grown by `d` on every side, as a rect
    * polygon (negative d shrinks; a collapsed box returns null). */
  def expandEnvelope(r: InternalRow, d: Double): InternalRow = {
    val geom = g(r)
    if (geom.isEmpty) return null
    var xmin = Double.PositiveInfinity; var ymin = Double.PositiveInfinity
    var xmax = Double.NegativeInfinity; var ymax = Double.NegativeInfinity
    var i = 0
    while (i < geom.numPoints) {
      val x = geom.x(i); val y = geom.y(i)
      if (x < xmin) xmin = x
      if (x > xmax) xmax = x
      if (y < ymin) ymin = y
      if (y > ymax) ymax = y
      i += 1
    }
    val x0 = xmin - d; val x1 = xmax + d
    val y0 = ymin - d; val y1 = ymax + d
    if (x0 > x1 || y0 > y1) return null
    GeomSchema.toRow(FlatGeom.polygon(Array(x0, y0, x1, y0, x1, y1, x0, y1, x0, y0)))
  }

  /** Merge array-of-geoms into a single MultiPoint of every coordinate. */
  def collectPoints(arr: org.apache.spark.sql.catalyst.util.ArrayData): InternalRow = {
    val n = arr.numElements()
    val parts = new Array[FlatGeom](n)
    var total = 0
    var i = 0
    while (i < n) {
      parts(i) = GeomSchema.fromRow(arr.getStruct(i, 4))
      total += parts(i).coords.length
      i += 1
    }
    val coords = new Array[Double](total)
    var off = 0
    i = 0
    while (i < n) {
      System.arraycopy(parts(i).coords, 0, coords, off, parts(i).coords.length)
      off += parts(i).coords.length
      i += 1
    }
    GeomSchema.toRow(FlatGeom.multiPoint(coords))
  }

  // ------------------------------------------------------------- cells

  def cellId(level: Int, lon: Double, lat: Double): Long = CellId.cellId(level, lon, lat)

  def cellOfGeomCentroid(level: Int, r: InternalRow): Long = {
    val geom = g(r)
    if (geom.kind == GeomKind.Point) CellId.cellId(level, geom.x(0), geom.y(0))
    else {
      val c = Planar.centroid(geom)
      if (c == null) -1L else CellId.cellId(level, c(0), c(1))
    }
  }

  def covering(level: Int, r: InternalRow): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(CellId.coveringForGeom(level, g(r)))

  def cellBounds(id: Long): InternalRow = {
    val b = CellId.bounds(id)
    GeomSchema.toRow(FlatGeom.rect(b(0), b(1), b(2), b(3)))
  }

  def cellParent(id: Long, level: Int): Long = CellId.parent(id, level)
  def cellLevel(id: Long): Int = CellId.level(id)
  def cellChildren(id: Long): GenericArrayData =
    new GenericArrayData(CellId.children(id))
  def geohashEncode(lon: Double, lat: Double, precision: Int): UTF8String =
    UTF8String.fromString(Geohash.encode(lon, lat, precision))
  def geohashNeighbors(h: UTF8String): GenericArrayData =
    try new GenericArrayData(
      Geohash.neighbors(h.toString).map(UTF8String.fromString(_): Any))
    catch { case _: IllegalArgumentException => null }

  /** Null (not an exception) on malformed geohash strings — the same
    * parse-failure contract as geomFromTextOrNull. */
  def geohashRect(h: UTF8String): InternalRow =
    try {
      val b = Geohash.decodeBounds(h.toString)
      GeomSchema.toRow(FlatGeom.rect(b(0), b(1), b(2), b(3)))
    } catch { case _: IllegalArgumentException => null }
  def cellCompact(arr: org.apache.spark.sql.catalyst.util.ArrayData): GenericArrayData =
    new GenericArrayData(CellId.compact(arr.toLongArray()))
  def cellUncompact(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      level: Int): GenericArrayData =
    new GenericArrayData(CellId.uncompact(arr.toLongArray(), level))
  def cellX(id: Long): Long = CellId.xOf(id)
  def cellY(id: Long): Long = CellId.yOf(id)
  def cellNeighborhood(level: Int, lon: Double, lat: Double, ring: Int): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(CellId.neighborhood(level, lon, lat, ring))
  def cellHaloTiles(level: Int, lon: Double, lat: Double, ring: Int): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(CellId.haloTiles(level, lon, lat, ring))

  // --------------------------------------------------------- accessors

  def dumpPoints(r: InternalRow): GenericArrayData = {
    val geom = g(r)
    val out = new Array[Any](geom.numPoints)
    var i = 0
    while (i < geom.numPoints) { out(i) = GeomSchema.pointRow(geom.x(i), geom.y(i)); i += 1 }
    new GenericArrayData(out)
  }

  def dumpSegments(r: InternalRow): GenericArrayData = {
    val geom = g(r)
    val segs = scala.collection.mutable.ArrayBuffer[Any]()
    FlatGeom.foreachRing(geom) { (s, e) =>
      var i = s
      while (i < e - 1) {
        segs += GeomSchema.toRow(FlatGeom.lineString(
          Array(geom.x(i), geom.y(i), geom.x(i + 1), geom.y(i + 1))))
        i += 1
      }
    }
    new GenericArrayData(segs.toArray)
  }
}
