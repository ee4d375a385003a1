package graft.kernels

import graft.core.{FlatGeom, GeomKind}
import scala.collection.mutable.ArrayBuffer

/**
 * Line simplification: Ramer-Douglas-Peucker (geo/src/algorithm/
 * simplify.rs:21-130 — including the `>=` farthest-point tie-break at
 * simplify.rs:109 and the INITIAL_MIN floor) and Visvalingam-Whyatt
 * (simplify_vw.rs:73-200, min-heap of triangle areas).
 */
object Simplify {

  final val LineStringInitialMin = 2
  final val PolygonInitialMin = 4

  /** RDP over a point range. Returns kept point indices (relative to
    * range). Epsilon <= 0 → identity. */
  def rdpIndices(cs: Array[Double], start: Int, end: Int, epsilon: Double, initialMin: Int): Array[Int] = {
    val n = end - start
    if (epsilon <= 0.0 || n <= 2) return Array.range(0, n)
    val out = new Rdp(cs, start, n, epsilon, initialMin)
    out.run(0, n - 1)
    out.add(n - 1)
    java.util.Arrays.copyOf(out.kept, out.size)
  }

  /** One RDP pass: `run(lo, hi)` appends the kept indices of the range
    * [lo, hi], all but `hi` itself (each range's last point is the next
    * range's first), splitting left before right, so `simplifiedLen`
    * counts down in left-to-right order (the `initialMin` cap depends on
    * that order). */
  private final class Rdp(cs: Array[Double], base: Int, n: Int, epsilon: Double, initialMin: Int) {
    var kept = new Array[Int](16)
    var size = 0
    private var simplifiedLen = n
    private val d2 = new Array[Double](n)

    def add(i: Int): Unit = {
      if (size == kept.length) kept = java.util.Arrays.copyOf(kept, 2 * size)
      kept(size) = i
      size += 1
    }

    private def addRange(lo: Int, hi: Int): Unit = { var i = lo; while (i < hi) { add(i); i += 1 } }

    @inline private def x(i: Int): Double = cs(2 * (base + i))
    @inline private def y(i: Int): Double = cs(2 * (base + i) + 1)

    def run(lo: Int, hi: Int): Unit = {
      if (hi - lo < 2) { addRange(lo, hi); return }
      val f = farthest(lo, hi)
      if (f >= 0) {
        run(lo, f)
        run(f, hi)
        return
      }
      // cull everything between first and last, unless that would drop
      // the total below initialMin (simplify.rs:135-150)
      val newLength = simplifiedLen - (hi - lo - 1)
      if (newLength < initialMin) addRange(lo, hi)
      else { simplifiedLen = newLength; add(lo) }
    }

    /** The point of (lo, hi) farthest from the lo–hi chord if its
      * distance exceeds epsilon, else -1. `>=` keeps the LAST
      * equally-far point (simplify.rs:109). The scan ranks squared
      * distances; only points within a relative 1e-12 of the largest
      * can hold the largest distance or tie it, so only those are
      * measured. A NaN, infinite or tiny squared distance measures
      * every point. */
    private def farthest(lo: Int, hi: Int): Int = {
      val fx = x(lo); val fy = y(lo); val lx = x(hi); val ly = y(hi)
      var max2 = 0.0
      var plain = true
      var i = lo + 1
      while (i < hi) {
        val v = Planar.pointSegDist2(x(i), y(i), fx, fy, lx, ly)
        d2(i) = v
        if (v > max2) max2 = v
        else if (!(v <= max2)) plain = false // NaN
        i += 1
      }
      plain &&= max2 < Double.PositiveInfinity && max2 >= RankSafe
      val floor = if (plain) max2 * (1 - 1e-12) else Double.NegativeInfinity
      var farthestIndex = -1
      var farthestDistance = 0.0
      i = lo + 1
      while (i < hi) {
        if (!plain || d2(i) >= floor) {
          val d = Planar.pointSegDistance(x(i), y(i), fx, fy, lx, ly)
          if (d >= farthestDistance) { farthestIndex = i; farthestDistance = d }
        }
        i += 1
      }
      if (farthestDistance > epsilon) farthestIndex else -1
    }
  }

  private val RankSafe = Math.scalb(1.0, -1000)

  private def extractIndices(cs: Array[Double], start: Int, kept: Array[Int]): Array[Double] = {
    val out = new Array[Double](kept.length * 2)
    var i = 0
    while (i < kept.length) {
      out(2 * i) = cs(2 * (start + kept(i)))
      out(2 * i + 1) = cs(2 * (start + kept(i)) + 1)
      i += 1
    }
    out
  }

  /** Simplify a geometry with RDP (simplify.rs Simplify trait impls:
    * LineString min 2, polygon rings min 4; Multi* element-wise;
    * points unchanged). */
  def rdp(g: FlatGeom, epsilon: Double): FlatGeom = g.kind match {
    case GeomKind.LineString =>
      val kept = rdpIndices(g.coords, 0, g.numPoints, epsilon, LineStringInitialMin)
      FlatGeom.lineString(extractIndices(g.coords, 0, kept))
    case GeomKind.MultiLineString =>
      val lines = ArrayBuffer[Array[Double]]()
      FlatGeom.foreachRing(g) { (s, e) =>
        lines += extractIndices(g.coords, s, rdpIndices(g.coords, s, e, epsilon, LineStringInitialMin))
      }
      FlatGeom.multiLineString(lines.toSeq)
    case GeomKind.Polygon => rdpPolygon(g, 0, g.rings.length, epsilon)
    case GeomKind.MultiPolygon =>
      val polys = ArrayBuffer[FlatGeom]()
      FlatGeom.foreachPart(g)((p, r0, r1) => polys += rdpPolygon(g, r0, r1, epsilon))
      FlatGeom.multiPolygon(polys.toSeq)
    case _ => g
  }

  private def rdpPolygon(g: FlatGeom, r0: Int, r1: Int, epsilon: Double): FlatGeom = {
    if (r1 == r0) return FlatGeom.polygon(Array.emptyDoubleArray)
    val ext = extractIndices(g.coords, g.ringStart(r0),
      rdpIndices(g.coords, g.ringStart(r0), g.ringEnd(r0), epsilon, PolygonInitialMin))
    val holes = (r0 + 1 until r1).map { r =>
      extractIndices(g.coords, g.ringStart(r),
        rdpIndices(g.coords, g.ringStart(r), g.ringEnd(r), epsilon, PolygonInitialMin))
    }
    FlatGeom.polygon(ext, holes)
  }

  // ------------------------------------------------ Visvalingam-Whyatt

  private final case class VScore(area: Double, current: Int, left: Int, right: Int)

  /** VW kept-indices for a point range (simplify_vw.rs:73-141).
    * `epsilon` is the triangle-area threshold. */
  def vwIndices(cs: Array[Double], start: Int, end: Int, epsilon: Double): Array[Int] = {
    val n = end - start
    if (n < 3) return Array.range(0, n)
    val max = n
    // adjacent "linked list": (-1,1) head; (0,0) = removed
    val adjL = new Array[Int](n)
    val adjR = new Array[Int](n)
    var i = 0
    while (i < n) { adjL(i) = i - 1; adjR(i) = i + 1; i += 1 }

    @inline def triArea(a: Int, b: Int, c: Int): Double = {
      val ax = cs(2 * (start + a)); val ay = cs(2 * (start + a) + 1)
      val bx = cs(2 * (start + b)); val by = cs(2 * (start + b) + 1)
      val cx = cs(2 * (start + c)); val cy = cs(2 * (start + c) + 1)
      Math.abs(((bx - ax) * (cy - ay) - (cx - ax) * (by - ay)) / 2.0)
    }

    implicit val ord: Ordering[VScore] = Ordering.by[VScore, Double](_.area).reverse
    val pq = scala.collection.mutable.PriorityQueue.empty[VScore]
    i = 1
    while (i < n - 1) { pq.enqueue(VScore(triArea(i - 1, i, i + 1), i, i - 1, i + 1)); i += 1 }

    var done = false
    while (!done && pq.nonEmpty) {
      val smallest = pq.dequeue()
      if (smallest.area > epsilon) done = true
      else if (adjL(smallest.current) != smallest.left || adjR(smallest.current) != smallest.right) {
        // stale entry, skip
      } else {
        val left = smallest.left
        val right = smallest.right
        val ll = adjL(left)
        val rr = adjR(right)
        adjR(left) = right
        adjL(right) = left
        adjL(smallest.current) = 0
        adjR(smallest.current) = 0
        // recompute adjacent triangles (simplify_vw.rs:146-190)
        val choices = Array((ll, left, right), (left, right, rr))
        choices.foreach { case (ai, cur, bi) =>
          if (ai >= 0 && bi >= 0 && ai < max && bi < max) {
            pq.enqueue(VScore(triArea(ai, cur, bi), cur, ai, bi))
          }
        }
      }
    }
    val out = new ArrayBuffer[Int](n)
    i = 0
    while (i < n) {
      if (!(adjL(i) == 0 && adjR(i) == 0)) out += i
      i += 1
    }
    out.toArray
  }

  // ------------------------------------- topology-preserving VW (vwp)

  /** Shared live-segment store standing in for the reference's R*-tree
    * of CachedEnvelope<Line> (simplify_vw.rs:228-245). */
  private final class SegStore {
    val segs = scala.collection.mutable.LinkedHashSet[(Double, Double, Double, Double)]()
    def add(x1: Double, y1: Double, x2: Double, y2: Double): Unit =
      segs += ((x1, y1, x2, y2))
    def remove(x1: Double, y1: Double, x2: Double, y2: Double): Unit =
      segs -= ((x1, y1, x2, y2))
    /** tree_intersect (simplify_vw.rs:370-404): does the candidate
      * replacement segment intersect any live segment not sharing its
      * endpoints, within the removal triangle's bbox? */
    def intersectsNew(lx: Double, ly: Double, cx: Double, cy: Double,
        rx: Double, ry: Double): Boolean = {
      val minX = Math.min(lx, Math.min(cx, rx)); val maxX = Math.max(lx, Math.max(cx, rx))
      val minY = Math.min(ly, Math.min(cy, ry)); val maxY = Math.max(ly, Math.max(cy, ry))
      segs.exists { case (x1, y1, x2, y2) =>
        Math.max(x1, x2) >= minX && Math.min(x1, x2) <= maxX &&
          Math.max(y1, y2) >= minY && Math.min(y1, y2) <= maxY &&
          !(x1 == lx && y1 == ly) && !(x1 == rx && y1 == ry) &&
          !(x2 == lx && y2 == ly) && !(x2 == rx && y2 == ry) &&
          SegIntersect.intersects(lx, ly, rx, ry, x1, y1, x2, y2)
      }
    }
  }

  private final case class VpScore(area: Double, current: Int, left: Int, right: Int,
      intersector: Boolean)

  /** visvalingam_preserve (simplify_vw.rs:270-365): like VW but when a
    * removal would create a self-intersection, the spatially-previous
    * point is forced out next (area := −ε, the Jason Davies technique);
    * stops at `minPoints` if an intersection is pending. The segment
    * store is shared across all rings of the geometry so rings cannot
    * cross each other after simplification. */
  private def vwpRing(cs: Array[Double], start: Int, end: Int, epsilon: Double,
      initialMin: Int, minPoints: Int, store: SegStore): Array[Double] = {
    val n = end - start
    if (n < 3 || epsilon <= 0.0) {
      return java.util.Arrays.copyOfRange(cs, start * 2, end * 2)
    }
    var counter = n
    val adjL = new Array[Int](n)
    val adjR = new Array[Int](n)
    var i = 0
    while (i < n) { adjL(i) = i - 1; adjR(i) = i + 1; i += 1 }
    @inline def X(k: Int) = cs(2 * (start + k))
    @inline def Y(k: Int) = cs(2 * (start + k) + 1)
    @inline def triArea(a: Int, b: Int, c: Int): Double =
      Math.abs(((X(b) - X(a)) * (Y(c) - Y(a)) - (X(c) - X(a)) * (Y(b) - Y(a))) / 2.0)

    implicit val ord: Ordering[VpScore] = Ordering.by[VpScore, Double](_.area).reverse
    val pq = scala.collection.mutable.PriorityQueue.empty[VpScore]
    i = 1
    while (i < n - 1) { pq.enqueue(VpScore(triArea(i - 1, i, i + 1), i, i - 1, i + 1, intersector = false)); i += 1 }

    var done = false
    while (!done && pq.nonEmpty) {
      var smallest = pq.dequeue()
      if (smallest.area > epsilon) done = true
      else if (counter <= initialMin) done = true
      else if (adjL(smallest.current) != smallest.left || adjR(smallest.current) != smallest.right) {
        // stale
      } else {
        val left = smallest.left
        val right = smallest.right
        val isIntersector = store.intersectsNew(X(left), Y(left),
          X(smallest.current), Y(smallest.current), X(right), Y(right))
        smallest = smallest.copy(intersector = isIntersector)
        if (isIntersector && counter <= minPoints) done = true
        else {
          val ll = adjL(left)
          val rr = adjR(right)
          adjR(left) = right
          adjL(right) = left
          adjL(smallest.current) = 0
          adjR(smallest.current) = 0
          counter -= 1
          store.remove(X(left), Y(left), X(smallest.current), Y(smallest.current))
          store.remove(X(smallest.current), Y(smallest.current), X(right), Y(right))
          store.add(X(left), Y(left), X(right), Y(right))
          // recompute_triangles with the intersector -ε forcing rule
          val choices = Array((ll, left, right), (left, right, rr))
          choices.foreach { case (ai, cur, bi) =>
            if (ai >= 0 && bi >= 0 && ai < n && bi < n) {
              val a0 = triArea(ai, cur, bi)
              val area = if (smallest.intersector && cur < smallest.current) -epsilon else a0
              pq.enqueue(VpScore(area, cur, ai, bi, intersector = false))
            }
          }
        }
      }
    }
    val out = new ArrayBuffer[Double](2 * counter)
    i = 0
    while (i < n) {
      if (!(adjL(i) == 0 && adjR(i) == 0)) { out += X(i); out += Y(i) }
      i += 1
    }
    out.toArray
  }

  /** Topology-preserving VW over a geometry (SimplifyVwPreserve trait:
    * LineString min 2, polygon rings min 4 points). */
  def vwPreserve(g: FlatGeom, epsilon: Double): FlatGeom = {
    if (epsilon <= 0.0) return g
    // seed the shared store with every segment of the geometry
    val store = new SegStore
    FlatGeom.foreachRing(g) { (s, e) =>
      var i = s
      while (i < e - 1) { store.add(g.x(i), g.y(i), g.x(i + 1), g.y(i + 1)); i += 1 }
    }
    g.kind match {
      case GeomKind.LineString =>
        FlatGeom.lineString(vwpRing(g.coords, 0, g.numPoints, epsilon, 2, 2, store))
      case GeomKind.MultiLineString =>
        val lines = ArrayBuffer[Array[Double]]()
        FlatGeom.foreachRing(g)((s, e) => lines += vwpRing(g.coords, s, e, epsilon, 2, 2, store))
        FlatGeom.multiLineString(lines.toSeq)
      case GeomKind.Polygon =>
        val ext = vwpRing(g.coords, g.ringStart(0), g.ringEnd(0), epsilon, 4, 4, store)
        val holes = (1 until g.rings.length).map(r =>
          vwpRing(g.coords, g.ringStart(r), g.ringEnd(r), epsilon, 4, 4, store))
        FlatGeom.polygon(ext, holes)
      case GeomKind.MultiPolygon =>
        val polys = ArrayBuffer[FlatGeom]()
        FlatGeom.foreachPart(g) { (_, r0, r1) =>
          val ext = vwpRing(g.coords, g.ringStart(r0), g.ringEnd(r0), epsilon, 4, 4, store)
          val holes = (r0 + 1 until r1).map(r =>
            vwpRing(g.coords, g.ringStart(r), g.ringEnd(r), epsilon, 4, 4, store))
          polys += FlatGeom.polygon(ext, holes)
        }
        FlatGeom.multiPolygon(polys.toSeq)
      case _ => g
    }
  }

  /** VW simplification of a geometry (simplify_vw.rs trait impls). */
  def vw(g: FlatGeom, epsilon: Double): FlatGeom = {
    if (epsilon <= 0.0) return g
    g.kind match {
      case GeomKind.LineString =>
        FlatGeom.lineString(extractIndices(g.coords, 0, vwIndices(g.coords, 0, g.numPoints, epsilon)))
      case GeomKind.MultiLineString =>
        val lines = ArrayBuffer[Array[Double]]()
        FlatGeom.foreachRing(g) { (s, e) =>
          lines += extractIndices(g.coords, s, vwIndices(g.coords, s, e, epsilon))
        }
        FlatGeom.multiLineString(lines.toSeq)
      case GeomKind.Polygon =>
        val ext = extractIndices(g.coords, g.ringStart(0),
          vwIndices(g.coords, g.ringStart(0), g.ringEnd(0), epsilon))
        val holes = (1 until g.rings.length).map { r =>
          extractIndices(g.coords, g.ringStart(r),
            vwIndices(g.coords, g.ringStart(r), g.ringEnd(r), epsilon))
        }
        FlatGeom.polygon(ext, holes)
      case GeomKind.MultiPolygon =>
        val polys = ArrayBuffer[FlatGeom]()
        FlatGeom.foreachPart(g) { (p, r0, r1) =>
          val ext = extractIndices(g.coords, g.ringStart(r0),
            vwIndices(g.coords, g.ringStart(r0), g.ringEnd(r0), epsilon))
          val holes = (r0 + 1 until r1).map { r =>
            extractIndices(g.coords, g.ringStart(r),
              vwIndices(g.coords, g.ringStart(r), g.ringEnd(r), epsilon))
          }
          polys += FlatGeom.polygon(ext, holes)
        }
        FlatGeom.multiPolygon(polys.toSeq)
      case _ => g
    }
  }
}
