package graft.kernels

import graft.core.{FlatGeom, GeomKind}

/**
 * Prepared point-in-polygon for large (multi)polygons: a y-slab edge
 * index. The polygon's y-range is cut into equal slabs, and each slab
 * lists, in ring order, every ring edge whose y-range reaches into it.
 * A query runs [[Planar.coordPosInRing]]'s exact per-edge rules
 * (`edgeWinding`, [[Robust.orient2d]]) over the edges of its own slab
 * only. An edge whose y-range misses the query's y adds nothing to the
 * ray cast, and an edge's first and last slab come from the same
 * non-decreasing `slabOf` as the query's slab, so every edge that can
 * count is in the query's slab: the answer is [[Planar.coordPos]]'s,
 * exactly.
 *
 * Prepare is linear in the edges per slab count tried; the slab lists
 * hold at most 8 entries per edge in all.
 */
object Monotone {

  final class Prepared private[Monotone] (g: FlatGeom, partEnds: Array[Int],
      yLo: Double, yHi: Double, invH: Double,
      slabStart: Array[Int], entries: Array[Int]) {

    private[graft] def slabs: Int = slabStart.length - 1

    /** Approximate heap bytes held by the index (the geometry it reads
      * is the caller's). */
    val retainedBytes: Long = 4L * (slabStart.length + entries.length) + 96

    /** Same contract as [[Planar.coordPos]] on the source geometry.
      * Rings combine as in [[Planar.coordPosInPolygon]]: a ring with no
      * edge in the slab is Outside; a part holds the point when its
      * exterior does and no earlier hole does; a boundary counts only
      * on a ring that can still decide the part. */
    def coordPos(x: Double, y: Double): Int = {
      if (!(y >= yLo && y <= yHi)) return Planar.Outside
      val k = slabOf(y, yLo, invH, slabs)
      val cs = g.coords
      val end = slabStart(k + 1)
      var i = slabStart(k)
      var ring = 0
      var part = -1
      var holds = false // part `part` holds the point so far
      var res = Planar.Outside
      while (i < end) {
        ring = firstAbove(g.rings, ring, entries(i) + 1)
        val p = firstAbove(partEnds, math.max(part, 0), ring)
        val first = p != part // the first ring of part p in this slab
        if (first) {
          if (holds) res = Planar.Inside
          part = p
          // an exterior with no edge in the slab leaves the part Outside
          holds = ring == (if (p == 0) 0 else partEnds(p - 1))
        }
        if (holds) {
          val last = g.ringEnd(ring) - 1
          var w = 0
          while (i < end && entries(i) < last) {
            val c = edgeWinding(cs, entries(i), x, y)
            if (c == Planar.OnBoundary) return Planar.OnBoundary
            w += c
            i += 1
          }
          holds = (w != 0) == first // inside the exterior, outside a hole
        }
        if (!holds) { // skip the rest of the part
          val stop = g.ringEnd(partEnds(part) - 1)
          while (i < end && entries(i) < stop) i += 1
        }
      }
      if (holds) Planar.Inside else res
    }
  }

  /** The index of (multi)polygon `g`; null when it cannot serve: not
    * areal, no ring, a ring of fewer than 4 points or a non-finite
    * ordinate (callers fall back to the ray cast). */
  def prepare(g: FlatGeom): Prepared = {
    val partEnds = g.kind match {
      case GeomKind.Polygon => Array(g.rings.length)
      case GeomKind.MultiPolygon => g.parts
      case _ => return null
    }
    val nRings = if (partEnds.isEmpty) 0 else partEnds.last
    if (nRings == 0 || nRings > g.rings.length) return null
    val cs = g.coords
    var yLo = Double.PositiveInfinity
    var yHi = Double.NegativeInfinity
    var edges = 0
    var r = 0
    while (r < nRings) {
      val s = g.ringStart(r); val e = g.ringEnd(r)
      if (e - s < 4) return null
      var i = 2 * s
      while (i < 2 * e) {
        if (!java.lang.Double.isFinite(cs(i)) || !java.lang.Double.isFinite(cs(i + 1))) return null
        yLo = math.min(yLo, cs(i + 1)); yHi = math.max(yHi, cs(i + 1))
        i += 2
      }
      edges += e - s - 1
      r += 1
    }

    def forEdges(f: Int => Unit): Unit = {
      var r = 0
      while (r < nRings) {
        var e = g.ringStart(r)
        val last = g.ringEnd(r) - 1
        while (e < last) { f(e); e += 1 }
        r += 1
      }
    }
    @inline def lo(e: Int) = math.min(cs(2 * e + 1), cs(2 * e + 3))
    @inline def hi(e: Int) = math.max(cs(2 * e + 1), cs(2 * e + 3))

    // one slab per edge, halved while the lists would hold more than 8
    // entries per edge (a comb of full-height teeth gains nothing)
    def inv(s: Int): Double = s / (yHi - yLo)
    def fits(s: Int): Boolean = {
      val h = inv(s)
      var n = 0L
      if (!(h > 0 && !h.isInfinite)) return false
      forEdges(e => n += slabOf(hi(e), yLo, h, s) - slabOf(lo(e), yLo, h, s) + 1)
      n <= 8L * edges
    }
    var slabs = edges
    while (slabs > 1 && !fits(slabs)) slabs /= 2
    val invH = if (slabs > 1) inv(slabs) else 0.0

    val slabStart = new Array[Int](slabs + 1)
    forEdges { e =>
      var k = slabOf(lo(e), yLo, invH, slabs)
      val kHi = slabOf(hi(e), yLo, invH, slabs)
      while (k <= kHi) { slabStart(k + 1) += 1; k += 1 }
    }
    var k = 0
    while (k < slabs) { slabStart(k + 1) += slabStart(k); k += 1 }
    val fill = java.util.Arrays.copyOf(slabStart, slabs)
    val entries = new Array[Int](slabStart(slabs))
    forEdges { e =>
      var k = slabOf(lo(e), yLo, invH, slabs)
      val kHi = slabOf(hi(e), yLo, invH, slabs)
      while (k <= kHi) { entries(fill(k)) = e; fill(k) += 1; k += 1 }
    }
    new Prepared(g, partEnds, yLo, yHi, invH, slabStart, entries)
  }

  /** Edge i → i + 1's part in [[Planar.coordPosInRing]]'s winding, by
    * the same rules: +1, -1 or 0, or OnBoundary when (x, y) lies on
    * the edge. The ray cast keeps these rules inline in its own loop,
    * where a call per edge measured slower. */
  private def edgeWinding(cs: Array[Double], i: Int, x: Double, y: Double): Int = {
    val x1 = cs(2 * i); val y1 = cs(2 * i + 1)
    val x2 = cs(2 * i + 2); val y2 = cs(2 * i + 3)
    if (y1 <= y) {
      if (y2 >= y) {
        val o = Robust.orient2d(x1, y1, x2, y2, x, y)
        if (o == Robust.CounterClockwise && y2 != y) return 1
        if (o == Robust.Collinear && between(x, x1, x2)) return Planar.OnBoundary
      }
    } else if (y2 <= y) {
      val o = Robust.orient2d(x1, y1, x2, y2, x, y)
      if (o == Robust.Clockwise) return -1
      if (o == Robust.Collinear && between(x, x1, x2)) return Planar.OnBoundary
    }
    0
  }

  @inline private def between(v: Double, a: Double, b: Double): Boolean =
    if (a < b) a <= v && v <= b else b <= v && v <= a

  @inline private def slabOf(y: Double, yLo: Double, invH: Double, slabs: Int): Int =
    math.min(((y - yLo) * invH).toInt, slabs - 1)

  /** The least index i ≥ from with a(i) > v; a(a.length - 1) > v. */
  private def firstAbove(a: Array[Int], from: Int, v: Int): Int = {
    var lo = from
    var hi = a.length - 1
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (a(m) > v) hi = m else lo = m + 1
    }
    lo
  }
}
