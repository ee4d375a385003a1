package graft.kernels

import graft.core.{FlatGeom, GeomKind}

import scala.collection.mutable.ArrayBuffer

/**
 * Monotone-polygon subdivision + O(log n) point-in-polygon — the
 * engine analogue of the reference's `MonotonicPolygons`
 * (geo/src/algorithm/monotone/mod.rs:17-21): a polygon (with holes)
 * is decomposed once into y-monotone pieces via the classic
 * make-monotone plane sweep (split/merge vertices receive diagonals
 * to their sweep helpers, de Berg et al. §3.2), the diagonal-augmented
 * edge set is walked into faces, and each CCW face stores its two
 * y-sorted chains. A point query looks only at the pieces listed in its
 * y-slab whose bounding box holds it, and binary-searches their chains
 * — O(log n) per piece versus the O(n) ray cast — with the same exact
 * semantics:
 * side tests use [[Robust.orient2d]], and a point on an inserted
 * diagonal (polygon interior) reports Inside, only original boundary
 * edges report OnBoundary.
 */
object Monotone {

  /** One y-monotone piece: a CCW ring split at its top and bottom
    * vertices; segment k runs ring index k → k+1 (mod n) and
    * `origEdge(k)` marks original-polygon-boundary segments. */
  final class MonoPoly(val xs: Array[Double], val ys: Array[Double],
      val topIdx: Int, val botIdx: Int, val origEdge: Array[Boolean]) {

    val yMin: Double = ys(botIdx)
    val yMax: Double = ys(topIdx)
    val xMin: Double = xs.min
    val xMax: Double = xs.max

    /** Planar.Inside / OnBoundary / Outside for this piece.
      *
      * Chain A (topIdx→botIdx in ring order, y non-increasing) is the
      * piece's LEFT wall (CCW ⇒ interior on the left of downward
      * travel = the +x side); chain B (botIdx→topIdx, y non-decreasing)
      * is the RIGHT wall. A query either hits a segment strictly
      * between its endpoint ys (side = exact orientation) or sits at a
      * vertex level, where the wall's x-extent is a set of exact
      * vertex coordinates (side = exact coordinate compare). */
    def classify(px: Double, py: Double): Int = {
      if (py < yMin || py > yMax || px < xMin || px > xMax) return Planar.Outside
      val n = xs.length
      var onOrig = false
      var onDiag = false
      var c = 0
      while (c < 2) {
        val start = if (c == 0) topIdx else botIdx
        val end = if (c == 0) botIdx else topIdx
        val len = if (end >= start) end - start else end - start + n
        @inline def vIdx(pos: Int): Int = { val i = start + pos; if (i >= n) i - n else i }
        @inline def yAt(pos: Int): Double = ys(vIdx(pos))
        // first chain position whose segment [pos, pos+1] spans py
        var lo = 0
        var hi = len - 1
        while (lo < hi) {
          val mid = (lo + hi) / 2
          val yNext = yAt(mid + 1)
          val covered = if (c == 0) yNext <= py else yNext >= py
          if (covered) hi = mid else lo = mid + 1
        }
        // expand the run over a plateau at py
        var runEnd = lo
        while (runEnd + 1 < len && yAt(runEnd + 1) == py) runEnd += 1
        var strictSide = 0 // -1 outside, +1 inside, 0 undecided
        var vLo = Double.PositiveInfinity
        var vHi = Double.NegativeInfinity
        var pos = lo
        while (pos <= runEnd) {
          val i1 = vIdx(pos); val i2 = vIdx(pos + 1)
          if ((px == xs(i1) && py == ys(i1)) || (px == xs(i2) && py == ys(i2)))
            return Planar.OnBoundary // subdivision vertices are original
          val spans =
            if (c == 0) ys(i1) >= py && py >= ys(i2)
            else ys(i1) <= py && py <= ys(i2)
          if (spans) {
            val o = Robust.orient2d(xs(i1), ys(i1), xs(i2), ys(i2), px, py)
            if (o == 0) {
              if (Math.min(xs(i1), xs(i2)) <= px && px <= Math.max(xs(i1), xs(i2))) {
                if (origEdge(i1)) onOrig = true else onDiag = true
              }
            } else if (ys(i1) != py && ys(i2) != py) {
              // strictly spanning segment decides the side exactly:
              // interior is on the LEFT (o > 0) of the ring direction
              strictSide = if (o > 0) 1 else -1
            } else {
              // vertex-level contact: record the wall's exact x-extent
              if (ys(i1) == py) { vLo = Math.min(vLo, xs(i1)); vHi = Math.max(vHi, xs(i1)) }
              if (ys(i2) == py) { vLo = Math.min(vLo, xs(i2)); vHi = Math.max(vHi, xs(i2)) }
            }
          }
          pos += 1
        }
        if (onOrig || onDiag) { /* boundary handled after both chains */ }
        else if (strictSide == -1) return Planar.Outside
        else if (strictSide == 0 && vLo <= vHi) {
          // side by exact coordinate compare against the wall extent
          val insideHere = if (c == 0) px > vHi else px < vLo
          if (!insideHere) return Planar.Outside
        } else if (strictSide == 0 && vLo > vHi) {
          return Planar.Outside // no contact found (defensive)
        }
        c += 1
      }
      if (onOrig) Planar.OnBoundary
      else Planar.Inside // strictly interior, or on an inserted diagonal
    }
  }

  /** Prepared polygon: the monotone pieces of every part, indexed by
    * y-slabs. The y-range of the pieces is cut into equal slabs and
    * each slab lists the pieces whose [yMin, yMax] reaches into it, so
    * a query classifies only the pieces of its own slab. A piece's slab
    * range is computed with the same `slabOf` the query uses, and
    * `slabOf` never decreases with y, so every piece whose y-range
    * holds the query's y is listed in the query's slab. */
  final class Prepared(val pieces: Array[MonoPoly]) {
    private val yLo = pieces.iterator.map(_.yMin).min
    private val yHi = pieces.iterator.map(_.yMax).max
    private def slab(y: Double, slabs: Int, invH: Double): Int =
      math.min(((y - yLo) * invH).toInt, slabs - 1)

    // one slab per piece, halved while tall pieces would make the lists
    // longer than 8 entries per piece (a comb of full-height teeth
    // gains nothing from slabs)
    private val slabs: Int = {
      def fits(s: Int): Boolean = {
        val inv = s / (yHi - yLo)
        !inv.isInfinite &&
          pieces.iterator.map(p => slab(p.yMax, s, inv) - slab(p.yMin, s, inv) + 1L).sum <=
            8L * pieces.length
      }
      var s = pieces.length
      while (s > 1 && !fits(s)) s /= 2
      s
    }
    private val invH = if (slabs > 1) slabs / (yHi - yLo) else 0.0
    private def slabOf(y: Double): Int = slab(y, slabs, invH)

    private val slabStart = new Array[Int](slabs + 1)
    private val slabPieces: Array[Int] = {
      pieces.foreach(p => (slabOf(p.yMin) to slabOf(p.yMax)).foreach(k => slabStart(k + 1) += 1))
      var k = 0
      while (k < slabs) { slabStart(k + 1) += slabStart(k); k += 1 }
      val fill = slabStart.clone()
      val out = new Array[Int](slabStart(slabs))
      pieces.indices.foreach { i =>
        (slabOf(pieces(i).yMin) to slabOf(pieces(i).yMax)).foreach { k =>
          out(fill(k)) = i; fill(k) += 1
        }
      }
      out
    }

    /** Approximate heap bytes held by the pieces and the slab index. */
    val retainedBytes: Long =
      pieces.iterator.map(p => 17L * p.xs.length + 96).sum +
        4L * (slabStart.length + slabPieces.length) + 96

    /** Same contract as [[Planar.coordPos]] on the source geometry. */
    def coordPos(x: Double, y: Double): Int = {
      if (!(y >= yLo && y <= yHi)) return Planar.Outside
      val k = slabOf(y)
      var i = slabStart(k)
      val end = slabStart(k + 1)
      var any = false
      while (i < end) {
        pieces(slabPieces(i)).classify(x, y) match {
          case Planar.OnBoundary => return Planar.OnBoundary
          case Planar.Inside => any = true
          case _ =>
        }
        i += 1
      }
      if (any) Planar.Inside else Planar.Outside
    }
  }

  /** Build the prepared subdivision; null for non-areal input or if a
    * degeneracy defeats the sweep (callers fall back to the ray
    * cast). */
  def prepare(g: FlatGeom): Prepared = {
    try {
      val pieces = g.kind match {
        case GeomKind.Polygon => subdividePoly(g, 0, g.rings.length)
        case GeomKind.MultiPolygon =>
          val out = ArrayBuffer[MonoPoly]()
          FlatGeom.foreachPart(g)((_, r0, r1) => out ++= subdividePoly(g, r0, r1))
          out.toSeq
        case _ => return null
      }
      if (pieces.isEmpty) null else new Prepared(pieces.toArray)
    } catch {
      case e: Exception =>
        if (sys.env.contains("GRAFT_MONO_DEBUG")) e.printStackTrace()
        null
    }
  }

  /** Diagnostic entry (tests only): pieces + diagnostic counts. */
  def debugSubdivide(g: FlatGeom): (Seq[MonoPoly], Int) = {
    val pieces = subdividePoly(g, 0, g.rings.length)
    (pieces, pieces.map(_.xs.length).sum)
  }

  // ------------------------------------------------- make-monotone sweep

  private final val Start = 0
  private final val End = 1
  private final val Split = 2
  private final val Merge = 3
  private final val Regular = 4

  private def subdividePoly(g: FlatGeom, r0: Int, r1: Int): Seq[MonoPoly] = {
    // vertex soup of all rings (open), exterior CCW and holes CW
    val vx = ArrayBuffer[Double]()
    val vy = ArrayBuffer[Double]()
    val nextV = ArrayBuffer[Int]()
    val prevV = ArrayBuffer[Int]()
    var r = r0
    while (r < r1) {
      val s = g.ringStart(r); val e = g.ringEnd(r)
      var e2 = e
      if (e - s >= 2 && g.x(s) == g.x(e - 1) && g.y(s) == g.y(e - 1)) e2 = e - 1
      val cnt = e2 - s
      if (cnt >= 3) {
        val base = vx.length
        val ccw = Planar.ringWinding(g.coords, s, e) == Planar.CCW
        val wantCcw = r == r0
        var k = 0
        while (k < cnt) {
          val i = if (ccw == wantCcw) s + k else s + (cnt - 1 - k)
          vx += g.x(i); vy += g.y(i)
          k += 1
        }
        k = 0
        while (k < cnt) {
          nextV += base + (k + 1) % cnt
          prevV += base + (k + cnt - 1) % cnt
          k += 1
        }
      }
      r += 1
    }
    val n = vx.length
    if (n < 3) return Nil
    val xs = vx.toArray; val ys = vy.toArray
    val nxt = nextV.toArray; val prv = prevV.toArray

    // sweep order: descending y, ties by ascending x
    @inline def below(a: Int, b: Int): Boolean =
      ys(a) < ys(b) || (ys(a) == ys(b) && xs(a) > xs(b))
    val vt = new Array[Int](n)
    var v = 0
    while (v < n) {
      val p = prv(v); val q = nxt(v)
      val pBelow = below(p, v)
      val qBelow = below(q, v)
      val o = Robust.orient2d(xs(p), ys(p), xs(v), ys(v), xs(q), ys(q))
      vt(v) =
        if (pBelow && qBelow) { if (o > 0) Start else Split }
        else if (!pBelow && !qBelow) { if (o > 0) End else Merge }
        else Regular
      v += 1
    }

    val diagonals = scala.collection.mutable.LinkedHashSet[(Int, Int)]()
    def addDiag(a: Int, b: Int): Unit =
      if (a != b && nxt(a) != b && nxt(b) != a)
        diagonals += (if (a < b) (a, b) else (b, a))

    // status of sweep-crossing edges (edge id = origin vertex), in
    // insertion order; linear scans — build is one-off per polygon
    val status = new Array[Int](n)
    var statusLen = 0
    val inStatus = new Array[Boolean](n)
    val helper = new Array[Int](n)
    def insert(e: Int): Unit = { status(statusLen) = e; statusLen += 1; inStatus(e) = true }
    def remove(e: Int): Unit = {
      var i = 0
      while (status(i) != e) i += 1
      System.arraycopy(status, i + 1, status, i, statusLen - i - 1)
      statusLen -= 1
      inStatus(e) = false
    }

    def edgeXat(e: Int, yq: Double): Double = {
      val a = e; val b = nxt(e)
      val y1 = ys(a); val y2 = ys(b)
      if (y1 == y2) Math.min(xs(a), xs(b))
      else xs(a) + (xs(b) - xs(a)) * (yq - y1) / (y2 - y1)
    }
    def leftEdgeOf(q: Int): Int = {
      var best = -1
      var bestX = Double.NegativeInfinity
      var i = 0
      while (i < statusLen) {
        val e = status(i)
        val x = edgeXat(e, ys(q))
        if (x <= xs(q) && x > bestX) { bestX = x; best = e }
        i += 1
      }
      best
    }

    (0 until n).sortWith((a, b) => below(b, a)).foreach { vtx =>
      vt(vtx) match {
        case Start =>
          insert(vtx); helper(vtx) = vtx
        case End =>
          val ep = prv(vtx)
          if (inStatus(ep)) {
            if (vt(helper(ep)) == Merge) addDiag(vtx, helper(ep))
            remove(ep)
          }
        case Split =>
          val ej = leftEdgeOf(vtx)
          if (ej >= 0) { addDiag(vtx, helper(ej)); helper(ej) = vtx }
          insert(vtx); helper(vtx) = vtx
        case Merge =>
          val ep = prv(vtx)
          if (inStatus(ep)) {
            if (vt(helper(ep)) == Merge) addDiag(vtx, helper(ep))
            remove(ep)
          }
          val ej = leftEdgeOf(vtx)
          if (ej >= 0) {
            if (vt(helper(ej)) == Merge) addDiag(vtx, helper(ej))
            helper(ej) = vtx
          }
        case Regular =>
          if (below(nxt(vtx), vtx)) { // interior right of v: boundary descends
            val ep = prv(vtx)
            if (inStatus(ep)) {
              if (vt(helper(ep)) == Merge) addDiag(vtx, helper(ep))
              remove(ep)
            }
            insert(vtx); helper(vtx) = vtx
          } else {
            val ej = leftEdgeOf(vtx)
            if (ej >= 0) {
              if (vt(helper(ej)) == Merge) addDiag(vtx, helper(ej))
              helper(ej) = vtx
            }
          }
      }
    }

    extractFaces(xs, ys, nxt, diagonals.toSeq)
  }

  // --------------------------------------------------- face extraction

  /** Faces of the diagonal-augmented subdivision: directed edges =
    * ring edges (orig) + both directions of every diagonal; the
    * successor of (u→v) is v's outgoing edge immediately CLOCKWISE of
    * the reversed incoming direction — faces traverse with interior on
    * the left, so the bounded (monotone) faces come out CCW. */
  private def extractFaces(vx: Array[Double], vy: Array[Double],
      nextV: Array[Int], diagonals: Seq[(Int, Int)]): Seq[MonoPoly] = {
    val n = vx.length
    // directed edges: ring edges, then both directions of each diagonal
    val m = n + 2 * diagonals.length
    val from = new Array[Int](m)
    val to = new Array[Int](m)
    val orig = new Array[Boolean](m)
    var i = 0
    while (i < n) { from(i) = i; to(i) = nextV(i); orig(i) = true; i += 1 }
    diagonals.foreach { case (a, b) =>
      from(i) = a; to(i) = b; i += 1
      from(i) = b; to(i) = a; i += 1
    }
    val angle = Array.tabulate(m)(ei => Math.atan2(vy(to(ei)) - vy(from(ei)), vx(to(ei)) - vx(from(ei))))
    // outgoing edges per vertex (CSR), each list stably sorted by angle
    val outStart = new Array[Int](n + 1)
    i = 0
    while (i < m) { outStart(from(i) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { outStart(i + 1) += outStart(i); i += 1 }
    val out = new Array[Int](m)
    val fill = outStart.clone()
    i = 0
    while (i < m) { out(fill(from(i))) = i; fill(from(i)) += 1; i += 1 }
    i = 0
    while (i < n) {
      var j = outStart(i) + 1
      while (j < outStart(i + 1)) { // insertion sort: lists are short
        val ei = out(j)
        var k = j - 1
        while (k >= outStart(i) && java.lang.Double.compare(angle(out(k)), angle(ei)) > 0) {
          out(k + 1) = out(k); k -= 1
        }
        out(k + 1) = ei
        j += 1
      }
      i += 1
    }

    def successor(ei: Int): Int = {
      val v = to(ei)
      val revAngle = Math.atan2(vy(from(ei)) - vy(v), vx(from(ei)) - vx(v))
      // largest angle strictly below revAngle, cyclic wrap; skip the
      // exact reverse edge unless it is the only option
      var best = -1
      var bestAngle = Double.NegativeInfinity
      var wrap = -1
      var wrapAngle = Double.NegativeInfinity
      var j = outStart(v)
      while (j < outStart(v + 1)) {
        val ci = out(j)
        val isReverse = to(ci) == from(ei) && angle(ci) == revAngle
        if (!isReverse) {
          if (angle(ci) < revAngle && angle(ci) > bestAngle) { bestAngle = angle(ci); best = ci }
          if (angle(ci) > wrapAngle) { wrapAngle = angle(ci); wrap = ci }
        }
        j += 1
      }
      if (best >= 0) best
      else if (wrap >= 0) wrap
      else out(outStart(v)) // only the reverse edge exists (degenerate)
    }

    val visited = new Array[Boolean](m)
    val faces = ArrayBuffer[MonoPoly]()
    val ringV = new Array[Int](m)
    val ringOrig = new Array[Boolean](m)
    var startEi = 0
    while (startEi < m) {
      if (!visited(startEi)) {
        var len = 0
        var ei = startEi
        var guard = m + 4
        while (!visited(ei) && guard > 0) {
          guard -= 1
          visited(ei) = true
          ringV(len) = from(ei)
          ringOrig(len) = orig(ei)
          len += 1
          ei = successor(ei)
        }
        if (len >= 3 && ei == startEi) {
          val fxs = Array.tabulate(len)(k => vx(ringV(k)))
          val fys = Array.tabulate(len)(k => vy(ringV(k)))
          var a2 = 0.0
          var k = 0
          while (k < len) {
            val k2 = (k + 1) % len
            a2 += fxs(k) * fys(k2) - fxs(k2) * fys(k)
            k += 1
          }
          if (a2 > 0) { // CCW bounded face = monotone piece
            var top = 0; var bot = 0
            k = 1
            while (k < len) {
              if (fys(k) > fys(top) || (fys(k) == fys(top) && fxs(k) < fxs(top))) top = k
              if (fys(k) < fys(bot) || (fys(k) == fys(bot) && fxs(k) > fxs(bot))) bot = k
              k += 1
            }
            faces += new MonoPoly(fxs, fys, top, bot, java.util.Arrays.copyOf(ringOrig, len))
          }
        }
      }
      startEi += 1
    }
    faces.toSeq
  }
}
