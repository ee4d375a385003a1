package graft.kernels

import graft.core.{FlatGeom, GeomKind, StableSort}
import scala.collection.mutable.{ArrayBuffer, HashMap => MHashMap}

/**
 * Boolean operations on polygons — intersection / union / difference /
 * symmetric difference (the reference's BooleanOps,
 * geo/src/algorithm/bool_ops/mod.rs:34-196, which delegates to the
 * i_overlay crate). Re-derived from the classical planar-overlay
 * construction (Margalit & Knott 1989; Martinez-Rueda 2009 family):
 *
 *  1. orient rings interior-left (exterior CCW, holes CW);
 *  2. split every edge at every robust A×B intersection (pairs found
 *     by an x-sweep over padded edge bboxes, each computed once, so
 *     cut points are bit-identical on both edges);
 *  3. classify each sub-edge midpoint In/On/Out of the other polygon;
 *     On-edges are matched with their partner to "shared same/opposite
 *     direction";
 *  4. select sub-edges per operation rule;
 *  5. trace faces by always taking the sharpest-left continuation
 *     (interior-left invariant), yielding CCW shells and CW holes;
 *  6. nest holes into shells by containment.
 */
object Overlay {

  final val OpIntersection = 0
  final val OpUnion = 1
  final val OpDifference = 2
  final val OpXor = 3

  private[graft] final case class Edge(
      x1: Double, y1: Double, x2: Double, y2: Double, source: Int)

  /** Tight tolerance: merges only ulp-twin nodes (the same junction
    * materialized by different intersection pairs differs by a few
    * ulps — ~1e-16 relative; 1e-13 leaves 3 decimal orders of head
    * room). Preserves genuine micro-slivers (robust/
    * TestRobustOverlayFloat expects an intersection whose shortest
    * side is 6.5e-5 on coordinates of magnitude 3e6 — 2.4e-11
    * relative, far below the coarse tolerance). */
  private final val EpsTight = 1e-13
  /** Coarse tolerance: absorbs NEAR-collinear shared runs (real-world
    * inputs are collinear only to ~1e-9 relative — GEOS ticket-275).
    * Only used when the tight pass signals a broken ring walk, the
    * same escalation shape as JTS OverlayNG's snapping fallback. */
  private final val EpsCoarse = 1e-9

  /** Boolean op over two polygonal geometries; returns a MultiPolygon
    * (possibly empty). */
  def booleanOp(a: FlatGeom, b: FlatGeom, op: Int): FlatGeom = op match {
    case OpXor =>
      // A△B = (A−B) ∪ (B−A) — bool_ops/mod.rs composes ops similarly
      val d1 = booleanOp(a, b, OpDifference)
      val d2 = booleanOp(b, a, OpDifference)
      if (d1.isEmpty) d2
      else if (d2.isEmpty) d1
      else booleanOp(d1, d2, OpUnion)
    case _ => overlay(a, b, op)
  }

  /** Growable parallel arrays of directed segments and their source
    * (0 = A, 1 = B). */
  private final class Segs(cap0: Int) {
    var n = 0
    var x1 = new Array[Double](Math.max(cap0, 4))
    var y1 = new Array[Double](x1.length)
    var x2 = new Array[Double](x1.length)
    var y2 = new Array[Double](x1.length)
    var src = new Array[Int](x1.length)
    def add(ax: Double, ay: Double, bx: Double, by: Double, s: Int): Unit = {
      if (n == x1.length) {
        val c = 2 * n
        x1 = java.util.Arrays.copyOf(x1, c); y1 = java.util.Arrays.copyOf(y1, c)
        x2 = java.util.Arrays.copyOf(x2, c); y2 = java.util.Arrays.copyOf(y2, c)
        src = java.util.Arrays.copyOf(src, c)
      }
      x1(n) = ax; y1(n) = ay; x2(n) = bx; y2(n) = by; src(n) = s
      n += 1
    }
  }

  /** Appends `g`'s directed edges with interior on the LEFT (exteriors
    * CCW, holes CW), ring by ring; rings under 4 points are skipped and
    * so are zero-length edges. */
  private def orientEdges(g: FlatGeom, source: Int, out: Segs): Unit = {
    def ring(r: Int, isExt: Boolean): Unit = {
      val s = g.ringStart(r)
      val e = g.ringEnd(r)
      if (e - s >= 4) {
        val w = Planar.ringWinding(g.coords, s, e)
        if (if (isExt) w == Planar.CW else w == Planar.CCW) {
          var k = e - 1
          while (k > s) {
            if (g.x(k) != g.x(k - 1) || g.y(k) != g.y(k - 1))
              out.add(g.x(k), g.y(k), g.x(k - 1), g.y(k - 1), source)
            k -= 1
          }
        } else {
          var k = s
          while (k < e - 1) {
            if (g.x(k) != g.x(k + 1) || g.y(k) != g.y(k + 1))
              out.add(g.x(k), g.y(k), g.x(k + 1), g.y(k + 1), source)
            k += 1
          }
        }
      }
    }
    g.kind match {
      case GeomKind.Polygon =>
        var r = 0
        while (r < g.rings.length) { ring(r, r == 0); r += 1 }
      case GeomKind.MultiPolygon =>
        var p = 0
        while (p < g.parts.length) {
          var r = g.partStart(p)
          while (r < g.partEnd(p)) { ring(r, r == g.partStart(p)); r += 1 }
          p += 1
        }
      case _ =>
    }
  }

  private def overlay(a0: FlatGeom, b0: FlatGeom, op: Int): FlatGeom = {
    if (a0.isEmpty) {
      return op match {
        case OpIntersection | OpDifference => emptyMp
        case _ => asMultiPolygon(b0)
      }
    }
    if (b0.isEmpty) {
      return op match {
        case OpIntersection => emptyMp
        case _ => asMultiPolygon(a0)
      }
    }
    // escalating-tolerance overlay (JTS OverlayNG's shape: exact first,
    // snap on failure): the tight pass preserves micro-slivers; if its
    // ring walk hits a dead end (unchainable node — the signature of a
    // junction the tight merge failed to unify), validate before
    // escalating to the coarse tolerance, which absorbs near-collinear
    // runs
    val (tightRes, dropped) = assemble(selectEdges(a0, b0, op, EpsTight))
    if (!dropped) return tightRes
    // Dead-ended fragments don't necessarily poison the assembled
    // rings: on nearly-identical inputs (GEOS pg-list) the tight pass
    // weaves the EXACT result and only spurious shared-run leftovers
    // dead-end, while the coarse pass smears the boundary by
    // eps·perimeter. Accept the tight result iff the inclusion-
    // exclusion identity holds against the tight complementary op
    // (u = a + b − i, d = a − i); a genuinely broken walk — e.g. a
    // union that lost a whole hole ring (GEOS ticket-275) — violates
    // it and still escalates.
    val aA = Planar.unsignedArea(a0)
    val aB = Planar.unsignedArea(b0)
    val slack = 1e-9 * (1.0 + aA + aB)
    val got = Planar.unsignedArea(tightRes)
    val expected = op match {
      case OpIntersection =>
        aA + aB - Planar.unsignedArea(assemble(selectEdges(a0, b0, OpUnion, EpsTight))._1)
      case OpUnion =>
        aA + aB - Planar.unsignedArea(assemble(selectEdges(a0, b0, OpIntersection, EpsTight))._1)
      case OpDifference =>
        aA - Planar.unsignedArea(assemble(selectEdges(a0, b0, OpIntersection, EpsTight))._1)
      case _ => Double.NaN
    }
    if (expected.isNaN) return assemble(selectEdges(a0, b0, op, EpsCoarse))._1
    val tightDisc = Math.abs(got - expected)
    if (tightDisc <= slack) return tightRes
    // both passes are imperfect here: the tight pass may have dropped
    // genuine sliver fragments (small discrepancy), the coarse pass
    // smears the boundary by eps·perimeter and can lose larger area
    // (GEOS-devel-2010 difference: tight off by 0.02, coarse by 1.01
    // of 18908). Keep whichever lands closer to the identity.
    val coarseRes = assemble(selectEdges(a0, b0, op, EpsCoarse))._1
    val coarseDisc = Math.abs(Planar.unsignedArea(coarseRes) - expected)
    if (tightDisc <= coarseDisc) tightRes else coarseRes
  }

  /** Steps 1-4 of the overlay construction (split + classify + select);
    * package-visible so tests can diagnose selection separately from
    * ring assembly. */
  private[graft] def selectEdges(a0: FlatGeom, b0: FlatGeom, op: Int,
      epsRel: Double = EpsCoarse): ArrayBuffer[Edge] = {
    val (subs, cls) = splitAndClassify(a0, b0, epsRel)
    repairBalance(subs, selectFrom(subs, cls, a0, b0, op, epsRel))
  }

  /** Post-selection boundary completion. A valid oriented boundary has
    * out-degree == in-degree at every node; when near-shared runs
    * weave between the two inputs, one copy's keep-decision can flip
    * mid-run and leave the selection one sub-edge short — the ring
    * walk then dead-ends and DROPS the whole ring (GEOS-ticket
    * pg-4538: union silently lost a 1853-area part; geos-737: union
    * lost the larger operand entirely). Repair by path-searching the
    * UNSELECTED sub-edges (real geometry only, nothing fabricated)
    * from each out-deficit node to an in-deficit node and adding the
    * path. Balanced selections return untouched. */
  private def repairBalance(subs: ArrayBuffer[Edge],
      selected: ArrayBuffer[Edge]): ArrayBuffer[Edge] = {
    if (balanced(selected)) return selected
    val deg = MHashMap[(Double, Double), Int]() // out - in
    selected.foreach { e =>
      deg((e.x1, e.y1)) = deg.getOrElse((e.x1, e.y1), 0) + 1
      deg((e.x2, e.y2)) = deg.getOrElse((e.x2, e.y2), 0) - 1
    }
    val needOut = deg.iterator.filter(_._2 < 0).map(_._1).toList
    if (deg.valuesIterator.map(Math.abs).sum > 32) return selected // too broken: give up
    val selKey = scala.collection.mutable.HashSet[(Double, Double, Double, Double)]()
    selected.foreach(e => selKey += ((e.x1, e.y1, e.x2, e.y2)))
    val byStart = MHashMap[(Double, Double), ArrayBuffer[Edge]]()
    subs.foreach { e =>
      if (!selKey((e.x1, e.y1, e.x2, e.y2)))
        byStart.getOrElseUpdate((e.x1, e.y1), ArrayBuffer()) += e
    }
    val usedRepair = scala.collection.mutable.HashSet[(Double, Double, Double, Double)]()
    needOut.foreach { q0 =>
      var deficit = -deg.getOrElse(q0, 0)
      while (deficit > 0) {
        // BFS (depth <= 6) over unselected sub-edges to an in-deficit node
        val prev = MHashMap[(Double, Double), Edge]()
        var frontier = List(q0)
        var found: Option[(Double, Double)] = None
        var depth = 0
        while (found.isEmpty && frontier.nonEmpty && depth < 6) {
          depth += 1
          val next = ArrayBuffer[(Double, Double)]()
          frontier.foreach { q =>
            byStart.getOrElse(q, ArrayBuffer()).foreach { e =>
              val k = (e.x1, e.y1, e.x2, e.y2)
              val to = (e.x2, e.y2)
              if (!usedRepair(k) && !prev.contains(to) && to != q0 && found.isEmpty) {
                prev(to) = e
                if (deg.getOrElse(to, 0) > 0) found = Some(to)
                else next += to
              }
            }
          }
          frontier = next.toList
        }
        found match {
          case Some(r) =>
            var cur = r
            while (cur != q0) {
              val e = prev(cur)
              selected += e
              usedRepair += ((e.x1, e.y1, e.x2, e.y2))
              cur = (e.x1, e.y1)
            }
            deg(q0) = deg.getOrElse(q0, 0) + 1
            deg(r) = deg.getOrElse(r, 0) - 1
            deficit -= 1
          case None => deficit = 0 // no repair path; leave as-is
        }
      }
    }
    selected
  }

  /** True when out-degree equals in-degree at every node. */
  private def balanced(edges: ArrayBuffer[Edge]): Boolean = {
    val nodes = new Nodes(2 * edges.length)
    val deg = new Array[Int](2 * edges.length)
    var i = 0
    while (i < edges.length) {
      val e = edges(i)
      deg(nodes.id(e.x1, e.y1)) += 1
      deg(nodes.id(e.x2, e.y2)) -= 1
      i += 1
    }
    i = 0
    while (i < nodes.n) { if (deg(i) != 0) return false; i += 1 }
    true
  }

  /** Steps 1-3: split at intersections, canonicalize nodes, classify
    * each sub-edge midpoint against the other polygon. */
  private[graft] def splitAndClassify(a0: FlatGeom, b0: FlatGeom,
      epsRel: Double = EpsCoarse): (ArrayBuffer[Edge], Array[Int]) = {
    val all = new Segs(a0.numPoints + b0.numPoints)
    orientEdges(a0, 0, all)
    val nA = all.n
    orientEdges(b0, 1, all)
    val cuts = new Cuts(all.n)
    nodePairs(all, nA, epsRel, cuts)

    // canonicalize node coordinates: the same geometric junction can be
    // materialized by DIFFERENT intersection pairs at ulp-different
    // coordinates (e.g. a vertex of A lying on an edge of B cut by two
    // incident A-edges). Ring assembly chains nodes by EXACT doubles,
    // so ulp-twin nodes break the walk and silently drop rings (seen:
    // GEOS ticket-275 union losing its enclosed hole). Cluster all
    // endpoints within a relative epsilon and rewrite each sub-edge to
    // the cluster representative; collapsed edges vanish. Then re-split
    // every sub-edge at canonical nodes on its interior so both inputs
    // decompose shared runs identically (splitAtNodes doc).
    val subs = splitAtNodes(canonicalizeNodes(splitAtCuts(all, cuts), epsRel), epsRel)

    // classify each sub-edge against the OTHER polygon
    // 0=in, 1=on, 2=out
    val cls = new Array[Int](subs.length)
    val maxA = maxAbsOrdinate(a0)
    val maxB = maxAbsOrdinate(b0)
    var i = 0
    while (i < subs.length) {
      val e = subs(i)
      cls(i) = if (e.source == 0) classify(b0, maxB, (e.x1 + e.x2) / 2.0, (e.y1 + e.y2) / 2.0, epsRel)
        else classify(a0, maxA, (e.x1 + e.x2) / 2.0, (e.y1 + e.y2) / 2.0, epsRel)
      i += 1
    }
    (subs, cls)
  }

  /** Per-edge cut lists (t, x, y) as linked lists over shared
    * primitive arrays, in insertion order. */
  private final class Cuts(edges: Int) {
    val head: Array[Int] = Array.fill(edges)(-1)
    private val tail = new Array[Int](edges)
    var n = 0
    var t = new Array[Double](16)
    var x = new Array[Double](16)
    var y = new Array[Double](16)
    var next = new Array[Int](16)
    def add(e: Int, tv: Double, xv: Double, yv: Double): Unit = {
      if (n == t.length) {
        t = java.util.Arrays.copyOf(t, 2 * n); x = java.util.Arrays.copyOf(x, 2 * n)
        y = java.util.Arrays.copyOf(y, 2 * n); next = java.util.Arrays.copyOf(next, 2 * n)
      }
      t(n) = tv; x(n) = xv; y(n) = yv; next(n) = -1
      if (head(e) < 0) head(e) = n else next(tail(e)) = n
      tail(e) = n
      n += 1
    }
  }

  /** A reusable run of (t, x, y) points and its stable order by t. */
  private final class Run {
    var n = 0
    var t = new Array[Double](16)
    var x = new Array[Double](16)
    var y = new Array[Double](16)
    var ord = new Array[Int](16)
    def clear(): Unit = n = 0
    def add(tv: Double, xv: Double, yv: Double): Unit = {
      if (n == t.length) {
        t = java.util.Arrays.copyOf(t, 2 * n); x = java.util.Arrays.copyOf(x, 2 * n)
        y = java.util.Arrays.copyOf(y, 2 * n); ord = java.util.Arrays.copyOf(ord, 2 * n)
      }
      t(n) = tv; x(n) = xv; y(n) = yv
      n += 1
    }
    /** Fills `ord(0 until n)` with the points' stable order by t. */
    def sortByT(): Unit = {
      var i = 0
      while (i < n) { ord(i) = i; i += 1 }
      StableSort.sort(ord, n, t, null)
    }
  }

  /** Step 2's cut points: every A×B edge pair whose bboxes come within
    * the proximity reach of each other, visited A-edge ascending, then
    * B-edge ascending, so each edge's cut list receives its entries in
    * the order of an all-pairs scan. Each pair is evaluated once, so
    * intersection points are bit-identical on both edges (both must
    * carry the EXACT coordinates, or ring assembly cannot chain across
    * the A/B boundary). All other pairs add nothing: the intersection
    * needs overlapping bboxes, and a proximity cut needs a vertex
    * within eps = epsRel·(1+|x|+|y|) of the other edge, which the pad
    * (the largest such eps plus a rounding allowance) covers. */
  private def nodePairs(all: Segs, nA: Int, epsRel: Double, cuts: Cuts): Unit = {
    val nB = all.n - nA
    if (nA == 0 || nB == 0) return
    var maxAbs = 0.0
    var k = 0
    while (k < all.n) {
      maxAbs = Math.max(maxAbs, Math.max(Math.abs(all.x1(k)) + Math.abs(all.y1(k)),
        Math.abs(all.x2(k)) + Math.abs(all.y2(k))))
      k += 1
    }
    val pad = epsRel * (1.0 + maxAbs) + 64 * Math.ulp(1.0 + maxAbs)
    if (!(pad < Double.PositiveInfinity)) {
      // a NaN or infinite ordinate: no finite pad bounds the reach
      var i = 0
      while (i < nA) { var j = nA; while (j < all.n) { nodePair(all, i, j, epsRel, cuts); j += 1 }; i += 1 }
      return
    }
    val pairs = candidatePairs(all, nA, pad)
    java.util.Arrays.sort(pairs.a, 0, pairs.n)
    k = 0
    while (k < pairs.n) {
      val p = pairs.a(k)
      nodePair(all, (p / nB).toInt, nA + (p % nB).toInt, epsRel, cuts)
      k += 1
    }
  }

  private final class LongBuf {
    var a = new Array[Long](64)
    var n = 0
    def add(v: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, 2 * n)
      a(n) = v
      n += 1
    }
  }

  /** Pairs (i, j), i an A-edge and j a B-edge, whose bboxes overlap
    * once A's is padded by `pad`, as keys i·nB + (j − nA): a sweep over
    * both edge sets sorted by min x, each pair reported once, by
    * whichever box starts first. */
  private def candidatePairs(all: Segs, nA: Int, pad: Double): LongBuf = {
    val n = all.n
    val nB = n - nA
    val lo = new Array[Double](n); val hi = new Array[Double](n)
    val ylo = new Array[Double](n); val yhi = new Array[Double](n)
    var k = 0
    while (k < n) {
      val p = if (k < nA) pad else 0.0
      lo(k) = Math.min(all.x1(k), all.x2(k)) - p; hi(k) = Math.max(all.x1(k), all.x2(k)) + p
      ylo(k) = Math.min(all.y1(k), all.y2(k)) - p; yhi(k) = Math.max(all.y1(k), all.y2(k)) + p
      k += 1
    }
    val as = StableSort.byKey(java.util.Arrays.copyOfRange(lo, 0, nA))
    val bs = StableSort.byKey(java.util.Arrays.copyOfRange(lo, nA, n))
    val out = new LongBuf
    @inline def report(i: Int, j: Int): Unit =
      if (ylo(i) <= yhi(j) && ylo(j) <= yhi(i)) out.add(i.toLong * nB + (j - nA))
    var ia = 0
    var ib = 0
    while (ia < nA && ib < nB) {
      val i = as(ia)
      val j = nA + bs(ib)
      if (lo(i) <= lo(j)) {
        var q = ib
        while (q < nB && lo(nA + bs(q)) <= hi(i)) { report(i, nA + bs(q)); q += 1 }
        ia += 1
      } else {
        var q = ia
        while (q < nA && lo(as(q)) <= hi(j)) { report(as(q), j); q += 1 }
        ib += 1
      }
    }
    out
  }

  /** One A×B pair: robust intersection points on both edges, then the
    * vertex-on-edge proximity cuts. */
  private def nodePair(all: Segs, i: Int, j: Int, epsRel: Double, cuts: Cuts): Unit = {
    val r = SegIntersect.intersection(all.x1(i), all.y1(i), all.x2(i), all.y2(i),
      all.x1(j), all.y1(j), all.x2(j), all.y2(j))
    if (r.kind == SegIntersect.SinglePointProper || r.kind == SegIntersect.SinglePointImproper) {
      cuts.add(i, param(all, i, r.x0, r.y0), r.x0, r.y0)
      cuts.add(j, param(all, j, r.x0, r.y0), r.x0, r.y0)
    } else if (r.kind == SegIntersect.CollinearOverlap) {
      cuts.add(i, param(all, i, r.x0, r.y0), r.x0, r.y0)
      cuts.add(i, param(all, i, r.x1, r.y1), r.x1, r.y1)
      cuts.add(j, param(all, j, r.x0, r.y0), r.x0, r.y0)
      cuts.add(j, param(all, j, r.x1, r.y1), r.x1, r.y1)
    }
    // vertex-on-edge proximity noding: real-world inputs carry
    // NEAR-collinear shared runs (exactly collinear only to ~1e-9),
    // where robust intersection reports nothing but one segment's
    // endpoint lies epsilon-close to the other's interior. Cut
    // there, or the uncut edge classifies "on" as a whole and the
    // genuinely-boundary remainder is lost (GEOS ticket-275 hole).
    proximityCut(all, i, all.x1(j), all.y1(j), epsRel, cuts)
    proximityCut(all, i, all.x2(j), all.y2(j), epsRel, cuts)
    proximityCut(all, j, all.x1(i), all.y1(i), epsRel, cuts)
    proximityCut(all, j, all.x2(i), all.y2(i), epsRel, cuts)
  }

  /** If point (px,py) lies within a relative epsilon of edge `k`'s
    * INTERIOR (not near either endpoint), record a cut at that point.
    * The cut carries the point's own coordinates; node
    * canonicalization merges the epsilon-twins afterwards. */
  @inline private def proximityCut(all: Segs, k: Int, px: Double, py: Double,
      epsRel: Double, cuts: Cuts): Unit = {
    val eps = epsRel * (1.0 + Math.abs(px) + Math.abs(py))
    val x1 = all.x1(k); val y1 = all.y1(k); val x2 = all.x2(k); val y2 = all.y2(k)
    if ((Math.abs(px - x1) <= eps && Math.abs(py - y1) <= eps) ||
        (Math.abs(px - x2) <= eps && Math.abs(py - y2) <= eps)) return
    if (Planar.pointSegWithin(px, py, x1, y1, x2, y2, eps)) {
      val t = param(all, k, px, py)
      if (t > 0.0 && t < 1.0) cuts.add(k, t, px, py)
    }
  }

  @inline private def param(all: Segs, k: Int, px: Double, py: Double): Double = {
    val dx = all.x2(k) - all.x1(k); val dy = all.y2(k) - all.y1(k)
    if (Math.abs(dx) >= Math.abs(dy)) { if (dx == 0.0) 0.0 else (px - all.x1(k)) / dx }
    else (py - all.y1(k)) / dy
  }

  /** Split every edge into sub-edges between consecutive cut points:
    * its cuts, then its own endpoints at t = 0 and 1, those with t in
    * [0, 1] in stable t order, dropping a point whose coordinates
    * equal the previous one's (several pairs can cut at the same point;
    * parameters may differ in ulps). */
  private def splitAtCuts(all: Segs, cuts: Cuts): Segs = {
    val out = new Segs(all.n + cuts.n)
    val run = new Run
    var i = 0
    while (i < all.n) {
      run.clear()
      var c = cuts.head(i)
      while (c >= 0) {
        if (cuts.t(c) >= 0.0 && cuts.t(c) <= 1.0) run.add(cuts.t(c), cuts.x(c), cuts.y(c))
        c = cuts.next(c)
      }
      run.add(0.0, all.x1(i), all.y1(i))
      run.add(1.0, all.x2(i), all.y2(i))
      run.sortByT()
      var px = run.x(run.ord(0)); var py = run.y(run.ord(0))
      var k = 1
      while (k < run.n) {
        val ex = run.x(run.ord(k)); val ey = run.y(run.ord(k))
        if (px != ex || py != ey) {
          out.add(px, py, ex, ey, all.src(i))
          px = ex; py = ey
        }
        k += 1
      }
      i += 1
    }
    out
  }

  /** Distinct points by `==` on both coordinates (so `0.0` and `-0.0`
    * are one point, which keeps its first-seen coordinates; a NaN
    * point is never found again), numbered in first-seen order. */
  private final class Nodes(maxPoints: Int) {
    var n = 0
    val x = new Array[Double](maxPoints)
    val y = new Array[Double](maxPoints)
    private val mask = Integer.highestOneBit(Math.max(4, 2 * maxPoints)) * 2 - 1
    private val slots = new Array[Int](mask + 1) // number + 1; 0 = empty
    /** The point's number, numbering it if it is new. */
    def id(px: Double, py: Double): Int = {
      val s = slot(px, py)
      if (slots(s) > 0) return slots(s) - 1
      x(n) = px; y(n) = py
      n += 1
      slots(s) = n
      n - 1
    }
    /** The point's number, or -1 if absent. */
    def find(px: Double, py: Double): Int = slots(slot(px, py)) - 1
    private def slot(px: Double, py: Double): Int = {
      // + 0.0 maps -0.0 to 0.0, so both hash alike
      var h = java.lang.Double.doubleToLongBits(px + 0.0) * 0x9E3779B97F4A7C15L +
        java.lang.Double.doubleToLongBits(py + 0.0)
      h = (h ^ (h >>> 33)) * 0xFF51AFD7ED558CCDL
      h = (h ^ (h >>> 33)) * 0xC4CEB9FE1A85EC53L
      var s = (h ^ (h >>> 33)).toInt & mask
      while (slots(s) > 0 && !(x(slots(s) - 1) == px && y(slots(s) - 1) == py)) s = (s + 1) & mask
      s
    }
  }

  /** Cluster sub-edge endpoints that are within a relative epsilon of
    * each other and rewrite every edge to its cluster representative.
    * Sweep over distinct points sorted by (x, y); each point adopts the
    * representative of the first earlier point within eps in both
    * coordinates (transitive chains collapse to the earliest point).
    * Edges whose endpoints merge are dropped. */
  private def canonicalizeNodes(subs: Segs, epsRel: Double): Segs = {
    if (subs.n == 0) return subs
    val nodes = new Nodes(2 * subs.n)
    val ends = new Array[Int](2 * subs.n)
    var k = 0
    while (k < subs.n) {
      ends(2 * k) = nodeOf(nodes, subs.x1(k), subs.y1(k))
      ends(2 * k + 1) = nodeOf(nodes, subs.x2(k), subs.y2(k))
      k += 1
    }
    val nx = nodes.x; val ny = nodes.y
    val order = Array.range(0, nodes.n)
    StableSort.sort(order, nodes.n, nx, ny)
    val rep = new Array[Int](nodes.n)
    var i = 0
    while (i < nodes.n) {
      val p = order(i)
      val eps = epsRel * (1.0 + Math.abs(nx(p)) + Math.abs(ny(p)))
      var j = i - 1
      rep(p) = p
      var found = false
      while (j >= 0 && !found && nx(p) - nx(order(j)) <= eps) {
        val q = order(j)
        if (Math.abs(ny(q) - ny(p)) <= eps) { rep(p) = rep(q); found = true }
        j -= 1
      }
      i += 1
    }
    val out = new Segs(subs.n)
    k = 0
    while (k < subs.n) {
      val a = rep(ends(2 * k))
      val b = rep(ends(2 * k + 1))
      if (a != b) out.add(nx(a), ny(a), nx(b), ny(b), subs.src(k))
      k += 1
    }
    out
  }

  /** A NaN endpoint cannot be canonicalized; it fails as a lookup of
    * an absent node. */
  private def nodeOf(nodes: Nodes, x: Double, y: Double): Int = {
    if (x != x || y != y) throw new NoSuchElementException(s"key not found: ($x,$y)")
    nodes.id(x, y)
  }

  /** Post-canonicalization re-noding: split every sub-edge at any
    * canonical node lying within the cluster epsilon of its INTERIOR.
    * When the two inputs split a (near-)shared run differently — A
    * into three pieces, B into one — the long piece has no exact-key
    * partner, the shared-edge pairing falls back to nudged
    * classification, and the selected edge set develops gaps that
    * dead-end the ring walk (GEOS-ticket corpus, pg-list: union of two
    * nearly-identical polygons returned EMPTY). Splitting both sides
    * at the same canonical nodes makes shared-run decompositions
    * identical, so pairing is exact again. */
  private def splitAtNodes(subs: Segs, epsRel: Double): ArrayBuffer[Edge] = {
    val out = ArrayBuffer[Edge]()
    if (subs.n == 0) return out
    val nodes = new Nodes(2 * subs.n)
    var k = 0
    while (k < subs.n) {
      nodes.id(subs.x1(k), subs.y1(k)); nodes.id(subs.x2(k), subs.y2(k))
      k += 1
    }
    val byX = StableSort.byKey(java.util.Arrays.copyOf(nodes.x, nodes.n))
    val xs = new Array[Double](nodes.n)
    val ys = new Array[Double](nodes.n)
    var maxAbs = 1.0
    k = 0
    while (k < nodes.n) {
      xs(k) = nodes.x(byX(k)); ys(k) = nodes.y(byX(k))
      maxAbs = Math.max(maxAbs, Math.abs(xs(k)) + Math.abs(ys(k)))
      k += 1
    }
    val epsMax = epsRel * (1.0 + maxAbs)
    // a node cut into an edge lies within its eps (at most epsMax) of a
    // point on the edge, so in y too within epsMax of the edge's range
    // (plus rounding)
    val reachY = epsMax * (1 + 1e-12) + 64 * Math.ulp(1.0 + maxAbs)
    val run = new Run
    k = 0
    while (k < subs.n) {
      val x1 = subs.x1(k); val y1 = subs.y1(k); val x2 = subs.x2(k); val y2 = subs.y2(k)
      run.clear()
      val minx = Math.min(x1, x2) - epsMax
      val maxx = Math.max(x1, x2) + epsMax
      val miny = Math.min(y1, y2) - reachY
      val maxy = Math.max(y1, y2) + reachY
      // first node with x >= minx
      var q = 0
      var end = xs.length
      while (q < end) { val m = (q + end) >>> 1; if (xs(m) < minx) q = m + 1 else end = m }
      val dx = x2 - x1
      val dy = y2 - y1
      val len2 = dx * dx + dy * dy
      while (q < xs.length && xs(q) <= maxx) {
        val nx = xs(q); val ny = ys(q)
        if (ny >= miny && ny <= maxy &&
            !(nx == x1 && ny == y1) && !(nx == x2 && ny == y2) && len2 > 0) {
          val t = ((nx - x1) * dx + (ny - y1) * dy) / len2
          if (t > 0 && t < 1) {
            val ddx = nx - (x1 + t * dx)
            val ddy = ny - (y1 + t * dy)
            val eps = epsRel * (1.0 + Math.abs(nx) + Math.abs(ny))
            if (ddx * ddx + ddy * ddy <= eps * eps) run.add(t, nx, ny)
          }
        }
        q += 1
      }
      val src = subs.src(k)
      if (run.n == 0) out += Edge(x1, y1, x2, y2, src)
      else {
        run.sortByT()
        var px = x1; var py = y1
        var c = 0
        while (c < run.n) {
          val x = run.x(run.ord(c)); val y = run.y(run.ord(c))
          if (x != px || y != py) out += Edge(px, py, x, y, src)
          px = x; py = y
          c += 1
        }
        if (px != x2 || py != y2) out += Edge(px, py, x2, y2, src)
      }
      k += 1
    }
    out
  }

  /** Step 4: the per-operation selection rule. */
  private def selectFrom(subs: ArrayBuffer[Edge], cls: Array[Int],
      a0: FlatGeom, b0: FlatGeom, op: Int, epsRel: Double): ArrayBuffer[Edge] = {
    // shared-edge pairing: key by undirected endpoints, as the node
    // numbers (low, high) of the two ends
    val nodes = new Nodes(2 * subs.length)
    val lo = new Array[Int](subs.length)
    val hi = new Array[Int](subs.length)
    var i = 0
    while (i < subs.length) {
      val a = nodes.id(subs(i).x1, subs(i).y1)
      val b = nodes.id(subs(i).x2, subs(i).y2)
      lo(i) = Math.min(a, b); hi(i) = Math.max(a, b)
      i += 1
    }
    val pairs = new Nodes(subs.length)
    val onA = new Array[Int](subs.length) // pair -> index of the last A on-edge
    i = 0
    while (i < subs.length) {
      if (cls(i) == 1 && subs(i).source == 0) onA(pairs.id(lo(i), hi(i))) = i
      i += 1
    }
    def partnerA(k: Int): Int = { val p = pairs.find(lo(k), hi(k)); if (p < 0) -1 else onA(p) }

    // selection
    val selected = ArrayBuffer[Edge]()
    i = 0
    while (i < subs.length) {
      val e = subs(i)
      val c = cls(i)
      if (c == 1) {
        // handle shared edges from the A side only (keep one copy)
        if (e.source == 1) {
          val ai = partnerA(i)
          if (ai >= 0) {
            val ae = subs(ai)
            val sameDir = (ae.x1 == e.x1 && ae.y1 == e.y1 && ae.x2 == e.x2 && ae.y2 == e.y2)
            val keep = op match {
              case OpIntersection => sameDir
              case OpUnion => sameDir
              case OpDifference => !sameDir
              case _ => false
            }
            if (keep) selected += ae
          } else {
            // B-edge on A's boundary with no exact A partner (partial
            // overlap split differently) — treat by nudged midpoint
            val c2 = classifyNudged(if (e.source == 1) a0 else b0, e, epsRel)
            val keepB = op match {
              case OpIntersection => c2 == 0
              case OpUnion => c2 == 2
              case OpDifference => c2 == 0
              case _ => false
            }
            if (keepB) selected += (if (op == OpDifference) Edge(e.x2, e.y2, e.x1, e.y1, 1) else e)
          }
        } else if (partnerA(i) < 0) {
          // A-edge on B's boundary with no B partner. For union, keep
          // it unless it is strictly INSIDE B: a near-shared run whose
          // nudged probe still lands "on" is part of the union's
          // boundary, and dropping it gaps the ring walk / loses area
          // (GEOS-ticket pg-list: union of two nearly-identical
          // polygons). The B copy of such a run, if also unpaired,
          // stays subject to the strict c2 == 2 rule, so no branching.
          val c2 = classifyNudged(b0, e, epsRel)
          val keep = op match {
            case OpIntersection => c2 == 0
            case OpUnion => c2 != 0
            case OpDifference => c2 == 2
            case _ => false
          }
          if (keep) selected += e
        }
        // A-edges with B partners are emitted when scanning the B copy
      } else {
        val keep = (op, e.source, c) match {
          case (OpIntersection, 0, 0) => true // A-edge in B
          case (OpIntersection, 1, 0) => true // B-edge in A
          case (OpUnion, 0, 2) => true // A-edge out of B
          case (OpUnion, 1, 2) => true // B-edge out of A
          case (OpDifference, 0, 2) => true // A-edge out of B
          case (OpDifference, 1, 0) => true // B-edge in A (reversed)
          case _ => false
        }
        if (keep) {
          if (op == OpDifference && e.source == 1)
            selected += Edge(e.x2, e.y2, e.x1, e.y1, 1)
          else selected += e
        }
      }
      i += 1
    }

    selected
  }

  private val emptyMp = FlatGeom.multiPolygon(Nil)

  private def asMultiPolygon(g: FlatGeom): FlatGeom = g.kind match {
    case GeomKind.MultiPolygon => g
    case GeomKind.Polygon => FlatGeom.multiPolygon(Seq(g))
    case _ => emptyMp
  }

  /** 0=in 1=on 2=out, tolerant near the boundary: "on" when any edge
    * of `g` lies within tol, and always for an infinite tol (the
    * nearest distance is at most +inf even when every distance is NaN
    * or `g` has no edge). `gMax` is `g`'s largest |ordinate|. */
  private def classify(g: FlatGeom, gMax: Double, x: Double, y: Double, epsRel: Double): Int = {
    val tol = epsRel * (1.0 + Math.abs(x) + Math.abs(y))
    if (tol == Double.PositiveInfinity || nearBoundary(g, gMax, x, y, tol)) 1
    else Planar.coordPos(g, x, y) match {
      case Planar.Inside => 0
      case Planar.OnBoundary => 1
      case _ => 2
    }
  }

  private def nearBoundary(g: FlatGeom, gMax: Double, x: Double, y: Double, tol: Double): Boolean = {
    // pointSegWithin's bbox margin, widened to hold for every edge of
    // g, rejects most edges before the call
    val m = tol * (1 + 1e-12) + 1e-14 * (Math.abs(x) + Math.abs(y) + 4 * gMax)
    val cs = g.coords
    var s = 0
    var r = 0
    while (r < g.rings.length) {
      val e = g.rings(r)
      var i = s
      while (i < e - 1) {
        val x1 = cs(2 * i); val y1 = cs(2 * i + 1); val x2 = cs(2 * i + 2); val y2 = cs(2 * i + 3)
        if (!(x - x1 > m && x - x2 > m) && !(x1 - x > m && x2 - x > m) &&
            !(y - y1 > m && y - y2 > m) && !(y1 - y > m && y2 - y > m) &&
            Planar.pointSegWithin(x, y, x1, y1, x2, y2, tol)) return true
        i += 1
      }
      s = e
      r += 1
    }
    false
  }

  private def maxAbsOrdinate(g: FlatGeom): Double = {
    var m = 0.0
    var k = 0
    while (k < g.coords.length) { m = Math.max(m, Math.abs(g.coords(k))); k += 1 }
    m
  }

  /** For an on-boundary edge, nudge the midpoint to the edge's LEFT
    * (its interior side) and classify that — decides whether the
    * interiors locally agree. */
  private def classifyNudged(other: FlatGeom, e: Edge, epsRel: Double): Int = {
    val mx = (e.x1 + e.x2) / 2.0
    val my = (e.y1 + e.y2) / 2.0
    val len = Math.hypot(e.x2 - e.x1, e.y2 - e.y1)
    if (len == 0) return 2
    // nudge two decades past the pass's boundary fuzz: far enough to
    // clear it, close enough not to leap over sub-sliver features
    val eps = (epsRel * 100) * (1.0 + Math.abs(mx) + Math.abs(my))
    val nx = -(e.y2 - e.y1) / len * eps
    val ny = (e.x2 - e.x1) / len * eps
    Planar.coordPos(other, mx + nx, my + ny) match {
      case Planar.Inside => 0
      case Planar.OnBoundary => 1
      case _ => 2
    }
  }

  /** Trace faces from interior-left edges: at each node continue with
    * the sharpest-left outgoing edge; CCW rings = shells, CW = holes;
    * assign holes to containing shells. */
  /** Returns (result, dropped): `dropped` is true when any ring walk
    * dead-ended and its partial ring was discarded — the tight-pass
    * failure signal that triggers the coarse-tolerance retry. */
  private[graft] def assemble(edges: ArrayBuffer[Edge]): (FlatGeom, Boolean) = {
    var droppedAny = false
    if (edges.isEmpty) return (emptyMp, false)
    val used = new Array[Boolean](edges.length)
    // edge indices grouped by start node, ascending within a group
    val nodes = new Nodes(edges.length)
    val startOf = new Array[Int](edges.length)
    var i = 0
    while (i < edges.length) { startOf(i) = nodes.id(edges(i).x1, edges(i).y1); i += 1 }
    val first = new Array[Int](nodes.n + 1)
    i = 0
    while (i < edges.length) { first(startOf(i) + 1) += 1; i += 1 }
    i = 0
    while (i < nodes.n) { first(i + 1) += first(i); i += 1 }
    val byStart = new Array[Int](edges.length)
    val fill = java.util.Arrays.copyOf(first, nodes.n)
    i = 0
    while (i < edges.length) { byStart(fill(startOf(i))) = i; fill(startOf(i)) += 1; i += 1 }

    val ringsOut = ArrayBuffer[Array[Double]]()
    var ring = new Array[Double](16)
    var rn = 0
    def push(x: Double, y: Double): Unit = {
      if (rn + 2 > ring.length) ring = java.util.Arrays.copyOf(ring, 2 * ring.length)
      ring(rn) = x; ring(rn + 1) = y
      rn += 2
    }
    i = 0
    while (i < edges.length) {
      if (!used(i)) {
        rn = 0
        var cur = i
        var guard = edges.length + 5
        var closed = false
        push(edges(i).x1, edges(i).y1)
        while (!closed && guard > 0) {
          guard -= 1
          used(cur) = true
          val e = edges(cur)
          push(e.x2, e.y2)
          if (e.x2 == edges(i).x1 && e.y2 == edges(i).y1 && rn >= 8) {
            closed = true
          } else {
            // unused edges leaving the end node, in index order
            val node = nodes.find(e.x2, e.y2)
            val from = if (node < 0) 0 else first(node)
            val until = if (node < 0) 0 else first(node + 1)
            var outs = 0
            var only = -1
            var q = from
            while (q < until) { if (!used(byStart(q))) { outs += 1; if (only < 0) only = byStart(q) }; q += 1 }
            if (outs == 0) {
              if (System.getenv("GRAFT_OVERLAY_DEBUG") != null)
                System.err.println(s"[assemble] dead end at (${e.x2},${e.y2}) ringLen=${rn / 2}")
              closed = true; rn = 0; droppedAny = true
            } // dead end: drop
            else if (outs == 1) cur = only
            else {
              // sharpest left turn relative to incoming direction
              val inAng = Math.atan2(e.y2 - e.y1, e.x2 - e.x1)
              var bestK = only
              var bestTurn = Double.PositiveInfinity
              q = from
              while (q < until) {
                val k = byStart(q)
                if (!used(k)) {
                  val o = edges(k)
                  val outAng = Math.atan2(o.y2 - o.y1, o.x2 - o.x1)
                  // turn angle measured clockwise from incoming dir, in (0, 2π]
                  var turn = inAng + Math.PI - outAng
                  while (turn <= 0) turn += 2 * Math.PI
                  while (turn > 2 * Math.PI) turn -= 2 * Math.PI
                  if (turn < bestTurn) { bestTurn = turn; bestK = k }
                }
                q += 1
              }
              cur = bestK
            }
          }
        }
        if (rn >= 8) ringsOut += java.util.Arrays.copyOf(ring, rn)
      }
      i += 1
    }

    // filter degenerate (zero-area) rings
    val real = ringsOut.filter(r => Math.abs(Planar.twiceSignedRingArea(r, 0, r.length / 2)) > 0)
    if (real.isEmpty) return (emptyMp, droppedAny)
    val shells = ArrayBuffer[Array[Double]]()
    val holes = ArrayBuffer[Array[Double]]()
    real.foreach { r =>
      if (Planar.ringWinding(r, 0, r.length / 2) == Planar.CCW) shells += r else holes += r
    }
    if (shells.isEmpty) return (emptyMp, droppedAny)
    // Assign each hole to the smallest STRICTLY containing shell. A
    // hole may touch a candidate shell's boundary at shared nodes
    // (e.g. a shell nested inside the hole of a sibling part sharing a
    // vertex), so the test point must be a hole point that is NOT on
    // that shell's boundary: probe vertices then edge midpoints until
    // one classifies strictly Inside/Outside.
    val shellPolys = shells.map(s => FlatGeom.polygon(s))
    val holeAssign = Array.fill(shells.length)(ArrayBuffer[Array[Double]]())
    holes.foreach { h =>
      val n = h.length / 2
      def strictlyInside(shell: FlatGeom): Boolean = {
        var i = 0
        while (i < n) {
          Planar.coordPos(shell, h(2 * i), h(2 * i + 1)) match {
            case Planar.Inside => return true
            case Planar.Outside => return false
            case _ => ()
          }
          i += 1
        }
        i = 0
        while (i < n - 1) {
          val mx = (h(2 * i) + h(2 * i + 2)) / 2.0
          val my = (h(2 * i + 1) + h(2 * i + 3)) / 2.0
          Planar.coordPos(shell, mx, my) match {
            case Planar.Inside => return true
            case Planar.Outside => return false
            case _ => ()
          }
          i += 1
        }
        false // every probe on the boundary: hole coincides with shell
      }
      var best = -1
      var bestArea = Double.PositiveInfinity
      var s = 0
      while (s < shellPolys.length) {
        if (strictlyInside(shellPolys(s))) {
          val ar = Planar.unsignedArea(shellPolys(s))
          if (ar < bestArea) { bestArea = ar; best = s }
        }
        s += 1
      }
      if (best >= 0) holeAssign(best) += h
    }
    (FlatGeom.multiPolygon(shells.indices.map(s =>
      FlatGeom.polygon(shells(s), holeAssign(s).toSeq))), droppedAny)
  }

  // ------------------------------------------------------ line clip

  /** 1-D boolean: clip the line parts of `line` by polygon `poly`
    * (bool_ops/mod.rs:86-106 clip): invert=false keeps parts inside,
    * invert=true keeps parts outside. */
  def clip(poly: FlatGeom, line: FlatGeom, invert: Boolean): FlatGeom = {
    val pieces = ArrayBuffer[Array[Double]]()
    var cur = ArrayBuffer[Double]()
    def flush(): Unit = {
      if (cur.length >= 4) pieces += cur.toArray
      cur = ArrayBuffer[Double]()
    }
    FlatGeom.foreachRing(line) { (s, e) =>
      var i = s
      while (i < e - 1) {
        val x1 = line.x(i); val y1 = line.y(i); val x2 = line.x(i + 1); val y2 = line.y(i + 1)
        // split this segment at poly boundary crossings
        val ts = ArrayBuffer(0.0, 1.0)
        FlatGeom.foreachRing(poly) { (ps, pe) =>
          var j = ps
          while (j < pe - 1) {
            val r = SegIntersect.intersection(x1, y1, x2, y2,
              poly.x(j), poly.y(j), poly.x(j + 1), poly.y(j + 1))
            if (r.kind == SegIntersect.SinglePointProper || r.kind == SegIntersect.SinglePointImproper) {
              val dx = x2 - x1; val dy = y2 - y1
              val t = if (Math.abs(dx) >= Math.abs(dy)) { if (dx == 0) 0.0 else (r.x0 - x1) / dx }
                else (r.y0 - y1) / dy
              ts += t
            } else if (r.kind == SegIntersect.CollinearOverlap) {
              val dx = x2 - x1; val dy = y2 - y1
              def tOf(px: Double, py: Double) =
                if (Math.abs(dx) >= Math.abs(dy)) { if (dx == 0) 0.0 else (px - x1) / dx }
                else (py - y1) / dy
              ts += tOf(r.x0, r.y0); ts += tOf(r.x1, r.y1)
            }
            j += 1
          }
        }
        val sorted = ts.filter(t => t >= 0 && t <= 1).distinct.sorted
        var k = 0
        while (k < sorted.length - 1) {
          val t0 = sorted(k); val t1 = sorted(k + 1)
          val sx = x1 + t0 * (x2 - x1); val sy = y1 + t0 * (y2 - y1)
          val ex = x1 + t1 * (x2 - x1); val ey = y1 + t1 * (y2 - y1)
          val mx = (sx + ex) / 2.0; val my = (sy + ey) / 2.0
          val inside = Planar.coordPos(poly, mx, my) != Planar.Outside
          if (inside != invert) {
            if (cur.isEmpty || cur(cur.length - 2) != sx || cur(cur.length - 1) != sy) {
              flush()
              cur += sx; cur += sy
            }
            cur += ex; cur += ey
          } else flush()
          k += 1
        }
        i += 1
      }
      flush()
    }
    flush()
    // JTS/i_overlay semantics: the clipped linework is DEDUPLICATED —
    // a line that traverses the same span twice contributes it once.
    // Explode pieces into direction-normalized segments, drop exact
    // duplicates, and chain consecutive segments back into lines.
    val segSet = scala.collection.mutable.LinkedHashSet[(Double, Double, Double, Double)]()
    pieces.foreach { cs =>
      var k = 0
      while (k < cs.length - 2) {
        val (ax, ay, bx, by) = (cs(k), cs(k + 1), cs(k + 2), cs(k + 3))
        if (!(ax == bx && ay == by)) {
          segSet += (if (ax < bx || (ax == bx && ay <= by)) (ax, ay, bx, by)
                     else (bx, by, ax, ay))
        }
        k += 2
      }
    }
    // chain segments: walk from endpoints with degree 1, then leftovers
    val succ = scala.collection.mutable.Map[(Double, Double), ArrayBuffer[(Double, Double, Double, Double)]]()
    segSet.foreach { sgm =>
      succ.getOrElseUpdate((sgm._1, sgm._2), ArrayBuffer.empty) += sgm
      succ.getOrElseUpdate((sgm._3, sgm._4), ArrayBuffer.empty) += sgm
    }
    val used = scala.collection.mutable.HashSet[(Double, Double, Double, Double)]()
    val chains = ArrayBuffer[Array[Double]]()
    def walk(startSeg: (Double, Double, Double, Double), from: (Double, Double)): Unit = {
      val chain = ArrayBuffer[Double](from._1, from._2)
      var seg = startSeg
      var at = from
      var done = false
      while (!done) {
        used += seg
        val next = if ((seg._1, seg._2) == at) (seg._3, seg._4) else (seg._1, seg._2)
        chain += next._1; chain += next._2
        at = next
        succ(at).find(c => !used.contains(c)) match {
          case Some(c) => seg = c
          case None => done = true
        }
      }
      chains += chain.toArray
    }
    // prefer starting at odd-degree endpoints (open chain ends)
    segSet.foreach { sgm =>
      if (!used.contains(sgm)) {
        val d1 = succ((sgm._1, sgm._2)).count(c => !used.contains(c))
        val d2 = succ((sgm._3, sgm._4)).count(c => !used.contains(c))
        if (d1 == 1) walk(sgm, (sgm._1, sgm._2))
        else if (d2 == 1) walk(sgm, (sgm._3, sgm._4))
      }
    }
    segSet.foreach { sgm => if (!used.contains(sgm)) walk(sgm, (sgm._1, sgm._2)) }
    FlatGeom.multiLineString(chains.toSeq)
  }

  /** n-way union by left fold (the tree-aggregation shape used by the
    * distributed union aggregate; bool_ops/mod.rs:152 unary_union). */
  def unaryUnion(gs: Seq[FlatGeom]): FlatGeom =
    gs.filterNot(_.isEmpty).foldLeft(emptyMp)((acc, g) => booleanOp(acc, g, OpUnion))

  /** Balanced pairwise union (the CascadedPolygonUnion shape): depth
    * O(log n) instead of the linear fold's O(n), which keeps
    * intermediate results small and is the collapse step of the
    * distributed union aggregate. */
  def treeUnion(gs: Seq[FlatGeom]): FlatGeom = {
    var layer = gs.filterNot(_.isEmpty).toIndexedSeq
    if (layer.isEmpty) return emptyMp
    while (layer.length > 1) {
      layer = layer.grouped(2).map {
        case Seq(a, b) => booleanOp(a, b, OpUnion)
        case Seq(a)    => a
      }.toIndexedSeq
    }
    layer.head
  }
}
