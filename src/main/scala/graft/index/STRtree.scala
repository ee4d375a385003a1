package graft.index

import scala.collection.mutable.ArrayBuffer
import graft.core.StableSort

/**
 * Packed Sort-Tile-Recursive R-tree over item bounding boxes — the
 * per-executor local index standing in for the reference's lazily-built
 * R*-tree of segments / cached envelopes
 * (geo/src/algorithm/relate/geomgraph/geometry_graph.rs:49,
 * euclidean_distance.rs:8-10). Build once (e.g. on a broadcast value via
 * `@transient lazy val`), query many times per task.
 *
 * STR packing: Leutenegger, Lopez & Edgington, "STR: A Simple and
 * Efficient Algorithm for R-Tree Packing", ICDE 1997.
 */
final class STRtree private (
    nodeMinX: Array[Double], nodeMinY: Array[Double],
    nodeMaxX: Array[Double], nodeMaxY: Array[Double],
    childStart: Array[Int], childEnd: Array[Int],
    leafItem: Array[Int], // item index per leaf-slot, -1 for internal
    root: Int) extends Serializable {

  /** Item indices whose bbox intersects the query bbox. */
  def query(minX: Double, minY: Double, maxX: Double, maxY: Double): Array[Int] = {
    val out = new ArrayBuffer[Int]()
    val stack = new java.util.ArrayDeque[Integer]()
    stack.push(root)
    while (!stack.isEmpty) {
      val n = stack.pop()
      if (!(nodeMaxX(n) < minX || nodeMinX(n) > maxX || nodeMaxY(n) < minY || nodeMinY(n) > maxY)) {
        if (leafItem(n) >= 0) out += leafItem(n)
        else {
          var c = childStart(n)
          while (c < childEnd(n)) { stack.push(c); c += 1 }
        }
      }
    }
    out.toArray
  }

  /** Distance from a point to a node's bbox (0 if inside). */
  @inline private def bboxDist(n: Int, x: Double, y: Double): Double = {
    val dx = if (x < nodeMinX(n)) nodeMinX(n) - x else if (x > nodeMaxX(n)) x - nodeMaxX(n) else 0.0
    val dy = if (y < nodeMinY(n)) nodeMinY(n) - y else if (y > nodeMaxY(n)) y - nodeMaxY(n) else 0.0
    Math.hypot(dx, dy)
  }

  /** Branch-and-bound nearest distance from (x, y): best-first search
    * over nodes ordered by bbox distance (a lower bound on any item
    * inside); `exact` computes the true item distance at leaves. Stops
    * as soon as the nearest unexplored bbox cannot beat the best exact
    * distance found. `bound` seeds the search (pass a running minimum
    * to prune across multiple queries). */
  def nearestDist(x: Double, y: Double, bound: Double, exact: Int => Double): Double = {
    var best = bound
    val pq = new java.util.PriorityQueue[(Double, Int)](
      11, (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
    pq.add((bboxDist(root, x, y), root))
    while (!pq.isEmpty) {
      val (d, n) = pq.poll()
      if (d >= best) return best
      if (leafItem(n) >= 0) {
        val e = exact(leafItem(n))
        if (e < best) best = e
      } else {
        var c = childStart(n)
        while (c < childEnd(n)) {
          val cd = bboxDist(c, x, y)
          if (cd < best) pq.add((cd, c))
          c += 1
        }
      }
    }
    best
  }

  /** Up to k item indices by ascending bbox distance from (x, y) —
    * refine with exact distances downstream. */
  def nearestK(x: Double, y: Double, k: Int): Array[Int] = {
    val pq = new java.util.PriorityQueue[(Double, Int)](
      11, (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
    val out = new ArrayBuffer[Int](k)
    pq.add((bboxDist(root, x, y), root))
    while (!pq.isEmpty && out.length < k) {
      val (_, n) = pq.poll()
      if (leafItem(n) >= 0) out += leafItem(n)
      else {
        var c = childStart(n)
        while (c < childEnd(n)) { pq.add((bboxDist(c, x, y), c)); c += 1 }
      }
    }
    out.toArray
  }
}

object STRtree {
  private final val NodeCapacity = 10

  /** Tree over a geometry's segments plus the segment-endpoint arrays
    * (parallel to the tree's item indices) — the shared builder for
    * the distance and relate large-pair paths. */
  def ofSegments(g: graft.core.FlatGeom): (STRtree, Array[Double], Array[Double], Array[Double], Array[Double]) = {
    var n = 0
    graft.core.FlatGeom.foreachRing(g)((s, e) => n += Math.max(0, e - s - 1))
    val x1 = new Array[Double](n); val y1 = new Array[Double](n)
    val x2 = new Array[Double](n); val y2 = new Array[Double](n)
    var k = 0
    graft.core.FlatGeom.foreachRing(g) { (s, e) =>
      var j = s
      while (j < e - 1) {
        x1(k) = g.x(j); y1(k) = g.y(j); x2(k) = g.x(j + 1); y2(k) = g.y(j + 1)
        k += 1
        j += 1
      }
    }
    val minX = new Array[Double](n); val minY = new Array[Double](n)
    val maxX = new Array[Double](n); val maxY = new Array[Double](n)
    k = 0
    while (k < n) {
      minX(k) = Math.min(x1(k), x2(k)); maxX(k) = Math.max(x1(k), x2(k))
      minY(k) = Math.min(y1(k), y2(k)); maxY(k) = Math.max(y1(k), y2(k))
      k += 1
    }
    (build(minX, minY, maxX, maxY), x1, y1, x2, y2)
  }

  /** Build from item bboxes (minX, minY, maxX, maxY arrays, same length). */
  def build(minX: Array[Double], minY: Array[Double],
      maxX: Array[Double], maxY: Array[Double]): STRtree = {
    val n = minX.length
    if (n == 0) {
      return new STRtree(Array(0.0), Array(0.0), Array(-1.0), Array(-1.0),
        Array(0), Array(0), Array(-1), 0)
    }
    // layout: leaves first [0, n), then internal levels appended
    var total = n
    var width = n
    while (width > 1) { width = (width + NodeCapacity - 1) / NodeCapacity; total += width }
    val nmx = new Array[Double](total); val nmy = new Array[Double](total)
    val nMx = new Array[Double](total); val nMy = new Array[Double](total)
    val cs = new Array[Int](total); val ce = new Array[Int](total)
    val li = new Array[Int](total)

    // STR: sort by center-x, slice into sqrt(n/cap) vertical slabs,
    // sort each slab by center-y, pack runs of `cap` (stable sorts, so
    // equal centers keep item order)
    val cx = new Array[Double](n); val cy = new Array[Double](n)
    var i = 0
    while (i < n) { cx(i) = minX(i) + maxX(i); cy(i) = minY(i) + maxY(i); i += 1 }
    val order = StableSort.byKey(cx)
    // create leaf nodes in STR order
    val sliceCount = Math.max(1, Math.ceil(Math.sqrt(n.toDouble / NodeCapacity)).toInt)
    val sliceSize = Math.max(1, Math.ceil(n.toDouble / sliceCount).toInt)
    var count = 0
    var s = 0
    while (s < n) {
      val e = Math.min(n, s + sliceSize)
      val slab = java.util.Arrays.copyOfRange(order, s, e)
      StableSort.sort(slab, slab.length, cy, null)
      slab.foreach { i =>
        nmx(count) = minX(i); nmy(count) = minY(i); nMx(count) = maxX(i); nMy(count) = maxY(i)
        cs(count) = -1; ce(count) = -1; li(count) = i
        count += 1
      }
      s = e
    }
    // build upward: the current level is the node ids [from, until)
    var from = 0
    var until = count
    while (until - from > 1) {
      var i = from
      while (i < until) {
        val e = Math.min(until, i + NodeCapacity)
        var mnx = Double.PositiveInfinity; var mny = Double.PositiveInfinity
        var mxx = Double.NegativeInfinity; var mxy = Double.NegativeInfinity
        var c = i
        while (c < e) {
          if (nmx(c) < mnx) mnx = nmx(c)
          if (nmy(c) < mny) mny = nmy(c)
          if (nMx(c) > mxx) mxx = nMx(c)
          if (nMy(c) > mxy) mxy = nMy(c)
          c += 1
        }
        nmx(count) = mnx; nmy(count) = mny; nMx(count) = mxx; nMy(count) = mxy
        cs(count) = i; ce(count) = e
        li(count) = -1
        count += 1
        i = e
      }
      from = until
      until = count
    }
    // children of an internal node are contiguous ids: each level's
    // nodes are appended consecutively and packed in order.
    new STRtree(nmx, nmy, nMx, nMy, cs, ce, li, from)
  }
}
