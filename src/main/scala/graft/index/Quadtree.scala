package graft.index

import java.util.{PriorityQueue => JPriorityQueue}

import graft.kernels.Sphere

/**
 * PR point quadtree over lon/lat for the LOCAL refine step of the
 * cell-covered kNN join (the north rule's "S2 cell covering + local
 * quadtree refine" shape; the reference's analogue is the in-memory
 * rstar index it builds per query, geo/src/algorithm/outlier_detection.rs:131).
 *
 * The tree SUBDIVIDES in planar lon/lat space (cheap, cache-friendly)
 * but PRUNES in exact spherical metric: every node maintains the 3-D
 * axis-aligned bounding box of the unit-sphere vectors of its points,
 * and the kNN search lower-bounds a node by the chord distance from
 * the query's unit vector to that box, converted to great-circle
 * meters (chord and haversine are monotone transforms of the central
 * angle, so the bound is exact). This keeps the search correct at the
 * poles and across the antimeridian, where lon/lat rectangles lie
 * about spherical proximity — a wrapped cell neighbourhood may hold
 * points at lon -179.9 and +179.9 that are near-coincident on the
 * sphere; their 3-D AABB is tight even though the planar subdivision
 * splits them.
 *
 * Candidates are ordered by (haversine meters — computed with the SAME
 * kernel as `st_distance_sphere` for bit-identical ordering with the
 * window-based joins — then key), so results are deterministic at any
 * parallelism.
 */
final class Quadtree(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
    leafCap: Int = 16) {

  private final val MaxDepth = 32

  private final class Node(val cx: Double, val cy: Double,
      val hw: Double, val hh: Double, val depth: Int) {
    var lons: Array[Double] = new Array[Double](leafCap)
    var lats: Array[Double] = new Array[Double](leafCap)
    var keys: Array[Long] = new Array[Long](leafCap)
    var n: Int = 0
    var kids: Array[Node] = _ // null while leaf; NW,NE,SW,SE once split
    // 3-D AABB of contained points' unit vectors (for spherical pruning)
    var x0 = Double.PositiveInfinity; var y0 = Double.PositiveInfinity; var z0 = Double.PositiveInfinity
    var x1 = Double.NegativeInfinity; var y1 = Double.NegativeInfinity; var z1 = Double.NegativeInfinity
  }

  private val root = new Node((minLon + maxLon) / 2, (minLat + maxLat) / 2,
    Math.max((maxLon - minLon) / 2, 1e-12), Math.max((maxLat - minLat) / 2, 1e-12), 0)
  private var count = 0

  def size: Int = count

  def insert(lon: Double, lat: Double, key: Long): Unit = {
    val phi = Math.toRadians(lat); val lam = Math.toRadians(lon)
    val cp = Math.cos(phi)
    insertAt(root, lon, lat, key, cp * Math.cos(lam), cp * Math.sin(lam), Math.sin(phi))
    count += 1
  }

  @annotation.tailrec
  private def insertAt(node: Node, lon: Double, lat: Double, key: Long,
      px: Double, py: Double, pz: Double): Unit = {
    if (px < node.x0) node.x0 = px; if (px > node.x1) node.x1 = px
    if (py < node.y0) node.y0 = py; if (py > node.y1) node.y1 = py
    if (pz < node.z0) node.z0 = pz; if (pz > node.z1) node.z1 = pz
    if (node.kids == null) {
      if (node.n < node.lons.length) {
        node.lons(node.n) = lon; node.lats(node.n) = lat; node.keys(node.n) = key
        node.n += 1
      } else if (node.depth >= MaxDepth) {
        // depth cap (duplicate-coordinate guard): grow the leaf instead
        node.lons = java.util.Arrays.copyOf(node.lons, node.n * 2)
        node.lats = java.util.Arrays.copyOf(node.lats, node.n * 2)
        node.keys = java.util.Arrays.copyOf(node.keys, node.n * 2)
        node.lons(node.n) = lon; node.lats(node.n) = lat; node.keys(node.n) = key
        node.n += 1
      } else {
        split(node)
        insertAt(child(node, lon, lat), lon, lat, key, px, py, pz)
      }
    } else insertAt(child(node, lon, lat), lon, lat, key, px, py, pz)
  }

  private def child(node: Node, lon: Double, lat: Double): Node = {
    val east = lon >= node.cx; val north = lat >= node.cy
    node.kids((if (north) 0 else 2) + (if (east) 1 else 0))
  }

  private def split(node: Node): Unit = {
    val hw = node.hw / 2; val hh = node.hh / 2; val d = node.depth + 1
    node.kids = Array(
      new Node(node.cx - hw, node.cy + hh, hw, hh, d), // NW
      new Node(node.cx + hw, node.cy + hh, hw, hh, d), // NE
      new Node(node.cx - hw, node.cy - hh, hw, hh, d), // SW
      new Node(node.cx + hw, node.cy - hh, hw, hh, d)) // SE
    var i = 0
    while (i < node.n) {
      val lon = node.lons(i); val lat = node.lats(i)
      val phi = Math.toRadians(lat); val lam = Math.toRadians(lon)
      val cp = Math.cos(phi)
      insertAt(child(node, lon, lat), lon, lat, node.keys(i),
        cp * Math.cos(lam), cp * Math.sin(lam), Math.sin(phi))
      i += 1
    }
    node.n = 0; node.lons = null; node.lats = null; node.keys = null
  }

  /** Great-circle-meter lower bound from the query unit vector to a
    * node's 3-D point AABB: squared chord distance to the box, then
    * chord → central angle → meters (all monotone, hence exact); a
    * 1-ulp-scale shrink keeps rounding from over-pruning. */
  private def boundMeters(node: Node, qx: Double, qy: Double, qz: Double): Double = {
    if (node.x0 > node.x1) return Double.PositiveInfinity // empty
    val dx = if (qx < node.x0) node.x0 - qx else if (qx > node.x1) qx - node.x1 else 0.0
    val dy = if (qy < node.y0) node.y0 - qy else if (qy > node.y1) qy - node.y1 else 0.0
    val dz = if (qz < node.z0) node.z0 - qz else if (qz > node.z1) qz - node.z1 else 0.0
    val chord = Math.sqrt(dx * dx + dy * dy + dz * dz)
    if (chord <= 0) 0.0
    else {
      val theta = 2.0 * Math.asin(Math.min(1.0, chord / 2.0))
      Sphere.MeanEarthRadius * theta * (1.0 - 1e-12)
    }
  }

  /** k nearest neighbours of (qLon, qLat), ordered by
    * (haversine meters asc, key asc). Returns ≤ k hits. */
  def knn(qLon: Double, qLat: Double, k: Int): Array[Quadtree.Hit] = {
    if (k <= 0 || count == 0) return Array.empty
    val phi = Math.toRadians(qLat); val lam = Math.toRadians(qLon)
    val cp = Math.cos(phi)
    val qx = cp * Math.cos(lam); val qy = cp * Math.sin(lam); val qz = Math.sin(phi)

    // best-k as a max-heap on (dist desc, key desc): peek = current worst
    val worstFirst = new JPriorityQueue[Quadtree.Hit](k, (a: Quadtree.Hit, b: Quadtree.Hit) => {
      val c = java.lang.Double.compare(b.dist, a.dist)
      if (c != 0) c else java.lang.Long.compare(b.key, a.key)
    })
    // frontier: min-heap on node lower bound
    final case class Frontier(bound: Double, node: Node)
    val frontier = new JPriorityQueue[Frontier](16,
      (a: Frontier, b: Frontier) => java.lang.Double.compare(a.bound, b.bound))
    frontier.add(Frontier(boundMeters(root, qx, qy, qz), root))

    while (!frontier.isEmpty) {
      val f = frontier.poll()
      val full = worstFirst.size() >= k
      if (full && f.bound > worstFirst.peek().dist) {
        frontier.clear() // every remaining node is at least this far
      } else {
        val node = f.node
        if (node.kids != null) {
          var i = 0
          while (i < 4) {
            val kid = node.kids(i)
            val b = boundMeters(kid, qx, qy, qz)
            if (!(worstFirst.size() >= k && b > worstFirst.peek().dist)) frontier.add(Frontier(b, kid))
            i += 1
          }
        } else {
          var i = 0
          while (i < node.n) {
            val d = Sphere.haversineDistance(qLon, qLat, node.lons(i), node.lats(i))
            val key = node.keys(i)
            // a Hit is allocated only for a candidate that enters the heap
            if (worstFirst.size() < k) worstFirst.add(Quadtree.Hit(key, node.lons(i), node.lats(i), d))
            else {
              val w = worstFirst.peek()
              if (d < w.dist || (d == w.dist && key < w.key)) {
                worstFirst.poll(); worstFirst.add(Quadtree.Hit(key, node.lons(i), node.lats(i), d))
              }
            }
            i += 1
          }
        }
      }
    }
    val out = new Array[Quadtree.Hit](worstFirst.size())
    var i = out.length - 1
    while (i >= 0) { out(i) = worstFirst.poll(); i -= 1 } // drain worst→best
    out
  }
}

object Quadtree {
  /** One kNN result: target key, its coordinates, haversine meters. */
  final case class Hit(key: Long, lon: Double, lat: Double, dist: Double)

  /** Build over (lon, lat, key) triples; bounds derived from the data. */
  def build(pts: Iterable[(Double, Double, Long)], leafCap: Int = 16): Quadtree = {
    val n = pts.size
    val lons = new Array[Double](n); val lats = new Array[Double](n); val keys = new Array[Long](n)
    var i = 0
    pts.foreach { case (lon, lat, key) => lons(i) = lon; lats(i) = lat; keys(i) = key; i += 1 }
    build(lons, lats, keys, n, leafCap)
  }

  /** Build over the first `n` entries of parallel coordinate and key
    * arrays (no per-point boxing); bounds derived from the data. */
  def build(lons: Array[Double], lats: Array[Double], keys: Array[Long], n: Int): Quadtree =
    build(lons, lats, keys, n, 16)

  private def build(lons: Array[Double], lats: Array[Double], keys: Array[Long], n: Int,
      leafCap: Int): Quadtree = {
    var minLon = Double.PositiveInfinity; var minLat = Double.PositiveInfinity
    var maxLon = Double.NegativeInfinity; var maxLat = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      val lon = lons(i); val lat = lats(i)
      if (lon < minLon) minLon = lon; if (lon > maxLon) maxLon = lon
      if (lat < minLat) minLat = lat; if (lat > maxLat) maxLat = lat
      i += 1
    }
    if (minLon > maxLon) { minLon = -180; maxLon = 180; minLat = -90; maxLat = 90 }
    val qt = new Quadtree(minLon, minLat, maxLon, maxLat, leafCap)
    i = 0
    while (i < n) { qt.insert(lons(i), lats(i), keys(i)); i += 1 }
    qt
  }
}
