package graft.index

import graft.core.{FlatGeom, GeomKind}
import graft.kernels.{Planar, Topo}
import scala.collection.mutable.ArrayBuffer

/**
 * Deterministic hierarchical cell index over lon/lat (WGS-84 degrees):
 * a quadkey / Z-order (Morton) grid, the from-scratch stand-in for
 * H3/S2 required by the north rule (no H3/S2 jars exist in the image —
 * SURVEY.md §7.3 risk 5). Published technique: Morton 1966 Z-order
 * curves; same cell-covering API shape as S2's RegionCoverer.
 *
 * Cell id layout (64-bit):
 *   bits 58..62 : level (0..28)
 *   bits 0..55  : Morton-interleaved (x, y) cell coords at that level
 *
 * x spans lon ∈ [-180, 180), y spans lat ∈ [-90, 90], row 0 at the
 * NORTH edge (y grows southward) so ids sort north-to-south — purely a
 * convention, but a fixed one: tile-assignment goldens depend on it.
 */
object CellId {

  final val MaxLevel = 28

  @inline def cellsPerAxis(level: Int): Long = 1L << level

  /** Grid x of a longitude at `level` (clamped into range). */
  @inline def cellX(level: Int, lon: Double): Long = {
    val n = cellsPerAxis(level)
    val raw = Math.floor((lon + 180.0) / 360.0 * n).toLong
    Math.min(Math.max(raw, 0L), n - 1)
  }

  /** Grid y of a latitude at `level` (row 0 = north pole edge). */
  @inline def cellY(level: Int, lat: Double): Long = {
    val n = cellsPerAxis(level)
    val raw = Math.floor((90.0 - lat) / 180.0 * n).toLong
    Math.min(Math.max(raw, 0L), n - 1)
  }

  /** Spread the low 28 bits of v to even bit positions. */
  @inline private def spread(v: Long): Long = {
    var x = v & 0x0FFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  @inline private def unspread(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >> 1)) & 0x3333333333333333L
    x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x >> 4)) & 0x00FF00FF00FF00FFL
    x = (x | (x >> 8)) & 0x0000FFFF0000FFFFL
    x = (x | (x >> 16)) & 0x00000000FFFFFFFFL
    x
  }

  @inline def morton(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)

  def cellId(level: Int, lon: Double, lat: Double): Long = {
    require(level >= 0 && level <= MaxLevel, s"level $level out of [0,$MaxLevel]")
    (level.toLong << 58) | morton(cellX(level, lon), cellY(level, lat))
  }

  def pack(level: Int, cx: Long, cy: Long): Long = (level.toLong << 58) | morton(cx, cy)

  @inline def level(id: Long): Int = ((id >> 58) & 0x1F).toInt
  @inline def xOf(id: Long): Long = unspread(id & 0x03FFFFFFFFFFFFFFL)
  @inline def yOf(id: Long): Long = unspread((id & 0x03FFFFFFFFFFFFFFL) >> 1)

  /** Parent cell at a coarser level. */
  def parent(id: Long, parentLevel: Int): Long = {
    val l = level(id)
    require(parentLevel <= l)
    pack(parentLevel, xOf(id) >> (l - parentLevel), yOf(id) >> (l - parentLevel))
  }

  /** Geographic bounds (minLon, minLat, maxLon, maxLat) of a cell. */
  def bounds(id: Long): Array[Double] = {
    val l = level(id)
    val n = cellsPerAxis(l).toDouble
    val cx = xOf(id).toDouble
    val cy = yOf(id).toDouble
    val minLon = cx / n * 360.0 - 180.0
    val maxLon = (cx + 1) / n * 360.0 - 180.0
    val maxLat = 90.0 - cy / n * 180.0
    val minLat = 90.0 - (cy + 1) / n * 180.0
    Array(minLon, minLat, maxLon, maxLat)
  }

  /** Cells intersecting a lon/lat bbox at `level` (inclusive ranges). */
  def coveringForBbox(level: Int, minLon: Double, minLat: Double,
      maxLon: Double, maxLat: Double): Array[Long] = {
    val x0 = cellX(level, minLon)
    val x1 = cellX(level, maxLon)
    val y0 = cellY(level, maxLat) // north edge → smaller y
    val y1 = cellY(level, minLat)
    val out = new ArrayBuffer[Long](((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
    var y = y0
    while (y <= y1) {
      var x = x0
      while (x <= x1) { out += pack(level, x, y); x += 1 }
      y += 1
    }
    out.toArray
  }

  // coveringForGeom's per-bbox-cell states
  private final val Refined: Byte = 1
  private final val FromVertex: Byte = 2

  /** Cells whose rectangle intersects the geometry at `level`: bbox
    * covering refined by an exact cell-rect × geometry intersects test
    * (the partitioned-join covering; deterministic, no RNG). Order: the
    * kept bbox cells row by row, then the cells of vertices that the
    * refine dropped, in vertex order.
    *
    * An axis-aligned rectangle (what `st_envelope` returns) intersects
    * every cell of its own bbox covering, so it skips the refine and
    * returns exactly [[coveringForBbox]] — also where its coordinates
    * lie outside the grid and clamp into the edge cells. */
  def coveringForGeom(level: Int, g: FlatGeom): Array[Long] = {
    if (g.isEmpty) return Array.emptyLongArray
    if (g.numPoints == 1) return Array(cellId(level, g.x(0), g.y(0)))
    val bb = Planar.boundingRect(g)
    val candidates = coveringForBbox(level, bb(0), bb(1), bb(2), bb(3))
    if (isAxisRect(g, bb)) return candidates
    // per bbox cell, row-major like `candidates`: Refined if the refine
    // keeps it, FromVertex if only a vertex's cell brings it back
    val state = new Array[Byte](candidates.length)
    var nRefined = 0
    var i = 0
    while (i < candidates.length) {
      // tiny coverings: keep all
      if (candidates.length <= 4 || {
        val cb = bounds(candidates(i))
        Topo.intersects(FlatGeom.rect(cb(0), cb(1), cb(2), cb(3)), g)
      }) { state(i) = Refined; nRefined += 1 }
      i += 1
    }
    // guarantee cellId↔covering consistency even for out-of-range
    // coordinates (cellId clamps them into the edge cells, whose rects
    // the raw geometry does not intersect) — a point's own cell must
    // always be part of its geometry's covering or cell joins drop rows.
    // cellX/cellY are monotone, so a vertex's cell lies in the bbox
    // window and `state` dedupes it; only a NaN ordinate (which the bbox
    // skips) falls outside, and those few cells are deduped by a scan.
    val x0 = cellX(level, bb(0))
    val y0 = cellY(level, bb(3))
    val w = cellX(level, bb(2)) - x0 + 1
    val h = cellY(level, bb(1)) - y0 + 1
    val extra = new Array[Long](g.numPoints)
    var nExtra = 0
    i = 0
    while (i < g.numPoints) {
      val cx = cellX(level, g.x(i))
      val cy = cellY(level, g.y(i))
      val dx = cx - x0
      val dy = cy - y0
      if (dx >= 0 && dx < w && dy >= 0 && dy < h) {
        val k = (dy * w + dx).toInt
        if (state(k) == 0) { state(k) = FromVertex; extra(nExtra) = candidates(k); nExtra += 1 }
      } else {
        val id = pack(level, cx, cy)
        var j = 0
        while (j < nExtra && extra(j) != id) j += 1
        if (j == nExtra) { extra(nExtra) = id; nExtra += 1 }
      }
      i += 1
    }
    val out = new Array[Long](nRefined + nExtra)
    var m = 0
    i = 0
    while (m < nRefined) {
      if (state(i) == Refined) { out(m) = candidates(i); m += 1 }
      i += 1
    }
    System.arraycopy(extra, 0, out, nRefined, nExtra)
    out
  }

  /** A closed 5-point ring whose vertices are the corners of its bbox
    * `bb`, each corner visited and every edge axis-aligned: the
    * rectangle `bb` itself, or the segment or point it degenerates to. */
  private def isAxisRect(g: FlatGeom, bb: Array[Double]): Boolean = {
    if (g.kind != GeomKind.Polygon || g.numPoints != 5 || g.rings.length != 1 ||
        g.x(4) != g.x(0) || g.y(4) != g.y(0)) return false
    def corner(x: Double, y: Double): Int =
      1 << ((if (x == bb(2)) 1 else 0) | (if (y == bb(3)) 2 else 0))
    var seen = 0
    var i = 0
    while (i < 4) {
      val x = g.x(i)
      val y = g.y(i)
      if ((x != bb(0) && x != bb(2)) || (y != bb(1) && y != bb(3)) ||
          (g.x(i + 1) != x && g.y(i + 1) != y)) return false
      seen |= corner(x, y)
      i += 1
    }
    seen == (corner(bb(0), bb(1)) | corner(bb(2), bb(1)) | corner(bb(0), bb(3)) | corner(bb(2), bb(3)))
  }

  /** The 4 children of a cell at the next-finer level. */
  def children(id: Long): Array[Long] = {
    val l = level(id)
    require(l < MaxLevel, s"cell at MaxLevel $MaxLevel has no children")
    val x = xOf(id) << 1
    val y = yOf(id) << 1
    Array(pack(l + 1, x, y), pack(l + 1, x + 1, y),
      pack(l + 1, x, y + 1), pack(l + 1, x + 1, y + 1))
  }

  /** Compact a cell set (H3 compactCells / S2 CellUnion.Normalize
    * semantics): wherever all 4 children of a parent are present, they
    * are replaced by the parent, recursively until no quad is
    * complete. Input may mix levels and contain duplicates; the result
    * is duplicate-free and sorted (deterministic). Covers the same
    * region with the minimal cell count — at 100 TB this is what keeps
    * a polygon's covering array (and every covering-keyed shuffle)
    * small when the polygon spans whole coarse cells. */
  def compact(cells: Array[Long]): Array[Long] = {
    if (cells.isEmpty) return Array.emptyLongArray
    val cur = scala.collection.mutable.HashSet[Long]()
    cells.foreach(cur += _)
    var l = cells.map(level).max
    while (l > 0) {
      val atL = cur.iterator.filter(level(_) == l).toArray
      // group the level-l cells by parent; a full quad collapses
      val byParent = atL.groupBy(id => parent(id, l - 1))
      byParent.foreach { case (p, kids) =>
        if (kids.length == 4) { kids.foreach(cur -= _); cur += p }
      }
      l -= 1
    }
    // absorb descendants whose ancestor is (or became) present — a
    // mixed-level input may contain both a cell and part of its
    // subtree, and an output with overlaps would break the
    // exactly-once contract of ancestor-chain joins
    val out = cur.iterator.filter { id =>
      var lv = level(id) - 1
      var covered = false
      while (lv >= 0 && !covered) { covered = cur.contains(parent(id, lv)); lv -= 1 }
      !covered
    }.toArray
    out.sorted
  }

  /** Expand every cell to its descendants at `targetLevel` (H3
    * uncompactCells). Cells already at `targetLevel` pass through;
    * finer cells are rejected. Output sorted, duplicate-free. */
  def uncompact(cells: Array[Long], targetLevel: Int): Array[Long] = {
    require(targetLevel >= 0 && targetLevel <= MaxLevel)
    val out = scala.collection.mutable.HashSet[Long]()
    cells.foreach { id =>
      val l = level(id)
      require(l <= targetLevel,
        s"cell at level $l is finer than target $targetLevel")
      val d = targetLevel - l
      val x0 = xOf(id) << d
      val y0 = yOf(id) << d
      val n = 1L << d
      var dy = 0L
      while (dy < n) {
        var dx = 0L
        while (dx < n) { out += pack(targetLevel, x0 + dx, y0 + dy); dx += 1 }
        dy += 1
      }
    }
    out.toArray.sorted
  }

  /** All distinct cells within Chebyshev index distance `r` of the cell
    * CONTAINING (lon, lat) at `level` — the (2r+1)² neighbourhood, by
    * integer index arithmetic: x wraps across the antimeridian, y rows
    * outside [0, n) are dropped (the pole-clamped row is already the
    * dy=0 row there). Never re-encodes displaced coordinates, so a
    * coordinate within one ulp of a cell edge cannot floor into the
    * wrong ring and drop a true DWithin pair. Output is duplicate-free
    * (wrap at n<=2r+1 collapses columns) and deterministic. */
  def neighborhood(level: Int, lon: Double, lat: Double, r: Int): Array[Long] = {
    require(r >= 0, s"ring radius $r must be >= 0")
    val n = cellsPerAxis(level)
    val cx = cellX(level, lon)
    val cy = cellY(level, lat)
    // columns cx-r, cx-r+1, ... are consecutive mod n, so the first
    // min(2r+1, n) of them are distinct and the rest repeat: stopping
    // there dedupes without a scan
    val cols = Math.min(2L * r + 1, n).toInt
    val out = new Array[Long]((2 * r + 1) * cols)
    var m = 0
    var dy = -r
    while (dy <= r) {
      val y = cy + dy
      if (y >= 0 && y < n) {
        var i = 0
        while (i < cols) {
          var x = (cx - r + i) % n
          if (x < 0) x += n
          out(m) = pack(level, x, y)
          m += 1
          i += 1
        }
      }
      dy += 1
    }
    if (m == out.length) out else java.util.Arrays.copyOf(out, m)
  }

  /** Levels between a cell and its tile: a tile is the 4×4 block of
    * cells sharing a parent two levels up (coarser near level 0). */
  final val TileShift = 2

  /** Level of the tiles that group the cells of `level`. */
  @inline def tileLevel(level: Int): Int = level - Math.min(TileShift, level)

  /** The distinct tiles, at [[tileLevel]], that hold the cells of
    * `neighborhood(level, lon, lat, r)` — the same set as those cells'
    * parents, from the same integer index arithmetic (antimeridian wrap,
    * pole rows dropped), row by row from north, columns in wrap order
    * from the west. A target sent to these tiles meets every probe whose
    * cell lies within its ring. */
  def haloTiles(level: Int, lon: Double, lat: Double, r: Int): Array[Long] = {
    require(r >= 0, s"ring radius $r must be >= 0")
    val n = cellsPerAxis(level)
    val tl = tileLevel(level)
    val s = level - tl
    val cx = cellX(level, lon)
    val cy = cellY(level, lat)
    // the ring's columns, consecutive mod n, map to consecutive tile
    // columns mod n >> s; a run of at most n columns can come back
    // round only into its first tile, so the last one is dropped then
    val cols = Math.min(2L * r + 1, n).toInt
    val tx = new Array[Long](cols)
    var nx = 0
    var i = 0
    while (i < cols) {
      var x = (cx - r + i) % n
      if (x < 0) x += n
      val t = x >> s
      if (nx == 0 || tx(nx - 1) != t) { tx(nx) = t; nx += 1 }
      i += 1
    }
    if (nx > 1 && tx(nx - 1) == tx(0)) nx -= 1
    val ty0 = Math.max(cy - r, 0L) >> s
    val ty1 = Math.min(cy + r, n - 1) >> s
    val out = new Array[Long](((ty1 - ty0 + 1) * nx).toInt)
    var m = 0
    var ty = ty0
    while (ty <= ty1) {
      var j = 0
      while (j < nx) { out(m) = pack(tl, tx(j), ty); m += 1; j += 1 }
      ty += 1
    }
    out
  }

  /** Ring of cells at Chebyshev distance `r` around (cx, cy) at `level`
    * — the kNN expansion frontier. */
  def ring(level: Int, cx: Long, cy: Long, r: Int): Array[Long] = {
    if (r == 0) return Array(pack(level, cx, cy))
    val n = cellsPerAxis(level)
    val out = new ArrayBuffer[Long](8 * r)
    var dx = -r
    while (dx <= r) {
      var dy = -r
      while (dy <= r) {
        if (Math.max(Math.abs(dx), Math.abs(dy)) == r) {
          val x = cx + dx
          val y = cy + dy
          if (x >= 0 && x < n && y >= 0 && y < n) out += pack(level, x, y)
        }
        dy += 1
      }
      dx += 1
    }
    out.toArray
  }
}
