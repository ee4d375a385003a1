package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.FlatGeom
import graft.index.CellId
import graft.kernels.{Planar, Topo}

/** `CellId.coveringForGeom` against the set-based implementation it
  * replaced: the same cells in the same order. */
class CoveringSpec extends AnyFunSuite {

  /** The previous implementation, kept verbatim as the reference. */
  private def previousCovering(level: Int, g: FlatGeom): Array[Long] = {
    if (g.isEmpty) return Array.emptyLongArray
    if (g.numPoints == 1) return Array(CellId.cellId(level, g.x(0), g.y(0)))
    val bb = Planar.boundingRect(g)
    val candidates = CellId.coveringForBbox(level, bb(0), bb(1), bb(2), bb(3))
    val refined =
      if (candidates.length <= 4) candidates
      else candidates.filter { id =>
        val cb = CellId.bounds(id)
        Topo.intersects(FlatGeom.rect(cb(0), cb(1), cb(2), cb(3)), g)
      }
    val vertexCells = {
      val s = scala.collection.mutable.LinkedHashSet[Long]()
      var i = 0
      while (i < g.numPoints) { s += CellId.cellId(level, g.x(i), g.y(i)); i += 1 }
      s
    }
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    refined.foreach(out += _)
    vertexCells.foreach(out += _)
    out.toArray
  }

  private val rnd = new scala.util.Random(20261019)

  /** A star of `n` vertices around (cx, cy), radii up to `r`. */
  private def star(cx: Double, cy: Double, r: Double, n: Int): FlatGeom = {
    val ring = new Array[Double](2 * n + 2)
    var i = 0
    while (i < n) {
      val a = 2 * math.Pi * i / n
      val rr = r * (0.3 + 0.7 * rnd.nextDouble())
      ring(2 * i) = cx + rr * math.cos(a)
      ring(2 * i + 1) = cy + rr * math.sin(a)
      i += 1
    }
    ring(2 * n) = ring(0)
    ring(2 * n + 1) = ring(1)
    FlatGeom.polygon(ring)
  }

  private def line(cx: Double, cy: Double, r: Double, n: Int): FlatGeom =
    FlatGeom.lineString(Array.tabulate(2 * n) { i =>
      (if (i % 2 == 0) cx else cy) + (rnd.nextDouble() * 2 - 1) * r
    })

  /** A centre anywhere on the grid, or beyond its edges. */
  private def centre(outOfRange: Boolean): (Double, Double) =
    if (outOfRange) (rnd.nextDouble() * 440 - 220, rnd.nextDouble() * 260 - 130)
    else (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)

  /** Whether an axis-aligned box misses the grid on one axis: every
    * bbox cell then clamps into an edge row or column that the box does
    * not touch, and the previous refine kept only its corner cells. */
  private def offGrid(bb: Array[Double]): Boolean =
    bb(2) < -180 || bb(0) > 180 || bb(3) < -90 || bb(1) > 90

  test("coveringForGeom returns the previous implementation's cells in its order") {
    var compared = 0
    for (level <- 0 to 20; _ <- 0 until 60) {
      val cell = 360.0 / (1L << level)
      // extents of 0.1 to 30 cells, capped at the whole grid
      val r = math.min(cell * (0.1 + 30 * rnd.nextDouble()), 200.0)
      val (cx, cy) = centre(rnd.nextInt(5) == 0)
      val g = rnd.nextInt(7) match {
        case 0 => star(cx, cy, r, 3 + rnd.nextInt(40))
        case 1 => star(cx, cy, r, 256)
        case 2 => line(cx, cy, r, 2 + rnd.nextInt(10))
        case 3 => FlatGeom.point(cx, cy)
        case 4 => FlatGeom.multiPoint(Array.tabulate(8)(i => (if (i % 2 == 0) cx else cy) + rnd.nextDouble() * r))
        case 5 => FlatGeom.multiPolygon(Seq(star(cx, cy, r, 8), star(cx + 3 * r, cy, r, 12)))
        case _ => FlatGeom.lineString(Array(cx, cy, cx + r, cy + r, cx + 2 * r, cy))
      }
      val got = CellId.coveringForGeom(level, g)
      val want = previousCovering(level, g)
      assert(got.toSeq == want.toSeq, s"level $level geom ${graft.core.Wkt.write(g)}")
      compared += 1
    }
    assert(compared == 21 * 60)
  }

  test("an axis-aligned rectangle's covering is its bbox covering, degenerate or off the grid") {
    for (level <- 0 to 20; _ <- 0 until 40) {
      val cell = 360.0 / (1L << level)
      val (cx, cy) = centre(rnd.nextInt(3) == 0)
      val w = rnd.nextInt(4) match {
        case 0 => 0.0 // degenerate: a vertical segment, or a point
        case _ => math.min(cell * 20 * rnd.nextDouble(), 100.0)
      }
      val h = if (rnd.nextBoolean()) 0.0 else math.min(cell * 20 * rnd.nextDouble(), 50.0)
      val bb = Array(cx, cy, cx + w, cy + h)
      val rect = FlatGeom.rect(bb(0), bb(1), bb(2), bb(3))
      val bbox = CellId.coveringForBbox(level, bb(0), bb(1), bb(2), bb(3))
      val got = CellId.coveringForGeom(level, rect)
      assert(got.toSeq == bbox.toSeq, s"level $level rect ${bb.mkString(",")}")
      // the same ring walked clockwise from another corner
      val cw = FlatGeom.polygon(Array(bb(2), bb(3), bb(2), bb(1), bb(0), bb(1), bb(0), bb(3),
        bb(2), bb(3)))
      assert(CellId.coveringForGeom(level, cw).toSeq == bbox.toSeq)
      val prev = previousCovering(level, rect)
      if (offGrid(bb)) assert(prev.toSet.subsetOf(bbox.toSet))
      else assert(prev.toSeq == got.toSeq, s"level $level rect ${bb.mkString(",")}")
    }
  }

  test("a ring on three corners of its bbox is not taken for a rectangle") {
    // (0,0) → (4,0) → (4,4) → (4,0) → (0,0): an L along two bbox edges
    val l = FlatGeom.polygon(Array(0.0, 0, 4, 0, 4, 4, 4, 0, 0, 0))
    assert(CellId.coveringForGeom(8, l).toSeq == previousCovering(8, l).toSeq)
    assert(CellId.coveringForGeom(8, l).length < CellId.coveringForBbox(8, 0, 0, 4, 4).length)
  }
}
