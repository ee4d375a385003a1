package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.CellId

/** `CellId.haloTiles`, the tile grouping of the kNN join's levels,
  * against the parents of `CellId.neighborhood`'s cells. */
class CellIdSpec extends AnyFunSuite {

  /** Seeded coordinates, a share of them on the grid's edges: the
    * antimeridian, the poles, and past both (which clamp). */
  private def coord(rnd: java.util.SplittableRandom, lo: Double, hi: Double): Double =
    rnd.nextInt(8) match {
      case 0 => lo
      case 1 => hi
      case 2 => if (rnd.nextBoolean()) lo - 1e-9 else hi + 1e-9
      case 3 => Math.nextDown(hi)
      case _ => rnd.nextDouble(lo, hi)
    }

  test("halo tiles are the distinct tile parents of the ring's cells") {
    val rnd = new java.util.SplittableRandom(9009)
    var n = 0
    while (n < 120000) {
      val level = rnd.nextInt(CellId.MaxLevel + 1)
      val ring = 1 + rnd.nextInt(3)
      val lon = coord(rnd, -180.0, 180.0)
      val lat = coord(rnd, -90.0, 90.0)
      val tl = CellId.tileLevel(level)
      assert(tl == level - Math.min(2, level))
      val got = CellId.haloTiles(level, lon, lat, ring)
      val want = CellId.neighborhood(level, lon, lat, ring).map(CellId.parent(_, tl)).distinct
      assert(got.length == got.distinct.length, s"duplicates at ($level, $lon, $lat, $ring)")
      assert(got.sorted.toSeq == want.sorted.toSeq, s"at ($level, $lon, $lat, $ring)")
      // a probe's tile is its cell's parent, and inside its own halo
      val cell = CellId.cellId(level, lon, lat)
      val tile = CellId.cellId(tl, lon, lat)
      assert(tile == CellId.parent(cell, tl), s"tile of ($level, $lon, $lat)")
      assert(got.contains(tile))
      n += 1
    }
  }

  test("halo tiles: interior rings, the antimeridian and the coarse levels") {
    // level 6, ring 1 inside one tile: that tile alone
    val inner = CellId.haloTiles(6, CellId.bounds(CellId.pack(6, 9, 9))(0) + 1e-3,
      CellId.bounds(CellId.pack(6, 9, 9))(3) - 1e-3, 1)
    assert(inner.toSeq == Seq(CellId.pack(4, 2, 2)))
    // on the antimeridian the ring spans the first and last tile columns
    val seam = CellId.haloTiles(6, -180.0, 0.0, 1)
    assert(seam.map(CellId.xOf).distinct.sorted.toSeq == Seq(0L, 15L))
    // levels 0 and 1 group every cell into the one level-0 tile
    assert(CellId.haloTiles(0, 10.0, 20.0, 3).toSeq == Seq(CellId.pack(0, 0, 0)))
    assert(CellId.haloTiles(1, -170.0, 80.0, 1).toSeq == Seq(CellId.pack(0, 0, 0)))
    // a ring of at most 5 columns touches at most 2 tile columns and rows
    assert(CellId.haloTiles(12, 10.3, 20.7, 2).length <= 4)
  }
}
