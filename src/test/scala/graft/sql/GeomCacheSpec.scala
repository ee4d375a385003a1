package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.Platform
import graft.core.{FlatGeom, GeomKind, Wkt}
import graft.kernels.Planar

/**
 * The per-thread prepared-geometry cache behind `GeomEval`: hits are
 * exact, answers equal the ray cast on the decoded polygon, each
 * polygon is prepared once per thread, and retained bytes stay within
 * the stated bound. No timing.
 */
class GeomCacheSpec extends AnyFunSuite {

  /** A closed CCW star of `n` vertices alternating radius r and 0.55 r. */
  private def star(cx: Double, cy: Double, r: Double, n: Int, rot: Double): FlatGeom = {
    val cs = new Array[Double](2 * (n + 1))
    (0 until n).foreach { i =>
      val a = rot + 2 * math.Pi * i / n
      val rr = if (i % 2 == 0) r else r * 0.55
      cs(2 * i) = cx + rr * math.cos(a)
      cs(2 * i + 1) = cy + rr * math.sin(a)
    }
    cs(2 * n) = cs(0); cs(2 * n + 1) = cs(1)
    new FlatGeom(GeomKind.Polygon, cs, Array(n + 1), Array.emptyIntArray)
  }

  private val proj = UnsafeProjection.create(Array[DataType](GeomSchema.dataType))
  private def unsafe(g: FlatGeom): UnsafeRow =
    proj(InternalRow(GeomSchema.toRow(g))).getStruct(0, 4).copy()

  /** `count` stars of 256/64/8 vertices in turn over [-30,30]×[-15,15]. */
  private def stars(seed: Long, count: Int): IndexedSeq[FlatGeom] = {
    val r = new java.util.SplittableRandom(seed)
    (0 until count).map(i => star(r.nextDouble(-30, 30), r.nextDouble(-15, 15),
      r.nextDouble(0.3, 0.9), Seq(256, 64, 8)(i % 3), r.nextDouble(0, math.Pi)))
  }

  private def center(g: FlatGeom): (Double, Double) = {
    val bb = Planar.boundingRect(g)
    ((bb(0) + bb(2)) / 2, (bb(1) + bb(3)) / 2)
  }

  test("a buffer rewritten in place never returns the stale geometry or prepared index") {
    val a = star(0, 0, 1, 256, 0.0)
    val b = star(0.05, 0.02, 1, 256, 0.1)
    // a with one outer vertex pulled in: most bytes equal a's
    val pulled = a.coords.clone()
    val k = 100
    val ang = 2 * math.Pi * k / 256
    pulled(2 * k) = 0.2 * math.cos(ang); pulled(2 * k + 1) = 0.2 * math.sin(ang)
    val a2 = new FlatGeom(GeomKind.Polygon, pulled, a.rings, a.parts)
    val row = unsafe(a)
    val probes = {
      val r = new java.util.SplittableRandom(7)
      Array.fill(300)((r.nextDouble(-1.1, 1.1), r.nextDouble(-1.1, 1.1))) :+
        ((0.8 * math.cos(ang), 0.8 * math.sin(ang)))
    }
    def check(want: FlatGeom): Unit = {
      // twice: the first call may only insert, the second must hit
      (0 until 2).foreach { _ =>
        probes.foreach { case (x, y) =>
          assert(GeomEval.containsXY(row, x, y) == (Planar.coordPos(want, x, y) == Planar.Inside))
          assert(GeomEval.intersectsXY(row, x, y) == (Planar.coordPos(want, x, y) != Planar.Outside))
        }
        assert(GeomEval.asText(row).toString == Wkt.write(want))
      }
    }
    check(a)
    for (next <- Seq(b, a2)) {
      val src = unsafe(next)
      assert(src.getSizeInBytes == row.getSizeInBytes)
      assert(probes.exists { case (x, y) =>
        Planar.coordPos(next, x, y) != Planar.coordPos(a, x, y) })
      Platform.copyMemory(src.getBaseObject, src.getBaseOffset,
        row.getBaseObject, row.getBaseOffset, row.getSizeInBytes)
      check(next)
      val back = unsafe(a)
      Platform.copyMemory(back.getBaseObject, back.getBaseOffset,
        row.getBaseObject, row.getBaseOffset, row.getSizeInBytes)
      check(a)
    }
  }

  test("cycling 400 stars of 256/64/8 vertices answers like the ray cast") {
    val gs = stars(11, 400)
    val rows = gs.map(unsafe)
    val r = new java.util.SplittableRandom(12)
    (0 until 3 * 400).foreach { i =>
      val k = i % 400
      val (cx, cy) = center(gs(k))
      val x = cx + r.nextDouble(-1, 1); val y = cy + r.nextDouble(-1, 1)
      assert(GeomEval.containsXY(rows(k), x, y) == (Planar.coordPos(gs(k), x, y) == Planar.Inside),
        s"star $k at ($x, $y)")
    }
  }

  test("10,000 point queries over 400 stars prepare each polygon at most once") {
    val gs = stars(21, 400)
    val rows = gs.map(unsafe)
    val before = GeomEval.prepareCount
    (0 until 10000).foreach { i =>
      val k = i % 400
      val (cx, cy) = center(gs(k))
      GeomEval.containsXY(rows(k), cx + 0.01 * (i % 7), cy)
    }
    val prepares = GeomEval.prepareCount - before
    assert(prepares > 0 && prepares <= 400, s"$prepares prepares")
    // a literal (GenericInternalRow) keeps its prepared index too
    val lit = GeomSchema.toRow(star(0, 0, 1, 1024, 0.2))
    val litBefore = GeomEval.prepareCount
    (0 until 100).foreach(i => GeomEval.containsXY(lit, 0.001 * i, 0))
    assert(GeomEval.prepareCount - litBefore == 1)
  }

  test("5,000 distinct 1,024-vertex polygons keep retained bytes within the bound") {
    var peak = 0L
    val first = unsafe(star(0, 0, 1, 1024, 0.0))
    (0 until 5000).foreach { i =>
      val row = if (i == 0) first else unsafe(star(0, 0, 1, 1024, i * 1e-4))
      assert(GeomEval.numPoints(row) == 1025)
      if (i % 100 == 0) GeomEval.containsXY(row, 0.1, 0.1)
      peak = math.max(peak, GeomEval.cacheRetainedBytes)
      assert(GeomEval.cacheRetainedBytes <= GeomCache.BudgetBytes)
    }
    assert(peak > GeomCache.BudgetBytes / 2, s"peak $peak")
    // long evicted, decoded again correctly
    assert(GeomEval.asText(first).toString == Wkt.write(star(0, 0, 1, 1024, 0.0)))
  }
}
