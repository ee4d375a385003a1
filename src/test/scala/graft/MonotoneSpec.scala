package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Wkt
import graft.kernels.{Monotone, Planar}

/**
 * The slab edge index's PIP must agree with the exact ray cast
 * everywhere, boundaries included.
 */
class MonotoneSpec extends AnyFunSuite {

  private def crossCheck(wkt: String, label: String): Unit = {
    val g = Wkt.read(wkt)
    val prep = Monotone.prepare(g)
    assert(prep != null, s"$label: prepare failed")
    val bb = Planar.boundingRect(g)
    var checked = 0
    var mismatches = 0
    var firstBad = ""
    val nx = 41; val ny = 41
    (0 until nx).foreach { ix =>
      (0 until ny).foreach { iy =>
        val x = bb(0) - 1 + (bb(2) - bb(0) + 2) * ix / (nx - 1.0)
        val y = bb(1) - 1 + (bb(3) - bb(1) + 2) * iy / (ny - 1.0)
        val want = Planar.coordPos(g, x, y)
        val got = prep.coordPos(x, y)
        checked += 1
        if (got != want && mismatches == 0)
          firstBad = s"($x,$y) got=$got want=$want"
        if (got != want) mismatches += 1
      }
    }
    assert(mismatches == 0, s"$label: $mismatches/$checked mismatches, first: $firstBad")
    // also probe the vertices themselves (must all be OnBoundary)
    var i = 0
    while (i < g.numPoints) {
      assert(prep.coordPos(g.x(i), g.y(i)) == Planar.OnBoundary,
        s"$label vertex $i not OnBoundary")
      i += 1
    }
  }

  test("monotone PIP matches ray cast on all star polygons") {
    (0 until 25).foreach(i => crossCheck(Queries.starWkt(i), s"star $i"))
  }

  test("monotone PIP matches ray cast on donut / U-shape / two-hole") {
    crossCheck("POLYGON((0 0,10 0,10 10,0 10,0 0),(3 3,3 7,7 7,7 3,3 3))", "donut")
    crossCheck("POLYGON((0 0,10 0,10 10,6 10,6 4,4 4,4 10,0 10,0 0),(1 1,1 2,2 2,2 1,1 1))", "ushape")
    crossCheck("POLYGON((0 0,12 0,12 12,0 12,0 0),(1 1,1 3,3 3,3 1,1 1),(8 8,10 8,10 10,8 10,8 8))", "twoHole")
  }

  test("monotone PIP matches ray cast on the louisiana fixture") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/fixtures/louisiana.wkt"))
    val wkt = try src.mkString.trim finally src.close()
    // the fixture is stored as a closed LINESTRING — wrap it as a ring
    val line = Wkt.read(wkt)
    val g = graft.core.FlatGeom.polygon(line.coords)
    val prep = Monotone.prepare(g)
    assert(prep != null, "louisiana prepare failed")
    assert(prep.slabs > 1)
    // deterministic probe grid over the bbox
    val bb = Planar.boundingRect(g)
    var mismatches = 0
    (0 until 60).foreach { ix =>
      (0 until 60).foreach { iy =>
        val x = bb(0) + (bb(2) - bb(0)) * ix / 59.0
        val y = bb(1) + (bb(3) - bb(1)) * iy / 59.0
        if (prep.coordPos(x, y) != Planar.coordPos(g, x, y)) mismatches += 1
      }
    }
    assert(mismatches == 0, s"$mismatches mismatches on louisiana")
    assert(prep.coordPos(-91.147385, 30.471165) == Planar.Inside)
  }

  test("monotone PIP matches ray cast on 10,000 seeded probes of a 1,024-vertex star") {
    // integer vertices, so lattice points of an edge lie exactly on it
    val n = 1024
    val cs = new Array[Double](2 * (n + 1))
    (0 until n).foreach { i =>
      val a = 0.3 + 2 * math.Pi * i / n
      val r = if (i % 2 == 0) 1e6 else 5.5e5
      cs(2 * i) = math.rint(r * math.cos(a))
      cs(2 * i + 1) = math.rint(r * math.sin(a))
    }
    cs(2 * n) = cs(0); cs(2 * n + 1) = cs(1)
    val g = graft.core.FlatGeom.polygon(cs)
    val prep = Monotone.prepare(g)
    assert(prep != null)
    val rnd = new java.util.SplittableRandom(1024)
    @annotation.tailrec def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    var onEdge = 0
    var mismatches = 0
    var firstBad = ""
    (0 until 10000).foreach { k =>
      val i = rnd.nextInt(n)
      val (x, y) = k % 3 match {
        case 0 => (g.x(i), g.y(i)) // a vertex
        case 1 => // a point on edge i → i+1, exact when the edge has lattice points
          val dx = (g.x(i + 1) - g.x(i)).toLong; val dy = (g.y(i + 1) - g.y(i)).toLong
          val d = gcd(math.abs(dx), math.abs(dy))
          if (d < 2) (g.x(i), g.y(i))
          else {
            val t = 1 + rnd.nextLong(d - 1)
            onEdge += 1
            (g.x(i) + t * (dx / d), g.y(i) + t * (dy / d))
          }
        case _ => (rnd.nextDouble(-1.1e6, 1.1e6), rnd.nextDouble(-1.1e6, 1.1e6))
      }
      val want = Planar.coordPos(g, x, y)
      if (k % 3 < 2) assert(want == Planar.OnBoundary, s"probe $k ($x,$y) is not on the boundary")
      val got = prep.coordPos(x, y)
      if (got != want) {
        if (mismatches == 0) firstBad = s"($x,$y) got=$got want=$want"
        mismatches += 1
      }
    }
    assert(onEdge > 500, s"only $onEdge probes inside edges")
    assert(mismatches == 0, s"$mismatches/10000 mismatches, first: $firstBad")
  }

  test("slab index matches ray cast on seeded lattice (multi)polygons with holes") {
    // integer vertices: midpoints are exact, edges are often horizontal,
    // vertical or repeated, and lattice probes land on many edges
    val rnd = new java.util.SplittableRandom(808)
    def ring(cx: Int, cy: Int, r: Int, n: Int): Array[Double] = {
      val cs = new Array[Double](2 * (n + 1))
      (0 until n).foreach { i =>
        val a = 2 * math.Pi * i / n
        val rr = r * (0.3 + 0.7 * rnd.nextDouble())
        cs(2 * i) = cx + math.rint(rr * math.cos(a))
        cs(2 * i + 1) = cy + math.rint(rr * math.sin(a))
      }
      cs(2 * n) = cs(0); cs(2 * n + 1) = cs(1)
      if (rnd.nextBoolean()) { // reverse: CW and CCW rings both occur
        val rev = new Array[Double](cs.length)
        (0 to n).foreach { i => rev(2 * i) = cs(2 * (n - i)); rev(2 * i + 1) = cs(2 * (n - i) + 1) }
        rev
      } else cs
    }
    var probes = 0L
    var mismatches = 0
    var firstBad = ""
    (0 until 600).foreach { k =>
      val parts = (0 until 1 + rnd.nextInt(3)).map { _ =>
        val cx = rnd.nextInt(-60, 61); val cy = rnd.nextInt(-60, 61)
        val r = 10 + rnd.nextInt(60)
        val holes = (0 until rnd.nextInt(3)).map { _ =>
          ring(cx + rnd.nextInt(-r / 3, r / 3 + 1), cy + rnd.nextInt(-r / 3, r / 3 + 1),
            2 + rnd.nextInt(r / 3), 3 + rnd.nextInt(40))
        }
        graft.core.FlatGeom.polygon(ring(cx, cy, r, 3 + rnd.nextInt(250)), holes)
      }
      val g = if (parts.length == 1) parts.head else graft.core.FlatGeom.multiPolygon(parts)
      val prep = Monotone.prepare(g)
      assert(prep != null, s"polygon $k: prepare failed")
      def probe(x: Double, y: Double): Unit = {
        probes += 1
        val want = Planar.coordPos(g, x, y)
        val got = prep.coordPos(x, y)
        if (got != want) {
          if (mismatches == 0) firstBad = s"polygon $k ($x,$y) got=$got want=$want"
          mismatches += 1
        }
      }
      (0 until g.numPoints).foreach { i =>
        probe(g.x(i), g.y(i))
        if (i + 1 < g.numPoints) probe((g.x(i) + g.x(i + 1)) / 2, (g.y(i) + g.y(i + 1)) / 2)
      }
      val bb = Planar.boundingRect(g)
      val step = 1 + ((bb(2) - bb(0)) max (bb(3) - bb(1))).toInt / 40
      (bb(0).toInt - 1 to bb(2).toInt + 1 by step).foreach { x =>
        (bb(1).toInt - 1 to bb(3).toInt + 1 by step).foreach(y => probe(x, y))
      }
      (0 until 2000).foreach { _ =>
        probe(rnd.nextDouble(bb(0) - 1, bb(2) + 1), rnd.nextDouble(bb(1) - 1, bb(3) + 1))
      }
    }
    info(s"$probes probes")
    assert(mismatches == 0, s"$mismatches/$probes mismatches, first: $firstBad")
  }

  test("prepare refuses a ring of 3 points and a NaN ordinate") {
    import graft.core.{FlatGeom, GeomKind}
    val open = new FlatGeom(GeomKind.Polygon, Array(0.0, 0, 4, 0, 0, 4), Array(3), Array.emptyIntArray)
    assert(Monotone.prepare(open) == null)
    val square = Array(0.0, 0, 4, 0, 4, 4, 0, 4, 0, 0)
    assert(Monotone.prepare(FlatGeom.polygon(square)) != null)
    square(5) = Double.NaN
    assert(Monotone.prepare(FlatGeom.polygon(square)) == null)
  }
}
