package graft

import java.security.MessageDigest
import java.util.SplittableRandom
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{FlatGeom, GeomKind, Wkt}
import graft.index.STRtree
import graft.kernels.{Buffer, Overlay, Relate, Simplify}

/**
 * Byte-identity lock on the overlay, buffer, simplify and relate
 * kernels. Each group runs a kernel over seeded inputs and hashes every
 * output bit (kind, ring and part offsets, raw coordinate bits, so a
 * `-0.0` for a `0.0` counts) into one SHA-256 digest; an input that
 * throws contributes its exception class instead. The digests were
 * recorded on the tuple-keyed, all-pairs noding that the present
 * engine replaced, so a change to any of these kernels that is meant to
 * be a pure speed-up must leave every digest as it is.
 */
class ByteIdentitySpec extends AnyFunSuite {

  // ---------------------------------------------------------- digests

  private final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    private def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array(), 0, 8) }
    def int(v: Int): Unit = long(v.toLong)
    def geom(g: FlatGeom): Unit =
      if (g == null) long(-1L)
      else {
        long(g.kind.toLong)
        int(g.rings.length); g.rings.foreach(int)
        int(g.parts.length); g.parts.foreach(int)
        int(g.coords.length); g.coords.foreach(c => long(java.lang.Double.doubleToRawLongBits(c)))
      }
    def string(s: String): Unit = md.update(s.getBytes("UTF-8"))
    def guarded(f: => FlatGeom): Unit =
      try geom(f) catch { case e: Exception => string("throws " + e.getClass.getName) }
    def hex: String = md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  private def digestOf(body: Digest => Unit): String = { val d = new Digest; body(d); d.hex }

  // ----------------------------------------------------------- inputs

  private def fixture(name: String): FlatGeom = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(s"/fixtures/$name"), "UTF-8")
    try Wkt.read(src.mkString.trim) finally src.close()
  }

  private def u(r: SplittableRandom, lo: Double, hi: Double): Double = lo + r.nextDouble() * (hi - lo)

  private def ring(cs: Seq[(Double, Double)]): Array[Double] =
    (cs :+ cs.head).flatMap(p => Seq(p._1, p._2)).toArray

  /** Alternating-radius star (the benchmark's sql-table shape). */
  private def starRing(cx: Double, cy: Double, r: Double, n: Int, rot: Double): Array[Double] = {
    val cs = new Array[Double](2 * (n + 1))
    var i = 0
    while (i < n) {
      val a = rot + 2 * Math.PI * i / n
      val rr = if (i % 2 == 0) r else r * 0.55
      cs(2 * i) = cx + rr * Math.cos(a)
      cs(2 * i + 1) = cy + rr * Math.sin(a)
      i += 1
    }
    cs(2 * n) = cs(0); cs(2 * n + 1) = cs(1)
    cs
  }
  private def star(cx: Double, cy: Double, r: Double, n: Int, rot: Double): FlatGeom =
    FlatGeom.polygon(starRing(cx, cy, r, n, rot))

  private def rect(x0: Double, y0: Double, x1: Double, y1: Double): Array[Double] =
    ring(Seq((x0, y0), (x1, y0), (x1, y1), (x0, y1)))

  private def stars: Seq[(FlatGeom, FlatGeom)] = {
    val r = new SplittableRandom(101)
    val ns = Array(8, 16, 32, 64)
    val small = (0 until 48).map { i =>
      val cx = u(r, -170, 170); val cy = u(r, -70, 70)
      val ra = u(r, 0.01, 0.5)
      (star(cx, cy, ra, ns(i % 4), u(r, 0, Math.PI)),
        star(cx + u(r, -ra, ra), cy + u(r, -ra, ra), u(r, 0.01, 0.5), ns((i / 4) % 4), u(r, 0, Math.PI)))
    }
    val large = Seq(256, 1024).map { n =>
      (star(10, 20, 0.4, n, 0.3), star(10.05, 20.02, 0.1, 16, 1.1))
    }
    small ++ large
  }

  /** Integer-lattice rectangles: shared edges, partial edge overlaps,
    * identical and nested boxes, corner touches; plus L-shapes. */
  private def squares: Seq[(FlatGeom, FlatGeom)] = {
    val r = new SplittableRandom(202)
    def box(): Array[Double] = {
      val x0 = r.nextInt(5); val y0 = r.nextInt(5)
      rect(x0, y0, x0 + 1 + r.nextInt(3), y0 + 1 + r.nextInt(3))
    }
    val random = (0 until 60).map(_ => (FlatGeom.polygon(box()), FlatGeom.polygon(box())))
    val lShape = FlatGeom.polygon(ring(Seq((0.0, 0.0), (3.0, 0.0), (3.0, 1.0), (1.0, 1.0), (1.0, 3.0), (0.0, 3.0))))
    val fixed = Seq(
      (rect(0, 0, 2, 2), rect(2, 0, 4, 2)), // full shared edge
      (rect(0, 0, 2, 2), rect(2, 1, 4, 3)), // partial shared edge
      (rect(0, 0, 2, 2), rect(0, 0, 2, 2)), // identical
      (rect(0, 0, 4, 4), rect(1, 1, 3, 3)), // nested
      (rect(0, 0, 4, 4), rect(0, 1, 2, 3)), // nested, touching
      (rect(0, 0, 2, 2), rect(2, 2, 4, 4)), // corner touch
      (rect(0, 0, 2, 2), rect(5, 5, 6, 6)) // disjoint
    ).map { case (a, b) => (FlatGeom.polygon(a), FlatGeom.polygon(b)) }
    random ++ fixed ++ Seq((lShape, FlatGeom.polygon(rect(1, 1, 2, 2))),
      (lShape, FlatGeom.polygon(rect(0, 1, 1, 2))))
  }

  /** Shared runs that are collinear only to ~1e-10 relative (and a
    * few to ~1e-8), at magnitudes 1 to 1e6: the inputs that drive the
    * coarse-tolerance retry. */
  private def nearCollinear: Seq[(FlatGeom, FlatGeom)] = {
    val r = new SplittableRandom(303)
    (0 until 24).map { i =>
      val scale = Math.pow(10, i % 7)
      val jitter = (if (i % 5 == 0) 1e-8 else 1e-10) * scale
      val k = 3 + i % 6
      val top = (0 to k).map(j => (scale * j / k, u(r, -jitter, jitter)))
      val a = ring(Seq((0.0, -scale)) ++ (Seq((scale, -scale)) ++ top.reverse))
      val off = if (i % 2 == 0) 0.0 else scale / (2 * k)
      val bottom = (0 to k).map(j => (Math.min(scale, off + scale * j / k), u(r, -jitter, jitter)))
      val b = ring(bottom.distinct ++ Seq((scale, scale), (0.0, scale)))
      (FlatGeom.polygon(a), FlatGeom.polygon(b))
    }
  }

  private def holes: Seq[(FlatGeom, FlatGeom)] = {
    val r = new SplittableRandom(404)
    val fixed = Seq(
      (FlatGeom.polygon(rect(0, 0, 10, 10), Seq(rect(2, 2, 4, 4), rect(6, 6, 8, 8))),
        FlatGeom.polygon(rect(3, 3, 7, 7))),
      (FlatGeom.polygon(rect(0, 0, 10, 10), Seq(rect(2, 2, 8, 8))),
        FlatGeom.polygon(rect(2, 2, 8, 8))), // hole filled exactly
      (FlatGeom.polygon(rect(0, 0, 10, 10), Seq(rect(2, 2, 8, 8))),
        FlatGeom.polygon(rect(4, 4, 12, 6))))
    val random = (0 until 16).map { i =>
      val cx = u(r, -50, 50); val cy = u(r, -50, 50)
      val a = FlatGeom.polygon(starRing(cx, cy, 1.0, 16 << (i % 3), u(r, 0, 1)),
        Seq(starRing(cx, cy, 0.4, 8, u(r, 0, 1)).reverse))
      (a, star(cx + u(r, -0.6, 0.6), cy + u(r, -0.6, 0.6), u(r, 0.2, 0.8), 8 << (i % 4), u(r, 0, 1)))
    }
    fixed ++ random
  }

  private def multis: Seq[(FlatGeom, FlatGeom)] = {
    val r = new SplittableRandom(505)
    (0 until 16).map { i =>
      def mp(parts: Int) = FlatGeom.multiPolygon((0 until parts).map { p =>
        star(p * 1.0 + u(r, -0.3, 0.3), u(r, -0.3, 0.3), u(r, 0.2, 0.6), 8 << (p % 3), u(r, 0, 1))
      })
      (mp(1 + i % 3), mp(1 + (i / 3) % 3))
    }
  }

  /** Signed zeros and ulp-twin vertices: boxes meeting on x = ±0.0
    * and vertices one ulp off their partner's. */
  private def zerosAndTwins: Seq[(FlatGeom, FlatGeom)] = {
    val z = -0.0
    val up = Math.nextUp(1.0); val down = Math.nextDown(1.0)
    Seq(
      (ring(Seq((-1.0, 0.0), (z, 0.0), (z, 1.0), (-1.0, 1.0))), rect(0, 0, 1, 1)),
      (ring(Seq((-1.0, z), (z, z), (z, 1.0), (-1.0, 1.0))), ring(Seq((z, z), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)))),
      (rect(0, 0, 1, 1), ring(Seq((z, z), (1.0, z), (1.0, 1.0), (z, 1.0)))),
      (rect(0, 0, 1, 1), ring(Seq((up, 0.0), (2.0, 0.0), (2.0, 1.0), (up, 1.0)))),
      (rect(0, 0, 1, 1), ring(Seq((down, 0.0), (2.0, 0.0), (2.0, down), (down, up)))),
      (rect(0, 0, 1, 1), ring(Seq((0.5, up), (1.5, up), (1.5, 2.0), (0.5, 2.0)))),
      (rect(0, 0, 1, 1), ring(Seq((Math.nextUp(0.0), 0.0), (1.0, Math.nextDown(0.0)),
        (1.0, up), (0.0, down)))),
      (rect(1e6, 1e6, 1e6 + 1, 1e6 + 1), ring(Seq((Math.nextUp(1e6 + 1), 1e6), (1e6 + 2, 1e6),
        (1e6 + 2, 1e6 + 1), (1e6 + 1, Math.nextUp(1e6 + 1)))))
    ).map { case (a, b) => (FlatGeom.polygon(a), FlatGeom.polygon(b)) }
  }

  /** A vertex P hovering within the cut tolerance above a horizontal
    * (or beside a vertical) edge, its own edges leading away, so that
    * the edges' bboxes do not meet and only the proximity pad pairs
    * them; P's cluster partner Q sits beyond the tolerance, so cutting
    * at P (which canonicalizes to Q) differs from not cutting. */
  private def hovering: Seq[(FlatGeom, FlatGeom)] =
    for {
      scale <- Seq(1.0, 1e3)
      epsRel <- Seq(1e-13, 1e-9)
      f <- Seq(0.3, 0.9)
      vertical <- Seq(false, true)
    } yield {
      val e = epsRel * (1 + 5 * scale)
      val pts = Seq((5 * scale, f * e), (8 * scale, 5 * scale), (2 * scale, 5 * scale),
        (5 * scale - 0.5 * e, (f + 0.9) * e))
        .map { case (x, y) => if (vertical) (y, x) else (x, y) }
      val a = if (vertical) rect(-10 * scale, 0, 0, 10 * scale) else rect(0, -10 * scale, 10 * scale, 0)
      (FlatGeom.polygon(a), FlatGeom.polygon(ring(if (vertical) pts.reverse else pts)))
    }

  private def ops(pairs: Seq[(FlatGeom, FlatGeom)]): String = digestOf { d =>
    pairs.foreach { case (a, b) =>
      var op = 0
      while (op < 4) { d.guarded(Overlay.booleanOp(a, b, op)); op += 1 }
    }
  }

  /** Recorded on the all-pairs, tuple-keyed overlay noding. */
  private val expected = Map(
    "stars" -> "7ae989680f66fd4d",
    "squares" -> "c0df0ad0e0f97ddf",
    "nearCollinear" -> "9be47779a9b41ee8",
    "holes" -> "aabc2276cb4fd5f1",
    "multis" -> "6294388a924c76ce",
    "zerosAndTwins" -> "b3aa12534c9468ef",
    "fixtures" -> "7093b20fa9cc4d11",
    "nan" -> "ba50b3a2fd09eb51",
    "bufferStars" -> "70eee9680d55d964",
    "bufferPolygons" -> "250c6af02deb9d38",
    "bufferLines" -> "cdd51cc3125fb6de",
    "simplify" -> "183a503d2156a0b3",
    "relate" -> "c66bb5be46648f5e",
    "hovering" -> "4ea0ca2aa244575e")

  private def check(name: String, got: String): Unit =
    assert(got == expected(name), s"$name: digest $got, recorded ${expected(name)}")

  // ---------------------------------------------------------- overlay

  test("booleanOp: stars (8 to 1,024 vertices)") { check("stars", ops(stars)) }
  test("booleanOp: lattice squares with shared edges") { check("squares", ops(squares)) }
  test("booleanOp: near-collinear shared runs") { check("nearCollinear", ops(nearCollinear)) }
  test("booleanOp: polygons with holes") { check("holes", ops(holes)) }
  test("booleanOp: multipolygons") { check("multis", ops(multis)) }
  test("booleanOp: signed zeros and ulp-twin vertices") { check("zerosAndTwins", ops(zerosAndTwins)) }
  test("booleanOp: a vertex hovering just off an edge") { check("hovering", ops(hovering)) }
  test("booleanOp: parish and state fixtures") {
    val la = fixture("louisiana.wkt"); val ebr = fixture("east_baton_rouge.wkt")
    check("fixtures", ops(Seq((la, ebr), (ebr, la))))
  }
  test("booleanOp: a NaN vertex") {
    val nan = FlatGeom.polygon(ring(Seq((0.0, 0.0), (2.0, 0.0), (Double.NaN, 2.0), (0.0, 2.0))))
    check("nan", ops(Seq((nan, FlatGeom.polygon(rect(1, 1, 3, 3))))))
  }

  // ----------------------------------------------------------- buffer

  private val styles = for {
    cap <- Seq(Buffer.CapRound, Buffer.CapFlat, Buffer.CapSquare)
    join <- Seq(Buffer.JoinRound, Buffer.JoinMitre, Buffer.JoinBevel)
  } yield (cap, join)

  private def buffers(d: Digest, gs: Seq[FlatGeom], dists: Seq[Double]): Unit =
    gs.foreach { g =>
      dists.foreach { dist =>
        styles.foreach { case (cap, join) =>
          d.guarded(Buffer.buffer(g, dist, 8, cap, join))
        }
      }
      d.guarded(Buffer.buffer(g, dists.head, 2))
    }

  test("buffer: the sql table's 8- and 16-vertex stars at 0.01") {
    val r = new SplittableRandom(606)
    val gs = (0 until 24).map(i => star(u(r, -170, 170), u(r, -70, 70), u(r, 0.01, 0.1), 8 << (i % 2), u(r, 0, Math.PI)))
    check("bufferStars", digestOf { d => gs.foreach(g => d.guarded(Buffer.buffer(g, 0.01))) })
  }
  test("buffer: polygons, holes and multipolygons at ±d and 0, every cap and join") {
    val r = new SplittableRandom(707)
    val gs = Seq(
      star(0, 0, 1, 16, 0.2),
      FlatGeom.polygon(rect(0, 0, 4, 4), Seq(rect(1, 1, 3, 3))),
      FlatGeom.polygon(ring(Seq((0.0, 0.0), (3.0, 0.0), (3.0, 1.0), (1.0, 1.0), (1.0, 3.0), (0.0, 3.0)))),
      FlatGeom.multiPolygon(Seq(star(0, 0, 0.5, 8, 0.1), star(1.2, 0.1, 0.5, 16, 0.7))),
      star(u(r, -10, 10), u(r, -10, 10), 0.3, 32, u(r, 0, 1)))
    check("bufferPolygons", digestOf { d =>
      buffers(d, gs, Seq(0.1, -0.1, 0.3))
      gs.foreach(g => d.guarded(Buffer.buffer(g, 0.0)))
    })
  }
  test("buffer: lines, points and multipoints, every cap and join") {
    val r = new SplittableRandom(808)
    val zig = FlatGeom.lineString((0 until 9).flatMap(i => Seq(i.toDouble, if (i % 2 == 0) 0.0 else 1.0)).toArray)
    val walk = FlatGeom.lineString((0 until 12).flatMap(_ => Seq(u(r, 0, 5), u(r, 0, 5))).toArray)
    val closed = FlatGeom.lineString(rect(0, 0, 2, 2))
    val mls = FlatGeom.multiLineString(Seq(Array(0.0, 0.0, 2.0, 0.0), Array(1.0, -1.0, 1.0, 1.0)))
    val mp = new FlatGeom(GeomKind.MultiPoint, Array(0.0, 0.0, 0.3, 0.1, 2.0, 2.0), Array.emptyIntArray, Array.emptyIntArray)
    check("bufferLines", digestOf(d => buffers(d, Seq(zig, walk, closed, mls, FlatGeom.point(1, 2), mp), Seq(0.25, 0.6, -0.2))))
  }

  // ----------------------------------------------- simplify and relate

  test("Simplify.rdp: noisy stars, a 1,024-vertex star and the Norway fixture") {
    val r = new SplittableRandom(909)
    val gs = (0 until 40).map { i =>
      val n = 8 << (i % 8)
      val cs = starRing(u(r, -50, 50), u(r, -50, 50), u(r, 0.1, 2), n, u(r, 0, 1))
      var k = 0
      while (k < cs.length - 2) { cs(k) += u(r, -0.01, 0.01); k += 1 }
      cs(cs.length - 2) = cs(0); cs(cs.length - 1) = cs(1)
      if (i % 3 == 0) FlatGeom.lineString(cs.dropRight(2)) else FlatGeom.polygon(cs)
    } ++ Seq(star(0, 0, 1, 1024, 0.1), fixture("norway_main.wkt"), fixture("louisiana.wkt"))
    check("simplify", digestOf { d =>
      gs.foreach(g => Seq(0.0, 0.001, 0.01, 0.1, 1.0).foreach(e => d.guarded(Simplify.rdp(g, e))))
    })
  }

  test("Relate.relate matrices and STRtree hit order: polygon pairs across the index threshold") {
    val r = new SplittableRandom(1010)
    val pairs = (0 until 40).map { i =>
      val cx = u(r, -10, 10); val cy = u(r, -10, 10)
      (star(cx, cy, u(r, 0.1, 1), 8 << (i % 8), u(r, 0, 1)),
        star(cx + u(r, -1, 1), cy + u(r, -1, 1), u(r, 0.1, 1), 8 << ((i / 8) % 8), u(r, 0, 1)))
    }
    check("relate", digestOf { d =>
      pairs.foreach { case (a, b) =>
        Relate.relate(a, b).foreach(d.int); Relate.relate(b, a).foreach(d.int)
        val (tree, x1, y1, x2, y2) = STRtree.ofSegments(b)
        d.int(x1.length)
        var k = 0
        while (k < a.numPoints - 1) {
          tree.query(Math.min(a.x(k), a.x(k + 1)), Math.min(a.y(k), a.y(k + 1)),
            Math.max(a.x(k), a.x(k + 1)), Math.max(a.y(k), a.y(k + 1))).foreach(d.int)
          k += 1
        }
      }
      val boxes = (0 until 500).map(_ => { val x = u(r, 0, 100); val y = u(r, 0, 100); (x, y, x + u(r, 0, 5), y + u(r, 0, 5)) })
      val tree = STRtree.build(boxes.map(_._1).toArray, boxes.map(_._2).toArray,
        boxes.map(_._3).toArray, boxes.map(_._4).toArray)
      (0 until 200).foreach { _ =>
        val x = u(r, 0, 100); val y = u(r, 0, 100)
        tree.query(x, y, x + 3, y + 3).foreach(d.int)
        tree.nearestK(x, y, 7).foreach(d.int)
      }
    })
  }
}
