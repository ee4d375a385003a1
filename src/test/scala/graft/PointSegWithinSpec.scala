package graft

import java.util.SplittableRandom
import org.scalatest.funsuite.AnyFunSuite
import graft.kernels.{Planar, Simplify}

/**
 * `Planar.pointSegWithin` must be exactly `pointSegDistance <= tol`,
 * and RDP's squared-distance ranking must pick exactly the points the
 * distance itself picks. Seeded cases cover zero-length segments,
 * coordinates from 1e-150 to 1e150 (and past the square-safe range),
 * signed zeros, NaN and infinities, with tol at the distance and one
 * ulp either side of it.
 */
class PointSegWithinSpec extends AnyFunSuite {

  private def magnitude(r: SplittableRandom): Double = Math.pow(10, -150 + r.nextDouble() * 300)
  private def signed(r: SplittableRandom, m: Double): Double = if (r.nextBoolean()) m else -m

  private val specials = Array(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, Double.MaxValue, 1e300, 1e-300)

  private def agree(px: Double, py: Double, x1: Double, y1: Double, x2: Double, y2: Double,
      tol: Double): Unit = {
    val want = Planar.pointSegDistance(px, py, x1, y1, x2, y2) <= tol
    val got = Planar.pointSegWithin(px, py, x1, y1, x2, y2, tol)
    if (got != want)
      fail(s"pointSegWithin($px, $py, $x1, $y1, $x2, $y2, $tol) = $got, distance says $want")
  }

  /** tol at the distance, one ulp either side, and a few multiples. */
  private def atDistance(px: Double, py: Double, x1: Double, y1: Double, x2: Double, y2: Double): Unit = {
    val d = Planar.pointSegDistance(px, py, x1, y1, x2, y2)
    Seq(d, Math.nextUp(d), Math.nextDown(d), d * (1 + 1e-12), d * (1 - 1e-12), d * 2, d / 2, 0.0, -1.0)
      .foreach(t => agree(px, py, x1, y1, x2, y2, t))
  }

  test("pointSegWithin equals pointSegDistance <= tol at tol = d and d ± 1 ulp") {
    val r = new SplittableRandom(4711)
    var k = 0
    while (k < 120000) {
      // one scale per case so that the point can sit near the segment
      val m = magnitude(r)
      val x1 = signed(r, m * r.nextDouble()); val y1 = signed(r, m * r.nextDouble())
      val (x2, y2) =
        if (k % 7 == 0) (x1, y1) // zero-length segment
        else (signed(r, m * r.nextDouble()), signed(r, m * r.nextDouble()))
      val (px, py) = k % 3 match {
        case 0 => (signed(r, m * r.nextDouble()), signed(r, m * r.nextDouble()))
        case 1 =>
          // near the segment's interior, offset by a small relative amount
          val t = r.nextDouble()
          val off = m * Math.pow(10, -16 + 10 * r.nextDouble())
          (x1 + t * (x2 - x1) + signed(r, off), y1 + t * (y2 - y1) + signed(r, off))
        case _ =>
          // near an endpoint
          val off = m * Math.pow(10, -16 + 10 * r.nextDouble())
          (x2 + signed(r, off), y2 + signed(r, off))
      }
      atDistance(px, py, x1, y1, x2, y2)
      k += 1
    }
  }

  test("pointSegWithin agrees at unrelated magnitudes, signed zeros, NaN and infinities") {
    val r = new SplittableRandom(815)
    def pick(): Double =
      if (r.nextInt(4) == 0) specials(r.nextInt(specials.length)) else signed(r, magnitude(r))
    var k = 0
    while (k < 60000) {
      val x1 = pick(); val y1 = pick()
      val zero = k % 5 == 0
      val x2 = if (zero) x1 else pick(); val y2 = if (zero) y1 else pick()
      val px = pick(); val py = pick()
      atDistance(px, py, x1, y1, x2, y2)
      agree(px, py, x1, y1, x2, y2, pick())
      agree(px, py, x1, y1, x2, y2, Double.NaN)
      agree(px, py, x1, y1, x2, y2, Double.PositiveInfinity)
      k += 1
    }
  }

  test("pointSegWithin agrees on lattice points at exact distances (ties with tol)") {
    var x = -3
    while (x <= 3) {
      var y = -3
      while (y <= 3) {
        Seq((0.0, 0.0, 2.0, 0.0), (0.0, 0.0, 2.0, 2.0), (1.0, 1.0, 1.0, 1.0), (-1.0, 2.0, 3.0, -1.0)).foreach {
          case (x1, y1, x2, y2) =>
            atDistance(x, y, x1, y1, x2, y2)
            Seq(0.0, 1.0, Math.sqrt(2), 2.0, 5.0).foreach(t => agree(x, y, x1, y1, x2, y2, t))
        }
        y += 1
      }
      x += 1
    }
  }

  /** The index-slice recursion that ranked every point by its
    * `pointSegDistance` (the reference for `Simplify.rdpIndices`). */
  private def rdpReference(cs: Array[Double], base: Int, idx: Array[Int], left: Array[Int],
      epsilon: Double, initialMin: Int): Array[Int] = {
    if (idx.length <= 2) return idx
    val first = idx(0); val last = idx(idx.length - 1)
    var fi = 0
    var fd = 0.0
    var i = 1
    while (i < idx.length - 1) {
      val d = Planar.pointSegDistance(cs(2 * (base + idx(i))), cs(2 * (base + idx(i)) + 1),
        cs(2 * (base + first)), cs(2 * (base + first) + 1), cs(2 * (base + last)), cs(2 * (base + last) + 1))
      if (d >= fd) { fi = i; fd = d }
      i += 1
    }
    if (fd > epsilon) {
      val l = rdpReference(cs, base, idx.slice(0, fi + 1), left, epsilon, initialMin)
      val r = rdpReference(cs, base, idx.slice(fi, idx.length), left, epsilon, initialMin)
      return l.dropRight(1) ++ r
    }
    val newLength = left(0) - (idx.length - 2)
    if (newLength < initialMin) return idx
    left(0) = newLength
    Array(first, last)
  }

  test("rdpIndices keeps exactly the points the distance ranking keeps, ties and extremes included") {
    val r = new SplittableRandom(99)
    var k = 0
    while (k < 3000) {
      val n = 1 + r.nextInt(60)
      val cs = new Array[Double](2 * n)
      k % 4 match {
        case 0 => // lattice: many exactly equal distances
          var i = 0; while (i < 2 * n) { cs(i) = r.nextInt(7) - 3; i += 1 }
        case 1 => // wide magnitudes
          var i = 0; while (i < 2 * n) { cs(i) = signed(r, magnitude(r)); i += 1 }
        case 2 => // a noisy line: near-ties
          var i = 0
          while (i < n) { cs(2 * i) = i; cs(2 * i + 1) = (r.nextInt(3) - 1) * 1e-9 * (1 + r.nextDouble() * 1e-12); i += 1 }
        case _ =>
          var i = 0
          while (i < 2 * n) { cs(i) = if (r.nextInt(12) == 0) specials(r.nextInt(specials.length)) else r.nextDouble(); i += 1 }
      }
      Seq(1e-12, 1e-9, 0.01, 0.5, 2.0, 1e100, Double.NaN).foreach { eps =>
        Seq(Simplify.LineStringInitialMin, Simplify.PolygonInitialMin).foreach { min =>
          val want = if (!(eps <= 0.0) && n > 0) rdpReference(cs, 0, Array.range(0, n), Array(n), eps, min)
            else Array.range(0, n)
          val got = Simplify.rdpIndices(cs, 0, n, eps, min)
          assert(got.sameElements(want), s"n=$n eps=$eps min=$min: ${got.mkString(",")} vs ${want.mkString(",")}")
        }
      }
      k += 1
    }
  }
}
