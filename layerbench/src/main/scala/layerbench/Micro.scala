package layerbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.DataType
import graft.core.{FlatGeom, Wkb, Wkt}
import graft.index.{CellId, Quadtree}
import graft.kernels._
import graft.sql.{GeomEval, GeomSchema}

/**
 * L0 timings: single-threaded calls into `graft.core`, `graft.kernels`,
 * `graft.index` and `GeomEval`, with no Spark job, on the repository's
 * fixtures and on generated stars of 8, 64, 256 and 1,024 vertices.
 */
object Micro {
  @volatile private var sink: Any = null

  /** Median time per call, over 5 batches of at least `batchMs` each,
    * after one warm-up batch. `op(i)` is called with i = 0, 1, 2, ... */
  def perCall(layer: String, name: String, batchMs: Double = 25)(op: Int => Any): Double =
    Trace.span(layer, name) {
      var reps = 1
      var i = 0
      def batch(n: Int): Double = {
        val t0 = System.nanoTime()
        var k = 0
        var last: Any = null
        while (k < n) { last = op(i); i += 1; k += 1 }
        sink = last
        (System.nanoTime() - t0).toDouble
      }
      while (batch(reps) < batchMs * 1e6) reps *= 2
      Ctx.median((0 until 5).map(_ => batch(reps) / reps))
    }

  private def fixture(name: String): FlatGeom =
    Wkt.read(new String(Files.readAllBytes(Paths.get("src/test/resources/fixtures", name)),
      StandardCharsets.UTF_8).trim)

  def unsafeGeom(g: FlatGeom): UnsafeRow = {
    val proj = UnsafeProjection.create(Array[DataType](GeomSchema.dataType))
    proj(InternalRow(GeomSchema.toRow(g))).getStruct(0, 4).copy()
  }

  def run(seed: Long, pipStars: Int, pipVertices: Seq[Int]): Seq[M] = {
    val r = Inputs.rng(seed, 21)
    def starN(n: Int) = Inputs.star(0, 0, 1.0, n, 0.3)
    val probes = Array.fill(1024)((Inputs.uniform(r, -1, 1), Inputs.uniform(r, -1, 1)))
    def px(i: Int) = probes(i & 1023)._1
    def py(i: Int) = probes(i & 1023)._2
    val v1024 = starN(1024)
    val prepared = Monotone.prepare(v1024)
    val out = Seq.newBuilder[M]

    for (n <- Seq(8, 64, 1024)) {
      val s = starN(n)
      out += M(s"kernels.pip_ray_ns.v$n",
        perCall("kernels", s"Planar.coordPos.v$n")(i => Planar.coordPos(s, px(i), py(i))), "ns")
    }
    for (n <- Seq(256, 1024)) {
      val s = starN(n)
      out += M(s"kernels.mono_prepare_us.v$n",
        perCall("kernels", s"Monotone.prepare.v$n")(_ => Monotone.prepare(s)) / 1e3, "us")
    }
    out += M("kernels.mono_pip_ns.v1024",
      perCall("kernels", "Monotone.coordPos.v1024")(i => prepared.coordPos(px(i), py(i))), "ns")

    // the refine ladder: working sets cycled through GeomEval.containsXY
    // on UnsafeRow-encoded polygons, vertex counts 256/64/8 in turn
    val stars = Inputs.pipStars(seed, 400, Inputs.CrossingVertices)
    val ladder = stars.map(unsafeGeom)
    val cx = stars.map(s => (s.coords.indices by 2).map(s.coords).sum / s.numPoints)
    val cy = stars.map(s => (1 until s.coords.length by 2).map(s.coords).sum / s.numPoints)
    for (ws <- Seq(2, 64, 400)) {
      out += M(s"sql.refine_ns.ws$ws", perCall("sql", s"GeomEval.containsXY.ws$ws") { i =>
        val k = i % ws
        GeomEval.containsXY(ladder(k), cx(k) + 2 * px(i), cy(k) + 2 * py(i))
      }, "ns")
    }

    out += M("index.covering_us.v1024",
      perCall("index", "CellId.coveringForGeom.v1024")(_ =>
        CellId.coveringForGeom(8, Inputs.star(0, 0, 2.0, 1024, 0.3))) / 1e3, "us")
    out += M("index.covering_cells.l8",
      Inputs.pipStars(seed, pipStars, pipVertices).map(CellId.coveringForGeom(8, _).length).sum.toDouble,
      "count")
    val tgts = Inputs.points(seed, 6, 10000).map { case (k, x, y) => (x, y, k) }
    val qt = Quadtree.build(tgts.toSeq)
    out += M("index.quadtree_knn_ns",
      perCall("index", "Quadtree.knn")(i => qt.knn(tgts(i % tgts.length)._1 + 0.01, tgts(i % tgts.length)._2, 5)), "ns")

    val wkb = Wkb.write(v1024)
    val wkt = Wkt.write(v1024)
    val row = unsafeGeom(v1024)
    out += M("core.wkb_read_ns.v1024", perCall("core", "Wkb.read.v1024")(_ => Wkb.read(wkb)), "ns")
    out += M("core.wkt_read_us.v1024", perCall("core", "Wkt.read.v1024")(_ => Wkt.read(wkt)) / 1e3, "us")
    out += M("core.row_decode_ns.v1024",
      perCall("core", "GeomSchema.fromRow.v1024")(_ => GeomSchema.fromRow(row)), "ns")

    val pairs = Array.fill(1024)(Array(Inputs.uniform(r, -180, 180), Inputs.uniform(r, -80, 80),
      Inputs.uniform(r, -180, 180), Inputs.uniform(r, -80, 80)))
    out += M("kernels.karney_inverse_ns", perCall("kernels", "Geodesic.inverseDistance") { i =>
      val p = pairs(i & 1023); Geodesic.inverseDistance(p(0), p(1), p(2), p(3)) }, "ns")
    out += M("kernels.haversine_ns", perCall("kernels", "Sphere.haversineDistance") { i =>
      val p = pairs(i & 1023); Sphere.haversineDistance(p(0), p(1), p(2), p(3)) }, "ns")

    val ebr = fixture("east_baton_rouge.wkt")
    val louisiana = fixture("louisiana.wkt")
    val norway = fixture("norway_main.wkt")
    // the polygon buffer costs seconds on the parish fixture, so it is
    // timed on a 16-vertex star like the sql table's second polygon
    val small = Inputs.star(0, 0, 0.05, 16, 0.2)
    out += M("kernels.buffer_us",
      perCall("kernels", "Buffer.buffer")(_ => Buffer.buffer(small, 0.01)) / 1e3, "us")
    out += M("kernels.simplify_us",
      perCall("kernels", "Simplify.rdp")(_ => Simplify.rdp(norway, 0.01)) / 1e3, "us")
    out += M("kernels.overlay_us", perCall("kernels", "Overlay.booleanOp")(_ =>
      Overlay.booleanOp(louisiana, ebr, Overlay.OpIntersection)) / 1e3, "us")
    val sa = Inputs.star(0, 0, 0.2, 16, 0.1)
    val sb = Inputs.star(0.15, 0.05, 0.15, 16, 0.4)
    out += M("kernels.relate_us",
      perCall("kernels", "Relate.relate")(_ => Relate.relate(sa, sb)) / 1e3, "us")
    out.result()
  }
}
