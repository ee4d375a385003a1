package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/**
 * Crash-resistance fuzz of the SQL surface: every expression in the
 * battery must EXECUTE (null / NaN / empty are all acceptable results)
 * over a corpus of degenerate, extreme and adversarial geometries. At
 * 100 TB a single malformed row must never kill the job — the library
 * contract is null-propagation, not exceptions.
 */
class EdgeFuzzSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val corpus = Seq(
    "POINT(0 0)",
    "POINT(0 90)", // pole
    "POINT(-180 -90)",
    "POINT(1e300 1e300)", // absurd magnitude
    "POINT(1e-320 0)", // subnormal
    "LINESTRING EMPTY",
    "POLYGON EMPTY",
    "MULTIPOINT EMPTY",
    "MULTILINESTRING EMPTY",
    "MULTIPOLYGON EMPTY",
    "GEOMETRYCOLLECTION EMPTY", // canonical WKT empty → empty geometry
    "LINESTRING(0 0,0 0)", // zero-length
    "LINESTRING(179.9 0,-179.9 0)", // antimeridian hop
    "LINESTRING(0 89.9999,180 89.9999)", // over the pole
    "POLYGON((0 0,0 0,0 0,0 0))", // collapsed ring
    "POLYGON((0 0,2 2,2 0,0 2,0 0))", // bowtie (invalid)
    "POLYGON((0 0,1 0,1 1,0 1,0 0),(0 0,1 0,1 1,0 1,0 0))", // hole == shell
    "POLYGON((0 0,4 0,4 4,0 4,0 0),(10 10,11 10,11 11,10 11,10 10))", // hole outside
    "POLYGON((0 0,1e-15 0,1e-15 1e-15,0 1e-15,0 0))", // sliver
    "MULTIPOLYGON(((0 0,1 0,1 1,0 1,0 0)),((0 0,1 0,1 1,0 1,0 0)))", // dup parts
    "LINESTRING(0 0,1 1,0 0,1 1,0 0)", // back-and-forth
    "POINT(-91.147385 30.471165)")

  // one geometry column g; a/b pair view built from the cross product
  private lazy val ready: Unit = {
    val df = spark.createDataFrame(
      corpus.map(Tuple1.apply)).toDF("wkt")
      .withColumn("g", expr("st_geomfromtext(wkt)"))
    df.createOrReplaceTempView("fuzz")
    spark.sql(
      """SELECT a.wkt AS wa, b.wkt AS wb, a.g AS ga, b.g AS gb
        |FROM fuzz a CROSS JOIN fuzz b""".stripMargin)
      .createOrReplaceTempView("fuzz2")
  }

  private val unary = Seq(
    "st_area(g)", "st_unsigned_area(g)", "st_sphere_area(g)",
    "st_geodesic_area(g)", "st_geodesic_area_unsigned(g)",
    "st_length(g)", "st_length_sphere(g)", "st_length_rhumb(g)",
    "st_length_geodesic(g)", "st_perimeter(g)",
    "st_numpoints(g)", "st_isempty(g)", "st_isccw(g)", "st_isconvex(g)",
    "st_windingorder(g)", "st_xmin(g)", "st_ymax(g)", "st_extremes(g)",
    "st_astext(st_centroid(g))", "st_astext(st_envelope(g))",
    "st_astext(st_interiorpoint(g))", "st_astext(st_convexhull(g))",
    "st_isvalid(g)", "st_isvalidreason(g)",
    "st_astext(st_force_cw(g))", "st_astext(st_force_ccw(g))",
    "st_astext(st_removerepeated(g))",
    "st_astext(st_toradians(g))", "st_astext(st_todegrees(g))",
    "st_astext(st_simplify(g, 0.5d))", "st_astext(st_simplifyvw(g, 0.5d))",
    "st_astext(st_simplifyvw_preserve(g, 0.5d))",
    "st_astext(st_densify(g, 1e6d))",
    "st_astext(st_densify_haversine(g, 1e6d))",
    "st_astext(st_densify_rhumb(g, 1e6d))",
    "st_astext(st_densify_geodesic(g, 1e6d))",
    // vanishing maxLen: the split cap must null-propagate, not OOM
    "st_astext(st_densify(g, 1e-12d))",
    "st_astext(st_densify_geodesic(g, 1e-9d))",
    "st_astext(st_chaikin(g, 2))",
    "st_astext(st_snap_to_grid(g, 0.5d))",
    "size(st_dumppoints(g))", "size(st_dumpsegments(g))",
    "size(st_covering(4, g))",
    "st_astext(st_rotate(g, 33.0d))",
    "st_astext(st_scale(g, 2.0d, 0.5d))",
    "st_astext(st_translate(g, 1.0d, -1.0d))",
    "st_astext(st_skew(g, 15.0d, 5.0d))",
    "st_aswkb(g)", "st_astext(st_geomfromwkb(st_aswkb(g)))",
    "st_astext(st_boundary(g))", "st_numparts(g)",
    "st_minclearance(g)", "st_astext(st_minclearanceline(g))",
    "st_collection_astext(st_unary_union(array(g)))",
    "size(st_polygonize(array(g)))",
    "st_astext(st_transform(g, 4326, 3857))",
    "st_astext(st_transform(st_transform(g, 4326, 32631), 32631, 4326))",
    "st_astext(st_transform(g, 4326, 28992))",
    "st_srid(st_asewkb(g, 4326))", "st_astext(st_geomfromewkb(st_asewkb(g, 28992)))",
    "st_astext(st_collection_centroid(array(g)))",
    "st_astext(st_normalize(g))",
    "st_astext(st_normalize(st_normalize(g)))",
    // round-4 surface: tiles, grids, median, sampling, mvt codec
    "st_astext(st_asmvtgeom(g, 3, CAST(2 AS BIGINT), CAST(5 AS BIGINT)))",
    "st_astext(st_asmvtgeom(g, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT), 256, 0, false))",
    "size(st_squaregrid(g, 0.5d))",
    "size(st_squaregrid(g, 1e-12d))", // world grid over the cap -> null
    "size(st_squaregrid(g, -1.0d))",
    "st_astext(st_geometricmedian(g))",
    "st_astext(st_geometricmedian(st_points(g)))",
    "st_astext(st_generatepoints(g, 8))",
    "st_astext(st_generatepoints(g, 0))",
    "st_numpoints(st_generatepoints(g, 1048577))", // over MaxPoints -> null
    "st_mvt_extent(st_aswkb(g))", // garbage bytes -> null, never throw
    "size(st_mvt_decode(st_aswkb(g)))",
    "st_mvt_layername(st_aswkb(g))")

  private val binary = Seq(
    "st_distance(ga, gb)", "st_hausdorff(ga, gb)", "st_frechet(ga, gb)",
    "st_contains(ga, gb)", "st_within(ga, gb)", "st_intersects(ga, gb)",
    "st_disjoint(ga, gb)", "st_relate(ga, gb)",
    "st_astext(st_intersection(ga, gb))", "st_astext(st_union(ga, gb))",
    "st_astext(st_difference(ga, gb))", "st_astext(st_symdifference(ga, gb))",
    "st_astext(st_intersection_sr(ga, gb, 0.5d))",
    "st_astext(st_union_sr(ga, gb, 0.5d))",
    "st_astext(st_closestpoint(ga, gb))",
    "st_collection_astext(st_unary_union(array(ga, gb)))",
    "size(st_polygonize(array(ga, gb)))",
    "size(st_union_hetero(ga, gb))", "size(st_intersection_hetero(ga, gb))",
    "size(st_difference_hetero(ga, gb))", "size(st_symdifference_hetero(ga, gb))",
    "st_astext(st_collection_centroid(array(ga, gb)))",
    "st_azimuth(ga, gb)")

  private def run(view: String, exprs: Seq[String], chunk: Int): Unit = {
    ready
    exprs.grouped(chunk).foreach { grp =>
      val sql = s"SELECT ${grp.mkString(", ")} FROM $view"
      try spark.sql(sql).collect()
      catch {
        case e: Throwable =>
          // bisect: find the (expression, row) pair that blew up
          for (ex <- grp) {
            try spark.sql(s"SELECT $ex FROM $view").collect()
            catch {
              case e2: Throwable =>
                val cols = if (view == "fuzz") "wkt" else "wa, wb"
                val rows = spark.sql(s"SELECT $cols FROM $view").collect()
                for (r <- rows) {
                  val where = if (view == "fuzz") s"wkt = '${r.getString(0)}'"
                  else s"wa = '${r.getString(0)}' AND wb = '${r.getString(1)}'"
                  try spark.sql(s"SELECT $ex FROM $view WHERE $where").collect()
                  catch {
                    case e3: Throwable =>
                      fail(s"$ex threw on ${r.mkString(" | ")}: ${e3.getMessage}", e3)
                  }
                }
                fail(s"$ex threw (row not isolated): ${e2.getMessage}", e2)
            }
          }
          fail(s"chunk threw but no single expression reproduced: ${e.getMessage}", e)
      }
    }
  }

  test("unary battery never throws on the edge corpus") {
    run("fuzz", unary, 8)
  }

  test("binary battery never throws on the edge-pair corpus") {
    run("fuzz2", binary, 5)
  }

  test("constructive ops never throw on the edge corpus") {
    run("fuzz", Seq(
      "st_astext(st_interiorpoint(g))",
      "st_astext(st_minrotatedrect(g))",
      "st_astext(st_concavehull(g, 2.0d))",
      "st_astext(st_knnconcavehull(g, 3))",
      "size(st_triangulate(g))",
      "size(st_delaunay(g))",
      "size(st_delaunay_unconstrained(g))",
      "st_astext(st_stitch(st_triangulate(g)))",
      "st_astext(st_lineintersection(g, g))",
      "st_hausdorff(g, st_translate(g, 0.5d, 0.5d))",
      "st_isvalidreason(st_snap_to_grid(g, 1.0d))"), 4)
  }

  test("aggregates never throw when fed the whole edge corpus") {
    ready
    import graft.sql.{functions => gf}
    val base = spark.table("fuzz").filter(col("g").isNotNull)
    // global aggregation over every degenerate input at once
    val row = base.agg(
      gf.st_union_agg(col("g")).as("u"),
      gf.st_convexhull_agg(col("g")).as("h"),
      gf.st_numpoints(gf.st_collect_agg(col("g"))).as("n")).collect()
    assert(row.length == 1 && row(0).getInt(2) > 0)
    // grouped variant: mixed degenerate inputs per group
    val grouped = base.groupBy(pmod(length(col("wkt")), lit(2)).as("grp"))
      .agg(gf.st_union_agg(col("g")).as("u"),
        gf.st_convexhull_agg(col("g")).as("h"))
      .collect()
    assert(grouped.length == 2)
  }

  test("metric point ops never throw on pole/antimeridian/huge points") {
    val pts = Seq("POINT(0 0)", "POINT(0 90)", "POINT(-180 -90)",
      "POINT(180 90)", "POINT(1e300 1e300)", "POINT(1e-320 0)",
      "MULTIPOINT EMPTY", "LINESTRING EMPTY") // empty → null, never AIOOBE
    spark.createDataFrame(for (a <- pts; b <- pts) yield (a, b)).toDF("wa", "wb")
      .withColumn("pa", expr("st_geomfromtext(wa)"))
      .withColumn("pb", expr("st_geomfromtext(wb)"))
      .createOrReplaceTempView("fuzzp")
    run("fuzzp", Seq(
      "st_distance_sphere(pa, pb)", "st_distance_rhumb(pa, pb)",
      "st_distance_geodesic(pa, pb)", "st_distance_vincenty(pa, pb)",
      "st_bearing(pa, pb)", "st_bearing_rhumb(pa, pb)",
      "st_bearing_geodesic(pa, pb)",
      "st_astext(st_project(pa, 123.0d, 1e7d))",
      "st_astext(st_project_rhumb(pa, 123.0d, 1e7d))",
      "st_astext(st_project_geodesic(pa, 123.0d, 1e7d))",
      "st_astext(st_lineinterpolate_sphere(pa, pb, 0.3d))",
      "st_astext(st_lineinterpolate_rhumb(pa, pb, 0.3d))",
      "st_astext(st_lineinterpolate_geodesic(pa, pb, 0.3d))",
      "st_cellid(28, st_x(pa), st_y(pa))",
      "st_astext(st_cell_bounds(st_cellid(12, st_x(pa), st_y(pa))))"), 5)
  }

  test("forged WKB counts are refused before they are allocated") {
    import graft.core.Wkb
    // a 25-byte little-endian LineString: one point of payload after
    // the count; 0x3FFFFFFF once asked for an array over the VM limit
    // (an Error), 0x08000000 for 2 GB before the read ran out
    for (count <- Seq(0x3FFFFFFF, 0x08000000, 2, -1)) {
      val b = java.nio.ByteBuffer.allocate(25).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte).putInt(2).putInt(count).putDouble(1.0).putDouble(2.0)
      assert(Wkb.readOpt(b.array()).isEmpty, s"count $count")
      intercept[IllegalArgumentException](Wkb.read(b.array()))
    }
    val multi = java.nio.ByteBuffer.allocate(9).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    multi.put(1.toByte).putInt(4).putInt(0x3FFFFFFF)
    intercept[IllegalArgumentException](Wkb.read(multi.array()))
  }

  test("nested and wrong-kind multi members are refused, not recursed into") {
    import graft.core.{Wkb, Wkt}
    def le(n: Int) = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // 100,000 nested MultiPolygon headers of one member each (900 KB)
    // once recursed once per level until the stack overflowed
    val depth = 100000
    val deep = le(9 * depth)
    (0 until depth).foreach(_ => deep.put(1.toByte).putInt(6).putInt(1))
    assert(Wkb.readOpt(deep.array()).isEmpty)
    intercept[IllegalArgumentException](Wkb.read(deep.array()))
    intercept[IllegalArgumentException](Wkb.readForce2D(deep.array()))
    // a member of the wrong kind: a MultiLineString holding a polygon
    // once flattened the polygon's rings into one line's coordinates
    val poly = Wkb.write(Wkt.read("POLYGON((0 0,4 0,4 4,0 4,0 0))"))
    val line = Wkb.write(Wkt.read("LINESTRING(0 0,1 1)"))
    val point = Wkb.write(Wkt.read("POINT(1 2)"))
    val multiPoly = Wkb.write(Wkt.read("MULTIPOLYGON(((0 0,1 0,1 1,0 0)))"))
    def multi(t: Int, member: Array[Byte]) = le(9 + member.length).put(1.toByte).putInt(t).putInt(1)
      .put(member).array()
    for ((t, m) <- Seq(5 -> poly, 5 -> point, 4 -> line, 6 -> line, 6 -> multiPoly, 4 -> multiPoly)) {
      val b = multi(t, m)
      assert(Wkb.readOpt(b).isEmpty, s"type $t with a ${m(1)} member")
      intercept[IllegalArgumentException](Wkb.read(b))
    }
    // members of the right kind still read
    val ml = Wkb.read(multi(5, line))
    assert(ml.kind == graft.core.GeomKind.MultiLineString && ml.coords.toSeq == Seq(0.0, 0.0, 1.0, 1.0))
    val mp = Wkb.read(multi(6, poly))
    assert(mp.kind == graft.core.GeomKind.MultiPolygon && mp.numPoints == 5)
    // through SQL both are null, and the task survives
    val rows = spark.createDataFrame(Seq(Tuple1(deep.array()), Tuple1(multi(5, poly)))).toDF("b")
      .selectExpr("st_geomfromwkb(b) IS NULL AS n").collect()
    assert(rows.map(_.getBoolean(0)).toSeq == Seq(true, true))
  }

  test("mutated WKB of every kind parses, or is refused with IllegalArgumentException") {
    import graft.core.{Wkb, Wkt}
    val seeds = Seq("POINT(1 2)", "LINESTRING(0 0,1 1,2 0)",
      "POLYGON((0 0,4 0,4 4,0 4,0 0),(1 1,2 1,2 2,1 1))", "MULTIPOINT((0 0),(1 1))",
      "MULTILINESTRING((0 0,1 1),(2 2,3 3))",
      "MULTIPOLYGON(((0 0,1 0,1 1,0 0)),((5 5,6 5,6 6,5 5),(5.2 5.1,5.8 5.1,5.8 5.7,5.2 5.1)))")
      .map(Wkt.read)
    val bases = seeds.map(Wkb.write) ++ seeds.map(Wkb.writeEwkb(_, 4326))
    val counts = Array(0x3FFFFFFF, 0x08000000, 0x7FFFFFFF, -1, 0, 1, 3)
    val rnd = new java.util.SplittableRandom(4096)
    val mutated = for (base <- bases; _ <- 0 until 1500) yield {
      val b = base.clone()
      rnd.nextInt(3) match {
        case 0 => // flip one to three bits
          (0 to rnd.nextInt(3)).foreach { _ =>
            val i = rnd.nextInt(b.length); b(i) = (b(i) ^ (1 << rnd.nextInt(8))).toByte
          }
          b
        case 1 => java.util.Arrays.copyOf(b, rnd.nextInt(b.length))
        case _ => // overwrite four bytes, as a count would be, in either order
          val i = rnd.nextInt(b.length - 3)
          val c = if (rnd.nextBoolean()) counts(rnd.nextInt(counts.length)) else rnd.nextInt()
          java.nio.ByteBuffer.wrap(b, i, 4).order(
            if (rnd.nextBoolean()) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN).putInt(c)
          b
      }
    }
    val bad = mutated.flatMap { b =>
      Seq[Array[Byte] => Any](Wkb.read, Wkb.readForce2D).flatMap { read =>
        try { read(b); None }
        catch {
          case _: IllegalArgumentException => None
          case t: Throwable => Some(s"${t.getClass.getName} on ${b.map("%02x".format(_)).mkString}")
        }
      }
    }
    if (bad.nonEmpty) fail(s"${bad.length} of ${2 * mutated.length} reads threw otherwise, first: ${bad.head}")
    // through SQL every row is a geometry or null, and the task survives
    val rows = spark.createDataFrame(mutated.map(Tuple1.apply)).toDF("b")
      .selectExpr("st_geomfromwkb(b) IS NULL AS n").collect()
    assert(rows.length == mutated.length && rows.exists(_.getBoolean(0)) && rows.exists(!_.getBoolean(0)))
  }
}
