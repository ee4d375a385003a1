package graft.sql

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{AnalysisException, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, ExpressionInfo, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The one SQL registration table: every entry evaluates the same
  * interpreted and generated, both session kinds see the same names,
  * and a bad argument count is an analysis error. */
class SqlSurfaceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.SparkTestSession.spark

  private def geom(wkt: String): InternalRow = GeomEval.geomFromTextOrNull(UTF8String.fromString(wkt))
  private def str(s: String): UTF8String = UTF8String.fromString(s)
  private def arr(xs: Any*): GenericArrayData = new GenericArrayData(xs.toArray)

  private val poly = geom("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1))")
  private val line = geom("LINESTRING (0 0, 1 1, 2 0, 3 1)")
  private val p = geom("POINT (0.5 0.5)")
  private val cell = GeomEval.cellId(6, 0.5, 0.5)

  /** Fixture column name -> (type, value); one row holds them all. */
  private val columns: Seq[(String, DataType, Any)] = Seq(
    ("g", GeomExprs.geomType, poly),
    ("h", GeomExprs.geomType, geom("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")),
    ("l", GeomExprs.geomType, line),
    ("l2", GeomExprs.geomType, geom("LINESTRING (0 1, 3 0)")),
    ("p", GeomExprs.geomType, p),
    ("q", GeomExprs.geomType, geom("POINT (3 3)")),
    ("o", GeomExprs.geomType, geom("POINT (0 3)")),
    ("mp", GeomExprs.geomType, geom("MULTIPOINT ((0 0), (1 2), (3 1), (2 3), (1 1))")),
    ("d", DoubleType, 0.5),
    ("f", DoubleType, 0.25),
    ("ten", DoubleType, 10.0),
    ("km", DoubleType, 10000.0),
    ("one", IntegerType, 1),
    ("three", IntegerType, 3),
    ("lvl", IntegerType, 6),
    ("eight", IntegerType, 8),
    ("ext", IntegerType, 4096),
    ("buf", IntegerType, 256),
    ("s4326", IntegerType, 4326),
    ("s3857", IntegerType, 3857),
    ("hq", LongType, 1L),
    ("hr", LongType, 2L),
    ("tx", LongType, 4L),
    ("ty", LongType, 3L),
    ("cell", LongType, cell),
    ("yes", BooleanType, true),
    ("wkt", StringType, str("POINT (1 2)")),
    ("gj", StringType, str("""{"type":"Point","coordinates":[1,2]}""")),
    ("gh", StringType, str("u4pruyd")),
    ("qk", StringType, str("0231")),
    ("style", StringType, str("quad_segs=4 endcap=flat")),
    ("pat", StringType, str("T*F**F***")),
    ("txt", StringType, str("mail bob@example.com from 10.0.0.1 via https://Example.org/x")),
    ("wkb", BinaryType, GeomEval.asWkb(poly)),
    ("tile", BinaryType, graft.kernels.MvtCodec.encodeTile("roads", 4096,
      Seq(7L -> GeomSchema.fromRow(geom("POINT (5 7)"))))),
    ("geoms", GeomExprs.geomArrayType, arr(poly, line, p)),
    ("lines", GeomExprs.geomArrayType, arr(line, geom("LINESTRING (0 1, 3 0)"))),
    ("pts", GeomExprs.geomArrayType, arr(p, geom("POINT (3 3)"))),
    ("tris", GeomExprs.geomArrayType, GeomEval.triangulate(poly)),
    ("cells", ArrayType(LongType, containsNull = false), GeomEval.cellChildren(cell)),
  )
  private val ordinal = columns.map(_._1).zipWithIndex.toMap
  private val row = InternalRow.fromSeq(columns.map(_._3))

  /** Argument columns for each registered name (several lines for the
    * entries with optional arguments). */
  private val calls: Seq[(String, String)] = Seq(
    "wkt" -> "st_geomfromtext st_geomfromtext_force2d st_collection_fromtext",
    "gj" -> "st_geomfromgeojson",
    "qk" -> "st_quadkey_decode",
    "gh" -> "st_geohash_rect st_geohash_neighbors",
    "geoms" -> ("st_collection_astext st_unary_union st_collection_centroid " +
      "st_collect_points st_union_all"),
    "lines" -> "st_polygonize",
    "pts" -> "st_makeline",
    "tris" -> "st_stitch",
    "cells" -> "st_cell_compact",
    "cells eight" -> "st_cell_uncompact",
    "txt three three" -> "st_winnow",
    "txt" -> "st_redact_pii st_host",
    "g" -> ("st_numparts st_boundary st_minclearance st_minclearanceline st_astext " +
      "st_geometrytype st_area st_unsigned_area st_sphere_area st_geodesic_area " +
      "st_geodesic_area_unsigned st_perimeter st_numpoints st_npoints st_isempty st_isccw " +
      "st_isconvex st_windingorder st_xmin st_ymin st_xmax st_ymax st_extremes st_centroid " +
      "st_envelope st_interiorpoint st_convexhull st_makevalid st_reverse st_normalize " +
      "st_exteriorring st_numinteriorrings st_dumprings st_flipcoordinates st_multi " +
      "st_points st_boundingdiagonal st_shift_longitude st_minimumboundingradius " +
      "st_removerepeated st_toradians st_todegrees st_force_cw st_force_ccw st_dumppoints " +
      "st_dumpsegments st_asgeojson st_aswkb st_isvalid st_isvalidreason " +
      "st_minrotatedrect st_triangulate st_delaunay st_dimension st_minimumboundingcircle"),
    "l" -> ("st_length st_length_sphere st_length_rhumb st_length_geodesic st_linemerge " +
      "st_startpoint st_endpoint st_isclosed st_issimple st_isring st_node"),
    "p" -> "st_x st_y",
    "mp" -> "st_delaunay_unconstrained st_voronoi st_geometricmedian",
    "mp f f ten ten" -> "st_voronoi",
    "mp d" -> "st_concavehull st_geometricmedian",
    "mp d eight" -> "st_geometricmedian",
    "mp three" -> "st_knnconcavehull",
    "d d" -> "st_point st_makepoint",
    "d d ten ten" -> "st_rect",
    "g yes" -> "st_grahamhull",
    "g eight" -> "st_subdivide st_minimumboundingcircle",
    "g one" -> "st_interiorringn st_geometryn st_chaikin",
    "l one" -> "st_pointn st_removepoint",
    "l three" -> "st_segmentize st_segmentize_sphere",
    "g s4326" -> "st_asewkb",
    "g d" -> ("st_maximuminscribedcircle st_squaregrid st_expand st_largestemptycircle " +
      "st_rotate st_simplifyvw_preserve st_snap_to_grid st_buffer"),
    "g d style" -> "st_buffer",
    "l d" -> ("st_offsetcurve st_simplify st_simplifyvw st_simplify_idx st_simplifyvw_idx " +
      "st_densify"),
    "l km" -> "st_densify_haversine st_densify_rhumb st_densify_geodesic",
    "l f" -> "st_lineinterpolatepoints st_lineinterpolatepoint",
    "g h" -> ("st_split st_maxdistance st_longestline st_contains st_within st_intersects " +
      "st_disjoint st_distance st_hausdorff st_intersection st_union st_difference " +
      "st_symdifference st_relate st_touches st_crosses st_overlaps st_covers st_coveredby " +
      "st_equals st_intersection_hetero st_union_hetero st_difference_hetero " +
      "st_symdifference_hetero"),
    "g q" -> "st_shortestline st_closestpoint",
    "l l2" -> "st_sharedpaths st_linecrossingdirection st_lineintersection st_frechet",
    "l p" -> "st_linelocatepoint st_scroll st_closestpoint_sphere",
    "p q" -> ("st_distance_sphere st_distance_rhumb st_distance_geodesic st_azimuth " +
      "st_bearing st_bearing_rhumb st_bearing_geodesic st_distance_vincenty"),
    "g h d" -> "st_snap",
    "g h ten" -> ("st_intersection_sr st_union_sr st_difference_sr st_symdifference_sr " +
      "st_intersection_sr_lines st_union_sr_lines st_difference_sr_lines " +
      "st_symdifference_sr_lines"),
    "g h pat" -> "st_relatematch",
    "p q f" -> "st_lineinterpolate_sphere st_lineinterpolate_rhumb st_lineinterpolate_geodesic",
    "l f d" -> "st_linesubstring",
    "g d d" -> "st_translate st_scale st_skew st_contains_xy st_intersects_xy",
    "p d km" -> "st_project st_project_rhumb st_project_geodesic",
    "g d d d d d d" -> "st_affine",
    "d d d" -> "st_hexbin",
    "hq hr d" -> "st_hexbin_center st_hexagon st_squaregrid_cell",
    "hq hr hr hq" -> "st_hexdistance",
    "hq hr one" -> "st_hexring",
    "lvl tx ty" -> "st_quadkey st_tileenvelope",
    "lvl tx ty d" -> "st_tileenvelope",
    "p lvl tx ty" -> "st_asmvtgeom",
    "p lvl tx ty ext buf yes" -> "st_asmvtgeom",
    "g three" -> "st_generatepoints",
    "g three hq" -> "st_generatepoints",
    "wkb" -> "st_geomfromwkb st_geomfromwkb_force2d st_geomfromewkb st_srid",
    "tile" -> "st_mvt_decode st_mvt_layername st_mvt_extent",
    "l q one" -> "st_addpoint",
    "l one q" -> "st_setpoint",
    "p q o" -> "st_angle st_crosstrack",
    "g l2 yes" -> "st_clip",
    "g s4326 s3857" -> "st_transform",
    "lvl d d" -> "st_cellid",
    "lvl g" -> "st_cell_of_geom st_covering",
    "cell" -> "st_cell_bounds st_cell_level st_cell_x st_cell_y st_cell_children",
    "cell three" -> "st_cell_parent",
    "d d eight" -> "st_geohash",
    "lvl d d one" -> "st_cell_neighborhood st_cell_halo_tiles",
  )
  /** Aggregates have no row-level eval. */
  private val aggregates = Set("st_asmvt")

  private def build(name: String, cols: String): Expression = {
    val builder = functions.sqlFunctions.toMap.apply(name)
    builder(cols.split(" ").toSeq.map { c =>
      BoundReference(ordinal(c), columns(ordinal(c))._2, nullable = false)
    })
  }

  test("every registered name evaluates the same interpreted and generated") {
    val covered = calls.flatMap(_._2.split(" ")).toSet
    assert(covered == functions.sqlFunctions.map(_._1).toSet -- aggregates)
    for ((cols, names) <- calls; name <- names.split(" ")) {
      val e = build(name, cols)
      val toUnsafe = UnsafeProjection.create(Array(e.dataType))
      val interpreted = toUnsafe(InternalRow(e.eval(row))).copy()
      val generated = GenerateUnsafeProjection.generate(Seq(e)).apply(row).copy()
      assert(interpreted == generated, s"$name($cols): ${e.getClass.getSimpleName}")
    }
  }

  test("a spark.sql.extensions session gets the register() surface and the join rule") {
    val fns = ArrayBuffer.empty[String]
    val rules = ArrayBuffer.empty[SparkSession => Rule[LogicalPlan]]
    val ext = new SparkSessionExtensions {
      override def injectFunction(f: (FunctionIdentifier, ExpressionInfo,
          Seq[Expression] => Expression)): Unit = { fns += f._1.funcName; super.injectFunction(f) }
      override def injectOptimizerRule(b: SparkSession => Rule[LogicalPlan]): Unit = {
        rules += b; super.injectOptimizerRule(b)
      }
    }
    new GraftExtensions().apply(ext)
    // what register() installs: every name whose builder it replaced
    // (Spark ships a few st_* built-ins of its own, e.g. st_srid)
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    def builders = reg.listFunction().map(f => f.funcName -> reg.lookupFunctionBuilder(f).get).toMap
    val before = builders
    functions.register(fresh)
    val registered = builders.collect { case (n, b) if !before.get(n).contains(b) => n }.toSet
    assert(registered.size > 200)
    assert(fns.toSet == registered)
    assert(fns.size == fns.toSet.size)
    assert(rules.map(_(spark)).exists(_.isInstanceOf[SpatialJoinRule]))
  }

  test("a wrong argument count fails analysis with WRONG_NUM_ARGS") {
    spark.sql("SELECT st_geomfromtext('POLYGON ((0 0, 1 0, 1 1, 0 0))') AS g")
      .createOrReplaceTempView("arity_fixture")
    for (call <- Seq("st_area(g, 1)", "st_area()", "st_cellid(6, 1.0)", "st_contains(g)",
        "st_buffer(g)", "st_buffer(g, 1.0, 'quad_segs=4', 2)", "st_voronoi(g, 1.0)",
        "st_affine(g, 1.0)", "st_intersection_sr(g, g)", "st_tileenvelope(1, 2)",
        "st_geometricmedian(g, 0.1, 10, 1)", "st_host()",
        "st_asmvt(g, 1, 'layer', 4096, 'a', 'b')")) {
      val e = intercept[AnalysisException](spark.sql(s"SELECT $call FROM arity_fixture"))
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), s"$call: ${e.getMessage}")
      assert(e.getMessage.contains(call.takeWhile(_ != '(')), call)
    }
  }
}
