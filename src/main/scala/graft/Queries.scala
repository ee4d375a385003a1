package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sql.{functions => gf}
import graft.operators.{Clustering, Components, SpatialJoins, TrainingData}

/**
 * The correctness-gate queries (driver contract): every operator gets a
 * Spark implementation here and, where ANSI-SQL-expressible, a DuckDB
 * oracle in [[Queries.oracles]]. Geometry inputs are derived from the
 * TPC-H-ish tables with EXACT integer arithmetic (reproducible
 * bit-for-bit in DuckDB); float outputs are rounded at a precision
 * where kernel-vs-oracle ULP differences cannot flip the rounding.
 *
 * Shared derivation rules (Spark side and SQL side MUST match op
 * order — IEEE doubles are deterministic given the same op sequence):
 *   customer point: px = ((c_custkey*7919)  % 7200)/20.0 − 180.0
 *                   py = ((c_custkey*104729) % 3400)/20.0 − 85.0
 *   nation centre:  cx = ((n*67) % 300) − 150 + 0.5
 *                   cy = ((n*41) % 120) − 60 + 0.5
 *   star polygon:   8 vertices, radius 1/3/5 by (n+j)%3, eight fixed
 *                   directions; odd n reversed (CW winding).
 */
object Queries {

  // ------------------------------------------------------ shared geometry

  private val Dirs = Array(
    (1.0, 0.0), (0.7, 0.7), (0.0, 1.0), (-0.7, 0.7),
    (-1.0, 0.0), (-0.7, -0.7), (0.0, -1.0), (0.7, -0.7))

  def starVertices(i: Int): Seq[(Double, Double)] = {
    val clon = ((i * 67) % 300) - 150 + 0.5
    val clat = ((i * 41) % 120) - 60 + 0.5
    val vs = (0 until 8).map { j =>
      val r = 3.0 + ((i + j) % 3) * 4.0
      (clon + r * Dirs(j)._1, clat + r * Dirs(j)._2)
    }
    if (i % 2 == 1) vs.reverse else vs
  }

  def starWkt(i: Int): String = {
    val vs = starVertices(i)
    "POLYGON((" + (vs :+ vs.head).map { case (x, y) => s"$x $y" }.mkString(",") + "))"
  }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Star-polygon dimension joined from the nation table. */
  def starPolys(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keys = t(spark, dir, "nation").select("n_nationkey").collect().map(_.getInt(0)).sorted
    keys.toSeq.map(i => (i, starWkt(i))).toDF("pid", "wkt")
      .withColumn("geom", gf.st_geomfromtext(col("wkt")))
      .drop("wkt")
  }

  /** Customer points (exact derivation). */
  def customerPoints(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .withColumn("px", pmod(col("c_custkey") * 7919L, lit(7200L)) / 20.0 - 180.0)
      .withColumn("py", pmod(col("c_custkey") * 104729L, lit(3400L)) / 20.0 - 85.0)

  /** The shared 30×20 integer DEM keyed by customer (v is a pure
    * function of (x, y), so duplicate keys at larger SFs collapse by
    * DISTINCT) — used by the raster/terrain/hydrology/statistic
    * queries; its SQL twin is [[DemSql]]. */
  def customerDem(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(
        pmod(col("c_custkey"), lit(30)).cast("long").as("x"),
        pmod(floor(col("c_custkey") / 30).cast("long"), lit(20)).as("y"))
      .distinct()
      .withColumn("v", pmod(lit(3) * col("x") * col("x")
        + lit(2) * col("y") * col("y") + col("x") * col("y"), lit(97)).cast("double"))

  /** 131-vertex comb polygon per nation: a box whose top edge is a
    * 128-tooth zigzag. Every coordinate is (dyadic multiple of 1/8)
    * + 1/64, so (a) all doubles are exact in any op order — the DuckDB
    * oracle reproduces them bit-for-bit from integer arithmetic — and
    * (b) no customer probe point (1/20-lattice) can ever land on a
    * vertex or edge: 320·(probe coord) is even while 320·(any comb
    * boundary coord at a probe x) is odd, so strict ray-cast parity is
    * boundary-case-free. ≥128 vertices engages the y-slab edge index
    * PIP path in st_contains_xy (GeomCache.MonoThreshold). */
  def combVertices(i: Int): Seq[(Double, Double)] = {
    val cx = ((i * 67) % 300) - 150 + 0.5
    val cy = ((i * 41) % 120) - 60 + 0.5
    val s = 1.0 / 64.0
    val xl = cx - 8.0 + s; val xr = cx + 8.0 + s
    val yb = cy - 5.0 + s; val yt = cy + 5.0 + s
    val head = Seq((xl, yb), (xr, yb), (xr, yt))
    val teeth = (1 to 128).map { k =>
      val x = xr - k / 8.0
      val y = if (k % 2 == 0) yt else yt - (1.0 + ((i + k) % 3) * 0.5)
      (x, y)
    }
    head ++ teeth
  }

  /** Comb-polygon dimension joined from the nation table. */
  def combPolys(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keys = t(spark, dir, "nation").select("n_nationkey").collect().map(_.getInt(0)).sorted
    keys.toSeq.map { i =>
      val vs = combVertices(i)
      (i, "POLYGON((" + (vs :+ vs.head).map { case (x, y) => s"$x $y" }.mkString(",") + "))")
    }.toDF("pid", "wkt")
      .withColumn("geom", gf.st_geomfromtext(col("wkt")))
      .drop("wkt")
  }

  /** Nation centres (exact derivation). */
  def nationCenters(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "nation")
      .withColumn("cx", (pmod(col("n_nationkey") * 67, lit(300)) - 150) + 0.5)
      .withColumn("cy", (pmod(col("n_nationkey") * 41, lit(120)) - 60) + 0.5)

  // ----------------------------------------------------- SQL snippet lib

  /** SQL twin of [[customerDem]]. */
  private val DemSql =
    """g0 AS (SELECT DISTINCT CAST(c_custkey % 30 AS BIGINT) AS x,
      |  CAST(CAST(floor(c_custkey / 30) AS BIGINT) % 20 AS BIGINT) AS y FROM customer),
      |g AS (SELECT x, y, CAST((3*x*x + 2*y*y + x*y) % 97 AS DOUBLE) AS v FROM g0)""".stripMargin

  private val PxSql = "((c_custkey*7919) % 7200)/20e0 - 180e0"
  private val PySql = "((c_custkey*104729) % 3400)/20e0 - 85e0"
  private val CxSql = "(((n_nationkey*67) % 300) - 150) + 0.5e0"
  private val CySql = "(((n_nationkey*41) % 120) - 60) + 0.5e0"

  /** verts CTE body: one row per (pid, seq, x, y) of the star rings. */
  private val VertsSql =
    s"""dirs(j, dx, dy) AS (VALUES
       | (0, 1.0e0, 0.0e0), (1, 0.7e0, 0.7e0), (2, 0.0e0, 1.0e0), (3, -0.7e0, 0.7e0),
       | (4, -1.0e0, 0.0e0), (5, -0.7e0, -0.7e0), (6, 0.0e0, -1.0e0), (7, 0.7e0, -0.7e0)),
       |verts AS (
       | SELECT n_nationkey AS pid,
       |        CASE WHEN n_nationkey % 2 = 1 THEN 7 - j ELSE j END AS seq,
       |        ($CxSql) + (3e0 + ((n_nationkey + j) % 3) * 4e0) * dx AS x,
       |        ($CySql) + (3e0 + ((n_nationkey + j) % 3) * 4e0) * dy AS y
       | FROM nation, dirs)""".stripMargin

  /** Haversine distance in meters between SQL point expressions
    * (mirrors Sphere.haversineDistance op-for-op). */
  private def havSql(x1: String, y1: String, x2: String, y2: String): String =
    s"""(6371008.8e0 * (2e0 * asin(sqrt(
       |  sin(radians(($y2) - ($y1))/2e0)*sin(radians(($y2) - ($y1))/2e0)
       |  + cos(radians($y1))*cos(radians($y2))
       |    *sin(radians(($x2) - ($x1))/2e0)*sin(radians(($x2) - ($x1))/2e0)))))""".stripMargin

  /** Haversine initial bearing in degrees [0,360). */
  private def bearingSql(x1: String, y1: String, x2: String, y2: String): String =
    s"""fmod(degrees(atan2(
       |  cos(radians($y2)) * sin(radians($x2) - radians($x1)),
       |  cos(radians($y1)) * sin(radians($y2))
       |    - sin(radians($y1)) * cos(radians($y2)) * cos(radians($x2) - radians($x1))
       |)) + 360e0, 360e0)""".stripMargin

  // --------------------------------------------------------- the queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- spatial core ---------------------------------------------------
    "q_dwithin_join" -> ((s, d) => {
      // Distance-within join: customers × suppliers within 5.625° planar
      // (exactly one cell edge at level 5 — 3 pairs at sf0.001, 235 at
      // sf0.01, non-vacuous at every test SF).
      // Both point sets live on the exact 1/20 lattice so the oracle's
      // full cross-join filter reproduces the distances bit-for-bit
      // (squared distances are exact multiples of 0.0025 — no
      // borderline at the radius).
      val cust = customerPoints(s, d).select(col("c_custkey"), col("px"), col("py"))
      val sup = t(s, d, "supplier").select(col("s_suppkey"),
        (pmod(col("s_suppkey") * 4231L, lit(7200L)) / 20.0 - 180.0).as("sx"),
        (pmod(col("s_suppkey") * 2971L, lit(3400L)) / 20.0 - 85.0).as("sy"))
      SpatialJoins.withinDistanceJoin(cust, "px", "py", sup, "sx", "sy",
          radius = 5.625, level = 5)
        .select(col("c_custkey"), col("s_suppkey"), round(col("__dist"), 9).as("dist"))
    }),
    "q_minclearance" -> ((s, d) => {
      // Minimum clearance of each star polygon. The oracle recomputes
      // it from first principles over the 8 exact vertices: min over
      // all distinct vertex pairs and all vertex-to-non-incident-edge
      // distances (clamped projection), op-for-op mirrored doubles.
      starPolys(s, d).select(col("pid"),
        round(gf.st_minclearance(col("geom")), 9).as("clearance"),
        gf.st_numpoints(gf.st_minclearanceline(col("geom"))).as("n_line_pts"),
        (round(gf.st_length(gf.st_minclearanceline(col("geom"))), 9) ===
          round(gf.st_minclearance(col("geom")), 9)).as("len_matches"))
    }),
    "q_boundary" -> ((s, d) => {
      // OGC Mod-2 boundary: star-polygon boundary is its ring (9 stored
      // points, length == the star perimeter the q_star_stats oracle
      // already derives); a 4-part MultiLineString built from the
      // star's exact bbox — three open parts sharing one corner (odd
      // count → kept) plus a closed part (contributes nothing) — has
      // exactly 4 boundary points.
      val st = starPolys(s, d)
        .withColumn("xmin", gf.st_xmin(col("geom")))
        .withColumn("ymin", gf.st_ymin(col("geom")))
        .withColumn("xmax", gf.st_xmax(col("geom")))
        .withColumn("ymax", gf.st_ymax(col("geom")))
      def pt(a: Column, b: Column): Column = concat_ws(" ", a.cast("string"), b.cast("string"))
      val mls = concat(lit("MULTILINESTRING(("),
        pt(col("xmin"), col("ymin")), lit(","), pt(col("xmax"), col("ymax")), lit("),("),
        pt(col("xmin"), col("ymin")), lit(","), pt(col("xmax"), col("ymin")), lit("),("),
        pt(col("xmin"), col("ymin")), lit(","), pt(col("xmin"), col("ymax")), lit("),("),
        pt(col("xmax"), col("ymin")), lit(","), pt(col("xmax"), col("ymax")), lit(","),
        pt(col("xmin"), col("ymax")), lit(","), pt(col("xmax"), col("ymin")), lit("))"))
      st.select(col("pid"),
        gf.st_numpoints(gf.st_boundary(col("geom"))).as("ring_pts"),
        round(gf.st_length(gf.st_boundary(col("geom"))), 6).as("blen"),
        gf.st_numpoints(gf.st_boundary(gf.st_geomfromtext(mls))).as("mlb_pts"))
    }),
    "q_polygonize_lines" -> ((s, d) => {
      // Polygonize noded linework built from the integer customer bbox:
      // rectangle perimeter pre-split at the mid vertical, the mid
      // vertical itself (→ two faces), a 2×2 island ring inside the
      // west face (→ its own polygon AND a hole of the west face), and
      // a free-floating segment (dangle → dropped). Exact expectations:
      // 3 polygons, areas {wh/2-4, 4, wh/2} → total wh, min 4, max wh/2.
      graft.sql.functions.register(s) // selectExpr below resolves st_* by name
      val bb = customerPoints(s, d).groupBy(col("c_nationkey").as("nk"))
        .agg(floor(min(col("px"))).cast("double").as("xmin"),
          floor(min(col("py"))).cast("double").as("ymin"),
          (floor(max(col("px"))) + 1).cast("double").as("xmax"),
          (floor(max(col("py"))) + 1).cast("double").as("ymax"))
      val cx = (col("xmin") + col("xmax")) / 2
      def pt(a: Column, b: Column): Column = concat_ws(" ", a.cast("string"), b.cast("string"))
      def seg(a: Column, b: Column): Column = concat(lit("("), a, lit(","), b, lit(")"))
      val i0x = col("xmin") + lit(1); val i0y = col("ymin") + lit(1)
      val i1x = col("xmin") + lit(3); val i1y = col("ymin") + lit(3)
      val wkt = concat(lit("MULTILINESTRING("),
        seg(pt(col("xmin"), col("ymin")), pt(cx, col("ymin"))), lit(","),
        seg(pt(cx, col("ymin")), pt(col("xmax"), col("ymin"))), lit(","),
        seg(pt(col("xmax"), col("ymin")), pt(col("xmax"), col("ymax"))), lit(","),
        seg(pt(col("xmax"), col("ymax")), pt(cx, col("ymax"))), lit(","),
        seg(pt(cx, col("ymax")), pt(col("xmin"), col("ymax"))), lit(","),
        seg(pt(col("xmin"), col("ymax")), pt(col("xmin"), col("ymin"))), lit(","),
        seg(pt(cx, col("ymin")), pt(cx, col("ymax"))), lit(","),
        lit("("), pt(i0x, i0y), lit(","), pt(i1x, i0y), lit(","), pt(i1x, i1y), lit(","),
        pt(i0x, i1y), lit(","), pt(i0x, i0y), lit("),"),
        seg(pt(col("xmin") + lit(1), col("ymin") + lit(5)),
          pt(col("xmin") + lit(3), col("ymin") + lit(5))),
        lit(")"))
      bb.withColumn("wkt", wkt)
        .withColumn("polys", expr("st_polygonize(st_collection_fromtext(wkt))"))
        .selectExpr("nk", "size(polys) AS n_polys",
          "round(aggregate(transform(polys, p -> st_area(p)), cast(0 as double), (a, x) -> a + x), 6) AS total_area",
          "round(array_min(transform(polys, p -> st_area(p))), 6) AS min_area",
          "round(array_max(transform(polys, p -> st_area(p))), 6) AS max_area")
    }),
    "q_unary_union" -> ((s, d) => {
      // Heterogeneous unary union per nation, built from the integer
      // bbox of its customer points so every measure has a closed form:
      // two crossing diagonals + a duplicate half-diagonal (dissolves),
      // a disjoint rectangle, a horizontal line crossing it (interior
      // run absorbed), a point on the diagonal (absorbed) and a free
      // point (kept). All coordinates are small integers or exact
      // halves, so noding/split points are exact in doubles.
      val bb = customerPoints(s, d).groupBy(col("c_nationkey").as("nk"))
        .agg(floor(min(col("px"))).cast("double").as("xmin"),
          floor(min(col("py"))).cast("double").as("ymin"),
          (floor(max(col("px"))) + 1).cast("double").as("xmax"),
          (floor(max(col("py"))) + 1).cast("double").as("ymax"))
      val w = col("xmax") - col("xmin")
      val cx = (col("xmin") + col("xmax")) / 2
      val cy = (col("ymin") + col("ymax")) / 2
      def p(a: Column, b: Column): Column = concat_ws(" ", a.cast("string"), b.cast("string"))
      val x2 = col("xmin") + lit(2) * w
      val x3 = col("xmin") + lit(3) * w
      val x4 = col("xmin") + lit(4) * w
      val x5 = col("xmin") + lit(5) * w
      val wkt = concat(
        lit("GEOMETRYCOLLECTION(LINESTRING("),
        p(col("xmin"), col("ymin")), lit(","), p(col("xmax"), col("ymax")),
        lit("),LINESTRING("),
        p(col("xmin"), col("ymax")), lit(","), p(col("xmax"), col("ymin")),
        lit("),LINESTRING("),
        p(col("xmin"), col("ymin")), lit(","), p(cx, cy),
        lit("),POLYGON(("),
        p(x3, col("ymin")), lit(","), p(x4, col("ymin")), lit(","),
        p(x4, col("ymax")), lit(","), p(x3, col("ymax")), lit(","), p(x3, col("ymin")),
        lit(")),LINESTRING("),
        p(x2, cy), lit(","), p(x5, cy),
        lit("),POINT("), p(cx, cy),
        lit("),POINT("), p(col("xmin") - lit(1), col("ymin") - lit(1)),
        lit("))"))
      bb.withColumn("parts", gf.st_unary_union(gf.st_collection_fromtext(wkt)))
        .select(col("nk"),
          size(col("parts")).as("n_parts"),
          round(gf.st_area(element_at(col("parts"), 1)), 6).as("poly_area"),
          gf.st_numparts(element_at(col("parts"), 2)).as("n_chains"),
          gf.st_numpoints(element_at(col("parts"), 2)).as("n_line_verts"),
          round(gf.st_length(element_at(col("parts"), 2)), 6).as("line_len"),
          gf.st_numpoints(element_at(col("parts"), 3)).as("n_points"))
    }),
    "q_hetero" -> ((s, d) => {
      // Heterogeneous BINARY overlay (st_*_hetero — beyond the
      // reference: geo's BooleanOps is polygon-only). Per nation, a
      // square of half-side sz = 2 + nk%3 centered at (cx,0), a
      // horizontal line through it with 3-unit stubs on both sides,
      // and three probe points (inside / on-stub / free). Every
      // measure is integer-exact: union = [square, 6 of stubs],
      // line∩square = 2·sz, line−square = 6, pts∩square = 1 point,
      // pts−line = 2 points, line△square = [square, 6].
      val n = t(s, d, "nation")
        .withColumn("sz", (lit(2) + pmod(col("n_nationkey"), lit(3))).cast("double"))
        .withColumn("cx", (col("n_nationkey") * 100).cast("double"))
      def p(a: Column, b: Column): Column = concat_ws(" ", a.cast("string"), b.cast("string"))
      val square = gf.st_geomfromtext(concat(
        lit("POLYGON(("),
        p(col("cx") - col("sz"), -col("sz")), lit(","),
        p(col("cx") + col("sz"), -col("sz")), lit(","),
        p(col("cx") + col("sz"), col("sz")), lit(","),
        p(col("cx") - col("sz"), col("sz")), lit(","),
        p(col("cx") - col("sz"), -col("sz")), lit("))")))
      val line = gf.st_geomfromtext(concat(
        lit("LINESTRING("), p(col("cx") - col("sz") - 3, lit(0.0)), lit(","),
        p(col("cx") + col("sz") + 3, lit(0.0)), lit(")")))
      val pts = gf.st_geomfromtext(concat(
        lit("MULTIPOINT(("), p(col("cx"), lit(1.0)),
        lit("),("), p(col("cx") - col("sz") - 1, lit(0.0)),
        lit("),("), p(col("cx"), col("sz") + 5), lit("))")))
      val u = gf.st_union_hetero(square, line)
      val sd = gf.st_symdifference_hetero(line, square)
      n.select(col("n_nationkey").as("nk"),
        size(u).as("u_parts"),
        round(gf.st_area(element_at(u, 1)), 6).as("u_area"),
        round(gf.st_length(element_at(u, 2)), 6).as("u_len"),
        round(gf.st_length(element_at(gf.st_intersection_hetero(line, square), 1)), 6)
          .as("i_len"),
        round(gf.st_length(element_at(gf.st_difference_hetero(line, square), 1)), 6)
          .as("d_len"),
        gf.st_numpoints(element_at(gf.st_intersection_hetero(pts, square), 1)).as("pi_n"),
        gf.st_numpoints(element_at(gf.st_difference_hetero(pts, line), 1)).as("pd_n"),
        round(gf.st_area(element_at(sd, 1)), 6).as("sd_area"),
        round(gf.st_length(element_at(sd, 2)), 6).as("sd_len"))
    }),
    "q_transform" -> ((s, d) => {
      // CRS reprojection (st_transform — beyond the executed reference:
      // geo feature-gates proj support onto a C library, proj.rs:2).
      // NL-bounded lattice points per nation; Web-Mercator and the RD
      // New polynomial are mirrored op-for-op in the DuckDB oracle;
      // the UTM zone-31 roundtrip defect is 0 at 9 decimals (Krüger
      // order-6 series is sub-micron).
      val n = t(s, d, "nation")
        .withColumn("lon", lit(3.6) + pmod(col("n_nationkey"), lit(5)).cast("double") * 0.72)
        .withColumn("lat", lit(50.9) + floor(col("n_nationkey") / lit(5)).cast("double") * 0.58)
      val pt = gf.st_point(col("lon"), col("lat"))
      val merc = gf.st_transform(pt, lit(4326), lit(3857))
      val rd = gf.st_transform(pt, lit(4326), lit(28992))
      val back = gf.st_transform(gf.st_transform(pt, lit(4326), lit(32631)),
        lit(32631), lit(4326))
      // round-5 families: Lambert-93 (LCC 2SP, mirrored op-for-op in
      // the oracle with the cone constants interpolated as exact
      // double literals) and the TmProj grids 27700 / 25832 as
      // round-trip defects (27700 includes the Helmert datum hop,
      // which closes at the mm level — 0 at 6 decimals)
      val lcc = gf.st_transform(pt, lit(4326), lit(2154))
      val bngBack = gf.st_transform(gf.st_transform(pt, lit(4326), lit(27700)),
        lit(27700), lit(4326))
      val etrsBack = gf.st_transform(gf.st_transform(pt, lit(4326), lit(25832)),
        lit(25832), lit(4326))
      n.select(col("n_nationkey").as("nk"),
        round(gf.st_x(merc), 6).as("merc_x"),
        round(gf.st_y(merc), 6).as("merc_y"),
        round(gf.st_x(rd), 6).as("rd_x"),
        round(gf.st_y(rd), 6).as("rd_y"),
        round(abs(gf.st_x(back) - col("lon")) + abs(gf.st_y(back) - col("lat")), 9)
          .as("utm_rt"),
        round(gf.st_x(lcc), 6).as("lcc_x"),
        round(gf.st_y(lcc), 6).as("lcc_y"),
        round(abs(gf.st_x(bngBack) - col("lon")) + abs(gf.st_y(bngBack) - col("lat")), 6)
          .as("bng_rt"),
        round(abs(gf.st_x(etrsBack) - col("lon")) + abs(gf.st_y(etrsBack) - col("lat")), 9)
          .as("etrs_rt"))
    }),
    "q_pip_join" -> ((s, d) => {
      SpatialJoins.broadcastPipJoin(customerPoints(s, d), "px", "py",
          starPolys(s, d), "geom", level = 6)
        .select(col("c_custkey"), col("pid"))
    }),
    "q_pip_compact" -> ((s, d) => {
      // the S2 ancestor-join variant of q_pip_join: compacted
      // mixed-level covering broadcast + probe ancestor-chain explode.
      // Join semantics are identical, so it shares q_pip_join's exact
      // ray-cast SQL oracle — a hard check that the compact path emits
      // the same pairs exactly once.
      SpatialJoins.broadcastPipJoinCompact(customerPoints(s, d), "px", "py",
          starPolys(s, d), "geom", level = 8)
        .select(col("c_custkey"), col("pid"))
    }),
    "q_star_stats" -> ((s, d) => {
      starPolys(s, d).select(
        col("pid"),
        round(gf.st_area(col("geom")), 6).as("area"),
        round(gf.st_perimeter(col("geom")), 6).as("perim"),
        gf.st_windingorder(col("geom")).as("winding"),
        gf.st_xmin(col("geom")).as("xmin"),
        gf.st_ymin(col("geom")).as("ymin"),
        gf.st_xmax(col("geom")).as("xmax"),
        gf.st_ymax(col("geom")).as("ymax"),
        round(gf.st_x(gf.st_centroid(col("geom"))), 6).as("cx"),
        round(gf.st_y(gf.st_centroid(col("geom"))), 6).as("cy"),
        gf.st_isconvex(col("geom")).as("convex"),
        gf.st_numpoints(col("geom")).as("npts"))
    }),
    "q_tile_xy" -> ((s, d) => {
      customerPoints(s, d).select(
        col("c_custkey"),
        gf.st_cell_x(gf.st_cellid(lit(12), col("px"), col("py"))).as("cx"),
        gf.st_cell_y(gf.st_cellid(lit(12), col("px"), col("py"))).as("cy"))
    }),
    "q_cellid" -> ((s, d) => {
      customerPoints(s, d).select(
        col("c_custkey"),
        gf.st_cellid(lit(12), col("px"), col("py")).as("cell"))
    }),
    "q_polygonize" -> ((s, d) => {
      // raster→vector: tile customers at level 6, label each occupied
      // tile by count mod 3, dissolve each class into region polygons
      // on the unit lattice. Output columns are integer-exact for ANY
      // correct dissolve: area == n_cells (disjoint unit squares) and
      // perimeter == 4n − 2·(4-adjacencies), which the oracle computes
      // from first principles with a neighbor self-join — holes and
      // corner touches included.
      val cells = customerPoints(s, d)
        .select(
          gf.st_cell_x(gf.st_cellid(lit(6), col("px"), col("py"))).as("gx"),
          gf.st_cell_y(gf.st_cellid(lit(6), col("px"), col("py"))).as("gy"))
        .groupBy("gx", "gy").agg(count(lit(1)).as("n"))
        .withColumn("cls", pmod(col("gx") + lit(2) * col("gy") + col("n"), lit(3)).cast("int"))
      operators.SpatialJoins.polygonizeGrid(cells, "gx", "gy", "cls")
        .select(col("cls"), col("n_cells"),
          gf.st_unsigned_area(col("geom")).cast("long").as("area"),
          gf.st_perimeter(col("geom")).cast("long").as("perimeter"))
    }),
    "q_haversine" -> ((s, d) => {
      customerPoints(s, d)
        .join(nationCenters(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"),
          round(gf.st_distance_sphere(gf.st_point(col("px"), col("py")),
            gf.st_point(col("cx"), col("cy")))).cast("long").as("dist_m"))
    }),
    "q_bearing" -> ((s, d) => {
      customerPoints(s, d)
        .join(nationCenters(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"),
          round(gf.st_bearing(gf.st_point(col("px"), col("py")),
            gf.st_point(col("cx"), col("cy"))), 4).as("bearing"))
    }),
    "q_rhumb" -> ((s, d) => {
      customerPoints(s, d)
        .join(nationCenters(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"),
          round(gf.st_distance_rhumb(gf.st_point(col("px"), col("py")),
            gf.st_point(col("cx"), col("cy")))).cast("long").as("rhumb_m"))
    }),
    "q_rhumb_interp" -> ((s, d) => {
      // rhumb point_at_ratio_between (rhumb/intermediate.rs) from each
      // customer toward its nation center at a per-customer ratio; the
      // oracle mirrors the Mercator-projection math op-for-op.
      customerPoints(s, d)
        .join(nationCenters(s, d), col("c_nationkey") === col("n_nationkey"))
        .withColumn("r", (pmod(col("c_custkey"), lit(9L)) + 1).cast("double") / 10.0)
        .select(col("c_custkey"),
          round(gf.st_x(gf.st_lineinterpolate_rhumb(
            gf.st_point(col("px"), col("py")),
            gf.st_point(col("cx"), col("cy")), col("r"))), 5).as("ix"),
          round(gf.st_y(gf.st_lineinterpolate_rhumb(
            gf.st_point(col("px"), col("py")),
            gf.st_point(col("cx"), col("cy")), col("r"))), 5).as("iy"))
    }),
    "q_geodesic_interp" -> ((s, d) => {
      // Karney point_at_ratio_between on fixed vectors (SF-independent
      // golden). Gold provenance: cases 0-2 equal the reference's
      // published doc values (geodesic_intermediate.rs doc-test —
      // (29.842907, 29.951445) / (65.879360, 37.722253) /
      // (103.556796, 33.506196), matched < 1.5e-6; asserted in
      // KernelSpec); 3-7 add NYC→London, antimeridian-crossing and
      // near-antipodal legs; 8-9 pin the ratio 0/1 endpoints.
      import s.implicits._
      val cases = Seq(
        (0, 10.0, 20.0, 125.0, 25.0, 0.2),
        (1, 10.0, 20.0, 125.0, 25.0, 0.5),
        (2, 10.0, 20.0, 125.0, 25.0, 0.8),
        (3, -74.006, 40.7128, -0.1278, 51.5074, 0.25),
        (4, -74.006, 40.7128, -0.1278, 51.5074, 0.5),
        (5, -74.006, 40.7128, -0.1278, 51.5074, 0.75),
        (6, 151.2093, -33.8688, -70.6693, -33.4489, 0.5),
        (7, 0.0, 0.0, 179.5, 0.5, 0.5),
        (8, 2.3522, 48.8566, 13.405, 52.52, 0.0),
        (9, 2.3522, 48.8566, 13.405, 52.52, 1.0)).toDF(
        "case_id", "x1", "y1", "x2", "y2", "r")
      cases.select(col("case_id"),
        round(gf.st_x(gf.st_lineinterpolate_geodesic(
          gf.st_point(col("x1"), col("y1")),
          gf.st_point(col("x2"), col("y2")), col("r"))), 6).as("ix"),
        round(gf.st_y(gf.st_lineinterpolate_geodesic(
          gf.st_point(col("x1"), col("y1")),
          gf.st_point(col("x2"), col("y2")), col("r"))), 6).as("iy"))
    }),
    "q_project" -> ((s, d) => {
      nationCenters(s, d).select(
        col("n_nationkey"),
        round(gf.st_x(gf.st_project(gf.st_point(col("cx"), col("cy")),
          pmod(col("n_nationkey") * 37, lit(360)).cast("double"),
          (lit(100000L) + pmod(col("n_nationkey") * 7919, lit(500000))).cast("double"))), 5).as("dlon"),
        round(gf.st_y(gf.st_project(gf.st_point(col("cx"), col("cy")),
          pmod(col("n_nationkey") * 37, lit(360)).cast("double"),
          (lit(100000L) + pmod(col("n_nationkey") * 7919, lit(500000))).cast("double"))), 5).as("dlat"))
    }),
    "q_pt_seg_dist" -> ((s, d) => {
      // distance from customer point to the segment (centre → centre+(3,1.5))
      customerPoints(s, d)
        .join(nationCenters(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"),
          round(gf.st_distance(
            gf.st_point(col("px"), col("py")),
            gf.st_geomfromtext(concat(lit("LINESTRING("),
              col("cx").cast("string"), lit(" "), col("cy").cast("string"), lit(","),
              (col("cx") + 3.0).cast("string"), lit(" "), (col("cy") + 1.5).cast("string"),
              lit(")")))), 6).as("seg_dist"))
    }),
    "q_knn" -> ((s, d) => {
      val pts = customerPoints(s, d)
      val centers = nationCenters(s, d)
      val joined = pts.crossJoin(broadcast(centers))
        .withColumn("dist", gf.st_distance_sphere(
          gf.st_point(col("px"), col("py")), gf.st_point(col("cx"), col("cy"))))
      val w = Window.partitionBy(col("c_custkey")).orderBy(col("dist").asc, col("n_nationkey").asc)
      joined.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
        .select(col("c_custkey"), col("n_nationkey"), col("rnk"))
    }),
    // guaranteed-exact cell-covered kNN with local quadtree refine —
    // same answer as the brute-force window oracle at ANY level/ring
    "q_knn_qt" -> ((s, d) => {
      val pts = customerPoints(s, d)
      val centers = nationCenters(s, d)
      SpatialJoins.knnJoinQuadtree(pts, "px", "py", "c_custkey",
          centers, "cx", "cy", "n_nationkey", k = 3, level = 2, maxRing = 1)
        .select(col("c_custkey"), col("n_nationkey"), col("__rank").as("rnk"))
    }),
    // --- training-data ops ---------------------------------------------
    "q_dedup_exact" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val doubled = docs.union(docs.select(col("doc_id") + 1000000L, col("text")))
      TrainingData.exactDupGroups(doubled, "doc_id", "text")
        .select(col("doc_id"), col("canonical"), col("group_size"))
    }),
    "q_token_stats" -> ((s, d) => {
      TrainingData.tokenStats(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("ws_tokens"), col("subword_est"))
    }),
    "q_quality" -> ((s, d) => {
      TrainingData.qualityScore(t(s, d, "documents"), "text")
        .select(col("doc_id"),
          round(col("mean_word_len"), 6).as("mwl"),
          round(col("quality"), 6).as("quality"))
    }),
    "q_lang_count" -> ((s, d) =>
      t(s, d, "documents").groupBy("lang").agg(count(lit(1)).as("n"))),
    "q_repetition" -> ((s, d) => {
      // Gopher repetition rules — exact integer counts so the oracle
      // hash cannot be flipped by a decimal-tie in ratio rounding
      TrainingData.repetitionSignals(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("distinct_words"), col("total_words"),
          col("top_bigram_n"), col("bigram_total"))
    }),
    "q_geohash_ring" -> ((s, d) => {
      // neighbor ring of every point's 5-char geohash cell: the oracle
      // re-derives it with TWO recursive bisections — decode the cell
      // bounds, construct the 8 wrapped/clamped neighbour centres,
      // re-encode each — so ring membership is verified end to end.
      val p = customerPoints(s, d)
      p.select(col("c_custkey"),
        explode(gf.st_geohash_neighbors(
          gf.st_geohash(col("px"), col("py"), lit(5)))).as("nbr"))
    }),
    "q_geohash" -> ((s, d) => {
      // geohash string cells (prefix-comparable interop format): 9-char
      // encode + rect decode of every customer point; the oracle
      // re-derives both through the raw 45-step interleaved bisection
      // in a recursive CTE — all bounds are dyadic, so the doubles are
      // exact on both engines.
      val p = customerPoints(s, d)
      p.select(col("c_custkey"),
          gf.st_geohash(col("px"), col("py"), lit(9)).as("gh"))
        .withColumn("xmin", gf.st_xmin(gf.st_geohash_rect(col("gh"))))
        .withColumn("ymin", gf.st_ymin(gf.st_geohash_rect(col("gh"))))
    }),
    "q_adaptive_assign" -> ((s, d) => {
      // the assignment half of the adaptive partitioner: every point
      // maps through its ancestor chain to its UNIQUE adaptive cell.
      // The oracle recomputes the selection rule and joins each leaf
      // to the one selected ancestor covering it.
      val pts = customerPoints(s, d)
      val cells = SpatialJoins.adaptiveCells(pts, "px", "py", 6, 8L)
      SpatialJoins.assignAdaptiveCells(pts, "px", "py", cells, 6)
        .select(col("c_custkey"), col("__cell").as("cell"))
    }),
    "q_adaptive" -> ((s, d) => {
      // density-adaptive partition geometry over the customer cloud:
      // the unique disjoint mixed-level cell set with <= 8 points per
      // cell (unsplittable level-6 leaves excepted). The oracle
      // recomputes leaf counts, ancestor roll-ups and the local
      // selection rule per level, then packs ids via the Morton bit
      // layout — all from first principles.
      SpatialJoins.adaptiveCells(customerPoints(s, d), "px", "py",
        maxLevel = 6, targetPerCell = 8L)
    }),
    "q_clean" -> ((s, d) => {
      // end-to-end corpus cleaning: every doc gets a URL (paths
      // collide pairwise under tracking/fragment decorations → URL
      // dedup halves the corpus), a 3-variant shared header + footer
      // (boilerplate), and a per-doc email in the body (PII). The
      // oracle recomputes all five stages from first principles,
      // including the post-redaction near-dup closure — redaction
      // makes template copies identical, which is exactly why the
      // pipeline redacts BEFORE dedup.
      val docs = t(s, d, "documents").select(col("doc_id"),
        concat(lit("https://host"), pmod(pmod(col("doc_id"), lit(250L)), lit(7L)),
          lit(".example/page/"), pmod(col("doc_id"), lit(250L)),
          element_at(array(lit(""), lit("#frag"), lit("?utm_source=x")),
            (pmod(col("doc_id"), lit(3L)) + 1).cast("int"))).as("url"),
        concat(lit("shared header "), pmod(col("doc_id"), lit(3L)), lit("\n"),
          col("text"), lit(" contact user"), col("doc_id"), lit("@example.com\n"),
          lit("site footer")).as("page_text"))
      TrainingData.cleanCorpus(docs, "doc_id", "url", "page_text",
        boilerplateMinDocs = 10L, minWords = 8, dupThreshold = 0.9)
    }),
    "q_domains" -> ((s, d) => {
      // per-domain corpus accounting over the synthesized web corpus:
      // host extraction (codegen'd regex) + one aggregation keyed by
      // host. The oracle rebuilds the identical deterministic pages.
      val pages = graft.pipeline.WebCorpus.pages(s, 2000)
      TrainingData.domainStats(pages, "url", "lang", "text")
    }),
    "q_pii" -> ((s, d) => {
      // PII scrub: each doc gets a deterministic email, phone and IPv4
      // woven in; redaction must replace exactly those spans with
      // placeholder tokens and count the emails. The oracle runs the
      // IDENTICAL patterns in DuckDB (RE2) — the operator deliberately
      // avoids lookarounds so both engines execute the same regex.
      val docs = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or call +"),
          pmod(col("doc_id"), lit(9L)) + 1, lit("-555-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
          lit(" from 10.0."), pmod(col("doc_id"), lit(256L)), lit("."),
          pmod(col("doc_id") * 7, lit(256L)), lit(" now")).as("page_text"))
      TrainingData.redactPiiDocs(docs, "doc_id", "page_text")
    }),
    "q_boilerplate" -> ((s, d) => {
      // C4/CCNet-style corpus-level boilerplate removal: pages are the
      // documents wrapped in a shared header (one of 3 variants → each
      // repeats across ~1/3 of the corpus) and a universal footer; both
      // must be stripped, the body must survive byte-identical UNLESS
      // the body text itself repeats in >= 10 docs (the synthetic
      // corpus has exact dups — the oracle applies the same rule)
      val docs = t(s, d, "documents").select(col("doc_id"),
        concat(lit("shared header "), pmod(col("doc_id"), lit(3L)), lit("\n"),
          col("text"), lit("\n  \n"), lit("site footer")).as("page_text"))
      TrainingData.removeBoilerplate(docs, "doc_id", "page_text", minDocs = 10L)
        .select(col("doc_id"), col("clean_text"))
    }),
    "q_urlnorm" -> ((s, d) => {
      // web-corpus URL hygiene: 3 deterministic decorations per page id
      // (case, default port, fragment, utm param, trailing slash) must
      // collapse to one canonical group each
      val raw = s.range(0, 600, 1, 8).toDF("id")
        .withColumn("pg", floor(col("id") / 3).cast("long"))
        .withColumn("hostn", pmod(col("pg") * 2654435761L, lit(997L)))
        .withColumn("d", pmod(col("id"), lit(6L)))
        .withColumn("base",
          concat(lit("https://host"), col("hostn"), lit(".example/page/"), col("pg")))
        .withColumn("url",
          when(col("d") === 0, col("base"))
          .when(col("d") === 1,
            concat(lit("HTTPS://HOST"), col("hostn"), lit(".EXAMPLE/page/"), col("pg")))
          .when(col("d") === 2,
            concat(lit("https://host"), col("hostn"), lit(".example:443/page/"), col("pg")))
          .when(col("d") === 3, concat(col("base"), lit("#frag")))
          .when(col("d") === 4, concat(col("base"), lit("?utm_source=feed")))
          .otherwise(concat(col("base"), lit("/"))))
      TrainingData.urlDupGroups(raw.select("url"), "url")
    }),
    "q_cosine_pairs" -> ((s, d) => {
      val vecs = t(s, d, "embeddings")
        .filter(pmod(col("vec_id"), lit(20L)) === 0)
        .select(col("vec_id").as("g"), col("embedding").cast("array<double>").as("v"))
      val l = vecs.select(col("g").as("a"), col("v").as("va"))
      val r = vecs.select(col("g").as("b"), col("v").as("vb"))
      l.join(r, col("a") < col("b"))
        .select(col("a"), col("b"),
          round(TrainingData.cosine(col("va"), col("vb")), 4).as("cosine"))
    }),
    "q_minhash_pairs" -> ((s, d) => {
      // LSH candidates + EXACT shingle-Jaccard re-rank: the output is
      // signature-independent, so the DuckDB oracle can recompute it
      // from first principles (all-pairs exact Jaccard via shingle
      // equi-join at this scale).
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val doubled = docs.union(docs.select(col("doc_id") + 1000000L, col("text")))
      TrainingData.minhashLshPairsExact(doubled, "doc_id", "text", threshold = 0.9)
        .select(col("a"), col("b"), col("jaccard"))
    }),
    // near-dup CLUSTERS: minhash pairs closed transitively via the
    // alternating large-star/small-star connected-components operator
    // (pair-scheme-independent, so the oracle recomputes the exact
    // pairs and closes them with a recursive CTE)
    "q_dupclusters" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val doubled = docs.union(docs.select(col("doc_id") + 1000000L, col("text")))
      Components.nearDupClusters(doubled, "doc_id", "text", threshold = 0.9)
        .select(col("doc_id"), col("cluster"), col("is_canonical"))
    }),
    "q_asof" -> ((s, d) => {
      // As-of join: every event picks up the latest reference row
      // (every-5th event, unique per (user, second) by max-value
      // pre-aggregation) at or before it. DuckDB's native ASOF LEFT
      // JOIN is the oracle.
      val ev = t(s, d, "events")
      val left = ev.select(col("user_id"), col("ts"), col("event_id"))
      val right = ev.filter(col("event_id") % 5 === 0)
        .select(col("user_id"),
          col("ts").cast("timestamp").cast("long").as("rts"), col("value"))
        .groupBy(col("user_id"), col("rts")).agg(max(col("value")).as("ref_value"))
        .withColumn("ref_ts", col("rts"))
      graft.operators.TemporalJoins.asofJoin(left, right, "user_id", "ts", "rts",
          Seq("ref_ts", "ref_value"))
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp").cast("long").as("tsec"),
          col("ref_ts"), col("ref_value"))
    }),
    "q_interval" -> ((s, d) => {
      // Interval join: events against supplier time spans via the
      // time-bucket equi-join (the cell-join trick on the time axis);
      // oracle is the plain inequality join.
      val base = 1704067200L // 2024-01-01 UTC
      val iv = t(s, d, "supplier").select(col("s_suppkey"),
          (lit(base) + pmod(col("s_suppkey") * 9973L, lit(2000000L))).as("st"))
        .withColumn("en", col("st") + 20000L + pmod(col("s_suppkey") * 37L, lit(50000L)))
      graft.operators.TemporalJoins.intervalJoin(
          t(s, d, "events").select(col("event_id"), col("ts")), "ts",
          iv, "st", "en", bucketSec = 86400L)
        .groupBy(col("s_suppkey")).agg(count(lit(1)).as("n_events"))
    }),
    "q_kinematics" -> ((s, d) => {
      // Per-fix speed/heading from the entity-keyed lag window over
      // the same lattice fixes as q_geofence; st_distance_sphere and
      // st_bearing mirror havSql/bearingSql op-for-op (q_knn and
      // q_bearing precedents).
      val fixes = t(s, d, "events").select(col("user_id"), col("ts"),
        (pmod(col("event_id") * 7919L, lit(7200L)) / 20.0 - 180.0).as("px"),
        (pmod(col("event_id") * 104729L, lit(3400L)) / 20.0 - 85.0).as("py"))
      graft.operators.Trajectory.kinematics(fixes, "user_id", "ts", "px", "py")
        .select(col("user_id"), col("ts").cast("timestamp").cast("long").as("tsec"),
          col("px"), col("py"),
          round(col("dist_m")).cast("long").as("dist_m"),
          col("dt_sec"), round(col("speed_mps"), 6).as("speed_mps"),
          round(col("heading_deg"), 4).as("heading_deg"))
    }),
    "q_od" -> ((s, d) => {
      // Origin-destination flows between level-4 cells; the oracle
      // rebuilds cell ids from the Morton bit layout and replays the
      // same lag + filter + group-by.
      val fixes = t(s, d, "events").select(col("user_id"), col("ts"),
        (pmod(col("event_id") * 7919L, lit(7200L)) / 20.0 - 180.0).as("px"),
        (pmod(col("event_id") * 104729L, lit(3400L)) / 20.0 - 85.0).as("py"))
      graft.operators.Trajectory.odMatrix(fixes, "user_id", "ts", "px", "py", level = 4)
    }),
    "q_staypoints" -> ((s, d) => {
      // Stay-point detection (Li et al. 2008) over synthetic per-user
      // trajectories: each user-day is a tight cluster (center from
      // (user, day), dyadic 1/1024 jitter from the second — every
      // coordinate is an exact dyadic rational, so centroid sums are
      // EXACT in any order) and consecutive days sit hundreds of km
      // apart, so the anchored scan's runs are exactly the user-day
      // blocks and the oracle reduces to a group-by with the same
      // duration/count gates. Failing blocks (span < 1h) exercise the
      // advance-by-one branch without emitting.
      val fixes = t(s, d, "events").select(
          col("user_id").cast("long").as("u"),
          col("ts").cast("timestamp").cast("long").as("tsec"))
        .withColumn("c", floor(col("tsec") / 86400.0).cast("long"))
        .withColumn("px", (pmod(col("u") * 13 + col("c") * 17, lit(300)) - 150
          + lit(0.5)) + pmod(col("tsec"), lit(5)) / 1024.0)
        .withColumn("py", (pmod(col("u") * 7 + col("c") * 11, lit(120)) - 60
          + lit(0.5)) + pmod(floor(col("tsec") / 5.0).cast("long"), lit(5)) / 1024.0)
      graft.operators.Trajectory.stayPoints(fixes, "u", "tsec", "px", "py",
        distM = 1000.0, minDurSec = 3600L)
    }),
    "q_shuffle" -> ((s, d) => {
      // Deterministic global shuffle: pos = rank under (lehmer(key),
      // key), computed by the two-pass distributed prefix-rank; the
      // oracle is the naive global window.
      TrainingData.shuffleDeterministic(
          t(s, d, "documents").select(col("doc_id")), "doc_id")
        .select(col("doc_id"), col("pos"))
    }),
    "q_datasplit" -> ((s, d) => {
      // Hash-bucket train/valid/test assignment (80/10/10): integer
      // thresholds on the Lehmer bucket, trivially SQL-mirrorable.
      TrainingData.assignSplits(t(s, d, "documents").select(col("doc_id")),
          "doc_id", Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1)))
        .select(col("doc_id"), col("split"))
    }),
    "q_mixture" -> ((s, d) => {
      // Weighted mixture sampling by language: quotas floor(100·w/6)
      // for en:3 fr:2 de:1 → 50/33/16, smallest-hash selection within
      // each language (es/zh drop). The oracle inlines the same
      // integer quotas over the same rank.
      TrainingData.mixtureSample(t(s, d, "documents"), "lang", "doc_id",
          Seq(("en", 3.0), ("fr", 2.0), ("de", 1.0)), total = 100)
        .select(col("doc_id"), col("lang"))
    }),
    "q_mapmatch" -> ((s, d) => {
      // Map-matching: each customer fix snaps to the nearest of 75
      // road segments (3 per nation, slope (3, 1.5)) within 5 planar
      // degrees — exact at any level by the expanded-envelope covering
      // argument. The oracle recomputes the clamped-projection
      // distance op-for-op (the q_pt_seg_dist mirror) over the full
      // cross product and takes the same (dist, sid) argmin.
      val segs = nationCenters(s, d)
        .select(col("n_nationkey"), col("cx"), col("cy"),
          explode(array(lit(0), lit(1), lit(2))).as("j"))
        .select((col("n_nationkey").cast("long") * 10 + col("j")).as("sid"),
          (col("cx") + col("j") * 2.0 - 3.0).as("x1"),
          (col("cy") + col("j") - 1.0).as("y1"))
        .select(col("sid"), gf.st_geomfromtext(concat(lit("LINESTRING("),
          col("x1").cast("string"), lit(" "), col("y1").cast("string"), lit(","),
          (col("x1") + 3.0).cast("string"), lit(" "),
          (col("y1") + 1.5).cast("string"), lit(")"))).as("geom"))
      SpatialJoins.matchToSegments(customerPoints(s, d), "c_custkey", "px", "py",
          segs, "sid", "geom", maxDist = 5.0, level = 4)
        .select(col("c_custkey"), col("seg_id"), round(col("dist"), 9).as("dist"))
    }),
    "q_terrain_idx" -> ((s, d) => {
      // TRI / TPI / roughness over the shared customer DEM — pure
      // integer +/-/abs/min/max, so every double is exact and the
      // nine-way-join oracle mirrors without rounding.
      val g = customerDem(s, d)
      graft.operators.Raster.terrainIndices(g, "x", "y", "v")
    }),
    "q_flowdir" -> ((s, d) => {
      // D8 flow direction (ESRI codes) over the same DEM; drops
      // compare via the exact integer-times-1/sqrt2 products, ties to
      // the smallest code — the oracle replays the same CASE cascade.
      val g = customerDem(s, d)
      graft.operators.Raster.flowDirection(g, "x", "y", "v")
    }),
    "q_lisa" -> ((s, d) => {
      // Local Moran (LISA) over the shared DEM — same integer-space
      // trick as q_moran, per cell; the two float ops mirror exactly
      // so no rounding is needed.
      graft.operators.Raster.localMoran(customerDem(s, d), "x", "y", "v")
    }),
    "q_pyramid" -> ((s, d) => {
      // Two pyramid levels over the shared DEM (factor 2 then 3):
      // floor-division bucketing, exact integer sums.
      val l1 = graft.operators.Raster.downsample(customerDem(s, d), "x", "y", "v", 2)
      graft.operators.Raster.downsample(l1, "x", "y", "vsum", 3)
    }),
    "q_hotspots" -> ((s, d) => {
      // Getis-Ord Gi* over the shared customer DEM: focal sums from
      // the window pivot, global mean/std from one aggregation; the
      // oracle mirrors the z formula op-for-op over nine left joins
      // and scalar subqueries, rounded at 1e-6.
      val g = customerDem(s, d)
      graft.operators.Raster.hotspots(g, "x", "y", "v")
        .select(col("x"), col("y"), round(col("gi_star"), 6).as("gi_star"))
    }),
    "q_moran" -> ((s, d) => {
      // Global Moran's I over the shared DEM — integer-space
      // reformulation makes every sum exact; only the final two
      // divisions are floating point, mirrored op-for-op.
      val g = customerDem(s, d)
      graft.operators.Raster.moransI(g, "x", "y", "v")
    }),
    "q_kde" -> ((s, d) => {
      // Fixed-point Gaussian heatmap of the customer points at level 4
      // (bandwidth 10 deg): integer kernel weights keep density sums
      // exact in any order; the oracle rebuilds the 3x3 neighborhood
      // (wrap + pole drop) and cell centers from the Morton layout.
      graft.operators.Raster.kdeCells(
          customerPoints(s, d).select(col("px"), col("py")),
          "px", "py", level = 4, bandwidth = 10.0)
    }),
    "q_idw" -> ((s, d) => {
      // Fixed-point IDW: customer samples (integer values) onto nation
      // centres within 5.625 planar degrees at level 5. Integer
      // weights floor(2^20/d²) make both sums exact in any order; the
      // oracle replays the same weights over the cross join.
      val pts = customerPoints(s, d)
        .select(col("px"), col("py"), pmod(col("c_custkey"), lit(1000)).cast("double").as("v"))
      val tgts = nationCenters(s, d).select(col("n_nationkey"), col("cx"), col("cy"))
      graft.operators.Raster.idw(pts, "px", "py", "v",
          tgts, "n_nationkey", "cx", "cy", radius = 5.625, level = 5)
        .select(col("n_nationkey"), col("idw_value"), col("n_samples"))
    }),
    "q_flowacc" -> ((s, d) => {
      // D8 flow accumulation over the shared DEM: topological frontier
      // sweep (integer counts — exact); the oracle closes every
      // drainage path with a recursive CTE and counts ancestors.
      val g = customerDem(s, d)
      graft.operators.Raster.flowAccumulation(g, "x", "y", "v")
    }),
    "q_focal" -> ((s, d) => {
      // Focal 3×3 statistics over a deterministic integer DEM keyed by
      // customer (v is a pure function of (x, y), so duplicate keys at
      // larger SFs collapse by DISTINCT). The oracle replays the same
      // fixed position-order fold with nine self-joins; integer values
      // keep every double exact.
      val g = customerDem(s, d)
      graft.operators.Raster.focalStats(g, "x", "y", "v")
    }),
    "q_terrain" -> ((s, d) => {
      // Horn slope / aspect / hillshade over the same DEM (interior
      // cells only). Trig constants are interpolated into the oracle
      // as exact double literals; outputs round at 1e-6 where a libm
      // last-ulp divergence cannot flip the rounding.
      val g = customerDem(s, d)
      graft.operators.Raster.terrain(g, "x", "y", "v")
        .select(col("x"), col("y"), round(col("slope_deg"), 6).as("slope_deg"),
          round(col("aspect_deg"), 6).as("aspect_deg"),
          round(col("hillshade"), 6).as("hillshade"))
    }),
    "q_geofence" -> ((s, d) => {
      // Geofence enter/exit events (batch twin of the streaming
      // monitor, equality-tested in StreamingSpec): fixes on the 1/20
      // lattice against square nation zones shifted by 1/64 so no fix
      // ever lands on a zone boundary (320·probe even, 320·bound odd)
      // — the ray-cast covers test then equals the oracle's bbox
      // compare exactly. The oracle replays the same lag-window fold.
      val fixes = t(s, d, "events").select(col("user_id"), col("ts"),
        (pmod(col("event_id") * 7919L, lit(7200L)) / 20.0 - 180.0).as("px"),
        (pmod(col("event_id") * 104729L, lit(3400L)) / 20.0 - 85.0).as("py"))
      val zones = nationCenters(s, d).select(
        col("n_nationkey").cast("long").as("zid"),
        gf.st_expand(gf.st_point(col("cx") + 1.0 / 64, col("cy") + 1.0 / 64),
          lit(20.0)).as("geom"))
      graft.streaming.GeoStream.geofenceBatch(
        fixes, "user_id", "ts", "px", "py", zones, "zid", "geom")
    }),
    "q_roadnet" -> ((s, d) => {
      // Geometry -> graph glue: a supplier polyline road becomes a
      // quantized-node edge list (edgesFromSegments) and SSSP from
      // the (0,0) node yields the running path distances the oracle
      // recomputes with a window sum over the same node-id packing.
      val sup = t(s, d, "supplier").select(col("s_suppkey").cast("long").as("k"))
        .withColumn("x", pmod(col("k") * 7L, lit(100000L)))
        .withColumn("y", pmod(col("k") * 3L, lit(80000L)))
      val nxt = sup.select((col("k") - 1L).as("k"), col("x").as("x2"), col("y").as("y2"))
      def num(c: Column) = c.cast("int").cast("string")
      val segs = sup.join(nxt, Seq("k"))
        .select(gf.st_geomfromtext(concat(lit("LINESTRING("),
          num(col("x")), lit(" "), num(col("y")), lit(","),
          num(col("x2")), lit(" "), num(col("y2")), lit(")"))).as("geom"))
      val edges = graft.operators.Network.edgesFromSegments(segs, "geom", quantum = 0.5)
      val source = edges.agg(min(col("src")).as("node"))
      graft.operators.Network.shortestPaths(edges, "src", "dst", "w", source)
        .select(col("node"), round(col("dist"), 6).as("dist"))
    }),
    "q_isochrone" -> ((s, d) => {
      // Service-area reachability on the q_sssp supplier graph: nodes
      // within cost 6 of the sources, budget pruned IN the frontier
      // loop. Oracle = the q_sssp walk closure with the same cutoff.
      val sup = t(s, d, "supplier").select(col("s_suppkey").cast("long").as("k"))
      val n = sup.count()
      val ring = sup.select(col("k").as("a"),
        pmod(col("k") + 1L, lit(n)).as("b"),
        (lit(1L) + pmod(col("k") * 7L, lit(5L))).as("w"))
      val chords = sup.filter(pmod(col("k"), lit(5L)) === 0L)
        .select(col("k").as("a"),
          pmod(col("k") * 13L + 3L, lit(n)).as("b"),
          (lit(3L) + pmod(col("k") * 11L, lit(7L))).as("w"))
        .filter(col("a") =!= col("b"))
      val sources = sup.filter(pmod(col("k"), lit(7L)) === 1L)
        .select(col("k").as("node"))
      graft.operators.Network.reachableWithin(ring.union(chords), "a", "b", "w",
          sources, maxCost = 6.0)
        .select(col("node"), col("dist").cast("long").as("dist"), col("src"))
    }),
    "q_sssp" -> ((s, d) => {
      // Multi-source shortest paths (frontier Bellman-Ford, Network
      // .shortestPaths) over a deterministic supplier road graph:
      // an undirected weighted ring 0→1→…→S−1→0 plus chords from
      // every 5th node, integer weights (exact in doubles), sources
      // = keys ≡ 1 (mod 7). The oracle re-derives the same graph and
      // closes all (node, dist, src) walks with a recursive CTE
      // bounded at dist ≤ 64 (every shortest path here is far below
      // — ring spacing between sources ≤ 7 edges of weight ≤ 5), then
      // takes the same lexicographic (dist, src) minimum.
      val sup = t(s, d, "supplier").select(col("s_suppkey").cast("long").as("k"))
      val n = sup.count()
      val ring = sup.select(col("k").as("a"),
        pmod(col("k") + 1L, lit(n)).as("b"),
        (lit(1L) + pmod(col("k") * 7L, lit(5L))).as("w"))
      val chords = sup.filter(pmod(col("k"), lit(5L)) === 0L)
        .select(col("k").as("a"),
          pmod(col("k") * 13L + 3L, lit(n)).as("b"),
          (lit(3L) + pmod(col("k") * 11L, lit(7L))).as("w"))
        .filter(col("a") =!= col("b"))
      val sources = sup.filter(pmod(col("k"), lit(7L)) === 1L)
        .select(col("k").as("node"))
      // contract = false: the ring+chords fixture is low-diameter by
      // construction (interior chains ≤ 4 edges), so the chain-
      // contraction pre-pass costs more rounds than it saves — the
      // same per-workload knob a road-linework graph leaves ON
      graft.operators.Network.shortestPaths(ring.union(chords), "a", "b", "w", sources,
          contract = false)
        .select(col("node"), col("dist").cast("long").as("dist"), col("src"))
    }),
    "q_sssp_delta" -> ((s, d) => {
      // Delta-stepping on the q_sssp graph (bucket width 3: real
      // light/heavy split over weights 1..9) — identical labels, same
      // walk-closure oracle.
      val sup = t(s, d, "supplier").select(col("s_suppkey").cast("long").as("k"))
      val n = sup.count()
      val ring = sup.select(col("k").as("a"),
        pmod(col("k") + 1L, lit(n)).as("b"),
        (lit(1L) + pmod(col("k") * 7L, lit(5L))).as("w"))
      val chords = sup.filter(pmod(col("k"), lit(5L)) === 0L)
        .select(col("k").as("a"),
          pmod(col("k") * 13L + 3L, lit(n)).as("b"),
          (lit(3L) + pmod(col("k") * 11L, lit(7L))).as("w"))
        .filter(col("a") =!= col("b"))
      val sources = sup.filter(pmod(col("k"), lit(7L)) === 1L)
        .select(col("k").as("node"))
      graft.operators.Network.shortestPathsDelta(ring.union(chords), "a", "b", "w",
          sources, delta = 3.0)
        .select(col("node"), col("dist").cast("long").as("dist"), col("src"))
    }),
    "q_jaccard_pairs" -> ((s, d) => {
      // Word-set Jaccard near-dup pairs via Bayardo/AllPairs prefix
      // filtering (rarest-token prefix explode + equi-join — never a
      // cross join). The output is candidate-scheme-independent, so
      // the DuckDB oracle recomputes it from first principles: word
      // equi-join → per-pair intersection counts → |A|+|B|−∩ union.
      // Input is a deterministic 1-in-5 sample: the synthetic corpus
      // is template-generated and extremely self-similar (word-set
      // jaccard ≥ 0.9 for ~8% of ALL pairs at sf0.1), so the TRUE
      // answer is quadratic in the input — the sample bounds the
      // driver row while exercising the full operator path
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 5 === 0)
      val doubled = docs.union(docs.select(col("doc_id") + 1000000L, col("text")))
      TrainingData.wordJaccardPairs(doubled, "doc_id", "text", threshold = 0.9)
        .select(col("a"), col("b"), col("jaccard"))
    }),
    "q_winnow" -> ((s, d) => {
      // Winnowing (MOSS) fingerprints, gated by the scheme's two
      // THEOREMS rather than hash values (the 64-bit rolling hash is
      // not reproducible in SQL): (1) identical documents share their
      // full fingerprint set → containment exactly 1.0; (2) any shared
      // substring of length ≥ w+k−1 = 11 yields ≥1 shared fingerprint
      // → a 160-char prefix slice always pairs with its source. The
      // inner join makes a missing guarantee row a red row count.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val tripled = docs
        .union(docs.select(col("doc_id") + 1000000L, col("text")))
        .union(docs.select(col("doc_id") + 2000000L,
          substring(col("text"), 1, 160).as("text")))
      val pairs = TrainingData.winnowingPairs(tripled, "doc_id", "text",
          k = 8, w = 4, minShared = 1e-9)
        .filter(col("a") % 1000000L === col("b") % 1000000L)
      val self = pairs
        .filter(col("a") < 1000000L && col("b") >= 1000000L && col("b") < 2000000L)
        .select(col("a").as("doc_id"), col("containment").as("self_cont"))
      val slice = pairs
        .filter(col("a") < 1000000L && col("b") >= 2000000L)
        .select(col("a").as("doc_id"), lit(true).as("slice_hit"))
      self.join(slice, "doc_id").select(col("doc_id"), col("self_cont"), col("slice_hit"))
    }),
    "q_simhash_pairs" -> ((s, d) => {
      // SimHash candidate generation (band buckets + hamming 0) with
      // exact-text verification — the production dedup shape. Equal
      // texts ALWAYS share a simhash, so the verified output is
      // exactly the set of identical-text pairs, which the DuckDB
      // oracle recomputes from first principles (md5 equi-join).
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val doubled = docs.union(docs.select(col("doc_id") + 1000000L, col("text")))
      val cand = TrainingData.simhashPairs(doubled, "doc_id", "text", maxDist = 0)
      val h = doubled.select(col("doc_id"), md5(col("text").cast("binary")).as("__md5"))
      cand
        .join(h.select(col("doc_id").as("a"), col("__md5").as("__ma")), Seq("a"))
        .join(h.select(col("doc_id").as("b"), col("__md5").as("__mb")), Seq("b"))
        .filter(col("__ma") === col("__mb"))
        .select(col("a"), col("b"))
    }),
    // --- relational host ops --------------------------------------------
    "q_events_hourly" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("value_sum"))
    }),
    "q_topk_orders" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders").withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
    }),
    // Event-time gap sessionization (batch surface of the streaming
    // kernel: same GeoStream.foldEvent gap-split fold)
    "q_sessions" -> ((s, d) => {
      graft.streaming.GeoStream
        .sessionizeBatch(t(s, d, "events"), "user_id", "ts", "value", 1800L)
        .select(col("key").as("user_id"), col("sid"),
          col("start_sec"), col("end_sec"), col("n"),
          round(col("val_sum"), 3).as("val_sum"))
    }),
    // --- pipeline invariant ---------------------------------------------
    "q_extract_text" -> ((s, d) => {
      val pages = graft.pipeline.WebCorpus.pages(s, 500)
      graft.pipeline.WebCorpus.extractText(pages)
        .select(col("url"), md5(col("extracted_text").cast("binary")).as("text_md5"))
    }),
    // --- rows-only (no closed-form ANSI SQL) ----------------------------
    "q_hull_stats" -> ((s, d) => {
      // Convex hull is affine-equivariant, so the query runs on the
      // EXACT integer lattice coordinates (×20 of the real ones):
      // robust orientation on integer-valued doubles equals integer
      // orientation, so the SQL oracle's exact corner test and integer
      // shoelace reproduce hull_pts and hull_area bit-for-bit
      // (hull_area is reported in real units: A_int / 400).
      val pts = t(s, d, "customer")
        .withColumn("ix", pmod(col("c_custkey") * 7919L, lit(7200L)).cast("double"))
        .withColumn("iy", pmod(col("c_custkey") * 104729L, lit(3400L)).cast("double"))
      val hulls = pts.groupBy(col("c_nationkey"))
        .agg(gf.st_convexhull_agg(gf.st_point(col("ix"), col("iy"))).as("hull"))
      hulls.select(col("c_nationkey"),
        gf.st_numpoints(col("hull")).as("hull_pts"),
        (gf.st_unsigned_area(col("hull")) / 400.0).as("hull_area"))
    }),
    "q_split" -> ((s, d) => {
      // ST_Split of a per-nation square (even side a) by the vertical
      // mid-line: exactly two faces of area a^2/2 each.
      val n = t(s, d, "nation")
        .withColumn("dx", (col("n_nationkey") * 30).cast("double"))
        .withColumn("a", ((pmod(col("n_nationkey"), lit(4)) * 2) + 8).cast("double"))
      def num(c: Column) = c.cast("int").cast("string")
      val sq = gf.st_geomfromtext(concat(lit("POLYGON(("),
        num(col("dx")), lit(" 0,"), num(col("dx") + col("a")), lit(" 0,"),
        num(col("dx") + col("a")), lit(" "), num(col("a")), lit(","),
        num(col("dx")), lit(" "), num(col("a")), lit(","),
        num(col("dx")), lit(" 0))")))
      val blade = gf.st_geomfromtext(concat(lit("LINESTRING("),
        num(col("dx") + col("a") / 2), lit(" -1,"),
        num(col("dx") + col("a") / 2), lit(" "), num(col("a") + 1), lit(")")))
      n.select(col("n_nationkey"), explode(gf.st_split(sq, blade)).as("piece"))
        .groupBy(col("n_nationkey"))
        .agg(count(lit(1)).as("pieces"),
          round(min(gf.st_area(col("piece"))), 6).as("min_area"),
          round(max(gf.st_area(col("piece"))), 6).as("max_area"))
    }),
    "q_snapline" -> ((s, d) => {
      // st_snap: endpoints snap onto integer reference vertices, a
      // mid reference vertex inserts into the segment -> 3 points of
      // closed-form length 2*sqrt(25.01). st_shortestline: two squares
      // a gap apart -> witness corners and exact gap length.
      val n = t(s, d, "nation")
        .withColumn("dx", (col("n_nationkey") * 30).cast("double"))
        .withColumn("gap", (pmod(col("n_nationkey"), lit(4)) + 3).cast("double"))
      def num(c: Column) = c.cast("string")
      val line = gf.st_geomfromtext(concat(lit("LINESTRING("),
        num(col("dx") + 0.25), lit(" 0,"), num(col("dx") + 10), lit(" 0.25)")))
      val ref = gf.st_geomfromtext(concat(lit("MULTIPOINT("),
        num(col("dx")), lit(" 0,"), num(col("dx") + 5), lit(" 0.1,"),
        num(col("dx") + 10), lit(" 0)")))
      val snapped = gf.st_snap(line, ref, lit(0.5))
      val sqA = gf.st_geomfromtext(concat(lit("POLYGON(("),
        num(col("dx")), lit(" 0,"), num(col("dx") + 4), lit(" 0,"),
        num(col("dx") + 4), lit(" 4,"), num(col("dx")), lit(" 4,"),
        num(col("dx")), lit(" 0))")))
      val sqB = gf.st_geomfromtext(concat(lit("POLYGON(("),
        num(col("dx") + 4 + col("gap")), lit(" 0,"), num(col("dx") + 8 + col("gap")), lit(" 0,"),
        num(col("dx") + 8 + col("gap")), lit(" 4,"), num(col("dx") + 4 + col("gap")), lit(" 4,"),
        num(col("dx") + 4 + col("gap")), lit(" 0))")))
      val sl = gf.st_shortestline(sqA, sqB)
      n.select(col("n_nationkey"),
        gf.st_numpoints(snapped).as("sn_pts"),
        round(gf.st_length(snapped), 6).as("sn_len"),
        round(gf.st_length(sl), 6).as("sl_len"),
        round(gf.st_xmin(snapped), 6).as("sn_x0"),
        round(gf.st_xmin(sl), 6).as("sl_x0"),
        round(gf.st_xmax(sl), 6).as("sl_x1"))
    }),
    "q_makevalid" -> ((s, d) => {
      // Repair a per-nation bowtie (self-crossing ring of size a):
      // even-odd reconstruction yields two mirror triangles, total
      // area a^2/2, and the output passes st_isvalid.
      val n = t(s, d, "nation")
        .withColumn("dx", (col("n_nationkey") * 25).cast("double"))
        .withColumn("a", (pmod(col("n_nationkey"), lit(5)) + 8).cast("double"))
      def pt(ox: Column, oy: Column) = concat(
        ox.cast("int").cast("string"), lit(" "), oy.cast("int").cast("string"))
      val bow = gf.st_geomfromtext(concat(lit("POLYGON(("),
        pt(col("dx"), lit(0)), lit(","), pt(col("dx") + col("a"), col("a")),
        lit(","), pt(col("dx") + col("a"), lit(0)), lit(","), pt(col("dx"), col("a")),
        lit(","), pt(col("dx"), lit(0)), lit("))")))
      val rep = gf.st_makevalid(bow)
      n.select(col("n_nationkey"),
        gf.st_isvalid(bow).as("was_valid"),
        gf.st_isvalid(rep).as("now_valid"),
        gf.st_numparts(rep).as("parts"),
        round(gf.st_area(rep), 6).as("area"))
    }),
    "q_offsetcurve" -> ((s, d) => {
      // Offset curve of a per-nation right-angle L (0,0)->(a,0)->(a,a):
      // the inside (left) offset chains through the mitre corner with
      // length 2(a-2); the outside (right) offset inserts the 8-chord
      // inscribed quarter arc, length 2a + 32*sin(pi/32). Both sides
      // have closed-form vertex counts (3 and 11).
      val n = t(s, d, "nation")
        .withColumn("dx", (col("n_nationkey") * 40).cast("double"))
        .withColumn("a", (pmod(col("n_nationkey"), lit(7)) + 10).cast("double"))
      def pt(ox: Column, oy: Column) = concat(
        ox.cast("int").cast("string"), lit(" "), oy.cast("int").cast("string"))
      val l = gf.st_geomfromtext(concat(lit("LINESTRING("),
        pt(col("dx"), lit(0)), lit(","), pt(col("dx") + col("a"), lit(0)),
        lit(","), pt(col("dx") + col("a"), col("a")), lit(")")))
      val left = gf.st_offsetcurve(l, lit(2.0))
      val right = gf.st_offsetcurve(l, lit(-2.0))
      n.select(col("n_nationkey"),
        gf.st_numpoints(left).as("l_pts"),
        round(gf.st_length(left), 6).as("l_len"),
        gf.st_numpoints(right).as("r_pts"),
        round(gf.st_length(right), 6).as("r_len"))
    }),
    "q_linework" -> ((s, d) => {
      // LineMerge + Node on per-nation translated fixtures: a 3-piece
      // mixed-direction path merges to one 4-point line of length 30;
      // a Y junction never merges through its degree-3 node; an X
      // crossing nodes into 4 arcs of total length 20*sqrt(2).
      val n = t(s, d, "nation")
        .withColumn("dx", (col("n_nationkey") * 50).cast("double"))
        .withColumn("dy", (col("n_nationkey") * 30).cast("double"))
      def pt(ox: Int, oy: Int) = concat(
        (col("dx") + ox).cast("int").cast("string"), lit(" "),
        (col("dy") + oy).cast("int").cast("string"))
      def seg(x1: Int, y1: Int, x2: Int, y2: Int) =
        concat(lit("("), pt(x1, y1), lit(","), pt(x2, y2), lit(")"))
      val path = gf.st_geomfromtext(concat(lit("MULTILINESTRING("),
        seg(10, 0, 20, 0), lit(","), seg(0, 0, 10, 0), lit(","), seg(30, 0, 20, 0), lit(")")))
      val junct = gf.st_geomfromtext(concat(lit("MULTILINESTRING("),
        seg(0, 10, 10, 10), lit(","), seg(10, 10, 20, 10), lit(","), seg(10, 10, 10, 20), lit(")")))
      val cross = gf.st_geomfromtext(concat(lit("MULTILINESTRING("),
        seg(0, 30, 10, 40), lit(","), seg(0, 40, 10, 30), lit(")")))
      val merged = gf.st_linemerge(path)
      val noded = gf.st_node(cross)
      // substring/reverse of the diagonal (dx,0)->(dx+10,10)
      val diag = gf.st_geomfromtext(concat(lit("LINESTRING("),
        pt(0, 50), lit(","), pt(10, 60), lit(")")))
      val sub = gf.st_linesubstring(diag, lit(0.25), lit(0.75))
      n.select(col("n_nationkey"),
        gf.st_numparts(merged).as("lm_parts"),
        gf.st_numpoints(merged).as("lm_pts"),
        round(gf.st_length(merged), 6).as("lm_len"),
        gf.st_numparts(gf.st_linemerge(junct)).as("j_parts"),
        gf.st_numparts(noded).as("nd_parts"),
        round(gf.st_length(noded), 6).as("nd_len"),
        round(gf.st_length(sub), 6).as("ls_len"),
        round(gf.st_xmin(sub), 6).as("ls_x0"),
        round(gf.st_x(gf.st_lineinterpolatepoint(gf.st_reverse(diag), lit(0.0))), 6).as("rv_x"))
    }),
    "q_circles" -> ((s, d) => {
      // MaximumInscribedCircle of a per-nation square (unique exact
      // center s/2: the solver's first probe IS the envelope center,
      // so center/radius are exact doubles) and LargestEmptyCircle of
      // its 4 corners (center again exact, radius the half-diagonal).
      // Nearest-point ties break by construction order: first ring
      // edge (bottom) for MIC, first obstacle (dx,dy) for LEC.
      val n = t(s, d, "nation")
        .withColumn("dx", (col("n_nationkey") * 20).cast("double"))
        .withColumn("dy", (col("n_nationkey") * 9).cast("double"))
        .withColumn("side", (pmod(col("n_nationkey"), lit(5)) + 4).cast("double"))
      def pt(ox: Column, oy: Column) = concat(
        ox.cast("int").cast("string"), lit(" "), oy.cast("int").cast("string"))
      val sq = gf.st_geomfromtext(concat(lit("POLYGON(("),
        pt(col("dx"), col("dy")), lit(","), pt(col("dx") + col("side"), col("dy")),
        lit(","), pt(col("dx") + col("side"), col("dy") + col("side")),
        lit(","), pt(col("dx"), col("dy") + col("side")),
        lit(","), pt(col("dx"), col("dy")), lit("))")))
      val corners = gf.st_geomfromtext(concat(lit("MULTIPOINT("),
        pt(col("dx"), col("dy")), lit(","), pt(col("dx") + 8, col("dy")),
        lit(","), pt(col("dx") + 8, col("dy") + 8), lit(","), pt(col("dx"), col("dy") + 8),
        lit(")")))
      val mic = gf.st_maximuminscribedcircle(sq, lit(1e-9))
      val lec = gf.st_largestemptycircle(corners, lit(1e-9))
      n.select(col("n_nationkey"),
        round(gf.st_x(mic("center")), 6).as("mic_cx"),
        round(gf.st_y(mic("center")), 6).as("mic_cy"),
        round(mic("radius"), 6).as("mic_r"),
        round(gf.st_x(mic("nearest")), 6).as("mic_nx"),
        round(gf.st_y(mic("nearest")), 6).as("mic_ny"),
        round(gf.st_x(lec("center")), 6).as("lec_cx"),
        round(gf.st_y(lec("center")), 6).as("lec_cy"),
        round(lec("radius"), 6).as("lec_r"))
    }),
    "q_subdivide" -> ((s, d) => {
      // ST_Subdivide on a per-nation translated 16x4 rectangle
      // densified to unit boundary steps (41 ring vertices), cap 20.
      // The decomposition is translation-invariant (median-vertex
      // pivot translates with the geometry), so the oracle pins the
      // spec-derived golden constants: 4 pieces, areas {12..20}
      // summing to the exact 64.
      val n = t(s, d, "nation")
        .withColumn("dx", (col("n_nationkey") * 10).cast("double"))
        .withColumn("dy", (col("n_nationkey") * 5).cast("double"))
      def pt(ox: Int, oy: Int) = concat(
        (col("dx") + ox).cast("int").cast("string"), lit(" "),
        (col("dy") + oy).cast("int").cast("string"))
      val rectTxt = concat(lit("POLYGON(("), pt(0, 0), lit(","), pt(16, 0),
        lit(","), pt(16, 4), lit(","), pt(0, 4), lit(","), pt(0, 0), lit("))"))
      val cells = gf.st_subdivide(gf.st_densify(gf.st_geomfromtext(rectTxt), lit(1.0)), lit(20))
      n.select(col("n_nationkey"), explode(cells).as("piece"))
        .select(col("n_nationkey"), gf.st_area(col("piece")).as("a"),
          gf.st_numpoints(col("piece")).as("pts"))
        .groupBy(col("n_nationkey"))
        .agg(count(lit(1)).as("pieces"),
          round(sum(col("a")), 6).as("sum_area"),
          round(min(col("a")), 6).as("min_area"),
          round(max(col("a")), 6).as("max_area"),
          max(col("pts")).as("max_pts"))
    }),
    "q_voronoi" -> ((s, d) => {
      // Voronoi of the 4 corners + center of a per-nation translated
      // 4x4 square, clipped to the square: the corner cells are the
      // x+y=2-style triangles (area 2, 3 distinct vertices) and the
      // center cell is the inscribed diamond (area 8, 4 vertices) —
      // all closed-form, site order is input order.
      val n = t(s, d, "nation")
        .withColumn("dx", (col("n_nationkey") * 10).cast("double"))
        .withColumn("dy", (col("n_nationkey") * 5).cast("double"))
      def pt(ox: Int, oy: Int) = concat(
        (col("dx") + ox).cast("int").cast("string"), lit(" "),
        (col("dy") + oy).cast("int").cast("string"))
      val sitesTxt = concat(lit("MULTIPOINT("), pt(0, 0), lit(","), pt(4, 0),
        lit(","), pt(0, 4), lit(","), pt(4, 4), lit(","), pt(2, 2), lit(")"))
      val cells = gf.st_voronoi(gf.st_geomfromtext(sitesTxt),
        col("dx"), col("dy"), col("dx") + 4.0, col("dy") + 4.0)
      n.select(col("n_nationkey"), posexplode(cells).as(Seq("cell_idx", "cell")))
        .select(col("n_nationkey"), col("cell_idx"),
          round(gf.st_area(col("cell")), 6).as("cell_area"),
          gf.st_numpoints(col("cell")).as("cell_pts"))
    }),
    "q_buffer" -> ((s, d) => {
      // Buffer (Minkowski dilate/erode) on integer-lattice rectangles
      // and axis segments, one per nation. Every output is closed-form:
      // mitre dilation of a rectangle grows it exactly, erosion shrinks
      // it exactly, the round-join dilation adds 2d(w+h) plus the
      // inscribed 32-gon disc 16*d^2*sin(pi/16), and the cap styles on
      // a length-L segment differ by exactly the disc / 4d^2 / 0.
      val n = t(s, d, "nation")
        .withColumn("w", (pmod(col("n_nationkey"), lit(7)) + 10).cast("double"))
        .withColumn("h", (pmod(col("n_nationkey"), lit(5)) + 5).cast("double"))
        .withColumn("len", (col("n_nationkey") + 10).cast("double"))
      val rectTxt = concat(lit("POLYGON((0 0,"), col("w").cast("int").cast("string"),
        lit(" 0,"), col("w").cast("int").cast("string"), lit(" "),
        col("h").cast("int").cast("string"), lit(",0 "),
        col("h").cast("int").cast("string"), lit(",0 0))"))
      val segTxt = concat(lit("LINESTRING(0 0,"),
        col("len").cast("int").cast("string"), lit(" 0)"))
      val rect = gf.st_geomfromtext(rectTxt)
      val seg = gf.st_geomfromtext(segTxt)
      n.select(col("n_nationkey"),
        round(gf.st_area(gf.st_buffer(rect, lit(2.0), lit("join=mitre"))), 4).as("a_mitre"),
        round(gf.st_area(gf.st_buffer(rect, lit(2.0))), 4).as("a_round"),
        round(gf.st_area(gf.st_buffer(rect, lit(-1.0))), 4).as("a_erode"),
        round(gf.st_area(gf.st_buffer(seg, lit(2.0), lit("endcap=flat"))), 4).as("a_flat"),
        round(gf.st_area(gf.st_buffer(seg, lit(2.0), lit("endcap=square"))), 4).as("a_square"),
        round(gf.st_area(gf.st_buffer(seg, lit(2.0))), 4).as("a_capround"))
    }),
    "q_simplify" -> ((s, d) => {
      // RDP on a deterministic zigzag per nation
      nationCenters(s, d).select(col("n_nationkey"),
        gf.st_numpoints(gf.st_simplify(gf.st_densify(gf.st_geomfromtext(concat(
          lit("LINESTRING("), col("cx").cast("string"), lit(" "), col("cy").cast("string"),
          lit(","), (col("cx") + 8.0).cast("string"), lit(" "), (col("cy") + 0.25).cast("string"),
          lit(","), (col("cx") + 16.0).cast("string"), lit(" "), col("cy").cast("string"),
          lit(")"))), lit(1.0)), lit(0.5))).as("rdp_pts"))
    }),
    "q_simplify_idx" -> ((s, d) => {
      // Kept-vertex index arrays (SimplifyIdx / SimplifyVwIdx) on a
      // 4-point zigzag over an INTEGER lattice: A=(0,0) P1=(40,h1)
      // P2=(80,h2) B=(120,0). At depth <=2 both algorithms' decision
      // trees are closed-form, so the oracle re-derives the exact index
      // set from the same chord-distance / triangle-area formulas (no
      // comparison lands within 5e-4 of an epsilon — float-drift-proof).
      val n = t(s, d, "nation")
        .withColumn("h1", (pmod(col("n_nationkey") * 7, lit(11)) + 1).cast("double"))
        .withColumn("h2r", (pmod(col("n_nationkey") * 5, lit(9)) + 1).cast("double"))
        .withColumn("h2", when(col("h2r") === col("h1"), col("h1") + 1.0).otherwise(col("h2r")))
      val ls = gf.st_geomfromtext(concat(
        lit("LINESTRING(0 0,40 "), col("h1").cast("int").cast("string"),
        lit(",80 "), col("h2").cast("int").cast("string"), lit(",120 0)")))
      n.select(col("n_nationkey"),
        array_join(gf.st_simplify_idx(ls, lit(6.5)), ",").as("rdp_idx"),
        array_join(gf.st_simplifyvw_idx(ls, lit(50.0)), ",").as("vw_idx"))
    }),
    "q_concave_hull" -> ((s, d) => {
      // Concave hull is inherently non-decomposable (needs the whole
      // point set), so the group IS collected — but through the binary
      // st_collect_agg after a deterministic grid-thinning pre-pass
      // (≤8 points per level-12 cell), which bounds the per-group
      // state at 100× density to O(cells·8). At the gate SFs the
      // pass only trims exact-duplicate lattice points (hull-neutral;
      // verified by the SparkSpec thinning property tests).
      val pts = SpatialJoins.thinPoints(customerPoints(s, d), "c_nationkey", "px", "py")
      pts.groupBy(col("c_nationkey"))
        .agg(gf.st_collect_agg(gf.st_point(col("px"), col("py"))).as("mp"))
        .select(col("c_nationkey"),
          gf.st_numpoints(gf.st_concavehull(col("mp"), lit(2.0))).as("concave_pts"),
          round(gf.st_area(gf.st_concavehull(col("mp"), lit(2.0))), 4).as("concave_area"))
    }),
    "q_concave_check" -> ((s, d) => {
      // Hard property gate for the Moreira-Santos concave hull (whose
      // exact vertex set is algorithm-specific and not SQL-derivable):
      // every input point must lie in the closed hull, and the hull
      // area can never exceed the convex hull's. The hull is built
      // from the grid-thinned set (bounded group state); the
      // all-inside gate still runs over EVERY original point.
      val pts = customerPoints(s, d)
      val thinned = SpatialJoins.thinPoints(pts, "c_nationkey", "px", "py")
      val hulls = thinned.groupBy(col("c_nationkey"))
        .agg(gf.st_collect_agg(gf.st_point(col("px"), col("py"))).as("mp"))
        .select(col("c_nationkey"),
          gf.st_concavehull(col("mp"), lit(2.0)).as("ch"),
          gf.st_convexhull(col("mp")).as("cvx"))
      pts.join(hulls, "c_nationkey")
        .groupBy(col("c_nationkey"))
        .agg(
          min(gf.st_intersects_xy(col("ch"), col("px"), col("py")).cast("int")).as("__allin"),
          min((gf.st_unsigned_area(col("ch")) <=
            gf.st_unsigned_area(col("cvx")) + 1e-9).cast("int")).as("__areaok"))
        .select(col("c_nationkey"),
          (col("__allin") === 1).as("all_inside"),
          (col("__areaok") === 1).as("area_ok"))
    }),
    "q_minrect" -> ((s, d) => {
      starPolys(s, d).select(col("pid"),
        round(gf.st_area(gf.st_minrotatedrect(col("geom"))), 4).as("rect_area"))
    }),
    "q_triangulate" -> ((s, d) => {
      starPolys(s, d)
        .select(col("pid"), explode(gf.st_triangulate(col("geom"))).as("tri"))
        .groupBy("pid")
        .agg(count(lit(1)).as("n_tris"), round(sum(gf.st_unsigned_area(col("tri"))), 6).as("tri_area"))
    }),
    "q_delaunay" -> ((s, d) => {
      // Unconstrained Delaunay of each star's 8 vertices: triangle
      // count is the Euler invariant 2n−2−h (= 9 here, every star's
      // vertex hull has 5 corners) and total area is the hull area —
      // both independently recomputable in SQL.
      starPolys(s, d)
        .select(col("pid"), explode(gf.st_delaunay_unconstrained(col("geom"))).as("tri"))
        .groupBy("pid")
        .agg(count(lit(1)).as("n_tris"),
          round(sum(gf.st_unsigned_area(col("tri"))), 6).as("tri_area"))
    }),
    "q_stitch" -> ((s, d) => {
      // stitch ∘ triangulate is the identity up to topology: point
      // count and area of the reassembled polygon match the star.
      val stitched = gf.st_stitch(gf.st_triangulate(col("geom")))
      starPolys(s, d).select(col("pid"),
        gf.st_numpoints(stitched).as("stitched_pts"),
        round(gf.st_unsigned_area(stitched), 6).as("stitched_area"))
    }),
    "q_segmentize" -> ((s, d) => {
      nationCenters(s, d).select(col("n_nationkey"),
        gf.st_numpoints(gf.st_segmentize(gf.st_geomfromtext(concat(
          lit("LINESTRING("), col("cx").cast("string"), lit(" "), col("cy").cast("string"),
          lit(","), (col("cx") + 10.0).cast("string"), lit(" "), (col("cy") + 5.0).cast("string"),
          lit(")"))), lit(4))).as("seg_pts"))
    }),
    "q_vincenty" -> ((s, d) => {
      // Hard gate via cross-implementation agreement: Vincenty
      // (iterative) and Karney (series) are independent ellipsoid
      // solvers; sub-mm agreement on every pair is a strong oracle
      // even though neither is ANSI-SQL-expressible.
      customerPoints(s, d)
        .join(nationCenters(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"),
          (abs(gf.st_distance_vincenty(gf.st_point(col("px"), col("py")),
              gf.st_point(col("cx"), col("cy"))) -
            gf.st_distance_geodesic(gf.st_point(col("px"), col("py")),
              gf.st_point(col("cx"), col("cy")))) < 0.001).as("vk_agree_mm"))
    }),
    "q_geodesic" -> ((s, d) => {
      customerPoints(s, d)
        .join(nationCenters(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"),
          round(gf.st_distance_geodesic(gf.st_point(col("px"), col("py")),
            gf.st_point(col("cx"), col("cy")))).cast("long").as("geodesic_m"))
    }),
    "q_lof" -> ((s, d) => {
      // LOF is invariant under uniform scaling, so the query feeds the
      // EXACT integer lattice coordinates (×20 of the real ones — both
      // axes share the derivation scale): squared distances are exact
      // integers in doubles, making neighbour selection and tie-breaks
      // bit-reproducible by the SQL oracle.
      val pts = t(s, d, "customer")
        .withColumn("ix", pmod(col("c_custkey") * 7919L, lit(7200L)).cast("double"))
        .withColumn("iy", pmod(col("c_custkey") * 104729L, lit(3400L)).cast("double"))
      operators.Outliers.lofPerGroup(pts, "c_nationkey", "c_custkey", "ix", "iy", 5)
        .select(col("key"), col("id"), round(col("lof"), 4).as("lof"))
    }),
    "q_overlay" -> ((s, d) => {
      // pairwise boolean ops between intersecting star polygons
      val a = starPolys(s, d).select(col("pid").as("a_id"), col("geom").as("ga"))
      val b = starPolys(s, d).select(col("pid").as("b_id"), col("geom").as("gb"))
      a.crossJoin(b).filter(col("a_id") < col("b_id"))
        .filter(gf.st_intersects(col("ga"), col("gb")))
        .select(col("a_id"), col("b_id"),
          round(gf.st_unsigned_area(gf.st_intersection(col("ga"), col("gb"))), 4).as("inter_area"),
          round(gf.st_unsigned_area(gf.st_union(col("ga"), col("gb"))), 4).as("union_area"),
          round(gf.st_unsigned_area(gf.st_difference(col("ga"), col("gb"))), 4).as("diff_area"))
    }),
    "q_snapround" -> ((s, d) => {
      // Fixed-precision (snap-rounded) boolean ops at scale 1 over
      // axis-aligned rectangles with fractional corners. Three cases
      // per nation (key % 3): 0 = proper overlap, 1 = operand A
      // collapses to a vertical line on the grid (OverlayNG input-
      // collapse linework), 2 = snapped operands touch along a shared
      // edge (edge-run linework). No scaled coordinate lands on .5
      // (cx/cy have fraction .5 and every offset fraction is >= .1
      // from both .0 and .5), so Java half-up round == DuckDB
      // half-away round and every output is an exact lattice integer
      // — the oracle is pure interval arithmetic on rounded corners.
      val c = col("n_nationkey") % 3
      def pt(xx: Column, yy: Column) =
        concat(xx.cast("string"), lit(" "), yy.cast("string"))
      def rect(x0: Column, y0: Column, x1: Column, y1: Column) =
        gf.st_geomfromtext(concat(lit("POLYGON(("),
          concat_ws(",", pt(x0, y0), pt(x1, y0), pt(x1, y1), pt(x0, y1), pt(x0, y0)),
          lit("))")))
      val a = rect(col("cx") + 0.3, col("cy") + 0.2,
        col("cx") + when(c === 1, 0.6).otherwise(4.6), col("cy") + 3.8)
      val b = rect(
        col("cx") + when(c === 1, -1.8).when(c === 2, 4.4).otherwise(1.7),
        col("cy") + when(c === 1, -1.6).otherwise(1.4),
        col("cx") + when(c === 2, 9.6).otherwise(6.2), col("cy") + 5.6)
      val sc = lit(1.0)
      nationCenters(s, d).select(col("n_nationkey"),
        round(gf.st_unsigned_area(gf.st_intersection_sr(a, b, sc)), 4).as("inter_area"),
        round(gf.st_length(gf.st_intersection_sr_lines(a, b, sc)), 4).as("inter_len"),
        round(gf.st_unsigned_area(gf.st_union_sr(a, b, sc)), 4).as("union_area"),
        round(gf.st_length(gf.st_union_sr_lines(a, b, sc)), 4).as("union_len"),
        round(gf.st_unsigned_area(gf.st_difference_sr(a, b, sc)), 4).as("diff_area"),
        round(gf.st_length(gf.st_difference_sr_lines(a, b, sc)), 4).as("diff_len"),
        round(gf.st_unsigned_area(gf.st_symdifference_sr(a, b, sc)), 4).as("xor_area"),
        round(gf.st_length(gf.st_symdifference_sr_lines(a, b, sc)), 4).as("xor_len"))
    }),
    "q_dissolve" -> ((s, d) => {
      starPolys(s, d).withColumn("grp", col("pid") % 5)
        .groupBy("grp")
        .agg(round(gf.st_unsigned_area(gf.st_union_agg(col("geom"))), 4).as("dissolved_area"))
    }),
    "q_isvalid" -> ((s, d) => {
      starPolys(s, d).select(col("pid"),
        gf.st_isvalid(col("geom")).as("valid"),
        gf.st_isvalidreason(col("geom")).as("reason"),
        gf.st_dimension(col("geom")).as("dim"))
    }),
    "q_wkb" -> ((s, d) => {
      // WKB round-trip identity over derived points
      customerPoints(s, d).select(col("c_custkey"),
        (gf.st_astext(gf.st_geomfromwkb(gf.st_aswkb(gf.st_point(col("px"), col("py"))))) ===
          gf.st_astext(gf.st_point(col("px"), col("py")))).as("roundtrip_ok"))
    }),
    "q_ewkb" -> ((s, d) => {
      // EWKB/SRID interop (PostGIS wire format, geo-postgis
      // to_postgis.rs:12): the SRID tag survives the roundtrip, the
      // 9-byte header is the published layout 01 <type|0x20000000>
      // <srid LE>, and the payload decodes back to the same point
      customerPoints(s, d)
        .withColumn("srid",
          (lit(4326) + pmod(col("c_custkey"), lit(3)) * 1000).cast("int"))
        .withColumn("ewkb", gf.st_asewkb(gf.st_point(col("px"), col("py")), col("srid")))
        .select(col("c_custkey"),
          gf.st_srid(col("ewkb")).as("srid_out"),
          length(col("ewkb")).cast("int").as("blen"),
          hex(substring(col("ewkb"), 1, 9)).as("hdr"),
          (gf.st_astext(gf.st_geomfromewkb(col("ewkb"))) ===
            gf.st_astext(gf.st_point(col("px"), col("py")))).as("roundtrip_ok"))
    }),
    "q_vwp" -> ((s, d) => {
      nationCenters(s, d).select(col("n_nationkey"),
        gf.st_numpoints(gf.st_simplifyvw_preserve(
          gf.st_densify(gf.st_geomfromtext(concat(
            lit("LINESTRING("), col("cx").cast("string"), lit(" "), col("cy").cast("string"),
            lit(","), (col("cx") + 6.0).cast("string"), lit(" "), (col("cy") + 0.5).cast("string"),
            lit(","), (col("cx") + 12.0).cast("string"), lit(" "), col("cy").cast("string"),
            lit(")"))), lit(0.5)), lit(0.05))).as("vwp_pts"))
    }),
    "q_segjoin" -> ((s, d) => {
      // Coordinates are exact multiples of 1/4 (binary-representable),
      // so double arithmetic is EXACT and the robust-orientation signs
      // equal the integer-arithmetic signs the DuckDB oracle computes.
      // dx uses s*29 (≡ 8 mod 21) and dy uses s*73 (≡ 10 mod 21) —
      // DIFFERENT residue classes, so slopes genuinely vary (the old
      // 71 ≡ 29 mod 21 made every segment slope 1: zero crossings).
      val segs = t(s, d, "supplier").select(
        col("s_suppkey").as("seg_id"),
        (pmod(col("s_suppkey") * 37, lit(100)) / 4.0).as("x1"),
        (pmod(col("s_suppkey") * 53, lit(100)) / 4.0).as("y1"),
        ((pmod(col("s_suppkey") * 37, lit(100)) +
          pmod(col("s_suppkey") * 29, lit(21)) - 10) / 4.0).as("x2"),
        ((pmod(col("s_suppkey") * 53, lit(100)) +
          pmod(col("s_suppkey") * 73, lit(21)) - 10) / 4.0).as("y2"))
      operators.SegmentJoin.intersectionJoin(segs, level = 8).select("a", "b", "kind")
    }),
    "q_sweep_bo" -> ((s, d) => {
      // Same exact-quarter-integer derivation as q_segjoin but over a
      // deterministic slice of `orders` dense enough (>512 segments in
      // one level-2 cell at sf>=0.01) to engage the event-queue
      // Bentley-Ottmann path (Sweep.BoThreshold); below it the x-sweep
      // answers — both are gated to identical output, and the oracle is
      // the integer-orientation all-pairs SQL either way.
      val segs = t(s, d, "orders").filter(pmod(col("o_orderkey"), lit(23)) === 0)
        .select(
          col("o_orderkey").cast("long").as("seg_id"),
          (pmod(col("o_orderkey") * 37, lit(100)) / 4.0).as("x1"),
          (pmod(col("o_orderkey") * 53, lit(100)) / 4.0).as("y1"),
          ((pmod(col("o_orderkey") * 37, lit(100)) +
            pmod(col("o_orderkey") * 29, lit(21)) - 10) / 4.0).as("x2"),
          ((pmod(col("o_orderkey") * 53, lit(100)) +
            pmod(col("o_orderkey") * 73, lit(21)) - 10) / 4.0).as("y2"))
      operators.SegmentJoin.intersectionJoin(segs, level = 2).select("a", "b", "kind")
    }),
    "q_monotone_pip" -> ((s, d) => {
      // every customer probed against its own nation's 131-vertex comb
      // polygon — big enough to engage the y-slab edge index PIP
      // inside st_contains_xy (see combVertices for the
      // boundary-case-free construction)
      customerPoints(s, d)
        .join(combPolys(s, d), col("c_nationkey") === col("pid"))
        .select(col("c_custkey"),
          gf.st_contains_xy(col("geom"), col("px"), col("py")).as("inside"))
    }),
    "q_lof_media" -> ((s, d) => {
      // REAL-decoder LOF (hard oracle since round 5): payloads are
      // genuine P6/P3/BMP encodings, the engine parses them
      // (ImageCodecs — header tokens, comments, row padding,
      // bottom-up flip, BGR reorder), and LOF runs on the exact
      // integer channel sums of the DECODED pixels. The oracle never
      // sees bytes: it replays the closed-form pixel values
      // v(j) = (id·31 + j·7) mod 256 and the q_lof SQL tail, so a
      // match certifies the decode itself.
      val media = operators.Multimodal.syntheticImages(s, 200)
      val pts = operators.Multimodal.decodeImageStats(media)
        .select(col("media_id"), pmod(col("media_id"), lit(5L)).as("fmtk"),
          col("sum_r").cast("double").as("ix"), col("sum_b").cast("double").as("iy"))
      operators.Outliers.lofPerGroup(pts, "fmtk", "media_id", "ix", "iy", 5)
        .select(col("key"), col("id"), round(col("lof"), 4).as("lof"))
    }),
    "q_wav_decode" -> ((s, d) => {
      // Real RIFF/WAVE PCM decode end-to-end (the audio face of
      // q_img_decode): genuine WAV containers — chunk iteration with
      // LIST metadata to skip, 8-bit unsigned vs 16-bit signed
      // storage, interleaved channels — parsed by AudioCodecs, with
      // integer sample statistics the oracle replays from the
      // closed-form synthesis without touching a byte.
      val media = operators.Multimodal.syntheticAudio(s, 200)
      operators.Multimodal.decodeAudioStats(media)
    }),
    "q_img_decode" -> ((s, d) => {
      // Real image decode end-to-end: per-image header dimensions +
      // exact integer channel sums from the decoded pixels, across
      // all five container formats incl. PNG's deflate + defilter +
      // CRC path and GIF's palette + LZW path (see q_lof_media).
      val media = operators.Multimodal.syntheticImages(s, 200)
      operators.Multimodal.decodeImageStats(media)
        .select(col("media_id"),
          element_at(array(lit("p6"), lit("p3"), lit("bmp"), lit("png"), lit("gif")),
            (pmod(col("media_id"), lit(5L)) + 1).cast("int")).as("fmt"),
          col("width"), col("height"), col("sum_r"), col("sum_g"), col("sum_b"))
    }),
    "q_relate" -> ((s, d) => {
      val a = starPolys(s, d).select(col("pid").as("a_id"), col("geom").as("ga"))
      val b = starPolys(s, d).select(col("pid").as("b_id"), col("geom").as("gb"))
      a.crossJoin(b).filter(col("a_id") <= col("b_id"))
        .filter(gf.st_intersects(col("ga"), col("gb")))
        .select(col("a_id"), col("b_id"), gf.st_relate(col("ga"), col("gb")).as("de9im"))
    }),
    // --- hard-oracle micro-queries for operators that previously had
    // only unit-test coverage. Inputs are chosen binary-exact (offsets
    // that are multiples of 0.25/0.5, 3-4-5 segment lengths) so the
    // DuckDB oracle can mirror the kernel arithmetic op-for-op.
    "q_densify" -> ((s, d) => {
      val line = gf.st_geomfromtext(concat(
        lit("LINESTRING("), col("cx").cast("string"), lit(" "), col("cy").cast("string"),
        lit(","), (col("cx") + 3.0).cast("string"), lit(" "), (col("cy") + 4.0).cast("string"),
        lit(")")))
      nationCenters(s, d)
        .select(col("n_nationkey"),
          posexplode(gf.st_dumppoints(gf.st_densify(line, lit(1.0)))).as(Seq("idx", "p")))
        .select(col("n_nationkey"), col("idx"),
          gf.st_x(col("p")).as("x"), gf.st_y(col("p")).as("y"))
    }),
    "q_densify_rhumb" -> ((s, d) => {
      // rhumb densify of each nation's center→center+(3,4) leg. maxLen
      // is chosen as dist/3.5 so the split count is robustly 4 (ceil of
      // 3.5±ulp); the inserted points are rhumb point_at_ratio at
      // k/4, mirrored op-for-op by the oracle; the two endpoints pass
      // through raw (densify never re-projects original vertices).
      val start = gf.st_point(col("cx"), col("cy"))
      val end = gf.st_point(col("cx") + 3.0, col("cy") + 4.0)
      val line = gf.st_geomfromtext(concat(
        lit("LINESTRING("), col("cx").cast("string"), lit(" "), col("cy").cast("string"),
        lit(","), (col("cx") + 3.0).cast("string"), lit(" "), (col("cy") + 4.0).cast("string"),
        lit(")")))
      val maxLen = gf.st_distance_rhumb(start, end) / 3.5
      nationCenters(s, d)
        .select(col("n_nationkey"),
          posexplode(gf.st_dumppoints(gf.st_densify_rhumb(line, maxLen))).as(Seq("idx", "p")))
        .select(col("n_nationkey"), col("idx"),
          round(gf.st_x(col("p")), 5).as("x"), round(gf.st_y(col("p")), 5).as("y"))
    }),
    "q_densify_geodesic" -> ((s, d) => {
      // Karney densify on a fixed Paris→Berlin→(24,45) linestring at
      // maxLen 300 km (SF-independent golden; kernel-generated values,
      // gated by the KernelSpec property test: every split segment's
      // geodesic length ≤ maxLen and original vertices pass through).
      import s.implicits._
      Seq(1).toDF("one")
        .select(posexplode(gf.st_dumppoints(gf.st_densify_geodesic(
          gf.st_geomfromtext(
            lit("LINESTRING(2.3522 48.8566,13.405 52.52,24.0 45.0)")),
          lit(300000.0)))).as(Seq("idx", "p")))
        .select(col("idx"),
          round(gf.st_x(col("p")), 6).as("x"), round(gf.st_y(col("p")), 6).as("y"))
    }),
    "q_interp" -> ((s, d) => {
      val line = gf.st_geomfromtext(concat(
        lit("LINESTRING("), col("cx").cast("string"), lit(" "), col("cy").cast("string"),
        lit(","), (col("cx") + 3.0).cast("string"), lit(" "), (col("cy") + 4.0).cast("string"),
        lit(")")))
      val probe = gf.st_point(col("cx") + 2.0, col("cy") + 1.0)
      nationCenters(s, d).select(col("n_nationkey"),
        round(gf.st_x(gf.st_lineinterpolatepoint(line, lit(0.25))), 6).as("ix"),
        round(gf.st_y(gf.st_lineinterpolatepoint(line, lit(0.25))), 6).as("iy"),
        round(gf.st_x(gf.st_closestpoint(line, probe)), 6).as("qx"),
        round(gf.st_y(gf.st_closestpoint(line, probe)), 6).as("qy"),
        round(gf.st_linelocatepoint(line, probe), 6).as("t"),
        gf.st_numpoints(gf.st_lineinterpolatepoints(line, lit(0.25))).as("np"),
        round(gf.st_x(element_at(gf.st_dumppoints(
          gf.st_lineinterpolatepoints(line, lit(0.25))), 3)), 6).as("p3x"),
        round(gf.st_y(element_at(gf.st_dumppoints(
          gf.st_lineinterpolatepoints(line, lit(0.25))), 3)), 6).as("p3y"))
    }),
    "q_crosstrack" -> ((s, d) => {
      customerPoints(s, d)
        .join(nationCenters(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"),
          round(gf.st_crosstrack(gf.st_point(col("px"), col("py")),
            gf.st_point(col("cx"), col("cy")),
            gf.st_point(col("cx") + 5.0, col("cy") + 5.0))).cast("long").as("xtrack_m"))
    }),
    "q_sphere_area" -> ((s, d) => {
      starPolys(s, d).select(col("pid"),
        round(abs(gf.st_sphere_area(col("geom"))) / 1000000.0, 3).as("area_km2"))
    }),
    "q_affine" -> ((s, d) => {
      val line = gf.st_geomfromtext(concat(
        lit("LINESTRING("), col("cx").cast("string"), lit(" "), col("cy").cast("string"),
        lit(","), (col("cx") + 4.0).cast("string"), lit(" "), (col("cy") + 2.0).cast("string"),
        lit(")")))
      def p2x(g: Column) = gf.st_x(element_at(gf.st_dumppoints(g), 2))
      def p2y(g: Column) = gf.st_y(element_at(gf.st_dumppoints(g), 2))
      nationCenters(s, d).select(col("n_nationkey"),
        round(p2x(gf.st_rotate(line, lit(30.0))), 6).as("rx"),
        round(p2y(gf.st_rotate(line, lit(30.0))), 6).as("ry"),
        round(p2x(gf.st_scale(line, lit(2.0), lit(3.0))), 6).as("sx"),
        round(p2y(gf.st_scale(line, lit(2.0), lit(3.0))), 6).as("sy"),
        round(p2x(gf.st_translate(line, lit(5.25), lit(-7.5))), 6).as("tx"),
        round(p2y(gf.st_translate(line, lit(5.25), lit(-7.5))), 6).as("ty"),
        round(p2x(gf.st_skew(line, lit(10.0), lit(5.0))), 6).as("kx"),
        round(p2y(gf.st_skew(line, lit(10.0), lit(5.0))), 6).as("ky"))
    }),
    "q_chaikin" -> ((s, d) => {
      val zig = gf.st_geomfromtext(concat(
        lit("LINESTRING("), col("cx").cast("string"), lit(" "), col("cy").cast("string"),
        lit(","), (col("cx") + 8.0).cast("string"), lit(" "), (col("cy") + 2.0).cast("string"),
        lit(","), (col("cx") + 16.0).cast("string"), lit(" "), col("cy").cast("string"),
        lit(")")))
      nationCenters(s, d)
        .select(col("n_nationkey"),
          posexplode(gf.st_dumppoints(gf.st_chaikin(zig, lit(1)))).as(Seq("idx", "p")))
        .select(col("n_nationkey"), col("idx"),
          gf.st_x(col("p")).as("x"), gf.st_y(col("p")).as("y"))
    }),
    "q_lengths" -> ((s, d) => {
      val line = gf.st_geomfromtext(concat(
        lit("LINESTRING("), col("cx").cast("string"), lit(" "), col("cy").cast("string"),
        lit(","), (col("cx") + 3.0).cast("string"), lit(" "), (col("cy") + 4.0).cast("string"),
        lit(")")))
      val dense = gf.st_densify(line, lit(1.0))
      nationCenters(s, d).select(col("n_nationkey"),
        round(gf.st_length(dense), 6).as("len_planar"),
        round(gf.st_length_sphere(dense), 3).as("len_sphere_m"))
    }),
    "q_hausdorff" -> ((s, d) => {
      val la = gf.st_geomfromtext(concat(
        lit("LINESTRING("), col("cx").cast("string"), lit(" "), col("cy").cast("string"),
        lit(","), (col("cx") + 3.0).cast("string"), lit(" "), (col("cy") + 4.0).cast("string"),
        lit(","), (col("cx") + 6.0).cast("string"), lit(" "), col("cy").cast("string"),
        lit(")")))
      val lb = gf.st_geomfromtext(concat(
        lit("LINESTRING("), (col("cx") + 1.0).cast("string"), lit(" "), (col("cy") + 1.0).cast("string"),
        lit(","), (col("cx") + 2.0).cast("string"), lit(" "), (col("cy") + 3.0).cast("string"),
        lit(","), (col("cx") + 5.0).cast("string"), lit(" "), (col("cy") + 1.0).cast("string"),
        lit(")")))
      val fa = gf.st_geomfromtext(concat(
        lit("LINESTRING("), col("cx").cast("string"), lit(" "), col("cy").cast("string"),
        lit(","), (col("cx") + 3.0).cast("string"), lit(" "), (col("cy") + 4.0).cast("string"),
        lit(")")))
      val fb = gf.st_geomfromtext(concat(
        lit("LINESTRING("), (col("cx") + 1.0).cast("string"), lit(" "), (col("cy") + 1.0).cast("string"),
        lit(","), (col("cx") + 5.0).cast("string"), lit(" "), (col("cy") + 2.0).cast("string"),
        lit(")")))
      nationCenters(s, d).select(col("n_nationkey"),
        round(gf.st_hausdorff(la, lb), 6).as("hausdorff"),
        round(gf.st_frechet(fa, fb), 6).as("frechet"))
    }),
    "q_extremes" -> ((s, d) => {
      starPolys(s, d).select(col("pid"), gf.st_extremes(col("geom")).as("e"))
        .select(col("pid"),
          col("e.xmin_idx").as("xmin_idx"), col("e.xmin").as("xmin"),
          col("e.ymin_idx").as("ymin_idx"), col("e.ymin").as("ymin"),
          col("e.xmax_idx").as("xmax_idx"), col("e.xmax").as("xmax"),
          col("e.ymax_idx").as("ymax_idx"), col("e.ymax").as("ymax"))
    }),
    "q_cellops" -> ((s, d) => {
      val cell = gf.st_cellid(lit(12), col("px"), col("py"))
      val par = gf.st_cell_parent(cell, lit(5))
      val b = gf.st_cell_bounds(par)
      customerPoints(s, d).select(col("c_custkey"),
        par.as("parent"),
        gf.st_cell_level(par).as("plevel"),
        gf.st_cell_x(par).as("pcx"),
        gf.st_cell_y(par).as("pcy"),
        gf.st_xmin(b).as("bxmin"), gf.st_ymin(b).as("bymin"),
        gf.st_xmax(b).as("bxmax"), gf.st_ymax(b).as("bymax"))
    }),
    "q_cellcompact" -> ((s, d) => {
      // covering compaction (H3 compactCells / S2 Normalize shape):
      // per nation, 19 level-6 cells — the complete 16-cell quad of a
      // level-4 cell plus 3 stragglers whose parents never complete —
      // must compact to exactly {1 level-4 cell, 3 singles}, and
      // uncompacting the result back to level 6 must restore all 19.
      // Cells are built through st_cellid on cell-centre coordinates,
      // so the query exercises id construction, compact and uncompact;
      // the oracle recomputes the expected ids from the Morton layout
      // (bit b of x -> 4^b, y doubled, level << 58) from first
      // principles.
      val nn = t(s, d, "nation").select(col("n_nationkey").as("pid"))
        .withColumn("cx4", (pmod(col("pid") * 7, lit(12)) + 1).cast("long"))
        .withColumn("cy4", (pmod(col("pid") * 5, lit(12)) + 1).cast("long"))
      val withCells = nn.withColumn("cells",
        transform(sequence(lit(0), lit(18)), i => {
          val j = (i - 16).cast("long")
          val x6 = when(i < 16, col("cx4") * 4 + pmod(i, lit(4)).cast("long"))
            .otherwise(pmod(col("cx4") + 3 + j, lit(14L)) * 4 + j)
          val y6 = when(i < 16, col("cy4") * 4 + floor(i / 4).cast("long"))
            .otherwise(pmod(col("cy4") + 5 + j, lit(14L)) * 4 + 2)
          gf.st_cellid(lit(6), (x6 + 0.5) / 64.0 * 360.0 - 180.0,
            lit(90.0) - (y6 + 0.5) / 64.0 * 180.0)
        }))
      withCells.withColumn("compacted", gf.st_cell_compact(col("cells")))
        .select(col("pid"), explode(col("compacted")).as("cell"),
          size(gf.st_cell_uncompact(col("compacted"), lit(6))).as("n_leaves"))
    }),
    "q_tiles" -> ((s, d) => {
      // tiling + raster over the synthesized corpus
      val pages = graft.pipeline.WebCorpus.pages(s, 2000)
      val ents = graft.pipeline.WebCorpus.extractEntities(pages)
      SpatialJoins.rasterize(ents, "lon", "lat", level = 4)
    }),
    // --- round-3 tail: hard driver rows for operators that previously
    // had only unit-test coverage.
    "q_interiorpoint" -> ((s, d) => {
      // U-shaped polygon whose centroid lands inside the notch (i.e.
      // OUTSIDE the polygon), forcing st_interiorpoint down the
      // widest-scanline path (interior_point.rs): scanline y = cy + 4
      // (bbox mid; no vertex ordinate equals it, so no perturbation),
      // crossings at cx + {0, 3, 7, 11}; the widest candidate (3,7)
      // midpoint falls in the notch (outside), so the next widest
      // (7,11) wins → interior point (cx + 9, cy + 4) — exact doubles.
      def p(dx: Double, dy: Double) = concat(
        (col("cx") + dx).cast("string"), lit(" "), (col("cy") + dy).cast("string"))
      val u = gf.st_geomfromtext(concat(lit("POLYGON(("),
        concat_ws(",", p(0, 0), p(11, 0), p(11, 8), p(7, 8), p(7, 3),
          p(3, 3), p(3, 8), p(0, 8), p(0, 0)), lit("))")))
      nationCenters(s, d).select(col("n_nationkey"),
        round(gf.st_x(gf.st_interiorpoint(u)), 6).as("ipx"),
        round(gf.st_y(gf.st_interiorpoint(u)), 6).as("ipy"),
        gf.st_contains_xy(u, gf.st_x(gf.st_interiorpoint(u)),
          gf.st_y(gf.st_interiorpoint(u))).as("strictly_inside"))
    }),
    "q_orient" -> ((s, d) => {
      val g = col("geom")
      starPolys(s, d).select(col("pid"),
        gf.st_windingorder(gf.st_force_cw(g)).as("w_cw"),
        gf.st_windingorder(gf.st_force_ccw(g)).as("w_ccw"),
        gf.st_numpoints(gf.st_force_cw(g)).as("cw_pts"),
        (gf.st_astext(gf.st_force_ccw(gf.st_force_ccw(g))) ===
          gf.st_astext(gf.st_force_ccw(g))).as("idempotent"))
    }),
    "q_hcp" -> ((s, d) => {
      // HaversineClosestPoint against a MULTIPOINT is the nearest
      // vertex under great-circle distance (first wins ties), which
      // the SQL oracle reproduces with the same haversine formula.
      val mp = gf.st_geomfromtext(concat(lit("MULTIPOINT("),
        col("cx").cast("string"), lit(" "), col("cy").cast("string"), lit(","),
        (col("cx") + 3.0).cast("string"), lit(" "), (col("cy") + 1.0).cast("string"), lit(","),
        (col("cx") + 1.0).cast("string"), lit(" "), (col("cy") + 4.0).cast("string"), lit(")")))
      val hcp = gf.st_closestpoint_sphere(mp, gf.st_point(col("px"), col("py")))
      customerPoints(s, d)
        .join(nationCenters(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"),
          round(gf.st_x(hcp), 6).as("hx"),
          round(gf.st_y(hcp), 6).as("hy"))
    }),
    "q_angleunits" -> ((s, d) => {
      val pt = gf.st_point(col("cx"), col("cy"))
      nationCenters(s, d).select(col("n_nationkey"),
        round(gf.st_x(gf.st_toradians(pt)), 9).as("rx"),
        round(gf.st_y(gf.st_toradians(pt)), 9).as("ry"),
        (abs(gf.st_x(gf.st_todegrees(gf.st_toradians(pt))) - col("cx")) < lit(1e-9) &&
          abs(gf.st_y(gf.st_todegrees(gf.st_toradians(pt))) - col("cy")) < lit(1e-9))
          .as("roundtrip_ok"))
    }),
    "q_removerepeated" -> ((s, d) => {
      def p(dx: Double, dy: Double) = concat(
        (col("cx") + dx).cast("string"), lit(" "), (col("cy") + dy).cast("string"))
      val ls = gf.st_geomfromtext(concat(lit("LINESTRING("),
        concat_ws(",", p(0, 0), p(0, 0), p(1, 1), p(1, 1), p(2, 0)), lit(")")))
      nationCenters(s, d).select(col("n_nationkey"),
        gf.st_numpoints(ls).as("raw_pts"),
        gf.st_numpoints(gf.st_removerepeated(ls)).as("rr_pts"))
    }),
    "q_knnconcave" -> ((s, d) => {
      // Moreira-Santos kNN concave hull property gate (same shape as
      // q_concave_check): every point inside the closed hull, hull
      // area never above the convex hull's.
      val pts = customerPoints(s, d)
      val hulls = pts.groupBy(col("c_nationkey"))
        .agg(gf.st_collect_agg(gf.st_point(col("px"), col("py"))).as("mp"))
        .select(col("c_nationkey"),
          gf.st_knnconcavehull(col("mp"), lit(3)).as("kh"),
          gf.st_convexhull(col("mp")).as("cvx"))
      pts.join(hulls, "c_nationkey")
        .groupBy(col("c_nationkey"))
        .agg(
          min(gf.st_intersects_xy(col("kh"), col("px"), col("py")).cast("int")).as("__allin"),
          min((gf.st_unsigned_area(col("kh")) <=
            gf.st_unsigned_area(col("cvx")) + 1e-9).cast("int")).as("__areaok"))
        .select(col("c_nationkey"),
          (col("__allin") === 1).as("all_inside"),
          (col("__areaok") === 1).as("area_ok"))
    }),
    "q_geodesic_gold" -> ((s, d) => {
      // Karney inverse on fixed test vectors. Gold provenance
      // (GeoGoldGen): values cross-verified < 1 mm against the
      // independent Vincenty solver; case 0 equals the reference's
      // published doc value (geodesic.rs:122 — NYC→London 5_585_234).
      import s.implicits._
      val cases = Seq(
        (0, -74.006, 40.7128, -0.1278, 51.5074),
        (1, 0.0, 0.0, 1.0, 0.0),
        (2, 0.0, 0.0, 0.0, 1.0),
        (3, 2.3522, 48.8566, 13.405, 52.52),
        (4, 151.2093, -33.8688, -70.6693, -33.4489),
        (5, 0.0, 0.0, 179.5, 0.5),
        (6, 0.0, 89.0, 180.0, 89.0),
        (7, 10.0, 70.0, 30.0, -70.0),
        (8, 139.6917, 35.6895, -122.4194, 37.7749),
        (9, 0.0, -30.0, 0.25, -30.25)).toDF("case_id", "x1", "y1", "x2", "y2")
      cases.select(col("case_id"),
        round(gf.st_distance_geodesic(gf.st_point(col("x1"), col("y1")),
          gf.st_point(col("x2"), col("y2")))).cast("long").as("dist_m"))
    }),
    "q_geodesic_area_gold" -> ((s, d) => {
      // Exact ellipsoidal area on the reference's published doc-test
      // polygons (geodesic_area.rs: O2 arena 78_596 m², the Australia
      // ring ±7_786_102_826_806, CW-unsigned = earth − |signed|).
      import s.implicits._
      val o2 = "POLYGON((0.00388383 51.501574,0.00538587 51.502278," +
        "0.00553607 51.503299,0.00467777 51.504181,0.00327229 51.504435," +
        "0.00187754 51.504168,0.00087976 51.503380,0.00107288 51.502324," +
        "0.00185608 51.501770,0.00388383 51.501574))"
      val ausCcw = "POLYGON((125 -15,113 -22,117 -37,130 -33,148 -39,154 -27,144 -15,125 -15))"
      val ausCw = "POLYGON((125 -15,144 -15,154 -27,148 -39,130 -33,117 -37,113 -22,125 -15))"
      val polys = Seq((0, o2), (1, ausCcw), (2, ausCw)).toDF("poly_id", "wkt")
      polys.select(col("poly_id"),
        round(gf.st_geodesic_area(gf.st_geomfromtext(col("wkt")))).cast("long").as("signed_m2"),
        round(gf.st_geodesic_area_unsigned(gf.st_geomfromtext(col("wkt")))).cast("long").as("unsigned_m2"))
    }),
    "q_gc_centroid" -> ((s, d) => {
      // GeometryCollection centroid (st_collection_centroid — the JTS
      // additive highest-dimension rule): two axis-aligned squares
      // (areas 4 and 16), a line and a point per nation; the 2-D parts
      // dominate, so centroid_x = (4*cx + 16*(cx+10))/20 = cx + 8 and
      // centroid_y = cy, closed-form in the oracle; the line/point
      // parts verify that lower dimensions are ignored
      val n = nationCenters(s, d)
      def sq(cx: Column, cy: Column, h: Double): Column = gf.st_geomfromtext(concat(
        lit("POLYGON(("),
        (cx - h).cast("string"), lit(" "), (cy - h).cast("string"), lit(","),
        (cx + h).cast("string"), lit(" "), (cy - h).cast("string"), lit(","),
        (cx + h).cast("string"), lit(" "), (cy + h).cast("string"), lit(","),
        (cx - h).cast("string"), lit(" "), (cy + h).cast("string"), lit("))")))
      val line = gf.st_geomfromtext(concat(
        lit("LINESTRING("), (col("cx") + 100).cast("string"), lit(" 0,"),
        (col("cx") + 140).cast("string"), lit(" 0)")))
      val pt = gf.st_point(col("cx") - lit(500.0), col("cy"))
      val c = gf.st_collection_centroid(array(
        sq(col("cx"), col("cy"), 1.0), sq(col("cx") + 10, col("cy"), 2.0), line, pt))
      n.select(col("n_nationkey"),
        round(gf.st_x(c), 6).as("gc_cx"),
        round(gf.st_y(c), 6).as("gc_cy"))
    }),
    "q_collection" -> ((s, d) => {
      // GEOMETRYCOLLECTION surface (SURVEY §1.2: collections map to
      // array<geom>): build [star, envelope, centroid] per nation,
      // round-trip the array through GEOMETRYCOLLECTION WKT text
      // (writer emits shortest-round-trip doubles, so the text hop is
      // bit-exact), then posexplode and measure each part. The oracle
      // recomputes every part measure from first principles.
      val parts = starPolys(s, d).select(col("pid"),
        gf.st_collection_fromtext(gf.st_collection_astext(array(
          col("geom"), gf.st_envelope(col("geom")), gf.st_centroid(col("geom"))))).as("parts"))
      parts.select(col("pid"), posexplode(col("parts")).as(Seq("part", "g")))
        .select(col("pid"), col("part"),
          gf.st_geometrytype(col("g")).as("gtype"),
          round(gf.st_area(col("g")), 6).as("area"),
          gf.st_numpoints(col("g")).as("npts"))
    }),
    "q_dbscan" -> ((s, d) => {
      // DBSCAN over the exact customer lattice: eps=5 (squared
      // compare — eps² = 25 and all squared lattice distances are
      // exact multiples of 0.0025, so the radius has no float
      // borderline), minPts=3 with the PostGIS include-self
      // convention, level-5 cells (edge 5.625 >= eps, one neighbour
      // ring covers the radius). Cluster label = MIN core key of the
      // component; border points take the smallest eps-adjacent core
      // cluster; noise stays null. The oracle recomputes everything
      // from first principles: pairs by cross-join filter, cores by
      // count, core merging by a recursive-CTE transitive closure.
      val cust = customerPoints(s, d)
      Clustering.dbscan(cust, "c_custkey", "px", "py",
          eps = 5.0, minPts = 3, level = 5)
        .select(col("c_custkey"), col("cluster"), col("is_core"))
    }),
    "q_cluster_within" -> ((s, d) => {
      // Single-linkage ST_ClusterWithin at d=5: components of the
      // "distance <= 5" graph, every customer labeled with the
      // smallest member key of its cluster (singletons label
      // themselves). Same exact-lattice radius argument as q_dbscan.
      val cust = customerPoints(s, d)
      Clustering.clusterWithin(cust, "c_custkey", "px", "py", d = 5.0, level = 5)
        .select(col("c_custkey"), col("cluster"))
    }),
    "q_kmeans" -> ((s, d) => {
      // Deterministic Lloyd k-means (k=4, 2 update rounds + a final
      // assignment): seeds are the 4 smallest custkeys' points;
      // centroid means are computed in scaled-integer space (exact
      // long sums — order-independent, so the result is identical at
      // any parallelism) and every argmin tie breaks to the lowest
      // centroid index. The oracle unrolls the two Lloyd rounds as
      // chained CTEs with the identical double op order.
      val cust = customerPoints(s, d)
      Clustering.clusterKMeans(cust, "c_custkey", "px", "py", k = 4, iterations = 2)
        .select(col("c_custkey"), col("cluster"))
    }),
    "q_cluster_intersecting" -> ((s, d) => {
      // ST_ClusterIntersecting over the star ENVELOPES: candidate
      // pairs from a bbox-cell equi-join (reference-point
      // exactly-once rule), refined through the full relate kernel,
      // merged by connected components. Envelope coordinates are
      // exact, so the oracle's interval-overlap test reproduces the
      // intersects graph bit-for-bit.
      val env = starPolys(s, d).select(col("pid"),
        gf.st_envelope(col("geom")).as("genv"))
      Clustering.clusterIntersecting(env, "pid", "genv", level = 4)
        .select(col("pid").cast("int").as("pid"), col("cluster").cast("int").as("cluster"))
    }),
    "q_span_dedup" -> ((s, d) => {
      // C4-style span-level dedup over the doubled corpus: 20-word
      // non-overlapping chunks, first occurrence (by key, then chunk
      // index) wins, survivors reassemble in order. The doubled copies
      // lose every chunk; the template-generated originals also lose
      // their intra-corpus repeats. The oracle recomputes chunking,
      // the first-occurrence window, and the ordered reassembly from
      // first principles.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val doubled = docs.union(docs.select(col("doc_id") + 1000000L, col("text")))
      TrainingData.dedupSpans(doubled, "doc_id", "text", span = 20)
        .select(col("doc_id"), col("clean_text"), col("n_kept"), col("n_chunks"))
    }),
    "q_decontam" -> ((s, d) => {
      // Benchmark decontamination: docs with doc_id % 7 == 0 play the
      // eval set; every remaining training doc is flagged when it
      // shares any normalized 8-gram with the eval set. Flag, not
      // drop — stable row count, auditable.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 7 === 0)
      val train = docs.filter(col("doc_id") % 7 =!= 0)
      TrainingData.decontaminate(train, "doc_id", "text", bench, "text", n = 8)
        .select(col("doc_id"), col("contaminated"))
    }),
    "q_normalize" -> ((s, d) => {
      // Canonical form (JTS normalize semantics): ring scrolled to its
      // minimum vertex, exterior forced CLOCKWISE. Normalization only
      // REORDERS the exact star coordinates, so the oracle can name
      // the expected first two vertices by derivation: vertex 0 is the
      // (x,y)-minimum; vertex 1 is the ring-order next vertex for the
      // originally-CW odd nations and the ring-order previous for the
      // originally-CCW even ones. Idempotency is pinned via the WKT of
      // a double application.
      val sp = starPolys(s, d)
      val n1 = gf.st_normalize(col("geom"))
      sp.select(col("pid"),
        round(gf.st_x(element_at(gf.st_dumppoints(n1), 1)), 9).as("nx0"),
        round(gf.st_y(element_at(gf.st_dumppoints(n1), 1)), 9).as("ny0"),
        round(gf.st_x(element_at(gf.st_dumppoints(n1), 2)), 9).as("nx1"),
        round(gf.st_y(element_at(gf.st_dumppoints(n1), 2)), 9).as("ny1"),
        gf.st_numpoints(n1).as("npts"),
        gf.st_isccw(n1).as("is_ccw"),
        (gf.st_astext(gf.st_normalize(n1)) === gf.st_astext(n1)).as("idem"))
    }),
    "q_zonal" -> ((s, d) => {
      // Zonal statistics (raster↔vector reduction): rasterize the
      // customer lattice to level-6 per-cell counts, aggregate over
      // the star-polygon zones by the cell-CENTER rule. Level-6 cell
      // centers are exact dyadic rationals (odd multiples of 2.8125
      // offset from ±180/90), so the oracle reproduces them
      // bit-for-bit from the integer cell coords and classifies them
      // with the same ray-cast used by q_pip_join.
      val raster = SpatialJoins.rasterize(customerPoints(s, d), "px", "py", level = 6)
      val zones = starPolys(s, d)
      SpatialJoins.zonalStats(raster, "cell", "n", zones, "pid", "geom", level = 6)
        .select(col("pid"), col("n_cells"), col("total"),
          round(col("mean"), 9).as("mean"))
    }),
    "q_tfidf" -> ((s, d) => {
      // TF-IDF top-3 terms per doc. The rank is integer-deterministic
      // (tf desc, df asc, term asc) — the float score is reporting
      // only, so a last-ulp ln() divergence between engines can never
      // change the selected rows.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      TrainingData.tfIdf(docs, "doc_id", "text", k = 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf"), col("rank"))
    }),
    "q_azimuth" -> ((s, d) => {
      // PostGIS ST_Azimuth (planar clockwise-from-north radians) from
      // every customer point to its own nation's centre. The sign of
      // atan2 is decided by dx, computed identically in both engines
      // from exact inputs, so the [0,2π) wrap can never disagree;
      // coincident pairs are NULL on both sides.
      val cust = customerPoints(s, d)
      val nat = nationCenters(s, d).select(col("n_nationkey"), col("cx"), col("cy"))
      cust.join(nat, cust("c_nationkey") === nat("n_nationkey"))
        .select(col("c_custkey"), col("n_nationkey"),
          round(gf.st_azimuth(gf.st_point(col("px"), col("py")),
            gf.st_point(col("cx"), col("cy"))), 9).as("az"))
    }),
    "q_sample" -> ((s, d) => {
      // Deterministic per-language quota sampling: 30 docs per lang by
      // smallest Lehmer hash of the key — the language-balancing step
      // of a corpus pipeline, reproducible at any parallelism and
      // mirrorable in plain integer SQL.
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"))
      TrainingData.stratifiedSample(docs, "lang", "doc_id", perStratum = 30)
        .select(col("doc_id"), col("lang"), col("samp_rank"))
    }),
    "q_geojson" -> ((s, d) => {
      // GeoJSON interop: the emitted RFC 7946 string is rebuilt
      // byte-for-byte in SQL (both engines print shortest-round-trip
      // doubles; the integral-value special case takes the same
      // branch on identical doubles), and the parse→write roundtrip
      // must reproduce the WKT exactly.
      val sp = starPolys(s, d)
      sp.select(col("pid"),
        gf.st_asgeojson(col("geom")).as("gj"),
        (gf.st_astext(gf.st_geomfromgeojson(gf.st_asgeojson(col("geom")))) ===
          gf.st_astext(col("geom"))).as("roundtrip"))
    }),
    "q_accessors" -> ((s, d) => {
      // PostGIS accessor family over a hole-carrying polygon (the star
      // envelope with the 1-degree-inset envelope as a hole — every
      // coordinate an exact double both engines rebuild identically):
      // exterior/interior ring extraction, 1-based and negative
      // st_pointn, start/end closure, ring dump, geometryn identity,
      // and the farthest-pair st_maxdistance between the two rings.
      import s.implicits._
      val keys = t(s, d, "nation").select("n_nationkey").collect().map(_.getInt(0)).sorted
      val rows = keys.toSeq.map { i =>
        val vs = starVertices(i)
        val xmin = vs.map(_._1).min; val xmax = vs.map(_._1).max
        val ymin = vs.map(_._2).min; val ymax = vs.map(_._2).max
        def ring(x0: Double, y0: Double, x1: Double, y1: Double) =
          s"$x0 $y0,$x1 $y0,$x1 $y1,$x0 $y1,$x0 $y0"
        (i, s"POLYGON((${ring(xmin, ymin, xmax, ymax)})," +
          s"(${ring(xmin + 1, ymin + 1, xmax - 1, ymax - 1)}))")
      }.toDF("pid", "wkt")
      val g = gf.st_geomfromtext(col("wkt"))
      val ext = gf.st_exteriorring(g)
      val hole = gf.st_interiorringn(g, lit(1))
      rows.select(col("pid"),
        gf.st_numinteriorrings(g).as("n_holes"),
        gf.st_numpoints(ext).as("ext_npts"),
        round(gf.st_x(gf.st_pointn(ext, lit(2))), 9).as("p2x"),
        round(gf.st_y(gf.st_pointn(ext, lit(2))), 9).as("p2y"),
        round(gf.st_x(gf.st_pointn(hole, lit(1))), 9).as("h1x"),
        round(gf.st_y(gf.st_pointn(hole, lit(1))), 9).as("h1y"),
        (gf.st_astext(gf.st_startpoint(ext)) ===
          gf.st_astext(gf.st_endpoint(ext))).as("closed"),
        (gf.st_astext(gf.st_pointn(ext, lit(-1))) ===
          gf.st_astext(gf.st_pointn(ext, lit(5)))).as("neg_idx"),
        size(gf.st_dumprings(g)).as("n_rings"),
        (gf.st_astext(gf.st_geometryn(g, lit(1))) === gf.st_astext(g)).as("self_n1"),
        round(gf.st_maxdistance(ext, hole), 9).as("maxd"))
    }),
    "q_makeline" -> ((s, d) => {
      // ST_MakeLine as an ordered aggregate: each nation's customer
      // points in custkey order become one trajectory LineString.
      // Length rounds to 6 decimals (the oracle's SUM may reorder the
      // float additions; the 1e-10 reorder bound cannot flip 6dp).
      val cust = customerPoints(s, d)
      val pts = cust.select(col("c_nationkey"), col("c_custkey"),
        gf.st_point(col("px"), col("py")).as("p"))
      pts.groupBy(col("c_nationkey"))
        .agg(collect_list(struct(col("c_custkey"), col("p"))).as("cp"))
        .select(col("c_nationkey"),
          gf.st_makeline(expr("transform(array_sort(cp), s -> s.p)")).as("line"))
        .select(col("c_nationkey"),
          gf.st_numpoints(col("line")).as("npts"),
          round(gf.st_length(col("line")), 6).as("len"),
          round(gf.st_x(gf.st_startpoint(col("line"))), 9).as("sx"),
          round(gf.st_y(gf.st_startpoint(col("line"))), 9).as("sy"),
          round(gf.st_x(gf.st_endpoint(col("line"))), 9).as("ex"),
          round(gf.st_y(gf.st_endpoint(col("line"))), 9).as("ey"))
    }),
    "q_angle_expand" -> ((s, d) => {
      // ST_Angle at star vertex 1 between vertices 0 and 2 (clockwise
      // from ray P1→P0 to ray P1→P2) and ST_Expand(star, 2) bounds —
      // both mirrored formula-for-formula in the oracle.
      val sp = starPolys(s, d)
      val pts = gf.st_dumppoints(col("geom"))
      sp.select(col("pid"),
        round(gf.st_angle(element_at(pts, 1), element_at(pts, 2),
          element_at(pts, 3)), 9).as("ang"),
        round(gf.st_xmin(gf.st_expand(col("geom"), lit(2.0))), 9).as("ex0"),
        round(gf.st_ymax(gf.st_expand(col("geom"), lit(2.0))), 9).as("ey1"))
    }),
    "q_frames" -> ((s, d) => {
      // Multimodal plumbing, hash-exact (first green row for the
      // module — the stub-codec boundary stays rows-only in
      // q_lof_media, but the schema/metadata/frame-sampling path is
      // fully oracle-able): the synthetic media corpus's payload is
      // sha2(id)-derived bytes DuckDB reproduces with its own sha256,
      // and frame offsets are pure column arithmetic on the typed
      // metadata.
      val media = operators.Multimodal.syntheticMedia(s, 200)
      operators.Multimodal.sampleFrames(media, n = 4)
        .select(col("media_id"), col("frame_offset"),
          md5(col("payload")).as("payload_md5"))
    }),
    "q_incremental" -> ((s, d) => {
      // Incremental crawl dedup against a persistent index: the index
      // is every doc_id % 5 == 0 document; the "new snapshot" is the
      // whole corpus shifted by 1e6 (so each indexed doc's copy dups
      // at J=1 and the template-generated rest near-dups at J >= 0.9).
      // The output is candidate-scheme-independent at threshold 0.9
      // (same LSH-recall argument as q_minhash_pairs), so the oracle
      // recomputes the best index match per new doc from first
      // principles.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val idxDocs = docs.filter(col("doc_id") % 5 === 0)
      val newDocs = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val bands = TrainingData.minhashBands(idxDocs, "doc_id", "text")
      val sets = TrainingData.shingleSets(idxDocs, "doc_id", "text")
      TrainingData.dedupIncremental(newDocs, "doc_id", "text", bands, sets,
          threshold = 0.9)
        .select(col("doc_id"), col("dup_of"), round(col("jaccard"), 9).as("jaccard"))
    }),
    "q_editing" -> ((s, d) => {
      // Line-editing family (PostGIS 0-based contracts): append via
      // st_addpoint(pos=-1), head replacement via st_setpoint(0),
      // interior removal via st_removepoint(1) — all over an exact
      // 3-point line per nation, every output a closed-form constant
      // of the nation centre.
      val nat = nationCenters(s, d)
      val line = gf.st_makeline(array(
        gf.st_point(col("cx"), col("cy")),
        gf.st_point(col("cx") + 1.0, col("cy") + 1.0),
        gf.st_point(col("cx") + 2.0, col("cy"))))
      val added = gf.st_addpoint(line, gf.st_point(col("cx") + 3.0, col("cy") - 1.0), lit(-1))
      val set = gf.st_setpoint(line, lit(0), gf.st_point(col("cx") - 1.0, col("cy")))
      val removed = gf.st_removepoint(line, lit(1))
      nat.select(col("n_nationkey"),
        gf.st_numpoints(added).as("add_npts"),
        round(gf.st_x(gf.st_endpoint(added)), 9).as("add_ex"),
        round(gf.st_y(gf.st_endpoint(added)), 9).as("add_ey"),
        round(gf.st_x(gf.st_startpoint(set)), 9).as("set_sx"),
        gf.st_numpoints(removed).as("rm_npts"),
        round(gf.st_x(gf.st_pointn(removed, lit(2))), 9).as("rm_x2"),
        gf.st_removepoint(removed, lit(0)).isNull.as("rm_guard"))
    }),
    "q_geomedit" -> ((s, d) => {
      // Editor/accessor wave: flip, isclosed/isring/issimple, multi
      // promotion, vertex dump, bounding diagonal, ring scroll,
      // antimeridian longitude shift — every output a closed-form
      // constant of the nation centre.
      val nat = nationCenters(s, d)
      def pt(dx: Double, dy: Double) =
        gf.st_point(col("cx") + dx, col("cy") + dy)
      val line = gf.st_makeline(array(pt(0, 0), pt(1, 1), pt(2, 0)))
      val ring = gf.st_makeline(array(pt(0, 0), pt(4, 0), pt(4, 4), pt(0, 4), pt(0, 0)))
      val bow = gf.st_makeline(array(pt(0, 0), pt(2, 0), pt(0, 2), pt(2, 2), pt(0, 0)))
      val sq = gf.st_rect(col("cx"), col("cy"), col("cx") + 4.0, col("cy") + 4.0)
      nat.select(col("n_nationkey"),
        round(gf.st_x(gf.st_startpoint(gf.st_flipcoordinates(line))), 9).as("flip_sx"),
        gf.st_isclosed(line).as("closed_open"),
        gf.st_isclosed(ring).as("closed_ring"),
        gf.st_isring(ring).as("ring_ok"),
        gf.st_isring(bow).as("ring_bow"),
        gf.st_issimple(line).as("simple_line"),
        gf.st_geometrytype(gf.st_multi(pt(0, 0))).as("multi_pt_type"),
        gf.st_geometrytype(gf.st_multi(sq)).as("multi_pg_type"),
        gf.st_numparts(gf.st_multi(sq)).as("multi_parts"),
        gf.st_numpoints(gf.st_points(sq)).as("points_n"),
        round(gf.st_x(gf.st_startpoint(gf.st_boundingdiagonal(line))), 9).as("diag_sx"),
        round(gf.st_y(gf.st_endpoint(gf.st_boundingdiagonal(line))), 9).as("diag_ey"),
        round(gf.st_x(gf.st_startpoint(gf.st_scroll(ring, pt(4, 0)))), 9).as("scroll_sx"),
        gf.st_numpoints(gf.st_scroll(ring, pt(4, 0))).as("scroll_n"),
        gf.st_scroll(line, pt(0, 0)).isNull.as("scroll_open_guard"),
        round(gf.st_x(gf.st_shift_longitude(pt(0, 0))), 9).as("shift_x"))
    }),
    "q_mbc" -> ((s, d) => {
      // Minimum enclosing circle: a diameter-determined set (two
      // extremes + an interior point → center the midpoint, radius
      // exactly 3) and a circumcircle-determined right triangle
      // (→ center (cx+2, cy+2), radius sqrt(8)) — all closed-form.
      val nat = nationCenters(s, d)
      def pt(dx: Double, dy: Double) =
        gf.st_point(col("cx") + dx, col("cy") + dy)
      val diamSet = gf.st_makeline(array(pt(0, 0), pt(6, 0), pt(3, 1)))
      val triSet = gf.st_makeline(array(pt(0, 0), pt(4, 0), pt(0, 4), pt(1, 1)))
      val dm = gf.st_minimumboundingradius(diamSet)
      val tm = gf.st_minimumboundingradius(triSet)
      nat.select(col("n_nationkey"),
        round(gf.st_x(dm.getField("center")), 9).as("d_cx"),
        round(gf.st_y(dm.getField("center")), 9).as("d_cy"),
        round(dm.getField("radius"), 9).as("d_r"),
        round(gf.st_x(tm.getField("center")), 9).as("t_cx"),
        round(gf.st_y(tm.getField("center")), 9).as("t_cy"),
        round(tm.getField("radius"), 9).as("t_r"),
        gf.st_numpoints(gf.st_minimumboundingcircle(diamSet, lit(12))).as("mbc_npts"))
    }),
    "q_chunks" -> ((s, d) => {
      // Context-window chunking: 30-token windows, stride 20
      // (10-token overlap); oracle recomputes windows from the same
      // whitespace tokenization.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      TrainingData.chunkDocuments(docs, "doc_id", "text", chunkSize = 30, stride = 20)
    }),
    "q_bloom_dedup" -> ((s, d) => {
      // Bloom-prefiltered incremental dedup: docs with doc_id % 3 == 0
      // play the already-crawled reference; the bloom prunes
      // definitely-new docs without touching the reference, the
      // might-contain sliver exact-verifies — end-to-end semantics are
      // the exact text-hash anti-join the oracle runs directly.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val ref = docs.filter(col("doc_id") % 3 === 0)
      TrainingData.bloomDedup(docs, "doc_id", "text", ref, "text",
          bits = 1L << 16, k = 5)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"))
    }),
    "q_linref" -> ((s, d) => {
      // Linear-referencing pair ops: shared-path lengths by direction
      // and the full crossing-direction code set — all closed-form.
      val nat = nationCenters(s, d)
      def pt(dx: Double, dy: Double) =
        gf.st_point(col("cx") + dx, col("cy") + dy)
      val a = gf.st_makeline(array(pt(0, 0), pt(10, 0), pt(10, 5)))
      val bSame = gf.st_makeline(array(pt(2, 0), pt(6, 0), pt(6, -3)))
      val cOpp = gf.st_makeline(array(pt(8, 0), pt(3, 0)))
      val v = gf.st_makeline(array(pt(0, 0), pt(0, 10)))
      nat.select(col("n_nationkey"),
        round(gf.st_length(element_at(gf.st_sharedpaths(a, bSame), 1)), 9).as("same_len"),
        round(gf.st_length(element_at(gf.st_sharedpaths(a, bSame), 2)), 9).as("same_opp_len"),
        round(gf.st_length(element_at(gf.st_sharedpaths(a, cOpp), 2)), 9).as("opp_len"),
        gf.st_linecrossingdirection(v,
          gf.st_makeline(array(pt(1, 5), pt(-1, 5)))).as("lcd_left"),
        gf.st_linecrossingdirection(v,
          gf.st_makeline(array(pt(-1, 5), pt(1, 5)))).as("lcd_right"),
        gf.st_linecrossingdirection(v,
          gf.st_makeline(array(pt(1, 2), pt(-1, 3), pt(1, 4)))).as("lcd_same_first_left"),
        gf.st_linecrossingdirection(v,
          gf.st_makeline(array(pt(1, 2), pt(-1, 3), pt(1, 4), pt(-1, 6)))).as("lcd_mc_left"),
        gf.st_linecrossingdirection(v,
          gf.st_makeline(array(pt(1, 1), pt(2, 2)))).as("lcd_none"))
    }),
    "q_pack" -> ((s, d) => {
      // GPT-style pack-and-split: global token stream in doc_id order
      // cut into 256-token blocks; the oracle recomputes offsets with
      // a naive global window (the engine uses the distributed
      // partition-prefix-sum form — same answer by construction).
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      TrainingData.packSequences(docs, "doc_id", "text", blockSize = 256)
    }),
    "q_hexbin" -> ((s, d) => {
      // Hexagonal density binning over the customer point cloud:
      // axial cube-rounded assignment at size 2.5, per-hex counts +
      // centers; the oracle reruns the fixed-op-order float math.
      val h = customerPoints(s, d)
        .select(gf.st_hexbin(col("px"), col("py"), lit(2.5)).as("h"))
      h.groupBy(col("h.q").as("q"), col("h.r").as("r"))
        .agg(count(lit(1)).as("n"))
        .select(col("q"), col("r"), col("n"),
          round(gf.st_x(gf.st_hexbin_center(col("q"), col("r"), lit(2.5))), 9).as("hx"),
          round(gf.st_y(gf.st_hexbin_center(col("q"), col("r"), lit(2.5))), 9).as("hy"))
    }),
    "q_mvt" -> ((s, d) => {
      // Vector-tile prep (st_asmvtgeom / st_tileenvelope — beyond the
      // reference: the geo crate has no tiling surface). Customer
      // lattice points rescaled into EPSG:3857 by PURE +,-,*,/ (no
      // transcendentals, so floor decisions are cross-engine
      // deterministic), assigned their z=3 tile by the same arithmetic
      // the oracle replays, then snapped to integer tile-local MVT
      // coords; the tile envelope's corners come back exact.
      val half = 20037508.342789244
      val size = half * 2 / 8 // tileSize(3), exact dyadic division
      val c = customerPoints(s, d)
        .withColumn("mx", col("px") / 180.0 * half)
        .withColumn("my", col("py") / 180.0 * half)
        .withColumn("tx", floor((col("mx") + half) / size).cast("long"))
        .withColumn("ty", floor((lit(half) - col("my")) / size).cast("long"))
      val mvt = gf.st_asmvtgeom(gf.st_point(col("mx"), col("my")),
        lit(3), col("tx"), col("ty"))
      val env = gf.st_tileenvelope(lit(3), col("tx"), col("ty"))
      c.select(col("c_custkey"), col("tx"), col("ty"),
        gf.st_x(mvt).as("lx"), gf.st_y(mvt).as("ly"),
        gf.st_xmin(env).as("exmin"), gf.st_ymax(env).as("eymax"))
    }),
    "q_squaregrid" -> ((s, d) => {
      // ST_SquareGrid coverage counts: every 1.25-unit grid cell
      // intersected by a 3.3 x 2.2 envelope seeded at each customer
      // point; exploded and aggregated per cell. Index math is
      // floor(ordinate / size) on the exact customer lattice — the
      // oracle regenerates the ranges with generate_series.
      val c = customerPoints(s, d)
      val cells = c.select(explode(gf.st_squaregrid(
          gf.st_rect(col("px"), col("py"),
            col("px") + lit(3.3), col("py") + lit(2.2)), lit(1.25))).as("c"))
      cells.groupBy(col("c.i").as("i"), col("c.j").as("j"))
        .agg(count(lit(1)).as("n"))
    }),
    "q_asmvt" -> ((s, d) => {
      // MVT binary tiles (st_asmvt, spec-2.1 protobuf wire format)
      // gated end-to-end: the q_mvt features aggregate into one tile
      // per (tx, ty), the tile DECODES back through st_mvt_decode, and
      // the recovered (id, lx, ly) must match the oracle's
      // first-principles recomputation — byte-golden unit tests pin
      // the wire format itself (MvtCodecSpec), so encode and decode
      // cannot compensate for each other.
      val half = 20037508.342789244
      val size = half * 2 / 8
      val c = customerPoints(s, d)
        .withColumn("mx", col("px") / 180.0 * half)
        .withColumn("my", col("py") / 180.0 * half)
        .withColumn("tx", floor((col("mx") + half) / size).cast("long"))
        .withColumn("ty", floor((lit(half) - col("my")) / size).cast("long"))
      val mvt = gf.st_asmvtgeom(gf.st_point(col("mx"), col("my")),
        lit(3), col("tx"), col("ty"))
      c.groupBy(col("tx"), col("ty"))
        .agg(gf.st_asmvt(mvt, col("c_custkey"),
          struct(col("c_name").as("name"),
            (col("c_custkey") % 7).as("grp")), "customers", 4096).as("tile"))
        .select(col("tx"), col("ty"),
          explode(gf.st_mvt_decode(col("tile"))).as("f"))
        .select(col("tx"), col("ty"), col("f.id").as("id"),
          gf.st_x(col("f.geom")).as("lx"), gf.st_y(col("f.geom")).as("ly"),
          element_at(col("f.tags"), "name").as("name"),
          element_at(col("f.tags"), "grp").cast("long").as("grp"))
    }),
    "q_geomedian" -> ((s, d) => {
      // ST_GeometricMedian (Weiszfeld/Vardi-Zhang) pinned to CLOSED
      // FORMS per nation: rectangle corners -> diagonal intersection,
      // equilateral triangle -> centroid (Fermat point), >=120-degree
      // triangle -> the obtuse vertex, odd collinear -> middle point.
      val n = t(s, d, "nation")
        .withColumn("ox", col("n_nationkey").cast("double") * 10.0)
        .withColumn("oy", col("n_nationkey").cast("double") * 5.0)
      def pt(dx: Column, dy: Column) = gf.st_point(col("ox") + dx, col("oy") + dy)
      def mp(ps: Column*) = gf.st_points(gf.st_makeline(array(ps: _*)))
      val rect = gf.st_geometricmedian(mp(
        pt(lit(2.0), lit(3.0)), pt(lit(10.0), lit(3.0)),
        pt(lit(2.0), lit(9.0)), pt(lit(10.0), lit(9.0))))
      val eq = gf.st_geometricmedian(mp(
        pt(lit(0.0), lit(0.0)), pt(lit(2.0), lit(0.0)),
        pt(lit(1.0), sqrt(lit(3.0)))))
      val obtuse = gf.st_geometricmedian(mp(
        pt(lit(0.0), lit(0.0)), pt(lit(4.0), lit(0.0)),
        pt(lit(2.0), lit(0.1))))
      val coll = gf.st_geometricmedian(mp(
        pt(lit(0.0), lit(0.0)), pt(lit(1.0), lit(0.0)), pt(lit(2.0), lit(0.0)),
        pt(lit(3.0), lit(0.0)), pt(lit(100.0), lit(0.0))))
      n.select(col("n_nationkey").as("nk"),
        round(gf.st_x(rect), 5).as("rx"), round(gf.st_y(rect), 5).as("ry"),
        round(gf.st_x(eq), 5).as("ex"), round(gf.st_y(eq), 5).as("ey"),
        round(gf.st_x(obtuse), 5).as("bx"), round(gf.st_y(obtuse), 5).as("by"),
        round(gf.st_x(coll), 5).as("cx"), round(gf.st_y(coll), 5).as("cy"))
    }),
    "q_warc" -> ((s, d) => {
      // WARC/1.0 ingestion roundtrip (pipeline/Warc — the Common Crawl
      // wire format): documents serialize into spec-correct response
      // records, concatenate into multi-record blobs (the per-file
      // layout), and the streaming parser must recover every header
      // field and the payload BYTE-IDENTICALLY — compared against the
      // source table itself.
      import s.implicits._
      val docs = t(s, d, "documents").select(
        concat(lit("http://synth.test/doc/"), col("doc_id")).as("url"),
        lit("2024-01-01T00:00:00Z").as("date"), col("text"))
      val recs = graft.pipeline.Warc.toRecords(docs, "url", "date", "text")
      val ds = recs.select(pmod(xxhash64(col("url")), lit(64)).as("bkey"),
          col("url"), col("warc_record"))
        .as[(Long, String, Array[Byte])]
      val blobs = ds.groupByKey(_._1).mapGroups { (_, it) =>
        val sorted = it.toArray.sortBy(_._2)
        val bos = new java.io.ByteArrayOutputStream()
        sorted.foreach(t => bos.write(t._3))
        bos.toByteArray
      }.toDF("content")
      graft.pipeline.Warc.fromBlobs(blobs, "content")
        .select(col("url"), col("warc_type"), col("date"), col("content_type"),
          col("payload").cast("string").as("txt"))
    }),
    "q_dsir" -> ((s, d) => {
      // DSIR importance scores (Xie et al. 2023): bag-of-bucketed-word
      // LLR of a deterministic target slice (doc_id % 7 == 0) vs the
      // whole corpus; integer-scaled per-bucket LLRs make the per-doc
      // sum an exact integer the oracle replays bit-for-bit.
      val docs = t(s, d, "documents")
      val target = docs.filter(col("doc_id") % 7 === 0)
      TrainingData.dsirScores(docs, "doc_id", "text", target, "text",
        buckets = 1024)
    }),
    "q_lmscore" -> ((s, d) => {
      // CCNet-shape perplexity filter: hashed-bigram LM fit on the
      // deterministic reference slice (doc_id % 3 == 0), every doc
      // scored by total bigram log-likelihood; integer-scaled terms
      // make the sums exact (see TrainingData.lmScores).
      val docs = t(s, d, "documents")
      val ref = docs.filter(col("doc_id") % 3 === 0)
      TrainingData.lmScores(docs, "doc_id", "text", ref, "doc_id", "text",
        buckets = 1024)
    }),
    "q_genpoints" -> ((s, d) => {
      // ST_GeneratePoints: 200 seeded points per comb polygon; the
      // invariant oracle (like q_wkb) — exact count, every point
      // contained, bbox inside the polygon's bbox — is checkable
      // because the sampler triangulates (never rejects) and the
      // PRNG is counter-mode (pure function of seed and index).
      val polys = starPolys(s, d)
      val pts = gf.st_generatepoints(col("geom"), lit(200),
        col("pid").cast("long"))
      polys.select(col("pid"),
        gf.st_numpoints(pts).as("n"),
        gf.st_contains(col("geom"), pts).as("all_inside"),
        (gf.st_xmin(pts) >= gf.st_xmin(col("geom")) &&
          gf.st_xmax(pts) <= gf.st_xmax(col("geom")) &&
          gf.st_ymin(pts) >= gf.st_ymin(col("geom")) &&
          gf.st_ymax(pts) <= gf.st_ymax(col("geom"))).as("bbox_ok"))
    }),
    "q_contour" -> ((s, d) => {
      // Distributed marching squares (operators/Contour — the
      // gdal_contour analogue, no counterpart in the reference or
      // PostGIS): customer density on a 64x64 grid, iso-level 0.5
      // crossing segments. All interpolation is rational arithmetic
      // on integer counts — the oracle replays every double exactly,
      // including the saddle center rule.
      val c = customerPoints(s, d)
      val counts = c.select(
          floor((col("px") + 180.0) / 360.0 * 64.0).cast("long").as("x"),
          floor((lit(90.0) - col("py")) / 180.0 * 64.0).cast("long").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).cast("double").as("v"))
      // dense zero-filled 64x64 raster (the documented zero-collar
      // contract: contours close at the data edge)
      val full = s.range(64).select(col("id").as("x"))
        .crossJoin(s.range(64).select(col("id").as("y")))
      val grid = full.join(counts, Seq("x", "y"), "left")
        .select(col("x"), col("y"), coalesce(col("v"), lit(0.0)).as("v"))
      operators.Contour.contourSegments(grid, "x", "y", "v", 0.5)
    }),
    "q_hexring" -> ((s, d) => {
      // hex-grid topology ops (st_hexdistance / st_hexring — H3
      // gridDistance/gridRingUnsafe analogues in pure integer axial
      // math): per occupied hex bin, distance to the origin bin and
      // the full k=2 ring; the oracle enumerates the ring as the SET
      // of cells at distance exactly 2 (walk = set, proven in spec).
      val h = customerPoints(s, d)
        .select(gf.st_hexbin(col("px"), col("py"), lit(2.5)).as("h"))
        .select(col("h.q").as("q"), col("h.r").as("r")).distinct()
      h.select(col("q"), col("r"),
          gf.st_hexdistance(col("q"), col("r"), lit(0L), lit(0L)).as("d0"),
          explode(gf.st_hexring(col("q"), col("r"), lit(2))).as("c"))
        .select(col("q"), col("r"), col("d0"),
          col("c.q").as("rq"), col("c.r").as("rr"))
    }),
    "q_bilinear" -> ((s, d) => {
      // Bilinear raster sampling (operators/Raster): the customer
      // density raster sampled back at every customer's own fractional
      // grid position. Fixed-op-order blend over pivoted corners — no
      // float sum-order nondeterminism — so the oracle replays every
      // double exactly.
      val c = customerPoints(s, d)
      val counts = c.select(
          floor((col("px") + 180.0) / 360.0 * 64.0).cast("long").as("x"),
          floor((lit(90.0) - col("py")) / 180.0 * 64.0).cast("long").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).cast("double").as("v"))
      val full = s.range(64).select(col("id").as("x"))
        .crossJoin(s.range(64).select(col("id").as("y")))
      val grid = full.join(counts, Seq("x", "y"), "left")
        .select(col("x"), col("y"), coalesce(col("v"), lit(0.0)).as("v"))
      val pts = c.select(col("c_custkey"),
        ((col("px") + 180.0) / 360.0 * 64.0).as("u"),
        ((lit(90.0) - col("py")) / 180.0 * 64.0).as("w"))
      operators.Raster.sampleBilinear(grid, "x", "y", "v",
        pts, "c_custkey", "u", "w")
    }),
    "q_html" -> ((s, d) => {
      // HTML -> text extraction (TrainingData.htmlToText — the step
      // between WARC payloads and the cleaning pipeline): synthesize
      // a full page around each document (script/style/comment
      // blocks, entities, block tags), extract, and match DuckDB
      // replaying the exact regexp/replace chain.
      val docs = t(s, d, "documents")
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"), lit("</title>"),
        lit("<script type=\"text/javascript\">var x = 1 < 2;</script>"),
        lit("<style>.c { color: red; }</style></head><body>"),
        lit("<!-- crawler comment --><h1>Doc "), col("doc_id"), lit("</h1>"),
        lit("<p>"), col("text"), lit("</p>"),
        lit("<div>cafe &amp; bar &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div>"),
        lit("<ul><li>a</li><li>b</li></ul></body></html>"))
      docs.select(col("doc_id"),
        TrainingData.htmlToText(html).as("txt"))
    }),
    "q_quadkey" -> ((s, d) => {
      // Bing quadkey interop over the z=3 customer tile assignment
      // (same arithmetic as q_mvt) + decode roundtrip.
      val half = 20037508.342789244
      val size = half * 2 / 8
      val c = customerPoints(s, d)
        .withColumn("mx", col("px") / 180.0 * half)
        .withColumn("my", col("py") / 180.0 * half)
        .withColumn("tx", floor((col("mx") + half) / size).cast("long"))
        .withColumn("ty", floor((lit(half) - col("my")) / size).cast("long"))
      val qk = gf.st_quadkey(lit(3), col("tx"), col("ty"))
      val dec = gf.st_quadkey_decode(qk)
      c.select(col("c_custkey"), col("tx"), col("ty"), qk.as("qk"),
        (col("tx") === dec.getField("x") && col("ty") === dec.getField("y")
          && dec.getField("z") === 3).as("rt_ok"))
    }))

  // -------------------------------------------------------- the oracles

  private def mortonSql(xCol: String, yCol: String, level: Int): String = {
    val bits = (0 until level).map(b =>
      s"((($xCol >> $b) & 1) << ${2 * b}) + ((($yCol >> $b) & 1) << ${2 * b + 1})")
    s"(CAST($level AS BIGINT) << 58) + ${bits.mkString(" + ")}"
  }

  private val CellPrelude =
    s"""pts AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
       |cells AS (SELECT c_custkey,
       |  LEAST(GREATEST(CAST(floor((px + 180e0) / 360e0 * 4096e0) AS BIGINT), 0), 4095) AS cx,
       |  LEAST(GREATEST(CAST(floor((90e0 - py) / 180e0 * 4096e0) AS BIGINT), 0), 4095) AS cy
       | FROM pts)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_dwithin_join" ->
      s"""WITH c AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |s AS (SELECT s_suppkey,
         |    ((s_suppkey*4231) % 7200)/20e0 - 180e0 AS sx,
         |    ((s_suppkey*2971) % 3400)/20e0 - 85e0 AS sy FROM supplier)
         |SELECT c_custkey, s_suppkey,
         |  round(sqrt((px - sx) * (px - sx) + (py - sy) * (py - sy)), 9) AS dist
         |FROM c JOIN s ON sqrt((px - sx) * (px - sx) + (py - sy) * (py - sy)) <= 5.625""".stripMargin,
    "q_minclearance" ->
      s"""WITH $VertsSql,
         |pairs AS (SELECT v1.pid,
         |    sqrt((v2.x - v1.x) * (v2.x - v1.x) + (v2.y - v1.y) * (v2.y - v1.y)) AS d
         |  FROM verts v1 JOIN verts v2 ON v1.pid = v2.pid AND v1.seq < v2.seq),
         |edges AS (SELECT v1.pid, v1.seq AS s1, (v1.seq + 1) % 8 AS s2,
         |    v1.x AS px, v1.y AS py, v2.x AS qx, v2.y AS qy
         |  FROM verts v1 JOIN verts v2 ON v1.pid = v2.pid AND v2.seq = (v1.seq + 1) % 8),
         |vseg0 AS (SELECT e.pid, v.x AS vx, v.y AS vy, e.px, e.py,
         |    e.qx - e.px AS dx, e.qy - e.py AS dy,
         |    ((v.x - e.px) * (e.qx - e.px) + (v.y - e.py) * (e.qy - e.py))
         |      / ((e.qx - e.px) * (e.qx - e.px) + (e.qy - e.py) * (e.qy - e.py)) AS t0
         |  FROM edges e JOIN verts v ON v.pid = e.pid AND v.seq != e.s1 AND v.seq != e.s2),
         |vseg AS (SELECT pid,
         |    sqrt((vx - (px + LEAST(GREATEST(t0, 0), 1) * dx)) * (vx - (px + LEAST(GREATEST(t0, 0), 1) * dx))
         |       + (vy - (py + LEAST(GREATEST(t0, 0), 1) * dy)) * (vy - (py + LEAST(GREATEST(t0, 0), 1) * dy))) AS d
         |  FROM vseg0),
         |allc AS (SELECT pid, d FROM pairs UNION ALL SELECT pid, d FROM vseg)
         |SELECT pid, round(min(d), 9) AS clearance, 2 AS n_line_pts, TRUE AS len_matches
         |FROM allc GROUP BY 1""".stripMargin,
    "q_boundary" ->
      s"""WITH $VertsSql,
         |edges AS (SELECT v1.pid, v1.x AS x1, v1.y AS y1, v2.x AS x2, v2.y AS y2
         |  FROM verts v1 JOIN verts v2 ON v1.pid = v2.pid AND v2.seq = (v1.seq + 1) % 8),
         |shoe AS (SELECT pid,
         |    SUM(sqrt((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1))) AS perim
         |  FROM edges GROUP BY 1)
         |SELECT pid, 9 AS ring_pts, round(perim, 6) AS blen, 4 AS mlb_pts
         |FROM shoe""".stripMargin,
    "q_polygonize_lines" ->
      s"""WITH pts AS (SELECT c_nationkey AS nk, $PxSql AS px, $PySql AS py FROM customer),
         |bb AS (SELECT nk, floor(min(px)) AS xmin, floor(min(py)) AS ymin,
         |    floor(max(px)) + 1 AS xmax, floor(max(py)) + 1 AS ymax FROM pts GROUP BY 1)
         |SELECT nk, 3 AS n_polys,
         |  round((xmax - xmin) * (ymax - ymin), 6) AS total_area,
         |  round(4e0, 6) AS min_area,
         |  round((xmax - xmin) * (ymax - ymin) / 2, 6) AS max_area
         |FROM bb""".stripMargin,
    "q_unary_union" ->
      s"""WITH pts AS (SELECT c_nationkey AS nk, $PxSql AS px, $PySql AS py FROM customer),
         |bb AS (SELECT nk, floor(min(px)) AS xmin, floor(min(py)) AS ymin,
         |    floor(max(px)) + 1 AS xmax, floor(max(py)) + 1 AS ymax FROM pts GROUP BY 1)
         |SELECT nk, 3 AS n_parts,
         |  (xmax - xmin) * (ymax - ymin) AS poly_area,
         |  6 AS n_chains, 12 AS n_line_verts,
         |  round(4 * sqrt(((xmax - xmin) / 2) * ((xmax - xmin) / 2)
         |        + ((ymax - ymin) / 2) * ((ymax - ymin) / 2))
         |      + 2 * (xmax - xmin), 6) AS line_len,
         |  1 AS n_points
         |FROM bb""".stripMargin,
    // closed-form mirror of the q_hetero construction: all measures are
    // integers by construction (horizontal line, axis-aligned square)
    "q_hetero" ->
      """WITH s AS (SELECT n_nationkey AS nk,
        |  CAST(2 + n_nationkey % 3 AS DOUBLE) AS sz FROM nation)
        |SELECT nk, 2 AS u_parts, 4 * sz * sz AS u_area,
        |  CAST(6 AS DOUBLE) AS u_len, 2 * sz AS i_len,
        |  CAST(6 AS DOUBLE) AS d_len,
        |  1 AS pi_n, 2 AS pd_n,
        |  4 * sz * sz AS sd_area, CAST(6 AS DOUBLE) AS sd_len
        |FROM s""".stripMargin,
    // op-for-op mirrors of kernels/Crs.mercatorFwd and Crs.rdFwd
    // (Schreutelkamp & van Strien polynomial, same term order); the
    // UTM roundtrip defect is sub-micron, hence exactly 0 at 9 decimals
    "q_transform" -> {
      // Lambert-93 cone constants as exact double literals (the same
      // trick as q_terrain's trig constants): the SQL replays Snyder's
      // forward op-for-op, so lcc_x/lcc_y are hard-oracled, not
      // round-trip-only
      val lp = graft.kernels.Crs.lambert93
      val lccE = lp.e; val lccN = lp.n
      val lccAF = 6378137.0 * lp.bigF; val lccR0 = lp.rho0
      s"""WITH p AS (SELECT n_nationkey AS nk,
        |  3.6e0 + (n_nationkey % 5) * 0.72e0 AS lon,
        |  50.9e0 + FLOOR(n_nationkey / 5) * 0.58e0 AS lat FROM nation),
        |d0 AS (SELECT nk, lon, lat,
        |  0.36e0 * (lat - 52.15517440e0) AS dp,
        |  0.36e0 * (lon - 5.38720621e0) AS dl FROM p),
        |d AS (SELECT *, dp * dp AS dp2, (dp * dp) * dp AS dp3,
        |  dl * dl AS dl2, (dl * dl) * dl AS dl3,
        |  ((dl * dl) * dl) * dl AS dl4 FROM d0),
        |lc AS (SELECT nk,
        |  $lccAF * pow(tan(pi() / 4 - radians(lat) / 2)
        |    / pow((1e0 - $lccE * sin(radians(lat))) / (1e0 + $lccE * sin(radians(lat))),
        |      $lccE / 2), $lccN) AS rho,
        |  ($lccN * (lon - 3e0)) * (pi() / 180e0) AS theta
        |  FROM p)
        |SELECT d.nk,
        |  round(6378137e0 * radians(lon), 6) AS merc_x,
        |  round(6378137e0 * ln(tan(pi() / 4 + radians(lat) / 2)), 6) AS merc_y,
        |  round(155000e0 + 190094.945e0 * dl + -11832.228e0 * dp * dl
        |    + -114.221e0 * dp2 * dl + -32.391e0 * dl3 + -0.705e0 * dp
        |    + -2.340e0 * dp3 * dl + -0.608e0 * dp * dl3 + -0.008e0 * dl2
        |    + 0.148e0 * dp2 * dl3, 6) AS rd_x,
        |  round(463000e0 + 309056.544e0 * dp + 3638.893e0 * dl2 + 73.077e0 * dp2
        |    + -157.984e0 * dp * dl2 + 59.788e0 * dp3 + 0.433e0 * dl
        |    + -6.439e0 * dp2 * dl2 + -0.032e0 * dp * dl + 0.092e0 * dl4
        |    + -0.054e0 * dp * dl4, 6) AS rd_y,
        |  CAST(0 AS DOUBLE) AS utm_rt,
        |  round(700000e0 + lc.rho * sin(lc.theta), 6) AS lcc_x,
        |  round(6600000e0 + $lccR0 - lc.rho * cos(lc.theta), 6) AS lcc_y,
        |  CAST(0 AS DOUBLE) AS bng_rt,
        |  CAST(0 AS DOUBLE) AS etrs_rt
        |FROM d JOIN lc ON d.nk = lc.nk""".stripMargin
    },
    "q_pip_join" ->
      s"""WITH $VertsSql,
         |pts AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |edges AS (SELECT v1.pid, v1.x AS x1, v1.y AS y1, v2.x AS x2, v2.y AS y2
         |  FROM verts v1 JOIN verts v2 ON v1.pid = v2.pid AND v2.seq = (v1.seq + 1) % 8),
         |hits AS (SELECT p.c_custkey, e.pid
         |  FROM pts p JOIN edges e
         |  ON ((e.y1 > p.py) != (e.y2 > p.py))
         |  AND p.px < (e.x2 - e.x1) * (p.py - e.y1) / (e.y2 - e.y1) + e.x1)
         |SELECT c_custkey, pid FROM hits GROUP BY 1, 2 HAVING count(*) % 2 = 1""".stripMargin,
    "q_pip_compact" ->
      s"""WITH $VertsSql,
         |pts AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |edges AS (SELECT v1.pid, v1.x AS x1, v1.y AS y1, v2.x AS x2, v2.y AS y2
         |  FROM verts v1 JOIN verts v2 ON v1.pid = v2.pid AND v2.seq = (v1.seq + 1) % 8),
         |hits AS (SELECT p.c_custkey, e.pid
         |  FROM pts p JOIN edges e
         |  ON ((e.y1 > p.py) != (e.y2 > p.py))
         |  AND p.px < (e.x2 - e.x1) * (p.py - e.y1) / (e.y2 - e.y1) + e.x1)
         |SELECT c_custkey, pid FROM hits GROUP BY 1, 2 HAVING count(*) % 2 = 1""".stripMargin,
    "q_star_stats" ->
      s"""WITH $VertsSql,
         |ring AS (SELECT pid, seq, x, y FROM verts),
         |edges AS (SELECT r1.pid, r1.x AS x1, r1.y AS y1, r2.x AS x2, r2.y AS y2
         |  FROM ring r1 JOIN ring r2 ON r1.pid = r2.pid AND r2.seq = (r1.seq + 1) % 8),
         |shoe AS (SELECT pid,
         |    SUM(x1*y2 - x2*y1)/2e0 AS area,
         |    SUM(sqrt((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1))) AS perim,
         |    SUM((x1 + x2) * (x1*y2 - x2*y1)) AS cxs,
         |    SUM((y1 + y2) * (x1*y2 - x2*y1)) AS cys
         |  FROM edges GROUP BY 1),
         |bb AS (SELECT pid, MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax, MAX(y) AS ymax,
         |    COUNT(*) AS nverts FROM ring GROUP BY 1)
         |SELECT s.pid, round(s.area, 6) AS area, round(s.perim, 6) AS perim,
         |  CASE WHEN s.area > 0 THEN 'CCW' ELSE 'CW' END AS winding,
         |  b.xmin, b.ymin, b.xmax, b.ymax,
         |  round(s.cxs / (6e0 * s.area), 6) AS cx,
         |  round(s.cys / (6e0 * s.area), 6) AS cy,
         |  FALSE AS convex,
         |  CAST(b.nverts + 1 AS INTEGER) AS npts
         |FROM shoe s JOIN bb b ON s.pid = b.pid""".stripMargin,
    "q_tile_xy" ->
      s"""WITH $CellPrelude
         |SELECT c_custkey, cx, cy FROM cells""".stripMargin,
    "q_cellid" ->
      s"""WITH $CellPrelude
         |SELECT c_custkey, ${mortonSql("cx", "cy", 12)} AS cell FROM cells""".stripMargin,
    "q_polygonize" ->
      s"""WITH pts AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |cells AS (SELECT
         |  LEAST(GREATEST(CAST(floor((px + 180e0) / 360e0 * 64e0) AS BIGINT), 0), 63) AS gx,
         |  LEAST(GREATEST(CAST(floor((90e0 - py) / 180e0 * 64e0) AS BIGINT), 0), 63) AS gy
         | FROM pts),
         |g AS (SELECT gx, gy, count(*) AS n FROM cells GROUP BY 1, 2),
         |gc AS (SELECT gx, gy, CAST((gx + 2 * gy + n) % 3 AS INTEGER) AS cls FROM g),
         |adj AS (SELECT a.cls, count(*) AS m FROM gc a JOIN gc b
         |  ON a.cls = b.cls AND ((b.gx = a.gx + 1 AND b.gy = a.gy)
         |                     OR (b.gx = a.gx AND b.gy = a.gy + 1))
         |  GROUP BY 1)
         |SELECT c.cls, count(*) AS n_cells,
         |  CAST(count(*) AS BIGINT) AS area,
         |  CAST(4 * count(*) - 2 * COALESCE(max(adj.m), 0) AS BIGINT) AS perimeter
         |FROM gc c LEFT JOIN adj ON c.cls = adj.cls
         |GROUP BY 1""".stripMargin,
    "q_haversine" ->
      s"""SELECT c_custkey,
         |  CAST(round(${havSql("px", "py", "cx", "cy")}) AS BIGINT) AS dist_m
         |FROM (SELECT c_custkey, $PxSql AS px, $PySql AS py, c_nationkey FROM customer) c
         |JOIN (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation) n
         |ON c.c_nationkey = n.n_nationkey""".stripMargin,
    "q_bearing" ->
      s"""SELECT c_custkey,
         |  round(${bearingSql("px", "py", "cx", "cy")}, 4) AS bearing
         |FROM (SELECT c_custkey, $PxSql AS px, $PySql AS py, c_nationkey FROM customer) c
         |JOIN (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation) n
         |ON c.c_nationkey = n.n_nationkey""".stripMargin,
    "q_rhumb" ->
      s"""WITH j AS (
         |  SELECT c_custkey, $PxSql AS px, $PySql AS py, cx, cy
         |  FROM customer JOIN (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation) n
         |  ON c_nationkey = n.n_nationkey),
         |c AS (SELECT c_custkey,
         |  radians(py) AS phi1, radians(cy) AS phi2,
         |  CASE WHEN radians(cx - px) > pi() THEN radians(cx - px) - 2e0*pi()
         |       WHEN radians(cx - px) < -pi() THEN radians(cx - px) + 2e0*pi()
         |       ELSE radians(cx - px) END AS dlam
         |  FROM j),
         |k AS (SELECT c_custkey, phi2 - phi1 AS dphi, dlam,
         |  ln(tan(phi2/2e0 + pi()/4e0) / tan(phi1/2e0 + pi()/4e0)) AS dpsi, phi1
         |  FROM c)
         |SELECT c_custkey, CAST(round(
         |  sqrt(dphi*dphi + (CASE WHEN dpsi > 10.0e-12 THEN dphi/dpsi ELSE cos(phi1) END)
         |                 * (CASE WHEN dpsi > 10.0e-12 THEN dphi/dpsi ELSE cos(phi1) END)
         |                 * dlam * dlam) * 6371008.8e0) AS BIGINT) AS rhumb_m
         |FROM k""".stripMargin,
    "q_rhumb_interp" ->
      s"""WITH j AS (
         |  SELECT c_custkey, $PxSql AS px, $PySql AS py, cx, cy,
         |    CAST((c_custkey % 9) + 1 AS DOUBLE) / 10e0 AS r
         |  FROM customer JOIN (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation) n
         |  ON c_nationkey = n.n_nationkey),
         |c AS (SELECT c_custkey, px, r,
         |  radians(py) AS phi1, radians(cy) AS phi2,
         |  CASE WHEN radians(cx - px) > pi() THEN radians(cx - px) - 2e0*pi()
         |       WHEN radians(cx - px) < -pi() THEN radians(cx - px) + 2e0*pi()
         |       ELSE radians(cx - px) END AS dlam
         |  FROM j),
         |k AS (SELECT c_custkey, px, r, phi1, dlam, phi2 - phi1 AS dphi,
         |  ln(tan(phi2/2e0 + pi()/4e0) / tan(phi1/2e0 + pi()/4e0)) AS dpsi
         |  FROM c),
         |t AS (SELECT c_custkey, px, phi1, atan2(dlam, dpsi) AS theta,
         |  r * sqrt(dphi*dphi
         |     + (CASE WHEN dpsi > 10.0e-12 THEN dphi/dpsi ELSE cos(phi1) END)
         |     * (CASE WHEN dpsi > 10.0e-12 THEN dphi/dpsi ELSE cos(phi1) END)
         |     * dlam * dlam) AS delta
         |  FROM k),
         |d AS (SELECT c_custkey, px, phi1, theta, delta,
         |  delta * cos(theta) AS dphi2,
         |  CASE WHEN abs(phi1 + delta * cos(theta)) > pi()/2e0
         |       THEN (CASE WHEN phi1 + delta * cos(theta) > 0e0
         |                  THEN pi() - (phi1 + delta * cos(theta))
         |                  ELSE -pi() - (phi1 + delta * cos(theta)) END)
         |       ELSE phi1 + delta * cos(theta) END AS phi2n
         |  FROM t),
         |e AS (SELECT c_custkey, px, phi1, theta, delta, dphi2, phi2n,
         |  ln(tan(phi2n/2e0 + pi()/4e0) / tan(phi1/2e0 + pi()/4e0)) AS dpsi2
         |  FROM d)
         |SELECT c_custkey,
         |  round(((degrees(radians(px) + delta * sin(theta)
         |    / (CASE WHEN abs(dpsi2) > 10.0e-12 THEN dphi2/dpsi2 ELSE cos(phi1) END))
         |    + 540e0) % 360e0) - 180e0, 5) AS ix,
         |  round(degrees(phi2n), 5) AS iy
         |FROM e""".stripMargin,
    "q_geodesic_interp" ->
      s"""SELECT CAST(c AS INTEGER) AS case_id,
         |  CAST(ix AS DOUBLE) AS ix, CAST(iy AS DOUBLE) AS iy FROM (VALUES
         | (0, 29.842908, 29.951445),
         | (1, 65.879361, 37.722254),
         | (2, 103.556797, 33.506196),
         | (3, -59.451852, 47.724789),
         | (4, -41.277901, 52.389474),
         | (5, -20.49187, 53.770057),
         | (6, -139.365654, -61.86527),
         | (7, 89.23339, 64.401804),
         | (8, 2.3522, 48.8566),
         | (9, 13.405, 52.52)) t(c, ix, iy)""".stripMargin,
    "q_project" ->
      s"""WITH n AS (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy,
         |    CAST((n_nationkey*37) % 360 AS DOUBLE) AS brg,
         |    CAST(100000 + (n_nationkey*7919) % 500000 AS DOUBLE) AS dist
         |  FROM nation),
         |c AS (SELECT n_nationkey, radians(cx) AS clng, radians(cy) AS clat,
         |    radians(brg) AS brad, dist / 6371008.8e0 AS rad FROM n),
         |o AS (SELECT n_nationkey, clng,
         |    asin(sin(clat)*cos(rad) + cos(clat)*sin(rad)*cos(brad)) AS nlat,
         |    sin(brad)*sin(rad)*cos(clat) AS ay,
         |    cos(rad) AS cr, sin(clat) AS sc
         |  FROM c)
         |SELECT n_nationkey,
         |  round(fmod(degrees(atan2(ay, cr - sc*sin(nlat)) + clng) + 540e0, 360e0) - 180e0, 5) AS dlon,
         |  round(degrees(nlat), 5) AS dlat
         |FROM o""".stripMargin,
    "q_pt_seg_dist" ->
      s"""WITH j AS (
         |  SELECT c_custkey, $PxSql AS px, $PySql AS py, cx, cy, cx + 3e0 AS x2, cy + 1.5e0 AS y2
         |  FROM customer JOIN (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation) n
         |  ON c_nationkey = n.n_nationkey),
         |p AS (SELECT c_custkey, px, py, cx AS x1, cy AS y1, x2, y2,
         |  LEAST(GREATEST(((px - cx)*(x2 - cx) + (py - cy)*(y2 - cy))
         |        / ((x2 - cx)*(x2 - cx) + (y2 - cy)*(y2 - cy)), 0e0), 1e0) AS tt
         |  FROM j)
         |SELECT c_custkey, round(sqrt(
         |  (px - (x1 + tt*(x2 - x1))) * (px - (x1 + tt*(x2 - x1)))
         |  + (py - (y1 + tt*(y2 - y1))) * (py - (y1 + tt*(y2 - y1)))), 6) AS seg_dist
         |FROM p""".stripMargin,
    "q_knn" ->
      s"""WITH pts AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |ctr AS (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation),
         |d AS (SELECT c_custkey, n_nationkey,
         |  ${havSql("px", "py", "cx", "cy")} AS dist FROM pts, ctr),
         |r AS (SELECT c_custkey, n_nationkey,
         |  row_number() OVER (PARTITION BY c_custkey ORDER BY dist ASC, n_nationkey ASC) AS rnk
         |  FROM d)
         |SELECT c_custkey, n_nationkey, rnk FROM r WHERE rnk <= 3""".stripMargin,
    "q_knn_qt" ->
      s"""WITH pts AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |ctr AS (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation),
         |d AS (SELECT c_custkey, n_nationkey,
         |  ${havSql("px", "py", "cx", "cy")} AS dist FROM pts, ctr),
         |r AS (SELECT c_custkey, n_nationkey,
         |  row_number() OVER (PARTITION BY c_custkey ORDER BY dist ASC, n_nationkey ASC) AS rnk
         |  FROM d)
         |SELECT c_custkey, n_nationkey, rnk FROM r WHERE rnk <= 3""".stripMargin,
    "q_dedup_exact" ->
      s"""WITH doubled AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
         |h AS (SELECT doc_id, md5(text) AS text_md5 FROM doubled),
         |g AS (SELECT doc_id, text_md5,
         |    MIN(doc_id) OVER (PARTITION BY text_md5) AS canonical,
         |    COUNT(*) OVER (PARTITION BY text_md5) AS group_size
         |  FROM h)
         |SELECT doc_id, canonical, group_size FROM g WHERE group_size > 1""".stripMargin,
    "q_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(string_split_regex(text, '${"\\"}s+'), x -> len(x) > 0)) AS INTEGER) AS ws_tokens,
         |  CAST(ceil(length(text) / 4.0e0) AS BIGINT) AS subword_est
         |FROM documents""".stripMargin,
    "q_quality" ->
      s"""WITH m AS (SELECT doc_id,
         |  CAST(length(text) AS DOUBLE) AS nc,
         |  CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) AS nsp,
         |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
         |  CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS nu
         |  FROM documents),
         |q AS (SELECT doc_id, nc, (nc - nsp) / (nsp + 1.0e0) AS mwl,
         |    np / nc AS pr, nu / nc AS ur FROM m)
         |SELECT doc_id, round(mwl, 6) AS mwl,
         |  round(CASE WHEN nc < 10 THEN 0e0
         |    ELSE greatest(0.0e0, 1.0e0 - abs(mwl - 5.0e0) / 10.0e0 - pr - ur / 2.0e0) END, 6) AS quality
         |FROM q""".stripMargin,
    "q_repetition" ->
      s"""WITH w AS (SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
         |  FROM documents),
         |b AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
         |  FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) g),
         |c AS (SELECT doc_id, bg, count(*) AS n FROM b GROUP BY 1, 2),
         |agg AS (SELECT doc_id, max(n) AS mx, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
         |SELECT w.doc_id,
         |  CAST(len(list_distinct(ws)) AS INTEGER) AS distinct_words,
         |  CAST(len(ws) AS INTEGER) AS total_words,
         |  mx AS top_bigram_n, tot AS bigram_total
         |FROM w JOIN agg ON w.doc_id = agg.doc_id""".stripMargin,
    "q_geohash_ring" ->
      s"""WITH RECURSIVE pts AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |enc1(c_custkey, px, py, i, lonlo, lonhi, latlo, lathi) AS (
         |  SELECT c_custkey, px, py, 0,
         |    CAST(-180 AS DOUBLE), CAST(180 AS DOUBLE),
         |    CAST(-90 AS DOUBLE), CAST(90 AS DOUBLE)
         |  FROM pts
         |  UNION ALL
         |  SELECT c_custkey, px, py, i + 1,
         |    CASE WHEN i % 2 = 0 AND px >= (lonlo+lonhi)/2 THEN (lonlo+lonhi)/2 ELSE lonlo END,
         |    CASE WHEN i % 2 = 0 AND px <  (lonlo+lonhi)/2 THEN (lonlo+lonhi)/2 ELSE lonhi END,
         |    CASE WHEN i % 2 = 1 AND py >= (latlo+lathi)/2 THEN (latlo+lathi)/2 ELSE latlo END,
         |    CASE WHEN i % 2 = 1 AND py <  (latlo+lathi)/2 THEN (latlo+lathi)/2 ELSE lathi END
         |  FROM enc1 WHERE i < 25),
         |cell AS (SELECT c_custkey, (lonlo+lonhi)/2 AS cx, (latlo+lathi)/2 AS cy,
         |    lonhi - lonlo AS w, lathi - latlo AS h
         |  FROM enc1 WHERE i = 25),
         |probes AS (
         |  SELECT c_custkey,
         |    CASE WHEN cx + dx*w < -180 THEN cx + dx*w + 360
         |         WHEN cx + dx*w >= 180 THEN cx + dx*w - 360
         |         ELSE cx + dx*w END AS qx,
         |    cy + dy*h AS qy
         |  FROM cell, (SELECT dxy % 3 - 1 AS dx, dxy // 3 - 1 AS dy
         |              FROM range(0, 9) t(dxy)) d
         |  WHERE NOT (dx = 0 AND dy = 0)
         |    AND cy + dy*h > -90 AND cy + dy*h < 90),
         |enc2(c_custkey, qx, qy, i, lonlo, lonhi, latlo, lathi, bits) AS (
         |  SELECT c_custkey, qx, qy, 0,
         |    CAST(-180 AS DOUBLE), CAST(180 AS DOUBLE),
         |    CAST(-90 AS DOUBLE), CAST(90 AS DOUBLE), CAST(0 AS BIGINT)
         |  FROM probes
         |  UNION ALL
         |  SELECT c_custkey, qx, qy, i + 1,
         |    CASE WHEN i % 2 = 0 AND qx >= (lonlo+lonhi)/2 THEN (lonlo+lonhi)/2 ELSE lonlo END,
         |    CASE WHEN i % 2 = 0 AND qx <  (lonlo+lonhi)/2 THEN (lonlo+lonhi)/2 ELSE lonhi END,
         |    CASE WHEN i % 2 = 1 AND qy >= (latlo+lathi)/2 THEN (latlo+lathi)/2 ELSE latlo END,
         |    CASE WHEN i % 2 = 1 AND qy <  (latlo+lathi)/2 THEN (latlo+lathi)/2 ELSE lathi END,
         |    bits * 2 + CASE WHEN i % 2 = 0
         |      THEN CASE WHEN qx >= (lonlo+lonhi)/2 THEN 1 ELSE 0 END
         |      ELSE CASE WHEN qy >= (latlo+lathi)/2 THEN 1 ELSE 0 END END
         |  FROM enc2 WHERE i < 25)
         |SELECT DISTINCT c_custkey,
         |  (SELECT string_agg(substring('0123456789bcdefghjkmnpqrstuvwxyz',
         |      CAST((bits >> (5*(4 - k))) & 31 AS INTEGER) + 1, 1), '' ORDER BY k)
         |   FROM range(0, 5) t(k)) AS nbr
         |FROM enc2 WHERE i = 25""".stripMargin,
    "q_geohash" ->
      s"""WITH RECURSIVE pts AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |st(c_custkey, px, py, i, lonlo, lonhi, latlo, lathi, bits) AS (
         |  SELECT c_custkey, px, py, 0,
         |    CAST(-180 AS DOUBLE), CAST(180 AS DOUBLE),
         |    CAST(-90 AS DOUBLE), CAST(90 AS DOUBLE), CAST(0 AS BIGINT)
         |  FROM pts
         |  UNION ALL
         |  SELECT c_custkey, px, py, i + 1,
         |    CASE WHEN i % 2 = 0 AND px >= (lonlo+lonhi)/2 THEN (lonlo+lonhi)/2 ELSE lonlo END,
         |    CASE WHEN i % 2 = 0 AND px <  (lonlo+lonhi)/2 THEN (lonlo+lonhi)/2 ELSE lonhi END,
         |    CASE WHEN i % 2 = 1 AND py >= (latlo+lathi)/2 THEN (latlo+lathi)/2 ELSE latlo END,
         |    CASE WHEN i % 2 = 1 AND py <  (latlo+lathi)/2 THEN (latlo+lathi)/2 ELSE lathi END,
         |    bits * 2 + CASE WHEN i % 2 = 0
         |      THEN CASE WHEN px >= (lonlo+lonhi)/2 THEN 1 ELSE 0 END
         |      ELSE CASE WHEN py >= (latlo+lathi)/2 THEN 1 ELSE 0 END END
         |  FROM st WHERE i < 45),
         |fin AS (SELECT c_custkey, lonlo, latlo, bits FROM st WHERE i = 45)
         |SELECT c_custkey,
         |  (SELECT string_agg(substring('0123456789bcdefghjkmnpqrstuvwxyz',
         |      CAST((bits >> (5*(8 - k))) & 31 AS INTEGER) + 1, 1), '' ORDER BY k)
         |   FROM range(0, 9) t(k)) AS gh,
         |  lonlo AS xmin, latlo AS ymin
         |FROM fin""".stripMargin,
    "q_adaptive_assign" -> {
      def spread6(v: String): String =
        s"(($v&1) + (($v>>1)&1)*4 + (($v>>2)&1)*16 + (($v>>3)&1)*64 + (($v>>4)&1)*256 + (($v>>5)&1)*1024)"
      val ancBranches = (0 to 6).map { l =>
        s"SELECT $l AS lvl, x6 >> ${6 - l} AS xl, y6 >> ${6 - l} AS yl, n FROM leaf"
      }.mkString("\n  UNION ALL ")
      s"""WITH pts AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |xy AS (SELECT c_custkey,
         |    CAST(floor((px + 180e0) / 360e0 * 64e0) AS BIGINT) AS x6,
         |    CAST(floor((90e0 - py) / 180e0 * 64e0) AS BIGINT) AS y6
         |  FROM pts),
         |leaf AS (SELECT x6, y6, count(*) AS n FROM xy GROUP BY 1, 2),
         |anc AS (
         |  $ancBranches),
         |cnt AS (SELECT lvl, xl, yl, SUM(n) AS cnt FROM anc GROUP BY 1, 2, 3),
         |sel AS (SELECT c.lvl, c.xl, c.yl FROM cnt c
         |  LEFT JOIN cnt p ON p.lvl = c.lvl - 1 AND p.xl = c.xl >> 1 AND p.yl = c.yl >> 1
         |  WHERE (c.cnt <= 8 AND (c.lvl = 0 OR p.cnt > 8)) OR (c.lvl = 6 AND c.cnt > 8))
         |SELECT xy.c_custkey,
         |  CAST(sel.lvl AS BIGINT) * (CAST(1 AS BIGINT) << 58)
         |    + ${spread6("sel.xl")} + 2*${spread6("sel.yl")} AS cell
         |FROM xy JOIN sel
         |  ON sel.xl = (xy.x6 >> (6 - sel.lvl)) AND sel.yl = (xy.y6 >> (6 - sel.lvl))""".stripMargin
    },
    "q_adaptive" -> {
      def spread6(v: String): String =
        s"(($v&1) + (($v>>1)&1)*4 + (($v>>2)&1)*16 + (($v>>3)&1)*64 + (($v>>4)&1)*256 + (($v>>5)&1)*1024)"
      val ancBranches = (0 to 6).map { l =>
        s"SELECT $l AS lvl, x6 >> ${6 - l} AS xl, y6 >> ${6 - l} AS yl, n FROM leaf"
      }.mkString("\n  UNION ALL ")
      s"""WITH pts AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |xy AS (SELECT c_custkey,
         |    CAST(floor((px + 180e0) / 360e0 * 64e0) AS BIGINT) AS x6,
         |    CAST(floor((90e0 - py) / 180e0 * 64e0) AS BIGINT) AS y6
         |  FROM pts),
         |leaf AS (SELECT x6, y6, count(*) AS n FROM xy GROUP BY 1, 2),
         |anc AS (
         |  $ancBranches),
         |cnt AS (SELECT lvl, xl, yl, SUM(n) AS cnt FROM anc GROUP BY 1, 2, 3),
         |sel AS (SELECT c.lvl, c.xl, c.yl, c.cnt FROM cnt c
         |  LEFT JOIN cnt p ON p.lvl = c.lvl - 1 AND p.xl = c.xl >> 1 AND p.yl = c.yl >> 1
         |  WHERE (c.cnt <= 8 AND (c.lvl = 0 OR p.cnt > 8)) OR (c.lvl = 6 AND c.cnt > 8))
         |SELECT CAST(lvl AS BIGINT) * (CAST(1 AS BIGINT) << 58)
         |  + ${spread6("xl")} + 2*${spread6("yl")} AS cell,
         |  CAST(cnt AS BIGINT) AS cnt
         |FROM sel""".stripMargin
    },
    "q_clean" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |         (doc_id % 250) % 7 AS hostn, doc_id % 250 AS path,
         |         (doc_id % 3) AS hv, text
         |  FROM documents),
         |curl AS (
         |  SELECT doc_id, hv, text,
         |    'https://host' || hostn || '.example/page/' || path AS canon_url,
         |    min(doc_id) OVER (PARTITION BY hostn, path) AS mink
         |  FROM docs),
         |kept AS (SELECT doc_id, hv, text, canon_url FROM curl WHERE doc_id = mink),
         |lines AS (
         |  SELECT doc_id, 0 AS pos, 'shared header ' || hv AS line FROM kept
         |  UNION ALL
         |  SELECT doc_id, 1, text || ' contact user' || doc_id || '@example.com' FROM kept
         |  UNION ALL
         |  SELECT doc_id, 2, 'site footer' FROM kept),
         |bp AS (
         |  SELECT lk FROM (
         |    SELECT DISTINCT doc_id, trim(line) AS lk FROM lines WHERE trim(line) <> '')
         |  GROUP BY 1 HAVING count(*) >= 10),
         |stripped AS (
         |  SELECT l.doc_id, string_agg(l.line, chr(10) ORDER BY l.pos) AS body
         |  FROM lines l WHERE trim(l.line) NOT IN (SELECT lk FROM bp)
         |  GROUP BY 1),
         |redacted AS (
         |  SELECT k.doc_id, k.canon_url,
         |    regexp_replace(regexp_replace(regexp_replace(coalesce(s.body, ''),
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      '(^|[^0-9A-Za-z._])([0-9]{1,3}(\\.[0-9]{1,3}){3})(\\.[^0-9]|\\.$$|[^0-9A-Za-z._]|$$)',
         |      '\\1<IP>\\4', 'g'),
         |      '(^|[^0-9A-Za-z._+])(\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{1,4})?)(\\.[^0-9]|\\.$$|[^0-9A-Za-z._]|$$)',
         |      '\\1<PHONE>\\4', 'g') AS clean_text
         |  FROM kept k LEFT JOIN stripped s ON k.doc_id = s.doc_id),
         |quality AS (
         |  SELECT * FROM redacted
         |  WHERE len(string_split_regex(clean_text, '\\s+')) >= 8),
         |tok AS (SELECT doc_id, string_split_regex(lower(clean_text), '\\s+') AS ws FROM quality),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i+1:i+3], ' ') AS s
         |  FROM tok, LATERAL (SELECT unnest(range(0, greatest(len(ws) - 3, 0) + 1)) AS i) g
         |  WHERE i + 3 <= len(ws)),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |ov AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS ni
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pr AS (SELECT ov.a, ov.b
         |  FROM ov JOIN sz sa ON ov.a = sa.doc_id JOIN sz sb ON ov.b = sb.doc_id
         |  WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.9),
         |sym AS (SELECT a AS u, b AS v FROM pr UNION SELECT b, a FROM pr
         |        UNION SELECT doc_id, doc_id FROM quality),
         |reach(a, b) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT r.a, s2.v FROM reach r JOIN sym s2 ON r.b = s2.u),
         |cc AS (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY 1),
         |sizes AS (SELECT cluster, count(*) AS cluster_size FROM cc GROUP BY 1)
         |SELECT q.doc_id, q.canon_url, s2.cluster_size, q.clean_text
         |FROM quality q
         |JOIN cc ON q.doc_id = cc.doc_id AND cc.cluster = q.doc_id
         |JOIN sizes s2 ON s2.cluster = cc.cluster""".stripMargin,
    "q_domains" ->
      s"""WITH p AS (
         |  SELECT id,
         |    'https://host' || ((id * 2654435761) % 997) || '.example/page/' || id AS url,
         |    'host' || ((id * 2654435761) % 997) || '.example' AS host,
         |    list_extract(['en','de','fr','es','zh'], CAST((id * 31) % 5 AS INTEGER) + 1) AS lang,
         |    CAST(((id * 48271) % 360000 - 180000) / 1000.0e0 AS DOUBLE) AS lon1,
         |    CAST(((id * 69621) % 170000 - 85000) / 1000.0e0 AS DOUBLE) AS lat1,
         |    CAST(((id * 16807 + 13) % 360000 - 180000) / 1000.0e0 AS DOUBLE) AS lon2,
         |    CAST(((id * 39916801 + 7) % 170000 - 85000) / 1000.0e0 AS DOUBLE) AS lat2
         |  FROM range(0, 2000) t(id)),
         |pt AS (SELECT host, url, lang,
         |    'Doc ' || id || ' in ' || lang || ' mentions geo:'
         |      || CAST(lon1 AS VARCHAR) || ',' || CAST(lat1 AS VARCHAR)
         |      || ' and geo:' || CAST(lon2 AS VARCHAR) || ',' || CAST(lat2 AS VARCHAR)
         |      || ' end.' AS text
         |  FROM p)
         |SELECT host, count(*) AS n_pages,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(sum(len(text)) AS BIGINT) AS total_chars,
         |  min(url) AS sample_url
         |FROM pt GROUP BY 1""".stripMargin,
    "q_pii" ->
      s"""WITH pages AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id || '@example.com or call +' ||
         |    (doc_id % 9 + 1) || '-555-' ||
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         |    ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id*7) % 256) ||
         |    ' now' AS page_text
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(page_text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '(^|[^0-9A-Za-z._])([0-9]{1,3}(\\.[0-9]{1,3}){3})(\\.[^0-9]|\\.$$|[^0-9A-Za-z._]|$$)',
         |    '\\1<IP>\\4', 'g'),
         |    '(^|[^0-9A-Za-z._+])(\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{1,4})?)(\\.[^0-9]|\\.$$|[^0-9A-Za-z._]|$$)',
         |    '\\1<PHONE>\\4', 'g') AS clean_text,
         |  CAST(len(regexp_extract_all(page_text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails
         |FROM pages""".stripMargin,
    "q_boilerplate" ->
      s"""WITH pages AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |    'shared header ' || (doc_id % 3) || chr(10) || text || chr(10) ||
         |    '  ' || chr(10) || 'site footer' AS page_text
         |  FROM documents),
         |ls AS (SELECT doc_id, string_split(page_text, chr(10)) AS lsa FROM pages),
         |lines AS (
         |  SELECT doc_id, i AS pos, lsa[i+1] AS line
         |  FROM ls, LATERAL (SELECT unnest(range(0, len(lsa))) AS i) g),
         |bp AS (
         |  SELECT lk FROM (
         |    SELECT DISTINCT doc_id, trim(line) AS lk FROM lines WHERE trim(line) <> '')
         |  GROUP BY 1 HAVING count(*) >= 10),
         |kept AS (
         |  SELECT l.doc_id, l.pos, l.line FROM lines l
         |  WHERE trim(l.line) NOT IN (SELECT lk FROM bp)),
         |clean AS (
         |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
         |  FROM kept GROUP BY 1)
         |SELECT p.doc_id, coalesce(c.clean_text, '') AS clean_text
         |FROM pages p LEFT JOIN clean c USING (doc_id)""".stripMargin,
    "q_urlnorm" ->
      s"""WITH raw AS (
         |  SELECT id, id // 3 AS pg, ((id // 3) * 2654435761) % 997 AS hostn, id % 6 AS d
         |  FROM range(0, 600) t(id)),
         |u AS (SELECT id,
         |  CASE WHEN d = 0 THEN 'https://host' || hostn || '.example/page/' || pg
         |       WHEN d = 1 THEN 'HTTPS://HOST' || hostn || '.EXAMPLE/page/' || pg
         |       WHEN d = 2 THEN 'https://host' || hostn || '.example:443/page/' || pg
         |       WHEN d = 3 THEN 'https://host' || hostn || '.example/page/' || pg || '#frag'
         |       WHEN d = 4 THEN 'https://host' || hostn || '.example/page/' || pg || '?utm_source=feed'
         |       ELSE 'https://host' || hostn || '.example/page/' || pg || '/' END AS url
         |  FROM raw),
         |n AS (SELECT url,
         |    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0) AS head
         |  FROM u),
         |p AS (SELECT url,
         |    regexp_replace(regexp_replace(lower(head),
         |      '^(https://[^/:]*):443$$', '\\1'), '^(http://[^/:]*):80$$', '\\1') AS lh,
         |    regexp_replace(substr(url, len(head) + 1), '#.*$$', '') AS nofrag
         |  FROM n),
         |q AS (SELECT url, lh,
         |    regexp_replace(split_part(nofrag, '?', 1), '/$$', '') AS path,
         |    CASE WHEN contains(nofrag, '?') THEN split_part(nofrag, '?', 2) ELSE '' END AS qry
         |  FROM p),
         |f AS (SELECT url, lh || path ||
         |    CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END AS norm_url
         |  FROM (SELECT url, lh, path,
         |          list_filter(string_split(qry, '&'),
         |            x -> NOT starts_with(x, 'utm_') AND len(x) > 0) AS kept
         |        FROM q))
         |SELECT norm_url, count(*) AS n_variants, min(url) AS canonical_url
         |FROM f GROUP BY 1""".stripMargin,
    "q_lang_count" -> "SELECT lang, count(*) AS n FROM documents GROUP BY 1",
    "q_cosine_pairs" ->
      s"""WITH v AS (SELECT vec_id AS g, embedding FROM embeddings WHERE vec_id % 20 = 0),
         |e AS (SELECT g, CAST(unnest(embedding) AS DOUBLE) AS x,
         |    generate_subscripts(embedding, 1) AS i FROM v),
         |d AS (SELECT a.g AS a, b.g AS b,
         |    SUM(a.x * b.x) AS dot, SUM(a.x * a.x) AS na2, SUM(b.x * b.x) AS nb2
         |  FROM e a JOIN e b ON a.i = b.i AND a.g < b.g GROUP BY 1, 2)
         |SELECT a, b, round(dot / (sqrt(na2) * sqrt(nb2)), 4) + 0e0 AS cosine FROM d""".stripMargin,
    "q_events_hourly" ->
      s"""SELECT event_type,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
         |  count(*) AS n, round(SUM(value), 3) AS value_sum
         |FROM events GROUP BY 1, 2""".stripMargin,
    "q_topk_orders" ->
      s"""WITH r AS (SELECT o_custkey, o_orderkey,
         |  row_number() OVER (PARTITION BY o_custkey
         |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
         |  FROM orders)
         |SELECT o_custkey, o_orderkey, rnk FROM r WHERE rnk <= 3""".stripMargin,
    "q_sessions" ->
      s"""WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value
         |  FROM events),
         |b AS (SELECT user_id, ts_sec, value,
         |  CASE WHEN ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) > 1800
         |       THEN 1 ELSE 0 END AS brk
         |  FROM e),
         |s AS (SELECT user_id, ts_sec, value,
         |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_sec
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
         |  FROM b)
         |SELECT user_id, sid, min(ts_sec) AS start_sec, max(ts_sec) AS end_sec,
         |  count(*) AS n, round(SUM(value), 3) AS val_sum
         |FROM s GROUP BY user_id, sid""".stripMargin,
    "q_segjoin" ->
      s"""WITH segs AS (SELECT CAST(s_suppkey AS BIGINT) AS id,
         |  CAST((s_suppkey*37) % 100 AS BIGINT) AS x1,
         |  CAST((s_suppkey*53) % 100 AS BIGINT) AS y1,
         |  CAST((s_suppkey*37) % 100 + (s_suppkey*29) % 21 - 10 AS BIGINT) AS x2,
         |  CAST((s_suppkey*53) % 100 + (s_suppkey*73) % 21 - 10 AS BIGINT) AS y2
         |  FROM supplier),
         |p AS (SELECT a.id AS a, b.id AS b,
         |  sign((a.x2-a.x1)*(b.y1-a.y1) - (a.y2-a.y1)*(b.x1-a.x1)) AS o1,
         |  sign((a.x2-a.x1)*(b.y2-a.y1) - (a.y2-a.y1)*(b.x2-a.x1)) AS o2,
         |  sign((b.x2-b.x1)*(a.y1-b.y1) - (b.y2-b.y1)*(a.x1-b.x1)) AS o3,
         |  sign((b.x2-b.x1)*(a.y2-b.y1) - (b.y2-b.y1)*(a.x2-b.x1)) AS o4,
         |  (greatest(least(a.x1,a.x2), least(b.x1,b.x2))
         |     < least(greatest(a.x1,a.x2), greatest(b.x1,b.x2))
         |   OR greatest(least(a.y1,a.y2), least(b.y1,b.y2))
         |     < least(greatest(a.y1,a.y2), greatest(b.y1,b.y2))) AS strict_overlap
         |  FROM segs a JOIN segs b ON a.id < b.id
         |  AND least(a.x1,a.x2) <= greatest(b.x1,b.x2)
         |  AND greatest(a.x1,a.x2) >= least(b.x1,b.x2)
         |  AND least(a.y1,a.y2) <= greatest(b.y1,b.y2)
         |  AND greatest(a.y1,a.y2) >= least(b.y1,b.y2))
         |SELECT a, b, CAST(CASE
         |    WHEN o1*o2 < 0 AND o3*o4 < 0 THEN 1
         |    WHEN o1 = 0 AND o2 = 0 AND o3 = 0 AND o4 = 0
         |      THEN CASE WHEN strict_overlap THEN 3 ELSE 2 END
         |    ELSE 2 END AS INTEGER) AS kind
         |FROM p
         |WHERE NOT (o1 > 0 AND o2 > 0) AND NOT (o1 < 0 AND o2 < 0)
         |  AND NOT (o3 > 0 AND o4 > 0) AND NOT (o3 < 0 AND o4 < 0)""".stripMargin,
    "q_sweep_bo" ->
      // the constant g equi-key steers DuckDB onto a hash join: its
      // IEJoin operator hits an internal assertion ("requires a flat
      // vector") on this inequality join above a few hundred rows
      s"""WITH segs AS (SELECT CAST(o_orderkey AS BIGINT) AS id, CAST(0 AS BIGINT) AS g,
         |  CAST((o_orderkey*37) % 100 AS BIGINT) AS x1,
         |  CAST((o_orderkey*53) % 100 AS BIGINT) AS y1,
         |  CAST((o_orderkey*37) % 100 + (o_orderkey*29) % 21 - 10 AS BIGINT) AS x2,
         |  CAST((o_orderkey*53) % 100 + (o_orderkey*73) % 21 - 10 AS BIGINT) AS y2
         |  FROM orders WHERE o_orderkey % 23 = 0),
         |p AS (SELECT a.id AS a, b.id AS b,
         |  sign((a.x2-a.x1)*(b.y1-a.y1) - (a.y2-a.y1)*(b.x1-a.x1)) AS o1,
         |  sign((a.x2-a.x1)*(b.y2-a.y1) - (a.y2-a.y1)*(b.x2-a.x1)) AS o2,
         |  sign((b.x2-b.x1)*(a.y1-b.y1) - (b.y2-b.y1)*(a.x1-b.x1)) AS o3,
         |  sign((b.x2-b.x1)*(a.y2-b.y1) - (b.y2-b.y1)*(a.x2-b.x1)) AS o4,
         |  (greatest(least(a.x1,a.x2), least(b.x1,b.x2))
         |     < least(greatest(a.x1,a.x2), greatest(b.x1,b.x2))
         |   OR greatest(least(a.y1,a.y2), least(b.y1,b.y2))
         |     < least(greatest(a.y1,a.y2), greatest(b.y1,b.y2))) AS strict_overlap
         |  FROM segs a JOIN segs b ON a.g = b.g AND a.id < b.id
         |  AND least(a.x1,a.x2) <= greatest(b.x1,b.x2)
         |  AND greatest(a.x1,a.x2) >= least(b.x1,b.x2)
         |  AND least(a.y1,a.y2) <= greatest(b.y1,b.y2)
         |  AND greatest(a.y1,a.y2) >= least(b.y1,b.y2))
         |SELECT a, b, CAST(CASE
         |    WHEN o1*o2 < 0 AND o3*o4 < 0 THEN 1
         |    WHEN o1 = 0 AND o2 = 0 AND o3 = 0 AND o4 = 0
         |      THEN CASE WHEN strict_overlap THEN 3 ELSE 2 END
         |    ELSE 2 END AS INTEGER) AS kind
         |FROM p
         |WHERE NOT (o1 > 0 AND o2 > 0) AND NOT (o1 < 0 AND o2 < 0)
         |  AND NOT (o3 > 0 AND o4 > 0) AND NOT (o3 < 0 AND o4 < 0)""".stripMargin,
    "q_monotone_pip" ->
      s"""WITH combv AS (
         |  SELECT n_nationkey AS pid, seq,
         |    CASE WHEN seq = 0 THEN ($CxSql) - 8e0 + 1e0/64e0
         |         ELSE CASE WHEN seq <= 2 THEN ($CxSql) + 8e0 + 1e0/64e0
         |              ELSE ($CxSql) + 8e0 + 1e0/64e0 - (seq - 2)/8e0 END END AS x,
         |    CASE WHEN seq <= 1 THEN ($CySql) - 5e0 + 1e0/64e0
         |         WHEN seq = 2 OR (seq - 2) % 2 = 0 THEN ($CySql) + 5e0 + 1e0/64e0
         |         ELSE ($CySql) + 5e0 + 1e0/64e0
         |              - (1e0 + ((n_nationkey + seq - 2) % 3) * 0.5e0) END AS y
         |  FROM nation, LATERAL (SELECT unnest(range(0, 131)) AS seq) g),
         |edges AS (SELECT v1.pid, v1.x AS x1, v1.y AS y1, v2.x AS x2, v2.y AS y2
         |  FROM combv v1 JOIN combv v2 ON v1.pid = v2.pid AND v2.seq = (v1.seq + 1) % 131),
         |pts AS (SELECT c_custkey, c_nationkey, $PxSql AS px, $PySql AS py FROM customer),
         |par AS (SELECT p.c_custkey, count(*) AS crossings
         |  FROM pts p JOIN edges e ON e.pid = p.c_nationkey
         |  AND ((e.y1 > p.py) != (e.y2 > p.py))
         |  AND p.px < (e.x2 - e.x1) * (p.py - e.y1) / (e.y2 - e.y1) + e.x1
         |  GROUP BY 1)
         |SELECT p.c_custkey, COALESCE(par.crossings % 2 = 1, FALSE) AS inside
         |FROM pts p LEFT JOIN par ON p.c_custkey = par.c_custkey""".stripMargin,
    "q_minhash_pairs" ->
      s"""WITH doubled AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
         |tok AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM doubled),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i+1:i+3], ' ') AS s
         |  FROM tok, LATERAL (SELECT unnest(range(0, greatest(len(ws) - 3, 0) + 1)) AS i) g
         |  WHERE i + 3 <= len(ws)),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |ov AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS ni
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT ov.a, ov.b,
         |  CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) AS jaccard
         |FROM ov JOIN sz sa ON ov.a = sa.doc_id JOIN sz sb ON ov.b = sb.doc_id
         |WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.9""".stripMargin,
    "q_asof" ->
      s"""WITH l AS (SELECT user_id, event_id,
         |  CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
         |r AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS rts,
         |  max(value) AS ref_value
         |  FROM events WHERE event_id % 5 = 0 GROUP BY 1, 2)
         |SELECT l.user_id, l.event_id, l.tsec, r.rts AS ref_ts, r.ref_value
         |FROM l ASOF LEFT JOIN r
         |  ON l.user_id = r.user_id AND l.tsec >= r.rts""".stripMargin,
    "q_interval" ->
      s"""WITH iv AS (SELECT s_suppkey,
         |  1704067200 + (s_suppkey*9973) % 2000000 AS st,
         |  1704067200 + (s_suppkey*9973) % 2000000 + 20000 + (s_suppkey*37) % 50000 AS en
         |  FROM supplier),
         |e AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events)
         |SELECT s_suppkey, count(*) AS n_events
         |FROM e JOIN iv ON e.tsec >= iv.st AND e.tsec <= iv.en
         |GROUP BY 1""".stripMargin,
    "q_kinematics" ->
      s"""WITH f AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
         |  ((event_id*7919) % 7200)/20e0 - 180e0 AS px,
         |  ((event_id*104729) % 3400)/20e0 - 85e0 AS py
         |  FROM events),
         |l AS (SELECT user_id, tsec, px, py,
         |  lag(tsec) OVER w AS pts, lag(px) OVER w AS plon, lag(py) OVER w AS plat
         |  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY tsec, px, py))
         |SELECT user_id, tsec, px, py,
         |  CASE WHEN plon IS NOT NULL THEN
         |    CAST(round(${havSql("plon", "plat", "px", "py")}) AS BIGINT) END AS dist_m,
         |  tsec - pts AS dt_sec,
         |  CASE WHEN plon IS NOT NULL AND tsec - pts > 0 THEN
         |    round(${havSql("plon", "plat", "px", "py")} / (tsec - pts), 6) END AS speed_mps,
         |  CASE WHEN plon IS NOT NULL THEN
         |    round(${bearingSql("plon", "plat", "px", "py")}, 4) END AS heading_deg
         |FROM l""".stripMargin,
    "q_od" ->
      s"""WITH f AS (SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
         |  ((event_id*7919) % 7200)/20e0 - 180e0 AS px,
         |  ((event_id*104729) % 3400)/20e0 - 85e0 AS py
         |  FROM events),
         |c AS (SELECT u, tsec, px, py,
         |  LEAST(GREATEST(CAST(floor((px + 180e0) / 360e0 * 16e0) AS BIGINT), 0), 15) AS cx,
         |  LEAST(GREATEST(CAST(floor((90e0 - py) / 180e0 * 16e0) AS BIGINT), 0), 15) AS cy
         |  FROM f),
         |m AS (SELECT u, tsec, px, py, ${mortonSql("cx", "cy", 4)} AS cell FROM c),
         |l AS (SELECT u, cell,
         |  lag(cell) OVER (PARTITION BY u ORDER BY tsec, px, py) AS ocell FROM m)
         |SELECT ocell AS origin_cell, cell AS dest_cell,
         |  count(*) AS flows, count(DISTINCT u) AS entities
         |FROM l WHERE ocell IS NOT NULL AND ocell <> cell
         |GROUP BY 1, 2""".stripMargin,
    "q_staypoints" ->
      s"""WITH f AS (SELECT CAST(user_id AS BIGINT) AS u,
         |  CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
         |g AS (SELECT u, tsec, CAST(floor(tsec / 86400e0) AS BIGINT) AS c FROM f),
         |p AS (SELECT u, tsec, c,
         |  (((u*13 + c*17) % 300) - 150 + 0.5e0) + (tsec % 5) / 1024e0 AS px,
         |  (((u*7 + c*11) % 120) - 60 + 0.5e0)
         |    + (CAST(floor(tsec / 5e0) AS BIGINT) % 5) / 1024e0 AS py
         |  FROM g)
         |SELECT u AS user, min(tsec) AS start_ts, max(tsec) AS end_ts,
         |  CAST(count(*) AS INTEGER) AS n_fixes,
         |  sum(px) / count(*) AS clon, sum(py) / count(*) AS clat
         |FROM p GROUP BY u, c
         |HAVING count(*) >= 2 AND max(tsec) - min(tsec) >= 3600""".stripMargin,
    "q_shuffle" ->
      s"""SELECT doc_id, row_number() OVER (
         |  ORDER BY (doc_id * 48271) % 2147483647, doc_id) - 1 AS pos
         |FROM documents""".stripMargin,
    "q_datasplit" ->
      s"""SELECT doc_id, CASE
         |  WHEN (doc_id * 16807) % 2147483647 % 1000000 < 800000 THEN 'train'
         |  WHEN (doc_id * 16807) % 2147483647 % 1000000 < 900000 THEN 'valid'
         |  ELSE 'test' END AS split
         |FROM documents""".stripMargin,
    "q_mixture" ->
      s"""WITH r AS (SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang
         |    ORDER BY (doc_id * 48271) % 2147483647, doc_id) AS rn
         |  FROM documents WHERE lang IN ('en', 'fr', 'de'))
         |SELECT doc_id, lang FROM r
         |WHERE rn <= CASE lang WHEN 'en' THEN 50 WHEN 'fr' THEN 33 ELSE 16 END""".stripMargin,
    "q_mapmatch" ->
      s"""WITH pts AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |segs AS (SELECT CAST(n_nationkey AS BIGINT) * 10 + j AS sid,
         |  ($CxSql) + j * 2e0 - 3e0 AS x1, ($CySql) + j - 1e0 AS y1
         |  FROM nation, (SELECT unnest([0, 1, 2]) AS j) js),
         |p AS (SELECT c_custkey, px, py, sid, x1, y1,
         |  x1 + 3e0 AS x2, y1 + 1.5e0 AS y2,
         |  LEAST(GREATEST(((px - x1)*(x1 + 3e0 - x1) + (py - y1)*(y1 + 1.5e0 - y1))
         |        / ((x1 + 3e0 - x1)*(x1 + 3e0 - x1) + (y1 + 1.5e0 - y1)*(y1 + 1.5e0 - y1)),
         |        0e0), 1e0) AS tt
         |  FROM pts, segs),
         |dd AS (SELECT c_custkey, sid, sqrt(
         |  (px - (x1 + tt*(x2 - x1))) * (px - (x1 + tt*(x2 - x1)))
         |  + (py - (y1 + tt*(y2 - y1))) * (py - (y1 + tt*(y2 - y1)))) AS dist
         |  FROM p),
         |r AS (SELECT c_custkey, sid, dist, row_number() OVER (
         |    PARTITION BY c_custkey ORDER BY dist ASC, sid ASC) AS rn
         |  FROM dd WHERE dist <= 5e0)
         |SELECT c_custkey, sid AS seg_id, round(dist, 9) AS dist
         |FROM r WHERE rn = 1""".stripMargin,
    "q_terrain_idx" ->
      s"""WITH $DemSql
         |SELECT t.x, t.y,
         |  (abs(t.v - na.v) + abs(t.v - nb.v) + abs(t.v - nc.v) + abs(t.v - nd.v)
         |   + abs(t.v - nf.v) + abs(t.v - ng.v) + abs(t.v - nh.v) + abs(t.v - ni.v))
         |   / 8e0 AS tri,
         |  t.v - (na.v + nb.v + nc.v + nd.v + nf.v + ng.v + nh.v + ni.v) / 8e0 AS tpi,
         |  greatest(t.v, na.v, nb.v, nc.v, nd.v, nf.v, ng.v, nh.v, ni.v)
         |   - least(t.v, na.v, nb.v, nc.v, nd.v, nf.v, ng.v, nh.v, ni.v) AS roughness
         |FROM g t
         |JOIN g na ON na.x = t.x - 1 AND na.y = t.y + 1
         |JOIN g nb ON nb.x = t.x     AND nb.y = t.y + 1
         |JOIN g nc ON nc.x = t.x + 1 AND nc.y = t.y + 1
         |JOIN g nd ON nd.x = t.x - 1 AND nd.y = t.y
         |JOIN g nf ON nf.x = t.x + 1 AND nf.y = t.y
         |JOIN g ng ON ng.x = t.x - 1 AND ng.y = t.y - 1
         |JOIN g nh ON nh.x = t.x     AND nh.y = t.y - 1
         |JOIN g ni ON ni.x = t.x + 1 AND ni.y = t.y - 1""".stripMargin,
    "q_lisa" -> {
      val cnt = Seq("na", "nb", "nc", "nd", "nf", "ng", "nh", "ni")
        .map(a => s"CAST(($a.v IS NOT NULL) AS BIGINT)").mkString(" + ")
      val fsum = "0e0 + coalesce(na.v, 0) + coalesce(nb.v, 0) + coalesce(nc.v, 0)" +
        " + coalesce(nd.v, 0) + t.v + coalesce(nf.v, 0)" +
        " + coalesce(ng.v, 0) + coalesce(nh.v, 0) + coalesce(ni.v, 0)"
      s"""WITH $DemSql,
         |gl AS (SELECT sum(v) AS sv, CAST(count(*) AS DOUBLE) AS n FROM g),
         |f AS (SELECT t.x, t.y, t.v,
         |  CAST($cnt + 1 AS DOUBLE) AS wi,
         |  $fsum AS fsum
         |  FROM g t
         |  LEFT JOIN g na ON na.x = t.x - 1 AND na.y = t.y + 1
         |  LEFT JOIN g nb ON nb.x = t.x     AND nb.y = t.y + 1
         |  LEFT JOIN g nc ON nc.x = t.x + 1 AND nc.y = t.y + 1
         |  LEFT JOIN g nd ON nd.x = t.x - 1 AND nd.y = t.y
         |  LEFT JOIN g nf ON nf.x = t.x + 1 AND nf.y = t.y
         |  LEFT JOIN g ng ON ng.x = t.x - 1 AND ng.y = t.y - 1
         |  LEFT JOIN g nh ON nh.x = t.x     AND nh.y = t.y - 1
         |  LEFT JOIN g ni ON ni.x = t.x + 1 AND ni.y = t.y - 1),
         |terms AS (SELECT x, y, n,
         |  (n * v - sv) * (n * (fsum - v) - sv * (wi - 1e0)) AS znb,
         |  (n * v - sv) * (n * v - sv) AS zz
         |  FROM f, gl),
         |tot AS (SELECT sum(zz) AS szz FROM terms)
         |SELECT x, y, CASE WHEN szz > 0 THEN znb * (n / szz) END AS lisa
         |FROM terms, tot""".stripMargin
    },
    "q_pyramid" ->
      s"""WITH $DemSql,
         |l1 AS (SELECT (x - ((x % 2 + 2) % 2)) / 2 AS x,
         |  (y - ((y % 2 + 2) % 2)) / 2 AS y,
         |  CAST(count(*) AS BIGINT) AS n,
         |  sum(v) AS vsum FROM g GROUP BY 1, 2)
         |SELECT CAST((x - ((x % 3 + 3) % 3)) / 3 AS BIGINT) AS x,
         |  CAST((y - ((y % 3 + 3) % 3)) / 3 AS BIGINT) AS y,
         |  count(*) AS n, sum(vsum) AS vsum, min(vsum) AS vmin,
         |  max(vsum) AS vmax, sum(vsum) / count(*) AS vmean
         |FROM l1 GROUP BY 1, 2""".stripMargin,
    "q_hotspots" -> {
      val cnt = Seq("na", "nb", "nc", "nd", "nf", "ng", "nh", "ni")
        .map(a => s"CAST(($a.v IS NOT NULL) AS BIGINT)").mkString(" + ")
      val fsum = "0e0 + coalesce(na.v, 0) + coalesce(nb.v, 0) + coalesce(nc.v, 0)" +
        " + coalesce(nd.v, 0) + t.v + coalesce(nf.v, 0)" +
        " + coalesce(ng.v, 0) + coalesce(nh.v, 0) + coalesce(ni.v, 0)"
      s"""WITH $DemSql,
         |gl AS (SELECT sum(v) AS sv, sum(v*v) AS sq,
         |  CAST(count(*) AS DOUBLE) AS n FROM g),
         |f AS (SELECT t.x, t.y,
         |  CAST($cnt + 1 AS DOUBLE) AS wi,
         |  $fsum AS fsum
         |  FROM g t
         |  LEFT JOIN g na ON na.x = t.x - 1 AND na.y = t.y + 1
         |  LEFT JOIN g nb ON nb.x = t.x     AND nb.y = t.y + 1
         |  LEFT JOIN g nc ON nc.x = t.x + 1 AND nc.y = t.y + 1
         |  LEFT JOIN g nd ON nd.x = t.x - 1 AND nd.y = t.y
         |  LEFT JOIN g nf ON nf.x = t.x + 1 AND nf.y = t.y
         |  LEFT JOIN g ng ON ng.x = t.x - 1 AND ng.y = t.y - 1
         |  LEFT JOIN g nh ON nh.x = t.x     AND nh.y = t.y - 1
         |  LEFT JOIN g ni ON ni.x = t.x + 1 AND ni.y = t.y - 1)
         |SELECT x, y, CASE WHEN
         |    sqrt(sq / n - (sv / n) * (sv / n))
         |      * sqrt((n * wi - wi * wi) / (n - 1e0)) > 0
         |  THEN round((fsum - (sv / n) * wi) / (
         |    sqrt(sq / n - (sv / n) * (sv / n))
         |      * sqrt((n * wi - wi * wi) / (n - 1e0))), 6)
         |  END AS gi_star
         |FROM f, gl""".stripMargin
    },
    "q_moran" -> {
      val fsum = "0e0 + coalesce(na.v, 0) + coalesce(nb.v, 0) + coalesce(nc.v, 0)" +
        " + coalesce(nd.v, 0) + t.v + coalesce(nf.v, 0)" +
        " + coalesce(ng.v, 0) + coalesce(nh.v, 0) + coalesce(ni.v, 0)"
      val cnt = Seq("na", "nb", "nc", "nd", "nf", "ng", "nh", "ni")
        .map(a => s"CAST(($a.v IS NOT NULL) AS BIGINT)").mkString(" + ")
      s"""WITH $DemSql,
         |gl AS (SELECT sum(v) AS sv, CAST(count(*) AS DOUBLE) AS n FROM g),
         |f AS (SELECT t.x, t.y, t.v,
         |  CAST($cnt + 1 AS DOUBLE) AS wi,
         |  $fsum AS fsum
         |  FROM g t
         |  LEFT JOIN g na ON na.x = t.x - 1 AND na.y = t.y + 1
         |  LEFT JOIN g nb ON nb.x = t.x     AND nb.y = t.y + 1
         |  LEFT JOIN g nc ON nc.x = t.x + 1 AND nc.y = t.y + 1
         |  LEFT JOIN g nd ON nd.x = t.x - 1 AND nd.y = t.y
         |  LEFT JOIN g nf ON nf.x = t.x + 1 AND nf.y = t.y
         |  LEFT JOIN g ng ON ng.x = t.x - 1 AND ng.y = t.y - 1
         |  LEFT JOIN g nh ON nh.x = t.x     AND nh.y = t.y - 1
         |  LEFT JOIN g ni ON ni.x = t.x + 1 AND ni.y = t.y - 1),
         |terms AS (SELECT n, wi - 1e0 AS w,
         |  (n * v - sv) * (n * (fsum - v) - sv * (wi - 1e0)) AS znb,
         |  (n * v - sv) * (n * v - sv) AS zz
         |  FROM f, gl)
         |SELECT CAST(max(n) AS BIGINT) AS n_cells,
         |  CAST(sum(w) AS BIGINT) AS sum_w,
         |  CASE WHEN sum(zz) > 0
         |    THEN (max(n) / sum(w)) * (sum(znb) / sum(zz)) END AS moran_i
         |FROM terms""".stripMargin
    },
    "q_kde" ->
      s"""WITH pts AS (SELECT $PxSql AS px, $PySql AS py FROM customer),
         |sc AS (SELECT px, py,
         |  LEAST(GREATEST(CAST(floor((px + 180e0) / 360e0 * 16e0) AS BIGINT), 0), 15) AS sx,
         |  LEAST(GREATEST(CAST(floor((90e0 - py) / 180e0 * 16e0) AS BIGINT), 0), 15) AS sy
         |  FROM pts),
         |offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)),
         |nb AS (SELECT px, py, (sx + dx + 16) % 16 AS nx, sy + dy AS ny
         |  FROM sc, offs WHERE sy + dy >= 0 AND sy + dy <= 15),
         |wts AS (SELECT ${mortonSql("nx", "ny", 4)} AS cell,
         |  CAST(floor(1048576e0 * exp(-(
         |    (px - (-180e0 + (nx + 0.5e0) * 22.5e0)) * (px - (-180e0 + (nx + 0.5e0) * 22.5e0))
         |    + (py - (90e0 - (ny + 0.5e0) * 11.25e0)) * (py - (90e0 - (ny + 0.5e0) * 11.25e0))
         |  ) / 200e0)) AS BIGINT) AS w FROM nb)
         |SELECT cell, CAST(sum(w) AS BIGINT) AS density, count(*) AS n_samples
         |FROM wts GROUP BY 1""".stripMargin,
    "q_idw" ->
      s"""WITH c AS (SELECT c_custkey, $PxSql AS px, $PySql AS py,
         |  CAST(c_custkey % 1000 AS DOUBLE) AS v FROM customer),
         |n AS (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation),
         |p AS (SELECT n_nationkey, v,
         |  (cx - px)*(cx - px) + (cy - py)*(cy - py) AS d2
         |  FROM n, c
         |  WHERE sqrt((cx - px)*(cx - px) + (cy - py)*(cy - py)) <= 5.625e0),
         |w AS (SELECT n_nationkey, v, d2,
         |  CASE WHEN d2 > 0 THEN CAST(LEAST(floor(1048576e0 / d2), 1099511627776e0) AS BIGINT) END AS wgt
         |  FROM p)
         |SELECT n_nationkey,
         |  CASE WHEN min(d2) = 0 THEN min(CASE WHEN d2 = 0 THEN v END)
         |       ELSE sum(wgt * v) / sum(wgt) END AS idw_value,
         |  count(*) AS n_samples
         |FROM w GROUP BY n_nationkey""".stripMargin,
    "q_flowacc" -> {
      val inv = 1.0 / math.sqrt(2.0)
      s"""WITH RECURSIVE g0 AS (SELECT DISTINCT CAST(c_custkey % 30 AS BIGINT) AS x,
         |  CAST(CAST(floor(c_custkey / 30) AS BIGINT) % 20 AS BIGINT) AS y FROM customer),
         |g AS (SELECT x, y, CAST((3*x*x + 2*y*y + x*y) % 97 AS DOUBLE) AS v FROM g0),
         |dd AS (SELECT t.x, t.y,
         |  (t.v - nf.v) AS d1, (t.v - ni.v) * $inv AS d2, (t.v - nh.v) AS d4,
         |  (t.v - ng.v) * $inv AS d8, (t.v - nd.v) AS d16, (t.v - na.v) * $inv AS d32,
         |  (t.v - nb.v) AS d64, (t.v - nc.v) * $inv AS d128
         |  FROM g t
         |  JOIN g na ON na.x = t.x - 1 AND na.y = t.y + 1
         |  JOIN g nb ON nb.x = t.x     AND nb.y = t.y + 1
         |  JOIN g nc ON nc.x = t.x + 1 AND nc.y = t.y + 1
         |  JOIN g nd ON nd.x = t.x - 1 AND nd.y = t.y
         |  JOIN g nf ON nf.x = t.x + 1 AND nf.y = t.y
         |  JOIN g ng ON ng.x = t.x - 1 AND ng.y = t.y - 1
         |  JOIN g nh ON nh.x = t.x     AND nh.y = t.y - 1
         |  JOIN g ni ON ni.x = t.x + 1 AND ni.y = t.y - 1),
         |m AS (SELECT x, y, d1, d2, d4, d8, d16, d32, d64, d128,
         |  greatest(d1, d2, d4, d8, d16, d32, d64, d128) AS md FROM dd),
         |fd AS (SELECT x, y, CASE WHEN md <= 0 THEN 0
         |  WHEN d1 = md THEN 1 WHEN d2 = md THEN 2 WHEN d4 = md THEN 4
         |  WHEN d8 = md THEN 8 WHEN d16 = md THEN 16 WHEN d32 = md THEN 32
         |  WHEN d64 = md THEN 64 ELSE 128 END AS code FROM m),
         |e AS (SELECT x AS ux, y AS uy,
         |  x + CASE code WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 0 WHEN 8 THEN -1
         |    WHEN 16 THEN -1 WHEN 32 THEN -1 WHEN 64 THEN 0 ELSE 1 END AS vx,
         |  y + CASE code WHEN 1 THEN 0 WHEN 2 THEN -1 WHEN 4 THEN -1 WHEN 8 THEN -1
         |    WHEN 16 THEN 0 WHEN 32 THEN 1 WHEN 64 THEN 1 ELSE 1 END AS vy
         |  FROM fd WHERE code <> 0),
         |r(sx, sy, cx, cy) AS (
         |  SELECT ux, uy, vx, vy FROM e
         |  UNION
         |  SELECT r.sx, r.sy, e.vx, e.vy FROM r JOIN e ON e.ux = r.cx AND e.uy = r.cy),
         |a AS (SELECT cx, cy, count(*) AS acc FROM r GROUP BY 1, 2)
         |SELECT g.x, g.y, CAST(COALESCE(a.acc, 0) AS BIGINT) AS acc
         |FROM g LEFT JOIN a ON a.cx = g.x AND a.cy = g.y""".stripMargin
    },
    "q_flowdir" -> {
      val inv = 1.0 / math.sqrt(2.0)
      s"""WITH $DemSql,
         |d AS (SELECT t.x, t.y,
         |  (t.v - nf.v) AS d1, (t.v - ni.v) * $inv AS d2, (t.v - nh.v) AS d4,
         |  (t.v - ng.v) * $inv AS d8, (t.v - nd.v) AS d16, (t.v - na.v) * $inv AS d32,
         |  (t.v - nb.v) AS d64, (t.v - nc.v) * $inv AS d128
         |  FROM g t
         |  JOIN g na ON na.x = t.x - 1 AND na.y = t.y + 1
         |  JOIN g nb ON nb.x = t.x     AND nb.y = t.y + 1
         |  JOIN g nc ON nc.x = t.x + 1 AND nc.y = t.y + 1
         |  JOIN g nd ON nd.x = t.x - 1 AND nd.y = t.y
         |  JOIN g nf ON nf.x = t.x + 1 AND nf.y = t.y
         |  JOIN g ng ON ng.x = t.x - 1 AND ng.y = t.y - 1
         |  JOIN g nh ON nh.x = t.x     AND nh.y = t.y - 1
         |  JOIN g ni ON ni.x = t.x + 1 AND ni.y = t.y - 1),
         |m AS (SELECT x, y, d1, d2, d4, d8, d16, d32, d64, d128,
         |  greatest(d1, d2, d4, d8, d16, d32, d64, d128) AS md FROM d)
         |SELECT x, y, CAST(CASE WHEN md <= 0 THEN 0
         |  WHEN d1 = md THEN 1 WHEN d2 = md THEN 2 WHEN d4 = md THEN 4
         |  WHEN d8 = md THEN 8 WHEN d16 = md THEN 16 WHEN d32 = md THEN 32
         |  WHEN d64 = md THEN 64 ELSE 128 END AS INTEGER) AS flow_dir
         |FROM m""".stripMargin
    },
    "q_focal" -> {
      val cnt = Seq("na", "nb", "nc", "nd", "nf", "ng", "nh", "ni")
        .map(a => s"CAST(($a.v IS NOT NULL) AS BIGINT)").mkString(" + ")
      s"""WITH $DemSql
         |SELECT t.x, t.y,
         |  $cnt + 1 AS fcount,
         |  0e0 + coalesce(na.v, 0) + coalesce(nb.v, 0) + coalesce(nc.v, 0)
         |    + coalesce(nd.v, 0) + t.v + coalesce(nf.v, 0)
         |    + coalesce(ng.v, 0) + coalesce(nh.v, 0) + coalesce(ni.v, 0) AS fsum,
         |  least(coalesce(na.v, 9e99), coalesce(nb.v, 9e99), coalesce(nc.v, 9e99),
         |    coalesce(nd.v, 9e99), t.v, coalesce(nf.v, 9e99),
         |    coalesce(ng.v, 9e99), coalesce(nh.v, 9e99), coalesce(ni.v, 9e99)) AS fmin,
         |  greatest(coalesce(na.v, -9e99), coalesce(nb.v, -9e99), coalesce(nc.v, -9e99),
         |    coalesce(nd.v, -9e99), t.v, coalesce(nf.v, -9e99),
         |    coalesce(ng.v, -9e99), coalesce(nh.v, -9e99), coalesce(ni.v, -9e99)) AS fmax,
         |  (0e0 + coalesce(na.v, 0) + coalesce(nb.v, 0) + coalesce(nc.v, 0)
         |    + coalesce(nd.v, 0) + t.v + coalesce(nf.v, 0)
         |    + coalesce(ng.v, 0) + coalesce(nh.v, 0) + coalesce(ni.v, 0))
         |    / CAST($cnt + 1 AS DOUBLE) AS fmean
         |FROM g t
         |LEFT JOIN g na ON na.x = t.x - 1 AND na.y = t.y + 1
         |LEFT JOIN g nb ON nb.x = t.x     AND nb.y = t.y + 1
         |LEFT JOIN g nc ON nc.x = t.x + 1 AND nc.y = t.y + 1
         |LEFT JOIN g nd ON nd.x = t.x - 1 AND nd.y = t.y
         |LEFT JOIN g nf ON nf.x = t.x + 1 AND nf.y = t.y
         |LEFT JOIN g ng ON ng.x = t.x - 1 AND ng.y = t.y - 1
         |LEFT JOIN g nh ON nh.x = t.x     AND nh.y = t.y - 1
         |LEFT JOIN g ni ON ni.x = t.x + 1 AND ni.y = t.y - 1""".stripMargin
    },
    "q_terrain" -> {
      val c1 = math.cos(math.toRadians(45.0))
      val s1 = math.sin(math.toRadians(45.0))
      val az = math.toRadians(135.0)
      s"""WITH $DemSql,
         |d AS (SELECT t.x, t.y,
         |  ((nc.v + 2e0*nf.v + ni.v) - (na.v + 2e0*nd.v + ng.v)) / 8e0 AS dzdx,
         |  ((na.v + 2e0*nb.v + nc.v) - (ng.v + 2e0*nh.v + ni.v)) / 8e0 AS dzdy
         |  FROM g t
         |  JOIN g na ON na.x = t.x - 1 AND na.y = t.y + 1
         |  JOIN g nb ON nb.x = t.x     AND nb.y = t.y + 1
         |  JOIN g nc ON nc.x = t.x + 1 AND nc.y = t.y + 1
         |  JOIN g nd ON nd.x = t.x - 1 AND nd.y = t.y
         |  JOIN g nf ON nf.x = t.x + 1 AND nf.y = t.y
         |  JOIN g ng ON ng.x = t.x - 1 AND ng.y = t.y - 1
         |  JOIN g nh ON nh.x = t.x     AND nh.y = t.y - 1
         |  JOIN g ni ON ni.x = t.x + 1 AND ni.y = t.y - 1)
         |SELECT x, y,
         |  round(degrees(atan(1e0 * sqrt(dzdx*dzdx + dzdy*dzdy))), 6) AS slope_deg,
         |  round(CASE WHEN dzdx = 0 AND dzdy = 0 THEN NULL ELSE
         |    CASE WHEN degrees(atan2(-dzdx, -dzdy)) < 0
         |         THEN degrees(atan2(-dzdx, -dzdy)) + 360e0
         |         ELSE degrees(atan2(-dzdx, -dzdy)) + 0e0 END END, 6) AS aspect_deg,
         |  round(greatest(255e0 * ($c1 * cos(atan(1e0 * sqrt(dzdx*dzdx + dzdy*dzdy)))
         |    + $s1 * sin(atan(1e0 * sqrt(dzdx*dzdx + dzdy*dzdy)))
         |      * cos($az - atan2(-dzdy, -dzdx))), 0e0), 6) AS hillshade
         |FROM d""".stripMargin
    },
    "q_geofence" ->
      s"""WITH f AS (SELECT user_id AS key,
         |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         |  ((event_id*7919) % 7200)/20e0 - 180e0 AS px,
         |  ((event_id*104729) % 3400)/20e0 - 85e0 AS py
         |  FROM events),
         |z AS (SELECT CAST(n_nationkey AS BIGINT) AS zone,
         |  ($CxSql) + 1e0/64 AS cx, ($CySql) + 1e0/64 AS cy
         |  FROM nation),
         |p AS (SELECT f.key, f.ts_sec, f.px, f.py, z.zone,
         |  (f.px >= z.cx - 20 AND f.px <= z.cx + 20
         |   AND f.py >= z.cy - 20 AND f.py <= z.cy + 20) AS inside
         |  FROM f, z),
         |l AS (SELECT key, zone, ts_sec, inside,
         |  coalesce(lag(inside) OVER (
         |    PARTITION BY key, zone ORDER BY ts_sec, px, py), false) AS prev
         |  FROM p)
         |SELECT key, zone, ts_sec,
         |  CASE WHEN inside THEN 'enter' ELSE 'exit' END AS event
         |FROM l WHERE inside <> prev""".stripMargin,
    "q_roadnet" ->
      s"""WITH su AS (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier),
         |pos AS (SELECT k, (k*7) % 100000 AS x, (k*3) % 80000 AS y FROM su),
         |seg AS (SELECT a.k,
         |  sqrt(CAST((b.x - a.x)*(b.x - a.x) + (b.y - a.y)*(b.y - a.y) AS DOUBLE)) AS len
         |  FROM pos a JOIN pos b ON b.k = a.k + 1),
         |c AS (SELECT k, sum(len) OVER (ORDER BY k
         |  ROWS UNBOUNDED PRECEDING) AS cum FROM seg),
         |nd AS (SELECT CAST(0 AS BIGINT) AS k, 0e0 AS dist
         |  UNION ALL SELECT k + 1, cum FROM c)
         |SELECT (CAST(floor(p.x / 0.5e0 + 0.5e0) AS BIGINT) + 536870912) * 2147483648
         |  + (CAST(floor(p.y / 0.5e0 + 0.5e0) AS BIGINT) + 536870912) AS node,
         |  round(nd.dist, 6) AS dist
         |FROM nd JOIN pos p ON p.k = nd.k""".stripMargin,
    "q_isochrone" ->
      s"""WITH RECURSIVE
         |su AS (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier),
         |cnt AS (SELECT COUNT(*) AS n FROM su),
         |e0 AS (
         |  SELECT k AS a, (k + 1) % (SELECT n FROM cnt) AS b, 1 + (k*7) % 5 AS w FROM su
         |  UNION ALL
         |  SELECT k, (k*13 + 3) % (SELECT n FROM cnt), 3 + (k*11) % 7 FROM su
         |   WHERE k % 5 = 0 AND (k*13 + 3) % (SELECT n FROM cnt) <> k),
         |e AS (SELECT a, b, w FROM e0 UNION ALL SELECT b AS a, a AS b, w FROM e0),
         |r(node, dist, src) AS (
         |  SELECT k, CAST(0 AS BIGINT), k FROM su WHERE k % 7 = 1
         |  UNION
         |  SELECT e.b, r.dist + e.w, r.src FROM r JOIN e ON e.a = r.node
         |   WHERE r.dist + e.w <= 64),
         |m AS (SELECT node, min(dist) AS dist FROM r GROUP BY node)
         |SELECT m.node, m.dist, min(r.src) AS src
         |FROM m JOIN r ON r.node = m.node AND r.dist = m.dist
         |WHERE m.dist <= 6
         |GROUP BY m.node, m.dist""".stripMargin,
    "q_sssp" ->
      s"""WITH RECURSIVE
         |su AS (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier),
         |cnt AS (SELECT COUNT(*) AS n FROM su),
         |e0 AS (
         |  SELECT k AS a, (k + 1) % (SELECT n FROM cnt) AS b, 1 + (k*7) % 5 AS w FROM su
         |  UNION ALL
         |  SELECT k, (k*13 + 3) % (SELECT n FROM cnt), 3 + (k*11) % 7 FROM su
         |   WHERE k % 5 = 0 AND (k*13 + 3) % (SELECT n FROM cnt) <> k),
         |e AS (SELECT a, b, w FROM e0 UNION ALL SELECT b AS a, a AS b, w FROM e0),
         |r(node, dist, src) AS (
         |  SELECT k, CAST(0 AS BIGINT), k FROM su WHERE k % 7 = 1
         |  UNION
         |  SELECT e.b, r.dist + e.w, r.src FROM r JOIN e ON e.a = r.node
         |   WHERE r.dist + e.w <= 64),
         |m AS (SELECT node, min(dist) AS dist FROM r GROUP BY node)
         |SELECT m.node, m.dist, min(r.src) AS src
         |FROM m JOIN r ON r.node = m.node AND r.dist = m.dist
         |GROUP BY m.node, m.dist""".stripMargin,
    "q_sssp_delta" ->
      s"""WITH RECURSIVE
         |su AS (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier),
         |cnt AS (SELECT COUNT(*) AS n FROM su),
         |e0 AS (
         |  SELECT k AS a, (k + 1) % (SELECT n FROM cnt) AS b, 1 + (k*7) % 5 AS w FROM su
         |  UNION ALL
         |  SELECT k, (k*13 + 3) % (SELECT n FROM cnt), 3 + (k*11) % 7 FROM su
         |   WHERE k % 5 = 0 AND (k*13 + 3) % (SELECT n FROM cnt) <> k),
         |e AS (SELECT a, b, w FROM e0 UNION ALL SELECT b AS a, a AS b, w FROM e0),
         |r(node, dist, src) AS (
         |  SELECT k, CAST(0 AS BIGINT), k FROM su WHERE k % 7 = 1
         |  UNION
         |  SELECT e.b, r.dist + e.w, r.src FROM r JOIN e ON e.a = r.node
         |   WHERE r.dist + e.w <= 64),
         |m AS (SELECT node, min(dist) AS dist FROM r GROUP BY node)
         |SELECT m.node, m.dist, min(r.src) AS src
         |FROM m JOIN r ON r.node = m.node AND r.dist = m.dist
         |GROUP BY m.node, m.dist""".stripMargin,
    "q_dupclusters" ->
      s"""WITH RECURSIVE doubled AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
         |tok AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM doubled),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i+1:i+3], ' ') AS s
         |  FROM tok, LATERAL (SELECT unnest(range(0, greatest(len(ws) - 3, 0) + 1)) AS i) g
         |  WHERE i + 3 <= len(ws)),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |ov AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS ni
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pr AS (SELECT ov.a, ov.b
         |  FROM ov JOIN sz sa ON ov.a = sa.doc_id JOIN sz sb ON ov.b = sb.doc_id
         |  WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.9),
         |sym AS (SELECT a AS u, b AS v FROM pr UNION SELECT b, a FROM pr
         |        UNION SELECT doc_id, doc_id FROM doubled),
         |reach(a, b) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u)
         |SELECT a AS doc_id, min(b) AS cluster, (min(b) = a) AS is_canonical
         |FROM reach GROUP BY 1""".stripMargin,
    "q_jaccard_pairs" ->
      s"""WITH sampled AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
         |  WHERE doc_id % 5 = 0),
         |doubled AS (
         |  SELECT doc_id, text FROM sampled
         |  UNION ALL SELECT doc_id + 1000000, text FROM sampled),
         |tok AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM doubled),
         |w AS (SELECT DISTINCT doc_id, unnest(ws) AS w FROM tok),
         |wf AS (SELECT doc_id, w FROM w WHERE length(w) > 0),
         |sz AS (SELECT doc_id, count(*) AS n FROM wf GROUP BY 1),
         |ov AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS ni
         |  FROM wf a JOIN wf b ON a.w = b.w AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT ov.a, ov.b,
         |  CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) AS jaccard
         |FROM ov JOIN sz sa ON ov.a = sa.doc_id JOIN sz sb ON ov.b = sb.doc_id
         |WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.9""".stripMargin,
    "q_winnow" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(1.0 AS DOUBLE) AS self_cont, TRUE AS slice_hit
         |FROM documents""".stripMargin,
    "q_simhash_pairs" ->
      s"""WITH doubled AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
         |h AS (SELECT doc_id, md5(text) AS m FROM doubled)
         |SELECT a.doc_id AS a, b.doc_id AS b
         |FROM h a JOIN h b ON a.m = b.m AND a.doc_id < b.doc_id""".stripMargin,
    "q_wkb" ->
      "SELECT c_custkey, TRUE AS roundtrip_ok FROM customer",
    // EWKB header bytes from the published layout: byte order 01,
    // point type tagged with the SRID flag (0x20000000), SRID in
    // little-endian — 4326=E610.., 5326=CE14.., 6326=B618..
    "q_ewkb" ->
      """SELECT c_custkey,
        |  CAST(4326 + (c_custkey % 3) * 1000 AS INTEGER) AS srid_out,
        |  CAST(25 AS INTEGER) AS blen,
        |  CASE c_custkey % 3 WHEN 0 THEN '0101000020E6100000'
        |    WHEN 1 THEN '0101000020CE140000'
        |    ELSE '0101000020B6180000' END AS hdr,
        |  TRUE AS roundtrip_ok
        |FROM customer""".stripMargin,
    "q_concave_check" ->
      s"""SELECT DISTINCT c_nationkey, TRUE AS all_inside, TRUE AS area_ok
         |FROM customer""".stripMargin,
    "q_vincenty" ->
      "SELECT c_custkey, TRUE AS vk_agree_mm FROM customer",
    // Closed-form constants: the per-nation input shapes are congruent
    // (translation-invariant operators), so the counts are derivable
    // constants — verified against the kernels' unit tests.
    "q_segmentize" ->
      "SELECT n_nationkey, CAST(8 AS INTEGER) AS seg_pts FROM nation",
    "q_split" ->
      s"""SELECT n_nationkey, CAST(2 AS BIGINT) AS pieces,
         |  round(CAST(8 + (n_nationkey % 4) * 2 AS DOUBLE)
         |        * CAST(8 + (n_nationkey % 4) * 2 AS DOUBLE) / 2, 6) AS min_area,
         |  round(CAST(8 + (n_nationkey % 4) * 2 AS DOUBLE)
         |        * CAST(8 + (n_nationkey % 4) * 2 AS DOUBLE) / 2, 6) AS max_area
         |FROM nation""".stripMargin,
    "q_snapline" ->
      s"""SELECT n_nationkey,
         |  CAST(3 AS INTEGER) AS sn_pts,
         |  round(2e0 * sqrt(25.01e0), 6) AS sn_len,
         |  round(CAST(3 + n_nationkey % 4 AS DOUBLE), 6) AS sl_len,
         |  round(CAST(n_nationkey * 30 AS DOUBLE), 6) AS sn_x0,
         |  round(CAST(n_nationkey * 30 + 4 AS DOUBLE), 6) AS sl_x0,
         |  round(CAST(n_nationkey * 30 + 7 + n_nationkey % 4 AS DOUBLE), 6) AS sl_x1
         |FROM nation""".stripMargin,
    "q_makevalid" ->
      s"""SELECT n_nationkey, FALSE AS was_valid, TRUE AS now_valid,
         |  CAST(2 AS INTEGER) AS parts,
         |  round(CAST(8 + n_nationkey % 5 AS DOUBLE)
         |        * CAST(8 + n_nationkey % 5 AS DOUBLE) / 2, 6) AS area
         |FROM nation""".stripMargin,
    "q_offsetcurve" ->
      s"""SELECT n_nationkey,
         |  CAST(3 AS INTEGER) AS l_pts,
         |  round(2e0 * (10 + n_nationkey % 7 - 2), 6) AS l_len,
         |  CAST(11 AS INTEGER) AS r_pts,
         |  round(2e0 * (10 + n_nationkey % 7) + 32e0 * sin(pi()/32), 6) AS r_len
         |FROM nation""".stripMargin,
    "q_linework" ->
      s"""SELECT n_nationkey,
         |  CAST(1 AS INTEGER) AS lm_parts, CAST(4 AS INTEGER) AS lm_pts,
         |  30e0 AS lm_len, CAST(3 AS INTEGER) AS j_parts,
         |  CAST(4 AS INTEGER) AS nd_parts,
         |  round(sqrt(800e0), 6) AS nd_len,
         |  round(sqrt(200e0) / 2, 6) AS ls_len,
         |  round(CAST(n_nationkey * 50 AS DOUBLE) + 2.5, 6) AS ls_x0,
         |  round(CAST(n_nationkey * 50 + 10 AS DOUBLE), 6) AS rv_x
         |FROM nation""".stripMargin,
    "q_circles" ->
      s"""WITH p AS (SELECT n_nationkey,
         |  CAST(n_nationkey * 20 AS DOUBLE) AS dx,
         |  CAST(n_nationkey * 9 AS DOUBLE) AS dy,
         |  CAST(4 + n_nationkey % 5 AS DOUBLE) AS side FROM nation)
         |SELECT n_nationkey,
         |  round(dx + side/2, 6) AS mic_cx,
         |  round(dy + side/2, 6) AS mic_cy,
         |  round(side/2, 6) AS mic_r,
         |  round(dx + side/2, 6) AS mic_nx,
         |  round(dy, 6) AS mic_ny,
         |  round(dx + 4e0, 6) AS lec_cx,
         |  round(dy + 4e0, 6) AS lec_cy,
         |  round(sqrt(32e0), 6) AS lec_r
         |FROM p""".stripMargin,
    "q_subdivide" ->
      s"""SELECT n_nationkey, CAST(4 AS BIGINT) AS pieces, 64e0 AS sum_area,
         |  12e0 AS min_area, 20e0 AS max_area,
         |  CAST(13 AS INTEGER) AS max_pts FROM nation""".stripMargin,
    "q_voronoi" ->
      s"""SELECT n_nationkey, cell_idx,
         |  CASE WHEN cell_idx < 4 THEN 2e0 ELSE 8e0 END AS cell_area,
         |  CAST(CASE WHEN cell_idx < 4 THEN 4 ELSE 5 END AS INTEGER) AS cell_pts
         |FROM nation, (SELECT UNNEST([0,1,2,3,4]) AS cell_idx)""".stripMargin,
    "q_buffer" ->
      s"""WITH p AS (SELECT n_nationkey,
         |  CAST(10 + n_nationkey % 7 AS DOUBLE) AS w,
         |  CAST(5 + n_nationkey % 5 AS DOUBLE) AS h,
         |  CAST(10 + n_nationkey AS DOUBLE) AS len FROM nation)
         |SELECT n_nationkey,
         |  round((w + 4e0) * (h + 4e0), 4) AS a_mitre,
         |  round(w*h + 4e0*(w + h) + 64e0*sin(pi()/16), 4) AS a_round,
         |  round((w - 2e0) * (h - 2e0), 4) AS a_erode,
         |  round(4e0 * len, 4) AS a_flat,
         |  round(4e0 * len + 16e0, 4) AS a_square,
         |  round(4e0 * len + 64e0*sin(pi()/16), 4) AS a_capround
         |FROM p""".stripMargin,
    "q_simplify" ->
      "SELECT n_nationkey, CAST(2 AS INTEGER) AS rdp_pts FROM nation",
    "q_vwp" ->
      "SELECT n_nationkey, CAST(3 AS INTEGER) AS vwp_pts FROM nation",
    // 4-point RDP / VW decision trees re-derived in SQL: chord is the
    // x-axis so the top-level distances are exactly h1/h2; the one
    // recursive chord distance is |80h1-40h2|/sqrt(6400+h2^2) (split at
    // P2) or |80h2-40h1|/sqrt(6400+h1^2) (split at P1); VW triangle
    // areas on the lattice are the exact integers 20|h2-2h1|, 20|2h2-h1|
    // and the post-removal triangle 60*h is always > eps=50.
    "q_simplify_idx" ->
      s"""WITH p AS (SELECT n_nationkey,
         |  CAST(1 + (n_nationkey*7) % 11 AS DOUBLE) AS h1,
         |  CAST(CASE WHEN 1 + (n_nationkey*5) % 9 = 1 + (n_nationkey*7) % 11
         |            THEN 2 + (n_nationkey*7) % 11
         |            ELSE 1 + (n_nationkey*5) % 9 END AS DOUBLE) AS h2
         |  FROM nation)
         |SELECT n_nationkey,
         |  CASE WHEN GREATEST(h1, h2) <= 6.5 THEN '0,3'
         |       WHEN h2 >= h1 THEN
         |         CASE WHEN abs(80e0*h1 - 40e0*h2)/sqrt(6400e0 + h2*h2) > 6.5
         |              THEN '0,1,2,3' ELSE '0,2,3' END
         |       ELSE
         |         CASE WHEN abs(80e0*h2 - 40e0*h1)/sqrt(6400e0 + h1*h1) > 6.5
         |              THEN '0,1,2,3' ELSE '0,1,3' END
         |  END AS rdp_idx,
         |  CASE WHEN LEAST(20e0*abs(h2 - 2e0*h1), 20e0*abs(2e0*h2 - h1)) > 50e0
         |         THEN '0,1,2,3'
         |       WHEN 20e0*abs(h2 - 2e0*h1) < 20e0*abs(2e0*h2 - h1) THEN '0,2,3'
         |       ELSE '0,1,3' END AS vw_idx
         |FROM p""".stripMargin,
    "q_isvalid" ->
      s"""SELECT n_nationkey AS pid, TRUE AS valid,
         |  'Valid Geometry' AS reason, CAST(2 AS INTEGER) AS dim FROM nation""".stripMargin,
    "q_triangulate" ->
      s"""WITH $VertsSql,
         |edges AS (SELECT r1.pid, r1.x AS x1, r1.y AS y1, r2.x AS x2, r2.y AS y2
         |  FROM verts r1 JOIN verts r2 ON r1.pid = r2.pid AND r2.seq = (r1.seq + 1) % 8)
         |SELECT pid, CAST(6 AS BIGINT) AS n_tris,
         |  round(abs(SUM(x1*y2 - x2*y1))/2e0, 6) AS tri_area
         |FROM edges GROUP BY pid""".stripMargin,
    "q_delaunay" ->
      s"""WITH $VertsSql,
         |bnd AS (SELECT DISTINCT p.pid, p.x, p.y
         |  FROM verts p JOIN verts q ON p.pid = q.pid AND (p.x <> q.x OR p.y <> q.y)
         |  WHERE NOT EXISTS (SELECT 1 FROM verts r WHERE r.pid = p.pid
         |    AND (q.x-p.x)*(r.y-p.y) - (q.y-p.y)*(r.x-p.x) < 0)),
         |ctr AS (SELECT pid, avg(x) AS cx, avg(y) AS cy FROM bnd GROUP BY 1),
         |ord AS (SELECT b.pid, b.x, b.y,
         |    row_number() OVER (PARTITION BY b.pid
         |      ORDER BY atan2(b.y - t.cy, b.x - t.cx)) AS rn,
         |    count(*) OVER (PARTITION BY b.pid) AS m
         |  FROM bnd b JOIN ctr t ON b.pid = t.pid),
         |shoe AS (SELECT o1.pid, SUM(o1.x*o2.y - o2.x*o1.y) AS a2
         |  FROM ord o1 JOIN ord o2 ON o1.pid = o2.pid AND o2.rn = (o1.rn % o1.m) + 1
         |  GROUP BY 1)
         |SELECT pid, CAST(9 AS BIGINT) AS n_tris, round(abs(a2)/2e0, 6) AS tri_area
         |FROM shoe""".stripMargin,
    "q_stitch" ->
      s"""WITH $VertsSql,
         |edges AS (SELECT r1.pid, r1.x AS x1, r1.y AS y1, r2.x AS x2, r2.y AS y2
         |  FROM verts r1 JOIN verts r2 ON r1.pid = r2.pid AND r2.seq = (r1.seq + 1) % 8)
         |SELECT pid, CAST(9 AS INTEGER) AS stitched_pts,
         |  round(abs(SUM(x1*y2 - x2*y1))/2e0, 6) AS stitched_area
         |FROM edges GROUP BY pid""".stripMargin,
    "q_minrect" ->
      s"""WITH $VertsSql,
         |pr AS (SELECT v1.pid, v1.x AS ax, v1.y AS ay, v2.x AS bx, v2.y AS byy
         |  FROM verts v1 JOIN verts v2 ON v1.pid = v2.pid AND v1.seq < v2.seq),
         |proj AS (SELECT p.pid, p.ax, p.ay, p.bx, p.byy,
         |    (p.bx-p.ax)*(p.bx-p.ax) + (p.byy-p.ay)*(p.byy-p.ay) AS len2,
         |    MAX((w.x-p.ax)*(p.bx-p.ax) + (w.y-p.ay)*(p.byy-p.ay))
         |      - MIN((w.x-p.ax)*(p.bx-p.ax) + (w.y-p.ay)*(p.byy-p.ay)) AS et,
         |    MAX((w.y-p.ay)*(p.bx-p.ax) - (w.x-p.ax)*(p.byy-p.ay))
         |      - MIN((w.y-p.ay)*(p.bx-p.ax) - (w.x-p.ax)*(p.byy-p.ay)) AS es
         |  FROM pr p JOIN verts w ON w.pid = p.pid
         |  GROUP BY 1, 2, 3, 4, 5)
         |SELECT pid, round(MIN(et * es / len2), 4) AS rect_area
         |FROM proj WHERE len2 > 0 GROUP BY 1""".stripMargin,
    "q_lof" ->
      s"""WITH pts AS (SELECT CAST(c_custkey AS BIGINT) AS id,
         |    CAST(c_nationkey AS BIGINT) AS key,
         |    CAST((c_custkey*7919) % 7200 AS BIGINT) AS ix,
         |    CAST((c_custkey*104729) % 3400 AS BIGINT) AS iy FROM customer),
         |gs AS (SELECT key, count(*) AS n FROM pts GROUP BY 1),
         |d AS (SELECT a.key, a.id AS i, b.id AS j,
         |    CAST((b.ix-a.ix)*(b.ix-a.ix) + (b.iy-a.iy)*(b.iy-a.iy) AS DOUBLE) AS d2
         |  FROM pts a JOIN pts b ON a.key = b.key AND a.id <> b.id),
         |r AS (SELECT key, i, j, d2,
         |    row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rn FROM d),
         |knn AS (SELECT key, i, j, d2 FROM r WHERE rn <= 5),
         |kd AS (SELECT i, max(d2) AS kd2 FROM knn GROUP BY 1),
         |reach AS (SELECT knn.key, knn.i, knn.j,
         |    sqrt(greatest(kd.kd2, knn.d2)) AS rch
         |  FROM knn JOIN kd ON knn.j = kd.i),
         |lrd AS (SELECT key, i, 5 / sum(rch) AS lrd FROM reach GROUP BY 1, 2),
         |lof AS (SELECT l.key, knn.i, sum(lo.lrd) / 5 / l.lrd AS lof
         |  FROM knn JOIN lrd l ON knn.i = l.i JOIN lrd lo ON knn.j = lo.i
         |  GROUP BY l.key, knn.i, l.lrd)
         |SELECT p.key, p.id,
         |  round(CASE WHEN g.n <= 5 THEN 1.0e0 ELSE lof.lof END, 4) AS lof
         |FROM pts p JOIN gs g ON p.key = g.key
         |LEFT JOIN lof ON p.id = lof.i""".stripMargin,
    // q_lof_media / q_img_decode: the oracle replays the synthetic
    // images' closed-form pixel values v(j) = (id*31 + j*7) mod 256
    // (j = 3p..3p+2 the RGB bytes of pixel p) and never parses the
    // payload — the ENGINE must really decode P6/P3/BMP to match.
    "q_lof_media" ->
      s"""WITH ids AS (SELECT unnest(range(0, 200)) AS id),
         |dim AS (SELECT id, 8 + id % 9 AS w, 6 + id % 7 AS h FROM ids),
         |px AS (SELECT id, unnest(range(0, w * h)) AS p FROM dim),
         |st AS (SELECT id,
         |  CAST(sum((id*31 + (3*p)*7) % 256) AS BIGINT) AS sum_r,
         |  CAST(sum((id*31 + (3*p+2)*7) % 256) AS BIGINT) AS sum_b
         |  FROM px GROUP BY id),
         |pts AS (SELECT CAST(id AS BIGINT) AS id, CAST(id % 5 AS BIGINT) AS key,
         |  sum_r AS ix, sum_b AS iy FROM st),
         |gs AS (SELECT key, count(*) AS n FROM pts GROUP BY 1),
         |d AS (SELECT a.key, a.id AS i, b.id AS j,
         |    CAST((b.ix-a.ix)*(b.ix-a.ix) + (b.iy-a.iy)*(b.iy-a.iy) AS DOUBLE) AS d2
         |  FROM pts a JOIN pts b ON a.key = b.key AND a.id <> b.id),
         |r AS (SELECT key, i, j, d2,
         |    row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rn FROM d),
         |knn AS (SELECT key, i, j, d2 FROM r WHERE rn <= 5),
         |kd AS (SELECT i, max(d2) AS kd2 FROM knn GROUP BY 1),
         |reach AS (SELECT knn.key, knn.i, knn.j,
         |    sqrt(greatest(kd.kd2, knn.d2)) AS rch
         |  FROM knn JOIN kd ON knn.j = kd.i),
         |lrd AS (SELECT key, i, 5 / sum(rch) AS lrd FROM reach GROUP BY 1, 2),
         |lof AS (SELECT l.key, knn.i, sum(lo.lrd) / 5 / l.lrd AS lof
         |  FROM knn JOIN lrd l ON knn.i = l.i JOIN lrd lo ON knn.j = lo.i
         |  GROUP BY l.key, knn.i, l.lrd)
         |SELECT p.key, p.id,
         |  round(CASE WHEN g.n <= 5 THEN 1.0e0 ELSE lof.lof END, 4) AS lof
         |FROM pts p JOIN gs g ON p.key = g.key
         |LEFT JOIN lof ON p.id = lof.i""".stripMargin,
    "q_wav_decode" ->
      s"""WITH ids AS (SELECT unnest(range(0, 200)) AS id),
         |cfg AS (SELECT id, 1 + id % 2 AS channels,
         |  CASE WHEN id % 2 = 0 THEN 8 ELSE 16 END AS bits,
         |  8000 + (id % 5) * 1000 AS sample_rate,
         |  64 + id % 97 AS frames FROM ids),
         |sm AS (SELECT id, channels, unnest(range(0, frames * channels)) AS j FROM cfg),
         |v AS (SELECT id,
         |  CASE WHEN id % 2 = 0 THEN (id*37 + j*11) % 256 - 128
         |       ELSE (id*37 + j*11) % 4096 - 2048 END AS s
         |  FROM sm),
         |st AS (SELECT id, CAST(sum(s) AS BIGINT) AS sum_samples,
         |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
         |  CAST(min(s) AS INTEGER) AS s_min, CAST(max(s) AS INTEGER) AS s_max
         |  FROM v GROUP BY id)
         |SELECT CAST(c.id AS BIGINT) AS media_id,
         |  CAST(c.sample_rate AS INTEGER) AS sample_rate,
         |  CAST(c.channels AS INTEGER) AS channels,
         |  CAST(c.bits AS INTEGER) AS bits,
         |  CAST(c.frames AS INTEGER) AS n_frames,
         |  st.sum_samples, st.sum_abs, st.s_min, st.s_max
         |FROM cfg c JOIN st ON c.id = st.id""".stripMargin,
    "q_img_decode" ->
      s"""WITH ids AS (SELECT unnest(range(0, 200)) AS id),
         |dim AS (SELECT id, 8 + id % 9 AS w, 6 + id % 7 AS h FROM ids),
         |px AS (SELECT id, unnest(range(0, w * h)) AS p FROM dim),
         |st AS (SELECT id,
         |  CAST(sum((id*31 + (3*p)*7) % 256) AS BIGINT) AS sum_r,
         |  CAST(sum((id*31 + (3*p+1)*7) % 256) AS BIGINT) AS sum_g,
         |  CAST(sum((id*31 + (3*p+2)*7) % 256) AS BIGINT) AS sum_b
         |  FROM px GROUP BY id)
         |SELECT CAST(st.id AS BIGINT) AS media_id,
         |  CASE st.id % 5 WHEN 0 THEN 'p6' WHEN 1 THEN 'p3' WHEN 2 THEN 'bmp'
         |    WHEN 3 THEN 'png' ELSE 'gif' END AS fmt,
         |  CAST(dim.w AS INTEGER) AS width, CAST(dim.h AS INTEGER) AS height,
         |  sum_r, sum_g, sum_b
         |FROM st JOIN dim ON st.id = dim.id""".stripMargin,
    "q_hull_stats" ->
      s"""WITH pts AS (SELECT DISTINCT CAST(c_nationkey AS INTEGER) AS g,
         |    CAST((c_custkey*7919) % 7200 AS BIGINT) AS x,
         |    CAST((c_custkey*104729) % 3400 AS BIGINT) AS y FROM customer),
         |bnd AS (SELECT DISTINCT p.g, p.x, p.y
         |  FROM pts p JOIN pts q ON p.g = q.g AND (p.x <> q.x OR p.y <> q.y)
         |  WHERE NOT EXISTS (SELECT 1 FROM pts r WHERE r.g = p.g
         |    AND (q.x-p.x)*(r.y-p.y) - (q.y-p.y)*(r.x-p.x) < 0)),
         |crn AS (SELECT b.g, b.x, b.y FROM bnd b
         |  WHERE NOT EXISTS (SELECT 1 FROM bnd u, bnd v
         |    WHERE u.g = b.g AND v.g = b.g
         |    AND (u.x-b.x)*(v.y-b.y) - (u.y-b.y)*(v.x-b.x) = 0
         |    AND (u.x-b.x)*(v.x-b.x) + (u.y-b.y)*(v.y-b.y) < 0)),
         |ctr AS (SELECT g, avg(CAST(x AS DOUBLE)) AS cx, avg(CAST(y AS DOUBLE)) AS cy
         |  FROM crn GROUP BY 1),
         |ord AS (SELECT c.g, c.x, c.y,
         |    row_number() OVER (PARTITION BY c.g
         |      ORDER BY atan2(CAST(c.y AS DOUBLE) - t.cy, CAST(c.x AS DOUBLE) - t.cx)) AS rn,
         |    count(*) OVER (PARTITION BY c.g) AS m
         |  FROM crn c JOIN ctr t ON c.g = t.g),
         |shoe AS (SELECT o1.g, MAX(o1.m) AS m, SUM(o1.x*o2.y - o2.x*o1.y) AS a2
         |  FROM ord o1 JOIN ord o2 ON o1.g = o2.g AND o2.rn = (o1.rn % o1.m) + 1
         |  GROUP BY 1)
         |SELECT g AS c_nationkey, CAST(m + 1 AS INTEGER) AS hull_pts,
         |  CAST(abs(a2) AS DOUBLE) / 800 AS hull_area
         |FROM shoe""".stripMargin,
    "q_densify" ->
      s"""WITH n AS (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation),
         |k AS (SELECT unnest(range(0, 6)) AS idx)
         |SELECT n_nationkey, CAST(idx AS INTEGER) AS idx,
         |  CASE WHEN idx = 0 THEN cx WHEN idx = 5 THEN cx + 3e0
         |       ELSE cx + 3e0 * (CAST(idx AS DOUBLE) / 5e0) END AS x,
         |  CASE WHEN idx = 0 THEN cy WHEN idx = 5 THEN cy + 4e0
         |       ELSE cy + 4e0 * (CAST(idx AS DOUBLE) / 5e0) END AS y
         |FROM n, k""".stripMargin,
    "q_densify_rhumb" ->
      s"""WITH n AS (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation),
         |k AS (SELECT unnest(range(0, 5)) AS idx),
         |base AS (SELECT n_nationkey, CAST(idx AS INTEGER) AS idx, cx, cy,
         |  cx + 3e0 AS ex, cy + 4e0 AS ey, CAST(idx AS DOUBLE) / 4e0 AS r
         |  FROM n, k),
         |c AS (SELECT *, radians(cy) AS phi1, radians(ey) AS phi2,
         |  CASE WHEN radians(ex - cx) > pi() THEN radians(ex - cx) - 2e0*pi()
         |       WHEN radians(ex - cx) < -pi() THEN radians(ex - cx) + 2e0*pi()
         |       ELSE radians(ex - cx) END AS dlam
         |  FROM base),
         |m AS (SELECT *, phi2 - phi1 AS dphi,
         |  ln(tan(phi2/2e0 + pi()/4e0) / tan(phi1/2e0 + pi()/4e0)) AS dpsi
         |  FROM c),
         |t AS (SELECT *, atan2(dlam, dpsi) AS theta,
         |  r * sqrt(dphi*dphi
         |     + (CASE WHEN dpsi > 10.0e-12 THEN dphi/dpsi ELSE cos(phi1) END)
         |     * (CASE WHEN dpsi > 10.0e-12 THEN dphi/dpsi ELSE cos(phi1) END)
         |     * dlam * dlam) AS delta
         |  FROM m),
         |dd AS (SELECT *, delta * cos(theta) AS dphi2,
         |  CASE WHEN abs(phi1 + delta * cos(theta)) > pi()/2e0
         |       THEN (CASE WHEN phi1 + delta * cos(theta) > 0e0
         |                  THEN pi() - (phi1 + delta * cos(theta))
         |                  ELSE -pi() - (phi1 + delta * cos(theta)) END)
         |       ELSE phi1 + delta * cos(theta) END AS phi2n
         |  FROM t),
         |e AS (SELECT *,
         |  ln(tan(phi2n/2e0 + pi()/4e0) / tan(phi1/2e0 + pi()/4e0)) AS dpsi2
         |  FROM dd)
         |SELECT n_nationkey, idx,
         |  round(CASE WHEN idx = 0 THEN cx WHEN idx = 4 THEN ex
         |    ELSE ((degrees(radians(cx) + delta * sin(theta)
         |      / (CASE WHEN abs(dpsi2) > 10.0e-12 THEN dphi2/dpsi2 ELSE cos(phi1) END))
         |      + 540e0) % 360e0) - 180e0 END, 5) AS x,
         |  round(CASE WHEN idx = 0 THEN cy WHEN idx = 4 THEN ey
         |    ELSE degrees(phi2n) END, 5) AS y
         |FROM e""".stripMargin,
    "q_densify_geodesic" ->
      s"""SELECT CAST(i AS INTEGER) AS idx,
         |  CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y FROM (VALUES
         | (0, 2.3522, 48.8566),
         | (1, 5.844638, 50.192544),
         | (2, 9.528889, 51.417361),
         | (3, 13.405, 52.52),
         | (4, 16.362565, 50.736231),
         | (5, 19.099604, 48.882437),
         | (6, 21.638452, 46.967739),
         | (7, 24.0, 45.0)) t(i, x, y)""".stripMargin,
    "q_interp" ->
      s"""WITH n AS (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation),
         |c AS (SELECT n_nationkey, cx, cy,
         |  (((cx + 2e0) - cx)*3e0 + ((cy + 1e0) - cy)*4e0) / (3e0*3e0 + 4e0*4e0) AS tt
         |  FROM n)
         |SELECT n_nationkey,
         |  round(cx + 0.75e0, 6) AS ix, round(cy + 1e0, 6) AS iy,
         |  round(cx + tt*3e0, 6) AS qx, round(cy + tt*4e0, 6) AS qy,
         |  round(sqrt((cx + tt*3e0 - cx)*(cx + tt*3e0 - cx)
         |           + (cy + tt*4e0 - cy)*(cy + tt*4e0 - cy)) / 5e0, 6) AS t,
         |  CAST(4 AS INTEGER) AS np,
         |  round(cx + 2.25e0, 6) AS p3x, round(cy + 3e0, 6) AS p3y
         |FROM c""".stripMargin,
    "q_crosstrack" ->
      s"""WITH j AS (
         |  SELECT c_custkey, $PxSql AS px, $PySql AS py, cx, cy,
         |    cx + 5e0 AS bx, cy + 5e0 AS byy
         |  FROM customer JOIN (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation) n
         |  ON c_nationkey = n.n_nationkey)
         |SELECT c_custkey, CAST(round(6371008.8e0 * abs(asin(
         |    sin((${havSql("cx", "cy", "px", "py")}) / 6371008.8e0)
         |    * sin(radians(${bearingSql("cx", "cy", "bx", "byy")})
         |        - radians(${bearingSql("cx", "cy", "px", "py")}))))) AS BIGINT) AS xtrack_m
         |FROM j""".stripMargin,
    "q_sphere_area" ->
      s"""WITH $VertsSql,
         |ring AS (SELECT pid, seq, x, y FROM verts
         |  UNION ALL SELECT pid, 8, x, y FROM verts WHERE seq = 0),
         |trip AS (SELECT m.pid,
         |    (radians(nx.x) - radians(pv.x)) * sin(radians(m.y)) AS term
         |  FROM ring m
         |  JOIN ring nx ON nx.pid = m.pid AND nx.seq = (m.seq + 1) % 9
         |  JOIN ring pv ON pv.pid = m.pid AND pv.seq = (m.seq + 8) % 9)
         |SELECT pid, round(abs(SUM(term) * 6378137.0e0 * 6378137.0e0 / -2e0) / 1000000e0, 3)
         |  AS area_km2
         |FROM trip GROUP BY 1""".stripMargin,
    "q_affine" ->
      s"""WITH n AS (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation),
         |g AS (SELECT n_nationkey, cx + 4e0 AS x2, cy + 2e0 AS y2,
         |    cx + 2e0 AS ox, cy + 1e0 AS oy,
         |    cos(radians(30e0)) AS rc, sin(radians(30e0)) AS rs,
         |    tan(radians(10e0)) AS ktx, tan(radians(5e0)) AS kty
         |  FROM n)
         |SELECT n_nationkey,
         |  round(rc*x2 + (-rs)*y2 + (ox - ox*rc + oy*rs), 6) AS rx,
         |  round(rs*x2 + rc*y2 + (oy - ox*rs - oy*rc), 6) AS ry,
         |  round(2e0*x2 + 0e0*y2 + (ox - 2e0*ox), 6) AS sx,
         |  round(0e0*x2 + 3e0*y2 + (oy - 3e0*oy), 6) AS sy,
         |  round(1e0*x2 + 0e0*y2 + 5.25e0, 6) AS tx,
         |  round(0e0*x2 + 1e0*y2 + (-7.5e0), 6) AS ty,
         |  round(1e0*x2 + ktx*y2 + (-oy)*ktx, 6) AS kx,
         |  round(kty*x2 + 1e0*y2 + (-ox)*kty, 6) AS ky
         |FROM g""".stripMargin,
    "q_chaikin" ->
      s"""WITH n AS (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation),
         |p AS (SELECT n_nationkey, cx AS x0, cy AS y0, cx + 8e0 AS x1, cy + 2e0 AS y1,
         |    cx + 16e0 AS x2, cy AS y2 FROM n),
         |k AS (SELECT unnest(range(0, 6)) AS idx)
         |SELECT n_nationkey, CAST(idx AS INTEGER) AS idx,
         |  CASE idx WHEN 0 THEN x0
         |    WHEN 1 THEN 0.75e0*x0 + 0.25e0*x1 WHEN 2 THEN 0.25e0*x0 + 0.75e0*x1
         |    WHEN 3 THEN 0.75e0*x1 + 0.25e0*x2 WHEN 4 THEN 0.25e0*x1 + 0.75e0*x2
         |    ELSE x2 END AS x,
         |  CASE idx WHEN 0 THEN y0
         |    WHEN 1 THEN 0.75e0*y0 + 0.25e0*y1 WHEN 2 THEN 0.25e0*y0 + 0.75e0*y1
         |    WHEN 3 THEN 0.75e0*y1 + 0.25e0*y2 WHEN 4 THEN 0.25e0*y1 + 0.75e0*y2
         |    ELSE y2 END AS y
         |FROM p, k""".stripMargin,
    "q_lengths" ->
      s"""WITH n AS (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation),
         |k AS (SELECT unnest(range(0, 6)) AS idx),
         |pts AS (SELECT n_nationkey, idx,
         |  CASE WHEN idx = 0 THEN cx WHEN idx = 5 THEN cx + 3e0
         |       ELSE cx + 3e0 * (CAST(idx AS DOUBLE) / 5e0) END AS x,
         |  CASE WHEN idx = 0 THEN cy WHEN idx = 5 THEN cy + 4e0
         |       ELSE cy + 4e0 * (CAST(idx AS DOUBLE) / 5e0) END AS y
         | FROM n, k),
         |seg AS (SELECT a.n_nationkey,
         |    sqrt((b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y)) AS pl,
         |    ${havSql("a.x", "a.y", "b.x", "b.y")} AS sl
         |  FROM pts a JOIN pts b ON a.n_nationkey = b.n_nationkey AND b.idx = a.idx + 1)
         |SELECT n_nationkey, round(SUM(pl), 6) AS len_planar,
         |  round(SUM(sl), 3) AS len_sphere_m
         |FROM seg GROUP BY 1""".stripMargin,
    "q_hausdorff" ->
      s"""WITH n AS (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation),
         |av AS (SELECT n_nationkey, cx + adx AS ax, cy + ady AS ay
         |  FROM n, (VALUES (0e0, 0e0), (3e0, 4e0), (6e0, 0e0)) a(adx, ady)),
         |bv AS (SELECT n_nationkey, cx + bdx AS bx, cy + bdy AS byy
         |  FROM n, (VALUES (1e0, 1e0), (2e0, 3e0), (5e0, 1e0)) b(bdx, bdy)),
         |dd AS (SELECT av.n_nationkey, ax, ay, bx, byy,
         |    sqrt((ax-bx)*(ax-bx) + (ay-byy)*(ay-byy)) AS d
         |  FROM av JOIN bv ON av.n_nationkey = bv.n_nationkey),
         |dab AS (SELECT n_nationkey, MAX(md) AS h FROM
         |  (SELECT n_nationkey, ax, ay, MIN(d) AS md FROM dd GROUP BY 1, 2, 3)
         |  GROUP BY 1),
         |dba AS (SELECT n_nationkey, MAX(md) AS h FROM
         |  (SELECT n_nationkey, bx, byy, MIN(d) AS md FROM dd GROUP BY 1, 2, 3)
         |  GROUP BY 1),
         |fr AS (SELECT n_nationkey,
         |    sqrt((cx-(cx+1e0))*(cx-(cx+1e0)) + (cy-(cy+1e0))*(cy-(cy+1e0))) AS d00,
         |    sqrt((cx-(cx+5e0))*(cx-(cx+5e0)) + (cy-(cy+2e0))*(cy-(cy+2e0))) AS d01,
         |    sqrt(((cx+3e0)-(cx+1e0))*((cx+3e0)-(cx+1e0))
         |       + ((cy+4e0)-(cy+1e0))*((cy+4e0)-(cy+1e0))) AS d10,
         |    sqrt(((cx+3e0)-(cx+5e0))*((cx+3e0)-(cx+5e0))
         |       + ((cy+4e0)-(cy+2e0))*((cy+4e0)-(cy+2e0))) AS d11
         |  FROM n),
         |fc AS (SELECT n_nationkey, d00,
         |    GREATEST(d00, d01) AS c01, GREATEST(d00, d10) AS c10, d11 FROM fr)
         |SELECT dab.n_nationkey,
         |  round(GREATEST(dab.h, dba.h), 6) AS hausdorff,
         |  round(GREATEST(LEAST(LEAST(fc.c01, fc.d00), fc.c10), fc.d11), 6) AS frechet
         |FROM dab JOIN dba ON dab.n_nationkey = dba.n_nationkey
         |JOIN fc ON dab.n_nationkey = fc.n_nationkey""".stripMargin,
    "q_extremes" ->
      s"""WITH $VertsSql,
         |agg AS (SELECT pid, MIN(x) AS xmin, MAX(x) AS xmax,
         |    MIN(y) AS ymin, MAX(y) AS ymax FROM verts GROUP BY 1)
         |SELECT a.pid,
         |  CAST((SELECT MIN(v.seq) FROM verts v WHERE v.pid = a.pid AND v.x = a.xmin)
         |    AS INTEGER) AS xmin_idx, a.xmin,
         |  CAST((SELECT MIN(v.seq) FROM verts v WHERE v.pid = a.pid AND v.y = a.ymin)
         |    AS INTEGER) AS ymin_idx, a.ymin,
         |  CAST((SELECT MIN(v.seq) FROM verts v WHERE v.pid = a.pid AND v.x = a.xmax)
         |    AS INTEGER) AS xmax_idx, a.xmax,
         |  CAST((SELECT MIN(v.seq) FROM verts v WHERE v.pid = a.pid AND v.y = a.ymax)
         |    AS INTEGER) AS ymax_idx, a.ymax
         |FROM agg a""".stripMargin,
    "q_cellcompact" ->
      s"""WITH nn AS (
         |  SELECT n_nationkey AS pid,
         |         CAST((n_nationkey*7) % 12 + 1 AS BIGINT) AS cx4,
         |         CAST((n_nationkey*5) % 12 + 1 AS BIGINT) AS cy4
         |  FROM nation),
         |quad AS (
         |  SELECT pid,
         |    (CAST(4 AS BIGINT) << 58)
         |      + ((cx4&1) + ((cx4>>1)&1)*4 + ((cx4>>2)&1)*16 + ((cx4>>3)&1)*64)
         |      + 2*((cy4&1) + ((cy4>>1)&1)*4 + ((cy4>>2)&1)*16 + ((cy4>>3)&1)*64)
         |      AS cell
         |  FROM nn),
         |sx AS (
         |  SELECT pid, 4*((cx4 + 3 + j) % 14) + j AS x6,
         |              4*((cy4 + 5 + j) % 14) + 2 AS y6
         |  FROM nn, LATERAL (SELECT unnest(range(0, 3)) AS j) g),
         |sing AS (
         |  SELECT pid,
         |    (CAST(6 AS BIGINT) << 58)
         |      + ((x6&1) + ((x6>>1)&1)*4 + ((x6>>2)&1)*16 + ((x6>>3)&1)*64
         |         + ((x6>>4)&1)*256 + ((x6>>5)&1)*1024)
         |      + 2*((y6&1) + ((y6>>1)&1)*4 + ((y6>>2)&1)*16 + ((y6>>3)&1)*64
         |         + ((y6>>4)&1)*256 + ((y6>>5)&1)*1024)
         |      AS cell
         |  FROM sx)
         |SELECT pid, cell, CAST(19 AS INT) AS n_leaves
         |FROM (SELECT * FROM quad UNION ALL SELECT * FROM sing)""".stripMargin,
    "q_cellops" ->
      s"""WITH $CellPrelude,
         |p AS (SELECT c_custkey, cx >> 7 AS px5, cy >> 7 AS py5 FROM cells)
         |SELECT c_custkey, ${mortonSql("px5", "py5", 5)} AS parent,
         |  CAST(5 AS INTEGER) AS plevel, px5 AS pcx, py5 AS pcy,
         |  CAST(px5 AS DOUBLE)/32e0*360e0 - 180e0 AS bxmin,
         |  90e0 - CAST(py5 + 1 AS DOUBLE)/32e0*180e0 AS bymin,
         |  CAST(px5 + 1 AS DOUBLE)/32e0*360e0 - 180e0 AS bxmax,
         |  90e0 - CAST(py5 AS DOUBLE)/32e0*180e0 AS bymax
         |FROM p""".stripMargin,
    // JTS-derived goldens (generated by test-scope GoldGen, which uses
    // JTS as the independent oracle): the star dimension comes from the
    // nation table — 25 rows at every TPC-H SF — so these VALUES are
    // SF-independent. Worst 5th-decimal distance from the HALF_UP
    // rounding boundary across all areas: 0.73 (no flip risk).
    "q_relate" ->
      s"""SELECT CAST(a AS INTEGER) AS a_id, CAST(b AS INTEGER) AS b_id, m AS de9im
         |FROM (VALUES
         | (0,0,'2FFF1FFF2'),(0,9,'212101212'),(1,1,'2FFF1FFF2'),(1,10,'212101212'),
         | (2,2,'2FFF1FFF2'),(2,11,'212101212'),(3,3,'2FFF1FFF2'),(3,12,'212101212'),
         | (4,4,'2FFF1FFF2'),(4,13,'212101212'),(5,5,'2FFF1FFF2'),(5,14,'212101212'),
         | (6,6,'2FFF1FFF2'),(6,15,'212101212'),(7,7,'2FFF1FFF2'),(7,16,'212101212'),
         | (8,8,'2FFF1FFF2'),(8,17,'212101212'),(9,9,'2FFF1FFF2'),(9,18,'212101212'),
         | (10,10,'2FFF1FFF2'),(10,19,'212101212'),(11,11,'2FFF1FFF2'),(11,20,'212101212'),
         | (12,12,'2FFF1FFF2'),(12,21,'212101212'),(13,13,'2FFF1FFF2'),(13,22,'212101212'),
         | (14,14,'2FFF1FFF2'),(14,23,'212101212'),(15,15,'2FFF1FFF2'),(15,24,'212101212'),
         | (16,16,'2FFF1FFF2'),(17,17,'2FFF1FFF2'),(18,18,'2FFF1FFF2'),(19,19,'2FFF1FFF2'),
         | (20,20,'2FFF1FFF2'),(21,21,'2FFF1FFF2'),(22,22,'2FFF1FFF2'),(23,23,'2FFF1FFF2'),
         | (24,24,'2FFF1FFF2')) t(a, b, m)""".stripMargin,
    "q_overlay" ->
      s"""SELECT CAST(a AS INTEGER) AS a_id, CAST(b AS INTEGER) AS b_id,
         |  CAST(ia AS DOUBLE) AS inter_area, CAST(ua AS DOUBLE) AS union_area,
         |  CAST(da AS DOUBLE) AS diff_area
         |FROM (VALUES
         | (0,9,19.4753,193.3247,86.9247),(1,10,20.7213,270.4787,124.8787),
         | (2,11,19.5835,210.0165,95.2165),(3,12,19.4753,193.3247,86.9247),
         | (4,13,20.7213,270.4787,124.8787),(5,14,19.5835,210.0165,95.2165),
         | (6,15,19.4753,193.3247,86.9247),(7,16,20.7213,270.4787,124.8787),
         | (8,17,19.5835,210.0165,95.2165),(9,18,19.4753,193.3247,86.9247),
         | (10,19,20.7213,270.4787,124.8787),(11,20,19.5835,210.0165,95.2165),
         | (12,21,19.4753,193.3247,86.9247),(13,22,20.7213,270.4787,124.8787),
         | (14,23,19.5835,210.0165,95.2165),(15,24,19.4753,193.3247,86.9247)
         |) t(a, b, ia, ua, da)""".stripMargin,
    "q_snapround" ->
      s"""WITH n AS (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy,
         |    n_nationkey % 3 AS c FROM nation),
         |r AS (SELECT n_nationkey,
         |  round(cx + 0.3) AS ax0, round(cy + 0.2) AS ay0,
         |  round(cx + CASE WHEN c=1 THEN 0.6 ELSE 4.6 END) AS ax1,
         |  round(cy + 3.8) AS ay1,
         |  round(cx + CASE WHEN c=1 THEN -1.8 WHEN c=2 THEN 4.4 ELSE 1.7 END) AS bx0,
         |  round(cy + CASE WHEN c=1 THEN -1.6 ELSE 1.4 END) AS by0,
         |  round(cx + CASE WHEN c=2 THEN 9.6 ELSE 6.2 END) AS bx1,
         |  round(cy + 5.6) AS by1
         | FROM n),
         |m AS (SELECT n_nationkey,
         |  (ax1-ax0)*(ay1-ay0) AS a_area, (bx1-bx0)*(by1-by0) AS b_area,
         |  least(ax1,bx1)-greatest(ax0,bx0) AS iw,
         |  least(ay1,by1)-greatest(ay0,by0) AS ih
         | FROM r),
         |v AS (SELECT n_nationkey, a_area, b_area,
         |  greatest(iw,0)*greatest(ih,0) AS i_area,
         |  CASE WHEN iw = 0 AND ih > 0 THEN ih
         |       WHEN ih = 0 AND iw > 0 THEN iw ELSE 0 END AS i_len
         | FROM m)
         |SELECT n_nationkey,
         |  CAST(round(i_area,4) AS DOUBLE) AS inter_area,
         |  CAST(round(i_len,4) AS DOUBLE) AS inter_len,
         |  CAST(round(a_area + b_area - i_area,4) AS DOUBLE) AS union_area,
         |  CAST(0.0 AS DOUBLE) AS union_len,
         |  CAST(round(a_area - i_area,4) AS DOUBLE) AS diff_area,
         |  CAST(0.0 AS DOUBLE) AS diff_len,
         |  CAST(round(a_area + b_area - 2*i_area,4) AS DOUBLE) AS xor_area,
         |  CAST(0.0 AS DOUBLE) AS xor_len
         |FROM v""".stripMargin,
    "q_dissolve" ->
      s"""SELECT CAST(g AS INTEGER) AS grp, CAST(area AS DOUBLE) AS dissolved_area
         |FROM (VALUES (0,588.0),(1,618.8),(2,627.2),(3,588.0),(4,618.8)) t(g, area)""".stripMargin,
    "q_tiles" ->
      s"""WITH p AS (SELECT id,
         |    CAST(((id * 48271) % 360000 - 180000) / 1000.0e0 AS DOUBLE) AS lon1,
         |    CAST(((id * 69621) % 170000 - 85000) / 1000.0e0 AS DOUBLE) AS lat1,
         |    CAST(((id * 16807 + 13) % 360000 - 180000) / 1000.0e0 AS DOUBLE) AS lon2,
         |    CAST(((id * 39916801 + 7) % 170000 - 85000) / 1000.0e0 AS DOUBLE) AS lat2
         |  FROM range(0, 2000) t(id)),
         |m AS (SELECT lon1 AS lon, lat1 AS lat FROM p
         |  UNION ALL SELECT lon2, lat2 FROM p),
         |cells AS (SELECT
         |  LEAST(GREATEST(CAST(floor((lon + 180e0) / 360e0 * 16e0) AS BIGINT), 0), 15) AS cx,
         |  LEAST(GREATEST(CAST(floor((90e0 - lat) / 180e0 * 16e0) AS BIGINT), 0), 15) AS cy
         | FROM m)
         |SELECT ${mortonSql("cx", "cy", 4)} AS cell, count(*) AS n
         |FROM cells GROUP BY 1""".stripMargin,
    // round-3 tail oracles
    "q_interiorpoint" ->
      s"""SELECT n_nationkey, round(($CxSql) + 9e0, 6) AS ipx,
         |  round(($CySql) + 4e0, 6) AS ipy, TRUE AS strictly_inside
         |FROM nation""".stripMargin,
    "q_orient" ->
      s"""SELECT n_nationkey AS pid, 'CW' AS w_cw, 'CCW' AS w_ccw,
         |  CAST(9 AS INTEGER) AS cw_pts, TRUE AS idempotent FROM nation""".stripMargin,
    "q_hcp" ->
      s"""WITH j AS (
         |  SELECT c_custkey, $PxSql AS px, $PySql AS py, cx, cy
         |  FROM customer JOIN (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation) n
         |  ON c_nationkey = n.n_nationkey),
         |dd AS (SELECT c_custkey, cx, cy,
         |  ${havSql("px", "py", "cx", "cy")} AS d0,
         |  ${havSql("px", "py", "cx + 3e0", "cy + 1e0")} AS d1,
         |  ${havSql("px", "py", "cx + 1e0", "cy + 4e0")} AS d2
         | FROM j)
         |SELECT c_custkey,
         |  round(CASE WHEN d0 <= d1 AND d0 <= d2 THEN cx
         |    WHEN d1 <= d2 THEN cx + 3e0 ELSE cx + 1e0 END, 6) AS hx,
         |  round(CASE WHEN d0 <= d1 AND d0 <= d2 THEN cy
         |    WHEN d1 <= d2 THEN cy + 1e0 ELSE cy + 4e0 END, 6) AS hy
         |FROM dd""".stripMargin,
    "q_angleunits" ->
      s"""SELECT n_nationkey,
         |  round(($CxSql)/180e0*pi(), 9) AS rx,
         |  round(($CySql)/180e0*pi(), 9) AS ry,
         |  TRUE AS roundtrip_ok FROM nation""".stripMargin,
    "q_removerepeated" ->
      s"""SELECT n_nationkey, CAST(5 AS INTEGER) AS raw_pts,
         |  CAST(3 AS INTEGER) AS rr_pts FROM nation""".stripMargin,
    "q_knnconcave" ->
      s"""SELECT DISTINCT c_nationkey, TRUE AS all_inside, TRUE AS area_ok
         |FROM customer""".stripMargin,
    "q_geodesic_gold" ->
      s"""SELECT CAST(c AS INTEGER) AS case_id, CAST(m AS BIGINT) AS dist_m
         |FROM (VALUES
         | (0, 5585234), (1, 111319), (2, 110574), (3, 879699),
         | (4, 11368984), (5, 19936289), (6, 223388), (7, 15608769),
         | (8, 8289538), (9, 36721)) t(c, m)""".stripMargin,
    "q_geodesic_area_gold" ->
      s"""SELECT CAST(p AS INTEGER) AS poly_id, CAST(s AS BIGINT) AS signed_m2,
         |  CAST(u AS BIGINT) AS unsigned_m2
         |FROM (VALUES
         | (0, 78596, 78596),
         | (1, 7786102826806, 7786102826806),
         | (2, -7786102826806, 502279518897282)) t(p, s, u)""".stripMargin,
    "q_extract_text" ->
      s"""WITH p AS (
         |  SELECT id,
         |    'https://host' || ((id * 2654435761) % 997) || '.example/page/' || id AS url,
         |    list_extract(['en','de','fr','es','zh'], CAST((id * 31) % 5 AS INTEGER) + 1) AS lang,
         |    CAST(((id * 48271) % 360000 - 180000) / 1000.0e0 AS DOUBLE) AS lon1,
         |    CAST(((id * 69621) % 170000 - 85000) / 1000.0e0 AS DOUBLE) AS lat1,
         |    CAST(((id * 16807 + 13) % 360000 - 180000) / 1000.0e0 AS DOUBLE) AS lon2,
         |    CAST(((id * 39916801 + 7) % 170000 - 85000) / 1000.0e0 AS DOUBLE) AS lat2
         |  FROM range(0, 500) t(id))
         |SELECT url, md5('Doc ' || id || ' in ' || lang || ' mentions geo:'
         |  || CAST(lon1 AS VARCHAR) || ',' || CAST(lat1 AS VARCHAR)
         |  || ' and geo:' || CAST(lon2 AS VARCHAR) || ',' || CAST(lat2 AS VARCHAR)
         |  || ' end.') AS text_md5
         |FROM p""".stripMargin,
    // closed form: 2-D parts dominate the JTS additive centroid —
    // (4*cx + 16*(cx+10))/20 = cx + 8, y stays cy
    "q_gc_centroid" ->
      s"""SELECT n_nationkey,
         |  round(($CxSql) + 8, 6) AS gc_cx,
         |  round(($CySql), 6) AS gc_cy
         |FROM nation""".stripMargin,
    "q_collection" ->
      s"""WITH $VertsSql,
         |edges AS (SELECT r1.pid, r1.x AS x1, r1.y AS y1, r2.x AS x2, r2.y AS y2
         |  FROM verts r1 JOIN verts r2 ON r1.pid = r2.pid AND r2.seq = (r1.seq + 1) % 8),
         |shoe AS (SELECT pid, SUM(x1*y2 - x2*y1)/2e0 AS area FROM edges GROUP BY 1),
         |bb AS (SELECT pid, MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax, MAX(y) AS ymax,
         |    COUNT(*) AS nverts FROM verts GROUP BY 1)
         |SELECT s.pid, 0 AS part, 'POLYGON' AS gtype, round(s.area, 6) AS area,
         |  CAST(b.nverts + 1 AS INTEGER) AS npts
         |FROM shoe s JOIN bb b ON s.pid = b.pid
         |UNION ALL
         |SELECT pid, 1, 'POLYGON', round((xmax - xmin) * (ymax - ymin), 6), 5 FROM bb
         |UNION ALL
         |SELECT pid, 2, 'POINT', 0e0, 1 FROM bb""".stripMargin,
    "q_dbscan" ->
      s"""WITH RECURSIVE c AS (SELECT c_custkey AS k, $PxSql AS px, $PySql AS py FROM customer),
         |p AS (SELECT a.k AS ka, b.k AS kb FROM c a JOIN c b ON a.k <> b.k
         |  AND (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py) <= 25e0),
         |core AS (SELECT ka AS k FROM p GROUP BY 1 HAVING count(*) + 1 >= 3),
         |ce AS (SELECT ka AS u, kb AS v FROM p
         |    WHERE ka IN (SELECT k FROM core) AND kb IN (SELECT k FROM core)
         |  UNION SELECT k, k FROM core),
         |reach(a, b) AS (SELECT u, v FROM ce
         |  UNION SELECT r.a, s.v FROM reach r JOIN ce s ON r.b = s.u),
         |comp AS (SELECT a AS k, min(b) AS cluster FROM reach GROUP BY 1),
         |border AS (SELECT p.ka AS k, min(comp.cluster) AS cluster
         |  FROM p JOIN comp ON p.kb = comp.k
         |  WHERE p.ka NOT IN (SELECT k FROM core)
         |  GROUP BY 1)
         |SELECT c.k AS c_custkey,
         |  coalesce(cm.cluster, bd.cluster) AS cluster,
         |  (cm.k IS NOT NULL) AS is_core
         |FROM c LEFT JOIN comp cm ON c.k = cm.k LEFT JOIN border bd ON c.k = bd.k""".stripMargin,
    "q_cluster_within" ->
      s"""WITH RECURSIVE c AS (SELECT c_custkey AS k, $PxSql AS px, $PySql AS py FROM customer),
         |p AS (SELECT a.k AS ka, b.k AS kb FROM c a JOIN c b ON a.k <> b.k
         |  AND (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py) <= 25e0),
         |sym AS (SELECT ka AS u, kb AS v FROM p UNION SELECT k, k FROM c),
         |reach(a, b) AS (SELECT u, v FROM sym
         |  UNION SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u)
         |SELECT a AS c_custkey, min(b) AS cluster FROM reach GROUP BY 1""".stripMargin,
    "q_kmeans" -> {
      // one Lloyd round as a CTE pair (assignment aN from centroids
      // cPREV, exact-integer means mN, carry-forward centroids cN)
      def lloyd(n: Int, prev: String): String =
        s"""a$n AS (SELECT k, cid, px, py FROM (
           |  SELECT c.k, z.cid, c.px, c.py,
           |    row_number() OVER (PARTITION BY c.k ORDER BY
           |      (c.px - z.cx) * (c.px - z.cx) + (c.py - z.cy) * (c.py - z.cy), z.cid) AS r
           |  FROM c, $prev z) t WHERE r = 1),
           |m$n AS (SELECT cid,
           |    (CAST(sum(CAST(round(px * 20e0) AS BIGINT)) AS DOUBLE)
           |      / CAST(count(*) AS DOUBLE)) / 20e0 AS cx,
           |    (CAST(sum(CAST(round(py * 20e0) AS BIGINT)) AS DOUBLE)
           |      / CAST(count(*) AS DOUBLE)) / 20e0 AS cy
           |  FROM a$n GROUP BY 1),
           |c$n AS (SELECT z.cid, coalesce(m$n.cx, z.cx) AS cx, coalesce(m$n.cy, z.cy) AS cy
           |  FROM $prev z LEFT JOIN m$n ON z.cid = m$n.cid)""".stripMargin
      s"""WITH c AS (SELECT c_custkey AS k, $PxSql AS px, $PySql AS py FROM customer),
         |seed AS (SELECT k, px, py FROM c ORDER BY k LIMIT 4),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY k) - 1 AS INTEGER) AS cid,
         |    px AS cx, py AS cy FROM seed),
         |${lloyd(1, "c0")},
         |${lloyd(2, "c1")},
         |afin AS (SELECT k, cid FROM (
         |  SELECT c.k, z.cid,
         |    row_number() OVER (PARTITION BY c.k ORDER BY
         |      (c.px - z.cx) * (c.px - z.cx) + (c.py - z.cy) * (c.py - z.cy), z.cid) AS r
         |  FROM c, c2 z) t WHERE r = 1)
         |SELECT k AS c_custkey, cid AS cluster FROM afin""".stripMargin
    },
    "q_cluster_intersecting" ->
      s"""WITH RECURSIVE $VertsSql,
         |bb AS (SELECT pid, min(x) AS xmin, min(y) AS ymin,
         |    max(x) AS xmax, max(y) AS ymax FROM verts GROUP BY 1),
         |p AS (SELECT a.pid AS ka, b.pid AS kb FROM bb a JOIN bb b ON a.pid <> b.pid
         |  AND a.xmin <= b.xmax AND b.xmin <= a.xmax
         |  AND a.ymin <= b.ymax AND b.ymin <= a.ymax),
         |sym AS (SELECT ka AS u, kb AS v FROM p UNION SELECT pid, pid FROM bb),
         |reach(a, b) AS (SELECT u, v FROM sym
         |  UNION SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u)
         |SELECT CAST(a AS INTEGER) AS pid, CAST(min(b) AS INTEGER) AS cluster
         |FROM reach GROUP BY 1""".stripMargin,
    "q_span_dedup" ->
      s"""WITH doubled AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
         |tok AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM doubled),
         |ch AS (SELECT doc_id, i AS idx,
         |    array_to_string(ws[CAST(i*20+1 AS BIGINT):CAST(i*20+20 AS BIGINT)], ' ') AS chunk
         |  FROM tok, LATERAL (SELECT unnest(range(0,
         |    greatest(CAST(ceil(len(ws)/20.0) AS BIGINT), 1))) AS i) g),
         |r AS (SELECT doc_id, idx, chunk,
         |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn FROM ch)
         |SELECT doc_id,
         |  coalesce(string_agg(chunk, ' ' ORDER BY idx) FILTER (WHERE rn = 1), '') AS clean_text,
         |  count(*) FILTER (WHERE rn = 1) AS n_kept,
         |  count(*) AS n_chunks
         |FROM r GROUP BY 1""".stripMargin,
    "q_decontam" ->
      s"""WITH tok AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i+1:i+8], ' ') AS s
         |  FROM tok, LATERAL (SELECT unnest(range(0, greatest(len(ws)-8,0)+1)) AS i) g
         |  WHERE i + 8 <= len(ws)),
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 7 = 0),
         |flag AS (SELECT DISTINCT a.doc_id FROM sh a JOIN bench b ON a.s = b.s
         |  WHERE a.doc_id % 7 <> 0)
         |SELECT doc_id, (doc_id IN (SELECT doc_id FROM flag)) AS contaminated
         |FROM documents WHERE doc_id % 7 <> 0""".stripMargin,
    "q_normalize" ->
      s"""WITH $VertsSql,
         |m AS (SELECT pid, seq AS ms, x AS mx, y AS my FROM (
         |  SELECT pid, seq, x, y,
         |    row_number() OVER (PARTITION BY pid ORDER BY x, y) AS r FROM verts) t
         |  WHERE r = 1),
         |sec AS (SELECT m.pid,
         |    CASE WHEN m.pid % 2 = 1 THEN (m.ms + 1) % 8 ELSE (m.ms + 7) % 8 END AS s2
         |  FROM m)
         |SELECT m.pid,
         |  round(m.mx, 9) AS nx0, round(m.my, 9) AS ny0,
         |  round(v.x, 9) AS nx1, round(v.y, 9) AS ny1,
         |  9 AS npts, false AS is_ccw, true AS idem
         |FROM m JOIN sec ON m.pid = sec.pid
         |JOIN verts v ON v.pid = m.pid AND v.seq = sec.s2""".stripMargin,
    "q_zonal" ->
      s"""WITH $VertsSql,
         |pts AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |cells AS (SELECT
         |    LEAST(GREATEST(CAST(floor((px + 180e0) / 360e0 * 64e0) AS BIGINT), 0), 63) AS cx,
         |    LEAST(GREATEST(CAST(floor((90e0 - py) / 180e0 * 64e0) AS BIGINT), 0), 63) AS cy,
         |    count(*) AS n
         |  FROM pts GROUP BY 1, 2),
         |ctr AS (SELECT cx, cy, n,
         |    (CAST(cx AS DOUBLE) + 0.5e0) * 5.625e0 - 180e0 AS lon,
         |    90e0 - (CAST(cy AS DOUBLE) + 0.5e0) * 2.8125e0 AS lat
         |  FROM cells),
         |edges AS (SELECT v1.pid, v1.x AS x1, v1.y AS y1, v2.x AS x2, v2.y AS y2
         |  FROM verts v1 JOIN verts v2 ON v1.pid = v2.pid AND v2.seq = (v1.seq + 1) % 8),
         |hits AS (SELECT c.cx, c.cy, c.n, e.pid
         |  FROM ctr c JOIN edges e
         |  ON ((e.y1 > c.lat) != (e.y2 > c.lat))
         |  AND c.lon < (e.x2 - e.x1) * (c.lat - e.y1) / (e.y2 - e.y1) + e.x1),
         |inz AS (SELECT cx, cy, n, pid FROM hits GROUP BY 1, 2, 3, 4
         |  HAVING count(*) % 2 = 1)
         |SELECT pid, count(*) AS n_cells, CAST(sum(n) AS BIGINT) AS total,
         |  round(CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS mean
         |FROM inz GROUP BY 1""".stripMargin,
    "q_tfidf" ->
      s"""WITH tok AS (SELECT doc_id,
         |    unnest(string_split_regex(lower(text), '\\s+')) AS term FROM documents),
         |t2 AS (SELECT doc_id, term FROM tok WHERE length(term) > 0),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    CAST(tf.tf AS DOUBLE)
         |      * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
         |            / CAST(df.df AS DOUBLE)) AS tfidf,
         |    CAST(row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS INTEGER) AS rank
         |  FROM tf JOIN df ON tf.term = df.term)
         |SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf, rank
         |FROM r WHERE rank <= 3""".stripMargin,
    "q_azimuth" ->
      s"""WITH c AS (SELECT c_custkey, c_nationkey, $PxSql AS px, $PySql AS py FROM customer),
         |n AS (SELECT n_nationkey, $CxSql AS cx, $CySql AS cy FROM nation),
         |j AS (SELECT c_custkey, n_nationkey,
         |    cx - px AS dx, cy - py AS dy
         |  FROM c JOIN n ON c.c_nationkey = n.n_nationkey)
         |SELECT c_custkey, n_nationkey,
         |  round(CASE WHEN dx = 0 AND dy = 0 THEN NULL
         |    WHEN atan2(dx, dy) < 0 THEN atan2(dx, dy) + 2e0 * pi()
         |    ELSE atan2(dx, dy) END, 9) AS az
         |FROM j""".stripMargin,
    "q_sample" ->
      s"""WITH r AS (SELECT doc_id, lang,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY (doc_id * 48271) % 2147483647, doc_id) AS INTEGER) AS samp_rank
         |  FROM documents)
         |SELECT doc_id, lang, samp_rank FROM r WHERE samp_rank <= 30""".stripMargin,
    "q_geojson" -> {
      def f(c: String) =
        s"""CASE WHEN $c = floor($c) AND abs($c) < 1e15
           | THEN CAST(CAST($c AS BIGINT) AS VARCHAR)
           | ELSE CAST($c AS VARCHAR) END""".stripMargin
      s"""WITH $VertsSql,
         |ring AS (SELECT pid, seq AS oseq, x, y FROM verts
         |  UNION ALL SELECT pid, 8, x, y FROM verts WHERE seq = 0),
         |fmt AS (SELECT pid, oseq, ${f("x")} AS fx, ${f("y")} AS fy FROM ring)
         |SELECT pid,
         |  '{"type":"Polygon","coordinates":[['
         |    || string_agg('[' || fx || ',' || fy || ']', ',' ORDER BY oseq)
         |    || ']]}' AS gj,
         |  true AS roundtrip
         |FROM fmt GROUP BY pid""".stripMargin
    },
    "q_accessors" ->
      s"""WITH $VertsSql,
         |bb AS (SELECT pid, min(x) AS xmin, min(y) AS ymin,
         |    max(x) AS xmax, max(y) AS ymax FROM verts GROUP BY 1)
         |SELECT pid, 1 AS n_holes, 5 AS ext_npts,
         |  round(xmax, 9) AS p2x, round(ymin, 9) AS p2y,
         |  round(xmin + 1e0, 9) AS h1x, round(ymin + 1e0, 9) AS h1y,
         |  true AS closed, true AS neg_idx, 2 AS n_rings, true AS self_n1,
         |  round(sqrt(((xmax - 1e0) - xmin) * ((xmax - 1e0) - xmin)
         |           + ((ymax - 1e0) - ymin) * ((ymax - 1e0) - ymin)), 9) AS maxd
         |FROM bb""".stripMargin,
    "q_makeline" ->
      s"""WITH c AS (SELECT c_custkey, c_nationkey, $PxSql AS px, $PySql AS py FROM customer),
         |seg AS (SELECT c_nationkey,
         |    sqrt((px - lag(px) OVER w) * (px - lag(px) OVER w)
         |       + (py - lag(py) OVER w) * (py - lag(py) OVER w)) AS d
         |  FROM c WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey))
         |SELECT c.c_nationkey,
         |  CAST(count(*) AS INTEGER) AS npts,
         |  round(coalesce((SELECT sum(d) FROM seg s
         |    WHERE s.c_nationkey = c.c_nationkey), 0e0), 6) AS len,
         |  round(arg_min(px, c_custkey), 9) AS sx,
         |  round(arg_min(py, c_custkey), 9) AS sy,
         |  round(arg_max(px, c_custkey), 9) AS ex,
         |  round(arg_max(py, c_custkey), 9) AS ey
         |FROM c GROUP BY 1""".stripMargin,
    "q_angle_expand" -> {
      def azc(dx: String, dy: String) =
        s"""CASE WHEN atan2($dx, $dy) < 0
           | THEN atan2($dx, $dy) + 2e0 * pi() ELSE atan2($dx, $dy) END""".stripMargin
      s"""WITH $VertsSql,
         |tri AS (SELECT v0.pid, v0.x AS x0, v0.y AS y0, v1.x AS x1, v1.y AS y1,
         |    v2.x AS x2, v2.y AS y2
         |  FROM verts v0
         |  JOIN verts v1 ON v0.pid = v1.pid AND v0.seq = 0 AND v1.seq = 1
         |  JOIN verts v2 ON v2.pid = v0.pid AND v2.seq = 2),
         |az AS (SELECT pid,
         |    ${azc("x0 - x1", "y0 - y1")} AS a1,
         |    ${azc("x2 - x1", "y2 - y1")} AS a3
         |  FROM tri),
         |bb AS (SELECT pid, min(x) AS xmin, max(y) AS ymax FROM verts GROUP BY 1)
         |SELECT az.pid,
         |  round(CASE WHEN a3 - a1 < 0 THEN a3 - a1 + 2e0 * pi()
         |    ELSE a3 - a1 END, 9) AS ang,
         |  round(bb.xmin - 2e0, 9) AS ex0,
         |  round(bb.ymax + 2e0, 9) AS ey1
         |FROM az JOIN bb ON az.pid = bb.pid""".stripMargin
    },
    "q_frames" ->
      s"""WITH m AS (SELECT CAST(range AS BIGINT) AS media_id FROM range(0, 200)),
         |v AS (SELECT media_id,
         |    CAST((media_id * 7) % 300 + 1 AS BIGINT) AS frames,
         |    md5(sha256('media' || CAST(media_id AS VARCHAR))) AS payload_md5
         |  FROM m WHERE media_id % 3 = 2),
         |f AS (SELECT media_id,
         |    CAST(floor(CAST(i * frames AS DOUBLE) / 4e0) AS INTEGER) AS frame_offset,
         |    payload_md5
         |  FROM v, LATERAL (SELECT unnest(range(0, 4)) AS i) g)
         |SELECT media_id, frame_offset, payload_md5 FROM f""".stripMargin,
    "q_incremental" ->
      s"""WITH idx AS (SELECT CAST(doc_id AS BIGINT) AS k, text FROM documents
         |  WHERE doc_id % 5 = 0),
         |nw AS (SELECT CAST(doc_id AS BIGINT) + 1000000 AS k, text FROM documents),
         |tokn AS (SELECT k, string_split_regex(lower(text), '\\s+') AS ws FROM nw),
         |toki AS (SELECT k, string_split_regex(lower(text), '\\s+') AS ws FROM idx),
         |shn AS (SELECT DISTINCT k, array_to_string(ws[i+1:i+3], ' ') AS s
         |  FROM tokn, LATERAL (SELECT unnest(range(0, greatest(len(ws) - 3, 0) + 1)) AS i) g
         |  WHERE i + 3 <= len(ws)),
         |shi AS (SELECT DISTINCT k, array_to_string(ws[i+1:i+3], ' ') AS s
         |  FROM toki, LATERAL (SELECT unnest(range(0, greatest(len(ws) - 3, 0) + 1)) AS i) g
         |  WHERE i + 3 <= len(ws)),
         |szn AS (SELECT k, count(*) AS n FROM shn GROUP BY 1),
         |szi AS (SELECT k, count(*) AS n FROM shi GROUP BY 1),
         |ov AS (SELECT n.k AS nk, i.k AS ok, count(*) AS ni
         |  FROM shn n JOIN shi i ON n.s = i.s GROUP BY 1, 2),
         |j AS (SELECT nk, ok,
         |    CAST(ni AS DOUBLE) / CAST(szn.n + szi.n - ni AS DOUBLE) AS jac
         |  FROM ov JOIN szn ON ov.nk = szn.k JOIN szi ON ov.ok = szi.k
         |  WHERE CAST(ni AS DOUBLE) / CAST(szn.n + szi.n - ni AS DOUBLE) >= 0.9),
         |best AS (SELECT nk, ok, jac FROM (
         |  SELECT nk, ok, jac,
         |    row_number() OVER (PARTITION BY nk ORDER BY jac DESC, ok ASC) AS r
         |  FROM j) t WHERE r = 1)
         |SELECT nw.k AS doc_id, best.ok AS dup_of, round(best.jac, 9) AS jaccard
         |FROM nw LEFT JOIN best ON nw.k = best.nk""".stripMargin,
    "q_editing" ->
      s"""SELECT n_nationkey,
         |  4 AS add_npts,
         |  round(($CxSql) + 3e0, 9) AS add_ex,
         |  round(($CySql) - 1e0, 9) AS add_ey,
         |  round(($CxSql) - 1e0, 9) AS set_sx,
         |  2 AS rm_npts,
         |  round(($CxSql) + 2e0, 9) AS rm_x2,
         |  true AS rm_guard
         |FROM nation""".stripMargin,
    "q_geomedit" ->
      s"""SELECT n_nationkey,
         |  round(($CySql), 9) AS flip_sx,
         |  false AS closed_open,
         |  true AS closed_ring,
         |  true AS ring_ok,
         |  false AS ring_bow,
         |  true AS simple_line,
         |  'MULTIPOINT' AS multi_pt_type,
         |  'MULTIPOLYGON' AS multi_pg_type,
         |  1 AS multi_parts,
         |  5 AS points_n,
         |  round(($CxSql), 9) AS diag_sx,
         |  round(($CySql) + 1e0, 9) AS diag_ey,
         |  round(($CxSql) + 4e0, 9) AS scroll_sx,
         |  5 AS scroll_n,
         |  true AS scroll_open_guard,
         |  round(CASE WHEN ($CxSql) < 0 THEN ($CxSql) + 360e0
         |             ELSE ($CxSql) END, 9) AS shift_x
         |FROM nation""".stripMargin,
    "q_mbc" ->
      s"""SELECT n_nationkey,
         |  round(($CxSql) + 3e0, 9) AS d_cx,
         |  round(($CySql), 9) AS d_cy,
         |  round(3e0, 9) AS d_r,
         |  round(($CxSql) + 2e0, 9) AS t_cx,
         |  round(($CySql) + 2e0, 9) AS t_cy,
         |  round(sqrt(8e0), 9) AS t_r,
         |  49 AS mbc_npts
         |FROM nation""".stripMargin,
    "q_chunks" ->
      s"""WITH tok AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '${"\\"}s+'), w -> len(w) > 0) AS ws
         |  FROM documents),
         |nz AS (SELECT doc_id, ws, len(ws) AS n FROM tok WHERE len(ws) > 0),
         |ch AS (SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
         |    ws[CAST(k*20+1 AS BIGINT):CAST(k*20+30 AS BIGINT)] AS chunk
         |  FROM nz, LATERAL (SELECT unnest(range(0,
         |    CAST(floor((greatest(n - 30, 0) + 19) / 20.0e0) AS BIGINT) + 1)) AS k) g)
         |SELECT doc_id, chunk_id, array_to_string(chunk, ' ') AS chunk_text,
         |  CAST(len(chunk) AS INTEGER) AS chunk_tokens
         |FROM ch""".stripMargin,
    "q_bloom_dedup" ->
      s"""SELECT doc_id, md5(text) AS text_md5 FROM documents
         |WHERE md5(text) NOT IN
         |  (SELECT md5(text) FROM documents WHERE doc_id % 3 = 0)""".stripMargin,
    "q_linref" ->
      s"""SELECT n_nationkey,
         |  round(4e0, 9) AS same_len,
         |  round(0e0, 9) AS same_opp_len,
         |  round(5e0, 9) AS opp_len,
         |  -1 AS lcd_left,
         |  1 AS lcd_right,
         |  -3 AS lcd_same_first_left,
         |  -2 AS lcd_mc_left,
         |  0 AS lcd_none
         |FROM nation""".stripMargin,
    "q_pack" ->
      s"""WITH tok AS (SELECT doc_id,
         |    CAST(len(list_filter(string_split_regex(text, '${"\\"}s+'),
         |      w -> len(w) > 0)) AS BIGINT) AS n
         |  FROM documents),
         |nz AS (SELECT doc_id, n FROM tok WHERE n > 0),
         |off AS (SELECT doc_id, n, CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS doc_off FROM nz),
         |sp AS (SELECT doc_id, n, doc_off, CAST(b AS BIGINT) AS block_id
         |  FROM off, LATERAL (SELECT unnest(range(CAST(doc_off // 256 AS BIGINT),
         |    CAST((doc_off + n - 1) // 256 + 1 AS BIGINT))) AS b) g)
         |SELECT doc_id, block_id, doc_off,
         |  greatest(block_id * 256 - doc_off, 0) AS tok_start,
         |  least(n, (block_id + 1) * 256 - doc_off)
         |    - greatest(block_id * 256 - doc_off, 0) AS n_toks
         |FROM sp""".stripMargin,
    "q_hexbin" ->
      s"""WITH pts AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |h AS (SELECT c_custkey,
         |    (sqrt(3e0)/3e0 * px - py/3e0) / 2.5e0 AS fq,
         |    (2e0/3e0 * py) / 2.5e0 AS fr
         |  FROM pts),
         |c AS (SELECT c_custkey, fq, fr, -fq - fr AS fy,
         |    floor(fq + 0.5e0) AS rx, floor(-fq - fr + 0.5e0) AS ry,
         |    floor(fr + 0.5e0) AS rz FROM h),
         |fx AS (SELECT c_custkey,
         |    CASE WHEN abs(rx - fq) > abs(ry - fy) AND abs(rx - fq) > abs(rz - fr)
         |         THEN CAST(-ry - rz AS BIGINT) ELSE CAST(rx AS BIGINT) END AS q,
         |    CASE WHEN abs(rx - fq) > abs(ry - fy) AND abs(rx - fq) > abs(rz - fr)
         |         THEN CAST(rz AS BIGINT)
         |         WHEN abs(ry - fy) > abs(rz - fr) THEN CAST(rz AS BIGINT)
         |         ELSE CAST(-rx - ry AS BIGINT) END AS r
         |  FROM c)
         |SELECT q, r, count(*) AS n,
         |  round(2.5e0 * sqrt(3e0) * (q + r/2e0), 9) AS hx,
         |  round(2.5e0 * 1.5e0 * r, 9) AS hy
         |FROM fx GROUP BY q, r""".stripMargin,
    // replays kernels/Mvt op-for-op: tileBounds xmin = -half + tx*size,
    // ymax = half - ty*size; local = floor((m - edge)/size*4096 + 0.5).
    // All +,-,*,/ and floor — bitwise deterministic across engines.
    "q_mvt" ->
      s"""WITH p AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |m AS (SELECT c_custkey,
         |    px / 180e0 * 20037508.342789244e0 AS mx,
         |    py / 180e0 * 20037508.342789244e0 AS my,
         |    20037508.342789244e0 * 2e0 / 8e0 AS sz FROM p),
         |t AS (SELECT c_custkey, mx, my, sz,
         |    CAST(floor((mx + 20037508.342789244e0) / sz) AS BIGINT) AS tx,
         |    CAST(floor((20037508.342789244e0 - my) / sz) AS BIGINT) AS ty FROM m)
         |SELECT c_custkey, tx, ty,
         |  floor((mx - (-20037508.342789244e0 + tx * sz)) / sz * 4096 + 0.5e0) AS lx,
         |  floor(((20037508.342789244e0 - ty * sz) - my) / sz * 4096 + 0.5e0) AS ly,
         |  -20037508.342789244e0 + tx * sz AS exmin,
         |  20037508.342789244e0 - ty * sz AS eymax
         |FROM t""".stripMargin,
    "q_squaregrid" ->
      s"""WITH p AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |r AS (SELECT c_custkey,
         |    CAST(floor(px / 1.25e0) AS BIGINT) AS i0,
         |    CAST(floor((px + 3.3e0) / 1.25e0) AS BIGINT) AS i1,
         |    CAST(floor(py / 1.25e0) AS BIGINT) AS j0,
         |    CAST(floor((py + 2.2e0) / 1.25e0) AS BIGINT) AS j1 FROM p),
         |cells AS (SELECT c_custkey, gi.i, gj.j
         |  FROM r, LATERAL (SELECT unnest(range(i0, i1 + 1)) AS i) gi,
         |          LATERAL (SELECT unnest(range(j0, j1 + 1)) AS j) gj)
         |SELECT i, j, count(*) AS n FROM cells GROUP BY i, j""".stripMargin,
    // the tile ENCODE→DECODE roundtrip must land exactly on the same
    // first-principles math as q_mvt (ids/local coords recomputed
    // independently; the wire format itself is byte-golden-tested)
    "q_asmvt" ->
      s"""WITH p AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |m AS (SELECT c_custkey,
         |    px / 180e0 * 20037508.342789244e0 AS mx,
         |    py / 180e0 * 20037508.342789244e0 AS my,
         |    20037508.342789244e0 * 2e0 / 8e0 AS sz FROM p),
         |t AS (SELECT c_custkey, mx, my, sz,
         |    CAST(floor((mx + 20037508.342789244e0) / sz) AS BIGINT) AS tx,
         |    CAST(floor((20037508.342789244e0 - my) / sz) AS BIGINT) AS ty FROM m)
         |SELECT tx, ty, c_custkey AS id,
         |  floor((mx - (-20037508.342789244e0 + tx * sz)) / sz * 4096 + 0.5e0) AS lx,
         |  floor(((20037508.342789244e0 - ty * sz) - my) / sz * 4096 + 0.5e0) AS ly,
         |  c_name AS name, CAST(c_custkey % 7 AS BIGINT) AS grp
         |FROM t JOIN customer USING (c_custkey)""".stripMargin,
    // geometric-median closed forms (see the query comment)
    "q_geomedian" ->
      """SELECT n_nationkey AS nk,
        |  round(n_nationkey * 10e0 + 6e0, 5) AS rx,
        |  round(n_nationkey * 5e0 + 6e0, 5) AS ry,
        |  round(n_nationkey * 10e0 + 1e0, 5) AS ex,
        |  round(n_nationkey * 5e0 + 1e0 / sqrt(3e0), 5) AS ey,
        |  round(n_nationkey * 10e0 + 2e0, 5) AS bx,
        |  round(n_nationkey * 5e0 + 0.1e0, 5) AS "by",
        |  round(n_nationkey * 10e0 + 2e0, 5) AS cx,
        |  round(n_nationkey * 5e0, 5) AS cy
        |FROM nation""".stripMargin,
    // the WARC roundtrip must hand back the source table byte-for-byte
    "q_warc" ->
      """SELECT 'http://synth.test/doc/' || doc_id AS url,
        |  'response' AS warc_type,
        |  '2024-01-01T00:00:00Z' AS date,
        |  'text/plain' AS content_type,
        |  text AS txt
        |FROM documents""".stripMargin,
    // replays TrainingData.dsirScores op-for-op: the 31-polynomial
    // bucket map, add-1 LLR in the same division order, integer-grid
    // scaling, exact integer per-doc sums
    "q_dsir" ->
      s"""WITH words AS (SELECT doc_id, x AS w FROM documents,
         |  LATERAL unnest(list_filter(string_split_regex(lower(text), '${"\\"}s+'),
         |    x -> len(x) > 0)) AS t(x)),
         |b AS (SELECT doc_id,
         |  (ascii(substr(p, 1, 1)) * CAST(1 AS BIGINT) + ascii(substr(p, 2, 1)) * CAST(31 AS BIGINT)
         |   + ascii(substr(p, 3, 1)) * CAST(961 AS BIGINT) + ascii(substr(p, 4, 1)) * CAST(29791 AS BIGINT)
         |   + ascii(substr(p, 5, 1)) * CAST(923521 AS BIGINT)
         |   + ascii(substr(p, 6, 1)) * CAST(28629151 AS BIGINT)
         |   + ascii(substr(p, 7, 1)) * CAST(887503681 AS BIGINT)
         |   + ascii(substr(p, 8, 1)) * 27512614111) % 1024 AS bucket
         |  FROM (SELECT doc_id, rpad(w, 8, '.') AS p FROM words)),
         |qc AS (SELECT bucket, count(*) AS ct FROM b GROUP BY 1),
         |pc AS (SELECT bucket, count(*) AS ctp FROM b WHERE doc_id % 7 = 0 GROUP BY 1),
         |tot AS (SELECT (SELECT sum(ct) FROM qc) AS tq,
         |               (SELECT sum(ctp) FROM pc) AS tp),
         |llr AS (SELECT q.bucket,
         |    CAST(floor(1e6 * ln((coalesce(p.ctp, 0) + 1e0) / (tot.tp + 1024e0)
         |      * ((tot.tq + 1024e0) / (q.ct + 1e0))) + 0.5e0) AS BIGINT) AS llr
         |  FROM qc q LEFT JOIN pc p USING (bucket), tot),
         |db AS (SELECT doc_id, bucket, count(*) AS n FROM b GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CAST(sum(n * llr) AS BIGINT) AS score_scaled
         |FROM db JOIN llr USING (bucket) GROUP BY doc_id""".stripMargin,
    // replays TrainingData.lmScores: lead() bigrams per doc, add-1
    // bigram LM on the doc_id%3 slice, integer-scaled terms
    "q_lmscore" ->
      s"""WITH wl AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '${"\\"}s+'),
         |      x -> len(x) > 0) AS ws FROM documents),
         |w AS (SELECT doc_id, unnest(ws) AS w,
         |    generate_subscripts(ws, 1) AS pos FROM wl),
         |b AS (SELECT doc_id, pos,
         |  (ascii(substr(p, 1, 1)) * CAST(1 AS BIGINT)
         |   + ascii(substr(p, 2, 1)) * CAST(31 AS BIGINT)
         |   + ascii(substr(p, 3, 1)) * CAST(961 AS BIGINT)
         |   + ascii(substr(p, 4, 1)) * CAST(29791 AS BIGINT)
         |   + ascii(substr(p, 5, 1)) * CAST(923521 AS BIGINT)
         |   + ascii(substr(p, 6, 1)) * CAST(28629151 AS BIGINT)
         |   + ascii(substr(p, 7, 1)) * CAST(887503681 AS BIGINT)
         |   + ascii(substr(p, 8, 1)) * 27512614111) % 1024 AS bk
         |  FROM (SELECT doc_id, pos, rpad(w, 8, '.') AS p FROM w)),
         |pairs AS (SELECT doc_id, bk AS b1,
         |    lead(bk) OVER (PARTITION BY doc_id ORDER BY pos) AS b2 FROM b),
         |pr AS (SELECT doc_id, b1, b2 FROM pairs WHERE b2 IS NOT NULL),
         |c2 AS (SELECT b1, b2, count(*) AS c2 FROM pr WHERE doc_id % 3 = 0 GROUP BY 1, 2),
         |c1 AS (SELECT b1, count(*) AS c1 FROM pr WHERE doc_id % 3 = 0 GROUP BY 1),
         |dp AS (SELECT doc_id, b1, b2, count(*) AS n FROM pr GROUP BY 1, 2, 3),
         |t AS (SELECT dp.doc_id, dp.n,
         |    CAST(floor(1e6 * ln((coalesce(c2.c2, 0) + 1e0)
         |      / (coalesce(c1.c1, 0) + 1024e0)) + 0.5e0) AS BIGINT) AS term
         |  FROM dp LEFT JOIN c2 USING (b1, b2) LEFT JOIN c1 USING (b1))
         |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_pairs,
         |  CAST(sum(n * term) AS BIGINT) AS loglik_scaled
         |FROM t GROUP BY doc_id""".stripMargin,
    // invariant oracle (q_wkb pattern): the sampler must emit exactly
    // n contained points for every polygon
    "q_genpoints" ->
      """SELECT n_nationkey AS pid, CAST(200 AS INTEGER) AS n,
        |  TRUE AS all_inside, TRUE AS bbox_ok
        |FROM nation""".stripMargin,
    // full marching-squares replay: block assembly joins, crossing
    // flags, guarded rational interpolation, the saddle center rule,
    // lexicographic endpoint ordering — op-for-op vs operators/Contour
    "q_contour" ->
      s"""WITH pts AS (SELECT $PxSql AS px, $PySql AS py FROM customer),
         |g0 AS (SELECT CAST(floor((px + 180e0) / 360e0 * 64e0) AS BIGINT) AS x,
         |       CAST(floor((90e0 - py) / 180e0 * 64e0) AS BIGINT) AS y FROM pts),
         |counts AS (SELECT x, y, CAST(count(*) AS DOUBLE) AS v FROM g0 GROUP BY 1, 2),
         |allcells AS (SELECT gx.range AS x, gy.range AS y
         |  FROM range(0, 64) gx, range(0, 64) gy),
         |grid AS (SELECT f.x, f.y, coalesce(c.v, 0e0) AS v
         |  FROM allcells f LEFT JOIN counts c ON c.x = f.x AND c.y = f.y),
         |blocks AS (SELECT a.x AS bx, a.y AS byy,
         |    a.v AS v00, b.v AS v10, c.v AS v01, d.v AS v11
         |  FROM grid a JOIN grid b ON b.x = a.x + 1 AND b.y = a.y
         |    JOIN grid c ON c.x = a.x AND c.y = a.y + 1
         |    JOIN grid d ON d.x = a.x + 1 AND d.y = a.y + 1),
         |f AS (SELECT *, v00 >= 0.5e0 AS i00, v10 >= 0.5e0 AS i10,
         |    v01 >= 0.5e0 AS i01, v11 >= 0.5e0 AS i11 FROM blocks),
         |e AS (SELECT *, (i00 <> i10) AS cb, (i10 <> i11) AS cr,
         |    (i01 <> i11) AS ct, (i00 <> i01) AS cl,
         |    bx + CASE WHEN v00 <> v10 THEN (0.5e0 - v00) / (v10 - v00) ELSE 0e0 END AS pbx,
         |    CAST(byy AS DOUBLE) AS pby,
         |    CAST(bx + 1 AS DOUBLE) AS prx,
         |    byy + CASE WHEN v10 <> v11 THEN (0.5e0 - v10) / (v11 - v10) ELSE 0e0 END AS pry,
         |    bx + CASE WHEN v01 <> v11 THEN (0.5e0 - v01) / (v11 - v01) ELSE 0e0 END AS ptx,
         |    CAST(byy + 1 AS DOUBLE) AS pty,
         |    CAST(bx AS DOUBLE) AS plx,
         |    byy + CASE WHEN v00 <> v01 THEN (0.5e0 - v00) / (v01 - v00) ELSE 0e0 END AS ply,
         |    ((v00 + v10 + v01 + v11) / 4e0 >= 0.5e0) AS cin
         |  FROM f),
         |n AS (SELECT *, CAST(cb AS INTEGER) + CAST(cr AS INTEGER)
         |    + CAST(ct AS INTEGER) + CAST(cl AS INTEGER) AS ncross FROM e),
         |segs AS (
         |  SELECT bx, byy, 0 AS seg,
         |    CASE WHEN cb THEN pbx WHEN cr THEN prx ELSE ptx END AS p1x,
         |    CASE WHEN cb THEN pby WHEN cr THEN pry ELSE pty END AS p1y,
         |    CASE WHEN cl THEN plx WHEN ct THEN ptx ELSE prx END AS p2x,
         |    CASE WHEN cl THEN ply WHEN ct THEN pty ELSE pry END AS p2y
         |  FROM n WHERE ncross = 2
         |  UNION ALL
         |  SELECT bx, byy, 0 AS seg, pbx AS p1x, pby AS p1y,
         |    CASE WHEN cin <> i10 THEN prx ELSE plx END AS p2x,
         |    CASE WHEN cin <> i10 THEN pry ELSE ply END AS p2y
         |  FROM n WHERE ncross = 4
         |  UNION ALL
         |  SELECT bx, byy, 1 AS seg, ptx AS p1x, pty AS p1y,
         |    CASE WHEN cin <> i10 THEN plx ELSE prx END AS p2x,
         |    CASE WHEN cin <> i10 THEN ply ELSE pry END AS p2y
         |  FROM n WHERE ncross = 4)
         |SELECT bx, byy AS "by", seg,
         |  CASE WHEN p1x > p2x OR (p1x = p2x AND p1y > p2y) THEN p2x ELSE p1x END AS x1,
         |  CASE WHEN p1x > p2x OR (p1x = p2x AND p1y > p2y) THEN p2y ELSE p1y END AS y1,
         |  CASE WHEN p1x > p2x OR (p1x = p2x AND p1y > p2y) THEN p1x ELSE p2x END AS x2,
         |  CASE WHEN p1x > p2x OR (p1x = p2x AND p1y > p2y) THEN p1y ELSE p2y END AS y2
         |FROM segs""".stripMargin,
    // hex ring as the SET of cells at axial distance exactly k (the
    // walk emits exactly that set); distances in integer cube norm
    "q_hexring" ->
      s"""WITH pts AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |h AS (SELECT c_custkey,
         |    (sqrt(3e0)/3e0 * px - py/3e0) / 2.5e0 AS fq,
         |    (2e0/3e0 * py) / 2.5e0 AS fr
         |  FROM pts),
         |c AS (SELECT c_custkey, fq, fr, -fq - fr AS fy,
         |    floor(fq + 0.5e0) AS rx, floor(-fq - fr + 0.5e0) AS ry,
         |    floor(fr + 0.5e0) AS rz FROM h),
         |fx AS (SELECT DISTINCT
         |    CASE WHEN abs(rx - fq) > abs(ry - fy) AND abs(rx - fq) > abs(rz - fr)
         |         THEN CAST(-ry - rz AS BIGINT) ELSE CAST(rx AS BIGINT) END AS q,
         |    CASE WHEN abs(rx - fq) > abs(ry - fy) AND abs(rx - fq) > abs(rz - fr)
         |         THEN CAST(rz AS BIGINT)
         |         WHEN abs(ry - fy) > abs(rz - fr) THEN CAST(rz AS BIGINT)
         |         ELSE CAST(-rx - ry AS BIGINT) END AS r
         |  FROM c),
         |offs AS (SELECT dq.range AS dq, dr.range AS dr
         |  FROM range(-2, 3) dq, range(-2, 3) dr
         |  WHERE (abs(dq.range) + abs(dr.range) + abs(dq.range + dr.range)) // 2 = 2)
         |SELECT q, r,
         |  CAST((abs(q) + abs(r) + abs(q + r)) // 2 AS BIGINT) AS d0,
         |  q + dq AS rq, r + dr AS rr
         |FROM fx, offs""".stripMargin,
    // replays Raster.sampleBilinear: same dense grid, same corner
    // fetch, same fixed-order blend expression
    "q_bilinear" ->
      s"""WITH pts AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |g0 AS (SELECT CAST(floor((px + 180e0) / 360e0 * 64e0) AS BIGINT) AS x,
         |       CAST(floor((90e0 - py) / 180e0 * 64e0) AS BIGINT) AS y FROM pts),
         |counts AS (SELECT x, y, CAST(count(*) AS DOUBLE) AS v FROM g0 GROUP BY 1, 2),
         |allcells AS (SELECT gx.range AS x, gy.range AS y
         |  FROM range(0, 64) gx, range(0, 64) gy),
         |grid AS (SELECT f.x, f.y, coalesce(c.v, 0e0) AS v
         |  FROM allcells f LEFT JOIN counts c ON c.x = f.x AND c.y = f.y),
         |p AS (SELECT c_custkey,
         |    (px + 180e0) / 360e0 * 64e0 AS u,
         |    (90e0 - py) / 180e0 * 64e0 AS w FROM pts),
         |q AS (SELECT c_custkey,
         |    CAST(floor(u) AS BIGINT) AS i0, CAST(floor(w) AS BIGINT) AS j0,
         |    u - floor(u) AS fx, w - floor(w) AS fy FROM p),
         |j AS (SELECT q.c_custkey, q.fx, q.fy,
         |    a.v AS v00, b.v AS v10, c.v AS v01, d.v AS v11
         |  FROM q JOIN grid a ON a.x = q.i0 AND a.y = q.j0
         |    JOIN grid b ON b.x = q.i0 + 1 AND b.y = q.j0
         |    JOIN grid c ON c.x = q.i0 AND c.y = q.j0 + 1
         |    JOIN grid d ON d.x = q.i0 + 1 AND d.y = q.j0 + 1)
         |SELECT c_custkey,
         |  (1e0 - fx) * (1e0 - fy) * v00 + fx * (1e0 - fy) * v10
         |    + (1e0 - fx) * fy * v01 + fx * fy * v11 AS value
         |FROM j""".stripMargin,
    // replays TrainingData.htmlToText: same page synthesis, same
    // regexp/replace chain in the same order ('g' = Spark's global)
    "q_html" ->
      s"""WITH h AS (SELECT doc_id,
         |  '<html><head><title>Doc ' || doc_id || '</title>'
         |  || '<script type="text/javascript">var x = 1 < 2;</script>'
         |  || '<style>.c { color: red; }</style></head><body>'
         |  || '<!-- crawler comment --><h1>Doc ' || doc_id || '</h1>'
         |  || '<p>' || text || '</p>'
         |  || '<div>cafe &amp; bar &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div>'
         |  || '<ul><li>a</li><li>b</li></ul></body></html>' AS html
         |  FROM documents),
         |s1 AS (SELECT doc_id, regexp_replace(html,
         |  '(?is)<(script|style)[^>]*>.*?</(script|style)>', '', 'g') AS t FROM h),
         |s2 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', '', 'g') AS t FROM s1),
         |s3 AS (SELECT doc_id, regexp_replace(t,
         |  '(?i)<(br[^>]*|/p|/div|/h[1-6]|/li|/tr|/title)>', chr(10), 'g') AS t FROM s2),
         |s4 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', '', 'g') AS t FROM s3),
         |s5 AS (SELECT doc_id,
         |  replace(replace(replace(replace(replace(replace(t,
         |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
         |    '&nbsp;', ' '), '&amp;', '&') AS t FROM s4),
         |s6 AS (SELECT doc_id, regexp_replace(t, '[ ${"\\"}t${"\\"}r]+', ' ', 'g') AS t FROM s5),
         |s7 AS (SELECT doc_id, regexp_replace(t, ' ?${"\\"}n ?', chr(10), 'g') AS t FROM s6),
         |s8 AS (SELECT doc_id,
         |  regexp_replace(t, '${"\\"}n{2,}', chr(10), 'g') AS t FROM s7)
         |SELECT doc_id,
         |  regexp_replace(t, '^${"\\"}s+|${"\\"}s+$$', '', 'g') AS txt
         |FROM s8""".stripMargin,
    // base-4 digits of (tx, ty) MSB-first (published Bing scheme)
    "q_quadkey" ->
      s"""WITH p AS (SELECT c_custkey, $PxSql AS px, $PySql AS py FROM customer),
         |m AS (SELECT c_custkey,
         |    px / 180e0 * 20037508.342789244e0 AS mx,
         |    py / 180e0 * 20037508.342789244e0 AS my,
         |    20037508.342789244e0 * 2e0 / 8e0 AS sz FROM p),
         |t AS (SELECT c_custkey,
         |    CAST(floor((mx + 20037508.342789244e0) / sz) AS BIGINT) AS tx,
         |    CAST(floor((20037508.342789244e0 - my) / sz) AS BIGINT) AS ty FROM m)
         |SELECT c_custkey, tx, ty,
         |  CAST(((tx >> 2) & 1) + 2 * ((ty >> 2) & 1) AS VARCHAR)
         |    || CAST(((tx >> 1) & 1) + 2 * ((ty >> 1) & 1) AS VARCHAR)
         |    || CAST((tx & 1) + 2 * (ty & 1) AS VARCHAR) AS qk,
         |  TRUE AS rt_ok
         |FROM t""".stripMargin)
}
