package graft.sql

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.{ColumnBridge, ErrorBridge}
import scala.reflect.ClassTag

/**
 * Column API for the st_* operators plus SQL function registration
 * (SparkSessionExtensions.injectFunction analogue via the session
 * FunctionRegistry — SURVEY.md §2.6).
 */
object functions {

  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def x(c: Column): Expression = ColumnBridge.expression(c)

  // codecs
  def st_geomfromtext(wkt: Column): Column = col(StGeomFromText(x(wkt)))

  /** EXPLICITLY LOSSY drop-to-2D parse of XYZ/XYM/XYZM WKT (PostGIS-
    * sourced corpora): the Z/M token and extra ordinates drop. The
    * default st_geomfromtext keeps the typed rejection contract. */
  def st_geomfromtext_force2d(wkt: Column): Column = col(StGeomFromTextForce2D(x(wkt)))
  def st_astext(g: Column): Column = col(StAsText(x(g)))
  def st_geometrytype(g: Column): Column = col(StGeometryType(x(g)))
  def st_point(lon: Column, lat: Column): Column = col(StPoint(x(lon), x(lat)))
  /** PostGIS alias of [[st_point]]. */
  def st_makepoint(lon: Column, lat: Column): Column = st_point(lon, lat)
  def st_rect(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    col(StRect(x(xmin), x(ymin), x(xmax), x(ymax)))
  /** GEOMETRYCOLLECTION ↔ array<geom> (Spark-native collection form). */
  def st_collection_fromtext(wkt: Column): Column = col(StCollectionFromText(x(wkt)))
  def st_collection_astext(arr: Column): Column = col(StCollectionAsText(x(arr)))
  /** Unary union of an array<geom>: merged polygons, fully noded +
    * dissolved linework, residual points (empties omitted). */
  def st_unary_union(arr: Column): Column = col(StUnaryUnion(x(arr)))
  /** JTS GeometryCollection centroid over array<geom> (highest
    * dimension wins). */
  def st_collection_centroid(arr: Column): Column = col(StCollectionCentroid(x(arr)))
  def st_numparts(g: Column): Column = col(StNumParts(x(g)))
  /** OGC Mod-2 boundary. */
  def st_boundary(g: Column): Column = col(StBoundary(x(g)))
  /** Minimum clearance distance / realizing line. */
  def st_minclearance(g: Column): Column = col(StMinClearance(x(g)))
  def st_minclearanceline(g: Column): Column = col(StMinClearanceLine(x(g)))
  /** Polygonize linework: array<geom> → array of formed polygons. */
  def st_polygonize(arr: Column): Column = col(StPolygonize(x(arr)))
  /** Winnowing (MOSS) rolling-hash fingerprints of a text column. */
  def st_winnow(text: Column, k: Column, w: Column): Column =
    col(StWinnowFingerprints(x(text), x(k), x(w)))

  // measures
  def st_area(g: Column): Column = col(StArea(x(g)))
  def st_unsigned_area(g: Column): Column = col(StUnsignedArea(x(g)))
  def st_sphere_area(g: Column): Column = col(StSphereArea(x(g)))
  def st_geodesic_area(g: Column): Column = col(StGeodesicArea(x(g)))
  def st_geodesic_area_unsigned(g: Column): Column = col(StGeodesicAreaUnsigned(x(g)))
  def st_length(g: Column): Column = col(StLength(x(g)))
  def st_length_sphere(g: Column): Column = col(StLengthSphere(x(g)))
  def st_length_rhumb(g: Column): Column = col(StLengthRhumb(x(g)))
  def st_length_geodesic(g: Column): Column = col(StLengthGeodesic(x(g)))
  def st_perimeter(g: Column): Column = col(StPerimeter(x(g)))
  def st_numpoints(g: Column): Column = col(StNumPoints(x(g)))
  /** PostGIS alias of [[st_numpoints]]. */
  def st_npoints(g: Column): Column = st_numpoints(g)
  def st_isempty(g: Column): Column = col(StIsEmpty(x(g)))
  def st_isccw(g: Column): Column = col(StIsCcw(x(g)))
  def st_isconvex(g: Column): Column = col(StIsConvex(x(g)))
  def st_windingorder(g: Column): Column = col(StWindingOrder(x(g)))
  def st_xmin(g: Column): Column = col(StXMin(x(g)))
  def st_ymin(g: Column): Column = col(StYMin(x(g)))
  def st_xmax(g: Column): Column = col(StXMax(x(g)))
  def st_ymax(g: Column): Column = col(StYMax(x(g)))
  def st_x(g: Column): Column = col(StX(x(g)))
  def st_y(g: Column): Column = col(StY(x(g)))
  def st_extremes(g: Column): Column = col(StExtremes(x(g)))

  // derived geometries
  def st_centroid(g: Column): Column = col(StCentroid(x(g)))
  def st_envelope(g: Column): Column = col(StEnvelope(x(g)))
  def st_interiorpoint(g: Column): Column = col(StInteriorPoint(x(g)))
  def st_convexhull(g: Column): Column = col(StConvexHull(x(g)))
  def st_grahamhull(g: Column, includeOnHull: Column): Column =
    col(StGrahamHull(x(g), x(includeOnHull)))
  def st_subdivide(g: Column, maxVerts: Column): Column = col(StSubdivide(x(g), x(maxVerts)))
  def st_linemerge(g: Column): Column = col(StLineMerge(x(g)))
  def st_offsetcurve(g: Column, dist: Column): Column = col(StOffsetCurve(x(g), x(dist)))
  def st_makevalid(g: Column): Column = col(StMakeValid(x(g)))
  def st_shortestline(a: Column, b: Column): Column = col(StShortestLine(x(a), x(b)))
  def st_snap(a: Column, b: Column, tol: Column): Column = col(StSnap(x(a), x(b), x(tol)))
  def st_split(a: Column, b: Column): Column = col(StSplit(x(a), x(b)))
  def st_linesubstring(g: Column, t0: Column, t1: Column): Column =
    col(StLineSubstring(x(g), x(t0), x(t1)))
  def st_reverse(g: Column): Column = col(StReverse(x(g)))
  def st_normalize(g: Column): Column = col(StNormalize(x(g)))
  def st_exteriorring(g: Column): Column = col(StExteriorRing(x(g)))
  def st_numinteriorrings(g: Column): Column = col(StNumInteriorRings(x(g)))
  def st_interiorringn(g: Column, n: Column): Column = col(StInteriorRingN(x(g), x(n)))
  def st_pointn(g: Column, n: Column): Column = col(StPointN(x(g), x(n)))
  def st_startpoint(g: Column): Column = col(StStartPoint(x(g)))
  def st_endpoint(g: Column): Column = col(StEndPoint(x(g)))
  def st_geometryn(g: Column, n: Column): Column = col(StGeometryN(x(g), x(n)))
  def st_dumprings(g: Column): Column = col(StDumpRings(x(g)))
  def st_maxdistance(a: Column, b: Column): Column = col(StMaxDistance(x(a), x(b)))
  def st_longestline(a: Column, b: Column): Column = col(StLongestLine(x(a), x(b)))
  def st_makeline(arr: Column): Column = col(StMakeLine(x(arr)))
  def st_flipcoordinates(g: Column): Column = col(StFlipCoordinates(x(g)))
  def st_isclosed(g: Column): Column = col(StIsClosed(x(g)))
  def st_issimple(g: Column): Column = col(StIsSimple(x(g)))
  def st_isring(g: Column): Column = col(StIsRing(x(g)))
  def st_multi(g: Column): Column = col(StMulti(x(g)))
  def st_points(g: Column): Column = col(StPoints(x(g)))
  def st_boundingdiagonal(g: Column): Column = col(StBoundingDiagonal(x(g)))
  def st_scroll(g: Column, p: Column): Column = col(StScroll(x(g), x(p)))
  def st_shift_longitude(g: Column): Column = col(StShiftLongitude(x(g)))
  def st_minimumboundingcircle(g: Column): Column =
    col(StMinimumBoundingCircle(x(g), Literal(48)))
  def st_minimumboundingcircle(g: Column, segs: Column): Column =
    col(StMinimumBoundingCircle(x(g), x(segs)))
  def st_minimumboundingradius(g: Column): Column = col(StMinimumBoundingRadius(x(g)))
  def st_sharedpaths(a: Column, b: Column): Column = col(StSharedPaths(x(a), x(b)))
  def st_linecrossingdirection(a: Column, b: Column): Column =
    col(StLineCrossingDirection(x(a), x(b)))
  def st_hexbin(xc: Column, yc: Column, size: Column): Column =
    col(StHexBin(x(xc), x(yc), x(size)))
  def st_hexbin_center(q: Column, r: Column, size: Column): Column =
    col(StHexBinCenter(x(q), x(r), x(size)))
  def st_hexagon(q: Column, r: Column, size: Column): Column =
    col(StHexagon(x(q), x(r), x(size)))
  def st_tileenvelope(z: Column, xt: Column, yt: Column): Column =
    col(StTileEnvelope(x(z), x(xt), x(yt), Literal(0.0)))
  def st_tileenvelope(z: Column, xt: Column, yt: Column, margin: Column): Column =
    col(StTileEnvelope(x(z), x(xt), x(yt), x(margin)))
  def st_asmvtgeom(g: Column, z: Column, xt: Column, yt: Column): Column =
    col(StAsMvtGeom(Seq(x(g), x(z), x(xt), x(yt),
      Literal(4096), Literal(256), Literal(true))))
  def st_asmvtgeom(g: Column, z: Column, xt: Column, yt: Column,
      extent: Column, buffer: Column, clip: Column): Column =
    col(StAsMvtGeom(Seq(x(g), x(z), x(xt), x(yt), x(extent), x(buffer), x(clip))))
  def st_squaregrid(g: Column, size: Column): Column =
    col(StSquareGrid(x(g), x(size)))
  def st_squaregrid_cell(i: Column, j: Column, size: Column): Column =
    col(StSquareGridCell(x(i), x(j), x(size)))
  def st_asmvt(g: Column, id: Column): Column =
    col(StAsMvtAgg(x(g), x(id)).toAggregateExpression())
  def st_asmvt(g: Column, id: Column, layer: String, extent: Int): Column =
    col(StAsMvtAgg(x(g), x(id), None, layer, extent).toAggregateExpression())
  def st_asmvt(g: Column, id: Column, attrs: Column): Column =
    col(StAsMvtAgg(x(g), x(id), Some(x(attrs))).toAggregateExpression())
  def st_asmvt(g: Column, id: Column, attrs: Column,
      layer: String, extent: Int): Column =
    col(StAsMvtAgg(x(g), x(id), Some(x(attrs)), layer, extent).toAggregateExpression())
  def st_mvt_decode(tile: Column): Column = col(StMvtDecode(x(tile)))
  def st_mvt_layername(tile: Column): Column = col(StMvtLayerName(x(tile)))
  def st_mvt_extent(tile: Column): Column = col(StMvtExtent(x(tile)))
  def st_geometricmedian(g: Column): Column =
    col(StGeometricMedian(x(g), Literal(0.0), Literal(10000)))
  def st_geometricmedian(g: Column, tol: Column, maxIter: Column): Column =
    col(StGeometricMedian(x(g), x(tol), x(maxIter)))
  def st_generatepoints(g: Column, n: Column): Column =
    col(StGeneratePoints(x(g), x(n), Literal(0L)))
  def st_generatepoints(g: Column, n: Column, seed: Column): Column =
    col(StGeneratePoints(x(g), x(n), x(seed)))
  def st_hexdistance(q1: Column, r1: Column, q2: Column, r2: Column): Column =
    col(StHexDistance(x(q1), x(r1), x(q2), x(r2)))
  def st_hexring(q: Column, r: Column, k: Column): Column =
    col(StHexRing(x(q), x(r), x(k)))
  def st_quadkey(z: Column, xt: Column, yt: Column): Column =
    col(StQuadkey(x(z), x(xt), x(yt)))
  def st_quadkey_decode(qk: Column): Column = col(StQuadkeyDecode(x(qk)))
  def st_lineinterpolatepoints(line: Column, fraction: Column): Column =
    col(StLineInterpolatePoints(x(line), x(fraction)))
  def st_addpoint(line: Column, p: Column, pos: Column): Column =
    col(StAddPoint(x(line), x(p), x(pos)))
  def st_setpoint(line: Column, pos: Column, p: Column): Column =
    col(StSetPoint(x(line), x(pos), x(p)))
  def st_removepoint(line: Column, pos: Column): Column =
    col(StRemovePoint(x(line), x(pos)))
  def st_angle(a: Column, b: Column, c: Column): Column = col(StAngle(x(a), x(b), x(c)))
  def st_expand(g: Column, d: Column): Column = col(StExpand(x(g), x(d)))
  def st_node(g: Column): Column = col(StNode(x(g)))
  def st_maximuminscribedcircle(g: Column, tol: Column): Column =
    col(StMaximumInscribedCircle(x(g), x(tol)))
  def st_largestemptycircle(g: Column, tol: Column): Column =
    col(StLargestEmptyCircle(x(g), x(tol)))
  def st_voronoi(g: Column): Column = col(StVoronoi(x(g)))
  def st_voronoi(g: Column, minX: Column, minY: Column, maxX: Column, maxY: Column): Column =
    col(StVoronoiClip(Seq(x(g), x(minX), x(minY), x(maxX), x(maxY))))
  def st_buffer(g: Column, dist: Column): Column = col(StBuffer(x(g), x(dist)))
  def st_buffer(g: Column, dist: Column, style: Column): Column =
    col(StBufferStyle(x(g), x(dist), x(style)))
  def st_simplify(g: Column, eps: Column): Column = col(StSimplify(x(g), x(eps)))
  def st_simplifyvw(g: Column, eps: Column): Column = col(StSimplifyVw(x(g), x(eps)))
  def st_simplify_idx(g: Column, eps: Column): Column = col(StSimplifyIdx(x(g), x(eps)))
  def st_simplifyvw_idx(g: Column, eps: Column): Column = col(StSimplifyVwIdx(x(g), x(eps)))
  def st_densify(g: Column, maxLen: Column): Column = col(StDensify(x(g), x(maxLen)))
  def st_densify_rhumb(g: Column, maxLen: Column): Column =
    col(StDensifyRhumb(x(g), x(maxLen)))
  def st_densify_geodesic(g: Column, maxLen: Column): Column =
    col(StDensifyGeodesic(x(g), x(maxLen)))
  def st_densify_haversine(g: Column, maxLen: Column): Column =
    col(StDensifyHaversine(x(g), x(maxLen)))
  def st_chaikin(g: Column, n: Column): Column = col(StChaikin(x(g), x(n)))
  def st_removerepeated(g: Column): Column = col(StRemoveRepeated(x(g)))
  def st_toradians(g: Column): Column = col(StToRadians(x(g)))
  def st_todegrees(g: Column): Column = col(StToDegrees(x(g)))
  def st_force_cw(g: Column): Column = col(StForceCw(x(g)))
  def st_force_ccw(g: Column): Column = col(StForceCcw(x(g)))
  def st_dumppoints(g: Column): Column = col(StDumpPoints(x(g)))
  def st_dumpsegments(g: Column): Column = col(StDumpSegments(x(g)))
  def st_lineintersection(a: Column, b: Column): Column = col(StLineIntersection(x(a), x(b)))
  def st_closestpoint(g: Column, p: Column): Column = col(StClosestPoint(x(g), x(p)))

  // transforms
  def st_affine(g: Column, a: Column, b: Column, xoff: Column,
      d: Column, e: Column, yoff: Column): Column =
    col(StAffine(Seq(x(g), x(a), x(b), x(xoff), x(d), x(e), x(yoff))))
  def st_translate(g: Column, tx: Column, ty: Column): Column =
    col(StTranslate(x(g), x(tx), x(ty)))
  def st_rotate(g: Column, degrees: Column): Column = col(StRotate(x(g), x(degrees)))
  def st_scale(g: Column, sx: Column, sy: Column): Column = col(StScale(x(g), x(sx), x(sy)))
  def st_skew(g: Column, degX: Column, degY: Column): Column = col(StSkew(x(g), x(degX), x(degY)))

  // predicates
  def st_contains(a: Column, b: Column): Column = col(StContains(x(a), x(b)))
  def st_within(a: Column, b: Column): Column = col(StWithin(x(a), x(b)))
  def st_intersects(a: Column, b: Column): Column = col(StIntersects(x(a), x(b)))
  def st_disjoint(a: Column, b: Column): Column = col(StDisjoint(x(a), x(b)))
  def st_contains_xy(poly: Column, lon: Column, lat: Column): Column =
    col(StContainsXY(x(poly), x(lon), x(lat)))
  def st_intersects_xy(g: Column, lon: Column, lat: Column): Column =
    col(StIntersectsXY(x(g), x(lon), x(lat)))

  // distances / navigation
  def st_distance(a: Column, b: Column): Column = col(StDistance(x(a), x(b)))
  def st_distance_sphere(a: Column, b: Column): Column = col(StDistanceSphere(x(a), x(b)))
  def st_distance_rhumb(a: Column, b: Column): Column = col(StDistanceRhumb(x(a), x(b)))
  def st_distance_geodesic(a: Column, b: Column): Column = col(StDistanceGeodesic(x(a), x(b)))
  def st_azimuth(a: Column, b: Column): Column = col(StAzimuth(x(a), x(b)))
  def st_bearing(a: Column, b: Column): Column = col(StBearing(x(a), x(b)))
  def st_bearing_rhumb(a: Column, b: Column): Column = col(StBearingRhumb(x(a), x(b)))
  def st_bearing_geodesic(a: Column, b: Column): Column = col(StBearingGeodesic(x(a), x(b)))
  def st_project(p: Column, bearing: Column, meters: Column): Column =
    col(StProject(x(p), x(bearing), x(meters)))
  def st_project_rhumb(p: Column, bearing: Column, meters: Column): Column =
    col(StProjectRhumb(x(p), x(bearing), x(meters)))
  def st_project_geodesic(p: Column, bearing: Column, meters: Column): Column =
    col(StProjectGeodesic(x(p), x(bearing), x(meters)))
  def st_crosstrack(p: Column, a: Column, b: Column): Column =
    col(StCrossTrack(x(p), x(a), x(b)))
  def st_hausdorff(a: Column, b: Column): Column = col(StHausdorff(x(a), x(b)))
  def st_frechet(a: Column, b: Column): Column = col(StFrechet(x(a), x(b)))
  def st_linelocatepoint(line: Column, p: Column): Column =
    col(StLineLocatePoint(x(line), x(p)))
  def st_lineinterpolatepoint(line: Column, fraction: Column): Column =
    col(StLineInterpolatePoint(x(line), x(fraction)))
  def st_lineinterpolate_sphere(a: Column, b: Column, ratio: Column): Column =
    col(StLineInterpolateSphere(x(a), x(b), x(ratio)))
  def st_lineinterpolate_rhumb(a: Column, b: Column, ratio: Column): Column =
    col(StLineInterpolateRhumb(x(a), x(b), x(ratio)))
  def st_lineinterpolate_geodesic(a: Column, b: Column, ratio: Column): Column =
    col(StLineInterpolateGeodesic(x(a), x(b), x(ratio)))

  // wkb / validation / vwp
  def st_asgeojson(g: Column): Column = col(StAsGeoJson(x(g)))
  def st_geomfromgeojson(s: Column): Column = col(StGeomFromGeoJson(x(s)))
  def st_geomfromwkb(b: Column): Column = col(StGeomFromWkb(x(b)))

  /** EXPLICITLY LOSSY drop-to-2D parse of Z/M-bearing (E)WKB. */
  def st_geomfromwkb_force2d(b: Column): Column = col(StGeomFromWkbForce2D(x(b)))
  def st_aswkb(g: Column): Column = col(StAsWkb(x(g)))
  /** EWKB interop: the reader accepts both plain WKB and SRID-tagged
    * EWKB, so st_geomfromewkb is the same decoder under the PostGIS
    * name; st_asewkb tags with an SRID; st_srid extracts it (0 when
    * untagged). */
  def st_geomfromewkb(b: Column): Column = col(StGeomFromWkb(x(b)))
  def st_asewkb(g: Column, srid: Column): Column = col(StAsEwkb(x(g), x(srid)))
  def st_srid(b: Column): Column = col(StSrid(x(b)))
  def st_isvalid(g: Column): Column = col(StIsValid(x(g)))
  def st_isvalidreason(g: Column): Column = col(StIsValidReason(x(g)))
  def st_simplifyvw_preserve(g: Column, eps: Column): Column =
    col(StSimplifyVwPreserve(x(g), x(eps)))

  // overlay (boolean ops)
  def st_intersection(a: Column, b: Column): Column = col(StIntersection(x(a), x(b)))
  def st_union(a: Column, b: Column): Column = col(StUnion(x(a), x(b)))
  def st_difference(a: Column, b: Column): Column = col(StDifference(x(a), x(b)))
  def st_symdifference(a: Column, b: Column): Column = col(StSymDifference(x(a), x(b)))
  // Heterogeneous (any dimension mix) boolean ops — result is the
  // array<geom> collection form [polygonal?, linework?, points?]
  def st_intersection_hetero(a: Column, b: Column): Column =
    col(StOverlayHetero(x(a), x(b), graft.kernels.Overlay.OpIntersection))
  def st_union_hetero(a: Column, b: Column): Column =
    col(StOverlayHetero(x(a), x(b), graft.kernels.Overlay.OpUnion))
  def st_difference_hetero(a: Column, b: Column): Column =
    col(StOverlayHetero(x(a), x(b), graft.kernels.Overlay.OpDifference))
  def st_symdifference_hetero(a: Column, b: Column): Column =
    col(StOverlayHetero(x(a), x(b), graft.kernels.Overlay.OpXor))
  def st_clip(poly: Column, line: Column, invert: Column): Column =
    col(StClip(x(poly), x(line), x(invert)))
  /** CRS reprojection between EPSG codes (4326, 3857, 28992, UTM). */
  def st_transform(g: Column, fromSrid: Column, toSrid: Column): Column =
    col(StTransform(x(g), x(fromSrid), x(toSrid)))

  // fixed-precision (snap-rounded) overlay: every coordinate of the
  // result lies on the round(v*scale)/scale grid; rings that collapse
  // on the grid surface as 1-D linework via the `_lines` variants
  def st_snap_to_grid(g: Column, scale: Column): Column =
    col(StSnapToGrid(x(g), x(scale)))
  def st_intersection_sr(a: Column, b: Column, scale: Column): Column =
    col(StBooleanSr(x(a), x(b), x(scale), graft.kernels.Overlay.OpIntersection, linework = false))
  def st_union_sr(a: Column, b: Column, scale: Column): Column =
    col(StBooleanSr(x(a), x(b), x(scale), graft.kernels.Overlay.OpUnion, linework = false))
  def st_difference_sr(a: Column, b: Column, scale: Column): Column =
    col(StBooleanSr(x(a), x(b), x(scale), graft.kernels.Overlay.OpDifference, linework = false))
  def st_symdifference_sr(a: Column, b: Column, scale: Column): Column =
    col(StBooleanSr(x(a), x(b), x(scale), graft.kernels.Overlay.OpXor, linework = false))
  def st_intersection_sr_lines(a: Column, b: Column, scale: Column): Column =
    col(StBooleanSr(x(a), x(b), x(scale), graft.kernels.Overlay.OpIntersection, linework = true))
  def st_union_sr_lines(a: Column, b: Column, scale: Column): Column =
    col(StBooleanSr(x(a), x(b), x(scale), graft.kernels.Overlay.OpUnion, linework = true))
  def st_difference_sr_lines(a: Column, b: Column, scale: Column): Column =
    col(StBooleanSr(x(a), x(b), x(scale), graft.kernels.Overlay.OpDifference, linework = true))
  def st_symdifference_sr_lines(a: Column, b: Column, scale: Column): Column =
    col(StBooleanSr(x(a), x(b), x(scale), graft.kernels.Overlay.OpXor, linework = true))
  /** Dissolve: n-way union of a group's geometries as a REAL partial
    * aggregate (TypedImperativeAggregate): per-partition partial
    * unions, merged by pairwise union — per-task memory is O(batch +
    * partial), never the group's geometry list. */
  def st_union_agg(g: Column): Column =
    col(StUnionAgg(x(g)).toAggregateExpression())

  // relate (DE-9IM)
  def st_relate(a: Column, b: Column): Column = col(StRelate(x(a), x(b)))
  def st_relatematch(a: Column, b: Column, pattern: Column): Column =
    col(StRelateMatch(x(a), x(b), x(pattern)))
  def st_touches(a: Column, b: Column): Column = col(StTouches(x(a), x(b)))
  def st_crosses(a: Column, b: Column): Column = col(StCrosses(x(a), x(b)))
  def st_overlaps(a: Column, b: Column): Column = col(StOverlaps(x(a), x(b)))
  def st_covers(a: Column, b: Column): Column = col(StCovers(x(a), x(b)))
  def st_coveredby(a: Column, b: Column): Column = col(StCoveredBy(x(a), x(b)))
  def st_equals(a: Column, b: Column): Column = col(StEqualsTopo(x(a), x(b)))

  // shapes
  def st_concavehull(g: Column, concavity: Column): Column = col(StConcaveHull(x(g), x(concavity)))
  def st_knnconcavehull(g: Column, k: Column): Column = col(StKnnConcaveHull(x(g), x(k)))
  def st_minrotatedrect(g: Column): Column = col(StMinRotatedRect(x(g)))
  def st_triangulate(g: Column): Column = col(StTriangulate(x(g)))
  /** Constrained Delaunay for polygonal input, plain Delaunay of the
    * geometry's points otherwise (TriangulateSpade semantics). */
  def st_delaunay(g: Column): Column = col(StDelaunay(x(g)))
  def st_delaunay_unconstrained(g: Column): Column = col(StDelaunayUnconstrained(x(g)))
  /** Merge an array of triangles into the MultiPolygon they cover. */
  def st_stitch(tris: Column): Column = col(StStitch(x(tris)))
  def st_segmentize(g: Column, n: Column): Column = col(StSegmentize(x(g), x(n)))
  def st_segmentize_sphere(g: Column, n: Column): Column = col(StSegmentizeSphere(x(g), x(n)))
  def st_dimension(g: Column): Column = col(StDimension(x(g)))
  def st_closestpoint_sphere(g: Column, p: Column): Column = col(StClosestPointSphere(x(g), x(p)))
  def st_distance_vincenty(a: Column, b: Column): Column = col(StDistanceVincenty(x(a), x(b)))

  // cells
  def st_cellid(level: Column, lon: Column, lat: Column): Column =
    col(StCellId(x(level), x(lon), x(lat)))
  def st_cell_of_geom(level: Column, g: Column): Column = col(StCellOfGeom(x(level), x(g)))
  def st_covering(level: Column, g: Column): Column = col(StCovering(x(level), x(g)))
  def st_cell_bounds(id: Column): Column = col(StCellBounds(x(id)))
  def st_cell_parent(id: Column, level: Column): Column = col(StCellParent(x(id), x(level)))
  def st_cell_level(id: Column): Column = col(StCellLevel(x(id)))
  def st_cell_x(id: Column): Column = col(StCellX(x(id)))
  def st_cell_y(id: Column): Column = col(StCellY(x(id)))
  def st_cell_children(id: Column): Column = col(StCellChildren(x(id)))
  def st_geohash(lon: Column, lat: Column, precision: Column): Column =
    col(StGeohash(x(lon), x(lat), x(precision)))
  def st_geohash_rect(h: Column): Column = col(StGeohashRect(x(h)))
  def st_geohash_neighbors(h: Column): Column = col(StGeohashNeighbors(x(h)))
  def st_cell_compact(cells: Column): Column = col(StCellCompact(x(cells)))
  def st_cell_uncompact(cells: Column, level: Column): Column =
    col(StCellUncompact(x(cells), x(level)))
  def st_cell_neighborhood(level: Column, lon: Column, lat: Column, ring: Column): Column =
    col(StCellNeighborhood(x(level), x(lon), x(lat), x(ring)))
  def st_cell_halo_tiles(level: Column, lon: Column, lat: Column, ring: Column): Column =
    col(StCellHaloTiles(x(level), x(lon), x(lat), x(ring)))

  // ------------------------------------------------------ aggregates
  // composed from codegen'd built-ins — no custom ImperativeAggregate
  // needed for these (SURVEY.md §2.6):

  /** Collect a group's geometries into one MultiPoint. */
  def st_collect_agg(g: Column): Column =
    col(StCollectPoints(x(org.apache.spark.sql.functions.collect_list(g))))

  /** Convex hull of all geometries in the group — incremental
    * aggregate: the buffer holds only the running hull's vertices (+ a
    * pending batch), so group size never bounds memory. */
  def st_convexhull_agg(g: Column): Column =
    col(StConvexHullAgg(x(g)).toAggregateExpression())

  /** Group minimum bounding rectangle as (xmin, ymin, xmax, ymax). */
  def st_envelope_agg(g: Column): Column = {
    import org.apache.spark.sql.functions.{min, max, struct}
    struct(min(st_xmin(g)).as("xmin"), min(st_ymin(g)).as("ymin"),
      max(st_xmax(g)).as("xmax"), max(st_ymax(g)).as("ymax"))
  }

  /** Total unsigned area of the group. */
  def st_area_agg(g: Column): Column =
    org.apache.spark.sql.functions.sum(st_unsigned_area(g))

  // ------------------------------------------------- SQL registration

  /** Install the spatial-join optimizer rule (st_contains_xy /
    * st_intersects_xy join predicates become cell equi-joins). */
  def registerOptimizations(spark: SparkSession, level: Int = 6): Unit = {
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[SpatialJoinRule]))
      spark.experimental.extraOptimizations = existing :+ SpatialJoinRule(level)
  }

  /** Exact-numeric SQL literals (`6.5`) parse as DECIMAL, but no graft
    * function has a decimal/float parameter — every fractional param is
    * Double — so coercing decimal/float arguments to double at the
    * registration boundary is always the intended call. Int/long/string
    * args pass through untouched (int params stay ints). */
  private def coerceArgs(args: Seq[Expression]): Seq[Expression] = args.map {
    case a if a.resolved && (a.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]
        || a.dataType == org.apache.spark.sql.types.FloatType) =>
      org.apache.spark.sql.catalyst.expressions.Cast(
        a, org.apache.spark.sql.types.DoubleType)
    case a => a
  }

  private type Builder = Seq[Expression] => Expression

  /** Entry for an expression whose constructor takes exactly its SQL
    * arguments: Spark's own reflective builder, which fails a bad
    * argument count with `WRONG_NUM_ARGS`. */
  private def fixed[T <: Expression : ClassTag](name: String): (String, Builder) = {
    val build = FunctionRegistryBase.build[T](name, None)._2
    name -> (e => build(coerceArgs(e)))
  }

  /** Entry with defaults or dispatch: `arities` lists the accepted
    * argument counts, anything else is `WRONG_NUM_ARGS`. */
  private def custom(name: String, arities: Int*)(build: Builder): (String, Builder) =
    name -> { e =>
      if (!arities.contains(e.length)) throw ErrorBridge.wrongNumArgs(name, arities, e.length)
      build(coerceArgs(e))
    }

  /** The SQL surface: every st_* name and its builder (arguments pass
    * through [[coerceArgs]]). [[register]] and [[GraftExtensions]] both
    * install exactly this table. */
  private[sql] lazy val sqlFunctions: Seq[(String, Builder)] = Seq(
    fixed[StGeomFromText]("st_geomfromtext"),
    fixed[StGeomFromTextForce2D]("st_geomfromtext_force2d"),
    fixed[StCollectionFromText]("st_collection_fromtext"),
    fixed[StCollectionAsText]("st_collection_astext"),
    fixed[StUnaryUnion]("st_unary_union"),
    fixed[StCollectionCentroid]("st_collection_centroid"),
    fixed[StNumParts]("st_numparts"),
    fixed[StBoundary]("st_boundary"),
    fixed[StPolygonize]("st_polygonize"),
    fixed[StMinClearance]("st_minclearance"),
    fixed[StMinClearanceLine]("st_minclearanceline"),
    fixed[StWinnowFingerprints]("st_winnow"),
    fixed[StAsText]("st_astext"),
    fixed[StGeometryType]("st_geometrytype"),
    fixed[StPoint]("st_point"),
    fixed[StPoint]("st_makepoint"), // PostGIS alias
    fixed[StRect]("st_rect"),
    fixed[StArea]("st_area"),
    fixed[StUnsignedArea]("st_unsigned_area"),
    fixed[StSphereArea]("st_sphere_area"),
    fixed[StGeodesicArea]("st_geodesic_area"),
    fixed[StGeodesicAreaUnsigned]("st_geodesic_area_unsigned"),
    fixed[StLength]("st_length"),
    fixed[StLengthSphere]("st_length_sphere"),
    fixed[StLengthRhumb]("st_length_rhumb"),
    fixed[StLengthGeodesic]("st_length_geodesic"),
    fixed[StPerimeter]("st_perimeter"),
    fixed[StNumPoints]("st_numpoints"),
    fixed[StNumPoints]("st_npoints"), // PostGIS alias
    fixed[StIsEmpty]("st_isempty"),
    fixed[StIsCcw]("st_isccw"),
    fixed[StIsConvex]("st_isconvex"),
    fixed[StWindingOrder]("st_windingorder"),
    fixed[StXMin]("st_xmin"),
    fixed[StYMin]("st_ymin"),
    fixed[StXMax]("st_xmax"),
    fixed[StYMax]("st_ymax"),
    fixed[StX]("st_x"),
    fixed[StY]("st_y"),
    fixed[StExtremes]("st_extremes"),
    fixed[StCentroid]("st_centroid"),
    fixed[StEnvelope]("st_envelope"),
    fixed[StInteriorPoint]("st_interiorpoint"),
    fixed[StConvexHull]("st_convexhull"),
    fixed[StGrahamHull]("st_grahamhull"),
    custom("st_buffer", 2, 3)(e =>
      if (e.length == 3) StBufferStyle(e(0), e(1), e(2)) else StBuffer(e(0), e(1))),
    custom("st_voronoi", 1, 5)(e => if (e.length == 5) StVoronoiClip(e) else StVoronoi(e.head)),
    fixed[StSubdivide]("st_subdivide"),
    fixed[StMaximumInscribedCircle]("st_maximuminscribedcircle"),
    fixed[StLineMerge]("st_linemerge"),
    fixed[StOffsetCurve]("st_offsetcurve"),
    fixed[StMakeValid]("st_makevalid"),
    fixed[StShortestLine]("st_shortestline"),
    fixed[StSnap]("st_snap"),
    fixed[StSplit]("st_split"),
    fixed[StLineSubstring]("st_linesubstring"),
    fixed[StReverse]("st_reverse"),
    fixed[StNormalize]("st_normalize"),
    fixed[StExteriorRing]("st_exteriorring"),
    fixed[StNumInteriorRings]("st_numinteriorrings"),
    fixed[StInteriorRingN]("st_interiorringn"),
    fixed[StPointN]("st_pointn"),
    fixed[StStartPoint]("st_startpoint"),
    fixed[StEndPoint]("st_endpoint"),
    fixed[StGeometryN]("st_geometryn"),
    fixed[StDumpRings]("st_dumprings"),
    fixed[StMaxDistance]("st_maxdistance"),
    fixed[StLongestLine]("st_longestline"),
    fixed[StMakeLine]("st_makeline"),
    fixed[StFlipCoordinates]("st_flipcoordinates"),
    fixed[StIsClosed]("st_isclosed"),
    fixed[StIsSimple]("st_issimple"),
    fixed[StIsRing]("st_isring"),
    fixed[StMulti]("st_multi"),
    fixed[StPoints]("st_points"),
    fixed[StBoundingDiagonal]("st_boundingdiagonal"),
    fixed[StScroll]("st_scroll"),
    fixed[StShiftLongitude]("st_shift_longitude"),
    custom("st_minimumboundingcircle", 1, 2)(e =>
      StMinimumBoundingCircle(e(0), if (e.length > 1) e(1) else Literal(48))),
    fixed[StMinimumBoundingRadius]("st_minimumboundingradius"),
    fixed[StSharedPaths]("st_sharedpaths"),
    fixed[StLineCrossingDirection]("st_linecrossingdirection"),
    fixed[StHexBin]("st_hexbin"),
    fixed[StHexBinCenter]("st_hexbin_center"),
    fixed[StHexagon]("st_hexagon"),
    custom("st_tileenvelope", 3, 4)(e => StTileEnvelope(e(0), e(1), e(2),
      if (e.length > 3) e(3) else Literal(0.0))),
    custom("st_asmvtgeom", 4, 5, 6, 7)(e => StAsMvtGeom(Seq(e(0), e(1), e(2), e(3),
      if (e.length > 4) e(4) else Literal(4096),
      if (e.length > 5) e(5) else Literal(256),
      if (e.length > 6) e(6) else Literal(true)))),
    fixed[StSquareGrid]("st_squaregrid"),
    fixed[StSquareGridCell]("st_squaregrid_cell"),
    custom("st_asmvt", 2, 3, 4, 5)(e => StAsMvtAgg(e(0), e(1),
      if (e.length > 4) Some(e(4)) else None,
      if (e.length > 2) e(2).eval().toString else "layer",
      if (e.length > 3) e(3).eval().asInstanceOf[Int] else 4096)
      .toAggregateExpression()),
    fixed[StMvtDecode]("st_mvt_decode"),
    fixed[StMvtLayerName]("st_mvt_layername"),
    fixed[StMvtExtent]("st_mvt_extent"),
    custom("st_geometricmedian", 1, 2, 3)(e => StGeometricMedian(e(0),
      if (e.length > 1) e(1) else Literal(0.0),
      if (e.length > 2) e(2) else Literal(10000))),
    custom("st_generatepoints", 2, 3)(e => StGeneratePoints(e(0), e(1),
      if (e.length > 2) e(2) else Literal(0L))),
    fixed[StHexDistance]("st_hexdistance"),
    fixed[StHexRing]("st_hexring"),
    fixed[StQuadkey]("st_quadkey"),
    fixed[StQuadkeyDecode]("st_quadkey_decode"),
    fixed[StLineInterpolatePoints]("st_lineinterpolatepoints"),
    fixed[StAddPoint]("st_addpoint"),
    fixed[StSetPoint]("st_setpoint"),
    fixed[StRemovePoint]("st_removepoint"),
    fixed[StAngle]("st_angle"),
    fixed[StExpand]("st_expand"),
    fixed[StNode]("st_node"),
    fixed[StLargestEmptyCircle]("st_largestemptycircle"),
    fixed[StSimplify]("st_simplify"),
    fixed[StSimplifyVw]("st_simplifyvw"),
    fixed[StSimplifyIdx]("st_simplify_idx"),
    fixed[StSimplifyVwIdx]("st_simplifyvw_idx"),
    fixed[StDensify]("st_densify"),
    fixed[StDensifyHaversine]("st_densify_haversine"),
    fixed[StDensifyRhumb]("st_densify_rhumb"),
    fixed[StDensifyGeodesic]("st_densify_geodesic"),
    fixed[StChaikin]("st_chaikin"),
    fixed[StRemoveRepeated]("st_removerepeated"),
    fixed[StToRadians]("st_toradians"),
    fixed[StToDegrees]("st_todegrees"),
    fixed[StForceCw]("st_force_cw"),
    fixed[StForceCcw]("st_force_ccw"),
    fixed[StDumpPoints]("st_dumppoints"),
    fixed[StDumpSegments]("st_dumpsegments"),
    fixed[StLineIntersection]("st_lineintersection"),
    fixed[StClosestPoint]("st_closestpoint"),
    custom("st_affine", 7)(StAffine(_)),
    fixed[StTranslate]("st_translate"),
    fixed[StRotate]("st_rotate"),
    fixed[StScale]("st_scale"),
    fixed[StSkew]("st_skew"),
    fixed[StContains]("st_contains"),
    fixed[StWithin]("st_within"),
    fixed[StIntersects]("st_intersects"),
    fixed[StDisjoint]("st_disjoint"),
    fixed[StContainsXY]("st_contains_xy"),
    fixed[StIntersectsXY]("st_intersects_xy"),
    fixed[StDistance]("st_distance"),
    fixed[StDistanceSphere]("st_distance_sphere"),
    fixed[StDistanceRhumb]("st_distance_rhumb"),
    fixed[StDistanceGeodesic]("st_distance_geodesic"),
    fixed[StAzimuth]("st_azimuth"),
    fixed[StBearing]("st_bearing"),
    fixed[StBearingRhumb]("st_bearing_rhumb"),
    fixed[StBearingGeodesic]("st_bearing_geodesic"),
    fixed[StProject]("st_project"),
    fixed[StProjectRhumb]("st_project_rhumb"),
    fixed[StProjectGeodesic]("st_project_geodesic"),
    fixed[StCrossTrack]("st_crosstrack"),
    fixed[StHausdorff]("st_hausdorff"),
    fixed[StFrechet]("st_frechet"),
    fixed[StLineLocatePoint]("st_linelocatepoint"),
    fixed[StLineInterpolatePoint]("st_lineinterpolatepoint"),
    fixed[StLineInterpolateSphere]("st_lineinterpolate_sphere"),
    fixed[StLineInterpolateRhumb]("st_lineinterpolate_rhumb"),
    fixed[StLineInterpolateGeodesic]("st_lineinterpolate_geodesic"),
    fixed[StCollectPoints]("st_collect_points"),
    fixed[StGeomFromWkb]("st_geomfromwkb"),
    fixed[StGeomFromWkbForce2D]("st_geomfromwkb_force2d"),
    fixed[StAsGeoJson]("st_asgeojson"),
    fixed[StGeomFromGeoJson]("st_geomfromgeojson"),
    fixed[StAsWkb]("st_aswkb"),
    fixed[StGeomFromWkb]("st_geomfromewkb"),
    fixed[StAsEwkb]("st_asewkb"),
    fixed[StSrid]("st_srid"),
    fixed[StIsValid]("st_isvalid"),
    fixed[StIsValidReason]("st_isvalidreason"),
    fixed[StSimplifyVwPreserve]("st_simplifyvw_preserve"),
    fixed[StIntersection]("st_intersection"),
    fixed[StUnion]("st_union"),
    fixed[StDifference]("st_difference"),
    fixed[StSymDifference]("st_symdifference"),
    fixed[StClip]("st_clip"),
    fixed[StTransform]("st_transform"),
    fixed[StSnapToGrid]("st_snap_to_grid"),
    fixed[StUnionAll]("st_union_all"),
    fixed[StRelate]("st_relate"),
    fixed[StRelateMatch]("st_relatematch"),
    fixed[StTouches]("st_touches"),
    fixed[StCrosses]("st_crosses"),
    fixed[StOverlaps]("st_overlaps"),
    fixed[StCovers]("st_covers"),
    fixed[StCoveredBy]("st_coveredby"),
    fixed[StEqualsTopo]("st_equals"),
    fixed[StConcaveHull]("st_concavehull"),
    fixed[StKnnConcaveHull]("st_knnconcavehull"),
    fixed[StMinRotatedRect]("st_minrotatedrect"),
    fixed[StTriangulate]("st_triangulate"),
    fixed[StDelaunay]("st_delaunay"),
    fixed[StDelaunayUnconstrained]("st_delaunay_unconstrained"),
    fixed[StStitch]("st_stitch"),
    fixed[StSegmentize]("st_segmentize"),
    fixed[StSegmentizeSphere]("st_segmentize_sphere"),
    fixed[StDimension]("st_dimension"),
    fixed[StClosestPointSphere]("st_closestpoint_sphere"),
    fixed[StDistanceVincenty]("st_distance_vincenty"),
    fixed[StCellId]("st_cellid"),
    fixed[StCellOfGeom]("st_cell_of_geom"),
    fixed[StCovering]("st_covering"),
    fixed[StCellBounds]("st_cell_bounds"),
    fixed[StCellParent]("st_cell_parent"),
    fixed[StCellLevel]("st_cell_level"),
    fixed[StCellX]("st_cell_x"),
    fixed[StCellY]("st_cell_y"),
    fixed[StCellChildren]("st_cell_children"),
    fixed[StGeohash]("st_geohash"),
    fixed[StGeohashRect]("st_geohash_rect"),
    fixed[StGeohashNeighbors]("st_geohash_neighbors"),
    fixed[StCellCompact]("st_cell_compact"),
    fixed[StCellUncompact]("st_cell_uncompact"),
    fixed[StCellNeighborhood]("st_cell_neighborhood"),
    fixed[StCellHaloTiles]("st_cell_halo_tiles"),
  ) ++ Seq(
    "intersection" -> graft.kernels.Overlay.OpIntersection,
    "union" -> graft.kernels.Overlay.OpUnion,
    "difference" -> graft.kernels.Overlay.OpDifference,
    "symdifference" -> graft.kernels.Overlay.OpXor).flatMap { case (op, code) => Seq(
      custom(s"st_${op}_hetero", 2)(e => StOverlayHetero(e(0), e(1), code)),
      custom(s"st_${op}_sr", 3)(e => StBooleanSr(e(0), e(1), e(2), code, linework = false)),
      custom(s"st_${op}_sr_lines", 3)(e => StBooleanSr(e(0), e(1), e(2), code, linework = true)))
  } ++ {
    // SQL macros over built-in catalyst expressions (no custom
    // Expression needed): PII redaction and host extraction for SQL
    // users, sharing the exact pattern constants with the Column API
    import org.apache.spark.sql.catalyst.expressions.{Literal => L, RegExpReplace, RegExpExtract, Lower}
    Seq(
      custom("st_redact_pii", 1)(e =>
        RegExpReplace(
          RegExpReplace(
            RegExpReplace(e.head,
              L(graft.operators.TrainingData.EmailPattern), L("<EMAIL>")),
            L(graft.operators.TrainingData.IpPattern), L("$1<IP>$4")),
          L(graft.operators.TrainingData.PhonePattern), L("$1<PHONE>$4"))),
      custom("st_host", 1)(e =>
        Lower(RegExpExtract(e.head,
          L(graft.operators.TrainingData.HostPattern), L(1)))))
  }

  /** Register every st_* function for SQL use. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}

/** SparkSessionExtensions entry point:
  * `.config("spark.sql.extensions", "graft.sql.GraftExtensions")`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    // the spatial-join rewrites (PIP / ST_DWithin / geometry pairs →
    // cell equi-joins) ride along for any session built with
    // spark.sql.extensions — not just register()-style sessions
    ext.injectOptimizerRule(_ => SpatialJoinRule())
    functions.sqlFunctions.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo("graft.sql", name), build))
    }
  }
}
