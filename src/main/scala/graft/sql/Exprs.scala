package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

import GeomExprs.{geomArrayType, geomType}

/**
 * Catalyst expressions for every st_* operator (SURVEY.md §2). Each is
 * a thin wrapper over a static method in [[GeomEval]]; codegen emits a
 * direct static call so surrounding stages stay inside whole-stage
 * codegen (no Scala-UDF or CodegenFallback in hot paths).
 */
object GeomExprs {
  val geomType: DataType = GeomSchema.dataType
  val geomArrayType: DataType = ArrayType(geomType, containsNull = false)
  /** (center, nearest, radius) of the inscribed / empty circle kernels. */
  val circleType: DataType = StructType(Seq(
    StructField("center", geomType),
    StructField("nearest", geomType),
    StructField("radius", DoubleType)))
  /** GeomEval kernel of a heterogeneous overlay op (kernels/Overlay codes). */
  def heteroKernel(op: Int): String = op match {
    case graft.kernels.Overlay.OpIntersection => "heteroIntersection"
    case graft.kernels.Overlay.OpUnion => "heteroUnion"
    case graft.kernels.Overlay.OpDifference => "heteroDifference"
    case _ => "heteroSymDifference"
  }
}

// ----------------------------------------------------------- base forms

/** Kernel plumbing shared by the Geom*Expr bases. Codegen: object-typed
  * results (geom struct, string, array, binary) get an explicit
  * `== null` check after the static call — `defineCodeGen` alone would
  * leave isNull=false when the kernel returns null (e.g. closest point
  * of an EMPTY geometry), handing a null struct to the next expression
  * inside whole-stage codegen. Interpreted eval invokes the same static
  * method reflectively, as Spark's `StaticInvoke` does. */
private[sql] object GeomCodegen {
  import java.lang.reflect.{InvocationTargetException, Method, Modifier}
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  def isPrimitive(dt: DataType): Boolean = CodeGenerator.isPrimitiveType(dt)

  /** GeomEval's static methods keyed by (name, arity); a key held by
    * two overloads is left out, so a lookup never guesses. */
  private lazy val kernels: Map[(String, Int), Method] =
    Class.forName("graft.sql.GeomEval").getMethods.toSeq
      .filter(m => Modifier.isStatic(m.getModifiers))
      .groupBy(m => (m.getName, m.getParameterCount))
      .collect { case (key, Seq(m)) => key -> m }

  def kernel(fname: String, arity: Int): Method = kernels.getOrElse((fname, arity),
    throw new IllegalStateException(s"GeomEval has no unique static $fname with $arity arguments"))

  def invoke(kernel: Method, args: Any*): Any =
    try kernel.invoke(null, args.asInstanceOf[Seq[AnyRef]]: _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  /** Interpreted eval of a kernel over every child; NULL in, NULL out. */
  def evalAll(kernel: Method, children: Seq[Expression], input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null else invoke(kernel, vs: _*)
  }
}

/** An expression that is exactly one call of the [[GeomEval]] kernel
  * named `fname` — the only place the kernel is named. Primitive-typed
  * kernels that can still yield SQL NULL pass `nullableResult = true`;
  * object-typed results are always nullable (EMPTY geometry,
  * non-convergence). */
abstract class GeomUnaryExpr(val fname: String, override val dataType: DataType,
    nullableResult: Boolean = false) extends UnaryExpression with Serializable {
  override def nullable: Boolean =
    nullableResult || !GeomCodegen.isPrimitive(dataType) || super.nullable
  @transient private lazy val kernel = GeomCodegen.kernel(fname, 1)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any = GeomCodegen.invoke(kernel, input)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (GeomCodegen.isPrimitive(dataType))
      defineCodeGen(ctx, ev, c => s"graft.sql.GeomEval.$fname($c)")
    else nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.sql.GeomEval.$fname($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override def prettyName: String = fname
}

/** Two-argument form of [[GeomUnaryExpr]]. */
abstract class GeomBinaryExpr(val fname: String, override val dataType: DataType,
    nullableResult: Boolean = false) extends BinaryExpression with Serializable {
  override def nullable: Boolean =
    nullableResult || !GeomCodegen.isPrimitive(dataType) || super.nullable
  @transient private lazy val kernel = GeomCodegen.kernel(fname, 2)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any = GeomCodegen.invoke(kernel, a, b)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (GeomCodegen.isPrimitive(dataType))
      defineCodeGen(ctx, ev, (a, b) => s"graft.sql.GeomEval.$fname($a, $b)")
    else nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.sql.GeomEval.$fname($a, $b);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override def prettyName: String = fname
}

/** Three-argument form of [[GeomUnaryExpr]]. */
abstract class GeomTernaryExpr(val fname: String, override val dataType: DataType,
    nullableResult: Boolean = false) extends TernaryExpression with Serializable {
  override def nullable: Boolean =
    nullableResult || !GeomCodegen.isPrimitive(dataType) || super.nullable
  @transient private lazy val kernel = GeomCodegen.kernel(fname, 3)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    GeomCodegen.invoke(kernel, a, b, c)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (GeomCodegen.isPrimitive(dataType))
      defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.GeomEval.$fname($a, $b, $c)")
    else nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"""${ev.value} = graft.sql.GeomEval.$fname($a, $b, $c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override def prettyName: String = fname
}

// --------------------------------------------------------------- codecs

case class StGeomFromText(child: Expression) extends GeomUnaryExpr("geomFromTextOrNull", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Lossy 2-D parse: XYZ/XYM/XYZM WKT accepted, Z/M dropped. */
case class StGeomFromTextForce2D(child: Expression)
    extends GeomUnaryExpr("geomFromTextForce2D", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StAsText(child: Expression) extends GeomUnaryExpr("asText", StringType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StAsGeoJson(child: Expression) extends GeomUnaryExpr("asGeoJson", StringType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StGeomFromGeoJson(child: Expression)
    extends GeomUnaryExpr("geomFromGeoJsonOrNull", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StCollectionFromText(child: Expression)
    extends GeomUnaryExpr("collectionFromText", geomArrayType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StCollectionAsText(child: Expression) extends GeomUnaryExpr("collectionAsText", StringType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** Unary union over the array<geom> collection form: dissolve the
  * parts into canonical disjoint components — merged polygons, fully
  * noded + dissolved linework, residual points (kernels/UnaryUnion).
  * The geo crate's BooleanOps is binary-only; this is the JTS
  * `Geometry.union()` shape, gated by TestUnaryUnion(-Floating).xml. */
case class StUnaryUnion(child: Expression) extends GeomUnaryExpr("unaryUnion", geomArrayType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** OGC Mod-2 boundary: empty for 0-D, odd-occurrence endpoints for
  * 1-D, rings as linework for 2-D (kernels/Topo.boundary). */
case class StBoundary(child: Expression) extends GeomUnaryExpr("boundary", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** Polygonize linework into the maximal set of polygons (dangles
  * dropped, holes assigned) — kernels/Polygonize. */
case class StPolygonize(child: Expression) extends GeomUnaryExpr("polygonize", geomArrayType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** Minimum clearance: smallest positive vertex-vertex or
  * vertex-to-non-incident-segment distance (JTS MinimumClearance);
  * Double.MaxValue when undefined. */
case class StMinClearance(child: Expression) extends GeomUnaryExpr("minClearance", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StMinClearanceLine(child: Expression) extends GeomUnaryExpr("minClearanceLine", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** Number of parts of a (multi-)geometry (1 for simple kinds). */
case class StNumParts(child: Expression) extends GeomUnaryExpr("numParts", IntegerType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StWinnowFingerprints(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(t: Any, k: Any, w: Any): Any =
    GeomEval.winnowFingerprints(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      k.asInstanceOf[Int], w.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k, w) => s"graft.sql.GeomEval.winnowFingerprints($t, $k, $w)")
  override def prettyName: String = "winnowFingerprints"
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StGeometryType(child: Expression) extends GeomUnaryExpr("geometryType", StringType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Axis-aligned rectangle from corner ordinates — the allocation-light
  * constructor for grid/cell geometry (no WKT round-trip). */
case class StRect(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends QuaternaryExpression with Serializable {
  override def dataType: DataType = GeomExprs.geomType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeomEval.rectXY(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) => s"graft.sql.GeomEval.rectXY($a, $b, $c, $d)")
  override def prettyName: String = "rectXY"
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Expression = copy(a, b, c, d)
}

case class StPoint(left: Expression, right: Expression) extends GeomBinaryExpr("point", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

// ----------------------------------------------------- unary geom -> num

case class StArea(child: Expression) extends GeomUnaryExpr("area", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StUnsignedArea(child: Expression) extends GeomUnaryExpr("unsignedArea", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StSphereArea(child: Expression) extends GeomUnaryExpr("sphereArea", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StGeodesicArea(child: Expression) extends GeomUnaryExpr("geodesicArea", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StGeodesicAreaUnsigned(child: Expression)
    extends GeomUnaryExpr("geodesicAreaUnsigned", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StLength(child: Expression) extends GeomUnaryExpr("length", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StLengthSphere(child: Expression) extends GeomUnaryExpr("lengthSphere", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StLengthRhumb(child: Expression) extends GeomUnaryExpr("lengthRhumb", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StLengthGeodesic(child: Expression) extends GeomUnaryExpr("lengthGeodesic", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StPerimeter(child: Expression) extends GeomUnaryExpr("perimeter", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StXMin(child: Expression) extends GeomUnaryExpr("xMin", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StYMin(child: Expression) extends GeomUnaryExpr("yMin", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StXMax(child: Expression) extends GeomUnaryExpr("xMax", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StYMax(child: Expression) extends GeomUnaryExpr("yMax", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StX(child: Expression) extends GeomUnaryExpr("pointX", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StY(child: Expression) extends GeomUnaryExpr("pointY", DoubleType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StNumPoints(child: Expression) extends GeomUnaryExpr("numPoints", IntegerType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StIsEmpty(child: Expression) extends GeomUnaryExpr("isEmpty", BooleanType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StIsCcw(child: Expression) extends GeomUnaryExpr("isCcw", BooleanType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StIsConvex(child: Expression) extends GeomUnaryExpr("isConvex", BooleanType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StWindingOrder(child: Expression) extends GeomUnaryExpr("windingOrder", StringType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

// ---------------------------------------------------- unary geom -> geom

case class StCentroid(child: Expression) extends GeomUnaryExpr("centroid", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StEnvelope(child: Expression) extends GeomUnaryExpr("envelope", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StInteriorPoint(child: Expression) extends GeomUnaryExpr("interiorPoint", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StConvexHull(child: Expression) extends GeomUnaryExpr("convexHull", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StRemoveRepeated(child: Expression) extends GeomUnaryExpr("removeRepeated", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StToRadians(child: Expression) extends GeomUnaryExpr("toRadians", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StToDegrees(child: Expression) extends GeomUnaryExpr("toDegrees", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StForceCw(child: Expression) extends GeomUnaryExpr("forceCw", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StForceCcw(child: Expression) extends GeomUnaryExpr("forceCcw", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StDumpPoints(child: Expression) extends GeomUnaryExpr("dumpPoints", geomArrayType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StDumpSegments(child: Expression) extends GeomUnaryExpr("dumpSegments", geomArrayType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StExtremes(child: Expression)
    extends GeomUnaryExpr("extremes", StructType(Seq(
      StructField("xmin_idx", IntegerType), StructField("xmin", DoubleType),
      StructField("ymin_idx", IntegerType), StructField("ymin", DoubleType),
      StructField("xmax_idx", IntegerType), StructField("xmax", DoubleType),
      StructField("ymax_idx", IntegerType), StructField("ymax", DoubleType)))) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

// --------------------------------------------------------- binary preds

case class StContains(left: Expression, right: Expression)
    extends GeomBinaryExpr("contains", BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StWithin(left: Expression, right: Expression) extends GeomBinaryExpr("within", BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StIntersects(left: Expression, right: Expression)
    extends GeomBinaryExpr("intersects", BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDisjoint(left: Expression, right: Expression)
    extends GeomBinaryExpr("disjoint", BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Hot-path PIP with raw coordinates (join refine stage). */
case class StContainsXY(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("containsXY", BooleanType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StIntersectsXY(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("intersectsXY", BooleanType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

// ------------------------------------------------------ binary measures

case class StDistance(left: Expression, right: Expression)
    extends GeomBinaryExpr("distance", DoubleType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDistanceSphere(left: Expression, right: Expression)
    extends GeomBinaryExpr("distanceSphere", DoubleType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDistanceRhumb(left: Expression, right: Expression)
    extends GeomBinaryExpr("distanceRhumb", DoubleType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDistanceGeodesic(left: Expression, right: Expression)
    extends GeomBinaryExpr("distanceGeodesic", DoubleType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StBearing(left: Expression, right: Expression) extends GeomBinaryExpr("bearing", DoubleType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StBearingRhumb(left: Expression, right: Expression)
    extends GeomBinaryExpr("bearingRhumb", DoubleType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StBearingGeodesic(left: Expression, right: Expression)
    extends GeomBinaryExpr("bearingGeodesic", DoubleType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StHausdorff(left: Expression, right: Expression)
    extends GeomBinaryExpr("hausdorff", DoubleType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StFrechet(left: Expression, right: Expression) extends GeomBinaryExpr("frechet", DoubleType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StLineLocatePoint(left: Expression, right: Expression)
    extends GeomBinaryExpr("lineLocatePoint", DoubleType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class StClosestPoint(left: Expression, right: Expression)
    extends GeomBinaryExpr("closestPoint", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StLineIntersection(left: Expression, right: Expression)
    extends GeomBinaryExpr("lineIntersection", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

// ----------------------------------------------- geom + scalar -> geom

case class StVoronoi(child: Expression) extends GeomUnaryExpr("voronoi", geomArrayType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** st_voronoi(geom, minx, miny, maxx, maxy) — explicit clip window. */
case class StVoronoiClip(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback with Serializable {
  require(children.length == 5, "st_voronoi takes (geom[, minx, miny, maxx, maxy])")
  override def dataType: DataType = ArrayType(GeomExprs.geomType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  @transient private lazy val kernel = GeomCodegen.kernel("voronoiClip", 5)
  override def eval(input: InternalRow): Any = GeomCodegen.evalAll(kernel, children, input)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}
case class StShortestLine(left: Expression, right: Expression)
    extends GeomBinaryExpr("shortestLine", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StSnap(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("snapTo", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StLineSubstring(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("lineSubstring", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StReverse(child: Expression) extends GeomUnaryExpr("reverseGeom", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StExteriorRing(child: Expression) extends GeomUnaryExpr("exteriorRing", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StNumInteriorRings(child: Expression)
    extends GeomUnaryExpr("numInteriorRings", IntegerType, nullableResult = true) {
  // the kernel returns a boxed Integer, null for non-polygons
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val raw = ctx.freshName("rings")
      s"""
         |Object $raw = graft.sql.GeomEval.numInteriorRings($c);
         |${ev.isNull} = $raw == null;
         |if (!${ev.isNull}) ${ev.value} = (Integer) $raw;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StInteriorRingN(left: Expression, right: Expression)
    extends GeomBinaryExpr("interiorRingN", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StPointN(left: Expression, right: Expression) extends GeomBinaryExpr("pointN", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StStartPoint(child: Expression) extends GeomUnaryExpr("startPoint", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StEndPoint(child: Expression) extends GeomUnaryExpr("endPoint", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StGeometryN(left: Expression, right: Expression)
    extends GeomBinaryExpr("geometryN", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDumpRings(child: Expression) extends GeomUnaryExpr("dumpRings", geomArrayType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StMaxDistance(left: Expression, right: Expression)
    extends GeomBinaryExpr("maxDistance", DoubleType, nullableResult = true) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = graft.sql.GeomEval.maxDistanceRaw($a, $b);
         |${ev.isNull} = Double.isNaN(${ev.value});
       """.stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StLongestLine(left: Expression, right: Expression)
    extends GeomBinaryExpr("longestLine", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StAddPoint(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("addPoint", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): Expression = copy(a, b, c)
}
case class StSetPoint(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("setPoint", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): Expression = copy(a, b, c)
}
case class StRemovePoint(left: Expression, right: Expression)
    extends GeomBinaryExpr("removePoint", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StFlipCoordinates(child: Expression) extends GeomUnaryExpr("flipCoordinates", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StIsClosed(child: Expression) extends GeomUnaryExpr("isClosed", BooleanType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StIsSimple(child: Expression) extends GeomUnaryExpr("isSimple", BooleanType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StIsRing(child: Expression)
    extends GeomUnaryExpr("isRing", BooleanType, nullableResult = true) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val raw = ctx.freshName("isRingRaw")
      s"""
         |byte $raw = graft.sql.GeomEval.isRingRaw($c);
         |${ev.isNull} = $raw < 0;
         |${ev.value} = $raw == 1;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StMulti(child: Expression) extends GeomUnaryExpr("toMulti", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StPoints(child: Expression) extends GeomUnaryExpr("pointsOf", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StBoundingDiagonal(child: Expression) extends GeomUnaryExpr("boundingDiagonal", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StScroll(left: Expression, right: Expression) extends GeomBinaryExpr("scroll", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StShiftLongitude(child: Expression) extends GeomUnaryExpr("shiftLongitude", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StMinimumBoundingCircle(left: Expression, right: Expression)
    extends GeomBinaryExpr("minimumBoundingCircle", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StMinimumBoundingRadius(child: Expression)
    extends GeomUnaryExpr("minimumBoundingRadius", StructType(Seq(
      StructField("center", geomType, nullable = false),
      StructField("radius", DoubleType, nullable = false)))) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StHexBin(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("hexBin", StructType(Seq(
      StructField("q", LongType, nullable = false),
      StructField("r", LongType, nullable = false)))) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): Expression = copy(a, b, c)
}
case class StHexBinCenter(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("hexBinCenter", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): Expression = copy(a, b, c)
}
case class StHexagon(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("hexagonCell", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): Expression = copy(a, b, c)
}
case class StSharedPaths(left: Expression, right: Expression)
    extends GeomBinaryExpr("sharedPaths", geomArrayType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StLineCrossingDirection(left: Expression, right: Expression)
    extends GeomBinaryExpr("lineCrossingDirection", IntegerType, nullableResult = true) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val raw = ctx.freshName("lcdRaw")
      s"""
         |int $raw = graft.kernels.SharedPaths.crossingDirection(
         |  graft.sql.GeomSchema.fromRow($a), graft.sql.GeomSchema.fromRow($b));
         |${ev.isNull} = $raw == Integer.MIN_VALUE;
         |${ev.value} = $raw;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StMakeLine(child: Expression) extends GeomUnaryExpr("makeLine", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StAngle(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("angle3", DoubleType, nullableResult = true) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"""
         |${ev.value} = graft.sql.GeomEval.angle3Raw($a, $b, $c);
         |${ev.isNull} = Double.isNaN(${ev.value});
       """.stripMargin)
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): Expression = copy(a, b, c)
}
case class StExpand(left: Expression, right: Expression)
    extends GeomBinaryExpr("expandEnvelope", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StNormalize(child: Expression) extends GeomUnaryExpr("normalizeGeom", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StSplit(left: Expression, right: Expression)
    extends GeomBinaryExpr("splitBy", geomArrayType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StMakeValid(child: Expression) extends GeomUnaryExpr("makeValid", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StOffsetCurve(left: Expression, right: Expression)
    extends GeomBinaryExpr("offsetCurve", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StLineMerge(child: Expression) extends GeomUnaryExpr("lineMerge", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StNode(child: Expression) extends GeomUnaryExpr("nodeLines", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StMaximumInscribedCircle(left: Expression, right: Expression)
    extends GeomBinaryExpr("maximumInscribedCircle", GeomExprs.circleType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StLargestEmptyCircle(left: Expression, right: Expression)
    extends GeomBinaryExpr("largestEmptyCircle", GeomExprs.circleType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StSubdivide(left: Expression, right: Expression)
    extends GeomBinaryExpr("subdivide", geomArrayType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StBuffer(left: Expression, right: Expression) extends GeomBinaryExpr("buffer", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
/** st_buffer(geom, dist, 'quad_segs=8 endcap=flat join=mitre
  * mitre_limit=5') — the PostGIS buffer-style parameter string. */
case class StBufferStyle(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("bufferStyle", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StSimplify(left: Expression, right: Expression) extends GeomBinaryExpr("simplify", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StSimplifyVw(left: Expression, right: Expression)
    extends GeomBinaryExpr("simplifyVw", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StSimplifyIdx(left: Expression, right: Expression)
    extends GeomBinaryExpr("simplifyIdx", ArrayType(IntegerType, containsNull = false)) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StSimplifyVwIdx(left: Expression, right: Expression)
    extends GeomBinaryExpr("simplifyVwIdx", ArrayType(IntegerType, containsNull = false)) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDensify(left: Expression, right: Expression) extends GeomBinaryExpr("densify", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDensifyHaversine(left: Expression, right: Expression)
    extends GeomBinaryExpr("densifyHaversine", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDensifyRhumb(left: Expression, right: Expression)
    extends GeomBinaryExpr("densifyRhumb", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDensifyGeodesic(left: Expression, right: Expression)
    extends GeomBinaryExpr("densifyGeodesic", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StChaikin(left: Expression, right: Expression) extends GeomBinaryExpr("chaikin", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StRotate(left: Expression, right: Expression) extends GeomBinaryExpr("rotate", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StGrahamHull(left: Expression, right: Expression)
    extends GeomBinaryExpr("grahamHull", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StLineInterpolatePoint(left: Expression, right: Expression)
    extends GeomBinaryExpr("lineInterpolatePoint", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

// ------------------------------------------------------------- ternary

case class StProject(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("project", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StProjectRhumb(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("projectRhumb", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StProjectGeodesic(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("projectGeodesic", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StTranslate(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("translate", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StScale(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("scale", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StSkew(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("skew", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StCrossTrack(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("crossTrack", DoubleType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StLineInterpolateSphere(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("lineInterpolateSphere", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StLineInterpolateRhumb(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("lineInterpolateRhumb", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StLineInterpolateGeodesic(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("lineInterpolateGeodesic", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}

/** Full 2×3 affine: st_affine(geom, a, b, xoff, d, e, yoff). Cold path
  * (setup transforms), so CodegenFallback is acceptable here. */
case class StAffine(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback with Serializable {
  require(children.length == 7, "st_affine takes (geom, a, b, xoff, d, e, yoff)")
  override def dataType: DataType = GeomExprs.geomType
  override def nullable: Boolean = children.exists(_.nullable)
  @transient private lazy val kernel = GeomCodegen.kernel("affine", 7)
  override def eval(input: InternalRow): Any = GeomCodegen.evalAll(kernel, children, input)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

// ------------------------------------------------ wkb / validation

case class StGeomFromWkb(child: Expression) extends GeomUnaryExpr("geomFromWkb", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Lossy 2-D parse: EWKB flags / ISO Z/M type codes accepted, extra
  * ordinates dropped. */
case class StGeomFromWkbForce2D(child: Expression)
    extends GeomUnaryExpr("geomFromWkbForce2D", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StAsWkb(child: Expression) extends GeomUnaryExpr("asWkb", BinaryType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
/** PostGIS extended WKB with an SRID tag (geo-postgis wire format,
  * to_postgis.rs:12). */
case class StAsEwkb(left: Expression, right: Expression) extends GeomBinaryExpr("asEwkb", BinaryType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
/** SRID of an (E)WKB payload; 0 for plain WKB. */
case class StSrid(child: Expression) extends GeomUnaryExpr("sridOf", IntegerType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StIsValid(child: Expression) extends GeomUnaryExpr("isValid", BooleanType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StIsValidReason(child: Expression) extends GeomUnaryExpr("isValidReason", StringType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StSimplifyVwPreserve(left: Expression, right: Expression)
    extends GeomBinaryExpr("simplifyVwPreserve", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

// ------------------------------------------------------------- overlay

case class StIntersection(left: Expression, right: Expression)
    extends GeomBinaryExpr("intersection", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
/** Heterogeneous boolean op over ANY dimension mix — points, lines,
  * polygons (kernels/Hetero; beyond the reference: geo's BooleanOps is
  * polygon×polygon + 1-D clip only, bool_ops/mod.rs:86-106). Result is
  * the array<geom> collection form [polygonal?, linework?, points?]
  * with empty components omitted (JTS OverlayNG mixed-input
  * semantics). */
case class StOverlayHetero(left: Expression, right: Expression, op: Int)
    extends GeomBinaryExpr(GeomExprs.heteroKernel(op), geomArrayType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}
case class StUnion(left: Expression, right: Expression) extends GeomBinaryExpr("union", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDifference(left: Expression, right: Expression)
    extends GeomBinaryExpr("difference", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StSymDifference(left: Expression, right: Expression)
    extends GeomBinaryExpr("symDifference", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StClip(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("clip", geomType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StSnapToGrid(left: Expression, right: Expression)
    extends GeomBinaryExpr("snapToGrid", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Fixed-precision (snap-rounded) boolean op — children are
  * (a, b, scale); `op`/`linework` are compile-time parameters baked
  * into the generated call so the expression stays a plain ternary
  * inside whole-stage codegen. */
case class StBooleanSr(first: Expression, second: Expression, third: Expression,
    op: Int, linework: Boolean) extends TernaryExpression with Serializable {
  override def dataType: DataType = GeomExprs.geomType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    GeomEval.booleanSr(a.asInstanceOf[InternalRow], b.asInstanceOf[InternalRow],
      c.asInstanceOf[Double], op, linework)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.sql.GeomEval.booleanSr($a, $b, $c, $op, $linework)")
  override def prettyName: String = if (linework) "booleanSrLines" else "booleanSr"
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): Expression =
    copy(first = a, second = b, third = c)
}

/** CRS reprojection from published formulas (kernels/Crs — beyond the
  * executed reference: geo feature-gates reprojection onto a C library,
  * proj.rs:2). Supported SRIDs: 4326, 3857, 28992 (RD New),
  * 32601–32660 / 32701–32760 (UTM). Unsupported SRIDs raise. */
case class StTransform(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = GeomExprs.geomType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    GeomEval.transformSrid(a.asInstanceOf[InternalRow],
      b.asInstanceOf[Int], c.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.sql.GeomEval.transformSrid($a, $b, $c)")
  override def prettyName: String = "transformSrid"
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): Expression =
    copy(first = a, second = b, third = c)
}

case class StUnionAll(child: Expression) extends GeomUnaryExpr("unionAll", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Dimension-weighted centroid of an array<geom> collection (the JTS
  * Centroid rule over a GeometryCollection — highest dimension wins). */
case class StCollectionCentroid(child: Expression)
    extends GeomUnaryExpr("collectionCentroid", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

// -------------------------------------------------------------- relate

case class StRelate(left: Expression, right: Expression) extends GeomBinaryExpr("relate", StringType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StRelateMatch(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("relateMatch", BooleanType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StTouches(left: Expression, right: Expression)
    extends GeomBinaryExpr("touches", BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StCrosses(left: Expression, right: Expression)
    extends GeomBinaryExpr("crosses", BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StOverlaps(left: Expression, right: Expression)
    extends GeomBinaryExpr("overlaps", BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StCovers(left: Expression, right: Expression) extends GeomBinaryExpr("covers", BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StCoveredBy(left: Expression, right: Expression)
    extends GeomBinaryExpr("coveredBy", BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StEqualsTopo(left: Expression, right: Expression)
    extends GeomBinaryExpr("equalsTopo", BooleanType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

// ------------------------------------------------------- shapes (v1.1)

case class StConcaveHull(left: Expression, right: Expression)
    extends GeomBinaryExpr("concaveHull", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StKnnConcaveHull(left: Expression, right: Expression)
    extends GeomBinaryExpr("knnConcaveHull", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StMinRotatedRect(child: Expression) extends GeomUnaryExpr("minRotatedRect", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StTriangulate(child: Expression) extends GeomUnaryExpr("triangulate", geomArrayType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StDelaunay(child: Expression) extends GeomUnaryExpr("delaunay", geomArrayType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StDelaunayUnconstrained(child: Expression)
    extends GeomUnaryExpr("delaunayUnconstrained", geomArrayType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StStitch(child: Expression) extends GeomUnaryExpr("stitch", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StSegmentize(left: Expression, right: Expression)
    extends GeomBinaryExpr("segmentize", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StSegmentizeSphere(left: Expression, right: Expression)
    extends GeomBinaryExpr("segmentizeSphere", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDimension(child: Expression) extends GeomUnaryExpr("dimension", IntegerType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StClosestPointSphere(left: Expression, right: Expression)
    extends GeomBinaryExpr("closestPointSphere", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDistanceVincenty(left: Expression, right: Expression)
    extends GeomBinaryExpr("distanceVincenty", DoubleType, nullableResult = true) {
  // stay inside whole-stage codegen: call the primitive-returning
  // kernel and surface Vincenty non-convergence (NaN) as SQL NULL
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = graft.sql.GeomEval.distanceVincentyRaw($a, $b);
         |${ev.isNull} = Double.isNaN(${ev.value});
       """.stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** PostGIS ST_Azimuth: planar angle in radians clockwise from north
  * of the segment a→b, in [0, 2π); NULL for non-point, empty or
  * coincident inputs. */
case class StAzimuth(left: Expression, right: Expression)
    extends GeomBinaryExpr("azimuth", DoubleType, nullableResult = true) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = graft.sql.GeomEval.azimuthRaw($a, $b);
         |${ev.isNull} = Double.isNaN(${ev.value});
       """.stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Merge an array of geometries (e.g. from collect_list) into one
  * MultiPoint of all their coordinates — the bridge that turns the
  * built-in collect aggregates into geometric aggregations
  * (hull_agg = st_convexhull ∘ st_collect ∘ collect_list). */
case class StCollectPoints(child: Expression) extends GeomUnaryExpr("collectPoints", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

// --------------------------------------------------------------- cells

case class StCellId(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("cellId", LongType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StCellOfGeom(left: Expression, right: Expression)
    extends GeomBinaryExpr("cellOfGeomCentroid", LongType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StCovering(left: Expression, right: Expression)
    extends GeomBinaryExpr("covering", ArrayType(LongType, containsNull = false)) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StCellBounds(child: Expression) extends GeomUnaryExpr("cellBounds", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StCellParent(left: Expression, right: Expression)
    extends GeomBinaryExpr("cellParent", LongType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StCellLevel(child: Expression) extends GeomUnaryExpr("cellLevel", IntegerType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StCellChildren(child: Expression)
    extends GeomUnaryExpr("cellChildren", ArrayType(LongType, containsNull = false)) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StCellCompact(child: Expression)
    extends GeomUnaryExpr("cellCompact", ArrayType(LongType, containsNull = false)) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StGeohash(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("geohashEncode", StringType) {
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(a, b, c)
}
case class StGeohashNeighbors(child: Expression)
    extends GeomUnaryExpr("geohashNeighbors", ArrayType(StringType, containsNull = false)) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StGeohashRect(child: Expression) extends GeomUnaryExpr("geohashRect", geomType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StCellUncompact(left: Expression, right: Expression)
    extends GeomBinaryExpr("cellUncompact", ArrayType(LongType, containsNull = false)) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
/** Distinct cells within Chebyshev index distance `ring` of the cell
  * containing (lon, lat) — integer index arithmetic (antimeridian wrap,
  * pole-row drop), never re-encoded offset coordinates, so the DWithin
  * ring-coverage guarantee holds at cell-edge ulps. */
case class StCellNeighborhood(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] =
    Seq(IntegerType, DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeomEval.cellNeighborhood(a.asInstanceOf[Int], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.sql.GeomEval.cellNeighborhood($a, $b, $c, $d)")
  override def prettyName: String = "cellNeighborhood"
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Expression = copy(a, b, c, d)
}
/** Distinct tiles (parents [[graft.index.CellId.TileShift]] levels up)
  * holding the cells within Chebyshev index distance `ring` of the cell
  * containing (lon, lat) — the halo that groups a kNN level by tile. */
case class StCellHaloTiles(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] =
    Seq(IntegerType, DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeomEval.cellHaloTiles(a.asInstanceOf[Int], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.sql.GeomEval.cellHaloTiles($a, $b, $c, $d)")
  override def prettyName: String = "cellHaloTiles"
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Expression = copy(a, b, c, d)
}
case class StCellX(child: Expression) extends GeomUnaryExpr("cellX", LongType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StCellY(child: Expression) extends GeomUnaryExpr("cellY", LongType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

// ------------------------------------------------- vector-tile surface

/** st_tileenvelope(z, x, y[, margin]) — XYZ tile rect in EPSG:3857
  * (PostGIS contract; see kernels/Mvt). Null for out-of-range z/x/y. */
case class StTileEnvelope(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] =
    Seq(IntegerType, LongType, LongType, DoubleType)
  override def dataType: DataType = GeomExprs.geomType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeomEval.tileEnvelope(a.asInstanceOf[Int], b.asInstanceOf[Long],
      c.asInstanceOf[Long], d.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"""${ev.value} = graft.sql.GeomEval.tileEnvelope($a, $b, $c, $d);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override def prettyName: String = "tileEnvelope"
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Expression = copy(a, b, c, d)
}

/** st_asmvtgeom(geom, z, x, y[, extent, buffer, clip]) — integer
  * tile-local MVT geometry (transform → snap → clip → snap → clean;
  * kernels/Mvt documents the deliberate snapped-grid clipping order).
  * Hot map stage of tile generation — hand-codegen'd, never fallback. */
case class StAsMvtGeom(children: Seq[Expression]) extends Expression with Serializable {
  require(children.length == 7,
    "st_asmvtgeom takes (geom, z, x, y, extent, buffer, clip)")
  override def dataType: DataType = GeomExprs.geomType
  override def nullable: Boolean = true
  @transient private lazy val kernel = GeomCodegen.kernel("asMvtGeom", 7)
  override def eval(input: InternalRow): Any = GeomCodegen.evalAll(kernel, children, input)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val gen = children.map(_.genCode(ctx))
    val anyNull = gen.map(_.isNull).mkString(" || ")
    val args = gen.map(_.value).mkString(", ")
    val javaType = CodeGenerator.javaType(dataType)
    val childCode = gen.map(_.code.toString).mkString("\n")
    ev.copy(code = code"""
       |$childCode
       |boolean ${ev.isNull} = $anyNull;
       |$javaType ${ev.value} = null;
       |if (!${ev.isNull}) {
       |  ${ev.value} = graft.sql.GeomEval.asMvtGeom($args);
       |  ${ev.isNull} = ${ev.value} == null;
       |}
     """.stripMargin)
  }
  override def prettyName: String = "asMvtGeom"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

/** st_squaregrid(geom, size) — array of (i, j) grid-cell indices
  * covering the envelope; null over the cell cap (typed, never OOM). */
case class StSquareGrid(left: Expression, right: Expression)
    extends GeomBinaryExpr("squareGrid", ArrayType(StructType(Seq(
      StructField("i", LongType, nullable = false),
      StructField("j", LongType, nullable = false))), containsNull = false)) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** st_squaregrid_cell(i, j, size) — the cell polygon. */
case class StSquareGridCell(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("squareGridCell", geomType) with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType, DoubleType)
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): Expression = copy(a, b, c)
}

/** st_mvt_decode(tile) — (id, geom) features of the first layer;
  * null on malformed bytes. */
case class StMvtDecode(child: Expression)
    extends GeomUnaryExpr("mvtDecode", ArrayType(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("geom", geomType, nullable = false),
      StructField("tags", MapType(StringType, StringType, valueContainsNull = false),
        nullable = false))), containsNull = false)) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StMvtLayerName(child: Expression) extends GeomUnaryExpr("mvtLayerName", StringType) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StMvtExtent(child: Expression)
    extends GeomUnaryExpr("mvtExtent", IntegerType, nullableResult = true) {
  // primitive result but nullable on malformed bytes: -1 sentinel
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val raw = ctx.freshName("mvtExt")
      s"""
         |int $raw = graft.sql.GeomEval.mvtExtentOrNeg($c);
         |${ev.isNull} = $raw < 0;
         |${ev.value} = $raw;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_geometricmedian(geom[, tol, max_iter]) — Weiszfeld/Vardi-Zhang
  * fixed point; points-only operand contract (PostGIS). */
case class StGeometricMedian(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("geometricMedian", geomType) with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(GeomExprs.geomType, DoubleType, IntegerType)
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): Expression = copy(a, b, c)
}

/** st_generatepoints(geom, n[, seed]) — deterministic seeded uniform
  * points in a polygon (triangulate + area-weighted sampling, never a
  * rejection loop). */
case class StGeneratePoints(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("generatePoints", geomType) with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(GeomExprs.geomType, IntegerType, LongType)
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): Expression = copy(a, b, c)
}

/** st_hexdistance(q1, r1, q2, r2) — axial hex-grid distance. */
case class StHexDistance(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType, LongType, LongType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeomEval.hexDistance(a.asInstanceOf[Long], b.asInstanceOf[Long],
      c.asInstanceOf[Long], d.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.sql.GeomEval.hexDistance($a, $b, $c, $d)")
  override def prettyName: String = "hexDistance"
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Expression = copy(a, b, c, d)
}

/** st_hexring(q, r, k) — cells at hex distance exactly k (H3 hexRing). */
case class StHexRing(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("hexRing", ArrayType(StructType(Seq(
      StructField("q", LongType, nullable = false),
      StructField("r", LongType, nullable = false))), containsNull = false))
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType, IntegerType)
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): Expression = copy(a, b, c)
}

/** st_quadkey(z, x, y) — Bing tile-system quadkey string. */
case class StQuadkey(first: Expression, second: Expression, third: Expression)
    extends GeomTernaryExpr("quadkey", StringType) with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(IntegerType, LongType, LongType)
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): Expression = copy(a, b, c)
}

/** st_quadkey_decode(qk) — struct(z, x, y); null on malformed keys. */
case class StQuadkeyDecode(child: Expression)
    extends GeomUnaryExpr("quadkeyDecode", StructType(Seq(
      StructField("z", IntegerType, nullable = false),
      StructField("x", LongType, nullable = false),
      StructField("y", LongType, nullable = false)))) {
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_lineinterpolatepoints(line, fraction) — points at every multiple
  * of `fraction` (PostGIS repeat=true contract), as MULTIPOINT. */
case class StLineInterpolatePoints(left: Expression, right: Expression)
    extends GeomBinaryExpr("lineInterpolatePoints", geomType) {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
