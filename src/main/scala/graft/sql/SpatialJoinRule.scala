package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, LongType}

/**
 * Optimizer rule (SURVEY.md §7 step 8): rewrite inner joins whose
 * condition contains a spatial predicate — which Spark would execute
 * as an O(|L|·|R|) nested-loop join — into cell equi-joins, so
 * Catalyst picks BroadcastHashJoin or SortMergeJoin on the cell key.
 * The hand-written plans from `operators.SpatialJoins` derived
 * automatically from declarative SQL.
 *
 * Three shapes are recognized (as ANY conjunct of the join condition,
 * not just the sole predicate; remaining conjuncts ride along):
 *
 * 1. Point-in-polygon: `st_contains_xy(g, x, y)` / `st_intersects_xy`
 *
 *    L ⋈_{containsXY(g,x,y)} R
 *    ⇒ Project(L.out ++ R.out)(
 *        (L + cellId(x,y)) ⋈_{cell_pt = cell_poly ∧ containsXY}
 *        Generate(explode(covering(g)), R))
 *
 *    The polygon side explodes to its (disjoint) covering cells, the
 *    point side maps to exactly one cell → each pair emits once.
 *
 * 2. Distance-within (the ST_DWithin shape a user writes naturally):
 *    `st_distance(st_point(ax,ay), st_point(bx,by)) <= r` with a
 *    foldable radius. One side keeps its own cell, the other explodes
 *    its 9-neighbour cell array (antimeridian-wrapped, pole-clamped,
 *    array_distinct'ed in-row — no dropDuplicates shuffle) at the
 *    coarsest level whose cell edge still covers r, so every true
 *    pair shares a cell and each candidate meets at most once.
 *
 * 3. Geometry-pair predicates: `st_intersects(a, b)` (also contains /
 *    within / covers / coveredby — all imply bbox overlap, so the
 *    same candidate cells work). Each side computes its bbox's
 *    (xmin, ymin) and explodes `covering(level, envelope(g))`, the
 *    FULL covering of its bbox; the sides equi-join on cell, and the
 *    reference-point rule (Dittrich & Seeger, ICDE 2000)
 *        cell = cellId(level, greatest(xmin_l, xmin_r),
 *                             greatest(ymin_l, ymin_r))
 *    keeps exactly one of the shared cells per pair: if the bboxes
 *    overlap, the point (max xmin, max ymin) lies in both, and cellX /
 *    cellY are monotone floors clamped like `coveringForBbox`, so its
 *    cell is in both bbox coverings. No post-join distinct, and no
 *    covering array crosses the exchange — two doubles per side. The
 *    reference test is the first condition after the cell key, so the
 *    predicate refines each candidate pair once, not once per shared
 *    cell.
 *
 * Registered via `spark.experimental.extraOptimizations`
 * (functions.registerOptimizations) or GraftExtensions.
 */
case class SpatialJoinRule(level: Int = 6) extends Rule[LogicalPlan] with PredicateHelper {

  private val MaxLevel = graft.index.CellId.MaxLevel

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // the __graft_-prefixed marker-attribute guard makes the rule idempotent (a prefix no user schema plausibly uses — unlike __cell, which writeBucketedByCell itself persists): the batch
    // runs to fixpoint and a rewritten join still carries the original
    // spatial predicate as a conjunct — without the guard it would be
    // re-wrapped every iteration
    case j @ Join(left, right, Inner, Some(cond), hint)
        if !cond.references.exists(_.name.startsWith("__graft_")) =>
      val conjuncts = splitConjunctivePredicates(cond)
      // A join that already carries an ordinary equi-conjunct between the
      // two sides (a.id = b.id AND st_contains_xy(...)) gets a plain hash
      // join from Catalyst on that key; exploding coverings on top of it
      // would multiply rows and regress the join — leave it alone.
      if (conjuncts.exists(isEquiBetween(_, left, right))) j
      else rewritePip(j, left, right, hint, conjuncts)
        .orElse(rewriteDWithin(j, left, right, hint, conjuncts))
        .orElse(rewriteGeomPair(j, left, right, hint, conjuncts))
        .getOrElse(j)
  }

  private def isEquiBetween(e: Expression, left: LogicalPlan, right: LogicalPlan): Boolean =
    e match {
      case EqualTo(a, b) => sidesSplitPts(Seq(a), Seq(b), left, right)
      case EqualNullSafe(a, b) => sidesSplitPts(Seq(a), Seq(b), left, right)
      case _ => false
    }

  // ---------------------------------------------------------------- PIP

  private def rewritePip(j: Join, left: LogicalPlan, right: LogicalPlan,
      hint: JoinHint, conjuncts: Seq[Expression]): Option[LogicalPlan] = {
    val hit = conjuncts.collectFirst {
      case p @ StContainsXY(g, lon, lat) if sidesSplit(g, Seq(lon, lat), left, right) =>
        (p, g, lon, lat)
      case p @ StIntersectsXY(g, lon, lat) if sidesSplit(g, Seq(lon, lat), left, right) =>
        (p, g, lon, lat)
    }
    hit.map { case (_, geomE, lonE, latE) =>
      val geomOnRight = geomE.references.subsetOf(right.outputSet)
      val (ptSide, polySide) = if (geomOnRight) (left, right) else (right, left)
      val salt = saltBuckets

      val cellAttrPt = AttributeReference("__graft_cell_pt", LongType, nullable = false)()
      var ptFields = ptSide.output :+
        Alias(StCellId(Literal(level), lonE, latE), "__graft_cell_pt")(
          exprId = cellAttrPt.exprId)
      val saltPt = AttributeReference("__graft_salt_pt",
        org.apache.spark.sql.types.IntegerType, nullable = false)()
      if (salt > 1) ptFields = ptFields :+
        Alias(Pmod(new Murmur3Hash(Seq(lonE, latE)), Literal(salt)),
          "__graft_salt_pt")(exprId = saltPt.exprId)
      val ptProj = Project(ptFields, ptSide)

      val cellAttrPoly = AttributeReference("__graft_cell_poly", LongType, nullable = false)()
      val gen = Generate(
        Explode(StCovering(Literal(level), geomE)),
        unrequiredChildIndex = Nil,
        outer = false,
        qualifier = None,
        generatorOutput = Seq(cellAttrPoly),
        child = polySide)
      // deterministic hot-cell salting (north rule): the polygon side
      // replicates each covering cell across the salt domain, the point
      // side hashes into one bucket — a hot cell (one metro area) fans
      // out over `salt` tasks instead of one. Uniform replication costs
      // ×salt on the build side, so it is off (1) by default and turned
      // on per-session via spark.graft.join.saltBuckets.
      val saltPoly = AttributeReference("__graft_salt_poly",
        org.apache.spark.sql.types.IntegerType, nullable = false)()
      val polyPlan: LogicalPlan =
        if (salt <= 1) gen
        else Generate(Explode(CreateArray((0 until salt).map(Literal(_)))),
          Nil, outer = false, None, Seq(saltPoly), gen)

      val (newLeft, newRight) =
        if (geomOnRight) (ptProj: LogicalPlan, polyPlan) else (polyPlan, ptProj: LogicalPlan)
      val eq: Seq[Expression] =
        if (salt <= 1) Seq(EqualTo(cellAttrPt, cellAttrPoly))
        else Seq(EqualTo(cellAttrPt, cellAttrPoly), EqualTo(saltPt, saltPoly))
      val newCond = (eq ++ conjuncts).reduce(And)
      Project(left.output ++ right.output,
        Join(newLeft, newRight, Inner, Some(newCond), hint))
    }
  }

  /** Salt-domain size from the session conf (1 = no salting). A value
    * that is not a positive integer fails the query instead of turning
    * salting off unnoticed. */
  private def saltBuckets: Int = {
    val key = "spark.graft.join.saltBuckets"
    val v = org.apache.spark.sql.internal.SQLConf.get.getConfString(key, "1")
    val n = try v.trim.toInt catch { case _: NumberFormatException => 0 }
    if (n < 1) throw new IllegalArgumentException(s"$key must be a positive integer, got '$v'")
    n
  }

  // ------------------------------------------------------------ DWithin

  /** `st_distance(st_point(ax,ay), st_point(bx,by)) <= r` (planar
    * degrees, the ST_DWithin shape). Also matches `<` and the
    * reversed `r >= dist` spellings. */
  private def rewriteDWithin(j: Join, left: LogicalPlan, right: LogicalPlan,
      hint: JoinHint, conjuncts: Seq[Expression]): Option[LogicalPlan] = {
    def distPair(d: Expression): Option[(Expression, Expression, Expression, Expression)] =
      d match {
        case StDistance(StPoint(ax, ay), StPoint(bx, by)) => Some((ax, ay, bx, by))
        case _ => None
      }
    def radiusOf(r: Expression): Option[Double] =
      if (r.foldable && r.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]) {
        val v = r.eval()
        if (v == null) None
        else Some(v.toString.toDouble)
      } else None

    val hit = conjuncts.iterator.flatMap {
      case LessThanOrEqual(d, r) => distPair(d).flatMap(p => radiusOf(r).map((p, _)))
      case LessThan(d, r)        => distPair(d).flatMap(p => radiusOf(r).map((p, _)))
      case GreaterThanOrEqual(r, d) => distPair(d).flatMap(p => radiusOf(r).map((p, _)))
      case GreaterThan(r, d)     => distPair(d).flatMap(p => radiusOf(r).map((p, _)))
      case _ => None
    }.collectFirst {
      case ((ax, ay, bx, by), r)
        if r > 0 &&
          sidesSplitPts(Seq(ax, ay), Seq(bx, by), left, right) &&
          chooseDWithinLevel(r) >= 1 => (ax, ay, bx, by, r)
    }

    hit.map { case (ax, ay, bx, by, r) =>
      val lvl = chooseDWithinLevel(r)

      // a-point side: which child does (ax, ay) come from?
      val aOnLeft = refsIn(Seq(ax, ay), left)
      val (aSide, bSide) = if (aOnLeft) (left, right) else (right, left)

      val cellA = AttributeReference("__graft_cell_a", LongType, nullable = false)()
      val aProj = Project(aSide.output :+
        Alias(StCellId(Literal(lvl), ax, ay), "__graft_cell_a")(exprId = cellA.exprId), aSide)

      // b side explodes its <=9 neighbour cells, derived by INTEGER
      // index arithmetic from b's own cell (x±1 antimeridian-wrapped,
      // y±1 pole-dropped, in-row distinct) — re-encoding offset
      // coordinates could floor into the wrong cell within one ulp of
      // a cell edge and silently miss a true pair
      val cellsArr = AttributeReference("__graft_cells_b",
        ArrayType(LongType, containsNull = false), nullable = true)()
      val bProj = Project(bSide.output :+
        Alias(StCellNeighborhood(Literal(lvl), bx, by, Literal(1)),
          "__graft_cells_b")(exprId = cellsArr.exprId), bSide)
      val cellB = AttributeReference("__graft_cell_b", LongType, nullable = false)()
      val bGen = Generate(Explode(cellsArr), Nil, outer = false, None, Seq(cellB), bProj)

      val (newLeft, newRight) =
        if (aOnLeft) (aProj: LogicalPlan, bGen: LogicalPlan) else (bGen: LogicalPlan, aProj: LogicalPlan)
      val newCond = (EqualTo(cellA, cellB) +: conjuncts).reduce(And)
      Project(left.output ++ right.output,
        Join(newLeft, newRight, Inner, Some(newCond), hint))
    }
  }

  /** Coarsest level whose cell edge (the smaller, latitude step) still
    * covers the radius, so a true pair is never more than one cell
    * apart per axis; <1 means the radius spans a hemisphere and the
    * rewrite cannot help. */
  private def chooseDWithinLevel(r: Double): Int = {
    var lvl = math.min(MaxLevel, math.floor(math.log(180.0 / r) / math.log(2.0)).toInt)
    // floating log can round UP at cell-edge boundaries (one ulp above
    // 180/2^k computes k, whose edge is smaller than r) — verify the
    // invariant the ring-coverage proof needs and step down if violated
    while (lvl >= 1 && 180.0 / math.pow(2.0, lvl) < r) lvl -= 1
    lvl
  }

  // ---------------------------------------------------------- geom pair

  private def rewriteGeomPair(j: Join, left: LogicalPlan, right: LogicalPlan,
      hint: JoinHint, conjuncts: Seq[Expression]): Option[LogicalPlan] = {
    def geomPair(p: Expression): Option[(Expression, Expression)] = p match {
      case StIntersects(a, b) => Some((a, b))
      case StContains(a, b)   => Some((a, b))
      case StWithin(a, b)     => Some((a, b))
      case StCovers(a, b)     => Some((a, b))
      case StCoveredBy(a, b)  => Some((a, b))
      case _ => None
    }
    val hit = conjuncts.iterator.flatMap(geomPair).collectFirst {
      case (a, b) if sidesSplit(a, Seq(b), left, right) || sidesSplit(b, Seq(a), left, right) =>
        (a, b)
    }
    hit.map { case (gA, gB) =>
      val (gLeft, gRight) = if (gA.references.subsetOf(left.outputSet)) (gA, gB) else (gB, gA)

      // the side, its bbox's (xmin, ymin), one row per bbox cell
      def coverSide(side: LogicalPlan, g: Expression, tag: String)
        : (LogicalPlan, Attribute, Attribute, Attribute) = {
        val xmin = Alias(StXMin(g), s"__graft_xmin_$tag")()
        val ymin = Alias(StYMin(g), s"__graft_ymin_$tag")()
        val cell = AttributeReference(s"__graft_cell_$tag", LongType, nullable = false)()
        val gen = Generate(Explode(StCovering(Literal(level), StEnvelope(g))), Nil,
          outer = false, None, Seq(cell), Project(side.output ++ Seq(xmin, ymin), side))
        (gen, cell, xmin.toAttribute, ymin.toAttribute)
      }

      val (lGen, lCell, lx, ly) = coverSide(left, gLeft, "l")
      val (rGen, rCell, rx, ry) = coverSide(right, gRight, "r")
      // exactly-once, ahead of the predicate: the reference cell
      val reporting = EqualTo(lCell,
        StCellId(Literal(level), Greatest(Seq(lx, rx)), Greatest(Seq(ly, ry))))
      val newCond = (Seq(EqualTo(lCell, rCell), reporting) ++ conjuncts).reduce(And)
      Project(left.output ++ right.output,
        Join(lGen, rGen, Inner, Some(newCond), hint))
    }
  }

  // ------------------------------------------------------------ helpers

  private def refsIn(es: Seq[Expression], side: LogicalPlan): Boolean =
    es.forall(e => e.references.nonEmpty && e.references.subsetOf(side.outputSet))

  /** one expression's refs entirely on one side, the others entirely
    * on the other side (either orientation). */
  private def sidesSplit(g: Expression, pts: Seq[Expression],
      left: LogicalPlan, right: LogicalPlan): Boolean =
    (refsIn(Seq(g), left) && refsIn(pts, right)) ||
      (refsIn(Seq(g), right) && refsIn(pts, left))

  private def sidesSplitPts(a: Seq[Expression], b: Seq[Expression],
      left: LogicalPlan, right: LogicalPlan): Boolean =
    (refsIn(a, left) && refsIn(b, right)) || (refsIn(a, right) && refsIn(b, left))
}
