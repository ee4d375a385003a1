package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sql.{functions => gf}

/**
 * Distributed spatial clustering — the PostGIS cluster-function family
 * (ST_ClusterDBSCAN / ST_ClusterWithin / ST_ClusterKMeans /
 * ST_ClusterIntersecting) re-expressed as scale-correct Spark jobs.
 * The reference crate has none of these (its surface stops at
 * per-geometry algorithms); they are the natural next layer for a
 * corpus-scale engine: "group the page-extracted geo entities into
 * spatial clusters" is a one-call operation here.
 *
 * Scale design (the part PostGIS cannot do):
 *  - epsilon-neighbourhood pairs come from a CELL equi-join (each
 *    point joins only its 3×3 cell neighbourhood at a level whose
 *    edge ≥ eps — the same exactly-once in-row-neighbourhood shape as
 *    [[SpatialJoins.withinDistanceJoin]]), never an all-pairs join;
 *  - the transitive-closure step (DBSCAN core merging, ClusterWithin
 *    single-linkage, ClusterIntersecting) is the alternating-star
 *    connected-components loop of [[Components]] — O(log² n) rounds,
 *    data-sized shuffles, lineage truncated per round;
 *  - k-means keeps only the k×2 centroid table on the driver;
 *    assignment and the mean-update aggregation stay distributed, and
 *    the means are computed in SCALED INTEGER space (exact long sums,
 *    one division) so the result is bit-identical at any parallelism
 *    — floating-point partial-sum order can never flip an argmin.
 *
 * Labels are deterministic everywhere: a cluster's id is the MINIMUM
 * member key (DBSCAN/Within/Intersecting) or the seed index (KMeans),
 * so reruns and different partitionings give byte-identical output
 * (PostGIS documents its border-point assignment as arbitrary; we
 * pin it to the smallest eps-reachable core cluster).
 */
object Clustering {

  /** Symmetric eps-neighbourhood pairs (ka, kb), ka != kb, of one
    * point set: planar squared distance <= eps². Cell equi-join at
    * `level` (requires eps <= cell edge so one neighbour ring covers
    * the radius); the squared-distance compare avoids the sqrt and is
    * exactly mirrorable in an oracle. */
  def epsPairs(points: DataFrame, keyCol: String, xCol: String, yCol: String,
      eps: Double, level: Int): DataFrame = {
    val cellsPerAxis = math.pow(2.0, level)
    val edge = math.min(360.0 / cellsPerAxis, 180.0 / cellsPerAxis)
    require(eps > 0 && eps <= edge,
      s"eps $eps must be in (0, cell edge at level $level = $edge]")
    val a = points.select(col(keyCol).cast("long").as("ka"),
      col(xCol).cast("double").as("__ax"), col(yCol).cast("double").as("__ay"))
    val b = points.select(col(keyCol).cast("long").as("kb"),
      col(xCol).cast("double").as("__bx"), col(yCol).cast("double").as("__by"))
    // b replicates to its duplicate-free in-row 3×3 neighbourhood
    // (integer cell arithmetic — antimeridian wrap, pole-row drop);
    // a maps to its single cell: every qualifying pair meets exactly
    // once per direction, no distinct shuffle
    val bN = b.withColumn("__cell",
      explode(gf.st_cell_neighborhood(lit(level), col("__bx"), col("__by"), lit(1))))
    a.withColumn("__cell", gf.st_cellid(lit(level), col("__ax"), col("__ay")))
      .join(bN, Seq("__cell"))
      .filter(col("ka") =!= col("kb"))
      .filter((col("__ax") - col("__bx")) * (col("__ax") - col("__bx"))
        + (col("__ay") - col("__by")) * (col("__ay") - col("__by")) <= lit(eps * eps))
      .select(col("ka"), col("kb"))
  }

  /**
   * DBSCAN (Ester et al., KDD'96) over planar points. A point is CORE
   * when its eps-neighbourhood holds >= minPts points INCLUDING
   * itself (the PostGIS ST_ClusterDBSCAN convention); clusters are
   * the connected components of the core-core eps graph; a non-core
   * point within eps of >= 1 core joins the SMALLEST adjacent core
   * cluster (border point); everything else is noise (cluster null).
   *
   * Output: (key, cluster: nullable long = min core key of the
   * cluster, is_core: boolean). One row per input point.
   */
  def dbscan(points: DataFrame, keyCol: String, xCol: String, yCol: String,
      eps: Double, minPts: Int, level: Int): DataFrame = {
    val pairs = epsPairs(points, keyCol, xCol, yCol, eps, level).persist()
    val keys = points.select(col(keyCol).cast("long").as("k"))
    // neighbour count EXCLUDING self (pairs are irreflexive) + 1 >= minPts
    val coreKeys = pairs.groupBy(col("ka").as("k")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") + 1L >= minPts.toLong)
      .select("k").persist()
    // core-core edges + self-loops (a core whose eps-ball holds only
    // border points must still form its own singleton cluster)
    val coreEdges = pairs
      .join(coreKeys.withColumnRenamed("k", "ka"), Seq("ka"), "left_semi")
      .join(coreKeys.withColumnRenamed("k", "kb"), Seq("kb"), "left_semi")
      .select(col("ka").as("u"), col("kb").as("v"))
      .union(coreKeys.select(col("k").as("u"), col("k").as("v")))
    val comp = Components.connectedComponents(coreEdges, "u", "v")
      .select(col("node").as("k"), col("comp").as("__core_cluster"))
    // border points: smallest cluster among eps-adjacent cores
    val borders = pairs
      .join(coreKeys.withColumnRenamed("k", "kb"), Seq("kb"), "left_semi")
      .join(coreKeys.withColumnRenamed("k", "ka"), Seq("ka"), "left_anti")
      .join(comp.withColumnRenamed("k", "kb"), Seq("kb"))
      .groupBy(col("ka").as("k"))
      .agg(min(col("__core_cluster")).as("__border_cluster"))
    keys
      .join(comp, Seq("k"), "left_outer")
      .join(borders, Seq("k"), "left_outer")
      .select(col("k").as(keyCol),
        coalesce(col("__core_cluster"), col("__border_cluster")).as("cluster"),
        col("__core_cluster").isNotNull.as("is_core"))
  }

  /** Single-linkage distance clustering (the ST_ClusterWithin shape):
    * clusters = connected components of the "distance <= d" graph;
    * every point labeled (singletons label themselves). Output
    * (key, cluster = min member key). */
  def clusterWithin(points: DataFrame, keyCol: String, xCol: String, yCol: String,
      d: Double, level: Int): DataFrame = {
    val pairs = epsPairs(points, keyCol, xCol, yCol, d, level)
    val selfLoops = points.select(col(keyCol).cast("long").as("u"))
      .withColumn("v", col("u"))
    val edges = pairs.select(col("ka").as("u"), col("kb").as("v")).union(selfLoops)
    Components.connectedComponents(edges, "u", "v")
      .select(col("node").as(keyCol), col("comp").as("cluster"))
  }

  /** Connected components of the "geometries intersect" graph (the
    * ST_ClusterIntersecting shape). Candidate pairs come from
    * [[SpatialJoins.partitionedSpatialJoin]] at `level` (bbox-cell
    * equi-join, reference-point exactly-once rule), each unordered pair
    * refined once through the full relate kernel. Output
    * (key, cluster = min member key). */
  def clusterIntersecting(geoms: DataFrame, keyCol: String, geomCol: String,
      level: Int): DataFrame = {
    val a = geoms.select(col(keyCol).cast("long").as("ka"), col(geomCol).as("__ga"))
    val b = geoms.select(col(keyCol).cast("long").as("kb"), col(geomCol).as("__gb"))
    // ka < kb ahead of the refine: each unordered pair is refined once
    val pairs = SpatialJoins.partitionedSpatialJoin(a, "__ga", b, "__gb", level,
      (ga, gb) => col("ka") < col("kb") && gf.st_intersects(ga, gb))
      .select(col("ka"), col("kb"))
    val selfLoops = geoms.select(col(keyCol).cast("long").as("u"))
      .withColumn("v", col("u"))
    val edges = pairs.select(col("ka").as("u"), col("kb").as("v"))
      .union(pairs.select(col("kb").as("u"), col("ka").as("v")))
      .union(selfLoops)
    Components.connectedComponents(edges, "u", "v")
      .select(col("node").as(keyCol), col("comp").as("cluster"))
  }

  /**
   * Deterministic Lloyd k-means (the ST_ClusterKMeans shape) over
   * planar points whose coordinates live on a 1/`scale` lattice
   * (web-extracted point features after snap-to-grid; the synthetic
   * corpus uses scale=20). Seeds are the k smallest keys' coordinates
   * (no RNG); each of `iterations` rounds assigns every point to the
   * nearest centroid (squared euclidean, ties to the lowest centroid
   * index) and recomputes centroids as EXACT means: coordinates scale
   * to integers, sum as longs (order-independent — bit-identical at
   * any parallelism), and divide once. A cluster that loses all
   * members keeps its previous centroid. Output: (key, cluster: int)
   * from one final assignment pass.
   */
  def clusterKMeans(points: DataFrame, keyCol: String, xCol: String, yCol: String,
      k: Int, iterations: Int, scale: Double = 20.0): DataFrame = {
    require(k >= 1 && iterations >= 0)
    val pts = points.select(col(keyCol).cast("long").as("k"),
      col(xCol).cast("double").as("__x"), col(yCol).cast("double").as("__y"))
      .persist()
    var centroids: Array[(Int, Double, Double)] = pts.orderBy(col("k")).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getDouble(1), r.getDouble(2)) }
    val spark = points.sparkSession
    import spark.implicits._

    def assign(cents: Array[(Int, Double, Double)]): DataFrame = {
      val cdf = broadcast(cents.toSeq.toDF("__cid", "__cx", "__cy"))
      val d2 = (col("__x") - col("__cx")) * (col("__x") - col("__cx")) +
        (col("__y") - col("__cy")) * (col("__y") - col("__cy"))
      val w = Window.partitionBy(col("k")).orderBy(d2.asc, col("__cid").asc)
      pts.crossJoin(cdf)
        .withColumn("__r", row_number().over(w))
        .filter(col("__r") === 1)
        .select(col("k"), col("__cid"), col("__x"), col("__y"))
    }

    var it = 0
    while (it < iterations) {
      val means = assign(centroids)
        .groupBy(col("__cid"))
        .agg(sum(round(col("__x") * scale).cast("long")).as("__sx"),
          sum(round(col("__y") * scale).cast("long")).as("__sy"),
          count(lit(1)).as("__n"))
        .select(col("__cid"),
          (col("__sx").cast("double") / col("__n").cast("double") / scale).as("__cx"),
          (col("__sy").cast("double") / col("__n").cast("double") / scale).as("__cy"))
        .as[(Int, Double, Double)].collect()
      val byId = means.map(m => m._1 -> m).toMap
      centroids = centroids.map { case c @ (i, _, _) => byId.getOrElse(i, c) }
      it += 1
    }
    assign(centroids).select(col("k").as(keyCol), col("__cid").as("cluster"))
  }
}
