package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.storage.StorageLevel
import graft.sql.functions._

/** Typed row shapes for [[SpatialJoins.knnJoinQuadtree]]'s cogroup. */
private[operators] case class KeyedPoint(key: Long, lon: Double, lat: Double, tile: Long)
private[operators] case class KnnHit(pkey: Long, tkey: Long, tlon: Double, tlat: Double,
    dist: Double, rank: Int)

/** Their encoders, derived once: a product encoder is derived by runtime
  * reflection, about 10 ms of driver CPU each time. */
private[operators] object KnnEncoders {
  implicit val long: Encoder[Long] = Encoders.scalaLong
  implicit val keyedPoint: Encoder[KeyedPoint] = Encoders.product[KeyedPoint]
  implicit val knnHit: Encoder[KnnHit] = Encoders.product[KnnHit]
}

/**
 * Spatial joins as explicit DataFrame programs (SURVEY.md §2.6, §4):
 * the plan-level analogue of the reference's in-memory R*-tree queries.
 * Staying on declarative joins keeps Catalyst in charge of physical
 * strategy (BroadcastHashJoin for small dims, SortMergeJoin + AQE for
 * large sides) — no custom SparkStrategy needed.
 *
 * Scale design:
 *  - the build side is exploded to its cell covering ONCE (cells are
 *    disjoint, so a point lands in exactly one cell → cell equi-join
 *    produces each candidate pair at most once; no dedupe shuffle).
 *  - the refine predicate (`st_contains_xy`) runs inside whole-stage
 *    codegen after a BroadcastHashJoin — the same
 *    filter-after-prefilter shape as the reference's bbox pretest
 *    (relate_operation.rs:63-76), but distributed.
 *  - for skew, `saltHotCells` computes per-cell counts (pass 1) and
 *    derives a deterministic salt domain (no RNG: salt =
 *    pmod(hash(rowkey), k)) — BASELINE requires exact-match rows and
 *    workflow determinism.
 */
object SpatialJoins {

  /**
   * Broadcast point-in-polygon join.
   *
   * @param points df with columns (..., lonCol, latCol)
   * @param polys  df with columns (..., geomCol) — small enough to broadcast
   * @param level  cell level for the prefilter grid
   * @return points' columns + polys' columns for each (point ∈ polygon)
   */
  def broadcastPipJoin(points: DataFrame, lonCol: String, latCol: String,
      polys: DataFrame, geomCol: String, level: Int): DataFrame = {
    val polyCells = polys
      .withColumn("__cell", explode(st_covering(lit(level), col(geomCol))))
    val pts = points.withColumn("__cell", st_cellid(lit(level), col(lonCol), col(latCol)))
    pts.join(broadcast(polyCells), Seq("__cell"), "inner")
      .filter(st_contains_xy(col(geomCol), col(lonCol), col(latCol)))
      .drop("__cell")
  }

  /**
   * Persist a point table BUCKETED by its cell key (hive-style
   * bucketing): repeated cell-keyed joins and aggregations against a
   * table written this way read pre-partitioned, pre-sorted buckets
   * and skip the exchange entirely — the storage-level answer to "this
   * dimension is joined on its cell every day". Pair two tables
   * written with the SAME level and bucket count and the cell
   * equi-join plans with NO shuffle on either side (asserted in the
   * spec). Bucket count is a real knob at scale: one bucket ≈ one
   * task's worth of the table.
   */
  def writeBucketedByCell(df: DataFrame, lonCol: String, latCol: String,
      level: Int, buckets: Int, tableName: String): Unit =
    df.withColumn("__cell", st_cellid(lit(level), col(lonCol), col(latCol)))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "__cell").sortBy("__cell")
      .saveAsTable(tableName)

  /**
   * Density-adaptive cell partitioning — the data-driven answer to
   * spatial skew (salting treats the symptom per-join; this derives a
   * BALANCED partition geometry from the data itself, the
   * quadtree-partitioner idea of spatial engines). The result is the
   * unique disjoint mixed-level cell set where every cell holds ≤
   * `targetPerCell` points, except unsplittable `maxLevel` leaves.
   *
   * Closed-form in TWO aggregations, no iteration and no driver-side
   * tree build: leaf counts at `maxLevel` (bounded by OCCUPIED leaves,
   * not points), then ancestor-exploded counts at every level, then
   * the local rule
   *     cell ∈ P  ⇔  cnt(cell) ≤ T < cnt(parent(cell))
   *                  ∨ (level 0 ∧ cnt ≤ T)
   *                  ∨ (level maxLevel ∧ cnt > T)
   * Counts shrink with depth along any ancestor chain, so exactly one
   * P-cell covers every occupied leaf — disjointness and coverage hold
   * by construction (asserted in the spec).
   *
   * Returns (cell, cnt) — keep it distributed; broadcast it into
   * [[assignAdaptiveCells]] when small.
   */
  def adaptiveCells(points: DataFrame, lonCol: String, latCol: String,
      maxLevel: Int, targetPerCell: Long): DataFrame = {
    val leaf = points
      .groupBy(st_cellid(lit(maxLevel), col(lonCol), col(latCol)).as("__leaf"))
      .agg(count(lit(1)).as("__n"))
    val perLevel = leaf
      .select(explode(transform(sequence(lit(0), lit(maxLevel)),
        l => st_cell_parent(col("__leaf"), l))).as("cell"), col("__n"))
      .groupBy("cell").agg(sum(col("__n")).as("cnt"))
    val withParent = perLevel
      .withColumn("__lvl", st_cell_level(col("cell")))
      .withColumn("__parent",
        when(col("__lvl") > 0, st_cell_parent(col("cell"), col("__lvl") - 1)))
    val parentCnt = perLevel.select(col("cell").as("__parent"), col("cnt").as("__pcnt"))
    withParent.join(parentCnt, Seq("__parent"), "left")
      .filter(
        (col("cnt") <= targetPerCell &&
          (col("__lvl") === 0 || col("__pcnt") > targetPerCell)) ||
        (col("__lvl") === maxLevel && col("cnt") > targetPerCell))
      .select(col("cell"), col("cnt"))
  }

  /** Assign every point its unique adaptive cell: the point's ancestor
    * chain (maxLevel+1 in-row values) joins the partition set — each
    * point matches exactly one cell by the set's disjoint coverage. */
  def assignAdaptiveCells(points: DataFrame, lonCol: String, latCol: String,
      cells: DataFrame, maxLevel: Int): DataFrame = {
    val anc = explode(transform(sequence(lit(0), lit(maxLevel)),
      l => st_cellid(l, col(lonCol), col(latCol))))
    points.withColumn("__cell", anc)
      .join(broadcast(cells.select(col("cell").as("__cell"))), Seq("__cell"))
  }

  /**
   * Broadcast PIP join over a COMPACTED covering (the S2 "ancestor
   * join"): the polygon side covers at `level` then collapses complete
   * quads into parents (`st_cell_compact`), so a continent-sized
   * polygon at a fine level broadcasts thousands of mixed-level cells
   * instead of millions of leaves; the point side probes with its
   * ancestor chain (its cell at every level 0..`level` — level+1 in-row
   * values, exploded inside the broadcast join where no shuffle
   * exists). Compacted cells are disjoint, so a point matches at most
   * ONE covering cell per polygon — each candidate pair still meets
   * exactly once and no dedupe follows. Same output as
   * [[broadcastPipJoin]]; choose this one when coverings are large
   * (fine level × big geometries).
   */
  def broadcastPipJoinCompact(points: DataFrame, lonCol: String, latCol: String,
      polys: DataFrame, geomCol: String, level: Int): DataFrame = {
    val polyCells = polys.withColumn("__cell",
      explode(st_cell_compact(st_covering(lit(level), col(geomCol)))))
    val ancestors = transform(sequence(lit(0), lit(level)),
      l => st_cellid(l, col(lonCol), col(latCol)))
    val pts = points.withColumn("__cell", explode(ancestors))
    pts.join(broadcast(polyCells), Seq("__cell"), "inner")
      .filter(st_contains_xy(col(geomCol), col(lonCol), col(latCol)))
      .drop("__cell")
  }

  /**
   * Partitioned spatial join for two large geometry tables: each side
   * replicates to the cells of its bounding box at `level`
   * (`st_covering(level, st_envelope(g))`) and the sides equi-join on
   * cell (the shuffle is partitioned by cell — the north rule's
   * "geometry bucketed into cells as the partitioning key"). A pair
   * whose bboxes share k cells meets k times; the reference-point rule
   * (Dittrich & Seeger, ICDE 2000) keeps it only in the cell of
   * (max(xmin_a, xmin_b), max(ymin_a, ymin_b)), so no distinct shuffle
   * follows and each side carries two doubles, not a covering array.
   *
   * Exactly once: every supported predicate (intersects, contains,
   * within, covers, coveredby) implies that the two bboxes overlap, and
   * then the reference point lies in both of them. `CellId.cellX` and
   * `cellY` are monotone floors with the clamping `coveringForBbox`
   * uses, so the reference point's cell is in both bbox coverings: the
   * pair meets in that cell, and in no other cell does the filter hold.
   * This needs the FULL bbox coverings — over refined coverings the
   * reference cell can be missing from one side and the pair is lost.
   *
   * The reference-cell filter runs before the predicate, so each
   * candidate pair is refined once, not once per shared cell.
   */
  def partitionedSpatialJoin(a: DataFrame, aGeom: String, b: DataFrame, bGeom: String,
      level: Int, predicate: (Column, Column) => Column = st_intersects): DataFrame = {
    def side(df: DataFrame, geom: String, tag: String): DataFrame = df
      .withColumn(s"__xmin_$tag", st_xmin(col(geom)))
      .withColumn(s"__ymin_$tag", st_ymin(col(geom)))
      .withColumn("__cell", explode(st_covering(lit(level), st_envelope(col(geom)))))
    val refCell = st_cellid(lit(level),
      greatest(col("__xmin_a"), col("__xmin_b")), greatest(col("__ymin_a"), col("__ymin_b")))
    side(a, aGeom, "a").join(side(b, bGeom, "b"), Seq("__cell"), "inner")
      .filter(col("__cell") === refCell)
      .filter(predicate(col(aGeom), col(bGeom)))
      .drop("__cell", "__xmin_a", "__ymin_a", "__xmin_b", "__ymin_b")
  }

  /**
   * k-nearest-neighbour join: for every point in `points`, the k
   * nearest rows of `targets` (small side, broadcast) by haversine
   * distance. Exact: brute-force over the broadcast side + window
   * top-k — right for dimension-table-sized `targets`. For large
   * targets use `knnJoinQuadtree`. Ranks per `pointKey`, not per row:
   * probe rows sharing a key are merged into one top-k over all their
   * candidates (`knnJoinQuadtree` answers each row on its own).
   */
  def knnJoinBroadcast(points: DataFrame, lonCol: String, latCol: String, pointKey: String,
      targets: DataFrame, tLonCol: String, tLatCol: String, k: Int): DataFrame = {
    val joined = points.crossJoin(broadcast(targets))
      .withColumn("__dist",
        st_distance_sphere(st_point(col(lonCol), col(latCol)), st_point(col(tLonCol), col(tLatCol))))
    val w = Window.partitionBy(col(pointKey)).orderBy(col("__dist").asc, col(tLonCol), col(tLatCol))
    joined.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
  }

  /**
   * Distance-within join (the ST_DWithin join shape): every pair
   * (a, b) with planar lon/lat distance <= `radius` degrees.
   *
   * Shape: B replicates to the 3×3 cell neighbourhood at `level`
   * (longitude wraps across the antimeridian, latitude clamps at the
   * poles); A maps to its single cell — the equi-join shuffle is
   * partitioned by cell and every qualifying pair meets EXACTLY once
   * (A's cell is unique; B's replica cells are deduplicated), so no
   * distinct shuffle follows. The refine (`st_distance <= radius`)
   * runs inside whole-stage codegen after the join. Requires the cell
   * edge at `level` to be >= radius so one neighbour ring covers the
   * radius — at higher density raise `level` only while that guard
   * holds.
   */
  def withinDistanceJoin(a: DataFrame, lonA: String, latA: String,
      b: DataFrame, lonB: String, latB: String,
      radius: Double, level: Int): DataFrame = {
    val cellsPerAxis = math.pow(2.0, level)
    val lonStep = 360.0 / cellsPerAxis
    val latStep = 180.0 / cellsPerAxis
    require(radius > 0 && radius <= math.min(lonStep, latStep),
      s"radius $radius must be in (0, cell edge at level $level = ${math.min(lonStep, latStep)}]")
    // the <=9 neighbour cells materialize as one in-row duplicate-free
    // array (integer index arithmetic on b's own cell — antimeridian
    // wrap, pole-row drop; never re-encoded offset coordinates, which
    // can floor into the wrong cell within one ulp of a cell edge) —
    // no dropDuplicates shuffle, the only exchange is the cell equi-join
    val bNbr = b.withColumn("__cell",
      explode(st_cell_neighborhood(lit(level), col(lonB), col(latB), lit(1))))
    a.withColumn("__cell", st_cellid(lit(level), col(lonA), col(latA)))
      .join(bNbr, Seq("__cell"))
      .withColumn("__dist",
        st_distance(st_point(col(lonA), col(latA)), st_point(col(lonB), col(latB))))
      .filter(col("__dist") <= radius)
      .drop("__cell")
  }

  /**
   * Map-matching: snap each GPS fix to its nearest road segment within
   * `maxDist` (planar units) — the nearest-SEGMENT join the point-kNN
   * family can't express. EXACT at any level: every segment replicates
   * in-row to the cell covering of its maxDist-EXPANDED envelope, so
   * any segment within maxDist of a fix is guaranteed to share the
   * fix's cell; a covering is a set and a fix has ONE cell, so each
   * (fix, segment) pair meets exactly once — no post-join dedupe. The
   * refine is the exact point-to-linestring distance in codegen, and
   * the per-fix argmin is ONE map-side-combinable min(struct(dist,
   * segId)) — deterministic ties to the smallest segment id. Fixes
   * with no segment within maxDist drop out (left-join the result to
   * keep them). Pick `level` so a cell is within ~an order of
   * magnitude of typical segment length + maxDist: replication cost
   * is the covering size, candidate count is segments-per-cell.
   */
  def matchToSegments(points: DataFrame, idCol: String, lonCol: String,
      latCol: String, segs: DataFrame, segIdCol: String, geomCol: String,
      maxDist: Double, level: Int): DataFrame = {
    require(maxDist > 0, s"maxDist $maxDist must be positive")
    val s2 = segs.select(col(segIdCol).as("__sid"), col(geomCol).as("__sg"))
      .withColumn("__cell",
        explode(st_covering(lit(level), st_expand(col("__sg"), lit(maxDist)))))
    val p2 = points.select(col(idCol), col(lonCol), col(latCol))
      .withColumn("__cell", st_cellid(lit(level), col(lonCol), col(latCol)))
    p2.join(s2, Seq("__cell"))
      .withColumn("__dist",
        st_distance(st_point(col(lonCol), col(latCol)), col("__sg")))
      .filter(col("__dist") <= maxDist)
      .groupBy(col(idCol))
      .agg(min(struct(col("__dist").as("d"), col("__sid").as("s"))).as("__m"))
      .select(col(idCol), col("__m.s").as("seg_id"), col("__m.d").as("dist"))
  }

  /**
   * GUARANTEED-EXACT kNN join with LOCAL QUADTREE REFINE (the north
   * rule's "kNN via S2 cell covering + local quadtree refine").
   *
   * Candidates come from a cell-ring covering (each target reaches
   * the cells within `maxRing` of its own); the candidate cross
   * product is NEVER materialized. A typed `cogroup` co-partitions
   * probes with targets on a tile key — a tile is the 4×4 block of
   * cells two levels up ([[graft.index.CellId.TileShift]]) — builds a
   * per-tile [[graft.index.Quadtree]] over the group's targets, and
   * answers each probe's exact top-k locally in O(log n) best-first
   * descent — versus a window top-k's |probes_in_cell| x
   * |targets_in_ring| candidate rows shuffled and sorted per probe key.
   *
   * Exactness: the caller need not size `maxRing` so k neighbours fall
   * inside the ring — a probe's result is accepted only when its k-th
   * distance is strictly below the ring's provable coverage radius: the
   * minimum great-circle distance to any point OUTSIDE the covered
   * lat/lon rows (latitude margin: d >= R*|dPhi|; longitude margin:
   * d >= 2R*asin(cos(phiMax)*sin(dLambda/2)), both sharp; poles/wrap
   * make a side unbounded or zero conservatively). A probe that fails
   * emits one marker row (rank 0, its own lon/lat) instead of hits;
   * the markers are the probes of the next level, two levels coarser
   * (ring area x16), down to level 0 — one global cell — so the answer
   * is ALWAYS the true kNN, at any `level`/`maxRing`.
   *
   * Scale: each level is one cogroup over exactly two exchanges — one
   * hash partition of that level's probes, each row once under its
   * cell's tile, and one of the targets, each row once per distinct
   * tile of its ring (the codegen'd `st_cell_halo_tiles`: a one-ring
   * halo of tiles, at most 4 for r <= 2) — with no
   * join or aggregate. A tile's group holds every target whose ring
   * touches one of its 16 cells, a superset of each of its probes'
   * ring targets, so the coverage guarantee below still proves each
   * answer; per group that is the targets of (4+2r)^2 cells, against
   * (2r+1)^2 for a group per cell, while a target is replicated about
   * ((2r+4)/4)^2 times instead of (2r+1)^2. Each level is materialized
   * by one eager DISK_ONLY `localCheckpoint`, planned through AQE (which
   * coalesces the cogroup's partitions): two shuffle-map jobs and the
   * job that runs the cogroup and writes its blocks, which also counts
   * the level's rank-0 markers in a per-call accumulator, so deciding
   * whether to coarsen needs no job. The result is one more job over
   * the checkpoints: a call resolved at its first level runs 4 jobs.
   * As in the Components and Raster loops, the checkpoint truncates the
   * lineage; its blocks live on local disk, pin no heap, and are freed
   * when the returned DataFrame is garbage-collected — `clearCache`
   * does not release them. The first level reads `points`; later levels
   * read only the markers. Under skew, raise `level` — the guarantee
   * keeps results exact while the ring population shrinks.
   *
   * Results are per input row: two probe rows with the same key get k
   * hits each. [[knnJoinBroadcast]] ranks per KEY (its window merges
   * such rows into one top-k), so the two joins agree only when probe
   * keys are unique.
   *
   * Determinism: ties broken by (haversine meters asc, target key asc)
   * — the same haversine kernel as `st_distance_sphere`, so ordering
   * is bit-identical to the window joins.
   *
   * Keys must be castable to long; `pointKey` and `targetKey` must
   * differ. Output: (pointKey, targetKey, tLonCol, tLatCol, __dist,
   * __rank).
   */
  def knnJoinQuadtree(points: DataFrame, lonCol: String, latCol: String, pointKey: String,
      targets: DataFrame, tLonCol: String, tLatCol: String, targetKey: String,
      k: Int, level: Int, maxRing: Int): DataFrame = {
    require(pointKey != targetKey, "pointKey and targetKey must differ")
    require(maxRing >= 1, "maxRing must be >= 1")
    import KnnEncoders._
    import graft.index.CellId

    /** Lower bound (meters) on the distance from a probe to anything
      * outside its ring coverage at `lvl` — 0 when nothing is provable
      * (e.g. the lat band touches a pole while longitude is bounded:
      * an over-the-pole neighbour can evade the lon margin). */
    def coverageGuarantee(lon: Double, lat: Double, lvl: Int): Double = {
      val n = CellId.cellsPerAxis(lvl)
      val latStep = 180.0 / n
      val lonStep = 360.0 / n
      val cx = CellId.cellX(lvl, lon)
      val cy = CellId.cellY(lvl, lat)
      val rowMin = cy - maxRing // row 0 = north pole edge
      val rowMax = cy + maxRing
      val covLatMax = if (rowMin <= 0) 90.0 else 90.0 - rowMin * latStep
      val covLatMin = if (rowMax >= n - 1) -90.0 else 90.0 - (rowMax + 1) * latStep
      val north = if (rowMin <= 0) Double.PositiveInfinity
        else Math.toRadians(covLatMax - lat) * graft.kernels.Sphere.MeanEarthRadius
      val south = if (rowMax >= n - 1) Double.PositiveInfinity
        else Math.toRadians(lat - covLatMin) * graft.kernels.Sphere.MeanEarthRadius
      val lonBound =
        if (2L * maxRing + 1L >= n) Double.PositiveInfinity // fully wrapped
        else {
          val covLonMin = -180.0 + (cx - maxRing) * lonStep
          val covLonMax = -180.0 + (cx + maxRing + 1) * lonStep
          val mDeg = Math.max(0.0, Math.min(lon - covLonMin, covLonMax - lon))
          val phiMax = Math.max(Math.abs(covLatMin), Math.abs(covLatMax))
          2.0 * graft.kernels.Sphere.MeanEarthRadius *
            Math.asin(Math.cos(Math.toRadians(phiMax)) *
              Math.sin(Math.toRadians(Math.min(mDeg, 180.0)) / 2.0))
        }
      Math.min(Math.min(north, south), lonBound) * (1.0 - 1e-9) // rounding slack
    }

    // probes and targets share one row shape; `tile` is the cogroup key.
    // Non-null like the typed rows they decode to (a null fails here as
    // it would there), so both sides' tile keys have the same type
    def keyed(df: DataFrame, key: String, lon: String, lat: String): DataFrame = {
      def nonNull(c: Column) = ColumnBridge.column(AssertNotNull(ColumnBridge.expression(c)))
      df.select(nonNull(col(key).cast("long")).as("key"), nonNull(col(lon).cast("double")).as("lon"),
        nonNull(col(lat).cast("double")).as("lat"))
    }
    val tgt = keyed(targets, targetKey, tLonCol, tLatCol)

    // rank-0 markers emitted so far, counted by the job that writes
    // each level's checkpoint
    val markers = points.sparkSession.sparkContext.longAccumulator

    /** One cogroup over two exchanges: probes keyed by their cell's tile
      * (`st_cellid` at the tile level is the cell's parent), targets
      * replicated to every tile holding a cell of their ring
      * (`haloTiles`: the parents of `neighborhood`'s cells, by the same
      * integer cell arithmetic — so a probe's tile is among the tiles of
      * every target whose ring holds the probe's cell). A probe whose
      * top-k is not provably exact emits one marker row (rank 0,
      * carrying its own lon/lat) for the next level. */
    def ringTopK(prb: DataFrame, lvl: Int, isFinal: Boolean): DataFrame = {
      val prbByTile = prb.withColumn("tile", st_cellid(lit(CellId.tileLevel(lvl)), col("lon"), col("lat")))
        .groupBy(col("tile")).as[Long, KeyedPoint]
      val tgtByTile = tgt.withColumn("tile",
          explode(st_cell_halo_tiles(lit(lvl), col("lon"), col("lat"), lit(maxRing))))
        .groupBy(col("tile")).as[Long, KeyedPoint]
      prbByTile.cogroup(tgtByTile) { (_, ps, ts) =>
        var lons = new Array[Double](16); var lats = new Array[Double](16)
        var keys = new Array[Long](16); var n = 0
        ts.foreach { t =>
          if (n == lons.length) {
            lons = java.util.Arrays.copyOf(lons, 2 * n); lats = java.util.Arrays.copyOf(lats, 2 * n)
            keys = java.util.Arrays.copyOf(keys, 2 * n)
          }
          lons(n) = t.lon; lats(n) = t.lat; keys(n) = t.key; n += 1
        }
        val qt = if (n == 0) null else graft.index.Quadtree.build(lons, lats, keys, n)
        ps.flatMap { p =>
          val hits = if (qt == null) Array.empty[graft.index.Quadtree.Hit] else qt.knn(p.lon, p.lat, k)
          val exact = isFinal ||
            (hits.length >= k && hits(hits.length - 1).dist < coverageGuarantee(p.lon, p.lat, lvl))
          if (!exact) { markers.add(1L); Iterator.single(KnnHit(p.key, 0L, p.lon, p.lat, 0.0, 0)) }
          else Iterator.tabulate(hits.length) { i =>
            val h = hits(i)
            KnnHit(p.key, h.key, h.lon, h.lat, h.dist, i + 1)
          }
        }
      }.toDF()
    }

    // coarsening loop: each level's output is checkpointed; its marker
    // rows are the next level's probes (ring area x16 at level-2). Level
    // 0 is one global cell — every target in one group — so termination
    // with the true kNN is guaranteed
    var lvl = level
    var pending = keyed(points, pointKey, lonCol, latCol)
    var acc: List[DataFrame] = Nil
    var done = false
    while (!done) {
      val isFinal = lvl <= 0
      val before = markers.sum
      val topk = ringTopK(pending, lvl, isFinal)
        .localCheckpoint(eager = true, StorageLevel.DISK_ONLY)
      acc ::= topk.filter(col("rank") > 0)
      if (isFinal || markers.sum == before) done = true
      else {
        pending = topk.filter(col("rank") === 0)
          .select(col("pkey").as("key"), col("tlon").as("lon"), col("tlat").as("lat"))
        lvl = math.max(0, lvl - 2)
      }
    }
    acc.reduce(_ unionByName _).select(
      col("pkey").as(pointKey), col("tkey").as(targetKey),
      col("tlon").as(tLonCol), col("tlat").as(tLatCol),
      col("dist").as("__dist"), col("rank").as("__rank"))
  }

  // -------------------------------------------------------------- skew

  /**
   * Deterministic hot-cell salting (north rule: "salting hot cells").
   * Pass 1 computes per-cell counts on the probe side; cells above
   * `threshold` get a salt domain of ceil(count/target). The build
   * side replicates rows across salts; the probe side picks
   * pmod(hash(probeKey), k) — pure column arithmetic, no RNG, so runs
   * are exactly reproducible.
   *
   * Returns (probeWithSaltedCell, buildWithSaltedCell) joined on
   * "__scell".
   */
  def saltedCellJoin(probe: DataFrame, probeCell: Column, probeKey: Column,
      build: DataFrame, buildCell: Column,
      threshold: Long, targetPerSalt: Long): (DataFrame, DataFrame) = {
    val p = probe.withColumn("__cell", probeCell)
    val b = build.withColumn("__cell", buildCell)
    val stats = p.groupBy("__cell").count()
      .filter(col("count") > threshold)
      .withColumn("__salts", ceil(col("count") / lit(targetPerSalt.toDouble)).cast("int"))
      .select(col("__cell"), col("__salts"))
    val ps = p.join(broadcast(stats), Seq("__cell"), "left")
      .withColumn("__salt",
        when(col("__salts").isNull, lit(0))
          .otherwise(pmod(hash(probeKey), col("__salts"))))
      .withColumn("__scell", concat_ws(":", col("__cell"), col("__salt")))
      .drop("__salts", "__salt")
    val bs = b.join(broadcast(stats), Seq("__cell"), "left")
      .withColumn("__saltArr",
        when(col("__salts").isNull, array(lit(0)))
          .otherwise(sequence(lit(0), col("__salts") - 1)))
      .withColumn("__salt", explode(col("__saltArr")))
      .withColumn("__scell", concat_ws(":", col("__cell"), col("__salt")))
      .drop("__salts", "__saltArr", "__salt")
    (ps, bs)
  }

  // ------------------------------------------------------------ tiling

  /** Tile assignment: every geometry → its covering cells at `level`
    * (one row per (row, cell)) — the north rule's tiling output. */
  /**
   * Deterministic grid-thinning pre-pass for whole-group geometry
   * aggregates (concave hull, collect): keep at most `maxPerCell`
   * points per level-`level` cell within each group, chosen by a
   * stable hash order (no RNG — identical at any parallelism). Bounds
   * the per-group collected state at 100× density to
   * O(cells_covered · maxPerCell) instead of O(points), at the cost of
   * a bounded geometric perturbation: every dropped point lies within
   * one cell diagonal of a kept point, so a concave hull computed on
   * the thinned set deviates from the full-set hull by at most one
   * cell diagonal anywhere along its boundary. When the cell size is
   * below the data's minimum point spacing the pass is the identity.
   * The extra shuffle is a hash-partitioned window on (group, cell) —
   * scale-safe.
   */
  def thinPoints(pts: DataFrame, groupCol: String, xCol: String, yCol: String,
      level: Int = 12, maxPerCell: Int = 8): DataFrame = {
    val cell = st_cellid(lit(level), col(xCol), col(yCol))
    val w = Window.partitionBy(col(groupCol), cell)
      .orderBy(xxhash64(col(xCol), col(yCol)).asc, col(xCol).asc, col(yCol).asc)
    pts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPerCell)
      .drop("__rn")
  }

  def tileAssignments(df: DataFrame, geomCol: String, level: Int): DataFrame =
    df.withColumn("cell", explode(st_covering(lit(level), col(geomCol))))

  /** Raster side of raster↔vector: per-cell point counts ("rasterize"
    * points onto the cell grid at `level`). */
  def rasterize(points: DataFrame, lonCol: String, latCol: String, level: Int): DataFrame =
    points
      .withColumn("cell", st_cellid(lit(level), col(lonCol), col(latCol)))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"))

  /** Vector side of raster↔vector: cell counts back to cell-rect
    * polygons with their value — input for further vector ops. */
  def vectorize(raster: DataFrame): DataFrame =
    raster.withColumn("geom", st_cell_bounds(col("cell")))

  /**
   * Zonal statistics — the raster↔vector reduction: aggregate a
   * cell-keyed raster over polygon zones by the cell-CENTER rule (a
   * cell contributes to a zone iff its center lies inside the zone —
   * GDAL's default rasterization convention). Candidate (zone, cell)
   * pairs come from each zone's covering at the raster's level, so
   * the join is a plain equi-join on the cell id: the raster — the
   * big side at scale — shuffles only by cell (or broadcasts the
   * exploded zone coverings when the zone table is dimension-sized,
   * which Spark picks automatically), a zone's replication is bounded
   * by its covering size, and every (zone, cell) pair meets exactly
   * once because a covering is a set. The center-in-zone refine runs
   * inside the join condition (codegen'd PIP).
   *
   * Returns one row per zone with at least one contributing cell:
   * (zoneKey, n_cells, total = sum(valueCol), mean).
   */
  def zonalStats(raster: DataFrame, cellCol: String, valueCol: String,
      zones: DataFrame, zoneKey: String, geomCol: String, level: Int): DataFrame = {
    val cand = zones.select(col(zoneKey), col(geomCol).as("__zg"))
      .withColumn(cellCol, explode(st_covering(lit(level), col("__zg"))))
    val bounds = st_cell_bounds(col(cellCol))
    val cx = (st_xmin(bounds) + st_xmax(bounds)) / 2.0
    val cy = (st_ymin(bounds) + st_ymax(bounds)) / 2.0
    raster.join(cand, Seq(cellCol))
      .filter(st_contains_xy(col("__zg"), cx, cy))
      .groupBy(col(zoneKey))
      .agg(count(lit(1)).as("n_cells"),
        sum(col(valueCol)).as("total"))
      .withColumn("mean",
        col("total").cast("double") / col("n_cells").cast("double"))
  }

  /**
   * Raster→vector polygonization (the GDAL-polygonize analogue the
   * reference leaves to callers): dissolve a class-labelled grid into
   * region polygons. Input is one row per occupied cell — integer
   * grid coordinates (xCol, yCol) plus a class label — and the output
   * is one row per class with the dissolved geometry on the UNIT
   * LATTICE (cell (x,y) → square [x,x+1]×[y,y+1]) plus its cell count.
   * Unit-lattice output keeps every overlay coordinate an exact small
   * integer; callers map to world coordinates with `st_affine`
   * (cellW, 0, xmin, 0, cellH, ymin).
   *
   * Scale shape: the dissolve is `st_union_agg` — a real
   * TypedImperativeAggregate with per-partition partial unions and a
   * balanced pairwise merge — so the shuffle carries partially
   * dissolved regions, never the raw cell list, and per-class state is
   * bounded by the region boundary complexity, not the cell count.
   * Holes (a class ring around foreign cells) and corner-touching
   * cells are preserved exactly by the integer-lattice overlay.
   */
  def polygonizeGrid(grid: DataFrame, xCol: String, yCol: String,
      classCol: String): DataFrame =
    grid
      .withColumn("cell_sq", st_rect(
        col(xCol).cast("double"), col(yCol).cast("double"),
        (col(xCol) + 1).cast("double"), (col(yCol) + 1).cast("double")))
      .groupBy(col(classCol))
      .agg(st_union_agg(col("cell_sq")).as("geom"),
        count(lit(1)).as("n_cells"))
}
