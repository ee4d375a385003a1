package graft

import scala.collection.mutable.ArrayBuffer
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.index.Quadtree
import graft.kernels.Sphere

/** Quadtree kNN vs brute force (pure), and the quadtree-refined kNN
  * join vs the broadcast/window join (Spark). */
class QuadtreeSpec extends AnyFunSuite {

  /** Deterministic pseudo-random point cloud (no RNG). */
  private def cloud(n: Int, seed: Long): Array[(Double, Double, Long)] =
    (0 until n).map { i =>
      var h = seed + i * 2654435761L
      h ^= h >>> 33; h *= -49064778989728563L; h ^= h >>> 33
      val lon = ((h % 3600000L) / 10000.0) // [-360, 360] -> wraps below
      h ^= h >>> 29; h *= -4265267296055464877L; h ^= h >>> 32
      val lat = ((h % 890000L) / 10000.0)
      (Sphere.normalizeLongitude(lon), Math.max(-89.0, Math.min(89.0, lat)), i.toLong)
    }.toArray

  private def bruteKnn(pts: Array[(Double, Double, Long)],
      qLon: Double, qLat: Double, k: Int): Seq[(Long, Double)] =
    pts.map { case (lon, lat, key) => (key, Sphere.haversineDistance(qLon, qLat, lon, lat)) }
      .sortBy { case (key, d) => (d, key) }.take(k).toSeq

  test("quadtree kNN matches brute force on a global cloud") {
    val pts = cloud(500, 42L)
    val qt = Quadtree.build(pts)
    assert(qt.size == 500)
    val queries = Seq((0.0, 0.0), (-179.95, 0.1), (179.9, -0.2), (12.3, 88.9),
      (-45.0, -88.5), (100.0, 45.0), (-91.1, 30.4))
    for ((qLon, qLat) <- queries; k <- Seq(1, 5, 17)) {
      val got = qt.knn(qLon, qLat, k).map(h => (h.key, h.dist)).toSeq
      val want = bruteKnn(pts, qLon, qLat, k)
      assert(got == want, s"q=($qLon,$qLat) k=$k")
    }
  }

  test("quadtree built from primitive arrays answers like the tuple build") {
    val pts = cloud(500, 42L)
    val fromTuples = Quadtree.build(pts)
    // oversized arrays: only the first n entries are indexed
    val n = pts.length
    val lons = pts.map(_._1) :+ 0.0; val lats = pts.map(_._2) :+ 0.0; val keys = pts.map(_._3) :+ -1L
    val fromArrays = Quadtree.build(lons, lats, keys, n)
    assert(fromArrays.size == n)
    val queries = Seq((0.0, 0.0), (-179.95, 0.1), (179.9, -0.2), (12.3, 88.9),
      (-45.0, -88.5), (100.0, 45.0), (-91.1, 30.4))
    for ((qLon, qLat) <- queries; k <- Seq(1, 5, 17))
      assert(fromArrays.knn(qLon, qLat, k).toSeq == fromTuples.knn(qLon, qLat, k).toSeq,
        s"q=($qLon,$qLat) k=$k")
  }

  test("quadtree handles duplicate coordinates past the depth cap") {
    // 100 coincident points + a few distinct: forces the leaf-growth path
    val dup = Array.fill(100)((10.0, 10.0, 0L)).zipWithIndex
      .map { case ((lon, lat, _), i) => (lon, lat, i.toLong) }
    val pts = dup ++ Array((11.0, 10.0, 200L), (10.0, 11.0, 201L))
    val qt = Quadtree.build(pts, leafCap = 4)
    val got = qt.knn(10.0001, 10.0, 3).map(_.key).toSeq
    assert(got == Seq(0L, 1L, 2L)) // equal dists -> key ascending
  }

  test("quadtree kNN prunes correctly across the antimeridian") {
    val pts = Array((179.99, 0.0, 1L), (-179.98, 0.0, 2L), (0.0, 0.0, 3L), (90.0, 45.0, 4L))
    val qt = Quadtree.build(pts)
    val got = qt.knn(-179.99, 0.0, 2).map(_.key).toSeq
    assert(got == Seq(2L, 1L)) // both sides of the seam, nearest first
    assert(qt.knn(179.995, 0.0, 1).map(_.key).toSeq == Seq(1L))
  }

  test("knnJoinQuadtree matches the broadcast/window kNN join") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val pts = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"),
        (pmod(col("c_custkey") * 37.77, lit(360.0)) - 180.0).as("px"),
        (pmod(col("c_custkey") * 19.31, lit(170.0)) - 85.0).as("py"))
    val centers = spark.read.parquet(s"$sf/nation.parquet")
      .select(col("n_nationkey"),
        (pmod(col("n_nationkey") * 41.3, lit(360.0)) - 180.0).as("cx"),
        (pmod(col("n_nationkey") * 23.9, lit(170.0)) - 85.0).as("cy"))
    val fast = operators.SpatialJoins.knnJoinQuadtree(
        pts, "px", "py", "c_custkey", centers, "cx", "cy", "n_nationkey",
        k = 3, level = 3, maxRing = 1)
      .select("c_custkey", "n_nationkey", "__rank")
      .as[(Long, Long, Int)].collect().toSet
    val brute = operators.SpatialJoins.knnJoinBroadcast(
        pts, "px", "py", "c_custkey", centers, "cx", "cy", k = 3)
      .select(col("c_custkey"), col("n_nationkey"), col("__rank").cast("int"))
      .as[(Long, Long, Int)].collect().toSet
    assert(fast.nonEmpty && fast.map(_._1) == brute.map(_._1))
    // distances are continuous doubles -> no ties; ranked sets must agree
    assert(fast == brute,
      s"diff fast-brute=${(fast -- brute).take(5)} brute-fast=${(brute -- fast).take(5)}")
  }

  test("knnJoinQuadtree coarsens for probes whose rings are empty") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val targets = Seq((1L, 10.0, 10.0), (2L, -120.0, 40.0), (3L, 100.0, -30.0))
      .toDF("tid", "tlon", "tlat")
    val points = Seq((100L, 10.4, 10.4), (101L, -119.0, 41.0), (102L, 179.9, 0.0))
      .toDF("pid", "plon", "plat")
    val res = operators.SpatialJoins.knnJoinQuadtree(points, "plon", "plat", "pid",
      targets, "tlon", "tlat", "tid", k = 2, level = 10, maxRing = 1)
    val counts = res.groupBy("pid").count().as[(Long, Long)].collect().toMap
    assert(counts.size == 3 && counts.values.forall(_ == 2L), s"got $counts")
    val top1 = res.filter(col("__rank") === 1)
      .select("pid", "tid").as[(Long, Long)].collect().toMap
    assert(top1(100L) == 1L && top1(101L) == 2L && top1(102L) == 2L, s"got $top1")
  }

  /** Executed plans of the actions `body` runs, waiting until the
    * listener has seen `actions` of them. */
  private def executedPlans(actions: Int)(body: => Unit): Seq[SparkPlan] = {
    val spark = SparkTestSession.spark
    val plans = ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 20L * 1000000000L
      while (plans.synchronized(plans.size) < actions && System.nanoTime() < deadline) Thread.sleep(5)
      Thread.sleep(200) // an unexpected extra action would arrive now
      plans.synchronized(plans.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of `plans` — AQE stages, subqueries and the plans behind
    * cached relations — with each cached plan walked once. */
  private def allNodes(plans: Seq[SparkPlan]): Seq[SparkPlan] = {
    val helper = new AdaptiveSparkPlanHelper {}
    val cached = ArrayBuffer.empty[SparkPlan]
    def walk(ps: Seq[SparkPlan]): Seq[SparkPlan] =
      ps.flatMap(p => helper.collectWithSubqueries(p) { case n => n }).flatMap {
        case m: InMemoryTableScanExec if !cached.exists(_ eq m.relation.cachedPlan) =>
          cached += m.relation.cachedPlan
          m +: walk(Seq(m.relation.cachedPlan))
        case n => Seq(n)
      }
    walk(plans)
  }

  test("knnJoinQuadtree resolving at its first level runs one cogroup over two exchanges") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val targets = (0 until 200).map(i => (i.toLong, 9.0 + (i % 20) * 0.1, 9.5 + (i / 20) * 0.1))
      .toDF("tid", "tlon", "tlat")
    val points = (0 until 50).map(i => (1000L + i, 9.55 + (i % 10) * 0.17, 9.6 + (i / 10) * 0.16))
      .toDF("pid", "plon", "plat")
    var rows = 0L
    val plans = executedPlans(actions = 2) {
      rows = operators.SpatialJoins.knnJoinQuadtree(points, "plon", "plat", "pid",
        targets, "tlon", "tlat", "tid", k = 3, level = 4, maxRing = 1).collect().length
      spark.catalog.clearCache()
    }
    assert(rows == 150L)
    assert(plans.size == 2, s"actions: ${plans.size} (the level's checkpoint + result)")
    val names = allNodes(plans).map(_.getClass.getSimpleName)
    assert(names.count(_ == "ShuffleExchangeExec") == 2, names.mkString(", "))
    assert(names.count(_ == "CoGroupExec") == 1, names.mkString(", "))
    val extra = names.filter(n => n == "HashAggregateExec" || n.endsWith("JoinExec") ||
      n.startsWith("AppendColumns"))
    assert(extra.isEmpty, s"unexpected operators: ${extra.mkString(", ")}")
  }

  test("knnJoinQuadtree answers every input row, also when keys repeat") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val cluster = for (i <- 0 until 10) yield (i.toLong + 1, 10.0 + (i % 5) * 0.001, 10.0 + (i / 5) * 0.001)
    val targets = (cluster :+ ((99L, 100.001, -30.0))).toDF("tid", "tlon", "tlat")
    // one probe resolves at level 10, the other (same key) only after coarsening
    val probes = Seq((7L, 10.002, 10.0005), (7L, 100.0, -30.0))
    val got = operators.SpatialJoins.knnJoinQuadtree(probes.toDF("pid", "plon", "plat"),
        "plon", "plat", "pid", targets, "tlon", "tlat", "tid", k = 5, level = 10, maxRing = 1)
      .select(col("pid"), col("__rank"), col("tid")).as[(Long, Int, Long)].collect().toSeq
    val tgts = targets.as[(Long, Double, Double)].collect()
    val want = probes.flatMap { case (pid, lon, lat) =>
      tgts.map { case (tid, tl, tb) => (tid, Sphere.haversineDistance(lon, lat, tl, tb)) }
        .sortBy { case (tid, d) => (d, tid) }.take(5).zipWithIndex
        .map { case ((tid, _), i) => (pid, i + 1, tid) }
    }
    assert(got.sorted == want.sorted)
    assert(got.filter(_._2 == 1).map(_._3).toSet == Set(99L, want.head._3))
    // the window join ranks per key: both rows' candidates merge into one top-5
    val perKey = operators.SpatialJoins.knnJoinBroadcast(probes.toDF("pid", "plon", "plat"),
      "plon", "plat", "pid", targets, "tlon", "tlat", k = 5)
    assert(perKey.count() == 5L)
    spark.catalog.clearCache()
  }

  test("knnJoinQuadtree is exact across several coarsening rounds, the seam and the poles") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // 300 targets in 6 tight clusters; 2,000 probes over the globe plus
    // probes on the antimeridian and near both poles
    val centers = Seq((-120.0, 40.0), (10.0, 50.0), (150.0, -35.0), (179.5, 5.0), (-60.0, -80.0), (30.0, 85.0))
    val tgts = cloud(300, 7L).map { case (lon, lat, i) =>
      val (cx, cy) = centers((i % centers.size).toInt)
      (i, Sphere.normalizeLongitude(cx + lon / 180.0), Math.max(-89.9, Math.min(89.9, cy + lat / 90.0)))
    }
    val edge = Seq((179.9, 5.0), (-179.9, 5.2), (179.9, -40.0), (-179.9, 60.0),
      (0.0, 89.5), (120.0, 89.5), (-60.0, -89.5), (100.0, -89.5))
    val probes = cloud(2000, 11L).map { case (lon, lat, i) => (i, lon, lat) } ++
      edge.zipWithIndex.map { case ((lon, lat), i) => (2000L + i, lon, lat) }
    val targets = tgts.toSeq.toDF("tid", "tlon", "tlat")
    val points = probes.toSeq.toDF("pid", "plon", "plat")
    val fast = operators.SpatialJoins.knnJoinQuadtree(points, "plon", "plat", "pid",
        targets, "tlon", "tlat", "tid", k = 5, level = 10, maxRing = 1)
      .select(col("pid"), col("__rank").cast("int"), col("tid"), col("__dist"))
      .as[(Long, Int, Long, Double)].collect().sorted.toSeq
    val brute = operators.SpatialJoins.knnJoinBroadcast(points, "plon", "plat", "pid",
        targets, "tlon", "tlat", k = 5)
      .select(col("pid"), col("__rank").cast("int"), col("tid"), col("__dist"))
      .as[(Long, Int, Long, Double)].collect().sorted.toSeq
    spark.catalog.clearCache()
    assert(fast.size == 5 * probes.length)
    assert(fast == brute, s"first difference: ${fast.zip(brute).find(p => p._1 != p._2)}")
    // a ring-1 level-8 neighbourhood proves at most two lat rows of
    // 180/256 degrees: a 5th neighbour farther than that needs level <= 6
    val level8Bound = Sphere.MeanEarthRadius * Math.toRadians(2 * 180.0 / 256)
    assert(fast.count(h => h._2 == 5 && h._4 > level8Bound) > 0)
  }

  test("knnJoinQuadtree equals the broadcast join at coarse levels and wide rings") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val targets = cloud(120, 5L).toSeq.map { case (lon, lat, i) => (i, lon, lat) }
      .toDF("tid", "tlon", "tlat")
    val edge = Seq((180.0, 0.0), (-180.0, 10.0), (0.0, 90.0), (45.0, -90.0), (179.99, 89.9))
    val points = (cloud(400, 17L).map { case (lon, lat, i) => (i, lon, lat) } ++
      edge.zipWithIndex.map { case ((lon, lat), i) => (400L + i, lon, lat) }).toSeq
      .toDF("pid", "plon", "plat")
    val brute = operators.SpatialJoins.knnJoinBroadcast(points, "plon", "plat", "pid",
        targets, "tlon", "tlat", k = 4)
      .select(col("pid"), col("__rank").cast("int"), col("tid"), col("__dist"))
      .as[(Long, Int, Long, Double)].collect().sorted.toSeq
    assert(brute.size == 4 * 405)
    for (level <- 0 to 3; ring <- Seq(2, 3)) {
      val fast = operators.SpatialJoins.knnJoinQuadtree(points, "plon", "plat", "pid",
          targets, "tlon", "tlat", "tid", k = 4, level = level, maxRing = ring)
        .select(col("pid"), col("__rank").cast("int"), col("tid"), col("__dist"))
        .as[(Long, Int, Long, Double)].collect().sorted.toSeq
      assert(fast == brute, s"level $level ring $ring: first difference " +
        s"${fast.zip(brute).find(p => p._1 != p._2)}, sizes ${fast.size}/${brute.size}")
    }
  }

  /** Spark jobs that `body` starts from this thread's job group. */
  private def jobsOf(body: => Unit): Int = {
    val sc = SparkTestSession.spark.sparkContext
    val group = s"knn-jobs-${System.nanoTime()}"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "knn jobs")
    try {
      body
      // a marker job on the same queue: once it is seen, so are the call's
      val marker = new java.util.concurrent.atomic.AtomicBoolean()
      val seen = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group + "-end")
            marker.set(true)
      }
      sc.addSparkListener(seen)
      sc.setJobGroup(group + "-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 20L * 1000000000L
      while (!marker.get() && System.nanoTime() < deadline) Thread.sleep(5)
      sc.removeSparkListener(seen)
      started.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("knnJoinQuadtree runs 4 jobs when its first level resolves, and 2 on empty inputs") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val targets = (0 until 200).map(i => (i.toLong, 9.0 + (i % 20) * 0.1, 9.5 + (i / 20) * 0.1))
      .toDF("tid", "tlon", "tlat")
    val points = (0 until 50).map(i => (1000L + i, 9.55 + (i % 10) * 0.17, 9.6 + (i / 10) * 0.16))
      .toDF("pid", "plon", "plat")
    def knn(p: org.apache.spark.sql.DataFrame, t: org.apache.spark.sql.DataFrame) =
      operators.SpatialJoins.knnJoinQuadtree(p, "plon", "plat", "pid",
        t, "tlon", "tlat", "tid", k = 3, level = 4, maxRing = 1)
        .write.format("noop").mode("overwrite").save()
    // two shuffle-map jobs and the checkpoint's job, then the result's;
    // an exchange of no partitions runs no job. No job asks whether a
    // level left markers: the checkpoint's job counts them
    val one = jobsOf(knn(points, targets))
    val empty = jobsOf(knn(points.limit(0), targets.limit(0)))
    assert((one, empty) == ((4, 2)), s"jobs per call: $one resolved at its first level, $empty empty")
  }
}
