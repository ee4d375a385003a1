package layerbench

import java.io.File
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Geometry => JtsGeometry}
import graft.core.FlatGeom
import graft.operators.SpatialJoins
import graft.pipeline.{Checkpoint, GeoPipeline}
import graft.sql.functions.{st_cellid, st_covering}

/** A metric value with its unit. */
final case class M(name: String, value: Double, unit: String)

/**
 * One part of the benchmark: set-up of its inputs, one timed unit of
 * work, and the metrics its units leave behind. Every run executes all
 * phases; the workload decides which phases get the larger share of the
 * measured time.
 */
abstract class Phase(val ctx: Ctx) {
  def name: String
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  protected def add(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty[Double]) += v
  def med(k: String): Double = samples.get(k).filter(_.nonEmpty).map(b => Ctx.median(b.toSeq)).getOrElse(0.0)
  /** Work, wall seconds and CPU seconds of each unit of each kind of
    * timed action. A rate is the median over the run's units, so that a
    * unit slowed by the host or still by the JIT does not move it. */
  private val units = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double, Double)]]
  protected def addWork(k: String, work: Double, seconds: Double, cpuSeconds: Double): Unit =
    units.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ((work, seconds, cpuSeconds))
  protected def addWork(k: String, work: Double, d: Done[_]): Unit =
    addWork(k, work, d.seconds, d.cpuSeconds)
  private def medianOver(k: String)(f: ((Double, Double, Double)) => Double): Double =
    units.get(k).map(_.toSeq.collect { case u if u._2 > 0 && u._3 > 0 && u._1 > 0 => f(u) })
      .filter(_.nonEmpty).map(Ctx.median).getOrElse(0.0)
  /** Work per wall second. */
  def perWallSecond(k: String): Double = medianOver(k)(u => u._1 / u._2)
  /** Work per CPU second of the JVM. */
  def perCpuSecond(k: String): Double = medianOver(k)(u => u._1 / u._3)
  def wallPerWork(k: String): Double = medianOver(k)(u => u._2 / u._1)
  def cpuPerWork(k: String): Double = medianOver(k)(u => u._3 / u._1)

  def setup(): Unit
  /** Units of the warm-up pass. */
  def warmUpUnits: Int = 1
  /** One timed unit. With `verify`, also compare its outputs. */
  def unit(verify: Boolean): Unit
  /** Seeded-sample checks against an independent oracle; they are
    * independent of each other and may run concurrently. */
  def checks: Seq[() => Unit] = Nil
  def endToEnd: Seq[M]
  /** The end-to-end rates over wall time, which the host's load moves. */
  def wallClock: Seq[M]
  /** The metric the workload of this phase is about. */
  def primaryRate: Double
  def perLayer(listener: StageListener): Seq[M]

  /** Wall and CPU seconds of one unit of a timed action. */
  protected def addUnit(action: String, wall: Double, cpu: Double): Unit = {
    add(s"wall.$action", wall)
    add(s"cpu.$action", cpu)
  }

  /**
   * The fixed cost of each timed action: the wall and CPU time of the
   * same query on empty inputs (the lower of two runs, as the first may
   * compile the new plan), over the median of its units on the real
   * inputs. What is left is the engine's work.
   */
  def floorFracs: Seq[M] = floors.flatMap { case (action, onEmpty) =>
    val runs = Seq.fill(2)(onEmpty())
    Seq(M(s"trace.floor_frac.$action", runs.map(_._1).min / med(s"wall.$action"), "ratio"),
      M(s"trace.floor_cpu_frac.$action", runs.map(_._2).min / med(s"cpu.$action"), "ratio"))
  }
  /** Each timed action by name, run on empty inputs: its wall and CPU seconds. */
  protected def floors: Seq[(String, () => (Double, Double))]

  def clear(): Unit = {
    samples.clear()
    units.clear()
  }

  protected def jts = Phase.jts
  protected def toJts(g: FlatGeom): JtsGeometry = Phase.toJts(g)
  protected def close(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(1e-12, math.max(math.abs(a), math.abs(b)))
}

object Phase {
  val jts = new GeometryFactory()
  /** Build the JTS geometry straight from the coordinates of a generated
    * polygon, not through the engine's codecs. */
  def toJts(g: FlatGeom): JtsGeometry =
    jts.createPolygon(Array.tabulate(g.numPoints)(i => new Coordinate(g.x(i), g.y(i))))

  def medianOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Ctx.median(xs)

  /** Wall and CPU seconds of `body`, as [[Ctx.act]] measures them. */
  def measure(body: => Any): (Double, Double) = {
    val c0 = Ctx.threadCpu()
    val t0 = System.nanoTime()
    body
    ((System.nanoTime() - t0) / 1e9, Ctx.cpuSince(c0) / 1e9)
  }
}

// ------------------------------------------------------------- pipeline

/** GeoPipeline.run over a seeded corpus, then a resume after a simulated
  * crash that lost the manifests written after s2. */
final class PipelinePhase(ctx: Ctx, pages: Long) extends Phase(ctx) {
  def name = "pipeline"
  import ctx.spark
  private val Written = Seq("s2_entities", "s3_pip_join", "s4_tiles", "s5_raster")
  private val Lost = Seq("s3_pip_join", "s4_tiles", "s5_raster")
  private val AllStages = "s1_pages" +: Written
  private val Expected = Seq("StContainsXY", "StCellId", "DataWritingCommandExec")
  private val corpus = new File(ctx.workDir, "corpus")
  private var serial = 0

  private def stageData(root: File, stage: String) = new File(root, s"$stage/data")
  private def bytes(dir: File): Long =
    if (!dir.exists()) 0L
    else FileUtils.listFiles(dir, null, true).asScala.filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
  private def wallMs(cp: Checkpoint, stage: String): Double =
    """"wall_ms":(\d+)""".r.findFirstMatchIn(cp.readManifest(stage)).map(_.group(1).toDouble)
      .getOrElse(0.0)
  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def setup(): Unit = {
    ctx.act("pipeline", "Checkpoint.stage", Seq("DataWritingCommandExec")) {
      new Checkpoint(spark, corpus.getPath).stage("s1_pages")(Inputs.pages(spark, ctx.seed, pages))
    }
  }

  /** Order-independent content hash and row count of each rebuilt stage,
    * plus the raster's total count, in one job. */
  private def digest(cp: Checkpoint): Seq[Any] = {
    val parts = Lost.map { st =>
      val df = cp.read(st)
      df.agg(count(lit(1)).as(s"${st}_rows"),
        sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")).as(s"${st}_hash"))
    } :+ cp.read("s5_raster").agg(sum("n").as("raster_n"))
    parts.reduce(_ crossJoin _).head().toSeq
  }

  /** A fresh checkpoint root whose s1_pages is the given corpus, removed
    * after `body`. */
  private def pass[T](from: File)(body: (File, Checkpoint) => T): T = {
    serial += 1
    val root = new File(ctx.workDir, s"pass-$serial")
    root.mkdirs()
    val link = new File(root, "s1_pages").toPath
    Files.createSymbolicLink(link, new File(from, "s1_pages").getAbsoluteFile.toPath)
    try body(root, new Checkpoint(spark, root.getPath))
    finally {
      Files.deleteIfExists(link)
      FileUtils.deleteDirectory(root)
    }
  }

  def unit(verify: Boolean): Unit = pass(corpus) { (root, cp) =>
    val gc0 = gcMs
    val first = ctx.act("pipeline", "GeoPipeline.run", Expected, actions = 4) {
      GeoPipeline.run(spark, pages, root.getPath)
    }
    val gc1 = gcMs
    first.foreach { d =>
      val r = d.value
      addWork("pages", r.pages, d)
      addUnit("pipeline", d.seconds, d.cpuSeconds)
      ctx.expect(r.pages == pages && r.points == 2 * pages && r.tiles == r.points &&
        r.joinRows > 0 && r.cells > 0, s"pipeline stage rows $r for $pages pages")
      val perStage = AllStages.map(s => s -> bytes(stageData(if (s == "s1_pages") corpus else root, s)))
      add("ckpt_bytes_per_page", perStage.map(_._2).sum.toDouble / pages)
      if (Trace.enabled) {
        perStage.foreach { case (s, b) => add(s"ckpt_bytes.$s", b.toDouble) }
        Written.foreach(s => add(s"stage_ms.$s", wallMs(cp, s)))
        add("wall_s", d.seconds)
        add("gc_s", (gc1 - gc0) / 1000.0)
      }
    }
    val before = if (verify) digest(cp) else Nil
    // a crash after s2 committed: the later stages' manifests never landed
    Lost.foreach(s => Files.deleteIfExists(new File(root, s"$s/manifest.json").toPath))
    val resumed = ctx.act("pipeline", "GeoPipeline.resume", Expected, actions = 3) {
      GeoPipeline.run(spark, pages, root.getPath)
    }
    resumed.foreach { d =>
      addWork("resume", 1, d)
      for (f <- first) ctx.expect(d.value.copy(wallMs = 0) == f.value.copy(wallMs = 0),
        s"resumed rows ${d.value} != first pass ${f.value}")
      if (Trace.enabled) {
        Lost.foreach(s => add(s"resume_ms.$s", wallMs(cp, s)))
        // the stages a resume serves from their checkpoint: open cost
        Seq("s1_pages", "s2_entities").foreach { s =>
          val t0 = System.nanoTime()
          Trace.span("pipeline", "Checkpoint.stage") {
            cp.stage(s)(throw new IllegalStateException(s"$s was not resumed"))
          }
          add(s"resume_ms.$s", (System.nanoTime() - t0) / 1e6)
        }
      }
    }
    if (verify) {
      val after = digest(cp)
      ctx.expect(after == before, s"rebuilt stages differ on resume: $before -> $after")
      // rows of s4_tiles == total count in s5_raster
      ctx.expect(after(2) == after(6), s"raster counts ${after(6)} != tiles ${after(2)}")
    }
  }

  /** A corpus of no pages, for the pipeline's fixed cost. */
  private lazy val emptyCorpus = {
    val dir = new File(ctx.workDir, "corpus-empty")
    new Checkpoint(spark, dir.getPath).stage("s1_pages")(Inputs.pages(spark, ctx.seed, 0))
    dir
  }

  protected def floors = Seq("pipeline" -> (() =>
    pass(emptyCorpus)((root, _) => Phase.measure(GeoPipeline.run(spark, 0, root.getPath)))))

  def endToEnd: Seq[M] = Seq(
    M("pages_per_cpu_s", perCpuSecond("pages"), "1/cpu_s"),
    M("resume_cpu_s", cpuPerWork("resume"), "cpu_s"),
    M("ckpt_bytes_per_page", med("ckpt_bytes_per_page"), "bytes"))

  def wallClock: Seq[M] = Seq(
    M("wall.pages_per_s", perWallSecond("pages"), "1/s"),
    M("wall.resume_s", wallPerWork("resume"), "s"))

  def primaryRate: Double = perCpuSecond("pages")

  def perLayer(listener: StageListener): Seq[M] = {
    val st = listener.within(Trace.windows("GeoPipeline.run"))
    val wall = samples.get("wall_s").map(_.sum).getOrElse(0.0)
    val passes = math.max(1, samples.get("wall_s").map(_.size).getOrElse(1))
    val cores = spark.sparkContext.defaultParallelism
    Written.map(s => M(s"pipeline.stage_ms.$s", med(s"stage_ms.$s"), "ms")) ++
      AllStages.map(s => M(s"pipeline.ckpt_bytes.$s", med(s"ckpt_bytes.$s"), "bytes")) ++
      AllStages.map(s => M(s"pipeline.resume_ms.$s", med(s"resume_ms.$s"), "ms")) ++ Seq(
        M("pipeline.cpu_util", if (wall > 0) st.map(_.cpuNs).sum / 1e9 / (wall * cores) else 0.0, "ratio"),
        M("pipeline.gc_s", med("gc_s"), "s"),
        M("pipeline.shuffle_write_bytes", st.map(_.shuffleWriteBytes).sum.toDouble / passes, "bytes"),
        M("pipeline.spill_bytes", st.map(_.spillBytes).sum.toDouble, "bytes"),
        M("pipeline.task_skew", Phase.medianOf(st.filter(_.taskMs.size >= 4).map(_.skew)), "ratio"))
  }
}

// ----------------------------------------------------------------- join

/** Sizes of the join phase's inputs. */
final case class JoinSizes(stars: Int, pipPoints: Int, geomPerSide: Int, knnPoints: Int,
    knnTargets: Int)

/** The three cell joins on pinned in-memory inputs: broadcast PIP,
  * partitioned polygon-polygon and quadtree kNN. */
final class JoinPhase(ctx: Ctx, sz: JoinSizes, pipVertices: Seq[Int]) extends Phase(ctx) {
  def name = "join"
  import ctx.spark
  val PipLevel = 8
  val GeomLevel = 10
  val KnnLevel = 8
  val K = 5

  private var stars: IndexedSeq[FlatGeom] = _
  private var pts: Array[(Long, Double, Double)] = _
  private var sideA: IndexedSeq[FlatGeom] = _
  private var sideB: IndexedSeq[FlatGeom] = _
  private var polys, probes, a, b, knnPts, targets: DataFrame = _

  def setup(): Unit = {
    stars = Inputs.pipStars(ctx.seed, sz.stars, pipVertices)
    pts = Inputs.points(ctx.seed, 2, sz.pipPoints)
    sideA = Inputs.smallStars(ctx.seed, 3, sz.geomPerSide)
    sideB = Inputs.smallStars(ctx.seed, 4, sz.geomPerSide)
    polys = Inputs.pin(Inputs.polygonFrame(spark, "poly_id", stars))
    probes = Inputs.pin(Inputs.pointFrame(spark, "pid", "lon", "lat", pts))
    a = Inputs.pin(Inputs.polygonFrame(spark, "a_id", sideA))
    b = Inputs.pin(Inputs.polygonFrame(spark, "b_id", sideB, "geom_b"))
    knnPts = Inputs.pin(Inputs.pointFrame(spark, "kp", "lon", "lat",
      Inputs.points(ctx.seed, 5, sz.knnPoints)))
    targets = Inputs.pin(Inputs.pointFrame(spark, "kt", "tlon", "tlat",
      Inputs.points(ctx.seed, 6, sz.knnTargets)))
  }

  private def pip(points: DataFrame, polygons: DataFrame = polys) =
    SpatialJoins.broadcastPipJoin(points, "lon", "lat", polygons, "geom", PipLevel)

  private def geom(left: DataFrame, right: DataFrame = b): DataFrame =
    SpatialJoins.partitionedSpatialJoin(left, "geom", right, "geom_b", GeomLevel)

  /** The polygon join is measured as a partitioned join: shuffled on
    * cell, never turned into a broadcast by size estimates. The setting
    * holds while the query is planned, executed and re-planned by AQE,
    * so `body` must run the query, not only build it. */
  private def partitioned[T](body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private def knn(points: DataFrame, tgts: DataFrame = targets) =
    SpatialJoins.knnJoinQuadtree(points, "lon", "lat", "kp", tgts, "tlon", "tlat", "kt",
      K, KnnLevel, 1)

  /**
   * Candidate pairs: rows of the cell equi-join each operator refines.
   * The refine predicate runs as the join's condition, so the join's
   * own row metric counts refined rows; the candidates are counted by a
   * separate query over the same covering and cell ids.
   */
  private lazy val pipCandidates: Long = Trace.span("bench", "pip.candidates") {
    probes.withColumn("__cell", st_cellid(lit(PipLevel), col("lon"), col("lat")))
      .join(polys.withColumn("__cell", explode(st_covering(lit(PipLevel), col("geom")))), "__cell")
      .count()
  }
  private lazy val geomCandidates: Long = Trace.span("bench", "geom.candidates") {
    a.withColumn("__cell", explode(st_covering(lit(GeomLevel), col("geom"))))
      .join(b.withColumn("__cell", explode(st_covering(lit(GeomLevel), col("geom_b")))), "__cell")
      .count()
  }

  def unit(verify: Boolean): Unit = {
    ctx.act("operators", "broadcastPipJoin",
        Seq("StContainsXY", "StCovering", "StCellId", "BroadcastHashJoinExec", "noop")) {
      Ctx.sink(pip(probes))
    }.foreach { d =>
      addWork("pip", sz.pipPoints, d)
      addUnit("pip", d.seconds, d.cpuSeconds)
      if (Trace.enabled) {
        val cand = pipCandidates
        val out = Plans.joinRows(d.plans)
        add("pip.candidates", cand.toDouble)
        add("pip.out", out.toDouble)
        add("pip.hit_ratio", if (cand > 0) out.toDouble / cand else 0.0)
        add("pip.broadcast_bytes", Plans.sumMetric(d.plans, "BroadcastExchangeExec", "dataSize").toDouble)
      }
    }
    ctx.act("operators", "partitionedSpatialJoin",
        Seq("StIntersects", "StCovering", "SortMergeJoinExec", "noop")) {
      partitioned(Ctx.sink(geom(a)))
    }.foreach { d =>
      addWork("geom", 2.0 * sz.geomPerSide, d)
      addUnit("geom", d.seconds, d.cpuSeconds)
      if (Trace.enabled) {
        add("geom.candidates", geomCandidates.toDouble)
        add("geom.out", Plans.joinRows(d.plans).toDouble)
      }
    }
    ctx.act("operators", "knnJoinQuadtree", Seq("CoGroupExec", "noop"), actions = 2) {
      try Ctx.sink(knn(knnPts))
      finally spark.catalog.clearCache() // the operator persists per-level results
    }.foreach { d =>
      addWork("knn", sz.knnPoints, d)
      addUnit("knn", d.seconds, d.cpuSeconds)
    }
  }

  /** Both sides of each join empty: what is left is Spark's cost. */
  protected def floors = {
    def noPoints(id: String, lon: String, lat: String) =
      Inputs.pointFrame(spark, id, lon, lat, Array.empty[(Long, Double, Double)])
    def noPolygons(id: String, geomCol: String) = Inputs.polygonFrame(spark, id, Nil, geomCol)
    Seq(
      "pip" -> (() => Phase.measure(
        Ctx.sink(pip(noPoints("pid", "lon", "lat"), noPolygons("poly_id", "geom"))))),
      "geom" -> (() => Phase.measure(partitioned(
        Ctx.sink(geom(noPolygons("a_id", "geom"), noPolygons("b_id", "geom_b")))))),
      "knn" -> (() => Phase.measure(
        try Ctx.sink(knn(noPoints("kp", "lon", "lat"), noPoints("kt", "tlon", "tlat")))
        finally spark.catalog.clearCache())))
  }

  override def checks: Seq[() => Unit] = Seq(() => checkPip(), () => checkGeom(), () => checkKnn())

  /** A seeded sample of probe points against JTS. */
  private def checkPip(): Unit = {
    val r = Inputs.rng(ctx.seed, 11)
    val sample = Array.fill(500)(pts(r.nextInt(pts.length))).distinct
    val got = pip(Inputs.pointFrame(spark, "pid", "lon", "lat", sample))
      .select("pid", "poly_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val jStars = stars.map(toJts)
    val want = sample.flatMap { case (id, x, y) =>
      val p = jts.createPoint(new Coordinate(x, y))
      jStars.indices.filter(i => jStars(i).contains(p)).map(i => (id, i.toLong))
    }.toSet
    ctx.expect(got == want, s"pip sample: ${(got diff want).size} extra, ${(want diff got).size} missing")
  }

  /** A seeded sample of the left side against JTS. */
  private def checkGeom(): Unit = {
    val r = Inputs.rng(ctx.seed, 13)
    val idx = (0 until 100).map(_ => r.nextInt(sideA.size)).distinct
    val left = Inputs.polygonFrame(spark, "a_id", idx.map(sideA))
    val gotG = partitioned(geom(left).select("a_id", "b_id").collect())
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val jB = sideB.map(toJts)
    val wantG = idx.indices.flatMap { i =>
      val ja = toJts(sideA(idx(i)))
      jB.indices.filter(j => ja.intersects(jB(j))).map(j => (i.toLong, j.toLong))
    }.toSet
    ctx.expect(gotG == wantG, s"geom sample: ${(gotG diff wantG).size} extra, ${(wantG diff gotG).size} missing")
  }

  /** A seeded sample against the brute-force broadcast kNN join. */
  private def checkKnn(): Unit = {
    val r = Inputs.rng(ctx.seed, 14)
    val kp = Inputs.points(ctx.seed, 5, sz.knnPoints)
    val ks = Inputs.pointFrame(spark, "kp", "lon", "lat",
      Array.fill(16)(kp(r.nextInt(kp.length))).distinct)
    def ranked(df: DataFrame) = df.select(col("kp"), col("__rank"), col("kt")).collect()
      .map(x => ((x.getLong(0), x.get(1).toString.toInt), x.getLong(2))).toMap
    val q = try ranked(knn(ks)) finally spark.catalog.clearCache()
    val bf = ranked(SpatialJoins.knnJoinBroadcast(ks, "lon", "lat", "kp", targets, "tlon", "tlat", K))
    ctx.expect(q == bf, s"knn sample: ${(q.toSet diff bf.toSet).size} of ${bf.size} ranks differ")
  }

  def endToEnd: Seq[M] = Seq(
    M("pip_points_per_cpu_s", perCpuSecond("pip"), "1/cpu_s"),
    M("geomjoin_geoms_per_cpu_s", perCpuSecond("geom"), "1/cpu_s"),
    M("knn_points_per_cpu_s", perCpuSecond("knn"), "1/cpu_s"))

  def wallClock: Seq[M] = Seq(
    M("wall.pip_points_per_s", perWallSecond("pip"), "1/s"),
    M("wall.geomjoin_geoms_per_s", perWallSecond("geom"), "1/s"),
    M("wall.knn_points_per_s", perWallSecond("knn"), "1/s"))

  def primaryRate: Double = perCpuSecond("pip")

  def perLayer(listener: StageListener): Seq[M] = {
    def per(name: String): (Seq[StageStats], Int) = {
      val w = Trace.windows(name)
      (listener.within(w), math.max(1, w.size))
    }
    val (pipSt, pipN) = per("broadcastPipJoin")
    val (geoSt, geoN) = per("partitionedSpatialJoin")
    val (knnSt, knnN) = per("knnJoinQuadtree")
    Seq("candidates", "out").map(k => M(s"operators.pip.$k", med(s"pip.$k"), "count")) ++ Seq(
      M("operators.pip.hit_ratio", med("pip.hit_ratio"), "ratio"),
      M("operators.pip.broadcast_bytes", med("pip.broadcast_bytes"), "bytes"),
      M("operators.pip.cpu_s", pipSt.map(_.cpuNs).sum / 1e9 / pipN, "s"),
      M("operators.geom.candidates", med("geom.candidates"), "count"),
      M("operators.geom.out", med("geom.out"), "count"),
      M("operators.geom.shuffle_bytes", geoSt.map(_.shuffleWriteBytes).sum.toDouble / geoN, "bytes"),
      M("operators.geom.task_skew", Phase.medianOf(geoSt.filter(_.taskMs.size >= 4).map(_.skew)), "ratio"),
      M("operators.knn.candidates", knnSt.map(_.shuffleWriteRecords).sum.toDouble / knnN, "count"),
      M("operators.knn.shuffle_bytes", knnSt.map(_.shuffleWriteBytes).sum.toDouble / knnN, "bytes"))
  }
}

// ------------------------------------------------------------------ sql

/** One st_* statement of the sql phase: its select list, the expression
  * classes its plan must keep, and which rows it reads (one in `every`;
  * odd, so that every vertex count of the table's ladder is read). */
final case class Statement(name: String, select: String, exprs: Seq[String], every: Int = 1) {
  def text(table: String): String =
    s"SELECT $select FROM $table" + (if (every > 1) s" WHERE id % $every = 0" else "")
  def rows(tableRows: Int): Int = (tableRows + every - 1) / every
}

/** A fixed list of st_* statements over a pinned WKB table. */
final class SqlPhase(ctx: Ctx, rows: Int, maxVertices: Int) extends Phase(ctx) {
  def name = "sql"
  import ctx.spark
  private var table: DataFrame = _
  private val g = "st_geomfromwkb(wkb)"

  /** Statements whose kernels cost more per row read fewer rows, so that
    * no statement is mostly Spark's per-query cost and none dominates.
    * The polygon buffer kernel costs milliseconds per geometry. */
  val statements: Seq[Statement] = Seq(
    Statement("codec", s"st_aswkb($g)", Seq("StAsWkb", "StGeomFromWkb")),
    Statement("area_length", s"st_area($g), st_perimeter($g)", Seq("StArea", "StPerimeter")),
    Statement("geodesic", "st_distance_geodesic(st_point(lon1, lat1), st_point(lon2, lat2))",
      Seq("StDistanceGeodesic", "StPoint")),
    Statement("haversine", "st_distance_sphere(st_point(lon1, lat1), st_point(lon2, lat2))",
      Seq("StDistanceSphere", "StPoint")),
    Statement("buffer", "st_buffer(st_geomfromwkb(wkb2), 0.01)", Seq("StBuffer"), every = 127),
    Statement("simplify", s"st_simplify($g, 0.01)", Seq("StSimplify"), every = 3),
    Statement("hull", s"st_convexhull($g)", Seq("StConvexHull")),
    Statement("transform", s"st_transform($g, 4326, 3857)", Seq("StTransform")),
    Statement("cellid", "st_cellid(12, lon1, lat1), st_cellid(12, lon2, lat2)", Seq("StCellId")),
    Statement("covering", s"st_covering(10, $g)", Seq("StCovering")),
    Statement("relate", s"st_relate($g, st_geomfromwkb(wkb2))", Seq("StRelate"), every = 5))

  /** A statement's generated code sees a few thousand rows per unit,
    * so the JIT takes several units to compile it: without more warm-up
    * units, the rate still rose by a third from the first measured unit
    * to the third. The other phases' warm-up takes longer, so these run
    * beside it. */
  override def warmUpUnits: Int = 3

  def setup(): Unit = {
    table = Inputs.pin(Inputs.sqlTable(spark, ctx.seed, rows, maxVertices))
    table.createOrReplaceTempView("geoms")
    Inputs.sqlTable(spark, ctx.seed, 0, maxVertices).createOrReplaceTempView("geoms_empty")
  }

  def unit(verify: Boolean): Unit = {
    var rowsRead, secs, cpu = 0.0
    statements.foreach { st =>
      val text = st.text("geoms")
      if (Trace.enabled) {
        val t0 = System.nanoTime()
        Trace.span("sql", s"plan.${st.name}")(spark.sql(text).queryExecution.executedPlan)
        add(s"plan_ms.${st.name}", (System.nanoTime() - t0) / 1e6)
      }
      ctx.act("sql", s"statement.${st.name}", st.exprs :+ "noop")(Ctx.sink(spark.sql(text))).foreach { d =>
        rowsRead += st.rows(rows)
        secs += d.seconds
        cpu += d.cpuSeconds
        addWork(st.name, st.rows(rows), d)
      }
    }
    addWork("rows", rowsRead, secs, cpu)
    addUnit("sql", secs, cpu)
  }

  protected def floors = Seq("sql" -> (() =>
    statements.map(st => Phase.measure(Ctx.sink(spark.sql(st.text("geoms_empty")))))
      .reduce((x, y) => (x._1 + y._1, x._2 + y._2))))

  override def checks: Seq[() => Unit] = Seq(() => check())

  private def check(): Unit = {
    val r = Inputs.rng(ctx.seed, 12)
    val ids = Array.fill(64)(r.nextInt(rows).toLong).distinct
    val got = spark.sql(s"""SELECT wkb, wkb2, lon1, lat1, st_aswkb($g), st_area($g), st_perimeter($g),
        |st_area(st_convexhull($g)), st_relate($g, st_geomfromwkb(wkb2)), st_area(st_buffer(st_geomfromwkb(wkb2), 0.01)),
        |st_astext(st_transform($g, 4326, 3857)), st_cellid(12, lon1, lat1)
        |FROM geoms WHERE id IN (${ids.mkString(",")})""".stripMargin).collect()
    ctx.expect(got.length == ids.length, s"sql sample: ${got.length} of ${ids.length} rows")
    val reader = new org.locationtech.jts.io.WKBReader(jts)
    val wktReader = new org.locationtech.jts.io.WKTReader(jts)
    got.foreach { row =>
      val wkb = row.getAs[Array[Byte]](0)
      val ja = reader.read(wkb)
      val jb = reader.read(row.getAs[Array[Byte]](1))
      val id = ja.getCoordinate
      ctx.expect(reader.read(row.getAs[Array[Byte]](4)).equalsExact(ja), s"codec round trip at $id")
      ctx.expect(close(row.getDouble(5), ja.getArea, 1e-9), s"area ${row.getDouble(5)} vs ${ja.getArea} at $id")
      ctx.expect(close(row.getDouble(6), ja.getLength, 1e-9), s"perimeter at $id")
      ctx.expect(close(row.getDouble(7), ja.convexHull().getArea, 1e-9), s"hull area at $id")
      ctx.expect(row.getString(8) == ja.relate(jb).toString, s"relate ${row.getString(8)} vs ${ja.relate(jb)} at $id")
      ctx.expect(close(row.getDouble(9), jb.buffer(0.01).getArea, 1e-3), s"buffer area at $id")
      // spherical web mercator, closed form
      val merc = wktReader.read(row.getString(10)).getCoordinates
      val src = ja.getCoordinates
      val R = 6378137.0
      ctx.expect(merc.length == src.length && merc.indices.forall { i =>
        close(merc(i).x, R * math.toRadians(src(i).x), 1e-9) &&
          close(merc(i).y, R * math.log(math.tan(math.Pi / 4 + math.toRadians(src(i).y) / 2)), 1e-9)
      }, s"transform at $id")
      ctx.expect(row.getLong(11) == graft.index.CellId.cellId(12, row.getDouble(2), row.getDouble(3)),
        s"cellid at $id")
    }
  }

  def endToEnd: Seq[M] = Seq(M("expr_rows_per_cpu_s", perCpuSecond("rows"), "1/cpu_s"))

  def wallClock: Seq[M] = Seq(M("wall.expr_rows_per_s", perWallSecond("rows"), "1/s"))

  def primaryRate: Double = perCpuSecond("rows")

  def perLayer(listener: StageListener): Seq[M] =
    statements.flatMap { st =>
      Seq(M(s"sql.rows_per_s.${st.name}", perWallSecond(st.name), "1/s"),
        M(s"sql.plan_ms.${st.name}", med(s"plan_ms.${st.name}"), "ms"))
    }
}
