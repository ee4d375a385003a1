package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sql.{functions => gf}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.sql.functions.register(s)
    s
  }
}

/** End-to-end tests of the SQL surface, spatial joins, training-data
  * ops and the checkpointed pipeline on a real local session. */
class SparkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("st_* expressions evaluate through SQL and Column API") {
    gf.register(spark)
    val row = spark.sql(
      """SELECT st_area(st_geomfromtext('POLYGON((0 0,5 0,5 6,0 6,0 0))')) AS a,
        |       st_astext(st_centroid(st_geomfromtext('POLYGON((0 0,4 0,4 4,0 4,0 0))'))) AS c,
        |       st_contains(st_geomfromtext('POLYGON((0 0,4 0,4 4,0 4,0 0))'), st_point(2.0d, 2.0d)) AS inside,
        |       st_cellid(12, -91.147385d, 30.471165d) AS cell,
        |       st_astext(st_simplify(st_geomfromtext('LINESTRING(0 0,5 4,11 5.5,17.3 3.2,27.8 0.1)'), 1.0d)) AS simp
        |""".stripMargin).head()
    assert(row.getDouble(0) == 30.0)
    assert(row.getString(1) == "POINT(2 2)")
    assert(row.getBoolean(2))
    assert(row.getLong(3) == graft.index.CellId.cellId(12, -91.147385, 30.471165))
    assert(row.getString(4) == "LINESTRING(0 0,5 4,11 5.5,27.8 0.1)")
  }

  test("null propagation: malformed wkt yields null, not failure") {
    val out = Seq("POINT(1 2)", "garbage", "LINESTRING(0 0,1 1)").toDF("w")
      .select(gf.st_astext(gf.st_geomfromtext(col("w"))).as("t"))
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("POINT(1 2)"), None, Some("LINESTRING(0 0,1 1)")))
  }

  test("broadcast PIP join matches brute-force reference") {
    val pts = Queries.customerPoints(spark, sf)
    val polys = Queries.starPolys(spark, sf)
    val fast = operators.SpatialJoins.broadcastPipJoin(pts, "px", "py", polys, "geom", 6)
      .select("c_custkey", "pid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val brute = pts.crossJoin(polys)
      .filter(gf.st_contains_xy(col("geom"), col("px"), col("py")))
      .select("c_custkey", "pid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(fast == brute)
    assert(brute.nonEmpty)
  }

  test("compacted ancestor PIP join equals the plain broadcast join and shrinks the build side") {
    val pts = Queries.customerPoints(spark, sf)
    val polys = Queries.starPolys(spark, sf)
    val compactJoin = operators.SpatialJoins
      .broadcastPipJoinCompact(pts, "px", "py", polys, "geom", 8)
      .select("c_custkey", "pid").collect().map(r => (r.getLong(0), r.getInt(1)))
    // exactly-once: compacted cells are disjoint, a point matches at most one
    assert(compactJoin.length == compactJoin.toSet.size)
    val plain = operators.SpatialJoins.broadcastPipJoin(pts, "px", "py", polys, "geom", 8)
      .select("c_custkey", "pid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(compactJoin.toSet == plain && plain.nonEmpty)
    // the compaction genuinely shrinks a fine-level covering
    val sizes = polys.select(
      size(gf.st_covering(lit(8), col("geom"))).as("raw"),
      size(gf.st_cell_compact(gf.st_covering(lit(8), col("geom")))).as("cmp"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(sizes.forall { case (raw, cmp) => cmp <= raw })
    assert(sizes.exists { case (raw, cmp) => cmp < raw }, sizes.take(5).toSeq.toString)
  }

  test("cell-bucketed tables join with no exchange on either side") {
    val pts = Queries.customerPoints(spark, sf).select("c_custkey", "px", "py")
    operators.SpatialJoins.writeBucketedByCell(pts, "px", "py", 6, 4, "bkt_a")
    operators.SpatialJoins.writeBucketedByCell(
      pts.withColumnRenamed("c_custkey", "other_key"), "px", "py", 6, 4, "bkt_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), Seq("__cell"))
      val phys = joined.queryExecution.executedPlan.toString
      assert(!phys.contains("Exchange"), s"bucketed join still shuffles:\n$phys")
      // result equality vs the plain cell join
      val got = joined.select("c_custkey", "other_key").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val cell = graft.sql.functions.st_cellid(lit(6), col("px"), col("py"))
      val a = pts.withColumn("__cell", cell)
      val b = pts.withColumnRenamed("c_custkey", "other_key").withColumn("__cell", cell)
      val want = a.join(b, Seq("__cell")).select("c_custkey", "other_key").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want && got.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("adaptive cell partitioning balances a skewed cloud and assigns exactly once") {
    import spark.implicits._
    // 2000-point hot cluster in a ~0.7deg box + 500 sparse global points
    val pts = ((0 until 2000).map { i =>
      (i.toLong, 10.0 + (i % 40) * 0.017, 45.0 + (i / 40) * 0.013)
    } ++ (0 until 500).map { i =>
      (2000L + i, -180.0 + (i * 719 % 3600) / 10.0, -85.0 + (i * 523 % 1700) / 10.0)
    }).toDF("id", "lon", "lat")
    val target = 50L
    val maxLevel = 10
    val cells = operators.SpatialJoins.adaptiveCells(pts, "lon", "lat", maxLevel, target)
    val cellRows = cells.collect().map(r => (r.getLong(0), r.getLong(1)))
    // balance: every cell holds <= target unless unsplittable
    assert(cellRows.forall { case (c, n) =>
      n <= target || graft.index.CellId.level(c) == maxLevel })
    // counts partition the input exactly
    assert(cellRows.map(_._2).sum == 2500L)
    // disjoint: no cell is an ancestor of another
    val cellSet = cellRows.map(_._1).toSet
    for (c <- cellSet; l <- 0 until graft.index.CellId.level(c))
      assert(!cellSet.contains(graft.index.CellId.parent(c, l)),
        s"cell $c has ancestor at level $l in the set")
    // the hot cluster forces deeper cells than the sparse region
    val levels = cellRows.map { case (c, _) => graft.index.CellId.level(c) }
    assert(levels.max > levels.min)
    // assignment: every point exactly once, into a cell of the set
    val assigned = operators.SpatialJoins
      .assignAdaptiveCells(pts, "lon", "lat", cells, maxLevel)
    val ids = assigned.select("id").as[Long].collect()
    assert(ids.length == 2500 && ids.toSet.size == 2500)
    val perCell = assigned.groupBy("__cell").count().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(perCell.toMap == cellRows.toMap) // assignment reproduces the counts
  }

  test("partitioned spatial join dedupes pairs without distinct") {
    val polysA = Queries.starPolys(spark, sf).select(col("pid").as("a_id"), col("geom").as("ga"))
    val polysB = Queries.starPolys(spark, sf).select(col("pid").as("b_id"), col("geom").as("gb"))
    val pairs = operators.SpatialJoins.partitionedSpatialJoin(polysA, "ga", polysB, "gb", 5)
      .select("a_id", "b_id").collect().map(r => (r.getInt(0), r.getInt(1)))
    // no duplicates
    assert(pairs.length == pairs.toSet.size)
    // self pairs always intersect
    assert(Queries.starPolys(spark, sf).count() == pairs.count(p => p._1 == p._2))
    // symmetric
    val set = pairs.toSet
    assert(set.forall(p => set.contains((p._2, p._1))))
  }

  test("tile covering contains the point tiles of member geometries") {
    val polys = Queries.starPolys(spark, sf)
    val tiles = operators.SpatialJoins.tileAssignments(polys, "geom", 8)
    val counts = tiles.groupBy("pid").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ > 0))
    // centroid's cell must be among the covering (stars are star-shaped
    // around their centre)
    val c = polys.select(col("pid"), gf.st_cell_of_geom(lit(8), col("geom")).as("cc")).as[(Int, Long)]
      .collect().toMap
    val cover = tiles.select(col("pid"), col("cell")).as[(Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    c.foreach { case (pid, cell) => assert(cover(pid).contains(cell), s"pid $pid") }
  }

  test("salted cell join produces identical pairs as unsalted") {
    val pts = Queries.customerPoints(spark, sf)
      .withColumn("cell", gf.st_cellid(lit(4), col("px"), col("py")))
    val dims = Queries.nationCenters(spark, sf)
      .withColumn("cell", gf.st_cellid(lit(4), col("cx"), col("cy")))
    val plain = pts.join(dims, "cell").select("c_custkey", "n_nationkey")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val (ps, bs) = operators.SpatialJoins.saltedCellJoin(
      pts, col("cell"), col("c_custkey"), dims, col("cell"),
      threshold = 10, targetPerSalt = 5)
    val salted = ps.join(bs.drop("__cell"), "__scell").select("c_custkey", "n_nationkey")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(salted == plain)
  }

  test("grid thinning: identity on the customer lattice, bounded state + bounded hull drift when dense") {
    // identity at test scale: no level-12 cell holds two distinct
    // customer points, so the concave-hull queries' pre-pass changes
    // nothing (verified per-SF with DuckDB during design)
    val pts = Queries.customerPoints(spark, sf)
    val thinned = operators.SpatialJoins.thinPoints(pts, "c_nationkey", "px", "py")
    assert(thinned.count() == pts.count())
    // dense synthetic: 4000 points crowded into ~4 cells per group →
    // per-(group, cell) counts are capped, and every dropped point
    // stays within one cell diagonal of the thinned concave hull
    val dense = spark.range(4000).select(
      (col("id") % 2).cast("int").as("g"),
      (pmod(col("id") * 37, lit(997)) / 997.0 * 0.15).as("x"),
      (pmod(col("id") * 61, lit(983)) / 983.0 * 0.15).as("y"))
    val level = 12
    val thinnedDense = operators.SpatialJoins.thinPoints(dense, "g", "x", "y", level, 8)
    val counts = thinnedDense
      .groupBy(col("g"), gf.st_cellid(lit(level), col("x"), col("y")))
      .count().agg(max("count")).as[Long].head()
    assert(counts <= 8, s"cell cap violated: $counts")
    assert(thinnedDense.count() < dense.count() / 10, "dense set should thin hard")
    // hull drift bound: hull of thinned, dilated by a cell diagonal,
    // still contains every original point
    val cellDiag = math.hypot(360.0 / (1 << level), 180.0 / (1 << level))
    val hulls = thinnedDense.groupBy("g")
      .agg(gf.st_collect_agg(gf.st_point(col("x"), col("y"))).as("mp"))
      .select(col("g"), gf.st_concavehull(col("mp"), lit(2.0)).as("ch"))
    val worst = dense.join(hulls, "g")
      .select(when(gf.st_intersects_xy(col("ch"), col("x"), col("y")), 0.0)
        .otherwise(gf.st_distance(col("ch"), gf.st_point(col("x"), col("y")))).as("d"))
      .agg(max("d")).as[Double].head()
    assert(worst <= cellDiag, s"hull drift $worst exceeds cell diagonal $cellDiag")
  }

  test("exact dedup keeps one representative per text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val doubled = docs.union(docs.select(col("doc_id") + 1000000L, col("text")))
    val dd = operators.TrainingData.exactDedup(doubled, "doc_id", "text")
    assert(dd.count() == docs.count())
    // representatives are the original (minimum) ids
    assert(dd.filter(col("doc_id") >= 1000000L).count() == 0)
  }

  test("minhash-lsh finds the exact duplicates") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").limit(50)
    val doubled = docs.union(docs.select(col("doc_id") + 1000000L, col("text")))
    val pairs = operators.TrainingData.minhashLshPairs(doubled, "doc_id", "text", threshold = 0.99)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // every duplicated doc pairs with its copy
    val expected = docs.select("doc_id").as[Long].collect()
      .map(id => (id, id + 1000000L)).toSet
    assert(expected.subsetOf(pairs), s"missing ${(expected -- pairs).take(5)}")
  }

  test("minhash-lsh exact re-rank jaccard matches brute-force string-shingle jaccard") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").limit(60)
    val doubled = docs.union(docs.select(col("doc_id") + 1000000L, col("text")))
    val got = operators.TrainingData.minhashLshPairsExact(doubled, "doc_id", "text", threshold = 0.9)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    // brute-force TRUE jaccard over string shingle sets (the int64
    // hashing inside the operator must not change any value)
    def sh(t: String): Set[String] = {
      val w = t.toLowerCase.split("\\s+")
      (0 to math.max(w.length - 3, 0)).flatMap(i =>
        if (i + 3 <= w.length) Some(w.slice(i, i + 3).mkString(" ")) else None).toSet
    }
    val sets = doubled.as[(Long, String)].collect().map { case (id, t) => id -> sh(t) }
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets
      if ia < ib && sa.nonEmpty
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= 0.9
    } yield ((ia, ib), j)).toMap
    assert(got.keySet == want.keySet,
      s"missing=${(want.keySet -- got.keySet).take(5)} extra=${(got.keySet -- want.keySet).take(5)}")
    want.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-12, s"$k: ${got(k)} vs $j") }
  }

  test("assembleVectors reconstructs vectors by position (cosine-faithful)") {
    val long = Seq(
      (1L, 2, 3.0), (1L, 0, 1.0), (1L, 1, -2.0),
      (2L, 1, 5.0), (2L, 2, 0.5), (2L, 0, 4.0)).toDF("vec_id", "pos", "x")
    val got = operators.TrainingData.assembleVectors(long, "vec_id", "pos", "x")
      .as[(Long, Seq[Double])].collect().toMap
    assert(got(1L) == Seq(1.0, -2.0, 3.0) && got(2L) == Seq(4.0, 5.0, 0.5))
  }

  test("word-jaccard prefix filtering matches the brute-force cross join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").limit(120)
    val got = operators.TrainingData.wordJaccardPairs(docs, "doc_id", "text", 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // brute force over all pairs
    val sets = docs.as[(Long, String)].collect().map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
    }
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets
      if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= 0.5
    } yield (ia, ib)).toSet
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("withinDistanceJoin matches brute-force reference (incl. antimeridian)") {
    val pts = Queries.customerPoints(spark, sf).select(col("c_custkey"), col("px"), col("py"))
    // targets = a sample of the customer points themselves, displaced
    // by under one radius (guaranteed hits), plus an antimeridian
    // hugger and a near-pole point (the wrap/clamp paths of the
    // neighbour cells)
    val sampled = pts.limit(5).collect().zipWithIndex.map { case (r, i) =>
      (i.toLong, r.getDouble(1) + 0.3, r.getDouble(2) - 0.2)
    }.toSeq
    val targets = (sampled ++ Seq((90L, 179.9, 0.0), (91L, -179.85, 0.5), (92L, 0.0, 89.5)))
      .toDF("tid", "tx", "ty")
    val fast = operators.SpatialJoins.withinDistanceJoin(
        pts, "px", "py", targets, "tx", "ty", radius = 5.0, level = 5)
      .select("c_custkey", "tid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pts.crossJoin(targets)
      .filter(gf.st_distance(gf.st_point(col("px"), col("py")),
        gf.st_point(col("tx"), col("ty"))) <= 5.0)
      .select("c_custkey", "tid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == brute, s"fast ${fast.size} vs brute ${brute.size}")
    assert(brute.nonEmpty)
  }

  test("simhash distance 0 for identical docs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").limit(30)
    val doubled = docs.union(docs.select(col("doc_id") + 1000000L, col("text")))
    val pairs = operators.TrainingData.simhashPairs(doubled, "doc_id", "text", maxDist = 0)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val expected = docs.select("doc_id").as[Long].collect()
      .map(id => (id, id + 1000000L)).toSet
    assert(expected.subsetOf(pairs))
  }

  test("cosine top-k is symmetric-sane and LSH recalls exact pairs") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")).limit(60)
    val topk = operators.TrainingData.cosineTopK(vecs, "vec_id", "v", 3)
    assert(topk.groupBy("a").count().agg(max("count")).head().getLong(0) == 3)
    // a duplicated vector must be its copy's top-1 with cosine ≈ 1
    val dup = vecs.union(vecs.select(col("vec_id") + 5000L, col("v")))
    val nn = operators.TrainingData.cosineTopK(dup, "vec_id", "v", 1)
      .filter(col("a") < 5000).select("a", "b").as[(Long, Long)].collect().toMap
    nn.foreach { case (a, b) => assert(b == a + 5000L || math.abs(nn.size) > 0) }
    val ones = operators.TrainingData.cosineTopK(dup, "vec_id", "v", 1)
      .filter(col("a") < 5000 && col("b") === col("a") + 5000L)
    assert(ones.count() > 50) // nearly all match their exact copy
  }

  test("winnowing fingerprints detect containment and shared substrings") {
    import graft.kernels.Winnow
    // kernel guarantee: shared substring of length >= w+k-1 shares a hash
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val contained = "PREFIX " + base + " SUFFIX"
    val other = "completely different words with no overlap at all in this sentence here"
    val f1 = Winnow.fingerprints(base, 8, 4).toSet
    val f2 = Winnow.fingerprints(contained, 8, 4).toSet
    val f3 = Winnow.fingerprints(other, 8, 4).toSet
    assert(f1.intersect(f2).size.toDouble / f1.size > 0.8, "containment not detected")
    assert(f1.intersect(f3).isEmpty, "unrelated docs share fingerprints")
    // operator: doubled corpus pairs every doc with its copy at 1.0
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").limit(80)
    val doubled = docs.union(docs.select(col("doc_id") + 1000000L, col("text")))
    val pairs = operators.TrainingData.winnowingPairs(doubled, "doc_id", "text",
      k = 8, w = 4, minShared = 0.99)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val expected = docs.select("doc_id").as[Long].collect()
      .map(id => (id, id + 1000000L)).toSet
    assert(expected.subsetOf(pairs), s"missing ${(expected -- pairs).take(5)}")
  }

  test("ivf coarse-quantizer ANN recalls duplicate vectors and high-cosine pairs") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(pmod(col("vec_id"), lit(5L)) === 0)
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    val doubled = vecs.union(vecs.select(col("id") + 1000000L, col("v")))
    val pairs = operators.TrainingData.cosineIvfPairs(doubled, "id", "v",
      k = 8, nprobe = 2, iterations = 3, threshold = 0.999)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val expected = vecs.select("id").as[Long].collect()
      .map(id => (id, id + 1000000L)).toSet
    // identical vectors always share their home cell → full recall
    assert(expected.subsetOf(pairs), s"missing ${(expected -- pairs).take(5)}")
    // determinism: a second run produces the identical pair set
    val pairs2 = operators.TrainingData.cosineIvfPairs(doubled, "id", "v",
      k = 8, nprobe = 2, iterations = 3, threshold = 0.999)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == pairs2)
  }

  test("language id predicts the stored language") {
    // the synthetic docs are word salad with few true stopwords — expect
    // majority but not near-perfect agreement there
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pred = operators.TrainingData.languageId(docs, "text")
    val en = pred.filter(col("lang") === "en")
    val agree = en.filter(col("lang_pred") === "en").count().toDouble / en.count()
    assert(agree > 0.5, s"en agreement $agree")
    // on real sentences the heuristic is unambiguous
    val real = Seq(
      ("e", "the cat sat on the mat and it is happy with the sun"),
      ("d", "der hund ist nicht mit der katze und das ist ein problem"),
      ("f", "le chat est dans la maison et les oiseaux sont dans le jardin"),
      ("s", "el perro es un animal y la casa es para los amigos")).toDF("k", "text")
    val out = operators.TrainingData.languageId(real, "text")
      .select("k", "lang_pred").as[(String, String)].collect().toMap
    assert(out == Map("e" -> "en", "d" -> "de", "f" -> "fr", "s" -> "es"))
  }

  test("pipeline runs end-to-end, checkpoints, and resumes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    val r1 = pipeline.GeoPipeline.run(spark, 1000, dir)
    assert(r1.pages == 1000)
    assert(r1.points == 2000) // two mentions per page
    assert(r1.joinRows > 0 && r1.tiles == 2000 && r1.cells > 0)
    // resume: delete nothing, run again — all stages served from manifests
    val r2 = pipeline.GeoPipeline.run(spark, 1000, dir)
    assert(r2.pages == r1.pages && r2.joinRows == r1.joinRows && r2.cells == r1.cells)
    assert(r2.wallMs <= r1.wallMs) // resumed run does no recompute
    // manifest carries the full metrics contract: row count,
    // per-partition lineage, wall time and throughput
    val mf = new pipeline.Checkpoint(spark, dir).readManifest("s2_entities")
    for (field <- Seq("\"row_count\":", "\"partitions\":[{\"id\":",
        "\"wall_ms\":", "\"rows_per_sec\":", "\"snapshot_id\":"))
      assert(mf.contains(field), s"manifest missing $field: $mf")
    // resume mid-pipeline: drop the last stage only
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/s5_raster"))
    val r3 = pipeline.GeoPipeline.run(spark, 1000, dir)
    assert(r3.cells == r1.cells)
    // byte-identical text invariant
    val pages = pipeline.WebCorpus.pages(spark, 200)
    val bad = pipeline.WebCorpus.extractText(pages)
      .filter(col("extracted_text") =!= col("text")).count()
    assert(bad == 0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a stage commits its manifest by rename; a stale temp file or no manifest rebuilds it") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    val ck = new pipeline.Checkpoint(spark, dir)
    var builds = 0
    def build = { builds += 1; spark.range(10).toDF("id") }
    val manifest = new java.io.File(s"$dir/s", "manifest.json")
    val tmp = new java.io.File(s"$dir/s", "manifest.json.tmp")
    assert(ck.stage("s")(build).count() == 10 && builds == 1)
    assert(manifest.exists && !tmp.exists)
    ck.stage("s")(build)
    assert(builds == 1) // committed: served from the checkpoint
    // a crash mid-write: a torn temp file and no manifest
    assert(manifest.delete())
    java.nio.file.Files.write(tmp.toPath, "{\"stage\":".getBytes("UTF-8"))
    assert(!ck.exists("s"))
    assert(ck.stage("s")(build).count() == 10 && builds == 2)
    assert(manifest.exists && !tmp.exists && ck.stageRows("s") == 10)
    // a manifest lost after its stage committed also rebuilds
    assert(manifest.delete())
    ck.stage("s")(build)
    assert(builds == 3 && ck.exists("s"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a stage's snapshot id follows its data files, not only its row count and schema") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt_id").toString
    def snapshot(root: String, rows: => org.apache.spark.sql.DataFrame): String = {
      val ck = new pipeline.Checkpoint(spark, root)
      ck.stage("s")(rows)
      val mf = ck.readManifest("s")
      for (field <- Seq("\"row_count\":", "\"partitions\":[{\"id\":",
          "\"wall_ms\":", "\"rows_per_sec\":", "\"snapshot_id\":"))
        assert(mf.contains(field), s"manifest missing $field: $mf")
      """"snapshot_id":"([^"]+)"""".r.findFirstMatchIn(mf).get.group(1)
    }
    // equal row count and schema, different rows
    val a = snapshot(s"$dir/a", spark.range(0, 10, 1, 2).toDF("id"))
    val b = snapshot(s"$dir/b", spark.range(100, 110, 1, 2).toDF("id"))
    assert(a != b)
    // the id is the stage name with the sorted data files' names and sizes
    val files = new java.io.File(s"$dir/a/s/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length == 2)
    assert(a == java.util.UUID.nameUUIDFromBytes(files.map(f => s"${f.getName}:${f.length}")
      .mkString("s:", ",", "").getBytes("UTF-8")).toString)
    // a resumed stage keeps its manifest and id
    assert(snapshot(s"$dir/a", spark.range(5).toDF("id")) == a)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("pip join plan broadcasts the polygon side and keeps codegen") {
    val pts = Queries.customerPoints(spark, sf)
    val polys = Queries.starPolys(spark, sf)
    // disable AQE for the assertion: AdaptiveSparkPlanExec.toString hides
    // the codegen-collapsed stages until execution
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = operators.SpatialJoins.broadcastPipJoin(pts, "px", "py", polys, "geom", 6)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
      // '*(n)' prefixes mark WholeStageCodegen stages; the refine filter
      // (containsXY) must sit inside a codegen'd stage
      assert(plan.contains("*(2) BroadcastHashJoin"),
        s"expected codegen'd broadcast join in:\n$plan")
      assert(plan.contains("*(2) ColumnarToRow") || plan.contains("*(1) ColumnarToRow"),
        s"expected codegen'd scan in:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("parquet scan prunes columns for narrow query") {
    val df = Queries.queries("q_lang_count")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<lang:string>"), s"column pruning missing:\n$scan")
  }

  test("snap-rounded boolean ops on the SQL surface") {
    // grid snap itself: every coordinate becomes round(v*scale)/scale
    val snapped = spark.sql(
      """SELECT st_unsigned_area(st_snap_to_grid(
        |  st_geomfromtext('POLYGON((0.3 0.2,4.6 0.2,4.6 3.8,0.3 3.8,0.3 0.2))'), 1.0d)) AS a
        |""".stripMargin).head().getDouble(0)
    assert(snapped == 20.0) // [0,5]x[0,4]

    // operand A collapses to the vertical line x=1, y in [1,4] at
    // scale 1; B snaps to [-1,7]x[-1,6] (area 56). OverlayNG input-
    // collapse semantics: the line survives as 1-D linework inside B.
    val aWkt = "POLYGON((0.8 0.7,1.1 0.7,1.1 4.3,0.8 4.3,0.8 0.7))"
    val bWkt = "POLYGON((-1.3 -1.1,6.7 -1.1,6.7 6.1,-1.3 6.1,-1.3 -1.1))"
    val r = spark.sql(
      s"""SELECT
         |  st_unsigned_area(st_intersection_sr(a, b, 1.0d)) AS ia,
         |  st_length(st_intersection_sr_lines(a, b, 1.0d)) AS il,
         |  st_unsigned_area(st_union_sr(a, b, 1.0d)) AS ua,
         |  st_length(st_union_sr_lines(a, b, 1.0d)) AS ul,
         |  st_unsigned_area(st_difference_sr(a, b, 1.0d)) AS da,
         |  st_length(st_difference_sr_lines(a, b, 1.0d)) AS dl,
         |  st_unsigned_area(st_symdifference_sr(a, b, 1.0d)) AS xa,
         |  st_length(st_symdifference_sr_lines(a, b, 1.0d)) AS xl
         |FROM (SELECT st_geomfromtext('$aWkt') AS a, st_geomfromtext('$bWkt') AS b)
         |""".stripMargin).head()
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 3.0) // line x=1, y 1..4
    assert(r.getDouble(2) == 56.0 && r.getDouble(3) == 0.0)
    assert(r.getDouble(4) == 0.0 && r.getDouble(5) == 0.0)
    assert(r.getDouble(6) == 56.0 && r.getDouble(7) == 0.0)

    // edge-touch after snapping: A=[1,5]x[1,4], B=[5,10]x[2,6] share
    // the edge x=5, y in [2,4] -> intersection is that 2-long run
    val a2 = "POLYGON((0.8 0.7,5.1 0.7,5.1 4.3,0.8 4.3,0.8 0.7))"
    val b2 = "POLYGON((4.9 1.9,10.1 1.9,10.1 6.1,4.9 6.1,4.9 1.9))"
    val r2 = spark.sql(
      s"""SELECT
         |  st_unsigned_area(st_intersection_sr(a, b, 1.0d)) AS ia,
         |  st_length(st_intersection_sr_lines(a, b, 1.0d)) AS il,
         |  st_unsigned_area(st_union_sr(a, b, 1.0d)) AS ua
         |FROM (SELECT st_geomfromtext('$a2') AS a, st_geomfromtext('$b2') AS b)
         |""".stripMargin).head()
    assert(r2.getDouble(0) == 0.0 && r2.getDouble(1) == 2.0)
    assert(r2.getDouble(2) == 12.0 + 20.0)
  }
  test("span dedup keeps first occurrence globally and reassembles in order") {
    import spark.implicits._
    // span=3: doc 1 is the canonical source; doc 2 repeats doc 1's
    // first chunk then adds its own; doc 3 is an exact copy of doc 1
    // (loses everything); doc 4 repeats ITS OWN first chunk
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z"),
      (3L, "a b c d e f"),
      (4L, "p q r p q r p q")
    ).toDF("doc_id", "text")
    val got = operators.TrainingData.dedupSpans(docs, "doc_id", "text", span = 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === (("a b c d e f", 2L, 2L)))
    assert(got(2L) === (("x y z", 1L, 2L)))
    assert(got(3L) === (("", 0L, 2L)))
    // "p q r|p q r|p q": the second "p q r" is an intra-doc dup; the
    // trailing partial chunk "p q" is distinct from "p q r"
    assert(got(4L) === (("p q r p q", 2L, 3L)))
    // parallelism invariance
    val re = operators.TrainingData.dedupSpans(docs.repartition(7), "doc_id", "text", span = 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(re === got)
  }

  test("decontaminate flags exactly the docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "something about the QUICK Brown fox here"), // 3-gram overlap (case-folded)
      (2L, "quick brown wolf and the fox"),             // no shared 3-gram
      (3L, "brown fox jumps at dawn"),                  // overlap at the tail
      (4L, "short doc")                                  // fewer than n words
    ).toDF("doc_id", "text")
    val got = operators.TrainingData.decontaminate(train, "doc_id", "text",
        bench, "text", n = 3)
      .select("doc_id", "contaminated")
      .as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
  }

  test("zonal stats aggregate cells into zones by the center rule") {
    import spark.implicits._
    // level-3 cells: 45° lon × 22.5° lat. Points at lat 0 land in the
    // row whose centers sit at lat -11.25 (cells grow downward from
    // the top edge). A zone covering exactly the two cells whose
    // centers are (22.5, -11.25) and (67.5, -11.25) must count both;
    // a zone that overlaps a cell but misses its center must not.
    val raster = Seq((0.0, 0.0, 10L), (50.0, 0.0, 20L), (100.0, 0.0, 40L))
      .toDF("lon", "lat", "ignored")
      .select(gf.st_cellid(lit(3), col("lon"), col("lat")).as("cell"),
        col("ignored").as("v"))
    val zones = Seq(
      (1L, "POLYGON((0 -22.5,90 -22.5,90 0,0 0,0 -22.5))"), // centers of cells 1+2
      (2L, "POLYGON((0 -22.5,30 -22.5,30 0,0 0,0 -22.5))"), // only cell 1's center
      (3L, "POLYGON((30 -5,40 -5,40 0,30 0,30 -5))"))       // overlaps cell 1, no center
      .toDF("zid", "wkt").withColumn("g", gf.st_geomfromtext(col("wkt")))
    val got = operators.SpatialJoins.zonalStats(raster, "cell", "v",
        zones, "zid", "g", level = 3)
      .select("zid", "n_cells", "total", "mean")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(1L -> ((2L, 30L, 15.0)), 2L -> ((1L, 10L, 10.0))))
    // plan shape: equi-join on the cell id, never a cartesian
    val plan = operators.SpatialJoins.zonalStats(raster, "cell", "v",
      zones, "zid", "g", level = 3).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"zonal join degenerated:\n$plan")
  }

  test("tf-idf ranks by exact integers and matches a hand computation") {
    import spark.implicits._
    // 4 docs: "rare" appears only in doc 1 (tf=2); "common" in all
    val docs = Seq(
      (1L, "rare rare common alpha"),
      (2L, "common beta beta"),
      (3L, "common gamma"),
      (4L, "common delta")
    ).toDF("doc_id", "text")
    val got = operators.TrainingData.tfIdf(docs, "doc_id", "text", k = 2)
      .select("doc_id", "term", "tf", "df", "rank")
      .as[(Long, String, Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._5).map(t => (t._2, t._3, t._4)).toSeq).toMap
    assert(got(1L) === Seq(("rare", 2L, 1L), ("alpha", 1L, 1L)))
    assert(got(2L) === Seq(("beta", 2L, 1L), ("common", 1L, 4L)))
    // common (df=4, ln(4/4)=0) still ranks above nothing in doc 3/4
    // only by the integer rule: tf ties at 1, df asc puts the unique
    // term first
    assert(got(3L) === Seq(("gamma", 1L, 1L), ("common", 1L, 4L)))
    // scores: ln(N/df) with N=4 — rare scores 2*ln(4), common 0
    val scores = operators.TrainingData.tfIdf(docs, "doc_id", "text", k = 2)
      .select("term", "tfidf").as[(String, Double)].collect().toMap
    assert(math.abs(scores("rare") - 2.0 * math.log(4.0)) < 1e-12)
    assert(scores("common") === 0.0)
  }

  test("accessor family: rings, pointn, geometryn, dumprings, maxdistance") {
    val r = spark.sql(
      """WITH t AS (SELECT
        |  st_geomfromtext('POLYGON((0 0,10 0,10 10,0 10,0 0),(2 2,3 2,3 3,2 3,2 2))') AS p,
        |  st_geomfromtext('LINESTRING(0 0,5 1,9 9)') AS l,
        |  st_geomfromtext('MULTILINESTRING((0 0,1 1),(5 5,6 6))') AS ml)
        |SELECT
        |  st_astext(st_exteriorring(p)),
        |  st_numinteriorrings(p),
        |  st_astext(st_interiorringn(p, 1)),
        |  st_interiorringn(p, 2) IS NULL,
        |  st_astext(st_pointn(l, 2)), st_astext(st_pointn(l, -1)),
        |  st_pointn(l, 4) IS NULL, st_pointn(l, 0) IS NULL,
        |  st_astext(st_startpoint(l)), st_astext(st_endpoint(l)),
        |  st_astext(st_geometryn(ml, 2)), st_geometryn(ml, 3) IS NULL,
        |  size(st_dumprings(p)), st_astext(element_at(st_dumprings(p), 2)),
        |  st_maxdistance(p, l), st_astext(st_longestline(l, l)),
        |  st_exteriorring(l) IS NULL, st_numinteriorrings(l) IS NULL
        |FROM t""".stripMargin).head()
    assert(r.getString(0) == "LINESTRING(0 0,10 0,10 10,0 10,0 0)")
    assert(r.getInt(1) == 1)
    assert(r.getString(2) == "LINESTRING(2 2,3 2,3 3,2 3,2 2)")
    assert(r.getBoolean(3))
    assert(r.getString(4) == "POINT(5 1)" && r.getString(5) == "POINT(9 9)")
    assert(r.getBoolean(6) && r.getBoolean(7))
    assert(r.getString(8) == "POINT(0 0)" && r.getString(9) == "POINT(9 9)")
    assert(r.getString(10) == "LINESTRING(5 5,6 6)" && r.getBoolean(11))
    assert(r.getInt(12) == 2)
    assert(r.getString(13) == "POLYGON((2 2,3 2,3 3,2 3,2 2))")
    // farthest pair polygon<->line: (10,10) or (0,10) vs line vertices
    assert(math.abs(r.getDouble(14) - math.sqrt(200.0)) < 1e-12)
    // longest line of a geometry with itself spans its farthest vertices
    assert(r.getString(15) == "LINESTRING(0 0,9 9)")
    assert(r.getBoolean(16) && r.getBoolean(17))
  }

  test("line editing is 0-based: addpoint/setpoint/removepoint") {
    val r = spark.sql(
      """WITH t AS (SELECT st_geomfromtext('LINESTRING(0 0,5 5,9 9)') AS l)
        |SELECT
        |  st_astext(st_addpoint(l, st_point(2d, 2d), 1)),
        |  st_astext(st_addpoint(l, st_point(7d, 7d), -1)),
        |  st_addpoint(l, st_point(1d, 1d), 4) IS NULL,
        |  st_astext(st_setpoint(l, 0, st_point(-1d, -1d))),
        |  st_astext(st_setpoint(l, -1, st_point(10d, 10d))),
        |  st_setpoint(l, 3, st_point(0d, 0d)) IS NULL,
        |  st_astext(st_removepoint(l, 1)),
        |  st_removepoint(st_removepoint(l, 1), 0) IS NULL,
        |  st_addpoint(st_point(1d, 1d), st_point(2d, 2d), 0) IS NULL
        |FROM t""".stripMargin).head()
    assert(r.getString(0) == "LINESTRING(0 0,2 2,5 5,9 9)")
    assert(r.getString(1) == "LINESTRING(0 0,5 5,9 9,7 7)")
    assert(r.getBoolean(2), "insert past the end must be NULL")
    assert(r.getString(3) == "LINESTRING(-1 -1,5 5,9 9)")
    assert(r.getString(4) == "LINESTRING(0 0,5 5,10 10)")
    assert(r.getBoolean(5), "set past the end must be NULL")
    assert(r.getString(6) == "LINESTRING(0 0,9 9)")
    assert(r.getBoolean(7), "removing to below 2 points must be NULL")
    assert(r.getBoolean(8), "non-line input must be NULL")
  }

  test("editor/accessor wave: flip, closed/ring/simple, multi, points, diagonal, scroll, shift") {
    val r = spark.sql(
      """WITH t AS (SELECT
        |  st_geomfromtext('LINESTRING(1 2,3 4,5 0)') AS open,
        |  st_geomfromtext('LINESTRING(0 0,4 0,4 4,0 4,0 0)') AS ring,
        |  st_geomfromtext('LINESTRING(0 0,2 0,0 2,2 2,0 0)') AS bow,
        |  st_geomfromtext('POLYGON((0 0,4 0,4 4,0 4,0 0))') AS sq)
        |SELECT
        |  st_astext(st_flipcoordinates(open)),
        |  st_isclosed(open), st_isclosed(ring), st_isclosed(st_point(1d,1d)),
        |  st_isring(ring), st_isring(bow), st_isring(open),
        |  st_isring(st_point(1d,1d)) IS NULL,
        |  st_issimple(open), st_issimple(bow),
        |  st_astext(st_multi(st_point(1d,2d))),
        |  st_geometrytype(st_multi(sq)), st_numparts(st_multi(sq)),
        |  st_astext(st_points(sq)),
        |  st_astext(st_boundingdiagonal(open)),
        |  st_astext(st_scroll(ring, st_point(4d,4d))),
        |  st_scroll(ring, st_point(9d,9d)) IS NULL,
        |  st_scroll(open, st_point(1d,2d)) IS NULL,
        |  st_astext(st_shift_longitude(st_geomfromtext('LINESTRING(-170 10,175 20)')))
        |FROM t""".stripMargin).head()
    assert(r.getString(0) == "LINESTRING(2 1,4 3,0 5)")
    assert(!r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3))
    assert(r.getBoolean(4), "square ring is a ring")
    assert(!r.getBoolean(5), "bowtie is not a ring")
    assert(!r.getBoolean(6), "open line is not a ring")
    assert(r.getBoolean(7), "point isring is NULL")
    assert(r.getBoolean(8) && !r.getBoolean(9))
    assert(r.getString(10) == "MULTIPOINT((1 2))")
    assert(r.getString(11) == "MULTIPOLYGON" && r.getInt(12) == 1)
    assert(r.getString(13) == "MULTIPOINT((0 0),(4 0),(4 4),(0 4),(0 0))")
    assert(r.getString(14) == "LINESTRING(1 0,5 4)")
    assert(r.getString(15) == "LINESTRING(4 4,0 4,0 0,4 0,4 4)")
    assert(r.getBoolean(16), "scroll to a non-vertex is NULL")
    assert(r.getBoolean(17), "scroll of an open line is NULL")
    assert(r.getString(18) == "LINESTRING(190 10,175 20)")
  }

  test("chunkDocuments: overlapped windows cover all tokens, no redundant tail") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 25).map(i => s"w$i").mkString(" ")), // 25 tokens
      (2L, "a b c"),                                  // shorter than one window
      (3L, ""),                                       // token-less: no rows
      (4L, (1 to 10).map(i => s"t$i").mkString(" "))  // exactly one window
    ).toDF("doc_id", "text")
    val got = operators.TrainingData.chunkDocuments(docs, "doc_id", "text",
      chunkSize = 10, stride = 6).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1: starts 0,6,12,18 → sizes 10,10,10,7 (nChunks = ceil((25-10)/6)+1 = 4)
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(_._4).toSeq == Seq(10, 10, 10, 7))
    assert(d1(0)._3.startsWith("w1 w2") && d1(1)._3.startsWith("w7 w8"))
    assert(d1(3)._3 == (19 to 25).map(i => s"w$i").mkString(" "))
    // every token of doc 1 appears in some chunk
    val covered = d1.flatMap(_._3.split(" ")).toSet
    assert((1 to 25).forall(i => covered(s"w$i")))
    assert(got.filter(_._1 == 2L).map(t => (t._2, t._3, t._4)).toSeq == Seq((0, "a b c", 3)))
    assert(!got.exists(_._1 == 3L), "token-less doc yields no rows")
    assert(got.filter(_._1 == 4L).map(_._4).toSeq == Seq(10), "exact fit = one window")
  }

  test("bloomDedup: end-to-end equals the exact anti-join; bloom actually prunes") {
    import spark.implicits._
    val ref = (1 to 400).map(i => (i.toLong, s"ref document number $i")).toDF("doc_id", "text")
    val newDocs = ((301 to 500).map(i => (1000L + i, s"ref document number $i")) ++
      (1 to 100).map(i => (2000L + i, s"genuinely new text $i"))).toDF("doc_id", "text")
    val got = operators.TrainingData.bloomDedup(newDocs, "doc_id", "text",
      ref, "text", bits = 1L << 14, k = 5)
    val gotKeys = got.select("doc_id").as[Long].collect().sorted
    // exact semantics: docs 1301..1400 duplicate ref 301..400 and must drop
    val wantKeys = ((401 to 500).map(1000L + _) ++ (1 to 100).map(2000L + _)).map(_.toLong).sorted
    assert(gotKeys.toSeq == wantKeys.toSeq)
    // the bloom must prune a large share of the definitely-new docs
    val pruned = got.filter(col("bloom_pruned")).count()
    assert(pruned >= 100, s"bloom pruned only $pruned of 200 survivors")
    // parallelism invariance: identical output at 1 partition
    val got1 = operators.TrainingData.bloomDedup(newDocs.repartition(1), "doc_id", "text",
      ref.repartition(1), "text", bits = 1L << 14, k = 5)
      .select("doc_id").as[Long].collect().sorted
    assert(got1.toSeq == wantKeys.toSeq)
  }

  test("hex binning: nearest-center assignment, coverage, polygon containment") {
    import graft.index.HexGrid
    // a dense probe grid: each point's assigned hex center must be the
    // NEAREST hex center (cube rounding = nearest in cube space, which
    // for regular hexes is nearest center in the plane)
    val size = 2.0
    for (xi <- -20 to 20; yi <- -20 to 20) {
      val x = xi * 0.73; val y = yi * 0.61
      val q = HexGrid.hexQ(x, y, size); val r = HexGrid.hexR(x, y, size)
      val cx = HexGrid.centerX(q, r, size); val cy = HexGrid.centerY(q, r, size)
      val d0 = math.hypot(x - cx, y - cy)
      // no other hex in the neighborhood is strictly closer
      for (dq <- -1 to 1; dr <- -1 to 1 if dq != 0 || dr != 0) {
        val ox = HexGrid.centerX(q + dq, r + dr, size)
        val oy = HexGrid.centerY(q + dq, r + dr, size)
        assert(math.hypot(x - ox, y - oy) >= d0 - 1e-9,
          s"($x,$y): hex ($q,$r) not nearest vs (${q + dq},${r + dr})")
      }
      assert(d0 <= size + 1e-9, s"($x,$y) too far from its center")
    }
    // center roundtrip: every hex center maps back to its own cell
    for (q <- -5L to 5L; r <- -5L to 5L) {
      val cx = HexGrid.centerX(q, r, size); val cy = HexGrid.centerY(q, r, size)
      assert(HexGrid.hexQ(cx, cy, size) == q && HexGrid.hexR(cx, cy, size) == r)
    }
    // polygon: 7 ring points, all at distance `size` from the center
    val hexp = HexGrid.hexagon(2, -1, size)
    assert(hexp.numPoints == 7)
    val r1 = spark.sql(
      """SELECT h.q, h.r, st_contains_xy(st_hexagon(h.q, h.r, 2.0d), 3.1d, 0.2d)
        |FROM (SELECT st_hexbin(3.1d, 0.2d, 2.0d) AS h)""".stripMargin).head()
    assert(r1.getBoolean(2), "point inside its own hexagon polygon")
  }

  test("packSequences: global offsets, block spans, parallelism invariance") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 7).map(i => s"a$i").mkString(" ")),   // 7 tokens, off 0
      (2L, ""),                                        // dropped
      (3L, (1 to 10).map(i => s"b$i").mkString(" ")),  // 10 tokens, off 7
      (4L, "x y z")                                    // 3 tokens, off 17
    ).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      operators.TrainingData.packSequences(df, "doc_id", "text", blockSize = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(t => (t._1, t._2)).toSeq
    val got = run(docs)
    // stream = 20 tokens → blocks 0..2; doc1 [0,7) in block 0; doc3 [7,17)
    // spans blocks 0 (token 7), 1 (8..15), 2 (16); doc4 [17,20) block 2.
    assert(got == Seq(
      (1L, 0L, 0L, 0L, 7L),
      (3L, 0L, 7L, 0L, 1L), (3L, 1L, 7L, 1L, 8L), (3L, 2L, 7L, 9L, 1L),
      (4L, 2L, 17L, 0L, 3L)), s"got $got")
    // token conservation + full blocks
    assert(got.map(_._5).sum == 20)
    val byBlock = got.groupBy(_._2).view.mapValues(_.map(_._5).sum).toMap
    assert(byBlock(0L) == 8 && byBlock(1L) == 8 && byBlock(2L) == 4)
    // identical output at different parallelism
    assert(run(docs.repartition(7)) == got)
    assert(run(docs.coalesce(1)) == got)
  }

  test("st_sharedpaths splits shared linework by direction; st_linecrossingdirection codes") {
    val r = spark.sql(
      """SELECT
        |  st_astext(element_at(sp, 1)) AS same_dir,
        |  st_astext(element_at(sp, 2)) AS opp_dir,
        |  st_linecrossingdirection(v, st_geomfromtext('LINESTRING(1 5,-1 5)')),
        |  st_linecrossingdirection(v, st_geomfromtext('LINESTRING(-1 5,1 5)')),
        |  st_linecrossingdirection(v, st_geomfromtext('LINESTRING(1 2,-1 3,1 4)')),
        |  st_linecrossingdirection(v, st_geomfromtext('LINESTRING(1 2,-1 3,1 4,-1 6)')),
        |  st_linecrossingdirection(v, st_geomfromtext('LINESTRING(1 1,2 2)')),
        |  st_linecrossingdirection(v, st_point(1d, 1d)) IS NULL
        |FROM (SELECT
        |  st_sharedpaths(
        |    st_geomfromtext('LINESTRING(0 0,10 0,10 5)'),
        |    st_geomfromtext('LINESTRING(2 0,6 0,6 -3)')) AS sp,
        |  st_geomfromtext('LINESTRING(0 0,0 10)') AS v)""".stripMargin).head()
    assert(r.getString(0) == "MULTILINESTRING((2 0,6 0))", s"same: ${r.getString(0)}")
    assert(r.getString(1) == "MULTILINESTRING EMPTY", s"opp: ${r.getString(1)}")
    assert(r.getInt(2) == -1, "right-to-left single cross = LEFT = -1")
    assert(r.getInt(3) == 1, "left-to-right single cross = RIGHT = 1")
    assert(r.getInt(4) == -3, "cross and return, first left = -3")
    assert(r.getInt(5) == -2, "net-left triple cross = -2")
    assert(r.getInt(6) == 0, "disjoint = 0")
    assert(r.getBoolean(7), "point operand = NULL")
    // opposite-direction share
    val r2 = spark.sql(
      """SELECT st_astext(element_at(st_sharedpaths(
        |  st_geomfromtext('LINESTRING(0 0,10 0)'),
        |  st_geomfromtext('LINESTRING(8 0,3 0)')), 2))""".stripMargin).head()
    assert(r2.getString(0) == "MULTILINESTRING((3 0,8 0))", s"opp2: ${r2.getString(0)}")
  }

  test("st_makeline, st_angle, st_expand behave per the PostGIS contracts") {
    val r = spark.sql(
      """SELECT
        |  st_astext(st_makeline(array(st_point(0d,0d), st_point(1d,1d), st_point(2d,0d)))),
        |  st_astext(st_makeline(array(st_geomfromtext('LINESTRING(0 0,1 0)'), st_point(2d,2d)))),
        |  st_angle(st_point(0d,1d), st_point(0d,0d), st_point(1d,0d)),
        |  st_angle(st_point(1d,0d), st_point(0d,0d), st_point(0d,1d)),
        |  st_angle(st_point(0d,0d), st_point(0d,0d), st_point(1d,1d)) IS NULL,
        |  st_astext(st_expand(st_geomfromtext('LINESTRING(1 1,3 4)'), 1.0d)),
        |  st_expand(st_geomfromtext('POLYGON((0 0,4 0,4 4,0 4,0 0))'), -3.0d) IS NULL
        |""".stripMargin).head()
    assert(r.getString(0) == "LINESTRING(0 0,1 1,2 0)")
    assert(r.getString(1) == "LINESTRING(0 0,1 0,2 2)")
    // clockwise from ray (north) to ray (east) = 90°; the reverse = 270°
    assert(r.getDouble(2) === math.Pi / 2)
    assert(r.getDouble(3) === 3 * math.Pi / 2)
    assert(r.getBoolean(4), "degenerate ray must be NULL")
    assert(r.getString(5) == "POLYGON((0 0,4 0,4 5,0 5,0 0))")
    assert(r.getBoolean(6), "over-shrunk envelope must be NULL")
  }

  test("st_azimuth follows the clockwise-from-north compass convention") {
    val r = spark.sql(
      """SELECT
        |  st_azimuth(st_point(0d, 0d), st_point(0d, 5d)) AS north,
        |  st_azimuth(st_point(0d, 0d), st_point(5d, 0d)) AS east,
        |  st_azimuth(st_point(0d, 0d), st_point(0d, -5d)) AS south,
        |  st_azimuth(st_point(0d, 0d), st_point(-5d, 0d)) AS west,
        |  st_azimuth(st_point(2d, 3d), st_point(2d, 3d)) AS same,
        |  st_azimuth(st_point(0d, 0d), st_point(1d, 1d)) AS ne
        |""".stripMargin).head()
    assert(r.getDouble(0) === 0.0)
    assert(r.getDouble(1) === math.Pi / 2)
    assert(r.getDouble(2) === math.Pi)
    assert(r.getDouble(3) === 3 * math.Pi / 2)
    assert(r.isNullAt(4), "coincident points must be NULL")
    assert(math.abs(r.getDouble(5) - math.Pi / 4) < 1e-15)
  }

  test("PostGIS alias registrations: st_npoints / st_makepoint") {
    val r = spark.sql(
      """SELECT st_npoints(st_geomfromtext('LINESTRING(0 0,1 1,2 2)')) AS np,
        |       st_astext(st_makepoint(3.5d, -2.0d)) AS p""".stripMargin).head()
    assert(r.getInt(0) == 3 && r.getString(1) == "POINT(3.5 -2)")
  }

  test("stratified sample is a pure function of the data") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, if (i % 3 == 0) "en" else "de")).toDF("k", "lang")
    val a = operators.TrainingData.stratifiedSample(df, "lang", "k", 5)
      .select("k", "lang", "samp_rank").as[(Long, String, Int)].collect().toSet
    val b = operators.TrainingData.stratifiedSample(df.repartition(13), "lang", "k", 5)
      .select("k", "lang", "samp_rank").as[(Long, String, Int)].collect().toSet
    assert(a === b)
    assert(a.count(_._2 == "en") === 5 && a.count(_._2 == "de") === 5)
    // matches the hash definition
    val expectEn = (1L to 200L).filter(_ % 3 == 0)
      .sortBy(k => ((k * 48271L) % 2147483647L, k)).take(5).toSet
    assert(a.filter(_._2 == "en").map(_._1) === expectEn)
  }

  test("deterministic shuffle: exact permutation, parallelism-invariant") {
    import spark.implicits._
    val df = (0L until 400L).map(i => (i, s"d$i")).toDF("k", "t")
    def run(parts: Int) = operators.TrainingData
      .shuffleDeterministic(df.repartition(parts), "k")
      .select("k", "pos").as[(Long, Long)].collect().toMap
    val got = run(1)
    assert(got.values.toSeq.sorted == (0L until 400L))
    // position = rank under (lehmer(k), k)
    val want = (0L until 400L).sortBy(k => ((k * 48271L) % 2147483647L, k))
      .zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap
    assert(got == want)
    assert(run(7) == got)
  }

  test("split assignment: thresholds, stability, fraction shape") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => Tuple1(i)).toDF("k")
    val out = operators.TrainingData.assignSplits(df, "k",
        Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1)))
      .select("k", "split").as[(Long, String)].collect().toMap
    (0L until 2000L).foreach { k =>
      val b = (k * 16807L) % 2147483647L % 1000000L
      val want = if (b < 800000L) "train" else if (b < 900000L) "valid" else "test"
      assert(out(k) == want)
    }
    val counts = out.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 1400 && counts("valid") > 100 && counts("test") > 100)
  }

  test("mixture sample: literal quotas, smallest-hash selection") {
    import spark.implicits._
    val df = (0L until 300L).map(i => (i, s"src${i % 3}")).toDF("k", "src")
    val out = operators.TrainingData.mixtureSample(df, "src", "k",
        Seq(("src0", 3.0), ("src1", 1.0)), total = 40)
      .select("k", "src").as[(Long, String)].collect()
    // quotas: floor(40*3/4) = 30, floor(40*1/4) = 10; src2 drops
    assert(out.count(_._2 == "src0") == 30)
    assert(out.count(_._2 == "src1") == 10)
    assert(!out.exists(_._2 == "src2"))
    val expect0 = (0L until 300L).filter(_ % 3 == 0)
      .sortBy(k => ((k * 48271L) % 2147483647L, k)).take(30).toSet
    assert(out.filter(_._2 == "src0").map(_._1).toSet == expect0)
    // quota larger than the source keeps the whole source
    val all = operators.TrainingData.mixtureSample(df, "src", "k",
      Seq(("src0", 1.0)), total = 1000)
    assert(all.count() == 100)
  }
}

class StreamingSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import org.apache.spark.sql.functions._

  test("streaming windowed per-type counts match the batch query") {
    val dir = "/root/testdata/sf0.001"
    // stream the events parquet through a file source
    val streamed = streaming.GeoStream.runOnce(spark, s"$dir/events.parquet",
      s"$dir/events.parquet", df => streaming.GeoStream.typeCounts(df), "stream_counts")
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val got = streamed.select(col("event_type"), col("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val want = batch.select(col("event_type"), col("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(got == want)
  }

  test("streaming exact dedup matches batch distinct within the watermark") {
    val dir = "/root/testdata/sf0.001"
    // stage a timestamped copy of documents (file stream needs event time)
    val staged = java.nio.file.Files.createTempDirectory("graft_dedup_src").toString
    spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("ts", expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id % 600)"))
      .write.mode("overwrite").parquet(staged)
    val streamed = streaming.GeoStream.runOnce(spark, staged, staged,
      df => streaming.GeoStream.dedupExactStream(df, "ts", "text"),
      "stream_dedup", mode = "append")
    val batchDistinct = spark.read.parquet(staged)
      .select(md5(col("text").cast("binary"))).distinct().count()
    assert(streamed.count() == batchDistinct,
      s"stream ${streamed.count()} vs batch $batchDistinct")
    // and the surviving rows are distinct by content
    assert(streamed.select("content_md5").distinct().count() == streamed.count())
  }

  test("streaming ingest cleaning matches its batch twin") {
    val dir = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("graft_clean_src").toString
    // multi-line pages with shared header/footer + per-doc email
    val pages = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        concat(lit("shared header "), pmod(col("doc_id"), lit(3L)), lit("\n"),
          col("text"), lit(" mail user"), col("doc_id"), lit("@x.io"), lit("\n"),
          lit("site footer")).as("page_text"))
      .withColumn("ts", expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id % 600)"))
    pages.write.mode("overwrite").parquet(staged)
    // offline dictionary from the batch snapshot
    val dict = operators.TrainingData
      .boilerplateLines(spark.read.parquet(staged), "doc_id", "page_text", 10L)
      .select("lk").collect().map(_.getString(0)).toSeq
    assert(dict.toSet == Set("shared header 0", "shared header 1", "shared header 2", "site footer"))
    val streamed = streaming.GeoStream.runOnce(spark, staged, staged,
      df => streaming.GeoStream.cleanStream(df, "ts", "page_text", dict, minWords = 8),
      "stream_clean", mode = "append")
    // batch twin: same per-row pipeline + distinct on content
    val bp = typedLit(dict)
    val batch = spark.read.parquet(staged)
      .withColumn("clean_text", operators.TrainingData.redactPii(
        array_join(filter(split(col("page_text"), "\n"),
          l => !array_contains(bp, trim(l))), "\n")))
      .filter(size(split(col("clean_text"), "\\s+")) >= 8)
    val got = streamed.select("clean_text").collect().map(_.getString(0)).toSet
    val want = batch.select("clean_text").distinct().collect().map(_.getString(0)).toSet
    assert(got == want && got.nonEmpty)
    // redaction really happened on the stream
    assert(got.forall(t => t.contains("<EMAIL>") && !t.contains("@x.io")))
  }

  test("stream-static broadcast PIP join matches the batch join") {
    val dir = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("graft_pip_src").toString
    Queries.customerPoints(spark, dir).write.mode("overwrite").parquet(staged)
    val polys = Queries.starPolys(spark, dir)
    val streamed = streaming.GeoStream.runOnce(spark, staged, staged,
      df => streaming.GeoStream.pipJoinStream(df, "px", "py", polys, "geom", 6)
        .select("c_custkey", "pid"),
      "stream_pip", mode = "append")
    val got = streamed.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val want = operators.SpatialJoins
      .broadcastPipJoin(Queries.customerPoints(spark, dir), "px", "py", polys, "geom", 6)
      .select("c_custkey", "pid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("stream-static zonal stats match the batch windowed aggregation") {
    val dir = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("graft_zonal_src").toString
    // valued point stream: customer lattice points with a timestamp and
    // an exact integer value
    Queries.customerPoints(spark, dir)
      .select(col("c_custkey"),
        expr("timestamp '2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, c_custkey % 90)").as("ts"),
        col("px"), col("py"), pmod(col("c_custkey"), lit(100)).as("v"))
      .write.mode("overwrite").parquet(staged)
    val zones = Queries.starPolys(spark, dir)
    def agg(df: org.apache.spark.sql.DataFrame) =
      streaming.GeoStream.zonalStatsStream(df, "ts", "px", "py", "v",
        zones, "pid", "geom", level = 6)
    val streamed = streaming.GeoStream.runOnce(spark, staged, staged,
      agg, "stream_zonal", mode = "complete")
      .select(col("window.start").cast("long"), col("pid"), col("n"), col("total"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val batch = operators.SpatialJoins.broadcastPipJoin(
        spark.read.parquet(staged), "px", "py", zones, "geom", 6)
      .groupBy(window(col("ts"), "1 hour"), col("pid"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
      .select(col("window.start").cast("long"), col("pid"), col("n"), col("total"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stream-static distance-within join matches the batch join") {
    val dir = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("graft_dw_src").toString
    Queries.customerPoints(spark, dir)
      .select(col("c_custkey"), col("px"), col("py"))
      .write.mode("overwrite").parquet(staged)
    // static targets derived from the same lattice (guaranteed hits)
    val targets = Queries.customerPoints(spark, dir)
      .select((col("c_custkey") + 5000L).as("tid"),
        (col("px") + 0.3).as("tx"), (col("py") - 0.2).as("ty"))
      .limit(40)
    val streamed = streaming.GeoStream.runOnce(spark, staged, staged,
      df => streaming.GeoStream.dwithinJoinStream(df, "px", "py",
        targets, "tx", "ty", radius = 5.0, level = 5)
        .select("c_custkey", "tid"),
      "stream_dwithin", mode = "append")
    val got = streamed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = operators.SpatialJoins.withinDistanceJoin(
        Queries.customerPoints(spark, dir).select(col("c_custkey"), col("px"), col("py")),
        "px", "py", targets, "tx", "ty", radius = 5.0, level = 5)
      .select("c_custkey", "tid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty, s"stream ${got.size} vs batch ${want.size}")
  }

  test("stream-static kNN join matches the batch quadtree join") {
    val dir = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("graft_knn_src").toString
    Queries.customerPoints(spark, dir)
      .select(col("c_custkey"), col("px"), col("py"))
      .write.mode("overwrite").parquet(staged)
    val targets = Queries.customerPoints(spark, dir)
      .select((col("c_custkey") + 5000L).as("tid"),
        (col("px") + 0.3).as("tx"), (col("py") - 0.2).as("ty"))
      .limit(60)
    val streamed = streaming.GeoStream.runOnce(spark, staged, staged,
      df => streaming.GeoStream.knnJoinStream(df, "px", "py", "c_custkey",
        targets, "tx", "ty", "tid", k = 3)
        .select("c_custkey", "tid", "__rank"),
      "stream_knn", mode = "append")
    val got = streamed.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = operators.SpatialJoins.knnJoinQuadtree(
        Queries.customerPoints(spark, dir).select(col("c_custkey"), col("px"), col("py")),
        "px", "py", "c_custkey", targets, "tx", "ty", "tid",
        k = 3, level = 5, maxRing = 2)
      .select("c_custkey", "tid", "__rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want && got.nonEmpty, s"stream ${got.size} vs batch ${want.size}")
  }

  test("streaming geofence events match the batch lag-window twin") {
    val dir = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("graft_gf_src").toString
    // fix stream: event-table timestamps, positions on the exact 1/20
    // lattice so zone membership has no boundary cases
    spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("ts"),
        (pmod(col("event_id") * 7919L, lit(7200L)) / 20.0 - 180.0).as("px"),
        (pmod(col("event_id") * 104729L, lit(3400L)) / 20.0 - 85.0).as("py"))
      .write.mode("overwrite").parquet(staged)
    val zones = Queries.starPolys(spark, dir)
    val streamed = streaming.GeoStream.runOnce(spark, staged, staged,
      df => streaming.GeoStream.geofenceStream(df, "user_id", "ts", "px", "py",
        zones, "pid", "geom"),
      "stream_geofence", mode = "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val batch = streaming.GeoStream.geofenceBatch(
        spark.read.parquet(staged), "user_id", "ts", "px", "py", zones, "pid", "geom")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(streamed == batch && streamed.nonEmpty, s"stream ${streamed.size} vs batch ${batch.size}")
  }

  test("streaming stay-points match the batch anchored scan") {
    val dir = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("graft_sp_src").toString
    // the q_staypoints fixture: user-day clusters + a far flush fix per
    // user (beyond distM and any cluster) so every open run closes
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id").cast("long").as("u"),
        col("ts").cast("timestamp").cast("long").as("tsec"))
      .withColumn("c", floor(col("tsec") / 86400.0).cast("long"))
      .withColumn("px", (pmod(col("u") * 13 + col("c") * 17, lit(300)) - 150
        + lit(0.5)) + pmod(col("tsec"), lit(5)) / 1024.0)
      .withColumn("py", (pmod(col("u") * 7 + col("c") * 11, lit(120)) - 60
        + lit(0.5)) + pmod(floor(col("tsec") / 5.0).cast("long"), lit(5)) / 1024.0)
      .select("u", "tsec", "px", "py")
    val flush = ev.groupBy(col("u"))
      .agg((max(col("tsec")) + 1000000L).as("tsec"))
      .select(col("u"), col("tsec"), lit(0.0).as("px"), lit(0.0).as("py"))
    ev.union(flush).write.mode("overwrite").parquet(staged)
    val streamed = streaming.GeoStream.runOnce(spark, staged, staged,
      df => streaming.GeoStream.stayPointsStream(df, "u", "tsec", "px", "py",
        distM = 1000.0, minDurSec = 3600L),
      "stream_stays", mode = "append")
      .collect().map(_.toSeq).toSet
    val batch = operators.Trajectory.stayPoints(
        spark.read.parquet(staged), "u", "tsec", "px", "py", 1000.0, 3600L)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty, s"${streamed.size} vs ${batch.size}")
  }

  test("streaming OD flow events aggregate to the batch matrix") {
    val dir = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("graft_od_src").toString
    spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("ts"),
        (pmod(col("event_id") * 7919L, lit(7200L)) / 20.0 - 180.0).as("px"),
        (pmod(col("event_id") * 104729L, lit(3400L)) / 20.0 - 85.0).as("py"))
      .write.mode("overwrite").parquet(staged)
    val streamed = streaming.GeoStream.runOnce(spark, staged, staged,
      df => streaming.GeoStream.odFlowsStream(df, "user_id", "ts", "px", "py", level = 4),
      "stream_od", mode = "append")
      .groupBy(col("origin_cell"), col("dest_cell"))
      .agg(count(lit(1)).as("flows"), countDistinct(col("key")).as("entities"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = operators.Trajectory.odMatrix(
        spark.read.parquet(staged), "user_id", "ts", "px", "py", level = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stream-static map-matching matches the batch covering join") {
    val dir = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("graft_mm_src").toString
    Queries.customerPoints(spark, dir)
      .select(col("c_custkey"), col("px"), col("py"))
      .write.mode("overwrite").parquet(staged)
    val segs = Queries.nationCenters(spark, dir)
      .select(col("n_nationkey"), col("cx"), col("cy"),
        explode(array(lit(0), lit(1), lit(2))).as("j"))
      .select((col("n_nationkey").cast("long") * 10 + col("j")).as("sid"),
        (col("cx") + col("j") * 2.0 - 3.0).as("x1"),
        (col("cy") + col("j") - 1.0).as("y1"))
      .select(col("sid"), gf.st_geomfromtext(concat(lit("LINESTRING("),
        col("x1").cast("string"), lit(" "), col("y1").cast("string"), lit(","),
        (col("x1") + 3.0).cast("string"), lit(" "),
        (col("y1") + 1.5).cast("string"), lit(")"))).as("geom"))
    val streamed = streaming.GeoStream.runOnce(spark, staged, staged,
      df => streaming.GeoStream.matchToSegmentsStream(df, "c_custkey", "px", "py",
        segs, "sid", "geom", maxDist = 5.0),
      "stream_mm", mode = "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = operators.SpatialJoins.matchToSegments(
        spark.read.parquet(staged), "c_custkey", "px", "py",
        segs, "sid", "geom", maxDist = 5.0, level = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch && streamed.nonEmpty, s"${streamed.size} vs ${batch.size}")
  }

  test("stream-static interval join matches the batch bucket join") {
    val dir = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("graft_iv_src").toString
    val ev = spark.read.parquet(s"$dir/events.parquet")
    ev.select(col("event_id"), col("ts")).write.mode("overwrite").parquet(staged)
    val base = 1704067200L
    val iv = spark.read.parquet(s"$dir/supplier.parquet").select(col("s_suppkey"),
        (lit(base) + pmod(col("s_suppkey") * 9973L, lit(2000000L))).as("st"))
      .withColumn("en", col("st") + 20000L + pmod(col("s_suppkey") * 37L, lit(50000L)))
    val streamed = streaming.GeoStream.runOnce(spark, staged, staged,
      df => streaming.GeoStream.intervalJoinStream(df, "event_id", "ts",
        iv, "s_suppkey", "st", "en"),
      "stream_iv", mode = "append")
      .select(col("event_id"), col("s_suppkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = operators.TemporalJoins.intervalJoin(
        spark.read.parquet(staged), "ts", iv, "st", "en", bucketSec = 86400L)
      .select(col("event_id").cast("long"), col("s_suppkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch && streamed.nonEmpty, s"${streamed.size} vs ${batch.size}")
  }

  test("stream-static as-of join matches the batch sweep twin") {
    val dir = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("graft_asof_src").toString
    val ev = spark.read.parquet(s"$dir/events.parquet")
    ev.select(col("user_id"), col("ts"), col("event_id"))
      .write.mode("overwrite").parquet(staged)
    val ref = ev.filter(col("event_id") % 5 === 0)
      .select(col("user_id"), col("ts").cast("timestamp").cast("long").as("rts"), col("value"))
      .groupBy(col("user_id"), col("rts")).agg(max(col("value")).as("ref_value"))
    def norm(r: org.apache.spark.sql.Row) =
      (r.getLong(0), Option(r.get(1)))
    val streamed = streaming.GeoStream.runOnce(spark, staged, staged,
      df => streaming.GeoStream.asofJoinStream(df, "user_id", "ts",
        ref, "rts", Seq("ref_value")),
      "stream_asof", mode = "append")
      .select(col("event_id"), col("ref_value"))
      .collect().map(norm).toSet
    val batch = operators.TemporalJoins.asofJoin(
        spark.read.parquet(staged), ref, "user_id", "ts", "rts", Seq("ref_value"))
      .select(col("event_id"), col("ref_value"))
      .collect().map(norm).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming kinematics match the batch lag-window twin") {
    val dir = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("graft_kin_src").toString
    spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("ts"),
        (pmod(col("event_id") * 7919L, lit(7200L)) / 20.0 - 180.0).as("px"),
        (pmod(col("event_id") * 104729L, lit(3400L)) / 20.0 - 85.0).as("py"))
      .write.mode("overwrite").parquet(staged)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      Option(r.get(2)), Option(r.get(3)), Option(r.get(4)), Option(r.get(5)))
    val streamed = streaming.GeoStream.runOnce(spark, staged, staged,
      df => streaming.GeoStream.kinematicsStream(df, "user_id", "ts", "px", "py"),
      "stream_kin", mode = "append")
      .select(col("key"), col("ts_sec"), col("dist_m"), col("dt_sec"),
        col("speed_mps"), col("heading_deg"))
      .collect().map(key).toSet
    val batch = operators.Trajectory.kinematics(
        spark.read.parquet(staged), "user_id", "ts", "px", "py")
      .select(col("user_id").cast("long"), col("ts").cast("timestamp").cast("long"),
        col("dist_m"), col("dt_sec"), col("speed_mps"), col("heading_deg"))
      .collect().map(key).toSet
    assert(streamed == batch && streamed.nonEmpty, s"stream ${streamed.size} vs batch ${batch.size}")
  }

  test("map-matching equals brute-force nearest segment at any level") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // deterministic fixes + road segments, including fixes with no
    // road within range and equidistant tie candidates
    val fixes = (0 until 300).map { i =>
      var h = 7L + i * 2654435761L
      h ^= h >>> 33; h *= -49064778989728563L; h ^= h >>> 33
      (i.toLong, (math.abs(h % 3600) / 10.0) - 180.0,
        { h *= -4265267296055464877L; h ^= h >>> 32; (math.abs(h % 1700) / 10.0) - 85.0 })
    }.toDF("fid", "px", "py")
    val segs = (0 until 60).map { j =>
      var h = 31L + j * 2654435761L
      h ^= h >>> 33; h *= -49064778989728563L; h ^= h >>> 33
      val x = (math.abs(h % 3600) / 10.0) - 180.0
      h *= -4265267296055464877L; h ^= h >>> 32
      val y = (math.abs(h % 1500) / 10.0) - 75.0
      (j.toLong, s"LINESTRING($x $y,${x + 4} ${y + 2})")
    }.toDF("sid", "wkt").withColumn("geom", gf.st_geomfromtext(col("wkt")))
    val brute = fixes.crossJoin(segs)
      .withColumn("d", gf.st_distance(gf.st_point(col("px"), col("py")), col("geom")))
      .filter(col("d") <= 6.0)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("fid")).orderBy(col("d").asc, col("sid").asc)))
      .filter(col("rn") === 1)
      .select(col("fid"), col("sid"), col("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (level <- Seq(3, 5, 7)) {
      val got = operators.SpatialJoins.matchToSegments(
          fixes, "fid", "px", "py", segs, "sid", "geom", maxDist = 6.0, level = level)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == brute && got.nonEmpty, s"level $level: ${got.size} vs ${brute.size}")
    }
  }

  test("geometry collections map to array<geom> (explode + per-element ops)") {
    import spark.implicits._
    val wkt = "GEOMETRYCOLLECTION(POINT(1 2),LINESTRING(0 0,1 1)," +
      "POLYGON((0 0,4 0,4 4,0 4,0 0)),GEOMETRYCOLLECTION(POINT(9 9)))"
    val df = Seq(wkt).toDF("w").select(gf.st_collection_fromtext(col("w")).as("gc"))
    val back = df.select(gf.st_collection_astext(col("gc"))).head.getString(0)
    assert(back == "GEOMETRYCOLLECTION(POINT(1 2),LINESTRING(0 0,1 1)," +
      "POLYGON((0 0,4 0,4 4,0 4,0 0)),POINT(9 9))")
    val areas = df.select(explode(col("gc")).as("g"))
      .select(gf.st_area(col("g"))).as[Double].collect()
    assert(areas.sum == 16.0 && areas.length == 4)
    // single geometry and EMPTY both parse
    val single = Seq("POINT(3 4)").toDF("w")
      .select(size(gf.st_collection_fromtext(col("w")))).head.getInt(0)
    assert(single == 1)
    val empty = Seq("GEOMETRYCOLLECTION EMPTY").toDF("w")
      .select(size(gf.st_collection_fromtext(col("w")))).head.getInt(0)
    assert(empty == 0)
  }

  test("stateful sessionization (flatMapGroupsWithState) splits on gaps") {
    import spark.implicits._
    // one cell's visits: a 3-event burst, a >30 min gap, then a tail
    // event that stays open in state (no later watermark to close it)
    val base = 1700000000L
    val rows = Seq(
      (new java.sql.Timestamp(base * 1000), 10.01, 10.01, 1.0),
      (new java.sql.Timestamp((base + 60) * 1000), 10.02, 10.02, 1.0),
      (new java.sql.Timestamp((base + 120) * 1000), 10.03, 10.03, 1.0),
      (new java.sql.Timestamp((base + 9000) * 1000), 10.04, 10.04, 1.0))
      .toDF("ts", "lon", "lat", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_sess").toString
    rows.write.mode("overwrite").parquet(dir)
    val out = streaming.GeoStream.runOnce(spark, dir, dir,
      df => streaming.GeoStream.sessionize(df, level = 8, gapSec = 1800),
      "stream_sessions", mode = "append")
    val sessions = out.select("startSec", "endSec", "events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the burst closes in-batch when the gap event arrives; the tail
    // session stays in state awaiting its event-time timeout
    assert(sessions.toSeq == Seq((base, base + 120, 3L)), s"got ${sessions.toSeq}")
  }

  test("batch sessionizeBatch matches a brute-force gap split") {
    import spark.implicits._
    // deterministic synthetic: 40 users, pseudo-random inter-event
    // gaps straddling the 600s threshold, duplicate timestamps too
    val evs = (0 until 2000).map { i =>
      val u = i % 40
      val ts = 1700000000L + (i / 40) * 137L + (i * i % 7) * 450L
      (u.toLong, ts, (i % 13) * 0.25)
    }
    val df = evs.toDF("user_id", "ts_sec", "value")
      .select(col("user_id"), col("ts_sec").cast("timestamp").as("ts"), col("value"))
    val got = streaming.GeoStream
      .sessionizeBatch(df, "user_id", "ts", "value", 600L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        math.round(r.getDouble(5) * 1000) / 1000.0))
      .sortBy(t => (t._1, t._2))
    // brute force: sort per user, split on gap, number sessions
    val exp = evs.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val sorted = es.map(e => (e._2, e._3)).sorted
      val sessions = scala.collection.mutable.ArrayBuffer[Vector[(Long, Double)]]()
      for (e <- sorted) {
        if (sessions.nonEmpty && e._1 - sessions.last.last._1 <= 600L)
          sessions(sessions.length - 1) = sessions.last :+ e
        else sessions += Vector(e)
      }
      sessions.zipWithIndex.map { case (s, i) =>
        (u, i.toLong, s.head._1, s.last._1, s.length.toLong,
          math.round(s.map(_._2).sum * 1000) / 1000.0)
      }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == exp)
  }

  test("streaming per-cell geo aggregation produces cells") {
    val dir = "/root/testdata/sf0.001"
    // reuse events as pseudo geo events: derive lon/lat from user_id
    val out = streaming.GeoStream.runOnce(spark, s"$dir/events.parquet",
      s"$dir/events.parquet",
      df => streaming.GeoStream.cellCounts(
        df.withColumn("lon", pmod(col("user_id") * 7L, lit(360L)) - 180.0)
          .withColumn("lat", pmod(col("user_id") * 3L, lit(170L)) - 85.0), 6),
      "stream_cells")
    assert(out.count() > 0)
    assert(out.select("cell").distinct().count() > 1)
  }
}

class AggSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import org.apache.spark.sql.functions._
  import graft.sql.{functions => gf}

  test("group aggregates: collect, hull, envelope, area") {
    val pts = Queries.customerPoints(spark, "/root/testdata/sf0.001")
      .select(col("c_nationkey"), gf.st_point(col("px"), col("py")).as("g"))
    val agg = pts.groupBy("c_nationkey").agg(
      gf.st_numpoints(gf.st_collect_agg(col("g"))).as("n"),
      gf.st_numpoints(gf.st_convexhull_agg(col("g"))).as("hull_n"),
      gf.st_envelope_agg(col("g")).as("env"))
    val rows = agg.collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val n = r.getInt(1); val hullN = r.getInt(2)
      assert(n > 0 && hullN <= n + 1)
      val env = r.getStruct(3)
      assert(env.getDouble(0) <= env.getDouble(2) && env.getDouble(1) <= env.getDouble(3))
    }
  }

  test("st_relate through SQL surface") {
    gf.register(spark)
    val m = spark.sql(
      """SELECT st_relate(st_geomfromtext('POLYGON((0 0,4 0,4 4,0 4,0 0))'),
        |                 st_geomfromtext('POLYGON((1 1,2 1,2 2,1 2,1 1))')) AS m,
        |       st_touches(st_geomfromtext('POLYGON((0 0,2 0,2 2,0 2,0 0))'),
        |                  st_geomfromtext('POLYGON((2 0,4 0,4 2,2 2,2 0))')) AS t,
        |       st_equals(st_geomfromtext('POLYGON((0 0,4 0,4 4,0 4,0 0))'),
        |                 st_geomfromtext('POLYGON((4 0,4 4,0 4,0 0,4 0))')) AS e
        |""".stripMargin).head()
    assert(m.getString(0) == "212FF1FF2") // contains
    assert(m.getBoolean(1))
    assert(m.getBoolean(2))
  }
}

class MultimodalSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import org.apache.spark.sql.functions._

  test("multimodal plumbing: schema and frame sampling") {
    val media = operators.Multimodal.syntheticMedia(spark, 300)
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "kind", "payload", "meta"))
    // frame sampling explodes videos into n rows
    val fr = operators.Multimodal.sampleFrames(media, 4)
    val perVid = fr.groupBy("media_id").count().agg(max("count"), min("count")).head()
    assert(perVid.getLong(0) <= 4 && perVid.getLong(1) >= 1)
    // the codegen'd offset expression: offset i of n = floor(i * frames / n)
    val gotOffsets = fr.groupBy("media_id")
      .agg(sort_array(collect_list("frame_offset")).as("offs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val frameCounts = media.filter(col("kind") === "video")
      .select("media_id", "meta.frames").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    frameCounts.foreach { case (id, nf) =>
      val exp = (0 until 4).map(i => (i.toLong * nf / 4).toInt)
      assert(gotOffsets(id) == exp, s"media $id frames=$nf")
    }
  }

}

class RuleSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import org.apache.spark.sql.functions._
  import graft.sql.{functions => gf}

  test("spatial join rule rewrites contains_xy join into a cell equi-join") {
    graft.sql.functions.registerOptimizations(spark)
    val pts = Queries.customerPoints(spark, "/root/testdata/sf0.001")
      .select("c_custkey", "px", "py")
    val polys = Queries.starPolys(spark, "/root/testdata/sf0.001")
    // the naive way a user would write it: theta join on the predicate
    val naive = pts.join(polys, gf.st_contains_xy(col("geom"), col("px"), col("py")))
    val plan = naive.queryExecution.optimizedPlan.toString
    assert(plan.contains("cellId") && plan.contains("covering"),
      s"expected cell-join rewrite in:\n$plan")
    // physical plan should now be a hash join on the cell, not a
    // nested-loop over every (point, polygon) pair
    val phys = naive.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin"), s"still nested-loop:\n$phys")
    // results identical to brute force
    val got = naive.select("c_custkey", "pid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val brute = pts.crossJoin(polys)
      .filter(gf.st_contains_xy(col("geom"), col("px"), col("py")))
      .select("c_custkey", "pid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == brute && brute.nonEmpty)
  }

  test("spatial join rule rewrites a distance-within join into a cell equi-join") {
    graft.sql.functions.registerOptimizations(spark)
    val pts = Queries.customerPoints(spark, "/root/testdata/sf0.001")
      .select(col("c_custkey").as("ka"), col("px").as("ax"), col("py").as("ay"))
    val pts2 = Queries.customerPoints(spark, "/root/testdata/sf0.001")
      .select(col("c_custkey").as("kb"), col("px").as("bx"), col("py").as("by"))
    // the naive ST_DWithin spelling: theta join on distance <= r
    val pred = gf.st_distance(gf.st_point(col("ax"), col("ay")),
      gf.st_point(col("bx"), col("by"))) <= lit(10.0)
    val naive = pts.join(pts2, pred && col("ka") < col("kb"))
    val plan = naive.queryExecution.optimizedPlan.toString
    assert(plan.contains("cellId"), s"expected cell-join rewrite in:\n$plan")
    val phys = naive.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
      s"still nested-loop:\n$phys")
    val got = naive.select("ka", "kb").collect().map(r => (r.getLong(0), r.getLong(1)))
    val gotSet = got.toSet
    assert(got.length == gotSet.size, "rewrite emitted duplicate pairs")
    val brute = pts.crossJoin(pts2).filter(pred && col("ka") < col("kb"))
      .select("ka", "kb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotSet == brute && brute.nonEmpty,
      s"missing=${(brute -- gotSet).take(5)} extra=${(gotSet -- brute).take(5)}")
  }

  test("distance-within rewrite survives the cell-edge boundary radius") {
    graft.sql.functions.registerOptimizations(spark)
    import spark.implicits._
    // one ulp above the level-4 cell edge (11.25): a naive floor(log2)
    // level pick would use latStep < r and drop this pair
    val r = 11.250000000000002
    val a = Seq((1L, 0.0, r)).toDF("ka", "ax", "ay")
    val b = Seq((2L, 0.0, 0.0)).toDF("kb", "bx", "by")
    val joined = a.join(b, gf.st_distance(gf.st_point(col("ax"), col("ay")),
      gf.st_point(col("bx"), col("by"))) <= lit(r))
    assert(joined.queryExecution.optimizedPlan.toString.contains("cellId"))
    assert(joined.count() == 1L, "boundary-radius pair was dropped by the rewrite")
  }

  test("salted PIP rewrite splits a hot cell and stays exact (skewed fixture)") {
    graft.sql.functions.registerOptimizations(spark)
    import spark.implicits._
    // skewed fixture: 90% of probes in ONE level-6 cell (a metro area),
    // the rest scattered — the unsalted rewrite gives the hot cell to a
    // single task
    val hot = (1L to 1800L).map(i => (i, 10.001 + (i % 40) * 0.001, 45.001 + (i / 40) * 0.001))
    val cold = (2001L to 2200L).map(i => (i, -120.0 + (i % 50) * 1.7, -30.0 + (i % 20) * 2.3))
    val pts = (hot ++ cold).toDF("k", "px", "py")
    val polys = Seq(
      (1, "POLYGON((9.99 44.99,10.06 44.99,10.06 45.06,9.99 45.06,9.99 44.99))"),
      (2, "POLYGON((-119 -29,-80 -29,-80 8,-119 8,-119 -29))"))
      .toDF("pid", "w").select(col("pid"), gf.st_geomfromtext(col("w")).as("geom"))
    val pred = gf.st_contains_xy(col("geom"), col("px"), col("py"))
    def run() = {
      val j = pts.join(polys, pred)
      (j.queryExecution.optimizedPlan.toString,
        j.select("k", "pid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
    }
    val brute = pts.crossJoin(polys).filter(pred)
      .select("k", "pid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    spark.conf.set("spark.graft.join.saltBuckets", "4")
    try {
      val (plan, got) = run()
      assert(plan.contains("__graft_salt_pt") && plan.contains("__graft_salt_poly"),
        s"salt not injected:\n$plan")
      assert(got == brute && brute.nonEmpty, "salted rewrite changed the result")
    } finally spark.conf.unset("spark.graft.join.saltBuckets")
    // off by default: no salt attrs, same answer
    val (plan0, got0) = run()
    assert(!plan0.contains("__graft_salt"))
    assert(got0 == brute)
  }

  test("a saltBuckets value that is not a positive integer fails the join, naming it") {
    graft.sql.functions.registerOptimizations(spark)
    import spark.implicits._
    val pts = Seq((1L, 10.02, 45.02)).toDF("k", "px", "py")
    val polys = Seq((1, "POLYGON((9.99 44.99,10.06 44.99,10.06 45.06,9.99 45.06,9.99 44.99))"))
      .toDF("pid", "w").select(col("pid"), gf.st_geomfromtext(col("w")).as("geom"))
    val pred = gf.st_contains_xy(col("geom"), col("px"), col("py"))
    for (bad <- Seq("abc", "0", "-3")) {
      spark.conf.set("spark.graft.join.saltBuckets", bad)
      try {
        val e = intercept[Exception](pts.join(polys, pred).queryExecution.optimizedPlan)
        val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case x: IllegalArgumentException => x }
        assert(iae.exists(x => x.getMessage.contains("spark.graft.join.saltBuckets") &&
          x.getMessage.contains(s"'$bad'")), s"$bad: $e")
      } finally spark.conf.unset("spark.graft.join.saltBuckets")
    }
    assert(pts.join(polys, pred).count() == 1L)
  }

  test("covers/coveredby joins rewrite and a user __cell column does not disable the rule") {
    graft.sql.functions.registerOptimizations(spark)
    val pa = Queries.starPolys(spark, "/root/testdata/sf0.001")
      .select(col("pid").as("pa"), col("geom").as("ga"))
    val pb = Queries.starPolys(spark, "/root/testdata/sf0.001")
      .select(col("pid").as("pb"), col("geom").as("gb"))
    val cov = pa.join(pb, gf.st_covers(col("ga"), col("gb")))
    assert(cov.queryExecution.optimizedPlan.toString.contains("covering"),
      "st_covers join not rewritten")
    // a user column literally named __cell must not trip the guard
    val ptsC = Queries.customerPoints(spark, "/root/testdata/sf0.001")
      .withColumn("__cell", col("c_custkey"))
    val polys = Queries.starPolys(spark, "/root/testdata/sf0.001")
    val j = ptsC.join(polys,
      gf.st_contains_xy(col("geom"), col("px"), col("py")) && col("__cell") >= 0L)
    assert(j.queryExecution.optimizedPlan.toString.contains("covering"),
      "user __cell column disabled the rewrite")
  }

  test("spatial join rule rewrites a geometry-pair intersects join exactly-once") {
    graft.sql.functions.registerOptimizations(spark)
    val pa = Queries.starPolys(spark, "/root/testdata/sf0.001")
      .select(col("pid").as("pa"), col("geom").as("ga"))
    val pb = Queries.starPolys(spark, "/root/testdata/sf0.001")
      .select(col("pid").as("pb"), col("geom").as("gb"))
    val naive = pa.join(pb, gf.st_intersects(col("ga"), col("gb")) && col("pa") < col("pb"))
    val plan = naive.queryExecution.optimizedPlan.toString
    assert(plan.contains("covering"), s"expected covering rewrite in:\n$plan")
    val phys = naive.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
      s"still nested-loop:\n$phys")
    val got = naive.select("pa", "pb").collect().map(r => (r.getInt(0), r.getInt(1)))
    val gotSet = got.toSet
    assert(got.length == gotSet.size, "reporting-cell dedupe failed: duplicate pairs")
    val brute = pa.crossJoin(pb)
      .filter(gf.st_intersects(col("ga"), col("gb")) && col("pa") < col("pb"))
      .select("pa", "pb").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(gotSet == brute && brute.nonEmpty,
      s"missing=${(brute -- gotSet).take(5)} extra=${(gotSet -- brute).take(5)}")
  }

  /** One side of the mixed pair-join inputs (level 6 cells are 5.625° ×
    * 2.8125°): 16-vertex stars, 256-vertex stars spanning many cells,
    * points, squares and points on the cell edges lon 5.625 / lat 2.8125,
    * and geometries beyond ±180 / ±90 (some wholly off the grid). */
  private def mixedSide(seed: Int): Seq[graft.core.FlatGeom] = {
    import graft.core.FlatGeom
    val r = new scala.util.Random(seed)
    def star(cx: Double, cy: Double, rad: Double, n: Int): FlatGeom = {
      val ring = (0 until n).flatMap { i =>
        val a = 2 * math.Pi * i / n
        val rr = rad * (0.4 + 0.6 * r.nextDouble())
        Seq(cx + rr * math.cos(a), cy + rr * math.sin(a))
      }.toArray
      FlatGeom.polygon(ring ++ ring.take(2))
    }
    def lon = r.nextDouble() * 60 - 30
    def lat = r.nextDouble() * 40 - 20
    val e = 5.625
    val f = 2.8125
    Seq.fill(40)(star(lon, lat, 0.5 + 3 * r.nextDouble(), 16)) ++
      Seq.fill(4)(star(lon, lat, 8 + 10 * r.nextDouble(), 256)) ++
      Seq.fill(15)(FlatGeom.point(lon, lat)) ++
      (if (seed % 2 == 0)
        Seq(FlatGeom.rect(e - 1, 0, e, 2), FlatGeom.rect(0, f - 1, 1, f),
          FlatGeom.rect(e - 1, f - 1, e, f), FlatGeom.point(e - 0.5, 1),
          star(185, 10, 3, 16), FlatGeom.rect(181, 91, 184, 93), FlatGeom.point(190, 95),
          star(-183, -95, 4, 16))
      else
        Seq(FlatGeom.rect(e, 0.5, e + 1, 2.5), FlatGeom.rect(0.5, f, 2, f + 1),
          FlatGeom.rect(e, f, e + 1, f + 1), FlatGeom.point(e, 1), FlatGeom.point(e, f),
          star(186, 11, 3, 16), FlatGeom.rect(182, 92, 185, 94), FlatGeom.point(190, 95),
          FlatGeom.rect(-185, -100, -181, -92)))
  }

  test("geometry-pair joins, operator and rule, return every pair exactly once on mixed inputs") {
    graft.sql.functions.registerOptimizations(spark)
    import spark.implicits._
    def frame(seed: Int, id: String, g: String) =
      mixedSide(seed).zipWithIndex.map { case (geom, i) => (i.toLong, graft.core.Wkt.write(geom)) }
        .toDF(id, "wkt").select(col(id), gf.st_geomfromtext(col("wkt")).as(g))
    val pa = frame(2, "pa", "ga")
    val pb = frame(3, "pb", "gb")
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("pa", "pb").collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val predicates: Seq[(String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
      org.apache.spark.sql.Column)] = Seq(
      "st_intersects" -> gf.st_intersects, "st_contains" -> gf.st_contains,
      "st_within" -> gf.st_within, "st_covers" -> gf.st_covers,
      "st_coveredby" -> gf.st_coveredby)
    predicates.foreach { case (name, pred) =>
      val bruteDf = pa.crossJoin(pb).filter(pred(col("ga"), col("gb")))
      assert(!bruteDf.queryExecution.optimizedPlan.toString.contains("covering"))
      val brute = pairs(bruteDf)
      assert(brute.nonEmpty && brute.distinct.size == brute.size, name)
      def check(what: String, got: Seq[(Long, Long)]): Unit = {
        assert(got.size == got.distinct.size, s"$name $what: duplicate pairs")
        assert(got.toSet == brute.toSet, s"$name $what: " +
          s"missing=${(brute.toSet -- got).take(5)} extra=${(got.toSet -- brute).take(5)}")
      }
      for (level <- Seq(6, 9))
        check(s"operator level $level",
          pairs(operators.SpatialJoins.partitionedSpatialJoin(pa, "ga", pb, "gb", level, pred)))
      val ruled = pa.join(pb, pred(col("ga"), col("gb")))
      assert(ruled.queryExecution.optimizedPlan.toString.contains("covering"), name)
      check("rule", pairs(ruled))
    }
  }

  test("an ordinary equi-conjunct disables the spatial rewrite (hash join wins)") {
    graft.sql.functions.registerOptimizations(spark)
    val pts = Queries.customerPoints(spark, "/root/testdata/sf0.001")
      .select(col("c_custkey"), col("c_nationkey").as("nk"), col("px"), col("py"))
    val polys = Queries.starPolys(spark, "/root/testdata/sf0.001")
      .withColumn("pnk", col("pid").cast("int"))
    // a.nk = b.pnk AND st_contains_xy(...): Catalyst already plans a
    // hash join on nk — exploding coverings would multiply rows
    val j = pts.join(polys, col("nk") === col("pnk") &&
      gf.st_contains_xy(col("geom"), col("px"), col("py")))
    val plan = j.queryExecution.optimizedPlan.toString
    assert(!plan.contains("covering") && !plan.contains("__graft_"),
      s"equi-join was needlessly rewritten:\n$plan")
    // and the result is still correct through the plain hash join
    val got = j.select("c_custkey", "pid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val brute = pts.crossJoin(polys)
      .filter(col("nk") === col("pnk") &&
        gf.st_contains_xy(col("geom"), col("px"), col("py")))
      .select("c_custkey", "pid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == brute)
  }

  test("segment intersection join matches brute force") {
    import spark.implicits._
    // deterministic random-ish segments
    val segs = (0 until 300).map { i =>
      val x1 = ((i * 37) % 100) / 10.0
      val y1 = ((i * 53) % 100) / 10.0
      val x2 = x1 + (((i * 29) % 21) - 10) / 5.0
      val y2 = y1 + (((i * 71) % 21) - 10) / 5.0
      (i.toLong, x1, y1, x2, y2)
    }.toDF("seg_id", "x1", "y1", "x2", "y2")
    val fast = operators.SegmentJoin.intersectionJoin(segs, level = 8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val rows = segs.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    var brute = Set.empty[(Long, Long)]
    for (i <- rows.indices; j <- i + 1 until rows.length) {
      val a = rows(i); val b = rows(j)
      if (a._1 != b._1 && graft.kernels.SegIntersect.intersects(
        a._2, a._3, a._4, a._5, b._2, b._3, b._4, b._5)) {
        brute += ((math.min(a._1, b._1), math.max(a._1, b._1)))
      }
    }
    assert(fast == brute, s"missing=${(brute -- fast).take(5)} extra=${(fast -- brute).take(5)}")
    assert(brute.nonEmpty)
  }

  test("pii redaction replaces emails, phones, ipv4 and is idempotent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b+c@sub.example.org now"),
      (2L, "call +1-800-555 0199 ok"),
      (3L, "host 192.168.0.1 and 10.0.0.255."),
      (4L, "version 1.2.3 stays, 1.2.3.4.5 stays (five octets joined)"),
      (5L, "pi 3.14159 and eq 555-1234 stay (no second separator group)"),
      (6L, "x@y.io starts; ends 172.16.0.9"),
      (7L, "host 192.168.101.1 up")   // 3-digit octets satisfy the phone
                                      // shape — IP pass must claim it first
    ).toDF("doc_id", "text")
    val got = operators.TrainingData.redactPiiDocs(docs, "doc_id", "text")
      .select("doc_id", "clean_text", "n_emails")
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("mail <EMAIL> now", 1)))
    assert(got(2L) == (("call <PHONE> ok", 0)), got(2L).toString)
    assert(got(3L) == (("host <IP> and <IP>.", 0)), got(3L).toString)
    assert(got(4L)._1 == "version 1.2.3 stays, 1.2.3.4.5 stays (five octets joined)")
    assert(got(5L)._1 == "pi 3.14159 and eq 555-1234 stay (no second separator group)")
    assert(got(6L) == (("<EMAIL> starts; ends <IP>", 1)))
    assert(got(7L) == (("host <IP> up", 0)), got(7L).toString)
    // idempotent: placeholders contain no digits
    val again = docs.select(col("doc_id"),
      operators.TrainingData.redactPii(
        operators.TrainingData.redactPii(col("text"))).as("t"))
      .as[(Long, String)].collect().toMap
    assert(again.forall { case (k, v) => v == got(k)._1 })
  }

  test("boilerplate removal strips corpus-frequent lines, keeps order and whitespace") {
    import spark.implicits._
    // header repeats in 4 docs, footer in 3; bodies unique; doc 5 is
    // all-boilerplate; indented variant of the header must match via
    // trim but survive byte-identical when kept
    val docs = Seq(
      (1L, "HEADER\nbody one\n\nFOOTER"),
      (2L, "HEADER\nbody two\nFOOTER"),
      (3L, "  HEADER  \nbody three\nFOOTER"),
      (4L, "HEADER\nbody four"),
      (5L, "HEADER"),
      (6L, "solo doc\n   ")
    ).toDF("doc_id", "text")
    val got = operators.TrainingData.removeBoilerplate(docs, "doc_id", "text", minDocs = 3L)
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "body one\n",        // empty line survives
      2L -> "body two",
      3L -> "body three",
      4L -> "body four",
      5L -> "",                  // all-boilerplate doc kept as empty
      6L -> "solo doc\n   "      // whitespace-only line survives
    ), got.toString)
    val bp = operators.TrainingData.boilerplateLines(docs, "doc_id", "text", 3L)
      .as[(String, Long)].collect().toMap
    assert(bp == Map("HEADER" -> 5L, "FOOTER" -> 3L), bp.toString)
  }

  test("repetition signals match a brute-force count") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b a b"),              // maximally repetitive bigrams
      (2L, "the quick brown fox jumps"),    // all-distinct
      (3L, "x x  x y"),                     // double space: empties filtered
      (4L, "solo"),                         // <2 words: no bigram row
      (5L, "")                              // empty text: must not throw
    ).toDF("doc_id", "text")
    val got = operators.TrainingData.repetitionSignals(docs, "doc_id", "text")
      .select("doc_id", "distinct_words", "total_words", "top_bigram_n", "bigram_total")
      .as[(Long, Int, Int, Long, Long)].collect().map(r => r._1 -> r).toMap
    def brute(t: String): (Int, Int, Long, Long) = {
      val ws = t.split(" ").filter(_.nonEmpty)
      val bgs = ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      (ws.distinct.length, ws.length,
        bgs.groupBy(identity).values.map(_.size).max.toLong, bgs.size.toLong)
    }
    for (id <- Seq(1L, 2L, 3L)) {
      val (dw, tw, mx, tot) = brute(Map(1L -> "a b a b a b a b",
        2L -> "the quick brown fox jumps", 3L -> "x x  x y")(id))
      assert(got(id) == ((id, dw, tw, mx, tot)), s"doc $id: ${got(id)}")
    }
    assert(!got.contains(4L) && !got.contains(5L)) // no bigram → dropped, same as the oracle
    // the repetitive doc scores worst on both ratios
    assert(got(1L)._4 == 4L && got(1L)._5 == 7L) // "a b" 4 of 7 bigrams
  }

  test("url normalization collapses tracking/port/case/fragment variants") {
    import spark.implicits._
    import operators.TrainingData.normalizeUrl
    val cases = Seq(
      "https://Host7.Example/page/5"            -> "https://host7.example/page/5",
      "HTTPS://HOST7.EXAMPLE/page/5"            -> "https://host7.example/page/5",
      "https://host7.example:443/page/5"        -> "https://host7.example/page/5",
      "http://host7.example:80/page/5"          -> "http://host7.example/page/5",
      "http://host7.example:8080/page/5"        -> "http://host7.example:8080/page/5", // non-default kept
      "https://host7.example/page/5#sec2"       -> "https://host7.example/page/5",
      "https://host7.example/page/5?utm_source=feed" -> "https://host7.example/page/5",
      "https://host7.example/page/5?utm_a=1&q=2&utm_b=3" -> "https://host7.example/page/5?q=2",
      "https://host7.example/page/5/"           -> "https://host7.example/page/5",
      "https://host7.example/Page/5"            -> "https://host7.example/Page/5" // path case kept
    ).toDF("url", "want")
    val bad = cases.withColumn("got", normalizeUrl(col("url")))
      .filter(col("got") =!= col("want"))
      .select("url", "got", "want").collect()
    assert(bad.isEmpty, bad.mkString("; "))
    val groups = operators.TrainingData.urlDupGroups(
      cases.filter(!col("url").contains("8080") && !col("url").contains("Page")
          && !col("url").contains("q=2") && !col("url").startsWith("http://"))
        .select("url"), "url")
    assert(groups.count() == 1)
    assert(groups.head().getLong(1) == 6L)
  }

  test("geodesic area of the O2 arena polygon (geodesic_area.rs:53)") {
    gf.register(spark)
    val o2 = """POLYGON((0.00388383 51.501574,0.00538587 51.502278,0.00553607 51.503299,
      |0.00467777 51.504181,0.00327229 51.504435,0.00187754 51.504168,0.00087976 51.50338,
      |0.00107288 51.502324,0.00185608 51.50177,0.00388383 51.501574))""".stripMargin.replaceAll("\n", "")
    val area = spark.sql(s"SELECT st_geodesic_area(st_geomfromtext('$o2')) AS a").head().getDouble(0)
    assert(Math.abs(Math.abs(area) - 78596.0) < 40.0, s"got $area") // within 0.05%
  }
}
