package layerbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{FlatGeom, GeomKind, Wkb}

/**
 * Seeded input generators. The same seed always gives the same inputs;
 * the engine only ever sees the generated rows.
 */
object Inputs {

  /** A closed, counter-clockwise star polygon of `n` vertices whose
    * points alternate between radius `r` and `r * 0.55`. */
  def star(cx: Double, cy: Double, r: Double, n: Int, rot: Double): FlatGeom = {
    val cs = new Array[Double](2 * (n + 1))
    var i = 0
    while (i < n) {
      val a = rot + 2 * math.Pi * i / n
      val rr = if (i % 2 == 0) r else r * 0.55
      cs(2 * i) = cx + rr * math.cos(a)
      cs(2 * i + 1) = cy + rr * math.sin(a)
      i += 1
    }
    cs(2 * n) = cs(0)
    cs(2 * n + 1) = cs(1)
    new FlatGeom(GeomKind.Polygon, cs, Array(n + 1), Array.emptyIntArray)
  }

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  def uniform(r: SplittableRandom, lo: Double, hi: Double): Double = lo + (hi - lo) * r.nextDouble()

  /** The k-th of `steps` evenly spaced values in [lo, hi]. Sizes come
    * from ladders, not from the seed: a seed moves the geometries but
    * leaves the amount of work the same, so runs with different seeds
    * stay comparable. */
  def ladder(k: Int, lo: Double, hi: Double, steps: Int): Double =
    lo + (hi - lo) * (k % steps) / (steps - 1)

  /** Region of the join inputs: the stars, probe points and kNN points. */
  final val MinLon = -30.0; final val MaxLon = 30.0
  final val MinLat = -15.0; final val MaxLat = 15.0

  /** Vertex counts of the pip phase's polygons, in turn: with 256, every
    * working set holds polygons on both sides of the engine's 128-vertex
    * prepared-polygon threshold; without, none is prepared. */
  val CrossingVertices = Seq(256, 64, 8)
  val SmallVertices = Seq(64, 16, 8)

  /** Probe polygons of the pip phase, of `verts` vertices in turn. */
  def pipStars(seed: Long, count: Int, verts: Seq[Int]): IndexedSeq[FlatGeom] = {
    val r = rng(seed, 1)
    (0 until count).map { i =>
      star(uniform(r, MinLon, MaxLon), uniform(r, MinLat, MaxLat),
        ladder(i / verts.size, 0.3, 0.9, 7), verts(i % verts.size), uniform(r, 0, math.Pi))
    }
  }

  /** Points in generation order: uniformly random, never spatially sorted. */
  def points(seed: Long, stream: Long, n: Int): Array[(Long, Double, Double)] = {
    val r = rng(seed, stream)
    Array.tabulate(n)(i => (i.toLong, uniform(r, MinLon, MaxLon), uniform(r, MinLat, MaxLat)))
  }

  /** 16-vertex stars for one side of the polygon-polygon join. */
  def smallStars(seed: Long, stream: Long, n: Int): IndexedSeq[FlatGeom] = {
    val r = rng(seed, stream)
    (0 until n).map(i => star(uniform(r, MinLon, MaxLon), uniform(r, MinLat, MaxLat),
      ladder(i, 0.05, 0.2, 7), 16, uniform(r, 0, math.Pi)))
  }

  /** Row i's polygon in the sql table: a star of 8, 16, ..., `maxVertices`
    * vertices in turn (log-uniform over the table). */
  def sqlStar(r: SplittableRandom, i: Int, cx: Double, cy: Double, maxVertices: Int): FlatGeom = {
    val sizes = Integer.numberOfTrailingZeros(maxVertices / 8) + 1
    star(cx, cy, ladder(i / sizes, 0.01, 0.5, 5), 8 << (i % sizes), uniform(r, 0, math.Pi))
  }

  // -------------------------------------------------------- DataFrames

  /** Materialise `df` in executor memory. A local checkpoint is used in
    * place of `cache()` so that clearing Spark's cache (which the kNN
    * operator's internal persists need) never drops the inputs. */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  private def parts(spark: SparkSession) = spark.sparkContext.defaultParallelism * 4

  def polygonFrame(spark: SparkSession, idCol: String, gs: Seq[FlatGeom],
      geomCol: String = "geom"): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(gs.zipWithIndex.map { case (g, i) => (i.toLong, Wkb.write(g)) },
      math.min(parts(spark), math.max(1, gs.size / 64)))
      .toDF(idCol, "wkb")
      .withColumn(geomCol, graft.sql.functions.st_geomfromwkb(col("wkb")))
      .drop("wkb")
  }

  def pointFrame(spark: SparkSession, idCol: String, lonCol: String, latCol: String,
      pts: Array[(Long, Double, Double)]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(pts.toSeq, parts(spark)).toDF(idCol, lonCol, latCol)
  }

  /** The sql workload's table: a polygon, a second 8- or 16-vertex
    * polygon near it (for relate and buffer) and a pair of points per
    * row, all from the seed. */
  def sqlTable(spark: SparkSession, seed: Long, n: Int, maxVertices: Int): DataFrame = {
    import spark.implicits._
    val r = rng(seed, 7)
    val rows = (0 until n).map { i =>
      val cx = uniform(r, -170, 170)
      val cy = uniform(r, -70, 70)
      val a = sqlStar(r, i, cx, cy, maxVertices)
      val b = star(cx + uniform(r, -0.02, 0.02), cy + uniform(r, -0.02, 0.02),
        ladder(i / 2, 0.01, 0.1, 5), 8 << (i % 2), uniform(r, 0, math.Pi))
      (i.toLong, Wkb.write(a), Wkb.write(b), cx, cy,
        uniform(r, -180, 180), uniform(r, -80, 80))
    }
    spark.sparkContext.parallelize(rows, parts(spark))
      .toDF("id", "wkb", "wkb2", "lon1", "lat1", "lon2", "lat2")
  }

  /**
   * A page corpus in the engine's corpus schema (url, warc_ts, html,
   * text, lang, id) whose two `geo:lon,lat` mentions per page are drawn
   * from the seed, so that extraction, the PIP join and tiling see new
   * coordinates for every seed.
   */
  def pages(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val langs = array(lit("en"), lit("de"), lit("fr"), lit("es"), lit("zh"))
    def coord(salt: Int, span: Long) =
      (pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(span)) - span / 2) / lit(1000.0)
    spark.range(0, n, 1, parts(spark))
      .withColumn("url", concat(lit("https://host"), pmod(col("id") * 2654435761L, lit(997L)),
        lit(".example/page/"), col("id")))
      .withColumn("warc_ts", timestamp_seconds(lit(1704067200L) + pmod(col("id") * 7919L, lit(86400L * 365))))
      .withColumn("lang", langs(pmod(col("id") * 31L, lit(5L)).cast("int")))
      .withColumn("text", concat(lit("Doc "), col("id"), lit(" in "), col("lang"),
        lit(" mentions geo:"), coord(1, 360000L), lit(","), coord(2, 170000L),
        lit(" and geo:"), coord(3, 360000L), lit(","), coord(4, 170000L), lit(" end.")))
      .withColumn("html", concat(lit("<html><head><title>"), col("id"),
        lit("</title></head><body><p>"), col("text"), lit("</p></body></html>")).cast("binary"))
      .select("url", "warc_ts", "html", "text", "lang", "id")
  }
}
