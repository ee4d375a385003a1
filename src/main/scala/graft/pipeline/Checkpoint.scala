package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path

/**
 * Iceberg-STYLE checkpoint layer (no Iceberg jar exists in the image —
 * SURVEY.md §7.3 risk 4): every pipeline stage lands as a Parquet
 * directory plus a versioned JSON manifest carrying the snapshot id
 * (a name-based UUID of the stage name and the data files' names and
 * sizes, so two writes of different rows get different ids even at
 * equal row count and schema), row count, per-partition lineage
 * (partitionId → rows) and wall time.
 * A run resumes mid-pipeline by reading any stage whose manifest is
 * already present and valid (same semantics as the north rule's
 * "checkpoint every stage ... resumable mid-pipeline").
 *
 * Manifest layout under <root>/<stage>/:
 *   data/               parquet files
 *   manifest.json       {"stage","snapshot_id","row_count",
 *                        "partitions":[{"id":0,"rows":n},...],
 *                        "wall_ms":..., "rows_per_sec":..., "schema":"..."}
 */
final class Checkpoint(spark: SparkSession, root: String) {

  private def stageDir(stage: String) = s"$root/$stage"
  private def dataDir(stage: String) = s"${stageDir(stage)}/data"
  private def manifestPath(stage: String) = new Path(stageDir(stage), "manifest.json")

  // Manifests go through the Hadoop FileSystem API (like the stage
  // data), NOT java.nio — so resume works identically on file://,
  // hdfs:// and s3a:// roots.
  private def fs(p: Path) = p.getFileSystem(spark.sessionState.newHadoopConf())

  def exists(stage: String): Boolean = {
    val p = manifestPath(stage)
    fs(p).exists(p)
  }

  def read(stage: String): DataFrame = spark.read.parquet(dataDir(stage))

  def readManifest(stage: String): String = {
    val p = manifestPath(stage)
    val in = fs(p).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Run `build` unless this stage is already checkpointed; either way
    * return the stage's DataFrame (always served from Parquet so
    * downstream stages never recompute upstream lineage). */
  def stage(stageName: String)(build: => DataFrame): DataFrame = {
    if (exists(stageName)) return read(stageName)
    val t0 = System.nanoTime()
    val df = build
    df.write.mode("overwrite").parquet(dataDir(stageName))
    val wallMs = (System.nanoTime() - t0) / 1000000
    val persisted = read(stageName)
    // per-partition lineage straight from the parquet footers — no
    // extra scan of the stage data (row counts live in file metadata)
    val parts = dataFiles(stageName)
    val rowCount = parts.map(_.rows).sum
    val partJson = parts.map(f => s"""{"id":${f.id},"rows":${f.rows}}""")
      .mkString("[", ",", "]")
    val snapshotId = java.util.UUID.nameUUIDFromBytes(
      parts.map(f => s"${f.name}:${f.bytes}").mkString(s"$stageName:", ",", "").getBytes("UTF-8")).toString
    // clamp to 1 ms so a sub-millisecond stage reports its true order
    // of magnitude instead of silently dividing by zero wall time
    val rowsPerSec = rowCount * 1000L / Math.max(wallMs, 1L)
    val manifest =
      s"""{"stage":"$stageName","snapshot_id":"$snapshotId","row_count":$rowCount,
         |"partitions":$partJson,"wall_ms":$wallMs,"rows_per_sec":$rowsPerSec,
         |"schema":"${persisted.schema.catalogString.replace("\"", "'")}"}""".stripMargin
    // written beside the manifest and renamed into place, so a crash
    // mid-write leaves no manifest (the stage rebuilds), never a torn one
    val mp = manifestPath(stageName)
    val tmp = new Path(mp.getParent, "manifest.json.tmp")
    val mfs = fs(mp)
    mfs.mkdirs(mp.getParent)
    val out = mfs.create(tmp, true)
    try out.write(manifest.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!mfs.rename(tmp, mp))
      throw new java.io.IOException(s"checkpoint: could not rename $tmp to $mp")
    persisted
  }

  /** The stage's data files, sorted by name, with their sizes and
    * per-file (= per-written-partition) row counts from parquet
    * footers, read with a bounded thread pool: the footer scan is
    * driver-side work between stages, and reading hundreds of footers
    * serially is a fixed cost that erodes scaling efficiency exactly
    * when task counts (= files) grow with the executor count. */
  private def dataFiles(stage: String): Seq[Checkpoint.DataFile] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val dirPath = new Path(dataDir(stage))
    val files = fs(dirPath).listStatus(dirPath)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Math.max(1, Math.min(16, files.length)))
    try {
      val futures = files.zipWithIndex.map { case (f, i) =>
        pool.submit(new java.util.concurrent.Callable[Checkpoint.DataFile] {
          override def call(): Checkpoint.DataFile = {
            val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
              conf, f.getPath,
              org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
            Checkpoint.DataFile(i, f.getPath.getName, f.getLen,
              footer.getBlocks.asScala.map(_.getRowCount).sum)
          }
        })
      }
      futures.map(_.get()).toSeq
    } finally pool.shutdown()
  }

  /** Row counts per stage from manifests (for throughput reporting). */
  def stageRows(stage: String): Long = {
    val m = readManifest(stage)
    """"row_count":(\d+)""".r.findFirstMatchIn(m).map(_.group(1).toLong).getOrElse(-1L)
  }
}

object Checkpoint {
  /** One parquet file of a stage: its index in name order, name, size
    * in bytes and row count. */
  private final case class DataFile(id: Int, name: String, bytes: Long, rows: Long)
}
