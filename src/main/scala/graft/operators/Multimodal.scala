package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal columns: image/audio/video payloads ride as opaque
 * `binary` columns with typed metadata, processed by batch-shaped
 * per-partition transforms (the Scala analogue of Python's
 * `mapInPandas` batches). The Spark-side plumbing — schema, batch
 * iteration, partitioning, metadata propagation — is real and tested.
 *
 * Codec status: IMAGES decode for real (`pipeline/ImageCodecs` —
 * PPM P6/P3, 24-bit BMP, PNG (inflate/defilter/CRC), GIF (LZW), pure
 * Scala/JDK) and AUDIO decodes for real (`pipeline/AudioCodecs` —
 * RIFF/WAVE PCM); both are oracle-certified end-to-end (q_img_decode /
 * q_lof_media / q_wav_decode). VIDEO has no codec in this library:
 * only the frame-sampling plumbing (`sampleFrames`, offsets from the
 * metadata, oracle-tested by q_frames) is provided.
 */
object Multimodal {

  /** Canonical media schema: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("payload", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("frames", IntegerType))), nullable = false)))

  /** Deterministic synthetic media corpus (payload = f(media_id)). */
  def syntheticMedia(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n)
      .select(
        col("id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("id"), lit(3L)) + 1).cast("int")).as("kind"),
        // payload: deterministic bytes from the id
        sha2(concat(lit("media"), col("id")), 256).cast("binary").as("payload"),
        struct(
          (pmod(col("id") * 37, lit(1920L)) + 16).cast("int").as("width"),
          (pmod(col("id") * 53, lit(1080L)) + 16).cast("int").as("height"),
          lit(16000).as("sample_rate"),
          (pmod(col("id") * 7, lit(300L)) + 1).cast("int").as("frames")).as("meta"))
  }

  // ===================== REAL-CODEC PATH (images) =====================

  /**
   * Deterministic synthetic image corpus with REAL encoded payloads:
   * media_id i gets a (8 + i%9) × (6 + i%7) image whose byte stream
   * is v(j) = (i·31 + j·7) mod 256 (row-major RGB), encoded as P6 /
   * P3 / BMP / PNG / GIF by i mod 5 (the PNG goes through deflate +
   * CRC for real, the GIF through a palette + LZW; formula images
   * have ≤ w·h ≤ 192 distinct colors, inside GIF's 256-entry
   * limit). Because the pixel values are closed-form in
   * (id, pixel index), a SQL oracle can replay any pixel statistic
   * WITHOUT parsing bytes — while the engine path must genuinely
   * parse headers, skip padding, flip bottom-up rows, reorder BGR,
   * inflate and defilter, which is exactly what the oracle match
   * certifies.
   */
  def syntheticImages(spark: SparkSession, n: Long): DataFrame = {
    import graft.pipeline.ImageCodecs
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("fmt", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    spark.range(0, n).select(col("id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = 8 + (id % 9).toInt
        val h = 6 + (id % 7).toInt
        val rgb = new Array[Byte](w * h * 3)
        var j = 0
        while (j < rgb.length) { rgb(j) = ((id * 31 + j * 7) % 256).toByte; j += 1 }
        val img = ImageCodecs.DecodedImage(w, h, rgb)
        (id % 5) match {
          case 0 => Row(id, "p6", ImageCodecs.encodePpm(img))
          case 1 => Row(id, "p3", ImageCodecs.encodePpmAscii(img))
          case 2 => Row(id, "bmp", ImageCodecs.encodeBmp(img))
          case 3 => Row(id, "png", ImageCodecs.encodePng(img))
          case _ => Row(id, "gif", ImageCodecs.encodeGif(img))
        }
      }
    }(enc)
  }

  /**
   * REAL decode → per-image pixel statistics: width/height from the
   * parsed header and exact integer channel sums from the decoded
   * pixels (order-free, SQL-replayable). Runs in the per-partition
   * batch shape (one decoder context per batch).
   */
  def decodeImageStats(media: DataFrame, idCol: String = "media_id",
      payloadCol: String = "payload"): DataFrame = {
    import graft.pipeline.ImageCodecs
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("sum_r", LongType, nullable = false),
      StructField("sum_g", LongType, nullable = false),
      StructField("sum_b", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select(col(idCol).cast("long"), col(payloadCol)).mapPartitions { rows =>
      rows.map { r =>
        val img = ImageCodecs.decode(r.getAs[Array[Byte]](1))
        var sr = 0L; var sg = 0L; var sb = 0L
        var j = 0
        while (j < img.rgb.length) {
          sr += img.rgb(j) & 0xff
          sg += img.rgb(j + 1) & 0xff
          sb += img.rgb(j + 2) & 0xff
          j += 3
        }
        Row(r.getLong(0), img.width, img.height, sr, sg, sb)
      }
    }(enc)
  }

  // ====================== REAL-CODEC PATH (audio) ======================

  /**
   * Deterministic synthetic audio corpus with REAL RIFF/WAVE PCM
   * payloads: media_id i gets (1 + i%2) channels, (8 or 16)-bit
   * storage by parity, sample rate 8000 + (i%5)·1000, 64 + i%97
   * frames, and interleaved sample j =
   * ((i·37 + j·11) mod 256) − 128 (8-bit) or mod 4096 − 2048
   * (16-bit). Every third file carries a LIST metadata chunk the
   * decoder must skip — the closed-form samples let a SQL oracle
   * certify the container parse without touching bytes (the
   * [[syntheticImages]] trick on the audio axis).
   */
  def syntheticAudio(spark: SparkSession, n: Long): DataFrame = {
    import graft.pipeline.AudioCodecs
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    spark.range(0, n).select(col("id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val channels = 1 + (id % 2).toInt
        val bits = if (id % 2 == 0) 8 else 16
        val frames = 64 + (id % 97).toInt
        val total = frames * channels
        val samples = new Array[Int](total)
        var j = 0
        while (j < total) {
          samples(j) =
            if (bits == 8) ((id * 37 + j * 11) % 256).toInt - 128
            else ((id * 37 + j * 11) % 4096).toInt - 2048
          j += 1
        }
        val audio = AudioCodecs.DecodedAudio(8000 + (id % 5).toInt * 1000,
          channels, bits, samples)
        Row(id, AudioCodecs.encodeWav(audio, extraChunk = id % 3 == 0))
      }
    }(enc)
  }

  /** REAL WAV decode → per-file integer statistics over the decoded
    * (signed, centered) samples: order-free sums plus extremes, all
    * SQL-replayable from the closed form. */
  def decodeAudioStats(media: DataFrame, idCol: String = "media_id",
      payloadCol: String = "payload"): DataFrame = {
    import graft.pipeline.AudioCodecs
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("bits", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("sum_samples", LongType, nullable = false),
      StructField("sum_abs", LongType, nullable = false),
      StructField("s_min", IntegerType, nullable = false),
      StructField("s_max", IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select(col(idCol).cast("long"), col(payloadCol)).mapPartitions { rows =>
      rows.map { r =>
        val a = AudioCodecs.decodeWav(r.getAs[Array[Byte]](1))
        var sum = 0L; var sabs = 0L
        var mn = Int.MaxValue; var mx = Int.MinValue
        var j = 0
        while (j < a.samples.length) {
          val v = a.samples(j)
          sum += v; sabs += math.abs(v)
          if (v < mn) mn = v
          if (v > mx) mx = v
          j += 1
        }
        Row(r.getLong(0), a.sampleRate, a.channels, a.bitsPerSample,
          a.frames, sum, sabs, mn, mx)
      }
    }(enc)
  }

  /** Frame sampling for videos: one row per sampled frame offset.
    * Pure column expression (sequence + transform stay inside
    * whole-stage codegen): offset i of n = floor(i * frames / n). */
  def sampleFrames(media: DataFrame, n: Int): DataFrame = {
    val frames = col("meta.frames").cast("long")
    val offsets =
      if (n <= 0) array().cast("array<int>")
      else when(frames <= 0, array().cast("array<int>"))
        .otherwise(transform(sequence(lit(0L), lit(n - 1L)),
          i => floor(i * frames / lit(n.toLong)).cast("int")))
    media.filter(col("kind") === "video")
      .withColumn("frame_offset", explode(offsets))
      .select("media_id", "frame_offset", "payload")
  }
}
