package graft.pipeline

import java.nio.{ByteBuffer, ByteOrder}

/**
 * Real (non-stub) audio codec in pure Scala: RIFF/WAVE PCM — the
 * canonical container (RIFF header, chunk iteration with unknown
 * chunks skipped, `fmt ` with audioFormat=1, little-endian `data`),
 * 8-bit unsigned and 16-bit signed samples, any channel count
 * (interleaved frames). `decode` really parses container bytes;
 * video has no codec (a real video decoder is out of scope by
 * declaration).
 *
 * Decoded samples are SIGNED AND CENTERED regardless of storage
 * width: 8-bit unsigned storage maps v → v − 128, 16-bit is the
 * stored signed value — so downstream statistics are comparable
 * across widths. Everything is a pure function of the payload.
 */
object AudioCodecs {

  /** Interleaved signed samples (channel-major within each frame). */
  final case class DecodedAudio(sampleRate: Int, channels: Int,
      bitsPerSample: Int, samples: Array[Int]) {
    require(channels > 0 && samples.length % channels == 0)
    def frames: Int = samples.length / channels
  }

  /** Encode as RIFF/WAVE PCM. `extraChunk` optionally inserts a
    * LIST chunk before `data` — real files carry metadata chunks a
    * correct reader must skip. */
  def encodeWav(audio: DecodedAudio, extraChunk: Boolean = false): Array[Byte] = {
    val bytesPerSample = audio.bitsPerSample / 8
    require(audio.bitsPerSample == 8 || audio.bitsPerSample == 16,
      "wav: only 8/16-bit PCM")
    val dataSize = audio.samples.length * bytesPerSample
    val listPayload = "INFOgraft-synthetic".getBytes("US-ASCII")
    // RIFF word alignment: an odd-sized chunk carries one pad byte
    // AFTER its payload (not counted in the declared size)
    val listPad = listPayload.length & 1
    val listSize = if (extraChunk) 8 + listPayload.length + listPad else 0
    val riffSize = 4 + 24 + listSize + 8 + dataSize
    val buf = ByteBuffer.allocate(8 + riffSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
      .put("WAVE".getBytes("US-ASCII"))
    // fmt chunk (PCM)
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // audioFormat = PCM
      .putShort(audio.channels.toShort)
      .putInt(audio.sampleRate)
      .putInt(audio.sampleRate * audio.channels * bytesPerSample) // byte rate
      .putShort((audio.channels * bytesPerSample).toShort) // block align
      .putShort(audio.bitsPerSample.toShort)
    if (extraChunk) {
      buf.put("LIST".getBytes("US-ASCII")).putInt(listPayload.length).put(listPayload)
      if (listPad == 1) buf.put(0.toByte)
    }
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < audio.samples.length) {
      if (bytesPerSample == 1) buf.put(((audio.samples(i) + 128) & 0xff).toByte)
      else buf.putShort(audio.samples(i).toShort)
      i += 1
    }
    buf.array()
  }

  /** Parse RIFF/WAVE PCM; IllegalArgumentException on malformed or
    * unsupported payloads (compressed formats, odd bit widths). */
  def decodeWav(payload: Array[Byte]): DecodedAudio = {
    require(payload.length >= 12, "wav: truncated RIFF header")
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4)
    buf.get(magic)
    require(new String(magic, "US-ASCII") == "RIFF", "wav: not a RIFF container")
    buf.getInt() // riff size (trust actual chunk lengths below)
    buf.get(magic)
    require(new String(magic, "US-ASCII") == "WAVE", "wav: not a WAVE form")
    var sampleRate = -1; var channels = -1; var bits = -1
    var samples: Array[Int] = null
    // chunk iteration: unknown chunks (LIST, fact, cue …) skip by
    // their declared size; chunks are word-aligned (odd sizes pad)
    while (buf.remaining() >= 8 && samples == null) {
      buf.get(magic)
      val id = new String(magic, "US-ASCII")
      val size = buf.getInt()
      require(size >= 0 && size <= buf.remaining(), s"wav: bad chunk size $size for '$id'")
      id match {
        case "fmt " =>
          require(size >= 16, "wav: fmt chunk too small")
          val start = buf.position()
          val audioFormat = buf.getShort()
          require(audioFormat == 1, s"wav: only PCM supported, got format $audioFormat")
          channels = buf.getShort()
          sampleRate = buf.getInt()
          buf.getInt() // byte rate
          buf.getShort() // block align
          bits = buf.getShort()
          require(bits == 8 || bits == 16, s"wav: only 8/16-bit PCM, got $bits")
          require(channels > 0, "wav: non-positive channel count")
          buf.position(start + size + (size & 1))
        case "data" =>
          require(bits > 0, "wav: data chunk before fmt")
          val bytesPerSample = bits / 8
          require(size % bytesPerSample == 0, "wav: data size not sample-aligned")
          val n = size / bytesPerSample
          require((n / math.max(channels, 1)) * channels == n,
            "wav: data not frame-aligned")
          samples = new Array[Int](n)
          var i = 0
          while (i < n) {
            samples(i) =
              if (bytesPerSample == 1) (buf.get() & 0xff) - 128
              else buf.getShort().toInt
            i += 1
          }
        case _ =>
          buf.position(buf.position() + size + (size & 1)) // skip + pad
      }
    }
    require(samples != null, "wav: missing data chunk")
    DecodedAudio(sampleRate, channels, bits, samples)
  }
}
