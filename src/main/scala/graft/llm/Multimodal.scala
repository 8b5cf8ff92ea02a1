package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video travel as opaque `binary`
  * columns with typed metadata alongside. The Spark-side machinery — schema,
  * partitioning, batch shape, metadata extraction — is real; codecs beyond
  * what the JDK decodes (ImageIO images, PCM/AIFF/AU audio) fall back to
  * deterministic fakes because no media libraries ship with the engine.
  */
object Multimodal {

  /** Pack a string column into a binary payload column (UTF-8). In
    * production the payload arrives as real image/audio bytes from parquet
    * `binary` columns; this is the test-data adapter.
    */
  def withBinaryPayload(df: DataFrame, srcCol: String,
                        out: String = "payload"): DataFrame =
    df.withColumn(out, encode(col(srcCol), "UTF-8"))

  /** Cheap metadata that needs no decode — byte length and content checksum —
    * as pure codegen'd expressions. This is the path that should handle the
    * first 100 TB pass: decode only what survives the metadata filters.
    */
  def withPayloadStats(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("n_bytes", length(col(binCol)).cast("long"))
      .withColumn("checksum", xxhash64(col(binCol)))

  // no disk-backed ImageIO cache files on executors — decode stays in-memory
  javax.imageio.ImageIO.setUseCache(false)

  /** True for payloads carrying a real image container signature
    * (PNG/JPEG/GIF/BMP) — the cheap pre-filter that keeps non-image payloads
    * from paying an ImageIO reader probe.
    */
  def looksLikeImage(b: Array[Byte]): Boolean =
    b.length >= 4 && (
      (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
      (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte) ||
      (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') ||
      (b(0) == 'B' && b(1) == 'M'))

  /** 64-bit perceptual average-hash (aHash): scale to an 8x8 grayscale
    * grid, bit k set iff cell k's luminance exceeds the grid mean. Small
    * visual edits move few bits, so near-duplicate images sit within a
    * small Hamming distance — [[Dedup.hammingPairs]] over
    * [[perceptualHashes]] reuses the pigeonhole SimHash blocking. Real
    * image containers hash through the JDK decode + area-average scaling;
    * other payloads fall back to a deterministic 64-byte-bucket variant so
    * the machinery runs on any fixture.
    */
  def aHash(bytes: Array[Byte]): Long = {
    val real =
      if (looksLikeImage(bytes))
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        catch { case _: java.io.IOException => None }
      else None
    real match {
      case Some(im) =>
        val small = new java.awt.image.BufferedImage(8, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = small.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(im, 0, 0, 8, 8, null)
        } finally g.dispose()
        val gray = new Array[Double](64)
        var k = 0
        while (k < 64) {
          val rgb = small.getRGB(k % 8, k / 8)
          gray(k) = 0.299 * ((rgb >> 16) & 0xFF) +
            0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
          k += 1
        }
        val mean = gray.sum / 64.0
        var h = 0L
        k = 0
        while (k < 64) { if (gray(k) > mean) h |= 1L << k; k += 1 }
        h
      case None if bytes.isEmpty => 0L
      case None =>
        // deterministic fallback: 64 byte-buckets vs the overall mean
        val sums = new Array[Long](64)
        val ns   = new Array[Long](64)
        var i = 0
        while (i < bytes.length) {
          val b = (i * 64L / bytes.length).toInt
          sums(b) += bytes(i) & 0xFF
          ns(b) += 1
          i += 1
        }
        var total = 0L
        var k = 0
        while (k < 64) { total += sums(k); k += 1 }
        val mean = total.toDouble / bytes.length
        var h = 0L
        k = 0
        while (k < 64) {
          if (ns(k) > 0 && sums(k).toDouble / ns(k) > mean) h |= 1L << k
          k += 1
        }
        h
    }
  }

  /** Per-payload perceptual hashes via the partition-batch decode seam:
    * (id, phash) rows — 8 bytes per image into the dedup shuffle, never
    * the payload.
    */
  def perceptualHashes(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) => (id, aHash(b)) })
      .toDF(idCol, "phash")
  }

  /** Typed audio metadata. `rmsMilli` is the root-mean-square amplitude
    * normalized to full scale, in thousandths (integer — engine-portable);
    * `isReal` marks payloads decoded from an actual WAV container vs the
    * deterministic fallback.
    */
  final case class AudioMeta(nBytes: Long, sampleRate: Int, channels: Int,
                             bitsPerSample: Int, nFrames: Long,
                             durationMs: Long, rmsMilli: Long, isReal: Boolean)

  /** True for payloads carrying a RIFF/WAVE container signature. */
  def looksLikeWav(b: Array[Byte]): Boolean =
    b.length >= 12 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** True for FORM/AIFF (and AIFC) container signatures. */
  def looksLikeAiff(b: Array[Byte]): Boolean =
    b.length >= 12 &&
      b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M' &&
      b(8) == 'A' && b(9) == 'I' && b(10) == 'F' &&
      (b(11) == 'F' || b(11) == 'C')

  /** True for Sun/NeXT AU (".snd" magic) payloads. */
  def looksLikeAu(b: Array[Byte]): Boolean =
    b.length >= 4 &&
      b(0) == '.' && b(1) == 's' && b(2) == 'n' && b(3) == 'd'

  /** Transcode a WAV payload to another JDK-writable container (AIFF or
    * AU) — the deterministic fixture generator for the non-RIFF decode
    * arms; pure `javax.sound.sampled`, no external codec.
    */
  def transcodeWav(wav: Array[Byte], kind: String): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioSystem}
    val tpe = kind match {
      case "aiff" => AudioFileFormat.Type.AIFF
      case "au"   => AudioFileFormat.Type.AU
      case other  => throw new IllegalArgumentException(
        s"unsupported transcode target: $other (aiff | au)")
    }
    val ais = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val bos = new java.io.ByteArrayOutputStream()
    try AudioSystem.write(ais, tpe, bos) finally ais.close()
    bos.toByteArray
  }

  /** Synthesize a mono 16-bit PCM WAV sine tone — the deterministic
    * test-payload generator (the audio twin of the generated PNGs in
    * MultimodalSpec). Pure JDK; produces a fully standard RIFF container
    * that any real audio stack reads back.
    */
  def sineWav(sampleRate: Int, millis: Int, freqHz: Double,
              amplitude: Double): Array[Byte] = {
    val nFrames = sampleRate.toLong * millis / 1000
    val dataLen = (nFrames * 2).toInt
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes); buf.putInt(36 + dataLen)
    buf.put("WAVE".getBytes)
    buf.put("fmt ".getBytes); buf.putInt(16)
    buf.putShort(1); buf.putShort(1)                 // PCM, mono
    buf.putInt(sampleRate); buf.putInt(sampleRate * 2)
    buf.putShort(2); buf.putShort(16)                // block align, bits
    buf.put("data".getBytes); buf.putInt(dataLen)
    var i = 0L
    while (i < nFrames) {
      val s = amplitude * math.sin(2 * math.Pi * freqHz * i / sampleRate)
      buf.putShort(math.round(s * 32767).toShort)
      i += 1
    }
    buf.array()
  }

  /** Decode one audio payload. Real RIFF/WAVE PCM payloads parse with
    * plain JDK byte handling (the audio twin of [[aHash]]'s
    * ImageIO arm — format/rate/channels/duration from the fmt chunk, RMS
    * loudness from the 16-bit samples; no external audio libs needed for
    * the PCM family). AIFF/AIFC and Sun AU payloads decode through
    * `javax.sound.sampled` (also pure JDK) to the same metadata and the
    * same 16-bit RMS. Everything else gets deterministic fake metadata
    * from the payload hash with `isReal = false`, so the partition-batch
    * machinery is exercised on any fixture. An ffmpeg binding for
    * compressed codecs would replace only the fallback arm.
    */
  def decodeAudio(bytes: Array[Byte]): AudioMeta = {
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    if (looksLikeAiff(bytes) || looksLikeAu(bytes))
      return decodeViaSampledApi(bytes)
    if (!looksLikeWav(bytes))
      return AudioMeta(bytes.length.toLong, h.toInt.abs % 48000 + 8000, 1, 16,
        math.floorMod(h, 100000L), 0L, 0L, isReal = false)
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var rate = 0; var channels = 0; var bits = 0
    var dataOff = -1; var dataLen = 0
    while (pos + 8 <= bytes.length) {
      val id = new String(bytes, pos, 4, "US-ASCII")
      val len = buf.getInt(pos + 4)
      if (id == "fmt " && pos + 24 <= bytes.length) {
        channels = buf.getShort(pos + 10).toInt
        rate = buf.getInt(pos + 12)
        bits = buf.getShort(pos + 22).toInt
      } else if (id == "data") {
        dataOff = pos + 8
        dataLen = math.min(len, bytes.length - dataOff)
      }
      pos += 8 + len + (len & 1) // chunks are word-aligned
    }
    if (rate <= 0 || channels <= 0 || bits != 16 || dataOff < 0)
      return AudioMeta(bytes.length.toLong, rate, channels, bits, 0L, 0L, 0L,
        isReal = false)
    val nFrames = dataLen.toLong / (2 * channels)
    var sumSq = 0.0
    var k = dataOff
    val end = dataOff + dataLen - 1
    while (k < end) {
      val s = buf.getShort(k) / 32768.0
      sumSq += s * s
      k += 2
    }
    val nSamples = dataLen / 2
    val rms = if (nSamples == 0) 0.0 else math.sqrt(sumSq / nSamples)
    AudioMeta(bytes.length.toLong, rate, channels, bits, nFrames,
      nFrames * 1000 / rate, math.round(rms * 1000), isReal = true)
  }

  /** AIFF/AU arm of [[decodeAudio]]: `javax.sound.sampled` container
    * parse, then a 16-bit signed PCM conversion so the RMS is computed
    * over exactly the same normalized samples as the hand-rolled WAV
    * arm (a 16-bit AIFF of the same tone yields the identical rmsMilli).
    * Unparseable payloads fall through to `isReal = false`.
    */
  private def decodeViaSampledApi(bytes: Array[Byte]): AudioMeta = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    try {
      val src = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val f = src.getFormat
        val target = new AudioFormat(
          f.getSampleRate, 16, f.getChannels, true, false)
        val pcm = AudioSystem.getAudioInputStream(target, src)
        try {
          val data = pcm.readAllBytes()
          val rate = math.round(f.getSampleRate)
          val channels = f.getChannels
          val bb = java.nio.ByteBuffer.wrap(data)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var sumSq = 0.0
          var k = 0
          while (k + 1 < data.length) {
            val s = bb.getShort(k) / 32768.0
            sumSq += s * s
            k += 2
          }
          val nSamples = data.length / 2
          val nFrames = nSamples.toLong / channels
          val rms = if (nSamples == 0) 0.0 else math.sqrt(sumSq / nSamples)
          AudioMeta(bytes.length.toLong, rate, channels,
            f.getSampleSizeInBits, nFrames,
            if (rate > 0) nFrames * 1000 / rate else 0L,
            math.round(rms * 1000), isReal = true)
        } finally pcm.close()
      } finally src.close()
    } catch {
      case scala.util.control.NonFatal(_) =>
        AudioMeta(bytes.length.toLong, 0, 0, 0, 0L, 0L, 0L, isReal = false)
    }
  }

  /** Decode audio payloads to (id, all AudioMeta fields) rows with
    * per-partition batching — the mapPartitions seam where a heavier codec
    * binding plugs in — ready to join back to the payload table's planted
    * truth or downstream filters.
    */
  def decodeAudioMetaKeyed(df: DataFrame, idCol: String,
                           binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val m = decodeAudio(b)
        (id, m.nBytes, m.sampleRate, m.channels, m.bitsPerSample,
          m.nFrames, m.durationMs, m.rmsMilli, m.isReal)
      })
      .toDF(idCol, "n_bytes", "sample_rate", "channels", "bits",
        "n_frames", "duration_ms", "rms_milli", "is_real")
  }

  /** Sample up to `n` evenly spaced fixed-size "frames" from each payload —
    * the video-frame-sampling access pattern, on fake frames (byte slices).
    * Emits (frame_idx, frame, frame_checksum) per sampled frame.
    */
  def frameSample(df: DataFrame, binCol: String, n: Int,
                  frameBytes: Int = 16): DataFrame = {
    val total  = length(col(binCol))
    val stride = greatest(floor(total / lit(n)).cast("int"), lit(1))
    df.select(df.columns.map(col) :+
        posexplode(transform(sequence(lit(0), lit(n - 1)),
          i => substring(col(binCol), (i * stride + 1).cast("int"), lit(frameBytes))))
          .as(Seq("frame_idx", "frame")): _*)
      .withColumn("frame_idx", col("frame_idx").cast("long"))
      .withColumn("frame_checksum", xxhash64(col("frame")))
  }
}
