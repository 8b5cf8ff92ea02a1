package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Multimodal

/** Multimodal binary-column plumbing: payload packing, metadata extraction,
  * perceptual hashing, the mapPartitions audio decode seam, and frame
  * sampling.
  */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq((1L, "hello world"), (2L, "a much longer document body here"))
    .toDF("doc_id", "text")

  test("binary payload carries exact UTF-8 bytes") {
    val df = Multimodal.withBinaryPayload(docs, "text")
    val r = df.orderBy("doc_id").select("payload").as[Array[Byte]].collect()
    assert(new String(r(0), "UTF-8") == "hello world")
  }

  test("decodeImage decodes a REAL PNG via the JDK's ImageIO") {
    val img = new java.awt.image.BufferedImage(
      123, 45, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 123; y <- 0 until 45)
      img.setRGB(x, y, (x * 7919 + y * 104729) & 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val bytes = bos.toByteArray
    assert(Multimodal.looksLikeImage(bytes))
    assert(!Multimodal.looksLikeImage("definitely not an image".getBytes("UTF-8")))
  }

  test("aHash: perceptual near-dups close, distinct images far, real PNGs") {
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 64; y <- 0 until 64) img.setRGB(x, y, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // smooth gradient; a lightly speckled copy; its inverse
    val base = png((x, y) => ((x * 4) << 16) | ((y * 4) << 8) | 128)
    val near = png((x, y) =>
      if ((x * 64 + y) % 997 == 0) 0xFFFFFF
      else ((x * 4) << 16) | ((y * 4) << 8) | 128)
    val far = png((x, y) =>
      (((63 - x) * 4) << 16) | (((63 - y) * 4) << 8) | 128)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val (hb, hn, hf) =
      (Multimodal.aHash(base), Multimodal.aHash(near), Multimodal.aHash(far))
    assert(ham(hb, hn) <= 6, s"near-dup hamming ${ham(hb, hn)} > 6")
    assert(ham(hb, hf) > 16, s"distinct images hamming ${ham(hb, hf)} too low")
    // pipeline: pigeonhole Hamming blocking finds exactly the planted pair
    val payloads = Seq((1L, base), (2L, near), (3L, far))
      .toDF("id", "payload")
    val pairs = graft.llm.Dedup.hammingPairs(
        Multimodal.perceptualHashes(payloads, "id", "payload"), "phash", "id", 6)
      .select($"idA", $"idB").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"expected only (1,2), got $pairs")
  }

  test("payload stats: byte length and checksum, no decode") {
    val df = Multimodal.withPayloadStats(
      Multimodal.withBinaryPayload(docs, "text"), "payload")
    val got = TestSpark.rows(df.orderBy("doc_id").select("n_bytes"))
    assert(got.flatten == Seq(11L, 32L))
    assert(df.schema("checksum").dataType.typeName == "long")
  }

  test("frame sampling emits n frames per payload with checksums") {
    val df = Multimodal.frameSample(
      Multimodal.withBinaryPayload(docs, "text"), "payload", n = 4, frameBytes = 4)
    assert(df.count() == 8)
    assert(df.groupBy("doc_id").count().select("count").as[Long].collect().forall(_ == 4))
  }

  test("WAV synth -> decode round trip: rate/channels/duration exact, RMS = amp/sqrt(2)") {
    val wav = Multimodal.sineWav(16000, 250, 440.0, 0.5)
    assert(Multimodal.looksLikeWav(wav))
    val m = Multimodal.decodeAudio(wav)
    assert(m.isReal && m.sampleRate == 16000 && m.channels == 1 &&
      m.bitsPerSample == 16)
    assert(m.nFrames == 4000L && m.durationMs == 250L)
    // sine RMS is amp/sqrt(2); 440 Hz over 250 ms = 110 whole cycles
    assert(math.abs(m.rmsMilli - 0.5 / math.sqrt(2) * 1000) <= 5,
      s"rms ${m.rmsMilli}")
  }

  test("non-WAV and truncated payloads take the flagged fallback, never throw") {
    val fake = Multimodal.decodeAudio("just some text".getBytes("UTF-8"))
    assert(!fake.isReal && fake.durationMs == 0L)
    val cut = Multimodal.sineWav(8000, 100, 300.0, 0.9).take(30)
    assert(!Multimodal.decodeAudio(cut).isReal) // header cut mid-fmt
    assert(Multimodal.decodeAudio(Array.emptyByteArray).isReal == false)
  }

  test("AIFF and AU payloads decode for real and agree with the WAV arm") {
    val wav = Multimodal.sineWav(16000, 250, 440.0, 0.5)
    val ref = Multimodal.decodeAudio(wav)
    for (kind <- Seq("aiff", "au")) {
      val enc = Multimodal.transcodeWav(wav, kind)
      assert(!Multimodal.looksLikeWav(enc))
      if (kind == "aiff") assert(Multimodal.looksLikeAiff(enc))
      else assert(Multimodal.looksLikeAu(enc))
      val m = Multimodal.decodeAudio(enc)
      assert(m.isReal, s"$kind not decoded for real")
      assert(m.sampleRate == ref.sampleRate && m.channels == ref.channels &&
        m.bitsPerSample == 16, s"$kind format mismatch: $m")
      assert(m.nFrames == ref.nFrames && m.durationMs == ref.durationMs,
        s"$kind frames mismatch: $m vs $ref")
      // same 16-bit samples, container-only change -> identical RMS
      assert(m.rmsMilli == ref.rmsMilli, s"$kind rms ${m.rmsMilli} vs ${ref.rmsMilli}")
    }
    // a FORM header with garbage body flags the fallback, never throws
    val junk = "FORMxxxxAIFFgarbage-not-a-chunk".getBytes("US-ASCII")
    assert(!Multimodal.decodeAudio(junk).isReal)
  }

  test("decodeAudioMetaKeyed carries ids through the partition seam") {
    val rows = Seq(
      (1L, Multimodal.sineWav(8000, 100, 500.0, 0.9)),
      (2L, "nope".getBytes("UTF-8")))
    val out = Multimodal.decodeAudioMetaKeyed(
        rows.toDF("id", "payload").repartition(2), "id", "payload")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(2), r.getLong(6), r.getBoolean(8))).toMap
    assert(out(1L) == ((8000, 100L, true)))
    assert(out(2L)._3 == false)
  }
}
