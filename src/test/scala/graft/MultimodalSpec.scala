package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaCodec, MediaFixture}
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("audio RMS matches a brute-force sample recompute from the filler") {
    import spark.implicits._
    for (id <- Seq(0L, 1L, 5L, 1234L)) {
      val ch = MediaFixture.wavChannels(id); val n = MediaFixture.wavSamples(id)
      val vals = (0 until n * ch).map { k =>
        val lo = ((id * 3 + 2 * k) % 256).toInt
        val hi = ((id * 3 + 2 * k + 1) % 256).toInt
        val raw = lo + 256 * hi
        if (raw >= 32768) raw - 65536 else raw
      }
      val wantRms = math.sqrt(vals.map(v => v.toDouble * v).sum / vals.length)
      val wantPeak = vals.map(math.abs).max.toLong
      val got = Multimodal.audioStats(spark,
          Seq((id, MediaFixture.wav(id))).toDF("doc_id", "payload")).head
      assert(got.getLong(1) == (n * ch).toLong)
      assert(math.abs(got.getDouble(2) - wantRms) < 1e-9)
      assert(got.getLong(3) == wantPeak)
    }
  }

  test("image channel means match a brute-force padding-free recompute") {
    import spark.implicits._
    for (id <- Seq(0L, 3L, 63L, 500L)) {
      val bytes = MediaFixture.bmp(id)
      val w = MediaFixture.bmpWidth(id); val h = MediaFixture.bmpHeight(id)
      val rowSize = ((3 * w + 3) / 4) * 4
      val sums = new Array[Long](3)
      for (y <- 0 until h; j <- 0 until 3 * w)
        sums(j % 3) += bytes(54 + y * rowSize + j) & 0xff
      val got = Multimodal.imageChannelStats(spark,
          Seq((id, bytes)).toDF("doc_id", "payload")).head
      assert(got.getLong(1) == w.toLong * h)
      (0 until 3).foreach(c =>
        assert(math.abs(got.getDouble(2 + c) - sums(c).toDouble / (w * h)) < 1e-9))
    }
  }

  test("permissive decode: typed category per corruption layer, ok == strict") {
    val clean = MediaFixture.bmp(7L)
    // a clean payload decodes Right with the strict decoder's tuple
    assert(MediaCodec.decodeBmpPermissive(clean) ===
      Right(MediaCodec.decodeBmp(clean)))
    // layered corruptions hit their own category, not a JVM throw
    assert(MediaCodec.decodeBmpPermissive(clean.take(10)) === Left("truncated_header"))
    val badMagic = clean.clone(); badMagic(0) = 'X'.toByte
    assert(MediaCodec.decodeBmpPermissive(badMagic) === Left("bad_magic"))
    val badDib = clean.clone(); badDib(14) = 99.toByte
    assert(MediaCodec.decodeBmpPermissive(badDib) === Left("bad_dib"))
    val badOff = clean.clone(); badOff(10) = 1.toByte // bfOffBits < 54
    assert(MediaCodec.decodeBmpPermissive(badOff) === Left("bad_pixel_offset"))
    // valid header, pixel array cut short
    assert(MediaCodec.decodeBmpPermissive(clean.dropRight(1)) ===
      Left("truncated_pixels"))
    // adversarial dimensions near 2^31: the Long size math would
    // overflow negative and mis-classify a truncated blob as "ok"
    // (ADVICE r10) — must be bad_dimensions, not ok
    val huge = clean.clone()
    val hb = java.nio.ByteBuffer.wrap(huge).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hb.putInt(18, 0x7FFF0000); hb.putInt(22, 0x7FFF0000)
    assert(MediaCodec.decodeBmpPermissive(huge) === Left("bad_dimensions"))
    // one bad blob must not take down its batch
    import spark.implicits._
    val rows = Multimodal.decodeImagesPermissive(spark,
        Seq((1L, clean), (2L, clean.take(10)), (3L, badMagic))
          .toDF("doc_id", "payload")).collect().sortBy(_.doc_id)
    assert(rows.map(_.status).toSeq === Seq("ok", "truncated_header", "bad_magic"))
    assert(rows.head.width === MediaFixture.bmpWidth(7L).toLong)
  }

  test("permissive WAV decode: typed category per corruption layer, ok == strict") {
    val clean = MediaFixture.wav(9L)
    val strict = MediaCodec.decodeWav(clean)
    assert(MediaCodec.decodeWavPermissive(clean) ===
      Right((strict._2, strict._3, strict._4, strict._5)))
    assert(MediaCodec.decodeWavPermissive(clean.take(10)) === Left("truncated_header"))
    val badRiff = clean.clone(); badRiff(0) = 'X'.toByte
    assert(MediaCodec.decodeWavPermissive(badRiff) === Left("bad_riff"))
    val badWave = clean.clone(); badWave(8) = 'X'.toByte
    assert(MediaCodec.decodeWavPermissive(badWave) === Left("bad_wave"))
    val notPcm = clean.clone(); notPcm(20) = 2.toByte
    assert(MediaCodec.decodeWavPermissive(notPcm) === Left("not_pcm"))
    assert(MediaCodec.decodeWavPermissive(clean.dropRight(1)) === Left("truncated_data"))
    // adversarial field claims are rejected BEFORE any size math
    val badCh = clean.clone()
    java.nio.ByteBuffer.wrap(badCh).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(22, 0x7FFF.toShort)
    assert(MediaCodec.decodeWavPermissive(badCh) === Left("bad_format"))
    // one bad blob must not take down its batch
    import spark.implicits._
    val rows = Multimodal.decodeAudioPermissive(spark,
        Seq((1L, clean), (2L, clean.take(10)), (3L, notPcm))
          .toDF("doc_id", "payload")).collect().sortBy(_.doc_id)
    assert(rows.map(_.status).toSeq === Seq("ok", "truncated_header", "not_pcm"))
    assert(rows.head.channels === MediaFixture.wavChannels(9L).toLong)
  }

  test("permissive AVI decode: typed category per corruption layer, ok == strict") {
    val clean = MediaFixture.avi(11L)
    val strict = MediaCodec.decodeAviSampled(clean)
    assert(MediaCodec.decodeAviPermissive(clean) ===
      Right((strict._1, strict._2, strict._3, strict._4)))
    assert(MediaCodec.decodeAviPermissive(clean.take(10)) === Left("truncated_header"))
    val badRiff = clean.clone(); badRiff(0) = 'X'.toByte
    assert(MediaCodec.decodeAviPermissive(badRiff) === Left("bad_riff"))
    val badChunk = clean.clone(); badChunk(100) = 'X'.toByte
    assert(MediaCodec.decodeAviPermissive(badChunk) === Left("bad_chunk"))
    assert(MediaCodec.decodeAviPermissive(clean.dropRight(1)) === Left("truncated_frame"))
    // an adversarial chunk size must be a category, not a throw from
    // the buffer seek (the strict parser's failure mode)
    val badSz = clean.clone()
    java.nio.ByteBuffer.wrap(badSz).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(104, Int.MaxValue)
    assert(MediaCodec.decodeAviPermissive(badSz) === Left("truncated_frame"))
    // a header that over-declares frames: the walk ends clean but short
    val overFrames = clean.clone()
    java.nio.ByteBuffer.wrap(overFrames).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(48, 99)
    assert(MediaCodec.decodeAviPermissive(overFrames) === Left("frame_count_mismatch"))
  }

  test("BMP round-trip: the parser recovers exactly what the builder encoded") {
    for (id <- Seq(0L, 1L, 63L, 64L, 127L, 9999L)) {
      val bytes = MediaFixture.bmp(id)
      val (magic, w, h, bpp, pxOff) = MediaCodec.decodeBmp(bytes)
      assert(pxOff === 54)
      assert(magic === "BM")
      assert(w === MediaFixture.bmpWidth(id))
      assert(h === MediaFixture.bmpHeight(id))
      assert(bpp === 24L)
      // declared file size in the header matches the actual byte count
      val declared = java.nio.ByteBuffer.wrap(bytes, 2, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      assert(declared === bytes.length)
    }
  }

  test("WAV round-trip: RIFF/fmt/data headers parse back") {
    for (id <- Seq(0L, 1L, 2L, 3L, 500L)) {
      val bytes = MediaFixture.wav(id)
      val (magic, ch, rate, bits, dataBytes, dataOff) = MediaCodec.decodeWav(bytes)
      assert(dataOff === 44)
      assert(magic === "RIFF")
      assert(ch === MediaFixture.wavChannels(id))
      assert(rate === MediaFixture.wavRate(id))
      assert(bits === 16L)
      assert(dataBytes === bytes.length - 44L)
    }
  }

  test("malformed payloads are rejected, not misparsed") {
    intercept[IllegalArgumentException] {
      MediaCodec.decodeBmp("JFIFnotabmp padding padding padding padding padding".getBytes)
    }
    intercept[IllegalArgumentException] {
      MediaCodec.decodeWav(MediaFixture.bmp(1L)) // a BMP is not a WAV
    }
  }

  test("batched mapPartitions decode parses real bytes across batch splits") {
    val meta = Multimodal.decodeImages(spark, Multimodal.imagePayloads(spark, TestSpark.sf0))
      .collect().map(m => m.doc_id -> m).toMap
    assert(meta.size === 500)
    for (id <- Seq(0L, 17L, 499L)) {
      assert(meta(id).width === MediaFixture.bmpWidth(id).toLong)
      assert(meta(id).height === MediaFixture.bmpHeight(id).toLong)
      assert(meta(id).bpp === 24L)
    }
    val audio = Multimodal.decodeAudio(spark, Multimodal.audioPayloads(spark, TestSpark.sf0))
      .collect().map(m => m.doc_id -> m).toMap
    assert(audio.size === 500)
    for (id <- Seq(0L, 17L, 499L)) {
      assert(audio(id).sample_rate === MediaFixture.wavRate(id).toLong)
      assert(audio(id).n_samples === MediaFixture.wavSamples(id).toLong)
      assert(audio(id).duration_ms ===
        MediaFixture.wavSamples(id).toLong * 1000 / MediaFixture.wavRate(id))
    }
  }

  test("AVI round-trip: header fields, chunk walk, and sampled checksum agree with the builder") {
    for (id <- Seq(0L, 1L, 6L, 13L, 9999L)) {
      val bytes = MediaFixture.avi(id)
      val (nf, w, h, mspf, ns, px) = MediaCodec.decodeAviSampled(bytes)
      assert(nf === MediaFixture.aviFrames(id).toLong)
      assert(w === MediaFixture.aviWidth(id).toLong)
      assert(h === MediaFixture.aviHeight(id).toLong)
      assert(mspf === MediaFixture.aviMicrosPerFrame(id).toLong)
      assert(ns === (MediaFixture.aviFrames(id) + 1) / 2)
      // brute-force recompute: first 64 filler bytes of every 2nd frame
      var expected = 0L
      for (f <- 0 until MediaFixture.aviFrames(id) by 2; i <- 0 until 64)
        expected += (id * 5 + f * 11 + i) & 0xff
      assert(px === expected)
      // a WAV is RIFF but not an AVI
      intercept[IllegalArgumentException] { MediaCodec.decodeAviSampled(MediaFixture.wav(id)) }
    }
  }

  test("downsample picks pixel (2x,2y), re-encodes a decodable BMP, and sums kept bytes") {
    for (id <- Seq(0L, 1L, 63L, 127L, 9999L)) {
      val src = MediaFixture.bmp(id)
      val (resized, pxSum) = Multimodal.MediaTransform.downsampleBmp(src)
      val (magic, w2, h2, bpp, _) = MediaCodec.decodeBmp(resized)
      assert(magic === "BM" && bpp === 24L)
      val w = MediaFixture.bmpWidth(id); val h = MediaFixture.bmpHeight(id)
      assert(w2 === (w + 1) / 2 && h2 === (h + 1) / 2)
      // brute-force recompute of the kept-pixel checksum from the source
      val rowSize = ((3 * w + 3) / 4) * 4
      var expected = 0L
      for (y2 <- 0 until (h + 1) / 2; x2 <- 0 until (w + 1) / 2; c <- 0 until 3)
        expected += src(54 + 2 * y2 * rowSize + 6 * x2 + c) & 0xff
      assert(pxSum === expected)
      // resized payload declares its own size correctly
      val declared = java.nio.ByteBuffer.wrap(resized, 2, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      assert(declared === resized.length)
    }
  }
}
