package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Multimodal columns: image/audio payloads as opaque `binary` columns with
  * typed metadata extracted per payload on the executors.
  *
  * The decode stage is REAL: fixtures are genuine BMP (BITMAPINFOHEADER)
  * and WAV (RIFF/fmt/data) files built per document, and the decoder
  * parses the little-endian headers back — builder and parser must agree
  * on byte layout for the oracle (which recomputes the same metadata from
  * the generation formulas in pure SQL arithmetic) to match. Payloads
  * stay on the executors; only the typed metadata rows leave them.
  */
object Multimodal extends QueryModule {

  /** per-JVM scratch directory of real BMP files (ids 0..99) for the
    * binaryFile-source row; staged once, removed on exit. */
  private lazy val binaryFileDir: String = {
    val dir = graft.GraftSession.tempDirCleanedOnExit("graft-bin").toString
    (0L until 100L).foreach { id =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$dir/img_$id%05d.bmp"), MediaFixture.bmp(id)): Unit
    }
    dir
  }

  /** Typed metadata row produced by the image decode stage. */
  final case class ImageMeta(doc_id: Long, n_bytes: Long, magic: String,
      width: Long, height: Long, bpp: Long, n_chunks: Long)

  /** Typed metadata row produced by the audio decode stage. */
  final case class AudioMeta(doc_id: Long, n_bytes: Long, magic: String,
      channels: Long, sample_rate: Long, bits: Long, n_samples: Long,
      duration_ms: Long)

  val chunkBytes = 64

  /** Deterministic media fixtures: real file bytes, dimensions derived
    * from the doc id (so the SQL oracle can restate them arithmetically). */
  object MediaFixture {
    def bmpWidth(id: Long): Int = (1 + id % 64).toInt
    def bmpHeight(id: Long): Int = (1 + (id * 7) % 48).toInt

    /** 24-bpp BMP: 14-byte file header + 40-byte BITMAPINFOHEADER + rows
      * padded to 4 bytes, deterministic pixel filler. */
    def bmp(id: Long): Array[Byte] = {
      val w = bmpWidth(id); val h = bmpHeight(id)
      val rowSize = ((3 * w + 3) / 4) * 4
      val imageSize = rowSize * h
      val fileSize = 54 + imageSize
      val b = ByteBuffer.allocate(fileSize).order(ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte)
      b.putInt(fileSize).putShort(0).putShort(0).putInt(54) // size, res, px offset
      b.putInt(40).putInt(w).putInt(h) // DIB size, width, height
      b.putShort(1).putShort(24) // planes, bpp
      b.putInt(0).putInt(imageSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
      var i = 0
      while (i < imageSize) { b.put(((id + i) & 0xff).toByte); i += 1 }
      b.array()
    }

    def aviFrames(id: Long): Int = (2 + id % 7).toInt
    def aviWidth(id: Long): Int = (8 + id % 8).toInt
    def aviHeight(id: Long): Int = (6 + (id * 3) % 6).toInt
    def aviMicrosPerFrame(id: Long): Int = (40000 + (id % 4) * 20000).toInt

    /** Minimal uncompressed AVI: RIFF('AVI ') with a LIST('hdrl') holding
      * the 56-byte 'avih' main header and a LIST('movi') of raw '00db'
      * frame chunks (bottom-up rows padded to 4 bytes, like BMP). Frame
      * byte i of frame f is (id*5 + f*11 + i) & 0xff — the deterministic
      * filler the oracle restates. */
    def avi(id: Long): Array[Byte] = {
      val nF = aviFrames(id); val w = aviWidth(id); val h = aviHeight(id)
      val rowSize = ((3 * w + 3) / 4) * 4
      val frameBytes = rowSize * h // multiple of 4 → chunks stay even
      val hdrlList = 4 + 8 + 56
      val moviList = 4 + nF * (8 + frameBytes)
      val riffSize = 4 + (8 + hdrlList) + (8 + moviList)
      val b = ByteBuffer.allocate(8 + riffSize).order(ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(riffSize).put("AVI ".getBytes)
      b.put("LIST".getBytes).putInt(hdrlList).put("hdrl".getBytes)
      b.put("avih".getBytes).putInt(56)
      b.putInt(aviMicrosPerFrame(id)).putInt(0).putInt(0).putInt(0) // usec/frame, maxBps, padding, flags
      b.putInt(nF).putInt(0).putInt(1).putInt(0) // totalFrames, initial, streams, sugBufSize
      b.putInt(w).putInt(h)
      b.putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved[4]
      b.put("LIST".getBytes).putInt(moviList).put("movi".getBytes)
      var f = 0
      while (f < nF) {
        b.put("00db".getBytes).putInt(frameBytes)
        var i = 0
        while (i < frameBytes) { b.put(((id * 5 + f * 11 + i) & 0xff).toByte); i += 1 }
        f += 1
      }
      b.array()
    }

    def wavChannels(id: Long): Int = (1 + id % 2).toInt
    def wavRate(id: Long): Int = (8000 * (1 + id % 3)).toInt
    def wavSamples(id: Long): Int = (100 + id % 400).toInt

    /** 16-bit PCM WAV: RIFF header + fmt + data chunks, deterministic
      * sample filler. */
    def wav(id: Long): Array[Byte] = {
      val ch = wavChannels(id); val rate = wavRate(id); val n = wavSamples(id)
      val dataBytes = n * ch * 2
      val b = ByteBuffer.allocate(44 + dataBytes).order(ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(36 + dataBytes).put("WAVE".getBytes)
      b.put("fmt ".getBytes).putInt(16)
      b.putShort(1).putShort(ch.toShort) // PCM, channels
      b.putInt(rate).putInt(rate * ch * 2) // sample rate, byte rate
      b.putShort((ch * 2).toShort).putShort(16) // block align, bits
      b.put("data".getBytes).putInt(dataBytes)
      var i = 0
      while (i < dataBytes) { b.put(((id * 3 + i) & 0xff).toByte); i += 1 }
      b.array()
    }
  }

  /** Header parsers — real byte-level decode; throws on malformed input.
    * The decode verifies bytes → metadata: any disagreement between the
    * builder's and parser's idea of the layout breaks the oracle match. */
  object MediaCodec {
    /** Returns (magic, width, height, bpp, pixelArrayOffset). The offset
      * is the header's own bfOffBits field — consumers index pixels from
      * it rather than assuming the 54-byte minimal-header layout, so a
      * payload with a palette or extended DIB header can't silently shift
      * the pixel grid. */
    def decodeBmp(bytes: Array[Byte]): (String, Long, Long, Long, Int) = {
      val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val magic = new String(Array(b.get(), b.get()))
      require(magic == "BM", s"not a BMP: $magic")
      b.getInt; b.getInt // file size, reserved
      val pxOff = b.getInt // bfOffBits: start of the pixel array
      require(b.getInt == 40, "unsupported DIB header")
      val w = b.getInt.toLong
      val h = b.getInt.toLong
      b.getShort // planes
      val bpp = b.getShort.toLong
      require(pxOff >= 54 && pxOff <= bytes.length, s"bad pixel offset $pxOff")
      (magic, w, h, bpp, pxOff)
    }

    /** Perceptual AVERAGE-HASH over a decoded BMP: sample the blue channel
      * on an 8×8 grid (integer-scaled coordinates, so any image size maps
      * to the same grid), threshold each sample against the grid mean, and
      * emit the 64 bits row-major as a bit STRING (a 64-bit integer would
      * overflow signed int64 at bit 63 in the SQL oracle). The mean is an
      * exact double (integer sum / 64, a power of two), so the > threshold
      * is deterministic across engines. */
    def aHashBmp(bytes: Array[Byte]): (Long, Long, String) = {
      val (_, w0, h0, _, pxOff) = decodeBmp(bytes)
      val w = w0.toInt; val h = h0.toInt
      val rowSize = ((3 * w + 3) / 4) * 4
      val v = new Array[Int](64)
      var k = 0
      var y = 0
      while (y < 8) {
        val py = y * h / 8
        var x = 0
        while (x < 8) {
          val px = x * w / 8
          v(k) = bytes(pxOff + py * rowSize + 3 * px) & 0xff
          k += 1; x += 1
        }
        y += 1
      }
      val mean = v.sum.toDouble / 64
      val sb = new StringBuilder(64)
      k = 0
      while (k < 64) { sb.append(if (v(k) > mean) '1' else '0'); k += 1 }
      (w0, h0, sb.toString)
    }

    /** AVI walk + FRAME SAMPLING: parse the RIFF/hdrl/avih headers, then
      * every 2nd '00db' frame chunk; returns (totalFrames, width, height,
      * microsPerFrame, nSampled, checksum of the first 64 bytes of each
      * sampled frame). Throws on malformed input like the other codecs. */
    def decodeAviSampled(bytes: Array[Byte], every: Int = 2): (Long, Long, Long, Long, Long, Long) = {
      val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = new String(Array(b.get(), b.get(), b.get(), b.get()))
      require(fourcc() == "RIFF", "not RIFF")
      b.getInt // riff size
      require(fourcc() == "AVI ", "not AVI")
      require(fourcc() == "LIST", "missing hdrl LIST")
      b.getInt
      require(fourcc() == "hdrl", "missing hdrl")
      require(fourcc() == "avih", "missing avih")
      require(b.getInt == 56, "unsupported avih size")
      val mspf = b.getInt.toLong
      b.getInt; b.getInt; b.getInt // maxBps, padding, flags
      val totalFrames = b.getInt.toLong
      b.getInt; b.getInt; b.getInt // initial, streams, sugBufSize
      val w = b.getInt.toLong
      val h = b.getInt.toLong
      b.getInt; b.getInt; b.getInt; b.getInt // dwReserved
      require(fourcc() == "LIST", "missing movi LIST")
      b.getInt
      require(fourcc() == "movi", "missing movi")
      var f = 0L
      var sampled = 0L
      var pxSum = 0L
      while (b.remaining() >= 8) {
        require(fourcc() == "00db", "unexpected movi chunk")
        val sz = b.getInt
        if (f % every == 0) {
          sampled += 1
          var i = 0
          while (i < math.min(64, sz)) { pxSum += b.get(b.position() + i) & 0xff; i += 1 }
        }
        b.position(b.position() + sz + (sz & 1)) // RIFF chunks pad to even
        f += 1
      }
      require(f == totalFrames, s"header declares $totalFrames frames, movi holds $f")
      (totalFrames, w, h, mspf, sampled, pxSum)
    }

    /** Per-frame intensity walk: same RIFF/hdrl/movi parse as
      * [[decodeAviSampled]], but EVERY '00db' chunk yields the sum of
      * its first 64 payload bytes — the cheap per-frame statistic a
      * scene-cut detector differences. Returns the ordered sums. */
    def decodeAviFrameSums(bytes: Array[Byte]): Seq[Long] = {
      val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = new String(Array(b.get(), b.get(), b.get(), b.get()))
      require(fourcc() == "RIFF", "not RIFF")
      b.getInt
      require(fourcc() == "AVI ", "not AVI")
      require(fourcc() == "LIST", "missing hdrl LIST")
      b.getInt
      require(fourcc() == "hdrl", "missing hdrl")
      require(fourcc() == "avih", "missing avih")
      require(b.getInt == 56, "unsupported avih size")
      (1 to 14).foreach(_ => b.getInt) // the 56-byte avih = 14 ints
      require(fourcc() == "LIST", "missing movi LIST")
      b.getInt
      require(fourcc() == "movi", "missing movi")
      val sums = Seq.newBuilder[Long]
      while (b.remaining() >= 8) {
        require(fourcc() == "00db", "unexpected movi chunk")
        val sz = b.getInt
        var acc = 0L
        var i = 0
        while (i < math.min(64, sz)) { acc += b.get(b.position() + i) & 0xff; i += 1 }
        sums += acc
        b.position(b.position() + sz + (sz & 1))
      }
      sums.result()
    }

    /** Returns (riff, channels, rate, bits, dataBytes, dataOffset). The
      * offset is the parser's position after the data-chunk header —
      * consumers read PCM from it rather than end-anchoring
      * (bytes.length - dataBytes), which would break on any trailing
      * chunk (LIST/INFO metadata) after the data chunk. */
    def decodeWav(bytes: Array[Byte]): (String, Long, Long, Long, Long, Int) = {
      val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val riff = new String(Array(b.get(), b.get(), b.get(), b.get()))
      require(riff == "RIFF", s"not RIFF: $riff")
      b.getInt // riff size
      require(new String(Array(b.get(), b.get(), b.get(), b.get())) == "WAVE", "not WAVE")
      require(new String(Array(b.get(), b.get(), b.get(), b.get())) == "fmt ", "missing fmt")
      require(b.getInt == 16, "unsupported fmt size")
      require(b.getShort == 1, "not PCM")
      val ch = b.getShort.toLong
      val rate = b.getInt.toLong
      b.getInt; b.getShort // byte rate, block align
      val bits = b.getShort.toLong
      require(new String(Array(b.get(), b.get(), b.get(), b.get())) == "data", "missing data")
      val dataBytes = b.getInt.toLong
      val dataOff = b.position()
      require(dataOff + dataBytes <= bytes.length, "truncated data chunk")
      (riff, ch, rate, bits, dataBytes, dataOff)
    }

    /** PERMISSIVE BMP decode — the binary front door's analogue of the
      * CSV quarantine (`q_scan_csv_corrupt`): a real crawl batch is full
      * of truncated/mislabeled blobs, and a strict decoder would fail
      * the whole partition on the first one (VERDICT r9 item 5). Checks
      * run in LAYOUT order (length → magic → DIB → offsets → pixel
      * array), each returning a typed category instead of throwing, so
      * the error column is deterministic — a function of the bytes, not
      * of which JVM require tripped first. Right = the strict decoder's
      * tuple; a payload that passes here cannot throw in [[decodeBmp]]. */
    def decodeBmpPermissive(bytes: Array[Byte]): Either[String, (String, Long, Long, Long, Int)] = {
      if (bytes.length < 54) return Left("truncated_header")
      val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val magic = new String(Array(b.get(), b.get()))
      if (magic != "BM") return Left("bad_magic")
      b.getInt; b.getInt // file size, reserved
      val pxOff = b.getInt
      if (b.getInt != 40) return Left("bad_dib")
      val w = b.getInt
      val h = b.getInt
      b.getShort // planes
      val bpp = b.getShort.toLong
      // upper cap too (ADVICE r10): adversarial headers with w,h near
      // 2^31 overflow the Long size math below (3·w rounded ×h ≈ 1.4e19
      // > Long.Max), flipping the bound negative so a truncated blob
      // would classify "ok" with garbage dimensions — exactly the
      // untrusted-crawl bytes this path exists for. 2^20 px per side
      // (≈3 TB of pixels) is far beyond any real BMP.
      if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20))
        return Left("bad_dimensions")
      if (pxOff < 54 || pxOff > bytes.length) return Left("bad_pixel_offset")
      val rowSize = ((3L * w + 3) / 4) * 4
      if (pxOff + rowSize * h > bytes.length) return Left("truncated_pixels")
      Right((magic, w.toLong, h.toLong, bpp, pxOff))
    }

    /** PERMISSIVE WAV decode — the audio front door's quarantine,
      * mirroring [[decodeBmpPermissive]]: checks in LAYOUT order
      * (length → RIFF → WAVE → fmt chunk → PCM tag → field sanity →
      * data chunk → data length), each returning a typed category
      * instead of throwing, with the BMP lesson applied up front — a
      * field-sanity cap rejects adversarial channel/rate/bit claims
      * before any size arithmetic. Right = (channels, rate, bits,
      * dataBytes); a payload that passes here cannot throw in
      * [[decodeWav]]. */
    def decodeWavPermissive(bytes: Array[Byte])
        : Either[String, (Long, Long, Long, Long)] = {
      if (bytes.length < 44) return Left("truncated_header")
      val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      def four() = new String(Array(b.get(), b.get(), b.get(), b.get()))
      if (four() != "RIFF") return Left("bad_riff")
      b.getInt // riff size (advisory; the data chunk is bounds-checked)
      if (four() != "WAVE") return Left("bad_wave")
      if (four() != "fmt ") return Left("missing_fmt")
      if (b.getInt != 16) return Left("bad_fmt_size")
      if (b.getShort != 1) return Left("not_pcm")
      val ch = b.getShort.toLong
      val rate = b.getInt.toLong
      b.getInt; b.getShort // byte rate, block align
      val bits = b.getShort.toLong
      if (ch <= 0 || ch > 64 || rate <= 0 || rate > 10000000L ||
          bits <= 0 || bits > 64) return Left("bad_format")
      if (four() != "data") return Left("missing_data")
      val dataBytes = b.getInt.toLong
      if (dataBytes < 0 || b.position() + dataBytes > bytes.length)
        return Left("truncated_data")
      Right((ch, rate, bits, dataBytes))
    }

    /** PERMISSIVE AVI decode — completing the quarantine trio
      * (BMP/WAV/AVI, one per binary front door): layout-ordered typed
      * categories through the RIFF → AVI → hdrl → avih → dimension
      * sanity → movi → chunk-walk layers; the walk bound-checks every
      * declared chunk size before seeking (the strict parser's
      * position() call throws on an adversarial size — here it is a
      * category). Right = (frames, width, height, microsPerFrame); a
      * payload that passes here cannot throw in [[decodeAviSampled]]. */
    def decodeAviPermissive(bytes: Array[Byte])
        : Either[String, (Long, Long, Long, Long)] = {
      if (bytes.length < 100) return Left("truncated_header")
      val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      def four() = new String(Array(b.get(), b.get(), b.get(), b.get()))
      if (four() != "RIFF") return Left("bad_riff")
      b.getInt // riff size (advisory; the chunk walk is bounds-checked)
      if (four() != "AVI ") return Left("bad_avi")
      if (four() != "LIST") return Left("missing_hdrl")
      b.getInt
      if (four() != "hdrl") return Left("missing_hdrl")
      if (four() != "avih") return Left("missing_avih")
      if (b.getInt != 56) return Left("bad_avih_size")
      val mspf = b.getInt.toLong
      b.getInt; b.getInt; b.getInt // maxBps, padding, flags
      val frames = b.getInt.toLong
      b.getInt; b.getInt; b.getInt // initial, streams, sugBufSize
      val w = b.getInt.toLong
      val h = b.getInt.toLong
      b.getInt; b.getInt; b.getInt; b.getInt // dwReserved
      if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20) ||
          frames < 0 || frames > (1 << 30)) return Left("bad_dimensions")
      if (four() != "LIST") return Left("missing_movi")
      b.getInt
      if (four() != "movi") return Left("missing_movi")
      var f = 0L
      while (b.remaining() >= 8) {
        if (four() != "00db") return Left("bad_chunk")
        val sz = b.getInt.toLong
        if (sz < 0 || b.position() + sz + (sz & 1) > bytes.length)
          return Left("truncated_frame")
        b.position((b.position() + sz + (sz & 1)).toInt)
        f += 1
      }
      if (f != frames) return Left("frame_count_mismatch")
      Right((frames, w, h, mspf))
    }
  }

  /** Typed row produced by the image transform stage. */
  final case class ResizedMeta(doc_id: Long, width: Long, height: Long,
      n_bytes: Long, px_sum: Long)

  /** Typed row of the PERMISSIVE decode stage: `status` is "ok" or the
    * decoder's error category; bad rows carry zeroed metadata instead of
    * killing the task. */
  final case class PermissiveMeta(doc_id: Long, status: String,
      width: Long, height: Long)

  /** Typed row produced by the perceptual-hash stage. */
  final case class PHashMeta(doc_id: Long, width: Long, height: Long,
      phash: String)

  /** Runs `f` on every (doc_id, payload) row of `payloads`, on the
    * executors — the one decode scaffold every stage below shares. */
  private def perPayload[T: Encoder](payloads: DataFrame)(
      f: (Long, Array[Byte]) => T): Dataset[T] = {
    import payloads.sparkSession.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) => f(id, bytes) }
  }

  /** Perceptual hashing: decode → 8×8 average-hash. */
  def hashImages(s: SparkSession, payloads: DataFrame): Dataset[PHashMeta] = {
    import s.implicits._
    perPayload(payloads) { (id, bytes) =>
      val (w, h, phash) = MediaCodec.aHashBmp(bytes)
      PHashMeta(id, w, h, phash)
    }
  }

  /** Image TRANSFORM (not just metadata): nearest-neighbor 2× downsample.
    * Decodes the BMP pixel grid (bottom-up rows, 4-byte row padding),
    * keeps pixel (2x, 2y), re-encodes a valid BMP, and returns the new
    * bytes plus a checksum over the kept pixel bytes (padding excluded) —
    * the checksum is what lets the SQL oracle verify the pixel selection
    * arithmetic, not just the output header. */
  object MediaTransform {
    def downsampleBmp(bytes: Array[Byte]): (Array[Byte], Long) = {
      val (_, w0, h0, _, pxOff) = MediaCodec.decodeBmp(bytes)
      val w = w0.toInt; val h = h0.toInt
      val rowSize = ((3 * w + 3) / 4) * 4
      val w2 = (w + 1) / 2; val h2 = (h + 1) / 2
      val rowSize2 = ((3 * w2 + 3) / 4) * 4
      val imageSize2 = rowSize2 * h2
      val out = ByteBuffer.allocate(54 + imageSize2).order(ByteOrder.LITTLE_ENDIAN)
      out.put('B'.toByte).put('M'.toByte)
      out.putInt(54 + imageSize2).putShort(0).putShort(0).putInt(54)
      out.putInt(40).putInt(w2).putInt(h2)
      out.putShort(1).putShort(24)
      out.putInt(0).putInt(imageSize2).putInt(2835).putInt(2835).putInt(0).putInt(0)
      val arr = out.array()
      var pxSum = 0L
      var y2 = 0
      while (y2 < h2) {
        var x2 = 0
        while (x2 < w2) {
          var c = 0
          while (c < 3) {
            val v = bytes(pxOff + 2 * y2 * rowSize + 6 * x2 + c) & 0xff
            arr(54 + y2 * rowSize2 + 3 * x2 + c) = v.toByte
            pxSum += v
            c += 1
          }
          x2 += 1
        }
        y2 += 1
      }
      (arr, pxSum)
    }
  }

  /** Image decode (mapInPandas analogue): binary payloads → typed
    * metadata. */
  def decodeImages(s: SparkSession, payloads: DataFrame): Dataset[ImageMeta] = {
    import s.implicits._
    perPayload(payloads) { (id, bytes) =>
      val (magic, w, h, bpp, _) = MediaCodec.decodeBmp(bytes)
      ImageMeta(id, bytes.length.toLong, magic, w, h, bpp,
        (bytes.length.toLong + chunkBytes - 1) / chunkBytes)
    }
  }

  /** Image transform: decode → downsample → re-encode → RE-DECODE. The
    * emitted width/height come from parsing the re-encoded bytes, so the
    * row proves the transform output is itself a valid decodable image. */
  def transformImages(s: SparkSession, payloads: DataFrame): Dataset[ResizedMeta] = {
    import s.implicits._
    perPayload(payloads) { (id, bytes) =>
      val (resized, pxSum) = MediaTransform.downsampleBmp(bytes)
      val (_, w2, h2, _, _) = MediaCodec.decodeBmp(resized)
      ResizedMeta(id, w2, h2, resized.length.toLong, pxSum)
    }
  }

  /** Audio decode. */
  def decodeAudio(s: SparkSession, payloads: DataFrame): Dataset[AudioMeta] = {
    import s.implicits._
    perPayload(payloads) { (id, bytes) =>
      val (magic, ch, rate, bits, dataBytes, _) = MediaCodec.decodeWav(bytes)
      val nSamples = dataBytes / (ch * bits / 8)
      AudioMeta(id, bytes.length.toLong, magic, ch, rate, bits, nSamples,
        nSamples * 1000 / rate)
    }
  }

  /** Audio FEATURE EXTRACTION: decode the 16-bit PCM payload and reduce
    * it to RMS energy + peak amplitude in one streaming pass over the
    * sample bytes — the signal-level stage after header metadata. Sample
    * sums are exact in double (|v| < 2¹⁵, counts bounded), so the RMS
    * matches the oracle's arithmetic bit-for-bit before the round. */
  def audioStats(s: SparkSession, payloads: DataFrame): DataFrame = {
    import s.implicits._
    perPayload(payloads) { (id, bytes) =>
      val b = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      // validate the container, then read PCM from the data chunk
      val (_, ch, _, bits, dataBytes, dataOff) = MediaCodec.decodeWav(bytes)
      require(bits == 16, s"expected 16-bit PCM, got $bits")
      b.position(dataOff).limit(dataOff + dataBytes.toInt)
      var sumSq = 0.0; var peak = 0L; var cnt = 0L
      while (b.remaining() >= 2) {
        val v = b.getShort().toLong
        sumSq += (v * v).toDouble
        if (math.abs(v) > peak) peak = math.abs(v)
        cnt += 1
      }
      (id, cnt, math.sqrt(sumSq / cnt), peak, ch)
    }.toDF("doc_id", "n_samples_total", "rms0", "peak", "channels")
  }

  /** Decimate-by-2 downsample of the PCM stream (every 2nd sample kept,
    * no anti-alias filter — the naive decimator, stated as such) with
    * RMS/peak of the kept stream: the resample shape an audio feature
    * pipeline runs before frame-level hashing. Same decode as
    * [[audioStats]]. */
  def audioDownsample(s: SparkSession, payloads: DataFrame): DataFrame = {
    import s.implicits._
    perPayload(payloads) { (id, bytes) =>
      val b = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val (_, _, _, bits, dataBytes, dataOff) = MediaCodec.decodeWav(bytes)
      require(bits == 16, s"expected 16-bit PCM, got $bits")
      b.position(dataOff).limit(dataOff + dataBytes.toInt)
      var sumSq = 0.0; var peak = 0L; var kept = 0L; var k = 0L
      while (b.remaining() >= 2) {
        val v = b.getShort().toLong
        if (k % 2 == 0) {
          sumSq += (v * v).toDouble
          if (math.abs(v) > peak) peak = math.abs(v)
          kept += 1
        }
        k += 1
      }
      (id, kept, math.sqrt(sumSq / kept), peak)
    }.toDF("doc_id", "n_kept", "rms0", "peak")
  }

  /** Image CHANNEL statistics: decode the 24-bpp
    * pixel grid (skipping the 4-byte row padding — reading it would
    * silently skew every mean, which is exactly what the oracle's
    * padding-free recompute would catch) and reduce to per-channel
    * means — the image analogue of [[audioStats]]. */
  def imageChannelStats(s: SparkSession, payloads: DataFrame): DataFrame = {
    import s.implicits._
    perPayload(payloads) { (id, bytes) =>
      val (_, w0, h0, _, pxOff) = MediaCodec.decodeBmp(bytes)
      val w = w0.toInt; val h = h0.toInt
      val rowSize = ((3 * w + 3) / 4) * 4
      val sums = new Array[Long](3)
      var y = 0
      while (y < h) {
        var j = 0
        while (j < 3 * w) {
          sums(j % 3) += bytes(pxOff + y * rowSize + j) & 0xff
          j += 1
        }
        y += 1
      }
      val n = (w * h).toDouble
      (id, w.toLong * h, sums(0) / n, sums(1) / n, sums(2) / n)
    }.toDF("doc_id", "n_pixels", "mean_b0", "mean_g0", "mean_r0")
  }

  /** binary image payloads: one real BMP per document */
  def imagePayloads(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables(s, d, "documents").select(col("doc_id")).as[Long]
      .map(id => (id, MediaFixture.bmp(id))).toDF("doc_id", "payload")
  }

  /** [[imagePayloads]] with DETERMINISTIC corruption injected — the test
    * feed for the permissive decode path: doc_id % 14 == 3 truncates the
    * file to 10 bytes (inside the header), doc_id % 14 == 10 stomps the
    * magic; everything else passes through intact. Both corruptions are
    * pure functions of the id, so the oracle classifies every row
    * arithmetically. */
  def corruptImagePayloads(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables(s, d, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val clean = MediaFixture.bmp(id)
        val payload =
          if (id % 14 == 3) clean.take(10)
          else if (id % 14 == 10) { clean(0) = 'X'.toByte; clean(1) = 'X'.toByte; clean }
          else clean
        (id, payload)
      }.toDF("doc_id", "payload")
  }

  /** PERMISSIVE image decode: same decode as [[decodeImages]], but a
    * malformed payload becomes a typed error row instead of a task
    * failure — the partition survives one bad blob. */
  def decodeImagesPermissive(s: SparkSession, payloads: DataFrame): Dataset[PermissiveMeta] = {
    import s.implicits._
    perPayload(payloads) { (id, bytes) =>
      MediaCodec.decodeBmpPermissive(bytes) match {
        case Right((_, w, h, _, _)) => PermissiveMeta(id, "ok", w, h)
        case Left(err) => PermissiveMeta(id, err, 0L, 0L)
      }
    }
  }

  /** Typed row of the PERMISSIVE audio decode stage. */
  final case class PermissiveAudioMeta(doc_id: Long, status: String,
      channels: Long, data_bytes: Long)

  /** [[audioPayloads]] with DETERMINISTIC corruption injected, the WAV
    * counterpart of [[corruptImagePayloads]]: % 14 == 3 truncates
    * inside the header, == 10 stomps the RIFF magic, == 5 flips the
    * PCM tag to a compressed format id, == 7 drops the final data byte
    * — four distinct layers of the decoder, all pure functions of the
    * id so the oracle classifies arithmetically. */
  def corruptAudioPayloads(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables(s, d, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val clean = MediaFixture.wav(id)
        val payload =
          if (id % 14 == 3) clean.take(10)
          else if (id % 14 == 10) { clean(0) = 'X'.toByte; clean }
          else if (id % 14 == 5) { clean(20) = 2.toByte; clean }
          else if (id % 14 == 7) clean.dropRight(1)
          else clean
        (id, payload)
      }.toDF("doc_id", "payload")
  }

  /** PERMISSIVE audio decode — one malformed blob
    * becomes a typed error row, never a task failure. */
  def decodeAudioPermissive(s: SparkSession, payloads: DataFrame): Dataset[PermissiveAudioMeta] = {
    import s.implicits._
    perPayload(payloads) { (id, bytes) =>
      MediaCodec.decodeWavPermissive(bytes) match {
        case Right((ch, _, _, db)) => PermissiveAudioMeta(id, "ok", ch, db)
        case Left(err) => PermissiveAudioMeta(id, err, 0L, 0L)
      }
    }
  }

  /** binary audio payloads: one real WAV per document */
  def audioPayloads(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables(s, d, "documents").select(col("doc_id")).as[Long]
      .map(id => (id, MediaFixture.wav(id))).toDF("doc_id", "payload")
  }

  /** Typed row of the PERMISSIVE video decode stage. */
  final case class PermissiveVideoMeta(doc_id: Long, status: String,
      n_frames: Long, width: Long)

  /** [[videoPayloads]] with DETERMINISTIC corruption injected — the AVI
    * counterpart of [[corruptImagePayloads]]: % 14 == 3 truncates
    * inside the header, == 10 stomps the RIFF magic, == 5 stomps the
    * first movi chunk's fourcc (byte 100 in the fixture layout), == 7
    * drops the final frame byte. */
  def corruptVideoPayloads(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables(s, d, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val clean = MediaFixture.avi(id)
        val payload =
          if (id % 14 == 3) clean.take(10)
          else if (id % 14 == 10) { clean(0) = 'X'.toByte; clean }
          else if (id % 14 == 5) { clean(100) = 'X'.toByte; clean }
          else if (id % 14 == 7) clean.dropRight(1)
          else clean
        (id, payload)
      }.toDF("doc_id", "payload")
  }

  /** PERMISSIVE video decode. */
  def decodeVideoPermissive(s: SparkSession, payloads: DataFrame): Dataset[PermissiveVideoMeta] = {
    import s.implicits._
    perPayload(payloads) { (id, bytes) =>
      MediaCodec.decodeAviPermissive(bytes) match {
        case Right((nf, w, _, _)) => PermissiveVideoMeta(id, "ok", nf, w)
        case Left(err) => PermissiveVideoMeta(id, err, 0L, 0L)
      }
    }
  }

  /** binary video payloads: one real uncompressed AVI per document */
  def videoPayloads(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables(s, d, "documents").select(col("doc_id")).as[Long]
      .map(id => (id, MediaFixture.avi(id))).toDF("doc_id", "payload")
  }

  /** Typed row produced by the video frame-sampling stage. */
  final case class FrameMeta(doc_id: Long, n_frames: Long, width: Long,
      height: Long, micros_per_frame: Long, n_sampled: Long, sampled_px: Long)

  /** Video decode + frame sampling. */
  def sampleFrames(s: SparkSession, payloads: DataFrame): Dataset[FrameMeta] = {
    import s.implicits._
    perPayload(payloads) { (id, bytes) =>
      val (nf, w, h, mspf, ns, px) = MediaCodec.decodeAviSampled(bytes)
      FrameMeta(id, nf, w, h, mspf, ns, px)
    }
  }

  /** Decode of EVERY frame's intensity sum —
    * (doc_id, ordered per-frame sums), the scene-cut detector's input. */
  def frameSums(s: SparkSession, payloads: DataFrame): DataFrame = {
    import s.implicits._
    perPayload(payloads) { (id, bytes) =>
      (id, MediaCodec.decodeAviFrameSums(bytes))
    }.toDF("doc_id", "fsums")
  }

  /** average-hash regeneration chain (→ `bits(doc_id, w, h, phash)`),
    * shared by q_mm_phash and the phash near-dup pair join — the oracle
    * rebuilds each BMP's 8×8 grid samples from the generation
    * arithmetic, so the decoder's offset math stays pinned. */
  private val phashCtes =
    """dims AS (SELECT doc_id, 1 + doc_id % 64 AS w,
         1 + (doc_id * 7) % 48 AS h FROM documents),
       g AS (SELECT doc_id, w, h, ((3 * w + 3) // 4) * 4 AS row_size,
         unnest(generate_series(0, 7)) AS y8 FROM dims),
       gx AS (SELECT doc_id, w, h, row_size, y8,
         unnest(generate_series(0, 7)) AS x8 FROM g),
       px AS (SELECT doc_id, w, h, y8 * 8 + x8 AS k,
         (doc_id + ((y8 * h) // 8) * row_size + 3 * ((x8 * w) // 8)) % 256 AS v
         FROM gx),
       m AS (SELECT doc_id, SUM(v) / 64.0 AS mean FROM px GROUP BY doc_id),
       bits AS (SELECT px.doc_id, ANY_VALUE(px.w) AS w, ANY_VALUE(px.h) AS h,
         string_agg(CASE WHEN v > mean THEN '1' ELSE '0' END, '' ORDER BY k) AS phash
         FROM px JOIN m USING (doc_id) GROUP BY px.doc_id)"""

  override val defs: Seq[Q] = Seq(
    // image metadata parsed from real BMP bytes; the oracle restates the
    // fixture's generation formulas (width = 1 + id % 64, rows padded to
    // 4 bytes, 54-byte header) — builder and parser must agree on the
    // actual byte layout for the hashes to match
    // binaryFile SOURCE — the ingestion front door for blob corpora: a
    // directory of real .bmp FILES (one per id, staged once per JVM) read
    // through Spark's binary-file format, ids recovered from the path,
    // then the SAME decode as q_mm_meta. At 100 TB this is the
    // "crawl dump of image files → metadata table" first hop; the oracle
    // recomputes the expected header fields from the fixture arithmetic.
    Q("q_mm_binary_source",
      (s, _) => {
        val withId = s.read.format("binaryFile").load(binaryFileDir)
          .select(regexp_extract(col("path"), "img_([0-9]+)\\.bmp", 1)
            .cast("long").as("doc_id"),
            col("content").as("payload"))
        decodeImages(s, withId).toDF()
          .select(col("doc_id"), col("n_bytes"), col("magic"),
            col("width"), col("height"))
          .orderBy("doc_id")
      },
      Some("""WITH ids AS (SELECT unnest(generate_series(0, 99)) AS doc_id),
              dims AS (SELECT doc_id, 1 + doc_id % 64 AS width,
                1 + (doc_id * 7) % 48 AS height FROM ids)
              SELECT doc_id,
                CAST(54 + ((3 * width + 3) // 4) * 4 * height AS BIGINT) AS n_bytes,
                'BM' AS magic, CAST(width AS BIGINT) AS width,
                CAST(height AS BIGINT) AS height
              FROM dims ORDER BY doc_id""")),

    Q("q_mm_meta",
      (s, d) => decodeImages(s, imagePayloads(s, d)).toDF()
        .select(col("doc_id"), col("n_bytes"), col("magic"), col("width"),
          col("height"), col("bpp"), col("n_chunks"))
        .orderBy("doc_id"),
      Some(s"""WITH dims AS (SELECT doc_id,
                 1 + doc_id % 64 AS width, 1 + (doc_id * 7) % 48 AS height
                 FROM documents),
               sz AS (SELECT doc_id, width, height,
                 54 + ((3 * width + 3) // 4) * 4 * height AS n_bytes FROM dims)
               SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes, 'BM' AS magic,
                 CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
                 CAST(24 AS BIGINT) AS bpp,
                 CAST((n_bytes + $chunkBytes - 1) // $chunkBytes AS BIGINT) AS n_chunks
               FROM sz ORDER BY doc_id""")),

    // CORRUPT-BLOB TOLERANCE — the binary decode loop's PERMISSIVE mode
    // (VERDICT r9 item 5): deterministic corruptions (header truncation,
    // magic stomp) injected into the payload stream, decoded through the
    // permissive codec. Bad rows land in a typed error column
    // with exact counts; good rows aggregate to the SAME width/height
    // sums as the clean fixture arithmetic — one bad blob quarantines
    // itself, never its task (the q_scan_csv_corrupt contract, applied
    // to the binary front door).
    Q("q_mm_corrupt",
      (s, d) => decodeImagesPermissive(s, corruptImagePayloads(s, d)).toDF()
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("width")).as("sum_width"),
          sum(col("height")).as("sum_height"))
        .orderBy("status"),
      Some("""WITH cls AS (SELECT doc_id,
                CASE WHEN doc_id % 14 = 3 THEN 'truncated_header'
                     WHEN doc_id % 14 = 10 THEN 'bad_magic'
                     ELSE 'ok' END AS status,
                CASE WHEN doc_id % 14 IN (3, 10) THEN 0
                     ELSE 1 + doc_id % 64 END AS w,
                CASE WHEN doc_id % 14 IN (3, 10) THEN 0
                     ELSE 1 + (doc_id * 7) % 48 END AS h
                FROM documents)
              SELECT status, COUNT(*) AS n_docs,
                CAST(SUM(w) AS BIGINT) AS sum_width,
                CAST(SUM(h) AS BIGINT) AS sum_height
              FROM cls GROUP BY status ORDER BY status""")),

    // CORRUPT-BLOB TOLERANCE, audio: the WAV quarantine beside the BMP
    // one — four corruption layers (header truncation, RIFF stomp,
    // non-PCM format tag, final-byte truncation) each land in their own
    // typed category with exact counts, and the surviving rows
    // aggregate to the clean fixture arithmetic (channels and PCM byte
    // counts). One bad blob quarantines itself, never its task.
    Q("q_mm_corrupt_wav",
      (s, d) => decodeAudioPermissive(s, corruptAudioPayloads(s, d)).toDF()
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("channels")).as("sum_channels"),
          sum(col("data_bytes")).as("sum_data_bytes"))
        .orderBy("status"),
      Some("""WITH cls AS (SELECT doc_id,
                CASE WHEN doc_id % 14 = 3 THEN 'truncated_header'
                     WHEN doc_id % 14 = 10 THEN 'bad_riff'
                     WHEN doc_id % 14 = 5 THEN 'not_pcm'
                     WHEN doc_id % 14 = 7 THEN 'truncated_data'
                     ELSE 'ok' END AS status,
                CASE WHEN doc_id % 14 IN (3, 10, 5, 7) THEN 0
                     ELSE 1 + doc_id % 2 END AS ch,
                CASE WHEN doc_id % 14 IN (3, 10, 5, 7) THEN 0
                     ELSE (100 + doc_id % 400) * (1 + doc_id % 2) * 2 END AS db
                FROM documents)
              SELECT status, COUNT(*) AS n_docs,
                CAST(SUM(ch) AS BIGINT) AS sum_channels,
                CAST(SUM(db) AS BIGINT) AS sum_data_bytes
              FROM cls GROUP BY status ORDER BY status""")),

    // CORRUPT-BLOB TOLERANCE, video: the AVI quarantine completes the
    // trio — the chunk-walk layer (a stomped movi fourcc, a truncated
    // final frame) lands in its own category where the strict parser
    // would throw mid-seek. Survivors aggregate to the fixture's frame
    // and width arithmetic.
    Q("q_mm_corrupt_avi",
      (s, d) => decodeVideoPermissive(s, corruptVideoPayloads(s, d)).toDF()
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_frames")).as("sum_frames"),
          sum(col("width")).as("sum_width"))
        .orderBy("status"),
      Some("""WITH cls AS (SELECT doc_id,
                CASE WHEN doc_id % 14 = 3 THEN 'truncated_header'
                     WHEN doc_id % 14 = 10 THEN 'bad_riff'
                     WHEN doc_id % 14 = 5 THEN 'bad_chunk'
                     WHEN doc_id % 14 = 7 THEN 'truncated_frame'
                     ELSE 'ok' END AS status,
                CASE WHEN doc_id % 14 IN (3, 10, 5, 7) THEN 0
                     ELSE 2 + doc_id % 7 END AS nf,
                CASE WHEN doc_id % 14 IN (3, 10, 5, 7) THEN 0
                     ELSE 8 + doc_id % 8 END AS w
                FROM documents)
              SELECT status, COUNT(*) AS n_docs,
                CAST(SUM(nf) AS BIGINT) AS sum_frames,
                CAST(SUM(w) AS BIGINT) AS sum_width
              FROM cls GROUP BY status ORDER BY status""")),

    // image transform: 2× nearest-neighbor downsample, re-encoded and
    // re-decoded; the oracle recomputes output dims, re-encoded size, AND
    // the kept-pixel checksum from the fixture's deterministic filler
    // pixel(i) = (id + i) % 256 over the bottom-up padded row layout
    Q("q_mm_resize",
      (s, d) => transformImages(s, imagePayloads(s, d)).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_bytes"),
          col("px_sum"))
        .orderBy("doc_id"),
      Some("""WITH dims AS (SELECT doc_id, 1 + doc_id % 64 AS w,
                1 + (doc_id * 7) % 48 AS h FROM documents),
              d2 AS (SELECT doc_id, ((3 * w + 3) // 4) * 4 AS row_size,
                (w + 1) // 2 AS w2, (h + 1) // 2 AS h2 FROM dims),
              ys AS (SELECT doc_id, w2, h2, row_size,
                unnest(generate_series(0, h2 - 1)) AS y2 FROM d2),
              xs AS (SELECT doc_id, w2, h2, row_size, y2,
                unnest(generate_series(0, w2 - 1)) AS x2 FROM ys),
              px AS (SELECT doc_id, w2, h2,
                  (doc_id + 2 * y2 * row_size + 6 * x2) % 256
                + (doc_id + 2 * y2 * row_size + 6 * x2 + 1) % 256
                + (doc_id + 2 * y2 * row_size + 6 * x2 + 2) % 256 AS s
                FROM xs)
              SELECT doc_id, CAST(w2 AS BIGINT) AS width,
                CAST(h2 AS BIGINT) AS height,
                CAST(54 + ((3 * w2 + 3) // 4) * 4 * h2 AS BIGINT) AS n_bytes,
                CAST(SUM(s) AS BIGINT) AS px_sum
              FROM px GROUP BY doc_id, w2, h2 ORDER BY doc_id""")),

    // Perceptual-hash image dedup: decode every BMP, average-hash an 8×8
    // luminance grid, and bucket images by hash — the image analogue of
    // the text near-dup family (aHash here). The oracle
    // recomputes every sampled pixel, the mean threshold, and the bit
    // string from the deterministic filler arithmetic, so the real codec's
    // grid sampling and row-padding math is verified end to end. Hash is
    // a 64-char bit STRING (a 64-bit int would overflow signed int64 at
    // bit 63 in SQL).
    Q("q_mm_phash",
      (s, d) => {
        // occurrence count, SKEW-ADAPTIVE (the q_dedup_snm guard): a
        // viral identical image would single-task its whole per-phash
        // window group, so one cheap max-group count picks the plan —
        // the window only when no phash group can exceed the per-task
        // bound (the gate's 500-image table: yes, and the window costs
        // a third of the join+checkpoint shape there), groupBy + join
        // with the decode checkpointed once past it.
        val hashes = hashImages(s, imagePayloads(s, d)).toDF().localCheckpoint()
        val maxGroup = hashes.groupBy("phash").count()
          .agg(max("count")).head.getLong(0)
        val out = (if (maxGroup <= 65536)
          hashes.withColumn("n_same",
            count(lit(1)).over(Window.partitionBy(col("phash"))))
        else {
          val hc = hashes.groupBy("phash").agg(count(lit(1)).as("n_same"))
          hashes.join(hc, Seq("phash"))
        })
          .select(col("doc_id"), col("width"), col("height"), col("phash"),
            col("n_same").cast("long").as("n_same"))
          .orderBy("doc_id").localCheckpoint()
        graft.plans.Iterate.release(hashes)
        out
      },
      Some(s"""WITH $phashCtes
              SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
                phash, CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same
              FROM bits ORDER BY doc_id""")),

    // NEAR-DUPLICATE IMAGES by perceptual-hash Hamming radius: the
    // multimodal arm of the dedup family. Eight 8-bit bands over the
    // 64-bit average-hash — by pigeonhole a pair within Hamming
    // distance 7 agrees exactly on ≥1 band, so the band join is a
    // COMPLETE candidate generator for the radius; candidates verify
    // with the exact 64-position count. Same multi-index layout as
    // q_dedup_simhash_pairs, different modality and radius.
    Q("q_mm_phash_pairs",
      (s, d) => {
        // COLLAPSE identical hashes FIRST: synthetic (and real) corpora
        // carry large exact-duplicate hash groups, and banding raw doc
        // ids would explode hot buckets quadratically (an r6 seal-bench
        // 670 s lesson at sf0.1). Distinct hashes join distinct hashes;
        // each surviving pair reports both groups' representatives and
        // sizes, so the doc-level pair count is recoverable as
        // n_a × n_b without ever materializing it.
        val groups = hashImages(s, imagePayloads(s, d)).toDF()
          .groupBy("phash")
          .agg(min("doc_id").as("rep"), count(lit(1)).as("grp"))
          .localCheckpoint() // referenced by 8 band projections + verify
        val bands = groups.select(col("phash"), col("rep"), col("grp"),
            explode(expr("transform(sequence(0, 7), b -> " +
              "named_struct('b', b, 'bits', substring(phash, b * 8 + 1, 8)))")).as("bd"))
          .select(col("phash"), col("rep"), col("grp"),
            col("bd.b").as("b"), col("bd.bits").as("bits"))
        val cand = bands.as("x").join(bands.as("y"),
            col("x.b") === col("y.b") && col("x.bits") === col("y.bits") &&
              col("x.rep") < col("y.rep"))
          .select(col("x.rep").as("rep_a"), col("y.rep").as("rep_b"),
            col("x.grp").as("n_a"), col("y.grp").as("n_b"),
            col("x.phash").as("sig_a"), col("y.phash").as("sig_b"))
          .distinct()
        // codegen'd byte-scan Hamming (see Dedup.q_dedup_simhash_pairs)
        cand.withColumn("hamming",
            graft.functions.TextHash.hammingBits(col("sig_a"), col("sig_b")))
          .filter(col("hamming") <= 7)
          .select(col("rep_a"), col("rep_b"), col("n_a"), col("n_b"), col("hamming"))
          .orderBy("rep_a", "rep_b")
      },
      Some(s"""WITH $phashCtes,
              grp AS (SELECT phash, MIN(doc_id) AS rep, COUNT(*) AS grp
                FROM bits GROUP BY phash),
              bands AS (SELECT phash, rep, grp, b, substring(phash, b * 8 + 1, 8) AS bb
                FROM grp CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) bs),
              cand AS (SELECT DISTINCT x.rep AS rep_a, y.rep AS rep_b,
                  x.grp AS n_a, y.grp AS n_b, x.phash AS sig_a, y.phash AS sig_b
                FROM bands x JOIN bands y
                  ON x.b = y.b AND x.bb = y.bb AND x.rep < y.rep),
              ham AS (SELECT rep_a, rep_b, n_a, n_b, CAST(SUM(CASE WHEN
                    substring(sig_a, j, 1) = substring(sig_b, j, 1)
                    THEN 0 ELSE 1 END) AS BIGINT) AS hamming
                FROM cand CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) js
                GROUP BY rep_a, rep_b, n_a, n_b)
              SELECT rep_a, rep_b, n_a, n_b, hamming FROM ham
              WHERE hamming <= 7 ORDER BY rep_a, rep_b""")),

    // video FRAME SAMPLING over real RIFF/AVI containers: parse the avih
    // main header, walk the movi '00db' chunks, keep every 2nd frame, and
    // checksum each sampled frame's first 64 filler bytes — the oracle
    // recomputes header fields AND the checksum from the generation
    // arithmetic, so the chunk walk (offsets, RIFF even-padding, header
    // agreement with the actual frame count) is verified, not assumed
    Q("q_mm_frames",
      (s, d) => sampleFrames(s, videoPayloads(s, d)).toDF()
        .select(col("doc_id"), col("n_frames"), col("width"), col("height"),
          col("micros_per_frame"), col("n_sampled"), col("sampled_px"))
        .orderBy("doc_id"),
      Some("""WITH p AS (SELECT doc_id,
                2 + doc_id % 7 AS frames, 8 + doc_id % 8 AS w,
                6 + (doc_id * 3) % 6 AS h,
                40000 + (doc_id % 4) * 20000 AS mspf FROM documents),
              fs AS (SELECT doc_id, unnest(generate_series(0, frames - 1, 2)) AS f
                FROM p),
              px AS (SELECT fs.doc_id,
                  SUM((fs.doc_id * 5 + fs.f * 11 + i.i) % 256) AS sampled_px,
                  COUNT(DISTINCT fs.f) AS n_sampled
                FROM fs CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) i
                GROUP BY fs.doc_id)
              SELECT p.doc_id, CAST(frames AS BIGINT) AS n_frames,
                CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
                CAST(mspf AS BIGINT) AS micros_per_frame,
                CAST(px.n_sampled AS BIGINT) AS n_sampled,
                CAST(px.sampled_px AS BIGINT) AS sampled_px
              FROM p JOIN px ON p.doc_id = px.doc_id ORDER BY p.doc_id""")),

    // SCENE-CUT DETECTION over the decoded video stream: every frame's
    // intensity statistic (sum of its first 64 payload bytes), lag-
    // differenced per video, a cut where the jump clears the threshold
    // — the frame-delta shot-boundary heuristic, running on the REAL
    // byte-level AVI walk (every '00db' chunk decoded, not just the
    // sampled ones). The per-video window group is bounded by frame
    // count by construction. Oracle: per-frame sums re-derived from
    // the fixture's generation arithmetic, like every mm codec row.
    Q("q_mm_scene",
      (s, d) => {
        val fs = frameSums(s, videoPayloads(s, d))
          .select(col("doc_id"), posexplode(col("fsums")).as(Seq("f", "fsum")))
        val w = Window.partitionBy("doc_id").orderBy("f")
        fs.withColumn("delta", abs(col("fsum") - lag("fsum", 1).over(w)))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_frames"),
            sum(when(col("delta") >= 1000L, 1L).otherwise(0L)).as("n_cuts"),
            coalesce(max("delta"), lit(0L)).cast("long").as("max_delta"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id, 2 + doc_id % 7 AS frames FROM documents),
              fr AS (SELECT doc_id, unnest(generate_series(0, frames - 1)) AS f
                FROM p),
              px AS (SELECT fr.doc_id, fr.f,
                  SUM((fr.doc_id * 5 + fr.f * 11 + i.i) % 256) AS fsum
                FROM fr CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) i
                GROUP BY fr.doc_id, fr.f),
              dl AS (SELECT doc_id, f, fsum,
                  ABS(fsum - LAG(fsum) OVER (PARTITION BY doc_id ORDER BY f)) AS delta
                FROM px)
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
                CAST(SUM(CASE WHEN delta >= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
                CAST(COALESCE(MAX(delta), 0) AS BIGINT) AS max_delta
              FROM dl GROUP BY doc_id ORDER BY doc_id""")),

    // audio metadata parsed from real WAV (RIFF/fmt/data) bytes
    Q("q_mm_audio_meta",
      (s, d) => decodeAudio(s, audioPayloads(s, d)).toDF()
        .select(col("doc_id"), col("n_bytes"), col("magic"), col("channels"),
          col("sample_rate"), col("bits"), col("n_samples"), col("duration_ms"))
        .orderBy("doc_id"),
      Some("""WITH p AS (SELECT doc_id,
                1 + doc_id % 2 AS ch, 8000 * (1 + doc_id % 3) AS rate,
                100 + doc_id % 400 AS n FROM documents)
              SELECT doc_id, CAST(44 + n * ch * 2 AS BIGINT) AS n_bytes,
                'RIFF' AS magic, CAST(ch AS BIGINT) AS channels,
                CAST(rate AS BIGINT) AS sample_rate, CAST(16 AS BIGINT) AS bits,
                CAST(n AS BIGINT) AS n_samples,
                CAST(n * 1000 // rate AS BIGINT) AS duration_ms
              FROM p ORDER BY doc_id""")),

    // audio RMS/peak from the DECODED PCM samples (not just headers) —
    // the oracle recomputes every 16-bit little-endian sample from the
    // deterministic filler arithmetic ((id·3 + i) mod 256 data bytes),
    // so the codec's sample extraction is verified end to end, exactly
    // like q_mm_resize verifies the pixel path.
    Q("q_mm_audio_rms",
      (s, d) => audioStats(s, audioPayloads(s, d))
        .select(col("doc_id"), col("n_samples_total"),
          round(col("rms0"), 4).as("rms"), col("peak"))
        .orderBy("doc_id"),
      Some("""WITH p AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
                100 + doc_id % 400 AS n FROM documents),
              k AS (SELECT doc_id, n * ch AS total,
                unnest(generate_series(0, n * ch - 1)) AS k FROM p),
              sv AS (SELECT doc_id, total,
                CAST((doc_id * 3 + 2 * k) % 256 AS BIGINT)
                  + 256 * CAST((doc_id * 3 + 2 * k + 1) % 256 AS BIGINT) AS raw
                FROM k),
              s2 AS (SELECT doc_id, total,
                CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
                FROM sv)
              SELECT doc_id, CAST(MAX(total) AS BIGINT) AS n_samples_total,
                ROUND(SQRT(SUM(v * v) * 1.0 / COUNT(*)), 4) AS rms,
                CAST(MAX(ABS(v)) AS BIGINT) AS peak
              FROM s2 GROUP BY doc_id ORDER BY doc_id""")),

    // decimate-by-2 audio downsample: every 2nd decoded sample kept,
    // RMS/peak over the kept stream — the oracle regenerates the even-
    // index samples from the filler arithmetic (generate_series step 2),
    // so both the decode AND the decimation phase are verified.
    Q("q_mm_audio_downsample",
      (s, d) => audioDownsample(s, audioPayloads(s, d))
        .select(col("doc_id"), col("n_kept"),
          round(col("rms0"), 4).as("rms_ds"), col("peak").as("peak_ds"))
        .orderBy("doc_id"),
      Some("""WITH p AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
                100 + doc_id % 400 AS n FROM documents),
              k AS (SELECT doc_id, n * ch AS total,
                unnest(generate_series(0, n * ch - 1, 2)) AS k FROM p),
              sv AS (SELECT doc_id, total,
                CAST((doc_id * 3 + 2 * k) % 256 AS BIGINT)
                  + 256 * CAST((doc_id * 3 + 2 * k + 1) % 256 AS BIGINT) AS raw
                FROM k),
              s2 AS (SELECT doc_id, total,
                CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
                FROM sv)
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                ROUND(SQRT(SUM(v * v) * 1.0 / COUNT(*)), 4) AS rms_ds,
                CAST(MAX(ABS(v)) AS BIGINT) AS peak_ds
              FROM s2 GROUP BY doc_id ORDER BY doc_id""")),

    // per-channel pixel means from the DECODED 24-bpp grid, row padding
    // excluded — the oracle regenerates every pixel byte from the
    // (id + offset) mod 256 filler WITHOUT the padding bytes, so a
    // decoder that read padded rows naively would hash-mismatch here.
    Q("q_mm_channel_stats",
      (s, d) => imageChannelStats(s, imagePayloads(s, d))
        .select(col("doc_id"), col("n_pixels"),
          round(col("mean_b0"), 4).as("mean_b"),
          round(col("mean_g0"), 4).as("mean_g"),
          round(col("mean_r0"), 4).as("mean_r"))
        .orderBy("doc_id"),
      Some("""WITH p AS (SELECT doc_id, 1 + doc_id % 64 AS w,
                1 + (doc_id * 7) % 48 AS h,
                ((3 * (1 + doc_id % 64) + 3) // 4) * 4 AS row_size
                FROM documents),
              yj AS (SELECT doc_id, w, h, row_size,
                unnest(generate_series(0, h - 1)) AS y FROM p),
              px AS (SELECT doc_id, w, h,
                (doc_id + y * row_size + j) % 256 AS v, j % 3 AS c
                FROM (SELECT doc_id, w, h, row_size, y,
                      unnest(generate_series(0, 3 * w - 1)) AS j FROM yj) t)
              SELECT doc_id, CAST(MAX(w) * MAX(h) AS BIGINT) AS n_pixels,
                ROUND(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) * 1.0 / (MAX(w) * MAX(h)), 4) AS mean_b,
                ROUND(SUM(CASE WHEN c = 1 THEN v ELSE 0 END) * 1.0 / (MAX(w) * MAX(h)), 4) AS mean_g,
                ROUND(SUM(CASE WHEN c = 2 THEN v ELSE 0 END) * 1.0 / (MAX(w) * MAX(h)), 4) AS mean_r
              FROM px GROUP BY doc_id ORDER BY doc_id"""))
  )
}
