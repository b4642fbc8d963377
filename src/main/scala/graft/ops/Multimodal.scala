package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: images/audio/video ride through the engine as
  * opaque `binary` columns plus a typed metadata struct, and per-batch
  * decode/feature-extract runs as `mapPartitions` over the binary payloads
  * (the Scala analog of `mapInPandas` batch UDFs — one JVM-side iterator per
  * partition, no per-row overhead, trivially executor-parallel).
  *
  * Codec status: IMAGE decode/resize (PNG/JPEG/GIF/BMP via the JDK's
  * `javax.imageio`, headless-safe) and AUDIO decode (WAV/AIFF/AU PCM via
  * `javax.sound.sampled`) are REAL — see [[MediaCodec]], oracle-gated by
  * exact-integer pixel/sample sums (mq3/mq4) and spec-pinned on synthesized
  * fixtures. VIDEO is REAL for the AVI container family (round-13): a
  * direct RIFF demuxer ([[MediaCodec.parseAviVideo]] — the same parser
  * discipline as the WAV fast path) extracts MJPEG (`00dc` JPEG frames →
  * the ImageIO path) and uncompressed 24-bit DIB (`00db` → exact row math)
  * frames, oracle-gated end to end by closed-form pixel sums over DIB
  * frames (mq7; DIB is lossless, JPEG is not). Round-14 added the ISO
  * BMFF family (MP4/MOV/M4V): [[MediaCodec.parseMp4Video]] walks the
  * big-endian box tree and reconstructs per-sample byte ranges from the
  * real `stbl` tables (stsd/stts/stsc/stsz/stco/co64), so CONTAINER
  * metadata (codec fourcc, dims, fps, frame count) is real for every
  * BMFF video — [[videoMetadata]] surfaces it without copying frame
  * payloads — and FRAME DECODE is real for the codecs whose samples the
  * JVM can decode: QuickTime Motion-JPEG (`jpeg`/`mjpa` — complete JPEGs
  * per sample, the ImageIO path) and uncompressed 24-bit `raw ` (exact
  * row math, lossless → the mq8 closed-form oracle). Compressed
  * bitstreams the JVM has no decoder for (avc1/hvc1/vp09) parse to
  * metadata but their frames drop in [[videoFrameFeatures]] — declared,
  * countable via the `codec` tag, never guessed at. MKV/WebM remain out
  * of reach without an external demuxer — those payloads fall back to
  * [[MediaStub.sampleFrames]] byte-stride sampling in
  * [[sampleFrameRows]] and drop in [[videoFrameFeatures]].
  * [[MediaStub.decode]] also remains as the any-format fallback feature
  * (byte histogram) for payloads no real decoder claims.
  */
object Multimodal {

  /** Typed metadata carried beside the payload. */
  final case class MediaMeta(
      format: String, width: Int, height: Int, channels: Int)

  final case class MediaRow(id: Long, media: Array[Byte], meta: MediaMeta)

  final case class MediaFeatures(
      id: Long,
      nBytes: Int,
      // stubbed "decoded" signal: 16-bin byte histogram as a unit vector
      histogram: Array[Float],
      thumbnailBytes: Int)

  object MediaStub {
    /** Deterministic fake decode: byte histogram normalized to unit L1. A
      * real implementation would decode pixels/samples here.
      */
    def decode(bytes: Array[Byte]): Array[Float] = {
      val hist = new Array[Float](16)
      var i = 0
      while (i < bytes.length) {
        hist((bytes(i) & 0xFF) >> 4) += 1.0f
        i += 1
      }
      if (bytes.length > 0) {
        var j = 0
        while (j < 16) { hist(j) /= bytes.length.toFloat; j += 1 }
      }
      hist
    }

    /** Deterministic fake resize: byte count after a stride-2 downsample. */
    def resizedSize(bytes: Array[Byte]): Int = (bytes.length + 1) / 2

    /** Deterministic fake frame sampling: every `stride`-th byte marks a
      * "frame" (a real implementation samples container keyframes).
      */
    def sampleFrames(bytes: Array[Byte], stride: Int): Seq[Array[Byte]] =
      bytes.grouped(stride).map(_.take(8)).toSeq
  }

  /** REAL codecs over the JDK's built-in media stack — no external
    * libraries, works headless (executor JVMs have no display).
    * Every decode returns None on an unclaimable/corrupt payload instead of
    * throwing: a 100 TB media crawl ALWAYS contains undecodable blobs, and
    * one of them must not fail a 10-hour job.
    */
  object MediaCodec {
    // ImageIO's default read path wraps every InputStream in a
    // FileCacheImageInputStream: one temp-file create+delete in
    // java.io.tmpdir PER DECODED ROW on the executor hot path (pure
    // overhead for in-memory byte arrays) — and on an executor with a
    // read-only or full /tmp the cache-file create throws, which the
    // decode's catch would misreport as "undecodable" for EVERY image.
    // Memory-cache instead; payloads are bounded column values.
    javax.imageio.ImageIO.setUseCache(false)

    /** Decoded image summary: dimensions, channel count, exact per-channel
      * pixel sums (integers — the oracle-comparable form; means are
      * sum/(w·h)), and a 16-bin luminance histogram (L1-normalized).
      */
    final case class ImageInfo(
        width: Int,
        height: Int,
        channels: Int,
        sumR: Long,
        sumG: Long,
        sumB: Long,
        grayHist: Array[Float])

    /** Decode PNG/JPEG/GIF/BMP bytes via `javax.imageio`. None when no
      * registered reader claims the bytes (text, video, garbage) or the
      * payload is corrupt.
      */
    def decodeImage(bytes: Array[Byte]): Option[ImageInfo] =
      if (bytes == null || bytes.length == 0) None
      else try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val w = img.getWidth
          val h = img.getHeight
          var sr = 0L; var sg = 0L; var sb = 0L
          val hist = new Array[Float](16)
          val row = new Array[Int](w)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, row, 0, w)
            var x = 0
            while (x < w) {
              val p = row(x)
              val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF; val b = p & 0xFF
              sr += r; sg += g; sb += b
              // integer BT.601 luma (×1000) — deterministic binning
              hist(((r * 299 + g * 587 + b * 114) / 1000) >> 4) += 1.0f
              x += 1
            }
            y += 1
          }
          val n = (w.toLong * h).toFloat
          var i = 0
          while (i < 16) { hist(i) /= n; i += 1 }
          Some(ImageInfo(w, h, img.getColorModel.getNumComponents, sr, sg, sb, hist))
        }
      } catch { case _: Exception => None }

    /** Real thumbnail: scale so max(w,h) == maxDim (never upscales),
      * re-encoded as PNG. None when the payload isn't a decodable image.
      */
    def resizeImage(bytes: Array[Byte], maxDim: Int): Option[Array[Byte]] =
      if (bytes == null || bytes.length == 0) None
      else try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val scale = maxDim.toDouble / math.max(img.getWidth, img.getHeight)
          if (scale >= 1.0) Some(bytes)
          else {
            val nw = math.max(1, math.round(img.getWidth * scale).toInt)
            val nh = math.max(1, math.round(img.getHeight * scale).toInt)
            val out = new java.awt.image.BufferedImage(
              nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            try {
              g.setRenderingHint(
                java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, nw, nh, null): Unit
            } finally g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            Some(bos.toByteArray)
          }
        }
      } catch { case _: Exception => None }

    /** PNG-encode a synthesized RGB image — the fixture/ingest-side twin of
      * [[decodeImage]] (`rgb(x, y)` returns a packed 0xRRGGBB int).
      */
    def encodePng(width: Int, height: Int, rgb: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, rgb(x, y) & 0xFFFFFF); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Decoded audio summary: format facts plus exact integer sample
      * aggregates over the 16-bit PCM signal (sumAbs/peak — the
      * oracle-comparable form; rms = sqrt(sumSq/frames)/32768).
      */
    final case class AudioInfo(
        sampleRate: Float,
        channels: Int,
        frames: Long,
        sumAbs: Long,
        peak: Int,
        sumSq: Long)

    /** The [[Multimodal.imageAHash]] kernel: decode + exact integer
      * average-hash. Returns (hash_hi, hash_lo) — bits 32..63 / 0..31 of
      * the row-major grid bits — or None for undecodable payloads, images
      * smaller than the grid, or images over 2^26 pixels (Long envelope
      * of the cross-product threshold).
      */
    def ahash(bytes: Array[Byte], grid: Int): Option[(Long, Long)] =
      if (bytes == null || bytes.length == 0) None
      else try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val w = img.getWidth; val h = img.getHeight
          if (w < grid || h < grid || w.toLong * h > (1L << 26)) None
          else {
            val cellSum = new Array[Long](grid * grid)
            val cellCnt = new Array[Long](grid * grid)
            var total = 0L
            val row = new Array[Int](w)
            var y = 0
            while (y < h) {
              img.getRGB(0, y, w, 1, row, 0, w)
              val by = y * grid / h
              var x = 0
              while (x < w) {
                val p = row(x)
                val l =
                  (((p >> 16) & 0xFF) * 299 + ((p >> 8) & 0xFF) * 587 +
                    (p & 0xFF) * 114) / 1000
                val c = by * grid + x * grid / w
                cellSum(c) += l; cellCnt(c) += 1; total += l
                x += 1
              }
              y += 1
            }
            val n = w.toLong * h
            var hi = 0L; var lo = 0L
            var k = 0
            while (k < grid * grid) {
              if (cellSum(k) * n > total * cellCnt(k)) {
                if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
              }
              k += 1
            }
            Some((hi, lo))
          }
        }
      } catch { case _: Exception => None }

    /** Direct RIFF/WAVE PCM16 parse — the executor fast path. The JDK's
      * `AudioSystem.getAudioInputStream` serializes on a global SPI lock:
      * measured 55k decodes/s single-threaded and 51k/s TOTAL at 32
      * threads (zero scaling — MediaScaleProbe/round-12 review; the probe
      * is under BENCHNOTES "Retired tools"), which
      * made audio the only non-parallel decode path in the engine. The
      * canonical container (RIFF → fmt(PCM, 16-bit) → data, unknown
      * chunks skipped) is ~30 lines of public-spec byte math and scales
      * linearly; anything else (AIFF/AU, extensible/float/8-bit WAV)
      * falls back to the locked-but-correct JDK path.
      */
    private def parseWavPcm16(bytes: Array[Byte]): Option[AudioInfo] = {
      def u16(o: Int): Int = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8)
      def u32(o: Int): Long =
        (bytes(o) & 0xFFL) | ((bytes(o + 1) & 0xFFL) << 8) |
          ((bytes(o + 2) & 0xFFL) << 16) | ((bytes(o + 3) & 0xFFL) << 24)
      def tag(o: Int): String = new String(bytes, o, 4, "US-ASCII")
      if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
      // Long offsets throughout: a corrupt 32-bit chunk size must walk the
      // cursor PAST the buffer and end the loop, never wrap an Int negative
      // and index backwards (fuzz-pinned)
      var off = 12L
      var channels = -1; var rate = -1f; var ok = false
      var dataOff = -1; var dataLen = -1L
      while (off + 8 <= bytes.length && (dataOff < 0 || !ok)) {
        val o = off.toInt
        val id = tag(o); val sz = u32(o + 4)
        if (id == "fmt " && sz >= 16 && off + 8 + 16 <= bytes.length) {
          ok = u16(o + 8) == 1 && u16(o + 8 + 14) == 16 // PCM, 16-bit
          channels = u16(o + 8 + 2)
          rate = u32(o + 8 + 4).toFloat
        } else if (id == "data") {
          dataOff = o + 8
          dataLen = math.min(sz, (bytes.length - dataOff).toLong)
        }
        off += 8 + sz + (sz & 1) // chunks pad to even
      }
      if (!ok || channels <= 0 || dataOff < 0 || dataLen < 0) return None
      var sumAbs = 0L; var sumSq = 0L; var peak = 0
      val end = dataOff + (dataLen - (dataLen & 1L)).toInt
      var i = dataOff
      while (i < end) {
        val s = ((bytes(i + 1) << 8) | (bytes(i) & 0xFF)).toShort.toInt
        val a = math.abs(s)
        sumAbs += a; sumSq += a.toLong * a; if (a > peak) peak = a
        i += 2
      }
      val samples = (end - dataOff) / 2
      Some(AudioInfo(rate, channels, samples.toLong / channels, sumAbs, peak, sumSq))
    }

    /** Decode WAV/AIFF/AU bytes — canonical PCM16 WAV through the direct
      * parser ([[parseWavPcm16]]), everything else via
      * `javax.sound.sampled` with conversion to 16-bit signed PCM. None
      * when the bytes aren't a supported audio stream.
      */
    def decodeAudio(bytes: Array[Byte]): Option[AudioInfo] =
      if (bytes == null || bytes.length == 0) None
      else parseWavPcm16(bytes).orElse(
        // magic-bytes gate before the SPI fallback: the JDK probe holds
        // its global lock even to REJECT garbage, so in a mixed crawl
        // partition the non-audio rows would serialize the whole executor
        // — only container magics the SPI can actually read get through
        // (RIFF = non-canonical WAV, FORM = AIFF, .snd = AU)
        if (bytes.length >= 12 && {
          val t = new String(bytes, 0, 4, "US-ASCII")
          t == "RIFF" || t == "FORM" || t == ".snd"
        }) decodeAudioSpi(bytes)
        else None)

    private[ops] def decodeAudioSpi(bytes: Array[Byte]): Option[AudioInfo] =
      try {
        val raw = javax.sound.sampled.AudioSystem
          .getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
        val pcmFmt = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          raw.getFormat.getSampleRate, 16, raw.getFormat.getChannels,
          raw.getFormat.getChannels * 2, raw.getFormat.getSampleRate, false)
        val in =
          if (raw.getFormat.matches(pcmFmt)) raw
          else javax.sound.sampled.AudioSystem.getAudioInputStream(pcmFmt, raw)
        try {
          var sumAbs = 0L; var sumSq = 0L; var peak = 0; var frames = 0L
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          var carry = -1 // low byte of a sample split across reads
          while (n > 0) {
            var i = 0
            if (carry >= 0 && n >= 1) {
              val s = ((buf(0) << 8) | carry).toShort.toInt
              val a = math.abs(s)
              sumAbs += a; sumSq += a.toLong * a; if (a > peak) peak = a
              frames += 1; carry = -1; i = 1
            }
            while (i + 1 < n) {
              val s = ((buf(i + 1) << 8) | (buf(i) & 0xFF)).toShort.toInt
              val a = math.abs(s)
              sumAbs += a; sumSq += a.toLong * a; if (a > peak) peak = a
              frames += 1
              i += 2
            }
            if (i < n) carry = buf(i) & 0xFF
            n = in.read(buf)
          }
          val ch = math.max(1, in.getFormat.getChannels)
          Some(AudioInfo(
            in.getFormat.getSampleRate, ch, frames / ch, sumAbs, peak, sumSq))
        } finally in.close()
      } catch { case _: Exception => None }

    /** Parsed AVI video: stream facts plus the per-frame payloads of the
      * FIRST `vids` stream in container order (`##dc` compressed chunks —
      * MJPEG, each a complete JPEG — or `##db` uncompressed DIB frames).
      */
    final case class VideoInfo(
        width: Int,
        height: Int,
        fps: Float,
        codec: String, // "MJPG"/"JPEG" (fourcc), "DIB" (biCompression=0), "RAW24" (BMFF raw depth-24)
        dibTopDown: Boolean, // negative biHeight = top-down row order
        frames: IndexedSeq[Array[Byte]],
        container: String, // "AVI" or "MP4" (ISO BMFF incl. MOV/M4V)
        frameSizes: IndexedSeq[Int]) // real per-frame byte sizes, even when frames are not collected

    /** Shared zero-length frame payload for `collectFrames = false`
      * parses — frame COUNTS stay real while nothing is copied.
      */
    private val EmptyFrame: Array[Byte] = Array.emptyByteArray

    /** Demux RIFF/AVI (the same container family as WAV — `RIFF` sizes
      * chunk-walked with the Long-cursor discipline, corrupt sizes end the
      * walk instead of wrapping an Int). Walks `LIST hdrl` for the first
      * `vids` stream's `strh` (fps) + `strf` (BITMAPINFOHEADER dims/
      * compression), then `LIST movi` (recursing into `LIST rec `
      * groupings) for that stream's `##dc`/`##db` frame payloads. None for
      * anything that is not a well-formed single-video AVI — the engine-
      * wide refuse-don't-guess codec posture. `collectFrames = false`
      * parses headers only (every frame is the shared empty payload, so
      * counts stay real) — the [[videoMetadata]] shape, no byte copies.
      */
    def parseAviVideo(
        bytes: Array[Byte], collectFrames: Boolean = true): Option[VideoInfo] =
      if (bytes == null || bytes.length < 24) None
      else try {
        def u16(o: Int): Int = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8)
        def u32(o: Int): Long =
          (bytes(o) & 0xFFL) | ((bytes(o + 1) & 0xFFL) << 8) |
            ((bytes(o + 2) & 0xFFL) << 16) | ((bytes(o + 3) & 0xFFL) << 24)
        def s32(o: Int): Int = u32(o).toInt
        def tag(o: Int): String =
          if (o + 4 <= bytes.length) new String(bytes, o, 4, "US-ASCII") else ""
        if (tag(0) != "RIFF" || tag(8) != "AVI ") return None

        var width = -1; var height = 0; var fps = 0f
        var codec = ""; var topDown = false
        var vidsStream = -1 // index of the first vids stream among strl lists
        val frames = IndexedSeq.newBuilder[Array[Byte]]
        val sizes = IndexedSeq.newBuilder[Int]

        // walk the chunks of [start, end); LISTs dispatch on their type
        def walk(start: Long, end: Long, inHdrl: Boolean, inMovi: Boolean,
            streamCounter: Array[Int]): Unit = {
          var off = start
          while (off + 8 <= end) {
            val o = off.toInt
            val id = tag(o); val sz = u32(o + 4)
            val payloadEnd = math.min(off + 8 + sz, end)
            if (id == "LIST" && sz >= 4) {
              val lt = tag(o + 8)
              if (lt == "hdrl") walk(off + 12, payloadEnd, inHdrl = true, inMovi = false, streamCounter)
              else if (lt == "strl" && inHdrl) {
                // one stream's header list: strh then strf
                val si = streamCounter(0); streamCounter(0) += 1
                var so = off + 12
                var isVids = false
                while (so + 8 <= payloadEnd) {
                  val sco = so.toInt
                  val cid = tag(sco); val csz = u32(sco + 4)
                  if (cid == "strh" && csz >= 32 && so + 8 + 32 <= payloadEnd) {
                    isVids = tag(sco + 8) == "vids"
                    if (isVids && vidsStream < 0) {
                      vidsStream = si
                      val scale = u32(sco + 8 + 20); val rate = u32(sco + 8 + 24)
                      fps = if (scale > 0) rate.toFloat / scale else 0f
                      // fourccs are case-insensitive in the wild ('MJPG',
                      // 'mjpg', and Matrox's 'dmb1' all mean MJPEG)
                      val handler = tag(sco + 12).trim.toUpperCase
                      if (codec.isEmpty && handler.nonEmpty) codec = handler
                    }
                  } else if (cid == "strf" && isVids && si == vidsStream &&
                      csz >= 40 && so + 8 + 40 <= payloadEnd) {
                    width = s32(sco + 8 + 4)
                    val bh = s32(sco + 8 + 8)
                    topDown = bh < 0
                    height = math.abs(bh)
                    val compression = u32(sco + 8 + 16)
                    val bitCount = u16(sco + 8 + 14)
                    codec =
                      if (compression == 0 && bitCount == 24) "DIB"
                      else tag(sco + 8 + 16).trim.toUpperCase // fourcc, e.g. MJPG
                  }
                  so += 8 + csz + (csz & 1)
                }
              } else if (lt == "movi" || (lt == "rec " && inMovi))
                walk(off + 12, payloadEnd, inHdrl = false, inMovi = true, streamCounter)
            } else if (inMovi && vidsStream >= 0 && id.length == 4 &&
                id.startsWith(f"$vidsStream%02d") &&
                (id.endsWith("dc") || id.endsWith("db")) &&
                off + 8 + sz <= end) {
              frames += (if (collectFrames)
                java.util.Arrays.copyOfRange(bytes, o + 8, (off + 8 + sz).toInt)
              else EmptyFrame)
              sizes += sz.toInt
            }
            off += 8 + sz + (sz & 1) // chunks pad to even
          }
        }
        walk(12L, math.min(8L + u32(4), bytes.length.toLong), inHdrl = false,
          inMovi = false, Array(0))
        val fs = frames.result()
        if (vidsStream < 0 || width <= 0 || height <= 0 || codec.isEmpty) None
        else Some(VideoInfo(width, height, fps, codec, topDown, fs, "AVI",
          sizes.result()))
      } catch { case _: Exception => None }

    /** Decode an uncompressed 24-bit DIB frame (BGR, rows padded to 4
      * bytes, bottom-up unless `topDown`) into the same [[ImageInfo]]
      * shape as [[decodeImage]] — exact integer sums, lossless, so a
      * closed-form pixel oracle gates the whole demux+decode path (mq7).
      */
    def decodeDib24(
        frame: Array[Byte], width: Int, height: Int,
        topDown: Boolean): Option[ImageInfo] = {
      if (frame == null || width <= 0 || height <= 0 ||
        width.toLong * height > (1L << 26)) return None
      val stride = ((3 * width + 3) / 4) * 4
      if (stride.toLong * height > frame.length) return None
      var sr = 0L; var sg = 0L; var sb = 0L
      val hist = new Array[Float](16)
      var y = 0
      while (y < height) {
        val srcRow = if (topDown) y else height - 1 - y
        var o = srcRow * stride
        var x = 0
        while (x < width) {
          val b = frame(o) & 0xFF; val g = frame(o + 1) & 0xFF; val r = frame(o + 2) & 0xFF
          sr += r; sg += g; sb += b
          hist(((r * 299 + g * 587 + b * 114) / 1000) >> 4) += 1.0f
          o += 3; x += 1
        }
        y += 1
      }
      val n = (width.toLong * height).toFloat
      var i = 0
      while (i < 16) { hist(i) /= n; i += 1 }
      Some(ImageInfo(width, height, 3, sr, sg, sb, hist))
    }

    /** Decode an uncompressed BMFF `raw ` depth-24 frame: tightly packed
      * top-down RGB rows (no padding — unlike DIB), sample size must be
      * exactly 3·w·h. Lossless, so the mq8 pixel oracle is closed form.
      */
    def decodeRaw24(frame: Array[Byte], width: Int, height: Int): Option[ImageInfo] = {
      if (frame == null || width <= 0 || height <= 0 ||
        width.toLong * height > (1L << 26) ||
        3L * width * height != frame.length) return None
      var sr = 0L; var sg = 0L; var sb = 0L
      val hist = new Array[Float](16)
      var o = 0
      while (o < frame.length) {
        val r = frame(o) & 0xFF; val g = frame(o + 1) & 0xFF; val b = frame(o + 2) & 0xFF
        sr += r; sg += g; sb += b
        hist(((r * 299 + g * 587 + b * 114) / 1000) >> 4) += 1.0f
        o += 3
      }
      val n = (width.toLong * height).toFloat
      var i = 0
      while (i < 16) { hist(i) /= n; i += 1 }
      Some(ImageInfo(width, height, 3, sr, sg, sb, hist))
    }

    /** Demux ISO BMFF (MP4/MOV/M4V) — the big-endian box-tree twin of
      * [[parseAviVideo]], same Long-cursor corrupt-size discipline (a size
      * smaller than its header or past the parent ends the walk, never
      * wraps an Int). Walks `moov` for the first `vide`-handler track,
      * reads its `stsd` sample entry (codec fourcc, dims, depth), `mdhd`
      * timescale + first `stts` delta (fps), and reconstructs every
      * sample's byte range from the real chunk tables — `stsc` runs map
      * chunks to sample counts, `stco`/`co64` give chunk offsets, `stsz`
      * gives sizes, samples are contiguous within a chunk. Any
      * out-of-range sample refuses the whole parse (a truncated file must
      * not yield silently short videos). Codec is the uppercase sample-
      * entry fourcc, except uncompressed `raw ` at depth 24 → "RAW24"
      * (the decodable form). None for anything that is not a well-formed
      * single-video BMFF file.
      */
    def parseMp4Video(
        bytes: Array[Byte], collectFrames: Boolean = true): Option[VideoInfo] =
      if (bytes == null || bytes.length < 16) None
      else try {
        def u16(o: Int): Int = ((bytes(o) & 0xFF) << 8) | (bytes(o + 1) & 0xFF)
        def u32(o: Int): Long =
          ((bytes(o) & 0xFFL) << 24) | ((bytes(o + 1) & 0xFFL) << 16) |
            ((bytes(o + 2) & 0xFFL) << 8) | (bytes(o + 3) & 0xFFL)
        def u64(o: Int): Long = (u32(o) << 32) | u32(o + 4)
        def tag(o: Int): String =
          if (o + 4 <= bytes.length) new String(bytes, o, 4, "US-ASCII") else ""

        // walk the boxes of [start, bEnd): f(type, payloadStart, payloadEnd)
        def boxes(start: Long, bEnd: Long)(f: (String, Long, Long) => Unit): Unit = {
          var off = start
          var ok = true
          while (ok && off + 8 <= bEnd) {
            val o = off.toInt
            val sz0 = u32(o)
            var hdr = 8L
            val sz: Long =
              if (sz0 == 1L && off + 16 <= bEnd) { hdr = 16L; u64(o + 8) }
              else if (sz0 == 0L) bEnd - off // "to end of file"
              else sz0
            if (sz < hdr || off + sz > bEnd) ok = false // corrupt size ends the walk
            else { f(tag(o + 4), off + hdr, off + sz); off += sz }
          }
        }

        // claim gate: the first top-level box must be a BMFF starter (an
        // arbitrary blob virtually never chains valid sizes AND types)
        val first = tag(4)
        if (first != "ftyp" && first != "moov" && first != "mdat" &&
          first != "free" && first != "skip" && first != "wide") return None

        var found: Option[VideoInfo] = None
        boxes(0L, bytes.length.toLong) { (t0, p0, e0) =>
          if (t0 == "moov" && found.isEmpty) boxes(p0, e0) { (t1, p1, e1) =>
            if (t1 == "trak" && found.isEmpty) {
              var handler = ""; var timescale = 0L
              var codec = ""; var w = 0; var h = 0; var depth = 0
              var sttsDelta = 0L
              var fixedSize = 0L; var sampleCount = -1
              var sampleSizes: Array[Long] = null
              var stscRuns: Array[(Long, Long)] = null // (first_chunk, samples_per_chunk)
              var chunkOffsets: Array[Long] = null
              boxes(p1, e1) { (t2, p2, e2) =>
                if (t2 == "mdia") boxes(p2, e2) { (t3, p3, e3) =>
                  val o3 = p3.toInt
                  if (t3 == "mdhd" && e3 - p3 >= 24) {
                    val v = bytes(o3) & 0xFF
                    timescale =
                      if (v == 1 && e3 - p3 >= 28) u32(o3 + 20) else u32(o3 + 12)
                  } else if (t3 == "hdlr" && e3 - p3 >= 12) {
                    handler = tag(o3 + 8)
                  } else if (t3 == "minf") boxes(p3, e3) { (t4, p4, e4) =>
                    if (t4 == "stbl") boxes(p4, e4) { (t5, p5, e5) =>
                      val o = p5.toInt
                      t5 match {
                        case "stsd" if e5 - p5 >= 8 + 86 && u32(o + 4) >= 1 =>
                          // first sample entry (description index 1); the
                          // VisualSampleEntry fixed layout: fourcc at +4,
                          // width/height at +32/+34, depth at +82
                          val eo = o + 8
                          val fourcc = tag(eo + 4)
                          w = u16(eo + 32); h = u16(eo + 34); depth = u16(eo + 82)
                          codec =
                            if (fourcc.equalsIgnoreCase("raw ") && depth == 24) "RAW24"
                            else fourcc.trim.toUpperCase
                        case "stts" if e5 - p5 >= 16 && u32(o + 4) >= 1 =>
                          sttsDelta = u32(o + 12) // first run's sample delta
                        case "stsz" if e5 - p5 >= 12 =>
                          fixedSize = u32(o + 4)
                          val n = u32(o + 8)
                          // bound the table by the box's own extent
                          if (n >= 0 && n <= Int.MaxValue) {
                            sampleCount = n.toInt
                            if (fixedSize == 0) {
                              if (e5 - p5 >= 12L + 4L * sampleCount)
                                sampleSizes =
                                  Array.tabulate(sampleCount)(i => u32(o + 12 + 4 * i))
                              else sampleCount = -1 // truncated table: refuse
                            }
                          }
                        case "stsc" if e5 - p5 >= 8 =>
                          val n = u32(o + 4)
                          if (n >= 1 && e5 - p5 >= 8L + 12L * n)
                            stscRuns = Array.tabulate(n.toInt)(i =>
                              (u32(o + 8 + 12 * i), u32(o + 12 + 12 * i)))
                        case "stco" if e5 - p5 >= 8 =>
                          val n = u32(o + 4)
                          if (n >= 0 && e5 - p5 >= 8L + 4L * n)
                            chunkOffsets = Array.tabulate(n.toInt)(i => u32(o + 8 + 4 * i))
                        case "co64" if e5 - p5 >= 8 =>
                          val n = u32(o + 4)
                          if (n >= 0 && e5 - p5 >= 8L + 8L * n)
                            chunkOffsets = Array.tabulate(n.toInt)(i => u64(o + 8 + 8 * i))
                        case _ =>
                      }
                    }
                  }
                }
              }
              if (handler == "vide" && codec.nonEmpty && w > 0 && h > 0 &&
                sampleCount > 0 && stscRuns != null && chunkOffsets != null &&
                (fixedSize > 0 || sampleSizes != null)) {
                // reconstruct sample ranges: chunks in stco order, stsc run
                // gives each chunk's sample count, samples contiguous
                val fb = IndexedSeq.newBuilder[Array[Byte]]
                val fsz = IndexedSeq.newBuilder[Int]
                var sample = 0; var ci = 0; var run = 0; var ok = true
                while (ok && sample < sampleCount && ci < chunkOffsets.length) {
                  while (run + 1 < stscRuns.length && stscRuns(run + 1)._1 <= ci + 1)
                    run += 1
                  val spc = stscRuns(run)._2
                  if (spc <= 0 || spc > sampleCount) ok = false
                  else {
                    var off = chunkOffsets(ci)
                    var s = 0L
                    while (ok && s < spc && sample < sampleCount) {
                      val len = if (fixedSize > 0) fixedSize else sampleSizes(sample)
                      if (len < 0 || off < 0 || off + len > bytes.length) ok = false
                      else {
                        fb += (if (collectFrames)
                          java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt)
                        else EmptyFrame)
                        fsz += len.toInt
                        off += len; sample += 1; s += 1
                      }
                    }
                    ci += 1
                  }
                }
                if (ok && sample == sampleCount) {
                  val fps =
                    if (sttsDelta > 0 && timescale > 0) timescale.toFloat / sttsDelta
                    else 0f
                  found = Some(VideoInfo(
                    w, h, fps, codec, dibTopDown = true, fb.result(), "MP4",
                    fsz.result()))
                }
              }
            }
          }
        }
        found
      } catch { case _: Exception => None }

    /** Container dispatch: try each real demuxer in turn (RIFF/AVI, then
      * ISO BMFF). The shared shape every video op consumes.
      */
    def parseVideo(
        bytes: Array[Byte], collectFrames: Boolean = true): Option[VideoInfo] =
      parseAviVideo(bytes, collectFrames)
        .orElse(parseMp4Video(bytes, collectFrames))

    /** Decode one frame of a parsed video: MJPEG-family frames are
      * complete JPEGs (the ImageIO path — AVI `MJPG`/`DMB1`, BMFF
      * `jpeg`/`mjpa`), DIB frames go through [[decodeDib24]], BMFF
      * depth-24 `raw ` through [[decodeRaw24]]. None for an unsupported
      * codec (avc1 and friends — no JVM bitstream decoder) or a corrupt
      * frame — the row drops, the job survives (same contract as every
      * decode here).
      */
    def decodeVideoFrame(v: VideoInfo, frame: Array[Byte]): Option[ImageInfo] =
      v.codec match {
        case "DIB" => decodeDib24(frame, v.width, v.height, v.dibTopDown)
        case "RAW24" => decodeRaw24(frame, v.width, v.height)
        // "DMB1" is Matrox's MJPEG fourcc; "JPEG"/"MJPA" are the BMFF
        // Motion-JPEG sample formats — all complete-JPEG frames
        case "MJPG" | "DMB1" | "JPEG" | "MJPA" => decodeImage(frame)
        case _ => None
      }

    /** Codecs [[decodeVideoFrame]] can actually decode — the
      * [[videoMetadata]] `decodable` flag, so a 100 TB inventory pass can
      * partition its corpus into decode-now vs needs-external-demuxer
      * without touching a single frame payload.
      */
    def decodableVideoCodec(codec: String): Boolean = codec match {
      case "DIB" | "RAW24" | "MJPG" | "DMB1" | "JPEG" | "MJPA" => true
      case _ => false
    }

    /** JPEG-encode a synthesized RGB image — the MJPEG fixture twin of
      * [[encodePng]] (lossy: oracle-exact checks use the DIB encoder).
      */
    def encodeJpeg(width: Int, height: Int, rgb: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, rgb(x, y) & 0xFFFFFF); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }

    /** Build a minimal spec-valid AVI around pre-encoded frame payloads —
      * the ingest-side twin of [[parseAviVideo]]. `codecFourcc` "MJPG"
      * writes `00dc` chunks (frames must be complete JPEGs); "DIB" writes
      * `00db` with biCompression=0 (frames must be padded bottom-up BGR).
      */
    def encodeAvi(
        width: Int, height: Int, fps: Int, codecFourcc: String,
        frames: Seq[Array[Byte]]): Array[Byte] = {
      require(fps > 0 && width > 0 && height > 0, "bad AVI dimensions/fps")
      val bos = new java.io.ByteArrayOutputStream()
      def le16(v: Int): Unit = { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF) }
      def le32(v: Long): Unit = {
        bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
        bos.write(((v >> 16) & 0xFF).toInt); bos.write(((v >> 24) & 0xFF).toInt)
      }
      def fourcc(s: String): Unit = bos.write(s.getBytes("US-ASCII"), 0, 4)
      val isDib = codecFourcc == "DIB"
      // sizes, inner-out: strh 56, strf 40, strl = 4 + (8+56) + (8+40)
      val strlSz = 4 + 64 + 48
      val avihSz = 56
      val hdrlSz = 4 + (8 + avihSz) + (8 + strlSz)
      val moviPayload = frames.map(f => 8 + f.length + (f.length & 1)).sum
      val moviSz = 4 + moviPayload
      val riffSz = 4 + (8 + hdrlSz) + (8 + moviSz)
      fourcc("RIFF"); le32(riffSz.toLong); fourcc("AVI ")
      fourcc("LIST"); le32(hdrlSz.toLong); fourcc("hdrl")
      fourcc("avih"); le32(avihSz.toLong)
      le32(1000000L / fps); le32(0); le32(0); le32(0) // usec/frame, maxbps, pad, flags
      le32(frames.size.toLong); le32(0); le32(1); le32(0) // total, initial, streams, bufsz
      le32(width.toLong); le32(height.toLong); le32(0); le32(0); le32(0); le32(0)
      fourcc("LIST"); le32(strlSz.toLong); fourcc("strl")
      fourcc("strh"); le32(56)
      fourcc("vids"); fourcc(if (isDib) "DIB " else codecFourcc)
      le32(0); le16(0); le16(0); le32(0) // flags, prio, lang, initial
      le32(1); le32(fps.toLong); le32(0); le32(frames.size.toLong) // scale, rate, start, length
      le32(0); le32(0); le32(0) // bufsz, quality, samplesize
      le16(0); le16(0); le16(width); le16(height) // rcFrame
      fourcc("strf"); le32(40)
      le32(40); le32(width.toLong); le32(height.toLong); le16(1)
      le16(24)
      if (isDib) le32(0) else fourcc(codecFourcc)
      le32(if (isDib) (((3 * width + 3) / 4) * 4).toLong * height else 0L)
      le32(0); le32(0); le32(0); le32(0)
      fourcc("LIST"); le32(moviSz.toLong); fourcc("movi")
      frames.foreach { f =>
        fourcc(if (isDib) "00db" else "00dc"); le32(f.length.toLong)
        bos.write(f, 0, f.length)
        if ((f.length & 1) == 1) bos.write(0) // pad to even
      }
      bos.toByteArray
    }

    /** Pack a synthesized RGB frame as a padded bottom-up BGR DIB — the
      * fixture twin of [[decodeDib24]] (lossless, so pixel oracles are
      * closed-form).
      */
    def encodeDib24Frame(
        width: Int, height: Int, rgb: (Int, Int) => Int): Array[Byte] = {
      val stride = ((3 * width + 3) / 4) * 4
      val out = new Array[Byte](stride * height)
      var y = 0
      while (y < height) {
        var o = (height - 1 - y) * stride
        var x = 0
        while (x < width) {
          val p = rgb(x, y)
          out(o) = (p & 0xFF).toByte // B
          out(o + 1) = ((p >> 8) & 0xFF).toByte // G
          out(o + 2) = ((p >> 16) & 0xFF).toByte // R
          o += 3; x += 1
        }
        y += 1
      }
      out
    }

    /** Pack a synthesized RGB frame as tightly packed top-down RGB — the
      * fixture twin of [[decodeRaw24]] (lossless, so the mq8 pixel oracle
      * is closed form).
      */
    def encodeRaw24Frame(
        width: Int, height: Int, rgb: (Int, Int) => Int): Array[Byte] = {
      val out = new Array[Byte](3 * width * height)
      var y = 0
      while (y < height) {
        var o = y * 3 * width
        var x = 0
        while (x < width) {
          val p = rgb(x, y)
          out(o) = ((p >> 16) & 0xFF).toByte // R
          out(o + 1) = ((p >> 8) & 0xFF).toByte // G
          out(o + 2) = (p & 0xFF).toByte // B
          o += 3; x += 1
        }
        y += 1
      }
      out
    }

    /** Build a minimal spec-valid ISO BMFF (QuickTime-brand) file around
      * pre-encoded frame payloads — the ingest-side twin of
      * [[parseMp4Video]]. `codecFourcc` "jpeg" writes complete-JPEG
      * samples (Motion-JPEG), "raw " writes depth-24 uncompressed (frames
      * must be tightly packed top-down RGB, [[encodeRaw24Frame]]). All
      * samples land in one `mdat` chunk; `stsz` uses the fixed-size form
      * when every frame is the same length (the `raw ` case) and the
      * per-sample table otherwise — so fixtures exercise both parse paths.
      */
    def encodeMp4Video(
        width: Int, height: Int, fps: Int, codecFourcc: String,
        frames: Seq[Array[Byte]]): Array[Byte] = {
      require(fps > 0 && width > 0 && height > 0 && frames.nonEmpty,
        "bad MP4 dimensions/fps/frames")
      require(codecFourcc.length == 4, s"codec fourcc must be 4 chars: '$codecFourcc'")
      def be16(v: Int): Array[Byte] =
        Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
      def be32(v: Long): Array[Byte] = Array(
        ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
      def cat(parts: Array[Byte]*): Array[Byte] = {
        val out = new Array[Byte](parts.map(_.length).sum)
        var o = 0
        parts.foreach { p => System.arraycopy(p, 0, out, o, p.length); o += p.length }
        out
      }
      def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
      def box(tp: String, payload: Array[Byte]*): Array[Byte] = {
        val body = cat(payload: _*)
        cat(be32(8L + body.length), fourcc(tp), body)
      }
      val n = frames.size
      val ftyp = box("ftyp", fourcc("qt  "), be32(0), fourcc("qt  "))
      val mdat = box("mdat", cat(frames.toSeq: _*))
      val mdatPayloadOff = ftyp.length + 8 // stco chunk offset (file-absolute)
      val zeros = (k: Int) => new Array[Byte](k)
      val mvhd = box("mvhd", be32(0), be32(0), be32(0),
        be32(fps.toLong), be32(n.toLong), // timescale, duration
        be32(0x00010000L), be16(0x0100), zeros(10),
        // identity matrix (16.16 / 2.30 fixed-point diagonals)
        be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L),
        be32(0), be32(0), be32(0), be32(0x40000000L),
        zeros(24), be32(2))
      val tkhd = box("tkhd", be32(7), be32(0), be32(0), // v0, flags=enabled|inMovie|inPreview
        be32(1), zeros(4), be32(n.toLong), zeros(8),
        be16(0), be16(0), be16(0), be16(0),
        be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L),
        be32(0), be32(0), be32(0), be32(0x40000000L),
        be32(width.toLong << 16), be32(height.toLong << 16))
      val mdhd = box("mdhd", be32(0), be32(0), be32(0),
        be32(fps.toLong), be32(n.toLong), // timescale = fps, delta 1 → fps exact
        be16(0x55C4), be16(0)) // language "und", quality
      val hdlr = box("hdlr", be32(0), be32(0), fourcc("vide"), zeros(12),
        Array(0.toByte))
      val isFixed = frames.forall(_.length == frames.head.length)
      val sampleEntry = cat(
        be32(86), fourcc(codecFourcc), zeros(6), be16(1), // size, format, reserved, dref idx
        be16(0), be16(0), zeros(12),
        be16(width), be16(height),
        be32(0x00480000L), be32(0x00480000L), zeros(4), be16(1), // 72 dpi, frame_count
        zeros(32), // compressor name (pascal string, empty)
        be16(24), be16(0xFFFF)) // depth, pre_defined
      val stsd = box("stsd", be32(0), be32(1), sampleEntry)
      val stts = box("stts", be32(0), be32(1), be32(n.toLong), be32(1))
      val stsc = box("stsc", be32(0), be32(1), be32(1), be32(n.toLong), be32(1))
      val stsz =
        if (isFixed) box("stsz", be32(0), be32(frames.head.length.toLong), be32(n.toLong))
        else box("stsz", be32(0), be32(0), be32(n.toLong),
          cat(frames.map(f => be32(f.length.toLong)).toSeq: _*))
      val stco = box("stco", be32(0), be32(1), be32(mdatPayloadOff.toLong))
      val stbl = box("stbl", stsd, stts, stsc, stsz, stco)
      val vmhd = box("vmhd", be32(1), be16(0), be16(0), be16(0), be16(0))
      val dref = box("dref", be32(0), be32(1), box("url ", be32(1)))
      val dinf = box("dinf", dref)
      val minf = box("minf", vmhd, dinf, stbl)
      val mdia = box("mdia", mdhd, hdlr, minf)
      val trak = box("trak", tkhd, mdia)
      val moov = box("moov", mvhd, trak)
      cat(ftyp, mdat, moov)
    }

    /** WAV-encode 16-bit signed mono PCM — the fixture/ingest-side twin of
      * [[decodeAudio]].
      */
    def encodeWavPcm16(sampleRate: Float, samples: Array[Short]): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        pcm(2 * i) = (samples(i) & 0xFF).toByte
        pcm(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos): Unit
      bos.toByteArray
    }
  }

  final case class ImageFeatureRow(
      id: Long,
      decoded: Boolean,
      width: Int,
      height: Int,
      channels: Int,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long,
      histogram: Array[Float])

  /** Real image feature extraction: decodable payloads get dimensions +
    * exact channel sums + the luminance histogram; unclaimable NON-NULL
    * payloads keep flowing with `decoded=false` and the [[MediaStub]]
    * byte-histogram fallback (stable column shapes — a mixed crawl
    * partition must not change schema row to row). NULL payloads (fetch
    * failures) are SKIPPED, like every decode op here — the engine-wide
    * skip-null media rule ([[extractFeatures]]/[[sampleFrameRows]]); join
    * back to the source table to enumerate them.
    */
  def imageFeatures(spark: SparkSession, media: DataFrame): Dataset[ImageFeatureRow] = {
    import spark.implicits._
    media.select(col("id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          if (bytes == null) None
          else MediaCodec.decodeImage(bytes) match {
            case Some(i) => Some(ImageFeatureRow(
              id, decoded = true, i.width, i.height, i.channels,
              i.sumR, i.sumG, i.sumB, i.grayHist))
            case None => Some(ImageFeatureRow(
              id, decoded = false, 0, 0, 0, 0L, 0L, 0L, MediaStub.decode(bytes)))
          }
        }
      }
  }

  final case class ThumbnailRow(id: Long, thumb: Array[Byte], width: Int, height: Int)

  /** Real thumbnailing: decodable images re-encode as ≤`maxDim` PNGs (one
    * output row per DECODED input; unclaimable payloads drop — a thumbnail
    * of garbage is not a thing).
    */
  def thumbnails(
      spark: SparkSession, media: DataFrame, maxDim: Int): Dataset[ThumbnailRow] = {
    import spark.implicits._
    require(maxDim > 0, "maxDim must be > 0")
    media.select(col("id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          if (bytes == null) None
          else MediaCodec.resizeImage(bytes, maxDim).flatMap { t =>
            MediaCodec.decodeImage(t).map(i => ThumbnailRow(id, t, i.width, i.height))
          }
        }
      }
  }

  final case class AHashRow(id: Long, hash_hi: Long, hash_lo: Long)

  /** Perceptual average-hash over DECODED pixels — the signature column
    * for image near-duplicate detection ([[graft.ops.Dedup.hammingNearDupPairs]]
    * consumes it). The image is box-averaged onto a `grid`×`grid` luma
    * grid (integer BT.601 luma, cell membership `bx = x·grid/w`) and bit
    * `k = by·grid+bx` is set iff the cell's mean luma exceeds the global
    * mean — compared as the exact integer cross-product
    * `cellSum · (w·h) > total · cellCount`, so the hash is deterministic,
    * engine-mirrorable in SQL (the mq5 oracle), and free of float
    * thresholds. Packed as two non-negative 32-bit halves (`hash_hi` =
    * bits 32..63) so an oracle can rebuild it without 64-bit sign games.
    *
    * Undecodable/null payloads drop (no meaningful signature), as do
    * images smaller than the grid or over 2^26 pixels (the cross-product
    * stays in Long up to 64 MP; a crawl's larger-than-64MP blobs are
    * thumbnailed upstream, not hashed raw).
    */
  def imageAHash(
      spark: SparkSession, media: DataFrame, grid: Int = 8): Dataset[AHashRow] = {
    import spark.implicits._
    require(grid >= 2 && grid * grid <= 64,
      s"imageAHash: grid=$grid must be in [2,8] (grid^2 bits must pack in 64)")
    media.select(col("id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          if (bytes == null) None
          else MediaCodec.ahash(bytes, grid).map { case (hi, lo) => AHashRow(id, hi, lo) }
        }
      }
  }

  final case class AudioFeatureRow(
      id: Long,
      sample_rate: Float,
      audio_channels: Int,
      frames: Long,
      sum_abs: Long,
      peak: Int)

  /** Real audio feature extraction over WAV/AIFF/AU payloads; unclaimable
    * payloads drop (audio features of non-audio are meaningless — unlike
    * [[imageFeatures]] there is no useful fallback signal shape).
    */
  def audioFeatures(spark: SparkSession, media: DataFrame): Dataset[AudioFeatureRow] = {
    import spark.implicits._
    media.select(col("id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          if (bytes == null) None
          else MediaCodec.decodeAudio(bytes).map(a => AudioFeatureRow(
            id, a.sampleRate, a.channels, a.frames, a.sumAbs, a.peak))
        }
      }
  }

  /** Wrap any table into the media schema, treating a string column's UTF-8
    * bytes as the payload — used to exercise the pipeline on the documents
    * fixture without real media files.
    */
  def fromText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("id"),
      encode(col(textCol), "UTF-8").as("media"),
      struct(
        lit("text/plain").as("format"),
        lit(0).as("width"),
        lit(0).as("height"),
        lit(1).as("channels")).as("meta"))

  final case class FrameRow(id: Long, frame_idx: Int, n_bytes: Int, codec: String)

  /** Frame sampling as a generator op: one output row per sampled frame —
    * the explode-shaped twin of [[extractFeatures]]. AVI and BMFF
    * (MP4/MOV) payloads demux for REAL ([[MediaCodec.parseVideo]]): every
    * `stride`-th container frame emits (`frame_idx` = its original frame
    * number, `n_bytes` = the frame payload size). Other payloads keep the
    * deterministic stub sampling (8-byte probes every `stride` BYTES) so
    * mixed-crawl batches and the decode-independent oracles keep flowing.
    * The `codec` column tags each row's provenance — the container's
    * fourcc ("MJPG", "DIB", "JPEG", "RAW24", "AVC1", …) for real demuxes,
    * the literal "stub" for byte-stride sampling — so a 100 TB run COUNTS
    * its stub-sampled rows (`GROUP BY codec`) instead of inferring them.
    */
  def sampleFrameRows(
      spark: SparkSession, media: DataFrame, stride: Int): Dataset[FrameRow] = {
    import spark.implicits._
    require(stride > 0, "stride must be > 0")
    media.select(col("id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // null payload → no frames (the engine-wide skip-null media rule;
        // an unguarded bytes.grouped NPE'd mid-task with an opaque trace)
        it.flatMap { case (id, bytes) =>
          if (bytes == null) Iterator.empty
          // header-only parse: this op emits per-frame SIZES, which the
          // chunk/sample tables already know — no payload copies
          else MediaCodec.parseVideo(bytes, collectFrames = false) match {
            case Some(v) =>
              Iterator.range(0, v.frameSizes.length, stride).map(i =>
                FrameRow(id, i, v.frameSizes(i), v.codec))
            case None =>
              MediaStub.sampleFrames(bytes, stride).iterator.zipWithIndex.map {
                case (frame, i) => FrameRow(id, i, frame.length, "stub")
              }
          }
        }
      }
  }

  final case class VideoFrameRow(
      id: Long,
      frame_idx: Int,
      width: Int,
      height: Int,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long,
      codec: String)

  /** REAL video frame features over AVI and BMFF (MP4/MOV) payloads —
    * MJPEG-family (complete-JPEG frames through the ImageIO path),
    * uncompressed 24-bit DIB (AVI, exact row math) or `raw ` (BMFF,
    * exact row math): demux the container, decode every `stride`-th
    * frame, emit per-frame dimensions + exact integer channel sums (the
    * mq7/mq8 oracle form). Unparseable payloads and undecodable frames
    * (avc1-class compressed bitstreams — [[videoMetadata]] still sees
    * those containers) drop, like [[audioFeatures]] — there is no
    * meaningful fallback shape for video.
    */
  def videoFrameFeatures(
      spark: SparkSession, media: DataFrame, stride: Int = 1): Dataset[VideoFrameRow] = {
    import spark.implicits._
    require(stride > 0, "stride must be > 0")
    media.select(col("id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          if (bytes == null) Iterator.empty
          else MediaCodec.parseVideo(bytes) match {
            case Some(v) =>
              Iterator.range(0, v.frames.length, stride).flatMap { i =>
                MediaCodec.decodeVideoFrame(v, v.frames(i)).map(info =>
                  VideoFrameRow(id, i, info.width, info.height,
                    info.sumR, info.sumG, info.sumB, v.codec))
              }
            case None => Iterator.empty
          }
        }
      }
  }

  final case class VideoMetaRow(
      id: Long,
      container: String,
      codec: String,
      width: Int,
      height: Int,
      fps: Float,
      n_frames: Int,
      decodable: Boolean)

  /** Container-level video inventory WITHOUT touching frame payloads:
    * demux headers + sample tables only (`collectFrames = false` — frame
    * counts come from the real chunk math, zero payload copies), emit
    * per-video container ("AVI"/"MP4"), codec fourcc, dims, fps, frame
    * count, and whether [[MediaCodec.decodeVideoFrame]] could decode its
    * frames. The 100 TB triage pass: `GROUP BY container, codec,
    * decodable` tells a crawl exactly what fraction of its video corpus
    * the engine can feature-extract today vs what needs an external
    * demuxer — including avc1/hvc1 MP4s whose METADATA is fully real
    * here. Unparseable payloads drop; join back to the source table to
    * enumerate them.
    */
  def videoMetadata(spark: SparkSession, media: DataFrame): Dataset[VideoMetaRow] = {
    import spark.implicits._
    media.select(col("id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          if (bytes == null) None
          else MediaCodec.parseVideo(bytes, collectFrames = false).map(v =>
            VideoMetaRow(id, v.container, v.codec, v.width, v.height, v.fps,
              v.frames.length, MediaCodec.decodableVideoCodec(v.codec)))
        }
      }
  }

  /** Batch feature extraction over binary payloads: the mapPartitions batch
    * shape every real decoder plugs into.
    */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // null payload rows are skipped, not crashed on (a real decoder
        // can't feature-extract an absent blob either)
        it.flatMap { case (id, bytes) =>
          if (bytes == null) None
          else Some(MediaFeatures(
            id,
            bytes.length,
            MediaStub.decode(bytes),
            MediaStub.resizedSize(bytes)))
        }
      }
  }
}
