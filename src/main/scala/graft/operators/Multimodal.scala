package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `BINARY`
  * columns with typed metadata, plus decode / feature-extract / resize /
  * frame-sample stages.
  *
  * The Spark-side plumbing — schema, partitioning, batch iteration shape —
  * is real and tested, and ALL THREE media kinds now have REAL codecs:
  * IMAGES ([[ImageCodec]]: javax.imageio, JDK built-in — PNG
  * encode/decode over genuine pixel rasters,
  * [[imageFeatures]]/q_media_decode), AUDIO ([[AudioCodec]]:
  * javax.sound.sampled — 16-bit PCM WAV encode/decode with RMS +
  * zero-crossing stats from actual samples,
  * [[audioFeatures]]/q_audio_decode), and VIDEO ([[VideoCodec]]:
  * MJPEG-in-AVI — a real RIFF container assembled and walked
  * byte-for-byte with JPEG frames through javax.imageio;
  * [[videoMeta]]/[[videoFeatures]], q_media_frames/q_video_decode).
  * `StubCodec` remains only as the pluggable-model stand-in for
  * learned feature EXTRACTION ([[extractFeatures]] — swap in a real
  * embedding model at deployment; the batch shape is the contract).
  *
  * Scale notes: media bytes are the widest column by orders of magnitude —
  * every transform here keeps them OUT of shuffles (feature extraction is
  * map-only via `mapPartitions`; joins carry `media_id` + features only).
  * `binaryFile` sources at real scale should set
  * `spark.sql.files.maxPartitionBytes` to bound partition memory.
  */
object Multimodal {

  /** Typed media row: kind ∈ {image, audio, video}; bytes opaque. */
  case class MediaRow(
      media_id: Long, kind: String, bytes: Array[Byte],
      width: Int, height: Int, sample_rate: Int, n_frames: Int)

  /** Extracted feature row — what downstream training pipelines join on.
    * `f_sums` carries the exact-integer bucket sums the floats derive
    * from (feature(k) = f_sums(k) / 65536 — the replayable-output
    * contract that de-exempted q_media_features).
    */
  case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long, content_hash: Long,
      feature: Array[Float], f_sums: Array[Long])

  val mediaSchema: StructType = Encoders.product[MediaRow].schema

  // ------------------------------------------------------------------
  // STUB CODEC — deterministic fake standing in for image/audio libs.
  // ------------------------------------------------------------------
  object StubCodec {
    /** Deterministic stand-in "model": FNV-1a 64 content hash of the
      * bytes, then per-POSITION contributions from the splitmix64
      * stream `z_i = splitmix64(u + i·golden)` — bucket `i mod dim`
      * accumulates the EXACT INTEGER `((z_i >>> 40) & 0xffff) − 32768`.
      * A real deployment replaces this body with a decode + model
      * inference; signature and batch shape stay identical.
      *
      * Two properties the old running-FNV float accumulation lacked
      * (the r17 de-exemption of q_media_features): the per-position
      * term depends only on (u, i) — stateless, like a real embedding
      * model's patch stream, not a sequential fold — and every op is
      * exact integer arithmetic on the SAME splitmix stages as the
      * image raster / audio waveform, so a SQL oracle replays the
      * whole pipeline (FNV hash → stream → bucket sums) from the
      * source text with no codec. Float features are DERIVED
      * downstream as `sum / 65536` (the ExactRatio discipline).
      */
    def featureSums(bytes: Array[Byte], dim: Int): (Long, Array[Long]) = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < bytes.length) {
        h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1
      }
      val sums = new Array[Long](dim)
      i = 0
      while (i < bytes.length) {
        var z = h + i * 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= (z >>> 31)
        sums(i % dim) += ((z >>> 40) & 0xffffL) - 32768L
        i += 1
      }
      (h, sums)
    }
  }

  // ------------------------------------------------------------------
  // REAL IMAGE CODEC — javax.imageio (JDK built-in, zero new deps).
  // ------------------------------------------------------------------
  object ImageCodec {
    /** Deterministic PNG: a w×h RGB raster whose pixel (x, y) is a
      * splitmix64 of (seed, x, y). PNG is LOSSLESS, so the decoded
      * raster — and every statistic of it — is a pure function of
      * (w, h, seed): the determinism the specs assert is a property of
      * the format, not of luck.
      */
    def encodePng(width: Int, height: Int, seed: Long): Array[Byte] = {
      val img = raster(width, height, seed)
      val bos = new java.io.ByteArrayOutputStream()
      // memory-cached output stream — see the JPEG encode note (no temp
      // file per image; identical bytes)
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try javax.imageio.ImageIO.write(img, "png", ios) finally ios.close()
      bos.toByteArray
    }

    /** A w×h RGB raster whose pixel (x, y) is a splitmix64 of
      * (seed, x, y). */
    private[Multimodal] def raster(width: Int, height: Int,
        seed: Long): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          var z = seed + x * 0x9E3779B97F4A7C15L + y * 0xC2B2AE3D27D4EB4FL
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          img.setRGB(x, y, ((z ^ (z >>> 31)) & 0xFFFFFF).toInt)
          x += 1
        }
        y += 1
      }
      img
    }

    final case class Decoded(width: Int, height: Int, nChannels: Int,
      sumR: Long, sumG: Long, sumB: Long)

    /** REAL decode to a BufferedImage (memory-cached stream — no temp
      * file per image; see the decodeStats note). Shared by the stats
      * and perceptual-hash paths.
      */
    def decodeImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      // ImageIO.read(ImageInputStream) closes the stream on the decode
      // path, but on the no-registered-reader path it returns null
      // WITHOUT closing — close defensively (swallowing the
      // already-closed IOException from the happy path)
      val img =
        try javax.imageio.ImageIO.read(iis)
        finally try iis.close() catch { case _: java.io.IOException => () }
      require(img != null, "undecodable image bytes")
      img
    }

    /** REAL decode + per-channel EXACT INTEGER sums: ImageIO parses the
      * container, inflates the raster, and the sums are computed from
      * actual pixels. Integer sums (not double means) are the output
      * contract that lets the DuckDB oracle replay the full raster
      * arithmetic and hash-match bit-for-bit — means are derived
      * downstream via ExactRatio (r16 de-exemption of q_media_decode).
      * Untagged sRGB PNGs take no color-management path, so the decoded
      * values are bit-identical across JVMs.
      */
    def decodeStats(bytes: Array[Byte]): Decoded = {
      // NOT ImageIO.read(InputStream): that wraps the stream in a
      // FileCacheImageInputStream (ImageIO cache default) — a TEMP FILE
      // per decoded image. The bytes are already in memory; decode
      // through a memory-cached stream instead.
      val img = decodeImage(bytes)
      val w = img.getWidth
      val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L
      // bulk row-major pixel fetch — same per-pixel values and the same
      // (integer) accumulation order as a per-(x,y) getRGB loop
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var k = 0
      while (k < px.length) {
        val p = px(k)
        sr += (p >>> 16) & 0xFF; sg += (p >>> 8) & 0xFF; sb += p & 0xFF
        k += 1
      }
      Decoded(w, h, img.getColorModel.getNumComponents, sr, sg, sb)
    }
  }

  // ------------------------------------------------------------------
  // REAL AUDIO CODEC — javax.sound.sampled (JDK built-in, zero deps):
  // 16-bit mono PCM WAV encode + container-parsed decode.
  // ------------------------------------------------------------------
  object AudioCodec {
    /** Sample `i` of the deterministic waveform: an ALL-INTEGER triangle
      * wave whose period and amplitude derive from the seed via
      * unsigned residues. `v = A − (2A·|2p − P|) div P` sweeps −A → A →
      * −A over one period P; every op is exact integer arithmetic
      * (floor division on nonnegative operands), so a SQL oracle
      * replays the samples verbatim with `%`/`//`/`abs` — the property
      * that de-exempted q_audio_decode (r16): PCM is lossless, so the
      * REAL decode and the arithmetic replay meet at the same samples.
      * (The r15 generator was a `math.sin` sine — libm is not
      * correctly-rounded, so its samples were NOT cross-engine
      * replayable; a triangle keeps RMS/ZCR physically meaningful
      * while making every sample exact.)
      */
    def sample(seed: Long, i: Long): Long = {
      val p0 = java.lang.Long.remainderUnsigned(seed, 179) + 20 // period
      val amp = java.lang.Long.remainderUnsigned(seed, 7) + 2 // class 2..8
      val p = i % p0
      // SIGN from a square carrier (positive in the middle half of each
      // period — integer comparison, replayable), MAGNITUDE pure
      // per-sample splitmix noise scaled by the amplitude class.
      // Design history, all three measured on the planted-dup spec +
      // band-bucket census: a bare triangle's normalized frame energies
      // depend only on (period, n) — unrelated seeds collide at
      // hamming ≤ 3; a per-block gain still left contiguous-run band
      // patterns (80-member buckets, a 16× super-linear soak row); and
      // ANY smooth deterministic envelope leaks through both global-
      // threshold and delta statistics. Noise-dominated magnitudes make
      // frame energies sums of iid uniforms, so the delta-hash bits are
      // iid coin flips across seeds — while the square carrier keeps
      // ZCR periodic-physical and every op stays exact integer
      // arithmetic (|v| ≤ 8·3600 = 28800 < 2¹⁵). Same splitmix stages
      // as the image raster — the SQL replay reuses the mm64 machinery.
      val sgn = if (math.abs(2 * p - p0) * 2 <= p0) 1L else -1L
      var z = seed + i * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= (z >>> 31)
      sgn * amp * (java.lang.Long.remainderUnsigned(z, 3600) + 1)
    }

    /** Deterministic WAV: `nSamples` of the 16-bit mono all-integer
      * [[sample]] waveform (square carrier × noise magnitudes). PCM is
      * lossless, so decoded sample statistics are a pure function of
      * (nSamples, sampleRate, seed).
      */
    def encodeWav(nSamples: Int, sampleRate: Int, seed: Long): Array[Byte] = {
      val dataLen = nSamples * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      while (i < nSamples) {
        bb.putShort(sample(seed, i).toShort)
        i += 1
      }
      bb.array()
    }

    final case class Decoded(sampleRate: Int, nSamples: Long,
      sumSq: Long, sumAbs: Long, zeroCrossings: Long)

    /** AudioSystem parses the RIFF/WAVE container; the format must be
      * 16-bit mono PCM. Returns the format and the little-endian sample
      * bytes. */
    private def readPcm16Mono(bytes: Array[Byte])
        : (javax.sound.sampled.AudioFormat, Array[Byte]) = {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
          s"expected 16-bit mono PCM, got $fmt")
        (fmt, ais.readAllBytes())
      } finally ais.close()
    }

    /** REAL decode: AudioSystem parses the RIFF/WAVE container and frame
      * format; EXACT integer sample moments (Σv², Σ|v|) + zero-crossing
      * count come from the actual PCM samples — the standard cheap
      * audio-quality signals (silence / clipping / dead channels show up
      * immediately in RMS and ZCR). Integer moments, not double RMS, are
      * the operator contract (the image-decode discipline): RMS is
      * derived downstream as `sqrt(sum_sq/n)/32768` — IEEE
      * correctly-rounded ops only, bit-reproducible on any engine.
      */
    def decodeStats(bytes: Array[Byte]): Decoded = {
      val (fmt, raw) = readPcm16Mono(bytes)
      var sumSq = 0L
      var sumAbs = 0L
      var zc = 0L
      var prevPos = true
      var n = 0L
      var i = 0
      while (i + 1 < raw.length) {
        val s = ((raw(i) & 0xFF) | (raw(i + 1) << 8)).toShort
        sumSq += s.toLong * s
        sumAbs += math.abs(s.toLong)
        val pos = s >= 0
        if (n > 0 && pos != prevPos) zc += 1
        prevPos = pos
        n += 1
        i += 2
      }
      Decoded(fmt.getSampleRate.toInt, n, sumSq, sumAbs, zc)
    }

    /** 64 frame-energy cells + per-frame SAMPLE COUNTS from REAL decoded
      * PCM: frame k (k = ⌊i·64/n⌋ — integer arithmetic, every index
      * lands in [0, 64)) accumulates Σ|v| of its samples. The audio twin
      * of the image 8×8 luma grid. The counts are load-bearing: frames
      * span ⌊n/64⌋..⌈n/64⌉ samples, and an UNNORMALIZED mean threshold
      * makes the bit pattern track the Bresenham frame-size pattern of
      * n — docs sharing n (a 400-value family) collided regardless of
      * content (measured: band buckets like 0b11111 with 80 members at
      * sf0.1, and a 16× super-linear soak row). The hash therefore
      * compares per-sample energies of ADJACENT frames, cross-
      * multiplied exact (see [[Multimodal.audioAHash]]).
      */
    def frameEnergies(bytes: Array[Byte]): (Long, Array[Long], Array[Long]) = {
      val raw = readPcm16Mono(bytes)._2
      val n = raw.length / 2
      val e = new Array[Long](64)
      val c = new Array[Long](64)
      var i = 0
      while (i + 1 < raw.length) {
        val s = ((raw(i) & 0xFF) | (raw(i + 1) << 8)).toShort
        val k = ((i / 2).toLong * 64 / n).toInt
        e(k) += math.abs(s.toLong)
        c(k) += 1
        i += 2
      }
      (n.toLong, e, c)
    }
  }

  // ------------------------------------------------------------------
  // REAL VIDEO CODEC — MJPEG-in-AVI assembled and parsed byte-for-byte
  // (RIFF container walk, same family as the WAV RIFF; JPEG frames via
  // javax.imageio). Zero new deps: the JDK ships no video *decoder*,
  // but MJPEG is just a RIFF index over ordinary JPEG images, so both
  // the container math and every per-frame pixel statistic come from
  // genuine bytes.
  // ------------------------------------------------------------------
  object VideoCodec {

    /** Deterministic MJPEG-in-AVI clip: `nFrames` JPEG frames whose
      * rasters derive from (seed, frame, x, y) via the [[ImageCodec]]
      * splitmix scheme, in a minimal standard AVI (`hdrl` with
      * avih+strl, `movi` with one `00dc` chunk per frame). JPEG is
      * lossy but the ENCODER is deterministic for a fixed JVM, so the
      * bytes — and every stat parsed back out of them — are a pure
      * function of (w, h, fps, nFrames, seed).
      */
    def encodeAvi(width: Int, height: Int, fps: Int, nFrames: Int,
        seed: Long): Array[Byte] = {
      val frames = (0 until nFrames).map { f =>
        // wrapping Long adds: the same pixels as folding the frame term
        // into each pixel's sum
        val img = ImageCodec.raster(width, height,
          seed + f * 0x8C6E1D29B5A1D3F7L)
        val bos = new java.io.ByteArrayOutputStream()
        // memory-cached output stream: ImageIO.write(_, _, OutputStream)
        // would otherwise spill through a temp FILE per frame
        // (FileCacheImageOutputStream, the ImageIO cache default).
        // Identical bytes — the stream type is buffering only.
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        try javax.imageio.ImageIO.write(img, "jpg", ios) finally ios.close()
        bos.toByteArray
      }
      def fourcc(s: String) = s.getBytes("US-ASCII")
      val moviBody = frames.map(j => 8 + j.length + (j.length & 1)).sum + 4
      val hdrlBody = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
      val riffBody = 4 + (8 + hdrlBody) + (8 + moviBody)
      val bb = java.nio.ByteBuffer.allocate(8 + riffBody)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(fourcc("RIFF")).putInt(riffBody).put(fourcc("AVI "))
      // LIST hdrl
      bb.put(fourcc("LIST")).putInt(hdrlBody).put(fourcc("hdrl"))
      //   avih: main header
      bb.put(fourcc("avih")).putInt(56)
        .putInt(1000000 / fps) // dwMicroSecPerFrame
        .putInt(0).putInt(0).putInt(0)
        .putInt(nFrames)       // dwTotalFrames
        .putInt(0).putInt(1)   // dwStreams = 1
        .putInt(0)
        .putInt(width).putInt(height)
        .putInt(0).putInt(0).putInt(0).putInt(0)
      //   LIST strl (strh + strf)
      bb.put(fourcc("LIST")).putInt(4 + (8 + 56) + (8 + 40)).put(fourcc("strl"))
      bb.put(fourcc("strh")).putInt(56)
        .put(fourcc("vids")).put(fourcc("MJPG"))
        .putInt(0).putShort(0).putShort(0).putInt(0)
        .putInt(1).putInt(fps) // dwScale / dwRate = frame rate
        .putInt(0).putInt(nFrames)
        .putInt(0).putInt(-1).putInt(0)
        .putShort(0).putShort(0)
        .putShort(width.toShort).putShort(height.toShort)
      bb.put(fourcc("strf")).putInt(40)
        .putInt(40).putInt(width).putInt(height)
        .putShort(1).putShort(24)
        .put(fourcc("MJPG"))
        .putInt(width * height * 3)
        .putInt(0).putInt(0).putInt(0).putInt(0)
      // LIST movi: one 00dc chunk per JPEG frame, even-padded
      bb.put(fourcc("LIST")).putInt(moviBody).put(fourcc("movi"))
      frames.foreach { j =>
        bb.put(fourcc("00dc")).putInt(j.length).put(j)
        if ((j.length & 1) == 1) bb.put(0.toByte)
      }
      bb.array()
    }

    final case class Decoded(width: Int, height: Int, nFrames: Int,
      durationMs: Long)

    /** Container-only parse (no frame decode): walk the RIFF tree to the
      * `avih` main header and read width/height/frame count/frame
      * duration from actual header bytes. This is the cheap metadata
      * path frame-sampling planning needs — O(header), not O(pixels).
      */
    def parseMeta(bytes: Array[Byte]): Decoded = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      require(bb.getInt(0) == 0x46464952, "not a RIFF file") // 'RIFF'
      require(bb.getInt(8) == 0x20495641, "not an AVI file") // 'AVI '
      var pos = 12
      while (pos + 8 <= bytes.length) {
        val id = bb.getInt(pos)
        val sz = bb.getInt(pos + 4)
        if (id == 0x5453494C) { // 'LIST'
          if (bb.getInt(pos + 8) == 0x6C726468) { pos += 12 } // descend hdrl
          else pos += 8 + sz + (sz & 1)
        } else if (id == 0x68697661) { // 'avih'
          val usPerFrame = bb.getInt(pos + 8)
          val nFrames = bb.getInt(pos + 8 + 16)
          val w = bb.getInt(pos + 8 + 32)
          val h = bb.getInt(pos + 8 + 36)
          return Decoded(w, h, nFrames, nFrames.toLong * usPerFrame / 1000L)
        } else pos += 8 + sz + (sz & 1)
      }
      throw new IllegalArgumentException("no avih header found")
    }

    final case class FrameStats(nFrames: Int, meanLuma: Double)

    /** FULL decode: iterate the `movi` list's `00dc` chunks, decode each
      * JPEG frame with javax.imageio, and fold per-pixel Rec.601 luma
      * into a per-clip mean — every value derives from genuine
      * container-framed, codec-decoded pixel bytes.
      */
    def decodeFrames(bytes: Array[Byte]): FrameStats = {
      var lumaSum = 0.0
      var nPix = 0L
      val n = foreachFrame(bytes) { img =>
        // bulk row-major fetch; double accumulation order is
        // identical to the per-(x,y) loop → bit-identical mean
        val fw = img.getWidth
        val px = img.getRGB(0, 0, fw, img.getHeight, null, 0, fw)
        var k = 0
        while (k < px.length) {
          val p = px(k)
          lumaSum += 0.299 * ((p >>> 16) & 0xFF) +
            0.587 * ((p >>> 8) & 0xFF) + 0.114 * (p & 0xFF)
          k += 1
        }
        nPix += px.length
      }
      FrameStats(n, if (nPix == 0) 0.0 else lumaSum / nPix)
    }

    /** 8×8 per-cell EXACT INTEGER luma sums accumulated over EVERY
      * decoded frame (NN-sampled at x = ⌊(2i+1)·w/16⌋, per-mille
      * Rec.601 integer luma — the [[Multimodal.imageAHash]] grid, once
      * per frame, summed across the clip). This is the temporal-average
      * aHash input: thresholding the SUMMED grid against its own mean
      * is the aHash of the time-averaged frame, so the bits stay
      * ~balanced for any frame count (a per-frame majority vote would
      * bias toward 0/1 on even-length clips) and a dropped/duplicated
      * frame moves each cell only by one frame's contribution — the
      * near-dup robustness property. Returns (framesDecoded, grid[64]).
      */
    def frameLumaGrid(bytes: Array[Byte]): (Int, Array[Long]) = {
      val grid = new Array[Long](64)
      val n = foreachFrame(bytes) { img =>
        val w = img.getWidth; val h = img.getHeight
        var k = 0; var j = 0
        while (j < 8) {
          var i = 0
          while (i < 8) {
            val rgb = img.getRGB((2 * i + 1) * w / 16, (2 * j + 1) * h / 16)
            grid(k) += 299L * ((rgb >> 16) & 0xff) +
              587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
            k += 1; i += 1
          }
          j += 1
        }
      }
      (n, grid)
    }

    /** Walks the `movi` list's `00dc` chunks in order and decodes each
      * JPEG frame for `f`; returns the number of frames. */
    private def foreachFrame(bytes: Array[Byte])(
        f: java.awt.image.BufferedImage => Unit): Int = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var pos = 12
      var n = 0
      // ONE JPEG reader reused across the clip's frames:
      // ImageIO.read(stream) re-runs plugin discovery per call — for
      // tiny MJPEG frames that overhead is material (measured 4.73 s
      // → 3.62 s for q_video_decode at sf0.1, −23%)
      val reader = javax.imageio.ImageIO
        .getImageReadersByFormatName("jpeg").next()
      try {
        while (pos + 8 <= bytes.length) {
          val id = bb.getInt(pos)
          val sz = bb.getInt(pos + 4)
          if (id == 0x5453494C && bb.getInt(pos + 8) == 0x69766F6D)
            pos += 12 // 'LIST' movi: descend
          else {
            if (id == 0x63643030) { // '00dc'
              // MemoryCacheImageInputStream, NOT createImageInputStream:
              // the latter returns a FileCacheImageInputStream under the
              // ImageIO cache default — a temp FILE per frame, i.e.
              // hundreds of thousands of file create/deletes per bench
              // run for tiny in-memory MJPEG frames
              val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
                new java.io.ByteArrayInputStream(bytes, pos + 8, sz))
              val img = try {
                reader.setInput(iis, true, true)
                reader.read(0)
              } finally iis.close()
              require(img != null, s"undecodable frame $n")
              f(img)
              n += 1
            }
            pos += 8 + sz + (sz & 1)
          }
        }
      } finally reader.dispose()
      n
    }
  }

  /** Per-clip container-parsed metadata row ([[VideoCodec.parseMeta]]). */
  case class VideoMeta(media_id: Long, vid_width: Int, vid_height: Int,
      n_frames: Int, duration_ms: Long, n_bytes: Long)

  /** Per-clip FULL-decode stats row ([[VideoCodec.decodeFrames]]). */
  case class VideoStats(media_id: Long, vid_width: Int, vid_height: Int,
      n_frames: Int, n_frames_decoded: Int, duration_ms: Long,
      mean_luma: Double, n_bytes: Long)

  /** Media table with GENUINE MJPEG-in-AVI bytes (deterministic JPEG
    * frames in a real RIFF container; dims/fps/frame count derive from
    * the id). Map-only generation, like [[syntheticImageTable]].
    */
  def syntheticVideoTable(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (id % 9 + 2).toInt * 2
        val h = (id % 7 + 2).toInt * 2
        val fps = (id % 4 + 1).toInt * 5
        val nf = (id % 12 + 2).toInt
        (id, "video", VideoCodec.encodeAvi(w, h, fps, nf, id), w, h, nf)
      }
    }.toDF("media_id", "kind", "bytes", "width", "height", "n_frames_meta")
  }

  /** Content-seeded video table: like [[syntheticVideoTable]] but clip
    * shape AND frame seed derive from the FNV-1a 64 content hash of the
    * text — exact-duplicate documents get bit-identical AVIs, the "same
    * clip re-uploaded" regime that makes video near-dup detection
    * meaningful on this fixture (the [[contentImageTable]] /
    * [[contentAudioTable]] triplet completed). Map-only; bytes born on
    * executors.
    */
  def contentVideoTable(docs: DataFrame): DataFrame = {
    byContentHash(docs) { (id, ch) =>
      def m(n: Long) = java.lang.Long.remainderUnsigned(ch, n).toInt
      val w = (m(9) + 2) * 2
      val h = (m(7) + 2) * 2
      val fps = (m(4) + 1) * 5
      val nf = m(12) + 2
      (id, "video", VideoCodec.encodeAvi(w, h, fps, nf, ch), w, h, nf)
    }.toDF("media_id", "kind", "bytes", "width", "height", "n_frames_meta")
  }

  /** Per-clip video perceptual-hash row: four 16-bit bands over the
    * temporal-average aHash (the [[ImageHash]]/[[AudioHash]] shape).
    */
  case class VideoHash(media_id: Long, n_frames: Long,
      b0: Long, b1: Long, b2: Long, b3: Long)

  /** Video perceptual hash over REAL decoded MJPEG frames, at the
    * `mapPartitions` codec boundary: walk the RIFF container, decode
    * every JPEG frame with javax.imageio, accumulate the 8×8 NN-sampled
    * integer luma grid ACROSS frames ([[VideoCodec.frameLumaGrid]]),
    * then threshold each summed cell against the grid mean
    * (cross-multiplied — the [[imageAHash]] rule applied to the
    * time-averaged frame) and pack bit k into four 16-bit bands.
    * Identical clips hash identically; a dropped frame perturbs each
    * cell by one frame's luma — the near-dup regime banding tolerates
    * at hamming ≤ 3. Unlike the image/audio twins this is NOT
    * SQL-replayable: JPEG is LOSSY, so the decoded pixels are a codec
    * implementation detail, not arithmetic of the seed (the
    * q_video_decode exemption class) — covered by planted-dup +
    * discrimination specs instead. Map-only; bytes never shuffle.
    */
  def videoAHash(media: DataFrame): Dataset[VideoHash] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val (n, grid) = VideoCodec.frameLumaGrid(bytes)
          val sum = grid.sum
          val bands = new Array[Long](4)
          var k = 0
          while (k < 64) {
            if (grid(k) * 64 > sum) bands(k / 16) |= 1L << (k % 16)
            k += 1
          }
          VideoHash(id, n.toLong, bands(0), bands(1), bands(2), bands(3))
        }
      }
  }

  /** Container-parse metadata extraction at the mapPartitions codec
    * boundary — header bytes only, no pixel work. Map-only; bytes never
    * shuffle.
    */
  def videoMeta(media: DataFrame): Dataset[VideoMeta] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val m = VideoCodec.parseMeta(bytes)
          VideoMeta(id, m.width, m.height, m.nFrames, m.durationMs,
            bytes.length.toLong)
        }
      }
  }

  /** REAL video feature extraction: container parse + per-frame JPEG
    * decode + Rec.601 luma stats from actual pixels. Map-only; bytes
    * never shuffle.
    */
  def videoFeatures(media: DataFrame): Dataset[VideoStats] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val m = VideoCodec.parseMeta(bytes)
          val f = VideoCodec.decodeFrames(bytes)
          VideoStats(id, m.width, m.height, m.nFrames, f.nFrames,
            m.durationMs, f.meanLuma, bytes.length.toLong)
        }
      }
  }

  /** Per-clip REAL-decode stats row (exact integer moments; RMS derived
    * downstream from sum_sq — the replayable-output contract). */
  case class AudioStats(media_id: Long, sample_rate: Int, n_samples: Long,
      sum_sq: Long, sum_abs: Long, zero_crossings: Long, n_bytes: Long)

  /** Media table with GENUINE WAV bytes (the all-integer square-carrier ×
    * splitmix-noise [[AudioCodec.sample]] waveform; length and seed derive
    * from the id). Map-only generation, like [[syntheticImageTable]].
    */
  def syntheticAudioTable(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val n = (id % 400 + 100).toInt
        (id, "audio", AudioCodec.encodeWav(n, 16000, id), 16000, n)
      }
    }.toDF("media_id", "kind", "bytes", "sample_rate", "n_samples_meta")
  }

  /** REAL audio feature extraction at the mapPartitions codec boundary:
    * container-parsed sample rate + PCM-derived RMS / zero-crossing
    * stats. Map-only; bytes never shuffle.
    */
  def audioFeatures(media: DataFrame): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val s = AudioCodec.decodeStats(bytes)
          AudioStats(id, s.sampleRate, s.nSamples, s.sumSq, s.sumAbs,
            s.zeroCrossings, bytes.length.toLong)
        }
      }
  }

  /** Content-seeded audio table: like [[syntheticAudioTable]] but sample
    * count AND waveform seed derive from the FNV-1a 64 content hash of
    * the text — exact-duplicate documents get bit-identical WAVs, the
    * "same recording re-uploaded" regime that makes audio near-dup
    * detection meaningful on this fixture (the [[contentImageTable]]
    * twin). Map-only; bytes born on executors.
    */
  def contentAudioTable(docs: DataFrame): DataFrame = {
    byContentHash(docs) { (id, ch) =>
      val n = java.lang.Long.remainderUnsigned(ch, 400).toInt + 100
      (id, "audio", AudioCodec.encodeWav(n, 16000, ch), 16000, n)
    }.toDF("media_id", "kind", "bytes", "sample_rate", "n_samples_meta")
  }

  /** Per-clip audio perceptual-hash row: four 16-bit energy-signature
    * bands (always non-negative BIGINTs — banding key + no-DECIMAL
    * output contract in one shape, the [[ImageHash]] twin).
    */
  case class AudioHash(media_id: Long, n_samples: Long,
      b0: Long, b1: Long, b2: Long, b3: Long)

  /** Audio perceptual hash over REAL decoded PCM, at the `mapPartitions`
    * codec boundary: parse the WAV container with javax.sound.sampled,
    * fold the samples into 64 frame-energy cells (Σ|v| per frame k =
    * ⌊i·64/n⌋ — all-integer), then take the DELTA hash (Haitsma–Kalker
    * style): bit k = per-sample energy of frame k exceeds frame
    * (k+1) mod 64, cross-multiplied exact —
    * `e_k·c_{k+1} > e_{k+1}·c_k`. Two design forces, both measured:
    * the per-frame counts c_k normalize away the Bresenham frame-size
    * aliasing of n (without them, same-length docs collided regardless
    * of content), and the LOCAL delta comparison replaces a global
    * mean threshold, whose bits over any smooth energy envelope form
    * contiguous runs — a few hundred distinct band patterns corpus-wide
    * (observed 80–100-member buckets and a 16× super-linear soak row).
    * PCM is lossless and the waveform is pure integer arithmetic of
    * the content seed, so a SQL oracle replays the whole pipeline
    * (hash → samples → energies → bits) without a decoder — the audio
    * twin of [[imageAHash]]. Map-only; bytes never shuffle (4 small
    * ints leave the codec).
    */
  def audioAHash(media: DataFrame): Dataset[AudioHash] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val (n, e, c) = AudioCodec.frameEnergies(bytes)
          val bands = new Array[Long](4)
          var k = 0
          while (k < 64) {
            val k2 = (k + 1) % 64
            if (e(k) * c(k2) > e(k2) * c(k)) bands(k / 16) |= 1L << (k % 16)
            k += 1
          }
          AudioHash(id, n, bands(0), bands(1), bands(2), bands(3))
        }
      }
  }

  /** Per-image REAL-decode stats row (exact integer channel sums; means
    * derived downstream via ExactRatio — the replayable-output contract
    * that de-exempted q_media_decode in r16). */
  case class ImageStats(media_id: Long, img_width: Int, img_height: Int,
      n_channels: Int, n_pixels: Long, sum_r: Long, sum_g: Long,
      sum_b: Long, n_bytes: Long)

  /** Media table with GENUINE PNG bytes (encoded per-row from a
    * deterministic raster; dims derived from the id). Generation is
    * map-only inside `mapPartitions` — bytes are born on executors and,
    * chained into [[imageFeatures]], die there without ever shuffling.
    */
  def syntheticImageTable(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (id % 31 + 2).toInt
        val h = (id % 23 + 2).toInt
        (id, "image", ImageCodec.encodePng(w, h, id), w, h)
      }
    }.toDF("media_id", "kind", "bytes", "width", "height")
  }

  /** `f(doc_id, h)` per document, `h` the FNV-1a 64 hash of its UTF-8
    * text — the seed of the content-seeded media tables. Map-only. */
  private def byContentHash[T <: Product : scala.reflect.runtime.universe.TypeTag](
      docs: DataFrame)(f: (Long, Long) => T): Dataset[T] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        f(id, graft.functions.TextHashFunctions.fnv64(
          text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      })
  }

  /** Content-seeded media table: like [[syntheticImageTable]] but dims
    * AND raster seed derive from a CONTENT hash (FNV-1a 64 of the UTF-8
    * text) instead of the row id — so exact-duplicate documents get
    * bit-identical rasters. This is what makes image near-dup detection
    * meaningful on this fixture: content dups ARE image dups by
    * construction, the "same creative re-uploaded" regime of a real
    * media corpus. Generation is map-only; bytes born on executors.
    */
  def contentImageTable(docs: DataFrame): DataFrame = {
    byContentHash(docs) { (id, ch) =>
      val w = java.lang.Long.remainderUnsigned(ch, 31).toInt + 2
      val h = java.lang.Long.remainderUnsigned(ch, 23).toInt + 2
      (id, "image", ImageCodec.encodePng(w, h, ch), w, h)
    }.toDF("media_id", "kind", "bytes", "width", "height")
  }

  /** Per-image perceptual-hash row: four 16-bit aHash bands (always
    * non-negative BIGINTs — the banding key AND the no-DECIMAL/no-sign
    * output contract in one shape).
    */
  case class ImageHash(media_id: Long, img_width: Int, img_height: Int,
      b0: Long, b1: Long, b2: Long, b3: Long)

  /** Average-hash (aHash) over REAL decoded pixels, at the
    * `mapPartitions` codec boundary: decode the PNG with javax.imageio,
    * nearest-neighbor-sample an 8×8 luma grid (x = ⌊(2i+1)·w/16⌋ —
    * integer arithmetic, every coordinate in range for any w,h ≥ 1),
    * integer Rec.601-style luma (299·R + 587·G + 114·B, per-mille scale
    * — no floats anywhere), threshold each cell against the grid mean
    * via the cross-multiplied comparison `luma·64 > Σluma` (exact, no
    * division), and pack bit k = y·8 + x into four 16-bit bands.
    * PNG is lossless, so the hash is a pure function of (w, h, seed) —
    * which is what lets a SQL oracle replay it without a decoder.
    * Map-only; bytes never shuffle (only 4 small ints leave the codec).
    */
  def imageAHash(media: DataFrame): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val img = ImageCodec.decodeImage(bytes)
          val w = img.getWidth; val h = img.getHeight
          val lumas = new Array[Long](64)
          var k = 0
          var j = 0
          while (j < 8) {
            var i = 0
            while (i < 8) {
              val x = (2 * i + 1) * w / 16
              val y = (2 * j + 1) * h / 16
              val rgb = img.getRGB(x, y)
              val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff
              val b = rgb & 0xff
              lumas(k) = 299L * r + 587L * g + 114L * b
              k += 1; i += 1
            }
            j += 1
          }
          val sum = lumas.sum
          val bands = new Array[Long](4)
          k = 0
          while (k < 64) {
            if (lumas(k) * 64 > sum) bands(k / 16) |= 1L << (k % 16)
            k += 1
          }
          ImageHash(id, w, h, bands(0), bands(1), bands(2), bands(3))
        }
      }
  }

  /** aHash STABILITY probe: hash the real decoded raster, then flip the
    * LOW bit of the red channel of EVERY sampled pixel (a deterministic
    * ±1-LSB-noise stand-in for re-encode/resample jitter — mixed signs,
    * so the grid mean barely moves) and hash again. Returns per-image
    * hamming distance between the two hashes — the property that makes
    * a perceptual hash usable for near-dup at all (LSB pixel noise ⇒
    * tiny hamming), measured rather than asserted. A ±299-per-mille
    * luma wobble flips a cell's bit only when it sits within one step
    * of the grid mean, so the corpus histogram concentrates at 0 with a
    * small nonzero tail — real cross-engine evidence for the hamming
    * arithmetic at values other than 0 (the dup-pair path is all-0).
    * Map-only; bytes never shuffle.
    */
  def imageAHashStability(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    def hashOf(lumas: Array[Long]): Array[Long] = {
      val sum = lumas.sum
      val bands = new Array[Long](4)
      var k = 0
      while (k < 64) {
        if (lumas(k) * 64 > sum) bands(k / 16) |= 1L << (k % 16)
        k += 1
      }
      bands
    }
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val img = ImageCodec.decodeImage(bytes)
          val w = img.getWidth; val h = img.getHeight
          def grid(perturbed: Boolean): Array[Long] = {
            val out = new Array[Long](64)
            var k = 0; var j = 0
            while (j < 8) {
              var i = 0
              while (i < 8) {
                val x = (2 * i + 1) * w / 16; val y = (2 * j + 1) * h / 16
                val rgb = img.getRGB(x, y)
                val r0 = (rgb >> 16) & 0xff
                val r = if (perturbed) r0 ^ 1 else r0
                out(k) = 299L * r + 587L * ((rgb >> 8) & 0xff) +
                  114L * (rgb & 0xff)
                k += 1; i += 1
              }
              j += 1
            }
            out
          }
          val h0 = hashOf(grid(perturbed = false))
          val h1 = hashOf(grid(perturbed = true))
          var ham = 0L
          var t = 0
          while (t < 4) {
            ham += java.lang.Long.bitCount(h0(t) ^ h1(t)); t += 1
          }
          (id, ham)
        }
      }.toDF("media_id", "hamming")
  }

  /** REAL image feature extraction: decode PNG bytes with javax.imageio
    * at the `mapPartitions` codec boundary (the same boundary the stub
    * path proves) and emit width/height/channels + per-channel EXACT
    * integer sums computed from genuine pixel data. Map-only; bytes
    * never shuffle.
    */
  def imageFeatures(media: DataFrame): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val s = ImageCodec.decodeStats(bytes)
          ImageStats(id, s.width, s.height, s.nChannels,
            s.width.toLong * s.height, s.sumR, s.sumG, s.sumB,
            bytes.length.toLong)
        }
      }
  }

  /** Synthesize a media table from the documents table (deterministic fake
    * bytes = UTF-8 of the text; kind round-robins by id). Stands in for a
    * `spark.read.format("binaryFile")` scan, which this container's
    * testdata doesn't include.
    */
  def syntheticMediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("bytes"),
      (pmod(col("doc_id") * 37, lit(1920)) + 1).cast("int").as("width"),
      (pmod(col("doc_id") * 53, lit(1080)) + 1).cast("int").as("height"),
      lit(16000).cast("int").as("sample_rate"),
      (pmod(col("doc_id"), lit(240)) + 1).cast("int").as("n_frames"))

  /** Batched feature extraction — the Scala analogue of a Pandas-UDF
    * `mapInPandas` stage: per-partition iteration, explicit batch size,
    * codec invoked per batch. Map-only: media bytes never shuffle.
    */
  def extractFeatures(media: DataFrame, dim: Int = 16, batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("kind"), col("bytes"),
      col("width"), col("height"), col("sample_rate"), col("n_frames"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // batch boundary = where a real impl hands a contiguous buffer
          // to the native decoder / accelerator
          batch.iterator.map { r =>
            val (h, sums) = StubCodec.featureSums(r.bytes, dim)
            MediaFeatures(r.media_id, r.kind, r.bytes.length.toLong, h,
              sums.map(s => (s / 65536.0).toFloat), sums)
          }
        }
      }
  }

  /** Resize stage (metadata-real, pixel-stub): map-only projection. */
  def resize(media: DataFrame): DataFrame = {
    val scale = least(lit(512) / greatest(col("width"), col("height")), lit(1.0))
    media
      .withColumn("resized_width", greatest(floor(col("width") * scale), lit(1)).cast("int"))
      .withColumn("resized_height", greatest(floor(col("height") * scale), lit(1)).cast("int"))
  }

  /** Frame sampling for video rows: emit one row per sampled frame index
    * (every `stride`-th frame) — the explode pattern that fans a video into
    * training frames WITHOUT duplicating bytes per frame (frame_idx +
    * media_id travel, `bytes` are dropped BEFORE the fan-out; the decoder
    * seeks at read time). All other metadata columns pass through.
    */
  def sampleFrames(media: DataFrame, stride: Int = 30): DataFrame =
    media.filter(col("kind") === "video")
      .drop("bytes")
      .withColumn("frame_idx",
        explode(sequence(lit(0), greatest(col("n_frames") - 1, lit(0)), lit(stride))))
}
