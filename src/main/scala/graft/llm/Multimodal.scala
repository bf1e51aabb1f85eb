package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, and run decode / feature-extract
  * as a *per-partition* operator — the shape a real decoder
  * (libjpeg / ffmpeg via JNI, or a Python worker via Arrow batches) plugs
  * into. Extension surface beyond the reference engine (SURVEY.md §7
  * Phase 3).
  *
  * IMAGE decode is REAL: [[decodeImages]]/[[resizeImages]] run actual PNG
  * bytes through `javax.imageio` (the JDK's built-in PNG/JPEG/GIF/BMP
  * codecs — no external library needed) inside
  * `mapPartitions`, and the fixture wiring synthesizes deterministic PNGs
  * whose geometry and pixels follow fixed integer formulas of `doc_id`
  * ([[ImageSynth]]), so a SQL oracle can recompute the decoded stats
  * independently — the differential check proves the codec round-trip,
  * not just the plumbing.
  *
  * AUDIO decode is REAL too: [[decodeAudio]] parses WAV/PCM payloads
  * through the spec-driven [[WavCodec]] RIFF walker — test-pinned
  * byte-equivalent to the JDK `javax.sound.sampled.AudioSystem` decoder,
  * which the hot path avoids because every AudioSystem call serializes
  * on the shared provider-registry lookup — and [[AudioSynth]]
  * synthesizes deterministic 16-bit mono PCM WAVs whose every sample is a
  * fixed integer formula of (doc_id, i) — the differential oracle
  * recomputes amplitude stats from the formula, so agreement proves the
  * encode→decode round-trip, exactly as the image path does.
  *
  * VIDEO decode is REAL for the uncompressed profile: [[decodeVideo]]
  * parses RIFF/AVI containers (chunk walker over hdrl/strf/movi per the
  * AVI spec — nothing synth-specific) carrying raw bottom-up 24-bit DIB
  * frames, and [[VideoSynth]] writes spec-conformant AVIs whose every
  * frame pixel is a fixed integer formula of (doc_id, frame, x, y) — the
  * oracle recomputes frame sums and inter-frame motion from the
  * formulas, so a wrong container walk, row flip, stride pad or channel
  * order cannot hash-match. COMPRESSED video (H.264 etc.) stays
  * env-bound — no codec in the JDK or this container — which is what
  * [[FakeDecoder]] still stands in for: the generic opaque-payload
  * featurizer whose schema a JNI/ffmpeg decoder would slot into
  * unchanged.
  *
  * 100 TB design: decode runs inside `mapPartitions` over whatever
  * partitioning the scan produced — no shuffle, no driver involvement,
  * one payload decoded at a time per task.
  */
object Multimodal {

  /** An encoded image payload: opaque PNG bytes + id. */
  case class ImageBlob(doc_id: Long, png: Array[Byte])

  /** Decoded image stats — geometry straight from the codec, channel sums
    * as exact integers (so the differential check needs no rounding at
    * all; means are derived at the output edge).
    */
  case class DecodedImage(
      doc_id: Long,
      width: Int,
      height: Int,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long)

  /** Deterministic test-image generator: geometry and every pixel are
    * fixed integer formulas of (doc_id, x, y), so an independent engine
    * can recompute the decoded stats without ever seeing the bytes.
    * Encoding is real `ImageIO.write(..., "png", ...)`; PNG is lossless,
    * so decode must recover these exact values.
    */
  object ImageSynth {
    def width(docId: Long): Int = (1 + docId % 47).toInt
    def height(docId: Long): Int = (1 + (docId * 3) % 37).toInt
    def r(docId: Long, x: Int, y: Int): Int = ((x * 7 + y * 11 + docId) % 256).toInt
    def g(docId: Long, x: Int, y: Int): Int = ((x * 13 + y * 5 + docId * 3) % 256).toInt
    def b(docId: Long, x: Int, y: Int): Int = ((x * 17 + y * 3 + docId * 7) % 256).toInt

    def encodePng(docId: Long): Array[Byte] = {
      val (w, h) = (width(docId), height(docId))
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y,
            (r(docId, x, y) << 16) | (g(docId, x, y) << 8) | b(docId, x, y))
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
  }

  /** Synthesize one deterministic PNG per document id — executor-side
    * (a `mapPartitions` over the scan, no shuffle beyond the conditional
    * spread), so the corpus of images is born distributed like a real
    * image table would be read.
    *
    * The doc_id input is [[TextAnalysis.spread]] first (r13 verdict #4,
    * generalized from the hot-ER single-task lesson): the synth+decode
    * stage is compute-amplified (per-row PNG encode/decode cost ≫ the
    * 8-byte row) and map-only — on a one-row-group fixture the whole
    * decode otherwise serializes into ONE task. Spreading the bare
    * doc_id column costs a trivially small shuffle and is an identity
    * whenever the scan already carries ≥ default parallelism (any real
    * multi-file table).
    */
  def synthesizeImages(docs: DataFrame): Dataset[ImageBlob] = {
    val spark = docs.sparkSession
    import spark.implicits._
    TextAnalysis.spread(docs.select(col("doc_id"))).as[Long].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors
      it.map(id => ImageBlob(id, ImageSynth.encodePng(id)))
    }
  }

  private def imageStats(docId: Long, img: java.awt.image.BufferedImage): DecodedImage = {
    val (w, h) = (img.getWidth, img.getHeight)
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = img.getRGB(x, y)
        sr += (v >> 16) & 0xff; sg += (v >> 8) & 0xff; sb += v & 0xff
        x += 1
      }
      y += 1
    }
    DecodedImage(docId, w, h, sr, sg, sb)
  }

  /** REAL image decode: each partition's PNG payloads run through
    * `javax.imageio` one at a time; geometry and per-channel pixel sums
    * come from the decoded raster, not from any metadata. Corrupt
    * payloads fail loudly — silently skipping rows would make a decode
    * error look like a filter.
    */
  def decodeImages(images: Dataset[ImageBlob]): Dataset[DecodedImage] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { b =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b.png))
        if (img == null)
          throw new IllegalArgumentException(s"undecodable image payload for doc_id=${b.doc_id}")
        imageStats(b.doc_id, img)
      }
    }
  }

  /** Decode + nearest-neighbor resize to fit `maxSide` (aspect-preserving
    * integer floor math for the target geometry; source pixel for target
    * (x, y) is (x*w/w2, y*h/h2) — the standard nearest-neighbor map,
    * exact in integers, so an oracle can replay it). Resampling reads the
    * REAL decoded raster; stats are of the resized image.
    */
  def resizeImages(images: Dataset[ImageBlob], maxSide: Int): Dataset[DecodedImage] = {
    require(maxSide >= 1, "maxSide >= 1")
    val spark = images.sparkSession
    import spark.implicits._
    images.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { blob =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob.png))
        if (img == null)
          throw new IllegalArgumentException(s"undecodable image payload for doc_id=${blob.doc_id}")
        val (w, h) = (img.getWidth, img.getHeight)
        val longSide = math.max(w, h)
        if (longSide <= maxSide) imageStats(blob.doc_id, img)
        else {
          val w2 = math.max(1, w * maxSide / longSide)
          val h2 = math.max(1, h * maxSide / longSide)
          val out = new java.awt.image.BufferedImage(
            w2, h2, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h2) {
            var x = 0
            while (x < w2) {
              out.setRGB(x, y, img.getRGB(x * w / w2, y * h / h2))
              x += 1
            }
            y += 1
          }
          imageStats(blob.doc_id, out)
        }
      }
    }
  }

  /** A perceptual image fingerprint: 60-bit dHash. */
  case class ImageHash(doc_id: Long, dhash: Long)

  /** Difference-hash (dHash) perceptual image fingerprint over the REAL
    * decoded raster: nearest-neighbor thumbnail to a fixed 11×6 grid
    * (the same integer source-pixel map as [[resizeImages]], applied
    * up- or down-scale unconditionally — dHash geometry is always the
    * grid), integer BT.601 luma 299r+587g+114b (scale-invariant under
    * the > comparison, so no division anywhere), bit k = y*10+x set iff
    * luma(x+1,y) > luma(x,y) — 10 column-adjacent comparisons per row ×
    * 6 rows = 60 bits, matching the house 60-bit / (15-bit band,
    * Hamming≤3) fingerprint conventions so
    * [[Dedup.fingerprintNearGroups]] takes the result unchanged: the
    * perceptual near-dup image join is the same LOSSLESS banded
    * equi-join the text simhash rides, never an all-pairs scan.
    */
  def dhashImages(images: Dataset[ImageBlob]): Dataset[ImageHash] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { b =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b.png))
        if (img == null)
          throw new IllegalArgumentException(s"undecodable image payload for doc_id=${b.doc_id}")
        val (w, h) = (img.getWidth, img.getHeight)
        def luma(x: Int, y: Int): Int = {
          val v = img.getRGB(x * w / 11, y * h / 6)
          299 * ((v >> 16) & 0xff) + 587 * ((v >> 8) & 0xff) + 114 * (v & 0xff)
        }
        var hash = 0L
        var y = 0
        while (y < 6) {
          var x = 0
          while (x < 10) {
            if (luma(x + 1, y) > luma(x, y)) hash |= 1L << (y * 10 + x)
            x += 1
          }
          y += 1
        }
        ImageHash(b.doc_id, hash)
      }
    }
  }

  /** The pHash DCT-II basis c(x,u) = cos((2x+1)·u·π/64) for the 32-pixel
    * axis and the 8 lowest frequencies — computed ONCE driver-side
    * (libm cos is not correctly-rounded IEEE, so it must never run
    * in-plan or re-derive per engine); the oracle SQL embeds these exact
    * doubles as literals (the qc_benford / planeVector discipline).
    */
  object PhashBasis {
    val N = 32
    val K = 8
    val c: Array[Array[Double]] = Array.tabulate(N, K)((x, u) =>
      math.cos((2 * x + 1) * u * math.Pi / (2.0 * N)))
  }

  /** A perceptual frequency-domain fingerprint: 63-bit pHash + the
    * integer DC mass (an exact cross-check column).
    */
  case class ImagePhash(doc_id: Long, phash: Long, dc_sum: Long)

  /** DCT perceptual hash (pHash) over the REAL decoded raster — the
    * frequency-domain sibling of [[dhashImages]] (robust to the
    * high-frequency noise that flips dHash gradient bits): nearest-
    * neighbor 32×32 luma thumbnail (same integer source-pixel map),
    * separable DCT-II row pass then column pass keeping the 8×8
    * low-frequency block, and bit i set iff AC coefficient i beats the
    * median of the 63 ACs. 63 bits keeps [[graft.llm.Dedup
    * .fingerprintNearGroups]] directly applicable (≤64-bit contract),
    * so perceptual near-dup joins stay banded equi-joins.
    *
    * Determinism: luma is exact integer; every DCT sum is a FIXED
    * left-to-right fold (x ascending, then y ascending) of
    * correctly-rounded IEEE products against the driver-literal
    * [[PhashBasis]], so coefficients are bit-identical in any engine;
    * the median is an order statistic (sort + pick, no arithmetic) and
    * the bit test is a strict comparison of identical doubles. dc_sum
    * is the raw integer luma mass. Map-only over the decoded batch —
    * embarrassingly parallel at any corpus size.
    */
  def phashImages(images: Dataset[ImageBlob]): Dataset[ImagePhash] = {
    val spark = images.sparkSession
    import spark.implicits._
    val n = PhashBasis.N
    val k = PhashBasis.K
    images.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      val c = PhashBasis.c
      it.map { b =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b.png))
        if (img == null)
          throw new IllegalArgumentException(s"undecodable image payload for doc_id=${b.doc_id}")
        val (w, h) = (img.getWidth, img.getHeight)
        val lum = Array.ofDim[Int](n, n)
        var dc = 0L
        var y = 0
        while (y < n) {
          var x = 0
          while (x < n) {
            val v = img.getRGB(x * w / n, y * h / n)
            val l = 299 * ((v >> 16) & 0xff) + 587 * ((v >> 8) & 0xff) + 114 * (v & 0xff)
            lum(y)(x) = l
            dc += l
            x += 1
          }
          y += 1
        }
        // separable DCT-II: row pass x -> u, then column pass y -> v;
        // each sum folds in ascending pixel order (the oracle's
        // list_reduce replays the identical sequence)
        val rp = Array.ofDim[Double](k, n)
        var u = 0
        while (u < k) {
          var yy = 0
          while (yy < n) {
            var a = 0.0
            var x = 0
            while (x < n) { a += lum(yy)(x) * c(x)(u); x += 1 }
            rp(u)(yy) = a
            yy += 1
          }
          u += 1
        }
        val acs = new Array[Double](k * k - 1)
        u = 0
        while (u < k) {
          var v = 0
          while (v < k) {
            if (u != 0 || v != 0) {
              var a = 0.0
              var yy = 0
              while (yy < n) { a += rp(u)(yy) * c(yy)(v); yy += 1 }
              acs(u * k + v - 1) = a
            }
            v += 1
          }
          u += 1
        }
        val med = acs.sorted.apply((k * k - 1) / 2)
        var hash = 0L
        var i = 0
        while (i < acs.length) {
          if (acs(i) > med) hash |= 1L << i
          i += 1
        }
        ImagePhash(b.doc_id, hash, dc)
      }
    }
  }

  /** An encoded audio payload: opaque WAV bytes + id. */
  case class AudioBlob(doc_id: Long, wav: Array[Byte])

  /** Decoded audio stats — format fields straight from the parsed WAV
    * header, amplitude stats as exact integers over the decoded PCM
    * samples (sum, sum of |s|, peak |s|, energy Σs² — all ≤ 2^41 at the
    * synthesized lengths, so BIGINT-exact and differentially checkable
    * with no rounding anywhere).
    */
  case class DecodedAudio(
      doc_id: Long,
      sample_rate: Int,
      n_samples: Long,
      sum_val: Long,
      sum_abs: Long,
      peak_abs: Int,
      energy: Long)

  /** DFT basis for 32-sample frames, bins 1..4: cos/sin at 2πk i/32 —
    * driver-computed ONCE (libm trig is not correctly-rounded; it never
    * runs in-plan) and embedded as string-cast literals in the oracle,
    * the [[PhashBasis]] discipline.
    */
  object DftBasis {
    val Frame = 32
    val Bins = 4
    val cos: Array[Array[Double]] = Array.tabulate(Bins, Frame)((k, i) =>
      math.cos(2.0 * math.Pi * (k + 1) * i / Frame))
    val sin: Array[Array[Double]] = Array.tabulate(Bins, Frame)((k, i) =>
      math.sin(2.0 * math.Pi * (k + 1) * i / Frame))
  }

  /** Per-doc spectral census: frame count, dominant-bin histogram and
    * peak spectral power.
    */
  case class SpectroStats(
      doc_id: Long,
      n_frames: Long,
      dom1: Long,
      dom2: Long,
      dom3: Long,
      dom4: Long,
      max_power: Double)

  /** Short-time DFT spectrogram over REAL decoded PCM — the spectral
    * feature extractor next to [[vadSegments]]'s energy gate (frequency
    * content, not just amplitude): per 32-sample frame, power
    * re²+im² in the 4 lowest non-DC bins against the driver-literal
    * [[DftBasis]], the frame's dominant bin by strict argmax (ties to
    * the lower bin), rolled up per doc to a dominant-bin histogram and
    * the peak power.
    *
    * Determinism: samples are exact integers from the WAV decode; every
    * DFT sum folds in ascending sample order (the oracle's list_reduce
    * replays the identical sequence over the generator's sample
    * formula); power is two correctly-rounded multiplies + one add;
    * argmax/max compare identical doubles. Map-only over the decoded
    * batch — embarrassingly parallel.
    */
  def spectrogram(audio: Dataset[AudioBlob]): Dataset[SpectroStats] = {
    val spark = audio.sparkSession
    import spark.implicits._
    val frame = DftBasis.Frame
    val bins = DftBasis.Bins
    audio.mapPartitions { it =>
      val cb = DftBasis.cos
      val sb = DftBasis.sin
      it.map { b =>
        val bytes = WavCodec.decode(b.wav, b.doc_id)._2
        val n = bytes.length / 2
        val nFrames = (n + frame - 1) / frame
        val dom = new Array[Long](bins)
        var maxP = 0.0
        var f = 0
        while (f < nFrames) {
          val re = new Array[Double](bins)
          val im = new Array[Double](bins)
          val start = f * frame
          val end = math.min(n, start + frame)
          var i = start
          while (i < end) {
            val s = ((bytes(i * 2) & 0xff) | (bytes(i * 2 + 1) << 8)).toShort.toInt
            val idx = i - start
            var k = 0
            while (k < bins) {
              re(k) += s * cb(k)(idx)
              im(k) += s * sb(k)(idx)
              k += 1
            }
            i += 1
          }
          var best = -1.0
          var bestK = 0
          var k = 0
          while (k < bins) {
            val p = re(k) * re(k) + im(k) * im(k)
            if (p > best) { best = p; bestK = k }
            if (p > maxP) maxP = p
            k += 1
          }
          dom(bestK) += 1
          f += 1
        }
        SpectroStats(b.doc_id, nFrames.toLong,
          dom(0), dom(1), dom(2), dom(3), maxP)
      }
    }
  }

  /** Deterministic test-audio generator: 16-bit signed mono PCM at 8 kHz,
    * length and every sample fixed integer formulas of (doc_id, i), so an
    * independent engine recomputes the decoded stats without seeing the
    * bytes. The emitted container is the canonical 44-byte RIFF/WAVE
    * header + PCM payload — BYTE-IDENTICAL to what
    * `AudioSystem.write(..., Type.WAVE, ...)` produces (pinned by
    * LlmOperatorSpec against the JDK encoder): the hand-rolled header
    * exists because every `AudioSystem` entry point routes through the
    * shared provider-registry lookup, which measured ~2× once the
    * synth+decode stage ran 32-way after the r14 spread (images kept
    * improving — ImageIO has no such chokepoint).
    */
  object AudioSynth {
    val SampleRate = 8000

    def nSamples(docId: Long): Int = (64 + (docId * 13) % 512).toInt

    /** Full 16-bit range: (docId·31 + i·17) mod 2^16, re-centered. */
    def sample(docId: Long, i: Int): Int =
      (((docId * 31 + i.toLong * 17) % 65536) - 32768).toInt

    def encodeWav(docId: Long): Array[Byte] = {
      val n = nSamples(docId)
      val dataSz = n * 2
      val out = new Array[Byte](44 + dataSz)
      def tag(o: Int, s: String): Unit = {
        var i = 0
        while (i < 4) { out(o + i) = s.charAt(i).toByte; i += 1 }
      }
      def p32(o: Int, v: Int): Unit = {
        out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
        out(o + 2) = ((v >> 16) & 0xff).toByte
        out(o + 3) = ((v >> 24) & 0xff).toByte
      }
      def p16(o: Int, v: Int): Unit = {
        out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
      }
      tag(0, "RIFF"); p32(4, 36 + dataSz); tag(8, "WAVE")
      tag(12, "fmt "); p32(16, 16) // PCM fmt chunk is always 16 bytes
      p16(20, 1); p16(22, 1) // audioFormat=1 (PCM), mono
      p32(24, SampleRate); p32(28, SampleRate * 2) // byte rate = rate·block
      p16(32, 2); p16(34, 16) // block align, bits per sample
      tag(36, "data"); p32(40, dataSz)
      var i = 0
      while (i < n) {
        val s = sample(docId, i)
        out(44 + i * 2) = (s & 0xff).toByte // little-endian 16-bit
        out(45 + i * 2) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      out
    }
  }

  /** Spec-driven RIFF/WAVE chunk walker (the audio twin of
    * [[decodeVideo]]'s AVI walker): locates the `fmt ` and `data` chunks
    * wherever they sit (unknown chunks skipped, word alignment honored),
    * validates 16-bit signed mono little-endian PCM, and returns
    * (sampleRate, pcm bytes). It replaced `AudioSystem
    * .getAudioInputStream` on the per-row decode hot path — the JDK
    * entry point routes every call through the shared provider-registry
    * lookup, which serialized a 32-way decode stage (measured 2× on
    * llm_audio_vad after the r14 spread). The JDK decoder remains the
    * REFERENCE: LlmOperatorSpec pins this walker's output (rate + PCM
    * bytes) equal to `AudioSystem`'s on JDK-encoded files, and anything
    * non-PCM/non-mono/non-16-bit still fails loudly — a decode error
    * must never look like a filter.
    */
  private[graft] object WavCodec {
    def decode(wav: Array[Byte], docId: Long): (Int, Array[Byte]) = {
      def u16(o: Int): Int = (wav(o) & 0xff) | ((wav(o + 1) & 0xff) << 8)
      def u32(o: Int): Long =
        (wav(o) & 0xffL) | ((wav(o + 1) & 0xffL) << 8) |
          ((wav(o + 2) & 0xffL) << 16) | ((wav(o + 3) & 0xffL) << 24)
      def tag(o: Int): String =
        new String(wav, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
      require(wav.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE",
        s"doc_id=$docId: not a RIFF/WAVE container")
      var off = 12
      var rate = -1
      var haveFmt = false
      var data: Array[Byte] = null
      while (off + 8 <= wav.length) {
        val id = tag(off)
        val sz = u32(off + 4).toInt
        val body = off + 8
        require(sz >= 0 && body + sz <= wav.length,
          s"doc_id=$docId: $id chunk overruns the container")
        id match {
          case "fmt " =>
            require(sz >= 16, s"doc_id=$docId: fmt chunk too short ($sz)")
            val audioFormat = u16(body)
            val channels = u16(body + 2)
            rate = u32(body + 4).toInt
            val bits = u16(body + 14)
            require(audioFormat == 1 && channels == 1 && bits == 16,
              s"doc_id=$docId: unsupported WAV format " +
                s"(fmt=$audioFormat ch=$channels bits=$bits)")
            haveFmt = true
          case "data" =>
            data = java.util.Arrays.copyOfRange(wav, body, body + sz)
          case _ => () // LIST/fact/… — skip per spec
        }
        off = body + sz + (sz & 1) // RIFF chunks are word-aligned
      }
      require(haveFmt && data != null,
        s"doc_id=$docId: missing fmt /data chunk")
      (rate, data)
    }
  }

  /** Synthesize one deterministic PCM WAV per document id — executor-side
    * mapPartitions over the scan (the audio twin of
    * [[synthesizeImages]], same conditional doc_id spread: decode work
    * ≫ row width, map-only, must not serialize into one task on a
    * one-row-group input).
    */
  def synthesizeAudio(docs: DataFrame): Dataset[AudioBlob] = {
    val spark = docs.sparkSession
    import spark.implicits._
    TextAnalysis.spread(docs.select(col("doc_id"))).as[Long]
      .mapPartitions(_.map(id => AudioBlob(id, AudioSynth.encodeWav(id))))
  }

  /** REAL audio decode: each partition's WAV payloads parse through the
    * spec-driven [[WavCodec]] RIFF walker one at a time (output
    * test-pinned equal to the JDK `AudioSystem` decoder, which the
    * 32-way hot path avoids — see [[WavCodec]]); sample rate comes from
    * the parsed header, amplitude stats from the decoded PCM frames.
    * Non-PCM / non-mono / non-16-bit payloads and unparseable bytes fail
    * loudly — a decode error must never look like a filter.
    */
  def decodeAudio(audio: Dataset[AudioBlob]): Dataset[DecodedAudio] = {
    val spark = audio.sparkSession
    import spark.implicits._
    audio.mapPartitions { it =>
      it.map { b =>
        val (rate, bytes) = WavCodec.decode(b.wav, b.doc_id)
        val n = bytes.length / 2
        var sum = 0L; var sabs = 0L; var energy = 0L; var peak = 0
        var i = 0
        while (i < n) {
          val s = ((bytes(i * 2) & 0xff) | (bytes(i * 2 + 1) << 8)).toShort.toInt
          sum += s
          val a = math.abs(s)
          sabs += a
          if (a > peak) peak = a
          energy += s.toLong * s
          i += 1
        }
        DecodedAudio(b.doc_id, rate, n.toLong,
          sum, sabs, peak, energy)
      }
    }
  }

  /** One 16-bin red-channel histogram row per (doc, bin) from
    * [[histogramImages]].
    */
  case class ImageHistBin(doc_id: Long, bin: Int, n_pixels: Long)

  /** Per-image channel histogram over the REAL decoded raster — the
    * exposure/colorimetry profile an image-curation pass computes (all-
    * dark/all-blown images are the filter targets): red channel binned
    * DIV 16 into 16 integer counts. Map-only decode like every other
    * decode path; the oracle replays the generator's pixel formula
    * through identical binning, so a wrong decode or bin boundary
    * cannot hash-match.
    */
  def histogramImages(images: Dataset[ImageBlob]): Dataset[ImageHistBin] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { b =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(b.png))
        if (img == null)
          throw new IllegalArgumentException(
            s"undecodable image payload for doc_id=${b.doc_id}")
        val bins = new Array[Long](16)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            bins(((img.getRGB(x, y) >> 16) & 0xff) / 16) += 1L
            x += 1
          }
          y += 1
        }
        bins.iterator.zipWithIndex.collect {
          case (n, i) if n > 0 => ImageHistBin(b.doc_id, i, n)
        }
      }
    }
  }

  /** Per-doc voice-activity stats from [[vadSegments]]: frame counts,
    * active-frame count, contiguous active segments and the longest one.
    */
  case class VadStats(doc_id: Long, n_frames: Long, n_active: Long,
                      n_segments: Long, max_run: Long)

  /** Energy-threshold voice-activity detection over the REAL decoded PCM
    * — the segmentation step an audio-training pipeline runs before
    * transcription/feature extraction (keep speechy spans, drop
    * silence): frame the signal (`frameLen` samples), a frame is ACTIVE
    * when its peak |amplitude| exceeds `threshold`, adjacent active
    * frames merge into segments. All integer comparisons on decoded
    * 16-bit samples — the oracle replays the generator's sample formula
    * through the identical frame/run arithmetic, so a wrong decode or an
    * off-by-one frame boundary cannot hash-match. Map-only like every
    * decode path; run-length state is per-doc local.
    */
  def vadSegments(audio: Dataset[AudioBlob], frameLen: Int = 32,
                  threshold: Int = 24576): Dataset[VadStats] = {
    require(frameLen >= 1 && threshold >= 0, "frameLen >= 1, threshold >= 0")
    val spark = audio.sparkSession
    import spark.implicits._
    audio.mapPartitions { it =>
      it.map { b =>
        val bytes = WavCodec.decode(b.wav, b.doc_id)._2
        val n = bytes.length / 2
        val nFrames = (n + frameLen - 1) / frameLen
        var nActive = 0L; var nSeg = 0L; var maxRun = 0L; var run = 0L
        var f = 0
        while (f < nFrames) {
          var peak = 0
          var i = f * frameLen
          val end = math.min(n, i + frameLen)
          while (i < end) {
            val s = ((bytes(i * 2) & 0xff) | (bytes(i * 2 + 1) << 8)).toShort.toInt
            val a = math.abs(s)
            if (a > peak) peak = a
            i += 1
          }
          if (peak > threshold) {
            nActive += 1
            if (run == 0L) nSeg += 1
            run += 1
            if (run > maxRun) maxRun = run
          } else run = 0L
          f += 1
        }
        VadStats(b.doc_id, nFrames.toLong, nActive, nSeg, maxRun)
      }
    }
  }

  /** An encoded video payload: opaque AVI bytes + id. */
  case class VideoBlob(doc_id: Long, avi: Array[Byte])

  /** Decoded video stats: geometry/frame count from the parsed container,
    * per-channel sums over all frames and the blue-plane inter-frame
    * motion Σ|b_f − b_{f−1}| as exact integers.
    */
  case class DecodedVideo(
      doc_id: Long,
      n_frames: Int,
      width: Int,
      height: Int,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long,
      motion_b: Long)

  /** Deterministic test-video generator: a spec-conformant RIFF/AVI
    * container ('avih' + 'vids'/'DIB ' stream header + BITMAPINFOHEADER
    * + '00db' movi chunks) carrying uncompressed bottom-up 24-bit BGR
    * frames with 4-byte row stride — the classic BI_RGB profile any AVI
    * reader accepts. Geometry, frame count and every channel value are
    * fixed integer formulas of (doc_id, frame, x, y), so an independent
    * engine recomputes the decoded stats without seeing the bytes; the
    * format is lossless, so decode must recover them exactly.
    */
  object VideoSynth {
    def nFrames(docId: Long): Int = (2 + docId % 4).toInt
    def width(docId: Long): Int = (8 + docId % 9).toInt
    def height(docId: Long): Int = (4 + docId % 7).toInt
    def r(d: Long, f: Int, x: Int, y: Int): Int =
      ((d * 7 + f * 23 + x * 17 + y * 3) % 256).toInt
    def g(d: Long, f: Int, x: Int, y: Int): Int =
      ((d * 3 + f * 17 + x * 13 + y * 5) % 256).toInt
    def b(d: Long, f: Int, x: Int, y: Int): Int =
      ((d + f * 29 + x * 7 + y * 11) % 256).toInt

    private def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    private def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    private def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

    def encodeAvi(docId: Long): Array[Byte] = {
      val (n, w, h) = (nFrames(docId), width(docId), height(docId))
      val stride = (w * 3 + 3) / 4 * 4
      val frameBytes = stride * h
      val out = new java.io.ByteArrayOutputStream()
      def chunk(id: String, body: Array[Byte]): Array[Byte] =
        fcc(id) ++ le32(body.length) ++ body ++
          (if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
      def list(kind: String, body: Array[Byte]): Array[Byte] =
        fcc("LIST") ++ le32(body.length + 4) ++ fcc(kind) ++ body
      val avih = le32(100000) ++ le32(frameBytes * 10) ++ le32(0) ++
        le32(0) ++ le32(n) ++ le32(0) ++ le32(1) ++ le32(frameBytes) ++
        le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
      val strh = fcc("vids") ++ fcc("DIB ") ++ le32(0) ++ le16(0) ++
        le16(0) ++ le32(0) ++ le32(1) ++ le32(10) ++ le32(0) ++ le32(n) ++
        le32(frameBytes) ++ le32(0) ++ le32(0) ++
        le16(0) ++ le16(0) ++ le16(w) ++ le16(h)
      val strf = le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
        le32(0) ++ le32(frameBytes) ++ le32(0) ++ le32(0) ++ le32(0) ++
        le32(0)
      val hdrl = list("hdrl",
        chunk("avih", avih) ++
          list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
      val frames = (0 until n).map { f =>
        val px = new Array[Byte](frameBytes)
        var y = 0
        while (y < h) {
          val rowOff = (h - 1 - y) * stride // bottom-up storage
          var x = 0
          while (x < w) {
            px(rowOff + x * 3) = b(docId, f, x, y).toByte // BGR order
            px(rowOff + x * 3 + 1) = g(docId, f, x, y).toByte
            px(rowOff + x * 3 + 2) = r(docId, f, x, y).toByte
            x += 1
          }
          y += 1
        }
        chunk("00db", px)
      }
      val movi = list("movi", frames.reduce(_ ++ _))
      val body = fcc("AVI ") ++ hdrl ++ movi
      out.write(fcc("RIFF")); out.write(le32(body.length)); out.write(body)
      out.toByteArray
    }
  }

  /** Synthesize one deterministic uncompressed AVI per document id —
    * executor-side mapPartitions over the scan (the video twin of
    * [[synthesizeImages]]/[[synthesizeAudio]], same conditional doc_id
    * spread — frame decode is the most compute-amplified of the three).
    */
  def synthesizeVideo(docs: DataFrame): Dataset[VideoBlob] = {
    val spark = docs.sparkSession
    import spark.implicits._
    TextAnalysis.spread(docs.select(col("doc_id"))).as[Long]
      .mapPartitions(_.map(id => VideoBlob(id, VideoSynth.encodeAvi(id))))
  }

  /** REAL video decode for the uncompressed AVI profile: a spec-driven
    * RIFF chunk walker (knows nothing of the synth) locates the
    * BITMAPINFOHEADER and the movi frame chunks, validates BI_RGB
    * 24-bit, then reads each frame's bottom-up stride-padded BGR rows.
    * Unparseable containers, compressed streams or other bit depths fail
    * loudly — a decode error must never look like a filter. Features:
    * exact per-channel sums + blue-plane inter-frame motion.
    */
  def decodeVideo(video: Dataset[VideoBlob]): Dataset[DecodedVideo] = {
    val spark = video.sparkSession
    import spark.implicits._
    video.map(vb => decodeOneAvi(vb.doc_id, vb.avi))
  }

  /** The spec-driven RIFF walk shared by [[decodeVideo]] and
    * [[sceneCuts]]: locates the BITMAPINFOHEADER and the movi frame
    * chunks, validates BI_RGB 24-bit, returns (width, height, stride,
    * frame pixel-data offsets). Knows nothing of the synth.
    */
  private def parseAvi(docId: Long, bytes: Array[Byte]): (Int, Int, Int, Seq[Int]) = {
    def u32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    def u16(off: Int): Int = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def tag(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    require(tag(0) == "RIFF" && tag(8) == "AVI ",
      s"doc_id=$docId: not a RIFF/AVI container")
    var width = -1; var height = -1
    val frames = scala.collection.mutable.ArrayBuffer.empty[Int] // offsets
    // walk chunks between [from, to); LISTs recurse into their body
    def walk(from: Int, to: Int): Unit = {
      var off = from
      while (off + 8 <= to) {
        val id = tag(off); val size = u32(off + 4)
        if (id == "LIST") walk(off + 12, off + 8 + size)
        else if (id == "strf") {
          require(u16(off + 8 + 14) == 24 && u32(off + 8 + 16) == 0,
            s"doc_id=$docId: unsupported DIB profile (not 24-bit BI_RGB)")
          width = u32(off + 8 + 4); height = u32(off + 8 + 8)
        } else if (id == "00db" || id == "00dc") frames += off + 8
        off += 8 + size + (size & 1) // chunks are word-aligned
      }
    }
    walk(12, 8 + u32(4))
    require(width > 0 && height > 0, s"doc_id=$docId: no strf header found")
    require(frames.nonEmpty, s"doc_id=$docId: no frames in movi list")
    (width, height, (width * 3 + 3) / 4 * 4, frames.toSeq)
  }

  private def decodeOneAvi(docId: Long, bytes: Array[Byte]): DecodedVideo = {
    val (width, height, stride, frames) = parseAvi(docId, bytes)
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var motion = 0L
    var prevBlue: Array[Int] = null
    frames.foreach { base =>
      val blue = new Array[Int](width * height)
      var y = 0
      while (y < height) {
        val rowOff = base + (height - 1 - y) * stride
        var x = 0
        while (x < width) {
          val bv = bytes(rowOff + x * 3) & 0xff
          sumB += bv
          sumG += bytes(rowOff + x * 3 + 1) & 0xff
          sumR += bytes(rowOff + x * 3 + 2) & 0xff
          blue(y * width + x) = bv
          x += 1
        }
        y += 1
      }
      if (prevBlue != null) {
        var i = 0
        while (i < blue.length) {
          motion += math.abs(blue(i) - prevBlue(i)); i += 1
        }
      }
      prevBlue = blue
    }
    DecodedVideo(docId, frames.length, width, height, sumR, sumG, sumB,
      motion)
  }

  /** One frame boundary's shot-change evidence: `frame` is the LATER
    * frame's 0-based index, `sad_luma` the exact integer sum of absolute
    * per-pixel milli-luma differences (299r+587g+114b — the [[dhashImages]]
    * scale: no division anywhere), `is_cut` the mean-threshold verdict.
    */
  case class SceneCut(doc_id: Long, frame: Int, sad_luma: Long, is_cut: Boolean)

  /** Scene-change (shot-cut) detection over REAL decoded rasters: per
    * consecutive frame pair, the luma sum-of-absolute-differences; a cut
    * where the mean per-pixel difference clears `cutMilliLumaPerPx`
    * (milli-luma units, so the comparison is `sad >= thr·w·h` — pure
    * integers). The keyframe-selection primitive of a video training
    * pipeline: map-only over the payload scan like every decode path
    * here, one row per boundary, no shuffle until the caller aggregates.
    */
  def sceneCuts(video: Dataset[VideoBlob],
                cutMilliLumaPerPx: Long = 32000L): Dataset[SceneCut] = {
    val spark = video.sparkSession
    import spark.implicits._
    video.flatMap { vb =>
      val bytes = vb.avi
      val (width, height, stride, frames) = parseAvi(vb.doc_id, bytes)
      def lumas(base: Int): Array[Long] = {
        val out = new Array[Long](width * height)
        var y = 0
        while (y < height) {
          val rowOff = base + (height - 1 - y) * stride // bottom-up rows
          var x = 0
          while (x < width) {
            val b = bytes(rowOff + x * 3) & 0xff // BGR order
            val g = bytes(rowOff + x * 3 + 1) & 0xff
            val r = bytes(rowOff + x * 3 + 2) & 0xff
            out(y * width + x) = 299L * r + 587L * g + 114L * b
            x += 1
          }
          y += 1
        }
        out
      }
      var prev = lumas(frames.head)
      frames.tail.zipWithIndex.map { case (base, i) =>
        val cur = lumas(base)
        var sad = 0L
        var j = 0
        while (j < cur.length) { sad += math.abs(cur(j) - prev(j)); j += 1 }
        prev = cur
        SceneCut(vb.doc_id, i + 1, sad,
          sad >= cutMilliLumaPerPx * width * height)
      }
    }
  }

  /** A typed multimodal record: opaque payload + metadata. */
  case class Blob(doc_id: Long, payload: Array[Byte], n_bytes: Long)

  /** Decoded record: metadata + extracted pseudo-features. */
  case class Decoded(
      doc_id: Long,
      n_bytes: Long,
      content_md5: String,
      width: Int,
      height: Int,
      feature: Array[Double])

  /** Wrap a text corpus as opaque binary payloads (the fixture has no real
    * image bytes; utf-8 text bytes stand in as the payload).
    */
  def attach(docs: DataFrame): Dataset[Blob] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.selectExpr(
      "doc_id",
      "CAST(text AS BINARY) AS payload",
      "CAST(octet_length(CAST(text AS BINARY)) AS BIGINT) AS n_bytes")
      .as[Blob]
  }

  /** STUB decoder for VIDEO payloads — deterministic md5-derived fake in
    * place of a real codec. The blocker is accurate for this modality
    * only: the JDK has no video codecs and this container has no ffmpeg —
    * whereas IMAGE decode ([[decodeImages]]) and AUDIO decode
    * ([[decodeAudio]]) are real. Real deployment swaps `decodeOne` for
    * the actual library call; everything around it (schema,
    * partitioning) is unchanged.
    */
  object FakeDecoder {
    def md5Hex(bytes: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(bytes).map("%02x".format(_)).mkString

    def decodeOne(b: Blob): Decoded = {
      val h = md5Hex(b.payload)
      def hex(from: Int, len: Int): Long =
        java.lang.Long.parseLong(h.substring(from, from + len), 16)
      Decoded(
        doc_id = b.doc_id,
        n_bytes = b.n_bytes,
        content_md5 = h,
        width = (1 + hex(0, 4) % 64).toInt,
        height = (1 + hex(4, 4) % 64).toInt,
        // k/255.0 is a single IEEE division — bit-identical in any engine,
        // so the fake features are differentially checkable with no rounding.
        feature = Array.tabulate(8)(j => hex(j * 2, 2) / 255.0))
    }
  }

  /** Partition-parallel pseudo-decode — the video stand-in path
    * ([[FakeDecoder]]): maps each row through the decoder. Image and
    * audio use the real codec paths, [[decodeImages]] / [[decodeAudio]].
    */
  def decode(blobs: Dataset[Blob]): Dataset[Decoded] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.map(FakeDecoder.decodeOne)
  }

  /** Deterministic "resize": rescale the decoded geometry to fit a
    * bounding box, preserving aspect ratio (integer floor math — exact in
    * every engine). A real implementation swaps the arithmetic for the
    * codec's rescale; the typed partition-parallel shape is identical.
    */
  def resize(decoded: Dataset[Decoded], maxSide: Int): Dataset[Decoded] = {
    val spark = decoded.sparkSession
    import spark.implicits._
    decoded.map { d =>
      val longSide = math.max(d.width, d.height)
      if (longSide <= maxSide) d
      else d.copy(
        width = math.max(1, d.width * maxSide / longSide),
        height = math.max(1, d.height * maxSide / longSide))
    }
  }

  /** Per-image 3×3 convolution census: Sobel gradient energy / edge
    * count and Laplacian sufficient statistics over interior pixels.
    */
  case class ImageConv(doc_id: Long, width: Int, height: Int,
                       n_interior: Long, n_edge: Long, sum_gabs: Long,
                       sum_lap: Long, sum_lap2: Long)

  /** Image sharpness/edge QC over the REAL decoded raster — the two
    * classic curation signals an image-pipeline filter stage computes:
    * Sobel edge density (blank/flat images have none) and the variance
    * of the Laplacian (the standard blur detector — a blurred image has
    * a collapsed Laplacian distribution). Both kernels run on the exact
    * integer BT.601 luma 299r+587g+114b (no division anywhere), over
    * interior pixels only (images narrower than 3px in either axis have
    * no interior and are filtered upstream):
    *
    *   gx = (l(x+1,y-1)+2·l(x+1,y)+l(x+1,y+1)) − (l(x-1,y-1)+2·l(x-1,y)+l(x-1,y+1))
    *   gy = the transpose;  edge iff |gx|+|gy| ≥ `threshold`
    *   lap = 4·l(x,y) − l(x-1,y) − l(x+1,y) − l(x,y-1) − l(x,y+1)
    *
    * Everything emitted is an exact integer (counts and sums, Σlap and
    * Σlap² as the variance sufficient statistics), so the oracle can
    * replay the generator's pixel formula through the identical kernels
    * — a wrong decode, kernel sign, or boundary rule cannot hash-match.
    * Map-only over the decoded batch, embarrassingly parallel.
    */
  def convolveImages(images: Dataset[ImageBlob], threshold: Long): Dataset[ImageConv] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { b =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(b.png))
        if (img == null)
          throw new IllegalArgumentException(
            s"undecodable image payload for doc_id=${b.doc_id}")
        val (w, h) = (img.getWidth, img.getHeight)
        val lum = Array.ofDim[Int](h, w)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = img.getRGB(x, y)
            lum(y)(x) =
              299 * ((v >> 16) & 0xff) + 587 * ((v >> 8) & 0xff) + 114 * (v & 0xff)
            x += 1
          }
          y += 1
        }
        var (nInt, nEdge, sGabs, sLap, sLap2) = (0L, 0L, 0L, 0L, 0L)
        y = 1
        while (y < h - 1) {
          var x = 1
          while (x < w - 1) {
            val gx = (lum(y - 1)(x + 1) + 2 * lum(y)(x + 1) + lum(y + 1)(x + 1)) -
              (lum(y - 1)(x - 1) + 2 * lum(y)(x - 1) + lum(y + 1)(x - 1))
            val gy = (lum(y + 1)(x - 1) + 2 * lum(y + 1)(x) + lum(y + 1)(x + 1)) -
              (lum(y - 1)(x - 1) + 2 * lum(y - 1)(x) + lum(y - 1)(x + 1))
            val gabs = math.abs(gx).toLong + math.abs(gy).toLong
            val lap = 4L * lum(y)(x) - lum(y)(x - 1) - lum(y)(x + 1) -
              lum(y - 1)(x) - lum(y + 1)(x)
            nInt += 1
            if (gabs >= threshold) nEdge += 1
            sGabs += gabs
            sLap += lap
            sLap2 += lap * lap
            x += 1
          }
          y += 1
        }
        ImageConv(b.doc_id, w, h, nInt, nEdge, sGabs, sLap, sLap2)
      }
    }
  }

  /** Per-clip PCM quality census: clipping, clipped-run shape and
    * zero-crossing count.
    */
  case class AudioQc(doc_id: Long, n_samples: Long, n_clipped: Long,
                     n_clip_runs: Long, max_clip_run: Long,
                     n_zero_cross: Long)

  /** Audio QC census over the REAL decoded PCM — the signal-integrity
    * checks an audio-curation stage runs before any model sees a clip:
    * clipped-sample count (|s| ≥ `clipAt`, i.e. the recording hit the
    * converter rails), the SHAPE of the clipping (contiguous clipped
    * runs and the longest one — one long run is a flat-lined segment,
    * many short runs are transient peaks), and the zero-crossing count
    * (a degenerate constant/DC-stuck clip has none). All outputs are
    * exact integers from a single in-order pass over each clip's
    * samples; the oracle replays the synth formula through the same
    * run/crossing rules (gaps-and-islands on the sample index).
    */
  def audioQc(audio: Dataset[AudioBlob], clipAt: Int = 32000): Dataset[AudioQc] = {
    val spark = audio.sparkSession
    import spark.implicits._
    audio.mapPartitions { it =>
      it.map { b =>
        val (_, bytes) = WavCodec.decode(b.wav, b.doc_id)
        val n = bytes.length / 2
        var (nClip, nRuns, maxRun, nCross) = (0L, 0L, 0L, 0L)
        var run = 0L
        var prev = 0
        var i = 0
        while (i < n) {
          val s = ((bytes(i * 2) & 0xff) | (bytes(i * 2 + 1) << 8)).toShort.toInt
          if (math.abs(s) >= clipAt) {
            if (run == 0) nRuns += 1
            run += 1
            if (run > maxRun) maxRun = run
            nClip += 1
          } else run = 0
          // crossing = strict sign change between consecutive samples
          // (zero itself is non-negative — one fixed, replayable rule)
          if (i > 0 && ((prev >= 0 && s < 0) || (prev < 0 && s >= 0)))
            nCross += 1
          prev = s
          i += 1
        }
        AudioQc(b.doc_id, n.toLong, nClip, nRuns, maxRun, nCross)
      }
    }
  }

  /** One sampled frame of a "video" payload. */
  case class Frame(doc_id: Long, frame_idx: Int, frame_md5: String,
                   frame_bytes: Long)

  /** Deterministic frame sampling: treat the payload as `nFrames` equal
    * byte ranges and fingerprint each — the Spark-side shape of uniform
    * video frame extraction (split points and per-frame hashes are exact,
    * so the whole pipeline stays oracle-checkable). Short payloads yield
    * fewer frames (one per byte at most); empty payloads yield none.
    */
  def frameSample(blobs: Dataset[Blob], nFrames: Int = 4): Dataset[Frame] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.flatMap { b =>
      val n = b.payload.length
      val frames = math.min(nFrames, n)
      (0 until frames).map { i =>
        val from = (n.toLong * i / frames).toInt
        val until = (n.toLong * (i + 1) / frames).toInt
        val slice = java.util.Arrays.copyOfRange(b.payload, from, until)
        Frame(b.doc_id, i, FakeDecoder.md5Hex(slice), (until - from).toLong)
      }
    }
  }
}
