package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride through
  * the engine as opaque `binary` columns with typed metadata structs.
  *
  * The Spark-side machinery — schema, batched per-partition decode,
  * partitioning, metadata extraction — is real and tested. Codecs:
  * [[ImageCodec]] is REAL (`javax.imageio`, JDK-built-in): full pixel
  * decode for lossless PNG/BMP (m03), header-only SOF/IHDR metadata
  * for JPEG and friends (m01 — dimensions are exact even though JPEG
  * pixels are lossy), and a deterministic nearest-neighbor resize
  * kernel (m04). [[AudioCodec]] is REAL too (`javax.sound.sampled`):
  * PCM WAV encode/decode with exact sample round trips (m05).
  * [[VideoCodec]] handles REAL MJPEG elementary streams (marker-scan
  * frame recovery + per-frame JPEG header decode — m02). [[GifCodec]]
  * and [[Mp4]] cover animated GIF and the MP4 container structure.
  * Every m-family query therefore moves genuine bytes. Compressed
  * payloads the JDK cannot decode (H.264, Opus, …) would need a codec
  * object of their own; the batched plumbing stays the same.
  *
  * Scale posture: decode runs in `mapPartitions` over batches, so at
  * 100 TB each task amortizes codec init across its batch (the Scala
  * equivalent of `mapInPandas` batch shape); payloads never pass
  * through the driver, and metadata-only queries prune the binary
  * column at the parquet scan.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed scratch file per encode/decode
  // stream — per-image file I/O that dominates batch codec work. All
  // payloads here are in-memory byte arrays, so cache in memory. Set
  // at the OUTER object so every entry point (ImageCodec, resize,
  // MJPEG sampling) initializes it — Scala initializes the enclosing
  // object before any nested one is touched.
  javax.imageio.ImageIO.setUseCache(false)

  /** REAL image codec: PNG/BMP via `javax.imageio` (JDK-built-in, zero
    * new dependencies). PNG is lossless, so an encode→decode round trip
    * reproduces pixels exactly — which makes decoded-pixel aggregates
    * oracle-checkable when the source pixels are deterministic
    * arithmetic. */
  object ImageCodec {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO


    case class Decoded(width: Int, height: Int,
                       sumR: Long, sumG: Long, sumB: Long)

    /** Encode a width×height image whose pixel (x,y) is `rgb(x,y)`
      * (0xRRGGBB) to `format` ("png" or "bmp") bytes. */
    def encode(width: Int, height: Int, rgb: (Int, Int) => Int,
               format: String = "png"): Array[Byte] = {
      val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, rgb(x, y)); x += 1 }
        y += 1
      }
      val bos = new ByteArrayOutputStream()
      require(ImageIO.write(img, format, bos), s"no ImageIO writer for $format")
      bos.toByteArray
    }

    /** Header-only metadata read: format name + dimensions WITHOUT
      * decoding pixels — the reader parses just the JPEG SOF / PNG
      * IHDR marker, so this is the cheap corpus-wide metadata pass
      * (dimensions are exact even for lossy codecs). Returns None on
      * unsniffable bytes: at corpus scale that is data, not a bug. */
    def readMeta(bytes: Array[Byte]): Option[(String, Int, Int)] = {
      if (bytes == null || bytes.isEmpty) return None
      try {
        val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
        try {
          val readers = ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try {
              r.setInput(iis)
              Some((r.getFormatName.toLowerCase, r.getWidth(0), r.getHeight(0)))
            } finally r.dispose()
          }
        } finally iis.close()
      // NonFatal, not just IOException: the JDK BMP/GIF readers throw
      // IllegalArgument/ArrayIndexOutOfBounds and friends on corrupt-
      // but-sniffable headers — a bad header is data, not a task death
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Decode any ImageIO-sniffable format (PNG, BMP, GIF, …) and
      * reduce to dimensions + per-channel sums — the batch-friendly
      * shape for corpus-wide pixel statistics. Returns None on
      * undecodable bytes (corrupt or unknown format) rather than
      * throwing: at corpus scale decode failures are data, not bugs. */
    def decodeStats(bytes: Array[Byte]): Option[Decoded] =
      try Option(ImageIO.read(new ByteArrayInputStream(bytes))).map { img =>
        var (sr, sg, sb) = (0L, 0L, 0L)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val p = img.getRGB(x, y)
            sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
            x += 1
          }
          y += 1
        }
        Decoded(img.getWidth, img.getHeight, sr, sg, sb)
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic synthetic PNG for doc `id`: small dims and pure-
    * arithmetic pixels, so decoded aggregates have a closed-form
    * oracle. r=(id+3x+7y)%256, g=(2id+5x+y)%256, b=(3id+x+11y)%256. */
  /** Deterministic VISUALLY-DISTINCT class image: an 8×8 black/white
    * bitmap whose pixels are the bits of splitmix64(k). Built for the
    * perceptual-hash dedup gate (m07): [[averageHash64]] of such a
    * bitmap is exactly its white-pixel mask (white=765 > mean >
    * black=0 whenever the pattern is mixed), so distinct k give
    * distinct hashes with ~2⁻⁶⁴ collision odds — unlike the smooth
    * [[synthPng]] gradients, which are visually NEAR each other and
    * correctly merge under a perceptual hash (ImageHashSpec pins that
    * contrast). splitmix64 is the public-domain mix from Steele et
    * al.'s SplittableRandom. */
  def synthPngPattern(k: Long): Array[Byte] = {
    var z = k + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    val bits = z ^ (z >>> 31)
    ImageCodec.encode(8, 8, (x, y) =>
      if (((bits >>> (y * 8 + x)) & 1L) == 1L) 0xFFFFFF else 0x000000)
  }

  def synthPng(id: Long): Array[Byte] = {
    val w = (8 + id % 24).toInt
    val h = (8 + id % 16).toInt
    ImageCodec.encode(w, h, (x, y) => {
      val r = ((id + 3 * x + 7 * y) % 256).toInt
      val g = ((2 * id + 5 * x + y) % 256).toInt
      val b = ((3 * id + x + 11 * y) % 256).toInt
      (r << 16) | (g << 8) | b
    })
  }

  /** REAL audio codec: PCM WAV through `javax.sound.sampled`
    * (JDK-built-in, zero new dependencies). PCM is lossless, so an
    * encode→decode round trip reproduces samples exactly — decoded
    * aggregates are oracle-checkable when the samples are
    * deterministic arithmetic. Compressed audio (Opus, MP3) is
    * outside the JDK and not decoded. */
  object AudioCodec {
    import java.io.{BufferedInputStream, ByteArrayInputStream}
    import javax.sound.sampled.AudioSystem

    case class AudioStats(sampleRate: Int, channels: Int, bitsPerSample: Int,
                          nFrames: Long, sumSamples: Long)

    /** Mono 16-bit little-endian PCM WAV (hand-rolled RIFF header —
      * fully deterministic bytes). */
    def encodeWavPcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val buf = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1)                  // PCM
        .putShort(1)                  // mono
        .putInt(sampleRate)
        .putInt(sampleRate * 2)       // byte rate
        .putShort(2)                  // block align
        .putShort(16)                 // bits per sample
      buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(buf.putShort)
      buf.array()
    }

    /** Decode via the real AudioSystem parser to raw 16-bit LE PCM.
      * None on unparseable bytes — at corpus scale a bad container is
      * data, not a task death. */
    def decodePcm16(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] =
      try {
        val ais = AudioSystem.getAudioInputStream(
          new BufferedInputStream(new ByteArrayInputStream(bytes)))
        try {
          val f = ais.getFormat
          if (f.getSampleSizeInBits != 16 || f.isBigEndian) None
          else {
            val data = ais.readAllBytes()
            val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
            val out = new Array[Short](data.length / 2)
            var i = 0
            while (bb.remaining() >= 2) { out(i) = bb.getShort; i += 1 }
            Some((f.getSampleRate.toInt, f.getChannels, out))
          }
        } finally ais.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Format metadata + the signed-sample sum, from a real decode. */
    def decodeStats(bytes: Array[Byte]): Option[AudioStats] =
      decodePcm16(bytes).map { case (rate, channels, samples) =>
        var sum = 0L
        samples.foreach(s => sum += s)
        AudioStats(rate, channels, 16, samples.length.toLong / channels, sum)
      }

    /** Energy-derivative acoustic fingerprint over really-decoded PCM
      * (the Shazam-family primitive, reduced to its integer core):
      * frame into `win`-sample windows (partial tail dropped),
      * per-window energy = Σ|sample|, bit w set iff E_w > E_{w−1}.
      * All-integer → bit-reproducible, and robust to uniform gain
      * changes of sign-preserving arithmetic. Returns
      * `(n_windows, fingerprint)`. */
    def fingerprint(bytes: Array[Byte], win: Int): Option[(Long, Long)] = {
      require(win >= 1 && win <= 8192, s"window $win out of range")
      decodePcm16(bytes).map { case (_, _, samples) =>
        val full = samples.length / win
        val en = Array.tabulate(full) { w =>
          var e = 0L
          var i = w * win
          val end = i + win
          while (i < end) { e += math.abs(samples(i).toLong); i += 1 }
          e
        }
        var fp = 0L
        var w = 1
        while (w < full && w < 64) {
          if (en(w) > en(w - 1)) fp |= 1L << w
          w += 1
        }
        (full.toLong, fp)
      }
    }
  }

  /** Deterministic synthetic WAV for doc `id`: mono 16-bit PCM whose
    * sample i is `((id·31 + i·17) mod 4096) − 2048` — closed-form, so
    * the decoded sample sum has an exact oracle. */
  def synthWav(id: Long): Array[Byte] = {
    val n = (100 + id % 400).toInt
    val samples = Array.tabulate(n)(i => (((id * 31 + i * 17) % 4096) - 2048).toShort)
    AudioCodec.encodeWavPcm16(8000, samples)
  }

  /** Batched distributed audio decode: `(id, wav_bytes)` → format
    * metadata + sample sum. Same mapPartitions batch shape. */
  def decodeAudioStats(ds: Dataset[(Long, Array[Byte])], batchSize: Int = 256): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { case (id, bytes) =>
          AudioCodec.decodeStats(bytes) match {
            case Some(a) => (id, a.sampleRate, a.channels, a.nFrames, a.sumSamples)
            case None => (id, -1, -1, -1L, 0L)
          }
        }
      }
    }.toDF("id", "sample_rate", "channels", "n_frames", "sum_samples")
  }

  /** Per-window energies over really-decoded PCM: `win`-sample
    * windows (partial tail dropped), energy = Σ|sample| — the
    * integer primitive under VAD-style activity segmentation. The
    * decode stays in mapPartitions (payloads never on the driver);
    * segmentation over the (id, w, energy) rows is DECLARATIVE
    * downstream — windows/aggregates Catalyst can plan, instead of
    * per-doc imperative loops. Undecodable payloads yield no rows. */
  def audioWindowEnergies(ds: Dataset[(Long, Array[Byte])],
                          win: Int): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        AudioCodec.decodePcm16(bytes) match {
          case Some((_, _, samples)) =>
            val nw = samples.length / win
            (0 until nw).iterator.map { w =>
              var e = 0L
              var i = w * win
              val end = i + win
              while (i < end) { e += math.abs(samples(i).toLong); i += 1 }
              (id, w.toLong, e)
            }
          case None => Iterator.empty
        }
      }
    }.toDF("id", "w", "energy")
  }

  /** Batched distributed acoustic fingerprints (see
    * [[AudioCodec.fingerprint]]); undecodable payloads report
    * `(-1, 0)` rather than killing the task. */
  def audioFingerprints(ds: Dataset[(Long, Array[Byte])], win: Int,
                        batchSize: Int = 256): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { case (id, bytes) =>
          AudioCodec.fingerprint(bytes, win) match {
            case Some((n, fp)) => (id, n, fp)
            case None => (id, -1L, 0L)
          }
        }
      }
    }.toDF("id", "n_windows", "fprint")
  }

  /** REAL video-stream handling: MJPEG (Motion JPEG) elementary
    * streams — the concatenated-JPEG format webcams and IP cameras
    * emit. Frame boundaries come from a real JPEG SEGMENT WALK, not a
    * raw byte scan: length-bearing segments (APPn/COM/DQT/DHT/SOF…)
    * are skipped by their declared length — so an EXIF thumbnail's
    * embedded EOI inside an APP1 payload cannot split a frame early —
    * and entropy-coded data after SOS is scanned with the FF-escape
    * rule (FF00 = literal, FFD0–D7 = restart, anything else = marker).
    * H.264 samples inside MP4 are outside the JDK; [[Mp4]] reads
    * only the container structure. */
  object VideoCodec {

    /** Concatenate JPEG frames into an MJPEG elementary stream. */
    def encodeMjpeg(frames: Seq[Array[Byte]]): Array[Byte] =
      frames.toArray.flatten

    /** End offset (exclusive) of the JPEG frame starting at `start`,
      * or -1 if truncated/malformed. Walks the segment structure. */
    private def frameEnd(b: Array[Byte], start: Int): Int = {
      val n = b.length
      def u8(i: Int) = b(i) & 0xFF
      if (start + 1 >= n || u8(start) != 0xFF || u8(start + 1) != 0xD8) return -1
      var i = start + 2
      while (i + 1 < n) {
        if (u8(i) != 0xFF) return -1 // expected a marker
        val m = u8(i + 1)
        m match {
          case 0xD8 => i += 2                       // stray SOI (tolerated)
          case 0xD9 => return i + 2                 // EOI — frame ends
          case x if x >= 0xD0 && x <= 0xD7 => i += 2 // RSTn (no length)
          case 0x01 | 0xFF => i += 2                // TEM / fill byte
          case 0xDA =>                              // SOS: entropy data
            if (i + 3 >= n) return -1
            var j = i + 2 + ((u8(i + 2) << 8) | u8(i + 3))
            // scan entropy-coded bytes honoring the FF-escape rule
            while (j + 1 < n) {
              if (u8(j) == 0xFF) {
                val mm = u8(j + 1)
                if (mm == 0xD9) return j + 2
                else if (mm == 0x00 || (mm >= 0xD0 && mm <= 0xD7)) j += 2
                else if (mm == 0xFF) j += 1
                else return -1 // other markers can't appear mid-scan here
              } else j += 1
            }
            return -1
          case _ =>                                 // length-bearing segment
            if (i + 3 >= n) return -1
            i += 2 + ((u8(i + 2) << 8) | u8(i + 3))
        }
      }
      -1
    }

    /** `(offset, length)` of every complete frame; a truncated or
      * malformed tail is dropped, never thrown on. */
    def frameSlices(bytes: Array[Byte]): Vector[(Int, Int)] = {
      if (bytes == null) return Vector.empty
      val out = Vector.newBuilder[(Int, Int)]
      var i = 0
      while (i + 1 < bytes.length) {
        if ((bytes(i) & 0xFF) == 0xFF && (bytes(i + 1) & 0xFF) == 0xD8) {
          val end = frameEnd(bytes, i)
          if (end < 0) return out.result()
          out += ((i, end - i))
          i = end
        } else i += 1
      }
      out.result()
    }

    /** Decode the header of frame `idx` (dims via the real JPEG
      * reader, no pixel decode). */
    def frameMeta(bytes: Array[Byte], slice: (Int, Int)): Option[(String, Int, Int)] =
      ImageCodec.readMeta(
        java.util.Arrays.copyOfRange(bytes, slice._1, slice._1 + slice._2))

    /** Decode one frame slice, or None on undecodable bytes. */
    def decodeFrame(bytes: Array[Byte], s: (Int, Int)): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        java.util.Arrays.copyOfRange(bytes, s._1, s._1 + s._2))))
      catch { case scala.util.control.NonFatal(_) => None }

    /** Mean per-pixel-per-channel absolute RGB difference between two
      * decoded frames, or None when either frame failed to decode or
      * dimensions differ (a dimension change IS a cut — callers treat
      * None accordingly). */
    def frameDiff(ia0: Option[java.awt.image.BufferedImage],
                  ib0: Option[java.awt.image.BufferedImage]): Option[Double] = {
      for {
        ia <- ia0; ib <- ib0
        if ia.getWidth == ib.getWidth && ia.getHeight == ib.getHeight
      } yield {
        var acc = 0L
        var y = 0
        while (y < ia.getHeight) {
          var x = 0
          while (x < ia.getWidth) {
            val p = ia.getRGB(x, y); val q = ib.getRGB(x, y)
            acc += math.abs(((p >> 16) & 0xFF) - ((q >> 16) & 0xFF)) +
              math.abs(((p >> 8) & 0xFF) - ((q >> 8) & 0xFF)) +
              math.abs((p & 0xFF) - (q & 0xFF))
            x += 1
          }
          y += 1
        }
        acc.toDouble / (3.0 * ia.getWidth * ia.getHeight)
      }
    }
  }

  /** Scene-change (shot-boundary) detection over MJPEG streams: a cut
    * at frame j when the mean absolute RGB distance to frame j−1
    * exceeds `threshold` (or when either frame is undecodable /
    * resized — a codec break is a boundary). Emits `(id, n_frames,
    * n_cuts)`. The temporal sibling of the image-dedup pass: shot
    * boundaries are where a video corpus gets sampled for training
    * frames, one representative per shot instead of 30 near-identical
    * frames per second.
    *
    * REAL pixel decode of every frame via the JDK JPEG reader, batched
    * `mapPartitions` like every decode stage — payload bytes never
    * visit the driver, cost is linear in frames, nothing shuffles but
    * the per-video result row. Threshold calibration: adjacent frames
    * of a continuous shot land at diff ≈ 0–5 (codec noise), a hard cut
    * at ≥ 60 — the default 32 sits in the dead band. */
  def sceneChanges(ds: Dataset[(Long, Array[Byte])], threshold: Double = 32.0,
                   batchSize: Int = 64): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { case (id, bytes) =>
          val slices = VideoCodec.frameSlices(bytes)
          var cuts = 0L
          // stream the decode: each frame decodes ONCE and is compared
          // against the held previous frame — never decode-per-pair
          var prev = if (slices.isEmpty) None
            else VideoCodec.decodeFrame(bytes, slices(0))
          var j = 1
          while (j < slices.length) {
            val cur = VideoCodec.decodeFrame(bytes, slices(j))
            val cut = VideoCodec.frameDiff(prev, cur) match {
              case Some(d) => d > threshold
              case None => true
            }
            if (cut) cuts += 1
            prev = cur
            j += 1
          }
          (id, slices.length.toLong, cuts)
        }
      }
    }.toDF("id", "n_frames", "n_cuts")
  }

  /** Deterministic synthetic MJPEG "video" for doc `id`:
    * `1 + id mod 12` real 16×12 JPEG frames whose pixel gradient
    * varies per frame. */
  def synthMjpeg(id: Long): Array[Byte] = {
    val n = (1 + id % 12).toInt
    VideoCodec.encodeMjpeg((0 until n).map { j =>
      ImageCodec.encode(16, 12, (x, y) => {
        val r = x * 255 / 15; val g = y * 255 / 11; val b = ((id + j) % 256).toInt
        (r << 16) | (g << 8) | b
      }, "jpg")
    })
  }

  /** REAL frame sampling over MJPEG streams: every `everyK`-th frame's
    * index + header-decoded dimensions — `(id, frame_idx, width,
    * height)` rows. Batched mapPartitions like every decode stage;
    * only sampled frames' headers are parsed (the marker scan touches
    * each byte once, the JPEG reader only the sampled SOF headers). */
  def sampleMjpegFrames(ds: Dataset[(Long, Array[Byte])], everyK: Int,
                        batchSize: Int = 256): DataFrame = {
    import ds.sparkSession.implicits._
    require(everyK >= 1)
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { case (id, bytes) =>
          val slices = VideoCodec.frameSlices(bytes)
          slices.indices.by(everyK).iterator.map { idx =>
            VideoCodec.frameMeta(bytes, slices(idx)) match {
              case Some((_, w, h)) => (id, idx, w, h)
              case None => (id, idx, -1, -1)
            }
          }
        }
      }
    }.toDF("id", "frame_idx", "width", "height")
  }

  /** Deterministic synthetic JPEG for doc `id` — REAL JPEG bytes from
    * the JDK's built-in encoder. Pixels are a smooth gradient (JPEG is
    * lossy, so pixel values are not oracle-checkable — but the SOF
    * dimensions are exact, and that is what [[extractImageMeta]]
    * reads). Dims stay small so encode cost doesn't swamp the query. */
  def synthJpeg(id: Long): Array[Byte] = {
    val w = (16 + (id * 7919) % 48).toInt
    val h = (16 + (id * 104729) % 32).toInt
    ImageCodec.encode(w, h, (x, y) => {
      val r = (x * 255 / math.max(1, w - 1))
      val g = (y * 255 / math.max(1, h - 1))
      val b = ((id % 256)).toInt
      (r << 16) | (g << 8) | b
    }, "jpg")
  }

  /** Batched header-only metadata over REAL image bytes: `(id, bytes)`
    * → `(id, format, width, height, n_bytes)`, decoded in batches
    * inside mapPartitions; no pixel decode happens. */
  def extractImageMeta(ds: Dataset[(Long, Array[Byte])], batchSize: Int = 256): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { case (id, bytes) =>
          ImageCodec.readMeta(bytes) match {
            case Some((fmt, w, h)) => (id, fmt, w, h, bytes.length.toLong)
            case None => (id, null: String, -1, -1,
              Option(bytes).map(_.length.toLong).getOrElse(-1L))
          }
        }
      }
    }.toDF("id", "format", "width", "height", "n_bytes")
  }

  /** 64-bit average perceptual hash of REAL decoded pixels: 8×8
    * nearest-neighbor luminance samples (pure integer arithmetic —
    * `sx = x·w/8` floor, luminance = r+g+b unscaled), thresholded at
    * the integer mean (floor division). Every step is deterministic
    * integer math over losslessly-decoded pixels, so identical image
    * content ALWAYS yields identical hashes, on any executor, for any
    * ImageIO-readable format. Hamming-near hashes indicate visually
    * near-duplicate images; for banded near-dup candidate generation
    * compose with the SimHash 4×16-bit banding (`Dedup.simHashPairs`
    * has the pigeonhole argument). Undecodable bytes → None. */
  def averageHash64(bytes: Array[Byte]): Option[Long] = {
    import java.io.ByteArrayInputStream
    import javax.imageio.ImageIO
    try Option(ImageIO.read(new ByteArrayInputStream(bytes))).map { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      val lum = new Array[Long](64)
      var i = 0
      while (i < 64) {
        val rgb = img.getRGB((i % 8) * w / 8, (i / 8) * h / 8)
        lum(i) = ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
        i += 1
      }
      val mean = lum.sum / 64
      var hash = 0L
      var j = 0
      while (j < 64) { if (lum(j) > mean) hash |= (1L << j); j += 1 }
      hash
    } catch { case _: Throwable => None }
  }

  /** Distributed perceptual hashing: `(id, image_bytes)` →
    * `(id, ahash)`; undecodable payloads report -1. Same batched
    * mapPartitions shape as [[decodeImageStats]] — payload bytes never
    * visit the driver. */
  def imageHashes(ds: Dataset[(Long, Array[Byte])], batchSize: Int = 256): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { case (id, bytes) =>
          (id, averageHash64(bytes).getOrElse(-1L))
        }
      }
    }.toDF("id", "ahash")
  }

  /** Distributed real-codec decode: `(id, image_bytes)` → dimensions +
    * per-channel pixel sums. Same batched mapPartitions shape as
    * [[extractImageMeta]]; ImageIO reader instances stay task-local. */
  def decodeImageStats(ds: Dataset[(Long, Array[Byte])], batchSize: Int = 256): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { case (id, bytes) =>
          ImageCodec.decodeStats(bytes) match {
            case Some(d) => (id, d.width, d.height, d.sumR, d.sumG, d.sumB)
            case None => (id, -1, -1, -1L, -1L, -1L)
          }
        }
      }
    }.toDF("id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** REAL image resize: decode any ImageIO format, nearest-neighbor
    * sample with pure integer arithmetic (`sx = x·srcW/dstW`, floor —
    * no filtering, no float rounding), re-encode lossless PNG. The
    * deterministic kernel is what makes a resize→decode round trip
    * carry an exact closed-form oracle (m04). */
  def resizeImageNearest(bytes: Array[Byte], dstW: Int, dstH: Int): Option[Array[Byte]] = {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO
    require(dstW > 0 && dstH > 0, "resize target must be positive")
    try Option(ImageIO.read(new ByteArrayInputStream(bytes))).map { img =>
      val out = new BufferedImage(dstW, dstH, BufferedImage.TYPE_INT_RGB)
      val (sw, sh) = (img.getWidth, img.getHeight)
      var y = 0
      while (y < dstH) {
        val sy = y * sh / dstH
        var x = 0
        while (x < dstW) { out.setRGB(x, y, img.getRGB(x * sw / dstW, sy)); x += 1 }
        y += 1
      }
      val bos = new ByteArrayOutputStream()
      ImageIO.write(out, "png", bos)
      bos.toByteArray
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Batched distributed resize over real image bytes; undecodable
    * payloads pass through unchanged (decode failures are data). */
  def resizeImages(ds: Dataset[(Long, Array[Byte])], dstW: Int, dstH: Int,
                   batchSize: Int = 256): Dataset[(Long, Array[Byte])] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { case (id, bytes) =>
          (id, resizeImageNearest(bytes, dstW, dstH).getOrElse(bytes))
        }
      }
    }
  }

  /** REAL animated-GIF codec through `javax.imageio` (JDK-built-in,
    * zero new dependencies). GIF is palette-indexed and LOSSLESS:
    * with an explicit 256-entry grayscale palette the writer stores
    * each frame's sample bytes verbatim under LZW, so an
    * encode→decode round trip reproduces every frame's pixels exactly
    * — the m03/PNG losslessness argument extended to a MULTI-frame
    * container. Frame count, per-frame dimensions and the
    * GraphicControlExtension delay all round-trip through real GIF89a
    * structures, which is what gives m11 its closed-form oracle. */
  object GifCodec {
    import java.awt.image.{BufferedImage, IndexColorModel}
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode

    /** Identity grayscale palette: index i → (i, i, i). With pixels
      * written as raster SAMPLES (palette indices), encode/decode is
      * index-preserving and therefore lossless. */
    private def grayPalette: IndexColorModel = {
      val g = Array.tabulate(256)(_.toByte)
      new IndexColorModel(8, 256, g, g, g)
    }

    // ImageIO writer/reader instances are NOT thread-safe but ARE
    // reusable across images (setOutput/setInput resets them) — and
    // instantiation walks the service registry, which dominates the
    // cost of encoding a tiny frame. One instance per executor thread
    // amortizes that to zero: the per-batch "codec state initializes
    // once" contract the other decoders document, realized here.
    private val localWriter =
      ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
        ImageIO.getImageWritersByFormatName("gif").next())
    private val localReader =
      ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
        ImageIO.getImageReadersByFormatName("gif").next())

    case class FrameStats(frameIdx: Int, width: Int, height: Int,
                          delayCs: Int, sumGray: Long)

    /** Encode `nFrames` frames of `gray(f, x, y)` ∈ [0, 255] into one
      * animated GIF; frame f's GraphicControlExtension delay is
      * `delayCs(f)` centiseconds. */
    def encodeAnimated(width: Int, height: Int, nFrames: Int,
                       gray: (Int, Int, Int) => Int,
                       delayCs: Int => Int): Array[Byte] = {
      val writer = localWriter.get()
      val bos = new ByteArrayOutputStream()
      // direct MemoryCache stream: ImageIO.createImageOutputStream
      // consults the SPI registry per call, a measurable sync point
      // under 32 codec threads
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        // all frames share dims + palette, so ONE default-metadata DOM
        // serves the whole sequence — only the delay mutates per frame
        val proto = new BufferedImage(width, height,
          BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
        val meta = writer.getDefaultImageMetadata(new ImageTypeSpecifier(proto), null)
        val fmt = meta.getNativeMetadataFormatName // javax_imageio_gif_image_1.0
        val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
        // find-or-create the GraphicControlExtension node, then pin
        // the delay; the writer serializes it into the real GCE block
        var gce: IIOMetadataNode = null
        val kids = root.getChildNodes
        var i = 0
        while (i < kids.getLength && gce == null) {
          if (kids.item(i).getNodeName == "GraphicControlExtension")
            gce = kids.item(i).asInstanceOf[IIOMetadataNode]
          i += 1
        }
        if (gce == null) {
          gce = new IIOMetadataNode("GraphicControlExtension")
          root.appendChild(gce)
        }
        gce.setAttribute("disposalMethod", "none")
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("transparentColorIndex", "0")
        var f = 0
        while (f < nFrames) {
          val img = if (f == 0) proto
            else new BufferedImage(width, height,
              BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
          val raster = img.getRaster
          var y = 0
          while (y < height) {
            var x = 0
            while (x < width) { raster.setSample(x, y, 0, gray(f, x, y)); x += 1 }
            y += 1
          }
          gce.setAttribute("delayTime", delayCs(f).toString)
          meta.setFromTree(fmt, root)
          writer.writeToSequence(new IIOImage(img, null, meta), null)
          f += 1
        }
        writer.endWriteSequence()
      } finally {
        writer.setOutput(null) // detach; the thread-local instance is reused
        ios.close()
      }
      bos.toByteArray
    }

    /** GCE delays in frame order, read by walking the REAL GIF89a
      * block structure (header → screen descriptor → global color
      * table → extension / image-descriptor blocks) — the same
      * pure-JDK container-walk discipline as [[Mp4]], and far cheaper
      * than materializing a metadata DOM per frame. Malformed input
      * stops the walk (whatever was parsed so far is returned). */
    private def gceDelays(bytes: Array[Byte]): Array[Int] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      @inline def u8(i: Int) = bytes(i) & 0xFF
      if (bytes.length < 13) return out.toArray
      var p = 6 // past "GIF89a"
      val packed = u8(p + 4)
      p += 7
      if ((packed & 0x80) != 0) p += 3 * (1 << ((packed & 7) + 1)) // GCT
      var pendingDelay = 0
      var ok = true
      while (ok && p < bytes.length) u8(p) match {
        case 0x21 => // extension: GCE carries the NEXT image's delay
          val label = u8(p + 1)
          p += 2
          if (label == 0xF9 && p + 3 < bytes.length && u8(p) == 4)
            pendingDelay = u8(p + 2) | (u8(p + 3) << 8)
          while (p < bytes.length && u8(p) != 0) p += 1 + u8(p)
          p += 1
        case 0x2C => // image descriptor
          out += pendingDelay
          pendingDelay = 0
          if (p + 9 < bytes.length) {
            val ipacked = u8(p + 9)
            p += 10
            if ((ipacked & 0x80) != 0) p += 3 * (1 << ((ipacked & 7) + 1))
            p += 1 // LZW min code size
            while (p < bytes.length && u8(p) != 0) p += 1 + u8(p)
            p += 1
          } else ok = false
        case 0x3B => ok = false // trailer
        case _ => ok = false    // malformed: stop
      }
      out.toArray
    }

    /** Decode EVERY frame of a real GIF: dimensions, the GCE delay,
      * and the exact gray-pixel sum. Indexed frames sum through the
      * decoded palette's red channel (identity palette ⇒ the sample
      * IS the gray value, but the LUT keeps this correct even if a
      * writer permutes the table); non-indexed frames fall back to
      * getRGB. Undecodable bytes → Nil: at corpus scale that is data,
      * not a task death. */
    def decodeFrames(bytes: Array[Byte]): Seq[FrameStats] =
      try {
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new ByteArrayInputStream(bytes))
        try {
          val r = localReader.get()
          try {
            r.setInput(iis)
            val delays = gceDelays(bytes)
            (0 until r.getNumImages(true)).map { f =>
              val img = r.read(f)
              var sum = 0L
              img.getColorModel match {
                case icm: IndexColorModel =>
                  val lut = Array.tabulate(icm.getMapSize)(icm.getRed)
                  val raster = img.getRaster
                  var y = 0
                  while (y < img.getHeight) {
                    var x = 0
                    while (x < img.getWidth) {
                      sum += lut(raster.getSample(x, y, 0))
                      x += 1
                    }
                    y += 1
                  }
                case _ =>
                  var y = 0
                  while (y < img.getHeight) {
                    var x = 0
                    while (x < img.getWidth) {
                      sum += (img.getRGB(x, y) >> 16) & 0xFF
                      x += 1
                    }
                    y += 1
                  }
              }
              FrameStats(f, img.getWidth, img.getHeight,
                if (f < delays.length) delays(f) else 0, sum)
            }
          } finally r.setInput(null) // detach; thread-local reuse
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  /** Deterministic synthetic animated GIF for doc `id`:
    * `2 + id % 4` frames of `(10 + id % 6) × (8 + id % 5)` grayscale
    * pixels `g(f, x, y) = (id + 13f + 3x + 7y) % 256`, frame f delayed
    * `(4 + (id + f) % 7)` cs. Small dims keep encode cost off the
    * query's critical path; the pure arithmetic is what the DuckDB
    * oracle replays. */
  def synthGif(id: Long): Array[Byte] = {
    val w = (10 + id % 6).toInt
    val h = (8 + id % 5).toInt
    val n = (2 + id % 4).toInt
    GifCodec.encodeAnimated(w, h, n,
      (f, x, y) => ((id + 13 * f + 3 * x + 7 * y) % 256).toInt,
      f => (4 + (id + f) % 7).toInt)
  }

  /** Batched full-sequence GIF decode: `(id, bytes)` → one row per
    * FRAME `(id, frame_idx, width, height, delay_cs, sum_gray)`. Same
    * mapPartitions batch shape as [[decodeImageStats]]; payloads never
    * leave the executors. */
  def decodeGifFrames(ds: Dataset[(Long, Array[Byte])],
                      batchSize: Int = 256): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { case (id, bytes) =>
          GifCodec.decodeFrames(bytes).map(fs =>
            (id, fs.frameIdx, fs.width, fs.height, fs.delayCs, fs.sumGray))
        }
      }
    }.toDF("id", "frame_idx", "width", "height", "delay_cs", "sum_gray")
  }

  /** REAL in-band metadata: PNG `tEXt` chunks through the JDK PNG
    * writer/reader — the "typed metadata rides WITH the opaque binary"
    * pattern (provenance, license, capture params) that lets a media
    * corpus be re-sharded without a sidecar table to keep in sync.
    * Keyword/value pairs are written into, and parsed back out of,
    * the actual PNG chunk structure (`javax_imageio_png_1.0` tree). */
  object PngText {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode

    private val Fmt = "javax_imageio_png_1.0"

    /** Encode a tiny PNG carrying `entries` as tEXt chunks (keywords
      * must be 1–79 Latin-1 chars, PNG's own constraint). */
    def encode(entries: Seq[(String, String)], width: Int = 4,
               height: Int = 4, rgb: Int = 0x808080): Array[Byte] = {
      val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until height; x <- 0 until width) img.setRGB(x, y, rgb)
      val writer = ImageIO.getImageWritersByFormatName("png").next()
      val bos = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        val meta = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), null)
        val root = new IIOMetadataNode(Fmt)
        val tEXt = new IIOMetadataNode("tEXt")
        entries.foreach { case (k, v) =>
          val e = new IIOMetadataNode("tEXtEntry")
          e.setAttribute("keyword", k)
          e.setAttribute("value", v)
          tEXt.appendChild(e)
        }
        root.appendChild(tEXt)
        meta.mergeTree(Fmt, root)
        writer.write(new IIOImage(img, null, meta))
      } finally {
        writer.dispose()
        ios.close()
      }
      bos.toByteArray
    }

    /** Parse every tEXt entry back from real PNG bytes; non-PNG or
      * chunkless bytes → Nil (corpus data, not a task death). */
    def read(bytes: Array[Byte]): Seq[(String, String)] =
      try {
        val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
        try {
          val readers = ImageIO.getImageReaders(iis)
          if (!readers.hasNext) Nil
          else {
            val r = readers.next()
            try {
              r.setInput(iis)
              val root = r.getImageMetadata(0).getAsTree(Fmt)
                .asInstanceOf[IIOMetadataNode]
              val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
              val kids = root.getChildNodes
              for (i <- 0 until kids.getLength
                   if kids.item(i).getNodeName == "tEXt") {
                val es = kids.item(i).getChildNodes
                for (j <- 0 until es.getLength) {
                  val e = es.item(j).asInstanceOf[IIOMetadataNode]
                  out += ((e.getAttribute("keyword"), e.getAttribute("value")))
                }
              }
              out.toSeq
            } finally r.dispose()
          }
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  /** Deterministic metadata payload for doc `id`: provenance-shaped
    * keys whose values are pure arithmetic in the id (the m12 oracle
    * replays them). */
  def synthPngTagged(id: Long): Array[Byte] =
    PngText.encode(Seq(
      "doc" -> id.toString,
      "lang" -> s"l${id % 5}",
      "shard" -> ((id * 7) % 3).toString))

  /** Batched tEXt extraction: `(id, bytes)` → one row per chunk entry
    * `(id, key, value)`. Same mapPartitions batch shape as the other
    * decoders; payloads stay on executors. */
  def extractPngText(ds: Dataset[(Long, Array[Byte])],
                     batchSize: Int = 256): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { case (id, bytes) =>
          PngText.read(bytes).map { case (k, v) => (id, k, v) }
        }
      }
    }.toDF("id", "key", "value")
  }
}
