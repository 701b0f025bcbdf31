package graft

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("ImageCodec: real PNG and BMP bytes round-trip pixels exactly") {
    import Multimodal.ImageCodec
    val rgb = (x: Int, y: Int) => ((x * 11) % 256 << 16) | ((y * 17) % 256 << 8) | ((x + y) % 256)
    for (fmt <- Seq("png", "bmp")) {
      val bytes = ImageCodec.encode(20, 12, rgb, fmt)
      // real container magic, not our fake header
      if (fmt == "png") assert((bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P')
      else assert(bytes(0) == 'B' && bytes(1) == 'M')
      val d = ImageCodec.decodeStats(bytes).get
      assert(d.width == 20 && d.height == 12)
      val expR = (for (y <- 0 until 12; x <- 0 until 20) yield (x * 11) % 256).sum.toLong
      val expB = (for (y <- 0 until 12; x <- 0 until 20) yield (x + y) % 256).sum.toLong
      assert(d.sumR == expR && d.sumB == expB, s"$fmt channel sums")
    }
  }

  test("ImageCodec: undecodable bytes are data (None), not exceptions") {
    import Multimodal.ImageCodec
    assert(ImageCodec.decodeStats("certainly not an image".getBytes).isEmpty)
    assert(ImageCodec.decodeStats(Array.empty[Byte]).isEmpty)
    // a PNG with its body chopped off must not crash the task
    val png = ImageCodec.encode(16, 16, (_, _) => 0xABCDEF)
    val truncated = png.take(30)
    assert(ImageCodec.decodeStats(truncated).isEmpty)
  }

  test("ImageCodec.readMeta: real JPEG bytes yield exact dims, header-only") {
    import Multimodal.ImageCodec
    val bytes = Multimodal.synthJpeg(37L)
    // real JPEG magic (SOI marker), not our fake header
    assert((bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8)
    val (fmt, w, h) = ImageCodec.readMeta(bytes).get
    assert(fmt == "jpeg")
    assert(w == 16 + (37L * 7919 % 48) && h == 16 + (37L * 104729 % 32))
    // PNG sniffs too; garbage and null are None, never exceptions
    assert(ImageCodec.readMeta(Multimodal.synthPng(5L)).get._1 == "png")
    assert(ImageCodec.readMeta("not an image".getBytes).isEmpty)
    assert(ImageCodec.readMeta(null).isEmpty)
    assert(ImageCodec.readMeta(bytes.take(3)).isEmpty)
  }

  test("extractImageMeta: distributed header reads over real JPEGs") {
    val ds = spark.range(0, 50).as[Long].map(i => (i, Multimodal.synthJpeg(i)))
    val rows = Multimodal.extractImageMeta(ds, batchSize = 16).collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val id = r.getAs[Long]("id")
      assert(r.getAs[String]("format") == "jpeg")
      assert(r.getAs[Int]("width") == 16 + (id * 7919 % 48))
      assert(r.getAs[Int]("height") == 16 + (id * 104729 % 32))
      assert(r.getAs[Long]("n_bytes") > 0)
    }
  }

  test("VideoCodec: MJPEG marker scan recovers every frame; sampling decodes real headers") {
    import Multimodal.VideoCodec
    val id = 17L
    val n = (1 + id % 12).toInt
    val stream = Multimodal.synthMjpeg(id)
    val slices = VideoCodec.frameSlices(stream)
    assert(slices.length == n)
    // slices tile the stream exactly: contiguous, full coverage
    assert(slices.head._1 == 0)
    assert(slices.map(s => s._1 + s._2).last == stream.length)
    slices.sliding(2).foreach { case Vector((o1, l1), (o2, _)) => assert(o1 + l1 == o2); case _ => }
    // every frame decodes to 16x12 via the real JPEG reader
    slices.foreach { s =>
      val Some((fmt, w, h)) = VideoCodec.frameMeta(stream, s)
      assert(fmt == "jpeg" && w == 16 && h == 12)
    }
    // truncated tail frame is dropped, not crashed on
    assert(VideoCodec.frameSlices(stream.dropRight(3)).length == n - 1)
    assert(VideoCodec.frameSlices("junk".getBytes).isEmpty)
  }

  test("sampleMjpegFrames: every k-th frame with decoded dims, distributed") {
    val ds = spark.range(0, 30).as[Long].map(i => (i, Multimodal.synthMjpeg(i)))
    val rows = Multimodal.sampleMjpegFrames(ds, everyK = 10).collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("frame_idx") % 10 == 0)
      assert(r.getAs[Int]("width") == 16 && r.getAs[Int]("height") == 12)
    }
    val counts = rows.groupBy(_.getAs[Long]("id")).view.mapValues(_.length)
    (0L until 30L).foreach { id =>
      val n = (1 + id % 12).toInt
      assert(counts(id) == (n + 9) / 10, s"id=$id")
    }
  }

  test("AudioCodec: real WAV bytes round-trip samples exactly via javax.sound") {
    import Multimodal.AudioCodec
    val id = 23L
    val bytes = Multimodal.synthWav(id)
    // real RIFF/WAVE magic, not our fake header
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
    val a = AudioCodec.decodeStats(bytes).get
    val n = (100 + id % 400).toInt
    assert(a.sampleRate == 8000 && a.channels == 1 && a.nFrames == n)
    val expSum = (0 until n).map(i => ((id * 31 + i * 17) % 4096) - 2048).sum
    assert(a.sumSamples == expSum)
    // garbage is data, not an exception
    assert(AudioCodec.decodeStats("certainly not audio".getBytes).isEmpty)
    assert(AudioCodec.decodeStats(bytes.take(20)).isEmpty)
  }

  test("decodeAudioStats: distributed decode over real WAVs") {
    val ds = spark.range(0, 40).as[Long].map(i => (i, Multimodal.synthWav(i)))
    val rows = Multimodal.decodeAudioStats(ds, batchSize = 8).collect()
    assert(rows.length == 40)
    rows.foreach { r =>
      val id = r.getAs[Long]("id")
      assert(r.getAs[Int]("sample_rate") == 8000)
      assert(r.getAs[Long]("n_frames") == 100 + id % 400)
    }
  }

  test("audioWindowEnergies: per-window sums match hand arithmetic; junk yields no rows") {
    val id = 7L
    val ds = spark.createDataset(Seq(
      (id, Multimodal.synthWav(id)),
      (99L, "not audio at all".getBytes)))
    val rows = Multimodal.audioWindowEnergies(ds, win = 64).collect()
    val n = (100 + id % 400).toInt
    assert(rows.forall(_.getAs[Long]("id") == id)) // junk contributed nothing
    assert(rows.length == n / 64)                  // partial tail dropped
    rows.foreach { r =>
      val w = r.getAs[Long]("w").toInt
      val exp = (w * 64 until (w + 1) * 64)
        .map(i => math.abs(((id * 31 + i * 17) % 4096) - 2048)).sum
      assert(r.getAs[Long]("energy") == exp, s"window $w")
    }
  }

  test("resizeImageNearest: integer sampling is exact through the PNG round trip") {
    import Multimodal.ImageCodec
    val id = 11L
    val w = (8 + id % 24).toInt; val h = (8 + id % 16).toInt
    val resized = Multimodal.resizeImageNearest(Multimodal.synthPng(id), 16, 12).get
    val d = ImageCodec.decodeStats(resized).get
    assert(d.width == 16 && d.height == 12)
    val expected = for (y <- 0 until 12; x <- 0 until 16) yield {
      val sx = x * w / 16; val sy = y * h / 12
      ((id + 3 * sx + 7 * sy) % 256, (2 * id + 5 * sx + sy) % 256, (3 * id + sx + 11 * sy) % 256)
    }
    assert(d.sumR == expected.map(_._1).sum)
    assert(d.sumG == expected.map(_._2).sum)
    assert(d.sumB == expected.map(_._3).sum)
    // undecodable bytes pass through resizeImages unchanged
    val junk = "not an image".getBytes
    val out = Multimodal.resizeImages(Seq((1L, junk)).toDS(), 4, 4).collect().head
    assert(out._2.toSeq == junk.toSeq)
  }

  test("AudioCodec.fingerprint: gain-invariant, content-sensitive, junk-safe") {
    import graft.multimodal.Multimodal.AudioCodec
    def wavOf(samples: Array[Short]) = AudioCodec.encodeWavPcm16(8000, samples)
    // ramped energy: window energies strictly increase → bits 1..n-1 set
    val up = Array.tabulate(256)(i => (i * 8).toShort)
    val Some((n1, fp1)) = AudioCodec.fingerprint(wavOf(up), win = 64)
    assert(n1 == 4L && fp1 == 0xEL) // bits 1,2,3
    // halving the gain preserves every energy comparison → same bits
    val half = up.map(s => (s / 2).toShort)
    assert(AudioCodec.fingerprint(wavOf(half), 64) == Some((4L, 0xEL)))
    // reversing the ramp flips the derivative signs → different print
    val Some((_, fpRev)) = AudioCodec.fingerprint(wavOf(up.reverse), 64)
    assert(fpRev == 0L)
    // partial tail window is dropped; junk bytes decode to None
    val Some((n2, _)) = AudioCodec.fingerprint(wavOf(up.take(130)), 64)
    assert(n2 == 2L)
    assert(AudioCodec.fingerprint("junk".getBytes, 64).isEmpty)
  }

  test("decodeImageStats: distributed decode of real PNGs matches the arithmetic") {
    val ds = spark.range(0, 60).as[Long].map(i => (i, Multimodal.synthPng(i)))
    val rows = Multimodal.decodeImageStats(ds, batchSize = 16).collect()
    assert(rows.length == 60)
    rows.foreach { r =>
      val id = r.getAs[Long]("id")
      val w = (8 + id % 24).toInt; val h = (8 + id % 16).toInt
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
      val expG = (for (y <- 0 until h; x <- 0 until w)
        yield (2 * id + 5 * x + y) % 256).sum
      assert(r.getAs[Long]("sum_g") == expG, s"id=$id green sum")
    }
  }
}
