package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset}

/** REAL MP4 (ISO-BMFF) CONTAINER parsing — pure JDK, zero new
  * dependencies. An MP4 file is a tree of length-prefixed boxes
  * (`size(4) type(4) payload`, with 64-bit `largesize` and
  * size-0 = to-EOF variants); the codec facts a pipeline needs —
  * brand, track count, video dimensions, frame count, duration — live
  * entirely in that STRUCTURE (`ftyp`, `moov/mvhd`, `trak/tkhd`,
  * `hdlr`, `stbl/stsz|stts`). This is exactly the metadata layer a
  * demuxer library (e.g. jcodec's MP4 demuxer) provides; only the
  * CODED SAMPLES inside `mdat` (H.264/AAC bitstreams) genuinely need
  * an external decoder, and no query decodes them.
  *
  * The walker is corpus-hardened: every size is bounds-checked, v0/v1
  * full-box layouts both parse, unknown boxes are skipped by their
  * declared length, and malformed bytes return None — at 100 TB a bad
  * container is data, not a task death.
  */
object Mp4 {

  /** Whole-file metadata: `ftyp` major brand, movie duration from
    * `mvhd`, and the FIRST video track's dimensions + sample (frame)
    * count. Width/height/samples are -1 when no video track exists. */
  final case class Mp4Meta(brand: String, nTracks: Int, durationMs: Long,
                           width: Int, height: Int, nFrames: Long)

  private val Containers = Set("moov", "trak", "mdia", "minf", "stbl")

  /** Parse container metadata, or None for bytes that are not a
    * well-formed MP4 (sniff: the first box must be `ftyp` — true of
    * effectively every MP4 in the wild). Never throws. */
  def parseMeta(bytes: Array[Byte]): Option[Mp4Meta] = {
    if (bytes == null || bytes.length < 16) return None
    if (fourCC(bytes, 4) != "ftyp") return None

    var brand: String = null
    var mvhdTimescale = 0L
    var mvhdDuration = -1L
    val tracks = ArrayBuffer.empty[(String, Int, Int, Long)] // handler, w, h, samples
    var curHandler = ""
    var curW = 0; var curH = 0; var curSamples = -1L; var sttsSamples = 0L
    var inTrak = false

    def u16(off: Int): Int = ((bytes(off) & 0xFF) << 8) | (bytes(off + 1) & 0xFF)
    def u32(off: Int): Long =
      ((bytes(off) & 0xFFL) << 24) | ((bytes(off + 1) & 0xFFL) << 16) |
        ((bytes(off + 2) & 0xFFL) << 8) | (bytes(off + 3) & 0xFFL)
    def u64(off: Int): Long =
      ByteBuffer.wrap(bytes, off, 8).order(ByteOrder.BIG_ENDIAN).getLong

    /** Walk the boxes in [start, end); false = structurally malformed. */
    def walk(start: Int, end: Int): Boolean = {
      var pos = start
      while (pos < end) {
        if (pos + 8 > end) return false
        val size32 = u32(pos)
        val typ = fourCC(bytes, pos + 4)
        var header = 8
        val size: Long =
          if (size32 == 1L) { // 64-bit largesize follows the type
            if (pos + 16 > end) return false
            header = 16
            u64(pos + 8)
          } else if (size32 == 0L) (end - pos).toLong // box runs to EOF
          else size32
        if (size < header || pos + size > end) return false
        val p = pos + header       // payload start
        val pe = pos + size.toInt  // payload end (sizes fit: size <= end)

        typ match {
          case "ftyp" if pe - p >= 4 =>
            brand = fourCC(bytes, p)
          case "mvhd" =>
            // strict per-version minimum lengths: a v1 box truncated
            // below its 64-bit layout must NOT fall through to v0
            // offsets (that would return plausible-looking garbage
            // instead of the malformed-input None)
            if (pe - p < 20) return false
            val v = bytes(p) & 0xFF
            if (v == 1) { // 64-bit creation/mod/duration
              if (pe - p < 32) return false
              mvhdTimescale = u32(p + 20); mvhdDuration = u64(p + 24)
            } else {
              mvhdTimescale = u32(p + 12); mvhdDuration = u32(p + 16)
            }
          case "tkhd" if inTrak && pe - p >= 8 =>
            // width/height are the final two 16.16 fixed-point fields
            // in BOTH v0 and v1 layouts — read from the payload tail
            curW = u16(pe - 8); curH = u16(pe - 4)
          case "hdlr" if inTrak && pe - p >= 12 =>
            curHandler = fourCC(bytes, p + 8)
          case "stsz" if inTrak && pe - p >= 12 =>
            curSamples = u32(p + 8)
          case "stts" if inTrak && pe - p >= 8 =>
            val entries = u32(p + 4)
            var i = 0L; var off = p + 8; var sum = 0L
            while (i < entries && off + 8 <= pe) {
              sum += u32(off); off += 8; i += 1
            }
            sttsSamples = sum
          case "trak" =>
            inTrak = true
            curHandler = ""; curW = 0; curH = 0; curSamples = -1L; sttsSamples = 0L
            if (!walk(p, pe)) return false
            tracks += ((curHandler, curW, curH,
              if (curSamples >= 0) curSamples else sttsSamples))
            inTrak = false
          case t if Containers.contains(t) =>
            if (!walk(p, pe)) return false
          case _ => () // mdat, free, unknown — skip by declared length
        }
        pos = pe
      }
      true
    }

    if (!walk(0, bytes.length) || brand == null) return None
    val durationMs =
      if (mvhdTimescale > 0 && mvhdDuration >= 0) mvhdDuration * 1000L / mvhdTimescale
      else -1L
    val video = tracks.find(_._1 == "vide")
    Some(Mp4Meta(brand, tracks.size, durationMs,
      video.map(_._2).getOrElse(-1), video.map(_._3).getOrElse(-1),
      video.map(_._4).getOrElse(-1L)))
  }

  private def fourCC(b: Array[Byte], off: Int): String =
    if (off + 4 > b.length) ""
    else new String(b, off, 4, "ISO-8859-1")

  // ---------------------------------------------------------------
  // Fixture builder: a structurally COMPLETE single-video-track MP4
  // (ftyp + moov[mvhd + trak[tkhd + mdia[mdhd + hdlr +
  // minf[vmhd + stbl[stsd(avc1) + stts + stsc + stsz + stco]]]]] +
  // mdat). Every box is bit-genuine ISO-BMFF; only the mdat sample
  // payload is arbitrary bytes, because generating a real H.264
  // bitstream needs the encoder this container deliberately lacks.
  // ---------------------------------------------------------------

  private def box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val out = ByteBuffer.allocate(8 + payload.length).order(ByteOrder.BIG_ENDIAN)
    out.putInt(8 + payload.length).put(typ.getBytes("ISO-8859-1")).put(payload)
    out.array()
  }

  private def concat(parts: Array[Byte]*): Array[Byte] = {
    val out = new Array[Byte](parts.map(_.length).sum)
    var off = 0
    parts.foreach { p => System.arraycopy(p, 0, out, off, p.length); off += p.length }
    out
  }

  /** Build a valid MP4: one video track, `width`×`height`, `nFrames`
    * samples of `sampleBytes` bytes each at `fps`, movie timescale
    * 1000. With `v1Boxes` the mvhd/tkhd/mdhd use version-1 (64-bit
    * time) layouts; with `largesizeMdat` the mdat uses the 64-bit
    * largesize encoding — both real-world variants the parser must
    * handle. */
  def encode(width: Int, height: Int, nFrames: Int, fps: Int = 25,
             sampleBytes: Int = 8, seed: Long = 0L,
             v1Boxes: Boolean = false, largesizeMdat: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && nFrames >= 0 && fps > 0 && sampleBytes > 0)
    val durationMs = nFrames * 1000L / fps

    val ftyp = box("ftyp", concat("isom".getBytes("ISO-8859-1"),
      ByteBuffer.allocate(4).putInt(512).array(),
      "isommp41".getBytes("ISO-8859-1")))

    def full(v: Int, body: Array[Byte]): Array[Byte] =
      concat(Array[Byte](v.toByte, 0, 0, 0), body)

    val mvhd = {
      val b = ByteBuffer.allocate(if (v1Boxes) 108 else 96).order(ByteOrder.BIG_ENDIAN)
      if (v1Boxes) b.putLong(0).putLong(0).putInt(1000).putLong(durationMs)
      else b.putInt(0).putInt(0).putInt(1000).putInt(durationMs.toInt)
      b.putInt(0x00010000).putShort(0x0100.toShort).putShort(0)
        .putLong(0) // reserved
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000).foreach(b.putInt)
      (1 to 6).foreach(_ => b.putInt(0)) // pre_defined
      b.putInt(2) // next_track_ID
      box("mvhd", full(if (v1Boxes) 1 else 0, b.array()))
    }

    val tkhd = {
      val b = ByteBuffer.allocate(if (v1Boxes) 92 else 80).order(ByteOrder.BIG_ENDIAN)
      if (v1Boxes) b.putLong(0).putLong(0).putInt(1).putInt(0).putLong(durationMs)
      else b.putInt(0).putInt(0).putInt(1).putInt(0).putInt(durationMs.toInt)
      b.putLong(0) // reserved
      b.putShort(0).putShort(0).putShort(0).putShort(0) // layer/group/volume/rsvd
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000).foreach(b.putInt)
      b.putInt(width << 16).putInt(height << 16) // 16.16 fixed
      // tkhd flags: enabled | in_movie
      box("tkhd", concat(Array[Byte](if (v1Boxes) 1 else 0, 0, 0, 3),
        b.array()))
    }

    val mdhd = {
      val b = ByteBuffer.allocate(if (v1Boxes) 32 else 20).order(ByteOrder.BIG_ENDIAN)
      if (v1Boxes) b.putLong(0).putLong(0).putInt(1000).putLong(durationMs)
      else b.putInt(0).putInt(0).putInt(1000).putInt(durationMs.toInt)
      b.putShort(0x55C4.toShort).putShort(0) // language 'und'
      box("mdhd", full(if (v1Boxes) 1 else 0, b.array()))
    }

    val hdlr = box("hdlr", full(0, concat(
      ByteBuffer.allocate(4).putInt(0).array(),
      "vide".getBytes("ISO-8859-1"),
      new Array[Byte](12),
      "graft ".getBytes("ISO-8859-1"))))

    val vmhd = box("vmhd", concat(Array[Byte](0, 0, 0, 1), new Array[Byte](8)))

    val avc1 = {
      val b = ByteBuffer.allocate(78).order(ByteOrder.BIG_ENDIAN)
      b.put(new Array[Byte](6)).putShort(1)    // reserved + data_ref_index
      b.putShort(0).putShort(0).put(new Array[Byte](12))
      b.putShort(width.toShort).putShort(height.toShort)
      b.putInt(0x00480000).putInt(0x00480000)  // 72 dpi
      b.putInt(0).putShort(1)                  // frame_count
      b.put(new Array[Byte](32))               // compressorname
      b.putShort(0x0018).putShort(-1)          // depth, pre_defined
      box("avc1", b.array())
    }
    val stsd = box("stsd", full(0, concat(
      ByteBuffer.allocate(4).putInt(1).array(), avc1)))

    val stts = box("stts", full(0, {
      val b = ByteBuffer.allocate(12).order(ByteOrder.BIG_ENDIAN)
      b.putInt(1).putInt(nFrames).putInt(1000 / fps)
      b.array()
    }))
    val stsc = box("stsc", full(0, {
      val b = ByteBuffer.allocate(16).order(ByteOrder.BIG_ENDIAN)
      b.putInt(1).putInt(1).putInt(math.max(nFrames, 1)).putInt(1)
      b.array()
    }))
    val stsz = box("stsz", full(0, {
      val b = ByteBuffer.allocate(8 + 4 * nFrames).order(ByteOrder.BIG_ENDIAN)
      b.putInt(0).putInt(nFrames)
      (0 until nFrames).foreach(_ => b.putInt(sampleBytes))
      b.array()
    }))

    // deterministic pseudo-sample payload (NOT a real bitstream)
    val mdatPayload = new Array[Byte](nFrames * sampleBytes)
    var x = seed
    for (i <- mdatPayload.indices) {
      x = x * 6364136223846793005L + 1442695040888963407L
      mdatPayload(i) = (x >>> 56).toByte
    }
    val mdat =
      if (!largesizeMdat) box("mdat", mdatPayload)
      else {
        val out = ByteBuffer.allocate(16 + mdatPayload.length).order(ByteOrder.BIG_ENDIAN)
        out.putInt(1).put("mdat".getBytes("ISO-8859-1"))
          .putLong(16L + mdatPayload.length).put(mdatPayload)
        out.array()
      }

    // stco chunk offset = mdat payload position in the final file;
    // the dummy stco below has the final one's exact length, so the
    // measured moov size is the real one
    val preMoov = ftyp.length
    val stblNoStco = concat(stsd, stts, stsc, stsz)
    def moovOf(stco: Array[Byte]): Array[Byte] =
      box("moov", concat(mvhd,
        box("trak", concat(tkhd,
          box("mdia", concat(mdhd, hdlr,
            box("minf", concat(vmhd,
              box("stbl", concat(stblNoStco, stco))))))))))
    val moovLen = moovOf(box("stco", full(0,
      ByteBuffer.allocate(8).putInt(1).putInt(0).array()))).length
    val mdatPayloadOffset = preMoov + moovLen + (if (largesizeMdat) 16 else 8)
    val stco = box("stco", full(0, {
      val b = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
      b.putInt(1).putInt(mdatPayloadOffset)
      b.array()
    }))
    concat(ftyp, moovOf(stco), mdat)
  }

  /** Batched distributed container-metadata extraction: `(id, bytes)`
    * → `(id, brand, n_tracks, width, height, n_frames, duration_ms)`.
    * Same mapPartitions batch shape as every [[Multimodal]] decode
    * stage; unparseable payloads report sentinel values, not errors. */
  def extractMp4Meta(ds: Dataset[(Long, Array[Byte])], batchSize: Int = 256): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { case (id, bytes) =>
          parseMeta(bytes) match {
            case Some(m) => (id, m.brand, m.nTracks, m.width, m.height,
              m.nFrames, m.durationMs)
            case None => (id, null: String, -1, -1, -1, -1L, -1L)
          }
        }
      }
    }.toDF("id", "brand", "n_tracks", "width", "height", "n_frames", "duration_ms")
  }

  /** Deterministic synthetic MP4 for doc `id`: closed-form dims and
    * frame count, so the full container round trip carries an exact
    * oracle. w = 160 + 4·(id mod 32), h = 90 + 2·(id mod 18),
    * frames = 1 + id mod 48, 25 fps → duration = 40·frames ms. Every
    * third doc uses v1 (64-bit) boxes and every fifth a largesize
    * mdat, so the corpus exercises the real layout variants. */
  def synthMp4(id: Long): Array[Byte] =
    encode(
      width = (160 + 4 * (id % 32)).toInt,
      height = (90 + 2 * (id % 18)).toInt,
      nFrames = (1 + id % 48).toInt,
      fps = 25, sampleBytes = 8, seed = id,
      v1Boxes = id % 3 == 0, largesizeMdat = id % 5 == 0)
}
