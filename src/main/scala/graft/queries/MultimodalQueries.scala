package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.{Mp4, Multimodal}

/** Multimodal-plumbing queries: documents get deterministic synthetic
  * media payloads (seeded by doc_id), which flow through the binary
  * column → batched decode → metadata pipeline. Because the synthetic
  * dimensions are pure arithmetic in doc_id, the full binary round-trip
  * has an exact DuckDB oracle — the oracle recomputes the arithmetic,
  * the Spark side actually encodes and decodes bytes.
  */
object MultimodalQueries {

  /** The doc-id list REPARTITIONED to the session's parallelism before
    * any codec map: the documents table is small enough to arrive as
    * one file split, and without this every per-doc encode/decode in
    * the family would run on a single thread — the classic "tiny
    * driver table fans out heavy per-row work" shape. Only 8-byte ids
    * move through the exchange; at 100 TB the table arrives in many
    * splits and the repartition is a cheap rebalance.
    *
    * `fanOut = false` skips the exchange: right for codecs whose
    * per-row work is TRIVIAL (WAV PCM stat-summing decodes ~300
    * samples — microseconds a row), where the fixed exchange +
    * scheduling cost exceeds everything it parallelizes (measured:
    * m05 0.37 s without vs 0.67 s with at sf0.1). The heavy decodes
    * (JPEG/PNG/MJPEG/GIF) keep the default.
    *
    * The skip is CORPUS-GATED, not absolute (r14): the sf0.1 trade
    * inverts as the corpus grows while the split count doesn't — at
    * sf1 the 6.9 MB documents table packs into ~2 scan splits
    * (32 × 0.2 MB files under the 4 MB open-cost), so a skipped
    * exchange ran 50k decodes on two threads: wall ∝ work/2 where one
    * 0.3 s exchange buys work/32. Above [[FanOutMinDocs]] the exchange
    * is taken regardless; the memoized metadata row count makes the
    * decision free. */
  private val FanOutMinDocs = 15000L

  private def docIds(s: SparkSession, dir: String, fanOut: Boolean = true) = {
    import s.implicits._
    val ids = Tables.load(s, dir, "documents").select($"doc_id").as[Long]
    if (fanOut || DerivedCaps.tableCountFor(s, dir, "documents") > FanOutMinDocs)
      ids.repartition(s.sparkContext.defaultParallelism)
    else ids
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // REAL JPEG metadata: encode a deterministic JPEG per doc with the
    // JDK encoder, then read format + dimensions back from the actual
    // SOF marker, distributed and header-only (no pixel decode). JPEG
    // is lossy so pixel sums aren't oracle-checkable (m03 covers that
    // with lossless PNG), but the dimensions are exact — the oracle
    // recomputes the dimension arithmetic, the Spark side round-trips
    // real JPEG bytes.
    "m01_media_meta" -> ((s, dir) => {
      import s.implicits._
      val jpegs = docIds(s, dir)
        .map(id => (id, Multimodal.synthJpeg(id)))
      Multimodal.extractImageMeta(jpegs)
        .select($"id".as("doc_id"), $"format",
          $"width".cast("long").as("width"), $"height".cast("long").as("height"))
        .orderBy($"doc_id")
    }),

    // REAL video-stream frame sampling: deterministic MJPEG streams
    // (1 + id%12 genuine JPEG frames), frame boundaries recovered by
    // JPEG marker scanning, every 10th frame's dims decoded from its
    // real SOF header. The oracle recomputes the arithmetic.
    "m02_frame_sample" -> ((s, dir) => {
      import s.implicits._
      val vids = docIds(s, dir)
        .map(id => (id, Multimodal.synthMjpeg(id)))
      Multimodal.sampleMjpegFrames(vids, everyK = 10)
        .groupBy($"id".as("doc_id"))
        .agg(count(lit(1)).as("n_sampled"),
          max($"width").cast("long").as("frame_w"),
          max($"height").cast("long").as("frame_h"))
        .orderBy($"doc_id")
    }),

    // REAL codec round trip: synthesize a deterministic PNG per doc,
    // then decode the actual PNG bytes with javax.imageio distributed
    // and aggregate per-channel pixel sums. PNG is lossless, so the
    // decoded sums equal the source arithmetic — the DuckDB oracle
    // recomputes that arithmetic; the Spark side moves real bytes.
    "m03_image_decode" -> ((s, dir) => {
      import s.implicits._
      val pngs = docIds(s, dir)
        .map(id => (id, Multimodal.synthPng(id)))
      Multimodal.decodeImageStats(pngs)
        .select($"id".as("doc_id"),
          $"width".cast("long").as("width"), $"height".cast("long").as("height"),
          $"sum_r", $"sum_g", $"sum_b")
        .orderBy($"doc_id")
    }),
    // REAL audio round trip: deterministic mono 16-bit PCM WAV per doc
    // → javax.sound.sampled decode, distributed → format metadata +
    // signed sample sum. PCM is lossless, so the oracle replays the
    // sample arithmetic exactly.
    "m05_audio_decode" -> ((s, dir) => {
      import s.implicits._
      val wavs = docIds(s, dir, fanOut = false)
        .map(id => (id, Multimodal.synthWav(id)))
      Multimodal.decodeAudioStats(wavs)
        .select($"id".as("doc_id"),
          $"sample_rate".cast("long").as("sample_rate"),
          $"channels".cast("long").as("channels"),
          $"n_frames", $"sum_samples")
        .orderBy($"doc_id")
    }),

    // Acoustic fingerprints over REAL decoded PCM: 64-sample energy
    // windows, derivative-sign bits (the Shazam-family primitive's
    // integer core) — the near-dup audio detection pass, all-integer
    // so the oracle replays the planted sample arithmetic exactly.
    "m08_audio_fingerprint" -> ((s, dir) => {
      import s.implicits._
      val wavs = docIds(s, dir)
        .map(id => (id, Multimodal.synthWav(id)))
      Multimodal.audioFingerprints(wavs, win = 64)
        .select($"id".as("doc_id"), $"n_windows", $"fprint")
        .orderBy($"doc_id")
    }),

    // VAD-style activity segmentation over REAL decoded PCM: 64-sample
    // energy windows, per-doc integer-mean threshold, consecutive
    // above-threshold windows collapse into maximal segments (the
    // lag + running-sum run detection, same shape as SCD2). Decode is
    // mapPartitions; everything after is declarative windows/aggs.
    "m10_audio_segments" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val wavs = docIds(s, dir)
        .map(id => (id, Multimodal.synthWav(id)))
      val en = Multimodal.audioWindowEnergies(wavs, win = 64)
      val wDoc = Window.partitionBy($"id")
      val byW = Window.partitionBy($"id").orderBy($"w")
      val flagged = en
        .withColumn("_se", sum($"energy").over(wDoc))
        .withColumn("_nw", count(lit(1)).over(wDoc))
        .withColumn("act", $"energy" > expr("_se div _nw"))
        .withColumn("_nr",
          when($"act" && !coalesce(lag($"act", 1).over(byW), lit(false)), 1L)
            .otherwise(0L))
        .withColumn("run", sum($"_nr").over(byW))
      val perDoc = flagged.groupBy($"id")
        .agg(count(lit(1)).as("n_windows"),
          sum($"act".cast("long")).as("n_active"))
      val segAgg = flagged.filter($"act")
        .groupBy($"id", $"run").agg(count(lit(1)).as("len"))
        .groupBy($"id")
        .agg(count(lit(1)).as("n_segments"), max($"len").as("longest"))
      perDoc.join(segAgg, Seq("id"), "left")
        .select($"id".as("doc_id"), $"n_windows", $"n_active",
          coalesce($"n_segments", lit(0L)).as("n_segments"),
          coalesce($"longest", lit(0L)).as("longest"))
        .orderBy($"doc_id")
    }),

    // REAL resize round trip: synth PNG → nearest-neighbor resize to
    // 16×12 (integer sampling, re-encoded lossless PNG) → distributed
    // decode → per-channel sums. The oracle replays the sampling
    // arithmetic: dst pixel (x,y) reads source pixel
    // (x·w/16, y·h/12), whose channels are the synthPng formulas.
    "m04_image_resize" -> ((s, dir) => {
      import s.implicits._
      val pngs = docIds(s, dir)
        .map(id => (id, Multimodal.synthPng(id)))
      Multimodal.decodeImageStats(Multimodal.resizeImages(pngs, 16, 12))
        .select($"id".as("doc_id"),
          $"width".cast("long").as("width"), $"height".cast("long").as("height"),
          $"sum_r", $"sum_g", $"sum_b")
        .orderBy($"doc_id")
    }),
    // REAL MP4 (ISO-BMFF) container metadata: a deterministic MP4 is
    // built box-by-box per doc — mixing v0/v1 full-box layouts and
    // largesize mdat encodings — and the pure-JDK box walker recovers
    // brand, track count, dimensions, frame count and duration from
    // the actual moov/trak/stbl structure. This is the metadata layer
    // a demuxer dependency (jcodec) would provide; only the coded
    // H.264 samples inside mdat are beyond the JDK. The oracle
    // recomputes the closed-form arithmetic.
    "m06_mp4_meta" -> ((s, dir) => {
      import s.implicits._
      val vids = docIds(s, dir)
        .map(id => (id, Mp4.synthMp4(id)))
      Mp4.extractMp4Meta(vids)
        .select($"id".as("doc_id"), $"brand",
          $"n_tracks".cast("long").as("n_tracks"),
          $"width".cast("long").as("width"),
          $"height".cast("long").as("height"),
          $"n_frames", $"duration_ms")
        .orderBy($"doc_id")
    }),

    // Image dedup in PIXEL space: every doc gets a real PNG whose
    // content class is doc_id % 100 (planted exact copies), the
    // perceptual hash is computed from the DECODED pixels, and
    // identical content clusters on the hash. Byte-level dedup (d01)
    // cannot do this across re-encodes; the hash is invariant to the
    // container, not the bytes. The oracle never sees a hash — it
    // replays the planting arithmetic (cluster k = docs ≡ k mod 100,
    // representative = min id = k), so the gate proves the full
    // encode→decode→hash→cluster path collapses exactly the planted
    // classes: 100 clusters, no more (no hash collision across
    // classes), no fewer (no instability within a class).
    // Shot-boundary detection over REAL MJPEG decode: every frame's
    // pixels come back through the JDK JPEG reader, consecutive
    // frames diff in RGB space, a cut is a diff above threshold. The
    // synthetic streams drift one gray level per frame (diff ≈ 0 after
    // codec noise) except when the 8-bit channel WRAPS 255→0 — a
    // maximal hard cut. The oracle replays the wrap arithmetic; the
    // threshold sits in the dead band (≈0 vs ≈85), so the lossy codec
    // cannot flip a verdict. Temporal sibling of m07's image dedup:
    // shot boundaries are where a video corpus gets sampled.
    "m09_scene_change" -> ((s, dir) => {
      import s.implicits._
      val vids = docIds(s, dir)
        .map(id => (id, Multimodal.synthMjpeg(id)))
      Multimodal.sceneChanges(vids, threshold = 32.0)
        .select($"id".as("doc_id"), $"n_frames", $"n_cuts")
        .orderBy($"doc_id")
    }),

    "m07_image_dedup" -> ((s, dir) => {
      import s.implicits._
      val imgs = docIds(s, dir)
        .map(id => (id, Multimodal.synthPngPattern(id % 100)))
      Multimodal.imageHashes(imgs)
        .groupBy($"ahash")
        .agg(min($"id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select($"keep_id", $"n_copies")
        .orderBy($"keep_id")
    }),

    // REAL animated-GIF round trip: deterministic multi-frame GIF per
    // doc (identity grayscale palette → lossless), EVERY frame decoded
    // distributed from the actual GIF89a stream — frame count,
    // dimensions, GraphicControlExtension delays, and exact pixel
    // sums. The oracle replays the source arithmetic; the Spark side
    // moves real LZW-compressed bytes through the batched
    // mapPartitions decode.
    "m11_gif_frames" -> ((s, dir) => {
      import s.implicits._
      val gifs = docIds(s, dir)
        .map(id => (id, Multimodal.synthGif(id)))
      Multimodal.decodeGifFrames(gifs)
        .groupBy($"id".as("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          max($"width").cast("long").as("width"),
          max($"height").cast("long").as("height"),
          sum($"delay_cs").cast("long").as("total_delay_cs"),
          sum($"sum_gray").as("sum_gray"))
        .orderBy($"doc_id")
    }),

    // REAL in-band metadata round trip: provenance-shaped tEXt chunks
    // written into actual PNG bytes per doc, parsed back out of the
    // chunk structure distributed. The oracle replays the arithmetic
    // that generated the values; the Spark side moves real PNG chunk
    // bytes — the "metadata travels WITH the binary" contract a media
    // corpus needs to survive re-sharding without a sidecar join.
    "m12_png_text" -> ((s, dir) => {
      import s.implicits._
      val pngs = docIds(s, dir)
        .map(id => (id, Multimodal.synthPngTagged(id)))
      Multimodal.extractPngText(pngs)
        .select($"id".as("doc_id"), $"key", $"value")
        .orderBy($"doc_id", $"key")
    }),
  )

  val oracles: Map[String, String] = Map(
    // frame j's blue plane is (doc_id + j) mod 256: consecutive frames
    // differ by one gray level except at the 255→0 wrap — the planted
    // hard cut. Cut at j iff (doc_id + j) ≡ 0 (mod 256), j ≥ 1.
    "m09_scene_change" ->
      """WITH n AS (SELECT doc_id, 1 + doc_id % 12 AS nf FROM documents),
        |j AS (SELECT doc_id, unnest(range(1, nf)) AS jj FROM n),
        |c AS (SELECT doc_id, count(*) AS cuts FROM j
        |      WHERE (doc_id + jj) % 256 = 0 GROUP BY doc_id)
        |SELECT n.doc_id, CAST(n.nf AS BIGINT) AS n_frames,
        |  CAST(COALESCE(c.cuts, 0) AS BIGINT) AS n_cuts
        |FROM n LEFT JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin,

    // closed-form MP4 fixture arithmetic (see Mp4.synthMp4): the Spark
    // side walks real ISO-BMFF boxes, the oracle replays the formulas
    "m06_mp4_meta" ->
      """SELECT doc_id, 'isom' AS brand, CAST(1 AS BIGINT) AS n_tracks,
        |CAST(160 + 4 * (doc_id % 32) AS BIGINT) AS width,
        |CAST(90 + 2 * (doc_id % 18) AS BIGINT) AS height,
        |CAST(1 + doc_id % 48 AS BIGINT) AS n_frames,
        |CAST(40 * (1 + doc_id % 48) AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the planting arithmetic, hash-free: cluster k holds every doc
    // with doc_id % 100 = k, its representative is min(doc_id) = k
    // (doc ids are dense from 0). Exactly 100 rows = no cross-class
    // hash collision and no within-class instability.
    "m07_image_dedup" ->
      """SELECT CAST(doc_id % 100 AS BIGINT) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY doc_id % 100 ORDER BY keep_id""".stripMargin,

    // n = 100 + id % 400 samples; sample i = ((id*31 + i*17) % 4096) - 2048
    "m05_audio_decode" ->
      """WITH n AS (SELECT doc_id, 100 + doc_id % 400 AS nf FROM documents),
        |s AS (SELECT doc_id, nf, unnest(range(0, nf)) AS i FROM n)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(SUM((doc_id*31 + i*17) % 4096 - 2048) AS BIGINT) AS sum_samples
        |FROM s GROUP BY doc_id, nf ORDER BY doc_id""".stripMargin,

    // replay: same window energies as m08, threshold = per-doc
    // floor-mean, runs of consecutive active windows via lag + cumsum
    "m10_audio_segments" ->
      """WITH n AS (SELECT doc_id, 100 + doc_id % 400 AS nf FROM documents),
        |s AS (SELECT doc_id, i // 64 AS w,
        |        abs((doc_id*31 + i*17) % 4096 - 2048) AS av
        |      FROM (SELECT doc_id, nf, unnest(range(0, nf)) AS i FROM n)
        |      WHERE i < (nf // 64) * 64),
        |e AS (SELECT doc_id, w, SUM(av) AS en FROM s GROUP BY doc_id, w),
        |t AS (SELECT doc_id, w, en,
        |        SUM(en) OVER (PARTITION BY doc_id) // COUNT(*) OVER (PARTITION BY doc_id) AS thr
        |      FROM e),
        |f AS (SELECT doc_id, w, en > thr AS act,
        |        CASE WHEN en > thr AND NOT coalesce(
        |          lag(en > thr) OVER (PARTITION BY doc_id ORDER BY w), FALSE)
        |        THEN 1 ELSE 0 END AS nr
        |      FROM t),
        |r AS (SELECT doc_id, act,
        |        SUM(nr) OVER (PARTITION BY doc_id ORDER BY w) AS run
        |      FROM f),
        |seg AS (SELECT doc_id, run, count(*) AS len
        |        FROM r WHERE act GROUP BY doc_id, run),
        |sa AS (SELECT doc_id, count(*) AS n_segments, max(len) AS longest
        |       FROM seg GROUP BY doc_id),
        |pd AS (SELECT doc_id, count(*) AS n_windows,
        |         SUM(CASE WHEN act THEN 1 ELSE 0 END) AS n_active
        |       FROM r GROUP BY doc_id)
        |SELECT pd.doc_id, CAST(n_windows AS BIGINT) AS n_windows,
        |  CAST(n_active AS BIGINT) AS n_active,
        |  CAST(coalesce(n_segments, 0) AS BIGINT) AS n_segments,
        |  CAST(coalesce(longest, 0) AS BIGINT) AS longest
        |FROM pd LEFT JOIN sa USING (doc_id) ORDER BY pd.doc_id""".stripMargin,

    // replay: sample i = (id·31 + i·17) mod 4096 − 2048, windows of
    // 64 (partial tail dropped), E_w = Σ|s|, bit w iff E_w > E_{w−1}
    "m08_audio_fingerprint" ->
      """WITH n AS (SELECT doc_id, 100 + doc_id % 400 AS nf FROM documents),
        |s AS (SELECT doc_id, i // 64 AS w,
        |        abs((doc_id*31 + i*17) % 4096 - 2048) AS av
        |      FROM (SELECT doc_id, nf, unnest(range(0, nf)) AS i FROM n)
        |      WHERE i < (nf // 64) * 64),
        |e AS (SELECT doc_id, w, SUM(av) AS en FROM s GROUP BY doc_id, w),
        |b AS (SELECT doc_id, w,
        |        CASE WHEN en > lag(en) OVER (PARTITION BY doc_id ORDER BY w)
        |             THEN 1 ELSE 0 END AS bit
        |      FROM e)
        |SELECT doc_id, CAST(max(w) + 1 AS BIGINT) AS n_windows,
        |  CAST(SUM(CAST(bit AS BIGINT) * (CAST(1 AS BIGINT) << w)) AS BIGINT) AS fprint
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "m04_image_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h
        |  FROM documents),
        |xs AS (
        |  SELECT doc_id, w, h, unnest(range(0, 16)) AS x FROM dims),
        |cells AS (
        |  SELECT doc_id, w, h, x, unnest(range(0, 12)) AS y FROM xs),
        |sampled AS (
        |  SELECT doc_id, (x * w) // 16 AS sx, (y * h) // 12 AS sy FROM cells)
        |SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(12 AS BIGINT) AS height,
        |  CAST(SUM((doc_id + 3*sx + 7*sy) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((2*doc_id + 5*sx + sy) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((3*doc_id + sx + 11*sy) % 256) AS BIGINT) AS sum_b
        |FROM sampled GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // JPEG dims: width = 16 + (doc_id * 7919) % 48, height =
    // 16 + (doc_id * 104729) % 32 — the Spark side reads these back
    // from real JPEG SOF markers, the oracle recomputes the arithmetic.
    // (Dims stay small: the query measures distributed metadata reads,
    // not fixture encode throughput.)
    "m01_media_meta" ->
      """SELECT doc_id, 'jpeg' AS format,
        |CAST(16 + (doc_id * 7919) % 48 AS BIGINT) AS width,
        |CAST(16 + (doc_id * 104729) % 32 AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    // video frames = 1 + doc_id % 12, sampled every 10th → ceil(n/10);
    // every frame is 16×12
    "m02_frame_sample" ->
      """SELECT doc_id, CAST(((1 + doc_id % 12) + 9) // 10 AS BIGINT) AS n_sampled,
        |CAST(16 AS BIGINT) AS frame_w, CAST(12 AS BIGINT) AS frame_h
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the oracle recomputes the pixel arithmetic the PNG round-trips:
    // w=8+id%24, h=8+id%16; per-pixel channels are mods of (id, x, y)
    "m03_image_decode" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h
        |  FROM documents),
        |xs AS (
        |  SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims),
        |cells AS (
        |  SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(SUM((doc_id + 3*x + 7*y) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((2*doc_id + 5*x + y) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((3*doc_id + x + 11*y) % 256) AS BIGINT) AS sum_b
        |FROM cells GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // the m11 synth arithmetic replayed: gray(f,x,y) = (id+13f+3x+7y)%256,
    // delay(f) = 4+(id+f)%7, over nf = 2+id%4 frames of (10+id%6)×(8+id%5)
    "m11_gif_frames" ->
      """WITH dims AS (
        |  SELECT doc_id, 10 + doc_id % 6 AS w, 8 + doc_id % 5 AS h,
        |         2 + doc_id % 4 AS nf
        |  FROM documents),
        |frames AS (
        |  SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS f FROM dims),
        |xs AS (SELECT doc_id, w, h, f, unnest(range(0, w)) AS x FROM frames),
        |cells AS (SELECT doc_id, f, x, unnest(range(0, h)) AS y, w, h FROM xs),
        |gray AS (
        |  SELECT doc_id,
        |    CAST(SUM((doc_id + 13*f + 3*x + 7*y) % 256) AS BIGINT) AS sum_gray
        |  FROM cells GROUP BY doc_id),
        |delay AS (
        |  SELECT doc_id,
        |    CAST(SUM(4 + (doc_id + f) % 7) AS BIGINT) AS total_delay_cs
        |  FROM frames GROUP BY doc_id)
        |SELECT d.doc_id, CAST(d.nf AS BIGINT) AS n_frames,
        |  CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
        |  delay.total_delay_cs, gray.sum_gray
        |FROM dims d
        |JOIN gray USING (doc_id) JOIN delay USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // the m12 tag arithmetic replayed: doc=id, lang=l(id%5),
    // shard=(7id)%3 — one row per (doc, key)
    "m12_png_text" ->
      """WITH tags AS (
        |  SELECT doc_id, 'doc' AS key, CAST(doc_id AS VARCHAR) AS value
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'lang', 'l' || CAST(doc_id % 5 AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'shard', CAST((doc_id * 7) % 3 AS VARCHAR) FROM documents)
        |SELECT doc_id, key, value FROM tags
        |ORDER BY doc_id, key""".stripMargin,
  )
}
