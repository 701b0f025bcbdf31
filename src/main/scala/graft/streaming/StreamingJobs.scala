package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.streaming.StreamingSessionize.Event

/** Bounded end-to-end runs of the streaming operators, for the same
  * DuckDB-oracle gate the batch queries face: `Trigger.AvailableNow`
  * drains a file source, the parquet sink lands the completed result,
  * and the caller gets it back as a plain DataFrame.
  *
  * Flush mechanics: `flatMapGroupsWithState` emits a session only when
  * the event-time watermark passes `session end + gap`, so sessions
  * near the global end of a bounded corpus would stay in state forever
  * and the streaming result would under-report vs batch. Every
  * event-time drain over the events table therefore goes through ONE
  * helper, [[eventsDrained]], which unions one sentinel source into the
  * events stream: two far-future events of user [[SentinelUser]], type
  * `"__sentinel"`, in the events' own columns. They push the final
  * watermark beyond every real timeout; the engine's no-data
  * micro-batch then fires the timeouts before AvailableNow terminates,
  * and each drain filters the sentinel's rows or windows back out.
  * This mirrors StreamingSessionizeSpec's sentinel technique, under the
  * driver gate instead of a unit test. (x21's change-log sentinel is
  * built from the documents table and stays with its drain.)
  *
  * Scale posture: the real corpus streams from its ORIGINAL parquet in
  * place (no copy); only the 2-row sentinel file and the result are
  * written. All per-invocation scratch (sentinels, checkpoint, sink)
  * lives under one work dir that is wiped and rebuilt per run, so the
  * query is a deterministic replay. The work dir comes from
  * configuration ([[WorkDirKey]]) and is addressed through the Hadoop
  * filesystem API, so on a real cluster it can point at HDFS/S3/NFS —
  * storage the driver AND every executor can reach. Driver-local tmp
  * is only the fallback in local mode, where driver and executors
  * share one machine.
  */
object StreamingJobs {

  /** Conf key: shared-filesystem root for per-run streaming scratch
    * (sentinel source, checkpoint, sink). Any Hadoop-resolvable URI
    * (`hdfs://…`, `s3a://…`, `file:/…`). Precedence: this key, then
    * the session's `spark.sql.streaming.checkpointLocation`, then —
    * in local mode ONLY — the JVM temp dir. Off local mode with
    * neither conf set, the drains refuse to run rather than write
    * scratch executors cannot see. */
  val WorkDirKey: String = graft.WorkDirs.StreamingWorkDirKey

  /** Shuffle/state partitions inside the drains. A streaming state
    * store commits EVERY partition in EVERY micro-batch regardless of
    * row volume, so the session default (32) pays 32 store commits per
    * batch for a key space of a few thousand users — pure constant
    * factor. Single-store operators measure flat across 2/4/8, but a
    * stream-stream JOIN keeps TWO stores (each side's buffer) and
    * commits both per partition per batch — measured on e07: 16→5.4 s,
    * 8→3.7 s, 4→2.8 s, 2→2.8 s — so the drains run at 4. The state
    * partition count is locked into the checkpoint at first start; the
    * drains wipe their checkpoint per run, so it always applies
    * cleanly. */
  private val DrainPartitions = 4

  /** Negative ids never occur in the generated events tables. */
  val SentinelUser: Long = -1L

  /** Sentinel spacing: 50 years in µs — beyond any sane gap, window
    * length, or watermark delay, so the final watermark provably
    * passes every real session/window timeout regardless of the
    * parameters the caller picked (the margin must NOT scale with
    * gapUs: a small gap with the default 30-minute delay would
    * otherwise leave the watermark short of every timeout and
    * silently drop all tail sessions). Stays far below the timestamp
    * range limit even added twice. */
  private val SentinelSpacingUs: Long = 50L * 365 * 24 * 3600 * 1000000

  /** Per-run scratch dir for `job` over corpus `dir`, resolved by the
    * shared [[graft.WorkDirs]] precedence (workDir conf → this
    * object's [[WorkDirKey]] → checkpoint location → local-mode-only
    * tmp). */
  private[streaming] def workRoot(s: SparkSession, job: String, dir: String): HPath =
    graft.WorkDirs.scratch(s, job, dir)

  /** Recursively delete `p` on whatever filesystem it resolves to. */
  private def wipe(s: SparkSession, p: HPath): Unit = {
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }

  /** File-stream over `dir/name.parquet`, whichever layout it is.
    * The driver's sf fixtures are single parquet FILES and a file
    * stream source only accepts directories — stream the parent dir
    * with a glob pinned to that file (zero copying of the corpus). A
    * production corpus (and every ScaleGen dir) is instead a DIRECTORY
    * of part files; `pathGlobFilter` matches LEAF file names, so the
    * single-file glob would silently match nothing there — stream the
    * directory itself. */
  private def tableStream(s: SparkSession, dir: String, name: String): DataFrame = {
    val p = new HPath(dir, s"$name.parquet")
    val isDir = try p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(p).isDirectory
    catch { case _: java.io.IOException => false }
    val reader = s.readStream.schema(Tables.rawSchema(s, dir, name))
    if (isDir) reader.parquet(p.toString)
    else reader.option("pathGlobFilter", s"$name.parquet").parquet(dir)
  }

  /** [[tableStream]] over the events table, ts-normalized to the
    * engine's long-nanos contract — readStream must be handed the RAW
    * on-disk schema (timestamp[us] in newer fixture generations), with
    * [[Tables.normalizeTs]] applied as a projection on top. */
  private def eventsStream(s: SparkSession, dir: String): DataFrame =
    Tables.normalizeTs(tableStream(s, dir, "events"))

  /** File identity of `dir/name.parquet` for drain signatures:
    * `mtime:length:contentTag`, or "absent" when the file is missing.
    *
    * mtime:length alone is not enough — this project's fixtures are
    * REGENERATED between rounds, and a same-length regeneration inside
    * the filesystem's mtime granularity (or a restore with preserved
    * timestamps) would false-hit and silently re-serve a stale sink
    * (ADVICE r08). The content tag folds in an md5 of the file's first
    * and last 4 KB: for parquet that covers the header and the footer
    * (schema + row-group metadata + row counts), which any content
    * change rewrites. Cost is two small reads per drain call, against
    * a signature that gates replaying the whole corpus.
    *
    * A DIRECTORY table (part files) digests the sorted listing —
    * (name, mtime, length) per data file. Spark part-file names embed
    * the write's UUID, so any rewrite changes the listing even when
    * sizes and mtime granularity collude; per-file content reads are
    * skipped (thousands of footer seeks per signature check would
    * defeat the memo's purpose). */
  private def srcStat(s: SparkSession, dir: String, name: String): String = {
    val p = new HPath(dir, s"$name.parquet")
    try {
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val md = java.security.MessageDigest.getInstance("MD5")
      if (st.isDirectory) {
        val parts = fs.listStatus(p)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .sortBy(_.getPath.getName)
        parts.foreach { f =>
          md.update(s"${f.getPath.getName}:${f.getModificationTime}:${f.getLen};"
            .getBytes("UTF-8"))
        }
        val tag = md.digest().take(6).map("%02x".format(_)).mkString
        return s"$name:dir:${parts.length}:${parts.map(_.getLen).sum}:$tag"
      }
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](4096)
        def digestAt(pos: Long): Unit = {
          in.seek(pos)
          var off = 0
          var n = 0
          while (n >= 0 && off < buf.length) {
            n = in.read(buf, off, buf.length - off)
            if (n > 0) off += n
          }
          md.update(buf, 0, off)
        }
        digestAt(0L)
        if (st.getLen > buf.length) digestAt(st.getLen - buf.length)
      } finally in.close()
      val tag = md.digest().take(6).map("%02x".format(_)).mkString
      s"$name:${st.getModificationTime}:${st.getLen}:$tag"
    } catch { case _: java.io.IOException => s"$name:absent" }
  }

  /** Scalar max of `ts div 1000` over `dir`'s events table, or None
    * for an empty table — memoized because every sentinel-flushed
    * drain needs the same scalar and re-scanning the corpus for
    * 8 bytes per drain is pure fixed overhead. Keyed by DIR with the
    * file identity stored in the value: a regenerated fixture REPLACES
    * the dir's entry instead of accumulating one per (identity, dir)
    * forever in a long-lived session (ADVICE r08). */
  private val maxTusMemo =
    scala.collection.concurrent.TrieMap.empty[String, (String, Option[Long])]
  private def maxTusOf(s: SparkSession, dir: String): Option[Long] = {
    val identity = srcStat(s, dir, "events")
    maxTusMemo.get(dir) match {
      case Some((id, v)) if id == identity => v
      case _ =>
        import s.implicits._
        val v = Tables.load(s, dir, "events")
          .select(max(expr("ts div 1000"))).as[Option[Long]].head()
        maxTusMemo.put(dir, (identity, v))
        v
    }
  }

  /** md5 of the compiled classes of this package (`graft/streaming/`),
    * read from wherever the classpath loaded them: a class directory or
    * a jar. It stands in every drain signature for the code that
    * committed the sink, so two builds whose drain code differs never
    * re-serve each other's sinks from a shared scratch root, and no one
    * has to remember to bump a version when a sink's contents change.
    * An unrecognised class source digests this object's class alone. */
  private[streaming] lazy val CodeDigest: String = {
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    val pkg = "graft/streaming/"
    val url = getClass.getResource(s"/${pkg}StreamingJobs.class")
    val classes: Seq[(String, Array[Byte])] = url.getProtocol match {
      case "file" =>
        val root = java.nio.file.Paths.get(url.toURI).getParent
        Using.resource(java.nio.file.Files.walk(root)) { paths =>
          paths.iterator.asScala.filter(_.toString.endsWith(".class"))
            .map(p => root.relativize(p).toString -> p).toSeq
        }.sortBy(_._1).map { case (n, p) => n -> java.nio.file.Files.readAllBytes(p) }
      case "jar" =>
        val jar = url.openConnection.asInstanceOf[java.net.JarURLConnection].getJarFile
        jar.entries.asScala
          .filter(e => e.getName.startsWith(pkg) && e.getName.endsWith(".class"))
          .toSeq.sortBy(_.getName)
          .map(e => e.getName.stripPrefix(pkg) -> Using.resource(jar.getInputStream(e))(_.readAllBytes()))
      case _ =>
        Seq("StreamingJobs.class" -> Using.resource(url.openStream())(_.readAllBytes()))
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    classes.foreach { case (name, bytes) => md.update(name.getBytes("UTF-8")); md.update(bytes) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** A drain starter: given (checkpointDir, outDir), start the
    * streaming query. The common case is [[parquetSink]]; p05 plugs
    * in its foreachBatch corpus publisher. */
  private type Starter = (String, String) => org.apache.spark.sql.streaming.StreamingQuery

  private def parquetSink(df: DataFrame): Starter = (ckpt, out) =>
    df.writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()

  /** Shared drain harness with INCREMENTAL RE-DRAIN: each drain's work
    * dir carries a signature — the drain code ([[CodeDigest]]),
    * source-file identities (mtime:length), the job's parameters, and
    * the drain partition count. When the signature matches, the
    * committed sink already IS the answer for these inputs (the drains
    * are deterministic replays by construction), so the harness
    * re-serves it without starting a query; any code, source or
    * parameter change re-drains from scratch.
    * This is the steady-state contract of a streaming pipeline — work
    * is proportional to NEW data, and a re-run over unchanged inputs
    * costs a signature check, not a replay. At 100 TB the same check
    * is what gates re-publishing an unchanged partition of a
    * continuously-maintained corpus. The signature is written only
    * AFTER a successful drain, so interrupted runs never false-hit.
    *
    * `prepare` runs only on a fresh drain (after the work dir is
    * wiped): it writes sentinel sources under the work dir, builds the
    * streaming frame, and returns its starter — or None for an empty
    * corpus (the caller supplies the empty shape; nothing is cached).
    */
  private def drained(s: SparkSession, job: String, dir: String,
                      srcTables: Seq[String], sigExtra: String)
                     (prepare: HPath => Option[Starter]): Option[DataFrame] = {
    val work = workRoot(s, job, dir)
    val fs = work.getFileSystem(s.sparkContext.hadoopConfiguration)
    val outDir = new HPath(work, "out")
    val sigPath = new HPath(work, "drain-sig")
    val sig = (s"code=$CodeDigest|$job" +: srcTables.map(srcStat(s, dir, _)))
      .mkString("|") + s"|$sigExtra|parts=$DrainPartitions"
    val hit = try {
      fs.exists(sigPath) && fs.exists(outDir) && {
        val in = fs.open(sigPath)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        txt == sig
      }
    } catch { case _: java.io.IOException => false }
    if (hit) return Some(s.read.parquet(outDir.toString))
    wipe(s, work)
    prepare(work).map { start =>
      // the streaming query captures the conf at `.start()`, so the
      // drain width never leaks into the caller's batch plans
      val key = "spark.sql.shuffle.partitions"
      val prev = s.conf.get(key)
      s.conf.set(key, DrainPartitions.toString)
      try start(new HPath(work, "ckpt").toString, outDir.toString).awaitTermination()
      finally s.conf.set(key, prev)
      val o = fs.create(sigPath, true)
      try o.write(sig.getBytes("UTF-8")) finally o.close()
      s.read.parquet(outDir.toString)
    }
  }

  /** [[drained]] for the event-time drains over the events table,
    * with the sentinel flush built in. The scalar max event time
    * (distributed agg, 8 bytes to the driver) positions two sentinel
    * events — user [[SentinelUser]], event ids -1/-2, type
    * `"__sentinel"`, value 0 — at +50 and +100 years, beyond every
    * possible timeout. `query` receives the events stream with the
    * sentinels unioned in, as `(user_id, event_id, event_type, value,
    * tus)`, plus the real max event time, and returns the frame the
    * sink commits; each caller selects its own columns from it and
    * filters the sentinel's rows or windows back out. An empty corpus
    * returns None (the caller supplies the empty shape). */
  private def eventsDrained(s: SparkSession, job: String, dir: String, sigExtra: String)
                           (query: (DataFrame, Long) => DataFrame): Option[DataFrame] =
    drained(s, job, dir, Seq("events"), sigExtra) { work =>
      import s.implicits._
      maxTusOf(s, dir).map { maxTus =>
        val sentinelDir = new HPath(work, "sentinel").toString
        Seq(1L, 2L)
          .map(k => (SentinelUser, -k, "__sentinel", 0.0, (maxTus + k * SentinelSpacingUs) * 1000))
          .toDF("user_id", "event_id", "event_type", "value", "ts")
          .coalesce(1).write.parquet(sentinelDir)
        def shaped(df: DataFrame) = df.select($"user_id", $"event_id", $"event_type",
          $"value", expr("ts div 1000").as("tus"))
        val sentinel = s.readStream
          .schema("user_id LONG, event_id LONG, event_type STRING, value DOUBLE, ts LONG")
          .parquet(sentinelDir)
        parquetSink(query(shaped(eventsStream(s, dir)).union(shaped(sentinel)), maxTus))
      }
    }

  /** Streaming sessionization of `dir`'s events table, drained with
    * AvailableNow; output matches batch e01: `(user_id, session_id,
    * session_start_us, session_end_us, n_events)`. */
  def sessionizeAvailableNow(s: SparkSession, dir: String,
                             gapUs: Long = StreamingSessionize.DefaultGapUs): DataFrame = {
    import s.implicits._
    // an empty corpus sessionizes to an empty result (batch parity)
    val out = eventsDrained(s, "e05", dir, s"gap=$gapUs") { (events, _) =>
      StreamingSessionize.sessionize(
        events.select($"user_id", $"event_id", $"tus").as[Event], gapUs).toDF()
    }
    out match {
      case None =>
        Seq.empty[(Long, Long, Long, Long, Long)]
          .toDF("user_id", "session_id", "session_start_us",
            "session_end_us", "n_events")
      case Some(res) =>
        // per-user ordinal to match the batch sessionizer's output shape
        // (sessions are disjoint per user, so start-time order is total)
        val sid = Window.partitionBy($"user_id").orderBy($"session_start_us")
        res.filter($"user_id" =!= SentinelUser)
          .withColumn("session_id", row_number().over(sid).cast("long"))
          .select($"user_id", $"session_id", $"session_start_us",
            $"session_end_us", $"n_events")
          .orderBy($"user_id", $"session_id")
    }
  }

  /** Streaming exact dedup of the documents table, drained with
    * AvailableNow. The operator keeps the EARLIEST event-time arrival
    * per digest (tie → doc_id — deterministic under any micro-batch
    * granularity since r13, see [[StreamingDedup]]); the oracle-stable
    * projection remains the set of surviving content digests —
    * exactly one per distinct canonical content. No sentinel needed:
    * dedup emits survivors immediately (the watermark only expires
    * state). */
  def dedupAvailableNow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = drained(s, "d06", dir, Seq("documents"), "") { _ =>
      val docs = Tables.load(s, dir, "documents")
      if (docs.isEmpty) None
      else {
        val stream = tableStream(s, dir, "documents")
          // synthetic deterministic event time (+1s is a holdover from
          // the dropDuplicatesWithinWatermark path, which dropped t=0
          // rows against the initial watermark; harmless now)
          .withColumn("ts_micro", timestamp_micros($"doc_id" + 1000000L))
        val survivors = graft.streaming.StreamingDedup
          .dedupByContent(stream, "text", "ts_micro",
            tieBreakCol = Some("doc_id"))
        Some(parquetSink(survivors.drop("ts_micro")))
      }
    }
    out match {
      case None => Seq.empty[String].toDF("h")
      case Some(res) =>
        res.select(graft.operators.Dedup.contentHash($"text").as("h"))
          .orderBy($"h")
    }
  }

  /** STREAMING native session-window aggregation, drained with
    * AvailableNow: the engine-managed session-state twin of
    * [[sessionizeAvailableNow]]'s hand-rolled flatMapGroupsWithState
    * path — `groupBy(user, session_window(ts, gap))` in append mode,
    * where merge/evict state is Spark's built-in session-window store
    * instead of user code. Output matches batch e14 (start-keyed
    * sessions). The same sentinel push closes tail sessions: in
    * append mode a session emits only once the watermark passes its
    * window end. */
  def sessionWindowAvailableNow(s: SparkSession, dir: String,
                                gapUs: Long = StreamingSessionize.DefaultGapUs): DataFrame = {
    import s.implicits._
    val out = eventsDrained(s, "e15", dir, s"gap=$gapUs") { (events, _) =>
      events.select($"user_id", $"tus")
        .withColumn("tsc", timestamp_micros($"tus"))
        .withWatermark("tsc", "30 minutes")
        .groupBy($"user_id", session_window($"tsc", s"$gapUs microseconds").as("win"))
        .agg(max($"tus").as("session_end_us"), count(lit(1)).as("n_events"))
        .select($"user_id", unix_micros($"win.start").as("session_start_us"),
          $"session_end_us", $"n_events")
    }
    if (out.isEmpty)
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("user_id", "session_start_us", "session_end_us", "n_events")
    out.get
      .filter($"user_id" =!= SentinelUser)
      .select($"user_id", $"session_start_us", $"session_end_us", $"n_events")
      .orderBy($"user_id", $"session_start_us")
  }

  /** STREAM-STATIC novelty filter, drained with AvailableNow — the
    * incremental-ingest twin of the batch bloom anti-join (x05):
    * incoming documents stream in, and each micro-batch anti-joins its
    * rows against a STATIC table of already-seen content digests. The
    * join is stateless (the static side is just re-planned per batch),
    * so there is no watermark, no state store, and novel rows emit in
    * the batch they arrive — this is the third streaming join mode the
    * engine exercises, next to the stateful operators and the
    * stream-stream range join. At scale the static side is a parquet
    * digest table: the per-batch join gets the same broadcast/shuffle
    * planning as any batch join, and AQE sizes it per batch. */
  def novelAvailableNow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = drained(s, "d08", dir, Seq("documents"), "") { _ =>
      val docs = Tables.load(s, dir, "documents")
      if (docs.isEmpty) None
      else {
        // the "seen" corpus: digests of every doc_id % 3 <> 0 document
        val seen = docs.filter($"doc_id" % 3 =!= 0)
          .select(graft.operators.Dedup.contentHash($"text").as("h"))
        val incoming = tableStream(s, dir, "documents")
          .select($"doc_id", graft.operators.Dedup.contentHash($"text").as("h"))
        Some(parquetSink(incoming.join(seen, Seq("h"), "left_anti")
          .select($"doc_id")))
      }
    }
    out match {
      case None => Seq.empty[Long].toDF("doc_id")
      case Some(res) => res.select($"doc_id").orderBy($"doc_id")
    }
  }

  /** Stream-stream range join over the events table, drained with
    * AvailableNow: streaming purchases ⋈ streaming views of the same
    * user within the hour before each purchase, then aggregated to
    * the EXACT shape (and oracle) of batch a02 — views counted per
    * purchase, zero-view purchases kept. Inner matches emit on
    * arrival, so no sentinel flush is needed; the band condition on
    * both event-time columns is what lets the join evict state (see
    * [[StreamingRangeJoin]]). */
  def rangeJoinAvailableNow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def typed(df: DataFrame, t: String, idAs: String, tusAs: String) =
      df.filter($"event_type" === t)
        .select($"user_id", $"event_id".as(idAs), expr("ts div 1000").as(tusAs))
    val out = drained(s, "e07", dir, Seq("events"), "") { _ =>
      def stream() = eventsStream(s, dir)
      val purchases = typed(stream(), "purchase", "purchase_id", "ptus")
      val views = typed(stream(), "view", "view_id", "vtus")
      val pairs = StreamingRangeJoin.rangeJoin(purchases, views, Seq("user_id"),
        leftTime = "ptus", rightTime = "vtus",
        lowerUs = -3600000000L, upperUs = 0L)
      Some(parquetSink(pairs.select($"purchase_id", $"view_id")))
    }
    // a02's exact output shape: zero-view purchases restored via the
    // batch purchase spine
    val counts = out.get
      .groupBy($"purchase_id").agg(count($"view_id").as("n_views_1h"))
    typed(Tables.load(s, dir, "events"), "purchase", "purchase_id", "ptus")
      .select($"purchase_id")
      .join(counts, Seq("purchase_id"), "left")
      .select($"purchase_id", coalesce($"n_views_1h", lit(0L)).as("n_views_1h"))
      .orderBy($"purchase_id")
  }

  /** Streaming ordered funnel, drained with AvailableNow — the
    * stateful twin of batch e08 under the SAME oracle: per-user stage
    * reaching times fold incrementally in [[StreamingFunnel]] state,
    * users flush on event-time timeout (watermark past last event +
    * horizon — pushed by the sentinel like e05), and the drain
    * aggregates the flushed reaches into per-stage user counts. */
  def funnelAvailableNow(s: SparkSession, dir: String,
                         stages: Seq[String] = graft.operators.Funnel.EventStages,
                         horizonUs: Long = 365L * 24 * 3600 * 1000000): DataFrame = {
    import s.implicits._
    // the oracle (and batch e08) ALWAYS yields one row per stage —
    // zero counts included — so the empty/no-entry cases must too
    def zeroRows = stages.zipWithIndex
      .map { case (st, i) => (i + 1L, st, 0L) }
      .toDF("stage_idx", "stage", "n_users")
    val out = eventsDrained(s, "e10", dir,
        s"stages=${stages.mkString(",")}|hz=$horizonUs") { (events, _) =>
      StreamingFunnel.stageReaches(
        events.select($"user_id", $"event_type", $"tus").as[StreamingFunnel.FEvent],
        stages, horizonUs).toDF()
    }
    if (out.isEmpty) return zeroRows
    // LEFT join from the stage spine: a corpus where no user reaches
    // stage 1 flushes nothing, but the result must still carry every
    // stage at zero (matching the oracle's VALUES spine)
    val names = stages.zipWithIndex
      .map { case (st, i) => (i.toLong + 1, st) }.toDF("stage_idx", "stage")
    val agg = out.get
      .filter($"user_id" =!= SentinelUser)
      .groupBy(($"stage_idx".cast("long") + 1).as("stage_idx"))
      .agg(count($"tus").as("n_users"))
    names.join(agg, Seq("stage_idx"), "left")
      .select($"stage_idx", $"stage", coalesce($"n_users", lit(0L)).as("n_users"))
      .orderBy($"stage_idx")
  }

  /** Streaming corpus publish, drained with AvailableNow: the
    * documents table streams through [[StreamingPublish]] into a
    * `batch=bN/lang=…` partitioned parquet corpus (idempotent per
    * batch id, dynamic partition overwrite), and the result is the
    * read-back corpus aggregated per language — which must equal the
    * same aggregate over the source table (nothing lost, nothing
    * duplicated by the sink's routing/salting/sorting). */
  def publishAvailableNow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = drained(s, "p05", dir, Seq("documents"), "") { _ =>
      val docs = Tables.load(s, dir, "documents")
      if (docs.isEmpty) None
      else {
        val stream = tableStream(s, dir, "documents")
        Some((ckpt, outPath) => StreamingPublish.publishStream(stream, outPath,
          ckpt, partitionCols = Seq("lang"), sortBy = Seq("doc_id")))
      }
    }
    out match {
      case None =>
        Seq.empty[(String, Long, Long, Long)]
          .toDF("lang", "n", "sum_id", "sum_chars")
      case Some(res) =>
        res.groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"doc_id").as("sum_id"),
            sum($"n_chars").as("sum_chars"))
          .orderBy($"lang")
    }
  }

  /** Watermarked tumbling-window counts over the events table, drained
    * with AvailableNow — the streaming twin of batch e03 under the same
    * oracle shape. Append mode only emits a window once the watermark
    * passes its end + delay, so the same sentinel push as
    * [[sessionizeAvailableNow]] closes every real window. */
  def windowCountsAvailableNow(s: SparkSession, dir: String,
                               windowLen: String = "1 hour",
                               slide: Option[String] = None,
                               jobTag: String = "e06"): DataFrame = {
    import s.implicits._
    val out = eventsDrained(s, jobTag, dir,
        s"win=$windowLen|slide=${slide.getOrElse(windowLen)}") { (events, _) =>
      StreamingWindowCounts.slidingCounts(events.select($"tus", $"event_type", $"value"),
        windowLen, slide.getOrElse(windowLen))
    }
    if (out.isEmpty)
      return Seq.empty[(Long, String, Long, Double)]
        .toDF("window_start_us", "event_type", "n", "sum_value")
    out.get
      .filter($"event_type" =!= "__sentinel")
      .select($"window_start_us", $"event_type", $"n",
        round($"sum_value", 2).as("sum_value"))
      .orderBy($"window_start_us", $"event_type")
  }

  /** STREAMING zone-map maintenance, drained with AvailableNow — the
    * incremental twin of the x24 stats build: per-hour block
    * statistics (row count, user/event id ranges) flushed append-mode
    * as the watermark closes each hour. At 100 TB this is how layout
    * stats stay FRESH without rescanning the table: each closed hour
    * emits its zone row exactly once, and a scan planner prunes on
    * those rows the same way it prunes on parquet row-group min/max.
    * State is five longs per open window. */
  def zoneMapsAvailableNow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = eventsDrained(s, "e17", dir, "") { (events, maxTus) =>
      events.select($"tus", $"user_id", $"event_id")
        .withColumn("ts_micro", timestamp_micros($"tus"))
        .withWatermark("ts_micro", "1 hour")
        .groupBy(window($"ts_micro", "1 hour"))
        .agg(count(lit(1)).as("n_rows"),
          min($"user_id").as("min_uid"), max($"user_id").as("max_uid"),
          min($"event_id").as("min_eid"), max($"event_id").as("max_eid"))
        .select(unix_micros($"window.start").as("window_start_us"),
          $"n_rows", $"min_uid", $"max_uid", $"min_eid", $"max_eid")
        // sentinel windows filtered BEFORE the sink (maxTus is in
        // scope only here), so a re-serve is a pure parquet read
        .filter($"window_start_us" <= maxTus)
    }
    out match {
      case None =>
        Seq.empty[(Long, Long, Long, Long, Long, Long)]
          .toDF("window_start_us", "n_rows", "min_uid", "max_uid",
            "min_eid", "max_eid")
      case Some(res) => res.orderBy($"window_start_us")
    }
  }

  /** STREAMING per-window EXACT distinct-user counts, drained with
    * AvailableNow — two chained stateful operators: a keyed
    * deduplication on (user, hour) whose state the watermark evicts,
    * feeding a windowed count that flushes append-mode as each hour
    * closes. This is the exact-cardinality streaming pattern (state =
    * one empty-valued row per distinct key per open window) that a
    * COUNT(DISTINCT) over a stream requires; the batch oracle is a
    * plain per-hour COUNT(DISTINCT user_id). The watermark rides the
    * hour-bucket timestamp itself, so dedup state and window state
    * close together. */
  def windowUsersAvailableNow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = eventsDrained(s, "e18", dir, "") { (events, maxTus) =>
      events.select($"tus", $"user_id")
        .withColumn("hour_ts",
          timestamp_micros(expr("(tus div 3600000000) * 3600000000")))
        .withWatermark("hour_ts", "1 hour")
        .dropDuplicates("user_id", "hour_ts")
        .groupBy(window($"hour_ts", "1 hour"))
        .agg(count(lit(1)).as("n_users"))
        .select(unix_micros($"window.start").as("window_start_us"), $"n_users")
        .filter($"window_start_us" <= maxTus) // sentinel windows pre-sink
    }
    out match {
      case None => Seq.empty[(Long, Long)].toDF("window_start_us", "n_users")
      case Some(res) => res.orderBy($"window_start_us")
    }
  }

  /** STREAMING data-quality gate, drained with AvailableNow — the
    * streaming twin of batch x19 ([[graft.operators.Audit]]): hard
    * constraints + quality screens evaluated per tumbling hour over
    * the event stream, every rule folded into the ONE windowed
    * aggregate (state = a handful of longs per open window, flushed
    * append-mode as the watermark closes each hour). The monitoring
    * shape a live ingest pipeline alerts on: per-window violation
    * counts, not a global post-hoc audit. Rules use the same
    * `coalesce(pred, true)` convention as Audit — a NULL predicate
    * is a violation. */
  def dqAuditAvailableNow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def viol(pred: org.apache.spark.sql.Column) =
      sum(coalesce(pred, lit(true)).cast("long"))
    val types = Seq("click", "error", "purchase", "signup", "view")
    val out = eventsDrained(s, "e16", dir, "") { (events, maxTus) =>
      events.select($"tus", $"event_type", $"value")
        .withColumn("ts_micro", timestamp_micros($"tus"))
        .withWatermark("ts_micro", "1 hour")
        .groupBy(window($"ts_micro", "1 hour"))
        .agg(count(lit(1)).as("_n"),
          viol(!($"value" >= 0 && $"value" <= 500)).as("_v_value_range"),
          viol(!$"event_type".isin(types: _*)).as("_v_type_domain"),
          viol($"value" > 400).as("_v_screen_big_value"),
          viol($"event_type" === "error").as("_v_screen_error"))
        .select(unix_micros($"window.start").as("window_start_us"), $"_n",
          expr("""stack(4,
            'screen_big_value', _v_screen_big_value,
            'screen_error', _v_screen_error,
            'type_domain', _v_type_domain,
            'value_range', _v_value_range) AS (check, n_violations)"""))
        .select($"window_start_us", $"check", $"_n".as("n_events"),
          $"n_violations")
        .filter($"window_start_us" <= maxTus) // sentinel windows pre-sink
    }
    out match {
      case None =>
        Seq.empty[(Long, String, Long, Long)]
          .toDF("window_start_us", "check", "n_events", "n_violations")
      case Some(res) => res.orderBy($"window_start_us", $"check")
    }
  }

  /** Streaming per-user exact counts with a heavy-hitter threshold,
    * drained with AvailableNow — each user's counter flushes once the
    * sentinel-pushed watermark passes its horizon, so the result
    * equals the batch `GROUP BY user HAVING count >= minCount`. */
  def heavyUsersAvailableNow(s: SparkSession, dir: String,
                             minCount: Long = 70L,
                             horizonUs: Long = 365L * 24 * 3600 * 1000000): DataFrame = {
    import s.implicits._
    val out = eventsDrained(s, "e11", dir, s"hz=$horizonUs") { (events, _) =>
      StreamingHeavyHitters.counts(events.select($"user_id".as("key"), $"tus")
        .as[StreamingHeavyHitters.KeyedEvent], horizonUs).toDF()
    }
    out match {
      case None => Seq.empty[(Long, Long)].toDF("user_id", "n_events")
      case Some(res) =>
        res.filter($"key" =!= SentinelUser && $"n_events" >= minCount)
          .select($"key".as("user_id"), $"n_events")
          .orderBy($"user_id")
    }
  }

  /** STREAMING latest-wins CDC merge drained with AvailableNow — the
    * streaming twin of batch x20 ([[graft.operators.History
    * .applyChangelog]]), same fixture: the corpus snapshot as
    * sequence-0 upserts plus three interleaved upsert/delete rounds,
    * all derived from the documents stream. Per-key state is one
    * (seq, digest, op) record; the far-future sentinel pushes the
    * final watermark past every key's timeout so AvailableNow flushes
    * the complete merged table. */
  def upsertAvailableNow(s: SparkSession, dir: String,
                         horizonUs: Long = 365L * 24 * 3600 * 1000000): DataFrame = {
    import s.implicits._
    val out = drained(s, "x21", dir, Seq("documents"), s"hz=$horizonUs") { work =>
      val docsBatch = Tables.load(s, dir, "documents")
      if (docsBatch.isEmpty) None
      else {
        val sentinelDir = new HPath(work, "sentinel").toString
        Seq((SentinelUser, None: Option[String], 0L, "U", SentinelSpacingUs),
            (SentinelUser, None: Option[String], 0L, "U", 2 * SentinelSpacingUs))
          .toDF("key", "digest", "seq", "op", "tus")
          .coalesce(1).write.parquet(sentinelDir)

        val stream = tableStream(s, dir, "documents")
        def rev(u: Int) =
          substring(md5(concat($"text", lit(s" rev$u"))), 1, 12)
        val snap = stream.filter($"doc_id" % 4 =!= 3)
          .select($"doc_id".as("key"), rev(0).as("digest"),
            lit(0L).as("seq"), lit("U").as("op"))
        val ups = (1 to 3).map(u => stream.filter(($"doc_id" + u) % 7 === 0)
          .select($"doc_id".as("key"), rev(u).as("digest"),
            lit(2L * u - 1).as("seq"), lit("U").as("op")))
        val dels = (1 to 3).map(u => stream.filter(($"doc_id" + 3 * u) % 11 === 0)
          .select($"doc_id".as("key"), lit(null).cast("string").as("digest"),
            lit(2L * u).as("seq"), lit("D").as("op")))
        val real = (snap +: (ups ++ dels)).reduce(_ unionByName _)
          .withColumn("tus", $"seq" + 1)
        val sentinel = s.readStream
          .schema("key LONG, digest STRING, seq LONG, op STRING, tus LONG")
          .parquet(sentinelDir)
        Some(parquetSink(StreamingUpsert.latestWins(
          real.unionByName(sentinel).as[StreamingUpsert.Change], horizonUs).toDF()))
      }
    }
    out match {
      case None =>
        Seq.empty[(Long, String, Long)].toDF("doc_id", "digest", "last_seq")
      case Some(res) =>
        res.filter($"key" =!= SentinelUser)
          .select($"key".as("doc_id"), $"digest", $"last_seq")
          .orderBy($"doc_id")
    }
  }
}
