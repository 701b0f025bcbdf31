package graft.streaming

import java.nio.file.{Files, Paths}

import graft.{SparkSpec, WorkDirs}

/** The drains' scratch-dir contract: configurable shared-FS root
  * (cluster-safe), full-digest per-corpus tags (collision-proof), and
  * an end-to-end drain proving the override is honored and the
  * partition override never leaks into the session, and the empty-corpus
  * shape of every sentinel-flushed drain. */
class StreamingJobsSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("workRoot honors the graft workDir conf over everything else") {
    spark.conf.set(WorkDirs.WorkDirKey, "/shared/graft-work")
    spark.conf.set("spark.sql.streaming.checkpointLocation", "/other/ckpt")
    try {
      val p = StreamingJobs.workRoot(spark, "e05", "/data/corpusA")
      assert(p.toString ==
        s"/shared/graft-work/graft_e05_${md5hex("/data/corpusA")}")
    } finally {
      spark.conf.unset(WorkDirs.WorkDirKey)
      spark.conf.unset("spark.sql.streaming.checkpointLocation")
    }
  }

  test("workRoot falls back to the session checkpoint location") {
    spark.conf.set("spark.sql.streaming.checkpointLocation", "hdfs://nn/ckpt")
    try {
      val p = StreamingJobs.workRoot(spark, "d06", "/data/corpusA")
      assert(p.toString ==
        s"hdfs://nn/ckpt/graft_d06_${md5hex("/data/corpusA")}")
    } finally spark.conf.unset("spark.sql.streaming.checkpointLocation")
  }

  test("workRoot tmp fallback exists only in local mode, tags are full digests") {
    // this suite runs local, so the fallback must engage
    val p = StreamingJobs.workRoot(spark, "e06", "/data/corpusA")
    assert(p.toString.endsWith(s"graft_e06_${md5hex("/data/corpusA")}"))
    // full 32-hex md5 tag — not a 32-bit hashCode that can collide
    val tag = p.getName.stripPrefix("graft_e06_")
    assert(tag.length == 32 && tag.forall(c => c.isDigit || ('a' to 'f').contains(c)))
    val q = StreamingJobs.workRoot(spark, "e06", "/data/corpusB")
    assert(p.toString != q.toString, "distinct corpora must get distinct scratch dirs")
  }

  test("sessionize drain runs under an overridden work root and restores confs") {
    val Min = 60L * 1000000
    val base = 1440 * Min
    // user 1: two sessions (35-min gap splits); user 2: one session
    val rows = Seq(
      (1L, 1L, (base + 0 * Min) * 1000, "click", 0.0),
      (1L, 2L, (base + 10 * Min) * 1000, "click", 0.0),
      (1L, 3L, (base + 60 * Min) * 1000, "click", 0.0),
      (2L, 4L, (base + 5 * Min) * 1000, "view", 0.0))

    // the file stream glob wants a single FILE named events.parquet
    val corpus = Files.createTempDirectory("graft-jobs-corpus")
    val tmpOut = Files.createTempDirectory("graft-jobs-write").resolve("ev")
    rows.toDF("user_id", "event_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(tmpOut.toString)
    val part = Files.list(tmpOut).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, corpus.resolve("events.parquet"))

    val workOverride = Files.createTempDirectory("graft-jobs-work")
    spark.conf.set(WorkDirs.WorkDirKey, workOverride.toString)
    try {
      val got = StreamingJobs
        .sessionizeAvailableNow(spark, corpus.toString, gapUs = 30 * Min)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got == Set(
        (1L, 1L, base, base + 10 * Min, 2L),
        (1L, 2L, base + 60 * Min, base + 60 * Min, 1L),
        (2L, 1L, base + 5 * Min, base + 5 * Min, 1L)))
      // scratch landed under the override, tagged with the corpus digest
      val scratch = workOverride.resolve(s"graft_e05_${md5hex(corpus.toString)}")
      assert(Files.isDirectory(scratch), s"no scratch at $scratch")
      assert(Files.isDirectory(scratch.resolve("ckpt")))
      // no stray java.io.tmpdir scratch for this corpus
      val tmpStray = Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_e05_${md5hex(corpus.toString)}")
      assert(!Files.exists(tmpStray), "drain wrote to tmp despite the override")
      // the drain partition override must not leak into the session
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    } finally spark.conf.unset(WorkDirs.WorkDirKey)
  }

  test("incremental re-drain: unchanged inputs re-serve; any change re-drains") {
    val Min = 60L * 1000000
    val base = 1440 * Min
    def writeEvents(corpus: java.nio.file.Path,
                    rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
      val tmpOut = Files.createTempDirectory("graft-reuse-write").resolve("ev")
      rows.toDF("user_id", "event_id", "ts", "event_type", "value")
        .coalesce(1).write.parquet(tmpOut.toString)
      val part = Files.list(tmpOut)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, corpus.resolve("events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val corpus = Files.createTempDirectory("graft-reuse-corpus")
    writeEvents(corpus, Seq(
      (1L, 1L, (base + 0 * Min) * 1000, "click", 0.0),
      (1L, 2L, (base + 10 * Min) * 1000, "click", 0.0)))

    val workOverride = Files.createTempDirectory("graft-reuse-work")
    spark.conf.set(WorkDirs.WorkDirKey, workOverride.toString)
    try {
      def drain(gapUs: Long = 30 * Min) = StreamingJobs
        .sessionizeAvailableNow(spark, corpus.toString, gapUs)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val first = drain()
      assert(first == Set((1L, 1L, base, base + 10 * Min, 2L)))
      val sig = workOverride
        .resolve(s"graft_e05_${md5hex(corpus.toString)}").resolve("drain-sig")
      assert(Files.exists(sig), "successful drain must write its signature")
      val sigTime = Files.getLastModifiedTime(sig)

      // unchanged inputs: same answer, signature untouched (no re-drain)
      assert(drain() == first)
      assert(Files.getLastModifiedTime(sig) == sigTime,
        "unchanged inputs must re-serve the committed sink, not re-drain")

      // a parameter change re-drains (params are in the signature):
      // a 5-minute gap splits the 10-minute-apart events into two
      // sessions — stale reuse would still show one
      assert(drain(gapUs = 5 * Min) == Set(
        (1L, 1L, base, base, 1L),
        (1L, 2L, base + 10 * Min, base + 10 * Min, 1L)))

      // a source change re-drains (file identity is in the signature):
      // user 2 appears only if the drain really re-ran
      writeEvents(corpus, Seq(
        (1L, 1L, (base + 0 * Min) * 1000, "click", 0.0),
        (1L, 2L, (base + 10 * Min) * 1000, "click", 0.0),
        (2L, 3L, (base + 5 * Min) * 1000, "view", 0.0)))
      assert(drain() == Set(
        (1L, 1L, base, base + 10 * Min, 2L),
        (2L, 1L, base + 5 * Min, base + 5 * Min, 1L)),
        "modified source must invalidate the drain signature")
    } finally spark.conf.unset(WorkDirs.WorkDirKey)
  }

  test("a sink committed by other drain code misses and re-drains") {
    val Min = 60L * 1000000
    val base = 1440 * Min
    val corpus = Files.createTempDirectory("graft-code-corpus")
    val tmpOut = Files.createTempDirectory("graft-code-write").resolve("ev")
    Seq((1L, 1L, base * 1000, "click", 0.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(tmpOut.toString)
    Files.move(Files.list(tmpOut).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get(), corpus.resolve("events.parquet"))

    val workOverride = Files.createTempDirectory("graft-code-work")
    spark.conf.set(WorkDirs.WorkDirKey, workOverride.toString)
    try {
      def drain() = StreamingJobs.sessionizeAvailableNow(spark, corpus.toString)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val first = drain()
      assert(first == Set((1L, 1L, base, base, 1L)))
      val work = workOverride.resolve(s"graft_e05_${md5hex(corpus.toString)}")
      val sig = work.resolve("drain-sig")
      val digest = StreamingJobs.CodeDigest
      assert(digest.matches("[0-9a-f]{32}"))
      val ours = Files.readString(sig)
      assert(ours.startsWith(s"code=$digest|"), ours)

      // the same inputs, as another build would have signed them
      Files.writeString(sig, ours.replace(digest, "0" * 32))
      val marker = work.resolve("out").resolve("_other_build")
      Files.createFile(marker)
      assert(drain() == first)
      assert(Files.readString(sig) == ours, "the re-drain must re-sign with this build's digest")
      assert(!Files.exists(marker), "a sink signed by other code was re-served")
    } finally spark.conf.unset(WorkDirs.WorkDirKey)
  }

  test("directory-layout corpus: drains stream part files, signature tracks the listing") {
    // A production corpus (and every ScaleGen dir) stores each table as
    // a DIRECTORY of part files, not the driver fixtures' single file.
    // pathGlobFilter matches LEAF names, so the old single-file glob
    // silently streamed ZERO rows from such a dir — this pins the fix.
    val Min = 60L * 1000000
    val base = 1440 * Min
    val rows = Seq(
      (1L, 1L, (base + 0 * Min) * 1000, "click", 0.0),
      (1L, 2L, (base + 10 * Min) * 1000, "click", 0.0),
      (2L, 3L, (base + 5 * Min) * 1000, "view", 0.0))
    val corpus = Files.createTempDirectory("graft-dirlayout-corpus")
    // events.parquet as a directory with MULTIPLE part files
    rows.toDF("user_id", "event_id", "ts", "event_type", "value")
      .repartition(2).write.parquet(corpus.resolve("events.parquet").toString)

    val workOverride = Files.createTempDirectory("graft-dirlayout-work")
    spark.conf.set(WorkDirs.WorkDirKey, workOverride.toString)
    try {
      def drain() = StreamingJobs
        .sessionizeAvailableNow(spark, corpus.toString, gapUs = 30 * Min)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val expected = Set(
        (1L, 1L, base, base + 10 * Min, 2L),
        (2L, 1L, base + 5 * Min, base + 5 * Min, 1L))
      assert(drain() == expected,
        "directory-layout corpus must stream every part file")

      val sig = workOverride
        .resolve(s"graft_e05_${md5hex(corpus.toString)}").resolve("drain-sig")
      val sigTime = Files.getLastModifiedTime(sig)
      assert(drain() == expected)
      assert(Files.getLastModifiedTime(sig) == sigTime,
        "unchanged directory must re-serve the committed sink")

      // rewriting the directory (new part names via write UUIDs) must
      // invalidate: user 3 appears only if the drain really re-ran
      (rows :+ (3L, 4L, (base + 7 * Min) * 1000, "view", 0.0))
        .toDF("user_id", "event_id", "ts", "event_type", "value")
        .repartition(2).write.mode("overwrite")
        .parquet(corpus.resolve("events.parquet").toString)
      assert(drain() == expected +
        ((3L, 1L, base + 7 * Min, base + 7 * Min, 1L)),
        "rewritten directory must invalidate the drain signature")
    } finally spark.conf.unset(WorkDirs.WorkDirKey)
  }

  test("sentinel drains over an empty events table return their non-empty shape") {
    // the empty-corpus branch of every sentinel-flushed drain returns a
    // hand-written frame; it must carry the same columns and types as
    // the drained answer, and (the funnel aside) no rows
    val Min = 60L * 1000000
    val base = 1440 * Min
    def corpusOf(rows: Seq[(Long, Long, Long, String, Double)]): String = {
      val corpus = Files.createTempDirectory("graft-empty-corpus")
      val tmpOut = Files.createTempDirectory("graft-empty-write").resolve("ev")
      rows.toDF("user_id", "event_id", "ts", "event_type", "value")
        .coalesce(1).write.parquet(tmpOut.toString)
      val part = Files.list(tmpOut)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, corpus.resolve("events.parquet"))
      corpus.toString
    }
    val full = corpusOf(Seq(
      (1L, 1L, (base + 0 * Min) * 1000, "click", 0.0),
      (1L, 2L, (base + 10 * Min) * 1000, "view", 3.5),
      (1L, 3L, (base + 60 * Min) * 1000, "purchase", 7.0),
      (2L, 4L, (base + 5 * Min) * 1000, "view", 0.0)))
    val empty = corpusOf(Seq.empty)
    val drains: Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
      "e05" -> (StreamingJobs.sessionizeAvailableNow(spark, _)),
      "e06" -> (StreamingJobs.windowCountsAvailableNow(spark, _)),
      "e10" -> (StreamingJobs.funnelAvailableNow(spark, _)),
      "e11" -> (StreamingJobs.heavyUsersAvailableNow(spark, _)),
      "e15" -> (StreamingJobs.sessionWindowAvailableNow(spark, _)),
      "e16" -> (StreamingJobs.dqAuditAvailableNow(spark, _)),
      "e17" -> (StreamingJobs.zoneMapsAvailableNow(spark, _)),
      "e18" -> (StreamingJobs.windowUsersAvailableNow(spark, _)))
    val workOverride = Files.createTempDirectory("graft-empty-work")
    spark.conf.set(WorkDirs.WorkDirKey, workOverride.toString)
    try drains.foreach { case (job, drain) =>
      def shape(df: org.apache.spark.sql.DataFrame) =
        df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      val drained = drain(full)
      val none = drain(empty)
      assert(shape(none) == shape(drained), s"$job: empty-corpus shape drifted")
      if (job == "e10") {
        // the funnel answers one row per stage, zero counts included
        assert(none.collect().map(_.getAs[Long]("n_users")).toSeq ==
          graft.operators.Funnel.EventStages.map(_ => 0L))
      } else assert(none.count() == 0L, s"$job: rows from an empty corpus")
      // the empty branch is really taken: no sink was drained for it
      assert(!Files.exists(workOverride
        .resolve(s"graft_${job}_${md5hex(empty)}").resolve("drain-sig")))
    } finally spark.conf.unset(WorkDirs.WorkDirKey)
  }
}
