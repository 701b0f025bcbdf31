package graft

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.sources.v2.ZipCentral

class ZipSourceV2Spec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` with `spark.sql.files.maxPartitionBytes` — the
    * source's split byte budget — set to `bytes`, restoring it after. */
  private def withSplitBytes[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Spark jobs started while `body` runs. A marked sentinel job runs
    * after it; the listener bus delivers events in order, so once the
    * sentinel is seen every job `body` started has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).exists(_.getProperty("graft.test.sentinel") != null))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.test.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.sentinel", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(true) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(true), "sentinel job never reached the listener")
      seen.toArray.count(_ == false)
    } finally sc.removeSparkListener(listener)
  }

  /** Every entry `ZipInputStream` yields, in archive order, directories
    * skipped — the reference reading of an archive. */
  private def streamed(bytes: Array[Byte]): Seq[(String, Seq[Byte])] = {
    val zis = new ZipInputStream(new java.io.ByteArrayInputStream(bytes), UTF_8)
    try Iterator.continually(zis.getNextEntry).takeWhile(_ != null)
      .filterNot(_.isDirectory).map(e => e.getName -> zis.readAllBytes().toSeq).toVector
    finally zis.close()
  }

  /** Every entry of `f` read with `ZipCentral.readEntry`, the positioned
    * per-entry read the slice reader falls back to. */
  private def positioned(f: java.io.File): Map[String, Seq[Byte]] = {
    val hp = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
    val in = hp.getFileSystem(spark.sparkContext.hadoopConfiguration).open(hp)
    try ZipCentral.list(in, f.length()).get.entries
      .map(e => e.name -> ZipCentral.readEntry(in, e).toSeq).toMap
    finally in.close()
  }

  private def writeZip(dir: java.io.File, name: String, entries: (String, String)*): String = {
    val f = new java.io.File(dir, name)
    val zos = new ZipOutputStream(new FileOutputStream(f), UTF_8)
    entries.foreach { case (n, text) =>
      zos.putNextEntry(new ZipEntry(n)); zos.write(text.getBytes(UTF_8)); zos.closeEntry()
    }
    zos.close()
    f.getAbsolutePath
  }

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft-v2zip").toFile
  private lazy val zipA = writeZip(dir, "a.zip", "x.txt" -> "one two", "y.txt" -> "three")
  private lazy val zipB = writeZip(dir, "b.zip", "z.txt" -> "four five six")

  test("format(zip-entries) reads one row per entry with archive column") {
    val df = spark.read.format("zip-entries").load(zipA)
    assert(df.columns.toSeq == Seq("entry_name", "archive", "content"))
    val rows = df.select($"entry_name", $"content".cast("string"))
      .as[(String, String)].collect().toMap
    assert(rows == Map("x.txt" -> "one two", "y.txt" -> "three"))
  }

  test("glob over multiple archives; one partition per archive") {
    zipA; zipB
    val df = spark.read.format("zip-entries").load(s"$dir/*.zip")
    assert(df.count() == 3)
    assert(df.rdd.getNumPartitions == 2)
    val byArchive = df.groupBy($"archive").count().as[(String, Long)].collect().toMap
    assert(byArchive.keys.map(_.split("/").last).toSet == Set("a.zip", "b.zip"))
  }

  test("column pruning: name-only projection skips content materialization") {
    val df = spark.read.format("zip-entries").load(zipA).select("entry_name")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("entry_name") && !plan.contains("content#"))
    assert(df.as[String].collect().sorted.toSeq == Seq("x.txt", "y.txt"))
  }

  test("parallel planning above the threshold matches driver-side planning") {
    // 100 archives >= the threshold (64): planning runs as a Spark job
    // parsing central directories on executors. Fewer than 64 archives
    // plan on the driver, with no job; both halves of the corpus read
    // that way must give the same rows as the whole corpus.
    val many = java.nio.file.Files.createTempDirectory("graft-v2zip-many").toFile
    val written = (0 until 100).flatMap { i =>
      val es = Seq(s"doc_${i}_a.txt" -> s"alpha $i content", s"doc_${i}_b.txt" -> s"beta $i")
      writeZip(many, f"arc_$i%03d.zip", es: _*)
      es
    }.toSet
    def read(glob: String) = spark.read.format("zip-entries").load(s"$many/$glob")
      .select($"entry_name", $"content".cast("string").as("text"))
    val whole = read("*.zip")
    assert(jobsDuring { assert(whole.rdd.getNumPartitions == 100) } >= 1)
    assert(whole.as[(String, String)].collect().toSet == written)
    val halves = Seq("arc_0[0-4]?.zip", "arc_0[5-9]?.zip").map(read)
    assert(jobsDuring { halves.foreach(_.rdd.getNumPartitions) } == 0)
    assert(halves.flatMap(_.as[(String, String)].collect()).toSet == written)
  }

  test("missing path → clear error") {
    val e = intercept[Exception] {
      spark.read.format("zip-entries").load(s"$dir/nothing-*.zip").count()
    }
    assert(e.getMessage.contains("no files match") || e.getMessage.contains("nothing-"))
  }

  test("entry-granular splits: a 1-byte budget fans one archive out") {
    val many = writeZip(dir, "many.zip",
      (1 to 10).map(i => (s"e$i.txt", s"payload number $i with some text")): _*)
    // 1-byte budget → one entry per split
    val sliced = withSplitBytes(1) {
      val df = spark.read.format("zip-entries").load(many)
      assert(df.rdd.getNumPartitions == 10)
      df.select($"entry_name", $"content".cast("string")).as[(String, String)].collect().toMap
    }
    // unchanged results vs the single-partition plan
    val whole = spark.read.format("zip-entries").load(many)
      .select($"entry_name", $"content".cast("string"))
      .as[(String, String)].collect().toMap
    assert(spark.read.format("zip-entries").load(many).rdd.getNumPartitions == 1)
    assert(sliced == whole && sliced.size == 10)
    assert(sliced("e7.txt") == "payload number 7 with some text")
  }

  test("splits report preferredLocations from file block hosts") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val parts = withSplitBytes(1) {
      val df = spark.read.format("zip-entries").load(zipA)
      df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get.inputPartitions
    }
    assert(parts.size == 2)
    // RawLocalFileSystem reports localhost for every block
    assert(parts.forall(_.preferredLocations().contains("localhost")))
  }

  test("last pack's coalesced range ends at the central directory, not the archive tail") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.v2.ZipSlicePartition
    val z = writeZip(dir, "cdbound.zip",
      (1 to 6).map(i => (s"p$i.txt", s"payload $i " * 10)): _*)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(z))
    val hp = new org.apache.hadoop.fs.Path(z)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(hp)
    val cd = try ZipCentral.list(in, bytes.length.toLong).get.cdOffset finally in.close()
    assert(cd > 0 && cd < bytes.length,
      s"fixture central directory should sit inside the archive (cd=$cd len=${bytes.length})")
    val (slices, rows) = withSplitBytes(60) {
      val df = spark.read.format("zip-entries").load(z)
      val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
      (scan.inputPartitions.collect { case p: ZipSlicePartition => p },
        df.select($"entry_name", $"content".cast("string")).as[(String, String)].collect().toMap)
    }
    assert(slices.size > 1, "fixture should plan multiple packs")
    // every pack's range stops before the central directory (ADVICE
    // r12: the old tail bound over-read the whole directory on the
    // last pack), and the content still reads back whole
    assert(slices.map(_.rangeEnd).max == cd,
      s"last pack should end at the central directory ($cd), got ${slices.map(_.rangeEnd).max}")
    assert(rows.size == 6 && rows("p3.txt") == "payload 3 " * 10)
  }

  test("multi-path load reads every archive once") {
    val df = spark.read.format("zip-entries").load(zipA, zipB)
    assert(df.count() == 3)
    val byArchive = df.groupBy($"archive").count().as[(String, Long)].collect().toMap
    assert(byArchive.keys.map(_.split("/").last).toSet == Set("a.zip", "b.zip"))
  }

  test("user schema: subset accepted as projection, junk rejected") {
    val names = spark.read.format("zip-entries")
      .schema("entry_name STRING, archive STRING").load(zipA)
    assert(names.columns.toSeq == Seq("entry_name", "archive"))
    assert(names.select($"entry_name").as[String].collect().sorted.toSeq == Seq("x.txt", "y.txt"))
    val e = intercept[Exception] {
      spark.read.format("zip-entries").schema("bogus INT").load(zipA).count()
    }
    assert(e.getMessage.contains("unsupported field"))
  }

  test("STORED (uncompressed) entries read correctly through the sliced path") {
    val f = new java.io.File(dir, "stored.zip")
    val zos = new ZipOutputStream(new FileOutputStream(f), UTF_8)
    val payload = "uncompressed bytes here".getBytes(UTF_8)
    val ze = new ZipEntry("s.txt")
    ze.setMethod(ZipEntry.STORED)
    ze.setSize(payload.length)
    ze.setCompressedSize(payload.length)
    val crc = new java.util.zip.CRC32(); crc.update(payload)
    ze.setCrc(crc.getValue)
    zos.putNextEntry(ze); zos.write(payload); zos.closeEntry(); zos.close()
    val rows = withSplitBytes(1) {
      spark.read.format("zip-entries").load(f.getAbsolutePath)
        .select($"entry_name", $"content".cast("string")).as[(String, String)].collect().toMap
    }
    assert(rows == Map("s.txt" -> "uncompressed bytes here"))
  }

  test("randomized archives: sliced reader equals ZipInputStream on every entry") {
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 0 until 8) {
      val f = new java.io.File(dir, s"fuzz$trial.zip")
      val zos = new ZipOutputStream(new FileOutputStream(f), UTF_8)
      val entries = (0 until 1 + rnd.nextInt(40)).map { i =>
        // unicode names, empty/tiny/large payloads, mixed compressibility
        val name = if (i % 5 == 4) s"dir$i/ünï-✓$i.txt" else s"e$i.bin"
        val payload = new Array[Byte](rnd.nextInt(if (i % 7 == 6) 200000 else 500))
        if (i % 3 == 0) rnd.nextBytes(payload) // incompressible
        else java.util.Arrays.fill(payload, ('a' + i % 26).toByte)
        name -> payload
      }
      entries.foreach { case (n, p) =>
        zos.putNextEntry(new ZipEntry(n)); zos.write(p); zos.closeEntry()
      }
      zos.close()

      // force many tiny splits so the seek-inflate path is exercised
      val got = withSplitBytes(1024) {
        spark.read.format("zip-entries").load(f.getAbsolutePath)
          .select($"entry_name", $"content").as[(String, Array[Byte])]
          .collect().map { case (n, c) => n -> c.toSeq }.toMap
      }
      val expected = entries.map { case (n, p) => n -> p.toSeq }.toMap
      assert(got.keySet == expected.keySet, s"trial $trial: entry names differ")
      expected.foreach { case (n, p) =>
        assert(got(n) == p, s"trial $trial: content mismatch for $n")
      }
      assert(positioned(f) == expected, s"trial $trial: positioned read differs")
    }
  }

  test("coalesced range read (default) equals the per-entry positioned path") {
    // the content path fetches each split's whole byte range in ONE
    // ranged read and inflates out of the buffer; the positioned
    // per-entry read, ZipCentral.readEntry, must give identical bytes
    val f = new java.io.File(dir, "coal.zip")
    val zos = new ZipOutputStream(new FileOutputStream(f), UTF_8)
    val rnd = new scala.util.Random(20260815L)
    val entries = (0 until 30).map { i =>
      val payload = new Array[Byte](rnd.nextInt(5000))
      if (i % 2 == 0) rnd.nextBytes(payload)
      else java.util.Arrays.fill(payload, ('a' + i % 26).toByte)
      s"e$i.bin" -> payload
    }
    entries.foreach { case (n, p) =>
      zos.putNextEntry(new ZipEntry(n)); zos.write(p); zos.closeEntry()
    }
    zos.close()
    val viaBuffer = withSplitBytes(8192) {
      spark.read.format("zip-entries").load(f.getAbsolutePath)
        .select($"entry_name", $"content").as[(String, Array[Byte])]
        .collect().map { case (n, c) => n -> c.toSeq }.toMap
    }
    assert(viaBuffer.size == 30 && viaBuffer == positioned(f))
    assert(viaBuffer == entries.map { case (n, p) => n -> p.toSeq }.toMap)
  }

  test("readEntryFrom: reads from a covering buffer, None outside it") {
    val path = writeZip(dir, "rf.zip",
      "a.txt" -> "alpha payload", "b.txt" -> "beta payload longer")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(hp)
    val entries = try ZipCentral.list(in, bytes.length.toLong).get.entries finally in.close()
    val b = entries.find(_.name == "b.txt").get
    // full buffer covers everything
    assert(ZipCentral.readEntryFrom(bytes, 0L, b)
      .map(new String(_, UTF_8)).contains("beta payload longer"))
    // buffer starting past the entry's local header → fallback signal
    assert(ZipCentral.readEntryFrom(bytes.drop((b.offset + 1).toInt),
      b.offset + 1, b).isEmpty)
    // buffer truncated mid-payload → fallback signal
    assert(ZipCentral.readEntryFrom(bytes.take((b.offset + 31).toInt), 0L, b).isEmpty)
  }

  test("ZIP64 central directory (>65535 entries) parses metadata-only") {
    val f = new java.io.File(dir, "big64.zip")
    val zos = new ZipOutputStream(new FileOutputStream(f), UTF_8)
    val n = 66000
    (0 until n).foreach { i =>
      zos.putNextEntry(new ZipEntry(s"d/$i")); zos.write('a' + (i % 26)); zos.closeEntry()
    }
    zos.close()
    val df = spark.read.format("zip-entries").load(f.getAbsolutePath)
    // name-only projection: zero data I/O, straight off the ZIP64 CD
    assert(df.select($"entry_name").count() == n)
    // tiny entries: the per-split ENTRY cap (default 65536) bounds task
    // descriptor size — 66000 entries → 2 splits, not 1
    assert(df.rdd.getNumPartitions == 2)
    // spot-check content through the sliced reader
    val sample = df.filter($"entry_name" === "d/27")
      .select($"content".cast("string")).as[String].head()
    assert(sample == ('a' + 1).toChar.toString)
  }

  test("hidden files (_SUCCESS, dot-files) in an archive directory are skipped") {
    val d = java.nio.file.Files.createTempDirectory("graft-v2zip-hidden").toFile
    writeZip(d, "a.zip", "x.txt" -> "one two", "y.txt" -> "three")
    writeZip(d, "b.zip", "z.txt" -> "four five six")
    val expected = spark.read.format("zip-entries").load(s"$d/a.zip", s"$d/b.zip")
      .select($"entry_name", $"content".cast("string")).as[(String, String)].collect().toSet
    new java.io.File(d, "_SUCCESS").createNewFile()
    java.nio.file.Files.writeString(new java.io.File(d, ".notes").toPath, "not an archive")
    for (path <- Seq(d.toString, s"$d/*")) {
      val df = spark.read.format("zip-entries").load(path)
      assert(df.rdd.getNumPartitions == 2, s"$path planned hidden files")
      assert(df.select($"entry_name", $"content".cast("string"))
        .as[(String, String)].collect().toSet == expected)
    }
  }

  test("streamed fallback: an archive without its EOCD reads like ZipInputStream") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.v2.ZipArchivePartition
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos, UTF_8)
    Seq("a.txt" -> "alpha", "sub/" -> "", "b.txt" -> "bravo", "empty.txt" -> "", "c.txt" -> "charlie")
      .foreach { case (n, text) =>
        zos.putNextEntry(new ZipEntry(n)); zos.write(text.getBytes(UTF_8)); zos.closeEntry()
      }
    zos.close()
    // no archive comment, so the EOCD record is the last 22 bytes;
    // without it the central directory cannot be located
    val bytes = bos.toByteArray.dropRight(22)
    val f = new java.io.File(dir, "no-eocd.zip")
    java.nio.file.Files.write(f.toPath, bytes)
    val df = spark.read.format("zip-entries").load(f.getAbsolutePath)
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.inputPartitions.toSeq.map(_.getClass) == Seq(classOf[ZipArchivePartition]))
    val got = df.select($"entry_name", $"content").as[(String, Array[Byte])]
      .collect().map { case (n, c) => n -> c.toSeq }.toSeq
    val want = streamed(bytes)
    assert(want.map(_._1) == Seq("a.txt", "b.txt", "empty.txt", "c.txt"))
    assert(got == want)
    assert(new String(got.head._2.toArray, UTF_8) == "alpha" && got(2)._2.isEmpty)
  }
}
