package graft

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.Locale
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions.spark_partition_id

import graft.BigramJob.Config
import graft.BigramPropertiesSpec.capped
import graft.operators.Bigrams
import graft.operators.Bigrams.RecordMode

object BigramJobSpec {

  /** `WordCountV2`'s mapper and reducer in plain Scala: runs of non-word
    * characters or underscores become a space, lowercase, split on
    * `StringTokenizer`'s delimiters, adjacent pairs as `a+b`, summed. */
  def wordCountV2(records: Seq[String]): Map[String, Long] =
    records.flatMap { r =>
      r.replaceAll("([^\\s\\w]|_)+", " ").toLowerCase(Locale.ROOT)
        .split("[ \t\n\r\f]+").filter(_.nonEmpty)
        .sliding(2).collect { case Array(a, b) => s"$a+$b" }
    }.groupMapReduce(identity)(_ => 1L)(_ + _)
}

class BigramJobSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._
  import BigramJobSpec.wordCountV2

  /** Hadoop's `HashPartitioner` over `Text.hashCode`, computed without the engine. */
  private def hadoopPart(key: String, n: Int): Int =
    (key.getBytes(UTF_8).foldLeft(1)((h, b) => 31 * h + b) & Int.MaxValue) % n

  /** Checks a `--hadoop-layout` output directory: exactly `n` part files
    * (empty ones included) and `_SUCCESS`, part `i` holding exactly the
    * keys placed in `i` by `Text.hashCode`, ascending, with `expected`'s counts. */
  private def assertHadoopLayout(out: String, n: Int, expected: Map[String, Long]): Unit = {
    val files = new File(out).listFiles()
    assert(files.exists(_.getName == "_SUCCESS"))
    val parts = files.filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == n)
    val lines = parts.map(f => Files.readAllLines(f.toPath, UTF_8).asScala.toSeq)
    lines.zipWithIndex.foreach { case (ls, i) =>
      val keys = ls.map(_.split("\t")(0))
      assert(keys == expected.keys.filter(hadoopPart(_, n) == i).toSeq.sorted, s"part $i")
    }
    assert(lines.flatten.map { l => val Array(k, v) = l.split("\t"); k -> v.toLong }.toMap == expected)
  }

  // Fewer distinct bigrams than parts, so most parts are empty; mixed
  // case, punctuation, digits, underscores and a non-ASCII letter.
  private val layoutDocs = Seq(
    "The cat sat; the cat ran.\ndog_house 42 cats",
    "\nalone\nCafé au lait, THE CAT!")

  test("hadoop-layout sink on a generated line corpus: all 32 parts, placement, order, counts") {
    val dir = Files.createTempDirectory("graft-hl-lines")
    val in = dir.resolve("corpus.txt")
    Files.write(in, layoutDocs.mkString("\n").getBytes(UTF_8))
    val out = dir.resolve("out").toString
    BigramJob.run(spark, Config(RecordMode.Lines, partitions = 32, hadoopLayout = true,
      input = in.toString, output = out))
    val expected = wordCountV2(layoutDocs.mkString("\n").split("\n").toSeq)
    assert(expected.size < 32)
    assertHadoopLayout(out, 32, expected)
  }

  test("hadoop-layout sink on a generated ZIP whole-file corpus: all 32 parts, placement, order, counts") {
    val dir = Files.createTempDirectory("graft-hl-zip")
    val in = dir.resolve("corpus.zip")
    val zip = new ZipOutputStream(new FileOutputStream(in.toFile))
    try layoutDocs.zipWithIndex.foreach { case (doc, i) =>
      zip.putNextEntry(new ZipEntry(s"doc$i.txt"))
      zip.write(doc.getBytes(UTF_8))
      zip.closeEntry()
    } finally zip.close()
    val out = dir.resolve("out").toString
    BigramJob.run(spark, Config(RecordMode.WholeFiles, zip = true, partitions = 32,
      hadoopLayout = true, input = in.toString, output = out))
    val expected = wordCountV2(layoutDocs)
    assert(expected.size < 32)
    assertHadoopLayout(out, 32, expected)
  }

  /** Runs `f` with AQE's initial shuffle partition count pinned to `n`. */
  private def withInitialPartitions[T](n: Int)(f: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  test("hadoop-layout plan: one exchange, the pass-through, and exactly n parts for any initialPartitionNum") {
    val dir = Files.createTempDirectory("graft-hl-plan")
    val in = dir.resolve("corpus.txt")
    Files.write(in, layoutDocs.mkString("\n").getBytes(UTF_8))
    val expected = wordCountV2(layoutDocs.mkString("\n").split("\n").toSeq)
    for (initial <- Seq(32, 8)) withInitialPartitions(initial) {
      val lines = BigramJob.hadoopLayoutLines(
        Bigrams.pairCounts(Bigrams.readText(spark, in.toString, RecordMode.Lines)), 32)
      lines.collect()
      val plan = lines.queryExecution.executedPlan
      val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.length == 1, plan.treeString)
      assert(exchanges.head.outputPartitioning.isInstanceOf[ShufflePartitionIdPassThrough],
        plan.treeString)
      assert(exchanges.head.shuffleOrigin == REPARTITION_BY_NUM)
      val out = dir.resolve(s"out$initial").toString
      BigramJob.run(spark, Config(RecordMode.Lines, partitions = 32, hadoopLayout = true,
        input = in.toString, output = out))
      assertHadoopLayout(out, 32, expected)
    }
  }

  // one bigram in every record, whose distinct pairs outnumber the cap
  private val repeated = layoutDocs ++ Seq.fill(9)("the cat sat on the mat the cat")

  test("hadoop-layout sums after its exchange: partial counts from 3 map partitions and across flushes") {
    val pairs = repeated.toDF("value").repartition(3).select(capped($"value", 3))
    val theCat = pairs.where($"bigram" === "the+cat")
      .select(spark_partition_id()).as[Int].collect()
    assert(theCat.distinct.length >= 3, "the+cat must come from 3 map partitions")
    assert(theCat.length > theCat.distinct.length, "the cap never flushed the+cat")
    val out = Files.createTempDirectory("graft-hl-partial").resolve("out").toString
    BigramJob.writeHadoopLayout(pairs, out, 32)
    assertHadoopLayout(out, 32, wordCountV2(repeated))
  }

  test("hadoop-layout sink writes the same bytes from final and from partial counts") {
    val records = repeated.toDF("value").repartition(3)
    val dir = Files.createTempDirectory("graft-hl-same")
    def parts(name: String, counts: DataFrame): Map[String, Seq[Byte]] = {
      val out = dir.resolve(name).toString
      BigramJob.writeHadoopLayout(counts, out, 32)
      new File(out).listFiles().filter(_.getName.startsWith("part-"))
        .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val fromFinal = parts("final", Bigrams.counts(records))
    assert(fromFinal.size == 32)
    assert(parts("partial", Bigrams.pairCounts(records)) == fromFinal)
  }

  test("arg parsing: reference contract plus flags, clean errors") {
    assert(BigramJob.parseArgs(Seq("in", "out")) ==
      Right(Config(input = "in", output = "out")))
    assert(BigramJob.parseArgs(Seq("--mode", "file", "--zip", "--partitions", "8",
      "--hadoop-layout", "in", "out")) ==
      Right(Config(RecordMode.WholeFiles, zip = true, partitions = 8,
        hadoopLayout = true, "in", "out")))
    assert(BigramJob.parseArgs(Seq("in")).isLeft)          // the reference crashed here
    assert(BigramJob.parseArgs(Seq("a", "b", "c")).isLeft)
    assert(BigramJob.parseArgs(Seq("--mode", "bogus", "in", "out")).isLeft)
    assert(BigramJob.parseArgs(Seq("--partitions", "x", "in", "out")).isLeft)
    assert(BigramJob.parseArgs(Seq("--partitions", "0", "in", "out")).isLeft)
    assert(BigramJob.parseArgs(Seq("--partitions", "99999999999", "in", "out")).isLeft)
    assert(BigramJob.parseArgs(Seq("--frobnicate", "in", "out")).isLeft)
  }

  test("--conf k=v passthrough parses, applies to the session, and rejects junk") {
    assert(BigramJob.parseArgs(Seq("--conf", "spark.sql.shuffle.partitions=7",
      "--conf", "spark.sql.ansi.enabled=false", "in", "out")) ==
      Right(Config(input = "in", output = "out",
        conf = Map("spark.sql.shuffle.partitions" -> "7",
                   "spark.sql.ansi.enabled" -> "false"))))
    // value may itself contain '='; key may not be empty
    assert(BigramJob.parseArgs(Seq("--conf", "a.b=x=y", "in", "out")) ==
      Right(Config(input = "in", output = "out", conf = Map("a.b" -> "x=y"))))
    assert(BigramJob.parseArgs(Seq("--conf", "novalue", "in", "out")).isLeft)
    assert(BigramJob.parseArgs(Seq("--conf", "=v", "in", "out")).isLeft)
    assert(BigramJob.parseArgs(Seq("--conf")).isLeft)

    // a runtime-modifiable conf reaches the live session during run()
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val dir = Files.createTempDirectory("graft-conf")
      val in = dir.resolve("corpus.txt")
      Files.write(in, layoutDocs.mkString("\n").getBytes(UTF_8))
      val out = dir.resolve("bigrams").toString
      BigramJob.run(spark, Config(
        input = in.toString, output = out,
        conf = Map("spark.sql.shuffle.partitions" -> "7",
                   // static conf: must be skipped, not crash
                   "spark.master" -> "local[1]")))
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("hadoop-layout sink: Text.hashCode placement, sorted parts, golden key positions") {
    val out = java.nio.file.Files.createTempDirectory("graft-hl").toString + "/bigrams"
    val zuni = "/root/reference/src/main/resources/sample/zuni.txt"
    BigramJob.run(spark, Config(RecordMode.Lines, zip = false, partitions = 32,
      hadoopLayout = true, zuni, out))

    val dir = new java.io.File(out)
    val parts = dir.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == 32)
    assert(dir.listFiles().exists(_.getName == "_SUCCESS"))

    // keys sorted within every partition and placed per Text.hashCode % 32
    parts.zipWithIndex.foreach { case (f, idx) =>
      val keys = scala.io.Source.fromFile(f).getLines().map(_.split("\t")(0)).toList
      assert(keys == keys.sorted, s"partition $idx not sorted")
      keys.foreach { k =>
        val expected = hadoopPart(k, 32)
        assert(expected == idx, s"key $k in part $idx, expected $expected")
      }
    }

    // the golden sample key from SURVEY §8.4: zu+i lives in partition 26
    // with count 1700 (line mode)
    val p26 = scala.io.Source.fromFile(parts(26)).getLines()
      .map(_.split("\t")).find(_(0) == "zu+i")
    assert(p26.exists(_(1) == "1700"))

    // merged content equals the declarative pipeline's result
    val merged = parts.flatMap(f => scala.io.Source.fromFile(f).getLines())
      .map { l => val Array(k, v) = l.split("\t"); (k, v.toLong) }.toMap
    val expected = graft.operators.Bigrams
      .fromTextFiles(spark, zuni, RecordMode.Lines)
      .as[(String, Long)].collect().toMap
    assert(merged == expected)
  }
}
