package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import graft.operators.Bigrams
import graft.operators.Bigrams.RecordMode
import graft.sources.DocFixtures

/** Golden end-to-end test against the reference's own sample corpus
  * member and the independently derived oracle (SURVEY.md §8.3):
  * zuni.txt line-mode → 75,584 distinct / 647,399 total; spot keys
  * `zu+i → 1700`, `hamilton+cushing → 15`, `parched+corn → 111`;
  * whole-file mode → 75,593 / 648,072, `parched+corn → 112`.
  *
  * The zuni checks need the reference checkout. Their in-repo twins run
  * the same two record modes over `DocFixtures.docsCorpus` (the corpus
  * t09 reads, which keeps zuni's stressors: FIXTURES.md §1.4) and
  * compare every key with the plain-Scala `WordCountV2` oracle.
  */
class BigramsSpec extends SparkSpec {
  import spark.implicits._
  import BigramJobSpec.wordCountV2

  private val zuni = "/root/reference/src/main/resources/sample/zuni.txt"

  private def spot(df: org.apache.spark.sql.DataFrame, key: String): Long = {
    val rows = df.filter($"bigram" === key).select($"count").as[Long].collect()
    if (rows.isEmpty) 0L else rows.head
  }

  test("zuni.txt line-mode matches the reference-derived oracle") {
    val df = Bigrams.fromTextFiles(spark, zuni, RecordMode.Lines).cache()
    val (distinct, total) = df.agg(count(lit(1)), sum($"count")).as[(Long, Long)].head()
    assert(distinct == 75584L)
    assert(total == 647399L)
    assert(spot(df, "zu+i") == 1700L)
    assert(spot(df, "hamilton+cushing") == 15L)
    assert(spot(df, "parched+corn") == 111L)
    df.unpersist()
  }

  test("zuni.txt whole-file mode matches the oracle (bigrams span lines)") {
    val df = Bigrams.fromTextFiles(spark, zuni, RecordMode.WholeFiles).cache()
    val (distinct, total) = df.agg(count(lit(1)), sum($"count")).as[(Long, Long)].head()
    assert(distinct == 75593L)
    assert(total == 648072L)
    assert(spot(df, "parched+corn") == 112L)
    df.unpersist()
  }

  /** Path and text of the docs corpus built from the sf0.001 tables. */
  private lazy val docsCorpus: (String, String) = {
    val path = DocFixtures.docsCorpus(spark, sfDir)
    val hp = new HPath(path)
    val in = hp.getFileSystem(spark.sparkContext.hadoopConfiguration).open(hp)
    try (path, new String(in.readAllBytes(), UTF_8)) finally in.close()
  }

  private def counts(mode: RecordMode): Map[String, Long] =
    Bigrams.fromTextFiles(spark, docsCorpus._1, mode).as[(String, Long)].collect().toMap

  test("docs corpus line mode matches the WordCountV2 oracle") {
    val want = wordCountV2(docsCorpus._2.split("\n").toSeq)
    assert(want.size > 500, s"corpus too small to test: ${want.size} bigrams")
    assert(counts(RecordMode.Lines) == want)
  }

  test("docs corpus whole-file mode matches the oracle (bigrams span lines)") {
    val want = wordCountV2(Seq(docsCorpus._2))
    // one record per file: the pairs across line ends are counted too
    assert(want.values.sum > wordCountV2(docsCorpus._2.split("\n").toSeq).values.sum)
    assert(counts(RecordMode.WholeFiles) == want)
  }

  test("TSV sink: part files, _SUCCESS, key-sorted within partitions") {
    val out = java.nio.file.Files.createTempDirectory("graft-tsv").toString + "/bigrams"
    val df = Seq(("b+c", 2L), ("a+b", 5L), ("c+d", 1L), ("d+e", 9L))
      .toDF("bigram", "count")
    Bigrams.writeTsv(df, out, numPartitions = 2)
    val dir = new java.io.File(out)
    assert(dir.listFiles().exists(_.getName == "_SUCCESS"))
    val parts = dir.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.nonEmpty)
    val lines = parts.flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
    assert(lines.length == 4)
    assert(lines.forall(_.matches("""[a-z]\+[a-z]\t\d+""")))
    // within each part file, keys are sorted
    parts.foreach { f =>
      val keys = scala.io.Source.fromFile(f).getLines().map(_.split("\t")(0)).toList
      assert(keys == keys.sorted)
    }
  }
}
