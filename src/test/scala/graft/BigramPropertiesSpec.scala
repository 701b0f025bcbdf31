package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{CoalesceExec, GenerateExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Bigrams
import graft.functions.BigramCounts
import graft.functions.TextFunctions._

object BigramPropertiesSpec {

  /** `bigram_counts` flushing its table every `maxPairs` distinct pairs. */
  def capped(c: Column, maxPairs: Int): Column =
    ColumnBridge.column(BigramCounts(ColumnBridge.expression(c), maxPairs))
}

/** Property-based invariants from SURVEY.md §5.3 over arbitrary
  * corpora: conservation of counts, key alphabet, mode ordering.
  * (Raw ScalaCheck generators with fixed seeds — the scalatest bridge
  * artifact isn't available offline.) */
class BigramPropertiesSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._
  import BigramPropertiesSpec.capped

  private val recordGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    toks <- Gen.listOfN(n, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("Zuñi", "a_b", "x!!y", "...", "многа", "42", "_", "parched")))
    seps <- Gen.listOfN(n + 1, Gen.oneOf(" ", "  ", "\t", ", ", "; "))
  } yield seps.zipAll(toks, " ", "").flatMap { case (s, t) => Seq(s, t) }.mkString

  private def corpora(size: Int, rounds: Int): Seq[List[String]] =
    (0 until rounds).map { i =>
      Gen.listOfN(size, recordGen)
        .pureApply(Gen.Parameters.default, Seed(42L + i))
    }

  test("Σ counts = Σ max(0, tokens(record) − 1) over records") {
    for (records <- corpora(25, 15)) {
      val df = records.toDF("value")
      val expected = df.select(greatest(size(tokenize($"value")) - 1, lit(0)).as("c"))
        .agg(sum($"c")).as[Option[Long]].head().getOrElse(0L)
      val total = Bigrams.counts(df).agg(coalesce(sum($"count"), lit(0L)))
        .as[Long].head()
      assert(total == expected, s"corpus=$records")
    }
  }

  test("key alphabet ⊆ [a-z0-9+], every count ≥ 1, token halves non-empty") {
    for (records <- corpora(25, 15)) {
      val rows = Bigrams.counts(records.toDF("value")).as[(String, Long)].collect()
      rows.foreach { case (k, c) =>
        assert(c >= 1)
        assert(k.matches("[a-z0-9]+\\+[a-z0-9]+"), s"bad key '$k' in $records")
      }
    }
  }

  test("line-mode counts ≤ whole-file-mode counts key-wise") {
    for (records <- corpora(12, 10)) {
      val text = records.mkString("\n")
      val asLines = Bigrams.counts(text.split("\n").toSeq.toDF("value"))
        .as[(String, Long)].collect().toMap
      val asFile = Bigrams.counts(Seq(text).toDF("value"))
        .as[(String, Long)].collect().toMap
      asLines.foreach { case (k, c) =>
        assert(asFile.getOrElse(k, 0L) >= c, s"key $k: line=$c file=${asFile.get(k)}")
      }
    }
  }

  /** Records the in-mapper counter must tokenize exactly as the
    * regex pipeline does: non-ASCII letters, `_`, digit runs, tabs,
    * 0x0B (split, as [[tokenize]] documents), null / empty / one-token
    * records, tokens past both the tokenizer's 32-byte and the
    * dictionary's 4 KB initial buffers, and a 640 KB line of mostly
    * distinct tokens (grows both hash tables). */
  private val stressors: Seq[String] = {
    val rnd = new scala.util.Random(640)
    val longLine = new StringBuilder
    while (longLine.length < 640 * 1024) {
      longLine ++= rnd.alphanumeric.take(1 + rnd.nextInt(9)).mkString
      longLine += (if (rnd.nextInt(8) == 0) '_' else ' ')
    }
    Seq(null, "", "solo", "   ", "...", "42", "Zuñi Zuñi ñandú, Café CAFÉ",
      "многа слоў mixed ASCII", "a_b__c _lead trail_ __", "x1 22 333 4444 007 x1 22",
      "tab\tsep\t\tarated tab\tsep", "v\u000Bt a\u000Bb v\u000Bt", "Aa AA aa aA",
      ("x" * 40) + " " + ("Y" * 40) + " " + ("x" * 40),
      ("k" * 5000) + " z " + ("K" * 5000) + " z", longLine.toString)
  }

  private def corpusDfs: Seq[DataFrame] =
    (corpora(25, 15) :+ stressors).map(_.toDF("value"))

  /** The per-occurrence pipeline `counts` replaced: regex tokens,
    * `element_at` bigrams, explode, count. */
  private def explodeCounts(df: DataFrame): Map[String, Long] =
    df.select(tokenizeBuiltin($"value").as("t"))
      .select(explode(ngramsBuiltin($"t", 2, "+")).as("bigram"))
      .groupBy("bigram").count()
      .as[(String, Long)].collect().toMap

  private def summed(df: DataFrame): Map[String, Long] =
    df.groupBy("bigram").agg(sum("count")).as[(String, Long)].collect().toMap

  test("counts equals explode(ngrams(tokenize)) → count, per key") {
    for (df <- corpusDfs) {
      val got = Bigrams.counts(df).as[(String, Long)].collect()
      assert(got.map(_._1).distinct.length == got.length, "a key came out twice")
      assert(got.toMap == explodeCounts(df))
    }
  }

  test("bigram_counts flushing every 3 distinct pairs gives the same counts") {
    for (df <- corpusDfs) {
      val flushed = df.select(capped($"value", 3))
      val (rows, sums) = (flushed.count(), summed(flushed))
      assert(sums == explodeCounts(df))
      assert(rows > sums.size, "the cap never flushed")
    }
  }

  test("bigram_counts resets per partition: Generate below coalesce(1) over 3 partitions") {
    val records = stressors.filter(_ != null).take(12) ++
      Seq.fill(9)("the cat sat on the mat the cat")
    val df = records.toDF("value").repartition(3)
    val agg = df.select(bigramCounts($"value")).coalesce(1)
      .groupBy("bigram").agg(sum("count"))
    val got = agg.as[(String, Long)].collect().toMap
    assert(got == explodeCounts(df))
    assert(got("the+cat") == 18L)
    val coalesced = collect(agg.queryExecution.executedPlan) { case c: CoalesceExec => c }
    assert(coalesced.map(_.numPartitions) == Seq(1))
    assert(coalesced.head.child.isInstanceOf[GenerateExec], coalesced.head.treeString)
    assert(df.rdd.getNumPartitions == 3)
  }
}
