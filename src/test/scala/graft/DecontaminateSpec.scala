package graft

import org.apache.spark.sql.functions._

import graft.operators.Decontaminate

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.load(spark, sfDir, "documents")

  test("planted exact leaks score full containment; clean() removes them") {
    val d = docs
    val bench = d.filter($"doc_id" % 7 === 0)
    val corpus = d.filter($"doc_id" % 7 =!= 0)
      .unionByName(bench.withColumn("doc_id", $"doc_id" + 100000L))
    val scores = Decontaminate.overlapScores(corpus, bench.select($"text"),
      "doc_id", "text", n = 3)
    // every planted leak is fully contained
    val planted = scores.filter($"doc_id" >= 100000L)
    assert(planted.count() === bench.count())
    assert(planted.filter($"overlap" =!= 1.0).count() === 0)
    assert(planted.filter($"n_hit" =!= $"n_sh").count() === 0)
    // clean() drops exactly the >= threshold docs
    val cleaned = Decontaminate.clean(corpus, bench.select($"text"),
      "doc_id", "text", n = 3, maxOverlap = 0.5)
    val dirtyIds = scores.filter($"overlap" >= 0.5).select("doc_id")
    assert(cleaned.count() === corpus.count() - dirtyIds.count())
    assert(cleaned.join(dirtyIds, Seq("doc_id"), "left_semi").count() === 0)
  }

  test("overlap agrees with a brute-force shingle intersection") {
    val d = docs.limit(60)
    val bench = d.filter($"doc_id" % 5 === 0)
    val corpus = d.filter($"doc_id" % 5 =!= 0)
    val scores = Decontaminate.overlapScores(corpus, bench.select($"text"),
        "doc_id", "text", n = 3)
      .select($"doc_id", $"n_hit", $"n_sh")
      .as[(Long, Long, Long)].collect()
      .map { case (id, a, b) => id -> ((a, b)) }.toMap

    // brute force on the driver with an independent shingling
    def shingles(t: String): Set[String] = {
      val toks = t.toLowerCase.replaceAll("([^\\s\\w]|_)+", " ")
        .split("\\s+").filter(_.nonEmpty)
      toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val benchSet = bench.select($"text").as[String].collect()
      .flatMap(shingles).toSet
    val expected = corpus.select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) =>
        val sh = shingles(t)
        id -> ((sh & benchSet).size.toLong, sh.size.toLong)
      }.filter(_._2._2 >= 1).toMap
    assert(scores === expected)
  }

  test("sourceOverlap: containment bounded, subsets detected, maxDf cap honored") {
    // s2's docs are a strict subset of s1's content → containment 1.0
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "s1"),
      (2L, "one two three four five six seven", "s1"),
      (3L, "alpha beta gamma delta epsilon zeta", "s2"),
      (4L, "totally unrelated content entirely here now", "s3")
    ).toDF("doc_id", "text", "source")
    val got = Decontaminate.sourceOverlap(d, "source", "text", n = 3)
      .select($"source_a", $"source_b", $"n_shared", $"containment")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got === Seq(("s1", "s2", 4L, 1.0)))   // 4 trigrams, full containment
    // the ubiquitous shingles dropped by maxDf kill the pair entirely
    val capped = Decontaminate.sourceOverlap(d, "source", "text", n = 3, maxDf = 1)
    assert(capped.count() === 0)
  }

  test("sourceOverlap: pinned-exchange path (parts > 0) equals the default path") {
    // the sized path reorders the dedup (partition-local under the
    // shingle hash) and drops an exchange — the ANSWER must be
    // bit-identical on a corpus with real cross-source overlap,
    // including under maxDf
    val d = docs.withColumn("source",
      concat(lit("s"), ($"doc_id" % 7).cast("string")))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"source_a", $"source_b", $"n_shared", round($"containment", 9))
        .as[(String, String, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val base = canon(Decontaminate.sourceOverlap(d, "source", "text", n = 3))
    val pinned = canon(Decontaminate.sourceOverlap(d, "source", "text", n = 3,
      parts = Some(7)))
    assert(base.nonEmpty, "corpus produced no overlapping source pairs")
    assert(pinned === base)
    val baseCap = canon(Decontaminate.sourceOverlap(d, "source", "text", n = 3,
      maxDf = 3))
    val pinnedCap = canon(Decontaminate.sourceOverlap(d, "source", "text", n = 3,
      maxDf = 3, parts = Some(5)))
    assert(pinnedCap === baseCap)
  }

  test("short documents (no shingles) are absent from scores and kept by clean()") {
    val tiny = Seq((1L, "only two"), (2L, "a much longer document with many tokens inside"))
      .toDF("doc_id", "text")
    val bench = Seq(Tuple1("only two")).toDF("text")
    val scores = Decontaminate.overlapScores(tiny, bench, "doc_id", "text", n = 3)
    assert(scores.filter($"doc_id" === 1L).count() === 0)
    val cleaned = Decontaminate.clean(tiny, bench, "doc_id", "text", n = 3,
      maxOverlap = 0.1)
    assert(cleaned.filter($"doc_id" === 1L).count() === 1)
  }
}
