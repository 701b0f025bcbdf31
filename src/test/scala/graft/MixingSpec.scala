package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Mixing

class MixingSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.load(spark, sfDir, "documents")

  test("rateThreshold maps rates to 8-hex-digit boundaries") {
    assert(Mixing.rateThreshold(0.5) === "80000000")
    assert(Mixing.rateThreshold(0.25) === "40000000")
    assert(Mixing.rateThreshold(0.125) === "20000000")
    assert(Mixing.rateThreshold(1.0) === "g")   // above every hex digit
    assert(Mixing.rateThreshold(1.5) === "g")
    assert(Mixing.rateThreshold(0.0) === "")    // below every string
    assert(Mixing.rateThreshold(-1.0) === "")
    // rates that ROUND to 2^32 must clamp to keep-all, not render as
    // a 9-char string that sorts below most 8-char coins
    assert(Mixing.rateThreshold(1.0 - 1e-12) === "g")
    assert(Mixing.rateThreshold(math.nextDown(1.0)) === "g")
    val justBelow = Mixing.rateThreshold(1.0 - 1e-9)
    assert(justBelow.length === 8 && justBelow > "f0000000")
  }

  test("sampleWeighted: clamps, monotone in rate, rate-accurate, zero-shuffle") {
    val ids = spark.range(0, 20000).toDF("id")
    assert(Mixing.sampleWeighted(ids, "id", lit(1.0), salt = "t").count() == 20000)
    assert(Mixing.sampleWeighted(ids, "id", lit(0.0), salt = "t").count() == 0)
    assert(Mixing.sampleWeighted(ids, "id", lit(-0.5), salt = "t").count() == 0)
    assert(Mixing.sampleWeighted(ids, "id", lit(2.0), salt = "t").count() == 20000)
    // a higher per-row rate keeps a SUPERSET (the coin is shared)
    val lo = Mixing.sampleWeighted(ids, "id", lit(0.2), salt = "t")
      .collect().map(_.getLong(0)).toSet
    val hi = Mixing.sampleWeighted(ids, "id", lit(0.6), salt = "t")
      .collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi))
    assert(math.abs(lo.size / 20000.0 - 0.2) < 0.02)
    assert(math.abs(hi.size / 20000.0 - 0.6) < 0.02)
    // genuinely per-row: rate depending on the row keeps exactly the
    // rows each constant-rate run kept in its half
    val split = Mixing.sampleWeighted(ids, "id",
        when(col("id") < 10000, lit(0.2)).otherwise(lit(0.6)), salt = "t")
      .collect().map(_.getLong(0)).toSet
    assert(split == lo.filter(_ < 10000) ++ hi.filter(_ >= 10000))
    // map-side only: no exchange anywhere in the plan
    val p = Mixing.sampleWeighted(ids, "id", lit(0.5), salt = "t")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"weighted sample shuffled:\n$p")
  }

  test("sampleStratified is deterministic, rate-accurate, and repartition-stable") {
    // one stratum, so the default rate never applies
    val ids = spark.range(0, 20000).toDF("id").withColumn("s", lit("all"))
    def sample(df: DataFrame, rate: Double) =
      Mixing.sampleStratified(df, "id", "s", Map("all" -> rate), salt = "t")
    val kept = sample(ids, 0.25)
    val n = kept.count()
    // binomial(20000, 0.25): mean 5000, sd ~61 — 5 sd of slack
    assert(math.abs(n - 5000) < 310, s"kept $n of 20000 at rate 0.25")
    // identical membership on a differently-partitioned copy
    val kept2 = sample(ids.repartition(13), 0.25)
    assert(kept2.count() === n)
    assert(kept.join(kept2, Seq("id"), "left_anti").count() === 0)
  }

  test("nested sample rates compose: the 0.125 sample is a subset of the 0.25 sample") {
    // same salt → the coin is shared → lower rates nest inside higher
    // ones (the property that makes staged down-sampling reproducible)
    val ids = spark.range(0, 5000).toDF("id").withColumn("s", lit("all"))
    val small = Mixing.sampleStratified(ids, "id", "s", Map("all" -> 0.125), salt = "t")
    val big = Mixing.sampleStratified(ids, "id", "s", Map("all" -> 0.25), salt = "t")
    assert(small.join(big, Seq("id"), "left_anti").count() === 0)
  }

  test("sampleStratified honors per-stratum rates and the default") {
    val d = docs
    val kept = Mixing.sampleStratified(d, "doc_id", "lang",
      Map("en" -> 1.0, "de" -> 0.0), defaultRate = 0.5, salt = "s")
    val byLang = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
    val totals = d.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang.getOrElse("en", 0L) === totals("en"))   // rate 1 keeps all
    assert(byLang.getOrElse("de", 0L) === 0L)             // rate 0 drops all
    val others = totals.keySet -- Set("en", "de")
    val keptOthers = others.toSeq.map(l => byLang.getOrElse(l, 0L)).sum
    val totalOthers = others.toSeq.map(totals).sum
    assert(keptOthers > 0 && keptOthers < totalOthers,
      s"default rate 0.5 kept $keptOthers of $totalOthers")
  }

  test("mixSources caps each source at its quota, deterministically") {
    val d = docs
    val mixed = Mixing.mixSources(d, "doc_id", "source",
      Map("src0" -> 3L, "src1" -> 1000L, "src2" -> 0L), defaultQuota = 2L,
      salt = "m")
    val bySrc = mixed.groupBy("source").count().as[(String, Long)].collect().toMap
    val totals = d.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc.getOrElse("src0", 0L) === math.min(3L, totals("src0")))
    assert(bySrc.getOrElse("src1", 0L) === totals("src1")) // quota above size
    assert(bySrc.getOrElse("src2", 0L) === 0L)
    (totals.keySet -- Set("src0", "src1", "src2")).foreach { s =>
      assert(bySrc.getOrElse(s, 0L) === math.min(2L, totals(s)))
    }
    // rank is dense 1..k within each source
    val ranks = mixed.filter($"source" === "src0")
      .select($"_rank").as[Long].collect().sorted
    assert(ranks.toSeq === (1L to ranks.length).toSeq)
    // re-running yields the identical membership
    val again = Mixing.mixSources(d, "doc_id", "source",
      Map("src0" -> 3L, "src1" -> 1000L, "src2" -> 0L), defaultQuota = 2L,
      salt = "m")
    assert(mixed.select("doc_id").except(again.select("doc_id")).count() === 0)
  }

  test("pre-filtering with the shared coin never changes mix winners") {
    // the Skew note on mixSources: the shared coin under an
    // overshooting rate is a safe pre-filter because coin order is
    // preserved
    val d = docs
    val direct = Mixing.mixSources(d, "doc_id", "source",
      Map.empty, defaultQuota = 5L, salt = "q")
    val pre = Mixing.sampleStratified(d, "doc_id", "source",
      Map("src0" -> 0.9), defaultRate = 0.9, salt = "q")
    val staged = Mixing.mixSources(pre, "doc_id", "source",
      Map.empty, defaultQuota = 5L, salt = "q")
    // winners whose coin survived the pre-filter are identical ranks;
    // with rate 0.9 » 5/25 per source the sets should coincide exactly
    // unless a winner was filtered — check that didn't happen here by
    // verifying every direct winner under the 0.9 threshold survived.
    val directUnder = direct
      .filter(substring(md5(concat($"doc_id".cast("string"), lit(":q"))
        .cast("binary")), 1, 8) < lit(Mixing.rateThreshold(0.9)))
    assert(directUnder.select("doc_id").except(staged.select("doc_id")).count() === 0)
  }

  test("enumerateShuffled matches the naive global ordering exactly") {
    val d = docs
    val got = Mixing.enumerateShuffled(d, "doc_id", salt = "t")
      .select($"doc_id", $"pos").as[(Long, Long)].collect().toMap
    // naive oracle: collect coins, sort on the driver
    def coin(id: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:t".getBytes("UTF-8")).map("%02x".format(_)).mkString
      h
    }
    val expected = d.select($"doc_id").as[Long].collect()
      .sortBy(id => (coin(id), id)).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    assert(got === expected)
    // positions are a contiguous 1..n permutation
    assert(got.values.toSeq.sorted === (1L to got.size).toSeq)
  }

  test("assignSplits is group-atomic and hits the weight boundaries") {
    val d = docs
    val split = Mixing.assignSplits(d, "source",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), salt = "t")
    // every source maps to exactly ONE split (leakage-safety)
    val perSource = split.groupBy($"source")
      .agg(countDistinct($"split").as("k")).filter($"k" =!= 1)
    assert(perSource.count() === 0)
    // all three labels valid; assignment matches the driver-side coin
    def coin(src: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$src:t".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val m = split.select($"source", $"split").distinct()
      .as[(String, String)].collect().toMap
    m.foreach { case (src, sp) =>
      val c = coin(src)
      val expected =
        if (c < Mixing.rateThreshold(0.8)) "train"
        else if (c < Mixing.rateThreshold(0.8 + 0.1 / 1.0)) "valid"
        else "test"
      assert(sp === expected, s"source $src coin $c")
    }
    // degenerate weights rejected
    intercept[IllegalArgumentException] {
      Mixing.assignSplits(d, "source", Seq("a" -> 0.0))
    }
  }

  test("packSequences lays out contiguous token runs per group") {
    val rows = Seq(
      ("a", 1L, 300L), ("a", 2L, 300L), ("a", 3L, 100L), ("a", 4L, 400L),
      ("b", 1L, 600L), ("b", 2L, 10L)
    ).toDF("src", "id", "n_tok")
    val packed = Mixing.packSequences(rows, "src", "id", "n_tok", budget = 512L)
      .orderBy("src", "id")
      .select("src", "id", "pack", "pack_offset")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(packed === Seq(
      ("a", 1L, 0L, 0L),     // before=0
      ("a", 2L, 0L, 300L),   // before=300
      ("a", 3L, 1L, 88L),    // before=600 → pack 1, offset 88
      ("a", 4L, 1L, 188L),   // before=700
      ("b", 1L, 0L, 0L),     // groups are independent
      ("b", 2L, 1L, 88L)     // before=600 (long doc spans packs)
    ))
  }

  test("packSequences: offsets reconstruct the exact cumulative layout") {
    val d = docs.select($"doc_id", $"source",
      graft.operators.TextAnalysis.tokenCount($"text").as("n_tok"))
    val packed = Mixing.packSequences(d, "source", "doc_id", "n_tok", budget = 512L)
    // global position = pack*budget + offset must equal the running sum
    val bad = packed
      .withColumn("pos", $"pack" * 512L + $"pack_offset")
      .withColumn("expected",
        coalesce(sum($"n_tok").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"source")
            .orderBy($"doc_id").rowsBetween(Long.MinValue, -1)), lit(0L)))
      .filter($"pos" =!= $"expected")
    assert(bad.count() === 0)
  }

  test("mixTemperature: quota is perSqrt*floor(sqrt(n)), winners stable under repartition") {
    val rows = (0L until 2000L).map(i => (i, if (i < 1600) "big" else "small"))
    val d = rows.toDF("id", "src")
    val kept = Mixing.mixTemperature(d, "id", "src", perSqrt = 3L, salt = "t")
    val bySrc = kept.groupBy($"src").count().as[(String, Long)].collect().toMap
    // big: 3*floor(sqrt(1600))=120; small: 3*floor(sqrt(400))=60 —
    // the 4x-bigger source contributes only 2x the rows (alpha = 0.5)
    assert(bySrc === Map("big" -> 120L, "small" -> 60L))
    // identical winner SET on a repartitioned copy
    val kept13 = Mixing.mixTemperature(d.repartition(13), "id", "src", 3L, "t")
    assert(kept.select($"id").except(kept13.select($"id")).count() === 0)
    assert(kept13.count() === 180)
    // quota >= n keeps everything
    val tiny = (0L until 5L).map((_, "s")).toDF("id", "src")
    assert(Mixing.mixTemperature(tiny, "id", "src", perSqrt = 100L, "t").count() === 5)
  }

  test("chunkTokens: exact window boundaries, overlap, and short tail") {
    val d = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" "))).toDF("id", "text")
    // size 4, stride 3 over 10 tokens → starts 0,3,6,9
    val chunks = Mixing.chunkTokens(d, "id", "text", chunkSize = 4, stride = 3)
      .orderBy($"chunk_id")
      .select($"chunk_id", $"start_tok", $"n_tok", $"chunk")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(chunks === Seq(
      (0L, 0L, 4L, "w1 w2 w3 w4"),
      (1L, 3L, 4L, "w4 w5 w6 w7"),
      (2L, 6L, 4L, "w7 w8 w9 w10"),
      (3L, 9L, 1L, "w10")))
  }

  test("chunkTokens: empty and whitespace-only docs yield no chunks; coverage is total") {
    val d = Seq((1L, ""), (2L, "   !!! "), (3L, "a b c")).toDF("id", "text")
    val chunks = Mixing.chunkTokens(d, "id", "text", chunkSize = 8, stride = 8)
    assert(chunks.select($"id").distinct().as[Long].collect().toSet === Set(3L))
    // non-overlapping chunking (stride == size) partitions the tokens:
    // summed chunk lengths equal the doc's token count for every doc
    val docsDf = docs
    val part = Mixing.chunkTokens(docsDf, "doc_id", "text", chunkSize = 32, stride = 32)
      .groupBy($"doc_id").agg(sum($"n_tok").as("covered"))
      .join(docsDf.select($"doc_id",
        graft.operators.TextAnalysis.tokenCount($"text").as("n_tok")), "doc_id")
      .filter($"covered" =!= $"n_tok")
    assert(part.count() === 0)
  }
}
