package graft

import org.apache.spark.sql.functions.{lit, when}

import graft.operators.{Dedup, PartitionSizing}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // a corpus with: exact dups (0,1), near-dups (2,3), distinct (4,5)
  private lazy val corpus = Seq(
    (0L, "The quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the QUICK brown fox, jumps over the lazy dog near the river bank today!!"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
    (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu CHANGED"),
    (4L, "completely different content about databases and distributed query engines"),
    (5L, "spark catalyst optimizer pushes filters below joins for scan pruning wins"),
  ).toDF("doc_id", "text")

  test("exact dedup: normalization-equal docs collapse, min id survives") {
    val keep = Dedup.exactKeepIds(corpus, "doc_id", "text").as[Long].collect().sorted.toSeq
    assert(keep == Seq(0L, 2L, 3L, 4L, 5L))
  }

  test("exact groups report multiplicity") {
    val groups = Dedup.exactGroups(corpus, "doc_id", "text")
      .select($"keep_id", $"n_dups").as[(Long, Long)].collect().toMap
    assert(groups(0L) == 2L)
    assert(groups(2L) == 1L)
  }

  test("keep-best dedup: highest score survives, ties to smallest id") {
    val scored = corpus.withColumn("score",
      when($"doc_id" === 1L, 10L).otherwise(1L))
    // docs 0 and 1 are normalization-equal; doc 1 has the higher score
    val keep = Dedup.keepBestIds(scored, "doc_id", "text", "score")
      .as[Long].collect().sorted.toSeq
    assert(keep === Seq(1L, 2L, 3L, 4L, 5L))
    // constant scores degenerate to d02's min-id policy
    val const = corpus.withColumn("score", lit(7L))
    assert(Dedup.keepBestIds(const, "doc_id", "text", "score")
      .as[Long].collect().sorted.toSeq ===
      Dedup.exactKeepIds(corpus, "doc_id", "text").as[Long].collect().sorted.toSeq)
  }

  test("n-gram Jaccard finds exact and near pairs with correct scores") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, minJaccard = 0.3)
      .select($"a_id", $"b_id", $"jaccard").as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((0L, 1L)) == 1.0) // identical after sanitization
    assert(pairs.contains((2L, 3L)) && pairs((2L, 3L)) > 0.5)
    assert(!pairs.contains((4L, 5L)))
  }

  test("capped d03 plan scans the corpus once: window df cap rides the anchor exchange") {
    // At sf10+ the derived cap engages. r14 shipped it as a
    // df-count + anti-join branch pair: ColumnPruning pushed a
    // Project[shingle] below the count branch's copy of the anchor
    // Repartition, the Exchange subtrees diverged, and ReuseExchange
    // silently recomputed tokenize+shingle per branch — exactly at the
    // scales where the scan is the expensive part. The cap is now a
    // window count over the anchor. Force it here (maxDf=3 with df-4
    // shingles, so the cap is live and rows are really dropped) and
    // pin the shape: ONE tokenize+explode subtree, ONE shingle
    // exchange, every other consumer a ReusedExchange.
    val d = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "a b c f"), (4L, "a b c g"),
      (5L, "x y z w"), (6L, "x y z w")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3,
      minJaccard = 0.3, maxDf = 3, pairParts = Some(4), nDocs = 6L)
    val rows = pairs.collect()
    // "a b c" (df 4) is capped out, so docs 1-4 cannot pair; 5/6 are
    // exact dups through uncapped shingles
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((5L, 6L)))
    // adaptive toString appends the pre-reuse "Initial Plan" — count
    // subtrees in the FINAL plan only
    val p = pairs.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("ReusedExchange".r.findAllIn(p).length >= 2,
      s"capped plan lost exchange reuse:\n${p.take(1500)}")
    val scans = "Generate explode".r.findAllIn(p).length
    assert(scans == 1,
      s"corpus tokenized/exploded $scans times in the capped plan:\n${p.take(1500)}")
    // the cap itself must not add an exchange: exactly one shingle
    // hash exchange (the pinned anchor) in the whole plan —
    // ReusedExchange lines repeat the referent's text, skip them
    val shingleEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(shingle") && !l.contains("ReusedExchange"))
    assert(shingleEx == 1,
      s"df cap grew $shingleEx shingle exchanges:\n${p.take(1500)}")
  }

  test("deriveMiningBudget: predicted pairs = brute-force join cost; cap binds only over budget") {
    // 4 docs sharing "a b c" (df up to 4 on its shingles) + 1 disjoint
    val d = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "a b c f"), (4L, "a b c g"),
      (5L, "x y z w")
    ).toDF("doc_id", "text")
    // brute-force the join cost model from the actual shingle table:
    // Σ_shingle df·min(df, cap) candidate probe×partner rows
    val dfs = Dedup.shingles(d, "doc_id", "text", 3)
      .groupBy($"shingle").count().as[(String, Long)].collect().map(_._2)
    def brute(cap: Long) = dfs.map(df => df.toDouble * math.min(df, cap)).sum
    // generous budget: uncapped, prediction equals Σ df²
    val un = Dedup.deriveMiningBudget(d, "doc_id", "text", pairBudgetPerOcc = 64.0)
    assert(un.maxDf === Int.MaxValue)
    assert(un.predictedPairs === brute(Long.MaxValue))
    // the pair-join width (PartitionSizing over stateBytes): None
    // (leave to AQE) while the WHOLE modeled state fits one task's
    // 256 MB share, then floored at cores and growing with predicted
    // volume
    def width(b: Dedup.MiningBudget) = PartitionSizing.parts(32, b.stateBytes)
    assert(width(un) === None, "tiny corpus: no pin")
    val boundary = (256L << 20) / 48  // modeled state exactly 256 MB
    assert(width(Dedup.MiningBudget(16, boundary.toDouble)) === None,
      "256 MB modeled state = the boundary, still AQE")
    // the floor is a WALL choice, not state: d03 at sf1 measured
    // 2.08 s with it vs 6.16 s at the model's bare width
    assert(width(Dedup.MiningBudget(16, boundary * 1.2)) === Some(32),
      "past the boundary: pinned, floored at cores")
    assert(width(Dedup.MiningBudget(16, 1e10)) ===
      Some(math.ceil(1e10 * 48.0 / (256L << 20)).toInt))
    assert(width(Dedup.MiningBudget(16, 1e12)) === Some(4096), "upper clamp")
    // the scaled view: the fraction rescales the PREDICTION, so both
    // the engage threshold and the width see the slice's share
    assert(width(Dedup.MiningBudget(16, boundary * 4.0).scaled(0.1)) === None,
      "a slice below one task's share stays on AQE")
    assert(width(Dedup.MiningBudget(16, 1e10).scaled(0.5)) ===
      Some(math.ceil(5e9 * 48.0 / (256L << 20)).toInt))
    // starvation budget: cap engages at the floor, prediction matches
    // the brute-force cost AT that cap
    val capped = Dedup.deriveMiningBudget(d, "doc_id", "text", pairBudgetPerOcc = 0.001)
    assert(capped.maxDf === 16, "cap floors at 16")
    assert(capped.predictedPairs === brute(capped.maxDf.toLong))
    // empty corpus: uncapped, zero pairs, no pin
    val empty = Dedup.deriveMiningBudget(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    assert(empty.maxDf === Int.MaxValue && empty.predictedPairs === 0.0)
    assert(width(empty) === None, "zero pairs: nothing to pin")
  }

  test("MinHash-LSH recall: finds every pair the exact method finds (small corpus)") {
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, minJaccard = 0.5)
      .select($"a_id", $"b_id", $"jaccard").as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.minHashPairs(corpus, "doc_id", "text", n = 3, k = 64, bands = 16,
        minJaccard = 0.5)
      .select($"a_id", $"b_id", $"jaccard").as[(Long, Long, Double)].collect().toSet
    // LSH verifies candidates with the same exact Jaccard → lsh ⊆ exact,
    // and at J ≥ 0.5 with 16×4 banding recall should be total here
    assert(lsh == exact, s"lsh=$lsh exact=$exact")
    assert(exact.nonEmpty)
  }

  test("MinHash-LSH rehash: identity when no bucket is oversized") {
    val plain = Dedup.minHashPairs(corpus, "doc_id", "text", n = 3, k = 64,
        bands = 16, minJaccard = 0.5)
      .select($"a_id", $"b_id", $"jaccard").as[(Long, Long, Double)].collect().toSet
    // threshold far above any occupancy here → F = 1 everywhere, the
    // split is the identity and results must be EXACTLY equal
    val rehashed = Dedup.minHashPairs(corpus, "doc_id", "text", n = 3, k = 64,
        bands = 16, minJaccard = 0.5, rehashBucketSize = 10000)
      .select($"a_id", $"b_id", $"jaccard").as[(Long, Long, Double)].collect().toSet
    assert(rehashed == plain)
    assert(plain.nonEmpty)
  }

  test("MinHash-LSH rehash: identical docs always pair, even when split") {
    // 30 exact copies force every band's bucket to occupancy ≥ 30;
    // threshold 8 splits each into ceil(30/8) = 4 sub-buckets — but
    // identical signatures share every sub-bucket, so ALL C(30,2)
    // pairs must survive (the planted-recall contract d04 rides on)
    val dups = (0 until 30).map(i => (i.toLong, "the quick brown fox jumps " +
      "over the lazy dog again and again in every single copy"))
    val others = Seq((100L, "completely unrelated text about parquet files"),
      (101L, "another distinct document with its own words entirely"))
    val df = (dups ++ others).toDF("doc_id", "text")
    val got = Dedup.minHashPairs(df, "doc_id", "text", n = 3, k = 64,
        bands = 16, minJaccard = 0.5, rehashBucketSize = 8)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val want = (for (a <- 0 until 30; b <- a + 1 until 30)
      yield (a.toLong, b.toLong)).toSet
    assert(got == want, s"missing ${want -- got}, extra ${got -- want}")
  }

  test("MinHash-LSH agrees with exact method on the real documents table") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.5)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashPairs(docs, "doc_id", "text", n = 3, k = 64, bands = 16,
        minJaccard = 0.5)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    // banding (16 bands × 4 rows): P[miss | J=0.5] = (1-0.5^4)^16 ≈ 0.36,
    // but pairs here are mostly J≈1 dups → expect near-total recall
    val missed = exact -- lsh
    assert(missed.size <= math.max(1, exact.size / 5), s"missed $missed of $exact")
  }

  // d04's oracle is exact set-Jaccard over the planted corpus; the
  // MinHash-LSH query equals it only with probability
  // prod_organic_pairs (1 - (1 - j^r)^b). Planted pairs (j=1) always
  // collide; an organic pair at moderate j is caught only
  // probabilistically — e.g. sf0.001 has an organic (33,436) at
  // j=0.889, P[miss] ≈ 1.5e-7. The CHECKED invariant is the total miss
  // probability across all organic pairs, bounded at 1e-4: regenerated
  // data with a pair in the genuinely risky band (j ≲ 0.75 →
  // P[miss] > 1e-2) fails this test before it can flake the oracle.
  test("d04 oracle precondition: total LSH miss probability < 1e-4 (16x4 banding)") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val organic = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.5)
        .select($"a_id", $"b_id", $"jaccard").as[(Long, Long, Double)].collect()
      val pMiss = organic.map { case (_, _, j) => math.pow(1.0 - math.pow(j, 4), 16) }.sum
      assert(pMiss < 1e-4,
        s"$sf: organic pairs too dissimilar for deterministic LSH recall " +
          s"(total P[miss]=$pMiss): ${organic.toSeq}")
    }
  }

  // d05's oracle (exactly the planted pairs at Hamming 0) requires the
  // bare doc_id < 25 slice to contain no organic pair at Hamming <= 3.
  // Jaccard < 0.5 does NOT bound SimHash Hamming distance — and the
  // slice content differs per SF: sf0.001's slice HAS an organic pair
  // (8,12) at Hamming 2, so d05's oracle holds only at SFs where this
  // precondition is verified. Checked at sf0.01 (the driver's verify
  // SF, where the oracle runs) and sf0.1 (the bench SF); a data regen
  // that plants an organic near-dup into the slice fails here first.
  test("d05 oracle precondition: bare doc_id<25 slice has no organic Hamming<=3 pair") {
    for (sf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val slice = spark.read.parquet(s"$sf/documents.parquet").filter($"doc_id" < 25)
      val pairs = Dedup.simHashPairs(slice, "doc_id", "text", maxHamming = 3)
        .select($"a_id", $"b_id", $"hamming").as[(Long, Long, Int)].collect()
      assert(pairs.isEmpty, s"$sf: organic SimHash pairs break d05's oracle: ${pairs.toSeq}")
    }
  }

  test("SimHash finds near-identical docs within Hamming 3") {
    val pairs = Dedup.simHashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // identical after sanitize → distance 0
  }

  test("snapshotDiff classifies added/removed/changed/unchanged by digest") {
    val v1 = Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "delta")).toDF("id", "text")
    val v2 = Seq((2L, "gamma"), (3L, "delta REWRITTEN"), (4L, "epsilon"))
      .toDF("id", "text")
    val got = Dedup.snapshotDiff(v1, v2, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    // digest semantics: whitespace/punctuation churn is NOT a change
    val v2b = Seq((1L, "  Alpha,   BETA!! ")).toDF("id", "text")
    val norm = Dedup.snapshotDiff(v1.filter($"id" === 1L), v2b, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(norm === Map(1L -> "unchanged"))
  }
}
