package graft

/** Plan-quality regression gates: the properties PLANS.md documents,
  * asserted programmatically so a refactor can't silently lose
  * pushdown, broadcast placement, or partial aggregation. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("q02: filter and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("l_quantity"), p.take(500))
    assert(p.contains("GreaterThan(l_quantity,45.0)") || p.contains("l_quantity#"),
      "quantity predicate not pushed")
    // only the 4 needed columns + filter columns in ReadSchema
    assert(!p.contains("l_tax"), "scan reads unneeded columns")
  }

  test("q01: aggregation is two-phase (map-side partial)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p.take(300))
    assert("HashAggregate".r.findAllIn(p).length >= 2, "no partial+final agg pair")
  }

  test("q03: top-k plans TakeOrderedAndProject, no global sort") {
    val p = plan("q03_top_revenue")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
  }

  test("q04: small dims broadcast") {
    val p = plan("q04_region_rollup")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
  }

  test("q05/q06: semi and anti joins plan as such") {
    assert(plan("q05_semi_join").contains("LeftSemi"))
    assert(plan("q06_anti_join").contains("LeftAnti"))
  }

  test("t01: bigram pipeline has exactly one data shuffle pre-aggregation") {
    val p = plan("t01_bigram_counts")
    // shuffles: one for groupBy(bigram), one range-partitioning for the
    // final orderBy — nothing else
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"unexpected shuffle count in:\n${p.take(800)}")
    // pairs are generated (and combined) map-side, under the partial
    // aggregate that precedes the only pre-aggregation shuffle
    val gen = p.indexOf("Generate bigram_counts")
    assert(gen >= 0, s"bigram generator missing in:\n${p.take(800)}")
    val partial = p.indexOf("partial_sum")
    assert(partial >= 0 && gen > partial, s"generator not under the partial aggregate in:\n${p.take(800)}")
    assert(!p.contains("explode"), "per-occurrence explode crept back")
    assert(!p.toLowerCase.contains("batchevalpython"), "python udf crept in")
  }

  test("s01: brute-force ANN broadcasts the query side") {
    val p = plan("s01_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(400))
    assert(p.contains("cosine_similarity"), "native cosine expression not in plan")
  }

  // The planted-oracle queries (d04/s02/s05) earn their hash-match on a
  // specific plan SHAPE — banded/bucketed equi-joins, never all-pairs.
  // Pin that shape so a refactor can't silently trade it for a
  // cartesian product (correct results, quadratic cost).

  test("d04: MinHash-LSH plans equi-joins only — no cartesian, bounded shuffles") {
    val p = plan("d04_minhash_lsh")
    assert(!p.contains("CartesianProduct"), "LSH candidate generation went all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "LSH verify degenerated to nested-loop")
    assert(p.contains("minhash_sig"), "native MinHash signature expression not in plan")
    // union of base+planted docs, banding, bucket agg, pair dedup,
    // 2 verify joins, final sort — shuffle count stays bounded
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 8, s"shuffle explosion ($exchanges hash exchanges):\n${p.take(800)}")
  }

  test("s02: LSH ANN joins on (table, bucket) keys — no cartesian") {
    val p = plan("s02_knn_lsh")
    assert(!p.contains("CartesianProduct"), "bucket join went all-pairs")
    assert(p.contains("rp_signature"), "native random-projection signature not in plan")
    assert(p.contains("Generate posexplode"), "bucket-key explode missing")
  }

  test("s05: IVF probes centroid lists via equi-join — no cartesian") {
    val p = plan("s05_knn_ivf")
    assert(!p.contains("CartesianProduct"), "probe join went all-pairs")
    assert(p.contains("list_id"), "centroid-list join key missing from plan")
    assert(!p.toLowerCase.contains("batchevalpython"), "python udf crept in")
  }

  test("a01/a07: as-of joins are one window pass — no join, one hash exchange") {
    for (name <- Seq("a01_asof_join", "a07_asof_forward")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name regressed to a join (quadratic per user):\n${p.take(600)}")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 1, s"$name: expected exactly one user_id shuffle, got $exchanges:\n${p.take(600)}")
    }
  }

  test("a02: range join equi-joins on the time bucket, band as residual") {
    val p = plan("a02_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "range join went all-pairs")
    // the hour bucket must be IN the equi-join keys — joining on
    // user_id alone then band-filtering is the hot-key quadratic shape
    // (one power user pairs all their purchases x all their views)
    val joinsOnBucket = p.linesIterator.exists(l =>
      l.contains("Join") && l.contains("_bucket"))
    assert(joinsOnBucket, s"_bucket missing from join keys:\n${p.take(800)}")
  }

  test("e01: sessionize windows + session agg share one user_id shuffle") {
    val p = plan("e01_sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"lag/cumsum windows and the session aggregate should reuse one partitioning, got $exchanges:\n${p.take(600)}")
  }

  // The multi-branch operators (shingle frame in d03/d04, scored frame
  // in p01, tokenize frame in t11/t12) anchor their shared subtree
  // under one Exchange and rely on ReuseExchange/AQE stage reuse to
  // compute it once — r3 used persist() here and leaked the blocks
  // across invocations (VERDICT r3 #1). Reuse is fragile (an
  // asymmetric inferred/pruned subtree below the anchor kills it
  // silently), so execute and assert on the FINAL adaptive plan, and
  // assert the storage-block ledger stays empty.
  test("d03/d04/p01/t11/t12/x01/t15: shared subtrees reuse one exchange, zero storage blocks") {
    for (name <- Seq("d03_ngram_jaccard", "d04_minhash_lsh", "p01_curate",
                     "p02_curate_publish", "t11_salient_terms", "t12_repetition",
                     "x01_decontaminate", "t15_bigram_lm")) {
      // other suites share this session and may cache their own frames —
      // the property is that THESE queries add no storage blocks
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange"),
        s"$name: exchange reuse lost — shared subtree recomputes per branch:\n${p.take(800)}")
      val added = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(added.isEmpty, s"$name left persisted blocks behind: $added")
    }
  }

  test("p01: curation pipeline stays equi-join only, scoring in one scan") {
    val p = plan("p01_curate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "curation degenerated to all-pairs")
    assert(p.contains("sanitize_tokens"), "native tokenizer not in plan")
    // lang-ID + quality thresholds are plain expressions, not UDFs
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      "scoring left codegen")
  }

  test("x09: chunking is map-side only — the sole exchange is the oracle sort") {
    val p = plan("x09_chunk_windows")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), "chunking joined")
    // one range-partitioning exchange for the ORDER BY, nothing hashed
    assert(!p.contains("hashpartitioning"),
      s"chunking grew a hash shuffle:\n${p.take(600)}")
    assert(p.contains("Generate explode"), "chunk explode missing")
  }

  test("a13: TWA's aggregate rides the lead-window exchange — one hash shuffle") {
    val p = plan("a13_time_weighted_avg")
    assert(!p.contains("Join"), "TWA grew a join")
    // hash exchanges: exactly the window's user_id partitioning; the
    // groupBy(user_id) must be satisfied by it (partial+final agg,
    // no second hash shuffle). The ORDER BY adds one rangepartitioning.
    val hashEx = "hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"TWA re-shuffled after the window:\n${p.take(800)}")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "no partial+final agg")
  }

  test("a14: gap fill is two key shuffles (bounds agg + carry window), no probe join") {
    val p = plan("a14_gap_fill")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin")
      && !p.contains("SortMergeJoin"), "gap fill planned a per-grid-point join")
    assert(p.contains("Generate explode"), "grid must be generated map-side")
  }

  test("x08: the vocabulary-scale shingle frame shuffles ONCE, pinned; all consumers reuse it") {
    // the r13 sf80 rung measured the unpinned shape at 448 MB task
    // state / 19.6 GB spill — the fix is one REPARTITION_BY_NUM hash
    // exchange on shingle that the distinct, BOTH self-join sides,
    // and the sizes aggregation all ride (executed plan: the b-side
    // and sizes branches must be ReusedExchange, not re-shuffles)
    val df = SparkEntry.queries("x08_source_overlap")(spark, sfDir)
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("REPARTITION_BY_NUM"), "shingle exchange not pinned:\n" + p.take(800))
    assert("ReusedExchange".r.findAllIn(p).length >= 2,
      "a consumer re-shuffled the gram frame instead of reusing it:\n" + p.take(1200))
  }

  test("g01/g02: graph queries stay equi-join only over checkpointed edge lists") {
    for (q <- Seq("g01_pagerank", "g02_triangles")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q went all-pairs")
      // the edge list is lineage-truncated: pair mining must appear as
      // a cached-RDD scan, not as a re-planned shingle self-join
      assert(p.contains("Scan ExistingRDD"), s"$q edge list not checkpointed")
    }
  }
}
