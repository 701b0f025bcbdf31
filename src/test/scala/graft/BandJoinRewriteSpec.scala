package graft

import org.apache.spark.sql.DataFrame

import graft.plans.BandJoinRewrite

class BandJoinRewriteSpec extends SparkSpec {
  import spark.implicits._

  // SparkSpec's session carries the rule, as every GraftSession does;
  // this takes it out for the "without" baselines
  private def withoutRule[T](body: => T): T = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev.filterNot(_ == BandJoinRewrite)
    try body finally spark.experimental.extraOptimizations = prev
  }

  // deterministic skewed fixture: user 0 is hot on both sides
  private var seed = 11L
  private def nxt(m: Long): Long = {
    seed = seed * 6364136223846793005L + 1442695040888963407L
    math.floorMod(seed, m)
  }
  private lazy val (leftDf, rightDf) = {
    val ls = (0 until 400).map { i =>
      (if (i % 3 == 0) 0L else nxt(20), nxt(100000) - 50000, i.toLong)
    }
    val rs = (0 until 1200).map { i =>
      (if (i % 2 == 0) 0L else nxt(20), nxt(100000) - 50000, i.toLong)
    }
    (ls.toDF("k", "lt", "lid"), rs.toDF("k", "rt", "rid"))
  }

  private def brute(lower: Long, upper: Long): Set[(Long, Long)] = {
    val ls = leftDf.as[(Long, Long, Long)].collect()
    val rs = rightDf.as[(Long, Long, Long)].collect()
    (for {
      (lk, lt, lid) <- ls
      (rk, rt, rid) <- rs
      if lk == rk && rt >= lt + lower && rt <= lt + upper
    } yield (lid, rid)).toSet
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select($"lid", $"rid").as[(Long, Long)].collect().toSet

  // a Dataset caches its QueryExecution, so every probe rebuilds the
  // join from scratch — otherwise a pre-rule plan would be reused
  private def naiveJoin(): DataFrame = leftDf.join(rightDf,
    leftDf("k") === rightDf("k") &&
      rightDf("rt") >= leftDf("lt") - 5000L &&
      rightDf("rt") <= leftDf("lt") + 2000L)

  test("rewritten band join returns exactly the naive join's rows") {
    val expected = brute(-5000L, 2000L)
    withoutRule(assert(pairs(naiveJoin()) === expected))
    val rewritten = naiveJoin()
    assert(pairs(rewritten) === expected)        // with the rule
    val plan = rewritten.queryExecution.optimizedPlan.toString
    assert(plan.contains("_graft_bucket_l") && plan.contains("_graft_bucket_r"),
      s"rule did not fire:\n${plan.take(600)}")
    // exactly one rewrite — fixpoint idempotence
    assert(plan.sliding("Generate".length).count(_ == "Generate") === 1,
      "rule fired more than once")
  }

  test("strict bounds and point bands match brute force under the rule") {
    val strict = leftDf.join(rightDf,
      leftDf("k") === rightDf("k") &&
        rightDf("rt") > leftDf("lt") - 5000L &&
        rightDf("rt") < leftDf("lt") + 2000L)
    assert(pairs(strict) === brute(-4999L, 1999L))
    assert(strict.queryExecution.optimizedPlan.toString.contains("_graft_bucket_l"))

    val point = leftDf.join(rightDf,
      leftDf("k") === rightDf("k") &&
        rightDf("rt") >= leftDf("lt") && rightDf("rt") <= leftDf("lt"))
    assert(pairs(point) === brute(0L, 0L))
  }

  test("a keyless pure-band join escapes the nested-loop plan") {
    def keyless() = leftDf.join(rightDf,
      rightDf("rt") >= leftDf("lt") && rightDf("rt") <= leftDf("lt") + 500L)
    val without = withoutRule(keyless().queryExecution.executedPlan.toString)
    assert(without.contains("BroadcastNestedLoopJoin"),
      "fixture no longer demonstrates the degenerate plan")
    val planned = keyless()
    val withit = planned.queryExecution.executedPlan.toString
    assert(!withit.contains("BroadcastNestedLoopJoin"),
      s"band join still nested-loop:\n${withit.take(600)}")
    assert(pairs(planned) ===
      (for {
        (_, lt, lid) <- leftDf.as[(Long, Long, Long)].collect()
        (_, rt, rid) <- rightDf.as[(Long, Long, Long)].collect()
        if rt >= lt && rt <= lt + 500L
      } yield (lid, rid)).toSet)
  }

  test("generated cases: random times x {negative, crossing, point, wide} bands") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val rowsGen = for {
      nl <- Gen.choose(0, 6); nr <- Gen.choose(0, 6)
      lts <- Gen.listOfN(nl, Gen.choose(-300L, 300L))
      rts <- Gen.listOfN(nr, Gen.choose(-300L, 300L))
    } yield (lts, rts)
    val cases = Gen.listOfN(300, rowsGen)
      .pureApply(Gen.Parameters.default, Seed(99L)).toVector
    val ls = cases.zipWithIndex.flatMap { case ((lts, _), k) =>
      lts.zipWithIndex.map { case (t, i) => (k.toLong, t, i.toLong) }
    }.toDF("k", "lt", "lid")
    val rs = cases.zipWithIndex.flatMap { case ((_, rts), k) =>
      rts.zipWithIndex.map { case (t, i) => (k.toLong, t, i.toLong) }
    }.toDF("k", "rt", "rid")

    for ((lo, hi) <- Seq((-50L, -10L), (-25L, 25L), (0L, 0L), (-500L, 500L), (3L, 90L))) {
      val joined = ls.join(rs,
        ls("k") === rs("k") &&
          rs("rt") >= ls("lt") + lo && rs("rt") <= ls("lt") + hi)
      assert(joined.queryExecution.optimizedPlan.toString.contains("_graft_bucket_l"),
        s"rule did not fire for band [$lo, $hi]")
      val got = joined.select(ls("k"), $"lid", $"rid")
        .as[(Long, Long, Long)].collect().toSet
      val want = cases.zipWithIndex.flatMap { case ((lts, rts), k) =>
        for {
          (lt, li) <- lts.zipWithIndex
          (rt, ri) <- rts.zipWithIndex
          if rt >= lt + lo && rt <= lt + hi
        } yield (k.toLong, li.toLong, ri.toLong)
      }.toSet
      assert(got === want, s"band [$lo, $hi] mismatch")
    }
  }

  test("fences: pre-bucketed, empty-band, and non-long joins are untouched") {
    // a join the rule already bucketed: applying it again is a no-op
    val once = naiveJoin().queryExecution.optimizedPlan
    assert(BandJoinRewrite(once).fastEquals(once))

    // provably-empty band: leave the join alone (planner's problem)
    val empty = leftDf.join(rightDf,
      leftDf("k") === rightDf("k") &&
        rightDf("rt") >= leftDf("lt") + 10L &&
        rightDf("rt") <= leftDf("lt") - 10L)
    assert(!empty.queryExecution.optimizedPlan.toString.contains("_graft_bucket"))
    assert(empty.count() === 0)

    // double-typed band: not the µs convention, skip
    val l2 = leftDf.withColumn("lt", $"lt".cast("double"))
    val r2 = rightDf.withColumn("rt", $"rt".cast("double"))
    val dbl = l2.join(r2, l2("k") === r2("k") &&
      r2("rt") >= l2("lt") - 5000.0 && r2("rt") <= l2("lt") + 2000.0)
    assert(!dbl.queryExecution.optimizedPlan.toString.contains("_graft_bucket"))
  }
}
