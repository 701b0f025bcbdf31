package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.RangeJoin

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private val Hour = 3600000000L

  /** Brute-force oracle: all pairs, exact band. */
  private def brute(left: Seq[(Long, Long, java.lang.Long)],
                    right: Seq[(Long, Long, java.lang.Long)],
                    lower: Long, upper: Long): Set[(Long, Long, Long, Long)] =
    (for {
      (lk, lid, lt) <- left if lt != null
      (rk, rid, rt) <- right if rt != null && rk == lk &&
        rt >= lt + lower && rt <= lt + upper
    } yield (lk, lid, rid, rt.longValue)).toSet

  /** The plain band join, as a02 writes it; SparkSpec's session
    * carries [[graft.plans.BandJoinRewrite]], which buckets it. */
  private def bandJoin(left: Seq[(Long, Long, java.lang.Long)],
                       right: Seq[(Long, Long, java.lang.Long)],
                       lower: Long, upper: Long): DataFrame = {
    val l = left.toDF("k", "lid", "lt")
    val r = right.toDF("k", "rid", "rt")
    l.join(r, l("k") === r("k") &&
        r("rt") >= l("lt") + lower && r("rt") <= l("lt") + upper)
      .select(l("k"), $"lid", $"rid", $"rt")
  }

  private def run(left: Seq[(Long, Long, java.lang.Long)],
                  right: Seq[(Long, Long, java.lang.Long)],
                  lower: Long, upper: Long): Set[(Long, Long, Long, Long)] = {
    val df = bandJoin(left, right, lower, upper)
    val plan = df.queryExecution.optimizedPlan.toString
    if (upper >= lower)
      assert(plan.contains("_graft_bucket_l"), s"band [$lower, $upper] not bucketed")
    else assert(!plan.contains("_graft_bucket"), s"empty band [$lower, $upper] bucketed")
    df.as[(Long, Long, Long, Long)].collect().toSet
  }

  test("matches brute force on deterministic fuzz incl. nulls and negatives") {
    // LCG-generated data: keys 0..4, times spread ±3h around 0 so
    // negative timestamps exercise the floorDiv bucketing, ~5% nulls
    var x = 42L
    def nxt(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
    def gen(n: Int): Seq[(Long, Long, java.lang.Long)] =
      (0 until n).map { i =>
        val t: java.lang.Long =
          if (math.floorMod(nxt(), 20L) == 0) null
          else java.lang.Long.valueOf(math.floorMod(nxt(), 6 * Hour) - 3 * Hour)
        (math.floorMod(nxt(), 5L), i.toLong, t)
      }
    val l = gen(120)
    val r = gen(200)
    for ((lo, hi) <- Seq((-Hour, 0L), (0L, Hour), (-Hour / 2, Hour / 2),
                         (0L, 0L), (Hour, 2 * Hour))) {
      assert(run(l, r, lo, hi) == brute(l, r, lo, hi), s"band [$lo, $hi]")
    }
  }

  test("point band and empty-band rejection") {
    val l = Seq((1L, 1L, java.lang.Long.valueOf(Hour)))
    val r = Seq((1L, 2L, java.lang.Long.valueOf(Hour)),
                (1L, 3L, java.lang.Long.valueOf(Hour + 1)))
    assert(run(l, r, 0L, 0L) == Set((1L, 1L, 2L, Hour)))
    // an empty band is left to the planner and matches nothing
    assert(run(l, r, 0L, -1L).isEmpty)
  }

  test("hot key: candidates stay bounded by bucket occupancy, not |L|x|R|") {
    // ONE user: 10^4 views spread over ~40 days, 20 purchases. The
    // naive key-equi-join pairs 2*10^5 candidates; the bucketed join's
    // candidates are only the views in each purchase's two hour
    // buckets.
    val nViews = 10000
    val views = (0 until nViews).map(i =>
      (7L, i.toLong, java.lang.Long.valueOf(i * 350000000L))) // ~6 min apart
    val purchases = (0 until 20).map(i =>
      (7L, (100000 + i).toLong, java.lang.Long.valueOf(i * 50L * Hour + Hour / 3)))

    // result is exact
    assert(run(purchases, views, -Hour, 0L) ==
      brute(purchases, views, -Hour, 0L))
    // and the executed join hashes on the bucket, not on k alone
    val executed = bandJoin(purchases, views, -Hour, 0L)
      .queryExecution.executedPlan.toString
    assert(executed.linesIterator.exists(l => l.contains("Join") && l.contains("_graft_bucket")),
      s"bucket missing from the join keys:\n${executed.take(800)}")

    // candidate bound: replicate the rule's bucket math and count
    // equi-join matches BEFORE the band filter — the rows a worker
    // actually materializes
    def bucket(c: String) = expr(s"(($c) - pmod(($c), ${Hour}L)) div ${Hour}L")
    val pb = purchases.toDF("k", "lid", "lt")
      .withColumn("_b", explode(array_distinct(array(
        bucket(s"lt - ${Hour}L"), bucket("lt")))))
    val vb = views.toDF("k", "rid", "rt").withColumn("_b", bucket("rt"))
    val candidates = pb.join(vb, Seq("k", "_b")).count()
    // ~10 views per hour bucket x 2 buckets x 20 purchases ≈ 400
    assert(candidates < 1000,
      s"bucketing failed to bound candidates: $candidates")
    assert(candidates < nViews.toLong * purchases.size / 100,
      "candidate count is within 1% of the quadratic blowup")
  }

  /** Brute-force interval overlap: all pairs, exact predicate. */
  private def bruteIv(left: Seq[(Long, Long, Long, Long)],
                      right: Seq[(Long, Long, Long, Long)]): Set[(Long, Long, Long)] =
    (for {
      (lk, lid, ls, le) <- left if ls <= le
      (rk, rid, rs, re) <- right if rk == lk && rs <= re && ls <= re && rs <= le
    } yield (lk, lid, rid)).toSet

  private def runIv(left: Seq[(Long, Long, Long, Long)],
                    right: Seq[(Long, Long, Long, Long)],
                    bucket: Long): Set[(Long, Long, Long)] =
    RangeJoin.intervalJoin(
        left.toDF("k", "lid", "ls", "le"), right.toDF("k", "rid", "rs", "re"),
        Seq("k"), "ls", "le", "rs", "re", bucket)
      .select($"k", $"lid", $"rid")
      .as[(Long, Long, Long)].collect().toSet

  test("intervalJoin matches brute force across bucket sizes; one row per pair") {
    var x = 7L
    def nxt(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
    def gen(n: Int, span: Long): Seq[(Long, Long, Long, Long)] =
      (0 until n).map { i =>
        val s = math.floorMod(nxt(), 6 * Hour) - 3 * Hour
        (math.floorMod(nxt(), 4L), i.toLong, s, s + math.floorMod(nxt(), span))
      }
    val l = gen(100, 2 * Hour) // intervals up to 2h: many span several buckets
    val r = gen(150, Hour / 2)
    val expected = bruteIv(l, r)
    for (b <- Seq(Hour / 4, Hour, 10 * Hour)) {
      val df = RangeJoin.intervalJoin(
        l.toDF("k", "lid", "ls", "le"), r.toDF("k", "rid", "rs", "re"),
        Seq("k"), "ls", "le", "rs", "re", b)
      // SET equality AND row-count equality: the canonical-bucket
      // attribution must emit each overlapping pair exactly once even
      // when the intervals share many buckets
      assert(df.count() === expected.size, s"bucket=$b duplicated pairs")
      assert(runIv(l, r, b) === expected, s"bucket=$b")
    }
    // degenerate end < start intervals produce nothing
    val bad = Seq((1L, 9L, 100L, 50L))
    assert(runIv(bad, r, Hour).isEmpty)
    intercept[IllegalArgumentException] {
      RangeJoin.intervalJoin(l.toDF("k", "lid", "ls", "le"),
        r.toDF("k", "rid", "rs", "re"), Seq("k"), "ls", "le", "rs", "re", 0L)
    }
  }
}
