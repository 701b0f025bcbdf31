package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

class SkewAndBucketingSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin: identical results to a plain join on a skewed key") {
    // 90% of the big side hits one key
    val big = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong % 7 else 0L, s"row$i"))
      .toDF("k", "payload")
    val small = Seq((0L, "zero"), (1L, "one"), (2L, "two"), (99L, "unmatched"))
      .toDF("k", "name")
    val plain = big.join(small, Seq("k")).as[(Long, String, String)].collect().toSet
    val salted = Skew.saltedJoin(big, small, Seq("k"), saltBuckets = 8)
      .as[(Long, String, String)].collect().toSet
    assert(salted == plain)
    // 1800 non-multiples of 10 map to key 0, plus the 28 multiples of 70
    assert(plain.count(_._1 == 0L) == 1828)
  }

  test("saltedJoin: left join keeps unmatched probe rows exactly once") {
    val big = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val small = Seq((1L, "x")).toDF("k", "w")
    val res = Skew.saltedJoin(big, small, Seq("k"), 4, "left")
      .as[(Long, String, Option[String])].collect().toSet
    assert(res == Set((1L, "a", Some("x")), (2L, "b", None), (3L, "c", None)))
  }

  test("saltedJoin rejects join types that would duplicate replicated rows") {
    val big = Seq((1L, "a")).toDF("k", "v")
    val small = Seq((1L, "x"), (9L, "y")).toDF("k", "w")
    for (jt <- Seq("right", "right_outer", "full", "full_outer", "outer")) {
      val e = intercept[IllegalArgumentException] {
        Skew.saltedJoin(big, small, Seq("k"), 4, jt)
      }
      assert(e.getMessage.contains("duplicate"), s"$jt should be rejected")
    }
    // a right-outer done naively WOULD duplicate: the unmatched small
    // row 9L is replicated into all 4 salt buckets
    assert(Skew.saltedJoin(big, small, Seq("k"), 4, "left_semi").count() == 1)
  }

  test("saltedJoin stress: one hot key spreads across all salt buckets") {
    // 50k rows, 92% on one hot key — the shape that melts a single
    // reducer in a plain shuffle join
    val buckets = 8
    val big = spark.range(0, 50000)
      .select((when($"id" % 12 === 0, $"id" % 5 + 1).otherwise(0L)).as("k"),
        concat(lit("p"), $"id").as("payload"))
    val small = (0L to 5L).map(k => (k, s"dim$k")).toDF("k", "name")

    // result equivalence without collecting 50k rows: row-level
    // checksum + count must match the plain join exactly
    def fingerprint(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)),
        sum(xxhash64($"k", $"payload", $"name").cast("decimal(38,0)")))
        .as[(Long, BigDecimal)].head()
    val plain = fingerprint(big.join(small, Seq("k")))
    val salted = fingerprint(Skew.saltedJoin(big, small, Seq("k"), buckets))
    assert(salted == plain)
    assert(plain._1 == 50000L)

    // the hot key's rows must land in EVERY bucket, with no bucket
    // holding more than 2x its fair share (xxhash64 over the full row
    // is effectively uniform; 2x on ~5.7k/bucket is a loose bound)
    val spread = big.filter($"k" === 0L)
      .select(Skew.rowSalt(big, buckets).as("salt"))
      .groupBy($"salt").count().as[(Int, Long)].collect().toMap
    assert(spread.keySet == (0 until buckets).toSet, s"buckets missing: $spread")
    val hotRows = spread.values.sum
    assert(spread.values.max <= 2 * hotRows / buckets,
      s"skewed salt distribution: $spread")

    // and the join's shuffle key actually includes the salt (force the
    // shuffle path — broadcast would hide it)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = Skew.saltedJoin(big, small, Seq("k"), buckets)
        .queryExecution.executedPlan.toString
      assert("hashpartitioning\\(k#\\d+L?, _salt".r.findFirstIn(p).isDefined,
        s"salt missing from shuffle key:\n${p.take(600)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("distributionRanks: rank and n equal the plain window, multi-shard forced") {
    import org.apache.spark.sql.expressions.Window
    // 3 keys of very different sizes, duplicate values (ties broken by
    // the unique id), negative and constant-value keys included;
    // rowsPerShard=7 forces many shards on the big keys
    val rows = (1 to 500).map(i => ("hot", (i % 37).toDouble - 5.0, i.toLong)) ++
      (1 to 40).map(i => ("warm", (i % 11).toDouble, 1000L + i)) ++
      Seq(("cold", 3.14, 5000L)) ++
      (1 to 20).map(i => ("flat", 1.0, 6000L + i)) // max == min: one shard
    val df = rows.toDF("k", "v", "id")
    val got = Skew.distributionRanks(df, "k", "v", "id", rowsPerShard = 7)
      .select($"k", $"id", $"rank", $"n")
      .as[(String, Long, Long, Long)].collect().toSet
    val w = Window.partitionBy($"k").orderBy($"v", $"id")
    val want = df.select($"k", $"id",
        row_number().over(w).cast("long").as("rank"),
        count(lit(1)).over(Window.partitionBy($"k")).as("n"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("distributionRanks: null values rank first, matching the plain window") {
    import org.apache.spark.sql.expressions.Window
    // nulls sort NULLS FIRST under the window's ASC default; a key
    // whose values are ALL null exercises the null-bounds branch
    val rows: Seq[(String, Option[Double], Long)] =
      (1 to 60).map(i => ("mixed", if (i % 5 == 0) None else Some((i % 7).toDouble), i.toLong)) ++
        (1 to 10).map(i => ("allnull", None: Option[Double], 100L + i))
    val df = rows.toDF("k", "v", "id")
    val got = Skew.distributionRanks(df, "k", "v", "id", rowsPerShard = 9)
      .select($"k", $"id", $"rank", $"n")
      .as[(String, Long, Long, Long)].collect().toSet
    val w = Window.partitionBy($"k").orderBy($"v", $"id")
    val want = df.select($"k", $"id",
        row_number().over(w).cast("long").as("rank"),
        count(lit(1)).over(Window.partitionBy($"k")).as("n"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("distributionRanks: NULL partition keys rank as one ordinary partition") {
    import org.apache.spark.sql.expressions.Window
    // Window.partitionBy keeps NULL keys as one partition; a plain
    // equi-join to the bounds frame would silently drop them — the
    // struct-wrapped null-safe key must not
    val rows: Seq[(Option[String], Double, Long)] =
      (1 to 30).map(i => (None: Option[String], (i % 9).toDouble, i.toLong)) ++
        (1 to 25).map(i => (Some("k1"), (i % 6).toDouble, 100L + i))
    val df = rows.toDF("k", "v", "id")
    val got = Skew.distributionRanks(df, "k", "v", "id", rowsPerShard = 7)
      .select($"k", $"id", $"rank", $"n")
      .as[(Option[String], Long, Long, Long)].collect().toSet
    val w = Window.partitionBy($"k").orderBy($"v", $"id")
    val want = df.select($"k", $"id",
        row_number().over(w).cast("long").as("rank"),
        count(lit(1)).over(Window.partitionBy($"k")).as("n"))
      .as[(Option[String], Long, Long, Long)].collect().toSet
    assert(got.size == 55, s"NULL-keyed rows dropped: ${got.size} of 55")
    assert(got == want)
  }

  test("distribution windows from (rank, n) equal ntile/percent_rank/cume_dist") {
    import org.apache.spark.sql.expressions.Window
    // ntile's uneven split exercised: n % k != 0 for every key, plus a
    // key with n < k (base = 0) and a single-row key (percent_rank 0)
    val rows = (1 to 103).map(i => ("a", (i * 7 % 23).toDouble, i.toLong)) ++
      (1 to 6).map(i => ("b", i.toDouble, 200L + i)) ++
      (1 to 3).map(i => ("c", 9.0, 300L + i)) ++ // n=3 < k=4
      Seq(("d", 0.0, 400L)) // n=1
    val df = rows.toDF("k", "v", "id")
    val r = Skew.distributionRanks(df, "k", "v", "id", rowsPerShard = 10)
    val got = r.select($"k", $"id",
        Skew.ntileFromRank($"rank", $"n", 4).as("q"),
        round(when($"n" === 1L, 0.0)
          .otherwise(($"rank" - 1L).cast("double") / ($"n" - 1L)), 6).as("pr"),
        round($"rank".cast("double") / $"n", 6).as("cd"))
      .as[(String, Long, Long, Double, Double)].collect().toSet
    val w = Window.partitionBy($"k").orderBy($"v", $"id")
    val want = df.select($"k", $"id",
        ntile(4).over(w).cast("long").as("q"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .as[(String, Long, Long, Double, Double)].collect().toSet
    assert(got == want)
  }

  test("bucketed tables join without a shuffle exchange") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    li.write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("o_bucketed")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderstatus").count()
      val plan = joined.queryExecution.executedPlan.toString
      // co-located bucketed join: SortMergeJoin, no hashpartitioning
      // exchange on either join key
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
        !plan.contains("Exchange hashpartitioning(o_orderkey"),
        "bucketed join still shuffles a join side")
      // and it still computes the right thing
      val viaBuckets = joined.as[(String, Long)].collect().toMap
      val direct = li.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderstatus").count().as[(String, Long)].collect().toMap
      assert(viaBuckets == direct)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }
}
