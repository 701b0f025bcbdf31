package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Manual skew-mitigation primitives.
  *
  * AQE's skew-join handling (`spark.sql.adaptive.skewJoin`) already
  * splits oversized sort-merge partitions at runtime — prefer it.
  * These utilities cover the cases AQE doesn't reach:
  *  - a broadcast-infeasible join whose *build* side is small enough to
  *    replicate `saltBuckets`× but whose probe side has heavy-hitter
  *    keys ([[saltedJoin]]);
  *  - distribution windows (rank, ntile, cume_dist) over a
  *    low-cardinality key, where one key's rows would fill a single
  *    task's window buffer ([[distributionRanks]], [[ntileFromRank]]).
  */
object Skew {

  /** Equi-join `big ⋈ small` on `keys`, with the big side's rows
    * scattered across `saltBuckets` sub-keys and the small side
    * replicated to match — one hot key spreads over `saltBuckets`
    * reducers instead of melting one. Result identical to the plain
    * join.
    *
    * Only join types that never emit an UNMATCHED small-side row are
    * allowed: the small side is replicated `saltBuckets`×, so
    * right/full-outer (and right-semi/anti) would emit each unmatched
    * small row once per replica — silently wrong results. For those,
    * flip the sides or use AQE's skew handling. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 saltBuckets: Int, joinType: String = "inner"): DataFrame = {
    require(saltBuckets >= 1)
    val jt = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "semi", "leftanti", "anti", "cross")(jt),
      s"saltedJoin: joinType '$joinType' would duplicate unmatched replicated small-side rows; " +
        "use inner/left_outer/left_semi/left_anti or flip the sides")
    val bigSalted = big.withColumn("_salt", rowSalt(big, saltBuckets))
    val smallSalted = small
      .withColumn("_salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
    bigSalted.join(smallSalted, keys :+ "_salt", joinType).drop("_salt")
  }

  /** The deterministic per-row scatter [[saltedJoin]] salts the big
    * side with: hash of the FULL row (varies within a key group, so a
    * hot key spreads), never `rand()` (a task retry would re-roll the
    * salt and break exactly-once placement). Exposed so tests and
    * monitoring can audit the spread a given frame will get. */
  def rowSalt(df: DataFrame, saltBuckets: Int): Column =
    pmod(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)), lit(saltBuckets))
      .cast("int")

  /** Global per-partition rank + partition size over a LOW-CARDINALITY
    * window key, without ever buffering a whole key's rows in one
    * task. `Window.partitionBy(k).orderBy(v, tie)` hashes each key's
    * ENTIRE row set to a single task whose sort/window buffer IS the
    * partition — state doubles with every data doubling (the r11
    * preventive state gate caught exactly this on q32: 288 MB at sf10
    * → 576 MB at sf20, over the 512 MB per-task budget, on a 5-value
    * key). Same distributed-ranking trick as
    * [[Mixing.enumerateShuffled]], with a VALUE-RANGE shard instead of
    * a hash-coin prefix so the shard is a prefix of the window order:
    *
    *  1. one tiny agg (|keys| rows) collects per-key (min, max, n) and
    *     derives each key's shard count `ceil(n / rowsPerShard)` —
    *     splitting is adaptive per key, a cold key stays one shard;
    *  2. `shard = floor((v - min) / (max - min) * shards)` (clamped)
    *     is monotone non-decreasing in `v`, so shard-major enumeration
    *     is the window order, and the per-task window buffer shrinks
    *     to ~`rowsPerShard` rows regardless of key cardinality;
    *  3. `row_number` runs per (key, shard) — one hash exchange over
    *     |keys| × shards groups — and the (key, shard) count table
    *     cumsums under a trivially small window before broadcasting
    *     back: `rank = shard_offset + rank_in_shard`.
    *
    * Returns the input plus `rank` (= `row_number() OVER (PARTITION BY
    * partCol ORDER BY valueCol, tieCol)`) and `n` (partition row
    * count) — enough to derive every distribution window exactly:
    * `percent_rank = (rank-1)/(n-1)`, `cume_dist = rank/n`, and
    * ntile's uneven-bucket arithmetic ([[ntileFromRank]]).
    *
    * PRECONDITION: `(valueCol, tieCol)` unique within a key (a unique
    * tie column), so `row_number = rank` and every row is its own peer
    * group — the same precondition the plain-window q32 documents.
    * Value skew caveat: range shards split by VALUE, so a single value
    * repeated > rowsPerShard times still lands in one shard; with a
    * unique tie column available, such keys can shard on the tie
    * instead. NULL partition keys are kept and rank as one ordinary
    * partition, matching `Window.partitionBy` (the internal joins are
    * null-safe via a struct-wrapped key). */
  def distributionRanks(df: DataFrame, partCol: String, valueCol: String,
                        tieCol: String,
                        rowsPerShard: Long = 500000L): DataFrame = {
    require(rowsPerShard >= 1, s"rowsPerShard=$rowsPerShard must be >= 1")
    require(!df.columns.contains("rank") && !df.columns.contains("n"),
      "distributionRanks appends `rank` and `n` — rename the input's columns")
    val v = col(valueCol).cast("double")
    // NULL-safe internal key: a plain equi-join on partCol would drop
    // NULL-keyed rows (NULL = NULL is NULL), but Window.partitionBy
    // keeps them as an ordinary partition. Struct equality compares
    // null fields as equal, so joining on the wrapped key ranks a
    // NULL-keyed partition exactly like the plain window would.
    val kdf = df.withColumn("_pkey", struct(col(partCol)))
    val bounds = kdf.groupBy(col("_pkey"))
      .agg(min(v).as("_minv"), max(v).as("_maxv"), count(lit(1)).as("n"))
      .withColumn("_shards",
        greatest(lit(1L), ceil(col("n").cast("double") / rowsPerShard))
          .cast("int"))
    // prefix-of-order bucket: monotone non-decreasing in valueCol
    // (the double cast can merge near-ties, never invert them). NULL
    // values sort first under the window's default ASC NULLS FIRST,
    // so they belong in shard 0 — also the branch all-NULL keys take
    // (min/max skip nulls, leaving _minv/_maxv null).
    val shard = when(v.isNull || col("_maxv") <= col("_minv"), lit(0))
      .otherwise(least(col("_shards") - 1,
        floor((v - col("_minv")) / (col("_maxv") - col("_minv")) *
          col("_shards")).cast("int")))
    val sharded = kdf.join(broadcast(bounds), Seq("_pkey"))
      .withColumn("_shard", shard)
    val w = Window.partitionBy(col("_pkey"), col("_shard"))
      .orderBy(col(valueCol), col(tieCol))
    val ranked = sharded.withColumn("_lrank", row_number().over(w).cast("long"))
    // (key, shard) counts: ≤ |keys| × ceil(n / rowsPerShard) rows —
    // the cumsum window is trivially cheap and the join broadcasts
    val offs = sharded.groupBy(col("_pkey"), col("_shard"))
      .agg(count(lit(1)).as("_sn"))
      .withColumn("_off",
        coalesce(sum(col("_sn")).over(
          Window.partitionBy(col("_pkey")).orderBy(col("_shard"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pkey"), col("_shard"), col("_off"))
    ranked.join(broadcast(offs), Seq("_pkey", "_shard"))
      .withColumn("rank", col("_off") + col("_lrank"))
      .drop("_pkey", "_minv", "_maxv", "_shards", "_shard", "_lrank", "_off")
  }

  /** Exact `ntile(k)` from (rank, n) under a unique total order: the
    * first `n % k` buckets carry `n div k + 1` rows, the rest
    * `n div k` (the SQL-standard uneven split both Spark and DuckDB
    * implement). The `greatest(base, 1)` divisor keeps the dead
    * branch well-defined under ANSI when n < k (every row then takes
    * the first branch: bucket = rank). */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    require(k >= 1, s"ntile k=$k must be >= 1")
    // exact long floor-division: (a - a%b) is an exact multiple of b,
    // so the double division is exact for quotients < 2^53 (Column
    // has no integral `div` operator)
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)).cast("double") / b.cast("double")).cast("long")
    val base = idiv(n.cast("long"), lit(k.toLong))
    val rem = n.cast("long") % k.toLong
    val headRows = rem * (base + lit(1L))
    when(rank <= headRows, idiv(rank - 1L, base + lit(1L)) + lit(1L))
      .otherwise(rem + idiv(rank - headRows - 1L, greatest(base, lit(1L))) +
        lit(1L))
  }
}
