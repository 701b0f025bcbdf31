package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus composition operators — deterministic sampling, source
  * mixing, and sequence packing for assembling a training mix out of
  * heterogeneous corpora.
  *
  * All three are built on a SEEDED CONTENT-ADDRESSED coin: the first 8
  * hex digits of `md5(key || ':' || salt)` compared lexicographically
  * against a rate-derived threshold string. Unlike `rand(seed)` this is
  * stable under repartitioning, retries, and engine changes (any
  * engine with md5 reproduces the exact sample — which is also what
  * makes the operators oracle-checkable), and a document keeps or
  * loses membership independent of what happens to every other
  * document, so incremental corpus refreshes don't reshuffle the
  * sample.
  *
  * Scale shape: sampling is a pure map-side filter (no shuffle, no
  * driver state — the predicate pushes into the scan's codegen span);
  * mixing is one window shuffle partitioned by source; packing is one
  * window shuffle partitioned by the pack-group columns. None of them
  * ever materializes anything driver-side.
  */
object Mixing {

  /** Lowercase-hex threshold: an 8-hex-digit md5 prefix is uniform on
    * [0, 16^8); `prefix < threshold(rate)` keeps `rate` of keys.
    * Lexicographic compare of equal-length lowercase hex IS numeric
    * compare, so no hex→int conversion is needed (DuckDB and Spark
    * then agree byte-for-byte). rate >= 1 keeps everything ('g' sorts
    * above every hex digit); rate <= 0 drops everything. */
  private[graft] def rateThreshold(rate: Double): String =
    if (rate >= 1.0) "g"
    else if (rate <= 0.0) ""
    else {
      // rates within 2^-33 of 1.0 round to 2^32 itself, which would
      // render as the NINE-char "100000000" — lexicographically BELOW
      // most 8-char coins, silently inverting a ~100% sample into ~6%.
      // Clamp to keep-all instead.
      val v = math.round(rate * 4294967296.0)
      if (v >= 4294967296L) "g" else f"$v%08x"
    }

  /** The deterministic coin for `key`: first 8 hex chars of
    * md5(key:salt). */
  private def coin(key: Column, salt: String): Column =
    substring(md5(concat(key.cast("string"), lit(":" + salt)).cast("binary")), 1, 8)

  /** Quality-WEIGHTED deterministic sample: keep each row iff its coin
    * lands under a PER-ROW acceptance rate (any Column in [0,1] —
    * typically a quality score), the curation move that keeps
    * high-quality documents with certainty and down-samples the tail
    * proportionally instead of applying one blunt corpus-wide rate.
    * Deterministic and content-addressed like [[sampleStratified]]: the
    * same row under the same salt always gets the same verdict, so
    * re-runs and incremental extensions are stable, and the filter is
    * map-side codegen over the scan — zero shuffle at any corpus size.
    *
    * Cross-engine exactness: the 8-hex coin converts to an integer
    * < 2^32 (exact in a double) and compares `< rate * 2^32` in pure
    * double arithmetic — multiply is correctly-rounded IEEE and the
    * compare is exact, so no rounding step exists for engines to
    * disagree on. Rates outside [0,1] clamp naturally (rate ≤ 0 keeps
    * nothing; rate ≥ 1 keeps everything). */
  def sampleWeighted(df: DataFrame, keyCol: String, rate: Column,
                     salt: String = "graft"): DataFrame =
    df.filter(conv(coin(col(keyCol), salt), 16, 10).cast("double") <
      rate * lit(4294967296.0))

  /** Stratified deterministic sample: per-stratum rates (strata absent
    * from `rates` fall back to `defaultRate`). The rate table rides
    * along as a literal MAP expression — never a join, never a
    * broadcast variable — so the whole predicate stays one codegen'd
    * filter over the scan. */
  def sampleStratified(df: DataFrame, keyCol: String, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double = 0.0,
                       salt: String = "graft"): DataFrame = {
    val entries = rates.toSeq.sortBy(_._1)
      .flatMap { case (k, r) => Seq(lit(k), lit(rateThreshold(r))) }
    val thresholds = map(entries: _*)
    val th = coalesce(element_at(thresholds, col(strataCol)),
      lit(rateThreshold(defaultRate)))
    df.filter(coin(col(keyCol), salt) < th)
  }

  /** Mix sources to target counts: per source, rank rows by the
    * deterministic coin (ties broken by key) and keep the first
    * `quota(source)` (sources absent from `quotas` contribute
    * `defaultQuota`). One shuffle, partitioned by source; within a
    * partition the rank is a single sort. Emits `_rank` (1-based,
    * BIGINT) alongside the input columns so downstream stages can
    * subset further without re-hashing.
    *
    * Skew note: a quota cap means only the first `quota` rows per
    * source survive, but the SORT still sees every row of the hottest
    * source in one partition. At real scale pre-filter with
    * [[sampleStratified]] (same salt) at a rate that overshoots the
    * quota by a safe margin (e.g. 2× quota / est_count) before
    * ranking — the coin is shared, so pre-filtering never changes
    * which rows win. */
  def mixSources(df: DataFrame, keyCol: String, sourceCol: String,
                 quotas: Map[String, Long], defaultQuota: Long = 0L,
                 salt: String = "graft"): DataFrame = {
    require(!df.columns.contains("_rank"),
      "mixSources: input already has a _rank column (the operator emits " +
        "its own) — rename it first")
    val entries = quotas.toSeq.sortBy(_._1)
      .flatMap { case (k, q) => Seq(lit(k), lit(q)) }
    val quotaOf = coalesce(element_at(map(entries: _*), col(sourceCol)),
      lit(defaultQuota))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(coin(col(keyCol), salt), col(keyCol))
    df.withColumn("_rank", row_number().over(w).cast("long"))
      .filter(col("_rank") <= quotaOf)
  }

  /** TOKEN-budget mixing — [[mixSources]] with the quota in tokens
    * instead of documents, which is how a training-mix spec is
    * actually written ("30B tokens of web, 5B of code"). Within each
    * source, docs rank by the deterministic coin (ties by key) and a
    * doc survives iff the RUNNING token total up to and including it
    * fits the source's budget. The filter is a strict prefix of the
    * coin order: once the cumsum overflows, every later doc's cumsum
    * is larger still — deterministic, resumable, and oracle-exact
    * (no "skip the big doc, squeeze in a later small one" dependence
    * on scan order). One window shuffle hashed on the source; rank
    * and cumsum ride the same sort. Emits `_rank` and `_cum_tokens`.
    */
  def mixTokenBudget(df: DataFrame, keyCol: String, sourceCol: String,
                     tokenCol: String, budgets: Map[String, Long],
                     defaultBudget: Long = 0L,
                     salt: String = "graft"): DataFrame = {
    require(!df.columns.contains("_rank") && !df.columns.contains("_cum_tokens"),
      "mixTokenBudget: input already has a _rank/_cum_tokens column " +
        "(the operator emits its own) — rename it first")
    val entries = budgets.toSeq.sortBy(_._1)
      .flatMap { case (k, q) => Seq(lit(k), lit(q)) }
    val budgetOf = coalesce(element_at(map(entries: _*), col(sourceCol)),
      lit(defaultBudget))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(coin(col(keyCol), salt), col(keyCol))
    df.withColumn("_rank", row_number().over(w).cast("long"))
      .withColumn("_cum_tokens", sum(col(tokenCol)).over(w))
      .filter(col("_cum_tokens") <= budgetOf)
  }

  /** Deterministic corpus shuffle with materialized positions: order
    * rows by the md5 coin (ties by key) and emit a contiguous 1-based
    * `pos` — the reproducible "training order" a data loader consumes.
    *
    * A naive `row_number() OVER (ORDER BY coin)` is a GLOBAL window —
    * Spark plans it as a single partition, which serializes the corpus
    * through one task. Instead: the coin's first two hex digits bucket
    * rows into 256 ranges that are PREFIXES of the global order, so
    * bucket-major enumeration IS coin order. Per-bucket ranks run in
    * parallel (one shuffle on the bucket), the 256-row bucket-count
    * table cumsums on the driver side of a broadcast join, and
    * `pos = bucket_offset + rank`. Same answer as the global window,
    * no single-partition stage. */
  def enumerateShuffled(df: DataFrame, keyCol: String,
                        salt: String = "graft"): DataFrame = {
    val c = md5(concat(col(keyCol).cast("string"), lit(":" + salt)).cast("binary"))
    val withCoin = df.withColumn("_coin", c)
      .withColumn("_bucket", substring(col("_coin"), 1, 2))
    val w = Window.partitionBy(col("_bucket"))
      .orderBy(col("_coin"), col(keyCol))
    val ranked = withCoin.withColumn("_rank", row_number().over(w).cast("long"))
    val offsets = withCoin.groupBy(col("_bucket"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_offset",
        coalesce(sum(col("_n")).over(
          Window.orderBy(col("_bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_bucket"), col("_offset"))
    // 256 rows — the global window here is trivially cheap; broadcast
    // keeps the big side map-side
    ranked.join(broadcast(offsets), Seq("_bucket"))
      .withColumn("pos", (col("_offset") + col("_rank")))
      .drop("_coin", "_bucket", "_rank", "_offset", "_n")
  }

  /** Curriculum ordering: a global training position `pos` that walks
    * difficulty levels in order (`levelCol` ascending) and shuffles
    * content-addressably WITHIN each level — easy examples first,
    * deterministic order inside a level, resumable from any position.
    *
    * Same distributed-ranking trick as [[enumerateShuffled]], with the
    * level prepended to the order key: partitions are (level,
    * coin-prefix) shards — 256 parallel shards per level, so one hot
    * level never serializes through a single task — and the shard
    * count table (levels × 256 rows) cumsums under a trivially cheap
    * driver-side window before broadcasting back. `pos = shard_offset
    * + rank-in-shard` equals the single global `row_number() OVER
    * (ORDER BY level, coin, key)` without any single-partition stage. */
  def curriculumOrder(df: DataFrame, keyCol: String, levelCol: String,
                      salt: String = "graft"): DataFrame = {
    val c = md5(concat(col(keyCol).cast("string"), lit(":" + salt)).cast("binary"))
    val withCoin = df.withColumn("_coin", c)
      .withColumn("_cb", substring(col("_coin"), 1, 2))
    val w = Window.partitionBy(col(levelCol), col("_cb"))
      .orderBy(col("_coin"), col(keyCol))
    val ranked = withCoin.withColumn("_rank", row_number().over(w).cast("long"))
    val offsets = withCoin.groupBy(col(levelCol), col("_cb"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_offset",
        coalesce(sum(col("_n")).over(
          Window.orderBy(col(levelCol), col("_cb"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(levelCol), col("_cb"), col("_offset"))
    ranked.join(broadcast(offsets), Seq(levelCol, "_cb"))
      .withColumn("pos", col("_offset") + col("_rank"))
      .drop("_coin", "_cb", "_rank", "_offset", "_n")
  }

  /** Rendezvous (highest-random-weight) shard assignment: the shard
    * whose `md5(key:shard:salt)` is lexicographically largest wins.
    * The property that matters for a corpus: growing n → n+1 shards
    * moves only the keys whose NEW shard's hash beats all old ones —
    * an expected 1/(n+1) of the data — where `hash(key) mod n` would
    * reshuffle nearly everything. Pure map-side codegen (a `greatest`
    * over n (hash, shard) structs), zero shuffle, deterministic on
    * key content — so shard assignment is reproducible anywhere,
    * including in the DuckDB oracle. n stays a plan-size constant;
    * for n beyond a few hundred, route through jump-consistent
    * hashing instead (not needed at 16-way file sharding). */
  def rendezvousShard(key: Column, nShards: Int,
                      salt: String = "graft"): Column = {
    require(nShards >= 2 && nShards <= 256,
      s"nShards=$nShards out of [2, 256]")
    val cands = (0 until nShards).map { sh =>
      struct(
        md5(concat(key.cast("string"), lit(s":$sh:$salt")).cast("binary"))
          .as("h"),
        lit(sh.toLong).as("s"))
    }
    greatest(cands: _*).getField("s")
  }

  /** Leakage-safe train/valid/test assignment: the coin is thrown on
    * `groupCol` (source, domain, …), so every row of a group lands in
    * the SAME split — near-duplicates cluster within groups, and
    * hashing the group key is what keeps them from straddling the
    * train/eval boundary. `splits` are (name, weight) in priority
    * order; weights are normalized and the last split absorbs
    * rounding. Pure map-side expression — no shuffle, no state. */
  def assignSplits(df: DataFrame, groupCol: String,
                   splits: Seq[(String, Double)],
                   salt: String = "graft"): DataFrame = {
    val coin = substring(
      md5(concat(col(groupCol).cast("string"), lit(":" + salt)).cast("binary")), 1, 8)
    val expr0 = splitThresholds(splits).init
      .foldRight(lit(splits.last._1): Column) {
        case ((name, th), elseCol) =>
          when(coin < lit(th), lit(name)).otherwise(elseCol)
      }
    df.withColumn("split", expr0)
  }

  /** (name, cumulative hex threshold) per split — the single source of
    * the boundary arithmetic, shared with oracle-SQL construction so
    * an ulp of floating-point drift can't put the two sides of a
    * correctness check on different boundaries. The last entry's
    * threshold covers everything ("g"). */
  private[graft] def splitThresholds(splits: Seq[(String, Double)]): Seq[(String, String)] = {
    require(splits.nonEmpty, "assignSplits: no splits given")
    require(splits.forall(_._2 >= 0) && splits.map(_._2).sum > 0,
      s"assignSplits: weights must be non-negative with positive sum: $splits")
    val total = splits.map(_._2).sum
    val cums = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }.tail
    splits.zip(cums).map { case ((name, _), cum) => name -> rateThreshold(cum) }
  }

  /** Pack documents into fixed token-budget bins ("context windows"):
    * within each `groupCol` partition, walk documents in `orderCol`
    * order and assign each to pack `floor(tokens_before / budget)` at
    * offset `tokens_before % budget` — the streaming-concatenation
    * layout a sequence-packing data loader consumes. A document longer
    * than the budget spans packs (its offset records where it starts);
    * callers wanting hard truncation filter on `n_tok`.
    *
    * Deterministic by construction (no greedy bin search, which would
    * be order-sensitive and unverifiable), expressible as one
    * cumulative-sum window — so it scales as a single shuffle on
    * `groupCol` and oracles exactly. Parallelism is per group (source,
    * shard, …): pick grouping columns with enough cardinality that no
    * single group dominates — a global pack order would serialize the
    * corpus through one partition. */
  def packSequences(df: DataFrame, groupCol: String, orderCol: String,
                    tokensCol: String, budget: Long): DataFrame = {
    require(budget >= 1, s"budget=$budget must be positive")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val before = coalesce(sum(col(tokensCol)).over(w), lit(0L))
    df.withColumn("_before", before)
      .withColumn("pack", floor(col("_before") / lit(budget)).cast("long"))
      .withColumn("pack_offset", (col("_before") % lit(budget)).cast("long"))
      .drop("_before")
  }

  /** Temperature-flattened source mixing: each source keeps
    * `perSqrt * floor(sqrt(count(source)))` rows — the sublinear
    * (α = 0.5) reweighting multilingual training mixes use so a
    * 100×-bigger crawl contributes only 10× the documents. Unlike
    * [[mixSources]] the quotas come from the DATA (one windowed count
    * — no driver action, no config to drift out of date).
    *
    * Determinism at the oracle level: the weight is
    * `floor(sqrt(n))` on an exact integer count — IEEE sqrt is
    * correctly rounded, so every engine computes the identical quota;
    * there is no cross-source float normalization sum whose ORDER
    * could drift an ulp. Winners are the coin-rank minimum, stable
    * under repartitioning.
    *
    * Scale shape: ONE shuffle partitioned by source (the same window
    * computes the count and the rank); the skew posture matches
    * [[mixSources]] — pre-filter a hot source with the same coin at an
    * overshooting rate before ranking. */
  def mixTemperature(df: DataFrame, keyCol: String, sourceCol: String,
                     perSqrt: Long, salt: String = "graft"): DataFrame = {
    require(perSqrt >= 1, s"perSqrt=$perSqrt must be positive")
    val clash = df.columns.toSet & Set("_rank", "_quota")
    require(clash.isEmpty,
      s"mixTemperature: input already has ${clash.mkString(", ")} (the " +
        "operator emits its own) — rename first")
    val part = Window.partitionBy(col(sourceCol))
    val w = part.orderBy(coin(col(keyCol), salt), col(keyCol))
    val quota = lit(perSqrt) * floor(sqrt(count(lit(1)).over(part))).cast("long")
    df.withColumn("_rank", row_number().over(w).cast("long"))
      .withColumn("_quota", quota)
      .filter(col("_rank") <= col("_quota"))
  }

  /** Split each document into overlapping token windows — the
    * context-window CHUNKING a long-document pipeline runs before
    * embedding or training (the complement of [[packSequences]], which
    * concatenates SHORT documents; this splits LONG ones). Chunk `c`
    * covers tokens `[c*stride, c*stride + chunkSize)`; chunks start at
    * every stride multiple below the token count, so the final chunk
    * may be short and `stride < chunkSize` yields the overlap.
    * Output per chunk: `(idCol, chunk_id, start_tok, n_tok, chunk)`.
    *
    * Scale shape: tokenize once into a materialized Project, then one
    * codegen'd explode — pure map-side, zero shuffles, no state; at
    * 100 TB this is scan-bound and embarrassingly parallel. Row growth
    * is ~len/stride per doc, the same order as the shingle explodes
    * dedup already runs. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize=$chunkSize must be positive")
    require(stride >= 1, s"stride=$stride must be positive")
    val toks = graft.functions.TextFunctions.tokenize(col(textCol))
    val n = size(col("_t"))
    // last chunk id = (n-1) div stride; empty docs yield no chunks
    // (the `when` guard keeps sequence() away from a (0, -1) range)
    df.select(col(idCol), toks.as("_t"))
      .select(col(idCol), col("_t"),
        explode(when(n === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), floor((n - 1) / lit(stride)).cast("int"))))
          .as("chunk_id"))
      .withColumn("_c", slice(col("_t"), col("chunk_id") * stride + 1, lit(chunkSize)))
      .select(col(idCol), col("chunk_id").cast("long"),
        (col("chunk_id") * stride).cast("long").as("start_tok"),
        size(col("_c")).cast("long").as("n_tok"),
        concat_ws(" ", col("_c")).as("chunk"))
  }
}
