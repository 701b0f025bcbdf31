package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Benchmark decontamination — the training-data operator that keeps
  * evaluation benchmarks out of a pretraining corpus: flag (or drop)
  * every document whose word-n-gram shingles overlap an eval set's
  * shingles beyond a threshold.
  *
  * Scale shape (the 100 TB posture):
  *  - The corpus side is shingled in ONE pass. The distinct shingle-SET
  *    frame `(id, set)` is anchored under an id-partitioned Exchange,
  *    so both consuming branches (per-doc set size; hit counting) read
  *    the same shuffle files instead of re-running tokenize+shingle
  *    (see Dedup.minHashPairs for the reuse preconditions).
  *  - The BENCHMARK side is small by the operator's contract — eval
  *    sets are thousands of documents, not billions — so its distinct
  *    shingle set is broadcast and the hit count is a map-side
  *    broadcast-hash join + a partial-aggregated count. The corpus
  *    (the 100 TB side) is never shuffled on shingle; the only wide
  *    exchange is the id-partitioned anchor.
  *  - The hit aggregation groups on the id the anchor already
  *    partitioned by, so it introduces no additional shuffle, and the
  *    final size↔hit join is co-partitioned.
  *
  * Contamination score = |shingles(doc) ∩ shingles(benchmark)| /
  * |shingles(doc)| — the containment of the doc in the pooled
  * benchmark shingle set (the standard n-gram-overlap
  * decontamination decision rule; containment, not Jaccard, because
  * the benchmark pool is orders of magnitude larger than any one
  * document).
  */
object Decontaminate {

  /** Per-document contamination counts against `benchmark`:
    * `(idCol, n_hit, n_sh, overlap)` for every document with at least
    * one shingle (n_sh >= 1). `n_hit` counts distinct doc shingles
    * that appear anywhere in the benchmark; `overlap` = n_hit / n_sh.
    * Documents shorter than `n` tokens have no shingles and are absent
    * (nothing to match on — callers treat them as clean). */
  def overlapScores(docs: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 3): DataFrame = {
    // One tokenize+shingle pass over the (huge) corpus, anchored. The
    // empty-set/isNotNull filter is part of the ANCHOR subtree on
    // purpose: the hits branch explodes `_set`, and
    // InferFiltersFromGenerate would push exactly this predicate below
    // that branch's copy of the exchange — stating it here keeps both
    // branches' subtrees canonically identical, so ReuseExchange
    // materializes the shingle scan ONCE (without it the corpus is
    // tokenized twice; see Dedup.minHashPairs for the same trap).
    val sets = docs.filter(col(idCol).isNotNull)
      .select(col(idCol), array_distinct(ngrams(tokenize(col(textCol)), n)).as("_set"))
      .filter(col("_set").isNotNull && size(col("_set")) > 0)
      .repartition(col(idCol))
    // The pooled benchmark shingle set — distinct, then broadcast.
    val benchSh = benchmark
      .select(explode(array_distinct(ngrams(tokenize(col(textCol)), n))).as("shingle"))
      .distinct()
    val hits = sets
      .select(col(idCol), explode(col("_set")).as("shingle"))
      .join(broadcast(benchSh), Seq("shingle"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    sets
      .select(col(idCol), size(col("_set")).cast("long").as("n_sh"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("n_sh"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_sh")).as("overlap"))
  }

  /** The decontaminated corpus: documents whose overlap stays BELOW
    * `maxOverlap` (shingle-less short docs are kept — they cannot
    * match). Returns `docs` rows unchanged. */
  def clean(docs: DataFrame, benchmark: DataFrame, idCol: String,
            textCol: String, n: Int = 3, maxOverlap: Double = 0.1): DataFrame = {
    val dirty = overlapScores(docs, benchmark, idCol, textCol, n)
      .filter(col("overlap") >= maxOverlap)
      .select(col(idCol))
    docs.join(dirty, Seq(idCol), "left_anti")
  }

  /** Cross-source overlap matrix — corpus diagnostics: for every pair
    * of sources, how many distinct shingles they share, and the
    * containment of the smaller set (`n_shared / min(|A|, |B|)`).
    * High containment flags mirrors, scraped re-posts, or a source
    * that is a subset of another — the corpus-level question
    * upstream of any doc-level dedup decision.
    *
    * Scale shape: shingles collapse to DISTINCT (group, shingle)
    * pairs first (group cardinality — sources, domains — is tiny
    * next to documents, so this frame is bounded by groups ×
    * vocabulary). The pair join is the d03-style inverted index at
    * group granularity: cost ∝ Σ_shingle df², with df bounded by the
    * number of GROUPS — and `maxDf` caps ubiquitous-boilerplate
    * shingles when the group space is large (per-domain runs).
    *
    * `parts` sizes the one wide exchange (hash on shingle) from a
    * caller-side cost model; None leaves it to the session default. The
    * default is NOT scale-safe: the vocabulary-sized distinct-pair
    * frame grows with the corpus while `spark.sql.shuffle.partitions`
    * does not, so the self-join's per-task sort state grows unbounded
    * (the r13 sf80 rung measured 448 MB peak state and 19.6 GB of
    * task spill at 32 partitions; sized by corpus token count the
    * same corpus runs at ~tens of MB per task, zero spill). With
    * `parts` set the dedup to distinct pairs ALSO rides that one
    * exchange: HashPartitioning(shingle) satisfies the distinct's
    * ClusteredDistribution(group, shingle) — shingle is a subset of
    * the grouping key, so every copy of a pair is already co-located
    * — and the planner fuses the dedup into the post-exchange stage,
    * replacing the default path's two wide exchanges (distinct, then
    * repartition) with one. */
  def sourceOverlap(docs: DataFrame, groupCol: String, textCol: String,
                    n: Int = 3, maxDf: Int = Int.MaxValue,
                    parts: Option[Int] = None): DataFrame = {
    val raw = docs
      .select(col(groupCol).as("_g"),
        explode(array_distinct(ngrams(tokenize(col(textCol)), n))).as("shingle"))
      .filter(col("_g").isNotNull && col("shingle").isNotNull)
    val sh = parts.fold(raw.distinct().repartition(col("shingle")))(
      p => raw.repartition(p, col("shingle")).distinct())
    // the cap is opt-in (d03 convention): at the default there is
    // nothing to drop, so skip the df pass entirely instead of paying
    // it against a provably-empty hot set. Like d03 the cap is a
    // WINDOW count riding the shingle exchange, not a df-count branch
    // + anti-join: the count branch's pruned Project below its copy
    // of the exchange defeated ReuseExchange and re-scanned the
    // corpus (Dedup.ngramJaccardPairs has the full mechanism note).
    val kept =
      if (maxDf == Int.MaxValue) sh
      else
        sh.withColumn("_df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))))
          .filter(col("_df") <= maxDf)
          .drop("_df")
    val sizes = kept.groupBy(col("_g")).agg(count(lit(1)).as("sz"))
    val a = kept.select(col("_g").as("source_a"), col("shingle"))
    val b = kept.select(col("_g").as("source_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("_g").as("source_a"), col("sz").as("_sa")), "source_a")
      .join(sizes.select(col("_g").as("source_b"), col("sz").as("_sb")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        (col("n_shared").cast("double") / least(col("_sa"), col("_sb")))
          .as("containment"))
  }
}
