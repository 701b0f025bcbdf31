package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.Hashing._

/** Deduplication operators for a large-scale training-data pipeline.
  *
  * All variants are shuffle-planned for 100 TB:
  *  - exact: one hash-groupBy on a 128-bit digest — never groups on the
  *    raw text (shuffling full documents would dominate I/O).
  *  - MinHash-LSH: shingle → signature → band-bucket join. Candidate
  *    generation is linear in corpus size (explode by band), never the
  *    O(n²) all-pairs; the exact-Jaccard verify runs only on candidates.
  *  - SimHash: 64-bit fingerprint, banded by 16-bit chunks for
  *    Hamming-distance ≤ 3 candidate recall, verified by `bit_count`.
  *  - n-gram Jaccard: the exact (quadratic-in-collisions) baseline used
  *    to validate LSH recall at small scale; its join is on shingle
  *    equality so cost concentrates on shared shingles only.
  */
object Dedup {

  /** Doc-count ceiling for [[ngramJaccardPairs]]'s forced broadcast of
    * the per-doc sizes frame: ~30 B/doc puts 16M docs at ~500 MB
    * replicated per executor — well under Spark's 8 GB broadcast
    * hard-fail but already the sensible limit for a hint that bypasses
    * autoBroadcastJoinThreshold. Past it the operator falls back to a
    * shuffle join (and the corpus is past the exact miner's documented
    * envelope anyway — [[minHashPairs]] is the scale path). */
  val SizesBroadcastMaxDocs: Long = 16000000L

  /** Canonical form: sanitize → tokens → single-space join. */
  def normalizedText(text: Column): Column =
    concat_ws(" ", tokenize(text))

  /** 128-bit content digest of the canonical form. */
  def contentHash(text: Column): Column =
    md5(normalizedText(text).cast("binary"))

  /** Exact dedup: per content-hash group, keep the smallest id.
    * Output: one row per distinct content — `(h, keep_id, n_dups)`. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(contentHash(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup: the surviving ids. */
  def exactKeepIds(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    exactGroups(docs, idCol, textCol).select(col("keep_id").as(idCol))

  /** Corpus snapshot diff: classify every id across two corpus
    * versions as `added` / `removed` / `changed` / `unchanged` by
    * content digest — the audit step an incremental-ingest pipeline
    * runs between crawls to bound recompute (only `added`+`changed`
    * re-enter dedup/curation) and to catch silent upstream rewrites.
    *
    * Scale shape: each side reduces to `(id, digest)` map-side — the
    * text never crosses the wire — then ONE full-outer sort-merge join
    * hashed on id; with both snapshots bucketed/partitioned on id the
    * exchange disappears entirely. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol), contentHash(col(textCol)).as("_ho"))
    val n = newDocs.select(col(idCol), contentHash(col(textCol)).as("_hn"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_ho").isNull, lit("added"))
          .when(col("_hn").isNull, lit("removed"))
          .when(col("_ho") =!= col("_hn"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Exact dedup keeping the BEST duplicate, not an arbitrary one:
    * within each content-digest group, the row with the highest
    * `scoreCol` survives (ties to the smallest id — total and
    * deterministic). Real pipelines rank duplicates by quality
    * (longer extraction, cleaner mirror, fresher crawl) rather than
    * keeping whichever arrived first; d02's min-id policy is the
    * degenerate constant-score case. One window shuffle on the
    * digest; rows carry only (digest, score, id) through it. */
  def keepBestIds(docs: DataFrame, idCol: String, textCol: String,
                  scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_h")).orderBy(col(scoreCol).desc, col(idCol))
    docs.select(col(idCol), col(scoreCol), contentHash(col(textCol)).as("_h"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(idCol))
  }

  /** Distinct word-`n`-gram shingles per doc: `(id, shingle)`.
    * Tokens materialize before the n-gram lambda (see TextFunctions
    * PERF note — computed expressions inside HOF lambdas are O(n²)).
    *
    * PRECONDITION: `idCol` must be unique per document. De-dup is
    * per-ROW (`array_distinct` map-side — deliberately: a post-explode
    * global `.distinct()` costs a corpus-wide extra exchange, measured
    * at ~600 MB per mining query in the r9 sf10 audit), so duplicate
    * rows under one id would emit duplicate `(id, shingle)` postings
    * and silently inflate df histograms, intersection counts, and
    * Jaccard in every consumer ([[ngramJaccardPairs]],
    * [[deriveMiningBudget]]). */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    // per-doc dedup happens MAP-SIDE (array_distinct on the shingle
    // array) — a row's shingles all live in that row, so a post-explode
    // .distinct() would pay a full extra shuffle + the corpus's fattest
    // hash aggregation for something each task can do locally. The r9
    // sf10 ScaleCheck measured that .distinct() as a ~600 MB redundant
    // exchange in every pair-mining query.
    docs.select(col(idCol), tokenize(col(textCol)).as("_toks"))
      .select(col(idCol), explode(array_distinct(ngrams(col("_toks"), n))).as("shingle"))

  /** The d03-family cost-model answer in full: the df cap AND the
    * candidate-pair volume the capped join will actually generate.
    * The inverted-index join's working set is its join OUTPUT —
    * Σ min(df,cap)·df candidate rows feeding a high-cardinality
    * partial aggregation whose hash state is ~all distinct pairs seen
    * by the task — which AQE cannot see from the posting lists it
    * coalesces by. The same histogram that derives the cap predicts
    * that output exactly, so the planner sizes the pair-join
    * exchanges from [[stateBytes]] ([[PartitionSizing]]). */
  final case class MiningBudget(maxDf: Int, predictedPairs: Double) {
    /** Modeled aggregation state of the pair join: 48 B per predicted
      * candidate pair ([[PartitionSizing]] has the calibration). */
    def stateBytes: Double = predictedPairs * 48.0

    /** The budget's view of a query that mines only a FRACTION of the
      * corpus's candidate volume (e.g. g02/g08's planted-trio slice:
      * 3 copies of every 20th doc → per-shingle df scales by 3/20, so
      * Σ df·min(df, cap) scales by ~(3/20)²). Scaling the prediction —
      * rather than the resulting width — keeps BOTH decisions honest:
      * the engage threshold (a slice below one task's share stays on
      * AQE) and the width at scales where the slice itself is big
      * enough to pin. */
    def scaled(fraction: Double): MiningBudget =
      copy(predictedPairs = predictedPairs * fraction)
  }

  /** Corpus-stat-derived [[MiningBudget]] for [[ngramJaccardPairs]]
    * (VERDICT r08 #5). The df cap is the largest cap such that the
    * expected inverted-index join budget Σ_shingle min(df, cap)·df
    * stays within `pairBudgetPerOcc × total shingle occurrences` —
    * i.e. the join may amplify each posting by at most a chosen
    * constant, whatever the corpus's df distribution does. Σ min(df,cap)·df is exactly
    * the number of (probe row × partner) pairs the shingle equi-join
    * generates under the cap, so the bound is the join's real cost
    * model, not a proxy; the same histogram predicts the capped
    * join's candidate-pair volume ([[MiningBudget.predictedPairs]]).
    *
    * Budget default 16/occurrence, chosen from the r9 scale ladder's
    * measured df histograms: every oracle-checked SF (and the sf1
    * step) sits uncapped below it, and at sf10 it binds (cap 30,
    * realized 14.0 pairs/occ vs sf1's uncapped 14.9) — so candidate
    * volume goes LINEAR right where the quadratic df² term would take
    * over. The original 64/occ left a 4× per-occurrence growth window
    * that the sf1→sf10 gate measured as 26× shuffle and 74 GB of
    * spill; the shingles a tighter cap drops are cross-corpus
    * boilerplate with ~zero Jaccard signal.
    *
    * The cap is `Int.MaxValue` (= uncapped, the operator's default
    * exact semantics) when even the uncapped budget fits — which is
    * the case for every oracle-checked SF, so deriving the cap never
    * perturbs the gate. The floor of 16 keeps a pathological corpus
    * (one shingle everywhere) from deriving a cap below any real
    * signal band. Cost: one tokenize+shingle scan and two aggregations; the
    * collected histogram is (distinct df values) rows — corpus stats,
    * never corpus rows. Callers memoize per corpus ([[graft.queries]]
    * derives once per data dir).
    */
  def deriveMiningBudget(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, pairBudgetPerOcc: Double = 16.0): MiningBudget = {
    val hist = shingles(docs, idCol, textCol, n)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .groupBy(col("df")).agg(count(lit(1)).as("n_shingles"))
      .orderBy(col("df"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    if (hist.isEmpty) return MiningBudget(Int.MaxValue, 0.0)
    val totalOcc = hist.map { case (df, n0) => df * n0 }.sum
    val budget = pairBudgetPerOcc * totalOcc
    // pairs(cap) = Σ_{df≤cap} df²·n + cap·Σ_{df>cap} df·n, nondecreasing
    // in cap; evaluate at the distinct df values (between two adjacent
    // df values pairs(cap) is linear, so candidates suffice)
    def pairs(cap: Long): Double =
      hist.map { case (df, n0) =>
        if (df <= cap) df.toDouble * df * n0 else cap.toDouble * df * n0
      }.sum
    if (pairs(hist.last._1) <= budget) MiningBudget(Int.MaxValue, pairs(hist.last._1))
    else {
      val best = hist.map(_._1).filter(cap => pairs(cap) <= budget)
        .lastOption.getOrElse(16L)
      val cap = math.max(best, 16L)
      MiningBudget(cap.toInt, pairs(cap))
    }
  }

  /** Exact pairwise n-gram Jaccard over the shingle inverted index.
    * `(a_id, b_id, jaccard)` for pairs with jaccard ≥ minJaccard.
    * Join is on shingle equality: cost ∝ Σ_shingle df(shingle)², so
    * boilerplate shingles shared by many documents are dropped first —
    * a shingle with df > maxDf carries ~zero Jaccard signal but df²
    * join rows. The cap applies to the shingle SETS (both the
    * intersection index and the set sizes), keeping Jaccard
    * self-consistent. The cap is OPT-IN (default `Int.MaxValue` = no
    * cap): capping changes the operator's output semantics, so callers
    * choose it deliberately (the d03 family passes the corpus-derived
    * [[deriveMiningBudget]] cap). `nDocs` (when ≥ 0) gates the sizes-frame
    * broadcast hint against [[SizesBroadcastMaxDocs]]. Use
    * [[minHashPairs]] as the scale path. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minJaccard: Double = 0.5,
                        maxDf: Int = Int.MaxValue,
                        pairParts: Option[Int] = None,
                        nDocs: Long = -1L): DataFrame = {
    // no .cache() — an operator can't know when to unpersist, and
    // leaked blocks accumulate across a query batch. Instead anchor
    // the shingle frame under an explicit shuffle on its join key:
    // every consuming branch (df count, anti-join probe, sizes, both
    // join sides) embeds the identical Exchange, so ReuseExchange /
    // AQE stage reuse computes the tokenize+shingle scan ONCE and the
    // branches re-read shuffle files (r2/r3 recomputed the scan ~5×).
    // The isNotNull filters are semantically no-ops (explode yields no
    // null shingles) but keep every branch's subtree canonically
    // identical once the optimizer infers join-key null filters —
    // without them, exchange reuse is silently defeated.
    // pairParts pins the anchor's partition COUNT (from
    // [[MiningBudget.stateBytes]] — the predicted join-output state,
    // which AQE cannot see from map output sizes). An explicit-N
    // repartition has REPARTITION_BY_NUM origin, which AQE's
    // coalescer deliberately skips, so the join+partial-agg stage
    // reading this exchange runs at the cost-model width.
    val shBase = shingles(docs, idCol, textCol, n)
      .filter(col(idCol).isNotNull && col("shingle").isNotNull)
    val shAll = pairParts.fold(shBase.repartition(col("shingle")))(
      p => shBase.repartition(p, col("shingle")))
    // The df cap is a WINDOW count riding the anchor, not a df-count
    // branch + anti-join (the r14 shape, VERDICT r14 §6): the count
    // branch needed only `shingle`, so ColumnPruning pushed a
    // Project[shingle] below that branch's copy of the anchor
    // Repartition, the Exchange subtrees diverged, ReuseExchange was
    // silently defeated, and every capped corpus (sf10+: the derived
    // cap engages exactly where the corpus is big) paid the
    // tokenize+shingle scan AND a second full shuffle. Keeping the
    // join shape is unwinnable rule cat-and-mouse: count(idCol)
    // folds back to count(1) via NullPropagation (idCol is
    // schema-non-nullable), and even with identical children
    // PushDownLeftSemiAntiJoin moves the anti-join below the
    // Repartition, splitting the anchor from the scan again.
    // `count(*) OVER (PARTITION BY shingle)` + filter instead:
    //  - requires exactly the anchor's hashpartitioning(shingle), so
    //    it plans with ZERO additional exchanges — one scan, one
    //    shuffle, period (the r14 shape paid 2 scans + 2 shuffles);
    //  - its sort-by-shingle is the sort the downstream a/b
    //    sort-merge self-join needs anyway (outputOrdering carries
    //    through the projections), so at the scales where the cap
    //    engages the sort is amortized, not added;
    //  - hot-shingle groups are buffered per-task before the filter
    //    drops them (ExternalAppendOnlyUnsafeRowArray spills past
    //    4096 rows) — bounded local degradation on boilerplate
    //    shingles, vs r14 shuffling ALL of their occurrences through
    //    the hot-count exchange too.
    // Uncapped (the default, and the derived answer on any corpus
    // whose join budget already fits) skips the window entirely.
    // Pinned by DedupSpec's "capped d03 plan scans the corpus once".
    val sh =
      if (maxDf == Int.MaxValue) shAll
      else {
        val w = Window.partitionBy(col("shingle"))
        shAll.withColumn("_df", count(lit(1)).over(w))
          .filter(col("_df") <= maxDf)
          .drop("_df")
      }
    // sizes is ONE ROW PER DOC (id, surviving-shingle count) — small
    // relative to `inter` (Σ min(df,cap)·df candidate pairs) by the
    // cost model's own arithmetic, so joining it by shuffle would
    // re-exchange and SORT the candidate frame twice (once per side).
    // The r9 sf20 stage audit measured exactly that: AQE coalesced the
    // a_id exchange of ~6e8 inter rows to 35 tasks by byte size and
    // the SMJ sort spilled 4.2 GB. Broadcast pins the right shape:
    // `inter` streams through both joins exchange-free. Envelope:
    // ~30 B/doc — fine through tens of millions of docs, which is
    // already past the exact path's candidate-volume envelope
    // ([[minHashPairs]] is the documented scale path beyond it).
    // The hint is GATED on the caller-supplied doc count (ADVICE r09:
    // a forced broadcast bypasses autoBroadcastJoinThreshold, so a
    // corpus past the envelope would replicate hundreds of MB to every
    // executor and hard-fail at Spark's 8 GB broadcast cap with no
    // safety valve). Above SizesBroadcastMaxDocs the sizes join falls
    // back to the ordinary shuffle join — slower (the candidate frame
    // re-sorts) but unbounded. nDocs < 0 = caller didn't say; the
    // dimension-sized default stands, per the envelope note above.
    val sizesRaw = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val sizes =
      if (nDocs < 0 || nDocs <= SizesBroadcastMaxDocs) broadcast(sizesRaw)
      else sizesRaw
    val a = sh.select(col(idCol).as("a_id"), col("shingle")).alias("a")
    val b = sh.select(col(idCol).as("b_id"), col("shingle")).alias("b")
    // The FINAL pair aggregation's exchange is pinned too (sf80 rung:
    // AQE coalesced it to 252 tasks by compressed bytes while the
    // distinct-pair hash state those bytes decompress into measured
    // 512 MB/task — the same blind-spot mechanism as the anchor, one
    // stage downstream). Pinning costs ~nothing in bytes: the anchor
    // hashes by SHINGLE, so a pair's occurrences scatter across tasks
    // and partial aggregation combines ~nothing — the exchange carries
    // ~the same pair-occurrence rows either way, and hash-partitioning
    // on exactly the grouping keys lets the aggregate run complete,
    // with no second exchange.
    val joined = a.join(b,
      col("a.shingle") === col("b.shingle") && col("a_id") < col("b_id"))
    val inter = pairParts.fold(joined)(p => joined.repartition(p, col("a_id"), col("b_id")))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col(idCol).as("a_id"), col("sz").as("sa")), "a_id")
      .join(sizes.select(col(idCol).as("b_id"), col("sz").as("sb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (col("i").cast("double") / (col("sa") + col("sb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** MinHash-LSH candidate pairs + exact-Jaccard verification.
    * bands × rowsPerBand must equal k. Returns `(a_id, b_id, jaccard)`
    * with jaccard ≥ minJaccard, pairs from ≥1 shared LSH bucket only.
    *
    * `rehashBucketSize` (OPT-IN, default no-op): buckets whose
    * occupancy exceeds it are split into `ceil(occ / rehashBucketSize)`
    * sub-buckets by one extra signature row (the next band's first
    * minhash), and pairs generate within sub-buckets only. Rationale:
    * a growing corpus sharpens its boilerplate head, so hot-bucket
    * occupancy grows FASTER than the corpus and the candidate budget
    * Σ C(occ, 2) goes super-linear — the sf20→sf40 rung measured d04's
    * candidates at 3.07× per 2× data (r11, minhash_band_diag_r11.txt:
    * max occupancy 51 → 117 → 226 across sf10/sf20/sf40) while true
    * pair output grew 2.33× (PLANS.md round-11 sf40); the gap is skew
    * waste this split removes.
    * Semantics: pairs with IDENTICAL signatures (exact dups — the
    * planted-recall contract) always share every sub-bucket, so their
    * recall is untouched; a non-identical pair inside an oversized
    * bucket survives that bucket with P ≈ its Jaccard (same next-band
    * minhash) and keeps its other bands regardless, so added miss
    * probability is bounded by (1-J)·P[only collision was oversized].
    * The split runs INSIDE the aggregated bucket row via higher-order
    * functions — no extra shuffle or occupancy pre-pass. */
  def minHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 64, bands: Int = 16,
                   minJaccard: Double = 0.5, seed: Long = 42L,
                   maxBucketSize: Int = 1000,
                   rehashBucketSize: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    // ONE tokenize+shingle pass feeds both the signature path and the
    // exact-Jaccard verify (through r2 the corpus was shingled twice —
    // the dominant cost and d04's bench-variance source). THREE plan
    // branches consume the shingle-set frame (banding, verify side a,
    // verify side b) and Catalyst recomputes an uncached subtree per
    // branch — so anchor the frame under an explicit repartition: the
    // identical Exchange appears in every branch, ReuseExchange (AQE
    // stage reuse) materializes it ONCE to shuffle files and the other
    // branches read those files. Unlike persist() this leaves zero
    // storage blocks behind (r3's persist here leaked blocks across
    // invocations and regressed the bench 2.5×); shuffle files are
    // cleaned with the normal stage lifecycle, which is also the
    // 100 TB posture — scratch disk, not executor storage memory.
    // The explicit isNotNull is semantically redundant (null ids never
    // survive the verify equi-joins) but REQUIRED for reuse: without
    // it, inferred isnotnull predicates push below the exchange on the
    // join branches only, and the no-longer-identical subtrees defeat
    // exchange reuse.
    // The anchor carries TOKENS, not shingle sets: shingles are ~n×
    // the token bytes, so shuffling tokens and recomputing the cheap
    // codegen'd ngrams projection per branch beats shuffling sets.
    val anchored = docs.filter(col(idCol).isNotNull)
      .select(col(idCol), tokenize(col(textCol)).as("_toks"))
      .repartition(col(idCol))
    val sets = anchored
      .select(col(idCol), array_distinct(ngrams(col("_toks"), n)).as("_set"))
    minHashPairsFromSets(sets, idCol, k, bands, minJaccard, seed, maxBucketSize,
      rehashBucketSize)
  }

  /** [[minHashPairs]] over pre-tokenized docs `(id, tokens)` — skips
    * the sanitize+tokenize scan when the caller already materialized
    * tokens (the curation pipeline reuses its scoring tokens here). */
  def minHashPairsFromTokens(docs: DataFrame, idCol: String, toksCol: String,
                             n: Int = 3, k: Int = 64, bands: Int = 16,
                             minJaccard: Double = 0.5, seed: Long = 42L,
                             maxBucketSize: Int = 1000,
                             rehashBucketSize: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    val anchored = docs.filter(col(idCol).isNotNull)
      .select(col(idCol), col(toksCol).as("_toks"))
      .repartition(col(idCol))
    val sets = anchored
      .select(col(idCol), array_distinct(ngrams(col("_toks"), n)).as("_set"))
    minHashPairsFromSets(sets, idCol, k, bands, minJaccard, seed, maxBucketSize,
      rehashBucketSize)
  }

  /** Shared LSH core over the anchored shingle-set frame `(id, _set)`. */
  private def minHashPairsFromSets(sets: DataFrame, idCol: String, k: Int,
                                   bands: Int, minJaccard: Double, seed: Long,
                                   maxBucketSize: Int,
                                   rehashBucketSize: Int = Int.MaxValue): DataFrame = {
    val r = k / bands
    val sig = sets.select(col(idCol),
      minHashSignature(shingleHashes(col("_set")), k, seed).as("sig"))
    // candidate pairs: co-bucketed ids; cap pathological buckets (boilerplate
    // shingles) so one hot bucket can't go quadratic at scale
    val cand =
      if (rehashBucketSize == Int.MaxValue) {
        val banded = sig.select(col(idCol),
          posexplode(lshBandKeys(col("sig"), bands, r)).as(Seq("band", "bkey")))
        banded.groupBy(col("band"), col("bkey"))
          .agg(array_sort(collect_list(col(idCol))).as("ids"))
          .filter(size(col("ids")).between(2, maxBucketSize))
          .select(explode(pairCombinations(col("ids"))).as("p"))
          .select(col("p._1").as("a_id"), col("p._2").as("b_id"))
          .distinct()
      } else {
        // oversized-bucket rehash (see minHashPairs scaladoc): each
        // banded row carries ONE extra hash — of the NEXT band's first
        // signature row (a position outside this band, so co-bucketed
        // docs can differ on it) — and oversized buckets split by it
        // INSIDE the aggregated array: no occupancy pre-pass, no extra
        // exchange, +8 bytes/row on the banding shuffle.
        val banded = sig
          .select(col(idCol), col("sig"),
            posexplode(lshBandKeys(col("sig"), bands, r)).as(Seq("band", "bkey")))
          .select(col(idCol), col("band"), col("bkey"),
            xxhash64(element_at(col("sig"),
              pmod(col("band") + 1, lit(bands)) * r + 1)).as("_subh"))
        banded.groupBy(col("band"), col("bkey"))
          .agg(array_sort(collect_list(struct(col(idCol).as("_id"),
            col("_subh").as("_sh")))).as("xs"))
          .filter(size(col("xs")) >= 2)
          // F sub-buckets; F = 1 (the common case) is the identity split
          .withColumn("_f",
            greatest(lit(1L), ceil(size(col("xs")).cast("double") /
              rehashBucketSize).cast("long")))
          .select(explode(transform(sequence(lit(0L), col("_f") - 1), fi =>
            transform(filter(col("xs"),
                x => pmod(x.getField("_sh"), col("_f")) === fi),
              x => x.getField("_id")))).as("ids"))
          .filter(size(col("ids")).between(2, maxBucketSize))
          .select(explode(pairCombinations(col("ids"))).as("p"))
          .select(col("p._1").as("a_id"), col("p._2").as("b_id"))
          .distinct()
      }
    // verify candidates with exact Jaccard via array_intersect on the
    // per-doc shingle SETS (read back from the reused exchange) —
    // candidates are few, so two hash joins beat re-exploding the
    // shingle inverted index
    cand
      .join(sets.select(col(idCol).as("a_id"), col("_set").as("sa")), "a_id")
      .join(sets.select(col(idCol).as("b_id"), col("_set").as("sb")), "b_id")
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))))
      .select(col("a_id"), col("b_id"),
        (col("i").cast("double") / (size(col("sa")) + size(col("sb")) - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** All ordered pairs (x, y), x < y, from a SORTED array attribute —
    * as a flat array of structs, built from Catalyst built-ins. Pass a
    * materialized column only (referenced inside the lambda bodies). */
  private def pairCombinations(sortedIds: Column): Column =
    flatten(transform(sortedIds, (x, i) =>
      transform(slice(sortedIds, i + 2, size(sortedIds)),
        y => struct(x.as("_1"), y.as("_2")))))

  /** SimHash fingerprints: `(id, fp: long)`. */
  def simHashFingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), simHash(tokenize(col(textCol))).as("fp"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming.
    * Banding: 4 chunks of 16 bits — by pigeonhole any pair within
    * Hamming ≤ 3 shares at least one exact chunk, so candidate
    * generation is an equi-join, never all-pairs. */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x16-bit banding guarantees recall only for maxHamming <= 3")
    val fp = simHashFingerprints(docs, idCol, textCol)
    val banded = fp.select(col(idCol), col("fp"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("fp"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "chunk")))
    val a = banded.select(col(idCol).as("a_id"), col("fp").as("fp_a"), col("band"), col("chunk"))
    val b = banded.select(col(idCol).as("b_id"), col("fp").as("fp_b"), col("band"), col("chunk"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        hammingDist64(col("fp_a"), col("fp_b")).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Duplicate-SPAN detection: for every document, how many of its
    * sliding `w`-token windows also occur elsewhere in the corpus
    * (any document, any position — self-repetition counts). Document-
    * level dedup misses boilerplate: headers, license blocks, and
    * templated passages repeat across otherwise-distinct documents,
    * and span-level dedup is the published fix (the suffix-array
    * substring dedup line of work). This is the windowed-hash
    * formulation of that pass: exact on spans of length ≥ `w`, with
    * stride 1 so no alignment is missed.
    *
    * Output: one row per document — `(idCol, n_windows,
    * n_dup_windows, dup_ratio)`; docs shorter than `w` tokens report
    * zeros.
    *
    * Scale shape: each doc emits `len−w+1` window hashes (the token
    * stream ×1, the inherent cost of stride-1 substring dedup — the
    * suffix-array alternative pays corpus-sized construction too).
    * The stream collapses FIRST on `(hash, doc)` with map-side
    * partials (boilerplate is exactly the high-multiplicity case), so
    * the global per-hash count and the verdict join run over
    * collapsed group rows, never raw positions. Everything downstream
    * of the first exchange is group-sized; the final left join
    * restores zero-window docs. All arithmetic is integer + one
    * rounded division, so the whole operator sits under an exact
    * cross-engine oracle (d10). */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               w: Int = 10): DataFrame = {
    require(w >= 2, s"window w=$w must be >= 2")
    // unhex: the hash never leaves this operator (the output is
    // counts), so shuffle the 16-byte digest, not its 32-char hex —
    // halves the dominant exchange's key width
    val wh = docs
      .select(col(idCol), tokenize(col(textCol)).as("t"))
      .filter(size(col("t")) >= w)
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, size(t) - ${w - 1}), " +
          s"i -> unhex(md5(array_join(slice(t, i, $w), ' '))))")).as("wh"))
    // positions of each span per doc — the ONLY token-scale exchange.
    // The global per-hash count then comes from a WINDOW over these
    // already-collapsed rows (the invertedIndex df idiom), NOT from a
    // groupBy + self-join back: the join spelling re-executed the
    // whole tokenize/explode subtree (AQE planned the two branches as
    // separate stages) and broadcast a corpus-sized hash→count map —
    // fine at sf0.1, a driver OOM at 100 TB. The window sees df rows
    // per hash (group rows, not positions) on one collapsed (wh)
    // exchange, single lineage, one corpus scan by construction.
    import org.apache.spark.sql.expressions.Window
    val perHashDoc = wh.groupBy(col("wh"), col(idCol))
      .agg(count(lit(1)).as("k"))
    val withN = perHashDoc
      .withColumn("n", sum(col("k")).over(Window.partitionBy(col("wh"))))
    val per = withN
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_windows"),
        sum(when(col("n") > 1, col("k")).otherwise(0L)).as("n_dup_windows"))
    docs.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        round(when(coalesce(col("n_windows"), lit(0L)) === 0, lit(0.0))
          .otherwise(coalesce(col("n_dup_windows"), lit(0L)) /
            col("n_windows").cast("double")), 4).as("dup_ratio"))
  }

  /** Maximal CROSS-document repeated token spans — the substring-level
    * dedup primitive (memorization-prone boilerplate shows up as long
    * token runs shared verbatim across documents, not as whole-doc
    * near-dups). A position is "hit" when its token `n`-gram occurs in
    * ≥ `minDocs` distinct documents; maximal runs of consecutive hit
    * positions merge into spans `(id, start, len)` (0-based token
    * offset, length in tokens ≥ n). A span of length L shared by two
    * docs yields L−n+1 hit positions that collapse into ONE row.
    *
    * Plan shape (the dupSpanStats idiom): ONE corpus scan; positions
    * collapse to (gram, doc) rows with their position lists, the
    * cross-doc count comes from a WINDOW over those collapsed rows —
    * never a groupBy + join-back, which would re-execute the
    * tokenize/explode subtree and re-shuffle token-scale rows twice.
    * Grams group by `xxhash64(g)`, not the string: the gram text never
    * reaches the output, so the fingerprint gives identical results
    * absent a 64-bit collision (P ≈ G²/2⁶⁵ — ~7e-5 for the 5e7 grams
    * of the sf20 ladder, and a collision merely merges two span
    * families), while the exchange rows drop from ~64 B string-keyed
    * to 20 B fixed-width — the r10 sf20 ladder measured the
    * string-keyed sort-based collapse spilling 18.5 GB that the
    * fingerprint rows eliminate outright. minDocs and n are the
    * volume knobs: raising n shrinks the hit set geometrically. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 5, minDocs: Long = 2L,
                    gramParts: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1 && minDocs >= 1, s"n=$n minDocs=$minDocs must be >= 1")
    val grams = docs
      .select(col(idCol), tokenize(col(textCol)).as("_toks"))
      .select(col(idCol), posexplode(ngrams(col("_toks"), n)).as(Seq("pos", "g")))
      .select(col(idCol), col("pos"), xxhash64(col("g")).as("gh"))
    // gramParts pins ONE exchange on gh that the collapse aggregate
    // AND the cross-doc window both ride (gh ⊆ {gh, id} satisfies the
    // agg's clustering; the agg preserves it for the window). Without
    // it the collapse runs its collect_list PARTIAL on the scan
    // tasks, whose sort-based fallback holds each input split's full
    // gram set — measured 8.3 GB of map-side spill at sf20 on 32 scan
    // tasks — and the window pays a second token-scale exchange.
    // Sized from corpus text volume (DerivedCaps.gramPartsFor), which
    // AQE cannot derive from compressed map bytes.
    val spread = gramParts match {
      case Some(p) => grams.repartition(p, col("gh"))
      case None => grams
    }
    val collapsed = spread.groupBy(col("gh"), col(idCol))
      .agg(collect_list(col("pos")).as("ps"))
    val hits = collapsed
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .filter(col("nd") >= minDocs)
      .select(col(idCol), explode(col("ps")).as("pos"))
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    hits
      .withColumn("island", col("pos") - row_number().over(byPos))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).cast("long").as("start"),
        (count(lit(1)) + lit(n - 1)).as("len"))
      .select(col(idCol), col("start"), col("len"))
  }
}
