package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, PartitionSizing, Similarity}

/** Deduplication queries over `documents`. Exact and n-gram-Jaccard
  * variants carry DuckDB oracles directly (the math is
  * rational-of-integers, so both engines produce bit-identical
  * doubles). MinHash-LSH and SimHash are hash-family-specific, so
  * their queries use the planted-duplicate construction (same pattern
  * as s03): exact copies of known docs are unioned in, making the
  * hash-family result deterministic — identical shingle sets give
  * identical MinHash signatures (candidate generation is then
  * guaranteed, not probabilistic), and the 4×16-bit SimHash banding is
  * pigeonhole-exact for Hamming ≤ 3 — so the expected pair set is
  * expressible as DuckDB SQL and both queries carry full oracles.
  */
object DedupQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** d13's planted corpus: embeddings plus exact copies
    * (vec_id+[[Planted.Off]] for vec_id<20, +[[Planted.Off2]] for
    * vec_id<10 — the offset clears every rung's organic ids, see
    * [[Planted]]). */
  private def d13Corpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
    def planted(offset: Long, below: Long) = e.filter($"vec_id" < below)
      .select(($"vec_id" + offset).as("vec_id"), $"embedding", $"label")
    e.unionByName(planted(Planted.Off, 20)).unionByName(planted(Planted.Off2, 10))
  }

  /** d13's mined INTERNAL pair relation — s03's near-dup answer over
    * the d13 corpus, the frame its clustering collapses. Exposed so
    * [[graft.ShuffleAudit]] can record its cardinality as
    * `internal_rows` (VERDICT r11 #8): d13's OUTPUT is one row per
    * vector (linear by construction), so the answers-rung shuffle
    * bound must be derived from THIS answer's measured growth per
    * corpus, not from a hand-pinned constant. */
  def d13InternalPairs(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(d13Corpus(s, dir), "vec_id", "embedding",
      minCosine = 0.99, dim = SimilarityQueries.Dim,
      bits = DerivedCaps.embBitsFor(s, dir), maxBucketSize = 4096,
      // the dir-level budget; the planted union adds tens of pairs
      // against a >=1e6 engage threshold (PartitionSizing scaladoc)
      pairParts = PartitionSizing.parts(s.sparkContext.defaultParallelism,
        DerivedCaps.embPairBudgetFor(s, dir).pairStateBytes))

  private val SqlNorm =
    """array_to_string(list_filter(string_split_regex(lower(regexp_replace(text, '([^\s\w]|_)+', ' ', 'g')), '\s+'), x -> x <> ''), ' ')"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup groups: digest → (survivor, multiplicity).
    "d01_exact_groups" -> ((s, dir) => {
      import s.implicits._
      Dedup.exactGroups(docs(s, dir), "doc_id", "text")
        .select($"h", $"keep_id", $"n_dups")
        .orderBy($"h")
    }),

    "d02_exact_keep" -> ((s, dir) => {
      import s.implicits._
      Dedup.exactKeepIds(docs(s, dir), "doc_id", "text").orderBy($"doc_id")
    }),

    // Exact pairwise n-gram Jaccard ≥ 0.5 via the shingle inverted index.
    "d03_ngram_jaccard" -> ((s, dir) => {
      import s.implicits._
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", n = 3, minJaccard = 0.5,
          maxDf = DerivedCaps.maxDfFor(s, dir),
        pairParts = PartitionSizing.parts(s.sparkContext.defaultParallelism,
          DerivedCaps.miningBudgetFor(s, dir).stateBytes),
        nDocs = DerivedCaps.tableCountFor(s, dir, "documents"))
        .select($"a_id", $"b_id", round($"jaccard", 4).as("jaccard"))
        .orderBy($"a_id", $"b_id")
    }),

    // Duplicate CLUSTERS: d03's near-dup pairs closed into connected
    // components by iterative min-label propagation — every document
    // labeled with the minimum doc id transitively reachable through
    // the pair graph (itself when isolated). The pair-drop convention
    // (d04/p01) is deliberately non-transitive; this is the transitive
    // "one representative per cluster" view. Oracle: DuckDB recursive
    // CTE computes the same closure.
    "d07_dup_components" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3,
        minJaccard = 0.5, maxDf = DerivedCaps.maxDfFor(s, dir),
        pairParts = PartitionSizing.parts(s.sparkContext.defaultParallelism,
          DerivedCaps.miningBudgetFor(s, dir).stateBytes),
        nDocs = DerivedCaps.tableCountFor(s, dir, "documents"))
      graft.operators.ConnectedComponents.components(pairs, "a_id", "b_id",
          d.select($"doc_id"), "doc_id")
        .orderBy($"doc_id")
    }),

    // Dedup threshold yield curve: how many pairs (and distinct docs)
    // each Jaccard decile ≥ 0.5 would remove — the sweep a curation
    // run does ONCE to pick its threshold, amortized over a single
    // shingle computation instead of re-mining per candidate value.
    // The decile floor is deterministic cross-engine because jaccard
    // is one IEEE divide of exact integers in both. PARTIAL copies
    // (70% / 85% character prefixes of every 15th doc) are planted so
    // the middle deciles carry deterministic mass — organic near-dups
    // in this corpus are all high-jaccard mirrors.
    "d11_threshold_curve" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"text", $"n_chars")
      val slice = d.filter($"doc_id" % 15 === 2)
      def prefixed(offset: Long, pct: Int) = slice.select(
        ($"doc_id" + offset).as("doc_id"),
        expr(s"substr(text, 1, CAST(n_chars * $pct div 100 AS INT))").as("text"))
      val corpus = d.select($"doc_id", $"text")
        .unionByName(prefixed(3000000L, 70))
        .unionByName(prefixed(4000000L, 85))
      // MATERIALIZE the verified pairs before fanning out: perBand and
      // docsPerBand would otherwise each re-run the candidate
      // aggregation behind the un-materialized chain — measured at sf1
      // as two sequential 879 MB final-agg passes (r9 stage audit), the
      // stage-level cousin of g01's old two-branch union. The
      // materialized frame is band-rows only (≤ verified pairs).
      val banded = graft.operators.Checkpoints.materialize(
        Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
            n = 3, minJaccard = 0.5, maxDf = DerivedCaps.maxDfFor(s, dir),
        pairParts = PartitionSizing.parts(s.sparkContext.defaultParallelism,
          DerivedCaps.miningBudgetFor(s, dir).stateBytes),
        // mined corpus = base + two 1/15 prefixed slices (ADVICE r10)
        nDocs = {
          val dc = DerivedCaps.tableCountFor(s, dir, "documents"); dc + 2L * (dc / 15L + 1L)
        })
          .select(floor($"jaccard" * 10).cast("long").as("band"),
            $"a_id", $"b_id"))
      val perBand = banded.groupBy($"band").agg(count(lit(1)).as("n_pairs"))
      val docsPerBand = banded
        .select($"band", explode(array($"a_id", $"b_id")).as("d"))
        .groupBy($"band").agg(countDistinct($"d").as("n_docs"))
      perBand.join(docsPerBand, "band").orderBy($"band")
    }),

    // Maximal cross-document repeated 5-gram token spans — the
    // substring-level dedup pass ([[Dedup.repeatedSpans]]): boilerplate
    // shared verbatim across documents surfaces as (doc, start, len)
    // spans, the unit a span-scrubbing pipeline actually removes.
    // Exact: gram strings group literally, runs merge by consecutive
    // position, so the oracle replays it as plain SQL.
    "d12_repeated_spans" -> ((s, dir) => {
      import s.implicits._
      Dedup.repeatedSpans(docs(s, dir), "doc_id", "text", n = 5, minDocs = 2L,
          gramParts = DerivedCaps.gramPartsFor(s, dir))
        .orderBy($"doc_id", $"start")
    }),

    // SemDeDup-style semantic dedup end-to-end: embedding near-dup
    // pairs (LSH buckets + exact cosine verified inside the join —
    // s03's operator) closed into clusters by connected components,
    // one representative (min vec_id) kept per cluster. This is the
    // pipeline a semantic-dedup pass actually runs — pairs alone
    // aren't actionable until they're clusters with a keep decision.
    // Corpus: embeddings plus planted exact copies (vec_id+Off for
    // vec_id<20, vec_id+Off2 for vec_id<10 — see Planted for the
    // collision-free offset choice), making the cluster structure
    // deterministic at every SF: organic max pairwise cosine ≈ 0.51
    // and ScaleGen's per-shard orthogonal transforms keep cross-shard
    // cosines there too, so the 10 triples + 10 pairs planted are the
    // ONLY clusters. Scale shape: the nearDupPairs scan dominates
    // (gated via s03); CC iterates over the ~40-edge endpoint set.
    "d13_semantic_clusters" -> ((s, dir) => {
      import s.implicits._
      val corpus = d13Corpus(s, dir)
      val pairs = d13InternalPairs(s, dir)
      // edgeParts: the internal pair relation is fact-scale (answers
      // grow quadratically in dup-cluster size), so CC's symmetrized
      // dedup gets the same predicted-pairs width authority as the
      // miner's own aggregate — the r15 sf160 rung measured the
      // AQE-sized shape at 25.8 GB of sort-fallback spill under this
      // operator's checkpoint storage pressure (None below sf20:
      // every oracle SF and the sf1 bench keep unpinned plans)
      graft.operators.ConnectedComponents.components(pairs, "a_id", "b_id",
          corpus.select($"vec_id"), "vec_id",
          edgeParts = PartitionSizing.parts(s.sparkContext.defaultParallelism,
            DerivedCaps.embPairBudgetFor(s, dir).symStateBytes))
        .select($"vec_id", $"component".as("cluster"),
          ($"vec_id" === $"component").cast("long").as("keep"))
        .orderBy($"vec_id")
    }),

    // MinHash-LSH near-dup pairs over the corpus PLUS planted exact
    // copies of the first 25 docs (doc_id + Planted.Off). Planted pairs have
    // identical shingle sets → identical signatures → all 16 bands
    // collide → recall is deterministic; the organic near-dup pairs
    // (jaccard 0.9–0.99 in this corpus) band-collide with
    // P(miss) < 4e-8 under the fixed seed, verified caught. The oracle
    // computes exact set-Jaccard over the same planted corpus.
    "d04_minhash_lsh" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val planted = d.filter($"doc_id" < 25)
        .withColumn("doc_id", $"doc_id" + Planted.Off)
      // rehashBucketSize = 8 ≈ 8× the expected bucket occupancy
      // (avgOcc ≈ 1.07 at every rung, minhash_band_diag_r11.txt): the
      // occupancy histogram shows candidate mass in b ≤ 8 buckets
      // tracking true pair output (2.36× per 2× data) while the
      // b = 9..64 mass grows 4–13× per rung — the boilerplate skew the
      // split removes.
      // Planted recall untouched (identical signatures share every
      // sub-bucket); an organic J ≥ 0.9 pair in a split bucket keeps
      // P(total miss) < 1e-6 via its other 15 bands. CORPUS-DEPENDENT:
      // that bound covers the exact oracle only because this corpus
      // has NO organic 0.5 ≤ J < 0.9 pairs — an invariant Verify
      // checks per dump (ADVICE r11), so a regenerated fixture that
      // violates it fails loudly instead of as a flaky d04 mismatch
      Dedup.minHashPairs(d.unionByName(planted), "doc_id", "text",
          n = 3, k = 64, bands = 16, minJaccard = 0.5,
          rehashBucketSize = 8)
        .select($"a_id", $"b_id", round($"jaccard", 4).as("jaccard"))
        .orderBy($"a_id", $"b_id")
    }),

    // SimHash ORGANIC recall under the oracle (VERDICT r10 #7 — the
    // old planted-slice construction was deterministic by
    // construction and never oracle-exercised a real near-dup): the
    // exact ≥ 0.9-Jaccard pairs of the FULL corpus (the d03 machinery
    // at a higher threshold; DuckDB recomputes them independently —
    // the exact anchors) left-joined against SimHash Hamming ≤ 3 over
    // the same corpus, collapsed to the bounded property the oracle
    // pins: corpus-level recall ≥ 0.5 (same anchor style as q31/a10).
    // Per-row recall is NOT guaranteed by 64-bit SimHash at this
    // radius — measured at sf0.01: 15/25 organic pairs caught (0.60;
    // frequency-weighted fingerprints flip > 3 bits on pairs up to
    // set-Jaccard 0.976), deterministic for a fixed corpus under the
    // fixed hash. DedupSpec holds the planted/identical-doc and
    // Hamming-value coverage the old query carried.
    "d05_simhash" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3,
        minJaccard = 0.9, maxDf = DerivedCaps.maxDfFor(s, dir),
        pairParts = PartitionSizing.parts(s.sparkContext.defaultParallelism,
          DerivedCaps.miningBudgetFor(s, dir).stateBytes),
        nDocs = DerivedCaps.tableCountFor(s, dir, "documents"))
      val sim = Dedup.simHashPairs(d, "doc_id", "text", maxHamming = 3)
        .select($"a_id", $"b_id", $"hamming")
      // the global-window recall runs over pair rows only (tens at
      // sf0.01, still group-sized at sf20) — never the corpus
      exact.join(sim, Seq("a_id", "b_id"), "left")
        .withColumn("_caught", $"hamming".isNotNull.cast("long"))
        .withColumn("recall_ok",
          (sum($"_caught").over() >= count(lit(1)).over() * 0.5).cast("long"))
        .select($"a_id", $"b_id", round($"jaccard", 4).as("jaccard"),
          $"recall_ok")
        .orderBy($"a_id", $"b_id")
    }),

    // The STREAMING twin of d01/d02, under the oracle gate: drain the
    // documents table through the digest-keyed earliest-arrival dedup
    // (deterministic survivor under any batch granularity — see
    // StreamingDedup) with AvailableNow. The oracle projection stays
    // the surviving digest SET — exactly the distinct canonical
    // contents.
    "d06_stream_dedup" -> ((s, dir) =>
      graft.streaming.StreamingJobs.dedupAvailableNow(s, dir)),

    // STREAM-STATIC anti-join: streaming incoming docs vs a static
    // seen-digest table — the stateless third join mode, same oracle
    // as the batch bloom-pruned x05.
    "d08_stream_novel" -> ((s, dir) =>
      graft.streaming.StreamingJobs.novelAvailableNow(s, dir)),

    // Keep-BEST dedup: every 5th doc gets a planted duplicate with a
    // boosted quality score (+1000 chars) — those groups must keep
    // the planted copy, every other group its original. One window
    // shuffle on the digest, never the raw text.
    "d09_keep_best" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val planted = d.filter($"doc_id" % 5 === 0)
        .withColumn("doc_id", $"doc_id" + 3000000L)
        .withColumn("n_chars", $"n_chars" + 1000L)
      Dedup.keepBestIds(d.unionByName(planted), "doc_id", "text", "n_chars")
        .orderBy($"doc_id")
    }),

    // Span-level dedup: per doc, how many sliding 10-token windows
    // occur more than once corpus-wide (boilerplate detection — the
    // substring-dedup pass document-level dedup cannot do). Exact
    // integer arithmetic + md5 window hashes → full oracle.
    "d10_dup_spans" -> ((s, dir) => {
      import s.implicits._
      Dedup.dupSpans(docs(s, dir), "doc_id", "text", w = 10)
        .orderBy($"doc_id")
    }),
  )

  val oracles: Map[String, String] = Map(
    // d13's cluster structure is fully determined by the planted
    // copies (organic cosines max ≈ 0.51 < 0.99; identical vectors
    // share every LSH bucket, so recall on the planted pairs is
    // deterministic), so the oracle states the expected closure
    // directly — the same construction s03/d04 use for
    // hash-family-specific operators.
    "d13_semantic_clusters" ->
      """WITH corpus AS (
        |  SELECT vec_id FROM embeddings
        |  UNION ALL SELECT vec_id + 1000000000000 FROM embeddings WHERE vec_id < 20
        |  UNION ALL SELECT vec_id + 2000000000000 FROM embeddings WHERE vec_id < 10),
        |lab AS (
        |  SELECT vec_id,
        |    CASE WHEN vec_id >= 1000000000000 THEN vec_id % 1000000000000 ELSE vec_id END AS cluster
        |  FROM corpus)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |  CAST(cluster AS BIGINT) AS cluster,
        |  CAST(CASE WHEN vec_id = cluster THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM lab ORDER BY vec_id""".stripMargin,

    // d03's pair computation closed into components with a recursive
    // walk: every doc labeled with the least id it can reach
    "d07_dup_components" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(regexp_replace(text, '([^\s\w]|_)+', ' ', 'g')), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM toks)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN sizes sa ON sa.doc_id = a_id
        |  JOIN sizes sb ON sb.doc_id = b_id
        |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
        |e2 AS (SELECT a_id AS u, b_id AS v FROM pairs
        |       UNION SELECT b_id, a_id FROM pairs),
        |walk(u, v) AS (
        |  SELECT u, v FROM e2
        |  UNION
        |  SELECT w.u, e.v FROM walk w JOIN e2 e ON w.v = e.u),
        |minreach AS (SELECT u, min(v) AS mv FROM walk GROUP BY u)
        |SELECT d.doc_id,
        |  CAST(least(d.doc_id, coalesce(m.mv, d.doc_id)) AS BIGINT) AS component
        |FROM documents d LEFT JOIN minreach m ON m.u = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "d06_stream_dedup" ->
      s"""SELECT DISTINCT md5($SqlNorm) AS h FROM documents ORDER BY h""".stripMargin,

    "d08_stream_novel" ->
      s"""WITH h AS (SELECT doc_id, md5($SqlNorm) AS h FROM documents)
         |SELECT doc_id FROM h
         |WHERE h NOT IN (SELECT h FROM h WHERE doc_id % 3 <> 0)
         |ORDER BY doc_id""".stripMargin,

    "d09_keep_best" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text, n_chars FROM documents
         |  UNION ALL
         |  SELECT doc_id + 3000000, text, n_chars + 1000 FROM documents
         |  WHERE doc_id % 5 = 0)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id FROM corpus
         |QUALIFY row_number() OVER (PARTITION BY md5($SqlNorm)
         |  ORDER BY n_chars DESC, doc_id) = 1
         |ORDER BY doc_id""".stripMargin,

    "d01_exact_groups" ->
      s"""SELECT md5($SqlNorm) AS h, CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_dups
         |FROM documents GROUP BY h ORDER BY h""".stripMargin,

    // sliding 10-token window hashes; a window is dup if its hash
    // occurs >1 times corpus-wide (self-repetition included). DuckDB
    // list slice t[i:i+9] is the inclusive twin of Spark slice(t,i,10)
    "d10_dup_spans" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(regexp_replace(text, '([^\s\w]|_)+', ' ', 'g')), '\s+'), x -> x <> '') AS t FROM documents),
        |w AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 8),
        |        i -> md5(array_to_string(t[i:i+9], ' ')))) AS wh
        |      FROM toks WHERE len(t) >= 10),
        |g AS (SELECT wh, count(*) AS n FROM w GROUP BY wh),
        |per AS (SELECT w.doc_id, count(*) AS n_windows,
        |          count(*) FILTER (WHERE g.n > 1) AS n_dup_windows
        |        FROM w JOIN g USING (wh) GROUP BY w.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(per.n_windows, 0) AS BIGINT) AS n_windows,
        |  CAST(coalesce(per.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
        |  round(CASE WHEN coalesce(per.n_windows, 0) = 0 THEN 0.0e0
        |        ELSE coalesce(per.n_dup_windows, 0) / CAST(per.n_windows AS DOUBLE) END, 4) AS dup_ratio
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "d02_exact_keep" ->
      s"""SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
         |FROM documents GROUP BY md5($SqlNorm) ORDER BY doc_id""".stripMargin,

    // The boilerplate-shingle df cap, spelled as the static `<= 1000`
    // the operator used through r8. The Spark side now derives its cap
    // from corpus stats (DerivedCaps) — at every oracle-checked SF max
    // df is single digits, so BOTH spellings are no-ops and agree; the
    // derived cap only engages at scale steps no oracle runs at.
    "d03_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(regexp_replace(text, '([^\s\w]|_)+', ' ', 'g')), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM toks)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id, round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = a_id
        |JOIN sizes sb ON sb.doc_id = b_id
        |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    // d03's pair CTEs over the partial-copy corpus, pairs bucketed
    // into Jaccard deciles, endpoint docs deduped per band
    "d11_threshold_curve" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000, substr(text, 1, CAST(n_chars * 70 // 100 AS INT))
        |  FROM documents WHERE doc_id % 15 = 2
        |  UNION ALL
        |  SELECT doc_id + 4000000, substr(text, 1, CAST(n_chars * 85 // 100 AS INT))
        |  FROM documents WHERE doc_id % 15 = 2),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(regexp_replace(text, '([^\s\w]|_)+', ' ', 'g')), '\s+'), x -> x <> '') AS t
        |  FROM corpus),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM toks)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pr AS (
        |  SELECT a_id, b_id,
        |    CAST(floor(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) * 10) AS BIGINT) AS band
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = a_id
        |  JOIN sizes sb ON sb.doc_id = b_id
        |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
        |ep AS (SELECT band, a_id AS d FROM pr
        |       UNION ALL SELECT band, b_id FROM pr)
        |SELECT p.band, p.n_pairs, q.n_docs FROM
        |  (SELECT band, count(*) AS n_pairs FROM pr GROUP BY band) p
        |JOIN
        |  (SELECT band, count(DISTINCT d) AS n_docs FROM ep GROUP BY band) q
        |USING (band)
        |ORDER BY p.band""".stripMargin,

    // positional 5-grams, cross-doc repeated grams, consecutive hit
    // positions collapsed into maximal islands (pos − row_number)
    "d12_repeated_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(regexp_replace(text, '([^\s\w]|_)+', ' ', 'g')), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 3, 1))) AS p
        |  FROM toks),
        |grams AS (
        |  SELECT doc_id, p, array_to_string(tk[p:p+4], ' ') AS g FROM pos),
        |rep AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT doc_id, p FROM grams WHERE g IN (SELECT g FROM rep)),
        |runs AS (
        |  SELECT doc_id, p,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS island
        |  FROM hits)
        |SELECT doc_id, CAST(min(p) - 1 AS BIGINT) AS start,
        |  CAST(count(*) + 4 AS BIGINT) AS len
        |FROM runs GROUP BY doc_id, island
        |ORDER BY doc_id, start""".stripMargin,

    // Exact set-Jaccard over the planted corpus: the expected result of
    // the (deterministic, seeded) MinHash-LSH pipeline — see the d04
    // query comment for why recall is total on this input.
    "d04_minhash_lsh" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, text FROM documents WHERE doc_id < 25),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(regexp_replace(text, '([^\s\w]|_)+', ' ', 'g')), '\s+'), x -> x <> '') AS t
        |  FROM corpus),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM toks)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id, round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = a_id
        |JOIN sizes sb ON sb.doc_id = b_id
        |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    // The slice has no organic pair at Hamming ≤ 3 (checked: no d03
    // near-dup pair lies within doc_id < 25), so the output is exactly
    // the planted identical-copy pairs at Hamming 0.
    // the exact ≥ 0.9-Jaccard pair set recomputed independently (d03's
    // construction at the higher threshold) = the anchors; recall_ok=1
    // is the pinned bounded property — SimHash at Hamming ≤ 3 must
    // catch ≥ half the organic exact near-dups (measured 0.60 at
    // sf0.01) or every row's flag flips and the hash mismatches
    "d05_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(regexp_replace(text, '([^\s\w]|_)+', ' ', 'g')), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM toks)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id, round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard,
        |       CAST(1 AS BIGINT) AS recall_ok
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = a_id
        |JOIN sizes sb ON sb.doc_id = b_id
        |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.9
        |ORDER BY a_id, b_id""".stripMargin,
  )
}
