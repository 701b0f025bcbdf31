package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token statistics, fingerprinting. All pure
  * Catalyst built-ins — the full document scan stays in one
  * whole-stage-codegen pass, no UDFs.
  */
object TextAnalysis {

  /** Marker stopwords per language for the n-gram/stopword-hit
    * language-ID heuristic. Order matters: ties resolve to the earlier
    * entry, so the list order is part of the operator's contract. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "est", "que", "pour"),
    "es" -> Seq("el", "los", "las", "y", "se", "del", "por", "con", "para", "como"),
  )

  private def markerHits(tokens: Column, markers: Seq[String]): Column =
    size(filter(tokens, t => t.isin(markers.map(lit): _*)))

  /** Predicted language code from a *materialized* token column, or
    * "und" when no marker hits at all. Pass an attribute, not a
    * computed expression — this expression references the token array
    * at many sites. */
  def langIdFromTokens(toks: Column): Column = {
    val hits = LangMarkers.map { case (lang, ms) => lang -> markerHits(toks, ms) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("und"): Column) { case ((lang, h), els) =>
      when(h > 0 && h === best, lit(lang)).otherwise(els)
    }
  }

  /** Stopword ratio against the English marker set. */
  def stopwordRatio(tokens: Column): Column =
    when(size(tokens) === 0, 0.0)
      .otherwise(markerHits(tokens, LangMarkers.head._2).cast("double") / size(tokens))

  /** Mean token length (0 for empty docs). */
  def meanTokenLen(tokens: Column): Column =
    when(size(tokens) === 0, 0.0)
      .otherwise(aggregate(tokens, lit(0L), (acc, t) => acc + length(t)).cast("double")
        / size(tokens))

  /** Fraction of characters that are ASCII alphanumeric or space —
    * a punctuation/noise proxy (0 for empty strings). */
  def alnumRatio(text: Column): Column =
    when(length(text) === 0, 0.0)
      .otherwise(length(regexp_replace(text, "[^A-Za-z0-9 ]", "")).cast("double")
        / length(text))

  /** Whitespace-ish token count after sanitization. */
  def tokenCount(text: Column): Column = size(tokenize(text)).cast("long")

  /** GPT-2-style pre-tokenization classes: letter runs, SINGLE digits,
    * punctuation runs. Deliberately restricted to constructs Java
    * regex and RE2 interpret identically, so the count carries an
    * exact DuckDB oracle (t10). The whitespace class is spelled out
    * because `\s` itself is NOT identical across the engines: Java
    * includes vertical tab (U+000B), RE2 does not. */
  val BpeTokenPattern: String = """[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0B\f\r]+"""

  /** BPE-ish regex token count — the cost-accounting number an LLM
    * data pipeline budgets by when the real tokenizer is too slow to
    * run corpus-wide. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0))).cast("long")

  /** Top-`k` salient terms per document — the TF-IDF-family scoring a
    * corpus pipeline uses for keyword extraction and quality signals.
    *
    * Scoring is tf · (N − df + 0.5)/(df + 0.5): the BM25 idf SHAPE
    * with the log deliberately dropped. log is monotone, so per-doc
    * ranking is unchanged — and the score stays a ratio of small
    * integers, which IEEE double division rounds identically in every
    * engine. That makes the rank (and the hash-matched oracle) exact;
    * a log-based score differs by ulps across libm implementations
    * and can flip near-tied ranks.
    *
    * Plan: ONE tokenize scan — the tf frame feeds both the df
    * aggregation and the join probe, and both branches embed the
    * identical Exchange under the (doc, term) groupBy, so
    * ReuseExchange/AQE stage reuse materializes the scan once (the
    * explicit isNotNull keeps the subtrees canonically identical once
    * the join infers a term null filter — same trick as the dedup
    * anchors). N rides along as a one-row aggregate cross-joined in
    * (always broadcastable), so the operator is a single job with no
    * separate driver-side count action. (The count is still its own
    * scan subtree of the source — parquet serves it from footer
    * metadata; other sources pay that extra scan inside the job.)
    * The df side of the term join carries NO
    * broadcast hint: at sf scale the vocabulary is tiny and AQE
    * broadcasts it at runtime; a web-scale corpus's vocabulary
    * (URLs, typos, code) runs to billions of rows, where a forced
    * broadcast OOMs the driver but a shuffled join degrades
    * gracefully. The top-k window shuffles once on the doc id. Ties
    * break by term. */
  /** Inverted-index postings: one row per (token, doc) with the term
    * frequency and the token's corpus-wide document frequency — the
    * retrieval-side primitive (BM25, salience, decontamination probes)
    * whose degenerate form is the reference's own word count.
    *
    * Scale shape: explode → map-side partial count → one exchange on
    * (token, doc) for tf, then a window on token for df — the df pass
    * reuses the already-grouped tf rows (vocabulary × docs, far
    * smaller than the token stream) and never re-reads the corpus.
    * Zipf-hot tokens are pre-collapsed per doc by the partial agg, so
    * the token-partitioned window sees df rows, not occurrences. */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(col(idCol), explode(tokenize(col(textCol))).as("token"))
      .groupBy(col("token"), col(idCol)).agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
  }

  /** BM25 ranked retrieval: top-`k` documents for a bag of query
    * `terms`, scored with the Robertson/Okapi term-weight
    * `idf · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))`. The idf is the
    * RATIONAL Robertson–Sparck-Jones form `(N−df+0.5)/(df+0.5)`
    * without the customary log: `ln` is not correctly-rounded IEEE,
    * so it cannot sit under a bit-exact cross-engine oracle — and
    * every other operation here (+,−,×,÷ on doubles) is, making the
    * whole score deterministic to the bit. Swapping in the log idf is
    * a one-line change. Per-document term scores are summed in
    * CANONICAL order (sort the score array, left-fold) so partition
    * order cannot perturb the float sum.
    *
    * Scale shape: the corpus is scanned twice, both passes map-side
    * only — once for the 2-number global stats (N, avgdl), once for
    * postings. Tokens are filtered to the query terms BEFORE the tf
    * exchange, so the only shuffle is |terms|·df posting-group rows,
    * never the token stream; doc length rides each posting row (8
    * bytes) rather than joining a length table back in. Corpus stats
    * broadcast (2 values); df comes from a window over the
    * already-collapsed tf rows; the final top-k plans as
    * TakeOrderedAndProject (no global sort). Ties break by doc id. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = docs.select(col(idCol), tokenize(col(textCol)).as("t"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      (sum(size(col("t"))).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    val tf = toks
      .select(col(idCol), size(col("t")).cast("long").as("dl"),
        explode(col("t")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"))
    val wd = tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
    // k1+1 and 1-b are folded on the driver; both engines then execute
    // the same correctly-rounded double ops in the same association
    val scored = wd.crossJoin(broadcast(stats))
      .withColumn("s",
        (((col("n_docs") - col("df")) + lit(0.5)) / (col("df") + lit(0.5))) *
          ((col("tf") * lit(k1 + 1.0)) /
            (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / col("avgdl"))))))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"),
        sort_array(collect_list(col("s"))).as("ss"))
      .withColumn("score",
        round(aggregate(col("ss"), lit(0.0), (acc, x) => acc + x), 4))
      .select(col(idCol), col("n_terms"), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  def topSalientTerms(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(idCol), explode(tokenize(col(textCol))).as("term"))
      .filter(col(idCol).isNotNull && col("term").isNotNull)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // tf > 0 is always true (a group has >= 1 row) but the optimizer
    // cannot prove it, so it blocks column pruning from rewriting this
    // branch's copy of the tf aggregate into a count-less distinct —
    // which would make the two exchange subtrees differ and silently
    // defeat the scan reuse documented above.
    val df = tf.where(col("tf") > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDf = docs.agg(count(lit(1)).as("_n"))
    val scored = tf.join(df, "term").crossJoin(broadcast(nDf))
      .withColumn("salience",
        col("tf") * (col("_n") - col("df") + 0.5) / (col("df") + 0.5))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("salience").desc, col("term"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("long").as("rank"), col("term"),
        round(col("salience"), 4).as("salience"))
  }

  /** PII scrubbing — the standard pre-training redaction pass.
    * Patterns are deliberately Java/RE2-portable (explicit classes, no
    * `\w`/`\s`), so redaction output and match counts carry exact
    * DuckDB oracles (t13). */
  val EmailPattern: String = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val Ipv4Pattern: String = """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""

  /** Emails → `<EMAIL>`, dotted-quad IPs → `<IP>`. Email first: an
    * address's host part would otherwise feed the IP pattern. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
      Ipv4Pattern, "<IP>")

  /** Exactly the number of replacements [[redactPii]] performs: IPs
    * are counted on the email-scrubbed text, mirroring the sequential
    * passes — counting both patterns on the ORIGINAL text would
    * double-count an email whose host contains a dotted quad
    * (`u@1.2.3.4.com` is ONE redaction, not two). */
  def piiCount(text: Column): Column = {
    val afterEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    (size(regexp_extract_all(text, lit(EmailPattern), lit(0))) +
      size(regexp_extract_all(afterEmail, lit(Ipv4Pattern), lit(0)))).cast("long")
  }

  /** Gopher-style repetition signals per document: the fraction of
    * tokens taken by the single most frequent token, and the fraction
    * of duplicate word-trigrams. High values flag boilerplate/spam for
    * curation filtering.
    *
    * Plan: ONE tokenize scan anchored under an Exchange on the id —
    * the token-frequency branch and the trigram branch both embed the
    * identical subtree, so stage reuse materializes it once (same
    * pattern as the dedup anchors; per-row HOF counting would be the
    * O(n²)-per-document trap). The final spine join reads only the id
    * column of the source. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the _toks filter mirrors what InferFiltersFromGenerate derives
    // for the term branch's explode — stated explicitly so BOTH
    // branches' subtrees below the anchor stay canonically identical
    // (otherwise the inferred filter pushes below the exchange on one
    // branch only and silently defeats the reuse). Zero-token docs are
    // restored with zero ratios by the left-join spine.
    val base = docs.filter(col(idCol).isNotNull)
      .select(col(idCol), tokenize(col(textCol)).as("_toks"))
      .filter(col("_toks").isNotNull && size(col("_toks")) > 0)
      .repartition(col(idCol))
    val tfc = base.select(col(idCol), explode(col("_toks")).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val tok = tfc.groupBy(col(idCol))
      .agg(max(col("tf")).as("top_tf"), sum(col("tf")).as("n_tokens"))
    val trc = base.select(col(idCol), explode(ngrams(col("_toks"), 3)).as("tg"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tg"), countDistinct(col("tg")).as("n_dtg"))
    docs.select(col(idCol))
      .join(tok, Seq(idCol), "left")
      .join(trc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(coalesce(col("top_tf").cast("double") / col("n_tokens"), lit(0.0)), 4)
          .as("top_tok_ratio"),
        round(coalesce(lit(1.0) - col("n_dtg").cast("double") / col("n_tg"), lit(0.0)), 4)
          .as("dup_trigram_ratio"))
  }

  /** Corpus-conditional bigram fluency score — an LM-quality proxy
    * without a model: per document, the micro-averaged conditional
    * bigram probability `Σ count(a,b) / Σ count(a,·)` over its bigram
    * occurrences, with counts taken from the whole corpus. Documents
    * built from common constructions score high; rare/garbled token
    * sequences score low — the cheap fluency signal a curation
    * pipeline thresholds before paying for a real LM pass.
    *
    * The AGGREGATE ratio (not the mean of per-bigram ratios) is
    * deliberate: both sums are integer — exact and order-independent
    * under any partitioning — and only the final division is floating
    * point, so the score is bit-reproducible (and oracle-checkable)
    * where a mean of doubles would drift by summation order.
    *
    * Plan: one tokenize+bigram scan anchored under an Exchange on the
    * bigram; the corpus count table groups on that same partitioning
    * (no second shuffle) and the doc-side join probes it
    * co-partitioned. Prefix counts derive from the (vocabulary-sized)
    * count table, not the raw corpus, and ride in via AQE's choice of
    * join. */
  def bigramLmScores(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bigramLmRaw(docs, idCol, textCol)
      .select(col(idCol), col("n_bg"),
        round(col("_sn").cast("double") / col("_sd").cast("double"), 4).as("score"))

  /** The integer core of [[bigramLmScores]]: per doc, its bigram count
    * and the two EXACT sums whose quotient is the fluency score. Kept
    * integer so downstream consumers (the quality-bucket assignment)
    * can derive surrogate keys without touching floating point. */
  private def bigramLmRaw(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = docs.filter(col(idCol).isNotNull)
      .select(col(idCol), explode(ngrams(tokenize(col(textCol)), 2)).as("bigram"))
      .filter(col("bigram").isNotNull)
      .repartition(col("bigram"))
    // count(idCol), not count(1): ids are filtered non-null so the
    // counts are identical, but counting the id keeps this branch's
    // subtree reading the SAME columns as the join probe below —
    // column pruning would otherwise specialize the two copies of the
    // anchor exchange apart and silently defeat ReuseExchange (the
    // count-less-distinct variant of the same trap hit t12).
    val counts = bg.groupBy(col("bigram")).agg(count(col(idCol)).as("cb"))
    val prefix = counts
      .groupBy(substring_index(col("bigram"), " ", 1).as("p"))
      .agg(sum(col("cb")).as("cp"))
    bg.join(counts, Seq("bigram"))
      .join(prefix, substring_index(col("bigram"), " ", 1) === col("p"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bg"),
        sum(col("cb")).as("_sn"), sum(col("cp")).as("_sd"))
  }

  /** CCNet-style quality buckets, the decision stage of the
    * perplexity-filter pipeline, in three pieces: [[lmScored]] →
    * [[decileBounds]] → [[assignQualityBuckets]] (t24 composes them,
    * memoizing the boundary table per corpus). Every document with ≥1
    * bigram lands in `head` / `middle` / `tail` by its corpus-LM
    * fluency percentile WITHIN ITS LANGUAGE, plus the sampling weight
    * a mixing pass would apply per bucket (CCNet buckets by
    * per-language LM perplexity terciles; here deciles 9–10 = head,
    * 5–8 = middle). Docs with fewer than 2 tokens have no bigrams,
    * hence no fluency evidence, and are absent (same contract as
    * [[bigramLmScores]]).
    *
    * Scale shape — exact quantiles WITHOUT a per-language sort: a
    * per-language `ntile` window would collapse each language onto one
    * task (the classic 100 TB bottleneck). Instead this pass turns the
    * score into an integer surrogate `score_ppm = (sn·10⁶) div sd`
    * (exact integer arithmetic; headroom to sn ≈ 9e12 bigram
    * occurrences): `(id, lang, n_bg, score_ppm)`. */
  def lmScored(docs: DataFrame, idCol: String, textCol: String,
               langCol: String): DataFrame =
    bigramLmRaw(docs, idCol, textCol)
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
      .select(col(idCol), col(langCol), col("n_bg"),
        expr("(_sn * 1000000L) div _sd").as("score_ppm"))

  /** Exact per-language decile boundaries of the `score_ppm`
    * distribution: `(lang, decile, lo_ppm, hi_ppm)`, ≤ 10 rows per
    * language. ppm values collapse to a bounded histogram first, the
    * cumulative distribution is a window over THAT stats frame (never
    * the corpus), and `ceil(10·cum/n)` ranges aggregate to one row per
    * decile. Every observed ppm value falls in exactly one boundary
    * range, so range assignment reproduces the per-value decile map.
    * The histogram is bounded (≤ 10⁶ rows per language by
    * construction) and the window runs over it — the d12/vocabGrowth
    * pattern: windows run over outputs, never over the corpus. Ties
    * share a ppm value and therefore a decile (cume_dist semantics:
    * the group's upper rank decides), which keeps the assignment
    * deterministic and engine-independent — `ceil(10·cum/n)` in pure
    * integer math. */
  def decileBounds(scored: DataFrame, langCol: String): DataFrame = {
    val hist = scored.groupBy(col(langCol), col("score_ppm"))
      .agg(count(lit(1)).as("cnt"))
    val nByLang = hist.groupBy(col(langCol)).agg(sum(col("cnt")).as("n"))
    val cume = hist.withColumn("cum",
      sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col(langCol)).orderBy(col("score_ppm"))))
    cume.join(nByLang, Seq(langCol))
      .select(col(langCol), col("score_ppm"),
        expr("(cum * 10L + n - 1L) div n").as("decile"))
      .groupBy(col(langCol), col("decile"))
      .agg(min(col("score_ppm")).as("lo_ppm"), max(col("score_ppm")).as("hi_ppm"))
  }

  /** Bucket assignment from a precomputed boundary table: broadcast
    * hash join on the language key with the ppm range as the join
    * residual — each scored row matches exactly one of its language's
    * ≤ 10 boundary rows. What ships back to the corpus is that
    * boundary table, not the ppm histogram: the broadcast stays
    * dimension-sized however many languages the corpus carries (the
    * histogram is bounded at ~1e6 rows PER LANGUAGE, which a
    * high-cardinality lang column multiplies past any sane broadcast). */
  def assignQualityBuckets(scored: DataFrame, idCol: String, langCol: String,
                           bounds: DataFrame): DataFrame = {
    val s = scored.alias("s")
    val qb = broadcast(bounds).alias("qb")
    s.join(qb,
        col(s"s.$langCol") === col(s"qb.$langCol") &&
          col("s.score_ppm") >= col("qb.lo_ppm") &&
          col("s.score_ppm") <= col("qb.hi_ppm"))
      .select(col(s"s.$idCol"), col(s"s.$langCol"), col("s.n_bg"),
        col("s.score_ppm"), col("qb.decile").as("decile"),
        when(col("qb.decile") >= 9, lit("head"))
          .when(col("qb.decile") >= 5, lit("middle"))
          .otherwise(lit("tail")).as("bucket"),
        when(col("qb.decile") >= 9, lit(1000L))
          .when(col("qb.decile") >= 5, lit(400L))
          .otherwise(lit(100L)).as("weight_permille"))
  }

  /** Vocabulary-growth (Heaps'-law) profile: cumulative distinct-type
    * and total-token counts at every `bucketDocs`-document checkpoint
    * of the `idCol` order. The classic corpus diagnostic — V(N) ≈
    * K·N^β says whether a crawl is still finding new language or
    * re-reading itself, and the measured β calibrates dedup budgets.
    *
    * Shape: "distinct over every prefix" does NOT need a pass per
    * checkpoint — a type is new at exactly one document (its first
    * occurrence), so one `min(doc)` aggregate per type places every
    * type in its checkpoint bucket, and a cumulative sum over the
    * bucketed counts replays the whole curve. Two corpus-sized
    * aggregates (per-type min, per-bucket token count) and then a
    * window over the OUTPUT (one row per checkpoint — driver-sized by
    * construction: pick bucketDocs so corpus/bucketDocs stays in the
    * thousands; the single-partition window is over that result, not
    * the corpus). */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
                  bucketDocs: Long): DataFrame = {
    require(bucketDocs > 0, s"bucketDocs must be positive: $bucketDocs")
    val toks = docs.select(col(idCol), explode(tokenize(col(textCol))).as("token"))
    val newTypes = toks.groupBy(col("token"))
      .agg(min(col(idCol)).as("_first"))
      .groupBy(expr(s"_first div $bucketDocs").as("_bucket"))
      .agg(count(lit(1)).as("_new_types"))
    val bucketToks = toks
      .groupBy(expr(s"$idCol div $bucketDocs").as("_bucket"))
      .agg(count(lit(1)).as("_n_toks"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    bucketToks.join(newTypes, Seq("_bucket"), "left")
      .select(col("_bucket"), col("_n_toks"),
        coalesce(col("_new_types"), lit(0L)).as("_nt"))
      .select(((col("_bucket") + 1) * bucketDocs).as("n_docs"),
        sum(col("_nt")).over(w).as("vocab_size"),
        sum(col("_n_toks")).over(w).as("total_tokens"))
  }

  /** 128-bit content fingerprint of the canonical token stream. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", tokenize(text)).cast("binary"))

  /** Per-document quality/statistics frame. Tokens are materialized
    * once, then every statistic reads the bound attribute. */
  def docStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), col(textCol), tokenize(col(textCol)).as("_toks"))
      .select(
        col(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        round(meanTokenLen(col("_toks")), 4).as("mean_tok_len"),
        round(stopwordRatio(col("_toks")), 4).as("stopword_ratio"),
        round(alnumRatio(col(textCol)), 4).as("alnum_ratio"),
      )
}
