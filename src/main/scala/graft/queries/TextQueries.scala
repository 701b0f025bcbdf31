package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Bigrams, Checkpoints, TextAnalysis}

/** Text-analysis queries over the `documents` table, each with a
  * DuckDB oracle that mirrors the exact same sanitize/tokenize
  * semantics (RE2's `\w`/`\s` are ASCII-only just like Java regex, and
  * DuckDB's `regexp_replace` needs the 'g' flag to match Java
  * `replaceAll`).
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** The counts behind t19's and t23's lift, `(w1, w2, c12, cw1, cw2,
    * ntok)`, per token pair with `w2` at most `window` tokens after `w1`
    * in a document and `c12 >= minPairs`. One corpus scan: the in-mapper
    * pairs and unigrams sum in one `(w1, w2)` aggregate, whose NULL-`w2`
    * group is the unigram histogram. The filtered table is materialized
    * once (the d11 fan-out idiom): the pairs, the unigrams twice as a
    * join side and the total all read it. */
  private def liftCounts(s: SparkSession, dir: String, window: Int, minPairs: Long): DataFrame = {
    import s.implicits._
    val counts = Checkpoints.materialize(docs(s, dir)
      .select(bigramCounts($"text", window, unigrams = true))
      .groupBy($"w1", $"w2").agg(sum($"count").as("c"))
      .filter($"w2".isNull || $"c" >= minPairs))
    val uni = counts.filter($"w2".isNull).select($"w1".as("w"), $"c".as("cw"))
    counts.filter($"w2".isNotNull).select($"w1", $"w2", $"c".as("c12"))
      .join(uni.select($"w".as("w1"), $"cw".as("cw1")), Seq("w1"))
      .join(uni.select($"w".as("w2"), $"cw".as("cw2")), Seq("w2"))
      .crossJoin(broadcast(uni.agg(sum($"cw").as("ntok"))))
  }

  /** DuckDB expression for the sanitized, empty-filtered token list. */
  private val SqlToks =
    """list_filter(string_split_regex(lower(regexp_replace(text, '([^\s\w]|_)+', ' ', 'g')), '\s+'), x -> x <> '')"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The reference's flagship computation, lifted onto the documents
    // table: per-document records (bigrams never cross documents).
    "t01_bigram_counts" -> ((s, dir) => {
      import s.implicits._
      Bigrams.counts(docs(s, dir).select($"text".as("value")))
        .orderBy($"bigram")
    }),

    "t02_token_count" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select($"doc_id", TextAnalysis.tokenCount($"text").as("n_tokens"))
        .orderBy($"doc_id")
    }),

    "t03_doc_stats" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.docStats(docs(s, dir), "doc_id", "text").orderBy($"doc_id")
    }),

    "t04_fingerprint" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select($"doc_id", TextAnalysis.fingerprint($"text").as("fp"))
        .orderBy($"doc_id")
    }),

    "t05_lang_id" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select($"doc_id", tokenize($"text").as("_toks"))
        .select($"doc_id", TextAnalysis.langIdFromTokens($"_toks").as("pred_lang"))
        .orderBy($"doc_id")
    }),

    "t06_source_stats" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"),
          round(avg($"n_chars"), 2).as("avg_chars"))
        .orderBy($"source")
    }),

    // ZIP-source roundtrip under the oracle gate: pack the first 50
    // documents into an archive (one entry per doc), read it back
    // through the custom ZIP-entry source, count bigrams per entry
    // record. The oracle computes the same counts straight from the
    // documents table — so entry splitting, byte fidelity, and record
    // granularity are all hash-checked.
    "t08_zip_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val zipPath = graft.sources.DocFixtures.docsZip(s, dir)
      Bigrams.fromZip(s, zipPath, Bigrams.RecordMode.WholeFiles)
        .orderBy($"bigram")
    }),

    // The reference's plain-text line job (`WordCountV2`, the custom9
    // run) over a corpus derived from this query's own documents table
    // (DocFixtures.docsCorpus): zuni.txt's stressors — a 600 KB+ line,
    // non-ASCII text, digit/underscore runs, lines under 2 tokens —
    // without the reference checkout. The oracle rebuilds the same
    // lines from `documents` in SQL.
    "t09_reference_corpus" -> ((s, dir) => {
      import s.implicits._
      Bigrams.fromTextFiles(s, graft.sources.DocFixtures.docsCorpus(s, dir),
        Bigrams.RecordMode.Lines)
        .orderBy($"bigram")
    }),

    // Token-cost accounting both ways: whitespace tokens (sanitize
    // pipeline) and the BPE-ish regex classes — the two counts a
    // training-data pipeline budgets by.
    "t10_bpe_tokens" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select($"doc_id",
          TextAnalysis.tokenCount($"text").as("n_ws_tokens"),
          TextAnalysis.bpeTokenCount($"text").as("n_bpe_tokens"))
        .orderBy($"doc_id")
    }),

    // Keyword extraction: top-3 salient terms per doc, log-free
    // BM25-shaped idf (rational arithmetic → bit-identical ranking
    // across engines; see TextAnalysis.topSalientTerms).
    "t11_salient_terms" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.topSalientTerms(docs(s, dir), "doc_id", "text", k = 3)
        .orderBy($"doc_id", $"rank")
    }),

    // Gopher-style repetition/boilerplate signals over the real corpus.
    "t12_repetition" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.repetitionStats(docs(s, dir), "doc_id", "text")
        .orderBy($"doc_id")
    }),

    // PII redaction: the corpus carries no organic emails/IPs, so a
    // deterministic contact string is planted per doc (presence varies
    // by id) and scrubbed — the oracle replants and re-scrubs with the
    // same RE2-portable patterns, so counts AND redacted lengths must
    // agree exactly.
    "t13_redact" -> ((s, dir) => {
      import s.implicits._
      val planted = docs(s, dir).select($"doc_id",
        concat($"text",
          when($"doc_id" % 3 =!= 0,
            concat(lit(" contact user"), $"doc_id", lit("@example.com"))).otherwise(lit("")),
          when($"doc_id" % 2 === 0,
            concat(lit(" from 10.0."), $"doc_id" % 256, lit("."), $"doc_id" % 100))
            .otherwise(lit(""))).as("ptext"))
      planted.select($"doc_id",
          TextAnalysis.piiCount($"ptext").as("n_pii"),
          length(TextAnalysis.redactPii($"ptext")).cast("long").as("len_redacted"))
        .orderBy($"doc_id")
    }),

    // Word trigram frequencies — the n-gram generalization.
    "t07_trigram_top" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select(tokenize($"text").as("_toks"))
        .select(explode(ngrams($"_toks", 3)).as("trigram"))
        .groupBy($"trigram").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"trigram")
        .limit(100)
    }),

    // Heavy hitters (tokens in ≥ 0.2% of token occurrences) through
    // the Count-Min sketch: the sketch only PRUNES — overestimates
    // can't drop a true heavy hitter, the exact groupBy over surviving
    // rows settles the counts — so the result (and its oracle) is the
    // plain exact threshold query, while the shuffle carries only the
    // candidate rows.
    "t14_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val toks = docs(s, dir)
        .select(tokenize($"text").as("_toks"))
        .select(explode($"_toks").as("token"))
      graft.operators.Sketches.heavyHitters(toks, "token", minFraction = 0.002)
        .orderBy($"token")
    }),

    // Corpus-conditional bigram fluency: integer sums, one final
    // division — bit-reproducible (see TextAnalysis.bigramLmScores).
    "t15_bigram_lm" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.bigramLmScores(docs(s, dir), "doc_id", "text")
        .orderBy($"doc_id")
    }),

    // CCNet-style quality buckets: per-language LM-fluency deciles →
    // head/middle/tail + the sampling weight a mixing pass applies.
    // Exact quantiles with NO per-language sort (see the operator's
    // scale note: integer score surrogate → bounded histogram →
    // window over the stats frame → broadcast of the ≤10-rows-per-
    // language boundary table). The boundary table is a per-corpus
    // artifact, memoized like the mining budget (DerivedCaps), so
    // repeat invocations pay one corpus scan, not two.
    "t24_quality_buckets" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.assignQualityBuckets(
          TextAnalysis.lmScored(docs(s, dir), "doc_id", "text", "lang"),
          "doc_id", "lang", DerivedCaps.qualityBoundsFor(s, dir))
        .orderBy($"doc_id")
    }),

    // Inverted index: per-token document frequency over the FULL
    // corpus, postings emitted for the doc_id%7 shard — the global
    // stats + sharded-emission split an incremental index build uses.
    "t16_inverted_index" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.invertedIndex(docs(s, dir), "doc_id", "text")
        .filter($"doc_id" % 7 === 0)
        .select($"token", $"df", $"doc_id", $"tf")
        .orderBy($"token", $"doc_id")
    }),

    // BM25 ranked retrieval: top-20 docs for a 4-term query mixing
    // one rare term (dup, df≈25) with common vocabulary — the
    // relevance-ranking primitive a decontamination/search pass runs
    // over the inverted-index machinery. Bit-exact under the oracle:
    // rational idf (no ln), canonical-order float fold (see
    // TextAnalysis.bm25TopK's scaladoc).
    "t17_bm25" -> ((s, dir) =>
      TextAnalysis.bm25TopK(docs(s, dir), "doc_id", "text",
        Seq("dup", "join", "key", "vector"), k = 20)),

    // Heaps'-law vocabulary-growth curve: cumulative distinct types
    // and total tokens at every 50-doc checkpoint. "Distinct over
    // every prefix" needs no per-checkpoint pass — each type is new
    // exactly once (min first-occurrence doc), so two corpus-sized
    // aggregates place every type/token in its bucket and a window
    // over the checkpoint ROWS (driver-sized output) replays the
    // curve. The crawl-health diagnostic: a flattening curve means
    // the corpus is re-reading itself and dedup budgets can shrink.
    "t20_vocab_growth" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.vocabGrowth(docs(s, dir), "doc_id", "text", bucketDocs = 50L)
        .orderBy($"n_docs")
    }),

    // Zipf's-law fit per language: token frequencies ranked (count
    // desc, token tiebreak → deterministic ranks), then the
    // log-log regression slope + r² via the built-in regr_*
    // aggregates — the distributional sanity check a corpus release
    // runs (natural text ≈ -1; generated/templated text drifts).
    // One tokenize scan → one (lang, token) agg → one rank window →
    // one regression agg; all shuffles vocabulary-sized.
    "t21_zipf_fit" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val freqs = docs(s, dir)
        .select($"lang", explode(tokenize($"text")).as("w"))
        .groupBy($"lang", $"w").agg(count(lit(1)).as("n"))
      val ranked = freqs.withColumn("rnk", row_number()
        .over(Window.partitionBy($"lang").orderBy($"n".desc, $"w")))
      ranked.groupBy($"lang")
        .agg(count(lit(1)).as("n_types"),
          round(expr("regr_slope(ln(n), ln(rnk))"), 4).as("zipf_slope"),
          round(expr("regr_r2(ln(n), ln(rnk))"), 4).as("zipf_r2"))
        .orderBy($"lang")
    }),

    // Code-vs-prose detection: the structural-character density gate a
    // training mix uses to route documents to a code pipeline (or
    // filter mis-scraped markup out of prose). Pure map-side integer
    // arithmetic — length deltas after stripping the code-punctuation
    // class, a permille ratio in integer division, threshold at 20‰ —
    // zero shuffle, exact cross-engine. Every 13th doc gets a planted
    // code block proportional to its length so both classes are
    // exercised deterministically.
    "t22_code_detect" -> ((s, dir) => {
      import s.implicits._
      val planted = docs(s, dir).withColumn("ptext",
        when($"doc_id" % 13 === 0,
          concat($"text",
            expr("repeat(' {x=1;}', CAST(n_chars div 40 AS INT))")))
          .otherwise($"text"))
      planted
        .select($"doc_id", length($"ptext").cast("long").as("n_chars"),
          (length($"ptext") -
            length(regexp_replace($"ptext", "[{}();=<>#]", "")))
            .cast("long").as("code_punct"))
        .withColumn("punct_permille", expr("code_punct * 1000 div n_chars"))
        .withColumn("is_code", ($"punct_permille" >= 20L).cast("long"))
        .orderBy($"doc_id")
    }),

    // Windowed co-occurrence lift (the word2vec/GloVe statistic): how
    // much more often w2 follows w1 within 3 tokens than unigram
    // rates predict. Distinct from t19's ADJACENT-pair collocations —
    // the window catches "new ... york" style skip associations.
    "t23_window_pmi" -> ((s, dir) => {
      import s.implicits._
      // lift in exact integer parts-per-million: window-pair ratios
      // are rationals that DO land on .5 rounding boundaries, where
      // engines' double round() implementations can disagree — floor
      // division of exact integers cannot. The products run in
      // DECIMAL(38,0): the r12 sf40-heavy rung caught the old pure-long
      // form overflowing (c12·10⁶·ntok passes 2⁶³ once ntok ~1e8 — an
      // ANSI ARITHMETIC_OVERFLOW kill, exactly the defect class the
      // rung exists for). Decimal128 gives headroom past 1e30 while
      // keeping the division exact; the result is the same BIGINT.
      liftCounts(s, dir, window = 3, minPairs = 30)
        .select($"w1", $"w2", $"c12",
          expr("CAST((CAST(c12 AS DECIMAL(38,0)) * 1000000 * ntok) div " +
            "(CAST(cw1 AS DECIMAL(38,0)) * cw2) AS BIGINT)").as("lift_ppm"))
        .orderBy($"lift_ppm".desc, $"w1", $"w2")
    }),

    // Collocation mining: bigram lift = P(w1w2)-vs-independence ratio
    // c12·N / (c1·c2) over the corpus — the phrase-detection pass
    // (word2vec-style phrase merging, stopword-phrase filtering) runs
    // before tokenizer training. Exact rational arithmetic in doubles:
    // every product stays < 2^53 (counts are bounded by corpus token
    // count), so one exact multiply + one correctly-rounded divide is
    // bit-identical in any engine. Shape: t23's at window 1.
    "t19_collocations" -> ((s, dir) => {
      import s.implicits._
      liftCounts(s, dir, window = 1, minPairs = 20)
        .select($"w1", $"w2", $"c12",
          // cw1·cw2 multiplies in DOUBLES (same on the oracle side):
          // the long product overflows once ntok² passes 2⁶³ — the
          // same cliff the r12 heavy rung caught in t23's ppm form.
          // IEEE binary64 multiply is engine-exact, so parity holds.
          round(($"c12".cast("double") * $"ntok") /
            ($"cw1".cast("double") * $"cw2".cast("double")), 6).as("lift"))
        .orderBy($"lift".desc, $"w1", $"w2")
    }),

    // Blocked fuzzy matching: near-identical part names via edit
    // distance ≤ 2, candidates generated by a BLOCKING key (the noun —
    // last token) so the join is an equi-join on the block, never an
    // all-pairs cartesian. The 100 TB shape: names are deduped FIRST
    // (the distinct-name set is tiny relative to the row count — the
    // classic entity-resolution reduction), per-name row counts ride
    // along from the same aggregate, and levenshtein runs only inside
    // blocks. Edit distance is exact integer DP — identical in any
    // engine.
    "t18_fuzzy_match" -> ((s, dir) => {
      import s.implicits._
      val names = Tables.load(s, dir, "part")
        .groupBy($"p_name").agg(count(lit(1)).as("n_rows"))
        .withColumn("noun", element_at(split($"p_name", " "), 2))
      val a = names.select($"p_name".as("name_a"), $"n_rows".as("n_a"), $"noun")
      val b = names.select($"p_name".as("name_b"), $"n_rows".as("n_b"), $"noun")
      a.join(b, Seq("noun"))
        .filter($"name_a" < $"name_b")
        .withColumn("dist", levenshtein($"name_a", $"name_b").cast("long"))
        .filter($"dist" <= 2)
        .select($"name_a", $"name_b", $"dist", $"n_a", $"n_b")
        .orderBy($"name_a", $"name_b")
    }),
  )

  private def langCaseSql: String = {
    val hits = TextAnalysis.LangMarkers.map { case (lang, ms) =>
      val set = ms.map(m => s"'$m'").mkString("[", ", ", "]")
      lang -> s"len(list_filter(t, x -> list_contains($set, x)))"
    }
    val best = hits.map(_._2).reduce((a, b) => s"greatest($a, $b)")
    val cases = hits.map { case (lang, h) =>
      s"WHEN $h > 0 AND $h = best THEN '$lang'"
    }.mkString(" ")
    s"""WITH toks AS (SELECT doc_id, $SqlToks AS t FROM documents),
       |scored AS (SELECT doc_id, t, $best AS best FROM toks)
       |SELECT doc_id, CASE $cases ELSE 'und' END AS pred_lang
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // DocFixtures.docsCorpus rebuilt from `documents`: the doc lines in
    // doc_id order, then the long line, LF-joined and split on chr(10)
    // again, as Spark's line reader splits the LF-only file; then the
    // shared sanitize/tokenize (SqlToks) and bigram SQL over the lines.
    "t09_reference_corpus" -> {
      import graft.sources.DocFixtures._
      s"""WITH docs AS (SELECT doc_id, replace(text, chr(13), ' ') AS text FROM documents),
         |raw AS (
         |  SELECT string_agg(line, chr(10) ORDER BY k, doc_id) AS content FROM (
         |    SELECT 0 AS k, doc_id,
         |      CASE WHEN doc_id % $LoneEvery = 0 THEN '$LoneLine'
         |           WHEN doc_id % $SuffixEvery = 0 THEN text || '$Suffix'
         |           ELSE text END AS line
         |    FROM docs
         |    UNION ALL
         |    SELECT 1, 0, repeat(string_agg(text, ' ' ORDER BY doc_id) || ' ', $LongLineRepeats)
         |    FROM docs WHERE doc_id < $LongLineDocs)),
         |lines AS (SELECT unnest(string_split(content, chr(10))) AS text FROM raw),
         |toks AS (SELECT $SqlToks AS t FROM lines),
         |bigs AS (
         |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || '+' || t[i+1])) AS bigram
         |  FROM toks WHERE len(t) >= 2)
         |SELECT bigram, count(*) AS count FROM bigs GROUP BY bigram ORDER BY bigram""".stripMargin
    },

    "t01_bigram_counts" ->
      s"""WITH toks AS (SELECT $SqlToks AS t FROM documents)
         |SELECT bigram, count(*) AS count FROM (
         |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || '+' || t[i+1])) AS bigram
         |  FROM toks)
         |GROUP BY bigram ORDER BY bigram""".stripMargin,

    "t08_zip_roundtrip" ->
      s"""WITH toks AS (SELECT $SqlToks AS t FROM documents WHERE doc_id < 50)
         |SELECT bigram, count(*) AS count FROM (
         |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || '+' || t[i+1])) AS bigram
         |  FROM toks)
         |GROUP BY bigram ORDER BY bigram""".stripMargin,

    "t02_token_count" ->
      s"""SELECT doc_id, CAST(len($SqlToks) AS BIGINT) AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    // 0.5e0 keeps the arithmetic in DOUBLE (a bare 0.5 is DECIMAL in
    // DuckDB, which would diverge from Spark's double division)
    "t11_salient_terms" ->
      s"""WITH toks AS (SELECT doc_id, $SqlToks AS t FROM documents),
         |terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
         |tfc AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
         |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
         |nn AS (SELECT count(*) AS n FROM documents),
         |scored AS (
         |  SELECT doc_id, term, tf * (n - df + 0.5e0) / (df + 0.5e0) AS salience
         |  FROM tfc JOIN dfc USING (term) CROSS JOIN nn),
         |ranked AS (
         |  SELECT doc_id, term, salience,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY salience DESC, term) AS rank
         |  FROM scored)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, round(salience, 4) AS salience
         |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "t12_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $SqlToks AS t FROM documents),
         |terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
         |tfc AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
         |tok AS (SELECT doc_id, max(tf) AS top_tf, CAST(sum(tf) AS BIGINT) AS n_tokens
         |        FROM tfc GROUP BY doc_id),
         |tris AS (SELECT doc_id,
         |           unnest(list_transform(range(1, len(t) - 1),
         |             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tg
         |         FROM toks),
         |trc AS (SELECT doc_id, count(*) AS n_tg, count(DISTINCT tg) AS n_dtg
         |        FROM tris GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(tok.n_tokens, 0) AS n_tokens,
         |  round(coalesce(tok.top_tf / CAST(tok.n_tokens AS DOUBLE), 0.0e0), 4) AS top_tok_ratio,
         |  round(coalesce(1.0e0 - trc.n_dtg / CAST(trc.n_tg AS DOUBLE), 0.0e0), 4) AS dup_trigram_ratio
         |FROM documents d LEFT JOIN tok USING (doc_id) LEFT JOIN trc USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "t13_redact" ->
      s"""WITH planted AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 <> 0
         |         THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
         |    CASE WHEN doc_id % 2 = 0
         |         THEN ' from 10.0.' || (doc_id % 256) || '.' || (doc_id % 100) ELSE '' END
         |    AS ptext
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(ptext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         |     + len(regexp_extract_all(
         |         regexp_replace(ptext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |         '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) AS n_pii,
         |  CAST(len(regexp_replace(regexp_replace(ptext,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g')) AS BIGINT) AS len_redacted
         |FROM planted ORDER BY doc_id""".stripMargin,

    "t10_bpe_tokens" ->
      s"""SELECT doc_id, CAST(len($SqlToks) AS BIGINT) AS n_ws_tokens,
         |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t03_doc_stats" ->
      s"""WITH toks AS (SELECT doc_id, text, $SqlToks AS t FROM documents)
         |SELECT doc_id,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  round(CASE WHEN len(t) = 0 THEN 0.0
         |    ELSE CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t) END, 4) AS mean_tok_len,
         |  round(CASE WHEN len(t) = 0 THEN 0.0
         |    ELSE CAST(len(list_filter(t, x -> list_contains(['the','and','of','to','in','is','that','it','was','for'], x))) AS DOUBLE) / len(t) END, 4) AS stopword_ratio,
         |  round(CASE WHEN len(text) = 0 THEN 0.0
         |    ELSE CAST(len(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / len(text) END, 4) AS alnum_ratio
         |FROM toks ORDER BY doc_id""".stripMargin,

    "t04_fingerprint" ->
      s"""SELECT doc_id, md5(array_to_string($SqlToks, ' ')) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t05_lang_id" -> langCaseSql,

    "t06_source_stats" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |round(avg(n_chars),2) AS avg_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "t07_trigram_top" ->
      s"""WITH toks AS (SELECT $SqlToks AS t FROM documents)
         |SELECT trigram, count(*) AS n FROM (
         |  SELECT unnest(list_transform(range(1, len(t) - 1),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS trigram
         |  FROM toks)
         |GROUP BY trigram ORDER BY n DESC, trigram LIMIT 100""".stripMargin,

    // the plain exact form — the engine's sketch path must reproduce
    // it exactly (0.002e0 keeps the threshold arithmetic in DOUBLE)
    "t14_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest($SqlToks) AS token FROM documents),
         |tot AS (SELECT count(*) AS c FROM toks)
         |SELECT token, count(*) AS n FROM toks
         |GROUP BY token
         |HAVING count(*) >= ceil(0.002e0 * (SELECT c FROM tot))
         |ORDER BY token""".stripMargin,

    "t15_bigram_lm" ->
      s"""WITH toks AS (SELECT doc_id, $SqlToks AS t FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
         |    i -> t[i] || ' ' || t[i+1])) AS bigram
         |  FROM toks),
         |cnt AS (SELECT bigram, count(*) AS cb FROM bg GROUP BY bigram),
         |pfx AS (
         |  SELECT string_split(bigram, ' ')[1] AS p, CAST(sum(cb) AS BIGINT) AS cp
         |  FROM cnt GROUP BY p)
         |SELECT doc_id, count(*) AS n_bg,
         |  round(CAST(sum(cb) AS DOUBLE) / CAST(sum(cp) AS DOUBLE), 4) AS score
         |FROM bg
         |JOIN cnt USING (bigram)
         |JOIN pfx ON string_split(bigram, ' ')[1] = p
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the same exact-integer sums as t15; deciles via the histogram
    // cume ceil(10·cum/n) — all integer, no double compares anywhere
    "t24_quality_buckets" ->
      s"""WITH toks AS (SELECT doc_id, $SqlToks AS t FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
         |    i -> t[i] || ' ' || t[i+1])) AS bigram
         |  FROM toks),
         |cnt AS (SELECT bigram, count(*) AS cb FROM bg GROUP BY bigram),
         |pfx AS (
         |  SELECT string_split(bigram, ' ')[1] AS p, CAST(sum(cb) AS BIGINT) AS cp
         |  FROM cnt GROUP BY p),
         |raw AS (
         |  SELECT doc_id, count(*) AS n_bg,
         |    CAST(sum(cb) AS BIGINT) AS sn, CAST(sum(cp) AS BIGINT) AS sd
         |  FROM bg
         |  JOIN cnt USING (bigram)
         |  JOIN pfx ON string_split(bigram, ' ')[1] = p
         |  GROUP BY doc_id),
         |sc AS (
         |  SELECT r.doc_id, d.lang, r.n_bg, (r.sn * 1000000) // r.sd AS score_ppm
         |  FROM raw r JOIN documents d USING (doc_id)),
         |hist AS (SELECT lang, score_ppm, count(*) AS cnt FROM sc GROUP BY 1, 2),
         |nl AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM hist GROUP BY lang),
         |dec AS (
         |  SELECT h.lang, h.score_ppm,
         |    (sum(h.cnt) OVER (PARTITION BY h.lang ORDER BY h.score_ppm) * 10
         |      + nl.n - 1) // nl.n AS decile
         |  FROM hist h JOIN nl USING (lang))
         |SELECT s.doc_id, s.lang, CAST(s.n_bg AS BIGINT) AS n_bg,
         |  CAST(s.score_ppm AS BIGINT) AS score_ppm,
         |  CAST(dec.decile AS BIGINT) AS decile,
         |  CASE WHEN dec.decile >= 9 THEN 'head'
         |       WHEN dec.decile >= 5 THEN 'middle'
         |       ELSE 'tail' END AS bucket,
         |  CAST(CASE WHEN dec.decile >= 9 THEN 1000
         |            WHEN dec.decile >= 5 THEN 400
         |            ELSE 100 END AS BIGINT) AS weight_permille
         |FROM sc s JOIN dec ON s.lang = dec.lang AND s.score_ppm = dec.score_ppm
         |ORDER BY doc_id""".stripMargin,

    "t16_inverted_index" ->
      s"""WITH toks AS (SELECT doc_id, $SqlToks AS t FROM documents),
         |u AS (SELECT doc_id, unnest(t) AS token FROM toks),
         |tf AS (SELECT token, doc_id, count(*) AS tf FROM u GROUP BY token, doc_id),
         |wd AS (SELECT token, doc_id, tf,
         |         count(*) OVER (PARTITION BY token) AS df FROM tf)
         |SELECT token, CAST(df AS BIGINT) AS df, doc_id, CAST(tf AS BIGINT) AS tf
         |FROM wd WHERE doc_id % 7 = 0
         |ORDER BY token, doc_id""".stripMargin,

    // Same rational-idf BM25, same parenthesization (every op is
    // correctly-rounded IEEE double, so association must match the
    // Spark side exactly), exponent-form literals so DuckDB computes
    // in DOUBLE rather than DECIMAL, and the same canonical-order
    // fold: list_sort + left-reduce from a prepended 0.0 mirrors
    // sort_array + aggregate(.., 0.0, +).
    "t17_bm25" ->
      s"""WITH toks AS (SELECT doc_id, $SqlToks AS t FROM documents),
         |stats AS (SELECT count(*) AS n_docs,
         |            CAST(sum(len(t)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |          FROM toks),
         |posts AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM toks),
         |tf AS (SELECT doc_id, term, max(dl) AS dl, count(*) AS tf FROM posts
         |       WHERE term IN ('dup', 'join', 'key', 'vector') GROUP BY doc_id, term),
         |wd AS (SELECT tf.*, count(*) OVER (PARTITION BY term) AS df FROM tf),
         |sc AS (SELECT doc_id,
         |         (((n_docs - df) + 0.5e0) / (df + 0.5e0)) *
         |         ((tf * (1.2e0 + 1.0e0)) /
         |          (tf + 1.2e0 * ((1.0e0 - 0.75e0) + 0.75e0 * (dl / avgdl)))) AS s
         |       FROM wd CROSS JOIN stats),
         |agg AS (SELECT doc_id, count(*) AS n_terms,
         |          round(list_reduce(list_prepend(0.0e0, list_sort(list(s))),
         |                            (acc, x) -> acc + x), 4) AS score
         |        FROM sc GROUP BY doc_id)
         |SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms, score FROM agg
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // independent spelling of the prefix-distinct trick: per-type
    // first-occurrence doc → checkpoint bucket → cumulative window
    "t20_vocab_growth" ->
      s"""WITH toks AS (SELECT doc_id, unnest($SqlToks) AS token FROM documents),
         |nt AS (SELECT first_doc // 50 AS bucket, count(*) AS new_types FROM
         |        (SELECT token, min(doc_id) AS first_doc FROM toks GROUP BY token)
         |       GROUP BY 1),
         |bt AS (SELECT doc_id // 50 AS bucket, count(*) AS n_toks FROM toks GROUP BY 1)
         |SELECT CAST((bt.bucket + 1) * 50 AS BIGINT) AS n_docs,
         |  CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY bt.bucket) AS BIGINT) AS vocab_size,
         |  CAST(SUM(bt.n_toks) OVER (ORDER BY bt.bucket) AS BIGINT) AS total_tokens
         |FROM bt LEFT JOIN nt ON bt.bucket = nt.bucket
         |ORDER BY n_docs""".stripMargin,

    // same deterministic ranks (count desc, token tiebreak), same
    // regr_* aggregates over the same log points
    "t21_zipf_fit" ->
      s"""WITH toks AS (SELECT lang, $SqlToks AS t FROM documents),
         |freqs AS (
         |  SELECT lang, w, count(*) AS n
         |  FROM (SELECT lang, unnest(t) AS w FROM toks) GROUP BY lang, w),
         |ranked AS (
         |  SELECT lang, n, row_number() OVER (
         |    PARTITION BY lang ORDER BY n DESC, w) AS rnk
         |  FROM freqs)
         |SELECT lang, count(*) AS n_types,
         |  round(regr_slope(ln(n), ln(rnk)), 4) AS zipf_slope,
         |  round(regr_r2(ln(n), ln(rnk)), 4) AS zipf_r2
         |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin,

    // same plant (length-proportional code block on every 13th doc),
    // same strip-and-diff count, same integer permille threshold
    "t22_code_detect" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0
        |         THEN text || repeat(' {x=1;}', CAST(n_chars // 40 AS INT))
        |         ELSE text END AS ptext
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, length(ptext) AS n_chars,
        |    length(ptext) -
        |      length(regexp_replace(ptext, '[{}();=<>#]', '', 'g')) AS code_punct
        |  FROM planted)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(code_punct AS BIGINT) AS code_punct,
        |  CAST(code_punct * 1000 // n_chars AS BIGINT) AS punct_permille,
        |  CAST(CASE WHEN code_punct * 1000 // n_chars >= 20
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_code
        |FROM c ORDER BY doc_id""".stripMargin,

    // the window band spelled naively (positions join within the doc,
    // 1 ≤ Δ ≤ 3); generate_subscripts' 1-base cancels in the delta
    "t23_window_pmi" ->
      s"""WITH toks AS (SELECT doc_id, $SqlToks AS t FROM documents),
         |pos AS (
         |  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i
         |  FROM toks),
         |uni AS (SELECT w, count(*) AS cw FROM pos GROUP BY w),
         |nt AS (SELECT CAST(sum(cw) AS BIGINT) AS ntok FROM uni),
         |pairs AS (
         |  SELECT a.w AS w1, b.w AS w2, count(*) AS c12
         |  FROM pos a JOIN pos b
         |    ON a.doc_id = b.doc_id AND b.i - a.i BETWEEN 1 AND 3
         |  GROUP BY 1, 2 HAVING count(*) >= 30)
         |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
         |  CAST((CAST(c12 AS HUGEINT) * 1000000 * nt.ntok)
         |       // (CAST(u1.cw AS HUGEINT) * u2.cw) AS BIGINT)
         |    AS lift_ppm
         |FROM pairs
         |JOIN uni u1 ON u1.w = w1
         |JOIN uni u2 ON u2.w = w2
         |CROSS JOIN nt
         |ORDER BY lift_ppm DESC, w1, w2""".stripMargin,

    // same counts, same (exact-multiply, one-divide) association and
    // left-to-right order — the doubles must match bit-for-bit
    "t19_collocations" ->
      s"""WITH toks AS (SELECT $SqlToks AS t FROM documents),
         |uni AS (SELECT w, count(*) AS cw FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
         |n AS (SELECT CAST(sum(cw) AS BIGINT) AS ntok FROM uni),
         |bi AS (SELECT bg, count(*) AS c12 FROM (
         |    SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
         |    FROM toks) GROUP BY bg
         |  HAVING count(*) >= 20),
         |l AS (SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2, c12 FROM bi)
         |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
         |  round(CAST(c12 AS DOUBLE) * ntok / (CAST(u1.cw AS DOUBLE) * CAST(u2.cw AS DOUBLE)), 6) AS lift
         |FROM l JOIN uni u1 ON u1.w = w1 JOIN uni u2 ON u2.w = w2 CROSS JOIN n
         |ORDER BY lift DESC, w1, w2""".stripMargin,

    // Same blocking (noun = second token) and the same exact edit
    // distance; the pair predicate and threshold are stated
    // independently of the Spark plan.
    "t18_fuzzy_match" ->
      """WITH names AS (
        |  SELECT p_name, count(*) AS n_rows FROM part GROUP BY p_name),
        |b AS (SELECT p_name, n_rows, split_part(p_name, ' ', 2) AS noun FROM names)
        |SELECT a.p_name AS name_a, c.p_name AS name_b,
        |       CAST(levenshtein(a.p_name, c.p_name) AS BIGINT) AS dist,
        |       a.n_rows AS n_a, c.n_rows AS n_b
        |FROM b a JOIN b c ON a.noun = c.noun AND a.p_name < c.p_name
        |WHERE levenshtein(a.p_name, c.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin,
  )
}
