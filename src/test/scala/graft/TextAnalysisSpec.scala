package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def pred(text: String): String =
    Seq(text).toDF("text")
      .select(tokenize($"text").as("t"))
      .select(TextAnalysis.langIdFromTokens($"t")).as[String].head()

  test("langId picks the language with most marker hits") {
    assert(pred("the cat and the dog sat in the house, it was warm") == "en")
    assert(pred("der Hund und die Katze, das ist nicht mit ein Problem zu den") == "de")
    assert(pred("le chat et la maison, les enfants pour une est que") == "fr")
    assert(pred("el perro y los gatos, las casas del pueblo por con para como") == "es")
    assert(pred("zzz qqq xxx") == "und")
    assert(pred("") == "und")
  }

  test("docStats: values for a known document") {
    val df = Seq((7L, "The cat and the dog!! 12345 ...")).toDF("doc_id", "text")
    val row = TextAnalysis.docStats(df, "doc_id", "text").collect().head
    assert(row.getAs[Long]("n_tokens") == 6L)          // the cat and the dog 12345
    assert(row.getAs[Double]("mean_tok_len") == 3.3333) // 20 token chars / 6 tokens
    assert(row.getAs[Double]("stopword_ratio") == 0.5)  // the, and, the
    // "[^A-Za-z0-9 ]" strips "!!" and "..." → keeps 26 of 31 chars
    assert(row.getAs[Double]("alnum_ratio") == 0.8387)
  }

  test("docStats: empty doc is all zeros") {
    val row = TextAnalysis.docStats(Seq((1L, "")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    assert(row.getAs[Long]("n_tokens") == 0L)
    assert(row.getAs[Double]("mean_tok_len") == 0.0)
    assert(row.getAs[Double]("stopword_ratio") == 0.0)
    assert(row.getAs[Double]("alnum_ratio") == 0.0)
  }

  test("fingerprint is normalization-invariant") {
    val fps = Seq("Hello,   World!", "hello world", "HELLO... WORLD")
      .toDF("text").select(TextAnalysis.fingerprint($"text")).as[String].collect()
    assert(fps.distinct.length == 1)
    assert(fps.head.matches("[0-9a-f]{32}"))
  }

  test("token and subword counting") {
    val df = Seq("internationalization 42 ok").toDF("text")
    assert(df.select(TextAnalysis.tokenCount($"text")).as[Long].head() == 3L)
    // GPT-2 classes: one letter run, two SINGLE digits, one letter run
    assert(df.select(TextAnalysis.bpeTokenCount($"text")).as[Long].head() == 4L)
  }

  test("redactPii scrubs emails and IPs; piiCount matches") {
    val df = Seq("mail a.b+c@ex-ample.co.uk or 192.168.0.1, not 1.2.3.4.5 digits")
      .toDF("text")
    val out = df.select(TextAnalysis.redactPii($"text")).as[String].head()
    assert(out.contains("<EMAIL>") && out.contains("<IP>"))
    assert(!out.contains("@") && !out.contains("192.168"))
    // 1.2.3.4.5 — \b boundaries still match a dotted-quad prefix; the
    // pattern is a scrubber, not a validator (documented behavior)
    val n = df.select(TextAnalysis.piiCount($"text")).as[Long].head()
    assert(n >= 2L)
    // no alpha TLD → not an email; the dotted quad still scrubs
    val ipHost = Seq("x@1.2.3.4").toDF("text")
    assert(ipHost.select(TextAnalysis.redactPii($"text")).as[String].head() == "x@<IP>")
    // email runs first: a dotted-quad-looking host with a TLD stays one
    // <EMAIL>, not a mangled u@<IP>.com — and piiCount agrees it is
    // ONE redaction (IPs are counted on the email-scrubbed text)
    val e = Seq("u@1.2.3.4.com").toDF("text")
    assert(e.select(TextAnalysis.redactPii($"text")).as[String].head() == "<EMAIL>")
    assert(e.select(TextAnalysis.piiCount($"text")).as[Long].head() == 1L)
  }

  test("repetitionStats: boilerplate scores high, varied text low") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),           // one token repeated
      (2L, "alpha beta gamma delta epsilon zeta"),     // all distinct
      (3L, "")                                          // empty → zeros
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, Long, Double, Double)].collect()
    assert(rows(0) == ((1L, 6L, 1.0, 0.75)))  // 4 identical trigrams → 3 dup of 4
    assert(rows(1)._3 < 0.2 && rows(1)._4 == 0.0)
    assert(rows(2) == ((3L, 0L, 0.0, 0.0)))
  }

  test("topSalientTerms: rare terms outrank common ones; ties break by term") {
    val docs = Seq(
      (1L, "shared shared unique1 unique1 unique1"),
      (2L, "shared unique2"),
      (3L, "shared shared shared")).toDF("doc_id", "text")
    val got = TextAnalysis.topSalientTerms(docs, "doc_id", "text", k = 2)
      .orderBy($"doc_id", $"rank")
      .select($"doc_id", $"rank", $"term").as[(Long, Long, String)].collect().toSeq
    // N=3; df(shared)=3 → idf=(3-3+0.5)/3.5; df(uniqueX)=1 → idf=(3-1+0.5)/1.5
    // doc1: unique1 tf=3 beats shared tf=2; doc3 has only one term
    assert(got == Seq(
      (1L, 1L, "unique1"), (1L, 2L, "shared"),
      (2L, 1L, "unique2"), (2L, 2L, "shared"),
      (3L, 1L, "shared")))
  }

  test("bpeTokenCount: letter runs, single digits, punct runs") {
    // "Hello, world 42!!" -> [Hello][,][world][4][2][!!] = 6
    val df = Seq("Hello, world 42!!").toDF("text")
    assert(df.select(TextAnalysis.bpeTokenCount($"text")).as[Long].head() == 6L)
    assert(Seq("").toDF("text")
      .select(TextAnalysis.bpeTokenCount($"text")).as[Long].head() == 0L)
    // vertical tab counts as whitespace on BOTH engines (the class is
    // spelled out; Java's \s includes U+000B, RE2's does not)
    assert(Seq("a\u000Bb").toDF("text")
      .select(TextAnalysis.bpeTokenCount($"text")).as[Long].head() == 2L)
  }

  test("bigramLmScores: hand-computed ratios; common phrasing outscores rare") {
    // corpus: docs 1..3 all "a b c", doc 4 garbles the order.
    // Bigram counts incl. doc 4's own (a b): (a b)=4, (b c)=3,
    // (c a)=1, (b a)=1 over prefixes a·=4, b·=4, c·=1
    val d = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "a b c"),
      (4L, "c a b a")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScores(d, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    // doc 1..3: bigrams (a b),(b c): num 4+3=7, den 4+4=8 -> 0.875
    // doc 4: (c a),(a b),(b a): num 1+4+1=6, den 1+4+4=9 -> 0.6667
    assert(got === Seq(
      (1L, 2L, 0.875), (2L, 2L, 0.875), (3L, 2L, 0.875),
      (4L, 3L, math.rint(6.0 / 9.0 * 10000) / 10000)))
    assert(got.head._3 > got.last._3, "common phrasing must outscore garbled")
    // single-token docs have no bigrams and are absent
    val single = TextAnalysis.bigramLmScores(
      Seq((9L, "alone")).toDF("doc_id", "text"), "doc_id", "text")
    assert(single.count() === 0)
  }

  /** t24's composition: score, fit the decile boundaries, assign. */
  private def qualityBuckets(d: DataFrame): DataFrame = {
    val scored = TextAnalysis.lmScored(d, "doc_id", "text", "lang")
    TextAnalysis.assignQualityBuckets(scored, "doc_id", "lang",
      TextAnalysis.decileBounds(scored, "lang"))
  }

  test("qualityBuckets: per-language deciles via the bounded histogram, all integer") {
    // lang "en": 10 docs with strictly increasing fluency — doc k
    // (k = 1..10) repeats "a b" k times then appends a unique garble
    // token, so score_ppm is strictly increasing in k and each doc is
    // its own decile: exactly one head pair (deciles 9, 10), four
    // middle, four tail. lang "fr": 2 docs, one fluent one garbled —
    // deciles 5 and 10 (ceil(10·cum/n) with n=2), middle + head.
    val en = (1L to 10L).map { k =>
      (k, ("a b " * k.toInt) + s"z$k q$k", "en")
    }
    val fr = Seq((21L, "x y x y x y", "fr"), (22L, "y q x z", "fr"))
    val d = (en ++ fr).toDF("doc_id", "text", "lang")
    val got = qualityBuckets(d)
      .select($"doc_id", $"lang", $"decile", $"bucket", $"weight_permille")
      .as[(Long, String, Long, String, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size === 12)
    // en: doc k has the k-th smallest score → decile k (n=10, one doc
    // per distinct ppm value)
    for (k <- 1L to 10L) assert(got(k)._3 === k, s"en doc $k decile")
    assert(got(10L)._4 === "head" && got(10L)._5 === 1000L)
    assert(got(9L)._4 === "head")
    assert((5L to 8L).forall(got(_)._4 === "middle"))
    assert((1L to 4L).forall(got(_)._4 === "tail") && got(1L)._5 === 100L)
    // fr: garbled doc 22 = ceil(10·1/2) = 5 (middle), fluent doc 21 =
    // ceil(10·2/2) = 10 (head) — buckets are PER-LANGUAGE
    assert(got(22L)._3 === 5L && got(22L)._4 === "middle")
    assert(got(21L)._3 === 10L && got(21L)._4 === "head")
    // ties share a ppm value and must share a decile: two identical
    // docs in a 2-doc language both land decile 10 (cume upper rank)
    val tied = qualityBuckets(
      Seq((1L, "a b c", "de"), (2L, "a b c", "de")).toDF("doc_id", "text", "lang"))
      .select($"decile").as[Long].collect().toSeq
    assert(tied === Seq(10L, 10L))
  }

  test("invertedIndex: exact tf per (token, doc) and corpus-wide df") {
    val d = Seq(
      (1L, "a a b"), (2L, "a c"), (3L, "b b b")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.invertedIndex(d, "doc_id", "text")
      .select($"token", $"doc_id", $"tf", $"df")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got === Set(
      ("a", 1L, 2L, 2L), ("a", 2L, 1L, 2L),
      ("b", 1L, 1L, 2L), ("b", 3L, 3L, 2L),
      ("c", 2L, 1L, 1L)))
    // invariants on the real corpus: Σ tf = token count; df = postings
    // rows per token; normalization applies (case/punctuation fold)
    val corpus = Tables.load(spark, sfDir, "documents")
    val idx = TextAnalysis.invertedIndex(corpus, "doc_id", "text")
    val totalTf = idx.agg(sum($"tf")).as[Long].head()
    val totalToks = corpus.select(
      sum(TextAnalysis.tokenCount($"text"))).as[Long].head()
    assert(totalTf === totalToks)
    val badDf = idx.groupBy($"token").agg(count(lit(1)).as("n"), max($"df").as("d"),
        min($"df").as("d2"))
      .filter($"n" =!= $"d" || $"d" =!= $"d2")
    assert(badDf.count() === 0)
  }
}
