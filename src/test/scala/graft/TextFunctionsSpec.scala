package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def toks(s: String): Seq[String] =
    Seq(s).toDF("v").select(tokenize($"v")).as[Seq[String]].head()

  private def bi(ts: Seq[String]): Seq[String] =
    Seq(ts).toDF("t").select(bigrams($"t")).as[Seq[String]].head()

  test("sanitize strips punctuation runs to single spaces and lowercases") {
    assert(toks("Hello, World!!") == Seq("hello", "world"))
  }

  test("underscores are delimiters (the `|_` alternative)") {
    assert(toks("foo_bar_ baz") == Seq("foo", "bar", "baz"))
  }

  test("ASCII-only \\w: non-ASCII letters become spaces (Zuñi → zu,i)") {
    assert(toks("Zuñi") == Seq("zu", "i"))
  }

  test("digits are word characters") {
    assert(toks("page 42, line 7") == Seq("page", "42", "line", "7"))
  }

  test("leading/trailing/multiple whitespace yields no empty tokens") {
    assert(toks("  a   b  ") == Seq("a", "b"))
    assert(toks("...") == Seq.empty)
    assert(toks("") == Seq.empty)
  }

  test("bigrams: adjacent pairs joined with +") {
    assert(bi(Seq("a", "b", "c")) == Seq("a+b", "b+c"))
    assert(bi(Seq("x", "y")) == Seq("x+y"))
  }

  test("bigrams: <2 tokens → empty (record dropped)") {
    assert(bi(Seq("only")) == Seq.empty)
    assert(bi(Seq.empty) == Seq.empty)
  }

  test("ngrams generalization") {
    val ts = Seq("a", "b", "c", "d")
    val tri = Seq(ts).toDF("t").select(ngrams($"t", 3)).as[Seq[String]].head()
    assert(tri == Seq("a b c", "b c d"))
    val uni = Seq(ts).toDF("t").select(ngrams($"t", 1)).as[Seq[String]].head()
    assert(uni == ts)
  }

  test("native tokenize matches the regex composition on varied inputs") {
    val cases = Seq(
      "Hello, World!!", "foo_bar_ baz", "Zuñi", "page 42, line 7",
      "  a   b  ", "...", "", "многа букф ok123", "a\tb\ncd",
      "MiXeD CaSe 99Bottles", "__x__", "ñ42ñ", "end.")
    for (s <- cases) {
      val df = Seq(s).toDF("v")
      val native = df.select(tokenize($"v")).as[Seq[String]].head()
      val builtin = df.select(tokenizeBuiltin($"v")).as[Seq[String]].head()
      assert(native == builtin, s"input '$s'")
    }
  }

  test("native ngrams matches the built-in composition on varied inputs") {
    val cases = Seq(
      Seq("a", "b", "c", "d"), Seq("x"), Seq.empty[String],
      Seq("multi", "byte", "Zuñi", "ok"), (1 to 50).map(i => s"t$i"))
    for (ts <- cases; n <- 1 to 3) {
      val df = Seq(ts).toDF("t")
      val native = df.select(ngrams($"t", n)).as[Seq[String]].head()
      val builtin = df.select(ngramsBuiltin($"t", n)).as[Seq[String]].head()
      assert(native == builtin, s"n=$n toks=$ts")
    }
  }
}
