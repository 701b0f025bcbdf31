package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Column-level text primitives matching the reference pipeline's
  * observable semantics (reference: `src/main/java/WordCountV2.java:76-94`),
  * re-expressed as Catalyst built-ins so the whole chain stays inside
  * whole-stage codegen — no UDFs, no closures. The exception is
  * [[bigramCounts]], a generator that needs Catalyst's per-partition
  * `terminate()` and so runs interpreted.
  *
  * Semantics preserved exactly (verified against the reference's golden
  * outputs, see SURVEY.md §8):
  *  - sanitize: `replaceAll("([^\s\w]|_)+", " ")` then lowercase. Java and
  *    Spark share regex semantics, so `\w`/`\s` are ASCII-only: `ñ` and
  *    every other non-ASCII letter becomes a space (`Zuñi` → `zu i`).
  *  - tokenize: whitespace split; empty tokens dropped (Java
  *    `StringTokenizer` never yields empties; Spark `split` does on
  *    leading delimiters, so we filter).
  *  - bigrams: adjacent-token pairs joined with `+`, strictly within one
  *    record — pairs never span records (`WordCountV2.java:88-94`).
  */
object TextFunctions {

  /** `([^\s\w]|_)+` — runs of non-word chars (plus underscore) → single space. */
  val SanitizePattern = "([^\\s\\w]|_)+"

  def sanitize(c: Column): Column = lower(regexp_replace(c, SanitizePattern, " "))

  /** Sanitized whitespace tokens, empties removed.
    *
    * Native single-pass expression. The reference's composition —
    * `replaceAll("([^\s\w]|_)+"," ")`, `toLowerCase`, then whitespace
    * tokenization (`WordCountV2.java:76-86`) — reduces to: token
    * characters are exactly ASCII `[A-Za-z0-9]` (lowercased), every
    * other character separates. (Java `\w` is `[A-Za-z0-9_]` but the
    * `|_` alternative separates on `_`; `\s` and non-ASCII are
    * separators; UTF-8 continuation bytes are ≥ 0x80, so a byte-level
    * scan equals the char-level regex.) One pass, zero intermediate
    * strings — vs two full-string regex passes + split + filter, which
    * dominated the pipeline on long lines. Equality with the regex
    * composition is golden-tested against the reference corpus.
    *
    * Known divergence from the reference, chosen deliberately: a
    * VERTICAL TAB (0x0B) is `\s` to Java regex (sanitize keeps it) but
    * NOT a default `StringTokenizer` delimiter, so the reference emits
    * `"a\u000Bb"` as ONE token with an embedded control byte; this
    * engine (both [[tokenize]] and the regex twin, whose `split("\s+")`
    * does split on 0x0B) yields `a`, `b`. The golden corpus contains no
    * 0x0B, so reference parity is unaffected; for adversarial bytes we
    * prefer never emitting control characters inside tokens. */
  def tokenize(c: Column): Column =
    ColumnBridge.column(SanitizeTokens(ColumnBridge.expression(c)))

  /** Regex-composition twin of [[tokenize]], kept for cross-checks. */
  def tokenizeBuiltin(c: Column): Column = tokenizeRaw(sanitize(c))

  /** See [[tokenize]]. Input string; output `array<string>`. */
  case class SanitizeTokens(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "sanitize_tokens"

    override def nullSafeEval(v: Any): Any =
      TextFunctions.sanitizeTokensCompute(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextFunctions.sanitizeTokensCompute($c)")

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Static entry point (also called from generated Java). */
  def sanitizeTokensCompute(s: UTF8String): ArrayData = {
    val n = s.numBytes()
    val out = new java.util.ArrayList[Any](16)
    var buf = new Array[Byte](32)
    var len = 0
    var i = 0
    while (i < n) {
      val t = tokenByte(s.getByte(i))
      if (t != 0) {
        if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
        buf(len) = t
        len += 1
      } else if (len > 0) {
        out.add(UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len)))
        len = 0
      }
      i += 1
    }
    if (len > 0) out.add(UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len)))
    new GenericArrayData(out.toArray)
  }

  /** Byte → its lowercased token byte, or 0 for a separator: token bytes
    * are exactly ASCII `[A-Za-z0-9]` (see [[tokenize]]). The one token
    * rule of [[sanitizeTokensCompute]] and [[BigramCounts]]. */
  private val TokenBytes: Array[Byte] = Array.tabulate(256) { b =>
    if (b >= '0' && b <= '9' || b >= 'a' && b <= 'z') b.toByte
    else if (b >= 'A' && b <= 'Z') (b + 32).toByte
    else 0.toByte
  }

  private[functions] def tokenByte(b: Byte): Byte = TokenBytes(b & 0xff)

  /** `(bigram, count)` rows per distinct bigram of [[tokenize]]'s tokens,
    * combined in-mapper; see [[BigramCounts]]. Select it alone and sum
    * `count` per `bigram`: a key can appear in several rows. With a
    * `window`, each token pairs with each of the `window` tokens before
    * it; with `unigrams`, rows are `(w1, w2, count)`, `w2` NULL on a
    * token's own count. */
  def bigramCounts(c: Column, window: Int = 1, unigrams: Boolean = false): Column =
    ColumnBridge.column(BigramCounts(ColumnBridge.expression(c), window = window, unigrams = unigrams))

  /** Whitespace tokens of an already-clean string, empties removed. */
  def tokenizeRaw(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= lit(""))

  /** Adjacent-pair bigrams `tokᵢ+tokᵢ₊₁`; empty array when <2 tokens
    * (the reference drops such records, `WordCountV2.java:85-86`).
    *
    * PERF: pass a *materialized column* (attribute), never a computed
    * expression like `tokenize(col)` — the `element_at` calls inside
    * the lambda re-evaluate their child per array element (higher-order
    * functions are interpreted, no CSE), turning O(n) into O(n²). */
  def bigrams(tokens: Column, sep: String = "+"): Column = ngrams(tokens, 2, sep)

  /** Word n-grams joined by `sep`; empty array when <n tokens.
    * Native expression — one fused loop per row over the token array
    * (the built-in `transform`+`concat_ws` composition evaluates its
    * lambda interpreted, per element). */
  def ngrams(tokens: Column, n: Int, sep: String = " "): Column = {
    require(n >= 1, s"ngram size must be >= 1, got $n")
    ColumnBridge.column(WordNGrams(ColumnBridge.expression(tokens), n, sep))
  }

  /** Built-in-composition twin of [[ngrams]], kept for cross-checks. */
  def ngramsBuiltin(tokens: Column, n: Int, sep: String = " "): Column = {
    require(n >= 1, s"ngram size must be >= 1, got $n")
    when(size(tokens) >= n,
      transform(sequence(lit(0), size(tokens) - n),
        i => concat_ws(sep, (0 until n).map(j => element_at(tokens, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** See [[ngrams]]. Input `array<string>`; null tokens are treated as
    * empty strings (matches `concat_ws` semantics closely enough for
    * sanitized token streams, which contain no nulls). */
  case class WordNGrams(child: Expression, n: Int, sep: String)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_ngrams"

    override def nullSafeEval(v: Any): Any =
      TextFunctions.ngramsCompute(v.asInstanceOf[ArrayData], n, sep)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val sepRef = ctx.addReferenceObj("sep", sep, "java.lang.String")
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextFunctions.ngramsCompute($c, $n, $sepRef)")
    }

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Static entry point (also called from generated Java). */
  def ngramsCompute(tokens: ArrayData, n: Int, sep: String): ArrayData = {
    val len = tokens.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val sepU = UTF8String.fromString(sep)
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      val t = tokens.getUTF8String(i)
      toks(i) = if (t == null) UTF8String.EMPTY_UTF8 else t
      i += 1
    }
    val out = new Array[Any](len - n + 1)
    i = 0
    while (i <= len - n) {
      out(i) =
        if (n == 1) toks(i)
        else {
          val parts = new Array[UTF8String](n)
          System.arraycopy(toks, i, parts, 0, n)
          UTF8String.concatWs(sepU, parts: _*)
        }
      i += 1
    }
    new GenericArrayData(out)
  }
}
