package graft.functions

import scala.collection.AbstractIterator

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `bigram_counts(text)`: an in-mapper combiner for the reference's
  * bigram count (`WordCountV2.java:44-57`, which emits one `(a+b, 1)`
  * per occurrence and sets no combiner), and the text family's one
  * pair-counting kernel.
  *
  * `eval` scans each record's UTF-8 bytes once, with the token rule of
  * [[TextFunctions.tokenize]] ([[TextFunctions.tokenByte]]). It interns
  * each token into a per-task token → int-id dictionary and, pairing it
  * with each of the `window` tokens before it, adds 1 to an
  * open-addressing `long → long` table keyed by `(id₁ << 32) | id₂`,
  * emitting nothing. `terminate()` — Catalyst's end-of-partition hook,
  * which `GenerateExec` calls once per input partition on its
  * interpreted path (this is a [[CodegenFallback]]) — emits one row per
  * distinct key and resets the state: `(bigram, count)` keyed `w1+w2`,
  * or with `unigrams` `(w1, w2, count)` plus a `(w, NULL, count)` row
  * per token, which each occurrence also counts. So a key's strings are
  * built once per distinct key per partition, not once per occurrence,
  * and no record is inflated into token or pair arrays.
  *
  * State is bounded by constants: once another token could take the
  * table past `maxPairs` keys, or the interned token bytes reach
  * [[MaxTokenBytes]], `eval` emits the partial counts and resets both
  * tables before it scans on (mid-record if need be, re-interning the
  * previous tokens from their byte positions). Downstream, the
  * groupBy's `sum` adds the partial counts, so the result equals
  * counting every occurrence.
  *
  * The state lives in this expression instance, which each task
  * deserializes for itself. A consumer must drain a partition's rows,
  * as an aggregate does, before the same task starts the next one. */
case class BigramCounts(child: Expression, maxPairs: Int = BigramCounts.MaxPairs,
    window: Int = 1, unigrams: Boolean = false)
    extends UnaryExpression with Generator with CodegenFallback {
  require(maxPairs >= 1, s"maxPairs must be >= 1, got $maxPairs")
  require(window >= 1, s"window must be >= 1, got $window")

  override def elementSchema: StructType =
    if (unigrams) BigramCounts.WordsSchema else BigramCounts.Schema
  override def prettyName: String = "bigram_counts"
  override protected def flatArguments: Iterator[Any] =
    if (window == 1 && !unigrams) Iterator(child) else Iterator(child, window, unigrams)

  @transient private var table: BigramCounts.Table = _

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) return Iterator.empty
    if (table == null) table = new BigramCounts.Table(maxPairs, window, unigrams)
    table.add(s)
  }

  override def terminate(): IterableOnce[InternalRow] =
    if (table == null) Iterator.empty else table.drain()

  override protected def withNewChildInternal(c: Expression): BigramCounts = copy(child = c)
}

object BigramCounts {
  /** Distinct keys (pairs, and unigrams when asked) held before a
    * flush: at most 32 MB of pair table (2^21 slots of key and count)
    * plus the tokens' dictionary. */
  val MaxPairs: Int = 1 << 20

  /** Interned token bytes held before a flush, so that long distinct
    * tokens cannot grow the dictionary without bound. */
  val MaxTokenBytes: Int = 32 << 20

  private val Schema: StructType = StructType(Seq(
    StructField("bigram", StringType, nullable = false),
    StructField("count", LongType, nullable = false)))

  private val WordsSchema: StructType = StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("w2", StringType, nullable = true),
    StructField("count", LongType, nullable = false)))

  private val Plus: Byte = '+'.toByte
  private val Empty = -1L
  /** The low half of a unigram's key: no second token. */
  private val NoToken = 0xFFFFFFFFL

  private def mix(h: Long): Int = {
    val x = h * 0x9E3779B97F4A7C15L
    (x ^ (x >>> 29)).toInt
  }

  /** One task's pair counts and token dictionary, plus the scan position
    * in the current record so that a flush can resume mid-record. */
  private[functions] final class Table(maxPairs: Int, window: Int, unigrams: Boolean) {
    // Token dictionary: lowercased bytes in `arena`, per-id start, length
    // and hash; `tokSlots` holds id + 1, 0 when empty.
    private var arena = new Array[Byte](1 << 12)
    private var arenaLen = 0
    private var tokStart = new Array[Int](1 << 8)
    private var tokLen = new Array[Int](1 << 8)
    private var tokHash = new Array[Int](1 << 8)
    private var nTok = 0
    private var tokSlots = new Array[Int](1 << 9)

    // Pair counts, linear probing; `Empty` marks a free slot.
    private var keys = emptyKeys(1 << 10)
    private var vals = new Array[Long](1 << 10)
    private var nPairs = 0

    // The record being scanned: byte position, and a ring of its last
    // `window` tokens, each as [start, end) with its hash and its id (-1
    // until interned, and again after a flush). `nPrev` of the slots hold
    // this record's tokens; the newest sits just before `head`.
    private var rec: UTF8String = _
    private var pos = 0
    private val prevStart = new Array[Int](window)
    private val prevEnd = new Array[Int](window)
    private val prevHash = new Array[Int](window)
    private val prevId = new Array[Int](window)
    private var head = 0
    private var nPrev = 0

    /** Keys one token can add: one per previous token, and its unigram. */
    private val perToken = window + (if (unigrams) 1 else 0)

    private def emptyKeys(n: Int): Array[Long] = {
      val a = new Array[Long](n)
      java.util.Arrays.fill(a, Empty)
      a
    }

    private def full: Boolean = nPairs + perToken > maxPairs || arenaLen >= MaxTokenBytes

    /** Counts `s`'s pairs. Empty unless a flush fell inside the record:
      * then the partial counts, with the rest of the record scanned as
      * the rows are drained. */
    def add(s: UTF8String): Iterator[InternalRow] = {
      rec = s
      pos = 0
      head = 0
      nPrev = 0
      if (scan()) new Rows(resume = true) else { rec = null; Iterator.empty }
    }

    /** Every held pair, then an empty table. */
    def drain(): Iterator[InternalRow] = new Rows(resume = false)

    /** Scans `rec` from `pos`; true when it stopped because the table is
      * full, false at the end of the record. */
    private def scan(): Boolean = {
      val base = rec.getBaseObject
      val off = rec.getBaseOffset
      val n = rec.numBytes()
      var i = pos
      while (i < n) {
        while (i < n && TextFunctions.tokenByte(Platform.getByte(base, off + i)) == 0) i += 1
        if (i < n) {
          val start = i
          var h = 0
          var t = TextFunctions.tokenByte(Platform.getByte(base, off + i))
          while (t != 0) {
            h = 31 * h + t
            i += 1
            t = if (i < n) TextFunctions.tokenByte(Platform.getByte(base, off + i)) else 0
          }
          val id = if (unigrams || nPrev > 0) intern(base, off, start, i, h) else -1
          var r = head
          var k = 0
          while (k < nPrev) {
            r = (if (r == 0) window else r) - 1
            if (prevId(r) < 0) prevId(r) = intern(base, off, prevStart(r), prevEnd(r), prevHash(r))
            count((prevId(r).toLong << 32) | id)
            k += 1
          }
          if (unigrams) count((id.toLong << 32) | NoToken)
          prevStart(head) = start
          prevEnd(head) = i
          prevHash(head) = h
          prevId(head) = id
          head = if (head + 1 == window) 0 else head + 1
          if (nPrev < window) nPrev += 1
          if (full) { pos = i; return true }
        }
      }
      pos = n
      false
    }

    /** The id of the token at `[start, end)` of the record, lowercased. */
    private def intern(base: AnyRef, off: Long, start: Int, end: Int, h: Int): Int = {
      val len = end - start
      var mask = tokSlots.length - 1
      var slot = mix(h) & mask
      while (tokSlots(slot) != 0) {
        val id = tokSlots(slot) - 1
        if (tokHash(id) == h && tokLen(id) == len && sameToken(id, base, off, start)) return id
        slot = (slot + 1) & mask
      }
      val id = nTok
      if (id == tokLen.length) {
        tokStart = java.util.Arrays.copyOf(tokStart, id * 2)
        tokLen = java.util.Arrays.copyOf(tokLen, id * 2)
        tokHash = java.util.Arrays.copyOf(tokHash, id * 2)
      }
      if (arenaLen + len > arena.length)
        arena = java.util.Arrays.copyOf(arena, math.max(arena.length * 2, arenaLen + len))
      var k = 0
      while (k < len) {
        arena(arenaLen + k) = TextFunctions.tokenByte(Platform.getByte(base, off + start + k))
        k += 1
      }
      tokStart(id) = arenaLen
      tokLen(id) = len
      tokHash(id) = h
      arenaLen += len
      nTok += 1
      tokSlots(slot) = id + 1
      if (nTok * 2 > tokSlots.length) {
        tokSlots = new Array[Int](tokSlots.length * 2)
        mask = tokSlots.length - 1
        var j = 0
        while (j < nTok) {
          var s = mix(tokHash(j)) & mask
          while (tokSlots(s) != 0) s = (s + 1) & mask
          tokSlots(s) = j + 1
          j += 1
        }
      }
      id
    }

    private def sameToken(id: Int, base: AnyRef, off: Long, start: Int): Boolean = {
      val a = tokStart(id)
      var k = 0
      while (k < tokLen(id)) {
        if (arena(a + k) != TextFunctions.tokenByte(Platform.getByte(base, off + start + k))) return false
        k += 1
      }
      true
    }

    private def count(key: Long): Unit = {
      var mask = keys.length - 1
      var slot = mix(key) & mask
      while (keys(slot) != Empty) {
        if (keys(slot) == key) { vals(slot) += 1; return }
        slot = (slot + 1) & mask
      }
      keys(slot) = key
      vals(slot) = 1
      nPairs += 1
      if (nPairs * 2 > keys.length) {
        val (oldKeys, oldVals) = (keys, vals)
        keys = emptyKeys(oldKeys.length * 2)
        vals = new Array[Long](oldKeys.length * 2)
        mask = keys.length - 1
        var j = 0
        while (j < oldKeys.length) {
          if (oldKeys(j) != Empty) {
            var s = mix(oldKeys(j)) & mask
            while (keys(s) != Empty) s = (s + 1) & mask
            keys(s) = oldKeys(j)
            vals(s) = oldVals(j)
          }
          j += 1
        }
      }
    }

    private def clear(): Unit = {
      java.util.Arrays.fill(keys, Empty)
      nPairs = 0
      java.util.Arrays.fill(tokSlots, 0)
      nTok = 0
      arenaLen = 0
      java.util.Arrays.fill(prevId, -1)
    }

    private def word(id: Int): UTF8String =
      UTF8String.fromBytes(java.util.Arrays.copyOfRange(arena, tokStart(id), tokStart(id) + tokLen(id)))

    private def bigram(key: Long): UTF8String = {
      val a = (key >>> 32).toInt
      val b = key.toInt
      val out = new Array[Byte](tokLen(a) + 1 + tokLen(b))
      System.arraycopy(arena, tokStart(a), out, 0, tokLen(a))
      out(tokLen(a)) = Plus
      System.arraycopy(arena, tokStart(b), out, tokLen(a) + 1, tokLen(b))
      UTF8String.fromBytes(out)
    }

    /** Walks the pair table, one row per held pair; at its end clears the
      * table and, when `resume`, scans on in `rec`, walking again after
      * each further flush. */
    private final class Rows(resume: Boolean) extends AbstractIterator[InternalRow] {
      private var slot = 0
      private var done = false

      override def hasNext: Boolean = {
        while (!done) {
          while (slot < keys.length && keys(slot) == Empty) slot += 1
          if (slot < keys.length) return true
          clear()
          if (resume && scan()) slot = 0
          else { rec = null; done = true }
        }
        false
      }

      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("bigram_counts: no more rows")
        val key = keys(slot)
        val row = new GenericInternalRow(
          if (!unigrams) Array[Any](bigram(key), vals(slot))
          else Array[Any](word((key >>> 32).toInt),
            if ((key & NoToken) == NoToken) null else word(key.toInt), vals(slot)))
        slot += 1
        row
      }
    }
  }
}
