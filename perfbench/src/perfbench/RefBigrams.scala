package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.{Locale, StringTokenizer}
import java.util.regex.Pattern
import java.util.zip.ZipFile

import scala.jdk.CollectionConverters._

/** Independent oracle for the bigram job: a plain re-implementation of the
  * reference's `WordCountV2` mapper and reducer, using neither Spark nor
  * any of the engine's code.
  *
  * Mapper: replace each run of non-word characters or underscores with a
  * space, lowercase, split with `StringTokenizer`, drop records of fewer
  * than two tokens, emit each adjacent pair as `a+b`. Reducer: sum.
  * Records are text lines (split as Hadoop's `LineRecordReader` does, on
  * `\n`, `\r\n` or `\r`) or whole ZIP entries. */
final class RefBigrams {
  private val sanitize = Pattern.compile("([^\\s\\w]|_)+")
  val counts = new java.util.HashMap[String, java.lang.Long]()
  var tokens = 0L
  var pairs = 0L

  def map(record: String): Unit = {
    val clean = sanitize.matcher(record).replaceAll(" ").toLowerCase(Locale.ROOT)
    val st = new StringTokenizer(clean)
    val n = st.countTokens()
    tokens += n
    if (n >= 2) {
      var prev = st.nextToken()
      while (st.hasMoreTokens) {
        val cur = st.nextToken()
        counts.merge(prev + "+" + cur, 1L, (a: java.lang.Long, b: java.lang.Long) => a + b)
        pairs += 1
        prev = cur
      }
    }
  }

  def rows: Long = counts.size.toLong

  /** Shape of the bigram data, for the result's corpus record. */
  def toMap: Map[String, Any] = Map("tokens" -> tokens, "bigram_pairs" -> pairs,
    "distinct_bigrams" -> rows, "distinct_over_occurrences" -> rows.toDouble / math.max(pairs, 1L))
}

object RefBigrams {

  /** Maps `records` on `threads` threads, one oracle per chunk, and merges
    * the chunks' counts as the reducer would. */
  def of(records: Seq[String], threads: Int): RefBigrams = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val chunks = records.grouped(math.max(1, records.size / (threads * 8))).toSeq
      val parts = chunks.map { c =>
        pool.submit(() => { val r = new RefBigrams; c.foreach(r.map); r })
      }
      val total = new RefBigrams
      parts.foreach { f =>
        val r = f.get()
        r.counts.forEach((k, v) => total.counts.merge(k, v, (a: java.lang.Long, b: java.lang.Long) => a + b))
        total.tokens += r.tokens
        total.pairs += r.pairs
      }
      total
    } finally pool.shutdown()
  }

  def lines(file: File): Seq[String] =
    new String(Files.readAllBytes(file.toPath), UTF_8).split("\r\n|\n|\r", -1).toSeq

  /** Every entry of every `.zip` archive in `dir`. */
  def zipEntries(dir: File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".zip")).sortBy(_.getName)
      .flatMap { zip =>
        val zf = new ZipFile(zip)
        try zf.entries().asScala.filterNot(_.isDirectory)
          .map(e => new String(zf.getInputStream(e).readAllBytes(), UTF_8)).toVector
        finally zf.close()
      }

  /** Hadoop `Text.hashCode`: `31 * h + b` over the UTF-8 bytes, from 1. */
  def textHash(s: String): Int = {
    var h = 1
    s.getBytes(UTF_8).foreach(b => h = 31 * h + b)
    h
  }

  private def partFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-")).sortBy(_.getName)

  /** Checks one sink's output against the oracle: every line `key\tcount`
    * with the expected count, every key exactly once, keys strictly
    * ascending within each part file, and at most `parts` part files.
    * With `hadoopPlacement`, also that there are exactly `parts` files and
    * part `p` holds exactly the keys whose `Text.hashCode % parts` is `p`.
    * Returns the first problem found. */
  def check(dir: File, ref: RefBigrams, parts: Int, hadoopPlacement: Boolean): Option[String] = {
    val files = partFiles(dir)
    if (files.isEmpty) return Some(s"no part files in $dir")
    if (files.size > parts || (hadoopPlacement && files.size != parts))
      return Some(s"${files.size} part files, expected ${if (hadoopPlacement) "" else "at most "}$parts")
    val seen = new java.util.HashSet[String]()
    for ((f, p) <- files.zipWithIndex) {
      var prev: String = null
      val it = Files.readAllLines(f.toPath, UTF_8).iterator()
      while (it.hasNext) {
        val line = it.next()
        val tab = line.indexOf('\t')
        if (tab < 0) return Some(s"${f.getName}: line without a tab: ${line.take(80)}")
        val key = line.substring(0, tab)
        val want = ref.counts.get(key)
        if (want == null) return Some(s"${f.getName}: unexpected key $key")
        if (line.substring(tab + 1) != want.toString)
          return Some(s"${f.getName}: $key has ${line.substring(tab + 1)}, expected $want")
        if (prev != null && prev.compareTo(key) >= 0)
          return Some(s"${f.getName}: key $key not after $prev")
        if (hadoopPlacement && (textHash(key) & Int.MaxValue) % parts != p)
          return Some(s"${f.getName}: key $key belongs in part ${(textHash(key) & Int.MaxValue) % parts}")
        if (!seen.add(key)) return Some(s"${f.getName}: key $key written twice")
        prev = key
      }
    }
    if (seen.size != ref.rows) Some(s"${seen.size} rows, expected ${ref.rows}") else None
  }
}
