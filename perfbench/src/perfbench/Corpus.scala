package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Seeded generator of the two corpus workloads' inputs. The same seed and
  * spec give the same bytes.
  *
  * Tokens follow a first-order Markov chain over a Zipf vocabulary: with
  * probability `follow` the next word is one of the previous word's
  * `successors` (themselves Zipf-drawn), otherwise a fresh Zipf draw. That
  * gives the repeated-phrase structure of natural text, so the share of
  * distinct bigrams among all bigram occurrences can be set from the
  * vocabulary size, and the aggregate sees a realistic key distribution.
  *
  * The text carries the tokenizer's stressors: capitals, punctuation runs,
  * digit runs, underscores, tabs and non-ASCII letters, plus a few lines
  * of 600 KB and more. It never contains a vertical tab, where the
  * reference's tokenizer and the engine's differ on purpose. */
object Corpus {

  final case class Spec(bytes: Long, vocab: Int, successors: Int, follow: Double,
                        archives: Int, entries: Int, longLines: Int, longLineBytes: Int)

  /** Sizes of the generated input, as files on disk (uncompressed). */
  final case class Layout(bytes: Long, archives: Int, largestArchive: Long, entries: Int,
                          largestEntry: Long, medianEntry: Long, longestLine: Long) {
    def toMap: Map[String, Any] = Map("bytes" -> bytes, "archives" -> archives,
      "largest_archive_bytes" -> largestArchive, "entries" -> entries,
      "largest_entry_bytes" -> largestEntry, "median_entry_bytes" -> medianEntry,
      "entry_skew" -> largestEntry.toDouble / math.max(medianEntry, 1L),
      "longest_line_bytes" -> longestLine)
  }

  private val Syllables = Array("ab", "ar", "be", "ca", "de", "di", "el", "en",
    "fa", "go", "ha", "in", "ka", "la", "li", "ma", "me", "mo", "na", "ne",
    "or", "pa", "qu", "ra", "ri", "sa", "se", "st", "ta", "te", "th", "to",
    "un", "va", "we", "xi", "yo", "za")
  private val Punct = Array(",", ",", ".", ".", ";", ":", "!", "?", " --", "...",
    "'s", ")", "\"", "--", ",\"")
  private val NonAscii = Array("Zuñi", "café", "naïve", "señor", "Größe",
    "façade", "中文", "Ærø", "piñon", "crème", "—", "“quoted”")

  final class Gen(seed: Long, spec: Spec) {
    private val rng = new SplittableRandom(seed)
    // The chain's structure is the same for every seed, so every seed's
    // corpus has the same expected token, pair and key counts; the seed
    // picks the words' spellings and the token stream.
    private val structure = new SplittableRandom(spec.hashCode.toLong)
    private val words: Array[String] = {
      val seen = new java.util.HashSet[String]()
      val out = new Array[String](spec.vocab)
      var i = 0
      while (i < spec.vocab) {
        // syllables by rank (frequent words short), so the bytes per token
        // do not depend on the seed
        val n = if (i < 20) 1 else if (i < 600) 2 else if (i < 20000) 3 else 4
        val w = (0 until n).map(_ => Syllables(rng.nextInt(Syllables.length))).mkString
        if (seen.add(w)) { out(i) = w; i += 1 }
      }
      out
    }
    private val cdf: Array[Double] = {
      val c = new Array[Double](spec.vocab)
      var acc = 0.0
      var i = 0
      while (i < spec.vocab) { acc += 1.0 / (i + 1); c(i) = acc; i += 1 }
      c.map(_ / acc)
    }
    private def zipf(r: SplittableRandom = rng): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, spec.vocab - 1)
    }
    private val successor: Array[Int] = Array.fill(spec.vocab * spec.successors)(zipf(structure))
    private var prev = zipf()
    private var sentenceStart = true

    private def nextWord(): String = {
      prev =
        if (rng.nextDouble() < spec.follow)
          successor(prev * spec.successors + math.min(zipf(), spec.successors - 1))
        else zipf()
      words(prev)
    }

    /** One whitespace-delimited chunk of text: usually a word, sometimes a
      * stressor the tokenizer has to split or drop. */
    private def chunk(sb: java.lang.StringBuilder): Unit = {
      val r = rng.nextDouble()
      if (r < 0.004) sb.append(1800 + rng.nextInt(200))
      else if (r < 0.007) sb.append(nextWord()).append('_').append(nextWord())
      else if (r < 0.011) sb.append(NonAscii(rng.nextInt(NonAscii.length)))
      else if (r < 0.013) sb.append(nextWord()).append(rng.nextInt(10))
      else {
        val w = nextWord()
        if (sentenceStart || r > 0.985) sb.append(w.head.toUpper).append(w, 1, w.length)
        else sb.append(w)
      }
      sentenceStart = false
      if (rng.nextDouble() < 0.09) {
        val p = Punct(rng.nextInt(Punct.length))
        sb.append(p)
        sentenceStart = p.startsWith(".") || p == "!" || p == "?"
      }
    }

    /** About `n` bytes of text in lines of 40–110 characters. */
    def lines(sb: java.lang.StringBuilder, n: Long): Unit = {
      val end = sb.length + n
      while (sb.length < end) {
        val lineEnd = sb.length + 40 + rng.nextInt(70)
        while (sb.length < lineEnd) {
          chunk(sb)
          sb.append(if (rng.nextDouble() < 0.01) '\t' else ' ')
        }
        sb.append('\n')
      }
    }

    /** One line of about `n` bytes: a digitized page whose breaks were lost. */
    def longLine(sb: java.lang.StringBuilder, n: Long): Unit = {
      val end = sb.length + n
      while (sb.length < end) { chunk(sb); sb.append(' ') }
      sb.append('\n')
    }
  }

  private def utf8(sb: java.lang.StringBuilder): Array[Byte] = sb.toString.getBytes(UTF_8)

  private def longestLine(b: Array[Byte]): Long = {
    var best, cur = 0L
    b.foreach { x => if (x == '\n') { best = math.max(best, cur); cur = 0 } else cur += 1 }
    math.max(best, cur)
  }

  /** `spec.archives` ZIP archives `corpus-NN.zip` holding `spec.entries`
    * books in all. Entry sizes fall off as 1/rank, so the largest entry
    * holds about a fifth of the corpus and the median one a few per cent
    * of that; the largest books also carry the long lines. The book of
    * rank `r` goes to archive `r % archives`, so every seed packs the same
    * sizes together: the source plans one split per archive, and the
    * archive holding the largest book is the map stage's straggler.
    * Within an archive, entries are stored in shuffled order. */
  def writeZip(dir: File, seed: Long, spec: Spec): Layout = {
    val gen = new Gen(seed, spec)
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val weights = (1 to spec.entries).map(r => 1.0 / r)
    val sizes = weights.map(w => (w / weights.sum * spec.bytes).toLong)
    val order = rng.ints(0, Int.MaxValue).limit(spec.entries).toArray.zipWithIndex
      .sortBy(_._1).map(_._2)
    var written = Vector.empty[Long]
    var archiveBytes = Vector.empty[Long]
    var longest = 0L
    for (archive <- 0 until spec.archives) {
      val zip = new ZipOutputStream(new BufferedOutputStream(
        new FileOutputStream(new File(dir, f"corpus-$archive%02d.zip")), 1 << 20))
      var inArchive = 0L
      try order.filter(_ % spec.archives == archive).foreach { rank =>
        val sb = new java.lang.StringBuilder(sizes(rank).toInt + 4096)
        val long = if (rank < spec.longLines) spec.longLineBytes.toLong else 0L
        gen.lines(sb, (sizes(rank) - long) / 2)
        if (long > 0) gen.longLine(sb, long)
        gen.lines(sb, sizes(rank) - sb.length)
        val bytes = utf8(sb)
        zip.putNextEntry(new ZipEntry(f"book-$rank%03d.txt"))
        zip.write(bytes)
        zip.closeEntry()
        written :+= bytes.length.toLong
        inArchive += bytes.length
        longest = math.max(longest, longestLine(bytes))
      } finally zip.close()
      archiveBytes :+= inArchive
    }
    val sorted = written.sorted
    Layout(written.sum, spec.archives, archiveBytes.max, written.size, sorted.last,
      sorted(sorted.size / 2), longest)
  }

  /** One plain-text file `corpus.txt` of short lines, with `spec.longLines`
    * long lines spread through it. */
  def writeText(dir: File, seed: Long, spec: Spec): Layout = {
    val gen = new Gen(seed, spec)
    val out = new BufferedOutputStream(new FileOutputStream(new File(dir, "corpus.txt")), 1 << 20)
    val pieces = spec.longLines + 1
    val shortBytes = (spec.bytes - spec.longLines.toLong * spec.longLineBytes) / pieces
    var total, longest = 0L
    def emit(fill: java.lang.StringBuilder => Unit): Unit = {
      val sb = new java.lang.StringBuilder(1 << 20)
      fill(sb)
      val bytes = utf8(sb)
      out.write(bytes)
      total += bytes.length
      longest = math.max(longest, longestLine(bytes))
    }
    try (0 until pieces).foreach { i =>
      var left = shortBytes
      while (left > 0) {
        val n = math.min(left, 4L << 20)
        emit(gen.lines(_, n))
        left -= n
      }
      if (i < spec.longLines) emit(gen.longLine(_, spec.longLineBytes))
    } finally out.close()
    Layout(total, 0, 0L, 1, total, total, longest)
  }
}
