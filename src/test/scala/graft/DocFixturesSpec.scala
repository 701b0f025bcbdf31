package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}

import graft.sources.DocFixtures

/** The promises of the derived plain-text corpus that t09 and its
  * DuckDB oracle rely on (FIXTURES.md §1.4): LF-only bytes, and
  * zuni.txt's stressors — a 600 KB+ line, non-ASCII text, digit and
  * underscore runs, lines with fewer than 2 tokens — built
  * deterministically and published once. */
class DocFixturesSpec extends SparkSpec {

  private def fs(path: String) =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bytesOf(path: String): Array[Byte] = {
    val in = fs(path).open(new HPath(path))
    try in.readAllBytes() finally in.close()
  }

  private def mtime(path: String): Long =
    fs(path).getFileStatus(new HPath(path)).getModificationTime

  /** Builds (or reuses) the corpus under scratch root `root`. */
  private def buildUnder(root: String): String = {
    val prev = spark.conf.getOption(WorkDirs.WorkDirKey)
    spark.conf.set(WorkDirs.WorkDirKey, root)
    try DocFixtures.docsCorpus(spark, sfDir)
    finally prev.fold(spark.conf.unset(WorkDirs.WorkDirKey))(spark.conf.set(WorkDirs.WorkDirKey, _))
  }

  private def freshRoot(): String = Files.createTempDirectory("graft-docfix").toString

  /** The tokenizer's rule, spelled out: punctuation, non-ASCII letters
    * and `_` runs separate tokens. */
  private def tokens(line: String): Int =
    line.toLowerCase.replaceAll("([^\\s\\w]|_)+", " ").split("\\s+").count(_.nonEmpty)

  test("docsCorpus: LF-only, zuni's stressors, same path and bytes on a second call") {
    val root = freshRoot()
    val path = buildUnder(root)
    val bytes = bytesOf(path)
    val built = mtime(path)
    assert(!bytes.contains('\r'.toByte), "a CR would split lines Spark-side but not in the oracle")
    val lines = new String(bytes, UTF_8).split("\n", -1).toSeq
    val widest = lines.map(_.getBytes(UTF_8).length).max
    assert(widest >= 600 * 1000, s"longest line is $widest bytes")
    assert(bytes.exists(_ < 0), "no non-ASCII bytes")
    val text = new String(bytes, UTF_8)
    assert("_[0-9]+_".r.findFirstIn(text).nonEmpty, "no underscore/digit run")
    assert(lines.filter(_.nonEmpty).exists(tokens(_) < 2), "no non-empty line under 2 tokens")

    // a second call reuses the published file; an independent build
    // under another root writes the same bytes
    val again = buildUnder(root)
    assert(again == path)
    assert(mtime(again) == built && bytesOf(again).sameElements(bytes))
    assert(bytesOf(buildUnder(freshRoot())).sameElements(bytes), "an independent build differs")
  }
}
