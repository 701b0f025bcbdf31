package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.operators.Bigrams
import graft.operators.Bigrams.RecordMode

class ZipEntriesSpec extends SparkSpec {
  import spark.implicits._

  private def makeZip(entries: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos, UTF_8)
    entries.foreach { case (name, text) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(text.getBytes(UTF_8))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  private def writeZipFile(entries: (String, String)*): String = {
    val f = java.nio.file.Files.createTempFile("graft-test", ".zip").toFile
    val out = new FileOutputStream(f)
    out.write(makeZip(entries: _*)); out.close()
    f.getAbsolutePath
  }

  test("entries DataFrame: one row per entry (no duplicate-first-entry bug)") {
    val path = writeZipFile("x.txt" -> "one two", "y.txt" -> "three four", "empty.txt" -> "")
    val df = spark.read.format("zip-entries").load(path)
    assert(df.count() == 3)
    val names = df.select("entry_name").as[String].collect().sorted.toSeq
    assert(names == Seq("empty.txt", "x.txt", "y.txt"))
  }

  test("readZip decodes UTF-8 entries; Lines explodes \\n and \\r\\n") {
    val path = writeZipFile("a.txt" -> "l1\nl2\r\nl3 ü", "b.txt" -> "solo", "c.txt" -> "r1\rr2")
    val whole = Bigrams.readZip(spark, path, RecordMode.WholeFiles).as[String].collect()
    assert(whole.toSeq == Seq("l1\nl2\r\nl3 ü", "solo", "r1\rr2"))
    val lines = Bigrams.readZip(spark, path, RecordMode.Lines).as[String].collect()
    assert(lines.toSeq == Seq("l1", "l2", "l3 ü", "solo", "r1", "r2"))
  }

  test("line mode: the ZIP and text routes end lines alike (lone \\r, \\r\\n, \\n)") {
    // Hadoop's LineReader (the text route) also ends a line at a lone CR
    val text = "alpha beta\rgamma delta\r\nepsilon zeta\nfinal word"
    val txt = java.nio.file.Files.createTempFile("graft-lines", ".txt")
    java.nio.file.Files.write(txt, text.getBytes(UTF_8))
    val viaText = Bigrams.fromTextFiles(spark, txt.toString, RecordMode.Lines)
      .as[(String, Long)].collect().toMap
    val viaZip = Bigrams.fromZip(spark, writeZipFile("t.txt" -> text), RecordMode.Lines)
      .as[(String, Long)].collect().toMap
    assert(viaText == Map("alpha+beta" -> 1L, "gamma+delta" -> 1L,
      "epsilon+zeta" -> 1L, "final+word" -> 1L))
    assert(viaZip == viaText)
  }

  test("bigrams from zip: line vs whole-file record granularity") {
    // 'b c' spans the newline only in whole-file mode
    val path = writeZipFile("d.txt" -> "a b\nc d")
    val line = Bigrams.fromZip(spark, path, RecordMode.Lines)
      .as[(String, Long)].collect().toMap
    assert(line == Map("a+b" -> 1L, "c+d" -> 1L))
    val whole = Bigrams.fromZip(spark, path, RecordMode.WholeFiles)
      .as[(String, Long)].collect().toMap
    assert(whole == Map("a+b" -> 1L, "b+c" -> 1L, "c+d" -> 1L))
  }

  test("<2-token entries contribute nothing") {
    val path = writeZipFile("one.txt" -> "single", "none.txt" -> "...", "ok.txt" -> "p q")
    val got = Bigrams.fromZip(spark, path, RecordMode.WholeFiles)
      .as[(String, Long)].collect().toMap
    assert(got == Map("p+q" -> 1L))
  }
}
