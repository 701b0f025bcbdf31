package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the README gate table to the artifacts on disk (VERDICT r12
  * "what's wrong" #2: the hand-maintained "last run" column claimed
  * rounds whose artifacts never existed). The table is GENERATED by
  * `tools/gate_table.py` from the round-stamped artifact files; this
  * spec re-runs the generator in `--check` mode, so a hand-edited or
  * forward-dated claim fails `sbt test` — a row can only say "r13" if
  * the r13 artifact exists (and is suffixed "(FAILED)" if its own
  * all_ok is false).
  *
  * The check is ONE-SIDED on the round cells (VERDICT r14 #3): the
  * driver drops `CORRECTNESS_r{N}`/`BENCH_r{N}` AFTER the builder's
  * final commit, so artifacts NEWER than the committed table are the
  * normal end-of-round state and must not redden the suite. A table
  * round AHEAD of its artifacts, a pass claim over an all_ok=false
  * artifact, or drifted static columns still fail.
  *
  * The same spec guards the gate scripts themselves: every
  * `graft.<Name>` a shell script under `tools` names must still be a main
  * under `src/main`, so a script cannot outlive the main it runs. And it
  * guards the mains' wiring: sessions come from `GraftSession` alone,
  * and one task listener serves every measurement main. And it guards
  * the partition-sizing policy: the 4096 cap and the 256 MB per-task
  * share live in `PartitionSizing` alone, and no pin parameter spells
  * "leave it to AQE" as 0. And it guards the streaming drains: the
  * far-future sentinel events are built on one line of
  * `StreamingJobs`, and the drain width is no conf key. And it guards
  * the library packages against dead variants: every public or
  * `private[graft]` member of `operators`, `functions`, `multimodal`
  * and `streaming` is named somewhere in `src/main` or `perfbench`
  * code other than its own definition (the `*Builtin` reference twins
  * that tests compare against are exempt).
  */
class GateTableSpec extends AnyFunSuite {

  test("README gate-table 'last run' column matches artifacts on disk") {
    val script = Paths.get("tools", "gate_table.py")
    assert(Files.isRegularFile(script), s"missing $script")
    val out = new StringBuilder
    val code = Process(Seq("python3", script.toString, "--check"))
      .!(ProcessLogger(l => out.append(l).append('\n'),
        l => out.append(l).append('\n')))
    assert(code == 0,
      s"README gate table is stale vs artifacts on disk:\n$out" +
        "regenerate with: python3 tools/gate_table.py")
  }

  test("every graft.<Name> a tools/*.sh script names is a main in src/main") {
    val scripts = {
      val stream = Files.list(Paths.get("tools"))
      try stream.iterator().asScala.filter(_.toString.endsWith(".sh")).toList
      finally stream.close()
    }
    val named = for {
      script <- scripts
      m <- """(?<![\w.])graft\.([A-Z]\w*)""".r.findAllMatchIn(Files.readString(script))
    } yield (script.getFileName.toString, m.group(1))
    assert(named.nonEmpty, "expected tools/*.sh to run graft mains")
    val dangling = named.distinct.filterNot { case (_, name) =>
      val src = Paths.get("src", "main", "scala", "graft", s"$name.scala")
      Files.isRegularFile(src) && Files.readString(src).contains("def main(")
    }
    assert(dangling.isEmpty,
      "tools scripts run mains that no longer exist:\n" +
        dangling.map { case (s, n) => s"$s: graft.$n" }.mkString("\n"))
  }

  private lazy val mainSources = {
    val stream = Files.walk(Paths.get("src", "main", "scala"))
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally stream.close()
  }

  private def filesMatching(re: scala.util.matching.Regex): List[String] =
    mainSources.filter(p => re.findFirstIn(Files.readString(p)).nonEmpty)
      .map(_.getFileName.toString).sorted

  test("src/main builds sessions only in GraftSession and has one SparkListener") {
    val builders = filesMatching("""SparkSession\.builder\(""".r)
    assert(builders == List("GraftSession.scala"),
      s"files that build a SparkSession: ${builders.mkString(", ")}")
    val listeners = filesMatching("""\b(extends|with|new)\s+SparkListener\b""".r)
    assert(listeners.size == 1,
      s"expected one SparkListener in src/main, found it in: ${listeners.mkString(", ")}")
  }

  test("src/main sizes pinned exchanges in one file and spells unpinned as None") {
    for (literal <- Seq("math.min(4096", "256L << 20")) {
      val holders = filesMatching(java.util.regex.Pattern.quote(literal).r)
      assert(holders == List("PartitionSizing.scala"),
        s"'$literal' belongs to PartitionSizing alone, found in: ${holders.mkString(", ")}")
    }
    val zeroPins = filesMatching("""[pP]arts: Int = 0\b""".r)
    assert(zeroPins.isEmpty,
      s"pin parameters spell 'unpinned' as None, not 0: ${zeroPins.mkString(", ")}")
  }

  test("src/main writes the drains' sentinel events in one place and has no drain-width knob") {
    val sentinelWriters = for {
      p <- mainSources
      line <- Files.readAllLines(p).asScala
      if """maxTus\s*\+.*SentinelSpacingUs""".r.findFirstIn(line).nonEmpty
    } yield p.getFileName.toString
    assert(sentinelWriters == List("StreamingJobs.scala"),
      s"the events sentinel is built on ${sentinelWriters.size} lines, in: " +
        sentinelWriters.distinct.mkString(", "))
    val knob = filesMatching(
      java.util.regex.Pattern.quote("spark.graft.streaming.drainPartitions").r)
    assert(knob.isEmpty, s"the drain width is a constant, not a conf key: ${knob.mkString(", ")}")
  }

  /** `src` with comments dropped and plain string literals emptied;
    * interpolated strings stay whole, since their `$name`s are code. */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def interpolated = i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_')
    while (i < n) {
      if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        var open = true
        while (i < n && open) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2; open = depth > 0 }
          else i += 1
        }
        out.append(' ')
      } else if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        if (j < 0) j = n - 3
        while (j + 3 < n && src(j + 3) == '"') j += 1
        out.append(if (interpolated) src.substring(i, j + 3) else "\"\"")
        i = j + 3
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"') j += (if (src(j) == '\\') 2 else 1)
        out.append(if (interpolated) src.substring(i, math.min(j + 1, n)) else "\"\"")
        i = j + 1
      } else if (src(i) == '\'' && i + 2 < n && (src(i + 1) == '\\' || src(i + 2) == '\'')) {
        // a char literal, so a quoted '"' opens no string
        val j = src.indexOf('\'', if (src(i + 1) == '\\') i + 3 else i + 2)
        i = if (j < 0) n else j + 1
      } else {
        out.append(src(i))
        i += 1
      }
    }
    out.toString
  }

  test("operators, functions, multimodal and streaming members are all referenced") {
    val decl = ("(?m)^[ \\t]*((?:(?:final|implicit|lazy|sealed|abstract|case|override|" +
      "private|protected)(?:\\[\\w+\\])?\\s+)*)(def|val|var|object|class|trait|type)" +
      "\\s+([A-Za-z_]\\w*)").r
    val hidden = """\bprivate\b(?!\[graft\])|\bprotected\b|\boverride\b""".r
    val calledImplicitly = Set("apply", "unapply", "unapplySeq", "update", "main")
    val sources = {
      val stream = Files.walk(Paths.get("perfbench", "src"))
      try mainSources ++ stream.iterator().asScala.filter(_.toString.endsWith(".scala"))
      finally stream.close()
    }
    val code = sources.map(p => p -> codeOnly(Files.readString(p))).toMap
    val uses = code.values.flatMap("[A-Za-z_]\\w*".r.findAllIn(_))
      .toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val defs = code.values.flatMap(decl.findAllMatchIn(_).map(_.group(3)))
      .toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val libraries = Seq("operators", "functions", "multimodal", "streaming")
      .map(d => Paths.get("src", "main", "scala", "graft", d))
    val unreferenced = for {
      (path, text) <- code.toSeq
      if libraries.exists(path.startsWith)
      m <- decl.findAllMatchIn(text)
      name = m.group(3)
      if hidden.findFirstIn(m.group(1)).isEmpty
      if !calledImplicitly(name) && !name.endsWith("Builtin")
      if uses(name) <= defs(name)
    } yield s"${path.getFileName}: ${m.group(2)} $name"
    assert(unreferenced.isEmpty,
      "members nothing in src/main or perfbench uses (delete them, or call them):\n" +
        unreferenced.sorted.mkString("\n"))
  }

  test("gate-table markers present exactly once") {
    val text = Files.readString(Paths.get("README.md"))
    assert(text.sliding("<!-- gate-table:begin -->".length)
      .count(_ == "<!-- gate-table:begin -->") == 1)
    assert(text.sliding("<!-- gate-table:end -->".length)
      .count(_ == "<!-- gate-table:end -->") == 1)
  }
}
