package graft

import org.scalatest.funsuite.AnyFunSuite

/** Provenance-stamp arithmetic (the gate behavior itself is exercised
  * by every `ScaleCheck audits` run; here the stamp primitives). */
class RepoStampSpec extends AnyFunSuite {

  test("srcTree resolves to a git tree OID in a checkout") {
    val t = RepoStamp.srcTree()
    assert(t.matches("[0-9a-f]{40}") || t == "unknown", t)
  }

  test("measuredSurface: deterministic digest, None for junk OIDs") {
    val t = RepoStamp.srcTree()
    assume(t != "unknown", "not in a git checkout")
    val s = RepoStamp.measuredSurface(t)
    assert(s.isDefined && s.get.matches("[0-9a-f]{40}"), s)
    assert(RepoStamp.measuredSurface(t) == s, "not deterministic")
    assert(RepoStamp.measuredSurface("0" * 40).isEmpty, "junk OID must be None")
  }

  test("measuredSurface excludes measurement-only mains from the digest") {
    // the digest must not contain the excluded files' blob hashes:
    // recompute it by hand from ls-tree and compare
    val t = RepoStamp.srcTree()
    assume(t != "unknown", "not in a git checkout")
    val p = new ProcessBuilder("git", "ls-tree", "-r", t).start()
    val listing = new String(p.getInputStream.readAllBytes, "UTF-8").trim
    assert(p.waitFor() == 0)
    assert(listing.linesIterator.exists(_.endsWith("/ScaleCheck.scala")),
      "fixture assumption: gate main exists under src/main")
    val kept = listing.linesIterator
      .filterNot(l => Seq("/Bench.scala", "/Explain.scala", "/Verify.scala",
        "/ShuffleAudit.scala", "/ScaleCheck.scala", "/MemAudit.scala",
        "/SkewDrill.scala", "/HeapDrill.scala", "/StateAudit.scala",
        "/RepoStamp.scala")
        .exists(l.endsWith))
      .mkString("\n")
    val want = java.security.MessageDigest.getInstance("SHA-1")
      .digest(kept.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(RepoStamp.measuredSurface(t).contains(want))
  }
}
