package graft

/** Provenance stamp for gate artifacts (VERDICT r11 #1: the d03
  * pair-join width recalibration landed AFTER the committed sf1/sf10/sf20
  * audits were produced, leaving their mining-family state columns
  * stale with nothing to notice). Every [[ShuffleAudit]] dump records
  * the git TREE hash of `src/main` at run time plus whether the
  * working tree was dirty under it, and `ScaleCheck audits` refuses
  * artifact pairs whose stamp doesn't match HEAD at check time — so
  * "gates ran on final code" is an asserted invariant, not a
  * convention.
  *
  * The SOURCE-TREE hash (`git rev-parse HEAD:src/main`), not the
  * commit SHA, is stamped deliberately: committing the artifacts
  * themselves (or docs, tests, tools) advances HEAD without changing
  * the measured code, and the invariant must survive exactly that.
  * A dirty `src/main` fails the gate outright — an audit taken from
  * uncommitted code doesn't identify what it measured.
  */
object RepoStamp {

  private def run(cmd: Seq[String]): Option[String] =
    try {
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(false).start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
      if (p.waitFor() == 0) Some(out) else None
    } catch { case _: Exception => None }

  /** Tree hash of committed `src/main`; "unknown" outside a git
    * checkout (the gate then fails — artifacts need provenance). */
  def srcTree(): String =
    run(Seq("git", "rev-parse", "HEAD:src/main")).getOrElse("unknown")

  /** Uncommitted changes under `src/main`: a stamp taken from a dirty
    * tree doesn't identify the measured code. */
  def srcDirty(): Boolean =
    run(Seq("git", "status", "--porcelain", "--", "src/main"))
      .forall(_.nonEmpty)

  /** Files under src/main whose content can never alter a measured
    * PLAN: the gate/bench mains (pure measurement and reporting —
    * an allowlist bound or a JSON field is not a query plan) and this
    * helper itself. Everything else — operators, queries, functions,
    * sources, streaming, plans, the session/entry wiring, the corpus
    * generator — is the measured surface. Editing a file on this list
    * must NOT invalidate existing audits (re-running two hours of
    * rungs because an attribution string changed would push rounds
    * back to exactly the artifacts-lag-the-code state the invariant
    * exists to prevent); editing anything off it must. */
  private val MeasurementOnly: Set[String] = Set(
    "Bench.scala", "Explain.scala", "Verify.scala", "ShuffleAudit.scala",
    "ScaleCheck.scala", "MemAudit.scala", "SkewDrill.scala",
    "HeapDrill.scala", "StateAudit.scala", "RepoStamp.scala")

  /** Digest of the MEASURED SURFACE of a src/main tree object: its
    * recursive listing (per-blob object hashes) with the
    * measurement-only mains removed, SHA-1'd. Because the artifact
    * stamp is a real git tree OID, the gate can evaluate TODAY's
    * exclusion semantics against an artifact stamped at any commit —
    * `measuredSurface(artifact.src_tree) == measuredSurface(HEAD's
    * src/main)` is exactly "no file a query can execute changed since
    * the audit ran". Returns None when the OID is unknown to git. */
  def measuredSurface(treeOid: String): Option[String] =
    run(Seq("git", "ls-tree", "-r", treeOid)).map { listing =>
      val kept = listing.linesIterator
        .filterNot(l => MeasurementOnly.exists(f => l.endsWith("/" + f)))
        .mkString("\n")
      java.security.MessageDigest.getInstance("SHA-1")
        .digest(kept.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }

  /** The `_meta` JSON object artifact writers embed (first key, so
    * subset extractions that copy whole entries keep it). */
  def metaJson(extra: String = ""): String =
    s""""_meta":{"src_tree":"${srcTree()}","src_dirty":${srcDirty()}$extra}"""
}
