package graft

import java.nio.file.{Files, Paths}

/** Runnable scale-linearity GATE (VERDICT r08 #6) over two
  * [[ShuffleAudit]] dumps of the same query set taken at two data
  * scales whose volumes differ by a known factor: it asserts that each
  * query's TASK-view shuffle volume grows by at most a bounded multiple
  * of that factor, that nothing spills at either scale, and that the
  * per-task state columns stay within budget. The ratio table earlier
  * rounds hand-recorded into SCALE_r*.json becomes an asserted
  * property: the gate writes the JSON artifact itself and exits
  * non-zero on any violation. It reads only the two JSON files and git
  * (the provenance stamp); it starts no Spark session.
  *
  * Usage:
  *   tools/jrun.sh graft.ScaleCheck audits <auditA.json> <auditB.json> \
  *     <dataRatio> <out.json> <transition|postcap|answers>
  *
  * Per-query bound: `defaultSlack × dataRatio` (slack 1.4 — AQE
  * coalescing, partial-agg state, and map-side combine make measured
  * growth wobble around linear without being super-linear), raised
  * only by an attributed entry of the selected allowlist (see
  * [[auditGate]]). Spill gate: task-view spill must stay ≤ 1 MB at
  * BOTH scales.
  */
object ScaleCheck {

  private val DefaultSlack = 1.4
  private val SpillLimitMb = 1.0

  /** Full-surface allowlist for [[auditGate]] (VERDICT r09 #1): every
    * query whose measured shuffle growth exceeds the default
    * `1.4 × dataRatio` bound MUST carry an entry here — bound plus a
    * one-line measured attribution — or the gate fails. An
    * unattributed super-linear grower is exactly how s03's 91 GB
    * spill and t23's 106× join hid through r8.
    *
    * Two benign families dominate:
    *  - broadcast→shuffle FLIPS: a dimension side outgrows
    *    autoBroadcastJoinThreshold between the two scales, so the join
    *    becomes the exchange-both-sides plan it must be at 100×. A
    *    one-time step (the ratio window straddles the threshold),
    *    linear before and after; the attribution names the side that
    *    flipped and what the exchange now carries.
    *  - the pair-MINING transition window: candidate pairs are
    *    Σ min(df,cap)·df; the df distribution crosses the derived cap
    *    between sf1 and sf10, so growth runs quadratic-until-capped
    *    (cost model predicts 18.7× for this window; measured 14–19×)
    *    and then flattens — gate-measured at 1.67×/2× data in the
    *    sf10→sf20 postcap run ([[SCALE_r09_postcap.json]]). */
  private final case class Allow(bound: Double, why: String)
  private val fullSurfaceAllow: Map[String, Allow] = Map(
    "q05_semi_join" -> Allow(60,
      "flip: orders side of the left-semi outgrew broadcast; SMJ now " +
        "exchanges both sides' keys (custkey) — the fact-fact plan at 100x"),
    "q06_anti_join" -> Allow(160,
      "flip: F-status orders side of the left-anti outgrew broadcast " +
        "(sf1 exchanged 0.3 MB); SMJ exchanges keys only, linear post-flip"),
    "q13_except" -> Allow(160,
      "flip: except plans as the same left-anti as q06 — same orders-side " +
        "flip, same slim key exchange"),
    "q28_date_arith" -> Allow(60000,
      "flip: lineitem-orders join ran broadcast at sf1 (0.018 MB task " +
        "shuffle); at sf10 orders outgrew the threshold and the SMJ " +
        "exchanges the pruned join columns of both facts (~60M+15M rows " +
        "x ~12 B = the measured ~870 MB) — the only correct fact-fact " +
        "plan, linear in data from here"),
    "x19_dq_audit" -> Allow(30,
      "flip: the RI checks' distinct-parent-key sides outgrew broadcast; " +
        "the exchange now carries distinct child keys + distinct parent " +
        "keys (pre-aggregated map-side since r10), linear post-flip"),
    "s08_pq_codes" -> Allow(20,
      "flip: the four per-subspace code frames joined by broadcast at " +
        "sf1; at sf10 they SMJ on vec_id exchanging slim (id, code) rows"),
    "s09_pq_adc" -> Allow(350,
      "flip: same code-frame join as s08 feeds the ADC scan; absolute " +
        "volume is the slim code rows (10 MB at sf10)"),
    "d03_ngram_jaccard" -> Allow(19,
      "mining transition window: df crosses the derived cap between the " +
        "two scales (model predicts 18.7x); postcap gate measures 1.67x/2x"),
    "d05_simhash" -> Allow(19,
      "r11: runs d03's miner at threshold 0.9 as its exact-anchor side " +
        "(organic-recall oracle) + the SimHash chunk join; same " +
        "transition window as d03"),
    "d07_dup_components" -> Allow(19,
      "= d03's miner + vertex-sized rounds; same transition window"),
    "d11_threshold_curve" -> Allow(19,
      "runs d03's miner once for the whole threshold sweep; same " +
        "transition window (r12 HEAD-matched re-audit measures 15.5x — " +
        "the r11 final-agg pin's raw-candidate exchange adds ~27% to " +
        "the sf10 side, the byte price of 512->36 MB flat task state " +
        "at sf80)"),
    "g01_pagerank" -> Allow(19, "shared mining core; same transition window"),
    "g02_triangles" -> Allow(31,
      "shared mining core + the r11 final-agg pin measured at HEAD " +
        "(r12): the pinned complete-mode pair aggregation exchanges " +
        "raw candidate rows where the old partial-agg plan exchanged " +
        "map-combined ones - sf10 side 381->851 MB, ratio 18.1->29.1. " +
        "Deliberate: bytes are linear and stream; the state those " +
        "bytes decompress into is what broke sf80 (512 MB/task) " +
        "before the pin. Postcap/sf40/sf80 rungs bound the post-" +
        "transition growth of the same exchange"),
    "g06_hits" -> Allow(19, "shared mining core; same transition window"),
    "g07_source_modularity" -> Allow(19,
      "shared mining core; same transition window"),
    "g08_kcore" -> Allow(31,
      "shared mining core + the r11 final-agg pin measured at HEAD " +
        "(r12): same raw-candidate exchange as g02 (sf10 side " +
        "382->852 MB, ratio 18.0->29.0); see g02 attribution"),
    "a18_winsorize" -> Allow(16,
      "per-group percentile frame joins back to the rows; the stats-frame " +
        "side flipped from broadcast between scales — absolute 64 MB at " +
        "sf10, linear in data post-flip"),
    "p01_curate" -> Allow(Double.PositiveInfinity,
      "flip from zero: the curation pipeline's dedup-pair join ran fully " +
        "broadcast at sf1 (0 MB task shuffle); at sf10 one side crossed " +
        "the threshold — 22 MB absolute, linear from here"))

  /** Budgets for the per-task STATE columns (VERDICT r10 #1): max
    * single-task in-memory sort/agg/hash-build state, and its
    * projection to AQE's 64 MB advisory coalescing target — the same
    * bounds [[MemAudit]] gates standalone, here enforced on every
    * rung the audit artifacts cover so the recurring defect class
    * (state invisible to AQE's compressed-byte sizing) fails the gate
    * at rung N instead of spilling at rung N+1. */
  private val StatePeakBudgetMb = 512.0
  private val StateProjBudgetMb = 1024.0

  /** Allowlist for the POSTCAP rung (sf10→sf20): by then every
    * transition-window and broadcast-flip step must already have
    * happened, so the default `1.4 × dataRatio` bound applies to
    * everything and exceptions need a fresh measured attribution —
    * reusing [[fullSurfaceAllow]]'s transition bounds here would let a
    * query that SHOULD be linear hide inside its old 19–160× window. */
  private val postcapAllow: Map[String, Allow] = Map.empty

  /** Slack on the ANSWER-growth bound of the `answers` rung: shuffle
    * growth ≤ `AnswerSlack × (bRows / aRows)` passes even past the
    * default bound, because no algorithm shuffles less than its
    * output — on corpora whose duplicate clusters double per rung the
    * true pair answer QUADRUPLES per doubling (sf80 measured d04 at
    * 2.91× and s03 at 4.05× answer growth per 2× data), and a gate
    * that compares shuffle growth to DATA growth alone mislabels an
    * answer-bound miner as super-linear. Applied only where BOTH
    * audits carry the `rows` column. */
  private val AnswerSlack = 1.2

  /** The `answers` rung carries NO hand-pinned exceptions (VERDICT
    * r11 #8): a query whose output is linear but whose internal answer
    * is super-linear (d13) declares an internal-answer probe in
    * [[ShuffleAudit.internalAnswer]] instead, and the audit's
    * `internal_rows` column drives the bound — derived per corpus at
    * gate time, never a constant that goes stale when the fixture
    * changes. */
  private val answersAllow: Map[String, Allow] = Map.empty

  /** The effective shuffle-growth bound for one query on an `answers`
    * rung: the strict default, raised to `AnswerSlack × answerRatio`
    * when the measured answer grew faster than data, with an
    * attributed allowlist bound taking precedence over both. Pure —
    * unit-tested in ScaleCheckSpec. */
  private[graft] def answersBound(defaultBound: Double,
                                  allowBound: Option[Double],
                                  answerRatio: Option[Double]): Double =
    allowBound.getOrElse(
      math.max(defaultBound, answerRatio.map(AnswerSlack * _).getOrElse(0.0)))

  /** Audit-file gate: `ScaleCheck audits <auditA.json> <auditB.json>
    * <dataRatio> <out.json> [transition|postcap]` — covers EVERY query
    * present in both ShuffleAudit dumps with the default bound,
    * requires an attributed allowlist entry for anything past it, and
    * embeds the attribution in the artifact so no exception is silent.
    * A B-side shuffle under [[SpillLimitMb]] MB is below measurement
    * noise and passes regardless of ratio. The final arg picks the
    * allowlist — MANDATORY: `transition` (the sf1→sf10 window) or
    * `postcap` (sf10→sf20, where steps are over and near-linear is
    * the only acceptable answer). */
  private def auditGate(args: Array[String]): Unit = {
    // the allowlist selector is MANDATORY (ADVICE r10): defaulting to
    // the lenient transition table let a postcap rung silently run
    // under 19–160x transition-window exceptions where near-linear is
    // the only acceptable answer
    require(args.length == 5,
      "usage: ScaleCheck audits <auditA.json> <auditB.json> <dataRatio> <out.json> <transition|postcap|answers>")
    val Array(pathA, pathB, ratioStr, outPath) = args.take(4)
    val allowName = args(4)
    val allowList = allowName match {
      case "transition" => fullSurfaceAllow
      case "postcap" => postcapAllow
      case "answers" => answersAllow
      case other => sys.error(s"unknown allowlist '$other' (transition|postcap|answers)")
    }
    val dataRatio = ratioStr.toDouble
    val defaultBound = DefaultSlack * dataRatio

    // (task_shuffle_mb, task_spill_mb, max_task_peak_mb,
    // max_task_projected_mb, rows, internal_rows) — the STATE columns
    // (VERDICT r10 #1) and the answer-cardinality columns (sf80 rung;
    // internal_rows since r12) are optional so the gate still reads
    // older artifacts
    final case class Entry(shuffleMb: Double, spillMb: Double,
        peakMb: Option[Double], projMb: Option[Double], rows: Option[Long],
        internalRows: Option[Long])
    def parse(path: String): Map[String, Entry] = {
      val text = Files.readString(Paths.get(path))
      // tolerate either ShuffleAudit's compact output or a
      // pretty-printed re-save (whitespace after separators)
      val entry = ("\"(\\w+)\"\\s*:\\s*\\{[^}]*\"task_shuffle_mb\"\\s*:\\s*([0-9.eE+-]+)\\s*," +
        "\\s*\"task_spill_mb\"\\s*:\\s*([0-9.eE+-]+)" +
        "(?:\\s*,\\s*\"max_task_peak_mb\"\\s*:\\s*([0-9.eE+-]+)\\s*," +
        "\\s*\"max_task_projected_mb\"\\s*:\\s*([0-9.eE+-]+))?" +
        "(?:\\s*,\\s*\"rows\"\\s*:\\s*([0-9]+))?" +
        "(?:\\s*,\\s*\"internal_rows\"\\s*:\\s*([0-9]+))?").r
      entry.findAllMatchIn(text).map(m =>
        m.group(1) -> Entry(m.group(2).toDouble, m.group(3).toDouble,
          Option(m.group(4)).map(_.toDouble), Option(m.group(5)).map(_.toDouble),
          Option(m.group(6)).map(_.toLong),
          Option(m.group(7)).map(_.toLong))).toMap
    }
    // artifacts-match-HEAD invariant (VERDICT r11 #1): both audits
    // must carry a clean src/main tree stamp equal to HEAD's — an
    // audit from stale or uncommitted code cannot pass a gate that
    // certifies the SHIPPED plans
    def stamp(path: String): (String, Boolean) = {
      val text = Files.readString(Paths.get(path))
      val re = ("\"_meta\"\\s*:\\s*\\{[^}]*\"src_tree\"\\s*:\\s*\"([0-9a-f]+|unknown)\"" +
        "\\s*,\\s*\"src_dirty\"\\s*:\\s*(true|false)").r
      re.findFirstMatchIn(text)
        .map(m => (m.group(1), m.group(2).toBoolean))
        .getOrElse(sys.error(s"$path carries no _meta provenance stamp — " +
          "regenerate it with the current ShuffleAudit"))
    }
    val (treeA, dirtyA) = stamp(pathA)
    val (treeB, dirtyB) = stamp(pathB)
    val headTree = RepoStamp.srcTree()
    require(!dirtyA && !dirtyB,
      s"audit stamped from a DIRTY src/main tree (a=$dirtyA, b=$dirtyB) — " +
        "commit first, then regenerate the audit")
    // compare the MEASURED SURFACE of the stamped trees, not the raw
    // tree hashes: the stamp is a real git tree OID, so the gate can
    // ask git whether any file a query can EXECUTE differs between the
    // audit's tree and HEAD's — a gate-tooling or attribution edit
    // must not invalidate two hours of rungs, a one-line operator edit
    // must (see RepoStamp.measuredSurface)
    val headSurface = RepoStamp.measuredSurface(headTree)
    require(headSurface.isDefined, s"cannot resolve HEAD src/main tree $headTree")
    def surfaceOf(tree: String, path: String): String =
      RepoStamp.measuredSurface(tree).getOrElse(
        sys.error(s"$path stamps unknown tree $tree — not an OID of this repo"))
    require(surfaceOf(treeA, pathA) == headSurface.get &&
        surfaceOf(treeB, pathB) == headSurface.get,
      s"audit/HEAD measured-surface mismatch: a=$treeA b=$treeB HEAD=$headTree — " +
        "the audits predate the shipped plans; regenerate them " +
        "(VERDICT r11 #1: stale state columns are exactly how a " +
        "post-audit recalibration ships unmeasured)")
    val a = parse(pathA)
    val b = parse(pathB)
    val names = (a.keySet intersect b.keySet).toSeq.sorted
    require(names.nonEmpty, s"no common queries between $pathA and $pathB")
    // a query in only one audit means it THREW (or was skipped) at the
    // other scale — that is itself a scale failure, not a gap to skip
    val missing = (a.keySet union b.keySet) -- names.toSet
    require(missing.isEmpty,
      s"queries present in only one audit: ${missing.mkString(", ")}")

    val rows = names.map { n =>
      val Entry(sa, spillA, peakA, projA, rowsA, internalA) = a(n)
      val Entry(sb, spillB, peakB, projB, rowsB, internalB) = b(n)
      val ratio =
        if (sa <= 0.001) (if (sb <= 0.001) 1.0 else Double.PositiveInfinity)
        else math.round(sb / sa * 100) / 100.0
      val allow = allowList.get(n)
      // the `answers` rung bounds shuffle growth by max(default,
      // AnswerSlack x measured answer growth) wherever both audits
      // carry an answer column — shuffling less than the answer grows
      // is impossible, so past-default growth that tracks the answer
      // is the optimal shape, not a regression. A declared
      // internal-answer probe (`internal_rows`, VERDICT r11 #8) takes
      // precedence over output `rows`: d13's output is linear by
      // construction while the pair relation it mines is not
      val internal = internalA.isDefined && internalB.isDefined
      // exactly ONE side carrying internal_rows is a coverage mismatch
      // (stale or subset artifact, or a probe-only failure upstream) —
      // silently falling back to output rows would hand a declared
      // super-linear query a ~linear bound and fail the gate with no
      // visible cause (ADVICE r12). Fail loudly instead.
      require(internal || (internalA.isEmpty && internalB.isEmpty),
        s"$n: internal_rows present in only one audit " +
          s"(a=${internalA.isDefined}, b=${internalB.isDefined}) — " +
          "mismatched probe coverage; regenerate the older audit so both " +
          "rungs carry the internal-answer column")
      val (ansA, ansB) =
        if (internal) (internalA, internalB) else (rowsA, rowsB)
      val answerRatio = (ansA, ansB) match {
        case (Some(ra), Some(rb)) if ra > 0 && allowName == "answers" =>
          Some(math.round(rb.toDouble / ra * 100) / 100.0)
        case _ => None
      }
      val bound =
        if (allowName == "answers")
          answersBound(defaultBound, allow.map(_.bound), answerRatio)
        else allow.map(_.bound).getOrElse(defaultBound)
      val spillOk = spillA <= SpillLimitMb && spillB <= SpillLimitMb
      // the preventive state gate (VERDICT r10 #1): max single-task
      // sort/agg/hash-build state and its projection to AQE's 64 MB
      // advisory target, bounded at BOTH rungs wherever the audit
      // recorded them — the defect class this catches (d03 r9,
      // s03/a14 r9-r10, d12/g03/g04 r10) looked clean on shuffle
      // bytes at rung N and spilled multi-GB at rung N+1
      val stateOk = Seq(peakA, peakB).flatten.forall(_ <= StatePeakBudgetMb) &&
        Seq(projA, projB).flatten.forall(_ <= StateProjBudgetMb)
      val ok = (ratio <= bound || sb <= SpillLimitMb) && spillOk && stateOk
      (n, sa, sb, ratio, bound, allow.map(_.why), ok,
        (peakA, peakB, projA, projB, stateOk),
        answerRatio.map(r => (r, internal)))
    }
    val allOk = rows.forall(_._7)
    val unusedAllow = allowList.keySet -- names.toSet
    val body = rows.map { case (n, sa, sb, ratio, bound, why, ok, st, ansR) =>
      val boundStr = if (bound.isPosInfinity) "\"inf\"" else bound.toString
      val ratioStr2 = if (ratio.isPosInfinity) "\"inf\"" else ratio.toString
      val (peakA, peakB, projA, projB, stateOk) = st
      val stateStr = (peakA, peakB) match {
        case (Some(pa), Some(pb)) =>
          s""","peak_a_mb":$pa,"peak_b_mb":$pb""" +
            s""","proj_a_mb":${projA.getOrElse(0.0)},"proj_b_mb":${projB.getOrElse(0.0)}""" +
            s""","state_ok":$stateOk"""
        case _ => ""
      }
      val ansStr = ansR.map { case (r, internal) =>
        s""","answer_ratio":$r,"answer_source":"${if (internal) "internal" else "output"}""""
      }.getOrElse("")
      s""" "$n":{"a_mb":$sa,"b_mb":$sb,"shuffle_ratio":$ratioStr2,"bound":$boundStr,"ok":$ok""" +
        ansStr + stateStr + why.map(w => s""","attribution":"$w"""").getOrElse("") + "}"
    }.mkString(",\n")
    val json =
      s"""{
         | "note": "graft.ScaleCheck full-surface audit gate: task-view shuffle growth auditA->auditB within ${DefaultSlack}x data ratio (= $defaultBound) unless an ATTRIBUTED allowlist entry raises the bound; on the `answers` rung the bound also rises to ${AnswerSlack}x the measured answer-cardinality growth (rows column) — shuffling less than the answer grows is impossible, so answer-tracking growth is the optimal shape; B-side shuffle <= $SpillLimitMb MB passes as noise; task spill <= $SpillLimitMb MB at both scales always required. Where the audits carry the r11 state columns, max single-task sort/agg/hash-build state <= $StatePeakBudgetMb MB and its projection to AQE's 64 MB advisory target <= $StateProjBudgetMb MB at both rungs (the preventive gate for the class that spilled d03/s03/a14/d12/g03/g04 one rung after looking clean); REPARTITION_BY_NUM-fed nodes carry no projection — AQE's coalescer skips that origin, so the counterfactual cannot occur.",
         | "allowlist": "$allowName",
         | "auditA": "$pathA",
         | "auditB": "$pathB",
         | "src_tree": "$headTree",
         | "artifacts_match_head": true,
         | "data_ratio": $dataRatio,
         | "queries_covered": ${names.size},
         | "unused_allowlist_entries": [${unusedAllow.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}],
         | "all_ok": $allOk,
         |$body
         |}""".stripMargin
    Files.writeString(Paths.get(outPath), json + "\n")
    println(json)
    rows.filterNot(_._7).foreach { case (n, sa, sb, ratio, bound, _, _, _, _) =>
      System.err.println(s"[scalecheck] FAIL $n: $sa -> $sb MB (x$ratio, bound $bound)")
    }
    if (!allOk) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    require(args.headOption.contains("audits"),
      "usage: ScaleCheck audits <auditA.json> <auditB.json> <dataRatio> <out.json> <transition|postcap|answers>")
    auditGate(args.drop(1))
  }
}
