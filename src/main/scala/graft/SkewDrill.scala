package graft

import java.nio.file.{Files, Paths}

/** Skew-stress gate (VERDICT r10 "next round" #6): every scale rung
  * grows the corpus distribution-preservingly, but real corpora
  * sharpen their key heads as they grow. [[ScaleGen]]'s `skew` mode
  * imposes that sharpening at FIXED volume (25% of rows onto 64
  * log-uniform hot keys — the hottest customer/order/user/word
  * suddenly owns ~5% of the table); this drill runs the heaviest
  * join/agg consumers of the skewed keys on the base dir and the
  * skewed dir and gates MECHANISM HEALTH, not answer equality (the
  * answers legitimately differ — the corpus did):
  *
  *  - completes on the skewed corpus (no OOM, no exception);
  *  - max SINGLE-TASK in-memory state stays ≤ `peakBudgetMb` — the
  *    same bound [[MemAudit]] enforces on the unskewed rungs: a hot
  *    key must NOT re-concentrate a stage into one giant task (AQE
  *    skew-join splitting, map-side partial aggregation, and q33's
  *    explicit salt are the mechanisms under test);
  *  - spill stays ≤ `spillBudgetMb` per task (bounded degradation —
  *    an adversarial head may spill a little; it must not page
  *    gigabytes through disk);
  *  - wall ≤ `wallFactor`× the base-dir wall + 5 s slack (the skewed
  *    corpus has the same volume, so a hot task serializing a stage
  *    shows up directly as wall).
  *
  * A query over budget fails the gate until its mechanism is fixed.
  *
  * Usage: tools/jrun.sh graft.SkewDrill <baseDir> <skewDir> <out.json>
  *          [query...]
  */
object SkewDrill {

  private val PeakBudgetMb = 512.0
  private val SpillBudgetMb = 1024.0
  private val WallFactor = 3.0

  /** The heaviest consumers of the five skewed key families:
    * o_custkey (q03/q05), l_orderkey join multiplicity (q21, q33's
    * salted twin), user_id state (e01/e04), token/gram head
    * (t01/t14/d03/d04), and — VERDICT r11 #4 — the WINDOW key head
    * (q32/x25: o_orderpriority's hottest value carries ~40% of orders
    * after the skew redirect, so `Skew.distributionRanks`' adaptive
    * per-key shard count is under direct test) plus the graph family
    * whose degree distribution the token head sharpens (g01's wedge
    * exchanges, g08's k-core rounds). */
  private val DefaultQueries = Seq(
    "q03_top_revenue", "q05_semi_join", "q21_join5", "q33_salted_join",
    "e01_sessionize", "e04_user_profile", "t01_bigram_counts",
    "t14_heavy_hitters", "d03_ngram_jaccard", "d04_minhash_lsh",
    "q32_window_dist", "x25_curriculum", "g01_pagerank", "g08_kcore")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: SkewDrill <baseDir> <skewDir> <out.json> [query...]")
    val baseDir = args(0)
    val skewDir = args(1)
    val outPath = args(2)
    val names = if (args.length > 3) args.drop(3).toSeq else DefaultQueries
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")

    val spark = GraftSession.get("graft-skew-drill")

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, math.round((System.nanoTime() - t0) / 1e7) / 100.0)
    }

    // warm both dirs once (codegen, derived-cap memos, file listings)
    names.foreach { n =>
      System.err.println(s"[skewdrill] warm $n")
      try SparkEntry.queries(n)(spark, baseDir).queryExecution.toRdd.count()
      catch { case _: Throwable => () }
      try SparkEntry.queries(n)(spark, skewDir).queryExecution.toRdd.count()
      catch { case _: Throwable => () }
    }
    Bench.settle(spark, rounds = 2, sleepMs = 300)

    val rows = names.map { name =>
      System.err.println(s"[skewdrill] measure $name")
      Bench.settle(spark, rounds = 1, sleepMs = 200)
      val (_, baseWall) = timed(
        SparkEntry.queries(name)(spark, baseDir).queryExecution.toRdd.count())
      Bench.settle(spark, rounds = 1, sleepMs = 200)
      try {
        val (stats, skewWall) =
          timed(MemAudit.profile(spark, SparkEntry.queries(name), skewDir))
        val peak = stats.map(_.maxTaskPeakMb).maxOption.getOrElse(0.0)
        val spill = stats.map(_.spillMb).maxOption.getOrElse(0.0)
        val ok = peak <= PeakBudgetMb && spill <= SpillBudgetMb &&
          skewWall <= baseWall * WallFactor + 5.0
        (name, ok, Some((baseWall, skewWall, peak, spill)), None: Option[String])
      } catch {
        case t: Throwable =>
          (name, false, None, Some(t.getClass.getSimpleName))
      }
    }
    val allOk = rows.forall(_._2)
    val body = rows.map {
      case (n, ok, Some((bw, sw, peak, spill)), _) =>
        s""" "$n":{"ok":$ok,"base_wall_s":$bw,"skew_wall_s":$sw,""" +
          s""""max_task_peak_mb":$peak,"max_task_spill_mb":$spill}"""
      case (n, _, None, err) =>
        s""" "$n":{"ok":false,"error":"${err.getOrElse("unknown")}"}"""
    }.mkString(",\n")
    val json =
      s"""{
         | "note": "graft.SkewDrill: the heaviest join/agg consumers of the Zipf-sharpened keys (ScaleGen skew mode: ${ScaleGen.SkewFraction} of rows onto ${ScaleGen.SkewHotKeys} log-uniform hot keys at fixed volume) must complete with max single-task in-memory state <= ${PeakBudgetMb} MB, per-task spill <= ${SpillBudgetMb} MB, and wall <= ${WallFactor}x the base-dir wall + 5 s. Answers legitimately differ from base (the corpus did); the gate is mechanism health under an adversarial key head.",
         | "base_dir": "$baseDir",
         | "skew_dir": "$skewDir",
         | "peak_budget_mb": $PeakBudgetMb,
         | "spill_budget_mb": $SpillBudgetMb,
         | "wall_factor": $WallFactor,
         | "all_ok": $allOk,
         |$body
         |}""".stripMargin
    Files.writeString(Paths.get(outPath), json + "\n")
    println(json)
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
