package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

/** Shuffle/spill audit: runs each query once (after a warm pass) and
  * reports its shuffle/spill volume TWO ways.
  *
  *  - `shuffle_mb`/`spill_mb`: summed SQL metrics of the returned
  *    frame's EXECUTED plan. Walking the AQE-final plan attributes
  *    bytes to the plan precisely and counts a ReusedExchange's child
  *    only once — the per-exchange view PLANS.md's shapes are pinned
  *    against. Blind spot: it sees ONE QueryExecution, so work an
  *    operator materializes internally (the per-round joins of
  *    d07/g01/g02, every streaming micro-batch of e05/e06/…) is
  *    invisible (VERDICT r06 task #6).
  *  - `task_shuffle_mb`/`task_spill_mb`: [[MemAudit.probe]]'s task
  *    listener summing task metrics across EVERY job the query ran
  *    between start and finish — checkpoint materializations, iteration
  *    rounds, micro-batches, subqueries, all of it. Coarser attribution
  *    (anything concurrent would land in the same bucket; the audit
  *    runs queries strictly serially so there isn't), complete coverage.
  *
  * A large task/plan gap is itself the finding: it measures exactly
  * the internally-materialized dataflow the plan view cannot see.
  *
  * Since r11 each entry also carries the per-task STATE columns
  * (`max_task_peak_mb`, `max_task_projected_mb` — see
  * [[ShuffleAudit.measure]]), captured in the same pass and gated by
  * `ScaleCheck audits` at every rung.
  *
  * Usage: tools/jrun.sh graft.ShuffleAudit [sfDir] [query...]
  * Prints one JSON line:
  * {"query":{"shuffle_mb":x,"spill_mb":y,"task_shuffle_mb":z,"task_spill_mb":w,
  *  "max_task_peak_mb":p,"max_task_projected_mb":j,"rows":n},...}
  * — `rows` (since the sf80 rung) is the answer cardinality, letting
  * `ScaleCheck audits … answers` bound shuffle growth against ANSWER
  * growth on corpora whose true result grows super-linearly.
  */
object ShuffleAudit {

  /** Internal-answer probes (VERDICT r11 #8): a query whose OUTPUT is
    * linear by construction but which materializes a super-linear
    * answer internally declares a probe here; the audit emits its
    * count as `internal_rows`, and the `answers` gate bounds shuffle
    * growth by the measured growth of whichever answer column is
    * present — a bound DERIVED per corpus instead of a hand-pinned
    * constant. The probe runs AFTER the measured pass, outside the
    * task probe, so it never pollutes the metrics. */
  private val internalAnswer: Map[String, (SparkSession, String) => Long] = Map(
    // d13 emits one row per vector (linear) but mines s03's near-dup
    // pair relation before collapsing it to components — THAT is the
    // answer its shuffle must be allowed to track
    "d13_semantic_clusters" -> ((s, dir) =>
      graft.queries.DedupQueries.d13InternalPairs(s, dir).count()))

  private def sumMetric(nodes: Seq[SparkPlan], key: String): Long =
    nodes.flatMap(_.metrics.get(key)).map(_.value).filter(_ > 0).sum

  /** One measured execution of `fn(spark, sfDir)` (caller warms
    * first): wall seconds, plan-view shuffle/spill MB, task-view
    * shuffle/spill MB, and the per-task STATE columns (VERDICT r10
    * #1 — the preventive detector for the AQE compressed-bytes-vs-
    * in-memory-state blind spot, measured by [[MemAudit.statsFrom]]
    * in the same pass): `maxTaskPeakMb` = largest single-task
    * in-memory sort/agg/hash-build state, `maxProjectedMb` = that
    * state extrapolated to AQE's 64 MB advisory coalescing target.
    * The task view sums EVERY job the query runs — iteration rounds,
    * micro-batches, subqueries — which the plan view cannot see. */
  private[graft] final case class Measured(wallSec: Double, shuffleMb: Double,
      spillMb: Double, taskShuffleMb: Double, taskSpillMb: Double,
      taskDiskSpillMb: Double, maxTaskDiskSpillMb: Double,
      maxTaskPeakMb: Double, maxProjectedMb: Double, rows: Long)

  private[graft] def measure(spark: SparkSession,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String): Measured = {
    val ((df, outRows, wall), acc) = MemAudit.probe(spark) {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      // execute THIS QueryExecution (df.count() would plan a separate
      // aggregate execution and leave these metrics untouched). The
      // returned count IS the query's answer cardinality — recorded so
      // ScaleCheck's `answers` rung can bound shuffle growth against
      // ANSWER growth (a pair-mining query whose duplicate clusters
      // double per rung emits ~4x the pairs; no algorithm shuffles
      // less than its output).
      val n = df.queryExecution.toRdd.count()
      (df, n, (System.nanoTime() - t0) / 1e9)
    }
    val plan = df.queryExecution.executedPlan
    val nodes = MemAudit.flatten(plan)
    val stats = MemAudit.statsFrom(acc, plan)
    import MemAudit.mb
    Measured(math.round(wall * 1000) / 1000.0,
      mb(sumMetric(nodes, "shuffleBytesWritten")), mb(sumMetric(nodes, "spillSize")),
      mb(acc.shuffleWrite.get), mb(acc.spill.get), mb(acc.diskSpill.get),
      mb(acc.maxTaskDiskSpill.get),
      stats.map(_.maxTaskPeakMb).maxOption.getOrElse(0.0),
      stats.flatMap(_.projectedMb).maxOption.getOrElse(0.0), outRows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val only = args.drop(1).toSet
    val spark = GraftSession.get("graft-shuffle-audit")
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    // Planted-offset invariant (ADVICE r12): the planted-copy corpora
    // (d04/d13/s/g/p families) shift copies to id + Planted.Off; an
    // organic id at or past the offset silently gives those corpora
    // two distinct rows per id and skews every measurement built on
    // them. One cheap max() per id table, OUTSIDE the measured region.
    for ((table, idCol) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id")) {
      val maxId = Option(Tables.load(spark, sfDir, table)
        .agg(org.apache.spark.sql.functions.max(idCol)).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(Long.MinValue)
      require(maxId < graft.queries.Planted.Off,
        s"planted-offset invariant violated: max($table.$idCol) = $maxId " +
          s">= Planted.Off (${graft.queries.Planted.Off}) — planted-copy " +
          "ids would collide with organic ids; raise Planted.Off (and the " +
          "oracle literals) before auditing this corpus")
    }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
    // one warm pass: codegen, file listing, memo fits. Progress goes
    // to stderr so a fatal executor OOM names its query (an Executor
    // OOM exits the JVM — the per-query catch cannot attribute it).
    ordered.foreach { case (name, fn) =>
      System.err.println(s"[audit] warm $name")
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
    }
    // settle between measured queries (Bench's discipline): the warm
    // pass and each heavy query leave ContextCleaner debt — broadcast
    // and checkpoint blocks whose async cleanup otherwise lands as
    // MEMORY PRESSURE inside the next query's measured region. The r10
    // sf20 ladder measured the damage as attribution noise: g04
    // "spilled" 10.2 GB in the back-to-back audit but 0 in isolation.
    Bench.settle(spark, rounds = 2, sleepMs = 300)
    val rows = ordered.flatMap { case (name, fn) =>
      System.err.println(s"[audit] measure $name")
      Bench.settle(spark, rounds = 1, sleepMs = 200)
      try {
        val m = measure(spark, fn, sfDir)
        // internal-answer probe AFTER the measured pass (never inside
        // the task probe) — see `internalAnswer`. Its OWN try (ADVICE
        // r12): a probe-only failure must not drop the measured row —
        // that would surface downstream as a misleading "present in
        // only one audit" ScaleCheck error instead of naming the probe.
        val internal = internalAnswer.get(name).flatMap { f =>
          try Some(f(spark, sfDir))
          catch {
            case t: Throwable =>
              System.err.println(s"[audit] internal-answer probe for " +
                s"$name failed (${t.getClass.getSimpleName}): row emitted " +
                "without internal_rows")
              None
          }
        }
        Some((name, m, internal))
      } catch { case _: Throwable => None }
    }
    val line = rows
      .map { case (n, m, internal) =>
        s""""$n":{"shuffle_mb":${m.shuffleMb},"spill_mb":${m.spillMb},""" +
          s""""task_shuffle_mb":${m.taskShuffleMb},"task_spill_mb":${m.taskSpillMb},""" +
          s""""max_task_peak_mb":${m.maxTaskPeakMb},"max_task_projected_mb":${m.maxProjectedMb},""" +
          s""""rows":${m.rows}""" +
          internal.map(v => s""","internal_rows":$v""").getOrElse("") + "}"
      }
      .mkString(",")
    println("{" + RepoStamp.metaJson(s""","sf_dir":"$sfDir"""") +
      (if (line.nonEmpty) "," else "") + line + "}")
    spark.stop()
  }
}
