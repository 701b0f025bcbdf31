package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.graftbridge.ListenerBusBridge

/** PREVENTIVE detector for the engine's one recurring scale-defect
  * class (VERDICT r10 "what's missing" #1): AQE sizes a post-shuffle
  * stage by COMPRESSED map-output bytes, while the per-task in-memory
  * sort/aggregate state those bytes decompress into is typically
  * 5–15× larger. Six queries over three rounds (d03, s03, a14, d12,
  * g03, g04) hid the same mechanism until a bigger scale rung made it
  * spill multi-GB; every fix was a pinned, cost-model-sized exchange.
  * This audit flags the mechanism BEFORE the spill exists.
  *
  * For every executed-plan node that reports a `peakMemory` SQL metric
  * (SortExec, HashAggregateExec, ObjectHashAggregateExec, WindowExec,
  * …) plus ShuffledHashJoin's `buildDataSize`, it records from the
  * task-end accumulator stream:
  *
  *  - `max_task_peak_mb`  — the LARGEST single-task in-memory state
  *    (the per-task `update` of the peakMemory accumulator, maxed over
  *    tasks — the summed metric the plan exposes hides per-task size);
  *  - `tasks`             — how many tasks updated it;
  *  - `input_mb_per_task` — compressed map-output bytes of the nearest
  *    descendant shuffle ÷ tasks (what AQE's coalescing actually sees);
  *  - `ampl`              — max_task_peak / input_per_task: the
  *    decompress-and-build amplification AQE is blind to;
  *  - `projected_mb`      — ampl × the 64 MB advisory target: the
  *    per-task state this stage will hold at whatever scale AQE starts
  *    coalescing to its byte target. THE gate value: it extrapolates
  *    the defect to the rung where it would first bite, from a run at
  *    a rung where nothing spills yet.
  *
  * Gate: every node's `max_task_peak_mb` ≤ peakBudget AND (when
  * shuffle-fed) `projected_mb` ≤ projBudget; a query over budget fails
  * until its state is fixed. Scan-fed sorts have no shuffle input; they
  * gate on the absolute peak only (file splits are byte-bounded by
  * maxPartitionBytes, so their state scales with split size, not SF).
  *
  * [[TaskAccum]] and [[probe]] are the one task listener every
  * measurement main reads ([[ShuffleAudit.measure]], [[profile]], and
  * through them the drills).
  *
  * Usage: tools/jrun.sh graft.MemAudit <sfDir> <out.json>
  *          [peakBudgetMb] [projBudgetMb] [query...]
  */
object MemAudit {

  /** AQE's advisory post-shuffle partition target (bytes): the size
    * every exchange trends to once data outgrows the partition count,
    * hence the basis for projecting per-task state at scale. */
  private val AdvisoryBytes = 64.0 * 1024 * 1024

  private val DefaultPeakBudgetMb = 512.0
  private val DefaultProjBudgetMb = 1024.0

  /** Amplification is only computed when the feeding shuffle delivers
    * at least this much compressed input per task: below it, the
    * allocator's page-granularity minimum (a near-empty sort still
    * reserves a ~16 MB page) dominates the measured peak and the
    * ratio extrapolates an artifact, not a defect (measured at sf0.1:
    * 0.15 MB in / 16.25 MB "peak" = a fake 111x). The audit's home
    * rung is sf10, where every real sort/agg stage clears the floor. */
  private val AmplInputFloorBytes = 4.0 * 1024 * 1024

  /** The task listener of the measurement mains: over every task that
    * ends while it is registered — every job the query runs, iteration
    * rounds, micro-batches and subqueries included — it sums
    * shuffle-write and spill bytes, and keeps the max and count of
    * per-task accumulator updates by accumulator id. Read it through
    * [[probe]], which drains the listener bus first. */
  private[graft] final class TaskAccum extends SparkListener {
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    val diskSpill = new AtomicLong
    val maxTaskDiskSpill = new AtomicLong
    val maxUpd = new ConcurrentHashMap[Long, Long]()
    val cntUpd = new ConcurrentHashMap[Long, Long]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        // `spill` keeps the historical mem+disk sum (both views of the
        // same spilled data — a DOUBLE COUNT, kept for artifact
        // continuity); `diskSpill` is the actual I/O written, the
        // number a degradation bound should be stated in (the r13
        // spill drill's first execution showed the summed view
        // tripping an 8 GB cap at ~2.2 GB of real disk writes)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        maxTaskDiskSpill.accumulateAndGet(m.diskBytesSpilled, math.max(_, _))
      }
      val info = t.taskInfo
      if (info != null) info.accumulables.foreach { a =>
        a.update.foreach {
          case l: java.lang.Long =>
            maxUpd.merge(a.id, l.longValue, (x, y) => math.max(x, y))
            cntUpd.merge(a.id, 1L, (x, y) => x + y)
          case _ => ()
        }
      }
    }
  }

  /** Runs `body` with a fresh [[TaskAccum]] registered. The listener bus
    * is drained before registering, so late events of earlier work stay
    * out, and again before returning, so every task `body` ran is
    * counted when the caller reads the probe. */
  private[graft] def probe[T](spark: SparkSession)(body: => T): (T, TaskAccum) = {
    val sc = spark.sparkContext
    val acc = new TaskAccum
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(acc)
    try {
      val r = body
      ListenerBusBridge.drain(sc)
      (r, acc)
    } finally sc.removeSparkListener(acc)
  }

  /** Every node of an executed plan, descending through AQE wrappers
    * and subqueries; a ReusedExchange's subtree is NOT re-entered (its
    * bytes were counted at the original exchange). */
  private[graft] def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case q: QueryStageExec => p +: flatten(q.plan)
      case _: ReusedExchangeExec => Seq(p)
      case _ => p +: p.children.flatMap(flatten)
    }
    self ++ p.subqueries.flatMap(flatten)
  }

  /** The nearest descendant shuffle (BFS through children, descending
    * into AQE wrappers), or None when the node is scan-fed. */
  private def feedingShuffle(p: SparkPlan): Option[ShuffleExchangeLike] = {
    def unwrap(n: SparkPlan): SparkPlan = n match {
      case q: QueryStageExec => q.plan
      case r: AQEShuffleReadExec => r.child
      case _ => n
    }
    var frontier: Seq[SparkPlan] = p.children.map(unwrap)
    var guard = 0
    while (frontier.nonEmpty && guard < 64) {
      frontier.collectFirst {
        case e: ShuffleExchangeLike => e
        case r: ReusedExchangeExec if r.child.isInstanceOf[ShuffleExchangeLike] =>
          r.child.asInstanceOf[ShuffleExchangeLike]
      } match {
        case Some(e) => return Some(e)
        case None =>
          frontier = frontier.flatMap {
            // a deeper shuffle feeds a DIFFERENT pipeline; stop at
            // exchanges (handled above) but keep walking everything else
            case _: ShuffleExchangeLike | _: ReusedExchangeExec => Nil
            case n => n.children.map(unwrap)
          }
      }
      guard += 1
    }
    None
  }

  private[graft] final case class NodeStat(node: String, maxTaskPeakMb: Double,
      tasks: Long, inputMbPerTask: Option[Double], ampl: Option[Double],
      projectedMb: Option[Double], spillMb: Double)

  private[graft] def mb(v: Double): Double = math.round(v / 1048.576) / 1000.0

  /** The per-node state profile of an EXECUTED plan, read against the
    * per-task accumulator maxima `acc` collected while it ran — shared
    * by [[profile]] and [[ShuffleAudit.measure]]'s merged pass. */
  private[graft] def statsFrom(acc: TaskAccum, plan: SparkPlan): Seq[NodeStat] = {
    flatten(plan).flatMap { n =>
      val peakMetric = n.metrics.get("peakMemory")
        .orElse(n.metrics.get("buildDataSize"))
      peakMetric.flatMap { m =>
        val maxPeak = Option(acc.maxUpd.get(m.id)).map(_.longValue).getOrElse(0L)
        val tasks = Option(acc.cntUpd.get(m.id)).map(_.longValue).getOrElse(0L)
        if (maxPeak <= 0 || tasks <= 0) None
        else {
          val feed = feedingShuffle(n)
          val inBytes = feed.flatMap(
            _.metrics.get("shuffleBytesWritten").map(_.value).filter(_ > 0))
          val inPerTask = inBytes.map(_.toDouble / tasks)
          val ampl = inPerTask.filter(_ >= AmplInputFloorBytes).map(maxPeak / _)
          // The projection extrapolates what AQE's 64 MB advisory
          // coalescing would do to this node's state — meaningless for
          // a REPARTITION_BY_NUM-fed node: AQE's coalescer skips that
          // origin by Spark's own semantics, which is exactly why the
          // cost-model pins (MiningBudget.pairParts, gramPartsFor,
          // gapFillGridPartsFor) use explicit-N repartitions. Pinned
          // nodes stay under the direct peak budget and the per-rung
          // state gates; only AQE-sizable exchanges get the
          // counterfactual. (Found in r14: the r13 widths hid the pair
          // agg's 19.7x amplification under the input floor — 6.5 MB
          // in / 128 MB peak at the recalibrated width projected
          // 1261 MB that no schedule can produce.)
          val pinned = feed.exists(_.shuffleOrigin == REPARTITION_BY_NUM)
          val proj = if (pinned) None else ampl.map(a => mb(a * AdvisoryBytes))
          val spill = n.metrics.get("spillSize").map(_.value).filter(_ > 0).getOrElse(0L)
          Some(NodeStat(n.nodeName, mb(maxPeak.toDouble), tasks,
            inPerTask.map(mb), ampl.map(a => math.round(a * 100) / 100.0),
            proj, mb(spill.toDouble)))
        }
      }
    }.sortBy(-_.maxTaskPeakMb)
  }

  /** Runs `fn` once and returns the per-node state profile of every
    * memory-holding node in its final adaptive plan. */
  private[graft] def profile(spark: SparkSession,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String): Seq[NodeStat] = {
    val (df, acc) = probe(spark) {
      val df = fn(spark, sfDir)
      df.queryExecution.toRdd.count()
      df
    }
    statsFrom(acc, df.queryExecution.executedPlan)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: MemAudit <sfDir> <out.json> [peakBudgetMb] [projBudgetMb] [query...]")
    val sfDir = args(0)
    val outPath = args(1)
    val peakBudget = if (args.length > 2) args(2).toDouble else DefaultPeakBudgetMb
    val projBudget = if (args.length > 3) args(3).toDouble else DefaultProjBudgetMb
    val only = args.drop(4).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")

    val spark = GraftSession.get("graft-mem-audit")

    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
    ordered.foreach { case (name, fn) =>
      System.err.println(s"[memaudit] warm $name")
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
    }
    Bench.settle(spark, rounds = 2, sleepMs = 300)

    val rows = ordered.flatMap { case (name, fn) =>
      System.err.println(s"[memaudit] measure $name")
      Bench.settle(spark, rounds = 1, sleepMs = 200)
      try Some(name -> profile(spark, fn, sfDir))
      catch { case t: Throwable =>
        System.err.println(s"[memaudit] FAILED $name: ${t.getClass.getSimpleName}")
        None
      }
    }

    def fmtNode(s: NodeStat): String = {
      val opt = List(
        s.inputMbPerTask.map(v => s""""input_mb_per_task":$v"""),
        s.ampl.map(v => s""""ampl":$v"""),
        s.projectedMb.map(v => s""""projected_mb":$v""")).flatten
      (List(s""""node":"${s.node}"""", s""""max_task_peak_mb":${s.maxTaskPeakMb}""",
        s""""tasks":${s.tasks}""") ++ opt ++
        (if (s.spillMb > 0) List(s""""spill_mb":${s.spillMb}""") else Nil))
        .mkString("{", ",", "}")
    }
    val gated = rows.map { case (name, stats) =>
      val worstPeak = stats.map(_.maxTaskPeakMb).maxOption.getOrElse(0.0)
      val worstProj = stats.flatMap(_.projectedMb).maxOption.getOrElse(0.0)
      (name, stats, worstPeak, worstProj, worstPeak <= peakBudget && worstProj <= projBudget)
    }
    val allOk = gated.forall(_._5)
    val body = gated.map { case (name, stats, wp, wj, ok) =>
      // top offenders only: the full node list would bury the signal
      val top = stats.take(4).map(fmtNode).mkString("[", ",", "]")
      s""" "$name":{"worst_peak_mb":$wp,"worst_projected_mb":$wj,"ok":$ok,"top":$top}"""
    }.mkString(",\n")
    val json =
      s"""{
         | "note": "graft.MemAudit preventive state-size gate: for every sort/agg/hash-build node, max SINGLE-TASK in-memory state (peakMemory accumulator update, maxed over tasks) must stay <= ${peakBudget} MB, and its projection to AQE's 64 MB advisory coalescing target (ampl x 64 MB, where ampl = max task peak / compressed shuffle input per task) <= ${projBudget} MB — the class that spilled d03/s03/a14/d12/g03/g04 at the NEXT rung while this rung looked clean. Nodes fed by a REPARTITION_BY_NUM exchange carry no projection: AQE's coalescer skips that origin, so the counterfactual cannot occur (the direct peak budget and the per-rung state gates still apply).",
         | "sf_dir": "$sfDir",
         | "peak_budget_mb": $peakBudget,
         | "projected_budget_mb": $projBudget,
         | "queries_covered": ${gated.size},
         | "all_ok": $allOk,
         |$body
         |}""".stripMargin
    Files.writeString(Paths.get(outPath), json + "\n")
    println(json)
    gated.filterNot(_._5).foreach { case (n, _, wp, wj, _) =>
      System.err.println(f"[memaudit] FAIL $n: peak $wp%.1f MB, projected $wj%.1f MB")
    }
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
