package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.BigramCounts
import graft.functions.TextFunctions.tokenize
import graft.operators.Bigrams

/** Result and plan checks for the text queries that count token pairs
  * (t19, t23) on the in-mapper pair kernel, against plain-Scala
  * references at sf0.001. */
class TextQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("t23 matches a sequential window-pair reference at sf0.001") {
    // the one materialized counts table must hold the unigram rows and
    // only the pairs its consumers read (c >= 30), not the whole pair table
    var checkpointed = Seq.empty[(Long, Long, Long)]
    graft.operators.Checkpoints.faultHook.set { df =>
      checkpointed :+= ((df.filter($"w2".isNull).count(),
        df.filter($"w2".isNotNull && $"c" >= 30).count(),
        df.filter($"w2".isNotNull && $"c" < 30).count()))
    }
    val got = try SparkEntry.queries("t23_window_pmi")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    finally graft.operators.Checkpoints.faultHook.set((_: org.apache.spark.sql.DataFrame) => ())
    assert(checkpointed.size == 1, s"t23 materialized ${checkpointed.size} frames")
    val (uniRows, keptPairs, thinPairs) = checkpointed.head
    assert(uniRows > 0 && keptPairs == got.size.toLong)
    assert(thinPairs == 0, s"checkpoint holds $thinPairs pairs below the c >= 30 threshold")
    val pos = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", posexplode(graft.functions.TextFunctions.tokenize($"text"))
        .as(Seq("i", "w")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val byDoc = pos.groupBy(_._1)
    val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
    byDoc.values.foreach { rows =>
      val arr = rows.sortBy(_._2).map(_._3)
      for (i <- arr.indices; j <- (i + 1) to math.min(i + 3, arr.length - 1))
        pairCounts((arr(i), arr(j))) =
          pairCounts.getOrElse((arr(i), arr(j)), 0L) + 1L
    }
    val uni = pos.groupBy(_._3).map { case (w, o) => w -> o.size.toLong }
    val ntok = pos.length.toLong
    val ref = pairCounts.filter(_._2 >= 30).map { case ((w1, w2), c12) =>
      (w1, w2) -> ((c12, c12 * 1000000L * ntok / (uni(w1) * uni(w2))))
    }.toMap
    assert(got.keySet == ref.keySet)
    ref.foreach { case (k, v) => assert(got(k) == v, s"pair $k") }
  }

  test("t19 matches a sequential adjacent-pair reference at sf0.001") {
    // the one materialized counts table holds the unigram rows and only
    // the pairs at or above t19's support threshold (c >= 20)
    var checkpointed = Seq.empty[(Long, Long, Long)]
    graft.operators.Checkpoints.faultHook.set { df =>
      checkpointed :+= ((df.filter($"w2".isNull).count(),
        df.filter($"w2".isNotNull && $"c" >= 20).count(),
        df.filter($"w2".isNotNull && $"c" < 20).count()))
    }
    val got = try SparkEntry.queries("t19_collocations")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    finally graft.operators.Checkpoints.faultHook.set((_: org.apache.spark.sql.DataFrame) => ())
    assert(checkpointed.size == 1, s"t19 materialized ${checkpointed.size} frames")
    val (uniRows, keptPairs, thinPairs) = checkpointed.head
    assert(uniRows > 0 && keptPairs == got.size.toLong)
    assert(thinPairs == 0, s"checkpoint holds $thinPairs pairs below the c >= 20 threshold")
    val docs = Tables.load(spark, sfDir, "documents")
      .select(tokenize($"text")).as[Seq[String]].collect()
    val pairs = docs.flatMap(t => t.zip(t.drop(1))).groupBy(identity)
      .map { case (k, o) => k -> o.length.toLong }
    val uni = docs.flatten.groupBy(identity).map { case (w, o) => w -> o.length.toLong }
    val ntok = docs.map(_.length.toLong).sum
    val ref = pairs.filter(_._2 >= 20).map { case ((w1, w2), c12) =>
      val lift = c12.toDouble * ntok / (uni(w1).toDouble * uni(w2).toDouble)
      (w1, w2) -> ((c12, BigDecimal(lift).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    assert(ref.nonEmpty)
    assert(got.keySet == ref.keySet)
    ref.foreach { case (k, v) => assert(got(k) == v, s"pair $k") }
  }

  /** A plan's nodes; a reused exchange counts once, at its first use. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: nodes(a.executedPlan)
    case q: QueryStageExec => p +: nodes(q.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** Every node of every plan executed while `run` runs: the
    * materialization's as well as the final action's. */
  private def executed(run: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusBridge.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { run; ListenerBusBridge.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq.flatMap(nodes)
  }

  private def documentScans(ns: Seq[SparkPlan]): Int = ns.count {
    case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.contains("documents"))
    case _ => false
  }

  test("t19 reads documents once and t23 runs one Generate; counts keeps one bigram_counts and one Exchange") {
    val t19 = executed(SparkEntry.queries("t19_collocations")(spark, sfDir).collect())
    assert(documentScans(t19) == 1, t19.head.treeString)
    assert(t19.count(_.isInstanceOf[GenerateExec]) == 1, t19.head.treeString)
    val t23 = executed(SparkEntry.queries("t23_window_pmi")(spark, sfDir).collect())
    assert(documentScans(t23) == 1, t23.head.treeString)
    assert(t23.count(_.isInstanceOf[GenerateExec]) == 1, t23.head.treeString)
    val counts = Bigrams.counts(Tables.load(spark, sfDir, "documents").select($"text".as("value")))
    counts.collect()
    val plan = nodes(counts.queryExecution.executedPlan)
    val kernels = plan.collect { case g: GenerateExec => g.generator }
      .map { case b: BigramCounts => (b.window, b.unigrams); case g => g.prettyName }
    assert(kernels == Seq((1, false)), plan.head.treeString)
    assert(plan.count(_.isInstanceOf[ShuffleExchangeExec]) == 1, plan.head.treeString)
  }
}
