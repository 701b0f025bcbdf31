package graft

/** Plan inspection + micro-profiling CLI.
  *
  * Usage: graft.Explain <sfDir> [queryName ...]
  * Each queryName is a [[SparkEntry.queries]] key. For each query: two
  * timed runs (cold incl. codegen, then warm) and the formatted
  * physical plan. No query names → all queries, timings only.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.get("graft-explain")
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      def timed(): Double = {
        val t0 = System.nanoTime(); fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9
      }
      val cold = timed()
      Bench.settle(spark, rounds = 1, sleepMs = 150)
      val warm = timed()
      println(f"== $name%-28s cold=$cold%7.2fs warm=$warm%7.2fs")
      if (args.length > 1) {
        // execute THIS QueryExecution first, then print its FINAL
        // adaptive plan: ReusedExchange / AQE join rewrites only exist
        // after execution (the pre-run print says isFinalPlan=false
        // and hides exactly the properties worth auditing)
        val df = fn(spark, sfDir)
        df.collect()
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
  }
}
