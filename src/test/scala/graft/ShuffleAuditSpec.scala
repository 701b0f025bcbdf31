package graft

import org.apache.spark.sql.SparkSession

/** `ShuffleAudit.measure`'s two views of shuffle volume, read straight
  * after the action returns: the plan view sums the returned frame's
  * executed exchanges, the task view every task of every job the query
  * ran. They agree on a query that runs in one plan, and the task view
  * is larger when the query materializes work before the frame it
  * returns. */
class ShuffleAuditSpec extends SparkSpec {

  private val n = 200000L

  test("a single-plan query: task view equals plan view, rows is the answer count") {
    val fn = (s: SparkSession, _: String) => s.range(0, n, 1, 4).repartition(8).toDF()
    val m = ShuffleAudit.measure(spark, fn, sfDir)
    assert(m.shuffleMb > 0, s"no shuffle measured: $m")
    assert(m.taskShuffleMb == m.shuffleMb, s"task view != plan view: $m")
    assert(m.rows == n)
  }

  test("a checkpoint before the aggregate: the task view sees the extra job") {
    val fn = (s: SparkSession, _: String) => {
      import s.implicits._
      s.range(0, n, 1, 4).repartition(8).localCheckpoint()
        .groupBy(($"id" % 7).as("g")).count()
    }
    val m = ShuffleAudit.measure(spark, fn, sfDir)
    assert(m.taskShuffleMb > m.shuffleMb, s"checkpoint job's shuffle not in the task view: $m")
    assert(m.rows == 7)
  }
}
