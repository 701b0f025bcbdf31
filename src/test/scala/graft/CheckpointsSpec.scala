package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, ConnectedComponents, Graphs}

/** The materialization medium switch behind the iterative operators:
  * executor-local blocks by default, reliable shared-FS checkpoints
  * when `spark.graft.checkpointDir` is set — results identical either
  * way (VERDICT r06 task #3: executor loss mid-iteration must have a
  * recovery story on a real cluster). */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def edges: DataFrame =
    Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 8L)).toDF("a", "b")

  private def verts: DataFrame =
    (1L to 9L).toDF("id")

  private def withReliable[T](body: String => T): T = {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Checkpoints.CheckpointDirKey, dir)
    try body(dir)
    finally {
      spark.conf.unset(Checkpoints.CheckpointDirKey)
      // drop the context-level dir too, or every later materialize in
      // the shared test session would silently stay on the reliable
      // path (getCheckpointDir remains defined once set)
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("default path stays local: no checkpoint files are written") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val m = Checkpoints.materialize(edges)
    assert(m.count() == 4)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    Checkpoints.free(m)
  }

  test("conf-gated reliable path writes checkpoint files and results match") {
    val local = ConnectedComponents
      .components(edges, "a", "b", verts, "id")
      .orderBy("id").collect().toSeq
    val localRank = Graphs
      .pageRank(edges, "a", "b", verts, "id", iterations = 3)
      .orderBy("id").collect().toSeq
    withReliable { dir =>
      val reliable = ConnectedComponents
        .components(edges, "a", "b", verts, "id")
        .orderBy("id").collect().toSeq
      assert(reliable == local)
      val reliableRank = Graphs
        .pageRank(edges, "a", "b", verts, "id", iterations = 3)
        .orderBy("id").collect().toSeq
      assert(reliableRank == localRank)
      // the medium really was the shared dir: setCheckpointDir minted
      // a UUID subdir and the operators wrote rdd-* trees under it
      val sub = new java.io.File(dir).listFiles()
      assert(sub != null && sub.nonEmpty, s"no checkpoint subdir under $dir")
      val rdds = sub.flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .filter(_.getName.startsWith("rdd-"))
      assert(rdds.nonEmpty, s"no rdd-* checkpoints under $dir")
    }
  }

  /** Simulated executor loss: drop EVERY persisted RDD's blocks,
    * blocking so the removal lands before the next iteration round
    * reads them — what a dead executor does to everything it cached
    * (localCheckpoint blocks included). Returns how many RDDs were
    * hit. */
  private def killAllBlocks(): Int = {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.values.toSeq
    persisted.foreach(_.unpersist(blocking = true))
    persisted.size
  }

  test("executor-loss drill: reliable run survives block loss after every round") {
    // VERDICT r07 task #7 — prove the conf'd reliable path, don't just
    // exercise it: the fault hook fires after EVERY materialization
    // (so between iteration rounds), killing all cached blocks the way
    // a lost executor would. The reliable run must then re-read its
    // checkpoint FILES (shared storage on a real cluster) and finish
    // with results identical to the undisturbed run — on the driver
    // queries themselves (d07 dup components, g01 pagerank), not a toy
    // graph.
    val dir = "/root/testdata/sf0.001"
    val baseD07 = SparkEntry.queries("d07_dup_components")(spark, dir).collect().toSeq
    val baseG01 = SparkEntry.queries("g01_pagerank")(spark, dir).collect().toSeq
    assert(baseD07.nonEmpty && baseG01.nonEmpty)
    var fired = 0
    Checkpoints.faultHook.set { _ =>
      fired += 1
      killAllBlocks()
      ()
    }
    try withReliable { _ =>
      val d07 = SparkEntry.queries("d07_dup_components")(spark, dir).collect().toSeq
      val g01 = SparkEntry.queries("g01_pagerank")(spark, dir).collect().toSeq
      assert(fired >= 2, s"fault hook fired only $fired times — not mid-iteration")
      assert(d07 == baseD07, "d07 drifted under block loss on the reliable path")
      assert(g01 == baseG01, "g01 drifted under block loss on the reliable path")
    } finally Checkpoints.faultHook.set((_: org.apache.spark.sql.DataFrame) => ())
  }

  test("session-level setCheckpointDir alone (no graft conf) also selects reliable") {
    val dir = Files.createTempDirectory("graft-ckpt2").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val m = Checkpoints.materialize(edges.filter(col("a") =!= 8))
      assert(m.count() == 3)
      val sub = new java.io.File(dir).listFiles()
      assert(sub != null &&
        sub.exists(d => Option(d.listFiles()).exists(_.exists(_.getName.startsWith("rdd-")))))
    } finally spark.sparkContext.setCheckpointDir(null)
  }
}
