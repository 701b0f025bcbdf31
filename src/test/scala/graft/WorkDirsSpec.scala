package graft

import java.nio.file.{Files, Paths}

/** The shared scratch resolver: conf precedence, digest tagging, and
  * the wipe contract that p03/p04/p06's sink round trips (and every
  * streaming drain) rely on. */
class WorkDirsSpec extends SparkSpec {

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("local mode with no conf falls back to java.io.tmpdir") {
    val p = WorkDirs.scratch(spark, "wd0", "/some/corpus")
    assert(p.toString.startsWith(
      new org.apache.hadoop.fs.Path(
        System.getProperty("java.io.tmpdir"), "x").getParent.toString))
    assert(p.getName.startsWith("graft_wd0_"))
  }

  test("spark.graft.workDir conf override lands (the cluster path)") {
    val root = Files.createTempDirectory("graft-wd").toString
    withConf(WorkDirs.WorkDirKey, root) {
      val p = WorkDirs.scratch(spark, "wd1", "/some/corpus")
      assert(p.getParent.toString.endsWith(root))
    }
  }

  test("workDir key wins over the checkpoint location") {
    val a = Files.createTempDirectory("graft-wa").toString
    val c = Files.createTempDirectory("graft-wc").toString
    withConf("spark.sql.streaming.checkpointLocation", c) {
      assert(WorkDirs.root(spark) == c)
      withConf(WorkDirs.WorkDirKey, a) {
        assert(WorkDirs.root(spark) == a)
      }
    }
  }

  test("scratch tags are full-digest and corpus-distinct") {
    val p1 = WorkDirs.scratch(spark, "wd2", "/corpus/one")
    val p2 = WorkDirs.scratch(spark, "wd2", "/corpus/two")
    assert(p1 != p2)
    // md5 hex = 32 chars; a 32-bit hashCode tag would be ≤ 8
    assert(p1.getName.length == "graft_wd2_".length + 32)
  }

  test("wipedScratch deletes pre-existing content") {
    val root = Files.createTempDirectory("graft-wipe").toString
    withConf(WorkDirs.WorkDirKey, root) {
      val p = WorkDirs.scratch(spark, "wd3", "/some/corpus")
      Files.createDirectories(Paths.get(p.toString))
      val stale = Paths.get(p.toString).resolve("stale.txt")
      Files.writeString(stale, "old run")
      val out = WorkDirs.wipedScratch(spark, "wd3", "/some/corpus")
      assert(out == p.toString)
      assert(!Files.exists(stale))
    }
  }
}
