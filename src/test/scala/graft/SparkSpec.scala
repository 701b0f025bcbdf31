package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared single SparkSession for all specs (local JVM reuse keeps the
  * suite fast; parallel test suites all see the same session). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      // mirror GraftSession's wide-start/coalesce-down AQE posture so
      // specs exercise the deployed plan shapes
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // the optimizer rules every GraftSession carries (BandJoinRewrite
    // plans a02's band join), for the same reason
    GraftSession.installOptimizations(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  lazy val sfDir: String = "/root/testdata/sf0.001"
}
