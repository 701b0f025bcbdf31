package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")} — " +
        "a typo here would silently verify nothing")
    def selected(name: String): Boolean = only.isEmpty || only.contains(name)
    val spark = GraftSession.get("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Corpus invariant behind d04's oracle (ADVICE r11): LSH-with-
    // bucket-rehash equals the exact ≥0.5-Jaccard pair set only
    // because every ORGANIC candidate pair in this corpus is
    // high-Jaccard (J ≥ 0.9), where the 16-band miss probability stays
    // < 1e-6 even when a band bucket is split. That is a property of
    // the FIXTURE, not of the algorithm — so a regenerated corpus that
    // grows a mid-Jaccard (0.5 ≤ J < 0.9) organic pair must fail the
    // dump loudly here, not as a once-in-a-blue-moon d04 hash
    // mismatch. Costs one d03-shaped mining pass at verify scale.
    if (selected("d04_minhash_lsh")) {
      import org.apache.spark.sql.functions.col
      val d = Tables.load(spark, sfDir, "documents")
      val mid = graft.operators.Dedup.ngramJaccardPairs(d, "doc_id", "text",
          n = 3, minJaccard = 0.5,
          maxDf = graft.queries.DerivedCaps.maxDfFor(spark, sfDir),
          pairParts = graft.operators.PartitionSizing.parts(spark.sparkContext.defaultParallelism,
            graft.queries.DerivedCaps.miningBudgetFor(spark, sfDir).stateBytes),
          nDocs = graft.queries.DerivedCaps.tableCountFor(spark, sfDir, "documents"))
        .filter(col("jaccard") < 0.9)
        .select(col("a_id"), col("b_id"), col("jaccard"))
        .limit(5).collect()
      require(mid.isEmpty,
        "d04 oracle precondition violated: corpus has organic " +
          s"0.5 ≤ J < 0.9 pairs (e.g. ${mid.take(3).mkString("; ")}) — " +
          "the probabilistic band-collision bound no longer covers the " +
          "exact oracle; regenerate the fixture or re-derive d04's oracle")
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
