package graft

import org.apache.spark.sql.functions._

import graft.operators.Graphs

/** Round-7 additions part g: streaming exact distinct-per-window
  * (e18), the d11 threshold curve, and randomized property tests for
  * k-core peeling and partition modularity. */
class NewOpsR7gSpec extends SparkSpec {
  import spark.implicits._

  test("kCorePeel matches sequential peeling on random graphs") {
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 3) {
      val edges = (1 to 120)
        .map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .distinct
      val got = Graphs.kCorePeel(edges.toDF("a", "b"), "a", "b",
          k = 2L, rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var es = edges
      for (_ <- 1 to 3) {
        val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
          .map { case (v, o) => v -> o.size.toLong }
        val keep = deg.filter(_._2 >= 2).keySet
        es = es.filter(e => keep(e._1) && keep(e._2))
      }
      val ref = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (v, o) => v -> o.size.toLong }
      assert(got == ref, s"trial $trial")
    }
  }

  test("e18 streaming distinct users equal the batch per-hour counts") {
    val got = SparkEntry.queries("e18_stream_window_users")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(expr("((ts div 1000) div 3600000000) * 3600000000").as("w"))
      .agg(countDistinct($"user_id").as("n"))
      .orderBy($"w").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == batch.toSeq)
  }

  test("partitionModularity matches a sequential reference on random graphs") {
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 3) {
      val edges = (1 to 150)
        .map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .distinct
      val parts = (0L until 30L).map(v => v -> s"p${rnd.nextInt(4)}").toMap
      val got = Graphs.partitionModularity(edges.toDF("a", "b"),
          "a", "b", parts.toSeq.toDF("id", "part"), "id", "part")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      val m = edges.size.toLong
      val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (v, o) => v -> o.size.toLong }
      val ref = parts.values.toSet.map { (p: String) =>
        val mc = edges.count(e => parts(e._1) == p && parts(e._2) == p).toLong
        val dc = parts.collect { case (v, q) if q == p => deg.getOrElse(v, 0L) }.sum
        val contrib = BigDecimal((4.0 * m * mc - dc * dc) / (4.0 * m * m))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        p -> ((mc, dc, contrib))
      }.toMap
      assert(got == ref, s"trial $trial")
    }
  }

  test("d11: planted partial copies spread the curve over several deciles") {
    val curve = SparkEntry.queries("d11_threshold_curve")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(curve.length >= 2, s"curve collapsed to ${curve.toSeq}")
    curve.foreach { case (band, nPairs, nDocs) =>
      assert(band >= 5L && band <= 10L)
      assert(nDocs >= 2L && nDocs <= 2 * nPairs)
    }
    // at least every organic pair plus one planted pair per slice doc
    val organic = SparkEntry.queries("d03_ngram_jaccard")(spark, sfDir).count()
    assert(curve.map(_._2).sum > organic)
  }
}
