package graft

import org.apache.spark.sql.functions._

import graft.operators.Graphs

/** Round-7 additions part g: streaming exact distinct-per-window
  * (e18), windowed co-occurrence lift (t23), and a randomized
  * property test for k-core peeling. */
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
