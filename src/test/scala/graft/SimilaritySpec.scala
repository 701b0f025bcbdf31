package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  test("brute-force top-k: ranks are 1..k per query, scores non-increasing") {
    val q = emb.filter($"vec_id" < 4)
    val res = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
      .select($"query_id", $"neighbor_id", $"cos", $"rank")
      .as[(Long, Long, Double, Long)].collect()
    val byQuery = res.groupBy(_._1)
    assert(byQuery.keySet == Set(0L, 1L, 2L, 3L))
    byQuery.values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      assert(sorted.map(_._3).sliding(2).forall(p => p.head >= p.last))
      assert(!rows.exists(r => r._2 == r._1)) // self excluded
    }
  }

  test("LSH top-k recall vs brute force on real embeddings") {
    val q = emb.filter($"vec_id" < 16)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, q, "vec_id", "embedding", k = 5, dim = 64,
        tables = 16, bits = 8)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    // random 64-dim vectors are a worst case for LSH; just require the
    // buckets to be doing clearly better than nothing
    assert(recall > 0.2, s"recall $recall")
  }

  test("nearDupPairs finds planted exact duplicates with cosine 1.0") {
    val planted = emb.filter($"vec_id" < 10)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding", $"label")
    val res = Similarity.nearDupPairs(emb.filter($"vec_id" < 100).unionByName(planted),
        "vec_id", "embedding", minCosine = 0.99, dim = 64)
      .select($"a_id", $"b_id", $"cos").as[(Long, Long, Double)].collect()
    assert(res.length == 10)
    assert(res.forall { case (a, b, c) => b == a + 1000L && math.abs(c - 1.0) < 1e-9 })
  }

  test("multiProbePairs finds planted exact duplicates with cosine 1.0") {
    val planted = emb.filter($"vec_id" < 10)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding", $"label")
    val res = Similarity.multiProbePairs(emb.filter($"vec_id" < 100).unionByName(planted),
        "vec_id", "embedding", minCosine = 0.99, dim = 64, tables = 2, bits = 18)
      .select($"a_id", $"b_id", $"cos").as[(Long, Long, Double)].collect()
    assert(res.length == 10)
    assert(res.forall { case (a, b, c) => b == a + 1000L && math.abs(c - 1.0) < 1e-9 })
  }

  test("multiProbePairs candidate set IS the Hamming<=1 relation (pigeonhole join exactness)") {
    // with the cosine filter disabled, the operator must return
    // EXACTLY the pairs whose codes differ in <= 1 bit in some table —
    // computed here by brute force over the collected codes. Small
    // bits force plenty of both Hamming-0 and Hamming-1 collisions.
    val corpus = emb.filter($"vec_id" < 200)
    val bits = 6
    val codes = corpus.select($"vec_id",
        graft.functions.VectorFunctions.rpSignature($"embedding", 2, bits, 42L).as("sig"))
      .as[(Long, Seq[Long])].collect()
    val expected = (for {
      (a, sa) <- codes; (b, sb) <- codes if a < b
      if sa.zip(sb).exists { case (x, y) => java.lang.Long.bitCount(x ^ y) <= 1 }
    } yield (a, b)).toSet
    assert(expected.nonEmpty, "fixture produced no Hamming<=1 pairs — bits too high")
    // sanity: some pairs must come from Hamming-1 alone (the probe
    // path), not just equal buckets
    val h1only = (for {
      (a, sa) <- codes; (b, sb) <- codes if a < b
      if sa.zip(sb).exists { case (x, y) => java.lang.Long.bitCount(x ^ y) == 1 } &&
        !sa.zip(sb).exists { case (x, y) => x == y }
    } yield (a, b)).toSet
    assert(h1only.nonEmpty, "fixture exercised only the Hamming-0 path")
    val got = Similarity.multiProbePairs(corpus, "vec_id", "embedding",
        minCosine = -1.0, dim = 64, tables = 2, bits = bits)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("int8 quantization: codes bounded, max element hits ±127, dequantization approximates") {
    val q = Similarity.quantizeInt8(emb, "embedding")
      .select($"vec_id", $"embedding", $"q", $"scale")
      .as[(Long, Seq[Float], Seq[Long], Double)].collect()
    assert(q.nonEmpty)
    q.foreach { case (id, vec, codes, scale) =>
      assert(codes.size == vec.size)
      assert(codes.forall(c => c >= -127 && c <= 127), s"vec $id codes out of range")
      // the max-|x| element maps to ±127 (up to the final rounding)
      val mxi = vec.indices.maxBy(i => math.abs(vec(i).toDouble))
      assert(math.abs(codes(mxi)) >= 126, s"vec $id max element code ${codes(mxi)}")
      // dequantized values reconstruct within half a step
      val step = 1.0 / scale
      vec.indices.foreach { i =>
        assert(math.abs(codes(i) / scale - vec(i).toDouble) <= step / 2 + 1e-12,
          s"vec $id elem $i off by more than half a quantization step")
      }
    }
    // zero vector → zero codes, scale 0
    val z = Seq((1L, Seq.fill(4)(0.0f))).toDF("vec_id", "embedding")
    val zq = Similarity.quantizeInt8(z, "embedding")
      .select($"q", $"scale").as[(Seq[Long], Double)].head()
    assert(zq._1.forall(_ == 0L) && zq._2 == 0.0)
  }

  test("ivfPqTopK with nProbe = nLists equals the full ADC scan") {
    import graft.operators.Clustering
    val subDim = 16
    val queries = emb.filter($"vec_id" < 6)
    val full = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        k = 5, nLists = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val fits = (0 until 4).map { m =>
      Clustering.kmeansIntModel(
        emb.select($"vec_id", slice($"embedding", m * subDim + 1, subDim).as("embedding")),
        "vec_id", "embedding", k = 8, iters = 2)
    }
    val codes = fits.zipWithIndex.map { case ((a, _), m) =>
      a.withColumnRenamed("cluster", s"c$m")
    }.reduce(_.join(_, "vec_id"))
    val brute = Similarity.pqAdcTopK(codes, queries, "vec_id", "embedding",
        fits.map(_._2), subDim = subDim, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(full == brute)
  }

  test("pqAdcTopK matches a sequential ADC reference (decode-to-centroid L2)") {
    import graft.operators.Clustering
    val subDim = 16
    val fits = (0 until 4).map { m =>
      Clustering.kmeansIntModel(
        emb.select($"vec_id", slice($"embedding", m * subDim + 1, subDim).as("embedding")),
        "vec_id", "embedding", k = 8, iters = 2)
    }
    val codes = fits.zipWithIndex.map { case ((a, _), m) =>
      a.withColumnRenamed("cluster", s"c$m")
    }.reduce(_.join(_, "vec_id"))
    val queries = emb.filter($"vec_id" < 6)
    val got = Similarity.pqAdcTopK(codes, queries, "vec_id", "embedding",
        fits.map(_._2), subDim = subDim, k = 5)
      .select($"query_id", $"neighbor_id", $"adc_dist", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // sequential reference: quantize every vector on the same grid,
    // reconstruct each corpus vector as its per-subspace centroid
    // concat, exact integer L2 to the query's quantized vector
    def quant(v: Seq[Float]): Array[Long] =
      v.map(x => math.round((x.toDouble + 1.0) * 1000000L)).toArray
    val vecs = emb.select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val codeMap = codes.collect()
      .map(r => r.getLong(0) -> (1 to 4).map(i => r.getLong(i).toInt)).toMap
    val expected = (0L until 6L).flatMap { qid =>
      val qq = quant(vecs(qid))
      val scoredAll = vecs.keys.filter(_ != qid).map { nid =>
        val recon = (0 until 4).flatMap(m => fits(m)._2(codeMap(nid)(m)))
        val d = qq.indices.map { i =>
          val diff = qq(i) - recon(i); diff * diff
        }.sum
        (nid, d)
      }.toSeq.sortBy { case (nid, d) => (d, nid) }.take(5)
      scoredAll.zipWithIndex.map { case ((nid, d), i) =>
        (qid, nid, d, (i + 1).toLong)
      }
    }.toSet
    assert(got.toSet == expected)
  }

  test("EmbPairBudget: engage threshold, floor, cap (r15b pair-dedup pin)") {
    import graft.operators.PartitionSizing
    import graft.operators.Similarity.EmbPairBudget
    def width(dupPairs: Double) =
      PartitionSizing.parts(32, EmbPairBudget(dupPairs).pairStateBytes)
    // below one task's 256 MB share -> None (leave the aggregate to AQE):
    // 1e6 pairs x 224 B = 214 MB
    assert(width(1e6) == None)
    // sf10's measured 0.57e6 answers stay unpinned — plan unchanged at
    // every oracle SF and the sf1 bench
    assert(width(570020.0) == None)
    // sf20's measured 2.46e6 engage at the cores floor
    assert(width(2460020.0) == Some(32))
    // sf160's measured 165.22e6: past the floor, ~230 MB/task modeled
    val p160 = width(165220020.0).get
    assert(p160 > 32 && p160 < 200, s"p160=$p160")
    // capped where per-task scheduling overhead would dominate
    assert(width(1e12) == Some(4096))
  }

  test("deriveEmbPairBudget counts identical-vector pairs exactly") {
    // 3 copies of A (3 pairs) + 2 of B (1 pair) + 1 of C (0) -> 4
    val rows = Seq.fill(3)(Array(1f, 2f, 3f)) ++
      Seq.fill(2)(Array(4f, 5f, 6f)) ++ Seq(Array(7f, 8f, 9f))
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    assert(Similarity.deriveEmbPairBudget(df, "embedding").dupPairs == 4.0)
  }

  test("nearDupPairs pinned pair dedup: identical output, width honored") {
    val planted = emb.filter($"vec_id" < 10)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding", $"label")
    val corpus = emb.filter($"vec_id" < 100).unionByName(planted)
    val base = Similarity.nearDupPairs(corpus, "vec_id", "embedding",
        minCosine = 0.99, dim = 64)
      .orderBy("a_id", "b_id").collect().toSeq
    val pinnedDf = Similarity.nearDupPairs(corpus, "vec_id", "embedding",
      minCosine = 0.99, dim = 64, pairParts = Some(7))
    assert(pinnedDf.orderBy("a_id", "b_id").collect().toSeq == base)
    // the pinned aggregate rides a REPARTITION_BY_NUM exchange AQE must
    // not coalesce: the aggregate's output partitioning is exactly it
    assert(pinnedDf.rdd.getNumPartitions == 7)
  }

  test("multiProbePairs pinned pair dedup: identical output, width honored") {
    val planted = emb.filter($"vec_id" < 10)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding", $"label")
    val corpus = emb.filter($"vec_id" < 100).unionByName(planted)
    val base = Similarity.multiProbePairs(corpus, "vec_id", "embedding",
        minCosine = 0.99, dim = 64, tables = 2, bits = 18)
      .orderBy("a_id", "b_id").collect().toSeq
    val pinnedDf = Similarity.multiProbePairs(corpus, "vec_id", "embedding",
      minCosine = 0.99, dim = 64, tables = 2, bits = 18, pairParts = Some(5))
    assert(pinnedDf.orderBy("a_id", "b_id").collect().toSeq == base)
    assert(pinnedDf.rdd.getNumPartitions == 5)
  }
}
