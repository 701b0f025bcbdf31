package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Clustering, PartitionSizing, Similarity}

/** Similarity-search queries over `embeddings` (64-dim `array<float>`).
  * All variants carry DuckDB oracles: brute force directly, and the
  * LSH/IVF variants via the planted-copy construction (exact
  * duplicates of each query vector make the approximate top-5
  * deterministic under any hash family / quantizer model). Organic
  * recall of the approximate paths is asserted against brute force in
  * SimilaritySpec / IvfSpec.
  */
object SimilarityQueries {

  val Dim = 64

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact top-5 neighbors for the first 8 vectors; cosine rounded to
    // 4dp BEFORE ranking so rank ties resolve identically to the oracle.
    "s01_knn_brute" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val q = e.filter($"vec_id" < 8)
      Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5, roundAt = 4)
        .select($"query_id", $"neighbor_id", $"cos", $"rank")
        .orderBy($"query_id", $"rank")
    }),

    // LSH-bucketed ANN over the corpus plus 5 planted exact copies of
    // each query vector (ids q + m·Planted.Off, m = 1..5). Identical vectors
    // share every LSH bucket, so the copies are guaranteed candidates;
    // at cos = 1.0 (organic max pairwise ≈ 0.51) they occupy the whole
    // top-5, ranked by the neighbor_id tiebreak — deterministic and
    // oracle-checkable. Recall on organic neighbors is asserted
    // against brute force in SimilaritySpec.
    "s02_knn_lsh" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val q = e.filter($"vec_id" < 8)
      val copies = (1 to 5).map(m =>
        q.withColumn("vec_id", $"vec_id" + m * Planted.Off)).reduce(_ unionByName _)
      // bits derived from corpus size (constant expected bucket
      // occupancy → candidates ∝ corpus, same mechanism as s03); the
      // planted copies share every bucket under ANY family, so the
      // oracle-checked output is bits-invariant.
      Similarity.lshTopK(e.unionByName(copies), q, "vec_id", "embedding", k = 5,
        dim = Dim, bits = DerivedCaps.embBitsFor(s, dir))
        .select($"query_id", $"neighbor_id", round($"cos", 4).as("cos"), $"rank")
        .orderBy($"query_id", $"rank")
    }),

    // IVF ANN: KMeans coarse quantizer + probe-list re-rank, same
    // planted construction as s02: a copy lands in the same centroid
    // list as its original (identical vector → identical assignment),
    // and the query's first probe IS that list, so the copies are
    // candidates under any fitted model — deterministic top-5.
    // Organic recall is asserted in IvfSpec.
    "s05_knn_ivf" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val q = e.filter($"vec_id" < 8)
      val copies = (1 to 5).map(m =>
        q.withColumn("vec_id", $"vec_id" + m * Planted.Off)).reduce(_ unionByName _)
      Similarity.ivfTopK(e.unionByName(copies), q, "vec_id", "embedding",
          k = 5, nLists = 16, nProbe = 4, cacheKey = Some(s"$dir#s05"))
        .select($"query_id", $"neighbor_id", round($"cos", 4).as("cos"), $"rank")
        .orderBy($"query_id", $"rank")
    }),

    // Symmetric int8 quantization of the embedding corpus: per-vector
    // scale = 127/max|x|, codes q_i = round(x_i·scale). Output is a
    // per-vector code checksum + bounds — all double-IEEE arithmetic,
    // so the oracle reproduces the codes bit-exactly.
    "s06_quantize_int8" -> ((s, dir) => {
      import s.implicits._
      Similarity.quantizeInt8(emb(s, dir), "embedding")
        .select($"vec_id",
          aggregate($"q", lit(0L), (acc, x) => acc + x).as("q_sum"),
          array_min($"q").as("q_min"), array_max($"q").as("q_max"),
          round($"scale", 6).as("scale_r"))
        .orderBy($"vec_id")
    }),

    // Embedding near-duplicate pairs via LSH + exact verify. The raw
    // corpus has no near-dups (max pairwise cosine ≈ 0.51), so the
    // query plants exact duplicates of the first 20 vectors (id+Planted.Off) —
    // the operator must find exactly those; identical vectors share
    // every LSH bucket, so recall here is deterministic and the query
    // is oracle-checkable.
    "s03_embed_neardup" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val planted = e.filter($"vec_id" < 20)
        .select(($"vec_id" + Planted.Off).as("vec_id"), $"embedding", $"label")
      // maxBucketSize is opt-in (capping can drop ALL pairs of a
      // duplicate cluster larger than the cap — see the operator's
      // scaladoc); this pipeline caps at 64× the derived expected
      // bucket occupancy, far above its planted/organic cluster sizes,
      // purely as a hash-collision-mass cost backstop.
      Similarity.nearDupPairs(e.unionByName(planted), "vec_id", "embedding",
          minCosine = 0.99, dim = Dim, bits = DerivedCaps.embBitsFor(s, dir),
          maxBucketSize = 4096,
          pairParts = PartitionSizing.parts(s.sparkContext.defaultParallelism,
            DerivedCaps.embPairBudgetFor(s, dir).pairStateBytes))
        .select($"a_id", $"b_id", round($"cos", 4).as("cos"))
        .orderBy($"a_id", $"b_id")
    }),

    // Multi-probe near-dup mining (the s03 semantics on the
    // skew-mitigation scale path): 2 tables × a 2·(derived+1)-bit
    // code, Hamming ≤ 1 matching via pigeonhole segment joins — each
    // segment stays one bit FINER than s03's full buckets, so the
    // candidate second moment that gave s03 its 2.28×/2× postcap
    // residue shrinks quadratically while exact-duplicate recall stays
    // deterministic (identical vectors share every segment). Same
    // planted construction and oracle as s03.
    "s11_multiprobe_neardup" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val planted = e.filter($"vec_id" < 20)
        .select(($"vec_id" + Planted.Off).as("vec_id"), $"embedding", $"label")
      Similarity.multiProbePairs(e.unionByName(planted), "vec_id", "embedding",
          minCosine = 0.99, dim = Dim, tables = 2,
          bits = 2 * (DerivedCaps.embBitsFor(s, dir) + 1),
          pairParts = PartitionSizing.parts(s.sparkContext.defaultParallelism,
            DerivedCaps.embPairBudgetFor(s, dir).pairStateBytes))
        .select($"a_id", $"b_id", round($"cos", 4).as("cos"))
        .orderBy($"a_id", $"b_id")
    }),

    // Deterministic k-means partition of the embedding corpus:
    // 2 Lloyd iterations in scaled-integer arithmetic (quantized
    // non-negative coords, exact integer distances, floor-mean
    // centroids, id-tiebreak argmin), seeded by the first 8 vectors —
    // cluster membership as a bit-reproducible AUDITABLE artifact for
    // cluster-balanced sampling, unlike the throwaway ML quantizer
    // inside s05's IVF index. The full per-point assignment sits under
    // the exact oracle.
    "s07_kmeans_assign" -> ((s, dir) => {
      import s.implicits._
      Clustering.kmeansInt(emb(s, dir), "vec_id", "embedding",
          k = 8, iters = 2, cacheKey = Some(s"$dir#full8"))
        .orderBy($"vec_id")
    }),

    // Product quantization: the 64-dim embedding splits into four
    // 16-dim subspaces, each quantized by its OWN deterministic
    // k-means codebook (k=8, 2 iterations — the s07 operator applied
    // per slice), codes packed base-8 into a 12-bit pq_code. THE
    // memory story for ANN at 100 TB: 256 bytes of float32 become 12
    // bits + a shared 4×8×16 codebook, and asymmetric-distance scans
    // read codes, not vectors. Four independent slice-runs compose —
    // nothing couples the subspaces, so they parallelize trivially;
    // the oracle replays all four iteration chains in one WITH.
    "s08_pq_codes" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val parts = (0 until 4).map { m =>
        Clustering.kmeansInt(
            e.select($"vec_id", slice($"embedding", m * 16 + 1, 16).as("embedding")),
            "vec_id", "embedding", k = 8, iters = 2,
            cacheKey = Some(s"$dir#sub$m"))
          .withColumnRenamed("cluster", s"c$m")
      }
      parts.reduce(_.join(_, "vec_id"))
        .select($"vec_id",
          ($"c0" * 512 + $"c1" * 64 + $"c2" * 8 + $"c3").as("pq_code"),
          $"c0", $"c1", $"c2", $"c3")
        .orderBy($"vec_id")
    }),

    // ADC scan over the s08 codebooks: approximate top-5 by
    // asymmetric distance — query-side integer distance tables
    // (4 subspaces × 8 centroids), broadcast, then element_at
    // lookups per 12-bit code. The ANN read path PQ exists for:
    // the corpus contributes codes only. All integer arithmetic on
    // the shared quantization grid → full cross-engine oracle, no
    // planted-copy construction needed.
    "s09_pq_adc" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val fits = (0 until 4).map { m =>
        Clustering.kmeansIntModel(
          e.select($"vec_id", slice($"embedding", m * 16 + 1, 16).as("embedding")),
          "vec_id", "embedding", k = 8, iters = 2,
          cacheKey = Some(s"$dir#sub$m"))
      }
      val codes = fits.zipWithIndex.map { case ((a, _), m) =>
        a.withColumnRenamed("cluster", s"c$m")
      }.reduce(_.join(_, "vec_id"))
      Similarity.pqAdcTopK(codes, e.filter($"vec_id" < 8), "vec_id",
          "embedding", fits.map(_._2), subDim = 16, k = 5)
        .orderBy($"query_id", $"rank")
    }),

    // The production ANN composition: IVF coarse pruning (integer
    // k-means lists, nProbe=2 of 8) + PQ ADC rerank over the
    // candidates' 12-bit codes. Every stage — list assignment, probe
    // choice, codes, distances, ranks — is deterministic integer
    // arithmetic, so the ENTIRE index is oracle-replayable: no
    // planted-copy construction needed, the organic top-5 is checked
    // bit-for-bit. At 100 TB the scan drops by nLists/nProbe AND
    // reads codes, not vectors — multiplicative savings.
    "s10_ivf_pq" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      Similarity.ivfPqTopK(e, e.filter($"vec_id" < 8), "vec_id",
          "embedding", k = 5, cacheKey = Some(dir))
        .orderBy($"query_id", $"rank")
    }),

    // Label centroids: distributed mean vector per label — exercises
    // array aggregation without ever collecting vectors to the driver.
    "s04_label_centroid_norm" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val byDim = e.select($"label", posexplode($"embedding").as(Seq("i", "v")))
        .groupBy($"label", $"i").agg(avg($"v").as("c"))
      byDim.groupBy($"label")
        .agg(round(sqrt(sum($"c" * $"c")), 4).as("centroid_norm"),
          count(lit(1)).as("n_dims"))
        .orderBy($"label")
    }),
  )

  // Manual double-precision cosine: same sequential accumulation order
  // as the codegen'd CosineSimilarity expression → bit-identical doubles
  // (DuckDB's own list_cosine_similarity accumulates in float — ~1e-7
  // off, enough to flip a 4dp rounding).
  private val SqlCos =
    """(list_sum(list_transform(range(1, len(q.embedding) + 1),
      |    i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
      | / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |  * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin

  /** s07's unrolled Lloyd SQL: same quantization, same integer
    * distance/floor-mean/tiebreak arithmetic — every operation exact,
    * so the unrolled CTE chain reproduces the engine bit-for-bit.
    * All quantized coords are non-negative (shift=1), so `//` here and
    * `div` in Spark agree (truncation == floor). Shared with x16's
    * cluster-balanced sampling oracle via [[kmeansAssignCtes]]. */
  /** DuckDB CTE chain replaying [[graft.operators.Clustering.kmeansInt]]
    * on `vecExpr` (default: the whole embedding). `sfx` namespaces the
    * CTEs so several chains — one per PQ subspace — compose in one
    * WITH; the chain is leading-keyword-free so callers join the
    * `afinal$sfx` results. */
  private[queries] def kmeansAssignCtes(iters: Int, sfx: String = "",
                                        vecExpr: String = "embedding"): String = {
    def assignCte(name: String, cent: String): String =
      s"""$name AS (
         |  SELECT vec_id, q, cluster FROM (
         |    SELECT p.vec_id, p.q, c.cluster,
         |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
         |        list_sum(list_transform(range(1, len(p.q) + 1),
         |          i -> (p.q[i] - c.c[i]) * (p.q[i] - c.c[i]))), c.cluster) AS rn
         |    FROM pts$sfx p CROSS JOIN $cent c) WHERE rn = 1)""".stripMargin
    def updateCtes(i: Int): String =
      s"""u$i$sfx AS (
         |  SELECT cluster, i, CAST(sum(x) // count(*) AS BIGINT) AS cv
         |  FROM (SELECT cluster, unnest(q) AS x, generate_subscripts(q, 1) AS i
         |        FROM a$i$sfx)
         |  GROUP BY cluster, i),
         |cn$i$sfx AS (SELECT cluster, list(cv ORDER BY i) AS c FROM u$i$sfx GROUP BY cluster),
         |c$i$sfx AS (SELECT p.cluster, coalesce(n.c, p.c) AS c
         |        FROM c${i - 1}$sfx p LEFT JOIN cn$i$sfx n USING (cluster))""".stripMargin
    val rounds = (1 to iters).map(i =>
      assignCte(s"a$i$sfx", s"c${i - 1}$sfx") + ",\n" + updateCtes(i)).mkString(",\n")
    s"""pts$sfx AS (
       |  SELECT vec_id, list_transform($vecExpr,
       |    x -> CAST(round((CAST(x AS DOUBLE) + 1.0e0) * 1000000) AS BIGINT)) AS q
       |  FROM embeddings),
       |c0$sfx AS (SELECT vec_id AS cluster, q AS c FROM pts$sfx WHERE vec_id < 8),
       |$rounds,
       |${assignCte(s"afinal$sfx", s"c$iters$sfx")}""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "s07_kmeans_assign" ->
      s"""WITH ${kmeansAssignCtes(2)}
         |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM afinal
         |ORDER BY vec_id""".stripMargin,

    // four independent 16-dim k-means chains (one per subspace), codes
    // packed base-8 — the oracle replays every subspace's iterations
    "s08_pq_codes" -> {
      val subs = (0 until 4).map(m =>
        kmeansAssignCtes(2, sfx = s"s$m",
          vecExpr = s"embedding[${m * 16 + 1}:${(m + 1) * 16}]")).mkString(",\n")
      s"""WITH $subs
         |SELECT a0.vec_id,
         |  CAST(a0.cluster * 512 + a1.cluster * 64 + a2.cluster * 8 + a3.cluster AS BIGINT) AS pq_code,
         |  CAST(a0.cluster AS BIGINT) AS c0, CAST(a1.cluster AS BIGINT) AS c1,
         |  CAST(a2.cluster AS BIGINT) AS c2, CAST(a3.cluster AS BIGINT) AS c3
         |FROM afinals0 a0
         |JOIN afinals1 a1 ON a1.vec_id = a0.vec_id
         |JOIN afinals2 a2 ON a2.vec_id = a0.vec_id
         |JOIN afinals3 a3 ON a3.vec_id = a0.vec_id
         |ORDER BY a0.vec_id""".stripMargin
    },
    // replays the four codebook chains, rebuilds the query-side
    // distance tables from the final centroids (c2s*), and re-ranks —
    // every step integer, so values match bit-for-bit
    "s09_pq_adc" -> {
      val subs = (0 until 4).map(m =>
        kmeansAssignCtes(2, sfx = s"s$m",
          vecExpr = s"embedding[${m * 16 + 1}:${(m + 1) * 16}]")).mkString(",\n")
      val dts = (0 until 4).map(m =>
        s"""dt$m AS (
           |  SELECT p.vec_id AS query_id, c.cluster AS j,
           |    list_sum(list_transform(range(1, len(p.q) + 1),
           |      i -> (p.q[i] - c.c[i]) * (p.q[i] - c.c[i]))) AS d
           |  FROM ptss$m p CROSS JOIN c2s$m c WHERE p.vec_id < 8)""".stripMargin)
        .mkString(",\n")
      s"""WITH $subs,
         |$dts,
         |codes AS (
         |  SELECT a0.vec_id, a0.cluster AS c0, a1.cluster AS c1,
         |         a2.cluster AS c2, a3.cluster AS c3
         |  FROM afinals0 a0
         |  JOIN afinals1 a1 ON a1.vec_id = a0.vec_id
         |  JOIN afinals2 a2 ON a2.vec_id = a0.vec_id
         |  JOIN afinals3 a3 ON a3.vec_id = a0.vec_id),
         |adc AS (
         |  SELECT d0.query_id, k.vec_id AS neighbor_id,
         |         d0.d + d1.d + d2.d + d3.d AS adc_dist
         |  FROM codes k
         |  JOIN dt0 d0 ON d0.j = k.c0
         |  JOIN dt1 d1 ON d1.query_id = d0.query_id AND d1.j = k.c1
         |  JOIN dt2 d2 ON d2.query_id = d0.query_id AND d2.j = k.c2
         |  JOIN dt3 d3 ON d3.query_id = d0.query_id AND d3.j = k.c3
         |  WHERE k.vec_id <> d0.query_id),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rnk
         |  FROM adc)
         |SELECT query_id, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
         |       CAST(rnk AS BIGINT) AS rank
         |FROM r WHERE rnk <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    // full replay: the coarse chain (s07's, namespaced cg), the four
    // codebook chains, probe selection, candidate pruning, ADC rerank
    "s10_ivf_pq" -> {
      val coarse = kmeansAssignCtes(2, sfx = "cg")
      val subs = (0 until 4).map(m =>
        kmeansAssignCtes(2, sfx = s"s$m",
          vecExpr = s"embedding[${m * 16 + 1}:${(m + 1) * 16}]")).mkString(",\n")
      val dts = (0 until 4).map(m =>
        s"""dt$m AS (
           |  SELECT p.vec_id AS query_id, c.cluster AS j,
           |    list_sum(list_transform(range(1, len(p.q) + 1),
           |      i -> (p.q[i] - c.c[i]) * (p.q[i] - c.c[i]))) AS d
           |  FROM ptss$m p CROSS JOIN c2s$m c WHERE p.vec_id < 8)""".stripMargin)
        .mkString(",\n")
      s"""WITH $coarse,
         |$subs,
         |$dts,
         |qc AS (
         |  SELECT p.vec_id AS query_id, c.cluster AS list_id,
         |    row_number() OVER (PARTITION BY p.vec_id ORDER BY
         |      list_sum(list_transform(range(1, len(p.q) + 1),
         |        i -> (p.q[i] - c.c[i]) * (p.q[i] - c.c[i]))), c.cluster) AS pr
         |  FROM ptscg p CROSS JOIN c2cg c WHERE p.vec_id < 8),
         |probes AS (SELECT query_id, list_id FROM qc WHERE pr <= 2),
         |cand AS (
         |  SELECT pr.query_id, a.vec_id AS neighbor_id
         |  FROM afinalcg a JOIN probes pr ON a.cluster = pr.list_id
         |  WHERE a.vec_id <> pr.query_id),
         |codes AS (
         |  SELECT a0.vec_id, a0.cluster AS c0, a1.cluster AS c1,
         |         a2.cluster AS c2, a3.cluster AS c3
         |  FROM afinals0 a0
         |  JOIN afinals1 a1 ON a1.vec_id = a0.vec_id
         |  JOIN afinals2 a2 ON a2.vec_id = a0.vec_id
         |  JOIN afinals3 a3 ON a3.vec_id = a0.vec_id),
         |adc AS (
         |  SELECT cd.query_id, cd.neighbor_id,
         |         d0.d + d1.d + d2.d + d3.d AS adc_dist
         |  FROM cand cd
         |  JOIN codes k ON k.vec_id = cd.neighbor_id
         |  JOIN dt0 d0 ON d0.query_id = cd.query_id AND d0.j = k.c0
         |  JOIN dt1 d1 ON d1.query_id = cd.query_id AND d1.j = k.c1
         |  JOIN dt2 d2 ON d2.query_id = cd.query_id AND d2.j = k.c2
         |  JOIN dt3 d3 ON d3.query_id = cd.query_id AND d3.j = k.c3),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rnk
         |  FROM adc)
         |SELECT query_id, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
         |       CAST(rnk AS BIGINT) AS rank
         |FROM r WHERE rnk <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    // Planted-copy top-5: rank m is the copy at id q + m·Off, cos 1.0.
    "s02_knn_lsh" ->
      """SELECT q.vec_id AS query_id, q.vec_id + m * 1000000000000 AS neighbor_id,
        |       CAST(1.0 AS DOUBLE) AS cos, CAST(m AS BIGINT) AS rank
        |FROM embeddings q CROSS JOIN (SELECT unnest(range(1, 6)) AS m)
        |WHERE q.vec_id < 8 ORDER BY query_id, rank""".stripMargin,

    "s05_knn_ivf" ->
      """SELECT q.vec_id AS query_id, q.vec_id + m * 1000000000000 AS neighbor_id,
        |       CAST(1.0 AS DOUBLE) AS cos, CAST(m AS BIGINT) AS rank
        |FROM embeddings q CROSS JOIN (SELECT unnest(range(1, 6)) AS m)
        |WHERE q.vec_id < 8 ORDER BY query_id, rank""".stripMargin,

    // the quantization arithmetic is double-IEEE on both engines
    // (127.0e0 keeps the scale DOUBLE; round() ties away from zero in
    // both); the oracle recomputes every code and aggregates
    "s06_quantize_int8" ->
      """WITH m AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |sc AS (
        |  SELECT vec_id, CASE WHEN mx > 0e0 THEN 127.0e0 / mx ELSE 0e0 END AS scale
        |  FROM m),
        |u AS (
        |  SELECT e.vec_id, sc.scale, unnest(e.embedding) AS x
        |  FROM embeddings e JOIN sc ON sc.vec_id = e.vec_id),
        |q AS (
        |  SELECT vec_id, scale,
        |    CAST(round(CAST(x AS DOUBLE) * scale) AS BIGINT) AS qi
        |  FROM u)
        |SELECT vec_id, CAST(sum(qi) AS BIGINT) AS q_sum,
        |       min(qi) AS q_min, max(qi) AS q_max,
        |       round(any_value(scale), 6) AS scale_r
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "s03_embed_neardup" ->
      """SELECT vec_id AS a_id, vec_id + 1000000000000 AS b_id, CAST(1.0 AS DOUBLE) AS cos
        |FROM embeddings WHERE vec_id < 20 ORDER BY a_id""".stripMargin,

    // same planted construction as s03: the corpus has no organic pair
    // above cosine 0.51, so the answer is exactly the planted exact
    // duplicates (cosine 1.0), which share every segment of every
    // table deterministically
    "s11_multiprobe_neardup" ->
      """SELECT vec_id AS a_id, vec_id + 1000000000000 AS b_id, CAST(1.0 AS DOUBLE) AS cos
        |FROM embeddings WHERE vec_id < 20 ORDER BY a_id""".stripMargin,

    "s01_knn_brute" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         round($SqlCos, 4) AS cos
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "s04_label_centroid_norm" ->
      """WITH bydim AS (
        |  SELECT label, i, avg(v) AS c FROM (
        |    SELECT label, unnest(embedding) AS v,
        |           generate_subscripts(embedding, 1) AS i
        |    FROM embeddings)
        |  GROUP BY label, i)
        |SELECT label, round(sqrt(sum(c*c)), 4) AS centroid_norm, count(*) AS n_dims
        |FROM bydim GROUP BY label ORDER BY label""".stripMargin,
  )
}
