package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Tiers:
  *  - [[bruteForceTopK]] — exact baseline. The (small) query side is
  *    broadcast, so the corpus is scanned once with no shuffle of the
  *    embeddings; per-pair cosine runs in the codegen'd
  *    [[graft.functions.VectorFunctions.CosineSimilarity]] expression.
  *    O(|corpus|·|queries|·d) compute, O(|corpus|) I/O.
  *  - [[lshTopK]] — the scale path: signed-random-projection LSH.
  *    Corpus and queries hash to `tables` independent bucket keys;
  *    candidates come from bucket equi-joins (shuffle on bucket key,
  *    never all-pairs), then exact cosine re-ranks. Recall is tunable
  *    via (tables, bits).
  *  - [[nearDupPairs]] — embedding near-duplicate mining: same LSH
  *    bucketing self-joined, exact-cosine verified.
  */
object Similarity {

  /** Bucket keys (`array<long>`, one per table) for an embedding —
    * the native one-pass [[VectorFunctions.RandomProjectionSig]]. */
  private[graft] def bucketKeys(vec: Column, tables: Int, bits: Int, dim: Int,
                                seed: Long): Column =
    rpSignature(vec, tables, bits, seed)

  /** Built-in-composition twin of [[bucketKeys]] (tables·bits zip_with
    * dots) — interpreted, kept only to cross-check the native
    * expression in tests. */
  private[graft] def bucketKeysBuiltin(vec: Column, tables: Int, bits: Int, dim: Int,
                                       seed: Long): Column = {
    val ps = VectorFunctions.planesFor(tables, bits, dim, seed)
    array((0 until tables).map { t =>
      (0 until bits).map { b =>
        val plane = ps(t * bits + b)
        val dot = aggregate(
          zip_with(vec, array(plane.map(lit): _*), (x, p) => x.cast("double") * p),
          lit(0.0), (acc, v) => acc + v)
        when(dot >= 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_)).cast("long")
    }: _*)
  }

  /** Exact top-k: for every query row, the k nearest corpus rows by
    * cosine (ties broken by corpus id). Query side is broadcast.
    * `roundAt >= 0` rounds the cosine to that many decimals BEFORE
    * ranking, so rankings are reproducible against an external oracle
    * computing the same rounded score. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     roundAt: Int = -1): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val rawCos = cosineSim(col("qvec"), col("cvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (if (roundAt >= 0) round(rawCos, roundAt) else rawCos).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** PQ asymmetric-distance (ADC) top-k: scores the 12-bit CODES, not
    * the vectors — the memory story that makes ANN viable at 100 TB
    * (the scan reads `M` small ints per row; the float vectors never
    * leave storage). Distance tables are built on the QUERY side only
    * — per query × subspace, the exact integer squared-L2 from the
    * query's quantized subvector to each of the k_codebook centroids
    * (O(|queries|·k·subDim), embarrassingly small) — then broadcast,
    * so each corpus code row costs M O(1) `element_at` lookups + a
    * sum. One window per query_id ranks; everything is integer
    * arithmetic on the shared quantization grid, hence bit-exact
    * under a cross-engine oracle.
    *
    * `codes` carries `(idCol, c0 … c{M-1})` from per-subspace
    * [[Clustering.kmeansIntModel]] fits; `codebooks(m)` is subspace
    * m's final quantized centroids.
    */
  def pqAdcTopK(codes: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, codebooks: Seq[Array[Array[Long]]],
                subDim: Int, k: Int, quantScale: Long = 1000000L,
                shift: Double = 1.0): DataFrame = {
    val qside = adcQuerySide(queries, idCol, vecCol, codebooks, subDim,
      quantScale, shift)
    val scored = codes.crossJoin(broadcast(qside))
      .filter(col("query_id") =!= col(idCol))
      .withColumn("neighbor_id", col(idCol))
    adcRank(scored, codebooks.size, k)
  }

  /** Query-side ADC distance tables: `(query_id, _dt0 … _dt{M-1})`,
    * each `_dtI` the exact integer squared-L2 from the query's
    * quantized subvector to every centroid of codebook I. */
  private def adcQuerySide(queries: DataFrame, idCol: String, vecCol: String,
                           codebooks: Seq[Array[Array[Long]]], subDim: Int,
                           quantScale: Long, shift: Double): DataFrame = {
    val m = codebooks.size
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val withQq = (0 until m).foldLeft(q0) { (df, i) =>
      df.withColumn(s"_qq$i",
        Clustering.quantized(slice(col("qvec"), i * subDim + 1, subDim),
          quantScale, shift))
    }
    val withDts = (0 until m).foldLeft(withQq) { (df, i) =>
      val dts = array(codebooks(i).map { cvec =>
        val cLit = array(cvec.map(lit(_)): _*)
        aggregate(zip_with(col(s"_qq$i"), cLit, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
      }: _*)
      df.withColumn(s"_dt$i", dts)
    }
    withDts.select(col("query_id") +: (0 until m).map(i => col(s"_dt$i")): _*)
  }

  /** Score + rank `(query_id, neighbor_id, c0…c{M-1}, _dt0…_dt{M-1})`
    * rows: ADC distance = Σ table lookups, top-k per query with the
    * (dist, id) tiebreak. */
  private def adcRank(scored: DataFrame, m: Int, k: Int): DataFrame = {
    val adc = (0 until m).map(i =>
        element_at(col(s"_dt$i"), col(s"c$i").cast("int") + 1))
      .reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    scored.select(col("query_id"), col("neighbor_id"), adc.as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"),
        col("rank").cast("long").as("rank"))
  }

  /** The production ANN composition — IVF coarse pruning + PQ ADC
    * rerank, every stage in the deterministic integer arithmetic of
    * [[Clustering.kmeansIntModel]] so the WHOLE index (coarse lists,
    * probe choice, codes, distances, ranks) is bit-reproducible under
    * a cross-engine oracle:
    *
    *  1. coarse: integer k-means on the full vector → every corpus
    *     vector files into one of `nLists` inverted lists;
    *  2. probe: each query scores the nLists coarse centroids
    *     (map-side, centroids are a literal) and keeps the `nProbe`
    *     nearest (id tiebreak) — candidates are ONLY the vectors in
    *     those lists, |corpus|·nProbe/nLists of the corpus;
    *  3. rerank: PQ codes of the candidates score by ADC table
    *     lookups ([[pqAdcTopK]]'s machinery over the pruned pairs).
    *
    * At 100 TB the scan cost drops by nLists/nProbe AND reads codes
    * instead of vectors — multiplicative with PQ's per-row saving. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, subspaces: Int = 4, subDim: Int = 16,
                nLists: Int = 8, nProbe: Int = 2, iters: Int = 2,
                quantScale: Long = 1000000L, shift: Double = 1.0,
                cacheKey: Option[String] = None): DataFrame = {
    val (coarseAssign, coarseCents) = Clustering.kmeansIntModel(
      corpus, idCol, vecCol, nLists, iters, quantScale, shift,
      cacheKey.map(key => s"$key#full$nLists"))
    val fits = (0 until subspaces).map { m =>
      Clustering.kmeansIntModel(
        corpus.select(col(idCol),
          slice(col(vecCol), m * subDim + 1, subDim).as(vecCol)),
        idCol, vecCol, k = 8, iters = iters, quantScale, shift,
        cacheKey.map(key => s"$key#sub$m"))
    }
    val codes = fits.zipWithIndex.map { case ((a, _), m) =>
      a.withColumnRenamed("cluster", s"c$m")
    }.reduce(_.join(_, idCol))

    // probe lists: nProbe nearest coarse centroids per query, exact
    // integer distance with cluster-id tiebreak (array_sort orders
    // structs field-by-field)
    val qq = Clustering.quantized(col("qvec"), quantScale, shift)
    val distStructs = array(coarseCents.zipWithIndex.map { case (cvec, j) =>
      val cLit = array(cvec.map(lit(_)): _*)
      struct(
        aggregate(zip_with(col("_qq"), cLit, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d"),
        lit(j.toLong).as("j"))
    }: _*)
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("_qq", qq)
      .withColumn("_p", explode(slice(array_sort(distStructs), 1, nProbe)))
      .select(col("query_id"), col("_p.j").as("_list"))

    val qside = adcQuerySide(queries, idCol, vecCol, fits.map(_._2), subDim,
      quantScale, shift)
    val cand = coarseAssign.join(broadcast(probes),
        coarseAssign("cluster") === probes("_list"))
      .select(col("query_id"), col(idCol))
      .filter(col("query_id") =!= col(idCol))
    val scored = cand.join(codes, idCol)
      .join(broadcast(qside), "query_id")
      .withColumn("neighbor_id", col(idCol))
    adcRank(scored, subspaces, k)
  }

  /** LSH-bucketed approximate top-k. Candidates = corpus rows sharing
    * ≥1 bucket with the query in any table; exact cosine re-ranks.
    *
    * Scale shape: `queries` is a PROBE SET (contract: query-sized, not
    * corpus-sized) — its bucketed form is broadcast, so the corpus
    * side is a single map-side scan that never shuffles its vectors
    * (without the hint, Spark's stats see only the filtered-parquet
    * size estimate and flip the join to SMJ at scale: the r9 sf10
    * audit measured that flip shuffling 394 MB of exploded corpus
    * vectors for an 8-query probe). Cosine is scored INSIDE the join
    * stage and the multi-table collision dedup aggregates slim
    * `(query_id, neighbor_id, cos)` rows — a pair's cosine is
    * identical in every shared bucket, so `min` is exact (the s03
    * shape: re-scoring a collision beats exchanging ~0.5 KB of vector
    * pair per candidate). The only exchanges left are the slim
    * dedup + top-k aggregations, ∝ candidates, never ∝ vectors. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, dim: Int, tables: Int = 8, bits: Int = 12,
              seed: Long = 42L): DataFrame = {
    def withBuckets(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).as(vec),
          posexplode(bucketKeys(col(vecCol), tables, bits, dim, seed))
            .as(Seq("table", "bucket")))
    val c = withBuckets(corpus, "neighbor_id", "cvec")
    val q = withBuckets(queries, "query_id", "qvec")
    val cand = c.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("qvec"), col("cvec")).as("cos"))
      .groupBy(col("query_id"), col("neighbor_id")).agg(min(col("cos")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Fit the IVF coarse quantizer on a SAMPLE of the corpus. A KMeans
    * quantizer needs only enough points to place nLists centroids —
    * never the full corpus (at 100 TB a full-corpus fit is ×maxIter
    * full scans). `trainFraction` bounds the scan, `maxTrain` bounds
    * the driver-side KMeans working set; tiny corpora (sample smaller
    * than 4·nLists) fall back to the full frame so small-SF tests stay
    * well-conditioned. */
  def fitIvfQuantizer(corpus: DataFrame, vecCol: String, nLists: Int,
                      seed: Long = 42L, trainFraction: Double = 0.1,
                      maxTrain: Int = 65536): org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = corpus.select(array_to_vector(col(vecCol)).as("features"))
    val sampled = feat.sample(withReplacement = false, trainFraction, seed).limit(maxTrain)
    val train = if (sampled.count() < 4L * nLists) feat else sampled
    new KMeans().setK(nLists).setSeed(seed).setMaxIter(10).fit(train)
  }

  /** Quantizer memo: (cacheKey, nLists, seed) → fitted model. The model
    * is a tiny nLists×dim table; refitting it for every query invocation
    * (bench reruns, repeated probes against the same corpus) is pure
    * waste. Callers opt in by passing a stable key for the corpus.
    *
    * Staleness contract: the memo assumes `cacheKey` uniquely identifies
    * the corpus CONTENT — if the data under a keyed path changes, the
    * caller must change the key (e.g. key on a snapshot/version id, as
    * s05 keys on the immutable sf directory path). Each entry is
    * nLists×dim doubles (~100 KB at nLists=16, d=768); the memo is
    * size-capped (wholesale reset at 16 corpora), so a long-lived
    * session probing many corpora refits instead of growing without
    * bound. */
  private val quantizerCache =
    new graft.functions.BoundedMemo[(String, Int, Long),
      org.apache.spark.ml.clustering.KMeansModel](16)

  /** IVF (inverted-file) approximate top-k: a KMeans coarse quantizer
    * assigns every corpus vector to its nearest centroid; each query
    * probes only the `nProbe` nearest centroid lists and re-ranks those
    * candidates with exact cosine.
    *
    * Scale posture: the centroid model is tiny (nLists × dim) and
    * broadcast by MLlib's transform; the corpus is scanned once for
    * assignment; the probe join shuffles on the centroid id, so query
    * cost is |corpus|·(nProbe/nLists) exact cosines instead of
    * |corpus|. The quantizer trains on a bounded sample
    * ([[fitIvfQuantizer]]) and is reused across calls when `cacheKey`
    * identifies the corpus.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nLists: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              cacheKey: Option[String] = None): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.linalg.Vector

    val featNamed = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      array_to_vector(col(vecCol)).as("features"))
    val model = cacheKey match {
      case Some(key) => quantizerCache.getOrCompute((key, nLists, seed),
        _ => fitIvfQuantizer(corpus, vecCol, nLists, seed))
      case None => fitIvfQuantizer(corpus, vecCol, nLists, seed)
    }
    val centroids = model.clusterCenters

    val assigned = model.transform(featNamed)
      .select(col("neighbor_id"), col("cvec"), col("prediction").as("list_id"))

    // query → its nProbe nearest centroid ids (tiny, computed per row)
    val centB = queries.sparkSession.sparkContext.broadcast(centroids)
    import queries.sparkSession.implicits._
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, vec) =>
        val cents: Array[Vector] = centB.value
        cents.indices.map { i =>
          var d = 0.0
          val c = cents(i)
          var j = 0
          while (j < vec.length) { val diff = vec(j) - c(j); d += diff * diff; j += 1 }
          (qid, vec, i, d)
        }.sortBy(_._4).take(nProbe)
      }.toDF("query_id", "qvec", "list_id", "dist")
      .select(col("query_id"), col("qvec"), col("list_id"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    // broadcast the probe side (queries × nProbe rows): without the
    // hint the stats-blind plan SMJs at scale and shuffles the
    // ASSIGNED CORPUS (vectors attached) on list_id — the r9 sf10
    // audit measured 48 MB of corpus exchange for an 8-query probe.
    assigned.join(broadcast(q), "list_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("qvec"), col("cvec")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Bucket-key width for [[nearDupPairs]] at a given corpus size:
    * `ceil(log2(n / targetBucket))`, floored at 12 bits (so every
    * oracle-checked SF derives the same 12-bit family and outputs are
    * unchanged) and capped at 24. Constant expected occupancy is the
    * linearity mechanism: with fixed bits, bucket population grows ∝
    * corpus and in-bucket pairs grow QUADRATICALLY — the r9 sf10
    * audit measured exactly that (101× shuffle, 90 GB spill at 1M
    * vectors on the fixed 12-bit family). Deriving bits from n keeps
    * expected bucket size ≈ targetBucket, so candidates stay ∝ n.
    *
    * Second-moment caveat (r10 postcap ladder, PLANS.md round-10): the
    * derivation flattens the MEAN occupancy; the candidate budget is
    * Σ b² and sign-projection bits split structured embeddings
    * unevenly, so each added bit leaves a mild skew residue —
    * measured 2.32× candidates for 2× data across the 12→13-bit step
    * (max occupancy 446→542 against mean ~50), tracking the measured
    * shuffle exactly. Bounded and attributed in the postcap gate;
    * [[nearDupPairs]]' opt-in maxBucketSize is the backstop if a
    * corpus's skew ever concentrates real mass. */
  def deriveBits(n: Long, targetBucket: Int = 64,
                 minBits: Int = 12, maxBits: Int = 24): Int = {
    val buckets = math.max(1L, (n + targetBucket - 1) / targetBucket)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1 max 0L)
    math.min(maxBits, math.max(minBits, bits))
  }

  /** Cost model for the pair-dedup aggregation of [[nearDupPairs]] /
    * [[multiProbePairs]] — the embedding-family sibling of
    * [[Dedup.MiningBudget]]. `dupPairs` is the predicted near-dup
    * answer volume: Σ c·(c−1)/2 over groups of IDENTICAL vectors
    * ([[deriveEmbPairBudget]]) — exact for this workload because the
    * verify filter (cos ≥ minCosine at ≥ 0.99) admits ~only identical
    * vectors, so the aggregate's distinct-key set IS the exact-dup
    * pair relation (r15 check: predicted 10,166,000 at sf40 vs
    * 10,166,020 measured answers — the +20 are the planted copies).
    *
    * Why the aggregate needs the planner and not AQE (the r15 sf160
    * rung's red gate): a duplicate pair collides in EVERY table
    * (identical vectors share all buckets), so the self-join emits
    * `tables`(×segments) copies of each pair — but each copy lands in
    * a DIFFERENT (table, bucket) task, so the join-stage partial
    * aggregate combines NOTHING and its hash state sums to
    * multiplicity × dupPairs across the stage while the stage's width
    * is the anchor's — sized by corpus BYTES and saturated at AQE's
    * initialPartitionNum past sf80. Answers grow quadratically in
    * dup-cluster size (ScaleGen K-doubling: ×4.01 per rung), width
    * stalls → per-task state doubles per rung (s03 288→576 MB,
    * s11 320→576 MB sf80→sf160, through the 512 MB gate); d13's copy
    * of the same aggregate, squeezed by ConnectedComponents'
    * checkpoint storage, fell back to sort-based aggregation and
    * spilled 25.8 GB. The fix is [[Dedup.ngramJaccardPairs]]'s `inter`
    * shape: repartition the verified survivors by exactly
    * (a_id, b_id) BEFORE the groupBy (REPARTITION_BY_NUM — AQE's
    * coalescer skips it). The join stage then carries no aggregate at
    * all; both fused agg maps run post-exchange holding pairs/parts
    * entries each; the exchange moves the same slim survivor rows the
    * partial-agg output exchange moved (bytes unchanged — the partial
    * agg combined nothing); and (a_id, b_id) hashing is uniform, so
    * peak ≈ mean with no skew margin needed. */
  final case class EmbPairBudget(dupPairs: Double) {
    /** Modeled fused-aggregate state of the pair dedup: 224 B per
      * predicted pair ([[PartitionSizing]] has the calibration). */
    def pairStateBytes: Double = dupPairs * 224.0

    /** Modeled state of ConnectedComponents' symmetrized-edge dedup
      * when the component input IS the near-dup pair answer (d13):
      * symmetrization doubles the pairs, and the fused distinct maps
      * hold (u, v)-keyed entries at the pair aggregate's constant. */
    def symStateBytes: Double = 2.0 * dupPairs * 224.0
  }

  /** Derive [[EmbPairBudget]] from a corpus: one aggregation over the
    * vector column — group identical vectors by `xxhash64` (64-bit,
    * collision-negligible for a cost model) and sum c·(c−1)/2. The
    * scan reads only `vecCol`; the exchange carries (hash, count)
    * rows — corpus STATS, never corpus rows. Callers memoize per data
    * dir ([[graft.queries.DerivedCaps]]`.embPairBudgetFor`, the same
    * warm-pass slot the mining budget and IVF quantizer use). Planted
    * query-side additions (tens of copies) shift the prediction by
    * ~cluster-size × copies — noise against a ≥1e6-pair engage
    * threshold, so callers derive from the dir's table and skip the
    * union. */
  def deriveEmbPairBudget(corpus: DataFrame, vecCol: String): EmbPairBudget = {
    val r = corpus.groupBy(xxhash64(col(vecCol)).as("h"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) DIV 2")).as("p"))
      .collect()(0)
    EmbPairBudget(if (r.isNullAt(0)) 0.0 else r.getLong(0).toDouble)
  }

  /** Embedding near-dup mining. The bucket-size cap is OPT-IN (default
    * `Int.MaxValue` = no cap — the repo's maxDf convention: capping
    * changes output semantics, so callers choose it deliberately).
    * When set, a bucket holding more than `maxBucketSize` vectors is
    * skipped as non-discriminative mass — BUT exact/near-identical
    * vectors hash to the SAME bucket in EVERY table, so a duplicate
    * cluster larger than the cap has all `tables` of its buckets
    * oversized and loses ALL its pairs deterministically (ADVICE r09).
    * The cap is a cost backstop against hash-collision mass, not a
    * safe default: callers expecting duplicate clusters beyond the cap
    * must pre-collapse exact dups ([[graft.operators.Dedup]]) first or
    * leave the cap off. */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   minCosine: Double, dim: Int, tables: Int = 8, bits: Int = 12,
                   seed: Long = 42L, maxBucketSize: Int = Int.MaxValue,
                   pairParts: Option[Int] = None): DataFrame = {
    // Anchor the bucketed frame under an exchange on the join key so
    // the hot-bucket count and both self-join sides reuse ONE shuffle
    // (the d03/d04 anchor pattern).
    val bucketed = corpus.select(col(idCol), col(vecCol),
      posexplode(bucketKeys(col(vecCol), tables, bits, dim, seed))
        .as(Seq("table", "bucket")))
      .filter(col(idCol).isNotNull)
      .repartition(col("table"), col("bucket"))
    // The uncapped path must not pay the hot-bucket count pass. The
    // cap is a WINDOW count riding the bucket exchange, not a
    // count branch + anti-join: the count branch needed only
    // (table, bucket), so ColumnPruning pushed a Project below its
    // copy of the anchor, the Exchange subtrees diverged, and the
    // corpus — WITH its ~2 KB/row embedding vectors — was scanned
    // and bucket-hashed twice (same mechanism as d03's df cap;
    // Dedup.ngramJaccardPairs has the full note). The window needs
    // exactly the anchor's hashpartitioning(table, bucket), so it
    // adds zero exchanges, and its sort is the sort the a/b
    // sort-merge self-join pays anyway.
    val pruned =
      if (maxBucketSize == Int.MaxValue) bucketed
      else
        bucketed.withColumn("_n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("table"), col("bucket"))))
          .filter(col("_n") <= maxBucketSize)
          .drop("_n")
    val a = pruned.select(col(idCol).as("a_id"), col(vecCol).as("avec"),
      col("table"), col("bucket"))
    val b = pruned.select(col(idCol).as("b_id"), col(vecCol).as("bvec"),
      col("table"), col("bucket"))
    // Verify INSIDE the join stage and shuffle only survivors: cosine
    // is a map-side projection on the join output, the ≥ minCosine
    // filter kills ~all candidates, and the per-pair dedup (a pair
    // collides in up to `tables` buckets; its cosine is identical in
    // each) aggregates slim (a_id, b_id, cos) rows. The old shape —
    // dropDuplicates BEFORE scoring — exchanged every candidate WITH
    // both full vectors attached (~2 KB/row): 27 GB shuffled, 90 GB
    // spilled at sf10. This shape shuffles kilobytes.
    // pairParts moves the dedup aggregate OUT of the join stage
    // onto its own pinned (a_id, b_id) exchange — see [[EmbPairBudget]]
    val scored = a.join(b, Seq("table", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        cosineSim(col("avec"), col("bvec")).as("cos"))
      .filter(col("cos") >= minCosine)
    pairParts.fold(scored)(p => scored.repartition(p, col("a_id"), col("b_id")))
      .groupBy(col("a_id"), col("b_id")).agg(min(col("cos")).as("cos"))
  }

  /** Multi-probe variant of [[nearDupPairs]] (VERDICT r10 "what's
    * missing" #3 — the skew-mitigation scale path): instead of many
    * coarse tables, FEW tables with a FINER code, recovering the
    * recall the extra bits cost by matching pairs whose codes differ
    * in ≤ 1 bit. The Hamming-1 neighborhood is joined by PIGEONHOLE
    * SEGMENTS, not bucket-key fan-out: two codes within Hamming 1
    * agree exactly on at least one half of the code, so each row emits
    * its (low-half, high-half) segment keys — a fixed 2× fan-out —
    * and the ≤ 1-bit check runs as a `bit_count(xor)` filter INSIDE
    * the join stage. A per-bit probe expansion would instead exchange
    * (bits+1)× rows carrying the vector — the exact candidate-with-
    * vectors anti-pattern the r8 s03 rewrite removed.
    *
    * Why this flattens the candidate second moment: per table the
    * candidate budget is Σ over SEGMENT buckets of n². Each segment
    * carries bits/2 bits — callers size `bits ≈ 2·(deriveBits + 1)`,
    * so segments stay one bit FINER than [[nearDupPairs]]' full
    * buckets — and structured hot mass splits quadratically under
    * those extra bits while 2 tables × 2 segments replace 8 tables
    * (half the anchor-exchange vector volume, ~4× fewer candidate
    * probes at equal occupancy). Mass that refuses to split —
    * IDENTICAL vectors — shares every segment of every table by
    * construction, so recall for exact duplicates is deterministic
    * (what keeps the planted-dup oracle exact); those candidates are
    * real output pairs, not waste.
    *
    * Semantics: a pair is reported iff some table's codes differ in
    * ≤ 1 of `bits` bits AND exact cosine ≥ `minCosine` — the same
    * verify-inside-the-join shape as [[nearDupPairs]]: only slim
    * (a_id, b_id, cos) survivors leave the stage.
    */
  def multiProbePairs(corpus: DataFrame, idCol: String, vecCol: String,
                      minCosine: Double, dim: Int, tables: Int = 2, bits: Int = 26,
                      seed: Long = 42L, pairParts: Option[Int] = None): DataFrame = {
    require(bits >= 2 && bits <= 62, s"multiProbePairs: bits=$bits out of range")
    val lo = bits / 2
    val loMask = (1L << lo) - 1
    val bucketed = corpus.select(col(idCol), col(vecCol),
      posexplode(bucketKeys(col(vecCol), tables, bits, dim, seed))
        .as(Seq("table", "bucket")))
      .filter(col(idCol).isNotNull)
      .select(col(idCol), col(vecCol), col("table"), col("bucket"),
        explode(array(
          struct(lit(0).as("seg"), col("bucket").bitwiseAND(lit(loMask)).as("segcode")),
          struct(lit(1).as("seg"), shiftright(col("bucket"), lo).as("segcode")))).as("s"))
      .select(col(idCol), col(vecCol), col("table"), col("bucket"),
        col("s.seg").as("seg"), col("s.segcode").as("segcode"))
      .repartition(col("table"), col("seg"), col("segcode"))
    val a = bucketed.select(col(idCol).as("a_id"), col(vecCol).as("avec"),
      col("bucket").as("abucket"), col("table"), col("seg"), col("segcode"))
    val b = bucketed.select(col(idCol).as("b_id"), col(vecCol).as("bvec"),
      col("bucket").as("bbucket"), col("table"), col("seg"), col("segcode"))
    // pairParts: the same pinned-dedup shape as [[nearDupPairs]]
    val scored = a.join(b, Seq("table", "seg", "segcode"))
      .filter(col("a_id") < col("b_id"))
      // Hamming ≤ 1 over the FULL code, in-stage (cheap long xor
      // before the cosine); a Hamming-0 pair matches in both segments
      // and Hamming-1 in exactly one — the group-by dedups both cases
      .filter(bit_count(col("abucket").bitwiseXOR(col("bbucket"))) <= 1)
      .select(col("a_id"), col("b_id"),
        cosineSim(col("avec"), col("bvec")).as("cos"))
      .filter(col("cos") >= minCosine)
    pairParts.fold(scored)(p => scored.repartition(p, col("a_id"), col("b_id")))
      .groupBy(col("a_id"), col("b_id")).agg(min(col("cos")).as("cos"))
  }

  /** Symmetric int8 quantization — the storage/serving format for
    * embedding corpora (4× smaller than float32, SIMD-friendly dot
    * products): per vector, `scale = 127 / max(|x|)` and
    * `q_i = round(x_i · scale)` ∈ [−127, 127]. Adds `q`
    * (array<long>, the quantized codes) and `scale` (double; invert
    * with `x ≈ q / scale`) next to the input columns. Zero vectors
    * quantize to zeros with scale 0 (nothing to preserve). Pure
    * map-side expression work — one codegen span, no shuffle, no UDF;
    * all arithmetic is double-IEEE + ties-away-from-zero rounding, so
    * any engine reproduces the exact codes (what the oracle checks).
    */
  def quantizeInt8(corpus: DataFrame, vecCol: String): DataFrame = {
    val clash = corpus.columns.toSet & Set("q", "scale", "_scale")
    require(clash.isEmpty,
      s"quantizeInt8: output columns $clash already exist on the input — rename first")
    val mx = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    val scale = when(mx > 0d, lit(127.0) / mx).otherwise(lit(0.0))
    corpus
      .withColumn("_scale", scale)
      .withColumn("q",
        transform(col(vecCol), x =>
          round(x.cast("double") * col("_scale")).cast("long")))
      .withColumnRenamed("_scale", "scale")
  }
}
