package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up fixture generator for the ≥10× scale datapoints: shards a
  * source corpus K times with DISJOINT key spaces and per-shard
  * content perturbation, entirely as a distributed dataflow (no
  * driver-side rows, no RNG — shard arithmetic only, so the output is
  * deterministic and the build itself exercises the engine's scale
  * posture).
  *
  * Why perturb instead of copy: a plain ×K copy would make every
  * document an EXACT duplicate of its K−1 siblings, multiplying the
  * near-dup pair count ~K² and poisoning the linearity measurement.
  *
  *  - documents: every occurrence of a word whose hash lands in class
  *    0 (~1/3 of word types) is rewritten through a per-shard rotated
  *    alphabet — length-preserving, injective for a fixed rotation.
  *    The overall per-shard type map is NOT injective by construction
  *    (ADVICE r09): a rotated class-0 word can collide with an
  *    unchanged class-1/2 type or with another rotated word.
  *    The realized merge rate, measured in r10 on the generator's
  *    own expression: 0 of 31 types at generation depth 1 (sf0.1→sf1),
  *    ≤ 12.8% of 320 types per shard at depth 2 (sf1→sf10), ≤ 24.3%
  *    of 801 at depth 3. (Injectivity by
  *    construction is NOT available here: it needs a rotation-
  *    invariant key, and an invariant key makes equal-stride-sum shard
  *    paths compose to ONE map at depth 2 — exactly the cross-shard
  *    type-merging defect the r9 decorrelation gate caught and this
  *    design removed.) The merges are benign for the ladder because
  *    neither load-bearing invariant assumes injectivity: cross-shard
  *    decorrelation is MEASURED directly by the build-time gate (max
  *    cross-shard 3-gram Jaccard over ALL base docs must sit below the
  *    0.5 near-dup threshold, else the build fails loudly — this
  *    caught the retired position-based rule leaving short docs'
  *    copies identical), and the derived-cap cost model reads the
  *    REALIZED df histograms of the generated corpus, never an
  *    assumed-injective model of it. What merges do cost: within-shard
  *    Jaccard is preserved only approximately at depth ≥ 2 (merged
  *    types nudge doc similarity up), which shows up as sf20's gate
  *    margin (0.4255 vs 0.5) being thinner than sf10's — the gate, not
  *    this comment, is the authority on when that drift becomes real.
  *  - embeddings: each shard applies its own ORTHOGONAL transform —
  *    circular shift by `shard % dim` positions composed with a
  *    Walsh sign mask indexed by `shard / dim` (flip where
  *    `bit_count(i & p)` is odd). Orthogonal ⇒ every intra-shard
  *    inner product (near-dup pairs, cluster geometry) is preserved
  *    EXACTLY; distinct shards' transforms decorrelate cross-shard
  *    copies (different shifts misalign; same shift ⇒ the masks
  *    differ by a balanced Walsh function, driving the dot product
  *    toward 0). Verified at build time: the generator samples the
  *    max cross-shard cosine between copies of one base vector and
  *    fails loudly if any pair stays near-duplicate.
  *
  * Keys scale FK-consistently: doc_id, o_orderkey/l_orderkey (one
  * shared base from orders, the superset), c_custkey/o_custkey,
  * event_id/user_id, vec_id offset by shard·(max+1); l_suppkey and
  * s_suppkey shift to `key·K + shard` (suppliers scale with SF,
  * matching TPC-H), so per-supplier group sizes stay constant while
  * group COUNT scales — the shape that holds at 100 TB. The PART
  * dimension (and nation/region) stays FIXED: part-side degree grows
  * with SF, which is exactly what engages the g04/g05 hub caps the
  * scale audit watches.
  *
  * Usage: tools/jrun.sh graft.ScaleGen [srcDir] [dstDir] [K] [tables] [mode]
  * `tables` = comma list or `all`; default `documents,lineitem` (the
  * heavy-family scale set). Events' `ts` lands as the engine's
  * normalized long-nanos view — [[Tables.normalizeTs]] passes longs
  * through, so a generated dir behaves identically to a driver dir.
  *
  * `mode` (default `scale`): `volume` writes K EXACT copies of every
  * row — no key offsets, no perturbation — so the corpus grows K× in
  * VOLUME while its key space (users, content digests, CDC keys)
  * stays fixed. That is the deconfounding twin of the default mode for
  * the streaming state audit: default scaling grows keys AND volume
  * together (state ∝ either explains a K× state growth); the
  * volume-only dir separates them — a keyed state store must stay
  * ~FLAT on it while input rows grow K×, and only a row-buffering
  * operator (a stream-stream join's watermark band) may track volume.
  *
  * `skew` (VERDICT r10 "next round" #6) Zipf-sharpens the key
  * distributions at FIXED volume: every scale rung so far grew the
  * corpus distribution-preservingly, but real corpora sharpen their
  * heads as they grow. The mode redirects a `SkewFraction` share of
  * rows onto a `SkewHotKeys`-sized hot set with log-uniform ranks
  * (P(rank ≤ x) ∝ ln x — the Zipf s=1 mass shape), deterministically
  * from row-identity hashes (no RNG; same input ⇒ same corpus):
  *  - `orders.o_custkey`  → hot customers (customer⋈orders joins,
  *    per-customer aggs): top hot customer carries ~fraction/H(64)
  *    ≈ 5% of ALL orders;
  *  - `lineitem.l_orderkey` → hot orders, drawn from orders' real key
  *    set so the FK holds (orders⋈lineitem multiplicity skew — the
  *    shape q33's salt exists for, now imposed on the UNSALTED paths);
  *  - `events.user_id`    → hot users (sessionization / profile
  *    state: one user suddenly owns ~5% of all events);
  *  - `documents.text`    → a `SkewFraction` share of TOKEN
  *    occurrences rewrites to the corpus's own top-`SkewHotKeys`
  *    words, sharpening the token/gram df head the text/dedup cost
  *    models read.
  * Remaining tables copy through unchanged (same dir contract).
  * K is ignored; [[SkewDrill]] is the consuming gate.
  */
object ScaleGen {

  /** The per-shard word-rotation map that [[rotateSql]] applies.
    * Letters (case-preserving) rotate by `(hash(w) + 7·shard) mod 26`,
    * digits independently by `(hash(w) + 3·shard) mod 10`. */
  private val RotFrom: String = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    lower + lower.toUpperCase + "0123456789"
  }

  private val RotAlphas: String = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val digits = "0123456789"
    // indexed by r·10 + d: letters (and uppercase) rotated r, digits d
    (for (r <- 0 until 26; d <- 0 until 10) yield {
      val lo = lower.drop(r) + lower.take(r)
      val dg = digits.drop(d) + digits.take(d)
      s"'${lo + lo.toUpperCase + dg}'"
    }).mkString("array(", ",", ")")
  }

  /** SQL fragment rotating word expression `w` under shard expression
    * `shard` — the class-0 rewrite body. */
  private def rotateSql(w: String, shard: String): String =
    s"""translate($w, '$RotFrom',
       |  element_at($RotAlphas,
       |    pmod(hash($w) + 7 * $shard, 26) * 10 +
       |    pmod(hash($w) + 3 * $shard, 10) + 1))""".stripMargin

  private def maxOf(df: DataFrame, c: String): Long = {
    import df.sparkSession.implicits._
    df.agg(max(col(c).cast("long"))).as[Long].head() + 1
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "target/sfdata/sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val requested = if (args.length > 3) args(3) else "documents,lineitem"
    val all = Seq("documents", "lineitem", "orders", "customer", "supplier",
      "part", "nation", "region", "events", "embeddings")
    val tables =
      if (requested == "all") all
      else {
        val ts = requested.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val unknown = ts.filterNot(all.contains)
        require(unknown.isEmpty, s"unknown table(s): ${unknown.mkString(",")}")
        ts
      }
    val mode = if (args.length > 4) args(4) else "scale"
    require(mode == "scale" || mode == "volume" || mode == "skew",
      s"unknown mode $mode")
    val spark = GraftSession.get("scale-gen")
    import spark.implicits._

    if (mode == "skew") { skewMain(spark, src, dst, tables); return }

    val shards = broadcast(spark.range(k).select($"id".cast("int").as("shard")))
    def write(df: DataFrame, name: String): Unit = {
      df.repartition(32).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scalegen] $name done")
    }
    def sharded(name: String): DataFrame =
      Tables.load(spark, src, name).crossJoin(shards)

    if (mode == "volume") {
      // K exact copies per row, keys untouched: volume grows K×, the
      // key space does not (see the Scaladoc). Dimensions stay as-is.
      for (t <- tables) t match {
        case "part" | "nation" | "region" =>
          write(Tables.load(spark, src, t).coalesce(4), t)
        case t0 => write(sharded(t0).drop("shard"), t0)
      }
      println(s"[scalegen] wrote $dst (volume-only K=$k from $src, " +
        s"tables=${tables.mkString(",")})")
      spark.stop()
      return
    }

    // one shared orderkey base keeps the lineitem↔orders FK intact
    // across shards (orders is the key superset)
    lazy val maxOk = maxOf(Tables.load(spark, src, "orders"), "o_orderkey")
    lazy val maxCust = maxOf(Tables.load(spark, src, "customer"), "c_custkey")

    for (t <- tables) t match {
      case "documents" =>
        val maxDoc = maxOf(Tables.load(spark, src, "documents"), "doc_id")
        // Per-shard perturbation is a TYPE MAP: every occurrence of a
        // word whose hash lands in class 0 (~1/3 of types) is
        // rewritten through the shard's alphabet. Within a shard the
        // same substitution applies to every document, so exact
        // duplicates stay exact; the map is injective on the BASE
        // vocabulary (r10 measurement: 0 merges of 31 types) so depth-1
        // within-shard Jaccard is preserved exactly, and approximately
        // injective at depth ≥ 2 (≤ 12.8%/24.3% type merges at
        // depths 2/3 — see the object scaladoc for why that is
        // accepted and what the decorrelation gate guards).
        // Across shards the rewrite differs, so ~1/3 of tokens
        // (hence ~2/3+ of 3-gram shingles) differ between any two
        // copies, independent of document LENGTH or word positions.
        // The retired position rule ((i+shard)%13) silently failed
        // both ways: docs shorter than 13 words could get NO
        // perturbed position (cross-shard copies stayed IDENTICAL),
        // and single-hit medium docs kept j≈0.6-0.7 — r9's sf10
        // ScaleCheck caught the resulting K²-growing true-pair mass
        // as d04's 93x shuffle blowup.
        // The positional backstop guards the adversarial tail the gate
        // below caught: a doc whose word types ALL miss class 0 would
        // keep identical cross-shard copies under the class rule
        // alone. Long docs use i%7 (≥43% of windows touched — enough
        // because long repetitive docs collapse to few distinct
        // shingles anyway); short docs (<20 words, whose tiny distinct
        // shingle sets can stay at j=0.5 under sparse hits) use i%3,
        // which touches EVERY 3-wide window. Cost: only
        // position-misaligned near-dup pairs degrade, and long docs
        // keep ~17% of windows shared cross-shard so global shingle
        // df still grows ∝ corpus — the regime the derived-cap
        // machinery exists for.
        // The perturbation itself is LENGTH-NEUTRAL: a selected word is
        // rewritten by `translate` through a rotated alphabet — letters
        // by r = (hash(w) + 7·shard) mod 26, digits independently by
        // d = (hash(w) + 3·shard) mod 10. A permutation alphabet makes
        // translate injective for a fixed rotation and preserves byte
        // length EXACTLY — the retired suffix rule
        // (`concat(w,'x',shard)`) grew text bytes ~8% per generation,
        // so a "×10" corpus was really ×10.8 in the unit text operators
        // actually pay for, skewing every ratio measured against
        // dataRatio=10.
        // The rotation key is the sum of a WORD hash and a SHARD
        // stride, and both strides are coprime to their modulus, which
        // buys two properties at once (each killed a real bug):
        //  - distinct shards NEVER apply the same rotation to the same
        //    word (7·Δshard ≢ 0 mod 26, 3·Δshard ≢ 0 mod 10 for
        //    K ≤ 26/10) — a pure per-word-hash key lost this guarantee
        //    and the gate caught 3-token docs whose copies collided
        //    back to j=1.0 at birthday rates;
        //  - at generation depth 2 the key mixes hash(rot(w)), so shard
        //    paths with equal stride sums do NOT compose to one map —
        //    fixed per-shard rotations did (rot_a∘rot_b = rot_{a+b}),
        //    which merged word types across sf10 shards (distinct
        //    shingles halved, d04 candidates blew up 20×).
        // Backstop density is decided on the doc's DISTINCT-SHINGLE
        // count — the exact quantity the near-dup operators see. With
        // _m=7 roughly 17% of token windows dodge both the class rule
        // and the positional backstop (deterministically, so the SAME
        // windows survive in every copy), and for a doc whose distinct
        // 3-gram set is tiny that surviving fraction can carry
        // cross-shard j right up to the 0.5 threshold (the gate caught
        // j=0.500 from exactly such a repetitive doc; an earlier
        // token-count proxy missed it because repetition keeps the
        // token count high while collapsing the shingle SET). Below 64
        // distinct shingles every word is rewritten (_m=1) — a pure
        // type bijection, which preserves within-shard structure
        // exactly and zeroes those docs' cross-shard overlap; at ≥64,
        // shared shingles ≤ ~17% of ≥64 keeps j ≲ 0.1 with enormous
        // margin to 0.5.
        write(sharded("documents")
          .withColumn("_t", expr("sanitize_tokens(text)"))
          .withColumn("_ds", expr(
            """CASE WHEN size(_t) < 3 THEN 0
              |ELSE size(array_distinct(transform(sequence(1, size(_t) - 2),
              |  i -> concat_ws(' ', element_at(_t, i), element_at(_t, i + 1),
              |                 element_at(_t, i + 2))))) END""".stripMargin))
          .withColumn("_m", when($"_ds" < 64, 1).otherwise(7))
          .select(($"doc_id" + $"shard".cast("long") * maxDoc).as("doc_id"),
            expr(s"""array_join(transform(split(text, ' '),
                     (w, i) -> CASE WHEN pmod(hash(w), 3) = 0 OR i % _m = 0
                               THEN ${rotateSql("w", "shard")}
                               ELSE w END), ' ')""")
              .as("text"),
            $"lang", $"source")
          .withColumn("n_chars", length($"text")), "documents")
        // Build-time decorrelation gate — the text twin of the
        // embeddings cosine check: over EVERY base doc, the max
        // cross-shard 3-gram Jaccard between its copies (measured on
        // sanitize_tokens, exactly the dedup operators' view) must sit
        // below the 0.5 near-dup threshold, else the corpus would
        // carry quadratically-growing true-pair mass and poison every
        // linearity measurement downstream.
        val toks = spark.read.parquet(s"$dst/documents.parquet")
          .select(($"doc_id" % maxDoc).as("base"), $"doc_id",
            expr("sanitize_tokens(text)").as("t"))
        val sh3 = toks.select($"base", $"doc_id", expr(
          """CASE WHEN size(t) < 3 THEN array()
            |ELSE array_distinct(transform(sequence(1, size(t) - 2),
            |  i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),
            |                 element_at(t, i + 2)))) END""".stripMargin).as("s"))
        val worstText = sh3.as("a").join(sh3.as("b"),
            col("a.base") === col("b.base") && col("a.doc_id") < col("b.doc_id"))
          .select((size(array_intersect(col("a.s"), col("b.s"))).cast("double") /
            size(array_union(col("a.s"), col("b.s")))).as("j"))
          .agg(max($"j")).as[Option[Double]].head().getOrElse(0.0)
        println(f"[scalegen] documents max cross-shard jaccard = $worstText%.4f")
        require(worstText < 0.5,
          f"cross-shard document copies still near-duplicate (j=$worstText%.3f) — " +
            "the per-shard word-class perturbation failed to decorrelate; fix before measuring")

      case "lineitem" =>
        write(sharded("lineitem")
          .select(($"l_orderkey" + $"shard".cast("long") * maxOk).as("l_orderkey"),
            $"l_partkey",
            ($"l_suppkey" * k + $"shard").as("l_suppkey"),
            $"l_linenumber", $"l_quantity", $"l_extendedprice",
            $"l_discount", $"l_tax", $"l_returnflag", $"l_linestatus",
            $"l_shipdate"), "lineitem")

      case "orders" =>
        write(sharded("orders")
          .select(($"o_orderkey" + $"shard".cast("long") * maxOk).as("o_orderkey"),
            ($"o_custkey" + $"shard".cast("long") * maxCust).as("o_custkey"),
            $"o_orderstatus", $"o_totalprice", $"o_orderdate",
            $"o_orderpriority"), "orders")

      case "customer" =>
        write(sharded("customer")
          .select(($"c_custkey" + $"shard".cast("long") * maxCust).as("c_custkey"),
            $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment"),
          "customer")

      case "supplier" =>
        write(sharded("supplier")
          .select(($"s_suppkey" * k + $"shard").cast("int").as("s_suppkey"),
            $"s_name", $"s_nationkey", $"s_acctbal"), "supplier")

      case "part" | "nation" | "region" =>
        // fixed dimensions: the part space deliberately does NOT scale
        // (degree growth engages the hub caps), nation/region are
        // constant-cardinality reference data
        write(Tables.load(spark, src, t).coalesce(4), t)

      case "events" =>
        val ev = Tables.load(spark, src, "events")
        val maxEid = maxOf(ev, "event_id")
        val maxUid = maxOf(ev, "user_id")
        write(sharded("events")
          .select(($"event_id" + $"shard".cast("long") * maxEid).as("event_id"),
            $"ts",
            ($"user_id" + $"shard".cast("long") * maxUid).as("user_id"),
            $"event_type", $"value", $"props"), "events")

      case "embeddings" =>
        val em = Tables.load(spark, src, "embeddings")
        val dim = em.select(size($"embedding")).as[Int].head()
        require(dim > 1, s"embedding dim $dim too small to shift")
        // orthogonal per-shard transform: circular shift + Walsh signs
        val transformed = sharded("embeddings")
          .select(($"vec_id" + $"shard".cast("long") * maxOf(em, "vec_id")).as("vec_id"),
            expr(
              s"""transform(sequence(0, ${dim - 1}), i ->
                 |  element_at(embedding, ((i + shard) % $dim) + 1) *
                 |  CAST(CASE WHEN bit_count(i & CAST(shard div $dim AS INT)) % 2 = 1
                 |       THEN -1.0 ELSE 1.0 END AS FLOAT))""".stripMargin)
              .as("embedding"),
            $"label")
        write(transformed, "embeddings")
        // build-time decorrelation check: copies of the FIRST base
        // vector across all K shards must not stay near-duplicate
        val minVid = em.agg(min($"vec_id")).as[Long].head()
        val base = maxOf(em, "vec_id")
        val copies = spark.read.parquet(s"$dst/embeddings.parquet")
          .filter($"vec_id" % base === minVid)
        val worst = copies.as("a").crossJoin(copies.as("b"))
          .filter(col("a.vec_id") < col("b.vec_id"))
          .select(expr("cosine_similarity(a.embedding, b.embedding)").as("cos"))
          .agg(max($"cos")).as[Double].head()
        println(f"[scalegen] embeddings max cross-shard cosine = $worst%.4f")
        require(worst < 0.8,
          f"cross-shard embedding copies still near-duplicate (cos=$worst%.3f) — " +
            "the per-shard transform failed to decorrelate; fix before measuring")

      case other => sys.error(s"unhandled table $other")
    }

    println(s"[scalegen] wrote $dst (K=$k from $src, tables=${tables.mkString(",")})")
    spark.stop()
  }

  /** Share of rows (token occurrences, for documents) redirected onto
    * the hot set, and the hot-set size. fraction/H(64) ≈ 5.3% of ALL
    * rows land on the single hottest key — at sf10 that is ~3M
    * lineitem rows behind ONE join key, the per-task-state stress the
    * drill exists to impose. */
  private[graft] val SkewFraction = 0.25
  private[graft] val SkewHotKeys = 64

  /** Deterministic uniform in [0,1) from the row-identity columns plus
    * a purpose salt (selection and rank draws must be independent). */
  private[graft] def unif(salt: String, id: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    pmod(xxhash64((id :+ lit(salt)): _*), lit(1048576L)).cast("double") / 1048576.0

  /** 1-based log-uniform rank in [1, H]: P(rank ≤ x) ≈ ln(x+1)/ln(H+1)
    * — the Zipf s=1 mass shape (rank r carries ~1/r of the hot mass). */
  private[graft] def zipfRank(u: org.apache.spark.sql.Column, h: Int): org.apache.spark.sql.Column =
    // exp(u·ln(h+1)) ∈ [1, h+1) so floor lands in [1, h] directly — a
    // "+ 1" here would shift the range to [2, h+1] and rank 1 (the
    // hottest key!) would never be drawn (caught by SkewGenSpec); the
    // clamp only guards the u→1 float-rounding edge
    least(floor(exp(u * math.log((h + 1).toDouble))).cast("int"), lit(h))

  /** Token-occurrence skew rewrite: each whitespace token of `textCol`
    * independently rewrites (with probability `frac`, drawn from the
    * row identity `docId` + position) to the [[zipfRank]]-selected
    * entry of the `hotCol` array — so the realized token head follows
    * the same Zipf s=1 shape as the key-redirect branches. Built from
    * [[unif]]/[[zipfRank]] rather than re-typed SQL so the rank draw
    * cannot drift from the tested formula (a previous inline-SQL copy
    * used `floor(exp(u·ln(h)))+1`, which lands in [2,h] — rank 1, the
    * hottest word, was never drawn). */
  private[graft] def skewTokenText(textCol: org.apache.spark.sql.Column,
                                   docId: org.apache.spark.sql.Column,
                                   hotCol: org.apache.spark.sql.Column,
                                   frac: Double, h: Int): org.apache.spark.sql.Column =
    array_join(transform(split(textCol, " "), (w, i) =>
      when(unif("skew-wsel", docId, i) < frac,
        element_at(hotCol, zipfRank(unif("skew-wrank", docId, i), h)))
        .otherwise(w)), " ")

  private def skewMain(spark: SparkSession, src: String, dst: String,
                       tables: Seq[String]): Unit = {
    import spark.implicits._
    val frac = SkewFraction
    val h = SkewHotKeys
    def load(t: String): DataFrame = Tables.load(spark, src, t)
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scalegen] $name done (skew)")
    }
    // hot sets are EXISTING keys (FKs stay valid): the H smallest
    // distinct values, which in both driver and generated dirs are
    // dense enough to be ordinary keys, not outliers
    def hotArr(df: DataFrame, c: String): org.apache.spark.sql.Column =
      typedLit(df.select(col(c).cast("long")).distinct()
        .orderBy(col(c)).limit(h).as[Long].collect().toSeq)
    def redirect(df: DataFrame, keyCol: String, hot: org.apache.spark.sql.Column,
                 hN: Int, salt: String,
                 id: org.apache.spark.sql.Column*): DataFrame = {
      val sel = unif(s"$salt-sel", id: _*) < frac
      val pick = element_at(hot, zipfRank(unif(s"$salt-rank", id: _*), hN))
      df.withColumn(keyCol,
        when(sel, pick.cast(df.schema(keyCol).dataType)).otherwise(col(keyCol)))
    }

    for (t <- tables) t match {
      case "orders" =>
        // two heads on one table: the o_custkey JOIN head, plus a
        // WINDOW-key head (VERDICT r11 #4) — o_orderpriority has 5
        // values, so Zipf-redirecting `frac` of rows onto them makes
        // the hottest priority carry ~40% of the fact; the adaptive
        // per-key shard count in Skew.distributionRanks (q32) is the
        // mechanism this stresses. Distinct salts decorrelate the two
        // draws.
        val prio = load("orders")
          .select($"o_orderpriority".cast("string")).na.drop().distinct()
          .orderBy($"o_orderpriority").as[String].collect().toSeq
        write(redirect(
          redirect(load("orders"), "o_custkey",
            hotArr(load("orders"), "o_custkey"), h, "skew", $"o_orderkey"),
          "o_orderpriority", typedLit(prio), prio.size, "skew-prio",
          $"o_orderkey"), "orders")
      case "lineitem" =>
        write(redirect(load("lineitem"), "l_orderkey",
          hotArr(load("orders"), "o_orderkey"), h, "skew",
          $"l_orderkey", $"l_linenumber", $"l_suppkey"), "lineitem")
      case "events" =>
        write(redirect(load("events"), "user_id",
          hotArr(load("events"), "user_id"), h, "skew", $"event_id"), "events")
      case "documents" =>
        // token-occurrence skew: frac of all token OCCURRENCES rewrite
        // to the corpus's own top-h words — the head the text/dedup
        // cost models' realized df histograms must absorb
        val hotWords = typedLit(load("documents")
          .select(explode(expr("sanitize_tokens(text)")).as("w"))
          .groupBy($"w").count().orderBy($"count".desc, $"w").limit(h)
          .select($"w").as[String].collect().toSeq)
        write(load("documents")
          .withColumn("_hot", hotWords)
          .withColumn("text",
            skewTokenText($"text", $"doc_id", $"_hot", frac, h))
          .drop("_hot")
          .withColumn("n_chars", length($"text")), "documents")
      case other =>
        // pass-through: the drill reads one dir, so untouched tables
        // still need to be present
        write(load(other), other)
    }
    println(s"[scalegen] wrote $dst (skew fraction=$frac hot=$h from $src, " +
      s"tables=${tables.mkString(",")})")
    spark.stop()
  }
}
