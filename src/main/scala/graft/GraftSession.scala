package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** The one SparkSession factory of the graft engine: every main
  * (Bench, Verify, Explain, ScaleGen, the audits and drills) calls
  * [[get]], and the bigram job and perfbench start from [[builder]].
  *
  * Local mode runs `local[N]` in one JVM, N = `SPARK_GRAFT_CPUS`, else
  * the JVM's available processors. The same settings scale to a real
  * cluster because they only touch planner behavior (AQE, shuffle
  * partitions), not deployment. AQE is on so skewed joins / small
  * post-shuffle partitions re-plan at runtime — this is the 100 TB
  * posture: we set a *starting* shuffle parallelism and let AQE
  * coalesce or split.
  */
object GraftSession {
  def builder(appName: String = "graft"): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Start AQE-planned shuffles WIDE and let coalescing shrink them:
      // with initialPartitionNum unset, every exchange materializes at
      // shuffle.partitions (= cores), so a join/agg whose per-partition
      // state outgrows its memory share can only SPILL — the r9 sf10
      // ScaleCheck measured 66–74 GB of spill in the pair-mining family
      // from exactly this. 8× cores costs only empty-bucket overhead on
      // small shuffles (AQE coalesces them back to the 64 MB advisory
      // target), and on a real cluster "initial partitions ≫ cores,
      // coalesce down" is the standard AQE posture.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus.toInt * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the events table stores timestamp[ns]; Spark has no nanosecond
      // timestamp type — surface it as a long (nanos since epoch).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerFunctions(spark)
    installOptimizations(spark)
    spark
  }

  /** Install the engine's optimizer rules on an EXISTING session —
    * `withExtensions` only works before the first session of an
    * application is built, so library sessions use the
    * session-mutable `experimental.extraOptimizations` hook instead
    * (idempotent: the rule is an object, re-adding is deduplicated).
    * Conf deployments get the same rule via [[GraftExtensions]]. */
  def installOptimizations(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(graft.plans.BandJoinRewrite))
      spark.experimental.extraOptimizations = cur :+ graft.plans.BandJoinRewrite
  }

  /** name → builder for every custom Catalyst expression the engine
    * exposes to SQL. Single source of truth for the per-session
    * registration below AND the [[graft.GraftExtensions]] injection
    * path — the two surfaces cannot drift apart. */
  private[graft] val SqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" ->
      (es => graft.functions.VectorFunctions.CosineSimilarity(es(0), es(1))),
    "simhash64" -> (es => graft.functions.Hashing.SimHash(es.head)),
    "hadoop_text_hash" -> (es => graft.functions.HadoopTextHash.TextHash(es.head)),
    "minhash_sig" -> (es => graft.functions.Hashing.MinHashSig(es.head, 64, 42L)),
    "rp_signature" ->
      (es => graft.functions.VectorFunctions.RandomProjectionSig(es.head, 8, 12, 42L)),
    "sanitize_tokens" -> (es => graft.functions.TextFunctions.SanitizeTokens(es.head)),
    "word_bigrams" -> (es => graft.functions.TextFunctions.WordNGrams(es.head, 2, "+")),
    // Morton layout key at the max per-column precision the arity
    // allows (63/k bits each) — `CLUSTER BY zorder_key(a, b)` from
    // pure SQL; the Column API (graft.operators.Layout) exposes the
    // explicit-bits variant.
    "zorder_key" -> (es =>
      graft.operators.Layout.zValueExpr(es, bits = 63 / math.max(es.size, 1))),
  )

  /** Expose the engine's custom Catalyst expressions to SQL on an
    * existing session: `SELECT cosine_similarity(a.embedding,
    * b.embedding)`, `simhash64`, `minhash_sig`, `rp_signature`,
    * `hadoop_text_hash`, …. For sessions the library never touches
    * (pure-SQL deployments), [[graft.GraftExtensions]] injects the
    * same table via `spark.sql.extensions`. */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    SqlFunctions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** Table loading helpers for the driver's parquet fixtures. */
object Tables {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{col, unix_micros}
  import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

  /** The `events.ts` contract across the engine is "long nanos since
    * epoch": the original fixtures stored parquet `timestamp[ns]`,
    * which `nanosAsLong` surfaces as a raw long, and every query works
    * in `ts div 1000` microseconds. Newer fixture generations store
    * `timestamp[us]` instead (read as TIMESTAMP_NTZ, untouched by the
    * legacy flag) — normalize back to the long-nanos view so the whole
    * surface is storage-unit-stable. All engine sessions run in UTC,
    * so the NTZ→instant cast is exact and matches DuckDB's naive
    * `epoch_us(ts)` reading of the same file. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType == TimestampType || f.dataType == TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case _ => df
    }

  /** On-disk file schema, un-normalized — what `readStream.schema(…)`
    * must be handed before [[normalizeTs]] is applied to the stream. */
  def rawSchema(spark: SparkSession, sfDir: String, name: String) =
    spark.read.parquet(s"$sfDir/$name.parquet").schema

  def load(spark: SparkSession, sfDir: String, name: String) =
    normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet"))
}
