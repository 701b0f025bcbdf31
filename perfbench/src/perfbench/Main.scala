package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.spark.perfbench.{BusDrain, GroupCpu}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{BigramJob, GraftSession}
import graft.functions.TextFunctions
import graft.operators.Bigrams
import graft.operators.Bigrams.RecordMode

/** JVM side of the benchmark: runs one workload in one Spark session and
  * writes its measurements to a JSON file. `perfbench/run.py` builds the
  * classes, starts this main, checks the query mix's outputs against DuckDB
  * and prints the result.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work-dir> <result.json> <tables-dir>
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, result: File, tables: File)

  def main(argv: Array[String]): Unit = {
    if (argv.length != 7) {
      System.err.println("usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work-dir> <result.json> <tables-dir>")
      sys.exit(2)
    }
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      new File(argv(4)), new File(argv(5)), new File(argv(6)))
    val w = a.workload match {
      case "zip-wholefile-hadoop" => CorpusBench.ZipWholeFile
      case "text-lines-tsv" => CorpusBench.TextLines
      case other =>
        System.err.println(s"unknown workload $other")
        sys.exit(2)
    }
    val out = new CorpusBench(a, w).run()
    Files.write(a.result.toPath, Json.render(out).getBytes(UTF_8))
  }
}

object CorpusBench {
  val Parts = 32

  /** `mix` is the share of the query mix the workload's traced run
    * times, for the `queries` layer. */
  final case class Workload(spec: Corpus.Spec, zip: Boolean, mode: RecordMode,
                            hadoopLayout: Boolean, mix: Seq[String])

  /** The reference's `custom8` run: ZIP archives, whole-file records,
    * Hadoop layout. Large vocabulary: distinct bigrams are about a tenth of
    * all bigram occurrences, so the aggregate holds hundreds of thousands
    * of keys. */
  val ZipWholeFile = Workload(
    Corpus.Spec(bytes = 12L << 20, vocab = 40000, successors = 6, follow = 0.85,
      archives = 8, entries = 40, longLines = 2, longLineBytes = 640 << 10),
    zip = true, RecordMode.WholeFiles, hadoopLayout = true,
    mix = Seq("t01_bigram_counts", "t19_collocations", "g01_pagerank",
      "g05_jaccard_predict", "q21_join5"))

  /** The committed `TextInputFormat` pipeline (`custom9`): plain text,
    * line records, DataFrame TSV sink. Small vocabulary: distinct bigrams
    * are under a hundredth of occurrences, so map-side combining collapses
    * the aggregate. */
  val TextLines = Workload(
    Corpus.Spec(bytes = 32L << 20, vocab = 150, successors = 6, follow = 0.5,
      archives = 0, entries = 1, longLines = 4, longLineBytes = 640 << 10),
    zip = false, RecordMode.Lines, hadoopLayout = false,
    mix = Seq("m05_audio_decode", "m08_audio_fingerprint", "m10_audio_segments",
      "m11_gif_frames", "d07_dup_components", "d13_semantic_clusters", "t23_window_pmi"))

  /** The fixed query mix: the multimodal, dedup, text and graph families
    * the open optimisation work targets, and one relational join as the
    * control. Each query runs in exactly one workload's traced run; the
    * split evens out the two traced runs' length (the DuckDB oracle of
    * `g01_pagerank` alone takes about half a minute). */
  val Mix: Seq[String] = TextLines.mix ++ ZipWholeFile.mix

  val QueryMetrics: Seq[String] = Seq("wall_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb")
}

/** One corpus workload: the session, the probes, the operation tally and
  * the span buffer, and the two ways of running it (timed or traced). */
final class CorpusBench(a: Main.Args, w: CorpusBench.Workload) {
  import CorpusBench.Parts

  /** Cores of the local master: `nproc`, at most 4. */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  private var spark: SparkSession = _
  private var probe: Probe = _
  private val tracer = new Tracer
  private var attempted = 0L
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  private var jobs = 0

  private def nanos[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Starts the session three times, stopping it in between, and keeps the
    * last; returns the median start time. */
  private def startSession(): Double = {
    val times = (1 to 3).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      nanos {
        spark = GraftSession.builder("perfbench")
          .master(s"local[$cores]")
          .config("spark.sql.shuffle.partitions", cores.toString)
          .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (cores * 8).toString)
          .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
          .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").toURI.toString)
          .getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        GraftSession.registerFunctions(spark)
        GraftSession.installOptimizations(spark)
      }._1
    }
    probe = new Probe(spark.sparkContext)
    Stats.median(times)
  }

  /** Runs one operation: counts it, and records a failure (by `name`) if
    * it throws. */
  private def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) => failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"; None
    }
  }

  /** Drains collector and cleaner debt onto the gap between measurements,
    * so every measurement starts from the same heap. */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(100)
    HeapProbe.reset()
  }

  /** Peak live heap since the last [[settle]], including what the job
    * still holds when it ends. */
  private def peakHeapMb(): Double = {
    System.gc()
    Thread.sleep(50)
    HeapProbe.peakMb
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def dirMb(f: File): Double = {
    def size(x: File): Long =
      if (x.isDirectory) Option(x.listFiles()).toSeq.flatten.map(size).sum else x.length()
    size(f) / (1024.0 * 1024.0)
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)

  /** Repeats `body` while the next repetition, at the median length so
    * far, would end within `seconds`; at least `atLeast` times. */
  private def repeatFor[T](atLeast: Int, seconds: Double)(body: => T): Vector[T] = {
    val t0 = System.nanoTime()
    val out = Vector.newBuilder[T]
    var lengths = Vector.empty[Double]
    var go = true
    while (go) {
      val (s, r) = nanos(body)
      out += r
      lengths :+= s
      go = lengths.size < atLeast ||
        (System.nanoTime() - t0) / 1e9 + Stats.median(lengths) <= seconds
    }
    out.result()
  }

  def run(): Map[String, Any] = {
    val sessionS = startSession()
    val dir = new File(a.work, "input")
    deleteTree(dir)
    dir.mkdirs()
    val (genS, layout) = nanos(
      if (w.zip) Corpus.writeZip(dir, a.seed, w.spec) else Corpus.writeText(dir, a.seed, w.spec))
    // ZIP input is the directory of archives, as the reference job takes it
    val input = if (w.zip) dir else new File(dir, "corpus.txt")
    val (oracleS, ref) = nanos(RefBigrams.of(
      if (w.zip) RefBigrams.zipEntries(dir) else RefBigrams.lines(input), cores))
    val out = new File(a.work, "out")
    val cfg = BigramJob.Config(mode = w.mode, zip = w.zip, partitions = Parts,
      hadoopLayout = w.hadoopLayout, input = input.getPath, output = out.getPath)
    val sc = spark.sparkContext

    /** The user's job, `BigramJob.run`, timed with no listener of the
      * benchmark's own on the session; its executor CPU read from Spark's
      * status store and its output checked after. */
    def job(): Option[(Double, Double, Double)] = {
      deleteTree(out)
      settle()
      jobs += 1
      val group = s"job-$jobs"
      sc.setJobGroup(group, group)
      val (s, r) = nanos(op("job")(BigramJob.run(spark, cfg)))
      sc.clearJobGroup()
      val heap = peakHeapMb()
      BusDrain(sc)
      val cpu = GroupCpu(sc, group)
      r.foreach(_ => RefBigrams.check(out, ref, Parts, w.hadoopLayout)
        .foreach(p => failures += s"job output: $p"))
      deleteTree(out)
      r.map(_ => (s, cpu, heap))
    }

    val inputMb = layout.bytes / (1024.0 * 1024.0)
    val (setup, metrics) =
      if (!a.trace) {
        // the job gets faster over its first few runs, as the JIT
        // compiles it
        val (warmS, _) = nanos((1 to 5).foreach(_ => job()))
        val setup = Map("session_s" -> sessionS, "generate_s" -> genS, "oracle_s" -> oracleS,
          "warmup_s" -> warmS)
        val ok = repeatFor(1, a.seconds)(job()).flatten
        val wall = med(ok.map(_._1))
        (setup, Map("wall_s" -> wall, "throughput_mb_s" -> inputMb / wall,
          "cpu_s" -> med(ok.map(_._2)), "peak_heap_mb" -> med(ok.map(_._3)),
          "setup_s" -> setup.values.sum, "samples" -> ok.size,
          "sample_wall_s" -> ok.map(_._1), "sample_cpu_s" -> ok.map(_._2),
          "sample_heap_mb" -> ok.map(_._3)))
      } else {
        probe.attach()
        val root = tracer.start(0, a.workload)
        val records = () =>
          if (w.zip) Bigrams.readZip(spark, input.getPath, w.mode)
          else Bigrams.readText(spark, input.getPath, w.mode)
        val layers = pipelineLayers(new Cuts(records, ref, out), () => job().map(_._1), root)
        val (mixS, queries) = nanos(queryLayer(root))
        tracer.end(root)
        Files.write(new File(a.work, "spans.json").toPath,
          Json.render(tracer.all.map(_.toMap)).getBytes(UTF_8))
        (Map("session_s" -> sessionS, "generate_s" -> genS, "oracle_s" -> oracleS,
          "queries_s" -> mixS), layers ++ queries)
      }
    val result = Map("workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> cores, "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.toSeq,
      "setup" -> setup, "metrics" -> metrics,
      "corpus" -> (layout.toMap ++ ref.toMap ++ Map("input_mb" -> inputMb)),
      "mix_outputs" -> new File(a.work, "mix-out").getPath, "mix" -> w.mix)
    spark.stop()
    result
  }

  /** The bigram pipeline cut after each layer, each cut forced by an action
    * that consumes every column it produces and started from a settled
    * heap, as the untraced job is. Times are cumulative: a layer's self
    * time is its cut minus the cut before. */
  private final class Cuts(records: () => DataFrame, ref: RefBigrams, out: File) {
    /** Span the cuts hang below. */
    var parent = 0

    private def traced[T](name: String)(action: => T): (Double, Counters, Option[T]) = {
      settle()
      probe.reset()
      val id = tracer.start(parent, name)
      val (s, r) = nanos(op(s"cut $name")(action))
      tracer.end(id)
      val c = probe.take()
      tracer.addTasks(id, c)
      (s, c, r)
    }

    private def tokens(df: DataFrame) = df.select(TextFunctions.tokenize(col("value")).as("tokens"))
    private def pairs(df: DataFrame) =
      tokens(df).select(explode(TextFunctions.bigrams(col("tokens"))).as("bigram"))

    /** Splits planned for the scan: building the DataFrame and its RDD. */
    def plan(): (Double, Int) =
      nanos(records().queryExecution.executedPlan.execute().getNumPartitions)

    def scan(): Double =
      traced("scan")(records().write.format("noop").mode("overwrite").save())._1

    def tokenize(): (Double, Long) = {
      val (s, _, r) = traced("tokenize") {
        tokens(records()).agg(sum(size(col("tokens")))).head().getLong(0)
      }
      r.filter(_ != ref.tokens).foreach(n => failures += s"cut tokenize: $n tokens, expected ${ref.tokens}")
      (s, r.getOrElse(-1L))
    }

    def bigrams(): (Double, Long) = {
      val (s, _, r) = traced("bigrams") {
        pairs(records()).agg(count(col("bigram")), sum(length(col("bigram")))).head().getLong(0)
      }
      r.filter(_ != ref.pairs).foreach(n => failures += s"cut bigrams: $n pairs, expected ${ref.pairs}")
      (s, r.getOrElse(-1L))
    }

    def aggregate(): (Double, Counters) = {
      val (s, c, r) = traced("aggregate") {
        val row = Bigrams.counts(records())
          .agg(count(lit(1)), sum(col("count")), sum(length(col("bigram")))).head()
        (row.getLong(0), row.getLong(1))
      }
      r.filter(_ != ((ref.rows, ref.pairs))).foreach { case (rows, n) =>
        failures += s"cut aggregate: $rows rows over $n pairs, expected ${ref.rows} over ${ref.pairs}"
      }
      (s, c)
    }

    def hadoopSink(): (Double, Counters, Double) = sink("hadoop-layout", hadoop = true)(
      BigramJob.writeHadoopLayout(Bigrams.counts(records()), out.getPath, Parts))

    def tsvSink(): (Double, Counters, Double) = sink("write-tsv", hadoop = false)(
      Bigrams.writeTsv(Bigrams.counts(records()), out.getPath, Parts))

    private def sink(name: String, hadoop: Boolean)(write: => Unit): (Double, Counters, Double) = {
      deleteTree(out)
      val (s, c, _) = traced(name)(write)
      val mb = dirMb(out)
      RefBigrams.check(out, ref, Parts, hadoop).foreach(p => failures += s"cut $name output: $p")
      deleteTree(out)
      (s, c, mb)
    }
  }

  /** Per-layer metrics of the bigram pipeline, as medians over rounds of
    * cuts (as many as half the measuring window holds, but at least three:
    * over two, a median is a mean, and the self times would sum to the
    * full job by construction), after one round that warms every cut up
    * and is not counted. Both sinks are cut on every workload, so both
    * sink layers are measured on each. Each round also runs the untraced
    * job, with the listener detached, as the base of the tracing overhead. */
  private def pipelineLayers(cuts: Cuts, untracedJob: () => Option[Double],
                             parent: Int): Map[String, Any] = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var self = Vector.empty[Seq[Double]]
    def round(name: String): Unit = {
      cuts.parent = tracer.start(parent, name)
      val (planS, parts) = cuts.plan()
      val scanS = cuts.scan()
      val (tokS, toks) = cuts.tokenize()
      val (bgS, pairs) = cuts.bigrams()
      val (aggS, aggC) = cuts.aggregate()
      // the untraced job runs right before the workload's own sink cut,
      // so the two identical jobs differ only in the tracing
      var untraced = Double.NaN
      def untracedIf(own: Boolean): Unit = if (own) {
        probe.detach()
        try untraced = untracedJob().getOrElse(Double.NaN) finally probe.attach()
      }
      untracedIf(w.hadoopLayout)
      val (hS, hC, hMb) = cuts.hadoopSink()
      untracedIf(!w.hadoopLayout)
      val (tS, tC, tMb) = cuts.tsvSink()
      tracer.end(cuts.parent)
      val (ownS, ownC) = if (w.hadoopLayout) (hS, hC) else (tS, tC)
      self :+= Seq(scanS, tokS - scanS, bgS - tokS, aggS - bgS, ownS - aggS)
      rows += Map(
        "sources.plan_s" -> planS, "sources.scan_s" -> scanS, "sources.partitions" -> parts.toDouble,
        "functions.tokenize_s" -> (tokS - scanS), "functions.tokens" -> toks.toDouble,
        "functions.bigrams_s" -> (bgS - tokS), "functions.bigram_pairs" -> pairs.toDouble,
        "operators.aggregate_s" -> (aggS - bgS),
        "operators.combine_ratio" -> aggC.maxShuffleRecords.toDouble / math.max(pairs, 1L),
        "operators.shuffle_write_mb" -> aggC.shuffleWriteMb, "operators.spill_mb" -> aggC.spillMb,
        "operators.peak_task_mem_mb" -> aggC.peakTaskMemMb,
        "bigramjob.write_hadoop_layout_s" -> (hS - aggS), "bigramjob.output_mb" -> hMb,
        "operators.write_tsv_s" -> (tS - aggS), "operators.output_mb" -> tMb,
        "exec.map_stage_cpu_s" -> ownC.mapCpuS, "exec.reduce_stage_cpu_s" -> ownC.reduceCpuS,
        "exec.gc_s" -> ownC.gcS, "exec.tasks" -> ownC.tasks.size.toDouble,
        "exec.map_task_max_over_median" -> ownC.mapMaxOverMedian,
        "trace.full_s" -> ownS, "trace.untraced_s" -> untraced)
    }
    val (warmS, _) = nanos(round("warmup"))
    rows.clear()
    self = Vector.empty
    repeatFor(3, a.seconds / 2)(round("round"))
    val medians = rows.flatMap(_.keys).distinct.map(k => k -> med(rows.flatMap(_.get(k)).toSeq)).toMap
    val full = medians("trace.full_s")
    val selfSum = (0 until 5).map(i => med(self.map(_(i)))).sum
    (medians - "trace.full_s" - "trace.untraced_s") ++ Map(
      "trace.overhead_frac" -> (full / medians("trace.untraced_s") - 1),
      "trace.residual_frac" -> math.abs(selfSum - full) / full,
      "trace.rounds" -> rows.size.toDouble, "trace.warmup_s" -> warmS)
  }

  /** The `queries` layer: this workload's share of the query mix,
    * over the fixture tables. A first pass warms each query up and writes
    * its full output as parquet, with the oracle SQL beside it, for
    * `mix_oracle.py`; a second, traced pass times each query into a `noop`
    * sink. Queries of the other workload's share read 0; a query that
    * throws reads NaN. */
  private def queryLayer(parent: Int): Map[String, Double] = {
    val dir = a.tables.getPath
    val queries = graft.SparkEntry.queries
    val outputs = new File(a.work, "mix-out")
    deleteTree(outputs)
    outputs.mkdirs()
    w.mix.foreach { q =>
      op(s"$q correctness")(queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(new File(outputs, q).getPath))
    }
    Files.write(new File(outputs, "oracle_sql.json").toPath, Json.render(
      w.mix.map(q => q -> graft.SparkEntry.oracleSql.get(q)).toMap).getBytes(UTF_8))

    settle()
    val id = tracer.start(parent, "queries")
    val measured = w.mix.flatMap { q =>
      probe.reset()
      val qid = tracer.start(id, q)
      val (s, r) = nanos(op(q)(queries(q)(spark, dir).write.format("noop").mode("overwrite").save()))
      tracer.end(qid)
      val c = probe.take()
      tracer.addTasks(qid, c)
      val values = r.fold(Seq.fill(5)(Double.NaN))(_ =>
        Seq(s, c.cpuS, c.gcS, c.shuffleWriteMb, c.spillMb))
      CorpusBench.QueryMetrics.zip(values).map { case (m, v) => s"queries.$q.$m" -> v }
    }.toMap
    tracer.end(id)
    (for (q <- CorpusBench.Mix; m <- CorpusBench.QueryMetrics)
      yield s"queries.$q.$m" -> measured.getOrElse(s"queries.$q.$m", 0.0)).toMap
  }
}
