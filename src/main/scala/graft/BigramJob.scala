package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, sum}

import graft.functions.HadoopTextHash
import graft.operators.Bigrams
import graft.operators.Bigrams.RecordMode

/** CLI mirroring the reference's driver contract
  * (`WordCountV2.java:25-66`: `<input> <output>` + configuration
  * overrides via ToolRunner) — without its latent bugs (the error path
  * indexed missing args, `WordCountV2.java:36-41`).
  *
  * Usage:
  *   BigramJob [--mode line|file] [--zip] [--partitions N]
  *             [--hadoop-layout] [--conf key=value ...] <input> <output>
  *
  * `--conf key=value` (repeatable) is the generic configuration
  * passthrough — the Spark-form equivalent of ToolRunner's
  * `-D key=value` (`WordCountV2.java:18,26`). Static confs reach the
  * session builder; runtime-modifiable confs also apply to a reused
  * session inside [[run]].
  *
  * The job reads its records once and takes one of two routes:
  *  - the default TSV route writes [[Bigrams.counts]] (in-mapper
  *    partial counts → groupBy exchange → sum) with [[Bigrams.writeTsv]],
  *    whose `repartition` is a second exchange unless the planner finds
  *    the aggregate's exchange already matches it;
  *  - `--hadoop-layout` reproduces the reference cluster runs' exact
  *    on-disk layout: 32 (or N) part files placed by Hadoop
  *    `Text.hashCode % N`, keys sorted within each partition —
  *    byte-comparable against `bigram_custom8/9`. It sends the
  *    unsummed [[Bigrams.pairCounts]] straight into the layout's
  *    exchange and sums after it, so the partitioner is the output
  *    layout, as in a MapReduce job (see [[hadoopLayoutLines]]).
  */
object BigramJob {

  case class Config(mode: RecordMode = RecordMode.Lines, zip: Boolean = false,
                    partitions: Int = 32, hadoopLayout: Boolean = false,
                    input: String = "", output: String = "",
                    conf: Map[String, String] = Map.empty)

  def parseArgs(args: Seq[String]): Either[String, Config] = {
    def loop(rest: List[String], c: Config, pos: List[String]): Either[String, Config] =
      rest match {
        case "--mode" :: "line" :: t => loop(t, c.copy(mode = RecordMode.Lines), pos)
        case "--mode" :: "file" :: t => loop(t, c.copy(mode = RecordMode.WholeFiles), pos)
        case "--mode" :: other => Left(s"--mode expects line|file, got ${other.headOption.getOrElse("<nothing>")}")
        case "--zip" :: t => loop(t, c.copy(zip = true), pos)
        case "--partitions" :: n :: t if n.forall(_.isDigit) && n.toIntOption.exists(_ > 0) =>
          loop(t, c.copy(partitions = n.toInt), pos)
        case "--partitions" :: other => Left(s"--partitions expects a positive 32-bit number, got ${other.headOption.getOrElse("<nothing>")}")
        case "--hadoop-layout" :: t => loop(t, c.copy(hadoopLayout = true), pos)
        // generic conf passthrough — the ToolRunner `-D key=value`
        // contract (`WordCountV2.java:18,26`) in Spark form
        case "--conf" :: kv :: t if kv.indexOf('=') > 0 =>
          val i = kv.indexOf('=')
          loop(t, c.copy(conf = c.conf + (kv.take(i) -> kv.drop(i + 1))), pos)
        case "--conf" :: other => Left(s"--conf expects key=value, got ${other.headOption.getOrElse("<nothing>")}")
        case flag :: _ if flag.startsWith("--") => Left(s"unknown flag $flag")
        case p :: t => loop(t, c, p :: pos)
        case Nil => pos.reverse match {
          case in :: out :: Nil => Right(c.copy(input = in, output = out))
          case other => Left(s"expected exactly 2 positional args <input> <output>, got ${other.length}")
        }
      }
    loop(args.toList, Config(), Nil)
  }

  def run(spark: SparkSession, c: Config): Unit = {
    // runtime-settable SQL/session confs apply here; static confs
    // (spark.master etc.) only take effect via `main`'s builder and
    // are skipped (isModifiable) rather than crashing a reused session
    c.conf.foreach { case (k, v) => if (spark.conf.isModifiable(k)) spark.conf.set(k, v) }
    val records = if (c.zip) Bigrams.readZip(spark, c.input, c.mode)
                  else Bigrams.readText(spark, c.input, c.mode)
    if (c.hadoopLayout) writeHadoopLayout(Bigrams.pairCounts(records), c.output, c.partitions)
    else Bigrams.writeTsv(Bigrams.counts(records), c.output, c.partitions)
  }

  /** The `--hadoop-layout` output lines, `key \t count`, one partition
    * per part file: `counts` (a `(key, count)` frame, partial or final
    * counts alike: summing final counts again is the identity) goes
    * through one exchange, `repartitionById` on the codegen'd
    * [[HadoopTextHash.hadoopPartition]] (a pass-through partition-id
    * exchange, which AQE does not coalesce). The sum groups by
    * `(partition id, key)`, a clustering that exchange already
    * satisfies, so the planner adds no second one. Then
    * `sortWithinPartitions` on the key (UnsafeRow string order is
    * Hadoop `Text` byte order) and `concat_ws` formatting. */
  def hadoopLayoutLines(counts: DataFrame, nParts: Int): Dataset[String] = {
    import counts.sparkSession.implicits._
    val Array(key, count) = counts.columns
    val pid = HadoopTextHash.hadoopPartition(col(key), nParts)
    counts
      .repartitionById(nParts, pid)
      .groupBy(pid, col(key)).agg(sum(count).as(count))
      .sortWithinPartitions(key)
      .select(concat_ws("\t", col(key), col(count)))
      .as[String]
  }

  /** MapReduce-identical sink: [[hadoopLayoutLines]] written with
    * `saveAsTextFile` rather than the DataFrame text writer, because
    * the latter skips empty partitions and MapReduce writes every part
    * file, empty or not. */
  def writeHadoopLayout(counts: DataFrame, outDir: String, nParts: Int): Unit =
    hadoopLayoutLines(counts, nParts).rdd.saveAsTextFile(outDir)

  def main(args: Array[String]): Unit = parseArgs(args.toIndexedSeq) match {
    case Left(err) =>
      System.err.println(s"error: $err")
      System.err.println("usage: BigramJob [--mode line|file] [--zip] [--partitions N] [--hadoop-layout] [--conf key=value ...] <input> <output>")
      sys.exit(2)
    case Right(c) =>
      val b = GraftSession.builder("graft-bigram-job")
      c.conf.foreach { case (k, v) => b.config(k, v) }
      val spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      GraftSession.registerFunctions(spark)
      try {
        run(spark, c)
        println(s"bigram job completed: ${c.input} -> ${c.output}")
      } finally spark.stop()
  }
}
