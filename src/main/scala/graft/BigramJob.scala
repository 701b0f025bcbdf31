package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws}

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
  * `--hadoop-layout` reproduces the reference cluster runs' exact
  * on-disk layout: 32 (or N) part files placed by Hadoop
  * `Text.hashCode % N` with keys sorted within each partition —
  * byte-comparable against `bigram_custom8/9`. Implemented as one
  * Catalyst plan: `repartitionById` on the codegen'd
  * `HadoopTextHash.hadoopPartition` (a pass-through partition-id
  * exchange, which AQE does not coalesce), `sortWithinPartitions` on the
  * key (UnsafeRow string order is Hadoop `Text` byte order) and
  * `concat_ws` formatting. The lines are written with `saveAsTextFile`
  * rather than the DataFrame text writer, because the latter skips
  * empty partitions and MapReduce writes every part file, empty or not.
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
    val counts = if (c.zip) Bigrams.fromZip(spark, c.input, c.mode)
                 else Bigrams.fromTextFiles(spark, c.input, c.mode)
    if (c.hadoopLayout) writeHadoopLayout(counts, c.output, c.partitions)
    else Bigrams.writeTsv(counts, c.output, c.partitions)
  }

  /** MapReduce-identical sink: `Text.hashCode % N` placement, keys
    * sorted within partitions, `key \t count` lines, all `N` part files. */
  def writeHadoopLayout(counts: DataFrame, outDir: String, nParts: Int): Unit = {
    import counts.sparkSession.implicits._
    val Array(key, count) = counts.columns.map(col)
    counts
      .repartitionById(nParts, HadoopTextHash.hadoopPartition(key, nParts))
      .sortWithinPartitions(key)
      .select(concat_ws("\t", key, count))
      .as[String].rdd
      .saveAsTextFile(outDir)
  }

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
