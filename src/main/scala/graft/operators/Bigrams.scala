package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** The reference's flagship pipeline — bigram frequency counts over a
  * text corpus (`src/main/java/WordCountV2.java`) — as one declarative
  * Catalyst plan: scan → `bigram_counts` (sanitize, tokenize and count
  * pairs per task) → groupBy.sum → (optionally key-sorted) TSV sink.
  *
  * Two record granularities, both observable in the reference's golden
  * outputs (SURVEY.md §5.2):
  *  - [[RecordMode.Lines]]  — one record per text line; bigrams never
  *    span newlines (`bigram_custom9`, the committed `TextInputFormat`
  *    pipeline).
  *  - [[RecordMode.WholeFiles]] — one record per file / ZIP entry;
  *    bigrams span line boundaries (`bigram_custom8`).
  *
  * Scale notes (100 TB posture):
  *  - Map side is an in-mapper combiner
  *    ([[graft.functions.BigramCounts]]): each task counts token-id
  *    pairs in a bounded table and emits one row per distinct pair at
  *    the end of its partition, so no record is inflated into token or
  *    bigram arrays and a bigram string is built once per distinct pair
  *    per task. The Generate runs interpreted; the partial aggregate
  *    above it is whole-stage codegen.
  *  - One shuffle per plan. [[counts]] shuffles on the groupBy's
  *    exchange, after the partial aggregate. The `--hadoop-layout` sink
  *    ([[graft.BigramJob.writeHadoopLayout]]) sends [[pairCounts]]
  *    straight into its `Text.hashCode % N` exchange and sums after
  *    it, so, as in a MapReduce job, the partitioner is the output
  *    layout. Either way the shuffle carries one row per distinct pair
  *    per task: strictly less than the reference, which set no
  *    combiner and shuffled every (bigram, 1) pair
  *    (`WordCountV2.java:44-57`).
  *  - Skew: bigram keys are Zipf-ish but the map side collapses the heavy
  *    hitters, so no salting is needed for counts.
  */
object Bigrams {

  sealed trait RecordMode
  object RecordMode {
    case object Lines      extends RecordMode
    case object WholeFiles extends RecordMode
  }

  /** Read a text corpus as records of the given granularity → `value: string`. */
  def readText(spark: SparkSession, path: String, mode: RecordMode): DataFrame =
    mode match {
      case RecordMode.Lines      => spark.read.text(path)
      case RecordMode.WholeFiles => spark.read.option("wholetext", "true").text(path)
    }

  /** Read a ZIP corpus as records of the given granularity — via the
    * DSv2 `zip-entries` source ([[graft.sources.v2.ZipEntriesSource]]):
    * entry-granular splits planned from each archive's central
    * directory, per-entry decompress, no whole-archive buffering.
    * Line mode ends a line at `\r\n`, `\r` or `\n`, as Hadoop's
    * `LineReader` does on the text route. */
  def readZip(spark: SparkSession, path: String, mode: RecordMode): DataFrame = {
    val text = spark.read.format("zip-entries").load(path)
      .select(decode(col("content"), "UTF-8").as("value"))
    mode match {
      case RecordMode.WholeFiles => text
      case RecordMode.Lines =>
        text.select(explode(split(col("value"), "\r\n|\r|\n")).as("value"))
    }
  }

  /** `records[textCol] → (bigram: string, count: long)`: the in-mapper
    * partial counts of `bigram_counts`, one row per distinct pair per
    * task (per flush), not yet summed across tasks. A sink that brings
    * its own exchange sums them after it. */
  def pairCounts(records: DataFrame, textCol: String = "value"): DataFrame =
    records.select(bigramCounts(col(textCol)))

  /** [[pairCounts]] summed per key: the final `(bigram, count)` totals. */
  def counts(records: DataFrame, textCol: String = "value"): DataFrame =
    pairCounts(records, textCol)
      .groupBy("bigram")
      .agg(sum("count").as("count"))

  /** End-to-end: corpus path → bigram counts. */
  def fromTextFiles(spark: SparkSession, path: String,
                    mode: RecordMode = RecordMode.Lines): DataFrame =
    counts(readText(spark, path, mode))

  def fromZip(spark: SparkSession, path: String,
              mode: RecordMode = RecordMode.Lines): DataFrame =
    counts(readZip(spark, path, mode))

  /** TSV sink matching the reference's output contract
    * (`WordCountV2.java:51-53`): `key \t value` lines, `part-*` files +
    * `_SUCCESS`, keys sorted within each partition (MapReduce's shuffle
    * sort made that implicit; here it is explicit and only at the sink). */
  def writeTsv(df: DataFrame, outDir: String, numPartitions: Int = 32): Unit = {
    val cols = df.columns.map(col)
    df.repartition(numPartitions, col("bigram"))
      .sortWithinPartitions(col("bigram"))
      .select(concat_ws("\t", cols: _*).as("value"))
      .write.mode(SaveMode.Overwrite).text(outDir)
  }
}
