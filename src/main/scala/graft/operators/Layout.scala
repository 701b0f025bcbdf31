package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Multi-dimensional data layout: Z-order (Morton) clustering so that
  * parquet min/max statistics prune on EVERY clustered column, not
  * just the leading sort key. A corpus sorted linearly by `user_id`
  * answers `user_id = ?` from a handful of row groups but scans
  * everything for `hour = ?`; Z-ordering interleaves the key bits so
  * each file covers a small BOX in (user, hour) space and both
  * predicates prune. This is a write-time layout choice — readers are
  * plain parquet scans, no index structure to maintain.
  *
  * The key is pure integer bit-interleaving (no UDF, one codegen
  * expression): bit `i` of column `c` lands at position
  * `i*k + (k-1-c)` of the key, most-significant column first. Columns
  * must already be NON-NEGATIVE bucket ordinals that fit in `bits`
  * bits — normalizing a raw domain (hashing, ranking, clamping) is
  * the caller's modeling decision, and `bits` bounds the key at
  * `k*bits ≤ 63` so the whole key stays in a Long.
  */
object Layout {

  /** The Morton key for `cols` (each a non-negative integral column
    * using at most `bits` low bits; higher bits are masked off). */
  def zValue(cols: Seq[Column], bits: Int = 16): Column =
    ColumnBridge.column(zValueExpr(cols.map(ColumnBridge.expression), bits))

  /** [[zValue]] over raw Catalyst expressions — the form the SQL
    * `zorder_key` registration needs, since a FunctionRegistry hands
    * over child Expressions. Bit `i` of input `c` lands at
    * `i*k + (k-1-c)`, concrete nodes only. */
  private[graft] def zValueExpr(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      bits: Int): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    require(es.nonEmpty, "zValue: no columns")
    require(bits >= 1 && es.size * bits <= 63,
      s"zValue: ${es.size} cols x $bits bits must fit in a positive Long")
    val k = es.size
    val terms = for {
      (e, ci) <- es.zipWithIndex
      i <- 0 until bits
    } yield ShiftLeft(
      BitwiseAnd(ShiftRight(Cast(e, LongType), Literal(i)), Literal(1L)),
      Literal(i * k + (k - 1 - ci)))
    terms.reduceLeft[Expression]((a, b) => Add(a, b))
  }

  /** The same arithmetic as DuckDB/ANSI SQL — generated from one
    * shared loop so the oracle cannot drift from the engine. */
  private[graft] def zValueSql(cols: Seq[String], bits: Int = 16): String = {
    val k = cols.size
    val terms = for {
      (c, ci) <- cols.zipWithIndex
      i <- 0 until bits
    } yield s"(((CAST($c AS BIGINT) >> $i) & 1) << ${i * k + (k - 1 - ci)})"
    terms.mkString(" + ")
  }

  /** Cluster `df` for writing: range-partition on the Morton key of
    * `cols` (so each output task owns a contiguous Z-range = a small
    * multi-dimensional box) and sort within partitions. Pair with
    * [[graft.sources.CorpusSink]] or a plain parquet write; each
    * row group's min/max then prunes on every clustered column.
    * One range exchange — the same cost as a linear global sort. */
  def zorder(df: DataFrame, cols: Seq[String], bits: Int = 16,
             numPartitions: Int = 0): DataFrame = {
    val withZ = df.withColumn("_z", zValue(cols.map(col), bits))
    val parted =
      if (numPartitions > 0) withZ.repartitionByRange(numPartitions, col("_z"))
      else withZ.repartitionByRange(col("_z"))
    parted.sortWithinPartitions(col("_z")).drop("_z")
  }

  /** Zone maps — the min/max-per-block statistics a lakehouse scan
    * consults to SKIP blocks whose value range cannot satisfy the
    * predicate (parquet row-group stats, Delta/Iceberg file stats).
    * One row per `zoneCol` value: row count plus `min_c`/`max_c` for
    * every stat column. Building them is a single partial+final
    * aggregate keyed on the zone id — min/max/count all combine
    * map-side, so the exchange carries zone-count rows, never data
    * rows, at any scale. Pair with [[zValue]]-derived zones to
    * measure what a Z-ordered layout buys: zones from a Morton-key
    * prefix cover small multi-dimensional BOXES, so their per-column
    * ranges are narrow and far more predicates prune (x24 quantifies
    * exactly that against arrival-order zones). */
  def zoneMap(df: DataFrame, zoneCol: String, statCols: Seq[String]): DataFrame = {
    require(statCols.nonEmpty, "zoneMap: no stat columns")
    val aggs = count(lit(1)).as("n_rows") +: statCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.groupBy(col(zoneCol)).agg(aggs.head, aggs.tail: _*)
  }
}
