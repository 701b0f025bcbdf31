package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval joins. A POINT-in-band join (`r.t BETWEEN l.t + lo AND
  * l.t + hi`) needs no operator: written as a plain inner join, it is
  * bucketed by [[graft.plans.BandJoinRewrite]] (a02 is one).
  */
object RangeJoin {

  /** Interval OVERLAP join — one row per (left, right) pair of the
    * same key whose closed intervals `[lStart, lEnd]` and
    * `[rStart, rEnd]` intersect: sessions × incident windows,
    * availability × booking spans.
    *
    * Plan shape: both sides explode to the `bucketUs`-wide buckets
    * their interval covers and the join is a plain equi-join on
    * `(keys…, bucket)` with the exact overlap predicate as residual.
    * A pair whose intervals share several buckets would match several
    * times, so each pair is ATTRIBUTED to one canonical bucket — the
    * bucket containing `greatest(lStart, rStart)` (the overlap start,
    * which always lies in both intervals) — as part of the residual:
    * no distinct/dedup shuffle is ever needed.
    *
    * `bucketUs` is the caller's span model: each row explodes to
    * `span/bucketUs + 1` rows, so pick it at or above the TYPICAL
    * interval length (candidates per row stay O(rows within one
    * bucket width)). Rows with NULL endpoints produce nothing (inner
    * semantics); `left`/`right` non-key columns must not collide. */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   lStart: String, lEnd: String,
                   rStart: String, rEnd: String,
                   bucketUs: Long): DataFrame = {
    require(bucketUs >= 1, s"intervalJoin: bucketUs=$bucketUs must be positive")
    val overlap = (left.columns.toSet & right.columns.toSet) -- keys
    require(overlap.isEmpty,
      s"intervalJoin: non-key columns appear on both sides: $overlap — rename first")
    val clash = (left.columns.toSet ++ right.columns.toSet) & Set("_bucket")
    require(clash.isEmpty,
      "intervalJoin: column name _bucket collides with an internal working column — rename first")

    def bucketOf(e: String) =
      expr(s"(($e) - pmod(($e), ${bucketUs}L)) div ${bucketUs}L")
    // degenerate end < start intervals produce nothing (an unguarded
    // sequence() would silently enumerate DESCENDING buckets for them)
    val l = left.filter(col(lStart) <= col(lEnd))
      .withColumn("_bucket",
        explode(sequence(bucketOf(s"`$lStart`"), bucketOf(s"`$lEnd`"))))
    val r = right.filter(col(rStart) <= col(rEnd))
      .withColumn("_bucket",
        explode(sequence(bucketOf(s"`$rStart`"), bucketOf(s"`$rEnd`"))))
    l.join(r, keys :+ "_bucket")
      .filter(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
        col("_bucket") === bucketOf(s"greatest(`$lStart`, `$rStart`)"))
      .drop("_bucket")
      .select((left.columns.map(col) ++
        right.columns.filterNot(keys.contains).map(col)).toSeq: _*)
  }
}
