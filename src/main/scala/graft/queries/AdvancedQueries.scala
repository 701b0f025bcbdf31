package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Aggregators

/** Advanced operator coverage: as-of join, range join, pivot, exact
  * percentiles, JSON extraction, custom typed UDAF. Each with a DuckDB
  * oracle mirroring the semantics exactly.
  */
object AdvancedQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // As-of join: each purchase ↔ the user's most recent click at or
    // before it, via the library operator ([[graft.operators.AsOf]]):
    // single union+window pass, ONE shuffle on user_id, linear per
    // user — never the O(clicks × purchases) candidate blowup of the
    // join+row_number composition. tieBreak=click_id reproduces the
    // "largest click_id among same-microsecond clicks" rule.
    "a01_asof_join" -> ((s, dir) => {
      import s.implicits._
      val e = ev(s, dir).select($"user_id", $"event_id", $"event_type",
        expr("ts div 1000").as("tus"))
      val p = e.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("purchase_id"), $"tus".as("ptus"))
      val c = e.filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("click_id"), $"tus".as("ctus"))
      graft.operators.AsOf.asofJoin(p, c, Seq("user_id"),
          leftTime = "ptus", rightTime = "ctus", tieBreak = Seq("click_id"))
        .filter($"click_id".isNotNull) // inner as-of: drop clickless purchases
        .select($"purchase_id", $"click_id", ($"ptus" - $"ctus").as("gap_us"))
        .orderBy($"purchase_id")
    }),

    // NEAREST-direction as-of: the closest click in ABSOLUTE time to
    // each purchase within ±1 h, ties resolved backward (pandas'
    // documented convention). Same single key-shuffle as a01 — the
    // tagged union gets two window passes (asc carry + desc carry)
    // over one exchange, then a per-row arithmetic pick; "nearest"
    // costs one extra sort, never a candidate-pair join.
    "a11_asof_nearest" -> ((s, dir) => {
      import s.implicits._
      val e = ev(s, dir).select($"user_id", $"event_id", $"event_type",
        expr("ts div 1000").as("tus"))
      val p = e.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("purchase_id"), $"tus".as("ptus"))
      val c = e.filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("click_id"), $"tus".as("ctus"))
      graft.operators.AsOf.asofNearest(p, c, Seq("user_id"),
          leftTime = "ptus", rightTime = "ctus",
          toleranceUs = Some(3600000000L), tieBreak = Seq("click_id"))
        .filter($"click_id".isNotNull)
        .select($"purchase_id", $"click_id", abs($"ptus" - $"ctus").as("adist_us"))
        .orderBy($"purchase_id")
    }),

    // Time-series interpolation at query points: each purchase gets
    // the user's view-value linearly interpolated between the
    // BRACKETING views (±2 h tolerance; one-sided falls back to the
    // available side, coincident brackets to the backward row). Built
    // on AsOf.asofBracket — both bracket carries ride the same single
    // key-shuffle; the lerp is per-row arithmetic with an exact
    // association order shared with the oracle.
    "a12_interpolate" -> ((s, dir) => {
      import s.implicits._
      val e = ev(s, dir).select($"user_id", $"event_id", $"event_type",
        expr("ts div 1000").as("tus"), $"value")
      val p = e.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("purchase_id"), $"tus".as("ptus"))
      val v = e.filter($"event_type" === "view")
        .select($"user_id", $"event_id".as("view_id"), $"tus".as("vtus"),
          $"value".as("vval"))
      graft.operators.AsOf.asofBracket(p, v, Seq("user_id"),
          leftTime = "ptus", rightTime = "vtus",
          toleranceUs = Some(7200000000L), tieBreak = Seq("view_id"))
        .filter($"vtus_b".isNotNull || $"vtus_f".isNotNull)
        .select($"purchase_id",
          round(
            when($"vtus_b".isNull, $"vval_f")
              .when($"vtus_f".isNull, $"vval_b")
              .when($"vtus_f" === $"vtus_b", $"vval_b")
              .otherwise($"vval_b" + ($"vval_f" - $"vval_b") *
                ($"ptus" - $"vtus_b").cast("double") /
                ($"vtus_f" - $"vtus_b").cast("double")), 6).as("v_interp"))
        .orderBy($"purchase_id")
    }),

    // Time-weighted average of each user's view value: each sample is
    // weighted by how long it was the CURRENT value (until the next
    // sample), the standard step-function mean for irregular series.
    // One key shuffle total — the lead() window's hash partitioning
    // already satisfies the per-user aggregate, so Catalyst plans the
    // agg over the same exchange (no re-shuffle; PlanSpec-checkable).
    "a13_time_weighted_avg" -> ((s, dir) => {
      import s.implicits._
      val v = ev(s, dir).filter($"event_type" === "view")
        .select($"user_id", $"event_id", expr("ts div 1000").as("tus"), $"value")
      graft.operators.TimeSeries.timeWeightedAvg(v, Seq("user_id"),
          timeCol = "tus", valueCol = "value", tieBreak = Seq("event_id"),
          outCol = "twa_raw")
        .select($"user_id", round($"twa_raw", 6).as("twa_value"),
          $"span_us", $"n_segments")
        .orderBy($"user_id")
    }),

    // Regular-grid resampling (gap fill): each user's view series
    // forward-filled onto the hourly grid between their first and
    // last sample. The grid is generated MAP-SIDE from per-key bounds
    // (sequence + explode — never a driver loop), then one ascending
    // window carry fills values; an on-grid sample overrides the
    // carry, simultaneous samples resolve latest-write-wins. Row
    // growth is span/step per key — explicit and budgetable at 100 TB.
    "a14_gap_fill" -> ((s, dir) => {
      import s.implicits._
      // Both exchanges are pinned at the derived grid-row count
      // (~1M grid rows per task; REPARTITION_BY_NUM — AQE's coalescer
      // skips it), because BOTH stages' real cost is the GRID, which
      // AQE cannot see from either exchange's bytes:
      //  - the output-grid range sort: grid rows compress ~10x, so
      //    byte-based coalescing packs ~10x more sort state per task
      //    than it sees (2.6 GB spill at sf20);
      //  - the carry-window hash exchange: its map output is the
      //    SAMPLES (small), but each window task then EMITS its keys'
      //    whole grid slice into the range exchange's shuffle write —
      //    sized by samples, ~30 window tasks at sf80 each buffered
      //    ~25M grid rows of sorter pages (27.5 GB of task spill);
      //    sized by the grid, each map task emits ~1M rows and the
      //    write stays in memory at any SF.
      val parts = DerivedCaps.gapFillGridPartsFor(s, dir, 3600000000L).get
      val v = ev(s, dir).filter($"event_type" === "view")
        .select($"user_id", $"event_id", expr("ts div 1000").as("tus"), $"value")
        .repartition(parts, $"user_id")
      // range partitions read back in order, so the total output
      // order is orderBy's.
      graft.operators.TimeSeries.gapFill(v, Seq("user_id"),
          timeCol = "tus", valueCol = "value", stepUs = 3600000000L,
          tieBreak = Seq("event_id"))
        .repartitionByRange(parts, $"user_id", $"grid_tus")
        .sortWithinPartitions($"user_id", $"grid_tus")
    }),

    // OHLC downsampling: each user's view series reduced to hourly
    // open/high/low/close bars — the lossy-but-shaped compaction every
    // metrics/market pipeline applies before long-horizon storage.
    // ONE hash shuffle: open/close ride min_by/max_by over a
    // composite (time, id) order key (deterministic under same-time
    // ties), high/low/count are plain aggregates in the same
    // partial+final pass — no window, no self-join, map-side combine
    // does the heavy lifting at 100 TB.
    "a15_ohlc_bars" -> ((s, dir) => {
      import s.implicits._
      val v = ev(s, dir).filter($"event_type" === "view")
        .select($"user_id", $"event_id", expr("ts div 1000").as("tus"), $"value")
        .withColumn("bar_tus", expr("(tus div 3600000000) * 3600000000"))
      v.groupBy($"user_id", $"bar_tus")
        .agg(
          min_by($"value", struct($"tus", $"event_id")).as("open"),
          max($"value").as("high"),
          min($"value").as("low"),
          max_by($"value", struct($"tus", $"event_id")).as("close"),
          count(lit(1)).as("n_samples"))
        .orderBy($"user_id", $"bar_tus")
    }),

    // Range join: views of the same user within the hour before each
    // purchase, written as the plain band join. [[graft.plans.BandJoinRewrite]]
    // plans it as an hour-bucketed equi-join on (user_id, bucket), so a
    // hot user's candidates are the views in each purchase's TWO
    // buckets — never the O(purchases × views) blowup of
    // join-then-band-filter. The left-outer shape (purchases with zero
    // views kept at 0) composes as aggregate + join back on the
    // purchase spine.
    "a02_range_join" -> ((s, dir) => {
      import s.implicits._
      val e = ev(s, dir).select($"user_id", $"event_id", $"event_type",
        expr("ts div 1000").as("tus"))
      val p = e.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("purchase_id"), $"tus".as("ptus"))
      val v = e.filter($"event_type" === "view")
        .select($"user_id".as("vuser"), $"event_id".as("view_id"), $"tus".as("vtus"))
      val pairs = p.join(v, $"user_id" === $"vuser" &&
        $"vtus" >= $"ptus" - 3600000000L && $"vtus" <= $"ptus")
      val counts = pairs.groupBy($"purchase_id")
        .agg(count($"view_id").as("n_views_1h"))
      p.select($"purchase_id")
        .join(counts, Seq("purchase_id"), "left")
        .select($"purchase_id", coalesce($"n_views_1h", lit(0L)).as("n_views_1h"))
        .orderBy($"purchase_id")
    }),

    // Forward as-of with tolerance: each click ↔ the user's NEXT
    // purchase within two hours (or NULL). Exercises the library
    // operator's forward direction + tolerance voiding under the
    // driver oracle — same single-shuffle union+window plan as a01.
    "a07_asof_forward" -> ((s, dir) => {
      import s.implicits._
      val e = ev(s, dir).select($"user_id", $"event_id", $"event_type",
        expr("ts div 1000").as("tus"))
      val c = e.filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("click_id"), $"tus".as("ctus"))
      val p = e.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("purchase_id"), $"tus".as("ptus"))
      graft.operators.AsOf.asofJoin(c, p, Seq("user_id"),
          leftTime = "ctus", rightTime = "ptus", direction = "forward",
          toleranceUs = Some(7200000000L), tieBreak = Seq("purchase_id"))
        .select($"click_id", $"purchase_id", ($"ptus" - $"ctus").as("gap_us"))
        .orderBy($"click_id")
    }),

    // Time-RANGE rolling window: events in each user's trailing 24 h,
    // a range frame (peers included by VALUE, not row position) on the
    // same single user_id shuffle every other per-user window rides.
    "a08_rolling_range" -> ((s, dir) => {
      import s.implicits._
      val e = ev(s, dir)
        .select($"user_id", $"event_id", expr("ts div 1000").as("tus"))
      val w = Window.partitionBy($"user_id").orderBy($"tus")
        .rangeBetween(-86400000000L, 0L)
      e.withColumn("n_24h", count(lit(1)).over(w))
        .select($"event_id", $"user_id", $"tus", $"n_24h")
        .orderBy($"event_id")
    }),

    // Interval OVERLAP join: each session × the ±30 min windows around
    // the user's purchases, via [[graft.operators.RangeJoin.intervalJoin]]
    // — both sides bucket-exploded, equi-join on (user, bucket), each
    // pair attributed to its overlap-start bucket so no dedup shuffle.
    "a09_interval_join" -> ((s, dir) => {
      import s.implicits._
      val e = ev(s, dir).select($"user_id", $"event_id", $"event_type",
        expr("ts div 1000").as("tus"))
      val sessions = graft.operators.Sessionize.sessions(
          e.select($"user_id", $"tus", $"event_id"), "user_id", "tus", "event_id")
        .select($"user_id", $"session_id", $"session_start_us", $"session_end_us")
      val pw = e.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("purchase_id"),
          ($"tus" - 1800000000L).as("w_start"), ($"tus" + 1800000000L).as("w_end"))
      graft.operators.RangeJoin.intervalJoin(sessions, pw, Seq("user_id"),
          "session_start_us", "session_end_us", "w_start", "w_end",
          bucketUs = 3600000000L)
        .select($"user_id", $"session_id", $"purchase_id")
        .orderBy($"user_id", $"session_id", $"purchase_id")
    }),

    // Pivot: event-type counts as columns per user.
    "a03_pivot" -> ((s, dir) => {
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = ev(s, dir)
        .groupBy($"user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      pivoted.select($"user_id" +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy($"user_id")
    }),

    // melt/UNPIVOT — a03's inverse: the wide per-user matrix unpivots
    // back to long (user, type, n) rows via the native Dataset.unpivot
    // (codegen'd Expand, one pass, no shuffle beyond the pivot's own
    // agg). The oracle is the PLAIN group-by: the pivot→unpivot round
    // trip must reproduce it exactly, zero-filled combos dropped.
    "a16_unpivot" -> ((s, dir) => {
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = ev(s, dir)
        .groupBy($"user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      val wide = pivoted.select(
        $"user_id" +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      wide.unpivot(Array($"user_id"), types.map(col).toArray,
          "event_type", "n")
        .filter($"n" > 0)
        .orderBy($"user_id", $"event_type")
    }),

    // Exact interpolated percentiles per event type.
    "a04_percentiles" -> ((s, dir) => {
      import s.implicits._
      ev(s, dir)
        .groupBy($"event_type")
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"))
        .orderBy($"event_type")
    }),

    // The 100 TB twin of a04: exact percentile materializes and sorts
    // EVERY value per group (memory ∝ group size — the scale hazard);
    // percentile_approx's quantile sketch is bounded-size per group
    // and merges associatively, so the plan is an ordinary
    // partial+final aggregate whatever the group sizes. Sketch values
    // are engine-specific, so the driver-checkable output is the
    // BOUNDED PROPERTY, not the value: the sketch guarantees the
    // returned element's rank is within eps*n of the target rank, so
    // each approx quantile q must fall between the EXACT percentiles
    // at q-band and q+band (band = 0.01 >> eps = 1e-4, headroom for
    // rank->fraction interpolation). The query emits those exact
    // bounds (DuckDB recomputes them via quantile_cont — value-anchored)
    // plus the ok flags (oracle: literal TRUE — property-anchored).
    // The first agg is the production scale path; the bounds agg
    // exists only to make the guarantee oracle-checkable, and the
    // join is a broadcast of two group-count-sized frames.
    "a10_percentiles_approx" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq("50" -> 0.50, "90" -> 0.90, "99" -> 0.99)
      val approx = ev(s, dir)
        .groupBy($"event_type")
        .agg(expr("percentile_approx(value, array(0.5D, 0.9D, 0.99D), 10000)")
          .as("ps"), count(lit(1)).as("n"))
      // production path alone when anchors are gated off (bench mode):
      // the sketch agg IS the query; the exact-percentile bounds exist
      // only to make the rank guarantee oracle-checkable
      if (!Anchors.enabled(s)) {
        approx.select($"event_type" +: $"n" +:
          qs.zipWithIndex.map { case ((tag, _), i) =>
            round(element_at($"ps", i + 1), 4).as(s"p$tag")
          }: _*).orderBy($"event_type")
      } else {
        val boundAggs = qs.flatMap { case (tag, q) =>
          Seq(expr(s"percentile(value, ${math.max(0.0, q - 0.01)})").as(s"blo_$tag"),
            expr(s"percentile(value, ${math.min(1.0, q + 0.01)})").as(s"bhi_$tag"))
        }
        val bounds = ev(s, dir).groupBy($"event_type")
          .agg(boundAggs.head, boundAggs.tail: _*)
        // null-safe equality: both aggregations emit the same group set,
        // but a NULL event_type group would vanish under a plain
        // equi-join while the oracle's GROUP BY keeps it
        val joined = approx.as("ap").join(broadcast(bounds).as("bd"),
          col("ap.event_type") <=> col("bd.event_type"))
        val out = qs.zipWithIndex.flatMap { case ((tag, _), i) =>
          val v = element_at($"ps", i + 1)
          Seq(round(col(s"blo_$tag"), 4).as(s"lo_p$tag"),
            round(col(s"bhi_$tag"), 4).as(s"hi_p$tag"),
            (v >= col(s"blo_$tag") - 1e-9 && v <= col(s"bhi_$tag") + 1e-9)
              .as(s"ok_p$tag"))
        }
        joined.select(col("ap.event_type").as("event_type") +: $"n" +: out: _*)
          .orderBy($"event_type")
      }
    }),

    // JSON extraction from the props column.
    "a05_json_extract" -> ((s, dir) => {
      import s.implicits._
      ev(s, dir)
        .select(get_json_object($"props", "$.k").cast("long").as("k"))
        .groupBy($"k").agg(count(lit(1)).as("n"))
        .orderBy($"k")
    }),

    // Custom typed UDAF (Aggregator): geometric mean of order value.
    "a06_geomean_udaf" -> ((s, dir) => {
      import s.implicits._
      val geo = udaf(Aggregators.GeometricMean)
      Tables.load(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(round(geo($"o_totalprice"), 2).as("geo_price"), count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    }),

    // Robust per-key outlier detection: median + MAD (median absolute
    // deviation) of each user's view values, and how many samples sit
    // beyond 3×MAD — the quality gate that survives the heavy-tailed
    // value distributions where mean/stddev z-scores drown. Exactness
    // trick: values are scaled to integer micro-units and both medians
    // are carried DOUBLED (2·median of integers = middle-pair sum =
    // exact in a double far below 2⁵³), so the 3×MAD comparison is
    // pure integer arithmetic — no float interpolation drift between
    // engines. Plan shape: every stage (two exact-percentile aggs,
    // two join-backs, final agg) hashes on user_id, so Catalyst plans
    // ONE exchange and reuses it; percentile state is per-group
    // bounded by that user's sample count, never global.
    "a17_mad_outliers" -> ((s, dir) => {
      import s.implicits._
      val v = ev(s, dir).filter($"event_type" === "view")
        .select($"user_id",
          expr("CAST(round(value * 1000000) AS BIGINT)").as("vi"))
      val med = v.groupBy($"user_id")
        .agg(expr("CAST(2 * percentile(vi, 0.5D) AS BIGINT)").as("med2"),
          count(lit(1)).as("n"))
      val dev = v.join(med, "user_id")
        .select($"user_id", $"n", $"med2",
          abs(lit(2L) * $"vi" - $"med2").as("dev"))
      val mad = dev.groupBy($"user_id")
        .agg(expr("CAST(2 * percentile(dev, 0.5D) AS BIGINT)").as("mad4"))
      dev.join(mad, "user_id")
        .groupBy($"user_id")
        .agg(max($"n").as("n_views"),
          round(max($"med2") / 2e6, 6).as("med_value"),
          round(max($"mad4") / 4e6, 6).as("mad_value"),
          sum(when(lit(2L) * $"dev" > lit(3L) * $"mad4", 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy($"user_id")
    }),

    // Winsorized per-user value sums: clip each user's views to their
    // own [5th, 95th] percentile before aggregating — the tail-robust
    // metric rollup. Exactness trick: the cut points are RANK-BASED
    // order statistics (the ⌈n/20⌉-th smallest / largest element),
    // not interpolated percentiles — an exact element of the multiset,
    // so no float interpolation can drift between engines; values ride
    // in integer micro-units end to end. One hash exchange: the rank
    // window, the bounds aggregate, the join-back, and the final
    // aggregate all hash on user_id, and the k-th-element trick needs
    // no per-group sort beyond the window's.
    "a18_winsorize" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val v = ev(s, dir).filter($"event_type" === "view")
        .select($"user_id", $"event_id",
          expr("CAST(round(value * 1000000) AS BIGINT)").as("vi"))
      val ranked = v
        .withColumn("rn", row_number().over(
          Window.partitionBy($"user_id").orderBy($"vi", $"event_id")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"user_id")))
        .withColumn("klo", expr("(n + 19) div 20"))
        .withColumn("khi", $"n" - $"klo" + 1L)
      val bounds = ranked.groupBy($"user_id")
        .agg(max(when($"rn" === $"klo", $"vi")).as("lo"),
          max(when($"rn" === $"khi", $"vi")).as("hi"),
          max($"n").as("nv"))
      ranked.join(bounds, "user_id")
        .groupBy($"user_id")
        .agg(max($"nv").as("n_views"),
          round(max($"lo") / 1e6, 6).as("lo_value"),
          round(max($"hi") / 1e6, 6).as("hi_value"),
          round(sum(least(greatest($"vi", $"lo"), $"hi")) / 1e6, 6)
            .as("winsor_sum"),
          sum(when($"vi" < $"lo" || $"vi" > $"hi", 1L).otherwise(0L))
            .as("n_clipped"))
        .orderBy($"user_id")
    }),
  )

  val oracles: Map[String, String] = Map(
    "a01_asof_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, tus AS ptus FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, tus AS ctus FROM e WHERE event_type = 'click'),
        |j AS (SELECT purchase_id, click_id, ptus - ctus AS gap_us,
        |        row_number() OVER (PARTITION BY purchase_id ORDER BY ctus DESC, click_id DESC) AS rn
        |      FROM p JOIN c USING (user_id) WHERE ctus <= ptus)
        |SELECT purchase_id, click_id, CAST(gap_us AS BIGINT) AS gap_us
        |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin,

    // naive all-candidates spelling; tie order: distance, then
    // backward-before-forward, then the per-direction id tiebreak
    // (backward takes the LATEST same-time click = largest id,
    // forward the earliest = smallest — a01/a07's conventions)
    "a11_asof_nearest" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, tus AS ptus FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, tus AS ctus FROM e WHERE event_type = 'click'),
        |j AS (SELECT purchase_id, click_id, abs(ptus - ctus) AS adist_us,
        |        row_number() OVER (PARTITION BY purchase_id ORDER BY
        |          abs(ptus - ctus),
        |          CASE WHEN ctus <= ptus THEN 0 ELSE 1 END,
        |          CASE WHEN ctus <= ptus THEN -click_id ELSE click_id END) AS rn
        |      FROM p JOIN c USING (user_id)
        |      WHERE abs(ptus - ctus) <= 3600000000)
        |SELECT purchase_id, click_id, CAST(adist_us AS BIGINT) AS adist_us
        |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin,

    // naive bracket spelling: best at-or-before (ties: latest time,
    // largest id) and best at-or-after (ties: earliest time, smallest
    // id) per purchase, then the same CASE/lerp chain and association
    // order as the engine
    "a12_interpolate" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus, value FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, tus AS ptus FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id AS view_id, tus AS vtus, value AS vval FROM e WHERE event_type = 'view'),
        |b AS (SELECT purchase_id, vtus AS tb, vval AS vb FROM (
        |  SELECT p.purchase_id, v.vtus, v.vval,
        |    row_number() OVER (PARTITION BY p.purchase_id ORDER BY v.vtus DESC, v.view_id DESC) AS rn
        |  FROM p JOIN v USING (user_id)
        |  WHERE v.vtus <= p.ptus AND p.ptus - v.vtus <= 7200000000) WHERE rn = 1),
        |f AS (SELECT purchase_id, vtus AS tf, vval AS vf FROM (
        |  SELECT p.purchase_id, v.vtus, v.vval,
        |    row_number() OVER (PARTITION BY p.purchase_id ORDER BY v.vtus ASC, v.view_id ASC) AS rn
        |  FROM p JOIN v USING (user_id)
        |  WHERE v.vtus >= p.ptus AND v.vtus - p.ptus <= 7200000000) WHERE rn = 1)
        |SELECT p.purchase_id,
        |  round(CASE WHEN b.vb IS NULL THEN f.vf
        |             WHEN f.vf IS NULL THEN b.vb
        |             WHEN f.tf = b.tb THEN b.vb
        |             ELSE b.vb + (f.vf - b.vb) * CAST(p.ptus - b.tb AS DOUBLE)
        |                  / CAST(f.tf - b.tb AS DOUBLE) END, 6) AS v_interp
        |FROM p LEFT JOIN b USING (purchase_id) LEFT JOIN f USING (purchase_id)
        |WHERE b.tb IS NOT NULL OR f.tf IS NOT NULL
        |ORDER BY purchase_id""".stripMargin,

    // step-function TWA: weight = time until the next sample; the
    // final sample carries none. Zero-span users drop (HAVING).
    "a13_time_weighted_avg" ->
      """WITH v AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value
        |           FROM events WHERE event_type = 'view'),
        |d AS (SELECT user_id, value,
        |        lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) - tus AS dt
        |      FROM v)
        |SELECT user_id, round(SUM(value * dt) / SUM(dt), 6) AS twa_value,
        |  CAST(SUM(dt) AS BIGINT) AS span_us, count(*) AS n_segments
        |FROM d WHERE dt IS NOT NULL GROUP BY user_id HAVING SUM(dt) > 0
        |ORDER BY user_id""".stripMargin,

    // independent spelling of the fill: hourly grid per user via
    // range(), then the latest sample at-or-before each grid point
    // (ties → largest event_id = latest write) as a correlated probe
    "a14_gap_fill" ->
      """WITH v AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value
        |           FROM events WHERE event_type = 'view'),
        |b AS (SELECT user_id, min(tus) AS lo, max(tus) AS hi FROM v GROUP BY user_id),
        |g AS (SELECT user_id,
        |        unnest(range((lo + 3599999999) // 3600000000,
        |                     hi // 3600000000 + 1)) * 3600000000 AS grid_tus
        |      FROM b)
        |SELECT g.user_id, g.grid_tus,
        |  (SELECT s.value FROM v s
        |   WHERE s.user_id = g.user_id AND s.tus <= g.grid_tus
        |   ORDER BY s.tus DESC, s.event_id DESC LIMIT 1) AS value
        |FROM g ORDER BY user_id, grid_tus""".stripMargin,

    // open/close via row_number over the (tus, event_id) total order —
    // an independent spelling of the composite-key min_by/max_by
    "a15_ohlc_bars" ->
      """WITH v AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value,
        |             (epoch_us(ts) // 3600000000) * 3600000000 AS bar_tus
        |           FROM events WHERE event_type = 'view'),
        |r AS (SELECT user_id, bar_tus, value,
        |        row_number() OVER (PARTITION BY user_id, bar_tus
        |                           ORDER BY tus, event_id) AS ra,
        |        row_number() OVER (PARTITION BY user_id, bar_tus
        |                           ORDER BY tus DESC, event_id DESC) AS rd
        |      FROM v)
        |SELECT user_id, bar_tus,
        |  max(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close,
        |  count(*) AS n_samples
        |FROM r GROUP BY user_id, bar_tus
        |ORDER BY user_id, bar_tus""".stripMargin,

    "a02_range_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, tus AS ptus FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id AS view_id, tus AS vtus FROM e WHERE event_type = 'view')
        |SELECT p.purchase_id, count(v.view_id) AS n_views_1h
        |FROM p LEFT JOIN v ON p.user_id = v.user_id
        |  AND v.vtus >= p.ptus - 3600000000 AND v.vtus <= p.ptus
        |GROUP BY p.purchase_id ORDER BY p.purchase_id""".stripMargin,

    "a08_rolling_range" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events)
        |SELECT event_id, user_id, CAST(tus AS BIGINT) AS tus,
        |  count(*) OVER (PARTITION BY user_id ORDER BY tus
        |    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS n_24h
        |FROM e ORDER BY event_id""".stripMargin,

    // the oracle states the naive per-key overlap join; the engine's
    // bucket-exploded equi-join must reproduce it exactly
    "a09_interval_join" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
         |w AS (SELECT user_id, event_id, tus,
         |        CASE WHEN lag(tus, 1) OVER win IS NULL
         |                  OR tus - lag(tus, 1) OVER win > ${graft.operators.Sessionize.DefaultGapUs}
         |             THEN 1 ELSE 0 END AS new_s
         |      FROM e WINDOW win AS (PARTITION BY user_id ORDER BY tus, event_id)),
         |s AS (SELECT user_id, tus,
         |        CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |      FROM w),
         |sess AS (SELECT user_id, session_id,
         |           CAST(min(tus) AS BIGINT) AS ss, CAST(max(tus) AS BIGINT) AS se
         |         FROM s GROUP BY user_id, session_id),
         |p AS (SELECT user_id, event_id AS purchase_id,
         |        epoch_us(ts) - 1800000000 AS ws, epoch_us(ts) + 1800000000 AS we
         |      FROM events WHERE event_type = 'purchase')
         |SELECT sess.user_id, session_id, purchase_id
         |FROM sess JOIN p ON p.user_id = sess.user_id
         |  AND ss <= we AND ws <= se
         |ORDER BY sess.user_id, session_id, purchase_id""".stripMargin,

    // forward as-of: earliest qualifying purchase wins, smallest id on
    // ties (mirrors the operator's forward tie-break contract)
    "a07_asof_forward" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |c AS (SELECT user_id, event_id AS click_id, tus AS ctus FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, tus AS ptus FROM e WHERE event_type = 'purchase'),
        |j AS (SELECT click_id, purchase_id, ptus - ctus AS gap_us,
        |        row_number() OVER (PARTITION BY click_id ORDER BY ptus ASC, purchase_id ASC) AS rn
        |      FROM c JOIN p USING (user_id)
        |      WHERE ptus >= ctus AND ptus - ctus <= 7200000000)
        |SELECT c.click_id, j.purchase_id, CAST(j.gap_us AS BIGINT) AS gap_us
        |FROM c LEFT JOIN j ON c.click_id = j.click_id AND j.rn = 1
        |ORDER BY c.click_id""".stripMargin,

    // the round trip must land back on the plain group-by
    "a16_unpivot" ->
      """SELECT user_id, event_type, count(*) AS n
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    "a03_pivot" ->
      """SELECT user_id,
        |count(*) FILTER (WHERE event_type = 'click') AS click,
        |count(*) FILTER (WHERE event_type = 'error') AS error,
        |count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "a04_percentiles" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
        |round(quantile_cont(value, 0.9), 4) AS p90,
        |round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // bounded-property oracle: DuckDB recomputes the exact rank-band
    // bounds (value anchor) and asserts the within-band flags are
    // literally TRUE (property anchor). A wrong approx value flips an
    // ok_* flag on the Spark side and the hashes diverge.
    "a10_percentiles_approx" ->
      """SELECT event_type, count(*) AS n,
        |round(quantile_cont(value, 0.49), 4) AS lo_p50,
        |round(quantile_cont(value, 0.51), 4) AS hi_p50, TRUE AS ok_p50,
        |round(quantile_cont(value, 0.89), 4) AS lo_p90,
        |round(quantile_cont(value, 0.91), 4) AS hi_p90, TRUE AS ok_p90,
        |round(quantile_cont(value, 0.98), 4) AS lo_p99,
        |round(quantile_cont(value, 1.0), 4) AS hi_p99, TRUE AS ok_p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "a05_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
        |FROM events GROUP BY k ORDER BY k""".stripMargin,

    "a06_geomean_udaf" ->
      """SELECT o_orderpriority, round(exp(avg(ln(o_totalprice))), 2) AS geo_price,
        |count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // integer micro-units; 2·median of BIGINTs = middle-pair sum,
    // exact in the double median() returns (< 2^53), so every
    // comparison below is integer-exact — mirrors the Spark spelling
    "a17_mad_outliers" ->
      """WITH v AS (
        |  SELECT user_id, CAST(round(value * 1000000) AS BIGINT) AS vi
        |  FROM events WHERE event_type = 'view'),
        |m AS (
        |  SELECT user_id, CAST(2 * median(vi) AS BIGINT) AS med2, count(*) AS n
        |  FROM v GROUP BY user_id),
        |d AS (
        |  SELECT v.user_id, m.n, m.med2, abs(2 * v.vi - m.med2) AS dev
        |  FROM v JOIN m USING (user_id)),
        |md AS (
        |  SELECT user_id, CAST(2 * median(dev) AS BIGINT) AS mad4
        |  FROM d GROUP BY user_id)
        |SELECT d.user_id, max(d.n) AS n_views,
        |  round(max(d.med2) / 2000000.0, 6) AS med_value,
        |  round(max(md.mad4) / 4000000.0, 6) AS mad_value,
        |  CAST(SUM(CASE WHEN 2 * d.dev > 3 * md.mad4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM d JOIN md USING (user_id)
        |GROUP BY d.user_id ORDER BY d.user_id""".stripMargin,

    // same rank-based cut points (⌈n/20⌉-th order statistics), same
    // integer micro-unit clipping
    "a18_winsorize" ->
      """WITH v AS (
        |  SELECT user_id, event_id, CAST(round(value * 1000000) AS BIGINT) AS vi
        |  FROM events WHERE event_type = 'view'),
        |r AS (
        |  SELECT user_id, vi,
        |    row_number() OVER (PARTITION BY user_id ORDER BY vi, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM v),
        |k AS (
        |  SELECT *, (n + 19) // 20 AS klo,
        |    n - ((n + 19) // 20) + 1 AS khi
        |  FROM r),
        |b AS (
        |  SELECT user_id, max(CASE WHEN rn = klo THEN vi END) AS lo,
        |    max(CASE WHEN rn = khi THEN vi END) AS hi, max(n) AS nv
        |  FROM k GROUP BY user_id)
        |SELECT k.user_id, max(b.nv) AS n_views,
        |  round(max(b.lo) / 1000000.0, 6) AS lo_value,
        |  round(max(b.hi) / 1000000.0, 6) AS hi_value,
        |  round(SUM(least(greatest(k.vi, b.lo), b.hi)) / 1000000.0, 6) AS winsor_sum,
        |  CAST(SUM(CASE WHEN k.vi < b.lo OR k.vi > b.hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped
        |FROM k JOIN b USING (user_id)
        |GROUP BY k.user_id ORDER BY k.user_id""".stripMargin,
  )
}
