package graft.operators

/** The one sizing rule for every exchange the planner pins instead of
  * leaving to AQE. AQE coalesces a shuffle by its compressed map
  * OUTPUT bytes; the stage reading it pays its in-memory state, which
  * the pinned exchanges inflate 10–50× past that view (join fan-out,
  * repetitive rows, fused hash maps). A pin is an explicit-N
  * repartition (REPARTITION_BY_NUM), which AQE's coalescer skips, so
  * the width below is the width the stage runs at.
  *
  * `width = min(4096, max(cores, ⌈units / perTask⌉))`:
  *  - `perTask` for state pins is 256 MB of modeled state: half the
  *    512 MB preventive gate (`MemAudit`), the headroom that covers
  *    the model's error at every engaged rung.
  *  - The `cores` floor is load-bearing for wall, not state: the r14
  *    sf1 A/B measured d03 at 2.08 s with it vs 6.16 s at the model's
  *    bare width (4). A pinned miner splits the pipeline into more
  *    stages than the fused AQE shape, and the floor's parallelism
  *    amortizes them.
  *  - The 4096 cap: past it per-task scheduling overhead dominates
  *    (each exchange is a parts² block matrix).
  *
  * `aqeWithinOneTask` = the state pins' engage line: `None` (leave the
  * exchange to AQE, the unpinned plan) while the WHOLE modeled state
  * fits one share. Below it even the worst coalescing, every unit in
  * one task, stays inside budget, so a pin buys nothing and costs time
  * on iterating consumers (r14 sf1: g02/g08's slice 1.6–2× faster on
  * AQE). Every oracle-checked SF and the sf1 bench sit below it. Row
  * pins pass `false`: their exchanges carry fact- or token-scale rows
  * at any SF.
  *
  * Units and per-task shares, with the ladder numbers they came from:
  *  - d03-family pair join ([[Dedup.MiningBudget]]): 48 B of
  *    aggregation state per predicted candidate pair. r9 sf10: 540 MB a
  *    task × 37 tasks over 4.2e8 candidates; the sf80 audit agrees
  *    (36 MB a task × 4096 parts ≈ 44 B over 3.3e9). sf1 pins at the
  *    floor; per-task state is ~250 MB flat at every engaged scale.
  *  - embedding pair dedup ([[Similarity.EmbPairBudget]]): 224 B per
  *    predicted distinct pair, two fused aggregate maps × 112 B (r15
  *    sf80 MemAudit: s03 288 MB over 128 tasks for 8×41.18e6 rows, s11
  *    320 MB over 57 tasks for 4×41.18e6). sf10 (0.57e6 pairs) stays
  *    on AQE, sf20 pins at the floor, sf160 at 138. d13's symmetrized
  *    edge dedup models twice the pairs: 276 at sf160, where the
  *    unpinned rung spilled 25.8 GB.
  *  - fact-scale edge and bucket exchanges: 1M rows a task
  *    (`DerivedCaps.factPartsFor`). The r10 sf20 ladder saw AQE pack
  *    g03's edge distinct onto ~35 tasks, 33.7 GB of spill.
  *  - token-n-gram exchanges: 500k fixed-width fingerprint rows a task,
  *    gram rows ≈ Σ n_chars / 6 (`DerivedCaps.gramPartsFor`). r10
  *    sf20: 1.5M string-keyed rows a task spilled 545 MB each.
  *  - gap-fill output grid: 1M grid rows a task
  *    (`DerivedCaps.gapFillGridPartsFor`). r10 sf20: 2.6 GB of sort
  *    spill on 35 AQE-chosen tasks.
  *
  * The per-rung state gate (`ScaleCheck audits`) is the backstop past
  * the model.
  */
object PartitionSizing {

  private val TaskStateBytes: Double = (256L << 20).toDouble

  def parts(cores: Int, units: Double, perTask: Double = TaskStateBytes,
            aqeWithinOneTask: Boolean = true): Option[Int] =
    if (aqeWithinOneTask && units <= perTask) None
    else Some(math.min(4096, math.max(cores, math.ceil(units / perTask).toInt)))
}
