package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by min-label propagation — the iterative
  * operator a dedup pipeline needs to turn near-duplicate PAIRS into
  * duplicate CLUSTERS. Pair-at-a-time conventions (drop the larger id
  * of each pair, as d04/p01 use) are deliberately non-transitive; when
  * the policy is "keep exactly one representative per duplicate
  * cluster", the cluster is the connected component of the pair graph,
  * and its minimum id is the canonical representative.
  *
  * Algorithm: every vertex starts labeled with its own id; each round,
  * a vertex takes the minimum of its label and its neighbors' labels;
  * fixpoint = component minima. Labels only decrease and are bounded,
  * so convergence is guaranteed in at most `diameter` rounds — and
  * near-dup graphs are shallow (clusters of re-posts and mirrors, not
  * long chains), so rounds stay in the single digits.
  *
  * Scale shape: one round = one equi-join (labels onto the symmetric
  * edge list, shuffled on vertex id) + one min-aggregation — all
  * hash-partitioned, no driver-side graph. The per-round driver action
  * is a single changed-row count (8 bytes). The edge list and each
  * round's labels are truncated with [[Checkpoints.materialize]]
  * (the iterative idiom GraphX uses: executor-local blocks by
  * default, reliable shared-FS files when `spark.graft.checkpointDir`
  * is set), or each round re-executes the whole upstream
  * plan — including whatever expensive self-join produced the edges.
  */
object ConnectedComponents {

  /** Label every vertex of `vertices` with the minimum vertex id
    * reachable through undirected `edges`. Output: `(idCol,
    * component)`; isolated vertices label themselves. Ids must be
    * orderable (numeric/string).
    *
    * `edgeParts` pins the symmetrized edge list's dedup exchange for
    * FACT-SCALE pair graphs — the same AQE blind spot as
    * [[Graphs.bfsHops]]: AQE sizes the distinct from compressed map
    * bytes while the in-memory hash state is ~10× that, and here the
    * aggregate additionally competes with this operator's own
    * checkpoint blocks for unified memory, so a denied request drops
    * it to sort-based aggregation over the full input (the r15 sf160
    * rung measured d13's copy at 25.8 GB of task spill with the peak
    * request stuck at 72 MB). Callers derive the width from a
    * predicted pair count ([[graft.operators.Similarity.EmbPairBudget]]
    * `.symStateBytes`); None keeps AQE sizing for dimension-scale graphs. */
  def components(edges: DataFrame, aCol: String, bCol: String,
                 vertices: DataFrame, idCol: String,
                 maxIter: Int = 50,
                 edgeParts: Option[Int] = None): DataFrame = {
    require(maxIter >= 1)
    // Symmetrize with a map-side explode, NOT a union of two reads of
    // the edge subtree (the g01 idiom): one pass over the (possibly
    // expensive) upstream, so the pre-symmetrization materialization
    // the r14 shape needed — a full extra checkpoint of the edge list
    // whose storage blocks squeezed every later memory request in
    // this operator — disappears outright.
    // The dedup exchange is keyed on `v` ALONE (hashpartitioning(v)
    // satisfies the distinct's (u, v) clustering — same-key rows
    // colocate): that makes the materialized blocks' layout exactly
    // the distribution every round's neighbor join needs, so at the
    // scale where the labels side outgrows broadcast and the join
    // falls to sort-merge, the edge side — the heavy one — is never
    // re-exchanged (guide §2.4: operations keyed the same way share
    // one exchange).
    val doubled = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val sym = edgeParts.fold(doubled)(p => doubled.repartition(p, col("v")))
      .distinct()
      .transform(Checkpoints.materialize)

    // Only edge endpoints can ever change label — isolated vertices
    // are their own component by definition. Iterate over the (far
    // smaller) endpoint set and stitch the isolated vertices back in
    // with one left join at the end: at corpus scale this is the
    // difference between shuffling every document id per round and
    // shuffling only the near-dup subgraph.
    var labels = sym.select(col("u")).distinct()
      .select(col("u"), col("u").as("label"))
    var prevRound: Option[DataFrame] = None
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("u").as("v"), col("label").as("vlabel")), "v")
        .groupBy("u").agg(min("vlabel").as("nmin"))
      // Eagerly materialize each round: the changed-count action and
      // the next round both read the stored blocks instead of
      // re-executing this round's join (which would double every
      // round's work and stack lineage).
      val updated = labels.join(nbrMin, Seq("u"), "left")
        .select(col("u"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("nlabel"),
          (coalesce(col("nmin"), col("label")) < col("label")).as("dropped"))
        .transform(Checkpoints.materialize)
      changed = updated.filter(col("dropped")).count()
      // the new round is materialized with truncated lineage, so the
      // previous round's blocks have no remaining reader — free them
      prevRound.foreach(unpersistOf)
      prevRound = Some(updated)
      labels = updated.select(col("u"), col("nlabel").as("label"))
      iter += 1
    }
    // the loop was `sym`'s last reader; only the FINAL round's labels
    // must outlive this call (the returned plan reads them, and their
    // truncated lineage cannot recompute) — the ContextCleaner frees
    // that one frame when the caller drops the result.
    unpersistOf(sym)
    vertices.select(col(idCol))
      .join(labels.withColumnRenamed("u", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("component"))
  }

  private def unpersistOf(df: DataFrame): Unit = Checkpoints.free(df)
}
