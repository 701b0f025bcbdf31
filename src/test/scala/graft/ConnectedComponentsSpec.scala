package graft

import graft.operators.ConnectedComponents

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], vertices: Seq[Long],
                  maxIter: Int = 50): Map[Long, Long] =
    ConnectedComponents.components(
        edges.toDF("a", "b"), "a", "b", vertices.toDF("id"), "id", maxIter)
      .as[(Long, Long)].collect().toMap

  /** Union-find oracle. */
  private def brute(edges: Seq[(Long, Long)], vertices: Seq[Long]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(vertices.map(v => v -> v): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vertices.map(v => v -> find(v)).toMap
  }

  test("chains, cycles, singletons") {
    val vertices = (1L to 9L).toSeq
    // chain 1-2-3-4, triangle 5-6-7 (cycle), edge 8-8 (self), 9 isolated
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 6L), (6L, 7L),
      (7L, 5L), (8L, 8L))
    val got = run(edges, vertices)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L))
  }

  test("long path converges to one component (diameter rounds)") {
    val n = 24L
    val vertices = (1L to n).toSeq
    val edges = (1L until n).map(i => (i, i + 1))
    val got = run(edges, vertices)
    assert(got.values.toSet == Set(1L), s"path did not fully converge: $got")
  }

  test("random graph matches the union-find oracle") {
    var x = 7L
    def nxt(m: Long): Long = {
      x = x * 6364136223846793005L + 1442695040888963407L; math.floorMod(x, m)
    }
    val vertices = (0L until 120L).toSeq
    val edges = Seq.fill(90)((nxt(120), nxt(120)))
    assert(run(edges, vertices) == brute(edges, vertices))
  }

  // r15: the symmetrization is a map-side explode over ONE read of the
  // edge subtree and the dedup exchange can be width-pinned (edgeParts,
  // the d13 sf160 spill fix). Pin both properties: pinned and unpinned
  // agree with the oracle on a graph with duplicate, reversed and
  // self-loop edges (the explode must reproduce union semantics
  // exactly), and the pinned width really reaches the exchange.
  test("edgeParts pin preserves semantics on duplicate/reversed/self-loop edges") {
    val vertices = (1L to 10L).toSeq
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (4L, 5L),
      (5L, 6L), (6L, 4L), (7L, 8L))
    val expected = brute(edges, vertices)
    assert(run(edges, vertices) == expected, "unpinned explode shape")
    val pinned = ConnectedComponents.components(
        edges.toDF("a", "b"), "a", "b", vertices.toDF("id"), "id",
        edgeParts = Some(7))
      .as[(Long, Long)].collect().toMap
    assert(pinned == expected, "edgeParts-pinned shape")
  }

  test("pinned symmetrized-edge exchange runs at the requested width") {
    // capture the materialized sym frame via the Checkpoints fault hook
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    graft.operators.Checkpoints.faultHook.set { df =>
      seen += df.rdd.getNumPartitions
    }
    try {
      ConnectedComponents.components(
          Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b",
          Seq(1L, 2L, 3L).toDF("id"), "id", edgeParts = Some(7))
        .count()
    } finally graft.operators.Checkpoints.faultHook.set((_: org.apache.spark.sql.DataFrame) => ())
    // the FIRST materialization is the symmetrized edge list: the
    // REPARTITION_BY_NUM width must survive to its stored blocks
    // (AQE's coalescer skips that origin)
    assert(seen.head == 7, s"sym width ${seen.head} != pinned 7 (all: $seen)")
  }

  test("leaves no persisted blocks behind (localCheckpoint is bounded)") {
    // localCheckpoint truncates lineage with executor-stored blocks;
    // ContextCleaner reclaims them once unreferenced — but the
    // operator must not PIN anything in the persistence ledger after
    // its result is materialized and the frame dropped
    val before = spark.sparkContext.getPersistentRDDs.size
    val vertices = (1L to 40L).toSeq
    val edges = (1L until 40L).map(i => (i, i + 1))
    run(edges, vertices, maxIter = 50)
    // the operator frees every intermediate round explicitly (a
    // 40-path converges in ~39 rounds — that would be ~40 leaked
    // frames); only the FINAL labels frame may stay pinned until the
    // caller's result is collected and the cleaner runs
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1)
  }
}
