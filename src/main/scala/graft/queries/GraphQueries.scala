package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Graphs, PartitionSizing}

/** Graph-analytics queries (`g` group) over the corpus's OWN pair
  * graph: the near-duplicate pairs that d03/d07 already mine become
  * the edge set for centrality (PageRank — which member of a dup
  * cluster is the hub everything mirrors?) and clique structure
  * (triangle counts — is a cluster a star of partial copies or a
  * clique of full mirrors?). Both oracle exactly: PageRank runs in
  * scaled-integer arithmetic (order-independent sums, truncating
  * division identical in Spark and DuckDB), triangles are pure
  * combinatorics, and the planted exact-copy construction (the
  * d04/d05 convention) guarantees a deterministic edge set.
  */
object GraphQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val SqlToks =
    """list_filter(string_split_regex(lower(regexp_replace(text, '([^\s\w]|_)+', ' ', 'g')), '\s+'), x -> x <> '')"""

  // g01: the d04 planted corpus (exact copies of docs 0–24 at +Planted.Off)
  // plus the organic near-dups; pair threshold matches d03.
  private val PrScale = 1000000000L
  private val PrIters = 5
  // derived, not hard-coded: retuning PrScale cannot desync the
  // oracle's base-mass constant from the engine's
  private val PrBase = (100L - 85L) * PrScale / 100L

  // g02 slice: every 20th doc, with TWO planted copies each — every
  // trio is an exact-dup 3-clique, so triangles are guaranteed.
  // TriPred / TriCopies / TriSliceFraction are ONE constant family:
  // the mined corpus is TriCopies stacked copies of a 1/TriMod slice,
  // so per-shingle df scales by TriCopies/TriMod vs the dir-level
  // budget's full-corpus histogram and the candidate prediction by
  // its square — deriving the fraction here (not hard-coding 9/400 at
  // the call sites) means retuning the modulus or the copy count
  // cannot silently desync the scaled pair budget from the corpus
  // actually mined (ADVICE r14).
  private val TriMod = 20
  private val TriCopies = 3
  private val TriPred = s"doc_id % $TriMod = 1"
  private val TriSliceFraction =
    (TriCopies.toDouble / TriMod) * (TriCopies.toDouble / TriMod)

  // g06: fixed HITS half-step count (see Graphs.hits for the
  // unnormalized-integer overflow bound that keeps this ≤ 6)
  private val HitsIters = 3

  /** Jaccard≥`minJ` pair CTEs over `corpus` — the SQL twin of
    * [[Dedup.ngramJaccardPairs]] (same chain d03/d07 use). */
  private def pairsSql(corpusCte: String, minJ: String = "0.5"): String =
    s"""$corpusCte,
       |toks AS (SELECT doc_id, $SqlToks AS t FROM corpus),
       |sh0 AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
       |    FROM toks)),
       |sh AS (
       |  SELECT doc_id, shingle FROM sh0
       |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |pairs AS (
       |  SELECT a_id, b_id FROM inter
       |  JOIN sizes sa ON sa.doc_id = a_id
       |  JOIN sizes sb ON sb.doc_id = b_id
       |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= $minJ)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PageRank centrality over the near-dup pair graph (symmetrized):
    // hub members of duplicate clusters accumulate rank; isolated docs
    // hold the base mass. Fixed 5 iterations, scaled-integer math.
    "g01_pagerank" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val planted = d.filter($"doc_id" < 25)
        .withColumn("doc_id", $"doc_id" + Planted.Off)
      val corpus = d.unionByName(planted)
      // nDocs counts the MINED corpus, not the base table (ADVICE
      // r10): base + the 25 planted copies
      val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        n = 3, minJaccard = 0.5, maxDf = DerivedCaps.maxDfFor(s, dir),
        pairParts = PartitionSizing.parts(s.sparkContext.defaultParallelism,
          DerivedCaps.miningBudgetFor(s, dir).stateBytes),
        nDocs = DerivedCaps.tableCountFor(s, dir, "documents") + 25)
      // symmetrize with a map-side explode, NOT a two-branch union: a
      // union re-executes the whole pair-mining subtree once per
      // branch IN THE SAME STAGE, and at sf1 the two concurrent
      // candidate aggregations spilled ~5 GB (r8, SCALE_r08.json);
      // explode reads the mined pairs once and doubles rows for free
      val edges = pairs.select(explode(array(
          struct($"a_id".as("src"), $"b_id".as("dst")),
          struct($"b_id".as("src"), $"a_id".as("dst")))).as("e"))
        .select($"e.src", $"e.dst")
      Graphs.pageRank(edges, "src", "dst", corpus.select($"doc_id"), "doc_id",
          iterations = PrIters, scale = PrScale)
        .select($"doc_id", $"rank".as("pr"))
        .orderBy($"doc_id")
    }),

    // Multi-source BFS reach over the customer–supplier bipartite
    // graph (an edge per distinct custkey–suppkey trading pair mined
    // from lineitem ⋈ orders): hop distance from customer 0 — the
    // "who is N relationship steps away" closure every entity-graph
    // pipeline runs. Vertices are namespaced into one id space
    // (customer 2k, supplier 2k+1) so the generic vertex-keyed BFS
    // operator applies untouched; distances are exact integers under
    // min(), so the iterative plan oracle-checks bit-for-bit.
    "g03_bfs_reach" -> ((s, dir) => {
      import s.implicits._
      val dTbl = (n: String) => graft.Tables.load(s, dir, n)
      // Fact-fact join: SHUFFLE_HASH on the orders side streams the
      // 4x-bigger lineitem side with NO sort (the sf20 ladder measured
      // the SMJ's lineitem sort spilling 9.5 GB on AQE-coalesced
      // tasks; the per-partition hash build of slim orders keys is a
      // few MB). Dedup happens ONCE, inside bfsHops, on the pinned
      // edgeParts exchange — a query-side distinct here would pay a
      // second fact-scale aggregation for rows bfsHops re-dedups
      // anyway.
      val cs = dTbl("lineitem").select($"l_orderkey", $"l_suppkey")
        .join(dTbl("orders").select($"o_orderkey", $"o_custkey").hint("shuffle_hash"),
          $"l_orderkey" === $"o_orderkey")
        .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("sv"))
      val edges = cs.select($"c".as("src"), $"sv".as("dst"))
        .unionByName(cs.select($"sv".as("src"), $"c".as("dst")))
      val seeds = dTbl("customer").filter($"c_custkey" === 0)
        .select(($"c_custkey" * 2).as("id"))
      Graphs.bfsHops(edges, "src", "dst", seeds, "id", maxHops = 3,
          edgeParts = DerivedCaps.factPartsFor(s, dir, "lineitem"))
        .select(expr("id div 2").as("vertex_id"),
          when($"id" % 2 === 0, "customer").otherwise("supplier").as("kind"),
          $"hops")
        .orderBy($"kind", $"vertex_id")
    }),

    // Common-neighbor link prediction over the part–supplier
    // bipartite graph: supplier pairs sharing ≥2 distinct parts —
    // "overlapping catalogs", the score every who-should-be-linked
    // recommender starts from. Candidate pairs come from self-joining
    // on the CENTER (part) vertex, so blowup is Σ deg(part)² with a
    // hub cap of 50 (a part everyone supplies predicts nothing — the
    // graph twin of d03's boilerplate-shingle cap). TPC-H part degree
    // is ~4, so wedge volume ≈ 16·|parts|: linear in practice, capped
    // by construction in the adversarial case.
    "g04_link_predict" -> ((s, dir) => {
      import s.implicits._
      val ps = graft.Tables.load(s, dir, "lineitem")
        .select($"l_partkey".as("part"), $"l_suppkey".as("supp"))
      Graphs.commonNeighbors(ps, srcCol = "supp", dstCol = "part",
          maxDegree = Some(50L), minCommon = 2L,
          edgeParts = DerivedCaps.factPartsFor(s, dir, "lineitem"))
        .select($"a".as("supp_a"), $"b".as("supp_b"), $"n_common")
        .orderBy($"supp_a", $"supp_b")
    }),

    // g04 normalized: Jaccard of the two neighbor sets in exact basis
    // points — same wedge budget, plus two vertex-sized degree joins.
    // Separates "many shared parts" from "mostly-overlapping
    // catalogs": the score a recommender actually thresholds on.
    "g05_jaccard_predict" -> ((s, dir) => {
      import s.implicits._
      val ps = graft.Tables.load(s, dir, "lineitem")
        .select($"l_partkey".as("part"), $"l_suppkey".as("supp"))
      Graphs.jaccardNeighbors(ps, srcCol = "supp", dstCol = "part",
          maxDegree = Some(50L), minCommon = 2L,
          edgeParts = DerivedCaps.factPartsFor(s, dir, "lineitem"))
        .select($"a".as("supp_a"), $"b".as("supp_b"), $"n_common",
          $"jaccard_bp")
        .orderBy($"supp_a", $"supp_b")
    }),

    // HITS hubs/authorities over the DIRECTED canonical pair graph
    // (a_id → b_id, the a<b orientation d03 mines): authority = "how
    // much duplicated content points AT this doc", hub = "how much
    // this doc points at authorities" — the asymmetric centrality
    // that separates templates (hubs) from their mirrors
    // (authorities). Fixed 3 iterations in unnormalized integer
    // arithmetic: per-step normalization is a global scalar, so
    // rankings and ratios equal the normalized iterate while every
    // sum stays exactly reproducible under the DuckDB oracle.
    "g06_hits" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val planted = d.filter($"doc_id" < 25)
        .withColumn("doc_id", $"doc_id" + Planted.Off)
      val corpus = d.unionByName(planted)
      // nDocs = mined corpus: base + 25 planted copies (ADVICE r10)
      val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        n = 3, minJaccard = 0.5, maxDf = DerivedCaps.maxDfFor(s, dir),
        pairParts = PartitionSizing.parts(s.sparkContext.defaultParallelism,
          DerivedCaps.miningBudgetFor(s, dir).stateBytes),
        nDocs = DerivedCaps.tableCountFor(s, dir, "documents") + 25)
      Graphs.hits(pairs, "a_id", "b_id", corpus.select($"doc_id"), "doc_id",
          iterations = HitsIters)
        .orderBy($"doc_id")
    }),

    // Modularity of the SOURCE partition against the organic near-dup
    // graph: is duplication a within-source phenomenon (dedup can run
    // per-source, cheap and parallel) or cross-source (must be
    // global)? Per-source contribution in exact integer counts with
    // one bit-reproducible float step; Q = Σ q_contrib.
    "g07_source_modularity" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 3, minJaccard = 0.5, maxDf = DerivedCaps.maxDfFor(s, dir),
        pairParts = PartitionSizing.parts(s.sparkContext.defaultParallelism,
          DerivedCaps.miningBudgetFor(s, dir).stateBytes),
        nDocs = DerivedCaps.tableCountFor(s, dir, "documents"))
      Graphs.partitionModularity(pairs, "a_id", "b_id",
          d.select($"doc_id", $"source"), "doc_id", "source")
        .orderBy($"source")
    }),

    // 2-core of the planted-trio pair graph (3 peeling rounds): the
    // trio cliques survive peeling by construction, star fringes
    // strip away — the "densely mirrored center" view of a dup
    // cluster. Fixed rounds keep it one declarative job under the
    // unrolled-CTE oracle.
    "g08_kcore" -> ((s, dir) => {
      import s.implicits._
      val slice = docs(s, dir).filter(expr(TriPred))
      val corpus = slice
        .unionByName(slice.withColumn("doc_id", $"doc_id" + Planted.Off))
        .unionByName(slice.withColumn("doc_id", $"doc_id" + Planted.Off2))
      // nDocs bounds the mined 3x-slice union; 3x the base count is a
      // safe over-count (the slice is a subset) — an under-count could
      // broadcast a sizes frame past the gate (ADVICE r10)
      // the mined corpus is a (3/20)-slice: per-shingle df scales by
      // 3/20 vs the dir-level budget's full-corpus histogram, so the
      // candidate prediction scales by ~(3/20)² — scaling the budget
      // keeps the cores floor from over-pinning a fortieth of the
      // predicted work (r14: 1.6-2x wall on the iterating consumers)
      val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        n = 3, minJaccard = 0.5, maxDf = DerivedCaps.maxDfFor(s, dir),
        pairParts = PartitionSizing.parts(s.sparkContext.defaultParallelism,
          DerivedCaps.miningBudgetFor(s, dir).scaled(TriSliceFraction).stateBytes),
        nDocs = 3L * DerivedCaps.tableCountFor(s, dir, "documents"))
      Graphs.kCorePeel(pairs, "a_id", "b_id", k = 2L, rounds = 3)
        .select($"vertex".as("doc_id"), $"deg")
        .orderBy($"doc_id")
    }),

    // Per-vertex triangle counts over the planted-trio slice: each
    // (doc, copy+Off, copy+Off2) trio is a 3-clique; organic near-dups
    // inside the slice add their own wedges. Degree-ordered
    // orientation bounds wedge generation at the low-degree corner.
    "g02_triangles" -> ((s, dir) => {
      import s.implicits._
      val slice = docs(s, dir).filter(expr(TriPred))
      val corpus = slice
        .unionByName(slice.withColumn("doc_id", $"doc_id" + Planted.Off))
        .unionByName(slice.withColumn("doc_id", $"doc_id" + Planted.Off2))
      // same 3x-slice bound as g08 (ADVICE r10)
      // same (3/20)²-scaled budget as g08 (the slice-corpus rationale)
      val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        n = 3, minJaccard = 0.5, maxDf = DerivedCaps.maxDfFor(s, dir),
        pairParts = PartitionSizing.parts(s.sparkContext.defaultParallelism,
          DerivedCaps.miningBudgetFor(s, dir).scaled(TriSliceFraction).stateBytes),
        nDocs = 3L * DerivedCaps.tableCountFor(s, dir, "documents"))
      Graphs.triangleCounts(pairs, "a_id", "b_id")
        .orderBy($"vertex")
    }),
  )

  val oracles: Map[String, String] = Map(

    // independent naive spelling: distinct edges, hub-part cap,
    // center self-join, pair count ≥ 2
    "g04_link_predict" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sv FROM lineitem),
        |keep AS (SELECT p FROM ps GROUP BY p HAVING count(*) <= 50),
        |e AS (SELECT ps.p, ps.sv FROM ps JOIN keep USING (p))
        |SELECT a.sv AS supp_a, b.sv AS supp_b, count(*) AS n_common
        |FROM e a JOIN e b ON a.p = b.p AND a.sv < b.sv
        |GROUP BY a.sv, b.sv HAVING count(*) >= 2
        |ORDER BY supp_a, supp_b""".stripMargin,

    // g04's CTEs + src degrees; all-integer basis points
    "g05_jaccard_predict" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sv FROM lineitem),
        |keep AS (SELECT p FROM ps GROUP BY p HAVING count(*) <= 50),
        |e AS (SELECT ps.p, ps.sv FROM ps JOIN keep USING (p)),
        |deg AS (SELECT sv, count(*) AS d FROM e GROUP BY sv),
        |pairs AS (
        |  SELECT a.sv AS supp_a, b.sv AS supp_b, count(*) AS n_common
        |  FROM e a JOIN e b ON a.p = b.p AND a.sv < b.sv
        |  GROUP BY a.sv, b.sv HAVING count(*) >= 2)
        |SELECT supp_a, supp_b, n_common,
        |  CAST((n_common * 10000) // (da.d + db.d - n_common) AS BIGINT) AS jaccard_bp
        |FROM pairs
        |JOIN deg da ON da.sv = supp_a
        |JOIN deg db ON db.sv = supp_b
        |ORDER BY supp_a, supp_b""".stripMargin,

    "g01_pagerank" -> {
      val corpusCte =
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000000000, text FROM documents WHERE doc_id < 25)""".stripMargin
      val graphCtes =
        s"""e2 AS (SELECT a_id AS u, b_id AS v FROM pairs
           |       UNION SELECT b_id, a_id FROM pairs),
           |deg AS (SELECT u, count(*) AS d FROM e2 GROUP BY u),
           |ewd AS (SELECT e2.u, e2.v, d FROM e2 JOIN deg USING (u)),
           |verts AS (SELECT DISTINCT u FROM (SELECT u FROM e2 UNION ALL SELECT v FROM e2)),
           |r0 AS (SELECT u, CAST($PrScale AS BIGINT) AS r FROM verts)""".stripMargin
      val iterCtes = (1 to PrIters).map { i =>
        s"""r$i AS (
           |  SELECT vv.u, CAST($PrBase + (85 * coalesce(s.m, 0)) // 100 AS BIGINT) AS r
           |  FROM verts vv LEFT JOIN (
           |    SELECT e.v AS u, sum(p.r // e.d) AS m
           |    FROM ewd e JOIN r${i - 1} p ON p.u = e.u GROUP BY e.v) s
           |  ON s.u = vv.u)""".stripMargin
      }.mkString(",\n")
      s"""${pairsSql(corpusCte)},
         |$graphCtes,
         |$iterCtes
         |SELECT c.doc_id, CAST(coalesce(r.r, $PrBase) AS BIGINT) AS pr
         |FROM corpus c LEFT JOIN r$PrIters r ON r.u = c.doc_id
         |ORDER BY c.doc_id""".stripMargin
    },

    // g01's corpus + DIRECTED a<b pair edges; the 3 HITS half-step
    // pairs unrolled as CTEs in the same unnormalized integer
    // arithmetic (a_i = Σ h_{i−1} over in-edges, h_i = Σ a_i over
    // out-edges).
    "g06_hits" -> {
      val corpusCte =
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000000000, text FROM documents WHERE doc_id < 25)""".stripMargin
      val graphCtes =
        """ed AS (SELECT a_id AS u, b_id AS v FROM pairs),
          |verts AS (SELECT DISTINCT u FROM (SELECT u FROM ed UNION ALL SELECT v FROM ed)),
          |h0 AS (SELECT u, CAST(1 AS BIGINT) AS h FROM verts)""".stripMargin
      val iterCtes = (1 to HitsIters).map { i =>
        s"""a$i AS (
           |  SELECT e.v, CAST(sum(p.h) AS BIGINT) AS a
           |  FROM ed e JOIN h${i - 1} p ON p.u = e.u GROUP BY e.v),
           |h$i AS (
           |  SELECT e.u, CAST(sum(q.a) AS BIGINT) AS h
           |  FROM ed e JOIN a$i q ON q.v = e.v GROUP BY e.u)""".stripMargin
      }.mkString(",\n")
      s"""${pairsSql(corpusCte)},
         |$graphCtes,
         |$iterCtes
         |SELECT c.doc_id,
         |  CAST(coalesce(fa.a, 0) AS BIGINT) AS auth,
         |  CAST(coalesce(fh.h, 0) AS BIGINT) AS hub
         |FROM corpus c
         |LEFT JOIN a$HitsIters fa ON fa.v = c.doc_id
         |LEFT JOIN h$HitsIters fh ON fh.u = c.doc_id
         |ORDER BY c.doc_id""".stripMargin
    },

    // organic pairs (plain corpus), per-source intra-edge and degree
    // sums, identical left-to-right float contribution
    "g07_source_modularity" -> {
      val corpusCte =
        "WITH corpus AS (SELECT doc_id, text FROM documents)"
      s"""${pairsSql(corpusCte)},
         |e2 AS (SELECT a_id AS u, b_id AS v FROM pairs
         |       UNION ALL SELECT b_id, a_id FROM pairs),
         |deg AS (SELECT u, count(*) AS dg FROM e2 GROUP BY u),
         |mt AS (SELECT count(*) AS m FROM pairs),
         |ds AS (SELECT doc_id, source FROM documents),
         |mc AS (
         |  SELECT sa.source, count(*) AS mc FROM pairs p
         |  JOIN ds sa ON sa.doc_id = p.a_id
         |  JOIN ds sb ON sb.doc_id = p.b_id
         |  WHERE sa.source = sb.source GROUP BY sa.source),
         |dc AS (
         |  SELECT ds.source, SUM(coalesce(deg.dg, 0)) AS dc
         |  FROM ds LEFT JOIN deg ON deg.u = ds.doc_id GROUP BY ds.source)
         |SELECT dc.source,
         |  CAST(coalesce(mc.mc, 0) AS BIGINT) AS intra_edges,
         |  CAST(dc.dc AS BIGINT) AS deg_sum,
         |  round((4.0 * mt.m * coalesce(mc.mc, 0) - dc.dc * dc.dc)
         |        / (4.0 * mt.m * mt.m), 6) AS q_contrib
         |FROM dc LEFT JOIN mc USING (source) CROSS JOIN mt
         |ORDER BY dc.source""".stripMargin
    },

    // Same namespacing, same edge set, BFS unrolled to 3 relaxation
    // rounds (d_{i} = min over d_{i-1} ∪ neighbors+1).
    "g03_bfs_reach" -> {
      val bfsCtes = (1 to 3).map { i =>
        s"""d$i AS (
           |  SELECT u, min(h) AS h FROM (
           |    SELECT u, h FROM d${i - 1}
           |    UNION ALL
           |    SELECT e2.v, d${i - 1}.h + 1 FROM e2 JOIN d${i - 1} ON d${i - 1}.u = e2.u)
           |  GROUP BY u)""".stripMargin
      }.mkString(",\n")
      s"""WITH cs AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sv
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e2 AS (SELECT c AS u, sv AS v FROM cs UNION SELECT sv, c FROM cs),
         |d0 AS (SELECT c_custkey * 2 AS u, CAST(0 AS BIGINT) AS h
         |       FROM customer WHERE c_custkey = 0),
         |$bfsCtes
         |SELECT u // 2 AS vertex_id,
         |  CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  CAST(h AS BIGINT) AS hops
         |FROM d3 ORDER BY kind, vertex_id""".stripMargin
    },

    // Naive id-ordered triangle join — provably the same triangle set
    // as the engine's degree-oriented plan, stated independently.
    "g02_triangles" -> {
      val corpusCte =
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents WHERE $TriPred
           |  UNION ALL
           |  SELECT doc_id + 1000000000000, text FROM documents WHERE $TriPred
           |  UNION ALL
           |  SELECT doc_id + 2000000000000, text FROM documents WHERE $TriPred)""".stripMargin
      s"""${pairsSql(corpusCte)},
         |e AS (SELECT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v FROM pairs),
         |tri AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM e e1 JOIN e e2 ON e2.u = e1.v
         |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
         |SELECT vertex, count(*) AS n_tri FROM (
         |  SELECT unnest([a, b, c]) AS vertex FROM tri)
         |GROUP BY vertex ORDER BY vertex""".stripMargin
    },

    // g02's corpus + pairs, 3 peeling rounds unrolled: degree agg →
    // keep-set → edge filter, then the survivors' final degrees
    "g08_kcore" -> {
      val corpusCte =
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents WHERE $TriPred
           |  UNION ALL
           |  SELECT doc_id + 1000000000000, text FROM documents WHERE $TriPred
           |  UNION ALL
           |  SELECT doc_id + 2000000000000, text FROM documents WHERE $TriPred)""".stripMargin
      val peelCtes = (1 to 3).map { i =>
        s"""d$i AS (
           |  SELECT u, count(*) AS d FROM (
           |    SELECT u FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
           |  GROUP BY u),
           |k$i AS (SELECT u FROM d$i WHERE d >= 2),
           |e$i AS (
           |  SELECT e.u, e.v FROM e${i - 1} e
           |  JOIN k$i a ON a.u = e.u JOIN k$i b ON b.u = e.v)""".stripMargin
      }.mkString(",\n")
      s"""${pairsSql(corpusCte)},
         |e0 AS (SELECT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v
         |       FROM pairs),
         |$peelCtes
         |SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT u FROM e3 UNION ALL SELECT v FROM e3)
         |GROUP BY u ORDER BY doc_id""".stripMargin
    },
  )
}
