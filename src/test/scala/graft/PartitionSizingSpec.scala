package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, PartitionSizing}
import graft.operators.Similarity.EmbPairBudget

/** [[PartitionSizing.parts]] against the five width formulas it
  * replaced, kept here as the reference: the d03 pair join, the
  * embedding pair dedup, d13's symmetrized edge dedup, the row-count
  * clamp behind `factPartsFor`/`gramPartsFor`, and the gap-fill grid
  * clamp. The references spell "leave the exchange to AQE" as 0; the
  * rule spells it None. Each rule call below passes the inputs its
  * production caller passes (`DerivedCaps` and the query definitions). */
class PartitionSizingSpec extends AnyFunSuite {

  // ---- reference formulas, verbatim ----

  private def refMining(predictedPairs: Double, cores: Int): Int = {
    if (predictedPairs * 48.0 <= (256L << 20).toDouble) return 0
    val byState = math.ceil(predictedPairs * 48.0 / (256L << 20)).toInt
    math.min(4096, math.max(cores, byState))
  }

  private def refEmbPair(dupPairs: Double, cores: Int): Int = {
    val state = dupPairs * 224.0
    if (state <= (256L << 20).toDouble) return 0
    val byState = math.ceil(state / (256L << 20).toDouble).toInt
    math.min(4096, math.max(cores, byState))
  }

  private def refEmbSym(dupPairs: Double, cores: Int): Int = {
    val state = 2.0 * dupPairs * 224.0
    if (state <= (256L << 20).toDouble) return 0
    val byState = math.ceil(state / (256L << 20).toDouble).toInt
    math.min(4096, math.max(cores, byState))
  }

  private def refClamp(cores: Int, parts: Long): Int =
    math.min(4096L, math.max(cores.toLong, parts)).toInt

  private def refFact(rows: Long, rowsPerTask: Long, cores: Int): Int =
    refClamp(cores, (rows + rowsPerTask - 1) / rowsPerTask)

  private def refGram(chars: Long, cores: Int): Int = {
    val grams = chars / 6L
    refClamp(cores, (grams + 499999L) / 500000L)
  }

  private def refGrid(grid: Long, cores: Int): Int = {
    val byRows = math.ceil(grid / 1000000.0).toInt
    math.min(4096, math.max(cores, byRows))
  }

  // ---- the rule, as each caller invokes it ----

  private def mining(b: Dedup.MiningBudget, cores: Int) =
    PartitionSizing.parts(cores, b.stateBytes)
  private def embPair(dupPairs: Double, cores: Int) =
    PartitionSizing.parts(cores, EmbPairBudget(dupPairs).pairStateBytes)
  private def embSym(dupPairs: Double, cores: Int) =
    PartitionSizing.parts(cores, EmbPairBudget(dupPairs).symStateBytes)
  private def rows(units: Long, perTask: Double, cores: Int) =
    PartitionSizing.parts(cores, units.toDouble, perTask, aqeWithinOneTask = false)

  private val Cores = Seq(1, 4, 32, 48)
  private val Share = (256L << 20).toDouble

  private def asOption(width: Int): Option[Int] = if (width == 0) None else Some(width)

  /** Unit counts around every boundary of a rule with `perTaskUnits`
    * units per task share: the engage line, each cores floor, the 4096
    * cap, plus zero and values far past the cap. */
  private def around(perTaskUnits: Double): Seq[Double] = {
    val ks = Seq(1.0, 3.0, 4.0, 5.0, 31.0, 32.0, 33.0, 47.0, 48.0, 49.0,
      4095.0, 4096.0, 4097.0)
    val centers = ks.map(_ * perTaskUnits)
    (Seq(0.0, 1.0, 1e12, 1e15, 1e20, 1e300) ++ centers.flatMap { c =>
      Seq(c, math.nextUp(c), math.nextDown(c), math.floor(c), math.ceil(c),
        math.floor(c) - 1, math.ceil(c) + 1)
    }).filter(_ >= 0).distinct
  }

  /** Integer unit counts around the same boundaries, and past 2^40. */
  private def aroundLong(perTask: Long): Seq[Long] = {
    val ks = Seq(0L, 1L, 3L, 4L, 5L, 31L, 32L, 33L, 47L, 48L, 49L, 4095L, 4096L, 4097L)
    val big = Seq(1L << 40, (1L << 40) + 1, (1L << 40) - 1, 1L << 50, (1L << 52) + 12345L)
    (ks.flatMap(k => Seq(k * perTask - 1, k * perTask, k * perTask + 1)) ++ big)
      .filter(_ >= 0).distinct
  }

  test("d03 pair join: every width equals the reference, scaled or not") {
    for (cores <- Cores; pairs <- around(Share / 48.0);
         fraction <- Seq(1.0, 0.5, 0.1)) {
      val b = Dedup.MiningBudget(16, pairs)
      val (got, want) =
        if (fraction == 1.0) (mining(b, cores), refMining(pairs, cores))
        else (mining(b.scaled(fraction), cores), refMining(pairs * fraction, cores))
      assert(got == asOption(want), s"pairs=$pairs fraction=$fraction cores=$cores")
    }
  }

  test("embedding pair dedup and d13's symmetrized dedup equal the reference") {
    for (cores <- Cores; pairs <- around(Share / 224.0) ++ around(Share / 448.0)) {
      assert(embPair(pairs, cores) == asOption(refEmbPair(pairs, cores)),
        s"pair: pairs=$pairs cores=$cores")
      assert(embSym(pairs, cores) == asOption(refEmbSym(pairs, cores)),
        s"sym: pairs=$pairs cores=$cores")
    }
  }

  test("row-count pins always pin and equal the reference clamp") {
    for (cores <- Cores) {
      for (perTask <- Seq(1000000L, 1500000L); n <- aroundLong(perTask))
        assert(rows(n, perTask.toDouble, cores) == Some(refFact(n, perTask, cores)),
          s"fact: rows=$n perTask=$perTask cores=$cores")
      // gramPartsFor feeds the rule the integer quotient chars / 6
      for (g <- aroundLong(500000L); chars <- Seq(6 * g - 1, 6 * g, 6 * g + 5, 6 * g + 6)
           if chars >= 0)
        assert(rows(chars / 6L, 500000.0, cores) == Some(refGram(chars, cores)),
          s"gram: chars=$chars cores=$cores")
      for (n <- aroundLong(1000000L))
        assert(rows(n, 1000000.0, cores) == Some(refGrid(n, cores)),
          s"grid: rows=$n cores=$cores")
    }
  }

  test("committed ladder widths at 32 cores") {
    // EmbPairBudget: sf10's 0.57e6 answers stay on AQE, sf20's 2.46e6
    // pin at the floor, sf160's 165.22e6 at 138; d13's sf160 edge
    // dedup models twice the pairs
    assert(refEmbPair(570020.0, 32) == 0 && embPair(570020.0, 32) == None)
    assert(refEmbPair(2460020.0, 32) == 32 && embPair(2460020.0, 32) == Some(32))
    assert(refEmbPair(165220020.0, 32) == 138 && embPair(165220020.0, 32) == Some(138))
    assert(refEmbSym(165220020.0, 32) == 276 && embSym(165220020.0, 32) == Some(276))
    assert(embSym(570020.0, 32) == None, "sf10's sym state models just under one share")
  }
}
