package graft.operators

/** Density-scaled tuning for the multi-table sign-LSH blockers
  * ([[Dedup.embeddingPairsLsh]], [[Similarity.knnJoinLsh]]).
  *
  * The 10× sweep's sharpest lesson (SCALE.md): FIXED LSH tuning does not
  * survive corpus growth — at 10× density the within-bucket candidate set
  * grows ~quadratically and a 26× wall-clock blow-up follows. The
  * response is standard LSH theory, not a constant:
  *
  *  - `planes` caps expected bucket occupancy: 2^planes buckets per
  *    table ⇒ planes = ⌈log2(n / targetBucket)⌉ keeps the per-bucket
  *    quadratic term at ~targetBucket² regardless of corpus size.
  *  - `tables` buys recall back: a pair at cosine `threshold` collides
  *    in one table with p = (1 − θ/π)^planes (θ = arccos(threshold)),
  *    so tables = ⌈ln(1 − recall) / ln(1 − p)⌉ reaches the target
  *    recall 1 − (1 − p)^tables.
  *
  * Consistency with the measured sweeps: at n = 2,000 / threshold 0.45
  * this yields (planes 3, tables 10) — the battery's hand tuning is
  * (3, 8); at n = 20,000 it yields (planes 6, tables ≤ 64 capped) —
  * a plane sweep on the 10× corpus measured (6, 32) as the
  * recall-recovering point. The model is deliberately conservative on tables (it assumes
  * the threshold-angle worst case; real near-dup pairs are closer), so
  * `maxTables` caps the candidate-side cost.
  */
object LshTuning {

  final case class Params(planes: Int, tables: Int)

  /** Tuning for a corpus of `n` vectors at cosine `threshold`.
    *
    * @param targetBucket expected bucket occupancy the planes cap
    *                     enforces (per-bucket candidate work ~ this²)
    * @param targetRecall per-pair collision probability floor at the
    *                     threshold angle (worst case over the accepted
    *                     similarity range)
    */
  def forCorpus(n: Long, threshold: Double,
                targetBucket: Int = 250,
                targetRecall: Double = 0.95,
                maxTables: Int = 64): Params = {
    require(n > 0, "corpus size must be positive")
    require(threshold > -1.0 && threshold < 1.0, "threshold in (-1, 1)")
    require(targetBucket > 0 && targetRecall > 0 && targetRecall < 1)
    val planes = math.max(1,
      math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt)
    val theta = math.acos(threshold)
    val pCollide = math.pow(1.0 - theta / math.Pi, planes.toDouble)
    Params(planes, tablesFor(pCollide, targetRecall, maxTables))
  }

  private def tablesFor(pCollide: Double, perItemRecall: Double,
                        maxTables: Int): Int =
    if (pCollide >= 1.0) 1
    else math.min(maxTables.toLong,
      math.max(1L, math.ceil(
        math.log1p(-perItemRecall) / math.log1p(-pCollide)).toLong)).toInt

  /** Tuning for a MAJORITY-VOTE consumer ([[Similarity.labelPropagateLsh]]
    * and kin): a missed neighbor only matters when it flips the vote, so
    * the per-neighbor recall the tables must buy is LOWER than a
    * pair-recall target — the ANN_SWEEP round-16 lesson that neighbor
    * recall understates a voting operator's robustness, folded back into
    * the tuner.
    *
    * Model: each of the k true neighbors independently survives bucket
    * pruning with per-neighbor recall r = 1 − (1 − p)^tables; the vote
    * is PESSIMISTICALLY assumed correct only when a strict majority
    * (⌊k/2⌋ + 1) of the true top-k survives — i.e. the adversary holds a
    * minimal majority and every miss hits it. `targetVote` is then
    * P[Binom(k, r) ≥ ⌊k/2⌋+1], inverted for the smallest r that reaches
    * it; the plane cap is [[forCorpus]]'s occupancy rule unchanged. At
    * k = 5 / targetVote 0.95 this needs r ≈ 0.81 instead of 0.95 —
    * one-third fewer tables at the q_knn_label scale (4 vs 6), and the
    * candidate fraction follows (ANN_SWEEP round-17 table).
    *
    * The model counts COLLISION loss only: it is exact for the
    * unit-normalized regime, where the angular buckets and the dot
    * ranking agree. On corpora with wide norm spread the MIPS-vs-angle
    * mismatch (ANN_SWEEP round-16 caveat) adds disagreements no table
    * count removes — measured there, vote-tuned defaults trade ≤ a few
    * points of agreement for the candidate-fraction cut.
    */
  def forVote(n: Long, threshold: Double, k: Int,
              targetVote: Double = 0.95,
              targetBucket: Int = 250,
              maxTables: Int = 64): Params = {
    require(k > 0, "k must be positive")
    require(targetVote > 0 && targetVote < 1, "targetVote in (0, 1)")
    val base = forCorpus(n, threshold, targetBucket, 0.5, maxTables)
    val m = k / 2 + 1
    def voteProb(r: Double): Double = {
      def comb(a: Int, b: Int): Double =
        (1 to b).map(i => (a - b + i).toDouble / i).product
      (m to k).map(j =>
        comb(k, j) * math.pow(r, j) * math.pow(1 - r, k - j)).sum
    }
    // smallest per-neighbor recall whose pessimistic vote survival meets
    // the target (voteProb is monotone in r — bisect to 1e-4)
    var lo = 0.0; var hi = 1.0
    (0 until 40).foreach { _ =>
      val mid = (lo + hi) / 2
      if (voteProb(mid) >= targetVote) hi = mid else lo = mid
    }
    val theta = math.acos(threshold)
    val pCollide = math.pow(1.0 - theta / math.Pi, base.planes.toDouble)
    Params(base.planes, tablesFor(pCollide, hi, maxTables))
  }
}
