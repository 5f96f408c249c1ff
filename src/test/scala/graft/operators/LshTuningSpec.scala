package graft.operators

import org.scalatest.funsuite.AnyFunSuite

class LshTuningSpec extends AnyFunSuite {

  test("matches the measured sweep points") {
    // battery corpus (sf0.1 embeddings): hand tuning was (3, 8)
    val small = LshTuning.forCorpus(2000, threshold = 0.45)
    assert(small.planes == 3)
    assert(small.tables >= 8 && small.tables <= 16)
    // 10x corpus: a plane sweep measured planes 6 as the
    // recall-recovering point (with 32 tables)
    val big = LshTuning.forCorpus(20000, threshold = 0.45)
    assert(big.planes >= 6 && big.planes <= 7)
    assert(big.tables <= 64)
  }

  test("planes grow logarithmically with corpus size; bucket occupancy stays capped") {
    val sizes = Seq(1000L, 10000L, 100000L, 1000000L, 100000000L, 10000000000L)
    val params = sizes.map(n => (n, LshTuning.forCorpus(n, 0.8)))
    // monotone non-decreasing planes
    assert(params.map(_._2.planes) == params.map(_._2.planes).sorted)
    // occupancy n / 2^planes never exceeds the target
    params.foreach { case (n, p) =>
      assert(n.toDouble / math.pow(2, p.planes) <= 250.0 + 1e-9,
        s"n=$n planes=${p.planes}")
    }
    // 10 BILLION vectors — the 100 TB regime — still a sane table count
    assert(params.last._2.planes <= 32 && params.last._2.tables <= 64)
  }

  test("higher threshold needs fewer tables (pairs collide more per table)") {
    val loose = LshTuning.forCorpus(100000, threshold = 0.45)
    val tight = LshTuning.forCorpus(100000, threshold = 0.9)
    assert(tight.tables < loose.tables)
  }

  test("recall model: 1-(1-p)^tables >= target when tables uncapped") {
    for (n <- Seq(5000L, 50000L); thr <- Seq(0.6, 0.8, 0.9)) {
      val p = LshTuning.forCorpus(n, thr, maxTables = 100000)
      val theta = math.acos(thr)
      val pc = math.pow(1 - theta / math.Pi, p.planes.toDouble)
      val recall = 1 - math.pow(1 - pc, p.tables.toDouble)
      assert(recall >= 0.95 - 1e-9, s"n=$n thr=$thr recall=$recall")
    }
  }

  test("forVote: same planes, fewer-or-equal tables than pair-recall tuning") {
    for (n <- Seq(2000L, 50000L); thr <- Seq(0.7, 0.9); k <- Seq(3, 5, 11)) {
      val pair = LshTuning.forCorpus(n, thr)
      val vote = LshTuning.forVote(n, thr, k)
      assert(vote.planes == pair.planes, s"n=$n thr=$thr k=$k")
      assert(vote.tables <= pair.tables, s"n=$n thr=$thr k=$k")
    }
    // the measured q_knn_label-scale cut: (3, 6) pair-recall -> (3, 4)
    // vote at k=5/0.95 (ANN_SWEEP round-17)
    assert(LshTuning.forCorpus(1800, 0.7) == LshTuning.Params(3, 6))
    assert(LshTuning.forVote(1800, 0.7, k = 5) == LshTuning.Params(3, 4))
  }

  test("forVote model closes: pessimistic majority-vote survival meets the target") {
    for (n <- Seq(2000L, 50000L); thr <- Seq(0.7, 0.9); k <- Seq(3, 5, 11)) {
      val vote = LshTuning.forVote(n, thr, k, maxTables = 100000)
      val theta = math.acos(thr)
      val pc = math.pow(1 - theta / math.Pi, vote.planes.toDouble)
      val r = 1 - math.pow(1 - pc, vote.tables.toDouble)
      val m = k / 2 + 1
      def comb(a: Int, b: Int): Double =
        (1 to b).map(i => (a - b + i).toDouble / i).product
      val pVote = (m to k).map(j =>
        comb(k, j) * math.pow(r, j) * math.pow(1 - r, k - j)).sum
      assert(pVote >= 0.95 - 1e-6, s"n=$n thr=$thr k=$k pVote=$pVote")
    }
  }

  test("larger k tolerates lower per-neighbor recall (tables non-increasing in k)") {
    val tables = Seq(3, 5, 9, 21).map(k =>
      LshTuning.forVote(100000, 0.8, k, maxTables = 100000).tables)
    assert(tables == tables.sorted.reverse)
  }
}
