package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every output check accepts the reference's own answer and rejects a
  * deliberately corrupted one.
  */
class CheckSpec extends AnyFunSuite {
  private val corpus = ChainCorpus.generate(21, 400, 300)
  private val edges: Seq[(String, String)] = {
    val r = new java.util.Random(4)
    Seq.fill(300)((s"a${r.nextInt(60)}", s"a${r.nextInt(60)}"))
  }

  private def swapFirstTwo[K, V](m: Map[K, V])(implicit o: Ordering[K]): Seq[(K, V)] = {
    val s = m.toSeq.sortBy(_._1)
    val i = s.indexWhere(_._2 != s.head._2)
    s.updated(0, (s.head._1, s(i)._2)).updated(i, (s(i)._1, s.head._2))
  }

  test("build truth: one fee changed") {
    val t = corpus.truth
    assert(Checks.checkBuild(t, t).isEmpty)
    assert(Checks.checkBuild(t, t.copy(totalFee = t.totalFee + 1)).nonEmpty)
    val flows = ChainTruth.addressFlows(corpus.bestTxs).toSeq
    val bumped = flows.updated(0, flows.head.copy(_3 = flows.head._3 + 1))
    assert(Checks.addressChecksum(bumped.iterator) != t.addressChecksum)
  }

  test("wallet labels: one label swapped") {
    val want = Checks.walletLabels(corpus.bestTxs)
    assert(want.values.toSet.size > 1)
    assert(Checks.checkMap("wallet", want, want.toSeq).isEmpty)
    assert(Checks.checkWallets(want, want.toSeq).isEmpty)
    assert(Checks.checkMap("wallet", want, swapFirstTwo(want)).nonEmpty)
    assert(Checks.checkWallets(want, swapFirstTwo(want)).nonEmpty)
  }

  test("synced wallet labels: self-labelled extras pass, merged extras fail") {
    val want = Checks.walletLabels(corpus.bestTxs)
    assert(Checks.checkWallets(want, want.toSeq :+ ("stale-only", "stale-only")).isEmpty)
    assert(Checks.checkWallets(want, want.toSeq :+ ("stale-only", want.head._2)).nonEmpty)
  }

  test("best chain: one block replaced by a stale sibling") {
    val best = (0 until 50).map(h => (s"h$h", h))
    assert(Checks.checkBestChain(best, best.reverse).isEmpty)
    assert(Checks.checkBestChain(best, best.updated(49, ("stale", 49))).nonEmpty)
  }

  test("pagerank: one rank perturbed") {
    val want = Checks.pageRank(edges)
    assert(math.abs(want.values.sum - want.size) < 1e-9)
    assert(Checks.checkRanks(want, want.toSeq).isEmpty)
    val (v, r) = want.head
    assert(Checks.checkRanks(want, (want + (v -> (r * 1.001))).toSeq).nonEmpty)
  }

  test("k-core and label propagation: one vertex dropped, one label swapped") {
    val core = Checks.kCore(edges, 2)
    assert(core.nonEmpty)
    assert(Checks.checkSet("2-core", core, core.toSeq).isEmpty)
    assert(Checks.checkSet("2-core", core, core.toSeq.tail).nonEmpty)
    val lpa = Checks.labelPropagation(edges)
    assert(Checks.checkMap("community", lpa, lpa.toSeq).isEmpty)
    assert(Checks.checkMap("community", lpa, swapFirstTwo(lpa)).nonEmpty)
  }

  test("k-core peels a pendant path and keeps a cycle") {
    val g = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d", "d" -> "e")
    assert(Checks.kCore(g, 2) == Set("a", "b", "c"))
  }

  test("dedup: a Jaccard changed, an exact duplicate dropped, a disjoint candidate added") {
    val docs = DocCorpus.generate(8, 400)
    val j = new Checks.CappedJaccard(docs.texts, 10L)
    val pairs = docs.exactPairs.map { case (a, b) => (a, b, j(a, b)) }.filter(_._3 >= 0.8)
    assert(pairs.nonEmpty)
    assert(Checks.checkJaccardPairs(j, docs.exactPairs, 0.8, pairs).isEmpty)
    assert(Checks.checkJaccardPairs(j, docs.exactPairs, 0.8, pairs.tail).nonEmpty)
    val bent = pairs.updated(0, pairs.head.copy(_3 = pairs.head._3 - 0.01))
    assert(Checks.checkJaccardPairs(j, docs.exactPairs, 0.8, bent).nonEmpty)

    val cands = docs.exactPairs
    assert(Checks.checkCandidatePairs(j, docs.exactPairs, cands).isEmpty)
    assert(Checks.checkCandidatePairs(j, docs.exactPairs, cands.tail).nonEmpty)
    val disjoint = (for (a <- 0L until 400L; b <- a + 1 until 400L if j.plain(a, b) == 0.0)
      yield (a, b)).head
    assert(Checks.checkCandidatePairs(j, docs.exactPairs, cands :+ disjoint).nonEmpty)
  }

  test("near-duplicate clusters: one cluster id swapped") {
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 8L))
    val right = Seq(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 1L,
      6L -> 6L, 7L -> 7L, 8L -> 7L, 9L -> 9L)
    assert(Checks.checkClusters(10, pairs, right).isEmpty)
    assert(Checks.checkClusters(10, pairs, right.updated(5, 5L -> 7L)).nonEmpty)
  }

  test("tail percentile keeps at least ten samples beyond it") {
    assert(Checks.tail(Seq.fill(19)(1.0)).isEmpty)
    assert(Checks.tail((1 to 20).map(_.toDouble)).map(_._1).contains(50))
    assert(Checks.tail((1 to 1000).map(_.toDouble)).map(_._1).contains(99))
  }
}
