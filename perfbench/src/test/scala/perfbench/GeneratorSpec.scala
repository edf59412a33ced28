package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {
  private def chain(seed: Long) = ChainCorpus.generate(seed, 400, 300)
  private def sync(seed: Long) = SyncPlan.generate(seed, 200, 40, 4, 300, 5000L, 400L)
  private def docs(seed: Long) = DocCorpus.generate(seed, 300)

  private def bytes(c: ChainCorpus): Seq[Seq[Byte]] =
    c.files.map(_.toSeq) :+ c.truth.render.getBytes.toSeq
  private def bytes(p: SyncPlan): Seq[Seq[Byte]] =
    p.allFiles.map(_.toSeq) :+ p.render.getBytes.toSeq
  private def bytes(d: DocCorpus): Seq[Seq[Byte]] =
    Seq(d.jsonl.toSeq, d.render.getBytes.toSeq)

  test("the same seed gives byte-identical inputs and truth") {
    assert(bytes(chain(11)) == bytes(chain(11)))
    assert(bytes(sync(11)) == bytes(sync(11)))
    assert(bytes(docs(11)) == bytes(docs(11)))
  }

  test("a different seed changes the inputs") {
    assert(bytes(chain(11)).head != bytes(chain(12)).head)
    assert(bytes(sync(11)).head != bytes(sync(12)).head)
    assert(bytes(docs(11)).head != bytes(docs(12)).head)
  }

  test("chain truth matches the corpus structure") {
    val c = chain(3)
    assert(c.truth.nBest == 400 && c.truth.bestHeight == 399)
    // every best block plus the stale branch plus the orphans
    assert(c.truth.nBlocks >= 400 + ChainCorpus.StaleLen)
    assert(c.truth.nChainTxs == c.bestTxs.size)
    assert(c.truth.totalFee == c.bestTxs.map(_.fee).sum && c.truth.totalFee > 0)
  }

  test("the sync schedule has competing branches and late parents, and its best chain is linked") {
    val p = SyncPlan.generate(5, 200, 40, 4, 300, 30000L, 400L)
    val kinds = p.pubs.map(_.kind).toSet
    assert(kinds.contains("reorg") && kinds.contains("child_first") && kinds.contains("parent_late"))
    assert(p.best.map(_.height) == p.best.indices)
    assert(p.best.sliding(2).forall { case Seq(a, b) => b.parent == a.hash })
  }

  test("address encoding matches the BIP-173 and Base58Check vectors") {
    val h = "751e76e8199196d454941c45d1b3a323f1433bd6".grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    assert(Wire.segwit("bc", 0, h) == "bc1qw508d6qejxtdg4y5r3zarvary0c5xw7kv8f3t4")
    assert(Wire.base58Check(0x00, h) == "1BgGZ9tcN4rm9KBzDn7KprQz87SZ26SAMH")
  }

  test("planted exact duplicates are verbatim copies") {
    val d = docs(9)
    assert(d.exactPairs.nonEmpty && d.nearPairs.nonEmpty)
    assert(d.exactPairs.forall { case (a, b) => a < b && d.texts(a.toInt) == d.texts(b.toInt) })
  }
}
