package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** Generator truth for a batch chain build: what a correct build of the
  * best chain must report, derived from the generator's own construction.
  */
final case class ChainTruth(nBlocks: Long, nBest: Long, bestHeight: Long,
    nChainTxs: Long, totalFee: Long, addressChecksum: String) {
  def render: String =
    s"n_blocks=$nBlocks\nn_best=$nBest\nbest_height=$bestHeight\n" +
      s"n_chain_txs=$nChainTxs\ntotal_fee=$totalFee\naddress_checksum=$addressChecksum\n"
}

object ChainTruth {
  def of(all: Int, best: Seq[GBlock]): ChainTruth = {
    val txs = best.flatMap(_.txs)
    ChainTruth(all, best.size, best.map(_.height).max, txs.size, txs.map(_.fee).sum,
      Checks.addressChecksum(addressFlows(txs)))
  }

  /** (address, received, sent) over the given transactions. */
  def addressFlows(txs: Seq[GTx]): Iterator[(String, Long, Long)] = {
    val recv = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val sent = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    txs.foreach { t =>
      t.outs.foreach { case (v, a) => recv(a) += v }
      t.spent.foreach { case (v, a) => sent(a) += v }
    }
    (recv.keySet ++ sent.keySet).iterator.map(a => (a, recv(a), sent(a)))
  }
}

/** The batch corpus: a best chain of `nBlocks` with everyday orphans and
  * one 140-block double-spending stale branch, shuffled across 32 blk files
  * in non-chain order — the on-disk shape of Core's block directory.
  */
final case class ChainCorpus(files: Seq[Array[Byte]], truth: ChainTruth, bestTxs: Seq[GTx]) {
  def write(dir: Path): Unit = {
    Files.createDirectories(dir)
    files.zipWithIndex.foreach { case (f, i) => Files.write(dir.resolve(f"blk$i%05d.dat"), f) }
    Files.write(dir.resolve("truth.txt"), truth.render.getBytes(UTF_8))
  }
}

object ChainCorpus {
  val Files = 32
  val StaleLen = 140

  def generate(seed: Long, nBlocks: Int, nAddresses: Int): ChainCorpus = {
    val g = new ChainGen(seed, nAddresses)
    val forkHeight = nBlocks - 2 * StaleLen - 21
    require(forkHeight > 0, s"$nBlocks blocks cannot hold a $StaleLen-block stale branch")
    val pools = g.newPools()
    var snapshot: g.Pools = null
    val (main, orphans) = g.mainChain(Wire.ZeroHash, 0, nBlocks, pools,
      b => if (b.height == forkHeight) snapshot = g.copyPools(pools))
    val branch = ArrayBuffer.empty[GBlock]
    var prev = main(forkHeight).hash
    (1 to StaleLen).foreach { d =>
      val (b, created) = g.block(prev, forkHeight + d, 50L, g.rnd.nextInt(3), snapshot)
      g.register(snapshot, created)
      branch += b
      prev = b.hash
    }
    val records = g.shuffled(main ++ orphans ++ branch)
    val files = (0 until Files).map(f =>
      ChainGen.blkFile(records.indices.filter(_ % Files == f).map(records)))
    ChainCorpus(files, ChainTruth.of(records.size, main), main.flatMap(_.txs))
  }
}

/** One publication of the tip-following schedule: a blk file due at
  * `dueMs` after the live phase starts.
  */
final case class Publication(dueMs: Long, blocks: Seq[GBlock], kind: String)

/** The sync workload's inputs: a bootstrap prefix, a backlog, and a seeded
  * live schedule with competing branches and child-before-parent
  * deliveries, plus the generator's final best chain.
  */
final case class SyncPlan(
    prefixFiles: Seq[Array[Byte]],
    backlogFiles: Seq[Array[Byte]],
    backlogBlocks: Int,
    pubs: Seq[Publication],
    best: Seq[GBlock]) {
  def bestTxs: Seq[GTx] = best.flatMap(_.txs)
  def allFiles: Seq[Array[Byte]] =
    prefixFiles ++ backlogFiles ++ pubs.map(p => ChainGen.blkFile(p.blocks))
  def render: String =
    s"prefix_files=${prefixFiles.size}\nbacklog_files=${backlogFiles.size}\n" +
      s"backlog_blocks=$backlogBlocks\n" +
      pubs.map(p => s"pub ${p.dueMs} ${p.kind} ${p.blocks.map(_.hash).mkString(",")}\n").mkString +
      best.map(b => s"best ${b.height} ${b.hash}\n").mkString
}

object SyncPlan {
  /** Blocks of a competing branch's reorg depth stay unspendable until
    * buried this deep, so no surviving transaction spends an output a reorg
    * removed.
    */
  private val Finality = 4
  private val LiveSpends = 3

  def generate(seed: Long, prefixBlocks: Int, backlogBlocks: Int, backlogFiles: Int,
      nAddresses: Int, liveMs: Long, gapMs: Long): SyncPlan = {
    val g = new ChainGen(seed, nAddresses)
    val pools = g.newPools()
    val (prefix, prefixOrphans) = g.mainChain(Wire.ZeroHash, 0, prefixBlocks, pools)
    val (backlog, backlogOrphans) =
      g.mainChain(prefix.last.hash, prefixBlocks, backlogBlocks, pools)
    val prefixRecs = g.shuffled(prefix ++ prefixOrphans)
    val prefixFiles = (0 until 4).map(f =>
      ChainGen.blkFile(prefixRecs.indices.filter(_ % 4 == f).map(prefixRecs)))
    val backlogRecs = backlog ++ backlogOrphans
    val per = math.max(1, (backlogRecs.size + backlogFiles - 1) / backlogFiles)
    val backlogFileBytes = backlogRecs.grouped(per).map(ChainGen.blkFile).toSeq

    // live phase: the best chain is kept as an explicit path so a competing
    // branch can replace its top blocks; outputs wait for Finality
    val chain = ArrayBuffer.from(prefix ++ backlog)
    val unspendable = scala.collection.mutable.HashMap.empty[String, Seq[ChainGen.Utxo]]
    def extend(parent: GBlock): GBlock = {
      val (b, created) = g.block(parent.hash, parent.height + 1, 0L, LiveSpends, pools)
      unspendable(b.hash) = created
      b
    }
    def settle(): Unit =
      chain.reverseIterator.drop(Finality - 1).takeWhile(b => unspendable.contains(b.hash))
        .toSeq.foreach(b => g.register(pools, unspendable.remove(b.hash).get))
    // a fixed pattern of four publications, one every gapMs from the start
    // of the live phase: the next two blocks, a competing branch that
    // overtakes the tip by replacing its top one to three blocks, and a
    // child delivered before its parent; the seed varies the blocks and the
    // reorg depth, not the schedule's shape. Every live block makes the
    // same number of spend attempts, so the label work a publication causes
    // varies less from seed to seed
    val slots = (liveMs / gapMs).toInt
    val pubs = ArrayBuffer.empty[Publication]
    def due(): Long = pubs.size * gapMs
    while (pubs.size < slots) {
      pubs.size % 4 match {
        case 1 =>
          val depth = 1 + g.rnd.nextInt(3)
          val replaced = chain.takeRight(depth)
          chain.remove(chain.size - depth, depth)
          replaced.foreach(b => unspendable.remove(b.hash))
          val branch = (0 to depth).map(_ => { val b = extend(chain.last); chain += b; b })
          pubs += Publication(due(), branch, "reorg")
        case 2 if pubs.size + 1 < slots =>
          val parent = extend(chain.last); chain += parent
          val child = extend(parent); chain += child
          pubs += Publication(due(), Seq(child), "child_first")
          pubs += Publication(due(), Seq(parent), "parent_late")
        case _ =>
          val blocks = (0 until 2).map(_ => { val b = extend(chain.last); chain += b; b })
          pubs += Publication(due(), blocks, "next")
      }
      settle()
    }
    SyncPlan(prefixFiles, backlogFileBytes, backlogRecs.size, pubs.toSeq, chain.toSeq)
  }
}

/** Seeded document corpus in the engine's `documents` JSONL schema, with
  * planted exact duplicates and near-duplicates (token edits).
  */
final case class DocCorpus(jsonl: Array[Byte], texts: IndexedSeq[String],
    exactPairs: Seq[(Long, Long)], nearPairs: Seq[(Long, Long)]) {
  def render: String =
    exactPairs.map { case (a, b) => s"exact $a $b\n" }.mkString +
      nearPairs.map { case (a, b) => s"near $a $b\n" }.mkString
  def write(dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve("documents.jsonl"), jsonl)
    Files.write(dir.resolve("truth.txt"), render.getBytes(UTF_8))
  }
}

object DocCorpus {
  val Vocab = 5000
  /** Share of documents that are a verbatim copy of an earlier one. */
  val ExactRate = 0.05
  /** Share that are an earlier document with one or two tokens replaced. */
  val NearRate = 0.10

  def generate(seed: Long, nDocs: Int): DocCorpus = {
    val rnd = new java.util.Random(seed)
    val words = Array.tabulate(Vocab)(i => s"w${Integer.toString(i * 7919 + 13, 36)}")
    // Zipf-ish draw: common words recur across documents, rare ones give
    // each original document its own shingles
    def word(): String = words((math.pow(rnd.nextDouble(), 2.5) * Vocab).toInt)
    val texts = ArrayBuffer.empty[String]
    val exact = ArrayBuffer.empty[(Long, Long)]
    val near = ArrayBuffer.empty[(Long, Long)]
    while (texts.size < nDocs) {
      val id = texts.size.toLong
      val roll = rnd.nextDouble()
      if (id > 0 && roll < ExactRate) {
        val src = rnd.nextInt(texts.size)
        texts += texts(src); exact += ((src.toLong, id))
      } else if (id > 0 && roll < ExactRate + NearRate) {
        val src = rnd.nextInt(texts.size)
        val toks = texts(src).split(" ")
        (0 until 1 + rnd.nextInt(2)).foreach(_ => toks(rnd.nextInt(toks.length)) = word())
        texts += toks.mkString(" "); near += ((src.toLong, id))
      } else texts += Seq.fill(40 + rnd.nextInt(80))(word()).mkString(" ")
    }
    val sb = new StringBuilder
    texts.zipWithIndex.foreach { case (t, i) =>
      sb.append(s"""{"doc_id":$i,"text":"$t","lang":"en","source":"s${i % 7}"}""").append('\n')
    }
    DocCorpus(sb.toString.getBytes(UTF_8), texts.toIndexedSeq, exact.toSeq, near.toSeq)
  }
}
