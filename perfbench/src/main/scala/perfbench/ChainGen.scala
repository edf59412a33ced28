package perfbench

import scala.collection.mutable.ArrayBuffer

/** A generated transaction with its inputs resolved to the outputs they
  * spend: (value, address) pairs, the address being the generator's own
  * encoding of the output script.
  */
final case class GTx(txid: String, coinbase: Boolean,
    spent: Seq[(Long, String)], outs: Seq[(Long, String)]) {
  def fee: Long = if (coinbase) 0L else spent.map(_._1).sum - outs.map(_._1).sum
}

final case class GBlock(hash: String, parent: String, height: Int,
    record: Array[Byte], txs: Seq[GTx])

/** Seeded chain builder with the value-flow structure of the engine's
  * BlkCorpus: an address pool cut into wallets of ten, spends funded by ONE
  * wallet (the co-spend signal wallet clustering finds), about 15% of spend
  * outputs OP_RETURN (the engine's hot undecodable-address key) and about
  * 30% segwit-serialized spends. All randomness comes from `seed`.
  */
final class ChainGen(seed: Long, nAddresses: Int) {
  val rnd = new java.util.Random(seed)
  private val pool = Array.fill(nAddresses)(Wire.randomScript(rnd))
  private val WalletSize = 10
  private val nWallets = math.max(1, nAddresses / WalletSize)
  private val Subsidy = 5000000000L
  private var nonce = 0L

  import ChainGen.Utxo
  type Pools = Array[ArrayBuffer[Utxo]]
  def newPools(): Pools = Array.fill(nWallets)(ArrayBuffer.empty[Utxo])
  def copyPools(p: Pools): Pools = p.map(_.clone())
  def register(pools: Pools, us: Seq[Utxo]): Unit =
    us.foreach(u => if (u.addr >= 0) pools(u.addr / WalletSize) += u)

  private def take(from: ArrayBuffer[Utxo]): Utxo = {
    val i = rnd.nextInt(from.length)
    val u = from(i)
    from(i) = from.last
    from.remove(from.length - 1)
    u
  }

  private def addr(i: Int): String = if (i < 0) Wire.Undecodable else pool(i)._2

  private def spend(pools: Pools): Option[((Array[Byte], String), GTx, Seq[Utxo])] = {
    var w = -1
    var tries = 0
    while (tries < 12 && w < 0) {
      val c = rnd.nextInt(nWallets)
      if (pools(c).length >= 2) w = c
      tries += 1
    }
    if (w < 0) return None
    val from = pools(w)
    val nIn = 1 + rnd.nextInt(math.min(3, from.length))
    val nOut = 1 + rnd.nextInt(3)
    val ins = Seq.fill(nIn)(take(from))
    val totalIn = ins.map(_.value).sum
    val fee = 1000L * (nIn + nOut)
    if (totalIn <= fee + nOut * 1000L) return None
    val per = (totalIn - fee) / nOut
    val outs = (0 until nOut).map { i =>
      val v = if (i == nOut - 1) (totalIn - fee) - per * (nOut - 1) else per
      if (rnd.nextDouble() < 0.15) {
        val data = new Array[Byte](8); rnd.nextBytes(data)
        (v, Array[Byte](0x6a, 0x08) ++ data, -1)
      } else {
        val a = rnd.nextInt(nAddresses)
        (v, pool(a)._1, a)
      }
    }
    val (bytes, txid) = Wire.tx(
      ins.map(u => Wire.In(u.txid, u.idx.toLong, Array[Byte](0x51))),
      outs.map(o => (o._1, o._2)), witness = rnd.nextDouble() < 0.3)
    val created = outs.zipWithIndex.map { case (o, i) => Utxo(txid, i, o._1, o._3) }
    Some(((bytes, txid),
      GTx(txid, coinbase = false, ins.map(u => (u.value, addr(u.addr))),
        outs.map(o => (o._1, addr(o._3)))),
      created))
  }

  /** One block on `parent` at `height`: a unique coinbase plus `nSpends`
    * spends drawn from `pools`. Returns the block and the spendable outputs
    * it created; the caller decides when they become spendable.
    */
  def block(parent: String, height: Int, tsOffset: Long, nSpends: Int,
      pools: Pools): (GBlock, Seq[Utxo]) = {
    nonce += 1
    val cbAddr = rnd.nextInt(nAddresses)
    val sig = new Wire.W().u8(3).u8(height).u8(height >> 8).u8(height >> 16)
      .u8(4).u32(nonce).result
    val (cbBytes, cbId) = Wire.tx(Seq(Wire.In(Wire.ZeroHash, 0xFFFFFFFFL, sig)),
      Seq((Subsidy, pool(cbAddr)._1)), witness = false)
    val txs = ArrayBuffer[(Array[Byte], String)]((cbBytes, cbId))
    val gtxs = ArrayBuffer(GTx(cbId, coinbase = true, Nil, Seq((Subsidy, addr(cbAddr)))))
    val created = ArrayBuffer(Utxo(cbId, 0, Subsidy, cbAddr))
    var s = 0
    while (s < nSpends) {
      spend(pools).foreach { case (t, g, c) => txs += t; gtxs += g; created ++= c }
      s += 1
    }
    val ts = Wire.GenesisTs + height * 600L + tsOffset
    val (rec, hash) = Wire.block(parent, ts, nonce, txs.toSeq)
    (GBlock(hash, parent, height, rec, gtxs.toSeq), created.toSeq)
  }

  /** Main chain of `n` blocks starting at `parent`/`fromHeight`, each
    * block's outputs spendable from the next block on, with a single-block
    * stale sibling at about 0.4% of heights (never at the last two, so the
    * tip is never tied).
    */
  def mainChain(parent: String, fromHeight: Int, n: Int, pools: Pools,
      onBlock: GBlock => Unit = _ => ()): (Seq[GBlock], Seq[GBlock]) = {
    val main = ArrayBuffer.empty[GBlock]
    val stale = ArrayBuffer.empty[GBlock]
    var prev = parent
    var i = 0
    while (i < n) {
      val h = fromHeight + i
      val (b, created) = block(prev, h, 0L, rnd.nextInt(6), pools)
      register(pools, created)
      main += b
      onBlock(b)
      if (h > 0 && i < n - 2 && rnd.nextDouble() < 0.004)
        stale += block(prev, h, 30L, 0, pools)._1
      prev = b.hash
      i += 1
    }
    (main.toSeq, stale.toSeq)
  }

  def shuffled[A](xs: Seq[A]): Seq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toSeq.asInstanceOf[Seq[A]]
  }
}

object ChainGen {
  /** A spendable output and the pool address (index) that owns it; -1 is
    * an OP_RETURN output.
    */
  final case class Utxo(txid: String, idx: Int, value: Long, addr: Int)

  /** A blk file: concatenated records plus Core's zero padding at the tail. */
  def blkFile(blocks: Seq[GBlock]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    blocks.foreach(b => out.write(b.record))
    out.write(new Array[Byte](8))
    out.toByteArray
  }
}
