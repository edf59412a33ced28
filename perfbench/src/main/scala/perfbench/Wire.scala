package perfbench

import java.io.ByteArrayOutputStream
import java.security.MessageDigest

/** The benchmark's own Bitcoin wire-format serializer and address encoder.
  * It shares no code with the engine: the engine's parser and address
  * decoder are what the benchmark checks, so the input side must not lean
  * on them.
  */
object Wire {
  val Magic: Int = 0xf9beb4d9
  val ZeroHash: String = "0" * 64
  val GenesisTs: Long = 1231006505L
  /** What the engine reports for an output script no address template fits. */
  val Undecodable = "<undecodable>"

  final class W {
    private val out = new ByteArrayOutputStream()
    def u8(v: Int): W = { out.write(v & 0xFF); this }
    def u32(v: Long): W = { var i = 0; while (i < 4) { u8((v >>> (8 * i)).toInt); i += 1 }; this }
    def i64(v: Long): W = { u32(v & 0xFFFFFFFFL); u32(v >>> 32) }
    def varInt(v: Long): W =
      if (v < 0xfd) u8(v.toInt)
      else if (v <= 0xffff) { u8(0xfd); u8(v.toInt); u8((v >> 8).toInt) }
      else { u8(0xfe); u32(v) }
    def bytes(b: Array[Byte]): W = { out.write(b); this }
    def result: Array[Byte] = out.toByteArray
  }

  def sha256(b: Array[Byte]): Array[Byte] = MessageDigest.getInstance("SHA-256").digest(b)
  def sha256d(b: Array[Byte]): Array[Byte] = sha256(sha256(b))

  private val Hex = "0123456789abcdef".toCharArray
  /** Display hex (byte-reversed), as block explorers and the engine print hashes. */
  def revHex(h: Array[Byte]): String = {
    val out = new Array[Char](h.length * 2)
    var i = 0
    while (i < h.length) {
      val b = h(h.length - 1 - i) & 0xFF
      out(2 * i) = Hex(b >>> 4); out(2 * i + 1) = Hex(b & 0xF)
      i += 1
    }
    new String(out)
  }
  def internal(displayHex: String): Array[Byte] =
    displayHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray.reverse

  final case class In(prevTxid: String, prevIdx: Long, scriptSig: Array[Byte])

  /** Serialize a transaction; returns (wire bytes, txid). The txid hashes the
    * witness-free form (BIP-141), so segwit and legacy encodings of one tx
    * share it.
    */
  def tx(ins: Seq[In], outs: Seq[(Long, Array[Byte])], witness: Boolean): (Array[Byte], String) = {
    def body(withWitness: Boolean): Array[Byte] = {
      val w = new W
      w.u32(2)
      if (withWitness) w.u8(0x00).u8(0x01)
      w.varInt(ins.size)
      ins.foreach { i =>
        w.bytes(internal(i.prevTxid)).u32(i.prevIdx)
          .varInt(i.scriptSig.length).bytes(i.scriptSig).u32(0xFFFFFFFFL)
      }
      w.varInt(outs.size)
      outs.foreach { case (v, s) => w.i64(v).varInt(s.length).bytes(s) }
      if (withWitness) ins.foreach(_ => w.varInt(1).varInt(2).u8(0xAB).u8(0xCD))
      w.u32(0)
      w.result
    }
    (body(witness), revHex(sha256d(body(false))))
  }

  private def merkleRoot(txids: Seq[String]): Array[Byte] = {
    var level = txids.map(internal).toVector
    while (level.size > 1) {
      val padded = if (level.size % 2 == 1) level :+ level.last else level
      level = padded.grouped(2).map(p => sha256d(p(0) ++ p(1))).toVector
    }
    level.head
  }

  /** Serialize a block as one framed blk-file record; returns (record, hash). */
  def block(prevHash: String, ts: Long, nonce: Long,
      txs: Seq[(Array[Byte], String)]): (Array[Byte], String) = {
    val header = new W().u32(0x20000000L).bytes(internal(prevHash))
      .bytes(merkleRoot(txs.map(_._2))).u32(ts).u32(0x1d00ffffL).u32(nonce).result
    val body = new W().bytes(header).varInt(txs.size)
    txs.foreach(t => body.bytes(t._1))
    val b = body.result
    val rec = new W().u32(Integer.reverseBytes(Magic).toLong & 0xFFFFFFFFL)
      .u32(b.length).bytes(b).result
    (rec, revHex(sha256d(header)))
  }

  // ---- address encoding (the answer key for the engine's script decode) ----

  private val B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
  def base58Check(version: Int, payload: Array[Byte]): String = {
    val data = (version.toByte +: payload)
    val full = data ++ sha256d(data).take(4)
    var n = BigInt(1, full)
    val sb = new StringBuilder
    while (n > 0) { val (q, r) = n /% 58; sb.append(B58(r.toInt)); n = q }
    full.takeWhile(_ == 0).foreach(_ => sb.append('1'))
    sb.reverse.toString
  }

  private val Bech = "qpzry9x8gf2tvdw0s3jn54khce6mua7l"
  private def polymod(values: Seq[Int]): Int = {
    val gen = Array(0x3b6a57b2, 0x26508e6d, 0x1ea119fa, 0x3d4233dd, 0x2a1462b3)
    var chk = 1
    values.foreach { v =>
      val top = chk >>> 25
      chk = ((chk & 0x1ffffff) << 5) ^ v
      var i = 0
      while (i < 5) { if (((top >>> i) & 1) == 1) chk ^= gen(i); i += 1 }
    }
    chk
  }
  /** Segwit address: bech32 for witness v0, bech32m for v1+ (BIP-173/350). */
  def segwit(hrp: String, version: Int, program: Array[Byte]): String = {
    val five = {
      var acc = 0; var bits = 0
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      program.foreach { b =>
        acc = (acc << 8) | (b & 0xFF); bits += 8
        while (bits >= 5) { bits -= 5; out += (acc >>> bits) & 31 }
      }
      if (bits > 0) out += (acc << (5 - bits)) & 31
      out.toSeq
    }
    val data = version +: five
    val const = if (version == 0) 1 else 0x2bc830a3
    val hrpExp = hrp.map(_ >> 5) ++ Seq(0) ++ hrp.map(_ & 31)
    val pm = polymod(hrpExp ++ data ++ Seq.fill(6)(0)) ^ const
    val checksum = (0 until 6).map(i => (pm >>> (5 * (5 - i))) & 31)
    hrp + "1" + (data ++ checksum).map(Bech(_)).mkString
  }

  /** A random standard output script and its mainnet address. */
  def randomScript(rnd: java.util.Random): (Array[Byte], String) = {
    def payload(n: Int) = { val h = new Array[Byte](n); rnd.nextBytes(h); h }
    val roll = rnd.nextDouble()
    if (roll < 0.70) {
      val h = payload(20)
      (Array[Byte](0x76, 0xa9.toByte, 0x14) ++ h ++ Array[Byte](0x88.toByte, 0xac.toByte),
        base58Check(0x00, h))
    } else if (roll < 0.90) {
      val h = payload(20)
      (Array[Byte](0x00, 0x14) ++ h, segwit("bc", 0, h))
    } else if (roll < 0.97) {
      val h = payload(20)
      (Array[Byte](0xa9.toByte, 0x14) ++ h ++ Array[Byte](0x87.toByte), base58Check(0x05, h))
    } else {
      val h = payload(32)
      (Array[Byte](0x51, 0x20) ++ h, segwit("bc", 1, h))
    }
  }
}
