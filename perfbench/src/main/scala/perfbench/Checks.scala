package perfbench

import scala.collection.mutable

/** Plain-Scala references and output checks. Nothing here touches Spark or
  * the engine: each check takes collected engine output and returns the
  * mismatches it found (empty = correct).
  */
object Checks {

  /** Order-independent digest of (address, received, sent) rows. */
  def addressChecksum(rows: Iterator[(String, Long, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.toSeq.sortBy(_._1).foreach { case (a, r, s) =>
      md.update(s"$a:$r:$s\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().take(8).map(b => f"${b & 0xFF}%02x").mkString
  }

  def checkBuild(want: ChainTruth, got: ChainTruth): Seq[String] =
    want.productIterator.zip(got.productIterator).zip(want.productElementNames)
      .collect { case ((w, g), n) if w != g => s"build $n: want $w, got $g" }.toSeq

  /** Union-find components labelled by their minimum member. */
  def components[A](edges: Iterator[(A, A)])(implicit ord: Ordering[A]): Map[A, A] = {
    val parent = mutable.HashMap.empty[A, A]
    def find(x: A): A = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Wallet labels by the co-spend heuristic: the addresses funding one
    * transaction share a wallet; label = least address of the component.
    * Covers every address that funds a transaction.
    */
  def walletLabels(txs: Seq[GTx]): Map[String, String] =
    components(txs.iterator.filter(!_.coinbase).flatMap { t =>
      val fs = t.spent.map(_._2).distinct
      fs.map(f => (fs.head, f))
    })

  def checkWallets(want: Map[String, String], got: Seq[(String, String)]): Seq[String] = {
    val g = got.toMap
    val wrong = want.iterator.filter { case (a, w) => !g.get(a).contains(w) }
      .take(3).map { case (a, w) => s"wallet of $a: want $w, got ${g.get(a)}" }.toSeq
    val dup = if (g.size != got.size) Seq(s"wallets: ${got.size - g.size} duplicate rows") else Nil
    val extra = g.iterator.filter { case (a, w) => !want.contains(a) && a != w }
      .take(3).map { case (a, w) => s"wallet of unfunded $a: got $w" }.toSeq
    wrong ++ dup ++ extra
  }

  def checkBestChain(want: Seq[(String, Int)], got: Seq[(String, Int)]): Seq[String] = {
    val (w, g) = (want.toSet, got.toSet)
    if (w == g) Nil
    else Seq(s"best chain: ${(w -- g).size} blocks missing, ${(g -- w).size} unexpected" +
      (w -- g).toSeq.sortBy(_._2).take(2).mkString(" e.g. missing ", ",", ""))
  }

  /** PageRank as GraphX's static form computes it: every vertex starts at 1,
    * ten rounds of rank = 0.15 + 0.85 * inflow (rank / out-degree per edge),
    * then ranks rescaled to sum to the vertex count.
    */
  def pageRank(edges: Seq[(String, String)], iterations: Int = 10): Map[String, Double] = {
    val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outDeg = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var rank = verts.map(_ -> 1.0).toMap
    (1 to iterations).foreach { _ =>
      val msg = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      edges.foreach { case (s, d) => msg(d) += rank(s) / outDeg(s) }
      rank = verts.map(v => v -> (0.15 + 0.85 * msg(v))).toMap
    }
    val scale = verts.size / rank.values.sum
    rank.view.mapValues(_ * scale).toMap
  }

  def checkRanks(want: Map[String, Double], got: Seq[(String, Double)]): Seq[String] = {
    val g = got.toMap
    val size = if (g.size != want.size) Seq(s"pagerank: ${want.size} vertices, got ${g.size}") else Nil
    size ++ want.iterator.filter { case (v, r) =>
      g.get(v).forall(x => math.abs(x - r) > 1e-6 * math.max(1.0, math.abs(r)))
    }.take(3).map { case (v, r) => s"pagerank of $v: want $r, got ${g.get(v)}" }.toSeq
  }

  private def undirected(edges: Seq[(String, String)]): Map[String, Set[String]] =
    edges.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  /** Vertices of the k-core of the undirected graph, by peeling. */
  def kCore(edges: Seq[(String, String)], k: Int): Set[String] = {
    val adj = mutable.HashMap.from(undirected(edges).view.mapValues(s => mutable.Set.from(s)))
    var low = adj.collect { case (v, n) if n.size < k => v }.toList
    while (low.nonEmpty) {
      val v = low.head; low = low.tail
      adj.remove(v).foreach(_.foreach { u =>
        adj.get(u).foreach { n => n -= v; if (n.size == k - 1) low ::= u }
      })
    }
    adj.keySet.toSet
  }

  /** Synchronous label propagation: each round every vertex takes the label
    * most frequent among its neighbours, ties to the least label.
    */
  def labelPropagation(edges: Seq[(String, String)], rounds: Int = 4): Map[String, String] = {
    val adj = undirected(edges)
    var label = adj.keys.map(v => v -> v).toMap
    (1 to rounds).foreach { _ =>
      label = adj.map { case (v, ns) =>
        val counts = ns.toSeq.groupBy(label).view.mapValues(_.size)
        v -> counts.minBy { case (l, c) => (-c, l) }._1
      }
    }
    label
  }

  def checkSet[A](what: String, want: Set[A], got: Seq[A]): Seq[String] = {
    val g = got.toSet
    if (g == want && g.size == got.size) Nil
    else Seq(s"$what: ${(want -- g).size} missing, ${(g -- want).size} unexpected, " +
      s"${got.size - g.size} duplicates")
  }

  def checkMap[K, V](what: String, want: Map[K, V], got: Seq[(K, V)]): Seq[String] = {
    val g = got.toMap
    val bad = want.iterator.filter { case (k, v) => !g.get(k).contains(v) }.take(3)
      .map { case (k, v) => s"$what of $k: want $v, got ${g.get(k)}" }.toSeq
    val size = if (g.size != want.size || g.size != got.size)
      Seq(s"$what: ${want.size} keys, got ${got.size} rows over ${g.size} keys") else Nil
    bad ++ size
  }

  def shingles(text: String, k: Int = 3): Set[String] = {
    val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    if (toks.length < k) Set(toks.mkString(" ")) else toks.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = (a intersect b).size
    i.toDouble / (a.size + b.size - i)
  }

  /** Capped n-gram Jaccard as the engine defines it: shingles held by more
    * than `maxDf` documents generate no candidates and leave the
    * intersection, while set sizes keep them.
    */
  final class CappedJaccard(texts: IndexedSeq[String], maxDf: Long) {
    private val sets = texts.map(shingles(_))
    private val hot: Set[String] = {
      val df = mutable.HashMap.empty[String, Int].withDefaultValue(0)
      sets.foreach(_.foreach(s => df(s) += 1))
      df.collect { case (s, n) if n > maxDf => s }.toSet
    }
    def apply(a: Long, b: Long): Double = {
      val (x, y) = (sets(a.toInt), sets(b.toInt))
      val i = (x intersect y).count(s => !hot.contains(s))
      i.toDouble / (x.size + y.size - i)
    }
    def plain(a: Long, b: Long): Double = jaccard(sets(a.toInt), sets(b.toInt))
  }

  /** Thresholded n-gram pairs: every planted exact duplicate whose capped
    * Jaccard clears the threshold is reported, and every reported Jaccard
    * equals the recomputed one and clears the threshold.
    */
  def checkJaccardPairs(j: CappedJaccard, exact: Seq[(Long, Long)],
      threshold: Double, got: Seq[(Long, Long, Double)]): Seq[String] = {
    val found = got.map(p => (p._1, p._2)).toSet
    val missed = exact.filter { case (a, b) => j(a, b) >= threshold && !found((a, b)) }
      .take(3).map(p => s"ngram: exact duplicate $p not reported")
    val wrong = got.iterator.filter { case (a, b, x) =>
      a >= b || math.abs(j(a, b) - x) > 1e-9 || x < threshold
    }.take(3).map(p => s"ngram: pair $p has capped Jaccard ${j(p._1, p._2)}").toSeq
    missed ++ wrong
  }

  /** MinHash candidates: every planted exact duplicate is a candidate, and
    * every candidate shares at least one shingle (a disjoint pair can only
    * collide through a hash collision).
    */
  def checkCandidatePairs(j: CappedJaccard, exact: Seq[(Long, Long)],
      got: Seq[(Long, Long)]): Seq[String] = {
    val found = got.toSet
    val missed = exact.filterNot(found).take(3).map(p => s"minhash: exact duplicate $p not a candidate")
    val wrong = got.iterator.filter { case (a, b) => a >= b || j.plain(a, b) == 0.0 }.take(3).map(p => s"minhash: candidate $p shares no shingle").toSeq
    missed ++ wrong
  }

  /** Near-duplicate clusters: each document labelled with the least id of
    * its connected component under `pairs`; documents in no pair alone.
    */
  def checkClusters(nDocs: Int, pairs: Seq[(Long, Long)], got: Seq[(Long, Long)]): Seq[String] = {
    val comp = components(pairs.iterator)
    checkMap("cluster", (0L until nDocs).map(d => d -> comp.getOrElse(d, d)).toMap, got)
  }

  // ---- small statistics helpers shared by the workloads ----

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile with at least ten samples above it, with
    * its value; None below 20 samples, where not even the median qualifies.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    val p = (50 to 99).reverse.find(p => n - math.ceil(p / 100.0 * n) >= 10)
    p.map(q => (q, quantile(xs, q / 100.0)))
  }
}
