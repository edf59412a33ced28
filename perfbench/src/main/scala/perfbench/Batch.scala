package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.chain.{BestChain, Enrich, GoldStats, WalletCluster}
import graft.graph.GraphAnalytics
import graft.operators.Dedup
import graft.sources.{BlockFileSource, DocSource}

/** The batch pipeline, one client in a closed loop. One operation:
  *
  *  1. build: raw blk files → bronze → best chain → every gold table
  *     written, with the broadcast envelope below the block count so every
  *     scale-routed operator takes its distributed route;
  *  2. query: read-only analytics at the default envelope — address stats
  *     and wallet clusters re-aggregated from the written gold, PageRank,
  *     2-core and label propagation over the address graph, and capped
  *     n-gram Jaccard pairs, MinHash candidates and near-duplicate clusters
  *     over a seeded document corpus.
  *
  * Set-up scans the raw blk directory into bronze and ingests the JSONL
  * document crawl into the parquet table the dedup queries read.
  */
object Batch {
  val Blocks = 1000
  val Addresses = 4000
  val Envelope = 400
  val Docs = 2000
  val Threshold = 0.8
  val MaxShingleDf = 10L
  val Steps = Seq("build_s", "q_address_stats_s", "q_wallet_clusters_s", "graph_edges_s",
    "q_pagerank_s", "q_kcore_s", "q_lpa_s",
    "q_ngram_jaccard_s", "q_minhash_pairs_s", "q_neardup_clusters_s")

  /** Frames the build re-reads, persisted for one operation (the caller's
    * job under the engine's API, as the engine's own bk0 pipeline does) and
    * dropped at its end.
    */
  final class Staged {
    private val frames = ArrayBuffer.empty[DataFrame]
    def apply(df: DataFrame): DataFrame = {
      frames += df.persist(StorageLevel.MEMORY_AND_DISK_SER); df
    }
    def release(): Unit = { frames.foreach(_.unpersist(blocking = false)); frames.clear() }
  }

  def funders(rin: DataFrame): DataFrame = rin.select("tx_hash", "src_address").distinct()

  def walletsOf(rin: DataFrame): DataFrame = {
    val f = funders(rin)
    WalletCluster.clusters(f.select(col("src_address").as("address")).distinct(), f)
  }

  def pairs[A, B](rows: Array[Row]): Seq[(A, B)] =
    rows.toSeq.map(r => (r.get(0).asInstanceOf[A], r.get(1).asInstanceOf[B]))

  def build(spark: SparkSession, tr: Tracer, raw: String, gold: String): Unit = {
    val staged = new Staged
    try {
      val bronze = tr.layer("sources.parse")(
        BlockFileSource.toBronze(BlockFileSource.read(spark, raw)))(b => tr.forceAll(b.values))
      val headers = staged(bronze("blocks"))
      val ann = tr.layer("chain.best_chain")(BestChain.annotateDistributed(headers))(tr.forceDf)
      val (cTxs, rin, outs, txStats) = tr.layer("chain.tx_gold") {
        val cTxs = staged(GoldStats.chainTxs(bronze("transactions"), ann))
        val keys = cTxs.select("tx_hash")
        val rin = staged(Enrich.resolvedInputs(bronze("tx_inputs"), bronze("tx_outputs"))
          .join(keys, Seq("tx_hash"), "left_semi"))
        val outs = staged(bronze("tx_outputs").join(keys, Seq("tx_hash"), "left_semi"))
        (cTxs, rin, outs, GoldStats.txStats(cTxs, rin, outs))
      }(t => tr.forceAll(Seq(t._1, t._2, t._3, t._4)))
      val blockStats = tr.layer("chain.block_gold")(GoldStats.blockStats(ann, txStats))(tr.forceDf)
      val addrStats = tr.layer("chain.address_gold")(
        GoldStats.addressStats(cTxs, rin, outs))(tr.forceDf)
      val wallets = tr.layer("chain.wallets")(walletsOf(rin))(tr.forceDf)
      tr.layer("sinks.gold_write") {
        Seq(
          "blocks_annotated" -> ann.select("hash", "height", "is_on_best_chain"),
          "ctx" -> cTxs, "rin" -> rin, "outs" -> outs,
          "tx_stats" -> txStats, "block_stats" -> blockStats,
          "address_stats" -> addrStats, "wallets" -> wallets
        ).foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$gold/$n") }
      }(_ => ())
    } finally staged.release()
  }

  /** The written gold, reduced to what the generator's truth states. */
  def readBack(spark: SparkSession, gold: String): (ChainTruth, Seq[(String, String)]) = {
    val a = spark.read.parquet(s"$gold/blocks_annotated").agg(
      count(lit(1)), sum(col("is_on_best_chain").cast("long")), max(col("height").cast("long")))
      .head()
    val t = spark.read.parquet(s"$gold/tx_stats").agg(count(lit(1)), sum("fee")).head()
    val addr = spark.read.parquet(s"$gold/address_stats")
      .select("address", "input_tx_balance", "output_tx_balance").collect()
      .iterator.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val wallets = pairs[String, String](
      spark.read.parquet(s"$gold/wallets").select("address", "wallet_id").collect())
    (ChainTruth(a.getLong(0), a.getLong(1), a.getLong(2), t.getLong(0), t.getLong(1),
      Checks.addressChecksum(addr)), wallets)
  }

  def run(spark: SparkSession, tr: Tracer, args: RunArgs): Outcome = {
    import spark.implicits._
    val chain = ChainCorpus.generate(args.seed, Blocks, Addresses)
    val raw = args.work.resolve("raw")
    Main.deleteRecursively(raw)
    chain.write(raw)
    val docCorpus = DocCorpus.generate(args.seed, Docs)
    val docDir = args.work.resolve("docs")
    Main.deleteRecursively(docDir)
    docCorpus.write(docDir)
    val gold = args.work.resolve("gold").toString
    val docsPath = docDir.resolve("documents.parquet").toString

    val (_, setup) = Main.setupTimes(3) { _ =>
      BlockFileSource.toBronze(BlockFileSource.read(spark, raw.toString)).values.foreach(_.count())
      val (good, _) = DocSource.readJsonl(spark, docDir.resolve("documents.jsonl").toString)
      good.write.mode("overwrite").parquet(docsPath)
    }
    val docs = spark.read.parquet(docsPath)

    val wantWallets = Checks.walletLabels(chain.bestTxs)
    val wantFlow: Map[(String, String), Long] = chain.bestTxs.filter(!_.coinbase).flatMap { t =>
      val srcs = t.spent.map(_._2).distinct
      srcs.flatMap(s => t.outs.map { case (v, d) => ((s, d), v) })
    }.groupMapReduce(_._1)(_._2)(_ + _)
    var graphRefs: Option[(Map[String, Double], Set[String], Map[String, String], Int)] = None
    val capped = new Checks.CappedJaccard(docCorpus.texts, MaxShingleDf)
    val perStep = Steps.map(_ -> ArrayBuffer.empty[Double]).toMap
    def step[A](name: String, span: String)(body: => A): A = {
      val (a, t) = Main.timed(tr.layer(span)(body)(_ => ()))
      perStep(name) += t
      a
    }

    val (lat, attempted, failed, overhead) = loop(tr, args) { () =>
      val (checks, t) = Main.timed(tr.layer("operation") {
        System.setProperty("graft.broadcastMaxRows", Envelope.toString)
        val (_, tBuild) = Main.timed(build(spark, tr, raw.toString, gold))
        perStep("build_s") += tBuild
        System.clearProperty("graft.broadcastMaxRows")
        val ctx = spark.read.parquet(s"$gold/ctx")
        val rin = spark.read.parquet(s"$gold/rin")
        val outs = spark.read.parquet(s"$gold/outs")
        val addr = step("q_address_stats_s", "chain.address_gold")(
          GoldStats.addressStats(ctx, rin, outs)
            .select("address", "input_tx_balance", "output_tx_balance").collect())
        val wallets = step("q_wallet_clusters_s", "chain.wallets")(
          walletsOf(rin).select("address", "wallet_id").collect())
        val (flow, cp) = step("graph_edges_s", "graph.edges") {
          val flow = GraphAnalytics.flowEdges(rin, outs).persist(StorageLevel.MEMORY_AND_DISK)
          val f = funders(rin)
          val cospend = f.join(f.select(col("tx_hash"), col("src_address").as("dst_address")), "tx_hash")
            .where(col("src_address") < col("dst_address"))
            .select(col("src_address").as("src"), col("dst_address").as("dst"), lit(0L).as("value"))
          val cp = flow.unionByName(cospend).persist(StorageLevel.MEMORY_AND_DISK)
          flow.count(); cp.count()
          (flow, cp)
        }
        val ranks = step("q_pagerank_s", "graph.pagerank")(
          GraphAnalytics.pageRank(flow).select("address", "rank").collect())
        val core = step("q_kcore_s", "graph.kcore")(
          GraphAnalytics.kCore(cp, k = 2).select("address").collect())
        val lpa = step("q_lpa_s", "graph.lpa")(
          GraphAnalytics.labelPropagation(cp).select("address", "community").collect())
        val ngram = step("q_ngram_jaccard_s", "operators.ngram_pairs")(
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleK = 3,
            threshold = Threshold, maxShingleDf = Some(MaxShingleDf))
            .select("id1", "id2", "jaccard").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
        val minhash = step("q_minhash_pairs_s", "operators.minhash") {
          val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
          pairs[Long, Long](Dedup.minhashCandidatePairs(sigs, "doc_id").select("id1", "id2").collect())
        }
        val ngramPairs = ngram.map(p => (p._1, p._2))
        val clusters = step("q_neardup_clusters_s", "operators.closure")(
          Dedup.nearDupClusters(docs.select("doc_id"), ngramPairs.toDF("id1", "id2"))
            .select("doc_id", "cluster_id").collect())
        () => {
          // checks run outside the timed operation
          val (gotBuild, gotWallets) = readBack(spark, gold)
          val flowRows = flow.select("src", "dst", "value").collect()
            .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toSeq
          if (graphRefs.isEmpty) {
            val fe = flowRows.map(_._1)
            val ce = cp.select("src", "dst").as[(String, String)].collect().toSeq
            graphRefs = Some((Checks.pageRank(fe), Checks.kCore(ce, 2),
              Checks.labelPropagation(ce), (fe.map(_._1) ++ fe.map(_._2)).distinct.size))
          }
          flow.unpersist(); cp.unpersist()
          val (wantRank, wantCore, wantLpa, _) = graphRefs.get
          val gotAddr = Checks.addressChecksum(
            addr.iterator.map(r => (r.getString(0), r.getLong(1), r.getLong(2))))
          Checks.checkBuild(chain.truth, gotBuild) ++
            Checks.checkMap("gold wallet", wantWallets, gotWallets) ++
            (if (gotAddr == chain.truth.addressChecksum) Nil
             else Seq(s"address stats checksum: want ${chain.truth.addressChecksum}, got $gotAddr")) ++
            Checks.checkMap("wallet", wantWallets, pairs[String, String](wallets)) ++
            Checks.checkMap("flow edge", wantFlow, flowRows) ++
            Checks.checkRanks(wantRank, pairs[String, Double](ranks)) ++
            Checks.checkSet("2-core", wantCore, core.toSeq.map(_.getString(0))) ++
            Checks.checkMap("community", wantLpa, pairs[String, String](lpa)) ++
            Checks.checkJaccardPairs(capped, docCorpus.exactPairs, Threshold, ngram) ++
            Checks.checkCandidatePairs(capped, docCorpus.exactPairs, minhash) ++
            Checks.checkClusters(Docs, ngramPairs, pairs[Long, Long](clusters))
        }
      }(_ => ()))
      (t, checks())
    }
    val layer =
      if (!tr.enabled) Nil
      else {
        val (rolled, rootSelf) = tr.rollup()
        Main.spanMetrics(rolled) ++ Seq(
          "trace.overhead_share" -> overhead,
          "trace.unattributed_s" -> rootSelf)
      }
    Outcome(attempted, failed,
      Seq(("setup_s", setup, "s"), ("latency_p50_s", Checks.median(lat), "s"),
        ("items_per_s", chain.truth.nBlocks * lat.size / lat.sum, "1/s")),
      layer,
      Seq("blocks" -> chain.truth.nBlocks, "envelope" -> Envelope,
        "flow_vertices" -> graphRefs.map(_._4).getOrElse(0), "docs" -> Docs,
        "exact_planted" -> docCorpus.exactPairs.size, "near_planted" -> docCorpus.nearPairs.size,
        "operations" -> lat.size, "latencies_s" -> lat, "setup_s" -> setup,
        "failed_share" -> failed.toDouble / attempted) ++
        Steps.map(n => n -> Checks.median(perStep(n).toSeq)))
  }

  /** Operations back to back while one more, as long as the last, still
    * ends within the run's seconds (at least one), so a run never measures
    * much past its window however fast an operation gets. A traced run
    * makes exactly two: traced, then untraced. The traced one runs cold,
    * as the first operation of every untraced run does, so its spans
    * explain that latency; the untraced one runs warm, so the traced
    * latency over it is an upper bound on the tracing overhead (a third,
    * warm-against-warm operation would not fit the run-time budget). An
    * operation that throws or whose check finds a mismatch counts as
    * failed.
    */
  def loop(tr: Tracer, args: RunArgs)(op: () => (Double, Seq[String]))
      : (Seq[Double], Int, Int, Double) = {
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    val plain = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    var lastNs = 0L
    while (if (tr.enabled) attempted < 2
           else attempted == 0 || System.nanoTime() + lastNs <= deadline) {
      tr.active = tr.enabled && attempted == 0
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val (l, errs) = op()
        (if (tr.active) traced else plain) += l
        if (errs.nonEmpty) { failed += 1; errs.foreach(e => System.err.println(s"[check] $e")) }
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[check] operation ${attempted - 1} threw: $e")
      } finally {
        tr.release()
        lastNs = System.nanoTime() - t0
      }
    }
    val overhead =
      if (traced.isEmpty || plain.isEmpty) 0.0
      else traced.head / plain.head - 1.0
    ((plain ++ traced).toSeq, attempted, failed, overhead)
  }
}
