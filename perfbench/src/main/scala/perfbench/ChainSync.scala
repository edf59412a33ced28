package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.chain.Enrich
import graft.sources.BlockFileSource
import graft.streaming.ChainStream

/** The tip-following sync loop: blk files arriving in a directory are read
  * by `ChainStream.blkFileStream` and the wallet labelling is maintained by
  * `ChainStream.incrementalWalletLabels`, with a trigger that has no
  * interval so lag measures batch work, not trigger alignment.
  *
  * Set-up bootstraps the chain's prefix; phase A drains a backlog with a
  * bounded files-per-trigger; phase B is an open loop: one publisher thread
  * writes small blk files on a fixed seeded schedule that does not slow
  * when the engine does, with competing branches and child-before-parent
  * deliveries. The whole run is one operation: it fails when any check
  * fails.
  */
object ChainSync {
  val PrefixBlocks = 300
  val BacklogBlocks = 48
  val BacklogFiles = 12
  val FilesPerTrigger = 24
  /** Above the p90 of a one-publication micro-batch (5.5 s median, 6.5 s
    * p90 on a 4-core host), so each publication is usually a batch of its
    * own and the lag is batch work, not queueing behind earlier ones.
    */
  val GapMs = 7000L
  val Addresses = 1500
  val DrainTimeoutMs = 60000L

  final case class MicroBatch(id: Long, startMs: Long, endMs: Long, files: Seq[Int], rewrittenBytes: Long)

  /** One maintainer query's micro-batches, from Spark's public streaming
    * listener; the blk files each batch read, from the file source's log in
    * the query checkpoint; and the bytes of label-store and cursor files
    * each batch created or replaced, from the store's directory listing.
    */
  final class Progress(queryId: java.util.UUID, labels: Path, ckpt: Path)
      extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[MicroBatch]()
    @volatile var files = 0L
    private var listing = Map.empty[Path, (Long, Long)]
    private def list(): Map[Path, (Long, Long)] =
      if (!Files.exists(labels)) Map.empty
      else {
        val s = Files.walk(labels)
        try s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => f -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
        catch { case _: java.io.IOException => listing }
        finally s.close()
      }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.id == queryId && p.numInputRows > 0) {
        val now = list()
        val rewritten = now.collect { case (f, st) if !listing.get(f).contains(st) => st._1 }.sum
        listing = now
        val start = Instant.parse(p.timestamp).toEpochMilli
        val read = filesRead(p.batchId)
        batches.add(MicroBatch(p.batchId, start, start + p.batchDuration, read, rewritten))
        files += read.size
      }
    }
    private val FileIndex = "blk(\\d+)\\.dat".r.unanchored
    private def filesRead(batchId: Long): Seq[Int] = {
      val log = ckpt.resolve("sources").resolve("0")
      Seq(log.resolve(s"$batchId"), log.resolve(s"$batchId.compact")).filter(Files.exists(_))
        .flatMap(f => Files.readAllLines(f).asScala)
        .filter(_.endsWith(s""""batchId":$batchId}"""))
        .collect { case FileIndex(i) => i.toInt }
    }
  }

  /** Files land in the watched directory atomically, with strictly
    * increasing modification times: the file source takes new files in
    * that order, which maps absorbed file counts back to publications.
    */
  final class Publisher(base: Path) {
    val watch: Path = base.resolve("watch")
    private val tmp = base.resolve("tmp")
    Files.createDirectories(watch); Files.createDirectories(tmp)
    private var n = 0
    private var lastMtime = 0L
    def publish(bytes: Array[Byte]): Long = {
      val name = f"blk$n%05d.dat"
      n += 1
      val t = tmp.resolve(name)
      Files.write(t, bytes)
      lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
      Files.setLastModifiedTime(t, FileTime.fromMillis(lastMtime))
      Files.move(t, watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }
  }

  /** A fresh maintainer whose first micro-batch reads `initial`. */
  final class Maintainer(spark: SparkSession, base: Path,
      fundersOf: (SparkSession, DataFrame) => DataFrame, initial: Seq[Array[Byte]]) {
    val publisher = new Publisher(base)
    initial.foreach(publisher.publish)
    val labels: Path = base.resolve("labels")
    private val headers = ChainStream
      .blkFileStream(spark, publisher.watch.toString, maxFilesPerTrigger = FilesPerTrigger)
      .select(col("hash"),
        when(col("parent_hash") === Wire.ZeroHash, lit(null)).otherwise(col("parent_hash"))
          .as("parent_hash"),
        col("ts"))
    private val ckpt = base.resolve("ckpt")
    val query: StreamingQuery = ChainStream.incrementalWalletLabels(headers,
      base.resolve("bronze").toString, fundersOf, labels.toString,
      ckpt.toString, Trigger.ProcessingTime(0L)).start()
    val progress = new Progress(query.id, labels, ckpt)
    spark.streams.addListener(progress)

    /** Block until `files` files have been absorbed; false on timeout. */
    def awaitFiles(files: Long, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (progress.files < files && System.currentTimeMillis() < deadline) {
        query.exception.foreach(e => throw e)
        Thread.sleep(5)
      }
      progress.files >= files
    }
    /** Block until the first micro-batch has fixed its input files. */
    def awaitFirstPlanned(): Unit =
      while (!Files.exists(ckpt.resolve("offsets").resolve("0"))) {
        query.exception.foreach(e => throw e)
        Thread.sleep(5)
      }
    def batches: Seq[MicroBatch] = progress.batches.asScala.toSeq.sortBy(_.id)
    def stop(): Unit = {
      query.stop()
      spark.streams.removeListener(progress)
    }
  }

  def run(spark: SparkSession, tr: Tracer, args: RunArgs): Outcome = {
    val plan = SyncPlan.generate(args.seed, PrefixBlocks, BacklogBlocks, BacklogFiles,
      Addresses, args.seconds * 1000L, GapMs)
    val root = args.work.resolve("chain_sync")
    Main.deleteRecursively(root)
    val all = root.resolve("all")
    Files.createDirectories(all)
    plan.allFiles.zipWithIndex.foreach { case (b, i) => Files.write(all.resolve(f"blk$i%05d.dat"), b) }
    Files.write(root.resolve("truth.txt"), plan.render.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // the funding pairs of every block the run will see, read with the
    // engine's blk source and outpoint join as the engine's own sync
    // rehearsal does: the maintainer's fundersOf input
    val bronze = BlockFileSource.toBronze(BlockFileSource.read(spark, all.toString))
    val txsB = bronze("transactions").persist(StorageLevel.MEMORY_AND_DISK)
    val rinAll = Enrich.resolvedInputs(bronze("tx_inputs"), bronze("tx_outputs"))
      .select("tx_hash", "src_address").distinct().persist(StorageLevel.MEMORY_AND_DISK)
    txsB.count(); rinAll.count()
    val fundersOf = (_: SparkSession, blockRows: DataFrame) =>
      rinAll.join(
        txsB.join(blockRows.select(col("hash").as("block_hash")), Seq("block_hash"), "left_semi")
          .select("tx_hash"),
        Seq("tx_hash"), "left_semi")

    // set-up, repeated: a fresh maintainer bootstraps on the prefix. In the
    // last one the backlog lands while the bootstrap batch runs, so the
    // next batch takes all of it at once
    val (m, setup) = Main.setupTimes(3) { rep =>
      val m = new Maintainer(spark, root.resolve(s"rep$rep"), fundersOf, plan.prefixFiles)
      if (rep == 2) {
        m.awaitFirstPlanned()
        plan.backlogFiles.foreach(m.publisher.publish)
      }
      if (!m.awaitFiles(plan.prefixFiles.size, DrainTimeoutMs))
        throw new IllegalStateException("bootstrap did not finish")
      if (rep < 2) m.stop()
      m
    }

    // phase A: drain the backlog, timed from the end of the bootstrap batch
    val backlogTarget = plan.prefixFiles.size + plan.backlogFiles.size
    val drained = m.awaitFiles(backlogTarget, DrainTimeoutMs)
    val bootEnd = m.batches.head.endMs
    val drainEnd = m.batches.filter(_.files.exists(_ < backlogTarget)).map(_.endMs)
      .maxOption.getOrElse(System.currentTimeMillis())
    val catchup = plan.backlogBlocks / math.max(1e-3, (drainEnd - bootEnd) / 1e3)
    val phaseBFirst = m.batches.size

    // phase B: the open loop
    val startMs = System.currentTimeMillis() + 50
    val published = new Array[Long](plan.pubs.size)
    val publisher = new Thread(() => plan.pubs.zipWithIndex.foreach { case (p, i) =>
      val wait = startMs + p.dueMs - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      published(i) = m.publisher.publish(ChainGen.blkFile(p.blocks))
    })
    publisher.start()
    publisher.join()
    val allIn = m.awaitFiles(backlogTarget + plan.pubs.size, DrainTimeoutMs)
    m.stop()
    Seq(txsB, rinAll).foreach(_.unpersist(blocking = false))

    val batches = m.batches
    def absorbedBy(file: Int): Option[MicroBatch] = batches.find(_.files.contains(file))
    val lags = plan.pubs.zipWithIndex.flatMap { case (p, i) =>
      absorbedBy(backlogTarget + i).map(b => (p.kind, (b.endMs - startMs - p.dueMs) / 1e3))
    }
    val lagAll = lags.map(_._2)
    val reorgLags = lags.collect { case ("reorg", l) => l }

    // correctness: the maintained best chain and labels against the
    // generator's best chain and a plain union-find over its co-spends
    val labels = m.labels
    val gotBest = spark.read.parquet(labels.resolve("_bestchain").toString)
      .select(col("hash"), col("height").cast("int")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    val store = Batch.pairs[String, String](spark.read.parquet(labels.resolve("labels").toString)
      .select("address", "wallet_id").collect())
    val errs = Seq(
      if (drained) Nil else Seq("backlog not drained"),
      if (allIn) Nil else Seq(s"${plan.pubs.size - lags.size} publications never absorbed"),
      Checks.checkBestChain(plan.best.map(b => (b.hash, b.height)), gotBest),
      Checks.checkWallets(Checks.walletLabels(plan.bestTxs), store)).filter(_.nonEmpty)
    errs.flatten.foreach(e => System.err.println(s"[check] $e"))

    val live = batches.drop(phaseBFirst)
    val liveBlocks = plan.pubs.map(_.blocks.size).sum
    val backlogMax = live.map { b =>
      val pub = published.count(t => t > 0 && t <= b.startMs)
      val before = batches.takeWhile(_.id < b.id).map(_.files.size).sum - backlogTarget
      (pub - before).toDouble
    }
    val late = plan.pubs.indices.map(i => (published(i) - startMs - plan.pubs(i).dueMs).toDouble)
    // below 20 samples no percentile has ten beyond it: report the maximum
    val (tailPct, tailLag) = Checks.tail(lagAll).getOrElse((100, lagAll.maxOption.getOrElse(0.0)))
    val layer = Seq(
      "streaming.batch_p50_s" -> Checks.median(live.map(b => (b.endMs - b.startMs) / 1e3)),
      "streaming.batch_p90_s" -> Checks.quantile(live.map(b => (b.endMs - b.startMs) / 1e3), 0.9),
      "streaming.backlog_files_max" -> backlogMax.maxOption.getOrElse(0.0),
      "streaming.blocks_per_batch" -> liveBlocks.toDouble / math.max(1, live.size),
      "streaming.sync_lag_tail_s" -> tailLag,
      "streaming.reorg_lag_p50_s" -> Checks.median(reorgLags),
      "sinks.bytes_rewritten_per_block" -> live.map(_.rewrittenBytes).sum.toDouble / liveBlocks,
      "generator.late_ms_p90" -> Checks.quantile(late, 0.9))
    val failed = if (errs.isEmpty) 0 else 1
    Outcome(1, failed,
      Seq(("setup_s", setup, "s"), ("latency_p50_s", Checks.median(lagAll), "s"),
        ("items_per_s", catchup, "1/s")),
      if (tr.enabled) layer else Nil,
      Seq("prefix_blocks" -> PrefixBlocks, "backlog_blocks" -> plan.backlogBlocks,
        "publications" -> plan.pubs.size, "reorgs" -> reorgLags.size,
        "setup_s" -> setup, "catchup_blocks_per_s" -> catchup,
        "sync_lag_p50_s" -> Checks.median(lagAll),
        "sync_lag_tail_s" -> tailLag,
        "sync_lag_tail_percentile" -> tailPct,
        "sync_lag_samples" -> lagAll.size, "sync_lags_s" -> lagAll,
        "reorg_lag_p50_s" -> Checks.median(reorgLags),
        "failed_share" -> failed.toDouble))
  }
}
