package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Spans around calls into the engine's public functions, recorded from
  * outside the engine.
  *
  * Untraced, [[layer]] only runs its body. Traced, it sets the Spark job
  * group to a per-call span id, forces the layer's output at its boundary
  * (so lazy work is not charged to the next span), and keeps the span
  * (name, start, end, parent, run id) in memory; one SparkListener rolls the
  * stage metrics of each job group up to its span.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  import Tracer.Span
  final class Stages {
    var runMs, cpuNs, shuffleBytes, spillBytes, gcMs = 0L
  }

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[(Int, String)] = Nil
  private var nextId = 0
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Stages]()
  private val failedTasks = new java.util.concurrent.atomic.AtomicLong()
  private val forced = ArrayBuffer.empty[DataFrame]
  private val sc = spark.sparkContext
  val cores: Int = sc.defaultParallelism

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => e.stageIds.foreach(stageGroup.put(_, g)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          val s = byGroup.computeIfAbsent(g, _ => new Stages)
          s.synchronized {
            s.runMs += m.executorRunTime
            s.cpuNs += m.executorCpuTime
            s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
            s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            s.gcMs += m.jvmGCTime
          }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
  }
  sc.addSparkListener(listener)

  /** Whether calls are being traced now; a traced run alternates operations
    * traced and untraced to measure the tracing overhead.
    */
  var active: Boolean = enabled

  /** Time `body` as span `name`; traced, `force` materializes its result. */
  def layer[A](name: String)(body: => A)(force: A => Unit): A =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open ::= ((id, name))
      sc.setJobGroup(s"$runId/$id", name)
      val t0 = System.nanoTime()
      try { val a = body; force(a); a }
      finally {
        spans += Span(id, name, parent, t0, System.nanoTime())
        open = open.tail
        open.headOption match {
          case Some((pid, pname)) => sc.setJobGroup(s"$runId/$pid", pname)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Force a frame by caching and counting it; dropped at [[release]]. */
  def forceDf(df: DataFrame): Unit = if (active) {
    if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    forced += df
  }
  def forceAll(dfs: Iterable[DataFrame]): Unit = dfs.foreach(forceDf)

  /** Drop the frames forced since the last call (end of one operation). */
  def release(): Unit = { forced.foreach(_.unpersist(blocking = false)); forced.clear() }

  def failedTaskCount: Long = failedTasks.get()

  /** Per span name: the median over operations of wall_s, cpu_s, slot_util,
    * shuffle_mb, spill_mb and gc_s (a span entered twice in one operation
    * counts once, summed), plus the summed self time of the operations' root
    * spans: their duration minus the part their child spans cover.
    */
  def rollup(): (Map[String, Map[String, Double]], Double) = {
    Thread.sleep(500) // let the listener bus deliver the last stage events
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Int = if (s.parent < 0) s.id else root(byId(s.parent))
    val perOp = spans.filter(_.parent >= 0).groupBy(s => (root(s), s.name)).map { case ((r, name), ss) =>
      val st = ss.map(s => Option(byGroup.get(s"$runId/${s.id}")).getOrElse(new Stages))
      val wall = ss.map(s => s.endNs - s.startNs).sum / 1e9
      val runS = st.map(_.runMs).sum / 1e3
      name -> Map(
        "wall_s" -> wall,
        "cpu_s" -> st.map(_.cpuNs).sum / 1e9,
        "slot_util" -> (if (wall > 0) runS / (wall * cores) else 0.0),
        "shuffle_mb" -> st.map(_.shuffleBytes).sum / 1048576.0,
        "spill_mb" -> st.map(_.spillBytes).sum / 1048576.0,
        "gc_s" -> st.map(_.gcMs).sum / 1e3)
    }
    val medians = perOp.groupBy(_._1).map { case (name, ops) =>
      name -> Tracer.SpanStats.map(k => k -> Checks.median(ops.map(_._2(k)).toSeq)).toMap
    }
    val children = spans.groupBy(_.parent)
    val rootSelf = spans.filter(_.parent < 0).map { r =>
      val covered = children.getOrElse(r.id, Nil).map(c => c.endNs - c.startNs).sum
      (r.endNs - r.startNs - covered) / 1e9
    }
    (medians, if (rootSelf.isEmpty) 0.0 else Checks.median(rootSelf.toSeq))
  }

  /** The spans as JSON lines, for the run's trace file. */
  def spanLines: Seq[String] = spans.map { s =>
    s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.toSeq

  def close(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)
  val SpanStats: Seq[String] = Seq("wall_s", "cpu_s", "slot_util", "shuffle_mb", "spill_mb", "gc_s")
  val Spans: Seq[String] = Seq(
    "sources.parse", "chain.best_chain", "chain.tx_gold", "chain.block_gold",
    "chain.address_gold", "chain.wallets", "sinks.gold_write",
    "graph.edges", "graph.pagerank", "graph.kcore", "graph.lpa",
    "operators.ngram_pairs", "operators.minhash", "operators.closure")
}

/** Peak JVM heap in use, sampled every 20 ms on a daemon thread. */
final class HeapSampler {
  @volatile private var running = true
  @volatile private var peak = 0L
  private val t = new Thread(() => {
    val rt = Runtime.getRuntime
    while (running) {
      peak = math.max(peak, rt.totalMemory() - rt.freeMemory())
      Thread.sleep(20)
    }
  })
  t.setDaemon(true)
  t.start()
  def stop(): Double = { running = false; t.join(); peak / 1048576.0 }
}
