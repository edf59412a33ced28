package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one run reports: operations attempted and failed, the end-to-end
  * metrics (untraced runs), the per-layer metrics (traced runs), and a
  * summary of the workload's named figures for people reading the log.
  */
final case class Outcome(
    attempted: Int, failed: Int,
    endToEnd: Seq[(String, Double, String)],
    perLayer: Seq[(String, Double)],
    summary: Seq[(String, Any)])

final case class RunArgs(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. Prints a telemetry line, a summary line and, last, the
  * result object.
  */
object Main {
  val Workloads: Map[String, (SparkSession, Tracer, RunArgs) => Outcome] = Map(
    "batch" -> Batch.run,
    "chain_sync" -> ChainSync.run)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val args = RunArgs(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", Paths.get(kv("work")).toAbsolutePath)
    val workload = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val before = Telemetry.sample()
    Files.createDirectories(args.work)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, args.trace, s"${args.workload}-${args.seed}")
    val heap = new HeapSampler
    val out =
      try workload(spark, tracer, args)
      finally {
        tracer.close()
        spark.stop()
      }
    val peakHeap = heap.stop()
    val after = Telemetry.sample()
    val measured = (out.perLayer ++ Seq(
      "jvm.peak_heap_mb" -> peakHeap,
      "spark.failed_tasks" -> tracer.failedTaskCount.toDouble)).toMap
    require(measured.keySet.subsetOf(PerLayer.map(_._1).toSet),
      s"unlisted layer metrics: ${measured.keySet -- PerLayer.map(_._1)}")
    // every listed layer metric in every traced run; a layer the workload
    // does not run reports zero work
    val layer = PerLayer.map { case (n, u) => (n, measured.getOrElse(n, 0.0), u) }
    if (args.trace) Files.write(args.work.resolve("spans.jsonl"),
      tracer.spanLines.mkString("", "\n", "\n").getBytes(UTF_8))
    println(Json.obj("telemetry" -> Json.obj(
      "cores" -> cores, "before" -> before, "after" -> after)))
    println(Json.obj("summary" -> Json.obj(
      (("workload" -> args.workload) +: ("seed" -> args.seed) +: out.summary): _*)))
    val metrics = (if (args.trace) layer else out.endToEnd).map { case (n, v, u) =>
      n -> Json.obj("value" -> v, "unit" -> u)
    }
    println(Json.obj(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> Json.obj(metrics: _*)))
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Median of `reps` timed set-ups; the last one's result is kept. */
  def setupTimes[A](reps: Int)(f: Int => A): (A, Double) = {
    val runs = (0 until reps).map(i => timed(f(i)))
    (runs.last._1, Checks.median(runs.map(_._2)))
  }

  /** Per-layer metrics with their units, in report order. */
  val PerLayer: Seq[(String, String)] =
    (for {
      s <- Tracer.Spans
      k <- Tracer.SpanStats
    } yield (s"$s.$k", k match {
      case "slot_util" => "ratio"
      case "shuffle_mb" | "spill_mb" => "MB"
      case _ => "s"
    })) ++ Seq(
      "streaming.batch_p50_s" -> "s",
      "streaming.batch_p90_s" -> "s",
      "streaming.backlog_files_max" -> "count",
      "streaming.blocks_per_batch" -> "count",
      "streaming.sync_lag_tail_s" -> "s",
      "streaming.reorg_lag_p50_s" -> "s",
      "sinks.bytes_rewritten_per_block" -> "B",
      "generator.late_ms_p90" -> "ms",
      "trace.overhead_share" -> "ratio",
      "trace.unattributed_s" -> "s",
      "jvm.peak_heap_mb" -> "MB",
      "spark.failed_tasks" -> "count")

  /** Per span: its six stats, named `<span>.<stat>`. */
  def spanMetrics(rolled: Map[String, Map[String, Double]]): Seq[(String, Double)] =
    for {
      (s, stats) <- rolled.toSeq if Tracer.Spans.contains(s)
      (k, v) <- stats.toSeq
    } yield (s"$s.$k", v)

  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/** Host-contention telemetry: a fixed-work CPU probe and the load average.
  * Recorded beside a run's metrics so a contended run can be told apart
  * from a regression; it never discards or gates a sample.
  */
object Telemetry {
  def cpuProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }
  def sample(): Json.Raw = Json.obj(
    "cpu_probe_ms" -> cpuProbeMs(),
    "load_avg_1m" -> java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage)
}

/** Just enough JSON writing for the result lines. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }
  def value(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
