package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, root: Path)

/** State shared by a workload run: the session, the tracer, the failure
  * tally, and the metrics to report. */
final class Harness(val spark: SparkSession, val args: Args, val work: Path) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(s"${args.workload}-${args.seed}", spark.sparkContext)
  val listener = new LayerListener
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  /** Further end-to-end figures (docs/s, query mixes and percentiles, heap),
    * printed as `name = value unit` lines, not on the result line. */
  val figures = mutable.LinkedHashMap.empty[String, (Double, String)]
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers: mutable.LinkedHashMap[String, (Double, String)] =
    mutable.LinkedHashMap(Layers.All.map { case (n, u) => n -> ((0.0, u)) }: _*)

  def fail(what: String): Unit = { failed += 1; problems += what }

  /** Runs `op` as one attempted operation; a throw counts as a failure. */
  def attempt[A](what: String)(op: => A): Option[A] = {
    attempted += 1
    try Some(op)
    catch { case e: Throwable => fail(s"$what: $e"); None }
  }

  def layer(name: String, v: Double): Unit = {
    require(layers.contains(name), s"undeclared per-layer metric $name")
    layers(name) = (v, layers(name)._2)
  }

  def traceFile: Path = args.root.resolve(".bench_build").resolve("traces")
    .resolve(s"${args.workload}-seed${args.seed}-${ProcessHandle.current().pid()}.jsonl")

  /** Timed window: repeats `pass` until `seconds` have passed, and at least
    * `minPasses` times. */
  def window(seconds: Double, minPasses: Int)(pass: Int => Unit): Int = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < minPasses || System.nanoTime() < deadline) { pass(i); i += 1 }
    i
  }

  /** Traced phase: runs `body` with spans and the listener on, and returns
    * the phase wall in seconds. */
  def tracedPhase(body: => Unit): Double = {
    spark.sparkContext.addSparkListener(listener)
    tracer.enabled = true
    val t = System.nanoTime()
    try body
    finally {
      org.apache.spark.SparkBridge.drain(spark.sparkContext)
      tracer.enabled = false
      spark.sparkContext.removeSparkListener(listener)
    }
    (System.nanoTime() - t) / 1e9
  }

  /** Share of the traced phase's wall covered by top-level spans. */
  def coverage(phaseStartNs: Long, phaseWall: Double): Double = {
    val top = tracer.spans.filter(s => s.parent == -1 && s.startNs >= phaseStartNs - tracer.t0)
    top.map(_.seconds).sum / phaseWall
  }

  def heapPeakReset(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile, at most 90, with at least ten samples beyond
    * it; None when there are fewer than 20 samples. */
  def tailPercentile(n: Int): Option[Int] = {
    val p = math.min(90, math.floor(100.0 * (1.0 - 10.0 / n)).toInt)
    if (p >= 50) Some(p) else None
  }
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    }
    finally s.close()
  }

  /** (bytes, files) of the data files under `dir`, skipping hidden and
    * `_`-prefixed bookkeeping files. */
  def dataFiles(dir: Path): (Long, Int) = {
    val s = Files.walk(dir)
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).filter { p =>
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      (fs.map(Files.size).sum, fs.size)
    } finally s.close()
  }
}

/** The per-layer metrics every traced run reports, with units. A layer a
  * workload does not touch reports 0. */
object Layers {
  /** `graft.*` observe-metric totals from `CapMetricsListener`, keyed
    * `<metric>:<column>`. The iterative loops' round counters are reported
    * one by one as `loops.<metric>.<column>`; every bounded-coverage cap is
    * summed into `caps.total`, which stays 0 while no cap or guard fires. */
  val Loops: Seq[String] = Seq("loops.ccConverge.changed")
  private val LoopMetrics = Set("ccConverge", "sccFrontier", "bpeTokens")

  def capValues(snapshot: Map[String, Long]): Map[String, Double] = {
    val named = snapshot.toSeq.map { case (k, v) => k.stripPrefix("graft.").replace(':', '.') -> v.toDouble }
    val (loops, caps) = named.partition { case (n, _) => LoopMetrics(n.takeWhile(_ != '.')) }
    loops.map("loops." + _._1).filterNot(Loops.contains).distinct
      .foreach(n => System.err.println(s"[perfbench] undeclared loop metric $n"))
    Loops.map(n => n -> loops.filter("loops." + _._1 == n).map(_._2).sum).toMap +
      ("caps.total" -> caps.map(_._2).sum)
  }

  val All: Seq[(String, String)] = Seq(
    "nlp.calls" -> "count", "nlp.calls_per_doc" -> "ratio", "nlp.busy_s" -> "s",
    "nlp.errors" -> "count",
    "sinks.bytes_written_mb" -> "MB", "sinks.records_written" -> "count",
    "sinks.write_amp" -> "ratio", "sinks.store_files" -> "count", "sinks.bytes_per_ann" -> "B",
    "pipeline.segments" -> "count", "pipeline.segment_p50_s" -> "s", "pipeline.segment_max_s" -> "s",
    "sources.scan_mb" -> "MB", "sources.scan_rows" -> "count",
    "queries.build_s" -> "s", "queries.exec_s" -> "s", "queries.plan_ms" -> "ms",
    "stage.barrier_jobs" -> "count",
    "light.mix_s" -> "s", "light.plan_ms" -> "ms", "light.barrier_jobs" -> "count",
    "light.spark.jobs" -> "count", "light.spark.sched_residual_s" -> "s",
    "iterative.mix_s" -> "s", "iterative.plan_ms" -> "ms", "iterative.barrier_jobs" -> "count",
    "iterative.spark.jobs" -> "count", "iterative.spark.sched_residual_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.task_p50_ms" -> "ms", "spark.task_p99_ms" -> "ms",
    "spark.task_max_ms" -> "ms", "spark.gc_s" -> "s", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.fetch_wait_s" -> "s",
    "spark.sched_residual_s" -> "s",
    "jvm.heap_peak_mb" -> "MB",
    "trace.pass_s" -> "s", "trace.overhead_s" -> "s", "trace.span_coverage" -> "ratio") ++
    (Loops :+ "caps.total").map(_ -> "count")
}
