package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point; `perfbench/run.py` builds the classpath and
  * calls it. Prints `[perfbench] name = value unit` lines with the
  * workload's figures, then one JSON result line:
  * `{"correct", "attempted", "failed", "metrics"}` with the end-to-end
  * metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). Exits 1
  * when any output was wrong. */
object Main {
  /** Corpus size of `ingest` and `reingest` (before the 10 % delta). */
  val IngestDocs = 20000
  /** Scale factor of the generated `catalog` tables. */
  val CatalogSf = 0.01
  /** Input-preparation repetitions whose median goes into `setup_s`. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit =
    try start(argv)
    catch { case e: Throwable => e.printStackTrace(); sys.exit(2) }

  private def start(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.get("selftest").contains("1")) { SelfTest.run(); return }
    val args = Args(
      workload = opts("workload"), seed = opts("seed").toLong, seconds = opts("seconds").toInt,
      trace = opts.getOrElse("trace", "0") == "1", root = Paths.get(opts("root")).toAbsolutePath)
    require(Set("ingest", "reingest", "catalog")(args.workload), s"unknown workload ${args.workload}")
    val work = args.root.resolve(".bench_build").resolve("work")
      .resolve(s"${args.workload}-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val correct =
      try run(args, work, opts.get("record-expected").map(Paths.get(_)))
      finally Files2.deleteTree(work)
    sys.exit(if (correct) 0 else 1)
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(args: Args, work: Path, record: Option[Path]): Boolean = {
    val spark = session(work)
    val startupS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val h = new Harness(spark, args, work)
    try {
      val setupS = args.workload match {
        case "catalog" =>
          val w = new CatalogWorkload(h, CatalogSf)
          val s = w.setup(SetupReps, record)
          if (record.isDefined) return h.failed == 0
          w.measure(args.seconds)
          s
        case wl =>
          val w = new IngestWorkload(h, reingest = wl == "reingest", IngestDocs)
          val s = w.setup(SetupReps)
          w.measure(args.seconds)
          s
      }
      h.endToEnd("setup_s") = (startupS + setupS, "s")
      h.figures("setup.startup_s") = (startupS, "s")
      if (args.trace) h.tracer.writeJsonl(h.traceFile)
      report(h)
    } finally spark.stop()
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  private def report(h: Harness): Boolean = {
    val failedFrac = h.failed.toDouble / math.max(1L, h.attempted)
    h.figures("failed_frac") = (failedFrac, "ratio")
    h.problems.foreach(p => println(s"[perfbench] FAILED $p"))
    (h.endToEnd ++ h.figures).foreach { case (n, (v, u)) => println(s"[perfbench] $n = ${num(v)} $u") }
    if (h.args.trace) println(s"[perfbench] spans written to ${h.traceFile}")
    val metrics = if (h.args.trace) h.layers else
      Seq("setup_s", "pass_s").map(n => n -> h.endToEnd(n))
    val correct = h.failed == 0 && h.attempted > 0 &&
      metrics.forall { case (_, (v, _)) => !v.isNaN && !v.isInfinite }
    val body = metrics.map { case (n, (v, u)) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    println(s"""{"correct":$correct,"attempted":${h.attempted},"failed":${h.failed},""" +
      s""""metrics":{${body.mkString(",")}}}""")
    correct
  }
}
