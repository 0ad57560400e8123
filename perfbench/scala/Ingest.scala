package perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.PipelineConfig
import graft.operators.{BatchRunner, NlpService}

/** `ingest` (fresh segmented ingest into an empty store) and `reingest`
  * (the same corpus plus ~10 % new documents, re-run with the
  * already-processed check against the store built from the base corpus).
  * One pass is one `BatchRunner.run` over the corpus's 180 days. */
final class IngestWorkload(h: Harness, reingest: Boolean, docs: Int) {
  private val spark = h.spark
  private val baseSource = h.work.resolve("base-source")
  private val fullSource = h.work.resolve("full-source")
  private val baseStore = h.work.resolve("base-store")
  private val store = h.work.resolve("store")
  private val plain: NlpService.Tagger = new NlpService.MockTagger(Corpus.Terms)
  private val counting: NlpService.Tagger = new CountingTagger(plain)

  private def cfg(source: Path, sink: Path, check: Boolean = reingest): PipelineConfig =
    PipelineConfig(
      sourcePath = source.toString, sinkPath = sink.toString,
      dateStart = Some(Corpus.FirstDay.toString), dateEnd = Some(Corpus.LastDay.toString),
      intervalDays = 30, checkAlreadyProcessed = check)

  private var expected: Array[String] = Array.empty
  private var expectedBase: Array[String] = Array.empty
  private var tagged = 0L // documents one pass must tag

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Setup: generate and write the inputs (repeated, median taken), then
    * one warm-up run. Returns the set-up seconds. */
  def setup(reps: Int): Double = {
    val gen = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      val base = Corpus.base(h.args.seed, docs)
      val delta = if (reingest) Corpus.delta(h.args.seed, docs) else IndexedSeq.empty
      Corpus.write(spark, base, baseSource.toString, h.cores)
      if (reingest) Corpus.write(spark, base ++ delta, fullSource.toString, h.cores)
      if (reingest) expectedBase = Corpus.expectedIds(base)
      expected = Corpus.expectedIds(base ++ delta)
      tagged = (if (reingest) delta else base).count(Corpus.taggable).toLong
      secs(t0)
    }
    // One untimed full-range run, checked, to pay first-time planning, code
    // generation and JIT work before the timed window: for `reingest` it
    // builds the base store; for `ingest` it runs a 2,000-doc corpus.
    val t0 = System.nanoTime()
    if (reingest) h.attempt("base store build") {
      BatchRunner.run(spark, cfg(baseSource, baseStore, check = false), plain)
      check(baseStore, expectedBase, "base store")
    }
    else h.attempt("warm-up run") {
      val small = Corpus.base(h.args.seed + 1, 2000)
      val src = h.work.resolve("warmup-source")
      val sink = h.work.resolve("warmup-store")
      Corpus.write(spark, small, src.toString, h.cores)
      BatchRunner.run(spark, cfg(src, sink), plain)
      check(sink, Corpus.expectedIds(small), "warm-up store")
    }
    val warmUp = secs(t0)
    h.figures("setup.inputs_s") = (Stats.median(gen), "s")
    h.figures("setup.warmup_s") = (warmUp, "s")
    Stats.median(gen) + warmUp
  }

  /** Compares the store's `_id` column with the oracle's ids: same count,
    * no duplicates, same digest. Throws on a mismatch. */
  private def check(dir: Path, want: Array[String], what: String): Unit = {
    val got = spark.read.parquet(dir.toString).select("_id").collect().map(_.getString(0)).sorted
    def mismatch(m: String) = throw new IllegalStateException(s"$what: $m")
    if (got.length != want.length) mismatch(s"${got.length} rows, expected ${want.length}")
    if (got.distinct.length != got.length) mismatch("duplicate _id values")
    if (Corpus.sha256(got.iterator) != Corpus.sha256(want.iterator))
      mismatch("_id digest differs from the oracle's")
  }

  private def prepareStore(): Unit = {
    Files2.deleteTree(store)
    if (reingest) Files2.copyTree(baseStore, store)
  }

  private def source: Path = if (reingest) fullSource else baseSource

  /** One pass and its store check, as one attempted operation; returns
    * the wall seconds of the `BatchRunner.run` call(s). In a traced pass
    * each 30-day segment is its own `BatchRunner.run` call and span. */
  private def pass(i: Int, tagger: NlpService.Tagger, traced: Boolean): Option[Double] =
    h.attempt(s"pass $i") {
      val wall = h.tracer.span(s"pass-$i", "pipeline") {
        val t0 = System.nanoTime()
        if (!traced) BatchRunner.run(spark, cfg(source, store), tagger)
        else BatchRunner.segments(Corpus.FirstDay, Corpus.LastDay, 30).zipWithIndex.foreach {
          case ((s, e), k) =>
            h.tracer.span(s"segment-$k", "pipeline") {
              BatchRunner.run(spark, cfg(source, store).copy(
                dateStart = Some(s.toString), dateEnd = Some(e.toString)), tagger)
            }
        }
        secs(t0)
      }
      h.tracer.span(s"check-$i", "harness")(check(store, expected, "store"))
      wall
    }

  /** The timed window: untraced passes for the end-to-end metrics. With
    * tracing, half the window goes to traced passes for the per-layer
    * metrics, between untraced ones, so that warming does not bias the
    * overhead estimate. */
  def measure(seconds: Double): Unit = {
    val walls = mutable.ArrayBuffer.empty[Double]
    def untraced(s: Double, minPasses: Int): Unit = h.window(s, minPasses) { i =>
      prepareStore()
      pass(i, plain, traced = false).foreach(walls += _)
    }
    h.heapPeakReset()
    // a pass is short next to the JVM and warm-up cost, so untraced runs
    // take the median of at least three
    untraced(if (h.args.trace) seconds / 2 else seconds, if (h.args.trace) 1 else 3)
    val heapMb = h.heapPeakMb
    if (h.args.trace) {
      traced(seconds / 2)
      untraced(0, 1)
      h.layer("trace.overhead_s", h.layers("trace.pass_s")._1 - Stats.median(walls.toSeq))
    }
    val (storeBytes, _) = Files2.dataFiles(store)
    val passS = if (walls.isEmpty) Double.NaN else Stats.median(walls.toSeq)
    h.endToEnd("pass_s") = (passS, "s")
    val name = if (reingest) "reingest_docs_per_s" else "ingest_docs_per_s"
    val scanned = docs + (if (reingest) math.max(1, docs / 10) else 0)
    h.figures(name) = (scanned / passS, "docs/s")
    h.figures("store_bytes_per_ann") = (storeBytes.toDouble / expected.length, "B")
    h.figures("heap_peak_mb") = (heapMb, "MB")
  }

  private def traced(seconds: Double): Unit = {
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    val phaseStart = System.nanoTime()
    h.heapPeakReset()
    val wall = h.tracedPhase {
      h.window(seconds, 1) { i =>
        h.tracer.span(s"prepare-$i", "harness")(prepareStore())
        CountingTagger.reset()
        val s = pass(i, counting, traced = true)
        val calls = CountingTagger.calls.get()
        val busy = CountingTagger.busyNs.get() / 1e9
        val errors = CountingTagger.errors.get()
        org.apache.spark.SparkBridge.drain(spark.sparkContext)
        val root = h.tracer.spans.find(_.name == s"pass-$i").get
        val c = h.listener.total(h.tracer.subtree(root.id))
        val segs = h.tracer.spans.filter(sp => sp.parent == root.id).map(_.seconds)
        val (storeBytes, storeFiles) = Files2.dataFiles(store)
        perPass += (SparkLayerMetrics(c, s.getOrElse(Double.NaN), h.cores, 0.0) ++ Map(
          "nlp.calls" -> calls.toDouble,
          "nlp.calls_per_doc" -> calls.toDouble / tagged,
          "nlp.busy_s" -> busy,
          "nlp.errors" -> errors.toDouble,
          "sinks.write_amp" -> c.outputBytes.toDouble / storeBytes,
          "sinks.store_files" -> storeFiles.toDouble,
          "sinks.bytes_per_ann" -> storeBytes.toDouble / expected.length,
          "pipeline.segments" -> segs.size.toDouble,
          "pipeline.segment_p50_s" -> Stats.median(segs),
          "pipeline.segment_max_s" -> segs.max,
          "trace.pass_s" -> s.getOrElse(Double.NaN)))
      }
    }
    SparkLayerMetrics.report(h, perPass.toSeq)
    h.layer("jvm.heap_peak_mb", h.heapPeakMb)
    h.layer("trace.span_coverage", h.coverage(phaseStart, wall))
  }
}

/** Per-layer metrics derived from the listener's counters of one pass. */
object SparkLayerMetrics {
  private val MB = 1048576.0

  def apply(c: SparkCounters, wall: Double, cores: Int, planS: Double): Map[String, Double] = {
    val d = c.taskDurations.map(_.toDouble).toSeq
    def q(p: Double) = if (d.isEmpty) 0.0 else Stats.quantile(d, p)
    Map(
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble, "spark.task_s" -> c.taskMs / 1e3,
      "spark.task_p50_ms" -> q(0.5), "spark.task_p99_ms" -> q(0.99),
      "spark.task_max_ms" -> (if (d.isEmpty) 0.0 else d.max),
      "spark.gc_s" -> c.gcMs / 1e3, "spark.shuffle_read_mb" -> c.shuffleRead / MB,
      "spark.shuffle_write_mb" -> c.shuffleWrite / MB, "spark.spill_mb" -> c.spill / MB,
      "spark.fetch_wait_s" -> c.fetchWaitMs / 1e3,
      "spark.sched_residual_s" -> (wall - c.taskMs / 1e3 / cores - planS),
      "sources.scan_mb" -> c.inputBytes / MB, "sources.scan_rows" -> c.inputRecords.toDouble,
      "sinks.bytes_written_mb" -> c.outputBytes / MB,
      "sinks.records_written" -> c.outputRecords.toDouble)
  }

  /** Reports the per-key median over the traced passes. */
  def report(h: Harness, passes: Seq[Map[String, Double]]): Unit =
    if (passes.nonEmpty)
      passes.head.keys.foreach(k => h.layer(k, Stats.median(passes.map(_.getOrElse(k, 0.0)))))
}
