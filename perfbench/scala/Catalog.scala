package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.tools.{CanonDigest, CapMetricsListener}

/** `catalog`: a fixed list of declared queries over generated tables, in a
  * seed-shuffled order per pass, every result collected in full. One pass
  * runs every query once. */
final class CatalogWorkload(h: Harness, sf: Double) {
  import CatalogWorkload._

  private val spark = h.spark
  private val dir = h.work.resolve("tables").toString
  private val rnd = new scala.util.Random(h.args.seed)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def order(): Seq[String] = rnd.shuffle(Light ++ Iterative)
  private def build(q: String): DataFrame = SparkEntry.queries(q)(spark, dir)

  /** Setup: generate the tables (repeated, median taken), then the
    * untimed correctness pass, which also warms the JVM: every query's
    * canonical digest must equal the committed one. With `record` set,
    * writes the digests there instead. Returns the set-up seconds. */
  def setup(reps: Int, record: Option[Path]): Double = {
    val gen = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      CatalogData.generate(spark, dir, sf)
      System.err.println(f"[perfbench] catalog tables written in ${secs(t0)}%.3f s")
      secs(t0)
    }
    val t0 = System.nanoTime()
    val expected = if (record.isDefined) Map.empty[String, String] else loadExpected()
    val got = order().flatMap { q =>
      h.attempt(s"$q digest") {
        val tq = System.nanoTime()
        val (rows, sha) = CanonDigest.digest(build(q))
        System.err.println(f"[perfbench] check $q%-24s ${secs(tq)}%.3f s, $rows rows")
        val line = s"$rows\t$sha"
        if (record.isEmpty && !expected.get(q).contains(line))
          throw new IllegalStateException(
            s"result $line differs from the expected ${expected.getOrElse(q, "(none)")}")
        q -> line
      }
    }
    record.foreach { p =>
      Files.write(p, (s"# sf=$sf data_seed=${CatalogData.DataSeed}" +:
        got.sortBy(_._1).map { case (q, l) => s"$q\t$l" }).asJava)
    }
    h.figures("setup.inputs_s") = (Stats.median(gen), "s")
    h.figures("setup.check_pass_s") = (secs(t0), "s")
    Stats.median(gen) + secs(t0)
  }

  private def loadExpected(): Map[String, String] = {
    val p = h.args.root.resolve("perfbench").resolve("expected").resolve("catalog_digests.tsv")
    Files.readAllLines(p).asScala.filterNot(_.startsWith("#")).map { l =>
      val Array(q, rows, sha) = l.split("\t")
      q -> s"$rows\t$sha"
    }.toMap
  }

  /** One query, timed from the call that builds it to its last collected
    * row; None if it threw. */
  private def run(q: String): Option[(Double, Double)] =
    h.attempt(q) {
      h.tracer.span(q, "queries") {
        val t0 = System.nanoTime()
        val df = h.tracer.span(s"$q.build", "stage")(build(q))
        h.tracer.span(s"$q.exec", "queries")(df.collect())
        val wall = secs(t0)
        System.err.println(f"[perfbench] query $q%-24s $wall%.3f s")
        val planMs = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
        (wall, planMs)
      }
    }

  def measure(seconds: Double): Unit = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val light = mutable.ArrayBuffer.empty[Double]
    val iter = mutable.ArrayBuffer.empty[Double]
    def untraced(s: Double, minPasses: Int): Unit = h.window(s, minPasses) { _ =>
      val byQuery = order().flatMap(q => run(q).map(r => q -> r._1)).toMap
      lat ++= byQuery.values
      light += Light.flatMap(byQuery.get).sum
      iter += Iterative.flatMap(byQuery.get).sum
    }
    // as in IngestWorkload.measure: traced passes sit between untraced ones
    // the first timed pass still runs slower while the JIT warms, by up to
    // half under host load, so untraced runs take the median of at least
    // three, which leaves it out
    h.heapPeakReset()
    untraced(if (h.args.trace) seconds / 2 else seconds, if (h.args.trace) 1 else 3)
    val heapMb = h.heapPeakMb
    if (h.args.trace) {
      traced(seconds / 2)
      untraced(0, 1)
    }
    val passes = light.indices.map(i => light(i) + iter(i))
    if (h.args.trace)
      h.layer("trace.overhead_s", h.layers("trace.pass_s")._1 - Stats.median(passes))
    h.endToEnd("pass_s") = (Stats.median(passes), "s")
    h.figures("light_mix_s") = (Stats.median(light.toSeq), "s")
    h.figures("iterative_mix_s") = (Stats.median(iter.toSeq), "s")
    h.figures("query_p50_s") = (Stats.median(lat.toSeq), "s")
    Stats.tailPercentile(lat.size).foreach { p =>
      h.figures(s"query_p${p}_s") = (Stats.quantile(lat.toSeq, p / 100.0), "s")
    }
    h.figures("query_samples") = (lat.size.toDouble, "count")
    h.figures("heap_peak_mb") = (heapMb, "MB")
  }

  private def traced(seconds: Double): Unit = {
    val caps = CapMetricsListener.register(spark)
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    val phaseStart = System.nanoTime()
    h.heapPeakReset()
    val wall = h.tracedPhase {
      h.window(seconds, 1) { i =>
        caps.reset()
        val results = mutable.LinkedHashMap.empty[String, (Double, Double)]
        h.tracer.span(s"pass-$i", "queries") {
          order().foreach(q => run(q).foreach(results(q) = _))
        }
        org.apache.spark.SparkBridge.drain(spark.sparkContext)
        val spans = h.tracer.spans
        val root = spans.filter(_.name == s"pass-$i").last
        def named(n: String) = spans.filter(s => s.name == n && s.startNs >= root.startNs).last
        def sumOf(qs: Seq[String], f: String => Double) = qs.filter(results.contains).map(f).sum
        def jobsOf(span: Span) = h.listener.total(h.tracer.subtree(span.id)).jobs.toDouble
        def plan(q: String) = results(q)._2
        def residual(qs: Seq[String]) = {
          val c = h.listener.total(qs.filter(results.contains)
            .flatMap(q => h.tracer.subtree(named(q).id)).toSet)
          sumOf(qs, q => results(q)._1) - c.taskMs / 1e3 / h.cores - sumOf(qs, plan) / 1e3
        }
        def classMetrics(cls: String, qs: Seq[String]) = Map(
          s"$cls.mix_s" -> sumOf(qs, q => results(q)._1),
          s"$cls.plan_ms" -> sumOf(qs, plan),
          s"$cls.barrier_jobs" -> sumOf(qs, q => jobsOf(named(s"$q.build"))),
          s"$cls.spark.jobs" -> sumOf(qs, q => jobsOf(named(q))),
          s"$cls.spark.sched_residual_s" -> residual(qs))
        val all = Light ++ Iterative
        val c = h.listener.total(h.tracer.subtree(root.id))
        perPass += (SparkLayerMetrics(c, root.seconds, h.cores, sumOf(all, plan) / 1e3) ++
          classMetrics("light", Light) ++ classMetrics("iterative", Iterative) ++ Map(
            "queries.build_s" -> sumOf(all, q => named(s"$q.build").seconds),
            "queries.exec_s" -> sumOf(all, q => named(s"$q.exec").seconds),
            "queries.plan_ms" -> sumOf(all, plan),
            "stage.barrier_jobs" -> sumOf(all, q => jobsOf(named(s"$q.build"))),
            "trace.pass_s" -> root.seconds) ++
          Layers.capValues(caps.snapshot))
      }
    }
    spark.listenerManager.unregister(caps)
    SparkLayerMetrics.report(h, perPass.toSeq)
    h.layer("jvm.heap_peak_mb", h.heapPeakMb)
    h.layer("trace.span_coverage", h.coverage(phaseStart, wall))
  }
}

object CatalogWorkload {
  /** Dispatch-bound queries, a handful of jobs each: relational shapes and
    * the annotation pipeline's query forms. */
  val Light: Seq[String] = Seq(
    "q00_canary", "q01_agg", "q03_join_broadcast", "q30_annotations",
    "q33_processed_antijoin", "q140_bloom_antijoin")

  /** Queries built on iterative loops and eager `Stage` barriers: the
    * connected-components family: Jaccard pairs and incremental CC. */
  val Iterative: Seq[String] = Seq("q42_jaccard_pairs", "q243_incremental_cc")
}
