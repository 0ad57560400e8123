package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.operators.NlpService

/** One traced interval: a call from the benchmark into a layer. */
final case class Span(id: Int, name: String, layer: String, parent: Int, run: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest by call; each span's id is set as
  * the Spark local property [[Tracer.SpanProperty]] while it is open, so
  * the [[LayerListener]] can attribute jobs, stages and tasks to it. Until
  * `enabled` is set it only runs the bodies. */
final class Tracer(run: String, sc: SparkContext) {
  var enabled = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var next = 0
  val t0: Long = System.nanoTime()

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProperty, open.headOption.map(_.toString).orNull)
        done += Span(id, name, layer, parent, run, start - t0, end - t0)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Ids of `root` and every span nested below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = done.groupBy(_.parent)
    def go(id: Int): Set[Int] = kids.getOrElse(id, Nil).flatMap(s => go(s.id)).toSet + id
    go(root)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = done.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},""" +
        s""""run":"${s.run}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Spark-side counters of one span. */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var fetchWaitMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  val taskDurations = mutable.ArrayBuffer.empty[Long]

  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    fetchWaitMs += o.fetchWaitMs; inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
    taskDurations ++= o.taskDurations
  }
}

/** Attributes scheduler events to the span whose id the submitting thread
  * carried in [[Tracer.SpanProperty]]. Events arrive on the listener bus;
  * call [[SparkBridge.drain]] before reading. */
final class LayerListener extends SparkListener {
  private val byStage = new ConcurrentHashMap[Int, Int]()
  private val counters = new ConcurrentHashMap[Int, SparkCounters]()

  private def of(span: Int): SparkCounters = counters.computeIfAbsent(span, _ => new SparkCounters)
  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      of(s).synchronized(of(s).jobs += 1)
      e.stageIds.foreach(byStage.put(_, s))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s =>
      byStage.put(e.stageInfo.stageId, s)
      of(s).synchronized(of(s).stages += 1)
    }

  // a stage no span submitted is skipped: `get` on a missing Int key
  // unboxes null to 0, which would charge its tasks to span 0
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (byStage.containsKey(e.stageId)) {
      val s = byStage.get(e.stageId)
      val m = e.taskMetrics
      val c = of(s)
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.taskDurations += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.outputRecords += m.outputMetrics.recordsWritten
        }
      }
    }

  /** Sum of the counters of the given spans. */
  def total(spans: Set[Int]): SparkCounters = {
    val out = new SparkCounters
    spans.foreach(s => Option(counters.get(s)).foreach(c => c.synchronized(out.add(c))))
    out
  }
}

/** Counts and times every `annotate` call of the wrapped tagger. The
  * counters are JVM-wide statics: under `local[*]` the executors run in
  * this JVM, and the tagger itself is shipped to them by value. */
final class CountingTagger(inner: NlpService.Tagger) extends NlpService.Tagger {
  override def annotate(doc: NlpService.Doc): Seq[NlpService.Annotation] = {
    val t = System.nanoTime()
    try inner.annotate(doc)
    catch { case e: Exception => CountingTagger.errors.incrementAndGet(); throw e }
    finally {
      CountingTagger.busyNs.addAndGet(System.nanoTime() - t)
      CountingTagger.calls.incrementAndGet()
    }
  }
}

object CountingTagger {
  val calls = new AtomicLong
  val busyNs = new AtomicLong
  val errors = new AtomicLong
  def reset(): Unit = { calls.set(0); busyNs.set(0); errors.set(0) }
}
