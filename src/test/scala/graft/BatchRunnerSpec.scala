package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.operators.{AnnotationPipeline, BatchRunner, NlpService}

/** Counts the documents each tagger call sees, across executor threads. */
object TaggerCalls {
  val byDoc = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
  def reset(): Unit = byDoc.clear()
  def snapshot: Map[Long, Int] = {
    import scala.jdk.CollectionConverters._
    byDoc.asScala.toMap
  }
}

final class CountingTagger(inner: NlpService.Tagger) extends NlpService.Tagger {
  override def annotate(doc: NlpService.Doc): Seq[NlpService.Annotation] = {
    TaggerCalls.byDoc.merge(doc.doc_id, 1, (a: Int, b: Int) => a + b)
    inner.annotate(doc)
  }
}

/** Emits annotations that tie on (term, start), in the order `reversed`
  * picks.
  */
final class TieTagger(reversed: Boolean) extends NlpService.Tagger {
  override def annotate(doc: NlpService.Doc): Seq[NlpService.Annotation] = {
    def a(id: Long, cui: String, end: Long) =
      NlpService.Annotation(id, cui, "join", "join", 1.0, 0L, end)
    val anns = Seq(a(1, "A", 4), a(0, "B", 4), a(7, "D", 9), a(7, "C", 4))
    if (reversed) anns.reverse else anns
  }
}

class BatchRunnerSpec extends SparkSuite {
  import spark.implicits._

  private val tagger = new NlpService.MockTagger(AnnotationPipeline.DefaultTerms)

  test("segments are half-open, clamped, and cover [start, end) without overlap (B1 fix)") {
    val segs = BatchRunner.segments(
      LocalDate.parse("1999-01-01"), LocalDate.parse("1999-03-15"), 30)
    assert(segs.head == (LocalDate.parse("1999-01-01"), LocalDate.parse("1999-01-31")))
    assert(segs.last._2 == LocalDate.parse("1999-03-15")) // clamped
    segs.sliding(2).foreach {
      case Seq((_, e1), (s2, _)) => assert(e1 == s2) // adjacent, no overlap
      case _ =>
    }
  }

  test("full run over a dated corpus: every doc processed exactly once across segments") {
    val srcDir = Files.createTempDirectory("src").toString + "/docs"
    val sinkDir = Files.createTempDirectory("sink").toString + "/out"
    // 90 days of docs, one per day, each containing a taggable term
    val docs = (0 until 90).map { i =>
      (i.toLong, s"daily report $i with join and merge inside",
        LocalDate.parse("2020-01-01").plusDays(i.toLong).toString)
    }.toDF("doc_id", "text", "dct")
    docs.write.mode("overwrite").parquet(srcDir)

    val cfg = PipelineConfig(
      sourcePath = srcDir, sinkPath = sinkDir,
      dateStart = Some("2020-01-01"), dateEnd = Some("2020-03-31"),
      intervalDays = 30)
    BatchRunner.run(spark, cfg, tagger)

    val out = spark.read.parquet(sinkDir)
    // 90 docs × 2 annotations (join, merge), each exactly once
    assert(out.count() == 180)
    assert(out.select("_id").distinct().count() == 180)
    val perDoc = out.groupBy("`meta.doc_id`").agg(count(lit(1)).as("n"))
    assert(perDoc.filter($"n" =!= 2).count() == 0)
  }

  test("multi-segment run with split-by-field keeps ALL segments (no overwrite loss)") {
    val srcDir = Files.createTempDirectory("src3").toString + "/docs"
    val sinkDir = Files.createTempDirectory("sink3").toString + "/out"
    // 3 segments of 30 days, one doc per segment boundary month
    (0 until 90 by 10).map { i =>
      (i.toLong, s"doc $i with join inside", s"src${i % 2}",
        LocalDate.parse("2020-01-01").plusDays(i.toLong).toString)
    }.toDF("doc_id", "text", "source", "dct")
      .write.mode("overwrite").parquet(srcDir)
    val cfg = PipelineConfig(
      sourcePath = srcDir, sinkPath = sinkDir,
      dateStart = Some("2020-01-01"), dateEnd = Some("2020-03-31"),
      intervalDays = 30, persistFields = Seq("doc_id"),
      splitIndexByField = Some("nlp.id")) // partition by an always-present column
    BatchRunner.run(spark, cfg, tagger)
    // every one of the 9 docs has exactly one 'join' annotation; docs from
    // segment 1 (January) must survive the segment 2 and 3 writes
    val out = spark.read.parquet(sinkDir)
    assert(out.select("`meta.doc_id`").distinct().count() == 9)
  }

  test("re-run is idempotent (upsert converges) and already-processed check skips work") {
    val srcDir = Files.createTempDirectory("src2").toString + "/docs"
    val sinkDir = Files.createTempDirectory("sink2").toString + "/out"
    (0 until 10).map(i => (i.toLong, s"text $i has a window here", "2020-01-05"))
      .toDF("doc_id", "text", "dct")
      .write.mode("overwrite").parquet(srcDir)
    val cfg = PipelineConfig(
      sourcePath = srcDir, sinkPath = sinkDir, checkAlreadyProcessed = true)
    BatchRunner.run(spark, cfg, tagger)
    val first = spark.read.parquet(sinkDir).collect().map(_.toSeq).toSet
    BatchRunner.run(spark, cfg, tagger)
    val second = spark.read.parquet(sinkDir).collect().map(_.toSeq).toSet
    assert(first == second)
    assert(first.size == 10) // one 'window' annotation per doc
  }

  private def dated(ids: Seq[Int]) =
    ids.map { i =>
      (i.toLong, if (i % 7 == 0) "tiny" else s"note $i on join and merge",
        LocalDate.parse("2020-01-01").plusDays(i.toLong % 60).toString)
    }.toDF("doc_id", "text", "dct")

  test("the tagger sees each taggable document exactly once in a 2-segment run onto a store") {
    val srcDir = Files.createTempDirectory("once-src").toString + "/docs"
    val sinkDir = Files.createTempDirectory("once-sink").toString + "/out"
    dated(0 until 60).write.mode("overwrite").parquet(srcDir)
    // an existing store holding other documents
    val priorDir = Files.createTempDirectory("once-prior").toString + "/docs"
    dated(1000 until 1010).write.mode("overwrite").parquet(priorDir)
    BatchRunner.run(spark, PipelineConfig(sourcePath = priorDir, sinkPath = sinkDir), tagger)
    val prior = spark.read.parquet(sinkDir).count()
    TaggerCalls.reset()
    BatchRunner.run(spark, PipelineConfig(
      sourcePath = srcDir, sinkPath = sinkDir,
      dateStart = Some("2020-01-01"), dateEnd = Some("2020-03-01"), intervalDays = 30),
      new CountingTagger(tagger))
    val taggable = (0 until 60).filter(_ % 7 != 0).map(_.toLong)
    assert(TaggerCalls.snapshot == taggable.map(_ -> 1).toMap)
    val out = spark.read.parquet(sinkDir)
    assert(out.count() == prior + 2 * taggable.size)
    assert(out.select("_id").distinct().count() == out.count())
  }

  test("in-document ann ids equal withAnnId on a tie-free corpus") {
    val docs = Seq(
      (1L, "merge then join then sort and window"),
      (2L, "window first, join later, then a hash join"),
      (3L, "no terms here"),
      (4L, "sort merge join scan")).toDF("doc_id", "text")
    val got = BatchRunner.processSegment(spark, PipelineConfig(sourcePath = ""), tagger, docs, None)
      .select($"`meta.doc_id`", $"`nlp.term`", $"`nlp.ann_start`", $"`nlp.ann_id`")
      .as[(Long, String, Long, Long)].collect().toSet
    val want = AnnotationPipeline.withAnnId(NlpService.annotateAndExplode(spark, docs, tagger)
        .withColumnRenamed("detected_name", "term").withColumnRenamed("start", "ann_start"))
      .select($"doc_id", $"term", $"ann_start", $"ann_id")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got.size > 6)
    assert(got == want)
  }

  test("ann ids of (term, start) ties are deterministic: the remaining fields order them") {
    val docs = Seq((1L, "join and join"), (2L, "join again")).toDF("doc_id", "text")
    def ids(reversed: Boolean) =
      BatchRunner.processSegment(spark, PipelineConfig(sourcePath = ""),
          new TieTagger(reversed), docs, None)
        .select($"`meta.doc_id`", $"`nlp.cui`", $"`nlp.ann_id`")
        .as[(Long, String, Long)].collect().toSet
    val want = for (d <- Set(1L, 2L); (cui, i) <- Seq("B", "A", "C", "D").zipWithIndex)
      yield (d, cui, i.toLong)
    assert(ids(reversed = false) == want)
    assert(ids(reversed = true) == want)
  }

  test("split-by-field re-run with the processed check keeps every segment") {
    val srcDir = Files.createTempDirectory("src4").toString + "/docs"
    (0 until 90 by 10).map { i =>
      (i.toLong, s"doc $i with join inside",
        LocalDate.parse("2020-01-01").plusDays(i.toLong).toString)
    }.toDF("doc_id", "text", "dct")
      .write.mode("overwrite").parquet(srcDir)
    // from 2019-12-02 the first segment holds no documents, and leaves a
    // sink without data files for the next segment's check to read
    for (start <- Seq("2020-01-01", "2019-12-02")) {
      val sinkDir = Files.createTempDirectory("sink4").toString + "/out"
      val cfg = PipelineConfig(
        sourcePath = srcDir, sinkPath = sinkDir,
        dateStart = Some(start), dateEnd = Some("2020-03-31"),
        intervalDays = 30, checkAlreadyProcessed = true,
        splitIndexByField = Some("nlp.id"))
      BatchRunner.run(spark, cfg, tagger)
      assert(spark.read.parquet(sinkDir).count() == 9)
      BatchRunner.run(spark, cfg, tagger)
      val out = spark.read.parquet(sinkDir)
      assert(out.count() == 9, s"from $start: the re-run must keep every segment")
      assert(out.select("`meta.doc_id`").distinct().count() == 9)
    }
  }

  test("the processed check heals a crashed swap: no processed document reaches the tagger") {
    val base = Files.createTempDirectory("healf2").toString
    val srcDir = base + "/docs"
    val sinkDir = base + "/out"
    (0 until 10).map(i => (i.toLong, s"text $i has a window here", "2020-01-05"))
      .toDF("doc_id", "text", "dct").write.parquet(srcDir)
    val cfg = PipelineConfig(
      sourcePath = srcDir, sinkPath = sinkDir, checkAlreadyProcessed = true)
    BatchRunner.run(spark, cfg, tagger)
    // crash between replaceWith's two renames: only the aside copy is left
    val fs = new org.apache.hadoop.fs.Path(sinkDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(sinkDir),
      new org.apache.hadoop.fs.Path(base, ".out__old")))
    (10 until 12).map(i => (i.toLong, s"text $i has a window here", "2020-01-06"))
      .toDF("doc_id", "text", "dct").write.mode("append").parquet(srcDir)
    TaggerCalls.reset()
    BatchRunner.run(spark, cfg, new CountingTagger(tagger))
    assert(TaggerCalls.snapshot == Map(10L -> 1, 11L -> 1))
    assert(spark.read.parquet(sinkDir).select("`meta.doc_id`").as[Long].collect().sorted.toSeq ==
      (0L until 12L))
  }
}
