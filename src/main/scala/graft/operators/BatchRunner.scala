package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.PipelineConfig
import graft.sources.Sinks

/** B1 — the reference's top-level run loop (`index_range`,
  * `ingester/annotations_indexer.py:842-861`): advance through
  * `[dateStart, dateEnd)` in `intervalDays` steps, process each segment as a
  * bounded job, write to the configured sink mode.
  *
  * Differences from the reference, by design:
  *  - segments are half-open `[segStart, segEnd)` — each document processed
  *    exactly once (the reference's inclusive ends double-read boundary
  *    days);
  *  - the per-segment document set is a pushed-down partition-prunable
  *    filter, not a driver-materialized id list
  *    (`ingester/es_common.py:290-292` collects every id to the driver —
  *    at 100 TB that is the first thing to break);
  *  - parallelism is data partitioning, not a 128-thread pool.
  */
object BatchRunner {

  /** Half-open date segments covering [start, end). */
  def segments(start: LocalDate, end: LocalDate, intervalDays: Int): Seq[(LocalDate, LocalDate)] =
    Iterator.iterate(start)(_.plusDays(intervalDays.toLong))
      .takeWhile(_.isBefore(end))
      .map { s =>
        val e = s.plusDays(intervalDays.toLong)
        (s, if (e.isAfter(end)) end else e)
      }
      .toSeq

  /** One segment's pipeline: date-pruned `source` → F1 → [F2 anti-join] →
    * annotate → ann ids → flat/nested projection. Returns the
    * ready-to-write records.
    *
    * Annotation ids are numbered inside each document's own tagger output:
    * the per-document array is sorted by (term, start, remaining fields)
    * and `posexplode`d, so the segment needs no shuffle. The ids equal
    * [[AnnotationPipeline.withAnnId]]'s whenever (term, start) is unique
    * within a document; ties get a total order instead of an arbitrary one.
    */
  def processSegment(
      spark: SparkSession,
      cfg: PipelineConfig,
      tagger: NlpService.Tagger,
      source: DataFrame,
      seg: Option[(LocalDate, LocalDate)]): DataFrame = {
    import spark.implicits._
    var docs = source
    seg.foreach { case (s, e) =>
      docs = docs.filter(
        col(cfg.dateField) >= lit(s.toString) && col(cfg.dateField) < lit(e.toString))
    }
    docs = docs.filter(
      col(cfg.textField).isNotNull && length(col(cfg.textField)) >= cfg.minTextLen)
    // readExisting heals a crashed swap and lets real I/O errors through:
    // reading "no sink" on either would tag every processed document again
    if (cfg.checkAlreadyProcessed)
      Sinks.readExisting(spark, cfg.sinkPath).foreach { sk =>
        docs = AnnotationPipeline.filterAlreadyProcessed(
          docs, sk, cfg.docIdField, s"`meta.${cfg.docIdField}`")
      }
    val typed = docs
      .select(col(cfg.docIdField).cast("long").as("doc_id"), col(cfg.textField).as("text"))
      .as[NlpService.Doc]
    val ordered = sort_array(transform(col("annotations"), a => struct(
      a("detected_name").as("term"), a("start").as("ann_start"), a("id").as("id"),
      a("cui").as("cui"), a("source_value").as("source_value"), a("acc").as("acc"),
      a("end").as("ann_end"))))
    // posexplode_outer + a null filter: a bare posexplode would make
    // InferFiltersFromGenerate evaluate the sort a second time in a
    // pre-Generate size() filter
    val anns = NlpService.annotate(typed, tagger)
      .filter(col("error").isNull)
      .select(col("doc_id"), posexplode_outer(ordered).as(Seq("pos", "ann")))
      .filter(col("ann").isNotNull)
      .select(col("doc_id"), col("ann.*"), col("pos").cast("long").as("ann_id"))
    val annFields = Seq("id", "cui", "term", "ann_start", "ann_end", "source_value", "acc", "ann_id")
    if (cfg.useNestedObjects)
      AnnotationPipeline.projectNested(anns, Seq("doc_id"), annFields)
    else
      AnnotationPipeline.projectFlat(anns, Seq("doc_id"), annFields)
  }

  /** The full run: segment loop → per-segment upsert (or single append when
    * no date range is configured). The source is read once per run; each
    * segment filters it.
    */
  def run(spark: SparkSession, cfg: PipelineConfig, tagger: NlpService.Tagger): Unit = {
    val segs: Seq[Option[(LocalDate, LocalDate)]] = (cfg.dateStart, cfg.dateEnd) match {
      case (Some(s), Some(e)) =>
        segments(LocalDate.parse(s), LocalDate.parse(e), cfg.intervalDays).map(Some(_))
      case _ => Seq(None)
    }
    val source = spark.read.parquet(cfg.sourcePath)
    segs.zipWithIndex.foreach { case (seg, i) =>
      val out = processSegment(spark, cfg, tagger, source, seg)
      cfg.splitIndexByField match {
        case Some(f) =>
          // a check-off run overwrites on its first segment and appends
          // after, so the loop accumulates instead of truncating the sink
          // each pass. With the check on every segment appends: F2 already
          // leaves out processed documents, so an overwrite would drop the
          // annotations of exactly the documents it skipped.
          val mode =
            if (i == 0 && !cfg.checkAlreadyProcessed) org.apache.spark.sql.SaveMode.Overwrite
            else org.apache.spark.sql.SaveMode.Append
          Sinks.writePartitioned(out, cfg.sinkPath, f, mode)
        case None => Sinks.upsert(spark, out, cfg.sinkPath, "_id")
      }
    }
  }
}
