package perfbench

import java.security.MessageDigest
import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.operators.AnnotationPipeline

/** Seeded synthetic clinical-note corpus for the `ingest` and `reingest`
  * workloads, plus the plain-Scala oracle for the annotation ids the
  * pipeline must produce from it.
  *
  * Texts mix the eight `DefaultTerms` with filler words at Zipf-like
  * frequencies; exactly 3 % of the documents carry a null or a
  * shorter-than-5-character text (the F1 filter must drop them); `dct`
  * spans 180 days, so a 30-day segmentation yields 6 segments.
  */
object Corpus {

  final case class Doc(id: Long, text: String, dct: String)

  val Terms: Seq[String] = AnnotationPipeline.DefaultTerms
  val FirstDay: LocalDate = LocalDate.parse("2021-01-01")
  val LastDay: LocalDate = LocalDate.parse("2021-06-30") // exclusive
  val DegenerateShare = 0.03

  // Filler vocabulary. A few words contain a term as a substring
  // ("joint", "scanning", "sorted") — the tagger matches substrings, and so
  // does the oracle.
  private val Fillers: Seq[String] = Seq(
    "patient", "reports", "pain", "history", "denies", "fever", "chest",
    "mild", "severe", "left", "right", "knee", "joint", "swelling", "noted",
    "blood", "pressure", "stable", "follow", "up", "clinic", "review", "plan",
    "medication", "dose", "daily", "twice", "weeks", "months", "since",
    "scanning", "imaging", "normal", "abnormal", "findings", "consistent",
    "with", "and", "the", "of", "on", "in", "no", "acute", "chronic",
    "admitted", "discharged", "ward", "nurse", "doctor", "referred", "sorted",
    "allergy", "penicillin", "rash", "cough", "breath", "shortness", "heart",
    "rate", "regular", "abdomen", "soft", "tender", "bowel", "sounds",
    "present", "headache", "nausea", "vomiting", "dizzy", "fall", "fracture",
    "wrist", "cast", "xray", "ct", "mri", "report", "awaited", "bloods",
    "sent", "renal", "function", "liver", "glucose", "diabetes", "type",
    "insulin", "hba1c", "weight", "loss", "gain", "smoker", "alcohol",
    "units", "week", "lives", "alone", "carer", "mobility", "frame", "stick")

  /** Zipf-ranked vocabulary: the terms sit at fixed ranks among the fillers,
    * so term frequencies span two orders of magnitude. */
  private val Vocab: Array[String] = {
    val termRanks = Seq(2, 5, 9, 14, 22, 35, 55, 80)
    val buf = Fillers.toBuffer
    termRanks.zip(Terms).foreach { case (r, t) => buf.insert(r, t) }
    buf.toArray
  }
  private val Cdf: Array[Double] = {
    val w = Vocab.indices.map(r => 1.0 / math.pow(r + 1.0, 1.07))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  private def word(rnd: SplittableRandom): String = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(Cdf, u)
    Vocab(math.min(if (i >= 0) i else -i - 1, Vocab.length - 1))
  }

  private val ShortTexts = Array("", "ok", "n/a", "scan", "hash", "seen")
  private val Days = java.time.temporal.ChronoUnit.DAYS.between(FirstDay, LastDay).toInt

  /** `n` documents with ids `firstId until firstId + n`; the degenerate 3 %
    * is an exact count placed by a seeded shuffle. */
  def generate(seed: Long, firstId: Long, n: Int): IndexedSeq[Doc] = {
    val rnd = new SplittableRandom(seed)
    val degenerate = {
      val idx = Array.tabulate(n)(identity)
      var i = n - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = idx(i); idx(i) = idx(j); idx(j) = t
        i -= 1
      }
      idx.take(math.round(n * DegenerateShare).toInt).toSet
    }
    (0 until n).map { i =>
      val dct = FirstDay.plusDays(rnd.nextInt(Days).toLong).toString
      val text =
        if (!degenerate(i)) Iterator.fill(4 + rnd.nextInt(37))(word(rnd)).mkString(" ")
        else if (i % 2 == 0) null
        else ShortTexts(rnd.nextInt(ShortTexts.length))
      Doc(firstId + i, text, dct)
    }
  }

  /** The base corpus of a seed. */
  def base(seed: Long, n: Int): IndexedSeq[Doc] = generate(seed, 0L, n)

  /** The re-ingest delta: ~10 % new ids, dated across the whole range. */
  def delta(seed: Long, n: Int): IndexedSeq[Doc] =
    generate(seed ^ 0x5DEECE66DL, n.toLong, math.max(1, n / 10))

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("dct", StringType)))

  def write(spark: SparkSession, docs: Seq[Doc], path: String, partitions: Int): Unit = {
    val rows = docs.map(d => org.apache.spark.sql.Row(d.id, d.text, d.dct))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), Schema)
      .write.mode("overwrite").parquet(path)
  }

  def sha256(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def digest(docs: Seq[Doc]): String =
    sha256(docs.iterator.map(d => s"${d.id}\u0001${d.text}\u0001${d.dct}"))

  /** Docs that pass the F1 filter (non-null text of at least 5 chars). */
  def taggable(d: Doc): Boolean = d.text != null && d.text.length >= AnnotationPipeline.MinTextLen

  /** Expected sink keys `doc-<id>-ann-<k>`: one per term that occurs in a
    * taggable text, numbered from 0. Plain `indexOf`, no Spark. */
  def expectedIds(docs: Iterable[Doc]): Array[String] =
    docs.iterator.filter(taggable).flatMap { d =>
      val n = Terms.count(t => d.text.indexOf(t) >= 0)
      (0 until n).iterator.map(k => s"doc-${d.id}-ann-$k")
    }.toArray.sorted
}
