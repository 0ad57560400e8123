package perfbench

import java.nio.file.Files

import graft.PipelineConfig
import graft.operators.{BatchRunner, NlpService}

/** Checks of the benchmark's own input generation and oracle:
  * `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit = {
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def run(): Unit = {
    val a = Corpus.base(7L, 2000)
    check("same seed gives the same corpus digest",
      Corpus.digest(a) == Corpus.digest(Corpus.base(7L, 2000)))
    check("same seed gives the same delta digest",
      Corpus.digest(Corpus.delta(7L, 2000)) == Corpus.digest(Corpus.delta(7L, 2000)))
    check("another seed gives another corpus digest",
      Corpus.digest(a) != Corpus.digest(Corpus.base(8L, 2000)))
    check("exactly 3 % of the documents are untaggable",
      a.count(d => !Corpus.taggable(d)) == 60)
    check("delta ids follow the base ids",
      Corpus.delta(7L, 2000).map(_.id) == (2000L until 2200L))

    // Hand-worked: sorted terms are filter, hash, join, merge, scan, sort,
    // stream, window. Doc 1 holds hash, join, merge; doc 2 is shorter than
    // 5 characters; doc 3 holds sort (in "sorted") and stream (in "streams").
    val d = "2021-02-01"
    val three = Seq(
      Corpus.Doc(1L, "join the hash merge", d),
      Corpus.Doc(2L, "scan", d),
      Corpus.Doc(3L, "sorted streams", d))
    val want = Seq("doc-1-ann-0", "doc-1-ann-1", "doc-1-ann-2", "doc-3-ann-0", "doc-3-ann-1")
    check("oracle ids of the 3-doc case", Corpus.expectedIds(three).toSeq == want)

    val work = Files.createTempDirectory(
      java.nio.file.Paths.get(".bench_build").toAbsolutePath, "selftest")
    val spark = Main.session(work)
    try {
      Corpus.write(spark, three, work.resolve("src").toString, 1)
      val sink = work.resolve("sink").toString
      BatchRunner.run(spark, PipelineConfig(sourcePath = work.resolve("src").toString,
        sinkPath = sink, dateStart = Some("2021-01-01"), dateEnd = Some("2021-03-01")),
        new NlpService.MockTagger(Corpus.Terms))
      val got = spark.read.parquet(sink).select("_id").collect().map(_.getString(0)).sorted.toSeq
      check("BatchRunner.run on the 3-doc case writes the oracle's ids", got == want)
    } finally {
      spark.stop()
      Files2.deleteTree(work)
    }
    if (failures > 0) sys.exit(1)
  }
}
