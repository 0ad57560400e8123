package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the declared operator inventory (SURVEY.md §2.2): one entry
  * per implemented operator, each runnable over a test-data directory.
  * `oracleSql` holds the DuckDB-equivalent SQL for every hash-checkable
  * query; entries absent from it (hash-function-dependent operators like
  * MinHash/SimHash) get a rows-only check and are covered by ScalaTest specs
  * instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's entire reason to exist (`README.md:10-13`): scan →
    * length-filter → annotate → explode → per-annotation records.
    */
  def entry(spark: SparkSession): DataFrame =
    PipelineQueries.q30_annotations(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = disjointUnion("query", Seq(
    RelationalQueries.all, RelationalQueries2.all, PipelineQueries.all,
    DedupQueries.all, SimilarityQueries.all, TextQueries.all,
    StreamQueries.all, MiscQueries.all, TrainingQueries.all,
    RelationalQueries3.all, TimeSeriesQueries.all))

  lazy val oracleSql: Map[String, String] = {
    val oracles = disjointUnion("oracle", Seq(
      RelationalQueries.oracle, RelationalQueries2.oracle, PipelineQueries.oracle,
      DedupQueries.oracle, SimilarityQueries.oracle, TextQueries.oracle,
      StreamQueries.oracle, MiscQueries.oracle, TrainingQueries.oracle,
      RelationalQueries3.oracle, TimeSeriesQueries.oracle))
    requireQueries(oracles.keySet, queries.keySet)
    oracles
  }

  /** The union of per-module maps, failing on a name that two modules
    * declare: `++` would let the later entry silently shadow the earlier.
    */
  private[graft] def disjointUnion[V](kind: String, parts: Seq[Map[String, V]]): Map[String, V] = {
    val dup = parts.flatMap(_.keys).groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }
    require(dup.isEmpty, s"duplicate $kind name(s): ${dup.toSeq.sorted.mkString(", ")}")
    parts.reduce(_ ++ _)
  }

  private[graft] def requireQueries(oracles: Set[String], queries: Set[String]): Unit = {
    val orphans = oracles -- queries
    require(orphans.isEmpty, s"oracle entries without a query: ${orphans.toSeq.sorted.mkString(", ")}")
  }
}
