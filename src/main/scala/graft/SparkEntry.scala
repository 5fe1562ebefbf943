package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analytics.Analytics

/** One declared query: its name, its Spark body, and (where SQL can
  * express it) the ANSI SQL DuckDB runs on the same parquet tables. */
final case class Declared(
    name: String, run: (SparkSession, String) => DataFrame, oracle: Option[String] = None)

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1Pricing(spark, "/root/testdata/sf0.001")

  /** Every module's declarations; a name declared twice fails here. */
  val declared: Seq[Declared] = {
    val all = Analytics.declared ++ graft.docstore.DocQueries.declared ++
      graft.events.EventQueries.declared ++ graft.pipeline.TextOps.declared ++
      graft.pipeline.Dedup.declared ++ graft.pipeline.Ann.declared ++
      graft.pipeline.Multimodal.declared ++ graft.operators.OperatorQueries.declared ++
      graft.pipeline.CorpusStats.declared ++ graft.pipeline.Curation.declared ++
      graft.pipeline.Pca.declared ++ graft.pipeline.Bpe.declared
    val twice = all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(twice.isEmpty, s"query declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(d => d.name -> d.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    declared.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
