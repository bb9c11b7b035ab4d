package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{OpsQueries, Queries, QueryDef}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The actual registry lives in graft.queries.Queries; this object stays a
  * thin facade.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the extraction pipeline's global valid-triple set.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("kg_triples")(spark, "/root/testdata/sf0.001")

  /** The combined registry list, one [[graft.queries.QueryDef]] per query. */
  val registry: Seq[QueryDef] = Queries.registry ++ OpsQueries.registry
  require(registry.map(_.name).distinct.size == registry.size, "registry names must be unique")

  private val builders = registry.map(d => d.name -> d.build).toMap
  private val oracles = registry.map(d => d.name -> d.oracleSql).toMap

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = builders

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = oracles
}
