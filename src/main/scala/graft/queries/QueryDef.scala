package graft.queries

/** One registry entry: the query's driver-facing name, its Spark builder,
  * and the DuckDB SQL its output must hash-match. `Queries.registry` and
  * `OpsQueries.registry` list one of these per query; `SparkEntry` builds
  * the name-keyed maps from the combined list.
  */
final case class QueryDef(name: String, build: Queries.Q, oracleSql: String)
