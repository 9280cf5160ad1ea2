package graft

import graft.operators.{CurationQueries, EventQueries, OpsQueries, PipelineQueries, PrivacyQueries, RelationalQueries, RelationalQueries2, RelationalQueries3, RelationalQueries4, StreamingQueries, TextAnalysis, TextQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The operator inventory lives in graft.operators.*Queries as [[QueryDef]]s
  * (Spark plan + DuckDB oracle side by side); this object just merges them.
  */
object SparkEntry {

  val allQueries: Seq[QueryDef] =
    TextQueries.queries ++ RelationalQueries.queries ++ RelationalQueries2.queries ++
      RelationalQueries3.queries ++ RelationalQueries4.queries ++
      EventQueries.queries ++ PipelineQueries.queries ++ CurationQueries.queries ++
      OpsQueries.queries ++ PrivacyQueries.queries ++ StreamingQueries.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Inverted index over `documents` — the reference's flagship job
    * (/root/reference/mapreduce_inverted.py) as a declarative plan.
    */
  def entry(spark: SparkSession): DataFrame =
    TextAnalysis.invertedIndex(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")).orderBy("word")

  /** One entry per implemented operator from SURVEY.md §2, built once. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted where not SQL-expressible (hash
    * sketches, Scala decode stub) -> driver records a rows-only check.
    */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
