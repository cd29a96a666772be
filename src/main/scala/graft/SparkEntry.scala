package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are contributed by the operator modules under graft.operators;
  * each oracle is equivalent ANSI SQL run by DuckDB over the same parquet.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q3 shape: filtered 3-way join + grouped revenue top-10.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_j3_revenue_top10")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++
      TextQueries.queries ++
      VectorQueries.queries ++
      MultimodalQueries.queries ++
      DedupQueries.queries ++
      JoinQueries.queries ++
      KernelQueries.queries ++
      PipelineQueries.queries ++
      UrlQueries.queries ++
      ConversationQueries.queries ++
      CodeQueries.queries ++
      WarcQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++
      TextQueries.oracles ++
      VectorQueries.oracles ++
      MultimodalQueries.oracles ++
      DedupQueries.oracles ++
      JoinQueries.oracles ++
      KernelQueries.oracles ++
      PipelineQueries.oracles ++
      UrlQueries.oracles ++
      ConversationQueries.oracles ++
      CodeQueries.oracles ++
      WarcQueries.oracles
}
