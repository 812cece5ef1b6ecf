package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Query, Core => CoreQ, TextOps => TextQ, VectorOps => VecQ, MultimodalOps => MmQ, PipelineOps => PipeQ, StreamingOps => StreamQ, GraphOps => GraphQ}

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` is the full declared operator inventory (SURVEY.md §2): each
  * entry maps to a DuckDB-oracle SQL in `oracleSql` with identical column
  * names and aligned types; the driver hash-compares results at sf0.01.
  * Both maps derive once from the modules' [[Query]] records.
  */
object SparkEntry {

  /** Every declared query, module by module, in declaration order. */
  val registry: Seq[Query] = Seq(CoreQ.queries, TextQ.queries, VecQ.queries,
    MmQ.queries, PipeQ.queries, StreamQ.queries, GraphQ.queries).flatten

  private val builders: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  private val oracles: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    builders("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries_map: Map[String, (SparkSession, String) => DataFrame] = builders

  def queries: Map[String, (SparkSession, String) => DataFrame] = builders

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver does a rows-only check. */
  def oracleSql: Map[String, String] = oracles
}
