package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: the Spark builder (session, fixture dir) and the
  * DuckDB SQL its result must hash-equal on the same parquet tables. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                       oracle: String)
