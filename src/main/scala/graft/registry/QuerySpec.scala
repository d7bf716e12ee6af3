package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry row: a query's name, its Spark plan over a scale-factor
  * directory, and equivalent DuckDB SQL whose result must hash-match. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)
