package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, the DuckDB SQL that checks it over
  * the same parquet tables, and the Spark build that runs a library
  * operator over those tables (session, table directory). Column names
  * are aligned on both sides — the compare sorts columns by name before
  * hashing — and floating-point outputs are made engine-portable by
  * exact integer/decimal quantization, never by raw accumulation-order-
  * dependent double sums.
  */
final case class QuerySpec(name: String, oracle: String,
    build: (SparkSession, String) => DataFrame)
