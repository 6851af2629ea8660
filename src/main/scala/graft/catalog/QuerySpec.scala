package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its name, how to build it from a session and a
  * fixture directory, and the DuckDB SQL that must reproduce its rows.
  * `oracle = None` marks a sketch/LSH query with no exact SQL twin; its
  * accuracy bound lives in the ScalaTest spec named beside it, and the
  * harness checks it rows-only. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])
