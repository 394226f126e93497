package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark builder and the DuckDB oracle SQL
  * that gates it. Both take the gate's sf dir; most oracles are
  * constant text, a few read artifacts materialized for that dir.
  * A query without an oracle does not type-check. */
final case class Query(name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String => String)

object Query {
  /** A query whose oracle SQL does not depend on the sf dir. */
  def apply(name: String, build: (SparkSession, String) => DataFrame,
      sql: String): Query = Query(name, build, (_: String) => sql)
}
