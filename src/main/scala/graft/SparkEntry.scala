package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query registries. Every entry in [[queries]]
  * has its DuckDB oracle in [[oracleSql]]: a [[Query]] carries both.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.RelationalOps.q2RevenueByNation(spark, "/root/testdata/sf0.001")

  /** Every query module, listed once; each module declares its own
    * [[Query]] entries. Order is declaration order (the bench headline
    * runs in it). */
  val registry: Seq[Query] = {
    import operators._
    val all = Seq(RelationalOps.registry, SupplyChainOps.registry,
      DocQueries.registry, DedupQueries.registry, AnnQueries.registry,
      TextStatsQueries.registry, EventQueries.registry,
      MultimodalQueries.registry, Lab2Queries.registry, GraphQueries.registry,
      Round7Queries.registry, Round8Queries.registry, Round9Queries.registry,
      Round10Queries.registry, Round11Queries.registry,
      Round12Queries.registry, Round13Queries.registry,
      Round14Queries.registry, Round15Queries.registry,
      Round16Queries.registry, UnigramQueries.registry,
      Round17Queries.registry, Round18Queries.registry,
      Round19Queries.registry).flatten
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty,
      s"query names registered more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = oracleSqlFor("/root/testdata/sf0.01")

  /** Oracle SQL parameterized by the gate's actual sf dir — q43's
    * oracle reads the IVF index materialized FOR that dir, so Verify
    * must dump the SQL for the dir it actually ran (a baked-in default
    * dir would read a missing/stale index under any other gate dir). */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    registry.map(q => q.name -> q.oracle(sfDir)).toMap
}
