package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact global `row_number` over a TOTAL order without the
  * single-partition sort a global `Window.orderBy` plans (the r15
  * verdict's WindowExec class). Shape (optimization guide §2.4/§2.5 —
  * an `orderBy` used only to assign ordinals does not need one
  * partition):
  *
  *  1. range-partition by the order and sort within partitions — the
  *     same distributed machinery as a global `orderBy`, every
  *     partition in parallel;
  *  2. localCheckpoint the sorted layout (pins row order; one
  *     materialization shared by the offsets job and the consumer);
  *  3. per-partition row counts (a |partitions|-row aggregate) become
  *     driver-side prefix-sum offsets;
  *  4. rank = offset(partition) + in-partition ordinal + 1, where the
  *     ordinal is `monotonically_increasing_id`'s low 33 bits over the
  *     checkpointed order — no second exchange, no window.
  *
  * Correctness: range partitions are globally ordered and the sort key
  * is a TOTAL order (caller contract — no ties), so offset + local
  * position IS the unique global rank, independent of where the range
  * boundaries land. The checkpoint pins intra-partition order, making
  * the ordinal well-defined under retries (checkpoint blocks re-read
  * in order).
  */
object GlobalRank {
  /** `df` plus `rankAs` = the 1-based global row number under
    * `order` (must be a total order over `df`'s rows). */
  def rowNumber(df: DataFrame, rankAs: String, order: Column*): DataFrame = {
    require(order.nonEmpty, "GlobalRank.rowNumber: empty order")
    val parted = df.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .localCheckpoint()
    val counts = parted.groupBy(spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets: Map[Int, Long] = {
      var acc = 0L
      counts.map { case (pid, n) => val o = pid -> acc; acc += n; o }.toMap
    }
    if (offsets.isEmpty) return parted.withColumn(rankAs, lit(1L))
    parted
      .withColumn(rankAs,
        element_at(typedLit(offsets), spark_partition_id()) +
          monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)) +
          lit(1L))
  }
}
