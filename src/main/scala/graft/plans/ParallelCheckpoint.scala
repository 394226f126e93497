package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Scale-adaptive parallelism restore for CHECKPOINTED intermediates
  * whose consumers are CPU-bound (optimization guide §2.5 "input skew
  * … repartition immediately after the read", applied to the
  * localCheckpoint boundary instead of the scan).
  *
  * Why it exists: AQE's partition coalescing targets BYTES
  * (`minPartitionSize`, 1 MB), so a small-bytes post-shuffle table —
  * an inverted tf index, a grouped component table — coalesces to a
  * handful of partitions. An eager `localCheckpoint` then PINS that
  * partitioning, and every downstream stage until the next exchange
  * (collect_list grouping, per-row Okapi folds, heap ranking) runs at
  * 1–16-task parallelism on a 32-core session; measured: q271's
  * component build spent 3.9 s in a ONE-task collect_list stage over
  * a 1-partition checkpoint.
  *
  * The decision derives from the materialized layout, never a local
  * constant: checkpoint first, and only when the checkpoint's
  * partition count lands BELOW the session's default parallelism
  * round-robin it back up and re-checkpoint. At lake scale the
  * post-shuffle partition count is ≥ the core count (AQE coalesces by
  * bytes toward the advisory size), the guard is false, and this is a
  * provable no-op; when it does fire, the re-exchange is bounded by
  * the same small byte size that caused the coalesce. Correctness:
  * the repo-wide no-rand()/total-order discipline makes every result
  * partitioning-independent (round-robin repartition is
  * retry-deterministic via sort-before-repartition), re-proven by the
  * full DuckDB oracle gate.
  */
object ParallelCheckpoint {
  /** Eager localCheckpoint at ≥ default parallelism. */
  def apply(df: DataFrame): DataFrame = {
    val ckpt = df.localCheckpoint()
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (ckpt.rdd.getNumPartitions < cores) {
      val wide = ckpt.repartition(cores).localCheckpoint()
      release(ckpt) // the eager re-checkpoint no longer reads it
      wide
    } else ckpt
  }

  /** Frees what `df` holds: its cache entry and the blocks of every
    * checkpointed RDD its plan reads. A released checkpoint cannot be
    * recomputed, so only call this once no live plan reads `df`. */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist()
      case _ =>
    }
  }
}
