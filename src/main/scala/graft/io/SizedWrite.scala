package graft.io

import org.apache.spark.sql.DataFrame

/** Output-file sizing for lake/artifact writes (optimization guide §6:
  * "aim for output files in the 128 MB – 1 GB range"; small files hurt
  * twice — listing/planning on the driver and per-file open overhead).
  *
  * Why it exists: cycle operators write SMALL lake states (a filtered
  * documents slice, a survivor set) from inputs that carry the session's
  * default parallelism, so every seed/append wave emitted one tiny file
  * PER CORE — measured at sf0.1: a 1.1 MB maintenance lake spread over
  * 64 files, and the per-write driver gap (commit protocol + snapshot
  * manifest listing over the growing file count) dominating the
  * retention/lifecycle queries (q298: 73% of its span was driver gap).
  *
  * The partition count derives from Catalyst's plan-statistic size
  * estimate (no extra job) against the 128 MB target: `coalesce` DOWN
  * only, never a repartition up — at lake scale the estimate exceeds
  * the target and this is a provable no-op, so nothing is tuned to
  * local mode. Correctness: same rows, fewer files; row/content stamps
  * are order-free sums, and no documents-lake file count reaches a
  * query output (the file-count-observable artifacts — IVF-PQ
  * assignments, q265's decision table — keep their own write paths).
  */
object SizedWrite {
  val TargetBytes: Long = 128L * 1024 * 1024

  /** `df` coalesced down to ceil(estimatedBytes / 128 MB) partitions
    * (≥ 1). */
  def sized(df: DataFrame): DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target =
      if (est > BigInt(Long.MaxValue)) Int.MaxValue
      else math.max(1L, (est.toLong + TargetBytes - 1) / TargetBytes)
        .min(Int.MaxValue).toInt
    df.coalesce(target) // no-op when target >= current partitions
  }

  /** `df.sizedWrite` ≡ `SizedWrite.sized(df).write` — keeps call sites
    * one token away from the bare spelling. */
  implicit class SizedWriteOps(private val df: DataFrame) extends AnyVal {
    def sizedWrite: org.apache.spark.sql.DataFrameWriter[
      org.apache.spark.sql.Row] = sized(df).write
  }
}
