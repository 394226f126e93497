package graft.io

import org.apache.spark.sql.DataFrame

/** Single-file output helpers (SURVEY.md §2.1 S3–S5, §2.9 R1–R2): the
  * reference forces one output file per artifact via
  * `coalesce(1, shuffle=True)` / `repartition(1)` (lab2.py:307, 313).
  * `repartition(1)` (a shuffle) is deliberate for computed outputs: the
  * upstream stages keep full parallelism and only the tiny result
  * funnels to one writer task — `coalesce(1)` would instead collapse
  * the WHOLE upstream pipeline to one task.
  */
object Sinks {

  /** S3: single text file; rows rendered like the reference's Python
    * tuple dump (`('accuracy', 0.99)` shape) when asTuple is set.
    */
  def writeSingleText(df: DataFrame, path: String, asTuple: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    val cols = df.schema.fieldNames.map(n => col(n).cast("string"))
    val line =
      if (asTuple) concat(lit("("), concat_ws(", ", cols: _*), lit(")"))
      else concat_ws("\t", cols: _*)
    df.select(line.as("value")).repartition(1).write.mode("overwrite").text(path)
  }

  /** S4: single parquet file. */
  def writeSingleParquet(df: DataFrame, path: String): Unit =
    df.repartition(1).write.mode("overwrite").parquet(path)

  /** S5: single CSV with header. */
  def writeSingleCsv(df: DataFrame, path: String): Unit =
    df.repartition(1).write.mode("overwrite").option("header", "true").csv(path)
}
