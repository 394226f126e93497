package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.text.TextPrep

/** Equality law for the row-local positional shingles: the builder
  * replaced a per-doc window-`lead` gram builder with posexplode +
  * element_at probes into the same row's token array, so the spec pins
  * BIT-IDENTICAL output (positions included) against the window
  * spelling, written out below as the reference, on the sf0.001 corpus
  * plus hand-built edge rows (empty text, punctuation-only text, docs
  * shorter than n).
  */
class ShingleLocalSpec extends SparkTestBase {

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Reference spelling: one `lead` per follower over a doc-keyed
    * window, keeping only shingles with all n−1 followers present. */
  private def positionalShinglesWindow(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        posexplode(split(TextPrep.normalize(col(textCol)), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val wnd = Window.partitionBy(col("id")).orderBy(col("pos"))
    val withLeads = (1 until n).foldLeft(toks) { (acc, i) =>
      acc.withColumn(s"w$i", lead(col("w"), i).over(wnd))
    }
    val parts = col("w") +: (1 until n).map(i => col(s"w$i"))
    withLeads
      .filter((1 until n).map(i => col(s"w$i").isNotNull).reduceOption(_ && _).getOrElse(lit(true)))
      .select(col("id"), col("pos"), concat_ws(" ", parts: _*).as("shingle"))
  }

  private def docs: DataFrame = {
    import spark.implicits._
    val edge = Seq(
      (9001L, ""),                     // fully-empty text
      (9002L, "... 42 --- 7 !!"),      // normalizes to empty
      (9003L, "one"),                  // shorter than any n >= 2
      (9004L, "alpha beta alpha beta gamma"))
      .toDF("doc_id", "text")
    spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).unionByName(edge)
  }

  test("positionalShingles row-local ≡ window-lead, incl. pos, n ∈ {1,2,3,5}") {
    for (n <- Seq(1, 2, 3, 5)) {
      val local = sortedRows(Dedup.positionalShingles(docs, "doc_id", "text", n))
      val window = sortedRows(positionalShinglesWindow(docs, "doc_id", "text", n))
      assert(local == window, s"n=$n")
    }
  }
}
