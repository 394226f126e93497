package graft.tfidf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextPrep

/** Reference-exact TF-IDF as a relational pipeline (SURVEY.md §2.5 A1–A6,
  * §2.6 J1–J2, §2.10.1–3).
  *
  * The vector representation is deliberately the '''long relational form'''
  * `(id, word, weight)` — that is what makes the downstream similarity
  * join scalable (inverted-index equi-join on `word` instead of an O(n²)
  * cartesian, SURVEY.md §4.3).
  *
  * Formula (lab2.py:187–189, sklearn-flavored, base-10):
  * {{{ w = (1 + log10(tf)) * (log10((n+1)/(df+1)) + 1) }}}
  * then L2 normalization per document (lab2.py:193–194) so cosine becomes
  * a plain dot product (lab2.py:230–237).
  *
  * Scale notes: `tf` is one partial+final hash aggregate on (id, word);
  * `df` aggregates the deduplicated (word, id) pairs; the weight join
  * shuffles on `word` — all key-partitioned, no driver materialization.
  * `n` (corpus size) is the only driver-side scalar. At 100 TB the df
  * table is vocabulary-sized (≪ corpus) and broadcastable.
  */
object TfIdf {

  /** A1: (id, text) → exploded (id, word) pairs, stop-filtered.
    * Duplicates preserved (TF semantics). The empty-token filter runs
    * AFTER the explode as a relational Filter — `TextPrep.tokensCol`'s
    * array-lambda filter would evaluate interpreted per element
    * (BASELINE.md measurement-honesty note), this shape stays in
    * whole-stage codegen.
    */
  def tokens(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = TextPrep.DefaultStopwords): DataFrame =
    df.select(col(idCol).as("id"),
        explode(split(TextPrep.normalize(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "" && !col("word").isin(stopwords: _*))

  /** A2: term frequency per (id, word). */
  def termFreq(tokens: DataFrame): DataFrame =
    tokens.groupBy(col("id"), col("word")).agg(count(lit(1)).as("tf"))

  /** A3: document frequency per word (distinct docs containing it). */
  def docFreq(tokens: DataFrame): DataFrame =
    tokens.select(col("word"), col("id")).distinct()
      .groupBy(col("word")).agg(count(lit(1)).as("df"))

  /** A4 weight expression — reference formula, log base 10. */
  def weightExpr(tf: Column, df: Column, n: Long): Column =
    (lit(1.0) + log(10.0, tf)) * (log(10.0, (lit(n.toDouble) + 1.0) / (df.cast("double") + 1.0)) + lit(1.0))

  /** A4+J1: attach df to tf rows and compute raw weights.
    *
    * @param dfTable document frequencies to use — pass the SAME corpus's
    *   [[docFreq]] for classic TF-IDF, or an external corpus's to express
    *   the reference's title-vs-abstract asymmetry (J2, lab2.py:205–209):
    *   then the join is LEFT OUTER and missing words get df=0 (the +1
    *   smoothing keeps the IDF finite).
    * @param external if true, left-outer join + df=0 default (J2);
    *   if false, inner join (J1).
    */
  def weights(tf: DataFrame, dfTable: DataFrame, n: Long, external: Boolean = false): DataFrame = {
    val joined =
      if (external)
        tf.join(dfTable, Seq("word"), "left_outer")
          .withColumn("df", coalesce(col("df"), lit(0L)))
      else tf.join(dfTable, Seq("word"), "inner")
    joined.select(col("id"), col("word"), weightExpr(col("tf"), col("df"), n).as("w"))
  }

  /** A6: L2-normalize weights per document (window form — one shuffle on
    * id, reused by the subsequent per-id operations). Documents whose
    * norm is 0 (empty after filtering, SURVEY.md §2.10.9) are DROPPED,
    * by documented choice — the reference would divide by zero.
    *
    * Measured vs a groupBy-norms + join-back formulation at sf0.1:
    * window 0.42–0.45 s, agg+join 0.45–0.51 s — the join pays a second
    * shuffle of the weights; the window's per-doc sort groups are tiny.
    * The window form stays.
    */
  def l2Normalize(weights: DataFrame): DataFrame = {
    val norm = sqrt(sum(col("w") * col("w")).over(Window.partitionBy(col("id"))))
    weights.withColumn("norm", norm)
      .filter(col("norm") > 0.0)
      .select(col("id"), col("word"), (col("w") / col("norm")).as("w"))
  }

  /** Full pipeline: (id, text) rows → normalized long-form vectors
    * `(id, word, w)` with self-corpus document frequencies.
    */
  def vectorize(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = TextPrep.DefaultStopwords): DataFrame = {
    val toks = tokens(df, idCol, textCol, stopwords)
    val n = df.select(col(idCol)).distinct().count()
    l2Normalize(weights(termFreq(toks), docFreq(toks), n))
  }
}
