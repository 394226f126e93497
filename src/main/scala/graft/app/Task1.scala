package graft.app

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.Similarity
import graft.tfidf.TfIdf

/** Task 1 of the reference (lab2.py:150–260), the one core behind
  * [[Lab2Pipeline.run]] and the `documents` queries q50/q51: abstract
  * token stream → abstract document frequencies → 6-dp rounded L2
  * TF-IDF vectors (abstracts against their own corpus, titles against
  * the ABSTRACT corpus' df with left-outer + df=0 smoothing, J2,
  * lab2.py:205–209) → [[Similarity.argmaxAdaptive]] → the best
  * abstract per title.
  *
  * Weights are rounded to 6 dp before ranking — the house determinism
  * contract: cross-engine FP drift in log10/sqrt chains sits at
  * ~1e-15, far below the rounding, so ranking and the DuckDB oracle see
  * identical values.
  *
  * The matches are computed once; accuracy is an aggregate over them,
  * and each caller keeps its own, because the two oracles define it
  * differently (q51 over the matched titles, Lab2 over the full corpus).
  */
object Task1 {

  /** The abstract corpus: its size, document frequencies and vectors. */
  final case class Corpus(n: Long, dfreq: DataFrame, vecs: DataFrame)

  /** `keepDf` materializes the df table, which both the abstract and the
    * title vectors read. */
  def corpus(absToks: DataFrame, n: Long, keepDf: DataFrame => DataFrame): Corpus = {
    val dfreq = keepDf(TfIdf.docFreq(absToks))
    Corpus(n, dfreq, rounded(TfIdf.weights(TfIdf.termFreq(absToks), dfreq, n)))
  }

  def titleVectors(titleToks: DataFrame, c: Corpus): DataFrame =
    rounded(TfIdf.weights(TfIdf.termFreq(titleToks), c.dfreq, c.n, external = true))

  /** (l_id = title id, r_id = abstract id, sim): the dense path for
    * integral ids over a small vocabulary, the exact inverted-index join
    * otherwise. String ids (Lab2) take the inverted join with no extra
    * job: the integral-id check fails before any vocabulary collect, and
    * `exact` skips the pair estimate. Ties go to the lowest abstract id
    * (the reference is shuffle-order-nondeterministic, lab2.py:250). */
  def matches(titleVecs: DataFrame, c: Corpus): DataFrame =
    Similarity.argmaxAdaptive(titleVecs, c.vecs)

  private def rounded(weights: DataFrame): DataFrame =
    TfIdf.l2Normalize(weights).withColumn("w", round(col("w"), 6))
}
