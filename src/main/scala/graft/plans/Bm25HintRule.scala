package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedHint}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface for Okapi BM25 ranked retrieval
  * ([[graft.operators.Round14Queries.bm25Rank]] — the same scoring
  * core the Scala q226 and the multi-query q244 share):
  *
  * {{{
  *   SELECT doc_id, bm25, n_terms_hit FROM (
  *     SELECT /*+ BM25('spark', 'window', 'merge', 10) */ doc_id, term
  *     FROM doc_tokens
  *   )
  *   -- args: 1+ STRING query terms, then an optional INTEGER k
  *   -- (default 10)
  * }}}
  *
  * Contract: the hinted block must produce columns `(doc_id, term)` —
  * one row per token OCCURRENCE (tf and document length are both
  * derived from it, so a pre-deduplicated token list would silently
  * flatten tf to 1; feed the raw explode). The block's result is
  * REPLACED by `(doc_id, bm25 round-6 DOUBLE, n_terms_hit BIGINT)`:
  * the top-k documents by (bm25 desc, doc_id asc), scored with the
  * standard (k1=1.2, b=0.75) formula and the Robertson–Sparck Jones
  * nonnegative idf. Corpus statistics (n_docs, avgdl) are computed
  * over the documents PRESENT in the token stream — a document with
  * zero tokens contributes no rows and therefore no dl (the long-form
  * semantics; q226's array-form path counts it with dl = 0, a
  * difference only an empty-text document can expose).
  *
  * Mechanics: a PURE plan rewrite like [[SetSimHintRule]] — the
  * rewritten subtree is plain joins/aggregates plus the
  * TakeOrderedAndProject ranking, optimizing as ordinary Catalyst; no
  * gating jobs, no memoization, no eager evaluation of the child.
  * Unmatched shapes (missing columns, no terms, bad k) log a warning
  * and fall through to Spark's unresolved-hint cleanup.
  */
case class Bm25HintRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private val HintName = "BM25"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case h @ UnresolvedHint(name, params, child)
        if name.equalsIgnoreCase(HintName) && child.resolved =>
      val (termLits, rest) = params.span {
        case Literal(_: UTF8String, StringType) => true
        case _ => false
      }
      val terms = termLits.collect {
        case Literal(s: UTF8String, StringType) => s.toString
      }
      val k: Option[Int] = rest match {
        case Seq() => Some(graft.operators.Round14Queries.Bm25TopK)
        case Seq(Literal(n: Int, IntegerType)) if n >= 1 => Some(n)
        case _ => None
      }
      val hasCols = Seq("doc_id", "term").forall(n =>
        child.output.exists(o => conf.resolver(o.name, n)))
      if (terms.isEmpty || k.isEmpty || !hasCols) {
        logWarning(s"$HintName: expects child columns (doc_id, term), 1+ " +
          s"STRING term literals, and an optional positive INTEGER k; got " +
          s"schema ${child.output.map(o => s"${o.name}:${o.dataType.simpleString}")
            .mkString(", ")}, args $params — hint ignored")
        h
      } else {
        val toks = org.apache.spark.sql.GraftSqlApi.ofRows(spark, child)
          .select(col("doc_id"), col("term"))
        val dl = toks.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("dl"))
        val stats = dl.agg(count(lit(1)).as("n_docs"),
          (sum(col("dl")) / count(lit(1))).as("avgdl"))
        val tf = toks.filter(col("term").isin(terms: _*))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val dfTab = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        graft.operators.Round14Queries.bm25Rank(tf, dl, dfTab, stats, k.get)
          .queryExecution.analyzed
      }
  }
}
