package graft.text

import org.apache.spark.ml.feature.{RegexTokenizer, StopWordsRemover}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text preprocessing (SURVEY.md §2.2 P1–P3/P8–P9, §2.3 M1–M2, §2.4 U1–U2).
  *
  * Two equivalent paths are exposed:
  *
  *  - '''Expression path''' ([[normalize]], [[tokensCol]]): pure Catalyst
  *    column expressions — stays inside whole-stage codegen, is what the
  *    oracle-gated queries use, and is the path that scales (no wrapper
  *    overhead, vectorized parquet scan → codegen'd regex → explode).
  *  - '''ML-transformer path''' ([[pipelineTransform]]): the
  *    RegexTokenizer/StopWordsRemover composition mirroring the reference
  *    (lab2.py:77–85). Kept for MLlib interop; ScalaTest asserts it agrees
  *    with the expression path token-for-token.
  *
  * Reference semantics preserved: lowercase (lab2.py:71), strip digits and
  * non-word chars to spaces (lab2.py:72–73 `(\d|\W)+`), split on non-word
  * (lab2.py:78–80 pattern `\W`), custom stop-word list (lab2.py:81–84),
  * pluggable lemmatizer (lab2.py:121–138 — NLTK WordNet is not
  * reproducible offline on the JVM; see [[Lemmatizer]], SURVEY.md §7.4.1).
  */
object TextPrep {

  /** Default stop-word list (stand-in for the reference's file-provided
    * list, lab2.py:52–53). Deliberately includes words present in the
    * testdata corpus so removal is observable.
    */
  val DefaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "to", "in", "is", "on", "for", "with",
    "at", "by", "from", "it", "this", "that", "are", "was", "be", "or")

  /** P1+P2: lowercase, fold digit/punctuation runs to a single space,
    * trim. After this the text is space-separated `[a-z_]+` words
    * (SURVEY.md §2.10.6).
    */
  def normalize(c: Column): Column =
    trim(regexp_replace(lower(c), "(\\d|\\W)+", " "))

  /** P9+M1: normalized text → array of non-empty tokens.
    *
    * `array_remove` rather than a `filter()` lambda: higher-order
    * functions are CodegenFallback — the fallback evaluates the WHOLE
    * subtree (regex, lower, split) interpreted per row, on every
    * corpus tokenize in the repo. [[normalize]] trims and collapses
    * separator runs, so the only removable token is the single "" that
    * fully-empty text splits to, and removing it by value equals a
    * `w =!= ""` filter (TextPrepSpec pins the edge rows).
    */
  def tokensCol(c: Column): Column = array_remove(split(normalize(c), " "), "")

  /** Full expression-path prep (P9+M1+M2): text column → token array
    * without stop words; duplicate tokens survive (TF counting).
    */
  def filteredTokensCol(c: Column, stopwords: Seq[String] = DefaultStopwords): Column =
    filter(tokensCol(c), w => !w.isin(stopwords: _*))

  /** ML-transformer path: adds `words_<col>` and `filtered_<col>` array
    * columns, mirroring lab2.py:77–85 (RegexTokenizer on `\W`, custom
    * stop-word list).
    */
  def pipelineTransform(df: DataFrame, textCols: Seq[String],
      stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    textCols.foldLeft(df) { (acc, c) =>
      val lowered = acc.withColumn(c, normalize(col(c)))
      val tok = new RegexTokenizer()
        .setInputCol(c).setOutputCol(s"words_$c").setPattern("\\W")
      val stop = new StopWordsRemover()
        .setInputCol(s"words_$c").setOutputCol(s"filtered_$c")
        .setStopWords(stopwords.toArray)
      stop.transform(tok.transform(lowered))
    }
  }
}

/** Pluggable lemmatization (SURVEY.md §7.4.1). The reference uses NLTK
  * pos_tag + WordNetLemmatizer (lab2.py:102–138); exact parity is neither
  * achievable offline on the JVM nor required — the correctness gate runs
  * engine and oracle with the same pluggable implementation.
  */
trait Lemmatizer extends Serializable {
  def lemma(word: String): String
  /** Column form: token array → lemmatized token array. */
  def apply(tokens: Column): Column
}

/** No-op lemmatizer — the oracle-parity default. */
object IdentityLemmatizer extends Lemmatizer {
  def lemma(word: String): String = word
  def apply(tokens: Column): Column = tokens
}

/** WordNet-morphy-style suffix-detachment rules (public algorithm:
  * wordnet.princeton.edu/documentation/morphy7wn) + a small exception
  * list — rules live in [[LemmaRules]]. Rules only — no POS tagging
  * (the reference's perceptron tagger is out of scope, SURVEY.md U2).
  *
  * The column form is the native codegen'd [[LemmatizeTokens]]
  * expression (one static call per token inside whole-stage codegen),
  * not a Scala UDF. Measured at sf0.1: steady-state times are within
  * noise (the prep pipeline is scan/tokenize-dominated there) but the
  * expression removes the per-row UTF8String↔String↔Seq encoder
  * round-trip and keeps prep in ONE generated stage — the structural
  * win that compounds on wide pipelines at scale.
  */
object RuleLemmatizer extends Lemmatizer {
  def lemma(w: String): String = LemmaRules.lemma(w)

  def apply(tokens: Column): Column =
    org.apache.spark.sql.GraftSqlApi.column(
      LemmatizeTokens(org.apache.spark.sql.GraftSqlApi.expr(tokens)))
}

/** POS-aware lemmatization (SURVEY U1, the reference's tag→lemmatize
  * shape, lab2.py:102–138): each token is tagged by a heuristic
  * treebank-suffix tagger (stand-in for NLTK's perceptron — not
  * reproducible offline), mapped with the reference's EXACT
  * `get_wordnet_pos` mapping (J*→a, V*→v, N*→n, R*→r, default n),
  * then lemmatized with detachment rules GATED by that POS — nouns
  * don't lose -ing, adverbs pass through; -er/-est detachment requires
  * a caller-supplied adjective tag via `LemmaRules.lemmaPos` (the
  * suffix is too ambiguous for the heuristic tagger). Same codegen
  * column path as [[RuleLemmatizer]].
  */
object PosAwareLemmatizer extends Lemmatizer {
  def lemma(w: String): String = LemmaRules.lemmaTagged(w)

  def apply(tokens: Column): Column =
    org.apache.spark.sql.GraftSqlApi.column(
      LemmatizeTokens(org.apache.spark.sql.GraftSqlApi.expr(tokens), posAware = true))
}
