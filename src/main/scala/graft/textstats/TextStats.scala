package graft.textstats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextPrep

/** Corpus-analysis operators for training-data curation: language
  * identification (marker-word heuristic), document quality scoring,
  * token counting (whitespace + BPE-ish regex), and fingerprinting.
  * All pure Catalyst expressions — per-document work is embarrassingly
  * parallel, aggregations are partial-combined; nothing here shuffles
  * more than one grouped aggregation per output.
  */
object TextStats {

  /** Marker words per language (public high-frequency function words).
    * Ordered map — argmax ties resolve to the earlier entry, so the
    * order is part of the contract.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "den"),
    "es" -> Seq("el", "la", "los", "las", "que", "y", "es", "una", "por", "para"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "des", "une", "dans", "pour"),
    "zh" -> Seq())

  /** CJK script ranges for the "zh" short-circuit: unified ideographs
    * (U+4E00–U+9FFF) + extension A (U+3400–U+4DBF). Deliberately NOT
    * "any non-ASCII" — accented Latin must fall through to the marker
    * argmax. [[CjkPatternSql]] is the RE2 spelling for the DuckDB oracle.
    */
  val CjkPattern: String = "[㐀-䶿一-鿿]"
  val CjkPatternSql: String = "[\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}]"

  /** Per-language marker-hit counts as columns `score_<lang>`, plus
    * `pred_lang` = argmax with ties to the earlier language in
    * [[LangMarkers]]. A document with CJK characters short-circuits to
    * "zh" (script detection beats word lists there).
    */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
        explode(split(TextPrep.normalize(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
    val scoreCols = LangMarkers.filter(_._2.nonEmpty).map { case (lang, words) =>
      sum(when(col("word").isin(words: _*), 1L).otherwise(0L)).as(s"score_$lang")
    }
    // left-join from the full doc set: docs with no Latin tokens at all
    // (e.g. pure-CJK text, which normalize() strips entirely) must still
    // get a row — their scores are 0 and the script check decides.
    val grouped = toks.groupBy(col("doc_id")).agg(scoreCols.head, scoreCols.tail: _*)
    val scoreNames = LangMarkers.filter(_._2.nonEmpty).map { case (l, _) => s"score_$l" }
    val scores = df.select(col(idCol).as("doc_id"))
      .join(grouped, Seq("doc_id"), "left")
      .select(col("doc_id") +: scoreNames.map(n => coalesce(col(n), lit(0L)).as(n)): _*)
    // script short-circuit: a CJK character → "zh" bucket. Restricted to
    // actual CJK ranges (unified ideographs + ext A) — NOT all non-ASCII,
    // which would misclassify accented Latin text (é, ü, ñ in de/es/fr).
    val hasCjk = df.select(col(idCol).as("doc_id"),
      col(textCol).rlike(CjkPattern).as("cjk"))
    val langs = LangMarkers.map(_._1).filter(l => l != "zh")
    // argmax chain: lang L wins if its score >= every later lang's score
    // and > every earlier lang's score (ties to earlier = >= forward only).
    val pred = langs.zipWithIndex.foldRight(lit("und")) { case ((l, i), other) =>
      val wins = langs.zipWithIndex.collect {
        case (m, j) if j < i => col(s"score_$l") > col(s"score_$m")
        case (m, j) if j > i => col(s"score_$l") >= col(s"score_$m")
      }.reduceOption(_ && _).getOrElse(lit(true))
      when(wins && col(s"score_$l") > 0, lit(l)).otherwise(other)
    }
    scores.join(hasCjk, Seq("doc_id"))
      .withColumn("pred_lang", when(col("cjk"), lit("zh")).otherwise(pred))
      .drop("cjk")
  }

  /** Heuristic quality features + composite score per document:
    * token count, distinct-token ratio (repetition proxy), stop-word
    * ratio (natural-language proxy), mean token length, alpha-char
    * ratio. `keep` flags documents inside the sane band — the standard
    * pre-training filter shape (cf. C4/Gopher rules, public).
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = TextPrep.DefaultStopwords): DataFrame = {
    val toks = TextPrep.tokensCol(col(textCol))
    val nToks = size(toks)
    val nDistinct = size(array_distinct(toks))
    val nStop = size(filter(toks, w => w.isin(stopwords: _*)))
    val alphaChars = length(regexp_replace(col(textCol), "[^A-Za-z]", ""))
    val base = df.select(
      col(idCol).as("doc_id"),
      length(col(textCol)).cast("long").as("n_chars"),
      nToks.cast("long").as("n_tokens"),
      round(nDistinct.cast("double") / greatest(nToks, lit(1)).cast("double"), 6).as("distinct_ratio"),
      round(nStop.cast("double") / greatest(nToks, lit(1)).cast("double"), 6).as("stopword_ratio"),
      round((length(regexp_replace(col(textCol), "\\s", "")).cast("double")) /
        greatest(nToks, lit(1)).cast("double"), 6).as("mean_token_len"),
      round(alphaChars.cast("double") / greatest(length(col(textCol)), lit(1)).cast("double"), 6)
        .as("alpha_ratio"))
    base.withColumn("keep",
      (col("n_tokens") >= 10) && (col("distinct_ratio") >= 0.1) &&
        (col("alpha_ratio") >= 0.6))
  }

  /** Unigram language-model score per document — the KenLM-shaped
    * curation signal without the external model: the LM is the corpus'
    * own unigram distribution `p(w) = count(w) / total`, and a doc's
    * score is the mean negative log10 probability of its tokens
    * (high = improbable tokens = likely garbage; low = stopword-heavy
    * fluent text). Self-scored LMs flag exactly the outlier docs a
    * pre-training filter drops first.
    *
    * Scale shape: one token explode feeding two aggregates. The token
    * TOTAL is derived lazily from the vocabulary aggregate (a one-row
    * cross join), not an eager count() — no third corpus pass, no job
    * at construction time. The vocab join is left to AQE: the unigram
    * table is usually broadcast-sized but grows with unique garbage
    * tokens, so a forced broadcast hint would be the OOM hazard at
    * open-web corpus scale; AQE picks broadcast when it fits.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
        explode(split(TextPrep.normalize(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
    val counts = toks.groupBy(col("word")).agg(count(lit(1)).as("wc"))
    val totals = counts.agg(sum(col("wc")).cast("double").as("total"))
    toks.join(counts, Seq("word"))
      .crossJoin(totals) // one row
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(-log(10.0, col("wc").cast("double") / col("total"))), 6)
          .as("avg_neg_logprob"))
  }

  /** Whitespace and BPE-ish token counts per document. The BPE-ish
    * tokenizer is the public GPT-2-style pre-tokenization shape:
    * letter runs | digit runs | single non-space symbol.
    */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** BPE-ish token count of a text column — the ONE definition shared
    * by [[tokenCounts]] and the q88 mixture rollup, so their token
    * accounting can't silently diverge.
    */
  def bpeCount(textCol: Column): Column =
    regexp_count(textCol, lit(BpePattern)).cast("long")

  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      size(filter(split(col(textCol), "\\s+"), t => t =!= "")).cast("long").as("ws_tokens"),
      bpeCount(col(textCol)).as("bpe_tokens"))

  /** Document fingerprints: raw md5, normalized-text md5 (whitespace/
    * case/punct-insensitive), and a min-shingle content hash (1-perm
    * minhash over word 3-grams — robust to local edits).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextPrep.tokensCol(col(textCol))
    val base = df.select(
      col(idCol).as("doc_id"),
      md5(col(textCol).cast("binary")).as("md5_raw"),
      md5(concat_ws(" ", toks).cast("binary")).as("md5_norm"))
    // min-shingle via the codegen'd posexplode+lead shingle pipeline +
    // partial-aggregated min — NOT array_min(transform(..., md5)):
    // higher-order lambdas evaluate interpreted per element (16.9 s at
    // sf0.1 vs ~1 s for this shape).
    val minShingle = graft.dedup.Dedup.shingleSets(df, idCol, textCol, 3)
      .groupBy(col("id"))
      .agg(min(md5(col("shingle").cast("binary"))).as("min_shingle_hash"))
      .withColumnRenamed("id", "doc_id")
    base.join(minShingle, Seq("doc_id"), "left") // <3-token docs → null
  }
}
