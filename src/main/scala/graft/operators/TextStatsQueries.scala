package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables
import graft.text.TextPrep
import graft.textstats.TextStats

/** Corpus-analysis queries (language ID, quality, token counts,
  * fingerprints) over `documents`, DuckDB-oracled. SQL is generated from
  * the same constants as the Spark plans (marker lists, stop list,
  * BPE pattern) so the two sides cannot drift.
  */
object TextStatsQueries {

  private val stopList = TextPrep.DefaultStopwords.map(w => s"'$w'").mkString(", ")

  private val listsCte =
    """lists AS (
      |  SELECT doc_id, text, source,
      |         list_filter(string_split(trim(regexp_replace(lower(text), '(\d|\W)+', ' ', 'g')), ' '), x -> x <> '') AS toks
      |  FROM documents)""".stripMargin

  // ---------------------------------------------------------------- q25
  def q25LangId(s: SparkSession, dir: String): DataFrame =
    TextStats.langId(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  // shared q25/q29 SQL pieces, generated from the same Scala constants
  private val langMarkers = TextStats.LangMarkers.filter(_._2.nonEmpty)
  private val langNames = langMarkers.map(_._1)
  private val scoreSelects = langMarkers.map { case (l, ws) =>
    val inList = ws.map(w => s"'$w'").mkString(", ")
    s"CAST(sum(CASE WHEN word IN ($inList) THEN 1 ELSE 0 END) AS BIGINT) AS score_$l"
  }.mkString(",\n    ")
  // same argmax contract as TextStats.langId: strict > vs earlier
  // languages, >= vs later, and score > 0.
  private val langArms = langNames.zipWithIndex.map { case (l, i) =>
    val conds = langNames.zipWithIndex.collect {
      case (m, j) if j < i => s"score_$l > score_$m"
      case (m, j) if j > i => s"score_$l >= score_$m"
    }
    val all = (s"score_$l > 0" +: conds).mkString(" AND ")
    s"WHEN $all THEN '$l'"
  }.mkString("\n         ")

  val q25Sql: String = {
    val langs = langNames
    val arms = langArms
    s"""WITH $listsCte,
       |tok AS (SELECT doc_id, unnest(toks) AS word FROM lists),
       |scores AS (
       |  SELECT doc_id,
       |    $scoreSelects
       |  FROM tok GROUP BY doc_id)
       |SELECT d.doc_id, ${langs.map(l => s"COALESCE(s.score_$l, 0) AS score_$l").mkString(", ")},
       |  CASE WHEN regexp_matches(d.text, '${TextStats.CjkPatternSql}') THEN 'zh'
       |         $arms
       |       ELSE 'und' END AS pred_lang
       |FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q169
  /** Language-ID confusion matrix — the EVALUATION of q25's classifier
    * against the corpus's ground-truth `lang` metadata: (true, pred)
    * cell counts plus each cell's share of its true-language row. This
    * is the per-class quality report a curation pipeline reads before
    * trusting a lang filter (which languages leak into which). One
    * corpus-sized classify pass (q25's machinery, unchanged) into a
    * cells×cells-bounded aggregate; the row share is a window over the
    * tiny matrix. Counts are exact longs; the share divides two longs
    * once per cell (HALF_UP micro, identical `n / total` form).
    */
  def q169LangConfusion(s: SparkSession, dir: String): DataFrame = {
    val pred = TextStats.langId(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("pred_lang"))
    val wTrue = Window.partitionBy(col("true_lang"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang").as("true_lang"))
      .join(pred, Seq("doc_id"))
      .groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_share_micro", expr(
        "cast(round(1e6 * (n / (sum(n) over (partition by true_lang)))) as bigint)"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }

  val q169Sql: String = {
    val langs = langNames
    s"""WITH $listsCte,
       |tok AS (SELECT doc_id, unnest(toks) AS word FROM lists),
       |scores AS (
       |  SELECT doc_id,
       |    $scoreSelects
       |  FROM tok GROUP BY doc_id),
       |sc AS (
       |  SELECT d.doc_id, d.lang, d.text,
       |    ${langs.map(l => s"COALESCE(s.score_$l, 0) AS score_$l").mkString(", ")}
       |  FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id),
       |pred AS (
       |  SELECT lang AS true_lang,
       |    CASE WHEN regexp_matches(text, '${TextStats.CjkPatternSql}') THEN 'zh'
       |         $langArms
       |         ELSE 'und' END AS pred_lang
       |  FROM sc),
       |cells AS (
       |  SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       |  FROM pred GROUP BY 1, 2)
       |SELECT true_lang, pred_lang, n,
       |  CAST(round(1e6 * (n / (sum(n) OVER (PARTITION BY true_lang))))
       |       AS BIGINT) AS row_share_micro
       |FROM cells ORDER BY true_lang, pred_lang""".stripMargin
  }

  // ---------------------------------------------------------------- q29
  /** Composite curation pass — the realistic end-of-pipeline keep-list:
    * exact-dedup canonical id + language id + quality gate composed
    * into one verdict per document. `kept` = this doc is its cluster's
    * canonical copy AND passes the quality band AND is English. Three
    * doc_id equi-joins (co-partitioned after the first shuffle);
    * everything upstream is the linear q14/q25/q26 machinery.
    */
  def q29Curation(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val canon = graft.dedup.Dedup.canonicalIds(docs, "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
    val lang = TextStats.langId(docs, "doc_id", "text")
      .select(col("doc_id"), col("pred_lang"))
    val qual = TextStats.qualityScore(docs, "doc_id", "text")
      .select(col("doc_id"), col("keep").as("keep_quality"))
    canon.join(lang, Seq("doc_id")).join(qual, Seq("doc_id"))
      .withColumn("kept",
        col("doc_id") === col("canonical_id") &&
          col("keep_quality") && col("pred_lang") === "en")
      .orderBy(col("doc_id"))
  }

  val q29Sql: String =
    s"""WITH $listsCte,
       |canon AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS word FROM lists),
       |rawscores AS (
       |  SELECT doc_id,
       |    $scoreSelects
       |  FROM tok GROUP BY doc_id),
       |scores AS (
       |  SELECT d.doc_id,
       |    ${langNames.map(l => s"COALESCE(s.score_$l, 0) AS score_$l").mkString(", ")}
       |  FROM documents d LEFT JOIN rawscores s ON d.doc_id = s.doc_id),
       |lang AS (
       |  SELECT s.doc_id,
       |    CASE WHEN regexp_matches(d.text, '${TextStats.CjkPatternSql}') THEN 'zh'
       |         $langArms
       |         ELSE 'und' END AS pred_lang
       |  FROM scores s JOIN documents d ON d.doc_id = s.doc_id),
       |qual AS (
       |  SELECT doc_id,
       |    (CAST(len(toks) AS BIGINT) >= 10
       |     AND round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) >= 0.1
       |     AND round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) >= 0.6
       |    ) AS keep_quality
       |  FROM lists)
       |SELECT c.doc_id, c.canonical_id, l.pred_lang, q.keep_quality,
       |       (c.doc_id = c.canonical_id AND q.keep_quality AND l.pred_lang = 'en') AS kept
       |FROM canon c JOIN lang l ON l.doc_id = c.doc_id
       |     JOIN qual q ON q.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------- q37
  /** Sequence packing for training-data prep: assign documents to
    * ≈`PackBinTokens`-token context bins by cumulative BPE token count,
    * packed per `source` shard in doc_id order. A doc's bin is decided
    * by its START offset (docs may straddle a boundary — documented
    * contiguous-packing semantics; the alternative, first-fit
    * bin-packing, is order-dependent and not declarative).
    *
    * Scale shape: ONE window partitioned by `source` — packing
    * parallelizes across shards, never a global single-partition sort.
    * A real pipeline shards the corpus first (hash buckets as `source`)
    * for exactly this reason.
    */
  val PackBinTokens = 2048L

  def q37SequencePacking(s: SparkSession, dir: String): DataFrame = {
    // single projection, ONE scan: joining tokenCounts back to docs for
    // `source` would scan the corpus twice (confirmed in PLANS.md)
    val counts = Tables.documents(s, dir).select(
      col("doc_id"), col("source"),
      TextStats.bpeCount(col("text")).as("bpe_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    counts
      .withColumn("start_offset", coalesce(sum(col("bpe_tokens")).over(w), lit(0L)))
      // integral `div`, not `/`: double division rounds above 2^53
      // cumulative offsets and would drift from the oracle's exact `//`
      .select(col("doc_id"), col("source"), col("bpe_tokens"),
        expr(s"start_offset div $PackBinTokens").as("bin_id"),
        (col("start_offset") % PackBinTokens).as("offset_in_bin"))
      .orderBy(col("doc_id"))
  }

  val q37Sql: String =
    s"""WITH counts AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(text, '${TextStats.BpePattern}')) AS BIGINT) AS bpe_tokens
       |  FROM documents),
       |packed AS (
       |  SELECT doc_id, source, bpe_tokens,
       |    COALESCE(sum(bpe_tokens) OVER (
       |      PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
       |  FROM counts)
       |SELECT doc_id, source, bpe_tokens,
       |  CAST(start_offset // $PackBinTokens AS BIGINT) AS bin_id,
       |  CAST(start_offset % $PackBinTokens AS BIGINT) AS offset_in_bin
       |FROM packed ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q26
  def q26Quality(s: SparkSession, dir: String): DataFrame =
    TextStats.qualityScore(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val q26Sql: String =
    s"""WITH $listsCte,
       |feat AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) AS distinct_ratio,
       |    round(CAST(len(list_filter(toks, x -> x IN ($stopList))) AS DOUBLE) / greatest(len(toks), 1), 6) AS stopword_ratio,
       |    round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / greatest(len(toks), 1), 6) AS mean_token_len,
       |    round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS alpha_ratio
       |  FROM lists)
       |SELECT doc_id, n_chars, n_tokens, distinct_ratio, stopword_ratio,
       |       mean_token_len, alpha_ratio,
       |       (n_tokens >= 10 AND distinct_ratio >= 0.1 AND alpha_ratio >= 0.6) AS keep
       |FROM feat ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q42
  /** Corpus-self-scored unigram LM: per-doc mean −log10 p(token).
    * High scores mark improbable-token outliers (the garbage a
    * pre-training filter drops); ranked here so the oracle also gates
    * the ordering contract.
    */
  def q42UnigramLogprob(s: SparkSession, dir: String): DataFrame =
    TextStats.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val q42Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, word FROM (
      |    SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '(\d|\W)+', ' ', 'g')), ' ')) AS word
      |    FROM documents)
      |  WHERE word <> ''),
      |counts AS (SELECT word, count(*) AS wc FROM toks GROUP BY word),
      |total AS (SELECT count(*) AS n FROM toks)
      |SELECT t.doc_id,
      |  count(*) AS n_tokens,
      |  round(avg(-log10(CAST(c.wc AS DOUBLE) / total.n)), 6) AS avg_neg_logprob
      |FROM toks t JOIN counts c USING (word) CROSS JOIN total
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- q27
  /** Token counts per doc rolled up per source (corpus accounting). */
  def q27TokenCounts(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextStats.tokenCounts(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        sum(col("ws_tokens")).as("ws_tokens"),
        sum(col("bpe_tokens")).as("bpe_tokens"),
        round(avg(col("bpe_tokens")), 6).as("avg_bpe_per_doc"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("source"))
  }

  val q27Sql: String =
    s"""WITH per_doc AS (
       |  SELECT source,
       |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS ws,
       |    CAST(len(regexp_extract_all(text, '${TextStats.BpePattern}')) AS BIGINT) AS bpe
       |  FROM documents)
       |SELECT source,
       |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
       |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
       |  round(avg(bpe), 6) AS avg_bpe_per_doc,
       |  count(*) AS n_docs
       |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q28
  def q28Fingerprints(s: SparkSession, dir: String): DataFrame =
    TextStats.fingerprints(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val q28Sql: String =
    s"""WITH $listsCte
       |SELECT doc_id,
       |  md5(text) AS md5_raw,
       |  md5(array_to_string(toks, ' ')) AS md5_norm,
       |  list_aggregate(list_transform(
       |    list_transform(range(1, greatest(len(toks) - 1, 1)),
       |                   i -> array_to_string(toks[i:i+2], ' ')),
       |    s -> md5(s)), 'min') AS min_shingle_hash
       |FROM lists ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q48
  /** Deterministic content-hash train/test split ([[Sampling.md5Split]],
    * oracle-portable md5): the split is a pure function of the TEXT
    * BYTES, so re-runs, retries,
    * and engine swaps agree row-for-row, and byte-identical duplicates
    * land on the same side (no train/test contamination through dups).
    * 14/16 of the hash space trains.
    */
  def q48HashSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), Sampling.md5Split("text").as("split"))
      .orderBy(col("doc_id"))

  val q48Sql: String =
    """SELECT doc_id,
      |  CASE WHEN substr(md5(text), 1, 1) < 'e' THEN 'train' ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q60
  /** Language-rebalancing stratified sample
    * ([[Sampling.stratifiedByHash]]): downsample the over-represented
    * languages by per-stratum hash cuts (en keeps 128/256, de/es/fr
    * 192/256, zh 256/256) — the curation pass that rebalances a
    * training mix WITHOUT rand() so re-runs, task retries, and other
    * engines keep exactly the same rows. The oracle replays the md5
    * arithmetic bit-for-bit.
    */
  val StratFractions: Map[String, Int] =
    Map("en" -> 128, "de" -> 192, "es" -> 192, "fr" -> 192, "zh" -> 256)

  def q60StratifiedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedByHash(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "doc_id", StratFractions)
      .orderBy(col("doc_id"))

  val q60Sql: String = {
    val cases = StratFractions.toSeq.sortBy(_._1).map { case (k, v) =>
      val cut = if (v >= 256) "g" else f"$v%02x"
      s"WHEN lang = '$k' THEN '$cut'"
    }.mkString(" ")
    s"""SELECT doc_id, lang, n_chars FROM (
       |  SELECT doc_id, lang, n_chars,
       |         CASE $cases END AS cut,
       |         substr(md5('s42|' || CAST(doc_id AS VARCHAR)), 1, 2) AS h
       |  FROM documents)
       |WHERE cut IS NOT NULL AND h < cut
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q64
  /** Per-language length-QUARTILE profile (ntile(4) by n_chars): the
    * distribution diagnostic behind length-based curation cuts —
    * which quartile of each language is short-doc noise, where the
    * truncation tail starts. Deterministic tiling via the total order
    * (n_chars, doc_id); the quartile assignment is a single window
    * shuffle on lang, and the rollup reuses the same partitioning
    * (no second exchange).
    */
  def q64LengthQuartiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("tile", ntile(4).over(w).cast("long"))
      .groupBy(col("lang"), col("tile"))
      .agg(count(lit(1)).as("n"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(avg(col("n_chars")), 6).as("avg_chars"))
      .orderBy(col("lang"), col("tile"))
  }

  val q64Sql: String =
    """SELECT lang, tile, count(*) AS n,
      |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |       round(avg(n_chars), 6) AS avg_chars
      |FROM (SELECT lang, n_chars,
      |             CAST(ntile(4) OVER (PARTITION BY lang
      |                                 ORDER BY n_chars, doc_id) AS BIGINT) AS tile
      |      FROM documents)
      |GROUP BY lang, tile ORDER BY lang, tile""".stripMargin

  // ---------------------------------------------------------------- q71
  /** Repetition-ratio quality signals (the Gopher-rules shape, Rae et
    * al. 2021 §A1.1): per document, the token share of the single most
    * frequent word and the fraction of duplicate word-bigrams. High
    * values mark boilerplate/keyword-stuffing docs a pretraining
    * filter drops. Scale shape: ONE token explode feeds a two-level
    * partial aggregation (doc×word then doc), and bigrams reuse the
    * codegen positional-shingle pipeline (posexplode + window lead —
    * array lambdas would evaluate interpreted); everything shuffles on
    * doc_id/word only, never wider.
    */
  val TopWordFracMax = 0.2
  val DupBigramFracMax = 0.6

  def q71RepetitionRatios(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("doc_id"),
        explode(split(TextPrep.normalize(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
    val wordStats = tok
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_word_count"), sum(col("c")).as("n_tokens"))
    val bigramStats = graft.dedup.Dedup
      .positionalShingles(docs, "doc_id", "text", 2)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("shingle")).as("n_distinct_bigrams"))
      .withColumnRenamed("id", "doc_id")
    docs.select(col("doc_id"))
      .join(wordStats, Seq("doc_id"), "left_outer")
      .join(bigramStats, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("top_word_count"), lit(0L)).as("top_word_count"),
        round(coalesce(col("top_word_count") / col("n_tokens"), lit(0.0)), 6)
          .as("top_word_frac"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(coalesce(lit(1.0) - col("n_distinct_bigrams") / col("n_bigrams"),
          lit(0.0)), 6).as("dup_bigram_frac"))
      .withColumn("keep",
        col("top_word_frac") <= TopWordFracMax &&
          col("dup_bigram_frac") <= DupBigramFracMax)
      .orderBy(col("doc_id"))
  }

  val q71Sql: String =
    s"""WITH $listsCte,
       |tok AS (SELECT doc_id, unnest(toks) AS word FROM lists),
       |wc AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word),
       |ws AS (SELECT doc_id, max(c) AS top_word_count, sum(c) AS n_tokens
       |       FROM wc GROUP BY doc_id),
       |bs AS (SELECT doc_id,
       |         len(list_transform(range(1, len(toks)),
       |             i -> toks[i] || ' ' || toks[i+1])) AS n_bigrams,
       |         len(list_distinct(list_transform(range(1, len(toks)),
       |             i -> toks[i] || ' ' || toks[i+1]))) AS n_distinct
       |       FROM lists),
       |feat AS (
       |  SELECT d.doc_id,
       |    CAST(COALESCE(w.n_tokens, 0) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(w.top_word_count, 0) AS BIGINT) AS top_word_count,
       |    round(COALESCE(CAST(w.top_word_count AS DOUBLE) / w.n_tokens, 0.0), 6)
       |      AS top_word_frac,
       |    CAST(COALESCE(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |    round(CASE WHEN b.n_bigrams > 0
       |               THEN 1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_bigrams
       |               ELSE 0.0 END, 6) AS dup_bigram_frac
       |  FROM documents d
       |  LEFT JOIN ws w ON d.doc_id = w.doc_id
       |  LEFT JOIN bs b ON d.doc_id = b.doc_id)
       |SELECT doc_id, n_tokens, top_word_count, top_word_frac,
       |       n_bigrams, dup_bigram_frac,
       |       (top_word_frac <= $TopWordFracMax
       |        AND dup_bigram_frac <= $DupBigramFracMax) AS keep
       |FROM feat ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Overlapping fixed-size token chunks — the context-window chunking
    * primitive every pretraining/RAG pipeline runs before embedding or
    * packing. Stride-aligned starts (0, S, 2S, …); a start is emitted
    * only while the PREVIOUS chunk hasn't already reached the end of
    * the doc, so tail chunks carry at least one new token. Per-row
    * generator explode — embarrassingly parallel, no shuffle at all
    * (the orderBy is presentation-only); chunk_id is derived from the
    * start offset, so the output is retry-deterministic.
    */
  val ChunkTokens = 32
  val ChunkStride = 24

  def q72TokenChunks(s: SparkSession, dir: String): DataFrame = {
    val keepStart = col("start") === 0 ||
      col("start") + (ChunkTokens - ChunkStride) < col("n_tokens")
    Tables.documents(s, dir)
      .select(col("doc_id"), TextPrep.tokensCol(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("toks"),
        explode(sequence(lit(0L), col("n_tokens") - 1, lit(ChunkStride.toLong)))
          .as("start"))
      .filter(keepStart)
      .select(col("doc_id"),
        (col("start") / ChunkStride).cast("long").as("chunk_id"),
        col("n_tokens"),
        least(lit(ChunkTokens.toLong), col("n_tokens") - col("start"))
          .as("chunk_tokens"),
        concat_ws(" ",
          slice(col("toks"), (col("start") + 1).cast("int"), lit(ChunkTokens)))
          .as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val q72Sql: String = {
    val overlap = ChunkTokens - ChunkStride
    s"""WITH $listsCte,
       |base AS (
       |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens
       |  FROM lists WHERE len(toks) > 0),
       |starts AS (
       |  SELECT doc_id, n_tokens, toks,
       |    unnest(list_filter(range(0, n_tokens, $ChunkStride),
       |                       s -> s = 0 OR s + $overlap < n_tokens)) AS start
       |  FROM base)
       |SELECT doc_id,
       |  CAST(start // $ChunkStride AS BIGINT) AS chunk_id,
       |  n_tokens,
       |  CAST(least($ChunkTokens, n_tokens - start) AS BIGINT) AS chunk_tokens,
       |  array_to_string(toks[start+1 : start+$ChunkTokens], ' ') AS chunk_text
       |FROM starts ORDER BY doc_id, chunk_id""".stripMargin
  }

  // --------------------------------------------------------------- q129
  /** Right-to-be-forgotten CASCADE PURGE audit — the compliance
    * operation every stored corpus eventually runs: a deletion list
    * (here a deterministic 1/16 content-hash band standing in for user
    * requests — the engine-portable stand-in the samplers also use)
    * must remove not only the source documents but every DERIVED
    * artifact that embeds their content; here the q72 context-window
    * chunks, the canonical "we re-chunked the corpus for RAG" liability.
    * The purge itself is the LEFT ANTI join (the scalable delete shape:
    * keyed, partial-agg-friendly, no collected id list shipped to the
    * driver), run against both the base table and the derived table;
    * the audit rolls both up per source — before/after doc and chunk
    * counts, the numbers a deletion-compliance report actually states.
    * Chunk rows are counted, never re-materialized with text, and the
    * per-source aggregates join on a source-cardinality-bounded key.
    */
  def q129DeletePropagation(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val dels = docs
      .filter(substring(md5(col("text").cast("binary")), 1, 1) === "0")
      .select(col("doc_id"))
    // derived artifact: q72's chunks, keyed back to source (corpus-sized
    // keyed join; checkpointed once — two rollups read it)
    val chunksSrc = q72TokenChunks(s, dir).select(col("doc_id"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .localCheckpoint()
    val nDocs = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val nDocsAfter = docs.join(dels, Seq("doc_id"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs_after"))
    val nChunks = chunksSrc.groupBy(col("source")).agg(count(lit(1)).as("n_chunks"))
    val nChunksAfter = chunksSrc.join(dels, Seq("doc_id"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("n_chunks_after"))
    nDocs.join(nDocsAfter, Seq("source"), "left")
      .join(nChunks, Seq("source"), "left")
      .join(nChunksAfter, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_docs_after"), lit(0L)).as("n_docs_after"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_chunks_after"), lit(0L)).as("n_chunks_after"))
      .orderBy(col("source"))
  }

  val q129Sql: String = {
    val overlap = ChunkTokens - ChunkStride
    s"""WITH $listsCte,
       |cd AS (
       |  SELECT doc_id,
       |         CAST(len(list_filter(range(0, len(toks), $ChunkStride),
       |                s -> s = 0 OR s + $overlap < len(toks))) AS BIGINT)
       |           AS n_chunks
       |  FROM lists WHERE len(toks) > 0),
       |dels AS (SELECT doc_id FROM documents WHERE substr(md5(text), 1, 1) = '0'),
       |d AS (
       |  SELECT doc.source, doc.doc_id,
       |         (dl.doc_id IS NOT NULL) AS deleted,
       |         COALESCE(cd.n_chunks, 0) AS n_chunks
       |  FROM documents doc
       |  LEFT JOIN dels dl USING (doc_id)
       |  LEFT JOIN cd USING (doc_id))
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN NOT deleted THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_docs_after,
       |       CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
       |       CAST(sum(CASE WHEN NOT deleted THEN n_chunks ELSE 0 END) AS BIGINT)
       |         AS n_chunks_after
       |FROM d GROUP BY source ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- q130
  /** Incremental STATISTICS maintenance — the algebraic-aggregate half
    * of the IVM story q122 told for keep-latest: per-source length
    * moments (n, Σx, Σx²) are computed as exact longs on two disjoint
    * corpus GENERATIONS (a deterministic content-hash band split — the
    * stand-in for "last month's corpus" vs "this month's delta"),
    * merged by elementwise addition, and only then turned into
    * mean/std. The oracle computes the same statistics directly over
    * the whole corpus, so the gate proves the mergeable-state law
    * `merge(state(A), state(B)) == state(A ∪ B)` that lets moment
    * sketches live in a lake and absorb deltas without rescanning
    * history. All three state fields are exact integer sums (reduce-
    * order-free); doubles appear only in the final mean/std projection
    * from already-merged longs, so both engines divide and sqrt the
    * same integers. Overflow posture follows q106: n·Σx² stays far
    * under 2⁶³ for char-length moments at any realistic shard size,
    * and a lake deployment carries the same in-plan count-based guard
    * q106 demonstrates.
    */
  def momentState(docs: DataFrame): DataFrame =
    docs.groupBy(col("source")).agg(
      count(lit(1)).as("n"),
      sum(col("n_chars")).as("sx"),
      sum(col("n_chars") * col("n_chars")).as("sxx"))

  def q130IncrementalStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("n_chars"),
        substring(md5(col("text").cast("binary")), 1, 1).as("h"))
    val genA = momentState(docs.filter(col("h") < "8"))
    val genB = momentState(docs.filter(col("h") >= "8"))
    val merged = genA.withColumnsRenamed(
        Map("n" -> "na", "sx" -> "sxa", "sxx" -> "sxxa"))
      .join(genB.withColumnsRenamed(
        Map("n" -> "nb", "sx" -> "sxb", "sxx" -> "sxxb")),
        Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L))).as("n"),
        (coalesce(col("sxa"), lit(0L)) + coalesce(col("sxb"), lit(0L))).as("sx"),
        (coalesce(col("sxxa"), lit(0L)) + coalesce(col("sxxb"), lit(0L))).as("sxx"))
    merged.select(col("source"), col("n"),
        round(col("sx") / col("n"), 6).as("mean_chars"),
        round(sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
          .cast("double") / (col("n") * col("n"))), 6).as("std_chars"))
      .orderBy(col("source"))
  }

  val q130Sql: String =
    """SELECT source, count(*) AS n,
      |       round(sum(n_chars) / count(*), 6) AS mean_chars,
      |       round(sqrt(CAST(count(*) * sum(n_chars * n_chars)
      |               - sum(n_chars) * sum(n_chars) AS DOUBLE)
      |             / (count(*) * count(*))), 6) AS std_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q133
  /** Raw-TEXT lake ingestion with file provenance — the missing member
    * of the format family (parquet, ORC, CSV, JSON, binaryFile are all
    * gated elsewhere): documents written ONCE per sf dir as a
    * source-partitioned text lake (`partitionBy("source").text` — one
    * line per doc, the shape a crawler actually delivers), then read
    * back through the `text` source with Hive partition discovery
    * recovering the provenance column, and rolled up per source. The
    * oracle computes the same rollup from the ORIGINAL parquet, so the
    * gate proves the text round-trip is count- and byte-faithful
    * (single-line ASCII corpus — a doc with embedded newlines would
    * split, which is exactly what this acceptance check would catch).
    * Offline-layout prep like q70/q120; idempotent per dir.
    */
  private val textLakePrepped = scala.collection.mutable.Set[String]()

  def prepareTextLake(s: SparkSession, dir: String): String =
    textLakePrepped.synchronized {
      val path = new java.io.File(
        s"target/doc-lake-text/${PathTag.tagFor(dir)}").getAbsolutePath
      if (!textLakePrepped.contains(path)) {
        Tables.documents(s, dir).select(col("text"), col("source"))
          .write.partitionBy("source").mode("overwrite").text(path)
        textLakePrepped.add(path)
      }
      path
    }

  def q133TextLake(s: SparkSession, dir: String): DataFrame =
    s.read.text(prepareTextLake(s, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("value"))).cast("long").as("total_chars"),
        min(length(col("value"))).as("min_chars"),
        max(length(col("value"))).as("max_chars"))
      .orderBy(col("source"))

  val q133Sql: String =
    """SELECT source, count(*) AS n_docs,
      |       CAST(sum(strlen(text)) AS BIGINT) AS total_chars,
      |       min(strlen(text)) AS min_chars,
      |       max(strlen(text)) AS max_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q134
  /** Parquet SCHEMA EVOLUTION acceptance check — the other half of the
    * lake-migration story (q120 changed the format; this changes the
    * SCHEMA): generation 1 (even doc_ids) is written with the original
    * columns, generation 2 (odd doc_ids) adds a `quality` column, and
    * the union is read back with `mergeSchema=true` — old rows surface
    * NULL quality, new rows their value, no rewrite of generation 1.
    * The rollup counts per-lang rows with/without the evolved column
    * and sums it; the oracle simulates the generation split directly
    * over `documents`, so a reader that dropped gen-1 rows, defaulted
    * quality to 0, or refused the merge hash-mismatches. At 100 TB
    * additive schema evolution is the ONLY affordable kind — this is
    * the check that certifies it stayed lossless.
    */
  private val evoLakePrepped = scala.collection.mutable.Set[String]()

  def prepareEvolvedLake(s: SparkSession, dir: String): String =
    evoLakePrepped.synchronized {
      val path = new java.io.File(
        s"target/doc-lake-evolved/${PathTag.tagFor(dir)}").getAbsolutePath
      if (!evoLakePrepped.contains(path)) {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        docs.filter(col("doc_id") % 2 === 0)
          .write.mode("overwrite").parquet(s"$path/gen=1")
        docs.filter(col("doc_id") % 2 === 1)
          .withColumn("quality", (col("n_chars") % 7).cast("long"))
          .write.mode("overwrite").parquet(s"$path/gen=2")
        evoLakePrepped.add(path)
      }
      path
    }

  def q134SchemaEvolution(s: SparkSession, dir: String): DataFrame =
    s.read.option("mergeSchema", "true")
      .parquet(prepareEvolvedLake(s, dir))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality").isNotNull, 1L).otherwise(0L)).as("n_evolved"),
        coalesce(sum(col("quality")), lit(0L)).as("sum_quality"))
      .orderBy(col("lang"))

  val q134Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_evolved,
      |       CAST(COALESCE(sum(CASE WHEN doc_id % 2 = 1
      |                              THEN n_chars % 7 END), 0) AS BIGINT)
      |         AS sum_quality
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q135
  /** Custom AGGREGATE function surface ([[graft.functions.ExactGeoMean]]
    * — the third extension family after native Expressions and custom
    * SparkPlans): exact nano-quantized geometric mean of document
    * length per source, registered via `functions.udaf` and invoked
    * from PURE SQL, so SQL users reach the custom aggregate the same
    * way DataFrame users do. The buffer is two exact longs (count,
    * Σ nano-log-units): partial aggregation happens map-side like any
    * built-in, and the integer merge makes the result bit-identical
    * under any partitioning — the property the spec asserts and the
    * reason a double log-sum (which drifts with the combine tree)
    * would not gate. Geometric mean is the right location statistic
    * for heavy-tailed length distributions; the oracle replays the
    * identical quantization arithmetic.
    */
  def q135GeoMeanLength(s: SparkSession, dir: String): DataFrame = {
    if (!graft.functions.VectorFunctions.registered(s, "geo_mean1p"))
      s.udf.register("geo_mean1p", udaf(graft.functions.ExactGeoMean))
    Tables.documents(s, dir).createOrReplaceTempView("documents_q135")
    s.sql("""SELECT source, count(*) AS n_docs,
             geo_mean1p(n_chars) AS geo_mean_chars
             FROM documents_q135 GROUP BY source ORDER BY source""")
  }

  val q135Sql: String =
    """SELECT source, count(*) AS n_docs,
      |       round(exp(sum(CAST(round(ln(1 + n_chars) * 1e9, 0) AS BIGINT))
      |                 / count(*) / 1e9), 6) AS geo_mean_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Domain mixture weights: per-source token accounting turned into
    * the up/down-sampling factors that would equalize the training mix
    * to a uniform token budget per source — `mix_weight s = (total /
    * n_sources) / tokens(s)`, so sampling each source's docs with
    * probability ∝ its weight yields equal expected tokens per source.
    * Every input to the two divisions is an exact long (token counts),
    * so both engines divide bit-identical values. The per-source
    * rollup is one partial-agged exchange on `source`; the grand
    * total is a 1-row broadcast — the same shape at any corpus size
    * because the source cardinality, not the doc count, bounds every
    * post-scan stage.
    */
  /** Per-source exact BPE-token totals — the shared first stage of the
    * mixture queries (q88, q103). ONE scan: source + token count in a
    * single projection (q37's documented rule — joining tokenCounts
    * back to docs for `source` would scan the corpus twice).
    * localCheckpoint: the frame feeds both a totals aggregate and a
    * final join in every caller — without materializing it each branch
    * would re-scan the corpus (Spark does not dedupe logical subplans).
    */
  private def perSourceTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), TextStats.bpeCount(col("text")).as("bpe"))
      .groupBy(col("source"))
      .agg(sum(col("bpe")).as("tokens"), count(lit(1)).as("n_docs"))
      .localCheckpoint()

  def q88MixtureWeights(s: SparkSession, dir: String): DataFrame = {
    val perSource = perSourceTokens(s, dir)
    val totals = perSource
      .agg(sum(col("tokens")).as("total_tokens"),
        count(lit(1)).as("n_sources"))
    perSource.join(broadcast(totals))
      .select(col("source"), col("n_docs"), col("tokens"),
        round(col("tokens") / col("total_tokens"), 6).as("token_share"),
        // an all-empty source has 0 tokens; its weight is reported as 0
        // (it contributes nothing to equalize), not NULL/inf
        round(when(col("tokens") > 0,
          (col("total_tokens") / col("n_sources")) / col("tokens"))
          .otherwise(lit(0.0)), 6).as("mix_weight"))
      .orderBy(col("source"))
  }

  val q88Sql: String =
    s"""WITH per_doc AS (
       |  SELECT source,
       |    CAST(len(regexp_extract_all(text, '${TextStats.BpePattern}')) AS BIGINT) AS bpe
       |  FROM documents),
       |per_source AS (
       |  SELECT source, count(*) AS n_docs, CAST(sum(bpe) AS BIGINT) AS tokens
       |  FROM per_doc GROUP BY source),
       |tot AS (
       |  SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
       |         count(*) AS n_sources
       |  FROM per_source)
       |SELECT source, n_docs, tokens,
       |  round(CAST(tokens AS DOUBLE) / total_tokens, 6) AS token_share,
       |  round(CASE WHEN tokens > 0
       |             THEN (CAST(total_tokens AS DOUBLE) / n_sources) / tokens
       |             ELSE 0.0 END, 6) AS mix_weight
       |FROM per_source, tot
       |ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q103
  /** Temperature-resampled mixture weights: the α=0.5 smoothing of the
    * q88 token shares (`w_s ∝ p_s^α`, the multilingual/multi-domain
    * rebalancing rule from the XLM/mC4 line of work) — upweights tail
    * sources and flattens the head without going all the way to q88's
    * uniform budget. Cross-engine exactness: α=0.5 is computed as
    * `sqrt` (IEEE-correctly-rounded in both engines, unlike `pow`),
    * each smoothed share is quantized to a MICRO-UNIT LONG before
    * normalization (the q98 trick — the denominator is then an exact
    * integer sum, identical in any reduce order), and only the final
    * weight division returns to doubles. Post-scan stages are bounded
    * by source cardinality, not corpus size.
    */
  val TempScale = 1000000L

  def q103TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val perSource = perSourceTokens(s, dir)
    val totals = perSource.agg(sum(col("tokens")).as("total_tokens"))
    val sq = perSource.join(broadcast(totals))
      .select(col("source"), col("tokens"),
        round(col("tokens") / col("total_tokens"), 6).as("token_share"),
        round(sqrt(col("tokens") / col("total_tokens")) * TempScale)
          .cast("long").as("q"))
      .localCheckpoint()
    val denom = sq.agg(sum(col("q")).as("qsum"))
    sq.join(broadcast(denom))
      .select(col("source"), col("tokens"), col("token_share"),
        round(col("q") / col("qsum"), 6).as("temp_weight"))
      .orderBy(col("source"))
  }

  val q103Sql: String =
    s"""WITH per_doc AS (
       |  SELECT source,
       |    CAST(len(regexp_extract_all(text, '${TextStats.BpePattern}')) AS BIGINT) AS bpe
       |  FROM documents),
       |per_source AS (
       |  SELECT source, CAST(sum(bpe) AS BIGINT) AS tokens
       |  FROM per_doc GROUP BY source),
       |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens FROM per_source),
       |sq AS (
       |  SELECT source, tokens,
       |    round(CAST(tokens AS DOUBLE) / total_tokens, 6) AS token_share,
       |    CAST(round(sqrt(CAST(tokens AS DOUBLE) / total_tokens) * $TempScale, 0)
       |         AS BIGINT) AS q
       |  FROM per_source, tot),
       |den AS (SELECT CAST(sum(q) AS BIGINT) AS qsum FROM sq)
       |SELECT source, tokens, token_share,
       |       round(CAST(q AS DOUBLE) / qsum, 6) AS temp_weight
       |FROM sq, den ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q104
  /** Deterministic per-stratum top-k sample: exactly `SampleTopK` docs
    * per language, chosen by minimum `md5('k42|' || doc_id)` — the
    * fixed-SIZE companion to q60's fixed-RATE hash sampling (eval-set
    * carving, per-language probes) with the same engine-portable
    * determinism story: no rand(), stable under retries, re-runs and
    * repartitioning. The ranking runs through the bounded-heap
    * [[graft.plans.TopKPerKeyExec]] — ≤k rows per stratum per
    * partition cross the exchange, never a per-stratum window sort
    * over the corpus. Ord packing: ([[Sampling.sampleRankHash]]'s
    * 20-bit prefix, doc_id) into one long whose magnitude stays below
    * 2⁵³ — the operator orders by a double ord, so a wider prefix
    * would silently round away the doc_id tie-break (see the helper's
    * scaladoc); doc_id range is raise_error-guarded like the ANN
    * rankers, and a prefix collision stays deterministic via the
    * tie-break.
    */
  val SampleTopK = 10

  def q104TopKSample(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"))
      .withColumn("h", Sampling.sampleRankHash(col("doc_id")))
    val idOk = col("doc_id") >= 0L && col("doc_id") < lit(4294967296L)
    val ord = when(idOk, -(col("h") * lit(4294967296L) + col("doc_id")))
      .otherwise(raise_error(concat(
        lit("q104: doc_id outside [0, 2^32), ord packing would collide (doc_id="),
        col("doc_id").cast("string"), lit(")"))))
    graft.plans.TopK.topKPerKey(df, Seq("lang"), ord, SampleTopK)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id")))
        .cast("long"))
      .select(col("lang"), col("doc_id"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  val q104Sql: String =
    s"""SELECT lang, doc_id, rk FROM (
       |  SELECT lang, doc_id,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY
       |      CAST(concat('0x', substr(md5('k42|' || CAST(doc_id AS VARCHAR)), 1, 5))
       |           AS BIGINT), doc_id) AS BIGINT) AS rk
       |  FROM documents)
       |WHERE rk <= $SampleTopK ORDER BY lang, rk""".stripMargin

  // --------------------------------------------------------------- q113
  /** Deterministic WEIGHTED sampling (Efraimidis–Spirakis A-ES, 2006):
    * top-5 docs per language by the key `u^(1/w)` with weight
    * w = n_chars — longer documents proportionally likelier, the
    * importance-sampling rule a token-budget-aware curation pass uses
    * — but with the uniform u derived from md5 instead of rand(), so
    * the sample is reproducible across engines, retries, and
    * repartitioning like every other sampler in this repo (q48/q60/
    * q104). Ranking uses the monotone-equivalent `ln(u)/w` form,
    * quantized to nano-unit longs before ranking (the q98 argument:
    * the quantization step is ~7 orders above the cross-engine ln()
    * ulp difference, so both engines produce identical keys) with the
    * doc_id tie-break making even a key collision deterministic.
    * Zero-weight docs are excluded by A-ES semantics (u^(1/0⁺) → 0 —
    * never sampled). Per-stratum window rank over 5 strata; for
    * thousands of strata the q104 bounded-heap route applies (the key
    * fits the heap's exact-double ord domain: |key| ≤ 34·10⁹ < 2⁵³).
    */
  val WeightedTopK = 5

  def q113WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(concat(lit("w42|"),
      col("doc_id").cast("string")).cast("binary")), 1, 12), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(281474976710656.0)
    val key = round(lit(1e9) * log(u) / col("n_chars")).cast("long")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("sampling_key").desc, col("doc_id"))
    Tables.documents(s, dir)
      .filter(col("n_chars") > 0)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        key.as("sampling_key"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= WeightedTopK)
      .select(col("lang"), col("doc_id"), col("n_chars"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  val q113Sql: String =
    s"""SELECT lang, doc_id, n_chars, rk FROM (
       |  SELECT lang, doc_id, n_chars,
       |    CAST(row_number() OVER (PARTITION BY lang
       |                            ORDER BY sampling_key DESC, doc_id)
       |         AS BIGINT) AS rk
       |  FROM (
       |    SELECT lang, doc_id, n_chars,
       |      CAST(round(1e9 * ln((CAST(concat('0x',
       |             substr(md5('w42|' || CAST(doc_id AS VARCHAR)), 1, 12))
       |             AS BIGINT) + 0.5) / 281474976710656.0) / n_chars, 0)
       |           AS BIGINT) AS sampling_key
       |    FROM documents WHERE n_chars > 0))
       |WHERE rk <= $WeightedTopK ORDER BY lang, rk""".stripMargin

  // --------------------------------------------------------------- q114
  /** One distributed BPE merge step — the inner loop of tokenizer
    * training (Sennrich et al. 2016) as a Spark plan: (1) count all
    * adjacent token pairs corpus-wide (codegen bigram shingles → one
    * vocabulary-sized partial-agg exchange), (2) pick the most
    * frequent pair deterministically (count desc, pair asc — a 1-row
    * broadcast), (3) APPLY the merge to every document with a greedy
    * leftmost non-overlapping fold (`aggregate` higher-order
    * function: row-local, shuffle-free, codegen'd — "a a a" under
    * pair (a,a) merges positions 0-1 only, because the merged token
    * no longer equals `a`). The per-doc fold output is hashed
    * (`md5` over a \\u0001 join) so the oracle verifies the full
    * merged token SEQUENCE bit-for-bit, not just counts. Full BPE
    * training iterates this step; each iteration is one count
    * exchange + one map pass, so k merges cost k linear passes —
    * the standard distributed-BPE shape.
    */
  /** Greedy leftmost non-overlapping merge of adjacent pair (a, b)
    * into one token — the BPE apply step, shared by q114/q115. Pure
    * row-local fold (`aggregate` HOF), shuffle-free.
    */
  /** One BPE merge pass. The original `aggregate(...)` fold spelling
    * was interpreted (higher-order functions are CodegenFallback) AND
    * rebuilt the array accumulator per element (O(T²) per document);
    * [[graft.functions.BpeMergePair]] is the same merge rule — same
    * left-to-right semantics, same null algebra — as one codegen'd
    * O(T) pass (guide §4; TextStatsQueriesSpec pins equality on the
    * fixture). */
  private def bpeMergeFold(toks: Column, a: Column, b: Column): Column =
    graft.functions.BpeMergeFn(toks, a, b)

  def q114BpeMergeStep(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    // localCheckpoint: the tokenized corpus feeds BOTH the pair count
    // and the merge pass (Spark does not dedupe logical subplans)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), TextPrep.tokensCol(col("text")).as("toks"))
      .localCheckpoint()
    val top = docs
      .select(explode(Dedup.shinglesCol(col("toks"), 2)).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("shingle").asc).limit(1)
      .select(col("shingle").as("pair"),
        element_at(split(col("shingle"), " "), 1).as("a"),
        element_at(split(col("shingle"), " "), 2).as("b"))
    docs.crossJoin(broadcast(top))
      .select(col("doc_id"), col("pair"),
        size(col("toks")).cast("long").as("n_tokens_before"),
        bpeMergeFold(col("toks"), col("a"), col("b")).as("m"))
      .select(col("doc_id"), col("pair"), col("n_tokens_before"),
        size(col("m")).cast("long").as("n_tokens_after"),
        md5(concat_ws("\u0001", col("m")).cast("binary")).as("merged_hash"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------- q115
  /** Three ROUNDS of BPE training — q114's step iterated: each round
    * recounts adjacent pairs over the merged corpus, picks the next
    * most frequent pair (count desc, pair asc), and applies it. The
    * learned merge list (pair1..pair3) IS the model — materializing
    * it to the driver (one 1-row job per round) is the point of
    * training, exactly like the CC loop materializes convergence
    * counts. Pair identity uses a \\u0001 joiner from round 2 on:
    * merged tokens contain spaces, so a space-joined pair string
    * would be ambiguous — chr(1) cannot appear in tokens. Per-round
    * cost: one vocabulary-sized count exchange + one shuffle-free
    * fold pass over the (checkpointed) corpus — k merges = k linear
    * passes, the standard distributed-BPE shape.
    */
  val BpeRounds = 3

  /** The q115 training loop, exposed so q126 (encode) can apply the
    * SAME learned merges: returns the fully merged corpus
    * (doc_id, toks, n_tokens_before — localCheckpointed) and the
    * learned merge list in application order.
    *
    * Memoized per (session, dir): the merge list is a MODEL ARTIFACT —
    * training it once and reusing it across the queries that consume
    * it (q115 export, q126 encode) is exactly how a deployment works,
    * and it keeps the bench's q126 number the cost of ENCODING, not a
    * second training run. Bounded LRU keyed by the session OBJECT
    * (identity hashes alias across sessions; a WeakHashMap cannot work
    * — the cached frames strongly reference their session, pinning the
    * weak key, the exact trap the Lab2Queries cache documents).
    * Eviction drops the only strong reference to the localCheckpointed
    * frames; the ContextCleaner reclaims their blocks once GC collects
    * the RDDs (localCheckpoint has no public unpersist, unlike Lab2's
    * persisted Result). The lock serializes concurrent first builds
    * like the other module memo caches.
    */
  private val MaxBpeEntries = 8
  private val bpeCache =
    new java.util.LinkedHashMap[(SparkSession, String), (DataFrame, Seq[String])](
        8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), (DataFrame, Seq[String])])
          : Boolean = size() > MaxBpeEntries
    }

  def bpeTrain(s: SparkSession, dir: String): (DataFrame, Seq[String]) =
    bpeCache.synchronized {
      val k = (s, dir)
      val hit = bpeCache.get(k)
      if (hit != null) hit
      else {
        val r = bpeTrainUncached(s, dir)
        bpeCache.put(k, r)
        r
      }
    }

  private def bpeTrainUncached(s: SparkSession, dir: String): (DataFrame, Seq[String]) = {
    val toksCol = TextPrep.tokensCol(col("text"))
    val pairCol = expr(
      "case when size(toks) < 2 then array() " +
        "else transform(sequence(1, size(toks) - 1), " +
        "i -> concat(element_at(toks, i), chr(1), element_at(toks, i + 1))) end")
    var docs = Tables.documents(s, dir)
      .select(col("doc_id"), toksCol.as("toks"),
        size(toksCol).cast("long").as("n_tokens_before"))
      .localCheckpoint()
    val learned = scala.collection.mutable.ListBuffer.empty[String]
    for (_ <- 1 to BpeRounds) {
      val topRows = docs.select(explode(pairCol).as("pr"))
        .groupBy(col("pr")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("pr").asc).limit(1)
        .collect()
      require(topRows.nonEmpty,
        "q115: no adjacent pairs left to merge — corpus too small for "
          + s"$BpeRounds rounds")
      val Array(a, b) = topRows.head.getString(0).split('\u0001')
      learned += s"$a $b"
      docs = docs.select(col("doc_id"),
        bpeMergeFold(col("toks"), lit(a), lit(b)).as("toks"),
        col("n_tokens_before"))
        .localCheckpoint()
    }
    (docs, learned.toList)
  }

  def q115BpeTrain(s: SparkSession, dir: String): DataFrame = {
    val (docs, learned) = bpeTrain(s, dir)
    docs.select(
        (col("doc_id") +: learned.zipWithIndex.map { case (p, i) =>
          lit(p).as(s"pair${i + 1}") }) ++ Seq(
          col("n_tokens_before"),
          size(col("toks")).cast("long").as("n_tokens_after"),
          md5(concat_ws("\u0001", col("toks")).cast("binary"))
            .as("merged_hash")): _*)
      .orderBy(col("doc_id"))
  }

  // round 0 is the SHARED listsCte (one SQL mirror of
  // TextPrep.normalize across the whole module — never a second copy);
  // the per-round training CTEs are shared between q115Sql and q126Sql.
  private def bpeRoundCtes(i: Int): String = {
    val prev = if (i == 1) "lists" else s"lists${i - 1}"
    s"""bg$i AS (
       |  SELECT unnest(list_transform(range(1, len(toks)),
       |           j -> toks[j] || chr(1) || toks[j+1])) AS pr
       |  FROM $prev),
       |top$i AS (
       |  SELECT pr AS pair, string_split(pr, chr(1))[1] AS a,
       |         string_split(pr, chr(1))[2] AS b
       |  FROM (SELECT pr, count(*) AS c FROM bg$i GROUP BY pr
       |        ORDER BY c DESC, pr ASC LIMIT 1)),
       |lists$i AS (
       |  SELECT l.doc_id,
       |    CASE WHEN len(l.toks) = 0 THEN []
       |         ELSE list_reduce(list_transform(l.toks, x -> [x]),
       |           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = t.a AND x[1] = t.b
       |                       THEN list_append(acc[1:len(acc)-1], t.a || ' ' || t.b)
       |                       ELSE list_concat(acc, x) END)
       |    END AS toks
       |  FROM $prev l CROSS JOIN top$i t)""".stripMargin
  }

  val q115Sql: String = {
    val rounds = (1 to BpeRounds).map(bpeRoundCtes).mkString(",\n")
    val pairSelects = (1 to BpeRounds)
      .map(i => s"(SELECT replace(pair, chr(1), ' ') FROM top$i) AS pair$i")
      .mkString(",\n  ")
    s"""WITH $listsCte,
       |$rounds
       |SELECT l0.doc_id,
       |  $pairSelects,
       |  CAST(len(l0.toks) AS BIGINT) AS n_tokens_before,
       |  CAST(len(l$BpeRounds.toks) AS BIGINT) AS n_tokens_after,
       |  md5(array_to_string(l$BpeRounds.toks, chr(1))) AS merged_hash
       |FROM lists l0 JOIN lists$BpeRounds l$BpeRounds
       |  ON l$BpeRounds.doc_id = l0.doc_id
       |ORDER BY l0.doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q126
  /** BPE ENCODE — the deploy half of q115's training loop: apply the
    * learned merges to the corpus, rank the merged-token vocabulary by
    * (count DESC, token ASC) into dense integer ids, and emit each
    * document as its token-id SEQUENCE (md5 of the comma-joined ids —
    * the oracle re-derives the whole sequence, not a summary). This
    * completes the tokenizer pipeline: train (q114/q115) → encode
    * (q126) → pack (q37). The vocabulary ranking is a vocabulary-sized
    * aggregate; its global row_number window is over vocabulary rows
    * only (a real BPE vocab is ~50k rows — the canonical broadcast-dim
    * case), and the encode join broadcasts it against the exploded
    * corpus. Id-sequence reassembly sorts (pos, id) structs inside one
    * doc_id-keyed aggregation — the only corpus-sized exchange. Docs
    * whose normalized text is empty encode to the empty sequence via
    * the left join, hashing to md5("").
    */
  def q126BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val (docs, _) = bpeTrain(s, dir)
    // global rank window: bounded input — the distinct post-merge BPE
    // token types (vocabulary-sized), and every type needs an id
    val vocab = docs.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("id",
        row_number().over(Window.orderBy(col("c").desc, col("tok").asc))
          .cast("long"))
      .select(col("tok"), col("id"))
    val enc = docs
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .join(broadcast(vocab), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("id")))).as("ps"))
      .select(col("doc_id"), expr("transform(ps, p -> p.id)").as("ids"))
    docs.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(enc, Seq("doc_id"), "left")
      .withColumn("ids", coalesce(col("ids"), expr("array()")))
      .select(col("doc_id"), col("n_tokens"),
        // try_element_at, not element_at: under ANSI mode (Spark 4
        // default) element_at on the empty-doc empty array would abort
        // the query; the contract (and the oracle) is first_id = NULL
        expr("try_element_at(ids, 1)").as("first_id"),
        md5(concat_ws(",",
          expr("transform(ids, i -> cast(i as string))")).cast("binary"))
          .as("ids_hash"))
      .orderBy(col("doc_id"))
  }

  val q126Sql: String = {
    val rounds = (1 to BpeRounds).map(bpeRoundCtes).mkString(",\n")
    s"""WITH $listsCte,
       |$rounds,
       |vocab AS (
       |  SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok ASC) AS BIGINT) AS id
       |  FROM (SELECT tok, count(*) AS c
       |        FROM (SELECT unnest(toks) AS tok FROM lists$BpeRounds)
       |        GROUP BY tok)),
       |enc AS (
       |  SELECT e.doc_id, e.pos, v.id
       |  FROM (SELECT doc_id, unnest(toks) AS tok,
       |               unnest(range(1, len(toks) + 1)) AS pos
       |        FROM lists$BpeRounds) e
       |  JOIN vocab v USING (tok)),
       |seqs AS (
       |  SELECT doc_id, list(id ORDER BY pos) AS ids FROM enc GROUP BY doc_id)
       |SELECT l.doc_id, CAST(len(l.toks) AS BIGINT) AS n_tokens,
       |       COALESCE(s.ids, [])[1] AS first_id,
       |       md5(array_to_string(
       |         list_transform(COALESCE(s.ids, []), x -> CAST(x AS VARCHAR)),
       |         ',')) AS ids_hash
       |FROM lists$BpeRounds l LEFT JOIN seqs s USING (doc_id)
       |ORDER BY l.doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q167
  /** BPE decode round-trip — the last leg of the tokenizer lifecycle
    * (q115 train → q126 encode → THIS decode → verify): ids map back
    * through the reversed vocabulary, reassemble in position order, and
    * the space-joined result must reproduce the original normalized
    * text exactly, because BPE merges only ever concatenate adjacent
    * tokens around a space — losslessness is the property that makes a
    * tokenizer shippable, and this query IS that acceptance test, run
    * distributed. Both directions of the vocab map ride broadcast
    * joins; the only corpus exchanges are the posexplode's doc_id
    * regroup (sort_array over collected (pos, tok) structs — the q126
    * reassembly shape). The per-doc `ok` flag is emitted as 0/1 so the
    * gate hashes integers, and the corpus-level assertion is that
    * every doc round-trips.
    */
  def q167BpeDecode(s: SparkSession, dir: String): DataFrame = {
    val (docs, _) = bpeTrain(s, dir)
    // bounded: vocabulary-sized id ranking, see q126BpeEncode
    val vocab = docs.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("id",
        row_number().over(Window.orderBy(col("c").desc, col("tok").asc))
          .cast("long"))
      .select(col("tok"), col("id"))
    val dec = docs
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .join(broadcast(vocab), Seq("tok"))
      .select(col("doc_id"), col("pos"), col("id"))
      .join(broadcast(vocab.select(col("id"), col("tok").as("dtok"))),
        Seq("id"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("dtok"))))
        .as("ps"))
      .select(col("doc_id"),
        expr("array_join(transform(ps, p -> p.dtok), ' ')").as("decoded"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        concat_ws(" ", TextPrep.tokensCol(col("text"))).as("orig"))
      .join(dec, Seq("doc_id"), "left")
      .withColumn("decoded", coalesce(col("decoded"), lit("")))
      .select(col("doc_id"),
        octet_length(col("decoded")).cast("long").as("n_bytes"),
        md5(col("decoded").cast("binary")).as("decoded_hash"),
        when(col("decoded") === col("orig"), 1L).otherwise(0L).as("ok"))
      .orderBy(col("doc_id"))
  }

  val q167Sql: String = {
    val rounds = (1 to BpeRounds).map(bpeRoundCtes).mkString(",\n")
    s"""WITH $listsCte,
       |$rounds,
       |vocab AS (
       |  SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok ASC) AS BIGINT) AS id
       |  FROM (SELECT tok, count(*) AS c
       |        FROM (SELECT unnest(toks) AS tok FROM lists$BpeRounds)
       |        GROUP BY tok)),
       |enc AS (
       |  SELECT e.doc_id, e.pos, v.id
       |  FROM (SELECT doc_id, unnest(toks) AS tok,
       |               unnest(range(1, len(toks) + 1)) AS pos
       |        FROM lists$BpeRounds) e
       |  JOIN vocab v USING (tok)),
       |dec AS (
       |  SELECT e.doc_id, e.pos, v.tok AS dtok
       |  FROM enc e JOIN vocab v USING (id)),
       |seqs AS (
       |  SELECT doc_id, array_to_string(list(dtok ORDER BY pos), ' ') AS decoded
       |  FROM dec GROUP BY doc_id),
       |base AS (
       |  SELECT l.doc_id,
       |    array_to_string(l.toks, ' ') AS orig,
       |    COALESCE(s.decoded, '') AS decoded
       |  FROM lists l LEFT JOIN seqs s USING (doc_id))
       |SELECT doc_id, CAST(strlen(decoded) AS BIGINT) AS n_bytes,
       |  md5(decoded) AS decoded_hash,
       |  CAST(CASE WHEN decoded = orig THEN 1 ELSE 0 END AS BIGINT) AS ok
       |FROM base ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q127
  /** Vocabulary coverage / OOV-rate evaluation — the tokenizer-quality
    * gate a curation pipeline runs before committing to a vocabulary:
    * fix the top-K unigrams (count DESC, token ASC — deterministic at
    * the cut) as the vocabulary, then score every document's
    * out-of-vocabulary token fraction. High-OOV docs are exactly the
    * ones a fixed vocab would shred into bytes/unknowns. The token
    * table feeds BOTH the vocabulary rank and the per-doc score, so it
    * is localCheckpointed once (Spark does not dedupe logical
    * subplans); the score join broadcasts the K-row vocab, and the
    * per-doc rollup is one doc_id exchange. Empty docs surface with
    * n_tokens = 0 and NULL oov_rate through the documents left join.
    */
  val VocabTopK = 16

  def q127OovRate(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextPrep.tokensCol(col("text"))).as("tok"))
      .localCheckpoint()
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc).limit(VocabTopK)
      .select(col("tok"), lit(1).as("in_v"))
    val per = toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0,
          round(col("n_oov") / col("n_tokens"), 6)).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  val q127Sql: String =
    s"""WITH $listsCte,
       |tok AS (SELECT doc_id, unnest(toks) AS tok FROM lists),
       |vocab AS (
       |  SELECT tok FROM (
       |    SELECT tok, count(*) AS c FROM tok GROUP BY tok
       |    ORDER BY c DESC, tok ASC LIMIT $VocabTopK)),
       |per AS (
       |  SELECT t.doc_id, count(*) AS n_tokens,
       |         sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
       |  FROM tok t LEFT JOIN vocab v USING (tok) GROUP BY t.doc_id)
       |SELECT d.doc_id,
       |       CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       |       CAST(COALESCE(p.n_oov, 0) AS BIGINT) AS n_oov,
       |       CASE WHEN COALESCE(p.n_tokens, 0) > 0
       |            THEN round(p.n_oov / p.n_tokens, 6) END AS oov_rate
       |FROM documents d LEFT JOIN per p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  val q114Sql: String =
    s"""WITH $listsCte,
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |           i -> toks[i] || ' ' || toks[i+1])) AS shingle
       |  FROM lists),
       |top AS (
       |  SELECT shingle AS pair,
       |         string_split(shingle, ' ')[1] AS a,
       |         string_split(shingle, ' ')[2] AS b
       |  FROM (SELECT shingle, count(*) AS c FROM bg GROUP BY shingle
       |        ORDER BY c DESC, shingle ASC LIMIT 1)),
       |merged AS (
       |  SELECT l.doc_id, t.pair,
       |    CAST(len(l.toks) AS BIGINT) AS n_tokens_before,
       |    CASE WHEN len(l.toks) = 0 THEN []
       |         ELSE list_reduce(list_transform(l.toks, x -> [x]),
       |           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = t.a AND x[1] = t.b
       |                       THEN list_append(acc[1:len(acc)-1], t.a || ' ' || t.b)
       |                       ELSE list_concat(acc, x) END)
       |    END AS m
       |  FROM lists l CROSS JOIN top t)
       |SELECT doc_id, pair, n_tokens_before,
       |  CAST(len(m) AS BIGINT) AS n_tokens_after,
       |  md5(array_to_string(m, chr(1))) AS merged_hash
       |FROM merged ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q97
  /** Bigram-vocabulary growth curve (the Heaps'-law sweep a corpus
    * curation run uses to check diminishing novelty): how many NEW
    * distinct word-bigrams each 50-document slice contributes, plus
    * the running vocabulary size. "First occurrence" is a grouped
    * `min(doc_id)` per bigram — one vocabulary-sized shuffle, never a
    * scan-order pass, so the result is identical under any
    * partitioning. Bigrams (not unigrams: this corpus's ~30-word
    * unigram vocabulary saturates inside the first bucket) reuse the
    * codegen positional-shingle pipeline. The cumulative sum runs on
    * the bucket table only — corpus/50 rows, a deliberately
    * driver-sized single-partition window, not an O(rows) funnel.
    */
  def q97VocabGrowth(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val first = graft.dedup.Dedup
      .positionalShingles(Tables.documents(s, dir), "doc_id", "text", 2)
      .groupBy(col("shingle")).agg(min(col("id")).as("first_doc"))
    val buckets = first
      .groupBy(expr("first_doc div 50").as("bucket"))
      .agg(count(lit(1)).as("new_bigrams"))
    // global prefix sum over the |docs|/50 bucket table — an
    // inherently ordered running total; input is corpus/50, not corpus
    buckets
      .withColumn("cum_vocab", sum(col("new_bigrams")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("bucket"))
  }

  val q97Sql: String =
    s"""WITH $listsCte,
       |bg AS (SELECT doc_id,
       |         unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS shingle
       |       FROM lists),
       |first AS (SELECT shingle, min(doc_id) AS first_doc FROM bg GROUP BY shingle),
       |b AS (SELECT CAST(first_doc // 50 AS BIGINT) AS bucket, count(*) AS new_bigrams FROM first GROUP BY 1)
       |SELECT bucket, new_bigrams,
       |       CAST(sum(new_bigrams) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
       |FROM b ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- q156
  /** Tokenizer fertility — compression-ratio evaluation of the learned
    * BPE tokenizer (chars per emitted token, per source): the
    * efficiency half of q127's coverage gate. A tokenizer with low
    * fertility on a source inflates that source's effective token
    * budget; trainers compare fertility across tokenizer candidates and
    * across corpus slices before committing. Reuses the q115/q126
    * memoized training artifact ([[bpeTrain]]) — the scoring pass is
    * one size() projection over the merged token lists plus a doc_id
    * join to recover source and n_chars; the ratio is computed ONCE per
    * source from two exact long sums (HALF_UP micro units, the q127
    * rate-rounding rule), never per doc.
    */
  def q156TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val (docs, _) = bpeTrain(s, dir)
    val toks = docs.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(toks, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("fertility_micro",
        expr("cast(round(1e6 * (sum_chars / sum_tokens)) as bigint)"))
      .orderBy(col("source"))
  }

  val q156Sql: String = {
    val rounds = (1 to BpeRounds).map(bpeRoundCtes).mkString(",\n")
    s"""WITH $listsCte,
       |$rounds,
       |t AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
       |  FROM lists$BpeRounds),
       |per_source AS (
       |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
       |    CAST(sum(t.n_tokens) AS BIGINT) AS sum_tokens
       |  FROM documents d JOIN t USING (doc_id)
       |  GROUP BY d.source)
       |SELECT source, n_docs, sum_chars, sum_tokens,
       |  CAST(round(1e6 * (sum_chars / sum_tokens)) AS BIGINT) AS fertility_micro
       |FROM per_source ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- q237
  /** Chance-corrected agreement + macro-F1 over the lang-ID confusion —
    * the classifier-audit statistics q107/q169's raw matrices stop
    * short of: Cohen's κ answers "how much better than chance is the
    * q25 heuristic against the labeled `lang` column", macro-F1 weights
    * every language equally so the 44%-majority `en` class cannot mask
    * minority-language failure. The κ identity stays in exact integers
    * — κ = (n·Σdiag − Σ row_c·col_c) / (n² − Σ row_c·col_c) — and
    * per-class F1 = 2·diag/(row+col) is micro-quantized to longs before
    * the macro average, so no double crosses a fold. Shape: one
    * corpus-scale join (truth ⋈ prediction, doc-keyed) into a
    * |langs|²-bounded confusion table; everything after is
    * label-cardinality-bounded.
    */
  def q237AgreementMetrics(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pred = TextStats.langId(docs, "doc_id", "text")
      .select(col("doc_id"), col("pred_lang"))
    val conf = docs.select(col("doc_id"), col("lang"))
      .join(pred, Seq("doc_id"))
      .groupBy(col("lang").as("t"), col("pred_lang").as("p"))
      .agg(count(lit(1)).as("n"))
    val rows = conf.groupBy(col("t")).agg(sum(col("n")).as("row_n"))
    val cols = conf.groupBy(col("p")).agg(sum(col("n")).as("col_n"))
    val diag = conf.filter(col("t") === col("p"))
      .select(col("t").as("c"), col("n").as("diag_n"))
    val cls = rows.join(cols, rows("t") === cols("p"), "full_outer")
      .select(coalesce(col("t"), col("p")).as("c"),
        coalesce(col("row_n"), lit(0L)).as("row_n"),
        coalesce(col("col_n"), lit(0L)).as("col_n"))
      .join(diag, Seq("c"), "left_outer")
      .withColumn("diag_n", coalesce(col("diag_n"), lit(0L)))
      .withColumn("f1_micro",
        expr("CAST(round(1e6 * 2 * diag_n / (row_n + col_n), 0) AS BIGINT)"))
    cls.agg(sum(col("row_n")).as("n"), count(lit(1)).as("g"),
        sum(col("diag_n")).as("sumdiag"),
        sum(col("row_n") * col("col_n")).as("pe_num"),
        sum(col("f1_micro")).as("f1_sum"))
      .select(col("n"), col("g"),
        round(col("sumdiag") / col("n"), 6).as("po"),
        round((col("n") * col("sumdiag") - col("pe_num")) /
          nullif((col("n") * col("n") - col("pe_num")).cast("double"),
            lit(0.0)), 6).as("kappa"),
        round(col("f1_sum") / col("g") / lit(1e6), 6).as("macro_f1"))
  }

  val q237Sql: String =
    s"""WITH $listsCte,
       |tok AS (SELECT doc_id, unnest(toks) AS word FROM lists),
       |scores AS (
       |  SELECT doc_id,
       |    $scoreSelects
       |  FROM tok GROUP BY doc_id),
       |pred0 AS (
       |  SELECT d.doc_id, d.lang, d.text,
       |    ${langNames.map(l => s"COALESCE(s.score_$l, 0) AS score_$l").mkString(", ")}
       |  FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id),
       |pred AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN regexp_matches(text, '${TextStats.CjkPatternSql}') THEN 'zh'
       |         $langArms
       |         ELSE 'und' END AS pred_lang
       |  FROM pred0),
       |conf AS (
       |  SELECT lang AS t, pred_lang AS p, CAST(count(*) AS BIGINT) AS n
       |  FROM pred GROUP BY lang, pred_lang),
       |rws AS (SELECT t, CAST(sum(n) AS BIGINT) AS row_n FROM conf GROUP BY t),
       |cls AS (SELECT p, CAST(sum(n) AS BIGINT) AS col_n FROM conf GROUP BY p),
       |dg AS (SELECT t AS c, n AS diag_n FROM conf WHERE t = p),
       |lab AS (
       |  SELECT COALESCE(r.t, cl.p) AS c,
       |         COALESCE(r.row_n, 0) AS row_n, COALESCE(cl.col_n, 0) AS col_n
       |  FROM rws r FULL OUTER JOIN cls cl ON r.t = cl.p),
       |f AS (
       |  SELECT l.c, l.row_n, l.col_n, COALESCE(d.diag_n, 0) AS diag_n,
       |         CAST(round(1e6 * 2 * COALESCE(d.diag_n, 0)
       |                    / (l.row_n + l.col_n), 0) AS BIGINT) AS f1_micro
       |  FROM lab l LEFT JOIN dg d ON d.c = l.c)
       |SELECT CAST(sum(row_n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS g,
       |       round(sum(diag_n) / sum(row_n), 6) AS po,
       |       round((sum(row_n) * sum(diag_n) - sum(row_n * col_n))
       |             / nullif(CAST(sum(row_n) * sum(row_n) - sum(row_n * col_n)
       |                      AS DOUBLE), 0.0), 6) AS kappa,
       |       round(sum(f1_micro) / count(*) / 1e6, 6) AS macro_f1
       |FROM f""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q237_agreement_metrics", q237AgreementMetrics _, q237Sql),
    Query("q156_tokenizer_fertility", q156TokenizerFertility _, q156Sql),
    Query("q167_bpe_decode", q167BpeDecode _, q167Sql),
    Query("q169_lang_confusion", q169LangConfusion _, q169Sql),
    Query("q97_vocab_growth", q97VocabGrowth _, q97Sql),
    Query("q103_temperature_mix", q103TemperatureMix _, q103Sql),
    Query("q104_topk_sample", q104TopKSample _, q104Sql),
    Query("q113_weighted_sample", q113WeightedSample _, q113Sql),
    Query("q114_bpe_merge_step", q114BpeMergeStep _, q114Sql),
    Query("q115_bpe_train", q115BpeTrain _, q115Sql),
    Query("q126_bpe_encode", q126BpeEncode _, q126Sql),
    Query("q127_oov_rate", q127OovRate _, q127Sql),
    Query("q129_delete_propagation", q129DeletePropagation _, q129Sql),
    Query("q130_incremental_stats", q130IncrementalStats _, q130Sql),
    Query("q133_text_lake", q133TextLake _, q133Sql),
    Query("q134_schema_evolution", q134SchemaEvolution _, q134Sql),
    Query("q135_geo_mean_length", q135GeoMeanLength _, q135Sql),
    Query("q88_mixture_weights", q88MixtureWeights _, q88Sql),
    Query("q71_repetition_ratios", q71RepetitionRatios _, q71Sql),
    Query("q72_token_chunks", q72TokenChunks _, q72Sql),
    Query("q60_stratified_sample", q60StratifiedSample _, q60Sql),
    Query("q64_length_quartiles", q64LengthQuartiles _, q64Sql),
    Query("q48_hash_split", q48HashSplit _, q48Sql),
    Query("q25_lang_id", q25LangId _, q25Sql),
    Query("q29_curation", q29Curation _, q29Sql),
    Query("q37_sequence_packing", q37SequencePacking _, q37Sql),
    Query("q42_unigram_logprob", q42UnigramLogprob _, q42Sql),
    Query("q26_quality", q26Quality _, q26Sql),
    Query("q27_token_counts", q27TokenCounts _, q27Sql),
    Query("q28_fingerprints", q28Fingerprints _, q28Sql),
  )
}
