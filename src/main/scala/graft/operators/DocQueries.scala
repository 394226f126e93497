package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables
import graft.app.Task1
import graft.text.TextPrep
import graft.tfidf.TfIdf
import graft.similarity.Similarity

/** Text / TF-IDF / similarity queries over the `documents` table —
  * the reference's Task-1 and Task-2 semantics (SURVEY.md §2.3–§2.6)
  * re-expressed against the driver testdata, each with a DuckDB oracle.
  *
  * The "title vs abstract" asymmetry of the reference (J2) is modeled as:
  * title := first 8 filtered tokens of the document, abstract := the full
  * document. Task 2's category key is the `lang` column.
  *
  * Oracle SQL is assembled from shared CTE fragments generated off the
  * same Scala constants (stop-word list) so engine and oracle cannot
  * drift.
  */
object DocQueries {

  private def stopList: String =
    TextPrep.DefaultStopwords.map(w => s"'$w'").mkString(", ")

  /** Shared DuckDB CTEs: filtered tokens + self-corpus TF-IDF vectors of
    * `documents` (weights rounded to 6 dp — the engine side rounds
    * identically before any cross-engine comparison or dot product).
    */
  private def tfidfCtes: String =
    s"""toks AS (
       |  SELECT doc_id AS id,
       |         unnest(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' ')) AS word
       |  FROM documents),
       |filt AS (SELECT id, word FROM toks WHERE word <> '' AND word NOT IN ($stopList)),
       |tf AS (SELECT id, word, count(*) AS tf FROM filt GROUP BY id, word),
       |dfreq AS (SELECT word, count(DISTINCT id) AS df FROM filt GROUP BY word),
       |nn AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
       |w AS (SELECT id, word,
       |        (1.0 + log10(tf)) * (log10((nn.n + 1.0) / (df + 1.0)) + 1.0) AS w
       |      FROM tf JOIN dfreq USING (word) CROSS JOIN nn),
       |vec AS (SELECT id, word,
       |          round(w / sqrt(sum(w * w) OVER (PARTITION BY id)), 6) AS w
       |        FROM w)""".stripMargin

  /** The shared TF-IDF build of one (session, dir): the token stream,
    * and the abstract corpus (size, document frequencies, rounded
    * self-corpus vectors). q12/q13/q46/q194 read the vectors; Task 1
    * (q50/q51) reads all of it. */
  private final case class DocTfidf(toks: DataFrame, corpus: Task1.Corpus)

  /** One memo entry per (session, dir): the TF-IDF build and, once q50
    * or q51 asks, the persisted Task 1 matches over it (l_id = title,
    * r_id = abstract, sim), which q50 returns and q51 aggregates. The
    * Verify run then computes each once instead of once per query. */
  private final case class Memo(tfidf: DocTfidf, task1: Option[DataFrame] = None) {
    def release(): Unit = {
      val frames = Seq(tfidf.toks, tfidf.corpus.dfreq, tfidf.corpus.vecs) ++ task1
      frames.foreach { df =>
        try graft.plans.ParallelCheckpoint.release(df) catch { case _: Throwable => }
      }
    }
  }

  // Keyed by the SESSION OBJECT (identity hash codes can collide across
  // sessions) in a bounded LRU whose eviction releases the entry's
  // frames — the Lab2Queries pattern: a WeakHashMap cannot work, because
  // the cached frames strongly reference their session. Accessed only
  // under the map's lock: concurrent first calls (Verify dumps queries
  // in parallel) must not double-build and leak the loser's frames.
  private val MaxEntries = 8
  private val memo =
    new java.util.LinkedHashMap[(SparkSession, String), Memo](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), Memo]): Boolean = {
        val evict = size() > MaxEntries
        if (evict) e.getValue.release()
        evict
      }
    }

  /** Drop every memo entry and release the frames it persisted or
    * checkpointed (e.g. between test suites or if the underlying parquet
    * changed — the memo assumes immutable sfDir contents, which holds for
    * the read-only driver testdata).
    */
  def clearCache(): Unit = memo.synchronized {
    memo.values.forEach(_.release())
    memo.clear()
  }

  private def entry(s: SparkSession, dir: String): Memo = {
    val hit = memo.get((s, dir))
    if (hit != null) hit
    else {
      val m = Memo(buildTfidf(s, dir))
      memo.put((s, dir), m)
      m
    }
  }

  private def docTfidf(s: SparkSession, dir: String): DocTfidf =
    memo.synchronized(entry(s, dir).tfidf)

  private def buildTfidf(s: SparkSession, dir: String): DocTfidf = {
    val docs = Tables.documents(s, dir)
    // the bpeTrain memo pattern: EAGERLY materialize the shared token
    // stream once (localCheckpoint), so the df pass, the tf pass, and
    // the vector build all read one explode instead of re-running the
    // corpus tokenization per branch (cold q12 was ~2x warm because
    // the vecs plan exploded the corpus twice and dfreq once more)
    val toks = TfIdf.tokens(docs, "doc_id", "text").localCheckpoint()
    val n = docs.select(col("doc_id")).distinct().count()
    val c = Task1.corpus(toks, n, _.localCheckpoint())
    DocTfidf(toks, c.copy(vecs = c.vecs.localCheckpoint()))
  }

  /** The Task 1 matches of (session, dir), built once for q50 and q51. */
  private def task1Matches(s: SparkSession, dir: String): DataFrame = memo.synchronized {
    val m = entry(s, dir)
    m.task1.getOrElse {
      val t = buildTask1(s, dir, m.tfidf.corpus)
      memo.put((s, dir), m.copy(task1 = Some(t)))
      t
    }
  }

  private def buildTask1(s: SparkSession, dir: String, c: Task1.Corpus): DataFrame = {
    import s.implicits._
    val titleToks = Tables.documents(s, dir).select($"doc_id".as("id"),
      explode(slice(TextPrep.filteredTokensCol($"text"), 1, 8)).as("word"))
    // persisted while argmaxAdaptive builds: the dense path reads the
    // title vectors twice (the vocabulary collect, then the left-side
    // checkpoint); its returned plan reads that checkpoint instead, and
    // the inverted plan reads them once
    val titleVecs = Task1.titleVectors(titleToks, c).persist()
    val matches = Task1.matches(titleVecs, c)
    titleVecs.unpersist()
    matches.persist()
  }

  /** Engine-side rounded self-corpus vectors (matches `vec` CTE). */
  private def docVectors(s: SparkSession, dir: String): DataFrame =
    docTfidf(s, dir).corpus.vecs

  // ---------------------------------------------------------------- q10
  /** Tokenize + stop-filter + term frequency (A1+A2+M2 over P1/P2/P9). */
  def q10TokensTf(s: SparkSession, dir: String): DataFrame =
    TfIdf.termFreq(TfIdf.tokens(Tables.documents(s, dir), "doc_id", "text"))
      .select(col("id").as("doc_id"), col("word"), col("tf"))
      .orderBy(col("doc_id"), col("word"))

  val q10Sql: String =
    s"""WITH $tfidfCtes
       |SELECT id AS doc_id, word, tf FROM tf ORDER BY doc_id, word""".stripMargin

  // ---------------------------------------------------------------- q11
  /** Document frequency (A3: distinct + grouped count). */
  def q11DocFreq(s: SparkSession, dir: String): DataFrame =
    TfIdf.docFreq(TfIdf.tokens(Tables.documents(s, dir), "doc_id", "text"))
      .orderBy(col("word"))

  val q11Sql: String =
    s"""WITH $tfidfCtes
       |SELECT word, df FROM dfreq ORDER BY word""".stripMargin

  // ---------------------------------------------------------------- q12
  /** Full reference-formula TF-IDF, L2-normalized, long form (A4+A6+J1). */
  def q12Tfidf(s: SparkSession, dir: String): DataFrame =
    docVectors(s, dir)
      .select(col("id").as("doc_id"), col("word"), col("w"))
      .orderBy(col("doc_id"), col("word"))

  val q12Sql: String =
    s"""WITH $tfidfCtes
       |SELECT id AS doc_id, word, w FROM vec ORDER BY doc_id, word""".stripMargin

  // ---------------------------------------------------------------- q13
  /** Top-1 most similar OTHER document per document — exact inverted-index
    * similarity join + deterministic argmax (J3 + A8).
    */
  def q13Top1Similar(s: SparkSession, dir: String): DataFrame = {
    val vecs = docVectors(s, dir)
    // adaptive physical strategy: this corpus has a tiny dense vocabulary,
    // where the inverted-index join degenerates (Σ_w n_w² ≈ |V|·n²); the
    // dense-broadcast path scores the same pairs with zero shuffle.
    Similarity.argmaxAdaptive(vecs, vecs, excludeSelf = true)
      .select(col("l_id").as("doc_id"), col("r_id").as("match_id"), col("sim"))
      .orderBy(col("doc_id"))
  }

  val q13Sql: String =
    s"""WITH $tfidfCtes,
       |sims AS (
       |  SELECT a.id AS doc_id, b.id AS match_id, round(sum(a.w * b.w), 6) AS sim
       |  FROM vec a JOIN vec b USING (word)
       |  WHERE a.id <> b.id
       |  GROUP BY a.id, b.id),
       |best AS (
       |  SELECT doc_id, match_id, sim,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY sim DESC, match_id ASC) AS rk
       |  FROM sims)
       |SELECT doc_id, match_id, sim FROM best WHERE rk = 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q46
  /** q13's semantics reached from PURE SQL: the `/*+ SIMILARITY_TOP1 */`
    * hint ([[graft.plans.SimilarityHintRule]]) rewrites to
    * `Similarity.argmaxAdaptive` — same adaptive physical strategy
    * (dense-broadcast here: tiny dense vocabulary), same deterministic
    * (sim desc, r_id asc) contract, but the user-facing surface is a
    * SQL string over a view. Requires a session built with
    * GraftExtensions (Verify/Bench set spark.sql.extensions).
    */
  def q46SqlTop1(s: SparkSession, dir: String): DataFrame = {
    docVectors(s, dir).createOrReplaceTempView("graft_q46_vectors")
    // hint wraps the query block PRODUCING (id, word, w); the rewrite
    // replaces the block's result with (l_id, r_id, sim) for the outer
    // query (see SimilarityHintRule scaladoc on parser hint placement)
    s.sql("""SELECT l_id, r_id, sim FROM (
            |  SELECT /*+ SIMILARITY_TOP1 */ id, word, w FROM graft_q46_vectors
            |) ORDER BY l_id""".stripMargin)
  }

  val q46Sql: String =
    s"""WITH $tfidfCtes,
       |sims AS (
       |  SELECT a.id AS l_id, b.id AS r_id, round(sum(a.w * b.w), 6) AS sim
       |  FROM vec a JOIN vec b USING (word)
       |  WHERE a.id <> b.id
       |  GROUP BY a.id, b.id),
       |best AS (
       |  SELECT l_id, r_id, sim,
       |         row_number() OVER (PARTITION BY l_id ORDER BY sim DESC, r_id ASC) AS rk
       |  FROM sims)
       |SELECT CAST(l_id AS BIGINT) AS l_id, CAST(r_id AS BIGINT) AS r_id, sim
       |FROM best WHERE rk = 1 ORDER BY l_id""".stripMargin

  // ---------------------------------------------------------------- q50
  /** Task-1 analog: per-title best abstract. Title = first 8 filtered
    * tokens; title IDF reuses the abstract corpus' document frequencies
    * via LEFT OUTER + df=0 (J2, lab2.py:205–209).
    */
  def q50Task1Matches(s: SparkSession, dir: String): DataFrame =
    task1Matches(s, dir)
      .select(col("l_id").as("title_id"), col("r_id").as("match_id"), col("sim"))
      .orderBy(col("title_id"))

  private def task1Ctes: String =
    s"""$tfidfCtes,
       |lists AS (
       |  SELECT doc_id AS id,
       |         list_filter(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' '),
       |                     x -> x <> '' AND x NOT IN ($stopList)) AS toks
       |  FROM documents),
       |title_toks AS (SELECT id, unnest(toks[1:8]) AS word FROM lists),
       |ttf AS (SELECT id, word, count(*) AS tf FROM title_toks GROUP BY id, word),
       |tw AS (SELECT t.id, t.word,
       |         (1.0 + log10(t.tf)) * (log10((nn.n + 1.0) / (COALESCE(d.df, 0) + 1.0)) + 1.0) AS w
       |       FROM ttf t LEFT JOIN dfreq d USING (word) CROSS JOIN nn),
       |tvec AS (SELECT id, word,
       |           round(w / sqrt(sum(w * w) OVER (PARTITION BY id)), 6) AS w
       |         FROM tw),
       |tsims AS (
       |  SELECT t.id AS title_id, a.id AS match_id, round(sum(t.w * a.w), 6) AS sim
       |  FROM tvec t JOIN vec a USING (word)
       |  GROUP BY t.id, a.id),
       |tbest AS (
       |  SELECT title_id, match_id, sim,
       |         row_number() OVER (PARTITION BY title_id ORDER BY sim DESC, match_id ASC) AS rk
       |  FROM tsims)""".stripMargin

  val q50Sql: String =
    s"""WITH $task1Ctes
       |SELECT title_id, match_id, sim FROM tbest WHERE rk = 1 ORDER BY title_id""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Task-1 self-retrieval accuracy scalar (A9, lab2.py:253–260): an
    * aggregate over q50's persisted matches, not a second Task 1 build. */
  def q51Task1Accuracy(s: SparkSession, dir: String): DataFrame =
    Similarity.accuracy(task1Matches(s, dir))

  val q51Sql: String =
    s"""WITH $task1Ctes
       |SELECT round(avg(CASE WHEN title_id = match_id THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
       |       count(*) AS n
       |FROM tbest WHERE rk = 1""".stripMargin

  // ---------------------------------------------------------------- q52
  /** Task-2 analog: per-language normalized raw-TF vectors (A7+A6 — NO
    * IDF, lab2.py:275–288) and the full language×language cosine matrix
    * in long form, zero pairs included (J4+J5).
    */
  def q52LangMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val toks = docs.select($"lang".as("id"),
      explode(TextPrep.filteredTokensCol($"text")).as("word"))
    val tf = toks.groupBy($"id", $"word").agg(count(lit(1)).as("tf"))
      .select($"id", $"word", $"tf".cast("double").as("w"))
    val vecs = TfIdf.l2Normalize(tf).withColumn("w", round($"w", 6))
    val sims = Similarity.invertedIndexJoin(vecs, vecs)
      .withColumn("sim", round($"sim", 6))
    val langs = docs.select($"lang").distinct()
    val allPairs = langs.select($"lang".as("row_lang"))
      .crossJoin(langs.select($"lang".as("col_lang")))
    // sims has ≤ |langs|² rows (category-cardinality squared) — a
    // broadcast build, not the SortMergeJoin static planning picks
    allPairs.join(broadcast(sims),
        allPairs("row_lang") === sims("l_id") && allPairs("col_lang") === sims("r_id"),
        "left")
      .select($"row_lang", $"col_lang", coalesce($"sim", lit(0.0)).as("cosine"))
      .orderBy($"row_lang", $"col_lang")
  }

  private def task2Ctes: String =
    s"""ltoks AS (
       |  SELECT lang,
       |         unnest(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' ')) AS word
       |  FROM documents),
       |lfilt AS (SELECT lang, word FROM ltoks WHERE word <> '' AND word NOT IN ($stopList)),
       |ltf AS (SELECT lang, word, CAST(count(*) AS DOUBLE) AS w FROM lfilt GROUP BY lang, word),
       |lvec AS (SELECT lang, word,
       |           round(w / sqrt(sum(w * w) OVER (PARTITION BY lang)), 6) AS w
       |         FROM ltf),
       |lsims AS (
       |  SELECT a.lang AS row_lang, b.lang AS col_lang, round(sum(a.w * b.w), 6) AS sim
       |  FROM lvec a JOIN lvec b USING (word)
       |  GROUP BY a.lang, b.lang),
       |langs AS (SELECT DISTINCT lang FROM documents)""".stripMargin

  val q52Sql: String =
    s"""WITH $task2Ctes
       |SELECT r.lang AS row_lang, c.lang AS col_lang, COALESCE(s.sim, 0.0) AS cosine
       |FROM langs r CROSS JOIN langs c
       |LEFT JOIN lsims s ON s.row_lang = r.lang AND s.col_lang = c.lang
       |ORDER BY row_lang, col_lang""".stripMargin

  // ---------------------------------------------------------------- q53
  /** Task-2 matrix pivoted wide via Spark's native groupBy().pivot()
    * (A11 — replaces the reference's pandas pivot, lab2.py:301–303).
    * Explicit value list keeps the schema deterministic for the oracle.
    */
  val KnownLangs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  def q53LangMatrixPivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    q52LangMatrix(s, dir)
      .groupBy($"row_lang")
      .pivot("col_lang", KnownLangs)
      .agg(first($"cosine"))
      .na.fill(0.0)
      .orderBy($"row_lang")
  }

  val q53Sql: String = {
    val cols = KnownLangs.map(l =>
      s"COALESCE(max(CASE WHEN col_lang = '$l' THEN cosine END), 0.0) AS \"$l\"").mkString(",\n  ")
    s"""WITH $task2Ctes,
       |long AS (
       |  SELECT r.lang AS row_lang, c.lang AS col_lang, COALESCE(s.sim, 0.0) AS cosine
       |  FROM langs r CROSS JOIN langs c
       |  LEFT JOIN lsims s ON s.row_lang = r.lang AND s.col_lang = c.lang)
       |SELECT row_lang,
       |  $cols
       |FROM long GROUP BY row_lang ORDER BY row_lang""".stripMargin
  }

  // ---------------------------------------------------------------- q67
  /** Wide→long MELT via Spark's native `Dataset.unpivot` (the inverse
    * of q4/q53's pivots — the missing half of the reshape surface):
    * per-source language counts pivoted wide by conditional
    * aggregation, then unpivoted back to (source, lang, n_docs). Zero
    * combinations survive the round-trip (unpivot keeps them; the
    * oracle rebuilds them with a srcs×langs frame), so the contract —
    * melt(pivot(x)) ≡ the dense long form — is gated exactly. Unpivot
    * is a zero-shuffle row-local expansion (each wide row explodes to
    * |langs| long rows in place).
    */
  def q67UnpivotSourceLangs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val aggs = KnownLangs.map(l =>
      sum(when($"lang" === l, 1L).otherwise(0L)).as(l))
    val wide = graft.Tables.documents(s, dir)
      .groupBy($"source")
      .agg(aggs.head, aggs.tail: _*)
    wide.unpivot(Array($"source"), KnownLangs.map(col).toArray, "lang", "n_docs")
      .orderBy($"source", $"lang")
  }

  val q67Sql: String = {
    val langList = KnownLangs.map(l => s"'$l'").mkString(", ")
    s"""WITH srcs AS (SELECT DISTINCT source FROM documents),
       |langs AS (SELECT unnest([$langList]) AS lang),
       |cnt AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang)
       |SELECT s.source, l.lang, COALESCE(c.n, 0) AS n_docs
       |FROM srcs s CROSS JOIN langs l
       |LEFT JOIN cnt c ON c.source = s.source AND c.lang = l.lang
       |ORDER BY s.source, l.lang""".stripMargin
  }

  // ---------------------------------------------------------------- q98
  /** Zipf rank–frequency regression: least-squares slope of
    * ln(frequency) against ln(rank) over the corpus vocabulary. The
    * log points are quantized to integer milli-nats BEFORE the moment
    * sums, so Σx/Σy/Σxy/Σxx are exact longs in any summation order on
    * both engines, and the slope/intercept divisions run on
    * bit-identical integers (the same discipline as the scaled-long
    * money sums — a raw double Σxy would drift with partitioning).
    * The slope is scale-free (the 1e3 cancels); the intercept is
    * divided back to nats. One vocabulary-sized aggregate, a
    * vocabulary-sized rank window, then a 1-row moment aggregate.
    */
  def q98ZipfSlope(s: SparkSession, dir: String): DataFrame = {
    val freq = TfIdf.tokens(Tables.documents(s, dir), "doc_id", "text")
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
    // the regression needs EVERY word's exact rank (no top-n applies)
    // and the vocabulary grows with the corpus, so this was the one
    // genuinely unbounded global-window site left by the r15 audit:
    // GlobalRank assigns the identical (f desc, word) row numbers via
    // range partitions + offsets — no single-partition sort
    val pts = graft.plans.GlobalRank.rowNumber(freq, "r",
        col("f").desc, col("word"))
      .select(
        round(log(col("r").cast("double")) * 1000, 0).cast("long").as("x"),
        round(log(col("f").cast("double")) * 1000, 0).cast("long").as("y"))
    val m = pts.agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    m.select(
      col("n").as("n_words"),
      round(slope, 6).as("zipf_slope"),
      round((col("sy").cast("double") - slope * col("sx").cast("double")) /
        (col("n").cast("double") * 1000.0), 6).as("intercept_nats"))
  }

  val q98Sql: String =
    s"""WITH $tfidfCtes,
       |freq AS (SELECT word, count(*) AS f FROM filt GROUP BY word),
       |rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, word) AS r FROM freq),
       |pts AS (SELECT CAST(round(ln(CAST(r AS DOUBLE))*1000, 0) AS BIGINT) AS x,
       |               CAST(round(ln(CAST(f AS DOUBLE))*1000, 0) AS BIGINT) AS y
       |        FROM rk),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |             CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx
       |      FROM pts)
       |SELECT n AS n_words,
       |  round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS zipf_slope,
       |  round((CAST(sy AS DOUBLE) - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE))
       |        / (CAST(n AS DOUBLE) * 1000.0), 6) AS intercept_nats
       |FROM m""".stripMargin

  // ---------------------------------------------------------------- q194
  /** Per-document keyword extraction — top-3 TF-IDF terms per doc, the
    * classic summarization/indexing primitive built directly on q12's
    * gated vectors. row_number (not rank) with the term tie-break,
    * because equal weights are common in short docs and the extracted
    * keyword SET must be deterministic; Spark pushes the rk<=3 filter
    * down as partial+final WindowGroupLimit (the q193 property), so at
    * most ~3 rows per doc cross the window exchange — keyword
    * extraction over 100 TB moves keywords, not vocabularies.
    */
  def q194DocKeywords(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col("id"))
      .orderBy(col("w").desc, col("word"))
    docVectors(s, dir)
      .withColumn("rk", row_number().over(win).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("id").as("doc_id"), col("rk"), col("word"), col("w"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val q194Sql: String =
    s"""WITH $tfidfCtes,
       |ranked AS (
       |  SELECT id AS doc_id, word, w,
       |         CAST(row_number() OVER (PARTITION BY id
       |           ORDER BY w DESC, word) AS BIGINT) AS rk
       |  FROM vec)
       |SELECT doc_id, rk, word, w FROM ranked WHERE rk <= 3
       |ORDER BY doc_id, rk""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q194_doc_keywords", q194DocKeywords _, q194Sql),
    Query("q98_zipf_slope", q98ZipfSlope _, q98Sql),
    Query("q67_unpivot_source_langs", q67UnpivotSourceLangs _, q67Sql),
    Query("q10_tokens_tf", q10TokensTf _, q10Sql),
    Query("q11_doc_freq", q11DocFreq _, q11Sql),
    Query("q12_tfidf", q12Tfidf _, q12Sql),
    Query("q13_top1_similar", q13Top1Similar _, q13Sql),
    Query("q46_sql_top1", q46SqlTop1 _, q46Sql),
    Query("q50_task1_matches", q50Task1Matches _, q50Sql),
    Query("q51_task1_accuracy", q51Task1Accuracy _, q51Sql),
    Query("q52_lang_matrix", q52LangMatrix _, q52Sql),
    Query("q53_lang_matrix_pivot", q53LangMatrixPivot _, q53Sql),
  )
}
