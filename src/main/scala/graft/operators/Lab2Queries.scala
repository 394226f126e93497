package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.app.Lab2Pipeline

/** Driver-gated queries over the papers FIXTURE through
  * [[Lab2Pipeline.run]] itself — the flagship reference replica
  * (lab2.py:150–260) verified by the DuckDB oracle, not just ScalaTest.
  * The oracle SQL reads the same JSONL fixture via `read_json` and
  * replays Task 1 (abstract self-corpus TF-IDF, title vectors with
  * external DF + df=0 smoothing, cosine argmax with the deterministic
  * tie-break, accuracy over n).
  *
  * These queries ignore the sfDir argument: the input is the checked-in
  * reference-shaped fixture, which is the point — the pipeline under
  * test is the one a reference user runs.
  */
object Lab2Queries {

  // Fixtures resolve against the working directory (sbt runs from the
  // repo root), not a hardcoded checkout location; the ABSOLUTE resolved
  // path is interpolated into both the pipeline read and the oracle SQL
  // so the two always agree.
  val PapersPath: String =
    new java.io.File("src/test/resources/papers.jsonl").getAbsolutePath
  val StopwordsPath: String =
    new java.io.File("src/test/resources/stopwords.txt").getAbsolutePath

  lazy val stopwords: Seq[String] = {
    val src = scala.io.Source.fromFile(StopwordsPath)
    try src.getLines().map(_.trim).filter(_.nonEmpty).toList finally src.close()
  }

  // one pipeline run per session: q54 and q55 share the Result (matches
  // is persisted inside run). Keyed by the SESSION OBJECT (identity
  // hash codes can collide across sessions) in a bounded LRU: a
  // WeakHashMap cannot work here — the cached Result's DataFrames
  // strongly reference their SparkSession, so the value would keep the
  // weak key reachable and nothing would ever evict. Instead the LRU
  // holds at most MaxSessions entries and eviction explicitly
  // unpersists the evicted pipeline's frames, bounding a long-lived
  // driver that creates sessions per request. Builder synchronized:
  // concurrent first calls (Verify dumps in parallel) must not
  // double-build and leak the loser's persisted frames.
  private val MaxSessions = 4
  private val cache =
    new java.util.LinkedHashMap[SparkSession, Lab2Pipeline.Result](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession, Lab2Pipeline.Result]): Boolean = {
        val evict = size() > MaxSessions
        if (evict) e.getValue.unpersist()
        evict
      }
    }
  private def result(s: SparkSession): Lab2Pipeline.Result = cache.synchronized {
    val hit = cache.get(s)
    if (hit != null) hit
    else {
      val r = Lab2Pipeline.run(s, PapersPath, stopwords)
      cache.put(s, r)
      r
    }
  }

  // ---------------------------------------------------------------- q54
  /** Task-1 matches: best abstract per title, (title_id, abstract_id,
    * cosine), through the full pipeline.
    */
  def q54Lab2Matches(s: SparkSession, dir: String): DataFrame =
    result(s).matches.orderBy(col("title_id"))

  // ---------------------------------------------------------------- q55
  /** Task-1 accuracy scalar: correct / n over the full corpus. */
  def q55Lab2Accuracy(s: SparkSession, dir: String): DataFrame =
    result(s).accuracy

  private def stopList: String = stopwords.map(w => s"'$w'").mkString(", ")

  /** Shared CTEs: fixture read → filtered token lists → abstract
    * self-corpus vectors → title vectors (external DF) → rounded sims →
    * deterministic argmax. Mirrors Lab2Pipeline.run statement by
    * statement (6 dp weight/sim rounding on both sides).
    */
  private def lab2Ctes: String =
    s"""papers AS (
       |  SELECT * FROM read_json('$PapersPath', format='newline_delimited',
       |    columns={'id':'VARCHAR','title':'VARCHAR','abstract':'VARCHAR','categories':'VARCHAR'})),
       |nn AS (SELECT count(*) AS n FROM papers),
       |abs_toks AS (
       |  SELECT id, word FROM (
       |    SELECT id, unnest(string_split(trim(regexp_replace(lower(abstract), '(\\d|\\W)+', ' ', 'g')), ' ')) AS word
       |    FROM papers)
       |  WHERE word <> '' AND word NOT IN ($stopList)),
       |title_toks AS (
       |  SELECT id, word FROM (
       |    SELECT id, unnest(string_split(trim(regexp_replace(lower(title), '(\\d|\\W)+', ' ', 'g')), ' ')) AS word
       |    FROM papers)
       |  WHERE word <> '' AND word NOT IN ($stopList)),
       |atf AS (SELECT id, word, count(*) AS tf FROM abs_toks GROUP BY id, word),
       |adf AS (SELECT word, count(DISTINCT id) AS df FROM abs_toks GROUP BY word),
       |aw AS (SELECT id, word,
       |         (1.0 + log10(tf)) * (log10((nn.n + 1.0) / (df + 1.0)) + 1.0) AS w
       |       FROM atf JOIN adf USING (word) CROSS JOIN nn),
       |avec AS (SELECT id, word,
       |           round(w / sqrt(sum(w * w) OVER (PARTITION BY id)), 6) AS w
       |         FROM aw),
       |ttf AS (SELECT id, word, count(*) AS tf FROM title_toks GROUP BY id, word),
       |tw AS (SELECT t.id, t.word,
       |         (1.0 + log10(t.tf)) * (log10((nn.n + 1.0) / (COALESCE(d.df, 0) + 1.0)) + 1.0) AS w
       |       FROM ttf t LEFT JOIN adf d USING (word) CROSS JOIN nn),
       |tvec AS (SELECT id, word,
       |           round(w / sqrt(sum(w * w) OVER (PARTITION BY id)), 6) AS w
       |         FROM tw),
       |sims AS (
       |  SELECT t.id AS title_id, a.id AS abstract_id, round(sum(t.w * a.w), 6) AS cosine
       |  FROM tvec t JOIN avec a USING (word)
       |  GROUP BY t.id, a.id),
       |best AS (
       |  SELECT title_id, abstract_id, cosine,
       |         row_number() OVER (PARTITION BY title_id ORDER BY cosine DESC, abstract_id ASC) AS rk
       |  FROM sims)""".stripMargin

  val q54Sql: String =
    s"""WITH $lab2Ctes
       |SELECT title_id, abstract_id, cosine FROM best WHERE rk = 1 ORDER BY title_id""".stripMargin

  val q55Sql: String =
    s"""WITH $lab2Ctes
       |SELECT round(CAST(sum(CASE WHEN title_id = abstract_id THEN 1 ELSE 0 END) AS DOUBLE)
       |             / (SELECT n FROM nn), 6) AS accuracy,
       |       count(*) AS n_matched,
       |       CAST((SELECT n FROM nn) AS BIGINT) AS n
       |FROM best WHERE rk = 1""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q54_lab2_matches", q54Lab2Matches _, q54Sql),
    Query("q55_lab2_accuracy", q55Lab2Accuracy _, q55Sql),
  )
}
