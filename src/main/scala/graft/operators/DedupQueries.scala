package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables
import graft.dedup.Dedup
import graft.tfidf.TfIdf

/** Deduplication queries over `documents`, each with a DuckDB oracle.
  * Parameters (k=12 minhash permutations, 3 bands × 4 rows, shingle
  * sizes) are shared constants between the Spark plans and the generated
  * oracle SQL.
  */
object DedupQueries {

  val K = 12
  val Bands = 3
  val RowsPerBand = 4

  /** Unfiltered distinct unigram token sets (dedup compares full text). */
  private def tokCte: String =
    """utoks AS (
      |  SELECT doc_id AS id,
      |         unnest(string_split(trim(regexp_replace(lower(text), '(\d|\W)+', ' ', 'g')), ' ')) AS word
      |  FROM documents),
      |tok AS (SELECT DISTINCT id, word FROM utoks WHERE word <> '')""".stripMargin

  // ---------------------------------------------------------------- q14
  /** Exact dedup: doc → minimum doc_id sharing identical text. */
  def q14DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.canonicalIds(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("id"))
      .withColumnRenamed("id", "doc_id")

  val q14Sql: String =
    """SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q15
  /** MinHash signatures (k=12) over unigram token sets. */
  def q15Minhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashSig(
        Dedup.tokenSets(Tables.documents(s, dir), "doc_id", "text"), K)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  val q15Sql: String = {
    val mins = (0 until K).map(j =>
      f"min(md5('$j%d|' || word)) AS mh$j%02d").mkString(",\n  ")
    s"""WITH $tokCte
       |SELECT id AS doc_id,
       |  $mins
       |FROM tok GROUP BY id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q16
  /** MinHash LSH near-dup pipeline: band → bucket → candidate pairs →
    * exact Jaccard verification on candidates only, thresholded.
    */
  val LshJaccardThreshold = 0.7
  /** τ as an exact rational for integer cross-multiplication (the
    * q242/q243 verify sides test den·inter ≥ num·union so containment
    * in the exact setSimJoin — which tests the same rational — holds by
    * construction, not up to a round-6 window). */
  val LshTauNum = 7
  val LshTauDen = 10

  def q16LshNearDups(s: SparkSession, dir: String): DataFrame = {
    val toks = Dedup.tokenSets(Tables.documents(s, dir), "doc_id", "text")
    val sig = Dedup.minhashSig(toks, K)
    val cands = Dedup.lshCandidates(sig, Bands, RowsPerBand)
    Dedup.jaccardOnCandidates(toks, cands)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .filter(col("jaccard") >= LshJaccardThreshold)
      .orderBy(col("a"), col("b"))
  }

  /** q16's CTE chain (tokens → signatures → bands → candidates → jaccard)
    * WITHOUT the WITH keyword or final select — shared between q16Sql and
    * q19Sql, which extends it with the recursive-closure CTEs.
    */
  /** SQL fragment generators shared by q16/q19/q78 — one source of
    * truth for the signature/banding arithmetic on the oracle side.
    */
  private val sigMinsSql: String = (0 until K).map(j =>
    f"min(md5('$j%d|' || word)) AS mh$j%02d").mkString(",\n    ")
  private val bandSelectsSql: String = (0 until Bands).map { b =>
    val cat = (b * RowsPerBand until (b + 1) * RowsPerBand)
      .map(j => f"mh$j%02d").mkString(" || '|' || ")
    s"SELECT id, $b AS band, md5($cat) AS bsig FROM sigs"
  }.mkString("\n  UNION ALL ")

  private val q16Ctes: String = {
    val mins = sigMinsSql
    val bandSelects = bandSelectsSql
    s"""$tokCte,
       |sigs AS (
       |  SELECT id,
       |    $mins
       |  FROM tok GROUP BY id),
       |bandtbl AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM bandtbl x JOIN bandtbl y ON x.band = y.band AND x.bsig = y.bsig AND x.id < y.id),
       |sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
       |shared AS (
       |  SELECT c.a, c.b, count(*) AS shared
       |  FROM cand c
       |  JOIN tok ta ON ta.id = c.a
       |  JOIN tok tb ON tb.id = c.b AND tb.word = ta.word
       |  GROUP BY c.a, c.b),
       |jac AS (
       |  SELECT c.a, c.b,
       |    round(CAST(COALESCE(s.shared, 0) AS DOUBLE) /
       |          CAST(za.sz + zb.sz - COALESCE(s.shared, 0) AS DOUBLE), 6) AS jaccard
       |  FROM cand c
       |  LEFT JOIN shared s ON s.a = c.a AND s.b = c.b
       |  JOIN sizes za ON za.id = c.a
       |  JOIN sizes zb ON zb.id = c.b)""".stripMargin
  }

  val q16Sql: String =
    s"""WITH $q16Ctes
       |SELECT a, b, jaccard FROM jac WHERE jaccard >= $LshJaccardThreshold ORDER BY a, b""".stripMargin

  // --------------------------------------------------------------- q242
  /** LSH recall audit: the q16 banded MinHash pipeline measured
    * against the EXACT token-set Jaccard join at the same τ=0.7 — the
    * number the S-curve analysis (q105) only estimates, computed on
    * the actual corpus. The exact side is [[Round12Queries.setSimJoin]]
    * over the same token sets (prefix-filtered, candidate-verified —
    * no all-pairs stage), so the audit itself scales; the LSH side is
    * q16's own chain plus its raw candidate count. Output: one row —
    * n_exact, n_lsh (= n_hit since q16 verifies exactly), n_missed,
    * recall, n_candidates, candidate_precision. The verify-containment
    * law (lsh ⊆ exact) is spec-asserted, not assumed.
    *
    * Threshold equivalence: BOTH sides test the same exact rational —
    * the exact side 17·inter ≥ 7·(|a|+|b|) (⟺ J ≥ 7/10), the LSH
    * verify side den·inter ≥ num·union over [[Dedup.overlapOnCandidates]]
    * integer counts — so lsh ⊆ exact holds BY CONSTRUCTION (no round-6
    * window where a ratio in [0.6999995, 0.7) could disagree); the
    * spec pins the containment anyway.
    */
  def q242LshRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val toks = Dedup.tokenSets(Tables.documents(s, dir), "doc_id", "text")
      .localCheckpoint() // feeds exact join, signatures, and verify
    val exact = Round12Queries.setSimJoin(
        toks.select(col("id"), col("word").as("shingle")), LshTauNum, LshTauDen)
      .select(col("a"), col("b"))
      .localCheckpoint()
    val cands = Dedup.lshCandidates(Dedup.minhashSig(toks, K), Bands, RowsPerBand)
      .localCheckpoint()
    val lsh = Dedup.overlapOnCandidates(toks, cands)
      .filter(col("shared") * LshTauDen >=
        (col("sza") + col("szb") - col("shared")) * LshTauNum)
      .select(col("a"), col("b"))
      .localCheckpoint()
    val hit = exact.join(lsh, Seq("a", "b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .crossJoin(cands.agg(count(lit(1)).as("n_candidates")))
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        (col("n_exact") - col("n_hit")).as("n_missed"),
        round(col("n_hit") / nullif(col("n_exact").cast("double"), lit(0.0)), 6)
          .as("recall"),
        col("n_candidates"),
        round(col("n_lsh") / nullif(col("n_candidates").cast("double"), lit(0.0)), 6)
          .as("candidate_precision"))
  }

  // --------------------------------------------------------------- q243
  /** Banding parameter sweep: q242's recall audit run across three
    * (bands × rows) splits of the SAME K=12 signature — (3×4), (4×3),
    * (6×2) — so the recall/candidate-cost dial is MEASURED on the
    * corpus, not read off the S-curve. More, narrower bands ⇒ higher
    * candidate volume and higher recall (the OR-amplification
    * monotonicity the spec pins); the exact denominator and the K
    * signatures are computed once and shared by all three
    * configurations, so the sweep costs one signature pass plus three
    * banding passes, never three pipelines.
    */
  val SweepConfigs: Seq[(Int, Int)] = Seq((3, 4), (4, 3), (6, 2))

  /** The measured sweep shared by q243 (the audit surface) and q268
    * (the engine's own operating-point choice) — the
    * ivfPqRecallCurve/q252/q263 sharing discipline, ONE formula: exact
    * τ pair count + per-configuration (candidates, verified-found)
    * over ONE shared K-permutation signature. Returns the checkpointed
    * token sets and signatures too, so a caller serving at the chosen
    * configuration re-bands the SAME signature pass it measured with.
    */
  private[operators] def bandingMeasure(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Long, Seq[(Int, Int, Long, Long)]) = {
    val toks = Dedup.tokenSets(Tables.documents(s, dir), "doc_id", "text")
      .localCheckpoint()
    val nExact = Round12Queries.setSimJoin(
        toks.select(col("id"), col("word").as("shingle")), LshTauNum, LshTauDen)
      .count()
    val sig = Dedup.minhashSig(toks, K).localCheckpoint()
    val rows = SweepConfigs.map { case (b, r) =>
      val cands = Dedup.lshCandidates(sig, b, r).localCheckpoint()
      val nCands = cands.count()
      // same exact rational as the denominator (q242 containment law):
      // recall can never exceed 1 by a rounding-window accident
      val nFound = Dedup.overlapOnCandidates(toks, cands)
        .filter(col("shared") * LshTauDen >=
          (col("sza") + col("szb") - col("shared")) * LshTauNum)
        .count()
      (b, r, nCands, nFound)
    }
    (toks, sig, nExact, rows)
  }

  def q243BandingSweep(s: SparkSession, dir: String): DataFrame = {
    val (_, _, nExact, rows) = bandingMeasure(s, dir)
    import s.implicits._
    rows.toDF("bands", "rows_per_band", "n_candidates", "n_found")
      .select(col("bands").cast("long").as("bands"),
        col("rows_per_band").cast("long").as("rows_per_band"),
        col("n_candidates"), col("n_found"),
        round(col("n_found") / nullif(lit(nExact).cast("double"), lit(0.0)), 6)
          .as("recall"),
        round(col("n_found") / nullif(col("n_candidates").cast("double"),
          lit(0.0)), 6).as("candidate_precision"))
      .orderBy(col("bands"))
  }

  /** Per-config band/candidate/verify CTE chain (names suffixed so the
    * three configurations coexist in one oracle query). */
  private def sweepCtes(b: Int, r: Int): String = {
    val bandSelects = (0 until b).map { band =>
      val cat = (band * r until (band + 1) * r)
        .map(j => f"mh$j%02d").mkString(" || '|' || ")
      s"SELECT id, $band AS band, md5($cat) AS bsig FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""bandtbl_${b}_$r AS (
       |  $bandSelects),
       |cand_${b}_$r AS (
       |  SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM bandtbl_${b}_$r x JOIN bandtbl_${b}_$r y
       |    ON x.band = y.band AND x.bsig = y.bsig AND x.id < y.id),
       |found_${b}_$r AS (
       |  SELECT c.a, c.b
       |  FROM cand_${b}_$r c
       |  JOIN sizes za ON za.id = c.a JOIN sizes zb ON zb.id = c.b
       |  LEFT JOIN (
       |    SELECT c2.a, c2.b, count(*) AS shared
       |    FROM cand_${b}_$r c2
       |    JOIN tok ta ON ta.id = c2.a
       |    JOIN tok tb ON tb.id = c2.b AND tb.word = ta.word
       |    GROUP BY c2.a, c2.b) s ON s.a = c.a AND s.b = c.b
       |  WHERE COALESCE(s.shared, 0) * ${LshTauDen + LshTauNum}
       |        >= (za.sz + zb.sz) * $LshTauNum)""".stripMargin
  }

  val q243Sql: String = {
    val configCtes = SweepConfigs.map { case (b, r) => sweepCtes(b, r) }
      .mkString(",\n")
    val unions = SweepConfigs.map { case (b, r) =>
      s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |  (SELECT CAST(count(*) AS BIGINT) FROM cand_${b}_$r) AS n_candidates,
         |  (SELECT CAST(count(*) AS BIGINT) FROM found_${b}_$r) AS n_found,
         |  round((SELECT count(*) FROM found_${b}_$r)
         |        / nullif(CAST((SELECT count(*) FROM exact) AS DOUBLE), 0.0), 6)
         |    AS recall,
         |  round((SELECT count(*) FROM found_${b}_$r)
         |        / nullif(CAST((SELECT count(*) FROM cand_${b}_$r) AS DOUBLE), 0.0), 6)
         |    AS candidate_precision""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $tokCte,
       |sigs AS (
       |  SELECT id,
       |    $sigMinsSql
       |  FROM tok GROUP BY id),
       |sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
       |exshared AS (
       |  SELECT a.id AS a, b.id AS b, count(*) AS inter
       |  FROM tok a JOIN tok b ON a.word = b.word AND a.id < b.id
       |  GROUP BY a.id, b.id),
       |exact AS (
       |  SELECT s.a, s.b FROM exshared s
       |  JOIN sizes za ON za.id = s.a JOIN sizes zb ON zb.id = s.b
       |  WHERE s.inter * 17 >= (za.sz + zb.sz) * 7),
       |$configCtes
       |$unions
       |ORDER BY bands""".stripMargin
  }

  // --------------------------------------------------------------- q268
  /** Engine-chosen LSH banding operating point — the chooseNprobe
    * pattern applied to the DEDUP dial (the ANN loop's q252→q263 arc,
    * replayed for q243→this): the operator measures the banding sweep
    * ([[bandingMeasure]], the same formula q243's audit reads), picks
    * the configuration with the PURE [[Dedup.chooseBanding]] rule
    * (cheapest candidate volume meeting the recall target, exact
    * rational [[BandingTargetNum]]/[[BandingTargetDen]]; highest-recall
    * fallback past the signature's resolution ceiling — spec-pinned),
    * and SERVES the q16 near-dup join at the chosen (bands,
    * rows_per_band), re-banding the signature pass it measured with.
    * Every served row carries the choice, and the oracle replays
    * measurement, choice, AND the served join — the decision rule
    * itself is hash-gated, not just the banding math. The measurement
    * is a tuning-time cost (exact join + three banding passes — at lake
    * scale it runs on a sample, the q263 tuning-sample contract);
    * serving adds ONE banding pass over the shared signatures.
    *
    * BENCH-EXCLUDED with q16/q242/q243 (Bench.scala headline scaladoc):
    * the exact denominator and the served near-dup join have
    * O(n²)-sized OUTPUT on the deliberately self-similar test corpus —
    * 333 s at sf0.1, all output volume, vs the hash-checked sf0.01
    * oracle gate. The sweep deliberately runs UNCAPPED buckets (a
    * maxBucket cap would bias the measured recall); serving at the
    * chosen configuration inherits q16's degenerate-bucket story
    * (`lshCandidates(maxBucket)` routes oversized buckets to
    * clustering instead of pairwise emission).
    */
  val BandingTargetNum = 9
  val BandingTargetDen = 10

  def q268BandingAuto(s: SparkSession, dir: String): DataFrame = {
    val (toks, sig, nExact, sweep) = bandingMeasure(s, dir)
    val (b, r) = Dedup.chooseBanding(sweep, nExact,
      BandingTargetNum, BandingTargetDen)
    val cands = Dedup.lshCandidates(sig, b, r)
    Dedup.jaccardOnCandidates(toks, cands)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .filter(col("jaccard") >= LshJaccardThreshold)
      .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
        col("a"), col("b"), col("jaccard"))
      .orderBy(col("a"), col("b"))
  }

  /** Per-config candidate-jaccard CTE for the q268 oracle's serve side
    * (q16's `jac` over `cand_{b}_{r}`). */
  private def jacCtes(b: Int, r: Int): String =
    s"""jac_${b}_$r AS (
       |  SELECT c.a, c.b,
       |    round(CAST(COALESCE(s.shared, 0) AS DOUBLE) /
       |          CAST(za.sz + zb.sz - COALESCE(s.shared, 0) AS DOUBLE), 6) AS jaccard
       |  FROM cand_${b}_$r c
       |  LEFT JOIN (
       |    SELECT c2.a, c2.b, count(*) AS shared
       |    FROM cand_${b}_$r c2
       |    JOIN tok ta ON ta.id = c2.a
       |    JOIN tok tb ON tb.id = c2.b AND tb.word = ta.word
       |    GROUP BY c2.a, c2.b) s ON s.a = c.a AND s.b = c.b
       |  JOIN sizes za ON za.id = c.a JOIN sizes zb ON zb.id = c.b)""".stripMargin

  /** The q268 oracle, optionally extended with the corpus-stamp
    * columns of the persisted-choice surface (q274) — ONE builder so
    * the measure-every-call oracle and the artifact-served oracle
    * replay the identical measurement+rule+serve chain (the
    * bm25SweepCtes sharing convention). */
  /** The sweep WITH-body through the replayed `chosen` CTE — shared by
    * [[bandingAutoSql]] (q268/q274) and the q278 staleness audit's
    * banding branch (which needs only the chosen dial). */
  private[operators] lazy val bandingChosenSql: String = {
    val configCtes = SweepConfigs.map { case (b, r) => sweepCtes(b, r) }
      .mkString(",\n")
    val jacs = SweepConfigs.map { case (b, r) => jacCtes(b, r) }
      .mkString(",\n")
    val stats = SweepConfigs.map { case (b, r) =>
      s"""SELECT $b AS bands, $r AS rows_per_band,
         |  (SELECT count(*) FROM cand_${b}_$r) AS n_candidates,
         |  (SELECT count(*) FROM found_${b}_$r) AS n_found""".stripMargin
    }.mkString("\nUNION ALL\n")
    bandingWithBody(configCtes, jacs, stats) +
      "\nSELECT CAST(bands AS BIGINT) AS bands," +
      "\n       CAST(rows_per_band AS BIGINT) AS rows_per_band FROM chosen"
  }

  /** WITH-chain through the replayed `chosen` CTE (tokenization,
    * signatures, exact pairs, per-config candidate/verify chains,
    * stats, and the full chooseBanding tie chain). */
  private def bandingWithBody(configCtes: String, jacs: String,
      stats: String): String =
    s"""WITH $tokCte,
       |sigs AS (
       |  SELECT id,
       |    $sigMinsSql
       |  FROM tok GROUP BY id),
       |sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
       |exshared AS (
       |  SELECT a.id AS a, b.id AS b, count(*) AS inter
       |  FROM tok a JOIN tok b ON a.word = b.word AND a.id < b.id
       |  GROUP BY a.id, b.id),
       |exact AS (
       |  SELECT s.a, s.b FROM exshared s
       |  JOIN sizes za ON za.id = s.a JOIN sizes zb ON zb.id = s.b
       |  WHERE s.inter * ${LshTauDen + LshTauNum} >= (za.sz + zb.sz) * $LshTauNum),
       |$configCtes,
       |$jacs,
       |stats AS (
       |  $stats),
       |-- Dedup.chooseBanding replayed: miss=0 rows (target met, exact
       |-- rational) sort first by (n_candidates, bands, rows_per_band);
       |-- an all-miss sweep falls back to (n_found desc, n_candidates,
       |-- bands, rows_per_band) — the full Scala tie chain, including
       |-- the final rows_per_band leg (unreachable with the current
       |-- all-distinct-bands SweepConfigs, but the oracle claims an
       |-- exact replay of the rule, so it carries the whole chain).
       |chosen AS (
       |  SELECT bands, rows_per_band FROM (
       |    SELECT s.bands, s.rows_per_band, s.n_candidates, s.n_found,
       |      CASE WHEN s.n_found * $BandingTargetDen
       |                >= $BandingTargetNum * (SELECT count(*) FROM exact)
       |           THEN 0 ELSE 1 END AS miss
       |    FROM stats s)
       |  ORDER BY miss ASC,
       |           CASE WHEN miss = 0 THEN n_candidates END ASC NULLS LAST,
       |           CASE WHEN miss = 1 THEN -n_found END ASC NULLS LAST,
       |           n_candidates ASC, bands ASC, rows_per_band ASC
       |  LIMIT 1)""".stripMargin

  private def bandingAutoSql(withStamp: Boolean): String = {
    val configCtes = SweepConfigs.map { case (b, r) => sweepCtes(b, r) }
      .mkString(",\n")
    val jacs = SweepConfigs.map { case (b, r) => jacCtes(b, r) }
      .mkString(",\n")
    val stats = SweepConfigs.map { case (b, r) =>
      s"""SELECT $b AS bands, $r AS rows_per_band,
         |  (SELECT count(*) FROM cand_${b}_$r) AS n_candidates,
         |  (SELECT count(*) FROM found_${b}_$r) AS n_found""".stripMargin
    }.mkString("\nUNION ALL\n")
    val servedUnion = SweepConfigs.map { case (b, r) =>
      s"SELECT $b AS bands, $r AS rows_per_band, a, b, jaccard FROM jac_${b}_$r"
    }.mkString("\n    UNION ALL ")
    bandingWithBody(configCtes, jacs, stats) + "\n" +
    s"""${if (withStamp) s",dstamp AS (${ChoiceStore.documentsStampSql})\n" else ""}
       |SELECT CAST(c.bands AS BIGINT) AS bands,
       |       CAST(c.rows_per_band AS BIGINT) AS rows_per_band,
       |       j.a, j.b, j.jaccard${
         if (withStamp) ",\n       ds.doc_rows, ds.doc_content" else ""}
       |FROM chosen c
       |JOIN ($servedUnion) j
       |  ON j.bands = c.bands AND j.rows_per_band = c.rows_per_band
       |${if (withStamp) "CROSS JOIN dstamp ds\n" else ""}
       |WHERE j.jaccard >= $LshJaccardThreshold
       |ORDER BY j.a, j.b""".stripMargin
  }

  val q268Sql: String = bandingAutoSql(withStamp = false)

  // --------------------------------------------------------------- q274
  /** PERSISTED banding operating point — q272's generation-stamped-
    * choice discipline applied to the dedup dial (round-10 verdict
    * task #1, "extend the same pattern to q268's banding"): q268 pays
    * the full measurement (exact τ pair join + three banding
    * candidate/verify passes) on EVERY call; this query serves from
    * the corpus-stamped `choices/banding` artifact. Warm: ZERO
    * measurement jobs — one [[ChoiceStore.documentsStamp]] pass, a
    * sweep-sized artifact read, then ONE banding pass + verify at the
    * persisted (bands, rows_per_band) — the cost q16 pays at a fixed
    * dial. Cold or stale: the [[bandingMeasure]] sweep runs once,
    * [[Dedup.chooseBanding]] decides, artifact rewritten under the
    * current stamp. Serve flows artifact → band (re-read after
    * ensure); the oracle recomputes stamp, sweep, rule, and serve
    * independently. BENCH-EXCLUDED with the q16/q243/q268
    * quadratic-OUTPUT class (the served join's output is O(n²) on the
    * self-similar corpus — but note the warm SERVING cost is q16's,
    * not q268's measurement bill; the sf0.01 gate hashes it).
    * DedupSpec pins warm-zero-measure and wrong-stamp re-measure.
    */
  final case class BandingChoice(docRows: Long, docContent: Long,
      targetNum: Int, targetDen: Int, nExact: Long,
      sweep: Seq[(Int, Int, Long, Long)], bands: Int, rowsPerBand: Int)

  private[operators] def bandingChoicePath(sfDir: String): String =
    new java.io.File(
      s"target/choices/banding/${PathTag.tagFor(sfDir)}").getAbsolutePath

  private[operators] def bandingChoiceWrite(s: SparkSession, path: String,
      c: BandingChoice): Unit = {
    import s.implicits._
    c.sweep.map { case (b, r, nc, nf) =>
      (c.docRows, c.docContent, c.targetNum, c.targetDen, c.nExact,
        b, r, nc, nf, b == c.bands && r == c.rowsPerBand)
    }.toDF("doc_rows", "doc_content", "target_num", "target_den",
        "n_exact", "bands", "rows_per_band", "n_candidates", "n_found",
        "chosen")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  private[operators] def bandingChoiceRead(s: SparkSession,
      path: String): Option[BandingChoice] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    // Try: a torn artifact (dir present, no readable footer) degrades
    // to the cold path instead of throwing forever (round-11 advice)
    else scala.util.Try {
      val rows = s.read.parquet(path)
        .orderBy(col("bands"), col("rows_per_band")).collect()
      if (rows.isEmpty) None
      else {
        val h = rows.head
        val sweep = rows.toSeq.map(r => (r.getAs[Int]("bands"),
          r.getAs[Int]("rows_per_band"), r.getAs[Long]("n_candidates"),
          r.getAs[Long]("n_found")))
        rows.find(_.getAs[Boolean]("chosen")).map { ch =>
          BandingChoice(h.getAs[Long]("doc_rows"),
            h.getAs[Long]("doc_content"), h.getAs[Int]("target_num"),
            h.getAs[Int]("target_den"), h.getAs[Long]("n_exact"), sweep,
            ch.getAs[Int]("bands"), ch.getAs[Int]("rows_per_band"))
        }
      }
    }.toOption.flatten
  }

  /** Ensure a valid persisted banding for the current corpus stamp,
    * target, and sweep grid; `measure` returns (nExact, sweep rows)
    * and is call-by-need so the warm path provably never measures
    * (the q272 thunk law). */
  private[operators] def ensureBandingChoice(s: SparkSession, dir: String,
      measure: () => (Long, Seq[(Int, Int, Long, Long)])): BandingChoice =
    EnsureLock.withLock(bandingChoicePath(dir)) {
    // sidecar form: warm validation is metadata-scale (round-11
    // verdict #1), exactly equal to the content fold
    val (dr, dc) = ChoiceStore.documentsStampCachedFor(s, dir)
    val path = bandingChoicePath(dir)
    val warm = bandingChoiceRead(s, path).filter(c =>
      c.docRows == dr && c.docContent == dc &&
        c.targetNum == BandingTargetNum && c.targetDen == BandingTargetDen &&
        c.sweep.map(t => (t._1, t._2)).sorted == SweepConfigs.sorted)
    warm.getOrElse {
      // cross-process fence around the mutating phase only (the
      // ArtifactClaim doctrine); warm ensures stay claim-free reads
      graft.io.ArtifactClaim.withClaim(s, path, "banding sweep") {
        val (nExact, sweep) = measure()
        val (b, r) = Dedup.chooseBanding(sweep, nExact,
          BandingTargetNum, BandingTargetDen)
        val c = BandingChoice(dr, dc, BandingTargetNum, BandingTargetDen,
          nExact, sweep.sortBy(t => (t._1, t._2)), b, r)
        bandingChoiceWrite(s, path, c)
        c
      }
    }
    }

  /** Ensure the persisted banding artifact is warm for `dir` — the
    * measurement sweep is offline corpus maintenance (the
    * prepareBm25ParamsChoice convention). NOTE: never bench-prep this
    * at sf0.1 — the cold measure is the quadratic exact-τ pair bill
    * (the q268 class); the sf0.01 gate pays it once. */
  def prepareBandingChoice(s: SparkSession, dir: String): Unit = {
    ensureBandingChoice(s, dir, () => {
      val (_, _, nExact, sweep) = bandingMeasure(s, dir)
      (nExact, sweep)
    })
    ()
  }

  def q274BandingPersist(s: SparkSession, dir: String): DataFrame = {
    prepareBandingChoice(s, dir)
    // re-read so the serve flows artifact → band (the q272 discipline)
    val c = bandingChoiceRead(s, bandingChoicePath(dir)).getOrElse(
      sys.error("q274: choice artifact vanished after ensure"))
    // warm serving cost: one tokenize+signature pass, ONE banding pass,
    // candidate verify — exactly the fixed-dial q16 bill, no sweep
    val toks = Dedup.tokenSets(Tables.documents(s, dir), "doc_id", "text")
      .localCheckpoint()
    val cands = Dedup.lshCandidates(Dedup.minhashSig(toks, K),
      c.bands, c.rowsPerBand)
    Dedup.jaccardOnCandidates(toks, cands)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .filter(col("jaccard") >= LshJaccardThreshold)
      .select(lit(c.bands.toLong).as("bands"),
        lit(c.rowsPerBand.toLong).as("rows_per_band"),
        col("a"), col("b"), col("jaccard"),
        lit(c.docRows).as("doc_rows"), lit(c.docContent).as("doc_content"))
      .orderBy(col("a"), col("b"))
  }

  val q274Sql: String = bandingAutoSql(withStamp = true)

  val q242Sql: String =
    s"""WITH $q16Ctes,
       |lsh AS (
       |  SELECT c.a, c.b FROM cand c
       |  LEFT JOIN shared s ON s.a = c.a AND s.b = c.b
       |  JOIN sizes za ON za.id = c.a JOIN sizes zb ON zb.id = c.b
       |  WHERE COALESCE(s.shared, 0) * ${LshTauDen + LshTauNum}
       |        >= (za.sz + zb.sz) * $LshTauNum),
       |exshared AS (
       |  SELECT a.id AS a, b.id AS b, count(*) AS inter
       |  FROM tok a JOIN tok b ON a.word = b.word AND a.id < b.id
       |  GROUP BY a.id, b.id),
       |exact AS (
       |  SELECT s.a, s.b FROM exshared s
       |  JOIN sizes za ON za.id = s.a JOIN sizes zb ON zb.id = s.b
       |  WHERE s.inter * 17 >= (za.sz + zb.sz) * 7),
       |hit AS (SELECT e.a, e.b FROM exact e JOIN lsh l ON l.a = e.a AND l.b = e.b)
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
       |  (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_lsh,
       |  (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit,
       |  CAST((SELECT count(*) FROM exact) - (SELECT count(*) FROM hit)
       |       AS BIGINT) AS n_missed,
       |  round((SELECT count(*) FROM hit)
       |        / nullif(CAST((SELECT count(*) FROM exact) AS DOUBLE), 0.0), 6)
       |    AS recall,
       |  (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
       |  round((SELECT count(*) FROM lsh)
       |        / nullif(CAST((SELECT count(*) FROM cand) AS DOUBLE), 0.0), 6)
       |    AS candidate_precision""".stripMargin

  // ---------------------------------------------------------------- q19
  /** Duplicate clustering (SURVEY.md §7.1.8): the q16 near-dup PAIRS
    * propagated to connected components — every document labeled with
    * the minimum doc_id in its duplicate cluster. Oracle: transitive
    * closure via a DuckDB recursive CTE over the same edge set.
    */
  def q19DupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val edges = q16LshNearDups(s, dir).select(col("a"), col("b"))
    Dedup.connectedComponents(docs.select(col("doc_id").as("id")), edges)
      .select(col("id").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }

  /** Min-label transitive closure over the q16 pair set (q16's CTE
    * chain feeds `jac`): edges → symmetric closure → reach(id, comp)
    * accumulating every label reachable after closure → `comp` with
    * the per-cluster minimum. Shared by q19 and q100.
    */
  private val ccCtes: String =
    s"""edges AS (SELECT a, b FROM jac WHERE jaccard >= $LshJaccardThreshold),
       |sym AS (SELECT a AS src, b AS dst FROM edges
       |        UNION ALL SELECT b AS src, a AS dst FROM edges),
       |reach(id, comp) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.comp FROM reach r JOIN sym e ON e.src = r.id),
       |comp AS (
       |  SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS component
       |  FROM reach GROUP BY id)""".stripMargin

  val q19Sql: String =
    s"""WITH RECURSIVE $q16Ctes,
       |$ccCtes
       |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q44
  /** Connected components over a LINEAR-size synthetic graph — the
    * benchmarkable CC entry. q19's input is q16's near-dup pair set,
    * which is deliberately self-similar (quadratic pair volume), so
    * q19's bench cost is edge GENERATION, not the CC loop. This query
    * builds a deterministic edge table that is O(n) in `documents` and
    * specifically exercises the pointer-jumping optimization:
    *
    *  - '''chain''' edges (i, i+1) except at 100-boundaries → paths of
    *    length 100 (diameter 100: neighbor-min alone would need 100
    *    rounds; min-label + pointer jumping converges in O(log 100));
    *  - '''jump''' edges (i, (i·2654435761) mod n) for every 7th node →
    *    a pseudo-random graph mixed in (Knuth multiplicative hash —
    *    plain integer arithmetic, bit-identical in DuckDB).
    *
    * Oracle: the q19 recursive-CTE closure over the same edge set.
    */
  def q44CcSynth(s: SparkSession, dir: String): DataFrame = {
    val docs = graphVertices(s, dir)
    Dedup.connectedComponents(docs.select(col("doc_id").as("id")),
        synthEdges(s, dir))
      .select(col("id").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }

  /** The q44 synthetic edge set (chain + multiplicative-hash jumps) as a
    * reusable graph fixture — q101's PageRank runs over the same edges
    * so the two graph primitives are benchmarked on identical input.
    */
  /** Graph-fixture vertex source: the BARE documents scan, not the
    * adaptive-parallel one. The fixture reads only `doc_id` (zero
    * per-row CPU, so the scan-parallelization rationale in
    * [[Tables.documents]] doesn't apply), and the blanket round-robin
    * exchange actively HURTS the CC path: connectedComponents' local
    * union-find pre-pass contracts each edge partition's subgraph, so
    * scan-layout id-locality (chain edges co-resident per partition)
    * is what lets a 100-long path collapse in round 1 instead of
    * log₂(100) jump rounds. Measured A/B (adaptiveParallel off for
    * just this fixture): q44_cc_synth 9.6 → 5.0 s, q149_bfs_depth
    * 2.3 → 1.8 s, others unchanged (guide §2.4: remove exchanges that
    * buy nothing).
    */
  def graphVertices(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents").select(col("doc_id"))

  def synthEdges(s: SparkSession, dir: String): DataFrame = {
    val docs = graphVertices(s, dir)
    val n = docs.agg((max(col("doc_id")) + 1).as("n"))
    val chain = docs.as("x").join(docs.as("y"),
        col("x.doc_id") + 1 === col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .filter(col("a") % 100 =!= 99)
    val jump = docs.crossJoin(n)
      .filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("a"),
        (col("doc_id") * lit(2654435761L) % col("n")).as("b"))
      .filter(col("a") =!= col("b"))
      // keep targets that exist as vertices (no-op on contiguous ids,
      // but keeps Spark/oracle semantics aligned by construction)
      .join(docs.select(col("doc_id").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b"))
    chain.unionAll(jump)
  }

  /** DuckDB CTEs producing the same `edges(a, b)` multiset. */
  val synthEdgeCtes: String =
    """nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
      |chain AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b
      |  FROM documents x JOIN documents y ON y.doc_id = x.doc_id + 1
      |  WHERE x.doc_id % 100 <> 99),
      |jump AS (
      |  SELECT j.a, j.b FROM (
      |    SELECT d.doc_id AS a, (d.doc_id * 2654435761) % nn.n AS b
      |    FROM documents d CROSS JOIN nn WHERE d.doc_id % 7 = 0) j
      |  JOIN documents t ON t.doc_id = j.b
      |  WHERE j.a <> j.b),
      |edges AS (SELECT a, b FROM chain UNION ALL SELECT a, b FROM jump)""".stripMargin

  val q44Sql: String =
    s"""WITH RECURSIVE
      |$synthEdgeCtes,
      |sym AS (SELECT a AS src, b AS dst FROM edges
      |        UNION ALL SELECT b AS src, a AS dst FROM edges),
      |reach(id, comp) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, r.comp FROM reach r JOIN sym e ON e.src = r.id)
      |SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS component
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q17
  /** Exact all-pairs n-gram Jaccard (word 2-gram shingles), thresholded —
    * the brute-force spec the LSH path approximates.
    */
  val ShingleN = 2
  val JaccardThreshold = 0.1

  def q17ShingleJaccard(s: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleSets(Tables.documents(s, dir), "doc_id", "text", ShingleN)
    Dedup.allPairsJaccard(sh, JaccardThreshold, elemCol = "shingle")
      .withColumn("jaccard", round(col("jaccard"), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .orderBy(col("a"), col("b"))
  }

  val q17Sql: String =
    s"""WITH lists AS (
       |  SELECT doc_id AS id,
       |         list_filter(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' '), x -> x <> '') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT id, shingle FROM (
       |    SELECT id, unnest(list_transform(range(1, len(toks) - ${ShingleN - 2}),
       |                      i -> array_to_string(toks[i:i+${ShingleN - 1}], ' '))) AS shingle
       |    FROM lists)),
       |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
       |shared AS (
       |  SELECT a.id AS a, b.id AS b, count(*) AS shared
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
       |  GROUP BY a.id, b.id),
       |jac AS (
       |  SELECT s.a, s.b,
       |    round(CAST(s.shared AS DOUBLE) / CAST(za.sz + zb.sz - s.shared AS DOUBLE), 6) AS jaccard
       |  FROM shared s JOIN sizes za ON za.id = s.a JOIN sizes zb ON zb.id = s.b)
       |SELECT a, b, jaccard FROM jac WHERE jaccard >= $JaccardThreshold ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------- q18
  /** 16-bit SimHash per document (tf-weighted md5-nibble bits). */
  def q18Simhash(s: SparkSession, dir: String): DataFrame = {
    val tf = TfIdf.termFreq(
      TfIdf.tokens(Tables.documents(s, dir), "doc_id", "text", stopwords = Nil))
    Dedup.simhash16(tf).orderBy(col("doc_id"))
  }

  val q18Sql: String = {
    val high = "('8','9','a','b','c','d','e','f')"
    val bitSums = (0 until 16).map(i =>
      s"sum(CASE WHEN substr(md5(word), ${i + 1}, 1) IN $high THEN tf ELSE -tf END) AS b$i")
      .mkString(",\n    ")
    val value = (0 until 16).map(i =>
      s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""WITH $tokCte,
       |tf AS (SELECT id, word, count(*) AS tf FROM utoks WHERE word <> '' GROUP BY id, word),
       |sums AS (
       |  SELECT id,
       |    $bitSums
       |  FROM tf GROUP BY id)
       |SELECT id AS doc_id, CAST($value AS BIGINT) AS simhash16
       |FROM sums ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q61
  /** Winnowing near-dup candidates ([[Dedup.winnowFingerprints]],
    * Schleimer et al. '03): word-bigram hashes → window-of-4 minima →
    * pairs sharing ≥ 2 fingerprints. The position-robust complement to
    * MinHash (q16): winnowing GUARANTEES a hit for any shared run of
    * ≥ w+k-1 tokens (local plagiarism/boilerplate), where MinHash only
    * samples the global set. Pair-output op like q16/q17 — oracle-gated
    * at sf0.01, excluded from the bench for output volume.
    */
  val WinnowK = 2
  val WinnowW = 4
  val WinnowMinShared = 2L

  def q61Winnowing(s: SparkSession, dir: String): DataFrame = {
    val fp = Dedup.winnowFingerprints(
      Tables.documents(s, dir), "doc_id", "text", WinnowK, WinnowW)
    Dedup.winnowCandidates(fp, WinnowMinShared)
      .orderBy(col("a"), col("b"))
  }

  val q61Sql: String =
    s"""WITH lists AS (
       |  SELECT doc_id AS id,
       |         list_filter(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' '), x -> x <> '') AS toks
       |  FROM documents),
       |ps AS (SELECT id, unnest(range(1, len(toks) - ${WinnowK - 2})) AS i, toks FROM lists),
       |sh AS (SELECT id, i, md5(array_to_string(toks[i:i+${WinnowK - 1}], ' ')) AS h FROM ps),
       |wm AS (
       |  SELECT id,
       |         min(h) OVER (PARTITION BY id ORDER BY i ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS fp,
       |         count(*) OVER (PARTITION BY id ORDER BY i ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS wn
       |  FROM sh),
       |fp AS (SELECT DISTINCT id, fp FROM wm WHERE wn = $WinnowW)
       |SELECT a.id AS a, b.id AS b, count(*) AS shared
       |FROM fp a JOIN fp b ON a.fp = b.fp AND a.id < b.id
       |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------- q62
  /** Per-language top-5 bigrams by DOCUMENT frequency (distinct docs
    * containing the bigram) — the corpus-stats rollup behind stopword
    * mining and boilerplate detection. Deterministic rank contract
    * (ndocs DESC, shingle ASC). One shuffle on (lang, shingle) with
    * partial aggregation; the window ranks only the per-language
    * distinct-bigram table, not the corpus.
    */
  val TopBigramsK = 5

  def q62TopBigramsPerLang(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = Dedup.shingleSets(docs, "doc_id", "text", ShingleN)
      .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      .groupBy(col("lang"), col("shingle"))
      .agg(count(lit(1)).as("ndocs"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("ndocs").desc, col("shingle").asc)
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopBigramsK)
      .orderBy(col("lang"), col("rk"))
  }

  val q62Sql: String =
    s"""WITH lists AS (
       |  SELECT doc_id AS id,
       |         list_filter(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' '), x -> x <> '') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT id, shingle FROM (
       |    SELECT id, unnest(list_transform(range(1, len(toks) - ${ShingleN - 2}),
       |                      i -> array_to_string(toks[i:i+${ShingleN - 1}], ' '))) AS shingle
       |    FROM lists)),
       |cnt AS (SELECT d.lang, s.shingle, count(*) AS ndocs
       |        FROM sh s JOIN documents d ON d.doc_id = s.id GROUP BY 1, 2),
       |rk AS (SELECT lang, shingle, ndocs,
       |              row_number() OVER (PARTITION BY lang ORDER BY ndocs DESC, shingle ASC) AS rk
       |       FROM cnt)
       |SELECT lang, shingle, ndocs, CAST(rk AS BIGINT) AS rk
       |FROM rk WHERE rk <= $TopBigramsK ORDER BY lang, rk""".stripMargin

  // ---------------------------------------------------------------- q66
  /** Triangle ENUMERATION over an oriented edge list — the second
    * classic distributed-graph primitive after connected components
    * (q19/q44); triangle density distinguishes genuine duplicate
    * CLIQUES from chains of borderline pairs in a near-dup graph.
    * Algorithm: orient every edge small→large id, then two hash
    * equi-joins — wedges (x→y→z) joined against the closing edge
    * (x→z). Orientation means each triangle materializes exactly once
    * (x<y<z) with no dedup pass, and caps per-vertex join fan-out by
    * OUT-degree; on power-law graphs one orients by (degree, id)
    * instead of raw id — same plan, bounded skew (Suri & Vassilvitskii
    * '11). Input: a deterministic O(n) synthetic graph (chain edges
    * i→i+1 within 100-blocks as q44, plus skip edges i→i+2 at i%5==0,
    * closing a triangle at every skip).
    */
  def q66Triangles(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    def shifted(by: Int) = docs.as("x").join(docs.as("y"),
        col("x.doc_id") + by === col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    val chain = shifted(1).filter(col("a") % 100 =!= 99)
    val skip = shifted(2).filter(col("a") % 5 === 0 && col("a") % 100 <= 97)
    val e = chain.unionAll(skip)
    val wedges = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), Seq("y"))
    wedges.join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"), "left_semi")
      .select(col("x"), col("y"), col("z"))
      .orderBy(col("x"), col("y"), col("z"))
  }

  val q66Sql: String =
    """WITH chain AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b
      |  FROM documents x JOIN documents y ON y.doc_id = x.doc_id + 1
      |  WHERE x.doc_id % 100 <> 99),
      |skip AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b
      |  FROM documents x JOIN documents y ON y.doc_id = x.doc_id + 2
      |  WHERE x.doc_id % 5 = 0 AND x.doc_id % 100 <= 97),
      |e AS (SELECT a, b FROM chain UNION ALL SELECT a, b FROM skip)
      |SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |FROM e e1
      |JOIN e e2 ON e2.a = e1.b
      |WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)
      |ORDER BY x, y, z""".stripMargin

  // ---------------------------------------------------------------- q78
  /** Incremental-ingestion dedup: a verdict for every INCREMENT
    * document (source = [[IncrementSource]]) against the EXISTING
    * corpus (all other sources) — `exact_dup` (byte-identical text in
    * the corpus), `near_dup` (LSH candidate with verified Jaccard ≥
    * [[LshJaccardThreshold]]), else `new`; `match_id` is the smallest
    * matching corpus doc (−1 for new). This is how a 100 TB pipeline
    * actually dedups: per ingestion batch against persisted corpus
    * artifacts, never re-clustering the world. Candidates are DIRECTED
    * (increment bands probe corpus bands) so no corpus-internal pair
    * is ever generated — the join cost is |increment| × bucket width,
    * not the q16 self-join. At scale the corpus band table and text
    * hashes are persisted offline artifacts (same layout contract as
    * the IVF index / bucketed tables); the gate rebuilds them from the
    * raw table only because it starts from nothing.
    *
    * Similarity is minhash over word-3-GRAM shingle sets, not unigram
    * sets: this corpus's vocabulary is tiny, so unigram token sets are
    * near-identical across unrelated documents and every band bucket
    * collides (measured 529k directed candidates at sf0.1 — the
    * verification join, not the operator, became the cost). Shingles
    * restore the signature space: only genuinely near-duplicate docs
    * share 3-grams, candidates collapse to the true near-dup
    * structure, and the query stays benchable. (q16 keeps unigrams
    * deliberately — its POINT is the pair-volume demo.)
    */
  val IncrementSource = "src0"
  val IncShingleN = 3

  private val incCorpusBuilt = scala.collection.mutable.HashSet.empty[String]
  private def incCorpusPath(sfDir: String): String =
    new java.io.File(s"target/inc-dedup/${PathTag.tagFor(sfDir)}").getAbsolutePath

  /** OFFLINE half of the incremental-dedup split (same contract as the
    * IVF index build and the bucketed tables): materialize the corpus
    * side — shingle sets, LSH band table, text hashes — to parquet
    * once per sf dir. An ingestion batch then computes bands only for
    * itself and probes these artifacts; without the split every batch
    * re-runs the corpus shingle window and 12-md5 signature agg (it
    * dominated the probe cost ~3:1 when measured at sf0.1).
    */
  def prepareIncrementalCorpus(s: SparkSession, dir: String): String =
    incCorpusBuilt.synchronized {
      val base = incCorpusPath(dir)
      if (!incCorpusBuilt.contains(base)) {
        val corpus = Tables.documents(s, dir)
          .filter(col("source") =!= IncrementSource)
        val sh = Dedup.shingleSets(corpus, "doc_id", "text", IncShingleN)
        sh.write.mode("overwrite").parquet(s"$base/shingles")
        // bands derive from the WRITTEN shingles (one scan, not a
        // second live shingle computation)
        Dedup.lshBands(
            Dedup.minhashSig(s.read.parquet(s"$base/shingles"), K,
              elemCol = "shingle"),
            Bands, RowsPerBand)
          .write.mode("overwrite").parquet(s"$base/bands")
        // reduced to UNIQUE h → smallest owning doc: consumers (q78's
        // exact stage) then pay a pure
        // equi-join per lookup with no per-batch re-aggregation
        corpus.select(md5(col("text")).as("h"), col("doc_id").as("c_id"))
          .groupBy(col("h")).agg(min(col("c_id")).as("c_id"))
          .write.mode("overwrite").parquet(s"$base/hashes")
        incCorpusBuilt.add(base)
      }
      base
    }

  def q78IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val base = prepareIncrementalCorpus(s, dir)
    val docs = Tables.documents(s, dir)
    val inc = docs.filter(col("source") === IncrementSource)
    val exact = inc.select(col("doc_id"), md5(col("text")).as("h"))
      .join(s.read.parquet(s"$base/hashes"), Seq("h"))
      .groupBy(col("doc_id")).agg(min(col("c_id")).as("exact_match"))
    val incSh = Dedup.shingleSets(inc, "doc_id", "text", IncShingleN)
    val incBands = Dedup.lshBands(
      Dedup.minhashSig(incSh, K, elemCol = "shingle"), Bands, RowsPerBand)
    val cands = incBands.select(col("band"), col("bsig"), col("id").as("a"))
      .join(s.read.parquet(s"$base/bands")
          .select(col("band"), col("bsig"), col("id").as("b")),
        Seq("band", "bsig"))
      .select(col("a"), col("b")).distinct()
    // increment + corpus shingles share one schema and disjoint ids
    val near = Dedup.jaccardOnCandidates(
        incSh.unionByName(s.read.parquet(s"$base/shingles")), cands,
        elemCol = "shingle")
      .withColumn("jaccard", round(col("jaccard"), 6))
      .filter(col("jaccard") >= LshJaccardThreshold)
      .groupBy(col("a")).agg(min(col("b")).as("near_match"))
      .withColumnRenamed("a", "doc_id")
    inc.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left_outer")
      .join(near, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, lit("exact_dup"))
          .when(col("near_match").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("exact_match"), col("near_match"), lit(-1L)).as("match_id"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q87
  /** Cross-document boilerplate share: for every doc, the fraction of
    * its DISTINCT word-[[BoilShingleN]]-grams that occur in ≥
    * [[BoilerplateMinDf]] documents — the corpus-level complement to
    * q71's within-doc repetition (headers, licenses, templates repeat
    * ACROSS documents; q71 can't see them). Shingle document-frequency
    * is a groupBy + equi-join back, NOT a count-over-window on the
    * shingle: the window form shuffles every raw (doc, shingle) row
    * with no partial aggregation and lands each hot boilerplate
    * shingle on a single reducer, while the groupBy gets map-side
    * combine and the join inherits AQE skew splitting — exactly the
    * keys this query exists to find are the ones that would skew.
    * Zero-shingle docs (< n tokens) surface with share 0 via the
    * left join, not silently dropped.
    */
  val BoilShingleN = 3
  val BoilerplateMinDf = 3

  def q87BoilerplateShare(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // localCheckpoint: the shingle pipeline (posexplode + window lead +
    // distinct, the dominant stage) feeds BOTH the df aggregate and the
    // join probe, and Spark does not dedupe logical subplans — without
    // materializing it the corpus is shingled twice. Measured in
    // matched runs at sf0.1: ~3.8 s with the checkpoint vs ~4.9 s
    // shingling twice. At lake scale the same artifact is persisted to
    // parquet instead (q78's build/probe split).
    val sh = Dedup.shingleSets(docs, "doc_id", "text", BoilShingleN)
      .localCheckpoint()
    val dfTab = sh.groupBy(col("shingle")).agg(count(lit(1)).as("ndocs"))
    val per = sh.join(dfTab, Seq("shingle"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("ndocs") >= BoilerplateMinDf, 1L).otherwise(0L))
          .as("n_boiler"))
    docs.select(col("doc_id"))
      .join(per, col("doc_id") === col("id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        round(coalesce(col("n_boiler") / col("n_shingles"), lit(0.0)), 6)
          .as("boilerplate_share"))
      .orderBy(col("doc_id"))
  }

  val q87Sql: String =
    s"""WITH slists AS (
       |  SELECT doc_id AS id,
       |         list_filter(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' '), x -> x <> '') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT id,
       |         unnest(list_distinct(list_transform(range(1, len(toks) - ${BoilShingleN - 2}),
       |                i -> array_to_string(toks[i:i+${BoilShingleN - 1}], ' ')))) AS shingle
       |  FROM slists WHERE len(toks) >= $BoilShingleN),
       |dftab AS (SELECT shingle, count(*) AS ndocs FROM sh GROUP BY shingle),
       |per AS (
       |  SELECT id, count(*) AS n_shingles,
       |         CAST(sum(CASE WHEN ndocs >= $BoilerplateMinDf THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
       |  FROM sh JOIN dftab USING (shingle) GROUP BY id)
       |SELECT doc_id,
       |  CAST(coalesce(n_shingles, 0) AS BIGINT) AS n_shingles,
       |  round(coalesce(CAST(n_boiler AS DOUBLE) / n_shingles, 0.0), 6) AS boilerplate_share
       |FROM documents LEFT JOIN per ON doc_id = id
       |ORDER BY doc_id""".stripMargin

  private val sigMinsShingleSql: String = (0 until K).map(j =>
    f"min(md5('$j%d|' || shingle)) AS mh$j%02d").mkString(",\n    ")

  val q78Sql: String =
    s"""WITH slists AS (
       |  SELECT doc_id AS id,
       |         list_filter(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' '), x -> x <> '') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT id,
       |         unnest(list_distinct(list_transform(range(1, len(toks) - ${IncShingleN - 2}),
       |                i -> array_to_string(toks[i:i+${IncShingleN - 1}], ' ')))) AS shingle
       |  FROM slists WHERE len(toks) >= $IncShingleN),
       |sigs AS (
       |  SELECT id,
       |    $sigMinsShingleSql
       |  FROM sh GROUP BY id),
       |bandtbl AS (
       |  $bandSelectsSql),
       |cand AS (
       |  SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM bandtbl x
       |  JOIN documents dx ON dx.doc_id = x.id AND dx.source = '$IncrementSource'
       |  JOIN bandtbl y ON x.band = y.band AND x.bsig = y.bsig
       |  JOIN documents dy ON dy.doc_id = y.id AND dy.source <> '$IncrementSource'),
       |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
       |shared AS (
       |  SELECT c.a, c.b, count(*) AS shared
       |  FROM cand c
       |  JOIN sh ta ON ta.id = c.a
       |  JOIN sh tb ON tb.id = c.b AND tb.shingle = ta.shingle
       |  GROUP BY c.a, c.b),
       |near AS (
       |  SELECT c.a AS doc_id, min(c.b) AS near_match
       |  FROM cand c
       |  LEFT JOIN shared s ON s.a = c.a AND s.b = c.b
       |  JOIN sizes za ON za.id = c.a
       |  JOIN sizes zb ON zb.id = c.b
       |  WHERE round(CAST(COALESCE(s.shared, 0) AS DOUBLE) /
       |              CAST(za.sz + zb.sz - COALESCE(s.shared, 0) AS DOUBLE), 6)
       |        >= $LshJaccardThreshold
       |  GROUP BY c.a),
       |exact AS (
       |  SELECT i.doc_id, min(c.doc_id) AS exact_match
       |  FROM documents i JOIN documents c
       |    ON md5(i.text) = md5(c.text)
       |   AND i.source = '$IncrementSource' AND c.source <> '$IncrementSource'
       |  GROUP BY i.doc_id)
       |SELECT i.doc_id,
       |  CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
       |       WHEN n.near_match IS NOT NULL THEN 'near_dup'
       |       ELSE 'new' END AS verdict,
       |  COALESCE(e.exact_match, n.near_match, -1) AS match_id
       |FROM documents i
       |LEFT JOIN exact e ON e.doc_id = i.doc_id
       |LEFT JOIN near n ON n.doc_id = i.doc_id
       |WHERE i.source = '$IncrementSource'
       |ORDER BY i.doc_id""".stripMargin

  // ---------------------------------------------------------------- q76
  /** Benchmark decontamination: for every TEST document (q48's
    * content-hash split), the fraction of its distinct word-5-grams
    * that also occur anywhere in the TRAIN side. The canonical
    * pre-release check that eval data didn't leak into the training
    * mix (Brown et al. 2020 §C; the n-gram form every open pipeline
    * runs). Scale shape: both sides reduce to (shingle) / (doc,
    * shingle) sets via the codegen positional-shingle pipeline, the
    * train side is deduplicated BEFORE the join (shingle-keyed partial
    * distinct), and the overlap join is a shingle-hash equi-join —
    * never doc×doc. Zero-shingle test docs (shorter than the n-gram)
    * surface with contamination 0, not dropped.
    */
  val DecontaminationN = 5
  val ContaminationMax = 0.5

  def q76Decontamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .withColumn("split", Sampling.md5Split("text"))
    val test = docs.filter($"split" === "test")
    // per-side shingleSets is deliberate: the two branches partition
    // the corpus, so together they do ONE corpus-worth of shingle work
    // — a single all-docs pass referenced twice would need exchange
    // reuse to break even and an id-keyed split attach on top.
    val trainShingles = graft.dedup.Dedup
      .shingleSets(docs.filter($"split" === "train"), "doc_id", "text", DecontaminationN)
      .select($"shingle").distinct()
    val overlap = graft.dedup.Dedup
      .shingleSets(test, "doc_id", "text", DecontaminationN)
      .join(trainShingles.withColumn("hit", lit(1L)), Seq("shingle"), "left_outer")
      .groupBy($"id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce($"hit", lit(0L))).as("overlap"))
      .withColumnRenamed("id", "doc_id")
    test.select($"doc_id")
      .join(overlap, Seq("doc_id"), "left_outer")
      .select($"doc_id",
        coalesce($"n_shingles", lit(0L)).as("n_shingles"),
        coalesce($"overlap", lit(0L)).as("overlap"),
        round(coalesce($"overlap" / $"n_shingles", lit(0.0)), 6)
          .as("contamination"))
      .withColumn("flagged", $"contamination" >= ContaminationMax)
      .orderBy($"doc_id")
  }

  val q76Sql: String = {
    val n = DecontaminationN
    s"""WITH lists AS (
       |  SELECT doc_id,
       |         CASE WHEN substr(md5(text), 1, 1) < 'e' THEN 'train' ELSE 'test' END AS split,
       |         list_filter(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' '), x -> x <> '') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, split,
       |         unnest(list_distinct(list_transform(range(1, len(toks) - $n + 2),
       |                i -> array_to_string(toks[i:i+${n - 1}], ' ')))) AS shingle
       |  FROM lists WHERE len(toks) >= $n),
       |train_sh AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train'),
       |hits AS (
       |  SELECT t.doc_id,
       |         count(*) AS n_shingles,
       |         sum(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) AS overlap
       |  FROM (SELECT doc_id, shingle FROM sh WHERE split = 'test') t
       |  LEFT JOIN train_sh tr ON t.shingle = tr.shingle
       |  GROUP BY t.doc_id)
       |SELECT l.doc_id,
       |  CAST(COALESCE(h.n_shingles, 0) AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(h.overlap, 0) AS BIGINT) AS overlap,
       |  round(COALESCE(CAST(h.overlap AS DOUBLE) / h.n_shingles, 0.0), 6) AS contamination,
       |  (round(COALESCE(CAST(h.overlap AS DOUBLE) / h.n_shingles, 0.0), 6) >= $ContaminationMax) AS flagged
       |FROM lists l LEFT JOIN hits h ON l.doc_id = h.doc_id
       |WHERE l.split = 'test'
       |ORDER BY l.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q100
  /** Dedup survivorship — the curation end-product a training-data
    * pipeline actually ships: one verdict row per document. survivor_id
    * is the document's near-dup cluster minimum (q19's components);
    * the verdict distinguishes byte-exact duplicates (q14's text-hash
    * canonical beats the doc) from near-duplicates (cluster minimum
    * beats the doc) from kept survivors. Exact dups are always
    * near-dup-cluster members too — identical text means identical
    * token sets, identical minhash signatures, equal buckets in every
    * band, Jaccard 1 — so component ≤ canonical_id ≤ doc_id and the
    * CASE order is total. One extra text-hash aggregate + a doc_id
    * equi-join on top of the q19 clustering; at scale both sides are
    * already doc_id-keyed.
    */
  def q100DedupSurvivorship(s: SparkSession, dir: String): DataFrame = {
    val exact = Dedup.canonicalIds(Tables.documents(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("canonical_id"))
    exact.join(q19DupClusters(s, dir), Seq("doc_id"))
      .select(col("doc_id"), col("component").as("survivor_id"),
        when(col("canonical_id") < col("doc_id"), "exact_dup")
          .when(col("component") < col("doc_id"), "near_dup")
          .otherwise("kept").as("verdict"))
      .orderBy(col("doc_id"))
  }

  val q100Sql: String =
    s"""WITH RECURSIVE $q16Ctes,
       |$ccCtes,
       |exact AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
       |  FROM documents)
       |SELECT e.doc_id, c.component AS survivor_id,
       |  CASE WHEN e.canonical_id < e.doc_id THEN 'exact_dup'
       |       WHEN c.component < e.doc_id THEN 'near_dup'
       |       ELSE 'kept' END AS verdict
       |FROM exact e JOIN comp c ON c.doc_id = e.doc_id
       |ORDER BY e.doc_id""".stripMargin

  // --------------------------------------------------------------- q105
  /** MinHash estimator calibration: on a deterministic doc subset
    * (doc_id % 25 = 0 — linear in the corpus, pairs quadratic only in
    * the 4% sample), compare the k=12 signature agreement fraction
    * against exact token-set Jaccard for every pair sharing at least
    * one token. This is the SKETCH-QUALITY gate a 100 TB dedup run
    * performs before trusting q16's banding thresholds: |est − J|
    * quantifies whether k is large enough for the corpus's similarity
    * range (E[est] = J, σ = sqrt(J(1−J)/k)). Pair universe =
    * shared-token pairs (the same join the exact side uses), so both
    * engines enumerate identical pairs by construction.
    */
  val CalibMod = 25

  def q105MinhashCalibration(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") % CalibMod === 0)
    val toks = Dedup.tokenSets(docs, "doc_id", "text").localCheckpoint()
    val exact = Dedup.allPairsJaccard(toks, 0.0, elemCol = "word")
      .withColumn("jaccard", round(col("jaccard"), 6))
    val sig = Dedup.minhashSig(toks, K)
    val mhCols = (0 until K).map(j => f"mh$j%02d")
    val sa = sig.select((col("id").as("a") +: mhCols.map(c => col(c).as(s"a_$c"))): _*)
    val sb = sig.select((col("id").as("b") +: mhCols.map(c => col(c).as(s"b_$c"))): _*)
    val matches = mhCols.map(c =>
      when(col(s"a_$c") === col(s"b_$c"), 1).otherwise(0)).reduce(_ + _)
    exact.join(sa, Seq("a")).join(sb, Seq("b"))
      .select(col("a"), col("b"), col("jaccard"),
        round(matches.cast("double") / lit(K), 6).as("est"))
      .withColumn("abs_err", round(abs(col("jaccard") - col("est")), 6))
      .orderBy(col("a"), col("b"))
  }

  val q105Sql: String = {
    val mins = (0 until K).map(j =>
      f"min(md5('$j%d|' || word)) AS mh$j%02d").mkString(",\n    ")
    val matchSum = (0 until K).map(j =>
      f"CASE WHEN sa.mh$j%02d = sb.mh$j%02d THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH utoks AS (
       |  SELECT doc_id AS id,
       |         unnest(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' ')) AS word
       |  FROM documents WHERE doc_id % $CalibMod = 0),
       |tok AS (SELECT DISTINCT id, word FROM utoks WHERE word <> ''),
       |sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
       |shared AS (
       |  SELECT a.id AS a, b.id AS b, count(*) AS shared
       |  FROM tok a JOIN tok b ON a.word = b.word AND a.id < b.id
       |  GROUP BY a.id, b.id),
       |jac AS (
       |  SELECT s.a, s.b,
       |    round(CAST(s.shared AS DOUBLE) / (za.sz + zb.sz - s.shared), 6) AS jaccard
       |  FROM shared s JOIN sizes za ON za.id = s.a JOIN sizes zb ON zb.id = s.b),
       |sig AS (
       |  SELECT id,
       |    $mins
       |  FROM tok GROUP BY id)
       |SELECT j.a, j.b, j.jaccard,
       |       round(($matchSum) / ${K.toDouble}, 6) AS est,
       |       round(abs(j.jaccard - round(($matchSum) / ${K.toDouble}, 6)), 6) AS abs_err
       |FROM jac j JOIN sig sa ON sa.id = j.a JOIN sig sb ON sb.id = j.b
       |ORDER BY j.a, j.b""".stripMargin
  }

  // --------------------------------------------------------------- q108
  /** Cross-source duplication matrix: the q16 verified near-dup pairs
    * rolled up into unordered (source, source) counts — the provenance
    * diagnostic that tells a corpus curator WHICH feeds mirror each
    * other (crawl A re-hosting crawl B, two dumps of the same site)
    * versus which only self-duplicate. Diagonal = within-source
    * duplication; off-diagonal = cross-feed contamination, the rows
    * that drive "drop the mirrored feed" decisions before training.
    * The rollup is source-cardinality-bounded; its input is the LSH
    * pair set, so like q16/q19/q100 it is bench-excluded (pair-volume
    * cost, not operator cost — the matrix itself adds two broadcast
    * joins and one tiny aggregate).
    */
  def q108SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // plain keyed joins — doc→source is CORPUS-sized, so a forced
    // broadcast would OOM at lake scale; let size-based planning/AQE
    // broadcast only when the table actually fits
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    q16LshNearDups(s, dir).select(col("a"), col("b"))
      .join(src.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("source", "sa"), Seq("a"))
      .join(src.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("source", "sb"), Seq("b"))
      .select(least(col("sa"), col("sb")).as("src1"),
        greatest(col("sa"), col("sb")).as("src2"))
      .groupBy(col("src1"), col("src2"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("src1"), col("src2"))
  }

  val q108Sql: String =
    s"""WITH $q16Ctes,
       |p AS (SELECT a, b FROM jac WHERE jaccard >= $LshJaccardThreshold),
       |lab AS (
       |  SELECT least(da.source, db.source) AS src1,
       |         greatest(da.source, db.source) AS src2
       |  FROM p JOIN documents da ON da.doc_id = p.a
       |         JOIN documents db ON db.doc_id = p.b)
       |SELECT src1, src2, count(*) AS n_pairs
       |FROM lab GROUP BY src1, src2 ORDER BY src1, src2""".stripMargin

  // --------------------------------------------------------------- q128
  /** Train/test split LEAKAGE audit — the check that closes the loop
    * between the dedup layer and the split layer: q48's content-hash
    * split guarantees byte-identical duplicates co-assign, but NEAR
    * duplicates can still straddle the boundary and leak evaluation
    * data into training. This query rolls the q16 verified near-dup
    * pairs up by the split assignment of their endpoints: the
    * `test/train` row IS the leak (its pairs name eval docs whose
    * near-copy trains). Mean Jaccard goes through micro-unit longs
    * (one rounding at the end — reduce-order exact, the q107 rule).
    * Doc→split is corpus-sized, so the joins stay keyed (no forced
    * broadcast — the q108 rule); the rollup output is ≤3 rows.
    * Bench-excluded with the rest of the q16 pair family.
    */
  def q128SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val splits = Tables.documents(s, dir)
      .select(col("doc_id"), Sampling.md5Split("text").as("split"))
    q16LshNearDups(s, dir)
      .join(splits.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("split", "split_a"), Seq("a"))
      .join(splits.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("split", "split_b"), Seq("b"))
      .select(
        concat_ws("/", least(col("split_a"), col("split_b")),
          greatest(col("split_a"), col("split_b"))).as("splits"),
        round(col("jaccard") * 1e6).cast("long").as("jac_micro"))
      .groupBy(col("splits"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("jac_micro")) / count(lit(1)) / 1e6, 6).as("avg_jaccard"))
      .orderBy(col("splits"))
  }

  val q128Sql: String =
    s"""WITH $q16Ctes,
       |p AS (SELECT a, b, jaccard FROM jac WHERE jaccard >= $LshJaccardThreshold),
       |spl AS (
       |  SELECT doc_id,
       |         CASE WHEN substr(md5(text), 1, 1) < 'e'
       |              THEN 'train' ELSE 'test' END AS split
       |  FROM documents),
       |lab AS (
       |  SELECT least(sa.split, sb.split) || '/' || greatest(sa.split, sb.split)
       |           AS splits,
       |         CAST(round(p.jaccard * 1e6, 0) AS BIGINT) AS jac_micro
       |  FROM p JOIN spl sa ON sa.doc_id = p.a
       |         JOIN spl sb ON sb.doc_id = p.b)
       |SELECT splits, count(*) AS n_pairs,
       |       round(sum(jac_micro) / count(*) / 1e6, 6) AS avg_jaccard
       |FROM lab GROUP BY splits ORDER BY splits""".stripMargin

  // --------------------------------------------------------------- q116
  /** Per-SOURCE MinHash signatures by sketch UNION — the mergeability
    * demo that makes MinHash a 100 TB structure: the signature of a
    * union of sets is the elementwise MIN of the signatures, so
    * per-source (or per-shard, per-day, per-datacenter) sketches
    * combine in one tiny aggregation without touching documents
    * again. Here: doc-level token sets → per-source k=12 signature
    * (one grouped agg — Spark's partial aggregation IS the sketch
    * merge) → source-pair Jaccard ESTIMATES from signature agreement.
    * The estimate matrix is the sketch-side companion of q108's exact
    * near-dup pair counts: q108 tells you which feeds mirror each
    * other document-by-document; q116 approximates corpus-level
    * vocabulary overlap from 12 hashes per source. Source²-bounded
    * output; the only corpus-sized stage is the token explode q15
    * already pays.
    */
  def q116SourceMinhashUnion(s: SparkSession, dir: String): DataFrame = {
    // source-level token sets: same tokenSets contract keyed by source
    // (the union of the source's doc token sets — which is exactly what
    // the signature min-merge sketches)
    val toks = Dedup.tokenSets(
      Tables.documents(s, dir).select(col("source"), col("text")),
      "source", "text")
    val sig = Dedup.minhashSig(toks, K)
    val mhCols = (0 until K).map(j => f"mh$j%02d")
    val sa = sig.select((col("id").as("src1") +:
      mhCols.map(c => col(c).as(s"a_$c"))): _*)
    val sb = sig.select((col("id").as("src2") +:
      mhCols.map(c => col(c).as(s"b_$c"))): _*)
    val matches = mhCols.map(c =>
      when(col(s"a_$c") === col(s"b_$c"), 1).otherwise(0)).reduce(_ + _)
    sa.join(sb, col("src1") < col("src2"))
      .select(col("src1"), col("src2"),
        round(matches.cast("double") / lit(K), 6).as("est_jaccard"))
      .orderBy(col("src1"), col("src2"))
  }

  val q116Sql: String = {
    val mins = (0 until K).map(j =>
      f"min(md5('$j%d|' || word)) AS mh$j%02d").mkString(",\n    ")
    val matchSum = (0 until K).map(j =>
      f"CASE WHEN sa.mh$j%02d = sb.mh$j%02d THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH utoks AS (
       |  SELECT source,
       |         unnest(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' ')) AS word
       |  FROM documents),
       |tok AS (SELECT DISTINCT source, word FROM utoks WHERE word <> ''),
       |sig AS (
       |  SELECT source,
       |    $mins
       |  FROM tok GROUP BY source)
       |SELECT sa.source AS src1, sb.source AS src2,
       |       round(($matchSum) / ${K.toDouble}, 6) AS est_jaccard
       |FROM sig sa JOIN sig sb ON sa.source < sb.source
       |ORDER BY src1, src2""".stripMargin
  }

  // --------------------------------------------------------------- q117
  /** KMV (k-minimum-values) distinct-count sketch per source — the
    * distinct-counting sketch that, unlike HLL (whose register layout
    * is implementation-specific), is ENGINE-PORTABLE and therefore
    * oracle-gatable: the estimator is a pure function of the k
    * smallest md5 values of the distinct elements
    * (Bar-Yossef et al. 2002: D̂ = (k−1)/u_k with u_k the k-th
    * minimum normalized to (0,1)). Sources with fewer than k distinct
    * elements report the EXACT count (you hold every value — the
    * standard KMV convention). Like q116's signatures the k-min set
    * is MERGEABLE (k smallest of a union = k smallest of the pooled
    * k-min sets), so at scale the rank runs as a partial→final k-min
    * per partition — the TopKPerKeyExec pattern; the window form here
    * is source-cardinality-bounded. 48-bit hash prefix (the q113
    * uniform construction): collisions only bias the estimator by a
    * vanishing amount and identically in both engines.
    */
  val KmvK = 8

  def q117KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val toks = Dedup.tokenSets(
      Tables.documents(s, dir).select(col("source"), col("text")),
      "source", "text")
    val hashed = toks.select(col("id").as("source"), col("word"),
      conv(substring(md5(col("word").cast("binary")), 1, 12), 16, 10)
        .cast("long").as("h"))
    val byH = Window.partitionBy(col("source")).orderBy(col("h"), col("word"))
    hashed
      .withColumn("rk", row_number().over(byH))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct_exact"),
        max(when(col("rk") === KmvK, col("h"))).as("hk"))
      .select(col("source"), col("n_distinct_exact"),
        round(when(col("n_distinct_exact") < KmvK,
            col("n_distinct_exact").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble)
            / ((col("hk") + lit(0.5)) / lit(281474976710656.0))), 6)
          .as("kmv_est"))
      .withColumn("rel_err", round(
        abs(col("kmv_est") - col("n_distinct_exact")) / col("n_distinct_exact"),
        6))
      .orderBy(col("source"))
  }

  val q117Sql: String =
    s"""WITH utoks AS (
       |  SELECT source,
       |         unnest(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' ')) AS word
       |  FROM documents),
       |tok AS (SELECT DISTINCT source, word FROM utoks WHERE word <> ''),
       |hashed AS (
       |  SELECT source, word,
       |    CAST(concat('0x', substr(md5(word), 1, 12)) AS BIGINT) AS h
       |  FROM tok),
       |ranked AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h, word) AS rk
       |  FROM hashed),
       |agg AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_distinct_exact,
       |         max(CASE WHEN rk = $KmvK THEN h END) AS hk
       |  FROM ranked GROUP BY source),
       |est AS (
       |  SELECT source, n_distinct_exact,
       |    round(CASE WHEN n_distinct_exact < $KmvK
       |               THEN CAST(n_distinct_exact AS DOUBLE)
       |               ELSE ${(KmvK - 1).toDouble}
       |                    / ((hk + 0.5) / 281474976710656.0) END, 6) AS kmv_est
       |  FROM agg)
       |SELECT source, n_distinct_exact, kmv_est,
       |  round(abs(kmv_est - n_distinct_exact) / n_distinct_exact, 6) AS rel_err
       |FROM est ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q172
  /** Canonical selection + purge manifest — the RESOLUTION step that
    * turns q19's duplicate clusters into an executable decision: keep
    * one canonical document per cluster (longest text, doc_id
    * tie-break — the "best copy" policy a scrubber applies) and emit
    * the per-source purge accounting. Rank-within-cluster is one
    * component-keyed window over the clustered doc table; everything
    * else is the per-source rollup. At 100 TB the purge list itself is
    * (doc_id) keys — the q152 hashes-not-content rule — and the window
    * partitions by cluster, which near-dup clustering keeps small by
    * construction (clusters ARE bounded duplicate groups, not the
    * corpus).
    */
  def q172CanonicalPurge(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val comp = Dedup.connectedComponents(
        Tables.documents(s, dir).select(col("doc_id").as("id")),
        q16LshNearDups(s, dir).select(col("a"), col("b")))
      .select(col("id").as("doc_id"), col("component"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    comp.join(docs, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rk") > 1, 1L).otherwise(0L)).as("n_purged"),
        sum(when(col("rk") > 1, col("n_chars")).otherwise(0L))
          .as("purged_chars"))
      .withColumn("n_kept", col("n_docs") - col("n_purged"))
      .orderBy(col("source"))
  }

  val q172Sql: String =
    s"""WITH RECURSIVE $q16Ctes,
       |$ccCtes,
       |ranked AS (
       |  SELECT d.source, d.n_chars,
       |    row_number() OVER (PARTITION BY c.component
       |                       ORDER BY d.n_chars DESC, d.doc_id) AS rk
       |  FROM comp c JOIN documents d USING (doc_id))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
       |  CAST(sum(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) AS BIGINT)
       |    AS purged_chars,
       |  CAST(count(*) - sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept
       |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q117_kmv_distinct", q117KmvDistinct _, q117Sql),
    Query("q116_source_minhash_union", q116SourceMinhashUnion _, q116Sql),
    Query("q108_source_overlap", q108SourceOverlap _, q108Sql),
    Query("q128_split_leakage", q128SplitLeakage _, q128Sql),
    Query("q172_canonical_purge", q172CanonicalPurge _, q172Sql),
    Query("q105_minhash_calibration", q105MinhashCalibration _, q105Sql),
    Query("q100_dedup_survivorship", q100DedupSurvivorship _, q100Sql),
    Query("q87_boilerplate_share", q87BoilerplateShare _, q87Sql),
    Query("q76_decontamination", q76Decontamination _, q76Sql),
    Query("q78_incremental_dedup", q78IncrementalDedup _, q78Sql),
    Query("q66_triangles", q66Triangles _, q66Sql),
    Query("q61_winnowing", q61Winnowing _, q61Sql),
    Query("q62_top_bigrams_per_lang", q62TopBigramsPerLang _, q62Sql),
    Query("q14_dedup_exact", q14DedupExact _, q14Sql),
    Query("q15_minhash", q15Minhash _, q15Sql),
    Query("q16_lsh_near_dups", q16LshNearDups _, q16Sql),
    Query("q19_dup_clusters", q19DupClusters _, q19Sql),
    Query("q44_cc_synth", q44CcSynth _, q44Sql),
    Query("q242_lsh_recall_audit", q242LshRecallAudit _, q242Sql),
    Query("q243_banding_sweep", q243BandingSweep _, q243Sql),
    Query("q268_banding_auto", q268BandingAuto _, q268Sql),
    Query("q274_banding_persist", q274BandingPersist _, q274Sql),
    Query("q17_shingle_jaccard", q17ShingleJaccard _, q17Sql),
    Query("q18_simhash", q18Simhash _, q18Sql),
  )
}
