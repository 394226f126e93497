package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables
import graft.ann.Ann
import graft.io.SizedWrite.SizedWriteOps

/** Round-17 batch: operational surfaces over the persisted
  * engine-choice artifacts (the q272/q273/q274/q277 discipline's ops
  * half — reference repo has no counterpart; this is the
  * LLM-data-pipeline extension surface).
  */
object Round17Queries {

  // --------------------------------------------------------------- q278
  /** CHOICE STALENESS AUDIT over ALL FOUR persisted dials — the ops
    * surface the persisted-choice family was missing: one gated query
    * that reports, per dial (BM25 (k1,b), IVF-PQ nprobe, LSH banding,
    * unigram vocabulary), the artifact's persisted stamp (the corpus
    * [[ChoiceStore.documentsStamp]] for the three corpus-keyed dials;
    * the index [[Ann.ivfPqGenerationStamp]] triple for nprobe), its
    * chosen operating point, its sweep cardinality, and whether it is
    * FRESH against the live stamp — what a production deployment
    * monitors nightly to know its tuning artifacts still describe the
    * state they serve.
    *
    * The query is maintenance-then-audit by contract: each dial is
    * first ENSURED (idempotent — warm artifacts pay one stamp pass and
    * a tiny read, the q272 thunk law), so the audit is deterministic
    * for the gate and `fresh` is 1 on every row; the STALE path
    * (fresh = 0) is exercised by [[auditChoices]] directly in
    * Round17QueriesSpec with a perturbed artifact, so the flag is
    * non-vacuous. The oracle is the strongest artifact-content gate in
    * the registry: it independently recomputes both stamps AND all
    * four sweeps+rules (the shared `bm25SweepCtes` /
    * `ivfPqSweepCtesSql` / `bandingChosenSql` / `vocabSweepCtes`
    * replay chains, each inside its own scoped WITH subquery so CTE
    * names never collide), so a corrupted, stale, or hand-edited
    * artifact — wrong stamp, wrong dial, truncated sweep —
    * hash-mismatches in one verdict.
    *
    * 100 TB shape: the audit itself is metadata-scale, and since
    * round 12 that claim is literal — four artifact reads + two
    * SIDECAR stamp validations (file listing + TSV read each,
    * [[graft.io.StampSidecar]]; zero data reads when no file moved —
    * the round-11 verdict's content-scan boundary closed); the ensure
    * verbs amortize exactly as measured
    * in SCALE.md (q272/q273/q277). The output is FOUR rows — the
    * driver-side assembly is the bounded-collect class (|dials| rows,
    * the denseArgmax contract).
    */
  /** Read-only audit core (no ensure — the spec's stale-path surface):
    * rows only for dials whose artifact exists. */
  def auditChoices(s: SparkSession, dir: String): DataFrame = {
    // sidecar form for both live stamps: the audit really is
    // metadata-scale now — file listings + TSV reads, zero data scans
    // when no file moved (round-11 verdict #1)
    val (dr, dc) = ChoiceStore.documentsStampCachedFor(s, dir)
    def fresh(pr: Long, pc: Long): Long = if (pr == dr && pc == dc) 1L else 0L
    val rows =
      Seq.newBuilder[(String, Long, Long, Long, Long, Long, Long, Long)]
    Round15Queries.bm25ChoiceRead(s, Round15Queries.bm25ChoicePath(dir))
      .foreach { c => rows += (("bm25-params", c.docRows, c.docContent, 0L,
        fresh(c.docRows, c.docContent), c.k1Micro, c.bMicro,
        c.sweep.size.toLong)) }
    // the index-keyed dial: persisted generation triple vs the LIVE
    // index stamp (the artifact nests under the index dir, so an
    // existing choice implies an existing index to stamp)
    val idx = AnnQueries.ivfPqIndexPath(dir)
    Ann.ivfPqChoiceRead(s, idx).foreach { c =>
      val (gr, gc, gf) = Ann.ivfPqGenerationStampCached(s, idx)
      val f = if (c.genRows == gr && c.genContent == gc &&
        c.genFiles == gf) 1L else 0L
      rows += (("ivfpq-nprobe", c.genRows, c.genContent, c.genFiles, f,
        c.nprobe.toLong, c.targetMicro, c.curve.size.toLong))
    }
    DedupQueries.bandingChoiceRead(s, DedupQueries.bandingChoicePath(dir))
      .foreach { c => rows += (("lsh-banding", c.docRows, c.docContent, 0L,
        fresh(c.docRows, c.docContent), c.bands.toLong,
        c.rowsPerBand.toLong, c.sweep.size.toLong)) }
    UnigramQueries.vocabChoiceRead(s, UnigramQueries.vocabChoicePath(dir))
      .foreach { c => rows += (("unigram-vocab", c.docRows, c.docContent, 0L,
        fresh(c.docRows, c.docContent), c.chosen.toLong, 0L,
        c.curve.size.toLong)) }
    import s.implicits._
    rows.result().toDF("dial", "stamp_rows", "stamp_content",
      "stamp_files", "fresh", "chosen_a", "chosen_b", "n_sweep")
  }

  def q278ChoiceStalenessAudit(s: SparkSession, dir: String): DataFrame = {
    // the nightly composition: every persisted dial ensured warm
    // (idempotent), THEN audited — so the gate is deterministic and
    // the audit's stamps are the live state's
    Round15Queries.prepareBm25ParamsChoice(s, dir)
    val idx = AnnQueries.prepareIvfPq(s, dir)
    Ann.ivfPqEnsureNprobeChoice(s, idx, AnnQueries.PqTopK,
      AnnQueries.NprobeTarget, AnnQueries.NprobeSweep,
      () => AnnQueries.querySubset(s, dir), () => AnnQueries.emb(s, dir))
    DedupQueries.prepareBandingChoice(s, dir)
    UnigramQueries.prepareVocabChoice(s, dir)
    auditChoices(s, dir).orderBy(col("dial"))
  }

  /** The oracle recomputes both stamps and ALL FOUR sweeps+rules in
    * scoped subqueries (each dial's shared replay chain runs inside
    * its own WITH scope, so CTE names never collide). Parameterized by
    * the gate dir because the nprobe branch replays the sweep from the
    * index artifacts materialized FOR that dir (the q272 convention).
    */
  def q278SqlFor(sfDir: String): String = {
    def indent(sql: String): String = sql.linesIterator.mkString("\n  ")
    val idx = AnnQueries.ivfPqIndexPath(sfDir)
    val dstampSub = ChoiceStore.documentsStampSql.linesIterator
      .mkString("\n     ")
    s"""SELECT a.dial, a.stamp_rows, a.stamp_content, a.stamp_files,
       |       CAST(1 AS BIGINT) AS fresh, a.chosen_a, a.chosen_b, a.n_sweep
       |FROM (
       |  SELECT 'bm25-params' AS dial,
       |         ds.doc_rows AS stamp_rows, ds.doc_content AS stamp_content,
       |         CAST(0 AS BIGINT) AS stamp_files,
       |         bm.k1_micro AS chosen_a, bm.b_micro AS chosen_b,
       |         CAST(${Round15Queries.bm25GridPoints.size} AS BIGINT)
       |           AS n_sweep
       |  FROM (
       |  ${indent(Round15Queries.bm25SweepCtes)}
       |  SELECT CAST(k1_micro AS BIGINT) AS k1_micro,
       |         CAST(b_micro AS BIGINT) AS b_micro FROM chosen) bm
       |  CROSS JOIN ($dstampSub) ds
       |  UNION ALL
       |  SELECT 'ivfpq-nprobe' AS dial,
       |         nb.gen_rows AS stamp_rows, nb.gen_content AS stamp_content,
       |         nb.gen_files AS stamp_files,
       |         nb.np AS chosen_a,
       |         CAST(${math.round(AnnQueries.NprobeTarget * 1e6)} AS BIGINT)
       |           AS chosen_b,
       |         CAST(${AnnQueries.NprobeSweep.size} AS BIGINT) AS n_sweep
       |  FROM (
       |  ${indent(AnnQueries.ivfPqSweepCtesSql(idx))},
       |  recalls AS (
       |    SELECT n.np,
       |           coalesce(h.n_hits, 0) / nullif(CAST(t.n AS DOUBLE), 0)
       |             AS rec
       |    FROM nps n LEFT JOIN hits h ON h.np = n.np CROSS JOIN tot t),
       |  chosen AS (
       |    SELECT coalesce(
       |      (SELECT min(np) FROM recalls
       |       WHERE rec >= ${AnnQueries.NprobeTarget}),
       |      (SELECT max(np) FROM recalls)) AS np),
       |  ${indent(AnnQueries.stampCteSql(idx))}
       |  SELECT CAST(c.np AS BIGINT) AS np,
       |         st.gen_rows, st.gen_content, st.gen_files
       |  FROM chosen c CROSS JOIN stamp st) nb
       |  UNION ALL
       |  SELECT 'lsh-banding' AS dial,
       |         ds.doc_rows AS stamp_rows, ds.doc_content AS stamp_content,
       |         CAST(0 AS BIGINT) AS stamp_files,
       |         bd.bands AS chosen_a, bd.rows_per_band AS chosen_b,
       |         CAST(${DedupQueries.SweepConfigs.size} AS BIGINT) AS n_sweep
       |  FROM (
       |  ${indent(DedupQueries.bandingChosenSql)}) bd
       |  CROSS JOIN ($dstampSub) ds
       |  UNION ALL
       |  SELECT 'unigram-vocab' AS dial,
       |         ds.doc_rows AS stamp_rows, ds.doc_content AS stamp_content,
       |         CAST(0 AS BIGINT) AS stamp_files,
       |         vc.vocab_size AS chosen_a, CAST(0 AS BIGINT) AS chosen_b,
       |         CAST(${graft.text.UnigramLm.VocabSweep.size} AS BIGINT)
       |           AS n_sweep
       |  FROM (
       |  ${indent(UnigramQueries.vocabSweepCtes)}
       |  SELECT CAST(vocab_size AS BIGINT) AS vocab_size FROM chosenv) vc
       |  CROSS JOIN ($dstampSub) ds
       |) a
       |ORDER BY a.dial""".stripMargin
  }

  // --------------------------------------------------------------- q280
  /** COMPOSED corpus-ingest cycle over the documents lake — q276's
    * twin for the corpus-keyed dials (round-11 verdict #3): q276
    * composes the INDEX lifecycle; this composes the LAKE's. One
    * self-contained cycle per call over an engine-owned lake replica
    * (an sfDir-shaped directory, so every dir-keyed ensure/measure/
    * stamp surface composes verbatim):
    *
    *   1. SEED    — the lake is rebuilt fresh with the base corpus
    *      (doc_id % [[IngestMod]] ≠ [[IngestRem]]) and its choice
    *      artifacts wiped (self-contained ⇒ deterministic per call).
    *   2. WARM-UP — all four dials ensured (uncounted): the three
    *      corpus-keyed dials measure against the BASE lake; the
    *      index-keyed nprobe dial warms against the shared index.
    *   3. INGEST  — the held-out batch is APPENDED (new parquet files;
    *      existing files untouched — the sidecar folds only the new
    *      ones, [[graft.io.StampSidecar]]).
    *   4. COUNTED ENSURE — the [[ChoiceStore.documentsStamp]] moved,
    *      the index generation did NOT: exactly the three stale
    *      corpus-keyed dials re-measure (once each, against the FULL
    *      lake); the nprobe choice stays warm at zero tuning jobs —
    *      SELECTIVE invalidation, observed through counted thunks.
    *   5. CONVERGENCE — a second ensure re-measures NOTHING (the q276
    *      self-quiescing law's lake analogue; Round17QueriesSpec pins
    *      it with throwing thunks).
    *
    * Output: one row per dial carrying the dial's key stamp BEFORE
    * ingest, its persisted stamp AFTER, the staleness verdict the
    * append induced (computed from those stamps, not asserted), the
    * OBSERVED measure counts of phases 4 and 5, and the re-measured
    * chosen operating point. The oracle replays the base stamp (the
    * filtered corpus), the post stamp (lake content ≡ the full
    * documents table after ingest — append restores exactly the held-
    * out rows), the live index stamp, and ALL FOUR chosen dials
    * through the standard sweep chains — so a cycle that re-measured
    * the wrong dial set, skipped a re-measure, or chose a different
    * point hash-mismatches in one verdict.
    *
    * 100 TB shape: the cycle's ingest bill is the append itself plus
    * re-measuring ONLY corpus-keyed dials (each a one-sweep bill that
    * then amortizes across every serve until the next ingest); stamp
    * validations are sidecar-metadata-scale; nothing index-shaped is
    * touched, re-read, or re-tuned by a documents-side ingest.
    * Bench: deliberately NOT in the headline set — the cycle pays two
    * COLD measurement bills per call by construction (base + post
    * ingest), including the q274-class quadratic banding measure; its
    * serving-path cost is benched by the q272/q273/q277 trio, its
    * composition correctness by the sf0.01 gate (the q278/q274
    * exclusion rationale).
    */
  val IngestMod = 4L
  val IngestRem = 3L

  private[operators] def lakePath(sfDir: String): String =
    new java.io.File(s"target/doclake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
  }

  /** The cycle with observable measure thunks — the spec drives the
    * convergence law through `counts`. Returns the 13-column per-dial
    * report (4 rows). */
  private[operators] def corpusIngestCycleCore(s: SparkSession,
      dir: String): DataFrame = {
    val lake = lakePath(dir)
    val lakeDocs = s"$lake/documents.parquet"
    // 1. SEED: fresh lake + wiped lake-keyed artifacts
    rmrf(new java.io.File(lake))
    // (the lake's doc-stamp SIDECAR is deliberately not wiped: it is a
    // pure cache keyed by exact file identities, and the rebuild gives
    // every file a fresh name — stale entries drop, new files rescan)
    Seq(Round15Queries.bm25ChoicePath(lake),
        DedupQueries.bandingChoicePath(lake),
        UnigramQueries.vocabChoicePath(lake))
      .foreach(p => rmrf(new java.io.File(p)))
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % IngestMod =!= IngestRem)
      .sizedWrite.mode("overwrite").parquet(lakeDocs)

    val counts = scala.collection.mutable.Map(
      "bm25-params" -> 0L, "ivfpq-nprobe" -> 0L, "lsh-banding" -> 0L,
      "unigram-vocab" -> 0L)
    val idx = AnnQueries.prepareIvfPq(s, dir)
    def ensureAll(): Unit = {
      Round15Queries.ensureBm25ParamsChoice(s, lake, () => {
        counts("bm25-params") += 1
        Round15Queries.bm25SweepQuality(
          Round15Queries.multiBm25Components(s, lake),
          graft.plans.TopK.idRangeSafe(
            Tables.documents(s, lake).select(col("doc_id")), "doc_id",
            1L << 25))
      })
      Ann.ivfPqEnsureNprobeChoice(s, idx, AnnQueries.PqTopK,
        AnnQueries.NprobeTarget, AnnQueries.NprobeSweep,
        () => { counts("ivfpq-nprobe") += 1; AnnQueries.querySubset(s, dir) },
        () => AnnQueries.emb(s, dir))
      DedupQueries.ensureBandingChoice(s, lake, () => {
        counts("lsh-banding") += 1
        val (_, _, nExact, sweep) = DedupQueries.bandingMeasure(s, lake)
        (nExact, sweep)
      })
      UnigramQueries.ensureVocabChoice(s, lake, () => {
        counts("unigram-vocab") += 1
        // trainUncached: the (session, dir) train cache must not leak
        // a BASE-lake model into the post-ingest re-measure
        graft.text.UnigramLm.trainUncached(s, lake)
      })
      ()
    }
    // 2. WARM-UP (uncounted): dials valid for the base lake state
    ensureAll()
    counts.keys.foreach(k => counts(k) = 0L)
    val (baseRows, baseContent) = ChoiceStore.documentsStampCachedFor(s, lake)
    val (bgr, bgc, bgf) = Ann.ivfPqGenerationStampCached(s, idx)
    // 3. INGEST: append the held-out batch — new files only
    docs.filter(col("doc_id") % IngestMod === IngestRem)
      .sizedWrite.mode("append").parquet(lakeDocs)
    // 4. COUNTED ENSURE: exactly the stale dials re-measure
    ensureAll()
    val measuredIngest = counts.toMap
    counts.keys.foreach(k => counts(k) = 0L)
    // 5. CONVERGENCE: a second run re-measures nothing
    ensureAll()
    val measuredSecond = counts.toMap

    val bm = Round15Queries.bm25ChoiceRead(s,
      Round15Queries.bm25ChoicePath(lake)).getOrElse(
      sys.error("q280: bm25 artifact vanished after ensure"))
    val np = Ann.ivfPqChoiceRead(s, idx).getOrElse(
      sys.error("q280: nprobe artifact vanished after ensure"))
    val bd = DedupQueries.bandingChoiceRead(s,
      DedupQueries.bandingChoicePath(lake)).getOrElse(
      sys.error("q280: banding artifact vanished after ensure"))
    val vc = UnigramQueries.vocabChoiceRead(s,
      UnigramQueries.vocabChoicePath(lake)).getOrElse(
      sys.error("q280: vocab artifact vanished after ensure"))
    def staleOf(pr: Long, pc: Long, br: Long, bc: Long): Long =
      if (pr == br && pc == bc) 0L else 1L
    val rows = Seq(
      ("bm25-params", 1L, baseRows, baseContent,
        bm.docRows, bm.docContent, 0L,
        staleOf(bm.docRows, bm.docContent, baseRows, baseContent),
        measuredIngest("bm25-params"), measuredSecond("bm25-params"),
        bm.k1Micro, bm.bMicro,
        Round15Queries.bm25GridPoints.size.toLong),
      ("ivfpq-nprobe", 0L, bgr, bgc,
        np.genRows, np.genContent, np.genFiles,
        staleOf(np.genRows, np.genContent, bgr, bgc),
        measuredIngest("ivfpq-nprobe"), measuredSecond("ivfpq-nprobe"),
        np.nprobe.toLong, np.targetMicro,
        AnnQueries.NprobeSweep.size.toLong),
      ("lsh-banding", 1L, baseRows, baseContent,
        bd.docRows, bd.docContent, 0L,
        staleOf(bd.docRows, bd.docContent, baseRows, baseContent),
        measuredIngest("lsh-banding"), measuredSecond("lsh-banding"),
        bd.bands.toLong, bd.rowsPerBand.toLong,
        DedupQueries.SweepConfigs.size.toLong),
      ("unigram-vocab", 1L, baseRows, baseContent,
        vc.docRows, vc.docContent, 0L,
        staleOf(vc.docRows, vc.docContent, baseRows, baseContent),
        measuredIngest("unigram-vocab"), measuredSecond("unigram-vocab"),
        vc.chosen.toLong, 0L,
        graft.text.UnigramLm.VocabSweep.size.toLong))
    import s.implicits._
    rows.toDF("dial", "corpus_keyed", "base_rows", "base_content",
      "post_rows", "post_content", "post_files", "stale_after_ingest",
      "measured_on_ingest", "measured_second_run", "chosen_a", "chosen_b",
      "n_sweep")
  }

  def q280CorpusIngestCycle(s: SparkSession, dir: String): DataFrame =
    corpusIngestCycleCore(s, dir).orderBy(col("dial"))

  /** The oracle replays the base stamp over the FILTERED corpus, the
    * post stamp over the full corpus (lake ≡ documents after ingest),
    * the live index stamp, the staleness verdicts as stamp
    * comparisons, and all four chosen dials through the standard
    * sweep chains (the q278 scoped-subquery convention); the observed
    * measure counts gate as the composition's contract constants
    * (1 for each corpus-keyed dial on ingest, 0 otherwise — the
    * engine REPORTS observations, the oracle pins the contract). */
  def q280SqlFor(sfDir: String): String = {
    def indent(sql: String): String = sql.linesIterator.mkString("\n  ")
    val idx = AnnQueries.ivfPqIndexPath(sfDir)
    val dstampSub = ChoiceStore.documentsStampSql.linesIterator
      .mkString("\n     ")
    val bstampSub =
      s"""SELECT CAST(count(*) AS BIGINT) AS base_rows,
         |     CAST(coalesce(sum((doc_id * 31 + strlen(text)) % 1048576), 0)
         |          AS BIGINT) AS base_content
         |FROM documents WHERE doc_id % $IngestMod <> $IngestRem""".stripMargin
    s"""SELECT a.dial, a.corpus_keyed, a.base_rows, a.base_content,
       |       a.post_rows, a.post_content, a.post_files,
       |       CASE WHEN a.post_rows = a.base_rows
       |                 AND a.post_content = a.base_content
       |            THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END
       |         AS stale_after_ingest,
       |       a.corpus_keyed AS measured_on_ingest,
       |       CAST(0 AS BIGINT) AS measured_second_run,
       |       a.chosen_a, a.chosen_b, a.n_sweep
       |FROM (
       |  SELECT 'bm25-params' AS dial, CAST(1 AS BIGINT) AS corpus_keyed,
       |         bs.base_rows, bs.base_content,
       |         ds.doc_rows AS post_rows, ds.doc_content AS post_content,
       |         CAST(0 AS BIGINT) AS post_files,
       |         bm.k1_micro AS chosen_a, bm.b_micro AS chosen_b,
       |         CAST(${Round15Queries.bm25GridPoints.size} AS BIGINT)
       |           AS n_sweep
       |  FROM (
       |  ${indent(Round15Queries.bm25SweepCtes)}
       |  SELECT CAST(k1_micro AS BIGINT) AS k1_micro,
       |         CAST(b_micro AS BIGINT) AS b_micro FROM chosen) bm
       |  CROSS JOIN ($dstampSub) ds CROSS JOIN ($bstampSub) bs
       |  UNION ALL
       |  SELECT 'ivfpq-nprobe' AS dial, CAST(0 AS BIGINT) AS corpus_keyed,
       |         nb.gen_rows AS base_rows, nb.gen_content AS base_content,
       |         nb.gen_rows AS post_rows, nb.gen_content AS post_content,
       |         nb.gen_files AS post_files,
       |         nb.np AS chosen_a,
       |         CAST(${math.round(AnnQueries.NprobeTarget * 1e6)} AS BIGINT)
       |           AS chosen_b,
       |         CAST(${AnnQueries.NprobeSweep.size} AS BIGINT) AS n_sweep
       |  FROM (
       |  ${indent(AnnQueries.ivfPqSweepCtesSql(idx))},
       |  recalls AS (
       |    SELECT n.np,
       |           coalesce(h.n_hits, 0) / nullif(CAST(t.n AS DOUBLE), 0)
       |             AS rec
       |    FROM nps n LEFT JOIN hits h ON h.np = n.np CROSS JOIN tot t),
       |  chosen AS (
       |    SELECT coalesce(
       |      (SELECT min(np) FROM recalls
       |       WHERE rec >= ${AnnQueries.NprobeTarget}),
       |      (SELECT max(np) FROM recalls)) AS np),
       |  ${indent(AnnQueries.stampCteSql(idx))}
       |  SELECT CAST(c.np AS BIGINT) AS np,
       |         st.gen_rows, st.gen_content, st.gen_files
       |  FROM chosen c CROSS JOIN stamp st) nb
       |  UNION ALL
       |  SELECT 'lsh-banding' AS dial, CAST(1 AS BIGINT) AS corpus_keyed,
       |         bs.base_rows, bs.base_content,
       |         ds.doc_rows AS post_rows, ds.doc_content AS post_content,
       |         CAST(0 AS BIGINT) AS post_files,
       |         bd.bands AS chosen_a, bd.rows_per_band AS chosen_b,
       |         CAST(${DedupQueries.SweepConfigs.size} AS BIGINT) AS n_sweep
       |  FROM (
       |  ${indent(DedupQueries.bandingChosenSql)}) bd
       |  CROSS JOIN ($dstampSub) ds CROSS JOIN ($bstampSub) bs
       |  UNION ALL
       |  SELECT 'unigram-vocab' AS dial, CAST(1 AS BIGINT) AS corpus_keyed,
       |         bs.base_rows, bs.base_content,
       |         ds.doc_rows AS post_rows, ds.doc_content AS post_content,
       |         CAST(0 AS BIGINT) AS post_files,
       |         vc.vocab_size AS chosen_a, CAST(0 AS BIGINT) AS chosen_b,
       |         CAST(${graft.text.UnigramLm.VocabSweep.size} AS BIGINT)
       |           AS n_sweep
       |  FROM (
       |  ${indent(UnigramQueries.vocabSweepCtes)}
       |  SELECT CAST(vocab_size AS BIGINT) AS vocab_size FROM chosenv) vc
       |  CROSS JOIN ($dstampSub) ds CROSS JOIN ($bstampSub) bs
       |) a
       |ORDER BY a.dial""".stripMargin
  }

  // --------------------------------------------------------------- q282
  /** INCREMENTAL-INDEX ingest cycle — q280's serving-artifact
    * counterpart: q280 proves an ingest re-measures exactly the stale
    * TUNING dials; this proves the SERVING index itself is brought
    * current by an append-sized bill, never a re-tokenize. One
    * self-contained cycle over an engine-owned lake replica:
    *
    *   1. SEED    — fresh lake with the base corpus (doc_id %
    *      [[IngestMod]] ≠ [[IngestRem]]); the lake's postings index
    *      wiped (self-contained ⇒ deterministic per call).
    *   2. BUILD   — the incremental ensure cold-builds the index for
    *      the base lake (observed: one build verb).
    *   3. INGEST  — the held-out batch appended (new parquet files;
    *      existing files untouched).
    *   4. APPEND  — the stamp moved, the ledger is intact, new files
    *      exist: the SAME ensure now appends — tokenizes ONLY the new
    *      files ([[Round15Queries.bm25IndexAppend]]; by construction
    *      the read is `parquet(newFiles)`), merges postings/dl/df/
    *      stats exactly (observed: one append verb, zero builds).
    *   5. CONVERGENCE — a third ensure is warm (neither verb fires;
    *      Round17QueriesSpec pins it with throwing observers).
    *   6. SERVE   — the q244 workload served from the APPENDED index
    *      at the fixed (1.2, 0.75) dial.
    *
    * The oracle replays the serve through the q244 chain over the FULL
    * documents table (lake ≡ documents after ingest) plus both corpus
    * stamps — so an append that dropped, duplicated, or double-counted
    * one posting, df entry, or length row hash-mismatches against the
    * from-scratch semantics; append ≡ rebuild at the artifact-table
    * level is additionally spec-pinned bit-for-bit. The observed verb
    * counts gate as the composition's contract constants (builds = 1,
    * appends = 1 — the engine REPORTS observations, the oracle pins
    * the contract).
    *
    * 100 TB shape: the ingest's index bill is tokenize(batch) +
    * vocabulary-scale df merge + corpus-ROWS-scale stats re-derive —
    * no corpus text is re-read (the q281 build pays that once). Bench:
    * in the headline set — unlike q280 it pays no sweep; its cost is
    * one base build + one batch append + one pruned serve.
    */
  private[operators] def idxLakePath(sfDir: String): String =
    new java.io.File(s"target/idxlake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  def q282PostingsAppendCycle(s: SparkSession, dir: String): DataFrame = {
    val lake = idxLakePath(dir)
    val lakeDocs = s"$lake/documents.parquet"
    // 1. SEED: fresh lake + wiped lake-keyed index (the lake's
    // doc-stamp sidecar self-heals: stale entries drop, new files
    // rescan — the q280 note)
    rmrf(new java.io.File(lake))
    rmrf(new java.io.File(Round15Queries.bm25IndexPath(lake)))
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % IngestMod =!= IngestRem)
      .sizedWrite.mode("overwrite").parquet(lakeDocs)
    var builds = 0L
    var appends = 0L
    def ensure() = Round15Queries.ensureBm25IndexIncremental(s, lake,
      onBuild = () => builds += 1L, onAppend = _ => appends += 1L)
    // 2. BUILD: cold on the base lake
    ensure()
    val (baseRows, baseContent) = ChoiceStore.documentsStampCachedFor(s, lake)
    // 3. INGEST: append the held-out batch — new files only
    docs.filter(col("doc_id") % IngestMod === IngestRem)
      .sizedWrite.mode("append").parquet(lakeDocs)
    // 4. APPEND: only the new files are tokenized
    val m = ensure()
    // 5. CONVERGENCE: warm — neither verb fires
    ensure()
    // 6. SERVE from the appended artifact at the fixed dial; workload
    // from the artifact's df table (≡ the corpus-derived synthesis —
    // the append ≡ rebuild theorem)
    val idx = Round15Queries.bm25IndexPath(lake)
    val qt = Round15Queries.multiBm25QueryTableFrom(
      Round15Queries.readIndexDf(s, idx))
    Round15Queries.bm25ServeQueriesFromIndex(s, idx, qt,
        math.round(Round14Queries.Bm25K1 * 1e6),
        math.round(Round14Queries.Bm25B * 1e6))
      .drop("k1_micro", "b_micro")
      .withColumn("base_rows", lit(baseRows))
      .withColumn("base_content", lit(baseContent))
      .withColumn("post_rows", lit(m.docRows))
      .withColumn("post_content", lit(m.docContent))
      .withColumn("n_new", lit(m.docRows - baseRows))
      .withColumn("builds", lit(builds))
      .withColumn("appends", lit(appends))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The q244 fixed-dial chain over the full documents table (lake ≡
    * documents after ingest) + both corpus stamps + the verb-count
    * contract constants. */
  val q282Sql: String = {
    val base = Round15Queries.q244Sql.substring(0,
      Round15Queries.q244Sql.indexOf("best AS ("))
    val dstampSub = ChoiceStore.documentsStampSql.linesIterator
      .mkString("\n  ")
    s"""${base}best AS (
       |  SELECT query_id, doc_id, bm25, n_terms_hit,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY bm25 DESC, doc_id ASC) AS rk
       |  FROM scored),
       |dstamp AS (
       |  $dstampSub),
       |bstamp AS (
       |  SELECT CAST(count(*) AS BIGINT) AS base_rows,
       |         CAST(coalesce(sum((doc_id * 31 + strlen(text)) % 1048576),
       |                       0) AS BIGINT) AS base_content
       |  FROM documents WHERE doc_id % $IngestMod <> $IngestRem)
       |SELECT b.query_id, b.doc_id, b.bm25, b.n_terms_hit,
       |       CAST(b.rk AS BIGINT) AS rk,
       |       bs.base_rows, bs.base_content,
       |       ds.doc_rows AS post_rows, ds.doc_content AS post_content,
       |       ds.doc_rows - bs.base_rows AS n_new,
       |       CAST(1 AS BIGINT) AS builds, CAST(1 AS BIGINT) AS appends
       |FROM best b CROSS JOIN dstamp ds CROSS JOIN bstamp bs
       |WHERE b.rk <= ${Round15Queries.MultiBm25K}
       |ORDER BY b.query_id, b.rk""".stripMargin
  }

  // --------------------------------------------------------------- q284
  /** COMPOSED postings maintenance cycle — the q276 nightly-job
    * pattern applied to the TEXT serving index, closing the lifecycle
    * the round opened: q282 gave the index its append verb, q283 its
    * delete mask; this composes them with a DECISION — the same
    * signal → pure rule → actuation → recovery shape as the IVF-PQ
    * cycle:
    *
    *   1. SEED    — fresh lake (base corpus), cold index build.
    *   2. INGEST  — held-out batch appended; the incremental ensure
    *      APPENDS (batch-only tokenize — the q282 verb).
    *   3. DELETE  — a tombstone set arrives (doc_id %
    *      [[Round15Queries.Bm25DeleteMod]] = Rem over the artifact's
    *      dl — no corpus read).
    *   4. AUDIT + RULE — dead/live fractions compared by the pure
    *      [[chooseIndexRebuild]] (exact integer cross-multiplication,
    *      the PropertySpec rule family; threshold is an SLO constant,
    *      the COVERAGE.md boundary).
    *   5. ACTUATE — FIRE: the lake is COMPACTED (survivors rewritten
    *      as fresh files) and the ensure REBUILDS — tombstones
    *      truncated to zero. SKIP: files untouched, tombstones
    *      carried, the serve stays masked (q283).
    *   6. SERVE — the fixed-dial workload, from whichever state the
    *      decision produced.
    *
    * The BRANCH-INVARIANCE theorem makes this gateable with ONE
    * replay: masked-serve ≡ rebuilt-serve bit-for-bit (q283's law), so
    * the serve rows equal the q244 chain over the SURVIVING corpus on
    * EITHER branch; what the branches differ in — verb counts, carried
    * tombstones, the post-actuation meta stamp — the oracle replays
    * through the same CASE'd pure rule (the decision is recomputed,
    * not pinned). Round17QueriesSpec drives the FIRE branch with a
    * tighter threshold and pins that its serve rows EQUAL the SKIP
    * branch's (the theorem observed end-to-end), plus truncation and
    * the rebuild verb.
    *
    * 100 TB shape: the cycle's bill is append (batch tokenize) +
    * masked serves until the dead fraction crosses the SLO, then ONE
    * compact+rebuild truncates the mask — deletes never rewrite
    * anything until the rule says the mask's per-serve cost (a
    * postings pass for masked df) outweighs a rebuild. Benched in the
    * headline set (7.9 s at sf0.1 — one cold build + one append + the
    * audit + the masked serve, the honest nightly bill; the isolated
    * serving paths are q281/q283).
    */
  val IndexRebuildThrNum = 1L
  val IndexRebuildThrDen = 4L

  /** FIRE iff dead/live ≥ thrNum/thrDen — exact integers. */
  private[graft] def chooseIndexRebuild(deadRows: Long, liveRows: Long,
      thrNum: Long, thrDen: Long): Boolean =
    deadRows * thrDen >= liveRows * thrNum

  private[operators] def pmLakePath(sfDir: String): String =
    new java.io.File(s"target/pmlake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  /** The cycle with an injectable threshold — the spec drives FIRE
    * with a tighter one; the gated q284 uses the SLO constants.
    * `snapDirOpt` composes the cycle with the snapshot store (the
    * round-13 verdict's #1 composition gap): when given, every state
    * transition is snapshotted (seed → 1, post-ingest → 2,
    * post-compaction → 3) and the FIRE branch compacts through
    * [[graft.io.SnapshotStore.compactWithRetention]] — prior
    * snapshots stay byte-identical across the nightly compaction —
    * instead of the bare overwrite that loudly invalidates them on a
    * snapshot-tracked lake. `lakeOpt` gives the composed caller its
    * own lake replica (the q280 counted-thunk isolation convention). */
  private[operators] def postingsMaintenanceCycleCore(s: SparkSession,
      dir: String, thrNum: Long, thrDen: Long,
      lakeOpt: Option[String] = None,
      snapDirOpt: Option[String] = None,
      recordedAtFor: Int => Long = _ => -1L): DataFrame = {
    val lake = lakeOpt.getOrElse(pmLakePath(dir))
    val lakeDocs = s"$lake/documents.parquet"
    rmrf(new java.io.File(lake))
    rmrf(new java.io.File(Round15Queries.bm25IndexPath(lake)))
    // recorded-at stamps for the cycle's snapshots, by record ORDER
    // (1-based): the default −1 means wall clock (production); the
    // age-composed gate (q310) passes synthetic day stamps so its
    // oracle can replay the age arithmetic deterministically
    var snapSeq = 0
    def snapRecord(sd: String): Unit = {
      snapSeq += 1
      graft.io.SnapshotStore.record(s, lakeDocs, sd,
        recordedAtMillis = recordedAtFor(snapSeq))
      ()
    }
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % IngestMod =!= IngestRem)
      .sizedWrite.mode("overwrite").parquet(lakeDocs)
    snapDirOpt.foreach(snapRecord)
    var builds = 0L
    var appends = 0L
    def ensure() = Round15Queries.ensureBm25IndexIncremental(s, lake,
      onBuild = () => builds += 1L, onAppend = _ => appends += 1L)
    // 1–2. SEED build, then INGEST + APPEND
    ensure()
    docs.filter(col("doc_id") % IngestMod === IngestRem)
      .sizedWrite.mode("append").parquet(lakeDocs)
    snapDirOpt.foreach(snapRecord)
    val mFull = ensure()
    val idx = Round15Queries.bm25IndexPath(lake)
    // 3. DELETE set from the artifact's dl — zero corpus reads
    val tombstones = s.read.schema(Round15Queries.ArtifactSchemas.dl)
      .parquet(s"$idx/dl").select(col("doc_id"))
      .filter(col("doc_id") % Round15Queries.Bm25DeleteMod
        === Round15Queries.Bm25DeleteRem)
      .localCheckpoint()
    // ONE stamp pass doubles as the dead count (the q283 fusion)
    val (deadRows, deadContent) =
      Round15Queries.tombstoneDocStamp(tombstones)
    // 4. RULE (live = the indexed corpus the audit sees)
    val fire = chooseIndexRebuild(deadRows, mFull.docRows, thrNum, thrDen)
    // 5. ACTUATE
    val (mPost, carried, serve) = if (fire) {
      // compact: survivors rewritten as fresh files (materialized
      // BEFORE overwriting their own source), tombstones truncated.
      // On a snapshot-tracked lake the compaction goes through the
      // retention verb — prior snapshots keep reading byte-identical
      // — and the compacted state is snapshotted; bare overwrite
      // remains the untracked-lake path
      val survivors = Tables.documents(s, lake)
        .join(tombstones, Seq("doc_id"), "left_anti").localCheckpoint()
      snapDirOpt match {
        case Some(sd) =>
          graft.io.SnapshotStore.compactWithRetention(s, lakeDocs, sd,
            survivors)
          snapRecord(sd)
        case None =>
          survivors.sizedWrite.mode("overwrite").parquet(lakeDocs)
      }
      val m = ensure() // files changed ⇒ RebuildAll
      val qt = Round15Queries.multiBm25QueryTableFrom(
        Round15Queries.readIndexDf(s, idx))
      (m, 0L, Round15Queries.bm25ServeQueriesFromIndex(s, idx, qt,
        math.round(Round14Queries.Bm25K1 * 1e6),
        math.round(Round14Queries.Bm25B * 1e6)))
    } else {
      Round15Queries.ensureBm25MaskedDf(s, idx, tombstones,
        stampOpt = Some((deadRows, deadContent)))
      val qt = Round15Queries.multiBm25QueryTableFrom(
        Round15Queries.readMaskedDf(s, idx, tombstones,
          stampOpt = Some((deadRows, deadContent))))
      (mFull, deadRows, Round15Queries.bm25ServeQueriesFromIndexMasked(
        s, idx, qt, math.round(Round14Queries.Bm25K1 * 1e6),
        math.round(Round14Queries.Bm25B * 1e6), tombstones))
    }
    // 6. SERVE + the cycle report
    serve.drop("k1_micro", "b_micro")
      .withColumn("live_rows", lit(mFull.docRows))
      .withColumn("dead_rows", lit(deadRows))
      .withColumn("fire", lit(if (fire) 1L else 0L))
      .withColumn("n_carried", lit(carried))
      .withColumn("post_rows", lit(mPost.docRows))
      .withColumn("post_content", lit(mPost.docContent))
      .withColumn("builds", lit(builds))
      .withColumn("appends", lit(appends))
      .orderBy(col("query_id"), col("rk"))
  }

  def q284PostingsMaintenanceCycle(s: SparkSession, dir: String): DataFrame =
    postingsMaintenanceCycleCore(s, dir, IndexRebuildThrNum,
      IndexRebuildThrDen)

  /** Serve rows via the q244 chain over the SURVIVING corpus (the
    * branch-invariance theorem); decision, verb counts, carried
    * tombstones, and the post stamp all CASE'd through the replayed
    * pure rule. */
  val q284Sql: String = {
    val mod = Round15Queries.Bm25DeleteMod
    val rem = Round15Queries.Bm25DeleteRem
    val filtered = Round15Queries.q244Sql.replace("FROM documents)",
      s"FROM documents WHERE doc_id % $mod <> $rem)")
    val prefix = filtered.substring(0, filtered.indexOf("best AS ("))
    s"""${prefix}best AS (
       |  SELECT query_id, doc_id, bm25, n_terms_hit,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY bm25 DESC, doc_id ASC) AS rk
       |  FROM scored),
       |audit AS (
       |  SELECT CAST(count(*) AS BIGINT) AS live_rows,
       |         CAST(count(*) FILTER (WHERE doc_id % $mod = $rem)
       |              AS BIGINT) AS dead_rows
       |  FROM documents),
       |verdict AS (
       |  SELECT live_rows, dead_rows,
       |         CASE WHEN dead_rows * $IndexRebuildThrDen >=
       |                   live_rows * $IndexRebuildThrNum
       |              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
       |           AS fire
       |  FROM audit),
       |poststamp AS (
       |  SELECT v.fire,
       |         CASE WHEN v.fire = 1 THEN s.s_rows ELSE f.f_rows END
       |           AS post_rows,
       |         CASE WHEN v.fire = 1 THEN s.s_content ELSE f.f_content END
       |           AS post_content
       |  FROM verdict v
       |  CROSS JOIN (
       |    SELECT CAST(count(*) AS BIGINT) AS s_rows,
       |           CAST(coalesce(sum((doc_id * 31 + strlen(text))
       |                             % 1048576), 0) AS BIGINT) AS s_content
       |    FROM documents WHERE doc_id % $mod <> $rem) s
       |  CROSS JOIN (
       |    SELECT CAST(count(*) AS BIGINT) AS f_rows,
       |           CAST(coalesce(sum((doc_id * 31 + strlen(text))
       |                             % 1048576), 0) AS BIGINT) AS f_content
       |    FROM documents) f)
       |SELECT b.query_id, b.doc_id, b.bm25, b.n_terms_hit,
       |       CAST(b.rk AS BIGINT) AS rk,
       |       v.live_rows, v.dead_rows, v.fire,
       |       CASE WHEN v.fire = 1 THEN CAST(0 AS BIGINT)
       |            ELSE v.dead_rows END AS n_carried,
       |       p.post_rows, p.post_content,
       |       CASE WHEN v.fire = 1 THEN CAST(2 AS BIGINT)
       |            ELSE CAST(1 AS BIGINT) END AS builds,
       |       CAST(1 AS BIGINT) AS appends
       |FROM best b CROSS JOIN verdict v CROSS JOIN poststamp p
       |WHERE b.rk <= ${Round15Queries.MultiBm25K}
       |ORDER BY b.query_id, b.rk""".stripMargin
  }

  // --------------------------------------------------------------- q285
  /** LAKE TIME TRAVEL — snapshot-isolated reads over the append-only
    * documents lake ([[graft.io.SnapshotStore]]): every ingest records
    * a numbered file manifest (pure metadata — the q282 ledger
    * machinery), and reading AS OF snapshot k scans exactly those
    * files, byte-identical to what a reader saw then, however many
    * appends landed since. The manifest core of the lakehouse formats
    * (Iceberg/Delta), derived here from the same file-immutability
    * invariant the stamp sidecar and the index ledger already lean on.
    *
    * The gated cycle: seed the base lake → snapshot 1 → append the
    * held-out batch → snapshot 2 → read BOTH snapshots back and report
    * each state's corpus stamp and exact token count. Snapshot 1 is
    * read AFTER the append — the gate is that the past state is still
    * exactly queryable (stamp AND token sum equal the filtered corpus;
    * the oracle replays both states as WHERE-filtered aggregates over
    * the full documents table). Round17QueriesSpec pins the byte-level
    * row equality of the as-of-1 read against a pre-append capture,
    * monotone ids, and the REWRITE-FATAL boundary (an overwrite makes
    * the snapshot read fail loudly, never silently serve the new
    * state).
    *
    * 100 TB shape: recording a snapshot is a file listing + TSV write
    * (zero data reads); an as-of read prunes at the FILE level before
    * the scan starts, so its cost is the snapshot's own data volume,
    * not the lake's current size. Bounded-collect class: 2 rows.
    */
  private[operators] def snapLakePath(sfDir: String): String =
    new java.io.File(s"target/snaplake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  def q285SnapshotRead(s: SparkSession, dir: String): DataFrame = {
    val lake = snapLakePath(dir)
    val lakeDocs = s"$lake/documents.parquet"
    val snaps = s"$lake/snapshots"
    rmrf(new java.io.File(lake))
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % IngestMod =!= IngestRem)
      .sizedWrite.mode("overwrite").parquet(lakeDocs)
    val s1 = graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    docs.filter(col("doc_id") % IngestMod === IngestRem)
      .sizedWrite.mode("append").parquet(lakeDocs)
    val s2 = graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    def stateRow(id: Int): (Long, Long, Long, Long) = {
      val d = graft.io.SnapshotStore.readAsOf(s, snaps, id)
        .select(col("doc_id"), col("text"))
      val (r, c) = ChoiceStore.documentsStamp(d)
      val nt = d.agg(coalesce(sum(size(
          graft.text.TextPrep.tokensCol(col("text")))), lit(0))
          .cast("long"))
        .head().getLong(0)
      (id.toLong, r, c, nt)
    }
    import s.implicits._
    Seq(stateRow(s1), stateRow(s2))
      .toDF("snap_id", "doc_rows", "doc_content", "n_tokens")
      .orderBy(col("snap_id"))
  }

  /** Both snapshot states replayed as WHERE-filtered aggregates over
    * the full documents table (snapshot 1 ≡ the base filter, snapshot
    * 2 ≡ everything — the append-only lake's content law). */
  val q285Sql: String = {
    def state(id: Int, where: String): String =
      s"""SELECT CAST($id AS BIGINT) AS snap_id,
         |       CAST(count(*) AS BIGINT) AS doc_rows,
         |       CAST(coalesce(sum((doc_id * 31 + strlen(text)) % 1048576),
         |                     0) AS BIGINT) AS doc_content,
         |       CAST(coalesce(sum(len(list_filter(string_split(trim(
         |                regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')),
         |              ' '), x -> x <> ''))), 0) AS BIGINT) AS n_tokens
         |FROM documents $where""".stripMargin
    s"""${state(1, s"WHERE doc_id % $IngestMod <> $IngestRem")}
       |UNION ALL
       |${state(2, "")}
       |ORDER BY snap_id""".stripMargin
  }

  // --------------------------------------------------------------- q286
  /** SNAPSHOT-DELTA reads — the incremental-processing CURSOR over the
    * append-only lake ([[graft.io.SnapshotStore.readDelta]]): "process
    * only what arrived since snapshot k" as a file-manifest difference,
    * read without touching any pre-existing file. This is the batch
    * counterpart of a streaming source's offset tracking (and the core
    * of every incremental-ETL scheduler over a lakehouse table): each
    * interval's delta IS the ingested batch, by the append-only
    * invariant, and the cursor's soundness is a set law —
    * asOf(a) ∪ delta(a, b) ≡ asOf(b) — pinned in Round17QueriesSpec.
    *
    * The gated cycle reuses the q285 lake chronology (seed → snapshot
    * 1 → ingest → snapshot 2) and reports BOTH intervals' deltas
    * (0→1 = the base load, 1→2 = the ingested batch) as stamp + exact
    * token aggregates; the oracle replays each interval as the
    * complementary WHERE filter over the full documents table. An
    * incremental consumer that re-read an old file, missed a new one,
    * or double-counted across intervals hash-mismatches.
    *
    * 100 TB shape: delta discovery is two TSV reads + a set difference
    * (zero data I/O); the scan reads only the interval's own files —
    * the whole point: nightly downstream jobs pay per-ingest cost,
    * never per-lake cost. Bounded-collect class: 2 rows.
    */
  /** q286's OWN scratch lake — never shared with q285's: Verify runs
    * gated queries concurrently, and two self-contained cycles
    * seeding/rewriting ONE directory race each other (observed: doubled
    * appends + a reader catching a mid-rewrite temp file). */
  private[operators] def deltaLakePath(sfDir: String): String =
    new java.io.File(s"target/dlake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  def q286SnapshotDelta(s: SparkSession, dir: String): DataFrame = {
    val lake = deltaLakePath(dir)
    val lakeDocs = s"$lake/documents.parquet"
    val snaps = s"$lake/snapshots"
    // rebuild the q285 chronology fresh (self-contained per call)
    rmrf(new java.io.File(lake))
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % IngestMod =!= IngestRem)
      .sizedWrite.mode("overwrite").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    docs.filter(col("doc_id") % IngestMod === IngestRem)
      .sizedWrite.mode("append").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    def intervalRow(a: Int, b: Int): (Long, Long, Long, Long, Long) = {
      val d = graft.io.SnapshotStore.readDelta(s, snaps, a, b)
        .select(col("doc_id"), col("text"))
      val (r, c) = ChoiceStore.documentsStamp(d)
      val nt = d.agg(coalesce(sum(size(
          graft.text.TextPrep.tokensCol(col("text")))), lit(0))
          .cast("long"))
        .head().getLong(0)
      (a.toLong, b.toLong, r, c, nt)
    }
    import s.implicits._
    Seq(intervalRow(0, 1), intervalRow(1, 2))
      .toDF("from_snap", "to_snap", "doc_rows", "doc_content", "n_tokens")
      .orderBy(col("from_snap"))
  }

  /** Each interval's delta replayed as the complementary WHERE filter
    * over the full documents table (0→1 ≡ the base slice, 1→2 ≡ the
    * ingested batch — the append-only content law). */
  val q286Sql: String = {
    def interval(a: Int, b: Int, where: String): String =
      s"""SELECT CAST($a AS BIGINT) AS from_snap,
         |       CAST($b AS BIGINT) AS to_snap,
         |       CAST(count(*) AS BIGINT) AS doc_rows,
         |       CAST(coalesce(sum((doc_id * 31 + strlen(text)) % 1048576),
         |                     0) AS BIGINT) AS doc_content,
         |       CAST(coalesce(sum(len(list_filter(string_split(trim(
         |                regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')),
         |              ' '), x -> x <> ''))), 0) AS BIGINT) AS n_tokens
         |FROM documents $where""".stripMargin
    s"""${interval(0, 1, s"WHERE doc_id % $IngestMod <> $IngestRem")}
       |UNION ALL
       |${interval(1, 2, s"WHERE doc_id % $IngestMod = $IngestRem")}
       |ORDER BY from_snap""".stripMargin
  }

  // --------------------------------------------------------------- q288
  /** DETERMINISTIC SPLIT ASSIGNMENT — train/val/test folds as a pure
    * PROJECTION: fold = the HIGH bits of a Knuth multiplicative mix,
    * `(((doc_id mod 2^31)·2654435761 mod 2^32)·[[SplitFolds]]) div 2^32`
    * (fold 0 → test, 1 → val, rest → train: 10/10/80). High bits,
    * deliberately: a multiplicative hash mod 2^32 PRESERVES the id's
    * residues modulo powers of two in its LOW bits, so `h % 10` would
    * leave every even doc_id unable to reach odd folds (caught by the
    * decorrelation law's first run) — the div-by-2^32 form mixes all
    * 32 bits into the fold and decorrelates it from every arithmetic
    * id class the pipeline uses (the % 4 ingest batches, the % 7
    * delete sets), while staying all-integer and exactly
    * DuckDB-replayable. The documented "a wider id space takes a
    * pre-mod first" is now ENFORCED in the expression, not left to the
    * caller: `doc_id % 2^31` runs before the multiply, so the product
    * stays inside int64 for EVERY non-negative int64 id on both
    * engines (for doc_id < 2^31 the pre-mod is the identity — the
    * original fold values are unchanged), instead of silently wrapping
    * on Spark while DuckDB errors on overflow (the round-12 advice's
    * divergence). Remaining domain: doc_id ≥ 0 (signed remainder on
    * both engines; the corpus id space), pinned generatively in
    * PropertySpec together with the sub-2^31 agreement law.
    *
    * 100 TB shape: the whole operator is a map-only projection — ZERO
    * shuffles, zero state; the assignment can be computed at ingest
    * time, in a stream, or lazily at read time and always agrees (the
    * spec's determinism/ingest-stability laws). Stratum balance is
    * statistical (law of large numbers per lang), audited by one
    * groupBy rollup; a deployment needing near-dup pairs to co-travel
    * (leakage-free splits, the q128 audit's fix) hashes the dedup
    * CLUSTER representative instead of the doc_id — same projection,
    * different key.
    */
  val SplitFolds = 10L

  /** The row-local assignment core — shared by q288 and q289's
    * representative-keyed variant (the fold is a pure function of the
    * row). Docs need (doc_id, lang).
    */
  private[graft] def assignSplits(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        expr(s"CAST(((((doc_id % 2147483648L) * 2654435761L) % " +
          s"4294967296L) * $SplitFolds) div 4294967296L AS BIGINT)")
          .as("fold"))
      .withColumn("split", when(col("fold") === 0L, lit("test"))
        .when(col("fold") === 1L, lit("val"))
        .otherwise(lit("train")))

  def q288SplitAssign(s: SparkSession, dir: String): DataFrame =
    assignSplits(Tables.documents(s, dir)).orderBy(col("doc_id"))

  val q288Sql: String =
    s"""SELECT doc_id, lang, fold,
       |       CASE WHEN fold = 0 THEN 'test'
       |            WHEN fold = 1 THEN 'val'
       |            ELSE 'train' END AS split
       |FROM (
       |  SELECT doc_id, lang,
       |         CAST(((((doc_id % 2147483648) * 2654435761) % 4294967296)
       |              * $SplitFolds) // 4294967296 AS BIGINT) AS fold
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q289
  /** LEAKAGE-FREE SPLIT — q288's scaladoc promise made gated code:
    * near-duplicate documents must CO-TRAVEL across splits, or the
    * test set leaks into training through copies (the q128 audit's
    * root cause, and the published decontamination failure mode). The
    * fold keys on the NEAR-DUP CLUSTER representative — q19's
    * min-label connected component over the LSH near-dup pair set —
    * with the IDENTICAL q288 high-bits mix applied to it: every doc in
    * a cluster inherits the representative's fold, and a singleton
    * cluster's component IS its own doc_id, so un-duplicated docs get
    * exactly their q288 assignment (the agreement law, spec-pinned).
    *
    * 100 TB shape: the clustering is the dedup pipeline's EXISTING
    * artifact (q19/q44 — computed once per corpus state for dedup
    * anyway, never for the split alone); the split itself stays a
    * map-only projection over (doc_id, component). Bench-excluded with
    * the q19/q100 family (its input is the quadratic-output near-dup
    * pair set on this deliberately self-similar corpus); the sf0.01
    * gate runs it in full.
    */
  def q289LeakFreeSplit(s: SparkSession, dir: String): DataFrame =
    DedupQueries.q19DupClusters(s, dir)
      .select(col("doc_id"), col("component").as("rep_id"),
        expr(s"CAST(((((component % 2147483648L) * 2654435761L) % " +
          s"4294967296L) * $SplitFolds) div 4294967296L AS BIGINT)")
          .as("fold"))
      .withColumn("split", when(col("fold") === 0L, lit("test"))
        .when(col("fold") === 1L, lit("val"))
        .otherwise(lit("train")))
      .orderBy(col("doc_id"))

  /** The q19 recursive CC chain with the split projection on top. */
  val q289Sql: String = DedupQueries.q19Sql.replace(
    "SELECT doc_id, component FROM comp ORDER BY doc_id",
    s"""SELECT doc_id, rep_id, fold,
       |       CASE WHEN fold = 0 THEN 'test'
       |            WHEN fold = 1 THEN 'val'
       |            ELSE 'train' END AS split
       |FROM (
       |  SELECT doc_id, component AS rep_id,
       |         CAST(((((component % 2147483648) * 2654435761) % 4294967296)
       |              * $SplitFolds) // 4294967296 AS BIGINT) AS fold
       |  FROM comp)
       |ORDER BY doc_id""".stripMargin)

  // --------------------------------------------------------------- q290
  /** REPRODUCIBLE AS-OF RETRIEVAL — snapshots (q285) composed with the
    * serving stack: "rerun yesterday's eval against yesterday's
    * corpus" as one call. The serve reads the lake AS OF snapshot 1
    * ([[graft.io.SnapshotStore.readAsOf]] — file-level pruning, the
    * appended files never touched) and runs the q244 recompute
    * pipeline over that state, INCLUDING the workload synthesis (the
    * query table derives from the as-of vocabulary — point-in-time
    * reproducibility covers the eval's inputs, not just its corpus).
    * The spec pins the reproducibility law directly: the serve
    * captured BEFORE the append equals the as-of serve AFTER it,
    * byte-for-byte. The oracle replays the chain over the base WHERE
    * slice (snapshot 1 ≡ the base filter, the append-only content
    * law) plus the as-of stamp.
    *
    * 100 TB shape: cost = the snapshot's own data volume (the as-of
    * read prunes files before the scan), not the lake's current size;
    * a deployment pinning evals to snapshot ids gets bit-reproducible
    * retrieval without retaining a separate corpus copy — retention of
    * the files IS the snapshot (the q285 boundary).
    */
  private[operators] def asofLakePath(sfDir: String): String =
    new java.io.File(s"target/asoflake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  def q290AsOfServe(s: SparkSession, dir: String): DataFrame = {
    val lake = asofLakePath(dir)
    val lakeDocs = s"$lake/documents.parquet"
    val snaps = s"$lake/snapshots"
    rmrf(new java.io.File(lake))
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % IngestMod =!= IngestRem)
      .sizedWrite.mode("overwrite").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    docs.filter(col("doc_id") % IngestMod === IngestRem)
      .sizedWrite.mode("append").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    // the eval, pinned to snapshot 1 — served AFTER the append landed.
    // The as-of scan covers exactly the manifest's files (now sized —
    // one file at bench scale), and its consumer TOKENIZES every row,
    // so restore scan parallelism from the manifest's known layout
    // (the Tables.documents rule applied at the snapshot boundary)
    val m1 = graft.io.SnapshotStore.manifest(s, snaps, 1)
    val asOf = Tables.adaptiveParallelByLayout(s,
      graft.io.SnapshotStore.readAsOf(s, snaps, 1)
        .select(col("doc_id"), col("text")),
      m1.size, m1.map(_.len).sum)
    val (ar, ac) = ChoiceStore.documentsStamp(asOf)
    Round15Queries.bm25ServeCorpusAtDial(asOf,
        math.round(Round14Queries.Bm25K1 * 1e6),
        math.round(Round14Queries.Bm25B * 1e6))
      .withColumn("snap_id", lit(1L))
      .withColumn("asof_rows", lit(ar))
      .withColumn("asof_content", lit(ac))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The q244 chain over the base WHERE slice + the as-of stamp. */
  val q290Sql: String = {
    val filtered = Round15Queries.q244Sql.replace("FROM documents)",
      s"FROM documents WHERE doc_id % $IngestMod <> $IngestRem)")
    val prefix = filtered.substring(0, filtered.indexOf("best AS ("))
    s"""${prefix}best AS (
       |  SELECT query_id, doc_id, bm25, n_terms_hit,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY bm25 DESC, doc_id ASC) AS rk
       |  FROM scored),
       |astamp AS (
       |  SELECT CAST(count(*) AS BIGINT) AS asof_rows,
       |         CAST(coalesce(sum((doc_id * 31 + strlen(text)) % 1048576),
       |                       0) AS BIGINT) AS asof_content
       |  FROM documents WHERE doc_id % $IngestMod <> $IngestRem)
       |SELECT b.query_id, b.doc_id, b.bm25, b.n_terms_hit,
       |       CAST(b.rk AS BIGINT) AS rk,
       |       CAST(1 AS BIGINT) AS snap_id, a.asof_rows, a.asof_content
       |FROM best b CROSS JOIN astamp a
       |WHERE b.rk <= ${Round15Queries.MultiBm25K}
       |ORDER BY b.query_id, b.rk""".stripMargin
  }

  // --------------------------------------------------------------- q291
  /** DATASET CARD — the per-(lang, source) datasheet a corpus release
    * publishes (Gebru et al.'s datasheets; every HF dataset card's
    * quantitative half): document counts, byte and exact token
    * volumes, per-stratum vocabulary size, and mean tokens/doc, in one
    * gated rollup. Exactness discipline: counts/sums are integers
    * end-to-end; the only double is the final round-6 mean.
    *
    * Shape at scale: ONE tokenize pass feeds both the token-volume
    * aggregate and the vocabulary count; volumes are two-level
    * hash aggregates with map-side combine; the vocabulary count is a
    * (lang, source, term)-keyed distinct then a count — the compound
    * key spreads the shuffle, and nothing corpus-sized crosses more
    * than once. Output is |lang|×|source| rows, the bounded class.
    */
  def q291DatasetCard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("lang"), col("source"), col("text"))
    val toks = docs.select(col("lang"), col("source"),
      graft.text.TextPrep.tokensCol(col("text")).as("toks"))
      .localCheckpoint() // one tokenize pass feeds volumes AND vocab
    val vols = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col("text"))).cast("long").as("n_bytes"))
    val tokVols = toks.groupBy(col("lang"), col("source"))
      .agg(coalesce(sum(size(col("toks"))), lit(0)).cast("long")
        .as("n_tokens"))
    val vocab = toks
      .select(col("lang"), col("source"), explode(col("toks")).as("term"))
      .distinct()
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_terms"))
    vols.join(tokVols, Seq("lang", "source"))
      .join(vocab, Seq("lang", "source"), "left_outer")
      .select(col("lang"), col("source"), col("n_docs"), col("n_bytes"),
        col("n_tokens"), coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        round(col("n_tokens") / col("n_docs"), 6).as("mean_tokens"))
      .orderBy(col("lang"), col("source"))
  }

  val q291Sql: String =
    s"""WITH lists AS (
       |  SELECT lang, source,
       |         list_filter(string_split(trim(regexp_replace(lower(text),
       |           '(\\d|\\W)+', ' ', 'g')), ' '), x -> x <> '') AS toks,
       |         strlen(text) AS n_bytes
       |  FROM documents),
       |vols AS (
       |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
       |         CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS n_tokens
       |  FROM lists GROUP BY lang, source),
       |vocab AS (
       |  SELECT lang, source,
       |         CAST(count(DISTINCT term) AS BIGINT) AS n_terms
       |  FROM (SELECT lang, source, unnest(toks) AS term FROM lists)
       |  GROUP BY lang, source)
       |SELECT v.lang, v.source, v.n_docs, v.n_bytes, v.n_tokens,
       |       coalesce(vc.n_terms, 0) AS n_terms,
       |       round(v.n_tokens / CAST(v.n_docs AS DOUBLE), 6)
       |         AS mean_tokens
       |FROM vols v LEFT JOIN vocab vc USING (lang, source)
       |ORDER BY v.lang, v.source""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q278_choice_staleness_audit", q278ChoiceStalenessAudit _, q278SqlFor _),
    Query("q280_corpus_ingest_cycle", q280CorpusIngestCycle _, q280SqlFor _),
    Query("q282_postings_append_cycle", q282PostingsAppendCycle _, q282Sql),
    Query("q284_postings_maintenance_cycle", q284PostingsMaintenanceCycle _, q284Sql),
    Query("q285_snapshot_read", q285SnapshotRead _, q285Sql),
    Query("q286_snapshot_delta", q286SnapshotDelta _, q286Sql),
    Query("q288_split_assign", q288SplitAssign _, q288Sql),
    Query("q289_leakfree_split", q289LeakFreeSplit _, q289Sql),
    Query("q290_asof_serve", q290AsOfServe _, q290Sql),
    Query("q291_dataset_card", q291DatasetCard _, q291Sql),
  )
}
