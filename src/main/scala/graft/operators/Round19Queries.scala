package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables
import graft.io.SizedWrite.SizedWriteOps

/** Round-19 batch: the round-14 verdict's composition ring around the
  * retention/card surface — age-based snapshot retention (#4, the
  * table formats' "keep 7 days + pins" semantics the count-window rule
  * could not express), tombstone-stamp-keyed masked-df states (#6),
  * and the as-of dataset card (#7). Reference repo has no counterpart;
  * this is the LLM-data-pipeline lifecycle surface.
  */
object Round19Queries {

  // --------------------------------------------------------------- q303
  /** AGE-BASED RETENTION POLICY — q298's window ∪ pins rule re-keyed
    * by TIME: real lake retention is "keep what is younger than N
    * days, plus pins, plus the current state", not "keep the last N
    * ids" (an id window expires a burst of fresh snapshots after a
    * busy hour and keeps week-old ones after a quiet week). The store
    * now records WHEN each snapshot was taken — a per-snapshot sidecar
    * stamp ([[graft.io.SnapshotStore.recordedAt]]; a sidecar FILE, not
    * a manifest field, so every pre-stamp manifest stays readable and
    * simply reads as unknown age).
    *
    * The pure rule [[chooseSnapshotsToKeepByAge]]:
    *   keep = {id | now − recordedAt(id) ≤ maxAge}  (the age window)
    *        ∪ {id | recordedAt(id) unknown}         (conservative: a
    *          policy must never silently expire what it cannot date)
    *        ∪ pins ∩ ids                            (the q290 half)
    *        ∪ {max(ids)}                            (the current state
    *          always stays readable — table-format semantics)
    *
    * The gated chronology records four states at SYNTHETIC times (day
    * 1..4 — the deterministic recorded-at entry; production recorders
    * take the wall clock), runs the rule at now = day 4 with a 1-day
    * window and pin {1}: id 1 is 3 days old (kept by pin), id 2 is 2
    * days old (EXPIRED — the only unprotected over-age state), ids
    * 3/4 are in-window. Every id is read back after expiry through
    * the loud-preserving slot reader; the oracle replays all four
    * keep verdicts through the SAME age arithmetic over the literal
    * chronology, never pins them. PropertySpec pins the rule
    * generatively (subset, pins kept, age window exact, latest kept,
    * unknown-age kept, monotone in maxAge).
    *
    * 100 TB shape: identical to q298 — the policy run is pure
    * metadata (manifest + stamp-sidecar deletes, a reference-counted
    * GC); the age stamp costs one tiny TSV per record. Bounded-collect
    * class: 4 rows.
    */
  val DayMillis = 86400000L
  val AgeMaxMillis: Long = 1L * DayMillis
  val AgeNowMillis: Long = 4L * DayMillis
  val AgePinned: Set[Int] = Set(1)

  /** PURE RULE — see the q303 scaladoc for the four clauses. */
  private[graft] def chooseSnapshotsToKeepByAge(ids: Seq[Int],
      recordedAt: Int => Option[Long], nowMillis: Long,
      maxAgeMillis: Long, pinned: Set[Int]): Set[Int] = {
    val window = ids.filter(id => recordedAt(id) match {
      case Some(at) => nowMillis - at <= maxAgeMillis
      case None => true // unknown age — never silently expired
    }).toSet
    window ++ pinned.filter(ids.contains) ++
      ids.sorted.lastOption.toSet
  }

  private[operators] def ageLakePath(sfDir: String): String =
    new java.io.File(s"target/agelake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
  }

  def q303AgeRetentionPolicy(s: SparkSession, dir: String): DataFrame = {
    val lake = ageLakePath(dir)
    val lakeDocs = s"$lake/documents.parquet"
    val snaps = s"$lake/snapshots"
    rmrf(new java.io.File(lake))
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % Round17Queries.IngestMod === 0L)
      .sizedWrite.mode("overwrite").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps,
      recordedAtMillis = 1L * DayMillis)
    (1L to 3L).foreach { k =>
      docs.filter(col("doc_id") % Round17Queries.IngestMod === k)
        .sizedWrite.mode("append").parquet(lakeDocs)
      graft.io.SnapshotStore.record(s, lakeDocs, snaps,
        recordedAtMillis = (k + 1L) * DayMillis)
    }
    val ids = graft.io.SnapshotStore.ids(s, snaps)
    val keep = chooseSnapshotsToKeepByAge(ids,
      id => graft.io.SnapshotStore.recordedAt(s, snaps, id),
      AgeNowMillis, AgeMaxMillis, AgePinned)
    graft.io.SnapshotStore.expireSnapshots(s, snaps, keep)
    // all kept slots stamped in ONE job (Round18Queries.snapshotSlotStamps)
    val slots = Round18Queries.snapshotSlotStamps(s, snaps, ids)
    val rows = ids.map { id =>
      val (k, r, c) = slots(id)
      // the recorded-at read back from the ARTIFACT (gates the
      // sidecar); an expired snapshot's stamp is GC'd with it
      val at = graft.io.SnapshotStore.recordedAt(s, snaps, id)
        .getOrElse(0L)
      (id.toLong, at, k, r, c)
    }
    import s.implicits._
    rows.toDF("snap_id", "recorded_at", "kept", "doc_rows", "doc_content")
      .orderBy(col("snap_id"))
  }

  /** Four states as WHERE-filtered aggregates; every keep verdict
    * replayed through the age arithmetic over the literal chronology
    * (recorded-at = snap_id days, now = day 4, window = 1 day, pin
    * {1}, latest = 4) — the oracle derives kept, never copies it. */
  val q303Sql: String = {
    val im = Round17Queries.IngestMod
    def state(id: Int, where: String): String = {
      val at = id.toLong * DayMillis
      val pinned = if (AgePinned.contains(id)) 1 else 0
      val isLatest = if (id == 4) 1 else 0
      s"""SELECT CAST($id AS BIGINT) AS snap_id,
         |       CASE WHEN kept.k = 1 THEN CAST($at AS BIGINT)
         |            ELSE CAST(0 AS BIGINT) END AS recorded_at,
         |       kept.k AS kept,
         |       CASE WHEN kept.k = 1 THEN st.r
         |            ELSE CAST(0 AS BIGINT) END AS doc_rows,
         |       CASE WHEN kept.k = 1 THEN st.c
         |            ELSE CAST(0 AS BIGINT) END AS doc_content
         |FROM (SELECT CASE WHEN $AgeNowMillis - $at <= $AgeMaxMillis
         |                    OR $pinned = 1 OR $isLatest = 1
         |                  THEN CAST(1 AS BIGINT)
         |                  ELSE CAST(0 AS BIGINT) END AS k) kept
         |CROSS JOIN (
         |  SELECT CAST(count(*) AS BIGINT) AS r,
         |         CAST(coalesce(sum((doc_id * 31 + strlen(text)) % 1048576),
         |                       0) AS BIGINT) AS c
         |  FROM documents $where) st""".stripMargin
    }
    (1 to 4).map(id =>
        state(id, s"WHERE doc_id % $im < $id"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY snap_id")
  }

  // --------------------------------------------------------------- q304
  /** MASKED-DF ALTERNATION — the round-14 verdict's #6 as a gated
    * cycle: the masked-df artifact used to be a SINGLE-STATE slot
    * ([[Round15Queries.ensureBm25MaskedDf]] overwrote one path per
    * index), so two serving cohorts alternating tombstone sets (A/B
    * eval masks) thrashed a cold postings-decrement pass on EVERY
    * switch — the amortization q292 demonstrated held only for a
    * stable delete set. The artifact is now keyed by tombstone stamp
    * (`maskeddf/st-<rows>-<content>/`, bounded
    * [[Round15Queries.MaskedDfMaxStates]] states, oldest-built
    * evicted, stale-index states GC'd), so each distinct set computes
    * ONCE and stays warm under any interleaving.
    *
    * The gated cycle extends q292's counted-thunk law to alternation:
    * own lake replica → cold index build → tombstone sets A (the q283
    * rule) and B (a disjoint residue) → COUNTED ensure A, B, A, B —
    * exactly TWO computes land (one per distinct set; the old slot
    * paid four) → the masked serve for A reads A's state through the
    * validated critical section. Serve rows ≡ q283's (the oracle is
    * the q244 chain over A's surviving corpus); the compute count and
    * both sets' sizes ride along as contract constants.
    *
    * 100 TB shape: an A/B evaluation's marginal masked-serve bill
    * drops from (postings pass per switch) to (pruned serve) — the
    * q292 amortization now holds under alternation, which is how eval
    * masks are actually used. Bench-excluded: pays a cold index build
    * + two postings passes per call by construction (the q292
    * rationale; the serving path is benched as q283).
    */
  private[operators] def mdAltLakePath(sfDir: String): String =
    new java.io.File(s"target/mdaltlake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  val AltDeleteRemB = 2L

  def q304MaskedDfAlternation(s: SparkSession, dir: String): DataFrame = {
    val lake = mdAltLakePath(dir)
    rmrf(new java.io.File(lake))
    rmrf(new java.io.File(Round15Queries.bm25IndexPath(lake)))
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$lake/documents.parquet")
    Round15Queries.ensureBm25IndexIncremental(s, lake)
    val idx = Round15Queries.bm25IndexPath(lake)
    val dl = s.read.parquet(s"$idx/dl").select(col("doc_id"))
    val tombsA = dl.filter(col("doc_id") % Round15Queries.Bm25DeleteMod
      === Round15Queries.Bm25DeleteRem).localCheckpoint()
    val tombsB = dl.filter(col("doc_id") % Round15Queries.Bm25DeleteMod
      === AltDeleteRemB).localCheckpoint()
    var computes = 0L
    def ensure(t: DataFrame): Unit = Round15Queries.ensureBm25MaskedDf(
      s, idx, t, onCompute = () => computes += 1L)
    // the alternation: A, B, A, B — two states, two computes
    ensure(tombsA); ensure(tombsB); ensure(tombsA); ensure(tombsB)
    val qt = Round15Queries.multiBm25QueryTableFrom(
      Round15Queries.readMaskedDf(s, idx, tombsA))
    Round15Queries.bm25ServeQueriesFromIndexMasked(s, idx, qt,
        math.round(Round14Queries.Bm25K1 * 1e6),
        math.round(Round14Queries.Bm25B * 1e6), tombsA)
      .drop("k1_micro", "b_micro")
      .withColumn("n_dead_a", lit(tombsA.count()))
      .withColumn("n_dead_b", lit(tombsB.count()))
      .withColumn("computes", lit(computes))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The q244 chain over A's surviving corpus + the alternation
    * contract: two distinct sets ⇒ exactly two computes; both sets'
    * sizes replayed as filtered counts. */
  val q304Sql: String = {
    val mod = Round15Queries.Bm25DeleteMod
    val remA = Round15Queries.Bm25DeleteRem
    val filtered = Round15Queries.q244Sql.replace("FROM documents)",
      s"FROM documents WHERE doc_id % $mod <> $remA)")
    val prefix = filtered.substring(0, filtered.indexOf("best AS ("))
    s"""${prefix}best AS (
       |  SELECT query_id, doc_id, bm25, n_terms_hit,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY bm25 DESC, doc_id ASC) AS rk
       |  FROM scored),
       |dead AS (
       |  SELECT CAST(count(*) FILTER (WHERE doc_id % $mod = $remA)
       |              AS BIGINT) AS n_dead_a,
       |         CAST(count(*) FILTER (WHERE doc_id % $mod = $AltDeleteRemB)
       |              AS BIGINT) AS n_dead_b
       |  FROM documents)
       |SELECT b.query_id, b.doc_id, b.bm25, b.n_terms_hit,
       |       CAST(b.rk AS BIGINT) AS rk,
       |       d.n_dead_a, d.n_dead_b,
       |       CAST(2 AS BIGINT) AS computes
       |FROM best b CROSS JOIN dead d
       |WHERE b.rk <= ${Round15Queries.MultiBm25K}
       |ORDER BY b.query_id, b.rk""".stripMargin
  }

  // --------------------------------------------------------------- q305
  /** AS-OF DATASET CARD — [[Round18Queries.cardBuildAsOf]] gated: a
    * release's datasheet pinned to snapshot k, reproducible the way
    * q290 makes its retrieval, across BOTH history shapes:
    *
    *   - a PRE-COMPACTION, post-expiry pin (k = 3 here): snapshot 1 is
    *     expired, so the chain seeds from readAsOf(2) — served from
    *     RETAINED files (the compaction landed after 3) — and merges
    *     the 2→3 delta through the card's cursor verb;
    *   - a POST-COMPACTION pin (k = 4): the compaction between 3 and 4
    *     breaks the append chain (readDelta's law), which the plan
    *     detects from manifests alone and seeds one-shot from
    *     readAsOf(4) — never a wrong merge.
    *
    * Both cards must equal q291's one-shot rollup over their exact
    * historical state (the oracle replays each as WHERE-filtered
    * aggregates: state 3 = the three ingest slices; state 4 = the
    * compaction's survivors), with each card's meta stamp and the
    * chain contract (base id, merge count) riding along.
    *
    * 100 TB shape: re-publishing a historical datasheet costs the
    * pinned state's own volume AT MOST — and only the DELTA intervals'
    * volumes when the history is append-only (the common case); chain
    * discovery is manifest TSV reads. Bench-excluded: two full card
    * builds over an own-replica chronology per call by construction
    * (the q295 rationale; the one-shot card is benched as q291).
    */
  private[operators] def asofCardLakePath(sfDir: String): String =
    new java.io.File(s"target/asofcardlake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  def q305AsOfCard(s: SparkSession, dir: String): DataFrame = {
    val lake = asofCardLakePath(dir)
    val lakeDocs = s"$lake/documents.parquet"
    val snaps = s"$lake/snapshots"
    rmrf(new java.io.File(lake))
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % Round17Queries.IngestMod === 0L)
      .sizedWrite.mode("overwrite").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    (1L to 2L).foreach { k =>
      docs.filter(col("doc_id") % Round17Queries.IngestMod === k)
        .sizedWrite.mode("append").parquet(lakeDocs)
      graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    }
    // the q293 compaction (retention keeps 1–3 readable) → snapshot 4
    val current = s.read.parquet(lakeDocs)
    graft.io.SnapshotStore.compactWithRetention(s, lakeDocs, snaps,
      current.join(current.select(col("doc_id"))
          .filter(col("doc_id") % Round15Queries.Bm25DeleteMod
            === Round15Queries.Bm25DeleteRem).localCheckpoint(),
        Seq("doc_id"), "left_anti"))
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    // expire snapshot 1: the pre-compaction pin must seed from 2
    graft.io.SnapshotStore.expireSnapshots(s, snaps, Set(2, 3, 4))
    def cardAt(k: Int): DataFrame = {
      var base = 0L; var merges = 0L
      Round18Queries.cardBuildAsOf(s, snaps, k, s"$lake/card$k",
        onBase = b => base = b.toLong,
        onMerge = (_, _) => merges += 1L)
      Round18Queries.cardServe(s, s"$lake/card$k")
        .withColumn("asof_id", lit(k.toLong))
        .withColumn("base_id", lit(base))
        .withColumn("n_merges", lit(merges))
    }
    cardAt(3).unionByName(cardAt(4))
      .orderBy(col("asof_id"), col("lang"), col("source"))
  }

  /** Two q291 replays over the WHERE-filtered historical states, each
    * with its stamp and the chain contract (pre-compaction pin: base
    * 2 + one merge; post-compaction pin: one-shot base 4). */
  val q305Sql: String = {
    val im = Round17Queries.IngestMod
    val dm = Round15Queries.Bm25DeleteMod
    val dr = Round15Queries.Bm25DeleteRem
    def state(asof: Int, where: String, base: Int, merges: Int): String =
      s"""SELECT v.lang, v.source, v.n_docs, v.n_bytes, v.n_tokens,
         |       coalesce(vc.n_terms, 0) AS n_terms,
         |       round(v.n_tokens / CAST(v.n_docs AS DOUBLE), 6)
         |         AS mean_tokens,
         |       ps.post_rows, ps.post_content,
         |       CAST($asof AS BIGINT) AS asof_id,
         |       CAST($base AS BIGINT) AS base_id,
         |       CAST($merges AS BIGINT) AS n_merges
         |FROM (
         |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
         |         CAST(coalesce(sum(len(list_filter(string_split(trim(
         |                  regexp_replace(lower(text), '(\\d|\\W)+', ' ',
         |                'g')), ' '), x -> x <> ''))), 0) AS BIGINT)
         |           AS n_tokens
         |  FROM documents $where GROUP BY lang, source) v
         |LEFT JOIN (
         |  SELECT lang, source,
         |         CAST(count(DISTINCT term) AS BIGINT) AS n_terms
         |  FROM (SELECT lang, source, unnest(list_filter(string_split(
         |          trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ',
         |          'g')), ' '), x -> x <> '')) AS term
         |        FROM documents $where)
         |  GROUP BY lang, source) vc USING (lang, source)
         |CROSS JOIN (
         |  SELECT CAST(count(*) AS BIGINT) AS post_rows,
         |         CAST(coalesce(sum((doc_id * 31 + strlen(text)) % 1048576),
         |                       0) AS BIGINT) AS post_content
         |  FROM documents $where) ps""".stripMargin
    s"""${state(3, s"WHERE doc_id % $im < 3", 2, 1)}
       |UNION ALL
       |${state(4, s"WHERE doc_id % $im < 3 AND doc_id % $dm <> $dr", 4, 0)}
       |ORDER BY asof_id, lang, source""".stripMargin
  }

  // --------------------------------------------------------------- q306
  /** SQL CARD SERVE — `graft_card('<path>')` gated: the dataset card
    * becomes a PERSISTED, WARM-SERVED artifact for the main corpus
    * (until now cards lived only inside the cycle queries' own lake
    * replicas, and q291 re-tokenized the corpus on every read) plus a
    * plain-SQL surface, extending the q46/q296/q302 TVF convention to
    * the datasheet. [[ensureCorpusCard]] is the q281 index-ensure
    * discipline applied to the card: warm = the sidecar corpus stamp
    * (metadata-scale) against the card's meta — the build tokenize is
    * paid once per corpus state; the TVF resolves at analysis through
    * [[graft.operators.Round18Queries.cardServe]], so the torn/legacy
    * refusals fire at PLAN time and a SQL read never tokenizes.
    * Oracle = the q295 replay (the one-shot q291 card + the corpus
    * stamp). Benched: the warm path is a stamp check + strata-scale
    * artifact reads — the production card-read cost, which q291's
    * recompute twin upper-bounds.
    */
  private[graft] def corpusCardPath(sfDir: String): String =
    new java.io.File(s"target/card/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  /** Ensure the shared corpus card is warm for `dir` — warmth from
    * the CACHED sidecar stamp (a file listing + TSV read; the q281
    * convention), so a warm call never touches the text column.
    * Routes through the INCREMENTAL ensure (q307): a corpus that grew
    * by appended files since the last build pays only a batch-sized
    * merge, never a full re-tokenize — the prepareBm25Index
    * convention. */
  def ensureCorpusCard(s: SparkSession, dir: String): String =
    ensureCorpusCardIncremental(s, dir)

  def q306SqlCard(s: SparkSession, dir: String): DataFrame = {
    val path = ensureCorpusCard(s, dir)
    s.sql(s"SELECT * FROM graft_card('$path') ORDER BY lang, source")
  }

  /** The q295 oracle verbatim: the one-shot q291 card over the full
    * corpus plus its stamp — exactly what the persisted card serves. */
  val q306Sql: String = Round18Queries.q295Sql


  // --------------------------------------------------------------- q307
  /** CARD INGEST CYCLE — the q282 maintenance-plan discipline applied
    * to the PERSISTED corpus card: [[ensureCorpusCard]] rebuilds (a
    * full corpus tokenize) on ANY stamp move, but a lake ingest is an
    * append of NEW FILES — the card's volume sums and vocab union are
    * exactly mergeable (the q295 theorem), so the ensure can pay a
    * BATCH tokenize instead. [[cardMaintenancePlan]] is
    * [[Round15Queries.indexMaintenancePlan]]'s card twin — a pure
    * rule over file metadata:
    *   (a) the per-file ledger's Σ (rows, content) must equal the
    *       card's meta stamp (a crashed append fails this and forces
    *       a rebuild — composing with the card's OWN ledger↔meta
    *       Σ-tie, which already refuses torn merges);
    *   (b) every ledgered file must still be present with its
    *       recorded (len, mtime) — the StampSidecar trust boundary;
    *   (c) at least one never-seen file exists (the batch).
    * Append = tokenize ONLY the new files → [[Round18Queries
    * .cardAppendBatch]] (the file ledger advances FIRST, so a crash
    * inside the merge leaves Σ ledger ≠ meta ⇒ rule (a) rebuilds —
    * never a double-add).
    *
    * The gated cycle (own lake replica, the q280/q282 convention):
    * seed → COUNTED ensure (cold build) → warm re-ensure (zero verbs)
    * → ingest lands as new files → COUNTED ensure (append, NOT
    * rebuild) → the served card ≡ q291's one-shot card over the grown
    * corpus (the oracle), verb counts as contract constants.
    *
    * 100 TB shape: republishing the card after an ingest costs the
    * batch tokenize + a strata-scale sum merge + touched-bucket vocab
    * union — the lake's text is re-read ONLY for never-carded files;
    * the decision is a file listing + two tiny TSV reads.
    */
  private[graft] def cardFilesLedgerPath(path: String): String =
    s"$path/files.tsv"

  sealed trait CardPlan
  case object CardRebuild extends CardPlan
  final case class CardAppend(newFiles: Seq[String]) extends CardPlan

  /** Pure append-or-rebuild decision for the card — no Spark, no I/O
    * (unit-testable like the index twin). `state` must be the card's
    * [[Round18Queries.cardState]]; anything but OK rebuilds. */
  private[graft] def cardMaintenancePlan(
      ledger: Seq[graft.io.StampSidecar.FileStamp],
      current: Seq[(String, Long, Long)],
      meta: Option[(Long, Long)], stateOk: Boolean): CardPlan =
    meta match {
      case _ if !stateOk => CardRebuild
      case None => CardRebuild
      case Some((mr, mc)) =>
        if (ledger.isEmpty || ledger.map(_.rows).sum != mr ||
            ledger.map(_.content).sum != mc) CardRebuild
        else {
          val cur = current.map(f => f._1 -> f).toMap
          val intact = ledger.forall(e => cur.get(e.path)
            .exists(c => c._2 == e.len && c._3 == e.mtime))
          val seen = ledger.map(_.path).toSet
          val newFiles =
            current.collect { case (p, _, _) if !seen.contains(p) => p }
          if (intact && newFiles.nonEmpty) CardAppend(newFiles)
          else CardRebuild
        }
    }

  /** [[ensureCorpusCard]] with the INCREMENTAL path: warm → nothing;
    * stamp moved by a pure file append onto an intact ledger →
    * batch-tokenize merge; anything else → rebuild. `onBuild`/
    * `onAppend` observe the verb (counted-thunk). */
  def ensureCorpusCardIncremental(s: SparkSession, dir: String,
      onBuild: () => Unit = () => (),
      onAppend: Seq[String] => Unit = _ => ()): String = {
    val path = corpusCardPath(dir)
    EnsureLock.withLock(path) {
      val (r, c) = ChoiceStore.documentsStampCachedFor(s, dir)
      val warm = Round18Queries.cardState(s, path) == Round18Queries.CardOk &&
        Round18Queries.cardMetaRead(s, path).contains((r, c))
      // the maintenance PLAN and the verb it picks both run under ONE
      // cross-process claim (the index-ensure discipline): a second
      // JVM planning over this one's pre-merge state would otherwise
      // pass its own append plan, then re-add the batch the winner
      // already merged — cardAppendBatchBody reads the card's CURRENT
      // meta as its base, so the plan must still describe that state
      // when the merge runs. The refusal is loud and writes NOTHING
      // (the file ledger advances only inside the claim); the
      // refused process re-ensures warm once the winner lands.
      if (!warm) graft.io.ArtifactClaim.withClaim(s, path,
          "card maintenance") {
        val stateOk = Round18Queries.cardState(s, path) ==
          Round18Queries.CardOk
        // warmth re-checked INSIDE the claim: a winner that landed
        // between our stale check and the claim leaves a warm card
        // whose plan would read "ledger tied, nothing new" — a
        // redundant full REBUILD, not a no-op. The EnsureLock makes
        // this unreachable in-process; the re-check closes it
        // cross-process.
        val warmNow = stateOk && Round18Queries.cardMetaRead(s, path)
          .contains((r, c))
        if (!warmNow) {
          val current = graft.io.StampSidecar.listDataFiles(s,
            s"$dir/documents.parquet")
          // per-file partials come free: documentsStampCachedFor just
          // refreshed the corpus sidecar for exactly these files
          val perFile = graft.io.StampSidecar.read(s,
            ChoiceStore.docStampSidecarFor(dir))
          val ledgerNow = current.map { case (p, len, mt) =>
            val pf = perFile.get(p)
            graft.io.StampSidecar.FileStamp(p, len, mt,
              pf.map(_.rows).getOrElse(0L), pf.map(_.content).getOrElse(0L))
          }
          cardMaintenancePlan(
              graft.io.StampSidecar.read(s, cardFilesLedgerPath(path))
                .values.toSeq,
              current, Round18Queries.cardMetaRead(s, path), stateOk) match {
            case CardAppend(nf) =>
              onAppend(nf)
              // file ledger FIRST: a crash inside the merge leaves
              // Σ files.tsv ≠ meta ⇒ rule (a) rebuilds, never re-adds
              graft.io.StampSidecar.write(s, cardFilesLedgerPath(path),
                ledgerNow)
              Round18Queries.cardAppendBatchBody(s, path,
                s.read.parquet(nf: _*)
                  .select(col("doc_id"), col("lang"), col("source"),
                    col("text")))
            case CardRebuild =>
              onBuild()
              graft.io.StampSidecar.write(s, cardFilesLedgerPath(path),
                ledgerNow)
              Round18Queries.cardWriteBody(s, path, Tables.documents(s, dir)
                .select(col("doc_id"), col("lang"), col("source"),
                  col("text")))
          }
        }
      }
    }
    path
  }

  private[operators] def ciLakePath(sfDir: String): String =
    new java.io.File(s"target/cilake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  def q307CardIngestCycle(s: SparkSession, dir: String): DataFrame = {
    val lake = ciLakePath(dir)
    rmrf(new java.io.File(lake))
    rmrf(new java.io.File(corpusCardPath(lake)))
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    docs.filter(col("doc_id") % Round17Queries.IngestMod
        =!= Round17Queries.IngestRem)
      .write.mode("overwrite").parquet(s"$lake/documents.parquet")
    var builds = 0L; var appends = 0L
    def ensure(): Unit = { ensureCorpusCardIncremental(s, lake,
      onBuild = () => builds += 1L, onAppend = _ => appends += 1L); () }
    ensure() // cold build
    ensure() // warm — provably no verb
    val coldB = builds; val coldA = appends
    docs.filter(col("doc_id") % Round17Queries.IngestMod
        === Round17Queries.IngestRem)
      .write.mode("append").parquet(s"$lake/documents.parquet")
    ensure() // the ingest appends, never rebuilds
    Round18Queries.cardServe(s, corpusCardPath(lake))
      .withColumn("builds", lit(builds))
      .withColumn("appends", lit(appends))
      .withColumn("cold_builds", lit(coldB))
      .withColumn("cold_appends", lit(coldA))
      .orderBy(col("lang"), col("source"))
  }

  /** The q295 oracle (one-shot card over the full corpus + stamp) +
    * the cycle contract: one build, one append, warm zero. */
  val q307Sql: String = {
    val spliced = Round18Queries.q295Sql.replace(
      "ps.post_rows, ps.post_content",
      "ps.post_rows, ps.post_content,\n" +
        "       CAST(1 AS BIGINT) AS builds,\n" +
        "       CAST(1 AS BIGINT) AS appends,\n" +
        "       CAST(1 AS BIGINT) AS cold_builds,\n" +
        "       CAST(0 AS BIGINT) AS cold_appends")
    require(spliced != Round18Queries.q295Sql,
      "q307Sql: the q295 oracle template moved — update the splice")
    spliced
  }

  // --------------------------------------------------------------- q308
  /** RELEASE DRIFT REPORT — the datasheet question every corpus
    * release cycle asks: WHAT CHANGED between release A and release B?
    * q305 made the card reproducible at a point in time; this
    * composes two as-of cards into a per-stratum drift relation —
    * document/byte/token/term deltas, the vocabulary's new and
    * vanished terms, and a status verdict per (lang, source) stratum
    * ('new' / 'vanished' / 'grown' / 'shrunk' / 'flat' by document
    * count). [[cardDrift]] is the reusable verb: it reads ONLY the
    * two persisted card artifacts (strata-scale volume tables + the
    * bucketed vocab), so diffing two 100 TB releases costs card reads
    * — the lakes' text is never touched; the heavy lifting was paid
    * once per release by the card builds, and the torn/legacy
    * refusals ride in through [[Round18Queries.cardServe]].
    *
    * The gated chronology (own lake replica): seed (A's state) →
    * snapshot 1 → ingest → snapshot 2 → compaction applying the
    * standing delete set → snapshot 3. Release A = card-as-of(1),
    * release B = card-as-of(3) — so the drift sees both growth (the
    * ingest) and shrinkage (the deletes) in one report. The oracle
    * replays both corpus states from the literal chronology rules,
    * recomputes every stratum aggregate, the two vocabulary
    * anti-joins, and the CASE verdicts. Bounded-collect class:
    * strata-sized. Bench-excluded (two as-of card builds over an own
    * replica per call by construction — the q305 rationale; the verb
    * itself is card-artifact reads, benched via q306's serve class).
    */
  private[operators] def driftLakePath(sfDir: String): String =
    new java.io.File(s"target/driftlake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  /** Diff two SERVED cards into the per-stratum drift relation.
    * Artifact-only: volume tables full-outer-joined on the stratum
    * key, vocab anti-joined both ways for new/vanished terms; the
    * status verdict compares RAW (pre-coalesce) presence so an empty
    * stratum is 'new'/'vanished', never a zero-delta 'flat'. */
  private[graft] def cardDrift(s: SparkSession, aPath: String,
      bPath: String): DataFrame = {
    def side(path: String, p: String): DataFrame =
      Round18Queries.cardServe(s, path)
        .select(col("lang"), col("source"),
          col("n_docs").as(s"${p}_docs"),
          col("n_bytes").as(s"${p}_bytes"),
          col("n_tokens").as(s"${p}_tokens"),
          col("n_terms").as(s"${p}_terms"))
    def vocab(path: String): DataFrame =
      s.read.parquet(s"$path/vocab")
        .select(col("lang"), col("source"), col("term"))
    val key = Seq("lang", "source")
    val newTerms = vocab(bPath).join(vocab(aPath), key :+ "term", "left_anti")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("new_terms"))
    val goneTerms = vocab(aPath).join(vocab(bPath), key :+ "term", "left_anti")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("gone_terms"))
    side(aPath, "a").join(side(bPath, "b"), key, "full_outer")
      .join(newTerms, key, "left_outer")
      .join(goneTerms, key, "left_outer")
      .select(col("lang"), col("source"),
        coalesce(col("a_docs"), lit(0L)).as("a_docs"),
        coalesce(col("b_docs"), lit(0L)).as("b_docs"),
        (coalesce(col("b_docs"), lit(0L))
          - coalesce(col("a_docs"), lit(0L))).as("d_docs"),
        (coalesce(col("b_bytes"), lit(0L))
          - coalesce(col("a_bytes"), lit(0L))).as("d_bytes"),
        (coalesce(col("b_tokens"), lit(0L))
          - coalesce(col("a_tokens"), lit(0L))).as("d_tokens"),
        (coalesce(col("b_terms"), lit(0L))
          - coalesce(col("a_terms"), lit(0L))).as("d_terms"),
        coalesce(col("new_terms"), lit(0L)).as("new_terms"),
        coalesce(col("gone_terms"), lit(0L)).as("gone_terms"),
        when(col("a_docs").isNull, lit("new"))
          .when(col("b_docs").isNull, lit("vanished"))
          .when(col("b_docs") > col("a_docs"), lit("grown"))
          .when(col("b_docs") < col("a_docs"), lit("shrunk"))
          .otherwise(lit("flat")).as("status"))
  }

  def q308CardDrift(s: SparkSession, dir: String): DataFrame = {
    val lake = driftLakePath(dir)
    val lakeDocs = s"$lake/documents.parquet"
    val snaps = s"$lake/snapshots"
    rmrf(new java.io.File(lake))
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % Round17Queries.IngestMod < 2L)
      .sizedWrite.mode("overwrite").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps) // 1 = release A
    docs.filter(col("doc_id") % Round17Queries.IngestMod === 2L)
      .sizedWrite.mode("append").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps) // 2
    val current = s.read.parquet(lakeDocs)
    graft.io.SnapshotStore.compactWithRetention(s, lakeDocs, snaps,
      current.join(current.select(col("doc_id"))
          .filter(col("doc_id") % Round15Queries.Bm25DeleteMod
            === Round15Queries.Bm25DeleteRem).localCheckpoint(),
        Seq("doc_id"), "left_anti"))
    graft.io.SnapshotStore.record(s, lakeDocs, snaps) // 3 = release B
    Round18Queries.cardBuildAsOf(s, snaps, 1, s"$lake/cardA")
    Round18Queries.cardBuildAsOf(s, snaps, 3, s"$lake/cardB")
    cardDrift(s, s"$lake/cardA", s"$lake/cardB")
      .orderBy(col("lang"), col("source"))
  }

  /** Shared drift-oracle builder: the drift relation over two
    * WHERE-defined corpus states — every stratum aggregate, the two
    * vocabulary anti-joins, and the CASE verdicts recomputed by
    * DuckDB from the raw documents. q308 instantiates it with the
    * chronology's literal rules; q309 with the TVF gate's two card
    * corpora. */
  private def driftSql(whereA: String, whereB: String): String = {
    val tok = """list_filter(string_split(trim(regexp_replace(
                |    lower(text), '(\d|\W)+', ' ', 'g')), ' '),
                |    x -> x <> '')""".stripMargin
    def state(tag: String, where: String): String =
      s"""toks$tag AS (
         |  SELECT lang, source, text, $tok AS toks
         |  FROM documents $where),
         |vols$tag AS (
         |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
         |         CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS n_tokens
         |  FROM toks$tag GROUP BY lang, source),
         |terms$tag AS (
         |  SELECT DISTINCT lang, source, term
         |  FROM (SELECT lang, source, unnest(toks) AS term FROM toks$tag)),
         |vc$tag AS (
         |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_terms
         |  FROM terms$tag GROUP BY lang, source)""".stripMargin
    s"""WITH ${state("a", whereA)},
       |${state("b", whereB)},
       |sidea AS (SELECT v.lang, v.source, v.n_docs, v.n_bytes,
       |    v.n_tokens, coalesce(vc.n_terms, 0) AS n_terms
       |  FROM volsa v LEFT JOIN vca vc USING (lang, source)),
       |sideb AS (SELECT v.lang, v.source, v.n_docs, v.n_bytes,
       |    v.n_tokens, coalesce(vc.n_terms, 0) AS n_terms
       |  FROM volsb v LEFT JOIN vcb vc USING (lang, source)),
       |newt AS (SELECT b.lang, b.source,
       |    CAST(count(*) AS BIGINT) AS new_terms
       |  FROM termsb b LEFT JOIN termsa a
       |    ON a.lang = b.lang AND a.source = b.source AND a.term = b.term
       |  WHERE a.term IS NULL GROUP BY b.lang, b.source),
       |gonet AS (SELECT a.lang, a.source,
       |    CAST(count(*) AS BIGINT) AS gone_terms
       |  FROM termsa a LEFT JOIN termsb b
       |    ON a.lang = b.lang AND a.source = b.source AND a.term = b.term
       |  WHERE b.term IS NULL GROUP BY a.lang, a.source)
       |SELECT coalesce(a.lang, b.lang) AS lang,
       |       coalesce(a.source, b.source) AS source,
       |       CAST(coalesce(a.n_docs, 0) AS BIGINT) AS a_docs,
       |       CAST(coalesce(b.n_docs, 0) AS BIGINT) AS b_docs,
       |       CAST(coalesce(b.n_docs, 0) - coalesce(a.n_docs, 0)
       |            AS BIGINT) AS d_docs,
       |       CAST(coalesce(b.n_bytes, 0) - coalesce(a.n_bytes, 0)
       |            AS BIGINT) AS d_bytes,
       |       CAST(coalesce(b.n_tokens, 0) - coalesce(a.n_tokens, 0)
       |            AS BIGINT) AS d_tokens,
       |       CAST(coalesce(b.n_terms, 0) - coalesce(a.n_terms, 0)
       |            AS BIGINT) AS d_terms,
       |       CAST(coalesce(n.new_terms, 0) AS BIGINT) AS new_terms,
       |       CAST(coalesce(g.gone_terms, 0) AS BIGINT) AS gone_terms,
       |       CASE WHEN a.n_docs IS NULL THEN 'new'
       |            WHEN b.n_docs IS NULL THEN 'vanished'
       |            WHEN b.n_docs > a.n_docs THEN 'grown'
       |            WHEN b.n_docs < a.n_docs THEN 'shrunk'
       |            ELSE 'flat' END AS status
       |FROM sidea a FULL OUTER JOIN sideb b
       |  ON a.lang = b.lang AND a.source = b.source
       |LEFT JOIN newt n ON n.lang = coalesce(a.lang, b.lang)
       |  AND n.source = coalesce(a.source, b.source)
       |LEFT JOIN gonet g ON g.lang = coalesce(a.lang, b.lang)
       |  AND g.source = coalesce(a.source, b.source)
       |ORDER BY lang, source""".stripMargin
  }

  /** Replays both release states from the chronology's literal rules
    * and recomputes the full drift relation. */
  val q308Sql: String = {
    val im = Round17Queries.IngestMod
    val dm = Round15Queries.Bm25DeleteMod
    val dr = Round15Queries.Bm25DeleteRem
    driftSql(s"WHERE doc_id % $im < 2",
      s"WHERE doc_id % $im < 3 AND doc_id % $dm <> $dr")
  }

  // --------------------------------------------------------------- q309
  /** SQL DRIFT — [[cardDrift]] reached from ONE SQL text through the
    * `graft_card_drift('<card A>', '<card B>')` TVF
    * ([[graft.plans.SnapshotTvf.cardDriftPlan]], registered by
    * [[graft.GraftExtensions]]): the release engineer's "what changed
    * between these two releases" is a plain SQL relation — per-stratum
    * deltas, vocabulary drift, status verdicts — over two persisted
    * card artifacts, with both cards' torn/legacy refusals firing at
    * PLAN time. The gate builds two cards chronology-free (release A
    * = a half corpus, release B = the full corpus — the TVF's subject
    * is the SQL plumbing; the status matrix and the snapshot-composed
    * chronology are q308's gate) and reads the drift from
    * `spark.sql`; the oracle replays both card corpora through the
    * shared drift builder. Bench-excluded: two cold card builds over
    * card corpora per call by construction (the q308 rationale — the
    * TVF read itself is q306's card-serve class).
    */
  private[operators] def sqlDriftLakePath(sfDir: String): String =
    new java.io.File(s"target/sqldrift/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  def q309SqlDrift(s: SparkSession, dir: String): DataFrame = {
    val lake = sqlDriftLakePath(dir)
    rmrf(new java.io.File(lake))
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    Round18Queries.cardEnsure(s, s"$lake/cardA",
      docs.filter(col("doc_id") % Round17Queries.IngestMod < 2L))
    Round18Queries.cardEnsure(s, s"$lake/cardB", docs)
    s.sql(s"SELECT * FROM graft_card_drift('$lake/cardA', " +
      s"'$lake/cardB') ORDER BY lang, source")
  }

  /** The shared drift builder over the gate's two card corpora. */
  val q309Sql: String =
    driftSql(s"WHERE doc_id % ${Round17Queries.IngestMod} < 2", "")

  // --------------------------------------------------------------- q310
  /** AGE-RETAINED MAINTENANCE CYCLE — q300 with the AGE policy
    * underneath (the round-19 symmetry: the cycle composed with
    * retention existed only for the count-window rule; real lake
    * retention is q303's "keep what is younger than N, plus pins,
    * plus current"). Same machinery end-to-end —
    * [[Round17Queries.postingsMaintenanceCycleCore]] snapshots every
    * state transition (now with synthetic day stamps via its
    * `recordedAtFor` hook, so the verdicts are deterministic), the
    * FIRE branch compacts through the retention verb — then
    * [[chooseSnapshotsToKeepByAge]] (now = day 3, window = half a
    * day, pin {1}) feeds [[graft.io.SnapshotStore.expireSnapshots]],
    * and all three chronology slots are read back through the
    * loud-preserving slot reader. Under this chronology the age rule
    * reaches the same keep sets as q300's count rule (fire ⇒ snapshot
    * 1 lives by PIN, 2 expires OVER-AGE unprotected, 3 by window ∪
    * latest; skip ⇒ 2 lives as LATEST despite being over-age), so the
    * gate pins that a policy SWAP is behavior-preserving exactly when
    * the rules agree — while the oracle derives every keep verdict
    * through the replayed AGE arithmetic (window/pin/latest clauses
    * over the literal day stamps), never the count window.
    *
    * 100 TB shape: identical to q300 — the policy delta is a pure
    * rule over per-snapshot stamps (one tiny TSV each); the cycle's
    * bill is unchanged. Bench-excluded: the composed cycle's cost is
    * benched as q300 (the rule swap evaluates three integers).
    */
  val CycleAgeMaxMillis: Long = DayMillis / 2
  val CycleAgeNowMillis: Long = 3L * DayMillis
  val CycleAgePinned: Set[Int] = Set(1)

  private[operators] def armcLakePath(sfDir: String): String =
    new java.io.File(s"target/armclake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  def q310AgeRetainedMaintenanceCycle(s: SparkSession,
      dir: String): DataFrame = {
    val lake = armcLakePath(dir)
    val snaps = s"$lake/snapshots"
    val serve = Round17Queries.postingsMaintenanceCycleCore(s, dir,
      Round18Queries.RetainThrNum, Round18Queries.RetainThrDen,
      lakeOpt = Some(lake), snapDirOpt = Some(snaps),
      recordedAtFor = k => k.toLong * DayMillis)
    val allIds = graft.io.SnapshotStore.ids(s, snaps)
    val keep = chooseSnapshotsToKeepByAge(allIds,
      id => graft.io.SnapshotStore.recordedAt(s, snaps, id),
      CycleAgeNowMillis, CycleAgeMaxMillis, CycleAgePinned)
    graft.io.SnapshotStore.expireSnapshots(s, snaps, keep)
    val slots = Round18Queries.snapshotSlotStamps(s, snaps, Seq(1, 2, 3))
    val (s1k, s1r, s1c) = slots(1)
    val (s2k, s2r, s2c) = slots(2)
    val (s3k, s3r, s3c) = slots(3)
    serve
      .withColumn("s1_kept", lit(s1k)).withColumn("s1_rows", lit(s1r))
      .withColumn("s1_content", lit(s1c))
      .withColumn("s2_kept", lit(s2k)).withColumn("s2_rows", lit(s2r))
      .withColumn("s2_content", lit(s2c))
      .withColumn("s3_kept", lit(s3k)).withColumn("s3_rows", lit(s3r))
      .withColumn("s3_content", lit(s3c))
      .orderBy(col("query_id"), col("rk"))
  }

  /** q300's oracle with the THREE keep verdicts re-derived through
    * the replayed AGE arithmetic (each clause — window, pin, latest —
    * evaluated over the literal day stamps; the latest id depends on
    * the fire verdict, which the oracle already derives): snapshot 1
    * is over-age but PINNED; snapshot 2 is over-age and survives only
    * as the LATEST of a skipped cycle; snapshot 3 exists only when
    * fired and is then in-window AND latest. */
  val q310Sql: String = {
    def ageKept(id: Int, latestWhen: String): String = {
      val at = id.toLong * DayMillis
      val pinned = if (CycleAgePinned.contains(id)) 1 else 0
      s"""CASE WHEN $CycleAgeNowMillis - $at <= $CycleAgeMaxMillis
         |              OR $pinned = 1 OR ($latestWhen)
         |            THEN CAST(1 AS BIGINT)
         |            ELSE CAST(0 AS BIGINT) END""".stripMargin
    }
    // s3 only exists when the cycle fired: guard the age clause
    val s1 = ageKept(1, "1 = 0") // never latest (ids go past 1)
    val s2 = ageKept(2, "v.fire = 0") // latest iff the cycle skipped
    val s3 = s"""CASE WHEN v.fire = 1 THEN
       |              ${ageKept(3, "v.fire = 1").linesIterator
                        .mkString("\n       ")}
       |            ELSE CAST(0 AS BIGINT) END""".stripMargin
    var sql = Round18Queries.q300Sql
    def splice(from: String, to: String): Unit = {
      val next = sql.replace(from, to)
      require(next != sql, s"q310Sql: splice target moved: $from")
      sql = next
    }
    splice("CAST(1 AS BIGINT) AS s1_kept", s"$s1 AS s1_kept")
    splice("""CASE WHEN v.fire = 1 THEN CAST(0 AS BIGINT)
       |            ELSE CAST(1 AS BIGINT) END AS s2_kept""".stripMargin,
      s"$s2 AS s2_kept")
    splice("v.fire AS s3_kept", s"$s3 AS s3_kept")
    sql
  }

  val registry: Seq[Query] = Seq(
    Query("q303_age_retention_policy", q303AgeRetentionPolicy _, q303Sql),
    Query("q304_maskeddf_alternation", q304MaskedDfAlternation _, q304Sql),
    Query("q305_asof_card", q305AsOfCard _, q305Sql),
    Query("q306_sql_card", q306SqlCard _, q306Sql),
    Query("q307_card_ingest_cycle", q307CardIngestCycle _, q307Sql),
    Query("q308_card_drift", q308CardDrift _, q308Sql),
    Query("q309_sql_drift", q309SqlDrift _, q309Sql),
    Query("q310_age_retained_cycle", q310AgeRetainedMaintenanceCycle _, q310Sql),
  )
}
