package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables
import graft.io.SizedWrite.SizedWriteOps

/** Round-18 batch: the composition seams the round-12 lifecycle
  * surface opened, closed (round-12 verdict's next-round list —
  * reference repo has no counterpart; this is the LLM-data-pipeline
  * extension surface): the masked-df postings pass amortized into a
  * persisted artifact (q292), and snapshots surviving the maintenance
  * cycle's compaction through the table-format retention verb (q293).
  */
object Round18Queries {

  // --------------------------------------------------------------- q292
  /** MASKED-DF ARTIFACT CYCLE — the round-12 verdict's #1 made gated
    * code: before round 13 every delete-masked serve re-paid a FULL
    * postings-table pass to decrement per-term df by the tombstoned
    * mass ([[Round15Queries.bm25MaskedDf]] — measured honest but
    * index-proportional; at 100 TB with a stable delete set that pass
    * dominates the partition-pruned serve it feeds). The fix is the
    * q272/NprobeChoice validity discipline applied to the masked df:
    * [[Round15Queries.ensureBm25MaskedDf]] persists the decremented
    * (term, df) table keyed by (index stamp, tombstone-set stamp) —
    * either component moving recomputes once; a warm ensure is a meta
    * read plus a tombstone-sized stamp pass, and the serve reads a
    * vocabulary-scale bucket-partitioned table instead of scanning
    * postings.
    *
    * The gated cycle is self-contained (own lake replica — the q280
    * counted-thunk convention; a shared artifact would make the
    * observed verb counts depend on sibling queries' warm-up order):
    * seed the full corpus → cold index build → the q283 tombstone rule
    * → COUNTED ensure twice (cold computes once, the re-present
    * computes zero) → the masked serve from the artifact. Serve rows
    * are byte-identical to q283's (same corpus, same rule, same
    * scoring tail — the artifact ≡ live-decrement law, spec-pinned),
    * so the oracle is the q283 replay (the q244 chain over the
    * surviving corpus) plus the cycle's contract constants.
    *
    * 100 TB shape: the cycle's marginal bill for a REPEATED masked
    * serve drops from (postings pass + pruned serve) to (pruned serve)
    * — the SCALE.md masked-serve addendum's postings term gone; the
    * one-time decrement pass amortizes exactly like the index build it
    * rides next to. Bench-excluded: it pays a cold index build per
    * call by construction (the q280 rationale); its serving path IS
    * q283, which is benched.
    */
  private[operators] def mdLakePath(sfDir: String): String =
    new java.io.File(s"target/mdlake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
  }

  def q292MaskedDfArtifactCycle(s: SparkSession, dir: String): DataFrame = {
    val lake = mdLakePath(dir)
    val lakeDocs = s"$lake/documents.parquet"
    rmrf(new java.io.File(lake))
    rmrf(new java.io.File(Round15Queries.bm25IndexPath(lake)))
    Tables.documents(s, dir).sizedWrite.mode("overwrite").parquet(lakeDocs)
    Round15Queries.ensureBm25IndexIncremental(s, lake)
    val idx = Round15Queries.bm25IndexPath(lake)
    // the q283 delete rule, from the artifact's dl — zero corpus reads
    val tombstones = s.read.parquet(s"$idx/dl").select(col("doc_id"))
      .filter(col("doc_id") % Round15Queries.Bm25DeleteMod
        === Round15Queries.Bm25DeleteRem)
      .localCheckpoint()
    val nDead = tombstones.count()
    var computes = 0L
    def ensure(): Unit = Round15Queries.ensureBm25MaskedDf(s, idx,
      tombstones, onCompute = () => computes += 1L)
    ensure()
    val cold = computes
    ensure()
    val warm = computes - cold
    // the masked serve — its df side reads the artifact just ensured
    val qt = Round15Queries.multiBm25QueryTableFrom(
      Round15Queries.readMaskedDf(s, idx, tombstones))
    Round15Queries.bm25ServeQueriesFromIndexMasked(s, idx, qt,
        math.round(Round14Queries.Bm25K1 * 1e6),
        math.round(Round14Queries.Bm25B * 1e6), tombstones)
      .drop("k1_micro", "b_micro")
      .withColumn("n_dead", lit(nDead))
      .withColumn("computed_cold", lit(cold))
      .withColumn("computed_warm", lit(warm))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The q283 oracle (the q244 chain over the surviving corpus — the
    * masked serve's filtered-rebuild semantics) plus the cycle's
    * contract constants: cold computes once, warm computes nothing. */
  val q292Sql: String = {
    val sql = Round15Queries.q283Sql.replace(
      "rk, dd.n_dead",
      "rk, dd.n_dead,\n       CAST(1 AS BIGINT) AS computed_cold," +
        "\n       CAST(0 AS BIGINT) AS computed_warm")
    require(sql != Round15Queries.q283Sql,
      "q292Sql: the q283 oracle template moved — update the splice")
    sql
  }

  // --------------------------------------------------------------- q293
  /** SNAPSHOT-RETAINED COMPACTION — q285's time travel composed with
    * q284's FIRE actuation, the composition the round-12 verdict named
    * uncomposable: the maintenance cycle's compaction rewrites the
    * lake, and the bare snapshot store is REWRITE-FATAL — every prior
    * snapshot died loudly. [[graft.io.SnapshotStore.compactWithRetention]]
    * adds the table formats' missing verb: files referenced by a live
    * manifest are RENAMED (bytes untouched — a metadata op) into the
    * snapshot dir's retention area and the manifests atomically
    * rewritten to the new location, so the compaction rewrites the
    * CURRENT state while every as-of read stays byte-identical.
    * Retention ends only at [[graft.io.SnapshotStore.expireSnapshots]]
    * (GC of unreferenced retained files; expired reads stay loud —
    * spec-pinned, with the byte-equality law).
    *
    * The gated cycle: seed base → snapshot 1 → append the held-out
    * batch → snapshot 2 → the q283/q284 tombstone rule arrives → the
    * pure [[Round17Queries.chooseIndexRebuild]] decides (replayed by
    * the oracle, not pinned) → FIRE compacts the lake to survivors
    * WITH retention → snapshot 3. The report reads all three snapshots
    * back AFTER the compaction — snapshot 1 and 2 are served from
    * retained files, snapshot 3 from the compacted current state — and
    * states each one's corpus stamp and exact token count; the oracle
    * replays the three states as WHERE-filtered aggregates over the
    * full documents table. A retention bug of any kind — a file
    * dropped, double-moved, re-written, or a manifest pointed wrong —
    * hash-mismatches in one verdict.
    *
    * 100 TB shape: retention adds ZERO data I/O to the compaction
    * (renames + manifest rewrites — the survivor rewrite is the bill
    * compaction pays anyway); an as-of read after compaction costs the
    * snapshot's own volume, exactly as before it. Bounded-collect
    * class: 3 rows.
    */
  private[operators] def retLakePath(sfDir: String): String =
    new java.io.File(s"target/retlake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  /** q293's own SLO threshold: 12.5%, BELOW the ~14.3% dead fraction
    * the 1-in-7 tombstone rule produces — chosen so the gated cycle
    * deterministically exercises the FIRE branch (the retention verb
    * under test); the SKIP branch stays covered by q284, whose 25%
    * threshold the same rule deterministically stays under. The oracle
    * replays the rule, never pins the verdict. */
  val RetainThrNum = 1L
  val RetainThrDen = 8L

  def q293RetainedCompaction(s: SparkSession, dir: String): DataFrame = {
    val lake = retLakePath(dir)
    val lakeDocs = s"$lake/documents.parquet"
    val snaps = s"$lake/snapshots"
    rmrf(new java.io.File(lake))
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % Round17Queries.IngestMod
        =!= Round17Queries.IngestRem)
      .sizedWrite.mode("overwrite").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    docs.filter(col("doc_id") % Round17Queries.IngestMod
        === Round17Queries.IngestRem)
      .sizedWrite.mode("append").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    // the delete set over the CURRENT lake, the q283/q284 rule
    val current = s.read.parquet(lakeDocs)
    val tombstones = current.select(col("doc_id"))
      .filter(col("doc_id") % Round15Queries.Bm25DeleteMod
        === Round15Queries.Bm25DeleteRem)
      .localCheckpoint()
    val deadRows = tombstones.count()
    val liveRows = current.count()
    val fire = Round17Queries.chooseIndexRebuild(deadRows, liveRows,
      RetainThrNum, RetainThrDen)
    if (fire) {
      val survivors = current
        .join(tombstones, Seq("doc_id"), "left_anti")
      graft.io.SnapshotStore.compactWithRetention(s, lakeDocs, snaps,
        survivors)
    }
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    // all three states read back AFTER the actuation — 1 and 2 from
    // retained files iff the compaction fired
    def stateRow(id: Int): (Long, Long, Long, Long, Long) = {
      val d = graft.io.SnapshotStore.readAsOf(s, snaps, id)
        .select(col("doc_id"), col("text"))
      val (r, c) = ChoiceStore.documentsStamp(d)
      val nt = d.agg(coalesce(sum(size(
          graft.text.TextPrep.tokensCol(col("text")))), lit(0))
          .cast("long"))
        .head().getLong(0)
      (id.toLong, r, c, nt, if (fire) 1L else 0L)
    }
    import s.implicits._
    Seq(stateRow(1), stateRow(2), stateRow(3))
      .toDF("snap_id", "doc_rows", "doc_content", "n_tokens", "fire")
      .orderBy(col("snap_id"))
  }

  /** The three snapshot states as WHERE-filtered aggregates over the
    * full documents table (1 ≡ the base slice, 2 ≡ everything, 3 ≡
    * the post-compaction survivors), with the FIRE verdict replayed
    * through the same pure threshold rule. */
  val q293Sql: String = {
    val im = Round17Queries.IngestMod; val ir = Round17Queries.IngestRem
    val dm = Round15Queries.Bm25DeleteMod
    val dr = Round15Queries.Bm25DeleteRem
    def state(id: Int, where: String): String =
      s"""SELECT CAST($id AS BIGINT) AS snap_id,
         |       CAST(count(*) AS BIGINT) AS doc_rows,
         |       CAST(coalesce(sum((doc_id * 31 + strlen(text)) % 1048576),
         |                     0) AS BIGINT) AS doc_content,
         |       CAST(coalesce(sum(len(list_filter(string_split(trim(
         |                regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')),
         |              ' '), x -> x <> ''))), 0) AS BIGINT) AS n_tokens
         |FROM documents $where""".stripMargin
    s"""WITH verdict AS (
       |  SELECT CASE WHEN
       |           CAST(count(*) FILTER (WHERE doc_id % $dm = $dr) AS BIGINT)
       |             * $RetainThrDen >=
       |           CAST(count(*) AS BIGINT) * $RetainThrNum
       |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS fire
       |  FROM documents),
       |states AS (
       |  ${state(1, s"WHERE doc_id % $im <> $ir").linesIterator
            .mkString("\n  ")}
       |  UNION ALL
       |  ${state(2, "").linesIterator.mkString("\n  ")}
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT) AS snap_id,
       |         CASE WHEN v.fire = 1 THEN f.doc_rows ELSE a.doc_rows END
       |           AS doc_rows,
       |         CASE WHEN v.fire = 1 THEN f.doc_content
       |              ELSE a.doc_content END AS doc_content,
       |         CASE WHEN v.fire = 1 THEN f.n_tokens ELSE a.n_tokens END
       |           AS n_tokens
       |  FROM verdict v
       |  CROSS JOIN (${state(0, s"WHERE doc_id % $dm <> $dr").linesIterator
            .mkString("\n  ")}) f
       |  CROSS JOIN (${state(0, "").linesIterator.mkString("\n  ")}) a)
       |SELECT s.snap_id, s.doc_rows, s.doc_content, s.n_tokens, v.fire
       |FROM states s CROSS JOIN verdict v
       |ORDER BY s.snap_id""".stripMargin
  }

  // --------------------------------------------------------------- q294
  /** SNAPSHOT-CURSOR index maintenance: the LAKE MANIFESTS feed the
    * q282 append verb. Each snapshot interval (k, k+1) is one batch:
    * the manifest difference names exactly the files an ingest added
    * ([[graft.io.SnapshotStore.readDelta]] — two TSV reads + a set
    * difference, zero data I/O to discover; the scan reads only the
    * interval's own files), and each delta is merged through the SAME
    * append body every other ingestion style uses. So a consumer that
    * fell arbitrarily far behind catches up by replaying manifest
    * intervals — batch-sized bills, never a corpus re-tokenize — and
    * lands on an index whose meta is BIT-EQUAL to a one-shot build
    * over the final lake state (exact integer arithmetic in the
    * append body). The cursor position is the snapshot id — durable,
    * externally visible, and exactly-once by the append contract (ids
    * in a delta are new files' rows, disjoint from every indexed doc).
    *
    * The index must exist before consumption starts (built for the
    * from-snapshot's state — a catch-up never pays a corpus tokenize);
    * a rewrite inside the consumed range fails LOUDLY at the delta
    * read (the non-append interval law), which is the correct verdict:
    * a compacted lake needs a rebuild, not an append. Returns the
    * number of non-empty intervals applied. */
  def postingsAppendFromSnapshots(s: SparkSession, snapDir: String,
      indexDir: String, fromId: Int, toId: Int): Int = {
    if (Round15Queries.bm25IndexRead(s, indexDir).isEmpty)
      sys.error("postingsAppendFromSnapshots: no persisted postings " +
        s"index at $indexDir — build offline for snapshot $fromId first")
    (fromId until toId).count { k =>
      val delta = graft.io.SnapshotStore.readDelta(s, snapDir, k, k + 1)
        .select(col("doc_id"), col("text"))
      val nonEmpty = !delta.isEmpty
      if (nonEmpty) Round15Queries.bm25IndexAppendBatch(s, indexDir, delta)
      nonEmpty
    }
  }

  /** SNAPSHOT-CURSOR INDEX CATCH-UP — the round-12 verdict's #5 as a
    * gated cycle: q286's delta cursor and the q282 append verb
    * composed ([[postingsAppendFromSnapshots]]),
    * so the serving index is maintained FROM THE LAKE'S MANIFESTS —
    * each snapshot interval is a batch whose files the manifest
    * difference names exactly, merged through the shared append body.
    * A consumer that fell arbitrarily far behind catches up in
    * batch-sized bills and lands on an index bit-equal to a one-shot
    * build over the final state (the Round18QueriesSpec law; here the
    * oracle check).
    *
    * The gated cycle: seed base (half the corpus) → snapshot 1 → cold
    * index build for that state → two ingests land as snapshots 2 and
    * 3 → the consumer replays intervals 1→3 → the fixed-dial workload
    * serves from the caught-up index. Serve rows ≡ the q244 chain over
    * the FULL corpus (an index that missed a file, re-read an old one,
    * or double-applied an interval hash-mismatches); the report
    * carries the applied-interval count and the final meta stamp, both
    * oracle-replayed.
    *
    * 100 TB shape: catch-up cost = Σ batch tokenizes + vocabulary-
    * bucket df merges — the lake's text is re-read ONLY for never-
    * indexed files; discovery is manifest TSV reads. Bench-excluded
    * (cold build + two appends per call by construction — the q280/
    * q292 rationale; the marginal verbs are benched via q282 and
    * measured in SCALE.md).
    */
  private[operators] def curLakePath(sfDir: String): String =
    new java.io.File(s"target/curlake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  def q294SnapshotCursorCatchup(s: SparkSession, dir: String): DataFrame = {
    val lake = curLakePath(dir)
    val lakeDocs = s"$lake/documents.parquet"
    val snaps = s"$lake/snapshots"
    rmrf(new java.io.File(lake))
    rmrf(new java.io.File(Round15Queries.bm25IndexPath(lake)))
    val docs = Tables.documents(s, dir)
    // seed = half the corpus; two ingest batches of a quarter each
    docs.filter(col("doc_id") % Round17Queries.IngestMod < 2L)
      .sizedWrite.mode("overwrite").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    Round15Queries.ensureBm25IndexIncremental(s, lake) // cold, for snap 1
    docs.filter(col("doc_id") % Round17Queries.IngestMod === 2L)
      .sizedWrite.mode("append").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    docs.filter(col("doc_id") % Round17Queries.IngestMod === 3L)
      .sizedWrite.mode("append").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    val idx = Round15Queries.bm25IndexPath(lake)
    val applied = postingsAppendFromSnapshots(s, snaps, idx, 1, 3)
    val m = Round15Queries.bm25IndexRead(s, idx).getOrElse(
      sys.error("q294: index unreadable after catch-up"))
    val qt = Round15Queries.multiBm25QueryTableFrom(
      Round15Queries.readIndexDf(s, idx))
    Round15Queries.bm25ServeQueriesFromIndex(s, idx, qt,
        math.round(Round14Queries.Bm25K1 * 1e6),
        math.round(Round14Queries.Bm25B * 1e6))
      .drop("k1_micro", "b_micro")
      .withColumn("n_applied", lit(applied.toLong))
      .withColumn("post_rows", lit(m.docRows))
      .withColumn("post_content", lit(m.docContent))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The q244 chain over the FULL corpus (the caught-up state) + the
    * cycle's contract constants + the full-corpus stamp. */
  val q294Sql: String = {
    val prefix = Round15Queries.q244Sql.substring(0,
      Round15Queries.q244Sql.indexOf("best AS ("))
    s"""${prefix}best AS (
       |  SELECT query_id, doc_id, bm25, n_terms_hit,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY bm25 DESC, doc_id ASC) AS rk
       |  FROM scored),
       |pstamp AS (
       |  SELECT CAST(count(*) AS BIGINT) AS post_rows,
       |         CAST(coalesce(sum((doc_id * 31 + strlen(text)) % 1048576),
       |                       0) AS BIGINT) AS post_content
       |  FROM documents)
       |SELECT b.query_id, b.doc_id, b.bm25, b.n_terms_hit,
       |       CAST(b.rk AS BIGINT) AS rk,
       |       CAST(2 AS BIGINT) AS n_applied,
       |       p.post_rows, p.post_content
       |FROM best b CROSS JOIN pstamp p
       |WHERE b.rk <= ${Round15Queries.MultiBm25K}
       |ORDER BY b.query_id, b.rk""".stripMargin
  }

  // --------------------------------------------------------------- q295
  /** INCREMENTAL DATASET CARD — the cursor-fed-artifact pattern
    * generalized past the serving index: q291's per-(lang, source)
    * datasheet is a DERIVED STATISTIC a release republishes after
    * every ingest, and recomputing it re-tokenizes the lake. Every
    * number on the card is exactly mergeable: doc/byte/token volumes
    * are integer sums (order-free), the stratum vocabulary is a
    * distinct (lang, source, term) SET (union-exact), and the only
    * double — mean tokens/doc — derives from the sums at serve time.
    * So the card persists as two tables and an ingest merges the
    * BATCH's contribution:
    *
    *   - `volumes/` — (lang, source, n_docs, n_bytes, n_tokens):
    *     strata-scale; merge = read ∪ batch, group-sum, overwrite
    *     (tiny — |lang|×|source| rows).
    *   - `vocab/`   — distinct (lang, source, term), PARTITIONED BY
    *     the `pt` term-hash bucket (the round-13 df discipline):
    *     merge reads and dynamically overwrites ONLY buckets the
    *     batch's terms hash into — batch-vocabulary-scale.
    *   - `meta/`    — the corpus stamp, written LAST (torn-merge
    *     ordering: a crash never presents a half-merged card as
    *     current), advanced by exactly the batch's contribution.
    *   - `ledger.tsv` — the TARGET stamp of the in-flight state,
    *     written FIRST (the postings index's ledger↔meta Σ-tie,
    *     `Round15Queries.indexMaintenancePlan` rule (a), applied to
    *     the card): a merge is torn exactly when ledger ≠ meta, and
    *     volume sums are NOT idempotent (a crash-retried merge would
    *     double-add the batch's n_docs/n_bytes/n_tokens where the
    *     vocab's set union is naturally safe), so [[cardAppendBatch]]
    *     REFUSES a torn card loudly, [[cardServe]] refuses to present
    *     one, and [[cardEnsure]] resolves it to a rebuild — never a
    *     double-count (Round18QueriesSpec's torn-merge/retry law;
    *     gated as q299).
    *
    * Incremental ≡ recompute holds EXACTLY (integer sums + set
    * union — Round18QueriesSpec pins any-split convergence and table
    * set-equality vs a one-shot build). The gated cycle: seed base →
    * snapshot → card built from delta(0,1) → ingest lands as
    * snapshot 2 → card merged with delta(1,2) — the
    * [[graft.io.SnapshotStore.readDelta]] cursor names the batch —
    * and the served card must hash-equal q291's one-shot card over
    * the full corpus (the oracle), plus the advanced meta stamp.
    *
    * 100 TB shape: republishing the card after an ingest costs the
    * batch tokenize + a strata-scale sum merge + touched-bucket vocab
    * union — never a lake re-tokenize; discovery is manifest TSV
    * reads. Bench-excluded (two tokenize passes over its own replica
    * per call by construction; the one-shot card is benched as q291).
    */
  private[operators] def cardLakePath(sfDir: String): String =
    new java.io.File(s"target/cardlake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  /** One tokenize pass → the card's two tables: strata volume sums
    * and the distinct stratum-term set (bucketing is the CALLER's —
    * a build chooses its count, a merge reads the card's own). */
  private[graft] def cardTablesOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val toks = docs.select(col("lang"), col("source"), col("text"),
        graft.text.TextPrep.tokensCol(col("text")).as("toks"))
      .localCheckpoint()
    val volumes = toks.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col("text"))).cast("long").as("n_bytes"),
        coalesce(sum(size(col("toks"))), lit(0)).cast("long")
          .as("n_tokens"))
    val vocab = toks
      .select(col("lang"), col("source"), explode(col("toks")).as("term"))
      .distinct()
    (volumes, vocab)
  }

  private[graft] def cardLedgerPath(path: String): String =
    s"$path/ledger.tsv"

  /** The card's Σ-tie ledger: the TARGET (rows, content) stamp of the
    * state the in-flight write is producing, committed atomically
    * (temp+rename) BEFORE any table is touched. A complete card has
    * ledger ≡ meta; any other combination is a torn write. */
  private[graft] def cardLedgerWrite(s: SparkSession, path: String,
      rows: Long, content: Long): Unit =
    graft.io.StampSidecar.write(s, cardLedgerPath(path), Seq(
      graft.io.StampSidecar.FileStamp("card", 0L, 0L, rows, content)))

  private[graft] def cardLedgerRead(s: SparkSession,
      path: String): Option[(Long, Long)] =
    graft.io.StampSidecar.read(s, cardLedgerPath(path)).get("card")
      .map(e => (e.rows, e.content))

  private[graft] def cardMetaRead(s: SparkSession,
      path: String): Option[(Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else scala.util.Try {
      val r = s.read.parquet(p.toString).head()
      (r.getAs[Long]("doc_rows"), r.getAs[Long]("doc_content"))
    }.toOption
  }

  /** The card's OWN bucket count, from meta — the round-14 verdict's
    * #5 (the q301 dial applied to the card): merges must hash the
    * batch's terms with whatever count the card was built at. None =
    * a pre-dial layout (meta without `n_buckets`) — a LEGACY card,
    * resolved by [[cardEnsure]]'s rebuild, never mis-merged at a
    * guessed count. */
  private[graft] def cardBucketsRead(s: SparkSession,
      path: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else scala.util.Try {
      val r = s.read.parquet(p.toString).head()
      r.getAs[Int]("n_buckets")
    }.toOption
  }

  /** The card's lifecycle state, classified from (ledger, meta):
    *   - ABSENT: neither side exists — a fresh path;
    *   - OK: ledger ≡ meta and the layout is current;
    *   - LEGACY: a healthy artifact from a previous format — meta
    *     present with no ledger (the pre-Σ-tie layout), or a tied
    *     pair whose meta lacks the bucket dial. Resolved by
    *     [[cardEnsure]]'s quiet rebuild; NOT a crash (the round-14
    *     advisory: a legacy card misdiagnosed as a torn merge tells
    *     the operator a crash happened that never did);
    *   - TORN: the ledger's target stamp and meta's committed stamp
    *     disagree, or a ledger exists with no readable meta — a
    *     crashed merge/build whose volume sums may be half-applied.
    */
  private[graft] sealed trait CardState
  private[graft] case object CardAbsent extends CardState
  private[graft] case object CardOk extends CardState
  private[graft] case object CardLegacy extends CardState
  private[graft] case object CardTornState extends CardState

  private[graft] def cardState(s: SparkSession, path: String): CardState =
    (cardLedgerRead(s, path), cardMetaRead(s, path)) match {
      case (None, None) => CardAbsent
      case (None, Some(_)) => CardLegacy
      case (Some(_), None) => CardTornState
      case (Some(l), Some(m)) =>
        if (l != m) CardTornState
        else if (cardBucketsRead(s, path).isEmpty) CardLegacy
        else CardOk
    }

  /** Torn = a crashed merge/build window (see [[cardState]]); a
    * legacy-layout card is NOT torn. */
  private[graft] def cardTorn(s: SparkSession, path: String): Boolean =
    cardState(s, path) == CardTornState

  /** Build the card artifact from scratch over `docs`; ledger FIRST
    * (the target stamp), meta LAST (the commit) — a crash anywhere
    * between leaves ledger ≠ meta, which every reader/merger treats
    * as torn. The vocab bucket count is ENGINE-CHOSEN (the q301
    * ladder over the card's own distinct-term count — the build
    * already paid the tokenize; the distinct count rides the vocab
    * table it is choosing for) and recorded in meta so merges hash
    * with the card's own dial. `nBucketsOverride` is the spec's hook
    * for pinning a non-default count. Cross-process fenced
    * ([[graft.io.ArtifactClaim]]): two processes cold-building the
    * same card collide loudly, never interleave overwrites. */
  private[graft] def cardWrite(s: SparkSession, path: String,
      docs: DataFrame, nBucketsOverride: Option[Int] = None): Unit =
    graft.io.ArtifactClaim.withClaim(s, path, "card build") {
      cardWriteBody(s, path, docs, nBucketsOverride)
    }

  /** [[cardWrite]] WITHOUT the claim — for callers that already hold
    * the artifact's claim across a larger critical section (the
    * incremental ensure's plan+verb pair; claims are O_EXCL files,
    * not reentrant). Never call without the claim held. */
  private[graft] def cardWriteBody(s: SparkSession, path: String,
      docs: DataFrame, nBucketsOverride: Option[Int] = None): Unit = {
      val d = docs.select(col("doc_id"), col("lang"), col("source"),
        col("text"))
      val (r, c) = ChoiceStore.documentsStamp(
        d.select(col("doc_id"), col("text")))
      cardLedgerWrite(s, path, r, c)
      val (volumes, vocab0) = cardTablesOf(d)
      val vocab = vocab0.localCheckpoint()
      val nb = nBucketsOverride.getOrElse(Round15Queries.chooseBucketCount(
        vocab.select(col("term")).distinct().count()))
      volumes.write.mode("overwrite").parquet(s"$path/volumes")
      vocab.withColumn("pt", pmod(hash(col("term")), lit(nb)))
        .write.mode("overwrite").partitionBy("pt").parquet(s"$path/vocab")
      import s.implicits._
      Seq((r, c, nb)).toDF("doc_rows", "doc_content", "n_buckets")
        .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
    }

  /** Merge one ingest batch into the card: volume sums add exactly
    * (disjoint docs), the vocab union touches only the batch's term
    * buckets (dynamic partition overwrite — the round-13 df merge
    * discipline), meta advances by exactly the batch's stamp
    * contribution, written LAST. Crash discipline (the round-13
    * verdict's #1): a TORN card (ledger ≠ meta) is REFUSED at entry —
    * the volume sums are not idempotent, so a crash-retried merge
    * must resolve through [[cardEnsure]]'s rebuild, never re-add the
    * batch; the ledger advances to the merge's TARGET stamp before
    * any table write, so a crash anywhere inside leaves the torn
    * marker every reader honors. `crashBeforeMeta` is the spec's
    * fault-injection hook: stop after the table writes, before the
    * meta commit — the exact window that used to double-count. */
  private[graft] def cardAppendBatch(s: SparkSession, path: String,
      batch: DataFrame, crashBeforeMeta: Boolean = false): Unit =
    graft.io.ArtifactClaim.withClaim(s, path, "card merge") {
      cardAppendBatchBody(s, path, batch, crashBeforeMeta)
    }

  /** [[cardAppendBatch]] WITHOUT the claim — for callers already
    * holding it across plan+verb (the incremental ensure). Never call
    * without the claim held: the merge reads the card's CURRENT meta
    * as its base, so a merge racing another writer's commit would
    * re-add a batch the other already merged. */
  private[graft] def cardAppendBatchBody(s: SparkSession, path: String,
      batch: DataFrame, crashBeforeMeta: Boolean = false): Unit = {
    val b = batch.select(col("doc_id"), col("lang"), col("source"),
      col("text")).localCheckpoint()
    val (br, bc) = ChoiceStore.documentsStamp(
      b.select(col("doc_id"), col("text")))
    if (br == 0L) return
    cardState(s, path) match {
      case CardTornState => throw new IllegalArgumentException(
        s"cardAppendBatch: card at $path is TORN (ledger ≠ meta — a " +
          "crashed merge); merging into it would double-count volume " +
          "sums. Rebuild via cardEnsure over the full corpus.")
      case CardLegacy => throw new IllegalArgumentException(
        s"cardAppendBatch: card at $path is a LEGACY/stale layout " +
          "(healthy, but from a previous format — no crash happened); " +
          "this code cannot merge into it. Rebuild via cardEnsure " +
          "over the full corpus.")
      case _ => ()
    }
    // the card's OWN bucket count: the batch's terms must hash with
    // the dial the card was built at or the vocab union is wrong
    val nb = cardBucketsRead(s, path).getOrElse(sys.error(
      s"cardAppendBatch: card at $path lost its bucket dial"))
    val meta = s.read.parquet(s"$path/meta").head()
    // ledger FIRST: the target stamp of the post-merge state — from
    // here until the meta commit the card presents as torn
    cardLedgerWrite(s, path, meta.getAs[Long]("doc_rows") + br,
      meta.getAs[Long]("doc_content") + bc)
    val (volumesNew, vocabNew0) = cardTablesOf(b)
    val vocabNew = vocabNew0
      .withColumn("pt", pmod(hash(col("term")), lit(nb)))
      .localCheckpoint()
    // strata-scale sum merge; materialize before overwriting its input
    val volumes = s.read.parquet(s"$path/volumes")
      .unionByName(volumesNew)
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_bytes")).as("n_bytes"),
        sum(col("n_tokens")).as("n_tokens"))
      .localCheckpoint()
    volumes.write.mode("overwrite").parquet(s"$path/volumes")
    // touched-bucket vocab union (≤ n_buckets rows collected)
    val touched = vocabNew.select(col("pt")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val merged = s.read.parquet(s"$path/vocab")
      .filter(col("pt").isin(touched: _*))
      .unionByName(vocabNew)
      .select(col("lang"), col("source"), col("term"), col("pt"))
      .distinct()
      .localCheckpoint()
    // per-WRITE dynamic overwrite — never the session-global conf (a
    // concurrent writer on the shared session must not inherit it)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pt").parquet(s"$path/vocab")
    if (crashBeforeMeta) sys.error(
      "cardAppendBatch: injected crash before the meta commit (test hook)")
    import s.implicits._
    // the dial rides every meta commit — a merged card keeps the
    // count it was built at (merges never re-choose: the bucket
    // layout is physical and rewriting it would be a rebuild)
    Seq((meta.getAs[Long]("doc_rows") + br,
        meta.getAs[Long]("doc_content") + bc, nb))
      .toDF("doc_rows", "doc_content", "n_buckets")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** ENSURE the card matches `docs` — the stamp-validated resolver
    * that gives the card the postings index's crash discipline: warm
    * iff the card is NOT torn and its meta stamp equals the corpus
    * stamp; a torn card (crashed merge) or a stale one rebuilds from
    * scratch ([[cardWrite]] — counted via `onBuild`, the q280
    * counted-thunk convention). The rebuild is what makes a crash-
    * RETRIED merge safe: the retry path is ensure → rebuild, never a
    * second non-idempotent sum merge. */
  private[graft] def cardEnsure(s: SparkSession, path: String,
      docs: DataFrame, onBuild: () => Unit = () => ()): Unit =
    EnsureLock.withLock(path) {
      val d = docs.select(col("doc_id"), col("lang"), col("source"),
        col("text"))
      val (r, c) = ChoiceStore.documentsStamp(
        d.select(col("doc_id"), col("text")))
      // warm needs a CURRENT-layout, un-torn card at the exact stamp;
      // both TORN (crashed merge) and LEGACY (previous format) resolve
      // to the same quiet rebuild — ensure is the one verb where the
      // distinction needs no message, because rebuild is correct for
      // both
      val warm = cardState(s, path) == CardOk &&
        cardMetaRead(s, path).contains((r, c))
      if (!warm) { onBuild(); cardWrite(s, path, d) }
    }

  /** Serve the card from the artifact tables — q291's exact columns
    * (the mean derives from the sums), plus the meta stamp. Refuses a
    * torn card (ledger ≠ meta): the volumes may hold a half-merged
    * state and nothing else in the schema could reveal it. */
  private[graft] def cardServe(s: SparkSession, path: String): DataFrame = {
    cardState(s, path) match {
      case CardTornState => throw new IllegalArgumentException(
        s"cardServe: card at $path is TORN (ledger ≠ meta — a crashed " +
          "merge); refusing to present possibly half-merged sums. " +
          "Rebuild via cardEnsure over the full corpus.")
      case CardLegacy => throw new IllegalArgumentException(
        s"cardServe: card at $path is a LEGACY/stale layout (healthy, " +
          "but from a previous format — no crash happened); this code " +
          "does not read it. Rebuild via cardEnsure over the full corpus.")
      case _ => ()
    }
    val meta = s.read.parquet(s"$path/meta").head()
    val vocabCounts = s.read.parquet(s"$path/vocab")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_terms"))
    s.read.parquet(s"$path/volumes")
      .join(vocabCounts, Seq("lang", "source"), "left_outer")
      .select(col("lang"), col("source"), col("n_docs"), col("n_bytes"),
        col("n_tokens"), coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        round(col("n_tokens") / col("n_docs"), 6).as("mean_tokens"))
      .withColumn("post_rows", lit(meta.getAs[Long]("doc_rows")))
      .withColumn("post_content", lit(meta.getAs[Long]("doc_content")))
  }

  /** Build the card AS OF snapshot `k` — the round-14 verdict's #7:
    * q290 made retrieval reproducible at a point in time; the card —
    * the artifact a release actually publishes — gets the same
    * composition. The build is cursor-fed where the lake's history
    * allows it: the longest APPEND-ONLY suffix of the recorded chain
    * ending at `k` is discovered from manifests alone (file-subset
    * checks — metadata TSV reads, the readDelta law made a plan
    * rule), the card seeds from `readAsOf(base)` and each interval
    * merges through [[cardAppendBatch]] with the delta the manifest
    * difference names. A compaction inside the window breaks the
    * append law (readDelta would refuse), so the chain restarts at
    * the first post-compaction snapshot — never a wrong merge, at
    * worst a one-shot base. The result is provably the one-shot card
    * over `readAsOf(k)` (incremental ≡ recompute + the cursor law,
    * both spec-pinned; Round18QueriesSpec pins the composition).
    * `onBase`/`onMerge` observe the chain (the counted-thunk
    * convention). */
  private[graft] def cardBuildAsOf(s: SparkSession, snaps: String,
      k: Int, path: String, onBase: Int => Unit = _ => (),
      onMerge: (Int, Int) => Unit = (_, _) => ()): Unit = {
    val sorted = graft.io.SnapshotStore.ids(s, snaps).filter(_ <= k).sorted
    require(sorted.contains(k),
      s"cardBuildAsOf: snapshot $k is not recorded (or was expired) " +
        s"at $snaps — an as-of card needs its pin readable")
    def paths(id: Int): Set[String] =
      graft.io.SnapshotStore.manifest(s, snaps, id).map(_.path).toSet
    var chain = List(k)
    var idx = sorted.indexOf(k) - 1
    var appendOnly = true
    while (idx >= 0 && appendOnly) {
      val id = sorted(idx)
      if (paths(id).subsetOf(paths(chain.head))) chain = id :: chain
      else appendOnly = false // a rewrite (compaction) breaks the chain
      idx -= 1
    }
    val base = chain.head
    onBase(base)
    cardWrite(s, path, graft.io.SnapshotStore.readAsOf(s, snaps, base))
    chain.sliding(2).foreach {
      case List(a, b) =>
        onMerge(a, b)
        cardAppendBatch(s, path,
          graft.io.SnapshotStore.readDelta(s, snaps, a, b))
      case _ => () // a single-element chain has no interval
    }
  }

  def q295IncrementalCard(s: SparkSession, dir: String): DataFrame = {
    val lake = cardLakePath(dir)
    val lakeDocs = s"$lake/documents.parquet"
    val snaps = s"$lake/snapshots"
    val card = s"$lake/card"
    rmrf(new java.io.File(lake))
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % Round17Queries.IngestMod
        =!= Round17Queries.IngestRem)
      .sizedWrite.mode("overwrite").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    cardWrite(s, card, graft.io.SnapshotStore.readDelta(s, snaps, 0, 1))
    docs.filter(col("doc_id") % Round17Queries.IngestMod
        === Round17Queries.IngestRem)
      .sizedWrite.mode("append").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    cardAppendBatch(s, card,
      graft.io.SnapshotStore.readDelta(s, snaps, 1, 2))
    cardServe(s, card).orderBy(col("lang"), col("source"))
  }

  /** q291's one-shot card replay over the full corpus + the full
    * stamp — the incremental ≡ recompute theorem as the oracle. */
  val q295Sql: String = {
    val body = Round17Queries.q291Sql
    val withoutOrder = body.substring(0, body.lastIndexOf("ORDER BY"))
    // splice the stamp into the final projection
    val spliced = withoutOrder.replace(
      "round(v.n_tokens / CAST(v.n_docs AS DOUBLE), 6)\n         AS mean_tokens",
      "round(v.n_tokens / CAST(v.n_docs AS DOUBLE), 6)\n         AS mean_tokens,\n       ps.post_rows, ps.post_content")
      .replace("FROM vols v LEFT JOIN vocab vc USING (lang, source)",
        "FROM vols v LEFT JOIN vocab vc USING (lang, source)\n" +
          "CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS post_rows,\n" +
          "  CAST(coalesce(sum((doc_id * 31 + strlen(text)) % 1048576), 0)\n" +
          "       AS BIGINT) AS post_content FROM documents) ps")
    require(spliced != withoutOrder,
      "q295Sql: the q291 oracle template moved — update the splice")
    spliced + "ORDER BY v.lang, v.source"
  }

  // --------------------------------------------------------------- q296
  /** SQL TIME TRAVEL — the snapshot store's TABLE-VALUED-FUNCTION
    * surface ([[graft.plans.SnapshotTvf]], registered by
    * [[graft.GraftExtensions]] via `injectTableFunction`): a plain SQL
    * user writes `FROM graft_asof('<snapdir>', k)` /
    * `FROM graft_delta('<snapdir>', a, b)` and gets the pinned file
    * set as a relation — manifest resolved during ANALYSIS (a TSV
    * read), every store guarantee carried over unchanged (loud
    * rewrite boundary at plan time, the non-append delta law,
    * file-level pruning before the scan). This is the q46/q225/q253
    * SQL-surface-twin convention applied to the lake verbs, except
    * the twin is gated in its own right because the TVF path is new
    * plumbing (literal-argument boundary, analysis-time resolution),
    * not a hint rewrite of an already-gated plan.
    *
    * The gated cycle: the q285/q286 chronology on its own lake, then
    * ONE `spark.sql` text reads all three states through the TVFs
    * (as-of 1, as-of 2, the 1→2 delta) and aggregates each to its
    * corpus stamp + exact token count. The oracle replays the states
    * as WHERE-filtered aggregates. Bounded-collect class: 3 rows.
    */
  private[operators] def sqlLakePath(sfDir: String): String =
    new java.io.File(s"target/sqllake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  def q296SqlAsOf(s: SparkSession, dir: String): DataFrame = {
    val lake = sqlLakePath(dir)
    val lakeDocs = s"$lake/documents.parquet"
    val snaps = s"$lake/snapshots"
    rmrf(new java.io.File(lake))
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % Round17Queries.IngestMod
        =!= Round17Queries.IngestRem)
      .sizedWrite.mode("overwrite").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    docs.filter(col("doc_id") % Round17Queries.IngestMod
        === Round17Queries.IngestRem)
      .sizedWrite.mode("append").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    def agg(state: String, from: String): String =
      s"""SELECT '$state' AS state, CAST(count(*) AS BIGINT) AS doc_rows,
         |  CAST(coalesce(sum((doc_id * 31L + octet_length(text))
         |                    % 1048576L), 0L) AS BIGINT) AS doc_content,
         |  CAST(coalesce(sum(size(filter(split(trim(regexp_replace(
         |         lower(text), '(\\\\d|\\\\W)+', ' ')), ' '),
         |       x -> x != ''))), 0L) AS BIGINT) AS n_tokens
         |FROM $from""".stripMargin
    s.sql(
      s"""${agg("asof1", s"graft_asof('$snaps', 1)")}
         |UNION ALL
         |${agg("asof2", s"graft_asof('$snaps', 2)")}
         |UNION ALL
         |${agg("delta12", s"graft_delta('$snaps', 1, 2)")}
         |ORDER BY state""".stripMargin)
  }

  /** The three states replayed as WHERE-filtered aggregates (the
    * q285/q286 oracle convention, state-labelled). */
  val q296Sql: String = {
    val im = Round17Queries.IngestMod; val ir = Round17Queries.IngestRem
    def state(label: String, where: String): String =
      s"""SELECT '$label' AS state,
         |       CAST(count(*) AS BIGINT) AS doc_rows,
         |       CAST(coalesce(sum((doc_id * 31 + strlen(text)) % 1048576),
         |                     0) AS BIGINT) AS doc_content,
         |       CAST(coalesce(sum(len(list_filter(string_split(trim(
         |                regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')),
         |              ' '), x -> x <> ''))), 0) AS BIGINT) AS n_tokens
         |FROM documents $where""".stripMargin
    s"""${state("asof1", s"WHERE doc_id % $im <> $ir")}
       |UNION ALL
       |${state("asof2", "")}
       |UNION ALL
       |${state("delta12", s"WHERE doc_id % $im = $ir")}
       |ORDER BY state""".stripMargin
  }

  // --------------------------------------------------------------- q298
  /** RETENTION-WINDOW POLICY — the last verb of the snapshot story:
    * q293 made snapshots survive compaction, this decides WHICH ones
    * keep surviving. The pure rule [[chooseSnapshotsToKeep]] (window ∪
    * pins — the table formats' retention semantics: keep the last N
    * snapshots plus any id an eval pinned, the q290 composition's
    * other half) feeds [[graft.io.SnapshotStore.expireSnapshots]];
    * everything else is observation:
    *
    *   seed → 3 ingests (snapshots 1–4) → the q293 tombstone rule
    *   compacts WITH retention → snapshot 5 → policy (keepLast = 2,
    *   pinned = {1}) → expire → every original id READ BACK: kept ids
    *   serve their exact stamps (1 and 4 from RETAINED files — they
    *   predate the compaction), expired ids fail LOUDLY (observed and
    *   reported as kept = 0 with zero stamps).
    *
    * The oracle replays the five states as WHERE-filtered aggregates
    * and the keep verdicts through the same window∪pins arithmetic.
    * PropertySpec pins the rule generatively (subset of ids, pins
    * always kept, window exact, monotone in N). Bounded-collect
    * class: 5 rows.
    *
    * 100 TB shape: the policy run is pure metadata — manifest
    * deletes + a retained-file reference count; data is touched only
    * by the GC unlink of files NO remaining manifest references.
    */
  private[graft] def chooseSnapshotsToKeep(ids: Seq[Int], keepLast: Int,
      pinned: Set[Int]): Set[Int] =
    ids.sorted.takeRight(math.max(keepLast, 0)).toSet ++
      pinned.filter(ids.contains)

  val RetainKeepLast = 2
  val RetainPinned: Set[Int] = Set(1)

  private[operators] def polLakePath(sfDir: String): String =
    new java.io.File(s"target/pollake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  def q298RetentionPolicy(s: SparkSession, dir: String): DataFrame = {
    val lake = polLakePath(dir)
    val lakeDocs = s"$lake/documents.parquet"
    val snaps = s"$lake/snapshots"
    rmrf(new java.io.File(lake))
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % Round17Queries.IngestMod === 0L)
      .sizedWrite.mode("overwrite").parquet(lakeDocs)
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    (1L to 3L).foreach { k =>
      docs.filter(col("doc_id") % Round17Queries.IngestMod === k)
        .sizedWrite.mode("append").parquet(lakeDocs)
      graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    }
    // the q293 compaction (retention keeps 1–4 readable), then snap 5
    val current = s.read.parquet(lakeDocs)
    graft.io.SnapshotStore.compactWithRetention(s, lakeDocs, snaps,
      current.join(current.select(col("doc_id"))
          .filter(col("doc_id") % Round15Queries.Bm25DeleteMod
            === Round15Queries.Bm25DeleteRem).localCheckpoint(),
        Seq("doc_id"), "left_anti"))
    graft.io.SnapshotStore.record(s, lakeDocs, snaps)
    // POLICY → expire → observe
    val ids = graft.io.SnapshotStore.ids(s, snaps)
    val keep = chooseSnapshotsToKeep(ids, RetainKeepLast, RetainPinned)
    graft.io.SnapshotStore.expireSnapshots(s, snaps, keep)
    // expiry is the ONLY state folded to a quiet zero (manifest
    // deliberately deleted — a policy decision, probed without a
    // read); a rewrite-invalidated or crash-window snapshot keeps
    // its manifest and readAsOf's failure PROPAGATES — corruption
    // must never masquerade as retention. All kept slots stamp in
    // ONE job (snapshotSlotStamps).
    val slots = snapshotSlotStamps(s, snaps, ids)
    val rows = ids.map { id =>
      val (k, r, c) = slots(id)
      (id.toLong, k, r, c)
    }
    import s.implicits._
    rows.toDF("snap_id", "kept", "doc_rows", "doc_content")
      .orderBy(col("snap_id"))
  }

  /** Five states as WHERE-filtered aggregates; keep verdicts through
    * the same window ∪ pins arithmetic over the literal chronology. */
  val q298Sql: String = {
    val im = Round17Queries.IngestMod
    val dm = Round15Queries.Bm25DeleteMod
    val dr = Round15Queries.Bm25DeleteRem
    def state(id: Int, kept: Int, where: String): String =
      if (kept == 0)
        s"""SELECT CAST($id AS BIGINT) AS snap_id, CAST(0 AS BIGINT) AS kept,
           |       CAST(0 AS BIGINT) AS doc_rows,
           |       CAST(0 AS BIGINT) AS doc_content""".stripMargin
      else
        s"""SELECT CAST($id AS BIGINT) AS snap_id, CAST(1 AS BIGINT) AS kept,
           |       CAST(count(*) AS BIGINT) AS doc_rows,
           |       CAST(coalesce(sum((doc_id * 31 + strlen(text)) % 1048576),
           |                     0) AS BIGINT) AS doc_content
           |FROM documents $where""".stripMargin
    // keep = pinned {1} ∪ last 2 of {1..5} = {1, 4, 5}
    s"""${state(1, 1, s"WHERE doc_id % $im = 0")}
       |UNION ALL
       |${state(2, 0, "")}
       |UNION ALL
       |${state(3, 0, "")}
       |UNION ALL
       |${state(4, 1, "")}
       |UNION ALL
       |${state(5, 1, s"WHERE doc_id % $dm <> $dr")}
       |ORDER BY snap_id""".stripMargin
  }

  // --------------------------------------------------------------- q299
  /** CARD CRASH DISCIPLINE — the round-13 verdict's #1 as a gated
    * cycle: the incremental card's merge is a non-idempotent sum (a
    * crash-retried [[cardAppendBatch]] used to double-add the batch's
    * volumes and serve the corruption silently). The fix is the
    * postings index's ledger↔meta Σ-tie: the merge writes its TARGET
    * stamp to the ledger FIRST and commits meta LAST, so a crash
    * anywhere between presents as TORN — and every verb then takes
    * the loud path: the serve refuses, a retried merge refuses, and
    * [[cardEnsure]] resolves the state to a REBUILD (counted), never
    * a second merge.
    *
    * The gated cycle observes the whole contract: cold ensure over
    * the base (counted build) → warm re-ensure (zero verbs) → a merge
    * CRASHES via the injected hook exactly in the old double-count
    * window (tables written, meta stale) → torn card refuses to serve
    * AND refuses the retry → ensure over the full corpus rebuilds
    * (counted). The served card must hash-equal q291's one-shot card
    * over the full corpus — a double-add of the crashed batch's
    * volumes (the old bug, re-introduced) mismatches every volume
    * column; the verb counts and the three loud verdicts ride along
    * as contract constants.
    *
    * 100 TB shape: the discipline costs one tiny TSV write per merge
    * and a meta⇄ledger comparison per serve (metadata-scale); the
    * crash-RECOVERY cost is one card rebuild — the price of losing a
    * merge, paid only on an actual torn state, never amortized into
    * the happy path. Bench-excluded: pays two cold card builds + a
    * deliberately crashed merge per call by construction (the q295
    * rationale; the one-shot build is benched as q291).
    */
  private[operators] def cdLakePath(sfDir: String): String =
    new java.io.File(s"target/cdlake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  def q299CardCrashDiscipline(s: SparkSession, dir: String): DataFrame = {
    val card = s"${cdLakePath(dir)}/card"
    rmrf(new java.io.File(cdLakePath(dir)))
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val base = docs.filter(col("doc_id") % Round17Queries.IngestMod
      =!= Round17Queries.IngestRem)
    val batch = docs.filter(col("doc_id") % Round17Queries.IngestMod
      === Round17Queries.IngestRem)
    var builds = 0L
    def ensure(d: DataFrame): Unit =
      cardEnsure(s, card, d, onBuild = () => builds += 1L)
    ensure(base)
    val cold = builds
    ensure(base) // warm — provably no verb
    val warmBuilds = builds - cold
    // the merge dies in the old double-count window (tables written,
    // meta stale) — the injected-crash hook
    val tornLanded = scala.util.Try(
      cardAppendBatch(s, card, batch, crashBeforeMeta = true)).isFailure
    // every verb takes the loud path on the torn card
    val serveRefused =
      scala.util.Try(cardServe(s, card).head()).isFailure
    val retryRefused =
      scala.util.Try(cardAppendBatch(s, card, batch)).isFailure
    // recovery: ensure over the full corpus resolves torn ⇒ rebuild
    ensure(docs)
    val rebuilds = builds - cold - warmBuilds
    cardServe(s, card)
      .withColumn("torn_loud",
        lit(if (tornLanded && serveRefused && retryRefused) 1L else 0L))
      .withColumn("cold_builds", lit(cold))
      .withColumn("warm_builds", lit(warmBuilds))
      .withColumn("rebuilds", lit(rebuilds))
      .orderBy(col("lang"), col("source"))
  }

  /** q295's oracle (the one-shot q291 card over the full corpus +
    * stamp) plus the cycle's contract constants: one cold build, zero
    * warm verbs, all three torn verdicts loud, exactly one rebuild. */
  val q299Sql: String = {
    val spliced = q295Sql.replace(
      "ps.post_rows, ps.post_content",
      "ps.post_rows, ps.post_content,\n" +
        "       CAST(1 AS BIGINT) AS torn_loud,\n" +
        "       CAST(1 AS BIGINT) AS cold_builds,\n" +
        "       CAST(0 AS BIGINT) AS warm_builds,\n" +
        "       CAST(1 AS BIGINT) AS rebuilds")
    require(spliced != q295Sql,
      "q299Sql: the q295 oracle template moved — update the splice")
    spliced
  }

  // --------------------------------------------------------------- q300
  /** RETENTION-COMPOSED MAINTENANCE CYCLE — the round-13 verdict's #2
    * and #6 as ONE code path: q284's nightly cycle used to compact
    * with a bare overwrite (`survivors.write.mode("overwrite")`) —
    * exactly the rewrite q293's retention verb exists to replace; on
    * a snapshot-tracked lake that nightly job loudly invalidates
    * every prior snapshot. Here the SAME cycle core
    * ([[Round17Queries.postingsMaintenanceCycleCore]]) runs with a
    * snapshot dir: every state transition is recorded (seed → 1,
    * post-ingest → 2, post-compaction → 3), the FIRE branch compacts
    * through [[graft.io.SnapshotStore.compactWithRetention]], and the
    * cycle COMPLETES with q298's retention policy
    * ([[chooseSnapshotsToKeep]], keepLast = 1, pin = {1}) feeding
    * [[graft.io.SnapshotStore.expireSnapshots]] — append → audit →
    * FIRE-with-retention → policy → expire, the full lifecycle as one
    * run (the q293 and q298 laws composed through the cycle, not
    * demonstrated side by side).
    *
    * The cycle fires deterministically (q293's 1/8 SLO vs the 1-in-7
    * tombstone rule — the oracle REPLAYS the verdict, never pins it),
    * so the report can observe all three snapshots after compaction
    * AND expiry: snapshot 1 (pinned) serves its exact pre-compaction
    * stamp from RETAINED files, snapshot 2 is expired and fails
    * loudly (observed as kept = 0), snapshot 3 (the window) serves
    * the compacted survivors. Serve rows are the q244 chain over the
    * surviving corpus (the q284 branch-invariance theorem), with the
    * audit, verb counts, and all three snapshot verdicts CASE'd
    * through the replayed rules.
    *
    * 100 TB shape: the composed cycle's bill over bare q284 is
    * metadata only — manifest TSVs, retention RENAMES (zero data
    * I/O), a reference-counted GC unlink; the snapshots the nightly
    * compaction used to destroy now cost nothing to keep. Benched in
    * the headline set next to q284 — the delta IS the retention bill,
    * which SCALE.md records.
    */
  private[operators] def rmcLakePath(sfDir: String): String =
    new java.io.File(s"target/rmclake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  val CycleKeepLast = 1
  val CyclePinned: Set[Int] = Set(1)

  /** One chronology slot's (kept, rows, content) verdict — the q300
    * reader, loud-preserving (the round-14 advisory): ONLY an
    * expired/never-recorded snapshot (manifest absent, probed via
    * [[graft.io.SnapshotStore.hasSnapshot]] without a read) folds to
    * the quiet (0, 0, 0) — that absence is a POLICY decision. A
    * rewrite-invalidated or crash-window snapshot still has its
    * manifest and its readAsOf failure PROPAGATES: corruption must
    * never masquerade as retention (spec-pinned). */
  private[graft] def snapshotSlotStamp(s: SparkSession, snaps: String,
      id: Int): (Long, Long, Long) =
    snapshotSlotStamps(s, snaps, Seq(id))(id)

  /** Every chronology slot's verdict in ONE Spark job (the q298/q300
    * observation loop used to run one sample-sized aggregate per kept
    * snapshot — guide §5 job fusion): expiry is probed per slot
    * without a read, the kept slots' as-of frames are union-tagged
    * and folded together by [[ChoiceStore.documentsStampSlots]]. The
    * loud-read law is unchanged — a rewrite-invalidated or
    * crash-window snapshot still fails inside readAsOf. */
  private[graft] def snapshotSlotStamps(s: SparkSession, snaps: String,
      ids: Seq[Int]): Map[Int, (Long, Long, Long)] = {
    val kept = ids.filter(graft.io.SnapshotStore.hasSnapshot(s, snaps, _))
    val stamped = ChoiceStore.documentsStampSlots(kept.map { id =>
      id -> graft.io.SnapshotStore.readAsOf(s, snaps, id)
        .select(col("doc_id"), col("text"))
    })
    ids.map { id =>
      id -> (if (!stamped.contains(id)) (0L, 0L, 0L)
             else { val (r, c) = stamped(id); (1L, r, c) })
    }.toMap
  }

  def q300RetainedMaintenanceCycle(s: SparkSession,
      dir: String): DataFrame = {
    val lake = rmcLakePath(dir)
    val snaps = s"$lake/snapshots"
    val serve = Round17Queries.postingsMaintenanceCycleCore(s, dir,
      RetainThrNum, RetainThrDen, lakeOpt = Some(lake),
      snapDirOpt = Some(snaps))
    // policy → expire: window ∪ pins over whatever ids the cycle made
    val allIds = graft.io.SnapshotStore.ids(s, snaps)
    val keep = chooseSnapshotsToKeep(allIds, CycleKeepLast, CyclePinned)
    graft.io.SnapshotStore.expireSnapshots(s, snaps, keep)
    // observe all three chronology slots after compaction + expiry
    val slots = snapshotSlotStamps(s, snaps, Seq(1, 2, 3))
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

  /** q284's oracle shape at q293's threshold, extended with the three
    * snapshot verdicts — every one CASE'd through the REPLAYED rules
    * (fire via the threshold arithmetic; keep via window ∪ pins over
    * the chronology the verdict implies: fire ⇒ ids {1,2,3}, keep
    * {1, 3}; skip ⇒ ids {1,2}, keep {1, 2}). Snapshot 1 is the seed
    * slice, 2 the full corpus (zeroed when expired), 3 the survivors
    * (zeroed when never recorded). */
  val q300Sql: String = {
    val mod = Round15Queries.Bm25DeleteMod
    val rem = Round15Queries.Bm25DeleteRem
    val im = Round17Queries.IngestMod
    val ir = Round17Queries.IngestRem
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
       |         CASE WHEN dead_rows * $RetainThrDen >=
       |                   live_rows * $RetainThrNum
       |              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
       |           AS fire
       |  FROM audit),
       |stamps AS (
       |  SELECT b.b_rows AS s1_rows, b.b_content AS s1_content,
       |         a.a_rows AS full_rows, a.a_content AS full_content,
       |         sv.s_rows AS surv_rows, sv.s_content AS surv_content
       |  FROM (
       |    SELECT CAST(count(*) AS BIGINT) AS b_rows,
       |           CAST(coalesce(sum((doc_id * 31 + strlen(text))
       |                             % 1048576), 0) AS BIGINT) AS b_content
       |    FROM documents WHERE doc_id % $im <> $ir) b
       |  CROSS JOIN (
       |    SELECT CAST(count(*) AS BIGINT) AS a_rows,
       |           CAST(coalesce(sum((doc_id * 31 + strlen(text))
       |                             % 1048576), 0) AS BIGINT) AS a_content
       |    FROM documents) a
       |  CROSS JOIN (
       |    SELECT CAST(count(*) AS BIGINT) AS s_rows,
       |           CAST(coalesce(sum((doc_id * 31 + strlen(text))
       |                             % 1048576), 0) AS BIGINT) AS s_content
       |    FROM documents WHERE doc_id % $mod <> $rem) sv)
       |SELECT b.query_id, b.doc_id, b.bm25, b.n_terms_hit,
       |       CAST(b.rk AS BIGINT) AS rk,
       |       v.live_rows, v.dead_rows, v.fire,
       |       CASE WHEN v.fire = 1 THEN CAST(0 AS BIGINT)
       |            ELSE v.dead_rows END AS n_carried,
       |       CASE WHEN v.fire = 1 THEN st.surv_rows
       |            ELSE st.full_rows END AS post_rows,
       |       CASE WHEN v.fire = 1 THEN st.surv_content
       |            ELSE st.full_content END AS post_content,
       |       CASE WHEN v.fire = 1 THEN CAST(2 AS BIGINT)
       |            ELSE CAST(1 AS BIGINT) END AS builds,
       |       CAST(1 AS BIGINT) AS appends,
       |       CAST(1 AS BIGINT) AS s1_kept,
       |       st.s1_rows, st.s1_content,
       |       CASE WHEN v.fire = 1 THEN CAST(0 AS BIGINT)
       |            ELSE CAST(1 AS BIGINT) END AS s2_kept,
       |       CASE WHEN v.fire = 1 THEN CAST(0 AS BIGINT)
       |            ELSE st.full_rows END AS s2_rows,
       |       CASE WHEN v.fire = 1 THEN CAST(0 AS BIGINT)
       |            ELSE st.full_content END AS s2_content,
       |       v.fire AS s3_kept,
       |       CASE WHEN v.fire = 1 THEN st.surv_rows
       |            ELSE CAST(0 AS BIGINT) END AS s3_rows,
       |       CASE WHEN v.fire = 1 THEN st.surv_content
       |            ELSE CAST(0 AS BIGINT) END AS s3_content
       |FROM best b CROSS JOIN verdict v CROSS JOIN stamps st
       |WHERE b.rk <= ${Round15Queries.MultiBm25K}
       |ORDER BY b.query_id, b.rk""".stripMargin
  }

  // --------------------------------------------------------------- q301
  /** ENGINE-CHOSEN BUCKET COUNT — the round-13 verdict's #7 (the last
    * human dial on the postings index) through the nprobe/banding/
    * vocab-size precedent: a deployment should not read SCALE.md to
    * size `nBuckets`. The pure ladder rule
    * [[Round15Queries.chooseBucketCount]] (smallest power-of-two with
    * expected terms-per-bucket ≤ [[Round15Queries.BucketTermsTarget]],
    * clamped — the shape SCALE.md's round-17 bucket-count curve measured: pruning
    * follows vocab/buckets per the hash model, file-open cost adds a
    * flat per-bucket term) picks the count from the build's OWN tf
    * pass (one distinct-count over the already-checkpointed tf table —
    * zero extra tokenize), and meta records it like any other build;
    * serves and appends already read the index's own count (the
    * round-13 per-index dial), so the choice needs no consumer change.
    *
    * The gated cycle: own lake replica → COUNTED auto-ensure twice
    * (cold builds once at the chosen count, warm rebuilds nothing —
    * warmness is the corpus stamp alone, because re-deriving the
    * choice would need the vocabulary, i.e. the tokenize warm must
    * never pay) → the fixed-dial workload served from the auto-built
    * index. Serve rows ≡ the q244 chain over the corpus (bucketing is
    * physical layout — results are dial-invariant, spec-pinned
    * bit-exactly vs a default-dial index); the CHOICE is gated by the
    * reported n_buckets + vocab columns, which the oracle replays
    * through the same CASE ladder over DuckDB's own distinct-token
    * count.
    *
    * 100 TB shape: the dial now grows with the corpus VOCABULARY
    * (what pruning actually follows) instead of sitting at a fixture-
    * measured constant; the choice costs one artifact-scale distinct
    * count inside the build that already paid the tokenize.
    * Bench-excluded: cold index build per call by construction (the
    * q292 rationale; the serving path is benched as q281).
    */
  private[operators] def abLakePath(sfDir: String): String =
    new java.io.File(s"target/ablake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  def q301BucketDialAuto(s: SparkSession, dir: String): DataFrame = {
    val lake = abLakePath(dir)
    rmrf(new java.io.File(lake))
    rmrf(new java.io.File(Round15Queries.bm25IndexPath(lake)))
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$lake/documents.parquet")
    var builds = 0L
    def ensure() = Round15Queries.ensureBm25IndexAutoBuckets(s, lake,
      onBuild = () => builds += 1L)
    val m = ensure()
    val cold = builds
    ensure() // warm — the corpus stamp alone, zero tokenize
    val warm = builds - cold
    val idx = Round15Queries.bm25IndexPath(lake)
    // vocabulary from the ARTIFACT (df has one row per term)
    val vocab = Round15Queries.readIndexDf(s, idx).count()
    val qt = Round15Queries.multiBm25QueryTableFrom(
      Round15Queries.readIndexDf(s, idx))
    Round15Queries.bm25ServeQueriesFromIndex(s, idx, qt,
        math.round(Round14Queries.Bm25K1 * 1e6),
        math.round(Round14Queries.Bm25B * 1e6))
      .drop("k1_micro", "b_micro")
      .withColumn("n_buckets", lit(m.nBuckets.toLong))
      .withColumn("vocab", lit(vocab))
      .withColumn("cold_builds", lit(cold))
      .withColumn("warm_builds", lit(warm))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The q244 chain over the corpus + the ladder rule replayed over
    * DuckDB's own distinct-token count + the counted-thunk constants. */
  val q301Sql: String = {
    val prefix = Round15Queries.q244Sql.substring(0,
      Round15Queries.q244Sql.indexOf("best AS ("))
    val t = Round15Queries.BucketTermsTarget
    val rungs = Iterator.iterate(Round15Queries.Bm25IndexBuckets)(_ * 2)
      .takeWhile(_ < Round15Queries.BucketLadderMax).toSeq
    val ladder = rungs.map(b =>
        s"WHEN v.vocab <= ${b.toLong * t} THEN CAST($b AS BIGINT)")
      .mkString("CASE ", " ", s" ELSE CAST(${Round15Queries.BucketLadderMax} AS BIGINT) END")
    s"""${prefix}best AS (
       |  SELECT query_id, doc_id, bm25, n_terms_hit,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY bm25 DESC, doc_id ASC) AS rk
       |  FROM scored),
       |vocabt AS (
       |  SELECT CAST(count(DISTINCT term) AS BIGINT) AS vocab
       |  FROM (SELECT unnest(list_filter(string_split(trim(
       |          regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')),
       |        ' '), x -> x <> '')) AS term FROM documents))
       |SELECT b.query_id, b.doc_id, b.bm25, b.n_terms_hit,
       |       CAST(b.rk AS BIGINT) AS rk,
       |       $ladder AS n_buckets,
       |       v.vocab,
       |       CAST(1 AS BIGINT) AS cold_builds,
       |       CAST(0 AS BIGINT) AS warm_builds
       |FROM best b CROSS JOIN vocabt v
       |WHERE b.rk <= ${Round15Queries.MultiBm25K}
       |ORDER BY b.query_id, b.rk""".stripMargin
  }

  // --------------------------------------------------------------- q302
  /** SQL MASKED SERVE — [[graft.plans.SnapshotTvf.maskedServePlan]]
    * gated: the delete-masked BM25 serve (q283's semantics) reached
    * from ONE plain-SQL text, completing the SQL-twin convention on
    * the serving side (the round-13 verdict's optional #8 — q46/q225/
    * q246/q253/q296 covered scans, joins, single/fleet BM25, and the
    * lake verbs; the masked artifact serve was the last DataFrame-only
    * surface). The TVF resolves at ANALYSIS like graft_asof: index
    * must pre-exist (loud at plan time — a SQL read never tokenizes
    * the corpus), tombstones derive from the artifact's dl by the
    * literal (mod, rem) rule, and the masked df rides the VALIDATED
    * critical section, so every DataFrame-verb guarantee carries over
    * unchanged. Oracle = the q283 filtered-corpus replay (minus its
    * cycle column) — a TVF that dropped the mask, mis-pruned a
    * bucket, or served a stale masked-df state hash-mismatches.
    * Bench-excluded as a strict SQL-surface twin of the benched q283
    * (the q46/q253 rationale). */
  def q302SqlMaskedServe(s: SparkSession, dir: String): DataFrame = {
    Round15Queries.prepareBm25Index(s, dir)
    s.sql(
      s"""SELECT * FROM graft_bm25_masked('$dir',
         |  ${Round15Queries.Bm25DeleteMod}, ${Round15Queries.Bm25DeleteRem})
         |ORDER BY query_id, rk""".stripMargin)
  }

  /** The q283 oracle minus its cycle column: the q244 chain over the
    * surviving corpus. */
  val q302Sql: String = {
    val mod = Round15Queries.Bm25DeleteMod
    val rem = Round15Queries.Bm25DeleteRem
    val filtered = Round15Queries.q244Sql.replace("FROM documents)",
      s"FROM documents WHERE doc_id % $mod <> $rem)")
    val prefix = filtered.substring(0, filtered.indexOf("best AS ("))
    s"""${prefix}best AS (
       |  SELECT query_id, doc_id, bm25, n_terms_hit,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY bm25 DESC, doc_id ASC) AS rk
       |  FROM scored)
       |SELECT query_id, doc_id, bm25, n_terms_hit,
       |       CAST(rk AS BIGINT) AS rk
       |FROM best
       |WHERE rk <= ${Round15Queries.MultiBm25K}
       |ORDER BY query_id, rk""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("q292_maskeddf_artifact_cycle", q292MaskedDfArtifactCycle _, q292Sql),
    Query("q293_retained_compaction", q293RetainedCompaction _, q293Sql),
    Query("q294_snapshot_cursor_catchup", q294SnapshotCursorCatchup _, q294Sql),
    Query("q295_incremental_card", q295IncrementalCard _, q295Sql),
    Query("q296_sql_asof", q296SqlAsOf _, q296Sql),
    Query("q298_retention_policy", q298RetentionPolicy _, q298Sql),
    Query("q299_card_crash_discipline", q299CardCrashDiscipline _, q299Sql),
    Query("q300_retained_maintenance_cycle", q300RetainedMaintenanceCycle _, q300Sql),
    Query("q301_bucket_dial_auto", q301BucketDialAuto _, q301Sql),
    Query("q302_sql_masked_serve", q302SqlMaskedServe _, q302Sql),
  )
}
