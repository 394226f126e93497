package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables
import graft.text.TextPrep

/** Round-16 batch: data-SELECTION and retrieval-composition operators
  * a pretraining/serving pipeline runs on top of the existing hygiene
  * stack — importance-weighted selection (DSIR), hybrid lexical+dense
  * retrieval fusion (RRF), and passage-level duplication profiling.
  * (Benchmark decontamination and PII redaction already exist as
  * q76/q147 — checked before this batch was cut; nothing here
  * re-implements a registered operator.)
  *
  * House rules as ever: every query hash-gated against a DuckDB oracle
  * replaying the identical arithmetic; doubles quantized to integer
  * carriers before any reduce-order-sensitive sum; corpus-scale
  * exchanges keyed by doc (or by a hash whose cardinality the scaladoc
  * bounds); broadcasts justified by contract or capacity-gated.
  */
object Round16Queries {

  /** Oracle-side twin of the tokenize explode (the standard CTE pair). */
  private val tokCte =
    """lists AS (
      |  SELECT doc_id, lang,
      |         list_filter(string_split(trim(regexp_replace(lower(text), '(\d|\W)+', ' ', 'g')), ' '), x -> x <> '') AS toks
      |  FROM documents),
      |tok AS (SELECT doc_id, lang,
      |               generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
      |        FROM lists)""".stripMargin

  // --------------------------------------------------------------- q255
  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") — the
    * data-SELECTION complement of the dedup/quality stack: score every
    * raw document by how much its hashed n-gram feature distribution
    * looks like the TARGET domain versus the raw corpus,
    * log p̂_target(doc) − log p̂_raw(doc) under bag-of-hashed-features
    * models. Target here = the English slice (lang = 'en'); features =
    * unigram tokens hashed into [[DsirBuckets]] buckets (the paper's
    * hashed n-gram trick — the model is two B-vector count tables, NOT
    * vocabulary-sized); Laplace +1 smoothing so unseen buckets carry
    * finite mass.
    *
    * Determinism: the per-bucket log-ratio is quantized to NANO untis
    * (long) once — per-document weights are then exact integer sums of
    * those longs (reduce-order-free under any partitioning), with ONE
    * final /1e9 + round-6 per doc. Shape: token explode (doc-keyed) →
    * B-row stat tables (broadcast grid join) → per-doc fold on the
    * SAME explode via a broadcast bucket→ratio join. Two corpus-scale
    * aggregates total, both partial-agg; the B-row metadata never
    * shuffles the corpus.
    */
  val DsirBuckets = 64
  val DsirTargetLang = "en"

  /** The per-(doc, bucket) hashed-feature profile — q255's compressed
    * document representation (≤ B rows per doc, vs the token stream). */
  private[graft] def dsirProfile(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        posexplode(TextPrep.tokensCol(col("text"))).as(Seq("pos", "tok")))
      .withColumn("bucket",
        conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10)
          .cast("long") % DsirBuckets)
      .groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** q255's scoring tail over an (doc_id, lang, bucket, n) profile.
    * All weights are exact long sums of the nano-quantized per-bucket
    * log-ratios, weighted by the profile's occurrence counts. */
  private[graft] def dsirWeightsFromProfile(profile: DataFrame): DataFrame = {
    val s = profile.sparkSession
    val raw = profile.groupBy(col("bucket")).agg(sum(col("n")).as("raw_ct"))
    val tgt = profile.filter(col("lang") === DsirTargetLang)
      .groupBy(col("bucket")).agg(sum(col("n")).as("tgt_ct"))
    // full B-bucket grid: zero-count buckets still carry smoothing mass
    val grid = s.range(DsirBuckets).select(col("id").as("bucket"))
    val statsB = grid
      .join(raw, Seq("bucket"), "left").join(tgt, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("raw_ct"), lit(0L)).as("raw_ct"),
        coalesce(col("tgt_ct"), lit(0L)).as("tgt_ct"))
    val totals = statsB.agg(sum(col("raw_ct")).as("r_tot"),
      sum(col("tgt_ct")).as("t_tot"))
    val ratio = statsB.crossJoin(totals)
      .select(col("bucket"),
        round(lit(1e9) * (
          log((col("tgt_ct") + lit(1.0)) / (col("t_tot") + lit(DsirBuckets.toDouble))) -
          log((col("raw_ct") + lit(1.0)) / (col("r_tot") + lit(DsirBuckets.toDouble)))), 0)
          .cast("long").as("ratio_nano"))
    profile.join(broadcast(ratio), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(col("n") * col("ratio_nano")).as("w_nano"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("w_nano") / lit(1e9), 6).as("dsir_weight"))
  }

  def q255DsirWeights(s: SparkSession, dir: String): DataFrame =
    dsirWeightsFromProfile(
        dsirProfile(Tables.documents(s, dir)).localCheckpoint())
      .orderBy(col("doc_id"))

  val q255Sql: String =
    s"""WITH $tokCte,
       |bucketed AS (
       |  SELECT doc_id, lang,
       |         CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
       |           % $DsirBuckets AS bucket
       |  FROM tok),
       |raw AS (SELECT bucket, count(*) AS raw_ct FROM bucketed GROUP BY bucket),
       |tgt AS (SELECT bucket, count(*) AS tgt_ct FROM bucketed
       |        WHERE lang = '$DsirTargetLang' GROUP BY bucket),
       |grid AS (SELECT CAST(range AS BIGINT) AS bucket FROM range($DsirBuckets)),
       |statsb AS (
       |  SELECT g.bucket,
       |         coalesce(r.raw_ct, 0) AS raw_ct,
       |         coalesce(t.tgt_ct, 0) AS tgt_ct
       |  FROM grid g LEFT JOIN raw r USING (bucket) LEFT JOIN tgt t USING (bucket)),
       |tot AS (SELECT sum(raw_ct) AS r_tot, sum(tgt_ct) AS t_tot FROM statsb),
       |ratio AS (
       |  SELECT bucket,
       |         CAST(round(1e9 * (
       |           ln((tgt_ct + 1.0) / (t.t_tot + $DsirBuckets.0)) -
       |           ln((raw_ct + 1.0) / (t.r_tot + $DsirBuckets.0))), 0) AS BIGINT)
       |           AS ratio_nano
       |  FROM statsb CROSS JOIN tot t)
       |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |       round(sum(ratio_nano) / 1e9, 6) AS dsir_weight
       |FROM bucketed b JOIN ratio USING (bucket)
       |GROUP BY b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  // --------------------------------------------------------------- q257
  /** Passage-level duplication profile — the sub-document granularity
    * of the dedup ladder (RefinedWeb/CCNet run this on LINES; the
    * synthetic corpus has no line structure, so fixed 10-token
    * passages stand in — the operator is the same): chunk each
    * document into consecutive [[PassageTokens]]-token passages, hash
    * each passage, and measure per document what fraction of its
    * passages occur elsewhere in the corpus (any other occurrence —
    * cross-doc or repeated within the doc).
    *
    * Shape: passage assembly is a (doc, chunk)-keyed aggregate whose
    * string is built ORDER-FREE via the q245 codes pattern
    * (collect_list(struct(pos, tok)) → array_sort → transform — never
    * a bare collect_list, whose order is partition-dependent);
    * passage-hash occurrence counts are one hash-keyed partial
    * aggregate (cardinality ≤ distinct passages — the exchange carries
    * 16-byte keys + counts); the count joins back hash-keyed and rolls
    * up per doc. All three exchanges are keyed and linear; at 100 TB
    * the passage-hash table is the natural bucketed artifact.
    */
  val PassageTokens = 10

  /** (doc_id, chunk, phash) passage table from (doc_id, text) rows —
    * q257's passage assembly. */
  private[graft] def passagesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(TextPrep.tokensCol(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), (col("pos") / PassageTokens).cast("long").as("chunk"),
        col("pos"), col("tok"))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(md5(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok"))).cast("binary")).as("phash"))

  def q257PassageDedup(s: SparkSession, dir: String): DataFrame = {
    val passages = passagesOf(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .localCheckpoint() // shared: occurrence counts + per-doc rollup
    val occ = passages.groupBy(col("phash")).agg(count(lit(1)).as("occ"))
    passages.join(occ, Seq("phash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_passages"))
      .select(col("doc_id"), col("n_passages"), col("n_dup_passages"),
        round(col("n_dup_passages") / col("n_passages").cast("double"), 6)
          .as("dup_fraction"))
      .orderBy(col("doc_id"))
  }

  val q257Sql: String =
    s"""WITH $tokCte,
       |passages AS (
       |  SELECT doc_id, (pos - 1) // $PassageTokens AS chunk,
       |         md5(string_agg(tok, ' ' ORDER BY pos)) AS phash
       |  FROM tok GROUP BY doc_id, (pos - 1) // $PassageTokens),
       |occ AS (SELECT phash, count(*) AS occ FROM passages GROUP BY phash)
       |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_passages,
       |       CAST(sum(CASE WHEN o.occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_dup_passages,
       |       round(sum(CASE WHEN o.occ > 1 THEN 1 ELSE 0 END)
       |             / CAST(count(*) AS DOUBLE), 6) AS dup_fraction
       |FROM passages p JOIN occ o USING (phash)
       |GROUP BY p.doc_id
       |ORDER BY p.doc_id""".stripMargin

  // --------------------------------------------------------------- q256
  /** Reciprocal-rank fusion of lexical and dense retrieval (Cormack,
    * Clarke, Buettcher SIGIR'09 — the fusion every hybrid-search
    * deployment runs over its BM25 and ANN legs): each leg contributes
    * 1/(K + rank) per document; legs are combined by a full-outer
    * rank join so a document surfacing in only one leg still scores.
    * Legs here are the registry's own gated operators — BM25 top-10
    * for the standing two-term query (q226's exact pipeline) and
    * brute-force cosine top-10 for the vec-0 query (q21's contract,
    * self excluded) — so the fusion composes two already-hash-gated
    * rankings; ids fuse 1:1 because documents and embeddings share
    * the id space by construction.
    *
    * Determinism: 1/(K+rank) is nano-quantized per leg BEFORE the
    * sum (exact integer addition, reduce-order-free), ties break on
    * id asc. Scale shape: both legs end in k-row rankings, so the
    * fusion join/sort is k-bounded metadata work — the corpus cost is
    * the legs', already audited under q226/q21; at serving scale the
    * ANN leg swaps to the IVF-PQ probe with the fusion unchanged.
    */
  val RrfK = 60
  val RrfTopK = 10
  val RrfAnnQueryId = 0L

  def q256RrfFusion(s: SparkSession, dir: String): DataFrame = {
    val rrfNano = (rk: org.apache.spark.sql.Column) =>
      round(lit(1e9) / (lit(RrfK) + rk), 0).cast("long")
    val bmRank = Round14Queries.q226Bm25(s, dir)
      // bounded: q226Bm25 is the top-Bm25TopK heap output (≤ 10 rows)
      .withColumn("bm25_rk", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id").as("id"), col("bm25_rk"))
    val annRank = graft.ann.Ann.bruteForceTopK(
        graft.Tables.embeddings(s, dir).filter(col("vec_id") === RrfAnnQueryId),
        graft.Tables.embeddings(s, dir), k = RrfTopK)
      .select(col("nid").as("id"), col("rk").as("ann_rk"))
    bmRank.join(annRank, Seq("id"), "full_outer")
      .select(col("id"),
        (coalesce(rrfNano(col("bm25_rk")), lit(0L)) +
         coalesce(rrfNano(col("ann_rk")), lit(0L))).as("rrf_nano"),
        col("bm25_rk"), col("ann_rk"))
      // bounded: full-outer of two ≤ top-k lists — ≤ 2·RrfTopK rows
      .withColumn("fused_rk", row_number().over(
        Window.orderBy(col("rrf_nano").desc, col("id").asc)).cast("long"))
      .filter(col("fused_rk") <= RrfTopK)
      .orderBy(col("fused_rk"))
  }

  // composes the (verbatim) q226 oracle with a q21-style ANN leg
  val q256Sql: String =
    s"""WITH bm AS (
       |  SELECT doc_id AS id,
       |         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS bm25_rk
       |  FROM (${Round14Queries.q226Sql.replace("\n", "\n   ")})),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $RrfAnnQueryId),
       |ann AS (
       |  SELECT id, ann_rk FROM (
       |    SELECT e.vec_id AS id,
       |           row_number() OVER (
       |             ORDER BY round((SELECT sum(CAST(x AS DOUBLE) * y) FROM
       |                       (SELECT unnest(q.qv) AS x, unnest(e.embedding) AS y)), 6) DESC,
       |             e.vec_id ASC) AS ann_rk
       |    FROM embeddings e CROSS JOIN q
       |    WHERE e.vec_id <> $RrfAnnQueryId)
       |  WHERE ann_rk <= $RrfTopK),
       |fused AS (
       |  SELECT coalesce(bm.id, ann.id) AS id,
       |         coalesce(CAST(round(1e9 / ($RrfK + bm.bm25_rk), 0) AS BIGINT), 0) +
       |         coalesce(CAST(round(1e9 / ($RrfK + ann.ann_rk), 0) AS BIGINT), 0)
       |           AS rrf_nano,
       |         bm.bm25_rk, ann.ann_rk
       |  FROM bm FULL OUTER JOIN ann ON bm.id = ann.id)
       |SELECT id, rrf_nano, bm25_rk, ann_rk,
       |       CAST(row_number() OVER (ORDER BY rrf_nano DESC, id ASC) AS BIGINT)
       |         AS fused_rk
       |FROM fused
       |QUALIFY fused_rk <= $RrfTopK
       |ORDER BY fused_rk""".stripMargin

  // --------------------------------------------------------------- q261
  /** Self-BLEU-2 corpus-diversity audit (Zhu et al. 2018's texygen
    * metric, the standard check on SYNTHETIC training data: high
    * self-BLEU = the generator is collapsing onto itself): per
    * document, the clipped bigram precision of the document against
    * the pooled bigram counts of all OTHER documents —
    * Σ_g min(c_d(g), C(g) − c_d(g)) / Σ_g c_d(g), where c_d is the
    * doc's bigram multiset and C the corpus total. Exact integers up
    * to the single round-6 ratio; the leave-one-out clip C − c_d
    * falls out of the join algebraically (no per-doc corpus rebuild —
    * THE trick that makes corpus-level self-BLEU one gram-keyed join
    * instead of n corpus passes). Shape: row-local bigrams →
    * gram-keyed count join → doc rollup; every exchange keyed and
    * linear, the q257 profile.
    */
  def q261SelfBleu(s: SparkSession, dir: String): DataFrame = {
    // row-local bigrams (the q140/positionalShingles rationale, guide
    // §2.4): nxt is an element_at probe into the SAME row's token
    // array — codegen, no corpus-token exchange + sort
    val bi = Tables.documents(s, dir)
      .select(col("doc_id"), TextPrep.tokensCol(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .filter(col("pos") + 2 <= size(col("toks")))
      .select(col("doc_id"), concat_ws(" ", col("tok"),
        element_at(col("toks"), col("pos") + 2)).as("gram"))
    val perDoc = bi.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // shared: corpus totals + the clip join
    val tot = perDoc.groupBy(col("gram")).agg(sum(col("c")).as("tot"))
    perDoc.join(tot, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(least(col("c"), col("tot") - col("c"))).as("clipped_hits"))
      .select(col("doc_id"), col("n_bigrams"), col("clipped_hits"),
        round(col("clipped_hits") / col("n_bigrams").cast("double"), 6)
          .as("self_bleu2"))
      .orderBy(col("doc_id"))
  }

  val q261Sql: String =
    s"""WITH $tokCte,
       |led AS (
       |  SELECT doc_id, pos, tok,
       |         lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       |  FROM tok),
       |bi AS (
       |  SELECT doc_id, tok || ' ' || nxt AS gram
       |  FROM led WHERE nxt IS NOT NULL),
       |per_doc AS (
       |  SELECT doc_id, gram, count(*) AS c FROM bi GROUP BY doc_id, gram),
       |tot AS (SELECT gram, sum(c) AS tot FROM per_doc GROUP BY gram)
       |SELECT p.doc_id,
       |       CAST(sum(p.c) AS BIGINT) AS n_bigrams,
       |       CAST(sum(least(p.c, t.tot - p.c)) AS BIGINT) AS clipped_hits,
       |       round(sum(least(p.c, t.tot - p.c)) / CAST(sum(p.c) AS DOUBLE), 6)
       |         AS self_bleu2
       |FROM per_doc p JOIN tot t USING (gram)
       |GROUP BY p.doc_id
       |ORDER BY p.doc_id""".stripMargin

  // ------------------------------------------------------------ registry
  val registry: Seq[Query] = Seq(
    Query("q255_dsir_weights", q255DsirWeights _, q255Sql),
    Query("q256_rrf_fusion", q256RrfFusion _, q256Sql),
    Query("q257_passage_dedup", q257PassageDedup _, q257Sql),
    Query("q261_self_bleu", q261SelfBleu _, q261Sql),
  )
}
