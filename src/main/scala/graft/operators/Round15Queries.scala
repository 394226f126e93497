package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables
import graft.text.TextPrep

/** Round-15 additions (driver round 7): the retrieval layer grown from
  * single-query demos to the keyed, fleet-sized operators a
  * contamination/eval pipeline actually runs — a query TABLE joined
  * against the corpus with per-query top-k, served by the same scoring
  * core the single-query surface already uses.
  */
object Round15Queries {

  // ---------------------------------------------------------------- q244
  /** Multi-query BM25 retrieval join: a `queries(query_id, term)` TABLE
    * (here 100 synthetic 3-term queries) scored against the corpus with
    * one pass, per-query top-k — the operator behind "for each of these
    * 10k eval prompts, find its most-relevant training docs"
    * (decontamination, eval-set leakage audits, retrieval evaluation).
    * Scoring is [[Round14Queries.bm25ScoreKeyed]] — the SAME Okapi core
    * as the single-query q226, so both surfaces agree by construction.
    *
    * Shape at scale: the corpus-wide stages are ONE inverted-index
    * build (per-(doc, term) tf — at lake scale the persisted q216
    * artifact, not a rescan) and one map-side dl count. Everything
    * query-shaped is broadcast: the query table (|Q|·terms rows), its
    * df slice (≤ |distinct query terms| rows), the 1-row stats. A doc
    * matching a term fans out only to the queries CONTAINING that term
    * (the broadcast equi-join on term), so scored-row volume is
    * Σ_t df(t)·queries(t) — postings × query fan-out, never
    * |corpus|×|queries|. Ranking is per-query bounded heaps
    * ([[graft.plans.TopK.topKPerKey]]): O(|Q|·k·partitions) rows cross
    * the exchange, NO global sort of the scored stream; the rk window
    * then rides ≤k rows per query.
    *
    * The query table is synthesized deterministically from the corpus
    * so the oracle can replay it: terms ranked by (df desc, term asc)
    * (vocab-capped at 300), then the first 150 LEXICOGRAPHICALLY
    * ordered rank-pairs (i < j) become 2-term queries: (1,2), (1,3),
    * …, (1,151) — a 151-term vocabulary where the top-df term is a
    * HUB appearing in every query and each other term in exactly one.
    * The hub is the stress shape for the broadcast fan-out (one term's
    * postings feed all 150 queries at once — the worst skew a shared
    * term can inflict), which is what the per-key heaps must absorb.
    * In production the query
    * table is an input; the synthesis stages (one vocabulary
    * aggregate + constant-bounded rank/pair windows) stand in for
    * reading it.
    *
    * Ord encoding for the heaps (the q21/q232 discipline): round-6
    * micro-units packed with the doc tie-break,
    * `round(bm25·1e6)·2^25 − doc_id` — collision-free while
    * |bm25| < 2^27/1e6 ≈ 134 (a 2-term query's score is ≤
    * 2·(k1+1)·idf_max ≈ 75 even at N = 10^11 docs) and doc_id < 2^25,
    * both enforced in the expression; a bigger doc-id domain routes
    * through the window-ranked form like [[graft.ann.Ann.pqTopK]].
    */
  val MultiBm25MaxTerms = 300
  val MultiBm25NumQueries = 150
  val MultiBm25K = 5

  /** The keyed scored table (query_id, doc_id, bm25, n_terms_hit)
    * before ranking — shared by q244 (per-query top-k) and q248
    * (per-query nDCG needs the FULL scored relation for the ideal
    * ranking, not just the top-k). */
  /** The q244 corpus plumbing — tokenize, dl/stats, inverted index
    * (checkpointed: the term-selection df pass and the scoring join
    * share ONE build; at lake scale this is the persisted q216
    * artifact), query synthesis, query-restricted df slice and tf
    * fan-out. ONE body behind [[multiBm25Scored]] and
    * [[multiBm25Components]] so the fixed-dial and sweep surfaces
    * read identical inputs by construction. Returns (tfq, dl, dfTab,
    * stats). */
  private def multiBm25PlumbingWith(s: SparkSession, dir: String,
      qtermsOf: DataFrame => DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    multiBm25PlumbingDocs(Tables.documents(s, dir), qtermsOf)

  /** The same plumbing over an EXPLICIT documents relation — what lets
    * the q290 as-of serve run the identical pipeline against a
    * snapshot read instead of the live table. */
  private[graft] def multiBm25PlumbingDocs(docsIn: DataFrame,
      qtermsOf: DataFrame => DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = docsIn
      .select(col("doc_id"), TextPrep.tokensCol(col("text")).as("toks"))
    val dl = docs.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    // ParallelCheckpoint, not a bare localCheckpoint: AQE coalesces
    // this small-bytes shuffle to 1–2 partitions and the checkpoint
    // pins that, serializing the downstream collect_list / Okapi-fold
    // stages (measured: q271's component build ran a 3.9 s ONE-task
    // collect_list stage over the 1-partition pin)
    val alltf = graft.plans.ParallelCheckpoint(docs
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val dfAll = alltf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qterms = qtermsOf(dfAll)
    val dfTab = dfAll
      .join(broadcast(qterms.select(col("term")).distinct()), Seq("term"), "left_semi")
    val tfq = alltf.join(broadcast(qterms), Seq("term"))
    (tfq, dl, dfTab, stats)
  }

  private def multiBm25Plumbing(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    multiBm25PlumbingWith(s, dir, multiBm25QueryTableFrom)

  /** The grouped per-(query, doc) component table from an explicit
    * plumbing — the shared groupBy body of [[multiBm25Components]] and
    * the arbitrary-query serve path (no checkpoint here; each caller
    * decides whether its consumption warrants one). */
  private def componentsOf(tfq: DataFrame, dl: DataFrame, dfTab: DataFrame,
      stats: DataFrame): DataFrame =
    tfq
      .join(broadcast(dfTab), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sort_array(collect_list(struct(col("tf"), col("df")))).as("terms"),
        first(col("dl")).as("dl"),
        first(col("n_docs")).as("n_docs"),
        first(col("avgdl")).as("avgdl"))

  /** Serve an ARBITRARY batch of queries (query_id, term rows) at a
    * FIXED dial against `dir`'s corpus — the recompute reference for
    * the persisted-dial serve. Same algebra as q273's serve
    * (components grouped once, one row-local Okapi fold at the single
    * point, the shared rank dispatch), restricted to the batch's
    * queries: per-query rows are independent, so any whole-query
    * partition of a workload unions to the one-batch result.
    * Contract: a query's terms must arrive in ONE batch — splitting a
    * query across batches would rank its fragments separately.
    *
    * 100 TB shape: per batch this rebuilds corpus stats from the
    * documents table — the recompute REFERENCE the artifact path is
    * held equal to. Production serving goes through
    * [[bm25ServeQueriesFromIndex]] over the persisted q281 postings
    * artifact instead — same query-side broadcasts and rank dispatch,
    * corpus text never read (the measured 3.1× marginal-serve win). */
  private[graft] def bm25ServeQueriesAtDial(s: SparkSession, dir: String,
      qterms: DataFrame, k1Micro: Long, bMicro: Long): DataFrame = {
    val (tfq, dl, dfTab, stats) =
      multiBm25PlumbingWith(s, dir, _ => qterms)
    val heapSafe = graft.plans.TopK.idRangeSafe(
      Tables.documents(s, dir).select(col("doc_id")), "doc_id", 1L << 25)
    rankMultiBm25Dispatch(
        scoreComponentsAtGrid(componentsOf(tfq, dl, dfTab, stats),
            Seq((k1Micro, bMicro)))
          .drop("k1_micro", "b_micro"),
        heapSafe, MultiBm25K)
      .select(lit(k1Micro).as("k1_micro"), lit(bMicro).as("b_micro"),
        col("query_id"), col("doc_id"), col("bm25"), col("n_terms_hit"),
        col("rk"))
  }

  private[operators] def multiBm25Scored(s: SparkSession, dir: String): DataFrame = {
    val (tfq, dl, dfTab, stats) = multiBm25Plumbing(s, dir)
    Round14Queries.bm25ScoreKeyed(tfq, dl, dfTab, stats)
  }

  /** Per-(query, doc) BM25 TERM COMPONENTS, grouped once and
    * checkpointed — the sweep-side counterpart of [[multiBm25Scored]]:
    * everything Okapi needs per pair ((tf, df) per matched term,
    * sorted for a deterministic fold; dl; the 1-row corpus stats
    * denormalized on) with the DIALS still free. This is the ONLY
    * corpus-sized exchange the q271 sweep pays: grid evaluation after
    * it is row-local arithmetic ([[scoreComponentsAtGrid]]).
    *
    * Why not score the grid through the groupBy formula with the grid
    * crossed in (the first-cut design): same-(query, doc) posting rows
    * are not co-partitioned, so the |grid|× pre-aggregation rows reach
    * the exchange nearly uncombined — measured 225.7 s at 10× for a
    * 12-point grid vs 17.0 s for the single point, the full 12×
    * exchange bill. Grouping components ONCE and folding per grid
    * point keeps the exchange at 1× and moves the 12× into in-task
    * arithmetic. */
  private[operators] def multiBm25Components(s: SparkSession,
      dir: String): DataFrame = {
    val (tfq, dl, dfTab, stats) = multiBm25Plumbing(s, dir)
    // sort key inside componentsOf = the full fold-relevant payload:
    // equal structs contribute identical doubles, so the fold order is
    // deterministic wherever order could matter
    // parallel checkpoint: the sweep folds + heap ranking downstream
    // are CPU-bound and must not inherit a bytes-coalesced pin
    graft.plans.ParallelCheckpoint(componentsOf(tfq, dl, dfTab, stats))
  }

  /** Every grid point scored ROW-LOCALLY over the grouped components —
    * one Okapi fold per (pair, grid point), exploded to (k1_micro,
    * b_micro, query_id, doc_id, bm25, n_terms_hit) rows inside the
    * task (a Generate, not a join: the grid is a literal array, so no
    * exchange and no broadcast grows with it). The formula is the
    * [[Round14Queries.bm25ScoreKeyedAt]] algebra re-expressed as a
    * fold; Round15QueriesSpec pins fold ≡ groupBy-formula on the
    * fixture (round-6 equality of the (1.2, 0.75) slice against
    * [[multiBm25Scored]]), so the two spellings cannot silently
    * drift. */
  private[operators] def scoreComponentsAtGrid(comp: DataFrame,
      points: Seq[(Long, Long)]): DataFrame = {
    require(points.nonEmpty, "scoreComponentsAtGrid: empty grid")
    // ONE codegen'd Okapi fold per (pair, grid point): an aggregate()
    // higher-order spelling is CodegenFallback — interpreted lambda
    // evaluation per element, measured at ~58 µs/row on the q281 serve
    // stage. Bm25OkapiFold runs the same arithmetic (sorted-array
    // order, double association) as a primitive loop inside
    // whole-stage codegen; Round15QueriesSpec pins fold ≡
    // groupBy-formula equality and CodegenFoldSpec pins it against the
    // interpreted fold.
    graft.functions.Bm25Functions.register(comp.sparkSession)
    graft.functions.Bm25Functions.registerGrid(comp.sparkSession)
    val gridArr = array(points.map { case (k1m, bm) =>
      struct(lit(k1m).as("k1_micro"), lit(bm).as("b_micro")) }: _*)
    if (points.size > 1) {
      // multi-point sweep: ONE grid-vectorized fold per pair — the
      // dial-independent idf log is computed once per term instead of
      // |grid|× (guide §2.3 "don't recompute what you throw away");
      // Bm25OkapiFoldGrid's scaladoc states the bit-identity argument
      // and CodegenFoldSpec pins grid-fold ≡ point-fold. The scores
      // array rides THROUGH the posexplode Generate (computed once per
      // pair in the child projection, indexed per generated row), so
      // cardinality and row order match explode(gridArr) exactly.
      val k1Arr = array(points.map(p => lit(p._1)): _*)
      val bArr = array(points.map(p => lit(p._2)): _*)
      comp
        .select(col("query_id"), col("doc_id"),
          size(col("terms")).cast("long").as("n_terms_hit"),
          graft.functions.Bm25Functions.foldGrid(col("terms"), col("dl"),
            col("n_docs"), col("avgdl"), k1Arr, bArr).as("scores"))
        .select(col("query_id"), col("doc_id"), col("n_terms_hit"),
          col("scores"), posexplode(gridArr).as(Seq("gp", "g")))
        .select(col("g.k1_micro").as("k1_micro"),
          col("g.b_micro").as("b_micro"),
          col("query_id"), col("doc_id"),
          round(element_at(col("scores"), col("gp") + 1), 6).as("bm25"),
          col("n_terms_hit"))
    } else comp
      .select(col("query_id"), col("doc_id"),
        size(col("terms")).cast("long").as("n_terms_hit"),
        col("terms"), col("dl"), col("n_docs"), col("avgdl"),
        explode(gridArr).as("g"))
      .select(col("g.k1_micro").as("k1_micro"),
        col("g.b_micro").as("b_micro"),
        col("query_id"), col("doc_id"),
        round(graft.functions.Bm25Functions.fold(col("terms"), col("dl"),
          col("n_docs"), col("avgdl"), col("g.k1_micro"), col("g.b_micro")), 6)
          .as("bm25"),
        col("n_terms_hit"))
  }

  /** Deterministic query-table synthesis from a vocabulary df table:
    * TakeOrderedAndProject caps the vocabulary, THEN every window
    * below rides constant-bounded rows (≤300 ranked terms, ≤150
    * pairs — PlanSpec allowlist), never the corpus; the pair
    * cross-join is 300×300 at most. Output (query_id, term), 2 rows
    * per query, localCheckpointed (|Q|·2 rows; broadcast wherever it
    * joins). */
  private[graft] def multiBm25QueryTableFrom(dfAll: DataFrame): DataFrame = {
    val ranked = dfAll.orderBy(col("df").desc, col("term").asc)
      .limit(MultiBm25MaxTerms)
      .withColumn("rn",
        row_number().over(Window.orderBy(col("df").desc, col("term").asc)))
      .select(col("term"), col("rn"))
      .localCheckpoint()
    val pairs = ranked.select(col("term").as("t1"), col("rn").as("r1"))
      .crossJoin(ranked.select(col("term").as("t2"), col("rn").as("r2")))
      .filter(col("r1") < col("r2"))
      .orderBy(col("r1"), col("r2")).limit(MultiBm25NumQueries)
      .withColumn("query_id",
        row_number().over(Window.orderBy(col("r1"), col("r2"))).cast("long") - 1)
    pairs
      .select(col("query_id"), explode(array(col("t1"), col("t2"))).as("term"))
      .localCheckpoint()
  }

  /** The q244 query table synthesized from `dir`'s corpus — public so
    * the q253 SQL surface can register it as a temp view (in
    * production the query table is an input relation; this synthesis
    * stands in for reading it, exactly as [[multiBm25Scored]]'s
    * scaladoc states). */
  def multiBm25QueryTable(s: SparkSession, dir: String): DataFrame = {
    val alltf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextPrep.tokensCol(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    multiBm25QueryTableFrom(
      alltf.groupBy(col("term")).agg(count(lit(1)).as("df")))
  }

  /** Multi-query BM25 scored table from raw token OCCURRENCES
    * (doc_id, term) and a query table (query_id, term) — the PURE
    * core (no checkpoint, no gating job — safe to call during
    * analysis) the `/*+ BM25_MULTI */` hint rewrite plans
    * ([[graft.plans.Bm25MultiHintRule]]). Same algebra as
    * [[multiBm25Scored]] — both route through
    * [[Round14Queries.bm25ScoreKeyed]] — with the long-form corpus
    * stats semantics of the single-query hint (n_docs/dl over
    * documents PRESENT in the token stream; equal to the array form
    * on any corpus without empty-token documents — the Bm25HintRule
    * edge note). */
  private[graft] def multiBm25ScoredFromTokens(toks: DataFrame,
      qterms: DataFrame, dlOverride: Option[DataFrame] = None): DataFrame = {
    val occ = toks.select(col("doc_id"), col("term"))
    // A (doc_id, term) occurrence relation CANNOT represent a
    // zero-token document — it simply has no rows there — so corpus
    // stats derived from it (n_docs, avgdl) silently exclude such
    // docs, diverging from the full-corpus q244 contract the moment
    // one exists (the round-9 ADVICE finding). `dlOverride` is the
    // fix: a (doc_id, dl) relation carrying EVERY document, empty ones
    // at dl = 0 — the SQL surface passes it as the hint's optional
    // third argument; without it the token-derived stats stand, which
    // is exact whenever every doc has at least one token.
    val dl = dlOverride
      .map(_.select(col("doc_id"), col("dl").cast("long").as("dl")))
      .getOrElse(occ.groupBy(col("doc_id")).agg(count(lit(1)).as("dl")))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    val alltf = occ.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfTab = alltf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .join(broadcast(qterms.select(col("term")).distinct()),
        Seq("term"), "left_semi")
    val tfq = alltf.join(broadcast(qterms), Seq("term"))
    Round14Queries.bm25ScoreKeyed(tfq, dl, dfTab, stats)
  }

  /** Per-query top-k of the scored table through the bounded heaps —
    * shared by q244 (its output) and q248 (the DCG side ranks through
    * the identical code, so the eval measures exactly what the
    * retrieval operator serves). */
  private[graft] def rankMultiBm25(scored: DataFrame,
      idSource: DataFrame): DataFrame =
    // id-range probe over the CHEAP id table (a column-pruned doc_id
    // min/max, not a re-run of the scoring join): big doc ids degrade
    // to the per-query window rank instead of aborting the job — the
    // same heap-or-window dispatch as Ann.rankAdcTopK, via the shared
    // TopK.rankTopKOrWindow tail.
    rankMultiBm25Dispatch(scored,
      graft.plans.TopK.idRangeSafe(idSource, "doc_id", 1L << 25), MultiBm25K)

  /** The ranking tail given an already-made heap-or-window verdict —
    * split from [[rankMultiBm25]] so the `/*+ BM25_MULTI */` hint
    * rewrite (which must stay a PURE plan rewrite — no probing job at
    * analysis time) can plan the heap path directly; its packed-ord
    * guard then enforces the id domain in-expression (the SQL surface
    * documents doc_id < 2^25; Scala callers get the auto-degrading
    * probe). |bm25| stays expression-enforced on the heap path (a
    * 2-term query cannot reach 2^27 micro-units; if it somehow does,
    * that is data corruption, not a bigger domain). */
  private[graft] def rankMultiBm25Dispatch(scored: DataFrame,
      heapSafe: Boolean, k: Int,
      keyCols: Seq[String] = Seq("query_id")): DataFrame = {
    val micro = round(col("bm25") * 1e6)
    val inRange = abs(micro) < lit(1L << 27) &&
      (lit(!heapSafe) || (col("doc_id") >= 0L && col("doc_id") < lit(1L << 25)))
    val ord = when(inRange, micro * lit(1L << 25) - col("doc_id"))
      .otherwise(raise_error(concat(
        lit("multi-bm25: ord encoding out of range (bm25="),
        col("bm25").cast("string"), lit(", doc_id="),
        col("doc_id").cast("string"), lit(")"))))
    graft.plans.TopK.rankTopKOrWindow(scored, keyCols, ord,
        Seq(col("bm25").desc, col("doc_id").asc), k, heapSafe)
      .select((keyCols ++ Seq("doc_id", "bm25", "n_terms_hit", "rk"))
        .map(col): _*)
  }

  def q244MultiBm25(s: SparkSession, dir: String): DataFrame =
    rankMultiBm25(multiBm25Scored(s, dir),
        Tables.documents(s, dir).select(col("doc_id")))
      .orderBy(col("query_id"), col("rk"))

  val q244Sql: String =
    s"""WITH lists AS (
       |  SELECT doc_id,
       |         list_filter(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' '), x -> x <> '') AS toks
       |  FROM documents),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM lists),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                 sum(dl) / count(*) AS avgdl FROM dl),
       |alltf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(toks) AS term FROM lists)
       |  GROUP BY doc_id, term),
       |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM alltf GROUP BY term),
       |ranked AS (
       |  SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) AS rn
       |  FROM (SELECT term, df FROM dfreq
       |        ORDER BY df DESC, term ASC LIMIT $MultiBm25MaxTerms)),
       |qpairs AS (
       |  SELECT a.term AS t1, b.term AS t2,
       |         CAST(row_number() OVER (ORDER BY a.rn, b.rn) AS BIGINT) - 1
       |           AS query_id
       |  FROM ranked a JOIN ranked b ON a.rn < b.rn
       |  ORDER BY a.rn, b.rn LIMIT $MultiBm25NumQueries),
       |qterms AS (
       |  SELECT query_id, t1 AS term FROM qpairs
       |  UNION ALL
       |  SELECT query_id, t2 AS term FROM qpairs),
       |scored AS (
       |  SELECT q.query_id, t.doc_id,
       |         round(sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
       |             (t.tf * (${Round14Queries.Bm25K1} + 1.0)) /
       |             (t.tf + ${Round14Queries.Bm25K1} *
       |              (1.0 - ${Round14Queries.Bm25B} + ${Round14Queries.Bm25B} * l.dl / s.avgdl))), 6) AS bm25,
       |         CAST(count(*) AS BIGINT) AS n_terms_hit
       |  FROM alltf t
       |  JOIN qterms q USING (term)
       |  JOIN dfreq d USING (term)
       |  JOIN dl l USING (doc_id)
       |  CROSS JOIN stats s
       |  GROUP BY q.query_id, t.doc_id),
       |best AS (
       |  SELECT query_id, doc_id, bm25, n_terms_hit,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY bm25 DESC, doc_id ASC) AS rk
       |  FROM scored)
       |SELECT query_id, doc_id, bm25, n_terms_hit, CAST(rk AS BIGINT) AS rk
       |FROM best WHERE rk <= $MultiBm25K
       |ORDER BY query_id, rk""".stripMargin

  // ---------------------------------------------------------------- q248
  /** Per-query nDCG@5 over the q244 multi-query retrieval — ranking
    * evaluation at fleet scale: one quality row PER QUERY of the
    * 150-query table, where q241 evaluates one literal query. The
    * relevance grade of (query, doc) is the term-coverage count
    * n_terms_hit (0..2 for 2-term queries — the graded-relevance
    * signal the scored table already carries); gain = 2^rel − 1,
    * DCG@5 over q244's OWN ranking (shared [[rankMultiBm25]] code —
    * the eval measures exactly what the operator serves), IDCG@5 over
    * the per-query ideal (rel desc, doc_id asc), both via bounded
    * per-query heaps.
    *
    * Determinism (the q241 convention): per-position gains are
    * nano-quantized to longs BEFORE the k-way sums, so dcg/idcg carry
    * exact integers and the only cross-engine double is the final
    * round-6 ratio. Shape: one scored table (checkpointed — DCG and
    * IDCG both read it), two heap rankings, one |Q|-row join. Nothing
    * corpus-scale crosses an exchange after the scoring join.
    */
  /** Nano-quantized graded gain at a ranking position — reads the
    * row's `n_terms_hit` grade; shared by q248's eval and q271's
    * (k1, b) sweep so both measure the same quality. */
  private def gainNano(pos: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(lit(1e9) * (pow(lit(2.0), col("n_terms_hit")) - lit(1.0)) /
      log2(pos + lit(1.0)), 0).cast("long")

  /** Per-query ideal-ranking IDCG@k over a (query_id, doc_id,
    * n_terms_hit) relation — shared by q248's eval and q271's sweep.
    * The ideal order is (rel desc, doc_id asc); its packed ord
    * `rel·2^25 − doc_id` shares the served ranking's doc_id < 2^25
    * domain, so it rides the SAME heap-or-window dispatch and verdict
    * (round-10 ADVICE: an out-of-domain doc_id must degrade this
    * ranking to the window form exactly like the served one — before,
    * the unconditional packed heap could silently corrupt IDCG and,
    * in q271, flip the chosen dials). */
  private[operators] def idealIdcg(rel: DataFrame,
      heapSafe: Boolean): DataFrame = {
    val iOrd = col("n_terms_hit") * lit(1L << 25) - col("doc_id")
    graft.plans.TopK.rankTopKOrWindow(rel, Seq("query_id"), iOrd,
        Seq(col("n_terms_hit").desc, col("doc_id").asc), MultiBm25K,
        heapSafe)
      .select(col("query_id"), gainNano(col("rk")).as("gain_nano"))
      .groupBy(col("query_id")).agg(sum(col("gain_nano")).as("idcg_nano"))
  }

  def q248MultiQueryNdcg(s: SparkSession, dir: String): DataFrame = {
    val scored = multiBm25Scored(s, dir).localCheckpoint()
    // id-range probe over the cheap parquet id table (column-pruned
    // doc_id min/max — the q244 convention), not over `scored`: even
    // checkpointed, probing the scored relation reads the whole scored
    // table for two longs where the documents scan prunes to one column
    val heapSafe = graft.plans.TopK.idRangeSafe(
      Tables.documents(s, dir).select(col("doc_id")), "doc_id", 1L << 25)
    val ranked = rankMultiBm25Dispatch(scored, heapSafe, MultiBm25K)
      .select(col("query_id"), gainNano(col("rk")).as("gain_nano"))
      .groupBy(col("query_id")).agg(sum(col("gain_nano")).as("dcg_nano"))
    // ideal ranking: same heap-or-window verdict as the served one
    // (rel ≤ 2 bounds the packed score half; every scored row has
    // rel ≥ 1, so idcg > 0 for every query present)
    val ideal = idealIdcg(
      scored.select(col("query_id"), col("doc_id"), col("n_terms_hit")),
      heapSafe)
    ranked.join(ideal, Seq("query_id"))
      .select(col("query_id"), col("dcg_nano"), col("idcg_nano"),
        round(col("dcg_nano") /
          nullif(col("idcg_nano").cast("double"), lit(0.0)), 6).as("ndcg"))
      .orderBy(col("query_id"))
  }

  val q248Sql: String = {
    // the q244 chain through `scored`, then nano-quantized gains over
    // the engine ranking and the ideal ranking
    val base = q244Sql.substring(0, q244Sql.indexOf("best AS ("))
    s"""${base}engtop AS (
       |  SELECT query_id, n_terms_hit,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY bm25 DESC, doc_id ASC) AS pos
       |  FROM scored),
       |rgain AS (
       |  SELECT query_id,
       |         CAST(round(1e9 * (pow(2, n_terms_hit) - 1) / log2(pos + 1), 0)
       |              AS BIGINT) AS gain_nano
       |  FROM engtop WHERE pos <= $MultiBm25K),
       |ideal AS (
       |  SELECT query_id, n_terms_hit,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY n_terms_hit DESC, doc_id ASC) AS pos
       |  FROM scored),
       |igain AS (
       |  SELECT query_id,
       |         CAST(round(1e9 * (pow(2, n_terms_hit) - 1) / log2(pos + 1), 0)
       |              AS BIGINT) AS gain_nano
       |  FROM ideal WHERE pos <= $MultiBm25K),
       |dcg AS (SELECT query_id, CAST(sum(gain_nano) AS BIGINT) AS dcg_nano
       |        FROM rgain GROUP BY query_id),
       |idcg AS (SELECT query_id, CAST(sum(gain_nano) AS BIGINT) AS idcg_nano
       |         FROM igain GROUP BY query_id)
       |SELECT d.query_id, d.dcg_nano, i.idcg_nano,
       |       round(d.dcg_nano / nullif(CAST(i.idcg_nano AS DOUBLE), 0.0), 6)
       |         AS ndcg
       |FROM dcg d JOIN idcg i USING (query_id)
       |ORDER BY d.query_id""".stripMargin
  }

  // ---------------------------------------------------------------- q271
  /** Engine-chosen BM25 operating point — the retrieval layer's dial
    * closed the way the ANN layer's was (q252→q263) and the LSH
    * layer's (q243→q268): Okapi's (k1, b) are tuning parameters every
    * deployment hand-picks from folklore (1.2, 0.75); here the engine
    * MEASURES a (k1, b) grid against the ranking-quality metric the
    * pipeline already evaluates with (q248's per-query nDCG@k, same
    * [[gainNano]] grades, same heap ranking the operator serves) and
    * picks the point with a PURE rule ([[chooseBm25Params]]).
    *
    * Sweep shape at scale: the corpus pays ONE exchange — the per-
    * (query, doc) term components grouped once and checkpointed
    * ([[multiBm25Components]]); every grid point is then a ROW-LOCAL
    * Okapi fold exploded in-task ([[scoreComponentsAtGrid]] — a
    * Generate off a literal grid array, no join, no second exchange),
    * flowing straight into map-side DCG heaps. (The first-cut design
    * crossed the grid into the scoring aggregation instead; same-pair
    * posting rows are not co-partitioned, so the exchange carried the
    * full |grid|× bill — measured 225.7 s vs 17.0 s single-point at
    * 10×. The fold shape is the fix, and the fold ≡ groupBy-formula
    * law is pinned in Round15QueriesSpec.) The ideal ranking is
    * grid-INVARIANT (grades are term-coverage counts, dials only move
    * scores), so IDCG is computed once per query off the component
    * table. The serve side re-ranks the CHOSEN slice of the same
    * grid-scored expression (scored-at-grid filtered to a point IS
    * scored-at-point — the ivfPqScoreAtMax law), rows carrying the
    * choice.
    *
    * The oracle replays measurement, rule, AND serve, so the hash
    * gates the decision itself (the q263/q268 convention).
    */
  val Bm25GridK1Micro: Seq[Long] = Seq(600000L, 1200000L, 2000000L)
  val Bm25GridBMicro: Seq[Long] = Seq(0L, 400000L, 750000L, 1000000L)

  /** Pure operating-point rule (the chooseNprobe discipline): the grid
    * point with the highest measured quality (sum over queries of
    * nano-quantized nDCG@k — exact longs, so cross-engine argmax is
    * exact); ties break to the SMALLEST (k1, then b) — less tf
    * saturation and length normalization, the simplest dials that
    * achieve the measured best (Occam, matching chooseNprobe's
    * cheapest-satisfying). Input rows: (k1_micro, b_micro,
    * quality_nano). */
  def chooseBm25Params(sweep: Seq[(Long, Long, Long)]): (Long, Long) = {
    require(sweep.nonEmpty, "chooseBm25Params: empty sweep")
    val best = sweep.maxBy { case (k1, b, q) => (q, -k1, -b) }
    (best._1, best._2)
  }

  private[operators] val bm25GridPoints: Seq[(Long, Long)] =
    for (k1 <- Bm25GridK1Micro; b <- Bm25GridBMicro) yield (k1, b)

  /** The measured (k1_micro, b_micro, quality_nano) sweep over the
    * grouped component table — q271's measurement factored out so the
    * measure-every-call surface (q271) and the persisted-choice
    * surface (q273) read the SAME sweep code (the
    * ivfPqRecallCurve/q252/q263 sharing discipline). */
  private[operators] def bm25SweepQuality(comp: DataFrame,
      heapSafe: Boolean): Seq[(Long, Long, Long)] = {
    val gscored = scoreComponentsAtGrid(comp, bm25GridPoints)
    val keys = Seq("k1_micro", "b_micro", "query_id")
    // per-(grid, query) DCG@k over each grid point's OWN ranking,
    // through the identical dispatch the serve side uses
    val dcg = rankMultiBm25Dispatch(gscored, heapSafe, MultiBm25K, keys)
      .select(keys.map(col) :+ gainNano(col("rk")).as("gain_nano"): _*)
      .groupBy(keys.map(col): _*).agg(sum(col("gain_nano")).as("dcg_nano"))
    // grade support is grid-invariant (dials move scores, never which
    // terms matched) — it reads straight off the component table
    val rel = comp.select(col("query_id"), col("doc_id"),
      size(col("terms")).cast("long").as("n_terms_hit"))
    // per-query ideal through the SAME heap-or-window verdict as the
    // serve — this ranking feeds the (k1, b) decision, so an
    // out-of-domain doc_id must degrade it, never corrupt it
    val ideal = idealIdcg(rel, heapSafe)
    dcg.join(ideal, Seq("query_id"))
      .select(col("k1_micro"), col("b_micro"),
        round(lit(1e9) * col("dcg_nano") /
          nullif(col("idcg_nano").cast("double"), lit(0.0)), 0)
          .cast("long").as("ndcg_nano"))
      .groupBy(col("k1_micro"), col("b_micro"))
      .agg(sum(col("ndcg_nano")).as("quality_nano"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }

  def q271Bm25ParamsAuto(s: SparkSession, dir: String): DataFrame = {
    val comp = multiBm25Components(s, dir)
    val heapSafe = graft.plans.TopK.idRangeSafe(
      Tables.documents(s, dir).select(col("doc_id")), "doc_id", 1L << 25)
    val sweep = bm25SweepQuality(comp, heapSafe)
    val (k1c, bc) = chooseBm25Params(sweep)
    // serve = the 1-POINT grid at the choice: the same
    // scoreComponentsAtGrid body that measured the sweep (so
    // slice ≡ point holds by shared code, and the serve pass folds
    // each pair once, not |grid| times then filtering)
    rankMultiBm25Dispatch(
        scoreComponentsAtGrid(comp, Seq((k1c, bc)))
          .drop("k1_micro", "b_micro"),
        heapSafe, MultiBm25K)
      .select(lit(k1c).as("k1_micro"), lit(bc).as("b_micro"),
        col("query_id"), col("doc_id"), col("bm25"), col("n_terms_hit"),
        col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The shared q271/q273 oracle CTE chain — component build, grid
    * scoring, sweep quality, rule replay, chosen-slice top-k — ending
    * at `stopk` (the q244Sql-prefix sharing convention): the
    * measure-every-call oracle and the persisted-choice oracle replay
    * the identical measurement, mirroring the engine-side
    * [[bm25SweepQuality]] sharing. */
  private[operators] val bm25SweepCtes: String = {
    val base = q244Sql.substring(0, q244Sql.indexOf("scored AS ("))
    val gridVals = (for (k1 <- Bm25GridK1Micro; b <- Bm25GridBMicro)
      yield s"($k1, $b)").mkString(", ")
    s"""${base}comp AS (
       |  SELECT q.query_id, t.doc_id, t.tf, d.df, l.dl, s.n_docs, s.avgdl
       |  FROM alltf t
       |  JOIN qterms q USING (term)
       |  JOIN dfreq d USING (term)
       |  JOIN dl l USING (doc_id)
       |  CROSS JOIN stats s),
       |grid AS (SELECT * FROM (VALUES $gridVals) g(k1_micro, b_micro)),
       |gscored AS (
       |  SELECT g.k1_micro, g.b_micro, c.query_id, c.doc_id,
       |         round(sum(ln(1.0 + (c.n_docs - c.df + 0.5) / (c.df + 0.5)) *
       |             (c.tf * (g.k1_micro / 1e6 + 1.0)) /
       |             (c.tf + (g.k1_micro / 1e6) *
       |              (1.0 - g.b_micro / 1e6 +
       |               (g.b_micro / 1e6) * c.dl / c.avgdl))), 6) AS bm25,
       |         CAST(count(*) AS BIGINT) AS n_terms_hit
       |  FROM comp c CROSS JOIN grid g
       |  GROUP BY g.k1_micro, g.b_micro, c.query_id, c.doc_id),
       |gtop AS (
       |  SELECT k1_micro, b_micro, query_id, n_terms_hit,
       |         row_number() OVER (PARTITION BY k1_micro, b_micro, query_id
       |                            ORDER BY bm25 DESC, doc_id ASC) AS pos
       |  FROM gscored),
       |gdcg AS (
       |  SELECT k1_micro, b_micro, query_id,
       |         CAST(sum(CAST(round(1e9 * (pow(2, n_terms_hit) - 1)
       |                              / log2(pos + 1), 0) AS BIGINT))
       |              AS BIGINT) AS dcg_nano
       |  FROM gtop WHERE pos <= $MultiBm25K
       |  GROUP BY k1_micro, b_micro, query_id),
       |rel AS (
       |  SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit
       |  FROM comp GROUP BY query_id, doc_id),
       |irank AS (
       |  SELECT query_id, n_terms_hit,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY n_terms_hit DESC, doc_id ASC) AS pos
       |  FROM rel),
       |idcg AS (
       |  SELECT query_id,
       |         CAST(sum(CAST(round(1e9 * (pow(2, n_terms_hit) - 1)
       |                              / log2(pos + 1), 0) AS BIGINT))
       |              AS BIGINT) AS idcg_nano
       |  FROM irank WHERE pos <= $MultiBm25K GROUP BY query_id),
       |nq AS (
       |  SELECT d.k1_micro, d.b_micro,
       |         CAST(round(1e9 * d.dcg_nano /
       |                    CAST(nullif(i.idcg_nano, 0) AS DOUBLE), 0)
       |              AS BIGINT) AS ndcg_nano
       |  FROM gdcg d JOIN idcg i USING (query_id)),
       |sweep AS (
       |  SELECT k1_micro, b_micro, CAST(sum(ndcg_nano) AS BIGINT)
       |           AS quality_nano
       |  FROM nq GROUP BY k1_micro, b_micro),
       |chosen AS (
       |  SELECT k1_micro, b_micro FROM sweep
       |  ORDER BY quality_nano DESC, k1_micro ASC, b_micro ASC LIMIT 1),
       |stopk AS (
       |  SELECT s.k1_micro, s.b_micro, s.query_id, s.doc_id, s.bm25,
       |         s.n_terms_hit,
       |         row_number() OVER (PARTITION BY s.query_id
       |                            ORDER BY s.bm25 DESC, s.doc_id ASC) AS pos
       |  FROM gscored s
       |  JOIN chosen c ON s.k1_micro = c.k1_micro AND s.b_micro = c.b_micro)""".stripMargin
  }

  val q271Sql: String =
    s"""$bm25SweepCtes
       |SELECT CAST(k1_micro AS BIGINT) AS k1_micro,
       |       CAST(b_micro AS BIGINT) AS b_micro,
       |       query_id, doc_id, bm25, n_terms_hit, CAST(pos AS BIGINT) AS rk
       |FROM stopk WHERE pos <= $MultiBm25K
       |ORDER BY query_id, rk""".stripMargin

  // ---------------------------------------------------------------- q273
  /** PERSISTED BM25 operating point — q272's generation-stamped-choice
    * discipline applied to the retrieval dial (round-10 verdict task
    * #1, "extend the same pattern to q271's dials"): q271 pays the
    * 12-point sweep (grid folds + per-point DCG rankings + IDCG) on
    * EVERY call; this query serves from the corpus-stamped
    * `choices/bm25-params` artifact. Warm (every call until the
    * documents corpus moves its [[ChoiceStore.documentsStamp]]): ZERO
    * sweep jobs — one stamp pass, a grid-sized artifact read, then the
    * single-point scoring the fixed-dial q244 already pays. Cold or
    * stale: ONE sweep ([[bm25SweepQuality]], the same code q271
    * measures with), [[chooseBm25Params]] decides, artifact rewritten
    * under the current stamp. The serve always flows artifact → score
    * (re-read after ensure), and the gated rows carry the dials AND
    * the stamp — the oracle recomputes stamp, sweep, rule, and serve
    * independently, so a stale or corrupted artifact hash-mismatches.
    * Round15QueriesSpec pins warm-zero-sweep (throwing thunk) and
    * wrong-stamp re-measure.
    */
  final case class Bm25Choice(docRows: Long, docContent: Long, k: Int,
      sweep: Seq[(Long, Long, Long)], k1Micro: Long, bMicro: Long)

  private[graft] def bm25ChoicePath(sfDir: String): String =
    new java.io.File(
      s"target/choices/bm25-params/${PathTag.tagFor(sfDir)}").getAbsolutePath

  private[operators] def bm25ChoiceWrite(s: SparkSession, path: String,
      c: Bm25Choice): Unit = {
    import s.implicits._
    c.sweep.map { case (k1, b, q) =>
      (c.docRows, c.docContent, c.k, k1, b, q,
        k1 == c.k1Micro && b == c.bMicro)
    }.toDF("doc_rows", "doc_content", "k", "k1_micro", "b_micro",
        "quality_nano", "chosen")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  private[graft] def bm25ChoiceRead(s: SparkSession,
      path: String): Option[Bm25Choice] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    // Try: a torn artifact (dir present, no readable footer) degrades
    // to the cold path instead of throwing forever (round-11 advice)
    else scala.util.Try {
      val rows = s.read.parquet(path)
        .orderBy(col("k1_micro"), col("b_micro")).collect()
      if (rows.isEmpty) None
      else {
        val h = rows.head
        val sweep = rows.toSeq.map(r => (r.getAs[Long]("k1_micro"),
          r.getAs[Long]("b_micro"), r.getAs[Long]("quality_nano")))
        rows.find(_.getAs[Boolean]("chosen")).map { ch =>
          Bm25Choice(h.getAs[Long]("doc_rows"), h.getAs[Long]("doc_content"),
            h.getAs[Int]("k"), sweep,
            ch.getAs[Long]("k1_micro"), ch.getAs[Long]("b_micro"))
        }
      }
    }.toOption.flatten
  }

  /** Ensure a valid persisted (k1, b) for the current corpus stamp and
    * grid; `measure` is call-by-need so the warm path provably never
    * sweeps (the q272 thunk law). */
  private[operators] def ensureBm25ParamsChoice(s: SparkSession, dir: String,
      measure: () => Seq[(Long, Long, Long)]): Bm25Choice =
    EnsureLock.withLock(bm25ChoicePath(dir)) {
    // sidecar form: warm validation is a file listing + TSV read, not
    // a full text-column fold (round-11 verdict #1); exactly equal to
    // the content fold, so the oracle's stamp replay is unchanged
    val (dr, dc) = ChoiceStore.documentsStampCachedFor(s, dir)
    val path = bm25ChoicePath(dir)
    val warm = bm25ChoiceRead(s, path).filter(c =>
      c.docRows == dr && c.docContent == dc && c.k == MultiBm25K &&
        c.sweep.map(t => (t._1, t._2)).sorted == bm25GridPoints.sorted)
    warm.getOrElse {
      graft.io.ArtifactClaim.withClaim(s, path, "bm25 params sweep") {
        val sweep = measure()
        val (k1c, bc) = chooseBm25Params(sweep)
        val c = Bm25Choice(dr, dc, MultiBm25K,
          sweep.sortBy(t => (t._1, t._2)), k1c, bc)
        bm25ChoiceWrite(s, path, c)
        c
      }
    }
    }

  /** Bench-prep surface: ensure the persisted (k1, b) artifact is warm
    * for `dir` — the cold sweep is offline corpus maintenance, run
    * here untimed (the prepareIvfPq convention). The component build
    * is lazy so a warm artifact pays only the stamp pass. */
  def prepareBm25ParamsChoice(s: SparkSession, dir: String): Unit = {
    lazy val comp = multiBm25Components(s, dir)
    lazy val heapSafe = graft.plans.TopK.idRangeSafe(
      Tables.documents(s, dir).select(col("doc_id")), "doc_id", 1L << 25)
    ensureBm25ParamsChoice(s, dir, () => bm25SweepQuality(comp, heapSafe))
    ()
  }

  def q273Bm25ParamsPersist(s: SparkSession, dir: String): DataFrame = {
    val comp = multiBm25Components(s, dir)
    val heapSafe = graft.plans.TopK.idRangeSafe(
      Tables.documents(s, dir).select(col("doc_id")), "doc_id", 1L << 25)
    ensureBm25ParamsChoice(s, dir, () => bm25SweepQuality(comp, heapSafe))
    // re-read so the serve flows artifact → score (the q272 discipline)
    val c = bm25ChoiceRead(s, bm25ChoicePath(dir)).getOrElse(
      sys.error("q273: choice artifact vanished after ensure"))
    rankMultiBm25Dispatch(
        scoreComponentsAtGrid(comp, Seq((c.k1Micro, c.bMicro)))
          .drop("k1_micro", "b_micro"),
        heapSafe, MultiBm25K)
      .select(lit(c.k1Micro).as("k1_micro"), lit(c.bMicro).as("b_micro"),
        col("query_id"), col("doc_id"), col("bm25"), col("n_terms_hit"),
        col("rk"), lit(c.docRows).as("doc_rows"),
        lit(c.docContent).as("doc_content"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q273Sql: String =
    s"""$bm25SweepCtes,
       |dstamp AS (${ChoiceStore.documentsStampSql})
       |SELECT CAST(k1_micro AS BIGINT) AS k1_micro,
       |       CAST(b_micro AS BIGINT) AS b_micro,
       |       query_id, doc_id, bm25, n_terms_hit, CAST(pos AS BIGINT) AS rk,
       |       ds.doc_rows, ds.doc_content
       |FROM stopk CROSS JOIN dstamp ds WHERE pos <= $MultiBm25K
       |ORDER BY query_id, rk""".stripMargin

  // ---------------------------------------------------------------- q281
  /** PERSISTED RETRIEVAL INDEX — the q216 note made real, and the
    * persistence arc extended from TUNING artifacts (q272/q273/q277:
    * the dials) to the SERVING artifact itself. Every warm BM25 serve
    * so far still re-tokenized the corpus and rebuilt postings/dl/
    * stats per call (measured: the tokenize+group dominates q273's
    * warm serve — 8.0/22.4/65.9 s at 1×/10×/30×); a deployment builds
    * the inverted index ONCE per corpus state and serves from it.
    * This artifact is exactly that:
    *
    *   - `postings/` — (doc_id, term, tf) PARTITIONED BY `pt` =
    *     pmod(hash(term), [[Bm25IndexBuckets]]): a query batch reads
    *     only the buckets containing its terms — PARTITION-PRUNED
    *     postings slices, the IVF inverted-list discipline applied to
    *     text retrieval (PlanSpec locks the PartitionFilters).
    *   - `dl/`, `stats/` — doc lengths, the 1-row corpus stats.
    *   - `df/` — per-term document frequencies (vocabulary-sized),
    *     PARTITIONED BY the same `pt` term-hash bucket as postings
    *     (round-12 verdict #3): an append's df merge touches only the
    *     buckets the batch's terms hash into, so the rewrite is
    *     batch-vocabulary-scale, not corpus-vocabulary-scale.
    *   - `meta/` — the corpus stamp the artifact is valid FOR, written
    *     LAST (the q277 torn-write ordering: a torn build never
    *     presents as warm).
    *
    * Staleness is the [[ChoiceStore.documentsStampCachedFor]]
    * discipline: warm = sidecar stamp + tiny meta read, the build
    * thunk NEVER forced (Round15QueriesSpec proves it with a throwing
    * thunk); any corpus move rebuilds once. The serve reads ONLY
    * artifact files — zero tokenization, zero corpus text scan — and
    * flows through the SAME componentsOf → single-point fold → rank
    * dispatch the recompute path uses, so served rows are
    * BIT-IDENTICAL to q273's (the oracle is the q273 replay verbatim:
    * an index that dropped, duplicated, or mis-bucketed one posting
    * hash-mismatches).
    *
    * 100 TB shape: build cost = one tokenize+group pass per corpus
    * state, amortized across every serve until the stamp moves (the
    * ingest path rebuilds; a production deployment appends postings
    * the q251 way — same discipline, not built here); serve cost =
    * postings buckets ∩ query terms + vocabulary/doc-length side
    * tables, independent of corpus TEXT volume.
    */
  val Bm25IndexBuckets = 32

  /** Artifact layout version, stamped into `meta/` and REQUIRED by
    * [[bm25IndexRead]]: an index persisted by an older layout (v1:
    * unpartitioned df table) presents as unreadable meta, which every
    * ensure resolves to a clean rebuild — never a mis-read of a table
    * whose physical schema the serving code no longer expects. v2 =
    * df partitioned by `pt`. */
  val Bm25IndexFmt = 2L

  final case class Bm25Index(docRows: Long, docContent: Long,
      nBuckets: Int)

  private[graft] def bm25IndexPath(sfDir: String): String =
    new java.io.File(
      s"target/indexes/bm25/${PathTag.tagFor(sfDir)}").getAbsolutePath

  /** Explicit schemas for every index-artifact read. Parquet schema
    * inference is a Spark JOB per `read.parquet` call (footers are
    * read cluster-side); a maintenance cycle was measured paying ~15
    * such jobs at ~40 ms driver gap each (OPTIMIZATION_r15.md). The
    * artifact schemas are fixed by the writers above, so readers
    * declare them and skip the inference job. `pt` is the hive
    * partition column of postings/df — declaring it in the schema is
    * the supported way to type a partition column. */
  private[operators] object ArtifactSchemas {
    import org.apache.spark.sql.types._
    val meta = StructType(Seq(
      StructField("doc_rows", LongType), StructField("doc_content", LongType),
      StructField("n_buckets", IntegerType), StructField("fmt", LongType)))
    val postings = StructType(Seq(
      StructField("doc_id", LongType), StructField("term", StringType),
      StructField("tf", LongType), StructField("pt", IntegerType)))
    val dl = StructType(Seq(
      StructField("doc_id", LongType), StructField("dl", LongType)))
    val stats = StructType(Seq(
      StructField("n_docs", LongType), StructField("avgdl", DoubleType)))
    val df = StructType(Seq(
      StructField("term", StringType), StructField("df", LongType),
      StructField("pt", IntegerType)))
    val maskedMeta = StructType(Seq(
      StructField("doc_rows", LongType), StructField("doc_content", LongType),
      StructField("tomb_rows", LongType), StructField("tomb_content", LongType),
      StructField("seq", LongType), StructField("fmt", LongType)))
    val maskedTable = StructType(Seq(
      StructField("term", StringType), StructField("df", LongType),
      StructField("pt", IntegerType)))
  }

  private[graft] def bm25IndexWrite(s: SparkSession, dir: String,
      docRows: Long, docContent: Long,
      nBuckets: Int = Bm25IndexBuckets): Unit = {
    val (dl, alltf) = bm25IndexTokenize(s, dir)
    bm25IndexWriteFrom(s, bm25IndexPath(dir), dl, alltf, docRows,
      docContent, nBuckets)
  }

  /** The build's single tokenize pass → (dl, per-doc tf), both
    * checkpointed so every downstream table derives without a second
    * corpus scan. */
  private def bm25IndexTokenize(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), TextPrep.tokensCol(col("text")).as("toks"))
    val dl = docs
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      .localCheckpoint() // ONE tokenize pass feeds dl, stats, postings
    val alltf = graft.plans.ParallelCheckpoint(docs
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    (dl, alltf)
  }

  private def bm25IndexWriteFrom(s: SparkSession, path: String,
      dl: DataFrame, alltf: DataFrame, docRows: Long, docContent: Long,
      nBuckets: Int): Unit = {
    // REBALANCE by pt before the partitioned write (guide §6: cluster
    // by the partition key so the writer emits ~1 right-sized file per
    // bucket instead of one per (task, bucket) — measured at sf0.1:
    // 768 postings files for 6.3 MB, and every serve pays the listing
    // + per-file open; AQE's rebalance coalesces small buckets AND
    // splits skewed ones, so at lake scale files track the advisory
    // size, never a single giant task per bucket)
    alltf
      .withColumn("pt", pmod(hash(col("term")), lit(nBuckets)))
      .hint("rebalance", col("pt"))
      .write.mode("overwrite").partitionBy("pt")
      .parquet(s"$path/postings")
    graft.io.SizedWrite.sized(dl).write.mode("overwrite")
      .parquet(s"$path/dl")
    dl.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")) / count(lit(1))).as("avgdl"))
      .write.mode("overwrite").parquet(s"$path/stats")
    alltf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("pt", pmod(hash(col("term")), lit(nBuckets)))
      .hint("rebalance", col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(s"$path/df")
    // stamp-bearing meta LAST: a torn build never presents as warm
    import s.implicits._
    Seq((docRows, docContent, nBuckets, Bm25IndexFmt))
      .toDF("doc_rows", "doc_content", "n_buckets", "fmt")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  // ------------------------------------------ bucket-dial auto-choice
  /** The bucket ladder's sizing target: expected DISTINCT TERMS per
    * postings/df bucket. From the bucket-count curve (SCALE.md, round-17
    * "Bucket-count dial measured honestly"):
    * prune fraction follows vocab/buckets exactly per the hash model
    * while per-bucket file count adds a flat open cost — so the dial
    * should grow with the VOCABULARY, not the corpus rows, and the
    * local fixtures (vocab 31 … ~200k) correctly land on the measured
    * 32–64 range. */
  val BucketTermsTarget = 4096L
  val BucketLadderMax = 4096

  /** PURE RULE (the chooseNprobe/chooseBanding family): the smallest
    * power-of-two bucket count ≥ [[Bm25IndexBuckets]] whose expected
    * terms-per-bucket is at or under `target`, clamped at `maxB`.
    * Exact integer comparisons — the oracle replays it as a CASE
    * ladder; boundary vocab = b·target stays at b. */
  private[graft] def chooseBucketCount(vocab: Long,
      target: Long = BucketTermsTarget,
      minB: Int = Bm25IndexBuckets,
      maxB: Int = BucketLadderMax): Int = {
    require(target > 0 && minB > 0 && maxB >= minB,
      s"chooseBucketCount: bad dial bounds ($target, $minB, $maxB)")
    var b = minB
    while (b < maxB && vocab > b.toLong * target) b *= 2
    b
  }

  /** Build the index with an ENGINE-CHOSEN bucket count — the last
    * human dial on this artifact removed (round-13 verdict #7, the
    * nprobe/banding/vocab-size precedent): the build's own tf pass
    * yields the corpus vocabulary size for free (one distinct-count
    * over the already-checkpointed tf table — no extra tokenize), the
    * pure ladder rule picks the count, and meta records it like any
    * other build; every serve and append already reads the index's
    * own recorded count (the round-13 per-index dial), so the choice
    * needs no consumer changes. Returns (nBuckets, vocab). */
  private[graft] def bm25IndexWriteAutoBuckets(s: SparkSession,
      dir: String, docRows: Long, docContent: Long): (Int, Long) = {
    val (dl, alltf) = bm25IndexTokenize(s, dir)
    val vocab = alltf.select(col("term")).distinct().count()
    val nb = chooseBucketCount(vocab)
    bm25IndexWriteFrom(s, bm25IndexPath(dir), dl, alltf, docRows,
      docContent, nb)
    (nb, vocab)
  }

  /** [[ensureBm25Index]] with the auto-chosen dial: warm on the
    * corpus stamp alone — whatever count meta records IS the engine's
    * choice for that corpus state (re-deriving it would need the
    * vocabulary, i.e. a tokenize, exactly what warm must never pay).
    * A default-dial index for the same corpus is NOT warm here only
    * if its count differs from what the rule would choose — both are
    * valid artifacts; this ensure simply never overwrites a
    * stamp-valid one. `onBuild` observes the cold verb. */
  private[graft] def ensureBm25IndexAutoBuckets(s: SparkSession,
      dir: String, onBuild: () => Unit = () => ()): Bm25Index =
    EnsureLock.withLock(bm25IndexPath(dir)) {
      val (dr, dc) = ChoiceStore.documentsStampCachedFor(s, dir)
      bm25IndexRead(s, bm25IndexPath(dir)).filter(m =>
          m.docRows == dr && m.docContent == dc)
        .getOrElse {
          // cross-process fence around the MUTATING phase only — a
          // warm ensure above never touches the claim file
          graft.io.ArtifactClaim.withClaim(s, bm25IndexPath(dir),
              "bm25 index build") {
            onBuild()
            bm25IndexWriteAutoBuckets(s, dir, dr, dc)
            bm25IndexRead(s, bm25IndexPath(dir)).getOrElse(sys.error(
              "ensureBm25IndexAutoBuckets: artifact unreadable after build"))
          }
        }
    }

  /** Read the index meta, if any — missing/torn/old-layout degrades to
    * None (the choice-reader contract): a meta without the current
    * [[Bm25IndexFmt]] marker describes tables this code no longer
    * reads, and None resolves every ensure to a clean rebuild. */
  private[graft] def bm25IndexRead(s: SparkSession,
      path: String): Option[Bm25Index] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else scala.util.Try {
      val rows = s.read.schema(ArtifactSchemas.meta)
        .parquet(s"$path/meta").collect()
      rows.headOption
        .filter(_.getAs[Long]("fmt") == Bm25IndexFmt)
        .map(r => Bm25Index(r.getAs[Long]("doc_rows"),
          r.getAs[Long]("doc_content"), r.getAs[Int]("n_buckets")))
    }.toOption.flatten
  }

  /** The df artifact as its LOGICAL (term, df) relation — the physical
    * `pt` partition column stripped; `buckets`, when given, prunes the
    * scan to those partitions before it starts. */
  private[graft] def readIndexDf(s: SparkSession, idxPath: String,
      buckets: Option[Seq[Int]] = None): DataFrame = {
    val raw = s.read.schema(ArtifactSchemas.df).parquet(s"$idxPath/df")
    buckets.fold(raw)(b => raw.filter(col("pt").isin(b: _*)))
      .select(col("term"), col("df"))
  }

  /** Ensure a valid persisted index for the current corpus stamp;
    * `build` is call-by-need so the warm path provably never
    * tokenizes (the q272 thunk law). */
  private[graft] def ensureBm25Index(s: SparkSession, dir: String,
      build: (Long, Long) => Unit): Bm25Index =
    EnsureLock.withLock(bm25IndexPath(dir)) {
      val (dr, dc) = ChoiceStore.documentsStampCachedFor(s, dir)
      bm25IndexRead(s, bm25IndexPath(dir)).filter(m =>
          m.docRows == dr && m.docContent == dc &&
            m.nBuckets == Bm25IndexBuckets)
        .getOrElse {
          graft.io.ArtifactClaim.withClaim(s, bm25IndexPath(dir),
              "bm25 index build") {
            build(dr, dc)
            bm25IndexRead(s, bm25IndexPath(dir)).getOrElse(
              sys.error("ensureBm25Index: artifact unreadable after build"))
          }
        }
    }

  /** Bench-prep surface: the build is offline corpus maintenance (the
    * prepareIvfPq convention); the timed number is the artifact
    * serve. Routes through the INCREMENTAL ensure (q282): a corpus
    * that grew by appended files since the last build pays only a
    * batch-sized append, never a full re-tokenize. */
  def prepareBm25Index(s: SparkSession, dir: String): Unit = {
    ensureBm25IndexIncremental(s, dir)
    ()
  }

  // ---------------------------------------------------------------- q282
  /** INCREMENTAL postings maintenance — the append verb the q281
    * scaladoc promised ("a production deployment appends postings the
    * q251 way"). A corpus ingest at 100 TB must NOT re-tokenize the
    * lake to refresh the serving index: new documents arrive as NEW
    * parquet files (the append discipline every lifecycle verb obeys —
    * files are immutable, ingest creates them), so the index can be
    * brought current by tokenizing ONLY the new files and merging
    * their contributions:
    *
    *   - `postings/` — batch (doc_id, term, tf) rows appended into the
    *     existing `pt` hash-bucket partitions (mode-append: new files
    *     inside the partition dirs, existing files untouched).
    *   - `dl/`      — batch doc lengths appended.
    *   - `stats/`   — re-derived from the FULL dl artifact: count and
    *     sum(long) are order-free exact, so the recomputed (n_docs,
    *     avgdl) is BIT-IDENTICAL to a from-scratch build's. The dl
    *     table is one row per doc (no text) — corpus-ROWS scale, not
    *     corpus-bytes scale.
    *   - `df/`      — old df ∪ batch df, summed per term: appended
    *     doc_ids are disjoint from indexed ones (new files ∩ ledger =
    *     ∅), so integer counts add exactly. Vocabulary-scale.
    *   - `ledger.tsv` (FIRST) + `meta/` (LAST) — see below.
    *
    * Append ≡ rebuild holds bit-for-bit (Round15QueriesSpec): every
    * artifact table is set-equal to a from-scratch build over the
    * grown corpus, so the serve is too.
    *
    * APPEND-OR-REBUILD is decided from file METADATA alone
    * ([[indexMaintenancePlan]], a pure function): the index persists a
    * LEDGER of per-file stamp partials (path, len, mtime, rows,
    * content-residue — snapshotted from the corpus stamp sidecar, so
    * the ledger costs zero extra scans). Append applies iff
    *   (a) Σ ledger partials == the meta stamp (ledger and meta
    *       describe the SAME indexed state — a ledger written ahead of
    *       a crashed append/rebuild fails this and forces a rebuild,
    *       so a partial append can never be appended onto), and
    *   (b) every ledger file is still present with its recorded
    *       (len, mtime) (the [[graft.io.StampSidecar]] trust boundary:
    *       parquet files are immutable; an edit/remove forces a
    *       rebuild), and
    *   (c) at least one never-seen file exists (the batch).
    * Crash ordering: ledger FIRST, meta LAST — a crash anywhere
    * between leaves Σ ledger ≠ meta stamp, which rule (a) resolves to
    * a clean rebuild (mode-overwrite clears any partial rows). The
    * matrix is spec-pinned on synthetic metadata.
    */
  sealed trait IndexPlan
  case object RebuildAll extends IndexPlan
  final case class AppendFiles(newFiles: Seq[String]) extends IndexPlan

  private[graft] def indexLedgerPath(idxPath: String): String =
    s"$idxPath/ledger.tsv"

  private[graft] def ledgerRead(s: SparkSession,
      idxPath: String): Seq[graft.io.StampSidecar.FileStamp] =
    graft.io.StampSidecar.read(s, indexLedgerPath(idxPath)).values.toSeq

  /** Pure append-or-rebuild decision over file metadata alone — no
    * Spark, no I/O, so the crash matrix is unit-testable. `current`
    * is the live (path, len, mtime) listing of the corpus data files;
    * `meta` the index meta if readable. */
  private[graft] def indexMaintenancePlan(
      ledger: Seq[graft.io.StampSidecar.FileStamp],
      current: Seq[(String, Long, Long)],
      meta: Option[Bm25Index]): IndexPlan = meta match {
    case None => RebuildAll
    case Some(m) if m.nBuckets != Bm25IndexBuckets => RebuildAll
    case Some(m) =>
      // rule (a): ledger and meta must describe the same indexed state
      if (ledger.isEmpty || ledger.map(_.rows).sum != m.docRows ||
          ledger.map(_.content).sum != m.docContent) RebuildAll
      else {
        val cur = current.map(f => f._1 -> f).toMap
        val intact = ledger.forall(e => cur.get(e.path)
          .exists(c => c._2 == e.len && c._3 == e.mtime))
        val seen = ledger.map(_.path).toSet
        val newFiles =
          current.collect { case (p, _, _) if !seen.contains(p) => p }
        if (intact && newFiles.nonEmpty) AppendFiles(newFiles)
        else RebuildAll
      }
  }

  /** Tokenize ONLY `newFiles` and merge their contributions into the
    * index at `idxPath` — the caller (the incremental ensure) has
    * already proven via [[indexMaintenancePlan]] that these files are
    * disjoint from every indexed one. Meta (the warm gate) is written
    * LAST. */
  private[graft] def bm25IndexAppend(s: SparkSession, idxPath: String,
      newFiles: Seq[String], docRows: Long, docContent: Long): Unit =
    bm25IndexAppendDocs(s, idxPath, s.read.parquet(newFiles: _*),
      docRows, docContent)

  /** Append ONE micro-batch of documents (doc_id, text) into the index
    * — the batch-ingest entry: meta advances EXACTLY by the
    * batch's stamp contribution (plain long sums — the same arithmetic
    * the corpus stamp folds, so N streamed batches land on the
    * identical meta a one-shot build over the union would). Contract
    * (shared with the file path): batch doc_ids are disjoint from
    * indexed ones. The file LEDGER is deliberately not touched — it
    * amortizes FILE-shaped ingests only; an index maintained by stream
    * presents to a later file-ensure as ledger↔meta-mismatched, which
    * resolves to a safe full rebuild (a deployment picks one ingestion
    * style per index). */
  private[graft] def bm25IndexAppendBatch(s: SparkSession, idxPath: String,
      batch: DataFrame): Unit = {
    val m = bm25IndexRead(s, idxPath).getOrElse(sys.error(
      s"bm25IndexAppendBatch: no readable index at $idxPath — build " +
        "offline first (a stream never pays a corpus tokenize)"))
    val b = batch.select(col("doc_id"), col("text")).localCheckpoint()
    val (br, bc) = ChoiceStore.documentsStamp(b)
    if (br > 0L)
      bm25IndexAppendDocs(s, idxPath, b, m.docRows + br, m.docContent + bc,
        m.nBuckets)
  }

  /** The shared append body: merge `batchDocs` (doc_id, text — already
    * proven disjoint from the indexed corpus by the caller) into the
    * artifact tables, writing meta last. */
  private[graft] def bm25IndexAppendDocs(s: SparkSession, idxPath: String,
      batchDocs: DataFrame, docRows: Long, docContent: Long,
      nBuckets: Int = Bm25IndexBuckets): Unit = {
    val docs = batchDocs
      .select(col("doc_id"), TextPrep.tokensCol(col("text")).as("toks"))
    // dlNew has exactly ONE consumer (the dl append write below) — no
    // checkpoint: a checkpoint is its own Spark job, and the write
    // re-tokenizes only the batch (batch-sized, the append contract)
    val dlNew = docs
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val tfNew = docs
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    tfNew
      .withColumn("pt", pmod(hash(col("term")), lit(nBuckets)))
      .hint("rebalance", col("pt")) // ~1 file/bucket, see bm25IndexWriteFrom
      .write.mode("append").partitionBy("pt")
      .parquet(s"$idxPath/postings")
    graft.io.SizedWrite.sized(dlNew).write.mode("append")
      .parquet(s"$idxPath/dl")
    // stats re-derived from the full dl artifact: long count/sum are
    // order-free exact, so this equals a from-scratch build's stats
    s.read.schema(ArtifactSchemas.dl).parquet(s"$idxPath/dl")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")) / count(lit(1))).as("avgdl"))
      .write.mode("overwrite").parquet(s"$idxPath/stats")
    // df merge: disjoint doc_ids ⇒ per-term counts add exactly. The
    // merge is confined to the `pt` buckets the BATCH's terms hash
    // into (round-12 verdict #3 — SCALE.md caveat c closed): only
    // those partitions are read for old counts and only those are
    // rewritten (dynamic partition overwrite), so the append's df
    // bill follows the batch's vocabulary, not the corpus'.
    val dfNew = tfNew.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("pt", pmod(hash(col("term")), lit(nBuckets)))
      .localCheckpoint()
    // the batch's bucket set: ≤ nBuckets rows, bounded class
    val touched = dfNew.select(col("pt")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // materialize BEFORE overwriting the partitions it was derived from
    val merged = s.read.schema(ArtifactSchemas.df).parquet(s"$idxPath/df")
      .filter(col("pt").isin(touched: _*))
      .unionByName(dfNew)
      .groupBy(col("term"), col("pt")).agg(sum(col("df")).as("df"))
      .select(col("term"), col("df"), col("pt"))
      .localCheckpoint()
    // per-WRITE dynamic overwrite (DataFrameWriter option, which takes
    // precedence over the session conf): toggling the session-global
    // conf here leaked dynamic-overwrite semantics to any concurrent
    // writer on the shared session during the window — EnsureLock is
    // per-artifact-path and does not serialize unrelated writers
    merged.hint("rebalance", col("pt"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pt").parquet(s"$idxPath/df")
    import s.implicits._
    Seq((docRows, docContent, nBuckets, Bm25IndexFmt))
      .toDF("doc_rows", "doc_content", "n_buckets", "fmt")
      .repartition(1).write.mode("overwrite").parquet(s"$idxPath/meta")
  }

  /** [[ensureBm25Index]] with the INCREMENTAL path: warm → nothing
    * (meta-vs-stamp, sidecar-metadata-scale); stamp moved with a
    * ledger-intact pure file append → [[bm25IndexAppend]] over ONLY
    * the new files; anything else (no ledger, torn state, edited or
    * removed files, bucket-count change) → full rebuild. `onBuild` /
    * `onAppend` observe which verb ran (the q280 counted-thunk
    * convention — a warm call provably invokes neither). */
  private[graft] def ensureBm25IndexIncremental(s: SparkSession,
      dir: String, onBuild: () => Unit = () => (),
      onAppend: Seq[String] => Unit = _ => ()): Bm25Index =
    EnsureLock.withLock(bm25IndexPath(dir)) {
    val (dr, dc) = ChoiceStore.documentsStampCachedFor(s, dir)
    val idxPath = bm25IndexPath(dir)
    bm25IndexRead(s, idxPath).filter(m => m.docRows == dr &&
        m.docContent == dc && m.nBuckets == Bm25IndexBuckets)
      .getOrElse {
        // the maintenance PLAN and the verb it picks both run under
        // the cross-process claim: a second JVM planning over the
        // first's half-appended state is the torn class the fence
        // exists for (its retry re-ensures warm once the winner lands)
        graft.io.ArtifactClaim.withClaim(s, idxPath,
            "bm25 index maintenance") {
        // warmth re-checked INSIDE the claim: a winner landing between
        // the stale outer check and this claim leaves a warm index
        // whose plan reads "ledger tied, nothing new" — a redundant
        // full REBUILD cross-process, not a no-op. ONE read serves
        // both the re-check and the maintenance plan below (each
        // meta read is a Spark job; same instant, same semantics).
        val inner = bm25IndexRead(s, idxPath)
        inner.filter(m => m.docRows == dr &&
            m.docContent == dc && m.nBuckets == Bm25IndexBuckets)
          .getOrElse {
        val current = graft.io.StampSidecar.listDataFiles(s,
          s"$dir/documents.parquet")
        // per-file partials come free: documentsStampCachedFor just
        // refreshed the corpus sidecar for exactly these files
        val perFile = graft.io.StampSidecar.read(s,
          ChoiceStore.docStampSidecarFor(dir))
        val ledgerNow = current.map { case (p, len, mt) =>
          val c = perFile.get(p)
          graft.io.StampSidecar.FileStamp(p, len, mt,
            c.map(_.rows).getOrElse(0L), c.map(_.content).getOrElse(0L))
        }
        indexMaintenancePlan(ledgerRead(s, idxPath), current,
            inner) match {
          case AppendFiles(nf) =>
            onAppend(nf)
            // ledger FIRST: a crash before meta leaves Σ ledger ≠ meta
            // stamp ⇒ the next ensure rebuilds (never double-appends)
            graft.io.StampSidecar.write(s, indexLedgerPath(idxPath),
              ledgerNow)
            bm25IndexAppend(s, idxPath, nf, dr, dc)
          case RebuildAll =>
            onBuild()
            graft.io.StampSidecar.write(s, indexLedgerPath(idxPath),
              ledgerNow)
            bm25IndexWrite(s, dir, dr, dc)
        }
        bm25IndexRead(s, idxPath).getOrElse(sys.error(
          "ensureBm25IndexIncremental: artifact unreadable after build"))
          }
        }
      }
    }

  /** Serve a query batch from the PERSISTED index at a fixed dial —
    * [[bm25ServeQueriesAtDial]]'s artifact-only twin: every input is
    * an index file (postings buckets partition-pruned to the batch's
    * terms; df semi-joined to them; dl + the 1-row stats), the scoring
    * tail is the shared componentsOf → fold-at-point → rank dispatch,
    * so artifact-served rows ≡ recompute-served rows exactly. */
  private[graft] def bm25ServeQueriesFromIndex(s: SparkSession,
      idxPath: String, qterms: DataFrame, k1Micro: Long,
      bMicro: Long): DataFrame = {
    val terms = qterms.select(col("term")).distinct().localCheckpoint()
    // the INDEX's own bucket count (meta — a tiny read): the serve
    // must hash with whatever bucketing the artifact was built at,
    // which since round 13 is a measurable per-index dial
    val nb = bm25IndexRead(s, idxPath).map(_.nBuckets)
      .getOrElse(Bm25IndexBuckets)
    // bucket set of the batch's terms: ≤ nb rows — the bounded-collect
    // class; isin over the partition column is what prunes the scan
    val buckets = terms
      .select(pmod(hash(col("term")), lit(nb)).as("pt"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val postings = s.read.schema(ArtifactSchemas.postings)
      .parquet(s"$idxPath/postings")
      .filter(col("pt").isin(buckets: _*))
    val dl = s.read.schema(ArtifactSchemas.dl).parquet(s"$idxPath/dl")
    val stats = s.read.schema(ArtifactSchemas.stats)
      .parquet(s"$idxPath/stats")
    // df pruned to the SAME bucket set as postings (it shares the pt
    // partitioning since round 13), then semi-joined to exact terms
    val dfTab = readIndexDf(s, idxPath, Some(buckets))
      .join(broadcast(terms), Seq("term"), "left_semi")
    val tfq = postings.join(broadcast(qterms), Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"), col("query_id"))
    val heapSafe = graft.plans.TopK.idRangeSafe(
      dl.select(col("doc_id")), "doc_id", 1L << 25)
    rankMultiBm25Dispatch(
        scoreComponentsAtGrid(componentsOf(tfq, dl, dfTab, stats),
            Seq((k1Micro, bMicro)))
          .drop("k1_micro", "b_micro"),
        heapSafe, MultiBm25K)
      .select(lit(k1Micro).as("k1_micro"), lit(bMicro).as("b_micro"),
        col("query_id"), col("doc_id"), col("bm25"), col("n_terms_hit"),
        col("rk"))
  }

  // ---------------------------------------------------------------- q283
  /** DELETE-AWARE artifact serve — the lifecycle verb between append
    * (q282) and rebuild: documents leave the corpus (takedowns,
    * opt-outs, quality rejections) WITHOUT rewriting the index. The
    * postings files stay immutable (FAISS IDSelector semantics, the
    * q254 discipline applied to text retrieval); the delete set masks
    * the serve with EXACT filtered-corpus BM25 semantics — not just
    * result filtering:
    *
    *   - postings: tombstoned docs anti-joined out of the
    *     partition-pruned slices BEFORE scoring (a dead doc can never
    *     surface at any rank);
    *   - dl/stats: doc lengths masked, (n_docs, avgdl) re-derived from
    *     the masked dl — order-free long sums, so bit-equal to a
    *     rebuild's stats over the surviving corpus;
    *   - df: per-term document frequencies DECREMENTED by each term's
    *     tombstoned-doc count ([[bm25MaskedDf]] — postings are unique
    *     per (doc, term), so the semi-join count is exactly the dead
    *     df mass); terms whose df reaches 0 drop, matching a rebuild
    *     where the term no longer exists.
    *
    * Net: masked-serve rows ≡ a from-scratch index built over the
    * surviving corpus, bit-for-bit (Round15QueriesSpec pins it against
    * a real filtered rebuild; the q283 oracle replays the q244 chain
    * over the filtered documents table). The tombstone side is
    * capacity-gated ([[BoundedBroadcast]]) like every delete surface.
    *
    * 100 TB shape: serve cost = the pruned-bucket scan + the persisted
    * masked-df artifact ([[ensureBm25MaskedDf]] — since round 13 the
    * global-masked-df postings pass is paid ONCE per (index state,
    * tombstone set) and every further masked serve reads a
    * vocabulary-scale table; the round-12 verdict's #1) + a dl pass
    * for stats (corpus-ROWS scale) — deletes never force a tokenize or
    * an index rewrite; when the delete set grows past the audit
    * threshold, the nightly rebuild (q282's RebuildAll verb over the
    * compacted lake) truncates it, exactly the q276 retrain-vs-carry
    * composition.
    */
  val Bm25DeleteMod = 7L
  val Bm25DeleteRem = 5L

  /** Global df over the SURVIVING corpus, from artifacts alone: stored
    * df minus each term's tombstoned-doc count. */
  private[graft] def bm25MaskedDf(s: SparkSession, idxPath: String,
      tombstones: DataFrame): DataFrame = {
    val tombs = BoundedBroadcast.boundedBroadcast(
      tombstones.select(col("doc_id")).localCheckpoint(),
      "graft.bm25.maxTombstones", 10000000L)
    val dead = s.read.schema(ArtifactSchemas.postings)
      .parquet(s"$idxPath/postings")
      .join(tombs, Seq("doc_id"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("dead"))
    readIndexDf(s, idxPath)
      .join(dead, Seq("term"), "left_outer")
      .select(col("term"),
        (col("df") - coalesce(col("dead"), lit(0L))).as("df"))
      .filter(col("df") > 0L)
  }

  // ------------------------------------------- masked-df artifact (q292)
  /** Stamp of a tombstone DOC set — [[graft.ann.Ann.tombstoneStamp]]'s
    * text-retrieval twin, the ChoiceStore residue arithmetic over
    * doc_id: (count, Σ doc_id·31 mod 2^20). An empty set stamps
    * (0, 0). Cost: one pass over the delete list — tombstone-sized,
    * metadata next to the index it masks. */
  private[graft] def tombstoneDocStamp(tombstones: DataFrame): (Long, Long) = {
    val r = tombstones.agg(count(lit(1)).as("n"),
      coalesce(sum((col("doc_id") * lit(31L)) % lit(1048576L)), lit(0L))
        .as("content")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Validity key of a persisted masked-df table: the INDEX stamp it
    * was decremented FROM plus the TOMBSTONE-set stamp it masks —
    * either moving must recompute (the NprobeChoice two-component
    * discipline). `seq` is the state's monotonic build order — the
    * eviction key of the bounded multi-state layout. */
  final case class MaskedDfMeta(docRows: Long, docContent: Long,
      tombRows: Long, tombContent: Long, seq: Long)

  /** How many masked-df STATES an index keeps (round-14 verdict #6):
    * the single-slot layout thrashed cold rebuilds under two serving
    * cohorts alternating tombstone sets — each switch overwrote the
    * other's state. Keyed by tombstone stamp, each distinct delete
    * set is computed ONCE and served warm however the cohorts
    * interleave, up to this bound; beyond it the OLDEST-built state
    * is evicted (vocabulary-scale disk, so the bound is generous). */
  val MaskedDfMaxStates = 4

  private[graft] def maskedDfPath(idxPath: String): String =
    s"$idxPath/maskeddf"

  /** One tombstone set's state dir — keyed by the set's own stamp, so
    * alternating delete sets land in DISJOINT layouts instead of
    * overwriting one slot. */
  private[graft] def maskedDfStatePath(idxPath: String, tombRows: Long,
      tombContent: Long): String =
    s"${maskedDfPath(idxPath)}/st-$tombRows-$tombContent"

  private def maskedDfMetaReadAt(s: SparkSession,
      statePath: String): Option[MaskedDfMeta] = {
    val p = new org.apache.hadoop.fs.Path(s"$statePath/meta")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else scala.util.Try {
      val rows = s.read.schema(ArtifactSchemas.maskedMeta)
        .parquet(p.toString).collect()
      rows.headOption
        .filter(_.getAs[Long]("fmt") == Bm25IndexFmt)
        .map(r => MaskedDfMeta(r.getAs[Long]("doc_rows"),
          r.getAs[Long]("doc_content"), r.getAs[Long]("tomb_rows"),
          r.getAs[Long]("tomb_content"), r.getAs[Long]("seq")))
    }.toOption.flatten
  }

  /** The meta of the state holding `tombstones`' stamp, if present. */
  private[graft] def maskedDfMetaRead(s: SparkSession, idxPath: String,
      tombstones: DataFrame,
      stampOpt: Option[(Long, Long)] = None): Option[MaskedDfMeta] = {
    val (tr, tc) = stampOpt.getOrElse(
      tombstoneDocStamp(tombstones.select(col("doc_id"))))
    maskedDfMetaReadAt(s, maskedDfStatePath(idxPath, tr, tc))
  }

  /** Every state dir under the masked-df root with its meta (None =
    * torn/legacy — a GC candidate). */
  private def maskedDfListStates(s: SparkSession, idxPath: String)
      : Seq[(String, Option[MaskedDfMeta])] = {
    val root = new org.apache.hadoop.fs.Path(maskedDfPath(idxPath))
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("st-"))
      .map { st =>
        val p = st.getPath.toUri.getPath
        (p, maskedDfMetaReadAt(s, p))
      }
  }

  /** ENSURE a persisted masked-df state for (index state, tombstone
    * set) — the round-12 verdict's #1: [[bm25MaskedDf]] pays an
    * index-proportional postings pass on EVERY masked serve to
    * decrement df, but with a stable delete set that pass re-derives
    * the same vocabulary-scale table each time. So it is paid ONCE per
    * (index stamp, tombstone stamp) — the q272/NprobeChoice validity
    * discipline — and persisted bucket-partitioned like the df table
    * it masks; every further masked serve reads the artifact. Since
    * round 15 the artifact is MULTI-STATE (round-14 verdict #6): each
    * tombstone stamp owns its `st-<rows>-<content>/` layout, so two
    * serving cohorts ALTERNATING delete sets (A/B eval masks) each
    * compute once and stay warm — the single slot used to thrash a
    * cold rebuild per switch. States are bounded
    * ([[MaskedDfMaxStates]], evict oldest-built) and GC'd when the
    * INDEX stamp moves (a stale state can never be warm again —
    * warmth requires the current index stamp).
    *
    * The table is BIT-EXACT vs the live decrement (integer
    * arithmetic, spec law artifact ≡ live); meta is written LAST
    * (torn build never presents warm); `onCompute` observes the cold
    * verb (the counted-thunk convention — a warm call provably never
    * touches postings). Mutations (build + eviction/GC) run under the
    * artifact root's cross-process claim. */
  private[graft] def ensureBm25MaskedDf(s: SparkSession, idxPath: String,
      tombstones: DataFrame, onCompute: () => Unit = () => (),
      mOpt: Option[Bm25Index] = None,
      stampOpt: Option[(Long, Long)] = None): Unit =
    EnsureLock.withLock(maskedDfPath(idxPath)) {
      // mOpt/stampOpt: a composing caller (the validated read, the
      // masked serve) has already read the index meta and stamped the
      // tombstone set — each is a Spark job, so it is passed in rather
      // than recomputed (identical values by construction)
      val m = mOpt.getOrElse(bm25IndexRead(s, idxPath).getOrElse(sys.error(
        s"ensureBm25MaskedDf: no readable index at $idxPath")))
      val (tr, tc) = stampOpt.getOrElse(tombstoneDocStamp(
        tombstones.select(col("doc_id"))))
      val statePath = maskedDfStatePath(idxPath, tr, tc)
      val warm = maskedDfMetaReadAt(s, statePath).exists(mm =>
        mm.docRows == m.docRows && mm.docContent == m.docContent &&
          mm.tombRows == tr && mm.tombContent == tc)
      if (!warm) {
        graft.io.ArtifactClaim.withClaim(s, maskedDfPath(idxPath),
            "masked-df build") {
          onCompute()
          // monotonic build order across ALL existing states — the
          // eviction key; the new state always outranks survivors
          val states = maskedDfListStates(s, idxPath)
          val seq = 1L + states.flatMap(_._2).map(_.seq)
            .foldLeft(0L)(math.max)
          bm25MaskedDf(s, idxPath, tombstones)
            .withColumn("pt", pmod(hash(col("term")), lit(m.nBuckets)))
            .write.mode("overwrite").partitionBy("pt")
            .parquet(s"$statePath/table")
          import s.implicits._
          Seq((m.docRows, m.docContent, tr, tc, seq, Bm25IndexFmt))
            .toDF("doc_rows", "doc_content", "tomb_rows", "tomb_content",
              "seq", "fmt")
            .repartition(1).write.mode("overwrite")
            .parquet(s"$statePath/meta")
          // GC, under the same claim: (a) states the index stamp left
          // behind or whose meta is torn/legacy — never warm again;
          // (b) valid states beyond the bound, oldest-built first
          // (never the just-built one — it holds the max seq)
          val fs = new org.apache.hadoop.fs.Path(maskedDfPath(idxPath))
            .getFileSystem(s.sessionState.newHadoopConf())
          def rm(p: String): Unit = {
            fs.delete(new org.apache.hadoop.fs.Path(p), true); ()
          }
          val (valid, stale) = maskedDfListStates(s, idxPath)
            .partition { case (_, mm) => mm.exists(x =>
              x.docRows == m.docRows && x.docContent == m.docContent) }
          stale.foreach { case (p, _) => rm(p) }
          valid.sortBy(_._2.map(_.seq).getOrElse(0L))
            .dropRight(MaskedDfMaxStates)
            .foreach { case (p, _) => rm(p) }
          // the pre-multi-state layout (a bare table/ + meta/ under the
          // root) is dead weight this code never reads — GC it here so
          // an upgraded deployment doesn't carry a stale slot forever
          Seq("table", "meta").foreach { n =>
            rm(s"${maskedDfPath(idxPath)}/$n")
          }
        }
      }
    }

  /** The persisted masked-df state's logical (term, df) relation for
    * `tombstones`' stamp, bucket-pruned when `buckets` is given —
    * [[readIndexDf]]'s masked twin. Callers must have
    * [[ensureBm25MaskedDf]]d first. RAW read: nothing re-checks which
    * INDEX state the table was decremented from, so this is for
    * workload SYNTHESIS only (picking query terms from the surviving
    * vocabulary); every SCORING path must go through
    * [[readMaskedDfValidated]], which closes the ensure→read race. */
  private[graft] def readMaskedDf(s: SparkSession, idxPath: String,
      tombstones: DataFrame,
      buckets: Option[Seq[Int]] = None,
      stampOpt: Option[(Long, Long)] = None): DataFrame = {
    val (tr, tc) = stampOpt.getOrElse(
      tombstoneDocStamp(tombstones.select(col("doc_id"))))
    val raw = s.read.schema(ArtifactSchemas.maskedTable).parquet(
      s"${maskedDfStatePath(idxPath, tr, tc)}/table")
    buckets.fold(raw)(b => raw.filter(col("pt").isin(b: _*)))
      .select(col("term"), col("df"))
  }

  /** Ensure + read the masked df AS ONE CRITICAL SECTION — the
    * round-13 advisory's race, kept even though the multi-state
    * layout removes the common overwrite (two DIFFERENT tombstone
    * sets now live in disjoint states): a concurrent ensure can still
    * EVICT this state (the [[MaskedDfMaxStates]] bound) or GC it on
    * an index-stamp move between the ensure and the read. Here the
    * ensure, a meta re-verify against the CALLER's stamps, and a
    * materializing read (localCheckpoint — the rows are pinned before
    * the lock drops) all run under the artifact's EnsureLock, so the
    * returned relation provably holds the caller's state however the
    * artifact is rewritten afterwards. Cost over the raw read: one
    * tombstone-sized stamp pass + materializing the (bucket-pruned)
    * vocabulary-scale table — no postings term. */
  private[graft] def readMaskedDfValidated(s: SparkSession,
      idxPath: String, tombstones: DataFrame,
      buckets: Option[Seq[Int]] = None,
      onCompute: () => Unit = () => (),
      mOpt: Option[Bm25Index] = None): DataFrame =
    EnsureLock.withLock(maskedDfPath(idxPath)) {
      // ONE index-meta read and ONE tombstone stamp serve the ensure,
      // the re-verify, and the state read (they were one value per
      // call anyway — each recompute was a separate Spark job)
      val m = mOpt.getOrElse(bm25IndexRead(s, idxPath).getOrElse(sys.error(
        s"readMaskedDfValidated: no readable index at $idxPath")))
      val (tr, tc) = tombstoneDocStamp(tombstones.select(col("doc_id")))
      ensureBm25MaskedDf(s, idxPath, tombstones, onCompute, Some(m),
        Some((tr, tc)))
      val mm = maskedDfMetaRead(s, idxPath, tombstones,
          Some((tr, tc))).getOrElse(
        sys.error(
          s"readMaskedDfValidated: masked-df meta unreadable at " +
            s"$idxPath directly after its ensure"))
      require((mm.docRows, mm.docContent, mm.tombRows, mm.tombContent)
          == ((m.docRows, m.docContent, tr, tc)),
        s"readMaskedDfValidated: masked df at $idxPath holds state " +
          s"$mm, not the caller's (${m.docRows}, ${m.docContent}, " +
          s"$tr, $tc) — a concurrent ensure replaced it")
      readMaskedDf(s, idxPath, tombstones, buckets, Some((tr, tc)))
        .localCheckpoint()
    }

  /** [[bm25ServeQueriesFromIndex]] with a tombstone mask — every input
    * is still an index file; the mask is applied to postings and dl,
    * and df/stats are re-derived to the surviving corpus's exact
    * values before the SAME scoring tail. */
  private[graft] def bm25ServeQueriesFromIndexMasked(s: SparkSession,
      idxPath: String, qterms: DataFrame, k1Micro: Long, bMicro: Long,
      tombstones: DataFrame): DataFrame = {
    val tombs = BoundedBroadcast.boundedBroadcast(
      tombstones.select(col("doc_id")).localCheckpoint(),
      "graft.bm25.maxTombstones", 10000000L)
    val terms = qterms.select(col("term")).distinct().localCheckpoint()
    val mIdx = bm25IndexRead(s, idxPath)
    val nb = mIdx.map(_.nBuckets).getOrElse(Bm25IndexBuckets)
    val buckets = terms
      .select(pmod(hash(col("term")), lit(nb)).as("pt"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val postings = s.read.schema(ArtifactSchemas.postings)
      .parquet(s"$idxPath/postings")
      .filter(col("pt").isin(buckets: _*))
      .join(tombs, Seq("doc_id"), "left_anti")
    val dl = s.read.schema(ArtifactSchemas.dl).parquet(s"$idxPath/dl")
      .join(tombs, Seq("doc_id"), "left_anti")
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    // masked df from the PERSISTED artifact (ensured warm = a meta
    // read + tombstone stamp; the postings decrement pass is paid once
    // per (index, tombstone) state), bucket-pruned like postings.
    // Ensure + stamp re-verify + materializing read run as ONE
    // critical section so a concurrent masked serve with a different
    // tombstone set can never swap the artifact under this one
    val dfTab = readMaskedDfValidated(s, idxPath, tombstones,
        Some(buckets), mOpt = mIdx)
      .join(broadcast(terms), Seq("term"), "left_semi")
    val tfq = postings.join(broadcast(qterms), Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"), col("query_id"))
    val heapSafe = graft.plans.TopK.idRangeSafe(
      dl.select(col("doc_id")), "doc_id", 1L << 25)
    rankMultiBm25Dispatch(
        scoreComponentsAtGrid(componentsOf(tfq, dl, dfTab, stats),
            Seq((k1Micro, bMicro)))
          .drop("k1_micro", "b_micro"),
        heapSafe, MultiBm25K)
      .select(lit(k1Micro).as("k1_micro"), lit(bMicro).as("b_micro"),
        col("query_id"), col("doc_id"), col("bm25"), col("n_terms_hit"),
        col("rk"))
  }

  def q283Bm25DeleteServe(s: SparkSession, dir: String): DataFrame = {
    prepareBm25Index(s, dir)
    val idx = bm25IndexPath(dir)
    // the delete set and the workload both come from the ARTIFACT —
    // the serve reads zero corpus files
    val tombstones = s.read.schema(ArtifactSchemas.dl)
      .parquet(s"$idx/dl").select(col("doc_id"))
      .filter(col("doc_id") % Bm25DeleteMod === Bm25DeleteRem)
      .localCheckpoint()
    // ONE stamp pass doubles as the dead count (rows IS the stamp's
    // first component) — the old separate count() was its own job
    val (tr, tc) = tombstoneDocStamp(tombstones)
    val nDead = tr
    ensureBm25MaskedDf(s, idx, tombstones, stampOpt = Some((tr, tc)))
    val qt = multiBm25QueryTableFrom(
      readMaskedDf(s, idx, tombstones, stampOpt = Some((tr, tc))))
    bm25ServeQueriesFromIndexMasked(s, idx, qt,
        math.round(Round14Queries.Bm25K1 * 1e6),
        math.round(Round14Queries.Bm25B * 1e6), tombstones)
      .drop("k1_micro", "b_micro")
      .withColumn("n_dead", lit(nDead))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The q244 chain over the SURVIVING documents — the oracle IS the
    * filtered-corpus rebuild semantics the mask must reproduce. */
  val q283Sql: String = {
    val filtered = q244Sql.replace("FROM documents)",
      s"FROM documents WHERE doc_id % $Bm25DeleteMod <> $Bm25DeleteRem)")
    val prefix = filtered.substring(0, filtered.indexOf("best AS ("))
    s"""${prefix}best AS (
       |  SELECT query_id, doc_id, bm25, n_terms_hit,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY bm25 DESC, doc_id ASC) AS rk
       |  FROM scored),
       |dead AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_dead
       |  FROM documents WHERE doc_id % $Bm25DeleteMod = $Bm25DeleteRem)
       |SELECT b.query_id, b.doc_id, b.bm25, b.n_terms_hit,
       |       CAST(b.rk AS BIGINT) AS rk, dd.n_dead
       |FROM best b CROSS JOIN dead dd
       |WHERE b.rk <= $MultiBm25K
       |ORDER BY b.query_id, b.rk""".stripMargin
  }

  /** Serve the standard synthesized workload over an EXPLICIT
    * documents relation at a fixed dial — the q290 as-of serving core:
    * the pipeline is the q244 recompute path verbatim (tokenize →
    * dl/stats/df → synthesis from the relation's OWN vocabulary →
    * fold-at-point → rank dispatch), parameterized only by which
    * corpus state it reads, so serving a snapshot read reproduces
    * exactly what the same call produced when that state was live. */
  private[graft] def bm25ServeCorpusAtDial(docs: DataFrame,
      k1Micro: Long, bMicro: Long): DataFrame = {
    val (tfq, dl, dfTab, stats) =
      multiBm25PlumbingDocs(docs, multiBm25QueryTableFrom)
    val heapSafe = graft.plans.TopK.idRangeSafe(
      docs.select(col("doc_id")), "doc_id", 1L << 25)
    rankMultiBm25Dispatch(
        scoreComponentsAtGrid(componentsOf(tfq, dl, dfTab, stats),
            Seq((k1Micro, bMicro)))
          .drop("k1_micro", "b_micro"),
        heapSafe, MultiBm25K)
      .select(col("query_id"), col("doc_id"), col("bm25"),
        col("n_terms_hit"), col("rk"))
  }

  def q281Bm25IndexServe(s: SparkSession, dir: String): DataFrame = {
    // dial from the persisted choice, postings from the persisted
    // index — the fully-amortized serving path: zero sweeps, zero
    // tokenization, partition-pruned postings reads
    prepareBm25ParamsChoice(s, dir)
    val c = bm25ChoiceRead(s, bm25ChoicePath(dir)).getOrElse(
      sys.error("q281: choice artifact vanished after ensure"))
    val m = ensureBm25Index(s, dir,
      (dr, dc) => bm25IndexWrite(s, dir, dr, dc))
    val idxPath = bm25IndexPath(dir)
    // the q273 workload, derived from the ARTIFACT's df table (equal
    // to the corpus-derived synthesis while the artifact is fresh —
    // which the stamp guarantees)
    val qt = multiBm25QueryTableFrom(readIndexDf(s, idxPath))
    bm25ServeQueriesFromIndex(s, idxPath, qt, c.k1Micro, c.bMicro)
      .withColumn("doc_rows", lit(m.docRows))
      .withColumn("doc_content", lit(m.docContent))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The oracle is q273's replay VERBATIM — artifact-served rows must
    * hash-equal the from-the-documents recompute, so an index that
    * dropped, duplicated, or mis-bucketed one posting (or served a
    * stale corpus state) mismatches. */
  val q281Sql: String = q273Sql

  // ---------------------------------------------------------------- q246
  /** q226 through plain SQL — the `/*+ BM25('term', ..., k) */` hint
    * ([[graft.plans.Bm25HintRule]]) over a token view: proof the
    * ranked-retrieval surface needs NO Scala beyond the session
    * extension, the same surface-parity gate q225 gives the
    * set-similarity join and q46 gives argmax. The token view is built
    * with [[TextPrep.tokensCol]] so tokenization is identical to q226
    * by construction; scoring/ranking all happen inside the hint
    * rewrite, which routes through the SAME
    * [[Round14Queries.bm25Rank]] tail. The oracle recomputes the
    * long-form semantics (corpus stats over documents present in the
    * token stream — equal to q226's array form on any corpus without
    * empty-token documents, which this one is; the hint scaladoc
    * documents the edge).
    */
  def q246SqlBm25(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextPrep.tokensCol(col("text"))).as("term"))
      .createOrReplaceTempView("graft_q246_tokens")
    val termArgs = Round14Queries.Bm25Query.map(t => s"'$t'").mkString(", ")
    s.sql(s"""SELECT /*+ BM25($termArgs, ${Round14Queries.Bm25TopK}) */
              |       doc_id, term FROM graft_q246_tokens""".stripMargin)
  }

  private val q246TermList = Round14Queries.Bm25Query.map(t => s"'$t'").mkString(", ")

  val q246Sql: String =
    s"""WITH lists AS (
       |  SELECT doc_id,
       |         list_filter(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' '), x -> x <> '') AS toks
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS term FROM lists),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                 sum(dl) / count(*) AS avgdl FROM dl),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN ($q246TermList)
       |  GROUP BY doc_id, term),
       |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT t.doc_id,
       |         sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
       |             (t.tf * (${Round14Queries.Bm25K1} + 1.0)) /
       |             (t.tf + ${Round14Queries.Bm25K1} *
       |              (1.0 - ${Round14Queries.Bm25B} + ${Round14Queries.Bm25B} * l.dl / s.avgdl))) AS raw,
       |         count(*) AS n_terms_hit
       |  FROM tf t JOIN dfreq d USING (term) JOIN dl l USING (doc_id)
       |  CROSS JOIN stats s
       |  GROUP BY t.doc_id)
       |SELECT doc_id, round(raw, 6) AS bm25,
       |       CAST(n_terms_hit AS BIGINT) AS n_terms_hit
       |FROM scored ORDER BY bm25 DESC, doc_id LIMIT ${Round14Queries.Bm25TopK}""".stripMargin

  // --------------------------------------------------------------- q253
  /** Multi-query BM25 at the SQL surface — the q246-to-q244 analogue
    * of q225 (round-7 verdict item #5): the fleet-sized retrieval
    * join reachable without Scala. The `/*+ BM25_MULTI('view'[, k]) */`
    * hint ([[graft.plans.Bm25MultiHintRule]]) names a registered
    * query TABLE (query_id, term) instead of term literals; the
    * rewrite plans [[multiBm25ScoredFromTokens]] +
    * [[rankMultiBm25Dispatch]] — the exact algebra q244 runs, through
    * the same [[Round14Queries.bm25ScoreKeyed]] core and TopKPerKey
    * heaps — so this gate reuses q244's oracle verbatim. The token
    * view and the synthesized query view stand in for production
    * input relations (the q246 convention).
    */
  def q253SqlMultiBm25(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextPrep.tokensCol(col("text"))).as("term"))
      .createOrReplaceTempView("graft_q253_tokens")
    multiBm25QueryTable(s, dir).createOrReplaceTempView("graft_q253_queries")
    s.sql(s"""SELECT /*+ BM25_MULTI('graft_q253_queries', $MultiBm25K) */
              |       doc_id, term FROM graft_q253_tokens""".stripMargin)
      .orderBy(col("query_id"), col("rk"))
  }

  // ------------------------------------------------------------ registry
  val registry: Seq[Query] = Seq(
    Query("q244_multi_bm25", q244MultiBm25 _, q244Sql),
    Query("q246_sql_bm25", q246SqlBm25 _, q246Sql),
    Query("q248_multi_query_ndcg", q248MultiQueryNdcg _, q248Sql),
    // q253 IS q244 at the SQL surface — identical result contract,
    // so the oracle is shared (the q225/q211 convention)
    Query("q253_sql_multi_bm25", q253SqlMultiBm25 _, q244Sql),
    Query("q271_bm25_params_auto", q271Bm25ParamsAuto _, q271Sql),
    Query("q273_bm25_params_persist", q273Bm25ParamsPersist _, q273Sql),
    Query("q281_bm25_index_serve", q281Bm25IndexServe _, q281Sql),
    Query("q283_bm25_delete_serve", q283Bm25DeleteServe _, q283Sql),
  )
}
