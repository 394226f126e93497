package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables
import graft.ann.Ann

/** Dense-vector similarity search queries over `embeddings`
  * (64-dim float, pre-normalized ⇒ dot = cosine), DuckDB-oracled.
  * Query subset: vec_id % 50 == 0 (10 queries at sf0.01).
  */
object AnnQueries {

  val Dim = 64
  val NHyperplanes = 8
  val QueryMod = 50
  val NearDupCos = 0.4

  private[operators] def emb(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)

  private[operators] def querySubset(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id") % QueryMod === 0)

  // DuckDB: exact double-precision sequential dot of two float lists.
  private def sqlDot(a: String, b: String): String =
    s"(SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest($a) AS x, unnest($b) AS y))"

  // ---------------------------------------------------------------- q21
  /** Brute-force exact cosine top-3 per query vector, ranked by the
    * custom TopKPerKeyExec physical operator (bounded per-partition
    * heaps — O(queries×k) exchange rows instead of a full window sort
    * over O(queries×corpus) pairs). Same oracle as the window form.
    */
  def q21KnnBruteForce(s: SparkSession, dir: String): DataFrame =
    Ann.bruteForceTopKViaOperator(querySubset(s, dir), emb(s, dir), k = 3)
      .select(col("qid"), col("nid"), col("cos"), col("rk"))
      .orderBy(col("qid"), col("rk"))

  val q21Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % $QueryMod = 0),
       |pairs AS (
       |  SELECT q.qid, e.vec_id AS nid,
       |         round(${sqlDot("q.qv", "e.embedding")}, 6) AS cos
       |  FROM q, embeddings e WHERE e.vec_id <> q.qid),
       |best AS (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rk
       |  FROM pairs)
       |SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk FROM best WHERE rk <= 3
       |ORDER BY qid, rk""".stripMargin

  // ---------------------------------------------------------------- q287
  /** CONTRASTIVE HARD-NEGATIVE MINING — the training-data operator
    * behind embedding-model fine-tuning (the SBERT/E5 recipe): for
    * each anchor, the nearest neighbor is the pseudo-positive, and the
    * next-ranked neighbors are HARD negatives — close enough to be
    * informative — EXCEPT those inside the near-duplicate band
    * (cos ≥ [[NearDupCos]], the corpus's q24 dup threshold), which are
    * likely unlabeled positives and would poison the loss as false
    * negatives; dup-band rows at rank ≥ 2 are dropped entirely
    * (neither pos nor neg).
    *
    * Exact top-[[MiningK]] per anchor via the q21 brute-force core
    * ([[Ann.bruteForceTopKViaOperator]] — bounded per-key heaps, |Q|
    * broadcast, never queries×corpus through a sort); the role split
    * is row-local. The oracle extends the q21 chain with the role CASE
    * and the dup-band filter, so a miner that mis-ranked, kept a
    * dup-band negative, or dropped a legitimate one hash-mismatches.
    *
    * 100 TB shape: the exact scan is the AUDIT form; the production
    * candidate generator swaps to the IVF-PQ probe with the role/
    * exclusion tail unchanged (the q238/q262 candidate-swap story).
    */
  val MiningK = 8

  /** The mining tail over ANY candidate generator's ranked output —
    * shared by q287 (exact candidates) and the spec's planted-dup
    * fixture; a production IVF-PQ candidate swap reuses it unchanged. */
  private[graft] def hardNegativesCore(queries: DataFrame,
      corpus: DataFrame, k: Int): DataFrame =
    Ann.bruteForceTopKViaOperator(queries, corpus, k)
      .select(col("qid").as("anchor"), col("nid"), col("cos"), col("rk"))
      .withColumn("role", when(col("rk") === 1, lit("pos"))
        .when(col("cos") < NearDupCos, lit("hard_neg")))
      .filter(col("role").isNotNull)

  def q287HardNegativeMining(s: SparkSession, dir: String): DataFrame =
    hardNegativesCore(querySubset(s, dir), emb(s, dir), MiningK)
      .orderBy(col("anchor"), col("rk"))

  val q287Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % $QueryMod = 0),
       |pairs AS (
       |  SELECT q.qid, e.vec_id AS nid,
       |         round(${sqlDot("q.qv", "e.embedding")}, 6) AS cos
       |  FROM q, embeddings e WHERE e.vec_id <> q.qid),
       |best AS (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rk
       |  FROM pairs)
       |SELECT qid AS anchor, nid, cos, CAST(rk AS BIGINT) AS rk,
       |       CASE WHEN rk = 1 THEN 'pos' ELSE 'hard_neg' END AS role
       |FROM best
       |WHERE rk <= $MiningK AND (rk = 1 OR cos < $NearDupCos)
       |ORDER BY anchor, rk""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Int8-quantized cosine top-3 ([[Ann.quantizedTopK]]): the
    * compressed-vector variant of q21 — symmetric per-vector int8
    * quantization, exact long integer dots/norms, one sqrt+divide per
    * pair. The oracle replays the quantization arithmetic
    * (round-half-away-from-zero of v·127/maxabs, identical operation
    * order) over the same float lists, so the full approximate family
    * is hash-gated, not just spec'd. k and ranking semantics match q21
    * (round-6 cosine, nid tie-break).
    */
  def q89QuantizedTopK(s: SparkSession, dir: String): DataFrame =
    Ann.quantizedTopK(querySubset(s, dir), emb(s, dir), k = 3)
      .select(col("qid"), col("nid"), col("qcos"), col("rk"))
      .orderBy(col("qid"), col("rk"))

  val q89Sql: String =
    s"""WITH dims AS (
       |  SELECT vec_id, j, CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE) AS v
       |  FROM embeddings, range($Dim) t(j)),
       |mx AS (SELECT vec_id, max(abs(v)) AS maxabs FROM dims GROUP BY vec_id),
       |qvec AS (
       |  SELECT d.vec_id, d.j,
       |         CAST(CASE WHEN m.maxabs > 0.0 THEN round(d.v * 127.0 / m.maxabs, 0)
       |                   ELSE 0.0 END AS BIGINT) AS q
       |  FROM dims d JOIN mx m USING (vec_id)),
       |nrm AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS nrm FROM qvec GROUP BY vec_id),
       |qids AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % $QueryMod = 0),
       |dots AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(sum(a.q * b.q) AS BIGINT) AS dp
       |  FROM qvec a JOIN qids ON a.vec_id = qid
       |  JOIN qvec b ON a.j = b.j AND b.vec_id <> a.vec_id
       |  GROUP BY a.vec_id, b.vec_id),
       |scored AS (
       |  SELECT d.qid, d.nid,
       |         round(CASE WHEN na.nrm * nb.nrm > 0
       |                    THEN CAST(d.dp AS DOUBLE) / sqrt(CAST(na.nrm * nb.nrm AS DOUBLE))
       |                    ELSE 0.0 END, 6) AS qcos
       |  FROM dots d JOIN nrm na ON na.vec_id = d.qid
       |  JOIN nrm nb ON nb.vec_id = d.nid),
       |best AS (
       |  SELECT qid, nid, qcos,
       |         row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, nid ASC) AS rk
       |  FROM scored)
       |SELECT qid, nid, qcos, CAST(rk AS BIGINT) AS rk FROM best WHERE rk <= 3
       |ORDER BY qid, rk""".stripMargin

  // ---------------------------------------------------------------- q20
  /** OR-amplified multi-band sign-LSH top-1 (6 bands × 4 hyperplanes —
    * narrow bands because the synthetic embeddings have weak NN
    * structure; wider 6-bit bands recalled only 0.2 of exact top-1s):
    * the recall fix for q23's single-band dropout — candidates share a
    * bucket in ANY band; exact re-score; deterministic argmax.
    */
  val LshBands = 6
  val LshRowsPerBand = 4

  def q20LshTop1Banded(s: SparkSession, dir: String): DataFrame =
    Ann.lshTop1Banded(querySubset(s, dir), emb(s, dir), LshBands, LshRowsPerBand, Dim)
      .select(col("qid"), col("nid"), col("cos"))
      .orderBy(col("qid"))

  /** Shared oracle CTE chain for the banded sign-LSH family: hyperplane
    * projections → per-band buckets → distinct candidate (qid, nid)
    * pairs. Ends with `cand`; used by q20 (top-1 over candidates) and
    * q99 (candidate-set recall).
    */
  private val bandedCandCtes: String = {
    val total = LshBands * LshRowsPerBand
    s"""dims AS (
       |  SELECT vec_id, j, CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE) AS v
       |  FROM embeddings, range($Dim) t(j)),
       |hp AS (
       |  SELECT h, j,
       |         CASE WHEN substr(md5(h || '|' || j), 1, 1) IN ('8','9','a','b','c','d','e','f')
       |              THEN 1.0 ELSE -1.0 END AS s
       |  FROM range($total) a(h), range($Dim) b(j)),
       |proj AS (
       |  SELECT d.vec_id, hp.h, sum(hp.s * d.v) AS p
       |  FROM dims d JOIN hp ON hp.j = d.j
       |  GROUP BY d.vec_id, hp.h),
       |bkt AS (
       |  SELECT vec_id, CAST(h // $LshRowsPerBand AS INTEGER) AS band,
       |         CAST(sum(CASE WHEN p > 0 THEN (1 << (h % $LshRowsPerBand)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id, h // $LshRowsPerBand),
       |q AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % $QueryMod = 0),
       |cand AS (
       |  SELECT DISTINCT qb.vec_id AS qid, cb.vec_id AS nid
       |  FROM bkt qb JOIN q ON qb.vec_id = q.qid
       |       JOIN bkt cb ON cb.band = qb.band AND cb.bucket = qb.bucket
       |  WHERE cb.vec_id <> qb.vec_id)""".stripMargin
  }

  val q20Sql: String =
    s"""WITH $bandedCandCtes,
       |scored AS (
       |  SELECT c.qid, c.nid,
       |         round(${sqlDot("eq.embedding", "en.embedding")}, 6) AS cos
       |  FROM cand c JOIN embeddings eq ON eq.vec_id = c.qid
       |       JOIN embeddings en ON en.vec_id = c.nid),
       |best AS (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rk
       |  FROM scored)
       |SELECT qid, nid, cos FROM best WHERE rk = 1 ORDER BY qid""".stripMargin

  // ---------------------------------------------------------------- q99
  /** Candidate-set recall@k of the banded LSH index against exact
    * brute-force top-k — the evaluation loop any ANN deployment runs
    * before trusting an index. Exact side: the bounded-heap
    * TopKPerKeyExec ranking ([[Ann.bruteForceTopKViaOperator]]);
    * approximate side: [[Ann.bandedCandidateIds]] (ids only, no
    * scoring — recall of the CANDIDATE set upper-bounds recall of any
    * top-k it could produce). LEFT JOIN + grouped hit-count per query;
    * at scale both sides are id-pair streams keyed by qid, so the
    * join and the aggregate share one qid-hashed exchange.
    */
  val RecallK = 10

  def q99AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val hits = col("hit").isNotNull.cast("long")
    Ann.bruteForceTopKViaOperator(querySubset(s, dir), emb(s, dir), RecallK)
      .select(col("qid"), col("nid"))
      .join(
        Ann.bandedCandidateIds(querySubset(s, dir), emb(s, dir),
            LshBands, LshRowsPerBand, Dim)
          .withColumn("hit", lit(1L)),
        Seq("qid", "nid"), "left_outer")
      .groupBy(col("qid"))
      .agg(sum(hits).as("n_hit"),
        round(sum(hits) / lit(RecallK.toDouble), 6).as("recall"))
      .orderBy(col("qid"))
  }

  val q99Sql: String =
    s"""WITH $bandedCandCtes,
       |topk AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.qid, e.vec_id AS nid,
       |           row_number() OVER (PARTITION BY q.qid
       |             ORDER BY round(${sqlDot("eq.embedding", "e.embedding")}, 6) DESC, e.vec_id ASC) AS rk
       |    FROM q JOIN embeddings eq ON eq.vec_id = q.qid
       |    CROSS JOIN embeddings e
       |    WHERE e.vec_id <> q.qid)
       |  WHERE rk <= $RecallK)
       |SELECT t.qid, CAST(count(c.nid) AS BIGINT) AS n_hit,
       |       round(count(c.nid) / ${RecallK}.0, 6) AS recall
       |FROM topk t LEFT JOIN cand c ON c.qid = t.qid AND c.nid = t.nid
       |GROUP BY t.qid ORDER BY t.qid""".stripMargin

  // --------------------------------------------------------------- q250
  /** Multi-probe banded LSH top-1 ([[Ann.lshTop1MultiProbe]], Lv et
    * al. VLDB'07): q20's index probed at the query's bucket PLUS its
    * single-bit perturbations per band — recall bought with
    * query-side fan-out (bands·(rows+1) probe rows per query) instead
    * of more bands (more index). The corpus-side artifact is
    * IDENTICAL to q20's; the spec pins candidates ⊇ q20's and
    * coverage/recall monotonicity. Same output contract as q20.
    */
  def q250MultiProbeLsh(s: SparkSession, dir: String): DataFrame =
    Ann.lshTop1MultiProbe(querySubset(s, dir), emb(s, dir),
        LshBands, LshRowsPerBand, Dim)
      .select(col("qid"), col("nid"), col("cos"))
      .orderBy(col("qid"))

  val q250Sql: String =
    s"""WITH $bandedCandCtes,
       |probe AS (
       |  SELECT qb.vec_id AS qid, qb.band,
       |         CASE WHEN t.j = 0 THEN qb.bucket
       |              ELSE xor(qb.bucket, CAST(1 << (t.j - 1) AS BIGINT)) END AS bucket
       |  FROM bkt qb JOIN q ON qb.vec_id = q.qid,
       |       range(${LshRowsPerBand + 1}) t(j)),
       |candm AS (
       |  SELECT DISTINCT p.qid, cb.vec_id AS nid
       |  FROM probe p JOIN bkt cb ON cb.band = p.band AND cb.bucket = p.bucket
       |  WHERE cb.vec_id <> p.qid),
       |scoredm AS (
       |  SELECT c.qid, c.nid,
       |         round(${sqlDot("eq.embedding", "en.embedding")}, 6) AS cos
       |  FROM candm c JOIN embeddings eq ON eq.vec_id = c.qid
       |       JOIN embeddings en ON en.vec_id = c.nid),
       |bestm AS (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rk
       |  FROM scoredm)
       |SELECT qid, nid, cos FROM bestm WHERE rk = 1 ORDER BY qid""".stripMargin

  // ---------------------------------------------------------------- q22
  /** Sign-LSH bucket assignment for every vector (8 md5-derived
    * Rademacher hyperplanes → 8-bit bucket).
    */
  def q22LshBuckets(s: SparkSession, dir: String): DataFrame =
    Ann.signLshBuckets(emb(s, dir), "vec_id", "embedding", NHyperplanes, Dim)
      .orderBy(col("vec_id"))

  val q22Sql: String =
    s"""WITH dims AS (
       |  SELECT vec_id, j, CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE) AS v
       |  FROM embeddings, range($Dim) t(j)),
       |hp AS (
       |  SELECT h, j,
       |         CASE WHEN substr(md5(h || '|' || j), 1, 1) IN ('8','9','a','b','c','d','e','f')
       |              THEN 1.0 ELSE -1.0 END AS s
       |  FROM range($NHyperplanes) a(h), range($Dim) b(j)),
       |proj AS (
       |  SELECT d.vec_id, hp.h, sum(hp.s * d.v) AS p
       |  FROM dims d JOIN hp ON hp.j = d.j
       |  GROUP BY d.vec_id, hp.h)
       |SELECT vec_id, CAST(sum(CASE WHEN p > 0 THEN (1 << h) ELSE 0 END) AS BIGINT) AS bucket
       |FROM proj GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q23
  /** LSH-bucketed approximate top-1 for the query subset: candidates
    * share the query's bucket; exact re-score; singleton buckets yield
    * no row.
    */
  def q23LshTop1(s: SparkSession, dir: String): DataFrame =
    Ann.lshTop1(querySubset(s, dir), emb(s, dir), NHyperplanes, Dim)
      .select(col("qid"), col("nid"), col("cos"))
      .orderBy(col("qid"))

  val q23Sql: String =
    s"""WITH dims AS (
       |  SELECT vec_id, j, CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE) AS v
       |  FROM embeddings, range($Dim) t(j)),
       |hp AS (
       |  SELECT h, j,
       |         CASE WHEN substr(md5(h || '|' || j), 1, 1) IN ('8','9','a','b','c','d','e','f')
       |              THEN 1.0 ELSE -1.0 END AS s
       |  FROM range($NHyperplanes) a(h), range($Dim) b(j)),
       |proj AS (
       |  SELECT d.vec_id, hp.h, sum(hp.s * d.v) AS p
       |  FROM dims d JOIN hp ON hp.j = d.j
       |  GROUP BY d.vec_id, hp.h),
       |bkt AS (
       |  SELECT vec_id, CAST(sum(CASE WHEN p > 0 THEN (1 << h) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id),
       |q AS (SELECT e.vec_id AS qid, e.embedding AS qv, b.bucket
       |      FROM embeddings e JOIN bkt b USING (vec_id) WHERE e.vec_id % $QueryMod = 0),
       |cand AS (
       |  SELECT q.qid, e.vec_id AS nid,
       |         round(${sqlDot("q.qv", "e.embedding")}, 6) AS cos
       |  FROM q JOIN bkt cb ON cb.bucket = q.bucket
       |         JOIN embeddings e ON e.vec_id = cb.vec_id
       |  WHERE e.vec_id <> q.qid),
       |best AS (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rk
       |  FROM cand)
       |SELECT qid, nid, cos FROM best WHERE rk = 1 ORDER BY qid""".stripMargin

  // ---------------------------------------------------------------- q43
  /** IVF ANN with the build/probe split: [[prepareIvf]] is the OFFLINE
    * indexing job (KMeans fit + inverted file persisted under target/,
    * once per JVM per sf dir — never inside a timed or repeated query
    * path); q43 is the PROBE — reads the persisted index, ranks
    * centroids, scans only the probed clusters, exact re-score, top-k.
    * The oracle replays the probe from the SAME materialized index
    * parquet (read_parquet over assignments/centroids), so the entire
    * query-time path — centroid ranking, cluster pruning join,
    * re-scoring, deterministic ranking — is hash-verified; only the
    * KMeans fit itself is outside the oracle (not SQL-expressible),
    * which is exactly the offline half.
    */
  val IvfClusters = 16
  val IvfNprobe = 4
  val IvfK = 3

  // index dir keyed by [[PathTag.tagFor]] (canonical-path hash tag —
  // see its scaladoc for the basename/sanitization collision story).
  private def ivfIndexPath(sfDir: String): String =
    new java.io.File(s"target/ivf-index/${PathTag.tagFor(sfDir)}").getAbsolutePath

  private val ivfBuilt = scala.collection.mutable.HashSet.empty[String]

  /** Idempotent offline index build for `dir`; returns the index path.
    * The memo is per-JVM, so every new process rebuilds — the build is
    * cross-process fenced ([[graft.io.ArtifactClaim]]): two JVMs
    * cold-building the same index collide loudly, never interleave
    * the overwrite. */
  def prepareIvf(s: SparkSession, dir: String): String = ivfBuilt.synchronized {
    val idx = ivfIndexPath(dir)
    if (!ivfBuilt.contains(idx)) {
      graft.io.ArtifactClaim.withClaim(s, idx, "ivf build") {
        Ann.ivfBuild(emb(s, dir), idx, IvfClusters)
      }
      ivfBuilt.add(idx)
    }
    idx
  }

  def q43IvfTopK(s: SparkSession, dir: String): DataFrame = {
    val idx = prepareIvf(s, dir)
    Ann.ivfProbe(querySubset(s, dir), idx, IvfK, IvfNprobe)
      .select(col("qid"), col("nid"), col("cos"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  // Generated PER DUMP DIR (Verify passes its actual sfDir through
  // the registry's oracle), so the oracle always reads the same index
  // directory `prepareIvf` materializes for the gate run — baking the
  // path at class-load time from a hardcoded sf dir + the JVM's CWD
  // made any gate run with a different sfDir or working directory read
  // a missing or stale index while the engine built a fresh one.
  def q43Sql(sfDir: String): String = {
    val idx = ivfIndexPath(sfDir)
    s"""WITH cent AS (
       |  SELECT CAST(cluster AS INTEGER) AS cluster, centroid,
       |         (SELECT sum(y * y) FROM unnest(centroid) t(y)) AS cnorm
       |  FROM read_parquet('$idx/centroids/*.parquet')),
       |asg AS (
       |  SELECT vec_id, embedding, CAST(cluster AS INTEGER) AS cluster
       |  FROM read_parquet('$idx/assignments/*/*.parquet', hive_partitioning=1)),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % $QueryMod = 0),
       |dists AS (
       |  SELECT q.qid, c.cluster,
       |         round(c.cnorm - 2 * ${sqlDot("q.qv", "c.centroid")}, 6) AS dist
       |  FROM q, cent c),
       |probes AS (
       |  SELECT qid, cluster FROM (
       |    SELECT qid, cluster,
       |           row_number() OVER (PARTITION BY qid ORDER BY dist ASC, cluster ASC) AS pr
       |    FROM dists) WHERE pr <= $IvfNprobe),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS nid,
       |         round(${sqlDot("eq.embedding", "a.embedding")}, 6) AS cos
       |  FROM probes p
       |  JOIN asg a USING (cluster)
       |  JOIN embeddings eq ON eq.vec_id = p.qid
       |  WHERE a.vec_id <> p.qid),
       |best AS (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rk
       |  FROM cand)
       |SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk FROM best WHERE rk <= $IvfK
       |ORDER BY qid, rk""".stripMargin
  }

  // --------------------------------------------------------------- q232
  /** Product-quantization ADC top-3 ([[Ann.pqBuild]]/[[Ann.pqTopK]]):
    * the compressed-domain rung of the ANN ladder — the corpus scan
    * reads m=8 small codes per vector (the 100 TB memory argument:
    * 8 bytes/vector instead of 256), scores are m integer-micro table
    * lookups summed exactly, ranking is (adc desc, nid asc). The
    * oracle replays the LUT + ADC sum over the MATERIALIZED codebooks
    * and codes (the q43 convention: the offline build is an artifact,
    * the probe math is what's gated). Approximation quality is gated
    * separately by the spec's recall-vs-q21 floor (the q99 pattern).
    */
  val PqM = 8
  val PqCodes = 16
  val PqTopK = 3

  private def pqIndexPath(sfDir: String): String =
    new java.io.File(s"target/pq-index/${PathTag.tagFor(sfDir)}").getAbsolutePath

  private val pqBuilt = scala.collection.mutable.HashSet.empty[String]

  /** Idempotent offline PQ build for `dir`; returns the index path.
    * Cross-process fenced like [[prepareIvf]]. */
  def preparePq(s: SparkSession, dir: String): String = pqBuilt.synchronized {
    val idx = pqIndexPath(dir)
    if (!pqBuilt.contains(idx)) {
      graft.io.ArtifactClaim.withClaim(s, idx, "pq build") {
        Ann.pqBuild(emb(s, dir), idx, PqM, PqCodes)
      }
      pqBuilt.add(idx)
    }
    idx
  }

  def q232PqTopK(s: SparkSession, dir: String): DataFrame = {
    val idx = preparePq(s, dir)
    Ann.pqTopK(querySubset(s, dir), idx, PqTopK)
      .select(col("qid"), col("nid"), col("adc_micro"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  // generated per dump dir, same reasoning as q43Sql
  def q232Sql(sfDir: String): String = {
    val idx = pqIndexPath(sfDir)
    val sw = Dim / PqM
    s"""WITH cb AS (
       |  SELECT CAST(sub AS INTEGER) AS sub, CAST(code AS INTEGER) AS code,
       |         centroid
       |  FROM read_parquet('$idx/codebooks/*.parquet')),
       |codes AS (
       |  SELECT vec_id,
       |         CAST(generate_subscripts(codes, 1) - 1 AS INTEGER) AS sub,
       |         CAST(unnest(codes) AS INTEGER) AS code
       |  FROM read_parquet('$idx/codes/*.parquet')),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      WHERE vec_id % $QueryMod = 0),
       |lut AS (
       |  SELECT q.qid, cb.sub, cb.code,
       |         CAST(round(1e6 * (
       |           SELECT sum(CAST(x AS DOUBLE) * y)
       |           FROM (SELECT unnest(q.qv[cb.sub * $sw + 1 : cb.sub * $sw + $sw]) AS x,
       |                        unnest(cb.centroid) AS y)), 0) AS BIGINT) AS pd
       |  FROM q, cb),
       |scored AS (
       |  SELECT l.qid, c.vec_id AS nid, sum(l.pd) AS adc_micro
       |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
       |  WHERE c.vec_id <> l.qid
       |  GROUP BY l.qid, c.vec_id),
       |best AS (
       |  SELECT qid, nid, adc_micro,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY adc_micro DESC, nid ASC) AS rk
       |  FROM scored)
       |SELECT qid, nid, CAST(adc_micro AS BIGINT) AS adc_micro,
       |       CAST(rk AS BIGINT) AS rk
       |FROM best WHERE rk <= $PqTopK
       |ORDER BY qid, rk""".stripMargin
  }

  // --------------------------------------------------------------- q233
  /** PQ shortlist + exact re-rank — how PQ actually serves in
    * production: the compressed-domain ADC scan is the FILTER (top-ℓ
    * shortlist from codes alone), the exact float rescore is the
    * VERIFY (full vectors fetched only for |Q|·ℓ shortlist rows — at
    * lake scale a point-lookup batch against the vector store, never a
    * corpus scan). The same candidate/verify discipline as q15's
    * LSH→Jaccard and q211's prefix→intersection, instantiated for the
    * compressed-domain ANN rung; the spec pins the recall uplift this
    * buys over q232's pure-ADC ranking.
    */
  val PqShortlist = 20

  def q233PqRerank(s: SparkSession, dir: String): DataFrame = {
    val idx = preparePq(s, dir)
    graft.functions.VectorFunctions.register(s)
    val e = emb(s, dir)
    val shortlist = Ann.pqTopK(querySubset(s, dir), idx, PqShortlist)
      .select(col("qid"), col("nid"))
    val rescored = shortlist
      .join(e.select(col("vec_id").as("qid"), col("embedding").as("qe")),
        Seq("qid"))
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")),
        Seq("nid"))
      .select(col("qid"), col("nid"),
        round(graft.functions.VectorFunctions.dot(col("qe"), col("ne")), 6)
          .as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid").asc)
    rescored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= PqTopK)
      .select(col("qid"), col("nid"), col("cos"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  def q233Sql(sfDir: String): String = {
    val idx = pqIndexPath(sfDir)
    val sw = Dim / PqM
    s"""WITH cb AS (
       |  SELECT CAST(sub AS INTEGER) AS sub, CAST(code AS INTEGER) AS code,
       |         centroid
       |  FROM read_parquet('$idx/codebooks/*.parquet')),
       |codes AS (
       |  SELECT vec_id,
       |         CAST(generate_subscripts(codes, 1) - 1 AS INTEGER) AS sub,
       |         CAST(unnest(codes) AS INTEGER) AS code
       |  FROM read_parquet('$idx/codes/*.parquet')),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      WHERE vec_id % $QueryMod = 0),
       |lut AS (
       |  SELECT q.qid, cb.sub, cb.code,
       |         CAST(round(1e6 * (
       |           SELECT sum(CAST(x AS DOUBLE) * y)
       |           FROM (SELECT unnest(q.qv[cb.sub * $sw + 1 : cb.sub * $sw + $sw]) AS x,
       |                        unnest(cb.centroid) AS y)), 0) AS BIGINT) AS pd
       |  FROM q, cb),
       |scored AS (
       |  SELECT l.qid, c.vec_id AS nid, sum(l.pd) AS adc_micro
       |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
       |  WHERE c.vec_id <> l.qid
       |  GROUP BY l.qid, c.vec_id),
       |shortlist AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY adc_micro DESC, nid ASC) AS srk
       |    FROM scored) AS s WHERE srk <= $PqShortlist),
       |rescored AS (
       |  SELECT s.qid, s.nid,
       |         round(${sqlDot("eq.embedding", "en.embedding")}, 6) AS cos
       |  FROM shortlist s
       |  JOIN embeddings eq ON eq.vec_id = s.qid
       |  JOIN embeddings en ON en.vec_id = s.nid),
       |best AS (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY cos DESC, nid ASC) AS rk
       |  FROM rescored)
       |SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk
       |FROM best WHERE rk <= $PqTopK
       |ORDER BY qid, rk""".stripMargin
  }

  // ---------------------------------------------------------------- q47
  /** Per-label embedding centroids in LONG form (label, j, m) — the
    * class-centroid computation every embedding-space curation pass
    * needs (nearest-centroid labeling, outlier distance, per-class
    * drift). Shape at scale: posexplode → ONE partially-aggregated
    * shuffle on (label, j) — dimension-parallel, no vector collects;
    * the long form also avoids engine-specific array re-assembly in
    * the oracle compare. 6dp rounding for cross-engine float-sum
    * stability (the repo-wide contract).
    */
  def q47EmbeddingCentroids(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("j", "v")))
      .groupBy(col("label"), col("j"))
      .agg(round(avg(col("v").cast("double")), 6).as("m"))
      .orderBy(col("label"), col("j"))

  val q47Sql: String =
    s"""WITH dims AS (
       |  SELECT label, j, CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE) AS v
       |  FROM embeddings, range($Dim) t(j))
       |SELECT label, CAST(j AS INTEGER) AS j, round(avg(v), 6) AS m
       |FROM dims GROUP BY label, j ORDER BY label, j""".stripMargin

  // ---------------------------------------------------------------- q49
  /** Nearest-centroid labeling: every embedding scored against each
    * class centroid (q47's 6dp-rounded values — the shared contract
    * that keeps the oracle exact) by dot product, best label per
    * vector under the deterministic (dot desc, label asc) rank. The
    * scale shape is the ANN-query pattern in miniature: centroids are
    * tiny (labels × dim), so they assemble into arrays and BROADCAST;
    * the corpus is scanned once and scored with the codegen'd
    * [[graft.functions.VectorFunctions.dotD]], and the per-vector
    * argmax is a PARTIAL-AGGREGATED struct-max — (cos, −label)
    * lexicographic max ≡ (cos desc, label asc) rank-1 — so the
    * exchange carries one combined row per vector per partition, not
    * the corpus×labels scored stream a window rank would shuffle. The
    * confusion signal (true label vs predicted) is the standard
    * embedding-space curation diagnostic.
    */
  /** q47's long-form centroids assembled into broadcastable arrays —
    * the tiny (labels × dim) side of every centroid-scoring query.
    */
  private[graft] def centroidArrays(s: SparkSession, dir: String): DataFrame =
    q47EmbeddingCentroids(s, dir)
      .groupBy(col("label").as("c_label"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("m")))),
        x => x.getField("m")).as("centroid"))

  def q49NearestCentroid(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val centArr = centroidArrays(s, dir)
    emb(s, dir)
      .crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("label"), col("c_label"),
        round(graft.functions.VectorFunctions.dotD(
          col("embedding").cast("array<double>"), col("centroid")), 6).as("cos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(struct(col("cos"), (-col("c_label")).as("neg_label"))).as("best"))
      .select(col("vec_id"), col("label").as("true_label"),
        (-col("best.neg_label")).cast("int").as("pred_label"),
        col("best.cos").as("cos"))
      .orderBy(col("vec_id"))
  }

  val q49Sql: String =
    s"""WITH dims AS (
       |  SELECT vec_id, label, j, CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE) AS v
       |  FROM embeddings, range($Dim) t(j)),
       |cent AS (
       |  SELECT label AS c_label, j, round(avg(v), 6) AS m
       |  FROM dims GROUP BY label, j),
       |dots AS (
       |  SELECT d.vec_id, d.label, c.c_label, round(sum(d.v * c.m), 6) AS cos
       |  FROM dims d JOIN cent c USING (j)
       |  GROUP BY d.vec_id, d.label, c.c_label),
       |best AS (
       |  SELECT vec_id, label, c_label, cos,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label ASC) AS rk
       |  FROM dots)
       |SELECT vec_id, label AS true_label, c_label AS pred_label, cos
       |FROM best WHERE rk = 1 ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- q102
  /** SemDeDup-style semantic dedup verdicts
    * ([[graft.ann.Ann.semanticDedupVerdicts]]): nearest-centroid
    * bucketing (the q49 assignment, argmax as a partial-aggregated
    * struct-max over broadcast centroids) followed by within-cluster
    * cosine pruning — a vector is `semantic_dup` iff an earlier
    * (lower-id) vector in its cluster is within the threshold. On this
    * corpus the bucketing cuts candidate pairs ~10× (12,844 of 124,750
    * at sf0.01); at scale the cut is n²→n²/C with C sized to the
    * corpus. The assignment is localCheckpointed: it feeds both join
    * sides and the final verdict join, and at 100 TB it IS the
    * persisted cluster artifact (the IVF inverted file with k chosen
    * for dedup granularity).
    */
  val SemDedupCos = 0.3

  def q102SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val assigned = emb(s, dir)
      .crossJoin(broadcast(centroidArrays(s, dir)))
      .select(col("vec_id"), col("embedding"),
        round(graft.functions.VectorFunctions.dotD(
          col("embedding").cast("array<double>"), col("centroid")), 6).as("cos"),
        col("c_label"))
      .groupBy(col("vec_id"), col("embedding"))
      .agg(max(struct(col("cos"), (-col("c_label")).as("neg_label"))).as("best"))
      .select(col("vec_id"),
        (-col("best.neg_label")).cast("int").as("cluster"), col("embedding"))
      .localCheckpoint()
    Ann.semanticDedupVerdicts(assigned, SemDedupCos)
      .orderBy(col("vec_id"))
  }

  val q102Sql: String =
    s"""WITH dims AS (
       |  SELECT vec_id, label, j, CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE) AS v
       |  FROM embeddings, range($Dim) t(j)),
       |cent AS (
       |  SELECT label AS c_label, j, round(avg(v), 6) AS m
       |  FROM dims GROUP BY label, j),
       |dots AS (
       |  SELECT d.vec_id, c.c_label, round(sum(d.v * c.m), 6) AS cos
       |  FROM dims d JOIN cent c USING (j)
       |  GROUP BY d.vec_id, c.c_label),
       |best AS (
       |  SELECT vec_id, c_label AS cl FROM (
       |    SELECT vec_id, c_label,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY cos DESC, c_label ASC) AS rk
       |    FROM dots) WHERE rk = 1),
       |pairs AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b
       |  FROM best a JOIN best b ON a.cl = b.cl AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id
       |  WHERE round(${sqlDot("ea.embedding", "eb.embedding")}, 6) >= $SemDedupCos),
       |dup AS (SELECT b, min(a) AS dup_of FROM pairs GROUP BY b)
       |SELECT s.vec_id, CAST(s.cl AS INTEGER) AS cluster,
       |       CASE WHEN d.dup_of IS NOT NULL THEN 'semantic_dup'
       |            ELSE 'kept' END AS verdict,
       |       d.dup_of
       |FROM best s LEFT JOIN dup d ON d.b = s.vec_id
       |ORDER BY s.vec_id""".stripMargin

  // --------------------------------------------------------------- q106
  /** Embedding-space outlier detection: per-dimension corpus z-scores,
    * flagging vectors with any |z| > 3 — the curation pass that drops
    * corrupted/degenerate embeddings before clustering or ANN-index
    * builds (a bad batch of NaN-adjacent or clipped vectors poisons
    * centroids far upstream of any similarity query).
    *
    * Exactness chain: each float is quantized to a micro-unit long
    * (identical in both engines: the float→double widening is exact
    * and round-half-up agrees), so Σq and Σq² are exact integer sums —
    * per-dim mean/std are then deterministic doubles in ANY reduce
    * order. Scale shape: the stats pass is one partial-agged exchange
    * on 64 dim keys; the scoring pass is SHUFFLE-FREE — stats assemble
    * into a 1-row broadcast of (mean, std) structs and each vector is
    * scored in place with zip_with/filter/array_max (all codegen
    * array ops), so the corpus is scanned exactly twice and never
    * re-partitioned. Zero-variance dims score 0 by contract (guarded,
    * not NaN). Quantization bound: Σq² ≈ n·10¹² must stay under 2⁶³ —
    * holds to n ≈ 9×10⁶ vectors per dim at micro-units; shrink the
    * scale constant for larger corpora (same contract as
    * [[graft.graph.GraphOps.pageRankScaled]]).
    */
  val OutlierZ = 3.0
  val QuantScale = 1000000L

  def q106EmbeddingOutliers(s: SparkSession, dir: String): DataFrame = {
    val dims = emb(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "v")))
      .select(col("j"),
        round(col("v").cast("double") * QuantScale).cast("long").as("q"))
    // Σq² overflows 2⁶³ past MaxRowsPerDim rows (q² ≤ QuantScale²) —
    // detect via the COUNT (exact regardless of any wrap) and fail
    // loudly in-plan, zero extra jobs; same contract pageRankScaled
    // enforces with its require.
    val maxRows = Long.MaxValue / (QuantScale * QuantScale)
    val stats = dims.groupBy(col("j"))
      .agg(sum(col("q")).as("sq"), sum(col("q") * col("q")).as("sqq"),
        count(lit(1)).as("n"))
      .select(col("j"),
        when(col("n") <= maxRows, col("sq").cast("double") / col("n"))
          .otherwise(raise_error(concat(
            lit(s"q106: per-dim row count exceeds $maxRows — sum(q^2) " +
              "would overflow; shrink QuantScale (n="),
            col("n").cast("string"), lit(")")))).as("m"),
        sqrt((col("sqq").cast("double")
          - col("sq").cast("double") * col("sq").cast("double") / col("n"))
          / col("n")).as("s"))
    val statsArr = stats
      .agg(transform(array_sort(collect_list(struct(col("j"), col("m"), col("s")))),
        x => struct(x.getField("m").as("m"), x.getField("s").as("s"))).as("ms"))
    val az = zip_with(col("embedding"), col("ms"), (v, x) =>
      when(x.getField("s") === 0d, lit(0.0))
        .otherwise(abs((round(v.cast("double") * QuantScale) - x.getField("m"))
          / x.getField("s"))))
    emb(s, dir).crossJoin(broadcast(statsArr))
      .select(col("vec_id"), az.as("az"))
      .select(col("vec_id"),
        size(filter(col("az"), z => z > OutlierZ)).cast("long").as("n_outlier_dims"),
        round(array_max(col("az")), 6).as("max_abs_z"))
      .withColumn("is_outlier", col("n_outlier_dims") > 0)
      .orderBy(col("vec_id"))
  }

  val q106Sql: String =
    s"""WITH dims AS (
       |  SELECT vec_id, j,
       |    CAST(round(CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE) * $QuantScale, 0)
       |         AS BIGINT) AS q
       |  FROM embeddings, range($Dim) t(j)),
       |st AS (
       |  SELECT j, CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q * q) AS BIGINT) AS sqq,
       |         count(*) AS n
       |  FROM dims GROUP BY j),
       |ms AS (
       |  SELECT j, CAST(sq AS DOUBLE) / n AS m,
       |    sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n) / n) AS s
       |  FROM st),
       |z AS (
       |  SELECT d.vec_id,
       |    CASE WHEN ms.s = 0 THEN 0.0
       |         ELSE abs((CAST(d.q AS DOUBLE) - ms.m) / ms.s) END AS az
       |  FROM dims d JOIN ms USING (j))
       |SELECT vec_id,
       |  CAST(sum(CASE WHEN az > $OutlierZ THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier_dims,
       |  round(max(az), 6) AS max_abs_z,
       |  (sum(CASE WHEN az > $OutlierZ THEN 1 ELSE 0 END) > 0) AS is_outlier
       |FROM z GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- q107
  /** Confusion-matrix rollup over the q49 nearest-centroid labeling:
    * (true_label, pred_label) counts, the within-true-row share, and
    * the mean assignment cosine — the per-class diagnostic that turns
    * q49's per-vector output into the curation decision table (which
    * classes bleed into which, where the centroid space is too
    * coarse). The mean cosine goes through micro-unit long sums so the
    * average is reduce-order exact (same rule as every money sum).
    * Post-q49 stages are label²-bounded — the matrix never outgrows
    * the driver regardless of corpus size.
    */
  def q107ConfusionMatrix(s: SparkSession, dir: String): DataFrame = {
    val m = q49NearestCentroid(s, dir)
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("cos") * 1000000L).cast("long")).as("cos_micro"))
    m.withColumn("row_share",
        round(col("n") / sum(col("n")).over(Window.partitionBy(col("true_label"))), 6))
      .select(col("true_label"), col("pred_label"), col("n"), col("row_share"),
        round(col("cos_micro") / col("n") / 1e6, 6).as("avg_cos"))
      .orderBy(col("true_label"), col("pred_label"))
  }

  val q107Sql: String =
    s"""WITH dims AS (
       |  SELECT vec_id, label, j, CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE) AS v
       |  FROM embeddings, range($Dim) t(j)),
       |cent AS (
       |  SELECT label AS c_label, j, round(avg(v), 6) AS m
       |  FROM dims GROUP BY label, j),
       |dots AS (
       |  SELECT d.vec_id, d.label, c.c_label, round(sum(d.v * c.m), 6) AS cos
       |  FROM dims d JOIN cent c USING (j)
       |  GROUP BY d.vec_id, d.label, c.c_label),
       |best AS (
       |  SELECT vec_id, label AS true_label, c_label AS pred_label, cos FROM (
       |    SELECT vec_id, label, c_label, cos,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY cos DESC, c_label ASC) AS rk
       |    FROM dots) WHERE rk = 1),
       |m AS (
       |  SELECT true_label, pred_label, count(*) AS n,
       |         CAST(sum(CAST(round(cos * 1000000, 0) AS BIGINT)) AS BIGINT) AS cos_micro
       |  FROM best GROUP BY true_label, pred_label)
       |SELECT true_label, pred_label, n,
       |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY true_label), 6) AS row_share,
       |  round(CAST(cos_micro AS DOUBLE) / n / 1e6, 6) AS avg_cos
       |FROM m ORDER BY true_label, pred_label""".stripMargin

  // ---------------------------------------------------------------- q24
  /** Embedding-cosine near-duplicate pairs (cos ≥ 0.4, a < b). */
  def q24EmbeddingNearDups(s: SparkSession, dir: String): DataFrame =
    Ann.nearDupPairs(emb(s, dir), NearDupCos)
      .orderBy(col("a"), col("b"))

  val q24Sql: String =
    s"""WITH pairs AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |         round(${sqlDot("a.embedding", "b.embedding")}, 6) AS cos
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
       |SELECT a, b, cos FROM pairs WHERE cos >= $NearDupCos ORDER BY a, b""".stripMargin

  // --------------------------------------------------------------- q245
  /** IVF-PQ composed probe ([[Ann.ivfPqBuild]]/[[Ann.ivfPqProbe]]):
    * the q43 coarse quantizer and the q232 product quantizer composed
    * into the production serving shape — inverted lists of m residual
    * codes per vector, probe = nprobe ranked clusters × row-local ADC
    * over their codes plus the micro-quantized dot(q, centroid) base
    * term. The oracle replays probe selection, LUT, base, and the ADC
    * sum over the MATERIALIZED artifacts (the q43/q232 convention).
    * Probe cost ∝ nprobe·(n/kClusters), never n: the dial the 100 TB
    * ANN argument turns. Approximation quality is gated separately by
    * AnnSpec's recall comparison against q232's flat-code ADC at the
    * identical code budget.
    */
  val IvfPqClusters = 16
  val IvfPqNprobe = 4

  private[operators] def ivfPqIndexPath(sfDir: String): String =
    new java.io.File(s"target/ivfpq-index/${PathTag.tagFor(sfDir)}").getAbsolutePath

  private val ivfPqBuilt = scala.collection.mutable.HashSet.empty[String]

  /** Idempotent offline IVF-PQ build for `dir`; returns the index
    * path. Cross-process fenced like [[prepareIvf]]. */
  def prepareIvfPq(s: SparkSession, dir: String): String = ivfPqBuilt.synchronized {
    val idx = ivfPqIndexPath(dir)
    if (!ivfPqBuilt.contains(idx)) {
      graft.io.ArtifactClaim.withClaim(s, idx, "ivfpq build") {
        Ann.ivfPqBuild(emb(s, dir), idx, IvfPqClusters, PqM, PqCodes)
      }
      ivfPqBuilt.add(idx)
    }
    idx
  }

  def q245IvfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val idx = prepareIvfPq(s, dir)
    Ann.ivfPqProbe(querySubset(s, dir), idx, PqTopK, IvfPqNprobe)
      .select(col("qid"), col("nid"), col("adc_micro"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  // generated per dump dir, same reasoning as q43Sql/q232Sql
  def q245Sql(sfDir: String): String = ivfPqProbeSql(ivfPqIndexPath(sfDir))

  /** The IVF-PQ probe replay over a materialized index at `idx` —
    * shared by q245 (built index), q251 (built-then-appended index)
    * and q254 (appended-then-deleted, via `scanPred` filtering the
    * inverted-list scan exactly where the engine's tombstone anti-join
    * cuts): the oracle replays probe selection, LUT, base term, and
    * the ADC sum over whatever `assignments/` holds, so the SAME SQL
    * gates all three lifecycles. */
  private def ivfPqProbeSql(idx: String, scanPred: String = ""): String = {
    val sw = Dim / PqM
    s"""WITH cent AS (
       |  SELECT CAST(cluster AS INTEGER) AS cluster, centroid,
       |         (SELECT sum(y * y) FROM unnest(centroid) t(y)) AS cnorm
       |  FROM read_parquet('$idx/centroids/*.parquet')),
       |asg AS (
       |  SELECT vec_id, codes, CAST(cluster AS INTEGER) AS cluster
       |  FROM read_parquet('$idx/assignments/*/*.parquet', hive_partitioning=1)
       |  $scanPred),
       |cb AS (
       |  SELECT CAST(sub AS INTEGER) AS sub, CAST(code AS INTEGER) AS code,
       |         centroid
       |  FROM read_parquet('$idx/codebooks/*.parquet')),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      WHERE vec_id % $QueryMod = 0),
       |dists AS (
       |  SELECT q.qid, c.cluster,
       |         round(c.cnorm - 2 * ${sqlDot("q.qv", "c.centroid")}, 6) AS dist,
       |         CAST(round(1e6 * ${sqlDot("q.qv", "c.centroid")}, 0) AS BIGINT)
       |           AS base_micro
       |  FROM q, cent c),
       |probes AS (
       |  SELECT qid, cluster, base_micro FROM (
       |    SELECT qid, cluster, base_micro,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY dist ASC, cluster ASC) AS pr
       |    FROM dists) WHERE pr <= $IvfPqNprobe),
       |lut AS (
       |  SELECT q.qid, cb.sub, cb.code,
       |         CAST(round(1e6 * (
       |           SELECT sum(CAST(x AS DOUBLE) * y)
       |           FROM (SELECT unnest(q.qv[cb.sub * $sw + 1 : cb.sub * $sw + $sw]) AS x,
       |                        unnest(cb.centroid) AS y)), 0) AS BIGINT) AS pd
       |  FROM q, cb),
       |codes AS (
       |  SELECT vec_id, cluster,
       |         CAST(generate_subscripts(codes, 1) - 1 AS INTEGER) AS sub,
       |         CAST(unnest(codes) AS INTEGER) AS code
       |  FROM asg),
       |scored AS (
       |  SELECT p.qid, c.vec_id AS nid, p.base_micro + sum(l.pd) AS adc_micro
       |  FROM probes p
       |  JOIN codes c USING (cluster)
       |  JOIN lut l ON l.qid = p.qid AND l.sub = c.sub AND l.code = c.code
       |  WHERE c.vec_id <> p.qid
       |  GROUP BY p.qid, c.vec_id, p.base_micro),
       |best AS (
       |  SELECT qid, nid, adc_micro,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY adc_micro DESC, nid ASC) AS rk
       |  FROM scored)
       |SELECT qid, nid, CAST(adc_micro AS BIGINT) AS adc_micro,
       |       CAST(rk AS BIGINT) AS rk
       |FROM best WHERE rk <= $PqTopK
       |ORDER BY qid, rk""".stripMargin
  }

  // --------------------------------------------------------------- q249
  /** IVF-PQ shortlist + exact re-rank — the FULL production serving
    * stack, ending the ANN ladder: coarse quantizer prunes to nprobe
    * inverted lists (q43's IVF), shared residual codebooks score the
    * pruned lists in the compressed domain (q245's ADC), and the
    * top-ℓ shortlist alone is re-scored with exact float cosines
    * (q233's verify discipline — the vector store is touched for
    * |Q|·ℓ point lookups, never scanned). Same output contract as
    * q21/q233: (qid, nid, cos round-6, rk ≤ 3).
    */
  def q249IvfPqRerank(s: SparkSession, dir: String): DataFrame = {
    val idx = prepareIvfPq(s, dir)
    graft.functions.VectorFunctions.register(s)
    val e = emb(s, dir)
    val shortlist = Ann.ivfPqProbe(querySubset(s, dir), idx, PqShortlist,
        IvfPqNprobe)
      .select(col("qid"), col("nid"))
    val rescored = shortlist
      .join(e.select(col("vec_id").as("qid"), col("embedding").as("qe")),
        Seq("qid"))
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")),
        Seq("nid"))
      .select(col("qid"), col("nid"),
        round(graft.functions.VectorFunctions.dot(col("qe"), col("ne")), 6)
          .as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid").asc)
    rescored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= PqTopK)
      .select(col("qid"), col("nid"), col("cos"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  def q249Sql(sfDir: String): String = {
    val idx = ivfPqIndexPath(sfDir)
    val sw = Dim / PqM
    s"""WITH cent AS (
       |  SELECT CAST(cluster AS INTEGER) AS cluster, centroid,
       |         (SELECT sum(y * y) FROM unnest(centroid) t(y)) AS cnorm
       |  FROM read_parquet('$idx/centroids/*.parquet')),
       |asg AS (
       |  SELECT vec_id, codes, CAST(cluster AS INTEGER) AS cluster
       |  FROM read_parquet('$idx/assignments/*/*.parquet', hive_partitioning=1)),
       |cb AS (
       |  SELECT CAST(sub AS INTEGER) AS sub, CAST(code AS INTEGER) AS code,
       |         centroid
       |  FROM read_parquet('$idx/codebooks/*.parquet')),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      WHERE vec_id % $QueryMod = 0),
       |dists AS (
       |  SELECT q.qid, c.cluster,
       |         round(c.cnorm - 2 * ${sqlDot("q.qv", "c.centroid")}, 6) AS dist,
       |         CAST(round(1e6 * ${sqlDot("q.qv", "c.centroid")}, 0) AS BIGINT)
       |           AS base_micro
       |  FROM q, cent c),
       |probes AS (
       |  SELECT qid, cluster, base_micro FROM (
       |    SELECT qid, cluster, base_micro,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY dist ASC, cluster ASC) AS pr
       |    FROM dists) WHERE pr <= $IvfPqNprobe),
       |lut AS (
       |  SELECT q.qid, cb.sub, cb.code,
       |         CAST(round(1e6 * (
       |           SELECT sum(CAST(x AS DOUBLE) * y)
       |           FROM (SELECT unnest(q.qv[cb.sub * $sw + 1 : cb.sub * $sw + $sw]) AS x,
       |                        unnest(cb.centroid) AS y)), 0) AS BIGINT) AS pd
       |  FROM q, cb),
       |codes AS (
       |  SELECT vec_id, cluster,
       |         CAST(generate_subscripts(codes, 1) - 1 AS INTEGER) AS sub,
       |         CAST(unnest(codes) AS INTEGER) AS code
       |  FROM asg),
       |scored AS (
       |  SELECT p.qid, c.vec_id AS nid, p.base_micro + sum(l.pd) AS adc_micro
       |  FROM probes p
       |  JOIN codes c USING (cluster)
       |  JOIN lut l ON l.qid = p.qid AND l.sub = c.sub AND l.code = c.code
       |  WHERE c.vec_id <> p.qid
       |  GROUP BY p.qid, c.vec_id, p.base_micro),
       |shortlist AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY adc_micro DESC, nid ASC) AS srk
       |    FROM scored) AS s WHERE srk <= $PqShortlist),
       |rescored AS (
       |  SELECT s.qid, s.nid,
       |         round(${sqlDot("eq.embedding", "en.embedding")}, 6) AS cos
       |  FROM shortlist s
       |  JOIN embeddings eq ON eq.vec_id = s.qid
       |  JOIN embeddings en ON en.vec_id = s.nid),
       |best AS (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY cos DESC, nid ASC) AS rk
       |  FROM rescored)
       |SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk
       |FROM best WHERE rk <= $PqTopK
       |ORDER BY qid, rk""".stripMargin
  }

  // --------------------------------------------------------------- q247
  /** Filtered vector search ([[Ann.filteredTopK]]): exact cosine top-3
    * restricted to corpus vectors sharing the query's `label` — the
    * metadata-predicate + ANN composition every production vector
    * store serves ("nearest English docs", "same-tenant neighbors").
    * The predicate IS the join key, so the pair stream is per-block
    * volume (Σ |Q_v|·|C_v|), and a label-partitioned corpus serves the
    * probe with partition pruning. Same ranking contract as q21.
    */
  val FilteredK = 3

  def q247FilteredAnn(s: SparkSession, dir: String): DataFrame =
    Ann.filteredTopK(querySubset(s, dir), emb(s, dir), FilteredK, Seq("label"))
      .select(col("qid"), col("nid"), col("cos"), col("rk"))
      .orderBy(col("qid"), col("rk"))

  val q247Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label
       |           FROM embeddings WHERE vec_id % $QueryMod = 0),
       |pairs AS (
       |  SELECT q.qid, e.vec_id AS nid,
       |         round(${sqlDot("q.qv", "e.embedding")}, 6) AS cos
       |  FROM q JOIN embeddings e ON e.label = q.label AND e.vec_id <> q.qid),
       |best AS (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rk
       |  FROM pairs)
       |SELECT qid, nid, cos, CAST(rk AS BIGINT) AS rk FROM best WHERE rk <= $FilteredK
       |ORDER BY qid, rk""".stripMargin

  // --------------------------------------------------------------- q251
  /** IVF-PQ incremental append ([[Ann.ivfPqAppend]]) — the index
    * MAINTENANCE lifecycle the 100 TB serving story needs (round-7
    * missing item #3): the coarse+product quantizers are fit once on
    * the base corpus (vec_id % 5 ≠ 3 — the "already indexed" 80%),
    * then the remaining 20% arrives later and is encoded against the
    * FROZEN quantizers and appended into the cluster-partitioned
    * inverted lists — no re-fit, only touched clusters gain files.
    * The gated result is the standard probe over the appended index;
    * the oracle replays the identical ADC arithmetic over the
    * materialized artifacts (shared [[ivfPqProbeSql]]), so the gate
    * hashes the whole append path: assignment, residual encode,
    * layout, and probe visibility of late vectors. AnnSpec pins the
    * equivalence law (append ≡ rebuild-with-same-codebooks) and that
    * appended vectors are findable. The snapshot-cursor form is
    * [[ivfPqAppendFromSnapshots]] (q297).
    */
  val IvfPqAppendMod = 5

  private def ivfPqAppendIndexPath(sfDir: String): String =
    new java.io.File(s"target/ivfpq-append/${PathTag.tagFor(sfDir)}").getAbsolutePath

  private val ivfPqAppendBuilt = scala.collection.mutable.HashSet.empty[String]

  /** Idempotent base-build + late-append for `dir`; returns the index
    * path. The base build `mode(overwrite)` wipes any stale appended
    * files from a previous JVM before the append re-runs. */
  def prepareIvfPqAppend(s: SparkSession, dir: String): String =
    ivfPqAppendBuilt.synchronized {
      val idx = ivfPqAppendIndexPath(dir)
      if (!ivfPqAppendBuilt.contains(idx)) {
        // base build + append under ONE claim: a second process must
        // never observe (or interleave) the half-appended state
        graft.io.ArtifactClaim.withClaim(s, idx, "ivfpq build+append") {
          val all = emb(s, dir)
          Ann.ivfPqBuild(all.filter(col("vec_id") % IvfPqAppendMod =!= 3),
            idx, IvfPqClusters, PqM, PqCodes)
          Ann.ivfPqAppend(all.filter(col("vec_id") % IvfPqAppendMod === 3), idx)
        }
        ivfPqAppendBuilt.add(idx)
      }
      idx
    }

  def q251IvfPqAppendProbe(s: SparkSession, dir: String): DataFrame = {
    val idx = prepareIvfPqAppend(s, dir)
    Ann.ivfPqProbe(querySubset(s, dir), idx, PqTopK, IvfPqNprobe)
      .select(col("qid"), col("nid"), col("adc_micro"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  def q251Sql(sfDir: String): String =
    ivfPqProbeSql(ivfPqAppendIndexPath(sfDir))

  // --------------------------------------------------------------- q254
  /** IVF-PQ tombstone DELETE — the other half of the index lifecycle
    * q251 opened (add = [[Ann.ivfPqAppend]], delete = this): a
    * deterministic third of the appended vectors is deleted via a
    * tombstone table, and the probe must never surface them while the
    * physical inverted lists stay immutable (FAISS IDSelector
    * semantics — compaction rewrites lists offline when the tombstone
    * fraction warrants, it is not the serving path). The engine's
    * tombstone anti-join (capacity-gated broadcast inside
    * [[Ann.ivfPqProbe]]) cuts the list scan exactly where the
    * oracle's `WHERE NOT (...)` predicate cuts the replay — the gate
    * hashes that a deleted vector is unreachable at ANY rank, not
    * merely demoted. Delete volume is operationally bounded
    * (deletion-rate ≪ corpus); past the broadcast gate the anti-join
    * degrades to shuffled, never wrong.
    */
  val IvfPqDeleteEvery = 3

  private[graft] def ivfPqTombstones(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .filter(col("vec_id") % IvfPqAppendMod === 3 &&
        expr(s"(vec_id div $IvfPqAppendMod) % $IvfPqDeleteEvery = 0"))
      .select(col("vec_id"))

  def q254IvfPqDelete(s: SparkSession, dir: String): DataFrame = {
    val idx = prepareIvfPqAppend(s, dir)
    Ann.ivfPqProbe(querySubset(s, dir), idx, PqTopK, IvfPqNprobe,
        tombstones = Some(ivfPqTombstones(s, dir)))
      .select(col("qid"), col("nid"), col("adc_micro"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  def q254Sql(sfDir: String): String =
    ivfPqProbeSql(ivfPqAppendIndexPath(sfDir),
      s"WHERE NOT (vec_id % $IvfPqAppendMod = 3 AND " +
        s"(vec_id // $IvfPqAppendMod) % $IvfPqDeleteEvery = 0)")

  // --------------------------------------------------------------- q258
  /** IVF-PQ compaction ([[Ann.ivfPqCompact]]) — the maintenance job
    * that closes the lifecycle: the q251 appended index is rewritten
    * with q254's tombstoned rows physically dropped, and the standard
    * probe (NO tombstone anti-join) runs over the compacted lists.
    * Compaction is a pure rewrite of the delete view, so this gate's
    * results are exactly q254's — but the ORACLE replays over the
    * compacted artifacts themselves (no tombstone predicate), so the
    * hash gate verifies the rewrite: a compactor that drops the wrong
    * rows, loses a cluster directory, or perturbs codes mismatches.
    * AnnSpec additionally pins q258 ≡ q254 row-for-row and that no
    * tombstoned id survives in the compacted lists.
    */
  private def ivfPqCompactIndexPath(sfDir: String): String =
    new java.io.File(s"target/ivfpq-compact/${PathTag.tagFor(sfDir)}").getAbsolutePath

  private val ivfPqCompacted = scala.collection.mutable.HashSet.empty[String]

  def prepareIvfPqCompact(s: SparkSession, dir: String): String =
    ivfPqCompacted.synchronized {
      val idx = ivfPqCompactIndexPath(dir)
      if (!ivfPqCompacted.contains(idx)) {
        // the SOURCE index is prepared before the claim on the
        // destination (its own prepare holds its own claim)
        val src = prepareIvfPqAppend(s, dir)
        graft.io.ArtifactClaim.withClaim(s, idx, "ivfpq compact") {
          Ann.ivfPqCompact(src, idx, ivfPqTombstones(s, dir))
        }
        ivfPqCompacted.add(idx)
      }
      idx
    }

  def q258IvfPqCompact(s: SparkSession, dir: String): DataFrame = {
    val idx = prepareIvfPqCompact(s, dir)
    Ann.ivfPqProbe(querySubset(s, dir), idx, PqTopK, IvfPqNprobe)
      .select(col("qid"), col("nid"), col("adc_micro"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  def q258Sql(sfDir: String): String =
    ivfPqProbeSql(ivfPqCompactIndexPath(sfDir))

  // --------------------------------------------------------------- q259
  /** Quantization-drift audit — the monitor that closes the lifecycle
    * loop by telling a deployment WHEN to re-train: per-vector
    * reconstruction error ‖x − ĉ(cluster) − r̂(codes)‖², decomposed
    * per sub-space (the PQ identity: the error is the sum of the m
    * sub-space residual errors), micro-quantized to longs per
    * sub-space and summed exactly, then rolled up per SLICE (base
    * vectors the quantizers were fit on vs vectors appended against
    * the frozen quantizers). A drifting append distribution shows as
    * appended-slice mean error pulling away from base — the signal
    * that schedules [[Ann.ivfPqBuild]] anew, exactly as a FAISS
    * deployment watches its imbalance/quantization stats. Shape: one
    * co-keyed (vec_id) join of lists × vectors, broadcast quantizer
    * metadata, row-local sub-space math, two aggregates; nothing
    * corpus-scale shuffles except the vec-keyed join that a bucketed
    * layout co-locates.
    */
  def q259PqDriftAudit(s: SparkSession, dir: String): DataFrame =
    pqReconstructionAudit(s, dir, prepareIvfPqAppend(s, dir))

  /** q259's per-slice reconstruction-error audit over ANY index at
    * `idx` — factored so the drift SIGNAL (q259, over the frozen
    * appended index) and the retrain VERDICT (q264, re-measuring the
    * retrained generation) ride the same measurement code. */
  private def pqReconstructionAudit(s: SparkSession, dir: String,
      idx: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val asg = s.read.parquet(s"$idx/assignments")
    val cent = s.read.parquet(s"$idx/centroids")
    val cbs = s.read.parquet(s"$idx/codebooks")
    val m = cbs.agg(max(col("sub"))).head().getInt(0) + 1
    val sw = Dim / m
    val joined = asg
      .join(emb(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("xv")), Seq("vec_id"))
      .join(broadcast(cent), Seq("cluster"))
    val subs = joined.select(col("vec_id"),
        explode(expr(
          s"""transform(sequence(0, ${m - 1}),
             |  s -> named_struct('sub', s,
             |                    'code', element_at(codes, s + 1),
             |                    'xs', slice(xv, s * $sw + 1, $sw),
             |                    'cs', slice(centroid, s * $sw + 1, $sw)))"""
            .stripMargin)).as("t"))
      .select(col("vec_id"), col("t.sub").as("sub"), col("t.code").as("code"),
        col("t.xs").as("xs"), col("t.cs").as("cs"))
    val diff = zip_with(
      zip_with(col("xs"), col("cs"), (a, b) => a - b),
      col("rb"), (a, b) => a - b)
    val perVec = subs
      .join(broadcast(cbs.select(col("sub"), col("code"),
        col("centroid").as("rb"))), Seq("sub", "code"))
      .select(col("vec_id"),
        round(lit(1e6) * graft.functions.VectorFunctions.dotD(diff, diff), 0)
          .cast("long").as("err_micro_sub"))
      .groupBy(col("vec_id"))
      .agg(sum(col("err_micro_sub")).as("err_micro"))
    perVec
      .select(
        when(col("vec_id") % IvfPqAppendMod === 3, lit("appended"))
          .otherwise(lit("base")).as("slice"),
        col("err_micro"))
      .groupBy(col("slice"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("err_micro")) / (count(lit(1)) * lit(1e6)), 6)
          .as("mean_err"),
        max(col("err_micro")).as("max_err_micro"))
      .orderBy(col("slice"))
  }

  def q259Sql(sfDir: String): String =
    s"""${pqErrAuditSql(ivfPqAppendIndexPath(sfDir))} ORDER BY slice"""

  /** The q259 reconstruction-error audit SQL over ANY index at `idx`
    * (no trailing ORDER BY — embeddable as a subquery), mirroring the
    * engine-side `pqReconstructionAudit` sharing between q259 and
    * q264. */
  private def pqErrAuditSql(idx: String): String = {
    val m = PqM
    val sw = Dim / m
    s"""WITH cent AS (
       |  SELECT CAST(cluster AS INTEGER) AS cluster, centroid
       |  FROM read_parquet('$idx/centroids/*.parquet')),
       |asg AS (
       |  SELECT vec_id, codes, CAST(cluster AS INTEGER) AS cluster
       |  FROM read_parquet('$idx/assignments/*/*.parquet', hive_partitioning=1)),
       |cb AS (
       |  SELECT CAST(sub AS INTEGER) AS sub, CAST(code AS INTEGER) AS code,
       |         centroid AS rb
       |  FROM read_parquet('$idx/codebooks/*.parquet')),
       |subs AS (
       |  SELECT a.vec_id, CAST(g.range AS INTEGER) AS sub,
       |         CAST(a.codes[g.range + 1] AS INTEGER) AS code,
       |         e.embedding[g.range * $sw + 1 : g.range * $sw + $sw] AS xs,
       |         c.centroid[g.range * $sw + 1 : g.range * $sw + $sw] AS cs
       |  FROM asg a
       |  JOIN embeddings e USING (vec_id)
       |  JOIN cent c USING (cluster)
       |  CROSS JOIN range($m) g),
       |errs AS (
       |  SELECT s.vec_id,
       |         CAST(round(1e6 * (
       |           SELECT sum((CAST(x AS DOUBLE) - c - r) * (CAST(x AS DOUBLE) - c - r))
       |           FROM (SELECT unnest(s.xs) AS x, unnest(s.cs) AS c,
       |                        unnest(b.rb) AS r)), 0) AS BIGINT) AS err_micro_sub
       |  FROM subs s JOIN cb b USING (sub, code)),
       |per_vec AS (
       |  SELECT vec_id, sum(err_micro_sub) AS err_micro
       |  FROM errs GROUP BY vec_id)
       |SELECT CASE WHEN vec_id % $IvfPqAppendMod = 3 THEN 'appended'
       |            ELSE 'base' END AS slice,
       |       CAST(count(*) AS BIGINT) AS n,
       |       round(sum(err_micro) / (count(*) * 1e6), 6) AS mean_err,
       |       CAST(max(err_micro) AS BIGINT) AS max_err_micro
       |FROM per_vec
       |GROUP BY 1""".stripMargin
  }

  // --------------------------------------------------------------- q265
  /** Compaction POLICY — the round-8/9 verdict's task #3 made gated
    * code: the per-cluster decision table a 100 TB index maintains
    * ((cluster, live_fraction, file_count) → compact/skip), produced
    * by [[Ann.ivfPqCompactionStats]] over the appended index under
    * q254's tombstone set and decided by the pure
    * [[Ann.chooseCompact]] rule. q258 compacts on demand; THIS is
    * what tells it which lists are worth the rewrite — the LSM
    * maintenance loop's brain. The oracle recomputes row/live/file
    * counts straight off the parquet artifacts (DuckDB `filename=1`
    * mirrors the engine's `input_file_name`) and replays the rule, so
    * the hash gates measurement and decision. The actuator
    * ([[Ann.ivfPqCompactSelective]]) is pinned by AnnSpec's
    * result-equivalence law: any chosen subset probes identically
    * under the tombstone set — the policy tunes cost, never results.
    */
  val CompactMinLive = 0.95
  val CompactMaxFiles = 1L

  def q265CompactionPolicy(s: SparkSession, dir: String): DataFrame = {
    val idx = prepareIvfPqAppend(s, dir)
    Ann.ivfPqCompactionStats(idx, ivfPqTombstones(s, dir))
      .withColumn("compact",
        col("live_fraction") < CompactMinLive ||
          col("file_count") > CompactMaxFiles)
      .select(col("cluster").cast("int").as("cluster"), col("n_rows"),
        col("n_live"), col("live_fraction"), col("file_count"),
        col("compact"))
      .orderBy(col("cluster"))
  }

  def q265Sql(sfDir: String): String = {
    val idx = ivfPqAppendIndexPath(sfDir)
    s"""WITH asg AS (
       |  SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, filename AS f
       |  FROM read_parquet('$idx/assignments/*/*.parquet',
       |                    hive_partitioning=1, filename=1)),
       |stats AS (
       |  SELECT cluster,
       |         CAST(count(*) AS BIGINT) AS n_rows,
       |         CAST(sum(CASE WHEN NOT (vec_id % $IvfPqAppendMod = 3 AND
       |                  (vec_id // $IvfPqAppendMod) % $IvfPqDeleteEvery = 0)
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
       |         CAST(count(DISTINCT f) AS BIGINT) AS file_count
       |  FROM asg GROUP BY cluster)
       |SELECT cluster, n_rows, n_live,
       |       round(n_live / CAST(n_rows AS DOUBLE), 6) AS live_fraction,
       |       file_count,
       |       (round(n_live / CAST(n_rows AS DOUBLE), 6) < $CompactMinLive
       |        OR file_count > $CompactMaxFiles) AS compact
       |FROM stats
       |ORDER BY cluster""".stripMargin
  }

  // --------------------------------------------------------------- q264
  /** Measured drift → retrain decision → re-measured recovery — the
    * round-8/9 verdict's task #2 (the missing ACTUATOR) made gated
    * code: the q259 audit measures the frozen appended index's
    * per-slice reconstruction error, the pure [[Ann.chooseRetrain]]
    * rule decides (appended mean error > $RetrainDriftRatio× base —
    * fed by the measured number, not an ops judgment), and when it
    * fires, [[Ann.ivfPqRetrain]] writes a new generation whose
    * quantizers were fit on the CURRENT corpus; the SAME audit then
    * re-measures it. The oracle replays both audits over the
    * materialized artifact generations AND the decision rule in SQL —
    * so the hash gates signal, decision, and recovery together. On a
    * skip decision the output carries only the frozen phase, and an
    * EMPTY retrained generation is materialized
    * ([[Ann.ivfPqWriteEmptyGeneration]]) so the oracle's unconditional
    * bind of the retrained path succeeds — its decision CTE then
    * filters to zero retrained rows, matching, because both sides
    * decide from the same round-6 mean_err.
    */
  val RetrainDriftRatio = 1.2

  private def ivfPqRetrainedPath(sfDir: String): String =
    new java.io.File(
      s"target/ivfpq-retrained/${PathTag.tagFor(sfDir)}").getAbsolutePath

  def q264IvfPqRetrain(s: SparkSession, dir: String): DataFrame = {
    val idx = prepareIvfPqAppend(s, dir)
    val frozen = pqReconstructionAudit(s, dir, idx)
      .localCheckpoint()
    val errs = frozen.collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val fire = Ann.chooseRetrain(errs.getOrElse("base", 0.0),
      errs.getOrElse("appended", 0.0), RetrainDriftRatio)
    val out =
      if (fire) {
        val rIdx = ivfPqRetrainedPath(dir)
        Ann.ivfPqRetrain(emb(s, dir), idx, rIdx, IvfPqClusters, PqM, PqCodes)
        frozen.withColumn("phase", lit("frozen"))
          .unionByName(pqReconstructionAudit(s, dir, rIdx)
            .withColumn("phase", lit("retrained")))
      } else {
        // skip decision: materialize an EMPTY retrained generation so
        // the oracle's unconditional read_parquet bind of the path
        // succeeds (its decision CTE then filters to zero retrained
        // rows — matching this branch's frozen-only output). Round-10
        // ADVICE #2: without the sentinel, a non-firing corpus made
        // the oracle error at bind time.
        Ann.ivfPqWriteEmptyGeneration(s, ivfPqRetrainedPath(dir))
        frozen.withColumn("phase", lit("frozen"))
      }
    out.select(col("phase"), col("slice"), col("n"), col("mean_err"),
        col("max_err_micro"))
      .orderBy(col("phase"), col("slice"))
  }

  def q264Sql(sfDir: String): String =
    s"""WITH frozen AS (SELECT * FROM (${pqErrAuditSql(ivfPqAppendIndexPath(sfDir))}) t),
       |dec AS (
       |  SELECT CASE WHEN coalesce((SELECT mean_err FROM frozen
       |                             WHERE slice = 'base'), 0) <= 0
       |              THEN coalesce((SELECT mean_err FROM frozen
       |                             WHERE slice = 'appended'), 0) > 0
       |              ELSE coalesce((SELECT mean_err FROM frozen
       |                             WHERE slice = 'appended'), 0) >
       |                   $RetrainDriftRatio * (SELECT mean_err FROM frozen
       |                                         WHERE slice = 'base')
       |         END AS fire)
       |SELECT 'frozen' AS phase, f.* FROM frozen f
       |UNION ALL
       |SELECT 'retrained' AS phase, r.*
       |FROM (SELECT * FROM (${pqErrAuditSql(ivfPqRetrainedPath(sfDir))}) t) r
       |WHERE (SELECT fire FROM dec)
       |ORDER BY phase, slice""".stripMargin

  // --------------------------------------------------------------- q252
  /** IVF-PQ nprobe recall curve — q243's measured-dial discipline
    * applied to the composed index (round-7 verdict item #7): recall@3
    * of [[Ann.ivfPqProbe]] against the exact brute-force top-3 at
    * nprobe ∈ {1,2,4,8,16}, one audit row per setting. This is the
    * tuning table a 100 TB ANN deployment reads before fixing its
    * probe budget: cost grows ∝ nprobe·(n/kClusters) while recall
    * saturates, and nprobe = kClusters (here 16) bounds the curve at
    * the PQ ceiling (coarse pruning off — any remaining misses are
    * quantization error, not pruning). Recall is an exact integer
    * hit-count over the pair sets (the q242/q243 rule: no
    * floating-point rounding window in the numerator), round-6 only
    * at the final ratio.
    */
  val NprobeSweep: Seq[Int] = Seq(1, 2, 4, 8, 16)

  def q252NprobeCurve(s: SparkSession, dir: String): DataFrame = {
    val idx = prepareIvfPq(s, dir)
    // ONE list scan at max(nprobe) + one exact-side semi-join counting
    // every dial setting at once — the measurement now lives in
    // [[Ann.ivfPqRecallCurve]], shared with the engine's own
    // operating-point choice (q263's ivfPqProbeAuto): the audit a
    // human reads and the dial the engine picks come from the SAME
    // measured curve code.
    val curve = Ann.ivfPqRecallCurve(querySubset(s, dir), emb(s, dir), idx,
      PqTopK, NprobeSweep)
    import s.implicits._
    curve.map { case (np, h, t) => (np.toLong, h, t) }
      .toDF("nprobe", "n_hits", "n_exact")
      .select(col("nprobe"), col("n_hits"),
        round(col("n_hits") / nullif(col("n_exact").cast("double"), lit(0.0)), 6)
          .as("recall"))
      .orderBy(col("nprobe"))
  }

  def q252Sql(sfDir: String): String =
    s"""${ivfPqSweepCtesSql(ivfPqIndexPath(sfDir))}
       |SELECT CAST(n.np AS BIGINT) AS nprobe,
       |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       round(coalesce(h.n_hits, 0) / nullif(CAST(t.n AS DOUBLE), 0), 6)
       |         AS recall
       |FROM nps n LEFT JOIN hits h ON h.np = n.np CROSS JOIN tot t
       |ORDER BY nprobe""".stripMargin

  /** Shared CTE block of the q252/q263 oracles — ONE sweep replay
    * (probe selection, LUT, base term, ADC, per-np top-k, exact side,
    * per-np hit counts), so the audit oracle and the auto-dial oracle
    * replay the identical measurement, mirroring the engine-side
    * [[Ann.ivfPqRecallCurve]] sharing. */
  /** `exactPred` filters the exact side's NEIGHBOR scan (appended as a
    * conjunct) — the q276 live-corpus contract: a delete-aware tuning
    * replay measures recall against the reachable set only. */
  /** `sfx` suffixes every CTE name so TWO chains (q276's retrained
    * and compacted candidate generations) can coexist in one oracle;
    * `scanPred` filters the inverted-list scan (the tombstone
    * anti-join's replay, the ivfPqProbeSql convention); `leadingWith`
    * drops the WITH keyword so the chain can splice into an existing
    * WITH list. */
  private[operators] def ivfPqSweepCtesSql(idx: String,
      exactPred: String = "", sfx: String = "",
      scanPred: String = "", leadingWith: Boolean = true): String = {
    val sw = Dim / PqM
    s"""${if (leadingWith) "WITH " else ""}cent$sfx AS (
       |  SELECT CAST(cluster AS INTEGER) AS cluster, centroid,
       |         (SELECT sum(y * y) FROM unnest(centroid) t(y)) AS cnorm
       |  FROM read_parquet('$idx/centroids/*.parquet')),
       |asg$sfx AS (
       |  SELECT vec_id, codes, CAST(cluster AS INTEGER) AS cluster
       |  FROM read_parquet('$idx/assignments/*/*.parquet', hive_partitioning=1)
       |  $scanPred),
       |cb$sfx AS (
       |  SELECT CAST(sub AS INTEGER) AS sub, CAST(code AS INTEGER) AS code,
       |         centroid
       |  FROM read_parquet('$idx/codebooks/*.parquet')),
       |q$sfx AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      WHERE vec_id % $QueryMod = 0),
       |nps$sfx AS (SELECT np FROM (VALUES ${NprobeSweep.map(n => s"($n)").mkString(", ")}) t(np)),
       |dists$sfx AS (
       |  SELECT qid, cluster, base_micro,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY dist ASC, cluster ASC) AS pr
       |  FROM (
       |    SELECT q$sfx.qid, c.cluster,
       |           round(c.cnorm - 2 * ${sqlDot(s"q$sfx.qv", "c.centroid")}, 6) AS dist,
       |           CAST(round(1e6 * ${sqlDot(s"q$sfx.qv", "c.centroid")}, 0) AS BIGINT)
       |             AS base_micro
       |    FROM q$sfx, cent$sfx c)),
       |probes$sfx AS (
       |  SELECT n.np, d.qid, d.cluster, d.base_micro
       |  FROM dists$sfx d JOIN nps$sfx n ON d.pr <= n.np),
       |lut$sfx AS (
       |  SELECT q$sfx.qid, cb$sfx.sub, cb$sfx.code,
       |         CAST(round(1e6 * (
       |           SELECT sum(CAST(x AS DOUBLE) * y)
       |           FROM (SELECT unnest(q$sfx.qv[cb$sfx.sub * $sw + 1 : cb$sfx.sub * $sw + $sw]) AS x,
       |                        unnest(cb$sfx.centroid) AS y)), 0) AS BIGINT) AS pd
       |  FROM q$sfx, cb$sfx),
       |codes$sfx AS (
       |  SELECT vec_id, cluster,
       |         CAST(generate_subscripts(codes, 1) - 1 AS INTEGER) AS sub,
       |         CAST(unnest(codes) AS INTEGER) AS code
       |  FROM asg$sfx),
       |scored$sfx AS (
       |  SELECT p.np, p.qid, c.vec_id AS nid,
       |         p.base_micro + sum(l.pd) AS adc_micro
       |  FROM probes$sfx p
       |  JOIN codes$sfx c USING (cluster)
       |  JOIN lut$sfx l ON l.qid = p.qid AND l.sub = c.sub AND l.code = c.code
       |  WHERE c.vec_id <> p.qid
       |  GROUP BY p.np, p.qid, c.vec_id, p.base_micro),
       |approx$sfx AS (
       |  SELECT np, qid, nid, adc_micro, rk FROM (
       |    SELECT np, qid, nid, adc_micro,
       |           row_number() OVER (PARTITION BY np, qid
       |                              ORDER BY adc_micro DESC, nid ASC) AS rk
       |    FROM scored$sfx) WHERE rk <= $PqTopK),
       |exact$sfx AS (
       |  SELECT qid, nid FROM (
       |    SELECT q$sfx.qid, e.vec_id AS nid,
       |           row_number() OVER (PARTITION BY q$sfx.qid
       |                              ORDER BY round(${sqlDot(s"q$sfx.qv", "e.embedding")}, 6) DESC,
       |                                       e.vec_id ASC) AS rk
       |    FROM q$sfx, embeddings e WHERE e.vec_id <> q$sfx.qid $exactPred)
       |  WHERE rk <= $PqTopK),
       |hits$sfx AS (
       |  SELECT a.np, count(*) AS n_hits
       |  FROM approx$sfx a JOIN exact$sfx x ON a.qid = x.qid AND a.nid = x.nid
       |  GROUP BY a.np),
       |tot$sfx AS (SELECT count(*) AS n FROM exact$sfx)""".stripMargin
  }

  // --------------------------------------------------------------- q276
  /** COMPOSED index-maintenance cycle — the round-10 verdict's task
    * #2: every lifecycle verb is individually gated (ingest q251,
    * audit q259, retrain q264, compact policy q265, auto-probe q263),
    * but a 100 TB operator runs them as ONE nightly job. This query
    * is that job, generations chained under the shared guard:
    *
    *   1. INGEST  — the shared appended generation (base build + late
    *      append, [[prepareIvfPqAppend]]) with q254's tombstone set.
    *   2. AUDIT   — per-slice reconstruction error over it
    *      ([[pqReconstructionAudit]], the q259 signal).
    *   3. DECIDE  — the pure [[Ann.chooseRetrain]] trigger.
    *   4. ACTUATE — fire: [[Ann.ivfPqRetrain]] on the LIVE corpus
    *      (tombstones honored) into a fresh generation, and the
    *      tombstone set is TRUNCATED (refresh subsumes the deletes);
    *      skip: [[Ann.chooseCompact]] per cluster →
    *      [[Ann.ivfPqCompactSelective]], tombstones CARRIED (unchosen
    *      lists still hold dead rows). The untaken candidate path gets
    *      the empty-generation sentinel so both always bind.
    *   5. RE-AUDIT the refreshed generation, then TUNE+SERVE over it
    *      ([[Ann.ivfPqProbePersistedChoice]] with the post-refresh
    *      tombstone view masking the tuning sweep AND the serve — the
    *      delete-aware tuning contract). The tuning writes the
    *      generation-stamped `choices/nprobe` artifact beside the
    *      refreshed index (the q272 discipline composed INTO the
    *      nightly job): the cycle pays the cold measure at most once,
    *      and the day's serves ride the warm artifact at zero tuning
    *      jobs (AnnSpec pins both with throwing thunks).
    *
    * Output: the served rows carrying the WHOLE cycle — chosen nprobe,
    * the decision, both audits' means, the surviving tombstone count,
    * and the refreshed generation's stamp. The oracle replays every
    * stage across the materialized artifact generations, BOTH branches
    * statically (two suffixed sweep chains, one of which reads the
    * sentinel and contributes nothing; branch selected by the replayed
    * decision) — so the gate hashes signal, decision, actuation,
    * recovery, tombstone truncation, and the refreshed-generation
    * tuning in one verdict. AnnSpec runs the SKIP branch through the
    * same core with a raised drift ratio.
    */
  private[graft] def cycleRetrainedPath(sfDir: String): String =
    new java.io.File(
      s"target/ivfpq-cycle-retrained/${PathTag.tagFor(sfDir)}").getAbsolutePath

  private[graft] def cycleCompactedPath(sfDir: String): String =
    new java.io.File(
      s"target/ivfpq-cycle-compacted/${PathTag.tagFor(sfDir)}").getAbsolutePath

  private[graft] def lifecycleCycleCore(s: SparkSession, dir: String,
      idx: String, tombstones: DataFrame, driftRatio: Double,
      retrPath: String, compPath: String): DataFrame = {
    val frozen = pqReconstructionAudit(s, dir, idx).localCheckpoint()
    val fErrs = frozen.collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val fire = Ann.chooseRetrain(fErrs.getOrElse("base", 0.0),
      fErrs.getOrElse("appended", 0.0), driftRatio)
    val (serveIdx, serveTombs, nTombsAfter) =
      if (fire) {
        Ann.ivfPqRetrain(emb(s, dir), idx, retrPath, IvfPqClusters, PqM,
          PqCodes, tombstones = Some(tombstones))
        Ann.ivfPqWriteEmptyGeneration(s, compPath)
        (retrPath, None, 0L) // refresh subsumes the deletes: truncate
      } else {
        val stats = Ann.ivfPqCompactionStats(idx, tombstones).collect()
        val chosen = stats.filter(r => Ann.chooseCompact(
            r.getAs[Double]("live_fraction"), r.getAs[Long]("file_count"),
            CompactMinLive, CompactMaxFiles))
          .map(_.getAs[Int]("cluster")).toSeq
        Ann.ivfPqCompactSelective(idx, compPath, tombstones, chosen)
        Ann.ivfPqWriteEmptyGeneration(s, retrPath)
        (compPath, Some(tombstones), tombstones.count())
      }
    val rErrs = pqReconstructionAudit(s, dir, serveIdx).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val live = emb(s, dir).join(
      BoundedBroadcast.boundedBroadcast(
        tombstones.select(col("vec_id")).localCheckpoint(),
        "graft.ann.maxTombstones", 10000000L),
      Seq("vec_id"), "left_anti")
    val (gr, gc, gf) = Ann.ivfPqGenerationStampCached(s, serveIdx)
    // the cycle ENDS by leaving a warm generation-stamped choice
    // artifact beside the refreshed index (the q272 discipline
    // composed INTO the nightly job): tuning runs at most once here,
    // the day's serves then ride ivfPqProbePersistedChoice warm —
    // and this serve itself flows artifact → probe, so the gated
    // rows hash what the artifact persists
    Ann.ivfPqProbePersistedChoice(querySubset(s, dir),
        () => querySubset(s, dir), () => live, serveIdx, PqTopK,
        NprobeTarget, NprobeSweep, tombstones = serveTombs)
      .select(col("qid"), col("nid"), col("adc_micro"), col("rk"),
        col("nprobe"),
        lit(if (fire) 1L else 0L).as("fire"),
        lit(fErrs.getOrElse("base", 0.0)).as("frozen_base_err"),
        lit(fErrs.getOrElse("appended", 0.0)).as("frozen_appended_err"),
        lit(rErrs.getOrElse("base", 0.0)).as("refreshed_base_err"),
        lit(rErrs.getOrElse("appended", 0.0)).as("refreshed_appended_err"),
        lit(nTombsAfter).as("n_tombstones_after"),
        lit(gr).as("gen_rows"), lit(gc).as("gen_content"),
        lit(gf).as("gen_files"))
  }

  def q276LifecycleCycle(s: SparkSession, dir: String): DataFrame =
    lifecycleCycleCore(s, dir, prepareIvfPqAppend(s, dir),
        ivfPqTombstones(s, dir), RetrainDriftRatio,
        cycleRetrainedPath(dir), cycleCompactedPath(dir))
      .orderBy(col("qid"), col("rk"))

  def q276Sql(sfDir: String): String = {
    val aIdx = ivfPqAppendIndexPath(sfDir)
    val rIdx = cycleRetrainedPath(sfDir)
    val cIdx = cycleCompactedPath(sfDir)
    // the live-corpus filter (exact side) and the tombstone scan mask
    // (compacted chain only — the retrained generation excludes the
    // deletes physically)
    val livePred = s"AND NOT (e.vec_id % $IvfPqAppendMod = 3 AND " +
      s"(e.vec_id // $IvfPqAppendMod) % $IvfPqDeleteEvery = 0)"
    val scanPred = s"WHERE NOT (vec_id % $IvfPqAppendMod = 3 AND " +
      s"(vec_id // $IvfPqAppendMod) % $IvfPqDeleteEvery = 0)"
    def recallsChosen(sfx: String): String =
      s"""recalls$sfx AS (
         |  SELECT n.np,
         |         coalesce(h.n_hits, 0) / nullif(CAST(t.n AS DOUBLE), 0) AS rec
         |  FROM nps$sfx n LEFT JOIN hits$sfx h ON h.np = n.np
         |  CROSS JOIN tot$sfx t),
         |chosen$sfx AS (
         |  SELECT coalesce(
         |    (SELECT min(np) FROM recalls$sfx WHERE rec >= $NprobeTarget),
         |    (SELECT max(np) FROM recalls$sfx)) AS np)""".stripMargin
    s"""WITH frozen AS (SELECT * FROM (${pqErrAuditSql(aIdx)}) t),
       |dec AS (
       |  SELECT CASE WHEN coalesce((SELECT mean_err FROM frozen
       |                             WHERE slice = 'base'), 0) <= 0
       |              THEN coalesce((SELECT mean_err FROM frozen
       |                             WHERE slice = 'appended'), 0) > 0
       |              ELSE coalesce((SELECT mean_err FROM frozen
       |                             WHERE slice = 'appended'), 0) >
       |                   $RetrainDriftRatio * (SELECT mean_err FROM frozen
       |                                         WHERE slice = 'base')
       |         END AS fire),
       |retraud AS (SELECT * FROM (${pqErrAuditSql(rIdx)}) t),
       |compaud AS (SELECT * FROM (${pqErrAuditSql(cIdx)}) t),
       |refreshed AS (SELECT * FROM retraud UNION ALL SELECT * FROM compaud),
       |${ivfPqSweepCtesSql(rIdx, livePred, "r", leadingWith = false)},
       |${recallsChosen("r")},
       |${ivfPqSweepCtesSql(cIdx, livePred, "c", scanPred,
            leadingWith = false)},
       |${recallsChosen("c")},
       |${stampCteSql(rIdx).replace("stamp AS (", "stampr AS (")},
       |${stampCteSql(cIdx).replace("stamp AS (", "stampc AS (")},
       |stampx AS (
       |  SELECT CASE WHEN (SELECT fire FROM dec) THEN r.gen_rows
       |              ELSE c.gen_rows END AS gen_rows,
       |         CASE WHEN (SELECT fire FROM dec) THEN r.gen_content
       |              ELSE c.gen_content END AS gen_content,
       |         CASE WHEN (SELECT fire FROM dec) THEN r.gen_files
       |              ELSE c.gen_files END AS gen_files
       |  FROM stampr r, stampc c),
       |chx AS (
       |  SELECT CASE WHEN (SELECT fire FROM dec)
       |              THEN (SELECT np FROM chosenr)
       |              ELSE (SELECT np FROM chosenc) END AS np),
       |served AS (
       |  SELECT * FROM approxr WHERE (SELECT fire FROM dec)
       |  UNION ALL
       |  SELECT * FROM approxc WHERE NOT (SELECT fire FROM dec))
       |SELECT s.qid, s.nid, CAST(s.adc_micro AS BIGINT) AS adc_micro,
       |       CAST(s.rk AS BIGINT) AS rk, CAST(x.np AS BIGINT) AS nprobe,
       |       CAST(CASE WHEN (SELECT fire FROM dec) THEN 1 ELSE 0 END
       |            AS BIGINT) AS fire,
       |       (SELECT mean_err FROM frozen WHERE slice = 'base')
       |         AS frozen_base_err,
       |       (SELECT mean_err FROM frozen WHERE slice = 'appended')
       |         AS frozen_appended_err,
       |       (SELECT mean_err FROM refreshed WHERE slice = 'base')
       |         AS refreshed_base_err,
       |       (SELECT mean_err FROM refreshed WHERE slice = 'appended')
       |         AS refreshed_appended_err,
       |       CAST(CASE WHEN (SELECT fire FROM dec) THEN 0
       |                 ELSE (SELECT count(*) FROM embeddings
       |                       WHERE vec_id % $IvfPqAppendMod = 3
       |                         AND (vec_id // $IvfPqAppendMod)
       |                             % $IvfPqDeleteEvery = 0) END
       |            AS BIGINT) AS n_tombstones_after,
       |       sx.gen_rows, sx.gen_content, sx.gen_files
       |FROM served s JOIN chx x ON s.np = x.np CROSS JOIN stampx sx
       |ORDER BY s.qid, s.rk""".stripMargin
  }

  // --------------------------------------------------------------- q263
  /** Engine-chosen nprobe operating point — the round-8/9 verdict's
    * task #1 made gated code: [[Ann.ivfPqProbeAuto]] measures the
    * recall curve on the tuning sample ([[Ann.ivfPqRecallCurve]], the
    * same code q252's audit reads), picks the dial with the PURE
    * [[Ann.chooseNprobe]] rule (smallest swept nprobe meeting the
    * recall target; curve-ceiling fallback when the PQ quantization
    * error puts the target out of reach), and serves the probe at the
    * chosen setting, choice carried on every row. The oracle replays
    * measurement, choice, AND the served probe — so the hash gates the
    * decision rule itself, not just the probe math. Target $NprobeTarget
    * sits between the sf0.001 ceiling (0.30 → fallback branch, pinned
    * by AnnSpec) and the sf0.01 knee (np=2 at 0.333 → first-satisfying
    * branch, gated here).
    */
  val NprobeTarget = 0.32

  def q263NprobeAuto(s: SparkSession, dir: String): DataFrame = {
    val idx = prepareIvfPq(s, dir)
    Ann.ivfPqProbeAuto(querySubset(s, dir), querySubset(s, dir),
        emb(s, dir), idx, PqTopK, NprobeTarget, NprobeSweep)
      .select(col("nprobe"), col("qid"), col("nid"), col("adc_micro"),
        col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  def q263Sql(sfDir: String): String =
    s"""${ivfPqSweepCtesSql(ivfPqIndexPath(sfDir))},
       |recalls AS (
       |  SELECT n.np,
       |         coalesce(h.n_hits, 0) / nullif(CAST(t.n AS DOUBLE), 0) AS rec
       |  FROM nps n LEFT JOIN hits h ON h.np = n.np CROSS JOIN tot t),
       |chosen AS (
       |  SELECT coalesce(
       |    (SELECT min(np) FROM recalls WHERE rec >= $NprobeTarget),
       |    (SELECT max(np) FROM recalls)) AS np)
       |SELECT CAST(c.np AS BIGINT) AS nprobe, a.qid, a.nid,
       |       CAST(a.adc_micro AS BIGINT) AS adc_micro,
       |       CAST(a.rk AS BIGINT) AS rk
       |FROM approx a JOIN chosen c ON a.np = c.np
       |ORDER BY a.qid, a.rk""".stripMargin

  // --------------------------------------------------------------- q272
  /** PERSISTED operating-point choice — the round-10 verdict's task #1:
    * q263 measures its recall curve on EVERY call; this query serves
    * from the generation-stamped `choices/nprobe` artifact beside the
    * index ([[Ann.ivfPqProbePersistedChoice]]). Cold: one sweep + one
    * exact tuning job, artifact written under the current
    * [[Ann.ivfPqGenerationStamp]]. Warm (every later call until a
    * lifecycle verb moves the stamp): ZERO tuning jobs — a
    * metadata-scale stamp validation (file listing + sidecar read,
    * zero data reads), a ≤|sweep|-row artifact read, the probe
    * at the persisted dial. The gated output carries the choice AND
    * the stamp it is valid for, all read back from the artifact — and
    * the oracle independently recomputes stamp, curve, rule, and
    * serve from the index artifacts, so a stale or corrupted persisted
    * choice hash-mismatches. AnnSpec pins the staleness law (append ⇒
    * stamp moves ⇒ re-measure) and the warm path's zero-tuning
    * contract (throwing thunks never forced).
    */
  def q272NprobeChoicePersist(s: SparkSession, dir: String): DataFrame = {
    val idx = prepareIvfPq(s, dir)
    Ann.ivfPqProbePersistedChoice(querySubset(s, dir),
        () => querySubset(s, dir), () => emb(s, dir), idx, PqTopK,
        NprobeTarget, NprobeSweep)
      .select(col("nprobe"), col("qid"), col("nid"), col("adc_micro"),
        col("rk"), col("gen_rows"), col("gen_content"), col("gen_files"),
        col("target_micro"))
      .orderBy(col("qid"), col("rk"))
  }

  /** The stamp replay CTE over a materialized index at `idx` —
    * [[Ann.ivfPqGenerationStamp]]'s all-integer arithmetic in DuckDB
    * (filename=1 mirrors the engine's input_file_name, the q265
    * convention; generate_subscripts(codes, 1) is 1-based like the
    * engine's sequence(1, size(codes)) fold). */
  private[operators] def stampCteSql(idx: String): String =
    s"""stamp AS (
       |  SELECT CAST(count(*) AS BIGINT) AS gen_rows,
       |         CAST(coalesce(sum((vec_id * 31 + CAST(cluster AS BIGINT) * 1009 +
       |              (SELECT sum(CAST(c AS BIGINT) * i)
       |               FROM (SELECT unnest(codes) AS c,
       |                            generate_subscripts(codes, 1) AS i)))
       |              % 1048576), 0) AS BIGINT) AS gen_content,
       |         CAST(count(DISTINCT f) AS BIGINT) AS gen_files
       |  FROM (SELECT vec_id, codes, CAST(cluster AS INTEGER) AS cluster,
       |               filename AS f
       |        FROM read_parquet('$idx/assignments/*/*.parquet',
       |                          hive_partitioning=1, filename=1)))""".stripMargin

  def q272Sql(sfDir: String): String =
    s"""${ivfPqSweepCtesSql(ivfPqIndexPath(sfDir))},
       |recalls AS (
       |  SELECT n.np,
       |         coalesce(h.n_hits, 0) / nullif(CAST(t.n AS DOUBLE), 0) AS rec
       |  FROM nps n LEFT JOIN hits h ON h.np = n.np CROSS JOIN tot t),
       |chosen AS (
       |  SELECT coalesce(
       |    (SELECT min(np) FROM recalls WHERE rec >= $NprobeTarget),
       |    (SELECT max(np) FROM recalls)) AS np),
       |${stampCteSql(ivfPqIndexPath(sfDir))}
       |SELECT CAST(c.np AS BIGINT) AS nprobe, a.qid, a.nid,
       |       CAST(a.adc_micro AS BIGINT) AS adc_micro,
       |       CAST(a.rk AS BIGINT) AS rk,
       |       st.gen_rows, st.gen_content, st.gen_files,
       |       CAST(${math.round(NprobeTarget * 1e6)} AS BIGINT)
       |         AS target_micro
       |FROM approx a JOIN chosen c ON a.np = c.np CROSS JOIN stamp st
       |ORDER BY a.qid, a.rk""".stripMargin

  // --------------------------------------------------------------- q260
  /** Label-noise audit by kNN vote (confident-learning-lite — the
    * relational core of Northcutt et al.'s cleanlab pass every
    * labeled-data pipeline runs before training): every vector's
    * label is checked against the majority label of its k = 5 nearest
    * neighbors (round-6 cosine, nid-asc ties); rows whose
    * neighborhood DISAGREES are the mislabeling candidates a human
    * (or a relabel model) reviews. Majority tie-break: (count desc,
    * label asc) — deterministic. n_agree (how many neighbors carry
    * the row's own label) grades the confidence of the flag.
    *
    * Candidate generation here is the exact all-pairs contract (the
    * q21/q24 class — every vector is a query, so the broadcast side
    * IS the corpus); at lake scale the neighbor set swaps to the
    * IVF-PQ probe (q249's shortlist) or centroid blocking (q155) with
    * the VOTING tail unchanged — the same swap-the-candidates story
    * as q238. Ranking is the partial-agg TopKPerKey heap, never a
    * window over the pair stream.
    */
  val NoiseK = 5

  def q260LabelNoiseAudit(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val lbl = e.select(col("vec_id"), col("label"))
    Ann.knnLabelVotes(Ann.bruteForceTopKViaOperator(e, e, k = NoiseK),
        lbl, lbl)
      .filter(col("knn_label") =!= col("label"))
      .orderBy(col("vec_id"))
  }

  val q260Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
       |pairs AS (
       |  SELECT q.vec_id AS qid, q.label AS own,
       |         n.vec_id AS nid, n.label AS nbr,
       |         round(${sqlDot("q.embedding", "n.embedding")}, 6) AS cos
       |  FROM e q JOIN e n ON n.vec_id <> q.vec_id),
       |top AS (
       |  SELECT qid, own, nid, nbr FROM (
       |    SELECT qid, own, nid, nbr,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY cos DESC, nid ASC) AS rk
       |    FROM pairs) WHERE rk <= $NoiseK),
       |counts AS (
       |  SELECT qid, own, nbr, count(*) AS cnt
       |  FROM top GROUP BY qid, own, nbr),
       |knn AS (
       |  SELECT qid, own, nbr AS knn_label FROM (
       |    SELECT qid, own, nbr,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY cnt DESC, nbr ASC) AS mrk
       |    FROM counts) WHERE mrk = 1),
       |agree AS (
       |  SELECT qid, CAST(coalesce(sum(CASE WHEN nbr = own THEN cnt END), 0)
       |         AS BIGINT) AS n_agree
       |  FROM counts GROUP BY qid)
       |SELECT k.qid AS vec_id, CAST(k.own AS INTEGER) AS label,
       |       CAST(k.knn_label AS INTEGER) AS knn_label, a.n_agree
       |FROM knn k JOIN agree a USING (qid)
       |WHERE k.knn_label <> k.own
       |ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- q262
  /** Blocked label-noise audit — q260's documented scale path made
    * GATED CODE (the q236→q238 precedent: exact operator first, then
    * the blocking variant under the identical decision tail): kNN
    * candidates come from top-2 centroid-probe blocking (each vector
    * probes its 2 nearest label-mean centroids; candidates share a
    * probed cluster — the q155/q238 OR-amplified blocking) instead of
    * the all-pairs scan, and the verdict rides the SAME
    * [[Ann.knnLabelVotes]] tail. Candidate volume is Σ_c |c|² over
    * cluster occupancy, never n² — the shape that survives a 100 TB
    * corpus; the spec pins strict candidate reduction and verdict
    * agreement with the exact q260 on this corpus. Neighbors here are
    * "nearest within the blocked candidate set": a vector whose true
    * neighbor shares no probed cluster votes among its candidates —
    * the standard blocking approximation, measured, not hidden.
    *
    * Both rankings ride the house heap-or-window dispatch
    * ([[graft.plans.TopK.rankTopKOrWindow]], the q260-scaladoc rule:
    * partial-agg TopKPerKey heaps, never a window over the pair
    * stream): the Σ_c|c|² candidate volume and the n×L probe stream
    * are each cut to ≤k survivors per key MAP-SIDE before their
    * exchange. The ord packs (cos_micro, id tie-break) into one
    * double — |cos| ≤ 1 on the pre-normalized corpus so cos_micro <
    * 2^27 is expression-enforced, and the id-range probes (one
    * column-pruned min/max each) degrade out-of-domain ids to the
    * window form instead of aborting the job (the rankAdcTopK
    * contract).
    */
  def q262LabelNoiseBlocked(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = emb(s, dir)
    val lbl = e.select(col("vec_id"), col("label"))
    val cent = centroidArrays(s, dir)
    val idsSafe = graft.plans.TopK.idRangeSafe(
      e.select(col("vec_id")), "vec_id", 1L << 20)
    val lblSafe = graft.plans.TopK.idRangeSafe(
      cent.select(col("c_label").cast("long").as("c_label")), "c_label",
      1L << 20)
    def packedOrd(microSrc: Column, idCol: Column, safe: Boolean,
        what: String): Column = {
      val micro = round(microSrc * 1e6)
      val inRange = abs(micro) < lit(1L << 27) &&
        (lit(!safe) || (idCol >= 0 && idCol.cast("long") < lit(1L << 20)))
      when(inRange, micro * lit(1L << 20) - idCol)
        .otherwise(raise_error(concat(
          lit(s"q262: $what ord encoding out of range ("),
          microSrc.cast("string"), lit(", "), idCol.cast("string"),
          lit(")"))))
    }
    val probeScored = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("c_label"),
        round(graft.functions.VectorFunctions.dotD(
          col("embedding").cast("array<double>"), col("centroid")), 6)
          .as("ccos"))
    val probes = graft.plans.TopK.rankTopKOrWindow(probeScored,
        Seq("vec_id"),
        packedOrd(col("ccos"), col("c_label"), lblSafe, "probe"),
        Seq(col("ccos").desc, col("c_label").asc), 2, lblSafe)
      .select(col("vec_id"), col("c_label").as("cluster"))
      // plain localCheckpoint, deliberately: the 1-task pair explosion
      // this pins at sf0.1 was A/B'd against a ParallelCheckpoint
      // (r16) — interleaved medians 5.45 s vs 5.32 s, a wash; and at
      // lake scale probes (2 rows/vector) lands ≥cores partitions on
      // its own, so there is no scale argument either.
      .localCheckpoint()
    val candIds = probes.select(col("vec_id").as("qid"), col("cluster"))
      .join(probes.select(col("vec_id").as("nid"), col("cluster")),
        Seq("cluster"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid")).distinct()
    val pairs = candIds
      .join(e.select(col("vec_id").as("qid"), col("embedding").as("qv")),
        Seq("qid"))
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        Seq("nid"))
      .select(col("qid"), col("nid"),
        round(graft.functions.VectorFunctions.dot(col("qv"), col("nv")), 6)
          .as("cos"))
    val top = graft.plans.TopK.rankTopKOrWindow(pairs, Seq("qid"),
        packedOrd(col("cos"), col("nid"), idsSafe, "top-k"),
        Seq(col("cos").desc, col("nid").asc), NoiseK, idsSafe)
      .select(col("qid"), col("nid"))
    Ann.knnLabelVotes(top, lbl, lbl)
      .filter(col("knn_label") =!= col("label"))
      .orderBy(col("vec_id"))
  }

  val q262Sql: String =
    s"""WITH dims AS (
       |  SELECT vec_id, label, j,
       |         CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE) AS v
       |  FROM embeddings, range($Dim) t(j)),
       |cent AS (
       |  SELECT label AS c_label, j, round(avg(v), 6) AS m
       |  FROM dims GROUP BY label, j),
       |cdots AS (
       |  SELECT d.vec_id, c.c_label, round(sum(d.v * c.m), 6) AS ccos
       |  FROM dims d JOIN cent c USING (j)
       |  GROUP BY d.vec_id, c.c_label),
       |probes AS (
       |  SELECT vec_id, c_label AS cluster FROM (
       |    SELECT vec_id, c_label,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY ccos DESC, c_label ASC) AS rk
       |    FROM cdots) WHERE rk <= 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
       |  FROM probes a JOIN probes b USING (cluster)
       |  WHERE a.vec_id <> b.vec_id),
       |pairs AS (
       |  SELECT c.qid, c.nid,
       |         round(${sqlDot("q.embedding", "n.embedding")}, 6) AS cos,
       |         q.label AS own, n.label AS nbr
       |  FROM cand c
       |  JOIN embeddings q ON q.vec_id = c.qid
       |  JOIN embeddings n ON n.vec_id = c.nid),
       |top AS (
       |  SELECT qid, own, nid, nbr FROM (
       |    SELECT qid, own, nid, nbr,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY cos DESC, nid ASC) AS rk
       |    FROM pairs) WHERE rk <= $NoiseK),
       |counts AS (
       |  SELECT qid, own, nbr, count(*) AS cnt
       |  FROM top GROUP BY qid, own, nbr),
       |knn AS (
       |  SELECT qid, own, nbr AS knn_label FROM (
       |    SELECT qid, own, nbr,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY cnt DESC, nbr ASC) AS mrk
       |    FROM counts) WHERE mrk = 1),
       |agree AS (
       |  SELECT qid, CAST(coalesce(sum(CASE WHEN nbr = own THEN cnt END), 0)
       |         AS BIGINT) AS n_agree
       |  FROM counts GROUP BY qid)
       |SELECT k.qid AS vec_id, CAST(k.own AS INTEGER) AS label,
       |       CAST(k.knn_label AS INTEGER) AS knn_label, a.n_agree
       |FROM knn k JOIN agree a USING (qid)
       |WHERE k.knn_label <> k.own
       |ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- q297
  /** [[Round18Queries.postingsAppendFromSnapshots]]'s ANN twin — the
    * snapshot cursor feeding the SECOND index family: each interval's
    * delta (the ingested vector files, named exactly by the manifest
    * difference) is encoded against the index's EXISTING quantizers
    * and appended into the cluster-partitioned inverted lists
    * ([[graft.ann.Ann.ivfPqAppend]] — centroids/codebooks untouched by
    * construction, so per-vector assignments are independent and any
    * interval split lands on the same index state the union append
    * would). Same contracts as the postings twin: the index must
    * exist (built for the from-snapshot's state), a rewrite inside
    * the range fails loudly at the delta read (a compacted vector
    * lake needs a rebuild/retrain decision, not an append). Returns
    * the number of non-empty intervals applied. */
  def ivfPqAppendFromSnapshots(s: SparkSession, snapDir: String,
      indexDir: String, fromId: Int, toId: Int): Int = {
    val metaP = new org.apache.hadoop.fs.Path(s"$indexDir/centroids")
    val fs = metaP.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(metaP))
      sys.error("ivfPqAppendFromSnapshots: no persisted IVF-PQ index " +
        s"at $indexDir — build offline for snapshot $fromId first")
    (fromId until toId).count { k =>
      val delta = graft.io.SnapshotStore.readDelta(s, snapDir, k, k + 1)
        .select(col("vec_id"), col("embedding"))
      val nonEmpty = !delta.isEmpty
      if (nonEmpty) Ann.ivfPqAppend(delta, indexDir)
      nonEmpty
    }
  }

  /** SNAPSHOT-CURSOR IVF-PQ CATCH-UP — the round-13 cursor-fed-index
    * pattern on the SECOND index family
    * ([[ivfPqAppendFromSnapshots]]): the
    * vector lake is snapshotted as it grows, and the serving index is
    * brought current by replaying manifest intervals through
    * [[graft.ann.Ann.ivfPqAppend]] — each delta encoded against the
    * EXISTING quantizers (centroids/codebooks untouched, so the
    * catch-up lands on exactly the state a one-shot append of the
    * union would; q251's append contract). The gated cycle: seed half
    * the vectors → snapshot 1 → coarse+PQ build for that state → two
    * ingests land as snapshots 2 and 3 → cursor catch-up 1→3 → the
    * standard probe serves. The oracle replays the probe from the
    * index's OWN artifacts (the shared [[ivfPqProbeSql]]) — which
    * checks probe correctness over whatever was indexed — PLUS the
    * indexed-row count against the full embeddings table, so an index
    * that missed a file, re-read one, or double-applied an interval
    * fails on n_indexed even before the ranking moves.
    *
    * 100 TB shape: catch-up cost = Σ batch encodes (each against
    * broadcast quantizers, appended into cluster partitions) +
    * manifest TSV reads for discovery; the vector lake's history is
    * never re-encoded. Bench-excluded (cold k-means build per call by
    * construction — the q292/q294 rationale; the append and probe
    * marginals are benched by q251/q245).
    */
  private def ivfPqCursorIndexPath(sfDir: String): String =
    new java.io.File(s"target/ivfpq-cursor/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  private[operators] def annLakePath(sfDir: String): String =
    new java.io.File(s"target/annlake/${PathTag.tagFor(sfDir)}")
      .getAbsolutePath

  private def rmrfAnn(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrfAnn); f.delete(); ()
  }

  def q297IvfPqCursorCatchup(s: SparkSession, dir: String): DataFrame = {
    val lake = annLakePath(dir)
    val lakeVecs = s"$lake/embeddings.parquet"
    val snaps = s"$lake/snapshots"
    val idx = ivfPqCursorIndexPath(dir)
    rmrfAnn(new java.io.File(lake))
    rmrfAnn(new java.io.File(idx))
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    e.filter(col("vec_id") % 4 < 2)
      .write.mode("overwrite").parquet(lakeVecs)
    graft.io.SnapshotStore.record(s, lakeVecs, snaps)
    Ann.ivfPqBuild(graft.io.SnapshotStore.readAsOf(s, snaps, 1),
      idx, IvfPqClusters, PqM, PqCodes)
    e.filter(col("vec_id") % 4 === 2)
      .write.mode("append").parquet(lakeVecs)
    graft.io.SnapshotStore.record(s, lakeVecs, snaps)
    e.filter(col("vec_id") % 4 === 3)
      .write.mode("append").parquet(lakeVecs)
    graft.io.SnapshotStore.record(s, lakeVecs, snaps)
    val applied = ivfPqAppendFromSnapshots(s, snaps, idx, 1, 3)
    val nIndexed = s.read.parquet(s"$idx/assignments").count()
    Ann.ivfPqProbe(querySubset(s, dir), idx, PqTopK, IvfPqNprobe)
      .select(col("qid"), col("nid"), col("adc_micro"), col("rk"))
      .withColumn("n_applied", lit(applied.toLong))
      .withColumn("n_indexed", lit(nIndexed))
      .orderBy(col("qid"), col("rk"))
  }

  /** The shared probe replay over the caught-up index's artifacts +
    * the indexed-count tie to the full embeddings table + the cycle's
    * contract constant. */
  def q297Sql(sfDir: String): String = {
    val base = ivfPqProbeSql(ivfPqCursorIndexPath(sfDir))
    val spliced = base.replace(
      "CAST(rk AS BIGINT) AS rk\nFROM best WHERE rk <=",
      "CAST(rk AS BIGINT) AS rk,\n       CAST(2 AS BIGINT) AS n_applied," +
        "\n       ni.n_indexed\nFROM best CROSS JOIN (\n" +
        "  SELECT CAST(count(*) AS BIGINT) AS n_indexed FROM embeddings)" +
        " ni\nWHERE rk <=")
    require(spliced != base,
      "q297Sql: the probe oracle template moved — update the splice")
    spliced
  }

  /** The `sqlFor _` oracles depend on the gate's sf dir (q43 reads the
    * materialized IVF index for that dir); the rest are static. */
  val registry: Seq[Query] = Seq(
    Query("q297_ivfpq_cursor_catchup", q297IvfPqCursorCatchup _, q297Sql _),
    Query("q245_ivfpq_topk", q245IvfPqTopK _, q245Sql _),
    Query("q251_ivfpq_append", q251IvfPqAppendProbe _, q251Sql _),
    Query("q252_nprobe_curve", q252NprobeCurve _, q252Sql _),
    Query("q254_ivfpq_delete", q254IvfPqDelete _, q254Sql _),
    Query("q258_ivfpq_compact", q258IvfPqCompact _, q258Sql _),
    Query("q259_pq_drift_audit", q259PqDriftAudit _, q259Sql _),
    Query("q260_label_noise_audit", q260LabelNoiseAudit _, q260Sql),
    Query("q262_label_noise_blocked", q262LabelNoiseBlocked _, q262Sql),
    Query("q263_nprobe_auto", q263NprobeAuto _, q263Sql _),
    Query("q272_nprobe_choice_persist", q272NprobeChoicePersist _, q272Sql _),
    Query("q276_lifecycle_cycle", q276LifecycleCycle _, q276Sql _),
    Query("q264_ivfpq_retrain", q264IvfPqRetrain _, q264Sql _),
    Query("q265_compaction_policy", q265CompactionPolicy _, q265Sql _),
    Query("q247_filtered_ann", q247FilteredAnn _, q247Sql),
    Query("q249_ivfpq_rerank", q249IvfPqRerank _, q249Sql _),
    Query("q250_multiprobe_lsh", q250MultiProbeLsh _, q250Sql),
    Query("q20_lsh_top1_banded", q20LshTop1Banded _, q20Sql),
    Query("q21_knn_bruteforce", q21KnnBruteForce _, q21Sql),
    Query("q287_hard_negative_mining", q287HardNegativeMining _, q287Sql),
    Query("q22_lsh_buckets", q22LshBuckets _, q22Sql),
    Query("q23_lsh_top1", q23LshTop1 _, q23Sql),
    Query("q24_embedding_near_dups", q24EmbeddingNearDups _, q24Sql),
    Query("q43_ivf_topk", q43IvfTopK _, q43Sql _),
    Query("q232_pq_topk", q232PqTopK _, q232Sql _),
    Query("q233_pq_rerank", q233PqRerank _, q233Sql _),
    Query("q47_embedding_centroids", q47EmbeddingCentroids _, q47Sql),
    Query("q49_nearest_centroid", q49NearestCentroid _, q49Sql),
    Query("q89_quantized_topk", q89QuantizedTopK _, q89Sql),
    Query("q99_ann_recall", q99AnnRecall _, q99Sql),
    Query("q102_semantic_dedup", q102SemanticDedup _, q102Sql),
    Query("q106_embedding_outliers", q106EmbeddingOutliers _, q106Sql),
    Query("q107_confusion_matrix", q107ConfusionMatrix _, q107Sql),
  )
}
