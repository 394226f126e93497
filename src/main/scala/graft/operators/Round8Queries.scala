package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables

/** Round-8 additions (driver round 4, batch 5): exact-substring
  * duplicate spans, a distributed embedding Gram matrix through a typed
  * Aggregator, contrastive hard-negative mining, tokenizer fertility,
  * balanced shard planning, and video frame-sampling plumbing.
  *
  * Same contract as every gated family: floating-point expressions use
  * the SAME form on both engines and are quantized to integer units
  * BEFORE any aggregation, so every sum the gate hashes is an integer
  * sum — bit-identical under any partitioning.
  */
object Round8Queries {

  // ---------------------------------------------------------------- q153
  /** Exact-substring duplicate spans — the character-level dedup pass of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al., 2022), re-expressed relationally: a position in a document is
    * DUPLICATED when the L-char substring starting there occurs at least
    * twice in the corpus; overlapping duplicated positions merge into
    * SPANS (the text a scrubber would actually cut). The suffix-array
    * construction the paper uses is replaced by the shuffle-native
    * equivalent: overlapping L-grams + a count(*) >= 2 dup set + an
    * islands merge — each stage a keyed aggregate/join that partitions
    * cleanly at 100 TB (the paper's single-machine suffix array does
    * not).
    *
    * Plan shape — the 100 TB path (this IS the gated form): the gram
    * key is the 64-bit Rabin–Karp rolling hash
    * ([[graft.functions.RollingHashesExpr]], one codegen pass per doc,
    * O(1) per position), so the corpus-scale count exchange carries
    * 8-byte longs with map-side combine — never L-char strings. The dup
    * hash set (distinct hashes with count ≥ 2 — duplicate-VOCABULARY
    * sized, not corpus sized) broadcasts back and prunes the second
    * scan map-side; only the surviving candidate positions (~1/3 here)
    * materialize their substring, and an exact string count over
    * candidates removes hash collisions (equal grams always share a
    * hash, so pruning never loses a true duplicate; unequal grams
    * collide at ~2⁻⁶⁴ and die in the verify — results stay EXACTLY the
    * string-gram semantics the oracle computes). Then one per-doc
    * window merges islands (intervals [pos, pos+L-1] merge while the
    * gap to the previous matched position is <= L). Under extreme gram
    * skew the hash count is already partial-aggregated (hot keys
    * combine map-side); the dup set is localCheckpointed and COUNTED,
    * and past `graft.substr.maxBroadcastDupHashes` (default 64M
    * entries ≈ 512 MB of longs, safely inside Spark's 8 GB broadcast
    * ceiling) the hinted broadcast swaps to a shuffled left-semi join —
    * same semantics, no driver OOM. The checkpoint also means the gram
    * aggregation runs once, not once per consumer. Docs shorter than L
    * chars drop from both engines identically.
    */
  val SubstrL = 20

  def q153ExactSubstrSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("n_chars") >= SubstrL)
      .select(col("doc_id"), col("text"))
    // the gram-id stream never carries text: (doc_id, p0, h) only —
    // column pruning drops text right after the Generate
    def hashedIds = docs.select(col("doc_id"),
        posexplode(graft.functions.RollingHashesFn(col("text"), SubstrL))
          .as(Seq("p0", "h")))
    // corpus-scale count: longs only, partial-aggregated; checkpointed
    // so the size gate's count and the prune join share ONE evaluation
    val dupH = hashedIds.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
      .localCheckpoint()
    // broadcast only under the capacity gate; past it, the same
    // left-semi prune rides a shuffled join (identical semantics)
    val dupSide = BoundedBroadcast.boundedBroadcast(dupH,
      "graft.substr.maxBroadcastDupHashes", 64L * 1000 * 1000)
    // map-side candidate prune (ids only), then re-attach text by doc
    // and materialize the substring ONLY for candidate positions
    val cand = hashedIds.join(dupSide, Seq("h"), "left_semi")
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"))
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        expr(s"substring(text, cast(pos as int), $SubstrL)").as("g"))
    // exact verify on the candidate set: hash collisions die here; a
    // window count keeps cand single-evaluation (one string exchange,
    // candidates only)
    val matched = cand
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("c") >= 2)
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    matched
      .withColumn("is_new",
        when(col("pos") - lag(col("pos"), 1).over(w) <= SubstrL, 0L)
          .otherwise(1L))
      .withColumn("span_id", sum(col("is_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(count(lit(1)).as("n_pos"),
        (max(col("pos")) - min(col("pos")) + SubstrL).cast("long")
          .as("covered"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_pos")).as("n_dup_positions"),
        count(lit(1)).as("n_spans"),
        sum(col("covered")).as("covered_chars"))
      .orderBy(col("doc_id"))
  }

  val q153Sql: String =
    s"""WITH grams AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, substr(text, CAST(i AS INT), $SubstrL) AS g
       |  FROM documents, unnest(range(1, CAST(n_chars AS INT) - $SubstrL + 2)) AS t(i)
       |  WHERE n_chars >= $SubstrL),
       |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
       |matched AS (SELECT doc_id, pos FROM grams SEMI JOIN dup USING (g)),
       |flagged AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |              <= $SubstrL THEN 0 ELSE 1 END AS is_new
       |  FROM matched),
       |spans AS (
       |  SELECT doc_id, pos,
       |    sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos
       |                      ROWS UNBOUNDED PRECEDING) AS span_id
       |  FROM flagged),
       |per_span AS (
       |  SELECT doc_id, span_id, count(*) AS n_pos,
       |    max(pos) - min(pos) + $SubstrL AS covered
       |  FROM spans GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(n_pos) AS BIGINT) AS n_dup_positions,
       |  CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(sum(covered) AS BIGINT) AS covered_chars
       |FROM per_span GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q154
  /** Corpus covariance/Gram matrix over the embedding column — the
    * moment computation under PCA, whitening, and Mahalanobis outlier
    * scoring (the matrix-valued sibling of q106's per-dim z-score
    * moments). The engine folds each row's 64×65/2 outer-product terms
    * into ONE flat long buffer inside the map-side partial aggregate
    * ([[graft.functions.GramMatrixAgg]]) — the exchange carries a
    * ~16 KiB buffer per partition, a map-only scan plus constant-size
    * merge at 100 TB — where the relational route (the oracle) unnests
    * to corpus×64 rows and self-joins to corpus×2080 before its first
    * aggregate. Output is the exact integer numerator
    * n·Σxy − Σx·Σy = n²·cov over micro-quantized coordinates (q141's
    * proven `round(1e6·x)` form); no doubles anywhere, overflow guarded
    * loudly in `finish`.
    */
  val GramDim = 64

  def q154EmbeddingCovariance(s: SparkSession, dir: String): DataFrame = {
    val gram = udaf(new graft.functions.GramMatrixAgg(GramDim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    Tables.embeddings(s, dir)
      .agg(gram(col("embedding")).as("cells"))
      .select(explode(col("cells")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"),
        col("c.cov_num").as("cov_num"))
      .orderBy(col("i"), col("j"))
  }

  val q154Sql: String =
    """WITH e AS (
      |  SELECT vec_id, unnest(embedding) AS x,
      |         generate_subscripts(embedding, 1) - 1 AS i
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, i, CAST(round(1e6 * x) AS BIGINT) AS q FROM e),
      |n AS (SELECT count(*) AS n FROM embeddings),
      |s AS (SELECT i, CAST(sum(q) AS BIGINT) AS sx FROM q GROUP BY i),
      |p AS (
      |  SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS sxy
      |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY 1, 2)
      |SELECT CAST(p.i AS INTEGER) AS i, CAST(p.j AS INTEGER) AS j,
      |  CAST(n.n * p.sxy - sa.sx * sb.sx AS BIGINT) AS cov_num
      |FROM p CROSS JOIN n
      |JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j
      |ORDER BY i, j""".stripMargin

  // ---------------------------------------------------------------- q155
  /** Contrastive hard-negative mining — for every embedding, the most
    * similar CANDIDATE embedding carrying a DIFFERENT label (the
    * negatives a contrastive or metric-learning trainer pairs with each
    * anchor; random negatives are too easy, so the miner looks for the
    * nearest wrong-label neighbor). The gated path is the BLOCKED form
    * — the 100 TB shape, not all-pairs: each vector probes its TOP-2
    * q47 label centroids (the q102/q49 assignment, widened to 2 probes
    * because the hardest negative by construction sits between two
    * classes), candidates are cross-label pairs sharing a probed
    * cluster — an EQUI-join on the cluster key, n²·(2/C)²·C pairs
    * instead of n² — and only candidates are scored. Scoring is the
    * exact integer dot of micro-quantized vectors through the codegen
    * [[graft.functions.IntDotProduct]] kernel — no doubles, no cosine
    * division, so the argmax is hash-exact with zero rounding rules;
    * the argmax itself is the q49 partial-agg struct-max (tie → smaller
    * neighbor id via the negated-id field), never a window over the
    * pair table. The oracle replays the identical blocking (centroids,
    * probes, candidate join) so the gate stays hash-exact; recall vs
    * the unblocked brute-force truth is asserted in Round8QueriesSpec
    * (same contract as q102/q20: blocking is THE product, brute force
    * is the spec's measuring stick).
    */
  val HardNegProbes = 2

  def q155HardNegatives(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    // top-2 centroid probes per vector: tiny broadcast cross (|labels|
    // rows), window over C rows per vector — metadata scale
    val cent = AnnQueries.centroidArrays(s, dir)
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("c_label").asc)
    val probes = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("c_label"),
        round(graft.functions.VectorFunctions.dotD(
          col("embedding").cast("array<double>"), col("centroid")), 6)
          .as("ccos"))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= HardNegProbes)
      .select(col("vec_id"), col("c_label").as("cluster"))
      // plain localCheckpoint, deliberately: parallelizing the pinned
      // 1-task pair explosion via ParallelCheckpoint was A/B'd in r16
      // (interleaved medians 3.13 s vs 2.76 s — the extra exchange
      // costs more than the serial stage) and probes is corpus-sized
      // at lake scale (≥cores partitions on its own).
      .localCheckpoint()
    // candidate ids: cross-label pairs sharing a probed cluster —
    // ids only through the equi-join; vectors attach after the distinct
    val lbl = e.select(col("vec_id"), col("label"))
    val aIds = probes.join(lbl, Seq("vec_id"))
    val bIds = aIds.select(col("vec_id").as("neg_id"),
      col("label").as("neg_label"), col("cluster"))
    val candIds = aIds.join(bIds, Seq("cluster"))
      .filter(col("label") =!= col("neg_label"))
      .select(col("vec_id"), col("neg_id")).distinct()
    val q = e.select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(round(1e6 * x) as int))").as("qv"))
    candIds
      .join(q.select(col("vec_id"), col("label"), col("qv").as("qa")),
        Seq("vec_id"))
      .join(q.select(col("vec_id").as("neg_id"),
        col("label").as("neg_label"), col("qv").as("qb")), Seq("neg_id"))
      .withColumn("dp", org.apache.spark.sql.GraftSqlApi.column(
        graft.functions.IntDotProduct(
          org.apache.spark.sql.GraftSqlApi.expr(col("qa")),
          org.apache.spark.sql.GraftSqlApi.expr(col("qb")))))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(struct(col("dp"), (-col("neg_id")).as("nneg"),
        col("neg_label").as("nl"))).as("m"))
      .select(col("vec_id"), col("label"),
        (-col("m.nneg")).cast("long").as("neg_id"),
        col("m.nl").as("neg_label"), col("m.dp").as("dp"))
      .orderBy(col("vec_id"))
  }

  val q155Sql: String =
    """WITH dims AS (
      |  SELECT vec_id, label, j,
      |         CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE) AS v
      |  FROM embeddings, range(64) t(j)),
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
      |  SELECT DISTINCT pa.vec_id AS vec_id, pb.vec_id AS neg_id
      |  FROM probes pa JOIN probes pb ON pa.cluster = pb.cluster
      |  JOIN embeddings ea ON ea.vec_id = pa.vec_id
      |  JOIN embeddings eb ON eb.vec_id = pb.vec_id
      |  WHERE ea.label <> eb.label),
      |q AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(round(1e6 * x) AS BIGINT)) AS qv
      |  FROM embeddings),
      |d AS (
      |  SELECT vec_id, label, unnest(qv) AS v,
      |         generate_subscripts(qv, 1) AS j
      |  FROM q),
      |dots AS (
      |  SELECT c.vec_id, a.label, c.neg_id, b.label AS neg_label,
      |         CAST(sum(a.v * b.v) AS BIGINT) AS dp
      |  FROM cand c
      |  JOIN d a ON a.vec_id = c.vec_id
      |  JOIN d b ON b.vec_id = c.neg_id AND b.j = a.j
      |  GROUP BY 1, 2, 3, 4),
      |best AS (
      |  SELECT vec_id, label, neg_id, neg_label, dp,
      |         row_number() OVER (PARTITION BY vec_id
      |                            ORDER BY dp DESC, neg_id ASC) AS rk
      |  FROM dots)
      |SELECT vec_id, label, neg_id, neg_label, dp
      |FROM best WHERE rk = 1 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q157
  /** Balanced output-shard planning — assign documents to N shards with
    * near-equal total bytes (the write-side layout primitive: training
    * shards, tar files, webdataset chunks all want byte balance, and
    * naive hash assignment leaves the largest shard dominated by
    * whatever big docs it drew). Deterministic serpentine
    * (boustrophedon) assignment: rank docs by size desc (doc_id
    * tie-break), walk shards 0..N−1 then N−1..0 — each N-sized block
    * contributes one doc per shard, with the zig-zag cancelling the
    * within-block size gradient that plain round-robin accumulates.
    * The plan stage is rank arithmetic, no data moves; the global rank
    * comes from [[RelationalOps.globalRank]] — a range-partitioned sort
    * with per-partition cumulative offsets, never a single-partition
    * window — so the plan itself scales with the corpus it lays out.
    * Gate output is the per-shard manifest; the spec asserts the
    * balance property itself.
    */
  val NumShards = 8

  def q157ShardPlan(s: SparkSession, dir: String): DataFrame =
    RelationalOps.globalRank(
      Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
      "rn", col("n_chars").desc, col("doc_id"))
      .withColumn("shard", expr(
        s"""cast(case when ((rn - 1) div $NumShards) % 2 = 0
           |          then (rn - 1) % $NumShards
           |          else $NumShards - 1 - (rn - 1) % $NumShards end
           |     as int)""".stripMargin))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("shard_chars"))
      .orderBy(col("shard"))

  val q157Sql: String =
    s"""WITH ranked AS (
       |  SELECT doc_id, n_chars,
       |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM documents),
       |assigned AS (
       |  SELECT doc_id, n_chars,
       |    CAST(CASE WHEN ((rn - 1) // $NumShards) % 2 = 0
       |              THEN (rn - 1) % $NumShards
       |              ELSE $NumShards - 1 - (rn - 1) % $NumShards END
       |         AS INTEGER) AS shard
       |  FROM ranked)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS shard_chars
       |FROM assigned GROUP BY shard ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------- q158
  /** Video frame-sampling plumbing — the third modality's extract step
    * (images decode in q45, audio in q132; actual video CODECS are not
    * in this container, so the decode stays behind the documented
    * [[graft.multimodal.Multimodal]] stub): for every synthetic video
    * asset, derive the frame count from the container metadata
    * (30 fps nominal), select every 30th frame (1 Hz sampling — the
    * standard cheap keyframe grid for vision-model pretraining), and
    * emit one row per sampled frame with its exact integer-µs timestamp
    * and a deterministic frame reference (md5 of content-hash + frame
    * index — the handle a real decoder would replace with pixels). The
    * whole pass is a row-local sequence explode over the asset table —
    * map-only, no shuffle before the output sort; at 100 TB frame
    * EXTRACTION parallelizes per asset while frame BYTES stay out of
    * the exchange (only references move, the q152 hashes-not-content
    * rule).
    */
  val Fps = 30
  val SampleEvery = 30

  def q158VideoFrameSample(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.metadataExpr(
        graft.multimodal.Multimodal.synthesizeAssets(Tables.documents(s, dir)))
      .filter(col("kind") === "video")
      .withColumn("n_frames", expr(s"(duration_ms * $Fps) div 1000"))
      .select(col("asset_id"), col("content_hash"),
        explode(expr(s"sequence(0, cast(n_frames as int) - 1, $SampleEvery)"))
          .as("frame_idx"))
      .select(col("asset_id"), col("frame_idx"),
        expr(s"(cast(frame_idx as bigint) * 1000000) div $Fps").as("ts_us"),
        md5(concat(col("content_hash"), lit(":"),
          col("frame_idx").cast("string")).cast("binary")).as("frame_ref"))
      .orderBy(col("asset_id"), col("frame_idx"))

  val q158Sql: String =
    s"""WITH v AS (
       |  SELECT doc_id AS asset_id, md5(text) AS content_hash,
       |         CAST(n_chars * 10 AS BIGINT) AS duration_ms
       |  FROM documents WHERE doc_id % 3 = 2),
       |f AS (
       |  SELECT asset_id, content_hash,
       |    unnest(range(0, (duration_ms * $Fps) // 1000, $SampleEvery)) AS frame_idx
       |  FROM v)
       |SELECT asset_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       |  CAST((frame_idx * 1000000) // $Fps AS BIGINT) AS ts_us,
       |  md5(content_hash || ':' || CAST(frame_idx AS VARCHAR)) AS frame_ref
       |FROM f ORDER BY asset_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- q159
  /** k-anonymity suppression audit — the governance gate run before a
    * corpus (or its metadata) is shared: rows whose quasi-identifier
    * combination (source, lang, length bucket) is shared by fewer than
    * K documents are re-identifiable and must be suppressed or
    * generalized; the audit reports, per source, how many QI groups and
    * documents fall below K. Two keyed aggregates — the QI group table
    * is bounded by the QI-domain product (sources × langs × buckets),
    * orders of magnitude below the corpus, so the second rollup is
    * metadata-sized at any scale. The risk rate is one exact-long
    * division per source (HALF_UP micro units, the q127 rate rule).
    */
  val AnonK = 5
  val LenBucket = 100

  def q159KAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), col("lang"),
        expr(s"n_chars div $LenBucket").as("len_b"))
      .groupBy(col("source"), col("lang"), col("len_b"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("cnt")).as("n_docs"),
        sum(when(col("cnt") < AnonK, 1L).otherwise(0L)).as("n_risky_groups"),
        sum(when(col("cnt") < AnonK, col("cnt")).otherwise(0L))
          .as("docs_at_risk"))
      .withColumn("risk_micro",
        expr("cast(round(1e6 * (docs_at_risk / n_docs)) as bigint)"))
      .orderBy(col("source"))

  val q159Sql: String =
    s"""WITH g AS (
       |  SELECT source, lang, n_chars // $LenBucket AS len_b,
       |         count(*) AS cnt
       |  FROM documents GROUP BY 1, 2, 3)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(cnt) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN cnt < $AnonK THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_risky_groups,
       |  CAST(sum(CASE WHEN cnt < $AnonK THEN cnt ELSE 0 END) AS BIGINT)
       |    AS docs_at_risk,
       |  CAST(round(1e6 * (sum(CASE WHEN cnt < $AnonK THEN cnt ELSE 0 END)
       |       / sum(cnt))) AS BIGINT) AS risk_micro
       |FROM g GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q160
  /** Web-provenance rollup — the per-TLD/per-domain accounting a web
    * corpus runs before mixing (robots compliance, domain caps, TLD
    * quality priors all key on it). Documents carry no URL, so one is
    * synthesized deterministically (md5-derived domain id — the q147
    * synthesis pattern) and then PARSED BACK with the same
    * lookaround-free regexes on both engines (Java regex and RE2 agree
    * on this subset — the q147 rule); the parse, not the synthesis, is
    * the operator under test. Row-local regexp projections (codegen,
    * no HOF) into one TLD-keyed aggregate; the distinct-domain count
    * is the only second exchange, bounded by the domain universe.
    */
  def q160DomainRollup(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("u|"),
      col("doc_id").cast("string")).cast("binary")), 1, 12), 16, 10)
      .cast("long")
    Tables.documents(s, dir)
      .withColumn("h", h)
      .withColumn("url", concat(lit("https://d"),
        (col("h") % 500).cast("string"), lit("."),
        element_at(typedLit(Seq("com", "org", "net", "io", "edu")),
          ((col("h") / 500) % 5).cast("int") + 1),
        lit("/"), col("source"), lit("/"), col("doc_id").cast("string")))
      .select(col("doc_id"), col("n_chars"), col("url"),
        regexp_extract(col("url"), "^https?://([^/]+)/", 1).as("host"),
        regexp_extract(col("url"), "^https?://[^/]+(/.*)$", 1).as("path"))
      .withColumn("tld", regexp_extract(col("host"), "\\.([a-z]+)$", 1))
      .withColumn("n_path_segs",
        (size(split(col("path"), "/")) - 1).cast("long"))
      .groupBy(col("tld"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_domains"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_path_segs")).as("sum_path_segs"))
      .orderBy(col("tld"))
  }

  val q160Sql: String =
    """WITH u AS (
      |  SELECT doc_id, n_chars,
      |    'https://d' || CAST(h % 500 AS VARCHAR) || '.' ||
      |      (['com','org','net','io','edu'])[CAST((h // 500) % 5 AS INTEGER) + 1] ||
      |      '/' || source || '/' || CAST(doc_id AS VARCHAR) AS url
      |  FROM (SELECT doc_id, n_chars, source,
      |          CAST(concat('0x', substr(md5('u|' || CAST(doc_id AS VARCHAR)), 1, 12))
      |               AS BIGINT) AS h
      |        FROM documents)),
      |p AS (
      |  SELECT doc_id, n_chars,
      |    regexp_extract(url, '^https?://([^/]+)/', 1) AS host,
      |    regexp_extract(url, '^https?://[^/]+(/.*)$', 1) AS path
      |  FROM u),
      |t AS (
      |  SELECT doc_id, n_chars, host,
      |    regexp_extract(host, '\.([a-z]+)$', 1) AS tld,
      |    CAST(len(str_split(path, '/')) - 1 AS BIGINT) AS n_path_segs
      |  FROM p)
      |SELECT tld, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT host) AS BIGINT) AS n_domains,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(n_path_segs) AS BIGINT) AS sum_path_segs
      |FROM t GROUP BY tld ORDER BY tld""".stripMargin

  // ---------------------------------------------------------------- q161
  /** Join-key skew audit — the diagnostic run BEFORE sizing a shuffle:
    * per-key cardinalities of the events user_id key reduced to a
    * one-row skew profile (max/avg pressure, median and p99 key
    * counts, a Gini concentration coefficient, and the salt factor
    * [[Skew]] would need). The corpus-sized pass is the ONE groupBy
    * producing the key-cardinality table; everything after runs on
    * that table (|keys| rows, orders below the data) — rank window
    * included. Gini uses the exact rank form
    * G = (2·Σi·cᵢ − (n+1)·Σc) / (n·Σc) over counts sorted (c, key) —
    * all integer sums, one HALF_UP micro division at the end.
    * Recommended salt = max(1, ceil(max_c·n_keys / n_rows)) rounds the
    * max key's pressure over the average up — integer-exact via
    * (a + b − 1) div b.
    */
  def q161SkewAudit(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    RelationalOps.globalRank(counts, "i", col("c"), col("user_id"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"),
        max(col("c")).as("max_c"),
        sum(col("i") * col("c")).as("ic"))
      .withColumn("gini_micro", expr(
        "cast(round(1e6 * ((2.0 * ic - (n_keys + 1.0) * n_rows) / (cast(n_keys as double) * n_rows))) as bigint)"))
      .withColumn("salt_factor", expr(
        "greatest(1L, (max_c * n_keys + n_rows - 1) div n_rows)"))
      .select(col("n_keys"), col("n_rows"), col("max_c"),
        col("gini_micro"), col("salt_factor"))
  }

  val q161Sql: String =
    """WITH c AS (
      |  SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
      |r AS (
      |  SELECT c, CAST(row_number() OVER (ORDER BY c, user_id) AS BIGINT) AS i
      |  FROM c),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(sum(c) AS BIGINT) AS n_rows,
      |    CAST(max(c) AS BIGINT) AS max_c,
      |    CAST(sum(i * c) AS BIGINT) AS ic
      |  FROM r)
      |SELECT n_keys, n_rows, max_c,
      |  CAST(round(1e6 * ((2.0 * ic - (n_keys + 1.0) * n_rows)
      |       / (CAST(n_keys AS DOUBLE) * n_rows))) AS BIGINT) AS gini_micro,
      |  greatest(1, (max_c * n_keys + n_rows - 1) // n_rows) AS salt_factor
      |FROM a""".stripMargin

  // ---------------------------------------------------------------- q162
  /** Sentence segmentation stats — the sentence-level layer of the
    * text-quality stack (q25 lang-ID, q26 quality, q138 char entropy
    * are char/token-level): terminator-run sentence counting and
    * words-per-sentence, rolled up per language. Both measures are
    * row-local `regexp_extract_all` sizes — codegen regex, no explode,
    * no HOF lambda (the q138 rule: the corpus never leaves one
    * projection) — into one lang-keyed aggregate. The per-lang ratio
    * divides two exact long sums once (HALF_UP micro). Docs with no
    * terminator count zero sentences; the rate guards the zero
    * denominator with a NULL (ANSI-safe on both engines).
    */
  def q162SentenceStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long")
          .as("n_sent"),
        size(expr("regexp_extract_all(text, '[^ ]+', 0)")).cast("long")
          .as("n_words"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sent")).as("sum_sent"),
        sum(col("n_words")).as("sum_words"))
      .withColumn("words_per_sent_micro", expr(
        "case when sum_sent = 0 then null " +
          "else cast(round(1e6 * (sum_words / sum_sent)) as bigint) end"))
      .orderBy(col("lang"))

  val q162Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_sent) AS BIGINT) AS sum_sent,
      |  CAST(sum(n_words) AS BIGINT) AS sum_words,
      |  CASE WHEN sum(n_sent) = 0 THEN NULL
      |       ELSE CAST(round(1e6 * (sum(n_words) / sum(n_sent))) AS BIGINT)
      |  END AS words_per_sent_micro
      |FROM (
      |  SELECT lang,
      |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sent,
      |    CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS n_words
      |  FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q163
  /** PCA top component by power iteration — the follow-on that makes
    * q154's moment pass USEFUL: three max-norm-rescaled power-iteration
    * rounds over the covariance numerators give the dominant principal
    * direction (whitening axes, embedding drift monitors, and q141-style
    * projection bases all start here). The CORPUS-sized work is exactly
    * the one-pass [[graft.functions.GramMatrixAgg]] fold; the 2080-cell
    * matrix is then metadata (constant in corpus size — the q124
    * plan-on-metadata rule), so the iteration runs on collected cells in
    * exact integer arithmetic: micro-unit covariance m = cov_num div
    * (n²·10⁶), v₀ = 1e6·𝟙, w = M·v in BigInt (the ·10⁶ rescale step
    * exceeds long range; DuckDB's HUGEINT sums are the oracle twin),
    * v ← w·10⁶ div max|w| — every step truncation-toward-zero division,
    * identical on both engines, so three rounds are bit-exact with the
    * oracle's unrolled CTE chain. Sign and convergence are deterministic
    * because v₀ is fixed — no random restarts.
    */
  val PowerRounds = 3

  def q163PowerIteration(s: SparkSession, dir: String): DataFrame = {
    val d = GramDim
    val n = Tables.embeddings(s, dir).count()
    val cells = q154EmbeddingCovariance(s, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val scale = n * n * 1000000L
    val m = Array.ofDim[Long](d, d)
    cells.foreach { case (i, j, c) =>
      val v = c / scale
      m(i)(j) = v
      m(j)(i) = v
    }
    var v = Array.fill(d)(BigInt(1000000L))
    for (_ <- 1 to PowerRounds) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => BigInt(m(i)(j)) * v(j)).sum)
      val mx = w.map(_.abs).max
      require(mx > 0, "zero covariance matrix — power iteration undefined")
      v = w.map(_ * 1000000L / mx)
    }
    import s.implicits._
    v.zipWithIndex.map { case (x, i) => (i, x.toLong) }.toSeq
      .toDF("i", "v_micro").orderBy(col("i"))
  }

  val q163Sql: String = {
    def round(t: Int): String =
      s"""w$t AS (
         |  SELECT m.i AS j, CAST(sum(m.v * v${t - 1}.v) AS HUGEINT) AS w
         |  FROM m JOIN v${t - 1} ON m.j = v${t - 1}.j GROUP BY m.i),
         |x$t AS (SELECT max(abs(w)) AS mx FROM w$t),
         |v$t AS (SELECT j, (w * 1000000) // mx AS v FROM w$t CROSS JOIN x$t)"""
        .stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, unnest(embedding) AS x,
       |         generate_subscripts(embedding, 1) - 1 AS i
       |  FROM embeddings),
       |q AS (SELECT vec_id, i, CAST(round(1e6 * x) AS BIGINT) AS q FROM e),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       |sx AS (SELECT i, CAST(sum(q) AS BIGINT) AS sx FROM q GROUP BY i),
       |p AS (
       |  SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS sxy
       |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
       |  GROUP BY 1, 2),
       |cells AS (
       |  SELECT p.i, p.j,
       |    CAST(n.n * p.sxy - sa.sx * sb.sx AS BIGINT) AS cov_num
       |  FROM p CROSS JOIN n
       |  JOIN sx sa ON sa.i = p.i JOIN sx sb ON sb.i = p.j),
       |m0 AS (
       |  SELECT i, j, cov_num // (n.n * n.n * 1000000) AS v
       |  FROM cells CROSS JOIN n),
       |m AS (
       |  SELECT i, j, v FROM m0
       |  UNION ALL
       |  SELECT j AS i, i AS j, v FROM m0 WHERE i <> j),
       |v0 AS (SELECT CAST(t.i AS INTEGER) AS j, CAST(1000000 AS HUGEINT) AS v
       |       FROM range(0, $GramDim) t(i)),
       |${(1 to PowerRounds).map(round).mkString(",\n")}
       |SELECT CAST(j AS INTEGER) AS i, CAST(v AS BIGINT) AS v_micro
       |FROM v$PowerRounds ORDER BY i""".stripMargin
  }

  // ---------------------------------------------------------------- q164
  /** VARIANT semi-structured ingestion — Spark 4's open-ended
    * semi-structured type end to end: nested JSON (synthesized
    * deterministically per doc, the q147/q160 pattern) is parsed ONCE
    * into a `VARIANT` column with `parse_json`, then typed paths come
    * out via `variant_get` — nested object fields, an array index, and
    * a numeric leaf — and aggregate per extracted language. Against
    * schema-on-read (q35's per-path `get_json_object` string parsing),
    * the variant encodes once into a binary form each later extraction
    * reads without re-parsing — the right shape when one 100 TB ingest
    * feeds many extraction passes. Everything is row-local codegen
    * until the single lang-keyed aggregate; the oracle runs the same
    * paths through DuckDB's JSON extractors on the identically
    * synthesized strings.
    */
  def q164VariantExtract(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("j|"),
      col("doc_id").cast("string")).cast("binary")), 1, 12), 16, 10)
      .cast("long")
    Tables.documents(s, dir)
      .withColumn("h", h)
      .withColumn("js", concat(
        lit("{\"meta\":{\"lang\":\""), col("lang"),
        lit("\",\"chars\":"), col("n_chars").cast("string"),
        lit("},\"tags\":[\"t"), (col("h") % 7).cast("string"),
        lit("\",\"t"), (col("h") % 11).cast("string"),
        lit("\"],\"prio\":"), (col("h") % 10).cast("string"), lit("}")))
      .withColumn("v", parse_json(col("js")))
      .select(
        expr("variant_get(v, '$.meta.lang', 'string')").as("vlang"),
        expr("variant_get(v, '$.meta.chars', 'long')").as("vchars"),
        expr("variant_get(v, '$.prio', 'long')").as("prio"),
        expr("variant_get(v, '$.tags[0]', 'string')").as("tag0"))
      .groupBy(col("vlang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("vchars")).as("sum_chars"),
        sum(col("prio")).as("sum_prio"),
        countDistinct(col("tag0")).as("n_tag0"))
      .orderBy(col("vlang"))
  }

  val q164Sql: String =
    """WITH j AS (
      |  SELECT '{"meta":{"lang":"' || lang || '","chars":' ||
      |    CAST(n_chars AS VARCHAR) || '},"tags":["t' ||
      |    CAST(h % 7 AS VARCHAR) || '","t' || CAST(h % 11 AS VARCHAR) ||
      |    '"],"prio":' || CAST(h % 10 AS VARCHAR) || '}' AS js
      |  FROM (SELECT lang, n_chars,
      |          CAST(concat('0x', substr(md5('j|' || CAST(doc_id AS VARCHAR)), 1, 12))
      |               AS BIGINT) AS h
      |        FROM documents)),
      |x AS (
      |  SELECT json_extract_string(js, '$.meta.lang') AS vlang,
      |    CAST(json_extract(js, '$.meta.chars') AS BIGINT) AS vchars,
      |    CAST(json_extract(js, '$.prio') AS BIGINT) AS prio,
      |    json_extract_string(js, '$.tags[0]') AS tag0
      |  FROM j)
      |SELECT vlang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(vchars) AS BIGINT) AS sum_chars,
      |  CAST(sum(prio) AS BIGINT) AS sum_prio,
      |  CAST(count(DISTINCT tag0) AS BIGINT) AS n_tag0
      |FROM x GROUP BY vlang ORDER BY vlang""".stripMargin

  // ---------------------------------------------------------------- q165
  /** Largest-remainder (Hamilton) budget apportionment — the exact
    * integer answer to "allocate a B-document sampling budget across
    * sources proportional to size": floor quotas first, then the
    * leftover seats go to the largest remainders (rank-deterministic,
    * source tie-break). Proportional float quotas drift and never sum
    * to B; this is the allocation a mixture-budgeted curation pass
    * actually executes (q103's temperature mix picks the WEIGHTS; this
    * turns weights into exact integer doc counts). Everything after
    * the one corpus-sized groupBy runs on the |sources| table —
    * windows included; integer div/mod only, zero doubles anywhere.
    */
  val Budget = 100L

  def q165BudgetApportion(s: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("cnt"))
    val wAll = Window.partitionBy(lit(1))
    val wRem = Window.orderBy(col("rem").desc, col("source"))
    cnt
      .withColumn("total", sum(col("cnt")).over(wAll))
      .withColumn("base", expr(s"($Budget * cnt) div total"))
      .withColumn("rem", expr(s"($Budget * cnt) % total"))
      .withColumn("extra_rank", row_number().over(wRem).cast("long"))
      .withColumn("n_extra", lit(Budget) - sum(col("base")).over(wAll))
      .withColumn("alloc",
        col("base") + when(col("extra_rank") <= col("n_extra"), 1L)
          .otherwise(0L))
      .select(col("source"), col("cnt"), col("base"), col("rem"),
        col("alloc"))
      .orderBy(col("source"))
  }

  val q165Sql: String =
    s"""WITH c AS (
       |  SELECT source, count(*) AS cnt FROM documents GROUP BY source),
       |q AS (
       |  SELECT source, cnt,
       |    sum(cnt) OVER () AS total,
       |    ($Budget * cnt) // sum(cnt) OVER () AS base,
       |    ($Budget * cnt) % sum(cnt) OVER () AS rem
       |  FROM c),
       |r AS (
       |  SELECT source, cnt, base, rem,
       |    CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT)
       |      AS extra_rank,
       |    $Budget - sum(base) OVER () AS n_extra
       |  FROM q)
       |SELECT source, CAST(cnt AS BIGINT) AS cnt, CAST(base AS BIGINT) AS base,
       |  CAST(rem AS BIGINT) AS rem,
       |  CAST(base + CASE WHEN extra_rank <= n_extra THEN 1 ELSE 0 END
       |       AS BIGINT) AS alloc
       |FROM r ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q166
  /** Chi-square source-drift test statistic — the frequentist cousin of
    * q151's KL divergence: per source, Σ (obs − exp)²/exp over the FULL
    * vocabulary grid (zero-observation cells included — they carry
    * expectation mass the KL form never sees), where exp is the
    * source's token total times the blend's word share. The corpus pays
    * two token-keyed aggregates; the dense source×vocab grid is
    * vocab-bounded metadata (the q151 shape) built by a broadcast
    * cross join, with the per-cell term nano-quantized (HALF_UP) before
    * the integer per-source sum — the SAME `(obs − exp)·(obs − exp)/exp`
    * expression form on both engines (the q98/q113 portability rule).
    */
  def q166ChiSquareDrift(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
    val sw = tok.groupBy(col("source"), col("w")).agg(count(lit(1)).as("cs"))
    val st = tok.groupBy(col("source")).agg(count(lit(1)).as("ts"))
    val cw = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tt = tok.agg(count(lit(1)).as("t"))
    broadcast(st).crossJoin(broadcast(cw)).crossJoin(broadcast(tt))
      .join(sw, Seq("source", "w"), "left")
      .withColumn("obs", coalesce(col("cs"), lit(0L)))
      .withColumn("term", expr(
        "cast(round(1e9 * (obs - cast(ts as double) * c / t) " +
          "* (obs - cast(ts as double) * c / t) " +
          "/ (cast(ts as double) * c / t)) as bigint)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("obs") === 0L, 1L).otherwise(0L)).as("n_zero_cells"),
        sum(col("term")).as("chi2_nano"))
      .orderBy(col("source"))
  }

  val q166Sql: String =
    """WITH lists AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      |tok AS (SELECT source, unnest(toks) AS w FROM lists),
      |sw AS (SELECT source, w, count(*) AS cs FROM tok GROUP BY 1, 2),
      |st AS (SELECT source, count(*) AS ts FROM tok GROUP BY 1),
      |cw AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
      |tt AS (SELECT count(*) AS t FROM tok),
      |grid AS (
      |  SELECT st.source, cw.w, st.ts, cw.c, tt.t,
      |    COALESCE(sw.cs, 0) AS obs
      |  FROM st CROSS JOIN cw CROSS JOIN tt
      |  LEFT JOIN sw ON sw.source = st.source AND sw.w = cw.w),
      |terms AS (
      |  SELECT source, obs,
      |    CAST(round(1e9 * (obs - CAST(ts AS DOUBLE) * c / t)
      |         * (obs - CAST(ts AS DOUBLE) * c / t)
      |         / (CAST(ts AS DOUBLE) * c / t)) AS BIGINT) AS term
      |  FROM grid)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_cells,
      |  CAST(sum(CASE WHEN obs = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cells,
      |  CAST(sum(term) AS BIGINT) AS chi2_nano
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q168
  /** Intra-document repetition ratio — the MassiveText/Gopher
    * "fraction of tokens inside duplicate n-grams WITHIN the document"
    * quality rule (Rae et al., 2021), the intra-doc complement of
    * q153's cross-corpus spans: machine-generated and boilerplate text
    * repeats itself locally, and this is the standard cheap detector.
    * 4-grams come from `element_at` probes into each doc's own token
    * array (row-local and codegen — no per-doc window, no interpreted
    * transform lambda); duplicate membership is a (doc, gram) count —
    * the gram exchange is doc-keyed, so at 100 TB it partitions with
    * the document and never sees cross-doc traffic. Per-source rate is
    * one exact-long division (HALF_UP micro).
    */
  val RepN = 4

  def q168IntraDocRepetition(s: SparkSession, dir: String): DataFrame = {
    // row-local 4-grams (the q140/positionalShingles rationale, guide
    // section 2.4): the three following tokens are element_at probes
    // into the SAME row's array -- all codegen, no corpus-token
    // exchange + sort
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("source"), col("toks"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .filter(col("pos") + RepN <= size(col("toks")))
      .select(col("doc_id"), col("source"),
        concat_ws("", (col("tok") +: (1 until RepN).map(i =>
          element_at(col("toks"), col("pos") + lit(i + 1)))): _*).as("g"))
    grams
      .groupBy(col("doc_id"), col("source"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("cnt")).as("n_grams"),
        sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L)).as("dup_pos"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("sum_grams"),
        sum(col("dup_pos")).as("sum_dup_pos"))
      .withColumn("rep_micro", expr(
        "case when sum_grams = 0 then null " +
          "else cast(round(1e6 * (sum_dup_pos / sum_grams)) as bigint) end"))
      .orderBy(col("source"))
  }

  val q168Sql: String =
    s"""WITH lists AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       |tok AS (
       |  SELECT doc_id, source, unnest(toks) AS tok,
       |         CAST(unnest(range(1, len(toks) + 1)) AS BIGINT) AS pos
       |  FROM lists),
       |g AS (
       |  SELECT doc_id, source,
       |    tok || chr(1) || lead(tok, 1) OVER w || chr(1) ||
       |      lead(tok, 2) OVER w || chr(1) || lead(tok, 3) OVER w AS g,
       |    lead(tok, 3) OVER w IS NOT NULL AS is_full
       |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |cnt AS (
       |  SELECT doc_id, source, g, count(*) AS cnt
       |  FROM g WHERE is_full GROUP BY 1, 2, 3),
       |per_doc AS (
       |  SELECT doc_id, source, sum(cnt) AS n_grams,
       |    sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dup_pos
       |  FROM cnt GROUP BY 1, 2)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_grams) AS BIGINT) AS sum_grams,
       |  CAST(sum(dup_pos) AS BIGINT) AS sum_dup_pos,
       |  CASE WHEN sum(n_grams) = 0 THEN NULL
       |       ELSE CAST(round(1e6 * (sum(dup_pos) / sum(n_grams))) AS BIGINT)
       |  END AS rep_micro
       |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q153_exact_substr_spans", q153ExactSubstrSpans _, q153Sql),
    Query("q154_embedding_covariance", q154EmbeddingCovariance _, q154Sql),
    Query("q155_hard_negatives", q155HardNegatives _, q155Sql),
    Query("q157_shard_plan", q157ShardPlan _, q157Sql),
    Query("q158_video_frame_sample", q158VideoFrameSample _, q158Sql),
    Query("q159_k_anonymity", q159KAnonymity _, q159Sql),
    Query("q160_domain_rollup", q160DomainRollup _, q160Sql),
    Query("q161_skew_audit", q161SkewAudit _, q161Sql),
    Query("q162_sentence_stats", q162SentenceStats _, q162Sql),
    Query("q163_power_iteration", q163PowerIteration _, q163Sql),
    Query("q164_variant_extract", q164VariantExtract _, q164Sql),
    Query("q165_budget_apportion", q165BudgetApportion _, q165Sql),
    Query("q166_chi_square_drift", q166ChiSquareDrift _, q166Sql),
    Query("q168_intra_doc_repetition", q168IntraDocRepetition _, q168Sql),
  )
}
