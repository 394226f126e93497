package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables
import graft.dedup.Dedup

/** Round-12 additions (driver round 5, batch 13): eight operator
  * families the gated set had not exercised — an EXACT set-similarity
  * join via prefix filtering (the deterministic complement of the q16
  * LSH path), Aho–Corasick dictionary matching (one-pass multi-pattern
  * scan), Misra–Gries heavy hitters (bounded-summary candidates +
  * exact verify), rendezvous/HRW shard assignment (minimal-movement
  * data placement), the 2-D Pareto skyline (windows, not the O(n²)
  * dominance join), positional-index phrase retrieval (index ≡ scan),
  * the nearest-event temporal join (both directions, no pair join),
  * and grouped OLS trends from exact moments.
  *
  * Same determinism contract as every gated family: integer-exact
  * carriers and thresholds (cross-multiplied Jaccard, integer cents),
  * deterministic orderings with unique-id tie-breaks, md5 (never
  * rand()) wherever a hash is needed.
  */
object Round12Queries {

  // ---------------------------------------------------------------- q211
  /** Exact set-similarity self-join (AllPairs/PPJoin prefix filtering,
    * Bayardo et al. 2007) over 5-token shingle sets: find EVERY
    * document pair with Jaccard ≥ 0.8 — no LSH recall loss (q16 finds
    * what its bands recall; this finds all of them, deterministically).
    * The 100 TB shape: order each set's shingles rarest-first (global
    * df asc, shingle asc), keep only each set's PREFIX — the first
    * |d| − ⌈τ·|d|⌉ + 1 shingles — and equi-join prefixes on the
    * shingle: the prefix-filter theorem guarantees two sets with
    * J ≥ τ share a prefix token under a common global order, so the
    * candidate join touches the rare end of the vocabulary instead of
    * all co-occurring pairs. Candidates then pass the length filter
    * (τ·|a| ≤ |b|, cross-multiplied integers) and an exact
    * intersection count (keyed joins on the candidate set only);
    * the final test 9·inter ≥ 4·(|a|+|b|) is integer-exact
    * (⟺ inter/union ≥ 4/5). Readout carries jac_micro =
    * round(1e6·inter/union) — one double excursion, same expression
    * both engines.
    */
  val SetSimShingleN = 5
  val SetSimTauNum = 4 // tau = 4/5
  val SetSimTauDen = 5

  /** Rarity-ranked shingle stream (id, shingle, sz, rn): every set's
    * shingles positioned under the GLOBAL (df asc, shingle asc) order —
    * the shared substrate of the prefix-filter family. `rn` is the
    * 1-based position within the set; because the order is global, for
    * any two sets the shared shingle with maximal global order has
    * maximal rn in BOTH sets simultaneously (what makes the positional
    * bound a plain max aggregate).
    */
  private[operators] def rankedByRarity(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("id"))
      .orderBy(col("df").asc, col("shingle").asc)
    sh.join(dfreq, Seq("shingle"))
      .withColumn("rn", row_number().over(wOrd))
      .join(sizes, Seq("id"))
      .select(col("id"), col("shingle"), col("sz"), col("rn"))
  }

  /** Rarest-first prefix stream (id, shingle, sz, rn): each set's first
    * |d| − ⌈(tauNum/tauDen)·|d|⌉ + 1 shingles under the global order —
    * the prefix-filter machinery shared by q211 (symmetric Jaccard,
    * prefix ⋈ prefix) and q224 (containment, prefix ⋈ full postings).
    * One shared definition so the ceil arithmetic and the ordering
    * tie-break can never diverge between the two joins.
    */
  private[operators] def rarestFirstPrefix(ranked: DataFrame, tauNum: Int,
      tauDen: Int): DataFrame =
    ranked.filter(col("rn") <=
      col("sz") - expr(s"($tauNum * sz + $tauNum) div $tauDen") + 1)

  /** q211 candidate pairs with the PPJoin POSITIONAL filter (Xiao et
    * al.'s refinement of the Bayardo prefix filter): for a pair's
    * shared prefix tokens, let t be the one of maximal global order
    * (mrna/mrnb = its positions — the same token in both sets, see
    * [[rankedByRarity]]). Every shared token before t lies in BOTH
    * prefixes (prefixes are prefixes OF the global order), so it is
    * counted in n_shared; every shared token after t adds at most
    * min(|a|−mrna, |b|−mrnb). Hence
    *   |A∩B| ≤ n_shared + min(sza−mrna, szb−mrnb)
    * and a pair whose bound cannot reach the τ overlap
    * (cross-multiplied integers) is pruned BEFORE the verify joins —
    * strictly fewer candidates, identical final pairs (the bound is
    * sound, so no true pair is lost; the spec asserts both).
    */
  private[operators] def setSimCandidates(ranked: DataFrame,
      positional: Boolean, tauNum: Int = SetSimTauNum,
      tauDen: Int = SetSimTauDen): DataFrame = {
    val pfx = rarestFirstPrefix(ranked, tauNum, tauDen)
    val grouped = pfx.select(col("id").as("a"), col("shingle"),
        col("sz").as("sza"), col("rn").as("rna"))
      .join(pfx.select(col("id").as("b"), col("shingle"),
        col("sz").as("szb"), col("rn").as("rnb")), Seq("shingle"))
      .filter(col("a") < col("b") &&
        col("sza") * tauNum <= col("szb") * tauDen &&
        col("szb") * tauNum <= col("sza") * tauDen)
      .groupBy(col("a"), col("b"), col("sza"), col("szb"))
      .agg(count(lit(1)).as("n_shared"),
        max(col("rna")).as("mrna"), max(col("rnb")).as("mrnb"))
    val kept = if (positional)
      grouped.filter(
        (col("n_shared") +
          least(col("sza") - col("mrna"), col("szb") - col("mrnb"))) *
          (tauDen + tauNum) >=
          (col("sza") + col("szb")) * tauNum)
    else grouped
    kept.select(col("a"), col("b"), col("sza"), col("szb"))
  }

  /** q224 candidate pairs (containment, prefix(A) ⋈ full postings)
    * with the same positional bound: shared tokens before the maximal
    * shared A-prefix token t are necessarily in A's prefix (global
    * order) and in B (full postings carry every token), so n_shared
    * counts them; after t at most min(sza−mrna, szb−mrnb) remain. A
    * pair is pruned when the bound cannot reach ⌈τ·|A|⌉.
    */
  private[operators] def containmentCandidates(ranked: DataFrame,
      tauNum: Int, tauDen: Int, positional: Boolean): DataFrame = {
    val grouped = rarestFirstPrefix(ranked, tauNum, tauDen)
      .select(col("id").as("a"), col("shingle"),
        col("sz").as("sza"), col("rn").as("rna"))
      .join(ranked.select(col("id").as("b"), col("shingle"),
        col("sz").as("szb"), col("rn").as("rnb")), Seq("shingle"))
      .filter(col("a") =!= col("b") &&
        col("szb") * tauDen >= col("sza") * tauNum)
      .groupBy(col("a"), col("b"), col("sza"), col("szb"))
      .agg(count(lit(1)).as("n_shared"),
        max(col("rna")).as("mrna"), max(col("rnb")).as("mrnb"))
    val kept = if (positional)
      grouped.filter(
        (col("n_shared") +
          least(col("sza") - col("mrna"), col("szb") - col("mrnb"))) *
          tauDen >= col("sza") * tauNum)
    else grouped
    kept.select(col("a"), col("b"), col("sza"))
  }

  /** Exact |A∩B| per candidate (a, b) pair over the shingle table —
    * the verify stage shared by q211 and q224 (keyed joins on the
    * candidate set only, never all co-occurring pairs).
    */
  private[operators] def pairIntersections(cands: DataFrame,
      sh: DataFrame): DataFrame =
    cands.select(col("a"), col("b"))
      .join(sh.select(col("id").as("a"), col("shingle")), Seq("a"))
      .join(sh.select(col("id").as("b"), col("shingle")),
        Seq("b", "shingle"), "left_semi")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))

  /** PUBLIC exact set-similarity self-join over a long-form
    * (id, shingle) set table: every (a, b) pair with
    * Jaccard ≥ tauNum/tauDen, a < b, with exact intersection/union
    * counts and jac_micro. The full prefix + length + positional
    * filter pipeline with candidate-only verification — also the
    * target of the `/*+ SETSIM_JOIN(num, den) */` SQL hint
    * ([[graft.plans.SetSimHintRule]]). Unordered output; callers sort.
    */
  def setSimJoin(sh: DataFrame, tauNum: Int = SetSimTauNum,
      tauDen: Int = SetSimTauDen): DataFrame = {
    require(tauNum >= 1 && tauNum <= tauDen,
      s"setSimJoin: tau must be in (0, 1], got $tauNum/$tauDen")
    val cands = setSimCandidates(rankedByRarity(sh), positional = true,
      tauNum, tauDen)
    // exact verify: intersection counts on the candidate pairs only
    cands.join(pairIntersections(cands, sh), Seq("a", "b"))
      .filter(col("inter") * (tauDen + tauNum) >=
        (col("sza") + col("szb")) * tauNum)
      .select(col("a"), col("b"), col("inter"),
        (col("sza") + col("szb") - col("inter")).as("uni"),
        round(lit(1e6) * col("inter") /
          (col("sza") + col("szb") - col("inter")), 0).cast("long").as("jac_micro"))
  }

  def q211SetSimJoin(s: SparkSession, dir: String): DataFrame = {
    // the distinct shingle table appears 4x in the DAG (sizes, df,
    // prefixes, verify) — materialize it once; alternating A/B under
    // equal load at sf0.1: ~9.5 s checkpointed vs ~11.6 s lazy. At
    // 100 TB it is a persisted index artifact (built once offline).
    val sh = Dedup.shingleSets(Tables.documents(s, dir), "doc_id", "text",
      SetSimShingleN).localCheckpoint() // (id, shingle) distinct
    setSimJoin(sh, SetSimTauNum, SetSimTauDen).orderBy(col("a"), col("b"))
  }

  /** DuckDB oracle for [[setSimJoin]] parameterized by τ — shared by
    * q211 (4/5) and the SQL-hint gate q225 (2/3). */
  def setSimOracleSql(tauNum: Int, tauDen: Int): String =
    s"""WITH lists AS (
       |  SELECT doc_id AS id,
       |         list_filter(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' '), x -> x <> '') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT id, shingle FROM (
       |    SELECT id, unnest(list_transform(range(1, len(toks) - ${SetSimShingleN - 2}),
       |                      i -> array_to_string(toks[i:i+${SetSimShingleN - 1}], ' '))) AS shingle
       |    FROM lists)),
       |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
       |dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
       |ranked AS (
       |  SELECT s.id, s.shingle, z.sz,
       |         row_number() OVER (PARTITION BY s.id
       |                            ORDER BY d.df ASC, s.shingle ASC) AS rn
       |  FROM sh s JOIN dfreq d USING (shingle) JOIN sizes z ON z.id = s.id),
       |pfx AS (
       |  SELECT id, shingle, sz FROM ranked
       |  WHERE rn <= sz - ($tauNum * sz + $tauNum) // $tauDen + 1),
       |cands AS (
       |  SELECT DISTINCT a.id AS a, b.id AS b, a.sz AS sza, b.sz AS szb
       |  FROM pfx a JOIN pfx b ON a.shingle = b.shingle AND a.id < b.id
       |  WHERE a.sz * $tauNum <= b.sz * $tauDen
       |    AND b.sz * $tauNum <= a.sz * $tauDen),
       |inter AS (
       |  SELECT c.a, c.b, count(*) AS inter
       |  FROM cands c
       |  JOIN sh x ON x.id = c.a
       |  JOIN sh y ON y.id = c.b AND y.shingle = x.shingle
       |  GROUP BY c.a, c.b)
       |SELECT c.a, c.b, i.inter, c.sza + c.szb - i.inter AS uni,
       |       CAST(round(1e6 * i.inter / (c.sza + c.szb - i.inter), 0) AS BIGINT) AS jac_micro
       |FROM cands c JOIN inter i ON i.a = c.a AND i.b = c.b
       |WHERE i.inter * ${tauDen + tauNum} >= (c.sza + c.szb) * $tauNum
       |ORDER BY c.a, c.b""".stripMargin

  val q211Sql: String = setSimOracleSql(SetSimTauNum, SetSimTauDen)

  // ---------------------------------------------------------------- q225
  /** q211's exact join reached from PURE SQL, at a looser τ = 1/100:
    * the `/*+ SETSIM_JOIN(1, 100) */` hint ([[graft.plans.SetSimHintRule]])
    * rewrites the hinted (id, shingle) block into [[setSimJoin]] — the
    * full prefix + positional + verify pipeline — the way q46 reaches
    * q13's argmax through SIMILARITY_TOP1. The τ is chosen so the gate
    * DIFFERENTIATES the hint's parameter path: the corpus' Jaccard
    * distribution is bimodal (25 pairs ≥ 0.88, a dozen near 0.01–0.02,
    * nothing between), so any τ in (0.02, 0.88) — including an
    * ignored-args fallback to the 4/5 default — would reproduce q211's
    * 25 rows exactly; τ=1/100 yields 28 and so fails if the args stop
    * flowing. Requires a session built with GraftExtensions
    * (Verify/Bench set spark.sql.extensions).
    */
  def q225SqlSetSim(s: SparkSession, dir: String): DataFrame = {
    Dedup.shingleSets(Tables.documents(s, dir), "doc_id", "text",
      SetSimShingleN).localCheckpoint()
      .createOrReplaceTempView("graft_q225_shingles")
    s.sql("""SELECT a, b, inter, uni, jac_micro FROM (
            |  SELECT /*+ SETSIM_JOIN(1, 100) */ id, shingle
            |  FROM graft_q225_shingles
            |) ORDER BY a, b""".stripMargin)
  }

  val q225Sql: String = setSimOracleSql(1, 100)

  // ---------------------------------------------------------------- q212
  /** Aho–Corasick dictionary matching: per-pattern corpus occurrence
    * totals and containing-doc counts from ONE pass per document over
    * the [[graft.functions.AcCountsExpr]] automaton (codegen; the
    * automaton ships once by closure — a blocklist/PII-dictionary scan
    * at 100 TB is O(corpus), not O(corpus × |dictionary|)). Counts are
    * START-POSITION semantics: overlapping matches and matches inside
    * other patterns all count ("he" inside "the", "at" inside "data"),
    * which is what makes the automaton necessary — per-pattern
    * `replace`-arithmetic counts non-overlapping occurrences only. The
    * oracle replays the same semantics with a per-(doc, pattern) list
    * comprehension over start positions — O(corpus × |dict|), the
    * thing the automaton exists to avoid, acceptable at oracle scale.
    */
  val DictPatterns: Seq[String] = Seq(
    "at", "data", "der", "he", "ket", "market", "order", "the")

  def q212DictionaryMatch(s: SparkSession, dir: String): DataFrame = {
    val pats = DictPatterns.zipWithIndex
      .map { case (p, i) => (i, p) }
    val patDim = s.createDataFrame(pats).toDF("pid", "pattern")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.AcCountsFn(col("text"), DictPatterns))
          .as(Seq("pid", "c")))
      .groupBy(col("pid"))
      .agg(sum(col("c")).as("n_occurrences"),
        sum(when(col("c") > 0, 1L).otherwise(0L)).as("n_docs"))
      .join(broadcast(patDim), Seq("pid"))
      .select(col("pattern"), col("n_occurrences"), col("n_docs"))
      .orderBy(col("pattern"))
  }

  val q212Sql: String = {
    val values = DictPatterns.map(p => s"('$p')").mkString(", ")
    s"""WITH pats(pattern) AS (VALUES $values),
       |cnt AS (
       |  SELECT d.doc_id, p.pattern,
       |         len([i FOR i IN range(1, len(d.text) - len(p.pattern) + 2)
       |              IF substr(d.text, CAST(i AS INT), len(p.pattern)) = p.pattern])
       |           AS c
       |  FROM documents d CROSS JOIN pats p)
       |SELECT pattern, CAST(sum(c) AS BIGINT) AS n_occurrences,
       |       CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
       |FROM cnt GROUP BY pattern ORDER BY pattern""".stripMargin
  }

  // ---------------------------------------------------------------- q213
  /** Exact heavy hitters via Misra–Gries candidate pruning: all words
    * with count > n/k, computed as (1) a per-partition bounded
    * [[graft.functions.MisraGries]] summary (≤ k counters per
    * partition — the justified `mapPartitions`: the summary is
    * imperative bounded state, and its output is O(k·partitions) rows,
    * never the vocabulary), (2) the union of summaries as a broadcast
    * candidate set — COMPLETE by the MG pigeonhole guarantee (global
    * count > n/k ⇒ some partition count > n_p/k ⇒ in that summary),
    * (3) one exact count pass over candidate words only, thresholded
    * with the integer cross-multiplication cnt·k > n. At 100 TB the
    * exchange carries candidate-word counts, not the vocabulary — the
    * two-pass exact-HH pattern every frequency monitor runs. The
    * oracle is the direct HAVING form; results are identical because
    * MG only prunes, never decides. k = 30 puts the 1/k threshold
    * inside the frequency spread of this corpus's 29-word vocabulary,
    * so the gate returns a non-trivial subset (16 of 29 words at
    * sf0.01); with vocab < k the per-partition summaries never evict here
    * — the eviction/error-bound behavior is proven on adversarial
    * streams in Round12QueriesSpec, and at real scale (vocab >> k) the
    * pruning is what keeps the exchange candidate-sized.
    */
  val HhK = 30

  def q213HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // materialized once: the candidate pass, the n action, and the
    // exact count pass all read the same tokenization (lazy, the plan
    // re-ran the normalize+explode three times)
    val toks = Tables.documents(s, dir)
      .select(explode(split(graft.text.TextPrep.normalize(col("text")), " "))
        .as("word"))
      .filter(col("word") =!= "")
      .localCheckpoint()
    val cands = toks.as[String]
      .mapPartitions(it => graft.functions.MisraGries.summarize(it, HhK).keysIterator)
      .toDF("word").distinct()
    val n = toks.count()
    toks.join(broadcast(cands), Seq("word"), "left_semi")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * HhK > n)
      .orderBy(col("word"))
  }

  val q213Sql: String =
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' '), x -> x <> '')) AS word
       |  FROM documents),
       |n AS (SELECT count(*) AS n FROM tok)
       |SELECT word, count(*) AS cnt
       |FROM tok CROSS JOIN n
       |GROUP BY word, n.n HAVING count(*) * $HhK > n.n
       |ORDER BY word""".stripMargin

  // ---------------------------------------------------------------- q214
  /** Rendezvous (highest-random-weight) shard assignment and the
    * rebalance diff when one shard is added — the data-placement
    * primitive behind consistent cache/shard routing: every key scores
    * every shard with a deterministic hash weight (md5, the repo rule)
    * and lands on the argmax, so adding shard N+1 moves ONLY the keys
    * whose new argmax IS the new shard (provably minimal movement —
    * the argmax over a superset changes only to the new element; the
    * spec asserts the law). Per-key scoring is the q49 shape: explode
    * the shard list per key, partial-agg struct-max argmax — the
    * exchange carries one row per key per partition side, never the
    * keys × shards stream; both assignments co-partition on doc_id so
    * the diff join reuses the exchange.
    */
  val ShardsBefore = 8
  val ShardsAfter = 9

  private def hrwAssign(docs: DataFrame, nShards: Int, outCol: String): DataFrame =
    docs.select(col("doc_id"),
        explode(sequence(lit(0), lit(nShards - 1))).as("shard"))
      .withColumn("w", conv(substring(md5(concat(
        col("doc_id").cast("string"), lit(":"), col("shard").cast("string"))
          .cast("binary")), 1, 12), 16, 10).cast("long"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("w"), (-col("shard")).as("ns"))).as("m"))
      .select(col("doc_id"), (-col("m.ns")).cast("long").as(outCol))

  def q214RendezvousShards(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.documents(s, dir).select(col("doc_id"))
    val before = hrwAssign(keys, ShardsBefore, "shard_before")
    val after = hrwAssign(keys, ShardsAfter, "shard_after")
    before.join(after, Seq("doc_id"))
      .groupBy(col("shard_after").as("shard"))
      .agg(count(lit(1)).as("n_after"),
        sum(when(col("shard_before") === col("shard_after"), 1L).otherwise(0L))
          .as("n_stayed"),
        sum(when(col("shard_before") =!= col("shard_after"), 1L).otherwise(0L))
          .as("n_gained"))
      .orderBy(col("shard"))
  }

  val q214Sql: String =
    s"""WITH keys AS (SELECT doc_id FROM documents),
       |wb AS (
       |  SELECT k.doc_id, t.s AS shard,
       |         CAST(concat('0x', substr(md5(CAST(k.doc_id AS VARCHAR) || ':' || CAST(t.s AS VARCHAR)), 1, 12)) AS BIGINT) AS w
       |  FROM keys k, range($ShardsBefore) t(s)),
       |b AS (
       |  SELECT doc_id, shard AS shard_before FROM (
       |    SELECT doc_id, shard,
       |           row_number() OVER (PARTITION BY doc_id
       |                              ORDER BY w DESC, shard ASC) AS rk
       |    FROM wb) WHERE rk = 1),
       |wa AS (
       |  SELECT k.doc_id, t.s AS shard,
       |         CAST(concat('0x', substr(md5(CAST(k.doc_id AS VARCHAR) || ':' || CAST(t.s AS VARCHAR)), 1, 12)) AS BIGINT) AS w
       |  FROM keys k, range($ShardsAfter) t(s)),
       |a AS (
       |  SELECT doc_id, shard AS shard_after FROM (
       |    SELECT doc_id, shard,
       |           row_number() OVER (PARTITION BY doc_id
       |                              ORDER BY w DESC, shard ASC) AS rk
       |    FROM wa) WHERE rk = 1)
       |SELECT a.shard_after AS shard, count(*) AS n_after,
       |       CAST(sum(CASE WHEN b.shard_before = a.shard_after THEN 1 ELSE 0 END) AS BIGINT) AS n_stayed,
       |       CAST(sum(CASE WHEN b.shard_before <> a.shard_after THEN 1 ELSE 0 END) AS BIGINT) AS n_gained
       |FROM a JOIN b ON a.doc_id = b.doc_id
       |GROUP BY a.shard_after ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------- q215
  /** 2-D Pareto skyline per return flag — the multi-criteria "not
    * dominated" operator (cheapest price at each quantity level or
    * better): a point is dominated iff some other point is ≤ in both
    * dimensions and < in one. The O(n²) dominance join is replaced by
    * the sort-order identity: after pre-aggregating to distinct
    * (group, qty, cents) points (value-domain bounded — the corpus
    * never sorts), a point survives iff its cents beat the RANGE-frame
    * min over strictly-smaller quantities AND equal the min within its
    * own quantity. Two window passes, no join — at 100 TB the
    * pre-aggregate is the only corpus-scale exchange. Duplicate
    * (qty, cents) points are one skyline row carrying n_rows.
    */
  def q215Skyline(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .groupBy(col("l_returnflag"), col("qty"), col("cents"))
      .agg(count(lit(1)).as("n_rows"))
    val wLt = Window.partitionBy(col("l_returnflag")).orderBy(col("qty"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy(col("l_returnflag"), col("qty"))
    pts
      .withColumn("min_lt", min(col("cents")).over(wLt))
      .withColumn("min_eq", min(col("cents")).over(wEq))
      .filter((col("min_lt").isNull || col("cents") < col("min_lt")) &&
        col("cents") === col("min_eq"))
      .select(col("l_returnflag"), col("qty"), col("cents"), col("n_rows"))
      .orderBy(col("l_returnflag"), col("qty"))
  }

  val q215Sql: String =
    """WITH pts AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
      |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
      |         count(*) AS n_rows
      |  FROM lineitem GROUP BY 1, 2, 3),
      |w AS (
      |  SELECT l_returnflag, qty, cents, n_rows,
      |         min(cents) OVER (PARTITION BY l_returnflag ORDER BY qty
      |                          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS min_lt,
      |         min(cents) OVER (PARTITION BY l_returnflag, qty) AS min_eq
      |  FROM pts)
      |SELECT l_returnflag, qty, cents, n_rows
      |FROM w
      |WHERE (min_lt IS NULL OR cents < min_lt) AND cents = min_eq
      |ORDER BY l_returnflag, qty""".stripMargin

  // ---------------------------------------------------------------- q216
  /** Positional-index phrase retrieval: the q146 phrase count answered
    * FROM AN INVERTED INDEX instead of a scan — postings (doc, pos)
    * are built only for the dictionary words (at 100 TB the postings
    * table is the persisted search index and the scan never happens at
    * query time; here it derives inline with the word filter pushed
    * into the tokenize pass), and a phrase match is the EQUI-join
    * postings(w1) ⋈ postings(w2) ON (doc, pos+1) — the way a search
    * engine intersects positional postings, O(|postings|) not
    * O(corpus). Same split semantics as q146 (raw single-space split,
    * positions 1-based), so the result is BY CONSTRUCTION the q146
    * output — the spec asserts index ≡ scan, the classic
    * index-correctness gate.
    */
  def q216PositionalIndex(s: SparkSession, dir: String): DataFrame = {
    val w1 = Round7Queries.PhraseW1
    val w2 = Round7Queries.PhraseW2
    val postings = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p0", "word")))
      .filter(col("word").isin(w1, w2))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("word"))
    postings.filter(col("word") === w1)
      .select(col("doc_id"), col("pos"))
      .join(postings.filter(col("word") === w2)
          .select(col("doc_id"), (col("pos") - 1).as("pos")),
        Seq("doc_id", "pos"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_occ"))
      .orderBy(col("doc_id"))
  }

  val q216Sql: String =
    s"""WITH postings AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[CAST(i AS INT)] AS word
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |       unnest(range(1, len(ws) + 1)) t(i)
       |  WHERE ws[CAST(i AS INT)] IN ('${Round7Queries.PhraseW1}', '${Round7Queries.PhraseW2}'))
       |SELECT a.doc_id, count(*) AS n_occ
       |FROM postings a JOIN postings b
       |  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |WHERE a.word = '${Round7Queries.PhraseW1}' AND b.word = '${Round7Queries.PhraseW2}'
       |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin

  // ---------------------------------------------------------------- q217
  /** Nearest-event temporal join: each purchase finds its NEAREST click
    * by the same user within ±5 minutes — either direction, the sensor
    * -alignment/attribution variant q33's backward-only as-of cannot
    * express. No join at all: both event types merge into one user-
    * keyed timeline ordered by (ts, event_id); the previous click is a
    * running max over the preceding ROWS frame of the click-only ts
    * column, the next click the mirrored min over the following frame
    * — ONE window family, the 100 TB as-of shape (state ∝ timeline,
    * never purchases × clicks). Tie at equal distance → the earlier
    * click, by documented rule. Readout rolls up per user: purchases,
    * matches, side split, and the exact Σ|Δt| µs of matched pairs.
    */
  val NearTolUs: Long = 300L * 1000000

  def q217NearestEvent(s: SparkSession, dir: String): DataFrame = {
    val tl = ev(s, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"),
        when(col("event_type") === "click", col("ts_us")).as("cts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val scored = tl
      .withColumn("prev_ts",
        max(col("cts")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("next_ts",
        min(col("cts")).over(w.rowsBetween(1, Window.unboundedFollowing)))
      .filter(col("event_type") === "purchase")
      .withColumn("dt_prev",
        coalesce(col("ts_us") - col("prev_ts"), lit(Long.MaxValue)))
      .withColumn("dt_next",
        coalesce(col("next_ts") - col("ts_us"), lit(Long.MaxValue)))
      .withColumn("dt", least(col("dt_prev"), col("dt_next")))
      .withColumn("matched", col("dt") <= NearTolUs)
      .withColumn("side", when(!col("matched"), lit("none"))
        .when(col("dt_prev") <= col("dt_next"), lit("prev"))
        .otherwise(lit("next")))
    scored.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("matched"), 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("side") === "prev", 1L).otherwise(0L)).as("n_prev"),
        sum(when(col("side") === "next", 1L).otherwise(0L)).as("n_next"),
        sum(when(col("matched"), col("dt"))).as("sum_dt_us"))
      .orderBy(col("user_id"))
  }

  val q217Sql: String =
    s"""WITH tl AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
       |         CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS cts
       |  FROM events WHERE event_type IN ('purchase', 'click')),
       |scored AS (
       |  SELECT user_id, event_type,
       |         max(cts) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |           AS prev_ts,
       |         min(cts) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
       |           AS next_ts,
       |         ts_us
       |  FROM tl),
       |p AS (
       |  SELECT user_id,
       |         coalesce(ts_us - prev_ts, 9223372036854775807) AS dt_prev,
       |         coalesce(next_ts - ts_us, 9223372036854775807) AS dt_next
       |  FROM scored WHERE event_type = 'purchase'),
       |v AS (
       |  SELECT user_id, least(dt_prev, dt_next) AS dt,
       |         least(dt_prev, dt_next) <= $NearTolUs AS matched,
       |         CASE WHEN least(dt_prev, dt_next) > $NearTolUs THEN 'none'
       |              WHEN dt_prev <= dt_next THEN 'prev' ELSE 'next' END AS side
       |  FROM p)
       |SELECT user_id, count(*) AS n_purchases,
       |       CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       |       CAST(sum(CASE WHEN side = 'prev' THEN 1 ELSE 0 END) AS BIGINT) AS n_prev,
       |       CAST(sum(CASE WHEN side = 'next' THEN 1 ELSE 0 END) AS BIGINT) AS n_next,
       |       CAST(sum(CASE WHEN matched THEN dt END) AS BIGINT) AS sum_dt_us
       |FROM v GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q218
  /** Grouped OLS trend — per return flag, regress daily revenue (cents)
    * on the epoch-day index: slope, intercept, and R² from EXACT
    * moments (the q195 carrier: daily pre-aggregate first, then
    * DECIMAL(38,0) Σx/Σy/Σxy/Σxx/Σyy partial sums — bit-identical
    * under any partitioning, DuckDB HUGEINT twin), with ONE excursion
    * into doubles in the identical expression form on both engines.
    * The per-key-trend operator behind drift alarms and forecasting
    * backstops; the built-in regr_slope/corr aggregates are float
    * accumulators whose results depend on reduce order — unusable
    * under a hash gate. Two exchanges: the (flag, day) pre-aggregate
    * and the flag-keyed moment rollup.
    */
  def q218GroupedTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000").as("day"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .groupBy(col("l_returnflag"), col("day"))
      .agg(sum(col("cents")).as("y"))
    val x = col("day").cast("decimal(38,0)")
    val y = col("y").cast("decimal(38,0)")
    val asD = (c: Column) => c.cast("double")
    // nullif guards: a group with one distinct day has n·sxx − sx² = 0
    // exactly; 0/0 double NaN is engine-dependent, NULL is not — both
    // engines wrap the denominators identically (degenerate → NULL)
    val num = asD(col("n")) * asD(col("sxy")) - asD(col("sx")) * asD(col("sy"))
    val dxx = nullif(asD(col("n")) * asD(col("sxx")) -
      asD(col("sx")) * asD(col("sx")), lit(0.0))
    val dyy = nullif(asD(col("n")) * asD(col("syy")) -
      asD(col("sy")) * asD(col("sy")), lit(0.0))
    daily.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(col("l_returnflag"), col("n").cast("long").as("n_days"),
        round(num / dxx, 6).as("slope_cents_per_day"),
        round((asD(col("sy")) - asD(col("sx")) * (num / dxx)) /
          asD(col("n")), 6).as("intercept_cents"),
        round(pow(num, 2) / (dxx * dyy), 6).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  val q218Sql: String =
    """WITH daily AS (
      |  SELECT l_returnflag, epoch_us(l_shipdate) // 86400000000 AS day,
      |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS y
      |  FROM lineitem GROUP BY 1, 2),
      |m AS (
      |  SELECT l_returnflag, count(*) AS n,
      |         sum(day) AS sx, sum(y) AS sy, sum(day * y) AS sxy,
      |         sum(day * day) AS sxx, sum(y * y) AS syy
      |  FROM daily GROUP BY l_returnflag)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_days,
      |       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |              CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |             nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |              CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0), 6)
      |         AS slope_cents_per_day,
      |       round((CAST(sy AS DOUBLE) - CAST(sx AS DOUBLE) *
      |              ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |                CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |               nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |                CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))) /
      |             CAST(n AS DOUBLE), 6) AS intercept_cents,
      |       round(pow(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |                 CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2) /
      |             (nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |               CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0) *
      |              nullif(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
      |               CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0.0)), 6) AS r2
      |FROM m ORDER BY l_returnflag""".stripMargin

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))

  // ------------------------------------------------------------ registry
  val registry: Seq[Query] = Seq(
    Query("q211_setsim_join", q211SetSimJoin _, q211Sql),
    Query("q225_sql_setsim", q225SqlSetSim _, q225Sql),
    Query("q212_dictionary_match", q212DictionaryMatch _, q212Sql),
    Query("q213_heavy_hitters", q213HeavyHitters _, q213Sql),
    Query("q214_rendezvous_shards", q214RendezvousShards _, q214Sql),
    Query("q215_skyline", q215Skyline _, q215Sql),
    Query("q216_positional_index", q216PositionalIndex _, q216Sql),
    Query("q217_nearest_event", q217NearestEvent _, q217Sql),
    Query("q218_grouped_trend", q218GroupedTrend _, q218Sql),
  )
}
