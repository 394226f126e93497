package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables

/** Round-13 additions (driver round 5, batch 14): bitemporal as-of
  * (valid time × transaction time — the lakehouse correction-auditing
  * staple), column-level snapshot diff masks (the per-column drill q152's
  * row-level verdicts lack), weekly seasonal decomposition composed
  * on q218's exact-moment trend, MATCH_RECOGNIZE-lite sequence-pattern
  * matching over sessions, and the asymmetric containment join (the
  * excerpt detector symmetric Jaccard misses).
  *
  * Same determinism contract as every gated family: integer carriers
  * (micro-quantized residuals, integer µs), deterministic orderings with
  * unique-id tie-breaks, corpus-derived cutoffs in integer arithmetic.
  */
object Round13Queries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))

  // ---------------------------------------------------------------- q219
  /** Bitemporal as-of: reconstruct, AS THE SYSTEM KNEW AT T_tx, which
    * dimension version was VALID AT T_v — the two-axis query behind
    * "rerun January's report exactly as it looked before February's
    * late corrections landed". Dimension rows are signup events
    * (transaction time = arrival ts); every 7th event is a RETROACTIVE
    * correction whose valid time backdates by 3/8 of the corpus span
    * (deterministic residue; the backdate deliberately EXCEEDS the
    * t_tx − t_v gap, so corrections arriving after the knowledge
    * cutoff genuinely rewrite the valid axis — the spec proves the
    * naive filter-after-chain answer differs). The key bitemporal subtlety this query
    * exists to pin: valid-time intervals must be REBUILT from the rows
    * known at T_tx — an interval chain built over all rows and then
    * filtered is wrong, because a later-arriving correction splices
    * into the middle of the valid axis. Cutoffs are corpus-derived in
    * integer µs (T_tx at 3/4 of the span, T_v at 1/2), so the gate has
    * no wall-clock surface. Shape: one tx filter (scan-level), one
    * user-keyed window to chain valid intervals among surviving rows,
    * one PIT pick, version-keyed rollup — all user/version-keyed
    * exchanges.
    */
  def q219BitemporalAsOf(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val span = e.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
      .select(
        (col("lo") + expr("(hi - lo) * 3 div 4")).as("t_tx"),
        (col("lo") + expr("(hi - lo) div 2")).as("t_v"),
        expr("(hi - lo) * 3 div 8").as("backdate_us"))
    val known = e.filter(col("event_type") === "signup")
      .crossJoin(broadcast(span))
      .select(col("user_id"), col("event_id"), col("ts_us").as("tx_us"),
        (col("ts_us") - when(col("event_id") % 7 === 0, col("backdate_us"))
          .otherwise(0L)).as("valid_from_us"),
        col("t_tx"), col("t_v"))
      .filter(col("tx_us") <= col("t_tx"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from_us"), col("event_id"))
    val versions = known
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
    versions
      .filter(col("valid_from_us") <= col("t_v") &&
        (col("valid_to_us").isNull || col("t_v") < col("valid_to_us")))
      .groupBy(col("version").cast("long").as("version"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("event_id") % 7 === 0, 1L).otherwise(0L))
          .as("n_corrections"))
      .orderBy(col("version"))
  }

  val q219Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
      |  FROM events),
      |span AS (
      |  SELECT min(ts_us) + (max(ts_us) - min(ts_us)) * 3 // 4 AS t_tx,
      |         min(ts_us) + (max(ts_us) - min(ts_us)) // 2 AS t_v,
      |         (max(ts_us) - min(ts_us)) * 3 // 8 AS backdate_us
      |  FROM e),
      |known AS (
      |  SELECT user_id, event_id, ts_us AS tx_us,
      |         ts_us - CASE WHEN event_id % 7 = 0
      |                      THEN span.backdate_us ELSE 0 END AS valid_from_us
      |  FROM e CROSS JOIN span
      |  WHERE event_type = 'signup' AND ts_us <= span.t_tx),
      |versions AS (
      |  SELECT user_id, event_id, valid_from_us,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY valid_from_us, event_id) AS version,
      |         lead(valid_from_us) OVER (PARTITION BY user_id
      |                                   ORDER BY valid_from_us, event_id)
      |           AS valid_to_us
      |  FROM known)
      |SELECT CAST(version AS BIGINT) AS version, count(*) AS n_users,
      |       CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_corrections
      |FROM versions CROSS JOIN span
      |WHERE valid_from_us <= span.t_v
      |  AND (valid_to_us IS NULL OR span.t_v < valid_to_us)
      |GROUP BY version ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q220
  /** Column-level snapshot diff: q152 says WHICH rows changed; this
    * says WHICH COLUMNS drifted and how much — the schema-drift audit a
    * replication monitor runs before blaming a pipeline stage. Snapshot
    * B is a deterministic mutation of orders (orderkey residues:
    * %13 → price +1 cent, %17 → priority rotated, %19 → deleted,
    * %23 → inserted late, i.e. absent from A). One full-outer join on
    * the key — co-partitioned, no broadcast needed at any scale — then
    * row-local column compares aggregate into per-column drift counts
    * plus the add/delete/unchanged row split. Output is one row
    * (column-count-bounded); the corpus never leaves its key
    * partitioning.
    */
  def q220ColumnDiff(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        col("o_orderpriority").as("pri"))
    val a = base.filter(col("k") % 23 =!= 0)
    val b = base.filter(col("k") % 19 =!= 0)
      .select(col("k"),
        (col("cents") + when(col("k") % 13 === 0, 1L).otherwise(0L)).as("cents"),
        when(col("k") % 17 === 0, concat(lit("X-"), col("pri")))
          .otherwise(col("pri")).as("pri"))
    a.select(col("k"), col("cents").as("ca"), col("pri").as("pa"))
      .join(b.select(col("k"), col("cents").as("cb"), col("pri").as("pb")),
        Seq("k"), "full_outer")
      .agg(
        sum(when(col("ca").isNotNull && col("cb").isNotNull, 1L).otherwise(0L))
          .as("n_common"),
        sum(when(col("ca").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("cb").isNull, 1L).otherwise(0L)).as("n_deleted"),
        sum(when(col("ca").isNotNull && col("cb").isNotNull &&
          col("ca") =!= col("cb"), 1L).otherwise(0L)).as("n_price_drift"),
        sum(when(col("pa").isNotNull && col("pb").isNotNull &&
          col("pa") =!= col("pb"), 1L).otherwise(0L)).as("n_priority_drift"),
        sum(when(col("ca").isNotNull && col("cb").isNotNull &&
          col("ca") === col("cb") && col("pa") === col("pb"), 1L)
          .otherwise(0L)).as("n_identical"))
  }

  val q220Sql: String =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
      |         o_orderpriority AS pri
      |  FROM orders),
      |a AS (SELECT * FROM base WHERE k % 23 <> 0),
      |b AS (
      |  SELECT k, cents + CASE WHEN k % 13 = 0 THEN 1 ELSE 0 END AS cents,
      |         CASE WHEN k % 17 = 0 THEN 'X-' || pri ELSE pri END AS pri
      |  FROM base WHERE k % 19 <> 0)
      |SELECT
      |  CAST(sum(CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
      |  CAST(sum(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
      |  CAST(sum(CASE WHEN b.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
      |  CAST(sum(CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
      |                 AND a.cents <> b.cents THEN 1 ELSE 0 END) AS BIGINT) AS n_price_drift,
      |  CAST(sum(CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
      |                 AND a.pri <> b.pri THEN 1 ELSE 0 END) AS BIGINT) AS n_priority_drift,
      |  CAST(sum(CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
      |                 AND a.cents = b.cents AND a.pri = b.pri
      |            THEN 1 ELSE 0 END) AS BIGINT) AS n_identical
      |FROM a FULL OUTER JOIN b ON a.k = b.k""".stripMargin

  // ---------------------------------------------------------------- q221
  /** Weekly seasonal decomposition — detrend daily revenue with q218's
    * exact-moment OLS line, then the day-of-week seasonal index as the
    * mean detrended residual per (flag, dow): revenue ≈ trend +
    * seasonality + residual, the decomposition behind anomaly
    * baselines and forecast backstops. The trend line is the q218
    * contract (same exact-moment carrier, same 6dp rounding — the spec
    * pins equality to q218's slope/intercept) but derived HERE from
    * the already-built daily table, so lineitem scans ONCE — calling
    * q218 would rebuild the identical daily aggregate a second time;
    * the 3-row trend joins back by broadcast.
    * Determinism: slope/intercept are the q218 6dp-rounded doubles, the
    * residual y − (a + b·x) is the IDENTICAL expression on both
    * engines, and each residual is micro-quantized to a long BEFORE
    * the mean (sum of longs — reduce-order-free; a double sum of
    * residuals would not gate). Day-of-week is integer arithmetic on
    * the epoch day ((day + 4) % 7: day 0 = Thursday), no calendar
    * surface.
    */
  def q221SeasonalDecomposition(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
          .as("day"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .groupBy(col("l_returnflag"), col("day"))
      .agg(sum(col("cents")).as("y"))
    val x = col("day").cast("decimal(38,0)")
    val y = col("y").cast("decimal(38,0)")
    val asD = (c: Column) => c.cast("double")
    // q218's nullif guard: one-distinct-day groups have a 0 denominator;
    // NULL (not engine-dependent 0/0 NaN) on both engines
    val slopeExpr =
      (asD(col("n")) * asD(col("sxy")) - asD(col("sx")) * asD(col("sy"))) /
        nullif(asD(col("n")) * asD(col("sxx")) -
          asD(col("sx")) * asD(col("sx")), lit(0.0))
    val trend = daily.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
        sum(x * x).as("sxx"))
      .select(col("l_returnflag"),
        round(slopeExpr, 6).as("b"),
        round((asD(col("sy")) - asD(col("sx")) * slopeExpr) / asD(col("n")), 6)
          .as("a"))
    daily.join(broadcast(trend), Seq("l_returnflag"))
      .withColumn("resid_micro",
        round(lit(1e6) * (col("y").cast("double") -
          (col("a") + col("b") * col("day").cast("double"))), 0).cast("long"))
      .withColumn("dow", (col("day") + 4) % 7)
      .groupBy(col("l_returnflag"), col("dow"))
      .agg(count(lit(1)).as("n_days"),
        round(sum(col("resid_micro")).cast("double") / count(lit(1)) / 1e6, 6)
          .as("seasonal_cents"))
      .orderBy(col("l_returnflag"), col("dow"))
  }

  val q221Sql: String =
    """WITH daily AS (
      |  SELECT l_returnflag, epoch_us(l_shipdate) // 86400000000 AS day,
      |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS y
      |  FROM lineitem GROUP BY 1, 2),
      |m AS (
      |  SELECT l_returnflag, count(*) AS n,
      |         sum(day) AS sx, sum(y) AS sy, sum(day * y) AS sxy,
      |         sum(day * day) AS sxx
      |  FROM daily GROUP BY l_returnflag),
      |trend AS (
      |  SELECT l_returnflag,
      |         round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |                CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |               nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |                CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0), 6) AS b,
      |         round((CAST(sy AS DOUBLE) - CAST(sx AS DOUBLE) *
      |                ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |                  CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |                 nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |                  CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))) /
      |               CAST(n AS DOUBLE), 6) AS a
      |  FROM m)
      |SELECT d.l_returnflag, (d.day + 4) % 7 AS dow, count(*) AS n_days,
      |       round(CAST(sum(CAST(round(1e6 * (CAST(d.y AS DOUBLE) -
      |                 (t.a + t.b * CAST(d.day AS DOUBLE))), 0) AS BIGINT))
      |               AS DOUBLE) / count(*) / 1e6, 6) AS seasonal_cents
      |FROM daily d JOIN trend t ON d.l_returnflag = t.l_returnflag
      |GROUP BY d.l_returnflag, (d.day + 4) % 7
      |ORDER BY d.l_returnflag, dow""".stripMargin

  // ---------------------------------------------------------------- q222
  /** Sequence-pattern matching over sessions (MATCH_RECOGNIZE-lite):
    * count, per user, the q31 gap-sessions whose ORDERED event-type
    * sequence matches `view, at most one intermediate step, purchase` — behavioral
    * pattern analytics ("browse, then click, then what?") that funnel
    * counts (q65/q171: fixed steps, one traversal) cannot express. The
    * session's sequence materializes as an initials STRING via the
    * ANSI ordered aggregate (`listagg WITHIN GROUP`, the q176 surface
    * — `collect_list` is partition-arrival nondeterministic and could
    * never gate), and the pattern is one regex per session string:
    * sequences are session-bounded (the 30-min gap rule bounds both
    * string length and state), so the match cost is session-sized,
    * never corpus-sized. Both engines run the IDENTICAL pattern on the
    * IDENTICAL deterministically-ordered string — the (ts, event_id)
    * tie-break is what makes the string, and therefore the gate,
    * exact. Readout: per user, sessions total / matched / with any
    * error, plus the corpus-wide matched-session count law checked in
    * spec.
    */
  val SeqPattern = "v.?p" // view, <=1 intermediate, purchase (initials)

  def q222SequenceMatch(s: SparkSession, dir: String): DataFrame = {
    val gapMs = 30L * 60 * 1000
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val sessions = ev(s, dir)
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > gapMs * 1000, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions.createOrReplaceTempView("q222_sessions")
    s.sql(
      s"""WITH seqs AS (
         |  SELECT user_id, session_idx,
         |         listagg(substring(event_type, 1, 1), '')
         |           WITHIN GROUP (ORDER BY ts_us, event_id) AS seq
         |  FROM q222_sessions
         |  GROUP BY user_id, session_idx)
         |SELECT user_id, count(*) AS n_sessions,
         |       sum(CASE WHEN seq RLIKE '$SeqPattern' THEN 1 ELSE 0 END)
         |         AS n_matched,
         |       sum(CASE WHEN seq RLIKE 'e' THEN 1 ELSE 0 END) AS n_with_error
         |FROM seqs GROUP BY user_id ORDER BY user_id""".stripMargin)
  }

  val q222Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
       |  FROM events),
       |flagged AS (
       |  SELECT user_id, event_id, ts_us, event_type,
       |         CASE WHEN lag(ts_us) OVER (PARTITION BY user_id
       |                                    ORDER BY ts_us, event_id) IS NULL
       |               OR ts_us - lag(ts_us) OVER (PARTITION BY user_id
       |                                           ORDER BY ts_us, event_id)
       |                  > ${30L * 60 * 1000 * 1000} THEN 1 ELSE 0 END AS ns
       |  FROM e),
       |sessions AS (
       |  SELECT user_id, event_id, ts_us, event_type,
       |         sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |                       ROWS UNBOUNDED PRECEDING) AS session_idx
       |  FROM flagged),
       |seqs AS (
       |  SELECT user_id, session_idx,
       |         string_agg(substr(event_type, 1, 1), '' ORDER BY ts_us, event_id) AS seq
       |  FROM sessions GROUP BY user_id, session_idx)
       |SELECT user_id, count(*) AS n_sessions,
       |       CAST(sum(CASE WHEN regexp_matches(seq, '$SeqPattern') THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_matched,
       |       CAST(sum(CASE WHEN regexp_matches(seq, 'e') THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_with_error
       |FROM seqs GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q224
  /** Asymmetric containment join — find every (A, B) with
    * |A∩B| / |A| ≥ 0.9 over 5-token shingle sets: the EXCERPT/QUOTE
    * detector symmetric Jaccard (q211/q16) structurally misses — a
    * half-length quote has J ≈ 0.5 against its source (the length
    * filter kills it) but containment 1.0. The corpus is augmented
    * with DETERMINISTIC synthetic excerpts (every 37th doc truncated to
    * its first half at a token boundary, id-offset into a disjoint
    * range — both engines build the identical view, the q208 synthetic
    * -dirt rule), so the gate carries true positives the symmetric
    * join provably cannot see (the spec asserts exactly that).
    * Scalable form: the containment prefix theorem — if |A∩B| ≥
    * ⌈τ|A|⌉, one of A's first |A|−⌈τ|A|⌉+1 shingles (rarest-first
    * global order) is in B — so candidates are A-PREFIX tokens joined
    * against the FULL posting table (rare shingles ⇒ short posting
    * lists), pruned by the size bound 10·|B| ≥ 9·|A|, then exact
    * intersection verify on candidates only; the test 10·inter ≥ 9·|A|
    * is integer-exact. Directed output (contained → container).
    */
  val ContainTauNum = 9
  val ContainTauDen = 10
  val ExcerptIdOffset = 1000000L

  def q224ContainmentJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val excerpts = docs.filter(col("doc_id") % 37 === 0)
      .select((col("doc_id") + ExcerptIdOffset).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), lit(1),
          (size(split(col("text"), " ")) + 1) / 2)).as("text"))
    val corpus = docs.unionAll(excerpts)
    val sh = graft.dedup.Dedup.shingleSets(corpus, "doc_id", "text",
      Round12Queries.SetSimShingleN).localCheckpoint()
    // contained-side prefix (pi = sz - ceil(tau*sz) + 1), the
    // positional bound, and the exact verify reuse q211's shared
    // prefix-filter machinery — only the candidate join differs:
    // prefix(A) against the FULL rarity-ranked posting table
    val candIds = Round12Queries.containmentCandidates(
      Round12Queries.rankedByRarity(sh), ContainTauNum, ContainTauDen,
      positional = true)
    candIds.join(Round12Queries.pairIntersections(candIds, sh), Seq("a", "b"))
      .filter(col("inter") * ContainTauDen >= col("sza") * ContainTauNum)
      .select(col("a"), col("b"), col("inter"), col("sza"),
        round(lit(1e6) * col("inter") / col("sza"), 0).cast("long")
          .as("containment_micro"))
      .orderBy(col("a"), col("b"))
  }

  val q224Sql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $ExcerptIdOffset AS doc_id,
       |         array_to_string(string_split(text, ' ')[1:(len(string_split(text, ' ')) + 1) // 2], ' ') AS text
       |  FROM documents WHERE doc_id % 37 = 0),
       |lists AS (
       |  SELECT doc_id AS id,
       |         list_filter(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' '), x -> x <> '') AS toks
       |  FROM corpus),
       |sh AS (
       |  SELECT DISTINCT id, shingle FROM (
       |    SELECT id, unnest(list_transform(range(1, len(toks) - ${Round12Queries.SetSimShingleN - 2}),
       |                      i -> array_to_string(toks[i:i+${Round12Queries.SetSimShingleN - 1}], ' '))) AS shingle
       |    FROM lists)),
       |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
       |dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
       |ranked AS (
       |  SELECT s.id, s.shingle, z.sz,
       |         row_number() OVER (PARTITION BY s.id
       |                            ORDER BY d.df ASC, s.shingle ASC) AS rn
       |  FROM sh s JOIN dfreq d USING (shingle) JOIN sizes z ON z.id = s.id),
       |pfx AS (
       |  SELECT id AS a, shingle, sz AS sza FROM ranked
       |  WHERE rn <= sz - ($ContainTauNum * sz + $ContainTauNum) // $ContainTauDen + 1),
       |cands AS (
       |  SELECT DISTINCT p.a, s.id AS b, p.sza
       |  FROM pfx p JOIN sh s ON s.shingle = p.shingle
       |  JOIN sizes zb ON zb.id = s.id
       |  WHERE p.a <> s.id AND zb.sz * $ContainTauDen >= p.sza * $ContainTauNum),
       |inter AS (
       |  SELECT c.a, c.b, count(*) AS inter
       |  FROM cands c
       |  JOIN sh x ON x.id = c.a
       |  JOIN sh y ON y.id = c.b AND y.shingle = x.shingle
       |  GROUP BY c.a, c.b)
       |SELECT c.a, c.b, i.inter, c.sza,
       |       CAST(round(1e6 * i.inter / c.sza, 0) AS BIGINT) AS containment_micro
       |FROM cands c JOIN inter i ON i.a = c.a AND i.b = c.b
       |WHERE i.inter * $ContainTauDen >= c.sza * $ContainTauNum
       |ORDER BY c.a, c.b""".stripMargin

  // ------------------------------------------------------------ registry
  val registry: Seq[Query] = Seq(
    Query("q219_bitemporal_asof", q219BitemporalAsOf _, q219Sql),
    Query("q220_column_diff", q220ColumnDiff _, q220Sql),
    Query("q221_seasonal_decomposition", q221SeasonalDecomposition _, q221Sql),
    Query("q222_sequence_match", q222SequenceMatch _, q222Sql),
    Query("q224_containment_join", q224ContainmentJoin _, q224Sql),
  )
}
