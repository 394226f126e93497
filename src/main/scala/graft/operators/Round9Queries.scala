package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables

/** Round-9 additions (driver round 4, batch 6): the remaining SQL
  * surfaces new in Spark 4 (recursive CTE, `listagg`) plus four
  * event-analytics primitives every product/pipeline team runs —
  * retention cohorts, Benford profiling, Markov transitions, and
  * time-weighted averaging.
  *
  * Same determinism contract as every gated family: quantize floats to
  * integer units BEFORE any aggregate, divide once at the end with the
  * SAME expression form on both engines, round 6 (nano 9 for the
  * constant Benford expectation), and order rows by the output keys.
  */
object Round9Queries {

  // ---------------------------------------------------------------- q175
  /** Recursive CTE — ancestor-chain depth over a derived hierarchy,
    * Spark 4's `WITH RECURSIVE` surface end to end (to date the gated
    * set used recursion only on the DuckDB oracle side, q19/q44/q149).
    * The hierarchy is the 1-based heap ordering on suppliers
    * (parent(i) = i div 2), so depth-to-root is derivable yet the
    * query exercises true unbounded iteration: each recursive step is
    * a full distributed plan and the loop runs until the frontier
    * empties — ceil(log2 n) rounds, exactly the q19 pointer-jumping
    * bound, but driven by the engine's CTE machinery instead of a
    * driver loop. Pure-integer outputs (count + suppkey checksum), so
    * there is no float rule to defend. At 100 TB depth stays log n
    * (34 rounds for 2^34 rows) — well under Spark's recursion limit
    * of 100 — and every round is one shuffle-free projection+filter.
    */
  def q175RecursiveDepth(s: SparkSession, dir: String): DataFrame = {
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    s.sql(
      """WITH RECURSIVE walk AS (
        |  SELECT s_suppkey AS suppkey, s_suppkey + 1 AS cur, 0 AS depth
        |  FROM supplier
        |  UNION ALL
        |  SELECT suppkey, cur DIV 2 AS cur, depth + 1 AS depth
        |  FROM walk WHERE cur > 1
        |)
        |SELECT CAST(depth AS BIGINT) AS depth_to_root,
        |       count(*) AS n_suppliers,
        |       CAST(sum(suppkey) AS BIGINT) AS suppkey_sum
        |FROM walk WHERE cur = 1
        |GROUP BY depth ORDER BY depth_to_root""".stripMargin)
  }

  val q175Sql: String =
    """WITH RECURSIVE walk AS (
      |  SELECT s_suppkey AS suppkey, s_suppkey + 1 AS cur, 0 AS depth
      |  FROM supplier
      |  UNION ALL
      |  SELECT suppkey, cur // 2 AS cur, depth + 1 AS depth
      |  FROM walk WHERE cur > 1
      |)
      |SELECT CAST(depth AS BIGINT) AS depth_to_root,
      |       count(*) AS n_suppliers,
      |       CAST(sum(suppkey) AS BIGINT) AS suppkey_sum
      |FROM walk WHERE cur = 1
      |GROUP BY depth ORDER BY depth_to_root""".stripMargin

  // ---------------------------------------------------------------- q176
  /** Ordered string aggregation — `listagg(...) WITHIN GROUP (ORDER BY
    * ...)`, the ANSI surface Spark added in 4.0 (DuckDB's twin is
    * `string_agg(... ORDER BY ...)`). The per-source language
    * signature is the catalog-card use: distinct langs first (so the
    * concat is over a bounded set), deterministic because the ORDER BY
    * inside the aggregate fixes element order — the reason listagg
    * beats `concat_ws(collect_list(...))`, whose order is partition-
    * arrival nondeterminism. Signature table is |sources|×|langs|
    * bounded metadata at any corpus scale; n_docs rides the one real
    * corpus aggregate.
    */
  def q176LangSignature(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("documents")
    s.sql(
      """WITH dl AS (SELECT DISTINCT source, lang FROM documents),
        |sig AS (
        |  SELECT source, count(*) AS n_langs,
        |         listagg(lang, ',') WITHIN GROUP (ORDER BY lang) AS lang_sig
        |  FROM dl GROUP BY source),
        |cnt AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
        |SELECT sig.source, sig.n_langs, sig.lang_sig, cnt.n_docs
        |FROM sig JOIN cnt ON sig.source = cnt.source
        |ORDER BY sig.source""".stripMargin)
  }

  val q176Sql: String =
    """WITH dl AS (SELECT DISTINCT source, lang FROM documents),
      |sig AS (
      |  SELECT source, count(*) AS n_langs,
      |         string_agg(lang, ',' ORDER BY lang) AS lang_sig
      |  FROM dl GROUP BY source),
      |cnt AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
      |SELECT sig.source, sig.n_langs, sig.lang_sig, cnt.n_docs
      |FROM sig JOIN cnt ON sig.source = cnt.source
      |ORDER BY sig.source""".stripMargin

  // ---------------------------------------------------------------- q177
  /** Retention cohort matrix — the table behind every retention curve:
    * users cohorted by their FIRST active day, then for each (cohort,
    * day-offset) the share of the cohort still active. Day ids are
    * pure integer epoch-day division (the q30 window-id rule — no
    * date_trunc, no timezone surface anywhere near the gate). The
    * corpus work is two 2-column projection passes (Catalyst does not
    * share the dedup subplan; at 100 TB cache/checkpoint the (user,
    * day) table to make it one), every reduction keyed on user_id or
    * cohort_day; the matrix side is cohorts×offsets bounded metadata
    * and its joins broadcast (PlanSpec locks this). Retention is the
    * single final division of two exact counts.
    */
  def q177RetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_millis(ts) div 86400000").as("day"))
      .distinct()
    val fc = uw.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val act = uw.join(fc, "user_id")
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("active_users"))
    val sz = fc.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_size"))
    act.join(sz, "cohort_day")
      .withColumn("retention",
        round(col("active_users").cast("double") / col("cohort_size"), 6))
      .select(col("cohort_day"), col("day_offset"), col("active_users"),
        col("cohort_size"), col("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val q177Sql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
      |  FROM events),
      |fc AS (SELECT user_id, min(day) AS cohort_day FROM uw GROUP BY user_id),
      |act AS (
      |  SELECT f.cohort_day, u.day - f.cohort_day AS day_offset,
      |         count(*) AS active_users
      |  FROM uw u JOIN fc f ON u.user_id = f.user_id
      |  GROUP BY 1, 2),
      |sz AS (SELECT cohort_day, count(*) AS cohort_size FROM fc GROUP BY cohort_day)
      |SELECT a.cohort_day, a.day_offset, a.active_users, s.cohort_size,
      |       round(CAST(a.active_users AS DOUBLE) / s.cohort_size, 6) AS retention
      |FROM act a JOIN sz s ON a.cohort_day = s.cohort_day
      |ORDER BY a.cohort_day, a.day_offset""".stripMargin

  // ---------------------------------------------------------------- q178
  /** Benford leading-digit profile — the fraud/quality screen run over
    * any money or count column: observed first-significant-digit
    * shares vs the Benford expectation log10(1 + 1/d). The digit is
    * extracted EXACTLY — cents as a long, first character of its
    * decimal string — never via float log10 (whose boundary cells at
    * powers of ten drift between engines); valid because every
    * o_totalprice >= 1, so cents and value share a leading digit. The
    * expectation is the one cross-library float: same `ln(1+1/d)/
    * ln(10)` expression form on both engines, nano-quantized (the
    * q98/q166 precedent). One groupBy to a 9-row table; shares via a
    * global window over those 9 rows.
    */
  def q178Benford(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("digit",
        substring(round(col("o_totalprice") * 100, 0).cast("long")
          .cast("string"), 1, 1).cast("long"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
      .withColumn("obs_share",
        round(col("n_orders").cast("double") /
          sum(col("n_orders")).over(Window.partitionBy()), 6))
      .withColumn("exp_share",
        round(expr("ln(1 + 1/CAST(digit AS DOUBLE))/ln(10)"), 9))
      .orderBy(col("digit"))

  val q178Sql: String =
    """WITH d AS (
      |  SELECT CAST(substring(CAST(CAST(round(o_totalprice*100, 0) AS BIGINT)
      |           AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM orders),
      |g AS (SELECT digit, count(*) AS n_orders FROM d GROUP BY digit)
      |SELECT digit, n_orders,
      |       round(CAST(n_orders AS DOUBLE) /
      |             CAST(sum(n_orders) OVER () AS BIGINT), 6) AS obs_share,
      |       round(ln(1 + 1/CAST(digit AS DOUBLE))/ln(10), 9) AS exp_share
      |FROM g ORDER BY digit""".stripMargin

  // ---------------------------------------------------------------- q179
  /** First-order Markov transition matrix over per-user event
    * sequences — the sequence model behind next-action prediction and
    * anomalous-flow detection (and the generalization of q171's fixed
    * funnel: the funnel is three cells of this matrix). Successor via
    * one `lead` over (user_id, ts) — microsecond order with event_id
    * tie-break, the exact ordering contract both engines share — then
    * one count aggregate on the |types|² matrix; row-normalized
    * probabilities are counts divided once at the end. The only
    * corpus-scale exchange is the user_id window partitioning; the
    * matrix is metadata.
    */
  def q179TransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("event_type"))), 6))
      .orderBy(col("event_type"), col("next_type"))
  }

  val q179Sql: String =
    """WITH nxt AS (
      |  SELECT event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |g AS (
      |  SELECT event_type, next_type, count(*) AS n
      |  FROM nxt WHERE next_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT event_type, next_type, n,
      |       round(CAST(n AS DOUBLE) /
      |             CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT), 6) AS p
      |FROM g ORDER BY event_type, next_type""".stripMargin

  // ---------------------------------------------------------------- q180
  /** Time-weighted average value per user (TWAP) — the metrics/finance
    * aggregate where a value "holds" until the next observation, so
    * equal-weight means are wrong by construction. Each interval
    * weights the CURRENT value by its exact microsecond duration
    * (step-function/last-observation-carried-forward semantics);
    * weights and values are exact longs — value milli-units ×
    * microsecond gaps stay under 2^63 because per-user gaps sum to
    * the corpus time-span — and the TWAP is one double division at
    * the end, identical form both engines. Same single user_id window
    * exchange as q179; the per-user rollup co-partitions with it.
    */
  def q180Twap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("vmilli", round(col("value") * 1000, 0).cast("long"))
      .withColumn("dur_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .filter(col("dur_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(col("dur_us") * col("vmilli")).as("wsum"),
        sum(col("dur_us")).as("dur_us_total"),
        count(lit(1)).as("n_intervals"))
      .filter(col("dur_us_total") > 0)
      .withColumn("twap",
        round(col("wsum").cast("double") /
          col("dur_us_total").cast("double") / 1000.0, 6))
      .select(col("user_id"), col("n_intervals"), col("dur_us_total"),
        col("twap"))
      .orderBy(col("user_id"))
  }

  val q180Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |         CAST(round(value*1000, 0) AS BIGINT) AS vmilli
      |  FROM events),
      |p AS (
      |  SELECT user_id, vmilli,
      |         lead(ts_us) OVER (PARTITION BY user_id
      |           ORDER BY ts_us, event_id) - ts_us AS dur_us
      |  FROM e),
      |g AS (
      |  SELECT user_id,
      |         CAST(sum(dur_us * vmilli) AS BIGINT) AS wsum,
      |         CAST(sum(dur_us) AS BIGINT) AS dur_us_total,
      |         count(*) AS n_intervals
      |  FROM p WHERE dur_us IS NOT NULL
      |  GROUP BY user_id)
      |SELECT user_id, n_intervals, dur_us_total,
      |       round(CAST(wsum AS DOUBLE) /
      |             CAST(dur_us_total AS DOUBLE) / 1000.0, 6) AS twap
      |FROM g WHERE dur_us_total > 0
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q181
  /** Rolling 7-day distinct active users — the windowed COUNT DISTINCT
    * Spark's window functions cannot express (distinct aggregates are
    * unsupported over frames), re-expressed as the scalable
    * coverage-explode: each (user, active-day) pair covers the 7
    * trailing-window days it contributes to, dedup on (user, covered
    * day), count per day. The blowup is a bounded ×7 on the already-
    * deduplicated (user, day) table — never on raw events — and every
    * stage keys on user or day, so the shape survives 100 TB (vs the
    * oracle's O(days²) correlated re-scan, which is the INDEPENDENT
    * formulation the gate compares against). Output days restricted to
    * observed event days via a broadcast join with the distinct-day
    * table.
    */
  def q181RollingDistinct(s: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      .distinct()
    val days = uw.select(col("day")).distinct()
    uw.select(col("user_id"),
        explode(expr("sequence(day, day + 6)")).as("day"))
      .distinct()
      .join(broadcast(days), "day")
      .groupBy(col("day")).agg(count(lit(1)).as("active_users_7d"))
      .orderBy(col("day"))
  }

  val q181Sql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
      |  FROM events),
      |days AS (SELECT DISTINCT day FROM uw)
      |SELECT g.day,
      |       (SELECT count(DISTINCT u.user_id) FROM uw u
      |        WHERE u.day BETWEEN g.day - 6 AND g.day) AS active_users_7d
      |FROM days g ORDER BY g.day""".stripMargin

  // ---------------------------------------------------------------- q182
  /** SQL UDFs — Spark 4.0's `CREATE FUNCTION ... RETURN <expr>`: the
    * extension surface for analysts who write SQL, not Scala. Two
    * composed functions (a log10 length score, and a banding rule that
    * CALLS it) — SQL UDFs inline into the plan at analysis time, so
    * unlike JVM UDFs they cost nothing: the projection below is plain
    * codegen'd expressions, optimizer-visible, pushdown-safe. The
    * score is the one cross-library float — same ln-form both engines,
    * nano-quantized (q98 rule); the band thresholds sit far from any
    * quantization boundary.
    */
  def q182SqlUdf(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("documents")
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION len_score(n BIGINT)
        |RETURNS DOUBLE RETURN round(ln(1 + CAST(n AS DOUBLE))/ln(10), 9)""".stripMargin)
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION len_band(n BIGINT)
        |RETURNS STRING RETURN CASE
        |  WHEN len_score(n) < 2.5 THEN 'short'
        |  WHEN len_score(n) < 3.0 THEN 'medium'
        |  ELSE 'long' END""".stripMargin)
    s.sql(
      """SELECT doc_id, len_score(n_chars) AS score, len_band(n_chars) AS band
        |FROM documents ORDER BY doc_id""".stripMargin)
  }

  val q182Sql: String =
    """SELECT doc_id,
      |       round(ln(1 + CAST(n_chars AS DOUBLE))/ln(10), 9) AS score,
      |       CASE
      |         WHEN round(ln(1 + CAST(n_chars AS DOUBLE))/ln(10), 9) < 2.5 THEN 'short'
      |         WHEN round(ln(1 + CAST(n_chars AS DOUBLE))/ln(10), 9) < 3.0 THEN 'medium'
      |         ELSE 'long' END AS band
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q183
  /** NOT IN with a (schema-)nullable subquery — the one anti-join SQL
    * rewriting CANNOT treat as a plain anti join: ANSI NOT IN is
    * three-valued, so one NULL in the subquery empties the result, and
    * the planner must preserve that. Spark's answer is the null-aware
    * anti join (single-key NAAJ, `LeftAnti, BuildRight, isNullAware=
    * true` on a broadcast hash join) — asserted by the plan lock; the
    * naive fallback is a BroadcastNestedLoopJoin that re-scans the
    * build side per row. Semantics gated against DuckDB's ANSI NOT IN
    * on the same subquery.
    */
  def q183NotInNullAware(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    s.sql(
      """SELECT c_nationkey, count(*) AS n_customers
        |FROM customer
        |WHERE c_nationkey NOT IN
        |  (SELECT s_nationkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
  }

  val q183Sql: String =
    """SELECT c_nationkey, count(*) AS n_customers
      |FROM customer
      |WHERE c_nationkey NOT IN
      |  (SELECT s_nationkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q184
  /** Arbitrary GROUPING SETS — the third leg of the multi-granularity
    * family (q8 ROLLUP is the prefix chain, q39 CUBE the power set):
    * an ASYMMETRIC set — both one-dimension marginals plus the cell
    * grid, but NO grand total — that neither rollup nor cube can
    * produce, with `grouping_id()` disambiguating the NULL-filled
    * granularities (bitmask convention verified identical to DuckDB's
    * GROUPING(a, b)). One expand+aggregate pass; money sums exact.
    */
  def q184GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(grouping_id() AS BIGINT) AS gid,
        |       count(*) AS n_orders,
        |       round(CAST(sum(CAST(round(o_totalprice*10000, 0) AS BIGINT)) AS DOUBLE)/10000.0, 6) AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), (o_orderpriority))
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin)
  }

  val q184Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |       count(*) AS n_orders,
      |       round(CAST(sum(CAST(round(o_totalprice*10000, 0) AS BIGINT)) AS DOUBLE)/10000.0, 6) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderstatus), (o_orderpriority))
      |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q185
  /** Bag-semantics set operators — `INTERSECT ALL` (min multiplicity)
    * and `EXCEPT ALL` (truncated difference), the multiset halves of
    * q7's set-semantics family. Spark plans both WITHOUT
    * materializing per-row duplicates: a count aggregate per side,
    * then a generate of min(c_a, c_b) / max(0, c_a - c_b) copies —
    * the rollup below collapses them right back, so the whole query
    * is two keyed aggregates at any scale. Gated against DuckDB's
    * native ALL variants — two independent implementations of the
    * multiset algebra.
    */
  def q185BagSetOps(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events_v")
    s.sql(
      """WITH a AS (SELECT event_type FROM events_v WHERE user_id % 2 = 0),
        |b AS (SELECT event_type FROM events_v WHERE user_id % 2 = 1),
        |i AS (SELECT event_type FROM a INTERSECT ALL SELECT event_type FROM b),
        |e AS (SELECT event_type FROM a EXCEPT ALL SELECT event_type FROM b)
        |SELECT 'intersect_all' AS op, event_type, count(*) AS n
        |FROM i GROUP BY event_type
        |UNION ALL
        |SELECT 'except_all' AS op, event_type, count(*) AS n
        |FROM e GROUP BY event_type
        |ORDER BY op, event_type""".stripMargin)
  }

  val q185Sql: String =
    """WITH a AS (SELECT event_type FROM events WHERE user_id % 2 = 0),
      |b AS (SELECT event_type FROM events WHERE user_id % 2 = 1),
      |i AS (SELECT event_type FROM a INTERSECT ALL SELECT event_type FROM b),
      |e AS (SELECT event_type FROM a EXCEPT ALL SELECT event_type FROM b)
      |SELECT 'intersect_all' AS op, event_type, count(*) AS n
      |FROM i GROUP BY event_type
      |UNION ALL
      |SELECT 'except_all' AS op, event_type, count(*) AS n
      |FROM e GROUP BY event_type
      |ORDER BY op, event_type""".stripMargin

  // ---------------------------------------------------------------- q186
  /** Correlated scalar subqueries in the SELECT list — the report-
    * writer's form of q9's WHERE-clause correlation. Spark de-
    * correlates each into an aggregate + left outer join (never a
    * per-row re-execution — the plan lock asserts joins, not loops),
    * which is why the form scales: both subqueries become broadcast
    * joins against region-bounded aggregates. Empty-group semantics
    * ride the outer join's NULL on both engines identically.
    */
  def q186ScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.region(s, dir).createOrReplaceTempView("region")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    s.sql(q186Sql)
  }

  val q186Sql: String =
    """SELECT r.r_name,
      |  (SELECT count(*) FROM nation n
      |   WHERE n.n_regionkey = r.r_regionkey) AS n_nations,
      |  (SELECT round(CAST(sum(CAST(round(s.s_acctbal*10000, 0) AS BIGINT)) AS DOUBLE)/10000.0, 6)
      |   FROM supplier s JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      |   WHERE n2.n_regionkey = r.r_regionkey) AS region_bal
      |FROM region r ORDER BY r.r_name""".stripMargin

  // ---------------------------------------------------------------- q187
  /** Equi-depth deciles via `ntile` — the rank-family window function
    * the showcase (q68) did not cover, and the exact counterpart of
    * q64's quartile buckets: ntile splits the ordered partition into
    * 10 near-equal buckets (larger buckets FIRST — the split rule
    * probed identical on both engines: 7 rows into 3 tiles = 3,2,2).
    * The order key carries the event_id tie-break, without which equal
    * values straddling a bucket boundary would land nondeterministic-
    * ally. Output is the per-bucket profile (count + exact value
    * bounds) — bucket boundaries for a downstream equi-depth binner,
    * q170's equi-width complement.
    */
  def q187NtileDeciles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 6).as("lo"),
        round(max(col("value")), 6).as("hi"))
      .orderBy(col("event_type"), col("decile"))
  }

  val q187Sql: String =
    """SELECT event_type, CAST(decile AS BIGINT) AS decile, count(*) AS n,
      |       round(min(value), 6) AS lo, round(max(value), 6) AS hi
      |FROM (SELECT event_type, value, event_id,
      |             ntile(10) OVER (PARTITION BY event_type
      |               ORDER BY value, event_id) AS decile
      |      FROM events)
      |GROUP BY event_type, decile
      |ORDER BY event_type, decile""".stripMargin

  // ---------------------------------------------------------------- q188
  /** Deterministic training order — the data-ordering step a
    * pretraining run executes after curation: a reproducible global
    * permutation (md5 over a seeded doc key — the engine's standing
    * no-rand() rule, q48/q60/q113), with round-robin shard assignment
    * off the shuffled position. Byte-identical on every rerun and
    * engine — which is what makes training runs reproducible and
    * resumable. The global position comes from
    * [[RelationalOps.globalRank]] — a range-partitioned sort with
    * per-partition cumulative offsets, never a single-partition window —
    * so the permutation scales to the full corpus.
    */
  val TrainSeed = "ord42"
  val TrainShards = 8

  def q188TrainingOrder(s: SparkSession, dir: String): DataFrame = {
    val key = md5(concat(lit(TrainSeed + "|"),
      col("doc_id").cast("string")).cast("binary"))
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), key.as("ord_key"))
    RelationalOps.globalRank(keyed, "pos", col("ord_key"), col("doc_id"))
      .withColumn("shard", (col("pos") - 1) % TrainShards)
      .select(col("pos"), col("doc_id"), col("source"), col("shard"))
      .orderBy(col("pos"))
  }

  val q188Sql: String =
    s"""SELECT CAST(row_number() OVER (ORDER BY md5('$TrainSeed|' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos,
       |       doc_id, source,
       |       (CAST(row_number() OVER (ORDER BY md5('$TrainSeed|' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) - 1) % $TrainShards AS shard
       |FROM documents ORDER BY pos""".stripMargin

  // ---------------------------------------------------------------- q189
  /** Null-safe snapshot comparison — `IS DISTINCT FROM`, the three-
    * valued-logic-proof inequality every CDC/reconciliation diff needs
    * (plain `<>` silently drops any row where either side is NULL).
    * Two derived snapshots NULL out different langs, so the diff
    * exercises NULL-vs-value in BOTH directions and value-vs-value on
    * the rest; the join is a co-partitioned equi-join on doc_id and
    * the null-safe predicate is a row-local filter on top — no
    * special join machinery needed, which is the point of expressing
    * diffs this way at 100 TB.
    */
  def q189NullSafeDiff(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.documents(s, dir)
      .select(col("doc_id"), nullif(col("lang"), lit("fr")).as("lang_a"))
    val b = Tables.documents(s, dir)
      .select(col("doc_id"), nullif(col("lang"), lit("de")).as("lang_b"))
    a.join(b, "doc_id")
      .filter(not(col("lang_a") <=> col("lang_b")))
      .orderBy(col("doc_id"))
  }

  val q189Sql: String =
    """SELECT a.doc_id, a.lang_a, b.lang_b
      |FROM (SELECT doc_id, nullif(lang, 'fr') AS lang_a FROM documents) a
      |JOIN (SELECT doc_id, nullif(lang, 'de') AS lang_b FROM documents) b
      |  ON a.doc_id = b.doc_id
      |WHERE a.lang_a IS DISTINCT FROM b.lang_b
      |ORDER BY a.doc_id""".stripMargin

  // ---------------------------------------------------------------- q190
  /** Schema-aligning union — `unionByName(allowMissingColumns=true)`,
    * the API that merges heterogeneous feeds into one table without
    * positional-union silent corruption (plain `union` matches columns
    * BY POSITION — reordered schemas scramble data without an error).
    * Documents and events project into a shared item shape; columns
    * absent on one side surface as NULLs. The reading side of q134's
    * schema-evolution story, as an operator. Map-only: two scans, one
    * union, no exchange until the presentation sort. DuckDB's `UNION
    * ALL BY NAME` is the independent twin.
    */
  def q190UnionByName(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(
      col("doc_id").as("item_id"), lit("doc").as("kind"),
      col("source"), col("lang"), col("n_chars").as("size"))
    val events = Tables.events(s, dir).select(
      col("event_id").as("item_id"), lit("event").as("kind"),
      col("event_type").as("source"), round(col("value"), 6).as("value"))
    docs.unionByName(events, allowMissingColumns = true)
      .orderBy(col("kind"), col("item_id"))
  }

  val q190Sql: String =
    """SELECT * FROM (
      |  SELECT doc_id AS item_id, 'doc' AS kind, source, lang,
      |         n_chars AS size
      |  FROM documents
      |  UNION ALL BY NAME
      |  SELECT event_id AS item_id, 'event' AS kind,
      |         event_type AS source, round(value, 6) AS value
      |  FROM events)
      |ORDER BY kind, item_id""".stripMargin

  // ---------------------------------------------------------------- q191
  /** Single-pass data-expectations report — the Deequ/Great-
    * Expectations pattern: EVERY constraint metric (row count, null
    * rates, range violations, domain violations, key uniqueness,
    * freshness window) computed as conditional aggregates in ONE scan,
    * then reshaped long. The alternative — one query per check — scans
    * the corpus once per metric; at 100 TB the single fused pass IS
    * the feature. All metrics are exact integers; the distinct-key
    * check rides the same aggregate via count(DISTINCT). The oracle is
    * the deliberately-naive per-metric scalar-subquery form — two
    * formulations, one hash.
    */
  def q191Expectations(s: SparkSession, dir: String): DataFrame = {
    val knownTypes = Seq("click", "error", "purchase", "signup", "view")
    val wide = Tables.events(s, dir).agg(
      count(lit(1)).as("n_rows"),
      count(col("event_id")).as("n_ids"),
      countDistinct(col("event_id")).as("n_distinct_ids"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("n_null_user"),
      sum(when(col("value") < 0 || col("value") > 1000000, 1L)
        .otherwise(0L)).as("n_value_range_violations"),
      sum(when(!col("event_type").isin(knownTypes: _*), 1L)
        .otherwise(0L)).as("n_unknown_types"),
      sum(when(expr("unix_millis(ts)") < lit(1704067200000L) ||
        expr("unix_millis(ts)") >= lit(1767225600000L), 1L)
        .otherwise(0L)).as("n_ts_out_of_window"))
    wide.unpivot(Array.empty[org.apache.spark.sql.Column],
        wide.columns.map(col).toArray, "metric", "value")
      .orderBy(col("metric"))
  }

  val q191Sql: String =
    """SELECT metric, value FROM (
      |  SELECT 'n_rows' AS metric, count(*) AS value FROM events
      |  UNION ALL
      |  SELECT 'n_ids', count(event_id) FROM events
      |  UNION ALL
      |  SELECT 'n_distinct_ids', count(DISTINCT event_id) FROM events
      |  UNION ALL
      |  SELECT 'n_null_user', count(*) FILTER (WHERE user_id IS NULL) FROM events
      |  UNION ALL
      |  SELECT 'n_value_range_violations',
      |         count(*) FILTER (WHERE value < 0 OR value > 1000000) FROM events
      |  UNION ALL
      |  SELECT 'n_unknown_types',
      |         count(*) FILTER (WHERE event_type NOT IN
      |           ('click','error','purchase','signup','view')) FROM events
      |  UNION ALL
      |  SELECT 'n_ts_out_of_window',
      |         count(*) FILTER (WHERE epoch(ts) < 1704067200
      |                             OR epoch(ts) >= 1767225600) FROM events)
      |ORDER BY metric""".stripMargin

  // ---------------------------------------------------------------- q192
  /** Inter-event cadence histogram — order-of-magnitude profile of the
    * gaps between consecutive events per user, the diagnostic behind
    * session-gap and watermark sizing (q31's 30-min threshold, q111's
    * session windows: this table is how you'd CHOOSE those numbers).
    * The magnitude bucket is the DECIMAL DIGIT COUNT of the
    * microsecond gap — string length of the integer, exact on both
    * engines — never float log10, whose power-of-ten cells drift (the
    * q178 rule). One lag over the standing (user_id, ts_us, event_id)
    * ordering; the histogram is |types|×|magnitudes| metadata.
    */
  def q192CadenceHistogram(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .withColumn("magnitude", length(col("gap_us").cast("string")).cast("long"))
      .groupBy(col("event_type"), col("magnitude"))
      .agg(count(lit(1)).as("n"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
      .orderBy(col("event_type"), col("magnitude"))
  }

  val q192Sql: String =
    """WITH g AS (
      |  SELECT event_type,
      |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS gap_us
      |  FROM events)
      |SELECT event_type,
      |       CAST(length(CAST(gap_us AS VARCHAR)) AS BIGINT) AS magnitude,
      |       count(*) AS n,
      |       min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY event_type, magnitude
      |ORDER BY event_type, magnitude""".stripMargin

  // ---------------------------------------------------------------- q193
  /** Top-k WITH TIES — `rank()` semantics against the row_number
    * family (q3, `TopKPerKeyExec`): ranking customers per nation by
    * ORDER COUNT, an integer key where ties are guaranteed, every
    * tied customer at the boundary is KEPT, and the result can exceed
    * k rows per group — the semantics ANSI `FETCH FIRST k ROWS WITH
    * TIES` names. rank() assigns equal ranks deterministically, so
    * the kept SET is deterministic even though a row_number cutoff
    * would not be without a tie-break. |customers| ranking rows, not
    * |orders|.
    */
  val TopKTies = 3

  def q193TopKWithTies(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("n_orders").desc)
    Tables.customer(s, dir)
      .join(counts, col("c_custkey") === col("o_custkey"))
      .withColumn("rk", rank().over(w).cast("long"))
      .filter(col("rk") <= TopKTies)
      .select(col("c_nationkey"), col("rk"), col("c_custkey"),
        col("n_orders"))
      .orderBy(col("c_nationkey"), col("rk"), col("c_custkey"))
  }

  val q193Sql: String =
    s"""WITH counts AS (
       |  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey),
       |ranked AS (
       |  SELECT c.c_nationkey, c.c_custkey, k.n_orders,
       |         CAST(rank() OVER (PARTITION BY c.c_nationkey
       |           ORDER BY k.n_orders DESC) AS BIGINT) AS rk
       |  FROM customer c JOIN counts k ON c.c_custkey = k.o_custkey)
       |SELECT c_nationkey, rk, c_custkey, n_orders
       |FROM ranked WHERE rk <= $TopKTies
       |ORDER BY c_nationkey, rk, c_custkey""".stripMargin

  // ---------------------------------------------------------------- q195
  /** Exact Pearson correlation per group — the moment-form identity
    * corr = (n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²))
    * over INTEGER-EXACT sums: quantity units and price cents as
    * DECIMAL(20,0) partial sums (Σy² at cents scale overflows a long —
    * decimal sums are the exchange-safe exact carrier, DuckDB's
    * HUGEINT their twin), every sum bit-identical under any
    * partitioning, then ONE excursion into doubles with the identical
    * expression form on both engines (the q98 sqrt rule). The built-in
    * `corr()` is a float-accumulator aggregate whose result depends on
    * reduce order — unusable under a hash gate, the same reason q130
    * carries moment triples. One pass, one group-by exchange.
    */
  def q195Correlation(s: SparkSession, dir: String): DataFrame = {
    val x = round(col("l_quantity"), 0).cast("decimal(20,0)")
    val y = round(col("l_extendedprice") * 100, 0).cast("decimal(20,0)")
    val asD = (c: Column) => c.cast("double")
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("decimal(20,0)").as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
        round((asD(col("n")) * asD(col("sxy")) - asD(col("sx")) * asD(col("sy"))) /
          (sqrt(asD(col("n")) * asD(col("sxx")) - asD(col("sx")) * asD(col("sx"))) *
           sqrt(asD(col("n")) * asD(col("syy")) - asD(col("sy")) * asD(col("sy")))), 6)
          .as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  val q195Sql: String =
    """WITH m AS (
      |  SELECT l_returnflag,
      |         count(*) AS n,
      |         sum(CAST(round(l_quantity, 0) AS BIGINT)) AS sx,
      |         sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS sy,
      |         sum(CAST(round(l_quantity, 0) AS BIGINT) *
      |             CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS sxy,
      |         sum(CAST(round(l_quantity, 0) AS BIGINT) *
      |             CAST(round(l_quantity, 0) AS BIGINT)) AS sxx,
      |         sum(CAST(round(l_extendedprice*100, 0) AS BIGINT) *
      |             CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      |       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |              CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |             (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |                   CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |              sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
      |                   CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |         AS corr_qty_price
      |FROM m ORDER BY l_returnflag""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q175_recursive_depth", q175RecursiveDepth _, q175Sql),
    Query("q176_lang_signature", q176LangSignature _, q176Sql),
    Query("q177_retention_cohorts", q177RetentionCohorts _, q177Sql),
    Query("q178_benford", q178Benford _, q178Sql),
    Query("q179_transition_matrix", q179TransitionMatrix _, q179Sql),
    Query("q180_twap", q180Twap _, q180Sql),
    Query("q181_rolling_distinct", q181RollingDistinct _, q181Sql),
    Query("q182_sql_udf", q182SqlUdf _, q182Sql),
    Query("q183_notin_nullaware", q183NotInNullAware _, q183Sql),
    Query("q184_grouping_sets", q184GroupingSets _, q184Sql),
    Query("q185_bag_setops", q185BagSetOps _, q185Sql),
    Query("q186_scalar_subquery", q186ScalarSubquery _, q186Sql),
    Query("q187_ntile_deciles", q187NtileDeciles _, q187Sql),
    Query("q188_training_order", q188TrainingOrder _, q188Sql),
    Query("q189_nullsafe_diff", q189NullSafeDiff _, q189Sql),
    Query("q190_union_by_name", q190UnionByName _, q190Sql),
    Query("q191_expectations", q191Expectations _, q191Sql),
    Query("q192_cadence_histogram", q192CadenceHistogram _, q192Sql),
    Query("q193_topk_with_ties", q193TopKWithTies _, q193Sql),
    Query("q195_correlation", q195Correlation _, q195Sql),
  )
}
