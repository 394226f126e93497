package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables

/** Batch analytics over the `events` table: tumbling-window
  * aggregation, gap-based sessionization, keyed dedup. Timestamps are
  * exported as epoch milliseconds (bigint) so oracle comparison never
  * touches timezone/precision formatting.
  */
object EventQueries {

  val WindowSecs = 300L
  val SessionGapMs = 1800000L // 30 min

  private def ev(s: SparkSession, dir: String): DataFrame =
    // Tables.events already normalizes ns → TimestampType (UTC session).
    Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts")))

  // ---------------------------------------------------------------- q30
  /** Tumbling 5-minute windows per event_type via the native `window()`
    * function (the exact groupBy a Structured Streaming job would run);
    * window id exported as epoch-seconds / 300.
    */
  def q30WindowAgg(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(window(col("ts"), s"$WindowSecs seconds").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")), 6).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .select(
        (unix_timestamp(col("w.start")) / WindowSecs).cast("long").as("window_id"),
        col("event_type"), col("n"), col("sum_value"), col("n_users"))
      .orderBy(col("window_id"), col("event_type"))

  val q30Sql: String =
    s"""SELECT CAST(floor(epoch(ts) / $WindowSecs) AS BIGINT) AS window_id,
       |       event_type,
       |       count(*) AS n,
       |       round(sum(value), 6) AS sum_value,
       |       count(DISTINCT user_id) AS n_users
       |FROM events
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q31
  /** Gap-based sessionization (30-min inactivity closes a session):
    * lag → new-session flag → running sum → per-session rollup. Two
    * windows over the same (user_id, ts) partitioning — one shuffle,
    * Catalyst collapses the sort.
    */
  def q31Sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    ev(s, dir)
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > SessionGapMs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("start_ms"),
        max(col("ts_ms")).as("end_ms"),
        round(sum(col("value")), 6).as("sum_value"))
      .withColumn("duration_ms", col("end_ms") - col("start_ms"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  // --------------------------------------------------------------- q111
  /** Sessionization via the NATIVE `session_window` operator — the
    * second of the repo's sessionization spellings (after q31's gaps-
    * and-islands windows), and the built-in operator a Structured
    * Streaming job would share. Plan shape: ONE exchange on user_id
    * feeding a session-merging aggregate — no per-user window sort
    * pass, which is the scale argument for preferring it over q31's
    * island windows when only the per-session AGGREGATES are needed
    * (islands still win when every row must keep its session id).
    *
    * Boundary semantics: an event arriving EXACTLY `gap` after its
    * predecessor MERGES into the session — Spark's session iterators
    * (`UpdatingSessionsIterator`/`MergingSessionsIterator`) start a
    * new session only when the incoming window start is strictly
    * greater than the current session end, i.e. the islands rule is
    * q31's `diff > gap`. (An earlier draft claimed end-exclusive
    * `>=` semantics — refuted by reading the Spark 4.1.2 bytecode;
    * the oracle and spec encode the merge-on-equality rule.) The only
    * output difference vs q31 is `end_ms` = last-event + gap, the
    * native window end. The gap is passed in MILLISECONDS so a
    * non-second-aligned `SessionGapMs` can never silently truncate
    * away from the oracle's ms arithmetic.
    */
  def q111SessionWindow(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$SessionGapMs milliseconds").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("sum_value"))
      .select(col("user_id"),
        unix_millis(col("sw.start")).as("start_ms"),
        unix_millis(col("sw.end")).as("end_ms"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("start_ms"))

  val q111Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
       |  FROM events),
       |flagged AS (
       |  SELECT user_id, event_id, value, ts_ms,
       |    CASE WHEN lag(ts_ms) OVER w IS NULL
       |              OR ts_ms - lag(ts_ms) OVER w > $SessionGapMs
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
       |sess AS (
       |  SELECT user_id, value, ts_ms,
       |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
       |                           ROWS UNBOUNDED PRECEDING) AS session_idx
       |  FROM flagged)
       |SELECT user_id,
       |  min(ts_ms) AS start_ms,
       |  max(ts_ms) + $SessionGapMs AS end_ms,
       |  count(*) AS n_events,
       |  round(sum(value), 6) AS sum_value
       |FROM sess GROUP BY user_id, session_idx
       |ORDER BY user_id, start_ms""".stripMargin

  val q31Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
       |  FROM events),
       |flagged AS (
       |  SELECT user_id, event_id, value, ts_ms,
       |    CASE WHEN lag(ts_ms) OVER w IS NULL
       |              OR ts_ms - lag(ts_ms) OVER w > $SessionGapMs
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
       |sess AS (
       |  SELECT user_id, event_id, value, ts_ms,
       |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
       |  FROM flagged)
       |SELECT user_id, session_idx,
       |  count(*) AS n_events,
       |  min(ts_ms) AS start_ms,
       |  max(ts_ms) AS end_ms,
       |  round(sum(value), 6) AS sum_value,
       |  max(ts_ms) - min(ts_ms) AS duration_ms
       |FROM sess GROUP BY user_id, session_idx
       |ORDER BY user_id, session_idx""".stripMargin

  // --------------------------------------------------------------- q112
  /** Time-series resampling with forward fill: each sampled user's
    * event stream regridded to HOURLY buckets between their first and
    * last event, carrying the latest value forward across empty
    * buckets — the standard feature-engineering resample (training
    * pipelines want aligned fixed-frequency grids, not raw event
    * times). Per bucket: event count and the last value (latest
    * (ts, event_id) wins — a partial-aggregated struct-max, not a
    * window sort), then `last(_, ignoreNulls)` over the per-user
    * bucket order fills gaps. Shape at scale: the grid explode is
    * per-user linear (span/bucket_width rows), bounds + per-bucket
    * agg + fill all share the user_id keying; nothing global. The
    * user sample (user_id % 50) bounds gate output, not the
    * operator — the full-corpus form is the same plan.
    */
  val ResampleBucketMs = 3600000L
  val ResampleUserMod = 50

  def q112ResampleFfill(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .filter(col("user_id") % ResampleUserMod === 0)
      .select(col("user_id"), expr(s"ts_ms div $ResampleBucketMs").as("bucket"),
        col("ts_ms"), col("event_id"), col("value"))
    val agg = e.groupBy(col("user_id"), col("bucket"))
      .agg(count(lit(1)).as("n_events"),
        max(struct(col("ts_ms"), col("event_id"), col("value"))).as("last"))
      .select(col("user_id"), col("bucket"), col("n_events"),
        col("last.value").as("val"))
      // the bucket table feeds BOTH the grid bounds and the final join —
      // materialize it so deriving bounds doesn't re-scan the events
      // parquet (Spark does not dedupe logical subplans)
      .localCheckpoint()
    val grid = agg.groupBy(col("user_id"))
      .agg(min(col("bucket")).as("mn"), max(col("bucket")).as("mx"))
      .select(col("user_id"), explode(sequence(col("mn"), col("mx"))).as("bucket"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(agg, Seq("user_id", "bucket"), "left")
      .select(col("user_id"), col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        round(last(col("val"), ignoreNulls = true).over(w), 6).as("value_ffill"))
      .orderBy(col("user_id"), col("bucket"))
  }

  val q112Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) // $ResampleBucketMs AS bucket,
       |         CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id, value
       |  FROM events WHERE user_id % $ResampleUserMod = 0),
       |agg AS (
       |  SELECT c.user_id, c.bucket, c.n_events, l.val FROM
       |    (SELECT user_id, bucket, count(*) AS n_events
       |     FROM e GROUP BY user_id, bucket) c
       |  JOIN (SELECT user_id, bucket, value AS val FROM (
       |          SELECT user_id, bucket, value,
       |            row_number() OVER (PARTITION BY user_id, bucket
       |                               ORDER BY ts_ms DESC, event_id DESC) AS rk
       |          FROM e) WHERE rk = 1) l
       |    ON l.user_id = c.user_id AND l.bucket = c.bucket),
       |bounds AS (SELECT user_id, min(bucket) AS mn, max(bucket) AS mx
       |           FROM e GROUP BY user_id),
       |grid AS (SELECT user_id, unnest(range(mn, mx + 1)) AS bucket FROM bounds)
       |SELECT g.user_id, g.bucket,
       |  coalesce(a.n_events, 0) AS n_events,
       |  round(last_value(a.val IGNORE NULLS) OVER (
       |    PARTITION BY g.user_id ORDER BY g.bucket
       |    ROWS UNBOUNDED PRECEDING), 6) AS value_ffill
       |FROM grid g LEFT JOIN agg a
       |  ON a.user_id = g.user_id AND a.bucket = g.bucket
       |ORDER BY g.user_id, g.bucket""".stripMargin

  // --------------------------------------------------------------- q118
  /** Percentile winsorization per event_type — the feature-clipping
    * pass that tames heavy-tailed numeric columns before training:
    * values below the exact p01 (above the exact p99) are clamped to
    * the boundary value. Exact rank-order percentiles with the
    * deterministic (value, event_id) total order, boundary rank =
    * max(1, ceil(q·n)) — both engines compute identical ranks from
    * identical longs, and the boundary VALUES are actual data points
    * (no interpolation), so the clamp is hash-exact. Shape: one
    * window rank per event_type + a tiny per-type boundary table
    * joined back (type-cardinality-bounded, broadcast). At extreme
    * per-key cardinality swap the exact rank for
    * [[graft.operators.Sketches]] quantiles — same clamp, bounded
    * memory.
    */
  def q118Winsorize(s: SparkSession, dir: String): DataFrame = {
    val byVal = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val ranked = ev(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("rk", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
    val bounds = ranked.groupBy(col("event_type"))
      .agg(
        max(when(col("rk") === greatest(lit(1L), ceil(col("n") * 0.01)),
          col("value"))).as("lo"),
        max(when(col("rk") === ceil(col("n") * 0.99), col("value"))).as("hi"))
    ranked.join(broadcast(bounds), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        round(greatest(col("lo"), least(col("hi"), col("value"))), 6)
          .as("value_winsorized"),
        (col("value") < col("lo") || col("value") > col("hi")).as("clipped"))
      .orderBy(col("event_id"))
  }

  val q118Sql: String =
    """WITH ranked AS (
      |  SELECT event_id, event_type, value,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY value, event_id) AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |bounds AS (
      |  SELECT event_type,
      |    max(CASE WHEN rk = greatest(1, CAST(ceil(n * 0.01) AS BIGINT))
      |             THEN value END) AS lo,
      |    max(CASE WHEN rk = CAST(ceil(n * 0.99) AS BIGINT)
      |             THEN value END) AS hi
      |  FROM ranked GROUP BY event_type)
      |SELECT r.event_id, r.event_type, r.value,
      |  round(greatest(b.lo, least(b.hi, r.value)), 6) AS value_winsorized,
      |  (r.value < b.lo OR r.value > b.hi) AS clipped
      |FROM ranked r JOIN bounds b ON b.event_type = r.event_type
      |ORDER BY r.event_id""".stripMargin

  // --------------------------------------------------------------- q119
  /** Robust per-type location/scale via median + MAD (Iglewicz &
    * Hoaglin's modified z-score family) — the outlier diagnostic that,
    * unlike q106's mean/std z-scores, is itself immune to the
    * outliers it hunts. Medians are LOWER medians (rank
    * floor((n+1)/2) under the (value, event_id) total order — a
    * deterministic data point, no midpoint interpolation, so both
    * engines pick the identical double). Two rank passes (value, then
    * absolute deviation), both per-type windows; the modified z uses
    * the standard 0.6745 consistency constant and the 3.5 outlier
    * cut. Output is type-cardinality-bounded.
    */
  def q119RobustStats(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("event_id"), col("event_type"), col("value"))
    val byVal = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val med = e.withColumn("rk", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("rk") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("value").as("med"))
    val withDev = e.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
    val byDev = Window.partitionBy(col("event_type"))
      .orderBy(col("adev"), col("event_id"))
    val mad = withDev.withColumn("rk", row_number().over(byDev))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("rk") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("adev").as("mad"))
    withDev.join(broadcast(mad), Seq("event_type"))
      .withColumn("mz", when(col("mad") === 0d, lit(0.0))
        .otherwise(lit(0.6745) * (col("value") - col("med")) / col("mad")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(max(col("med")), 6).as("median"),
        round(max(col("mad")), 6).as("mad"),
        sum(when(abs(col("mz")) > 3.5, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  val q119Sql: String =
    """WITH e AS (SELECT event_id, event_type, value FROM events),
      |ranked AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY value, event_id) AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM e),
      |med AS (
      |  SELECT event_type, value AS med FROM ranked
      |  WHERE rk = (n + 1) // 2),
      |dev AS (
      |  SELECT e.event_id, e.event_type, e.value, m.med,
      |         abs(e.value - m.med) AS adev
      |  FROM e JOIN med m ON m.event_type = e.event_type),
      |dranked AS (
      |  SELECT event_type, adev,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY adev, event_id) AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM dev),
      |mad AS (
      |  SELECT event_type, adev AS mad FROM dranked
      |  WHERE rk = (n + 1) // 2)
      |SELECT d.event_type, count(*) AS n,
      |  round(max(d.med), 6) AS median,
      |  round(max(ma.mad), 6) AS mad,
      |  CAST(sum(CASE WHEN ma.mad <> 0
      |                 AND abs(0.6745 * (d.value - d.med) / ma.mad) > 3.5
      |            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad ma ON ma.event_type = d.event_type
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Keyed dedup: first event per (user_id, event_type) by (ts, id) —
    * the batch shape of streaming dropDuplicates.
    */
  def q32EventDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_ms"), col("event_id"))
    ev(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"),
        col("ts_ms").as("first_ts_ms"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val q32Sql: String =
    """SELECT user_id, event_type, event_id AS first_event_id,
      |       CAST(epoch_ms(ts) AS BIGINT) AS first_ts_ms
      |FROM (
      |  SELECT user_id, event_type, event_id, ts,
      |         row_number() OVER (PARTITION BY user_id, event_type
      |                            ORDER BY epoch_ms(ts), event_id) AS rk
      |  FROM events)
      |WHERE rk = 1 ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- q33
  /** As-of attribution: each event joined to the user's most recent
    * PRIOR 'view' event — the as-of-join semantics Spark lacks as a
    * native operator, expressed as a conditional running max over one
    * (user_id, time) window (no join at all; SURVEY.md §7.3 preference
    * (a): compose built-ins before custom plans).
    */
  def q33AsofAttribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev(s, dir)
      .withColumn("last_view_ms",
        max(when(col("event_type") === "view", col("ts_ms"))).over(w))
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("last_view_ms"))
      .orderBy(col("event_id"))
  }

  val q33Sql: String =
    """SELECT event_id, user_id, ts_ms,
      |  max(CASE WHEN event_type = 'view' THEN ts_ms END) OVER (
      |    PARTITION BY user_id ORDER BY ts_ms, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_ms
      |FROM (SELECT event_id, user_id, event_type, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Semi-structured extraction: pull the numeric field out of the JSON
    * `props` column and aggregate (the log-enrichment shape).
    */
  def q35JsonExtract(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("k")).as("sum_k"),
        round(avg(col("k")), 6).as("avg_k"),
        count(when(col("k").isNull, 1)).as("n_missing"))
      .orderBy(col("event_type"))

  val q35Sql: String =
    """SELECT event_type,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  round(avg(k), 6) AS avg_k,
      |  count(CASE WHEN k IS NULL THEN 1 END) AS n_missing
      |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q36
  /** Point-in-interval RANGE JOIN ([[RangeJoin.pointInInterval]]):
    * events attributed to overlapping "campaign" windows — 24
    * deterministic intervals (start = 2024-01-01 + i·30h, length =
    * (i%5+1)·6h) spanning the events month. The bucketed equi-join
    * replaces the nested-loop plan the naive non-equi predicate gets;
    * zero-match campaigns are kept (left join after aggregation).
    * Value sums use the scaled-long exact form (order-independent,
    * engine-identical).
    */
  val CampaignCount = 24
  val CampaignEpochMs: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val CampaignStepMs: Long = 30L * 3600 * 1000
  val CampaignUnitMs: Long = 6L * 3600 * 1000

  def campaigns(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until CampaignCount).map { i =>
      val start = CampaignEpochMs + i * CampaignStepMs
      val end = start + (i % 5 + 1) * CampaignUnitMs
      (i.toLong, start, end)
    }.toDF("campaign_id", "start_ms", "end_ms")
      .select(col("campaign_id"),
        timestamp_millis(col("start_ms")).as("start_ts"),
        timestamp_millis(col("end_ms")).as("end_ts"))
  }

  def q36RangeJoinCampaigns(s: SparkSession, dir: String): DataFrame = {
    val events = ev(s, dir).select(col("ts"), col("user_id"), col("value"))
    val camp = campaigns(s)
    val matched = RangeJoin.pointInInterval(
        events, "ts", camp, "start_ts", "end_ts", CampaignUnitMs)
      .groupBy(col("campaign_id"))
      .agg(
        count(lit(1)).as("n_events"),
        round(RelationalOps.exactMoneySum(col("value")), 6).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
    camp.join(matched, Seq("campaign_id"), "left")
      .select(col("campaign_id"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
      .orderBy(col("campaign_id"))
  }

  val q36Sql: String =
    s"""WITH camp AS (
       |  SELECT CAST(i AS BIGINT) AS campaign_id,
       |         to_timestamp(($CampaignEpochMs + i * $CampaignStepMs) / 1000.0) AS start_ts,
       |         to_timestamp(($CampaignEpochMs + i * $CampaignStepMs + (i % 5 + 1) * $CampaignUnitMs) / 1000.0) AS end_ts
       |  FROM range($CampaignCount) t(i)),
       |matched AS (
       |  SELECT c.campaign_id,
       |         count(*) AS n_events,
       |         round(sum(CAST(round(e.value * 10000, 0) AS BIGINT)) / 10000.0, 6) AS sum_value,
       |         count(DISTINCT e.user_id) AS n_users
       |  FROM events e JOIN camp c
       |    ON e.ts >= c.start_ts AND e.ts < c.end_ts
       |  GROUP BY c.campaign_id)
       |SELECT c.campaign_id,
       |  COALESCE(m.n_events, 0) AS n_events,
       |  COALESCE(m.sum_value, 0.0) AS sum_value,
       |  COALESCE(m.n_users, 0) AS n_users
       |FROM camp c LEFT JOIN matched m ON m.campaign_id = c.campaign_id
       |ORDER BY c.campaign_id""".stripMargin

  // ---------------------------------------------------------------- q56
  /** INTERVAL-overlap equi-join ([[RangeJoin.intervalOverlap]]): pairs
    * of orders by the SAME customer whose validity windows
    * `[o_orderdate, o_orderdate + (o_orderkey % 7 + 1) days)` overlap,
    * with the overlap length. The naive formulation is a non-equi
    * self-join (nested-loop); the bucketed form hash-joins on
    * (custkey, bucket) and emits each pair exactly once at the bucket
    * of `max(starts)` — no distinct pass over the output.
    */
  val OverlapBucketMs: Long = 4L * 86400000L // 4 days; spans are 1–7 days

  private def orderIntervals(s: SparkSession, dir: String): DataFrame =
    graft.Tables.orders(s, dir).select(
      col("o_custkey").as("custkey"),
      col("o_orderkey").as("oid"),
      col("o_orderdate").cast("timestamp").as("s"),
      date_add(col("o_orderdate"), (col("o_orderkey") % 7 + 1).cast("int"))
        .cast("timestamp").as("e"))

  def q56IntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val iv = orderIntervals(s, dir)
    val l = iv.select(col("custkey"), col("oid").as("l_id"),
      col("s").as("l_start"), col("e").as("l_end"))
    val r = iv.select(col("custkey"), col("oid").as("r_id"),
      col("s").as("r_start"), col("e").as("r_end"))
    RangeJoin.intervalOverlap(l, "l_start", "l_end", r, "r_start", "r_end",
        Seq("custkey"), OverlapBucketMs)
      .filter(col("l_id") < col("r_id"))
      .select(col("custkey"), col("l_id"), col("r_id"),
        datediff(least(col("l_end"), col("r_end")),
          greatest(col("l_start"), col("r_start"))).cast("long").as("overlap_days"))
      .orderBy(col("custkey"), col("l_id"), col("r_id"))
  }

  val q56Sql: String =
    """WITH iv AS (
      |  SELECT o_custkey AS custkey, o_orderkey AS oid,
      |         CAST(o_orderdate AS TIMESTAMP) AS s,
      |         CAST(o_orderdate AS TIMESTAMP) + (o_orderkey % 7 + 1) * INTERVAL 1 DAY AS e
      |  FROM orders)
      |SELECT a.custkey AS custkey, a.oid AS l_id, b.oid AS r_id,
      |       CAST(date_diff('day', greatest(a.s, b.s), least(a.e, b.e)) AS BIGINT) AS overlap_days
      |FROM iv a JOIN iv b
      |  ON a.custkey = b.custkey AND a.oid < b.oid
      | AND a.s < b.e AND b.s < a.e
      |ORDER BY a.custkey, l_id, r_id""".stripMargin

  // ---------------------------------------------------------------- q38
  /** Trailing-interval window frame (RANGE BETWEEN, not ROWS BETWEEN —
    * the frame is VALUE-bounded: all events of the user in the last 10
    * minutes including ties, however many rows that is). Covers the
    * range-frame window surface the other event queries don't; one
    * shuffle on user_id, sorted once, both aggregates share the frame.
    */
  val TrailingMs = 600000L

  def q38TrailingWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
      .rangeBetween(-TrailingMs, 0)
    ev(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        count(lit(1)).over(w).as("trailing_n"),
        round(avg(col("value")).over(w), 6).as("trailing_avg"))
      .orderBy(col("event_id"))
  }

  val q38Sql: String =
    s"""SELECT event_id, user_id, ts_ms,
       |  count(*) OVER w AS trailing_n,
       |  round(avg(value) OVER w, 6) AS trailing_avg
       |FROM (SELECT event_id, user_id, value, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events)
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
       |             RANGE BETWEEN $TrailingMs PRECEDING AND CURRENT ROW)
       |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q58
  /** Fact-to-dimension enrichment through [[Skew.saltedJoinHotKeys]]:
    * every event joined to its user's totals (share of the user's
    * lifetime value). The salted operator samples the fact side for
    * hot keys, salts ONLY those, and joins the cold tail plainly —
    * detection affects the physical plan, never the result, which is
    * exactly what this gate proves: the oracle is the PLAIN join. At
    * 100 TB this is the shape that survives a power-law user: the hot
    * user's rows spread over `saltBuckets` tasks instead of one
    * straggler partition that AQE cannot split (every row of the key
    * must still meet the dimension row).
    */
  val SaltBuckets = 8

  def q58SaltedEnrichment(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val userTotals = e.groupBy(col("user_id")).agg(
      round(sum(col("value")), 6).as("user_total"),
      count(lit(1)).as("user_events"))
    Skew.saltedJoinHotKeys(
        e.select(col("event_id"), col("user_id"), col("value")),
        userTotals, Seq("user_id"),
        saltBuckets = SaltBuckets, sampleFraction = 0.2, minSampledCount = 10)
      .select(col("event_id"), col("user_id"),
        col("user_total"), col("user_events"),
        when(col("user_total") =!= 0d,
          round(col("value") / col("user_total"), 6)).as("share"))
      .orderBy(col("event_id"))
  }

  val q58Sql: String =
    """WITH tot AS (
      |  SELECT user_id, round(sum(value), 6) AS user_total,
      |         count(*) AS user_events
      |  FROM events GROUP BY user_id)
      |SELECT e.event_id, e.user_id, t.user_total, t.user_events,
      |       CASE WHEN t.user_total <> 0
      |            THEN round(e.value / t.user_total, 6) END AS share
      |FROM events e JOIN tot t USING (user_id)
      |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------- q59
  /** Keep-latest-per-key compaction (the upsert/SCD primitive every
    * mutable-feed lake needs: collapse an append-only event log to the
    * current row per key). Implemented as a PARTIAL-AGGREGATED
    * struct-max — max(struct(ts, event_id, payload…)) — so each map
    * task pre-reduces to one candidate row per key before the
    * exchange; a window row_number (the naive form) would shuffle
    * EVERY log row and sort each key group. (ts, event_id)
    * lexicographic max ≡ (ts DESC, event_id DESC) rank-1; event_id is
    * unique so the payload field never participates in the ordering.
    */
  def q59LatestPerKey(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("ts_ms"), col("event_id"), col("value"))).as("last"))
      .select(col("user_id"), col("event_type"),
        col("last.ts_ms").as("ts_ms"), col("last.event_id").as("event_id"),
        col("last.value").as("value"))
      .orderBy(col("user_id"), col("event_type"))

  val q59Sql: String =
    """SELECT user_id, event_type, ts_ms, event_id, value FROM (
      |  SELECT user_id, event_type, ts_ms, event_id, value,
      |         row_number() OVER (PARTITION BY user_id, event_type
      |                            ORDER BY ts_ms DESC, event_id DESC) AS rk
      |  FROM (SELECT user_id, event_type, event_id, value,
      |               CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events))
      |WHERE rk = 1 ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- q65
  /** Ordered conversion funnel (view → click → purchase): per user,
    * the first view, the first click AFTER that view, the first
    * purchase after that click; rolled up to per-stage user counts and
    * mean stage-to-stage delay. The staged-min formulation is the
    * scale shape: each stage is a FILTERED partial-aggregated groupBy
    * on user_id (tiny output — one row per converting user) joined to
    * the next stage's filtered scan; no per-user event-list collect,
    * no window over the full log. All three stages shuffle on the same
    * key, so the exchanges reuse one partitioning.
    */
  def q65Funnel(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("user_id"), col("event_type"), col("ts_ms"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts_ms") > col("t1"))
      .groupBy(col("user_id"), col("t1")).agg(min(col("ts_ms")).as("t2"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts_ms") > col("t2"))
      .groupBy(col("user_id"), col("t2")).agg(min(col("ts_ms")).as("t3"))
    val stages = Seq(
      v.agg(lit("1_view").as("stage"), count(lit(1)).as("n_users"),
        lit(null).cast("double").as("avg_delay_ms")),
      c.agg(lit("2_click").as("stage"), count(lit(1)).as("n_users"),
        round(avg(col("t2") - col("t1")), 6).as("avg_delay_ms")),
      p.agg(lit("3_purchase").as("stage"), count(lit(1)).as("n_users"),
        round(avg(col("t3") - col("t2")), 6).as("avg_delay_ms")))
    stages.reduce(_ unionByName _).orderBy(col("stage"))
  }

  val q65Sql: String =
    """WITH e AS (SELECT user_id, event_type, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events),
      |v AS (SELECT user_id, min(ts_ms) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, v.t1, min(e.ts_ms) AS t2
      |      FROM e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click' AND e.ts_ms > v.t1
      |      GROUP BY e.user_id, v.t1),
      |p AS (SELECT e.user_id, c.t2, min(e.ts_ms) AS t3
      |      FROM e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.ts_ms > c.t2
      |      GROUP BY e.user_id, c.t2)
      |SELECT '1_view' AS stage, count(*) AS n_users, CAST(NULL AS DOUBLE) AS avg_delay_ms FROM v
      |UNION ALL
      |SELECT '2_click', count(*), round(avg(t2 - t1), 6) FROM c
      |UNION ALL
      |SELECT '3_purchase', count(*), round(avg(t3 - t2), 6) FROM p
      |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- q68
  /** Window-function breadth the other event queries don't reach:
    * percent_rank + cume_dist (rank-family, no frame) and
    * first_value/nth_value over the full partition frame — the
    * per-group distribution-position diagnostics (where does this
    * event sit in its type's value distribution). One shuffle on
    * event_type; the total order (value, event_id) makes every
    * function tie-free, which is what lets the oracle gate rank
    * semantics exactly. Output thinned to event_id % 20 AFTER the
    * windows (the windows must see the full distribution).
    */
  def q68WindowShowcase(s: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ev(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("pct_rank", round(percent_rank().over(ord), 6))
      .withColumn("cume", round(cume_dist().over(ord), 6))
      .withColumn("lowest", first(col("value")).over(full))
      .withColumn("second_lowest", nth_value(col("value"), 2).over(full))
      .filter(col("event_id") % 20 === 0)
      .orderBy(col("event_id"))
  }

  val q68Sql: String =
    """SELECT event_id, event_type, value, pct_rank, cume, lowest, second_lowest
      |FROM (
      |  SELECT event_id, event_type, value,
      |         round(percent_rank() OVER wo, 6) AS pct_rank,
      |         round(cume_dist() OVER wo, 6) AS cume,
      |         first_value(value) OVER wf AS lowest,
      |         nth_value(value, 2) OVER wf AS second_lowest
      |  FROM events
      |  WINDOW wo AS (PARTITION BY event_type ORDER BY value, event_id),
      |         wf AS (PARTITION BY event_type ORDER BY value, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      |WHERE event_id % 20 = 0
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q70
  /** PARTITION-PRUNED lake read as a gated query: events are laid out
    * ONCE per sf dir as a Hive-style `event_type=`-partitioned parquet
    * lake (the offline layout decision, like q69's buckets and q43's
    * index), and the filtered rollup then reads ONLY the matching
    * partition directory — `PartitionFilters` in the scan, ~1/5 of the
    * bytes here, and at 100 TB the difference between scanning a
    * petabyte and scanning the slice the query names. The oracle runs
    * the same filter over the RAW un-partitioned parquet — layout must
    * never change results. (PlanSpec asserts the pruning is real, not
    * a post-scan filter.)
    */
  private val lakePrepped = scala.collection.mutable.HashSet.empty[String]

  /** Idempotent offline partitioned-lake prep; returns the lake path. */
  def preparePartitionedLake(s: SparkSession, dir: String): String =
    lakePrepped.synchronized {
      val path = new java.io.File(
        s"target/event-lake/${PathTag.tagFor(dir)}").getAbsolutePath
      if (!lakePrepped.contains(path)) {
        Tables.events(s, dir).write.partitionBy("event_type")
          .mode("overwrite").parquet(path)
        lakePrepped.add(path)
      }
      path
    }

  // --------------------------------------------------------------- q120
  /** ORC lake migration: the SAME declarative aggregation q70 runs
    * over parquet, executed over an ORC copy of the events table
    * (hive-partitioned by event_type, built once as an offline layout
    * like the parquet lake / bucketed tables / IVF index). The point
    * is format-independence of the engine surface: Spark's second
    * built-in columnar format drops in with zero query changes —
    * vectorized reader, partition pruning, and predicate pushdown all
    * still apply — and the oracle (computed from the original parquet
    * via DuckDB) proves the migrated copy is bit-faithful. This is
    * the lake-migration acceptance check: rewrite a table's format,
    * re-run the standing queries, hash-compare.
    */
  private val orcPrepped = scala.collection.mutable.Set[String]()

  def prepareOrcLake(s: SparkSession, dir: String): String =
    orcPrepped.synchronized {
      val path = new java.io.File(
        s"target/event-lake-orc/${PathTag.tagFor(dir)}").getAbsolutePath
      if (!orcPrepped.contains(path)) {
        Tables.events(s, dir).write.partitionBy("event_type")
          .mode("overwrite").orc(path)
        orcPrepped.add(path)
      }
      path
    }

  def q120OrcLake(s: SparkSession, dir: String): DataFrame =
    s.read.orc(prepareOrcLake(s, dir))
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 6).as("sum_value"))
      .orderBy(col("day"))

  val q120Sql: String =
    """SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |       count(*) AS n,
      |       count(DISTINCT user_id) AS n_users,
      |       round(sum(value), 6) AS sum_value
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q121
  /** Z-order (Morton) clustering key over (user_id, time) — the
    * multi-dimensional sort key behind data-skipping lake layouts:
    * writing files in z-order makes BOTH `user_id = ?` and time-range
    * scans touch few files, because the interleaved key keeps
    * 2-D-close rows 1-D-close (a linear sort by either column alone
    * optimizes one dimension and destroys the other). The key is pure
    * bit arithmetic — 16 bits of each dimension interleaved with
    * shift/and/or, codegen'd, shuffle-free — and therefore exactly
    * reproducible in the oracle. Dimensions: user_id mod 2¹⁶ and
    * minute-bucket mod 2¹⁶ (the wrap is the standard trick for
    * unbounded time: locality within the wrap window is what file
    * skipping uses). The spec proves BIJECTIVITY (de-interleaving
    * recovers both coordinates) — the property that makes z-range
    * file pruning sound.
    */
  def zValue(u: Column, t: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(u, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(t, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))

  def q121ZorderKey(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .select(col("event_id"),
        (col("user_id") % 65536L).as("u"),
        (expr("ts_ms div 60000") % 65536L).as("t"))
      .select(col("event_id"), col("u"), col("t"),
        zValue(col("u"), col("t")).as("zvalue"))
      .orderBy(col("event_id"))

  /** DuckDB mirror of [[zValue]]'s bit interleave over columns named
    * `u`/`t` — shared by q121 (key export) and q125 (block manifest). */
  private val zTermsSql: String = (0 until 16).map(i =>
    s"(((u >> $i) & 1) << ${2 * i}) | (((t >> $i) & 1) << ${2 * i + 1})")
    .mkString(" | ")

  val q121Sql: String =
    """WITH base AS (
      |  SELECT event_id,
      |         user_id % 65536 AS u,
      |         (CAST(epoch_ms(ts) AS BIGINT) // 60000) % 65536 AS t
      |  FROM events)
      |SELECT event_id, u, t, CAST(TERMS AS BIGINT) AS zvalue
      |FROM base ORDER BY event_id""".stripMargin
      .replace("TERMS", zTermsSql)

  // --------------------------------------------------------------- q122
  /** Incremental CDC merge (the MERGE INTO / upsert-compaction law a
    * mutable lake lives by): compact the log BEFORE a cut timestamp
    * into a snapshot, compact the delta AFTER the cut, merge the two
    * 1-row-per-key sides, and only THEN drop tombstones. The gate
    * proves the incremental-view-maintenance identity
    * `merge(compact(old), compact(new)) == compact(old ∪ new)` — the
    * oracle computes the right-hand side directly over the full log.
    * Two subtleties the shape encodes: (1) tombstones (here: a key
    * whose latest record is an `error` event) must SURVIVE intermediate
    * compactions — dropping them early would resurrect an older
    * non-deleted row at merge time; the filter is the last stage.
    * (2) the merge picks the lexicographically greater (ts_ms,
    * event_id, …) struct via `greatest`, not a blind
    * delta-wins coalesce, so the operator stays correct even when the
    * two compacted sides overlap in time (backfills, replays). Each
    * compaction is the q59 partial-agg struct-max — one exchange per
    * side at map-reduced (1 row/key) width; at 100 TB the snapshot side
    * is the already-compacted lake generation, so only the delta pays a
    * fresh scan.
    */
  def cdcCompact(log: DataFrame): DataFrame =
    log.groupBy(col("user_id"))
      .agg(max(struct(col("ts_ms"), col("event_id"), col("event_type"),
        col("value"))).as("last"))

  /** Full-outer key merge of two compacted sides; `greatest` skips the
    * null side and otherwise takes the newer (ts_ms, event_id) struct. */
  def cdcMerge(snapshot: DataFrame, delta: DataFrame): DataFrame =
    snapshot.withColumnRenamed("last", "old")
      .join(delta.withColumnRenamed("last", "new"), Seq("user_id"), "full_outer")
      .select(col("user_id"), greatest(col("new"), col("old")).as("last"))

  def q122CdcMerge(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("user_id"), col("ts_ms"), col("event_id"),
      col("event_type"), col("value"))
    // deterministic cut = midpoint of the observed time range (exact
    // integer ms arithmetic — identical in both engines)
    val cut = e.agg(min(col("ts_ms")).as("mn"), max(col("ts_ms")).as("mx"))
      .select(expr("mn + (mx - mn) div 2").as("cut"))
    val withCut = e.crossJoin(broadcast(cut))
    val snap = cdcCompact(withCut.filter(col("ts_ms") < col("cut")))
    val delta = cdcCompact(withCut.filter(col("ts_ms") >= col("cut")))
    cdcMerge(snap, delta)
      .filter(col("last.event_type") =!= "error") // tombstone drop: LAST stage only
      .select(col("user_id"), col("last.ts_ms").as("ts_ms"),
        col("last.event_id").as("event_id"),
        col("last.event_type").as("event_type"), col("last.value").as("value"))
      .orderBy(col("user_id"))
  }

  val q122Sql: String =
    """SELECT user_id, ts_ms, event_id, event_type, value FROM (
      |  SELECT user_id, ts_ms, event_id, event_type, value,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts_ms DESC, event_id DESC) AS rk
      |  FROM (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
      |               event_id, event_type, value FROM events))
      |WHERE rk = 1 AND event_type <> 'error'
      |ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- q123
  /** SCD Type-2 dimension build: version every key's change history
    * into half-open validity intervals `[valid_from_ms, valid_to_ms)`
    * (NULL end = current row) — the standard warehouse shape for
    * "what was this attribute worth at time T" joins. Here the tracked
    * attribute is each user's purchase value stream. One exchange on
    * user_id; `row_number` (version) and `lead` (interval end) share
    * the same window sort, so Catalyst plans a single sort. The
    * (ts_ms, event_id) total order makes versioning tie-free even for
    * same-millisecond records; intervals are contiguous and
    * non-overlapping BY CONSTRUCTION (each row's end is the next row's
    * start), which the spec re-derives.
    */
  def q123Scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    ev(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms"), col("event_id"), col("value"))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to_ms", lead(col("ts_ms"), 1).over(w))
      .select(col("user_id"), col("version"),
        col("ts_ms").as("valid_from_ms"), col("valid_to_ms"), col("value"),
        col("valid_to_ms").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  val q123Sql: String =
    """SELECT user_id, version, valid_from_ms, valid_to_ms, value,
      |       valid_to_ms IS NULL AS is_current
      |FROM (
      |  SELECT user_id,
      |         row_number() OVER w AS version,
      |         ts_ms AS valid_from_ms,
      |         lead(ts_ms) OVER w AS valid_to_ms, value
      |  FROM (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
      |               event_id, value FROM events WHERE event_type = 'purchase')
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
      |ORDER BY user_id, version""".stripMargin

  // --------------------------------------------------------------- q124
  /** Small-file compaction planning (the lake-maintenance scheduler):
    * model the per-(event_type, day) partition files of the q70 lake as
    * a size manifest (64 B/row overhead + payload bytes — a pure
    * function of the data, so the oracle rebuilds it exactly), then
    * chunk each event_type's day-ordered file list into merge jobs of
    * ~target bytes by `floor(prefix_sum_before / target)`. The target
    * is RELATIVE (4× mean file size, exact integer division) so the
    * plan keeps the same shape at every sf. Bins are contiguous in day
    * order — compaction jobs rewrite adjacent partitions — and the
    * prefix-sum formulation is one window over a manifest that is
    * already tiny (files, not rows), which is the actual 100 TB shape:
    * compaction planning runs on metadata, never on the data. The
    * manifest aggregate is localCheckpointed because both the target
    * scalar and the plan read it (Spark does not dedupe logical
    * subplans).
    */
  val CompactionTargetFactor = 4L

  def q124CompactionPlan(s: SparkSession, dir: String): DataFrame = {
    val files = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) * 64 + sum(expr("octet_length(props)"))).as("bytes"))
      .localCheckpoint()
    val target = files
      .agg(sum(col("bytes")).as("tb"), count(lit(1)).as("nf"))
      .select(expr(s"$CompactionTargetFactor * tb div nf").as("target"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    files.crossJoin(broadcast(target))
      .withColumn("cum_before", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("bin", expr("cum_before div target"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bin_bytes"),
        sum(col("n_rows")).as("n_rows"),
        min(col("day")).as("min_day"), max(col("day")).as("max_day"))
      .orderBy(col("event_type"), col("bin"))
  }

  val q124Sql: String =
    s"""WITH f AS (
       |  SELECT event_type, CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
       |         count(*) AS n_rows,
       |         CAST(64 * count(*) + sum(strlen(props)) AS BIGINT) AS bytes
       |  FROM events GROUP BY 1, 2),
       |t AS (SELECT CAST($CompactionTargetFactor * sum(bytes) // count(*) AS BIGINT)
       |             AS target FROM f),
       |b AS (
       |  SELECT event_type, day, n_rows, bytes,
       |         CAST(coalesce(sum(bytes) OVER (
       |           PARTITION BY event_type ORDER BY day
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |         AS BIGINT) AS cum_before
       |  FROM f)
       |SELECT b.event_type, b.cum_before // t.target AS bin,
       |       count(*) AS n_files, CAST(sum(b.bytes) AS BIGINT) AS bin_bytes,
       |       CAST(sum(b.n_rows) AS BIGINT) AS n_rows,
       |       min(b.day) AS min_day, max(b.day) AS max_day
       |FROM b CROSS JOIN t
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q125
  /** Data-skipping manifest + effectiveness for the q121 z-order layout
    * vs a time-linear layout. Blocks are VALUE-RANGE cells (z div 2¹⁰
    * for the z-layout — i.e. the interleaved (u div 32, t div 32)
    * square — and t div 1024 for the linear layout), so the manifest is
    * a plain partial-aggregated groupBy: no global sort, no sampled
    * range partitioner, fully deterministic — exactly how a writer
    * that clusters by key range would lay files out at 100 TB. Each
    * block row carries the (min,max) column stats a reader's planner
    * consults, plus `hit_u`/`hit_t`: whether the block SURVIVES min/max
    * pruning for a fixed user-band predicate (u ∈ [32,63]) and a fixed
    * time-band predicate (t ∈ [16384,32767]). The z-layout bounds BOTH
    * dimensions per block (32-wide u cells AND 32-minute t cells), so
    * the u-band prunes most blocks; the linear layout's time blocks
    * span every user and survive u-pruning wholesale — the measured
    * argument FOR multi-dimensional clustering. Pruning soundness
    * (every matching row lives in a surviving block — a consequence of
    * min ≤ row ≤ max) is spec-asserted.
    */
  val ZBlockDiv = 1L << 10
  val LinearBlockMinutes = 1024L
  val UBandLo = 32L; val UBandHi = 63L
  val TBandLo = 16384L; val TBandHi = 32767L

  def q125SkippingManifest(s: SparkSession, dir: String): DataFrame = {
    val base = ev(s, dir).select(
        col("event_id"),
        (col("user_id") % 65536L).as("u"),
        (expr("ts_ms div 60000") % 65536L).as("t"))
      .withColumn("z", zValue(col("u"), col("t")))
    def manifest(layout: String, blockCol: Column) =
      base.groupBy(blockCol.as("block_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("u")).as("min_u"), max(col("u")).as("max_u"),
          min(col("t")).as("min_t"), max(col("t")).as("max_t"))
        .select(lit(layout).as("layout"), col("block_id"), col("n_rows"),
          col("min_u"), col("max_u"), col("min_t"), col("max_t"))
    manifest("zorder", expr(s"z div $ZBlockDiv"))
      .unionByName(manifest("linear", expr(s"t div $LinearBlockMinutes")))
      .withColumn("hit_u", col("min_u") <= UBandHi && col("max_u") >= UBandLo)
      .withColumn("hit_t", col("min_t") <= TBandHi && col("max_t") >= TBandLo)
      .orderBy(col("layout"), col("block_id"))
  }

  val q125Sql: String =
    s"""WITH base AS (
       |  SELECT event_id, user_id % 65536 AS u,
       |         (CAST(epoch_ms(ts) AS BIGINT) // 60000) % 65536 AS t
       |  FROM events),
       |z AS (SELECT event_id, u, t, CAST(TERMS AS BIGINT) AS z FROM base),
       |m AS (
       |  SELECT 'zorder' AS layout, z // $ZBlockDiv AS block_id,
       |         count(*) AS n_rows,
       |         min(u) AS min_u, max(u) AS max_u,
       |         min(t) AS min_t, max(t) AS max_t
       |  FROM z GROUP BY 1, 2
       |  UNION ALL
       |  SELECT 'linear', t // $LinearBlockMinutes, count(*),
       |         min(u), max(u), min(t), max(t)
       |  FROM z GROUP BY 1, 2)
       |SELECT layout, block_id, n_rows, min_u, max_u, min_t, max_t,
       |       (min_u <= $UBandHi AND max_u >= $UBandLo) AS hit_u,
       |       (min_t <= $TBandHi AND max_t >= $TBandLo) AS hit_t
       |FROM m ORDER BY layout, block_id""".stripMargin
      .replace("TERMS", zTermsSql)

  // --------------------------------------------------------------- q131
  /** Dirty-window SELECTIVE recompute — the backfill shape that keeps
    * a 100 TB rollup refresh proportional to the damage, not the
    * corpus: a late-arriving batch (deterministic stand-in: event_id
    * divisible by 97) dirties only the (window, event_type) groups it
    * touches, so the refresh SEMI-JOINS the fact scan down to those
    * groups BEFORE aggregating and recomputes just their q30-style
    * rollups. The dirty-key set is tiny (distinct window ids of the
    * late batch) and broadcasts; with a window-partitioned lake (q70's
    * layout) the semi-join becomes partition pruning and the refresh
    * touches only dirty files. Compare the full-refresh alternative:
    * re-aggregating every window to repair a handful — the difference
    * between a nightly backfill that takes minutes and one that
    * rescans the lake. The oracle recomputes the same dirty groups
    * directly.
    */
  val LateEventMod = 97L

  def q131DirtyWindowRecompute(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).withColumn("window_id",
      expr(s"ts_ms div ${WindowSecs * 1000}"))
    val dirty = e.filter(col("event_id") % LateEventMod === 0)
      .select(col("window_id"), col("event_type")).distinct()
    e.join(broadcast(dirty), Seq("window_id", "event_type"), "left_semi")
      .groupBy(col("window_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 6).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("window_id"), col("event_type"))
  }

  val q131Sql: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, value,
       |         CAST(epoch_ms(ts) AS BIGINT) // ${WindowSecs * 1000} AS window_id
       |  FROM events),
       |dirty AS (
       |  SELECT DISTINCT window_id, event_type FROM e
       |  WHERE event_id % $LateEventMod = 0)
       |SELECT e.window_id, e.event_type, count(*) AS n,
       |       round(sum(e.value), 6) AS sum_value,
       |       count(DISTINCT e.user_id) AS n_users
       |FROM e JOIN dirty USING (window_id, event_type)
       |GROUP BY e.window_id, e.event_type
       |ORDER BY e.window_id, e.event_type""".stripMargin

  def q70PartitionPruning(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(preparePartitionedLake(s, dir))
      .filter(col("event_type") === "click")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
      .orderBy(col("user_id"))

  val q70Sql: String =
    """SELECT user_id, count(*) AS n, round(sum(value), 6) AS sum_value
      |FROM events WHERE event_type = 'click'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- q170
  /** Equi-width value-histogram profile per event type — the numeric
    * distribution summary a profiler (or a cost model choosing
    * bucketing boundaries) reads: values micro-quantized to exact
    * longs, per-type min/max from one aggregate, then bin assignment
    * is pure integer arithmetic — `(bins·(v−mn)) div (mx−mn+1)` capped
    * at the last bin — so the histogram is bit-identical across
    * engines (no float binning drift, the reason width_bucket is NOT
    * used). The type-keyed range table broadcasts back; two corpus
    * passes, both type-keyed. Empty bins are simply absent — the
    * consumer treats the histogram as sparse.
    */
  val HistBins = 10L

  def q170ValueHistogram(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("event_type"),
      expr("cast(round(1e6 * value) as bigint)").as("v"))
    val rng = e.groupBy(col("event_type"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    e.join(broadcast(rng), Seq("event_type"))
      .withColumn("bin", expr(
        s"least($HistBins - 1, ($HistBins * (v - mn)) div (mx - mn + 1))"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n_events"),
        min(col("mn")).as("mn_micro"), min(col("mx")).as("mx_micro"))
      .orderBy(col("event_type"), col("bin"))
  }

  val q170Sql: String =
    s"""WITH e AS (
       |  SELECT event_type, CAST(round(1e6 * value) AS BIGINT) AS v
       |  FROM events),
       |rng AS (
       |  SELECT event_type, min(v) AS mn, max(v) AS mx
       |  FROM e GROUP BY event_type),
       |b AS (
       |  SELECT e.event_type,
       |    least($HistBins - 1, ($HistBins * (e.v - rng.mn)) // (rng.mx - rng.mn + 1)) AS bin,
       |    rng.mn AS mn, rng.mx AS mx
       |  FROM e JOIN rng USING (event_type))
       |SELECT event_type, CAST(bin AS BIGINT) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(min(mn) AS BIGINT) AS mn_micro,
       |  CAST(min(mx) AS BIGINT) AS mx_micro
       |FROM b GROUP BY event_type, bin
       |ORDER BY event_type, bin""".stripMargin

  // --------------------------------------------------------------- q171
  /** Ordered funnel conversion (view → click → purchase) — the product
    * analytics primitive: a user converts a stage only by an event
    * STRICTLY AFTER their previous stage's first event (ordering, not
    * co-occurrence — what separates a funnel from three filters). Each
    * stage is a user-keyed min aggregate joined to the previous
    * stage's timestamps; all three joins share the user_id keying, so
    * at scale they co-partition behind one exchange. Conversion rates
    * divide exact counts once per stage (HALF_UP micro; stage 1's is
    * NULL by contract). Timestamps compare as exact epoch millis.
    */
  def q171Funnel(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("user_id"), col("event_type"), col("ts_ms"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts_ms") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t2"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts_ms") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t3"))
    v.agg(count(lit(1)).as("n1"))
      .crossJoin(c.agg(count(lit(1)).as("n2")))
      .crossJoin(p.agg(count(lit(1)).as("n3")))
      .select(expr(
        """explode(array(
          |  struct(1L as stage, 'view' as stage_name, n1 as n_users,
          |         cast(null as bigint) as conv_micro),
          |  struct(2L as stage, 'click' as stage_name, n2 as n_users,
          |         cast(round(1e6 * (n2 / n1)) as bigint) as conv_micro),
          |  struct(3L as stage, 'purchase' as stage_name, n3 as n_users,
          |         cast(round(1e6 * (n3 / n2)) as bigint) as conv_micro)))"""
          .stripMargin).as("r"))
      .select(col("r.stage"), col("r.stage_name"), col("r.n_users"),
        col("r.conv_micro"))
      .orderBy(col("stage"))
  }

  val q171Sql: String =
    """WITH v AS (
      |  SELECT user_id, min(epoch_ms(ts)) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(epoch_ms(e.ts)) AS t2
      |  FROM events e JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND epoch_ms(e.ts) > v.t1
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(epoch_ms(e.ts)) AS t3
      |  FROM events e JOIN c ON c.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > c.t2
      |  GROUP BY e.user_id),
      |n AS (
      |  SELECT (SELECT count(*) FROM v) AS n1,
      |         (SELECT count(*) FROM c) AS n2,
      |         (SELECT count(*) FROM p) AS n3)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name,
      |    CAST(n1 AS BIGINT) AS n_users, CAST(NULL AS BIGINT) AS conv_micro
      |  FROM n
      |  UNION ALL
      |  SELECT 2, 'click', CAST(n2 AS BIGINT),
      |    CAST(round(1e6 * (n2 / n1)) AS BIGINT) FROM n
      |  UNION ALL
      |  SELECT 3, 'purchase', CAST(n3 AS BIGINT),
      |    CAST(round(1e6 * (n3 / n2)) AS BIGINT) FROM n)
      |ORDER BY stage""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q70_partition_pruning", q70PartitionPruning _, q70Sql),
    Query("q120_orc_lake", q120OrcLake _, q120Sql),
    Query("q121_zorder_key", q121ZorderKey _, q121Sql),
    Query("q122_cdc_merge", q122CdcMerge _, q122Sql),
    Query("q123_scd2", q123Scd2 _, q123Sql),
    Query("q124_compaction_plan", q124CompactionPlan _, q124Sql),
    Query("q125_skipping_manifest", q125SkippingManifest _, q125Sql),
    Query("q131_dirty_window_recompute", q131DirtyWindowRecompute _, q131Sql),
    Query("q170_value_histogram", q170ValueHistogram _, q170Sql),
    Query("q171_funnel", q171Funnel _, q171Sql),
    Query("q68_window_showcase", q68WindowShowcase _, q68Sql),
    Query("q65_funnel", q65Funnel _, q65Sql),
    Query("q58_salted_enrichment", q58SaltedEnrichment _, q58Sql),
    Query("q59_latest_per_key", q59LatestPerKey _, q59Sql),
    Query("q30_event_window_agg", q30WindowAgg _, q30Sql),
    Query("q31_sessionize", q31Sessionize _, q31Sql),
    Query("q111_session_window", q111SessionWindow _, q111Sql),
    Query("q112_resample_ffill", q112ResampleFfill _, q112Sql),
    Query("q118_winsorize", q118Winsorize _, q118Sql),
    Query("q119_robust_stats", q119RobustStats _, q119Sql),
    Query("q32_event_dedup", q32EventDedup _, q32Sql),
    Query("q33_asof_attribution", q33AsofAttribution _, q33Sql),
    Query("q35_json_extract", q35JsonExtract _, q35Sql),
    Query("q36_range_join_campaigns", q36RangeJoinCampaigns _, q36Sql),
    Query("q56_interval_overlap", q56IntervalOverlap _, q56Sql),
    Query("q38_trailing_window", q38TrailingWindow _, q38Sql),
  )
}
