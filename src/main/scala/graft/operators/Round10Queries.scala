package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables

/** Round-10 additions (driver round 4, batch 11): the exact-distinct
  * bitmap aggregate family Spark added in 3.5/4.x, plus four
  * product-analytics / feature-store staples — point-in-time dimension
  * enrichment, multi-touch attribution, activity streaks, and an A/B
  * experiment readout on exact moments.
  *
  * Same determinism contract as every gated family: integer-exact
  * carriers (milli-unit longs, decimal partial sums) through every
  * aggregate, ONE double excursion in the identical expression form on
  * both engines, deterministic orderings with unique-id tie-breaks,
  * md5 (never rand()) for any "random" assignment.
  */
object Round10Queries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))

  // ---------------------------------------------------------------- q196
  /** Exact distinct counting via the bitmap aggregate family
    * (`bitmap_bucket_number` / `bitmap_bit_position` /
    * `bitmap_construct_agg` / `bitmap_or_agg` / `bitmap_count`, added
    * in Spark 3.5) — the MERGEABLE exact-distinct pattern: ids are
    * bucketed into 32k-bit bitmaps, per-(type, day, bucket) bitmaps
    * are built once, and BOTH readouts derive from those same bitmaps
    * — per-day distincts as `bitmap_count` sums, and the per-type
    * distinct as `bitmap_or_agg` across days (count(DISTINCT) can
    * never be re-aggregated; OR-ing bitmaps is the whole point — a
    * precomputed daily cube rolls up to any coarser grain without
    * touching raw data). That rollup-from-sketch step is exactly what
    * a 100 TB daily-active-users pipeline materializes; unlike HLL the
    * answer is EXACT, so the plain-count(DISTINCT) DuckDB oracle gates
    * it hash-exact. Memory is bounded by id-range/8 bits per group —
    * the reason for the bucket dimension (sparse id spaces cost one
    * small bitmap per occupied 32k bucket, not one giant bitmap).
    */
  def q196BitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events")
    s.sql(
      """WITH e AS (
        |  SELECT event_type, unix_micros(ts) DIV 86400000000 AS day, user_id
        |  FROM events),
        |b AS (
        |  SELECT event_type, day, bitmap_bucket_number(user_id) AS bk,
        |         bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
        |  FROM e GROUP BY event_type, day, bk),
        |daily AS (
        |  SELECT event_type, day, sum(bitmap_count(bm)) AS d_cnt
        |  FROM b GROUP BY event_type, day),
        |d2 AS (
        |  SELECT event_type, count(*) AS n_days,
        |         CAST(sum(d_cnt) AS BIGINT) AS daily_distinct_sum
        |  FROM daily GROUP BY event_type),
        |tot AS (
        |  SELECT event_type, CAST(sum(c) AS BIGINT) AS distinct_users
        |  FROM (SELECT event_type, bk, bitmap_count(bitmap_or_agg(bm)) AS c
        |        FROM b GROUP BY event_type, bk)
        |  GROUP BY event_type)
        |SELECT d2.event_type, d2.n_days, d2.daily_distinct_sum,
        |       tot.distinct_users
        |FROM d2 JOIN tot ON d2.event_type = tot.event_type
        |ORDER BY event_type""".stripMargin)
  }

  val q196Sql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, user_id
      |  FROM events),
      |daily AS (
      |  SELECT event_type, day, count(DISTINCT user_id) AS d_cnt
      |  FROM e GROUP BY event_type, day),
      |d2 AS (
      |  SELECT event_type, count(*) AS n_days,
      |         CAST(sum(d_cnt) AS BIGINT) AS daily_distinct_sum
      |  FROM daily GROUP BY event_type),
      |tot AS (
      |  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
      |           AS distinct_users
      |  FROM e GROUP BY event_type)
      |SELECT d2.event_type, d2.n_days, d2.daily_distinct_sum,
      |       tot.distinct_users
      |FROM d2 JOIN tot ON d2.event_type = tot.event_type
      |ORDER BY d2.event_type""".stripMargin

  // ---------------------------------------------------------------- q197
  /** Point-in-time dimension enrichment — join each fact row to the
    * dimension VERSION that was valid at the fact's event time, the
    * feature-store staple that prevents label leakage (training
    * features must reflect what was knowable at event time, never a
    * later version). The dimension is the q123 SCD-2 build (signup
    * events → half-open validity intervals [valid_from, valid_to) per
    * user, version chain tie-free on (ts_us, event_id)); facts are
    * purchases. The join is an equi-join on user_id with the interval
    * predicate as a residual condition — a SortMergeJoin at scale
    * (PlanSpec locks out BroadcastNestedLoopJoin), correct because
    * versions per key are few and intervals within a key partition
    * time, so each fact matches at most one version. Facts before the
    * first version keep version −1 (LEFT join): the leakage-proof
    * answer is "no dimension existed yet", never "use a later one".
    */
  def q197PitJoin(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val dim = ev(s, dir).filter(col("event_type") === "signup")
      .select(col("user_id").as("d_user"), col("ts_us"), col("event_id"))
      .withColumn("version", row_number().over(
        Window.partitionBy(col("d_user")).orderBy(col("ts_us"), col("event_id"))))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(
        Window.partitionBy(col("d_user")).orderBy(col("ts_us"), col("event_id"))))
      .select(col("d_user"), col("version"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"))
    val fact = ev(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"),
        round(col("value") * 1000, 0).cast("long").as("v_milli"))
    fact.join(dim,
        fact("user_id") === dim("d_user") &&
          dim("valid_from_us") <= fact("ts_us") &&
          (dim("valid_to_us").isNull || fact("ts_us") < dim("valid_to_us")),
        "left")
      .groupBy(coalesce(col("version").cast("long"), lit(-1L)).as("version"))
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("v_milli")).cast("long").as("revenue_milli"))
      .orderBy(col("version"))
  }

  val q197Sql: String =
    """WITH dim AS (
      |  SELECT user_id AS d_user,
      |         CAST(row_number() OVER (PARTITION BY user_id
      |                                 ORDER BY ts_us, event_id) AS BIGINT)
      |           AS version,
      |         ts_us AS valid_from_us,
      |         lead(ts_us) OVER (PARTITION BY user_id
      |                           ORDER BY ts_us, event_id) AS valid_to_us
      |  FROM (SELECT user_id, epoch_us(ts) AS ts_us, event_id
      |        FROM events WHERE event_type = 'signup')),
      |fact AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us,
      |         CAST(round(value * 1000, 0) AS BIGINT) AS v_milli
      |  FROM events WHERE event_type = 'purchase')
      |SELECT coalesce(d.version, -1) AS version,
      |       count(*) AS n_purchases,
      |       count(DISTINCT f.user_id) AS n_users,
      |       CAST(sum(f.v_milli) AS BIGINT) AS revenue_milli
      |FROM fact f LEFT JOIN dim d
      |  ON f.user_id = d.d_user AND d.valid_from_us <= f.ts_us
      | AND (d.valid_to_us IS NULL OR f.ts_us < d.valid_to_us)
      |GROUP BY 1 ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- q198
  /** Multi-touch attribution, U-shaped (position-based 40/20/40) —
    * credit each user's pre-conversion touch path: 40% to the first
    * touch, 40% to the last, the middle 20% split evenly. All credit
    * arithmetic is INTEGER basis points (n=1 → 10000; n=2 → 5000 each;
    * n≥3 → 4000/4000 at the ends, 2000 div (n−2) per middle with the
    * division remainder assigned to the first touch) so per-channel
    * sums are reduce-order-free — the float version of this query
    * cannot pass a hash gate, and in production drifts between reruns.
    * Conversion is the user's FIRST purchase instant; touches are
    * strictly earlier non-purchase events, ordered tie-free on
    * (ts_us, event_id). One broadcastable conversion-time join, one
    * per-user window, one channel-sized aggregate.
    */
  def q198Attribution(s: SparkSession, dir: String): DataFrame = {
    val conv = ev(s, dir).filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("conv_ts"))
    val w = Window.partitionBy(col("user_id"))
    ev(s, dir).filter(col("event_type") =!= "purchase")
      .join(conv, Seq("user_id"))
      .filter(col("ts_us") < col("conv_ts"))
      .select(col("user_id"), col("event_type").as("channel"),
        col("ts_us"), col("event_id"))
      .withColumn("pos",
        row_number().over(w.orderBy(col("ts_us"), col("event_id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("bp", expr(
        """CASE WHEN n = 1 THEN 10000
          |     WHEN n = 2 THEN 5000
          |     WHEN pos = 1 THEN 4000 + 2000 % (n - 2)
          |     WHEN pos = n THEN 4000
          |     ELSE 2000 DIV (n - 2) END""".stripMargin))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("bp")).cast("long").as("credit_bp"))
      .orderBy(col("channel"))
  }

  val q198Sql: String =
    """WITH conv AS (
      |  SELECT user_id, min(epoch_us(ts)) AS conv_ts
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |t AS (
      |  SELECT e.user_id, e.event_type AS channel,
      |         epoch_us(e.ts) AS ts_us, e.event_id
      |  FROM events e JOIN conv c ON e.user_id = c.user_id
      |  WHERE e.event_type <> 'purchase' AND epoch_us(e.ts) < c.conv_ts),
      |r AS (
      |  SELECT user_id, channel,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts_us, event_id) AS pos,
      |         count(*) OVER (PARTITION BY user_id) AS n
      |  FROM t)
      |SELECT channel, count(*) AS n_touches,
      |       CAST(sum(CASE WHEN n = 1 THEN 10000
      |                     WHEN n = 2 THEN 5000
      |                     WHEN pos = 1 THEN 4000 + 2000 % (n - 2)
      |                     WHEN pos = n THEN 4000
      |                     ELSE 2000 // (n - 2) END) AS BIGINT) AS credit_bp
      |FROM r GROUP BY channel ORDER BY channel""".stripMargin

  // ---------------------------------------------------------------- q199
  /** Longest activity streak per user — consecutive-CALENDAR-DAY runs,
    * the engagement metric behind "7-day streak" product features and
    * a different islands problem from q31's time-gap sessions: the
    * grouping key is `day − row_number()` over each user's distinct
    * active days (constant exactly while days are consecutive — the
    * classic gaps-and-islands identity on an integer domain, no gap
    * threshold to tune). Day ids are integer epoch-day division (the
    * q177 rule — no calendar/timezone surface near the gate). The
    * distinct-day table is ≤ users × days — tiny relative to raw
    * events at any scale — and everything after the dedup rides one
    * user-keyed window plus two user-keyed aggregates: corpus-sized
    * work is the dedup scan only.
    */
  def q199Streaks(s: SparkSession, dir: String): DataFrame = {
    val days = ev(s, dir)
      .selectExpr("user_id", "ts_us DIV 86400000000 AS day").distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days.withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp")).agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).cast("long").as("active_days"))
      .orderBy(col("user_id"))
  }

  val q199Sql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |g AS (
      |  SELECT user_id, day,
      |         day - row_number() OVER (PARTITION BY user_id ORDER BY day)
      |           AS grp
      |  FROM d),
      |st AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY user_id, grp)
      |SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
      |       count(*) AS n_streaks, CAST(sum(len) AS BIGINT) AS active_days
      |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q200
  /** A/B experiment readout — deterministic variant assignment (md5
    * parity over user_id, the standing no-rand() rule: assignment is
    * reproducible, auditable, and stable under retries — rand() here
    * silently reassigns users between reruns) and Welch's t statistic
    * over EXACT per-variant moments: per-user purchase totals in
    * milli-units, (n, Σx, Σx²) with Σx² carried as DECIMAL(38,0)
    * (milli-scale squares overflow a long at large sf — the q195
    * decimal-carrier rule; DuckDB's HUGEINT sum is the twin), then ONE
    * double excursion for means, sample variances, and t in the
    * identical expression form on both engines, rounded 1e-6. The
    * built-in variance/stddev aggregates are float accumulators —
    * reduce-order-dependent, unusable under a hash gate and
    * irreproducible across cluster runs; exact moments are how an
    * experimentation platform gets the same answer twice. One corpus
    * scan → per-user aggregate → 2-variant conditional rollup.
    */
  def q200AbTest(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events")
    s.sql(
      """WITH u AS (
        |  SELECT user_id,
        |         sum(CAST(round(value * 1000, 0) AS BIGINT)) AS tot_milli,
        |         max(CASE WHEN value > 400 THEN 1 ELSE 0 END) AS conv
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |v AS (
        |  SELECT CASE WHEN CAST(conv(substring(md5(
        |                concat('ab42|', CAST(user_id AS STRING))), 1, 2),
        |                16, 10) AS BIGINT) % 2 = 0
        |              THEN 'A' ELSE 'B' END AS variant,
        |         tot_milli, conv
        |  FROM u),
        |m AS (
        |  SELECT
        |    sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS n_b,
        |    sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS conv_a,
        |    sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS conv_b,
        |    sum(CASE WHEN variant = 'A' THEN tot_milli ELSE 0 END) AS sx_a,
        |    sum(CASE WHEN variant = 'B' THEN tot_milli ELSE 0 END) AS sx_b,
        |    sum(CASE WHEN variant = 'A'
        |             THEN CAST(tot_milli AS DECIMAL(38,0)) * tot_milli
        |             ELSE 0 END) AS sxx_a,
        |    sum(CASE WHEN variant = 'B'
        |             THEN CAST(tot_milli AS DECIMAL(38,0)) * tot_milli
        |             ELSE 0 END) AS sxx_b
        |  FROM v)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |       CAST(conv_a AS BIGINT) AS conv_a,
        |       CAST(conv_b AS BIGINT) AS conv_b,
        |       round(CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
        |         AS mean_a_milli,
        |       round(CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
        |         AS mean_b_milli,
        |       round((CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
        |              CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |             sqrt((CAST(n_a AS DOUBLE) * CAST(sxx_a AS DOUBLE) -
        |                   CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE)) /
        |                  (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) /
        |                  CAST(n_a AS DOUBLE) +
        |                  (CAST(n_b AS DOUBLE) * CAST(sxx_b AS DOUBLE) -
        |                   CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE)) /
        |                  (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) /
        |                  CAST(n_b AS DOUBLE)), 6) AS t_stat
        |FROM m""".stripMargin)
  }

  val q200Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |         sum(CAST(round(value * 1000, 0) AS BIGINT)) AS tot_milli,
      |         max(CASE WHEN value > 400 THEN 1 ELSE 0 END) AS conv
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |v AS (
      |  SELECT CASE WHEN CAST(concat('0x', substr(md5(
      |                concat('ab42|', CAST(user_id AS VARCHAR))), 1, 2))
      |                AS BIGINT) % 2 = 0
      |              THEN 'A' ELSE 'B' END AS variant,
      |         tot_milli, conv
      |  FROM u),
      |m AS (
      |  SELECT
      |    sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS n_a,
      |    sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS n_b,
      |    sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS conv_a,
      |    sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS conv_b,
      |    sum(CASE WHEN variant = 'A' THEN tot_milli ELSE 0 END) AS sx_a,
      |    sum(CASE WHEN variant = 'B' THEN tot_milli ELSE 0 END) AS sx_b,
      |    sum(CASE WHEN variant = 'A' THEN tot_milli * tot_milli
      |             ELSE 0 END) AS sxx_a,
      |    sum(CASE WHEN variant = 'B' THEN tot_milli * tot_milli
      |             ELSE 0 END) AS sxx_b
      |  FROM v)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |       CAST(conv_a AS BIGINT) AS conv_a,
      |       CAST(conv_b AS BIGINT) AS conv_b,
      |       round(CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
      |         AS mean_a_milli,
      |       round(CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
      |         AS mean_b_milli,
      |       round((CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
      |              CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
      |             sqrt((CAST(n_a AS DOUBLE) * CAST(sxx_a AS DOUBLE) -
      |                   CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE)) /
      |                  (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) /
      |                  CAST(n_a AS DOUBLE) +
      |                  (CAST(n_b AS DOUBLE) * CAST(sxx_b AS DOUBLE) -
      |                   CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE)) /
      |                  (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) /
      |                  CAST(n_b AS DOUBLE)), 6) AS t_stat
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- q201
  /** ANSI ordered-set aggregates — `percentile_cont` /
    * `percentile_disc` WITHIN GROUP semantics (the oracle IS that ANSI
    * surface in DuckDB), computed on the Spark side via the scalable
    * explicit form: ONE partial-aggregated (group, cents) count
    * exchange, then the R-7 rank arithmetic on the value-domain-bounded
    * distinct table — the q209 cumulative-weight-crossing shape.
    * Spark's own inverse-distribution path builds a per-group value
    * buffer inside each of the four aggregate calls (6.8 s at sf0.1);
    * the explicit form pre-collapses the corpus to distinct values
    * first, which is also the only shape that survives 100 TB (the
    * sort rides the value DOMAIN, not the row count).
    * Round10QueriesSpec pins surface-equivalence by running the real
    * WITHIN GROUP SQL against this implementation. Hash-gatable
    * because the inputs are INTEGER cents and the fractions are
    * quarters: rank positions floor/ceil((n−1)p + 1) are computed in
    * INTEGER arithmetic ((n−1) div 4 etc.), and the interpolation
    * a·(1−f) + b·f at f ∈ {0, ¼, ½, ¾} over integer cents is EXACTLY
    * representable in doubles — no rounding happens on either engine,
    * so cross-engine float drift is impossible by construction (the
    * general-p / float-input form would not gate). percentile_disc's
    * boundary convention (smallest value with cume_dist ≥ p) is the
    * `2·run ≥ n` crossing, probed identical on both engines.
    */
  def q201PercentileWithin(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .groupBy(col("l_returnflag"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val wRun = Window.partitionBy(col("l_returnflag")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("l_returnflag"))
    val r = g
      .withColumn("run", sum(col("cnt")).over(wRun))
      .withColumn("n", sum(col("cnt")).over(wAll))
    // R-7: h_p = (n-1)·p + 1; with p in quarters the floor/ceil ranks
    // and fraction are pure integer arithmetic on n
    def lowRank(numer: Column): Column = lit(1) + numer
    def pCont(tag: String, f: Column): Column =
      round(col(s"a_$tag") * (lit(1.0) - f) + col(s"b_$tag") * f, 6)
    val q = r.groupBy(col("l_returnflag"), col("n"))
      .agg(
        min(when(col("run") >= lowRank(expr("(n-1) div 4")), col("cents"))).as("a_25"),
        min(when(col("run") >= lowRank(expr("((n-1) + 3) div 4")), col("cents"))).as("b_25"),
        min(when(col("run") >= lowRank(expr("(n-1) div 2")), col("cents"))).as("a_50"),
        min(when(col("run") >= lowRank(expr("((n-1) + 1) div 2")), col("cents"))).as("b_50"),
        min(when(col("run") >= lowRank(expr("(3*(n-1)) div 4")), col("cents"))).as("a_75"),
        min(when(col("run") >= lowRank(expr("(3*(n-1) + 3) div 4")), col("cents"))).as("b_75"),
        min(when(col("run") * 2 >= col("n"), col("cents"))).as("med_disc"))
    q.select(col("l_returnflag"), col("n").as("n_rows"),
        pCont("25", ((col("n") - 1) % 4).cast("double") / 4.0).as("p25_cents"),
        pCont("50", ((col("n") - 1) % 2).cast("double") / 2.0).as("p50_cents"),
        pCont("75", ((lit(3) * (col("n") - 1)) % 4).cast("double") / 4.0).as("p75_cents"),
        col("med_disc").cast("long").as("med_disc_cents"))
      .orderBy(col("l_returnflag"))
  }

  val q201Sql: String =
    """SELECT l_returnflag,
      |       count(*) AS n_rows,
      |       round(percentile_cont(0.25) WITHIN GROUP (ORDER BY cents), 6)
      |         AS p25_cents,
      |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY cents), 6)
      |         AS p50_cents,
      |       round(percentile_cont(0.75) WITHIN GROUP (ORDER BY cents), 6)
      |         AS p75_cents,
      |       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
      |            AS BIGINT) AS med_disc_cents
      |FROM (SELECT l_returnflag,
      |             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
      |      FROM lineitem)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Event intervals for the sweep-line pair (q202/q203): [ts_us,
    * ts_us + value·ms) — duration is the event's value in
    * EXACT milli-units promoted to microseconds, so interval
    * arithmetic is pure integer on both engines. */
  private def intervals(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).select(col("user_id"), col("event_type"), col("event_id"),
      col("ts_us").as("start_us"),
      (col("ts_us") +
        round(col("value") * 1000, 0).cast("long") * 1000L).as("end_us"))

  // ---------------------------------------------------------------- q202
  /** Interval-union coverage per user — merge overlapping/touching
    * intervals and total the covered time, the OTHER islands problem
    * (q31 merges by inactivity gap; this merges by literal overlap —
    * resource-usage billing, incident-impact windows, device-uptime
    * rollups). The island identity: an interval starts a new island
    * iff its start exceeds the RUNNING MAX of all earlier ends (an
    * exclusive-preceding-frame window max — earlier intervals can
    * swallow later ones, so `lag(end)` alone is wrong); island id is
    * the running sum of those flags; coverage is max(end)−min(start)
    * per island. Everything rides ONE user-keyed window ordering
    * (start, end, event_id) plus user-keyed aggregates — integer
    * microseconds end to end.
    */
  def q202IntervalUnion(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("start_us"), col("end_us"), col("event_id"))
    intervals(s, dir)
      .withColumn("prev_max_end",
        max(col("end_us")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_end").isNull ||
          col("start_us") > col("prev_max_end"), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(w))
      .groupBy(col("user_id"), col("island"))
      .agg((max(col("end_us")) - min(col("start_us"))).as("cov_us"),
        count(lit(1)).as("n_iv"))
      .groupBy(col("user_id"))
      .agg(sum(col("cov_us")).cast("long").as("covered_us"),
        count(lit(1)).as("n_islands"),
        sum(col("n_iv")).cast("long").as("n_intervals"))
      .orderBy(col("user_id"))
  }

  val q202Sql: String =
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS start_us,
      |         epoch_us(ts) + CAST(round(value * 1000, 0) AS BIGINT) * 1000
      |           AS end_us
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id, start_us, end_us,
      |         CASE WHEN max(end_us) OVER (PARTITION BY user_id
      |                ORDER BY start_us, end_us, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |                IS NULL
      |              OR start_us > max(end_us) OVER (PARTITION BY user_id
      |                ORDER BY start_us, end_us, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |              THEN 1 ELSE 0 END AS new_island
      |  FROM iv),
      |g AS (
      |  SELECT user_id, start_us, end_us,
      |         sum(new_island) OVER (PARTITION BY user_id
      |           ORDER BY start_us, end_us, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM f),
      |st AS (
      |  SELECT user_id, island, max(end_us) - min(start_us) AS cov_us,
      |         count(*) AS n_iv
      |  FROM g GROUP BY user_id, island)
      |SELECT user_id, CAST(sum(cov_us) AS BIGINT) AS covered_us,
      |       count(*) AS n_islands, CAST(sum(n_iv) AS BIGINT) AS n_intervals
      |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q203
  /** Peak concurrency per event type — the sweep-line +1/−1 walk
    * (capacity planning: maximum simultaneously-open intervals, and
    * WHEN the peak first happened). Each interval contributes a +1 at
    * start and a −1 at end; the running delta sum under the total
    * order (t, delta, event_id) — −1 sorts before +1, so half-open
    * intervals that touch do not double-count — is the concurrency
    * level after each boundary; the peak is its max and the peak
    * instant the first t attaining it (a windowed max + conditional
    * min, both riding the same event_type keying). Integer end to
    * end; one union-all pass over intervals, one window family.
    */
  def q203PeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    val iv = intervals(s, dir)
    val bounds = iv.select(col("event_type"), col("event_id"),
        col("start_us").as("t"), lit(1L).as("delta"))
      .unionAll(iv.select(col("event_type"), col("event_id"),
        col("end_us").as("t"), lit(-1L).as("delta")))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("t"), col("delta"), col("event_id"))
    bounds
      .withColumn("run", sum(col("delta")).over(w))
      .withColumn("peak", max(col("run")).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(col("run")).cast("long").as("peak_concurrency"),
        min(when(col("run") === col("peak"), col("t"))).as("peak_at_us"),
        (count(lit(1)) / 2).cast("long").as("n_intervals"))
      .orderBy(col("event_type"))
  }

  val q203Sql: String =
    """WITH iv AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS start_us,
      |         epoch_us(ts) + CAST(round(value * 1000, 0) AS BIGINT) * 1000
      |           AS end_us
      |  FROM events),
      |b AS (
      |  SELECT event_type, event_id, start_us AS t, 1 AS delta FROM iv
      |  UNION ALL
      |  SELECT event_type, event_id, end_us AS t, -1 AS delta FROM iv),
      |r AS (
      |  SELECT event_type, t,
      |         sum(delta) OVER (PARTITION BY event_type
      |           ORDER BY t, delta, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM b),
      |p AS (
      |  SELECT event_type, t, run,
      |         max(run) OVER (PARTITION BY event_type) AS peak
      |  FROM r)
      |SELECT event_type, CAST(max(run) AS BIGINT) AS peak_concurrency,
      |       min(CASE WHEN run = peak THEN t END) AS peak_at_us,
      |       CAST(count(*) / 2 AS BIGINT) AS n_intervals
      |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q204
  /** Market-basket affinity — co-ordered part pairs with support,
    * confidence, and lift (the PMI of transactions; q150 is the text
    * twin). Pair generation is the oriented within-basket self-join
    * (a < b, exactly-once — the q66 wedge rule) co-partitioned on
    * l_orderkey: the blowup is bounded by per-basket size squared,
    * never |parts|². A min-support filter (≥ 3 co-orders) caps the
    * output; at 100 TB you ALSO pre-prune parts below the support
    * floor before pairing (anti-monotonicity: a pair can never beat
    * its rarer item) — the same candidate-pruning Apriori uses. The
    * three ratios are ONE double division each in identical form both
    * engines, over exact integer counts; the 1-row basket-count scalar
    * broadcasts.
    */
  def q204BasketLift(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
      .distinct()
    val nOrders = p.select(col("okey")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val cnt = p.groupBy(col("pkey")).agg(count(lit(1)).as("pc"))
    val pairs = p.as("a").join(p.as("b"),
        col("a.okey") === col("b.okey") && col("a.pkey") < col("b.pkey"))
      .groupBy(col("a.pkey").as("part_a"), col("b.pkey").as("part_b"))
      .agg(count(lit(1)).as("pair_orders"))
      .filter(col("pair_orders") >= 3)
    pairs
      .join(cnt.withColumnRenamed("pkey", "part_a").withColumnRenamed("pc", "cnt_a"), Seq("part_a"))
      .join(cnt.withColumnRenamed("pkey", "part_b").withColumnRenamed("pc", "cnt_b"), Seq("part_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("pair_orders"),
        col("cnt_a"), col("cnt_b"),
        round(col("pair_orders").cast("double") / col("n_orders").cast("double"), 6)
          .as("support"),
        round(col("pair_orders").cast("double") / col("cnt_a").cast("double"), 6)
          .as("conf_a_to_b"),
        round(col("pair_orders").cast("double") * col("n_orders").cast("double") /
          (col("cnt_a").cast("double") * col("cnt_b").cast("double")), 6)
          .as("lift"))
      .orderBy(col("part_a"), col("part_b"))
  }

  val q204Sql: String =
    """WITH p AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey
      |           FROM lineitem),
      |n AS (SELECT count(DISTINCT okey) AS n_orders FROM p),
      |cnt AS (SELECT pkey, count(*) AS pc FROM p GROUP BY pkey),
      |pairs AS (
      |  SELECT a.pkey AS part_a, b.pkey AS part_b, count(*) AS pair_orders
      |  FROM p a JOIN p b ON a.okey = b.okey AND a.pkey < b.pkey
      |  GROUP BY a.pkey, b.pkey
      |  HAVING count(*) >= 3)
      |SELECT part_a, part_b, pair_orders,
      |       ca.pc AS cnt_a, cb.pc AS cnt_b,
      |       round(CAST(pair_orders AS DOUBLE) / CAST(n.n_orders AS DOUBLE), 6)
      |         AS support,
      |       round(CAST(pair_orders AS DOUBLE) / CAST(ca.pc AS DOUBLE), 6)
      |         AS conf_a_to_b,
      |       round(CAST(pair_orders AS DOUBLE) * CAST(n.n_orders AS DOUBLE) /
      |             (CAST(ca.pc AS DOUBLE) * CAST(cb.pc AS DOUBLE)), 6) AS lift
      |FROM pairs
      |JOIN cnt ca ON pairs.part_a = ca.pkey
      |JOIN cnt cb ON pairs.part_b = cb.pkey
      |CROSS JOIN n
      |ORDER BY part_a, part_b""".stripMargin

  // ---------------------------------------------------------------- q205
  /** CUSUM drift detection per user — the classic change-point
    * statistic S_t = max(0, S_{t−1} + x_t − k), which LOOKS like an
    * unavoidable row-by-row recursion but has the closed form
    * S_t = d_t − min(0, min_{j≤t} d_j) over the drift prefix
    * d_t = Σx − k·t: a prefix sum minus a RUNNING MIN — two window
    * functions on one (user, ts, id) ordering, no recursion, no
    * iterative job. That identity is what makes CUSUM runnable as one
    * pass over 100 TB of telemetry. The reference k is the corpus
    * mean in exact milli-units via integer division (sum DIV count —
    * deterministic, broadcast as a 1-row scalar). Output: each user's
    * peak drift statistic, when it first peaked, and the event count
    * — all integer microseconds/milli-units.
    */
  def q205CusumDrift(s: SparkSession, dir: String): DataFrame = {
    val purch = ev(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        round(col("value") * 1000, 0).cast("long").as("x"))
    val k = purch.agg(sum(col("x")).cast("long").as("sx"), count(lit(1)).as("cn"))
      .selectExpr("sx DIV cn AS k")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purch.crossJoin(broadcast(k))
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("d", sum(col("x")).over(run) - col("k") * col("t"))
      .withColumn("cusum", col("d") - least(lit(0L), min(col("d")).over(run)))
      .withColumn("peak", max(col("cusum")).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("user_id"))
      .agg(max(col("cusum")).cast("long").as("peak_cusum_milli"),
        min(when(col("cusum") === col("peak"), col("ts_us"))).as("peak_at_us"),
        count(lit(1)).as("n_purchases"))
      .orderBy(col("user_id"))
  }

  val q205Sql: String =
    """WITH purch AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
      |         CAST(round(value * 1000, 0) AS BIGINT) AS x
      |  FROM events WHERE event_type = 'purchase'),
      |kk AS (SELECT CAST(sum(x) AS BIGINT) // count(*) AS k FROM purch),
      |r AS (
      |  -- (ts_us, event_id) is unique, so the default cumulative RANGE
      |  -- frame equals ROWS — and row_number takes no frame
      |  SELECT user_id, event_id, ts_us,
      |         sum(x) OVER w - kk.k * (row_number() OVER w) AS d
      |  FROM purch CROSS JOIN kk
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |c AS (
      |  SELECT user_id, ts_us,
      |         d - least(0, min(d) OVER (PARTITION BY user_id
      |               ORDER BY ts_us, event_id)) AS cusum
      |  FROM r),
      |p AS (
      |  SELECT user_id, ts_us, cusum,
      |         max(cusum) OVER (PARTITION BY user_id) AS peak
      |  FROM c)
      |SELECT user_id, CAST(max(cusum) AS BIGINT) AS peak_cusum_milli,
      |       min(CASE WHEN cusum = peak THEN ts_us END) AS peak_at_us,
      |       count(*) AS n_purchases
      |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q196_bitmap_distinct", q196BitmapDistinct _, q196Sql),
    Query("q197_pit_join", q197PitJoin _, q197Sql),
    Query("q198_attribution", q198Attribution _, q198Sql),
    Query("q199_streaks", q199Streaks _, q199Sql),
    Query("q200_ab_test", q200AbTest _, q200Sql),
    Query("q201_percentile_within", q201PercentileWithin _, q201Sql),
    Query("q202_interval_union", q202IntervalUnion _, q202Sql),
    Query("q203_peak_concurrency", q203PeakConcurrency _, q203Sql),
    Query("q204_basket_lift", q204BasketLift _, q204Sql),
    Query("q205_cusum_drift", q205CusumDrift _, q205Sql),
  )
}
