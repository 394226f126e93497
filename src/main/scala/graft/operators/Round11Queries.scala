package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables

/** Round-11 additions (driver round 4, batch 13): the last big physical
  * optimization the gated set had not exercised — DYNAMIC partition
  * pruning (q70 proved static pruning; q206 proves the runtime kind a
  * star-schema join needs) — plus four pipeline staples: an exact
  * two-sample KS test, error-tolerant ingest on the `try_` function
  * family, weighted percentiles, and merkle-style bucket-checksum
  * table reconciliation.
  *
  * Same determinism contract as every gated family: integer-exact
  * carriers (centi/milli-unit longs), at most ONE double excursion in
  * the identical expression form on both engines, deterministic
  * orderings with unique-id tie-breaks, md5 (never rand()) wherever a
  * hash is needed.
  */
object Round11Queries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))

  // ---------------------------------------------------------------- q206
  /** Dynamic partition pruning: the fact side is the q70 Hive-style
    * `event_type=`-partitioned events lake; the dimension is a small
    * (event_type, category) table materialized offline. The query
    * filters the DIMENSION (`category = 'conversion'`) — the fact
    * predicate on the partition column exists only at RUNTIME, after
    * the dim side is evaluated, which is exactly the shape every
    * star-schema query has ("revenue for category X" never names the
    * partition keys). Spark reuses the broadcast of the filtered dim
    * as a `dynamicpruningexpression` in the fact scan's
    * PartitionFilters (PlanSpec locks it), so only the matching
    * partition directories are listed+read. At 100 TB this is the
    * difference between scanning the whole lake and scanning the two
    * partitions the category maps to — and unlike q70 it needs no
    * query rewrite when the category→type mapping changes. Oracle:
    * the same join over the RAW un-partitioned parquet with the dim
    * derived in a CTE — layout must never change results.
    */
  private val dimPrepped = scala.collection.mutable.HashSet.empty[String]

  /** Offline (event_type, category) dimension; idempotent per JVM. */
  def prepareEventDim(s: SparkSession, dir: String): String =
    dimPrepped.synchronized {
      val path = new java.io.File(
        s"target/event-dim/${PathTag.tagFor(dir)}").getAbsolutePath
      if (!dimPrepped.contains(path)) {
        Tables.events(s, dir).select(col("event_type")).distinct()
          .withColumn("category",
            when(col("event_type").isin("purchase", "signup"), "conversion")
              .otherwise("engagement"))
          .coalesce(1).write.mode("overwrite").parquet(path)
        dimPrepped.add(path)
      }
      path
    }

  def q206DynamicPruning(s: SparkSession, dir: String): DataFrame = {
    val lake = EventQueries.preparePartitionedLake(s, dir)
    val fact = s.read.parquet(lake)
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withColumn("v_milli", round(col("value") * 1000, 0).cast("long"))
    val dim = s.read.parquet(prepareEventDim(s, dir))
      .filter(col("category") === "conversion")
    fact.join(broadcast(dim), Seq("event_type"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("v_milli")).as("sum_vmilli"))
      .orderBy(col("event_type"), col("day"))
  }

  val q206Sql: String =
    """WITH dim AS (
      |  SELECT DISTINCT event_type,
      |         CASE WHEN event_type IN ('purchase','signup')
      |              THEN 'conversion' ELSE 'engagement' END AS category
      |  FROM events),
      |fact AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |         CAST(round(value * 1000, 0) AS BIGINT) AS v_milli
      |  FROM events)
      |SELECT f.event_type, f.day, count(*) AS n,
      |       CAST(sum(f.v_milli) AS BIGINT) AS sum_vmilli
      |FROM fact f JOIN dim d ON f.event_type = d.event_type
      |WHERE d.category = 'conversion'
      |GROUP BY f.event_type, f.day
      |ORDER BY f.event_type, f.day""".stripMargin

  // ---------------------------------------------------------------- q207
  /** Exact two-sample Kolmogorov–Smirnov distance between the value
    * distributions of every event-type pair — the distribution-drift
    * test behind data-quality monitors and A/B sanity checks (q200's
    * Welch t compares MEANS; KS compares whole CDFs). The statistic
    * D = max |F_a(v) − F_b(v)| is computed EXACTLY: per-(pair, value)
    * counts, one running sum per side, and the sup as the integer
    * `max(|ca·nb − cb·na|)` — cross-multiplied so no division (and no
    * float) happens until the single final readout `d_num/(na·nb)`.
    * The cross-multiplication carrier is DECIMAL(38,0) (the q195
    * rule), so it never wraps and ANSI mode never aborts mid-query;
    * only the final d_num readout is rendered as BIGINT (exact up to
    * ~3×10⁹ rows per side — past that, widen the readout column, not
    * the carrier). The corpus-scale
    * work is ONE (type, v_milli) count aggregate; the window runs on
    * the distinct-value table (value-domain-bounded, ~6.6k values per
    * pair here), partitioned by pair — metadata scale, never raw rows.
    */
  def q207KsTest(s: SparkSession, dir: String): DataFrame = {
    val c = ev(s, dir)
      .withColumn("v", round(col("value") * 1000, 0).cast("long"))
      .groupBy(col("event_type"), col("v")).agg(count(lit(1)).as("cnt"))
    val types = c.select(col("event_type")).distinct()
    val pairs = types.select(col("event_type").as("ta"))
      .crossJoin(types.select(col("event_type").as("tb")))
      .filter(col("ta") < col("tb"))
    val aSide = c.join(broadcast(pairs), col("event_type") === col("ta"))
      .select(col("ta"), col("tb"), col("v"),
        col("cnt").as("ca"), lit(0L).as("cb"))
    val bSide = c.join(broadcast(pairs), col("event_type") === col("tb"))
      .select(col("ta"), col("tb"), col("v"), lit(0L).as("ca"),
        col("cnt").as("cb"))
    val g = aSide.union(bSide)
      .groupBy(col("ta"), col("tb"), col("v"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    val wRun = Window.partitionBy(col("ta"), col("tb")).orderBy(col("v"))
    val wAll = Window.partitionBy(col("ta"), col("tb"))
    g.withColumn("ra", sum(col("ca")).over(wRun))
      .withColumn("rb", sum(col("cb")).over(wRun))
      .withColumn("na", sum(col("ca")).over(wAll))
      .withColumn("nb", sum(col("cb")).over(wAll))
      .groupBy(col("ta"), col("tb"), col("na"), col("nb"))
      .agg(max(abs(col("ra").cast("decimal(38,0)") * col("nb") -
          col("rb").cast("decimal(38,0)") * col("na")))
        .cast("long").as("d_num"))
      .withColumn("d_ks", round(col("d_num").cast("double") /
        (col("na").cast("decimal(38,0)") * col("nb")).cast("double"), 9))
      .select(col("ta"), col("tb"), col("na"), col("nb"), col("d_num"),
        col("d_ks"))
      .orderBy(col("ta"), col("tb"))
  }

  val q207Sql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(round(value*1000, 0) AS BIGINT) AS v,
      |         count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |types AS (SELECT DISTINCT event_type FROM c),
      |pairs AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb
      |  FROM types a, types b WHERE a.event_type < b.event_type),
      |u AS (
      |  SELECT p.ta, p.tb, c.v, c.cnt AS ca, 0 AS cb
      |  FROM c JOIN pairs p ON c.event_type = p.ta
      |  UNION ALL
      |  SELECT p.ta, p.tb, c.v, 0 AS ca, c.cnt AS cb
      |  FROM c JOIN pairs p ON c.event_type = p.tb),
      |g AS (
      |  SELECT ta, tb, v, sum(ca) AS ca, sum(cb) AS cb
      |  FROM u GROUP BY 1, 2, 3),
      |r AS (
      |  SELECT ta, tb,
      |         sum(ca) OVER (PARTITION BY ta, tb ORDER BY v) AS ra,
      |         sum(cb) OVER (PARTITION BY ta, tb ORDER BY v) AS rb,
      |         sum(ca) OVER (PARTITION BY ta, tb) AS na,
      |         sum(cb) OVER (PARTITION BY ta, tb) AS nb
      |  FROM g)
      |SELECT ta, tb, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
      |       CAST(max(abs(ra*nb - rb*na)) AS BIGINT) AS d_num,
      |       round(CAST(max(abs(ra*nb - rb*na)) AS DOUBLE)/(na*nb), 9)
      |         AS d_ks
      |FROM r GROUP BY ta, tb, na, nb
      |ORDER BY ta, tb""".stripMargin

  // ---------------------------------------------------------------- q208
  /** Error-tolerant ingest via the `try_` function family — the ANSI-
    * mode-safe ETL surface (Spark 4 runs ANSI by default; a single bad
    * row aborting a 100 TB ingest is the failure mode `try_cast` /
    * `try_divide` exist to prevent). The raw feed is simulated
    * DETERMINISTICALLY from orders (integer cents rendered to strings,
    * then corrupted by orderkey residue: trailing junk, empty field,
    * sign flip) so both engines see byte-identical dirt; the readout
    * is the ingest quality report every loader emits — parse failures,
    * domain rejects (negative amounts), and the clean sum/mean per
    * priority class. `try_cast` maps unparseable to NULL instead of
    * raising; `try_divide` yields NULL on a zero denominator (DuckDB
    * twin: TRY_CAST + NULLIF). Row-local expressions + one count
    * aggregate — no new exchange machinery, the surface under test is
    * the error semantics.
    */
  def q208TryIngest(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.orders(s, dir)
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
      .withColumn("str", col("cents").cast("string"))
      .withColumn("raw",
        when(col("o_orderkey") % 11 === 0, concat(col("str"), lit("x")))
          .when(col("o_orderkey") % 11 === 1, lit(""))
          .when(col("o_orderkey") % 11 === 2, concat(lit("-"), col("str")))
          .otherwise(col("str")))
      .withColumn("parsed", expr("try_cast(raw AS BIGINT)"))
    raw.groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("parsed").isNull, 1L).otherwise(0L)).as("n_unparsed"),
        sum(when(col("parsed") < 0, 1L).otherwise(0L)).as("n_negative"),
        sum(when(col("parsed") >= 0, 1L).otherwise(0L)).as("n_valid"),
        sum(when(col("parsed") >= 0, col("parsed"))).as("sum_valid_cents"))
      .withColumn("mean_valid_cents", round(
        expr("try_divide(cast(sum_valid_cents AS DOUBLE), n_valid)"), 6))
      .orderBy(col("o_orderpriority"))
  }

  val q208Sql: String =
    """WITH raw AS (
      |  SELECT o_orderpriority,
      |         TRY_CAST(CASE
      |           WHEN o_orderkey % 11 = 0 THEN CAST(CAST(round(o_totalprice*100,0) AS BIGINT) AS VARCHAR) || 'x'
      |           WHEN o_orderkey % 11 = 1 THEN ''
      |           WHEN o_orderkey % 11 = 2 THEN '-' || CAST(CAST(round(o_totalprice*100,0) AS BIGINT) AS VARCHAR)
      |           ELSE CAST(CAST(round(o_totalprice*100,0) AS BIGINT) AS VARCHAR)
      |         END AS BIGINT) AS parsed
      |  FROM orders)
      |SELECT o_orderpriority, count(*) AS n,
      |       CAST(sum(CASE WHEN parsed IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unparsed,
      |       CAST(sum(CASE WHEN parsed < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
      |       CAST(sum(CASE WHEN parsed >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
      |       CAST(sum(CASE WHEN parsed >= 0 THEN parsed END) AS BIGINT) AS sum_valid_cents,
      |       round(CAST(sum(CASE WHEN parsed >= 0 THEN parsed END) AS DOUBLE)
      |             / NULLIF(sum(CASE WHEN parsed >= 0 THEN 1 ELSE 0 END), 0),
      |             6) AS mean_valid_cents
      |FROM raw GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q209
  /** Weighted median + weighted p90 of line-item unit price (cents)
    * per supplier nation, weighted by quantity — the percentile family
    * where every row carries a WEIGHT, which `percentile_cont/_disc`
    * (q34/q201: every row counts once) cannot express. This is the
    * sampling-weight form a curation pipeline needs ("median quality
    * score weighted by token count"). The selector is the cumulative-
    * weight crossing rule: the smallest value whose running weight
    * reaches the quantile of the total — `2·run ≥ tot` (median) and
    * `10·run ≥ 9·tot` (p90), INTEGER comparisons, so the answer is
    * exact on both engines with no interpolation rule to defend.
    * Work: one (nation, value) pre-aggregate at corpus scale, then the
    * running sum on the value-domain-bounded distinct table; the
    * supplier→nation enrichment is a broadcast join (dimension-sized
    * at any sf).
    */
  def q209WeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .withColumn("v", round(col("l_extendedprice") * 100, 0).cast("long"))
      .withColumn("w", col("l_quantity").cast("long"))
    val sup = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"))
    val g = li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("v")).agg(sum(col("w")).as("w"))
    val wRun = Window.partitionBy(col("n_name")).orderBy(col("v"))
    val wAll = Window.partitionBy(col("n_name"))
    g.withColumn("run", sum(col("w")).over(wRun))
      .withColumn("tot", sum(col("w")).over(wAll))
      .groupBy(col("n_name"), col("tot"))
      .agg(
        min(when(col("run") * 2 >= col("tot"), col("v"))).as("wmedian_cents"),
        min(when(col("run") * 10 >= col("tot") * 9, col("v"))).as("wp90_cents"))
      .withColumnRenamed("tot", "total_weight")
      .select(col("n_name"), col("total_weight"), col("wmedian_cents"),
        col("wp90_cents"))
      .orderBy(col("n_name"))
  }

  val q209Sql: String =
    """WITH li AS (
      |  SELECT n.n_name,
      |         CAST(round(l_extendedprice*100, 0) AS BIGINT) AS v,
      |         CAST(l_quantity AS BIGINT) AS w
      |  FROM lineitem l
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey),
      |g AS (SELECT n_name, v, sum(w) AS w FROM li GROUP BY 1, 2),
      |r AS (
      |  SELECT n_name, v,
      |         sum(w) OVER (PARTITION BY n_name ORDER BY v) AS run,
      |         sum(w) OVER (PARTITION BY n_name) AS tot
      |  FROM g)
      |SELECT n_name, CAST(tot AS BIGINT) AS total_weight,
      |       min(CASE WHEN run*2 >= tot THEN v END) AS wmedian_cents,
      |       min(CASE WHEN run*10 >= tot*9 THEN v END) AS wp90_cents
      |FROM r GROUP BY n_name, tot
      |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q210
  /** Merkle-style bucket-checksum reconciliation between a table and a
    * (deterministically simulated) degraded replica — the anti-entropy
    * protocol behind cross-region lake sync and backup verification.
    * Phase 1 compares BUCKET CHECKSUMS: per doc_id%64 bucket, the row
    * count and the sum of 48-bit md5 row fingerprints (order-
    * independent, mergeable — the reason a checksum tree works at all;
    * summed in DECIMAL(38,0) so the carrier never wraps). Phase 2
    * drills into DIFFERING buckets ONLY: both sides are semi-join
    * pruned to the mismatch list before the row-level full-outer diff
    * — at 100 TB with bucket-partitioned lakes that pruning is
    * partition pruning, and the expensive row diff touches only the
    * slices that actually drifted (here: deletions at doc_id%101,
    * corruptions at doc_id%97). The oracle replays the same md5
    * arithmetic bit-for-bit.
    */
  def q210MerkleDiff(s: SparkSession, dir: String): DataFrame = {
    def fingerprinted(df: DataFrame): DataFrame = df
      .withColumn("bucket", pmod(col("doc_id"), lit(64)).cast("long"))
      .withColumn("h", conv(substring(md5(
        concat(col("doc_id").cast("string"), lit(":"), col("text"))
          .cast("binary")), 1, 12), 16, 10).cast("long"))
    val a = fingerprinted(Tables.documents(s, dir).select(col("doc_id"), col("text")))
    val b = fingerprinted(
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 101 =!= 0)
        .withColumn("text", when(col("doc_id") % 97 === 0,
          concat(col("text"), lit("~"))).otherwise(col("text"))))
    def chk(df: DataFrame, n: String, hs: String): DataFrame = df
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as(n),
        sum(col("h").cast("decimal(38,0)")).as(hs))
    val diff = chk(a, "n_a", "hsum_a")
      .join(chk(b, "n_b", "hsum_b"), Seq("bucket"), "full_outer")
      .filter(col("n_a").isNull || col("n_b").isNull ||
        col("n_a") =!= col("n_b") || col("hsum_a") =!= col("hsum_b"))
      .select(col("bucket"), col("n_a"), col("n_b"))
    val buckets = diff.select(col("bucket"))
    val aP = a.join(broadcast(buckets), Seq("bucket"), "left_semi")
      .select(col("bucket").as("bkt_a"), col("doc_id"), col("h").as("h_a"))
    val bP = b.join(broadcast(buckets), Seq("bucket"), "left_semi")
      .select(col("bucket").as("bkt_b"), col("doc_id"), col("h").as("h_b"))
    val drill = aP.join(bP, Seq("doc_id"), "full_outer")
      .withColumn("bucket", coalesce(col("bkt_a"), col("bkt_b")))
      .groupBy(col("bucket"))
      .agg(
        sum(when(col("h_b").isNull, 1L).otherwise(0L)).as("n_missing"),
        sum(when(col("h_a").isNotNull && col("h_b").isNotNull &&
          col("h_a") =!= col("h_b"), 1L).otherwise(0L)).as("n_corrupt"))
    diff.join(drill, Seq("bucket"), "left")
      .select(col("bucket"), col("n_a"), col("n_b"),
        coalesce(col("n_missing"), lit(0L)).as("n_missing"),
        coalesce(col("n_corrupt"), lit(0L)).as("n_corrupt"))
      .orderBy(col("bucket"))
  }

  val q210Sql: String =
    """WITH a AS (
      |  SELECT doc_id, doc_id % 64 AS bucket,
      |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 12)) AS BIGINT) AS h
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, doc_id % 64 AS bucket,
      |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
      |           CASE WHEN doc_id % 97 = 0 THEN text || '~' ELSE text END), 1, 12)) AS BIGINT) AS h
      |  FROM documents WHERE doc_id % 101 <> 0),
      |ca AS (SELECT bucket, count(*) AS n_a, sum(h) AS hsum_a FROM a GROUP BY 1),
      |cb AS (SELECT bucket, count(*) AS n_b, sum(h) AS hsum_b FROM b GROUP BY 1),
      |diff AS (
      |  SELECT coalesce(ca.bucket, cb.bucket) AS bucket, n_a, n_b
      |  FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket
      |  WHERE n_a IS NULL OR n_b IS NULL OR n_a <> n_b
      |        OR hsum_a <> hsum_b),
      |drill AS (
      |  SELECT coalesce(a.bucket, b.bucket) AS bucket,
      |         sum(CASE WHEN b.h IS NULL THEN 1 ELSE 0 END) AS n_missing,
      |         sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
      |                  AND a.h <> b.h THEN 1 ELSE 0 END) AS n_corrupt
      |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
      |  WHERE coalesce(a.bucket, b.bucket) IN (SELECT bucket FROM diff)
      |  GROUP BY 1)
      |SELECT d.bucket, d.n_a, d.n_b,
      |       CAST(coalesce(dr.n_missing, 0) AS BIGINT) AS n_missing,
      |       CAST(coalesce(dr.n_corrupt, 0) AS BIGINT) AS n_corrupt
      |FROM diff d LEFT JOIN drill dr ON d.bucket = dr.bucket
      |ORDER BY d.bucket""".stripMargin

  // ------------------------------------------------------------ registry
  val registry: Seq[Query] = Seq(
    Query("q206_dynamic_pruning", q206DynamicPruning _, q206Sql),
    Query("q207_ks_test", q207KsTest _, q207Sql),
    Query("q208_try_ingest", q208TryIngest _, q208Sql),
    Query("q209_weighted_median", q209WeightedMedian _, q209Sql),
    Query("q210_merkle_diff", q210MerkleDiff _, q210Sql),
  )
}
