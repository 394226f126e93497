package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch-based approximate operators. Bloom-filter semi-join pruning:
  * filter the BIG side before its shuffle with a compact membership
  * sketch of the small side's keys. No false negatives — never drops a
  * real match; false positives only cost wasted shuffle rows at rate
  * `fpp`. (Spark's own runtime bloom join filters — conf
  * `spark.sql.optimizer.runtime.bloomFilter.enabled` — are the
  * declarative form; this utility is the explicit handle.)
  *
  * Sketch internals differ across engines, so the sketch itself is
  * spec-gated against its exact counterpart; the queries that prune
  * through it (q143) stay oracle-exact because pruning never drops a
  * match.
  */
object Sketches {

  /** Per-SESSION locks serializing [[bloomPrune]]'s conf raise/restore
    * window — the caps are session-scoped state, so only builds in the
    * SAME session can race the save/restore; builds in unrelated
    * sessions (whose confs are disjoint) proceed concurrently instead
    * of queueing behind one process-wide monitor (round-9 ADVICE #2:
    * one slow build must not block every other build JVM-wide). Weak
    * keys are sound here, unlike the model-artifact caches: the lock
    * Object holds no reference back to its session, so an entry dies
    * exactly when its session becomes unreachable. */
  private val bloomCapLocks = new java.util.WeakHashMap[SparkSession, Object]

  private[operators] def bloomCapLock(s: SparkSession): Object =
    bloomCapLocks.synchronized {
      val hit = bloomCapLocks.get(s)
      if (hit != null) hit
      else { val o = new Object; bloomCapLocks.put(s, o); o }
    }

  /** Prune `big` down to rows whose `keyCol` is (probably) present in
    * `small`'s `keyCol` set, using Spark's native bloom expressions:
    * the sketch is built by `BloomFilterAggregate` (mergeable partial
    * aggregation — only the sketch crosses the exchange, exactly the
    * shape Spark's own runtime bloom join filters use) and probed by
    * `BloomFilterMightContain`, which has `doGenCode` — the probe
    * stays inside whole-stage codegen instead of breaking the span
    * with a Scala udf. Guarantees every true match survives; expect
    * ~fpp of non-matching rows to leak through (they fall out in the
    * real join). Integral keys build/probe on the raw long (putLong ↔
    * mightContainLong); string keys go through xxhash64 on BOTH sides
    * — equal strings hash equal, so no false negatives, and a hash
    * collision only adds to the false-positive rate. Null keys never
    * match, mirroring equi-join semantics.
    */
  def bloomPrune(big: DataFrame, small: DataFrame, keyCol: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.GraftSqlApi
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    def asLong(df: DataFrame): Column = df.schema(keyCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        col(keyCol).cast("long")
      case StringType => xxhash64(col(keyCol))
      case other => throw new IllegalArgumentException(
        s"bloomPrune supports integral and string keys, got $other")
    }
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    // BloomFilterAggregate silently clamps its arguments to
    // spark.sql.optimizer.runtime.bloomFilter.{maxNumBits (2^26 ≈
    // 8 MB), maxNumItems (4M)} via Math.min — past ~7M items at
    // fpp=0.01 the filter would saturate and the realized fp rate
    // silently exceed the documented ~fpp (no false negatives, so
    // results stay correct, but the prune degrades toward a no-op).
    // Raise the caps to the requested size around the build so the
    // stated (expectedItems, fpp) contract is ENFORCED, not advisory;
    // restored afterwards so session behavior elsewhere is untouched.
    // The set/restore pair mutates SESSION-scoped conf, so overlapping
    // bloomPrune builds in the SAME session would race the save/restore
    // and clobber each other's values: [[bloomCapLock]] serializes the
    // raised-caps window per session (the build job itself runs
    // distributed under the lock — only concurrent same-session BUILDS
    // serialize; probes, and builds in other sessions, are untouched).
    // A concurrent UNRELATED query in the same session can
    // still observe the raised caps for the duration of one build;
    // that is benign here (the caps only bound bloom sizes a query
    // explicitly requests) and documented rather than solved with a
    // cloned session, which would detach the build from caller-visible
    // temp views.
    val conf = small.sparkSession.conf
    val capKeys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> numBits,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> expectedItems)
    val sketch = bloomCapLock(small.sparkSession).synchronized {
      val saved = capKeys.map { case (k, _) => k -> conf.getOption(k) }
      try {
        capKeys.foreach { case (k, need) =>
          val cur = conf.getOption(k).map(_.toLong).getOrElse(0L)
          if (cur < need) conf.set(k, need.toString)
        }
        val agg = new BloomFilterAggregate(GraftSqlApi.expr(asLong(small)),
          Literal(expectedItems), Literal(numBits)).toAggregateExpression()
        small.select(GraftSqlApi.column(agg).as("bf")).head().get(0)
      } finally saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None)    => conf.unset(k)
      }
    }
    sketch match {
      case bytes: Array[Byte] =>
        big.filter(col(keyCol).isNotNull && GraftSqlApi.column(
          BloomFilterMightContain(Literal(bytes, BinaryType),
            GraftSqlApi.expr(asLong(big)))))
      // empty small side aggregates to a null sketch: nothing can match
      case _ => big.filter(lit(false))
    }
  }
}
