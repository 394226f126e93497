package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reproducible sampling for training-data curation.
  *
  * The key property is DETERMINISM BY CONTENT, not by execution:
  * `rand()`-based sampling changes under task retry, partition count,
  * or re-run, which silently leaks test rows into a future training
  * set. Every helper here decides each row by hashing its id or
  * content, so the decision is a pure function of (id, seed) — stable
  * across runs, clusters, and data additions (new rows never move old
  * rows between samples or splits).
  */
object Sampling {

  /** DETERMINISTIC stratified sampling in the md5 family: keep a row
    * iff the first two hex digits of `md5(seed || '|' || id)` fall
    * below the stratum's cut, where `fractions` gives each stratum's
    * keep-rate in 256ths (two hex digits ⇒ 1/256 granularity). Unlike
    * Spark's seeded `sampleBy`, whose RNG stream is engine- and
    * partitioning-specific, the decision is a pure function of
    * (id, seed) — reproducible across engines, retries, and
    * repartitioning, and portable to any system with md5 (the repo's
    * oracle-hash contract). Strata missing from the map drop (quota
    * keep-list semantics). Per-row
    * work is one md5 + a string compare — codegen'd, no shuffle.
    */
  def stratifiedByHash(df: DataFrame, stratumCol: String, idCol: String,
      fractions: Map[String, Int], seed: String = "s42"): DataFrame = {
    require(fractions.values.forall(v => v >= 0 && v <= 256),
      s"fractions are keep-rates in 256ths, must be in [0,256]: $fractions")
    val cut = fractions.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
      // 256 ⇒ keep-all: 'g' sorts after every hex digit (0-9a-f)
      when(col(stratumCol) === k, lit(if (v >= 256) "g" else f"$v%02x")).otherwise(acc)
    }
    df.filter(cut.isNotNull &&
      substring(md5(concat(lit(seed + "|"), col(idCol).cast("string")).cast("binary")), 1, 2) < cut)
  }

  /** Deterministic per-stratum RANKING hash for fixed-size sampling
    * (q104): the first 5 hex chars (20 bits) of
    * `md5('k42|' || id)` as a long. 20 bits is deliberate:
    * [[graft.plans.TopK.topKPerKey]] orders by a DOUBLE ord, so the
    * q104 packing `h·2³² + id` must stay below 2⁵³ to remain exactly
    * representable — 2²⁰·2³² = 2⁵² qualifies, a wider prefix would
    * silently round away the id tie-break. Prefix collisions
    * (~n²/2²¹ per stratum) are RESOLVED by that tie-break, not
    * avoided, so the narrow prefix costs nothing in determinism.
    */
  def sampleRankHash(idCol: Column): Column =
    conv(substring(md5(concat(lit("k42|"), idCol.cast("string"))
      .cast("binary")), 1, 5), 16, 10).cast("long")

  /** CONTENT-hash split label (`train`/`test`) in the md5 family, so it
    * is portable across engines (xxhash64 is Spark-specific; md5 is
    * bit-identical everywhere — the same trade [[graft.dedup.Dedup]]
    * documents). Splitting on content rather than id additionally sends
    * byte-identical duplicates to the SAME side — contamination-proof
    * even before dedup runs. `trainSixteenths`/16 of the hash space is
    * train (first hex digit < the cut), the rest test.
    */
  def md5Split(contentCol: String, trainSixteenths: Int = 14): Column = {
    require(trainSixteenths >= 0 && trainSixteenths <= 16,
      s"trainSixteenths must be in [0,16], got $trainSixteenths")
    // NULL content is always "test" — including at the trainSixteenths
    // = 16 boundary, so widening the train share never flips NULL rows
    // (md5(NULL) is NULL → the `when` predicate is never true)
    if (trainSixteenths == 16)
      when(col(contentCol).isNotNull, "train").otherwise("test")
    else {
      // single-char hex cut: lexicographic < works because hex digits
      // 0-9a-f are ASCII-ordered
      val cut = java.lang.Integer.toHexString(trainSixteenths)
      when(substring(md5(col(contentCol).cast("binary")), 1, 1) < cut, "train")
        .otherwise("test")
    }
  }
}
