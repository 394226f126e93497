package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class SamplingSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = graft.Tables.documents(spark, sf001)

  test("stratifiedByHash: deterministic, per-stratum rates, boundary settings") {
    val fractions = Map("en" -> 128, "de" -> 192, "zh" -> 256)
    val sampled = Sampling.stratifiedByHash(docs, "lang", "doc_id", fractions)
    val byLang = docs.groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = sampled.groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // unlisted strata drop entirely
    assert(got.keySet.subsetOf(fractions.keySet))
    // 256/256 keeps EVERY row (not ~every row)
    assert(got("zh") === byLang("zh"))
    // listed strata keep ≈ v/256 of their rows
    Seq("en" -> 0.5, "de" -> 0.75).foreach { case (lang, f) =>
      val frac = got.getOrElse(lang, 0L).toDouble / byLang(lang)
      // ±0.15: the de/es/fr strata have only ~70 rows at sf0.001/0.01
      assert(math.abs(frac - f) <= 0.15, s"$lang: wanted ~$f got $frac")
    }
    // pure function of (id, seed): identical row set on re-run and
    // under repartitioning (the property sampleBy cannot give)
    val ids1 = sampled.select($"doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.stratifiedByHash(docs.repartition(7), "lang", "doc_id", fractions)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2)
    // 0/256 drops the stratum
    assert(Sampling.stratifiedByHash(docs, "lang", "doc_id", Map("en" -> 0))
      .count() === 0)
    // out-of-range rates rejected
    intercept[IllegalArgumentException] {
      Sampling.stratifiedByHash(docs, "lang", "doc_id", Map("en" -> 300))
    }
  }

  test("md5Split: content-deterministic, duplicates co-assigned, fraction near 14/16") {
    val docs = graft.Tables.documents(spark, sf001)
    val split = docs.select($"doc_id", $"text", Sampling.md5Split("text").as("split"))
    // every row labeled, fraction near the 14/16 target
    val counts = split.groupBy($"split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    assert(counts.keySet === Set("train", "test"))
    assert(math.abs(counts("train").toDouble / n - 14.0 / 16) <= 0.08)
    // byte-identical texts always land on the same side (the
    // contamination-proofing property)
    assert(split.groupBy($"text").agg(countDistinct($"split").as("s"))
      .filter($"s" > 1).count() === 0)
    // pure function of content: a second invocation agrees row-for-row
    val again = docs.select($"doc_id", Sampling.md5Split("text").as("split2"))
    assert(split.join(again, Seq("doc_id"))
      .filter($"split" =!= $"split2").count() === 0)
    // boundary settings
    assert(docs.select(Sampling.md5Split("text", 16).as("s"))
      .filter($"s" =!= "train").count() === 0)
    assert(docs.select(Sampling.md5Split("text", 0).as("s"))
      .filter($"s" =!= "test").count() === 0)
    // NULL content is "test" at EVERY setting — widening the train
    // share to 16/16 must not flip NULL rows across the boundary
    val withNull = Seq((1L, Some("abc")), (2L, None))
      .toDF("doc_id", "text")
    Seq(0, 14, 15, 16).foreach { six =>
      val got = withNull.select($"doc_id", Sampling.md5Split("text", six).as("s"))
        .filter($"doc_id" === 2L).head.getString(1)
      assert(got === "test", s"NULL content at trainSixteenths=$six")
    }
  }
}
