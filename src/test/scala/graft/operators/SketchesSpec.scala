package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class SketchesSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val lineitem = graft.Tables.lineitem(spark, sf001)

  test("bloom pruning works on string keys (native-type probing)") {
    val cust = graft.Tables.customer(spark, sf001)
    val wanted = cust.limit(20).select($"c_name")
    val pruned = Sketches.bloomPrune(cust, wanted, "c_name", expectedItems = 20)
    val trueMatches = cust.join(wanted, Seq("c_name"), "left_semi").count()
    assert(pruned.join(wanted, Seq("c_name"), "left_semi").count() === trueMatches)
    assert(pruned.count() >= trueMatches)
  }

  test("bloom pruning never drops a true match; leaks stay near fpp") {
    val keys = graft.Tables.orders(spark, sf001)
      .filter($"o_orderkey" % 100 === 0).select($"o_orderkey")
    val pruned = Sketches.bloomPrune(lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      keys, "o_orderkey", expectedItems = 1000, fpp = 0.01)
    val trueMatches = lineitem.join(keys, $"l_orderkey" === keys("o_orderkey"), "left_semi")
    // no false negatives: pruned ⊇ true matches
    assert(pruned.count() >= trueMatches.count())
    val joinedAfterPrune = pruned.join(keys, Seq("o_orderkey"), "left_semi").count()
    assert(joinedAfterPrune === trueMatches.count())
    // leakage bounded (generous 5× margin over fpp)
    val nonMatching = lineitem.count() - trueMatches.count()
    assert(pruned.count() - trueMatches.count() <= (nonMatching * 0.05).toLong)
  }

  test("bloom build past Spark's runtime caps honors the requested size; confs restored") {
    // BloomFilterAggregate silently clamps to spark.sql.optimizer.
    // runtime.bloomFilter.maxNumBits (2^26) / maxNumItems (4M) —
    // bloomPrune raises the caps around the build so the stated
    // (expectedItems, fpp) contract is ENFORCED. 8M expected items
    // needs ~7.7e7 bits > the 2^26 default cap: before the fix this
    // build saturated silently; now it must produce a working filter
    // at the requested size, and the session confs must come back.
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val before = spark.conf.getOption(bitsKey)
    val keys = graft.Tables.orders(spark, sf001)
      .filter($"o_orderkey" % 100 === 0).select($"o_orderkey")
    val pruned = Sketches.bloomPrune(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      keys, "o_orderkey", expectedItems = 8000000L, fpp = 0.01)
    val trueMatches = lineitem
      .join(keys, $"l_orderkey" === keys("o_orderkey"), "left_semi").count()
    // contract intact: no false negatives, and at 8M capacity over a
    // tiny true key set the filter is sparse — leakage near zero
    assert(pruned.join(keys, Seq("o_orderkey"), "left_semi").count()
      === trueMatches)
    assert(pruned.count() >= trueMatches)
    assert(spark.conf.getOption(bitsKey) === before,
      "bloomPrune must restore the session conf it raised")
  }

  test("bloomPrune: concurrent over-cap builds keep their contracts; confs restored") {
    // the bloomCapLock contract (round-9 fix, previously unspecced):
    // overlapping builds raise/restore SESSION conf, so without the
    // lock one build's restore could clobber another's raised caps
    // mid-build (saturating its filter). Race four over-cap builds;
    // every one must keep the no-false-negative + sparse-leak contract
    // of a full-size filter, and the conf must come back untouched.
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val before = (spark.conf.getOption(bitsKey), spark.conf.getOption(itemsKey))
    val keys = graft.Tables.orders(spark, sf001)
      .filter($"o_orderkey" % 100 === 0).select($"o_orderkey").localCheckpoint()
    val big = lineitem.withColumnRenamed("l_orderkey", "o_orderkey")
      .localCheckpoint()
    val trueMatches = big
      .join(keys, Seq("o_orderkey"), "left_semi").count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futs = (1 to 4).map { i =>
      Future {
        val pruned = Sketches.bloomPrune(big, keys, "o_orderkey",
          expectedItems = 8000000L + i * 100000L, fpp = 0.01)
        (pruned.count(),
          pruned.join(keys, Seq("o_orderkey"), "left_semi").count())
      }
    }
    futs.foreach { f =>
      val (prunedCount, afterJoin) = Await.result(f, 300.seconds)
      assert(afterJoin === trueMatches, "a concurrent build lost true matches")
      assert(prunedCount >= trueMatches)
      // 8M-capacity filter over ~150 keys: leakage must be near zero —
      // a saturated (clobbered-cap) filter would leak the whole table
      assert(prunedCount - trueMatches <= (big.count() * 0.01).toLong,
        s"a concurrent build saturated: pruned $prunedCount vs $trueMatches true")
    }
    assert((spark.conf.getOption(bitsKey), spark.conf.getOption(itemsKey)) === before,
      "concurrent bloomPrune builds must restore the session confs")
  }

  test("bloomCapLock is keyed per session: same session shares a monitor, sessions never do") {
    // the round-9 ADVICE #2 scope fix: the caps are SESSION conf, so
    // only same-session builds share state worth serializing — a slow
    // build in one session must not queue builds in unrelated sessions
    // behind a process-wide monitor. Deterministic pin of the keying
    // (the concurrency contract itself is covered by the race test
    // above, which runs entirely within one session).
    val s2 = spark.newSession()
    assert(Sketches.bloomCapLock(spark) eq Sketches.bloomCapLock(spark),
      "repeated lookups in one session must yield the same monitor")
    assert(Sketches.bloomCapLock(s2) eq Sketches.bloomCapLock(s2))
    assert(!(Sketches.bloomCapLock(spark) eq Sketches.bloomCapLock(s2)),
      "distinct sessions must get distinct monitors (disjoint confs)")
    // and the per-session conf isolation the keying relies on holds:
    // raising a cap in s2 is invisible to the root session
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val before = spark.conf.getOption(bitsKey)
    s2.conf.set(bitsKey, "123456789")
    assert(spark.conf.getOption(bitsKey) === before,
      "session conf must be isolated or per-session locking is unsound")
    s2.conf.unset(bitsKey)
  }
}
