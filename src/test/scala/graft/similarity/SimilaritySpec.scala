package graft.similarity

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  // two tiny normalized vector tables in long form
  private lazy val vecs = Seq(
    ("a", "x", 0.6), ("a", "y", 0.8),
    ("b", "x", 1.0),
    ("c", "z", 1.0)).toDF("id", "word", "w")

  test("inverted-index join computes exact nonzero dot products") {
    val sims = Similarity.invertedIndexJoin(vecs, vecs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(sims(("a", "a")) - 1.0) < 1e-12)
    assert(math.abs(sims(("a", "b")) - 0.6) < 1e-12)
    assert(sims.get(("a", "c")).isEmpty) // zero overlap → no row
    // symmetry
    assert(math.abs(sims(("b", "a")) - sims(("a", "b"))) < 1e-12)
  }

  test("argmax is deterministic under ties (tie-break by r_id asc)") {
    val sims = Seq(
      ("q", "m2", 0.5), ("q", "m1", 0.5), ("q", "m3", 0.2)).toDF("l_id", "r_id", "sim")
    val best = Similarity.argmax(sims).collect()
    assert(best.length === 1)
    assert(best.head.getString(1) === "m1")
  }

  test("topK returns k rows per key in rank order") {
    val sims = Seq(
      ("q", "m1", 0.9), ("q", "m2", 0.5), ("q", "m3", 0.2),
      ("p", "m1", 0.1)).toDF("l_id", "r_id", "sim")
    val top2 = Similarity.topK(sims, 2).collect()
    assert(top2.count(_.getString(0) == "q") === 2)
    assert(top2.count(_.getString(0) == "p") === 1)
  }

  test("denseArgmax ≡ invertedIndexJoin+argmax on numeric-id vectors") {
    // weights rounded to 6dp as the adaptive contract requires
    val nvecs = Seq(
      (1L, "x", 0.6), (1L, "y", 0.8),
      (2L, "x", 1.0),
      (3L, "y", 0.707107), (3L, "z", 0.707107),
      (4L, "q", 1.0)).toDF("id", "word", "w")
    val viaDense = Similarity.denseArgmax(nvecs, nvecs, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sims = Similarity.invertedIndexJoin(nvecs, nvecs)
      .filter($"l_id" =!= $"r_id").withColumn("sim", round($"sim", 6))
    val viaInverted = Similarity.argmax(sims)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaDense === viaInverted)
    // id 4 has zero overlap with everyone → absent from BOTH strategies
    assert(!viaDense.exists(_._1 == 4L))
  }

  test("argmaxAdaptive picks a strategy and matches either way") {
    val nvecs = Seq((1L, "x", 1.0), (2L, "x", 0.8), (2L, "y", 0.6)).toDF("id", "word", "w")
    val dense = Similarity.argmaxAdaptive(nvecs, nvecs, excludeSelf = true, maxDenseVocab = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inverted = Similarity.argmaxAdaptive(nvecs, nvecs, excludeSelf = true, maxDenseVocab = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dense === inverted)
    assert(dense === Set((1L, 2L), (2L, 1L)))
  }

  test("argmaxAdaptive byte bound forces the inverted strategy on big dense corpora") {
    // vocab fits (3 ≤ 10) but rows×dim×8B = 2×3×8 = 48B > 10B bound →
    // must fall back to inverted-index; results identical either way
    val nvecs = Seq((1L, "x", 1.0), (2L, "x", 0.8), (2L, "y", 0.6), (1L, "z", 0.0))
      .toDF("id", "word", "w")
    val bounded = Similarity.argmaxAdaptive(nvecs, nvecs, excludeSelf = true,
      maxDenseVocab = 10, maxDenseBytes = 10L)
    // inverted path is detectable by plan shape: it contains a Window
    // (row_number ranking); the dense path has none (mapPartitions loop)
    assert(bounded.queryExecution.analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.nonEmpty)
    val unbounded = Similarity.argmaxAdaptive(nvecs, nvecs, excludeSelf = true,
      maxDenseVocab = 10)
    assert(unbounded.queryExecution.analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty)
    assert(bounded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      unbounded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  // two-sided fixtures: distinct frames, integral ids, vocabulary {q, x, y, z}
  private lazy val titleVecs = Seq(
    (1L, "x", 1.0), (2L, "y", 0.6), (2L, "z", 0.8), (3L, "q", 1.0))
    .toDF("id", "word", "w")
  private lazy val abstractVecs = Seq(
    (10L, "x", 0.8), (10L, "y", 0.6), (11L, "z", 1.0), (12L, "y", 1.0))
    .toDF("id", "word", "w")
  private def matchSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("two-sided dense argmaxAdaptive runs no count job") {
    val (dense, ran) = graft.JobCounter.during(spark) {
      Similarity.argmaxAdaptive(titleVecs, abstractVecs, maxDenseVocab = 10)
    }
    // the vocabulary collect, the right side's bounded collect, then the
    // left side's checkpoint (and the re-checkpoint that restores the
    // session's 4-way parallelism); no count, no right-side checkpoint
    assert(!ran.actions.contains("count"), s"count job in $ran")
    assert(ran.jobs === 12, s"jobs: $ran")
    assert(dense.queryExecution.analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty)
    // title 3 shares no word with any abstract → no row
    assert(matchSet(dense) === Set((1L, 10L, 0.8), (2L, 11L, 0.8)))
    assert(matchSet(dense) ===
      matchSet(Similarity.argmaxAdaptive(titleVecs, abstractVecs, maxDenseVocab = 0)))
  }

  test("two-sided argmaxAdaptive byte bound forces the inverted strategy") {
    // dim 3 ⇒ maxRows = 40 B / (3 × 8 B) = 1 < 3 abstracts: the bounded
    // collect comes back truncated and the call falls back, before the
    // left side is densified
    val (bounded, ran) = graft.JobCounter.during(spark) {
      Similarity.argmaxAdaptive(titleVecs, abstractVecs,
        maxDenseVocab = 10, maxDenseBytes = 40L)
    }
    assert(ran.actions === Seq("collect", "collect"), s"ran: $ran")
    assert(bounded.queryExecution.analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.nonEmpty)
    assert(matchSet(bounded) ===
      matchSet(Similarity.argmaxAdaptive(titleVecs, abstractVecs, maxDenseVocab = 10)))
  }

  test("two-sided dense vocabulary is the right side's: left-only words take no dimension") {
    // union vocabulary {q, x, y, z} is 4 words, over the bound of 3;
    // the right side's {x, y, z} is not, so the call stays dense
    val dense = Similarity.argmaxAdaptive(titleVecs, abstractVecs, maxDenseVocab = 3)
    assert(dense.queryExecution.analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty, "expected the dense strategy")
    val inverted = matchSet(
      Similarity.argmaxAdaptive(titleVecs, abstractVecs, maxDenseVocab = 0))
    assert(matchSet(dense) === inverted)
    assert(matchSet(Similarity.denseArgmax(titleVecs, abstractVecs,
      maxDenseVocab = 3)) === inverted)
    // title 3 holds only the left-only word q → no row, as inverted
    assert(!inverted.exists(_._1 == 3L))
  }

  test("chooseArgmaxStrategy: three regimes; dense and exact never run the estimate") {
    import Similarity._
    // pairRows is by-name: regimes that cannot act on the estimate
    // must not evaluate it (no wasted job)
    assert(chooseArgmaxStrategy(denseEligible = true, exact = false,
      pairRows = sys.error("dense must not estimate"), maxPairRows = 0) === DenseStrategy)
    assert(chooseArgmaxStrategy(denseEligible = false, exact = true,
      pairRows = sys.error("exact must not estimate"), maxPairRows = 0) === InvertedStrategy)
    assert(chooseArgmaxStrategy(denseEligible = false, exact = false,
      pairRows = 100L, maxPairRows = 1000L) === InvertedStrategy)
    assert(chooseArgmaxStrategy(denseEligible = false, exact = false,
      pairRows = 1001L, maxPairRows = 1000L) === LshStrategy)
  }

  test("estimateInvertedPairRows equals the word join's exact row count") {
    val nvecs = Seq((1L, "x", 1.0), (2L, "x", 0.8), (2L, "y", 0.6), (3L, "x", 0.5))
      .toDF("id", "word", "w")
    // x appears 3×, y once → self-join rows = 9 + 1
    assert(Similarity.estimateInvertedPairRows(nvecs, nvecs, selfJoin = true) === 10L)
    val other = Seq((7L, "x", 1.0), (8L, "z", 1.0)).toDF("id", "word", "w")
    // shared word x: 3·1; y/z unshared
    assert(Similarity.estimateInvertedPairRows(nvecs, other, selfJoin = false) === 3L)
    assert(Similarity.estimateInvertedPairRows(
      nvecs.filter(lit(false)), other, selfJoin = false) === 0L)
  }

  test("pair estimator saturates past Long.MaxValue instead of throwing/wrapping") {
    // the regime the dispatcher EXISTS for: 10¹¹-doc postings make
    // per-word products (and the sum) overflow long — ANSI mode would
    // kill the estimate job, non-ANSI would wrap into a wrong
    // dispatch. The fold runs in double and saturates to
    // Long.MaxValue ⇒ always the LSH verdict. Counts that big cannot
    // be materialized as rows, so the synthetic count-frame entry
    // point feeds them directly.
    val huge = Seq(("x", 4.0e9), ("y", 4.0e9)).toDF("word", "nl")
    assert(Similarity.pairRowsFromWordCounts(huge, None) === Long.MaxValue)
    val hugeR = Seq(("x", 4.0e9)).toDF("word", "nr")
    assert(Similarity.pairRowsFromWordCounts(huge, Some(hugeR)) === Long.MaxValue)
    // sub-saturation stays exact (doubles are exact to 2^53)
    val small = Seq(("x", 3.0), ("y", 1.0)).toDF("word", "nl")
    assert(Similarity.pairRowsFromWordCounts(small, None) === 10L)
    import Similarity._
    assert(chooseArgmaxStrategy(denseEligible = false, exact = false,
      pairRows = Long.MaxValue, maxPairRows = Long.MaxValue - 1) === LshStrategy)
  }

  test("argmaxAdaptive past the pair budget switches to LSH-blocked; sims stay exact") {
    // 10 disjoint word-pairs, two docs each: every doc's true best
    // match is its same-set partner (cross-set dots are 0), and
    // identical word sets share every minhash band → LSH recall 1 on
    // exactly the winning pairs
    val rows = (0 until 10).flatMap { i =>
      Seq((2L * i, s"w${i}a", 0.6), (2L * i, s"w${i}b", 0.8),
        (2L * i + 1, s"w${i}a", 0.8), (2L * i + 1, s"w${i}b", 0.6))
    }
    val v = rows.toDF("id", "word", "w")
    val exact = Similarity.argmaxAdaptive(v, v, excludeSelf = true,
      maxDenseVocab = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // budget 0 + exact=false → the dispatcher must take the LSH path
    val approx = Similarity.argmaxAdaptive(v, v, excludeSelf = true,
      maxDenseVocab = 0, exact = false, maxPairRows = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(approx === exact)
    // winners are the partners, with the EXACT re-scored dot
    assert(approx === (0 until 20).map { id =>
      (id.toLong, (id ^ 1).toLong, 0.96)
    }.toSet)
  }

  test("denseArgmax handles integer (non-long) ids via cast") {
    val ivecs = Seq((1, "x", 1.0), (2, "x", 0.8), (2, "y", 0.6)).toDF("id", "word", "w")
    val out = Similarity.argmaxAdaptive(ivecs, ivecs, excludeSelf = true, maxDenseVocab = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 2L), (2L, 1L)))
  }

  test("denseArgmax enforces its own bounds on DIRECT callers") {
    val nvecs = Seq((1L, "x", 1.0), (2L, "x", 0.8), (2L, "y", 0.6), (1L, "z", 0.1))
      .toDF("id", "word", "w")
    // vocabulary above the bound → loud failure, not a giant collect
    val eVocab = intercept[IllegalArgumentException] {
      Similarity.denseArgmax(nvecs, nvecs, maxDenseVocab = 2)
    }
    assert(eVocab.getMessage.contains("maxDenseVocab"))
    // right side above the byte bound → loud failure mid-collect
    val eBytes = intercept[IllegalArgumentException] {
      Similarity.denseArgmax(nvecs, nvecs, maxDenseBytes = 10L)
    }
    assert(eBytes.getMessage.contains("maxDenseBytes"))
  }

  test("accuracy counts self-matches") {
    val m = Seq(("a", "a"), ("b", "c")).toDF("l_id", "r_id")
    val r = Similarity.accuracy(m).head
    assert(r.getDouble(0) === 0.5 && r.getLong(1) === 2L)
  }
}
