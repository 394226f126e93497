package graft.dedup

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  // corpus with planted exact dup (d1/d2), near-dup (d3/d4: one word
  // changed out of 12), and two unrelated docs
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (3L, "machine learning models require large curated training corpora for good results"),
    (4L, "machine learning models require large curated training corpora for strong results"),
    (5L, "completely different text about quantum entanglement and bell inequalities"),
    (6L, "spark catalyst optimizer rewrites logical plans into physical plans")
  ).toDF("doc_id", "text")

  test("exact dedup maps identical texts to one canonical id") {
    val r = Dedup.canonicalIds(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) === 1L && r(2L) === 1L)
    assert(r(3L) === 3L && r(4L) === 4L) // near-dup is NOT exact-dup
  }

  test("minhash LSH finds planted exact and near dups, not unrelated pairs") {
    val toks = Dedup.tokenSets(docs, "doc_id", "text")
    val sig = Dedup.minhashSig(toks, DedupQueriesParams.K)
    val cands = Dedup.lshCandidates(sig, 3, 4)
    val verified = Dedup.jaccardOnCandidates(toks, cands)
      .filter($"jaccard" >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.contains((1L, 2L)))
    assert(verified.contains((3L, 4L)))
    assert(!verified.exists { case (a, b) => Set(a, b).contains(5L) })
  }

  test("connectedComponents: chains collapse to min id, isolates self-label") {
    val vertices = (1L to 8L).toDF("id")
    // chain 1-2-3-4 (via pairs), pair 5-6, isolated 7, 8
    val edges = Seq((2L, 3L), (1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val r = Dedup.connectedComponents(vertices, edges)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
  }

  test("connectedComponents converges on a long chain (pointer jumping)") {
    // a 40-vertex path: plain neighbor-min would need 39 rounds; the
    // jump step must finish well inside maxIter
    val vertices = (1L to 40L).toDF("id")
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val r = Dedup.connectedComponents(vertices, edges, maxIter = 12)
      .collect().map(x => x.getLong(1)).toSet
    assert(r === Set(1L))
  }

  test("local-contraction cap: bounded union-find map never affects results") {
    // cap the per-partition union-find at 4 tracked vertices — most of
    // the chain's shortcut edges are dropped, which must only slow
    // convergence (more loop rounds), never change the labeling
    spark.conf.set("spark.graft.cc.maxLocalUnionEntries", "4")
    try {
      val vertices = (1L to 40L).toDF("id")
      val edges = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
      val r = Dedup.connectedComponents(vertices, edges)
        .collect().map(x => x.getLong(1)).toSet
      assert(r === Set(1L))
    } finally spark.conf.unset("spark.graft.cc.maxLocalUnionEntries")
  }

  test("winnowing: shared runs of >= w+k-1 tokens always share a fingerprint") {
    // k=2, w=4 ⇒ the guarantee threshold is 5 shared tokens: the run
    // contributes 4 consecutive bigram hashes = one full window, whose
    // minimum both documents must select (same hashes, same window)
    val k = 2; val w = 4
    val sharedRun = "alpha beta gamma delta epsilon" // 5 tokens
    val docs = Seq(
      (1L, s"one two $sharedRun three four five six seven"),
      (2L, s"eight nine ten eleven $sharedRun twelve"),
      (3L, "totally different words everywhere here nothing matches at all")
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs, "doc_id", "text", k, w)
    val cands = Dedup.winnowCandidates(fp, minShared = 1L)
      .select($"a", $"b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)), s"guaranteed pair missing: $cands")
    assert(!cands.exists { case (a, b) => a == 3L || b == 3L })
    // sublinearity: far fewer fingerprints than k-grams
    val nShingles = Dedup.positionalShingles(docs, "doc_id", "text", k).count()
    assert(fp.count() < nShingles)
    // short docs (< w full windows) produce no fingerprints, not an error
    val tiny = Seq((9L, "just three words")).toDF("doc_id", "text")
    assert(Dedup.winnowFingerprints(tiny, "doc_id", "text", k, w).count() === 0)
  }

  test("positionalShingles positions are the shingle sequence order") {
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val got = Dedup.positionalShingles(docs, "doc_id", "text", 2)
      .orderBy($"pos").collect().map(r => (r.getInt(1), r.getString(2)))
    assert(got.toSeq === Seq((0, "a b"), (1, "b c"), (2, "c d")))
  }

  test("minhash signatures estimate jaccard: exact dup identical, near dup mostly equal") {
    val toks = Dedup.tokenSets(docs, "doc_id", "text")
    val sigs = Dedup.minhashSig(toks, 12).collect()
      .map(r => r.getAs[Any]("id").asInstanceOf[Long] ->
        (1 until r.length).map(r.get)).toMap
    assert(sigs(1L) === sigs(2L), "exact dup: identical signature")
    val agree34 = sigs(3L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(agree34 >= 8, s"near dup: most rows agree, got $agree34/12")
  }

  test("lshCandidates maxBucket cap drops degenerate buckets") {
    // make all docs identical → every band bucket holds all 6 docs
    val same = (1L to 6L).map(i => (i, "same text every time")).toDF("doc_id", "text")
    val sig = Dedup.minhashSig(Dedup.tokenSets(same, "doc_id", "text"), 12)
    assert(Dedup.lshCandidates(sig, 3, 4).count() === 15) // 6C2
    assert(Dedup.lshCandidates(sig, 3, 4, maxBucket = 3).count() === 0)
  }

  test("shinglesCol produces n consecutive-token shingles") {
    val r = Seq(Seq("a", "b", "c", "d")).toDF("toks")
      .select(Dedup.shinglesCol($"toks", 3)).head.getSeq[String](0)
    assert(r === Seq("a b c", "b c d"))
    val short = Seq(Seq("a", "b")).toDF("toks")
      .select(Dedup.shinglesCol($"toks", 3)).head.getSeq[String](0)
    assert(short.isEmpty)
  }

  test("allPairsJaccard exact values") {
    val toks = Dedup.tokenSets(docs, "doc_id", "text")
    val j = Dedup.allPairsJaccard(toks, 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) === 1.0)
    // d3/d4: 11 distinct tokens each, 10 shared, 12 in union → 10/12
    assert(math.abs(j((3L, 4L)) - 10.0 / 12.0) < 1e-12)
  }
}

/** Mirror of DedupQueries constants without depending on operators pkg. */
private object DedupQueriesParams { val K = 12 }
