package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.dedup.Dedup
import graft.text.TextPrep
import graft.textstats.TextStats
import graft.tfidf.TfIdf

/** Degenerate-input hardening: every operator must handle empty inputs
  * and token-free documents without crashing (the reference would
  * ZeroDivisionError on empty vectors, SURVEY.md §2.10.9 — our contract
  * is drop-with-documented-semantics).
  */
class EdgeCaseSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private lazy val degenerate = Seq(
    (1L, ""), (2L, "   "), (3L, "!!! ??? 123"), (4L, "the the the")).toDF("doc_id", "text")

  test("tfidf on an empty table yields an empty vector table") {
    assert(TfIdf.vectorize(empty, "doc_id", "text").count() === 0)
  }

  test("tfidf drops token-free docs; stopword-only doc dropped with default list") {
    val v = TfIdf.vectorize(degenerate, "doc_id", "text")
    assert(v.select($"id").distinct().count() === 0) // nothing survives
  }

  test("dedup suite on empty and degenerate inputs") {
    assert(Dedup.canonicalIds(empty, "doc_id", "text").count() === 0)
    assert(Dedup.minhashSig(Dedup.tokenSets(empty, "doc_id", "text"), 4).count() === 0)
    // degenerate docs: only doc 4 has tokens ("the" ×3 → {the})
    val sigs = Dedup.minhashSig(Dedup.tokenSets(degenerate, "doc_id", "text"), 4)
    assert(sigs.count() === 1)
    val cands = Dedup.lshCandidates(sigs, 2, 2)
    assert(cands.count() === 0) // one doc → no pairs
    assert(Dedup.simhash16(TfIdf.termFreq(
      TfIdf.tokens(degenerate, "doc_id", "text", stopwords = Nil))).count() === 1)
  }

  test("text stats on degenerate docs: rows preserved, ratios defined") {
    val q = TextStats.qualityScore(degenerate, "doc_id", "text").collect()
    assert(q.length === 4) // nothing dropped — quality is a per-row op
    q.foreach { r =>
      assert(!r.getAs[Boolean]("keep")) // all junk rejected
      assert(!r.getDouble(r.fieldIndex("distinct_ratio")).isNaN)
    }
    val lang = TextStats.langId(degenerate, "doc_id", "text").collect()
    assert(lang.length === 4)
    // "the the the" hits the en marker list; token-free docs are 'und'
    val byId = lang.map(r => r.getLong(0) -> r.getAs[String]("pred_lang")).toMap
    assert(byId(1L) === "und" && byId(4L) === "en")
  }

  test("normalize/tokens on pathological strings") {
    val weird = Seq("\t\n", "ÅÉÎ ünïcödé", "a" * 10000).toDF("t")
      .select(TextPrep.tokensCol($"t").as("toks")).collect()
    assert(weird(0).getSeq[String](0).isEmpty)
    // Java \w is ASCII-only: accented chars strip to spaces, ASCII
    // letters inside survive — deterministic, documented (§2.10.6)
    assert(weird(1).getSeq[String](0).forall(_.matches("[a-z_]+")))
    assert(weird(2).getSeq[String](0).length === 1)
  }

  test("similarity on empty vector tables") {
    val emptyVecs = Seq.empty[(Long, String, Double)].toDF("id", "word", "w")
    assert(graft.similarity.Similarity.invertedIndexJoin(emptyVecs, emptyVecs).count() === 0)
    assert(graft.similarity.Similarity.denseArgmax(emptyVecs, emptyVecs).count() === 0)
  }

  test("connected components with no edges: every vertex labels itself") {
    val vertices = (1L to 3L).toDF("id")
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    val r = Dedup.connectedComponents(vertices, noEdges)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // and the fully-empty graph
    assert(Dedup.connectedComponents(
      Seq.empty[Long].toDF("id"), noEdges).count() === 0)
  }

  test("salted join with an empty small side behaves like the plain join") {
    val fact = Seq((1L, "x")).toDF("k", "payload")
    val emptyDim = Seq.empty[(Long, String)].toDF("k", "attr")
    assert(Skew.saltedJoin(fact, emptyDim, Seq("k"), 4).count() === 0)
    assert(Skew.saltedJoin(fact, emptyDim, Seq("k"), 4, "left").count() === 1)
  }

  test("round-5 kernel guards and degenerate inputs") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{AhoCorasick, MisraGries, PhraseCount, RollingHash}
    // rolling hashes: text shorter than L -> empty; L = text length -> one
    assert(RollingHash.hashes(UTF8String.fromString("ab"), 3)
      .toLongArray().isEmpty)
    assert(RollingHash.hashes(UTF8String.fromString("abc"), 3)
      .toLongArray().length === 1)
    intercept[IllegalArgumentException] {
      graft.functions.RollingHashesExpr(
        org.apache.spark.sql.GraftSqlApi.expr($"text"), 0)
    }
    // phrase_count: empty text, single token, delimiter-only text
    for (t <- Seq("", "key", " ", "  "))
      assert(PhraseCount.count(UTF8String.fromString(t), "key", "order") === 0L)
    // AC: empty dictionary / empty pattern are construction errors
    intercept[IllegalArgumentException] {
      new AhoCorasick.Automaton(Array.empty[String])
    }
    intercept[IllegalArgumentException] {
      new AhoCorasick.Automaton(Array("ok", ""))
    }
    // MG: k must be positive; k = 1 still honors the laws
    intercept[IllegalArgumentException] {
      MisraGries.summarize(Iterator("a"), 0)
    }
    val one = MisraGries.summarize(Iterator("a", "a", "b", "a"), 1)
    assert(one.size <= 1)
    one.foreach { case (w, est) => assert(w == "a" && est <= 3) }
  }

  test("range join with empty inputs yields no rows") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val pts = Seq((1L, ts0)).toDF("pid", "pt")
    val noIv = Seq.empty[(Long, java.sql.Timestamp, java.sql.Timestamp)].toDF("iid", "s", "e")
    assert(RangeJoin.pointInInterval(pts, "pt", noIv, "s", "e", 1000).count() === 0)
    val noPts = Seq.empty[(Long, java.sql.Timestamp)].toDF("pid", "pt")
    val iv = Seq((1L, ts0, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))).toDF("iid", "s", "e")
    assert(RangeJoin.pointInInterval(noPts, "pt", iv, "s", "e", 3600000).count() === 0)
  }

  test("round-6 kernel guards and degenerate inputs") {
    // dHash: undersized image and corrupt bytes both fail LOUDLY
    val tiny = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(tiny, "png", bos)
    val e1 = intercept[IllegalArgumentException] {
      graft.multimodal.Multimodal.dHash64(bos.toByteArray)
    }
    assert(e1.getMessage.contains("too small"))
    val e2 = intercept[IllegalArgumentException] {
      graft.multimodal.Multimodal.dHash64(Array[Byte](9, 9, 9))
    }
    assert(e2.getMessage.contains("could not decode"))
    // BM25 rank over empty postings: empty result, no crash
    val tf0 = Seq.empty[(Long, String, Long)].toDF("doc_id", "term", "tf")
    val dl0 = Seq.empty[(Long, Long)].toDF("doc_id", "dl")
    val df0 = Seq.empty[(String, Long)].toDF("term", "df")
    val st = Seq((0L, 0.0)).toDF("n_docs", "avgdl")
    assert(Round14Queries.bm25Rank(tf0, dl0, df0, st, 10).count() === 0)
    // ROUGE on a corpus of sub-bigram docs: no pairs, no ANSI abort
    val subBigram = Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
    subBigram.createOrReplaceTempView("graft_edge_docs_unused")
    // (q227 reads from the sf dir; the law it relies on — size<2 docs
    // are filtered before sequence() — is asserted via the column expr)
    val bigrams = subBigram
      .select(TextPrep.tokensCol(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    assert(bigrams.count() === 0)
    // jackknife on a single source: zero output rows (no leave-one-out
    // estimate exists), not a division error
    // replicated via the same N > n_s filter the query applies
    val one = Seq(("s1", 5L)).toDF("source", "nt")
    val per = one.groupBy($"source").agg(count(lit(1)).as("n_s"), sum($"nt").as("s_s"))
    val tot = per.agg(sum($"n_s").as("N"), sum($"s_s").as("S"))
    assert(per.crossJoin(tot).filter($"N" > $"n_s").count() === 0)
  }

  test("round-16 degenerate inputs: encode fails loudly, profiles/probes drop cleanly") {
    // IVF-PQ encode on an empty batch: a LOUD require, not a silent
    // empty write (an empty append is almost always an upstream bug)
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val cent = Seq((0, Array(0.0, 0.0))).toDF("cluster", "centroid")
    val cbs = Seq((0, 0, Array(0.0))).toDF("sub", "code", "centroid")
    val e = intercept[IllegalArgumentException] {
      graft.ann.Ann.ivfPqEncode(emptyVecs, cent, cbs)
    }
    assert(e.getMessage.contains("empty input"))
    // DSIR profile of token-free docs: zero rows, and the scoring tail
    // over an empty profile yields zero rows (no NaN weights)
    val degLang = degenerate.withColumn("lang", lit("en"))
    val prof = Round16Queries.dsirProfile(
      degLang.filter($"doc_id" <= 2L)) // "" and "   " only
    assert(prof.count() === 0)
    assert(Round16Queries.dsirWeightsFromProfile(prof).count() === 0)
    // passages of token-free docs: zero rows (q257's per-doc rollup
    // then has no row to divide by zero)
    assert(Round16Queries.passagesOf(
      degenerate.filter($"doc_id" <= 2L)).count() === 0)
    // kNN vote tail over an empty neighbor table: zero rows, no
    // div-by-zero majority
    val emptyTop = Seq.empty[(Long, Long)].toDF("qid", "nid")
    val lbl = Seq((1L, 0)).toDF("vec_id", "label")
    assert(graft.ann.Ann.knnLabelVotes(emptyTop, lbl, lbl).count() === 0)
  }

  test("unigram decode on degenerate docs: empty ok=1, untrained words flagged ok=0") {
    // model trained on the real fixture; decode fed OFF-corpus docs —
    // the only route to OOV at the decode surface
    val m = graft.text.UnigramLm.train(spark, sf0001)
    val docs = Seq(
      (1L, ""),                  // empty: round-trips as "" → ok = 1
      (2L, "!!! 123 ???"),       // token-free after normalize → ok = 1
      (3L, "zzzzqqqqxxxx"))      // word the model never saw → ok = 0
      .toDF("doc_id", "text")
    val got = UnigramQueries.decodeRoundTrip(docs, m).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(got(1L) === ((0L, 1L)), s"empty doc must round-trip: $got")
    assert(got(2L) === ((0L, 1L)), s"token-free doc must round-trip: $got")
    assert(got(3L)._2 === 0L,
      s"a doc with an untrained word must be FLAGGED, not passed: $got")
    // and the flag is the only symptom — no crash, rows preserved
    assert(got.size === 3)
  }
}
