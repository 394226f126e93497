package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Round-18 laws: the incremental dataset card's exact mergeability —
  * any micro-batch split of the corpus lands on the one-shot card's
  * tables and report bit-exactly (integer sums + distinct-set union),
  * and the meta stamp advances by exactly each batch's contribution.
  */
class Round18QueriesSpec extends SparkTestBase {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("incremental card: any batch split converges to the one-shot card; tables set-equal; stamp advances exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-card")
      .toFile.getAbsolutePath
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "source", "text").localCheckpoint()
    // one-shot reference
    val oneShot = s"$tmp/oneshot"
    Round18Queries.cardWrite(spark, oneShot, docs)
    // incremental: seed third, then two uneven batches
    val inc = s"$tmp/inc"
    Round18Queries.cardWrite(spark, inc, docs.filter(col("doc_id") % 3 === 0))
    Round18Queries.cardAppendBatch(spark, inc,
      docs.filter(col("doc_id") % 3 === 1))
    Round18Queries.cardAppendBatch(spark, inc,
      docs.filter(col("doc_id") % 3 === 2))
    // a different split must land identically too
    val inc2 = s"$tmp/inc2"
    Round18Queries.cardWrite(spark, inc2, docs.filter(col("doc_id") < 100))
    Round18Queries.cardAppendBatch(spark, inc2,
      docs.filter(col("doc_id") >= 100))
    for (p <- Seq(inc, inc2)) {
      assert(rows(spark.read.parquet(s"$p/volumes"))
        === rows(spark.read.parquet(s"$oneShot/volumes")), s"$p volumes")
      assert(rows(spark.read.parquet(s"$p/vocab"))
        === rows(spark.read.parquet(s"$oneShot/vocab")), s"$p vocab")
      assert(rows(Round18Queries.cardServe(spark, p))
        === rows(Round18Queries.cardServe(spark, oneShot)), s"$p serve")
    }
    // the stamp is the full-corpus stamp on every path
    val (fr, fc) = ChoiceStore.documentsStamp(
      docs.select(col("doc_id"), col("text")))
    for (p <- Seq(oneShot, inc, inc2)) {
      val m = spark.read.parquet(s"$p/meta").head()
      assert((m.getAs[Long]("doc_rows"), m.getAs[Long]("doc_content"))
        === ((fr, fc)), p)
    }
    // an empty batch is a no-op (stamp unmoved, tables unmoved)
    val before = rows(Round18Queries.cardServe(spark, inc))
    Round18Queries.cardAppendBatch(spark, inc, docs.filter(col("doc_id") < 0))
    assert(rows(Round18Queries.cardServe(spark, inc)) === before)
    // and the served report matches the one-shot q291 rollup semantics
    val direct = Round17Queries.q291DatasetCard(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val served = Round18Queries.cardServe(spark, oneShot)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(served === direct)
  }

  test("card crash discipline: a torn merge refuses to serve AND refuses the retry; ensure resolves to one rebuild, never a double-add") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cardtorn")
      .toFile.getAbsolutePath
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "source", "text").localCheckpoint()
    val base = docs.filter(col("doc_id") % 3 =!= 2)
    val batch = docs.filter(col("doc_id") % 3 === 2)
    val card = s"$tmp/card"
    var builds = 0
    def ensure(d: org.apache.spark.sql.DataFrame): Unit =
      Round18Queries.cardEnsure(spark, card, d, onBuild = () => builds += 1)
    // cold build, then provably-warm re-ensure
    ensure(base)
    assert(builds === 1)
    ensure(base)
    assert(builds === 1)
    // a merge crashes in the OLD double-count window: tables written
    // (volumes hold the merged sums), meta stale
    val e0 = intercept[RuntimeException] {
      Round18Queries.cardAppendBatch(spark, card, batch,
        crashBeforeMeta = true)
    }
    assert(e0.getMessage.contains("injected crash"))
    assert(Round18Queries.cardTorn(spark, card))
    // the torn card takes the loud path everywhere
    val e1 = intercept[IllegalArgumentException] {
      Round18Queries.cardServe(spark, card)
    }
    assert(e1.getMessage.contains("TORN"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Round18Queries.cardAppendBatch(spark, card, batch)
    }
    assert(e2.getMessage.contains("TORN"), e2.getMessage)
    // ensure resolves torn ⇒ exactly one rebuild, and the result is
    // the one-shot card over the full corpus — the crashed batch's
    // volumes appear ONCE (a double-add would inflate every sum)
    ensure(docs)
    assert(builds === 2)
    assert(!Round18Queries.cardTorn(spark, card))
    val oneShot = s"$tmp/oneshot"
    Round18Queries.cardWrite(spark, oneShot, docs)
    assert(rows(Round18Queries.cardServe(spark, card))
      === rows(Round18Queries.cardServe(spark, oneShot)))
    assert(rows(spark.read.parquet(s"$card/volumes"))
      === rows(spark.read.parquet(s"$oneShot/volumes")))
    // ...and the recovered card is warm again
    ensure(docs)
    assert(builds === 2)
  }

  test("card bucket dial: merges hash with the card's OWN recorded count — a card built at a pinned non-default count merges to the one-shot card at that count") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-carddial")
      .toFile.getAbsolutePath
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "source", "text").localCheckpoint()
    // one-shot at the pinned count (the spec hook); incremental seeds
    // at the same pin, then the MERGE must read the card's meta count
    // — a merge that bucketed at the default would scatter the batch's
    // terms into partitions the serve-side union never reconciles with
    // the one-shot layout
    val pin = Some(8)
    val oneShot = s"$tmp/oneshot"
    Round18Queries.cardWrite(spark, oneShot, docs, nBucketsOverride = pin)
    val inc = s"$tmp/inc"
    Round18Queries.cardWrite(spark, inc,
      docs.filter(col("doc_id") % 3 === 0), nBucketsOverride = pin)
    assert(Round18Queries.cardBucketsRead(spark, inc) === Some(8))
    Round18Queries.cardAppendBatch(spark, inc,
      docs.filter(col("doc_id") % 3 =!= 0))
    // the dial rides the merged meta; tables land set-equal INCLUDING
    // the physical pt assignment (same count ⇒ same hash buckets)
    assert(Round18Queries.cardBucketsRead(spark, inc) === Some(8))
    assert(rows(spark.read.parquet(s"$inc/vocab"))
      === rows(spark.read.parquet(s"$oneShot/vocab")))
    assert(rows(Round18Queries.cardServe(spark, inc))
      === rows(Round18Queries.cardServe(spark, oneShot)))
    // the engine-chosen default path records the ladder's count
    val auto = s"$tmp/auto"
    Round18Queries.cardWrite(spark, auto, docs)
    val vocabTerms = spark.read.parquet(s"$auto/vocab")
      .select(col("term")).distinct().count()
    assert(Round18Queries.cardBucketsRead(spark, auto)
      === Some(Round15Queries.chooseBucketCount(vocabTerms)))
  }

  test("legacy card: meta-without-ledger (the pre-Σ-tie format) is LEGACY, not torn — distinct refusal, quiet cardEnsure rebuild") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cardlegacy")
      .toFile.getAbsolutePath
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "source", "text").localCheckpoint()
    val card = s"$tmp/card"
    Round18Queries.cardWrite(spark, card, docs)
    // simulate the previous format: a healthy card whose layout
    // predates the ledger — delete ledger.tsv, leave everything else
    val ledger = new java.io.File(Round18Queries.cardLedgerPath(card))
    assert(ledger.delete())
    assert(Round18Queries.cardState(spark, card)
      === Round18Queries.CardLegacy)
    assert(!Round18Queries.cardTorn(spark, card),
      "a healthy legacy card must NOT present as a crashed merge")
    // the refusals name the legacy state, not a crash that never was
    val e1 = intercept[IllegalArgumentException] {
      Round18Queries.cardServe(spark, card)
    }
    assert(e1.getMessage.contains("LEGACY"), e1.getMessage)
    assert(!e1.getMessage.contains("TORN"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Round18Queries.cardAppendBatch(spark, card,
        docs.filter(col("doc_id") % 7 === 0))
    }
    assert(e2.getMessage.contains("LEGACY"), e2.getMessage)
    // cardEnsure resolves legacy the same quiet way as stale: rebuild
    var builds = 0
    Round18Queries.cardEnsure(spark, card, docs, onBuild = () => builds += 1)
    assert(builds === 1)
    assert(Round18Queries.cardState(spark, card) === Round18Queries.CardOk)
    assert(rows(Round18Queries.cardServe(spark, card)).nonEmpty)
    // a tied pair whose meta lacks the dial column is ALSO legacy (the
    // fmt discipline): simulate by rewriting meta without n_buckets
    val card2 = s"$tmp/card2"
    Round18Queries.cardWrite(spark, card2, docs)
    val m = spark.read.parquet(s"$card2/meta")
      .select("doc_rows", "doc_content").localCheckpoint()
    m.repartition(1).write.mode("overwrite").parquet(s"$card2/meta")
    assert(Round18Queries.cardState(spark, card2)
      === Round18Queries.CardLegacy)
    Round18Queries.cardEnsure(spark, card2, docs,
      onBuild = () => builds += 1)
    assert(builds === 2)
    assert(Round18Queries.cardState(spark, card2) === Round18Queries.CardOk)
  }

  test("cardBuildAsOf: as-of card ≡ one-shot card over readAsOf(k) — cursor-fed across appends and expiry, one-shot past a compaction; missing pin loud") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cardasof")
      .toFile.getAbsolutePath
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "source", "text").localCheckpoint()
    val lakeDocs = s"$tmp/documents.parquet"
    val snaps = s"$tmp/snapshots"
    docs.filter(col("doc_id") % 4 === 0)
      .write.parquet(lakeDocs)
    graft.io.SnapshotStore.record(spark, lakeDocs, snaps)
    (1L to 2L).foreach { k =>
      docs.filter(col("doc_id") % 4 === k)
        .write.mode("append").parquet(lakeDocs)
      graft.io.SnapshotStore.record(spark, lakeDocs, snaps)
    }
    val current = spark.read.parquet(lakeDocs)
    graft.io.SnapshotStore.compactWithRetention(spark, lakeDocs, snaps,
      current.filter(col("doc_id") % 7 =!= 5).localCheckpoint())
    graft.io.SnapshotStore.record(spark, lakeDocs, snaps)
    graft.io.SnapshotStore.expireSnapshots(spark, snaps, Set(2, 3, 4))
    def oneShotAt(k: Int, path: String): Unit =
      Round18Queries.cardWrite(spark, path,
        graft.io.SnapshotStore.readAsOf(spark, snaps, k))
    // pre-compaction pin (3): base must be the oldest KEPT snapshot
    // (2 — snapshot 1 expired), plus exactly one cursor merge
    var base3 = 0; var merges3 = 0
    Round18Queries.cardBuildAsOf(spark, snaps, 3, s"$tmp/asof3",
      onBase = base3 = _, onMerge = (_, _) => merges3 += 1)
    assert(base3 === 2 && merges3 === 1, s"($base3, $merges3)")
    oneShotAt(3, s"$tmp/one3")
    assert(rows(Round18Queries.cardServe(spark, s"$tmp/asof3"))
      === rows(Round18Queries.cardServe(spark, s"$tmp/one3")))
    // post-compaction pin (4): the chain breaks at the rewrite — the
    // plan detects it from manifests and seeds one-shot at 4
    var base4 = 0; var merges4 = 0
    Round18Queries.cardBuildAsOf(spark, snaps, 4, s"$tmp/asof4",
      onBase = base4 = _, onMerge = (_, _) => merges4 += 1)
    assert(base4 === 4 && merges4 === 0, s"($base4, $merges4)")
    oneShotAt(4, s"$tmp/one4")
    assert(rows(Round18Queries.cardServe(spark, s"$tmp/asof4"))
      === rows(Round18Queries.cardServe(spark, s"$tmp/one4")))
    // an expired pin fails loudly — a datasheet can never silently
    // describe a different state than its pin
    val e = intercept[IllegalArgumentException] {
      Round18Queries.cardBuildAsOf(spark, snaps, 1, s"$tmp/asof1")
    }
    assert(e.getMessage.contains("expired"), e.getMessage)
  }

  test("graft_card TVF: SQL serve ≡ cardServe byte-exact; torn/legacy refuse at PLAN time; literal/arity boundaries") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cardtvf")
      .toFile.getAbsolutePath
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "source", "text").localCheckpoint()
    val card = s"$tmp/card"
    Round18Queries.cardWrite(spark, card, docs)
    assert(rows(spark.sql(s"SELECT * FROM graft_card('$card')"))
      === rows(Round18Queries.cardServe(spark, card)))
    // composes with plain SQL over the relation
    val n = spark.sql(
      s"SELECT sum(n_docs) FROM graft_card('$card')").head().getLong(0)
    assert(n === docs.count())
    // boundary errors: arity, non-literal path
    val e1 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_card()").collect()
    }
    assert(e1.getMessage.contains("1 argument"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_card(concat('$card', ''))").collect()
    }
    assert(e2.getMessage.contains("literal"), e2.getMessage)
    // the crash discipline fires at PLAN time through SQL: a torn
    // card (crashed merge) refuses before any scan starts
    intercept[Exception] {
      Round18Queries.cardAppendBatch(spark, card,
        docs.filter(col("doc_id") % 5 === 0), crashBeforeMeta = true)
    }
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_card('$card')").collect()
    }
    assert(e3.getMessage.contains("TORN"), e3.getMessage)
    // ...and a legacy layout gets its own refusal, not a phantom crash
    Round18Queries.cardEnsure(spark, card, docs) // heal
    assert(new java.io.File(Round18Queries.cardLedgerPath(card)).delete())
    val e4 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_card('$card')").collect()
    }
    assert(e4.getMessage.contains("LEGACY"), e4.getMessage)
  }

  test("cardEnsure: stale stamp (corpus moved) rebuilds; fresh card is warm") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cardstale")
      .toFile.getAbsolutePath
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "source", "text").localCheckpoint()
    val card = s"$tmp/card"
    var builds = 0
    Round18Queries.cardEnsure(spark, card,
      docs.filter(col("doc_id") % 2 === 0), onBuild = () => builds += 1)
    assert(builds === 1)
    // the corpus moved (stale stamp) ⇒ rebuild; same corpus ⇒ warm
    Round18Queries.cardEnsure(spark, card, docs,
      onBuild = () => builds += 1)
    assert(builds === 2)
    Round18Queries.cardEnsure(spark, card, docs,
      onBuild = () => builds += 1)
    assert(builds === 2)
    assert(rows(Round18Queries.cardServe(spark, card)).nonEmpty)
  }

  test("snapshot-cursor postings append: consuming manifest intervals lands on the one-shot build bit-equal; rewrites stay loud") {
    import spark.implicits._
    import graft.io.SnapshotStore
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-snapcursor")
      .toFile.getAbsolutePath
    val lakeA = s"$tmp/a" // snapshotted lake, index fed by the cursor
    val lakeB = s"$tmp/b" // the full-state from-scratch reference
    val lakeDocs = s"$lakeA/documents.parquet"
    val snaps = s"$lakeA/snapshots"
    // chronology: base → snap1 → ingest A → snap2 → ingest B → snap3
    docs.filter($"doc_id" % 4 === 0).write.parquet(lakeDocs)
    SnapshotStore.record(spark, lakeDocs, snaps)
    docs.filter($"doc_id" % 4 === 1)
      .write.mode("append").parquet(lakeDocs)
    SnapshotStore.record(spark, lakeDocs, snaps)
    docs.filter($"doc_id" % 4 === 2 || $"doc_id" % 4 === 3)
      .write.mode("append").parquet(lakeDocs)
    SnapshotStore.record(spark, lakeDocs, snaps)
    // index built offline FOR snapshot 1's state (the catch-up never
    // pays a corpus tokenize): seed a dir with the as-of-1 read and
    // cold-build there — the consumer then owns that index
    val base = SnapshotStore.readAsOf(spark, snaps, 1)
      .select($"doc_id", $"text").localCheckpoint()
    val lakeBase = s"$tmp/base"
    base.write.parquet(s"$lakeBase/documents.parquet")
    Round15Queries.ensureBm25IndexIncremental(spark, lakeBase)
    // the cursor consumer catches up intervals 1→3 on the base index
    val idxBase = Round15Queries.bm25IndexPath(lakeBase)
    val applied = Round18Queries.postingsAppendFromSnapshots(spark, snaps,
      idxBase, 1, 3)
    assert(applied === 2, "both non-empty intervals must apply")
    // reference: one-shot build over the final lake state
    docs.write.parquet(s"$lakeB/documents.parquet")
    val mB = Round15Queries.ensureBm25IndexIncremental(spark, lakeB)
    val idxB = Round15Queries.bm25IndexPath(lakeB)
    val mA = Round15Queries.bm25IndexRead(spark, idxBase).get
    assert((mA.docRows, mA.docContent) === ((mB.docRows, mB.docContent)))
    def table(p: String, sub: String) =
      spark.read.parquet(s"$p/$sub").collect().map(_.toSeq).toSet
    for (sub <- Seq("postings", "dl", "df", "stats"))
      assert(table(idxBase, sub) === table(idxB, sub), sub)
    // a no-op re-consume applies nothing (the cursor is idempotent at
    // the interval level: deltas already consumed are not re-readable
    // as new snapshots — re-running the SAME range would violate the
    // disjointness contract, so the consumer tracks its position; here
    // we just confirm an empty range is a no-op)
    assert(Round18Queries.postingsAppendFromSnapshots(spark, snaps,
      idxBase, 3, 3) === 0)
    // a compaction inside the consumed range fails loudly at the
    // delta read — the non-append-interval law routes to rebuild
    SnapshotStore.compactWithRetention(spark, lakeDocs, snaps,
      spark.read.parquet(lakeDocs).filter($"doc_id" % 7 =!= 5))
    SnapshotStore.record(spark, lakeDocs, snaps)
    val e = intercept[IllegalArgumentException] {
      Round18Queries.postingsAppendFromSnapshots(spark, snaps, idxBase, 3, 4)
    }
    assert(e.getMessage.contains("spans a rewrite"))
  }
}
