package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkTestBase

/** Plan-shape regression tests: the performance contract (pushdown,
  * pruning, broadcast, partial aggregation, codegen) asserted on the
  * optimized plans — so a future change that silently de-optimizes a
  * query fails CI, not the bench.
  */
class PlanSpec extends SparkTestBase {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Logical Window nodes with NO partition spec — each one executes as a
    * single-partition WindowExec (every row through one task). */
  private def unpartitionedWindows(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }

  /** Corpus-scale leaves: the fact tables plus per-vector/per-doc index
    * artifacts; region/nation/customer/supplier/part are star-schema
    * dimensions (broadcasting their filtered forms is the intended plan
    * at any scale the dimension itself fits). */
  private val corpusScale = Seq("documents.parquet", "embeddings.parquet",
    "events.parquet", "lineitem.parquet", "orders.parquet",
    "/assignments", "/codes")

  /** A broadcast side bounded BY SHAPE: an aggregate, a limit, a
    * semi/anti join off a bounded left, a local relation, or a scan of a
    * constant/dimension table. */
  private def boundedSide(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.plans.{LeftSemi, LeftAnti}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    p match {
      case _: Aggregate => true
      case _: GlobalLimit | _: LocalLimit => true
      case j: Join if j.joinType == LeftSemi || j.joinType == LeftAnti =>
        boundedSide(j.left)
      case l: LogicalRelation => l.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          !fs.location.rootPaths.exists(p =>
            corpusScale.exists(p.toString.contains))
        case _ => false
      }
      case _: LocalRelation | _: OneRowRelation | _: Range => true
      case leaf: LeafNode =>
        // unknown leaves (views, streaming sources) are NOT assumed
        // small — flag them for the allowlist
        false
      case other => other.children.forall(boundedSide)
    }
  }

  /** The join sides carrying an explicit BROADCAST hint. */
  private def hintedSides(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        val l = if (j.hint.leftHint.exists(_.strategy.exists(
          _.toString.contains("broadcast")))) Seq(j.left) else Nil
        val r = if (j.hint.rightHint.exists(_.strategy.exists(
          _.toString.contains("broadcast")))) Seq(j.right) else Nil
        l ++ r
    }.flatten

  /** What the two registry locks read off one gated query's plan. */
  private final case class PlanAudit(unpartitionedWindow: Boolean,
      unboundedBroadcast: Boolean)

  /** Every gated query's plan, built ONCE for both registry locks:
    * building a plan runs the query's eager lifecycle verbs, which
    * dominate the suite when each lock builds every plan again. Left
    * holds the planning failure; only the audit is kept, not the plan. */
  private lazy val gatedPlanAudits: Seq[(String, Either[Throwable, PlanAudit])] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try {
        val df = fn(spark, sf0001)
        Right(PlanAudit(unpartitionedWindows(df).nonEmpty,
          hintedSides(df).exists(!boundedSide(_))))
      } catch { case e: Throwable => Left(e) })
    }

  private def planned(name: String, audit: Either[Throwable, PlanAudit]): PlanAudit =
    audit.fold(e => fail(s"$name failed to plan: ${e.getMessage}"), identity)

  /** An allowlist key that names no registered query allows nothing:
    * a typo or a renamed query would leave its real offender unlisted.
    * Checked before any plan is built. */
  private def assertRegistered(allowlist: Map[String, String]): Unit = {
    val stale = allowlist.keySet -- graft.SparkEntry.queries.keySet
    assert(stale.isEmpty,
      s"allowlist keys that name no registered query: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("q1: filter pushed into parquet scan; unused columns pruned; partial agg") {
    val p = formatted(RelationalOps.q1PricingSummary(spark, sf0001))
    assert(p.contains("PushedFilters"))
    assert(p.contains("LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_partkey"), "scan should not read unused columns")
    assert(!p.contains("l_tax"), "scan should not read unused columns")
    assert(p.contains("HashAggregate"))
  }

  test("q2: all dimension joins broadcast; no sort-merge join anywhere") {
    val p = formatted(RelationalOps.q2RevenueByNation(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "star-schema dims must broadcast at this scale")
    // date filter pushed into the orders scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"))
  }

  test("q13 dense path: broadcast local scoring, no pair join at all") {
    val p = formatted(DocQueries.q13Top1Similar(spark, sf0001))
    // the dense strategy ships the corpus as a broadcast array and
    // scores in mapPartitions — the plan must contain NO join of pairs
    assert(p.contains("MapPartitions"), s"dense local scoring expected:\n$p")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q21 uses float_dot; the expression compiles into generated code") {
    graft.functions.VectorFunctions.register(spark)
    val df = AnnQueries.q21KnnBruteForce(spark, sf0001)
    assert(formatted(df).contains("float_dot"))
    // codegen-mode explain on the full q21 plan reports 0 subtrees
    // pre-execution (AQE wraps it); assert the generated code on a
    // plain projection, which is how the expression runs in the scan
    // stage
    import org.apache.spark.sql.functions.col
    // bare read: the adaptive input spread (Tables.parallelTable) adds
    // an AQE-wrapped exchange, which hides codegen subtrees from the
    // pre-execution explain; the assertion is about the EXPRESSION
    val proj = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(graft.functions.VectorFunctions
        .dot(col("embedding"), col("embedding")).as("d"))
    val codegen = proj.queryExecution
      .explainString(ExplainMode.fromString("codegen"))
    assert(codegen.contains("getFloat"),
      "FloatDotProduct must compile into generated code")
  }

  test("q21 plans through the custom TopKPerKey operator, not a full window sort") {
    val df = AnnQueries.q21KnnBruteForce(spark, sf0001)
    assert(df.queryExecution.optimizedPlan.collect {
      case t: graft.plans.TopKPerKey => t
    }.nonEmpty, "q21 must rank via TopKPerKeyExec")
  }

  test("q20 banded LSH: hyperplane join broadcasts; candidate join is hash, not nested-loop") {
    val p = formatted(AnnQueries.q20LshTop1Banded(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), "hyperplane table must broadcast")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "bucket candidate generation must be an equi-join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q29 curation: single-pass scans, no cartesian, partial aggregation") {
    val p = formatted(TextStatsQueries.q29Curation(spark, sf0001))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("HashAggregate"))
  }

  test("q5 broadcast hints land on buildable sides (no dropped-hint warnings)") {
    val p = formatted(RelationalOps.q5SemiAnti(spark, sf0001))
    // both outer joins build the broadcast aggregate sides
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q30: aggregation is partial before the exchange") {
    val p = formatted(EventQueries.q30WindowAgg(spark, sf0001))
    // partial+final pattern: at least two HashAggregates with an
    // Exchange between them
    val firstAgg = p.indexOf("HashAggregate")
    val lastAgg = p.lastIndexOf("HashAggregate")
    assert(firstAgg >= 0 && lastAgg > firstAgg)
    assert(p.indexOf("Exchange", firstAgg) > 0)
  }

  test("q43 IVF probe: inverted-file scan is partition-pruned, probes broadcast") {
    val p = formatted(AnnQueries.q43IvfTopK(spark, sf0001))
    // the probe must reach the assignments scan through the cluster
    // partition column — dynamic pruning (or a static partition filter),
    // never a full inverted-file scan feeding a nested loop
    assert(p.contains("PartitionFilters") && p.contains("dynamicpruning"),
      s"expected DPP on the cluster partition column:\n$p")
    // candidate generation is a hash join on cluster; the only nested
    // loop is the DELIBERATE broadcast cross of the kClusters-row
    // centroid table (centroid ranking), never the inverted file
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q49 nearest-centroid: broadcast centroids, partial-agg argmax, no window") {
    val df = AnnQueries.q49NearestCentroid(spark, sf0001)
    val p = formatted(df)
    // centroids broadcast; the per-vector argmax is a partial-aggregated
    // struct-max (map-side combine), NOT a window rank over the scored
    // corpus×labels stream
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q57 global top-N plans as TakeOrderedAndProject, not a full sort") {
    val p = formatted(RelationalOps.q57ShippingPriority(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("PushedFilters"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q56 interval overlap: hash equi-join on (key, bucket), no nested loop") {
    val p = formatted(EventQueries.q56IntervalOverlap(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q69 bucketed join: neither side re-shuffled for the join") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the co-location claim is what's tested
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = RelationalOps.q69BucketedJoin(spark, sf0001)
        .queryExecution.executedPlan.toString
      val joinIdx = p.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected a sort-merge join over bucketed scans:\n$p")
      assert(!p.substring(joinIdx).contains("Exchange hashpartitioning"),
        s"bucketed join must not exchange its inputs:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q81: every join broadcasts; ship-date cut pushed to the lineitem scan") {
    val p = formatted(RelationalOps.q81VolumeShipping(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "pair-restricted orders must broadcast under the fact join")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
  }

  test("q85: part-only OR-weakening reaches the part side as a filter") {
    val p = formatted(RelationalOps.q85DisjunctiveRevenue(spark, sf0001))
    // the build side must be pre-filtered on brand (the OR's part-only
    // weakening), not the full dimension
    assert(p.contains("p_brand"), "part pre-filter missing from the plan")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the cross-table OR must ride the equi-join as a residual")
  }

  test("q89: quantized scoring uses the native expressions and TopKPerKey") {
    graft.functions.VectorFunctions.register(spark)
    val p = formatted(AnnQueries.q89QuantizedTopK(spark, sf0001))
    assert(p.contains("int_dot"), "IntDotProduct must drive the scoring")
    assert(p.contains("int8_quantize"), "QuantizeInt8 must feed the dots")
    assert(p.toLowerCase.contains("topkperkey"),
      "ranking must plan through the bounded-heap operator")
    // both expressions compile into generated code
    import org.apache.spark.sql.functions.col
    val proj = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(graft.functions.VectorFunctions.dotI(
        graft.functions.VectorFunctions.quantize8(col("embedding")),
        graft.functions.VectorFunctions.quantize8(col("embedding"))).as("d"))
    val codegen = proj.queryExecution
      .explainString(ExplainMode.fromString("codegen"))
    assert(codegen.contains("getInt") && codegen.contains("fromPrimitiveArray"),
      "QuantizeInt8/IntDotProduct must compile into generated code")
  }

  test("q91: all three predicates pushed to the lineitem scan; two-column read") {
    val p = formatted(SupplyChainOps.q91ForecastRevenue(spark, sf0001))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("GreaterThanOrEqual(l_discount"))
    assert(p.contains("LessThan(l_quantity"))
    assert(!p.contains("l_partkey"), "scan must not read unused columns")
    assert(p.contains("HashAggregate"))
  }

  test("q93: part/supplier/nation dims broadcast; shipdate-less scan stays pruned") {
    val p = formatted(SupplyChainOps.q93ProductProfit(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("l_shipdate"), "q93 must not read shipdate")
  }

  test("q94: window min per part, broadcast dims, no self-join of ps") {
    val p = formatted(SupplyChainOps.q94MinCostSupplier(spark, sf0001))
    assert(p.contains("Window"))
    // exactly ONE aggregate family over lineitem (the ps derivation):
    // a join-back min would add a second Exchange on ps_partkey
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q96: supplier qualification is a LEFT SEMI join") {
    val p = formatted(SupplyChainOps.q96ConcentratedShippers(spark, sf0001))
    assert(p.contains("LeftSemi"), s"expected LEFT SEMI:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q99: candidate join moves ids only — no embedding column crosses it") {
    val p = formatted(AnnQueries.q99AnnRecall(spark, sf0001))
    // the band-bucket candidate join must not carry vectors
    val joinLines = p.linesIterator.filter(l =>
      l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin")).mkString("\n")
    assert(joinLines.nonEmpty)
    assert(!joinLines.contains("embedding"),
      s"candidate join must be ids-only:\n$joinLines")
  }

  test("q102: pair generation is a keyed join on cluster, never cartesian") {
    val p = formatted(AnnQueries.q102SemanticDedup(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      s"within-cluster pairing must be an equi-join on cluster:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"within-cluster pairing must be an equi-join on cluster:\n$p")
  }

  test("q104: stratum sampling ranks through the bounded-heap operator") {
    val p = formatted(TextStatsQueries.q104TopKSample(spark, sf0001))
    assert(p.contains("TopKPerKey"),
      s"expected TopKPerKeyExec in the sampling plan:\n$p")
  }

  test("q101: per-round shuffles are keyed exchanges, no nested loop") {
    val docs = graft.Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id").as("id"))
    val e = DedupQueries.synthEdges(spark, sf0001)
    val sym = e.selectExpr("a as src", "b as dst")
      .unionAll(e.selectExpr("b as src", "a as dst"))
    val p = formatted(graft.graph.GraphOps.pageRankScaled(docs, sym, 1))
    assert(!p.contains("CartesianProduct"), s"no cartesian in PageRank:\n$p")
  }

  test("q70 lake read: partition pruned at the scan, not post-filtered") {
    val p = formatted(EventQueries.q70PartitionPruning(spark, sf0001))
    // the Hive-layout scan must carry the partition predicate
    assert(p.contains("PartitionFilters") &&
      p.contains("event_type#") || p.contains("isnotnull(event_type"),
      s"expected a partition filter on event_type:\n$p")
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("event_type"), s"partition filter missing:\n$p")
  }

  test("q122: compactions stay partial aggregates; merge is a keyed join") {
    val p = formatted(EventQueries.q122CdcMerge(spark, sf0001))
    // both sides pre-reduce map-side (struct-max partial agg), the
    // full-outer merge shuffles on user_id — never a nested loop
    assert(p.contains("HashAggregate"), s"partial-agg compaction expected:\n$p")
    assert(p.contains("FullOuter"), s"full-outer key merge expected:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in CDC merge:\n$p")
  }

  test("q123: version and interval-end share one window sort") {
    val p = formatted(EventQueries.q123Scd2(spark, sf0001))
    // row_number + lead over the same (user_id, ts, id) spec must
    // collapse to a single Window operator (one exchange, one sort)
    val windows = p.linesIterator.count(_.contains("- Window ("))
    assert(windows === 1, s"expected ONE Window operator, got $windows:\n$p")
  }

  test("q126: encode joins the corpus to a BROADCAST vocabulary") {
    val p = formatted(TextStatsQueries.q126BpeEncode(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"vocab must broadcast against the exploded corpus:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"encode must not shuffle the corpus against a ~50k-row vocab:\n$p")
  }

  test("q269: piece-id join broadcasts; every join is an equi-join") {
    val p = formatted(graft.operators.UnigramQueries
      .q269UnigramEncode(spark, sf0001))
    // the vocab-id artifact join is the q126 broadcast contract; the
    // word-keyed corpus join and doc reassembly must never nest
    assert(p.contains("BroadcastHashJoin"),
      s"vocab ids must broadcast against the piece table:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q270: decode joins broadcast both vocab directions; nothing nests") {
    val p = formatted(graft.operators.UnigramQueries
      .q270UnigramDecode(spark, sf0001))
    // id→piece and word→decoded-word are vocabulary-sized broadcast
    // sides (the q167 decode contract); the corpus-side joins are
    // word- and doc_id-keyed equi-joins
    assert(p.contains("BroadcastHashJoin"),
      s"vocab tables must broadcast against the corpus:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q271: the served ranking rides the per-key heaps; nothing nests") {
    val df = Round15Queries.q271Bm25ParamsAuto(spark, sf0001)
    // the serve side must rank through TopKPerKeyExec exactly like
    // q244 (the sweep/choice ran inside the operator; the returned
    // plan is the serving path over the chosen slice)
    assert(df.queryExecution.optimizedPlan.collect {
      case t: graft.plans.TopKPerKey => t
    }.nonEmpty, "q271 must rank via TopKPerKeyExec")
    val p = formatted(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q268: the served banding join is equi-join only — no nested loops") {
    val p = formatted(DedupQueries.q268BandingAuto(spark, sf0001))
    // candidates come from the (band, bsig) bucket equi-join at the
    // CHOSEN configuration; verification joins are id/word-keyed
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q137: linkage verifies inside blocks — an equi-join, never cartesian") {
    val p = formatted(Round7Queries.q137FuzzyPartLinkage(spark, sf0001))
    assert(!p.contains("CartesianProduct"), s"blocked join required:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"blocked join required:\n$p")
  }

  test("q138: entropy scoring is explode-free — no Generate in the plan") {
    val p = formatted(Round7Queries.q138CharEntropy(spark, sf0001))
    assert(!p.contains("Generate"),
      s"per-doc histogram must be row-local, not a corpus×chars explode:\n$p")
    assert(p.contains("HashAggregate"))
    assert(p.contains("char_entropy_nano"), "native expression expected")
  }

  test("q138: char_entropy_nano compiles into generated code") {
    import org.apache.spark.sql.functions.col
    val proj = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(graft.functions.CharEntropyNanoFn(col("text")).as("e"))
    val codegen = proj.queryExecution
      .explainString(ExplainMode.fromString("codegen"))
    assert(codegen.contains("TextEntropy"),
      s"kernel call must appear in generated code:\n${codegen.take(2000)}")
  }

  test("q141: JL projection is map-only — no join with a sign table") {
    val p = formatted(Round7Queries.q141JlProjection(spark, sf0001))
    assert(!p.contains("Join"),
      s"the sign matrix must be a literal, not a joined table:\n$p")
  }

  test("q145/q146: search queries are map-only scans — no join, no agg") {
    for (df <- Seq(Round7Queries.q145ConjunctiveSearch(spark, sf0001),
                   Round7Queries.q146PhraseSearch(spark, sf0001))) {
      val p = formatted(df)
      assert(!p.contains("Join"), s"containment must be row-local:\n$p")
      assert(!p.contains("HashAggregate"),
        s"no posting-list aggregation expected:\n$p")
      assert(!p.contains("Generate"), s"no corpus explode expected:\n$p")
    }
  }

  test("q154: gram matrix is one aggregate — no join, one post-agg explode") {
    val p = formatted(Round8Queries.q154EmbeddingCovariance(spark, sf0001))
    assert(!p.contains("Join"),
      s"moments fold in ONE pass; the relational self-join is the oracle's plan:\n$p")
    // exactly one Generate: the 2080-cell explode AFTER aggregation
    assert(p.linesIterator.count(_.contains("- Generate (")) === 1,
      s"only the final cells explode:\n$p")
  }

  test("q155: argmax is a partial aggregate, not a window over pairs") {
    val p = formatted(Round8Queries.q155HardNegatives(spark, sf0001))
    assert(!p.contains("- Window ("), s"struct-max argmax expected:\n$p")
    assert(p.contains("int_dot") || p.contains("IntDotProduct"),
      s"codegen integer dot kernel expected:\n$p")
  }

  test("q157: shard rank is range-partitioned — no single-partition window") {
    val df = Round8Queries.q157ShardPlan(spark, sf0001)
    assert(unpartitionedWindows(df).isEmpty,
      "the global rank must ride globalRank's range partitioning")
    val p = formatted(df)
    // the in-partition row_number windows BY partition id, and the
    // P-row offset table broadcasts back — never a sort-merge join
    assert(p.linesIterator.count(_.contains("- Window (")) === 1, p)
    assert(p.contains("BroadcastHashJoin"), s"offset join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q159/q162: governance and sentence audits are agg-only — no join, no explode") {
    for (df <- Seq(Round8Queries.q159KAnonymity(spark, sf0001),
                   Round8Queries.q162SentenceStats(spark, sf0001))) {
      val p = formatted(df)
      assert(!p.contains("Join"), s"pure keyed aggregation expected:\n$p")
      assert(!p.contains("- Generate ("),
        s"row-local projections, no corpus explode:\n$p")
    }
  }

  test("q161: skew audit ranks the key-cardinality table, range-partitioned") {
    val df = Round8Queries.q161SkewAudit(spark, sf0001)
    assert(unpartitionedWindows(df).isEmpty,
      "the count-table rank must ride globalRank's range partitioning")
    val p = formatted(df)
    assert(p.linesIterator.count(_.contains("- Window (")) === 1,
      s"one rank window over the count table expected:\n$p")
    // the only join is the P-row offset broadcast
    assert(!p.contains("SortMergeJoin"), s"offset join must broadcast:\n$p")
  }

  test("q164: variant path is row-local codegen into one aggregate") {
    val p = formatted(Round8Queries.q164VariantExtract(spark, sf0001))
    assert(!p.contains("Join"), s"no join expected:\n$p")
    assert(!p.contains("- Generate ("), s"no explode expected:\n$p")
    assert(p.contains("variant_get"), s"variant extraction expected in plan:\n$p")
  }

  test("q158: frame sampling is map-only — no join, no aggregate") {
    val p = formatted(Round8Queries.q158VideoFrameSample(spark, sf0001))
    assert(!p.contains("Join"), s"frame grid must be row-local:\n$p")
    assert(!p.contains("HashAggregate"), s"no aggregation expected:\n$p")
  }

  test("q175: recursion runs through the engine's UnionLoop operator") {
    val p = formatted(Round9Queries.q175RecursiveDepth(spark, sf0001))
    assert(p.contains("UnionLoop"),
      s"WITH RECURSIVE must plan as UnionLoop, not a driver loop:\n$p")
    assert(p.contains("HashAggregate"), s"partial+final depth rollup:\n$p")
  }

  test("q177: cohort joins broadcast — no sort-merge join") {
    val p = formatted(Round9Queries.q177RetentionCohorts(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"matrix-side joins broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"cohort tables are metadata-sized — must broadcast:\n$p")
  }

  test("q178: Benford is one corpus aggregate — no join, no explode") {
    val p = formatted(Round9Queries.q178Benford(spark, sf0001))
    assert(!p.contains("Join"), s"digit profile is agg-only:\n$p")
    assert(!p.contains("- Generate ("), s"digit extraction is row-local:\n$p")
    assert(p.linesIterator.count(_.contains("- Window (")) === 1,
      s"one global share window over the 9-row table:\n$p")
  }

  test("q179: one sequence window + matrix normalization — no join") {
    val p = formatted(Round9Queries.q179TransitionMatrix(spark, sf0001))
    assert(!p.contains("Join"), s"transitions come from lead, not self-join:\n$p")
    assert(p.linesIterator.count(_.contains("- Window (")) === 2,
      s"lead window + row-normalization window only:\n$p")
  }

  test("q181: one bounded explode on the deduped table; day join broadcasts") {
    val p = formatted(Round9Queries.q181RollingDistinct(spark, sf0001))
    assert(p.linesIterator.count(_.contains("- Generate (")) === 1,
      s"exactly one coverage explode:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"day-restriction join broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge anywhere:\n$p")
  }

  test("q182: SQL UDFs inline — no UDF invocation survives into the plan") {
    val p = formatted(Round9Queries.q182SqlUdf(spark, sf0001))
    assert(!p.toLowerCase.contains("len_score") && !p.toLowerCase.contains("len_band"),
      s"SQL UDFs must inline at analysis time:\n$p")
    // the body inlines as a plain ln projection with ln(10) folded to
    // its double literal — constant folding reaches inside UDF bodies
    assert(p.contains("ln((1.0") && p.contains("2.302585092994046"),
      s"the inlined, constant-folded ln expression should appear:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"pure projection expected:\n$p")
  }

  test("q183: NOT IN plans as a single-key null-aware anti join") {
    val df = Round9Queries.q183NotInNullAware(spark, sf0001)
    df.collect() // materialize so AQE finalizes the join strategy
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti, BuildRight, true"),
      s"null-aware broadcast anti join expected:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the naive NAAJ fallback must not appear:\n$p")
  }

  test("q184: grouping sets are one Expand into one aggregate pass") {
    val p = formatted(Round9Queries.q184GroupingSets(spark, sf0001))
    assert(p.contains("Expand"), s"grouping sets plan via Expand:\n$p")
    assert(!p.contains("Union"), s"never a union of separate aggregates:\n$p")
    assert(!p.contains("Join"), s"no join expected:\n$p")
  }

  test("q185: bag set ops replicate via count+Generate, never a row join") {
    val p = formatted(Round9Queries.q185BagSetOps(spark, sf0001))
    assert(!p.contains("Join"), s"multiset algebra is aggregate-based:\n$p")
    assert(p.contains("- Generate ("),
      s"multiplicity replication via Generate expected:\n$p")
  }

  test("q186: scalar subqueries decorrelate into broadcast joins") {
    val p = formatted(Round9Queries.q186ScalarSubquery(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"decorrelated aggregate joins expected:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"never per-row re-execution:\n$p")
  }

  test("q187: decile rollup reuses the window's event_type partitioning") {
    val p = formatted(Round9Queries.q187NtileDeciles(spark, sf0001))
    val exchanges = p.linesIterator.count(_.contains("- Exchange ("))
    assert(exchanges === 2, s"window + final sort only, got $exchanges:\n$p")
  }

  test("q188: training order permutes via range partitioning, not one window task") {
    val df = Round9Queries.q188TrainingOrder(spark, sf0001)
    assert(unpartitionedWindows(df).isEmpty,
      "the permutation rank must ride globalRank's range partitioning")
    val p = formatted(df)
    assert(p.linesIterator.count(_.contains("- Window (")) === 1,
      s"one permutation window expected:\n$p")
    assert(!p.contains("SortMergeJoin"), s"offset join must broadcast:\n$p")
  }

  test("q189: null-safe diff is an equi-join, not a nested loop") {
    val p = formatted(Round9Queries.q189NullSafeDiff(spark, sf0001))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"keyed equi-join expected:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"null-safe predicate must not force a nested loop:\n$p")
  }

  test("q190: schema-aligned union is map-only until the final sort") {
    // the assertion pins the COMPUTATION's shuffle count; the adaptive
    // input spread (an intentional round-robin exchange on tiny
    // single-file inputs) is disabled for the count
    spark.conf.set("spark.graft.scan.adaptiveParallel", "false")
    val p = try formatted(Round9Queries.q190UnionByName(spark, sf0001))
      finally spark.conf.unset("spark.graft.scan.adaptiveParallel")
    assert(p.contains("Union"), s"one union expected:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"no join, no aggregate:\n$p")
    val exchanges = p.linesIterator.count(_.contains("- Exchange ("))
    assert(exchanges === 1, s"only the presentation sort shuffles:\n$p")
  }

  test("q191: all expectations fuse into one corpus scan") {
    val p = formatted(Round9Queries.q191Expectations(spark, sf0001))
    // count detail-section node headers "(n) Scan parquet" — the tree
    // section renders the same node a second time
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) === 1,
      s"one pass over events for every metric:\n$p")
    assert(!p.contains("Join"), s"no join expected:\n$p")
  }

  test("q192: cadence shares the standing user window; rollup co-partitions nothing extra") {
    val p = formatted(Round9Queries.q192CadenceHistogram(spark, sf0001))
    assert(p.linesIterator.count(_.contains("- Window (")) === 1,
      s"one lag window expected:\n$p")
    assert(!p.contains("Join"), s"no join expected:\n$p")
  }

  test("q193: rank<=k pushes down as partial+final WindowGroupLimit") {
    val p = formatted(Round9Queries.q193TopKWithTies(spark, sf0001))
    // Spark's rank-limit optimization: a WindowGroupLimit BEFORE the
    // window exchange truncates each partition to its local top-k
    // (ties kept), then a final one after — at most ~k rows per key
    // cross the shuffle, the built-in analog of TopKPerKeyExec
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"partial+final rank-limit pushdown expected:\n$p")
    assert(p.contains("HashAggregate"),
      s"rank must run over the counts table, built from one agg:\n$p")
  }

  test("q194: keyword extraction pushes rank<=3 down as WindowGroupLimit") {
    val p = formatted(DocQueries.q194DocKeywords(spark, sf0001))
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"partial+final top-3 pushdown expected:\n$p")
  }

  test("q195: correlation is one pass — single scan, single group-by exchange") {
    val p = formatted(Round9Queries.q195Correlation(spark, sf0001))
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) === 1,
      s"one lineitem pass for all six moments:\n$p")
    assert(!p.contains("Join"), s"no join expected:\n$p")
  }

  test("q196: bitmap distinct builds per-group bitmaps once; both readouts reuse them") {
    val p = formatted(Round10Queries.q196BitmapDistinct(spark, sf0001))
    // the construct_agg pass is the only corpus-sized work; daily and
    // rollup readouts aggregate bitmap rows, never raw events — and no
    // expensive count(DISTINCT) expansion appears anywhere
    assert(p.contains("bitmap_construct_agg") || p.contains("bitmap_count"),
      s"bitmap aggregate family expected in the plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"keyed joins only:\n$p")
  }

  test("q197: PIT join is a keyed join with a residual range, not a nested loop") {
    val p = formatted(Round10Queries.q197PitJoin(spark, sf0001))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"equi-join on user_id expected:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"interval predicate must ride the user_id equi-join as a residual:\n$p")
  }

  test("q198: attribution pays one user window; conversion-time join is keyed") {
    val p = formatted(Round10Queries.q198Attribution(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin"), s"keyed join only:\n$p")
    // row_number and the per-user count share the same user_id
    // partitioning: at most two Window nodes, one exchange family
    assert(p.linesIterator.count(_.contains("- Window (")) <= 2,
      s"windows must share the user_id partitioning:\n$p")
  }

  test("q199: streaks run entirely on the distinct (user, day) table") {
    val p = formatted(Round10Queries.q199Streaks(spark, sf0001))
    assert(!p.contains("Join"), s"islands need no join:\n$p")
    assert(p.linesIterator.count(_.contains("- Window (")) === 1,
      s"one row_number window expected:\n$p")
    // dedup, window, two aggregates — all user-keyed; the corpus-sized
    // work is the initial distinct only
    assert(p.contains("HashAggregate"), p)
  }

  test("q200: A/B readout is one corpus scan into per-user then 1-row rollups") {
    val p = formatted(Round10Queries.q200AbTest(spark, sf0001))
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) === 1,
      s"one events pass expected:\n$p")
    assert(!p.contains("Join"), s"conditional aggregation, no join:\n$p")
  }

  test("q201: ordered-set percentiles are one scan, no join") {
    val p = formatted(Round10Queries.q201PercentileWithin(spark, sf0001))
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) === 1,
      s"one lineitem pass for all five statistics:\n$p")
    assert(!p.contains("Join"), s"no join expected:\n$p")
  }

  test("q202: interval union rides one user-keyed window family — 2 exchanges") {
    val p = formatted(Round10Queries.q202IntervalUnion(spark, sf0001))
    assert(!p.contains("Join"), s"no join expected:\n$p")
    val exchanges = p.linesIterator.count(_.contains("- Exchange ("))
    assert(exchanges === 2,
      s"window exchange + presentation sort only, got $exchanges:\n$p")
  }

  test("q203: sweep-line concurrency shares the event_type keying end to end") {
    val p = formatted(Round10Queries.q203PeakConcurrency(spark, sf0001))
    assert(!p.contains("Join"), s"no join expected:\n$p")
    assert(p.contains("Union"), s"boundary union expected:\n$p")
    val exchanges = p.linesIterator.count(_.contains("- Exchange ("))
    assert(exchanges === 2,
      s"window exchange + presentation sort only, got $exchanges:\n$p")
  }

  test("q204: basket pairs co-partition on orderkey; only the 1-row scalar nests") {
    val p = formatted(Round10Queries.q204BasketLift(spark, sf0001))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"keyed self-join expected:\n$p")
    // the basket-count scalar is a deliberate 1-row broadcast; nothing
    // else may fall back to a nested loop (count tree lines — the
    // details section repeats each node header)
    assert(p.linesIterator.count(_.contains("- BroadcastNestedLoopJoin")) <= 1,
      s"only the n_orders scalar may nest:\n$p")
  }

  test("q205: CUSUM is windows, not recursion — no iterative shape, one scalar nest") {
    val p = formatted(Round10Queries.q205CusumDrift(spark, sf0001))
    assert(p.linesIterator.count(_.contains("- Window (")) >= 1, p)
    assert(!p.contains("SortMergeJoin"),
      s"only the 1-row k scalar joins:\n$p")
    assert(p.linesIterator.count(_.contains("- BroadcastNestedLoopJoin")) <= 1,
      s"only the k scalar may nest:\n$p")
  }

  test("q146: phrase search is a map-only codegen scan, no HOF and no exchange before the sort") {
    spark.conf.set("spark.graft.scan.adaptiveParallel", "false")
    val df = try Round7Queries.q146PhraseSearch(spark, sf0001)
      finally spark.conf.unset("spark.graft.scan.adaptiveParallel")
    val p = formatted(df)
    // the native expression replaced the interpreted lambda scan
    assert(p.contains("phrase_count"), s"native phrase_count expected:\n$p")
    assert(!p.contains("lambdafunction"),
      s"no interpreted higher-order function in the hot path:\n$p")
    // map-only: the only exchange is the final presentation sort's
    assert(p.linesIterator.count(_.contains("- Exchange (")) <= 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q153: gram count rides the rolling hash — no string key in the corpus-scale exchange") {
    val p = formatted(Round8Queries.q153ExactSubstrSpans(spark, sf0001))
    // the count stage keys on the codegen rolling hash (8-byte longs);
    // strings appear only in the candidate verify after the broadcast
    // prune
    assert(p.contains("rolling_hashes"), s"rolling-hash gram keys expected:\n$p")
    assert(p.contains("BroadcastHashJoin"), "dup-hash set must broadcast-prune")
    assert(!p.contains("lambdafunction"),
      s"hash extraction must be the codegen expression, not a HOF lambda:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q155: blocked hard negatives — candidate join is equi, only the centroid cross nests") {
    val p = formatted(Round8Queries.q155HardNegatives(spark, sf0001))
    // the all-pairs theta join is gone: candidates come from an
    // equi-join on the probed cluster key; the only nested loop is the
    // DELIBERATE |labels|-row centroid broadcast cross (the q49 shape)
    assert(p.linesIterator.count(_.contains("- BroadcastNestedLoopJoin")) <= 1,
      s"only the centroid cross may nest:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), s"keyed candidate join expected:\n$p")
  }

  test("q206: fact scan is dynamically pruned by the filtered dimension") {
    val p = formatted(Round11Queries.q206DynamicPruning(spark, sf0001))
    // the partition predicate on event_type exists only at runtime
    // (derived from the dim filter on category) — the fact scan must
    // carry a dynamicpruningexpression in its PartitionFilters, and the
    // dim side must broadcast (DPP reuses that exchange)
    assert(p.contains("PartitionFilters") && p.contains("dynamicpruning"),
      s"expected DPP on the event_type partition column:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q211: prefix-filter join is all equi-joins — no cartesian pair generation") {
    val p = formatted(Round12Queries.q211SetSimJoin(spark, sf0001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the prefix equi-join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q212: dictionary scan is the codegen automaton — one pass, no per-pattern scans") {
    val p = formatted(Round12Queries.q212DictionaryMatch(spark, sf0001))
    assert(p.contains("ac_counts"), s"native automaton expression expected:\n$p")
    // one documents scan total: the |dict| patterns never multiply the corpus
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) === 1,
      s"one corpus pass for all patterns:\n$p")
    assert(!p.contains("lambdafunction"), p)
  }

  test("q213: heavy hitters — bounded MG summary feeds a broadcast semi-join") {
    val p = formatted(Round12Queries.q213HeavyHitters(spark, sf0001))
    assert(p.contains("MapPartitions"),
      s"per-partition bounded summary expected:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate set must broadcast into the exact count pass:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q214: HRW argmax is a partial aggregate, not a window over key x shard") {
    val p = formatted(Round12Queries.q214RendezvousShards(spark, sf0001))
    assert(!p.contains("Window"),
      s"per-key argmax must be the struct-max partial aggregate:\n$p")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q215: skyline is two windows over the pre-aggregated point table — no join") {
    val p = formatted(Round12Queries.q215Skyline(spark, sf0001))
    assert(!p.contains("Join"), s"no dominance join:\n$p")
    assert(p.linesIterator.count(_.contains("- Window (")) >= 1, p)
    // the corpus collapses in the first aggregate; windows ride the
    // value-domain point table
    assert(p.contains("HashAggregate"), p)
  }

  test("q216: phrase retrieval is a postings equi-join with the word filter in the scan stage") {
    val p = formatted(Round12Queries.q216PositionalIndex(spark, sf0001))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"postings intersect via an equi-join on (doc, pos):\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q217: nearest-event is one window family — no purchases x clicks join") {
    val p = formatted(Round12Queries.q217NearestEvent(spark, sf0001))
    assert(!p.contains("Join"), s"the timeline union replaces the join:\n$p")
    assert(p.linesIterator.count(_.contains("- Window (")) >= 1, p)
  }

  test("q218: grouped OLS is two aggregates — daily pre-agg then flag moments, no join") {
    val p = formatted(Round12Queries.q218GroupedTrend(spark, sf0001))
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q219: bitemporal as-of — scalar span broadcast, one user window, no corpus nested loop") {
    val p = formatted(Round13Queries.q219BitemporalAsOf(spark, sf0001))
    // the only nested loop is the deliberate 1-row span broadcast
    assert(p.linesIterator.count(_.contains("- BroadcastNestedLoopJoin")) <= 1,
      s"only the span scalar may nest:\n$p")
    assert(p.linesIterator.count(_.contains("- Window (")) >= 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q220: column diff is one co-partitioned full-outer join + one aggregate") {
    val p = formatted(Round13Queries.q220ColumnDiff(spark, sf0001))
    assert(p.contains("FullOuter"), s"full-outer key join expected:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q221: seasonal decomposition broadcasts the 3-row trend table") {
    val p = formatted(Round13Queries.q221SeasonalDecomposition(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"the q218 trend table must broadcast back:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q255: DSIR — ratio table broadcasts; only the 1-row totals scalar nests") {
    val p = formatted(Round16Queries.q255DsirWeights(spark, sf0001))
    // the B-row bucket→ratio metadata joins the profile as a broadcast
    // hash join; the single nested-loop is the 1-row totals cross (the
    // q221 scalar convention); no window anywhere
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
    // tree-form count (`- Node (id)`) — the detail section repeats
    // node names, the q153 counting lesson
    assert(p.split("- BroadcastNestedLoopJoin ").length - 1 <= 1, p)
  }

  test("q257: passage dedup — keyed equi-joins only, no window, no nested loop") {
    val p = formatted(Round16Queries.q257PassageDedup(spark, sf0001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q222: sequence match rides the user window partitioning — no join, session-bounded strings") {
    val p = formatted(Round13Queries.q222SequenceMatch(spark, sf0001))
    assert(!p.contains("Join"), s"sessionize + listagg + regex, no join:\n$p")
    assert(p.linesIterator.count(_.contains("- Window (")) >= 1, p)
  }

  test("q223: SSSP rounds are keyed joins + min aggregates — no nested loop, lineage truncated") {
    val df = GraphQueries.q223Sssp(spark, sf0001)
    val p = formatted(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the final round's plan reads the previous round from a
    // checkpoint scan, never replaying rounds 1..r-1 (the q44 lineage
    // rule): at most ONE synth-edge generation appears in the plan
    assert(p.linesIterator.count(_.contains("Scan ExistingRDD")) >= 1,
      s"checkpointed prior round expected:\n$p")
  }

  test("round-5 kernels are callable from plain SQL through the extension") {
    import org.apache.spark.sql.{Row, SparkSession}
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      val rows = ext.sql(
        """SELECT phrase_count('key order key order', 'key', 'order') AS pc,
          |       size(rolling_hashes('abcdef', 3)) AS nh,
          |       ac_counts('the data', 'he', 'data') AS ac""".stripMargin)
        .collect()
      assert(rows.head === Row(2L, 4, Seq(1L, 1L)))
      // resolution-time boundary errors: wrong arity and NULL kernel
      // parameters fail with clear messages, not eval-time NPE/IOOBE
      val badArity = intercept[Exception] {
        ext.sql("SELECT phrase_count('x', 'y')").collect()
      }
      assert(badArity.getMessage.contains("expects"), badArity.getMessage)
      val nullParam = intercept[Exception] {
        ext.sql("SELECT phrase_count('x', NULL, 'y')").collect()
      }
      assert(nullParam.getMessage.contains("must not be NULL"), nullParam.getMessage)
      val noPatterns = intercept[Exception] {
        ext.sql("SELECT ac_counts('x')").collect()
      }
      assert(noPatterns.getMessage.contains("expects at least"), noPatterns.getMessage)
      // typed literals: a mistyped kernel parameter raises the same
      // boundary-error style, never a raw ClassCastException
      val badInt = intercept[Exception] {
        ext.sql("SELECT rolling_hashes('abcdef', '3')").collect()
      }
      assert(badInt.getMessage.contains("INTEGER literal"), badInt.getMessage)
      val badStr = intercept[Exception] {
        ext.sql("SELECT phrase_count('x', 1, 'y')").collect()
      }
      assert(badStr.getMessage.contains("STRING literal"), badStr.getMessage)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("q224: containment join — prefix-postings equi-joins only, nothing nests") {
    val p = formatted(Round13Queries.q224ContainmentJoin(spark, sf0001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidates come from the prefix-vs-postings equi-join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("registry lock: queries and oracles are in exact 1:1 correspondence (zero WEAK by construction)") {
    // the gate's strength is that EVERY query is DuckDB-replayed; a
    // queries entry without an oracle silently downgrades to the
    // driver's rows-only check, and a dangling oracle is dead SQL.
    // Round 10 closed the registry at full oracle coverage — this
    // keeps it closed.
    val q = graft.SparkEntry.queries.keySet
    val o = graft.SparkEntry.oracleSqlFor(sf0001).keySet
    assert((q -- o).isEmpty,
      s"gated queries without a DuckDB oracle: ${(q -- o).toSeq.sorted.mkString(", ")}")
    assert((o -- q).isEmpty,
      s"oracles without a gated query: ${(o -- q).toSeq.sorted.mkString(", ")}")
  }

  test("registry lock: no gated plan ranks through an unpartitioned corpus-scale window") {
    // Every Window with an empty partitionSpec executes as ONE WindowExec
    // task. The only acceptable uses ride provably bounded inputs (post-
    // aggregation tables whose cardinality is a vocabulary, bucket grid,
    // or constant — never the corpus). Everything else must use
    // RelationalOps.globalRank. New offenders fail here by name.
    val bounded: Map[String, String] = Map(
      // justification = the bounded, post-aggregation table the window rides
      "q126_bpe_encode" -> "BPE vocab id assignment: |vocab| rows (merges+alphabet, capped)",
      "q167_bpe_decode" -> "BPE vocab id assignment: |vocab| rows (merges+alphabet, capped)",
      "q97_vocab_growth" -> "cumulative sum over the 8-row batch-bucket table",
      "q98_zipf_slope" -> "log-log rank over the word-frequency table: |vocab| rows",
      "q165_budget_apportion" -> "largest-remainder rank over the |sources| (20-row) table",
      "q178_benford" -> "digit-share window over the 9-row first-digit table",
      "q229_roc_auc" -> "rank-sum cumsum over the score-GROUP table: ≤1e6 rows by micro-unit quantization (the quantization IS the bound)",
      "q239_threshold_select" -> "threshold sweep cumsum over the same quantization-bounded score-GROUP table as q229",
      "q241_ranking_eval" -> "position stamps over the LIMIT-10 BM25 result and the LIMIT-10 ideal — both k-bounded",
      "q244_multi_bm25" -> "query synthesis ranks over the LIMIT-300 term table and the LIMIT-150 pair table (TakeOrderedAndProject feeds both); scoring/ranking is per-key heaps",
      "q256_rrf_fusion" -> "leg re-rank + fused rank ride the two k-row leg results (LIMIT-10 BM25, top-10 ANN heap) — the fusion is k-bounded metadata work by design; corpus cost lives in the audited legs",
      "q266_unigram_vocab" -> "unigram vocab ranking over the model's used-piece table: |vocab| rows (⊆ the MaxSeedPieces-capped seed support — the cap exists exactly to keep this table vocabulary-sized; the corpus is touched only by the word-count pass, localCheckpointed away)",
      "q269_unigram_encode" -> "unigram id assignment over the model's used-piece table — the q126/q266 class: |vocab| rows under the MaxSeedPieces cap; corpus rows never enter a window (doc reassembly is a doc_id-keyed aggregate)",
      "q270_unigram_decode" -> "the q269 id assignment plus its REVERSE (id → piece) — both windows ride the model's used-piece table (|vocab| rows under the MaxSeedPieces cap); the corpus only crosses the word-keyed broadcast join and the doc_id-keyed reassembly, the q167 decode shape",
      "q271_bm25_params_auto" -> "the q244 query-synthesis windows (LIMIT-300 term table, LIMIT-150 pair table — TakeOrderedAndProject feeds both); sweep DCG, ideal IDCG, and the served ranking are all per-key heaps + key-partitioned ≤k windows, never an unpartitioned rank over the grid-scored stream",
      "q275_vocab_size_auto" -> "the prune ladder's multi-piece quota rank rides the trained piece-count table — |seed support| rows under the MaxSeedPieces cap (the q266 class); the corpus is touched only by the word-count pass, localCheckpointed away, and the fertility sweep collects one scalar pair per swept size before the served plan exists",
      "q279_vocab_choice_encode" -> "the piece-id rank rides the persisted vocabulary's score table — ≤ the chosen vocab size (≤64) rows read from the choices/unigram-vocab artifact, the q126/q269 id-assignment class; corpus rows never enter a window (the encode is the q269 shape: word-keyed join + doc-keyed reassembly)",
      "q281_bm25_index_serve" -> "the q244 query-synthesis windows rerun over the ARTIFACT's vocabulary-sized df table (LIMIT-300 term table, LIMIT-150 pair table — TakeOrderedAndProject feeds both); scoring rides partition-pruned postings buckets and ranks via per-key heaps, never an unpartitioned window over the scored stream",
      "q282_postings_append_cycle" -> "the q281 class verbatim: query synthesis over the appended ARTIFACT's vocabulary-sized df table; the cycle's build/append verbs run eagerly before the served plan exists",
      "q283_bm25_delete_serve" -> "the q281 class over the MASKED vocabulary-sized df table (stored df minus per-term dead counts — still |vocab| rows); scoring rides the pruned+masked postings slices and per-key heaps",
      "q284_postings_maintenance_cycle" -> "the q282/q283 class: synthesis windows over a vocabulary-sized df table (masked on SKIP, rebuilt on FIRE); lifecycle verbs run eagerly before the served plan exists",
      "q290_asof_serve" -> "the q244 synthesis windows over the AS-OF state's vocabulary-sized df table (LIMIT-300/LIMIT-150, TakeOrderedAndProject-fed); the snapshot chronology writes run eagerly before the served plan exists",
      "q300_retained_maintenance_cycle" -> "the q284 class through the retention-composed cycle: synthesis windows over a vocabulary-sized df table (rebuilt on the deterministic FIRE); the snapshot/compaction/policy/expiry verbs run eagerly before the served plan exists",
      "q310_age_retained_cycle" -> "q300's exact serve class with the AGE policy underneath (the rule swap evaluates per-snapshot stamps; every data-plane verb identical)",
      "q301_bucket_dial_auto" -> "the q281 class over the AUTO-bucketed artifact's vocabulary-sized df table; the counted auto-builds (tokenize + distinct-count + choice) run eagerly before the served plan exists",
      "q302_sql_masked_serve" -> "the q283 class reached through the graft_bm25_masked TVF (synthesis windows over the masked vocabulary-sized df table, resolved at analysis); the plan IS the DataFrame verb's plan by construction",
      "q304_maskeddf_alternation" -> "the q283 class over the alternation cycle's own lake replica: synthesis windows over A's tombstone-stamp-keyed masked-df state (vocabulary-sized); the cold build + four counted ensures run eagerly before the served plan exists")
    assertRegistered(bounded)
    val offenders = gatedPlanAudits.flatMap { case (name, audit) =>
      if (planned(name, audit).unpartitionedWindow) Some(name) else None
    }
    val unexpected = offenders.filterNot(bounded.contains)
    assert(unexpected.isEmpty,
      s"unpartitioned Window in gated plans (single-task rank at scale): " +
        s"${unexpected.mkString(", ")} — use RelationalOps.globalRank or " +
        "justify a bounded input in the allowlist")
  }

  test("q281: postings scan is partition-pruned to the query terms' buckets; ranks via per-key heaps") {
    Round15Queries.prepareBm25ParamsChoice(spark, sf0001)
    Round15Queries.prepareBm25Index(spark, sf0001)
    val df = Round15Queries.q281Bm25IndexServe(spark, sf0001)
    val p = formatted(df)
    // the postings read must carry a real PartitionFilter on the
    // term-hash bucket column — the serve reads SLICES of the index,
    // never the whole postings table (the IVF inverted-list lock
    // applied to text retrieval)
    val pf = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("pt"),
      s"postings scan must be partition-pruned on pt:\n$pf")
    // ranking is the bounded-heap operator, as in q244/q273
    assert(df.queryExecution.optimizedPlan.collect {
      case t: graft.plans.TopKPerKey => t
    }.nonEmpty, "q281 must rank via TopKPerKeyExec")
    // the query side broadcasts; the ONLY nested-loop shape is the
    // 1-row stats denormalization (crossJoin(broadcast(stats)) — the
    // same shape q244/q273 carry); no cartesian anywhere
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // tree-form lines only — the detail section repeats node names
    val bnlj = p.linesIterator.count(_.contains("- BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row stats cross join may nest:\n$p")
  }

  test("q283: the masked serve keeps the q281 locks — pruned postings, per-key heaps, no cartesian") {
    Round15Queries.ensureBm25IndexIncremental(spark, sf0001)
    val df = Round15Queries.q283Bm25DeleteServe(spark, sf0001)
    val p = formatted(df)
    // the tombstone mask must not defeat the bucket pruning: the
    // SERVING postings scan still carries the pt PartitionFilter (the
    // masked-df pass reads all buckets by design — that is its
    // documented vocabulary-df bill, not the serve's)
    val pf = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("pt"),
      s"masked postings serve must stay partition-pruned on pt:\n$pf")
    assert(df.queryExecution.optimizedPlan.collect {
      case t: graft.plans.TopKPerKey => t
    }.nonEmpty, "q283 must rank via TopKPerKeyExec")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.count(_.contains("- BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row stats cross join may nest:\n$p")
  }

  test("q244: multi-query BM25 ranks via per-key heaps; query side broadcast; no pair sort") {
    val df = Round15Queries.q244MultiBm25(spark, sf0001)
    // per-query top-k must be the bounded-heap operator — the scored
    // (query, doc) stream is never globally sorted or window-ranked
    // at full width
    assert(df.queryExecution.optimizedPlan.collect {
      case t: graft.plans.TopKPerKey => t
    }.nonEmpty, "q244 must rank via TopKPerKeyExec")
    val p = formatted(df)
    // the query table and its df slice broadcast; the corpus-side
    // joins stay hash joins (the only non-equi join in the whole plan
    // is the constant-bounded ≤300×300 term-pair synthesis)
    assert(p.contains("BroadcastHashJoin"), p)
    // the streaming twin shares the tail by construction: bm25Rank
    // (which runningBm25 consumes) routes through the same
    // bm25ScoreKeyed core q244 scores with — pinned here so a refactor
    // that forks the formula fails a test, not a reviewer
    val single = graft.operators.Round14Queries.bm25Rank(
      spark.range(0).selectExpr("id as doc_id", "'x' as term", "1L as tf"),
      spark.range(0).selectExpr("id as doc_id", "1L as dl"),
      spark.range(0).selectExpr("'x' as term", "1L as df"),
      spark.range(1).selectExpr("1L as n_docs", "1.0 as avgdl"),
      1)
    assert(single.columns.toSeq === Seq("doc_id", "bm25", "n_terms_hit"))
  }

  test("registry lock: every explicit broadcast hint rides a bounded side or a capacity gate") {
    // An unconditional broadcast() of a frame that grows with the
    // corpus is a driver OOM deferred to scale. This walks every gated
    // query's OPTIMIZED plan, finds the sides carrying an explicit
    // BROADCAST join hint, and requires each to be bounded BY SHAPE —
    // an aggregate, a limit, a semi/anti join off a bounded left, a
    // local relation, or a scan of a constant/dimension table — or to
    // appear in the allowlist below with a justification (|Q|-bounded
    // query subsets and capacity-gated broadcasts land there).
    val justified: Map[String, String] = Map(
      // justification = why the hinted side is in fact bounded (or gated)
      "q21_knn_bruteforce" -> "query-side broadcast: the vec_id % 50 subset IS the query workload (|Q| = corpus/50 at the gate); a production query table is a broadcast-sized input",
      "q89_quantized_topk" -> "same |Q|-bounded query-side broadcast as q21 (quantized form)",
      "q99_ann_recall" -> "same |Q|-bounded query-side broadcast as q21 (recall audit reuses it)",
      "q247_filtered_ann" -> "same |Q|-bounded query-side broadcast as q21; the label block key rides IN the broadcast join",
      "q287_hard_negative_mining" -> "same |Q|-bounded query-side broadcast as q21 (the exact audit-form candidate generator; the role/exclusion tail is row-local)",
      "q43_ivf_topk" -> "probe side is |Q|·nprobe rows (window-filtered pr <= nprobe over the query subset — k-bounded per query, invisible to the shape rule)",
      "q245_ivfpq_topk" -> "probe side is |Q|·nprobe rows joined to the |Q|-row LUT aggregate — same k-bounded window filter as q43",
      "q249_ivfpq_rerank" -> "inherits q245's probe (|Q|·nprobe rows + |Q|-row LUT); the exact re-rank joins only the k·|Q|-row ADC shortlist back to the base vectors",
      "q251_ivfpq_append" -> "the standard q245 probe shape over the appended index (|Q|·nprobe probe rows + |Q|-row LUT); the append itself is a write, not part of the probed plan",
      "q254_ivfpq_delete" -> "q251's probe shapes plus the tombstone side, which is capacity-gated via BoundedBroadcast (graft.ann.maxTombstones, shuffled anti-join fallback); the localCheckpoint hides the gate from the shape rule",
      "q258_ivfpq_compact" -> "the standard q245 probe shape over the compacted index (|Q|·nprobe probe rows + |Q|-row LUT); compaction itself is an offline write, not part of the probed plan",
      "q256_rrf_fusion" -> "inherits the q21 ANN leg's 1-row query-vector broadcast (vec_id = 0 — the single-query workload by contract); the BM25 leg's broadcasts are the audited q226 shapes",
      "q24_embedding_near_dups" -> "documented exact all-pairs contract (Ann.nearDupPairs scaladoc: broadcastable side only; the 100 TB path is the LSH bucket route) — the quadratic-output demo class, bench-excluded",
      "q260_label_noise_audit" -> "every vector is a query by the audit's contract, so the broadcast side IS the corpus (documented exact all-pairs baseline; the lake-scale path swaps candidates to the IVF-PQ probe/centroid blocking with the voting tail unchanged — q238's swap story)",
      "q119_robust_stats" -> "med/mad sides are rank-selected ONE row per event_type (rk = (n+1) div 2 filter — type-cardinality-bounded, invisible to the shape rule)",
      "q153_exact_substr_spans" -> "capacity-gated via BoundedBroadcast.boundedBroadcast (count <= graft.substr.maxBroadcastDupHashes, shuffled fallback); the localCheckpoint hides the aggregate from the shape rule",
      "q244_multi_bm25" -> "query table is the LIMIT-150 pair synthesis, localCheckpointed (the checkpoint hides the limit from the shape rule)",
      "q253_sql_multi_bm25" -> "same query table as q244, reaching the plan as a registered temp view of the localCheckpointed synthesis — |Q|-bounded by the q244 contract (a production query workload is a broadcast-sized input relation)",
      "q263_nprobe_auto" -> "serves q245's probe shape at the engine-chosen dial (|Q|·nprobe probe rows + |Q|-row LUT, the same k-bounded window filter); the tuning sweep and exact side run inside the operator before the served plan exists",
      "q272_nprobe_choice_persist" -> "q263's served probe shape at the PERSISTED dial (|Q|·nprobe probe rows + |Q|-row LUT); on a warm choice no tuning job exists at all — the plan is the probe plus literal stamp columns read from the choices/ artifact (AnnSpec's zero-tuning law)",
      "q265_compaction_policy" -> "tombstone side capacity-gated via BoundedBroadcast (graft.ann.maxTombstones, shuffled left-outer fallback); the localCheckpoint hides the gate from the shape rule — the q254 pattern",
      "q269_unigram_encode" -> "broadcast side is the vocab-id table over the model's used pieces (MaxSeedPieces-capped — the q126 broadcast-vocab contract); the model's localCheckpoint hides the aggregate from the shape rule",
      "q270_unigram_decode" -> "broadcast sides are the reversed vocab-id table and the decoded-word artifact — both over the model's used pieces / trained words (MaxSeedPieces- and vocabulary-capped, the q269/q167 contract); the model's localCheckpoint hides the aggregates from the shape rule",
      "q271_bm25_params_auto" -> "same LIMIT-150 query-table broadcast as q244 inside the component build (usually hidden behind the component checkpoint); the grid is a literal array (no join at all), the sweep collects 12 rows, and the served plan re-ranks the chosen slice of the fold over the checkpointed components",
      "q275_vocab_size_auto" -> "broadcast sides are the chosen pruned vocabulary's renormalized score table and its 1-row total (both ⊆ the MaxSeedPieces-capped seed support — the q269 broadcast-vocab contract); the fertility sweep reduces each ladder point to one scalar pair before the served plan exists",
      "q276_lifecycle_cycle" -> "serves q263's probe shape at the measured dial over the REFRESHED generation (|Q|·nprobe probe rows + |Q|-row LUT, the same k-bounded window filter); the lifecycle verbs — audit, retrain/compact, re-audit, tuning sweep — run inside the operator before the served plan exists, and every tombstone side is capacity-gated via BoundedBroadcast (the q254/q265 pattern)",
      "q281_bm25_index_serve" -> "the two hinted sides are the LIMIT-150 query-table synthesis (the q244 contract, rebuilt over the artifact's vocabulary-sized df table) and its distinct-terms projection (≤ |Q|·2 rows) — both localCheckpointed, which hides the limits from the shape rule; the df/dl/stats sides are artifact scans the path rule already accepts, and the postings side is never broadcast (it is the partition-pruned probe side)",
      "q282_postings_append_cycle" -> "the q281 serve shapes verbatim over the appended artifact (LIMIT-150 query synthesis + its ≤|Q|·2 distinct-terms projection, both localCheckpointed); the build/append verbs are writes that run before the served plan exists",
      "q283_bm25_delete_serve" -> "the q281 serve shapes plus the tombstone side, which is capacity-gated via BoundedBroadcast (graft.bm25.maxTombstones, shuffled anti-join fallback — the q254 pattern); the localCheckpoint hides the gate from the shape rule",
      "q284_postings_maintenance_cycle" -> "the q282/q283 serve shapes (branch-dependent: plain on FIRE, tombstone-masked on SKIP — the tombstone side capacity-gated via BoundedBroadcast); lifecycle verbs are writes that run before the served plan exists",
      "q290_asof_serve" -> "the q244 recompute serve shapes over the snapshot read (LIMIT-150 query synthesis + its distinct-terms projection, both localCheckpointed — the q244/q281 contract); the as-of scan is a file-pruned parquet read the path rule already accepts",
      "q292_maskeddf_artifact_cycle" -> "the q283 serve shapes verbatim over the cycle's own lake replica (LIMIT-150 query synthesis from the persisted masked-df table + its ≤|Q|·2 distinct-terms projection, both localCheckpointed; tombstone side capacity-gated via BoundedBroadcast — graft.bm25.maxTombstones, shuffled anti-join fallback); the build/ensure verbs are writes that run before the served plan exists",
      "q294_snapshot_cursor_catchup" -> "the q281/q282 serve shapes verbatim over the caught-up index (LIMIT-150 query synthesis from the artifact's df table + its ≤|Q|·2 distinct-terms projection, both localCheckpointed); the snapshot records and cursor-fed appends are writes that run before the served plan exists",
      "q297_ivfpq_cursor_catchup" -> "the standard q245 probe shapes over the caught-up index (|Q|·nprobe probe rows + |Q|-row LUT — the same k-bounded window filter); the snapshot records, cold k-means build, and cursor-fed appends are writes that run before the probed plan exists",
      "q300_retained_maintenance_cycle" -> "the q282/q283 serve shapes through the retention-composed cycle (the deterministic 1/8-threshold FIRE serves the plain q282 shape over the rebuilt index; the tombstone side inside the cycle rides BoundedBroadcast); snapshot records, retained compaction, policy, and expiry are metadata verbs that run before the served plan exists",
      "q310_age_retained_cycle" -> "q300's exact serve class with the AGE policy underneath (the rule swap evaluates per-snapshot stamps; every data-plane verb identical)",
      "q301_bucket_dial_auto" -> "the q281 serve shapes verbatim over the auto-bucketed index (LIMIT-150 query synthesis from the artifact's df table + its <=|Q|*2 distinct-terms projection, both localCheckpointed); the auto-build (tokenize + distinct vocab count + ladder choice) is a write that runs before the served plan exists",
      "q302_sql_masked_serve" -> "the q283 serve shapes verbatim, reached through the graft_bm25_masked TVF (analysis returns the DataFrame verb's own analyzed plan — LIMIT-150 query synthesis from the validated masked-df read + its <=|Q|*2 distinct-terms projection, both localCheckpointed; tombstone side capacity-gated via BoundedBroadcast)",
      "q304_maskeddf_alternation" -> "the q283 serve shapes verbatim over the alternation cycle's own lake replica (LIMIT-150 query synthesis from A's tombstone-stamp-keyed masked-df state + its <=|Q|*2 distinct-terms projection, both localCheckpointed; tombstone side capacity-gated via BoundedBroadcast); the cold index build and the four counted ensures are writes that run before the served plan exists")
    assertRegistered(justified)
    val offenders = gatedPlanAudits.flatMap { case (name, audit) =>
      if (planned(name, audit).unboundedBroadcast) Some(name) else None
    }
    val unexpected = offenders.filterNot(justified.contains)
    assert(unexpected.isEmpty,
      s"unbounded explicit broadcast in gated plans (driver OOM at scale): " +
        s"${unexpected.mkString(", ")} — bound the side, route through " +
        "BoundedBroadcast.boundedBroadcast, or justify it in the allowlist")
  }

  test("q226: df/stats broadcast; ranking is a top-k heap, not a global sort") {
    val p = formatted(Round14Queries.q226Bm25(spark, sf0001))
    // the |Q|-row df table and the 1-row stats must broadcast; ranking
    // must be TakeOrderedAndProject (per-partition heaps), never a
    // full Sort of the scored corpus
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q227: pair-keyed equi-joins only — no nested-loop anywhere") {
    val p = formatted(Round14Queries.q227Rouge2(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q231: banded-Hamming join is an equi-join on (band, key)") {
    val p = formatted(Round14Queries.q231ImageDhashDedup(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exact verify runs on candidates via the codegen'd bit_count
    assert(p.contains("bit_count"), p)
  }

  test("q180: per-user rollup reuses the window's user_id partitioning") {
    val p = formatted(Round9Queries.q180Twap(spark, sf0001))
    // exactly two shuffles: the user_id window exchange and the final
    // presentation sort — the groupBy(user_id) between them must NOT
    // add one (it is co-partitioned with the window)
    val exchanges = p.linesIterator.count(_.contains("- Exchange ("))
    assert(exchanges === 2, s"window + final sort only, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"TWAP is window + rollup, no join:\n$p")
  }

  test("q262: candidate ranking heaps map-side — window only re-ranks survivors") {
    // the blocked candidate stream (Σ_c|c|²) must cut to ≤NoiseK per
    // qid through the bounded heaps BEFORE its exchange; the remaining
    // WindowExec ranks only the ≤k survivors (the rankTopKOrWindow
    // contract). The probe-side ranking rides the same dispatch but is
    // localCheckpoint-truncated out of this lineage — its heap path is
    // pinned by AnnSpec's candidate-reduction test plus the shared
    // TopKPerKeySpec equivalence theorem.
    val p = formatted(AnnQueries.q262LabelNoiseBlocked(spark, sf0001))
    val heaps = p.linesIterator.count(_.contains("TopKPerKey"))
    assert(heaps >= 2, // partial + final
      s"expected the q262 candidate ranking through TopKPerKeyExec:\n$p")
  }

  test("BM25 sweep plans: codegen folds, zero interpreted aggregate() lambdas") {
    import org.apache.spark.sql.functions.{col, expr}
    // a comp-shaped fixture (the componentsOf output contract)
    val comp = spark.range(3).select(
      col("id").as("query_id"), (col("id") + 10L).as("doc_id"),
      expr("array(named_struct('tf', 2L, 'df', 3L)," +
        " named_struct('tf', 1L, 'df', 7L))").as("terms"),
      expr("5L").as("dl"), expr("100L").as("n_docs"),
      expr("cast(12.5 as double)").as("avgdl"))
    // multi-point sweep → the grid-vectorized codegen fold, ONE pass
    val multi = formatted(Round15Queries.scoreComponentsAtGrid(comp,
      Seq((600000L, 0L), (1200000L, 750000L))))
    assert(multi.contains("bm25_fold_grid"),
      s"multi-point sweep must ride Bm25OkapiFoldGrid:\n$multi")
    // single point → the per-point codegen fold
    val single = formatted(Round15Queries.scoreComponentsAtGrid(comp,
      Seq((1200000L, 750000L))))
    assert(single.contains("bm25_fold("),
      s"single-point scoring must ride Bm25OkapiFold:\n$single")
    // neither plan may fall back to the interpreted higher-order fold
    Seq(multi, single).foreach { p =>
      assert(!p.contains("aggregate(") && !p.contains("lambdafunction"),
        s"interpreted HoF fold leaked back into the sweep plan:\n$p")
    }
  }

  test("q236: neighborhood sums and argmax with ZERO window sorts over the pair table") {
    val p = formatted(Round14Queries.q236BitextMargin(spark, sf0001))
    assert(!p.contains("Window"),
      s"q236 must rank through heaps + max_by, not windows:\n$p")
    assert(p.linesIterator.count(_.contains("TopKPerKey")) >= 4, // 2× (partial+final)
      s"expected both neighborhood sums through TopKPerKeyExec:\n$p")
    assert(p.contains("max_by"),
      s"expected the argmax as a max_by hash aggregate:\n$p")
  }

  test("q13: dense argmax scores off ONE checkpointed build — no recompute") {
    // denseArgmax materializes the grouped sparse-map build once
    // (ParallelCheckpoint) and both consumers — the broadcast collect
    // (already executed at plan time) and the scoring mapPartitions —
    // read it; before r16 the returned plan re-ran the whole
    // vocab-join + groupBy under the scoring pass (2 × 0.95 s serial)
    val p = formatted(DocQueries.q13Top1Similar(spark, sf0001))
    assert(p.linesIterator.count(_.contains("- Scan ExistingRDD")) == 1,
      s"scoring side must read the single checkpointed build:\n$p")
    assert(!p.contains("HashAggregate"),
      s"the dense build must live behind the checkpoint, not re-plan:\n$p")
  }
}
