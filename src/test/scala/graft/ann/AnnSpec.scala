package graft.ann

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.VectorFunctions

class AnnSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = graft.Tables.embeddings(spark, sf001)

  test("native codegen dot == interpreted zip_with dot on real embeddings") {
    VectorFunctions.register(spark)
    val a = emb.limit(50).select($"vec_id".as("a"), $"embedding".as("av"))
    val b = emb.limit(50).select($"vec_id".as("b"), $"embedding".as("bv"))
    val diffs = a.crossJoin(b)
      .select(abs(VectorFunctions.dot($"av", $"bv") -
        VectorFunctions.dotZip($"av", $"bv")).as("d"))
      .agg(max($"d")).head.getDouble(0)
    assert(diffs === 0.0) // identical accumulation order → bit-identical
  }

  test("dot of a pre-normalized vector with itself is ~1") {
    VectorFunctions.register(spark)
    val selfDots = emb.limit(20)
      .select(VectorFunctions.dot($"embedding", $"embedding").as("d"))
      .collect().map(_.getDouble(0))
    selfDots.foreach(d => assert(math.abs(d - 1.0) < 1e-5)) // float32 norm
  }

  test("bruteForceTopKViaOperator == window form, and plans through TopKPerKeyExec") {
    val queries = emb.filter($"vec_id" % 100 === 0)
    val viaOp = Ann.bruteForceTopKViaOperator(queries, emb, k = 3)
    // the custom operator must be in the plan (AQE wraps the physical
    // tree, so assert on the optimized logical plan)
    assert(viaOp.queryExecution.optimizedPlan.collect {
      case e: graft.plans.TopKPerKey => e
    }.nonEmpty, viaOp.queryExecution.optimizedPlan.toString)
    val got = viaOp.select($"qid", $"nid", $"cos", $"rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val want = Ann.bruteForceTopK(queries, emb, k = 3)
      .select($"qid", $"nid", $"cos", $"rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got === want)
  }

  test("int8 quantization: hand values, range bound, zero-vector guard") {
    VectorFunctions.register(spark)
    val rows = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("id", "v")
      .select($"id", VectorFunctions.quantize8($"v").as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // maxabs 1.0: -0.5*127 = -63.5 rounds AWAY from zero (matches
    // Spark/DuckDB round, not Math.round); 0.25*127 = 31.75 -> 32
    assert(rows(1L) === Seq(127, -64, 32, 0))
    assert(rows(2L) === Seq(0, 0, 0, 0))
    // on real embeddings: all components in [-127, 127], maxabs hits ±127
    val stats = emb.select(VectorFunctions.quantize8($"embedding").as("q"))
      .select(explode($"q").as("c"))
      .agg(max(abs($"c")), min($"c"), max($"c")).head
    assert(stats.getInt(0) === 127)
    assert(stats.getInt(1) >= -127 && stats.getInt(2) <= 127)
  }

  test("int_dot: exact long dot, dimension mismatch fails") {
    VectorFunctions.register(spark)
    val d = Seq((Array(1, 2, 3), Array(4, 5, 6))).toDF("a", "b")
      .select(VectorFunctions.dotI($"a", $"b")).head.getLong(0)
    assert(d === 32L)
    val err = intercept[Exception] {
      Seq((Array(1, 2), Array(1, 2, 3))).toDF("a", "b")
        .select(VectorFunctions.dotI($"a", $"b")).collect()
    }
    assert(err.getMessage.contains("dimension mismatch") ||
      Option(err.getCause).exists(_.getMessage.contains("dimension mismatch")))
  }

  test("quantizedTopK: high top-1 agreement with the exact float ranking") {
    val queries = emb.filter($"vec_id" % 50 === 0)
    val exact = Ann.bruteForceTopKViaOperator(queries, emb, k = 1)
      .select($"qid", $"nid").as[(Long, Long)].collect().toMap
    val quant = Ann.quantizedTopK(queries, emb, k = 1)
      .select($"qid", $"nid").as[(Long, Long)].collect().toMap
    assert(quant.keySet === exact.keySet) // every query answered
    val agree = exact.count { case (q, n) => quant(q) == n }
    // int8 error is ~1/254 per component; top-1 should survive for the
    // overwhelming majority of queries
    assert(agree >= exact.size * 7 / 10,
      s"top-1 agreement $agree/${exact.size}")
  }

  test("LSH buckets: stable, and same-bucket vectors have all projection signs equal") {
    val buckets = Ann.signLshBuckets(emb, "vec_id", "embedding", 8, 64)
    assert(buckets.count() === 500)
    val range = buckets.agg(min($"bucket"), max($"bucket")).head
    assert(range.getLong(0) >= 0L && range.getLong(1) <= 255L)
    // deterministic across runs
    val again = Ann.signLshBuckets(emb, "vec_id", "embedding", 8, 64)
    assert(buckets.except(again).count() === 0)
  }

  test("banded LSH top-1: strictly better coverage than single-band, high top-1 recall") {
    val queries = emb.filter($"vec_id" % 50 === 0) // 10 queries at sf0.01
    val exact = Ann.bruteForceTopK(queries, emb, k = 1)
      .select($"qid", $"nid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val single = Ann.lshTop1(queries, emb, 8, 64)
      .select($"qid", $"nid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val banded = Ann.lshTop1Banded(queries, emb, bands = 6, rowsPerBand = 4, dim = 64)
      .select($"qid", $"nid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // OR-amplification can only widen the answered-query set relative to
    // dropping to singleton buckets at the same total hyperplane budget
    assert(banded.size >= single.size,
      s"banded answered ${banded.size} < single-band ${single.size}")
    // coverage: nearly every query finds SOME candidate across 6 bands
    assert(banded.size >= (exact.size * 0.8).toInt,
      s"banded answered ${banded.size} of ${exact.size}")
    // top-1 agreement with exact on the answered subset
    val agree = banded.count { case (q, n) => exact.get(q).contains(n) }
    assert(agree.toDouble / banded.size >= 0.5,
      s"top-1 recall ${agree.toDouble / banded.size}")
  }

  test("lshTop1 returns a subset of queries with exact-rescored cosines") {
    val queries = emb.filter($"vec_id" % 100 === 0)
    val r = Ann.lshTop1(queries, emb, 8, 64).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(0) !== row.getLong(1))
      assert(math.abs(row.getDouble(2)) <= 1.0 + 1e-6)
    }
  }

  test("IVF build/probe split: probe never fits, all queries answered, solid recall@1") {
    val queries = emb.filter($"vec_id" % 50 === 0)
    val exact = Ann.bruteForceTopK(queries, emb, k = 1)
      .select($"qid", $"nid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // offline build persists the inverted file + centroids ...
    val idxDir = java.nio.file.Files.createTempDirectory("ivf-spec").toString
    Ann.ivfBuild(emb, idxDir, kClusters = 16)
    assert(new java.io.File(s"$idxDir/assignments").exists())
    assert(new java.io.File(s"$idxDir/centroids").exists())
    // ... the inverted file is laid out one directory per cluster
    // (partition pruning = reading only probed lists)
    val clusterDirs = new java.io.File(s"$idxDir/assignments")
      .listFiles().filter(_.getName.startsWith("cluster="))
    assert(clusterDirs.nonEmpty)
    // ... and the probe reads it back without touching KMeans
    val ivf = Ann.ivfProbe(queries, idxDir, k = 1, nprobe = 4)
      .select($"qid", $"nid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // IVF always probes populated clusters → every query answers
    assert(ivf.keySet === exact.keySet)
    val agree = ivf.count { case (q, n) => exact.get(q).contains(n) }
    assert(agree.toDouble / ivf.size >= 0.5,
      s"IVF recall@1 ${agree.toDouble / ivf.size} probing 4/16 clusters")
  }

  test("nearDupPairs returns ordered pairs above threshold only") {
    val r = Ann.nearDupPairs(emb, 0.4).collect()
    r.foreach { row =>
      assert(row.getLong(0) < row.getLong(1))
      assert(row.getDouble(2) >= 0.4)
    }
  }

  test("q232 PQ: ADC equals a local reconstruction replay; codes well-formed; recall floor") {
    import graft.operators.AnnQueries
    val dir = sf0001
    val idx = AnnQueries.preparePq(spark, dir)
    val codebooks = spark.read.parquet(s"$idx/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    // packed layout: one row per vector, codes[sub] ordered by sub
    val codes = spark.read.parquet(s"$idx/codes").collect()
      .flatMap(r => r.getSeq[Int](1).zipWithIndex.map {
        case (c, s) => (r.getLong(0), s) -> c
      }).toMap
    val vecs = graft.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val m = AnnQueries.PqM
    val sw = vecs.values.head.length / m
    // codes well-formed: m codes per vector, each within the codebook
    assert(codes.size === vecs.size * m)
    codes.foreach { case ((_, sub), c) =>
      assert(sub >= 0 && sub < m && c >= 0 && c < AnnQueries.PqCodes)
    }
    // ADC replay: for every (query, neighbor) the engine ranked, the
    // integer score must equal the sum of per-subspace micro-quantized
    // dots of the query slice against the neighbor's ASSIGNED centroid
    // — i.e. the dot with the PQ-reconstructed vector, replayed from
    // the artifacts with an independent sequential dot
    def pd(q: Array[Float], sub: Int, code: Int): Long = {
      val cent = codebooks((sub, code))
      var acc = 0.0
      var i = 0
      while (i < sw) { acc += q(sub * sw + i).toDouble * cent(i); i += 1 }
      BigDecimal(1e6 * acc).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val ranked = AnnQueries.q232PqTopK(spark, dir).collect()
    assert(ranked.nonEmpty)
    ranked.foreach { r =>
      val (qid, nid, adc) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val expected = (0 until m).map(s => pd(vecs(qid), s, codes((nid, s)))).sum
      assert(adc === expected, s"qid=$qid nid=$nid")
    }
    // recall floor vs the exact q21 ranking — deterministic (fixed
    // seed, fixed data): measured mean recall@3 is 0.20 on this
    // deliberately weak-structure corpus (the q20 calibration note);
    // the floor pins against silent regressions of build or scoring
    val exact = AnnQueries.q21KnnBruteForce(spark, dir).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val approx = ranked.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recalls = exact.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty[Long]).intersect(ex).size.toDouble / ex.size
    }
    assert(recalls.sum / recalls.size >= 0.19,
      s"mean recall@3 regressed: ${recalls.sum / recalls.size}")
  }

  test("q245 IVF-PQ: composed artifacts well-formed; ADC replay with base+residual; recall ≥ flat PQ at equal code budget") {
    import graft.operators.AnnQueries
    val dir = sf0001
    val idx = AnnQueries.prepareIvfPq(spark, dir)
    // inverted-list layout: one directory per cluster (partition
    // pruning = reading only probed lists), like the q43 IVF index
    val clusterDirs = new java.io.File(s"$idx/assignments")
      .listFiles().filter(_.getName.startsWith("cluster="))
    assert(clusterDirs.nonEmpty && clusterDirs.length <= AnnQueries.IvfPqClusters)
    val asg = spark.read.parquet(s"$idx/assignments").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Int](1).toArray, r.getInt(2))).toMap
    val centroids = spark.read.parquet(s"$idx/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val codebooks = spark.read.parquet(s"$idx/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    val vecs = graft.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val m = AnnQueries.PqM
    val dim = vecs.values.head.length
    val sw = dim / m
    // codes well-formed: m residual codes per vector, in-range
    assert(asg.size === vecs.size)
    asg.foreach { case (_, (codes, cluster)) =>
      assert(codes.length === m)
      assert(cluster >= 0 && cluster < AnnQueries.IvfPqClusters)
      codes.foreach(c => assert(c >= 0 && c < AnnQueries.PqCodes))
    }
    def micro(x: Double): Long =
      BigDecimal(1e6 * x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def dot(a: Array[Float], b: Array[Double], off: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < b.length) { acc += a(off + i).toDouble * b(i); i += 1 }
      acc
    }
    // ADC replay: engine score = micro(dot(q, centroid(cluster(nid))))
    // + Σ_s micro(dot(q_s, residual codebook centroid of nid's code))
    val ranked = AnnQueries.q245IvfPqTopK(spark, dir).collect()
    assert(ranked.nonEmpty)
    ranked.foreach { r =>
      val (qid, nid, adc) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val (codes, cluster) = asg(nid)
      val base = micro(dot(vecs(qid), centroids(cluster), 0))
      val resid = (0 until m).map(s =>
        micro(dot(vecs(qid), codebooks((s, codes(s))), s * sw))).sum
      assert(adc === base + resid, s"qid=$qid nid=$nid")
    }
    // the composed index at the IDENTICAL code budget (m codes/vector)
    // must not rank worse than flat-code PQ: residual codebooks spend
    // their codes on the small residual ball, so reconstruction is
    // finer even though the probe scans only nprobe/kClusters of the
    // corpus. Deterministic (fixed seeds, fixed data).
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val exact = AnnQueries.q21KnnBruteForce(spark, dir).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val approx = rows.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val rs = exact.map { case (q, ex) =>
        approx.getOrElse(q, Set.empty[Long]).intersect(ex).size.toDouble / ex.size }
      rs.sum / rs.size
    }
    val ivfPqRecall = recallOf(ranked)
    val flatPqRecall = recallOf(AnnQueries.q232PqTopK(spark, dir).collect())
    assert(ivfPqRecall >= flatPqRecall,
      s"IVF-PQ recall@3 $ivfPqRecall fell below flat PQ $flatPqRecall at equal code budget")
    info(f"IVF-PQ recall@3 $ivfPqRecall%.3f vs flat PQ $flatPqRecall%.3f (nprobe ${AnnQueries.IvfPqNprobe}/${AnnQueries.IvfPqClusters})")
  }

  test("q249 IVF-PQ re-rank: results come from the composed shortlist; exact cosines; recall ≥ raw composed ADC") {
    import graft.operators.AnnQueries
    val dir = sf0001
    val idx = AnnQueries.prepareIvfPq(spark, dir)
    val shortlist = Ann.ivfPqProbe(
        graft.Tables.embeddings(spark, dir).filter($"vec_id" % 50 === 0),
        idx, AnnQueries.PqShortlist, AnnQueries.IvfPqNprobe)
      .select($"qid", $"nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = graft.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      BigDecimal(acc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val reranked = AnnQueries.q249IvfPqRerank(spark, dir).collect()
    assert(reranked.nonEmpty)
    reranked.foreach { r =>
      val (qid, nid, cos) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(shortlist.contains((qid, nid)),
        s"($qid, $nid) not in the composed ADC shortlist")
      assert(cos === cos6(vecs(qid), vecs(nid)), s"qid=$qid nid=$nid")
    }
    // exact re-scoring of the shortlist cannot rank worse than the
    // compressed-domain ordering it refines
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val exact = AnnQueries.q21KnnBruteForce(spark, dir).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val approx = rows.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val rs = exact.map { case (q, ex) =>
        approx.getOrElse(q, Set.empty[Long]).intersect(ex).size.toDouble / ex.size }
      rs.sum / rs.size
    }
    val rerankRecall = recallOf(reranked)
    val rawRecall = recallOf(AnnQueries.q245IvfPqTopK(spark, dir).collect())
    assert(rerankRecall >= rawRecall,
      s"re-rank recall $rerankRecall below raw composed ADC $rawRecall")
    info(f"IVF-PQ re-rank recall@3 $rerankRecall%.3f vs raw ADC $rawRecall%.3f")
  }

  test("q250 multi-probe LSH: candidates strictly contain single-probe; coverage and recall monotone") {
    import graft.operators.AnnQueries
    val queries = emb.filter($"vec_id" % 50 === 0)
    val single = Ann.bandedCandidateIds(queries, emb,
        AnnQueries.LshBands, AnnQueries.LshRowsPerBand, AnnQueries.Dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Ann.multiProbeCandidateIds(queries, emb,
        AnnQueries.LshBands, AnnQueries.LshRowsPerBand, AnnQueries.Dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the j = 0 probe IS the single-probe bucket → superset by
    // construction; on this corpus the perturbations genuinely add
    assert(single.subsetOf(multi))
    assert(multi.size > single.size,
      s"multi-probe added nothing: ${multi.size} vs ${single.size}")
    // top-1: every single-probe answer is matched or improved, and
    // coverage (queries answered) is monotone
    val exact = Ann.bruteForceTopK(queries, emb, k = 1)
      .select($"qid", $"nid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def top1(df: org.apache.spark.sql.DataFrame) = df
      .select($"qid", $"nid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sTop = top1(Ann.lshTop1Banded(queries, emb,
      AnnQueries.LshBands, AnnQueries.LshRowsPerBand, AnnQueries.Dim))
    val mTop = top1(Ann.lshTop1MultiProbe(queries, emb,
      AnnQueries.LshBands, AnnQueries.LshRowsPerBand, AnnQueries.Dim))
    assert(sTop.keySet.subsetOf(mTop.keySet))
    val sRecall = sTop.count { case (q, n) => exact.get(q).contains(n) }
    val mRecall = mTop.count { case (q, n) => exact.get(q).contains(n) }
    assert(mRecall >= sRecall,
      s"multi-probe top-1 recall $mRecall fell below single-probe $sRecall")
    info(s"multi-probe: ${multi.size} candidates (single ${single.size}), " +
      s"top-1 hits $mRecall/${exact.size} vs single $sRecall/${exact.size}")
  }

  test("q247 filtered ANN: neighbors share the query's label; equals a local filtered scorer") {
    import graft.operators.AnnQueries
    val rows = graft.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val labelOf = rows.map(r => r._1 -> r._3).toMap
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      BigDecimal(acc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = rows.filter(_._1 % 50 == 0).flatMap { case (qid, qv, ql) =>
      rows.filter(r => r._3 == ql && r._1 != qid)
        .map { case (nid, nv, _) => (qid, nid, cos6(qv, nv)) }
        .sortBy { case (_, nid, c) => (-c, nid) }
        .take(AnnQueries.FilteredK)
        .zipWithIndex.map { case ((q, n, c), i) => (q, n, c, i + 1L) }
    }.toVector
    val got = AnnQueries.q247FilteredAnn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toVector
    assert(got === expected)
    // every returned neighbor satisfies the predicate
    got.foreach { case (q, n, _, _) => assert(labelOf(n) === labelOf(q)) }
    assert(got.nonEmpty)
  }

  test("q233 PQ re-rank: results come from the ADC shortlist, cosines are exact, recall uplift holds") {
    import graft.operators.AnnQueries
    val dir = sf0001
    val idx = AnnQueries.preparePq(spark, dir)
    val vecs = graft.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val shortlist = Ann.pqTopK(
        graft.Tables.embeddings(spark, dir).filter($"vec_id" % 50 === 0),
        idx, AnnQueries.PqShortlist)
      .select($"qid", $"nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val reranked = AnnQueries.q233PqRerank(spark, dir).collect()
    assert(reranked.nonEmpty)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    reranked.foreach { r =>
      val (qid, nid, cos) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      // the verify stage only ever sees shortlist candidates
      assert(shortlist.contains((qid, nid)), s"($qid,$nid) not in shortlist")
      // and its scores are the EXACT float cosines, not ADC approximations
      val expected = BigDecimal(dot(vecs(qid), vecs(nid)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(cos === expected, s"($qid,$nid)")
    }
    // recall uplift: re-ranking the ℓ=20 shortlist with exact scores
    // must beat pure-ADC ranking (measured 0.20 → 0.67 here)
    val exact = AnnQueries.q21KnnBruteForce(spark, dir).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def meanRecall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val by = rows.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val rs = exact.map { case (q, ex) =>
        by.getOrElse(q, Set.empty[Long]).intersect(ex).size.toDouble / ex.size }
      rs.sum / rs.size
    }
    val rerankRecall = meanRecall(reranked)
    val adcRecall = meanRecall(AnnQueries.q232PqTopK(spark, dir).collect())
    assert(rerankRecall > adcRecall,
      s"rerank $rerankRecall must beat ADC $adcRecall")
    assert(rerankRecall >= 0.6, s"rerank recall floor: $rerankRecall")
  }

  test("q251 IVF-PQ append ≡ rebuild with the same codebooks; appended vectors findable") {
    import graft.operators.AnnQueries
    val idx = AnnQueries.prepareIvfPqAppend(spark, sf0001)
    val all = graft.Tables.embeddings(spark, sf0001)
    val stored = spark.read.parquet(s"$idx/assignments")
      .select($"vec_id", $"cluster".cast("int").as("cluster"), $"codes")
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2).toVector))
      .toMap
    // THE append law: encoding the FULL corpus against the frozen
    // quantizers reproduces the stored index exactly — for appended
    // vectors trivially (same code path), for BASE vectors it pins
    // ivfPqEncode's struct-min argmins ≡ the KMeans transform the
    // build encoded with. stored == encode(all) IS "probe over
    // base+appended ≡ probe over rebuilt-with-same-codebooks" (the
    // probe is a pure function of the assignments table).
    val reenc = Ann.ivfPqEncode(all,
        spark.read.parquet(s"$idx/centroids"),
        spark.read.parquet(s"$idx/codebooks"))
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getSeq[Int](1).toVector))
      .toMap
    assert(reenc === stored)
    // every late vector landed in the lists...
    val appended = all.filter($"vec_id" % AnnQueries.IvfPqAppendMod === 3)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(appended.nonEmpty && appended.subsetOf(stored.keySet))
    // ...and is findable: probes surface appended ids as neighbors at
    // the standard (k, nprobe) without any probe-side change
    val probedNids = AnnQueries.q251IvfPqAppendProbe(spark, sf0001)
      .select($"nid").collect().map(_.getLong(0)).toSet
    assert(probedNids.intersect(appended).nonEmpty,
      "no appended vector ever surfaces in probe results")
  }

  test("q254 tombstone delete: deleted ids unreachable; untouched rankings identical") {
    import graft.operators.AnnQueries
    val tomb = AnnQueries.ivfPqTombstones(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    assert(tomb.nonEmpty)
    val deleted = AnnQueries.q254IvfPqDelete(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the delete contract: a tombstoned vector is unreachable at ANY
    // rank (not merely demoted)
    assert(deleted.forall(r => !tomb.contains(r._2)))
    // deletion only removes candidates — scores of surviving pairs are
    // untouched, so a query whose pre-delete top-k contained no
    // tombstoned id must rank IDENTICALLY (exact theorem, not a
    // fixture property)
    val before = AnnQueries.q251IvfPqAppendProbe(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val after = deleted.groupBy(_._1)
    val untouched = before.filter { case (_, rows) =>
      rows.forall(r => !tomb.contains(r._2)) }
    assert(untouched.nonEmpty)
    untouched.foreach { case (qid, rows) =>
      assert(after(qid).sortBy(_._4) === rows.sortBy(_._4), s"query $qid")
    }
    // non-vacuity: at least one query's pre-delete top-k held a
    // tombstoned id, so the gate exercises real re-ranking
    assert(before.exists { case (_, rows) => rows.exists(r => tomb.contains(r._2)) },
      "no pre-delete ranking contained a tombstoned id — the delete gate is vacuous")
  }

  test("q258 compaction: probe over compacted lists ≡ tombstoned probe; tombstones physically gone") {
    import graft.operators.AnnQueries
    val viaTombstones = AnnQueries.q254IvfPqDelete(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toVector
    val viaCompacted = AnnQueries.q258IvfPqCompact(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toVector
    // compaction is a pure rewrite of the delete view — probes agree
    // row-for-row (same scores, same ranks)
    assert(viaCompacted === viaTombstones)
    // ...and the rewrite PHYSICALLY dropped every tombstoned row
    val idx = AnnQueries.prepareIvfPqCompact(spark, sf0001)
    val tomb = AnnQueries.ivfPqTombstones(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val kept = spark.read.parquet(s"$idx/assignments")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.intersect(tomb).isEmpty)
    // compaction dropped SOMETHING (the delete set is non-empty) but
    // kept everything else
    val src = AnnQueries.prepareIvfPqAppend(spark, sf0001)
    val before = spark.read.parquet(s"$src/assignments")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === before -- tomb)
  }

  test("q260 label-noise audit: local kNN-vote replay; flags are exactly the disagreements") {
    import graft.operators.AnnQueries
    val rows = graft.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding", $"label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      BigDecimal(acc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = rows.flatMap { case (id, v, own) =>
      val nbrs = rows.filter(_._1 != id)
        .map { case (nid, nv, nl) => (cos6(v, nv), nid, nl) }
        .sortBy { case (c, nid, _) => (-c, nid) }
        .take(AnnQueries.NoiseK)
      val byLabel = nbrs.groupBy(_._3).map { case (l, xs) => l -> xs.length }
      val knn = byLabel.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      val agree = byLabel.getOrElse(own, 0).toLong
      if (knn != own) Some(id -> (own, knn, agree)) else None
    }.toMap
    val got = AnnQueries.q260LabelNoiseAudit(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3)))
      .toMap
    assert(got === expected)
    // a flag NEVER carries majority agreement with itself
    got.values.foreach { case (own, knn, agree) =>
      assert(knn != own && agree < AnnQueries.NoiseK)
    }
    assert(got.nonEmpty)
  }

  test("q262 blocked label-noise: strict candidate reduction; flag set tracks the exact audit") {
    import graft.operators.AnnQueries
    val exactFlags = AnnQueries.q260LabelNoiseAudit(spark, sf0001)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val blockedFlags = AnnQueries.q262LabelNoiseBlocked(spark, sf0001)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    // the blocking approximation changes NEIGHBOR SETS, not the
    // decision tail — the flagged POPULATION must track the exact
    // audit closely (measured 0.91 Jaccard on this corpus; floor 0.8)
    val jac = exactFlags.intersect(blockedFlags).size.toDouble /
      exactFlags.union(blockedFlags).size
    assert(jac >= 0.8, f"flag-set Jaccard $jac%.3f below floor")
    // and the blocking must actually BLOCK: candidate volume strictly
    // under the all-pairs count (the reason q262 exists)
    val n = graft.Tables.embeddings(spark, sf0001).count()
    val e = graft.Tables.embeddings(spark, sf0001)
    val cent = graft.operators.AnnQueries.centroidArrays(spark, sf0001)
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"ccos".desc, $"c_label".asc)
    val probes = e.crossJoin(broadcast(cent))
      .select($"vec_id", $"c_label",
        round(graft.functions.VectorFunctions.dotD(
          $"embedding".cast("array<double>"), $"centroid"), 6).as("ccos"))
      .withColumn("rk", row_number().over(wProbe))
      .filter($"rk" <= 2)
      .select($"vec_id", $"c_label".as("cluster"))
    val nCands = probes.select($"vec_id".as("qid"), $"cluster")
      .join(probes.select($"vec_id".as("nid"), $"cluster"), Seq("cluster"))
      .filter($"qid" =!= $"nid")
      .select($"qid", $"nid").distinct().count()
    assert(nCands < n * (n - 1),
      s"blocking generated the full pair set ($nCands of ${n * (n - 1)})")
    info(f"blocked candidates $nCands of ${n * (n - 1)} pairs; flag Jaccard $jac%.3f")
  }

  test("q259 drift audit: local reconstruction-error replay; appended slice drifts above base") {
    import graft.operators.AnnQueries
    val idx = AnnQueries.prepareIvfPqAppend(spark, sf0001)
    val cent = spark.read.parquet(s"$idx/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val cbs = spark.read.parquet(s"$idx/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    val asg = spark.read.parquet(s"$idx/assignments")
      .select($"vec_id", $"codes", $"cluster".cast("int")).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toVector, r.getInt(2)))
    val vecs = graft.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val m = cbs.keys.map(_._1).max + 1
    val sw = vecs.values.head.length / m
    def errMicro(id: Long, codes: Vector[Int], cluster: Int): Long = {
      val x = vecs(id); val c = cent(cluster)
      (0 until m).map { s =>
        val rb = cbs((s, codes(s)))
        var acc = 0.0
        var i = 0
        while (i < sw) {
          val d = x(s * sw + i).toDouble - c(s * sw + i) - rb(i)
          acc += d * d; i += 1
        }
        BigDecimal(1e6 * acc).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
    }
    val local = asg.map { case (id, codes, cl) =>
      (if (id % AnnQueries.IvfPqAppendMod == 3) "appended" else "base",
        errMicro(id, codes, cl))
    }
    val expected = local.groupBy(_._1).map { case (slice, xs) =>
      val n = xs.length.toLong
      val s = xs.map(_._2).sum
      slice -> (n,
        BigDecimal(s.toDouble / (n * 1e6))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        xs.map(_._2).max)
    }
    val got = AnnQueries.q259PqDriftAudit(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toMap
    assert(got === expected)
    // the audit's reason to exist: vectors encoded against quantizers
    // they were never fit on reconstruct WORSE — the appended slice's
    // mean error must sit above base on this fixture
    assert(got("appended")._2 > got("base")._2,
      s"appended ${got("appended")._2} should drift above base ${got("base")._2}")
  }

  test("ivfPqProbeSweep settings are bit-identical to independent probes") {
    import graft.operators.AnnQueries
    val idx = AnnQueries.prepareIvfPq(spark, sf0001)
    val queries = graft.Tables.embeddings(spark, sf0001)
      .filter($"vec_id" % 50 === 0)
    val sweep = Ann.ivfPqProbeSweep(queries, idx, k = 3, nprobes = Seq(1, 4))
      .collect()
      .map(r => (r.getLong(4), r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .groupBy(_._1)
    // scored-at-max filtered to pr <= np ≡ scored-at-np: each dial's
    // rows must equal an INDEPENDENT ivfPqProbe call exactly
    Seq(1, 4).foreach { np =>
      val solo = Ann.ivfPqProbe(queries, idx, k = 3, nprobe = np).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(sweep(np.toLong).map(t => (t._2, t._3, t._4, t._5)).toSet === solo,
        s"sweep at nprobe=$np diverges from the independent probe")
    }
  }

  test("q252 nprobe curve: recall monotone nondecreasing, saturating at the PQ ceiling") {
    import graft.operators.AnnQueries
    val rows = AnnQueries.q252NprobeCurve(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq === AnnQueries.NprobeSweep.map(_.toLong))
    // widening the probe set only ADDS candidate lists — the CANDIDATE
    // set is monotone by construction. Top-k∩exact is not a theorem
    // (a higher-ADC non-neighbor entering at larger nprobe could
    // displace a true hit), but on this fixed fixture + seed the curve
    // is monotone and the check is deterministic — a regression here
    // means the probe math changed, which is exactly what to catch
    rows.sliding(2).foreach { case Array((np1, h1, _), (np2, h2, _)) =>
      assert(h2 >= h1, s"hits fell $h1 -> $h2 between nprobe $np1 and $np2")
    }
    // nprobe = kClusters probes every list: recall there is the pure
    // PQ-quantization ceiling and must be hit by construction
    assert(rows.last._1 === AnnQueries.IvfPqClusters.toLong)
    assert(rows.last._3 > 0.0)
  }

  test("chooseNprobe pure rule: cheapest satisfying dial, ceiling fallback, order-free") {
    // smallest swept nprobe meeting the target — cost grows with
    // nprobe, so first-satisfying IS cheapest-satisfying
    assert(Ann.chooseNprobe(Seq(1 -> 0.2, 2 -> 0.5, 4 -> 0.9, 8 -> 0.95), 0.9) === 4)
    // exact-boundary recall satisfies (>=, not >)
    assert(Ann.chooseNprobe(Seq(1 -> 0.2, 2 -> 0.9), 0.9) === 2)
    // target above the curve's ceiling: serve the best measured point,
    // never abort — the ceiling is PQ quantization error, more probes
    // cannot buy the target back
    assert(Ann.chooseNprobe(Seq(1 -> 0.2, 2 -> 0.5, 4 -> 0.6), 0.95) === 4)
    // the rule sorts: an unsorted curve must not change the verdict
    assert(Ann.chooseNprobe(Seq(8 -> 0.95, 1 -> 0.2, 4 -> 0.9, 2 -> 0.5), 0.9) === 4)
    intercept[IllegalArgumentException] { Ann.chooseNprobe(Nil, 0.9) }
  }

  test("ivfPqProbeAuto: engine picks the dial from the measured curve; serves ivfPqProbe at it") {
    import graft.operators.AnnQueries
    val idx = AnnQueries.prepareIvfPq(spark, sf0001)
    val queries = graft.Tables.embeddings(spark, sf0001)
      .filter($"vec_id" % 50 === 0)
    val corpus = graft.Tables.embeddings(spark, sf0001)
    // replay the choice from the same measured curve the operator uses
    val curve = Ann.ivfPqRecallCurve(queries, corpus, idx,
      AnnQueries.PqTopK, AnnQueries.NprobeSweep)
    val expectedNp = Ann.chooseNprobe(
      curve.map { case (np, h, t) => (np, h.toDouble / t) },
      AnnQueries.NprobeTarget)
    // sf0.001's curve saturates at 0.30 < target 0.32 — this fixture
    // exercises the CEILING FALLBACK branch (sf0.01's gate exercises
    // first-satisfying); a fixture drift that lifts the ceiling past
    // the target would silently unpin the fallback, so assert it
    assert(curve.map(c => c._2.toDouble / c._3).max < AnnQueries.NprobeTarget,
      "fixture drift: sf0.001 curve now reaches the target — " +
        "fallback branch no longer exercised here")
    assert(expectedNp === AnnQueries.NprobeSweep.max)
    val auto = Ann.ivfPqProbeAuto(queries, queries, corpus, idx,
      AnnQueries.PqTopK, AnnQueries.NprobeTarget, AnnQueries.NprobeSweep)
    assert(auto.select($"nprobe").distinct().collect()
      .map(_.getLong(0)).toSeq === Seq(expectedNp.toLong))
    // the served rows ARE an independent probe at the chosen dial
    val solo = Ann.ivfPqProbe(queries, idx, AnnQueries.PqTopK, expectedNp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // auto's row shape: (qid, nid, adc_micro, rk) + appended nprobe
    val got = auto.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3))).toSet
    assert(got === solo)
  }

  test("ivfPqProbeAuto: tuning sample is decoupled from serving (the fixed-sample scale contract)") {
    import graft.operators.AnnQueries
    // SCALE.md's q263 note rests on this: the exact ground-truth side
    // of the tuning measurement is |tune|·corpus, so a lake-scale run
    // pins a FIXED-size tuning sample while serving any query set —
    // tune and serve are independent arguments, and the served rows
    // are still exactly ivfPqProbe at whatever dial the sample chose
    val idx = AnnQueries.prepareIvfPq(spark, sf0001)
    val corpus = graft.Tables.embeddings(spark, sf0001)
    val tune = corpus.filter($"vec_id".isin(0L, 150L, 300L)) // 3 rows
    val serve = corpus.filter($"vec_id" % 50 === 0)
    val auto = Ann.ivfPqProbeAuto(serve, tune, corpus, idx,
      AnnQueries.PqTopK, AnnQueries.NprobeTarget, AnnQueries.NprobeSweep)
      .collect()
    val chosen = auto.map(_.getLong(4)).distinct
    assert(chosen.length === 1 &&
      AnnQueries.NprobeSweep.map(_.toLong).contains(chosen.head))
    val solo = Ann.ivfPqProbe(serve, idx, AnnQueries.PqTopK,
        chosen.head.toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(auto.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSet === solo)
  }

  test("chooseRetrain pure rule: ratio trigger, boundary, zero-error base") {
    // fires strictly past the ratio, not at it
    assert(Ann.chooseRetrain(0.5, 0.61, 1.2))
    assert(!Ann.chooseRetrain(0.5, 0.60, 1.2))
    assert(!Ann.chooseRetrain(0.5, 0.4, 1.2))
    // degenerate zero-error base: ANY appended error is infinite drift
    assert(Ann.chooseRetrain(0.0, 1e-9, 1.2))
    assert(!Ann.chooseRetrain(0.0, 0.0, 1.2))
  }

  test("q264 retrain: decision replays the rule; retrained appended error recovers") {
    import graft.operators.AnnQueries
    val frozen = AnnQueries.q259PqDriftAudit(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val fire = Ann.chooseRetrain(frozen("base"), frozen("appended"),
      AnnQueries.RetrainDriftRatio)
    val rows = AnnQueries.q264IvfPqRetrain(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    val phases = rows.map(_._1).distinct.sorted
    if (fire) {
      assert(phases === Seq("frozen", "retrained"))
      val get = (p: String, sl: String) =>
        rows.find(t => t._1 == p && t._2 == sl).get._3
      // the reason retrain exists: quantizers fit on the CURRENT
      // corpus recover the appended slice's reconstruction quality
      assert(get("retrained", "appended") < get("frozen", "appended"),
        s"retrain did not reduce appended-slice error: " +
          s"${get("frozen", "appended")} -> ${get("retrained", "appended")}")
      // and the frozen phase rows ARE the q259 audit (shared code)
      assert(get("frozen", "appended") === frozen("appended"))
      assert(get("frozen", "base") === frozen("base"))
    } else assert(phases === Seq("frozen"))
  }

  test("lifecycle rewrites refuse in-place generations, scheme aliases included") {
    import graft.operators.AnnQueries
    val idx = AnnQueries.prepareIvfPqAppend(spark, sf0001)
    val ts = graft.Tables.embeddings(spark, sf0001)
      .select($"vec_id").limit(1)
    intercept[IllegalArgumentException] {
      Ann.ivfPqCompact(idx, idx, ts)
    }
    // the ADVICE case: a file:-qualified alias of the same local dir
    // must not evade the guard (File canonicalization is not the
    // comparator any more — Hadoop-qualified paths are)
    intercept[IllegalArgumentException] {
      Ann.ivfPqCompact(idx, s"file:$idx", ts)
    }
    intercept[IllegalArgumentException] {
      Ann.ivfPqRetrain(graft.Tables.embeddings(spark, sf0001), idx, idx,
        4, 8, 16)
    }
    // distinct dirs pass the guard (reaches the build's own require
    // on the empty-tombstone frame, not the generation guard)
    Ann.requireNewGeneration(idx, s"$idx-next", "spec", spark)
  }

  test("chooseCompact pure rule: either measured trigger fires; a clean list never rewrites") {
    assert(Ann.chooseCompact(0.5, 1L, 0.95, 1L))   // dead-heavy
    assert(Ann.chooseCompact(1.0, 5L, 0.95, 1L))   // file-fragmented
    assert(Ann.chooseCompact(0.5, 5L, 0.95, 1L))   // both
    assert(!Ann.chooseCompact(1.0, 1L, 0.95, 1L))  // live single-file
    // boundaries: live fraction AT the floor skips; file count AT the
    // cap skips (strict comparisons — the thresholds are tolerances)
    assert(!Ann.chooseCompact(0.95, 1L, 0.95, 1L))
    assert(!Ann.chooseCompact(1.0, 2L, 0.95, 2L))
  }

  test("q265 policy: stats account for every row; decision column replays the rule") {
    import graft.operators.AnnQueries
    val rows = AnnQueries.q265CompactionPolicy(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    val idx = AnnQueries.prepareIvfPqAppend(spark, sf0001)
    val total = spark.read.parquet(s"$idx/assignments").count()
    assert(rows.map(_._2).sum === total, "stats must cover every list row")
    rows.foreach { case (c, n, live, frac, files, dec) =>
      assert(live <= n && files >= 1L, s"cluster $c stats malformed")
      assert(dec === Ann.chooseCompact(frac, files,
        AnnQueries.CompactMinLive, AnnQueries.CompactMaxFiles),
        s"cluster $c decision diverges from the pure rule")
    }
  }

  test("selective compaction: any chosen subset probes identically under tombstones") {
    import graft.operators.AnnQueries
    val idx = AnnQueries.prepareIvfPqAppend(spark, sf0001)
    val ts = AnnQueries.ivfPqTombstones(spark, sf0001)
    // the subset the policy actually chooses on this fixture
    val chosen = AnnQueries.q265CompactionPolicy(spark, sf0001).collect()
      .filter(_.getBoolean(5)).map(_.getInt(0)).toSeq
    assert(chosen.nonEmpty && chosen.size < AnnQueries.IvfPqClusters,
      s"fixture should yield a MIXED decision table, got $chosen")
    val out = new java.io.File(
      "target/ivfpq-selective-spec").getAbsolutePath
    Ann.ivfPqCompactSelective(idx, out, ts, chosen)
    val queries = graft.Tables.embeddings(spark, sf0001)
      .filter($"vec_id" % 50 === 0)
    def probe(dir: String) =
      Ann.ivfPqProbe(queries, dir, k = 3, nprobe = 4,
          tombstones = Some(ts)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    // the equivalence law: the policy tunes COST, never results
    assert(probe(out) === probe(idx))
    // chosen lists are physically clean; carried lists still hold
    // their tombstoned rows (masked by the probe's anti-join)
    val dead = ts.collect().map(_.getLong(0)).toSet
    val outRows = spark.read.parquet(s"$out/assignments")
      .select($"vec_id", $"cluster".cast("int")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val chosenSet = chosen.toSet
    assert(!outRows.exists(t => chosenSet(t._2) && dead(t._1)),
      "a tombstoned row survived in a compacted list")
    val carriedDead = outRows.count(t => !chosenSet(t._2) && dead(t._1))
    val sourceCarriedDead = spark.read.parquet(s"$idx/assignments")
      .select($"vec_id", $"cluster".cast("int")).collect()
      .count(t => !chosenSet(t.getInt(1)) && dead(t.getLong(0)))
    assert(carriedDead === sourceCarriedDead,
      "carried lists must move unchanged (their dead rows included)")
  }

  test("persisted nprobe choice: cold measures once, warm pays zero tuning jobs, every lifecycle move invalidates") {
    import org.apache.spark.sql.functions.col
    val e = graft.Tables.embeddings(spark, sf0001)
    val idx = new java.io.File("target/spec-choice-idx").getAbsolutePath
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
    }
    rmrf(new java.io.File(idx)) // fresh generation, no stale choices/
    Ann.ivfPqBuild(e.filter(col("vec_id") % 5 =!= 3), idx, 4, 8, 16)
    val tune = e.filter(col("vec_id") % 50 === 0)
    var forced = 0
    def tq(): org.apache.spark.sql.DataFrame = { forced += 1; tune }
    val sweep = Seq(1, 2, 4)
    val c1 = Ann.ivfPqEnsureNprobeChoice(spark, idx, 3, 0.32, sweep,
      () => tq(), () => e)
    assert(forced === 1, "cold start measures exactly once")
    // the artifact's persisted curve IS the measurement
    assert(c1.curve === Ann.ivfPqRecallCurve(tune, e, idx, 3, sweep))
    assert(c1.nprobe === Ann.chooseNprobe(
      c1.curve.map { case (n, h, t) =>
        (n, if (t == 0L) 0.0 else h.toDouble / t) }, 0.32))
    // WARM: the zero-tuning-jobs law — throwing thunks are never
    // forced; the serve probes at the artifact's dial
    val served = Ann.ivfPqProbePersistedChoice(tune,
      () => sys.error("tuning job forced on a warm choice"),
      () => sys.error("tuning job forced on a warm choice"),
      idx, 3, 0.32, sweep)
    assert(served.select(col("nprobe")).distinct().head().getLong(0)
      === c1.nprobe.toLong)
    assert(forced === 1)
    // a different target is a different question: re-measure
    Ann.ivfPqEnsureNprobeChoice(spark, idx, 3, 0.99, sweep, () => tq(),
      () => e)
    assert(forced === 2)
    // APPEND moves the generation stamp -> the choice is stale ->
    // re-measure under the new stamp (the staleness law)
    val stamp1 = Ann.ivfPqGenerationStamp(spark, idx)
    Ann.ivfPqAppend(e.filter(col("vec_id") % 5 === 3), idx)
    val stamp2 = Ann.ivfPqGenerationStamp(spark, idx)
    assert(stamp1 !== stamp2, "append must move the stamp")
    val c3 = Ann.ivfPqEnsureNprobeChoice(spark, idx, 3, 0.32, sweep,
      () => tq(), () => e)
    assert(forced === 3)
    assert((c3.genRows, c3.genContent, c3.genFiles) === stamp2,
      "refreshed choice is stamped with the post-append generation")
    // and the refreshed choice is warm again
    Ann.ivfPqEnsureNprobeChoice(spark, idx, 3, 0.32, sweep,
      () => sys.error("warm refreshed choice re-measured"), () => e)
    assert(forced === 3)
  }

  test("bare tombstone mutation invalidates the persisted nprobe choice without a lifecycle rewrite") {
    // The round-11 escape, closed: the index files never move in this
    // test — ONLY the delete set does — and the choice must still
    // re-measure, because the reachable set (index − deletes) is what
    // recall was tuned against. Before the tombstone component this
    // law failed: re-ensuring after a bare delete was a warm no-op.
    import org.apache.spark.sql.functions.col
    val e = graft.Tables.embeddings(spark, sf0001)
    val idx = new java.io.File("target/spec-tomb-choice-idx").getAbsolutePath
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
    }
    rmrf(new java.io.File(idx))
    Ann.ivfPqBuild(e, idx, 4, 8, 16)
    val stamp0 = Ann.ivfPqGenerationStamp(spark, idx)
    val tune = e.filter(col("vec_id") % 50 === 0)
    var forced = 0
    def tq(): org.apache.spark.sql.DataFrame = { forced += 1; tune }
    val sweep = Seq(1, 2, 4)
    // cold, no deletes
    val c1 = Ann.ivfPqEnsureNprobeChoice(spark, idx, 3, 0.32, sweep,
      () => tq(), () => e)
    assert(forced === 1)
    assert((c1.tombRows, c1.tombContent) === ((0L, 0L)))
    // BARE DELETE: the index is untouched, the delete set mutates —
    // the choice is stale and must re-measure delete-aware
    def dead1 = e.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
    val c2 = Ann.ivfPqEnsureNprobeChoice(spark, idx, 3, 0.32, sweep,
      () => tq(), () => e.join(dead1, Seq("vec_id"), "left_anti"),
      Some(dead1))
    assert(forced === 2,
      "a mutated tombstone set must invalidate the persisted choice")
    assert(Ann.ivfPqGenerationStamp(spark, idx) === stamp0,
      "precondition: the index generation never moved in this test")
    assert((c2.tombRows, c2.tombContent) === Ann.tombstoneStamp(Some(dead1)))
    // the SAME set presented again — set semantics, not object
    // identity: a recomputed DataFrame of the same ids is warm,
    // zero tuning jobs (throwing thunks never forced)
    Ann.ivfPqEnsureNprobeChoice(spark, idx, 3, 0.32, sweep,
      () => sys.error("warm choice re-measured: tuneQueries forced"),
      () => sys.error("warm choice re-measured: corpus forced"),
      Some(dead1))
    assert(forced === 2)
    // the set GROWS between compactions (the advice's exact scenario):
    // stale again
    def dead2 = e.filter(col("vec_id") % 7 === 0 || col("vec_id") % 11 === 0)
      .select(col("vec_id"))
    Ann.ivfPqEnsureNprobeChoice(spark, idx, 3, 0.32, sweep,
      () => tq(), () => e.join(dead2, Seq("vec_id"), "left_anti"),
      Some(dead2))
    assert(forced === 3)
    // EMPTY delete set ≡ NO delete set: both stamp (0, 0) — "no
    // deletes" is one state however it is spelled, so a truncation
    // (the q276 FIRE branch) followed by a None-spelled ensure is warm
    Ann.ivfPqEnsureNprobeChoice(spark, idx, 3, 0.32, sweep,
      () => tq(), () => e, Some(e.filter(lit(false)).select(col("vec_id"))))
    assert(forced === 4, "shrinking back to empty is a fourth state change")
    Ann.ivfPqEnsureNprobeChoice(spark, idx, 3, 0.32, sweep,
      () => sys.error("empty-set choice must be warm under None"),
      () => sys.error("empty-set choice must be warm under None"))
    assert(forced === 4)
    assert(Ann.tombstoneStamp(
      Some(e.filter(lit(false)).select(col("vec_id")))) === ((0L, 0L)))
  }

  test("q272 serves exactly q263's rows, plus the artifact's stamp and target") {
    import org.apache.spark.sql.functions.col
    val auto = graft.operators.AnnQueries.q263NprobeAuto(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val persisted = graft.operators.AnnQueries
      .q272NprobeChoicePersist(spark, sf0001)
    assert(persisted.columns.toSeq === Seq("nprobe", "qid", "nid",
      "adc_micro", "rk", "gen_rows", "gen_content", "gen_files",
      "target_micro"))
    val served = persisted.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(served === auto)
    // the stamp columns equal the live generation stamp
    val (gr, gc, gf) = Ann.ivfPqGenerationStamp(spark,
      graft.operators.AnnQueries.prepareIvfPq(spark, sf0001))
    val h = persisted.select(col("gen_rows"), col("gen_content"),
      col("gen_files")).distinct().collect()
    assert(h.length === 1)
    assert((h(0).getLong(0), h(0).getLong(1), h(0).getLong(2))
      === ((gr, gc, gf)))
  }

  test("q276 composed cycle, firing branch: drift fires, tombstones truncate, error recovers, serve rides the retrained generation at the measured dial") {
    import org.apache.spark.sql.functions.col
    import graft.operators.AnnQueries
    val out = AnnQueries.q276LifecycleCycle(spark, sf0001).collect()
    assert(out.nonEmpty)
    val h = out.head
    assert(h.getAs[Long]("fire") === 1L,
      "the drifted append fixture must fire the retrain trigger")
    assert(h.getAs[Long]("n_tombstones_after") === 0L,
      "refresh subsumes the deletes: the tombstone set truncates")
    val fBase = h.getAs[Double]("frozen_base_err")
    val fApp = h.getAs[Double]("frozen_appended_err")
    val rApp = h.getAs[Double]("refreshed_appended_err")
    assert(fApp > AnnQueries.RetrainDriftRatio * fBase,
      "decision must replay the rule on the frozen audit")
    assert(rApp < fApp, "retrain must recover the appended-slice error")
    // CONVERGENCE: the actuator heals the signal that fired it — a
    // second nightly cycle over the refreshed generation would take
    // the skip branch (the composed job is self-quiescing, not a
    // retrain loop; the audits it re-emits are the proof)
    assert(!Ann.chooseRetrain(h.getAs[Double]("refreshed_base_err"), rApp,
      AnnQueries.RetrainDriftRatio))
    // the served stamp IS the retrained generation's live stamp, and
    // the untaken compacted path holds the empty sentinel
    val rP = AnnQueries.cycleRetrainedPath(sf0001)
    val cP = AnnQueries.cycleCompactedPath(sf0001)
    val (gr, gc, gf) = Ann.ivfPqGenerationStamp(spark, rP)
    assert((h.getAs[Long]("gen_rows"), h.getAs[Long]("gen_content"),
      h.getAs[Long]("gen_files")) === ((gr, gc, gf)))
    assert(spark.read.parquet(s"$cP/assignments").count() === 0L)
    // the cycle leaves a WARM generation-stamped choice artifact
    // beside the refreshed index (the q272 discipline composed into
    // the nightly job): the day's serves pay zero tuning jobs — the
    // throwing thunks prove the warm path never forces them — and the
    // artifact's dial IS the one the cycle served
    val warm = Ann.ivfPqEnsureNprobeChoice(spark, rP, 3, 0.32,
      Seq(1, 2, 4, 8, 16),
      () => sys.error("warm choice must not re-measure: tuneQueries forced"),
      () => sys.error("warm choice must not re-measure: corpus forced"))
    assert(warm.nprobe.toLong === h.getAs[Long]("nprobe"))
    assert((warm.genRows, warm.genContent, warm.genFiles) === ((gr, gc, gf)))
    // no tombstoned id is reachable in the serve (they are physically
    // absent from the retrained generation)
    val dead = AnnQueries.ivfPqTombstones(spark, sf0001).collect()
      .map(_.getLong(0)).toSet
    assert(!out.exists(r => dead(r.getAs[Long]("nid"))))
    // the serve equals an independent delete-aware probeAuto over the
    // retrained generation (same live tuning corpus)
    val e = graft.Tables.embeddings(spark, sf0001)
    val tune = e.filter(col("vec_id") % 50 === 0)
    val live = e.join(AnnQueries.ivfPqTombstones(spark, sf0001),
      Seq("vec_id"), "left_anti")
    val expect = Ann.ivfPqProbeAuto(tune, tune, live, rP, 3, 0.32,
        Seq(1, 2, 4, 8, 16))
      .select(col("qid"), col("nid"), col("adc_micro"), col("rk"),
        col("nprobe"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._4)).toSeq
    assert(out.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
      r.getAs[Long]("adc_micro"), r.getAs[Long]("rk"),
      r.getAs[Long]("nprobe"))).toSeq === expect)
  }

  test("q276 composed cycle, skip branch: selective compact, tombstones carry, deleted ids stay unreachable") {
    import org.apache.spark.sql.functions.col
    import graft.operators.AnnQueries
    val idx = AnnQueries.prepareIvfPqAppend(spark, sf0001)
    val ts = AnnQueries.ivfPqTombstones(spark, sf0001)
    val rP = new java.io.File("target/spec-cycle-retr").getAbsolutePath
    val cP = new java.io.File("target/spec-cycle-comp").getAbsolutePath
    // a tolerance no fixture drifts past forces the skip branch
    val out = AnnQueries.lifecycleCycleCore(spark, sf0001, idx, ts,
        driftRatio = 1e9, rP, cP)
      .orderBy(col("qid"), col("rk")).collect()
    assert(out.nonEmpty)
    val h = out.head
    assert(h.getAs[Long]("fire") === 0L)
    assert(h.getAs[Long]("n_tombstones_after") === ts.count(),
      "a compact-only refresh carries the delete set")
    // the untaken retrained path is the empty sentinel; the compacted
    // generation is the served one
    assert(spark.read.parquet(s"$rP/assignments").count() === 0L)
    val (gr, gc, gf) = Ann.ivfPqGenerationStamp(spark, cP)
    assert((h.getAs[Long]("gen_rows"), h.getAs[Long]("gen_content"),
      h.getAs[Long]("gen_files")) === ((gr, gc, gf)))
    // the compacted generation too ends warm: its delete-aware tuning
    // persisted under the compacted stamp AND the carried tombstone
    // set's stamp — a warm re-ensure must present the SAME delete set
    // (the tombstone component of the validity key; a different set
    // is a different reachable set and re-measures by design)
    val warmC = Ann.ivfPqEnsureNprobeChoice(spark, cP, 3, 0.32,
      Seq(1, 2, 4, 8, 16),
      () => sys.error("warm choice must not re-measure: tuneQueries forced"),
      () => sys.error("warm choice must not re-measure: corpus forced"),
      Some(ts))
    assert(warmC.nprobe.toLong === h.getAs[Long]("nprobe"))
    // deleted ids remain unreachable THROUGH the carried tombstones
    val dead = ts.collect().map(_.getLong(0)).toSet
    assert(!out.exists(r => dead(r.getAs[Long]("nid"))))
    // and some dead rows physically survive in the compacted lists
    // (carried, masked — the selective-compaction contract)
  }

  test("delete-aware tuning: sweep and curve never score a tombstoned id") {
    import org.apache.spark.sql.functions.col
    import graft.operators.AnnQueries
    val idx = AnnQueries.prepareIvfPqAppend(spark, sf0001)
    val ts = AnnQueries.ivfPqTombstones(spark, sf0001)
    val dead = ts.collect().map(_.getLong(0)).toSet
    assert(dead.nonEmpty)
    val tune = graft.Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 50 === 0)
    val masked = Ann.ivfPqProbeSweep(tune, idx, 3, Seq(1, 2, 4), Some(ts))
      .select(col("nid")).collect().map(_.getLong(0)).toSet
    assert(masked.intersect(dead).isEmpty)
    // without the mask the same sweep DOES reach dead ids (the law is
    // not vacuous on this fixture)
    val unmasked = Ann.ivfPqProbeSweep(tune, idx, 3, Seq(1, 2, 4))
      .select(col("nid")).collect().map(_.getLong(0)).toSet
    assert(unmasked.intersect(dead).nonEmpty)
  }

  test("empty-generation sentinel: all three artifacts bind and read as zero rows") {
    // the q264 skip branch writes this so the oracle's unconditional
    // bind of the retrained path succeeds on non-firing fixtures
    // (round-10 ADVICE #2); globs must see a FILE in every artifact,
    // including one under a hive cluster=<k> level for assignments
    val out = new java.io.File(
      "target/spec-empty-gen").getAbsolutePath
    Ann.ivfPqWriteEmptyGeneration(spark, out)
    val asgFiles = new java.io.File(s"$out/assignments/cluster=0")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(asgFiles.nonEmpty, "two-level assignments glob must match a file")
    val asg = spark.read.parquet(s"$out/assignments")
    assert(asg.count() === 0L)
    assert(asg.columns.toSet === Set("vec_id", "codes", "cluster"))
    val cent = spark.read.parquet(s"$out/centroids")
    assert(cent.count() === 0L &&
      cent.columns.toSet === Set("cluster", "centroid"))
    val cbs = spark.read.parquet(s"$out/codebooks")
    assert(cbs.count() === 0L &&
      cbs.columns.toSet === Set("sub", "code", "centroid"))
    // and the empty generation STAMPS as (0, 0, 0) instead of NPEing
    // on the NULL content sum (round-11 advice: the sentinel made
    // empty a normal on-disk state, so auditChoices may stamp it)
    assert(Ann.ivfPqGenerationStamp(spark, out) === ((0L, 0L, 0L)))
  }

  test("torn choice artifact degrades to the cold path instead of throwing") {
    // crash between Spark overwrite's delete and commit = dir present,
    // no readable parquet footer; the reader contract is "never throws
    // — cold start is a normal state" (round-11 advice)
    val idx = new java.io.File("target/spec-torn-choice-idx").getAbsolutePath
    val dir = new java.io.File(s"$idx/choices/nprobe")
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
    }
    rmrf(new java.io.File(idx))
    dir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dir, "part-00000.parquet").toPath,
      "not a parquet file".getBytes("UTF-8"))
    assert(Ann.ivfPqChoiceRead(spark, idx) === None)
    // an EMPTY dir (delete committed, write never started) is also cold
    rmrf(dir); dir.mkdirs()
    assert(Ann.ivfPqChoiceRead(spark, idx) === None)
  }

  test("q287 mining: exactly one pos per anchor at rank 1; negs below the dup band; planted dup-band neighbor is dropped") {
    import graft.operators.AnnQueries
    val out = AnnQueries.q287HardNegativeMining(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[Long]("anchor")).foreach { case (a, rows) =>
      val pos = rows.filter(_.getAs[String]("role") == "pos")
      assert(pos.length === 1, s"anchor $a")
      assert(pos.head.getAs[Long]("rk") === 1L)
      rows.filter(_.getAs[String]("role") == "hard_neg").foreach { r =>
        assert(r.getAs[Double]("cos") < AnnQueries.NearDupCos)
        assert(r.getAs[Long]("rk") >= 2L)
      }
    }
    // the dup-band exclusion, exercised deterministically: a planted
    // second near-duplicate must be NEITHER pos nor neg — a false
    // negative that would poison a contrastive loss
    def unit(x: Double, y: Double): Array[Float] = {
      val n = math.sqrt(x * x + y * y)
      Array((x / n).toFloat, (y / n).toFloat, 0f, 0f)
    }
    val fixture = Seq(
      (0L, unit(1.0, 0.0)),      // the anchor
      (1L, unit(1.0, 0.02)),     // nearest dup → rank 1 = pos
      (2L, unit(1.0, 0.05)),     // SECOND dup (cos ≈ 0.999 ≥ 0.4) → dropped
      (3L, unit(0.1, 1.0))       // cos ≈ 0.1 < 0.4 → the hard negative
    ).toDF("vec_id", "embedding")
    val mined = AnnQueries.hardNegativesCore(
        fixture.filter($"vec_id" === 0L), fixture, k = 3)
      .collect()
      .map(r => (r.getAs[Long]("nid"), r.getAs[String]("role"))).toMap
    assert(mined === Map(1L -> "pos", 3L -> "hard_neg"),
      "the rank-2 dup-band neighbor must be dropped entirely")
  }
}
