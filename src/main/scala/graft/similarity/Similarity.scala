package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity join + downstream reductions (SURVEY.md §2.6 J3–J5, §2.5
  * A8–A9/A11, §4.3).
  *
  * The reference's physical plan for "similarity join" is an RDD
  * `cartesian` (lab2.py:227, 291) — O(n²) pairs, each scored in Python.
  * This engine's default strategy is the '''exact sparse inverted-index
  * join''': vectors stay in long form `(id, word, w)`, an equi-join on
  * `word` generates exactly the pairs with nonzero term overlap, and a
  * grouped `sum(wL*wR)` is the dot product (= cosine, since inputs are
  * L2-normalized). Mathematically identical to the cartesian for
  * argmax/threshold consumers — zero-overlap pairs score 0 and can never
  * win (SURVEY.md J3).
  *
  * Scale: the join shuffles on `word`, the pair aggregation on
  * (l_id, r_id) — both partial-aggregated. The known hazard is term skew
  * (stop-list-surviving words present in most documents make near-
  * quadratic groups); on small dense vocabularies [[argmaxAdaptive]]
  * takes the dense-broadcast argmax instead, and MinHash LSH
  * (graft.dedup) is the approximate path at 100 TB.
  */
object Similarity extends org.apache.spark.internal.Logging {

  /** Exact inverted-index similarity join between two long-form vector
    * tables with columns (id, word, w). Returns (l_id, r_id, sim) for all
    * pairs with nonzero overlap.
    */
  def invertedIndexJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.select(col("id").as("l_id"), col("word"), col("w").as("l_w"))
    val r = right.select(col("id").as("r_id"), col("word"), col("w").as("r_w"))
    l.join(r, Seq("word"))
      .groupBy(col("l_id"), col("r_id"))
      .agg(sum(col("l_w") * col("r_w")).as("sim"))
  }

  /** Dense-broadcast argmax strategy — the right physical plan when the
    * vocabulary is SMALL and DENSE (every term in most documents), where
    * the inverted-index join degenerates to near-quadratic shuffle
    * volume (Σ_w n_w² rows with n_w ≈ corpus size). Vectors are grouped
    * to sparse (idx → w) maps in vocabulary order, the right side is
    * collected, expanded to dense `array<double>` on the driver and
    * broadcast as a plain array, and a primitive dot loop inside
    * `mapPartitions` scores each left row against it with NO shuffle
    * and no pair materialization; each left row keeps only its best
    * match.
    *
    * Result-identical to invertedIndexJoin + argmax: a dot of
    * strictly-positive weights is 0 iff there is no term overlap, so
    * `sim_raw > 0` reproduces the inverted join's pair set exactly, and
    * ranking uses the same (rounded sim desc, id asc) contract.
    * Requires numeric ids. Exposed via [[argmaxAdaptive]].
    *
    * Actions run while the plan is built (the returned scoring plan
    * runs when consumed):
    *  - the right side's vocabulary collect;
    *  - two-sided: the right side's bounded collect, straight from its
    *    grouped aggregate (it is consumed once, by that collect), then
    *    the left side's [[graft.plans.ParallelCheckpoint]];
    *  - self-join (`left eq right`): the one checkpointed build, then
    *    the bounded collect off that same build.
    * Both bounds fail loudly here: a vocabulary over `maxDenseVocab`,
    * or a right side over `maxDenseBytes`. [[argmaxAdaptive]] falls
    * back to the inverted-index join instead.
    */
  def denseArgmax(left: DataFrame, right: DataFrame,
      excludeSelf: Boolean = false, maxDenseVocab: Long = 2048,
      maxDenseBytes: Long = 64L << 20): DataFrame = {
    // object identity is a conservative under-approximation of a
    // self-join: two structurally identical but distinct frames build
    // twice, correct but 2× work, never a wrong answer
    val selfJoin = left eq right
    val words = collectVocab(right, maxDenseVocab)
    require(words.length <= maxDenseVocab,
      s"denseArgmax: vocabulary exceeds maxDenseVocab=$maxDenseVocab — " +
        "use the inverted-index strategy (argmaxAdaptive) for large vocabularies")
    denseScore(left, right, excludeSelf, selfJoin, words, maxDenseBytes) match {
      case Right(scored) => scored
      case Left(maxRows) => throw new IllegalArgumentException(
        s"denseArgmax: dense right side exceeds maxDenseBytes=$maxDenseBytes " +
          s"(> $maxRows rows × ${words.length} dims × 8 B) — use argmaxAdaptive, " +
          "which falls back to the inverted-index strategy above the byte bound")
    }
  }

  /** The sorted distinct vocabulary of the RIGHT side, collected
    * through limit(maxDenseVocab+1) (TakeOrderedAndProject — one action,
    * driver memory capped at maxDenseVocab+1 words). More than
    * maxDenseVocab words back means the vocabulary is over the bound;
    * at most maxDenseVocab means the limit was a no-op and the array is
    * the complete vocabulary. A word only the left side holds can never
    * add to a dot product, so it takes no dimension: the left side's
    * vocabulary join drops it, and a left row whose words are all
    * left-only gets no match, exactly as in the inverted join. */
  private def collectVocab(right: DataFrame, maxDenseVocab: Long): Array[String] = {
    val limitN = (maxDenseVocab + 1).min(Int.MaxValue.toLong).toInt
    right.select(col("word")).distinct().orderBy(col("word")).limit(limitN)
      .collect().map(_.getString(0))
  }

  /** The dense scoring plan over vocabulary `words`, or Left(maxRows)
    * when the right side holds more than maxRows = maxDenseBytes /
    * (dim × 8 B) rows.
    *
    * The right side is collected through limit(maxRows+1) (CollectLimit
    * — per-partition limits, driver memory capped at maxDenseBytes plus
    * one row): maxRows+1 rows back ⇒ the right side is over the bound;
    * at most maxRows ⇒ the limit was a no-op and the array is the
    * COMPLETE set. No counting job runs. It is collected as sparse
    * (id, idx → w) rows and expanded to dense arrays on the driver.
    */
  private def denseScore(left: DataFrame, right: DataFrame, excludeSelf: Boolean,
      selfJoin: Boolean, words: Array[String],
      maxDenseBytes: Long): Either[Long, DataFrame] = {
    val spark = left.sparkSession
    import spark.implicits._
    val dim = words.length
    val vocab = broadcast(words.zipWithIndex.toSeq.toDF("word", "idx"))
    // (id → sparse idx map) rows; the scoring loop reads ids as Long,
    // so IntegerType/ShortType ids are cast here
    def grouped(df: DataFrame, idAs: String): DataFrame =
      df.join(vocab, Seq("word"))
        .groupBy(col("id").cast("long").as(idAs))
        .agg(map_from_entries(collect_list(
          struct(col("idx"), col("w").cast("double")))).as("__m"))
    // The left side is checkpointed, and its dense-array expansion — an
    // interpreted higher-order transform, dim element_at probes per row
    // — is deferred PAST the checkpoint: AQE coalesces this small-bytes
    // post-shuffle agg to 1–2 partitions, and running the expansion
    // inside that pin serialized it (measured: q13 spent 2 × 0.95 s in
    // back-to-back 1-task stages building these arrays).
    // ParallelCheckpoint restores session parallelism, and a self-join
    // collects its right side off the same materialized build.
    def dense(g: DataFrame): DataFrame =
      g.select(col("l_id"), transform(sequence(lit(0), lit(dim - 1)),
        i => coalesce(element_at(col("__m"), i), lit(0.0))).as("lv"))
    def checkpointedLeft(): DataFrame =
      graft.plans.ParallelCheckpoint(grouped(left, "l_id"))
    val maxRows = if (dim == 0) Long.MaxValue else maxDenseBytes / (dim.toLong * 8L)
    val limitRows = (math.min(maxRows, Int.MaxValue.toLong - 1L) + 1L).toInt
    def collectRight(sparse: DataFrame): Option[Array[(Long, Array[Double])]] = {
      val rows = sparse.limit(limitRows).collect()
      if (rows.length > maxRows) None
      else Some(rows.map { row =>
        val v = new Array[Double](dim)
        row.getMap[Int, Double](1).foreach { case (i, w) => v(i) = w }
        (row.getLong(0), v)
      })
    }
    val scored =
      if (selfJoin) {
        val g = checkpointedLeft()
        val rs = collectRight(g)
        if (rs.isEmpty) graft.plans.ParallelCheckpoint.release(g) // falling back
        rs.map(scoreDense(dense(g), _, excludeSelf))
      } else collectRight(grouped(right, "r_id"))
        .map(rs => scoreDense(dense(checkpointedLeft()), rs, excludeSelf))
    scored.toRight(maxRows)
  }

  /** Scores each dense left row (l_id, lv) against the collected right
    * rows with a primitive dot loop (mapPartitions — SURVEY §7.3
    * preference (d), justified: no declarative form scores pairs
    * without materializing them; the BroadcastNestedLoopJoin form
    * materializes every pair row, ~0.5 KB each). Ranking contract as
    * the inverted join: (sim rounded 6dp desc, r_id asc), zero dots
    * excluded; the winner's sim is re-rounded with the HALF_UP rule
    * Spark's round() uses. */
  private def scoreDense(l: DataFrame, rRows: Array[(Long, Array[Double])],
      excludeSelf: Boolean): DataFrame = {
    val spark = l.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(rRows)
    l.as[(Long, Array[Double])].mapPartitions { it =>
      val rs = bc.value
      it.flatMap { case (lid, lv) =>
        var bestKey = Long.MinValue // rounded micro-units
        var bestId = Long.MaxValue
        var found = false
        var j = 0
        while (j < rs.length) {
          val (rid, rv) = rs(j)
          if (!(excludeSelf && rid == lid)) {
            var s = 0.0
            var i = 0
            val n = math.min(lv.length, rv.length)
            while (i < n) { s += lv(i) * rv(i); i += 1 }
            if (s > 0.0) {
              val key = math.floor(s * 1e6 + 0.5).toLong // HALF_UP for s>0
              if (!found || key > bestKey || (key == bestKey && rid < bestId)) {
                bestKey = key; bestId = rid; found = true
              }
            }
          }
          j += 1
        }
        if (found) Iterator.single((lid, bestId, bestKey / 1e6)) else Iterator.empty
      }
    }.toDF("l_id", "r_id", "sim")
  }

  /** The three physical strategies [[argmaxAdaptive]] dispatches over.
    * Exposed (with [[chooseArgmaxStrategy]]) so the dispatch decision
    * is a unit-testable pure function, not an emergent property of the
    * pipeline.
    */
  sealed trait ArgmaxStrategy
  case object DenseStrategy extends ArgmaxStrategy
  case object InvertedStrategy extends ArgmaxStrategy
  case object LshStrategy extends ArgmaxStrategy

  /** Pure dispatch rule: dense broadcast when the vocabulary and bytes
    * fit; otherwise the exact inverted-index join while its candidate-
    * pair volume (Σ_w n_wL·n_wR — the exact row count of the word
    * equi-join) is inside `maxPairRows`; past the budget, the banded
    * MinHash LSH blocked argmax — UNLESS the caller demanded `exact`,
    * which always stays on an exact strategy (the q13/q50/q46 oracle
    * contract: a gated exact operator must never silently turn
    * approximate; the budget is advisory there and the estimate job is
    * skipped entirely).
    */
  def chooseArgmaxStrategy(denseEligible: Boolean, exact: Boolean,
      pairRows: => Long, maxPairRows: Long): ArgmaxStrategy =
    if (denseEligible) DenseStrategy
    else if (exact || pairRows <= maxPairRows) InvertedStrategy
    else LshStrategy

  /** Exact inverted-join candidate-pair volume: Σ over shared words of
    * n_wL·n_wR — ONE cheap aggregate pass over the long forms (counts
    * only, partial-aggregated; no pair is materialized). This is the
    * n-side blowup the vocabulary gate cannot see: a 10-word
    * vocabulary over 10⁹ documents puts ~10¹⁷ rows through the word
    * join regardless of dim.
    */
  def estimateInvertedPairRows(left: DataFrame, right: DataFrame,
      selfJoin: Boolean): Long = {
    // Summed in DOUBLE, not long: this estimator exists precisely for
    // the regime where the products explode (10 words × 10⁹ docs ⇒
    // ~10¹⁷ pair rows; 10¹¹ docs overflows even the per-word long
    // product), and a budget comparison needs magnitude, not
    // exactness — long arithmetic would throw under ANSI mode or wrap
    // into a WRONG dispatch exactly when the dispatcher matters most.
    // Doubles are exact to 2^53 (far past any sane maxPairRows) and
    // past that merely approximate an answer whose only use is
    // "bigger than the budget?". Saturates to Long.MaxValue (⇒ LSH
    // dispatch) instead of overflowing.
    val cl = left.groupBy(col("word")).agg(count(lit(1)).cast("double").as("nl"))
    val cr =
      if (selfJoin) None
      else Some(right.groupBy(col("word"))
        .agg(count(lit(1)).cast("double").as("nr")))
    pairRowsFromWordCounts(cl, cr)
  }

  /** The saturating fold behind [[estimateInvertedPairRows]], split
    * out so a spec can feed SYNTHETIC per-word counts whose products
    * exceed Long.MaxValue (counts that big cannot be materialized as
    * rows in a test). `cl` is (word, nl: double); `cr` None means
    * self-join (Σ nl²). */
  private[similarity] def pairRowsFromWordCounts(cl: DataFrame,
      cr: Option[DataFrame]): Long = {
    val row = cr match {
      case None    => cl.agg(sum(col("nl") * col("nl"))).head()
      case Some(r) => cl.join(r, Seq("word"))
        .agg(sum(col("nl") * col("nr"))).head()
    }
    if (row.isNullAt(0)) 0L
    else {
      val d = row.getDouble(0)
      if (d >= Long.MaxValue.toDouble) Long.MaxValue else d.toLong
    }
  }

  /** Strategy-picking argmax over long-form vectors — dense-broadcast
    * when the vocabulary is small (≤ maxDenseVocab) and the dense right
    * side fits `maxDenseBytes`; the exact inverted-index join while its
    * measured candidate-pair volume is inside `maxPairRows`; the
    * banded-MinHash LSH blocked argmax ([[argmaxLshBlocked]]) past the
    * budget. THE ENGINE SWITCHES — the n²-regime fallback the 100 TB
    * argument needs is made here, from a measured pair estimate, not
    * left to the caller.
    *
    * `exact = true` (the default, and the q13/q50/q46 gated contract)
    * is the escape hatch: exact callers never silently degrade to the
    * approximate strategy — an oracle-gated exact operator switching
    * to LSH past a size threshold would change RESULTS, so the
    * approximate regime is an API-level opt-in (`exact = false`), and
    * exact mode skips the estimate job entirely (no wasted pass on the
    * path that cannot act on it). `maxPairRows` defaults to 2e9 —
    * ~hundreds of GB of pair traffic, the scale where SCALE.md's
    * measurements say the inverted join stops being answerable.
    *
    * The dense candidate needs INTEGRAL ids (the dense scorer casts to
    * long and tie-breaks numerically — fractional ids would truncate);
    * other ids go to the inverted join with no job at all. Its actions,
    * in order, all while the plan is built:
    *  1. the right side's vocabulary collect (limit maxDenseVocab+1);
    *     over the bound ⇒ fall back;
    *  2. two-sided: the right side's collect (limit maxRows+1, maxRows =
    *     maxDenseBytes / (dim × 8 B)) straight from its grouped
    *     aggregate; truncated ⇒ fall back;
    *  3. two-sided: the left side's checkpoint, only once the right side
    *     has passed. A self-join checkpoints its one build before step 2
    *     and collects off it.
    * The byte bound is on bytes, not rows: 200k rows × 2048 dims would
    * be 3.3 GB on the driver and every executor. A fallback logs one
    * warning line naming the gate, dim, the rows seen against maxRows
    * and the strategy taken.
    *
    * Inputs must carry 6dp-rounded weights for oracle-stable sims (all
    * strategies round sims to 6dp before ranking).
    */
  def argmaxAdaptive(left: DataFrame, right: DataFrame,
      excludeSelf: Boolean = false, maxDenseVocab: Long = 2048,
      maxDenseBytes: Long = 64L << 20, exact: Boolean = true,
      maxPairRows: Long = 2_000_000_000L): DataFrame = {
    import org.apache.spark.sql.types._
    val integralIds = Seq(left, right).forall(_.schema("id").dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    val selfJoin = left eq right
    // None: not a dense candidate; Left: the gate it failed
    val dense: Option[Either[String, DataFrame]] =
      if (!integralIds) None
      else Some {
        val words = collectVocab(right, maxDenseVocab)
        if (words.length > maxDenseVocab)
          Left(s"site=vocabulary dim>$maxDenseVocab (maxDenseVocab=$maxDenseVocab)")
        else denseScore(left, right, excludeSelf, selfJoin, words, maxDenseBytes)
          .left.map(maxRows => s"site=bytes dim=${words.length} " +
            s"rowsSeen=${maxRows + 1} maxRows=$maxRows (maxDenseBytes=$maxDenseBytes)")
      }
    val strategy = chooseArgmaxStrategy(
      denseEligible = dense.exists(_.isRight),
      exact = exact,
      pairRows = estimateInvertedPairRows(left, right, selfJoin),
      maxPairRows = maxPairRows)
    dense.foreach(_.left.foreach(gate =>
      logWarning(s"argmaxAdaptive: dense candidate fell back: $gate strategy=$strategy")))
    strategy match {
      case DenseStrategy => dense.get.toOption.get
      case InvertedStrategy =>
        val sims0 = invertedIndexJoin(left, right)
        val sims = (if (excludeSelf) sims0.filter(col("l_id") =!= col("r_id")) else sims0)
          .withColumn("sim", round(col("sim"), 6))
        argmax(sims)
      case LshStrategy =>
        argmaxLshBlocked(left, right, excludeSelf, selfJoin)
    }
  }

  /** Approximate argmax past the pair budget: banded MinHash LSH over
    * each vector's WORD SET generates candidate pairs (bucket
    * equi-joins on band signatures — never the word join's Σ n_w²
    * blowup), then the exact weighted dot re-scores CANDIDATES ONLY
    * and the argmax ranks with the same (sim round-6 desc, r_id asc)
    * contract. The LSH-then-verify shape of q15/q16, instantiated for
    * weighted cosine argmax: sims of returned pairs are EXACT (the
    * verify recomputes the true dot) — the approximation is only that
    * a best match sharing no band bucket with its query can be missed,
    * with the standard 1−(1−s^r)^b recall curve (q243 measures the
    * dial). Queries whose buckets are all singletons yield no row,
    * like [[graft.ann.Ann.lshTop1Banded]].
    */
  def argmaxLshBlocked(left: DataFrame, right: DataFrame,
      excludeSelf: Boolean = false, selfJoin: Boolean = false,
      minhashK: Int = 12, bands: Int = 6, rowsPerBand: Int = 2): DataFrame = {
    import graft.dedup.Dedup
    // Self-join: one signature table, undirected a<b candidates
    // mirrored into both directions. Two-sided: each side signs its
    // OWN distinct word sets and candidates come from a directed
    // (band, bsig) join of the two band tables — signing a union
    // would merge the word sets of an id that appears on BOTH sides
    // with different words, silently skewing that id's signature (and
    // so its recall; rescoring is exact either way).
    val directed =
      if (selfJoin) {
        val sig = Dedup.minhashSig(
          left.select(col("id"), col("word")).distinct(), minhashK)
        val undirected = Dedup.lshCandidates(sig, bands, rowsPerBand)
        undirected
          .select(col("a").as("l_id"), col("b").as("r_id"))
          .unionAll(undirected.select(col("b").as("l_id"), col("a").as("r_id")))
      } else {
        val bl = Dedup.lshBands(Dedup.minhashSig(
            left.select(col("id"), col("word")).distinct(), minhashK),
            bands, rowsPerBand)
          .select(col("band"), col("bsig"), col("id").as("l_id"))
        val br = Dedup.lshBands(Dedup.minhashSig(
            right.select(col("id"), col("word")).distinct(), minhashK),
            bands, rowsPerBand)
          .select(col("band"), col("bsig"), col("id").as("r_id"))
        bl.join(br, Seq("band", "bsig"))
          .select(col("l_id"), col("r_id")).distinct()
      }
    val cands =
      (if (excludeSelf) directed
       else directed.unionAll(
         left.select(col("id").as("l_id"), col("id").as("r_id")).distinct()))
      .distinct()
    val ea = left.select(col("id").as("l_id"), col("word"), col("w").as("l_w"))
    val eb = right.select(col("id").as("r_id"), col("word"), col("w").as("r_w"))
    val sims = cands
      .join(ea, Seq("l_id"))
      .join(eb, Seq("r_id", "word"))
      .groupBy(col("l_id"), col("r_id"))
      .agg(round(sum(col("l_w") * col("r_w")), 6).as("sim"))
    argmax(sims)
  }

  /** A8 generalized: top-k rows per `keyCol` by (simCol desc, tieCol asc).
    * Deterministic where the reference's reduce-based argmax is shuffle-
    * order-dependent under ties (SURVEY.md §2.10.4).
    */
  def topK(sims: DataFrame, k: Int, keyCol: String = "l_id",
      simCol: String = "sim", tieCol: String = "r_id"): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(simCol).desc, col(tieCol).asc)
    sims.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** A8: argmax — best match per left id. */
  def argmax(sims: DataFrame): DataFrame = topK(sims, 1).drop("rk")

  /** A9: self-retrieval accuracy — fraction of rows where the matched id
    * equals the query id (lab2.py:253–260).
    */
  def accuracy(matches: DataFrame, leftCol: String = "l_id", rightCol: String = "r_id"): DataFrame =
    matches.agg(
      round(avg(when(col(leftCol) === col(rightCol), 1.0).otherwise(0.0)), 6).as("accuracy"),
      count(lit(1)).as("n"))
}
