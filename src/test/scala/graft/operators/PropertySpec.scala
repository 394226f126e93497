package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import graft.dedup.Dedup

/** Property-based equivalence: the distributed operators checked
  * against straightforward LOCAL reference implementations on
  * ScalaCheck-generated inputs (fixed seeds — deterministic CI). This
  * catches the class of bug example-based specs miss: boundary values,
  * duplicate keys, adversarial orderings.
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  // ------------------------------------------------------- generators
  private val edgeListGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(60, for {
      a <- Gen.chooseNum(1L, 25L)
      b <- Gen.chooseNum(1L, 25L)
    } yield (a, b))

  private val keyedRowsGen: Gen[List[(Long, Double)]] =
    Gen.listOfN(120, for {
      k <- Gen.chooseNum(1L, 8L)
      v <- Gen.chooseNum(-1000000, 1000000) // integral → no FP tie fuzz
    } yield (k, v.toDouble))

  private val intervalGen: Gen[(List[Long], List[(Long, Long, Long)])] =
    for {
      pts <- Gen.listOfN(80, Gen.chooseNum(0L, 100000L))
      ivs <- Gen.listOfN(25, for {
        s <- Gen.chooseNum(0L, 100000L)
        len <- Gen.chooseNum(0L, 30000L)
      } yield (s, s + len))
    } yield (pts, ivs.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) })

  // ------------------------------------------------------- properties
  test("pageRankScaled == local integer recurrence on random graphs") {
    for (seed <- 1L to 3L) {
      val edges = sample(edgeListGen, seed).filter { case (a, b) => a != b }
      val verts = (1L to 25L).toList
      val scale = 1000000L
      // local reference: identical integer recurrence
      val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val base = scale * 15L / 100L
      var pr = verts.map(_ -> scale).toMap
      for (_ <- 1 to 3) {
        val sums = edges.groupBy(_._2).map { case (dst, es) =>
          dst -> es.map { case (s, _) => pr(s) / outdeg(s) }.foldLeft(0L)(_ + _)
        }
        pr = verts.map(v => v -> (base + 85L * sums.getOrElse(v, 0L) / 100L)).toMap
      }
      val got = graft.graph.GraphOps.pageRankScaled(
          verts.toDF("id"),
          edges.toDF("src", "dst").repartition(5),
          iters = 3, scale = scale)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === pr, s"seed $seed")
      // mass bound: damped totals never exceed the injected mass
      assert(got.values.sum <= verts.size * scale)
    }
  }

  test("labelPropagationRound == local majority vote on random graphs") {
    for (seed <- 10L to 12L) {
      val edges = sample(edgeListGen, seed)
      val verts = (1L to 25L).toList
      val labeled = verts.filter(_ % 3 == 0).map(v => v -> s"L${v % 4}")
      val labMap = labeled.toMap
      val expected = verts.map { v =>
        labMap.get(v) match {
          case Some(l) => v -> Some(l)
          case None =>
            val votes = edges.filter(e => e._2 == v && labMap.contains(e._1))
              .groupBy(e => labMap(e._1)).map { case (l, es) => l -> es.size }
            if (votes.isEmpty) v -> None
            else {
              val mx = votes.values.max
              v -> Some(votes.filter(_._2 == mx).keys.min)
            }
        }
      }.toMap
      val got = graft.graph.GraphOps.labelPropagationRound(
          verts.toDF("id"),
          edges.toDF("src", "dst").repartition(7),
          labeled.toDF("id", "label"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getString(1)))).toMap
      assert(got === expected, s"seed $seed")
    }
  }

  test("connectedComponents == local union-find on random graphs") {
    (1L to 5L).foreach { seed =>
      val edges = sample(edgeListGen, seed).distinct
      val vertexIds = (1L to 25L).toList
      // local union-find reference
      val parent = scala.collection.mutable.Map(vertexIds.map(v => v -> v): _*)
      def find(v: Long): Long = { var r = v; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = vertexIds.map { v =>
        // canonical label = min id in component = fully-compressed root
        // (we always parent larger roots under smaller ones)
        v -> find(v)
      }.toMap

      val got = Dedup.connectedComponents(
          vertexIds.toDF("id"), edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"seed=$seed edges=$edges")
    }
  }

  test("TopKPerKey == local sort-take on random keyed data") {
    (1L to 5L).foreach { seed =>
      val rows = sample(keyedRowsGen, seed)
      val k = 1 + (seed % 4).toInt
      // NB .values.toList first: flatMapping a Map with pair-shaped
      // results would rebuild a Map and silently dedup equal (key, v)
      val expected = rows.zipWithIndex
        .groupBy(_._1._1)
        .values.toList
        .flatMap { g =>
          g.sortBy { case ((_, v), i) => (-v, i.toLong) }.take(k)
        }.map { case ((key, v), i) => (key, v, i) }.toSet

      // unique tiebreak (row index) folded into ord, mirrored locally
      val df = rows.zipWithIndex.map { case ((key, v), i) => (key, v, i) }
        .toDF("k", "v", "idx")
      val ord = $"v" * 1000 - $"idx" // v integral ±1e6 → exact in double
      val got = graft.plans.TopK.topKPerKey(df, Seq("k"), ord, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
      assert(got === expected, s"seed=$seed k=$k")
    }
  }

  test("RangeJoin == local nested loop on random points/intervals") {
    (1L to 5L).foreach { seed =>
      val (pts, ivs) = sample(intervalGen, seed)
      val expected = (for {
        (p, pi) <- pts.zipWithIndex
        (iid, s, e) <- ivs
        if p >= s && p < e
      } yield (pi.toLong, iid)).toSet

      val points = pts.zipWithIndex.map { case (p, i) =>
        (i.toLong, new java.sql.Timestamp(p))
      }.toDF("pid", "pt")
      val intervals = ivs.map { case (iid, s, e) =>
        (iid, new java.sql.Timestamp(s), new java.sql.Timestamp(e))
      }.toDF("iid", "s", "e")
      val got = RangeJoin.pointInInterval(points, "pt", intervals, "s", "e",
          bucketMs = 7000)
        .select($"pid", $"iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"seed=$seed")
    }
  }

  test("saltedJoin == plain join on random fact/dim tables") {
    (1L to 3L).foreach { seed =>
      val rows = sample(keyedRowsGen, seed)
      val fact = rows.zipWithIndex.map { case ((key, v), i) => (key, v, i) }
        .toDF("k", "v", "idx")
      val dim = (1L to 5L).map(key => (key, s"attr$key")).toDF("k", "attr")
      val plain = fact.join(dim, Seq("k"))
        .select($"idx", $"attr").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      val salted = Skew.saltedJoin(fact, dim, Seq("k"), saltBuckets = 3)
        .select($"idx", $"attr").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      assert(salted === plain, s"seed=$seed")
    }
  }

  test("rolling hashes: position-exact, injective on equal grams, collision-free here") {
    import org.apache.spark.unsafe.types.UTF8String
    val textGen = Gen.listOfN(120, Gen.oneOf('a', 'b', ' ')).map(_.mkString)
    for (seed <- 1L to 5L) {
      val t = sample(textGen, seed)
      val l = 4
      val hs = graft.functions.RollingHash
        .hashes(UTF8String.fromString(t), l).toLongArray()
      if (t.length < l) assert(hs.isEmpty)
      else {
        assert(hs.length === t.length - l + 1)
        // equal grams ⇒ equal hashes (the property pruning relies on),
        // checked across every position pair
        for (i <- hs.indices; j <- hs.indices) {
          val gi = t.substring(i, i + l)
          val gj = t.substring(j, j + l)
          if (gi == gj) assert(hs(i) === hs(j), s"seed=$seed i=$i j=$j")
          // small-alphabet 4-grams: distinct grams must not collide in
          // a 64-bit ring (would be astronomically unlucky)
          else assert(hs(i) !== hs(j), s"collision seed=$seed '$gi' '$gj'")
        }
      }
    }
  }

  test("phrase_count == declarative position filter on random token streams") {
    import org.apache.spark.unsafe.types.UTF8String
    val tokGen = Gen.listOfN(40, Gen.oneOf("key", "order", "x", "")).map(_.mkString(" "))
    for (seed <- 1L to 8L) {
      val t = sample(tokGen, seed)
      val toks = t.split(" ", -1)
      val expected = (1 until toks.length)
        .count(i => toks(i - 1) == "key" && toks(i) == "order").toLong
      val got = graft.functions.PhraseCount
        .count(UTF8String.fromString(t), "key", "order")
      assert(got === expected, s"seed=$seed text='$t'")
    }
  }

  test("Aho-Corasick == naive overlapping counts on random small-alphabet text") {
    import org.apache.spark.unsafe.types.UTF8String
    val pats = Array("a", "ab", "aba", "bb", "aab")
    val auto = new graft.functions.AhoCorasick.Automaton(pats)
    val textGen = Gen.listOfN(60, Gen.oneOf('a', 'b')).map(_.mkString)
    for (seed <- 1L to 8L) {
      val t = sample(textGen, seed)
      val got = auto.countAll(UTF8String.fromString(t)).toLongArray()
      val exp = pats.map(p =>
        (0 to t.length - p.length).count(i => t.regionMatches(i, p, 0, p.length)).toLong)
      assert(got.toSeq === exp.toSeq, s"seed=$seed text='$t'")
    }
  }

  test("Misra-Gries laws hold on random streams for any k") {
    val itemGen = Gen.listOfN(500, Gen.chooseNum(0, 30).map(i => s"w$i"))
    for (seed <- 1L to 5L; k <- Seq(2, 5, 16)) {
      val stream = sample(itemGen, seed)
      val sum = graft.functions.MisraGries.summarize(stream.iterator, k)
      val truth = stream.groupBy(identity).view.mapValues(_.size.toLong)
      assert(sum.size <= k)
      sum.foreach { case (w, est) =>
        assert(est <= truth(w), s"seed=$seed k=$k overcount")
        assert(truth(w) - est <= stream.size.toLong / k, s"seed=$seed k=$k bound")
      }
      truth.foreach { case (w, c) =>
        if (c * k > stream.size) assert(sum.contains(w), s"seed=$seed k=$k missing HH")
      }
    }
  }

  // --------------------------------------------- round-6 kernel laws

  private val blockGridGen: Gen[Map[(Int, Int), Int]] =
    Gen.sequence[List[((Int, Int), Int)], ((Int, Int), Int)](
      (for (x <- 0 until 9; y <- 0 until 8) yield for {
        v <- Gen.chooseNum(10, 230)
      } yield ((x, y), v)).toList).map(_.toMap)

  test("dHash laws on random block images: analytic equality, brightness invariance, locality") {
    import graft.tools.MediaFixtures
    def hashOf(g: (Int, Int) => Int): Long = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(MediaFixtures.render(g), "png", bos)
      graft.multimodal.Multimodal.dHash64(bos.toByteArray)
    }
    for (seed <- 1L to 3L) {
      val grid = sample(blockGridGen, seed)
      val g = (x: Int, y: Int) => grid((x, y))
      // decode→hash equals the hash derived from the definition alone
      assert(hashOf(g) === MediaFixtures.analyticHash(g))
      // uniform brightness shift (no clipping) never flips a comparison
      assert(hashOf((x, y) => g(x, y) + 11) === hashOf(g))
      // locality: one block edit flips at most its 2 adjacent comparisons
      val (ex, ey) = (4, sample(Gen.chooseNum(0, 7), seed + 10))
      val edited = (x: Int, y: Int) => if ((x, y) == ((ex, ey))) 240 else g(x, y)
      val d = java.lang.Long.bitCount(hashOf(g) ^ hashOf(edited))
      assert(d <= 2, s"one-block edit flipped $d bits")
    }
  }

  test("AUC is invariant under strictly monotone score transforms, and 0.5-symmetric") {
    // local rank-sum AUC (the q229 formula) on random (score, label) data
    def auc(rows: Seq[(Long, Boolean)]): Option[Double] = {
      val pos = rows.filter(_._2).map(_._1)
      val neg = rows.filterNot(_._2).map(_._1)
      if (pos.isEmpty || neg.isEmpty) None
      else Some((for (p <- pos; q <- neg)
        yield if (p > q) 2L else if (p == q) 1L else 0L).sum.toDouble /
        (2.0 * pos.size * neg.size))
    }
    val rowsGen = Gen.listOfN(60, for {
      s <- Gen.chooseNum(0L, 50L)
      l <- Gen.oneOf(true, false)
    } yield (s, l))
    for (seed <- 1L to 5L) {
      val rows = sample(rowsGen, seed)
      val base = auc(rows)
      // strictly monotone transform: 3s + 7 — identical ranking
      assert(auc(rows.map { case (s, l) => (3 * s + 7, l) }) === base)
      // label flip mirrors around 0.5
      (base, auc(rows.map { case (s, l) => (s, !l) })) match {
        case (Some(a), Some(b)) => assert(math.abs(a + b - 1.0) < 1e-12)
        case _ =>
      }
    }
  }

  test("MMR degenerates to top-k by relevance when every candidate is orthogonal") {
    // if all pairwise sims are 0, the diversity term never discriminates
    // and greedy MMR must return exactly the top-k by (rel desc, id asc).
    val relGen = Gen.listOfN(12, Gen.chooseNum(-1000000, 1000000))
    for (seed <- 1L to 3L) {
      val rels = sample(relGen, seed).zipWithIndex
        .map { case (r, i) => (i.toLong, r / 1e6) }
      val lam = Round14Queries.MmrLambda
      var chosen = Vector.empty[(Long, Double)]
      for (_ <- 1 to 5) {
        val cand = rels.filterNot(c => chosen.exists(_._1 == c._1))
        val scored = cand.map { case (id, rel) =>
          if (chosen.isEmpty) (id, rel) else (id, lam * rel - (1 - lam) * 0.0)
        }
        chosen :+= scored.minBy { case (id, s) => (-s, id) }
      }
      val expected = rels.sortBy { case (id, r) => (-r, id) }.take(5).map(_._1)
      assert(chosen.map(_._1) === expected)
    }
  }

  test("jackknife SE is zero for perfectly balanced groups and scales with imbalance") {
    def se(groups: Seq[(Long, Long)]): Double = { // (n_s, s_s)
      val bigN = groups.map(_._1).sum; val bigS = groups.map(_._2).sum
      val ds = groups.filter(g => bigN > g._1).map { case (n, s) =>
        BigDecimal(1e9 * (bigS - s).toDouble / (bigN - n))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
      }
      val g = ds.size
      val numer = BigInt(g) * ds.map(d => d * d).sum - { val sd = ds.sum; sd * sd }
      math.sqrt((g - 1).toDouble * numer.toDouble) / g / 1e9
    }
    // identical groups → every leave-one-out mean equal → SE exactly 0
    assert(se(Seq.fill(10)((5L, 500L))) === 0.0)
    // growing imbalance strictly grows SE
    val a = se(Seq((5L, 500L), (5L, 510L), (5L, 490L)))
    val b = se(Seq((5L, 500L), (5L, 600L), (5L, 400L)))
    assert(b > a && a > 0.0)
  }

  // ----------------------------------------------------- decision rules
  // The engine's pure operating-point rules — chooseNprobe (q263),
  // chooseRetrain (q264), chooseCompact (q265), chooseBanding (q268),
  // chooseBm25Params (q271) — hold their contracts on ARBITRARY
  // measured inputs, not just the gate fixtures their oracles replay.
  // These are the functions a production job trusts BETWEEN gate runs,
  // so their laws get the generative treatment.

  test("chooseNprobe laws: membership, cheapest-satisfying, ceiling fallback, target monotonicity, order independence") {
    val curveGen: Gen[List[(Int, Double)]] = Gen.chooseNum(1, 8).flatMap { n =>
      Gen.listOfN(n, for {
        np <- Gen.chooseNum(1, 64)
        rec <- Gen.chooseNum(0, 1000)
      } yield (np, rec / 1000.0))
    }.map(_.distinctBy(_._1)) // duplicate dials in a sweep are a caller bug
    for (seed <- 1L to 300L) {
      val curve = sample(curveGen, seed)
      val target = sample(Gen.chooseNum(0, 1000), seed + 90000) / 1000.0
      val np = graft.ann.Ann.chooseNprobe(curve, target)
      assert(curve.exists(_._1 == np)) // membership
      val sat = curve.filter(_._2 >= target).map(_._1)
      if (sat.nonEmpty) assert(np === sat.min) // cheapest satisfying
      else assert(np === curve.map(_._1).max) // PQ-error ceiling fallback
      // a tighter SLO can only move the dial up
      assert(graft.ann.Ann.chooseNprobe(curve, math.min(1.0, target + 0.2)) >= np)
      // a function of the curve SET, not the Seq order
      assert(graft.ann.Ann.chooseNprobe(curve.reverse, target) === np)
    }
  }

  test("chooseIndexRebuild laws: exact threshold semantics, monotone in dead, anti-monotone in live, rational-scale invariance") {
    for (seed <- 1L to 300L) {
      val dead = sample(Gen.chooseNum(0L, 100000L), seed)
      val live = sample(Gen.chooseNum(1L, 100000L), seed + 90000)
      val num = sample(Gen.chooseNum(1L, 16L), seed + 180000)
      val den = sample(Gen.chooseNum(1L, 16L), seed + 270000)
      val fired = Round17Queries.chooseIndexRebuild(dead, live, num, den)
      // the rule IS the exact rational comparison dead/live ≥ num/den
      assert(fired === (dead * den >= live * num))
      // more deletes never un-fire; more live rows never fire harder
      if (fired) {
        assert(Round17Queries.chooseIndexRebuild(dead + 1L, live, num, den))
      } else {
        assert(!Round17Queries.chooseIndexRebuild(dead, live + 1L, num, den))
      }
      // threshold is a RATIONAL: scaling num/den together changes nothing
      assert(Round17Queries.chooseIndexRebuild(dead, live, num * 3L, den * 3L)
        === fired)
      // exact boundary: dead/live == num/den fires (≥, not >)
      assert(Round17Queries.chooseIndexRebuild(num, den, num, den))
    }
  }

  test("chooseRetrain laws: monotone in drift, anti-monotone in tolerance, zero-base degenerate") {
    for (seed <- 1L to 300L) {
      val base = sample(Gen.chooseNum(0, 2000), seed) / 1000.0
      val slice = sample(Gen.chooseNum(0, 4000), seed + 90000) / 1000.0
      val ratio = sample(Gen.chooseNum(1000, 3000), seed + 180000) / 1000.0
      val fired = graft.ann.Ann.chooseRetrain(base, slice, ratio)
      // more drift never un-fires; more tolerance never fires harder
      if (fired) {
        assert(graft.ann.Ann.chooseRetrain(base, slice + 0.5, ratio))
        assert(graft.ann.Ann.chooseRetrain(base, slice, math.max(0.0, ratio - 0.5)))
      }
      if (!fired) assert(!graft.ann.Ann.chooseRetrain(base, slice, ratio + 0.5)
        || base <= 0.0) // tolerance is inert on the zero-base branch
      if (base <= 0.0) assert(fired === (slice > 0.0))
    }
  }

  test("chooseCompact laws: exact trigger disjunction, monotone in decay") {
    for (seed <- 1L to 300L) {
      val live = sample(Gen.chooseNum(0, 1000), seed) / 1000.0
      val files = sample(Gen.chooseNum(0L, 40L), seed + 90000)
      val minLive = sample(Gen.chooseNum(0, 1000), seed + 180000) / 1000.0
      val maxFiles = sample(Gen.chooseNum(0L, 40L), seed + 270000)
      val fired = graft.ann.Ann.chooseCompact(live, files, minLive, maxFiles)
      assert(fired === (live < minLive || files > maxFiles))
      // deleting more rows / appending more files never un-fires
      if (fired) {
        assert(graft.ann.Ann.chooseCompact(math.max(0.0, live - 0.1),
          files, minLive, maxFiles))
        assert(graft.ann.Ann.chooseCompact(live, files + 5, minLive, maxFiles))
      }
    }
  }

  test("chooseBanding laws: membership, cheapest-eligible, recall fallback, rational-scale invariance, order independence") {
    val sweepGen: Gen[List[(Int, Int, Long, Long)]] =
      Gen.chooseNum(1, 6).flatMap { n =>
        Gen.listOfN(n, for {
          bnd <- Gen.chooseNum(1, 16)
          rpb <- Gen.chooseNum(1, 8)
          nc <- Gen.chooseNum(0L, 500L)
          nf <- Gen.chooseNum(0L, 100L)
        } yield (bnd, rpb, nc, nf))
      }.map(_.distinctBy(t => (t._1, t._2)))
    for (seed <- 1L to 300L) {
      val sweep = sample(sweepGen, seed)
      val nExact = sample(Gen.chooseNum(0L, 100L), seed + 90000)
      val num = sample(Gen.chooseNum(0, 10), seed + 180000)
      val den = sample(Gen.chooseNum(1, 10), seed + 270000)
      val (b, r) = Dedup.chooseBanding(sweep, nExact, num, den)
      val chosen = sweep.find(t => t._1 == b && t._2 == r)
      assert(chosen.nonEmpty) // membership
      val eligible = sweep.filter(_._4 * den >= num.toLong * nExact)
      if (eligible.nonEmpty) {
        assert(eligible.contains(chosen.get))
        // no eligible config is strictly cheaper under the full tie key
        val key = (t: (Int, Int, Long, Long)) => (t._3, t._1, t._2)
        assert(eligible.forall(t =>
          Ordering[(Long, Int, Int)].lteq(key(chosen.get), key(t))))
      } else {
        // fallback: highest recall, then the same cost key
        assert(sweep.forall(_._4 <= chosen.get._4))
      }
      // the target is an exact rational: scaling num/den is a no-op
      assert(Dedup.chooseBanding(sweep, nExact, num * 3, den * 3) === ((b, r)))
      // a function of the sweep SET, not the Seq order
      assert(Dedup.chooseBanding(sweep.reverse, nExact, num, den) === ((b, r)))
    }
  }

  test("chooseBm25Params laws: membership, argmax, minimal-dial ties, order independence") {
    val sweepGen: Gen[List[(Long, Long, Long)]] =
      Gen.chooseNum(1, 12).flatMap { n =>
        Gen.listOfN(n, for {
          k1 <- Gen.oneOf(600000L, 1200000L, 2000000L)
          b0 <- Gen.oneOf(0L, 400000L, 750000L, 1000000L)
          q <- Gen.chooseNum(-5L, 5L) // tiny range → frequent ties
        } yield (k1, b0, q))
      }.map(_.distinctBy(t => (t._1, t._2)))
    for (seed <- 1L to 300L) {
      val sweep = sample(sweepGen, seed)
      val (k1, b0) = Round15Queries.chooseBm25Params(sweep)
      val chosen = sweep.find(t => t._1 == k1 && t._2 == b0)
      assert(chosen.nonEmpty) // membership
      val best = sweep.map(_._3).max
      assert(chosen.get._3 === best) // argmax quality
      // among the argmax set, the smallest dials win
      val tied = sweep.filter(_._3 == best).map(t => (t._1, t._2))
      assert((k1, b0) === tied.min)
      assert(Round15Queries.chooseBm25Params(sweep.reverse) === ((k1, b0)))
    }
  }

  test("chooseVocabSize laws: membership, smallest-satisfying, ceiling fallback, budget monotonicity, order independence, exact boundary") {
    import graft.text.UnigramLm
    val curveGen: Gen[List[(Int, Long, Long)]] = Gen.chooseNum(1, 6)
      .flatMap { n =>
        Gen.listOfN(n, for {
          v <- Gen.chooseNum(1, 300)
          num <- Gen.chooseNum(1L, 5000L)
          den <- Gen.chooseNum(1L, 500L)
        } yield (v, num, den))
      }.map(_.distinctBy(_._1)) // duplicate sizes in a sweep are a caller bug
    for (seed <- 1L to 300L) {
      val curve = sample(curveGen, seed)
      val budget = sample(Gen.chooseNum(0L, 20000000L), seed + 90000)
      val v = UnigramLm.chooseVocabSize(curve, budget)
      assert(curve.exists(_._1 == v)) // membership
      val sat = curve.filter { case (_, n, d) =>
        BigInt(n) * 1000000 <= BigInt(budget) * d }.map(_._1)
      if (sat.nonEmpty) assert(v === sat.min) // smallest satisfying
      else assert(v === curve.map(_._1).max) // compressibility-floor fallback
      // a looser budget never picks a LARGER vocabulary
      assert(UnigramLm.chooseVocabSize(curve,
        budget + 1 + sample(Gen.chooseNum(0L, 1000000L), seed + 180000)) <= v)
      // a function of the curve SET, not the Seq order
      assert(UnigramLm.chooseVocabSize(curve.reverse, budget) === v)
    }
    // the budget is inclusive: num·10^6 == budget·den satisfies
    assert(UnigramLm.chooseVocabSize(
      Seq((8, 3L, 2L), (16, 1L, 1L)), 1500000L) === 8)
    intercept[IllegalArgumentException] {
      UnigramLm.chooseVocabSize(Nil, 1000000L) }
    intercept[IllegalArgumentException] {
      UnigramLm.chooseVocabSize(Seq((8, 0L, 0L)), 1000000L) }
  }

  // -------------------------------------------- stamp arithmetic laws
  /** The generation-stamp residue as plain Scala — the arithmetic both
    * [[graft.ann.Ann.ivfPqGenerationStamp]] and its DuckDB replay
    * compute per row. */
  private def rowResidue(vecId: Long, cluster: Long,
      codes: List[Long]): Long =
    (vecId * 31L + cluster * 1009L +
      codes.zipWithIndex.map { case (c, i) => c * (i + 1) }.sum) % 1048576L

  private val assignGen: Gen[List[(Long, Long, List[Long])]] =
    Gen.listOfN(80, for {
      id <- Gen.chooseNum(0L, 1000000L)
      cl <- Gen.chooseNum(0L, 15L)
      codes <- Gen.listOfN(4, Gen.chooseNum(0L, 255L))
    } yield (id, cl, codes))

  test("generation-stamp residue laws: range bound, file decomposition, and verb sensitivity on random assignments") {
    for (seed <- 1L to 40L) {
      val rows = sample(assignGen, seed)
      val residues = rows.map { case (id, cl, cs) => rowResidue(id, cl, cs) }
      // RANGE BOUND (the documented 2^43-row overflow headroom): every
      // per-row residue < 2^20, so the running long sum cannot
      // overflow before ~2^43 rows — the safety margin the scaladoc
      // claims, pinned generatively
      assert(residues.forall(r => r >= 0L && r < 1048576L))
      // FILE DECOMPOSITION (the StampSidecar theorem at the arithmetic
      // level): for ANY partition of the rows into "files", the sum of
      // per-file (count, residue-sum) partials equals the global fold
      // — symmetric + associative, no ordering or grouping can move it
      val total = (rows.size.toLong, residues.sum)
      val k = 1 + (seed % 7).toInt
      val grouped = rows.zipWithIndex.groupBy(_._2 % k).values.toList
      val composed = grouped.map { g =>
        (g.size.toLong,
          g.map { case ((id, cl, cs), _) => rowResidue(id, cl, cs) }.sum)
      }.foldLeft((0L, 0L)) { case ((r1, c1), (r2, c2)) => (r1 + r2, c1 + c2) }
      assert(composed === total)
      // VERB SENSITIVITY, generative: APPEND (any extra row) moves the
      // rows component unconditionally; RETRAIN-shaped rewrites (same
      // cardinality, one row's codes bumped at position p) move the
      // content sum unless the residue collides mod 2^20 — and a
      // +1 bump at position p moves the residue by exactly (p+1)
      // mod 2^20, which for p+1 < 2^20 is NEVER zero: so a
      // single-code ±1 drift is always detected
      val (id0, cl0, cs0) = rows.head
      val p = (seed % cs0.size).toInt
      val bumped = cs0.updated(p, cs0(p) + 1L)
      val delta = (rowResidue(id0, cl0, bumped) - rowResidue(id0, cl0, cs0)
        + 1048576L) % 1048576L
      assert(delta === (p + 1).toLong % 1048576L)
      assert(delta !== 0L)
    }
  }

  test("corpus-stamp residue laws: range bound and file decomposition on random documents") {
    val docGen = Gen.listOfN(60, for {
      id <- Gen.chooseNum(0L, 10000000L)
      len <- Gen.chooseNum(0, 2000)
    } yield (id, len))
    for (seed <- 1L to 40L) {
      val rows = sample(docGen, seed)
      def res(id: Long, len: Int): Long = (id * 31L + len) % 1048576L
      val residues = rows.map { case (id, len) => res(id, len) }
      // the ChoiceStore scaladoc's 2^-20 collision bound rests on the
      // residue living in [0, 2^20) — pinned generatively
      assert(residues.forall(r => r >= 0L && r < 1048576L))
      val total = (rows.size.toLong, residues.sum)
      val k = 1 + (seed % 5).toInt
      val composed = rows.zipWithIndex.groupBy(_._2 % k).values.toList
        .map(g => (g.size.toLong,
          g.map { case ((id, len), _) => res(id, len) }.sum))
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      assert(composed === total)
      // a byte-length edit of ±1 on one doc always moves its residue
      // (the length-preserving-edit ESCAPE is exactly length-preserving
      // — one byte of growth is already visible)
      val (id0, len0) = rows.head
      assert(res(id0, len0 + 1) !== res(id0, len0))
    }
  }

  test("split-mix laws: full non-negative int64 domain, no overflow, sub-2^31 agreement with the bare Knuth mix, fold range") {
    // the q288 fold, as deployed (pre-mod first — the round-12 advice's
    // widening): (((id % 2^31) * 2654435761) % 2^32) * folds div 2^32
    val K = 2654435761L
    val M32 = 4294967296L
    val M31 = 2147483648L
    val folds = Round17Queries.SplitFolds
    def fold(id: Long): Long = (((id % M31) * K) % M32) * folds / M32
    val idGen = Gen.oneOf(
      Gen.chooseNum(0L, Long.MaxValue), // the widened domain
      Gen.chooseNum(0L, M31 - 1),       // the original domain
      Gen.oneOf(0L, 1L, M31 - 1, M31, M31 + 1, Long.MaxValue - 1,
        Long.MaxValue))                 // the boundary
    for (seed <- 1L to 200L) {
      val id = sample(idGen, seed)
      // no intermediate overflows int64 (checked in BigInt — the exact
      // silent-wrap failure the pre-mod exists to prevent)
      val pre = BigInt(id % M31)
      assert(pre * K < BigInt(Long.MaxValue))
      assert((pre * K % M32) * folds < BigInt(Long.MaxValue))
      // fold lands in [0, folds) everywhere on the domain
      val f = fold(id)
      assert(f >= 0L && f < folds)
      // sub-2^31 ids: the pre-mod is the identity — exactly the bare
      // Knuth mix's fold (q288 hashes unmoved by the widening)
      if (id < M31)
        assert(f === ((BigInt(id) * K % M32) * folds / M32).toLong)
    }
    // the deployed Spark expression agrees with the local mirror on
    // ids ABOVE 2^31 (where the un-widened form silently wrapped)
    val ids = Seq(0L, 7L, M31 - 1, M31, 3L * M31 + 17L, 1L << 40,
      Long.MaxValue - 1, Long.MaxValue)
    val got = Round17Queries.assignSplits(
        ids.map(i => (i, "en")).toDF("doc_id", "lang"))
      .select(col("doc_id"), col("fold")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach(i => assert(got(i) === fold(i), s"doc_id $i"))
  }

  test("chooseSnapshotsToKeep laws: subset of ids, pins always kept, window exact, monotone in N") {
    val gen = for {
      n <- Gen.chooseNum(0, 12)
      ids <- Gen.pick(n, 1 to 20)
      keepLast <- Gen.chooseNum(0, 15)
      pinned <- Gen.someOf(1 to 20)
    } yield (ids.toSeq.sorted, keepLast, pinned.toSet)
    for (seed <- 1L to 120L) {
      val (ids, keepLast, pinned) = sample(gen, seed)
      val keep = Round18Queries.chooseSnapshotsToKeep(ids, keepLast, pinned)
      // only real snapshots are kept — a pin of a never-recorded id is
      // a no-op, never a phantom manifest
      assert(keep.subsetOf(ids.toSet))
      // every pinned EXISTING id survives any window
      assert(pinned.intersect(ids.toSet).subsetOf(keep))
      // the window is exactly the newest keepLast ids
      val window = ids.takeRight(keepLast).toSet
      assert(window.subsetOf(keep))
      assert(keep === window ++ pinned.intersect(ids.toSet))
      // monotone: a wider window never drops a snapshot
      val wider = Round18Queries.chooseSnapshotsToKeep(ids, keepLast + 1,
        pinned)
      assert(keep.subsetOf(wider))
    }
  }

  test("chooseSnapshotsToKeepByAge laws: subset, pins kept, age window exact, latest kept, unknown-age kept, monotone in maxAge") {
    val gen = for {
      n <- Gen.chooseNum(0, 12)
      ids <- Gen.pick(n, 1 to 20)
      maxAge <- Gen.chooseNum(0L, 30L)
      pinned <- Gen.someOf(1 to 20)
      // recorded-at in "days" (arbitrary units); ~1 in 4 ids predates
      // the stamp (unknown age)
      ages <- Gen.listOfN(20, Gen.option(Gen.chooseNum(0L, 40L)))
    } yield (ids.toSeq.sorted, maxAge, pinned.toSet, ages)
    val now = 40L
    for (seed <- 1L to 120L) {
      val (ids, maxAge, pinned, ages) = sample(gen, seed)
      val at: Int => Option[Long] = id => ages(id - 1)
      val keep = Round19Queries.chooseSnapshotsToKeepByAge(ids, at,
        now, maxAge, pinned)
      // only real snapshots are kept
      assert(keep.subsetOf(ids.toSet))
      // every pinned EXISTING id survives any window
      assert(pinned.intersect(ids.toSet).subsetOf(keep))
      // the age window is exact: in-window iff now - at <= maxAge
      ids.foreach { id =>
        at(id) match {
          case Some(a) if now - a <= maxAge =>
            assert(keep(id), s"in-window id $id must be kept")
          case Some(a) =>
            // over-age: kept only by pin or latest
            if (!pinned(id) && ids.lastOption.forall(_ != id))
              assert(!keep(id), s"over-age id $id (at=$a) must expire")
          case None =>
            assert(keep(id), s"unknown-age id $id must be kept")
        }
      }
      // the current state always stays readable
      ids.lastOption.foreach(l => assert(keep(l), "latest kept"))
      // monotone: a wider age window never drops a snapshot
      val wider = Round19Queries.chooseSnapshotsToKeepByAge(ids, at,
        now, maxAge + 1, pinned)
      assert(keep.subsetOf(wider))
    }
  }

  test("chooseBucketCount laws: ladder membership, smallest-satisfying, exact boundary, clamps, monotone in vocab, anti-monotone in target") {
    val ladder = Iterator.iterate(32)(_ * 2).takeWhile(_ <= 4096).toSet
    for (seed <- 1L to 200L) {
      val rnd = new scala.util.Random(seed)
      val vocab = rnd.nextLong(1L << rnd.nextInt(40)) max 0L
      val b = Round15Queries.chooseBucketCount(vocab)
      // ladder membership
      assert(ladder.contains(b), s"$vocab -> $b")
      // smallest-satisfying: b fits the target (or is the clamp), and
      // b/2 (if on the ladder) does not
      val t = Round15Queries.BucketTermsTarget
      assert(vocab <= b.toLong * t || b == Round15Queries.BucketLadderMax,
        s"$vocab -> $b must satisfy the target or be the clamp")
      if (b > 32) assert(vocab > (b / 2).toLong * t,
        s"$vocab -> $b is not the smallest satisfying rung")
      // monotone in vocab
      assert(Round15Queries.chooseBucketCount(vocab + 1) >= b)
      // anti-monotone in target
      assert(Round15Queries.chooseBucketCount(vocab, t * 2) <= b)
    }
    // exact boundary: vocab = b·target stays at b; one more doubles
    val t = Round15Queries.BucketTermsTarget
    assert(Round15Queries.chooseBucketCount(64L * t) === 64)
    assert(Round15Queries.chooseBucketCount(64L * t + 1L) === 128)
    // clamps
    assert(Round15Queries.chooseBucketCount(0L) === 32)
    assert(Round15Queries.chooseBucketCount(Long.MaxValue / 2) === 4096)
  }

  test("retention end-to-end law: over random chronologies (appends, optional retained compaction), expiry keeps EXACTLY the policy's ids byte-identical and the rest loud") {
    import graft.io.SnapshotStore
    def rws(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 400).localCheckpoint()
    for (seed <- 1L to 4L) {
      val rnd = new scala.util.Random(seed)
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft-retlaw$seed").toFile.getAbsolutePath
      val lakeDocs = s"$tmp/documents.parquet"
      val snaps = s"$tmp/snapshots"
      val nAppends = 2 + rnd.nextInt(3) // 2..4 ingests → snapshots
      (0 until nAppends).foreach { k =>
        docs.filter(col("doc_id") % nAppends === k)
          .write.mode("append").parquet(lakeDocs)
        SnapshotStore.record(spark, lakeDocs, snaps)
      }
      if (rnd.nextBoolean()) { // sometimes a retained compaction lands
        SnapshotStore.compactWithRetention(spark, lakeDocs, snaps,
          spark.read.parquet(lakeDocs).filter(col("doc_id") % 7 =!= 5)
            .localCheckpoint())
        SnapshotStore.record(spark, lakeDocs, snaps)
      }
      val ids = SnapshotStore.ids(spark, snaps)
      val captured = ids.map(id =>
        id -> rws(SnapshotStore.readAsOf(spark, snaps, id))).toMap
      val keepLast = rnd.nextInt(ids.size + 1)
      val pins = ids.filter(_ => rnd.nextBoolean()).toSet
      val keep = Round18Queries.chooseSnapshotsToKeep(ids, keepLast, pins)
      SnapshotStore.expireSnapshots(spark, snaps, keep)
      ids.foreach { id =>
        if (keep(id))
          assert(rws(SnapshotStore.readAsOf(spark, snaps, id))
            === captured(id), s"seed $seed kept id $id")
        else intercept[IllegalArgumentException] {
          SnapshotStore.readAsOf(spark, snaps, id)
        }
      }
    }
  }

  test("indexMaintenancePlan laws: the ledger↔meta Σ-tie over generated states — append iff tied+intact+new, rebuild otherwise") {
    import graft.io.StampSidecar.FileStamp
    val stateGen = for {
      n <- Gen.chooseNum(1, 6)
      ledger <- Gen.listOfN(n, for {
        i <- Gen.chooseNum(0, 9)
        len <- Gen.chooseNum(1L, 10000L)
        mt <- Gen.chooseNum(1L, 1000000L)
        rows <- Gen.chooseNum(0L, 500L)
        res <- Gen.chooseNum(0L, 1048575L)
      } yield FileStamp(s"/lake/f$i.parquet", len, mt, rows, res))
      // mutations: drop a file, resize one, retime one, add new ones,
      // tear the meta (Σ-tie break), or none
      dropOne <- Gen.oneOf(true, false)
      resizeOne <- Gen.oneOf(true, false)
      retimeOne <- Gen.oneOf(true, false)
      nNew <- Gen.chooseNum(0, 3)
      tearRows <- Gen.chooseNum(0L, 2L)
      tearContent <- Gen.chooseNum(0L, 2L)
      noMeta <- Gen.frequency(1 -> true, 5 -> false)
    } yield (ledger.groupBy(_.path).map(_._2.head).toList.sortBy(_.path),
      dropOne, resizeOne, retimeOne, nNew, tearRows, tearContent, noMeta)
    for (seed <- 1L to 150L) {
      val (ledger, dropOne, resizeOne, retimeOne, nNew, tearRows,
        tearContent, noMeta) = sample(stateGen, seed)
      val meta =
        if (noMeta) None
        else Some(Round15Queries.Bm25Index(
          ledger.map(_.rows).sum + tearRows,
          ledger.map(_.content).sum + tearContent,
          Round15Queries.Bm25IndexBuckets))
      var current = ledger.map(e => (e.path, e.len, e.mtime))
      if (dropOne) current = current.drop(1)
      if (resizeOne && current.nonEmpty)
        current = current.updated(0,
          (current.head._1, current.head._2 + 1L, current.head._3))
      if (retimeOne && current.size > 1)
        current = current.updated(1,
          (current(1)._1, current(1)._2, current(1)._3 + 1L))
      val newFiles = (1 to nNew).map(i => s"/lake/new$i.parquet")
      current = current ++ newFiles.map(p => (p, 100L, 42L))
      val plan =
        Round15Queries.indexMaintenancePlan(ledger, current, meta)
      val tied = meta.isDefined && tearRows == 0L && tearContent == 0L
      val intact = !dropOne && !resizeOne &&
        !(retimeOne && ledger.size > 1)
      if (tied && intact && nNew > 0)
        // append applies, and to EXACTLY the never-seen files
        assert(plan === Round15Queries.AppendFiles(newFiles))
      else
        assert(plan === Round15Queries.RebuildAll,
          s"seed=$seed tied=$tied intact=$intact nNew=$nNew")
      // the CARD twin obeys the identical matrix (q307 —
      // cardMaintenancePlan shares rules (a)/(b)/(c) with the index
      // plan; stateOk=false must force a rebuild regardless)
      val cardPlan = Round19Queries.cardMaintenancePlan(ledger, current,
        meta.map(m => (m.docRows, m.docContent)), stateOk = true)
      if (tied && intact && nNew > 0)
        assert(cardPlan === Round19Queries.CardAppend(newFiles))
      else
        assert(cardPlan === Round19Queries.CardRebuild,
          s"card seed=$seed tied=$tied intact=$intact nNew=$nNew")
      assert(Round19Queries.cardMaintenancePlan(ledger, current,
        meta.map(m => (m.docRows, m.docContent)), stateOk = false)
        === Round19Queries.CardRebuild, "a torn/legacy card never appends")
    }
  }
}
