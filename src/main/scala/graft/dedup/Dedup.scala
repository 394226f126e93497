package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextPrep

/** Deduplication operators for large-scale corpus curation — exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard (builder-prompt scale-out
  * surface; algorithms from the public literature: Broder '97 minwise
  * hashing, Charikar '02 simhash, Leskovec et al. MMDS ch.3).
  *
  * Hashing strategy: the oracle-gated paths hash with '''md5 of seeded
  * strings''' — md5 is bit-identical across Spark and DuckDB, and taking
  * the lexicographic MIN of `md5(seed || shingle)` is a valid minwise
  * permutation family, which makes even MinHash signatures DuckDB-
  * verifiable.
  *
  * Scale shape: every operator here is explode → hash → partial-agg →
  * shuffle-on-key; no driver materialization, no cartesian anywhere.
  * LSH candidate generation self-joins only within (band, signature)
  * buckets; exact Jaccard verification runs only on the LSH candidates
  * (the brute-force all-pairs form exists for the oracle and for small
  * inputs).
  */
object Dedup {

  /** Exact duplicate grouping (hash-groupBy): every row mapped to the
    * minimum id sharing its exact text. One window shuffle on the text
    * hash; at scale this is the classic first-pass dedup.
    */
  def canonicalIds(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol).cast("binary")))
    df.select(col(idCol).as("id"), min(col(idCol)).over(w).as("canonical_id"))
  }

  /** (id, word) pairs, distinct per doc, NO stop-filtering — dedup
    * compares full surface text (unlike retrieval, which stop-filters).
    */
  def tokenSets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(split(TextPrep.normalize(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "") // post-explode: stays in codegen
      .distinct()

  /** Word n-gram shingles of a token array column (n consecutive tokens
    * joined by a space), as a pure codegen'd expression.
    */
  def shinglesCol(tokens: Column, n: Int): Column = {
    // NB Spark's sequence(a, b) counts DOWN when a > b, so guard the
    // size < n case explicitly (no shingles) instead of relying on an
    // empty range.
    val starts = sequence(lit(1), size(tokens) - lit(n) + lit(1))
    val sh = transform(starts, i => concat_ws(" ", slice(tokens, i, lit(n))))
    when(size(tokens) >= lit(n), sh).otherwise(array().cast("array<string>"))
  }

  /** POSITIONAL word-n-gram shingles (id, pos, shingle), pos = the
    * shingle's first-token position. Formed ROW-LOCALLY from the token
    * array: posexplode anchors the first token and `element_at` probes
    * the n−1 followers — every expression codegen'd (no higher-order
    * lambda, which evaluates INTERPRETED per element — the q153
    * lesson), and NO exchange: the old window-`lead` spelling shuffled
    * and sorted every corpus token by doc_id to consult neighbors that
    * were already in the same row's array (guide §2.4 — an exchange
    * that buys nothing). Downstream keyed aggregations now pay their
    * own exchange, but map-side partial aggregation combines first, so
    * what crosses is per-doc-combined rows instead of every raw token.
    * Consumers read pos only for per-doc ordering (winnowing's ROWS
    * frame), which the row-local form preserves exactly
    * (ShingleLocalSpec pins it against the window spelling).
    */
  def positionalShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // normalize() trims and collapses separator runs, so split yields
    // an empty token ONLY for fully-empty text — array_remove (codegen,
    // unlike the filter() lambda) drops that case and cannot perturb
    // interior positions.
    df.select(col(idCol).as("id"),
        array_remove(split(TextPrep.normalize(col(textCol)), " "), "").as("toks"))
      .select(col("id"), col("toks"), posexplode(col("toks")).as(Seq("pos", "w")))
      .filter(col("pos") + lit(n) <= size(col("toks")))
      .select(col("id"), col("pos"),
        concat_ws(" ", (col("w") +: (1 until n).map(i =>
          element_at(col("toks"), col("pos") + lit(i + 1)))): _*).as("shingle"))
  }

  /** (id, shingle) pairs, distinct per doc. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    positionalShingles(df, idCol, textCol, n)
      .select(col("id"), col("shingle"))
      .distinct()

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken '03, the MOSS
    * algorithm): hash every word-`k`-gram, slide a window of `w`
    * consecutive hashes over each document, and keep the minimum hash
    * of every full window. The guarantee: any shared run of ≥ w+k-1
    * tokens between two documents yields at least one shared
    * fingerprint, while only ~2/(w+1) of all hashes are kept — a
    * position-robust, sublinear document signature (vs [[minhashSig]],
    * which signs the whole doc and cannot localize). Fingerprints are
    * deduped by VALUE per doc (the candidate-generation form; positions
    * would only matter for match localization).
    *
    * Shape at scale: tokenize → window-min (one shuffle on id, both
    * window aggs share the frame) → distinct — all linear;
    * candidate-pair generation then joins on fingerprint like
    * [[lshCandidates]] joins on band signature.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val hashed = positionalShingles(df, idCol, textCol, k)
      .select(col("id"), col("pos"), md5(col("shingle").cast("binary")).as("h"))
    val frame = Window.partitionBy(col("id")).orderBy(col("pos")).rowsBetween(0, w - 1)
    hashed
      .select(col("id"), min(col("h")).over(frame).as("fp"),
        count(lit(1)).over(frame).as("wn"))
      .filter(col("wn") === w) // full windows only
      .select(col("id"), col("fp"))
      .distinct()
  }

  /** Near-dup candidate pairs from shared winnowing fingerprints:
    * (a, b, shared) for pairs sharing at least `minShared`
    * fingerprints. Join cost is Σ bucket² over fingerprint buckets —
    * bound degenerate buckets with `maxBucket` exactly like
    * [[lshCandidates]] when running beyond oracle scale.
    */
  def winnowCandidates(fingerprints: DataFrame, minShared: Long): DataFrame = {
    val l = fingerprints.select(col("fp"), col("id").as("a"))
    val r = fingerprints.select(col("fp"), col("id").as("b"))
    l.join(r, Seq("fp")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** MinHash signature columns mh00..mh{k-1}: for permutation j the
    * signature is `min(md5('<j>|' || element))` — k partial-aggregated
    * mins in ONE grouped aggregation (single shuffle on id, no k-pass).
    */
  def minhashSig(elements: DataFrame, k: Int, elemCol: String = "word"): DataFrame = {
    val aggs = (0 until k).map { j =>
      min(md5(concat(lit(f"$j%d|"), col(elemCol)).cast("binary"))).as(f"mh$j%02d")
    }
    elements.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: split the k-column signature into `bands` bands of
    * `rowsPerBand`, hash each band, and emit candidate pairs (a < b)
    * sharing at least one band bucket.
    *
    * Skew note (scale): a degenerate bucket holding m docs yields m²/2
    * pairs. `maxBucket` caps it — buckets larger than the cap are
    * dropped with the reasoning that their members collide with nearly
    * everything (near-universal shingle sets) and belong in a separate
    * clustering pass, not pairwise dedup. Pass Int.MaxValue for exact
    * LSH semantics (oracle mode).
    */
  /** Banded signature table (id, band, bsig) — the join-able LSH bucket
    * form of a minhash signature table. Factored out so DIRECTED
    * probes (an increment's bands against a persisted corpus band
    * table, q78) share the exact banding with the symmetric
    * all-pairs candidate generation below.
    */
  def lshBands(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(f"mh$j%02d"))
      // delimited concat: without a delimiter, variable-width
      // signature values would collide ((1,23) vs (12,3)); the
      // oracles hash the same '|'-joined string.
      md5(concat_ws("|", cols: _*).cast("binary"))
    }
    // ONE posexplode pass, NOT a bands-way union of projections: each
    // union branch would carry its own copy of the whole upstream
    // signature subplan (shingle window + k md5s per element), so a
    // caller joining two band tables would execute it 2×bands times.
    // posexplode's pos is exactly the band index the union form labeled.
    sig.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bsig")))
  }

  def lshCandidates(sig: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val melted = lshBands(sig, bands, rowsPerBand)
    val bounded =
      if (maxBucket == Int.MaxValue) melted
      else {
        val sizes = melted.groupBy(col("band"), col("bsig"))
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= maxBucket)
          .select(col("band"), col("bsig"))
        melted.join(sizes, Seq("band", "bsig"), "left_semi")
      }
    val l = bounded.select(col("band"), col("bsig"), col("id").as("a"))
    val r = bounded.select(col("band"), col("bsig"), col("id").as("b"))
    l.join(r, Seq("band", "bsig")).filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Pure banding operating-point rule — the [[lshCandidates]] dial
    * chosen by the ENGINE from a measured sweep, not a human (the
    * chooseNprobe / chooseArgmaxStrategy discipline: the decision is a
    * unit-testable pure function, not an emergent property of the
    * pipeline). Input rows are q243's measured sweep —
    * (bands, rowsPerBand, nCandidates, nFound) per configuration over
    * ONE shared k-permutation signature — plus the exact-join pair
    * count the recalls are measured against. The target recall is an
    * exact rational `targetNum/targetDen` so eligibility is integer
    * cross-multiplication (`nFound·den ≥ num·nExact`), replayable in
    * SQL with no floating-point rounding window.
    *
    * Rule: among configurations MEETING the target, the one with the
    * smallest measured candidate volume (candidate verification — the
    * `overlapOnCandidates` pass — is the dominant cost at corpus
    * scale, and it is linear in nCandidates), ties to fewer bands
    * (fewer banding rows in the bucket join). If NO configuration
    * meets the target, the highest-recall one (ties: fewer candidates,
    * then fewer bands, then fewer rows per band): the sweep's ceiling
    * is the K-permutation
    * signature's resolution — re-banding the same signature cannot buy
    * the target back, so the engine serves the best point it measured
    * rather than aborting (the chooseNprobe fallback contract).
    * `nExact = 0` (no true pairs at τ) degenerates to every
    * configuration eligible → cheapest wins. Every tie key ends on the
    * full (bands, rowsPerBand) config, so the choice is a function of
    * the sweep SET — independent of input order (PropertySpec law;
    * without rowsPerBand in the key, two same-band configs with equal
    * candidate counts would tie on Seq position).
    */
  def chooseBanding(sweep: Seq[(Int, Int, Long, Long)], nExact: Long,
      targetNum: Int, targetDen: Int): (Int, Int) = {
    require(sweep.nonEmpty, "chooseBanding: empty banding sweep")
    require(targetDen > 0, "chooseBanding: targetDen must be positive")
    val eligible = sweep.filter { case (_, _, _, nFound) =>
      nFound * targetDen >= targetNum.toLong * nExact }
    val (b, r, _, _) =
      if (eligible.nonEmpty)
        eligible.minBy { case (b0, r0, nc, _) => (nc, b0, r0) }
      else sweep.minBy { case (b0, r0, nc, nf) => (-nf, nc, b0, r0) }
    (b, r)
  }

  /** Exact overlap counts computed ONLY for the given candidate pairs:
    * (a, b, shared, sza, szb) — the INTEGER carrier form, so a τ
    * threshold can be applied as the exact cross-multiplication
    * den·shared ≥ num·(sza+szb−shared) with no floating-point rounding
    * window. The element lists are first semi-joined down to candidate
    * members, so cost is bounded by the candidate set — the
    * LSH-then-verify shape that scales.
    */
  def overlapOnCandidates(elements: DataFrame, cands: DataFrame,
      elemCol: String = "word"): DataFrame = {
    val sizes = elements.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val members = cands.select(col("a").as("id"))
      .unionAll(cands.select(col("b").as("id"))).distinct()
    val bounded = elements.join(members, Seq("id"), "left_semi")
    val ea = bounded.select(col("id").as("a"), col(elemCol))
    val eb = bounded.select(col("id").as("b"), col(elemCol))
    val shared = cands.join(ea, Seq("a")).join(eb, Seq("b", elemCol))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
    cands.join(shared, Seq("a", "b"), "left")
      .withColumn("shared", coalesce(col("shared"), lit(0L)))
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"), Seq("a"))
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"), Seq("b"))
      .select(col("a"), col("b"), col("shared"), col("sza"), col("szb"))
  }

  /** Exact Jaccard similarity over the candidate pairs (double ratio
    * form of [[overlapOnCandidates]] — consumers that THRESHOLD should
    * prefer the integer carrier).
    */
  def jaccardOnCandidates(elements: DataFrame, cands: DataFrame,
      elemCol: String = "word"): DataFrame =
    overlapOnCandidates(elements, cands, elemCol)
      .select(col("a"), col("b"),
        (col("shared").cast("double") /
          (col("sza") + col("szb") - col("shared")).cast("double")).as("jaccard"))

  /** Brute-force all-pairs Jaccard over an inverted index on the
    * elements, thresholded. Exact; quadratic in per-element posting
    * lists — small corpora / oracle only. At scale use
    * [[lshCandidates]] + [[jaccardOnCandidates]].
    */
  def allPairsJaccard(elements: DataFrame, minJaccard: Double,
      elemCol: String = "word"): DataFrame = {
    val sizes = elements.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val ea = elements.select(col("id").as("a"), col(elemCol))
    val eb = elements.select(col("id").as("b"), col(elemCol))
    val shared = ea.join(eb, Seq(elemCol)).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"), Seq("a"))
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"), Seq("b"))
      .select(col("a"), col("b"),
        (col("shared").cast("double") /
          (col("sza") + col("szb") - col("shared")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Connected components over an undirected pair graph — turns near-dup
    * PAIRS (e.g. [[lshCandidates]]+[[jaccardOnCandidates]] output) into
    * duplicate CLUSTERS with a canonical id (= the minimum vertex id in
    * the component), the last step of a curation dedup pass (keep one
    * doc per component).
    *
    * Algorithm: iterative min-label propagation with a pointer-jumping
    * step (label ← label-of-label) each round, the standard Spark CC
    * shape (cf. Kiveris et al. "Connected Components in MapReduce",
    * two-phase star contractions): plain neighbor-min needs O(diameter)
    * rounds; the jump compresses chains so convergence is
    * O(log diameter). Each round is two shuffles (neighbor-min groupBy +
    * jump join), materialized + change-counted; labels only decrease,
    * so `changed == 0` is a fixpoint. At 100 TB: edges stay
    * hash-partitioned on `dst`/`src` across rounds (same key → shuffle
    * reuse), per-round state is one (id, component) row per vertex, and
    * AQE handles the shrinking change set; swap localCheckpoint for a
    * reliable checkpoint dir on a real cluster to bound lineage.
    *
    * LOCAL CONTRACTION pre-pass (long-id graphs): before the loop, one
    * `mapPartitions` runs a union-find over each partition's edges and
    * emits SHORTCUT EDGES (v → partition-local root) for every locally
    * non-root vertex. Shortcuts are ordinary transitive edges — both
    * endpoints provably lie in the same component — so ROUND SEMANTICS
    * ARE UNCHANGED; what changes is the effective diameter entering the
    * loop: a path that co-locates in one scan partition becomes a star
    * in round 1 instead of log₂(len) jump rounds. The pass reads the
    * already-persisted `sym` (zero extra scans of the caller's edge
    * pipeline — for q19 that pipeline IS the expensive part), adds at
    * most one shortcut per locally-non-root vertex, and bounds its
    * per-task hash map at `spark.graft.cc.maxLocalUnionEntries`
    * (default 4M ≈ a few hundred MB worst case): past the cap it stops
    * admitting NEW vertices but keeps unioning tracked ones — dropping
    * shortcuts only loses contraction speed, never correctness.
    * Non-long id domains skip the pre-pass (same loop, just unseeded).
    *
    * @param vertices one row per vertex, column `id` (numeric)
    * @param edges    undirected edges, columns `a`, `b`
    * @return (id, component) — component = min id in the vertex's
    *         connected component; isolated vertices map to themselves
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 50): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val symBase = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .persist()
    val spark = vertices.sparkSession
    val longIds = symBase.schema.fields.forall(_.dataType == LongType)
    val sym = if (!longIds) symBase else {
      val maxEntries = spark.conf.getOption("spark.graft.cc.maxLocalUnionEntries")
        .map(_.toInt).getOrElse(4_000_000)
      import spark.implicits._
      // The pass runs on symBase's NATURAL partitioning. A
      // repartitionByRange(src) first would maximize id locality
      // (whole id-neighborhood components collapse in one task), but
      // costs a sampling pass + a full edge shuffle — measured slower
      // at bench scale than the extra round or two the natural
      // partitioning needs; revisit the trade for graphs whose
      // diameter survives random partitioning.
      val shortcuts = symBase
        .as[(Long, Long)].mapPartitions { it =>
        // union-find with min-root union + path compression; roots are
        // always the smallest id seen in the local set, so emitted
        // shortcuts bias toward the component minimum
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var r = x0
          var p = parent.getOrDefault(r, r)
          while (p != r) { r = p; p = parent.getOrDefault(r, r) }
          var c = x0
          while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        it.foreach { case (a, b) =>
          val roomFor = 2 - (if (parent.containsKey(a)) 1 else 0) -
            (if (parent.containsKey(b)) 1 else 0)
          if (parent.size() + roomFor <= maxEntries) {
            if (!parent.containsKey(a)) parent.put(a, a)
            if (!parent.containsKey(b)) parent.put(b, b)
            val ra = find(a); val rb = find(b)
            if (ra < rb) parent.put(rb, ra)
            else if (rb < ra) parent.put(ra, rb)
          }
        }
        val keys = parent.keySet().toArray(Array.empty[java.lang.Long])
        keys.iterator.map(k => (k.longValue(), find(k))).filter { case (v, r) => v != r }
      }.toDF("src", "dst")
      // shortcuts symmetrized like any other edge
      symBase.unionAll(shortcuts)
        .unionAll(shortcuts.select(col("dst").as("src"), col("src").as("dst")))
        .persist()
    }
    var labels = vertices.select(col("id"), col("id").as("component"))
      .localCheckpoint(true)
    // FRONTIER optimization: a vertex's neighbor-min can only improve
    // through a neighbor whose label DECREASED last round, so the
    // edge-sized join runs against the frontier, not the full label
    // table — after the first rounds the frontier collapses and the
    // per-round edge work shrinks with it (the vertex-sized jump joins
    // stay full; they are what propagates older decreases transitively).
    // Invariant: the frontier holds every vertex whose label decreased
    // in the previous round (initially: everyone).
    //
    // Round structure is tuned for iterative-loop fixed costs (which
    // dominate on small rounds and are pure barrier overhead on a real
    // cluster): the start-of-round label rides along as `prev`, so the
    // frontier is a FILTER over the round's one materialized frame —
    // not a second join — and each round issues exactly ONE eager
    // materialization (localCheckpoint) plus one count. Pointer
    // jumping runs ONCE per round: nesting a second jump looks like it
    // halves rounds, but each jump is a non-materialized SELF-join, so
    // nesting doubles the duplicated upstream pipeline per level
    // (measured: a 2-level jump regressed the sf0.1 round from ~3 s to
    // minutes) — more rounds of a shallow DAG beat fewer rounds of a
    // deep one.
    var frontier = labels
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val nbrMin = sym
        .join(frontier.select(col("id").as("dst"), col("component")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("component")).as("nbr_min"))
        .select(col("src").as("id"), col("nbr_min"))
      val stepped = labels.select(col("id"), col("component").as("prev"))
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("prev"),
          least(col("prev"), coalesce(col("nbr_min"), col("prev")))
            .as("component"))
      // pointer jumping: component ← component's own current label
      def jump(df: DataFrame): DataFrame =
        df.join(df.select(col("id").as("component"), col("component").as("root")),
            Seq("component"), "left")
          .select(col("id"), col("prev"),
            least(col("component"), coalesce(col("root"), col("component")))
              .as("component"))
      val next = jump(stepped)
        .localCheckpoint(true) // truncate lineage across rounds
      frontier = next.filter(col("component") < col("prev"))
        .select(col("id"), col("component"))
      val changed = frontier.count()
      labels = next.select(col("id"), col("component"))
      done = changed == 0
      iter += 1
    }
    sym.unpersist()
    if (sym ne symBase) symBase.unpersist()
    labels
  }

  private val highNibble = Seq("8", "9", "a", "b", "c", "d", "e", "f")

  /** 16-bit SimHash from term frequencies (id, word, tf): bit i is the
    * sign of the tf-weighted sum of bit i across token hashes, where
    * "bit i" is the top bit of hex nibble i of md5(word). Truncated to
    * 16 bits so the oracle can express it.
    */
  def simhash16(tf: DataFrame): DataFrame = {
    val bitAggs = (0 until 16).map { i =>
      sum(when(substring(md5(col("word").cast("binary")), i + 1, 1).isin(highNibble: _*),
        col("tf")).otherwise(-col("tf"))).as(s"b$i")
    }
    val sums = tf.groupBy(col("id")).agg(bitAggs.head, bitAggs.tail: _*)
    val value = (0 until 16).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    sums.select(col("id").as("doc_id"), value.as("simhash16"))
  }
}
