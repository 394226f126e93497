package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables

/** Round-7 additions: approximate string record linkage, information-
  * theoretic quality scoring, a single-pass data-quality constraint
  * report, bigram language-model scoring, deterministic random-projection
  * embedding compression, and a referential-integrity audit.
  *
  * Shared contract with every other gated family: each query is paired
  * with a DuckDB oracle whose floating-point expressions use the SAME
  * form on both sides, quantized to integer nano/micro units BEFORE any
  * aggregation so the hash compare never sees reduce-order drift.
  */
object Round7Queries {

  // ---------------------------------------------------------------- q137
  /** Blocked fuzzy self-join (record linkage) over part names — the
    * approximate-STRING-join family (the string sibling of q16's
    * MinHash-LSH and q36's range join): block on a cheap exact key, pay
    * edit distance only inside blocks. Pipeline shape:
    *
    *   1. collapse the fact table to DISTINCT names + occurrence counts
    *      (corpus-sized scan, vocabulary-sized output — at 100 TB the
    *      name dictionary is what a linkage pass should iterate, never
    *      the raw rows; the reference's analogue is its all-pairs
    *      similarity, reference lab2.py:227, which this blocking
    *      decomposition replaces);
    *   2. self-join the dictionary on the blocking key (the name's head
    *      noun) — candidate pairs are block²-bounded, no cartesian;
    *   3. levenshtein(a, b) <= 3 as the verify step, a < b for a
    *      canonical pair orientation;
    *   4. linkage cardinality = cnt_a * cnt_b row pairs.
    *
    * Spark's `levenshtein` and DuckDB's are both the classic
    * unweighted edit-distance DP, so the verify threshold is engine-
    * portable exactly.
    */
  def q137FuzzyPartLinkage(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("cnt"))
      .withColumn("noun", try_element_at(split(col("p_name"), " "), lit(2)))
    val a = names.select(
      col("p_name").as("name_a"), col("cnt").as("cnt_a"), col("noun"))
    val b = names.select(
      col("p_name").as("name_b"), col("cnt").as("cnt_b"), col("noun"))
    a.join(b, Seq("noun"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 3)
      .select(col("name_a"), col("name_b"), col("dist"),
        (col("cnt_a") * col("cnt_b")).as("n_row_pairs"))
      .orderBy(col("name_a"), col("name_b"))
  }

  val q137Sql: String =
    """WITH names AS (
      |  SELECT p_name, count(*) AS cnt, string_split(p_name, ' ')[2] AS noun
      |  FROM part GROUP BY p_name)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
      |  CAST(a.cnt * b.cnt AS BIGINT) AS n_row_pairs
      |FROM names a JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 3
      |ORDER BY name_a, name_b""".stripMargin

  // ---------------------------------------------------------------- q138
  /** Per-document character-level Shannon entropy, rolled up per source —
    * the information-theoretic quality signal (gibberish and
    * pathologically repetitive text score low) alongside q26's ratio
    * heuristics and q42's unigram LM. The engine computes each document's
    * char histogram ROW-LOCALLY with higher-order array functions
    * (`array_distinct`/`filter` — no corpus×chars explode, zero extra
    * shuffle before the final source rollup), where the oracle pays an
    * unnest+groupBy; at 100 TB the explode-free scoring pass is the
    * difference between a map-only stage and a shuffle 100× the corpus.
    *
    * Exactness: each entropy term (p·ln p) is quantized to a nano-unit
    * long BEFORE summation (same `1e9 * (cnt / n) * ln(cnt / n)`
    * expression form both engines — the q98/q113 ln rule), so every
    * aggregate in the query is an integer sum, bit-identical under any
    * partitioning. `n` is the `n_chars` column (= octet_length(text),
    * verified 0 mismatches in testdata) used by BOTH sides, never a
    * re-derived length.
    */
  def q138CharEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      // native-codegen kernel ([[graft.functions.CharEntropyNano]]):
      // one tight pass per row inside whole-stage codegen. The
      // declarative HOF form ([[entropyNanoDeclarative]]) remains the
      // semantic contract (spec-pinned path equivalence) but pays
      // interpreted-lambda costs — 5.6 s (per-distinct-char filters),
      // 3.8 s (sort + run lengths), 2.3 s (native replace bodies)
      // at sf0.1 vs the expression's tight loop.
      .withColumn("entropy_nano",
        graft.functions.CharEntropyNanoFn(col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("entropy_nano")).as("sum_entropy_nano"))
      .orderBy(col("source"))

  /** The declarative higher-order-function form of q138's per-doc
    * entropy — the semantic CONTRACT the native expression must match
    * (spec-pinned path equivalence, the M1 RegexTokenizer pattern).
    * Histogram via native `replace` lambda bodies: occurrences(c) =
    * n_chars - length(replace(text, c, '')), so only `distinct`-many
    * interpreted lambda evals remain; split('') yields bare chars (no
    * empties — Java zero-width split). (n_chars = length(text),
    * verified testdata-wide; ASCII corpus so chars = bytes.)
    */
  def entropyNanoDeclarative: org.apache.spark.sql.Column =
    expr(
      """-aggregate(
        |  transform(array_distinct(split(text, '')), c ->
        |    cast(round(1e9 * ((n_chars - length(replace(text, c, ''))) / n_chars)
        |               * ln((n_chars - length(replace(text, c, ''))) / n_chars))
        |         as bigint)),
        |  cast(0 as bigint), (a, t) -> a + t)""".stripMargin)

  val q138Sql: String =
    """WITH chars AS (
      |  SELECT doc_id, source, n_chars AS n, unnest(string_split(text, '')) AS c
      |  FROM documents),
      |counts AS (
      |  SELECT doc_id, source, n, c, count(*) AS cnt FROM chars GROUP BY ALL),
      |docs AS (
      |  SELECT doc_id, source,
      |    -CAST(sum(CAST(round(1e9 * (cnt / n) * ln(cnt / n)) AS BIGINT))
      |          AS BIGINT) AS entropy_nano
      |  FROM counts GROUP BY 1, 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(entropy_nano) AS BIGINT) AS sum_entropy_nano
      |FROM docs GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q139
  /** Single-pass data-quality constraint report (the Deequ-style
    * validation suite a lake ingest runs before accepting a batch):
    * completeness (null text count), uniqueness (exact distinct key
    * count), range (min/max length), validity (lang in the allowed set;
    * text matches the clean-charset regex), and consistency (declared
    * n_chars equals the measured byte length). ONE corpus scan computes
    * every metric — the row-level checks are conditional sums fused into
    * a single aggregate (partial-agg'd map-side to one row per
    * partition); only the exact distinct count adds a keyed exchange.
    * At 100 TB that is one pass over the data instead of seven.
    *
    * Spark `octet_length` ↔ DuckDB `strlen` are both BYTE lengths (the
    * q27 rule); the charset regex is identical under Java regex and RE2.
    */
  def q139QualityReport(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("text").isNull, 1L).otherwise(0L)).as("n_null_text"),
      countDistinct(col("doc_id")).as("n_distinct_doc_id"),
      min(col("n_chars")).as("min_n_chars"),
      max(col("n_chars")).as("max_n_chars"),
      sum(when(col("lang").isin("de", "en", "es", "fr", "zh"), 1L)
        .otherwise(0L)).as("n_lang_valid"),
      sum(when(octet_length(col("text")) === col("n_chars"), 1L)
        .otherwise(0L)).as("n_len_consistent"),
      sum(when(col("text").rlike("^[a-z ]+$"), 1L).otherwise(0L))
        .as("n_text_clean"))

  val q139Sql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(*) FILTER (WHERE text IS NULL) AS BIGINT) AS n_null_text,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_doc_id,
      |  min(n_chars) AS min_n_chars,
      |  max(n_chars) AS max_n_chars,
      |  CAST(count(*) FILTER (WHERE lang IN ('de','en','es','fr','zh'))
      |       AS BIGINT) AS n_lang_valid,
      |  CAST(count(*) FILTER (WHERE strlen(text) = n_chars)
      |       AS BIGINT) AS n_len_consistent,
      |  CAST(count(*) FILTER (WHERE regexp_matches(text, '^[a-z ]+$'))
      |       AS BIGINT) AS n_text_clean
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- q140
  /** Add-k-smoothed bigram language-model scoring — the n-gram step up
    * from q42's unigram LM (fluency, not just vocabulary: word-ORDER
    * anomalies now lower the score). Train and score in one job:
    *
    *   - bigrams formed row-locally (posexplode + element_at over each
    *     doc's token array — no per-doc window, no doc_id exchange);
    *   - unigram counts (vocab-bounded) and the vocab size V broadcast
    *     back; the (source, w1, w2) count is the only corpus-sized
    *     keyed exchange;
    *   - per-bigram log-probability ln((c2+k)/(cu+k·V)), k=0.5,
    *     quantized to nano-unit longs before the per-source sum — every
    *     aggregate integer-exact (the q98/q113 ln rule again).
    *
    * At 100 TB the model tables stay dictionary-sized while the corpus
    * is touched by exactly one tokenize + one grouped count.
    */
  val BigramK = 0.5

  def q140BigramLm(s: SparkSession, dir: String): DataFrame = {
    // Row-local bigrams (guide §2.4): adjacent tokens come from the
    // SAME row's array, so the per-doc lead window — a full
    // corpus-token exchange + sort — bought nothing; posexplode anchors
    // w1 and element_at probes w2, all codegen. And the occurrence
    // stream never re-joins the corpus (§2.3 aggregate-before-shuffle):
    // every occurrence of (source, w1, w2) contributes the IDENTICAL
    // integer term t, so the per-source sums are cs·t over the grouped
    // counts — the old big⋈cb join shuffled every corpus bigram by
    // (w1, w2) to attach a value that only depends on its group key.
    // cs·t ≤ Σt of the old spelling, so overflow comes no earlier.
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
    val uni = docs.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val vsize = uni.agg(count(lit(1)).as("vsize"))
    val cbs = docs
      .select(col("source"), col("toks"),
        posexplode(col("toks")).as(Seq("pos", "w1")))
      .filter(col("pos") + 2 <= size(col("toks")))
      .select(col("source"), col("w1"),
        element_at(col("toks"), col("pos") + 2).as("w2"))
      .groupBy(col("source"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cs"))
    // corpus-wide pair count as a keyed window over the grouped table
    // (vocab²·|sources|-bounded) — no second corpus pass, no self-join
    val c2 = sum(col("cs")).over(Window.partitionBy(col("w1"), col("w2")))
    cbs.withColumn("c2", c2)
      .join(broadcast(uni.withColumnRenamed("w", "w1")), Seq("w1"))
      .crossJoin(broadcast(vsize))
      .withColumn("t",
        expr(s"cast(round(1e9 * ln((c2 + $BigramK) / (cu + $BigramK * vsize))) as bigint)"))
      .groupBy(col("source"))
      .agg(sum(col("cs")).as("n_bigrams"),
        sum(col("cs") * col("t")).as("sum_logprob_nano"))
      .orderBy(col("source"))
  }

  val q140Sql: String =
    s"""WITH lists AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       |tok AS (
       |  SELECT doc_id, source, unnest(toks) AS w,
       |         generate_subscripts(toks, 1) AS pos
       |  FROM lists),
       |uni AS (SELECT w, count(*) AS cu FROM tok GROUP BY w),
       |v AS (SELECT count(*) AS vsize FROM uni),
       |big AS (
       |  SELECT doc_id, source, w AS w1,
       |         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |  FROM tok QUALIFY w2 IS NOT NULL),
       |cb AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
       |terms AS (
       |  SELECT b.doc_id, b.source,
       |    CAST(round(1e9 * ln((c.c2 + $BigramK) / (u.cu + $BigramK * v.vsize)))
       |         AS BIGINT) AS t
       |  FROM big b JOIN cb c ON c.w1 = b.w1 AND c.w2 = b.w2
       |  JOIN uni u ON u.w = b.w1 CROSS JOIN v)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(t) AS BIGINT) AS sum_logprob_nano
       |FROM terms GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q141
  /** Johnson–Lindenstrauss random-projection embedding compression
    * (64 → 16 dims with a ±1 sign matrix): the standard cheap
    * dimensionality reduction before a 100 TB ANN or clustering pass —
    * cosine structure is approximately preserved (spec-asserted) at a
    * quarter of the vector bytes. The sign matrix is DERIVED, not
    * random-state: sign(i,j) = parity of the first hex digit of
    * md5("i_j"), so both engines (and any retry, any partitioning)
    * reconstruct the identical matrix — the rand()-free rule that keeps
    * every sampling query in this repo deterministic.
    *
    * The engine's projection is a ROW-LOCAL map (typedLit matrix +
    * zip_with/aggregate over quantized micro-unit longs — integer dot
    * products, no shuffle at all before the gate's output sort); the
    * oracle pays an unnest + 1024-row sign join + regroup. Scoring
    * 100 TB of embeddings is map-only.
    */
  val JlInDim  = 64
  val JlOutDim = 16

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** +1 when the first hex digit of md5("i_j") is even (1-based strpos
    * in the oracle is odd), else -1. */
  def jlSign(i: Int, j: Int): Long =
    if (Character.digit(md5Hex(s"${i}_${j}").charAt(0), 16) % 2 == 0) 1L else -1L

  /** Row j = output dim j's signs over the 64 input dims. */
  lazy val jlSigns: Seq[Seq[Long]] =
    (0 until JlOutDim).map(j => (0 until JlInDim).map(i => jlSign(i, j)))

  def q141JlProjection(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("signs", typedLit(jlSigns))
      .select(col("vec_id"), posexplode(expr(
        """transform(signs, row ->
          |  aggregate(zip_with(row, embedding,
          |                     (s, x) -> s * cast(round(1e6 * x) as bigint)),
          |            cast(0 as bigint), (a, b) -> a + b))""".stripMargin))
        .as(Seq("dim", "val_q")))
      .orderBy(col("vec_id"), col("dim"))

  val q141Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, unnest(embedding) AS x,
       |         generate_subscripts(embedding, 1) - 1 AS i
       |  FROM embeddings),
       |signs AS (
       |  SELECT i.range AS i, j.range AS j,
       |    CASE WHEN strpos('0123456789abcdef',
       |           substr(md5(CAST(i.range AS VARCHAR) || '_'
       |                      || CAST(j.range AS VARCHAR)), 1, 1)) % 2 = 1
       |         THEN 1 ELSE -1 END AS sgn
       |  FROM range($JlInDim) i, range($JlOutDim) j)
       |SELECT e.vec_id, CAST(s.j AS INTEGER) AS dim,
       |  CAST(sum(s.sgn * CAST(round(1e6 * e.x) AS BIGINT)) AS BIGINT) AS val_q
       |FROM e JOIN signs s ON s.i = e.i
       |GROUP BY 1, 2 ORDER BY vec_id, dim""".stripMargin

  // ---------------------------------------------------------------- q142
  /** Referential-integrity audit across the whole star schema — the
    * foreign-key half of q139's single-table constraint report (and the
    * relational cousin of q129's cascade-purge audit): for each declared
    * FK edge, total rows and orphan rows (fk value absent from the
    * referenced dimension). Each check is one left join against the
    * dimension's key column — AQE broadcasts every dimension side here;
    * at 100 TB only the two fact-table checks scan big data, and they
    * prune to the single FK column at the parquet reader. Orphan counts
    * are all zero on consistent testdata — the AUDIT is the operator;
    * the n_rows column keeps the gate hash data-dependent.
    */
  def q142FkAudit(s: SparkSession, dir: String): DataFrame = {
    def check(name: String, fact: DataFrame, fk: String,
              dim: DataFrame, pk: String): DataFrame =
      fact.select(col(fk).as("fkv"))
        .join(dim.select(col(pk).as("pkv")), col("fkv") === col("pkv"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("pkv").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("fk_name"), col("n_rows"), col("n_orphans"))
    val li = Tables.lineitem(s, dir); val ord = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir); val supp = Tables.supplier(s, dir)
    val nat = Tables.nation(s, dir); val reg = Tables.region(s, dir)
    val part = Tables.part(s, dir)
    Seq(
      check("customer.c_nationkey", cust, "c_nationkey", nat, "n_nationkey"),
      check("lineitem.l_orderkey", li, "l_orderkey", ord, "o_orderkey"),
      check("lineitem.l_partkey", li, "l_partkey", part, "p_partkey"),
      check("lineitem.l_suppkey", li, "l_suppkey", supp, "s_suppkey"),
      check("nation.n_regionkey", nat, "n_regionkey", reg, "r_regionkey"),
      check("orders.o_custkey", ord, "o_custkey", cust, "c_custkey"),
      check("supplier.s_nationkey", supp, "s_nationkey", nat, "n_nationkey"))
      .reduce(_ unionAll _)
      .orderBy(col("fk_name"))
  }

  val q142Sql: String = {
    def check(name: String, fact: String, fk: String,
              dim: String, pk: String): String =
      s"""SELECT '$name' AS fk_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) FILTER (WHERE d.$pk IS NULL) AS BIGINT) AS n_orphans
         |FROM $fact f LEFT JOIN $dim d ON d.$pk = f.$fk""".stripMargin
    Seq(
      check("customer.c_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
      check("lineitem.l_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      check("lineitem.l_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
      check("lineitem.l_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      check("nation.n_regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
      check("orders.o_custkey", "orders", "o_custkey", "customer", "c_custkey"),
      check("supplier.s_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fk_name")
  }

  // ---------------------------------------------------------------- q143
  /** Bloom-pruned semi-join — the RUNTIME-FILTER pattern (the manual
    * twin of Spark's `spark.sql.optimizer.runtime.bloomFilter.enabled`,
    * see [[Sketches]] scaladoc): build a broadcast Bloom filter over the
    * small filtered dimension (urgent high-value orders) and drop
    * non-matching fact rows AT THE SCAN STAGE, before any exchange; the
    * exact equi-join afterwards removes the ~fpp false positives, so the
    * RESULT is exact — which is what makes it oracle-gatable against a
    * plain join. At this testdata scale the dimension broadcasts anyway;
    * at 100 TB with a build side too big to broadcast, pruning the fact
    * table map-side before the shuffle is the difference between
    * exchanging the full corpus and exchanging the ~match fraction.
    * Money sums use the scaled-long exact idiom ([[RelationalOps]]).
    */
  def q143BloomPrunedRevenue(s: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT"
        && col("o_totalprice") > 150000)
      .select(col("o_orderkey").as("l_orderkey"))
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
      col("l_shipdate"), col("l_extendedprice"), col("l_discount"))
    val pruned = Sketches.bloomPrune(li, urgent, "l_orderkey",
      expectedItems = 1L << 17)
    pruned.join(urgent, Seq("l_orderkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_lines"),
        round(RelationalOps.exactMoneySum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 6)
          .as("revenue"))
      .orderBy(col("ship_month"))
  }

  val q143Sql: String =
    """WITH urgent AS (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000)
      |SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  round(CAST(sum(CAST(round(l.l_extendedprice*(1.0-l.l_discount)*10000, 0) AS BIGINT)) AS DOUBLE)/10000.0, 6) AS revenue
      |FROM lineitem l JOIN urgent u ON u.o_orderkey = l.l_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q144
  /** Trigram novelty across the content-hash train/test split — the
    * n-gram GENERALIZATION measure (q127 measures unigram OOV against a
    * top-K vocab; this measures how much of the test split's trigram
    * mass the train split has never seen — the memorization-vs-
    * generalization diagnostic run before trusting a held-out eval).
    * Same md5 content split as q48/q128 (duplicate texts land on one
    * side — contamination-proof), trigrams via a row-local `transform`
    * over token positions (explode only for the count joins), train
    * trigram set distinct (corpus-sized keyed exchange), one left join.
    * Docs with < 3 tokens have no trigrams and drop out of BOTH sides
    * identically.
    */
  def q144TrigramNovelty(s: SparkSession, dir: String): DataFrame = {
    val lists = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"),
        Sampling.md5Split("text").as("split"))
      .filter(size(col("toks")) >= 3)
    val bg = lists.select(col("doc_id"), col("source"), col("split"),
      explode(expr(
        """transform(sequence(1, size(toks) - 2), i ->
          |  concat(element_at(toks, i), ' ', element_at(toks, i + 1),
          |         ' ', element_at(toks, i + 2)))""".stripMargin)).as("b"))
    val trainset = bg.filter(col("split") === "train")
      .select(col("b")).distinct().withColumn("in_t", lit(1))
    bg.filter(col("split") === "test")
      .join(trainset, Seq("b"), "left")
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("in_t").isNull, 1L).otherwise(0L)).as("n_novel"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_test_docs"),
        sum(col("n_trigrams")).as("n_trigrams"),
        sum(col("n_novel")).as("n_novel"))
      .orderBy(col("source"))
  }

  val q144Sql: String =
    """WITH lists AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS toks,
      |    CASE WHEN substr(md5(text), 1, 1) < 'e' THEN 'train' ELSE 'test' END AS split
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, source, split,
      |    unnest(list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS b
      |  FROM lists),
      |trainset AS (SELECT DISTINCT b FROM bg WHERE split = 'train'),
      |test AS (
      |  SELECT g.source, g.doc_id, count(*) AS n_trigrams,
      |    count(*) FILTER (WHERE t.b IS NULL) AS n_novel
      |  FROM bg g LEFT JOIN trainset t USING (b)
      |  WHERE g.split = 'test' GROUP BY 1, 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_test_docs,
      |  CAST(sum(n_trigrams) AS BIGINT) AS n_trigrams,
      |  CAST(sum(n_novel) AS BIGINT) AS n_novel
      |FROM test GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q145
  /** Conjunctive keyword search (boolean retrieval AND-query): documents
    * containing ALL query terms. The naive plan explodes the corpus into
    * postings and intersects per doc (one corpus-sized exchange); this
    * one is a ROW-LOCAL `forall`/`array_contains` containment test —
    * a map-only scan, no shuffle before the output sort. The inverted-
    * index route only wins when the query terms are rare; for a
    * selectivity-unknown ad-hoc filter the scan IS the scalable plan
    * (and Parquet prunes to the one text column).
    */
  val SearchTerms: Seq[String] = Seq("spark", "join", "window")

  def q145ConjunctiveSearch(s: SparkSession, dir: String): DataFrame = {
    val termsArr = SearchTerms.map(t => s"'$t'").mkString(", ")
    Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .filter(expr(s"forall(array($termsArr), t -> array_contains(toks, t))"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  val q145Sql: String = {
    val termsArr = SearchTerms.map(t => s"'$t'").mkString(", ")
    s"""SELECT doc_id, lang, source FROM (
       |  SELECT doc_id, lang, source, string_split(text, ' ') AS toks
       |  FROM documents)
       |WHERE list_has_all(toks, [$termsArr])
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q146
  /** Positional phrase search ("key order" as ADJACENT tokens, not mere
    * co-occurrence — q145's ordered sibling): per-doc occurrence count
    * via the native codegen [[graft.functions.PhraseCountExpr]] — one
    * tight pass per row, no token-array materialization. The original
    * declarative form (`filter(sequence(1, size-1), i -> ...)`) paid
    * interpreted lambda evals per token position (28 s at sf0.1 for a
    * map-only scan — the q28/q138 anti-pattern); the expression is
    * value-identical by construction (Round7QueriesSpec pins both the
    * gate values and path-equivalence vs the declarative form). Still
    * map-only: scan → project → filter, zero exchanges before the
    * presentation sort.
    */
  val PhraseW1 = "key"
  val PhraseW2 = "order"

  def q146PhraseSearch(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_occ",
        graft.functions.PhraseCountFn(col("text"), PhraseW1, PhraseW2))
      .filter(col("n_occ") > 0)
      .select(col("doc_id"), col("n_occ"))
      .orderBy(col("doc_id"))

  val q146Sql: String =
    s"""SELECT doc_id, n_occ FROM (
       |  SELECT doc_id,
       |    CAST(len(list_filter(range(1, len(toks)),
       |         i -> toks[i] = '$PhraseW1' AND toks[i+1] = '$PhraseW2')) AS BIGINT) AS n_occ
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
       |WHERE n_occ > 0 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q147
  /** PII detection + redaction — the scrubbing pass every training-data
    * pipeline runs before release. The corpus is clean lowercase words,
    * so the query first APPENDS deterministic synthetic PII (email,
    * phone, IPv4 — `doc_id % 3` copies, so zero-match docs exercise the
    * no-op path too), then detects (`regexp_extract_all` counts) and
    * redacts (chained `regexp_replace`, email → ip → phone so no
    * pattern eats another's digits). The gate compares the per-doc
    * match COUNTS and the md5 OF THE REDACTED TEXT — a redactor that
    * matches differently, replaces a different occurrence set, or
    * mangles surrounding bytes hash-mismatches. Patterns avoid
    * lookaround and backreferences, the portable subset where Java
    * regex (Spark) and RE2 (DuckDB) agree exactly. Row-local map over
    * the corpus — the scrub scales like a scan.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\+1-555-[0-9]+"
  val IpRe    = "10\\.[0-9]+\\.0\\.1"

  def q147PiiRedaction(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("t", concat(col("text"), repeat(
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example or +1-555-"),
          (col("doc_id") % 10000).cast("string"),
          lit(" ip 10."), (col("doc_id") % 256).cast("string"),
          lit(".0.1")),
        (col("doc_id") % 3).cast("int"))))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(EmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(col("t"), lit(IpRe), lit(0)))
          .cast("long").as("n_ips"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
          lit(EmailRe), lit("<EMAIL>")),
          lit(IpRe), lit("<IP>")),
          lit(PhoneRe), lit("<PHONE>")).cast("binary")).as("redacted_md5"))
      .orderBy(col("doc_id"))

  val q147Sql: String =
    s"""WITH synth AS (
       |  SELECT doc_id,
       |    text || repeat(' contact user' || CAST(doc_id AS VARCHAR)
       |      || '@mail.example or +1-555-' || CAST(doc_id % 10000 AS VARCHAR)
       |      || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1',
       |      CAST(doc_id % 3 AS INT)) AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(t, '$IpRe')) AS BIGINT) AS n_ips,
       |  md5(regexp_replace(regexp_replace(regexp_replace(t,
       |      '$EmailRe', '<EMAIL>', 'g'),
       |      '$IpRe', '<IP>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
       |FROM synth ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q148
  /** Join-view incremental maintenance law — the JOIN half of IVM
    * (q130 proved the aggregate half):
    *
    *   R ⋈ S  =  R₀⋈S₀  ∪  R₀⋈ΔS  ∪  ΔR⋈S₀  ∪  ΔR⋈ΔS
    *
    * Generations split by md5 of each table's own row identity (NOT the
    * join key — splitting on the key would empty the cross terms and
    * prove nothing). The engine computes the four-term union and
    * aggregates; the oracle computes the plain full join — hash
    * equality IS the law. At 100 TB this is why a materialized join
    * view refreshes by joining only the deltas (three delta terms,
    * each ~|Δ|-sized) instead of re-joining two corpora; the old⋈old
    * term is the standing view.
    */
  def q148JoinIvm(s: SparkSession, dir: String): DataFrame = {
    def gen(df: DataFrame, idCols: Seq[String]): (DataFrame, DataFrame) = {
      val idc = concat_ws("|", idCols.map(c => col(c).cast("string")): _*)
      val tagged = df.withColumn("gen_old",
        substring(md5(idc.cast("binary")), 1, 1) < "8")
      (tagged.filter(col("gen_old")).drop("gen_old"),
        tagged.filter(!col("gen_old")).drop("gen_old"))
    }
    val (liOld, liDelta) = gen(
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_extendedprice"), col("l_discount")),
      Seq("l_orderkey", "l_linenumber"))
    val (ordOld, ordDelta) = gen(
      Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey")),
      Seq("o_orderkey", "o_custkey"))
    def term(li: DataFrame, ord: DataFrame): DataFrame =
      li.join(ord.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
    term(liOld, ordOld).unionAll(term(liOld, ordDelta))
      .unionAll(term(liDelta, ordOld)).unionAll(term(liDelta, ordDelta))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_lines"),
        round(RelationalOps.exactMoneySum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 6)
          .as("revenue"))
      .orderBy(col("ship_month"))
  }

  val q148Sql: String =
    """SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  round(CAST(sum(CAST(round(l.l_extendedprice*(1.0-l.l_discount)*10000, 0) AS BIGINT)) AS DOUBLE)/10000.0, 6) AS revenue
      |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q150
  /** Top-20 collocations by pointwise mutual information — phrase
    * induction / association mining over adjacent-token pairs (the
    * statistical cousin of q115's frequency-greedy BPE merges: PMI
    * surfaces pairs that co-occur MORE than their marginals predict,
    * not just often). PMI(a,b) = ln( (c2/B) / ((cu_a/T)(cu_b/T)) ),
    * support-filtered at c2 >= 5, quantized to nano longs, ranked with
    * a full deterministic tie-break (pmi desc, w1, w2). Every table in
    * the rank stage is vocabulary-bounded; the corpus is touched by one
    * tokenize + the two count aggregates (bigrams formed row-locally).
    * The global top-k runs on the vocab²-bounded pair table
    * (TakeOrdered, no corpus sort).
    */
  val PmiMinSupport = 5
  val PmiTopK = 20

  def q150PmiCollocations(s: SparkSession, dir: String): DataFrame = {
    // Row-local bigrams (the q140 rationale — guide §2.4: the lead
    // window shuffled+sorted every corpus token to consult a neighbor
    // already in the same row's array), and the scalar totals derived
    // from the model-sized tables instead of re-scanning the corpus:
    // t = Σcu over the unigram table, b = Σc2 over the UNFILTERED pair
    // table — identical sums, two fewer corpus passes (§1.2 step 1).
    // cb0 is vocab²-bounded; localCheckpoint so the support filter and
    // the b total share one evaluation. uni stays a plain aggregate so
    // both broadcast sides show their vocabulary bound in the plan.
    val toks = Tables.documents(s, dir).select(split(col("text"), " ").as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val cb0 = toks
      .select(col("toks"), posexplode(col("toks")).as(Seq("pos", "w1")))
      .filter(col("pos") + 2 <= size(col("toks")))
      .select(col("w1"), element_at(col("toks"), col("pos") + 2).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .localCheckpoint()
    val tt = uni.agg(sum(col("cu")).as("t"))
    val bt = cb0.agg(sum(col("c2")).as("b"))
    val cb = cb0.filter(col("c2") >= PmiMinSupport)
    cb.join(broadcast(uni.select(col("w").as("w1"), col("cu").as("cu1"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("cu").as("cu2"))), Seq("w2"))
      .crossJoin(broadcast(tt)).crossJoin(broadcast(bt))
      .withColumn("pmi_nano", expr(
        "cast(round(1e9 * ln((c2 / b) / ((cu1 / t) * (cu2 / t)))) as bigint)"))
      .select(col("w1"), col("w2"), col("c2"), col("pmi_nano"))
      .orderBy(col("pmi_nano").desc, col("w1"), col("w2"))
      .limit(PmiTopK)
  }

  val q150Sql: String =
    s"""WITH lists AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS w FROM lists),
       |uni AS (SELECT w, count(*) AS cu FROM tok GROUP BY w),
       |tt AS (SELECT count(*) AS t FROM tok),
       |bg AS (
       |  SELECT doc_id, w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |  FROM (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
       |        FROM lists)
       |  QUALIFY w2 IS NOT NULL),
       |cb AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
       |bt AS (SELECT count(*) AS b FROM bg)
       |SELECT c.w1, c.w2, CAST(c.c2 AS BIGINT) AS c2,
       |  CAST(round(1e9 * ln((c.c2 / bt.b) / ((u1.cu / tt.t) * (u2.cu / tt.t)))) AS BIGINT) AS pmi_nano
       |FROM cb c JOIN uni u1 ON u1.w = c.w1 JOIN uni u2 ON u2.w = c.w2
       |CROSS JOIN tt CROSS JOIN bt
       |WHERE c.c2 >= $PmiMinSupport
       |ORDER BY pmi_nano DESC, w1, w2 LIMIT $PmiTopK""".stripMargin

  // ---------------------------------------------------------------- q151
  /** Per-source KL divergence from the corpus unigram distribution —
    * the data-MIXTURE drift diagnostic (which source's token
    * distribution deviates most from the blend it feeds): KL(p_s‖q) =
    * Σ_w p_s(w)·ln(p_s(w)/q(w)). Finite by construction — every
    * source term has corpus support. Per-term nano quantization before
    * the per-source integer sum (q98/q113 ln rule); all stages keyed
    * on w or source, the per-source and corpus count tables both
    * vocabulary-bounded and broadcast back onto the per-(source, w)
    * table. The q88 mixture-weights query says how much each source
    * contributes; this says how DIFFERENT what it contributes is.
    */
  def q151SourceKlDrift(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
    val sw = tok.groupBy(col("source"), col("w")).agg(count(lit(1)).as("cs"))
    val st = tok.groupBy(col("source")).agg(count(lit(1)).as("ts"))
    val cw = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tt = tok.agg(count(lit(1)).as("t"))
    sw.join(broadcast(st), Seq("source"))
      .join(broadcast(cw), Seq("w"))
      .crossJoin(broadcast(tt))
      .withColumn("kl", expr(
        "cast(round(1e9 * (cs / ts) * ln((cs / ts) / (c / t))) as bigint)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"), sum(col("kl")).as("kl_nano"))
      .orderBy(col("source"))
  }

  val q151Sql: String =
    """WITH lists AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      |tok AS (SELECT source, unnest(toks) AS w FROM lists),
      |sw AS (SELECT source, w, count(*) AS cs FROM tok GROUP BY 1, 2),
      |st AS (SELECT source, count(*) AS ts FROM tok GROUP BY 1),
      |cw AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
      |tt AS (SELECT count(*) AS t FROM tok),
      |terms AS (
      |  SELECT s.source,
      |    CAST(round(1e9 * (s.cs / st.ts) * ln((s.cs / st.ts) / (cw.c / tt.t))) AS BIGINT) AS kl
      |  FROM sw s JOIN st ON st.source = s.source
      |  JOIN cw ON cw.w = s.w CROSS JOIN tt)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
      |  CAST(sum(kl) AS BIGINT) AS kl_nano
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q152
  /** Lake snapshot diff — the generation reconciliation report run
    * after every ingest (the read side of q122's CDC merge): old
    * generation vs new generation (deterministically synthesized:
    * doc_id % 13 deleted, % 7 edited, % 17 spawning a new row), rows
    * classified added / removed / changed / unchanged by a keyed
    * FULL OUTER join comparing content hashes — never content bytes;
    * at 100 TB the diff moves (key, md5) pairs, not documents. The
    * synthesis is in-engine and mirrored exactly by the oracle, the
    * q147 pattern.
    */
  def q152SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val a = docs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("ha"))
    val bBase = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" edited")))
          .otherwise(col("text")).cast("binary")).as("hb"))
    val bNew = docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        md5(concat(col("text"), lit(" new")).cast("binary")).as("hb"))
    a.join(bBase.unionAll(bNew), Seq("doc_id"), "full_outer")
      .select(when(col("ha").isNull, "added")
        .when(col("hb").isNull, "removed")
        .when(col("ha") =!= col("hb"), "changed")
        .otherwise("unchanged").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
      .orderBy(col("status"))
  }

  val q152Sql: String =
    """WITH a AS (SELECT doc_id, md5(text) AS ha FROM documents),
      |b AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' edited' ELSE text END) AS hb
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, md5(text || ' new') AS hb
      |  FROM documents WHERE doc_id % 17 = 0),
      |d AS (
      |  SELECT CASE WHEN a.ha IS NULL THEN 'added'
      |              WHEN b.hb IS NULL THEN 'removed'
      |              WHEN a.ha <> b.hb THEN 'changed'
      |              ELSE 'unchanged' END AS status
      |  FROM a FULL OUTER JOIN b ON b.doc_id = a.doc_id)
      |SELECT status, CAST(count(*) AS BIGINT) AS n
      |FROM d GROUP BY status ORDER BY status""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q137_fuzzy_part_linkage", q137FuzzyPartLinkage _, q137Sql),
    Query("q138_char_entropy", q138CharEntropy _, q138Sql),
    Query("q139_quality_report", q139QualityReport _, q139Sql),
    Query("q140_bigram_lm", q140BigramLm _, q140Sql),
    Query("q141_jl_projection", q141JlProjection _, q141Sql),
    Query("q142_fk_audit", q142FkAudit _, q142Sql),
    Query("q143_bloom_pruned_revenue", q143BloomPrunedRevenue _, q143Sql),
    Query("q144_trigram_novelty", q144TrigramNovelty _, q144Sql),
    Query("q145_conjunctive_search", q145ConjunctiveSearch _, q145Sql),
    Query("q146_phrase_search", q146PhraseSearch _, q146Sql),
    Query("q147_pii_redaction", q147PiiRedaction _, q147Sql),
    Query("q148_join_ivm", q148JoinIvm _, q148Sql),
    Query("q150_pmi_collocations", q150PmiCollocations _, q150Sql),
    Query("q151_source_kl_drift", q151SourceKlDrift _, q151Sql),
    Query("q152_snapshot_diff", q152SnapshotDiff _, q152Sql),
  )
}
