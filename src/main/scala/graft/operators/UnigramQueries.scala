package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables
import graft.text.{TextPrep, UnigramLm}

/** Unigram-LM tokenizer-trainer queries ([[graft.text.UnigramLm]] —
  * the SentencePiece counterpart of q115's BPE trainer), DuckDB-
  * oracled end to end: the oracle replays seeding, micro-quantized
  * scoring, the Viterbi DP (set-based recursive CTEs replaying the
  * engine's `aggregate` folds with identical integer tie-breaks — see
  * the roundCtes comment for why not list_reduce), hard-EM recounts,
  * and the final vocabulary ranking — so the hash gates the whole
  * training loop, not a summary of it.
  */
object UnigramQueries {

  private val P = UnigramLm.MaxPieceLen
  private val R = UnigramLm.EmRounds

  // ------------------------------------------------------------ q266
  /** The trained vocabulary — the model artifact (q115's merge-list
    * counterpart): top [[UnigramLm.VocabSize]] pieces by final-round
    * Viterbi usage (count desc, piece asc), with the served smoothed
    * score. The ranking window is over the model's USED pieces —
    * vocabulary-sized, the q126 class.
    */
  def q266UnigramVocab(s: SparkSession, dir: String): DataFrame = {
    val m = UnigramLm.train(s, dir)
    // distributed top-VocabSize FIRST (TakeOrderedAndProject), THEN the
    // rank window over the ≤VocabSize survivors — the window never sees
    // the full trained-counts table (total order ⇒ same set and ranks)
    m.counts.join(m.scores, Seq("piece"))
      .select(col("piece"), length(col("piece")).cast("long").as("piece_len"),
        col("cnt"), col("s").as("score_micro"))
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(UnigramLm.VocabSize)
      // bounded: rk window rides the ≤ VocabSize survivors of the
      // distributed top-n above (TakeOrderedAndProject), never the corpus
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("cnt").desc, col("piece").asc)).cast("long"))
      .orderBy(col("rk"))
  }

  // ------------------------------------------------------------ q267
  /** Per-word Viterbi segmentation under the final round's scores —
    * the E-step gated directly: the md5 over the \u0001-joined piece
    * sequence makes a single wrong DP tie-break or off-by-one
    * substring hash-visible (the q114 merged_hash discipline).
    */
  def q267UnigramSegment(s: SparkSession, dir: String): DataFrame = {
    val m = UnigramLm.train(s, dir)
    m.seg.select(col("word"), col("n"), col("n_pieces"), col("score_micro"),
        md5(concat_ws("\u0001", col("pieces")).cast("binary")).as("seg_hash"))
      .orderBy(col("word"))
  }

  // ------------------------------------------------------------ q269
  /** Unigram CORPUS ENCODE — the deploy half of the q266/q267 trainer,
    * completing the unigram lifecycle the way q126 completed BPE's
    * (train → encode → pack): every document becomes its piece-id
    * SEQUENCE under the trained model, with the per-doc fertility
    * (pieces per word) that q156 measures for BPE. Ids are dense ranks
    * over the model's USED pieces (final-round Viterbi counts, count
    * desc / piece asc — the q126 vocabulary ranking, vocabulary-sized).
    *
    * THE SCALE SHAPE: per-word piece-id arrays are assembled ONCE on
    * the distinct-word table (vocabulary-scale flatten + broadcast id
    * join — the trainer's own discipline), so the corpus-side cost is
    * one word-keyed equi-join of the exploded corpus against the
    * word→ids table and one doc_id-keyed reassembly — the only
    * corpus-sized exchanges, identical to q126's. The md5 over the
    * comma-joined id sequence makes a single wrong rank, tie-break, or
    * word-order slip hash-visible; empty docs encode to the empty
    * sequence (md5("") — the q126 left-join contract).
    */
  /** The model's word→piece-id ENCODING ARTIFACT: per trained word,
    * its ordered piece-id array (ids = dense ranks over the model's
    * used pieces, count desc / piece asc). Assembled ONCE at
    * vocabulary scale (flatten + broadcast id join — the trainer's own
    * discipline); this is the deployable artifact the encode probes,
    * the q78 state-lives-in-the-artifact pattern. */
  def modelWordIds(m: UnigramLm.Model): DataFrame = {
    // global rank window: bounded input — m.counts' support is the
    // seed vocabulary (≤ MaxSeedPieces + alphabet by construction),
    // and every piece needs an id, so a limit cannot apply
    val vocabIds = m.counts
      .withColumn("id", row_number()
        .over(Window.orderBy(col("cnt").desc, col("piece").asc)).cast("long"))
      .select(col("piece"), col("id"))
    m.seg
      .select(col("word"), posexplode(col("pieces")).as(Seq("ppos", "piece")))
      .join(broadcast(vocabIds), Seq("piece"))
      .groupBy(col("word"))
      .agg(sort_array(collect_list(struct(col("ppos"), col("id")))).as("ps"))
      .select(col("word"), expr("transform(ps, p -> p.id)").as("wid"))
  }

  /** The encode CORE shared by q269 and q279: documents against a
    * frozen [[modelWordIds]] artifact. Per-doc
    * output is row-local given the artifact — one word-keyed corpus
    * join + one doc_id-keyed reassembly, the only corpus-sized
    * exchanges — so ANY doc-partitioned micro-batch split unions to
    * exactly the batch result. Words absent from the artifact (possible
    * only for new text — the batch gate encodes the training corpus) are
    * COUNTED in `n_oov` and excluded from the id sequence, never
    * silently dropped. Docs need (doc_id, text). */
  def encodeAgainst(docs: DataFrame, wordIds: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), TextPrep.tokensCol(col("text")).as("toks"))
    val enc = toks
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("wpos", "word")))
      .join(wordIds, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("wpos"), col("wid")))).as("ws"),
        sum(when(col("wid").isNull, 1L).otherwise(0L)).as("oov"))
      .select(col("doc_id"), col("oov"),
        expr("flatten(transform(filter(ws, w -> w.wid is not null), w -> w.wid))")
          .as("ids"))
    toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_words"))
      .join(enc, Seq("doc_id"), "left")
      .withColumn("ids", coalesce(col("ids"), expr("array()")))
      .withColumn("n_oov", coalesce(col("oov"), lit(0L)))
      .select(col("doc_id"), col("n_words"), col("n_oov"),
        size(col("ids")).cast("long").as("n_pieces"),
        // fertility = pieces per ENCODED word (n_oov = 0 at the batch
        // gate, so this is pieces/word there; NULL when nothing encodes)
        round(size(col("ids")).cast("double") /
          nullif((col("n_words") - col("n_oov")).cast("double"), lit(0.0)), 6)
          .as("fertility"),
        expr("try_element_at(ids, 1)").as("first_id"),
        md5(concat_ws(",",
          expr("transform(ids, i -> cast(i as string))")).cast("binary"))
          .as("ids_hash"))
  }

  def q269UnigramEncode(s: SparkSession, dir: String): DataFrame =
    encodeAgainst(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      modelWordIds(UnigramLm.train(s, dir)))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------ q270
  /** Unigram DECODE round-trip — the acceptance test that closes the
    * unigram lifecycle the way q167 closed BPE's (q266 train → q269
    * encode → THIS → verify): the [[modelWordIds]] artifact's id
    * sequences map back through the REVERSED vocabulary (id → piece,
    * the same dense ranks q269 assigned), pieces reassemble in
    * position order, and the space-joined per-doc result must
    * reproduce the normalized text exactly. Losslessness is a theorem
    * here — Viterbi segmentation covers each word exactly
    * (UnigramLmSpec's reassembly law) — and this query is that theorem
    * run distributed and hash-gated per document (`ok` emitted as 0/1,
    * the q167 acceptance shape).
    *
    * THE SCALE SHAPE: decoding happens ONCE at vocabulary scale — the
    * artifact's id arrays explode against a broadcast id→piece table
    * and regroup word-keyed (|vocab| rows under the MaxSeedPieces
    * cap) — so the corpus pays exactly q269's two exchanges: one
    * word-keyed broadcast join of the exploded corpus against the
    * decoded-word table, one doc_id-keyed reassembly. No corpus-sized
    * window, no second corpus scan.
    */
  /** The decode CORE behind q270, reusable against arbitrary docs (the
    * encodeAgainst symmetry): documents round-tripped through the
    * model's id sequences. Contract on words the model never trained
    * (possible only off the gate — the batch gate decodes the training
    * corpus): the inner word join drops them from the decoded text, so
    * the doc comes back `ok = 0` — a doc that cannot be losslessly
    * encoded is FLAGGED, never silently passed (EdgeCaseSpec pins
    * this, plus empty docs round-tripping at ok = 1). Docs need
    * (doc_id, text). */
  def decodeRoundTrip(docs: DataFrame, m: UnigramLm.Model): DataFrame = {
    // reversed vocabulary: the SAME dense ranking q269 encodes under
    // (bounded: seed-capped vocabulary, see modelWordIds)
    val idPiece = m.counts
      .withColumn("id", row_number()
        .over(Window.orderBy(col("cnt").desc, col("piece").asc)).cast("long"))
      .select(col("id"), col("piece"))
    val decodedWords = modelWordIds(m)
      .select(col("word"), posexplode(col("wid")).as(Seq("ppos", "id")))
      .join(broadcast(idPiece), Seq("id"))
      .groupBy(col("word"))
      .agg(sort_array(collect_list(struct(col("ppos"), col("piece")))).as("ps"))
      .select(col("word"),
        expr("array_join(transform(ps, p -> p.piece), '')").as("dword"))
    val toks = docs
      .select(col("doc_id"), TextPrep.tokensCol(col("text")).as("toks"))
    val dec = toks
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("wpos", "word")))
      .join(broadcast(decodedWords), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("wpos"), col("dword")))).as("ws"))
      .select(col("doc_id"),
        expr("array_join(transform(ws, w -> w.dword), ' ')").as("decoded"))
    toks.select(col("doc_id"), concat_ws(" ", col("toks")).as("orig"))
      .join(dec, Seq("doc_id"), "left")
      .withColumn("decoded", coalesce(col("decoded"), lit("")))
      .select(col("doc_id"),
        octet_length(col("decoded")).cast("long").as("n_bytes"),
        md5(col("decoded").cast("binary")).as("decoded_hash"),
        when(col("decoded") === col("orig"), 1L).otherwise(0L).as("ok"))
  }

  def q270UnigramDecode(s: SparkSession, dir: String): DataFrame =
    decodeRoundTrip(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      UnigramLm.train(s, dir))
      .orderBy(col("doc_id"))

  // --------------------------------------------------------- oracle
  // shared prefix: word counts + seed + initial scores. `lists` is the
  // module-shared tokenizer CTE (TextStatsQueries.listsCte's contract,
  // restated here to keep this module self-contained — same regex).
  private val prefixCtes: String =
    s"""lists AS MATERIALIZED (
       |  SELECT doc_id,
       |         list_filter(string_split(trim(regexp_replace(lower(text), '(\\d|\\W)+', ' ', 'g')), ' '), x -> x <> '') AS toks
       |  FROM documents),
       |wc AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(toks) AS word FROM lists) t GROUP BY word),
       |spans AS MATERIALIZED (
       |  SELECT word, n, c.j AS j, c.l AS l,
       |         substr(word, (c.j - c.l + 1)::INTEGER, (c.l)::INTEGER) AS piece
       |  FROM (SELECT word, n,
       |          unnest(flatten(list_transform(range(1, length(word) + 1),
       |            j -> list_transform(range(1, least($P, j) + 1),
       |                 l -> {'j': j, 'l': l})))) AS c
       |        FROM wc)),
       |seedall AS MATERIALIZED (
       |  SELECT piece, CAST(sum(n) AS BIGINT) AS cnt FROM spans GROUP BY piece),
       |seed AS MATERIALIZED (
       |  SELECT piece, cnt FROM seedall WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt,
       |           row_number() OVER (ORDER BY cnt DESC, piece ASC) AS srk
       |    FROM seedall WHERE length(piece) > 1 AND cnt >= ${UnigramLm.MinSeedCount})
       |  WHERE srk <= ${UnigramLm.MaxSeedPieces}),
       |sc0 AS MATERIALIZED (
       |  SELECT piece, CAST(round(1e6 * ln(CAST(cnt AS DOUBLE) /
       |           (SELECT CAST(sum(cnt) AS DOUBLE) FROM seed)), 0) AS BIGINT) AS s
       |  FROM seed)""".stripMargin

  // one EM round: candidates under sc{i-1} -> DP -> path -> counts ->
  // smoothed -> sc{i}. The DP and the backtrack are RECURSIVE CTEs —
  // deliberately lambda-free: DuckDB 1.0's list_reduce corrupts
  // column references captured inside multi-row lambda folds (verified
  // on this corpus: pieces reconstructed from OTHER rows' words), so
  // the oracle replays the engine's `aggregate` folds with set-based
  // recursion instead. Each DP step packs its (negscore, n_pieces,
  // 4 - piece_len) candidate rank into one BIGINT (the rankAdcTopK
  // packed-ord trick; valid for words under 2^14 chars and
  // |score| < 2^26 micro — both far past any tokenized word) so the
  // argmin is a scalar least() and the winner decodes arithmetically,
  // reproducing UnigramLm.viterbiSegment's (ns asc, np asc, nl asc)
  // struct sort exactly.
  // ONE Viterbi DP + backtrack chain under the score table `sc`, CTE
  // names suffixed `sfx` — shared by the EM rounds (sfx = round index,
  // sc = previous round's scores) and q275's per-vocab-size sweep
  // (sfx = v<V>, sc = the pruned vocabulary's restricted scores): the
  // oracle replays the engine's ONE viterbiSegment body everywhere it
  // is called, the bandingAutoSql/bm25SweepCtes sharing convention.
  private def dpChain(sfx: String, sc: String): String = {
    val sentinel = "4611686018427387904"
    val cell = (l: Int) => {
      val dpIdx = s"d.dp[d.j + ${2 - l}]"
      s"CASE WHEN c.s$l IS NOT NULL THEN ($dpIdx.ns - c.s$l) * 131072 + ($dpIdx.np + 1) * 8 + ${4 - l} ELSE $sentinel END"
    }
    s"""candp$sfx AS MATERIALIZED (
       |  SELECT sp.word, sp.j,
       |         max(CASE WHEN sp.l = 1 THEN sc.s END) AS s1,
       |         max(CASE WHEN sp.l = 2 THEN sc.s END) AS s2,
       |         max(CASE WHEN sp.l = 3 THEN sc.s END) AS s3,
       |         max(CASE WHEN sp.l = 4 THEN sc.s END) AS s4
       |  FROM spans sp JOIN $sc sc USING (piece) GROUP BY sp.word, sp.j),
       |dpr$sfx AS (
       |  SELECT word, 0 AS j,
       |         [{'ns': 0::BIGINT, 'np': 0::BIGINT, 'nl': 0::BIGINT}] AS dp
       |  FROM wc
       |  UNION ALL
       |  SELECT d.word, d.j + 1,
       |    list_append(d.dp, {
       |      'ns': kmin // 131072,
       |      'np': (kmin // 8) % 16384,
       |      'nl': (kmin % 8) - 4})
       |  FROM (
       |    SELECT d.word, d.j, d.dp, least(
       |      ${cell(1)},
       |      ${cell(2)},
       |      ${cell(3)},
       |      ${cell(4)}) AS kmin
       |    FROM dpr$sfx d JOIN candp$sfx c ON c.word = d.word AND c.j = d.j + 1
       |    WHERE d.j < length(d.word)) d),
       |dpf$sfx AS MATERIALIZED (
       |  SELECT w.word, w.n, d.dp
       |  FROM wc w JOIN dpr$sfx d ON d.word = w.word AND d.j = length(w.word)),
       |walk$sfx AS (
       |  SELECT word, CAST(length(word) AS INTEGER) AS pos,
       |         CAST(NULL AS VARCHAR) AS piece, dp
       |  FROM dpf$sfx
       |  UNION ALL
       |  SELECT word, (pos + dp[pos + 1].nl)::INTEGER,
       |         substr(word, (pos + dp[pos + 1].nl + 1)::INTEGER,
       |                (-dp[pos + 1].nl)::INTEGER), dp
       |  FROM walk$sfx WHERE pos > 0),
       |seg$sfx AS MATERIALIZED (
       |  SELECT f.word, f.n, f.dp, p.pieces
       |  FROM dpf$sfx f JOIN (
       |    SELECT word, list(piece ORDER BY pos) AS pieces
       |    FROM walk$sfx WHERE piece IS NOT NULL GROUP BY word) p USING (word))"""
      .stripMargin
  }

  private def roundCtes(i: Int): String = {
    val sc = if (i == 1) "sc0" else s"sc${i - 1}"
    s"""${dpChain(i.toString, sc)},
       |vc$i AS MATERIALIZED (
       |  SELECT piece, CAST(sum(n) AS BIGINT) AS cnt
       |  FROM (SELECT n, unnest(pieces) AS piece FROM seg$i) t GROUP BY piece),
       |sm$i AS MATERIALIZED (
       |  SELECT s.piece, CAST(COALESCE(v.cnt, 0) + 1 AS BIGINT) AS cnt
       |  FROM seed s LEFT JOIN vc$i v USING (piece)),
       |sc$i AS MATERIALIZED (
       |  SELECT piece, CAST(round(1e6 * ln(CAST(cnt AS DOUBLE) /
       |           (SELECT CAST(sum(cnt) AS DOUBLE) FROM sm$i)), 0) AS BIGINT) AS s
       |  FROM sm$i)""".stripMargin
  }

  private val allCtes: String =
    (prefixCtes +: (1 to R).map(roundCtes)).mkString(",\n")

  val q266Sql: String =
    s"""WITH RECURSIVE $allCtes
       |SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len, cnt,
       |       s AS score_micro, rk
       |FROM (
       |  SELECT v.piece, v.cnt, sc.s,
       |         CAST(row_number() OVER (ORDER BY v.cnt DESC, v.piece ASC)
       |              AS BIGINT) AS rk
       |  FROM vc$R v JOIN sc$R sc USING (piece))
       |WHERE rk <= ${UnigramLm.VocabSize}
       |ORDER BY rk""".stripMargin

  val q267Sql: String =
    s"""WITH RECURSIVE $allCtes
       |SELECT word, n, CAST(len(pieces) AS BIGINT) AS n_pieces,
       |       -dp[length(word) + 1].ns AS score_micro,
       |       md5(array_to_string(pieces, chr(1))) AS seg_hash
       |FROM seg$R
       |ORDER BY word""".stripMargin

  val q269Sql: String =
    s"""WITH RECURSIVE $allCtes,
       |vocabids AS (
       |  SELECT piece, CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC)
       |         AS BIGINT) AS id
       |  FROM vc$R),
       |wp AS (
       |  SELECT word, unnest(pieces) AS piece,
       |         unnest(range(1, len(pieces) + 1)) AS ppos
       |  FROM seg$R),
       |wids AS (
       |  SELECT word, list(id ORDER BY ppos) AS wid
       |  FROM wp JOIN vocabids USING (piece) GROUP BY word),
       |dt AS (
       |  SELECT doc_id, unnest(toks) AS word,
       |         unnest(range(1, len(toks) + 1)) AS wpos
       |  FROM lists),
       |enc AS (
       |  SELECT doc_id,
       |         flatten(list(wid ORDER BY wpos) FILTER (WHERE wid IS NOT NULL))
       |           AS ids,
       |         count(*) FILTER (WHERE wid IS NULL) AS oov
       |  FROM dt LEFT JOIN wids USING (word) GROUP BY doc_id)
       |SELECT l.doc_id, CAST(len(l.toks) AS BIGINT) AS n_words,
       |       CAST(COALESCE(e.oov, 0) AS BIGINT) AS n_oov,
       |       CAST(len(COALESCE(e.ids, [])) AS BIGINT) AS n_pieces,
       |       round(CAST(len(COALESCE(e.ids, [])) AS DOUBLE)
       |             / nullif(CAST(len(l.toks) - COALESCE(e.oov, 0) AS DOUBLE),
       |                      0.0), 6) AS fertility,
       |       COALESCE(e.ids, [])[1] AS first_id,
       |       md5(array_to_string(
       |         list_transform(COALESCE(e.ids, []), x -> CAST(x AS VARCHAR)),
       |         ',')) AS ids_hash
       |FROM lists l LEFT JOIN enc e USING (doc_id)
       |ORDER BY l.doc_id""".stripMargin

  val q270Sql: String =
    s"""WITH RECURSIVE $allCtes,
       |vocabids AS (
       |  SELECT piece, CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC)
       |         AS BIGINT) AS id
       |  FROM vc$R),
       |wp AS (
       |  SELECT word, unnest(pieces) AS piece,
       |         unnest(range(1, len(pieces) + 1)) AS ppos
       |  FROM seg$R),
       |wids AS (
       |  SELECT word, list(id ORDER BY ppos) AS wid
       |  FROM wp JOIN vocabids USING (piece) GROUP BY word),
       |dw AS (
       |  SELECT word, unnest(wid) AS id,
       |         unnest(range(1, len(wid) + 1)) AS ppos
       |  FROM wids),
       |dwords AS (
       |  SELECT dw.word,
       |         array_to_string(list(v.piece ORDER BY dw.ppos), '') AS dword
       |  FROM dw JOIN vocabids v USING (id) GROUP BY dw.word),
       |dt AS (
       |  SELECT doc_id, unnest(toks) AS word,
       |         unnest(range(1, len(toks) + 1)) AS wpos
       |  FROM lists),
       |dec AS (
       |  SELECT doc_id, array_to_string(list(dword ORDER BY wpos), ' ')
       |           AS decoded
       |  FROM dt JOIN dwords USING (word) GROUP BY doc_id)
       |SELECT l.doc_id,
       |       CAST(strlen(COALESCE(d.decoded, '')) AS BIGINT) AS n_bytes,
       |       md5(COALESCE(d.decoded, '')) AS decoded_hash,
       |       CAST(CASE WHEN COALESCE(d.decoded, '')
       |                      = array_to_string(l.toks, ' ')
       |            THEN 1 ELSE 0 END AS BIGINT) AS ok
       |FROM lists l LEFT JOIN dec d USING (doc_id)
       |ORDER BY l.doc_id""".stripMargin

  // ------------------------------------------------------------ q275
  /** Engine-chosen VOCABULARY SIZE — the tokenizer layer's last human
    * dial closed (round-10 verdict task #3; the q252→q263 arc replayed
    * for [[UnigramLm.VocabSize]]): the engine MEASURES corpus
    * fertility at every swept size ([[UnigramLm.fertilityAt]] — one
    * vocabulary-scale E-step per point over the prune ladder of the
    * SAME trained counts, never a re-train: Kudo 2018 trains large
    * and prunes, the sweep reads the ladder), picks with the pure
    * exact-rational [[UnigramLm.chooseVocabSize]] rule (smallest size
    * within the fertility budget; largest-swept fallback at the
    * corpus' compressibility floor), and SERVES the segmentation under
    * the chosen pruned vocabulary, choice on every row. The oracle
    * replays measurement (one DP chain per swept size — the shared
    * [[dpChain]] body), rule, AND serve — the decision itself is
    * hash-gated, and the budget sits where the two gate fixtures
    * choose DIFFERENT sizes (sf0.01 → 48, sf0.001 → 64), so the gate
    * pins the rule discriminating. UnigramLmSpec pins the coverage
    * floor, the prune-ladder construction, and the fallback branch.
    */
  def q275VocabSizeAuto(s: SparkSession, dir: String): DataFrame = {
    val m = UnigramLm.train(s, dir)
    val curve = UnigramLm.VocabSweep.map { v =>
      val (num, den) = UnigramLm.fertilityAt(m.wc, m.seed, m.counts, v)
      (v, num, den)
    }
    val chosen = UnigramLm.chooseVocabSize(curve, UnigramLm.MaxFertilityMicro)
    UnigramLm.viterbiSegment(m.wc,
        UnigramLm.vocabScores(m.seed, m.counts,
          UnigramLm.prunedVocab(m.seed, m.counts, chosen)))
      .select(lit(chosen.toLong).as("vocab_size"), col("word"), col("n"),
        col("n_pieces"), col("score_micro"),
        md5(concat_ws("\u0001", col("pieces")).cast("binary")).as("seg_hash"))
      .orderBy(col("word"))
  }

  // per-swept-size oracle chain: pruned vocab (all singles + ranked
  // multi quota), restricted+renormalized scores, the shared DP chain,
  // and the exact-integer fertility pair
  private def vocabChainCtes(v: Int): String =
    s"""vocabv$v AS MATERIALIZED (
       |  SELECT piece FROM seed WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece FROM (
       |    SELECT piece, row_number() OVER (ORDER BY cnt DESC, piece ASC)
       |             AS mrk
       |    FROM vc$R WHERE length(piece) > 1)
       |  WHERE mrk <= greatest(0, $v -
       |    (SELECT count(*) FROM seed WHERE length(piece) = 1))),
       |smv$v AS MATERIALIZED (
       |  SELECT s.piece, s.cnt FROM sm$R s JOIN vocabv$v USING (piece)),
       |scv$v AS MATERIALIZED (
       |  SELECT piece, CAST(round(1e6 * ln(CAST(cnt AS DOUBLE) /
       |           (SELECT CAST(sum(cnt) AS DOUBLE) FROM smv$v)), 0) AS BIGINT)
       |           AS s
       |  FROM smv$v),
       |${dpChain(s"v$v", s"scv$v")},
       |fertv$v AS MATERIALIZED (
       |  SELECT $v AS vocab_size,
       |         CAST(sum(n * len(pieces)) AS BIGINT) AS fert_num,
       |         CAST(sum(n) AS BIGINT) AS fert_den
       |  FROM segv$v)""".stripMargin

  // the sweep WITH-body (training replay + per-size prune chains +
  // fertility curve + the replayed chooseVocabSize rule) and the
  // chosen-size served-segmentation join — SHARED by q275 and q277:
  // the persisted-choice oracle replays the IDENTICAL measurement and
  // rule, so a stale or corrupted artifact hash-mismatches (the
  // bm25SweepCtes sharing convention)
  private[operators] val vocabSweepCtes: String = {
    val chains = UnigramLm.VocabSweep.map(vocabChainCtes).mkString(",\n")
    val fertUnion = UnigramLm.VocabSweep
      .map(v => s"SELECT * FROM fertv$v").mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE $allCtes,
       |$chains,
       |fert AS (
       |  $fertUnion),
       |-- UnigramLm.chooseVocabSize replayed: exact HUGEINT
       |-- cross-multiplication; smallest satisfying size, largest-swept
       |-- fallback when every point misses the budget
       |chosenv AS (
       |  SELECT vocab_size FROM (
       |    SELECT vocab_size,
       |      CASE WHEN CAST(fert_num AS HUGEINT) * 1000000
       |                <= CAST(${UnigramLm.MaxFertilityMicro} AS HUGEINT)
       |                   * fert_den
       |           THEN 0 ELSE 1 END AS miss
       |    FROM fert)
       |  ORDER BY miss ASC,
       |           CASE WHEN miss = 0 THEN vocab_size END ASC NULLS LAST,
       |           vocab_size DESC
       |  LIMIT 1)""".stripMargin
  }

  private val servedVocabUnion: String = UnigramLm.VocabSweep
    .map(v => s"SELECT $v AS vocab_size, word, n, pieces, dp FROM segv$v")
    .mkString("\n    UNION ALL ")

  val q275Sql: String =
    s"""$vocabSweepCtes
       |SELECT CAST(c.vocab_size AS BIGINT) AS vocab_size, t.word, t.n,
       |       CAST(len(t.pieces) AS BIGINT) AS n_pieces,
       |       -t.dp[length(t.word) + 1].ns AS score_micro,
       |       md5(array_to_string(t.pieces, chr(1))) AS seg_hash
       |FROM ($servedVocabUnion) t
       |JOIN chosenv c ON t.vocab_size = c.vocab_size
       |ORDER BY t.word""".stripMargin

  // ------------------------------------------------------------ q277
  /** PERSISTED VOCABULARY CHOICE — the q272/q273 corpus-stamped-
    * artifact discipline applied to the tokenizer dial, closing the
    * last `choose*` rule still re-measured on every call: q275 pays
    * training (seed + hard-EM) PLUS the four-point prune-ladder
    * fertility sweep per invocation; this query serves the
    * segmentation from the `choices/unigram-vocab` artifact. The
    * artifact persists BOTH the decision record (stamp, budget, the
    * exact-integer fertility curve, the chosen size) and the chosen
    * pruned vocabulary's renormalized serving scores — so a warm serve
    * pays the stamp pass, a ≤[[UnigramLm.VocabSize]]-row artifact
    * read, and the one corpus-scale pass the serve itself IS (word
    * counts + broadcast-score Viterbi) — ZERO training and ZERO sweep
    * jobs (UnigramLmSpec proves it with a throwing train thunk). Cold
    * or stale (the [[ChoiceStore.documentsStamp]] moved): ONE
    * training run, the ladder sweep, [[UnigramLm.chooseVocabSize]],
    * artifact rewritten under the current stamp — scores first, the
    * stamp-bearing curve last, so a torn write never presents as warm.
    * The serve always flows artifact → segment (scores re-read after
    * ensure), and the gated rows carry the choice AND the stamp; the
    * oracle recomputes stamp, training, sweep, rule, and serve
    * independently, so a stale or corrupted artifact hash-mismatches.
    *
    * 100 TB shape: training amortizes to zero across every encode
    * until the corpus stamp moves — exactly how production tokenizers
    * deploy (train offline, freeze the vocabulary artifact, serve) —
    * and the artifact invalidates BY MEASUREMENT, not by schedule.
    */
  final case class VocabChoice(docRows: Long, docContent: Long,
      budgetMicro: Long, curve: Seq[(Int, Long, Long)], chosen: Int)

  private[graft] def vocabChoicePath(sfDir: String): String =
    new java.io.File(
      s"target/choices/unigram-vocab/${PathTag.tagFor(sfDir)}").getAbsolutePath

  private[graft] def vocabChoiceWrite(s: SparkSession, path: String,
      c: VocabChoice, scores: DataFrame): Unit = {
    import s.implicits._
    // vocab (serving scores) FIRST, stamp-bearing curve LAST: warmness
    // is gated on the curve's stamp, so a torn write leaves a cold —
    // never a half-written-warm — artifact
    scores.repartition(1).write.mode("overwrite").parquet(s"$path/vocab")
    c.curve.map { case (v, num, den) =>
      (c.docRows, c.docContent, c.budgetMicro, v, num, den, v == c.chosen)
    }.toDF("doc_rows", "doc_content", "budget_micro", "vocab_size",
        "fert_num", "fert_den", "chosen")
      .repartition(1).write.mode("overwrite").parquet(s"$path/curve")
  }

  private[graft] def vocabChoiceRead(s: SparkSession,
      path: String): Option[VocabChoice] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/curve")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    // Try: a torn artifact (dir present, no readable footer) degrades
    // to the cold path instead of throwing forever (round-11 advice)
    else scala.util.Try {
      val rows = s.read.parquet(s"$path/curve")
        .orderBy(col("vocab_size")).collect()
      if (rows.isEmpty) None
      else {
        val h = rows.head
        val curve = rows.toSeq.map(r => (r.getAs[Int]("vocab_size"),
          r.getAs[Long]("fert_num"), r.getAs[Long]("fert_den")))
        rows.find(_.getAs[Boolean]("chosen")).map { ch =>
          VocabChoice(h.getAs[Long]("doc_rows"), h.getAs[Long]("doc_content"),
            h.getAs[Long]("budget_micro"), curve,
            ch.getAs[Int]("vocab_size"))
        }
      }
    }.toOption.flatten
  }

  /** Ensure a valid persisted vocabulary for the current corpus stamp,
    * sweep, and budget; `train` is call-by-need so the warm path
    * provably never trains or sweeps (the q272 thunk law). */
  private[graft] def ensureVocabChoice(s: SparkSession, dir: String,
      train: () => UnigramLm.Model): VocabChoice =
    EnsureLock.withLock(vocabChoicePath(dir)) {
    // sidecar form: warm validation is metadata-scale (round-11
    // verdict #1), exactly equal to the content fold
    val (dr, dc) = ChoiceStore.documentsStampCachedFor(s, dir)
    val path = vocabChoicePath(dir)
    val warm = vocabChoiceRead(s, path).filter(c =>
      c.docRows == dr && c.docContent == dc &&
        c.budgetMicro == UnigramLm.MaxFertilityMicro &&
        c.curve.map(_._1).sorted == UnigramLm.VocabSweep.sorted)
    warm.getOrElse {
      // cross-process fence around the mutating phase only (the
      // ArtifactClaim doctrine); warm ensures stay claim-free reads
      graft.io.ArtifactClaim.withClaim(s, path, "vocab train") {
        val m = train()
        val curve = UnigramLm.VocabSweep.map { v =>
          val (num, den) = UnigramLm.fertilityAt(m.wc, m.seed, m.counts, v)
          (v, num, den)
        }
        val chosen = UnigramLm.chooseVocabSize(curve,
          UnigramLm.MaxFertilityMicro)
        val c = VocabChoice(dr, dc, UnigramLm.MaxFertilityMicro,
          curve.sortBy(_._1), chosen)
        vocabChoiceWrite(s, path, c,
          UnigramLm.vocabScores(m.seed, m.counts,
            UnigramLm.prunedVocab(m.seed, m.counts, chosen)))
        c
      }
    }
    }

  /** Bench-prep surface: ensure the persisted vocabulary artifact is
    * warm for `dir` — training + sweep are offline corpus maintenance,
    * run here untimed (the prepareBm25ParamsChoice convention); the
    * timed number is the warm serve a deployment pays. */
  def prepareVocabChoice(s: SparkSession, dir: String): Unit = {
    ensureVocabChoice(s, dir, () => UnigramLm.train(s, dir))
    ()
  }

  def q277VocabChoicePersist(s: SparkSession, dir: String): DataFrame = {
    ensureVocabChoice(s, dir, () => UnigramLm.train(s, dir))
    val path = vocabChoicePath(dir)
    // re-read so the serve flows artifact → segment (q272 discipline)
    val c = vocabChoiceRead(s, path).getOrElse(
      sys.error("q277: choice artifact vanished after ensure"))
    val scores = s.read.parquet(s"$path/vocab")
    UnigramLm.viterbiSegment(
        UnigramLm.wordCounts(Tables.documents(s, dir)), scores)
      .select(lit(c.chosen.toLong).as("vocab_size"), col("word"), col("n"),
        col("n_pieces"), col("score_micro"),
        md5(concat_ws("\u0001", col("pieces")).cast("binary")).as("seg_hash"),
        lit(c.docRows).as("doc_rows"), lit(c.docContent).as("doc_content"))
      .orderBy(col("word"))
  }

  // ------------------------------------------------------------ q279
  /** The word→piece-id ENCODING ARTIFACT derived from the PERSISTED
    * vocabulary alone — [[modelWordIds]]'s deploy twin with no trainer
    * in the loop: piece ids are dense ranks over the artifact's
    * serving scores (score desc, piece asc — ORDER-EQUIVALENT to the
    * q269 count ranking, because the micro-quantized ln-score is
    * monotone in the smoothed count and ties at equal count are equal
    * score), so the id table, the segmentation, and therefore the
    * whole encode are functions of the `choices/unigram-vocab/vocab`
    * parquet and the incoming text — nothing else. Words carrying an
    * untrained character have no Viterbi path and are simply ABSENT
    * from this table, so [[encodeAgainst]] counts them in `n_oov`.
    * The ranking window is vocabulary-sized
    * (≤ the chosen size — the q126 class). */
  def vocabWordIds(words: DataFrame, scores: DataFrame): DataFrame = {
    val ids = scores
      .withColumn("id", row_number()
        .over(Window.orderBy(col("s").desc, col("piece").asc)).cast("long"))
      .select(col("piece"), col("id"))
    val alphabet = scores.filter(length(col("piece")) === 1)
      .collect().map(_.getString(0)).sorted.mkString
    val segmentable = words
      .filter(length(translate(col("word"), alphabet, "")) === 0)
      .select(col("word")).distinct()
      .withColumn("n", lit(1L))
    UnigramLm.viterbiSegment(segmentable, scores)
      .select(col("word"), posexplode(col("pieces")).as(Seq("ppos", "piece")))
      .join(broadcast(ids), Seq("piece"))
      .groupBy(col("word"))
      .agg(sort_array(collect_list(struct(col("ppos"), col("id")))).as("ps"))
      .select(col("word"), expr("transform(ps, p -> p.id)").as("wid"))
  }

  /** CORPUS ENCODE under the persisted CHOSEN vocabulary — q269's
    * deploy twin and the last verb of the persisted-tokenizer story
    * (train → choose → persist → segment → ENCODE, every serving step
    * off the artifact): ensure the q277 choice is warm, then run the
    * SAME [[encodeAgainst]] core q269 uses,
    * against [[vocabWordIds]] built from the artifact's scores. The
    * gated rows carry the chosen size AND the corpus stamp; the
    * oracle recomputes stamp, training, sweep, rule, id ranking, and
    * the per-doc encode independently, so a stale artifact or a wrong
    * id assignment hash-mismatches per document. Scale shape: q269's
    * exactly (word-keyed corpus join + doc-keyed reassembly; ids
    * assembled at vocabulary scale).
    */
  def q279VocabChoiceEncode(s: SparkSession, dir: String): DataFrame = {
    ensureVocabChoice(s, dir, () => UnigramLm.train(s, dir))
    val path = vocabChoicePath(dir)
    val c = vocabChoiceRead(s, path).getOrElse(
      sys.error("q279: choice artifact vanished after ensure"))
    val scores = s.read.parquet(s"$path/vocab")
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    encodeAgainst(docs,
        vocabWordIds(UnigramLm.wordCounts(docs).select(col("word")), scores))
      .select(lit(c.chosen.toLong).as("vocab_size"), col("doc_id"),
        col("n_words"), col("n_oov"), col("n_pieces"), col("fertility"),
        col("first_id"), col("ids_hash"),
        lit(c.docRows).as("doc_rows"), lit(c.docContent).as("doc_content"))
      .orderBy(col("doc_id"))
  }

  // per-size id assignment + encode chain: ids rank the pruned
  // vocabulary's scores (scv) — the engine's (s desc, piece asc);
  // word→id lists ride the chosen DP chain's segmentation
  private def encodeChainCtes(v: Int): String =
    s"""vocabidsv$v AS MATERIALIZED (
       |  SELECT piece, CAST(row_number() OVER (ORDER BY s DESC, piece ASC)
       |         AS BIGINT) AS id
       |  FROM scv$v),
       |widsv$v AS MATERIALIZED (
       |  SELECT wp.word, list(i.id ORDER BY wp.ppos) AS wid
       |  FROM (
       |    SELECT word, unnest(pieces) AS piece,
       |           unnest(range(1, len(pieces) + 1)) AS ppos
       |    FROM segv$v) wp
       |  JOIN vocabidsv$v i USING (piece) GROUP BY wp.word),
       |encv$v AS MATERIALIZED (
       |  SELECT dt.doc_id,
       |         flatten(list(w.wid ORDER BY dt.wpos)
       |                 FILTER (WHERE w.wid IS NOT NULL)) AS ids,
       |         count(*) FILTER (WHERE w.wid IS NULL) AS oov
       |  FROM (
       |    SELECT doc_id, unnest(toks) AS word,
       |           unnest(range(1, len(toks) + 1)) AS wpos
       |    FROM lists) dt
       |  LEFT JOIN widsv$v w USING (word) GROUP BY dt.doc_id)""".stripMargin

  val q279Sql: String = {
    val chains = UnigramLm.VocabSweep.map(encodeChainCtes).mkString(",\n")
    val encUnion = UnigramLm.VocabSweep
      .map(v => s"SELECT $v AS vocab_size, doc_id, ids, oov FROM encv$v")
      .mkString("\n    UNION ALL ")
    s"""$vocabSweepCtes,
       |$chains,
       |dstamp AS (${ChoiceStore.documentsStampSql})
       |SELECT CAST(c.vocab_size AS BIGINT) AS vocab_size, l.doc_id,
       |       CAST(len(l.toks) AS BIGINT) AS n_words,
       |       CAST(COALESCE(e.oov, 0) AS BIGINT) AS n_oov,
       |       CAST(len(COALESCE(e.ids, [])) AS BIGINT) AS n_pieces,
       |       round(CAST(len(COALESCE(e.ids, [])) AS DOUBLE)
       |             / nullif(CAST(len(l.toks) - COALESCE(e.oov, 0) AS DOUBLE),
       |                      0.0), 6) AS fertility,
       |       COALESCE(e.ids, [])[1] AS first_id,
       |       md5(array_to_string(
       |         list_transform(COALESCE(e.ids, []), x -> CAST(x AS VARCHAR)),
       |         ',')) AS ids_hash,
       |       ds.doc_rows, ds.doc_content
       |FROM lists l
       |CROSS JOIN chosenv c
       |LEFT JOIN ($encUnion) e
       |  ON e.doc_id = l.doc_id AND e.vocab_size = c.vocab_size
       |CROSS JOIN dstamp ds
       |ORDER BY l.doc_id""".stripMargin
  }

  val q277Sql: String =
    s"""$vocabSweepCtes,
       |dstamp AS (${ChoiceStore.documentsStampSql})
       |SELECT CAST(c.vocab_size AS BIGINT) AS vocab_size, t.word, t.n,
       |       CAST(len(t.pieces) AS BIGINT) AS n_pieces,
       |       -t.dp[length(t.word) + 1].ns AS score_micro,
       |       md5(array_to_string(t.pieces, chr(1))) AS seg_hash,
       |       ds.doc_rows, ds.doc_content
       |FROM ($servedVocabUnion) t
       |JOIN chosenv c ON t.vocab_size = c.vocab_size
       |CROSS JOIN dstamp ds
       |ORDER BY t.word""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q266_unigram_vocab", q266UnigramVocab _, q266Sql),
    Query("q267_unigram_segment", q267UnigramSegment _, q267Sql),
    Query("q269_unigram_encode", q269UnigramEncode _, q269Sql),
    Query("q270_unigram_decode", q270UnigramDecode _, q270Sql),
    Query("q275_vocab_size_auto", q275VocabSizeAuto _, q275Sql),
    Query("q277_vocab_choice_persist", q277VocabChoicePersist _, q277Sql),
    Query("q279_vocab_choice_encode", q279VocabChoiceEncode _, q279Sql),
  )
}
