package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables
import graft.graph.GraphOps

/** Link-analysis queries over the synthetic document graph (the q44
  * edge fixture), each with a DuckDB oracle. Complements the other two
  * graph primitives (connected components q19/q44, triangles q66) with
  * the iterative-propagation family.
  */
object GraphQueries {

  val PrIters = 3
  val PrScale = 1000000000L

  // --------------------------------------------------------------- q101
  /** Fixed-point PageRank ([[GraphOps.pageRankScaled]]) over the
    * symmetrized q44 graph — the centrality signal a curation pipeline
    * uses to weight documents by their position in a similarity/link
    * graph (well-connected hub docs vs isolated tails).
    *
    * Every rank is a scaled long and every reduction an integer sum,
    * so the result is bit-identical under any partitioning AND in the
    * oracle: DuckDB replays the same three unrolled rounds with `//`
    * floor division (identical to Spark's `div` on the all-positive
    * mass values; DuckDB's wider HUGEINT intermediate sums agree with
    * Spark's exact long sums because nothing overflows 63 bits — the
    * operator `require`s that against the real vertex count).
    */
  def q101PageRank(s: SparkSession, dir: String): DataFrame = {
    val docs = DedupQueries.graphVertices(s, dir).select(col("doc_id").as("id"))
    val e = DedupQueries.synthEdges(s, dir)
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    GraphOps.pageRankScaled(docs, sym, PrIters, PrScale)
      .select(col("id").as("doc_id"), col("pr").as("pr_scaled"))
      .orderBy(col("doc_id"))
  }

  val q101Sql: String = {
    val base = PrScale * 15L / 100L
    def round(prev: String, it: String): String =
      s"""$it AS (
         |  SELECT v.id,
         |         CAST($base + (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM $prev v LEFT JOIN (
         |    SELECT e.dst, sum(p.pr // o.d) AS s
         |    FROM sym e JOIN outdeg o ON o.src = e.src
         |               JOIN $prev p ON p.id = e.src
         |    GROUP BY e.dst) s ON s.dst = v.id)"""
    val rounds = (1 to PrIters)
      .map(i => round(if (i == 1) "pr0" else s"it${i - 1}", s"it$i"))
      .mkString(",\n")
    s"""WITH ${DedupQueries.synthEdgeCtes},
       |sym AS (SELECT a AS src, b AS dst FROM edges
       |        UNION ALL SELECT b AS src, a AS dst FROM edges),
       |outdeg AS (SELECT src, count(*) AS d FROM sym GROUP BY src),
       |pr0 AS (SELECT doc_id AS id, CAST($PrScale AS BIGINT) AS pr
       |        FROM documents),
       |$rounds
       |SELECT id AS doc_id, pr AS pr_scaled FROM it$PrIters
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q109
  /** Personalized PageRank ([[GraphOps.personalizedPageRankScaled]])
    * from the deterministic seed set doc_id % 50 = 0 — proximity-to-
    * trusted-docs ranking ("find more like this curated set"), the
    * graph-side companion of q102's embedding-side similarity. Same
    * integer exactness as q101; unreachable vertices rank 0 by
    * construction (teleport mass never lands on them).
    */
  val SeedMod = 50

  def q109PersonalizedPageRank(s: SparkSession, dir: String): DataFrame = {
    val docs = DedupQueries.graphVertices(s, dir).select(col("doc_id").as("id"))
    val e = DedupQueries.synthEdges(s, dir)
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    val seeds = docs.filter(col("id") % SeedMod === 0)
    GraphOps.personalizedPageRankScaled(docs, sym, seeds, PrIters, PrScale)
      .select(col("id").as("doc_id"), col("pr").as("ppr_scaled"))
      .orderBy(col("doc_id"))
  }

  val q109Sql: String = {
    val base = PrScale * 15L / 100L
    def round(prev: String, it: String): String =
      s"""$it AS (
         |  SELECT v.id,
         |         CAST(CASE WHEN v.id % $SeedMod = 0 THEN $base ELSE 0 END
         |              + (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM $prev v LEFT JOIN (
         |    SELECT e.dst, sum(p.pr // o.d) AS s
         |    FROM sym e JOIN outdeg o ON o.src = e.src
         |               JOIN $prev p ON p.id = e.src
         |    GROUP BY e.dst) s ON s.dst = v.id)"""
    val rounds = (1 to PrIters)
      .map(i => round(if (i == 1) "pr0" else s"it${i - 1}", s"it$i"))
      .mkString(",\n")
    s"""WITH ${DedupQueries.synthEdgeCtes},
       |sym AS (SELECT a AS src, b AS dst FROM edges
       |        UNION ALL SELECT b AS src, a AS dst FROM edges),
       |outdeg AS (SELECT src, count(*) AS d FROM sym GROUP BY src),
       |pr0 AS (SELECT doc_id AS id,
       |               CAST(CASE WHEN doc_id % $SeedMod = 0 THEN $PrScale
       |                         ELSE 0 END AS BIGINT) AS pr
       |        FROM documents),
       |$rounds
       |SELECT id AS doc_id, pr AS ppr_scaled FROM it$PrIters
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q110
  /** One round of majority-vote label propagation
    * ([[GraphOps.labelPropagationRound]]): the doc_id % 10 = 0 subset
    * keeps its true `lang` as a trusted seed label; every other doc
    * takes the majority lang among its labeled graph neighbors (ties
    * to the alphabetically smallest), or stays unlabeled if no
    * neighbor is seeded. The weak-supervision primitive: propagate a
    * small audited label set one hop along the similarity/link graph
    * before training a classifier on the rest.
    */
  val LabelMod = 10

  def q110LabelPropagation(s: SparkSession, dir: String): DataFrame = {
    // bare scan: only doc_id/lang are read, no per-row CPU (see
    // DedupQueries.graphVertices for the graph-fixture rationale)
    val docs = Tables.table(s, dir, "documents")
    val verts = docs.select(col("doc_id").as("id"))
    val e = DedupQueries.synthEdges(s, dir)
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    val labeled = docs.filter(col("doc_id") % LabelMod === 0)
      .select(col("doc_id").as("id"), col("lang").as("label"))
    GraphOps.labelPropagationRound(verts, sym, labeled)
      .select(col("id").as("doc_id"), col("label"), col("origin"))
      .orderBy(col("doc_id"))
  }

  val q110Sql: String =
    s"""WITH ${DedupQueries.synthEdgeCtes},
       |sym AS (SELECT a AS src, b AS dst FROM edges
       |        UNION ALL SELECT b AS src, a AS dst FROM edges),
       |seeds AS (SELECT doc_id AS id, lang AS label FROM documents
       |          WHERE doc_id % $LabelMod = 0),
       |counts AS (
       |  SELECT e.dst, l.label, count(*) AS votes
       |  FROM sym e JOIN seeds l ON l.id = e.src
       |  GROUP BY e.dst, l.label),
       |mx AS (SELECT dst, max(votes) AS mv FROM counts GROUP BY dst),
       |won AS (
       |  SELECT c.dst AS id, min(c.label) AS won
       |  FROM counts c JOIN mx ON mx.dst = c.dst AND c.votes = mx.mv
       |  GROUP BY c.dst)
       |SELECT d.doc_id,
       |       coalesce(s.label, w.won) AS label,
       |       CASE WHEN s.label IS NOT NULL THEN 'seed'
       |            WHEN w.won IS NOT NULL THEN 'propagated'
       |            ELSE 'unlabeled' END AS origin
       |FROM documents d
       |LEFT JOIN seeds s ON s.id = d.doc_id
       |LEFT JOIN won w ON w.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------- q136
  /** Bounded k-core peeling ([[GraphOps.kCorePeel]]) over the
    * symmetrized q44 graph — the DENSITY filter the component-level
    * primitives lack: q19/q44 lump a cycle-rich core and the dangling
    * chains hanging off it into one component; rounds of "drop
    * degree < 2" peel the dangling periphery inward (at fixpoint the
    * 2-core is exactly the union of cycles). Fourth graph primitive
    * (CC, triangles, PageRank family, k-core). Output = the residual
    * degree table after the final peel; on this fixture three rounds
    * peel 18 chain-end vertices and keep a 482-vertex core (k = 3
    * would empty the graph — the chain backbone is degree 2).
    * The oracle unrolls the identical three rounds as nested CTEs —
    * same bounded-rounds contract as q101's unrolled PageRank.
    */
  val CoreK = 2
  val CoreRounds = 3

  def q136KCore(s: SparkSession, dir: String): DataFrame = {
    val e = DedupQueries.synthEdges(s, dir)
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    GraphOps.kCorePeel(sym, CoreK, CoreRounds)
      .select(col("id").as("doc_id"), col("degree"))
      .orderBy(col("doc_id"))
  }

  val q136Sql: String = {
    def round(i: Int): String = {
      val prev = if (i == 1) "sym" else s"e${i - 1}"
      s"""keep$i AS (
         |  SELECT src AS v FROM (
         |    SELECT src, count(*) AS d FROM $prev GROUP BY src)
         |  WHERE d >= $CoreK),
         |e$i AS (
         |  SELECT e.src, e.dst FROM $prev e
         |  JOIN keep$i x ON x.v = e.src
         |  JOIN keep$i y ON y.v = e.dst)""".stripMargin
    }
    val rounds = (1 to CoreRounds).map(round).mkString(",\n")
    s"""WITH ${DedupQueries.synthEdgeCtes},
       |sym AS (SELECT a AS src, b AS dst FROM edges
       |        UNION ALL SELECT b AS src, a AS dst FROM edges),
       |$rounds
       |SELECT src AS doc_id, count(*) AS degree
       |FROM e$CoreRounds GROUP BY src ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q149
  /** Bounded-round BFS depth ([[GraphOps.bfsDepth]]) over the
    * symmetrized q44 graph from the `doc_id % 101 = 0` seed set — the
    * DISTANCE primitive (fifth graph primitive after CC, triangles,
    * the PageRank family, and the k-core): hop distance from a
    * flagged-document seed set is the contamination-radius measure a
    * near-dup graph audit wants ("everything within 2 hops of a known
    * bad doc"). Four rounds; the oracle unrolls the identical
    * min-over-frontier recurrence as nested CTEs (the q101/q136
    * bounded-rounds contract). Output: every reached vertex with its
    * nearest-seed hop count.
    */
  val BfsRounds = 4

  def q149BfsDepth(s: SparkSession, dir: String): DataFrame = {
    val e = DedupQueries.synthEdges(s, dir)
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    val seeds = DedupQueries.graphVertices(s, dir)
      .filter(col("doc_id") % 101 === 0)
      .select(col("doc_id").as("id"))
    GraphOps.bfsDepth(sym, seeds, BfsRounds)
      .select(col("id").as("doc_id"), col("depth"))
      .orderBy(col("doc_id"))
  }

  val q149Sql: String = {
    def round(k: Int): String =
      s"""v$k AS (
         |  SELECT id, min(d) AS d FROM (
         |    SELECT id, d FROM v${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, CAST($k AS BIGINT) AS d
         |    FROM sym e JOIN v${k - 1} v ON v.id = e.src AND v.d = ${k - 1})
         |  GROUP BY id)""".stripMargin
    val rounds = (1 to BfsRounds).map(round).mkString(",\n")
    s"""WITH ${DedupQueries.synthEdgeCtes},
       |sym AS (SELECT a AS src, b AS dst FROM edges
       |        UNION ALL SELECT b AS src, a AS dst FROM edges),
       |v0 AS (SELECT doc_id AS id, CAST(0 AS BIGINT) AS d
       |       FROM documents WHERE doc_id % 101 = 0),
       |$rounds
       |SELECT id AS doc_id, d AS depth FROM v$BfsRounds ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q223
  /** Weighted single-source shortest paths (bounded Bellman–Ford) —
    * the cost-aware sibling of q149's hop BFS: edges carry the
    * deterministic integer weight 1 + (a + b) mod 5 (both engines,
    * no float, no rand), seeds are the q149 flagged set, and after R
    * rounds every reached vertex holds its exact minimum cost USING AT
    * MOST R HOPS (the bounded-rounds contract — deterministic whether
    * or not converged; the oracle unrolls the identical min-relaxation
    * recurrence as nested CTEs). Unlike BFS the full settled set
    * relaxes every round: a cheaper path can arrive late through a
    * heavier prefix — exactly what hop-count BFS gets wrong, which the
    * spec demonstrates (some vertex's min cost uses MORE hops than its
    * BFS depth).
    */
  val SsspRounds = 4

  def q223Sssp(s: SparkSession, dir: String): DataFrame = {
    val e = DedupQueries.synthEdges(s, dir)
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      .withColumn("w", lit(1L) + pmod(col("src") + col("dst"), lit(5)))
    val seeds = DedupQueries.graphVertices(s, dir)
      .filter(col("doc_id") % 101 === 0)
      .select(col("doc_id").as("id"))
    GraphOps.sssp(sym, seeds, SsspRounds)
      .select(col("id").as("doc_id"), col("dist"))
      .orderBy(col("doc_id"))
  }

  val q223Sql: String = {
    def round(k: Int): String =
      s"""v$k AS (
         |  SELECT id, min(d) AS d FROM (
         |    SELECT id, d FROM v${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, v.d + e.w AS d
         |    FROM sym e JOIN v${k - 1} v ON v.id = e.src)
         |  GROUP BY id)""".stripMargin
    val rounds = (1 to SsspRounds).map(round).mkString(",\n")
    s"""WITH ${DedupQueries.synthEdgeCtes},
       |sym AS (
       |  SELECT src, dst, 1 + (src + dst) % 5 AS w FROM (
       |    SELECT a AS src, b AS dst FROM edges
       |    UNION ALL SELECT b AS src, a AS dst FROM edges)),
       |v0 AS (SELECT doc_id AS id, CAST(0 AS BIGINT) AS d
       |       FROM documents WHERE doc_id % 101 = 0),
       |$rounds
       |SELECT id AS doc_id, d AS dist FROM v$SsspRounds ORDER BY doc_id""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("q101_pagerank", q101PageRank _, q101Sql),
    Query("q109_personalized_pagerank", q109PersonalizedPageRank _, q109Sql),
    Query("q110_label_propagation", q110LabelPropagation _, q110Sql),
    Query("q136_kcore", q136KCore _, q136Sql),
    Query("q149_bfs_depth", q149BfsDepth _, q149Sql),
    Query("q223_sssp", q223Sssp _, q223Sql),
  )
}
