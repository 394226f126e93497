package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.app.Lab2Pipeline
import graft.io.Sinks
import graft.operators.{DocQueries, Lab2Queries}
import graft.similarity.Similarity
import graft.text.TextPrep
import graft.tfidf.TfIdf

/** An output check left for the Python side: run each of `sql` in
  * DuckDB and compare with what the operation wrote under `out`. */
final case class Check(op: String, kind: String, out: String, sql: Seq[String])

trait Workload {
  /** The operations one iteration runs, in order. */
  def ops: Seq[String]

  /** Runs one operation with every output materialized. `keep` names a
    * directory whose outputs are kept for checking; None is a timed run. */
  def run(s: SparkSession, op: String, keep: Option[String]): Unit

  /** The same work staged through the layers' public functions: each
    * layer boundary is materialized inside a span. Returns the counts
    * measured at those boundaries. */
  def traced(s: SparkSession, t: Tracer): Map[String, Double]

  /** Checks of the outputs `run` kept under `keep`, and the tables they read. */
  def checks(keep: String): Seq[Check]
  def tables: Map[String, String]
}

object Workload {
  /** True when the plan scores pairs with the dense-broadcast loop
    * rather than the inverted-index join. */
  def isDense(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("MapPartitions")

  def materialize(df: DataFrame): (DataFrame, Long) = {
    df.persist()
    (df, df.count())
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Files and bytes found under `dir`. */
  def filesUnder(dir: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new File(dir))
    (fs.size.toLong, fs.map(_.length).sum)
  }
}

/** lab2_zipf: the paper's pipeline (`Lab2Pipeline.run`) and the four
  * sink writes of `Lab2Pipeline.main`, over a generated papers corpus. */
final class Lab2Zipf(papers: String, stopwordsFile: String, work: String)
    extends Workload {
  import Workload._

  private val stopwords: Seq[String] = {
    val src = scala.io.Source.fromFile(stopwordsFile)
    try src.getLines().map(_.trim).filter(_.nonEmpty).toList finally src.close()
  }

  val ops: Seq[String] = Seq("lab2_pipeline")
  val tables: Map[String, String] = Map.empty

  private def write(accuracy: DataFrame, matches: DataFrame, sample: DataFrame,
      matrix: DataFrame, out: String): Unit = {
    Sinks.writeSingleText(accuracy.selectExpr("'accuracy' AS k", "accuracy AS v"),
      s"$out/accuracy", asTuple = true)
    Sinks.writeSingleParquet(matches, s"$out/results")
    Sinks.writeSingleCsv(sample, s"$out/samples")
    Sinks.writeSingleCsv(matrix, s"$out/heatmap")
  }

  def run(s: SparkSession, op: String, keep: Option[String]): Unit = {
    val r = Lab2Pipeline.run(s, papers, stopwords)
    write(r.accuracy, r.matches, r.mismatchSample, r.categoryMatrix,
      keep.map(d => s"$d/$op").getOrElse(s"$work/iter"))
  }

  def traced(s: SparkSession, t: Tracer): Map[String, Double] = {
    val (papersDf, rows) = t.span("tables.read") {
      materialize(Lab2Pipeline.readPapers(s, papers)
        .withColumn("categories",
          regexp_replace(lower(col("categories")), "\\s+$", "")))
    }
    val (prepped, n) = t.span("text.tokenize") {
      materialize(papersDf.select(col("id"), col("categories"),
        TextPrep.filteredTokensCol(col("title"), stopwords).as("title_toks"),
        TextPrep.filteredTokensCol(col("abstract"), stopwords).as("abs_toks")))
    }
    val tokens = prepped
      .agg(sum(size(col("title_toks")) + size(col("abs_toks")))).head().getLong(0)
    val ((absVecs, absN), (titleVecs, titleN), vocab) = t.span("tfidf.vectorize") {
      val absToks = prepped.select(col("id"), explode(col("abs_toks")).as("word"))
      val (absDf, vocab) = materialize(TfIdf.docFreq(absToks))
      val absVecs = TfIdf.l2Normalize(
          TfIdf.weights(TfIdf.termFreq(absToks), absDf, n))
        .withColumn("w", round(col("w"), 6))
      val titleToks = prepped.select(col("id"), explode(col("title_toks")).as("word"))
      val titleVecs = TfIdf.l2Normalize(
          TfIdf.weights(TfIdf.termFreq(titleToks), absDf, n, external = true))
        .withColumn("w", round(col("w"), 6))
      (materialize(absVecs), materialize(titleVecs), vocab)
    }
    val pairRows = t.span("similarity.estimate") {
      Similarity.estimateInvertedPairRows(titleVecs, absVecs, selfJoin = false)
    }
    val argmax = Similarity.argmax(Similarity.invertedIndexJoin(titleVecs, absVecs)
        .withColumn("sim", round(col("sim"), 6)))
      .select(col("l_id").as("title_id"), col("r_id").as("abstract_id"),
        col("sim").as("cosine"))
    val dense = isDense(argmax)
    val (matches, nMatches) = t.span("similarity.argmax") { materialize(argmax) }
    val (accuracy, sample) = t.span("similarity.accuracy") {
      val acc = matches.agg(
        round(coalesce(sum(when(col("title_id") === col("abstract_id"), 1.0)), lit(0.0))
          / lit(n.toDouble), 6).as("accuracy"),
        count(lit(1)).as("n_matched"))
        .withColumn("n", lit(n))
      val titles = papersDf.select(col("id"), col("title"), col("abstract"))
      val sample = matches.filter(col("title_id") =!= col("abstract_id"))
        .orderBy(col("title_id")).limit(5)
        .join(broadcast(titles.select(col("id").as("title_id"), col("title"),
          col("abstract").as("correct_abstract"))), Seq("title_id"), "left")
        .join(broadcast(titles.select(col("id").as("abstract_id"),
          col("abstract").as("matched_abstract"))), Seq("abstract_id"), "left")
        .select(col("title_id"), col("abstract_id"), col("cosine"), col("title"),
          col("matched_abstract"), col("correct_abstract"))
      (materialize(acc)._1, materialize(sample)._1)
    }
    val (matrix, _) = t.span("similarity.category_matrix") {
      val catToks = prepped.select(col("categories").as("id"),
        explode(col("abs_toks")).as("word"))
      val catVecs = TfIdf.l2Normalize(catToks.groupBy(col("id"), col("word"))
        .agg(count(lit(1)).cast("double").as("w")))
      val catSims = Similarity.invertedIndexJoin(catVecs, catVecs)
      val cats = prepped.select(col("categories")).distinct()
      materialize(cats.select(col("categories").as("l_id"))
        .crossJoin(cats.select(col("categories").as("r_id")))
        .join(catSims, Seq("l_id", "r_id"), "left")
        .select(col("l_id"), col("r_id"),
          round(coalesce(col("sim"), lit(0.0)), 6).as("sim"))
        .groupBy(col("l_id")).pivot("r_id").agg(first(col("sim")))
        .na.fill(0.0).orderBy(col("l_id")))
    }
    val out = s"$work/traced"
    t.span("io.write") { write(accuracy, matches, sample, matrix, out) }
    val (files, bytes) = filesUnder(out)
    Map("tables.rows" -> rows.toDouble, "text.tokens" -> tokens.toDouble,
      "tfidf.nnz" -> (absN + titleN).toDouble, "tfidf.vocab" -> vocab.toDouble,
      "similarity.pair_rows" -> pairRows.toDouble,
      "similarity.matches" -> nMatches.toDouble,
      "similarity.dense" -> (if (dense) 1.0 else 0.0),
      "io.files_written" -> files.toDouble, "io.bytes_written" -> bytes.toDouble)
  }

  def checks(keep: String): Seq[Check] = {
    val sql = Seq(Lab2Queries.q54Sql, Lab2Queries.q55Sql)
      .map(_.replace(Lab2Queries.PapersPath, papers))
    Seq(s"$keep/lab2_pipeline", s"$work/iter").map(Check("lab2_pipeline", "lab2", _, sql))
  }
}

/** task1_dense_3x: the Task 1 and Task 2 queries of the documents
  * corpus (q50 matches, q51 accuracy, q52 language matrix) over a 3×
  * `ScaleReplica` corpus, whose small vocabulary takes the dense path. */
final class Task1Dense3x(dir: String, work: String) extends Workload {
  import Workload._

  val ops: Seq[String] = Seq("q50_task1_matches", "q51_task1_accuracy", "q52_lang_matrix")
  val tables: Map[String, String] = Map("documents" -> s"$dir/documents.parquet")
  private val builders = SparkEntry.queries

  def run(s: SparkSession, op: String, keep: Option[String]): Unit = {
    val df = builders(op)(s, dir)
    keep match {
      case Some(d) => df.write.mode("overwrite").parquet(s"$d/$op")
      case None => noop(df)
    }
  }

  def traced(s: SparkSession, t: Tracer): Map[String, Double] = {
    val (docs, rows) = t.span("tables.read") { materialize(Tables.documents(s, dir)) }
    val ((toks, nToks), (titleToks, nTitleToks)) = t.span("text.tokenize") {
      (materialize(TfIdf.tokens(docs, "doc_id", "text")),
        materialize(docs.select(col("doc_id").as("id"),
          explode(slice(TextPrep.filteredTokensCol(col("text")), 1, 8)).as("word"))))
    }
    val ((vecs, nVecs), (titleVecs, nTitleVecs), vocab) = t.span("tfidf.vectorize") {
      val n = docs.select(col("doc_id")).distinct().count()
      val (dfreq, vocab) = materialize(TfIdf.docFreq(toks))
      (materialize(TfIdf.l2Normalize(TfIdf.weights(TfIdf.termFreq(toks), dfreq, n))
          .withColumn("w", round(col("w"), 6))),
        materialize(TfIdf.l2Normalize(
            TfIdf.weights(TfIdf.termFreq(titleToks), dfreq, n, external = true))
          .withColumn("w", round(col("w"), 6))),
        vocab)
    }
    val pairRows = t.span("similarity.estimate") {
      Similarity.estimateInvertedPairRows(titleVecs, vecs, selfJoin = false)
    }
    val (dense, (matches, nMatches)) = t.span("similarity.argmax") {
      val m = Similarity.argmaxAdaptive(titleVecs, vecs)
      (isDense(m), materialize(m))
    }
    // q51 recomputes q50's argmax; so does this span
    t.span("similarity.accuracy") {
      Similarity.accuracy(Similarity.argmaxAdaptive(titleVecs, vecs)).collect()
    }
    t.span("similarity.category_matrix") { noop(DocQueries.q52LangMatrix(s, dir)) }
    // the Task 1 matches as one parquet file, as Lab2Pipeline.main writes them
    val out = s"$work/traced"
    t.span("io.write") { Sinks.writeSingleParquet(matches, s"$out/matches") }
    val (files, bytes) = filesUnder(out)
    Map("tables.rows" -> rows.toDouble, "text.tokens" -> (nToks + nTitleToks).toDouble,
      "tfidf.nnz" -> (nVecs + nTitleVecs).toDouble, "tfidf.vocab" -> vocab.toDouble,
      "similarity.pair_rows" -> pairRows.toDouble,
      "similarity.matches" -> nMatches.toDouble,
      "similarity.dense" -> (if (dense) 1.0 else 0.0),
      "io.files_written" -> files.toDouble, "io.bytes_written" -> bytes.toDouble)
  }

  def checks(keep: String): Seq[Check] = {
    val oracles = SparkEntry.oracleSqlFor(dir)
    ops.map(op => Check(op, "oracle", s"$keep/$op", Seq(oracles(op))))
  }
}
