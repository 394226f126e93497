package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.similarity.Similarity
import graft.text.{IdentityLemmatizer, Lemmatizer, TextPrep}
import graft.tfidf.TfIdf

/** End-to-end re-expression of the reference pipeline
  * (/root/reference/lab2.py) as one Spark-native application.
  *
  * Task 1 (lab2.py:150–260): TF-IDF titles-vs-abstracts retrieval —
  * abstract vectors with self-corpus DF, title vectors against the
  * ABSTRACT corpus' DF (left-outer, df=0 smoothing; lab2.py:205–209),
  * exact inverted-index similarity join replacing the O(n²) cartesian
  * (lab2.py:227), deterministic argmax (ties → lowest abstract id;
  * the reference is shuffle-order-nondeterministic, lab2.py:250), and
  * the self-retrieval accuracy scalar (lab2.py:253–260).
  *
  * Task 2 (lab2.py:263–303): per-category L2-normalized raw-TF vectors
  * (NO IDF; lab2.py:275–288), category treated as ONE opaque key after
  * lowercase + right-trim (lab2.py:89–91), full category×category
  * cosine matrix pivoted wide natively (replaces pandas, lab2.py:303).
  *
  * Deviations, all documented in SURVEY.md §7.4: pluggable lemmatizer
  * instead of NLTK; empty-text documents dropped instead of crashing
  * (lab2.py:193 would ZeroDivisionError); deterministic tie-breaks.
  */
object Lab2Pipeline {

  val papersSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("title", StringType),
    StructField("abstract", StringType), StructField("categories", StringType)))

  case class Result(accuracy: DataFrame, matches: DataFrame,
      mismatchSample: DataFrame, categoryMatrix: DataFrame,
      persisted: Seq[DataFrame] = Nil) {
    /** Release every frame [[run]] persisted (cache-eviction hook). */
    def unpersist(): Unit = persisted.foreach { df =>
      try df.unpersist() catch { case _: Throwable => }
    }
  }

  /** Read the line-delimited papers JSON with the reference's option
    * (lab2.py:64) and an explicit schema (no inference pass).
    */
  def readPapers(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("allowBackslashEscapingAnyCharacter", "true")
      .schema(papersSchema)
      .json(path)

  def run(spark: SparkSession, papersPath: String, stopwords: Seq[String],
      lemmatizer: Lemmatizer = IdentityLemmatizer): Result = {
    val papers = readPapers(spark, papersPath)
      .withColumn("categories",
        regexp_replace(lower(col("categories")), "\\s+$", ""))

    // ---- preprocessing (P1–P3, M1–M2, U2) — expression path + lemmatizer
    val prepped = papers.select(
      col("id"), col("categories"),
      lemmatizer(TextPrep.filteredTokensCol(col("title"), stopwords)).as("title_toks"),
      lemmatizer(TextPrep.filteredTokensCol(col("abstract"), stopwords)).as("abs_toks"))
      .persist() // shared by task 1 (twice) and task 2

    val n = prepped.count() // corpus size feeds IDF (lab2.py:155)

    // ---- task 1 (the shared core; string ids take the inverted join)
    val absToks = prepped.select(col("id"), explode(col("abs_toks")).as("word"))
    val corpus = Task1.corpus(absToks, n, _.persist()) // df reused for titles (J2)
    val titleToks = prepped.select(col("id"), explode(col("title_toks")).as("word"))
    val matches = Task1.matches(Task1.titleVectors(titleToks, corpus), corpus)
      .select(col("l_id").as("title_id"), col("r_id").as("abstract_id"),
        col("sim").as("cosine"))
      .persist() // shared: accuracy + parquet + sample (lab2.py recomputes)

    // accuracy = correct matches / n over the FULL corpus (lab2.py:260
    // divides by n): a title with zero overlap against every abstract
    // yields no match row and counts as a miss, same as the reference.
    // (The only documented deviation remains the empty-doc drop.)
    val accuracy = matches.agg(
      round(coalesce(sum(when(col("title_id") === col("abstract_id"), 1.0)), lit(0.0))
        / lit(n.toDouble), 6).as("accuracy"),
      count(lit(1)).as("n_matched"))
      .withColumn("n", lit(n))

    // 5-row mismatch sample enriched via broadcast joins — replaces the
    // reference's driver-side lookup loop (lab2.py:315–332)
    val mism = matches.filter(col("title_id") =!= col("abstract_id"))
      .orderBy(col("title_id")).limit(5)
    val titles = papers.select(col("id"), col("title"), col("abstract"))
    val mismatchSample = mism
      .join(broadcast(titles.select(col("id").as("title_id"), col("title"),
        col("abstract").as("correct_abstract"))), Seq("title_id"), "left")
      .join(broadcast(titles.select(col("id").as("abstract_id"),
        col("abstract").as("matched_abstract"))), Seq("abstract_id"), "left")
      .select(col("title_id"), col("abstract_id"), col("cosine"), col("title"),
        col("matched_abstract"), col("correct_abstract"))

    // ---- task 2: per-category normalized raw TF + full cosine matrix
    val catToks = prepped.select(col("categories").as("id"),
      explode(col("abs_toks")).as("word"))
    val catVecs = TfIdf.l2Normalize(
      catToks.groupBy(col("id"), col("word")).agg(count(lit(1)).cast("double").as("w")))
    val catSims = Similarity.invertedIndexJoin(catVecs, catVecs)
    val cats = prepped.select(col("categories")).distinct()
    val catMatrixLong = cats.select(col("categories").as("l_id"))
      .crossJoin(cats.select(col("categories").as("r_id")))
      .join(catSims, Seq("l_id", "r_id"), "left")
      .select(col("l_id"), col("r_id"),
        round(coalesce(col("sim"), lit(0.0)), 6).as("sim"))
    // the pivot's column list as Spark's implicit pivot would collect it
    // (sorted, nulls first, at most spark.sql.pivotMaxValues) — but from
    // the persisted token table, not a distinct job over the whole matrix
    val maxKeys = spark.conf.get("spark.sql.pivotMaxValues").toInt
    val catKeys = cats.limit(maxKeys + 1).orderBy(col("categories"))
      .collect().map(_.get(0)).toSeq
    require(catKeys.length <= maxKeys, s"Lab2Pipeline: more than " +
      s"spark.sql.pivotMaxValues=$maxKeys categories for the category matrix")
    val categoryMatrix = catMatrixLong
      .groupBy(col("l_id")).pivot("r_id", catKeys).agg(first(col("sim")))
      .na.fill(0.0).orderBy(col("l_id"))

    Result(accuracy, matches, mismatchSample, categoryMatrix,
      persisted = Seq(prepped, corpus.dfreq, matches))
  }

  /** CLI entry mirroring the reference's six arguments (lab2.py:49–60):
    * papers stopwordsFile accuracyOut resultsOut samplesOut heatmapOut.
    * The heatmap is emitted as the pivoted matrix CSV (SURVEY.md S6:
    * rendering is presentation, not a query operator).
    */
  def main(args: Array[String]): Unit = {
    if (args.length != 6) {
      System.err.println(
        "usage: Lab2Pipeline <papers.jsonl> <stopwords.txt> " +
          "<accuracyOut> <resultsOut> <samplesOut> <heatmapOut>")
      sys.exit(2)
    }
    val Array(papersPath, stopPath, accOut, resOut, sampleOut, heatOut) = args
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-lab2")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val stopwords = scala.io.Source.fromFile(stopPath).getLines().map(_.trim)
      .filter(_.nonEmpty).toSeq
    val r = run(spark, papersPath, stopwords)
    // reference output shapes (lab2.py:305–342): accuracy as a single
    // text file of the ('accuracy', rate) tuple, matches as single
    // parquet, sample + matrix as CSV
    graft.io.Sinks.writeSingleText(
      r.accuracy.selectExpr("'accuracy' AS k", "accuracy AS v"), accOut, asTuple = true)
    graft.io.Sinks.writeSingleParquet(r.matches, resOut)
    graft.io.Sinks.writeSingleCsv(r.mismatchSample, sampleOut)
    graft.io.Sinks.writeSingleCsv(r.categoryMatrix, heatOut)
    spark.stop()
  }
}
