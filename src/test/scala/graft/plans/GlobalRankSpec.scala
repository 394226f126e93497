package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class GlobalRankSpec extends SparkTestBase {
  import spark.implicits._

  test("distributed global rank equals the single-partition window") {
    val freq = graft.tfidf.TfIdf
      .tokens(graft.Tables.documents(spark, sf0001), "doc_id", "text")
      .groupBy($"word").agg(count(lit(1)).as("f"))

    val viaDist = GlobalRank.rowNumber(freq, "r", $"f".desc, $"word")
      .select($"word", $"r").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap

    val viaWindow = freq.withColumn("r",
        row_number().over(Window.orderBy($"f".desc, $"word")).cast("long"))
      .select($"word", $"r").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap

    assert(viaDist.size === viaWindow.size)
    assert(viaDist === viaWindow)
    // ranks are a contiguous 1..n permutation (offset arithmetic holds
    // across every range-partition boundary)
    assert(viaDist.values.toSeq.sorted === (1L to viaDist.size.toLong))
  }

  test("ties on f break by word in the distributed rank") {
    val df = Seq(("b", 3L), ("a", 3L), ("c", 1L), ("d", 9L))
      .toDF("word", "f")
    val dist = GlobalRank.rowNumber(df, "r", $"f".desc, $"word")
      .select($"word", $"r").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(dist === Map("d" -> 1L, "a" -> 2L, "b" -> 3L, "c" -> 4L))
  }

  test("empty input yields empty output") {
    val df = Seq.empty[(String, Long)].toDF("word", "f")
    assert(GlobalRank.rowNumber(df, "r", $"f".desc, $"word").count() === 0L)
  }

  test("q98's plan carries no global Window node") {
    val plan = graft.operators.DocQueries
      .q98ZipfSlope(spark, sf0001)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("- Window ("), plan.linesIterator
      .filter(_.contains("Window")).mkString("\n"))
  }
}
