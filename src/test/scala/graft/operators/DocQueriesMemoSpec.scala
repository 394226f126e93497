package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.{JobCounter, SparkTestBase}

/** The per-(session, dir) memo behind q12/q13/q46/q50/q51/q194: one
  * Task 1 build serves q50 and q51, memo entries never cross sessions,
  * and `clearCache` releases everything the memo holds. */
class DocQueriesMemoSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def fileScans(df: DataFrame) =
    collect(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }

  test("q51 after q50 in one session runs at most 3 jobs and re-reads no documents scan") {
    val s = spark.newSession() // a cold memo entry
    DocQueries.q50Task1Matches(s, sf0001).collect()
    val (q51, ran) = JobCounter.during(s) {
      val df = DocQueries.q51Task1Accuracy(s, sf0001)
      df.collect()
      df
    }
    assert(ran.jobs <= 3, s"q51 after q50 ran $ran")
    assert(fileScans(q51).isEmpty,
      s"q51 re-read a table:\n${q51.queryExecution.executedPlan}")
  }

  test("memo entries are per session: a second session gets its own build") {
    val a = spark.newSession()
    val b = spark.newSession()
    val qa = DocQueries.q50Task1Matches(a, sf0001)
    val qb = DocQueries.q50Task1Matches(b, sf0001)
    assert(qa.sparkSession eq a)
    assert(qb.sparkSession eq b)
    assert(qa.collect().toSeq === qb.collect().toSeq)
  }

  test("clearCache releases every frame q50 and q51 persisted") {
    val sc = spark.sparkContext
    val s = spark.newSession()
    val before = sc.getPersistentRDDs.keySet
    DocQueries.q50Task1Matches(s, sf0001).collect()
    DocQueries.q51Task1Accuracy(s, sf0001).collect()
    val held = sc.getPersistentRDDs.keySet -- before
    assert(held.nonEmpty, "q50/q51 persisted nothing — the memo is not exercised")
    DocQueries.clearCache()
    val left = held.intersect(sc.getPersistentRDDs.keySet)
    assert(left.isEmpty, s"still persisted after clearCache: " +
      left.toSeq.sorted.map(id => sc.getPersistentRDDs(id).toString).mkString(", "))
    // and the memo rebuilds on the next call
    assert(DocQueries.q51Task1Accuracy(s, sf0001).collect().length === 1)
  }
}
