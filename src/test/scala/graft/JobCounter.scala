package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts the Spark jobs a block starts, and names its actions. */
object JobCounter {
  /** What a block ran: its Spark jobs, and the Dataset actions
    * ("collect", "count", …) that started them, in completion order. */
  final case class Ran(jobs: Int, actions: Seq[String])

  def during[T](s: SparkSession)(body: => T): (T, Ran) = {
    val sc = s.sparkContext
    val jobs = new AtomicInteger(0)
    val actions = new ConcurrentLinkedQueue[String]()
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val actionListener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        actions.add(name)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit =
        actions.add(name)
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(jobListener)
    s.listenerManager.register(actionListener)
    try {
      val out = body
      GraftListenerBus.drain(sc)
      (out, Ran(jobs.get(), actions.asScala.toSeq))
    } finally {
      sc.removeSparkListener(jobListener)
      s.listenerManager.unregister(actionListener)
    }
  }
}
