package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Evidence artifact: dumps `explain("formatted")` of registered
  * queries so plan shapes (pushdown, pruning, broadcast, partial
  * aggregation, custom operators) are reviewable without running
  * anything. PlanSpec asserts the load-bearing properties in CI; this
  * is the full picture.
  *
  * Usage:
  *  - `sbt "runMain graft.PlanDump [sfDir] [outFile]"` — every headline
  *    query into one markdown file (default PLANS.md);
  *  - `sbt "runMain graft.PlanDump <sfDir> <outDir> <tag> q1,q2,…"` —
  *    the named subset, one `<outDir>/<name>_<tag>.txt` per query (the
  *    before/after plan evidence of the OPTIMIZATION_r*.md notes).
  *
  * NB cycle queries EXECUTE their lake/artifact phases when planned —
  * run against the smallest sf dir.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length <= 2 || args.length == 4,
      "usage: PlanDump [sfDir] [outFile] | PlanDump <sfDir> <outDir> <tag> <q1,q2,...>")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // a requested query missing from the registry is an error worth
    // surfacing IN the artifact, not a silent omission
    def plan(name: String): String = SparkEntry.queries.get(name) match {
      case Some(fn) =>
        try fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"<failed to plan: ${e.getMessage}>\n" }
      case None => "<NOT REGISTERED in SparkEntry.queries>\n"
    }
    if (args.length == 4) {
      val Array(_, outDir, tag, qlist) = args
      Files.createDirectories(Paths.get(outDir))
      qlist.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
        write(Paths.get(outDir, s"${name}_$tag.txt").toString, plan(name))
      }
    } else {
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans of the bench headline set\n\n")
      sb.append(s"Generated by `graft.PlanDump` over `$sfDir`. ")
      sb.append("Load-bearing shapes are CI-asserted in PlanSpec; this is the full dump.\n")
      Bench.Headline.foreach(name => sb.append(s"\n## $name\n\n```\n${plan(name)}```\n"))
      write(args.lift(1).getOrElse("PLANS.md"), sb.toString)
    }
    spark.stop()
  }

  private def write(path: String, text: String): Unit = {
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
    println(s"[plandump] wrote $path")
  }
}
