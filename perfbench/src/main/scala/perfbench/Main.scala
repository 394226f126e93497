package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up one workload, runs an untimed
  * warm-up whose outputs are kept for checking, then runs timed
  * iterations until the measuring time is used up, each on a fresh
  * session with the program's memos cleared.
  *
  * With `--trace 0` every iteration is plain and the end-to-end
  * figures (wall, process CPU, peak heap) are medians over them. The
  * benchmark runs on shared virtual machines, so `wall_s` leaves out
  * the share of the CPU time the iteration asked for that the
  * hypervisor gave to other guests (steal, from /proc/stat); the
  * kernel already leaves it out of process CPU time. With
  * `--trace 1` plain and staged (traced) iterations alternate: the
  * plain ones give the per-operation times and, through the
  * benchmark's own listener, the `spark.*` figures; the staged ones
  * give the layer spans. The last stdout line is one JSON object that
  * `perfbench/run.py` turns into the benchmark result.
  *
  * Usage: perfbench.Main --workload W --seconds S --trace 0|1
  *   --cores N --work DIR --input DIR
  */
object Main {
  private val MinIterations = 1

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val input = opt("input")
    val loadStart = loadavg

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    // task1_dense_3x warms up on its base corpus, whose outputs are
    // checked, and times the 3x replica built from it
    val (warmWl, wl): (Workload, Workload) = workload match {
      case "lab2_zipf" =>
        val w = new Lab2Zipf(s"$input/papers.jsonl", s"$input/stopwords.txt", work)
        (w, w)
      case "task1_dense_3x" =>
        (new Task1Dense3x(input, work), new Task1Dense3x(s"$work/replica3x", work))
      case other => sys.error(s"unknown workload $other")
    }
    var root = session()

    var attempted = 0
    var failed = 0
    def attempt(op: String)(body: => Unit): Boolean = {
      attempted += 1
      try { body; true }
      catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] $op failed: $e")
          false
      }
    }
    def fresh(): SparkSession = {
      graft.operators.DocQueries.clearCache()
      root.newSession()
    }
    /** Frees what the last run left: cached frames and garbage. */
    def cleanup(): Unit = {
      graft.operators.DocQueries.clearCache()
      root.catalog.clearCache()
      root.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    // untimed warm-up: JIT, codegen and page cache; its outputs are checked
    val keep = s"$work/check"
    val warm = fresh()
    warmWl.ops.foreach(op => attempt(op)(warmWl.run(warm, op, Some(keep))))
    cleanup()
    // ScaleReplica.main creates its own session and stops it, so the
    // replica is built between the warm-up session and the benchmark's
    var replicaS = 0.0
    if (wl ne warmWl) {
      root.stop()
      val t0 = System.nanoTime()
      graft.tools.ScaleReplica.main(Array(input, s"$work/replica3x", "3"))
      replicaS = (System.nanoTime() - t0) / 1e9
      root = session()
    }
    val sc = root.sparkContext
    val stats = new SparkStats
    if (trace) sc.addSparkListener(stats)
    val setupJvmS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val heap = new HeapPeak
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

    /** One plain iteration: every operation, timed; returns its figures. */
    def plain(): Map[String, Double] = {
      val s = fresh()
      heap.reset()
      stats.reset()
      val gc0 = gcMs
      val cpu0 = cpuBean.getProcessCpuTime
      val (busy0, steal0) = cpuJiffies()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val opTimes = wl.ops.map { op =>
        val o0 = System.nanoTime()
        attempt(op)(wl.run(s, op, None))
        s"operators.$op.s" -> (System.nanoTime() - o0) / 1e9
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      val (busy1, steal1) = cpuJiffies()
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val demanded = (busy1 - busy0) + (steal1 - steal0)
      val stolen = if (demanded > 0) (steal1 - steal0).toDouble / demanded else 0.0
      val gc = (gcMs - gc0) / 1000.0
      val heapMb = heap.megabytes
      val spark = if (trace) { PerfbenchBus.drain(sc); stats.window(w0, w1, cores) }
        else Map.empty[String, Double]
      cleanup()
      Map("wall_s" -> wall * (1.0 - stolen), "raw_wall_s" -> wall, "steal_frac" -> stolen,
        "cpu_s" -> cpu, "peak_heap_mb" -> heapMb, "spark.gc_s" -> gc) ++ opTimes ++ spark
    }

    val tracer = new Tracer
    /** One staged iteration: layer spans and boundary counts. */
    def staged(i: Int): Map[String, Double] = {
      val s = fresh()
      tracer.iteration = i
      val t0 = System.nanoTime()
      var counts = Map.empty[String, Double]
      attempt("traced") { counts = tracer.span("iteration")(wl.traced(s, tracer)) }
      val wall = (System.nanoTime() - t0) / 1e9
      cleanup()
      val secs = tracer.seconds(i)
      def sp(n: String) = secs.getOrElse(n, 0.0)
      val matches = counts.getOrElse("similarity.matches", 0.0)
      val pairs = counts.getOrElse("similarity.pair_rows", 0.0)
      counts ++ Map(
        "traced_wall_s" -> wall,
        "tables.read_s" -> sp("tables.read"),
        "text.tokenize_s" -> sp("text.tokenize"),
        "tfidf.vectorize_s" -> sp("tfidf.vectorize"),
        "similarity.argmax_s" -> sp("similarity.argmax"),
        "similarity.accuracy_s" -> sp("similarity.accuracy"),
        "similarity.category_matrix_s" -> sp("similarity.category_matrix"),
        "similarity.pair_yield" -> (if (pairs > 0) matches / pairs else 0.0),
        "io.write_s" -> sp("io.write"))
    }

    val plainRuns = Seq.newBuilder[Map[String, Double]]
    val stagedRuns = Seq.newBuilder[Map[String, Double]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < MinIterations || System.nanoTime() < deadline) {
      plainRuns += plain()
      if (trace) stagedRuns += staged(i)
      i += 1
    }
    val loadEnd = loadavg

    def medians(runs: Seq[Map[String, Double]]): Map[String, Double] =
      runs.flatMap(_.keys).distinct.map { k =>
        val xs = runs.flatMap(_.get(k)).sorted
        val m = xs.length / 2
        k -> (if (xs.length % 2 == 1) xs(m) else (xs(m - 1) + xs(m)) / 2)
      }.toMap
    val p = medians(plainRuns.result())
    val st = medians(stagedRuns.result())
    val metrics =
      if (!trace) p.filter { case (k, _) => Seq("wall_s", "cpu_s", "peak_heap_mb").contains(k) }
      else (p -- Seq("wall_s", "cpu_s", "peak_heap_mb")) ++ (st - "traced_wall_s") +
        ("trace_overhead_frac" -> (st("traced_wall_s") / p("raw_wall_s") - 1.0))

    val spansFile = s"$work/spans.json"
    if (trace) Files.write(Paths.get(spansFile), tracer.toJson.getBytes(StandardCharsets.UTF_8))
    root.stop()

    def num(x: Double): String = if (x.isNaN || x.isInfinite) "0" else x.toString
    def obj(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    def str(x: String): String = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\t", "\\t") + "\""
    val checks = warmWl.checks(keep).map { c =>
      s"""{"op":${str(c.op)},"kind":${str(c.kind)},"out":${str(c.out)},""" +
        s""""sql":${c.sql.map(str).mkString("[", ",", "]")}}"""
    }.mkString("[", ",", "]")
    val tables = warmWl.tables.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
    def series(k: String) = plainRuns.result().map(r => f"${r(k)}%.3f").mkString("[", ",", "]")
    val info = obj(Map("iterations" -> i.toDouble, "replica_s" -> replicaS,
      "cores" -> cores.toDouble))
    println(s"""{"attempted":$attempted,"failed":$failed,"setup_jvm_s":${num(setupJvmS)},""" +
      s""""metrics":${obj(metrics)},"checks":$checks,"tables":$tables,"info":$info,""" +
      s""""load_start":${str(loadStart)},"load_end":${str(loadEnd)},""" +
      s""""raw_walls":${series("raw_wall_s")},"steal":${series("steal_frac")},""" +
      s""""spans":${if (trace) str(spansFile) else "null"}}""")
  }

  /** Jiffies all CPUs spent busy, and jiffies the hypervisor stole
    * from them, from the first line of /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")))
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Throwable => (0L, 0L) }

  /** 1, 5 and 15-minute load averages, recorded at the start and end of a set. */
  private def loadavg: String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }
}
