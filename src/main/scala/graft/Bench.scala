package graft

import org.apache.spark.sql.SparkSession

import scala.collection.immutable.ListMap

import graft.operators.{AnnQueries, DedupQueries, EventQueries, RelationalOps,
  Round11Queries, Round15Queries, Round19Queries, TextStatsQueries, UnigramQueries}

/** Benchmark main (driver contract): runs the headline query set on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * The headline set is every registered query (declaration order) minus
  * [[Bench.Excluded]]; it covers every operator family at its scalable
  * strategy. A query needing an offline build gets it from
  * [[Bench.Prep]], untimed.
  */
object Bench {

  /** Registered queries the headline run leaves out, each with its
    * reason. The sf0.01 oracle gate still runs every one of them. */
  val Excluded: Map[String, String] = Map(
    // quadratic-OUTPUT correctness demos and their consumers: the cost
    // is output volume on a deliberately self-similar corpus, not
    // operator speed
    "q16_lsh_near_dups" -> "emits O(n²) near-dup pairs by definition: output volume, not operator speed",
    "q17_shingle_jaccard" -> "emits O(n²) near-dup pairs by definition: output volume, not operator speed",
    "q24_embedding_near_dups" -> "emits O(n²) near-dup pairs by definition: output volume, not operator speed",
    "q61_winnowing" -> "winnowing candidates consume the q16 near-dup pair family",
    "q108_source_overlap" -> "source-overlap rollup consumes the q16 near-dup pair family",
    "q19_dup_clusters" -> "its input is q16's pair set: at sf0.1, 77 of 86 s is edge generation (SCALE.md); q44 benches the CC loop on a linear-size graph",
    "q100_dedup_survivorship" -> "composes the same q16→q19 chain as q19",
    "q128_split_leakage" -> "split-leakage rollup consumes the q16 pairs",
    "q172_canonical_purge" -> "canonical-purge resolution consumes the q16 pairs",
    "q289_leakfree_split" -> "cluster-keyed split consumes the q16 pairs; its projection itself is benched as q288",
    "q242_lsh_recall_audit" -> "materializes the full exact τ=0.7 pair set on the self-similar corpus",
    "q243_banding_sweep" -> "materializes the full exact τ=0.7 pair set on the self-similar corpus",
    "q268_banding_auto" -> "materializes the exact τ=0.7 pair set and serves the quadratic-output near-dup join: 333 s at sf0.1, all output volume",
    "q274_banding_persist" -> "q268's persisted-choice twin serves the same quadratic-output join; the warm-artifact serve is benched by q272/q273/q277",
    "q278_choice_staleness_audit" -> "composes q274's ensure, so a cold run pays the quadratic measurement inside the timed region",
    "q280_corpus_ingest_cycle" -> "pays two cold measurement bills per call (base and post-ingest, quadratic banding among them); its serves are benched by q272/q273/q277",
    // lifecycle cycles that pay a COLD build over their own replica per
    // call by construction; their marginal verbs are benched elsewhere
    "q292_maskeddf_artifact_cycle" -> "pays a cold index build over its own lake replica per call; the marginal verb is benched via q283",
    "q294_snapshot_cursor_catchup" -> "pays a cold build over its own lake replica per call; the marginal verb is benched via q282",
    "q295_incremental_card" -> "pays a cold card build over its own replica per call; the marginal verb is benched via q291",
    "q297_ivfpq_cursor_catchup" -> "pays a cold k-means build over its own replica per call; the marginal verb is benched via q251",
    "q299_card_crash_discipline" -> "pays two cold card builds plus a deliberately crashed merge per call; the one-shot build is benched as q291",
    "q301_bucket_dial_auto" -> "pays a cold index build over its own replica per call; the serving path is benched as q281",
    "q304_maskeddf_alternation" -> "pays a cold index build plus two postings-decrement passes over its own replica per call; the serving path is benched as q283",
    "q305_asof_card" -> "pays two full card builds over an own-replica chronology per call; the one-shot card is benched as q291",
    "q307_card_ingest_cycle" -> "pays a cold card build plus a batch merge over its own replica per call; the warm serve is benched as q306",
    "q308_card_drift" -> "pays two as-of card builds over an own-replica chronology per call (the q305 reason); the drift verb is card-artifact reads",
    "q309_sql_drift" -> "q308 through the graft_card_drift TVF: the same two as-of card builds per call",
    "q310_age_retained_cycle" -> "q300's composed cycle with the age policy swapped in: its cost is q300's benched number",
    // strict prefixes, aggregations and SQL-surface twins of benched queries
    "q6_point_lookup" -> "one pushed-down IN-list semi-join: a strict prefix of the benched relational scans",
    "q11_doc_freq" -> "document frequency is a strict prefix of q12's TF-IDF build",
    "q23_lsh_top1" -> "single-band LSH top-1: a strict prefix of the benched banded q20",
    "q46_sql_top1" -> "q13 through the SIMILARITY_TOP1 hint",
    "q51_task1_accuracy" -> "an aggregation over q50's matches",
    "q53_lang_matrix_pivot" -> "q52's matrix pivoted wide",
    "q114_bpe_merge_step" -> "exactly q115's first training round",
    "q225_sql_setsim" -> "q211 through SETSIM_JOIN",
    "q246_sql_bm25" -> "q226 through the BM25 hint",
    "q253_sql_multi_bm25" -> "q244 through BM25_MULTI",
    "q302_sql_masked_serve" -> "q283 through the graft_bm25_masked TVF",
    // fixture-sized: input does not scale with sf
    "q45_media_decode" -> "fixture-sized: input does not scale with sf",
    "q132_audio_decode" -> "fixture-sized: input does not scale with sf",
    "q54_lab2_matches" -> "fixture-sized: input does not scale with sf",
    "q55_lab2_accuracy" -> "fixture-sized: input does not scale with sf",
    "q231_image_dhash_dedup" -> "dHash fixture: input does not scale with sf",
    "q234_sql_dhash" -> "dHash fixture: input does not scale with sf")

  /** Offline-layout builds (IVF index, bucketed tables, partitioned
    * lake, incremental-dedup corpus, persisted choices): scheduled build
    * jobs at scale, never the per-query cost users pay. Each runs
    * OUTSIDE the timed region, in this order, only when its query is
    * selected. A failed build skips its query rather than re-building
    * inside the timed region (which would report build+probe as the
    * probe number). */
  val Prep: ListMap[String, (SparkSession, String) => Unit] = ListMap(
    ("q43_ivf_topk", AnnQueries.prepareIvf(_, _)),
    ("q232_pq_topk", AnnQueries.preparePq(_, _)),
    ("q233_pq_rerank", AnnQueries.preparePq(_, _)),
    ("q245_ivfpq_topk", AnnQueries.prepareIvfPq(_, _)),
    ("q249_ivfpq_rerank", AnnQueries.prepareIvfPq(_, _)),
    ("q252_nprobe_curve", AnnQueries.prepareIvfPq(_, _)),
    // lifecycle preps: build+append (q251/q254/q259) and compaction
    // (q258) are OFFLINE index maintenance — the timed numbers are the
    // probes/audit a serving deployment pays
    ("q251_ivfpq_append", AnnQueries.prepareIvfPqAppend(_, _)),
    ("q254_ivfpq_delete", AnnQueries.prepareIvfPqAppend(_, _)),
    ("q259_pq_drift_audit", AnnQueries.prepareIvfPqAppend(_, _)),
    ("q258_ivfpq_compact", AnnQueries.prepareIvfPqCompact(_, _)),
    // the composed cycle's INGEST (base build + late append) is the
    // same offline maintenance as q251's; the timed number is the
    // nightly job itself — audit → decide → actuate → re-audit →
    // tune → serve across generations
    ("q276_lifecycle_cycle", AnnQueries.prepareIvfPqAppend(_, _)),
    // the persisted-choice prep ensures a WARM choices/nprobe artifact:
    // the tuning sweep is offline index maintenance (amortized across
    // every serve until the generation moves), so the timed number is
    // the warm serve a deployment actually pays — stamp pass + artifact
    // read + probe. The cold measure-and-write runs here, untimed.
    ("q272_nprobe_choice_persist", (spark, sfDir) => {
      val idx = AnnQueries.prepareIvfPq(spark, sfDir)
      graft.ann.Ann.ivfPqEnsureNprobeChoice(spark, idx,
        AnnQueries.PqTopK, AnnQueries.NprobeTarget,
        AnnQueries.NprobeSweep,
        () => spark.read.parquet(s"$sfDir/embeddings.parquet")
          .filter(org.apache.spark.sql.functions.col("vec_id")
            % AnnQueries.QueryMod === 0),
        () => spark.read.parquet(s"$sfDir/embeddings.parquet"))
    }),
    // same discipline for the BM25 dial: the 12-point sweep is offline
    // corpus maintenance; the timed number is the warm single-point
    // serve (stamp pass + artifact read + the q244-class scoring)
    ("q273_bm25_params_persist", Round15Queries.prepareBm25ParamsChoice(_, _)),
    // the postings-index build is offline corpus maintenance (one
    // tokenize+group pass per corpus state, amortized across every
    // serve until the stamp moves); the timed q281 number is the
    // partition-pruned artifact serve a deployment actually pays
    ("q281_bm25_index_serve", (spark, sfDir) => {
      Round15Queries.prepareBm25ParamsChoice(spark, sfDir)
      Round15Queries.prepareBm25Index(spark, sfDir) }),
    // the delete-aware serve reads the same persisted index; its timed
    // number is the masked-df postings pass + the pruned masked serve —
    // the per-serve bill a deployment pays while tombstones are carried
    ("q283_bm25_delete_serve", Round15Queries.prepareBm25Index(_, _)),
    // and for the tokenizer dial: training + the prune-ladder sweep are
    // offline corpus maintenance; the timed number is the warm serve
    // (stamp pass + artifact read + the q267-class segmentation)
    ("q277_vocab_choice_persist", UnigramQueries.prepareVocabChoice(_, _)),
    // the corpus card build is offline corpus maintenance (one
    // tokenize per corpus state); the timed q306 number is the warm
    // SQL serve — stamp check + strata-scale artifact reads
    ("q306_sql_card", Round19Queries.ensureCorpusCard(_, _)),
    ("q279_vocab_choice_encode", UnigramQueries.prepareVocabChoice(_, _)),
    ("q69_bucketed_join", RelationalOps.prepareBucketedTables(_, _)),
    ("q70_partition_pruning", EventQueries.preparePartitionedLake(_, _)),
    ("q78_incremental_dedup", DedupQueries.prepareIncrementalCorpus(_, _)),
    ("q120_orc_lake", EventQueries.prepareOrcLake(_, _)),
    ("q133_text_lake", TextStatsQueries.prepareTextLake(_, _)),
    ("q134_schema_evolution", TextStatsQueries.prepareEvolvedLake(_, _)),
    ("q206_dynamic_pruning", (spark, sfDir) => {
      EventQueries.preparePartitionedLake(spark, sfDir)
      Round11Queries.prepareEventDim(spark, sfDir) }))

  /** The benched queries: every registered name, in declaration order,
    * minus [[Excluded]]. */
  val Headline: Seq[String] =
    SparkEntry.registry.map(_.name).filterNot(Excluded.contains)

  /** One selected query's outcome: seconds and the 1-min load sampled
    * at it, or `None` seconds when it threw or its prep failed. */
  private[graft] final case class Outcome(name: String,
      secs: Option[Double], load: String)

  /** The run's two JSON lines: the full record (artifact) and the
    * compact summary (last stdout line). A failed query is listed under
    * "failed" in both and counts in neither `queries`, `total` nor
    * `n_queries` — a failure is never a fast query. */
  private[graft] def report(outcomes: Seq[Outcome], sf: String,
      loadStart: String, loadEnd: String, outPath: String): (String, String) = {
    val timed = outcomes.collect { case Outcome(n, Some(t), l) => (n, t, l) }
    val failed = outcomes.collect { case Outcome(n, None, _) => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    val qs = timed.map { case (k, v, _) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val qload = timed.map { case (k, _, l) => "\"" + k + s"""\":\"$l\"""" }
      .mkString("{", ",", "}")
    val total = timed.map(_._2).sum
    (f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"query_load":$qload,"failed":$failed,"sf":"$sf","load_start":"$loadStart","load_end":"$loadEnd"}""",
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${timed.size},"failed":$failed,"sf":"$sf","load_start":"$loadStart","load_end":"$loadEnd","queries_file":"$outPath"}""")
  }

  /** Where the per-query JSON artifact lands. Default target/bench.json
    * (build output, never committed); SPARK_GRAFT_BENCH_OUT overrides.
    * The repo-root bench.json is the COMMITTED quiet-band record — it
    * is only written when SPARK_GRAFT_BENCH_COMMIT=1 names it
    * explicitly, because an unconditional root write clobbered the
    * committed artifact twice in round 10 (ad-hoc subset runs +
    * `git add -A`).
    */
  private[graft] def benchOutPath(env: Map[String, String]): java.nio.file.Path =
    java.nio.file.Paths.get(
      if (env.get("SPARK_GRAFT_BENCH_COMMIT").contains("1")) "bench.json"
      else env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))

  /** 1/5/15-min load averages — recorded at start and end so a
    * load-contaminated run is self-documenting (BENCH_r04's 544 s
    * headline was ambient load at 15-min avg 4.75, not a regression;
    * see BASELINE.md's measurement-honesty log).
    */
  private def loadavg: String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim
      .split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg
    // dev-loop subset: SPARK_GRAFT_BENCH_ONLY=q44_cc_synth,q13_top1_similar
    // (driver runs with it unset → full headline set). A name outside
    // the headline set would time nothing, so it is refused up front.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- Headline
      require(unknown.isEmpty,
        "SPARK_GRAFT_BENCH_ONLY names not in the headline set: " +
          unknown.toSeq.sorted.map(n => Excluded.get(n).fold(n)(r => s"$n (excluded: $r)"))
            .mkString(", "))
    }
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Untimed warm-up BEFORE any timed query: noop-scan every core
    // table (all columns through the real scan path — parquet footers,
    // OS page cache, codegen compilation) plus one shuffle. Without
    // this the FIRST timed query absorbs the whole JVM/table-load cost
    // (q29 measured 4.2 s cold-first vs 1.0 s in-suite), which
    // especially distorts small subset runs.
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      try spark.read.parquet(s"$sfDir/$t.parquet")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    try spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count().count()
    catch { case _: Throwable => }
    // A/B alternating mode — the measurement-honesty tool for
    // optimization claims on a loaded box: ambient load drifts on the
    // minute scale, so A-then-all-B comparisons confound variant with
    // load; BACK-TO-BACK alternation cancels the drift. Variant B is
    // the same query under SQL-conf overrides;
    //   SPARK_GRAFT_BENCH_AB="qname;conf:key=v[,key=v];reps:N"
    // e.g. "q282_postings_append_cycle;conf:spark.sql.shuffle.partitions=8;reps:4"
    // runs warm-up + N alternating A/B pairs and prints ONE JSON line
    // with both series and medians, then exits (no full suite).
    sys.env.get("SPARK_GRAFT_BENCH_AB").foreach { spec =>
      val parts = spec.split(";").map(_.trim)
      val qname = parts(0)
      val confs = parts.collectFirst {
        case p if p.startsWith("conf:") =>
          p.stripPrefix("conf:").split(",").toSeq.map { kv =>
            val Array(k, v) = kv.split("=", 2); (k, v) }
      }.getOrElse(Seq.empty)
      val reps = parts.collectFirst {
        case p if p.startsWith("reps:") => p.stripPrefix("reps:").toInt
      }.getOrElse(5)
      val fn = SparkEntry.queries.getOrElse(qname,
        sys.error(s"[bench] A/B: unknown query $qname"))
      def time(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      time() // query-specific warm-up rep (untimed)
      val (as, bs) = (Array.newBuilder[Double], Array.newBuilder[Double])
      for (_ <- 1 to reps) {
        as += time()
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        bs += time()
        confs.foreach { case (k, _) => spark.conf.unset(k) }
      }
      def median(xs: Array[Double]): Double = xs.sorted.apply(xs.length / 2)
      def ser(xs: Array[Double]): String =
        xs.map(x => f"$x%.3f").mkString("[", ",", "]")
      val (aArr, bArr) = (as.result(), bs.result())
      val confStr = confs.map { case (k, v) => s"$k=$v" }.mkString(",")
      println(
        f"""{"metric":"ab","query":"$qname","b_conf":"$confStr","reps":$reps,"a_times":${ser(aArr)},"b_times":${ser(bArr)},"a_median":${median(aArr)}%.3f,"b_median":${median(bArr)}%.3f,"load":"$loadavg"}""")
      spark.stop()
      return
    }

    // Untimed preps, in [[Prep]] order, for the selected queries only
    // (a subset dev loop must not pay every build).
    val prepFailed = Prep.toSeq.filter { case (name, _) => selected(name) }
      .flatMap { case (name, build) =>
        spark.sparkContext.setJobDescription(s"prep:$name")
        try { build(spark, sfDir); None }
        catch { case e: Throwable =>
          System.err.println(s"[bench] prep failed — skipping $name: $e"); Some(name)
        }
        finally spark.sparkContext.setJobDescription(null)
      }.toSet
    val runnable = Headline.filter(n => selected(n) && !prepFailed(n))
    // Subset-fidelity warm pass: in dev-loop subset mode each selected
    // query first runs once UNTIMED, so its generated-code and
    // table-load caches are as warm as they would be mid-suite (q29:
    // 3.5 s cold-subset vs 1.0 s in-suite — the delta is codegen
    // compilation its full-run neighbors q14/q25/q26 already paid).
    // The driver's full run (no SPARK_GRAFT_BENCH_ONLY) is unchanged.
    // SPARK_GRAFT_BENCH_NOWARM=1 skips it — needed by the SCALE.md
    // study, where a query whose builder memoizes per (session, dir)
    // (bpeTrain) would otherwise be timed on a memo hit and report the
    // post-training residue instead of the training cost.
    if (only.isDefined && !sys.env.get("SPARK_GRAFT_BENCH_NOWARM").contains("1"))
      for (name <- runnable)
        try SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => }
    val timed = runnable.map { name =>
      val fn = SparkEntry.queries(name)
      // label every job this query spawns (guide §1.5) so event-log
      // profiling (tools/jobstats.py) attributes jobs to queries;
      // setJobDescription is thread-local driver metadata — zero
      // effect on the timed execution
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      // noop sink, NOT count(): under Aggregate(count(1)) Catalyst
      // prunes projection-only queries down to a bare row-count scan
      // (md5/binary/window work would be measured as zero).
      val ok = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: $e"); false
      }
      val secs = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      // 1-min loadavg sampled AT this query, so a contaminated
      // stretch of the run is machine-discountable per entry instead
      // of by whole-run start/end brackets
      Outcome(name, Some(secs).filter(_ => ok),
        loadavg.split(",").headOption.getOrElse(""))
    }
    val outcomes = Headline.filter(n => selected(n) && prepFailed(n))
      .map(Outcome(_, None, "")) ++ timed
    val outPath = benchOutPath(sys.env)
    val (json, compact) = report(outcomes, sfDir, loadStart, loadavg, outPath.toString)
    // The full per-query map (185+ entries) overflows the driver's tail
    // capture (BENCH_r04 "parsed": null), so three channels:
    // (1) the full JSON line on stdout first (build.sbt sets
    //     run/outputStrategy := StdoutOutput to keep it undecorated),
    // (2) the full line in the benchOutPath artifact (default
    //     target/bench.json; the committed repo-root record only under
    //     the explicit SPARK_GRAFT_BENCH_COMMIT flag),
    // (3) a COMPACT summary as the LAST stdout line — small enough to
    //     always survive a tail capture; per-query numbers live in the
    //     artifact.
    println(json)
    Option(outPath.getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(outPath,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(compact)
    spark.stop()
    // the artifact is written either way; the exit status says whether
    // every selected query was timed
    if (outcomes.exists(_.secs.isEmpty)) sys.exit(1)
  }
}
