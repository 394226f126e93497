package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline query set on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * The headline set covers every operator family at its scalable
  * strategy. Deliberately excluded are the quadratic-OUTPUT
  * correctness demos (q16/q17/q24 emit O(n²) near-dup pairs by
  * definition — their cost is output volume, not operator speed; the
  * sf0.01 oracle gate still runs them; q61 winnowing-candidates and
  * q108's source-overlap rollup consume the same pair family), q19
  * (its input IS q16's pair
  * set: measured at sf0.1, 77 of 86 s is edge generation on this
  * deliberately self-similar corpus, 16 s the CC loop over the
  * resulting 4M edges — see SCALE.md; q44 benches the CC loop itself
  * on a linear-size chain+random graph instead; q100 survivorship
  * composes the same q16→q19 chain and is excluded for the same
  * reason; q128's split-leakage rollup, q172's canonical-purge
  * resolution, and q289's cluster-keyed leak-free split consume the
  * q16 pairs too (q289's projection itself is the benched q288); q242's recall audit,
  * q243's banding sweep, and q268's banding auto-choice materialize
  * the full exact τ=0.7 pair set on this deliberately self-similar
  * corpus (q268 additionally verifies the loosest swept banding's
  * candidate volume and SERVES the quadratic-output near-dup join —
  * measured 333 s at sf0.1, all output volume; q274, q268's
  * persisted-choice twin, SERVES the same quadratic-output join and is
  * excluded with it — its point, the measurement bill amortized to
  * zero on a warm artifact, is benched by the q272/q273/q277 trio whose
  * serves are output-linear; q278's staleness audit composes q274's
  * ensure, so a cold run would pay the same quadratic measurement
  * inside the timed region — excluded with it, its own cost being
  * three artifact reads + one stamp pass; q280's corpus-ingest cycle
  * pays TWO cold measurement bills per call by construction — base
  * and post-ingest, the quadratic banding measure among them — its
  * serving paths are benched by the q272/q273/q277 trio and its
  * composition correctness by the sf0.01 gate; q292's masked-df
  * artifact cycle, q294's snapshot-cursor catch-up, q295's
  * incremental card, and q297's IVF-PQ cursor catch-up each pay a
  * COLD build (index, card, or k-means) over their own lake replica
  * per call by construction — their marginal verbs are benched via
  * q283/q282/q291/q251 and measured in SCALE.md, their composition
  * correctness by the sf0.01 gate; q299's card crash-discipline cycle
  * pays TWO cold card builds plus a deliberately crashed merge per
  * call by construction — the one-shot build is benched as q291 and
  * the torn-state machinery is metadata-scale; q301's bucket-dial
  * auto-choice pays a cold index build over its own replica per call —
  * the choice itself is one artifact-scale distinct count and the
  * serving path is benched as q281; q304's masked-df alternation
  * pays a cold index build plus two postings-decrement passes over
  * its own replica per call by construction — the serving path is
  * benched as q283 and the alternation contract is the sf0.01 gate's
  * counted-thunk law; q305's as-of card pays two full card builds
  * over an own-replica chronology per call — the one-shot card is
  * benched as q291 and chain discovery is manifest TSV reads; q307's
  * card ingest cycle pays a cold card build + a batch merge over its
  * own replica per call by construction — the warm serve is benched
  * as q306 and the marginal merge is measured in SCALE.md's round-17
  * "Incremental card" section;
  * q308's drift report pays TWO as-of card builds over an own-replica
  * chronology per call — the q305 rationale; the drift verb itself is
  * card-artifact reads in q306's serve class; q310's age-retained
  * cycle is q300's exact composed cycle with the pure policy rule
  * swapped — its cost IS q300's benched number, the delta three
  * integer comparisons over per-snapshot stamps) — same
  * quadratic-output class),
  * queries that are strict
  * prefixes/aggregations/SQL-surface twins of included ones (q6, q11,
  * q23, q45, q46, q51, q53, q114, q225, q246, q253, q302 — q46 is q13
  * through the SIMILARITY_TOP1 hint, q225 is q211 through SETSIM_JOIN,
  * q246 is q226 through the BM25 hint, q253 is q244 through BM25_MULTI,
  * q302 is q283 through the graft_bm25_masked TVF, q45/q132
  * are fixture-sized, q114 is exactly q115's
  * first training round), and the fixture-sized q54/q55 and
  * q231/q234 (dHash fixtures; input does not scale with sf).
  */
object Bench {

  val Headline: Seq[String] = Seq(
    "q1_pricing_summary", "q2_revenue_by_nation", "q3_top_orders_per_segment",
    "q4_status_pivot_by_region", "q5_semi_anti", "q7_set_ops", "q8_rollup",
    "q9_sql_correlated", "q34_percentiles", "q39_cube",
    "q10_tokens_tf", "q12_tfidf", "q13_top1_similar", "q50_task1_matches",
    "q52_lang_matrix",
    "q14_dedup_exact", "q15_minhash", "q18_simhash",
    "q20_lsh_top1_banded", "q21_knn_bruteforce", "q22_lsh_buckets",
    "q25_lang_id", "q26_quality", "q27_token_counts", "q28_fingerprints",
    "q29_curation", "q37_sequence_packing", "q42_unigram_logprob",
    "q30_event_window_agg", "q31_sessionize", "q32_event_dedup",
    "q33_asof_attribution", "q35_json_extract", "q36_range_join_campaigns",
    "q38_trailing_window",
    "q40_media_metadata", "q41_media_feature_rollup",
    "q43_ivf_topk", "q44_cc_synth", "q47_embedding_centroids",
    "q48_hash_split", "q49_nearest_centroid", "q56_interval_overlap",
    "q57_shipping_priority",
    "q58_salted_enrichment", "q59_latest_per_key", "q60_stratified_sample",
    "q62_top_bigrams_per_lang", "q63_large_orders", "q64_length_quartiles",
    "q65_funnel", "q66_triangles", "q67_unpivot_source_langs",
    "q68_window_showcase", "q69_bucketed_join", "q70_partition_pruning",
    "q71_repetition_ratios", "q72_token_chunks", "q73_promo_revenue",
    "q74_supplier_breadth", "q75_dormant_customers",
    "q76_decontamination", "q77_order_priority_check", "q78_incremental_dedup",
    "q79_local_supplier_revenue", "q80_returned_item_customers",
    "q81_volume_shipping", "q82_waiting_suppliers",
    "q83_order_count_distribution", "q84_small_qty_revenue",
    "q85_disjunctive_revenue", "q86_market_share",
    "q87_boilerplate_share", "q88_mixture_weights", "q89_quantized_topk",
    "q90_top_supplier",
    "q91_forecast_revenue", "q92_ship_delay_modes", "q93_product_profit",
    "q94_min_cost_supplier", "q95_important_stock",
    "q96_concentrated_shippers", "q97_vocab_growth", "q98_zipf_slope",
    "q99_ann_recall",
    "q101_pagerank", "q102_semantic_dedup", "q103_temperature_mix",
    "q104_topk_sample", "q105_minhash_calibration",
    "q106_embedding_outliers", "q107_confusion_matrix",
    "q109_personalized_pagerank", "q110_label_propagation",
    "q111_session_window", "q112_resample_ffill",
    "q113_weighted_sample", "q115_bpe_train", "q116_source_minhash_union",
    "q117_kmv_distinct", "q118_winsorize", "q119_robust_stats",
    "q120_orc_lake", "q121_zorder_key",
    "q122_cdc_merge", "q123_scd2", "q124_compaction_plan",
    "q125_skipping_manifest", "q126_bpe_encode", "q127_oov_rate",
    "q129_delete_propagation", "q130_incremental_stats",
    "q131_dirty_window_recompute", "q133_text_lake", "q134_schema_evolution",
    "q135_geo_mean_length", "q136_kcore",
    "q137_fuzzy_part_linkage", "q138_char_entropy", "q139_quality_report",
    "q140_bigram_lm", "q141_jl_projection", "q142_fk_audit",
    "q143_bloom_pruned_revenue", "q144_trigram_novelty",
    "q145_conjunctive_search", "q146_phrase_search",
    "q147_pii_redaction", "q148_join_ivm", "q149_bfs_depth",
    "q150_pmi_collocations", "q151_source_kl_drift", "q152_snapshot_diff",
    "q153_exact_substr_spans", "q154_embedding_covariance",
    "q155_hard_negatives", "q156_tokenizer_fertility", "q157_shard_plan",
    "q158_video_frame_sample", "q159_k_anonymity", "q160_domain_rollup",
    "q161_skew_audit", "q162_sentence_stats", "q163_power_iteration",
    "q164_variant_extract", "q165_budget_apportion", "q166_chi_square_drift",
    "q167_bpe_decode", "q168_intra_doc_repetition", "q169_lang_confusion",
    "q170_value_histogram", "q171_funnel", "q173_unpivot_roundtrip",
    "q174_lateral_topn", "q175_recursive_depth", "q176_lang_signature",
    "q177_retention_cohorts", "q178_benford", "q179_transition_matrix",
    "q180_twap", "q181_rolling_distinct", "q182_sql_udf",
    "q183_notin_nullaware", "q184_grouping_sets", "q185_bag_setops",
    "q186_scalar_subquery", "q187_ntile_deciles", "q188_training_order",
    "q189_nullsafe_diff", "q190_union_by_name", "q191_expectations",
    "q192_cadence_histogram", "q193_topk_with_ties", "q194_doc_keywords",
    "q195_correlation", "q196_bitmap_distinct", "q197_pit_join",
    "q198_attribution", "q199_streaks", "q200_ab_test",
    "q201_percentile_within", "q202_interval_union",
    "q203_peak_concurrency", "q204_basket_lift", "q205_cusum_drift",
    "q206_dynamic_pruning", "q207_ks_test", "q208_try_ingest",
    "q209_weighted_median", "q210_merkle_diff",
    "q211_setsim_join", "q212_dictionary_match", "q213_heavy_hitters",
    "q214_rendezvous_shards", "q215_skyline", "q216_positional_index",
    "q217_nearest_event", "q218_grouped_trend", "q219_bitemporal_asof",
    "q220_column_diff", "q221_seasonal_decomposition", "q222_sequence_match",
    "q223_sssp", "q224_containment_join",
    "q226_bm25", "q227_rouge2", "q228_mmr", "q229_roc_auc",
    "q230_calibration_bins", "q232_pq_topk", "q233_pq_rerank",
    "q235_jackknife", "q236_bitext_margin",
    "q237_agreement_metrics", "q238_bitext_blocked",
    "q239_threshold_select", "q240_rm3_expansion", "q241_ranking_eval",
    "q244_multi_bm25", "q245_ivfpq_topk", "q247_filtered_ann",
    "q248_multi_query_ndcg", "q249_ivfpq_rerank", "q250_multiprobe_lsh",
    "q251_ivfpq_append", "q252_nprobe_curve", "q254_ivfpq_delete",
    "q255_dsir_weights", "q256_rrf_fusion", "q257_passage_dedup",
    "q258_ivfpq_compact", "q259_pq_drift_audit",
    "q260_label_noise_audit", "q261_self_bleu", "q262_label_noise_blocked",
    "q263_nprobe_auto", "q264_ivfpq_retrain", "q265_compaction_policy",
    "q266_unigram_vocab", "q267_unigram_segment", "q269_unigram_encode",
    "q270_unigram_decode", "q271_bm25_params_auto",
    "q272_nprobe_choice_persist", "q273_bm25_params_persist",
    "q281_bm25_index_serve",
    "q282_postings_append_cycle", "q283_bm25_delete_serve",
    "q284_postings_maintenance_cycle", "q300_retained_maintenance_cycle",
    "q285_snapshot_read",
    "q286_snapshot_delta", "q287_hard_negative_mining",
    "q288_split_assign", "q290_asof_serve", "q291_dataset_card",
    "q293_retained_compaction", "q296_sql_asof", "q298_retention_policy",
    "q303_age_retention_policy", "q306_sql_card",
    "q275_vocab_size_auto", "q276_lifecycle_cycle",
    "q277_vocab_choice_persist", "q279_vocab_choice_encode")

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
    // dev-loop subset: SPARK_GRAFT_BENCH_ONLY=q44_cc_synth,q13_top1_similar
    // (driver runs with it unset → full headline set)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))

    // A/B alternating mode — the measurement-honesty tool for
    // optimization claims on a loaded box: ambient load drifts on the
    // minute scale, so A-then-all-B comparisons confound variant with
    // load; BACK-TO-BACK alternation cancels the drift. Variant B is
    // the same query under SQL-conf overrides (how every graft
    // optimization knob is expressed);
    //   SPARK_GRAFT_BENCH_AB="qname;conf:key=v[,key=v];reps:N"
    // e.g. "q282_postings_append_cycle;conf:spark.graft.write.sized=false;reps:4"
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

    // Offline-layout preps (IVF index, bucketed tables, partitioned
    // lake, incremental-dedup corpus): scheduled build jobs at scale,
    // never the per-query cost users pay — built OUTSIDE the timed
    // region, and only when their query is actually selected (a
    // subset dev loop must not pay every build). If a build fails its
    // query is SKIPPED rather than silently re-building inside the
    // timed region (which would report build+probe as the probe
    // number).
    def prep(queryName: String)(build: => Unit): Boolean =
      !selected(queryName) || {
        spark.sparkContext.setJobDescription(s"prep:$queryName")
        try { build; true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] prep failed — skipping $queryName: $e"); false
        }
        finally spark.sparkContext.setJobDescription(null)
      }
    val ivfReady = prep("q43_ivf_topk") {
      operators.AnnQueries.prepareIvf(spark, sfDir) }
    val pqReady = prep("q232_pq_topk") {
      operators.AnnQueries.preparePq(spark, sfDir); () }
    val pqReady2 = prep("q233_pq_rerank") {
      operators.AnnQueries.preparePq(spark, sfDir); () }
    val ivfPqReady = prep("q245_ivfpq_topk") {
      operators.AnnQueries.prepareIvfPq(spark, sfDir); () }
    val ivfPqReady2 = prep("q249_ivfpq_rerank") {
      operators.AnnQueries.prepareIvfPq(spark, sfDir); () }
    val ivfPqReady3 = prep("q252_nprobe_curve") {
      operators.AnnQueries.prepareIvfPq(spark, sfDir); () }
    // lifecycle preps: build+append (q251/q254/q259) and compaction
    // (q258) are OFFLINE index maintenance — the timed numbers are the
    // probes/audit a serving deployment pays
    val ivfPqAppendReady = prep("q251_ivfpq_append") {
      operators.AnnQueries.prepareIvfPqAppend(spark, sfDir); () }
    val ivfPqAppendReady2 = prep("q254_ivfpq_delete") {
      operators.AnnQueries.prepareIvfPqAppend(spark, sfDir); () }
    val ivfPqAppendReady3 = prep("q259_pq_drift_audit") {
      operators.AnnQueries.prepareIvfPqAppend(spark, sfDir); () }
    val ivfPqCompactReady = prep("q258_ivfpq_compact") {
      operators.AnnQueries.prepareIvfPqCompact(spark, sfDir); () }
    // the composed cycle's INGEST (base build + late append) is the
    // same offline maintenance as q251's; the timed number is the
    // nightly job itself — audit → decide → actuate → re-audit →
    // tune → serve across generations
    val cycleReady = prep("q276_lifecycle_cycle") {
      operators.AnnQueries.prepareIvfPqAppend(spark, sfDir); () }
    // the persisted-choice prep ensures a WARM choices/nprobe artifact:
    // the tuning sweep is offline index maintenance (amortized across
    // every serve until the generation moves), so the timed number is
    // the warm serve a deployment actually pays — stamp pass + artifact
    // read + probe. The cold measure-and-write runs here, untimed.
    val choiceReady = prep("q272_nprobe_choice_persist") {
      val idx = operators.AnnQueries.prepareIvfPq(spark, sfDir)
      graft.ann.Ann.ivfPqEnsureNprobeChoice(spark, idx,
        operators.AnnQueries.PqTopK, operators.AnnQueries.NprobeTarget,
        operators.AnnQueries.NprobeSweep,
        () => spark.read.parquet(s"$sfDir/embeddings.parquet")
          .filter(org.apache.spark.sql.functions.col("vec_id")
            % operators.AnnQueries.QueryMod === 0),
        () => spark.read.parquet(s"$sfDir/embeddings.parquet"))
      () }
    // same discipline for the BM25 dial: the 12-point sweep is offline
    // corpus maintenance; the timed number is the warm single-point
    // serve (stamp pass + artifact read + the q244-class scoring)
    val bm25ChoiceReady = prep("q273_bm25_params_persist") {
      operators.Round15Queries.prepareBm25ParamsChoice(spark, sfDir) }
    // the postings-index build is offline corpus maintenance (one
    // tokenize+group pass per corpus state, amortized across every
    // serve until the stamp moves); the timed q281 number is the
    // partition-pruned artifact serve a deployment actually pays
    val bm25IndexReady = prep("q281_bm25_index_serve") {
      operators.Round15Queries.prepareBm25ParamsChoice(spark, sfDir)
      operators.Round15Queries.prepareBm25Index(spark, sfDir) }
    // the delete-aware serve reads the same persisted index; its timed
    // number is the masked-df postings pass + the pruned masked serve —
    // the per-serve bill a deployment pays while tombstones are carried
    val bm25DeleteReady = prep("q283_bm25_delete_serve") {
      operators.Round15Queries.prepareBm25Index(spark, sfDir) }
    // and for the tokenizer dial: training + the prune-ladder sweep are
    // offline corpus maintenance; the timed number is the warm serve
    // (stamp pass + artifact read + the q267-class segmentation)
    val vocabChoiceReady = prep("q277_vocab_choice_persist") {
      operators.UnigramQueries.prepareVocabChoice(spark, sfDir) }
    // the corpus card build is offline corpus maintenance (one
    // tokenize per corpus state); the timed q306 number is the warm
    // SQL serve — stamp check + strata-scale artifact reads
    val cardReady = prep("q306_sql_card") {
      operators.Round19Queries.ensureCorpusCard(spark, sfDir); () }
    val vocabEncodeReady = prep("q279_vocab_choice_encode") {
      operators.UnigramQueries.prepareVocabChoice(spark, sfDir) }
    val bucketsReady = prep("q69_bucketed_join") {
      operators.RelationalOps.prepareBucketedTables(spark, sfDir) }
    val lakeReady = prep("q70_partition_pruning") {
      operators.EventQueries.preparePartitionedLake(spark, sfDir) }
    val incCorpusReady = prep("q78_incremental_dedup") {
      operators.DedupQueries.prepareIncrementalCorpus(spark, sfDir) }
    val orcReady = prep("q120_orc_lake") {
      operators.EventQueries.prepareOrcLake(spark, sfDir) }
    val textLakeReady = prep("q133_text_lake") {
      operators.TextStatsQueries.prepareTextLake(spark, sfDir) }
    val evoLakeReady = prep("q134_schema_evolution") {
      operators.TextStatsQueries.prepareEvolvedLake(spark, sfDir) }
    val dppReady = prep("q206_dynamic_pruning") {
      operators.EventQueries.preparePartitionedLake(spark, sfDir)
      operators.Round11Queries.prepareEventDim(spark, sfDir) }
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
      for (name <- Headline.filter(selected); fn <- SparkEntry.queries.get(name))
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => }
    val results = Headline
      .filter(selected)
      .filter(name => ivfReady || name != "q43_ivf_topk")
      .filter(name => pqReady || name != "q232_pq_topk")
      .filter(name => pqReady2 || name != "q233_pq_rerank")
      .filter(name => ivfPqReady || name != "q245_ivfpq_topk")
      .filter(name => ivfPqReady2 || name != "q249_ivfpq_rerank")
      .filter(name => ivfPqReady3 || name != "q252_nprobe_curve")
      .filter(name => ivfPqAppendReady || name != "q251_ivfpq_append")
      .filter(name => ivfPqAppendReady2 || name != "q254_ivfpq_delete")
      .filter(name => ivfPqAppendReady3 || name != "q259_pq_drift_audit")
      .filter(name => ivfPqCompactReady || name != "q258_ivfpq_compact")
      .filter(name => cycleReady || name != "q276_lifecycle_cycle")
      .filter(name => choiceReady || name != "q272_nprobe_choice_persist")
      .filter(name => bm25ChoiceReady || name != "q273_bm25_params_persist")
      .filter(name => bm25IndexReady || name != "q281_bm25_index_serve")
      .filter(name => bm25DeleteReady || name != "q283_bm25_delete_serve")
      .filter(name => vocabChoiceReady || name != "q277_vocab_choice_persist")
      .filter(name => cardReady || name != "q306_sql_card")
      .filter(name => vocabEncodeReady || name != "q279_vocab_choice_encode")
      .filter(name => bucketsReady || name != "q69_bucketed_join")
      .filter(name => lakeReady || name != "q70_partition_pruning")
      .filter(name => incCorpusReady || name != "q78_incremental_dedup")
      .filter(name => orcReady || name != "q120_orc_lake")
      .filter(name => textLakeReady || name != "q133_text_lake")
      .filter(name => evoLakeReady || name != "q134_schema_evolution")
      .filter(name => dppReady || name != "q206_dynamic_pruning")
      .flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
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
        } catch { case _: Throwable => false }
        val secs = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setJobDescription(null)
        if (!ok) System.err.println(s"[bench] $name FAILED")
        // 1-min loadavg sampled AT this query, so a contaminated
        // stretch of the run is machine-discountable per entry instead
        // of by whole-run start/end brackets
        (name, secs, loadavg.split(",").headOption.getOrElse(""))
      }
    }
    val loadEnd = loadavg
    val qs = results.map { case (k, v, _) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val qload = results.map { case (k, _, l) => "\"" + k + s"""\":\"$l\"""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"query_load":$qload,"sf":"$sfDir","load_start":"$loadStart","load_end":"$loadEnd"}"""
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
    val outPath = benchOutPath(sys.env)
    Option(outPath.getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(outPath,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"sf":"$sfDir","load_start":"$loadStart","load_end":"$loadEnd","queries_file":"$outPath"}"""
    println(compact)
    spark.stop()
  }
}
