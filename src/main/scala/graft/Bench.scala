package graft

import org.apache.spark.sql.SparkSession
import scala.annotation.nowarn

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are forced through the noop sink (not
  * `.count()`) so Catalyst cannot prune the measured work away.
  */
object Bench {

  // NOTE on g2 vs g4: g4 re-runs a full genotyping pass, but over a
  // DIFFERENT cohort than g2 (3 samples derived from l_linestatus vs
  // g2's single sample), so their called tables cannot be shared without
  // changing query semantics; g4's cost is its honest two-stage cost.
  //
  // Coverage policy (round 8): EVERY SparkEntry.queries key is benched —
  // no untimed correctness-green query. A perf regression anywhere in
  // the catalog shows up in the BENCH_r{N} record; the sub-second micro
  // families (p/a/j/s/u/w/t singletons) cost ~10s of suite time total,
  // which is cheap insurance against invisible drift.
  val headline: Seq[String] = Seq(
    "a3_wide_agg",
    "j3_bcast_equijoin",
    "j2_interval_overlap_shuffle",
    "j1_interval_point_bcast",
    "w2_running_sum",
    "w4_top2_margin",
    "d2_ngram_jaccard_pairs",
    "d3_minhash_lsh_pairs",
    "d4_simhash_pairs",
    "d19_simhash_scaled",
    "d20_simhash_collapsed",
    "d5_dup_ngrams",
    "c1_clean_corpus",
    "e1_cosine_score",
    "e4_ivf_topk",
    "e5_kmeans_step",
    "m2_frame_sample",
    "t2_quality_score",
    "t6_tfidf_topterms",
    "ev1_time_window_agg",
    "ev4_stream_sessions",
    "ev7_asof_enrich",
    "ev8_stream_asof_enrich",
    "ev9_stream_stream_join",
    "ev29_stream_join_agg",
    "t10_length_quantiles",
    "d8_dup_spans",
    "c4_temperature_mix",
    "c5_domain_cap",
    "t8_pii_redact",
    "t9_url_stats",
    "d6_decontaminate",
    "d7_dup_clusters",
    "d9_bloom_decontaminate",
    "t11_quality_filter",
    "c6_shard_manifest",
    "c7_training_order",
    "c9_prepare_shards",
    "c10_chunk_documents",
    "c11_split_assign",
    "c12_epoch_upsample",
    "c13_cdc_upsert",
    "c14_snapshot_diff",
    "t13_token_estimate",
    "t14_bpe_pairs",
    "t15_quality_classifier",
    "t16_subword_tokenize",
    "j7_salted_join",
    "t12_lm_perplexity",
    "d10_incremental_dedup",
    "d11_incremental_minhash",
    "d12_cluster_keepers",
    "ev10_stream_incremental_dedup",
    "ev11_stream_neardup",
    "ev12_stream_ann",
    "ev13_stream_cdc_upsert",
    "ev14_stream_quality_gate",
    "e10_kmeans_train",
    "e11_pq_topk",
    "e12_lsh_neardup",
    "e13_ivfpq_topk",
    "e14_pq_recall",
    "e15_ivfpq_recall",
    "e7_quantized_topk",
    "e8_hamming_topk",
    "e9_batch_ann",
    "d13_semantic_prune",
    "d14_contamination_score",
    "d15_containment_pairs",
    "d16_dupgraph_rank",
    "t17_hll_distinct",
    "t18_hll_merge",
    "t23_hll_accuracy",
    "t24_hll_merge_accuracy",
    "ev15_stream_hll_users",
    "m10_video_neardup",
    "m11_multimodal_pack",
    "t19_bigram_ppl",
    "ev16_user_funnel",
    "t20_cms_heavy_hitters",
    "ev17_retention_cohorts",
    "ev18_stream_funnel",
    "t21_bm25_topk",
    "c15_weighted_sample",
    "c16_corpus_timeline",
    "c17_token_budget_fill",
    "c18_dsir_resample",
    "ev23_stream_budget_fill",
    "t25_bpe_train",
    "t26_bpe_tokenize",
    "ev19_windowed_funnel",
    "d17_minhash_accuracy",
    "t22_hist_quantiles",
    "ev20_stream_heavy_hitters",
    "j8_bloom_pruned_join",
    "j9_bucketed_join",
    "j10_fuzzy_join",
    "ev21_stream_retention",
    "e16_bm25_batch",
    "ev22_stream_hist_quantiles",
    "d18_source_overlap",
    "m3_image_decode",
    "m4_image_dhash",
    "m5_audio_decode",
    "m6_image_neardup",
    "m7_mp4_frames",
    "m8_image_neardup_scaled",
    "m9_audio_neardup",
    "g1_discover_variants",
    "g2_genotype_calls",
    "g3_realign",
    "g4_joint_recall",
    "g5_trio_phase",
    "g6_gvcf_squareoff",
    // round 8: the previously-untimed remainder of the catalog (VERDICT
    // r7 "What's missing" #1) — micro families first, then the
    // scale-relevant serving/streaming paths
    "a1_distinct",
    "a2_group_having",
    "a4_dedup_keys",
    "a5_typed_agg",
    "a6_ratio_agg",
    "a7_array_agg",
    "a8_rollup",
    "c2_sample_mix",
    "c3_pack_sequences",
    "d1_dedup_exact",
    "e2_ann_topk",
    "e17_mrl_rerank",
    "t27_tdigest_quantiles",
    "ev24_psi_drift",
    "ev25_stream_psi_drift",
    "m12_audio_segments",
    "j11_band_join",
    "c19_scd2_history",
    "ev26_zscore_anomaly",
    "ev27_stream_zscore",
    "t28_nfc_normalize",
    "m13_scene_cuts",
    "ev28_stream_tdigest",
    "a9_cube",
    "e18_filtered_ann",
    "e19_filtered_recall",
    "c21_time_travel",
    "c22_zorder_layout",
    "c23_log_vacuum",
    "c24_zorder3_layout",
    "e3_embedding_dedup",
    "e6_ann_recall",
    "ev2_sessionize",
    "ev3_stream_window",
    "ev5_stream_enrich",
    "ev6_stream_dedup",
    "j4_semi_join",
    "j5_anti_join",
    "j6_pivot",
    "m1_multimodal_meta",
    "p1_filter_conj",
    "p2_regex_pred",
    "p3_cond_rewrite",
    "p6_hard_filter_annotate",
    "p6b_filter_matrix",
    "p8_clamp",
    "s1_scan_prune",
    "s9_gen_dimtable",
    "t1_token_count",
    "t3_lang_id",
    "t4_fingerprint",
    "t5_json_extract",
    "t7_repetition",
    "u1_union",
    "u3_token_intersect",
    "w1_sort_limit",
    "w3_coverage_cap")

  /** Fixed CPU-bound reference probe: 400M xxhash64 over a local range,
    * no I/O, no shuffle — its cost is stable on a quiet box, so a slow
    * probe means the MACHINE is contended, not the code. Quiet-box cost
    * measured at calibration time (local[32]): ~CAL_REF_SEC. A run whose
    * probe exceeds 1.5x that is flagged `"contended": true` so a
    * polluted artifact self-describes (BENCH_r04 showed 1.8x inflation
    * with no way to tell from the JSON).
    */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 400000000L, 1, 32)
      .selectExpr("bit_xor(xxhash64(id)) AS h") // bit_xor: no ANSI long overflow
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  // measured on the quiet target box (local[32]): 0.38 s first run
  // (codegen compile included), 0.25 s steady-state; 0.40 keeps quiet
  // runs under the 1.5x band while a BENCH_r04-style 1.8x-contended run
  // lands well over it
  val CalRefSec = 0.40

  // reference WARM probe (r15, idle target box, min over mid+post
  // probes of a suite run): the denominator anchor for
  // `normalized_value`. Distinct from CalRefSec, which is the COLD
  // acceptance-gate reference — a warm in-run probe on the same box
  // lands ~0.13-0.15 s once JIT has settled.
  val CalWarmRefSec = 0.13

  /** Hard acceptance gate (round 8, VERDICT r7 #6): a run whose best
    * pre- or post-suite probe exceeds 1.25x the reference REFUSES to
    * write `bench_out.json` — the r7 artifact was accepted with a 0.51s
    * probe and carried a phantom 2.5x g4 regression that an isolated
    * re-run disproved. Rejection is loud, not silent: the JSON (with
    * `"rejected":true`) still goes to stdout and to
    * `bench_out.rejected.json`, so the data exists without polluting
    * the official record.
    */
  val CalGate = 1.25

  /** Best-of-up-to-`attempts` probes, stopping early once one lands
    * under the gate. A single probe carries GC/JIT noise (observed
    * 0.49s first probe vs 0.29s second on a quiet box); genuine
    * contention slows every attempt, so the min discriminates.
    */
  def probeMin(spark: SparkSession, attempts: Int): Double = {
    var best = Double.MaxValue
    var i = 0
    while (i < attempts && best > CalGate * CalRefSec) {
      best = math.min(best, calibrate(spark))
      i += 1
      if (best > CalGate * CalRefSec && i < attempts) Thread.sleep(2000)
    }
    best
  }

  /** Memory-bandwidth probe (round 10): this session observed a box
    * state where the CPU probe stayed gate-clean while every
    * shuffle/agg-heavy query ran 2-8x its band with idle CPUs and low
    * GC — host-level contention on memory bandwidth / LLC that a
    * compute-bound xxhash loop cannot see. A single-threaded xor-reduce
    * over a 256 MiB long array is bandwidth-bound, so its GB/s drops
    * when a neighbor saturates the memory bus. Recorded (pre/mid/post)
    * alongside the CPU probes — not hard-gated yet: the quiet-box
    * reference needs a few rounds of data before a threshold is
    * defensible (same calibration path CalRefSec took in r4-r8).
    */
  private lazy val memArr: Array[Long] = {
    val a = new Array[Long](1 << 25) // 256 MiB
    var i = 0
    while (i < a.length) { a(i) = i * 0x9E3779B97F4A7C15L; i += 1 }
    a
  }
  def memProbeGbps(): Double = {
    val a = memArr
    var best = Double.MaxValue
    var pass = 0
    while (pass < 3) {
      val t0 = System.nanoTime()
      var acc = 0L
      var i = 0
      while (i < a.length) { acc ^= a(i); i += 1 }
      val sec = (System.nanoTime() - t0) / 1e9
      memSink = acc // defeat dead-code elimination
      best = math.min(best, sec)
      pass += 1
    }
    (a.length.toLong * 8) / best / 1e9
  }
  // written, never read: the store keeps the JIT from eliding the scan
  @nowarn("cat=unused-privates") @volatile private var memSink = 0L

  /** Memory-bandwidth conviction gate (round 18). The r17 driver run was
    * ACCEPTED (CPU probes gate-clean) while its mid-suite mem probes
    * dipped to 4.89 and 3.34 GB/s against a 7-8 GB/s quiet band — and
    * the g-family rows inside exactly those windows recorded 2-7x their
    * quiet-box cost (g6 77.3 s vs ~10 s re-measured). A compute-bound
    * xxhash probe cannot see memory-bus contention (the r10 note), so
    * the mem probe now CONVICTS its window the same way a hot CPU probe
    * does. The reference is the best bandwidth this run has seen
    * (host-independent); the gate sits below observed quiet-band
    * variance (r17 accepted run: min/max 0.69 within the quiet band,
    * stalls at 0.41-0.60).
    */
  val MemGate = 0.6

  /** A mid-run probe convicts its window when the CPU probe runs over
    * 1.5x [[CalRefSec]] or memory bandwidth falls below [[MemGate]] x the
    * run's best (`memRef`); either marks the run `contended`.
    */
  def convicts(cpuSec: Double, memGbps: Double, memRef: Double): Boolean =
    cpuSec > 1.5 * CalRefSec || memGbps < MemGate * memRef

  /** Queries that spend less than this are not re-measured after a
    * conviction: their worst-case inflation is bounded by the floor
    * itself, and a re-run would cost more probe time than it could
    * correct. They are still RECORDED (`contention_skipped`) so the
    * artifact shows which timings ran under a hot probe.
    */
  val ReRunFloorSec = 2.0

  /** Split a convicted window into queries worth re-measuring (cost
    * above [[ReRunFloorSec]]) and cheap ones recorded as skipped.
    * Failed queries (negative timing) are neither — their -1.0 marker
    * already says the number is not a measurement.
    */
  def partitionConvicted(window: Seq[String], timing: String => Double,
      floorSec: Double = ReRunFloorSec): (Seq[String], Seq[String]) = {
    val measured = window.filter(n => timing(n) >= 0)
    measured.partition(n => timing(n) > floorSec)
  }

  /** Artifact acceptance: rejected when the post-suite probe shows a
    * contended box, OR when any mid-probe conviction could not be
    * cleanly re-measured (quiet box never arrived / re-run itself ran
    * hot). The second clause closes the r8/r9 loophole where a run
    * whose own mid-probes convicted it still became the official
    * record: a conviction without a clean re-measurement poisons the
    * convicted rows, and an artifact with poisoned heavy rows must not
    * be written as `bench_out.json`.
    */
  def shouldReject(calPost: Double, unremediated: Seq[String]): Boolean =
    calPost > CalGate * CalRefSec || unremediated.nonEmpty

  /** Write the bench record: accepted runs produce `bench_out.json`;
    * rejected runs produce ONLY `bench_out.rejected.json` (the data
    * exists for diagnosis without polluting the official artifact
    * path). Returns the file written.
    */
  def writeArtifact(json: String, rejected: Boolean,
      dir: java.nio.file.Path): java.nio.file.Path = {
    val name = if (rejected) "bench_out.rejected.json" else "bench_out.json"
    val p = dir.resolve(name)
    java.nio.file.Files.writeString(p, json + "\n")
    p
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // bytes-derived shuffle sizing (graft.util.Tuning): the r15 w2 proof
    // (370.5s -> 73.0s at 256 partitions, sf100) applied engine-wide
    val spark = graft.plans.GraftExtensions.catalogSession(sfDir)
    System.err.println("[bench] shuffle partitions: " +
      spark.conf.get("spark.sql.shuffle.partitions") +
      s" (leg ${graft.util.Tuning.legBytes(sfDir) >> 20} MB, " +
      s"cpus ${spark.sparkContext.defaultParallelism})")
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warmup on the smallest SF so headline timings measure
    // steady-state query execution, not first-query class loading.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // Production-path overrides: same operator and plan as the catalog
    // query, but on the production hash family (xx64) instead of the
    // DuckDB-reproducible md5 the oracle gate needs.
    val overrides: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Map(
        "d3_minhash_lsh_pairs" -> (queries.Queries.d3_minhash_lsh_pairs_prod _),
        "d7_dup_clusters" -> (queries.Queries.d7_dup_clusters_prod _),
        "d16_dupgraph_rank" -> (queries.Queries.d16_dupgraph_rank_prod _),
        "d11_incremental_minhash" -> (queries.Queries.d11_incremental_minhash_prod _),
        "d12_cluster_keepers" -> (queries.Queries.d12_cluster_keepers_prod _),
        "e12_lsh_neardup" -> (queries.Queries.e12_lsh_neardup_prod _),
        "ev12_stream_ann" -> (queries.Queries.ev12_stream_ann_prod _),
        "t17_hll_distinct" -> (queries.Queries.t17_hll_distinct_prod _),
        "t18_hll_merge" -> (queries.Queries.t18_hll_merge_prod _),
        "t20_cms_heavy_hitters" -> (queries.Queries.t20_cms_heavy_hitters_prod _),
        "d18_source_overlap" -> (queries.Queries.d18_source_overlap_prod _),
        // scale flavor: same operator on the 10x customer table
        "j10_fuzzy_join" -> (queries.Queries.j10_fuzzy_join_prod _))

    // contention probe before the suite (after warmup, so it measures the
    // box, not class loading); repeated after, so contention arriving
    // mid-run is also visible. Gated hard: a contended box produces no
    // accepted artifact (see CalGate).
    val calPre = probeMin(spark, 5)
    if (calPre > CalGate * CalRefSec) {
      System.err.println(f"[bench] REJECT: best-of-5 pre-suite probe $calPre%.2fs > ${CalGate}x reference $CalRefSec%.2fs — machine contended, refusing to run")
      println(s"""{"metric":"total","value":-1.0,"unit":"sec","queries":{},"rejected":true,"reject_reason":"pre-suite calibration $calPre > $CalGate x $CalRefSec","calibration_ref_sec":$CalRefSec}""")
      spark.stop()
      sys.exit(3)
    }

    // SPARK_GRAFT_ONLY=g2,g4 (comma-separated name prefixes) restricts
    // the suite — the profiling path for a single drifting query without
    // paying the full 35-query run
    val preSelected = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(pfx) =>
        val ps = pfx.split(',').map(_.trim).filter(_.nonEmpty)
        headline.filter(n => ps.exists(n.startsWith))
      case None => headline
    }
    // SPARK_GRAFT_SKIP=e3_embedding_dedup,m6_image_neardup (exact names)
    // excludes rows from the suite — the declared-quadratic contracts
    // whose scale twins (e12, m8) carry their family on the >= sf10
    // legs. Skips are RECORDED in the output ("skipped"): a reader of a
    // scale-leg artifact must see which contracts were swapped out, not
    // infer it from missing keys.
    val skipRequested = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // record only names that actually matched the selected suite: a
    // typo'd skip must not appear in the artifact as if a real query
    // had been excluded (coverage would read smaller than it was)
    val skipped = skipRequested.intersect(preSelected.toSet)
    for (miss <- (skipRequested -- skipped).toSeq.sorted)
      System.err.println(s"[bench] WARNING: SPARK_GRAFT_SKIP name matched nothing: $miss")
    val selected = preSelected.filterNot(skipped)

    // RDDs persisted BEFORE the suite belong to the caller: the
    // per-query boundary (Barriers.releaseSince) only releases ids
    // created during the bench run
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet.toSet

    // a failed query records -1.0 (numeric, so the driver's parse still
    // reads the map) and is excluded from the total; a fast failure must
    // not masquerade as a fast success
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    }
    // cumulative JIT wall (all compiler threads): the other cumulative-
    // state mechanism candidate for in-suite inflation (r14 note #3 —
    // d15 +39% in-suite vs solo). Logged per row so a suite run doubles
    // as the diagnostic.
    def jitMs: Long = {
      val c = java.lang.management.ManagementFactory.getCompilationMXBean
      if (c != null && c.isCompilationTimeMonitoringSupported)
        c.getTotalCompilationTime else 0L
    }
    // block-manager residue telemetry (round 18, VERDICT r17 #3): the
    // peak count of bench-created persistent RDDs observed at any
    // query boundary bounds how much barrier debris one query can leave
    // for the next; the post-sweep count proves the suite exits clean.
    var peakResidentRdds = 0
    def residentRdds: Int = spark.sparkContext.getPersistentRDDs
      .count { case (id, _) => !preexisting.contains(id) }
    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double) = {
      peakResidentRdds = math.max(peakResidentRdds, residentRdds)
      graft.util.Barriers.releaseSince(spark, preexisting)
      val t0 = System.nanoTime()
      // in-query GC wall time: the one cumulative-state mechanism a
      // CPU-only calibration probe cannot see (heap debris from prior
      // queries surfaces as collection pauses inside later ones)
      val gc0 = gcMs
      val jit0 = jitMs
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val gcSec = (gcMs - gc0) / 1e3
      System.err.println(f"[bench] $name $sec%.2fs gc=${(gcSec * 1e3).toLong}ms jit=${jitMs - jit0}ms")
      (sec, gcSec)
    }
    // mid-run probes (every 6 queries): the r7 inflation arrived BETWEEN
    // clean pre/post probes, so contention landing mid-suite needs its
    // own record. A hot probe (>1.5x ref) CONVICTS the window of queries
    // since the previous probe: BENCH_r08 measured the g-family at up to
    // 35x its isolated cost with clean pre/post probes — external load
    // arrived exactly inside one window and left. Convicted queries are
    // re-measured once after the box goes quiet (bounded wait), both
    // values recorded (`contention_reruns`), min wins — self-documented
    // re-measurement, not cherry-picking.
    val midProbes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val memMids = scala.collection.mutable.ArrayBuffer.empty[Double]
    val memPre = memProbeGbps()
    val gcReruns = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val contReruns = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val window = scala.collection.mutable.ArrayBuffer.empty[String]
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def fnFor(name: String) = overrides.get(name).orElse(SparkEntry.queries.get(name))
    // best bandwidth seen this run — the mem-conviction reference
    var memRef = memPre
    // `contended` = mid-run contamination flag: pre/post are already
    // gate-clean in an accepted artifact, so only the mid probes can
    // testify to contention arriving inside the suite — a window either
    // probe convicts ([[convicts]]). An accepted contended artifact
    // implies every convicted >ReRunFloorSec row was re-measured on a
    // quiet box, with both values in `contention_reruns` — otherwise
    // `rejected` is true.
    var contended = false
    // quiet = CPU probe under the gate AND memory bandwidth recovered to
    // the run's own quiet band: a re-measurement taken during a bus
    // stall would record the same inflation the conviction flagged
    def quietBox(maxWaitSec: Int): Boolean = {
      val deadline = System.nanoTime() + maxWaitSec * 1000000000L
      def quiet(): Boolean =
        calibrate(spark) <= CalGate * CalRefSec &&
          memProbeGbps() >= MemGate * memRef
      var ok = quiet()
      while (!ok && System.nanoTime() < deadline) {
        Thread.sleep(5000); ok = quiet()
      }
      ok
    }
    // every query in a convicted window leaves a trace in the artifact:
    // re-measured (contention_reruns, min wins), skipped because cheap
    // (contention_skipped — inflation bounded by ReRunFloorSec), or
    // unremediated (contention_unremediated — no quiet box arrived, or
    // the re-run itself ran hot). Unremediated convictions REJECT the
    // artifact (shouldReject): the r8/r9 records were both contended
    // driver runs whose heavy rows sat 4-15x their isolated bands with
    // nothing in the JSON to say so.
    val contSkipped = scala.collection.mutable.LinkedHashSet.empty[String]
    val contUnremediated = scala.collection.mutable.LinkedHashSet.empty[String]
    def remeasureWindow(): Unit = {
      val (victims, cheap) =
        partitionConvicted(window.toSeq, n => timings.getOrElse(n, -1.0))
      contSkipped ++= cheap
      if (victims.isEmpty) return
      if (contReruns.size >= 12 || !quietBox(90)) {
        contUnremediated ++= victims
        return
      }
      victims.foreach { name =>
        fnFor(name).foreach { fn =>
          try {
            val first = timings(name)
            val (again, _) = runOnce(name + " (contention re-run)", fn)
            contReruns += (name -> (first, again))
            timings(name) = math.min(first, again)
          } catch { case _: Throwable => contUnremediated += name }
        }
      }
      // a re-measurement taken while the box was (still or again) hot
      // cannot clear the conviction — verify the box stayed quiet
      // through the re-runs (CPU and memory bus), else the whole window
      // stays poisoned
      if (convicts(calibrate(spark), memProbeGbps(), memRef)) contUnremediated ++= victims
    }
    selected.zipWithIndex.foreach { case (name, qi) =>
      if (qi > 0 && qi % 6 == 0) {
        val p = calibrate(spark)
        midProbes += p
        val m = memProbeGbps()
        memMids += m
        memRef = math.max(memRef, m)
        if (convicts(p, m, memRef)) { contended = true; remeasureWindow() }
        window.clear()
      }
      fnFor(name).foreach { fn =>
        try {
          val (sec, gcSec) = runOnce(name, fn)
          // GC-pause-dominated measurement: the rare bimodal heap mode
          // (PROFILE_r08 — g4 13.9s one run, 5.99s the next, identical
          // code, clean CPU probes) is collection pauses, not query
          // cost. Re-measure ONCE and record BOTH values — the retry is
          // taken only when the first run's own gc telemetry convicts
          // it, and the JSON carries the evidence (`gc_reruns` rows).
          timings(name) =
            if (gcSec > 0.25 * sec && sec > 2.0) {
              val (sec2, _) = runOnce(name + " (gc re-run)", fn)
              gcReruns += (name -> (sec, sec2))
              math.min(sec, sec2)
            } else sec
          window += name
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e")
            timings(name) = -1.0
        }
      }
    }
    // final window has no trailing scheduled probe — give it one so the
    // last queries (historically the heavy g-family) can't be convicted
    // silently
    locally {
      val p = calibrate(spark)
      midProbes += p
      val m = memProbeGbps()
      memMids += m
      memRef = math.max(memRef, m)
      if (convicts(p, m, memRef)) { contended = true; remeasureWindow() }
    }
    val results = selected.flatMap(n => timings.get(n).map(n -> _))
    // final sweep (same cleanup every query boundary runs), then record
    // the residue: a non-zero post-sweep count would mean blocks the
    // bench cannot release — the storage-leak signature the r16
    // BloomJoin unpersist bug had
    peakResidentRdds = math.max(peakResidentRdds, residentRdds)
    graft.util.Barriers.releaseSince(spark, preexisting)
    val postSweepResidentRdds = residentRdds
    val calPost = probeMin(spark, 5)
    val memPost = memProbeGbps()
    val rejected = shouldReject(calPost, contUnremediated.toSeq)
    val failed = results.collect { case (k, v) if v < 0 => k }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // overrides are recorded in the output so a reader knows which rows
    // ran a non-oracle configuration (d3 times the xx64 production hash
    // family; the oracle gate verifies the md5 flavor of the same plan)
    val ov = overrides.keys.toSeq.sorted
      .map(k => "\"" + k + "\":\"xx64\"").mkString("{", ",", "}")
    // Host-speed normalization (r14: host drift produced a fake +14%
    // headline that took a worktree control experiment to refute).
    // One WARM scalar per run: the MIN over the in-run probes (mid +
    // post). The pre-probe is deliberately excluded — it runs on a
    // JIT-cold JVM and measures warmup, not host speed (observed 0.39
    // pre vs 0.14 post on an idle box), and per-row interpolation
    // would smear that warmup gradient into a fake 2-3x late-row
    // inflation. Min, not mean: transient load only ever makes probes
    // SLOWER, and mid-run contention has its own conviction/re-run
    // machinery. CalWarmRefSec pins the reference warm probe (r15
    // measurement on an idle host); future rounds divide out their
    // host's drift against it. RAW seconds remain the primary metric.
    val warmProbes = midProbes.toSeq :+ calPost
    val hostWarm = math.max(warmProbes.min, CalWarmRefSec / 8)
    val normalized = results.collect { case (_, v) if v >= 0 => v }.sum *
      CalWarmRefSec / hostWarm
    val fj = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val mids = midProbes.map(v => f"$v%.3f").mkString("[", ",", "]")
    def rerunJson(m: scala.collection.Map[String, (Double, Double)]): String =
      m.map { case (k, (a, b)) =>
        "\"" + k + "\":[" + f"$a%.3f" + "," + f"$b%.3f" + "]" }.mkString("{", ",", "}")
    def namesJson(s: Iterable[String]): String =
      s.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rejectReason =
      if (!rejected) "null"
      else if (calPost > CalGate * CalRefSec)
        s""""post-suite probe $calPost > $CalGate x $CalRefSec""""
      else
        s""""convicted windows not cleanly re-measured: ${contUnremediated.mkString(",")}""""
    val memMidJ = memMids.map(v => f"$v%.2f").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"normalized_value":${f"$normalized%.3f"},"unit":"sec","queries":$qs,"hash_family_overrides":$ov,"skipped":${namesJson(skipped.toSeq.sorted)},"failed":$fj,"failed_count":${failed.size},"calibration_sec":[$calPre,$calPost],"calibration_mid":$mids,"mem_probe_gbps":{"pre":${f"$memPre%.2f"},"mid":$memMidJ,"post":${f"$memPost%.2f"}},"gc_reruns":${rerunJson(gcReruns)},"contention_reruns":${rerunJson(contReruns)},"contention_skipped":${namesJson(contSkipped)},"contention_unremediated":${namesJson(contUnremediated)},"peak_resident_rdds":$peakResidentRdds,"post_sweep_resident_rdds":$postSweepResidentRdds,"calibration_ref_sec":$CalRefSec,"calibration_gate":$CalGate,"contended":$contended,"rejected":$rejected,"reject_reason":$rejectReason,"sf":"$sfDir"}"""
    // stdout (unprefixed via fork + StdoutOutput) AND a file artifact,
    // so the driver's parse can't be defeated by log interleaving
    println(json)
    writeArtifact(json, rejected, java.nio.file.Paths.get("."))
    if (rejected) {
      // post-suite contention or an unremediated mid-run conviction:
      // the timings ran but the record cannot be trusted — keep the
      // data out of the official artifact path
      System.err.println(s"[bench] REJECT: $rejectReason — not writing bench_out.json")
      spark.stop()
      sys.exit(3)
    }
    spark.stop()
  }
}
