package graft

import graft.queries.Queries

/** Physical-plan regression guards: the scale properties (pushdown,
  * pruning, broadcast choice, partial aggregation, no nested-loop
  * fallbacks) asserted against the actual planned strings, so a future
  * change that silently degrades a plan fails the suite.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("s1: filter pushed to parquet scan, columns pruned") {
    val plan = planOf(Queries.s1_scan_prune(spark, sf("0.001")))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("LessThan(l_shipdate"), plan) // (later filters truncate in toString)
    // pruned read schema: only the 5 referenced columns reach the scan
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_returnflag"), readSchema)
    assert(readSchema.contains("l_quantity"), readSchema)
  }

  test("j3: dimension join plans as broadcast hash join") {
    val plan = planOf(Queries.j3_bcast_equijoin(spark, sf("0.001")))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("interval joins never fall back to nested-loop/cartesian") {
    for (q <- Seq(Queries.j1_interval_point_bcast _, Queries.j2_interval_overlap_shuffle _)) {
      val plan = planOf(q(spark, sf("0.001")))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(plan.contains("Join"), plan)
    }
  }

  test("a3: hash aggregation is partial+final (map-side combine)") {
    val plan = planOf(Queries.a3_wide_agg(spark, sf("0.001")))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("partial_sum") || plan.contains("merge_sum") || plan.contains("sum"), plan)
  }

  test("w1: sort+limit plans as TakeOrderedAndProject, not global sort") {
    val plan = planOf(Queries.w1_sort_limit(spark, sf("0.001")))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("semi/anti joins plan as join strategies, not filters with subqueries") {
    assert(planOf(Queries.j4_semi_join(spark, sf("0.001"))).contains("LeftSemi"))
    assert(planOf(Queries.j5_anti_join(spark, sf("0.001"))).contains("LeftAnti"))
  }

  test("d3: pair-dedup exchange carries only the id pair, not signatures") {
    val plan = Queries.d3_minhash_lsh_pairs_prod(spark, sf("0.001"))
      .queryExecution.executedPlan.toString
    // the distinct over LSH candidates must aggregate on (doc_a, doc_b)
    // alone — a 1 KB signature array riding that shuffle is the at-scale
    // regression this guards against
    val distinctAggs = plan.linesIterator
      .filter(l => l.contains("HashAggregate") && l.contains("doc_a") && l.contains("doc_b"))
      .toSeq
    assert(distinctAggs.nonEmpty, plan)
    assert(distinctAggs.forall(l => !l.contains("sa") && !l.contains("sb")), plan)
  }

  test("genotyper: no nested loop anywhere") {
    val plan = planOf(Queries.g2_genotype_calls(spark, sf("0.001")))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("genotyper: SNVs observed at candidate sites, no per-base pileup") {
    val plan = planOf(Queries.g2_genotype_calls(spark, sf("0.001")))
    // the per-base pileup carries the aligned reference base; the default
    // call observes the candidates' own sites and never builds it, so no
    // pileup is joined to the candidates either
    assert(!plan.contains("refBase"), plan)
    val joins = plan.linesIterator.filter(_.contains("Join")).toSeq
    // reads meet the candidates in the observer's own pass, never in a join
    assert(joins.forall(l => !l.contains("site_") && !l.contains("v_start")), plan)
  }

  /** Every node of a physical plan, through the adaptive wrapper. */
  private def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    p +: (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ => p.children.flatMap(nodes)
    })

  /** Aggregates grouped on a whole read (a struct with Read's fields). */
  private def readKeyedAggregates(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.types.StructType
    val readFields = org.apache.spark.sql.Encoders.product[graft.model.Read].schema.fieldNames.toSeq
    nodes(df.queryExecution.executedPlan).collect {
      case a: BaseAggregateExec if a.groupingExpressions.exists(_.dataType match {
        case s: StructType => s.fieldNames.toSeq == readFields
        case _ => false
      }) => a.simpleString(200)
    }
  }

  // The name keeps its original wording. The int-keyed score-table broadcast
  // it names is gone with in-row scoring, and the test now holds the call to
  // the stricter bound: it joins and broadcasts nothing.
  test("genotyper: default call scans reads once, shuffles once, broadcasts one int key") {
    import spark.implicits._
    import graft.model.{DiscoveredVariant, Read}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // g2's call on reads from a parquet file: the candidates are collected
    // while the plan is built, so every scan, exchange and relation left
    // in it is the observation pass's own
    val dir = java.nio.file.Files.createTempDirectory("plan-reads").toString + "/reads"
    Seq(Read("a", "chr1", 100, 110, "ACGTAACGTA", "IIIIIIIIII", "10M", "10", 50,
      readMapped = true, readNegativeStrand = false, duplicateRead = false,
      primaryAlignment = true, sampleId = "s1")).toDS().write.parquet(dir)
    val reads = spark.read.parquet(dir).as[Read]
    val variants = Seq(DiscoveredVariant("chr1", 104, "A", Some("G")),
      DiscoveredVariant("chr1", 105, "AC", Some("A"))).toDS()
    val call = graft.genomics.BiallelicGenotyper.call(reads, variants, ploidy = 2, binSize = 20.0)
    val plan = planOf(call)
    assert("FileScan".r.findAllIn(plan).size === 1, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1, plan)
    assert(!plan.contains("Generate") && !plan.contains("explode"), plan)
    // observations are scored in the row: no score table to build,
    // broadcast or join
    val physical = nodes(call.queryExecution.executedPlan)
    assert(!physical.exists(_.isInstanceOf[BroadcastExchangeExec]), plan)
    assert(!physical.exists(_.isInstanceOf[BaseJoinExec]), plan)
    assert(!physical.exists(_.isInstanceOf[LocalTableScanExec]), plan)
    val optimized = call.queryExecution.optimizedPlan
    assert(optimized.collectFirst { case l: LocalRelation => l }.isEmpty, optimized)
    assert(readKeyedAggregates(call).isEmpty, plan)
    val g2 = Queries.g2_genotype_calls(spark, sf("0.001"))
    assert(readKeyedAggregates(g2).isEmpty, planOf(g2))
  }

  test("gVCF pipeline: anti-join broadcasts, no nested loop, partial aggs") {
    // g6 checkpoints the called cohort before the square-off self-join,
    // so inspect the cohort CONSTRUCTION plan (where the genotyper lives)
    val rds = Queries.cohortReads(spark, sf("0.001"))
    val vs = graft.genomics.DiscoverVariants.discoverPerSample(rds, 20, 2)
      .select("sampleId", "contigName", "start", "referenceAllele", "alternateAllele")
    val plan = planOf(graft.genomics.BiallelicGenotyper.callPerSample(
      rds, vs, ploidy = 2, binSize = 20.0, scoreAllSites = true))
    // the non-ref model's candidate-position anti-join must broadcast
    // (tiny position set vs the whole pileup)
    assert(plan.contains("BroadcastHashJoin") &&
      (plan.contains("LeftAnti") || plan.contains("left_anti")),
      "anti-join against candidate positions should be a broadcast hash join")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the wide site agg keeps map-side combine
    assert("HashAggregate".r.findAllIn(plan).size >= 2, "partial+final agg expected")
    // single-pass cohort: the scan count is a CONSTANT of the plan shape
    // (discovery, snv pileup, non-ref pileup, indel reads, and their
    // variant-side rescans), never a function of the sample count — the
    // per-sample driver loop this replaced scanned the cohort 2x per
    // sample and built an S-way union
    // 6 = discovery x3 references (snv/indel/non-ref variant sides) +
    // pileup x2 (snv join, non-ref anti-join) + indel read side; the one
    // Union in the plan is the 3-way observation-KIND union, also constant
    assert("FileScan".r.findAllIn(plan).size <= 6,
      s"cohort call should scan a constant number of times:\n$plan")
    assert("Union".r.findAllIn(plan).size <= 1, "only the constant obs-kind union expected")
  }

  test("e4 IVF probe: narrow cell assignment, top-k without global sort") {
    val plan = planOf(Queries.e4_ivf_topk(spark, sf("0.001")))
    // cell assignment + cosine are narrow; only the top-k merge crosses
    // partitions (TakeOrderedAndProject), never a full sort shuffle
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), "probe must not shuffle")
  }

  test("d13 semantic prune: in-cell compare is a keyed join, never a cartesian") {
    val plan = planOf(Queries.d13_semantic_prune(spark, sf("0.001")))
    // the ε-compare must shuffle/probe on the cell equi-key (the SemDeDup
    // layout); a cartesian or nested-loop plan would be the O(n²) compare
    // clustering exists to avoid
    assert(!plan.contains("Cartesian"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the benchmark gate: d14's bench set broadcasts (eval-sized side)
    val d14 = planOf(Queries.d14_contamination_score(spark, sf("0.001")))
    assert(d14.contains("BroadcastHashJoin"), d14)
    assert("HashAggregate".r.findAllIn(d14).size >= 2, "map-side combine on doc_id")
  }

  test("d5 contamination report: single partial+final agg, no joins") {
    val plan = planOf(Queries.d5_dup_ngrams(spark, sf("0.001")))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, "map-side combine expected")
    assert(!plan.contains("Join"), "gram report is a pure aggregation")
    assert("Exchange".r.findAllIn(plan).size === 1, "exactly one shuffle (on the gram)")
  }

  test("d8 span cut: gram counts partial+final; windows partition on doc_id only") {
    val plan = planOf(Queries.d8_dup_spans(spark, sf("0.001")))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, "map-side combine on the gram key")
    // the gaps-and-islands merge may window — but ONLY partitioned by
    // doc_id (unique per document, unskewable); a window keyed on the
    // gram content would put every occurrence of one hot boilerplate
    // gram on a single reducer
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(plan).toSeq
    assert(specs.nonEmpty, plan)
    assert(specs.forall(_.contains("doc_id")), s"window not doc_id-keyed:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("c5 domain cap: typed top-K agg is partial+final, no window over the key") {
    val plan = planOf(Queries.c5_domain_cap(spark, sf("0.001")))
    // the bounded typed aggregate must plan with map-side combine
    // (ObjectHashAggregate or SortAggregate, partial + final) — and the
    // cap must NOT be a row_number window over the domain (one hot
    // domain would land whole on a reducer)
    assert("ObjectHashAggregate|SortAggregate".r.findAllIn(plan).size >= 2,
      s"typed agg should be partial+final:\n$plan")
    assert(!plan.contains("Window"), s"cap must not use a window:\n$plan")
    assert(plan.contains("LeftSemi"), "kept ids semi-join back")
  }

  test("c4 temperature mix: two tiny aggs, no window, join back onto corpus") {
    val plan = planOf(Queries.c4_temperature_mix(spark, sf("0.001")))
    assert(!plan.contains("Window"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, "partial+final source counts")
    // (the normalizer is a deliberate 1-row cross join — no assertion on
    // its physical flavor; the acceptance join-back must exist)
    assert(plan.contains("Join"), plan)
  }

  test("c1 cleaning pipeline: partial+final aggs (no content-key window), broadcast anti-join") {
    val plan = planOf(Queries.c1_clean_corpus(spark, sf("0.001")))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // Skew guard: a Window over md5(text) or the gram key gets no map-side
    // combine and AQE cannot split its skewed partitions — one
    // mega-duplicated doc / hot 13-gram would land whole on one reducer.
    // Both dedup steps must be groupBy partial+final HashAggregates.
    assert(!plan.contains("Window"), s"content-key window reintroduced:\n$plan")
    assert("partial".r.findAllIn(plan).nonEmpty && "HashAggregate".r.findAllIn(plan).size >= 4,
      s"expected partial+final aggregates on fingerprint and gram keys:\n$plan")
    // fingerprint groupBy + gram groupBy + the (small) victim-set
    // distinct; the anti-join itself must broadcast, adding no shuffle
    // of the corpus
    assert(plan.contains("LeftAnti") && plan.contains("BroadcastExchange"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 3,
      s"cleaning pipeline over-shuffles:\n$plan")
  }

  test("t11 quality gate: single codegen projection, zero shuffles") {
    val plan = planOf(Queries.t11_quality_filter(spark, sf("0.001")))
    assert(!plan.contains("Exchange"), s"quality gate must stay narrow:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
    assert(plan.contains("*("), "rules must evaluate inside whole-stage codegen")
  }

  test("c11 split assign: pure narrow projection, zero shuffles") {
    val plan = planOf(Queries.c11_split_assign(spark, sf("0.001")))
    assert(!plan.contains("Exchange"), s"split must stay narrow:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
    assert(plan.contains("*("), "ticket CASE must stay in whole-stage codegen")
  }

  test("c12 epoch upsample: narrow explode, zero shuffles") {
    val plan = planOf(Queries.c12_epoch_upsample(spark, sf("0.001")))
    assert(!plan.contains("Exchange"), s"upsample must stay narrow:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
    assert(plan.contains("Generate explode"), plan)
  }

  test("t14 bpe pairs: both aggs partial+final; pair explode runs on vocab, not corpus") {
    val plan = planOf(Queries.t14_bpe_pairs(spark, sf("0.001")))
    assert("HashAggregate".r.findAllIn(plan).size >= 4, "two partial+final aggs")
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
    // the explode (Generate) must sit above the word-count agg — i.e. its
    // child plan already contains an aggregate — so pair blowup is on the
    // distinct vocabulary, sublinear in corpus size
    val gen = plan.indexOf("Generate explode")
    val aggs = "HashAggregate".r.findAllIn(plan).matchData.map(_.start).toList
    assert(gen >= 0 && aggs.count(_ > gen) >= 2,
      s"pair explode must consume the vocab agg, not raw text:\n$plan")
  }

  test("c6 shard manifest: one partial+final agg on the shard key, no window") {
    val plan = planOf(Queries.c6_shard_manifest(spark, sf("0.001")))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, "map-side combine expected")
    assert("Exchange".r.findAllIn(plan).size === 1, "exactly one shuffle (on shard)")
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
  }

  test("d9 bloom decontaminate: probe filters BEFORE the verify join; anti-join at the end") {
    val df = Queries.d9_bloom_decontaminate(spark, sf("0.001"))
    val plan = planOf(df)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the Bloom probe must sit under a Filter on the corpus-gram side so
    // only survivors reach the verify join's exchange
    assert(plan.contains("Filter") && plan.contains("UDF"), plan)
  }

  test("c7 training order: no single-partition exchange; window keyed by bucket id") {
    val plan = planOf(Queries.c7_training_order(spark, sf("0.001")))
    // the whole point: global rank WITHOUT Exchange SinglePartition
    assert(!plan.contains("Exchange SinglePartition"),
      s"global-order query collapsed to one partition:\n$plan")
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(plan).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("pid")),
      s"rank window must partition on the range-bucket id:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), "offset join must broadcast")
  }

  test("e8 hamming top-k: TakeOrderedAndProject, no global sort exchange") {
    val plan = planOf(Queries.e8_hamming_topk(spark, sf("0.001")))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"),
      s"top-k must not global-sort:\n$plan")
  }

  test("c10 chunking: narrow plan, zero shuffles") {
    val plan = planOf(Queries.c10_chunk_documents(spark, sf("0.001")))
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
    assert(plan.contains("Generate"), plan) // the posexplode
  }

  test("m3 image decode: narrow plan, zero shuffles — scan-parallel decode") {
    val plan = planOf(Queries.m3_image_decode(spark, sf("0.001")))
    assert(!plan.contains("Exchange"), s"decode must not shuffle:\n$plan")
    assert(plan.contains("MapPartitions") || plan.contains("SerializeFromObject"),
      s"expected the mapPartitions decode kernel in:\n$plan")
  }

  test("m5 audio decode: narrow plan, zero shuffles — scan-parallel decode") {
    val plan = planOf(Queries.m5_audio_decode(spark, sf("0.001")))
    assert(!plan.contains("Exchange"), s"decode must not shuffle:\n$plan")
    assert(plan.contains("MapPartitions") || plan.contains("SerializeFromObject"),
      s"expected the mapPartitions decode kernel in:\n$plan")
  }

  test("m4 image dhash: one exchange (the group window), no self-join") {
    val plan = planOf(Queries.m4_image_dhash(spark, sf("0.001")))
    assert("Exchange".r.findAllIn(plan).size === 1,
      s"decode+hash is narrow; only the dup-group window shuffles:\n$plan")
    assert(!plan.contains("Join"), s"group-by-hash, not a self-join:\n$plan")
  }

  test("d19 scaled simhash: chunk equi-join candidates, no cartesian, guard co-partitioned") {
    val plan = planOf(Queries.d19_simhash_scaled(spark, sf("0.001")))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"candidates must come from the adaptive chunk equi-join:\n$plan")
    // the occupancy guard aggregates on the SAME (chunk, cv) key the pair
    // join shuffles on — partial+final, never a broadcast of a count
    // table that is ~N/occupancy rows at scale
    assert(plan.contains("partial_count") || plan.contains("partial"), plan)
  }

  test("m6 image near-dup: chunk equi-join candidates, no cartesian product") {
    val plan = planOf(Queries.m6_image_neardup(spark, sf("0.001")))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"candidates must come from the chunk equi-join:\n$plan")
  }

  test("t12 perplexity: vocab agg partial+final, no window, score agg on doc_id") {
    val plan = planOf(Queries.t12_lm_perplexity(spark, sf("0.001")))
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"vocab + score aggs must both be partial+final:\n$plan")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"),
      "the 1-row total must broadcast, not cartesian") // BroadcastNestedLoop on 1 row is fine
  }

  test("c9 export pipeline: no content-key window, no nested-loop joins on data") {
    val plan = planOf(Queries.c9_prepare_shards(spark, sf("0.001")))
    assert(!plan.contains("Window"), s"export pipeline must not window:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      "LM + manifest aggs must be partial+final")
  }

  test("funnel: no window anywhere; per-step aggs partial+final; base broadcasts") {
    for (q <- Seq(Queries.ev16_user_funnel _, Queries.ev19_windowed_funnel _)) {
      val plan = planOf(q(spark, sf("0.001")))
      assert(!plan.contains("Window"), "funnel must never sort a user history")
      assert(plan.contains("partial_min") || plan.contains("partial_count"), plan)
      assert(plan.contains("BroadcastExchange"),
        "the 1-row base/prev sides must broadcast")
      assert(!plan.contains("CartesianProduct"), plan)
    }
  }

  test("ev17 retention: no window; offset-0 denominators broadcast") {
    val plan = planOf(Queries.ev17_retention_cohorts(spark, sf("0.001")))
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("partial_min") || plan.contains("partial_count"), plan)
  }

  test("t20 CMS: counter matrix broadcasts to the probe; aggs partial+final") {
    val plan = planOf(Queries.t20_cms_heavy_hitters(spark, sf("0.001")))
    assert(plan.contains("BroadcastHashJoin"),
      "the <=2048-row counter table must broadcast, not shuffle")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must not global-sort")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"), plan)
  }

  test("t21 BM25: df/stats broadcast; top-k without global sort") {
    val plan = planOf(Queries.t21_bm25_topk(spark, sf("0.001")))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      plan) // stats is a 1-row crossJoin broadcast; dfreq a broadcast hash
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("c15 weighted sample / t22 hist: no window over data-sized keys") {
    val c15 = planOf(Queries.c15_weighted_sample(spark, sf("0.001")))
    assert(!c15.contains("Window"),
      "per-stratum selection must be the bounded typed agg, not a window")
    assert(c15.contains("ObjectHashAggregate") || c15.contains("SortAggregate"), c15)
    val t22 = planOf(Queries.t22_hist_quantiles(spark, sf("0.001")))
    // t22's windows are over sketch state (bins per scope), keyed by
    // scope — both cumulative and total windows partition on 'scope'
    assert(t22.contains("Window"), t22)
    assert(t22.contains("partial_count") || t22.contains("partial_sum"), t22)
  }

  test("filter matrix is pure Column exprs: codegen stages, no UDF eval") {
    val df = Queries.p6b_filter_matrix(spark, sf("0.001"))
    val plan = planOf(df)
    // '*(n)' marks whole-stage-codegen stages in the compact plan string;
    // the predicate evaluation itself must be expression trees (the only
    // non-codegen node allowed is the array_compact HOF projection)
    assert(plan.contains("*("), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SQLAppliedFunction") &&
      !plan.toLowerCase.contains("pythonudf"), plan)
    assert(!plan.contains("Exchange"), "filter annotate must stay narrow (no shuffle)")
  }
}
