package graft.queries

import graft.genomics.{BiallelicGenotyper, DiscoverVariants, HardFilterGenotypes}
import graft.model.{DiscoveredVariant, Order, Read}
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The driver-checked query catalog: each query is a
  * (SparkSession, sfDir) => DataFrame paired (in Oracles.scala) with
  * DuckDB SQL computing the identical result on the same parquet tables.
  * Every double that leaves an aggregation is rounded so engine-level
  * summation-order differences can't flip the hash compare.
  *
  * Each query exercises one row of SURVEY.md §2's operator inventory —
  * names carry the inventory id (s=scan, p=projection/filter, j=join,
  * a=agg, w=window/sort, u=set-op, t=text, d=dedup, e=embedding,
  * ev=events, g=genomics-pipeline).
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    // events.ts must be epoch-nanos long engine-wide whatever the file's
    // timestamp encoding (see StreamingOps.tsToNanos)
    if (name == "events")
      graft.streaming.StreamingOps.readEventsBatch(spark, s"$dir/$name.parquet")
    else spark.read.parquet(s"$dir/$name.parquet")

  // ---- scans / generated sources (S1, S9) ------------------------------

  def s1_scan_prune(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .where(col("l_shipdate") < lit("1996-01-01") && col("l_quantity") < 10)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  def s9_gen_dimtable(spark: SparkSession, dir: String): DataFrame = {
    // generated score-dimension table, the shape of the reference's
    // createScores (ScoredObservation.scala:101-165): small cross product
    // of discrete quality domains, computed with codegen'd exprs.
    val q = spark.range(0, 46).select(col("id").as("quality"))
    val m = spark.range(1, 61).select(col("id").as("mapq"))
    q.crossJoin(m).select(
      col("quality"), col("mapq"),
      round(
        (lit(1.0) - pow(lit(10.0), -col("quality").cast("double") / 10.0)) *
          (lit(1.0) - pow(lit(10.0), -col("mapq").cast("double") / 10.0)),
        6).as("p_correct"))
  }

  // ---- projections / filters (P1, P2, P3, P6, P8) ----------------------

  def p1_filter_conj(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .where(col("l_returnflag") === "R" && col("l_discount") > 0.05 &&
        col("l_quantity") >= 30 && col("l_tax") < 0.07)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_discount")

  def p2_regex_pred(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .where(col("text").rlike("spark (hash|join)"))
      .select("doc_id", "lang")

  def p3_cond_rewrite(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select(
      col("o_orderkey"),
      when(col("o_totalprice") > 300000, "BIG")
        .when(col("o_orderstatus") === "F", "DONE")
        .otherwise(col("o_orderpriority")).as("pri"))

  def p6_hard_filter_annotate(spark: SparkSession, dir: String): DataFrame = {
    // annotate-don't-drop (reference HardFilterGenotypes.scala:571-614):
    // every row kept; failed filter names recorded.
    val failed = concat_ws(
      ";",
      when(col("l_quantity") < 3, "LOWQTY"),
      when(col("l_discount") > 0.08, "HIDISC"),
      when(col("l_shipdate") < lit("1995-06-01"), "OLDSHIP"))
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), failed.as("filters_failed"))
      .withColumn("filters_passed", col("filters_failed") === "")
  }

  /** The REAL hard-filter matrix (P6 operator, not the generic shape):
    * genotype-shaped rows derived from lineitem run through
    * HardFilterGenotypes.annotate with the reference's 9-per-class
    * thresholds; the oracle mirrors every predicate (zygosity splits,
    * inclusive/exclusive boundaries, per-class dispatch, disabled INDEL
    * MQ) in closed form. All comparisons are exact integer-derived
    * doubles — no transcendentals, so no cross-engine float risk.
    */
  def p6b_filter_matrix(spark: SparkSession, dir: String): DataFrame = {
    val g = t(spark, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      when(col("l_partkey") % 4 === 0, "AC").otherwise("A").as("referenceAllele"),
      when(col("l_partkey") % 4 === 0, "A").otherwise("G").as("alternateAllele"),
      (col("l_suppkey") % 3).cast("int").as("genotypeState"),
      lit(2).as("copyNumber"),
      (col("l_quantity") * 2).cast("double").as("genotypeQuality"),
      (col("l_orderkey") % 250 + col("l_linenumber")).cast("int").as("readDepth"),
      (col("l_orderkey") % 40).cast("int").as("alternateReadDepth"),
      (col("l_partkey") % 70).cast("double").as("rmsMapQ"),
      (col("l_orderkey") % 90).cast("double").as("strandBiasPhred"))
    HardFilterGenotypes.annotate(g,
        snp = HardFilterGenotypes.snpDefaults.copy(maxPhredStrandBias = 60.0),
        indel = HardFilterGenotypes.indelDefaults.copy(maxPhredStrandBias = 60.0))
      .select(col("l_orderkey"), col("l_linenumber"),
        concat_ws(";", col("filtersFailed")).as("filters_failed"),
        col("filtersPassed").as("filters_passed"))
  }

  def p8_clamp(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      least(col("l_quantity"), lit(25.0)).as("qty_clamped"),
      greatest(col("l_discount"), lit(0.02)).as("disc_floor"))

  // ---- joins (J1, J2, J3, semi/anti, J6) -------------------------------

  def j1_interval_point_bcast(spark: SparkSession, dir: String): DataFrame = {
    val supp = t(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_acctbal").as("s_lo"), (col("s_acctbal") + 500.0).as("s_hi"))
    val cust = t(spark, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
    IntervalJoin
      .pointInInterval(supp, "s_lo", "s_hi", cust, "c_acctbal", binSize = 250.0, broadcastLeft = true)
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("sum_bal"))
  }

  def j2_interval_overlap_shuffle(spark: SparkSession, dir: String): DataFrame = {
    val supp = t(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_acctbal").as("s_lo"), (col("s_acctbal") + 500.0).as("s_hi"))
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal").as("c_lo"), (col("c_acctbal") + 500.0).as("c_hi"))
    IntervalJoin
      .overlap(supp, "s_lo", "s_hi", cust, "c_lo", "c_hi", binSize = 500.0)
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_overlap"))
  }

  def j3_bcast_equijoin(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val part = t(spark, dir, "part").select("p_partkey", "p_brand")
    // money as exact integers (cents x whole-percent), summed in LONG:
    // a double sum over millions of rows is summation-order-dependent in
    // its last ulp, and one .005-boundary row flipped the rounded total
    // at sf1 (PROFILE_r09) — integer sums are bit-identical at any
    // scale and under any partitioning
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val pct = lit(100L) - round(col("l_discount") * 100).cast("long")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum(cents * pct) / lit(10000.0), 2).as("revenue"))
  }

  def j4_semi_join(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val big = t(spark, dir, "orders").where(col("o_totalprice") > 400000)
    cust.join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
  }

  def j5_anti_join(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val pend = t(spark, dir, "orders").where(col("o_orderstatus") === "P")
    cust.join(pend, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey")
  }

  def j6_pivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val piv = t(spark, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    piv.select(col("user_id") +: types.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
  }

  // ---- aggregations (A1, A2, A3, A4, A5, A6, A7) -----------------------

  def a1_distinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()

  def a2_group_having(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_obs"))
      .where(col("n_obs") >= 40)

  def a3_wide_agg(spark: SparkSession, dir: String): DataFrame = {
    // Exact money sums WITHOUT decimal aggregation buffers (the j3
    // exactness lesson kept, its cost moved): summing decimals widens
    // the buffer 10 digits, and past 18 digits a decimal stops being a
    // mutable fixed-width agg field — every per-row update then
    // ser/des a BigDecimal and the hash agg leaves its fast path
    // (PROFILE_r17.md §2, sf100 solo: decimal 30.2 s vs an identical-shape
    // double twin 4.4 s). The inputs are 2-decimal money values, so
    // the SAME exact sums are long sums of scaled integers — cents,
    // x100 more per discount/tax factor — reconstructed into decimals
    // AFTER the 6-group agg: the hot path is codegen'd long adds, and
    // the output is bit-identical to the decimal formulation at any
    // scale, any partitioning (each division below is an exact
    // rational at the result scale; rounding only in the final
    // projection, same as before). Overflow headroom: the charge term
    // is <= ~1.3e11 per row at scale 1e6, so Long.Max covers ~2e9
    // filtered rows (sf300); past that, split each sum into
    // quotient/remainder longs at 1e6 and recombine — same boundary,
    // two columns. Quantity is integral; its double sum is exact to
    // 2^53 (sf ~4e5).
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val d = round(col("l_discount") * 100).cast("long")
    val tx = round(col("l_tax") * 100).cast("long")
    t(spark, dir, "lineitem")
      .where(col("l_shipdate") <= lit("2000-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("__sq"),
        sum(cents).as("__sb_c"),
        sum(cents * (lit(100L) - d)).as("__sdp_c"),
        sum(cents * (lit(100L) - d) * (lit(100L) + tx)).as("__sch_c"),
        sum(d).as("__sd_c"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        round(col("__sq"), 2).as("sum_qty"),
        round(col("__sb_c").cast("decimal(38,0)") / 100, 2)
          .cast("double").as("sum_base"),
        round(col("__sdp_c").cast("decimal(38,0)") / 10000, 2)
          .cast("double").as("sum_disc_price"),
        round(col("__sch_c").cast("decimal(38,0)") / 1000000, 2)
          .cast("double").as("sum_charge"),
        round(col("__sq") / col("count_order"), 4).as("avg_qty"),
        round((col("__sb_c").cast("decimal(38,0)") / 100).cast("double")
          / col("count_order"), 4).as("avg_price"),
        round((col("__sd_c").cast("decimal(38,0)") / 100).cast("double")
          / col("count_order"), 6).as("avg_disc"),
        col("count_order"))
  }

  def a4_dedup_keys(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(col("l_orderkey")).as("first_order"))

  def a5_typed_agg(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "orders")
      .as[Order]
      .groupByKey(_.o_orderpriority)
      .agg(OrderStatsAgg.toColumn.name("stats"))
      .toDF("o_orderpriority", "stats")
      .select(
        col("o_orderpriority"),
        col("stats.n").as("n_orders"),
        round(col("stats.sum"), 2).as("sum_total"),
        round(col("stats.mn"), 2).as("min_total"),
        round(col("stats.mx"), 2).as("max_total"))
  }

  def a6_ratio_agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(
        sum(when(col("l_discount") > 0, 1L).otherwise(0L)).cast("double") / count(lit(1)),
        6).as("disc_ratio"))

  def a7_array_agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .groupBy("label")
      .agg(
        round(sum(element_at(col("embedding"), 1).cast("double")), 3).as("sum_e0"),
        round(sum(element_at(col("embedding"), 64).cast("double")), 3).as("sum_e63"))

  // ---- sorts / windows / top-k (W1, W2-analog, W4) ---------------------

  def w1_sort_limit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey", "o_totalprice")
      .limit(10)

  def w2_running_sum(spark: SparkSession, dir: String): DataFrame = {
    // the synthetic lineitem is NOT keyed by (orderkey, linenumber) —
    // 118k duplicate pairs at sf0.1 — so l_quantity joins the sort to
    // make every output-affecting tie deterministic across engines
    // (rows tying on ALL four columns contribute identical quantities,
    // so their running sums are order-invariant)
    val w = Window
      .partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "lineitem").select(
      col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
      sum(col("l_quantity")).over(w).as("running_qty"))
  }

  def w4_top2_margin(spark: SparkSession, dir: String): DataFrame = {
    // argmax + runner-up per key: the genotype-quality shape
    // (reference BiallelicGenotyper.scala:622-668).
    val w = Window.partitionBy("l_partkey")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_extendedprice"), row_number().over(w).as("rn"))
      .groupBy("l_partkey")
      .agg(
        max(when(col("rn") === 1, col("l_extendedprice"))).as("best"),
        max(when(col("rn") === 2, col("l_extendedprice"))).as("second"))
      .withColumn("margin", round(col("best") - coalesce(col("second"), col("best")), 2))
  }

  // ---- set ops (U1, U3) ------------------------------------------------

  def u1_union(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val a = o.where(col("o_totalprice") > 400000).select("o_orderkey", "o_orderpriority")
    val b = o.where(col("o_orderstatus") === "F").select("o_orderkey", "o_orderpriority")
    a.union(b).distinct()
      .withColumnRenamed("o_orderpriority", "pri")
      .groupBy("pri")
      .agg(count(lit(1)).as("n"))
  }

  def u3_token_intersect(spark: SparkSession, dir: String): DataFrame = {
    val kw = Seq("spark", "hash", "join", "merge", "scan")
    t(spark, dir, "documents").select(
      col("doc_id"),
      size(array_distinct(array_intersect(
        split(col("text"), " "),
        array(kw.map(lit): _*)))).as("n_shared"))
  }

  /** Rollup (grouping-sets family — beyond the reference's surface). */
  def a8_rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))

  /** JSON extraction from the events props column. */
  def t5_json_extract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))

  // ---- text analysis (T1-T4) -------------------------------------------

  def t1_token_count(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))

  def t2_quality_score(spark: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    val stop = Seq("the", "a", "of")
    t(spark, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(txt).as("n_tokens"),
      TextAnalysis.avgTokenLen(txt).as("avg_tok_len"),
      TextAnalysis.stopwordRatio(txt, stop).as("stop_ratio"))
      .withColumn(
        "quality_ok",
        col("n_tokens") >= 10 && col("avg_tok_len") >= 2.0 && col("avg_tok_len") <= 8.0)
  }

  def t3_lang_id(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("pred_lang"))
      .withColumn("is_match", col("lang") === col("pred_lang"))

  def t4_fingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))

  /** Per-document top-5 TF-IDF terms (corpus keyword extraction). */
  def t6_tfidf_topterms(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfIdfTopTerms(t(spark, dir, "documents"), "doc_id", "text", k = 5)

  /** Gopher-style repetition/boilerplate signals per document. */
  def t7_repetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionSignals(t(spark, dir, "documents"), "doc_id", "text")

  /** Per-source length-distribution statistics: EXACT percentiles via
    * Spark's sort-based `percentile` (one agg buffer for all four
    * quantiles), the corpus profiling step a mix designer reads before
    * setting sampling weights. Both engines interpolate linearly
    * (lower + frac·(upper−lower)), so values agree bit-for-bit; rounding
    * is belt-and-braces.
    */
  def t10_length_quantiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("percentile(n_chars, array(0.25D, 0.5D, 0.75D, 0.9D))").as("q"))
      .select(col("source"), col("n_docs"),
        round(element_at(col("q"), 1), 4).as("p25"),
        round(element_at(col("q"), 2), 4).as("p50"),
        round(element_at(col("q"), 3), 4).as("p75"),
        round(element_at(col("q"), 4), 4).as("p90"))

  /** Deterministic stratified sampling for a training mix: documents
    * classed by length tercile, sampled at 10%/50%/90% — membership from
    * md5 arithmetic, stable across runs and engines.
    */
  def c2_sample_mix(spark: SparkSession, dir: String): DataFrame = {
    val tc = TextAnalysis.tokenCount(col("text"))
    val cls = when(tc < 40, "short").when(tc < 70, "medium").otherwise("long")
    graft.operators.Sampling.stratifiedSample(
      t(spark, dir, "documents").withColumn("cls", cls), "doc_id", "cls",
      Map("short" -> 0.1, "medium" -> 0.5, "long" -> 0.9))
      .select(col("doc_id"), col("cls"))
  }

  /** Temperature-based source mix (alpha = 0.5 upweights rare sources):
    * a skewed 9:4:2:1 synthetic source split over the documents table,
    * re-balanced to a half-size corpus. Deterministic md5 tickets +
    * integer-scaled sqrt weights keep the sample bit-identical across
    * engines (see [[graft.operators.Sampling.temperatureMix]]).
    */
  def c4_temperature_mix(spark: SparkSession, dir: String): DataFrame = {
    val m = col("doc_id") % 16
    val src = when(m < 9, "s0").when(m < 13, "s1").when(m < 15, "s2").otherwise("s3")
    graft.operators.Sampling.temperatureMix(
      t(spark, dir, "documents").withColumn("src", src), "doc_id", "src",
      alpha = 0.5, targetFraction = 0.5)
      .select(col("doc_id"), col("src"))
  }

  /** PII scrub: counts + redaction of emails / IPv4 / long digit runs
    * over text with synthesized deterministic PII (the raw corpus has
    * none, so the patterns are exercised for real on every row).
    */
  def t8_pii_redact(spark: SparkSession, dir: String): DataFrame = {
    val pt = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com from 10.0.0."), (col("doc_id") % 256).cast("string"),
      lit(" call "), (col("doc_id") + 5550000000L).cast("string"))
    t(spark, dir, "documents")
      .select(col("doc_id"), pt.as("pt"))
      .select(
        col("doc_id"),
        TextAnalysis.piiCount(col("pt"), TextAnalysis.EmailPattern).as("n_emails"),
        TextAnalysis.piiCount(col("pt"), TextAnalysis.Ipv4Pattern).as("n_ipv4"),
        TextAnalysis.piiCount(col("pt"), TextAnalysis.DigitRunPattern).as("n_digit_runs"),
        TextAnalysis.redactPii(col("pt")).as("redacted"))
  }

  /** URL provenance: host + registrable-domain extraction over
    * deterministically synthesized crawl URLs (subdomains, ports,
    * userinfo and query strings exercised), plus the per-domain doc
    * count a domain-cap policy keys on (one partial+final agg windowed
    * back — here via a groupBy join since the domain set is small).
    */
  def t9_url_stats(spark: SparkSession, dir: String): DataFrame = {
    val m = col("doc_id") % 3
    val sub = when(m === 0, "www.").when(m === 1, "cdn.").otherwise("")
    val tld = when(col("doc_id") % 4 === 0, "com").when(col("doc_id") % 4 === 1, "org")
      .when(col("doc_id") % 4 === 2, "net").otherwise("io")
    val port = when(col("doc_id") % 5 === 0, ":8080").otherwise("")
    val url = concat(lit("https://"),
      when(col("doc_id") % 7 === 0, "crawler:pw@").otherwise(""),
      sub, lit("site"), (col("doc_id") % 50).cast("string"), lit("."), tld,
      port, lit("/p/"), col("doc_id").cast("string"), lit("?q=x"))
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"),
        TextAnalysis.urlHost(col("url")).as("host"),
        TextAnalysis.urlDomain(col("url")).as("domain"))
    val perDomain = docs.groupBy("domain").agg(count(lit(1)).as("n_domain_docs"))
    docs.join(perDomain, "domain")
      .select("doc_id", "host", "domain", "n_domain_docs")
  }

  /** Per-domain cap: at most 3 docs per registrable domain (t9's URL
    * synthesis), kept by smallest (md5 ticket, id) via the bounded
    * typed top-K aggregate — skew-safe where a row_number window is not.
    */
  def c5_domain_cap(spark: SparkSession, dir: String): DataFrame = {
    val m = col("doc_id") % 3
    val sub = when(m === 0, "www.").when(m === 1, "cdn.").otherwise("")
    val tld = when(col("doc_id") % 4 === 0, "com").when(col("doc_id") % 4 === 1, "org")
      .when(col("doc_id") % 4 === 2, "net").otherwise("io")
    val url = concat(lit("https://"), sub,
      lit("site"), (col("doc_id") % 50).cast("string"), lit("."), tld,
      lit("/p/"), col("doc_id").cast("string"))
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.urlDomain(url).as("domain"))
    graft.operators.Sampling.capPerKey(docs, "doc_id", "domain", k = 3)
      .select("doc_id", "domain")
  }

  /** Sequence packing: assign documents to 2048-token context bins,
    * sharded 8 ways for parallelism; one window per shard, no global
    * sort.
    */
  def c3_pack_sequences(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.packSequences(
      t(spark, dir, "documents"), "doc_id", "text", budgetTokens = 2048L, shards = 8)

  // ---- dedup (D1, D2) --------------------------------------------------

  def d1_dedup_exact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(spark, dir, "documents"), "doc_id", "text")

  /** Wired to the AllPairs prefix-filtered plan: the raw inverted-index
    * self-join's candidate volume is Σ df(g)² — one stopword shingle
    * shared by 10⁵ docs is 10¹⁰ pairs at 100× scale. Prefix filtering
    * only indexes each doc's (n_sh − ⌈t·n_sh⌉ + 1) rarest shingles, so
    * candidate volume tracks the RARE tail of the df distribution.
    */
  def d2_ngram_jaccard_pairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsPrefix(t(spark, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.5)

  // ---- embeddings (E1) -------------------------------------------------

  def e1_cosine_score(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    // fetch the query vector (a query *parameter*, not data movement)
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    SimilaritySearch.scoreAll(emb, "vec_id", "embedding", query)
  }

  // ---- events / time windows (EV1) -------------------------------------

  /** `ts` arrives as epoch-nanos long (nanosAsLong session config, since
    * parquet TIMESTAMP(NANOS) has no Spark type). Integer `div` — nanos
    * overflow double precision.
    */
  /** As-of enrichment: each event picks up the user's most recent order
    * at or before the event (ms precision; largest orderkey breaks
    * same-timestamp ties). One window shuffle on user_id — no
    * inequality join.
    */
  def ev7_asof_enrich(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), expr("ts div 1000000").as("ts_ms"))
    val ords = t(spark, dir, "orders")
      // o_orderdate reads from parquet as TIMESTAMP_NTZ; unix_millis needs
      // TIMESTAMP. Session tz is pinned UTC in Bench/Verify/tests, so the
      // cast reproduces the oracle's epoch_ms(o_orderdate) exactly.
      .select(col("o_custkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_ms"),
        col("o_orderkey"), col("o_totalprice"))
    graft.operators.AsOfJoin.asOf(ev, ords, "user_id", "o_custkey", "ts_ms", "o_ms",
      payload = Seq("o_orderkey", "o_totalprice"), rightTies = Seq("o_orderkey"))
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("last_orderkey"),
        round(col("o_totalprice"), 2).as("last_total"))
  }

  /** Streaming flavor of the as-of enrichment: each micro-batch of the
    * events stream as-of joins the STATIC orders side via foreachBatch +
    * the batch [[graft.operators.AsOfJoin]], appending to a real parquet
    * sink (no driver collection). Against a static right side the as-of
    * is a pure per-event function — micro-batch boundaries cannot change
    * it — so this shares ev7's oracle.
    */
  def ev8_stream_asof_enrich(spark: SparkSession, dir: String): DataFrame =
    withStagedEvents(spark, dir, "ev8_stream") { staged =>
      val ev = graft.streaming.StreamingOps.readEvents(spark, staged)
        .select(col("event_id"), col("user_id"), expr("ts div 1000000").as("ts_ms"))
      val ords = t(spark, dir, "orders").select(
        col("o_custkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_ms"),
        col("o_orderkey"), col("o_totalprice"))
      val out = java.nio.file.Files.createTempDirectory("ev8_out").toString + "/r"
      graft.streaming.StreamingOps.asOfEnrichStream(
        ev, ords, "user_id", "o_custkey", "ts_ms", "o_ms",
        payload = Seq("o_orderkey", "o_totalprice"),
        rightTies = Seq("o_orderkey"), outDir = out)
      spark.read.parquet(out).select(
        col("event_id"), col("user_id"),
        col("o_orderkey").as("last_orderkey"),
        round(col("o_totalprice"), 2).as("last_total"))
    }

  def ev1_time_window_agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(
        expr("ts div 300000000000").as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))

  /** Stage the events table for the streaming file source (which needs a
    * directory of ONLY events files) via a symlink in a temp dir, run the
    * query, and always remove the staging dir — the results live in the
    * memory sink after stop(), so nothing references the dir afterwards.
    */
  private def withStagedEvents[T](spark: SparkSession, dir: String, prefix: String)(
      f: String => T): T =
    withStagedTable(spark, dir, "events.parquet", prefix)(f)

  private def withStagedTable[T](spark: SparkSession, dir: String, table: String,
      prefix: String)(f: String => T): T = {
    val staged = java.nio.file.Files.createTempDirectory(prefix)
    try {
      java.nio.file.Files.createSymbolicLink(
        staged.resolve(table),
        java.nio.file.Paths.get(dir, table).toAbsolutePath)
      withStreamStatePartitions(spark, dir)(f(staged.toString))
    } finally {
      java.nio.file.Files.deleteIfExists(staged.resolve(table))
      java.nio.file.Files.deleteIfExists(staged)
    }
  }

  /** Scope `spark.sql.shuffle.partitions` to the bytes-derived streaming
    * STATE count ([[graft.util.Tuning.streamStatePartitions]] — the
    * shuffle-sizing rule without the batch cpus floor) for the duration
    * of a streaming catalog query, restoring the session value after.
    * Structured Streaming pins its state-store count from this conf at
    * query start, and each micro-batch pays O(partitions) store
    * open/commit overhead per stateful operator; the session's
    * batch-sized value is a pure constant tax at the small legs and
    * identical from sf10 up (see the Tuning scaladoc for the measured
    * A/B). Every streaming row funnels through [[withStagedTable]] /
    * [[withStagedEventsAndSentinel]], so this is the one seam.
    */
  private def withStreamStatePartitions[T](spark: SparkSession, dir: String)(
      body: => T): T = {
    // the CALLER's session, not SparkSession.active: with a non-active
    // session the conf would be set/restored on the wrong session and
    // the sizing would silently not apply (ADVICE r17)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.util.Tuning.streamStatePartitions(dir))
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The same windowed aggregation ev1 computes in batch, executed
    * through Structured Streaming (micro-batch over the events file,
    * Complete mode, memory sink) — the streaming surface inside the
    * driver-checked catalog. The oracle is plain SQL: tumbling 5-minute
    * windows align to the epoch.
    */
  def ev3_stream_window(spark: SparkSession, dir: String): DataFrame =
    withStagedEvents(spark, dir, "ev3_stream") { staged =>
      val counts = graft.streaming.StreamingOps
        .windowedCounts(graft.streaming.StreamingOps.readEvents(spark, staged))
      val name = "ev3_" + java.lang.Long.toHexString(System.nanoTime())
      val q = counts.writeStream
        .outputMode("complete").format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
      spark.table(name).select(
        expr("unix_millis(window_start) div 300000").as("bucket"),
        col("event_type"), col("n"),
        round(col("sum_value"), 2).as("sum_value"))
    }

  /** Streaming gap sessionization (flatMapGroupsWithState + event-time
    * timeout) run to completion over the static events table. Emitted =
    * every session closed by a successor event plus idle sessions whose
    * timeout (end + gap) fell before the final watermark; the oracle
    * recomputes exactly that set with window functions.
    */
  def ev4_stream_sessions(spark: SparkSession, dir: String): DataFrame =
    withStagedEvents(spark, dir, "ev4_stream") { staged =>
      val sess = graft.streaming.StreamingOps
        .sessionizeStream(graft.streaming.StreamingOps.readEvents(spark, staged))
      val name = "ev4_" + java.lang.Long.toHexString(System.nanoTime())
      val q = sess.toDF().writeStream
        .outputMode("append").format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
      // session bounds in micros: DuckDB surfaces TIMESTAMP(NANOS) parquet
      // at microsecond precision, so the ns tail cannot be oracle-compared
      spark.table(name).select(
        col("user_id"),
        expr("session_start div 1000").as("session_start_us"),
        expr("session_end div 1000").as("session_end_us"),
        col("n_events"))
    }

  /** Streaming stateful dedup: dropDuplicatesWithinWatermark over a
    * content fingerprint — the streaming twin of exact corpus dedup
    * (d1), state bounded by the watermark. Projected to the key columns
    * so the result is the deterministic distinct set regardless of
    * which physical row survived.
    */
  def ev6_stream_dedup(spark: SparkSession, dir: String): DataFrame =
    withStagedEvents(spark, dir, "ev6_stream") { staged =>
      val dd = graft.streaming.StreamingOps.streamingDedup(
        graft.streaming.StreamingOps.readEvents(spark, staged),
        Seq("user_id", "event_type"))
      val name = "ev6_" + java.lang.Long.toHexString(System.nanoTime())
      val q = dd.select("user_id", "event_type").writeStream
        .outputMode("append").format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
      // dropDuplicatesWithinWatermark re-emits a key seen again more than
      // the watermark apart — correct streaming semantics, but the oracle
      // is the batch DISTINCT, so collapse re-emissions here rather than
      // depend on the staged source fitting one micro-batch
      spark.table(name).distinct()
    }

  /** Stream-static enrichment: the events stream joins the (static)
    * customer dimension per micro-batch, then aggregates per segment.
    */
  def ev5_stream_enrich(spark: SparkSession, dir: String): DataFrame =
    withStagedEvents(spark, dir, "ev5_stream") { staged =>
      val ev = graft.streaming.StreamingOps.readEvents(spark, staged)
      val dim = t(spark, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val agg = graft.streaming.StreamingOps
        .enrichWithDim(ev, dim, "user_id", "c_custkey")
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      val name = "ev5_" + java.lang.Long.toHexString(System.nanoTime())
      val q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
      spark.table(name).select(
        col("c_mktsegment"), col("event_type"), col("n"),
        round(col("sv"), 2).as("sum_value"))
    }

  /** Stream-STREAM interval join: the purchases stream joins the clicks
    * stream of the same user within a 30-minute lookback — two unbounded
    * sides, watermark-bounded join state (see
    * [[graft.streaming.StreamingOps.intervalJoinStreams]]). The oracle is
    * the batch self-join with the identical range predicate.
    */
  def ev9_stream_stream_join(spark: SparkSession, dir: String): DataFrame =
    withStagedEvents(spark, dir, "ev9_stream") { staged =>
      val p = graft.streaming.StreamingOps.readEvents(spark, staged)
        .where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"), col("event_time").as("p_time"))
      val c = graft.streaming.StreamingOps.readEvents(spark, staged)
        .where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_uid"),
          col("ts").as("c_ts"), col("event_time").as("c_time"))
      val joined = graft.streaming.StreamingOps.intervalJoinStreams(
        p, c, "user_id", "c_uid", "p_time", "c_time", lookback = "30 minutes")
      val name = "ev9_" + java.lang.Long.toHexString(System.nanoTime())
      val q = joined.writeStream
        .outputMode("append").format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
      // gap in micros from the nanos longs — DuckDB surfaces the parquet
      // TIMESTAMP(NANOS) at micro precision, same floor-division
      spark.table(name).select(
        col("purchase_id"), col("click_id"), col("user_id"),
        expr("(p_ts div 1000) - (c_ts div 1000)").as("gap_us"))
    }

  /** Stream-stream interval join with BOUNDED output (EV29): ev9's
    * purchases-join-clicks-within-30-minutes, aggregated per (user,
    * tumbling 30-minute purchase window) BEFORE the sink — pair count
    * and summed purchase-click gap. Chained stateful operators
    * (watermarked join, then windowed agg, append mode — watermark
    * propagates through the join), so the JOIN's state machinery runs
    * at full volume while the output stays linear in (user, window)
    * cells: ev9's memory sink materializes every pair (quadratic at
    * scaled legs — user_id is verbatim under ScaleUp, so pairs/user
    * grow ~100x/decade; contract-skipped at sf100), this row is the
    * same operator's scale story. A far-future sentinel pair (user -1)
    * pushes both side watermarks past every real window so the finite
    * source flushes ALL windows — the streamed result equals the full
    * batch oracle, not a watermark-truncated prefix.
    */
  def ev29_stream_join_agg(spark: SparkSession, dir: String): DataFrame =
    withStagedEventsAndSentinel(spark, dir, "ev29_stream", sentinelUser = -1L) { staged =>
      val p = graft.streaming.StreamingOps.readEvents(spark, staged)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_time").as("p_time"))
      val c = graft.streaming.StreamingOps.readEvents(spark, staged)
        .where(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("ts").as("c_ts"),
          col("event_time").as("c_time"))
      val joined = graft.streaming.StreamingOps.intervalJoinStreams(
        p, c, "user_id", "c_uid", "p_time", "c_time", lookback = "30 minutes")
      val agg = joined
        .groupBy(window(col("p_time"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("(p_ts div 1000) - (c_ts div 1000)")).as("sum_gap_us"))
      val name = "ev29_" + java.lang.Long.toHexString(System.nanoTime())
      val q = agg.writeStream
        .outputMode("append").format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
      spark.table(name)
        .where(col("user_id") =!= -1L)
        .select(unix_micros(col("window").getField("start")).as("win_us"),
          col("user_id"), col("n_pairs"), col("sum_gap_us"))
    }

  /** [[withStagedTable]] for events PLUS a watermark-flushing sentinel
    * file: one purchase + one click for `sentinelUser` three hours past
    * the table's max ts, written in the table's OWN physical ts
    * encoding (the streaming source's sniffed schema must match every
    * file). Finite-source append-mode windowed aggregation only emits
    * windows the final watermark has passed; the sentinel advances both
    * filtered sides' watermarks (max - 1h) beyond every real window,
    * and Spark's no-data final micro-batch flushes them. Callers filter
    * the sentinel user back out.
    */
  private def withStagedEventsAndSentinel[T](spark: SparkSession, dir: String,
      prefix: String, sentinelUser: Long)(f: String => T): T = {
    import java.nio.file.{Files, Paths}
    val staged = Files.createTempDirectory(prefix)
    try {
      Files.createSymbolicLink(
        staged.resolve("events.parquet"),
        Paths.get(dir, "events.parquet").toAbsolutePath)
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val bumped = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          col("mx") + lit(3L * 3600L * 1000000000L) // epoch-nanos long
        case _ => col("mx") + expr("INTERVAL 3 HOURS") // timestamp
      }
      val sentinel = raw.agg(max(col("ts")).as("mx"))
        .select(
          lit(-1L).as("event_id"), bumped.as("ts"),
          lit(sentinelUser).as("user_id"),
          explode(array(lit("purchase"), lit("click"))).as("event_type"),
          lit(0.0).as("value"), lit("").as("props"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val tmp = Files.createTempDirectory(prefix + "_sent")
      try {
        sentinel.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.copy(part, staged.resolve("zz_sentinel.parquet"))
      } finally {
        Files.list(tmp).forEach(Files.delete(_)); Files.delete(tmp)
      }
      withStreamStatePartitions(spark, dir)(f(staged.toString))
    } finally {
      Files.deleteIfExists(staged.resolve("zz_sentinel.parquet"))
      Files.deleteIfExists(staged.resolve("events.parquet"))
      Files.deleteIfExists(staged)
    }
  }

  // ---- genomics pipeline on synthesized reads (G1, G2) -----------------

  /** The g1/g2 read set: one sample, contig from l_returnflag. */
  private def syntheticReads(spark: SparkSession, dir: String): Dataset[Read] =
    lineitemReads(spark, dir, contig = col("l_returnflag"), sample = lit("1"))

  /** The g4/g6 synthetic cohort: same reads as g1/g2, sample derived
    * from l_linestatus.
    */
  private[graft] def cohortReads(spark: SparkSession, dir: String): Dataset[Read] =
    lineitemReads(spark, dir, contig = col("l_returnflag"), sample = col("l_linestatus"))

  /** Reads synthesized deterministically from lineitem: 10bp reads, all-A
    * reference, one SNV per read at offset (l_suppkey % 10) with alt base
    * from (l_orderkey % 3), phred 30 + (l_linenumber % 10), CIGAR/MD/qual
    * rendered as real strings so the kernel pipeline parses them for
    * real; contig `chr<contig>`, sample `s<sample>`. The closed form is
    * mirrored by the DuckDB oracles.
    */
  private def lineitemReads(spark: SparkSession, dir: String,
      contig: Column, sample: Column): Dataset[Read] = {
    val spark2 = spark
    import spark2.implicits._
    val snvOff = (col("l_suppkey") % 10).cast("int")
    val altBase = when(col("l_orderkey") % 3 === 0, "C")
      .when(col("l_orderkey") % 3 === 1, "G")
      .otherwise("T")
    // the fixture parquet has 3 row groups, so WITHOUT this the string
    // synthesis AND every map-side kernel fused above it (discovery
    // flatMap, pileup bin-explode) run in 3 tasks on a 32-thread box
    // (stage listener: three ~3-5 s 3-task stages dominate g2's wall).
    // One cheap hash shuffle of the RAW lineitem columns — BEFORE the
    // heavy select, so the synthesis itself runs post-exchange at full
    // width — unlocks it; the key has 600 k distinct values (guide §2.5)
    // and the count follows spark.sql.shuffle.partitions, so it stays
    // scale-adaptive. On a real cluster the 100 TB scan already yields
    // thousands of splits and this exchange is the same cheap rebalance
    // the kernels' own shuffles pay anyway.
    t(spark, dir, "lineitem")
      .repartition(col("l_orderkey"), col("l_linenumber"))
      .select(
      concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("readName"),
      concat(lit("chr"), contig).as("contigName"),
      ((col("l_partkey") % 1000) * 20).as("start"),
      ((col("l_partkey") % 1000) * 20 + 10).as("end"),
      concat(expr("repeat('A', l_suppkey % 10)"), altBase,
        expr("repeat('A', 9 - l_suppkey % 10)")).as("sequence"),
      expr(s"repeat(chr(63 + l_linenumber % 10), 10)").as("qual"),
      lit("10M").as("cigar"),
      concat(snvOff.cast("string"), lit("A"), (lit(9) - snvOff).cast("string")).as("mdTag"),
      lit(60).as("mapq"),
      lit(true).as("readMapped"),
      lit(false).as("readNegativeStrand"),
      lit(false).as("duplicateRead"),
      lit(true).as("primaryAlignment"),
      concat(lit("s"), sample).as("sampleId"),
      lit(null).cast("string").as("mateContigName"),
      lit(null).cast("long").as("mateStart"),
      lit(false).as("mateMapped")).as[Read]
  }

  /** End-to-end variant discovery: CIGAR+MD parse -> per-read variant
    * extraction -> min-support hash agg, hash-checked against the
    * generator's closed form.
    */
  def g1_discover_variants(spark: SparkSession, dir: String): DataFrame =
    DiscoverVariants.discover(syntheticReads(spark, dir), minPhred = 20, minObservations = 2)

  /** End-to-end genotyping: discovery, interval join of reads x variants,
    * observer kernel, per-row likelihood scoring, wide per-site hash agg,
    * genotype emission — the full flagship pipeline, with the oracle
    * computing the same likelihood model in closed form.
    */
  def g2_genotype_calls(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val reads = syntheticReads(spark, dir)
    val variants = DiscoverVariants
      .discover(reads, minPhred = 20, minObservations = 2)
      .select("contigName", "start", "referenceAllele", "alternateAllele")
      .as[DiscoveredVariant]
      // not checkpointed: `call` collects the candidates once while the
      // plan is built, so discovery runs once without a barrier
    BiallelicGenotyper.call(reads, variants, ploidy = 2, binSize = 20.0)
      .select(
        col("contigName"), col("start"), col("referenceAllele"), col("alternateAllele"),
        col("sampleId"), col("genotypeState"), col("genotypeQuality"),
        round(col("gl_0"), 3).as("gl_0"),
        round(col("gl_1"), 3).as("gl_1"),
        round(col("gl_2"), 3).as("gl_2"),
        col("readDepth"), col("referenceReadDepth"),
        col("alternateReadDepth"), col("otherReadDepth"))
  }

  /** Realignment at scale: synthesize reads whose true story is a 2-base
    * deletion (read = ref[0:12] + ref[14:30]) but whose alignment was
    * written as a sloppy 28M mismatch run against ref[0:28], realign with
    * the k-mer aligner (narrow map, zero shuffle), and emit each read's
    * realigned CIGAR + MD.
    *
    * The corpus is restricted to refs where the realignment is
    * closed-form derivable — all 25 6-mers distinct (unique anchors, no
    * accidental >= k exact runs in the sloppy tail), ref[12] != ref[14]
    * (the first mismatch sits exactly at the deletion) and
    * ref[27] != ref[29] (no common-suffix absorption) — so the DuckDB
    * oracle reconstructs the exact expected strings: span-preserving
    * realignment inside the original 28-base window yields 12M2D14M2I
    * with MD "12^" + ref[12:14] + "14" (the deleted bases return as a
    * tail insertion because the window cannot grow). The filter is on
    * the INPUT ref string, never on the kernel's output — the kernel's
    * behavior on every retained read is fully checked by the hash.
    */
  def g3_realign(spark: SparkSession, dir: String): DataFrame =
    graft.genomics.Realigner.realign(sloppyReads(spark, dir), k = 6)
      .select("readName", "contigName", "start", "cigar", "mdTag")

  /** The g3 synthetic sloppy-read set. */
  private def sloppyReads(spark: SparkSession, dir: String): Dataset[Read] = {
    val spark2 = spark
    import spark2.implicits._
    t(spark, dir, "lineitem")
      .select(
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("readName"),
        concat(lit("chr"), col("l_returnflag")).as("contigName"),
        ((col("l_partkey") % 1000) * 40).as("start"),
        // 30bp pseudorandom reference from md5 hex -> ACGT alphabet
        translate(substring(md5(concat_ws("_", col("l_orderkey"), col("l_linenumber"))), 1, 30),
          "0123456789abcdef", "ACGTACGTACGTACGT").as("ref"))
      // CPU-bound synthesis below; sf-scale lineitem is a single parquet
      // split, so spread it across cores (at cluster scale the scan
      // already has many splits and this is a cheap rebalance)
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(String, String, Long, String)]
      // same predicate the oracle mirrors (substring(ref,13,1) !=
      // substring(ref,15,1), 28 != 30, all 25 6-mers distinct) — computed
      // in the JVM stage: the SQL higher-order-function form
      // (transform + array_distinct) does not participate in codegen and
      // re-evaluates the inlined md5 projection per lambda call, which
      // made this filter 20x the cost of the realignment kernel it feeds
      .filter { case (_, _, _, ref) =>
        ref.charAt(12) != ref.charAt(14) && ref.charAt(27) != ref.charAt(29) && {
          val seen = new scala.collection.mutable.HashSet[String]
          var i = 0
          var ok = true
          while (ok && i < 25) { ok = seen.add(ref.substring(i, i + 6)); i += 1 }
          ok
        }
      }
      .map { case (name, contig, start, ref) =>
        // true story: delete ref[12:14] from the read; sloppy alignment:
        // 28M against ref[0:28] with whatever mismatches that implies
        val readSeq = ref.substring(0, 12) + ref.substring(14)
        val refWindow = ref.substring(0, 28)
        val ops = readSeq.zip(refWindow).map { case (r, f) =>
          if (r == f) graft.kernels.AlnMatch(1)
          else graft.kernels.AlnMatch(1, Some(f.toString))
        }
        val (cigar, md) = graft.kernels.AlignmentOps.render(ops)
        Read(name, contig, start, start + 28, readSeq, "I" * readSeq.length, cigar, md,
          60, readMapped = true, readNegativeStrand = false,
          duplicateRead = false, primaryAlignment = true, sampleId = "s1")
      }
  }

  /** Joint calling over a 3-sample cohort (samples derived from
    * l_linestatus): full genotyper per sample, then cohort MAF +
    * binomial-prior recall. Oracle mirrors the entire two-stage model in
    * closed form.
    */
  def g4_joint_recall(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val rds = cohortReads(spark, dir)
    val variants = DiscoverVariants
      .discover(rds, minPhred = 20, minObservations = 2)
      .select("contigName", "start", "referenceAllele", "alternateAllele")
      .as[DiscoveredVariant]
      // CHECKPOINTED since r10, when the genotyper planned discovery
      // twice (SNV and indel sides) and cold g4 was bimodal without the
      // barrier. `call` now collects the candidates once, which reads
      // the checkpoint; it stays so g4's rows time the same work.
      .localCheckpoint()
    val called = BiallelicGenotyper.call(rds, variants, ploidy = 2, binSize = 20.0)
      .withColumn("end", col("start") + 1)
    graft.genomics.JointAnnotatorCaller(called)
      .select(
        col("contigName"), col("start"), col("referenceAllele"), col("alternateAllele"),
        col("sampleId"), round(col("maf"), 6).as("maf"),
        col("genotypeState"), col("recalledState"), col("recalledQuality"),
        col("siteDepth"), col("siteSamples"))
  }

  /** gVCF square-off + joint recall (the reference's end-to-end gVCF
    * workflow, SquareOffReferenceModel.scala:87-245 + Jointer): each
    * sample is discovered and called INDEPENDENTLY with scoreAllSites
    * (per-sample variants + symbolic non-ref blocks at every other
    * covered position), the per-sample gVCFs are squared off against the
    * cohort variant union — exact calls win, reference blocks fill the
    * gaps — and the joint layer re-calls with the cohort MAF prior.
    * Oracle mirrors per-sample discovery, block fallback (incl. the
    * own-different-alt case), and the recall in closed form.
    */
  def g6_gvcf_squareoff(spark: SparkSession, dir: String): DataFrame = {
    // Single-pass cohort gVCF: discovery groups by (sampleId, site) and
    // the genotyper scopes every variant join by sampleId, so ONE
    // discover+call over the cohort emits every sample's gVCF —
    // semantically the per-sample loop (each sample scored only against
    // its own variants, per-sample min-observation threshold), but the
    // cohort reads are scanned a constant number of times instead of
    // 2x per sample, with no S-way driver-built union plan.
    val rds = cohortReads(spark, dir)
    // the genotyper references the variant frame 3x (SNV side, indel
    // side, non-ref anti-join), and each reference would re-run the
    // discovery flatMap+shuffle over the cohort reads; the discovered
    // set is tiny at any scale (bounded by distinct (sample, site)), so
    // materialize it once — same production logic as the gVCF below
    val vs = DiscoverVariants
      .discoverPerSample(rds, minPhred = 20, minObservations = 2)
      .select("sampleId", "contigName", "start", "referenceAllele", "alternateAllele")
      .localCheckpoint()
    // SquareOff's variant-union ⨝ gvcf-rows is a self-join: it references
    // the called cohort twice, and each reference would re-run the whole
    // discover+call subtree. Materialize the cohort gVCF once instead —
    // it is ~1% of the read volume (the production pipeline persists this
    // exact artifact as its gVCF output); localCheckpoint is the
    // in-session equivalent and truncates the lineage the self-join
    // would otherwise duplicate.
    val cohort = BiallelicGenotyper
      .callPerSample(rds, vs, ploidy = 2, binSize = 20.0, scoreAllSites = true)
      .withColumn("end", col("start") + greatest(length(col("referenceAllele")), lit(1)))
      .select("contigName", "start", "end", "referenceAllele", "alternateAllele",
        "sampleId", "genotypeState", "genotypeQuality", "readDepth",
        "gl_0", "gl_1", "gl_2")
      .transform(graft.util.Barriers.corpusScale)
    val squared = graft.genomics.SquareOff.squareOff(cohort, binSize = 20.0)
    graft.genomics.JointAnnotatorCaller(squared)
      .select(
        col("contigName"), col("start"), col("referenceAllele"), col("alternateAllele"),
        col("sampleId"), round(col("maf"), 6).as("maf"),
        col("genotypeState"), col("exactCall"), col("recalledState"),
        col("recalledQuality"), col("siteDepth"), col("siteSamples"))
  }

  /** Trio calling at scale: three samples from l_returnflag (sN=mother,
    * sA=father, sR=child), contigs from l_linestatus; full genotyper per
    * sample then Mendelian phasing. Oracle mirrors genotyping + pivot +
    * phase cascade in closed form.
    */
  def g5_trio_phase(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    // contigs and samples swap roles against the cohort reads
    val rds = lineitemReads(spark, dir,
      contig = col("l_linestatus"), sample = col("l_returnflag"))
    val variants = DiscoverVariants
      .discover(rds, minPhred = 20, minObservations = 2)
      .select("contigName", "start", "referenceAllele", "alternateAllele")
      .as[DiscoveredVariant]
      // not checkpointed: `call` collects the candidates once while the
      // plan is built, so discovery runs once without a barrier
    val called = BiallelicGenotyper.call(rds, variants, ploidy = 2, binSize = 20.0)
    graft.genomics.TrioCaller(called, "sN", "sA", "sR")
      .select(
        col("contigName"), col("start"), col("referenceAllele"), col("alternateAllele"),
        coalesce(col("motherState"), lit(-1)).as("motherState"),
        coalesce(col("fatherState"), lit(-1)).as("fatherState"),
        col("childState"),
        col("mendelError"), col("phased"),
        concat_ws("|", col("childAlleles")).as("child_alleles"))
  }

  // ---- coverage cap (W3), LSH dedup (D3, D4), ANN (E2) ----------------

  /** Stateful running coverage cap over customer balance intervals,
    * exact per-key semantics (hash-partitioned by key). The greedy
    * admission (state = the admitted set's open interval ends) is
    * oracle-checked via a recursive CTE threading that state row by row.
    */
  def w3_coverage_cap(spark: SparkSession, dir: String): DataFrame =
    HardLimiter.capCoverage(
      t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          (col("c_acctbal") * 100).cast("long").as("lo"),
          (col("c_acctbal") * 100).cast("long") + 5000L as "hi"),
      keyCol = "c_mktsegment", startCol = "lo", endCol = "hi",
      maxCoverage = 8, exact = true, tieCols = Seq("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_admitted"))

  // hashFamily = "md5" on the oracle-gated queries: DuckDB reproduces the
  // md5-60bit values exactly. Bench measures the "xx64" production flavor
  // (same plan, ~10x cheaper signature kernel).
  def d3_minhash_lsh_pairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashLshPairs(t(spark, dir, "documents"), "doc_id", "text",
      n = 3, k = 64, bands = 32, minAgree = 0.5, hashFamily = "md5")

  /** The production-path flavor of d3 (xx64 hash family) — what Bench
    * times; not oracle-gated (xxhash64 is not SQL-reproducible).
    */
  def d3_minhash_lsh_pairs_prod(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashLshPairs(t(spark, dir, "documents"), "doc_id", "text",
      n = 3, k = 64, bands = 32, minAgree = 0.5)

  /** MinHash accuracy artifact (D17): per verified LSH pair, the
    * signature-agreement Jaccard estimate vs the exact shingle Jaccard,
    * error in basis points — the accuracy row completing the pattern
    * across the sketch families (e6 for ANN, t17/t20 for HLL/CMS).
    */
  def d17_minhash_accuracy(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashAccuracy(t(spark, dir, "documents"), "doc_id", "text",
      n = 3, k = 64, bands = 32, minAgree = 0.5, hashFamily = "md5")

  /** Cross-source overlap matrix (D18): exact shingle Jaccard between
    * every source pair in integer bp — redundancy between crawls,
    * contamination pressure against benchmark sources. md5 family so
    * the oracle counts the identical 60-bit gram hashes (the t23
    * distinct-hash convention — see [[Dedup.sourceOverlap]]'s scaladoc
    * for the collision bound).
    */
  def d18_source_overlap(spark: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(t(spark, dir, "documents"), "source", "text",
      hashFamily = "md5")

  /** d18 on the production path (xx64, the t17/t18 prod convention) —
    * what Bench times; same plan, cheaper per-string digest.
    */
  def d18_source_overlap_prod(spark: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(t(spark, dir, "documents"), "source", "text")

  /** Fixed-chunk simhash near-dup (D4) — the oracle-checkable 60-bit
    * flavor with its documented 2^15-bucket scale ceiling; at corpus
    * scale run [[d19_simhash_scaled]] instead (same contract, adaptive
    * chunk width, flat occupancy).
    */
  def d4_simhash_pairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(t(spark, dir, "documents"), "doc_id", "text",
      maxHamming = 3, hashFamily = "md5")

  /** d4's occupancy-adaptive scale path (D19): 120-bit simhash, chunk-key
    * width derived from the corpus size so bucket occupancy — and with it
    * candidate volume per document — stays O(1) at any corpus scale.
    * Recall vs the 120-bit Hamming ball is still exact (pigeonhole holds
    * for any disjoint chunks); md5 flavor so the oracle replays the
    * sketch AND the adaptive width from count(*).
    */
  def d19_simhash_scaled(spark: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairsScaled(t(spark, dir, "documents"), "doc_id", "text",
      maxHamming = 3, hashFamily = "md5", targetOccupancy = 8L)

  /** Collapsed simhash near-dup (D20): d19's candidates over DISTINCT
    * sketches only, with duplicate classes reported as (rep, rep, 0,
    * choose-2) weight rows — output linear in distinct content where
    * the doc-level pair contract is quadratic in duplicate-group size
    * (the m6 -> m8 lesson; the sf10 leg measured the difference).
    */
  def d20_simhash_collapsed(spark: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairsCollapsed(t(spark, dir, "documents"), "doc_id", "text",
      maxHamming = 3, hashFamily = "md5", targetOccupancy = 8L)

  /** Duplicate-cluster resolution over the minhash pair graph: connected
    * components turn pair hits into per-doc cluster ids (keeper = the
    * min id). md5 flavor so the oracle reproduces the pair set.
    */
  def d7_dup_clusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      d3_minhash_lsh_pairs(spark, dir), "doc_a", "doc_b")

  /** Production flavor of d7 (xx64 pair graph) — what Bench times. */
  def d7_dup_clusters_prod(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      d3_minhash_lsh_pairs_prod(spark, dir), "doc_a", "doc_b")

  /** Cluster keeper election (d7's clusters + content-aware policy):
    * every cluster keeps its longest member, ties to the lowest id;
    * unpaired docs are singleton clusters.
    */
  def d12_cluster_keepers(spark: SparkSession, dir: String): DataFrame =
    Dedup.clusterKeepers(
      t(spark, dir, "documents"), d7_dup_clusters(spark, dir), "doc_id", "text")

  /** Production flavor of d12 (xx64 pair graph) — what Bench times. */
  def d12_cluster_keepers_prod(spark: SparkSession, dir: String): DataFrame =
    Dedup.clusterKeepers(
      t(spark, dir, "documents"), d7_dup_clusters_prod(spark, dir), "doc_id", "text")

  /** SemDeDup semantic pruning over the embedding corpus: cells from
    * corpus vectors 1..8 as centroids (deterministic, so the DuckDB
    * oracle reproduces the assignment exactly, same convention as
    * e4/e5), ε = 0.35 within-cell cosine — the e3 near-dup threshold.
    */
  def d13_semantic_prune(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val cent = emb.where(col("vec_id").between(1, 8))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    Dedup.semanticPrune(emb, "vec_id", "embedding", cent, threshold = 0.35)
  }

  /** Contamination triage: rank corpus docs by the fraction of their
    * 13-grams hitting the benchmark set (same corpus/eval split as
    * d6/d9, which only answer membership).
    */
  def d14_contamination_score(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.contaminationScore(
      docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 13)
  }

  def e2_ann_topk(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    SimilaritySearch.annTopK(emb, "vec_id", "embedding", dim = query.length,
      query = query, k = 20, nBits = 4)
  }

  /** Matryoshka two-stage rerank (E17): coarse 16-dim prefix cosine over
    * the corpus, top-50 shortlist, exact 64-dim rerank to top-10 —
    * both cuts tie-broken by vec_id ([[SimilaritySearch.mrlRerank]]).
    */
  def e17_mrl_rerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    SimilaritySearch.mrlRerank(emb, "vec_id", "embedding", dim = query.length,
      query = query, coarseDim = 16, shortlist = 50, k = 10)
  }

  /** Top-20 by sign-sketch Hamming distance: the 32x-compressed 1-bit
    * rung of the quantization ladder; integer-exact ranking.
    */
  def e8_hamming_topk(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    SimilaritySearch.hammingTopK(emb, "vec_id", "embedding", query, k = 20)
  }

  /** Top-20 by cosine over the int8-quantized corpus: the 4x-compressed
    * serving format; ranking runs on exact integer dot products.
    */
  def e7_quantized_topk(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    SimilaritySearch.quantizedTopK(emb, "vec_id", "embedding", query, k = 20)
  }

  /** Exact embedding-cosine near-dup pairs (threshold join) — the
    * oracle-checkable flavor; the LSH candidate path is the same
    * operator with exact=false.
    *
    * CATALOG DECISION (r15, closing the standing e3/m6 asterisk): this
    * row STAYS in the gate catalog as the ORACLE ANCHOR for the family
    * — it is the exact ground truth e12's LSH recall artifact is
    * measured against, and demoting it to a spec fixture would leave
    * the scale path's recall claim anchored to nothing the driver
    * re-verifies. Its declared contract is unchanged: exact all-pairs,
    * quadratic by definition, benched through sf1 and SKIPPED (recorded
    * in the artifact's `skipped`) on >= sf10 legs, where e12 is the
    * canonical scale row for the family. Same decision for m6/m8.
    */
  def e3_embedding_dedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(t(spark, dir, "embeddings"), "vec_id", "embedding",
      dim = 64, threshold = 0.35, exact = true)

  /** LSH-bucketed embedding near-dup pairs — e3's scale path made
    * oracle-visible: candidates are pairs sharing a random-hyperplane
    * bucket (e2's planes: nBits=4, seed 42), verified by exact cosine.
    * Recall < 1 by design; the oracle reproduces the SAME buckets from
    * inlined plane literals, so the result is deterministic and
    * hash-checkable. nBits is pinned here for the oracle; production
    * calls pass targetOccupancy and let [[SimilaritySearch.autoBits]]
    * size the bucket count to the corpus (r8 step-up: fixed bits go
    * quadratic once occupancy grows).
    */
  def e12_lsh_neardup(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(t(spark, dir, "embeddings"), "vec_id", "embedding",
      dim = 64, threshold = 0.35, exact = false, nBits = 4)

  /** e12 on the production sizing: bucket count derived from the corpus
    * (autoBits at ~125 occupancy) instead of the oracle's fixed 4 bits
    * (16 buckets — a deliberate ceiling that goes O(m²) once the corpus
    * outgrows them: measured 175x at the sf10 decade). The d3 override
    * convention: the bench times this flavor; the md5/fixed-bits flavor
    * stays the correctness row.
    */
  def e12_lsh_neardup_prod(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(t(spark, dir, "embeddings"), "vec_id", "embedding",
      dim = 64, threshold = 0.35, exact = false, targetOccupancy = 125L)

  /** IVF ANN: centroids are corpus vectors 1..8 (deterministic, so the
    * DuckDB oracle can reproduce the cell assignment exactly); probe the
    * 2 nearest cells, exact cosine inside them. Centroid/query fetches
    * are query parameters (9 small rows), not data movement.
    */
  def e4_ivf_topk(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val cent = emb.where(col("vec_id").between(1, 8))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    SimilaritySearch.ivfTopK(emb, "vec_id", "embedding", cent, query, k = 20, nProbe = 2)
  }

  /** IVF-PQ ANN (e4's coarse cells × e11's PQ codes, composed on the
    * RESIDUAL): centroids are corpus vectors 1..8, codebooks come from
    * seed vectors 1..16 (both deterministic so the oracle reproduces
    * cell assignment, residual codes, and per-cell ADC tables exactly);
    * probe the query's 2 nearest cells, rank their rows by m=8 table
    * lookups over the codes column. The billion-scale serving shape:
    * partition-pruned cells + m-byte rows ([[SimilaritySearch.writeIvfPq]]).
    */
  def e13_ivfpq_topk(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val cent = emb.where(col("vec_id").between(1, 8))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    val cb = SimilaritySearch.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 16, seedIds = 1L to 16L)
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    SimilaritySearch.ivfPqTopK(emb, "vec_id", "embedding", cent, cb, query,
      k = 20, nProbe = 2)
  }

  /** Cross-document duplicated 13-gram contamination report. */
  def d5_dup_ngrams(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedNgrams(t(spark, dir, "documents"), "doc_id", "text", n = 13)

  /** Span-cut substring dedup: per document, the merged token spans
    * covered by any corpus-duplicated 13-gram — what an exact
    * span-cutting cleaner removes (vs d6's whole-document drop).
    */
  def d8_dup_spans(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(t(spark, dir, "documents"), "doc_id", "text", n = 13)

  /** Benchmark decontamination: every 10th document plays the held-out
    * eval set; the rest of the corpus drops any document sharing a
    * 13-gram with it.
    */
  def d6_decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.decontaminate(
      docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 13)
      .select("doc_id")
  }

  /** Bloom-sketch decontamination: same corpus/eval split and same
    * output as d6, via the map-side Bloom probe + exact-verify join —
    * the plan that holds when the eval gram set is too large to
    * broadcast as exact strings.
    */
  def d9_bloom_decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.bloomDecontaminate(
      docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 13)
      .select("doc_id")
  }

  /** Composite quality gate with per-rule provenance: named rule flags,
    * packed fail_mask, keep decision — integer-arithmetic rules, exactly
    * engine-reproducible.
    */
  def t11_quality_filter(spark: SparkSession, dir: String): DataFrame = {
    val rules = TextAnalysis.qualityRules(col("text"))
    val mask = TextAnalysis.qualityFailMask(rules)
    t(spark, dir, "documents").select(
      Seq(col("doc_id"),
        // null text -> 0, matching the oracle's coalesce and the
        // qualityRules-internal token count (ANSI size(null) is NULL)
        coalesce(size(split(col("text"), " ")).cast("long"), lit(0L)).as("n_tokens")) ++
        rules.map { case (nm, c) => c.as(nm) } ++
        Seq(mask.as("fail_mask"), (mask === 0L).as("keep")): _*)
  }

  /** Deterministic 16-way shard assignment + per-shard integrity
    * manifest (doc/token/char totals, order-independent xor checksum).
    */
  def c6_shard_manifest(spark: SparkSession, dir: String): DataFrame =
    Sharding.shardManifest(t(spark, dir, "documents"), "doc_id", "text", numShards = 16)

  /** Composed export pipeline: quality gate -> LM perplexity cut ->
    * shard manifest, one declarative plan.
    */
  def c9_prepare_shards(spark: SparkSession, dir: String): DataFrame =
    Pipeline.prepareShards(t(spark, dir, "documents"), "doc_id", "text")

  /** Sliding-window chunking: 40-token context windows every 20 tokens. */
  def c10_chunk_documents(spark: SparkSession, dir: String): DataFrame =
    Sampling.chunkDocuments(t(spark, dir, "documents"), "doc_id", "text",
      window = 40, stride = 20)

  /** BPE-ish token estimate: whitespace tokens, regex word/punct pieces,
    * and the chars/4 estimate — the three counts a budget planner uses.
    */
  def t13_token_estimate(spark: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    t(spark, dir, "documents").select(
      col("doc_id"),
      coalesce(TextAnalysis.tokenCount(txt).cast("long"), lit(0L)).as("n_ws_tokens"),
      size(regexp_extract_all(txt, lit("\\w+|[^\\w\\s]"), lit(0))).cast("long")
        .as("n_pieces"),
      ((length(regexp_replace(txt, "\\s", "")) + 3) / 4).cast("long")
        .as("est_bpe_tokens"))
  }

  /** Deterministic 90/5/5 train/val/test split: md5-ticket percent
    * buckets, pure narrow projection — same doc lands in the same split
    * on every run and under incremental ingest.
    */
  def c11_split_assign(spark: SparkSession, dir: String): DataFrame =
    Sharding.splitAssign(t(spark, dir, "documents"), "doc_id",
      Seq("train" -> 90, "val" -> 5, "test" -> 5))
      .select(col("doc_id"), col("split"))

  /** Fractional-epoch upsampling by language: en 2.30 epochs, zh 0.50,
    * rest 1.00 — each doc replicated floor(e) + (salted ticket < frac)
    * times, copy_idx distinguishing replicas. Pure narrow plan.
    */
  def c12_epoch_upsample(spark: SparkSession, dir: String): DataFrame =
    Sampling.epochUpsample(
      t(spark, dir, "documents").select("doc_id", "lang"),
      "doc_id", "lang", Map("en" -> 230, "zh" -> 50), defaultCentiEpochs = 100)

  /** Deterministic CDC change batch derived from the documents table —
    * shared by the batch (c13) and streaming (ev13) upsert paths so
    * both resolve to the SAME snapshot (batch-boundary invariance).
    * Per doc: doc_id%2==0 gets an update (text uppercased, v1);
    * doc_id%6==0 additionally a tombstone (v2, overrides its v1
    * update); doc_id%4==3 an insert of a key absent from the base;
    * doc_id%12==7 additionally a v2 re-update (insert then update
    * inside one batch). Versions are distinct per key by construction —
    * Merge's tie-break is plan determinism, not a semantic crutch.
    * Built with one array-of-structs explode so it stays a narrow plan
    * on a streaming source.
    */
  private[graft] def docChanges(docs: DataFrame): DataFrame = {
    // union of four filtered selects, NOT one explode over an
    // array-of-4-structs: the single-expression form generated a
    // monster codegen method whose first compile cost ~5s of the
    // query's 6s cold time (bench rows are cold runs); four small
    // projections compile in noise and mirror the oracle's UNION ALL
    // shape exactly. Works unchanged on a streaming source (self-union
    // of a stream is supported).
    def ch(cond: Column, text: Column, nChars: Column, op: String, v: Long) =
      docs.where(cond).select(col("doc_id"), text.as("text"), col("lang"),
        col("source"), nChars.as("n_chars"), lit(op).as("op"),
        lit(v).as("version"))
    ch(col("doc_id") % 2 === 0, upper(col("text")), col("n_chars"), "U", 1L)
      .unionAll(ch(col("doc_id") % 6 === 0, col("text"), col("n_chars"), "D", 2L))
      .unionAll(ch(col("doc_id") % 4 === 3, col("text"), col("n_chars"), "I", 1L))
      .unionAll(ch(col("doc_id") % 12 === 7,
        concat(col("text"), lit(" v2")), col("n_chars") + 3, "U", 2L))
  }

  /** CDC / upsert merge (SCD-1, latest version wins): the base corpus
    * (doc_id % 4 != 3) absorbs a change batch of updates, tombstones
    * and inserts, including intra-batch conflicts (update→delete,
    * insert→update) resolved by one partial+final max_by — the base
    * side never exchanges (AQE broadcast anti-join; PlanSpec-gated).
    */
  def c13_cdc_upsert(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Merge.upsert(docs.where(col("doc_id") % 4 =!= 3), docChanges(docs), "doc_id")
  }

  /** Subword tokenization (T16): greedy longest-match (MaxMatch /
    * WordPiece inference) against the corpus's own top-200 piece vocab —
    * per-document word and subword counts an actual tokenizer with that
    * vocab would emit. Corpus contributes one (doc, word) agg; the
    * greedy scan runs per DISTINCT word against a broadcast vocab.
    */
  def t16_subword_tokenize(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.subwordTokenize(t(spark, dir, "documents"), "doc_id", "text")

  /** Corpus snapshot diff (C14): audit the c13 merge — diff the base
    * snapshot against the merged result and recover exactly the
    * changes that were applied (added = surviving inserts, removed =
    * tombstones, modified = updates whose text actually changed).
    * Fingerprints are md5(text); the join carries (key, fp) only.
    */
  def c14_snapshot_diff(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "documents").where(col("doc_id") % 4 =!= 3)
    Merge.snapshotDiff(base, c13_cdc_upsert(spark, dir), "doc_id", md5(col("text")))
  }

  /** Corpus timeline (C16): time-travel statistics straight off the
    * c13 delta log — per checkpoint version (0 = base, 1, 2), the
    * snapshot's row count, total chars and a 40-bit content-fingerprint
    * sum, WITHOUT materializing any snapshot: log-sized work plus one
    * narrow base pass ([[Merge.timeline]]).
    */
  def c16_corpus_timeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Merge.timeline(
      docs.where(col("doc_id") % 4 =!= 3), docChanges(docs), "doc_id",
      versions = Seq(1L, 2L),
      metrics = Seq(
        "total_chars" -> col("n_chars"),
        "fp_sum" -> conv(substring(md5(col("text")), 1, 10), 16, 10)))
  }

  /** BPE merge training (T25): learn the first 3 merges from the
    * corpus — the iterative vocabulary-build loop (distinct-word
    * collapse, parenthesized token seqs, argmax + replace per round;
    * K bounded 1-row collects like k-means).
    */
  def t25_bpe_train(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeTrain(t(spark, dir, "documents"), "text", merges = 3)

  /** BPE tokenization (T26): apply the t25-trained merges; per-doc word
    * and token totals via the broadcast distinct-word lookup.
    */
  def t26_bpe_tokenize(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeTokenize(t(spark, dir, "documents"), "doc_id", "text",
      merges = 3)

  /** Token-budget head-fill (C17): per source, the highest-n_chars docs
    * until 800 tokens are covered — histogram-cutoff plan, no per-source
    * corpus sort ([[Sampling.tokenBudgetFill]]).
    */
  def c17_token_budget_fill(spark: SparkSession, dir: String): DataFrame =
    Sampling.tokenBudgetFill(t(spark, dir, "documents"),
      "source", "doc_id", "n_chars",
      TextAnalysis.tokenCount(col("text")), budget = 800L)

  /** DSIR importance resampling (C18): top-200 raw docs whose hashed
    * unigram mix best matches the src0-src2 target domain; integer
    * micro-nat scores, deterministic ties ([[Sampling.dsirResample]]).
    */
  def c18_dsir_resample(spark: SparkSession, dir: String): DataFrame =
    Sampling.dsirResample(t(spark, dir, "documents"), "doc_id", "text",
      isTarget = col("source").isin("src0", "src1", "src2"))

  /** Weighted sample without replacement (C15): 50 docs per source,
    * n_chars-weighted, via the Efraimidis–Spirakis exponential key on
    * the deterministic md5 ticket. Bounded typed aggregation — no
    * per-stratum sort anywhere.
    */
  def c15_weighted_sample(spark: SparkSession, dir: String): DataFrame =
    Sampling.weightedSample(t(spark, dir, "documents"),
      "source", "doc_id", "n_chars", 50)

  /** First BPE merge statistics: corpus-wide adjacent-char-pair counts
    * weighted by word frequency, top 30 — the argmax is the first merge
    * a BPE vocabulary build applies.
    */
  def t14_bpe_pairs(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpePairCounts(t(spark, dir, "documents"), "text", topK = 30)

  /** Quality-classifier inference (T15): fastText/CCNet-shape linear
    * model over hashed word uni+bigrams — integer-exact feature sum,
    * sigmoid score, keep threshold. The closed-form weights make it
    * oracle-checkable; a trained model swaps in via the weight lookup.
    */
  def t15_quality_classifier(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fasttextQualityScore(
      t(spark, dir, "documents"), "doc_id", "text")

  /** Bloom-pruned join (J8): lineitem probe pre-filtered by a Bloom
    * sketch of the urgent-orders build keys before the join — the
    * runtime-filter pattern as an explicit operator; false positives
    * are discarded by the join, so the oracle is the plain join.
    */
  def j8_bloom_pruned_join(spark: SparkSession, dir: String): DataFrame = {
    val urgent = t(spark, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_totalprice")
    BloomJoin.bloomPrunedJoin(
      t(spark, dir, "lineitem").select("l_orderkey", "l_quantity"),
      urgent, "l_orderkey", "o_orderkey")
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity")).cast("long").as("sum_qty"))
  }

  /** Bucketed co-located join (J9): lineitem ⋈ orders on orderkey with
    * BOTH sides in a `bucketBy`+`sortBy` layout — zero Exchange and zero
    * Sort under the SortMergeJoin (the one-time bucketed write replaces
    * every subsequent join shuffle). The timed row honestly includes the
    * layout write for the session's first run; the oracle is the plain
    * join.
    */
  def j9_bucketed_join(spark: SparkSession, dir: String): DataFrame =
    BucketedJoin.revenueByPriority(spark, dir)

  /** Fuzzy entity join (J10): all supplier-name pairs within edit
    * distance 1 via deletion-neighborhood (FastSS) blocking — each name
    * emits its ≤maxDist-deletion variants, candidates meet on a shared
    * variant, levenshtein verifies — exact recall, no O(N²) compare.
    * Oracle is the naive quadratic join (supplier-sized, so it stays
    * oracle-runnable; the bench times the customer-scale flavor, see
    * [[j10_fuzzy_join_prod]]).
    */
  def j10_fuzzy_join(spark: SparkSession, dir: String): DataFrame =
    FuzzyJoin.editDistanceSelfJoin(
      t(spark, dir, "supplier"), "s_suppkey", "s_name", maxDist = 1)

  /** Production flavor of j10 for the bench: same operator on the 10x
    * customer table (15k names at sf0.1 = the 112M-compare naive
    * contract the filter-verify plan avoids).
    */
  def j10_fuzzy_join_prod(spark: SparkSession, dir: String): DataFrame =
    FuzzyJoin.editDistanceSelfJoin(
      t(spark, dir, "customer"), "c_custkey", "c_name", maxDist = 1)

  /** Salted equi-join: the static skew fallback, aggregated per key so
    * the result is the plain join's closed form.
    */
  def j7_salted_join(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select(col("user_id"), col("value"))
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    SkewJoin.saltedEquiJoin(ev, cust, "user_id", "c_custkey", factor = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
  }

  /** Global epoch-shuffle order: contiguous position in the md5-ticket
    * order via range-partition + within-bucket rank + offset join — no
    * single-partition window anywhere in the plan.
    */
  def c7_training_order(spark: SparkSession, dir: String): DataFrame =
    Sharding.trainingOrder(t(spark, dir, "documents"), "doc_id", numBuckets = 8)

  /** LM perplexity filter: bits-per-token under the corpus's own
    * unigram LM (CCNet-style quality signal).
    */
  def t12_lm_perplexity(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLogPpl(t(spark, dir, "documents"), "doc_id", "text")

  /** Interpolated bigram LM perplexity (T19): t12 with context — the
    * Jelinek-Mercer 0.75/0.25 mix of bigram and unigram probabilities,
    * document-initial tokens under the unigram alone.
    */
  def t19_bigram_ppl(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLogPpl(t(spark, dir, "documents"), "doc_id", "text")

  /** Count-Min heavy hitters (T20): top-20 corpus tokens by sketch
    * estimate with exact counts and overestimate error alongside — the
    * frequency-sketch twin of t17's cardinality artifact. Sketch state
    * is a fixed 4x512 counter matrix however large the corpus.
    */
  def t20_cms_heavy_hitters(spark: SparkSession, dir: String): DataFrame =
    Sketch.cmsHeavyHitters(t(spark, dir, "documents"), "text", 20)

  /** t20 on the production hash family (the d3 override convention). */
  def t20_cms_heavy_hitters_prod(spark: SparkSession, dir: String): DataFrame =
    Sketch.cmsHeavyHitters(t(spark, dir, "documents"), "text", 20,
      hashFamily = "xx64")

  /** The e16 batch — mixed common/rare terms per query; shared with the
    * oracle generator so both engines serve the identical batch.
    */
  val bm25BatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "dup"),
    1L -> Seq("window", "join", "hash"),
    2L -> Seq("vector", "stream"))

  /** Batched BM25 serving (E16): three keyword queries answered in one
    * corpus pass — the sparse twin of e9's batched dense ANN. Per-term
    * df is unchanged from the one-query ranker, so scores are
    * identical; per-query top-10 via the bounded typed agg.
    */
  def e16_bm25_batch(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25BatchTopK(t(spark, dir, "documents"), "doc_id", "text",
      bm25BatchQueries, 10)

  /** Log-histogram quantile sketch (T22): per-source doc-length
    * histograms (octave x 8 sub-bins, all-integer binning) plus their
    * '__all' merge, quantile estimates as bin upper edges with the
    * achieved rank and overshoot in basis points — the quantile member
    * of the sketch family (t17 HLL, t20 CMS, d17 MinHash), replacing
    * t10's sort-based exact path with one bounded groupBy.
    */
  def t22_hist_quantiles(spark: SparkSession, dir: String): DataFrame = {
    // referenced by the union AND the '__all' merge, and histQuantiles
    // references its input twice more — without a barrier the documents
    // scan + hist agg re-ran per reference. Bounded sketch state
    // (|sources| x |bins|): materialize once (guide §8).
    val perSource = Sketch.histBins(t(spark, dir, "documents"), "source", "n_chars")
      .localCheckpoint()
    Sketch.histQuantiles(
      perSource.unionByName(Sketch.histMerge(perSource, "__all")),
      Seq(10, 50, 90, 99))
  }

  /** BM25 keyword retrieval (T21): top-20 documents for a mixed
    * common/rare term query — the sparse-retrieval twin of the dense
    * ANN top-k. Integer 1e-4-unit scores, so ranking is engine-exact.
    */
  def t21_bm25_topk(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25TopK(t(spark, dir, "documents"), "doc_id", "text",
      Seq("spark", "dup", "window"), 20)

  /** Cohort retention triangle (EV17): users cohorted by first-seen
    * week, distinct returners per (cohort, week offset), retention in
    * integer basis points vs the cohort size. The (cohort, offset)
    * result cardinality is bounded by periods^2, not users or events.
    */
  def ev17_retention_cohorts(spark: SparkSession, dir: String): DataFrame =
    Retention.cohortRetention(t(spark, dir, "events"), "user_id", "ts")

  /** Ordered-sequence funnel report (EV16): view -> click -> purchase
    * conversion over the events table — strict-subsequence matching via
    * chained per-step (filter, groupBy user, min(struct)) aggregations,
    * no global-order window, conversion in integer basis points.
    */
  def ev16_user_funnel(spark: SparkSession, dir: String): DataFrame =
    Funnel.funnelReport(t(spark, dir, "events"), "user_id", "event_type",
      "ts", "event_id", Seq("view", "click", "purchase"))

  /** Windowed funnel (EV19): ev16's funnel with the "conversion within
    * 7 days of the previous step" constraint — the form product
    * funnels default to; first-occurrence anchoring, engine-exact
    * integer nanos arithmetic.
    */
  def ev19_windowed_funnel(spark: SparkSession, dir: String): DataFrame =
    Funnel.funnelReport(t(spark, dir, "events"), "user_id", "event_type",
      "ts", "event_id", Seq("view", "click", "purchase"),
      maxGapNs = Some(604800000000000L))

  /** Streaming funnel (EV18): the same view -> click -> purchase report
    * as ev16, computed incrementally — per-user fixed-size cursor state,
    * each (user, step) reach appended exactly once, report aggregated
    * from the append log. Same oracle as ev16: the streaming matcher
    * must land on the identical report.
    */
  def ev18_stream_funnel(spark: SparkSession, dir: String): DataFrame =
    withStagedEvents(spark, dir, "ev18_stream") { staged =>
      val reaches = graft.streaming.StreamingOps.funnelStream(
        graft.streaming.StreamingOps.readEvents(spark, staged),
        Seq("view", "click", "purchase"))
      val name = "ev18_" + java.lang.Long.toHexString(System.nanoTime())
      val q = reaches.toDF().writeStream
        .outputMode("append").format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
      // base denominator from the original table path — the staged dir
      // is gone once this block returns, the memory sink is not
      Funnel.reportFromSteps(spark.table(name), t(spark, dir, "events"), "user_id")
    }

  /** Streaming token-budget admission (EV23): per-source running token
    * state across micro-batches; each source admits id-ordered arrivals
    * until 800 tokens are covered (crossing doc admitted — c17's
    * straddle rule applied to arrival order).
    */
  def ev23_stream_budget_fill(spark: SparkSession, dir: String): DataFrame =
    withStagedTable(spark, dir, "documents.parquet", "ev23_stream") { staged =>
      val adm = graft.streaming.StreamingOps.budgetFillStream(
        graft.streaming.StreamingOps.readDocuments(spark, staged), budget = 800L)
      graft.streaming.StreamingOps.runToMemorySink(adm.toDF(),
        "ev23_" + java.lang.Long.toHexString(System.nanoTime()),
        org.apache.spark.sql.streaming.OutputMode.Append())
    }

  /** Streaming ingest dedup: the same split as d10, run through
    * Structured Streaming — history is the static anti-join side,
    * within-stream repeats drop via watermark-bounded fingerprint
    * state. Output is the surviving fingerprint set (the set is
    * deterministic; WHICH copy of an in-stream dup survives is
    * arrival order, as in any real ingest).
    */
  def ev10_stream_incremental_dedup(spark: SparkSession, dir: String): DataFrame =
    withStagedTable(spark, dir, "documents.parquet", "ev10_stream") { staged =>
      val docs = graft.streaming.StreamingOps.readDocuments(spark, staged)
        .where(col("doc_id") % 3 =!= 0)
      val hist = Dedup.exactFingerprintIndex(
        t(spark, dir, "documents").where(col("doc_id") % 3 === 0), "text")
      val dd = graft.streaming.StreamingOps
        .incrementalDedupStream(docs, hist, "doc_id", "text")
      val name = "ev10_" + java.lang.Long.toHexString(System.nanoTime())
      val q = dd.select("fp").writeStream
        .outputMode("append").format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
      // collapse dropDuplicatesWithinWatermark re-emissions across
      // micro-batches (same note as ev6)
      spark.table(name).distinct()
    }

  /** Streaming incremental NEAR-dup ingest (the minhash twin of ev10):
    * the batch stream (doc_id % 3 != 0) dedupes against a persistent
    * signature + band index seeded from the history corpus
    * (doc_id % 3 == 0), with the index absorbing each seen batch — d3's
    * (n=3, k=64, bands=32, minAgree=0.5) parameters, md5 family so the
    * oracle reproduces signatures/buckets/agreement exactly. Because
    * the index absorbs ALL seen docs, the survivor set is
    * batch-boundary invariant and shares d11's oracle rule; multi-batch
    * state evidence lives in StreamingNearDupSpec.
    */
  def ev11_stream_neardup(spark: SparkSession, dir: String): DataFrame =
    withStagedTable(spark, dir, "documents.parquet", "ev11_stream") { staged =>
      val tmp = java.nio.file.Files.createTempDirectory("ev11_idx").toString
      val hist = t(spark, dir, "documents").where(col("doc_id") % 3 === 0)
      val hSigs = Dedup.minHashSignatures(hist, "doc_id", "text",
        n = 3, k = 64, hashFamily = "md5")
      hSigs.write.parquet(s"$tmp/sigs")
      Dedup.minHashBandIndex(hSigs, k = 64, bands = 32, hashFamily = "md5")
        .write.parquet(s"$tmp/bands")
      val docs = graft.streaming.StreamingOps.readDocuments(spark, staged)
        .where(col("doc_id") % 3 =!= 0)
      graft.streaming.StreamingOps.incrementalNearDupStream(
        docs, "doc_id", "text", s"$tmp/sigs", s"$tmp/bands", s"$tmp/out",
        n = 3, k = 64, bands = 32, minAgree = 0.5, hashFamily = "md5")
      spark.read.parquet(s"$tmp/out").select("doc_id")
    }

  /** Incremental exact dedup: every third document plays the existing
    * corpus (as a fingerprint index); the rest is the new batch,
    * deduped within itself and against history.
    */
  def d10_incremental_dedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.incrementalExact(
      docs.where(col("doc_id") % 3 =!= 0),
      Dedup.exactFingerprintIndex(docs.where(col("doc_id") % 3 === 0), "text"),
      "doc_id", "text")
  }

  /** Incremental NEAR-dup dedup (minhash twin of d10): the batch
    * (doc_id % 3 != 0) dedupes against the history corpus's persistent
    * signature + band indexes and within itself; md5 family so the
    * oracle reproduces signatures, buckets, and agreement exactly.
    * d3's (n=3, k=64, bands=32, minAgree=0.5) parameters.
    */
  def d11_incremental_minhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    incMinHashImpl(docs, hashFamily = "md5")
  }

  /** Production flavor of d11 (xx64 index family) — what Bench times. */
  def d11_incremental_minhash_prod(spark: SparkSession, dir: String): DataFrame =
    incMinHashImpl(t(spark, dir, "documents"), hashFamily = "xx64")

  private def incMinHashImpl(docs: DataFrame, hashFamily: String): DataFrame = {
    val history = docs.where(col("doc_id") % 3 === 0)
    // the history signatures feed the verify join AND the band index —
    // one kernel pass, not two (ev11 materializes the same artifact to
    // parquet; this is the in-session equivalent)
    val hSigs = graft.util.Barriers.corpusScale(Dedup.minHashSignatures(history, "doc_id", "text",
      n = 3, k = 64, hashFamily = hashFamily))
    Dedup.incrementalMinHash(
      docs.where(col("doc_id") % 3 =!= 0),
      hSigs,
      Dedup.minHashBandIndex(hSigs, k = 64, bands = 32, hashFamily = hashFamily),
      "doc_id", "text", n = 3, k = 64, bands = 32, minAgree = 0.5,
      hashFamily = hashFamily)
  }

  /** Asymmetric containment near-dup (D15): directed pairs where ≥80%
    * of doc_a's 3-gram shingles appear in doc_b — the subsumed-document
    * case (quotes, excerpts, supersets) symmetric Jaccard can't see.
    * Probe-side rarest-first prefix bound keeps the index at
    * (1−t)·|A|+1 grams per probe doc.
    */
  def d15_containment_pairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairs(t(spark, dir, "documents"), "doc_id", "text",
      n = 3, threshold = 0.8)

  /** Duplicate-graph centrality (D16): fixed-3-iteration PageRank over
    * the verified minhash near-dup pair graph (d3's edges) — rank
    * identifies the HUB documents of the duplication structure
    * (template/boilerplate content that many distinct docs echo), a
    * different signal from d7's flat components: a chain and a star
    * with the same member set get the same clusters but very different
    * centrality. Integer parts-per-million rank, engine-exact (see
    * [[Graph.pageRankFixed]]).
    */
  def d16_dupgraph_rank(spark: SparkSession, dir: String): DataFrame =
    Graph.pageRankFixed(
      d3_minhash_lsh_pairs(spark, dir).select("doc_a", "doc_b"),
      "doc_a", "doc_b", iters = 3)
      .select(col("node").as("doc_id"), col("rank_ppm"))

  /** Production flavor of d16 (xx64 pair graph) — what Bench times. */
  def d16_dupgraph_rank_prod(spark: SparkSession, dir: String): DataFrame =
    Graph.pageRankFixed(
      d3_minhash_lsh_pairs_prod(spark, dir).select("doc_a", "doc_b"),
      "doc_a", "doc_b", iters = 3)
      .select(col("node").as("doc_id"), col("rank_ppm"))

  /** HyperLogLog distinct-shingle cardinality per language (T17) —
    * the SKETCH-ONLY plan, so this bench row times what the sketch
    * actually costs at scale: the only shuffle emits <= 256 rows per
    * language however large the corpus. The exact-comparison accuracy
    * artifact lives in [[t23_hll_accuracy]] (the e6 pattern — r10
    * timed both sides in one row and attributed 76 s of exact-side
    * shuffle at sf1 to "the sketch").
    */
  def t17_hll_distinct(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val vals = docs.select(col("lang"), explode(Sketch.docShingles()).as("sh"))
    Sketch.hllEstimate(Sketch.hllRegisters(vals, "lang", "sh"), "lang")
  }

  /** t17 on the production path: xx64 instead of per-shingle md5, AND
    * the fused shingle+hash kernel ([[Sketch.docShingleHashes]]) so the
    * corpus pass explodes 8-byte longs instead of re-evaluating an
    * inline shingle array per output row and shipping strings. Same
    * estimates; benched via the d3 override convention.
    */
  def t17_hll_distinct_prod(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val vals = docs.select(col("lang"),
      explode(Sketch.docShingleHashes("text", "xx64")).as("h"))
    Sketch.hllEstimate(Sketch.hllRegistersFromHashes(vals, "lang", "h"), "lang")
  }

  /** Sketch mergeability (T18): per-source HLL registers plus their
    * max-merge into a '__union' sketch — the property that makes
    * sketches THE cardinality tool at 100 TB: per-day / per-source
    * registers combine by elementwise max into exactly the union's
    * sketch without re-reading any input (spec asserts the equality
    * exactly). Sketch-only plan; the exact-count accuracy artifact is
    * [[t24_hll_merge_accuracy]].
    */
  def t18_hll_merge(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val vals = docs.select(col("source"), explode(Sketch.docShingles()).as("sh"))
    val regs = Sketch.hllRegisters(vals, "source", "sh").localCheckpoint(true)
    Sketch.hllEstimate(
      regs.union(Sketch.hllMerge(regs, "source", "__union")), "source")
  }

  /** t18 on the production path (fused kernel + xx64, as t17 prod). */
  def t18_hll_merge_prod(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val vals = docs.select(col("source"),
      explode(Sketch.docShingleHashes("text", "xx64")).as("h"))
    val regs = Sketch.hllRegistersFromHashes(vals, "source", "h").localCheckpoint(true)
    Sketch.hllEstimate(
      regs.union(Sketch.hllMerge(regs, "source", "__union")), "source")
  }

  /** HLL accuracy artifact (T23): t17's estimate joined to the exact
    * distinct count, error in basis points — the row that MEASURES the
    * sketch (and pays the exact side's full-distinct shuffle to do it;
    * that cost belongs to this row, not to t17's).
    */
  def t23_hll_accuracy(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // ONE aggregation chain feeds BOTH sides (the r12 plan exploded the
    // corpus twice; an intermediate design checkpointed the distinct
    // set and re-scanned it — slower than the explode it saved): over
    // the distinct (lang, hash) set, per-register counts sum to the
    // exact distinct count, so sketch and ground truth ride one register
    // aggregation. The r14 floor rework: hash INSIDE the corpus pass
    // (fused shingle+md5 kernel — the docShingles-under-explode Generate
    // re-evaluates its inline array per output row, O(len²)/doc) and
    // make the distinct shuffle carry (lang, 8-byte long) instead of
    // (lang, ~24-char string). `exact_distinct` thereby counts distinct
    // 60-bit HASHES — expected collisions n²/2⁶¹ ≪ 1 at any tested
    // scale, and the oracle counts the same hashes, bit-identically.
    val dist = docs.select(col("lang"),
      explode(Sketch.docShingleHashes("text", "md5")).as("__h"))
      .distinct()
    Sketch.hllEstimateWithExact(
      Sketch.hllRegistersFromHashesWithCounts(dist, "lang", "__h"), "lang")
      .select(col("lang"), col("occupied"), col("est_distinct"),
        col("exact_distinct"),
        floor(abs(col("est_distinct") - col("exact_distinct")) /
          col("exact_distinct") * 10000).cast("long").as("err_bp"))
  }

  /** HLL merge accuracy artifact (T24): t18's per-source + '__union'
    * estimates against exact distinct counts (the union row proves the
    * max-merge estimates the true union cardinality, not a sum).
    */
  def t24_hll_merge_accuracy(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // one fused-hash explode + one distinct shuffle over (source, long)
    // (t23's r14 floor shape — see its scaladoc for the distinct-hash
    // exactness argument), then ONE rollup pass answers both exact
    // scopes — per-source and the '__union' grand total (the r12 plan
    // ran two separate countDistinct aggregations over two re-explodes
    // of the corpus). countDistinct still guards the total row: a
    // shingle can appear under several sources. rollup's null subtotal
    // IS the union row (source is non-null in the corpus, no collision).
    val dist = docs.select(col("source"),
      explode(Sketch.docShingleHashes("text", "md5")).as("__h"))
      .distinct().transform(graft.util.Barriers.corpusScale)
    val regs = Sketch.hllRegistersFromHashes(dist, "source", "__h")
      .localCheckpoint(true)
    val est = Sketch.hllEstimate(
      regs.union(Sketch.hllMerge(regs, "source", "__union")), "source")
    val exact = dist.rollup("source")
      .agg(countDistinct(col("__h")).as("exact_distinct"))
      .select(coalesce(col("source"), lit("__union")).as("source"),
        col("exact_distinct"))
    est.join(exact, "source")
      .select(col("source"), col("occupied"), col("est_distinct"),
        col("exact_distinct"),
        floor(abs(col("est_distinct") - col("exact_distinct")) /
          col("exact_distinct") * 10000).cast("long").as("err_bp"))
  }

  /** Streaming windowed distinct-user sketch (EV15): per-micro-batch
    * HLL registers appended to a log (merge-on-read, ev13's shape),
    * resolved by elementwise max at read — batch-boundary invariant
    * because register max is associative, so the oracle is the plain
    * batch register pipeline per hour window. Exact counts alongside.
    */
  def ev15_stream_hll_users(spark: SparkSession, dir: String): DataFrame =
    withStagedTable(spark, dir, "events.parquet", "ev15_stream") { staged =>
      val tmp = java.nio.file.Files.createTempDirectory("ev15_log").toString
      graft.streaming.StreamingOps.hllWindowStream(
        graft.streaming.StreamingOps.readEvents(spark, staged), s"$tmp/log")
      val est = graft.streaming.StreamingOps.hllWindowResolve(spark, s"$tmp/log")
      val exact = t(spark, dir, "events")
        .select((expr("ts div 3600000000000") * 3600).as("window_start"), col("user_id"))
        .groupBy("window_start").agg(countDistinct(col("user_id")).as("exact_users"))
      est.join(exact, "window_start")
        .select(col("window_start"), col("occupied"),
          col("est_distinct").as("est_users"), col("exact_users"),
          floor(abs(col("est_distinct") - col("exact_users")) /
            col("exact_users") * 10000).cast("long").as("err_bp"))
    }

  /** Streaming cohort retention (EV21): per-micro-batch distinct
    * (user, week) pairs appended to an activity log (bounded by
    * users x weeks, not events), resolved into ev17's triangle at read
    * — exact under any batch boundaries because activity union and the
    * cohort min are both associative. Shares ev17's oracle.
    */
  def ev21_stream_retention(spark: SparkSession, dir: String): DataFrame =
    withStagedTable(spark, dir, "events.parquet", "ev21_stream") { staged =>
      val tmp = java.nio.file.Files.createTempDirectory("ev21_log").toString
      graft.streaming.StreamingOps.retentionLogStream(
        graft.streaming.StreamingOps.readEvents(spark, staged), s"$tmp/log")
      graft.streaming.StreamingOps.retentionResolve(spark, s"$tmp/log")
    }

  /** Streaming windowed heavy hitters (EV20): per-micro-batch Count-Min
    * counter matrices appended to a log (the frequency twin of ev15's
    * register log), resolved by addition at read — batch-boundary
    * invariant because counter sum is associative, so the oracle is the
    * plain batch CMS pipeline per hour window. Top-5 users per window
    * with exact counts and the overestimate gap alongside.
    */
  def ev20_stream_heavy_hitters(spark: SparkSession, dir: String): DataFrame =
    withStagedTable(spark, dir, "events.parquet", "ev20_stream") { staged =>
      val tmp = java.nio.file.Files.createTempDirectory("ev20_log").toString
      graft.streaming.StreamingOps.cmsWindowStream(
        graft.streaming.StreamingOps.readEvents(spark, staged), s"$tmp/log")
      graft.streaming.StreamingOps.cmsWindowTopUsers(
        spark, s"$tmp/log", t(spark, dir, "events"), k = 5)
    }

  /** Streaming histogram quantiles (EV22): per-micro-batch log-histogram
    * bins appended (the quantile member of the merge-on-read sketch
    * family — registers max, counters add, bins add), resolved into
    * t22's exact report at read. Shares t22's oracle.
    */
  def ev22_stream_hist_quantiles(spark: SparkSession, dir: String): DataFrame =
    withStagedTable(spark, dir, "documents.parquet", "ev22_stream") { staged =>
      val tmp = java.nio.file.Files.createTempDirectory("ev22_log").toString
      graft.streaming.StreamingOps.histLogStream(
        graft.streaming.StreamingOps.readDocuments(spark, staged), s"$tmp/log")
      graft.streaming.StreamingOps.histLogResolve(
        spark, s"$tmp/log", Seq(10, 50, 90, 99))
    }

  /** Composed cleaning pipeline: exact dedup -> contamination cut ->
    * quality gate -> language gate, one declarative plan.
    */
  def c1_clean_corpus(spark: SparkSession, dir: String): DataFrame =
    Pipeline.cleanCorpus(t(spark, dir, "documents"), "doc_id", "text")

  /** ANN recall@20 of the hyperplane-LSH probe vs exact top-k. */
  def e6_ann_recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val exact = SimilaritySearch.topK(emb, "vec_id", "embedding", query, k = 20)
    val ann = SimilaritySearch.annTopK(emb, "vec_id", "embedding",
      dim = query.length, query = query, k = 20, nBits = 4, nProbes = 4)
    SimilaritySearch.recallAt(exact, ann, "vec_id", k = 20)
  }

  /** Recall@20 of the PQ ADC ranking (e11) vs the exact top-20 — the
    * compressed-ranker twin of e6. e11's hash gate proves the ADC math
    * matches the oracle's identical model, but a PQ with a degenerate
    * codebook would still hash-match its own oracle; this row records
    * ranking fidelity against the uncompressed truth.
    */
  def e14_pq_recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val exact = SimilaritySearch.topK(emb, "vec_id", "embedding", query, k = 20)
    val cb = SimilaritySearch.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 16, seedIds = 1L to 16L)
    val pq = SimilaritySearch.pqTopK(emb, "vec_id", "embedding", cb, query, k = 20)
    SimilaritySearch.recallAt(exact, pq, "vec_id", k = 20)
  }

  /** Recall@20 of IVF-PQ (e13) vs the exact top-20: cell pruning AND
    * residual-code quantization both cost recall; this is the number a
    * serving deployment tunes nProbe against.
    */
  def e15_ivfpq_recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val cent = emb.where(col("vec_id").between(1, 8))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    val cb = SimilaritySearch.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 16, seedIds = 1L to 16L)
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val exact = SimilaritySearch.topK(emb, "vec_id", "embedding", query, k = 20)
    val ivfpq = SimilaritySearch.ivfPqTopK(emb, "vec_id", "embedding", cent, cb,
      query, k = 20, nProbe = 2)
    SimilaritySearch.recallAt(exact, ivfpq, "vec_id", k = 20)
  }

  /** Batched multi-query ANN (E9): top-10 for three query vectors in one
    * plan — one corpus scan serves the whole query batch; per-query
    * ranking via the bounded typed top-K agg (no per-query window, no
    * global sort). 4-bit LSH with 4-probe, as e6 measures.
    */
  def e9_batch_ann(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    SimilaritySearch.batchAnnTopK(emb, "vec_id", "embedding",
      dim = 64, queries = queries, k = 10, nBits = 4, nProbes = 4)
  }

  /** One distributed Lloyd step refining the e4 IVF centroids. */
  def e5_kmeans_step(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val cent = emb.where(col("vec_id").between(1, 8))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    SimilaritySearch.kmeansStep(emb, "vec_id", "embedding", cent)
  }

  /** Full Lloyd TRAINING loop (3 rounds from the e5 init): per-round
    * means are rounded to 6 decimals, which pins the whole trajectory
    * cross-engine — the oracle unrolls the identical 3 rounds in SQL.
    * The corpus never leaves the cluster; only the K×D centroid table
    * does, once per round.
    */
  def e10_kmeans_train(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val init = emb.where(col("vec_id").between(1, 8))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    SimilaritySearch.kmeansTrain(emb, "vec_id", "embedding", init, iters = 3)
  }

  /** PQ (product quantization) top-k: 8 subspaces × 16 data-drawn
    * centroids (vec_id 1..16's subvectors), codes = 8 small ints per
    * vector (the 32x-compressed serving format), ranking by asymmetric
    * distance — the query stays exact, corpus rows cost 8 table lookups
    * over their codes; no float vectors read at ranking time.
    */
  def e11_pq_topk(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val cb = SimilaritySearch.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 16, seedIds = 1L to 16L)
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    SimilaritySearch.pqTopK(emb, "vec_id", "embedding", cb, query, k = 20)
  }

  /** Streaming ANN serving (the stream twin of e9): query vectors
    * (vec_id % 100 = 7) arrive as a micro-batch stream; each batch
    * probes the bucketed corpus written once by writeBucketed —
    * partition-pruned to the batch's probe buckets — and appends its
    * per-query top-10 (nBits=4, 4 probes, e9's parameters). Per-query
    * results are independent ⇒ batch-boundary invariant ⇒ the oracle
    * is e9's batch rule over the streamed query set; multi-batch
    * serving evidence lives in StreamingAnnSpec.
    */
  def ev12_stream_ann(spark: SparkSession, dir: String): DataFrame =
    withStagedTable(spark, dir, "embeddings.parquet", "ev12_stream") { staged =>
      val tmp = java.nio.file.Files.createTempDirectory("ev12_idx").toString
      SimilaritySearch.writeBucketed(t(spark, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, path = s"$tmp/corpus", nBits = 4)
      val queries = graft.streaming.StreamingOps.readEmbeddings(spark, staged)
        .where(col("vec_id") % 100 === 7)
      graft.streaming.StreamingOps.annServeStream(
        queries, "vec_id", "embedding", s"$tmp/corpus", s"$tmp/out",
        dim = 64, k = 10, nBits = 4, nProbes = 4)
      spark.read.parquet(s"$tmp/out")
    }

  /** ev12 on the production sizing (the e12_prod convention): the
    * serving index is written with `targetOccupancy` so [[SimilaritySearch
    * .autoBits]] sets the width from the corpus, persists it with the
    * index, and the per-batch probe reads it back — per-query work is a
    * constant candidate COUNT (nProbes x occupancy), not a constant
    * corpus FRACTION. The fixed-4-bit flavor above stays the
    * correctness row (its oracle inlines the 4-bit planes); the bench
    * times this flavor, which is the one that survives the sf100 leg —
    * at 4 bits every query scanned 1/16 of a millions-vector corpus
    * and the probe sort spilled past the disk.
    */
  def ev12_stream_ann_prod(spark: SparkSession, dir: String): DataFrame =
    withStagedTable(spark, dir, "embeddings.parquet", "ev12_stream") { staged =>
      val tmp = java.nio.file.Files.createTempDirectory("ev12_idx").toString
      SimilaritySearch.writeBucketed(t(spark, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, path = s"$tmp/corpus",
        targetOccupancy = 125L)
      val queries = graft.streaming.StreamingOps.readEmbeddings(spark, staged)
        .where(col("vec_id") % 100 === 7)
      graft.streaming.StreamingOps.annServeStream(
        queries, "vec_id", "embedding", s"$tmp/corpus", s"$tmp/out",
        dim = 64, k = 10, nProbes = 4)
      spark.read.parquet(s"$tmp/out")
    }

  /** Streaming CDC ingest (the merge-on-read twin of c13): the same
    * change batch arrives as a stream; each micro-batch's per-key
    * winners are appended to a delta log (the base is NEVER rewritten
    * per batch), and the result is the read-time resolve
    * `Merge.upsert(base, log)`. Winner-picking is an argmax, so the
    * snapshot is identical whether the changes land in one micro-batch
    * or fifty — ev13 shares c13's oracle; multi-batch state evidence
    * lives in the spec.
    */
  def ev13_stream_cdc_upsert(spark: SparkSession, dir: String): DataFrame =
    withStagedTable(spark, dir, "documents.parquet", "ev13_stream") { staged =>
      val tmp = java.nio.file.Files.createTempDirectory("ev13_log").toString
      val changes = docChanges(
        graft.streaming.StreamingOps.readDocuments(spark, staged))
      graft.streaming.StreamingOps.cdcUpsertStream(
        changes, "doc_id",
        Seq("doc_id", "text", "lang", "source", "n_chars"), s"$tmp/log")
      Merge.upsert(
        t(spark, dir, "documents").where(col("doc_id") % 4 =!= 3),
        spark.read.parquet(s"$tmp/log"), "doc_id")
    }

  /** Audio near-dup via acoustic fingerprint (M9): decode the WAV
    * corpus (97 content keys × 4 variants; a variant perturbs one
    * energy window), energy-delta fingerprint per doc, then the
    * COLLAPSED near-dup contract (m8's lesson applied from day 1):
    * weighted rows per distinct-fingerprint relationship, pigeonhole
    * chunk candidates, exact Hamming verify. The oracle rebuilds
    * samples → energies → fingerprints closed-form, then brute-forces
    * pairs over the ~400 distinct fingerprints.
    */
  def m9_audio_neardup(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioNearDupCollapsed(
      Multimodal.audioFingerprint(
        Multimodal.attachSynthWavFp(
          t(spark, dir, "documents").select("doc_id"), "doc_id"),
        "doc_id").toDF())

  /** Streaming ingest quality gate (EV14): c1's per-document quality
    * gates + language tag applied at the door of a document stream —
    * stateless narrow Columns, so output is batch-boundary invariant
    * and the oracle is the plain batch SQL of the same gates.
    */
  def ev14_stream_quality_gate(spark: SparkSession, dir: String): DataFrame =
    withStagedTable(spark, dir, "documents.parquet", "ev14_stream") { staged =>
      val gated = graft.streaming.StreamingOps.qualityGateStream(
        graft.streaming.StreamingOps.readDocuments(spark, staged))
      val name = "ev14_" + java.lang.Long.toHexString(System.nanoTime())
      val q = gated.writeStream
        .outputMode("append").format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
      spark.table(name)
    }

  // ---- multimodal plumbing (M1) ----------------------------------------

  /** Real header-parse metadata (M1): a mixed binary corpus — a quarter
    * each real PNGs (deterministic dims 8+id%9 x 8+id%7), real WAVs
    * (mono 8 kHz, 64+id%33 frames), minimal MP4s (mvhd timescale 600,
    * duration 600+id%2401), and raw text bytes — through the declarative
    * header parser. The oracle carries the closed-form truth for every
    * header field, so a green hash proves the Column expressions read
    * the actual IHDR/fmt/mvhd bytes the writers emitted (and that
    * unknown containers null out rather than fabricate).
    */
  def m1_multimodal_meta(spark: SparkSession, dir: String): DataFrame = {
    val mk = udf { (id: Long) =>
      java.lang.Math.floorMod(id, 4L) match {
        case 0L => Multimodal.synthPng(id)
        case 1L => Multimodal.synthWav(id)
        case 2L => Multimodal.synthMp4(id)
        case _  => ("text:" + id).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
    }
    Multimodal.extractMeta(
      t(spark, dir, "documents").withColumn("payload", mk(col("doc_id").cast("long"))))
      .select("doc_id", "container", "width", "height", "channels", "sample_rate",
        "n_frames", "timescale", "duration_ts")
  }

  /** Modality-aware context packing (M11): media costs parsed from the
    * REAL payload headers (extractMeta), text costs from token count,
    * then the c3 streaming-pack rule. Same synth-payload fixture as m1.
    */
  def m11_multimodal_pack(spark: SparkSession, dir: String): DataFrame = {
    val mk = udf { (id: Long) =>
      java.lang.Math.floorMod(id, 4L) match {
        case 0L => Multimodal.synthPng(id)
        case 1L => Multimodal.synthWav(id)
        case 2L => Multimodal.synthMp4(id)
        case _  => ("text:" + id).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
    }
    Multimodal.packMultimodal(
      t(spark, dir, "documents").withColumn("payload", mk(col("doc_id").cast("long"))),
      "doc_id", "text", "payload", budgetTokens = 256L, shards = 8)
  }

  /** Frame sampling + per-frame fingerprint: the explode-shaped video
    * plumbing (every 4th frame, frame payload = its slice of the media
    * bytes; the md5 stands where a per-frame decode would run in the
    * same narrow stage).
    */
  def m2_frame_sample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      // frame math in CHARACTERS on both sides: extractMeta's n_bytes is
      // a byte count, but substring slices characters — a multi-byte
      // document would misalign frames and diverge from the oracle
      t(spark, dir, "documents")
        .withColumn("n_chars", length(col("text")))
        .withColumn("n_frames", pmod(col("n_chars"), lit(16))),
      everyNth = 4)
      .withColumn("frame_size",
        greatest(floor(col("n_chars") / greatest(col("n_frames"), lit(1))), lit(1)))
      .select(
        col("doc_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        md5(expr("substring(text, frame_idx * frame_size + 1, frame_size)")).as("frame_fp"))

  /** Real MP4 frame table (M7): every document carries a synthetic but
    * REAL ISO BMFF container (ftyp/moov/mvhd + trak→…→stbl with
    * stsz/stco + mdat); the query parses the sample table out of the
    * payload bytes — box offsets chained from sizes read from the
    * payload, every tag verified — and fingerprints the exact frame
    * byte ranges stco/stsz point at. The oracle carries the writer's
    * closed-form TRUTH offsets and rebuilds the frame bytes, so a green
    * hash proves the declarative parse read the real sample table, not
    * synthesized frame math (m2's acknowledged stand-in).
    */
  def m7_mp4_frames(spark: SparkSession, dir: String): DataFrame = {
    val mk = udf((id: Long) => Multimodal.synthMp4(id))
    // shared walk with m13 ([[Multimodal.sharedFrameTable]]): whichever
    // of the two runs first in a session pays the stsz/stco pass; this
    // row projects the fingerprint columns, m13 reads the intensity
    Multimodal.sharedFrameTable(
      t(spark, dir, "documents").select(col("doc_id"))
        .withColumn("payload", mk(col("doc_id").cast("long"))),
      cacheKey = s"$dir|synthMp4")
      .select("doc_id", "frame_idx", "frame_off", "frame_size", "frame_fp")
  }

  /** Video near-dup via sampled-frame fingerprints (M10): the m4/m8
    * planted-duplicate scheme on the video surface — docs sharing
    * `doc_id % 97` carry byte-identical MP4s, so exact classes collapse
    * to one representative before the frame-fp inverted-index join;
    * cross-class pairs arise where the synthetic frame generator's
    * modular structure makes distinct videos genuinely share >= 2
    * frames. Real container parse (m7's stsz/stco walk) feeds it.
    */
  def m10_video_neardup(spark: SparkSession, dir: String): DataFrame = {
    val mk = udf((id: Long) => Multimodal.synthMp4(id))
    Multimodal.videoNearDupCollapsed(
      Multimodal.mp4FrameTable(
        t(spark, dir, "documents").select(col("doc_id"))
          .withColumn("payload", mk(pmod(col("doc_id"), lit(97L))))))
  }

  /** Real image decode end-to-end (M3): synthesize a deterministic PNG
    * per document (every sample a closed-form function of id/x/y/channel),
    * push it through the `javax.imageio` decode kernel, emit integer
    * pixel statistics of the DECODED raster. The oracle recomputes the
    * same statistics in closed form — green means the PNG encode→decode
    * round trip is bit-faithful, i.e. the decode is real, not length math.
    */
  def m3_image_decode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeBatch(
      Multimodal.attachSynthPng(t(spark, dir, "documents").select("doc_id"), "doc_id"),
      "doc_id")
      .toDF()

  /** The m4/m6/m8 image table: a synthetic PNG per document (docs
    * sharing `doc_id % 97` carry byte-identical images), decoded and
    * dHashed to (doc_id, dhash_hi, dhash_lo).
    */
  private def imageHashes(spark: SparkSession, dir: String): DataFrame =
    Multimodal.dHashBatch(
      Multimodal.attachSynthPng(
        t(spark, dir, "documents").select(col("doc_id"))
          .withColumn("img_id", pmod(col("doc_id"), lit(97L))),
        "img_id")
        .select(col("doc_id"), col("payload")),
      "doc_id")
      .toDF()

  /** Multimodal near-dup dedup (M4): perceptual dHash over genuinely
    * decoded pixels, then group-by-hash to elect a keeper. Docs sharing
    * `doc_id % 97` carry byte-identical PNGs, so the fixture has real
    * collision groups (~5 docs each at sf0.01); `dup_group` is the min
    * doc_id sharing the 64-bit hash. One narrow decode+hash stage, one
    * exchange on the 8-byte hash key for the window — no self-join.
    */
  def m4_image_dhash(spark: SparkSession, dir: String): DataFrame =
    imageHashes(spark, dir)
      .withColumn("dup_group",
        min(col("doc_id")).over(Window.partitionBy("dhash_hi", "dhash_lo")))

  /** Image near-dup pairs (M6): dHash over decoded rasters, 16-bit-chunk
    * pigeonhole LSH candidates, exact Hamming verify <= 3 — the SimHash
    * dedup scheme on the multimodal surface. Fixture collision groups via
    * doc_id % 97 give real distance-0 pairs.
    *
    * CATALOG DECISION (r15): stays as the family's oracle anchor —
    * the exact pair set m8's scaled flavor is judged against — with
    * the declared pairwise contract unchanged: benched through sf1,
    * skipped-with-record on >= sf10 legs where m8 is the canonical
    * scale row. See [[e3_embedding_dedup]] for the rationale.
    */
  def m6_image_neardup(spark: SparkSession, dir: String): DataFrame =
    Multimodal.dHashNearDupPairs(imageHashes(spark, dir), maxHamming = 3)

  /** Collapsed image near-dup (M8): m6's scale path. Exact-dup clusters
    * collapse to (rep, count) BEFORE pair enumeration, so output and
    * candidate volume track DISTINCT image identities — linear where
    * m6's pairwise contract is Ω(Σ n²) on duplicate-heavy corpora (the
    * sf1 step-up measured m6 output-bound at 27.6×; this form stays
    * flat). The e3→e12 pattern on the multimodal surface.
    */
  def m8_image_neardup_scaled(spark: SparkSession, dir: String): DataFrame =
    Multimodal.dHashNearDupScaled(imageHashes(spark, dir), maxHamming = 3)

  /** Real audio decode end-to-end (M5): deterministic 16-bit PCM WAV per
    * document through the real `javax.sound.sampled` WAVE writer, decoded
    * by the same JDK stack, integer sample statistics of the DECODED
    * frames against a closed-form oracle — the audio twin of m3.
    */
  def m5_audio_decode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAudioBatch(
      Multimodal.attachSynthWav(t(spark, dir, "documents").select("doc_id"), "doc_id"),
      "doc_id")
      .toDF()

  // ---- sessionization (EV2) --------------------------------------------

  /** Gap-based sessionization (30 min) over the events stream table —
    * the batch shape of the streaming session operator; window-function
    * oracle in DuckDB.
    */
  def ev2_sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val newSession = when(
      col("ts") - lag(col("ts"), 1).over(w) > 1800000000000L, 1
    ).otherwise(when(lag(col("ts"), 1).over(w).isNull, 1).otherwise(0))
    t(spark, dir, "events")
      .withColumn("new_s", newSession)
      .withColumn("session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"))
  }

  /** t-digest quantile accuracy (T27): per-source digests of n_chars at
    * δ=200, probed at q ∈ {25,50,75,95,99}. The digest itself is not
    * cross-engine replayable (centroid placement is merge-order-
    * dependent), so the gate row carries what IS invariant: the exact
    * interpolated quantile (t10's percentile semantics, replayable) and
    * the k1 rank-error CONTRACT — the tie-robust achieved-rank interval
    * [count(v<est), count(v<=est)] of the digest estimate must
    * intersect the ±100 bp band around q. The estimate's value lives in
    * the spec; a digest whose rank error exceeds 1% flips the boolean
    * and hash-fails the gate.
    */
  def t27_tdigest_quantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
      .select(col("source"), col("n_chars").cast("double").as("v"))
    val td = udaf(new graft.operators.TDigestAgg(200))
    val qs = Seq(25, 50, 75, 95, 99)
    val dig = docs.groupBy("source").agg(
      td(col("v")).as("td"), count(lit(1)).as("n_docs"),
      expr(s"percentile(v, array(${qs.map(_ / 100.0).mkString("D,")}D))").as("ex"))
    val quant = udf((m: Seq[Double], w: Seq[Long], q: Int) =>
      graft.operators.TDigest.quantile(m, w, q / 100.0))
    val est = dig
      .crossJoin(broadcast(qs.zipWithIndex.toDF("q_pct", "qi")))
      .select(col("source"), col("n_docs"), col("q_pct"),
        round(element_at(col("ex"), col("qi") + 1), 4).as("exact_value"),
        quant(col("td.means"), col("td.weights"), col("q_pct")).as("est"))
    docs.join(broadcast(est), "source")
      .groupBy("source", "q_pct", "n_docs", "exact_value", "est")
      .agg(sum(when(col("v") < col("est"), 1L).otherwise(0L)).as("r_lo"),
        sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("r_hi"))
      .select(col("source"), col("q_pct"), col("n_docs"), col("exact_value"),
        (col("r_lo") * 100 <= (col("q_pct") + 1) * col("n_docs") &&
          col("r_hi") * 100 >= (col("q_pct") - 1) * col("n_docs"))
          .as("within_100bp"))
  }

  /** PSI distribution drift (EV24): each day window's event-value
    * distribution (log-histogram over value cents) scored against the
    * pooled 30-day reference — per-window PSI in exact 1e-8 units
    * ([[Sketch.psiDrift]]). The whole report runs on sketch state:
    * |windows| x |bins| cells.
    */
  def ev24_psi_drift(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select(
      expr("ts div 86400000000000").as("wnd"),
      floor(col("value") * 100).cast("long").as("cents"))
    // psiDrift references the window-bin table 3x (left join side,
    // per-window totals, pooled reference) and each reference re-ran
    // the full events scan + hist agg. The bin table is SKETCH state —
    // bounded by |windows| x |bins|, never events — so materialize it
    // once (fingerprint-once, guide §8): one corpus pass instead of 3.
    val winBins = Sketch.histBins(ev, "wnd", "cents").localCheckpoint()
    Sketch.psiDrift(winBins, Sketch.histMerge(winBins, "__ref"))
  }

  /** EV24 through Structured Streaming (EV25): per micro-batch the
    * day-window histograms append to a bin log; read-time resolve folds
    * the log and scores PSI vs the pooled reference. Bin counts add, so
    * the result is bit-identical to ev24 whatever the batch boundaries —
    * shares ev24's oracle.
    */
  def ev25_stream_psi_drift(spark: SparkSession, dir: String): DataFrame =
    withStagedEvents(spark, dir, "ev25_stream") { staged =>
      val tmp = java.nio.file.Files.createTempDirectory("ev25_log").toString
      graft.streaming.StreamingOps.psiLogStream(
        graft.streaming.StreamingOps.readEvents(spark, staged), s"$tmp/log")
      graft.streaming.StreamingOps.psiLogResolve(spark, s"$tmp/log")
    }

  /** Numeric band join (J11): customer×supplier pairs within ±$10 of
    * account balance, in exact cents — the inequality-only join shape
    * Catalyst would nested-loop, rewritten to a 3-bucket equi-join +
    * exact verify ([[BandJoin]]). The smaller (supplier) side triples.
    * (±$10 so even the sf0.001 smoke fixture yields pairs; output is
    * C·S·(2ε/range) — band width only scales the constant.)
    */
  def j11_band_join(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select(col("c_custkey"),
      floor(col("c_acctbal") * 100).cast("long").as("c_cents"))
    val s = t(spark, dir, "supplier").select(col("s_suppkey"),
      floor(col("s_acctbal") * 100).cast("long").as("s_cents"))
    BandJoin.bandJoin(s, c, "s_cents", "c_cents", eps = 1000L)
      .select(col("c_custkey"), col("s_suppkey"),
        (col("c_cents") - col("s_cents")).as("diff_cents"))
  }

  /** SCD-2 history build (C19): the c13 CDC fixture replayed as
    * validity intervals instead of a latest-wins snapshot
    * ([[Merge.scd2History]]) — base opens at version 0, updates close
    * and reopen, tombstones only close; `is_current` slice == c13.
    */
  def c19_scd2_history(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Merge.scd2History(docs.where(col("doc_id") % 4 =!= 3), docChanges(docs),
      "doc_id")
  }

  /** Energy-run audio segmentation (M12): decode the synthetic WAVs,
    * split each into 16-sample frames, keep frames louder than the file
    * mean, merge runs into segments — all-integer
    * ([[Multimodal.audioSegments]]), so the closed-form fixture replays
    * exactly in the oracle.
    */
  def m12_audio_segments(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioSegments(
      Multimodal.attachSynthWav(t(spark, dir, "documents").select("doc_id"), "doc_id"),
      "doc_id")

  /** Trailing-window z-score anomaly flags (EV26): per event type the
    * daily event-count series, each day scored against its trailing
    * 7-day window entirely in long arithmetic
    * ([[Anomaly.zscoreFlags]]) — the |z| > 2 flag is a cross-multiplied
    * integer inequality, so it replays bit-identically in the oracle.
    * One partial+final count to the series, one window over series rows.
    */
  def ev26_zscore_anomaly(spark: SparkSession, dir: String): DataFrame =
    Anomaly.zscoreFlags(
      t(spark, dir, "events")
        .select(col("event_type"), expr("ts div 86400000000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt")),
      "event_type", "day", "cnt")

  /** EV26 through Structured Streaming (EV27): per micro-batch the
    * (event_type, day) counts append to a log; read-time resolve folds
    * by addition and runs the same integer z-score window. Counts add,
    * so the flags are bit-identical to ev26 whatever the batch
    * boundaries — shares ev26's oracle.
    */
  def ev27_stream_zscore(spark: SparkSession, dir: String): DataFrame =
    withStagedEvents(spark, dir, "ev27_stream") { staged =>
      val tmp = java.nio.file.Files.createTempDirectory("ev27_log").toString
      graft.streaming.StreamingOps.dailyCountLogStream(
        graft.streaming.StreamingOps.readEvents(spark, staged), s"$tmp/log")
      graft.streaming.StreamingOps.zscoreLogResolve(spark, s"$tmp/log")
    }

  /** Unicode NFC normalization (T28): the mandatory pre-hash pass —
    * é-as-two-codepoints and é-as-one must fingerprint identically.
    * The fixture decomposes deterministically (every 'e' gains a
    * combining acute U+0301), the engine's codegen'd
    * [[graft.functions.NfcNormalize]] recomposes, and the md5 of the
    * recomposed text cross-checks Java's normalizer against DuckDB's
    * utf8proc — both implement UAX #15, so the bytes must agree.
    */
  def t28_nfc_normalize(spark: SparkSession, dir: String): DataFrame = {
    val deco = replace(col("text"), lit("e"), lit("e\u0301"))
    t(spark, dir, "documents")
      .select(col("doc_id"), deco.as("deco"))
      .select(col("doc_id"),
        length(col("deco")).cast("long").as("len_decomposed"),
        length(graft.functions.NativeExpressions.nfc_normalize(col("deco")))
          .cast("long").as("len_nfc"),
        md5(graft.functions.NativeExpressions.nfc_normalize(col("deco")))
          .as("fp"))
      .withColumn("n_composed", col("len_decomposed") - col("len_nfc"))
  }

  /** Video scene segmentation (M13): shot boundaries from the m7 frame
    * table — per-frame brightness summed from the frame's ACTUAL bytes
    * (one hex pass, decoder-free), cuts where consecutive mean byte
    * levels differ by more than 3/2 in exact long arithmetic, runs
    * between cuts grouped into segments ([[Multimodal.videoSceneCuts]]).
    * The oracle replays the fixture writer's closed-form frame bytes.
    */
  def m13_scene_cuts(spark: SparkSession, dir: String): DataFrame = {
    val mk = udf((id: Long) => Multimodal.synthMp4(id))
    Multimodal.videoSceneCuts(
      t(spark, dir, "documents").select(col("doc_id"))
        .withColumn("payload", mk(col("doc_id").cast("long"))),
      cacheKey = s"$dir|synthMp4")
  }

  /** T27 through Structured Streaming (EV28): per micro-batch each
    * source's documents fold into a partial t-digest whose centroid
    * state appends to a log; read-time resolve merges the partials
    * (concat + k1 recompress — digests are mergeable state). Centroid
    * BITS are merge-order-dependent, but the rank-error CONTRACT the
    * t27-shaped gate row checks is not — so the streamed report equals
    * the batch one whatever the batch boundaries. Shares t27's oracle.
    */
  def ev28_stream_tdigest(spark: SparkSession, dir: String): DataFrame =
    withStagedTable(spark, dir, "documents.parquet", "ev28_stream") { staged =>
      val tmp = java.nio.file.Files.createTempDirectory("ev28_log").toString
      graft.streaming.StreamingOps.tdigestLogStream(
        graft.streaming.StreamingOps.readDocuments(spark, staged), s"$tmp/log")
      graft.operators.TDigest.quantileReport(
        t(spark, dir, "documents")
          .select(col("source"), col("n_chars").cast("double").as("v")),
        graft.streaming.StreamingOps.tdigestLogResolve(spark, s"$tmp/log"))
    }

  /** Cube with grouping flags (A9): the full grouping-sets lattice over
    * (lang, source) — a8's rollup plus the cross slices — with
    * `grouping()` flags disambiguating data NULLs from rolled-up rows.
    * One expand + one hash aggregate; partial+final as any groupBy.
    */
  def a9_cube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .cube("lang", "source")
      .agg(grouping(col("lang")).cast("long").as("g_lang"),
        grouping(col("source")).cast("long").as("g_src"),
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  /** Filtered vector search (E18): e9's batched multi-probe ANN with a
    * metadata predicate (label ≡ 1 mod 3) applied to the CORPUS side
    * before the bucket join — pre-filtering, the plan every vector
    * store needs when the predicate is selective: the filter prunes at
    * the scan (no distance computed for excluded vectors) and the
    * bucket probe serves only survivors. Queries come from the
    * unfiltered table (a query need not satisfy its own filter).
    */
  def e18_filtered_ann(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    SimilaritySearch.filteredBatchAnnTopK(
      emb, "vec_id", "embedding",
      dim = 64, queries = queries, k = 10,
      pred = pmod(col("label"), lit(3)) === 1, nBits = 4, np0 = 4)
  }

  /** Recall@20 of the FILTERED probe (E19): e6's recall artifact with
    * the e18 corpus predicate on both sides — exact truth and the
    * multi-probe shortlist restricted to the same survivor set —
    * recording that pre-filtering costs the probe no recall (the
    * filter prunes candidates and truth identically).
    */
  def e19_filtered_recall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val pred = pmod(col("label"), lit(3)) === 1
    val exact = SimilaritySearch.topK(emb.where(pred), "vec_id", "embedding",
      query, k = 20)
    val ann = SimilaritySearch.filteredAnnTopK(emb, "vec_id", "embedding",
      dim = query.length, query = query, k = 20, pred = pred,
      nBits = 4, np0 = 4)
    SimilaritySearch.recallAt(exact, ann, "vec_id", k = 20)
  }

  /** Time-travel read (C21): the corpus AS OF version 1 — fold only the
    * log prefix `version <= 1` over the base ([[Merge.upsert]] on the
    * filtered c13 log: v1 updates and inserts apply; v2 tombstones and
    * re-updates do not exist yet). c16 answers the aggregate timeline
    * without snapshots; this row materializes one historical snapshot
    * exactly — together they are the two read paths of a versioned lake.
    */
  def c21_time_travel(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Merge.upsert(docs.where(col("doc_id") % 4 =!= 3),
      docChanges(docs).where(col("version") <= 1), "doc_id")
  }

  /** Z-order key (C22): the Morton interleave of (user bucket, day) —
    * the space-filling-curve key behind two-dimensional data clustering
    * ([[graft.functions.ZInterleave]], codegen'd bit-twiddle; layout +
    * locality audit in [[Layout.zorder]], spec-gated: the curve's
    * per-partition bounding boxes beat a hash layout's by >2x). The
    * gate row pins the key math bit-for-bit against a per-bit oracle.
    */
  def c22_zorder_layout(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").select(
      col("event_id"),
      graft.functions.NativeExpressions.z_interleave(
        pmod(col("user_id"), lit(1048576L)),
        expr("ts div 86400000000000")).as("zval"))

  /** 3-D z-order key (C24): the variadic Morton interleave
    * ([[graft.functions.ZInterleaveN]], 21 bits per dimension at N = 3)
    * over (user bucket, day, event-type code) — the 3–4-column OPTIMIZE
    * ZORDER shape lakehouse tables actually run. ascii() of the type's
    * first character is the cross-engine integer code. The gate row pins
    * the N-dim key math bit-for-bit against a per-bit oracle; layout +
    * locality audit in [[Layout.zorderN]] (spec-gated volume audit).
    */
  def c24_zorder3_layout(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").select(
      col("event_id"),
      graft.functions.NativeExpressions.z_interleave_n(
        pmod(col("user_id"), lit(1048576L)),
        expr("ts div 86400000000000"),
        ascii(col("event_type")).cast("long")).as("zval"))

  /** Log vacuum (C23): which c13 delta-log entries can be deleted when
    * only the LATEST checkpoint (version 2) is retained — entries
    * winning at no retained version ([[Merge.vacuumLog]]: the
    * update-then-tombstone v1s and the insert-then-reupdate v1s);
    * replaying the vacuumed log reproduces the retained snapshot
    * exactly (spec-gated in MergeSpec, which also covers multi-version
    * retention and the future-entry guard). Completes the lake trio:
    * c21 reads history, c16 summarizes it, c23 expires it.
    */
  def c23_log_vacuum(spark: SparkSession, dir: String): DataFrame =
    Merge.vacuumLog(docChanges(t(spark, dir, "documents")), "doc_id",
      retained = Seq(2L))
      .select(col("doc_id"), col("op"), col("version"))
}
