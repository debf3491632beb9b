package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines. Exact dedup is a
  * hash-groupBy; near-dup detection builds shingle sets and self-joins on
  * shared shingles (the inverted-index pattern) so the shuffle is keyed on
  * shingle, never a cartesian pairwise compare — the property that keeps
  * it viable at 100 TB.
  */
object Dedup {

  /** Exact duplicate groups by content fingerprint: one row per distinct
    * fingerprint with its multiplicity and the id to keep (min id —
    * deterministic, unlike dropDuplicates).
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** 60-bit content hash: the first 15 hex chars of md5(s) as a long.
    * Chosen over xxhash64 because any SQL engine reproduces it —
    * DuckDB: ('0x' || substring(md5(s), 1, 15))::BIGINT — so the
    * LSH families built on it (minhash, simhash) are oracle-checkable
    * end-to-end, not rows-only. Always positive (< 2^60).
    */
  // one digest per thread: getInstance per call would do a JCA provider
  // lookup + allocation inside the per-shingle/per-token hot loops
  @transient private lazy val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  private[graft] def md5Hash60(s: String): Long = {
    val d = md5Local.get()
    d.reset()
    md5LoOf(d.digest(s.getBytes("UTF-8")))
  }

  /** 60-bit xxhash64 (Spark's own XXH64, masked to 60 bits so the value
    * range matches [[md5Hash60]] and stays positive for the mod-prime
    * minhash arithmetic). ~10x cheaper than an MD5 digest per string —
    * the production hash family; md5 exists for DuckDB reproducibility.
    */
  private[graft] def xxHash60(s: String): Long = {
    val b = s.getBytes("UTF-8")
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L) &
      0x0fffffffffffffffL
  }

  /** Resolve a hash-family name: "xx64" (production, fast) or "md5"
    * (SQL-reproducible, the oracle-gate path). Both yield 60-bit
    * non-negative longs, so every consumer (minhash mod-prime, simhash
    * bit votes, LSH band keys) is family-agnostic.
    */
  private[graft] def hashFn(family: String): String => Long = family match {
    case "md5"  => md5Hash60
    case "xx64" => xxHash60
    case other  => throw new IllegalArgumentException(s"unknown hash family '$other'")
  }

  /** Second independent 60-bit word of the SAME digest families, for the
    * 120-bit simhash: md5 reuses one digest (hex chars 16-30 — DuckDB:
    * ('0x' || substring(md5(s), 16, 15))::BIGINT), xx64 re-seeds.
    */
  private[graft] def md5Hash60Hi(s: String): Long = {
    val d = md5Local.get()
    d.reset()
    md5HiOf(d.digest(s.getBytes("UTF-8")))
  }

  // hex chars 16..30: the low nibble of byte 7, then bytes 8..14
  private def md5HiOf(bytes: Array[Byte]): Long = {
    var v = bytes(7) & 0x0fL
    var i = 8
    while (i < 15) { v = (v << 8) | (bytes(i) & 0xffL); i += 1 }
    v
  }

  // hex chars 1..15: bytes 0..6, then the high nibble of byte 7
  private def md5LoOf(bytes: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (bytes(i) & 0xffL); i += 1 }
    (v << 4) | ((bytes(7) & 0xf0L) >> 4)
  }

  private[graft] def xxHash60Hi(s: String): Long = {
    val b = s.getBytes("UTF-8")
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 4242L) &
      0x0fffffffffffffffL
  }

  /** (lo, hi) 60-bit hash pair per value — 120 independent bits for the
    * wide simhash. One md5 digest serves both words; xx64 hashes twice
    * (two seeds), still ~5x cheaper than the md5 digest.
    */
  private[graft] def hashFn2(family: String): String => (Long, Long) = family match {
    case "md5" => s => {
      val d = md5Local.get()
      d.reset()
      val bytes = d.digest(s.getBytes("UTF-8"))
      (md5LoOf(bytes), md5HiOf(bytes))
    }
    case "xx64" => s => (xxHash60(s), xxHash60Hi(s))
    case other  => throw new IllegalArgumentException(s"unknown hash family '$other'")
  }

  /** Word n-gram (shingle) sets per document: distinct n-token shingles
    * from single-space tokenization. Documents with fewer than n tokens
    * are dropped.
    *
    * PERF: built by a kernel UDF, deliberately. The Column-expression
    * form (transform/sequence/concat_ws over split) has two pathologies:
    * higher-order lambdas run interpreted, and — much worse — a Generate
    * (explode) whose input is an inline expression re-evaluates that
    * expression per OUTPUT row: measured 4.3s vs 0.17s (~the shingle
    * fan-out, 52x) on the sf0.1 corpus. A UDF is opaque to that inlining
    * and evaluates once per document.
    */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val mk = udf((toks: Seq[String]) =>
      if (toks.length < n) Seq.empty[String]
      else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct)
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"), mk(col("toks")).as("shingles"))
  }

  /** Exploded shingle index (doc_id, g) and per-doc set sizes.
    *
    * PERF NOTE: the shingle array must be referenced exactly once, by the
    * explode — if `size(shingles)` rides alongside (or projections
    * collapse it into the Generate), Catalyst re-evaluates the whole
    * shingle-building expression per OUTPUT row (~50x the input count;
    * measured 25x slowdown). Set sizes are therefore recovered from the
    * exploded index (shingles are distinct, so count == set size).
    */
  private def shingleIndex(df: DataFrame, idCol: String, textCol: String, n: Int): (DataFrame, DataFrame) = {
    val ex = shingleSets(df, idCol, textCol, n)
      .select(col("doc_id"), explode(col("shingles")).as("g"))
    val nsh = ex.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    (ex, nsh)
  }

  /** Near-duplicate pairs by n-gram Jaccard similarity >= threshold.
    * Plan shape: explode shingles -> shuffle-join on shingle (inverted
    * index) -> count common shingles per pair -> Jaccard from set sizes.
    * Only pairs sharing >= 1 shingle are ever materialized.
    * Output: doc_a < doc_b, jaccard rounded to 4 places.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val (ex, nsh) = shingleIndex(df, idCol, textCol, n)
    val a = ex.alias("a")
    val b = ex.alias("b")
    a.join(b, col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"))
      .join(nsh.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(nsh.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
      .withColumn("jaccard_raw", col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .where(col("jaccard_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard_raw"), 4).as("jaccard"))
  }

  /** Exact near-dup pairs by n-gram Jaccard >= threshold, with prefix
    * filtering (AllPairs/Bayardo et al. 2007): under a global shingle
    * order (frequency asc, then lexical), any pair with J >= t must share
    * a shingle within each side's first (n - ceil(t*n) + 1) shingles — so
    * only those prefixes are indexed/joined, and candidates are verified
    * with an exact set intersection. Same output as ngramJaccardPairs,
    * but the inverted index shrinks from every shingle to the rare
    * prefix, which is what survives a corpus whose common shingles occur
    * in most documents.
    *
    * Crossover: when shingle document-frequencies are power-law (real
    * text corpora), sum(df^2) explodes and this wins by orders of
    * magnitude; when frequencies are uniform and sum(df^2) is modest
    * (e.g. the synthetic test corpus), ngramJaccardPairs' direct count
    * is cheaper because the candidate-verify probe re-walks the index.
    */
  def ngramJaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // The per-doc shingle table is referenced by THREE subtrees (the
    // exploded index and both verification sides), and the exploded
    // index again by two (freq agg + prefix join) — without a barrier
    // the tokenize+shingle UDF re-runs over the whole corpus once per
    // reference (4 passes total; OPTIMIZATION_r17.md change 3: ~45%
    // of the query at sf0.1).
    // Materialize it once: the fingerprint-once pattern (guide §8) —
    // at corpus scale this stores block-local shingle arrays instead of
    // re-tokenizing the corpus four times, the same trade g6 makes for
    // its cohort gVCF.
    val sets = graft.util.Barriers.corpusScale(shingleSets(df, idCol, textCol, n))
    // candidate generation runs on 8-byte xxhash64 gram keys, not gram
    // strings: every downstream exchange (freq agg, freq join, prefix
    // self-join) carries a long instead of an n-token string. Exact up
    // to a WITHIN-document 64-bit gram collision (~2^-64 per gram pair):
    // cross-document collisions merge df and can only ADD candidates
    // (verification recomputes true Jaccard from the string arrays), but
    // two distinct grams of the SAME document colliding would make n_sh
    // (string count) exceed the doc's distinct-key count, letting the
    // row-based prefix cover one fewer distinct key than the AllPairs
    // bound assumes. Astronomically unlikely; dedupe keys per doc and
    // compute n_sh on distinct keys if 2^-64 ever matters.
    val ex = sets.select(col("doc_id"), explode(col("shingles")).as("gs"))
      .select(col("doc_id"), xxhash64(col("gs")).as("g"))

    // global shingle frequency -> total order (freq asc, key asc).
    // The set size rides the SAME doc_id window shuffle as the rank
    // (count over the unordered frame) — no separate groupBy+join pass;
    // the freq side stays a shuffle join declaratively (AQE broadcasts
    // it at runtime when small; at 100 TB the distinct-shingle table is
    // not broadcastable).
    val freq = ex.groupBy("g").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("g"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    // ceil(t·n) with a −1e-7 guard: at t where t·n is an exact integer
    // under real arithmetic, binary rounding can land a hair HIGH
    // (5·0.8 → 4.000000000000001, ceil 5) and shrink the prefix below
    // the AllPairs bound — a J = t exactly pair then has no guaranteed
    // prefix collision (same float-boundary family as the containment
    // probe fix; catalog's t=0.5 is exact in binary, other thresholds
    // are not). Guarded-low ceil only lengthens the prefix: more
    // candidates, identical verified output.
    val prefix = ex.join(freq, "g")
      .withColumn("rank", row_number().over(w))
      .withColumn("n_sh", count(lit(1)).over(wAll))
      .where(col("rank") <= col("n_sh") - ceil(col("n_sh") * threshold - 1e-7) + 1)
      .select(col("doc_id"), col("g"), col("n_sh"), col("rank"))

    // candidates: prefix-to-prefix collisions, pruned by the AllPairs
    // length filter — J(A,B) >= t forces |common| >= t/(1+t)·(|A|+|B|)
    // and |common| <= min(|A|,|B|), hence min >= t·max: a 40-shingle doc
    // can never reach J >= 0.5 against a 200-shingle doc, so the pair
    // never leaves the join (real corpora are length-diverse; this is
    // free insurance the uniform synthetic corpus doesn't exercise) —
    // AND by the ppjoin positional filter (Xiao et al. 2008): both
    // sides' grams are sorted by the same global order, so the common
    // grams of a pair appear in the same relative order in both docs
    // and overlap <= 1 + min(na − ra, nb − rb) at any common gram at
    // ranks (ra, rb). J >= t needs overlap >= t/(1+t)·(na+nb); a
    // collision whose positional bound cannot reach that is pruned
    // BEFORE the distinct and the verify join. Exact: for a true pair
    // the FIRST common gram (the one AllPairs guarantees inside both
    // prefixes) always satisfies the bound, so at least one collision
    // row survives per true pair. −1e-7 on the ceil: guarded LOW so
    // binary rounding can only weaken the filter, never cut a J = t
    // exact pair (same float-boundary family as the prefix length).
    val alpha = ceil(
      (col("pa.n_sh") + col("pb.n_sh")) * lit(threshold / (1.0 + threshold)) - 1e-7)
    val cand = prefix.alias("pa")
      .join(prefix.alias("pb"),
        col("pa.g") === col("pb.g") && col("pa.doc_id") < col("pb.doc_id") &&
          least(col("pa.n_sh"), col("pb.n_sh")) >=
            // −1e-7: min = t·max exactly is a VALID pair (|A|=4, |B|=5,
            // t=0.8, common=4 ⇒ J=0.8) and 0.8·5 rounds to 4.0000…04
            lit(threshold) * greatest(col("pa.n_sh"), col("pb.n_sh")) - 1e-7 &&
          lit(1) + least(col("pa.n_sh") - col("pa.rank"),
            col("pb.n_sh") - col("pb.rank")) >= alpha)
      .select(col("pa.doc_id").as("doc_a"), col("pb.doc_id").as("doc_b"))
      .distinct()

    // exact verification: join the (small) candidate set against the
    // per-doc shingle ARRAYS and intersect in one pass per pair — the
    // candidate side broadcasts, so verification shuffles nothing the
    // size of the corpus (vs re-walking the exploded inverted index,
    // two corpus-sized shuffles)
    val sa = sets.select(col("doc_id").as("doc_a"), col("shingles").as("sa"))
    val sb = sets.select(col("doc_id").as("doc_b"), col("shingles").as("sb"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard_raw",
        col("common").cast("double") / (size(col("sa")) + size(col("sb")) - col("common")))
      .where(col("jaccard_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard_raw"), 4).as("jaccard"))
  }

  /** ASYMMETRIC near-dup: n-gram containment C(A,B) = |A∩B| / |A| ≥
    * threshold — "A is (mostly) inside B". Jaccard misses exactly this
    * case: a paragraph quoted whole inside a 100× larger document has
    * J ≈ 0.01 but C = 1.0, and subsumed docs (quotes, excerpts,
    * versioned supersets, boilerplate-wrapped copies) are what a corpus
    * cleaner wants to drop while KEEPING the container. Output is
    * directed: (doc_a contained-in doc_b, containment), both directions
    * possible, a ≠ b.
    *
    * Scale shape — the asymmetric AllPairs prefix bound (Agrawal et al.
    * sketch-free flavor): C ≥ t ⇒ |A∖B| ≤ (1−t)·|A|, so ANY
    * ⌊(1−t)·|A|⌋+1 grams of A must hit B — index the PROBE side by only
    * its rarest-first prefix of that size, join against the FULL gram
    * index of potential containers, verify exactly on the shingle
    * arrays with the candidate side broadcast (the
    * [[ngramJaccardPairsPrefix]] verification pattern). At t=0.8 the
    * probe index is 5× smaller than the d2 inverted index, and no
    * length filter applies (a tiny doc CAN be contained in a huge one —
    * that asymmetry is the point).
    */
  def ngramContainmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    // same fingerprint-once materialization as [[ngramJaccardPairsPrefix]]:
    // sets feeds the probe index and both exact-verify sides
    val sets = graft.util.Barriers.corpusScale(shingleSets(df, idCol, textCol, n))
    val ex = sets.select(col("doc_id"), explode(col("shingles")).as("gs"))
      .select(col("doc_id"), xxhash64(col("gs")).as("g"))
    // rarest-first prefix of the probe side (same 8-byte-key, ride-the-
    // window-shuffle layout as the symmetric prefix filter)
    val freq = ex.groupBy("g").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("g"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    // prefix size = |A∖B|max + 1 = floor((1−t)·|A|) + 1, computed with a
    // +1e-7 guard: (1−0.8) is 0.19999999999999996 in binary, so
    // floor(5·(1−t)) = 0 instead of 1 — one prefix gram too few, and a
    // C = t exactly pair loses its only guaranteed collision (surfaced
    // by the sf0.1 oracle leg as a missing row). Overshooting the
    // prefix by the guard only adds candidates; the exact verify keeps
    // the output identical.
    val probe = ex.join(freq, "g")
      .withColumn("rank", row_number().over(w))
      .withColumn("n_sh", count(lit(1)).over(wAll))
      .where(col("rank") <= floor(col("n_sh") * (1.0 - threshold) + 1e-7) + 1)
      .select(col("doc_id").as("doc_a"), col("g"))
    val cand = probe
      .join(ex.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
      .where(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    val sa = sets.select(col("doc_id").as("doc_a"), col("shingles").as("sa"))
    val sb = sets.select(col("doc_id").as("doc_b"), col("shingles").as("sb"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("containment_raw",
        size(array_intersect(col("sa"), col("sb"))).cast("double") / size(col("sa")))
      .where(col("containment_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment_raw"), 4).as("containment"))
  }

  /** Cross-document duplicated n-gram report — the contamination /
    * substring-dedup check run over training corpora (find every n-token
    * window that appears in more than one document, so those spans can be
    * cut or the docs dropped). Grams are distinct per document, so the
    * group count IS the document frequency. Plan: kernel-UDF shingling
    * (same single-evaluation property as [[shingleSets]]) -> explode ->
    * one hash-partial/final groupBy on the gram — no joins, scales as the
    * distinct-gram count.
    *
    * Output: (fp = md5 of the gram, df = #docs containing it, keep_id =
    * lowest doc id) for grams with df > 1.
    */
  def duplicatedNgrams(df: DataFrame, idCol: String, textCol: String, n: Int = 13): DataFrame =
    shingleSets(df, idCol, textCol, n)
      .select(col("doc_id"), explode(col("shingles")).as("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("keep_id"))
      .where(col("df") > 1)
      .select(md5(col("g")).as("fp"), col("df"), col("keep_id"))

  /** Duplicated-SPAN report — the span-cut flavor of exact substring
    * dedup (Lee et al. 2022 deduplicate-training-data): instead of
    * dropping whole documents that share an n-gram, find for each
    * document the merged token spans covered by any n-token window that
    * occurs more than once in the corpus, i.e. the exact spans a
    * span-cutting cleaner would remove. Plan: positional shingles
    * (kernel UDF, same single-evaluation property as [[shingleSets]]) ->
    * one gram-keyed partial+final groupBy for global occurrence counts ->
    * equi-join back (AQE handles hot grams) -> per-document
    * gaps-and-islands interval merge. The merge windows partition on
    * doc_id — unique per document, so unskewable and bounded by document
    * length; no content-keyed window anywhere.
    *
    * Overlapping-or-adjacent spans merge into one (adjacent removals are
    * one contiguous cut). Output per document: token count, merged span
    * count, tokens removed/kept.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val mk = udf((toks: Seq[String]) =>
      // split() yields null for null text; treat null/empty docs as
      // gram-free, as a production span-cutter would.
      if (toks == null || toks.length < n) Seq.empty[String]
      else toks.sliding(n).map(_.mkString(" ")).toSeq)
    val occ = df
      .select(col(idCol).as("doc_id"), mk(split(col(textCol), " ")).as("grams"))
      .select(col("doc_id"), posexplode(col("grams")).as(Seq("pos", "g")))
    val dup = occ.groupBy("g").agg(count(lit(1)).as("occ_n"))
      .where(col("occ_n") > 1).select("g")
    val spans = occ.join(dup, "g")
      .select(col("doc_id"), col("pos").as("st"), (col("pos") + n - 1).as("en"))
    val W = org.apache.spark.sql.expressions.Window
    val wOrd = W.partitionBy("doc_id").orderBy("st")
    val prevMax = max(col("en"))
      .over(wOrd.rowsBetween(W.unboundedPreceding, -1))
    val islands = spans
      .withColumn("new_island",
        when(prevMax.isNull || col("st") > prevMax + 1, 1).otherwise(0))
      .withColumn("island",
        sum(col("new_island")).over(wOrd.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("st").as("s0"), max("en").as("e1"))
    val perDoc = islands.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e1") - col("s0") + lit(1)).as("tokens_removed"))
    df.select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
        (col("n_tokens") - coalesce(col("tokens_removed"), lit(0L))).as("tokens_kept"))
  }

  /** Benchmark decontamination: drop every corpus document sharing any
    * n-gram with the benchmark (held-out eval) set — the hygiene step
    * that keeps eval data out of a training corpus. The gram-probe join
    * strategy is LEFT TO AQE, deliberately: the r15 shape forced
    * `broadcast(benchGrams)`, and the r16 sf100 campaign measured that
    * ceiling — the distinct gram table of a benchmark that grows with
    * the leg blew `spark.driver.maxResultSize` (25 tasks, 1035.0 MiB >
    * 1 GiB) while every smaller leg was green. Unhinted, AQE broadcasts
    * the gram table while it fits (identical plan to r15 at small legs)
    * and shuffles when it does not (correct at size). Past the point
    * where even the SHUFFLE of exact gram strings is the bottleneck,
    * [[bloomDecontaminate]] is the declared scale path (byte-identical
    * output, sketch-sized driver footprint).
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13): DataFrame = {
    val bench = shingleSets(benchmark, idCol, textCol, n)
      .select(explode(col("shingles")).as("g")).distinct()
    val contaminated = shingleSets(corpus, idCol, textCol, n)
      .select(col("doc_id"), explode(col("shingles")).as("g"))
      .join(bench, "g")
      .select("doc_id").distinct()
    corpus.join(contaminated.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
  }

  /** Bloom-sketch decontamination — byte-identical output to
    * [[decontaminate]], built for the scale where the benchmark gram SET
    * no longer broadcasts as exact strings. A Bloom filter's size is
    * fixed by item count and fpp, independent of gram text length
    * (10^9 grams at 1% fpp ≈ 1.2 GB vs tens of GB of exact 13-gram
    * strings), so the cheap codegen-adjacent probe runs map-side over
    * every corpus gram and only the ~fpp survivors reach the exact
    * verification join that removes false positives. The corpus side
    * therefore ships `hits` rows into the join instead of ALL grams —
    * at 100 TB that is the difference between a broadcast-probe scan
    * and an all-grams shuffle.
    *
    * The sketch builds distributed on the pure `util.sketch` library —
    * partition-local filters OR-merged up a `treeReduce`
    * ([[BloomJoin.buildBloomString]]) — NOT `stat.bloomFilter`, whose
    * aggregate path clamps to 2^26 bits and is numerically broken past
    * the clamp (r15 finding, evidence in [[BloomJoin]]'s scaladoc). The
    * merged filter is still a size-bounded summary the driver
    * broadcasts, not data.
    */
  def bloomDecontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      fpp: Double = 0.01): DataFrame =
    bloomDecontaminateWithRelease(corpus, benchmark, idCol, textCol, n, fpp)._1

  /** As [[bloomDecontaminate]], plus a release hook: the call pins the
    * benchmark gram blocks (localCheckpoint) and the Bloom-sketch
    * broadcast until GC-driven cleanup, so a long-lived CLI/pipeline
    * session making repeated calls should invoke `release()` after
    * CONSUMING the result (it truncates the result's lineage inputs —
    * consuming after release would recompute or fail). The bench
    * harness's between-query unpersist covers the same leak for
    * bench runs; this is the programmatic-caller path.
    */
  def bloomDecontaminateWithRelease(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      fpp: Double = 0.01): (DataFrame, () => Unit) = {
    val sc = corpus.sparkSession.sparkContext
    val pinnedBefore = sc.getPersistentRDDs.keySet.toSet
    val bench = shingleSets(benchmark, idCol, textCol, n)
      .select(explode(col("shingles")).as("g")).distinct()
      // referenced twice (sketch build + verify join); tiny relative to
      // the corpus, and re-deriving it would re-shingle the benchmark
      .transform(graft.util.Barriers.corpusScale)
    val benchIds = sc.getPersistentRDDs.keySet.toSet -- pinnedBefore
    val nGrams = bench.count()
    // empty eval set: nothing to decontaminate — and Spark's
    // stat.bloomFilter NPEs on an empty frame (null sketch buffer), so
    // the guard is correctness, not just a fast path
    if (nGrams == 0L) {
      val releaseEmpty = () => benchIds.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      return (corpus, releaseEmpty)
    }
    // pure-sketch distributed build, NOT stat.bloomFilter: the
    // BloomFilterAggregate path clamps to 2^26 bits and is broken at
    // size above it (measured fp 0.76 at the 30M-key/288M-bit point —
    // see BloomJoin.buildBloom's scaladoc for the r15 evidence)
    val bf = BloomJoin.buildBloomString(bench, "g", nGrams, fpp)
    val bcast = sc.broadcast(bf)
    val might = udf((g: String) => g != null && bcast.value.mightContainString(g))
    val candidates = shingleSets(corpus, idCol, textCol, n)
      .select(col("doc_id"), explode(col("shingles")).as("g"))
      .where(might(col("g")))
    // exact verify kills Bloom false positives; Catalyst/AQE pick the
    // join strategy from the benchmark side's ACTUAL size
    val contaminated = candidates.join(bench, "g").select("doc_id").distinct()
    val result = corpus.join(
      contaminated.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
    val release = () => {
      benchIds.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      bcast.destroy()
    }
    (result, release)
  }

  /** Fingerprint index for [[incrementalExact]]: one distinct md5 per
    * text. Stored bucketed on `fp` (`sources/Bucketed.write`) this is
    * the persistent artifact an incremental pipeline maintains.
    */
  def exactFingerprintIndex(df: DataFrame, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("fp")).distinct()

  /** Incremental exact dedup — the production shape: dedupe a NEW batch
    * within itself (min-id keeper per fingerprint) and against the
    * EXISTING corpus's fingerprint index, without touching history
    * text. The asymmetry is the point at 100 TB: the day's crawl is
    * small, the history is not. With the index stored bucketed on `fp`,
    * the anti-join reads history pre-partitioned and plans NO exchange
    * on that side — only the batch's keeper set shuffles to the bucket
    * layout (spec-asserted in DedupSpec). Survivors' fingerprints
    * appended to the index keep the next day incremental.
    */
  def incrementalExact(
      newDocs: DataFrame,
      historyFps: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val batch = newDocs.select(col(idCol), md5(col(textCol)).as("fp"))
    // within-batch keeper: partial+final agg, hot fingerprints collapse
    // map-side (same skew posture as contaminatedDocs)
    val keepers = batch.groupBy("fp").agg(min(col(idCol)).as(idCol))
    keepers.join(historyFps.select("fp"), Seq("fp"), "left_anti")
      .select(idCol)
  }

  /** The cut set of contamination-based dedup: every doc that shares a
    * cross-document n-gram and is not that gram's keeper (min doc id).
    *
    * SKEW: keeper + document frequency come from a groupBy (partial+final
    * HashAggregate — a hot gram like a site-wide footer collapses map-side),
    * NOT a window over the gram: a window gets no map-side combine and AQE
    * cannot split a skewed window partition, so one mega-duplicated gram
    * would land whole on a single reducer. The dup-gram join-back carries
    * NO broadcast hint on purpose: a corpus with pervasive cross-document
    * boilerplate makes the df>1 gram set arbitrarily large, and an
    * unconditional hint would bypass autoBroadcastJoinThreshold and blow
    * the build side past executor memory. Catalyst broadcasts it when its
    * size estimate is small, and AQE re-decides from the ACTUAL size at
    * runtime (converting to broadcast, or splitting a skewed merge join)
    * — the safe call at every scale.
    */
  def contaminatedDocs(df: DataFrame, idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val grams = shingleSets(df, idCol, textCol, n)
      .select(col("doc_id"), explode(col("shingles")).as("g"))
    val dupGrams = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("kp"), count(lit(1)).as("df"))
      .where(col("df") > 1)
      .select(col("g"), col("kp"))
    grams.join(dupGrams, Seq("g"))
      .where(col("doc_id") =!= col("kp"))
      .select("doc_id").distinct()
  }

  /** MinHash coefficient pairs (a_i, b_i), deterministic from seed 42 —
    * shared with the oracle-SQL generator so both sides evaluate the
    * identical hash family.
    */
  private[graft] def minHashCoeffs(k: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(k)((1 + rnd.nextInt(Int.MaxValue - 1)).toLong -> rnd.nextInt(Int.MaxValue).toLong)
  }

  /** MinHash signatures: k hash functions h_i(x) = (a_i*x + b_i) mod p
    * over 60-bit shingle hashes ([[md5Hash60]]). Deterministic seeds.
    * Returns (doc_id, sig: array<long> of length k).
    *
    * PERF: one-pass kernel UDF — a single walk over the shingles updates
    * all k minima (the k-lambda `transform` form evaluates k interpreted
    * passes per document, the same pathology fixed in simHash).
    * hashFamily "xx64" is the production path; "md5" makes every value
    * SQL-reproducible, so the signature is bit-identical to the DuckDB
    * oracle's.
    */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 32,
      hashFamily: String = "xx64"): DataFrame = {
    val p = 2147483647L // 2^31-1, Mersenne prime
    val coeffs = minHashCoeffs(k).toArray
    val shingleHash = hashFn(hashFamily)
    val sig = udf((shingles: Seq[String]) => {
      val mins = Array.fill(k)(Long.MaxValue)
      shingles.foreach { s =>
        val x = shingleHash(s) % p
        var i = 0
        while (i < k) {
          val (a, b) = coeffs(i)
          val v = (a * x + b) % p // operands positive, a*x < 2^62
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      mins.toSeq
    })
    shingleSets(df, idCol, textCol, n)
      .select(col("doc_id"), sig(col("shingles")).as("sig"))
  }

  /** MinHash + LSH candidate pairs: band the signature (bands × rowsPerBand
    * = k), bucket-join on (band, band-hash), then verify candidates with
    * exact signature agreement >= minAgree fraction. Never compares all
    * pairs — candidates come only from shared LSH buckets.
    */
  def minHashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      minAgree: Double = 0.5,
      hashFamily: String = "xx64"): DataFrame =
    // the signature table feeds THREE subtrees of the pair generator
    // (band explode + both verify sides) — without a barrier the k-pass
    // shingle kernel, the heavy map of this operator, runs 3x per query.
    // Materialize once (it IS the persistent artifact of the incremental
    // flavor; doc-bounded: k longs per doc) — the incrementalMinHash
    // batch-side precedent applied to the batch operator.
    pairsFromSignatures(
      graft.util.Barriers.corpusScale(minHashSignatures(df, idCol, textCol, n, k, hashFamily)),
      k, bands, minAgree, hashFamily)

  /** Band keys via the same 60-bit hash family; the band id is embedded
    * in the hashed string, so bh equality implies band equality. One-pass
    * kernel UDF: a Generate whose input is an inline Column expression
    * re-evaluates it per OUTPUT row (bands× the hashing) — the repo's
    * documented explode pathology.
    */
  private def bandKeysUdf(k: Int, bands: Int, hashFamily: String) = {
    require(k % bands == 0, "k must be divisible by bands")
    val rows = k / bands
    val bandHash = hashFn(hashFamily)
    udf((sig: Seq[Long]) =>
      (0 until bands).map { bnd =>
        val slice = sig.slice(bnd * rows, bnd * rows + rows)
        (bnd, bandHash((bnd +: slice).mkString("_")))
      })
  }

  /** The banded (bh, doc_id) index over a signature table — the second
    * persistent artifact of an incremental near-dup pipeline (bucketed
    * on `bh` via `sources/Bucketed.write`, a new batch's band probe
    * plans no exchange on the history side).
    */
  def minHashBandIndex(sigs: DataFrame, k: Int = 32, bands: Int = 8,
      hashFamily: String = "xx64"): DataFrame =
    sigs.select(col("doc_id"), explode(bandKeysUdf(k, bands, hashFamily)(col("sig"))).as("b"))
      .select(col("b._2").as("bh"), col("doc_id"))

  /** LSH pair generation from a signature table (the [[minHashLshPairs]]
    * core, reusable against precomputed/persistent signatures).
    */
  def pairsFromSignatures(
      sigs: DataFrame,
      k: Int,
      bands: Int,
      minAgree: Double,
      hashFamily: String): DataFrame = {
    val bandKeys = bandKeysUdf(k, bands, hashFamily)
    // the banded index carries ONLY the doc id — at corpus scale the
    // candidate set dwarfs the doc set, so the pair-dedup exchange must
    // shuffle bare id pairs (~16 bytes), not k-long signatures (~1 KB);
    // signatures re-join per side afterwards, a per-doc-sized shuffle
    val banded = sigs.select(
      col("doc_id"), explode(bandKeys(col("sig"))).as("b"))
      .select(col("doc_id"), col("b._1").as("band"), col("b._2").as("bh"))
    val l = banded.alias("l")
    val r = banded.alias("r")
    val cand = l
      .join(r, col("l.band") === col("r.band") && col("l.bh") === col("r.bh") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .withColumn(
        "agree",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b)).cast("double") / k)
      .where(col("agree") >= minAgree)
      .select(col("doc_a"), col("doc_b"), round(col("agree"), 4).as("sig_agreement"))
  }

  /** MinHash estimate-vs-exact accuracy artifact — the e6/t17/t20-style
    * accuracy row for the near-dup sketch family: for every verified LSH
    * candidate pair, the signature-agreement Jaccard estimate against
    * the exact shingle-set Jaccard, error in integer basis points. A
    * sketch with a broken hash family would still agree with an oracle
    * replaying the same family; this row is what catches it drifting
    * from the TRUTH it estimates.
    *
    * Exact-side shingling is restricted (semi-join) to docs appearing
    * in verified pairs, so the truth computation is bounded by the
    * near-dup population, never the corpus. All-integer report
    * arithmetic (agreement count, |∩|, |∪|), so both engines agree
    * bit-for-bit.
    */
  def minHashAccuracy(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 64,
      bands: Int = 32,
      minAgree: Double = 0.5,
      hashFamily: String = "md5"): DataFrame = {
    // same three-subtree reuse as [[minHashLshPairs]] — one kernel pass
    val sigs = minHashSignatures(df, idCol, textCol, n, k, hashFamily)
      .localCheckpoint()
    val bandKeys = bandKeysUdf(k, bands, hashFamily)
    val banded = sigs.select(col("doc_id"), explode(bandKeys(col("sig"))).as("b"))
      .select(col("doc_id"), col("b._1").as("band"), col("b._2").as("bh"))
    val cand = banded.alias("l")
      .join(banded.alias("r"), col("l.band") === col("r.band") &&
        col("l.bh") === col("r.bh") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    // integer agreement threshold, epsilon-guarded like the prefix
    // bounds (overshoot only admits candidates; report stays exact)
    val mMin = math.ceil(minAgree * k - 1e-7).toLong
    val withM = cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .withColumn("sig_agree",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
          b => b)).cast("long"))
      .where(col("sig_agree") >= mMin)
      .select("doc_a", "doc_b", "sig_agree")
    val pairDocs = withM.select(col("doc_a").as("doc_id"))
      .union(withM.select(col("doc_b"))).distinct()
    val sets = shingleSets(df, idCol, textCol, n).join(pairDocs, "doc_id")
    withM
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("ga")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("gb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("un", size(col("ga")) + size(col("gb")) - col("inter"))
      .select(col("doc_a"), col("doc_b"), col("sig_agree"),
        expr(s"sig_agree * 10000 div $k").as("est_j_bp"),
        expr("inter * 10000 div un").as("exact_j_bp"),
        expr(s"abs(sig_agree * 10000 div $k - inter * 10000 div un)")
          .as("err_bp"))
  }

  /** Cross-source shingle-overlap matrix — the corpus diversity report:
    * exact Jaccard between every pair of sources over their DISTINCT
    * 3-gram sets, in integer basis points. High overlap between two
    * crawls means one is (near-)redundant; overlap against a benchmark
    * source is contamination pressure. State is the distinct
    * (source, gram-hash) index (vocabulary-bounded, not corpus-bounded);
    * the pair join runs on the gram key co-partitioned, and the result
    * is exactly |sources| choose 2 rows (sources = those with at least
    * one shingle): a fully disjoint pair reports (common 0, jaccard_bp
    * 0) rather than vanishing — in a diversity/contamination report,
    * "zero overlap" is a finding, not an absence. The pair frame is
    * built from the |sources|-row size table (bounded, broadcast), so
    * the inequality join costs nothing at any corpus size.
    *
    * PERF (the t23 floor pattern): the corpus pass hashes each shingle
    * inside the fused shingle kernel ([[Sketch.docShingleHashes]] —
    * one walk, no Generate re-evaluation), so BOTH heavy exchanges —
    * the distinct over the (src, gram) index and the gram-keyed
    * self-join — carry (src, 8-byte long) instead of (src, ~24-char
    * string). `common` and `n` thereby count distinct 60-bit gram
    * HASHES: expected collisions n²/2⁶¹ ≪ 1 at any tested scale, and
    * the oracle hashes identically (md5 family), so the report is
    * bit-identical to the gate — the same exactness contract as
    * t23/t24 and the d2 candidate keys.
    */
  def sourceOverlap(
      df: DataFrame,
      srcCol: String,
      textCol: String,
      hashFamily: String = "xx64"): DataFrame = {
    val sg = df.select(col(srcCol).as("src"),
        explode(Sketch.docShingleHashes(textCol, hashFamily)).as("g"))
      .distinct()
    val sizes = sg.groupBy("src").agg(count(lit(1)).as("n"))
    val pairs = sg.alias("a")
      .join(sg.alias("b"), col("a.g") === col("b.g") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("common"))
    val allPairs = sizes.select(col("src").as("src_a"), col("n").as("__na"))
      .join(broadcast(sizes.select(col("src").as("src_b"), col("n").as("__nb"))),
        col("src_a") < col("src_b"))
    allPairs
      .join(pairs, Seq("src_a", "src_b"), "left")
      .withColumn("common", coalesce(col("common"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("common"),
        expr("common * 10000 div (__na + __nb - common)").as("jaccard_bp"))
  }

  /** Incremental NEAR-dup dedup — the minhash twin of [[incrementalExact]],
    * completing the dedup lifecycle for near-duplicates: a new batch is
    * checked against the EXISTING corpus via its two persistent index
    * artifacts — `historySigs` (doc_id, sig; bucketed on doc_id) and
    * `historyBands` (bh, doc_id; bucketed on bh, [[minHashBandIndex]]) —
    * without touching history text or re-shingling anything old. The
    * asymmetry is the point at 100 TB: signatures are k longs per doc
    * (~KB vs the doc's text), bands are 8-byte keys, and with both
    * indexes bucketed the history sides plan NO exchange — only the
    * small batch shuffles to the index layouts.
    *
    * A batch doc drops if (a) a shared band bucket with a history doc
    * verifies at signature agreement >= minAgree, or (b) a verified
    * within-batch pair links it to a smaller batch doc id. (b) is the
    * deliberate PAIRWISE rule — near-dup is not transitive, so the
    * in-batch keeper is "no verified neighbor with a smaller id", the
    * same contract [[minHashLshPairs]] consumers apply; feed the pair
    * graph to [[connectedComponents]] when cluster-level resolution is
    * wanted instead. Returns the surviving batch ids.
    */
  def incrementalMinHash(
      newDocs: DataFrame,
      historySigs: DataFrame,
      historyBands: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      minAgree: Double = 0.5,
      hashFamily: String = "xx64"): DataFrame = {
    // the batch signature kernel (k hash passes per shingle) feeds five
    // plan subtrees (band probe, history verify, and the in-batch pair
    // generator's three); materialize it once — the batch is the small
    // side by design. Callers in long-lived sessions release it like any
    // localCheckpoint (the bloomDecontaminateWithRelease pattern).
    val bSigs = minHashSignatures(newDocs, idCol, textCol, n, k, hashFamily)
      .localCheckpoint()
    incrementalMinHashFromSigs(
      newDocs.select(col(idCol).as("doc_id")), bSigs,
      historySigs, historyBands, k, bands, minAgree, hashFamily)
  }

  /** [[incrementalMinHash]] core against PRECOMPUTED batch signatures —
    * for callers that need the signatures afterwards anyway (the
    * streaming ingest path appends them to the persistent index) and
    * must not pay the k-pass shingle kernel twice. `batchIds` carries
    * one `doc_id` per batch doc; `bSigs` should be materialized
    * (checkpointed) by the caller, since it feeds five plan subtrees.
    */
  def incrementalMinHashFromSigs(
      batchIds: DataFrame,
      bSigs: DataFrame,
      historySigs: DataFrame,
      historyBands: DataFrame,
      k: Int,
      bands: Int,
      minAgree: Double,
      hashFamily: String): DataFrame = {
    val bBands = minHashBandIndex(bSigs, k, bands, hashFamily)
    // history probe: shared band bucket -> candidate (batch, history)
    // pair; exact signature agreement kills LSH false positives
    val histCand = bBands
      .join(historyBands.select(col("bh"), col("doc_id").as("h_id")), "bh")
      .select(col("doc_id"), col("h_id")).distinct()
    val histHits = histCand
      .join(bSigs, "doc_id")
      .join(historySigs.select(col("doc_id").as("h_id"), col("sig").as("hs")), "h_id")
      .withColumn("agree",
        size(filter(zip_with(col("sig"), col("hs"), (x, y) => x === y), b => b)).cast("double") / k)
      .where(col("agree") >= minAgree)
      .select("doc_id").distinct()
    // within-batch: verified pairs drop the larger id
    val inBatchDrops = pairsFromSignatures(bSigs, k, bands, minAgree, hashFamily)
      .select(col("doc_b").as("doc_id")).distinct()
    batchIds.join(histHits.unionByName(inBatchDrops), Seq("doc_id"), "left_anti")
  }

  /** Index compaction — the maintenance op the incremental/streaming
    * dedup paths need at scale: every micro-batch APPENDS a small
    * parquet segment to the signature and band indexes
    * ([[graft.streaming.StreamingOps.incrementalNearDupStream]]), so a
    * long-lived index accumulates thousands of tiny files (each a
    * task's worth of one batch) and, under foreachBatch's
    * at-least-once replay, duplicate rows. Compaction rewrites the
    * directory as a BUCKETED table: duplicates collapse, the file
    * count drops to `buckets`, and — the reason it's bucketed rather
    * than just coalesced — every subsequent probe join against the
    * index reads a scan that already satisfies the join partitioning
    * and plans NO exchange on the history side (the DedupSpec
    * no-exchange contract, now preserved across compactions). Two
    * shuffles of index-sized rows (dedup + bucket alignment), paid at
    * maintenance cadence, amortized over every probe after.
    *
    * Band index flavor: rows (bh, doc_id), bucketed on `bh` (the probe
    * key). Signature flavor: rows (doc_id, sig), deduped and bucketed
    * on `doc_id` (the verify-join key; signatures are deterministic per
    * doc, so keeping any row per id is exact).
    */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, table: String, destPath: String,
      buckets: Int = 32): Unit =
    graft.sources.Bucketed.write(
      spark.read.parquet(srcDir)
        .dropDuplicates("bh", "doc_id")
        .repartition(buckets, col("bh")),
      table, destPath, bucketCols = Seq("bh"), buckets = buckets)

  /** See [[compactBandIndex]]. */
  def compactSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, table: String, destPath: String,
      buckets: Int = 32): Unit =
    graft.sources.Bucketed.write(
      spark.read.parquet(srcDir)
        .dropDuplicates("doc_id")
        .repartition(buckets, col("doc_id")),
      table, destPath, bucketCols = Seq("doc_id"), buckets = buckets)

  /** Duplicate-cluster resolution: turn a near-dup PAIR list (the output
    * shape of [[minHashLshPairs]]/[[simHashPairs]]/ngram Jaccard) into
    * per-document cluster ids via connected components — the step a real
    * dedup pipeline needs before it can pick one keeper per transitive
    * duplicate group (keeper = the row where doc_id == cluster_id).
    *
    * Distributed min-label propagation with pointer jumping: each
    * iteration lowers every node's label to min(own, neighbors' labels)
    * and then follows its label's label (path halving), so convergence is
    * O(log diameter) iterations, not O(diameter) — long duplication
    * chains (A~B~C~...) don't degrade into a sequential crawl. Each
    * iteration is a bounded number of hash-partitioned joins/aggs over
    * (node, label) pairs — never materializes components, never collects
    * to the driver; lineage is cut per iteration (localCheckpoint) so the
    * loop's plan doesn't grow. LSH dup graphs converge in 2-4 iterations.
    *
    * Returns (doc_id, cluster_id = min doc id reachable in the pair
    * graph), one row per document that appears in any pair.
    *
    * If the loop exhausts `maxIters` before the labels fix-point
    * (theoretically impossible for maxIters >= log2(diameter) + 2, but a
    * silent wrong answer is worse than a loud stop), it THROWS rather
    * than returning labels that would split true duplicate groups;
    * `requireConvergence = false` downgrades that to a warning for
    * callers that prefer a partial (over-segmented, never over-merged)
    * clustering.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIters: Int = 30,
      requireConvergence: Boolean = true): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    def pinnedIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    Seq(aCol, bCol).foreach { c =>
      pairs.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case other => throw new IllegalArgumentException(
          s"connectedComponents: $c is $other; labels propagate as longs — map " +
            "string ids to dense longs first (e.g. join a zipWithIndex dictionary)")
      }
    }
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    val edges = pairs.select(a.as("src"), b.as("dst"))
      .union(pairs.select(b.as("src"), a.as("dst")))
      .distinct()
      .localCheckpoint() // scanned every iteration: materialize once
    // lazy checkpoint: materialized by iteration 1's job, no extra job
    // here; its ids are captured (localCheckpoint persists immediately,
    // before materialization) so iteration 2 can release them — without
    // the snapshot they'd sit in `before` and stay pinned all loop
    val preLabels = pinnedIds
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("cluster_id"))
      .localCheckpoint(eager = false)
    var prevIterIds = pinnedIds -- preLabels
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val before = pinnedIds
      val neighborMin = edges
        .join(labels.select(col("node").as("dst"), col("cluster_id").as("dl")), "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("dl")).as("nmin"))
      val lowered = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("cluster_id"),
          col("cluster_id").as("prev"))
      // pointer jump: a label is itself a node; adopting ITS label halves
      // label-chain depth each round (labels only ever decrease)
      val jumped = lowered
        .join(labels.select(col("node").as("lbl_node"), col("cluster_id").as("lbl_lbl")),
          lowered("cluster_id") === col("lbl_node"), "left")
        .select(col("node"),
          least(col("cluster_id"), coalesce(col("lbl_lbl"), col("cluster_id"))).as("cluster_id"),
          col("prev"))
        .localCheckpoint(eager = false)
      // ONE job: the count materializes the lazy checkpoint as a side
      // effect (RDD.localCheckpoint semantics) and computes `changed`
      changed = jumped.where(col("cluster_id") =!= col("prev")).count()
      // the previous iteration's checkpoint blocks are unreachable by any
      // future plan once `jumped` is materialized — release them NOW
      // instead of waiting on the async ContextCleaner: at corpus scale
      // every iteration's labels are O(corpus) rows, and in-query pinning
      // would stack live copies of them. (Snapshot-diff assumes no
      // concurrent query creates persistent RDDs mid-loop — the same
      // single-query-at-a-time posture the bench harness takes.)
      prevIterIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      prevIterIds = pinnedIds -- before
      labels = jumped.drop("prev")
      it += 1
    }
    if (changed > 0) {
      val msg = s"connectedComponents did not converge in $maxIters iterations " +
        s"($changed labels still moving): cluster ids are over-segmented"
      if (requireConvergence) throw new IllegalStateException(msg)
      System.err.println(s"[graft] WARNING: $msg")
    }
    labels.select(col("node").as("doc_id"), col("cluster_id"))
  }

  /** Embedding-cosine near-duplicate pairs: cosine similarity >=
    * threshold over an array<float|double> column.
    *
    * exact=true: block self-join (O(n²) compares) — right for
    * oracle-checkable correctness and moderate corpus sizes (the r8
    * sf0.1→sf1 step-up measured it at 64× wall for 10× rows — the
    * declared quadratic doing its declared thing). exact=false:
    * random-hyperplane LSH buckets generate candidates (recall < 1,
    * scale path) verified by exact cosine. With a FIXED nBits the scale
    * path is only linear until occupancy catches up (bucket count is a
    * constant ⇒ per-bucket m grows with N ⇒ O(m²) again); pass
    * targetOccupancy > 0 to derive nBits from the corpus size instead
    * ([[SimilaritySearch.autoBits]] — one count() job, then expected
    * occupancy stays flat and candidate volume tracks N).
    *
    * SCALE GUARD (the semanticPrune pattern): bucket occupancy is
    * aggregated on the same key the join shuffles on, broadcast onto
    * the probe side, and any bucket above maxBucketRows warns + bumps
    * `dedup.embeddingCosinePairs.oversizedBuckets` once — the silent-
    * quadratic failure (nBits too small for the corpus, or an exact=
    * true call on a corpus that outgrew it) becomes observable. The
    * guard observes; it never drops rows.
    */
  def embeddingCosinePairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      threshold: Double,
      exact: Boolean = false,
      nBits: Int = 8,
      seed: Long = 42,
      targetOccupancy: Long = 0L,
      maxBucketRows: Long = 1000000L): DataFrame = {
    val spark = df.sparkSession
    val bits =
      if (exact || targetOccupancy <= 0L) nBits
      else SimilaritySearch.autoBits(df.count(), targetOccupancy)
    val base =
      if (exact)
        df.select(col(idCol).as("id"), col(embCol).cast("array<double>").as("v"))
          .withColumn("bucket", lit(0))
      else SimilaritySearch.lshBuckets(df, idCol, embCol, dim, bits, seed)
        .select(col(idCol).as("id"), col(embCol).cast("array<double>").as("v"), col("bucket"))
    val oversizedAcc = spark.sparkContext.longAccumulator(
      "dedup.embeddingCosinePairs.oversizedBuckets")
    lastOversizedBuckets = Some(oversizedAcc)
    val warnOversized = udf { (bucket: Int, n: Long) =>
      if (n > maxBucketRows) {
        oversizedAcc.add(1)
        org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup").warn(
          s"embeddingCosinePairs bucket $bucket holds $n rows (> $maxBucketRows): " +
            "the in-bucket compare is O(m²) — raise nBits / pass targetOccupancy " +
            "(or use the LSH path if this was exact=true)")
      }
      true
    }.asNondeterministic() // side-effecting: must not be pruned or reordered
    // one row per bucket; evaluated when the broadcast is built, so the
    // warning fires even if every candidate pair fails the threshold
    val bucketSizes = base.groupBy("bucket")
      .agg(count(lit(1)).as("__bucket_n"))
      .filter(warnOversized(col("bucket"), col("__bucket_n")))
      .select("bucket")
    val a = base.join(broadcast(bucketSizes), Seq("bucket")).alias("a")
    val b = base.alias("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      // native fused-loop cosine (codegen'd): the O(n²·d) compare is the
      // hot path where interpreted HOF lambdas would dominate
      .withColumn("cos_raw",
        graft.functions.NativeExpressions.cosine_sim(col("a.v"), col("b.v")))
      .where(col("cos_raw") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** Accumulator from the most recent [[embeddingCosinePairs]] plan
    * (test hook / post-run observability): buckets whose membership
    * crossed maxBucketRows. Same caveats as [[lastOversizedCells]].
    */
  @volatile private[graft] var lastOversizedBuckets:
      Option[org.apache.spark.util.LongAccumulator] = None

  /** SemDeDup-style semantic pruning (Abbas et al. 2023,
    * arXiv:2303.09540): cluster every vector to its nearest centroid,
    * then within each cell drop every vector that has an ε-similar
    * neighbor ranked closer to the kept end. Rank = LOWER
    * cosine-to-centroid wins (the paper keeps the examples least
    * similar to their cluster centroid — the most informative member of
    * each duplicate neighborhood), ties to the lower id. The rule is
    * dominance-based, not connected-components: a vector is pruned iff
    * ANY ε-neighbor outranks it (whether or not that neighbor is itself
    * pruned), which keeps the decision per-pair and expressible as ONE
    * self-join — no iterative CC pass ([[connectedComponents]] / d7 is
    * the formulation when full transitive clusters are wanted).
    *
    * Output: (id, cell, c2c rounded to 4, kept 1/0) for every input row.
    *
    * Scale: both join sides shuffle on `cell` — the SemDeDup layout. K
    * grows with the corpus (the paper uses K ≈ N/10⁴), so per-cell
    * membership — and the O(m²) in-cell compare that is the entire
    * point of clustering first — stays bounded; at 100 TB the assigned
    * table persists partitionBy("cell") and each cell's compare runs
    * co-located. Null embeddings flow through as (cell -1, NaN, kept 1):
    * NaN never satisfies the ε-predicate, so they neither prune nor get
    * pruned.
    */
  def semanticPrune(
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: Seq[(Long, Array[Double])],
      threshold: Double,
      maxCellRows: Long = 1000000L): DataFrame = {
    val spark = df.sparkSession
    val assigned0 = SimilaritySearch
      .ivfCellsWithCos(df, idCol, embCol, centroids)
      .select(col(idCol).as("id"), col(embCol).cast("array<double>").as("v"),
        col("cell"), col("c2c_raw"))
    // SCALE GUARD (HardLimiter pattern): the per-cell self-join is O(m²)
    // in cell membership — bounded ONLY by the caller keeping K ≈ N/10⁴.
    // A caller passing 8 centroids for a 10⁹-row corpus would get
    // quadratic cells silently; instead, cell occupancy (one partial+
    // final agg on the same `cell` key the join shuffles on anyway,
    // K rows out) is broadcast back onto the rows, and each oversized
    // cell warns + bumps `dedup.semanticPrune.oversizedCells` once. The
    // guard filter always passes — it observes, it does not drop.
    val oversizedAcc = spark.sparkContext.longAccumulator("dedup.semanticPrune.oversizedCells")
    lastOversizedCells = Some(oversizedAcc)
    val warnOversized = udf { (cell: Long, n: Long) =>
      if (n > maxCellRows) {
        oversizedAcc.add(1)
        org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup").warn(
          s"semanticPrune cell $cell holds $n rows (> $maxCellRows): the in-cell " +
            "compare is O(m²) — increase the centroid count (K ~ N/10^4)")
      }
      true
    }.asNondeterministic() // side-effecting: must not be pruned or reordered
    val cellSizes = assigned0.groupBy("cell")
      .agg(count(lit(1)).as("__cell_n"))
      .filter(warnOversized(col("cell"), col("__cell_n")))
    // the guard joins into the FINAL assembly only (not the self-join
    // sides), so its filter — and the accumulator bump — evaluates once
    // per cell, not once per plan reuse
    val assigned = assigned0
    val a = assigned.alias("a")
    val b = assigned.alias("b")
    // b outranks a: lower cosine-to-centroid, ties to the lower id
    // (the same-id pair falls out: equal c2c and b.id < a.id is false)
    val outranks = col("b.c2c_raw") < col("a.c2c_raw") ||
      (col("b.c2c_raw") === col("a.c2c_raw") && col("b.id") < col("a.id"))
    val pruned = a.join(b,
        col("a.cell") === col("b.cell") && outranks &&
          graft.functions.NativeExpressions.cosine_sim(col("a.v"), col("b.v")) >= threshold,
        "left_semi")
      .select(col("id"))
      .withColumn("__pruned", lit(1L))
    assigned.join(broadcast(cellSizes), Seq("cell"))
      .join(pruned, Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        round(col("c2c_raw"), 4).as("c2c"),
        when(col("__pruned").isNotNull, lit(0L)).otherwise(lit(1L)).as("kept"))
  }

  /** Accumulator from the most recent [[semanticPrune]] plan (test hook /
    * post-run observability): cells whose membership crossed
    * `maxCellRows`. Same caveats as every accumulator-in-transformation
    * (task retries over-count; concurrent calls overwrite the hook).
    */
  @volatile private[graft] var lastOversizedCells:
      Option[org.apache.spark.util.LongAccumulator] = None

  /** Per-document contamination score against a benchmark (held-out
    * eval) set: distinct n-gram count, how many of them appear anywhere
    * in the benchmark, and the hit fraction in basis points (integer
    * math — exact and engine-neutral; the true value is never more than
    * 1 bp above the floor). [[decontaminate]]/[[bloomDecontaminate]]
    * answer "is it contaminated at all"; this ranks HOW contaminated —
    * the triage report run before deciding a drop threshold, since a
    * doc sharing one idiom 13-gram and a doc embedding a whole eval
    * answer are different problems.
    *
    * Scale: the r15 shape — `join(broadcast(benchGrams), "left")` —
    * carried a hidden ceiling the sf100 campaign tripped (r16): an
    * explicit broadcast of a relation that GROWS with the data
    * collects it through the driver, and at sf100 the distinct
    * benchmark gram table blew `spark.driver.maxResultSize` (1 GiB; 25
    * serialized tasks = 1038.8 MiB, job aborted). Same defect family
    * as the r15 `stat.bloomFilter` clamp: green at every small leg,
    * broken exactly at size. Now it is the [[bloomDecontaminate]]
    * shape: the only driver-sized object is the Bloom SKETCH of the
    * gram set (~1.2 bytes/key — size-bounded by construction), the
    * corpus side probes it map-side, and only probable hits reach the
    * distributed exact-verify join (which kills the fp survivors, so
    * output is bit-identical). Per-doc gram counts come from the
    * exploded index (shingles are per-doc distinct), not a second
    * evaluation of the shingle expression.
    */
  def contaminationScore(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13): DataFrame = {
    val bench = shingleSets(benchmark, idCol, textCol, n)
      .select(explode(col("shingles")).as("g")).distinct()
      // referenced twice (sketch build + exact verify join)
      .transform(graft.util.Barriers.corpusScale)
    val (ex, nsh) = shingleIndex(corpus, idCol, textCol, n)
    val nGrams = bench.count()
    val scored =
      if (nGrams == 0L)
        nsh.select(col("doc_id"), col("n_sh"), lit(0L).as("n_hit"))
      else {
        val bf = BloomJoin.buildBloomString(bench, "g", nGrams, 0.01)
        val bcast = corpus.sparkSession.sparkContext.broadcast(bf)
        val might = udf((g: String) => g != null && bcast.value.mightContainString(g))
        val hits = ex.where(might(col("g")))
          .join(bench, Seq("g"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
        nsh.join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_sh"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      }
    scored.select(col("doc_id"), col("n_sh").as("n_grams"), col("n_hit"),
      expr("(n_hit * 10000) div n_sh").as("frac_bp"))
  }

  /** 60-bit SimHash per document from token hashes: bit j of the simhash
    * is the sign of the sum over distinct tokens of (+1/-1 for bit j of
    * the 60-bit token hash). Near-dups then differ in few bits (Hamming).
    * 60 bits (not 64) so the "md5" hash family is SQL-reproducible and
    * the pair set oracle-checkable; discrimination loss is negligible.
    * Word 1 of [[hashFn2]] is [[hashFn]], so this equals [[simHash120]]'s
    * `sh_lo` bit for bit.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String,
      hashFamily: String = "xx64"): DataFrame =
    df.select(col(idCol).as("doc_id"),
      simHashKernel(hashFamily, wide = false)(split(col(textCol), " "))(0).as("simhash"))

  /** SimHash near-dup pairs within maxHamming bits, LSH-bucketed by
    * 15-bit chunks (a pair within Hamming distance <= 3 of a 60-bit hash
    * must agree on at least one of 4 15-bit chunks — pigeonhole), so the
    * join is an equi-join on chunk value, not a cross join. Pins the
    * sketch (both join sides read it); the candidate join and verify live
    * in [[HammingNearDup.pairs]].
    *
    * SCALE CEILING: the chunk space is FIXED (2^15 buckets per chunk),
    * so once the corpus outgrows ~32k x desired occupancy the per-bucket
    * candidate join grows quadratically (measured 11.7x wall at 10x data
    * at sf1). Past that point use [[simHashPairsScaled]] — the same
    * operator with a 120-bit sketch and corpus-sized chunk width (the
    * e3 -> e12 relationship).
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, hashFamily: String = "xx64"): DataFrame =
    HammingNearDup.pairs(
      graft.util.Barriers.corpusScale(simHash(df, idCol, textCol, hashFamily)),
      Seq("simhash"), (0 until 4).map(c => HammingNearDup.Chunk(0, c * 15)),
      width = 15, maxHamming)

  /** 120-bit SimHash per document — the wide sketch behind the scaled
    * near-dup path: bit votes over the (lo, hi) 60-bit token-hash pair
    * ([[hashFn2]]), output as two 60-bit longs (sh_lo = bits 0..59,
    * sh_hi = bits 60..119). Same kernel as [[simHash]].
    */
  def simHash120(df: DataFrame, idCol: String, textCol: String,
      hashFamily: String = "xx64"): DataFrame =
    df.select(col(idCol).as("doc_id"),
        simHashKernel(hashFamily, wide = true)(split(col(textCol), " ")).as("s"))
      .select(col("doc_id"), col("s")(0).as("sh_lo"), col("s")(1).as("sh_hi"))

  /** The one simhash bit-vote kernel: a single walk over the distinct
    * tokens updates every bit vote at once, over one 60-bit token-hash
    * word ([[hashFn]]) or two ([[hashFn2]] when `wide`); returns one
    * sketch word per token-hash word.
    *
    * PERF: a kernel UDF, deliberately. The Column-expression alternative
    * (one `aggregate` lambda per bit) evaluates 60 interpreted passes
    * over the hash array per document.
    */
  private def simHashKernel(hashFamily: String, wide: Boolean) = {
    val hash1 = hashFn(hashFamily)
    val hash2 = hashFn2(hashFamily)
    val nVotes = if (wide) 120 else 60
    udf((toks: Seq[String]) => {
      val votes = new Array[Int](nVotes)
      def vote(h: Long, off: Int): Unit = {
        var j = 0
        while (j < 60) {
          if (((h >>> j) & 1L) == 1L) votes(off + j) += 1 else votes(off + j) -= 1
          j += 1
        }
      }
      val seen = new java.util.HashSet[String]()
      toks.foreach { t =>
        if (seen.add(t)) {
          if (wide) { val (lo, hi) = hash2(t); vote(lo, 0); vote(hi, 60) }
          else vote(hash1(t), 0)
        }
      }
      Array.tabulate(nVotes / 60) { w =>
        var out = 0L
        var j = 0
        while (j < 60) { if (votes(60 * w + j) > 0) out |= (1L << j); j += 1 }
        out
      }
    })
  }

  /** The 120-bit sketch's words and its 4 disjoint chunk regions: the low
    * bits of each 30-bit half-word. */
  private val Sketch120 = Seq("sh_lo", "sh_hi")
  private val Regions120 =
    for (w <- 0 to 1; shift <- Seq(0, 30)) yield HammingNearDup.Chunk(w, shift)

  /** Accumulator from the most recent [[simHashPairsScaled]] plan (test
    * hook / post-run observability): chunk buckets whose membership
    * crossed maxBucketRows.
    */
  @volatile private[graft] var lastOversizedChunks:
      Option[org.apache.spark.util.LongAccumulator] = None

  /** Occupancy-adaptive SimHash near-dup — the scale path for
    * [[simHashPairs]], whose fixed 4x15-bit pigeonhole caps at 2^15
    * buckets per chunk so per-bucket candidates grow quadratically once
    * the corpus outgrows ~32k x occupancy (measured: 11.7x wall at 10x
    * data). Two changes, both in the e12/autoBits mold:
    *
    *  - the sketch widens to 120 bits ([[simHash120]]), leaving 4
    *    disjoint 30-bit regions to draw chunk keys from;
    *  - the chunk-key WIDTH derives from the corpus size (one count()
    *    over the pinned sketch + [[SimilaritySearch.autoBits]]), so
    *    expected bucket occupancy stays at targetOccupancy however large
    *    the corpus and candidate volume tracks N, not N²/2^w. The 30-bit
    *    region cap means O(1) occupancy holds to ~2^30 x targetOccupancy
    *    documents (8B+ docs at the default) — past that, raise
    *    targetOccupancy.
    *
    * Recall stays exact at any width (pigeonhole over disjoint chunks).
    * Pins the sketch: the per-token hash UDF otherwise re-runs for the
    * count, the guard aggregate and both join sides. The candidate join
    * and verify live in [[HammingNearDup.pairs]].
    *
    * SCALE GUARD: any bucket above maxBucketRows warns + bumps
    * `dedup.simHashPairsScaled.oversizedBuckets` once
    * ([[HammingNearDup.BucketGuard]]). The guard observes; it never
    * drops rows.
    */
  def simHashPairsScaled(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      hashFamily: String = "xx64",
      targetOccupancy: Long = 8L,
      maxBucketRows: Long = 1000000L): DataFrame = {
    val sh = graft.util.Barriers.corpusScale(simHash120(df, idCol, textCol, hashFamily))
    val w = SimilaritySearch.autoBits(sh.count(), targetOccupancy)
    val oversizedAcc = df.sparkSession.sparkContext.longAccumulator(
      "dedup.simHashPairsScaled.oversizedBuckets")
    lastOversizedChunks = Some(oversizedAcc)
    HammingNearDup.pairs(sh, Sketch120, Regions120, w, maxHamming,
      Some(HammingNearDup.BucketGuard(maxBucketRows, oversizedAcc)))
  }

  /** Collapsed scaled SimHash near-dup — [[simHashPairsScaled]]'s output
    * made linear (the m6 -> m8 lesson, applied to text): a doc-level
    * pair contract is QUADRATIC IN DUPLICATE-GROUP SIZE no matter how
    * well the buckets are sized, because every pair of identical
    * documents must be emitted (measured: the sf10 leg spent its wall
    * emitting ~billions of within-group pairs). This flavor collapses
    * identical sketches to (representative = min id, multiplicity)
    * FIRST, pairs only DISTINCT sketches, and reports group algebra:
    *
    *  - (rep, rep, hamming 0, n·(n−1)/2) for each multiplicity-n class
    *    (the within-class pair count), and
    *  - (rep_a, rep_b, hamming, n_a·n_b) for each distinct-sketch pair
    *    within maxHamming (every doc of a times every doc of b).
    *
    * Total doc-level pair mass is preserved exactly (sum of `weight` ==
    * |simHashPairsScaled output|), so downstream dedup/cluster math is
    * unchanged while output size tracks DISTINCT content. Candidate
    * generation reuses the occupancy-adaptive chunk scheme over the
    * class table, which [[HammingNearDup.collapsed]] builds and pins;
    * the chunk width still derives from the raw document count —
    * distinct classes are a subset, so expected occupancy only drops.
    */
  def simHashPairsCollapsed(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      hashFamily: String = "xx64",
      targetOccupancy: Long = 8L): DataFrame = {
    val w = SimilaritySearch.autoBits(df.count(), targetOccupancy)
    HammingNearDup.collapsed(simHash120(df, idCol, textCol, hashFamily),
      Sketch120, Regions120, w, maxHamming)
  }

  /** Quality-aware duplicate-cluster keeper election — the step AFTER
    * [[connectedComponents]]: each document joins its cluster id
    * (documents in no pair are their own singleton cluster) and every
    * cluster elects ONE keeper — its longest member by whitespace token
    * count, ties to the lowest doc id ("keep the most complete copy",
    * the standard crawl-dedup policy, vs the min-id keeper that ignores
    * content).
    *
    * SKEW: two scalar hash aggregations (max length per cluster, then
    * min id among the longest) plus an equi-join back — every stage is
    * partial+final with map-side combine, so a mega-cluster
    * (boilerplate duplicated across millions of pages) collapses before
    * the shuffle. Deliberately NOT `max(struct(nt, -id))` in one pass:
    * struct aggregation buffers aren't hash-aggregable and plan as
    * Sort+SortAggregate, and not a window over cluster_id, which would
    * land the whole hot cluster on one reducer.
    * Returns (cluster_id, n_members, keeper_id, keeper_tokens).
    */
  def clusterKeepers(
      docs: DataFrame,
      clusters: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    // cluster ids come from connectedComponents, which labels in longs:
    // a string (UUID) id would null-cast and collapse every document
    // into one null cluster — fail loudly instead (same id contract,
    // same remedy: map string ids to dense longs first)
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    docs.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"clusterKeepers: $idCol is $other; cluster labels are longs — map " +
          "string ids to dense longs first (e.g. join a zipWithIndex dictionary)")
    }
    val members = docs
      .select(col(idCol).cast("long").as("doc_id"),
        coalesce(size(split(col(textCol), " ")).cast("long"), lit(0L)).as("nt"))
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val g = members.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"), max(col("nt")).as("kt"))
    g.join(members.select(col("cluster_id"), col("nt").as("kt"), col("doc_id")),
        Seq("cluster_id", "kt"))
      .groupBy("cluster_id", "n_members", "kt")
      .agg(min(col("doc_id")).as("keeper_id"))
      .select(col("cluster_id"), col("n_members"),
        col("keeper_id"), col("kt").as("keeper_tokens"))
  }
}
