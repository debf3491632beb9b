package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Baseline: brute-force cosine scoring — a narrow map over the corpus
  * (no shuffle), embarrassingly parallel, exact. Scale path: LSH via
  * random hyperplanes buckets the corpus so a query probes only its
  * bucket; at 100 TB the bucketed table is written partitioned by bucket
  * so probe reads are partition-pruned.
  */
object SimilaritySearch {

  /** Cosine similarity between an array<float|double> column and a fixed
    * query vector, in double precision via the native codegen'd
    * expression (one fused loop inside whole-stage codegen — the HOF
    * formulation runs interpreted per row; bit-identical results).
    */
  def cosine(emb: Column, query: Array[Double]): Column =
    graft.functions.NativeExpressions.cosine_to_query(emb.cast("array<double>"), query)

  /** Brute-force scoring of the whole corpus against one query vector.
    * `+ 0.0` collapses IEEE negative zero (a rounded tiny-negative
    * cosine): engines disagree on the SIGN of a zero they agree on, and
    * a `-0.0` sorts away from `0.0` in any text/byte-ordered compare —
    * it misaligned the sf1 oracle leg's sorted diff for 10k rows over
    * one value (PROFILE_r09).
    */
  def scoreAll(df: DataFrame, idCol: String, embCol: String, query: Array[Double], scale: Int = 4): DataFrame =
    df.select(col(idCol), (round(cosine(col(embCol), query), scale) + lit(0.0)).as("cos_sim"))

  /** Exact top-k: brute-force score + ties broken by id. Spark plans a
    * TakeOrderedAndProject — per-partition top-k then a single-driver
    * merge of k·numPartitions rows, no global sort shuffle.
    */
  def topK(df: DataFrame, idCol: String, embCol: String, query: Array[Double], k: Int): DataFrame =
    df.select(col(idCol), cosine(col(embCol), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)

  /** Matryoshka two-stage retrieval (E17): score the WHOLE corpus on
    * the first `coarseDim` dims only (the MRL insight — a
    * Matryoshka-trained embedding's prefix is itself a valid embedding,
    * Kusupati et al. 2022), shortlist the top `shortlist` candidates,
    * then rerank just those with full-dimension cosine. The production
    * retrieval ladder: at 100 TB the coarse pass reads a `coarseDim/dim`
    * slice of the bytes (columnar prefix pruning / a truncated sidecar
    * column makes that literal), and the exact kernel touches only a
    * constant-size shortlist. Both stages are TakeOrderedAndProject —
    * per-partition heads, no global sort; ties break on id at both
    * cuts, so the result is deterministic cross-engine.
    */
  def mrlRerank(df: DataFrame, idCol: String, embCol: String, dim: Int,
      query: Array[Double], coarseDim: Int, shortlist: Int, k: Int): DataFrame = {
    require(coarseDim > 0 && coarseDim <= dim && k <= shortlist,
      s"need 0 < coarseDim <= dim and k <= shortlist")
    val coarse = df
      .select(col(idCol), col(embCol),
        cosine(slice(col(embCol).cast("array<double>"), 1, coarseDim),
          query.take(coarseDim)).as("coarse_sim"))
      .orderBy(col("coarse_sim").desc, col(idCol))
      .limit(shortlist)
    coarse
      .select(col(idCol), col("coarse_sim"),
        cosine(col(embCol), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Symmetric int8 quantization of the embedding column: per-vector
    * scale maxabs/127, components round(v/scale) in [-127, 127]. The
    * storage/serving format for a 100 TB embedding corpus — 4x smaller
    * than float32 — and because cosine is scale-invariant, similarity
    * ranking runs directly on the integer vectors: dot products are
    * EXACT in double arithmetic (|q| <= 127, any realistic dim), so the
    * quantized ranking is bit-reproducible by any engine.
    */
  def quantizeInt8(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val v = col(embCol).cast("array<double>")
    val maxabs = array_max(transform(v, x => abs(x)))
    val scl = maxabs / 127.0
    val q = when(maxabs > 0,
      transform(v, x => round(x / scl, 0).cast("int")))
      .otherwise(transform(v, _ => lit(0)))
    df.select(col(idCol), scl.as("scale"), q.as("q"))
  }

  /** Top-k by cosine over the int8-quantized corpus, query quantized
    * identically (HALF_UP — away from zero, matching both the Column
    * `round` and SQL engines). Same TakeOrderedAndProject shape as
    * [[topK]].
    */
  def quantizedTopK(df: DataFrame, idCol: String, embCol: String,
      query: Array[Double], k: Int): DataFrame = {
    val qMax = if (query.isEmpty) 0.0 else query.map(math.abs).max
    val qq =
      if (qMax == 0.0) query.map(_ => 0.0)
      else query.map { x =>
        BigDecimal(x / (qMax / 127.0))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    quantizeInt8(df, idCol, embCol)
      .select(col(idCol), cosine(col("q").cast("array<double>"), qq).as("qcos_sim"))
      .orderBy(col("qcos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Sign-bit (1-bit) sketch: dim sign bits packed into ceil(dim/64)
    * longs — the 32x-compressed bottom rung of the quantization ladder
    * (fp32 → int8 [[quantizeInt8]] → 1 bit). Bit i of word w = sign of
    * component w*64+i. Kernel UDF (single evaluation per vector, same
    * rationale as the shingle kernel).
    */
  private[graft] def packSigns(v: Seq[Double]): Array[Long] = {
    // null embedding -> empty sketch: degenerate rows flow through (and
    // rank last on Hamming) like the other kernel UDFs' null guards
    if (v == null) return new Array[Long](0)
    val words = new Array[Long]((v.length + 63) / 64)
    var i = 0
    while (i < v.length) {
      if (v(i) > 0) words(i / 64) |= (1L << (i % 64))
      i += 1
    }
    words
  }

  /** Top-k by Hamming distance between sign sketches — integer-exact,
    * so the ranking (distance asc, id asc) is reproducible by any
    * engine computing sign-mismatch counts, packed or not. Per-row work
    * is dim/64 XOR+popcount words vs dim multiply-adds for cosine;
    * same TakeOrderedAndProject shape as [[topK]] (no global sort). At
    * serving scale the sketch column is what's stored; the float
    * vectors are only fetched to rerank the k survivors ([[topK]] over
    * the candidate set — recall quantified the e6 way).
    */
  def hammingTopK(df: DataFrame, idCol: String, embCol: String,
      query: Array[Double], k: Int): DataFrame = {
    val qs = packSigns(query)
    val pack = udf((v: Seq[Double]) => packSigns(v))
    // null embeddings drop: an absent vector has no Hamming rank (and a
    // null distance would sort FIRST under Spark's asc nulls-first)
    df.where(col(embCol).isNotNull)
      .select(col(idCol), pack(col(embCol).cast("array<double>")).as("sig"))
      // zip_with over dim/64 words (1 for dim<=64): the HOF runs
      // interpreted but over a near-scalar array — not a hot loop
      .withColumn("hamming",
        aggregate(
          zip_with(col("sig"), lit(qs), (a, b) => bit_count(a.bitwiseXOR(b))),
          lit(0), (acc, x) => acc + x))
      .select(col(idCol), col("hamming"))
      .orderBy(col("hamming"), col(idCol))
      .limit(k)
  }

  /** Random-hyperplane LSH bucket id (nBits-bit signature) for each row.
    * Deterministic seed; same planes bucket queries at probe time.
    */
  def lshBuckets(df: DataFrame, idCol: String, embCol: String, dim: Int, nBits: Int = 8, seed: Long = 42): DataFrame = {
    val planes = hyperplanes(dim, nBits, seed)
    val v = col(embCol).cast("array<double>")
    // sign(cosine) == sign(dot) (norms are positive), so the native
    // fused-loop expression replaces nBits interpreted HOF dot products.
    // A zero-norm vector makes the cosine NaN where the dot was 0 (bit
    // set): isnan keeps dot-sign parity with queryBucket and the oracle.
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      val cos = graft.functions.NativeExpressions.cosine_to_query(v, p)
      when(cos >= 0 || isnan(cos), shiftleft(lit(1), i)).otherwise(0)
    }.reduce(_.bitwiseOR(_))
    df.select(col(idCol), col(embCol), bucket.as("bucket"))
  }

  /** Multi-probe bucket sequence: the query's own bucket first, then
    * buckets reached by flipping the lowest-|margin| hyperplane bits —
    * standard multi-probe LSH: a plane the query sits closest to is the
    * likeliest to have put a true neighbor on its other side. Probe
    * order is deterministic: (total |margin| of flipped bits, mask).
    * nProbes=1 degenerates to the exact-bucket probe.
    */
  def probeBuckets(query: Array[Double], dim: Int, nBits: Int, seed: Long,
      nProbes: Int): Seq[Int] = {
    // single-probe short-circuit: no mask enumeration, and no nBits cap
    // (the pre-multi-probe behavior for any nBits)
    if (nProbes <= 1) return Seq(queryBucket(query, dim, nBits, seed))
    require(nProbes <= 20, s"probe family enumerates 2^nProbes flip masks; nProbes=$nProbes > 20")
    val planes = hyperplanes(dim, nBits, seed)
    val margins = planes.map(p => p.zip(query).map { case (a, b) => a * b }.sum)
    val qBucket = margins.zipWithIndex.map { case (d, i) => if (d >= 0) 1 << i else 0 }.sum
    // The i-th cheapest flip mask (cost = sum of flipped |margins|,
    // ties by mask value) flips only planes among the i smallest
    // |margins|: a mask using a plane of |margin| rank > p costs at
    // least that plane's |margin|, which the empty mask and the p
    // cheaper single flips all undercut, so it cannot enter the first
    // p+1. Enumerating the 2^p subsets of the p = min(nBits, nProbes)
    // smallest margins therefore reproduces the full 2^nBits
    // enumeration's top-nProbes at ANY width. (The full scan made
    // probe generation O(2^nBits log 2^nBits) per query on the driver
    // — the ceiling that wedged ev12's serving path once autoBits
    // sizes the index past 16 bits.) For nBits <= nProbes the family
    // IS the full enumeration, so existing fixed-width oracles are
    // bit-unchanged.
    val ranked = margins.zipWithIndex
      .map { case (m, i) => (math.abs(m), i) }
      .sortBy(identity)
      .take(math.min(nBits, nProbes))
    val family = (0 until (1 << ranked.size)).map { sub =>
      var cost = 0.0
      var mask = 0
      var j = 0
      while (j < ranked.size) {
        if ((sub & (1 << j)) != 0) { cost += ranked(j)._1; mask |= 1 << ranked(j)._2 }
        j += 1
      }
      (cost, mask)
    }
    val cap = if (nBits >= 31) Int.MaxValue else 1 << nBits
    family.sortBy(identity).take(math.min(nProbes, cap)).map(_._2 ^ qBucket)
  }

  /** Approximate top-k: probe only rows in the query's LSH bucket —
    * plus, with nProbes > 1, the lowest-margin neighboring buckets
    * ([[probeBuckets]]): recall rises with nProbes while the scan stays
    * pruned to nProbes/2^nBits of the corpus.
    */
  def annTopK(df: DataFrame, idCol: String, embCol: String, dim: Int, query: Array[Double], k: Int,
      nBits: Int = 8, seed: Long = 42, nProbes: Int = 1): DataFrame = {
    val buckets = probeBuckets(query, dim, nBits, seed, nProbes)
    lshBuckets(df, idCol, embCol, dim, nBits, seed)
      .where(col("bucket").isin(buckets: _*))
      .select(col(idCol), cosine(col(embCol), query).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Batched multi-query ANN — the serving shape: top-k for a whole SET
    * of queries in ONE plan over ONE corpus scan. The query batch (a
    * handful of driver-side vectors, a query parameter like any other)
    * explodes to its multi-probe bucket lists and broadcast-joins the
    * bucketed corpus on the bucket key; per-candidate cosine runs in the
    * fused codegen'd kernel; per-query ranking is a bounded typed top-K
    * aggregation — K rows per partition per query, partial+final, so a
    * query whose probe buckets are hot never windows all its candidates
    * onto one reducer and there is no global sort anywhere. Ties rank
    * (cos desc, id asc), reproducible cross-engine.
    */
  def batchAnnTopK(df: DataFrame, idCol: String, embCol: String, dim: Int,
      queries: Seq[(Long, Array[Double])], k: Int,
      nBits: Int = 8, seed: Long = 42, nProbes: Int = 1): DataFrame =
    batchTopKOverBuckets(lshBuckets(df, idCol, embCol, dim, nBits, seed),
      idCol, embCol, dim, queries, k, nBits, seed, nProbes)

  /** Selectivity-aware probe widening for FILTERED vector search: a
    * metadata predicate keeping a fraction f of the corpus shrinks
    * every probed bucket by f, so candidate volume — and with it recall
    * — collapses unless the probe count scales back up. np =
    * ceil(np0 / f) = ceil(np0·total / matching), capped at the bucket
    * count 2^nBits (ceil division in exact longs; f = 1 reduces to np0,
    * so an always-true predicate costs nothing). A predicate matching
    * ZERO rows returns the cap: the filtered corpus is empty, so the
    * result is empty at any probe count — the cap just keeps the
    * arithmetic total (no division by zero). One cheap count aggregate
    * over the corpus; the [[autoBits]] convention applied to probe
    * width. Measured (e19 fixture, f ≈ 1/3): recall@20 0.40 at the
    * unwidened 4 probes, 1.0 at the widened count.
    */
  def filteredProbes(df: DataFrame, pred: Column,
      np0: Int = 4, nBits: Int = 4): Int = {
    require(np0 > 0, s"np0 must be positive: $np0")
    val row = df.agg(count(lit(1)),
      sum(when(pred, 1L).otherwise(0L))).head()
    val total = row.getLong(0)
    val fcnt = if (row.isNullAt(1)) 0L else row.getLong(1)
    if (fcnt == 0L) 1 << nBits
    else math.min(1L << nBits, (np0 * total + fcnt - 1) / fcnt).toInt
  }

  /** [[annTopK]] over the survivors of a corpus predicate, with probes
    * widened by inverse selectivity ([[filteredProbes]]) so the
    * pre-filter costs no recall. This is the call a vector store's
    * filtered query path should make: filtering first prunes the scan
    * (no distance computed for excluded vectors), and the widened probe
    * set restores the candidate volume the filter removed. Calling
    * [[annTopK]] directly on a pre-filtered corpus at the unfiltered
    * probe count silently reproduces the recall collapse.
    */
  def filteredAnnTopK(df: DataFrame, idCol: String, embCol: String,
      dim: Int, query: Array[Double], k: Int, pred: Column,
      nBits: Int = 8, seed: Long = 42, np0: Int = 1): DataFrame =
    annTopK(df.where(pred), idCol, embCol, dim, query, k, nBits, seed,
      nProbes = filteredProbes(df, pred, np0, nBits))

  /** Batched twin of [[filteredAnnTopK]]: one corpus scan serves the
    * whole query batch against the predicate's survivor set, probes
    * widened by inverse selectivity.
    */
  def filteredBatchAnnTopK(df: DataFrame, idCol: String, embCol: String,
      dim: Int, queries: Seq[(Long, Array[Double])], k: Int, pred: Column,
      nBits: Int = 8, seed: Long = 42, np0: Int = 1): DataFrame =
    batchAnnTopK(df.where(pred), idCol, embCol, dim, queries, k, nBits,
      seed, nProbes = filteredProbes(df, pred, np0, nBits))

  /** [[batchAnnTopK]] against a [[writeBucketed]] table: the probe scan
    * is partition-PRUNED to the union of the batch's probe buckets (a
    * literal isin over the partition column) before the bucket join —
    * at 100 TB the batch reads nProbes·|queries|/2^nBits of the corpus
    * at most, not all of it. This is the serving read path; the
    * streaming twin ([[graft.streaming.StreamingOps.annServeStream]])
    * calls it once per micro-batch.
    */
  def batchAnnTopKBucketed(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, embCol: String, dim: Int,
      queries: Seq[(Long, Array[Double])], k: Int,
      nBits: Int = 8, seed: Long = 42, nProbes: Int = 1): DataFrame = {
    require(queries.nonEmpty, "need at least one query vector")
    val meta = readBucketedMeta(spark, path)
    val nb = meta.map(_.nBits).getOrElse(nBits)
    val sd = meta.map(_.seed).getOrElse(seed)
    val allBuckets = queries
      .flatMap { case (_, qv) => probeBuckets(qv, dim, nb, sd, nProbes) }
      .distinct
    val bucketed = prunedIndexScan(spark, path, meta, allBuckets)
    batchTopKOverBuckets(bucketed, idCol, embCol, dim, queries, k, nb, sd, nProbes)
  }

  /** Shared candidate-join + bounded-top-K tail of the batched ANN
    * paths; `bucketed` must carry (idCol, embCol, bucket).
    */
  private def batchTopKOverBuckets(bucketed: DataFrame, idCol: String,
      embCol: String, dim: Int, queries: Seq[(Long, Array[Double])], k: Int,
      nBits: Int, seed: Long, nProbes: Int): DataFrame = {
    require(queries.nonEmpty, "need at least one query vector")
    val spark = bucketed.sparkSession
    import spark.implicits._
    val probes = queries.flatMap { case (qid, qv) =>
      probeBuckets(qv, dim, nBits, seed, nProbes).map(b => (qid, b, qv.toSeq))
    }.toDF("qid", "bucket", "qv")
    val cand = bucketed
      .join(broadcast(probes), "bucket")
      .select(col("qid"), col(idCol).cast("long").as("cand_id"),
        graft.functions.NativeExpressions.cosine_sim(
          col(embCol).cast("array<double>"), col("qv").cast("array<double>")).as("cos"))
    val agg = new BoundedTopKByScoreAgg(k)
    cand.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._3, t._2))
      .agg(agg.toColumn.name("top"))
      .flatMap { case (qid, top) => top.map { case (s, id) => (qid, id, s) } }
      .toDF("qid", "vec_id", "cos_sim")
      .withColumn("cos_sim", round(col("cos_sim"), 4))
  }

  /** Persisted parameters of a bucketed ANN index: the probe side MUST
    * hash with the width/seed the index was built with, so they travel
    * WITH the index (`_graft_ann_meta.json` beside the parquet — the
    * underscore prefix keeps it invisible to the scan), not in serving
    * configs. The ev12 sf100 wedge was exactly a serving config pinning
    * a width (4 bits ⇒ 1/16-corpus scan per query at every scale) that
    * the index build had outgrown.
    */
  case class BucketedMeta(nBits: Int, dirBits: Int, seed: Long, dim: Int)

  private val MetaFile = "_graft_ann_meta.json"

  private def writeBucketedMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, m: BucketedMeta): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, MetaFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(
      s"""{"nBits":${m.nBits},"dirBits":${m.dirBits},"seed":${m.seed},"dim":${m.dim}}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  def readBucketedMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[BucketedMeta] = {
    val p = new org.apache.hadoop.fs.Path(path, MetaFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      def field(k: String): Long =
        s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(s)
          .getOrElse(sys.error(s"bucketed index meta at $p missing '$k': $s"))
          .group(1).toLong
      Some(BucketedMeta(field("nBits").toInt, field("dirBits").toInt,
        field("seed"), field("dim").toInt))
    }
  }

  /** The 100 TB storage path: write the corpus LSH-bucketed so a
    * probe's scan is partition-PRUNED toward the query's buckets.
    * Write once, probe many.
    *
    * `targetOccupancy > 0` derives the width from the corpus
    * ([[autoBits]] — one count job) instead of the pinned `nBits`: a
    * fixed width makes per-probe work a constant FRACTION of the
    * corpus, so serving cost grows as queries x corpus (the ev12 sf100
    * disk-spill wedge); occupancy-driven width keeps per-probe work a
    * constant ROW COUNT. The chosen width is persisted with the index
    * and read back by every probe path, so build and serve can never
    * disagree.
    *
    * Layout is two-level so the directory count stays bounded when
    * autoBits sizes past 2^maxDirBits buckets: the partition column is
    * the bucket's top `dirBits` bits (partition pruning), the full
    * bucket is a data column sorted within each file (parquet row-group
    * stats prune the rest). At widths <= maxDirBits this degenerates to
    * one directory per bucket, the original layout.
    */
  def writeBucketed(df: DataFrame, idCol: String, embCol: String, dim: Int,
      path: String, nBits: Int = 8, seed: Long = 42,
      targetOccupancy: Long = 0L, maxDirBits: Int = 12): Unit = {
    val nb = if (targetOccupancy > 0L) autoBits(df.count(), targetOccupancy)
      else nBits
    val dirBits = math.min(nb, maxDirBits)
    lshBuckets(df, idCol, embCol, dim, nb, seed)
      .withColumn("pbucket", shiftrightunsigned(col("bucket"), nb - dirBits))
      .repartition(col("pbucket"))
      .sortWithinPartitions("pbucket", "bucket")
      .write.mode("overwrite")
      .partitionBy("pbucket")
      .parquet(path)
    writeBucketedMeta(df.sparkSession, path, BucketedMeta(nb, dirBits, seed, dim))
  }

  /** Prune a bucketed-index scan to a probe set: partition pruning on
    * the directory prefix, then bucket equality pushed to the parquet
    * row-group stats (files are bucket-sorted).
    */
  private def prunedIndexScan(spark: org.apache.spark.sql.SparkSession,
      path: String, meta: Option[BucketedMeta], buckets: Seq[Int]): DataFrame = {
    val base = spark.read.parquet(path)
    meta match {
      case Some(m) =>
        val pbs = buckets.map(_ >>> (m.nBits - m.dirBits)).distinct
        base.where(col("pbucket").isin(pbs: _*) && col("bucket").isin(buckets: _*))
      case None => // pre-meta layout: bucket IS the partition column
        base.where(col("bucket").isin(buckets: _*))
    }
  }

  /** IVF (inverted-file) cell assignment: each vector joins the cell of
    * its nearest centroid (max cosine, ties to the lowest centroid id).
    * Centroids are a handful of driver-resident vectors (a query-time
    * parameter, like the query vector itself) broadcast into the plan as
    * literals, so assignment is a narrow, shuffle-free map: K codegen'd
    * cosine expressions + an array_max over (cos, -cid) structs. At
    * 100 TB the assigned table is written `partitionBy("cell")` (same
    * storage path as [[writeBucketed]]) so probes are partition-pruned.
    */
  def ivfCells(df: DataFrame, idCol: String, embCol: String,
      centroids: Seq[(Long, Array[Double])]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    // One-pass kernel UDF: K cosines per row in a single call. The
    // Column-expression alternative (K `aggregate` lambdas) runs K
    // interpreted passes per row — the simhash pathology. Float math is
    // ordered exactly like [[cosine]] (sequential left-fold dot, then
    // dot / (vNorm * cNorm)) so results are bit-identical to it and to
    // the DuckDB oracle's list_dot_product.
    val cids = centroids.map(_._1).toArray
    val cvecs = centroids.map(_._2).toArray
    val cNorms = cvecs.map(c => math.sqrt(c.map(x => x * x).sum))
    val assign = udf((v: Seq[Double]) => bestCell(v.toArray, cids, cvecs, cNorms)._1)
    df.withColumn("cell", assign(col(embCol).cast("array<double>")))
  }

  /** As [[ivfCells]], but the kernel also emits the winning cosine
    * (`c2c_raw` — each vector's similarity to its own cell centroid),
    * the ranking key SemDeDup-style pruning orders on. A null embedding
    * degrades to (cell -1, NaN) instead of crashing, matching the
    * null-tolerance of the other embedding kernels.
    */
  def ivfCellsWithCos(df: DataFrame, idCol: String, embCol: String,
      centroids: Seq[(Long, Array[Double])]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val cids = centroids.map(_._1).toArray
    val cvecs = centroids.map(_._2).toArray
    val cNorms = cvecs.map(c => math.sqrt(c.map(x => x * x).sum))
    val assign = udf((v: Seq[Double]) =>
      if (v == null) (-1L, Double.NaN)
      else bestCell(v.toArray, cids, cvecs, cNorms))
    // the struct rides as one column; codegen subexpression elimination
    // keeps the two field extracts to a single kernel evaluation
    df.withColumn("__a", assign(col(embCol).cast("array<double>")))
      .withColumn("cell", col("__a._1"))
      .withColumn("c2c_raw", col("__a._2"))
      .drop("__a")
  }

  /** Nearest-centroid scan: (winning centroid id, winning cosine); max
    * cosine, ties to the lowest centroid id. Float math is ordered
    * exactly like [[cosine]] (sequential index-order dot/norm folds) so
    * results are bit-identical to it and to the DuckDB oracle's
    * list_dot_product.
    */
  private def bestCell(arr: Array[Double], cids: Array[Long],
      cvecs: Array[Array[Double]], cNorms: Array[Double]): (Long, Double) = {
    var bestCos = Double.NegativeInfinity
    var bestCid = Long.MaxValue
    var j = 0
    while (j < cvecs.length) {
      val c = cvecs(j)
      // clamp to the common prefix (like CosineToQuery/CosineSim): a
      // ragged vector degrades instead of crashing, and dot/norm see
      // the same elements
      val n = math.min(arr.length, c.length)
      var dot = 0.0
      var vn = 0.0
      var k = 0
      while (k < n) { val x = arr(k); dot += x * c(k); vn += x * x; k += 1 }
      val cos = dot / (math.sqrt(vn) * cNorms(j))
      if (cos > bestCos || (cos == bestCos && cids(j) < bestCid)) {
        bestCos = cos; bestCid = cids(j)
      }
      j += 1
    }
    (bestCid, bestCos)
  }

  /** IVF approximate top-k: probe only the `nProbe` cells whose centroids
    * are nearest the query, exact cosine inside the probed cells. The
    * recall/cost dial is nProbe/K: corpus scanned ≈ nProbe/K of total
    * (vs all of it for exact top-k).
    */
  def ivfTopK(df: DataFrame, idCol: String, embCol: String,
      centroids: Seq[(Long, Array[Double])], query: Array[Double],
      k: Int, nProbe: Int): DataFrame = {
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val probed = centroids.map { case (cid, cvec) =>
      val cNorm = math.sqrt(cvec.map(x => x * x).sum)
      val dot = cvec.zip(query).map { case (a, b) => a * b }.sum
      (cid, dot / (cNorm * qNorm))
    }.sortBy { case (cid, cos) => (-cos, cid) }.take(nProbe).map(_._1)
    ivfCells(df, idCol, embCol, centroids)
      .where(col("cell").isin(probed: _*))
      .select(col(idCol), cosine(col(embCol), query).as("cos_raw"))
      .orderBy(col("cos_raw").desc, col(idCol))
      .limit(k)
      .select(col(idCol), round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** One Lloyd (k-means) refinement step for the IVF centroids: assign
    * every vector to its nearest centroid ([[ivfCells]], narrow kernel),
    * then average per (cell, dimension) — posexplode + one partial+final
    * hash agg, so the shuffle carries (cells × dims) partial sums, never
    * vectors. Output (cell, dim [1-based], mean) is the new centroid
    * table; iterate by feeding it back as `centroids`.
    */
  def kmeansStep(df: DataFrame, idCol: String, embCol: String,
      centroids: Seq[(Long, Array[Double])], scale: Int = 6): DataFrame =
    ivfCells(df, idCol, embCol, centroids)
      .select(col("cell"), posexplode(col(embCol).cast("array<double>")))
      .select(col("cell"), (col("pos") + 1).as("dim"), col("col").as("x"))
      .groupBy("cell", "dim")
      .agg(round(avg(col("x")), scale).as("mean"))

  /** Full Lloyd training loop: `iters` [[kmeansStep]] rounds, each
    * collecting the K×D centroid table to the driver (parameter-sized —
    * the same class of fetch as the e4/e5 centroid init; the CORPUS
    * never leaves the cluster, each round is one narrow assignment scan
    * + one (cells × dims)-row partial+final agg). A cell that captures
    * no vectors keeps its previous centroid (the standard
    * empty-cluster rule). Rounding each round's means to `scale`
    * decimals makes the trajectory ENGINE-REPRODUCIBLE: both engines
    * feed bit-identical centroids into every round, so the oracle can
    * unroll the same loop in SQL. Converged rounds short-circuit
    * (new == previous is a fixed point: re-running the step cannot
    * change the assignment, so skipped rounds are observationally
    * free). Returns the final (cell, dim [1-based], mean) table.
    */
  def kmeansTrain(df: DataFrame, idCol: String, embCol: String,
      init: Seq[(Long, Array[Double])], iters: Int, scale: Int = 6): DataFrame = {
    require(init.nonEmpty, "need at least one initial centroid")
    require(iters >= 1, s"iters=$iters must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    var cents = init.sortBy(_._1)
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val rows = kmeansStep(df, idCol, embCol, cents, scale).collect()
      val byCell = rows.groupBy(_.getLong(0)).map { case (cell, rs) =>
        cell -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
      }
      val next = cents.map { case (cid, cv) => (cid, byCell.getOrElse(cid, cv)) }
      converged = next.zip(cents).forall { case ((_, a), (_, b)) => a.sameElements(b) }
      cents = next
      it += 1
    }
    cents.flatMap { case (cid, cv) =>
      cv.iterator.zipWithIndex.map { case (m, i) => (cid, i + 1, m) }
    }.toDF("cell", "dim", "mean")
  }

  /** Product-quantization codebooks: the embedding space splits into
    * `m` subspaces of dim/m components; each subspace gets `ksub`
    * centroids. Here the codebooks are data-drawn (the subvectors of
    * `ksub` designated corpus vectors — the same parameter-class fetch
    * as the e4/e5 centroid init); [[kmeansTrain]] generalizes to
    * refining them per subspace. Returns codebooks(m)(j) = centroid j
    * of subspace m.
    */
  def pqCodebooks(df: DataFrame, idCol: String, embCol: String,
      m: Int, ksub: Int, seedIds: Seq[Long]): Array[Array[Array[Double]]] = {
    require(seedIds.length == ksub, s"need exactly $ksub seed vectors")
    val seeds = df.where(col(idCol).isin(seedIds: _*))
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(t => seedIds.indexOf(t._1))
    require(seeds.length == ksub, s"found ${seeds.length} of $ksub seed vectors")
    val dim = seeds.head._2.length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val sub = dim / m
    Array.tabulate(m, ksub) { (mi, j) =>
      java.util.Arrays.copyOfRange(seeds(j)._2, mi * sub, (mi + 1) * sub)
    }
  }

  /** PQ encode: each vector → m codes (argmin squared L2 distance to
    * the subspace's centroids, ties to the lowest code). One-pass
    * kernel UDF (the bestCell rationale); codes are the 100 TB storage
    * format — m bytes a vector vs 4·dim for float32 (32x at m=8,
    * dim=64), and ranking needs ONLY the codes ([[pqTopK]]).
    * Distance math is sequential index-order adds, reproducible by any
    * engine summing the same order.
    */
  def pqEncode(df: DataFrame, idCol: String, embCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val ksub = codebooks(0).length
    val sub = codebooks(0)(0).length
    val enc = udf((v: Seq[Double]) => {
      if (v == null || v.length < m * sub) null
      else {
        val arr = v.toArray
        val codes = new Array[Int](m)
        var mi = 0
        while (mi < m) {
          var bestD = Double.MaxValue
          var bestJ = 0
          var j = 0
          while (j < ksub) {
            val c = codebooks(mi)(j)
            var d = 0.0
            var i = 0
            while (i < sub) {
              val x = arr(mi * sub + i) - c(i)
              d += x * x
              i += 1
            }
            if (d < bestD) { bestD = d; bestJ = j }
            j += 1
          }
          codes(mi) = bestJ
          mi += 1
        }
        codes
      }
    })
    df.select(col(idCol), enc(col(embCol).cast("array<double>")).as("codes"))
  }

  /** PQ top-k by asymmetric distance (ADC): the query stays exact; the
    * driver precomputes the m×ksub table of squared distances from each
    * query subvector to each centroid (parameter-sized), and a corpus
    * row's approximate distance is m table LOOKUPS summed — a pure
    * codegen'd projection over the codes column, no float vectors read.
    * Ranking (adist asc, id asc) via TakeOrderedAndProject, no global
    * sort. This is the serving rung between int8 ([[quantizedTopK]])
    * and the 1-bit sketch ([[hammingTopK]]): 32x compression with
    * distance fidelity the sign sketch can't carry.
    */
  def pqTopK(df: DataFrame, idCol: String, embCol: String,
      codebooks: Array[Array[Array[Double]]], query: Array[Double],
      k: Int, scale: Int = 6): DataFrame = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    require(query.length == m * sub, s"query dim ${query.length} != ${m * sub}")
    val dtab: Array[Array[Double]] = Array.tabulate(m) { mi =>
      codebooks(mi).map { c =>
        var d = 0.0
        var i = 0
        while (i < sub) {
          val x = query(mi * sub + i) - c(i)
          d += x * x
          i += 1
        }
        d
      }
    }
    val adist = (0 until m)
      .map(mi => element_at(lit(dtab(mi)), element_at(col("codes"), mi + 1) + 1))
      .reduce(_ + _)
    // rank on the ROUNDED distance (ties then id): code-identical rows
    // have exactly equal adist within one engine but the two engines
    // may sum the m lookups in different float orders — rounding before
    // ranking makes the cut deterministic cross-engine
    pqEncode(df, idCol, embCol, codebooks)
      .where(col("codes").isNotNull)
      .select(col(idCol), round(adist, scale).as("adist"))
      .orderBy(col("adist"), col(idCol))
      .limit(k)
  }

  /** IVF-PQ encode — the canonical billion-scale ANN index layout
    * (Jégou et al., "Product quantization for nearest neighbor
    * search", TPAMI 2011 §IV; the reference has no ANN surface — this
    * is greenfield LLM-pipeline capability): each vector is assigned
    * its coarse IVF cell ([[ivfCells]] rule: max cosine, ties to the
    * lowest centroid id) and its RESIDUAL v − centroid(cell) is
    * PQ-encoded against the codebooks. Encoding the residual instead
    * of the raw vector is what makes the two quantizers compose: the
    * coarse step removes the cell's mean so the m-byte codes spend
    * their 8 bits on local detail. Output (id, cell, codes) is the
    * 100 TB index: m bytes + a cell id per vector, written
    * `partitionBy("cell")` ([[writeIvfPq]]) so probes prune to the
    * probed cells' directories. One-pass kernel UDF (the bestCell
    * rationale); sequential index-order float math, engine-reproducible.
    */
  def ivfPqEncode(df: DataFrame, idCol: String, embCol: String,
      centroids: Seq[(Long, Array[Double])],
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val cids = centroids.map(_._1).toArray
    val cvecs = centroids.map(_._2).toArray
    val cNorms = cvecs.map(c => math.sqrt(c.map(x => x * x).sum))
    val m = codebooks.length
    val ksub = codebooks(0).length
    val sub = codebooks(0)(0).length
    val enc = udf((v: Seq[Double]) => {
      if (v == null || v.length < m * sub) null
      else {
        val arr = v.toArray
        val (cell, _) = bestCell(arr, cids, cvecs, cNorms)
        val cvec = cvecs(cids.indexOf(cell))
        val codes = new Array[Int](m)
        var mi = 0
        while (mi < m) {
          var bestD = Double.MaxValue
          var bestJ = 0
          var j = 0
          while (j < ksub) {
            val c = codebooks(mi)(j)
            var d = 0.0
            var i = 0
            while (i < sub) {
              val x = (arr(mi * sub + i) - cvec(mi * sub + i)) - c(i)
              d += x * x
              i += 1
            }
            if (d < bestD) { bestD = d; bestJ = j }
            j += 1
          }
          codes(mi) = bestJ
          mi += 1
        }
        (cell, codes.toSeq)
      }
    })
    df.withColumn("__e", enc(col(embCol).cast("array<double>")))
      .select(col(idCol), col("__e._1").as("cell"), col("__e._2").as("codes"))
  }

  /** Write the IVF-PQ index partitioned by coarse cell — the same
    * write-once/probe-many storage path as [[writeBucketed]]: a query's
    * scan is partition-PRUNED to its nProbe cell directories, and each
    * row read is m bytes of codes, not 4·dim of floats.
    */
  def writeIvfPq(df: DataFrame, idCol: String, embCol: String,
      centroids: Seq[(Long, Array[Double])],
      codebooks: Array[Array[Array[Double]]], path: String): Unit =
    ivfPqEncode(df, idCol, embCol, centroids, codebooks)
      .write.mode("overwrite")
      .partitionBy("cell")
      .parquet(path)

  /** IVF-PQ top-k by per-cell asymmetric distance: probe the nProbe
    * cells whose centroids are nearest the query (driver-side,
    * parameter-sized — the [[ivfTopK]] rule); for each probed cell the
    * driver precomputes the m×ksub table of squared distances from the
    * QUERY'S RESIDUAL in that cell (q − centroid) to each codebook
    * centroid, and a corpus row's approximate distance is m table
    * lookups summed — a codegen'd when-cascade on the cell id over
    * `element_at` literal-array lookups, no float vectors read.
    * Ranking (rounded adist asc, id asc) via TakeOrderedAndProject
    * (the [[pqTopK]] cross-engine rounding rule). `encoded` is an
    * [[ivfPqEncode]] output — in memory, or the partition-pruned scan
    * of a [[writeIvfPq]] table.
    */
  def ivfPqTopKEncoded(encoded: DataFrame, idCol: String,
      centroids: Seq[(Long, Array[Double])],
      codebooks: Array[Array[Array[Double]]], query: Array[Double],
      k: Int, nProbe: Int, scale: Int = 6): DataFrame = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    require(query.length == m * sub, s"query dim ${query.length} != ${m * sub}")
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val probed: Seq[Long] = centroids.map { case (cid, cvec) =>
      val cNorm = math.sqrt(cvec.map(x => x * x).sum)
      val dot = cvec.zip(query).map { case (a, b) => a * b }.sum
      (cid, dot / (cNorm * qNorm))
    }.sortBy { case (cid, cos) => (-cos, cid) }.take(nProbe).map(_._1)
    val byId = centroids.toMap
    // per probed cell: dtab(cell)(mi)(code) = ||(q − centroid)[mi] − cb[mi][code]||²
    val dtabs: Map[Long, Array[Array[Double]]] = probed.map { cid =>
      val cvec = byId(cid)
      cid -> Array.tabulate(m) { mi =>
        codebooks(mi).map { c =>
          var d = 0.0
          var i = 0
          while (i < sub) {
            val x = (query(mi * sub + i) - cvec(mi * sub + i)) - c(i)
            d += x * x
            i += 1
          }
          d
        }
      }
    }.toMap
    val adist = (0 until m).map { mi =>
      val tab = probed.tail.foldLeft(
        when(col("cell") === probed.head, lit(dtabs(probed.head)(mi)))) {
        case (acc, cid) => acc.when(col("cell") === cid, lit(dtabs(cid)(mi)))
      }
      element_at(tab, element_at(col("codes"), mi + 1) + 1)
    }.reduce(_ + _)
    encoded
      .where(col("cell").isin(probed: _*) && col("codes").isNotNull)
      .select(col(idCol), round(adist, scale).as("adist"))
      .orderBy(col("adist"), col(idCol))
      .limit(k)
  }

  /** Convenience one-shot: encode inline and rank. Assignment runs over
    * the whole input (it IS the index build); at scale use
    * [[writeIvfPq]] once + [[ivfPqTopKEncoded]] over the pruned scan.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, embCol: String,
      centroids: Seq[(Long, Array[Double])],
      codebooks: Array[Array[Array[Double]]], query: Array[Double],
      k: Int, nProbe: Int, scale: Int = 6): DataFrame =
    ivfPqTopKEncoded(ivfPqEncode(df, idCol, embCol, centroids, codebooks),
      idCol, centroids, codebooks, query, k, nProbe, scale)

  /** Recall of an approximate top-k result against the exact top-k:
    * |approx ∩ exact| / k — the evaluation loop every ANN deployment
    * runs on a sample before trusting the index parameters.
    */
  def recallAt(exact: DataFrame, approx: DataFrame, idCol: String, k: Int): DataFrame =
    exact.select(col(idCol))
      .join(approx.select(col(idCol)), idCol)
      .agg(round(count(lit(1)).cast("double") / k, 4).as("recall"))

  /** The query vector's LSH bucket under the same planes. */
  def queryBucket(query: Array[Double], dim: Int, nBits: Int = 8, seed: Long = 42): Int =
    hyperplanes(dim, nBits, seed).zipWithIndex.map { case (p, i) =>
      val dot = p.zip(query).map { case (a, b) => a * b }.sum
      if (dot >= 0) 1 << i else 0
    }.sum

  private[graft] def hyperplanes(dim: Int, nBits: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Occupancy-driven LSH width: the fewest hyperplane bits that bound
    * EXPECTED bucket membership at `targetOccupancy` rows
    * (2^bits >= n / target). A fixed nBits makes bucket count a
    * constant, so occupancy — and the per-bucket O(m²) candidate
    * compare every LSH consumer runs — grows linearly with the corpus
    * and the "scale path" quietly goes quadratic (observed: the r8
    * sf0.1→sf1 step-up). Deriving bits from n keeps expected occupancy
    * flat: candidate volume tracks N, not N². Clamped to [1, 30]
    * (2^30 buckets ≈ any practical corpus / occupancy ratio).
    */
  def autoBits(n: Long, targetOccupancy: Long): Int = {
    require(targetOccupancy > 0, s"targetOccupancy must be positive: $targetOccupancy")
    if (n <= targetOccupancy) 1
    else {
      val buckets = (n + targetOccupancy - 1) / targetOccupancy
      math.min(30, 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1))
    }
  }
}
