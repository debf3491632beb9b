package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Hamming near-dup core: the one filter-then-verify operator behind the
  * simhash ([[Dedup.simHashPairs]], [[Dedup.simHashPairsScaled]],
  * [[Dedup.simHashPairsCollapsed]]), image dHash
  * ([[Multimodal.dHashNearDupPairs]], [[Multimodal.dHashNearDupScaled]])
  * and audio fingerprint ([[Multimodal.audioNearDupCollapsed]]) near-dup
  * functions.
  *
  * Input is a signature table: a `doc_id` column plus one or two long
  * words whose bits together form the signature. Candidates come from
  * disjoint bit-chunk keys — `width` bits of one word from a given shift
  * — through a self equi-join on (chunk, value), so the shuffle is keyed
  * on chunk buckets and never a cartesian product. An exact
  * `bit_count` over every word keeps the pairs within maxHamming, and a
  * pair that shares several chunks is then folded on its id pair alone:
  * ids are unique (doc ids, or one class representative per distinct
  * signature), so the pair determines its carried columns and distance,
  * and the fold's shuffle hashes two columns, not every column.
  *
  * RECALL IS EXACT (pigeonhole, any chunk width): a pair within Hamming
  * distance h of the whole signature differs inside at most h of the
  * disjoint chunks, so with h < #chunks it agrees on at least one and
  * survives candidate generation. Narrower chunks only lower precision
  * (more candidates), never recall.
  */
object HammingNearDup {

  /** One chunk key: `width` bits of signature word `word` (an index into
    * the words list) starting at bit `shift`. The chunks of one layout
    * must not overlap, or the pigeonhole bound does not hold.
    */
  final case class Chunk(word: Int, shift: Int)

  /** Oversized-bucket guard for [[pairs]]: any (chunk, value) bucket
    * above `maxRows` rows logs a warning and bumps `acc` once. It
    * observes and never drops rows. The count table is ~N/occupancy
    * rows at adaptive width, so it joins back co-partitioned on the
    * chunk key instead of being broadcast.
    */
  final case class BucketGuard(maxRows: Long, acc: LongAccumulator)

  /** Doc-level near-dup pairs `(doc_a, doc_b, hamming)` with
    * doc_a < doc_b and an int `hamming` <= maxHamming. `doc_id` must be
    * unique in `sigs`. The signature table is read by both join sides
    * (and the guard), so callers pin it.
    */
  def pairs(sigs: DataFrame, words: Seq[String], chunks: Seq[Chunk], width: Int,
      maxHamming: Int, guard: Option[BucketGuard] = None): DataFrame =
    verified(sigs, "doc_id", Nil, words, chunks, width, maxHamming, guard)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("hamming"))

  /** Collapsed weighted near-dup: identical signatures collapse FIRST to
    * classes (representative = min doc_id, n = member count), pinned once
    * with [[graft.util.Barriers.corpusScale]] because the exact leg and
    * both join sides read them. Only DISTINCT signatures are paired:
    *
    *  - `(rep, rep, 0, n·(n−1)/2)` for each class with n >= 2 (its
    *    within-class pair count), and
    *  - `(rep_a, rep_b, hamming, n_a·n_b)` for each pair of classes
    *    within maxHamming (distinct signatures, so hamming >= 1).
    *
    * Total pair mass is preserved exactly: sum(weight) per hamming value
    * equals the row count of [[pairs]] over the same table, while output
    * size tracks distinct content instead of Σ n².
    */
  def collapsed(sigs: DataFrame, words: Seq[String], chunks: Seq[Chunk], width: Int,
      maxHamming: Int): DataFrame = {
    val classes = sigs.groupBy(words.map(col): _*)
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))
      .transform(graft.util.Barriers.corpusScale)
    val exact = classes.where(col("n") >= 2)
      .select(col("rep").as("rep_a"), col("rep").as("rep_b"),
        lit(0).as("hamming"), expr("n * (n - 1) div 2").as("weight"))
    val cross = verified(classes, "rep", Seq("n"), words, chunks, width, maxHamming, None)
      .select(col("a").as("rep_a"), col("b").as("rep_b"), col("hamming"),
        (col("a_n") * col("b_n")).as("weight"))
    exact.unionByName(cross)
  }

  /** Chunk keys → self equi-join → exact Hamming verify → fold on
    * (a, b), over `table` keyed by the unique column `id`. Returns
    * `a < b`, the `carry` columns of each side as `a_<c>`/`b_<c>`, and
    * `hamming`. The verify runs before the fold so only verified pairs
    * reach the fold's shuffle.
    */
  private def verified(table: DataFrame, id: String, carry: Seq[String],
      words: Seq[String], chunks: Seq[Chunk], width: Int, maxHamming: Int,
      guard: Option[BucketGuard]): DataFrame = {
    require(maxHamming < chunks.length,
      s"pigeonhole needs maxHamming < ${chunks.length} chunks, got $maxHamming")
    val mask = (1L << width) - 1L
    val keys = array(chunks.zipWithIndex.map { case (Chunk(w, shift), c) =>
      struct(lit(c).as("chunk"),
        shiftright(col(words(w)), shift).bitwiseAND(lit(mask)).as("cv"))
    }: _*)
    val cols = (id +: carry) ++ words
    val chunked = table.select(cols.map(col) :+ explode(keys).as("c"): _*)
      .select(cols.map(col) ++ Seq(col("c.chunk"), col("c.cv")): _*)
    val l = guard.fold(chunked)(g => chunked.join(guarded(chunked, g), Seq("chunk", "cv")))
      .alias("l")
    val r = chunked.alias("r")
    def side(s: String, p: String) = carry.map(c => col(s"$s.$c").as(s"${p}_$c"))
    val hamming = words.map(w => bit_count(col(s"l.$w").bitwiseXOR(col(s"r.$w")))).reduce(_ + _)
    l.join(r, col("l.chunk") === col("r.chunk") && col("l.cv") === col("r.cv") &&
        col(s"l.$id") < col(s"r.$id"))
      .select(Seq(col(s"l.$id").as("a"), col(s"r.$id").as("b")) ++
        side("l", "a") ++ side("r", "b") :+ hamming.as("hamming"): _*)
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("a", "b")
  }

  // every (chunk, cv) of `chunked` appears in the result, so the inner
  // join back loses nothing; it exists to evaluate the guard once per
  // bucket, co-partitioned on the same key the pair join shuffles on
  private def guarded(chunked: DataFrame, g: BucketGuard): DataFrame = {
    val warnOversized = udf { (chunk: Int, cv: Long, n: Long) =>
      if (n > g.maxRows) {
        g.acc.add(1)
        org.slf4j.LoggerFactory.getLogger("graft.operators.HammingNearDup").warn(
          s"Hamming near-dup chunk $chunk bucket $cv holds $n rows " +
            s"(> ${g.maxRows}): the in-bucket pair join is O(m²) — raise " +
            "targetOccupancy headroom or investigate a degenerate corpus " +
            "(identical signatures share every bucket)")
      }
      true
    }.asNondeterministic() // side-effecting: must not be pruned or reordered
    chunked.groupBy("chunk", "cv")
      .agg(count(lit(1)).as("__n"))
      .filter(warnOversized(col("chunk"), col("cv"), col("__n")))
      .select("chunk", "cv")
  }
}
