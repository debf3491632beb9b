package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy self-join on edit distance — entity resolution for the
  * cleaning stage of a training-data pipeline (merge near-identical
  * author/site/entity strings across crawl snapshots), the string
  * cousin of the document near-dup family (d2/d3/d4/d19).
  *
  * The naive contract is an O(N²) levenshtein cross-join — 112M string
  * compares at just 15k names (measured: 140 s in a vectorized C++
  * engine; unrunnable at scale). This operator is deletion-neighborhood
  * blocking (the FastSS scheme, Bocek et al. 2007; SymSpell is the
  * industry descendant) as a filter-verify plan:
  *
  *  1. **block**: every string emits its deletion variants — all
  *     strings obtainable by deleting up to `maxDist` characters
  *     (deduplicated per string). If ed(a,b) ≤ k, an optimal alignment
  *     has ≤ k non-match columns; deleting from each string the
  *     characters those columns touch leaves the SAME string — so a and
  *     b share a variant, and candidates = pairs sharing one. Recall is
  *     EXACT, with no length or alphabet precondition (at k=2, "ab" and
  *     "cd" meet at the empty variant).
  *  2. **verify**: exact `levenshtein` (codegen'd built-in) on the
  *     candidate pairs, plus the free ||a|−|b|| ≤ k length filter.
  *
  * Why this beats q-gram prefix filtering (the AllPairs/PPJoin family)
  * here: entity strings are short and LOW-ENTROPY — "Customer#00001234"
  * has a 100-gram 2-gram vocabulary and shares boilerplate grams with
  * the whole corpus, so a frequency-sorted gram prefix of the required
  * k·q+1 length runs out of rare grams and admits a corpus-hot token
  * (measured on 15k names, k=1: 9.8M distinct candidate pairs at q=2,
  * 68M at q=4 — against 262k true pairs). A deletion variant, by
  * contrast, is nearly as specific as the string itself — only strings
  * within a genuine k-deletion ball collide (measured, same corpus:
  * 956k distinct candidates for 262k true pairs, 3.7x, the whole
  * candidate stage in 5 s). Blocking specificity scales with string
  * entropy, not alphabet size (the commit that added j10 records the
  * comparison).
  *
  * Cost model: ~(len choose ≤k) variants per string (19 at len=18/k=1,
  * 172 at k=2) — corpus-linear rows through one equi-join, no window,
  * no global structure; per-variant occupancy is the ONLY blowup knob
  * and is bounded by the true near-dup ball. Exact-duplicate groups
  * share ALL variants (occupancy = group size) — the d20 lesson
  * applies: collapse identical strings to (representative,
  * multiplicity) upstream if the corpus is dup-heavy. `maxDist` ≤ 2 is
  * enforced: variants grow O(len^k), which is the scheme's domain —
  * for long-document near-dup use the d-family sketches instead.
  */
object FuzzyJoin {

  /** All distinct strings obtainable from `s` by deleting at most `k`
    * characters (including `s` itself).
    */
  private[graft] def deletionVariants(s: String, k: Int): Array[String] = {
    val seen = new java.util.LinkedHashSet[String]()
    var frontier = List(s)
    seen.add(s)
    var d = 0
    while (d < k) {
      frontier = frontier.flatMap { v =>
        (0 until v.length).iterator.flatMap { i =>
          val del = v.substring(0, i) + v.substring(i + 1)
          if (seen.add(del)) Some(del) else None
        }
      }
      d += 1
    }
    seen.toArray(new Array[String](seen.size()))
  }

  /** All pairs (a_key < b_key) within edit distance `maxDist`, with the
    * distance. `df` rows are the entities; `idCol` must be unique and
    * orderable. `maxDist` ∈ {1, 2} (see scaladoc).
    */
  def editDistanceSelfJoin(
      df: DataFrame,
      idCol: String,
      strCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      "deletion-neighborhood blocking is for k <= 2; use the d-family sketches for looser matching")
    val variants = udf { (s: String) =>
      if (s == null) Array.empty[String] else deletionVariants(s, maxDist)
    }
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
    val v = base.select(col("id"), explode(variants(col("s"))).as("v"))
    val cand = v.alias("a")
      .join(v.alias("b"), col("a.v") === col("b.v") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_key"), col("b.id").as("b_key"))
      .distinct()
    cand
      .join(base.select(col("id").as("a_key"), col("s").as("a_s")), "a_key")
      .join(base.select(col("id").as("b_key"), col("s").as("b_s")), "b_key")
      .where(abs(length(col("a_s")) - length(col("b_s"))) <= maxDist)
      .withColumn("dist", levenshtein(col("a_s"), col("b_s")))
      .where(col("dist") <= maxDist)
      .select(col("a_key"), col("b_key"), col("dist"))
  }
}
