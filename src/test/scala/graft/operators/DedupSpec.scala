package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
      (4L, "completely different content about spark shuffles and joins here"),
      (5L, "spark shuffles and joins here are completely different content about")
    ).toDF("doc_id", "text")
  }

  test("exactGroups finds exact duplicates deterministically") {
    import spark.implicits._
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .select("n_copies", "keep_id").as[(Long, Long)].collect().toSet
    assert(g.contains((2L, 1L))) // docs 1,2 collapse, min id kept
    assert(g.count(_._1 == 1L) === 3)
  }

  test("ngram jaccard finds exact and near dups, not unrelated docs") {
    import spark.implicits._
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.3)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 2L)) === 1.0)
    assert(m.contains((1L, 3L)) && m((1L, 3L)) < 1.0)
    assert(!m.contains((1L, 4L)) && !m.contains((2L, 4L)))
  }

  test("prefix-filtered jaccard join == naive join on a random corpus") {
    import spark.implicits._
    // random docs over a deliberately tiny vocabulary so shingles collide
    // heavily (the degenerate case prefix filtering exists for), with
    // mutated copies to create true near-dups
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val rnd = new scala.util.Random(5)
    val base = (0 until 60).map(i => (i.toLong, Seq.fill(12 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))))
    val mutated = base.take(20).map { case (id, toks) =>
      val t2 = toks.updated(rnd.nextInt(toks.size), vocab(rnd.nextInt(vocab.size)))
      (id + 1000, t2)
    }
    // length-diverse extremes: a short doc fully CONTAINED in a 7x longer
    // one (high containment, low Jaccard — the case the candidate join's
    // length filter prunes) plus its near-twin (a true pair that must
    // survive the filter)
    val shortToks = Seq.fill(15)(vocab(rnd.nextInt(vocab.size)))
    val longToks = shortToks ++ Seq.fill(90)(vocab(rnd.nextInt(vocab.size)))
    val extremes = Seq(
      (5000L, shortToks), (5001L, longToks),
      (5002L, longToks.updated(50, vocab(rnd.nextInt(vocab.size)))))
    val corpus = (base ++ mutated ++ extremes)
      .map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val naive = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, t)
        .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      val fast = Dedup.ngramJaccardPairsPrefix(corpus, "doc_id", "text", 3, t)
        .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(fast === naive, s"threshold $t")
      assert(naive.nonEmpty, s"test corpus produced no pairs at $t — weak test")
      assert(!naive.exists(p => p._1 == 5000L && p._2 == 5001L),
        "containment pair is below every threshold (sanity)")
      assert(naive.exists(p => p._1 == 5001L && p._2 == 5002L) == (t <= 0.8),
        s"long near-twins pair up to 0.8 (sanity at $t)")
    }
  }

  test("containment pairs: directed, catches subsumption Jaccard misses, == brute force") {
    import spark.implicits._
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val rnd = new scala.util.Random(11)
    val base = (0 until 50).map(i =>
      (i.toLong, Seq.fill(12 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))))
    // the asymmetric case: a short doc whose every shingle lives inside a
    // 7x longer container — C(short, long) = 1.0, J ≈ 0.12
    val shortToks = Seq.fill(15)(vocab(rnd.nextInt(vocab.size)))
    val longToks = shortToks ++ Seq.fill(90)(vocab(rnd.nextInt(vocab.size)))
    val corpus = (base ++ Seq((9000L, shortToks), (9001L, longToks)))
      .map { case (id, toks) => (id, toks.mkString(" ")) }.toDF("doc_id", "text")
    val got = Dedup.ngramContainmentPairs(corpus, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.exists(p => p._1 == 9000L && p._2 == 9001L && p._3 === 1.0),
      s"short doc is fully contained in its container: $got")
    assert(!got.exists(p => p._1 == 9001L && p._2 == 9000L),
      "containment is DIRECTED: the container is not contained")
    // brute force over the driver: same shingling, same threshold
    def sh(toks: Seq[String]) = toks.sliding(3).map(_.mkString(" ")).toSeq.distinct.toSet
    val all = (base ++ Seq((9000L, shortToks), (9001L, longToks)))
      .filter(_._2.size >= 3).map { case (id, t) => id -> sh(t) }
    val truth = (for {
      (ia, sa) <- all; (ib, sb) <- all if ia != ib
      c = sa.intersect(sb).size.toDouble / sa.size if c >= 0.8
    } yield (ia, ib, BigDecimal(c).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(got === truth, "prefix-pruned candidates lose no true pair")
    // jaccard at the same threshold does NOT see the subsumption
    val j = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(!j.exists(p => Set(p._1, p._2) == Set(9000L, 9001L)),
      "symmetric jaccard is blind to the contained doc")
  }

  test("prefix bounds survive the exact-threshold float boundary") {
    import spark.implicits._
    // C(A,B) = 4/5 = t exactly with (1-t)|A| = 1 an exact integer: the
    // unguarded floor(5 * 0.1999...) = 0 gave a 1-gram prefix and lost
    // this pair (surfaced by the sf0.1 oracle leg, rows 511 != 512)
    val a = "a b c d e f g"                   // 5 shingles
    val b = "a b c d e f x p q r s t u v w"   // shares exactly 4 of them
    val got = Dedup.ngramContainmentPairs(
      Seq((1L, a), (2L, b)).toDF("doc_id", "text"), "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.contains((1L, 2L, 0.8)), s"C = t exactly must survive: $got")

    // J(A,B) = 4/5 = t exactly with |A|=4, |B|=5 (A ⊆ B): both the
    // ceil(t*n) prefix and the min >= t*max length filter sit on the
    // same boundary
    val ja = "a b c d e f"       // 4 shingles
    val jb = "a b c d e f g"     // 5 shingles, superset
    val jg = Dedup.ngramJaccardPairsPrefix(
      Seq((1L, ja), (2L, jb)).toDF("doc_id", "text"), "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(jg.contains((1L, 2L, 0.8)), s"J = t exactly must survive: $jg")
  }

  test("minhash signature agreement tracks jaccard similarity") {
    import spark.implicits._
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", n = 3, k = 64)
      .as[(Long, Seq[Long])].collect().toMap
    def agree(a: Long, b: Long): Double =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y }.toDouble / 64
    assert(agree(1L, 2L) === 1.0)      // identical docs -> identical sigs
    assert(agree(1L, 3L) > 0.5)        // near dup -> high agreement
    assert(agree(1L, 4L) < 0.4)        // unrelated -> low agreement
  }

  test("minhash LSH pairs surface the duplicate cluster only") {
    import spark.implicits._
    // narrow bands (2 rows) -> ~(1-(1-s^2)^32) candidate recall: >99.9%
    // at the near-dup pair's s~0.5
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", n = 3, k = 64, bands = 32, minAgree = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._2 == 4L && p._1 <= 3L))
  }

  test("minhash accuracy artifact: exact dup has zero error, bounds hold") {
    import spark.implicits._
    val acc = Dedup.minHashAccuracy(docs, "doc_id", "text")
      .select("doc_a", "doc_b", "sig_agree", "est_j_bp", "exact_j_bp", "err_bp")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(acc.nonEmpty)
    // the exact duplicate pair: identical shingles => identical
    // signatures => estimate 10000 == truth, zero error
    val dup = acc.find(r => r._1 == 1L && r._2 == 2L).get
    assert(dup._3 === 64L && dup._4 === 10000L && dup._5 === 10000L && dup._6 === 0L)
    // invariants: bp values in range, err is the absolute gap
    assert(acc.forall(r => r._4 >= 0 && r._4 <= 10000 &&
      r._5 >= 0 && r._5 <= 10000 && r._6 === math.abs(r._4 - r._5)))
    // every reported pair passed the agreement floor
    assert(acc.forall(_._3 >= 32L))
  }

  test("source overlap: planted overlap measured exactly, pairs once, a < b") {
    import spark.implicits._
    val corpus = Seq(
      // src A and B share exactly the 'x y z w' block (2 shingles);
      // src C shares nothing with either
      (1L, "A", "x y z w one two three"),
      (2L, "B", "x y z w four five six"),
      (3L, "C", "seven eight nine ten eleven")
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlap(corpus, "source", "text")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // A: 5 shingles, B: 5, common = {x y z, y z w} = 2; J = 2/8
    assert(got(("A", "B")) === ((2L, 2500L)))
    // every choose-2 pair reports exactly once, a < b; a fully disjoint
    // pair is a (0, 0) FINDING, not a missing row — in a contamination
    // report "no overlap" must be distinguishable from "source absent"
    assert(got.size === 3, "3 sources -> 3 pairs, zero-overlap included")
    assert(got(("A", "C")) === ((0L, 0L)))
    assert(got(("B", "C")) === ((0L, 0L)))
  }

  test("simhash: identical docs get identical hashes; near dups are close") {
    import spark.implicits._
    val hs = Dedup.simHash(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(hs(1L) === hs(2L))
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(hs(a) ^ hs(b))
    assert(ham(1L, 3L) <= 16)
    assert(ham(1L, 3L) < ham(1L, 4L))
  }

  test("minhash kernel is bit-identical to the Column-expression form") {
    import spark.implicits._
    val k = 16
    val p = 2147483647L
    val rnd = new scala.util.Random(42)
    val coeffs = Seq.fill(k)((1 + rnd.nextInt(Int.MaxValue - 1)).toLong -> rnd.nextInt(Int.MaxValue).toLong)
    val mk = udf((toks: Seq[String]) =>
      if (toks.length < 3) Seq.empty[String]
      else toks.sliding(3).map(_.mkString(" ")).toSeq.distinct)
    val base = docs.select(col("doc_id"), mk(split(col("text"), " ")).as("shingles"))
      .where(size(col("shingles")) > 0)
      .select(col("doc_id"), transform(col("shingles"),
        s => pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"), lit(p))).as("hs"))
    val sigCols = coeffs.zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(col("hs"), h => pmod(h * a + b, lit(p)))).as(s"h$i")
    }
    val expected = base.select(col("doc_id"), array(sigCols: _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val got = Dedup.minHashSignatures(docs, "doc_id", "text", n = 3, k = k,
      hashFamily = "md5")
      .as[(Long, Seq[Long])].collect().toMap
    assert(got === expected)
  }

  test("both hash families surface the definitive near-dup cluster") {
    import spark.implicits._
    // exact per-pair agreement is a random variable of the hash family
    // (docs 4/5 sit at true J=5/11, borderline at minAgree=0.5), so only
    // the definitive relationships are asserted per family
    for (fam <- Seq("xx64", "md5")) {
      val ps = Dedup.minHashLshPairs(docs, "doc_id", "text", n = 3, k = 64,
        bands = 32, minAgree = 0.5, hashFamily = fam)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(ps.contains((1L, 2L)), fam) // exact dup: agreement 1.0
      assert(ps.contains((1L, 3L)) || ps.contains((2L, 3L)), fam)
      assert(!ps.exists(p => p._2 == 4L && p._1 <= 3L), fam) // unrelated
    }
  }

  test("simhash kernel is bit-identical to the Column-expression form") {
    import spark.implicits._
    // the reference (pre-kernel) formulation: 60 aggregate lambdas over
    // the md5-60-bit token hash — kept here as the ground truth the
    // one-pass kernel must reproduce exactly (same pair set downstream)
    val hashed = docs.select(
      col("doc_id"),
      transform(array_distinct(split(col("text"), " ")),
        t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")).as("hs"))
    val bitCols = (0 until 60).map { j =>
      val vote = aggregate(
        col("hs"), lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(vote > 0, shiftleft(lit(1L), j)).otherwise(0L)
    }
    val expected = hashed.select(col("doc_id"), bitCols.reduce(_.bitwiseOR(_)).as("simhash"))
      .as[(Long, Long)].collect().toMap
    val got = Dedup.simHash(docs, "doc_id", "text", hashFamily = "md5")
      .as[(Long, Long)].collect().toMap
    assert(got === expected)
  }

  test("clean-corpus pipeline: each gate cuts its planted victim") {
    import spark.implicits._
    val good = (1 to 20).map(i => s"the w$i " + (1 to 12).map(j => s"tok${i}_$j").mkString(" "))
    val contaminatedGram = (1 to 13).map(i => s"c$i").mkString(" ")
    val corpus = (
      good.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++ Seq(
        (100L, good.head),                         // exact dup of doc 0 -> cut
        (101L, "the start " + contaminatedGram),   // owns the gram (lowest id)
        (102L, "the other " + contaminatedGram),   // contamination victim -> cut
        (103L, "the a of tiny"),                   // too few tokens -> cut
        (104L, "der der der " + (1 to 12).map(j => s"de$j").mkString(" ")) // lang gate -> cut
      )).toDF("doc_id", "text")
    val out = Pipeline.cleanCorpus(corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert((0L until 20L).toSet.subsetOf(out))
    assert(out.contains(101L), "gram keeper survives")
    assert(!out.contains(100L), "exact dup cut")
    assert(!out.contains(102L), "contamination victim cut")
    assert(!out.contains(103L), "quality gate cut")
    assert(!out.contains(104L), "language gate cut")
  }

  test("connected components resolve transitive duplicate clusters") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter forces multi-round convergence), clique
    // 10-11-12, isolated pair 20-21; 30 appears in no pair -> no row
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)
    ).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(got === Set(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
    // keepers are exactly the cluster representatives
    assert(got.filter { case (d, c) => d == c }.map(_._1) === Set(1L, 10L, 20L))

    // long chain (diameter 63): pointer jumping keeps iterations low
    val chain = (0 until 63).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(chain, "doc_a", "doc_b", maxIters = 12)
      .as[(Long, Long)].collect()
    assert(cc.length === 64 && cc.forall(_._2 === 0L),
      "64-node chain must fully converge within 12 rounds")
  }

  test("connected components refuse to return unconverged labels") {
    import spark.implicits._
    // diameter 63 cannot converge in 1 iteration: throw by default...
    val chain = (0 until 63).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "doc_a", "doc_b", maxIters = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    // ...and return over-segmented (never over-merged) labels when the
    // caller opts out
    val partial = Dedup.connectedComponents(chain, "doc_a", "doc_b",
      maxIters = 1, requireConvergence = false).as[(Long, Long)].collect()
    assert(partial.length === 64)
    assert(partial.forall { case (d, c) => c <= d }, "labels only ever decrease")
  }

  test("duplicated spans merge overlapping and adjacent cuts, count kept tokens") {
    import spark.implicits._
    val corpus = Seq(
      // "a b c" and "b c d" duplicated across docs 1/2 (n=3)
      (1L, "a b c d e f"),        // spans [0,2]+[1,3] overlap -> [0,3]
      (2L, "x a b c y b c d z"),  // spans [1,3], [5,7]: gap -> 2 spans
      // "p q r" and "s t u" duplicated across docs 3/4
      (3L, "p q r s t u"),        // spans [0,2]+[3,5] ADJACENT -> one cut [0,5]
      (4L, "p q r z z z s t u"),  // spans [0,2], [6,8]: gap -> 2 spans
      (5L, "m n o"),              // no duplicated gram
      (6L, "k")                   // shorter than n: no grams at all
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(corpus, "doc_id", "text", n = 3)
      .select("doc_id", "n_tokens", "n_spans", "tokens_removed", "tokens_kept")
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 6L, 1L, 4L, 2L)))
    assert(got(2L) === ((2L, 9L, 2L, 6L, 3L)))
    assert(got(3L) === ((3L, 6L, 1L, 6L, 0L)))
    assert(got(4L) === ((4L, 9L, 2L, 6L, 3L)))
    assert(got(5L) === ((5L, 3L, 0L, 0L, 3L)))
    assert(got(6L) === ((6L, 1L, 0L, 0L, 1L)))
  }

  test("duplicated spans match a brute-force oracle on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Array("a", "b", "c", "d", "e")
    // tiny vocab + short grams force heavy cross-doc gram collisions,
    // nested/overlapping/adjacent spans included
    val corpus = (0 until 40).map { id =>
      val len = 1 + rnd.nextInt(12)
      (id.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val n = 3
    val gramCount = scala.collection.mutable.Map.empty[String, Int]
    val toks = corpus.map { case (id, text) => id -> text.split(" ", -1).toSeq }
    toks.foreach { case (_, t) =>
      t.sliding(n).filter(_.length == n).map(_.mkString(" "))
        .foreach(g => gramCount(g) = gramCount.getOrElse(g, 0) + 1)
    }
    val expected = toks.map { case (id, t) =>
      val covered = Array.fill(t.length)(false)
      if (t.length >= n)
        t.sliding(n).zipWithIndex.foreach { case (w, i) =>
          if (w.length == n && gramCount(w.mkString(" ")) > 1)
            (i until i + n).foreach(covered(_) = true)
        }
      // count maximal covered runs; adjacent spans fuse by construction
      val spans = covered.foldLeft((0, false)) { case ((k, in), c) =>
        if (c && !in) (k + 1, true) else (k, c)
      }._1
      (id, t.length.toLong, spans.toLong, covered.count(identity).toLong,
        (t.length - covered.count(identity)).toLong)
    }.toSet
    val got = Dedup.duplicatedSpans(corpus.toDF("doc_id", "text"), "doc_id", "text", n = n)
      .select("doc_id", "n_tokens", "n_spans", "tokens_removed", "tokens_kept")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("bloom decontaminate == exact decontaminate on a random corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Array("a", "b", "c", "d", "e", "f")
    val corpus = (0 until 60).map { id =>
      val len = 2 + rnd.nextInt(10)
      (id.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val left = corpus.where(col("doc_id") % 5 =!= 0)
    val bench = corpus.where(col("doc_id") % 5 === 0)
    val exact = Dedup.decontaminate(left, bench, "doc_id", "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    // high fpp on purpose: the exact-verify join must absorb false
    // positives, so even a sloppy sketch yields identical output
    val bloom = Dedup.bloomDecontaminate(left, bench, "doc_id", "text", n = 3, fpp = 0.2)
      .select("doc_id").as[Long].collect().toSet
    assert(bloom === exact)
  }

  test("duplicatedSpans treats null/short text as gram-free, not an NPE") {
    import spark.implicits._
    val d = Seq((1L, "a b c a b c"), (2L, null.asInstanceOf[String]), (3L, "x"))
      .toDF("doc_id", "text")
    // must not throw; null/short docs produce no grams -> zero spans
    val spans = Dedup.duplicatedSpans(d, "doc_id", "text", n = 3)
      .select("doc_id", "n_spans").as[(Long, Long)].collect().toMap
    assert(spans(2L) === 0L && spans(3L) === 0L)
  }

  test("incremental dedup: batch keeper wins, history dups drop, fresh docs keep") {
    import spark.implicits._
    val history = Seq((100L, "seen before text here")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "seen before text here"),   // dup of history -> drop
      (2L, "fresh new content one"),   // fresh -> keep
      (3L, "fresh new content one"),   // within-batch dup of 2 -> drop
      (4L, "another fresh document")   // fresh -> keep
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalExact(batch,
      Dedup.exactFingerprintIndex(history, "text"), "doc_id", "text")
      .as[Long].collect().toSet
    assert(got === Set(2L, 4L))
  }

  test("incremental dedup against a BUCKETED index: history side plans no exchange") {
    import spark.implicits._
    val history = (0 until 300).map(i => (i.toLong, s"hist doc $i body"))
      .toDF("doc_id", "text")
    val batch = (300 until 400).map(i => (i.toLong, s"batch doc $i body"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("fpidx").toString
    graft.sources.Bucketed.write(
      Dedup.exactFingerprintIndex(history, "text"),
      "t_fp_index", s"$dir/fps", bucketCols = Seq("fp"), buckets = 4)
    // disable broadcast so the test exercises the shuffle layout the
    // bucketing exists for (at 100 TB the index never broadcasts)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = Dedup.incrementalExact(
        batch, spark.table("t_fp_index"), "doc_id", "text")
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("t_fp_index"), plan)
      // ONE exchange total: the batch keeper agg's hashpartitioning(fp)
      // doubles as the join alignment; the bucketed history scan already
      // satisfies the join partitioning, so it contributes none (a
      // re-shuffled history would show a second exchange)
      assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
        s"expected exactly the batch-side shuffle:\n$plan")
      assert(out.count() === 100)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS t_fp_index")
    }
  }

  test("incremental minhash: history near-dups and in-batch near-dups drop, fresh keep") {
    import spark.implicits._
    val history = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "totally different history content goes right here")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // = history 100 -> drop
      (2L, "fresh unique content nobody has ever written"),  // keep
      (4L, "fresh unique content nobody has ever written"),  // in-batch dup of 2 -> drop
      (5L, "another genuinely novel document body")          // keep
    ).toDF("doc_id", "text")
    val hSigs = Dedup.minHashSignatures(history, "doc_id", "text", n = 3, k = 8)
    val got = Dedup.incrementalMinHash(
      batch, hSigs, Dedup.minHashBandIndex(hSigs, k = 8, bands = 4),
      "doc_id", "text", n = 3, k = 8, bands = 4)
      .as[Long].collect().toSet
    assert(got === Set(2L, 5L))
  }

  test("incremental minhash against BUCKETED indexes: history sides plan no exchange") {
    import spark.implicits._
    val history = (0 until 300).map(i => (i.toLong, s"hist doc $i body words"))
      .toDF("doc_id", "text")
    val batch = (300 until 400).map(i => (i.toLong, s"batch doc $i body words"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    val hSigs = Dedup.minHashSignatures(history, "doc_id", "text", n = 3, k = 8)
    graft.sources.Bucketed.write(hSigs, "t_mh_sigs", s"$dir/sigs",
      bucketCols = Seq("doc_id"), buckets = 4)
    graft.sources.Bucketed.write(Dedup.minHashBandIndex(hSigs, k = 8, bands = 4),
      "t_mh_bands", s"$dir/bands", bucketCols = Seq("bh"), buckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the band probe: batch bands shuffle to the bucket layout; the
      // bucketed history scan satisfies the join partitioning itself
      val bSigs = Dedup.minHashSignatures(batch, "doc_id", "text", n = 3, k = 8)
      val probe = Dedup.minHashBandIndex(bSigs, k = 8, bands = 4)
        .join(spark.table("t_mh_bands").withColumnRenamed("doc_id", "h_id"), "bh")
      val probePlan = probe.queryExecution.executedPlan.toString
      assert(probePlan.contains("t_mh_bands"), probePlan)
      assert("Exchange hashpartitioning".r.findAllIn(probePlan).size === 1,
        s"expected only the batch-side band shuffle:\n$probePlan")
      // the signature verify join: same property on doc_id
      val sigJoin = probe.select(col("doc_id"), col("h_id")).distinct()
        .join(spark.table("t_mh_sigs")
          .withColumnRenamed("doc_id", "h_id").withColumnRenamed("sig", "hs"), "h_id")
      val sigPlan = sigJoin.queryExecution.executedPlan.toString
      assert(sigPlan.contains("t_mh_sigs"), sigPlan)
      // exchanges: band probe (1) + distinct (1) + re-align to h_id (1);
      // the bucketed t_mh_sigs side must not add one
      val nEx = "Exchange hashpartitioning".r.findAllIn(sigPlan).size
      assert(nEx <= 3, s"bucketed sig index must not re-shuffle ($nEx exchanges):\n$sigPlan")
      // end-to-end result is right regardless of layout
      val out = Dedup.incrementalMinHash(batch,
        spark.table("t_mh_sigs"), spark.table("t_mh_bands"),
        "doc_id", "text", n = 3, k = 8, bands = 4)
      assert(out.count() === 100, "no cross-set near-dups planted")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS t_mh_sigs")
      spark.sql("DROP TABLE IF EXISTS t_mh_bands")
    }
  }

  test("index compaction: segments + replay dups collapse to a bucketed no-exchange index") {
    import spark.implicits._
    val docs = (0 until 200).map(i => (i.toLong, s"doc $i some body words here"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", n = 3, k = 8)
    // simulate a streaming index: three appended segments, the second
    // replayed (foreachBatch at-least-once) so rows are duplicated
    for (lo <- Seq(0L, 80L, 80L, 140L)) {
      val seg = sigs.where(col("doc_id") >= lo && col("doc_id") < lo + 80)
      seg.write.mode("append").parquet(s"$dir/sigs")
      Dedup.minHashBandIndex(seg, k = 8, bands = 4)
        .write.mode("append").parquet(s"$dir/bands")
    }
    val rawBands = spark.read.parquet(s"$dir/bands")
    assert(rawBands.count() > rawBands.dropDuplicates("bh", "doc_id").count(),
      "the replayed segment must produce duplicate index rows")
    Dedup.compactBandIndex(spark, s"$dir/bands", "t_c_bands", s"$dir/bands_c", buckets = 4)
    Dedup.compactSignatureIndex(spark, s"$dir/sigs", "t_c_sigs", s"$dir/sigs_c", buckets = 4)
    try {
      // contents: exactly the distinct rows, replay dups gone
      val want = rawBands.dropDuplicates("bh", "doc_id")
        .as[(Long, Long)].collect().toSet
      val got = spark.table("t_c_bands").as[(Long, Long)].collect().toSet
      assert(got === want)
      assert(spark.table("t_c_sigs").count() === 200)
      // files: segment sprawl compacted to <= buckets data files
      val files = new java.io.File(s"$dir/bands_c").listFiles()
        .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      assert(files <= 4, s"expected <= 4 bucket files, found $files")
      // the probe against the compacted index keeps the no-exchange
      // contract: only the batch side shuffles
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val batch = (500 until 520).map(i => (i.toLong, s"new doc $i words here"))
          .toDF("doc_id", "text")
        val bSigs = Dedup.minHashSignatures(batch, "doc_id", "text", n = 3, k = 8)
        val probe = Dedup.minHashBandIndex(bSigs, k = 8, bands = 4)
          .join(spark.table("t_c_bands").withColumnRenamed("doc_id", "h_id"), "bh")
        val plan = probe.queryExecution.executedPlan.toString
        assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
          s"compacted index must not re-shuffle:\n$plan")
        // end-to-end: incremental dedup over the compacted index equals
        // the run over the raw segment directory
        val overRaw = Dedup.incrementalMinHash(batch,
          spark.read.parquet(s"$dir/sigs"), rawBands,
          "doc_id", "text", n = 3, k = 8, bands = 4)
          .as[Long].collect().toSet
        val overCompacted = Dedup.incrementalMinHash(batch,
          spark.table("t_c_sigs"), spark.table("t_c_bands"),
          "doc_id", "text", n = 3, k = 8, bands = 4)
          .as[Long].collect().toSet
        assert(overCompacted === overRaw)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_c_bands")
      spark.sql("DROP TABLE IF EXISTS t_c_sigs")
    }
  }

  test("cluster keepers: longest member wins, ties to min id, singletons self-keep") {
    import spark.implicits._
    val docs = Seq(
      (1L, "short doc"),                       // cluster {1,2,3}
      (2L, "a much longer duplicate document"),// longest -> keeper
      (3L, "short doc again"),
      (7L, "tie a b"), (8L, "tie c d"),        // cluster {7,8}: equal length -> min id 7
      (9L, "unpaired singleton text")          // no pair -> own cluster
    ).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_id")
    val got = Dedup.clusterKeepers(docs, clusters, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) === ((3L, 2L, 5L)), "longest member (doc 2, 5 tokens) wins")
    assert(got(7L) === ((2L, 7L, 3L)), "length tie breaks to the lowest id")
    assert(got(9L) === ((1L, 9L, 3L)), "unpaired doc is its own singleton cluster")
    // skew posture: partial+final agg, never a window over cluster_id
    val plan = Dedup.clusterKeepers(docs, clusters, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"partial+final expected:\n$plan")
  }

  test("simhash LSH pair finder obeys hamming cap") {
    import spark.implicits._
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.forall(_._3 <= 3))
    assert(pairs.map(p => (p._1, p._2)).contains((1L, 2L)))
  }

  test("md5 hash pair words match the oracle's hex substrings") {
    import spark.implicits._
    val vals = Seq("the", "quick brown", "x", "jumps over the lazy dog")
    val expected = vals.toDF("s").select(
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long"),
        conv(substring(md5(col("s")), 16, 15), 16, 10).cast("long"))
      .as[(Long, Long)].collect()
    vals.zip(expected).foreach { case (s, (lo, hi)) =>
      assert(Dedup.md5Hash60(s) === lo, s)
      assert(Dedup.md5Hash60Hi(s) === hi, s)
    }
  }

  // the scaled path's whole claim: candidate generation at ANY chunk
  // width loses no pair of the 120-bit Hamming ball (pigeonhole over
  // disjoint chunks), and the exact verify makes the output set EQUAL
  // to brute force — checked on a random near-dup-rich corpus for both
  // hash families
  test("simHashPairsScaled == brute-force 120-bit hamming pairs (exact recall)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "lam", "mu")
    val base = (0 until 40).map { i =>
      (i.toLong, Array.fill(14)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // exact dups (hamming 0) + one-token edits (small hamming)
    val edits = base.take(10).map { case (id, t) =>
      val toks = t.split(" "); toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.length))
      (id + 100L, toks.mkString(" "))
    }
    val dups = base.take(5).map { case (id, t) => (id + 200L, t) }
    val corpus = (base ++ edits ++ dups).toDF("doc_id", "text")
    for (fam <- Seq("md5", "xx64")) {
      val sketches = Dedup.simHash120(corpus, "doc_id", "text", fam)
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      val brute = (for {
        i <- sketches.indices; j <- (i + 1) until sketches.length
        (ia, la, ha) = sketches(i); (ib, lb, hb) = sketches(j)
        d = java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb)
        if d <= 3
      } yield (ia, ib, d)).toSet
      val got = Dedup.simHashPairsScaled(corpus, "doc_id", "text",
          maxHamming = 3, hashFamily = fam, targetOccupancy = 8L)
        .as[(Long, Long, Int)].collect().toSet
      assert(got === brute, fam)
      assert(got.nonEmpty, s"$fam: planted exact dups must pair")
    }
  }

  test("simHashPairsCollapsed conserves pair mass and collapses dup classes") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // vocab large enough that distinct-token SETS don't collide across
    // base docs (the sketch only sees the distinct set — a tiny vocab
    // merges unrelated docs into one class)
    val vocab = Array.tabulate(40)(i => s"w$i")
    val base = (0 until 30).map { i =>
      (i.toLong, Array.fill(14)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // heavy duplicate classes: each of the first 6 docs copied 5x — the
    // regime where the doc-level pair contract goes quadratic
    val dups = for (i <- 0 until 6; c <- 1 to 5)
      yield (100L + i * 10 + c, base(i)._2)
    val corpus = (base ++ dups).toDF("doc_id", "text")
    for (fam <- Seq("md5", "xx64")) {
      val flat = Dedup.simHashPairsScaled(corpus, "doc_id", "text",
        hashFamily = fam).as[(Long, Long, Int)].collect()
      val coll = Dedup.simHashPairsCollapsed(corpus, "doc_id", "text",
        hashFamily = fam).as[(Long, Long, Int, Long)].collect()
      // exact mass conservation: the collapsed weights sum to the flat
      // pair count
      assert(coll.map(_._4).sum === flat.length.toLong, fam)
      // per-hamming mass also conserved (0-hamming includes both the
      // within-class choose-2 rows and identical-sketch cross classes)
      val flatByH = flat.groupBy(_._3).view.mapValues(_.length.toLong).toMap
      val collByH = coll.groupBy(_._3).view.mapValues(_.map(_._4).sum).toMap
      assert(collByH === flatByH, fam)
      // each 6-member class contributes one (rep, rep, 0, 15) row
      val within = coll.filter(p => p._1 == p._2).map(p => p._1 -> p._4).toMap
      (0 until 6).foreach { i =>
        assert(within(i.toLong) === 15L, s"$fam class of 6: choose-2 = 15")
      }
      // output is strictly smaller than the flat contract on a dup-heavy
      // corpus — the entire point
      assert(coll.length < flat.length, fam)
    }
  }

  // word 1 of hashFn2 is hashFn for both families, so the 60-bit sketch
  // is the low word of the 120-bit one — one bit-vote kernel serves both
  test("simHash equals simHash120's sh_lo bit for bit (md5, xx64)") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val vocab = Array.tabulate(50)(i => s"t$i")
    val corpus = ((0 until 60).map { i =>
      (i.toLong, Array.fill(1 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    } :+ ((60L, ""))).toDF("doc_id", "text")
    for (fam <- Seq("md5", "xx64")) {
      val narrow = Dedup.simHash(corpus, "doc_id", "text", fam)
        .as[(Long, Long)].collect().toMap
      val wide = Dedup.simHash120(corpus, "doc_id", "text", fam)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
      assert(narrow.size === 61, fam)
      assert(narrow === wide, fam)
    }
  }

  test("simhash pair functions keep their output schemas") {
    import org.apache.spark.sql.types._
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(shape(Dedup.simHashPairs(docs, "doc_id", "text")) ===
      Seq("doc_a" -> LongType, "doc_b" -> LongType, "hamming" -> IntegerType))
    assert(shape(Dedup.simHashPairsScaled(docs, "doc_id", "text")) ===
      Seq("doc_a" -> LongType, "doc_b" -> LongType, "hamming" -> IntegerType))
    assert(shape(Dedup.simHashPairsCollapsed(docs, "doc_id", "text")) ===
      Seq("rep_a" -> LongType, "rep_b" -> LongType, "hamming" -> IntegerType,
        "weight" -> LongType))
  }

  test("simHashPairsScaled oversized-bucket guard observes, never drops") {
    import spark.implicits._
    val baseline = Dedup.simHashPairsScaled(docs, "doc_id", "text",
      hashFamily = "md5").as[(Long, Long, Int)].collect().toSet
    val guarded = Dedup.simHashPairsScaled(docs, "doc_id", "text",
      hashFamily = "md5", maxBucketRows = 0L).as[(Long, Long, Int)].collect().toSet
    assert(guarded === baseline, "guard must not change the result")
    assert(Dedup.lastOversizedChunks.exists(_.value > 0),
      "every bucket oversized at maxBucketRows=0: the accumulator must fire")
  }

  // same fold order as the ivfCells / cosine_sim kernels (sequential
  // index-order dot and norm accumulation) so the reference is
  // bit-identical, not merely close
  private def refCos(a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("semanticPrune == naive dominance reference on a clustered corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 8
    val anchors = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian()))
    // points = anchor + small noise so ε-neighborhoods exist, plus exact
    // duplicates (the guaranteed-prunable rows)
    val base = (0 until 80).map { i =>
      val a = anchors(i % 4)
      (i.toLong, a.map(x => x + rnd.nextGaussian() * 0.15).toSeq)
    }
    val dups = base.take(8).map { case (id, v) => (id + 1000L, v) }
    val all = base ++ dups
    val cent = anchors.zipWithIndex.map { case (a, i) => ((i + 1).toLong, a) }.toSeq
    val tau = 0.9
    val got = Dedup.semanticPrune(
        all.toDF("vec_id", "embedding"), "vec_id", "embedding", cent, tau)
      .select("vec_id", "cell", "kept").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // naive reference: nearest centroid (max cos, tie lower cid), pruned
    // iff any same-cell ε-neighbor has (lower c2c) or (equal c2c, lower id)
    val cellOf = all.map { case (id, v) =>
      id -> cent.map { case (cid, c) => (cid, refCos(v, c.toSeq)) }
        .reduceLeft((x, y) => if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x)
    }.toMap
    all.foreach { case (id, v) =>
      val (cell, c2c) = cellOf(id)
      val prunedRef = all.exists { case (oid, ov) =>
        oid != id && cellOf(oid)._1 == cell && {
          val oc2c = cellOf(oid)._2
          (oc2c < c2c || (oc2c == c2c && oid < id)) && refCos(v, ov) >= tau
        }
      }
      assert(got(id)._1 === cell, s"cell mismatch for $id")
      assert(got(id)._2 === (if (prunedRef) 0L else 1L), s"kept mismatch for $id")
    }
    // every exact duplicate (higher id, identical vector) must be pruned
    dups.foreach { case (id, _) => assert(got(id)._2 === 0L, s"dup $id survived") }
    assert(got.values.count(_._2 == 1L) >= 4, "at least one keeper per cell")
  }

  test("semanticPrune dominance is per-pair: a pruned node still prunes its neighbors") {
    import spark.implicits._
    // single centroid at angle 0; a at 60 deg (lowest c2c -> kept),
    // b at 45, c at 30. tau = 0.9 sits between cos(15 deg) and cos(30 deg):
    // edges a-b and b-c only. b pruned by a; c pruned by b EVEN THOUGH b
    // itself is pruned — the dominance (not CC-representative) semantics.
    def at(deg: Double) = { val r = math.toRadians(deg); Seq(math.cos(r), math.sin(r)) }
    val df = Seq((1L, at(60)), (2L, at(45)), (3L, at(30))).toDF("vec_id", "embedding")
    val res = Dedup.semanticPrune(df, "vec_id", "embedding",
        Seq((1L, Array(1.0, 0.0))), threshold = 0.9)
      .select("vec_id", "kept").as[(Long, Long)].collect().toMap
    assert(res === Map(1L -> 1L, 2L -> 0L, 3L -> 0L))
  }

  test("semanticPrune: oversized cell fires the scale-guard accumulator, output unchanged") {
    import spark.implicits._
    // 6 vectors land in centroid 1's cell, 1 in centroid 2's; a bound of
    // 4 makes exactly one cell oversized. The guard observes — it must
    // not change a single output row.
    def at(deg: Double) = { val r = math.toRadians(deg); Seq(math.cos(r), math.sin(r)) }
    val df = ((1 to 6).map(i => (i.toLong, at(i * 2.0))) :+ (7L, at(180.0)))
      .toDF("vec_id", "embedding")
    val cent = Seq((1L, Array(1.0, 0.0)), (2L, Array(-1.0, 0.0)))
    val unguarded = Dedup.semanticPrune(df, "vec_id", "embedding", cent, 0.99)
      .select("vec_id", "cell", "kept").as[(Long, Long, Long)].collect().toSet
    val guarded = Dedup.semanticPrune(df, "vec_id", "embedding", cent, 0.99,
        maxCellRows = 4L)
      .select("vec_id", "cell", "kept").as[(Long, Long, Long)].collect().toSet
    assert(guarded === unguarded, "guard is observational only")
    assert(Dedup.lastOversizedCells.exists(_.value === 1L),
      "exactly the 6-row cell crossed the bound")
    // generous bound: no warning
    Dedup.semanticPrune(df, "vec_id", "embedding", cent, 0.99, maxCellRows = 100L)
      .collect()
    assert(Dedup.lastOversizedCells.exists(_.value === 0L))
  }

  test("semanticPrune: null embedding degrades to (cell -1, kept)") {
    import spark.implicits._
    val df = Seq((1L, Option(Seq(1.0, 0.0))), (2L, None: Option[Seq[Double]]))
      .toDF("vec_id", "embedding")
    val res = Dedup.semanticPrune(df, "vec_id", "embedding",
        Seq((1L, Array(1.0, 0.0))), threshold = 0.5)
      .select("vec_id", "cell", "kept").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(res(2L) === ((-1L, 1L)))
    assert(res(1L) === ((1L, 1L)))
  }

  test("contaminationScore: exact integer fractions, consistent with decontaminate") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d"),       // grams {abc,bcd}; abc hits -> 1/2 = 5000 bp
      (2L, "x y z w v"),     // 3 grams, no hits -> 0 bp
      (3L, "a b c"),         // 1 gram, hit -> 10000 bp
      (4L, "q r")            // < n tokens: no gram row at all
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c x q r")).toDF("doc_id", "text")
    val got = Dedup.contaminationScore(corpus, bench, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      1L -> ((2L, 1L, 5000L)),
      2L -> ((3L, 0L, 0L)),
      3L -> ((1L, 1L, 10000L))))
    // membership agreement: n_hit > 0 == "dropped by decontaminate"
    val keptByD6 = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    got.foreach { case (id, (_, nHit, _)) =>
      assert(keptByD6.contains(id) === (nHit == 0L), s"doc $id")
    }
  }
}
