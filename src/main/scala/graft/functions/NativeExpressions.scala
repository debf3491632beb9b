package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, QuaternaryExpression, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot scalar kernels (SURVEY.md
  * §2.9: "scalar math UDFs ... hot ones promotable to codegen'd
  * Expression"). Unlike a Scala UDF, these generate Java inline in
  * whole-stage codegen — no serialization boundary, no boxing, and the
  * optimizer can see through them (null propagation, constant folding).
  */

/** nfc_normalize(s): Unicode NFC normalization (canonical compose) —
  * the mandatory first pass before any text fingerprint/dedup hash at
  * corpus scale (é as one codepoint vs e+U+0301 must hash identically).
  * Standard-defined (UAX #15), so java.text.Normalizer and any other
  * conforming implementation produce byte-identical UTF-8 — the oracle
  * cross-checks against DuckDB's utf8proc. ASCII fast path: NFC is the
  * identity on pure-ASCII input, and `Normalizer.isNormalized` makes
  * that a scan without allocation, so the common crawl-document case
  * costs one pass and returns the input UTF8String unchanged.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(s: Any): Any =
    NfcNormalize.nfc(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** z_interleave(a, b): Morton/Z-order bit interleave of the low 31 bits
  * of two longs — the space-filling-curve key behind multi-dimensional
  * data clustering: sort/range-partition a 100 TB table by z(a, b) and
  * range predicates on EITHER dimension prune files, because curve
  * locality keeps both dimensions' nearby values in nearby files (the
  * layout trick behind Delta/Iceberg OPTIMIZE ZORDER). Bit i of each
  * input maps to bits 2i / 2i+1 — pure bit-twiddle (five mask-shift
  * rounds per operand), codegen'd inline, exactly replayable in any
  * engine as a per-bit sum.
  */
case class ZInterleave(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    ZInterleave.z(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ZInterleave.z($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZInterleave =
    copy(left = newLeft, right = newRight)
}

object ZInterleave {
  /** Spread the low 31 bits of x to even bit positions (bit i → 2i). */
  def spread(x0: Long): Long = {
    var x = x0 & 0x7FFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }
  def z(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)
}

/** z_interleave_n(a, b, c, ...): VARIADIC Morton interleave — the
  * N-dimensional generalization of [[ZInterleave]] (lakehouse OPTIMIZE
  * ZORDER routinely clusters 3–4 columns). The 63-bit key budget splits
  * evenly: each of the N inputs contributes its low ⌊63/N⌋ bits, bit i
  * of input j landing at output bit i·N + j — for N = 2 exactly
  * [[ZInterleave]]'s mapping, so the binary form is the N = 2 special
  * case, kept for its 5-round twiddle. Exactly replayable in any engine
  * as a per-bit sum (the c22-family oracle convention).
  *
  * RANGE CONTRACT: each input is silently TRUNCATED to its low
  * ⌊63/N⌋ bits — two values differing only above the per-dimension bit
  * budget alias to the same key (the layout still clusters, but the
  * aliased pairs sort adjacently regardless of their true distance).
  * Callers whose dimensions may exceed the budget should mask/bucket
  * upstream, or pass `checked = true` (SQL: `z_interleave_n_checked`)
  * to raise on the first out-of-range value instead of aliasing.
  */
case class ZInterleaveN(children: Seq[Expression], checked: Boolean = false)
    extends Expression with ImplicitCastInputTypes {
  require(children.size >= 2 && children.size <= 8,
    s"z_interleave_n takes 2..8 dimensions, got ${children.size}")
  override def inputTypes = Seq.fill(children.size)(LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val arr = new Array[Long](children.size)
    var i = 0
    while (i < arr.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      arr(i) = v.asInstanceOf[Long]
      if (checked) ZInterleaveN.check(arr(i), arr.length)
      i += 1
    }
    ZInterleaveN.z(arr)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val gens = children.map(_.genCode(ctx))
    val arr = ctx.freshName("zdims")
    val chk = if (checked)
      s"graft.functions.ZInterleaveN.check($arr[%d], ${children.size});" else ""
    val fills = gens.zipWithIndex
      .map { case (g, i) =>
        s"$arr[$i] = ${g.value};" + (if (checked) chk.format(i) else "")
      }.mkString("\n")
    val anyNull = gens.map(_.isNull.code).mkString(" || ")
    ev.copy(code = code"""
      ${gens.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = $anyNull;
      long ${ev.value} = 0L;
      if (!${ev.isNull}) {
        long[] $arr = new long[${children.size}];
        $fills
        ${ev.value} = graft.functions.ZInterleaveN.z($arr);
      }""")
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ZInterleaveN =
    copy(children = newChildren)
}

/** byte_sum(bin, off0, len): sum of UNSIGNED byte values over the slice
  * [off0, off0+len) of a binary column (0-based offset, clamped to the
  * payload bounds; len <= 0 → 0) — one fused primitive loop inside
  * whole-stage codegen. This replaces the hex-render + per-byte
  * conv(substr) HOF fold the frame-intensity pass originally ran: that
  * fold is interpreted per element and allocates a string pair per
  * byte, which at corpus scale costs more in GC than the arithmetic
  * (observed: the r13 sf1 bench inflating every CPU-bound row that ran
  * after the frame-table build). Values are identical by construction:
  * both compute Σ unsigned bytes of the slice.
  */
case class ByteSum(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(BinaryType, LongType, LongType)
  override def dataType: DataType = LongType
  override def nullSafeEval(bin: Any, off: Any, len: Any): Any =
    ByteSum.sum(bin.asInstanceOf[Array[Byte]],
      off.asInstanceOf[Long], len.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, o, l) =>
      s"graft.functions.ByteSum.sum($b, $o, $l)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): ByteSum =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object ByteSum {
  def sum(bin: Array[Byte], off0: Long, len: Long): Long = {
    if (bin == null || len <= 0) return 0L
    val start = math.max(0L, math.min(off0, bin.length.toLong)).toInt
    val end = math.min(bin.length.toLong, off0 + math.min(len, Int.MaxValue.toLong)).toInt
    var s = 0L
    var i = start
    while (i < end) { s += (bin(i) & 0xFF); i += 1 }
    s
  }
}

object ZInterleaveN {
  /** Bits each dimension keeps at N dimensions (⌊63/N⌋). */
  def bitsPer(n: Int): Int = 63 / n
  /** Raise when `v` needs more than the per-dimension bit budget (or is
    * negative — the sign bit survives no truncation): the `checked`
    * flavor's guard against silent key aliasing.
    */
  def check(v: Long, n: Int): Unit = {
    val bp = bitsPer(n)
    if (v < 0L || (v >>> bp) != 0L)
      throw new IllegalArgumentException(
        s"z_interleave_n_checked: value $v exceeds the $bp-bit budget of $n dimensions")
  }
  def z(xs: Array[Long]): Long = {
    val n = xs.length
    val bp = 63 / n
    var out = 0L
    var i = 0
    while (i < bp) {
      var j = 0
      while (j < n) {
        out |= ((xs(j) >>> i) & 1L) << (i * n + j)
        j += 1
      }
      i += 1
    }
    out
  }
}

object NfcNormalize {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** cosine_to_query(v): cosine similarity of an array<double> column
  * against a fixed query vector, as ONE fused codegen'd loop (dot and
  * norm accumulate together). The higher-order-function formulation
  * (aggregate ∘ zip_with) runs interpreted per row — the engine's
  * documented HOF landmine; this is the 100 TB-path replacement.
  * Accumulation order matches the HOF form exactly (per-element
  * left fold, independent accumulators), so results are bit-identical
  * to it and to DuckDB list_dot_product oracles.
  */
case class CosineToQuery(child: Expression, query: Seq[Double]) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  private lazy val qArr = query.toArray
  private lazy val qNorm = math.sqrt(qArr.map(x => x * x).sum)
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), qArr.length)
    var dot = 0.0
    var vn = 0.0
    var i = 0
    while (i < n) { val x = a.getDouble(i); dot += x * qArr(i); vn += x * x; i += 1 }
    dot / (math.sqrt(vn) * qNorm)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val q = ctx.addReferenceObj("qArr", qArr, "double[]")
      val dot = ctx.freshName("dot")
      val vn = ctx.freshName("vn")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      s"""
         |double $dot = 0.0; double $vn = 0.0;
         |int $n = java.lang.Math.min($c.numElements(), $q.length);
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $c.getDouble($i);
         |  $dot += $x * $q[$i]; $vn += $x * $x;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($vn) * ${qNorm}D);
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): CosineToQuery =
    copy(child = newChild)
}

/** cosine_sim(a, b): pairwise cosine of two array<double> columns, one
  * fused codegen'd loop — the similarity-join hot path (e3's exact
  * flavor is O(n²·d) evaluations; interpreted HOFs there dominate).
  * Same accumulation order as the HOF form: bit-identical results.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |int $n = java.lang.Math.min($l.numElements(), $r.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $l.getDouble($i); double $y = $r.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** fisher_phred(a, b, c, d): two-sided Fisher's exact test on the 2x2
  * table [[a, b], [c, d]], phred-scaled — the strand-bias annotation
  * (K10). Calls the SAME LogMath kernel the former per-row UDF wrapped,
  * so results are bit-identical to it; as an Expression it inlines into
  * whole-stage codegen (no serialization boundary, no boxing) and gets
  * standard null propagation. It runs once per CALLED SITE
  * (post-aggregation), not per read — the win is closing the last
  * UDF-where-an-Expression-fits, not a hot loop.
  */
case class FisherPhred(a: Expression, b: Expression, c: Expression, d: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  override def first: Expression = a
  override def second: Expression = b
  override def third: Expression = c
  override def fourth: Expression = d
  // Analyzer-coerced int inputs: non-integral args are cast (or rejected)
  // at analysis time instead of ClassCastException-ing in nullSafeEval.
  // (return type inferred: AbstractDataType is private[sql])
  override def inputTypes = Seq.fill(4)(IntegerType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(av: Any, bv: Any, cv: Any, dv: Any): Any =
    graft.kernels.LogMath.fisherExactPhred(
      av.asInstanceOf[Number].intValue(), bv.asInstanceOf[Number].intValue(),
      cv.asInstanceOf[Number].intValue(), dv.asInstanceOf[Number].intValue())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (av, bv, cv, dv) =>
      s"graft.kernels.LogMath.fisherExactPhred((int)$av, (int)$bv, (int)$cv, (int)$dv)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): FisherPhred =
    copy(a = newFirst, b = newSecond, c = newThird, d = newFourth)
}

/** genotype_log_likelihoods(copyNumber, qual, mapq): the genotype
  * likelihood model (SURVEY.md K7) of one observation row, as
  * `[allele 0..maxPloidy, other 0..maxPloidy]` — the same
  * [[graft.kernels.Likelihood]] kernel and the same doubles the
  * genotyper's generated score table used to hold (S9), zero above the
  * row's copy number as the table's padding was. Evaluated per row inside
  * whole-stage codegen, ε once per row, instead of joining a broadcast
  * table: the observations are compressed before scoring, so the table
  * saved no arithmetic and cost a plan-time relation and a broadcast job.
  */
case class GenotypeLogLikelihoods(
    copyNumber: Expression, qual: Expression, mapq: Expression, maxPloidy: Int)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def first: Expression = copyNumber
  override def second: Expression = qual
  override def third: Expression = mapq
  override def inputTypes = Seq.fill(3)(IntegerType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(cn: Any, q: Any, mq: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(graft.kernels.Likelihood.logLikelihoods(
      q.asInstanceOf[Int], mq.asInstanceOf[Int], cn.asInstanceOf[Int], maxPloidy))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (cn, q, mq) =>
      "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(" +
        s"graft.kernels.Likelihood.logLikelihoods($q, $mq, $cn, $maxPloidy))")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): GenotypeLogLikelihoods =
    copy(copyNumber = newFirst, qual = newSecond, mapq = newThird)
}

object NativeExpressions {

  def cosine_to_query(c: Column, query: Array[Double]): Column =
    ColumnBridge.column(CosineToQuery(ColumnBridge.expression(c), query.toSeq))

  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def nfc_normalize(c: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))

  def z_interleave(a: Column, b: Column): Column =
    ColumnBridge.column(ZInterleave(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def z_interleave_n(cols: Column*): Column =
    ColumnBridge.column(ZInterleaveN(cols.map(ColumnBridge.expression)))

  def byte_sum(bin: Column, off0: Column, len: Column): Column =
    ColumnBridge.column(ByteSum(ColumnBridge.expression(bin),
      ColumnBridge.expression(off0), ColumnBridge.expression(len)))

  def fisher_phred(a: Column, b: Column, c: Column, d: Column): Column =
    ColumnBridge.column(FisherPhred(
      ColumnBridge.expression(a), ColumnBridge.expression(b),
      ColumnBridge.expression(c), ColumnBridge.expression(d)))

  def genotype_log_likelihoods(copyNumber: Column, qual: Column, mapq: Column,
      maxPloidy: Int): Column =
    ColumnBridge.column(GenotypeLogLikelihoods(ColumnBridge.expression(copyNumber),
      ColumnBridge.expression(qual), ColumnBridge.expression(mapq), maxPloidy))

  /** Register for SQL use: SELECT cosine_sim(a, b) ... */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSim(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nfc_normalize", exprs => NfcNormalize(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "z_interleave", exprs => ZInterleave(exprs.head, exprs(1)), "built-in")
    // z_interleave_n TRUNCATES each input to its low floor(63/N) bits
    // (out-of-range values alias); the _checked flavor raises instead —
    // see the ZInterleaveN scaladoc for the range contract
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "z_interleave_n", exprs => ZInterleaveN(exprs), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "z_interleave_n_checked", exprs => ZInterleaveN(exprs, checked = true), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "byte_sum", exprs => ByteSum(exprs.head, exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "fisher_phred",
      exprs => FisherPhred(exprs.head, exprs(1), exprs(2), exprs(3)), "built-in")
  }
}
