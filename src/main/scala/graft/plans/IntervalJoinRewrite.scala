package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Automatic interval-join planning (SURVEY.md §4 item 1 — "the
  * load-bearing custom piece"): a raw overlap join
  *
  *   SELECT ... FROM l JOIN r ON l.s < r.e AND r.s < l.e [AND keys...]
  *
  * has no equi-condition, so Spark plans BroadcastNestedLoopJoin /
  * CartesianProduct — O(n·m). This optimizer rule detects the crossing
  * inequality pair, replicates each side to the fixed-width bins its
  * interval touches (Generate+Explode of a Sequence), equi-joins on the
  * bin (plus any equality keys already present), keeps the original
  * predicate as a residual, and dedups bin-duplicates by keeping only
  * the bin containing greatest(l.s, r.s). Same rewrite as
  * operators.IntervalJoin, but applied transparently to any matching
  * logical join — SQL included.
  *
  * Bin width: spark.graft.intervalJoin.binSize (default 1000).
  * Register: SparkSession.builder().withExtensions(new GraftExtensions)
  * or spark.sql.extensions=graft.plans.GraftExtensions.
  */
case class IntervalJoinRewrite() extends Rule[LogicalPlan] with PredicateHelper {

  private def binSize(): Double =
    conf.getConfString("spark.graft.intervalJoin.binSize", "1000").toDouble

  /** Strict one-sided attribute: belongs wholly to `side`. */
  private def sideOf(e: Expression, left: LogicalPlan, right: LogicalPlan): Option[Boolean] = {
    val refs = e.references
    if (refs.isEmpty) None
    else if (refs.subsetOf(left.outputSet)) Some(true)
    else if (refs.subsetOf(right.outputSet)) Some(false)
    else None
  }

  private def isOrderable(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == DoubleType ||
      e.dataType == org.apache.spark.sql.types.IntegerType

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      val conjuncts = splitConjunctivePredicates(cond)
      // accept strict AND non-strict bounds (SQL intervals are written
      // both ways); the ORIGINAL predicate rides as the residual, so the
      // rewrite only needs the bin replication to COVER matches — bins
      // are inclusive of both endpoints' bins, so <= changes nothing in
      // the coverage argument
      def boundsOf(e: Expression): Option[(Expression, Expression)] = e match {
        case LessThan(a, b)        => Some((a, b))
        case LessThanOrEqual(a, b) => Some((a, b))
        case _                     => None
      }
      val (ineqs, rest) = conjuncts.partition { e =>
        boundsOf(e).exists { case (a, b) =>
          isOrderable(a) && isOrderable(b) &&
            sideOf(a, left, right).isDefined && sideOf(b, left, right).isDefined &&
            sideOf(a, left, right) != sideOf(b, left, right)
        }
      }
      val equisOnly = rest.forall {
        case EqualTo(a, b) => sideOf(a, left, right).isDefined &&
          sideOf(b, left, right).isDefined && sideOf(a, left, right) != sideOf(b, left, right)
        case _ => false
      }
      // exactly the crossing pair (lLo <[=] rHi) && (rLo <[=] lHi),
      // remaining conjuncts all equi — otherwise leave the join alone
      val crossing = ineqs match {
        case Seq(e1, e2) =>
          val Some((a1, b1)) = boundsOf(e1)
          val Some((a2, b2)) = boundsOf(e2)
          val s1 = (sideOf(a1, left, right), sideOf(b1, left, right))
          val s2 = (sideOf(a2, left, right), sideOf(b2, left, right))
          (s1, s2) match {
            case ((Some(true), Some(false)), (Some(false), Some(true))) =>
              // a1=lLo <[=] b1=rHi ; a2=rLo <[=] b2=lHi
              Some((a1, b1, a2, b2, e1, e2))
            case ((Some(false), Some(true)), (Some(true), Some(false))) =>
              Some((a2, b2, a1, b1, e2, e1))
            case _ => None
          }
        case _ => None
      }
      crossing match {
        case Some((lLo, rHi, rLo, lHi, lIneq, rIneq)) if equisOnly =>
          val bs = Literal(binSize(), DoubleType)
          def bin(e: Expression): Expression =
            Cast(Floor(Divide(Cast(e, DoubleType), bs)), LongType)
          def binsOf(lo: Expression, hi: Expression, child: LogicalPlan, name: String) = {
            val attr = AttributeReference(name, LongType, nullable = false)()
            // guard the generator: a malformed end<start interval (or a
            // pair of unrelated columns that matched the crossing-'<'
            // shape) would make Sequence throw at runtime, turning a
            // query that previously just matched nothing into a failure.
            // Explode of an empty array emits no rows — same silent
            // tolerance as the manual IntervalJoin.overlap.
            val seq = If(
              LessThanOrEqual(bin(lo), bin(hi)),
              Sequence(bin(lo), bin(hi), Some(Literal(1L)),
                Some(conf.sessionLocalTimeZone)),
              Literal.create(Seq.empty[Long],
                org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)))
            val gen = Generate(
              Explode(seq),
              unrequiredChildIndex = Nil, outer = false, qualifier = None,
              generatorOutput = Seq(attr), child = child)
            (gen, attr)
          }
          val (lGen, lBin) = binsOf(lLo, lHi, left, "__lbin")
          val (rGen, rBin) = binsOf(rLo, rHi, right, "__rbin")
          val dedup = EqualTo(lBin, Greatest(Seq(bin(lLo), bin(rLo))))
          val newCond = (Seq(
            EqualTo(lBin, rBin),
            lIneq, rIneq, // ORIGINAL bounds (strictness preserved) as residual
            dedup) ++ rest).reduce(And)
          Project(
            j.output,
            Join(lGen, rGen, Inner, Some(newCond), hint))
        case _ => j
      }
  }
}
