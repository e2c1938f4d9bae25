package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.sql.GeoOps

/** Auto-indexes naive spatial joins (SURVEY.md §4 "optional later", the
  * SNIPPETS.md extra-strategies pattern): a Join whose only cross-side
  * predicate is `st_contains(poly, pt)` / `st_containsxy(poly, x, y)` would
  * plan as a nested-loop join — O(|points|·|polys|) ray casts. This rule
  * rewrites it to the cell-cover equi-join `SpatialJoins.pipJoin` builds by
  * hand: the polygon side explodes to its tile cover, the point side gets
  * its tile id, and the contains predicate becomes the exact refine on top
  * of a hash-joinable equality — Catalyst then picks broadcast or
  * sort-merge from stats, and AQE's skew handling applies to the cell key.
  *
  * Fires only when the join has no existing cross-side equality (anything
  * hash-joinable is left alone), which also makes the rewrite fixpoint-safe.
  * Tiles are zoom 7.
  */
object ContainsJoinRewrite extends Rule[LogicalPlan] {

  private val Zoom = 7

  private def isGeoCall(e: Expression, name: String): Option[StaticInvoke] =
    e match {
      case si: StaticInvoke
          if si.staticObject == GeoOps.getClass && si.functionName == name =>
        Some(si)
      case _ => None
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  private def hasCrossSideEquality(conjuncts: Seq[Expression],
                                   left: LogicalPlan, right: LogicalPlan): Boolean =
    conjuncts.exists {
      case EqualTo(a, b) =>
        (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
          (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      val conjuncts = splitConjuncts(cond)
      if (hasCrossSideEquality(conjuncts, left, right)) j
      else {
        val rewritten = conjuncts.iterator.flatMap { c =>
          tryRewrite(c, j, left, right, cond, hint)
        }.take(1).toSeq
        rewritten.headOption.getOrElse(j)
      }
  }

  /** Rewrites when `c` is a contains-call with poly from one side and the
    * point from the other. */
  private def tryRewrite(c: Expression, j: Join, left: LogicalPlan,
                         right: LogicalPlan, cond: Expression,
                         hint: JoinHint): Option[LogicalPlan] = {
    val (polyExpr, ptTileOf): (Expression, () => Expression) =
      isGeoCall(c, "contains") match {
        case Some(si) =>
          val Seq(poly, pt) = si.arguments.take(2)
          (poly, () => StaticInvoke(GeoOps.getClass, LongType, "tileOfGeom",
            Seq(pt, Literal(Zoom)),
            inputTypes = Seq(graft.sql.GeoStruct.dataType,
              org.apache.spark.sql.types.IntegerType),
            propagateNull = true, returnNullable = false))
        case None => isGeoCall(c, "containsXY") match {
          case Some(si) =>
            val Seq(poly, x, y) = si.arguments.take(3)
            (poly, () => StaticInvoke(GeoOps.getClass, LongType, "tileId",
              Seq(x, y, Literal(Zoom)),
              inputTypes = Seq(org.apache.spark.sql.types.DoubleType,
                org.apache.spark.sql.types.DoubleType,
                org.apache.spark.sql.types.IntegerType),
              propagateNull = true, returnNullable = false))
          case None => return None
        }
      }

    // identify sides: poly from one, point ordinates from the other
    val ptExpr = ptTileOf()
    val (ptSide, polySide, ptOnLeft) =
      if (ptExpr.references.subsetOf(left.outputSet) &&
        polyExpr.references.subsetOf(right.outputSet)) (left, right, true)
      else if (ptExpr.references.subsetOf(right.outputSet) &&
        polyExpr.references.subsetOf(left.outputSet)) (right, left, false)
      else return None

    val ptTileAlias = Alias(ptExpr, "__pt_tile")()
    val ptProj = Project(ptSide.output :+ ptTileAlias, ptSide)
    val coverExpr = StaticInvoke(GeoOps.getClass,
      ArrayType(LongType, containsNull = false), "tileCover",
      Seq(polyExpr, Literal(Zoom)),
      inputTypes = Seq(graft.sql.GeoStruct.dataType,
        org.apache.spark.sql.types.IntegerType),
      propagateNull = true, returnNullable = false)
    val tileAttr = AttributeReference("__poly_tile", LongType, nullable = false)()
    val gen = Generate(Explode(coverExpr), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(tileAttr),
      child = polySide)

    val equi = EqualTo(ptTileAlias.toAttribute, tileAttr)
    val (newLeft, newRight) =
      if (ptOnLeft) (ptProj: LogicalPlan, gen: LogicalPlan) else (gen, ptProj)
    val newJoin = Join(newLeft, newRight, Inner, Some(And(equi, cond)), hint)
    Some(Project(j.output, newJoin))
  }
}
