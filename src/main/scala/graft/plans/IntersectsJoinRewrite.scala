package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

import graft.sql.GeoOps

/** Auto-indexes naive geometry-geometry joins: a Join whose only
  * cross-side predicate is `st_intersects(ga, gb)` would plan as a
  * nested-loop join — O(|A|·|B|) exact segment tests. This rule rewrites
  * it to the cover equi-join `SpatialJoins.intersectsJoin` builds by
  * hand: BOTH sides explode their geometry-aware tile covers, the
  * intersects predicate becomes the exact refine over a hash-joinable
  * tile equality, and the min-shared-cover-tile claim
  * (`tile == array_min(array_intersect(lc, rc))`) keeps every pair
  * exactly-once with no distinct pass. Catalyst then picks broadcast or
  * sort-merge from stats, and AQE skew handling applies to the tile key.
  *
  * Fires only when the join has no existing cross-side equality (anything
  * hash-joinable is left alone), which also makes the rewrite
  * fixpoint-safe. Tiles are zoom 6.
  */
object IntersectsJoinRewrite extends Rule[LogicalPlan] {

  private val Zoom = 6

  private def isIntersects(e: Expression): Option[StaticInvoke] = e match {
    case si: StaticInvoke
        if si.staticObject == GeoOps.getClass &&
          si.functionName == "intersects" => Some(si)
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
        conjuncts.iterator.flatMap { c =>
          tryRewrite(c, j, left, right, cond, hint)
        }.take(1).toSeq.headOption.getOrElse(j)
      }
  }

  private def coverOf(g: Expression, z: Int): StaticInvoke =
    StaticInvoke(GeoOps.getClass,
      ArrayType(LongType, containsNull = false), "tileCover",
      Seq(g, Literal(z)),
      inputTypes = Seq(graft.sql.GeoStruct.dataType, IntegerType),
      propagateNull = true, returnNullable = false)

  /** Rewrites when `c` is an intersects-call with one geometry from each
    * side. */
  private def tryRewrite(c: Expression, j: Join, left: LogicalPlan,
                         right: LogicalPlan, cond: Expression,
                         hint: JoinHint): Option[LogicalPlan] = {
    val si = isIntersects(c).getOrElse(return None)
    val Seq(ga, gb) = si.arguments.take(2)
    val (gl, gr) =
      if (ga.references.subsetOf(left.outputSet) &&
        gb.references.subsetOf(right.outputSet)) (ga, gb)
      else if (gb.references.subsetOf(left.outputSet) &&
        ga.references.subsetOf(right.outputSet)) (gb, ga)
      else return None

    def sideWithCover(side: LogicalPlan, g: Expression, tag: String)
        : (LogicalPlan, Attribute, Attribute) = {
      val coverAlias = Alias(coverOf(g, Zoom), s"__${tag}cover")()
      val proj = Project(side.output :+ coverAlias, side)
      val tileAttr =
        AttributeReference(s"__${tag}tile", LongType, nullable = false)()
      val gen = Generate(Explode(coverAlias.toAttribute),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(tileAttr), child = proj)
      (gen, coverAlias.toAttribute, tileAttr)
    }
    val (newLeft, lCover, lTile) = sideWithCover(left, gl, "l")
    val (newRight, rCover, rTile) = sideWithCover(right, gr, "r")

    val equi = EqualTo(lTile, rTile)
    // allocation-free exactly-once claim: value-identical to
    // array_min(array_intersect(lc, rc)) — see GeoOps.minSharedTile
    val claim = EqualTo(lTile, StaticInvoke(GeoOps.getClass,
      LongType, "minSharedTile", Seq(lCover, rCover),
      inputTypes = Seq(ArrayType(LongType, containsNull = false),
        ArrayType(LongType, containsNull = false)),
      propagateNull = true, returnNullable = true))
    val newJoin =
      Join(newLeft, newRight, Inner, Some(And(And(equi, claim), cond)), hint)
    Some(Project(j.output, newJoin))
  }
}
