package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.plans.CoverKeys.Keyed
import graft.sql.{Geo, GeoOps, GeoStruct}

/** Auto-indexes naive spatial joins (SURVEY.md §4 "optional later", the
  * SNIPPETS.md extra-strategies pattern): a keyless inner Join on
  * `st_contains`/`st_containsxy`, `st_dwithinxy` or `st_intersects` would
  * plan as a nested-loop join — O(|A|·|B|) exact predicate calls. This
  * rule rewrites it to the equi-join the `SpatialJoins` operators build,
  * through the same [[CoverKeys]] builders: each side gets a tile or
  * grid-cell key (computed in-line, or exploded from a cover), the spatial
  * predicate stays as the exact refine on top of a hash-joinable key
  * equality, and Catalyst picks broadcast or sort-merge from stats, with
  * AQE's skew handling on the key.
  *
  *  - contains: the point side gets its zoom-7 tile, the polygon side
  *    explodes its tile cover (`keyByCover`, as `SpatialJoins.pipJoin`).
  *  - dwithinXY (literal radius r > 0 only): the left side gets its grid
  *    cell at res r, the RIGHT side explodes the 3×3 ring around its own
  *    cell (`keyByCover`, as `SpatialJoins.withinDistanceJoin`) — any
  *    point within r of another lies within one cell step. Put the smaller
  *    relation on the right, as with a broadcast hint.
  *  - intersects: both sides explode their zoom-6 tile covers
  *    (`keyByCovers`, as `SpatialJoins.intersectsJoin`); a pair sharing
  *    several tiles is claimed only by its minimum shared tile, so each
  *    pair is emitted exactly once with no distinct pass.
  *
  * The predicates are tried in that order, and the first conjunct of a
  * kind that spans both sides wins; a join holding two spatial conjuncts is
  * keyed on the first kind only, the other stays in the refine. Fires only
  * when the join has no cross-side equality (anything hash-joinable is left
  * alone), which also makes the rewrite fixpoint-safe. */
object SpatialJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val ContainsZoom = 7
  private val IntersectsZoom = 6

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      val conjuncts = splitConjunctivePredicates(cond)
      if (hasCrossSideEquality(conjuncts, left, right)) j
      else {
        val cases = Seq(contains _, dwithin _, intersects _)
        cases.iterator
          .flatMap(kind => conjuncts.iterator.flatMap(kind(_, left, right)))
          .nextOption()
          .fold(j: LogicalPlan) { case (newLeft, newRight, keys) =>
            Project(j.output,
              Join(newLeft, newRight, Inner, Some(And(keys, cond)), hint))
          }
      }
  }

  private def hasCrossSideEquality(conjuncts: Seq[Expression],
                                   left: LogicalPlan, right: LogicalPlan): Boolean =
    conjuncts.exists {
      case EqualTo(a, b) => aOnLeft(Seq(a), Seq(b), left, right).isDefined
      case _ => false
    }

  private def call(name: String, args: Expression*): Expression =
    Geo.functions(name)(args)

  /** `Some(true)` when `a` reads only `left` and `b` only `right`,
    * `Some(false)` when the other way round, else `None`. */
  private def aOnLeft(a: Seq[Expression], b: Seq[Expression], left: LogicalPlan,
                      right: LogicalPlan): Option[Boolean] = {
    def from(es: Seq[Expression], side: LogicalPlan) =
      es.forall(_.references.subsetOf(side.outputSet))
    if (from(a, left) && from(b, right)) Some(true)
    else if (from(a, right) && from(b, left)) Some(false)
    else None
  }

  private def contains(c: Expression, left: LogicalPlan,
                       right: LogicalPlan): Option[Keyed] = {
    val (poly, ptTile) = c match {
      case GeoCall("contains", Seq(poly, pt)) =>
        // tileOfGeom has no SQL name
        (poly, StaticInvoke(GeoOps.getClass, LongType, "tileOfGeom",
          Seq(pt, Literal(ContainsZoom)),
          inputTypes = Seq(GeoStruct.dataType, IntegerType),
          propagateNull = true, returnNullable = false))
      case GeoCall("containsXY", Seq(poly, x, y)) =>
        (poly, call("st_tilezxy", x, y, Literal(ContainsZoom)))
      case _ => return None
    }
    aOnLeft(Seq(ptTile), Seq(poly), left, right).map { ptOnLeft =>
      val (ptSide, polySide) = if (ptOnLeft) (left, right) else (right, left)
      val (probe, build, equi) = CoverKeys.keyByCover(ptSide, ptTile, polySide,
        call("st_tilecover", poly, Literal(ContainsZoom)))
      if (ptOnLeft) (probe, build, equi) else (build, probe, equi)
    }
  }

  private def dwithin(c: Expression, left: LogicalPlan,
                      right: LogicalPlan): Option[Keyed] = c match {
    case GeoCall("dwithinXY", Seq(x1, y1, x2, y2, Literal(r: Double, DoubleType)))
        if r > 0 =>
      aOnLeft(Seq(x1, y1), Seq(x2, y2), left, right).map { firstOnLeft =>
        val Seq(lx, ly, rx, ry) =
          if (firstOnLeft) Seq(x1, y1, x2, y2) else Seq(x2, y2, x1, y1)
        def cell(x: Expression, y: Expression) = call("st_gridcell", x, y, Literal(r))
        // the left side's own cell, in-line (no blow-up on the big side)
        CoverKeys.keyByCover(left, cell(lx, ly),
          right, call("st_gridring", cell(rx, ry), Literal(1)))
      }
    case _ => None
  }

  private def intersects(c: Expression, left: LogicalPlan,
                         right: LogicalPlan): Option[Keyed] = c match {
    case GeoCall("intersects", Seq(ga, gb)) =>
      aOnLeft(Seq(ga), Seq(gb), left, right).map { aLeft =>
        val (gl, gr) = if (aLeft) (ga, gb) else (gb, ga)
        def cover(g: Expression) = call("st_tilecover", g, Literal(IntersectsZoom))
        CoverKeys.keyByCovers(left, cover(gl), right, cover(gr))
      }
    case _ => None
  }
}

/** Matches a static call into a [[GeoOps]] kernel as
  * `GeoCall(functionName, arguments)`. */
object GeoCall {
  def unapply(e: Expression): Option[(String, Seq[Expression])] = e match {
    case si: StaticInvoke if si.staticObject == GeoOps.getClass =>
      Some((si.functionName, si.arguments))
    case _ => None
  }
}
