package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.sql.{Geo, GeoOps, GeoStruct}

/** Auto-indexes naive spatial joins (SURVEY.md §4 "optional later", the
  * SNIPPETS.md extra-strategies pattern): a keyless inner Join on
  * `st_contains`/`st_containsxy`, `st_dwithinxy` or `st_intersects` would
  * plan as a nested-loop join — O(|A|·|B|) exact predicate calls. This
  * rule rewrites it to the equi-join `SpatialJoins` builds by hand: each
  * side gets a tile or grid-cell key (computed in-line, or exploded from a
  * cover), the spatial predicate stays as the exact refine on top of a
  * hash-joinable key equality, and Catalyst picks broadcast or sort-merge
  * from stats, with AQE's skew handling on the key.
  *
  *  - contains: the point side gets its zoom-7 tile, the polygon side
  *    explodes its tile cover (`SpatialJoins.pipJoin`).
  *  - dwithinXY (literal radius r > 0 only): the left side gets its grid
  *    cell at res r, the RIGHT side explodes the 3×3 ring around its own
  *    cell (`SpatialJoins.withinDistanceJoin`) — any point within r of
  *    another lies within one cell step. Put the smaller relation on the
  *    right, as with a broadcast hint.
  *  - intersects: both sides explode their zoom-6 tile covers
  *    (`SpatialJoins.intersectsJoin`); a pair sharing several tiles is
  *    claimed only by its minimum shared tile, so each pair is emitted
  *    exactly once with no distinct pass.
  *
  * The predicates are tried in that order, and the first conjunct of a
  * kind that spans both sides wins; a join holding two spatial conjuncts is
  * keyed on the first kind only, the other stays in the refine. Fires only
  * when the join has no cross-side equality (anything hash-joinable is left
  * alone), which also makes the rewrite fixpoint-safe. */
object SpatialJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val ContainsZoom = 7
  private val IntersectsZoom = 6

  /** A rewritten join's new children and the key condition added to its
    * original condition. */
  private type Keyed = (LogicalPlan, LogicalPlan, Expression)

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
      case EqualTo(a, b) =>
        (from(a, left) && from(b, right)) || (from(a, right) && from(b, left))
      case _ => false
    }

  private def call(name: String, args: Expression*): Expression =
    Geo.functions(name)(args)

  private def from(e: Expression, side: LogicalPlan): Boolean =
    e.references.subsetOf(side.outputSet)

  /** `side` with the key column `name` computed in-line. */
  private def withKey(side: LogicalPlan, key: Expression,
                      name: String): (LogicalPlan, Attribute) = {
    val alias = Alias(key, name)()
    (Project(side.output :+ alias, side), alias.toAttribute)
  }

  /** `side` with one row per element of the key array `keys`. */
  private def exploded(side: LogicalPlan, keys: Expression,
                       name: String): (LogicalPlan, Attribute) = {
    val key = AttributeReference(name, LongType, nullable = false)()
    (Generate(Explode(keys), unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Seq(key), child = side), key)
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
    val ptOnLeft =
      if (from(ptTile, left) && from(poly, right)) true
      else if (from(ptTile, right) && from(poly, left)) false
      else return None
    val (ptSide, polySide) = if (ptOnLeft) (left, right) else (right, left)
    val (probe, ptKey) = withKey(ptSide, ptTile, "__pt_tile")
    val (build, polyKey) = exploded(polySide,
      call("st_tilecover", poly, Literal(ContainsZoom)), "__poly_tile")
    val equi = EqualTo(ptKey, polyKey)
    Some(if (ptOnLeft) (probe, build, equi) else (build, probe, equi))
  }

  private def dwithin(c: Expression, left: LogicalPlan,
                      right: LogicalPlan): Option[Keyed] = {
    val (x1, y1, x2, y2, r) = c match {
      case GeoCall("dwithinXY", Seq(x1, y1, x2, y2, Literal(r: Double, DoubleType)))
          if r > 0 => (x1, y1, x2, y2, r)
      case _ => return None
    }
    def both(a: Expression, b: Expression, side: LogicalPlan) =
      from(a, side) && from(b, side)
    val (lx, ly, rx, ry) =
      if (both(x1, y1, left) && both(x2, y2, right)) (x1, y1, x2, y2)
      else if (both(x1, y1, right) && both(x2, y2, left)) (x2, y2, x1, y1)
      else return None
    // the left side's own cell, in-line (no blow-up on the big side)
    val (probe, cell) = withKey(left,
      call("st_gridcell", lx, ly, Literal(r)), "__dw_cell")
    val (build, ring) = exploded(right, call("st_gridring",
      call("st_gridcell", rx, ry, Literal(r)), Literal(1)), "__dw_ring")
    Some((probe, build, EqualTo(cell, ring)))
  }

  private def intersects(c: Expression, left: LogicalPlan,
                         right: LogicalPlan): Option[Keyed] = {
    val (gl, gr) = c match {
      case GeoCall("intersects", Seq(ga, gb)) =>
        if (from(ga, left) && from(gb, right)) (ga, gb)
        else if (from(gb, left) && from(ga, right)) (gb, ga)
        else return None
      case _ => return None
    }
    def coverSide(side: LogicalPlan, g: Expression,
                  tag: String): (LogicalPlan, Attribute, Attribute) = {
      val (withCover, cover) = withKey(side,
        call("st_tilecover", g, Literal(IntersectsZoom)), s"__${tag}cover")
      val (gen, tile) = exploded(withCover, cover, s"__${tag}tile")
      (gen, cover, tile)
    }
    val (newLeft, lCover, lTile) = coverSide(left, gl, "l")
    val (newRight, rCover, rTile) = coverSide(right, gr, "r")
    // exactly-once claim: a pair joins only on its minimum shared tile
    val claim = EqualTo(lTile, call("st_minsharedtile", lCover, rCover))
    Some((newLeft, newRight, And(EqualTo(lTile, rTile), claim)))
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
