package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.sql.Geo

/** `spark.sql.extensions`-style integration: registers every engine function,
  * the engine's optimizer rules and [[BarrierStrategy]] at session build —
  * the idiomatic deployment path
  * (`--conf spark.sql.extensions=graft.plans.GraftExtensions`).
  * `Geo.register(spark)` remains the runtime path for externally-built
  * sessions (the Verify/Bench mains use it).
  *
  * An extension cannot set session confs, so a session built this way
  * keeps two Catalyst rules that `Geo.register` excludes because they
  * re-run each cover kernel up to 3× per row (see `Geo.register`). Pass
  * `--conf spark.sql.optimizer.excludedRules=org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate,org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints`
  * with the extension. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Geo.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        (args: Seq[Expression]) => builder(args)))
    }
    GraftExtensions.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
    ext.injectPlannerStrategy(_ => BarrierStrategy)
    // analysis-time check: aliases (and their column metadata) are intact
    // here — the optimizer's CollapseProject would inline them away
    ext.injectCheckRule(_ => plan => PlanarEdgesGuard.check(plan))
  }
}

object GraftExtensions {
  /** The optimizer rules both install paths add, `Geo.register` and this
    * extension. */
  val optimizerRules: Seq[Rule[LogicalPlan]] =
    Seq(SpatialJoinRewrite, ElideRedundantGeoCasts)
}

/** The reference's box kernel refuses non-planar edges rather than silently
  * returning planar answers (`/root/reference/src/geoarrow.c:1747-1750`).
  * Mirror: when a geometry column whose geoarrow metadata tags spherical/
  * geodesic edges reaches a planar-only kernel (envelope, box_agg), fail
  * the query instead of computing a wrong box. */
object PlanarEdgesGuard extends Rule[LogicalPlan] {

  private val planarOnly = Set("envelope", "boxUpdate")

  private def edgesOf(e: Expression): Option[String] = {
    val meta = e match {
      case a: Attribute => Some(a.metadata)
      case al: org.apache.spark.sql.catalyst.expressions.Alias => Some(al.metadata)
      case _ => None
    }
    meta.filter(_.contains("geoarrow.metadata")).flatMap { m =>
      try Some(graft.sql.GeoSchema
        .parseMetadata(m.getString("geoarrow.metadata"))._2)
      catch { case _: Exception => None }
    }
  }

  /** Walks `plan` tracking each attribute's geoarrow metadata (aliases
    * included) and fails when a non-planar-tagged geometry column feeds a
    * planar-only kernel. Runs best at analysis time (as an injected check
    * rule) where aliases are still present. */
  def check(plan: LogicalPlan): Unit = {
    // attribute id -> edges, gathered from relation schemas and aliases
    val edges = scala.collection.mutable.Map.empty[Long, String]
    plan.foreachUp { node =>
      node.expressions.foreach(_.foreach {
        case al: org.apache.spark.sql.catalyst.expressions.Alias =>
          edgesOf(al).foreach(e => edges(al.exprId.id) = e)
        case _ =>
      })
      node.output.foreach { a =>
        edgesOf(a).foreach(e => edges.getOrElseUpdate(a.exprId.id, e))
      }
      def guardArgs(args: Seq[Expression]): Unit = args.foreach {
        case a: Attribute =>
          (edgesOf(a).orElse(edges.get(a.exprId.id)))
            .filter(_ != "planar").foreach { e =>
              throw new IllegalArgumentException(
                s"st_envelope/st_box_agg: column '${a.name}' has " +
                  s"non-planar edges ('$e'); planar-only kernel " +
                  "(reference geoarrow.c:1747-1750 semantics)")
            }
        case _ =>
      }
      node.expressions.foreach(_.foreach {
        case GeoCall(name, args) if planarOnly.contains(name) =>
          guardArgs(args)
        // box_agg's boxUpdate invoke only materializes at physical
        // planning — guard the aggregate function itself
        case agg: graft.sql.StBoxAgg => guardArgs(Seq(agg.child))
        case _ =>
      })
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = { check(plan); plan }
}

/** The reference elides identity casts at the stream level — parsed-type
  * equality short-circuits to a zero-copy pass-through
  * (`/root/reference/R/array.R:52-56,121-124`, SURVEY.md §4). The Catalyst
  * analog: collapse idempotent geometry-cast chains so only the outermost
  * survives. (Runtime identity casts already return their input unchanged —
  * `GeoOps.castType/castDims`; this removes the call entirely when the plan
  * makes the no-op visible statically.) */
object ElideRedundantGeoCasts extends Rule[LogicalPlan] {

  private val idempotentCasts = Set("castType", "castDims", "snapToGrid", "setSrid")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // cast(cast(g, t), t) -> cast(g, t) when the target argument is the
    // same literal (same for dims casts, grid snaps, srid sets)
    case outer @ GeoCall(name, GeoCall(innerName, g +: innerRest) +: rest)
        if idempotentCasts.contains(name) && innerName == name &&
          rest == innerRest =>
      outer.withNewChildren(g +: rest)
  }
}
