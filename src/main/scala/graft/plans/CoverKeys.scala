package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Project}
import org.apache.spark.sql.graftshim.Frames

import graft.sql.Geo

/** The two key shapes behind every spatial equi-join. Each builder returns
  * the two new join children and the key condition to AND into the join;
  * the exact spatial predicate stays with the caller as the refine.
  *
  *  - key × cover ([[keyByCover]]): one side computes its key in-line, so
  *    the big side never blows up; the other explodes a key array, a
  *    conservative superset of the keys its rows can match.
  *  - cover × cover ([[keyByCovers]]): both sides explode their covers; a
  *    pair sharing several tiles is claimed only by its minimum shared tile
  *    (`st_minsharedtile` over the two cover arrays carried through the
  *    join), so each pair is emitted exactly once with no distinct pass.
  *
  * [[SpatialJoinRewrite]] keys logical plans; the `SpatialJoins` operators
  * and `Cluster.dbscan` key frames through the overloads. */
object CoverKeys {

  type Keyed = (LogicalPlan, LogicalPlan, Expression)

  /** The columns the builders add, for a caller to drop after the join. */
  val columns: Seq[String] =
    Seq("__key", "__cover_key", "__lcover", "__ltile", "__rcover", "__rtile")

  def keyByCover(keyed: LogicalPlan, key: Expression, exploded: LogicalPlan,
                 keys: Expression): Keyed = {
    val (k, kAttr) = withColumn(keyed, key, "__key")
    val (e, eAttr) = explode(exploded, keys, "__cover_key")
    (k, e, EqualTo(kAttr, eAttr))
  }

  def keyByCovers(left: LogicalPlan, leftCover: Expression, right: LogicalPlan,
                  rightCover: Expression): Keyed = {
    val (l, lCover) = withColumn(left, leftCover, "__lcover")
    val (r, rCover) = withColumn(right, rightCover, "__rcover")
    val (lt, lTile) = explode(l, lCover, "__ltile")
    val (rt, rTile) = explode(r, rCover, "__rtile")
    val claim = EqualTo(lTile, Geo.functions("st_minsharedtile")(Seq(lCover, rCover)))
    (lt, rt, And(EqualTo(lTile, rTile), claim))
  }

  def keyByCover(keyed: DataFrame, key: Column, exploded: DataFrame,
                 keys: Column): (DataFrame, DataFrame, Column) =
    onFrames(keyByCover)(keyed, key, exploded, keys)

  def keyByCovers(left: DataFrame, leftCover: Column, right: DataFrame,
                  rightCover: Column): (DataFrame, DataFrame, Column) =
    onFrames(keyByCovers)(left, leftCover, right, rightCover)

  /** `build` over the frames' plans, each column resolved against its own
    * frame; the new plans come back as frames, the condition as a column. */
  private def onFrames(build: (LogicalPlan, Expression, LogicalPlan, Expression) => Keyed)(
      a: DataFrame, ca: Column, b: DataFrame, cb: Column): (DataFrame, DataFrame, Column) = {
    val ((pa, ea), (pb, eb)) = (Frames.resolved(a, ca), Frames.resolved(b, cb))
    val (na, nb, on) = build(pa, ea, pb, eb)
    (Frames.mapPlan(a)(_ => na), Frames.mapPlan(b)(_ => nb), Frames.column(on))
  }

  private def withColumn(side: LogicalPlan, e: Expression,
                         name: String): (LogicalPlan, Attribute) = {
    val alias = Alias(e, name)()
    (Project(side.output :+ alias, side), alias.toAttribute)
  }

  private def explode(side: LogicalPlan, keys: Expression,
                      name: String): (LogicalPlan, Attribute) = {
    val gen = Explode(keys)
    val field = gen.elementSchema.head
    val key = AttributeReference(name, field.dataType, field.nullable)()
    (Generate(gen, unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(key), child = side), key)
  }
}
