package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ArrayForAll, EqualTo, Expression,
  GreaterThan, Size, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Repartition}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SpatialJoins
import graft.sources.ImagesTable
import graft.sql.Geo

/** Plan-shape regression tests: the properties that make the operators
  * scale (broadcast dim sides, pruned scans, no spurious shuffles) asserted
  * against the optimized plans, so a refactor that silently degrades the
  * plan fails CI — the `.explain`-and-iterate loop, pinned. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = graft.sql.SparkTestSession.spark

  private def writtenImages(n: Long): String = {
    val dir = s"target/planspec_images_$n"
    if (!new java.io.File(dir).exists())
      ImagesTable.generate(spark, n).write.mode("overwrite").parquet(dir)
    dir
  }

  test("flagship PIP join broadcasts the polygon side; big side never shuffles pre-agg") {
    Geo.register(spark)
    val images = spark.read.parquet(writtenImages(2000))
    val polys = ImagesTable.polygonLayer(spark)
    val plan = SpatialJoins.pipJoin(images, polys, "poly", "lon", "lat", zoom = 6)
      .groupBy(col("poly_id")).count()
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // exactly one Exchange: the post-join aggregation; the scan side feeds
    // the broadcast join without shuffling
    assert(plan.split("Exchange").length - plan.split("BroadcastExchange").length + 1 <= 2, plan)
  }

  test("hausdorffJoin broadcasts the right side; no nested loop either mode") {
    Geo.register(spark)
    import spark.implicits._
    val l = Seq((1L, "LINESTRING (0 0, 1 1)"), (2L, "LINESTRING (30 30, 31 31)"))
      .toDF("id", "w").selectExpr("id", "st_geomfromwkt(w) AS g")
    val r = l.selectExpr("id AS id2", "g AS g2")
    val bPlan = SpatialJoins.hausdorffJoin(l, r, "g", "g2", maxDist = 2.0)
      .queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"), bPlan)
    assert(!bPlan.contains("BroadcastNestedLoopJoin") &&
      !bPlan.contains("CartesianProduct"), bPlan)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sPlan = SpatialJoins.hausdorffJoin(l, r, "g", "g2", maxDist = 2.0,
          broadcastRight = false)
        .queryExecution.executedPlan.toString
      assert(sPlan.contains("SortMergeJoin") || sPlan.contains("ShuffledHashJoin"), sPlan)
      assert(!sPlan.contains("BroadcastNestedLoopJoin") &&
        !sPlan.contains("CartesianProduct"), sPlan)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("editNearDups: hash equi-join on deletion keys, never a nested loop") {
    import spark.implicits._
    val rows = (0 until 50).map(i => (i.toLong, s"caption $i")).toDF("id", "text")
    for (mb <- Seq(0, 64)) {
      val plan = graft.operators.Dedup.editNearDups(rows, "text", "id", maxBand = mb)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"maxBand=$mb:\n$plan")
    }
  }

  test("large polygon sets take the sort-merge path on the cell key") {
    Geo.register(spark)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val images = spark.read.parquet(writtenImages(2000))
      val polys = ImagesTable.polygonLayer(spark)
      val plan = SpatialJoins.pipJoin(images, polys, "poly", "lon", "lat",
        zoom = 6, broadcastPolys = false)
        .groupBy(col("poly_id")).count()
        .queryExecution.executedPlan.toString
      // the equi-join on the tile key hash-partitions both sides — the
      // plan Catalyst picks when the dim side outgrows broadcast; the
      // st_containsxy refine rides as the join condition, never a
      // nested-loop
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("scan prunes payload columns out of the flagship plan") {
    Geo.register(spark)
    val images = spark.read.parquet(writtenImages(2000))
    val polys = ImagesTable.polygonLayer(spark)
    val qe = SpatialJoins.assignTiles(
      SpatialJoins.pipJoin(images, polys, "poly", "lon", "lat", zoom = 6),
      "lon", "lat", zoom = 8)
      .groupBy(col("poly_id"), col("tile_id")).count()
      .queryExecution
    val readSchema = "ReadSchema.*".r.findFirstIn(
      qe.explainString(org.apache.spark.sql.execution.FormattedMode)).getOrElse("")
    assert(readSchema.contains("lon") && readSchema.contains("lat"), readSchema)
    assert(!readSchema.contains("bytes") && !readSchema.contains("caption"),
      s"payload columns must be pruned: $readSchema")
  }

  test("tile assignment is a pure projection (no exchange)") {
    Geo.register(spark)
    val images = spark.read.parquet(writtenImages(2000))
    val plan = SpatialJoins.assignTiles(images, "lon", "lat", zoom = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("predicate pushdown reaches the parquet scan") {
    Geo.register(spark)
    val images = spark.read.parquet(writtenImages(2000))
    val formatted = images.filter(col("phash") > 1000L).select("image_id")
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // r06: IsNotNull(phash) no longer appears — it was injected by
    // InferFiltersFromConstraints, which the engine excludes because its
    // inferred filters duplicate kernel evaluation in the cover-join
    // plans (Geo.register). The USER predicate still reaches the scan,
    // which is what this test protects.
    assert(formatted.contains("PushedFilters: [GreaterThan(phash,1000)]"),
      formatted)
  }

  // Every `WindowExec: No Partition Defined` warning the Verify run emits
  // maps to one of the rank-filtered windows asserted here: the rank<=k
  // filter inserts a PARTIAL WindowGroupLimit below the exchange, so each
  // upstream partition forwards at most k rows (per group) — the single
  // reducer receives O(partitions * k), never the corpus. The warning is
  // therefore benign by construction; these asserts keep it that way.
  private def assertGroupLimited(plan: String, what: String): Unit = {
    assert(plan.contains("WindowGroupLimit"),
      s"$what: expected map-side top-k pruning (WindowGroupLimit):\n$plan")
    assert(plan.contains("Partial"),
      s"$what: expected a PARTIAL (pre-exchange) group limit:\n$plan")
  }

  test("Vocab.topTokens global rank window prunes map-side") {
    import spark.implicits._
    val docs = (0 until 200).map(i =>
      (i.toLong, s"tok${i % 7} tok${i % 13} tok${i % 3}"))
      .toDF("doc_id", "text").repartition(4)
    val plan = graft.operators.Vocab.topTokens(docs, "text", "doc_id", k = 10)
      .queryExecution.executedPlan.toString
    // the global (partition-less) rank window gets rewritten even more
    // aggressively than WindowGroupLimit: LimitPushDownThroughWindow turns
    // rank<=k over a total order into TakeOrderedAndProject(limit=k) — a
    // distributed top-k where every partition forwards at most k rows and
    // no global-window exchange of the token counts exists at all
    assert(plan.contains("TakeOrderedAndProject(limit=10") ||
      plan.contains("WindowGroupLimit"),
      s"Vocab.topTokens: expected a bounded global top-k:\n$plan")
  }

  test("ANN sq8 + projected rerank windows prune map-side") {
    import spark.implicits._
    import graft.sql.GeoOps
    val vecs = (0 until 300).map { i =>
      (i.toLong, (0 until 8).map(j =>
        ((GeoOps.splitmix64(i * 8L + j) % 1000L) / 500.0 - 1.0).toFloat).toArray)
    }
    val df = vecs.toDF("vec_id", "embedding").repartition(4)
    val queries = vecs.take(3).toDF("qid", "qvec")
    val sq8 = graft.operators.Ann.sq8TopK(df, queries, "embedding",
      "vec_id", "qid", "qvec", k = 5).queryExecution.executedPlan.toString
    assertGroupLimited(sq8, "Ann.sq8TopK")
    // both windows (candidate scan + exact rerank) must be group-limited
    assert(sq8.linesIterator.count(_.contains("WindowGroupLimit")) >= 2, sq8)
    val proj = graft.operators.Ann.projectedTopK(df, queries, "embedding",
      "vec_id", "qid", "qvec", k = 5, projDim = 4, rerank = 2)
      .queryExecution.executedPlan.toString
    assertGroupLimited(proj, "Ann.projectedTopK")
    assert(proj.linesIterator.count(_.contains("WindowGroupLimit")) >= 2, proj)
  }

  /** Calls to the `GeoOps` kernel `fn` in `es`. */
  private def calls(es: Seq[Expression], fn: String): Int =
    es.map(_.collect { case GeoCall(`fn`, _) => () }.size).sum

  /** Calls to the `GeoOps` kernel `fn` anywhere in `plan`. */
  private def kernelCalls(plan: SparkPlan, fn: String): Int =
    calls(plan.collect { case p => p.expressions }.flatten, fn)

  /** The physical Filters of `df` (before adaptive execution) whose
    * condition matches `pick`. */
  private def filters(df: DataFrame)(pick: Expression => Boolean): Seq[FilterExec] =
    df.queryExecution.sparkPlan.collect {
      case f: FilterExec if f.condition.exists(pick) => f
    }

  /** A session with a small `lineitem` view, its `lineitem_par` spread and
    * that spread's barrier view (as `SparkEntry.prep` registers them), so
    * a `SparkEntry` query builds over its real shape. */
  private lazy val entrySession: SparkSession = {
    val s = spark.newSession()
    Geo.register(s)
    s.range(0, 400).selectExpr("id AS l_orderkey", "id * 3 % 200 AS l_partkey",
        "id * 7 % 10 AS l_suppkey", "CAST(id % 7 + 1 AS INT) AS l_linenumber",
        "date_add(DATE'1995-01-01', CAST(id % 90 AS INT)) AS l_shipdate")
      .createOrReplaceTempView("lineitem")
    s.table("lineitem").repartition(4).createOrReplaceTempView("lineitem_par")
    Barrier(s.table("lineitem_par")).createOrReplaceTempView("lineitem_par_barrier")
    s
  }

  private def entryQuery(name: String): DataFrame =
    graft.SparkEntry.specs.find(_.name == name).get.build(entrySession)

  test("a barrier keeps a derived-column filter above the repartition (q16, q18)") {
    val spread = spark.range(0, 1000).toDF().repartition(4)
    def derived(df: DataFrame): DataFrame = df.withColumn("d", col("id") * 7 % 10)
    def filterOnRepartition(plan: LogicalPlan): Boolean = plan.exists {
      case f: Filter => f.child match {
        case Barrier(_: Repartition) => true
        case _ => false
      }
      case _ => false
    }
    def filterUnderRepartition(plan: LogicalPlan): Boolean = plan.exists {
      case r: Repartition => r.child.isInstanceOf[Filter]
      case _ => false
    }
    // held, the Filter sits on the barrier over the Repartition: above the
    // exchange, but below the Project that defines `d`, with `d` inlined
    val held = derived(Barrier(spread)).filter(col("d") > 2)
    val heldPlan = held.queryExecution.optimizedPlan
    assert(filterOnRepartition(heldPlan) && !filterUnderRepartition(heldPlan),
      heldPlan)
    // the strategy plans the barrier away: the Filter runs on the exchange
    val onExchange = filters(held)(_ => true)
    assert(onExchange.size == 1 &&
      onExchange.head.child.isInstanceOf[ShuffleExchangeExec], held.queryExecution.sparkPlan)
    assert(held.collect().length == 700)
    // control: without the barrier the same filter sinks below the repartition
    val sunk = derived(spread).filter(col("d") > 2).queryExecution.optimizedPlan
    assert(filterUnderRepartition(sunk) && !filterOnRepartition(sunk), sunk)
    // projected-column control: a barrier over the projection keeps the
    // Filter above the Project, reading `d` instead of inlining it
    val overProject = Barrier(derived(spread)).filter(col("d") > 2)
    val projected = filters(overProject)(_ => true)
    assert(projected.size == 1 && projected.head.child.isInstanceOf[ProjectExec] &&
      projected.head.condition.references.map(_.name).toSet == Set("d"),
      overProject.queryExecution.sparkPlan)
    // the q16 and q18 round-trip filters run on lineitem_par's exchange
    for (name <- Seq("q16_cast_roundtrip", "q18_native_layout")) {
      val q = entryQuery(name)
      val f = filters(q) { case GeoCall("asWkb", _) => true; case _ => false }
      assert(f.size == 1 && f.head.child.isInstanceOf[ShuffleExchangeExec],
        s"$name:\n${q.queryExecution.sparkPlan}")
    }
  }

  test("q29: the interior filter reads the neighbor projection above the distinct") {
    val q = entryQuery("q29_cell_neighbors")
    val f = filters(q)(_.isInstanceOf[ArrayForAll])
    assert(f.size == 1, q.queryExecution.sparkPlan)
    // the neighbor projection folds into the distinct's result expressions
    assert(f.head.child.isInstanceOf[HashAggregateExec] &&
      calls(f.head.child.expressions, "cellNeighbors") == 1,
      q.queryExecution.sparkPlan)
    assert(kernelCalls(q.queryExecution.sparkPlan, "cellNeighbors") == 1,
      q.queryExecution.sparkPlan)
  }

  test("q144: the round-trip filter reads the projected quadkey") {
    val q = entryQuery("q144_quadkey")
    val f = filters(q) { case GeoCall("quadkeyTile", _) => true; case _ => false }
    assert(f.size == 1 && f.head.child.isInstanceOf[ProjectExec],
      q.queryExecution.sparkPlan)
    assert(kernelCalls(q.queryExecution.sparkPlan, "tileQuadkey") == 1,
      q.queryExecution.sparkPlan)
  }

  test("q145: the length filter compares the projected lengths") {
    val q = entryQuery("q145_remove_repeated")
    val f = filters(q)(_.isInstanceOf[EqualTo])
    assert(f.size == 1 && f.head.child.isInstanceOf[ProjectExec],
      q.queryExecution.sparkPlan)
    assert(f.head.condition.collect { case GeoCall(_, _) => () }.isEmpty,
      f.head.condition)
    assert(kernelCalls(q.queryExecution.sparkPlan, "lineFromXY") == 1,
      q.queryExecution.sparkPlan)
  }

  test("Dedup.decontaminate: the n-gram size filter reads the tokenized column") {
    val corpus = spark.range(0, 20)
      .selectExpr("id", "concat('w', id % 3, ' a b c d e f g h i') AS text")
    val q = graft.operators.Dedup.decontaminate(corpus, corpus.where("id < 3"),
      "text", "id", n = 4, normalize = true)
    val f = filters(q)(_.isInstanceOf[Size])
    assert(f.size == 2, q.queryExecution.sparkPlan)
    f.foreach { one =>
      assert(one.child.isInstanceOf[ProjectExec] &&
        !one.condition.exists(_.isInstanceOf[StringSplit]), one)
    }
    assert(q.count() == 20)
  }

  test("Packing.chunkText: the empty-document filter reads the token count") {
    val docs = spark.range(0, 10)
      .selectExpr("id", "repeat(concat('t', id, ' '), CAST(id AS INT)) AS text")
    val q = graft.operators.Packing.chunkText(docs, "text", maxTokens = 4)
    val f = filters(q)(_.isInstanceOf[GreaterThan])
    assert(f.size == 1 && f.head.child.isInstanceOf[ProjectExec] &&
      !f.head.condition.exists(_.isInstanceOf[StringSplit]),
      q.queryExecution.sparkPlan)
    assert(q.count() == (1 to 9).map(i => (i + 3) / 4).sum)
  }

  test("hausdorffJoin: the emptiness filters read the projected geometries") {
    Geo.register(spark)
    val l = spark.range(0, 4).selectExpr("id",
      "st_geomfromwkt(concat('LINESTRING (', id * 10, ' 0, ', id * 10 + 1, ' 1)')) AS g")
    val r = l.selectExpr("id AS id2", "g AS g2")
    val q = SpatialJoins.hausdorffJoin(l, r, "g", "g2", maxDist = 2.0)
    val f = filters(q) { case GeoCall("isEmptyGeom", _) => true; case _ => false }
    assert(f.size == 2, q.queryExecution.sparkPlan)
    f.foreach { one =>
      assert(one.child.isInstanceOf[ProjectExec] &&
        one.condition.collect { case GeoCall(n, _) => n } == Seq("isEmptyGeom"), one)
    }
    assert(q.count() == 4)
  }
}
