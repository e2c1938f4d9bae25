package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession

import graft.pipeline.{Metrics, StageMetricsListener, StageRecord}

/** Times individual SparkEntry queries under the per-query methodology of
  * [[Bench]] (same session config, same `fn(spark, sfDir).count()` action)
  * and explains each run from the engine's own stage events: one line per
  * completed stage (call site, tasks, executor run time, shuffle bytes,
  * submission→completion span) in submission order, so operator phases
  * show up as the call sites of the code that actually ran and the
  * iterative loops' rounds as `<op> round <n>` (`knn`, `cc`, `kcore`,
  * `pagerank`), and the share of wall time the stages cover — the rest is driver
  * time (analysis, optimization, planning, driver-side loops). Optionally
  * dumps `explain("formatted")` per query to `plans/r06/<query>_<tag>.txt`.
  *
  * Usage:
  *   sbt "runMain graft.Profile [--reps N] [--plans TAG] q111_merge_read ..."
  * With no query names, runs the full set (a whole-surface sweep).
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench.
  */
object Profile {

  /** One profiled run: its window on the driver clock (epoch ms, the
    * clock stage times use) and the stages that completed in it, in
    * submission order. */
  final case class Run(startMs: Long, endMs: Long, stages: Seq[StageRecord]) {
    def wallMs: Long = endMs - startMs

    /** Milliseconds of the window during which at least one stage ran. */
    def coveredMs: Long = Profile.coveredMs(stages.map { s =>
      (math.max(s.submittedMs, startMs), math.min(s.completedMs, endMs))
    })
  }

  /** Length of the union of the half-open intervals `[start, end)`; empty
    * and inverted intervals count as nothing. */
  def coveredMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach {
      case (a, b) =>
        if (b > curEnd) { total += b - math.max(a, curEnd); curEnd = b }
    }
    total
  }

  /** Run `body` with a [[StageMetricsListener]] attached; returns its
    * result and the [[Run]] it produced. */
  def measure[T](spark: SparkSession)(body: => T): (T, Run) = {
    val sc = spark.sparkContext
    val listener = new StageMetricsListener
    sc.addSparkListener(listener)
    try {
      val startMs = System.currentTimeMillis()
      val r = body
      val endMs = System.currentTimeMillis()
      Metrics.awaitListener(spark, listener)
      (r, Run(startMs, endMs,
        listener.drain().sortBy(s => (s.submittedMs, s.stageId))))
    } finally sc.removeSparkListener(listener)
  }

  def report(name: String, run: Run): String = {
    val sb = new StringBuilder
    sb.append(f"[profile] $name: wall ${run.wallMs / 1e3}%.3f s, " +
      s"${run.stages.size} stages\n")
    run.stages.foreach { s =>
      sb.append(f"[profile]   stage ${s.stageId}%5d  ${s.name}%-44s " +
        f"tasks ${s.tasks}%4d  run ${s.executorRunMs}%7d ms  " +
        f"shuffle r ${s.shuffleReadBytes}%10d B w ${s.shuffleWriteBytes}%10d B  " +
        f"span ${s.completedMs - s.submittedMs}%6d ms\n")
    }
    val wall = math.max(run.wallMs, 1L)
    val covered = run.coveredMs
    sb.append(f"[profile]   stages cover $covered ms of $wall ms wall " +
      f"(${100.0 * covered / wall}%.1f%%); driver/planning ${wall - covered} ms " +
      f"(${100.0 * (wall - covered) / wall}%.1f%%)")
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    var reps = 1
    var plansTag: Option[String] = None
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--reps" => reps = args(i + 1).toInt; i += 2
        case "--plans" => plansTag = Some(args(i + 1)); i += 2
        case q => names += q; i += 1
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val all = SparkEntry.queries
    val picked: Seq[String] =
      if (names.isEmpty) all.keys.toSeq.sorted else names.toSeq
    val spark = LocalSpark.session(cpus, s"graft-profile-$cpus")
    // register the table views before the first timed query, so their
    // one-time footer reads are not charged to it
    SparkEntry.prep(spark, sfDir)
    val out = new StringBuilder
    picked.foreach { name =>
      val fn = all.getOrElse(name, sys.error(s"unknown query $name"))
      // no job description is set: each SQL execution keeps its action's
      // call site as its name (a loop round sets its own, `<op> round <n>`),
      // and StageMetricsListener names stages by it
      val times = (0 until reps).map { _ =>
        val (_, run) = measure(spark) {
          try { fn(spark, sfDir).count() }
          catch { case e: Throwable =>
            println(s"[profile] $name FAILED: ${e.getMessage}"); -1L }
        }
        println(report(name, run))
        run.wallMs / 1e3
      }
      plansTag.foreach { tag =>
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val dir = Paths.get("plans/r06")
        Files.createDirectories(dir)
        Files.write(dir.resolve(s"${name}_$tag.txt"),
          txt.getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
          StandardOpenOption.WRITE)
      }
      val line = name + ": " +
        times.map(t => f"$t%.3f").mkString("[", ",", "]")
      println("[profile] " + line)
      out.append(line).append('\n')
    }
    println("[profile] done\n" + out)
    spark.stop()
  }
}
