package graft.pipeline

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One completed stage: its call site, volumes, task count, summed
  * executor run time, and its submission/completion instants (driver
  * clock, epoch ms). */
final case class StageRecord(
    stageId: Int, name: String, tasks: Int,
    inputBytes: Long, inputRecords: Long,
    outputBytes: Long, outputRecords: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long,
    executorRunMs: Long, submittedMs: Long, completedMs: Long) {

  def json: String =
    s"""{"stage":$stageId,"name":${quote(name)},""" +
      s""""tasks":$tasks,"input_bytes":$inputBytes,""" +
      s""""input_records":$inputRecords,""" +
      s""""output_bytes":$outputBytes,""" +
      s""""output_records":$outputRecords,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""executor_run_ms":$executorRunMs,""" +
      s""""submitted_ms":$submittedMs,"completed_ms":$completedMs}"""

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}

/** Job metrics via SparkListener (north-rule "per-partition lineage and
  * row-count/byte metrics"): per-stage input/output/shuffle volumes and
  * task counts, collected during a pipeline run and appended to the table's
  * metrics log. Stage metrics aggregate executor-side task metrics — no
  * driver-side data movement. */
final class StageMetricsListener extends SparkListener {
  private val stages = new ConcurrentLinkedQueue[StageRecord]()
  // A stage is named by its SQL execution's description — the call site of
  // the Dataset action, unless a job description is set — when its job
  // belongs to one: AQE submits query stages from a thread pool, whose own
  // call site ("... at CompletableFuture.java:…") names no user code.
  private val executionNames = new ConcurrentHashMap[Long, String]()
  private val stageNames = new ConcurrentHashMap[Int, String]()
  // marker-job barrier state: the marker is identified EXPLICITLY by its
  // spark.jobGroup.id (counting job-ends would be racy — a late-delivered
  // end event from the body itself could satisfy the wait before the body's
  // last stage events arrive). The marker's own stages are not recorded.
  private val markerJobIds = ConcurrentHashMap.newKeySet[Int]()
  private val markerStageIds = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var markerGroup: String = null
  @volatile private var markerEnded = new CountDownLatch(0)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      executionNames.put(x.executionId, x.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = (k: String) =>
      if (e.properties == null) null else e.properties.getProperty(k)
    val grp = prop("spark.jobGroup.id")
    if (grp != null && grp == markerGroup) {
      markerJobIds.add(e.jobId)
      e.stageIds.foreach(markerStageIds.add)
    }
    val exec = prop(SQLExecution.EXECUTION_ID_KEY)
    if (exec != null) Option(executionNames.get(exec.toLong))
      .foreach(n => e.stageIds.foreach(stageNames.put(_, n)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobIds.contains(e.jobId)) markerEnded.countDown()

  /** Arm the barrier for a marker job tagged with job group `group`. */
  def armMarker(group: String): Unit = {
    markerEnded = new CountDownLatch(1)
    markerGroup = group
  }

  /** Block until the armed marker job's end event has been delivered
    * (bounded by `timeoutMs`). Events are delivered FIFO per listener, so
    * the marker's job-end implies every earlier stage event has arrived. */
  def awaitMarker(timeoutMs: Long): Boolean =
    markerEnded.await(timeoutMs, TimeUnit.MILLISECONDS)

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val info = sc.stageInfo
    if (!markerStageIds.contains(info.stageId)) {
      val m = info.taskMetrics
      val name = Option(stageNames.remove(info.stageId)).getOrElse(info.name)
      stages.add(StageRecord(info.stageId, name.takeWhile(_ != '\n'),
        info.numTasks, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.executorRunTime, info.submissionTime.getOrElse(-1L),
        info.completionTime.getOrElse(-1L)))
    }
  }

  /** Remove and return every stage recorded so far, in arrival order. */
  def drain(): Seq[StageRecord] = {
    val out = Seq.newBuilder[StageRecord]
    var s = stages.poll()
    while (s != null) { out += s; s = stages.poll() }
    out.result()
  }

  def drainTo(path: String): Int = {
    val dir = Paths.get(path).getParent
    if (dir != null) Files.createDirectories(dir)
    val recs = drain()
    Files.writeString(Paths.get(path), recs.map(_.json + "\n").mkString,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    recs.size
  }
}

object Metrics {
  /** Block until `listener` has received every event of the jobs run so
    * far. Stage-completed events are delivered asynchronously on the
    * listener bus, so run a marker job — identified by a unique job group,
    * so a late-delivered end event from an earlier job can never satisfy
    * the wait — and block on ITS end: FIFO delivery then guarantees every
    * earlier stage event has arrived (deterministic, unlike a fixed sleep).
    * False if the marker's end did not arrive within 15 s. */
  def awaitListener(spark: SparkSession, listener: StageMetricsListener): Boolean = {
    val group = s"graft-metrics-marker-${System.nanoTime()}"
    listener.armMarker(group)
    val sc = spark.sparkContext
    val (prevGroup, prevDesc) = (sc.getLocalProperty("spark.jobGroup.id"),
      sc.getLocalProperty("spark.job.description"))
    sc.setJobGroup(group, "metrics barrier")
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setJobGroup(prevGroup, prevDesc)
    listener.awaitMarker(15000)
  }

  /** Run `body` with stage metrics captured, appending them to
    * `tableDir/metrics.jsonl`. Returns (result, #stages recorded). */
  def withStageMetrics[T](spark: SparkSession, tableDir: String)(body: => T): (T, Int) = {
    val listener = new StageMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      awaitListener(spark, listener)
      (r, listener.drainTo(s"$tableDir/metrics.jsonl"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
