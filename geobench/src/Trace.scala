package geobench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Spans of one operation share
  * `op`; `parent` is -1 for a root. Times are wall-clock nanoseconds on the
  * `Trace.nowNs` scale so listener-side (millisecond) events line up. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long)

/** Spans recorded from the benchmark's own calls into each layer, plus the
  * Spark job/stage/task and query-planning facts gathered by public
  * listeners. Everything stays in memory until the run ends. Disabled (all
  * calls pass straight through) in untraced runs. */
final class Trace {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var curOp = -1
  private var sc: org.apache.spark.SparkContext = _

  def nowNs: Long = Trace.epochOffsetNs + System.nanoTime()

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    enabled = true
  }

  /** Runs `f` as a span named `name` under the innermost open span; Spark
    * jobs submitted inside it carry the span id as a local property. */
  def span[T](name: String)(f: => T): T = {
    if (!enabled) return f
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setLocalProperty(Trace.SpanProp, id.toString)
    val t0 = nowNs
    try f
    finally {
      val t1 = nowNs
      stack = stack.tail
      sc.setLocalProperty(Trace.SpanProp, stack.headOption.map(_.toString).orNull)
      synchronized { spans += Span(id, parent, curOp, name, t0, t1) }
    }
  }

  /** Runs one operation: a span whose id groups every span and job under it. */
  def op[T](opId: Int, workload: String)(f: => T): T = {
    if (!enabled) return f
    curOp = opId
    sc.setJobGroup(s"geobench-op-$opId", workload, interruptOnCancel = false)
    try span("op")(f)
    finally { sc.clearJobGroup(); curOp = -1 }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  // ----------------------------------------------------- Spark listener

  final case class Job(id: Int, op: Int, span: Int, startMs: Long, var endMs: Long,
                       stages: Seq[Int])
  final case class Task(stage: Int, launchMs: Long, durationMs: Long, runMs: Long,
                        shuffleWrite: Long, shuffleRead: Long,
                        spill: Long, output: Long, failed: Boolean)

  val jobsById = scala.collection.mutable.HashMap.empty[Int, Job]
  /** Submission time (ms) of each stage. */
  val stageSubmitted = scala.collection.mutable.HashMap.empty[Int, Long]
  val tasks = ArrayBuffer.empty[Task]
  @volatile var lastEventMs = 0L

  private val jobs = new SparkListener {
    private def opOf(p: java.util.Properties): Int = Option(p)
      .flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("geobench-op-"))
      .map(_.stripPrefix("geobench-op-").toInt).getOrElse(-1)

    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
        .map(_.toInt).getOrElse(-1)
      jobsById(e.jobId) = Job(e.jobId, opOf(e.properties), span, e.time, e.time, e.stageIds)
      lastEventMs = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobsById.get(e.jobId).foreach(_.endMs = e.time)
      lastEventMs = System.currentTimeMillis()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      lastEventMs = System.currentTimeMillis()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      tasks += Task(e.stageId, i.launchTime, i.duration,
        if (m == null) 0 else m.executorRunTime,
        if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0 else m.outputMetrics.bytesWritten, !i.successful)
      lastEventMs = System.currentTimeMillis()
    }
  }

  // ------------------------------------------- query planning listener

  /** One finished action: its query-planning phases and start time (ms). */
  final case class Action(analysisMs: Long, optimizationMs: Long, planningMs: Long,
                          startMs: Long)
  val actions = ArrayBuffer.empty[Action]

  private val plans = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def dur(k: String): Long = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(System.currentTimeMillis())
      Trace.this.synchronized {
        actions += Action(dur("analysis"), dur("optimization"), dur("planning"), start)
        lastEventMs = System.currentTimeMillis()
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Waits until the listener bus has been quiet for a while, so every
    * event of the operations run so far has been recorded. */
  def drain(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() - lastEventMs < 300 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }

  /** Self time of each span: its duration minus the union of its
    * children's intervals. */
  def selfTimes(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      cs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = curB max b
      }
      if (curB > curA) covered += curB - curA
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** Spark jobs as child spans of the layer call that submitted them. */
  def jobSpans(): Seq[Span] = synchronized {
    jobsById.values.toSeq.sortBy(_.id).map(j =>
      Span(100000000 + j.id, j.span, j.op, "spark.job", j.startMs * 1000000L, j.endMs * 1000000L))
  }
}

object Trace {
  val SpanProp = "geobench.span"
  /** Maps `System.nanoTime` onto wall-clock nanoseconds, so span times
    * compare with the millisecond times of listener events. */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
}
