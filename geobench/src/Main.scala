package geobench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sql.Geo

/** Benchmark entry point. One process runs one workload in a closed loop
  * (one driver thread; the next operation starts when the previous one has
  * finished and been checked) for `--seconds`, and prints the end-to-end
  * metrics (`--trace 0`) or the per-layer metrics (`--trace 1`) as the last
  * stdout line. `--smoke` runs every workload and check at tiny size. */
object Main {

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, smoke: Boolean = false,
                        work: String = "", out: String = "")

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--smoke" :: t => parse(t, a.copy(smoke = true))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--out" :: v :: t => parse(t, a.copy(out = v))
    case Nil => a
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  /** Input-size scale of the smoke mode and of the traced run's side probes. */
  val SmallScale = 0.02
  /** Set-ups per run; set-up time is their median. */
  val SetupReps = 3
  /** Warm-up operations closing each set-up (JIT and codegen). */
  val WarmOps = 1

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val work = new File(a.work)
    work.mkdirs()
    val code =
      try { if (a.smoke) smoke(a, work) else { run(a, work); 0 } }
      finally deleteTree(work)
    System.exit(code)
  }

  private def session(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("geobench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Geo.register(s)
    s
  }

  /** Two task threads: on a shared 4-vCPU host, using every vCPU invites
    * hypervisor steal that makes wall times swing from run to run. */
  val cores: Int = math.min(2, Runtime.getRuntime.availableProcessors())

  // ------------------------------------------------------------ the loop

  final class Loop {
    val secs = mutable.ArrayBuffer.empty[Double]
    val cpuSecs = mutable.ArrayBuffer.empty[Double]
    var attempted, failed, rows = 0L
    val failures = mutable.LinkedHashMap.empty[String, Int]
    def fail(why: String): Unit = { failed += 1; failures(why) = failures.getOrElse(why, 0) + 1 }
  }

  private var nextOp = 0

  /** Runs at least `minOps` operations, and for `seconds` > 0 keeps going
    * until the time is up and the operations make whole repeating units of
    * the workload. Each operation is prepared untimed, timed, then checked
    * untimed. */
  def loop(w: Workload, seconds: Double, minOps: Int, l: Loop = new Loop): Loop = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < minOps || (seconds > 0 && (System.nanoTime() < end || i % w.period != 0))) {
      w.prepare()
      nextOp += 1
      val (t0, c0) = (System.nanoTime(), Env.cpuNs())
      val out = try Right(w.c.trace.op(nextOp, w.name)(w.op())) catch { case e: Exception => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      l.attempted += 1
      l.secs += dt
      l.cpuSecs += (Env.cpuNs() - c0) / 1e9
      out match {
        case Left(e) =>
          l.fail(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        case Right(o) =>
          (try w.check(o) catch { case e: Exception => Some(s"check threw $e") }) match {
            case Some(why) => l.fail(why)
            case None => l.rows += w.rows(o)
          }
      }
      i += 1
    }
    l
  }

  /** The highest nearest-rank percentile with at least ten samples above it. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val p = math.max(0, (100.0 * (s.length - 10) / s.length).floor.toInt)
    val rank = math.max(1, math.ceil(p / 100.0 * s.length).toInt)
    (p, s(rank - 1))
  }

  // ------------------------------------------------------------- a run

  /** One reported metric; `gated` ones go into the result line, the rest
    * are printed for the reader only. */
  final case class Metric(name: String, value: Double, unit: String, note: String = "",
                          gated: Boolean = true)

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Progress to stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"[geobench ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%7.2f s] $msg")

  def run(a: Args, work: File): Unit = {
    val steal0 = Env.steal()
    val wall0 = System.nanoTime()
    val spark = session(work, cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    log("session ready")
    val trace = new Trace
    val w = Workloads.make(a.workload, Ctx(spark, new File(work, a.workload), a.seed, 1.0, trace))

    // set-up: inputs generated and materialised, then warm-up operations
    // (JIT and codegen). The expected outputs are computed once, untimed.
    val phases = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.materialise()
      val t1 = System.nanoTime()
      if (rep == 0) w.oracle()
      val t2 = System.nanoTime()
      val warm = loop(w, 0, WarmOps)
      if (warm.failed > 0) log(s"warm-up failed: ${warm.failures.keys.mkString("; ")}")
      log(s"set-up ${rep + 1} of $SetupReps done")
      ((t1 - t0) / 1e9, (System.nanoTime() - t2) / 1e9)
    }
    val setups = phases.map { case (m, warm) => m + warm }
    // one whole unit more, so every kind of operation is compiled and
    // warm before the first timed one (a set-up warms only the first kind)
    val unitT0 = System.nanoTime()
    loop(w, 0, w.period)
    val unitS = (System.nanoTime() - unitT0) / 1e9
    val setupS = sessionS + Workloads.median(setups) + unitS

    val metrics = mutable.ArrayBuffer.empty[Metric]
    var l: Loop = null
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> (if (a.trace) 1 else 0),
      "cores" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "session_s" -> sessionS,
      "materialise_s" -> phases.map(_._1).mkString("[", ",", "]"),
      "warmup_s" -> phases.map(_._2).mkString("[", ",", "]"),
      "warm_unit_s" -> unitS)

    if (!a.trace) {
      l = loop(w, a.seconds, w.period)
      val (p, t) = tail(l.secs.toSeq)
      val n = l.secs.length
      // Wall-time figures follow the host's vCPU steal, which drifts by a
      // factor of two within minutes on a shared host; they are printed, and
      // the CPU-time figures, which steal inflates far less, are gated.
      metrics ++= Seq(
        Metric("setup_s", setupS, "s", s"session + median of $SetupReps set-ups + one warm unit"),
        Metric("rows_per_s", l.rows / l.secs.sum, "rows/s", s"n=$n ops", gated = false),
        Metric("op_p50_s", Workloads.median(l.secs.toSeq), "s", s"n=$n", gated = false),
        Metric("op_tail_s", t, "s", s"p$p, n=$n", gated = false),
        Metric("rows_per_cpu_s", l.rows / l.cpuSecs.sum, "rows/cpu_s", s"n=$n ops"),
        Metric("op_cpu_s", l.cpuSecs.sum / n, "s", s"mean JVM CPU per operation, n=$n"),
        Metric("ok_ratio", 1.0 - l.failed.toDouble / l.attempted, "ratio",
          s"fail_ratio=${l.failed.toDouble / l.attempted} (${l.failed} of ${l.attempted})"),
        Metric("fail_ratio", l.failed.toDouble / l.attempted, "ratio", gated = false),
        Metric("peak_rss_mb", Env.peakRssMb(), "MB", "VmHWM"),
        Metric("stored_bytes_per_user_byte", w.storedBytesPerUserByte, "ratio"))
    } else {
      // whole units alternate untraced and traced, so both halves see the
      // same warm-up trend; their mean operation times give the overhead
      trace.attach(spark)
      val plain = new Loop
      l = new Loop
      val traced = mutable.Set.empty[Int]
      var gcMs = 0L
      val end = System.nanoTime() + (a.seconds * 1e9).toLong
      trace.span(s"workload.${w.name}") {
        var k = 0
        while (System.nanoTime() < end || k < 2) {
          trace.enabled = k % 2 == 1
          val (first, gc0) = (nextOp + 1, Env.gcMs())
          loop(w, 0, w.period, if (trace.enabled) l else plain)
          if (trace.enabled) { gcMs += Env.gcMs() - gc0; traced ++= first to nextOp }
          k += 1
        }
        trace.enabled = true
      }
      val gcS = gcMs / 1000.0
      val tracedOps = traced.toSet
      trace.span("aux")(w.aux())
      val probe = Probe.run(a.seed, trace)
      trace.drain()
      val view = new TraceView(trace, tracedOps)
      val own = w.owned(view)
      val side = sideProbes(a, work, spark, trace, own.keySet)
      trace.drain()
      val overhead = Workloads.mean(l.secs.toSeq) / Workloads.mean(plain.secs.toSeq)
      record("tracing_overhead_ratio") = overhead
      val layer = view.generic(gcS, cores) ++ own ++ side ++ probe ++ Map(
        "env.cores" -> cores.toDouble,
        "trace.overhead_ratio" -> overhead)
      layer.toSeq.sortBy(_._1).foreach { case (k, v) => metrics += Metric(k, v, Units.of(k)) }
      writeSpans(a, trace, tracedOps)
      l.attempted += plain.attempted; l.failed += plain.failed
      plain.failures.foreach { case (k, v) => l.failures(k) = l.failures.getOrElse(k, 0) + v }
    }

    val stealPerS = (Env.steal() - steal0) / 100.0 / ((System.nanoTime() - wall0) / 1e9)
    record("steal_cpu_s_per_s") = stealPerS
    if (a.trace) metrics += Metric("env.steal_per_s", stealPerS, "1/s")
    log("measured")
    record("ops") = l.attempted
    record("op_s") = l.secs.map(x => f"$x%.3f").mkString("[", ",", "]")
    record("op_cpu_s") = l.cpuSecs.map(x => f"$x%.3f").mkString("[", ",", "]")
    record("failures") = l.failures.map { case (k, v) => Json.str(s"$v x $k") }.mkString("[", ",", "]")
    spark.stop()
    log("session stopped")

    println(s"geobench ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0}: " +
      s"${l.attempted} ops, ${l.failed} failed")
    l.failures.foreach { case (k, v) => println(s"  FAILED x$v: $k") }
    metrics.sortBy(_.name).foreach(m =>
      println(f"  ${m.name}%-38s ${Json.num(m.value)}%-22s ${m.unit}%-8s ${m.note}"))
    val rec = Json.obj(record.toSeq)
    println(s"record: $rec")
    if (a.out.nonEmpty) {
      val dir = new File(a.out); dir.mkdirs()
      Files.writeString(new File(dir, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json").toPath, rec)
    }
    println("{\"correct\":" + (l.failed == 0) + ",\"attempted\":" + l.attempted +
      ",\"failed\":" + l.failed + ",\"metrics\":{" + metrics.filter(_.gated).map(m =>
        "\"" + m.name + "\":{\"value\":" + Json.num(m.value) + ",\"unit\":\"" + m.unit + "\"}")
        .mkString(",") + "}}")
  }

  /** Layer metrics the main workload does not exercise, taken from a few
    * traced operations of each owning workload at the small scale. */
  private def sideProbes(a: Args, work: File, spark: SparkSession, trace: Trace,
                         have: Set[String]): Map[String, Double] =
    Workloads.Names.filter(_ != a.workload).flatMap { name =>
      val w = Workloads.make(name, Ctx(spark, new File(work, s"side-$name"), a.seed, SmallScale, trace))
      trace.span(s"side.$name") {
        w.materialise(); w.oracle(); loop(w, 0, 1)
        val first = nextOp + 1
        val l = loop(w, 0, math.max(2, w.period))
        if (l.failed > 0) log(s"side probe $name failed: ${l.failures.keys.mkString("; ")}")
        w.aux()
        trace.drain()
        w.owned(new TraceView(trace, (first to nextOp).toSet)).filter { case (k, _) => !have.contains(k) }
      }
    }.toMap

  private def writeSpans(a: Args, trace: Trace, ops: Set[Int]): Unit = if (a.out.nonEmpty) {
    val all = trace.allSpans ++ trace.jobSpans()
    val self = trace.selfTimes(all)
    val dir = new File(a.out); dir.mkdirs()
    val lines = all.sortBy(_.startNs).map(s => Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_ns" -> self(s.id))))
    Files.writeString(new File(dir, s"${a.workload}-seed${a.seed}-spans.jsonl").toPath,
      lines.mkString("", "\n", "\n"))
    // per-name totals: where the workload's traced operations spent their time
    all.filter(s => ops.contains(s.op)).groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.length, ss.map(s => s.endNs - s.startNs).sum / 1e9, ss.map(s => self(s.id)).sum / 1e9)
    }.sortBy(-_._4).foreach { case (n, k, tot, slf) =>
      println(f"  span $n%-36s n=$k%-5d total=$tot%.3f s self=$slf%.3f s")
    }
  }

  // ----------------------------------------------------------- smoke

  /** Every workload and check at tiny size, traced. */
  def smoke(a: Args, work: File): Int = {
    val spark = session(work, cores)
    val trace = new Trace
    trace.attach(spark)
    var bad = 0
    Workloads.Names.foreach { name =>
      val w = Workloads.make(name, Ctx(spark, new File(work, name), a.seed, SmallScale, trace))
      val first = nextOp + 1
      val l = try {
        w.materialise(); w.oracle(); w.aux(); loop(w, 0, math.max(2, w.period))
      } catch { case e: Exception => val x = new Loop; x.attempted = 1; x.fail(e.toString); x }
      trace.drain()
      val own = if (l.failed == 0) w.owned(new TraceView(trace, (first to nextOp).toSet)) else Map.empty
      bad += l.failed.toInt
      println(s"smoke $name: ${l.attempted} ops, ${l.failed} failed" +
        (if (l.failed == 0) "" else ": " + l.failures.keys.mkString("; ")) +
        own.toSeq.sortBy(_._1).map { case (k, v) => s"\n  $k = ${Json.num(v)}" }.mkString)
    }
    val probe = Probe.run(a.seed, trace)
    println(s"smoke probe: ${probe.size} kernels timed")
    spark.stop()
    println("{\"smoke\":" + (bad == 0) + ",\"failed\":" + bad + "}")
    if (bad == 0) 0 else 1
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Per-layer metrics computed from the spans, jobs, tasks and actions of a
  * set of traced operations. */
final class TraceView(t: Trace, ops: Set[Int]) {
  private val spans = t.allSpans.filter(s => ops.contains(s.op))
  private val (jobs, submittedMs, tasks, actions) = t.synchronized {
    (t.jobsById.values.filter(j => ops.contains(j.op)).toList, t.stageSubmitted.toMap,
      t.tasks.toList, t.actions.toList)
  }
  private val n = math.max(1, ops.size).toDouble
  private val spanName = spans.map(s => s.id -> s.name).toMap
  private val opSpans = spans.filter(_.name == "op")
  private val stageOp: Map[Int, Int] = jobs.flatMap(j => j.stages.map(_ -> j.op)).toMap
  private val opTasks = tasks.filter(x => stageOp.contains(x.stage))

  def spanCount(names: Seq[String]): Int = spans.count(s => names.contains(s.name))

  def spanMeanS(name: String): Double =
    Workloads.mean(spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9))

  private def jobsOf(names: Seq[String]) = jobs.filter(j => spanName.get(j.span).exists(names.contains))
  def jobsUnder(names: Seq[String]): Int = jobsOf(names).length
  def outputBytesUnder(names: Seq[String]): Double = {
    val st = jobsOf(names).flatMap(_.stages).toSet
    tasks.filter(x => st.contains(x.stage)).map(_.output).sum.toDouble
  }

  def generic(gcS: Double, cores: Int): Map[String, Double] = {
    val wallS = opSpans.map(s => (s.endNs - s.startNs) / 1e9).sum
    val submitted = stageOp.keySet.filter(submittedMs.contains)
    val busy = opTasks.map(_.runMs).sum / 1000.0
    val wait = opTasks.map(x => submittedMs.get(x.stage)
      .map(st => math.max(0L, x.launchMs - st)).getOrElse(0L)).sum / 1000.0
    val skews = opSpans.map { o =>
      val ts = opTasks.filter(x => stageOp(x.stage) == o.op).groupBy(_.stage)
      if (ts.isEmpty) 1.0 else {
        val (_, longest) = ts.maxBy { case (s, xs) =>
          xs.map(x => x.launchMs + x.durationMs).max - submittedMs.getOrElse(s, 0L) }
        val d = longest.map(_.durationMs.toDouble)
        d.max / math.max(1.0, Workloads.median(d))
      }
    }
    val inOp = actions.filter(x => opSpans.exists(o => x.startMs * 1000000L >= o.startNs - 1000000L &&
      x.startMs * 1000000L <= o.endNs))
    val planS = inOp.map(x => x.analysisMs + x.optimizationMs + x.planningMs).sum / 1000.0
    Map(
      "plans.actions" -> inOp.length / n,
      "plans.analysis_s" -> inOp.map(_.analysisMs).sum / 1000.0 / n,
      "plans.optimization_s" -> inOp.map(_.optimizationMs).sum / 1000.0 / n,
      "plans.planning_s" -> inOp.map(_.planningMs).sum / 1000.0 / n,
      "plans.share" -> (if (wallS > 0) planS / wallS else 0.0),
      "spark.jobs" -> jobs.length / n,
      "spark.stages" -> submitted.size / n,
      "spark.tasks" -> opTasks.length / n,
      "spark.task_wait_s" -> wait / n,
      "spark.task_busy_s" -> busy / n,
      "spark.core_busy_ratio" -> (if (wallS > 0) busy / (wallS * cores) else 0.0),
      "spark.stage_skew" -> Workloads.median(skews),
      "spark.gc_s" -> gcS / n,
      "spark.shuffle_write_bytes" -> opTasks.map(_.shuffleWrite).sum / n,
      "spark.shuffle_read_bytes" -> opTasks.map(_.shuffleRead).sum / n,
      "spark.spill_bytes" -> opTasks.map(_.spill).sum / n,
      "spark.output_bytes" -> opTasks.map(_.output).sum / n,
      "spark.task_failures" -> opTasks.count(_.failed).toDouble)
  }
}

object Units {
  def of(k: String): String =
    if (k.endsWith("_ns")) "ns"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_bytes") || k == "sources.bytes_per_geom") "B"
    else if (k.endsWith("per_s")) "1/s"
    else if (k.contains("ratio") || k.contains("share") || k.contains("skew") ||
      k.contains("per_user_byte")) "ratio"
    else "count"
}

object Env {
  /** Steal jiffies of all CPUs so far (0 where /proc/stat is absent). */
  def steal(): Long = try {
    val cpu = Files.readAllLines(new File("/proc/stat").toPath).asScala.head.trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toLong else 0L
  } catch { case _: Exception => 0L }

  def peakRssMb(): Double = try {
    Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  } catch { case _: Exception => 0.0 }

  /** CPU time of this JVM (all threads, user + system). */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

object Json {
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    str(k) + ":" + (v match {
      case d: Double => num(d)
      case x @ (_: Int | _: Long) => x.toString
      case s: String if s.startsWith("[") => s
      case s => str(s.toString)
    })
  }.mkString("{", ",", "}")
}
