package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** What a workload gets from the runner. */
final case class Ctx(spark: SparkSession, inputs: Inputs, dir: Path)

/** A workload: builds its inputs and seed lake, then serves operations. */
trait Workload {
  def name: String
  def setup(ctx: Ctx): State
}

/** A set-up workload instance. `op` runs one closed-loop operation and
  * returns the number of input items it processed; it throws on failure.
  */
trait State {
  /** Untimed: generate operation `i`'s inputs. */
  def prepare(i: Int): Unit = ()
  def op(i: Int): Long
  def opName(i: Int): String
  /** Traced operations only: boundary probes after the operation, outside
    * its span and its listener window.
    */
  def probe(i: Int): Unit = ()
  /** Output checks; each returned string is a failed check. */
  def check(): Seq[String]
  /** Traced runs: per-layer values only the workload can measure, per
    * traced operation, from the engine's SQL executions of the traced
    * operations among others; and the failed checks of their accounting.
    */
  def layerMetrics(tracedOps: Int, executions: Seq[Execution])
      : (Map[String, Double], Seq[String]) = (Map.empty, Nil)
  /** Lake bytes stored per input byte so far. */
  def lakeBytesPerInputByte: Double
  def close(): Unit
}

object Workloads {
  val all: Seq[Workload] = Seq(Medallion, StreamDedup)
  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap
}

/** Names and units of the per-layer metrics a traced run prints, all of
  * them on every workload; a layer a workload does not exercise reads 0.
  */
object Metrics {
  val perLayer: Seq[(String, String)] = Seq(
    "pipeline.bronze_s" -> "s", "pipeline.silver_s" -> "s",
    "pipeline.gold_s" -> "s", "pipeline.driver_s" -> "s",
    "dq.split_s" -> "s", "dq.quarantine_rows" -> "count",
    "dq.valid_ratio" -> "ratio",
    "functions.sentiment_s" -> "s", "functions.text_clean_s" -> "s",
    "ops.incremental_agg_s" -> "s",
    "io.lake.snapshot_resolve_ms" -> "ms", "io.lake.files_scanned" -> "count",
    "io.lake.bytes_scanned" -> "bytes",
    "io.lake.write_s" -> "s", "io.lake.commits" -> "count",
    "io.lake.files_written" -> "count", "io.lake.bytes_written" -> "bytes",
    "io.lake.vacuum_s" -> "s", "io.lake.bytes_per_input_byte" -> "ratio",
    "io.index.append_deduped_s" -> "s", "io.index.landed_ratio" -> "ratio",
    "io.index.dropped_rows" -> "count",
    "streaming.trigger_s" -> "s", "streaming.changefeed_trigger_s" -> "s",
    "streaming.addBatch_ms" -> "ms",
    "streaming.getBatch_ms" -> "ms", "streaming.latestOffset_ms" -> "ms",
    "streaming.queryPlanning_ms" -> "ms", "streaming.walCommit_ms" -> "ms",
    "sql.analyze_ms" -> "ms", "sql.execute_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.in_job_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
    "host.calibration_s" -> "s", "host.peak_rss_mb" -> "MB",
    "run.failed_ratio" -> "ratio",
    "trace.overhead_ratio" -> "ratio", "trace.stage_coverage" -> "ratio")
}

final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Timings of one closed loop. */
final class LoopStats {
  /** Untraced timed operations. */
  val latencies = mutable.ArrayBuffer.empty[Double]
  val tracedLatencies = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Timed operations in order: (traced, seconds). */
  val sequence = mutable.ArrayBuffer.empty[(Boolean, Double)]
  def failed: Long = failures.size.toLong
  def p50: Double = Runner.median(latencies.toSeq)
  /** Median over traced operations of their time over the mean time of the
    * untraced operations either side, which cancels the drift of a run
    * that is still warming.
    */
  def overhead: Double = Runner.median(sequence.indices.collect {
    case k if sequence(k)._1 && k > 0 && k + 1 < sequence.size &&
        !sequence(k - 1)._1 && !sequence(k + 1)._1 =>
      sequence(k)._2 / ((sequence(k - 1)._2 + sequence(k + 1)._2) / 2)
  })
  /** Median over timed operations of items processed per second. */
  def itemsPerS: Double = Runner.median(rates.toSeq)
  val rates = mutable.ArrayBuffer.empty[Double]
}

/** Counters of the listeners and the JVM, summed over traced operations. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskCpuNs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
    io: PlanIo = PlanIo(0, 0, 0, 0), gcMs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskCpuNs - o.taskCpuNs, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, io - o.io, gcMs - o.gcMs)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskCpuNs + o.taskCpuNs, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, io + o.io, gcMs + o.gcMs)
}

/** The traced half of a `--trace 1` run: the tracer, the benchmark's own
  * `SparkListener` and `QueryExecutionListener`, and the windows (one per
  * traced operation) over which their counters are summed.
  */
final class TraceSession(spark: SparkSession) {
  val tracer = new Tracer
  private val sparkStats = new SparkStats
  private val sqlStats = new SqlStats
  private val sc = spark.sparkContext
  sc.addSparkListener(sparkStats)
  spark.listenerManager.register(sqlStats)
  val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  var counters = Counters()
  private var start: Counters = _
  private var startMs = 0L

  private def now(): Counters = {
    import scala.jdk.CollectionConverters._
    PerfbenchBridge.drainListenerBus(sc)
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    sparkStats.synchronized(sqlStats.synchronized(Counters(sparkStats.jobs,
      sparkStats.stages, sparkStats.tasks, sparkStats.taskCpuNs,
      sparkStats.shuffleBytes, sparkStats.spillBytes, sqlStats.io, gc)))
  }

  def begin(): Unit = {
    start = now()
    startMs = System.currentTimeMillis()
    Trace.current = Some(tracer)
  }

  /** Close the operation's listener window; spans stay on for its probes. */
  def endOp(): Unit = {
    windows += ((startMs, System.currentTimeMillis()))
    counters = counters + (now() - start)
  }

  def endProbes(): Unit = Trace.current = None

  def inJobSeconds: Double = sparkStats.inJobSeconds(windows.toSeq)

  /** The engine's SQL executions that overlap a traced operation. */
  def executions: Seq[Execution] =
    sparkStats.executions.filter(e => windows.exists(e.overlaps))

  /** Seconds within the traced operations during which an execution of
    * `execs` ran.
    */
  def seconds(execs: Seq[Execution]): Double =
    windows.map(w => Intervals.unionLength(execs.map(_.clip(w)))).sum / 1e3

  def close(): Unit = {
    Trace.current = None
    sc.removeSparkListener(sparkStats)
    spark.listenerManager.unregister(sqlStats)
  }
}

object Runner {

  /** Untimed operations before timing starts: the first operation of a
    * fresh JVM pays JIT compilation and code generation, about twice a warm
    * operation's time, and the next two are still measurably slower.
    */
  val WarmupOps = 3

  /** Timed operations a loop runs even when they outlast `--seconds`. Most
    * of the spread of the median between runs comes from the host's speed
    * drifting from one run to the next; four operations halved the spread
    * of three in ten-seed trials, at the cost of one operation per run.
    */
  val MinOps = 4

  /** Traced operations a traced run needs, each between two untraced ones. */
  val MinTracedOps = 2

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def run(spark: SparkSession, workload: Workload, args: Main.Args): Outcome = {
    val calibration = mutable.ArrayBuffer(Calibration.run())
    val dataDir = Paths.get("perfbench", "data").toAbsolutePath.toString
    val setups = mutable.ArrayBuffer.empty[Double]
    var state: State = null
    (0 until Main.SetupReps).foreach { rep =>
      if (state != null) state.close()
      val t0 = System.nanoTime()
      val inputs = new Inputs(Inputs.loadBase(spark, dataDir), args.seed)
      state = workload.setup(Ctx(spark, inputs, fresh(args.work, s"setup$rep")))
      setups += (System.nanoTime() - t0) / 1e9
    }
    log(f"${workload.name}: set-up ${setups.map(s => f"$s%.2f").mkString(" ")} s")
    val session = if (args.trace) Some(new TraceSession(spark)) else None
    val st =
      try loop(state, args.seconds, calibration, session)
      finally session.foreach(_.close())
    val checks = state.check()
    val tracedOps = math.max(1, st.tracedLatencies.size)
    val (extra, traceChecks) =
      session.fold((Map.empty[String, Double], Seq.empty[String]))(ts =>
        state.layerMetrics(tracedOps, ts.executions))
    val bytesRatio = state.lakeBytesPerInputByte
    state.close()
    log(f"${workload.name}: ${st.attempted} ops, p50 ${st.p50 * 1e3}%.1f ms, " +
      f"${st.itemsPerS}%.1f items/s, failed ${st.failed}; latencies " +
      st.latencies.map(l => f"${l * 1e3}%.0f").mkString(" ") + " ms")
    log("calibration " + calibration.map(c => f"${c * 1e3}%.1f").mkString(" ") + " ms")
    (checks ++ traceChecks).foreach(c => log(s"CHECK FAILED: $c"))
    st.failures.foreach(f => log(s"OPERATION FAILED: $f"))
    val correct = checks.isEmpty && traceChecks.isEmpty && st.failures.isEmpty

    session match {
      case None =>
        Outcome(correct, st.attempted, st.failed, Seq(
          ("setup_s", median(setups.toSeq), "s"),
          ("op_p50_ms", st.p50 * 1e3, "ms"),
          ("items_per_s", st.itemsPerS, "1/s")))
      case Some(ts) =>
        ts.tracer.write(args.work.getParent.resolve("traces")
          .resolve(s"spans-${workload.name}-${args.seed}.json"))
        val c = ts.counters
        val self = ts.tracer.selfSeconds
        val tracedS = st.tracedLatencies.sum
        val execs = ts.executions
        val writes = execs.filter(_.writes.nonEmpty)
        val values: Map[String, Double] =
          Metrics.perLayer.collect {
            case (n, "s") if self.contains(n) => n -> self(n) / tracedOps
            case (n, "ms") if self.contains(n) => n -> self(n) * 1e3 / tracedOps
          }.toMap ++ Map(
            "io.lake.bytes_per_input_byte" -> bytesRatio,
            "io.lake.files_scanned" -> c.io.filesScanned.toDouble / tracedOps,
            "io.lake.bytes_scanned" -> c.io.bytesScanned.toDouble / tracedOps,
            "io.lake.files_written" -> c.io.filesWritten.toDouble / tracedOps,
            "io.lake.bytes_written" -> c.io.bytesWritten.toDouble / tracedOps,
            "io.lake.write_s" -> ts.seconds(writes) / tracedOps,
            "io.lake.commits" -> writes.size.toDouble / tracedOps,
            "spark.jobs" -> c.jobs.toDouble / tracedOps,
            "spark.stages" -> c.stages.toDouble / tracedOps,
            "spark.tasks" -> c.tasks.toDouble / tracedOps,
            "spark.in_job_s" -> ts.inJobSeconds / tracedOps,
            "spark.driver_gap_s" -> math.max(0.0, tracedS - ts.inJobSeconds) / tracedOps,
            "spark.task_cpu_s" -> c.taskCpuNs / 1e9 / tracedOps,
            "spark.shuffle_bytes" -> c.shuffleBytes.toDouble / tracedOps,
            "spark.spill_bytes" -> c.spillBytes.toDouble / tracedOps,
            "spark.gc_s" -> c.gcMs / 1e3 / tracedOps,
            "host.calibration_s" -> median(calibration.toSeq),
            "host.peak_rss_mb" -> peakRssMb(),
            "run.failed_ratio" -> st.failed.toDouble / math.max(1L, st.attempted),
            "trace.overhead_ratio" -> st.overhead,
            "trace.stage_coverage" -> (if (tracedS > 0) ts.seconds(execs) / tracedS else 0.0)
          ) ++ extra
        log(f"${workload.name}: ${st.tracedLatencies.size} traced ops, overhead " +
          f"${values("trace.overhead_ratio")}%.3f, execution coverage " +
          f"${values("trace.stage_coverage")}%.4f")
        Outcome(correct, st.attempted, st.failed,
          Metrics.perLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) })
    }
  }

  /** Closed loop: after [[WarmupOps]] untimed operations, operations run
    * back to back until `seconds` of timed operations have passed and at
    * least [[MinOps]] ran ([[MinTracedOps]] traced ones in a traced run).
    * A failed operation is counted and named, and its
    * time is not a latency sample. In a traced run every second timed
    * operation is traced, so traced and untraced operations see the same
    * warm state. The calibration kernel runs once in the middle of the loop
    * and once at its end, outside any operation.
    */
  def loop(state: State, seconds: Int, calibration: mutable.ArrayBuffer[Double],
      session: Option[TraceSession]): LoopStats = {
    val st = new LoopStats
    var timedStart = 0L
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    // a traced run ends on an untraced operation, so that every traced
    // one has an untraced neighbour on both sides
    def enough =
      if (session.isEmpty) st.latencies.size >= MinOps
      else st.tracedLatencies.size >= MinTracedOps &&
        st.latencies.size > st.tracedLatencies.size
    var midDone = false
    var consecutiveFailures = 0
    var i = 0
    while (consecutiveFailures < 3 && (i <= WarmupOps || elapsed < seconds || !enough)) {
      if (i == WarmupOps) timedStart = System.nanoTime()
      state.prepare(i)
      val isTimed = i >= WarmupOps
      val tracing = session.filter(_ => isTimed && (i - WarmupOps) % 2 == 1)
      tracing.foreach(_.begin())
      val t0 = System.nanoTime()
      try {
        val n = tracing.fold(state.op(i))(ts => ts.tracer.span("op")(state.op(i)))
        val dt = (System.nanoTime() - t0) / 1e9
        if (tracing.isDefined) st.tracedLatencies += dt
        else if (isTimed) { st.latencies += dt; st.rates += n / dt }
        if (isTimed) st.sequence += ((tracing.isDefined, dt))
        consecutiveFailures = 0
      } catch {
        case NonFatal(e) =>
          st.failures += s"${state.opName(i)}: ${e.getClass.getName}: " +
            String.valueOf(e.getMessage).take(300)
          consecutiveFailures += 1
      }
      tracing.foreach { ts =>
        ts.endOp()
        try state.probe(i) finally ts.endProbes()
      }
      st.attempted += 1
      i += 1
      if (!midDone && i > WarmupOps && elapsed >= seconds / 2.0) {
        midDone = true
        calibration += Calibration.run()
      }
    }
    calibration += Calibration.run()
    st
  }

  private def fresh(work: Path, name: String): Path = {
    val d = work.resolve(name)
    deleteTree(d)
    Files.createDirectories(d)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("VmHWM not found in /proc/self/status"))
  }
}

/** A fixed CPU kernel whose time tracks the host's speed, independent of
  * the engine: a xorshift stream folded through floating-point arithmetic.
  */
object Calibration {
  @volatile private var sink = 0.0

  def run(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var acc = 0.0
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += (x & 0xffff).toDouble * 1e-6
      i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e9
  }
}
