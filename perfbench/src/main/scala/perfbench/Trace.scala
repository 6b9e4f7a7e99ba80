package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded at the benchmark's side of each layer boundary. Spans stay
  * in memory; [[Tracer.write]] dumps them when the run ends.
  *
  * Each thread keeps its own stack of open spans. A span opened on another
  * thread with nothing open there (a stream's `foreachBatch`) nests under
  * the innermost span open on the client thread, the one that built the
  * tracer, which is waiting on that stream.
  */
final class Tracer {
  private final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, var endNs: Long)

  private val client = Thread.currentThread()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Map.empty[Thread, List[Int]].withDefaultValue(Nil)

  def span[T](name: String)(body: => T): T = {
    val me = Thread.currentThread()
    val s = synchronized {
      val parent = open(me).headOption.orElse(open(client).headOption).getOrElse(-1)
      val s = Span(spans.size, parent, name, System.nanoTime(), -1L)
      spans += s
      open(me) = s.id :: open(me)
      s
    }
    try body
    finally synchronized {
      s.endNs = System.nanoTime()
      open(me) = open(me).filterNot(_ == s.id)
    }
  }

  private def closed: Seq[Span] = synchronized(spans.filter(_.endNs >= 0).toSeq)

  /** Seconds per span name: whole durations. */
  def totalSeconds: Map[String, Double] =
    closed.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs) / 1e9).sum }

  /** Seconds per span name: each span's duration minus the part of it that
    * its child spans cover (children on other threads may overlap).
    */
  def selfSeconds: Map[String, Double] = {
    val all = closed
    val children = all.filter(_.parent >= 0).groupBy(_.parent)
    def covered(s: Span): Long = Intervals.unionLength(children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - covered(s)) / 1e9).sum }
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    closed.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}

/** The process-wide tracer: `None` in an untraced run, where [[span]] only
  * evaluates its body.
  */
object Trace {
  @volatile var current: Option[Tracer] = None

  def span[T](name: String)(body: => T): T = current match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  def enabled: Boolean = current.isDefined
}

/** One finished SQL execution of the engine: its wall-clock interval (epoch
  * ms) and the directories its executed plan wrote.
  */
final case class Execution(startMs: Long, endMs: Long, writes: Seq[String]) {
  def overlaps(w: (Long, Long)): Boolean = startMs < w._2 && endMs > w._1
  def clip(w: (Long, Long)): (Long, Long) =
    (math.max(startMs, w._1), math.min(endMs, w._2))
}

/** Scheduler-side counters for the traced loop, and every SQL execution
  * the engine ran while the listener was registered.
  */
final class SparkStats extends SparkListener {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val sqlStart = mutable.Map.empty[Long, Long]
  private val finished = mutable.ArrayBuffer.empty[Execution]

  def executions: Seq[Execution] = synchronized(finished.toSeq)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { sqlStart(s.executionId) = s.time }
    case end: SparkListenerSQLExecutionEnd =>
      val writes = PerfbenchBridge.queryExecution(end).toSeq
        .flatMap(qe => PlanIo.writePaths(qe.executedPlan))
      synchronized {
        sqlStart.remove(end.executionId).foreach(s =>
          finished += Execution(s, end.time, writes))
      }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Seconds within `windows` (epoch ms) during which at least one job ran. */
  def inJobSeconds(windows: Seq[(Long, Long)]): Double = synchronized {
    windows.map { case (w0, w1) =>
      Intervals.unionLength(intervals.toSeq.map { case (s, e) =>
        (math.max(s, w0), math.min(e, w1)) })
    }.sum / 1e3
  }
}

/** The executed plan's scan and write metrics of each finished
  * `QueryExecution`.
  */
final class SqlStats extends QueryExecutionListener {
  var io = PlanIo(0, 0, 0, 0)

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    io = io + PlanIo.of(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** File scan and write totals of an executed plan. */
final case class PlanIo(filesScanned: Long, bytesScanned: Long,
    filesWritten: Long, bytesWritten: Long) {
  def +(o: PlanIo): PlanIo = PlanIo(filesScanned + o.filesScanned,
    bytesScanned + o.bytesScanned, filesWritten + o.filesWritten,
    bytesWritten + o.bytesWritten)
  def -(o: PlanIo): PlanIo = PlanIo(filesScanned - o.filesScanned,
    bytesScanned - o.bytesScanned, filesWritten - o.filesWritten,
    bytesWritten - o.bytesWritten)
}

object PlanIo {
  private def metric(ms: Map[String, org.apache.spark.sql.execution.metric.SQLMetric],
      name: String): Long = ms.get(name).map(_.value).getOrElse(0L)

  /** Output directories of the file writes in an executed plan. */
  def writePaths(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => writePaths(a.executedPlan)
    case q: QueryStageExec => writePaths(q.plan)
    case c: CommandResultExec => writePaths(c.commandPhysicalPlan)
    case w: DataWritingCommandExec => w.cmd match {
      case i: InsertIntoHadoopFsRelationCommand => Seq(i.outputPath.toUri.getPath)
      case _ => Nil
    }
    case other => (other.children ++ other.subqueries).flatMap(writePaths)
  }

  def of(p: SparkPlan): PlanIo = p match {
    case a: AdaptiveSparkPlanExec => of(a.executedPlan)
    case q: QueryStageExec => of(q.plan)
    case c: CommandResultExec => of(c.commandPhysicalPlan)
    case s: FileSourceScanExec =>
      PlanIo(metric(s.metrics, "numFiles"), metric(s.metrics, "filesSize"), 0, 0)
    case w: DataWritingCommandExec =>
      w.children.map(of).foldLeft(PlanIo(0, 0,
        metric(w.cmd.metrics, "numFiles"), metric(w.cmd.metrics, "numOutputBytes")))(_ + _)
    case other =>
      (other.children ++ other.subqueries).map(of).foldLeft(PlanIo(0, 0, 0, 0))(_ + _)
  }
}
