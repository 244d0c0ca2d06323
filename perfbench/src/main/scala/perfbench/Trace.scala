package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call the benchmark made into a layer's public
  * function. `parent` is the enclosing span's id (-1 at an op's root). */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      startMs: Long, endMs: Long, parent: Int, opId: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. Disabled (a plain call-through) in untraced runs. */
final class Spans {
  var enabled = false
  var opId: Int = -1
  val done = mutable.ArrayBuffer.empty[Span]
  private var next = 0
  private var stack: List[Int] = Nil

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      next += 1
      val id = next
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      try body
      finally {
        stack = stack.tail
        done += Span(id, name, t0, System.nanoTime(), w0,
          System.currentTimeMillis(), parent, opId)
      }
    }
}

/** What Spark reported for one op, attributed by job group (tasks,
  * stages, jobs) or by the op in flight (query executions; the bus is
  * drained at every op boundary, so none crosses over). */
final class OpStats {
  var jobs = 0
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // wall ms
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var peakExecMem = 0L
  var shWriteBytes = 0L
  var shWriteRecords = 0L
  var shWriteNs = 0L
  var shReadBytes = 0L
  var fetchWaitMs = 0L
  var spillMem = 0L
  var spillDisk = 0L
  var inputBytes = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var scans = 0
  var rowsEmitted = 0L
  var rowsFiltered = 0L
  var filesListed = 0L
  var splitsRead = 0L
}

/** The traced run's listeners: a SparkListener for jobs, stages and
  * tasks, and a QueryExecutionListener for planning phases and graftcsv
  * scan metrics. Registered only in traced runs. */
final class Tracer(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  val byOp = mutable.Map.empty[Int, OpStats]
  @volatile var currentOp: Int = -1
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobOp = mutable.Map.empty[Int, (Int, Long)]

  private def stats(op: Int): OpStats = synchronized {
    byOp.getOrElseUpdate(op, new OpStats)
  }

  private def opOfGroup(g: String): Option[Int] =
    Option(g).filter(_.startsWith("op-")).map(_.stripPrefix("op-").toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    opOfGroup(g).foreach { op =>
      stats(op).jobs += 1
      jobOp(e.jobId) = (op, e.time)
      e.stageIds.foreach(s => stageOp(s) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, t0) =>
      stats(op).jobSpans += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(op => stats(op).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val s = stats(op)
      s.tasks += 1
      if (e.reason != org.apache.spark.Success) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
        s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.shWriteNs += m.shuffleWriteMetrics.writeTime
        s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillMem += m.memoryBytesSpilled
        s.spillDisk += m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.stageTaskMs.getOrElseUpdate(e.stageId,
          mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)

  private val FilesListed = """graftcsv (\d+) file""".r.unanchored

  private def record(qe: QueryExecution): Unit = {
    val op = currentOp
    if (op < 0) return
    val s = stats(op)
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs).getOrElse(0L)
    val scans = mutable.ArrayBuffer.empty[BatchScanExec]
    try walk(qe.executedPlan, {
      case b: BatchScanExec if b.scan.getClass.getName.startsWith("graft.") =>
        scans += b
      case _ =>
    }) catch { case _: Exception => () }
    synchronized {
      s.analysisMs += phase("analysis")
      s.optimizationMs += phase("optimization")
      s.planningMs += phase("planning")
      scans.foreach { b =>
        s.scans += 1
        def metric(n: String) = b.metrics.get(n).map(_.value).getOrElse(0L)
        s.rowsEmitted += metric("rowsEmitted")
        s.rowsFiltered += metric("rowsFiltered")
        b.scan.description() match {
          case FilesListed(n) => s.filesListed += n.toLong
          case _ =>
        }
        s.splitsRead += (try b.inputPartitions.size catch {
          case _: Exception => 0 })
      }
    }
  }

  private def walk(p: SparkPlan, f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, f)
      case q: QueryStageExec => walk(q.plan, f)
      case _ =>
    }
    p.children.foreach(walk(_, f))
    p.subqueries.foreach(walk(_, f))
  }
}
