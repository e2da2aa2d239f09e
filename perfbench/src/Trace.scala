package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one interval of a traced run, read from outside the program. */
final case class Span(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    skewMax: Double = 0.0,
    analysisMs: Long = 0, optimizerMs: Long = 0, planningMs: Long = 0,
    compileNs: Long = 0, classes: Long = 0) {

  def +(o: Span): Span = Span(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, math.max(skewMax, o.skewMax),
    analysisMs + o.analysisMs, optimizerMs + o.optimizerMs, planningMs + o.planningMs,
    compileNs + o.compileNs, classes + o.classes)

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9,
    "shuffle_read_mb" -> shuffleReadBytes / 1048576.0,
    "shuffle_write_mb" -> shuffleWriteBytes / 1048576.0,
    "spill_mb" -> spillBytes / 1048576.0, "skew_max" -> skewMax,
    "analysis_ms" -> analysisMs, "optimizer_ms" -> optimizerMs, "planning_ms" -> planningMs,
    "compile_ms" -> compileNs / 1e6, "classes" -> classes)
}

/** Listeners attached to the session from outside the program: a
  * SparkListener (jobs, stages, tasks), a QueryExecutionListener (Catalyst
  * phases of every action) and Spark's codegen counters. The benchmark runs
  * one thing at a time, so `take()` — which first drains the listener bus —
  * returns exactly what happened since the previous `take()`. */
final class Trace(spark: SparkSession, slots: Int) {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  private var cur = Span()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private var compileMark = CodeGenerator.compileTime
  private var classMark = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      cur = cur.copy(jobs = cur.jobs + 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        cur = cur.copy(tasks = cur.tasks + 1,
          taskRunMs = cur.taskRunMs + m.executorRunTime,
          taskCpuNs = cur.taskCpuNs + m.executorCpuTime,
          shuffleReadBytes = cur.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = cur.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          spillBytes = cur.spillBytes + m.diskBytesSpilled)
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val ts = stageTaskMs.remove(e.stageInfo.stageId).getOrElse(mutable.ArrayBuffer())
      val mean = if (ts.isEmpty) 0.0 else ts.sum.toDouble / ts.size
      val skew = if (mean > 0) ts.max / mean else 1.0
      cur = cur.copy(stages = cur.stages + 1, skewMax = math.max(cur.skewMax, skew))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = Trace.this.synchronized {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      cur = cur.copy(analysisMs = cur.analysisMs + ms("analysis"),
        optimizerMs = cur.optimizerMs + ms("optimization"),
        planningMs = cur.planningMs + ms("planning"))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Everything recorded since the previous call. */
  def take(): Span = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized {
      val ct = CodeGenerator.compileTime
      val cc = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val s = cur.copy(compileNs = ct - compileMark, classes = cc - classMark)
      compileMark = ct; classMark = cc
      cur = Span()
      s
    }
  }

  /** Task-seconds used out of those the slots offered over `wallS`. */
  def slotUtil(s: Span, wallS: Double): Double =
    if (wallS <= 0) 0.0 else s.taskRunMs / 1e3 / (slots * wallS)

  /** The accounting bound: tasks cannot have run longer than the slots
    * were there. */
  def withinSlots(s: Span, wallS: Double): Boolean = s.taskRunMs / 1e3 <= slots * wallS

  def jvm(): Map[String, Double] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Map("jvm.gc_ms" -> gcMs.toDouble, "jvm.heap_peak_mb" -> heapPeak / 1048576.0)
  }
}
