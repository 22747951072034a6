package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A layer-boundary interval. Wall-clock bounds (epoch ms) are what Spark's
  * listener events carry, so attribution compares against those; `durNs`
  * is the monotonic duration for self-time arithmetic. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
                      startMs: Long, endMs: Long, durNs: Long)

/** Engine counts of one interval: what Spark did while a span was open. */
final case class EngineCounts(
    queryExecutions: Long = 0, jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    executorRunMs: Long = 0, executorCpuMs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0, spillBytes: Long = 0,
    analysisMs: Long = 0, optimizationMs: Long = 0, planningMs: Long = 0,
    codegenCompiles: Long = 0, codegenNs: Long = 0) {
  def +(o: EngineCounts): EngineCounts = EngineCounts(
    queryExecutions + o.queryExecutions, jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, executorRunMs + o.executorRunMs,
    executorCpuMs + o.executorCpuMs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    spillBytes + o.spillBytes, analysisMs + o.analysisMs,
    optimizationMs + o.optimizationMs, planningMs + o.planningMs,
    codegenCompiles + o.codegenCompiles, codegenNs + o.codegenNs)

  def toJson: Map[String, Any] = Map(
    "spark.query_executions" -> queryExecutions, "spark.jobs" -> jobs,
    "spark.stages" -> stages, "spark.tasks" -> tasks,
    "spark.executor_run_ms" -> executorRunMs, "spark.executor_cpu_ms" -> executorCpuMs,
    "spark.gc_ms" -> gcMs, "spark.shuffle_write_bytes" -> shuffleWriteBytes,
    "spark.shuffle_read_bytes" -> shuffleReadBytes, "spark.spill_bytes" -> spillBytes,
    "catalyst.analysis_ms" -> analysisMs, "catalyst.optimization_ms" -> optimizationMs,
    "catalyst.planning_ms" -> planningMs, "codegen.compiles" -> codegenCompiles,
    "codegen.compile_ms" -> codegenNs / 1e6)
}

/** Codegen counters are process-wide totals with no events, so they are
  * read at span boundaries. The count is the compile-time histogram's
  * count, which is exact; the time is `CodeGenerator.compileTime`, the
  * exact nanosecond sum of every compile. The histogram's mean is not
  * used: its reservoir samples. */
object Codegen {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def nanos: Long = CodeGenerator.compileTime
}

/** Spans plus the Spark events needed to attribute engine work to them.
  * Everything stays in memory until [[spansJson]] is written at the end of
  * the run. Listener callbacks run on Spark's listener-bus thread, so the
  * event buffers are synchronized; spans are opened and closed on the
  * benchmark's own threads. */
final class Tracer(runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val codegenAt = mutable.HashMap.empty[Int, (Long, Long)]

  // (event wall time ms, counts) — one entry per engine event
  private val events = mutable.ArrayBuffer.empty[(Long, EngineCounts)]

  private def record(t: Long, c: EngineCounts): Unit = events.synchronized { events += ((t, c)) }

  private val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      record(e.time, EngineCounts(jobs = 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      record(e.taskInfo.finishTime, EngineCounts(tasks = 1))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val c = if (m == null) EngineCounts(stages = 1) else EngineCounts(
        stages = 1, executorRunMs = m.executorRunTime,
        executorCpuMs = m.executorCpuTime / 1000000L, gcMs = m.jvmGCTime,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
      record(i.completionTime.getOrElse(System.currentTimeMillis()), c)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => record(s.time, EngineCounts(queryExecutions = 1))
      case _ =>
    }
  }

  private val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val t = ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      record(t, EngineCounts(analysisMs = ms("analysis"),
        optimizationMs = ms("optimization"), planningMs = ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Run `body` inside a span named `name`, a child of the innermost span
    * open on this thread. */
  def span[T](name: String)(body: => T): T = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = current
    open.set(id :: open.get)
    codegenAt.synchronized { codegenAt(id) = (Codegen.compiles, Codegen.nanos) }
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val dur = System.nanoTime() - t0
      val (c0, n0) = codegenAt.synchronized(codegenAt(id))
      codegenAt.synchronized {
        codegenAt(id) = (Codegen.compiles - c0, Codegen.nanos - n0)
      }
      open.set(open.get.tail)
      synchronized { spans += Span(id, parent, name, runId, w0, System.currentTimeMillis(), dur) }
    }
  }

  /** Record an interval measured elsewhere (a streaming trigger, whose
    * bounds come from its progress report). Codegen counts cannot be
    * split below the enclosing span, so they stay with it. */
  def addSpan(name: String, parent: Int, startMs: Long, endMs: Long): Int = synchronized {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, runId, startMs, endMs, (endMs - startMs) * 1000000L)
    id
  }

  /** The innermost span open on this thread, 0 at top level. */
  def current: Int = open.get.headOption.getOrElse(0)

  def all: Seq[Span] = synchronized(spans.toList)

  /** Engine counts per span: every event goes to the innermost span whose
    * wall interval covers its timestamp, so these counts exclude children. */
  def engineBySpan(spark: SparkSession): Map[Int, EngineCounts] = {
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    val ss = all
    val evs = events.synchronized(events.toList)
    val attributed = mutable.HashMap.empty[Int, EngineCounts].withDefaultValue(EngineCounts())
    evs.foreach { case (t, c) =>
      val covering = ss.filter(s => s.startMs <= t && t <= s.endMs)
      if (covering.nonEmpty) {
        val inner = covering.minBy(s => (s.endMs - s.startMs, -s.id))
        attributed(inner.id) = attributed(inner.id) + c
      }
    }
    attributed.toMap
  }

  /** Codegen compiles and nanoseconds read at the span's own boundaries,
    * so they include its children's. */
  def codegen(id: Int): EngineCounts = {
    val (c, n) = codegenAt.synchronized(codegenAt.getOrElse(id, (0L, 0L)))
    EngineCounts(codegenCompiles = c, codegenNs = n)
  }

  def spansJson(counts: Map[Int, EngineCounts]): Seq[Map[String, Any]] = all.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run_id" -> s.runId,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durNs / 1e6) ++
      (counts.getOrElse(s.id, EngineCounts()) + codegen(s.id)).toJson
  }
}
