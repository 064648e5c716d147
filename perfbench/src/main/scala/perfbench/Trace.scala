package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** A timed call from the benchmark into one engine module. Times are
  * nanoseconds since the epoch so they line up with Spark's listener
  * timestamps (milliseconds since the epoch). */
final class Span(val id: Long, val name: String, val parent: Long,
                 val op: Long, val startNs: Long) {
  var endNs: Long = 0L
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def record: Map[String, Any] = Map("id" -> id, "name" -> name,
    "parent" -> parent, "op" -> op, "start_ns" -> startNs, "end_ns" -> endNs,
    "attrs" -> attrs)
}

/** Span recorder. Disabled, it only runs the body; enabled, it keeps
  * every span in memory and tags the Spark jobs a span starts with the
  * span id (the `perfbench.span` local property, which the thread pools
  * Spark callers create inherit). Spans are written out when the run
  * ends. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  @volatile var enabled = false
  private val nanoOrigin = System.nanoTime()
  private val wallOrigin = System.currentTimeMillis() * 1000000L
  private var nextId = 1L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  def nowNs(): Long = wallOrigin + (System.nanoTime() - nanoOrigin)

  /** Run `body` inside a span named `name`; the body may attach
    * attributes (counts measured at this boundary) to the span. */
  def span[T](name: String)(body: Span => T): T = {
    if (!enabled) return body(new Span(0L, name, 0L, 0L, 0L))
    val parent = stack.headOption
    val s = new Span(nextId, name, parent.map(_.id).getOrElse(0L),
      parent.map(_.op).getOrElse(nextId), nowNs())
    val cpu0 = processCpuNs()
    val compile0 = compileMs()
    nextId += 1
    spans += s
    stack.push(s)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body(s)
    finally {
      s.endNs = nowNs()
      s.attrs("process_cpu_ns") = processCpuNs() - cpu0
      s.attrs("codegen_compile_ms") = compileMs() - compile0
      stack.pop()
      sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
    }
  }

  def records: Seq[Map[String, Any]] = spans.map(_.record).toSeq
}

object Tracer {
  val SpanProperty = "perfbench.span"

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs(): Long = os.getProcessCpuTime

  /** Total whole-stage codegen compile time so far, from Spark's codegen
    * metrics (exact while the histogram still holds every sample). */
  def compileMs(): Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getSnapshot.getValues.sum.toDouble
}

/** Spark listener for the traced run: jobs (with the span that started
  * them and their stages' call sites, e.g. `treeAggregate at
  * Backend.scala:355`), per-stage task totals, and RDD blocks cached. All
  * events are kept in memory until the run ends. */
final class SparkTrace extends SparkListener {
  private final class StageAgg {
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var schedulerDelayMs = 0L
    var fetchWaitMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var resultBytes = 0L
    val durationsMs = mutable.ArrayBuffer.empty[Long]
  }

  private final class JobRec(val id: Int, val startMs: Long, val span: String,
                             val stages: Seq[Int], val callSites: Seq[String]) {
    var endMs = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  private val blocks = mutable.LinkedHashMap.empty[String, (Long, Long)]

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProperty))).orNull
    jobs(e.jobId) = new JobRec(e.jobId, e.time, span, e.stageIds,
      e.stageInfos.map(_.name).distinct)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    val info = e.taskInfo
    s.tasks += 1
    s.durationsMs += info.duration
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.resultBytes += m.resultSize
      s.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case _: RDDBlockId if b.memSize + b.diskSize > 0 &&
          !blocks.contains(b.blockId.name) =>
        blocks(b.blockId.name) = (System.currentTimeMillis(), b.memSize + b.diskSize)
      case _ =>
    }
  }

  def record: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "span" -> j.span, "stages" -> j.stages,
        "call_sites" -> j.callSites)).toSeq,
      "stages" -> stages.map { case (id, s) => id.toString -> Map(
        "tasks" -> s.tasks, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "scheduler_delay_ms" -> s.schedulerDelayMs, "fetch_wait_ms" -> s.fetchWaitMs,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes,
        "result_bytes" -> s.resultBytes, "durations_ms" -> s.durationsMs) },
      "cached_blocks" -> blocks.values.map { case (t, b) =>
        Map("time_ms" -> t, "bytes" -> b) }.toSeq)
  }
}

/** Counts generated-code compile failures (a stage that falls back from
  * whole-stage codegen) by listening on Spark's code generator loggers.
  * Attached only in the traced run; it keeps those loggers' output off
  * the console. */
final class CodegenLog extends AbstractAppender("perfbench-codegen", null, null,
    true, Property.EMPTY_ARRAY) {
  private val failures = mutable.ArrayBuffer.empty[Long]

  override def append(e: LogEvent): Unit = synchronized {
    val msg = e.getMessage.getFormattedMessage
    if (e.getLevel.isMoreSpecificThan(Level.WARN) && msg.contains("Failed to compile"))
      failures += e.getTimeMillis
  }

  def attach(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    start()
    cfg.addAppender(this)
    CodegenLog.Loggers.foreach { name =>
      val lc = new LoggerConfig(name, Level.WARN, false)
      lc.addAppender(this, Level.WARN, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }

  def record: Map[String, Any] = synchronized {
    Map("failures_ms" -> failures.toSeq)
  }
}

object CodegenLog {
  val Loggers = Seq(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    "org.apache.spark.sql.execution.WholeStageCodegenExec")
}
