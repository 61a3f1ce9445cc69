package graftbench

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** In-memory trace of one benchmark run: harness spans around every
  * call into a graft layer, one child span per Spark job, per-stage task
  * aggregates and codegen log events. Nothing is written until the run
  * ends ([[Trace.toJson]]). Disabled, every call is a plain pass-through
  * so the untraced run does the same work without the bookkeeping.
  *
  * Times are epoch milliseconds as doubles: Spark's listener events
  * carry epoch-ms stamps, so harness spans use the same clock (with
  * sub-ms resolution from `nanoTime`) and job spans nest inside them. */
final class Trace(val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = ArrayBuffer[Map[String, Any]]()
  private val stack = scala.collection.mutable.Stack[Int]()
  private var nextId = 0
  private var sc: Option[SparkContext] = None
  private var op: String = ""

  /** The span id a job started now should hang under, carried to the
    * listener as a job-local property set on the bench thread. */
  private val SpanProp = "graftbench.span"
  private val OpProp = "graftbench.op"

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = Some(context)
    context.addSparkListener(listener)
  }

  /** Run `body` as span `name` under the innermost open span. */
  def span[T](name: String, opId: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      val prevOp = op
      if (opId.nonEmpty) op = opId
      stack.push(id)
      setProps(id)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack.pop()
        spans += Map("id" -> id, "parent" -> parent, "name" -> name,
          "op" -> op, "start" -> start, "end" -> end)
        op = prevOp
        setProps(stack.headOption.getOrElse(0))
      }
    }

  private def setProps(id: Int): Unit = sc.foreach { c =>
    c.setLocalProperty(SpanProp, id.toString)
    c.setLocalProperty(OpProp, op)
  }

  // ---- Spark listener: job spans and per-stage task aggregates -------

  private val jobs = ArrayBuffer[Map[String, Any]]()
  private val jobStart = scala.collection.mutable.Map[Int, (Double, Int, String)]()
  private val jobOfStage = scala.collection.mutable.Map[Int, Int]()
  private final class StageAgg {
    val taskMs = ArrayBuffer[Long]()
    var cpuNs, gcMs, shuffleRead, shuffleWrite, spill, inBytes, outBytes = 0L
    var empty, failed = 0
  }
  private val stages = scala.collection.mutable.LinkedHashMap[String, StageAgg]()
  private val stageJob = scala.collection.mutable.Map[String, Int]()

  private def listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
      val opId = props.flatMap(p => Option(p.getProperty(OpProp))).getOrElse("")
      jobStart(e.jobId) = (e.time.toDouble, parent, opId)
      e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (start, parent, opId) =>
        jobs += Map("job" -> e.jobId, "parent" -> parent, "op" -> opId,
          "start" -> start, "end" -> e.time.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val key = s"${e.stageId}.${e.stageAttemptId}"
      val agg = stages.getOrElseUpdate(key, new StageAgg)
      jobOfStage.get(e.stageId).foreach(j => stageJob(key) = j)
      if (!e.taskInfo.successful) agg.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        agg.taskMs += m.executorRunTime
        agg.cpuNs += m.executorCpuTime
        agg.gcMs += m.jvmGCTime
        agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        agg.spill += m.diskBytesSpilled
        agg.inBytes += m.inputMetrics.bytesRead
        agg.outBytes += m.outputMetrics.bytesWritten
        if (m.inputMetrics.recordsRead == 0 &&
            m.shuffleReadMetrics.recordsRead == 0) agg.empty += 1
      }
    }
  }

  // ---- codegen log events ---------------------------------------------

  /** Spark's three codegen-fallback warnings, keyed by a short name. */
  private val fallbackMessages = Seq(
    "compile_failed" -> "Failed to compile the generated Java code",
    "expr_fallback" -> "Expr codegen error and falling back to interpreter mode",
    "wholestage_disabled" -> "Whole-stage codegen disabled for plan")
  private val compiledRe = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val codegenEvents = ArrayBuffer[Map[String, Any]]()
  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  /** Count codegen log events for the whole run. Installed before the
    * session so every compile the run triggers is seen; the
    * CodeGenerator logger is raised to INFO for its per-class compile
    * times ("Code generated in N ms"). */
  def installCodegenCounter(): Unit = if (enabled) {
    Configurator.setLevel(codegenLogger, Level.INFO)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("graftbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        val at = e.getTimeMillis.toDouble
        val kind = fallbackMessages.collectFirst { case (k, m) if msg.contains(m) => k }
        Trace.this.synchronized {
          kind.foreach(k => codegenEvents += Map("kind" -> k, "t" -> at))
          msg match {
            case compiledRe(ms) =>
              codegenEvents += Map("kind" -> "compiled", "t" -> at, "ms" -> ms.toDouble)
            case _ =>
          }
        }
      }
    }
    appender.start()
    ctx.getConfiguration.addAppender(appender)
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.toSeq,
      "jobs" -> jobs.toSeq,
      "stages" -> stages.toSeq.map { case (key, g) =>
        Map("stage" -> key, "job" -> stageJob.getOrElse(key, -1),
          "task_ms" -> g.taskMs.toSeq, "cpu_ns" -> g.cpuNs, "gc_ms" -> g.gcMs,
          "shuffle_read_bytes" -> g.shuffleRead,
          "shuffle_write_bytes" -> g.shuffleWrite, "spill_bytes" -> g.spill,
          "read_bytes" -> g.inBytes, "write_bytes" -> g.outBytes,
          "empty_tasks" -> g.empty, "failed_tasks" -> g.failed)
      },
      "codegen" -> codegenEvents.toSeq)
  }
}
