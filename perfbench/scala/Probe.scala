package perfbench

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Task totals of one job label: a traced step, or "" for unlabelled jobs. */
final class LabelTotals {
  var stages = 0
  var tasks = 0
  var cpuNs = 0L       // executor CPU time
  var slotMs = 0L      // task launch → finish, i.e. time a slot was held
  var gcMs = 0L
  var shuffleBytes = 0L // shuffle bytes written
  var spillBytes = 0L   // disk bytes spilled
  var outputBytes = 0L
}

/** JVM-wide sink of what [[StepListener]] sees. The listener is instantiated
  * by the SparkContext the main builds, so the totals live here, keyed by
  * job description (the traced run sets one per step). Everything is written on a listener-bus thread and read
  * by the harness after `SparkContext.stop()` has drained the bus. */
object Probe {
  private val stageLabel = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, LabelTotals]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private var storedBytes = 0L
  private var peakBytes = 0L
  private var contextUpMs = 0L

  private def of(label: String) = totals.getOrElseUpdate(label, new LabelTotals)

  def applicationStarted(): Unit = synchronized {
    if (contextUpMs == 0L) contextUpMs = System.currentTimeMillis()
  }

  def jobStarted(stageIds: Seq[Int], label: String): Unit = synchronized {
    stageIds.foreach(stageLabel(_) = label)
  }

  def stageCompleted(stageId: Int): Unit = synchronized {
    of(stageLabel.getOrElse(stageId, "")).stages += 1
  }

  def taskEnded(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = of(stageLabel.getOrElse(e.stageId, ""))
    t.tasks += 1
    if (e.taskInfo != null) t.slotMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
      t.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Cached/persisted RDD blocks only (memory + disk); a block whose level
    * is no longer valid has been dropped. */
  def blockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      storedBytes += size - rddBlocks.getOrElse(key, 0L)
      if (size > 0) rddBlocks(key) = size else rddBlocks.remove(key)
      peakBytes = math.max(peakBytes, storedBytes)
    }
  }

  def byLabel: Map[String, LabelTotals] = synchronized(totals.toMap)

  def all: LabelTotals = synchronized {
    val s = new LabelTotals
    totals.values.foreach { t =>
      s.stages += t.stages; s.tasks += t.tasks; s.cpuNs += t.cpuNs
      s.slotMs += t.slotMs; s.gcMs += t.gcMs; s.shuffleBytes += t.shuffleBytes
      s.spillBytes += t.spillBytes; s.outputBytes += t.outputBytes
    }
    s
  }

  def peakStoredBytes: Long = synchronized(peakBytes)

  /** Wall-clock time (epoch ms) at which the listener received the first
    * SparkContext's application-start event, which the context's
    * constructor posts once its scheduler is running; None if no context
    * started. */
  def contextStartedMs: Option[Long] = synchronized(Some(contextUpMs).filter(_ != 0L))
}

/** Registered through the `spark.extraListeners` system property, so it
  * reaches the sessions that `BillMatch.main` and `CorpusBuild.main` build
  * themselves. */
class StepListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val label = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    Probe.jobStarted(e.stageIds, label)
  }
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    Probe.applicationStarted()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Probe.stageCompleted(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.taskEnded(e)
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Probe.blockUpdated(e)
}

/** Counts generated-code compile failures and interpreter fallbacks: the
  * log events Spark emits when Janino rejects generated Java
  * (CodeGenerator), when an unsafe projection or a predicate falls back to
  * interpreted evaluation, and when whole-stage codegen is disabled for a
  * plan. Each event is one head line in the log; the count is kept per
  * traced step. */
object CodegenCounter {
  val loggers: Seq[String] = Seq(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    "org.apache.spark.sql.catalyst.expressions.UnsafeProjection",
    "org.apache.spark.sql.catalyst.expressions.Predicate",
    "org.apache.spark.sql.execution.WholeStageCodegenExec")

  /** Message prefixes of the counted events (the same ones `run.py` counts
    * in the log to cross-check this counter). */
  val messages: Seq[String] = Seq(
    "Failed to compile the generated Java code",
    "Expr codegen error and falling back to interpreter mode",
    "Whole-stage codegen disabled for plan")

  @volatile var step: String = ""
  private val counts = mutable.Map.empty[String, Int]

  def record(message: String): Unit =
    if (messages.exists(message.startsWith)) synchronized {
      counts(step) = counts.getOrElse(step, 0) + 1
    }

  def byStep: Map[String, Int] = synchronized(counts.toMap)

  private final class Appender extends AbstractAppender(
      "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = record(e.getMessage.getFormattedMessage)
  }

  private object SparkLogging extends org.apache.spark.internal.Logging {
    def init(): Unit = initializeLogIfNecessary(false)
  }

  /** Spark's logging set-up installs its default configuration, which would
    * drop ours, so it runs first. The logger configs are additive and carry
    * no level of their own: console output and Spark's level settings are
    * unchanged. */
  def install(): Unit = {
    SparkLogging.init()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    val appender = new Appender
    appender.start()
    conf.addAppender(appender)
    loggers.foreach { name =>
      val lc = conf.getLoggerConfig(name) match {
        case c if c.getName == name => c
        case _ =>
          val c = new LoggerConfig(name, null, true)
          conf.addLogger(name, c)
          c
      }
      lc.addAppender(appender, null, null)
    }
    ctx.updateLoggers()
  }
}

/** One timed region of the traced run. */
final case class Span(name: String, parent: String, runId: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans of one traced run, kept in memory and written out at the end.
  * `step` labels the step's Spark jobs (job description) and its codegen
  * events, so listener totals and fallback counts are charged to it. */
final class Tracer(val runId: String, root: String) {
  val spans = mutable.ArrayBuffer.empty[Span]

  def step[T](sc: org.apache.spark.SparkContext, name: String)(body: => T): T = {
    sc.setJobDescription(name)
    try span(name)(body) finally sc.setJobDescription(null)
  }

  /** A step that runs no Spark job of its own, e.g. starting the session. */
  def span[T](name: String)(body: => T): T = {
    CodegenCounter.step = name
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, root, runId, t0, System.nanoTime())
      CodegenCounter.step = ""
    }
  }

  /** Σ wall of the spans named `name` (a step may run more than once). */
  def wall(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
}
