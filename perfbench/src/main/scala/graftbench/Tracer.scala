package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Outside-in tracer. Every span is opened by the benchmark's own code
  * around a call into one of graft's modules; nothing inside graft is
  * instrumented. A span carries its id in a Spark local property, so
  * every job submitted while it is the innermost open span on the
  * calling thread (including AQE stage jobs, which inherit the
  * submitting thread's properties) is attributed to it by
  * [[SpanListener]].
  *
  * Jobs that graft submits from its own pool threads carry no property,
  * or the stale id of whatever span was open when the pool thread was
  * created. A span opened with `adopt = true` claims such jobs when it
  * is the innermost adopting span open at their submit time: only a
  * single-writer call (a wave) may adopt, so the claim is unambiguous.
  *
  * Disabled tracers cost one branch per span: the untraced runs that
  * produce the end-to-end numbers use the same code paths. */
final class Tracer(val enabled: Boolean, sc: SparkContext, runId: String) {
  import Tracer._

  private val nextId = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val done = mutable.ArrayBuffer.empty[Span]
  val listener = new SpanListener

  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String, adopt: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parents = stack.get()
      val parent = parents.headOption.getOrElse(-1)
      stack.set(id :: parents)
      sc.setLocalProperty(SpanProperty, id.toString)
      val fs0 = threadFsOps()
      val gc0 = gcMillis()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val s = Span(id, name, parent, runId, Thread.currentThread.getName,
          t0, t1, ms0, System.currentTimeMillis(), adopt,
          threadFsOps() - fs0, gcMillis() - gc0)
        stack.set(parents)
        sc.setLocalProperty(SpanProperty,
          parents.headOption.map(_.toString).orNull)
        done.synchronized(done += s)
      }
    }

  /** Forget everything recorded so far (the setup phase), so the
    * report covers the measured window only. */
  def reset(): Unit = if (enabled) {
    org.apache.spark.BenchAccess.drainListenerBus(sc)
    done.synchronized(done.clear())
    listener.clear()
  }

  /** All finished spans, once the listener bus has delivered every
    * event for the jobs they submitted. */
  def finish(): Seq[Span] = {
    if (enabled) org.apache.spark.BenchAccess.drainListenerBus(sc)
    done.synchronized(done.toList)
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"

  /** `startMs`/`endMs` are wall-clock times, the clock Spark stamps on
    * job submission; `startNs`/`endNs` time the span. */
  final case class Span(id: Int, name: String, parent: Int, runId: String,
                        thread: String, startNs: Long, endNs: Long,
                        startMs: Long, endMs: Long, adopt: Boolean,
                        fsOps: Long, gcMs: Long) {
    def wallNs: Long = endNs - startNs
    def openAt(ms: Long): Boolean = startMs <= ms && ms <= endMs
  }

  /** Hadoop FileSystem operations issued by the CALLING thread (driver
    * side: listings, opens, manifest reads); executor tasks in local
    * mode run on other threads and are counted by the listener. */
  def threadFsOps(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.iterator.map {
      st =>
        val d = st.getThreadStatistics
        d.getReadOps.toLong + d.getLargeReadOps + d.getWriteOps
    }.sum

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Self time of `s`: its duration minus the union of the intervals
    * its direct children cover inside it. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs),
      math.min(c.endNs, s.endNs))).filter(p => p._2 > p._1).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) covered += curE - curS
    s.wallNs - covered
  }
}

/** Spark counters aggregated per span id. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var schedDelayMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesIn = 0L
  var bytesOut = 0L
  var taskGcMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    schedDelayMs += o.schedDelayMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; bytesIn += o.bytesIn
    bytesOut += o.bytesOut; taskGcMs += o.taskGcMs
  }
}

/** Where a traced run's Spark counters went: per span, plus the jobs no
  * span claimed and the jobs an adopting span claimed. */
final case class Attribution(bySpan: Map[Int, Counters], unattributedJobs: Long,
                             adoptedJobs: Long)

/** The benchmark-owned listener: counters per job (stage → job from the
  * job's stage list, task metrics summed into the stage's job), and per
  * job its span property and submit time. Runs on the listener bus
  * thread; [[attribute]] runs after [[Tracer.finish]] drained the bus. */
final class SpanListener extends SparkListener {
  private final case class Job(span: Option[Int], submitMs: Long,
                               counters: Counters)
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobs = mutable.HashMap.empty[Int, Job]
  /** Sink for stages of jobs that started before the last [[clear]]
    * (the setup phase); never reported. */
  private val stray = new Counters

  private def counters(stage: Int): Counters = synchronized {
    stageJob.get(stage).flatMap(jobs.get).fold(stray)(_.counters)
  }

  def clear(): Unit = synchronized { jobs.clear(); stageJob.clear() }

  /** Each job goes to the span named by its property when that span was
    * open at the job's submit time; otherwise (no property, or a stale
    * one inherited by a pool thread) to the innermost adopting span open
    * then; otherwise to no span (-1). */
  def attribute(spans: Seq[Tracer.Span]): Attribution = synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    val adopters = spans.filter(_.adopt)
    val out = mutable.HashMap.empty[Int, Counters]
    var none = 0L
    var adopted = 0L
    jobs.valuesIterator.foreach { j =>
      val own = j.span.flatMap(byId.get).filter(_.openAt(j.submitMs))
      val span = own.orElse {
        val a = adopters.filter(_.openAt(j.submitMs))
        if (a.isEmpty) None else Some(a.maxBy(_.startNs))
      }
      if (span.isEmpty) none += 1
      else if (own.isEmpty) adopted += 1
      out.getOrElseUpdate(span.fold(-1)(_.id), new Counters).add(j.counters)
    }
    Attribution(out.toMap, none, adopted)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt)
    val c = new Counters
    c.jobs = 1
    jobs(e.jobId) = Job(span, e.time, c)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counters(e.stageInfo.stageId)
    synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = counters(e.stageId)
    val info = e.taskInfo
    val total = if (info.finishTime > 0) info.finishTime - info.launchTime
                else 0L
    synchronized {
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.schedDelayMs += math.max(0L, total - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesIn += m.inputMetrics.bytesRead
      c.bytesOut += m.outputMetrics.bytesWritten
      c.taskGcMs += m.jvmGCTime
    }
  }
}

/** Counts CodeGenerator compile failures and whole-stage codegen
  * fallbacks: the log lines Spark emits when generated code fails to
  * compile and execution silently drops to interpreted evaluation. */
object CodegenFallbacks {
  val count = new AtomicLong

  private val loggers = Seq(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    "org.apache.spark.sql.execution.WholeStageCodegenExec")

  private final class Counting extends org.apache.logging.log4j.core
      .appender.AbstractAppender("graftbench-codegen-fallbacks", null, null,
        true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
      val msg = String.valueOf(e.getMessage.getFormattedMessage).toLowerCase
      if (loggers.contains(e.getLoggerName) &&
          (msg.contains("failed to compile") ||
            msg.contains("codegen disabled")))
        count.incrementAndGet()
    }
  }

  def install(): Unit = {
    val app = new Counting
    app.start()
    loggers.foreach { n =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(n,
        org.apache.logging.log4j.Level.WARN)
      org.apache.logging.log4j.LogManager.getLogger(n)
        .asInstanceOf[org.apache.logging.log4j.core.Logger].addAppender(app)
    }
  }
}
