package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --root <scratch dir> [--scale tiny] [--wrong-total]
  * }}}
  *
  * One JVM, `local[nproc]`, shuffle partitions = nproc. The workload
  * sets itself up from scratch [[Workload.setupReps]] times (once at
  * tiny scale): inputs generated from the seed, oracle computed in plain
  * Scala, indexes bootstrapped. The median is part of `setup_s`; then
  * its closed-loop clients run for `--seconds`. The last stdout line is
  * the result record; every earlier line is a JSON fact record. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, root: Path, tiny: Boolean,
                        wrongTotal: Boolean)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("root")).toAbsolutePath,
      kv.get("scale").contains("tiny"), kv.contains("wrong-total"))
  }

  def main(argv: Array[String]): Unit = {
    // `--wrong-total` is a flag; normalize it to a pair for the parser
    val args = parse(argv.flatMap {
      case "--wrong-total" => Seq("--wrong-total", "1")
      case a => Seq(a)
    })
    val workload = Workloads.byName.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; known: " +
        Workloads.byName.keys.toSeq.sorted.mkString(", ")))
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(args.root)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir",
        args.root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.KeywordFilterFusion.install(spark)
    if (args.trace) CodegenFallbacks.install()
    spark.range(1000000).selectExpr("sum(id) as s")
      .write.format("noop").mode("overwrite").save()
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val runId = s"${args.workload}-${args.seed}-" +
      ProcessHandle.current().pid()
    val tracer = new Tracer(args.trace, spark.sparkContext, runId)
    val ctx = new Ctx(spark, tracer, args.seed, args.root.resolve("data"),
      args.tiny, cores, args.wrongTotal)

    // set up from scratch several times; the last one is measured
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var state: workload.State = null.asInstanceOf[workload.State]
    val reps = if (args.tiny) 1 else workload.setupReps
    for (_ <- 0 until reps) {
      Files.createDirectories(ctx.dataRoot)
      wipe(ctx.dataRoot)
      ctx.resetOutcomes()
      ctx.clearPhases()
      val t0 = System.nanoTime()
      state = workload.setup(ctx)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    workload.warmup(ctx, state)
    val warmupS = (System.nanoTime() - w0) / 1e9
    ctx.resetOutcomes()
    Facts.emit("host", Map(
      "nproc" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "session_start_s" -> sessionS,
      "setup_reps_s" -> setupTimes.toSeq,
      "setup_phases_s" -> ctx.phases,
      "warmup_s" -> warmupS))

    tracer.reset()
    val heap = new HeapLivePeak
    heap.start()
    val wallT0 = System.nanoTime()
    val out = tracer.span("workload") { workload.run(ctx, state, args.seconds) }
    val wallS = (System.nanoTime() - wallT0) / 1e9
    heap.stop()
    val spans = tracer.finish()

    val setupS = sessionS + Stats.median(setupTimes.toSeq) + warmupS
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace)
        Seq(("setup_s", setupS, "s")) ++ out.endToEnd ++
          Seq(("heap_live_peak_mb", heap.peakMb, "MB"))
      else {
        val attribution = tracer.listener.attribute(spans)
        val layer = new LayerReport(spans, attribution, cores, wallS)
        // the traced run's own main_op_p50_ms: against the untraced
        // run's value it gives the tracing overhead
        val mainOp = out.endToEnd.collectFirst {
          case ("main_op_p50_ms", v, _) => v }.getOrElse(0.0)
        val all = layer.metrics(out.layerExtras) ++ Seq(
          ("trace.main_op_p50_ms", mainOp, "ms"),
          ("engine.heap_live_peak_mb", heap.peakMb, "MB"))
        TraceWriter.write(args.root.getParent.resolve("traces")
          .resolve(s"trace_${args.workload}_${args.seed}.json"),
          runId, args.workload, spans, attribution, all)
        all
      }
    val attempted = math.max(1L, ctx.attempted.get)
    val failed = ctx.failed.get
    Facts.emit("outcome", Map("attempted" -> attempted, "failed" -> failed,
      "failed_ratio" -> failed.toDouble / attempted,
      "run_wall_s" -> wallS,
      "first_failures" -> ctx.failureSamples))
    val metricJson = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0 && ctx.attempted.get > 0}, """ +
      s""""attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$metricJson}}""")
    System.out.flush()
    spark.stop()
  }

  def wipe(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq
      all.sortBy(-_.getNameCount).foreach(x => if (x != p) Files.delete(x))
    }
}

/** What a workload run hands back to [[Main]]. */
final case class RunOut(endToEnd: Seq[(String, Double, String)],
                        layerExtras: Map[String, Double])

/** Shared run context: session, tracer, seed, scratch root, and the
  * attempted/failed counters every oracle check reports into. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val dataRoot: Path, val tiny: Boolean, val cores: Int,
                val wrongTotal: Boolean) {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val samples = mutable.ArrayBuffer.empty[String]

  def resetOutcomes(): Unit = {
    attempted.set(0); failed.set(0); samples.synchronized(samples.clear())
  }

  /** Record one checked operation; `problem` is None when its output
    * matched the oracle. A wrong answer counts as failed. */
  def check(problem: Option[String]): Unit = {
    attempted.incrementAndGet()
    problem.foreach { p =>
      failed.incrementAndGet()
      samples.synchronized(if (samples.size < 5) samples += p)
    }
  }

  def failureSamples: Seq[String] = samples.synchronized(samples.toList)

  private val phaseS = mutable.LinkedHashMap.empty[String, Double]

  /** Time one named phase of setup (reported as a fact). */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally phaseS.synchronized(phaseS(name) = (System.nanoTime() - t0) / 1e9)
  }
  def phases: Map[String, Double] = phaseS.synchronized(phaseS.toMap)
  def clearPhases(): Unit = phaseS.synchronized(phaseS.clear())

  def path(name: String): String = dataRoot.resolve(name).toString
}

/** Heap used after each garbage collection, peak over the measured
  * window (GC notifications, so no polling and no forced collections
  * inside the window). Heap pools only: Metaspace and the code cache
  * are not the program's data. */
final class HeapLivePeak {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  private val peak = new AtomicLong
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      n.getUserData match {
        case cd: javax.management.openmbean.CompositeData
            if n.getType == "com.sun.management.gc.notification" =>
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.iterator
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak.accumulateAndGet(used, math.max(_, _))
        case _ => ()
      }
  }
  def start(): Unit = {
    System.gc()
    peak.set(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    beans.foreach(_.addNotificationListener(listener, null, null))
  }
  def stop(): Unit = beans.foreach(b =>
    try b.removeNotificationListener(listener)
    catch { case _: Exception => () })
  def peakMb: Double = peak.get / 1048576.0
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def any(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}: ${any(x)}" }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(any).mkString("[", ", ", "]")
    case null => "null"
    case o => str(o.toString)
  }
}

/** Input and host facts: one JSON line each on stdout, before the
  * result record. */
object Facts {
  def emit(kind: String, facts: Map[String, Any]): Unit = synchronized {
    println(Json.any(Map("facts" -> kind) ++ facts))
  }
}

object Workloads {
  val byName: Map[String, Workload] = Seq[Workload](
    RoyaltyEtl, IndexMaintain).map(w => w.name -> w).toMap
}

trait Workload {
  type State
  def name: String
  /** Inputs from the seed, the oracle, and any index bootstrap. */
  def setup(ctx: Ctx): State
  /** How many times a run sets up from scratch; setup_s takes the
    * median. */
  def setupReps: Int
  /** Untimed-by-the-run warm-up after the last setup. */
  def warmup(ctx: Ctx, st: State): Unit
  def run(ctx: Ctx, st: State, seconds: Double): RunOut
}
