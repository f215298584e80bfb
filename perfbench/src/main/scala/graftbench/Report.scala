package graftbench

import java.nio.file.{Files, Path}

import graftbench.Tracer.Span

/** Per-layer metrics from one traced run. Every workload reports the
  * same list: a layer the workload never enters reads 0, which is the
  * "should not move" prediction made visible. */
final class LayerReport(spans: Seq[Span], attribution: Attribution,
                        cores: Int, wallS: Double) {
  import LayerReport._

  private val counters = attribution.bySpan
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  private val byName: Map[String, Seq[Span]] = spans.groupBy(_.name)

  /** Counters of `s` and all its descendants. */
  private def inclusive(s: Span): Counters = {
    val c = new Counters
    def walk(x: Span): Unit = {
      counters.get(x.id).foreach(c.add)
      children.getOrElse(x.id, Nil).foreach(walk)
    }
    walk(s)
    c
  }

  private def named(n: String): Seq[Span] = byName.getOrElse(n, Nil)

  /** Mean wall of the spans named `n`, in `scale` units of a second. */
  private def meanWall(n: String, scale: Double): Double =
    Stats.mean(named(n).map(_.wallNs / 1e9 * scale))

  private def perCall(n: String)(f: Counters => Double): Double = {
    val ss = named(n)
    if (ss.isEmpty) 0.0 else ss.map(s => f(inclusive(s))).sum / ss.size
  }

  private def counterMetrics(n: String): Seq[(String, Double, String)] = {
    val ss = named(n)
    val busy = {
      val wallMs = ss.map(_.wallNs / 1e6).sum
      if (wallMs <= 0) 0.0
      else ss.map(s => inclusive(s).runMs.toDouble).sum / (wallMs * cores)
    }
    Seq(
      (s"$n.jobs", perCall(n)(_.jobs.toDouble), "count"),
      (s"$n.stages", perCall(n)(_.stages.toDouble), "count"),
      (s"$n.tasks", perCall(n)(_.tasks.toDouble), "count"),
      (s"$n.task_busy_ratio", busy, "ratio"),
      (s"$n.sched_delay_ms", perCall(n)(_.schedDelayMs.toDouble), "ms"),
      (s"$n.shuffle_read_bytes", perCall(n)(_.shuffleRead.toDouble), "bytes"),
      (s"$n.shuffle_write_bytes", perCall(n)(_.shuffleWrite.toDouble),
        "bytes"),
      (s"$n.spill_bytes", perCall(n)(_.spill.toDouble), "bytes"),
      (s"$n.gc_ms", Stats.mean(ss.map(_.gcMs.toDouble)), "ms"))
  }

  /** Self time of the grouping spans (the benchmark's own work between
    * calls: client loops, ETL passes, waves) as a share of the client
    * loops' wall: what the layer spans do NOT account for along the
    * blocking path. */
  def unattributedShare: Double = {
    val wall = named("client").map(_.wallNs).sum
    if (wall == 0) 0.0
    else GroupingSpans.flatMap(named)
      .map(s => Tracer.selfNs(s, children.getOrElse(s.id, Nil)))
      .sum.toDouble / wall
  }

  def metrics(extras: Map[String, Double]): Seq[(String, Double, String)] = {
    def x(n: String) = extras.getOrElse(n, 0.0)
    val passes = math.max(1, named("etl.pass").size)
    val etlBytesIn = named("etl.pass").map(s => inclusive(s).bytesIn).sum
    val consolidateJobs = named("sources.consolidate")
      .map(s => inclusive(s).jobs).sum
    val files = x("sources.consolidate.files")
    CounterSpans.flatMap(counterMetrics) ++ Seq(
      ("sources.consolidate.call_s", meanWall("sources.consolidate", 1), "s"),
      ("sources.consolidate.jobs_per_file",
        if (files > 0) consolidateJobs / files else 0.0, "count"),
      ("sources.scan.bytes_in",
        if (named("etl.pass").isEmpty) 0.0 else etlBytesIn.toDouble / passes,
        "bytes"),
      ("sources.csv_write.s", meanWall("sources.csv_write", 1), "s"),
      ("sources.csv_write.bytes_out",
        perCall("sources.csv_write")(_.bytesOut.toDouble), "bytes"),
      ("sources.parquet_write.s", meanWall("sources.parquet_write", 1), "s"),
      ("functions.normalize.ns_per_row", x("functions.normalize.ns_per_row"),
        "ns"),
      ("functions.parse_brl.ns_per_row", x("functions.parse_brl.ns_per_row"),
        "ns"),
      ("functions.codegen_fallbacks", CodegenFallbacks.count.get.toDouble,
        "count"),
      ("plans.optimize_ms", meanWall("plans.optimize", 1e3), "ms"),
      ("plans.keyword_fusion.hits", x("plans.keyword_fusion.hits"), "count"),
      ("operators.segment_manifest.resolve_ms",
        meanWall("operators.segment_manifest", 1e3), "ms"),
      ("operators.segment_manifest.fs_ops",
        Stats.mean(named("operators.segment_manifest")
          .map(_.fsOps.toDouble)), "count"),
      ("operators.bm25_probe.call_ms",
        meanWall("operators.bm25_probe.call", 1e3), "ms"),
      ("operators.bm25_probe.exec_ms",
        meanWall("operators.bm25_probe.exec", 1e3), "ms"),
      ("operators.bm25_upsert.s", meanWall("operators.bm25_upsert", 1), "s"),
      ("operators.bm25_upsert.bytes_out",
        perCall("operators.bm25_upsert")(_.bytesOut.toDouble), "bytes"),
      ("streaming.vector_probe.call_ms",
        meanWall("streaming.vector_probe.call", 1e3), "ms"),
      ("streaming.vector_probe.exec_ms",
        meanWall("streaming.vector_probe.exec", 1e3), "ms"),
      ("streaming.vector_panel_probe.exec_ms",
        meanWall("streaming.vector_panel_probe.exec", 1e3), "ms"),
      ("streaming.vector_wave.s", meanWall("streaming.vector_wave", 1), "s"),
      ("streaming.vector_wave.bytes_out",
        perCall("streaming.vector_wave")(_.bytesOut.toDouble), "bytes"),
      ("streaming.vector_wave.files_out", x("streaming.vector_wave.files_out"),
        "count"),
      ("streaming.vector_wave.recentered",
        x("streaming.vector_wave.recentered"), "ratio"),
      ("engine.storage_peak_mb", x("engine.storage_peak_mb"), "MB"),
      ("engine.blocks_left_after_scope", x("engine.blocks_left_after_scope"),
        "count"),
      ("trace.unattributed_share", unattributedShare, "ratio"),
      ("trace.unattributed_jobs", attribution.unattributedJobs.toDouble,
        "count"),
      ("trace.adopted_jobs", attribution.adoptedJobs.toDouble, "count"),
      ("trace.spans", spans.size.toDouble, "count"),
      ("trace.wall_s", wallS, "s"))
  }
}

object LayerReport {
  /** Spans whose Spark/JVM counters are reported as `<span>.<counter>`. */
  val CounterSpans: Seq[String] = Seq(
    "sources.consolidate", "etl.aggregate", "sources.csv_write",
    "sources.parquet_write", "operators.bm25_probe",
    "operators.bm25_upsert", "streaming.vector_probe",
    "streaming.vector_panel_probe", "streaming.vector_wave")

  /** Spans that only group layer calls; their self time is unattributed. */
  val GroupingSpans: Seq[String] = Seq("client", "etl.pass", "maintain.wave")
}

/** Writes the traced run's artifact: every span (with self time and its
  * own attributed counters), the per-name rollup, and the metrics. */
object TraceWriter {
  def write(out: Path, runId: String, workload: String, spans: Seq[Span],
            attribution: Attribution,
            metrics: Seq[(String, Double, String)]): Unit = {
    val counters = attribution.bySpan
    Files.createDirectories(out.getParent)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val kids = spans.groupBy(_.parent)
    def cj(c: Option[Counters]): String = c.fold("null") { c =>
      Json.any(Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "run_ms" -> c.runMs, "sched_delay_ms" -> c.schedDelayMs,
        "shuffle_read" -> c.shuffleRead, "shuffle_write" -> c.shuffleWrite,
        "spill" -> c.spill, "bytes_in" -> c.bytesIn,
        "bytes_out" -> c.bytesOut, "task_gc_ms" -> c.taskGcMs))
    }
    val spanLines = spans.sortBy(_.startNs).map { s =>
      val self = Tracer.selfNs(s, kids.getOrElse(s.id, Nil))
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, """ +
        s""""run": ${Json.str(s.runId)}, "thread": ${Json.str(s.thread)}, """ +
        s""""start_ms": ${Json.num((s.startNs - t0) / 1e6)}, """ +
        s""""end_ms": ${Json.num((s.endNs - t0) / 1e6)}, """ +
        s""""self_ms": ${Json.num(self / 1e6)}, "fs_ops": ${s.fsOps}, """ +
        s""""gc_ms": ${s.gcMs}, "counters": ${cj(counters.get(s.id))}}"""
    }
    val rollup = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val self = ss.map(s => Tracer.selfNs(s, kids.getOrElse(s.id, Nil))).sum
      s"""${Json.str(n)}: {"count": ${ss.size}, """ +
        s""""wall_ms": ${Json.num(ss.map(_.wallNs).sum / 1e6)}, """ +
        s""""self_ms": ${Json.num(self / 1e6)}}"""
    }
    val body =
      s"""{"run": ${Json.str(runId)}, "workload": ${Json.str(workload)},\n""" +
        s""" "unattributed_jobs": ${attribution.unattributedJobs},\n""" +
        s""" "adopted_jobs": ${attribution.adoptedJobs},\n""" +
        s""" "metrics": {${metrics.map { case (n, v, u) =>
          s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
        }.mkString(",\n  ")}},\n""" +
        s""" "rollup": {${rollup.mkString(",\n  ")}},\n""" +
        s""" "spans": [\n  ${spanLines.mkString(",\n  ")}\n ]}\n"""
    Files.write(out, body.getBytes("UTF-8"))
  }
}
