package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** Closed-loop clients: each thread sends its next request only after
  * the previous one returned. By default a client stops at the deadline;
  * `more(client, requestsDone, timeLeft)` can extend that. Every client
  * runs at least one request. An exception from graft is a failed
  * operation, counted and reported, not a crash of the benchmark. */
object Clients {
  def closedLoop(ctx: Ctx, n: Int, seconds: Double,
                 more: (Int, Int, Boolean) => Boolean = (_, _, t) => t)
                (body: (Int, Int) => Unit): Unit = {
    require(n >= 1 && n <= ctx.cores, s"$n clients on ${ctx.cores} cores")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val crashed = new ConcurrentLinkedQueue[Throwable]
    val threads = (0 until n).map { c =>
      new Thread(() => {
        try ctx.tracer.span("client") {
          var i = 0
          while (i == 0 || more(c, i, System.nanoTime() < deadline)) {
            try body(c, i)
            catch {
              case e: Exception =>
                ctx.check(Some(s"client $c request $i threw: $e"))
            }
            i += 1
          }
        } catch { case t: Throwable => crashed.add(t) }
      }, s"bench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!crashed.isEmpty) throw crashed.peek()
  }
}

/** Driver-side cost of a pure string function, ns per call, over the
  * generated strings: warmed up, then repeated for at least 100 ms. */
object MicroTimer {
  @volatile var sink: Int = 0
  def nsPerCall[A](xs: Array[String])(f: String => A): Double = {
    var h = 0
    xs.foreach(x => h += String.valueOf(f(x)).length)
    var calls = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 100000000L) {
      xs.foreach(x => h += String.valueOf(f(x)).length)
      calls += xs.length
    }
    sink = h
    (System.nanoTime() - t0).toDouble / calls
  }
}

/** The `engine` layer seen from outside (traced runs only): storage
  * memory of cached blocks, sampled every 50 ms by a daemon thread, and
  * the RDDs still persisted after each operation returns. Anything
  * persisted once a `Caching.scoped` pass, a wave or a probe has
  * returned is a leak. */
final class EngineProbe(ctx: Ctx) {
  private val sc = ctx.spark.sparkContext
  @volatile private var storageMb = 0.0
  @volatile private var leftOver = 0
  @volatile private var running = ctx.tracer.enabled
  private val sampler = new Thread(() => {
    while (running) {
      storageMb = math.max(storageMb,
        sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
      Thread.sleep(50)
    }
  }, "bench-engine-probe")
  sampler.setDaemon(true)
  if (running) sampler.start()

  def afterOp(): Unit = if (ctx.tracer.enabled) synchronized {
    leftOver = math.max(leftOver, sc.getPersistentRDDs.size)
  }

  def stop(): Map[String, Double] = {
    running = false
    if (sampler.isAlive) sampler.join()
    Map("engine.storage_peak_mb" -> storageMb,
      "engine.blocks_left_after_scope" -> leftOver.toDouble)
  }
}

object Disk {
  private def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** Bytes of the data files under `root` (checksum and marker files
    * excluded). */
  def dataBytes(root: Path): Long = files(root).filter { p =>
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }.map(Files.size).sum

  /** Files under `root` modified at or after `sinceMs`. */
  def filesSince(root: Path, sinceMs: Long): Int =
    files(root).count(Files.getLastModifiedTime(_).toMillis >= sinceMs)

  def dirsNamed(root: Path, prefix: String): Int =
    if (!Files.isDirectory(root)) 0
    else Files.list(root).iterator().asScala
      .count(_.getFileName.toString.startsWith(prefix))
}
