package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.streaming.StreamingVectorIndex

/** Pins the read shape of [[SegmentManifest.read]]: a sealed layout is
  * ONE partitioned file scan (key filters prune members as partition
  * filters), and the IVF-PQ refresh wave built on it keeps its job and
  * broadcast counts. */
class ManifestScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def fileRelations(df: DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case r: LogicalRelation
          if r.relation.isInstanceOf[HadoopFsRelation] => r
    }.size

  /** An emptied scratch directory. */
  private def fresh(name: String): String = {
    val dir = scratch(name).toString
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    dir
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    collect(p) { case s: FileSourceScanExec => s }

  /** A layout of `n` single-file members `cells/seg=<k>` holding rows
    * (id = 10·k + i, v). */
  private def layout(name: String, n: Int)
      : (String, SegmentManifest.Manifest) = {
    import spark.implicits._
    val dir = fresh(name)
    val es = (1 to n).map { k =>
      (0 until 3).map(i => (10L * k + i, s"v$k")).toDF("id", "v")
        .coalesce(1).write.parquet(s"$dir/cells/seg=$k")
      SegmentManifest.Entry(k, s"cells/seg=$k")
    }
    (dir, SegmentManifest.Manifest(0, Map("cells" -> es)))
  }

  test("an N-member layout reads as one HadoopFsRelation with the key " +
      "as an IntegerType partition column") {
    val (dir, m) = layout("mscan_one", 6)
    val df = SegmentManifest.read(spark, dir, m, "cells").get
    assert(fileRelations(df) == 1)
    assert(df.schema("seg").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(df.columns.toSeq == Seq("id", "v", "seg"))
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1),
      r.getInt(2))).sortBy(_._1).toSeq
    assert(rows == (1 to 6).flatMap(k =>
      (0 until 3).map(i => (10L * k + i, s"v$k", k))))
  }

  test("a key IN filter is a partition filter: only the named members' " +
      "files are scanned") {
    val (dir, m) = layout("mscan_prune", 6)
    val df = SegmentManifest.read(spark, dir, m, "cells").get
      .filter(col("seg").isin(2, 5))
    val scan = scans(df.queryExecution.executedPlan) match {
      case Seq(s) => s
      case other => fail(s"expected one file scan, got ${other.size}")
    }
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    assert(scan.dataFilters.isEmpty, scan.toString)
    val rows = df.collect()
    assert(rows.map(_.getInt(2)).toSet == Set(2, 5))
    assert(rows.length == 6)
    val scanned = scans(df.queryExecution.executedPlan).head
    assert(scanned.metrics("numFiles").value == 2,
      s"scanned ${scanned.metrics("numFiles").value} files, want 2")
  }

  test("members whose files sit one level down keep the per-member " +
      "union") {
    import spark.implicits._
    val dir = fresh("mscan_nested")
    Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "p")
      .write.partitionBy("p").parquet(s"$dir/cells/seg=1")
    Seq((3L, "c", 0)).toDF("id", "v", "p")
      .write.partitionBy("p").parquet(s"$dir/cells/seg=2")
    val m = SegmentManifest.Manifest(0, Map("cells" -> Seq(
      SegmentManifest.Entry(1, "cells/seg=1"),
      SegmentManifest.Entry(2, "cells/seg=2"))))
    val df = SegmentManifest.read(spark, dir, m, "cells").get
    assert(fileRelations(df) == 2)
    assert(df.select("id", "seg").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ==
      Seq((1L, 1), (2L, 1), (3L, 2)))
  }

  /** Jobs started while `body` runs, from any thread. A listener sees
    * job starts in submission order, so every job `body` submitted is
    * delivered before the probe job that follows it. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val mark = s"mscan-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    def probe(tag: String): Unit = {
      sc.setJobGroup(s"$mark-$tag", tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      probe("start")
      val out = body
      probe("end")
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains(s"$mark-end") &&
        System.nanoTime() < deadline) Thread.sleep(10)
      val order = seen.asScala.toSeq
      val from = order.indexOf(s"$mark-start")
      val to = order.indexOf(s"$mark-end")
      assert(from >= 0 && to > from, order.mkString(","))
      (out, to - from - 1)
    } finally sc.removeSparkListener(listener)
  }

  /** Executed plans of the writes `body` makes, from a query-execution
    * listener (delivered on the same queue as the probe job above). */
  private def writesDuring[A](body: => A): (A,
      Seq[(InsertIntoHadoopFsRelationCommand, SparkPlan)], Int) = {
    val qes = new ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long)
          : Unit = qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val (out, jobs) =
      try jobsDuring(body) finally spark.listenerManager.unregister(l)
    val writes = qes.asScala.toSeq.flatMap(qe =>
      collect(qe.executedPlan) {
        case w: DataWritingCommandExec => w
      }).flatMap(w => w.cmd match {
        case c: InsertIntoHadoopFsRelationCommand => Some((c, w.child))
        case _ => None
      })
    (out, writes, jobs)
  }

  test("IVF-PQ refresh wave at bench geometry (2,000 x 64-d, 16 cells, " +
      "m=8, k=16; 40 new, 40 modified, 20 deleted): one broadcast in " +
      "the commit plan, at most 21 jobs") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    def draw(): Seq[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    val vectors = scala.collection.mutable.LinkedHashMap(
      (0L until 2000L).map(i => i -> draw()): _*)
    val root = java.nio.file.Files.createTempDirectory("mscan_wave")
      .toString
    StreamingVectorIndex.bootstrapIvfPq(vectors.toSeq
        .toDF("vec_id", "embedding"), root, "vec_id", "embedding",
      kCells = 16, m = 8, k = 16, seed = 21L)
    var nextId = 2000L
    def wave(w: Long): Unit = {
      val live = vectors.keys.toIndexedSeq
      val del = rnd.shuffle(live).take(20).toSet
      val mods = rnd.shuffle(live.filterNot(del)).take(40)
      val rows = mods.map(id => (id, vectors(id).map(x =>
          (x + rnd.nextGaussian() * 0.02).toFloat), "upsert")) ++
        (0 until 40).map { _ =>
          nextId += 1; (nextId, draw(), "upsert") } ++
        del.toSeq.map(id => (id, vectors(id), "delete"))
      StreamingVectorIndex.applyWaveIvfPq(spark, root,
        rows.toDF("vec_id", "embedding", "op"), w, "vec_id", "embedding",
        kCells = 16, m = 8, k = 16, seed = 21L)
      rows.foreach { case (id, v, op) =>
        if (op == "delete") vectors.remove(id) else vectors(id) = v }
    }
    // wave 0 warms the memos, as the benchmark's warm-up wave does
    wave(0L)
    val (_, writes, jobs) = writesDuring(wave(1L))
    val commits = writes.filter(_._1.outputPath.toString
      .contains("/codes/_rev/"))
    assert(commits.size == 1, writes.map(_._1.outputPath).mkString(", "))
    val broadcasts = collectWithSubqueries(commits.head._2) {
      case b: BroadcastExchangeExec => b
    }
    info(s"refresh wave: $jobs jobs, ${broadcasts.size} broadcast " +
      "exchange(s) in the commit plan")
    assert(broadcasts.size == 1,
      s"${broadcasts.size} broadcasts in the commit plan:\n" +
        commits.head._2.treeString)
    assert(jobs <= 21, s"refresh wave ran $jobs jobs")
  }
}
