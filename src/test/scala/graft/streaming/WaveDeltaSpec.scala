package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, StepJobs}
import graft.engine.Steps
import graft.operators.{ProductQuantize, Similarity}

/** The streaming refresh wave's delta pass: fresh rows take their codes
  * and cell in one projection, the one dirty-cell aggregate also yields
  * each dirty cell's (Δn, Δcd_fp_sum), and the drift-stats artifact is
  * carried + Δ — equal to the full scan after every wave, and reset by
  * a full scan when a replay pins a later base than the carried rows
  * describe. Jobs are counted per [[Steps]] label. */
class WaveDeltaSpec extends SparkSpec with StepJobs {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("Steps.scoped labels the jobs of its body and restores the " +
      "enclosing label") {
    val sc = spark.sparkContext
    val (_, labels) = stepsDuring {
      Steps.scoped("outer") {
        sc.parallelize(Seq(1), 1).count()
        Steps.scoped("inner") { sc.parallelize(Seq(1), 1).count() }
        assert(sc.getLocalProperty(Steps.Key) == "outer")
        sc.parallelize(Seq(1), 1).count()
      }
    }
    assert(labels == Seq("outer", "inner", "outer"))
    assert(sc.getLocalProperty(Steps.Key) == null)
    intercept[RuntimeException](Steps.scoped("failing") {
      throw new RuntimeException("boom")
    })
    assert(sc.getLocalProperty(Steps.Key) == null)
  }

  test("IVF-PQ refresh wave at bench geometry (2,000 x 64-d, 16 cells, " +
      "m=8, k=16; 40 new, 40 modified, 20 deleted): every job carries " +
      "a step label, and the drift stats read nothing") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    def draw(): Seq[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    val vectors = scala.collection.mutable.LinkedHashMap(
      (0L until 2000L).map(i => i -> draw()): _*)
    val root = tmp("wave_steps")
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
    val (_, labels) = stepsDuring(wave(1L))
    val perStep = labels.groupBy(identity).map { case (k, v) => k -> v.size }
    info(s"refresh wave: ${labels.size} jobs, per step " +
      perStep.toSeq.sorted.map { case (k, n) => s"$k=$n" }.mkString(" "))
    assert(perStep == Map("wave.delta" -> 1, "refresh.dirty" -> 3,
        "refresh.commit" -> 3, "drift.commit" -> 1),
      s"per-step jobs $perStep")
  }

  // deterministic synthetic embeddings: 8-dim, integer-derived floats
  private def vec(i: Long, shift: Double = 0.0): Seq[Float] =
    Seq.tabulate(8)(j =>
      (((i * 31 + j * 17) % 97) / 97.0 + shift + 0.01).toFloat)

  private type Row6 = (Long, Long, Double, Long, Long)

  private def statRows(df: DataFrame): Seq[Row6] =
    df.select(col("centroid_id").cast("long"), col("n"), col("mean_cd"),
        col("cd_fp_sum"), col("model_fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSeq.sortBy(_._1)

  /** The family's own full scan of `root`'s index under the live
    * model. */
  private def fullScan(root: String, pq: Boolean): Seq[Row6] = {
    val cents = spark.read.parquet(s"$root/cents/gen=0")
    statRows(
      if (pq) ProductQuantize.ivfPqDriftStats(spark, s"$root/index",
        cents, "vec_id")
      else Similarity.ivfDriftStats(spark, s"$root/index", cents))
  }

  private def opsOf(pq: Boolean): StreamingVectorIndex.IndexOps =
    if (pq) StreamingVectorIndex.IvfPqOps(4, 4, 8, 42L)
    else StreamingVectorIndex.QuantizedOps(4, 42L)

  private def bootstrap(root: String, pq: Boolean): Unit = {
    import spark.implicits._
    val init = (0L until 60L).map(i => i -> vec(i))
      .toDF("vec_id", "embedding")
    if (pq) StreamingVectorIndex.bootstrapIvfPq(init, root, "vec_id",
      "embedding", kCells = 4, m = 4, k = 8)
    else StreamingVectorIndex.bootstrapQuantized(init, root, "vec_id",
      "embedding", k = 4)
  }

  /** One wave with the drift triggers off; returns its step labels. */
  private def wave(root: String, pq: Boolean, batch: Long,
                   rows: Seq[(Long, Seq[Float], String)],
                   ops: StreamingVectorIndex.IndexOps = null)
      : Seq[String] = {
    import spark.implicits._
    stepsDuring(StreamingVectorIndex.applyWave(spark, root,
      rows.toDF("vec_id", "embedding", "op"), batch, "vec_id",
      "embedding", Option(ops).getOrElse(opsOf(pq)), 1000000L, 1000000L,
      historyRetention = 4))._2
  }

  /** `inner` with each refresh result passed through `onRefresh` and
    * each stats scan's `cells` argument recorded in `scans`. */
  private class Intercepted(inner: StreamingVectorIndex.IndexOps,
      onRefresh: Similarity.Refreshed => Similarity.Refreshed)
      extends StreamingVectorIndex.IndexOps {
    val scans = scala.collection.mutable.ArrayBuffer[Option[Seq[Long]]]()
    def cellsPath(root: String): String = inner.cellsPath(root)
    def refresh(spark: org.apache.spark.sql.SparkSession, root: String,
                centsLoc: String, fresh: DataFrame, gone: DataFrame,
                idCol: String, vecCol: String): Similarity.Refreshed =
      onRefresh(inner.refresh(spark, root, centsLoc, fresh, gone, idCol,
        vecCol))
    def driftStats(spark: org.apache.spark.sql.SparkSession, root: String,
                   centsLoc: String, idCol: String,
                   cells: Option[Seq[Long]]): DataFrame = {
      scans += cells
      inner.driftStats(spark, root, centsLoc, idCol, cells)
    }
    def modelFp(spark: org.apache.spark.sql.SparkSession, root: String,
                centsLoc: String): Long = inner.modelFp(spark, root, centsLoc)
    def rebuild(snapshot: DataFrame, cents: DataFrame, idCol: String,
                vecCol: String, root: String, gen: Int): Unit =
      inner.rebuild(snapshot, cents, idCol, vecCol, root, gen)
    def fitCentroids(snapshot: DataFrame, vecCol: String): DataFrame =
      inner.fitCentroids(snapshot, vecCol)
    override def vacuumIndex(spark: org.apache.spark.sql.SparkSession,
                             root: String, keep: Int): Unit =
      inner.vacuumIndex(spark, root, keep)
    override def snapshotModel(spark: org.apache.spark.sql.SparkSession,
                               root: String, gen: Int): Unit =
      inner.snapshotModel(spark, root, gen)
  }

  for (pq <- Seq(false, true)) {
    val family = if (pq) "IVF-PQ" else "int8"
    test(s"$family: the delta-updated drift stats equal the full scan " +
        "row for row after every wave — mixed, delete-only, " +
        "cell-emptying, no-op, re-filling and repeated-key waves — and " +
        "read nothing") {
      val root = tmp(s"wave_delta_$family")
      bootstrap(root, pq)
      val members = () => Similarity.readQuantizedIndex(spark,
          if (pq) s"$root/index/codes" else s"$root/index")
        .select(col("vec_id"), col("centroid_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val waves: Seq[() => Seq[(Long, Seq[Float], String)]] = Seq(
        () => Seq((60L, vec(60L), "upsert"), (3L, vec(3L, 0.3), "upsert"),
          (7L, vec(7L), "delete"), (61L, vec(61L, 0.1), "upsert")),
        () => Seq((11L, vec(11L), "delete"), (12L, vec(12L), "delete")),
        () => {
          val m = members()
          val smallest = m.groupBy(_._2).minBy(_._2.length)._1
          m.filter(_._2 == smallest).toSeq
            .map { case (id, _) => (id, vec(id), "delete") }
        },
        () => Seq((999L, vec(999L), "delete")),
        () => (100L until 110L).map(i => (i, vec(i, 0.2), "upsert")) ++
          Seq((20L, vec(20L, -0.2), "upsert")),
        () => Seq((21L, vec(21L, 0.05), "upsert"),
          (22L, vec(22L), "delete")),
        // repeated keys in one batch: a re-delivered delete, and an
        // upsert and a delete of one id — each indexed row goes once
        () => {
          val ids = members().map(_._1).sorted
          Seq((ids(0), vec(ids(0)), "delete"), (ids(0), vec(ids(0)), "delete"),
            (ids(1), vec(ids(1), 0.15), "upsert"),
            (ids(1), vec(ids(1)), "delete"))
        })
      waves.zipWithIndex.foreach { case (rows, w) =>
        val cellsBefore = members().map(_._2).toSet
        val labels = wave(root, pq, w.toLong, rows())
        assert(!labels.contains("drift.stats"),
          s"wave $w: the drift stats ran ${labels.count(_ == "drift.stats")}" +
            " jobs — the delta path did not run")
        val got = statRows(spark.read.parquet(
          s"$root/driftstats/gen=${w + 1}"))
        assert(got == fullScan(root, pq),
          s"wave $w: delta-updated stats diverged from the full scan")
        if (w == 2)
          assert(got.map(_._1).toSet.size < cellsBefore.size,
            "the cell-emptying wave left every cell populated")
      }
    }

    test(s"$family: a replay after a crash between the refresh seal " +
        "and the stats commit resets the stats with a scan equal to " +
        "the full scan, then returns to delta updates") {
      val root = tmp(s"wave_replay_$family")
      bootstrap(root, pq)
      val crashing = new Intercepted(opsOf(pq), _ =>
        throw new RuntimeException("injected crash after refresh seal"))
      wave(root, pq, 0L, Seq((60L, vec(60L), "upsert")))
      // moved and deleted keys: a carry of the pre-crash rows, or a
      // delta against the crashed attempt's seal, would miscount them
      val crashed = Seq((3L, vec(3L, 0.4), "upsert"),
        (8L, vec(8L, -0.3), "upsert"), (9L, vec(9L), "delete"),
        (10L, vec(10L), "delete"), (61L, vec(61L), "upsert"))
      intercept[RuntimeException](wave(root, pq, 1L, crashed, crashing))
      val labels = wave(root, pq, 1L, crashed)
      assert(statRows(spark.read.parquet(s"$root/driftstats/gen=2")) ==
        fullScan(root, pq), "the replay's stats diverged from the full scan")
      assert(labels.contains("drift.stats"),
        "the replay carried the pre-crash stats instead of rescanning")
      val next = wave(root, pq, 2L, Seq((4L, vec(4L, 0.2), "upsert"),
        (5L, vec(5L), "delete")))
      assert(!next.contains("drift.stats"),
        "the wave after the replay did not return to delta updates")
      assert(statRows(spark.read.parquet(s"$root/driftstats/gen=3")) ==
        fullScan(root, pq), "stats diverged after the replay")
    }

    test(s"$family: carried rows read back from the file (a fresh " +
        "process: the memo misses) take the delta path, with no stats " +
        "scan, and equal the full scan") {
      val root = tmp(s"wave_file_$family")
      bootstrap(root, pq)
      val waves = Seq(
        Seq((60L, vec(60L), "upsert"), (3L, vec(3L, 0.3), "upsert"),
          (7L, vec(7L), "delete")),
        Seq((11L, vec(11L), "delete"), (12L, vec(12L), "delete")),
        Seq((13L, vec(13L, -0.2), "upsert"), (62L, vec(62L), "upsert")))
      waves.zipWithIndex.foreach { case (rows, w) =>
        // drop the memo, so the carried rows must come from the file
        StreamingVectorIndex.carriedStats.clear()
        val ops = new Intercepted(opsOf(pq), identity)
        val labels = wave(root, pq, w.toLong, rows, ops)
        // a drift.stats job that is no scan: the file read
        assert(labels.contains("drift.stats"),
          s"wave $w: the carried rows did not come from the file")
        assert(ops.scans.isEmpty,
          s"wave $w: file-read carried rows took a stats scan " +
            ops.scans.mkString(","))
        assert(statRows(spark.read.parquet(
            s"$root/driftstats/gen=${w + 1}")) == fullScan(root, pq),
          s"wave $w: stats from file rows + delta diverged from the " +
            "full scan")
      }
    }

    test(s"$family: a refresh without stat deltas (IVF-PQ past the LUT " +
        "budget) carries the clean cells and rescans only the dirty " +
        "ones, equal to the full scan") {
      val root = tmp(s"wave_nodelta_$family")
      bootstrap(root, pq)
      val dirties = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
      val ops = new Intercepted(opsOf(pq), { r =>
        dirties += r.dirty
        r.copy(deltas = None)
      })
      val waves = Seq(
        Seq((60L, vec(60L), "upsert"), (3L, vec(3L, 0.3), "upsert"),
          (7L, vec(7L), "delete")),
        Seq((11L, vec(11L), "delete")),
        Seq((999L, vec(999L), "delete")),
        Seq((13L, vec(13L, -0.2), "upsert"), (62L, vec(62L), "upsert")))
      waves.zipWithIndex.foreach { case (rows, w) =>
        wave(root, pq, w.toLong, rows, ops)
        assert(statRows(spark.read.parquet(
            s"$root/driftstats/gen=${w + 1}")) == fullScan(root, pq),
          s"wave $w: the pruned rescan diverged from the full scan")
      }
      assert(dirties.length == waves.length && dirties(2).isEmpty,
        s"refreshes $dirties")
      assert(ops.scans.toSeq == dirties.filter(_.nonEmpty).map(Some(_)),
        s"scans ${ops.scans} for dirty cells $dirties")
    }
  }

  test("the driver-side mean_cd equals the stats queries' Spark column " +
      "bit for bit, rounding ties and extreme sums included") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq((1L, 0L), (1L, 5L), (1L, 500L), (1L, 1500L),
      (2L, 1L), (3L, 10000000L), (7L, 1000500L), (4L, 2000000L),
      (1L, 20000000L), (1L, -500L), (1L, Long.MaxValue),
      (3L, Long.MinValue), (Long.MaxValue, 1L), (1L, 4999L), (1L, 5001L))
    val ties = (0 until 500).map { _ =>
      val n = 1L + rnd.nextInt(1000)
      (n, n * (1000L * rnd.nextInt(20000) + 500L))
    }
    val randoms = (0 until 2000).map(_ =>
      (1L + rnd.nextInt(100000), rnd.nextLong() >> rnd.nextInt(63)))
    val pairs = edges ++ ties ++ randoms
    val got = pairs.toDF("n", "cd_fp_sum")
      .select(col("n"), col("cd_fp_sum"),
        Similarity.meanCdCol(col("n"), col("cd_fp_sum")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == pairs.length)
    val diverged = got.filterNot { case (n, s, m) =>
      java.lang.Double.compare(Similarity.meanCd(n, s), m) == 0 }
    assert(diverged.isEmpty, diverged.take(5).mkString(", "))
  }
}
