package graft.streaming

// Spark 4 moved MemoryStream under execution.streaming.runtime
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{ProductQuantize, Similarity}

/** Continuous vector-index maintenance: the foreachBatch drift loop's
  * state routing (snapshot generations, model generations, recenter
  * marker) must produce indexes identical to hand-driven batch calls,
  * converge under micro-batch replay, and recover a crashed recenter
  * deterministically — the crash points of the scaladoc's replay
  * argument, spec'd like the lexical loop's. */
class StreamingVectorIndexSpec extends SparkSpec {

  // deterministic synthetic embeddings: 8-dim, integer-derived floats
  private def vec(i: Long, shift: Double = 0.0): Seq[Float] =
    Seq.tabulate(8)(j =>
      (((i * 31 + j * 17) % 97) / 97.0 + shift + 0.01).toFloat)

  private def corpus(ids: Seq[Long]): Seq[(Long, Seq[Float])] =
    ids.map(i => i -> vec(i))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def indexContent(path: String): Set[(Long, Seq[Byte], Long)] =
    Similarity.readQuantizedIndex(spark, path)
      .select(col("vec_id"), col("codes"),
        col("centroid_id").cast("long"))
      .collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Byte]](1).toSeq, r.getLong(2)))
      .toSet

  test("benign streaming waves produce an int8 index identical to " +
      "hand-driven batch refresh calls, and the snapshot tracks the " +
      "corpus") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val sqlCtx = sql
    val rootS = tmp("svi_stream")
    val rootB = tmp("svi_batch")
    val ckpt = tmp("svi_ck")
    val initial = corpus(0L until 40L).toDF("vec_id", "embedding")
    StreamingVectorIndex.bootstrapQuantized(initial, rootS,
      "vec_id", "embedding", k = 4)
    // batch twin: the BOOTSTRAP's fitted model (seeded ML fits are
    // deterministic only per physical input layout, so the twin must
    // share the fit, not repeat it on a differently-partitioned frame)
    val cents0 = spark.read.parquet(s"$rootS/cents/gen=0")
      .localCheckpoint()
    Similarity.ivfWriteIndexQuantized(
      spark.read.parquet(s"$rootS/snapfull/gen=0"), cents0, "vec_id",
      "embedding", s"$rootB/index")
    // wave 1: 3 adds + 2 modifies; wave 2: 2 deletes + 1 modify
    val w1 = Seq(40L -> "upsert", 41L -> "upsert", 42L -> "upsert",
      3L -> "upsert", 7L -> "upsert")
      .map { case (i, op) => (i, vec(i, shift = 0.002), op) }
    val w2 = Seq((5L, vec(5L), "delete"), (11L, vec(11L), "delete"),
      (3L, vec(3L, shift = 0.004), "upsert"))
    val source = MemoryStream[(Long, Seq[Float], String)]
    val q = StreamingVectorIndex.runQuantized(
      source.toDF().toDF("vec_id", "embedding", "op"),
      rootS, "vec_id", "embedding", k = 4, ckpt)
    try {
      Seq(w1, w2).foreach { w =>
        source.addData(w: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // batch twin replays the same waves through the refresh directly
    for (w <- Seq(w1, w2)) {
      val delta = w.toDF("vec_id", "embedding", "op")
      Similarity.ivfRefreshQuantizedIncremental(spark, s"$rootB/index",
        cents0,
        delta.filter(col("op") === "upsert")
          .select(col("vec_id"), col("embedding")),
        delta.select(col("vec_id"),
          when(col("op") === "upsert", lit("modified"))
            .otherwise(lit("removed")).as("status")),
        "vec_id", "embedding")
    }
    assert(indexContent(s"$rootS/index") == indexContent(s"$rootB/index"),
      "streaming loop diverged from the batch refresh calls")
    // the snapshot fold at gen=2 is the corpus after both waves
    val expectIds = ((0L until 40L).toSet -- Set(5L, 11L)) ++
      Set(40L, 41L, 42L)
    val snapIds = StreamingVectorIndex
      .readSnapshot(spark, rootS, 2, "vec_id", "embedding")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(snapIds == expectIds)
    // below the compaction threshold: the base full plus one
    // delta-sized file per wave — no corpus rewrite happened
    val fs = new org.apache.hadoop.fs.Path(rootS)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gensOf(sub: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$rootS/$sub"))
      .map(_.getPath.getName).filter(_.startsWith("gen=")).sorted.toSeq
    assert(gensOf("snapfull") == Seq("gen=0"))
    assert(gensOf("snapdelta") == Seq("gen=1", "gen=2"))
  }

  test("a replayed wave converges: applying the same batch twice " +
      "leaves index and snapshot bit-identical to one application") {
    import spark.implicits._
    val root = tmp("svi_replay")
    val initial = corpus(0L until 30L).toDF("vec_id", "embedding")
    StreamingVectorIndex.bootstrapQuantized(initial, root,
      "vec_id", "embedding", k = 4)
    val ops = StreamingVectorIndex.QuantizedOps(4, 42L)
    val delta = Seq((30L, vec(30L), "upsert"),
      (2L, vec(2L, 0.003), "upsert"), (9L, vec(9L), "delete"))
      .toDF("vec_id", "embedding", "op")
    StreamingVectorIndex.applyWave(spark, root, delta, 0L,
      "vec_id", "embedding", ops, 115L, 175L)
    val once = indexContent(s"$root/index")
    def snapFold() = StreamingVectorIndex
      .readSnapshot(spark, root, 1, "vec_id", "embedding")
      .collect().map(_.toString).sorted.toSeq
    val snapOnce = snapFold()
    // the replay: same batchId, same delta — the crashed-attempt case
    // (snapshot gen=1 already written, refresh already committed; the
    // already-added key 30 arrives as a plain "modified" upsert)
    StreamingVectorIndex.applyWave(spark, root, delta, 0L,
      "vec_id", "embedding", ops, 115L, 175L)
    assert(indexContent(s"$root/index") == once,
      "replay changed the index")
    assert(snapFold() == snapOnce, "replay changed the snapshot")
  }

  test("a crashed recenter (sealed marker, no model write) recovers " +
      "deterministically before the next wave touches the index") {
    import spark.implicits._
    val root = tmp("svi_crash")
    val expectRoot = tmp("svi_crash_expect")
    val initial = corpus(0L until 30L).toDF("vec_id", "embedding")
    StreamingVectorIndex.bootstrapQuantized(initial, root,
      "vec_id", "embedding", k = 4)
    val ops = StreamingVectorIndex.QuantizedOps(4, 42L)
    // wave 1's snapshot is on storage and the recenter DECISION was
    // sealed — then the process died before rebuild/model-write
    val snap1 = corpus(0L until 25L).toDF("vec_id", "embedding")
    snap1.write.mode("overwrite").parquet(s"$root/snapfull/gen=1")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/_RECENTER_PENDING"), true)
    try out.write("1".getBytes("UTF-8")) finally out.close()
    // next wave (batch 1 → gen 2): recovery must replay the decision
    // from snapshot gen=1 — refit, rebuild, model write, marker clear
    val delta = Seq((50L, vec(50L), "upsert"))
      .toDF("vec_id", "embedding", "op")
    StreamingVectorIndex.applyWave(spark, root, delta, 1L,
      "vec_id", "embedding", ops, 115L, 175L)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/_RECENTER_PENDING")))
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/cents/gen=1")),
      "recovery did not write the recentered model")
    // the recovered model is the pure seeded function of the WRITTEN
    // snapshot-1 files (ML fits are deterministic per physical layout)
    val expectCents = Similarity.learnedCentroids(
      spark.read.parquet(s"$root/snapfull/gen=1")
        .select(col("vec_id"), col("embedding")), "embedding",
      k = 4).localCheckpoint()
    val gotCents = spark.read.parquet(s"$root/cents/gen=1")
    assert(gotCents.collect().map(_.toString).sorted.toSeq ==
      expectCents.collect().map(_.toString).sorted.toSeq,
      "recovered centroids diverged from the deterministic refit")
    // and the index equals rebuild-from-snapshot-1 + the wave's
    // refresh, replayed against an expectation root
    Similarity.ivfWriteIndexQuantized(snap1, expectCents, "vec_id",
      "embedding", s"$expectRoot/index")
    Similarity.ivfRefreshQuantizedIncremental(spark,
      s"$expectRoot/index", expectCents,
      delta.filter(col("op") === "upsert")
        .select(col("vec_id"), col("embedding")),
      delta.select(col("vec_id"), lit("modified").as("status")),
      "vec_id", "embedding")
    assert(indexContent(s"$root/index") ==
      indexContent(s"$expectRoot/index"),
      "recovered index diverged from the deterministic replay")
  }

  test("a hard-drift wave recenters in-loop: marker cleared, model " +
      "generation advanced, index equals the from-scratch rebuild of " +
      "the final snapshot") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val sqlCtx = sql
    val root = tmp("svi_drift")
    val ckpt = tmp("svi_drift_ck")
    val initial = corpus(0L until 40L).toDF("vec_id", "embedding")
    StreamingVectorIndex.bootstrapQuantized(initial, root,
      "vec_id", "embedding", k = 4)
    // every vector wanders far from its fitted cell: displacement
    // breaches the relative trigger and the loop must recenter
    val wave = (0L until 40L).map(i =>
      (i, vec(i, shift = 3.0 * (i % 5)), "upsert"))
    val source = MemoryStream[(Long, Seq[Float], String)]
    val q = StreamingVectorIndex.runQuantized(
      source.toDF().toDF("vec_id", "embedding", "op"),
      root, "vec_id", "embedding", k = 4, ckpt)
    try {
      source.addData(wave: _*)
      q.processAllAvailable()
    } finally q.stop()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/_RECENTER_PENDING")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/cents/gen=1")),
      "hard drift did not recenter")
    // the recenter materialized the fold as the new full snapshot
    val finalSnap = spark.read.parquet(s"$root/snapfull/gen=1")
      .select(col("vec_id"), col("embedding"))
    val expectRoot = tmp("svi_drift_expect")
    val cents2 = Similarity.learnedCentroids(finalSnap, "embedding",
      k = 4).localCheckpoint()
    Similarity.ivfWriteIndexQuantized(finalSnap, cents2, "vec_id",
      "embedding", s"$expectRoot/index")
    assert(indexContent(s"$root/index") ==
      indexContent(s"$expectRoot/index"),
      "recentered index diverged from the from-scratch rebuild")
  }

  test("chain compaction: the fold materializes via staged rename, " +
      "old chain GCs, and a replayed wave after its own compaction " +
      "is a no-op under the fold rule") {
    import spark.implicits._
    val root = tmp("svi_compact")
    val initial = corpus(0L until 30L).toDF("vec_id", "embedding")
    StreamingVectorIndex.bootstrapQuantized(initial, root,
      "vec_id", "embedding", k = 4)
    val ops = StreamingVectorIndex.QuantizedOps(4, 42L)
    val d0 = Seq((30L, vec(30L), "upsert"), (4L, vec(4L), "delete"))
      .toDF("vec_id", "embedding", "op")
    val d1 = Seq((31L, vec(31L), "upsert"),
      (6L, vec(6L, 0.003), "upsert")).toDF("vec_id", "embedding", "op")
    StreamingVectorIndex.applyWave(spark, root, d0, 0L,
      "vec_id", "embedding", ops, 115L, 175L, compactEvery = 2)
    StreamingVectorIndex.applyWave(spark, root, d1, 1L,
      "vec_id", "embedding", ops, 115L, 175L, compactEvery = 2)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gensOf(sub: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/$sub"))
      .map(_.getPath.getName).filter(_.startsWith("gen=")).sorted.toSeq
    // wave 2 triggered compaction: one full at gen=2, chain empty
    assert(gensOf("snapfull") == Seq("gen=2"), gensOf("snapfull"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/snapdelta")) || gensOf("snapdelta").isEmpty)
    val expectIds = ((0L until 30L).toSet - 4L) ++ Set(30L, 31L)
    def foldIds() = StreamingVectorIndex
      .readSnapshot(spark, root, 2, "vec_id", "embedding")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(foldIds() == expectIds)
    val idx = indexContent(s"$root/index")
    // replay wave 1 AFTER its compaction: the re-written delta gen=2
    // must be excluded by the fold rule (full gen=2 is the base) and
    // the refresh must converge — state bit-identical
    StreamingVectorIndex.applyWave(spark, root, d1, 1L,
      "vec_id", "embedding", ops, 115L, 175L, compactEvery = 2)
    assert(foldIds() == expectIds,
      "replay after compaction changed the snapshot fold")
    assert(indexContent(s"$root/index") == idx,
      "replay after compaction changed the index")
  }

  test("the IVF-PQ loop: benign wave equals batch refresh through " +
      "the same written codebooks") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val sqlCtx = sql
    val rootS = tmp("svi_pq_stream")
    val rootB = tmp("svi_pq_batch")
    val ckpt = tmp("svi_pq_ck")
    val initial = corpus(0L until 40L).toDF("vec_id", "embedding")
    StreamingVectorIndex.bootstrapIvfPq(initial, rootS,
      "vec_id", "embedding", kCells = 4, m = 4, k = 8)
    // share the bootstrap's fitted model + snapshot (fit determinism
    // is per physical input layout)
    val cents0 = spark.read.parquet(s"$rootS/cents/gen=0")
      .localCheckpoint()
    ProductQuantize.ivfPqWriteIndex(
      spark.read.parquet(s"$rootS/snapfull/gen=0"), cents0, "vec_id",
      "embedding", m = 4, k = 8, s"$rootB/index")
    val w = Seq((40L, vec(40L), "upsert"),
      (6L, vec(6L, 0.002), "upsert"), (13L, vec(13L), "delete"))
    val source = MemoryStream[(Long, Seq[Float], String)]
    val q = StreamingVectorIndex.runIvfPq(
      source.toDF().toDF("vec_id", "embedding", "op"),
      rootS, "vec_id", "embedding", kCells = 4, m = 4, k = 8, ckpt)
    try {
      source.addData(w: _*)
      q.processAllAvailable()
    } finally q.stop()
    val delta = w.toDF("vec_id", "embedding", "op")
    ProductQuantize.ivfPqRefreshIncremental(spark, s"$rootB/index",
      cents0,
      delta.filter(col("op") === "upsert")
        .select(col("vec_id"), col("embedding")),
      delta.select(col("vec_id"),
        when(col("op") === "upsert", lit("modified"))
          .otherwise(lit("removed")).as("status")),
      "vec_id", "embedding")
    def pqContent(path: String): Set[(Long, Seq[Long], Long)] =
      Similarity.readQuantizedIndex(spark, path)
        .select(col("vec_id"), col("codes"),
          col("centroid_id").cast("long"))
        .collect()
        .map(r => (r.getLong(0),
          r.getAs[scala.collection.Seq[Long]](1).toSeq, r.getLong(2)))
        .toSet
    assert(pqContent(s"$rootS/index/codes") ==
      pqContent(s"$rootB/index/codes"),
      "streaming IVF-PQ loop diverged from the batch refresh")
  }

  test("generation time travel: probeAsOfQuantized replays every " +
      "retained generation bit-identically to a written index of " +
      "that state — across two refresh waves AND a recenter — and " +
      "fails loudly below the retention floor") {
    import spark.implicits._
    val root = tmp("svi_asof")
    val initial = corpus(0L until 40L).toDF("vec_id", "embedding")
    StreamingVectorIndex.bootstrapQuantized(initial, root,
      "vec_id", "embedding", k = 4)
    val ops = StreamingVectorIndex.QuantizedOps(4, 42L)
    // wave 1 (benign): adds + deletes; wave 2 (benign): adds;
    // wave 3: every vector wanders — the drift trigger recenters
    val d1 = (corpus(40L until 48L).map { case (i, v) =>
        (i, v, "upsert") } ++
      (0L until 4L).map(i => (i, vec(i), "delete")))
      .toDF("vec_id", "embedding", "op")
    StreamingVectorIndex.applyWave(spark, root, d1, 0L,
      "vec_id", "embedding", ops, 115L, 175L, historyRetention = 8)
    val d2 = corpus(48L until 56L).map { case (i, v) =>
        (i, v, "upsert") }.toDF("vec_id", "embedding", "op")
    StreamingVectorIndex.applyWave(spark, root, d2, 1L,
      "vec_id", "embedding", ops, 115L, 175L, historyRetention = 8)
    val d3 = (4L until 56L).map(i =>
        (i, vec(i, shift = 3.0 * (i % 5)), "upsert"))
      .toDF("vec_id", "embedding", "op")
    StreamingVectorIndex.applyWave(spark, root, d3, 2L,
      "vec_id", "embedding", ops, 115L, 175L, historyRetention = 8)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/cents/gen=3")),
      "the drift wave did not recenter")
    def modelGens = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/cents")).toSeq
      .map(_.getPath.getName.stripPrefix("gen=").toInt).sorted
    val qv = Seq(Tuple1(vec(7L).map(_.toDouble)))
      .toDF("qvec")
    def probeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // parity at EVERY retained generation: expected = a from-scratch
    // written index of (snapshot at g, model in force at g), probed
    // through the physical-layout path
    for (g <- Seq(1, 2, 3)) {
      val snapG = StreamingVectorIndex.readSnapshot(spark, root, g,
        "vec_id", "embedding")
      val mg = modelGens.filter(_ <= g).max
      val cents = spark.read.parquet(s"$root/cents/gen=$mg")
      val scratch = tmp(s"svi_asof_twin$g")
      Similarity.ivfWriteIndexQuantized(snapG, cents, "vec_id",
        "embedding", s"$scratch/index")
      val expected = probeSet(Similarity.ivfProbePrunedQuantized(
        spark, s"$scratch/index", cents, qv, "vec_id",
        k = 10, nProbe = 2))
      val got = probeSet(StreamingVectorIndex.probeAsOfQuantized(
        spark, root, g, qv, "vec_id", "embedding", k = 10, nProbe = 2))
      assert(got == expected, s"as-of probe diverged at gen $g")
    }
    // the latest generation's as-of equals a live probe of the
    // actually-maintained physical index
    val centsLive = spark.read.parquet(s"$root/cents/gen=3")
    val live = probeSet(Similarity.ivfProbePrunedQuantized(spark,
      s"$root/index", centsLive, qv, "vec_id", k = 10, nProbe = 2))
    assert(probeSet(StreamingVectorIndex.probeAsOfQuantized(spark,
      root, 3, qv, "vec_id", "embedding", k = 10, nProbe = 2)) == live,
      "as-of at the live generation diverged from the live probe")
    // retention floor: a history-free wave compacts the chain away
    // and reads below the floor fail LOUDLY
    val d4 = corpus(200L until 204L).map { case (i, v) =>
        (i, v, "upsert") }.toDF("vec_id", "embedding", "op")
    StreamingVectorIndex.applyWave(spark, root, d4, 3L,
      "vec_id", "embedding", ops, 115L, 175L, compactEvery = 1,
      historyRetention = 0)
    val e = intercept[IllegalArgumentException] {
      StreamingVectorIndex.probeAsOfQuantized(spark, root, 1, qv,
        "vec_id", "embedding", k = 10, nProbe = 2).collect()
    }
    assert(e.getMessage.contains("no full snapshot"),
      s"wrong floor message: $e")
  }

  test("IVF-PQ generation time travel: probeAsOfIvfPq replays every " +
      "retained generation bit-identically to a physical index of " +
      "that state under the generation's own codebooks, across two " +
      "refresh waves and a recenter") {
    import spark.implicits._
    val root = tmp("svi_pq_asof")
    val initial = corpus(0L until 40L).toDF("vec_id", "embedding")
    StreamingVectorIndex.bootstrapIvfPq(initial, root,
      "vec_id", "embedding", kCells = 4, m = 4, k = 8)
    def wave(rows: Seq[(Long, Seq[Float], String)], id: Long): Unit =
      StreamingVectorIndex.applyWaveIvfPq(spark, root,
        rows.toDF("vec_id", "embedding", "op"), id,
        "vec_id", "embedding", kCells = 4, m = 4, k = 8,
        historyRetention = 8)
    wave(corpus(40L until 48L).map { case (i, v) => (i, v, "upsert") }
      ++ (0L until 4L).map(i => (i, vec(i), "delete")), 0L)
    wave(corpus(48L until 56L).map { case (i, v) =>
      (i, v, "upsert") }, 1L)
    wave((4L until 56L).map(i =>
      (i, vec(i, shift = 3.0 * (i % 5)), "upsert")).toSeq, 2L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/cents/gen=3")),
      "the drift wave did not recenter")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/books/gen=3")),
      "the recenter did not snapshot its codebooks")
    def modelGens = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/cents")).toSeq
      .map(_.getPath.getName.stripPrefix("gen=").toInt).sorted
    val qv = Seq(Tuple1(vec(7L).map(_.toDouble))).toDF("qvec")
    def probeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // parity per retained generation: a TWIN physical index written
    // from (snapshot at g, the generation's centroids + codebooks) —
    // codes through the one shared pqEncode derivation — probed
    // through the physical ivfPqProbe path
    for (g <- Seq(1, 2, 3)) {
      val snapG = StreamingVectorIndex.readSnapshot(spark, root, g,
        "vec_id", "embedding")
      val mg = modelGens.filter(_ <= g).max
      val cents = spark.read.parquet(s"$root/cents/gen=$mg")
      val books = spark.read.parquet(s"$root/books/gen=$mg")
      val twin = tmp(s"svi_pq_twin$g")
      books.coalesce(1).write.mode("overwrite")
        .parquet(s"$twin/codebooks")
      ProductQuantize.pqEncode(snapG, "vec_id", "embedding",
          books, m = 4)
        .join(Similarity.ivfAssignCosine(snapG, cents, "vec_id",
          "embedding"), Seq("vec_id"))
        .repartition(col("centroid_id"))
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(s"$twin/codes")
      val expected = probeSet(ProductQuantize.ivfPqProbe(spark, twin,
        cents, qv, "vec_id", k = 10, nProbe = 2))
      val got = probeSet(StreamingVectorIndex.probeAsOfIvfPq(spark,
        root, g, qv, "vec_id", "embedding", k = 10, nProbe = 2))
      assert(got == expected, s"PQ as-of probe diverged at gen $g")
    }
    // the live generation's as-of equals a probe of the actually
    // maintained physical index under the live model
    val centsLive = spark.read.parquet(s"$root/cents/gen=3")
    val live = probeSet(ProductQuantize.ivfPqProbe(spark,
      s"$root/index", centsLive, qv, "vec_id", k = 10, nProbe = 2))
    assert(probeSet(StreamingVectorIndex.probeAsOfIvfPq(spark, root,
      3, qv, "vec_id", "embedding", k = 10, nProbe = 2)) == live,
      "PQ as-of at the live generation diverged from the live probe")
  }

  test("refresh-wave MVCC: a LIVE probe pinned before an upsert wave " +
      "returns the pre-wave answer after the wave seals; fresh probes " +
      "see the wave; the per-wave vacuum honors the retention dial") {
    import spark.implicits._
    val root = tmp("svi_livemvcc")
    val initial = corpus(0L until 40L).toDF("vec_id", "embedding")
    StreamingVectorIndex.bootstrapQuantized(initial, root,
      "vec_id", "embedding", k = 4)
    val ops = StreamingVectorIndex.QuantizedOps(4, 42L)
    def runWave(rows: Seq[(Long, Seq[Float], String)], id: Long,
                retention: Int): Unit =
      StreamingVectorIndex.applyWave(spark, root,
        rows.toDF("vec_id", "embedding", "op"), id,
        "vec_id", "embedding", ops, 115L, 175L,
        historyRetention = retention)
    // wave 0 establishes the manifest mode (bootstrap wrote plain hive)
    runWave(corpus(40L until 44L).map { case (i, v) =>
      (i, v, "upsert") }, 0L, retention = 1)
    val cents = spark.read.parquet(s"$root/cents/gen=0")
    val qv = Seq(Tuple1(vec(7L).map(_.toDouble))).toDF("qvec")
    def probe() = Similarity.ivfProbePrunedQuantized(spark,
      s"$root/index", cents, qv, "vec_id", k = 10, nProbe = 2)
    def probeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expect1 = probeSet(probe())
    // --- PIN a live probe, then land a wave that deletes some of its
    // results and upserts a vector RIGHT AT the query point: the
    // pinned plan must keep answering the pre-wave generation
    val pinned = probe()
    runWave(Seq((999L, vec(7L), "upsert")) ++
      expect1.take(2).map { case (id, _) => (id, vec(id), "delete") },
      1L, retention = 1)
    assert(probeSet(pinned) == expect1,
      "the refresh wave raced the pinned live probe")
    val fresh = probeSet(probe())
    assert(fresh != expect1 && fresh.exists(_._1 == 999L),
      "a fresh probe must see the wave")
    // --- retention: a history-free wave vacuums the old cell revs —
    // floored at TWO kept generations, so the probe pinned just
    // before the wave always survives; the fresh composition serves
    val revRoot = new org.apache.hadoop.fs.Path(s"$root/index/_rev")
    val fs = revRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pinnedPreVacuum = probe()
    val preVacuumSet = probeSet(probe())
    runWave(corpus(200L until 204L).map { case (i, v) =>
      (i, v, "upsert") }, 2L, retention = 0)
    assert(graft.operators.SegmentManifest
      .generations(spark, s"$root/index").length == 2,
      "retention-0 vacuum must keep the latest generation AND the " +
        "one a just-pinned probe may still hold")
    assert(probeSet(pinnedPreVacuum) == preVacuumSet,
      "the retention-0 vacuum deleted a generation a probe pinned " +
        "one wave earlier was still reading")
    assert(probeSet(probe()).exists(_._1 == 999L),
      "the live composition broke across the vacuum")
    // --- a RECENTER commits by the same MVCC recipe (write-once rev
    // + full-replacement seal): the manifest mode SURVIVES the
    // rebuild, and a probe pinned before the recenter still answers
    // its own generation afterwards
    val pinnedPreRecenter = probe()
    val preRecenterSet = probeSet(probe())
    runWave((4L until 44L).map(i =>
      (i, vec(i, shift = 3.0 * (i % 5)), "upsert")).toSeq, 3L,
      retention = 2)
    assert(graft.operators.SegmentManifest
      .generations(spark, s"$root/index").nonEmpty,
      "the MVCC rebuild must keep the manifest mode")
    assert(probeSet(pinnedPreRecenter) == preRecenterSet,
      "the recenter raced a pinned live probe")
    val centsLive = spark.read.parquet(s"$root/cents/gen=4")
    assert(Similarity.ivfProbePrunedQuantized(spark, s"$root/index",
      centsLive, qv, "vec_id", k = 10, nProbe = 2).count() > 0)
  }

  test("recenter MVCC, quantized: a live probe pinned before a " +
      "drift-breach wave replays bit-identically after the rebuild; " +
      "a fresh pin-once probe tracks the new model atomically and " +
      "equals the from-scratch twin") {
    import spark.implicits._
    val root = tmp("svi_rc_mvcc")
    val initial = corpus(0L until 40L).toDF("vec_id", "embedding")
    StreamingVectorIndex.bootstrapQuantized(initial, root,
      "vec_id", "embedding", k = 4)
    val ops = StreamingVectorIndex.QuantizedOps(4, 42L)
    val qv = Seq(Tuple1(vec(7L).map(_.toDouble))).toDF("qvec")
    def probeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // a benign wave first, so the pinned probe spans a refresh AND
    // the later recenter
    StreamingVectorIndex.applyWave(spark, root,
      corpus(40L until 44L).map { case (i, v) => (i, v, "upsert") }
        .toDF("vec_id", "embedding", "op"),
      0L, "vec_id", "embedding", ops, 115L, 175L, historyRetention = 4)
    // PIN through the pin-once entry (model + cells off one manifest)
    val pinned = StreamingVectorIndex.probeLiveQuantized(spark, root,
      qv, "vec_id", k = 10, nProbe = 2)
    val expectPinned = probeSet(StreamingVectorIndex
      .probeLiveQuantized(spark, root, qv, "vec_id", k = 10,
        nProbe = 2))
    // the drift wave: every vector wanders — the loop recenters
    StreamingVectorIndex.applyWave(spark, root,
      (4L until 44L).map(i =>
          (i, vec(i, shift = 3.0 * (i % 5)), "upsert"))
        .toDF("vec_id", "embedding", "op"),
      1L, "vec_id", "embedding", ops, 115L, 175L, historyRetention = 4)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/cents/gen=2")),
      "the drift wave did not recenter")
    // 1. the pinned plan replays its own generation bit-identically
    assert(probeSet(pinned) == expectPinned,
      "the MVCC recenter raced the pinned live probe")
    // 2. a fresh pin-once probe pairs the NEW cells with the NEW
    //    model and equals a from-scratch twin of the final state
    val snap2 = spark.read.parquet(s"$root/snapfull/gen=2")
      .select(col("vec_id"), col("embedding"))
    val cents2 = spark.read.parquet(s"$root/cents/gen=2")
    val twin = tmp("svi_rc_twin")
    Similarity.ivfWriteIndexQuantized(snap2, cents2, "vec_id",
      "embedding", s"$twin/index")
    assert(probeSet(StreamingVectorIndex.probeLiveQuantized(spark,
        root, qv, "vec_id", k = 10, nProbe = 2)) ==
      probeSet(Similarity.ivfProbePrunedQuantized(spark, s"$twin/index",
        cents2, qv, "vec_id", k = 10, nProbe = 2)),
      "the fresh pin-once probe diverged from the from-scratch twin")
  }

  test("recenter MVCC, IVF-PQ: the retrained codebooks seal with the " +
      "re-encoded cells — a live probe pinned before the recenter " +
      "replays bit-identically, a fresh one decodes through the new " +
      "books and equals the from-scratch twin") {
    import spark.implicits._
    val root = tmp("svi_pqrc_mvcc")
    val initial = corpus(0L until 40L).toDF("vec_id", "embedding")
    StreamingVectorIndex.bootstrapIvfPq(initial, root,
      "vec_id", "embedding", kCells = 4, m = 4, k = 8)
    val qv = Seq(Tuple1(vec(7L).map(_.toDouble))).toDF("qvec")
    def probeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def wave(rows: Seq[(Long, Seq[Float], String)], id: Long): Unit =
      StreamingVectorIndex.applyWaveIvfPq(spark, root,
        rows.toDF("vec_id", "embedding", "op"), id,
        "vec_id", "embedding", kCells = 4, m = 4, k = 8,
        historyRetention = 4)
    wave(corpus(40L until 44L).map { case (i, v) => (i, v, "upsert") },
      0L)
    val pinned = StreamingVectorIndex.probeLiveIvfPq(spark, root, qv,
      "vec_id", k = 10, nProbe = 2)
    val expectPinned = probeSet(StreamingVectorIndex.probeLiveIvfPq(
      spark, root, qv, "vec_id", k = 10, nProbe = 2))
    wave((4L until 44L).map(i =>
      (i, vec(i, shift = 3.0 * (i % 5)), "upsert")).toSeq, 1L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/cents/gen=2")),
      "the drift wave did not recenter")
    // the pinned plan decodes its generation's cells through that
    // generation's OWN books — the retrained live copy must not leak
    assert(probeSet(pinned) == expectPinned,
      "the PQ recenter raced the pinned live probe (stale books or " +
        "swapped cells)")
    // fresh pin-once probe ≡ from-scratch twin of the final state
    val snap2 = spark.read.parquet(s"$root/snapfull/gen=2")
      .select(col("vec_id"), col("embedding"))
    val cents2 = spark.read.parquet(s"$root/cents/gen=2")
    val twin = tmp("svi_pqrc_twin")
    ProductQuantize.ivfPqWriteIndex(snap2, cents2, "vec_id",
      "embedding", m = 4, k = 8, s"$twin/index")
    assert(probeSet(StreamingVectorIndex.probeLiveIvfPq(spark, root,
        qv, "vec_id", k = 10, nProbe = 2)) ==
      probeSet(ProductQuantize.ivfPqProbe(spark, s"$twin/index",
        cents2, qv, "vec_id", k = 10, nProbe = 2)),
      "the fresh PQ pin-once probe diverged from the twin")
  }

  test("delta-bounded drift gauges: the carried stats artifact " +
      "equals a full-index rescan bit-for-bit across waves — " +
      "including a wave that empties a whole cell — for both loops") {
    import spark.implicits._
    def statsSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("centroid_id"), col("n"), col("cd_fp_sum"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    // --- quantized loop
    val root = tmp("svi_incstats")
    StreamingVectorIndex.bootstrapQuantized(
      corpus(0L until 40L).toDF("vec_id", "embedding"), root,
      "vec_id", "embedding", k = 4)
    val ops = StreamingVectorIndex.QuantizedOps(4, 42L)
    val cents0 = spark.read.parquet(s"$root/cents/gen=0")
      .localCheckpoint()
    StreamingVectorIndex.applyWave(spark, root,
      (Seq((40L, vec(40L), "upsert"), (3L, vec(3L, 0.01), "upsert"),
        (7L, vec(7L), "delete")))
        .toDF("vec_id", "embedding", "op"),
      0L, "vec_id", "embedding", ops, 1000000L, 1000000L,
      historyRetention = 4)
    assert(statsSet(spark.read.parquet(s"$root/driftstats/gen=1")) ==
      statsSet(Similarity.ivfDriftStats(spark, s"$root/index", cents0)),
      "carried stats diverged from the full rescan after wave 0")
    // empty out one whole cell: delete every member of the smallest
    val members = Similarity.readQuantizedIndex(spark, s"$root/index")
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val victimCell = members.groupBy(_._2).minBy(_._2.length)._1
    val victims = members.filter(_._2 == victimCell).map(_._1)
    // triggers OFF: emptying a cell spikes the skew gauge by design —
    // this spec pins stats parity under a FIXED model (a recenter
    // resets the artifact with its own full scan anyway)
    StreamingVectorIndex.applyWave(spark, root,
      victims.toSeq.map(i => (i, vec(i), "delete"))
        .toDF("vec_id", "embedding", "op"),
      1L, "vec_id", "embedding", ops, 1000000L, 1000000L,
      historyRetention = 4)
    val carried = statsSet(
      spark.read.parquet(s"$root/driftstats/gen=2"))
    assert(carried ==
      statsSet(Similarity.ivfDriftStats(spark, s"$root/index", cents0)),
      "carried stats diverged after the cell-emptying wave")
    assert(!carried.exists(_._1 == victimCell),
      "the emptied cell kept a stats row")
    // --- IVF-PQ loop, same parity
    val rootP = tmp("svi_incstats_pq")
    StreamingVectorIndex.bootstrapIvfPq(
      corpus(0L until 40L).toDF("vec_id", "embedding"), rootP,
      "vec_id", "embedding", kCells = 4, m = 4, k = 8)
    val centsP = spark.read.parquet(s"$rootP/cents/gen=0")
      .localCheckpoint()
    StreamingVectorIndex.applyWaveIvfPq(spark, rootP,
      Seq((41L, vec(41L), "upsert"), (5L, vec(5L, 0.01), "upsert"),
        (9L, vec(9L), "delete")).toDF("vec_id", "embedding", "op"),
      0L, "vec_id", "embedding", kCells = 4, m = 4, k = 8,
      historyRetention = 4)
    assert(statsSet(spark.read.parquet(s"$rootP/driftstats/gen=1")) ==
      statsSet(ProductQuantize.ivfPqDriftStats(spark, s"$rootP/index",
        centsP, "vec_id")),
      "PQ carried stats diverged from the full rescan")
  }

  test("model-sealed carried stats SELF-HEAL in the streaming loop: " +
      "an out-of-band model change makes the next wave reset with a " +
      "full rescan under the new model instead of carrying rows " +
      "computed under the old one") {
    import spark.implicits._
    def statsSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("centroid_id"), col("n"), col("cd_fp_sum"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val root = tmp("svi_selfheal")
    StreamingVectorIndex.bootstrapQuantized(
      corpus(0L until 40L).toDF("vec_id", "embedding"), root,
      "vec_id", "embedding", k = 4)
    val ops = StreamingVectorIndex.QuantizedOps(4, 42L)
    StreamingVectorIndex.applyWave(spark, root,
      Seq((40L, vec(40L), "upsert")).toDF("vec_id", "embedding", "op"),
      0L, "vec_id", "embedding", ops, 1000000L, 1000000L,
      historyRetention = 4)
    // the OUT-OF-BAND model change the seal exists for: someone
    // overwrites the live model store without resetting the stats
    // artifact (centroids fit on a different slice — same k, new
    // values). The index still holds codes assigned under the OLD
    // model, so carrying gen-1's rows for clean cells would compute
    // gauges under arithmetic that matches neither model.
    val tampered = Similarity.learnedCentroids(
        corpus(0L until 20L).toDF("vec_id", "embedding"), "embedding",
        k = 4).localCheckpoint()
    tampered.coalesce(1).write.mode("overwrite")
      .parquet(s"$root/cents/gen=0")
    StreamingVectorIndex.applyWave(spark, root,
      Seq((41L, vec(41L), "upsert")).toDF("vec_id", "embedding", "op"),
      1L, "vec_id", "embedding", ops, 1000000L, 1000000L,
      historyRetention = 4)
    // the wave must have RESET: its committed artifact equals a full
    // rescan of the (whole) index under the tampered model — not a
    // carry of gen-1 rows (which were sealed under the original fit)
    val centsT = spark.read.parquet(s"$root/cents/gen=0")
    assert(statsSet(spark.read.parquet(s"$root/driftstats/gen=2")) ==
      statsSet(Similarity.ivfDriftStats(spark, s"$root/index", centsT)),
      "the self-heal rescan diverged from the full scan under the " +
        "tampered model")
    // and the seal now matches the tampered model, so the NEXT wave
    // goes back to delta-bounded carries
    assert(spark.read.parquet(s"$root/driftstats/gen=2")
        .select(col("model_fp")).head().getLong(0) ==
      Similarity.centroidFingerprint(centsT),
      "the reset artifact was not re-sealed under the live model")
  }

  test("a MIXED-fingerprint carried stats artifact falls back to the " +
      "full rescan: a correct head row cannot vouch for rows sealed " +
      "under another model (partial write / interleaved artifact)") {
    import spark.implicits._
    def statsSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("centroid_id"), col("n"), col("cd_fp_sum"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val root = tmp("svi_mixedfp")
    StreamingVectorIndex.bootstrapQuantized(
      corpus(0L until 40L).toDF("vec_id", "embedding"), root,
      "vec_id", "embedding", k = 4)
    val ops = StreamingVectorIndex.QuantizedOps(4, 42L)
    StreamingVectorIndex.applyWave(spark, root,
      Seq((40L, vec(40L), "upsert")).toDF("vec_id", "embedding", "op"),
      0L, "vec_id", "embedding", ops, 1000000L, 1000000L,
      historyRetention = 4)
    // wave 2 will DELETE key 0, dirtying exactly key 0's cell — the
    // corruption below targets a DIFFERENT cell, so only the carry
    // (a clean cell's row, never a delta-updated one) could serve the
    // poisoned row
    val c0 = Similarity.readQuantizedIndex(spark, s"$root/index")
      .filter(col("vec_id") === 0L)
      .select(col("centroid_id").cast("long")).head().getLong(0)
    val g1 = spark.read.parquet(s"$root/driftstats/gen=1")
      .orderBy(col("centroid_id")).collect()
    require(g1.length >= 3, s"fixture drifted: ${g1.length} cells")
    val poisonId = g1.map(_.getLong(0)).filter(_ != c0).max
    require(poisonId != g1.head.getLong(0),
      "fixture drifted: the poisoned row would be the head row, " +
        "which even the old head-only check caught")
    // the corruption: ONE row carries poisoned values under a flipped
    // fingerprint; every other row (the head included) keeps the
    // correct seal, and every row keeps its index-generation tag (so
    // only the seal rule, not the legacy-artifact exit, can reject
    // it). A head-only check carries the poison into the gauges; the
    // all-rows rule must reset with a full rescan.
    require(g1.head.schema.fieldNames.toSeq == Seq("centroid_id", "n",
        "mean_cd", "cd_fp_sum", "model_fp", "index_gen"),
      s"fixture drifted: ${g1.head.schema.fieldNames.mkString(",")}")
    g1.map { r =>
      if (r.getLong(0) == poisonId)
        (r.getLong(0), r.getLong(1) + 9999L, r.getDouble(2),
          r.getLong(3) + 1234567L, r.getLong(4) ^ 1L, r.getLong(5))
      else (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    }.toSeq
      .toDF("centroid_id", "n", "mean_cd", "cd_fp_sum", "model_fp",
        "index_gen")
      .coalesce(1).sortWithinPartitions("centroid_id")
      .write.mode("overwrite").parquet(s"$root/driftstats/gen=1")
    StreamingVectorIndex.applyWave(spark, root,
      Seq((0L, vec(0L), "delete")).toDF("vec_id", "embedding", "op"),
      1L, "vec_id", "embedding", ops, 1000000L, 1000000L,
      historyRetention = 4)
    val cents0 = spark.read.parquet(s"$root/cents/gen=0")
    assert(statsSet(spark.read.parquet(s"$root/driftstats/gen=2")) ==
      statsSet(Similarity.ivfDriftStats(spark, s"$root/index", cents0)),
      "the poisoned clean-cell row was carried — a mixed-fp artifact " +
        "must reset with a full rescan")
    // and the reset artifact is uniformly re-sealed
    assert(spark.read.parquet(s"$root/driftstats/gen=2")
        .select(col("model_fp")).distinct().collect()
        .map(_.getLong(0)).toSeq ==
      Seq(Similarity.centroidFingerprint(cents0)),
      "the reset artifact is not uniformly sealed under the live model")
  }

  test("the recenter marker seals atomically: crash debris from a " +
      "marker write that never completed (the dot-prefixed temp) is " +
      "invisible to recovery and waves — only a RENAMED marker " +
      "replays a decision") {
    import spark.implicits._
    val root = tmp("svi_markertmp")
    StreamingVectorIndex.bootstrapQuantized(
      corpus(0L until 30L).toDF("vec_id", "embedding"), root,
      "vec_id", "embedding", k = 4)
    val ops = StreamingVectorIndex.QuantizedOps(4, 42L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the debris: a marker-write attempt that died before its rename
    // — under the old plain create-write-close this would have been
    // a TORN `_RECENTER_PENDING` (empty or partial generation text)
    // that recoverPending's parse wedges on forever
    val debris = new org.apache.hadoop.fs.Path(
      s"$root/._RECENTER_PENDING.deadbeef.tmp")
    val out = fs.create(debris, true)
    out.close() // empty — the worst torn content
    // a benign wave must proceed: no marker was sealed, no decision
    // exists to replay
    StreamingVectorIndex.applyWave(spark, root,
      Seq((30L, vec(30L), "upsert")).toDF("vec_id", "embedding", "op"),
      0L, "vec_id", "embedding", ops, 1000000L, 1000000L,
      historyRetention = 4)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_RECENTER_PENDING")),
      "a benign wave sealed a marker")
    // and a REAL breach still seals a parseable marker through the
    // rename (the crash-injection path reads it back)
    val boom = intercept[RuntimeException] {
      StreamingVectorIndex.applyWave(spark, root,
        (0L until 31L).map(i =>
            (i, vec(i, shift = 3.0 * (i % 5)), "upsert"))
          .toDF("vec_id", "embedding", "op"),
        1L, "vec_id", "embedding", crashAfterRebuild(ops), 115L, 175L,
        historyRetention = 4)
    }
    assert(boom.getMessage.contains("injected crash"), s"wrong: $boom")
    val mp = new org.apache.hadoop.fs.Path(s"$root/_RECENTER_PENDING")
    assert(fs.exists(mp), "the breach did not seal a marker")
    val in = fs.open(mp)
    val content =
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    assert(content.trim == "2",
      s"marker content '$content' is not the sealed generation")
  }

  test("snapdelta staging debris is invisible: a delta write that " +
      "died before its rename never folds into a snapshot read — the " +
      "chain serves only renamed, all-or-nothing generations") {
    import spark.implicits._
    val root = tmp("svi_deltastage")
    StreamingVectorIndex.bootstrapQuantized(
      corpus(0L until 20L).toDF("vec_id", "embedding"), root,
      "vec_id", "embedding", k = 4)
    val ops = StreamingVectorIndex.QuantizedOps(4, 42L)
    StreamingVectorIndex.applyWave(spark, root,
      Seq((20L, vec(20L), "upsert")).toDF("vec_id", "embedding", "op"),
      0L, "vec_id", "embedding", ops, 1000000L, 1000000L,
      historyRetention = 4)
    // the debris: a delta write whose rename never happened — real
    // parquet rows (a delete of every key!) that MUST NOT fold
    Seq((0L, vec(0L), "delete", "removed"))
      .toDF("vec_id", "embedding", "op", "status")
      .write.parquet(s"$root/snapdelta/.staging_2-dead")
    val ids = StreamingVectorIndex
      .readSnapshot(spark, root, 1, "vec_id", "embedding")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(ids == (0L to 20L).toSet,
      "staging debris folded into the snapshot read")
  }

  test("an as-of generation ABOVE the newest sealed one fails loudly " +
      "instead of silently serving the live state") {
    import spark.implicits._
    val root = tmp("svi_upper")
    StreamingVectorIndex.bootstrapQuantized(
      corpus(0L until 20L).toDF("vec_id", "embedding"), root,
      "vec_id", "embedding", k = 4)
    val ops = StreamingVectorIndex.QuantizedOps(4, 42L)
    StreamingVectorIndex.applyWave(spark, root,
      Seq((20L, vec(20L), "upsert")).toDF("vec_id", "embedding", "op"),
      0L, "vec_id", "embedding", ops, 115L, 175L, historyRetention = 4)
    val qv = Seq(Tuple1(vec(3L).map(_.toDouble))).toDF("qvec")
    // newest sealed generation is 1 — gen 7 never existed
    val e = intercept[IllegalArgumentException] {
      StreamingVectorIndex.probeAsOfQuantized(spark, root, 7, qv,
        "vec_id", "embedding", k = 5, nProbe = 2)
    }
    assert(e.getMessage.contains("never sealed"),
      s"wrong upper-bound message: $e")
  }

  /** Fault injection: delegate every op, die right after [[rebuild]]
    * returns — i.e. right after the recenter's full-replacement seal
    * published a manifest whose ModelMarker names generation `gen`,
    * but before the wave's remaining steps (model snapshot, drift
    * stats, baseline, marker clear). The crash point the
    * publish-model-before-seal ordering exists for. */
  private def crashAfterRebuild(inner: StreamingVectorIndex.IndexOps)
      : StreamingVectorIndex.IndexOps =
    StreamingVectorIndex.crashAfterRebuild(inner)

  test("mid-recenter crash window, quantized: the model publishes " +
      "BEFORE the rebuild's seal, so a live probe landing between " +
      "the seal and the wave's remaining steps pairs cells and " +
      "centroids; recovery then completes the decision") {
    import spark.implicits._
    val root = tmp("svi_sealwin")
    StreamingVectorIndex.bootstrapQuantized(
      corpus(0L until 40L).toDF("vec_id", "embedding"), root,
      "vec_id", "embedding", k = 4)
    val inner = StreamingVectorIndex.QuantizedOps(4, 42L)
    val qv = Seq(Tuple1(vec(7L).map(_.toDouble))).toDF("qvec")
    def probeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the drift wave every vector wanders on — the loop recenters;
    // the injected fault dies right after the rebuild's seal
    val boom = intercept[RuntimeException] {
      StreamingVectorIndex.applyWave(spark, root,
        (4L until 44L).map(i =>
            (i, vec(i, shift = 3.0 * (i % 5)), "upsert"))
          .toDF("vec_id", "embedding", "op"),
        0L, "vec_id", "embedding", crashAfterRebuild(inner),
        115L, 175L, historyRetention = 4)
    }
    assert(boom.getMessage.contains("injected crash"), s"wrong: $boom")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/_RECENTER_PENDING")),
      "fixture drifted: the crash left no pending marker")
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/baseline/gen=1")),
      "fixture drifted: the crash point is supposed to precede the " +
        "baseline write")
    // IN the window: the sealed manifest's ModelMarker names gen 1,
    // and cents/gen=1 must already be on storage — the probe pairs
    // the rebuilt cells with their own model and equals the
    // from-scratch twin of the recentered state
    val got = StreamingVectorIndex.probeLiveQuantized(spark, root, qv,
      "vec_id", k = 10, nProbe = 2)
    val snap1 = spark.read.parquet(s"$root/snapfull/gen=1")
      .select(col("vec_id"), col("embedding"))
    val cents1 = spark.read.parquet(s"$root/cents/gen=1")
    val twin = tmp("svi_sealwin_twin")
    Similarity.ivfWriteIndexQuantized(snap1, cents1, "vec_id",
      "embedding", s"$twin/index")
    assert(probeSet(got) ==
      probeSet(Similarity.ivfProbePrunedQuantized(spark,
        s"$twin/index", cents1, qv, "vec_id", k = 10, nProbe = 2)),
      "mid-window live probe diverged from the recentered twin — " +
        "cells and model were not paired")
    // recovery: the next wave replays the sealed decision first,
    // finishes the bookkeeping, clears the marker, and proceeds
    StreamingVectorIndex.applyWave(spark, root,
      Seq((999L, vec(999L), "upsert")).toDF("vec_id", "embedding", "op"),
      1L, "vec_id", "embedding", inner, 115L, 175L,
      historyRetention = 4)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/_RECENTER_PENDING")),
      "recovery did not clear the marker")
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/baseline/gen=1")),
      "recovery did not finish the model bookkeeping")
    assert(probeSet(StreamingVectorIndex.probeLiveQuantized(spark,
      root, qv, "vec_id", k = 44, nProbe = 4))
      .exists(_._1 == 999L),
      "the post-recovery wave's upsert is not live")
  }

  test("mid-recenter crash window, IVF-PQ: a live probe in the window " +
      "resolves cells, books and model through the one sealed " +
      "manifest (books sealed with the cells, cents published before " +
      "the seal)") {
    import spark.implicits._
    val root = tmp("svi_pqsealwin")
    StreamingVectorIndex.bootstrapIvfPq(
      corpus(0L until 40L).toDF("vec_id", "embedding"), root,
      "vec_id", "embedding", kCells = 4, m = 4, k = 8)
    val inner = StreamingVectorIndex.IvfPqOps(4, 4, 8, 42L)
    val qv = Seq(Tuple1(vec(7L).map(_.toDouble))).toDF("qvec")
    def probeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val boom = intercept[RuntimeException] {
      StreamingVectorIndex.applyWave(spark, root,
        (4L until 44L).map(i =>
            (i, vec(i, shift = 3.0 * (i % 5)), "upsert"))
          .toDF("vec_id", "embedding", "op"),
        0L, "vec_id", "embedding", crashAfterRebuild(inner),
        115L, 175L, historyRetention = 4)
    }
    assert(boom.getMessage.contains("injected crash"), s"wrong: $boom")
    // IN the window (marker pending, books/gen=1 snapshot and the
    // baseline both unwritten): the live probe must pair the
    // re-encoded cells with the retrained books AND the new model,
    // all off the one sealed manifest — equal to the from-scratch
    // twin of the recentered state
    val got = StreamingVectorIndex.probeLiveIvfPq(spark, root, qv,
      "vec_id", k = 10, nProbe = 2)
    val snap1 = spark.read.parquet(s"$root/snapfull/gen=1")
      .select(col("vec_id"), col("embedding"))
    val cents1 = spark.read.parquet(s"$root/cents/gen=1")
    val twin = tmp("svi_pqsealwin_twin")
    ProductQuantize.ivfPqWriteIndex(snap1, cents1, "vec_id",
      "embedding", m = 4, k = 8, s"$twin/index")
    assert(probeSet(got) ==
      probeSet(ProductQuantize.ivfPqProbe(spark, s"$twin/index",
        cents1, qv, "vec_id", k = 10, nProbe = 2)),
      "mid-window PQ live probe diverged from the recentered twin")
    // recovery completes the decision and the loop proceeds
    StreamingVectorIndex.applyWave(spark, root,
      Seq((999L, vec(999L), "upsert")).toDF("vec_id", "embedding", "op"),
      1L, "vec_id", "embedding", inner, 115L, 175L,
      historyRetention = 4)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/_RECENTER_PENDING")),
      "recovery did not clear the marker")
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/books/gen=1")),
      "recovery did not snapshot the generation-keyed books")
  }

  test("event-time front, quantized: an out-of-order OLDER vector " +
      "version never surfaces in probeLiveQuantized — waves ingest " +
      "only settled, evicted winners; re-deliveries collapse; a " +
      "post-watermark straggler never rewinds a settled vector") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val sqlCtx = sql
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rootS = tmp("svi_et")
    val rootB = tmp("svi_et_twin")
    val ckpt = tmp("svi_et_ck")
    val initial = corpus(0L until 30L).toDF("vec_id", "embedding")
    StreamingVectorIndex.bootstrapQuantized(initial, rootS,
      "vec_id", "embedding", k = 4)
    // batch twin off the bootstrap's own written artifacts (fit
    // determinism is per physical layout — share the fit, don't
    // repeat it)
    val cents0 = spark.read.parquet(s"$rootS/cents/gen=0")
      .localCheckpoint()
    Similarity.ivfWriteIndexQuantized(
      spark.read.parquet(s"$rootS/snapfull/gen=0"), cents0, "vec_id",
      "embedding", s"$rootB/index")
    val qv = Seq(Tuple1(vec(7L).map(_.toDouble))).toDF("qvec")
    def probe() = StreamingVectorIndex
      .probeLiveQuantized(spark, rootS, qv, "vec_id", k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val bootstrapAnswer = probe()
    val source = MemoryStream[
      (java.sql.Timestamp, Long, Seq[Float], Long, String)]
    val q = StreamingVectorIndex.runQuantizedEventTime(
      source.toDF().toDF("ts", "vec_id", "embedding", "v", "op"),
      rootS, "vec_id", "embedding", versionCol = "v", tsCol = "ts",
      delay = "10 minutes", k = 4, checkpoint = ckpt)
    try {
      // key 1: v2 FIRST, then an out-of-order OLDER v1 — a raw-delta
      // loop would ingest v2 then let v1 rewind it; key 2: upsert v1
      // then delete v2 (the winner is the delete); key 30: a new
      // vector, re-delivered exactly (must not fan out)
      source.addData(
        (ts("2024-01-01 10:00:00"), 1L, vec(1L, 0.02), 2L, "upsert"),
        (ts("2024-01-01 10:00:10"), 2L, vec(2L), 1L, "upsert"),
        (ts("2024-01-01 10:00:20"), 30L, vec(30L), 1L, "upsert"))
      q.processAllAvailable()
      source.addData(
        (ts("2024-01-01 09:59:00"), 1L, vec(1L, 0.01), 1L, "upsert"),
        (ts("2024-01-01 10:00:30"), 2L, vec(2L), 2L, "delete"),
        (ts("2024-01-01 10:00:20"), 30L, vec(30L), 1L, "upsert"))
      q.processAllAvailable()
      // nothing may have been ingested: every key is still open
      // under the 10-minute watermark — in particular neither
      // version of key 1 ever transiently surfaced
      assert(probe() == bootstrapAnswer,
        "a vector version reached the index before its key settled")
      // advance the watermark far past every key's newest ts + delay
      source.addData(
        (ts("2024-01-01 11:00:00"), 99L, vec(99L), 1L, "upsert"))
      q.processAllAvailable()
      // the settled index equals the batch twin refreshed with the
      // three WINNERS only: key 1 → v2's vector (v1 lost), key 2 →
      // removed (the delete won), key 30 → added once
      Similarity.ivfRefreshQuantizedIncremental(spark, s"$rootB/index",
        cents0,
        Seq((1L, vec(1L, 0.02)), (30L, vec(30L)))
          .toDF("vec_id", "embedding"),
        Seq((1L, "modified"), (30L, "modified"), (2L, "removed"))
          .toDF("vec_id", "status"),
        "vec_id", "embedding")
      assert(indexContent(s"$rootS/index") ==
          indexContent(s"$rootB/index"),
        "settled event-time loop diverged from the winner-only twin")
      // a straggler BELOW the watermark claiming a HIGHER version for
      // key 1 must be dropped, not rewind the settled vector; the
      // second pusher closes key 99, so the index honestly gains it
      source.addData(
        (ts("2024-01-01 10:01:00"), 1L, vec(1L, 0.05), 9L, "upsert"))
      q.processAllAvailable()
      source.addData(
        (ts("2024-01-01 12:00:00"), 98L, vec(98L), 1L, "upsert"))
      q.processAllAvailable()
      Similarity.ivfRefreshQuantizedIncremental(spark, s"$rootB/index",
        cents0,
        Seq((99L, vec(99L))).toDF("vec_id", "embedding"),
        Seq((99L, "modified")).toDF("vec_id", "status"),
        "vec_id", "embedding")
      assert(indexContent(s"$rootS/index") ==
          indexContent(s"$rootB/index"),
        "a post-watermark straggler rewound a settled vector")
    } finally q.stop()
  }

  test("event-time front, IVF-PQ: the shared settle stage drives the " +
      "PQ wave loop — settled winners only, equal to the batch twin") {
    val sql = spark.sqlContext
    import spark.implicits._
    implicit val sqlCtx = sql
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rootS = tmp("svi_etpq")
    val rootB = tmp("svi_etpq_twin")
    val ckpt = tmp("svi_etpq_ck")
    val initial = corpus(0L until 40L).toDF("vec_id", "embedding")
    StreamingVectorIndex.bootstrapIvfPq(initial, rootS,
      "vec_id", "embedding", kCells = 4, m = 4, k = 8)
    def pqContent(path: String): Set[(Long, Seq[Byte], Long)] =
      Similarity.readQuantizedIndex(spark, s"$path/codes")
        .select(col("vec_id"), col("codes"),
          col("centroid_id").cast("long"))
        .collect()
        .map(r => (r.getLong(0),
          r.getAs[scala.collection.Seq[Byte]](1).toSeq, r.getLong(2)))
        .toSet
    // twin: COPY the bootstrap layout before any wave touches it
    // (artifact sharing, not a refit — and taken now because a wave's
    // vacuum reclaims the pre-refresh cells a rollback would need)
    val fs = new org.apache.hadoop.fs.Path(rootS)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$rootS/index"),
      fs, new org.apache.hadoop.fs.Path(s"$rootB/index"),
      false, spark.sparkContext.hadoopConfiguration)
    val source = MemoryStream[
      (java.sql.Timestamp, Long, Seq[Float], Long, String)]
    val q = StreamingVectorIndex.runIvfPqEventTime(
      source.toDF().toDF("ts", "vec_id", "embedding", "v", "op"),
      rootS, "vec_id", "embedding", versionCol = "v", tsCol = "ts",
      delay = "5 minutes", kCells = 4, m = 4, k = 8,
      checkpoint = ckpt)
    try {
      source.addData(
        (ts("2024-01-01 10:00:00"), 3L, vec(3L, 0.02), 2L, "upsert"),
        (ts("2024-01-01 09:59:30"), 3L, vec(3L, 0.01), 1L, "upsert"),
        (ts("2024-01-01 10:00:10"), 11L, vec(11L), 1L, "delete"))
      q.processAllAvailable()
      source.addData(
        (ts("2024-01-01 11:00:00"), 99L, vec(99L), 1L, "upsert"))
      q.processAllAvailable()
    } finally q.stop()
    val cents0 = spark.read.parquet(s"$rootS/cents/gen=0")
      .localCheckpoint()
    ProductQuantize.ivfPqRefreshIncremental(spark, s"$rootB/index",
      cents0,
      Seq((3L, vec(3L, 0.02))).toDF("vec_id", "embedding"),
      Seq((3L, "modified"), (11L, "removed"))
        .toDF("vec_id", "status"),
      "vec_id", "embedding")
    assert(pqContent(s"$rootS/index") == pqContent(s"$rootB/index"),
      "settled IVF-PQ event-time loop diverged from the winner-only " +
        "twin")
  }

  test("the panel probes answer EXACTLY what the single-query probes " +
      "answer, per query, for both live families — the multi paths " +
      "share the single paths' pinned resolution and ranking by " +
      "construction, pinned here observably") {
    import spark.implicits._
    val ids = (1L to 60L)
    val base = corpus(ids).toDF("vec_id", "embedding")
    val rootQ = tmp("multiparity_q")
    val rootP = tmp("multiparity_p")
    StreamingVectorIndex.bootstrapQuantized(base, rootQ, "vec_id",
      "embedding", k = 4)
    StreamingVectorIndex.bootstrapIvfPq(base, rootP, "vec_id",
      "embedding", kCells = 4, m = 4, k = 8)
    val panelIds = Seq(3L, 20L, 41L)
    val panel = panelIds.map(i =>
        (i, vec(i, 0.003).map(_.toDouble)))
      .toDF("qid", "qvec")
    def single(one: Long, f: (org.apache.spark.sql.DataFrame)
        => org.apache.spark.sql.DataFrame) =
      f(Seq(vec(one, 0.003).map(_.toDouble)).toDF("qvec"))
        .collect().map(r => (one, r.getLong(0), r.getDouble(1))).toSet
    // quantized family
    val multiQ = StreamingVectorIndex.probeLiveQuantizedMulti(spark,
        rootQ, panel, "vec_id", k = 5, nProbe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val singlesQ = panelIds.flatMap(i => single(i,
      q => StreamingVectorIndex.probeLiveQuantized(spark, rootQ, q,
        "vec_id", k = 5, nProbe = 2))).toSet
    assert(multiQ == singlesQ,
      s"quantized panel diverged: $multiQ vs $singlesQ")
    // IVF-PQ family
    val multiP = StreamingVectorIndex.probeLiveIvfPqMulti(spark,
        rootP, panel, "vec_id", k = 5, nProbe = 2)
      .select(col("qid"), col("vec_id"), col("adc_score"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val singlesP = panelIds.flatMap { i =>
      StreamingVectorIndex.probeLiveIvfPq(spark, rootP,
          Seq(vec(i, 0.003).map(_.toDouble)).toDF("qvec"),
          "vec_id", k = 5, nProbe = 2)
        .select(col("vec_id"), col("adc_score"))
        .collect().map(r => (i, r.getLong(0), r.getDouble(1)))
    }.toSet
    assert(multiP == singlesP,
      s"IVF-PQ panel diverged: $multiP vs $singlesP")
  }
}
