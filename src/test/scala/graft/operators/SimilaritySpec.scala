package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.Tables
import graft.functions.VectorFns

/** X2 invariants: IVF ANN vs brute force. */
class SimilaritySpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def setup() = {
    val e = Tables(spark, sf, "embeddings")
    val qv = e.filter(col("vec_id") === 0)
      .select(VectorFns.toDouble(col("embedding")).as("qvec"))
    val base = e.filter(col("vec_id") =!= 0)
    (e, qv, base)
  }

  test("cosine-materialized index (learned centroids) prunes partitions " +
      "and matches the in-memory cosine probe") {
    val (_, qv, base) = setup()
    val cents = Similarity.learnedCentroids(base, "embedding", k = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_cos_idx").toString
    Similarity.ivfWriteIndexCosine(base, cents, "vec_id", "embedding", dir)

    val pruned = Similarity.ivfProbePrunedCosine(spark, dir, cents, qv,
      "vec_id", "embedding", k = 10, nProbe = 3)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      s"cosine probe did not prune partitions:\n${plan.take(1500)}")
    val inMem = Similarity.ivfTopKCosine(base, cents, qv, "vec_id",
        "embedding", k = 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val out = pruned.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out == inMem,
      s"cosine pruned probe diverged: $out vs $inMem")
  }

  test("filtered ANN: pre-filter semantics (never post-filter), still " +
      "partition-pruned, trivial filter equals the unfiltered probe") {
    val (e, qv, base) = setup()
    val cents = Similarity.learnedCentroids(base, "embedding", k = 8)
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_filt_idx").toString
    Similarity.ivfWriteIndexCosine(base, cents, "vec_id", "embedding",
      dir)
    def run(allowed: org.apache.spark.sql.DataFrame) =
      Similarity.ivfProbePrunedCosineFiltered(spark, dir, cents, qv,
        "vec_id", "embedding", k = 10, nProbe = 3, allowed)
    // trivial filter (everything allowed) == the unfiltered probe
    val unfiltered = Similarity.ivfProbePrunedCosine(spark, dir, cents,
        qv, "vec_id", "embedding", k = 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val trivial = run(e).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(trivial == unfiltered,
      s"trivial filter diverged: $trivial vs $unfiltered")
    // selective filter: every result satisfies the predicate, and the
    // list equals PRE-filtering the probed candidates (post-filtering
    // the unfiltered top-10 would generally return fewer rows)
    val allowed = e.filter(col("label") % 3 === 0)
    val got = run(allowed).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.size == 10, s"pre-filter must fill k: ${got.size}")
    val okIds = allowed.select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(got.forall(r => okIds(r._1)),
      s"results violate the filter: $got")
    val postFiltered = unfiltered.filter(r => okIds(r._1))
    assert(postFiltered.size < got.size,
      "fixture too weak: post-filter did not under-fill k here")
    // the filter must not break partition pruning
    val plan = run(allowed).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      s"filtered probe lost partition pruning:\n${plan.take(1500)}")
  }

  test("covering-index filtered ANN: predicate form equals the " +
      "relation form, pushes the attribute filter to the index scan, " +
      "keeps partition pruning") {
    val (e, qv, base) = setup()
    val cents = Similarity.learnedCentroids(base, "embedding", k = 8)
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_cov_idx").toString
    Similarity.ivfWriteIndexCosine(base, cents, "vec_id", "embedding",
      dir)
    val byPred = Similarity.ivfProbePrunedCosinePredicate(spark, dir,
      cents, qv, "vec_id", "embedding", k = 10, nProbe = 3,
      pred = col("label") % 3 === 0)
    val byRel = Similarity.ivfProbePrunedCosineFiltered(spark, dir,
      cents, qv, "vec_id", "embedding", k = 10, nProbe = 3,
      allowed = e.filter(col("label") % 3 === 0))
    assert(byPred.collect().map(r => (r.getLong(0), r.getDouble(1)))
        .toSeq ==
      byRel.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "covering predicate diverged from the relation semi-join")
    val plan = byPred.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      s"covering probe lost partition pruning:\n${plan.take(1500)}")
    assert(plan.contains("PushedFilters") && plan.contains("label"),
      s"label predicate not pushed to the index scan:\n${
        plan.take(1500)}")
  }

  test("batched index probe: per-query results bit-identical to N " +
      "independent probes, one scan pruned to the union of cells") {
    val (e, _, base) = setup()
    val cents = Similarity.learnedCentroids(base, "embedding", k = 8)
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_multi_idx").toString
    Similarity.ivfWriteIndexCosine(base, cents, "vec_id", "embedding",
      dir)
    val qids = Seq(0L, 5L, 9L)
    val queries = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"),
        VectorFns.toDouble(col("embedding")).as("qvec"))
    val batched = Similarity.ivfProbePrunedCosineMulti(spark, dir,
        cents, queries, "vec_id", "embedding", k = 10, nProbe = 3)
    val got = batched.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(x =>
        (-x._2, x._1)).toSeq).toMap
    qids.foreach { q =>
      val qv = e.filter(col("vec_id") === q)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      val solo = Similarity.ivfProbePrunedCosine(spark, dir, cents,
          qv, "vec_id", "embedding", k = 10, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got(q) == solo,
        s"batched probe diverged from solo for qid=$q")
    }
    val plan = batched.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      s"batched probe lost partition pruning:\n${plan.take(1500)}")
  }

  test("range search: equals the thresholded exhaustive probe over " +
      "the same cells, looser threshold is a superset, prunes " +
      "partitions") {
    val (_, qv, base) = setup()
    val cents = Similarity.learnedCentroids(base, "embedding", k = 8)
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_range_idx").toString
    Similarity.ivfWriteIndexCosine(base, cents, "vec_id", "embedding",
      dir)
    def range(t: Double) = Similarity.ivfRangeSearchCosine(spark, dir,
        cents, qv, "vec_id", "embedding", minSim = t, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // k = full corpus: the top-k probe thresholded by hand must equal
    // the range result (range is the no-k form of the same probe)
    val n = base.count().toInt
    val viaTopK = Similarity.ivfProbePrunedCosine(spark, dir, cents,
        qv, "vec_id", "embedding", k = n, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .filter(_._2 >= 0.1).toSet
    assert(range(0.1) == viaTopK,
      "range search diverged from the thresholded exhaustive probe")
    assert(range(0.3).subsetOf(range(0.1)),
      "tighter threshold is not a subset")
    assert(range(0.1).nonEmpty)
    val plan = Similarity.ivfRangeSearchCosine(spark, dir, cents, qv,
        "vec_id", "embedding", minSim = 0.1, nProbe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      s"range search lost partition pruning:\n${plan.take(1500)}")
  }

  test("quantized inverted file: measurably smaller on disk, prunes " +
      "partitions, and its top-k overlaps the raw cosine probe") {
    val (_, qv, base) = setup()
    val cents = Similarity.learnedCentroids(base, "embedding", k = 8)
    val rawDir = java.nio.file.Files.createTempDirectory("ivf_raw").toString
    val qDir = java.nio.file.Files.createTempDirectory("ivf_q8").toString
    Similarity.ivfWriteIndexCosine(base, cents, "vec_id", "embedding", rawDir)
    Similarity.ivfWriteIndexQuantized(base, cents, "vec_id", "embedding", qDir)

    def bytes(dir: String): Long = {
      val p = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(p).filter(f =>
          f.toString.endsWith(".parquet")).toArray
        .map(f => java.nio.file.Files.size(
          f.asInstanceOf[java.nio.file.Path])).sum
    }
    val (rawB, qB) = (bytes(rawDir), bytes(qDir))
    // the 4x story, measured: int8 codes must store in well under
    // half the raw float bytes even after parquet encoding
    assert(qB < rawB / 2,
      s"quantized index not smaller: $qB vs raw $rawB bytes")

    val pruned = Similarity.ivfProbePrunedQuantized(spark, qDir, cents,
      qv, "vec_id", k = 10, nProbe = 3)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      s"quantized probe did not prune partitions:\n${plan.take(1500)}")
    val got = pruned.collect().map(_.getLong(0)).toSet
    val raw = Similarity.ivfProbePrunedCosine(spark, rawDir, cents, qv,
        "vec_id", "embedding", k = 10, nProbe = 3)
      .collect().map(_.getLong(0)).toSet
    assert(got.size == 10)
    // int8 re-ranks borderline neighbors but must agree on most of
    // the list (same cells, quantized angles within 0.02 of exact)
    assert(got.intersect(raw).size >= 7,
      s"quantized probe diverged from raw: ${got.diff(raw)}")
  }

  test("full-probe IVF is exactly brute force (learned centroids, " +
      "cosine probe)") {
    val (_, qv, base) = setup()
    val cents = Similarity.learnedCentroids(base, "embedding", k = 8)
    val nCents = cents.count().toInt
    val exact = Similarity.topK(base, qv, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Similarity.ivfTopKCosine(base, cents, qv, "vec_id",
        "embedding", k = 10, nProbe = nCents)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == exact,
      "probing every centroid list must degrade to exact brute force")
  }

  test("learned centroids: seeded fit is deterministic, k-clamped, " +
      "broadcast-sized, and empty input is loud") {
    val (_, _, base) = setup()
    def fit() = Similarity.learnedCentroids(base, "embedding", k = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val a = fit()
    assert(a.size == 8, s"expected 8 centroids, got ${a.size}")
    assert(fit() == a, "same seed + same data must give the same centroids")
    // k larger than the corpus clamps instead of failing
    val clamped = Similarity.learnedCentroids(base.limit(3), "embedding",
      k = 8)
    assert(clamped.count() <= 3)
    intercept[IllegalArgumentException] {
      Similarity.learnedCentroids(base.limit(0), "embedding", k = 4)
    }
  }

  test("learned centroids capture planted cluster structure: cells == " +
      "clusters, and nProbe=1 recovers the exact top-10") {
    import spark.implicits._
    // 3 well-separated direction clusters with UNEQUAL sizes and
    // INTERLEAVED ids (gid = i*3 + cluster — id arithmetic carries no
    // cluster signal, unlike the every-Nth-id stub's assumption), tight
    // deterministic noise. The mechanism under test: a learned cell
    // follows the data's density, so one probed list holds the whole
    // cosine neighborhood. Deterministic — no statistical luck (the
    // r7-era single-query recall assertion on the isotropic sf corpus
    // tracked exactly that luck).
    val dirs = Seq(
      Array(1.0, 0, 0, 0, 0, 0, 0, 0),
      Array(0, 1.0, 0, 0, 0, 0, 0, 0),
      Array(0, 0, 1.0, 0, 0, 0, 0, 0))
    val sizes = Seq(30, 15, 12)
    val rows = for {
      (sz, ci) <- sizes.zipWithIndex
      i <- 0 until sz
    } yield {
      val v = dirs(ci).indices.map(j =>
        dirs(ci)(j) + 0.02 * (((i * 31 + j * 7 + ci * 13) % 11) - 5))
      ((i * 3 + ci).toLong, ci, v)
    }
    val df = rows.toDF("vec_id", "cluster", "embedding")
    val cents = Similarity.learnedCentroids(df, "embedding", k = 3)
    val assign = Similarity.ivfAssignCosine(df, cents, "vec_id",
      "embedding")
    val cells = assign.join(df, "vec_id").groupBy(col("centroid_id"))
      .agg(countDistinct(col("cluster")).as("nc"),
        count(lit(1)).as("n")).collect()
    assert(cells.forall(_.getAs[Long]("nc") == 1L),
      "each learned cell must hold exactly one planted cluster")
    assert(cells.map(_.getAs[Long]("n")).sorted.toSeq == Seq(12L, 15L, 30L),
      "inverted-list sizes must match the planted cluster sizes")
    // one query per cluster (ids 0,1,2 = member 0 of each cluster):
    // probing a SINGLE list must already recover the exact top-10
    val queries = df.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"),
        VectorFns.toDouble(col("embedding")).as("qvec"))
    def keyed(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = keyed(Similarity.topKMulti(df, queries, "vec_id",
      "embedding", 10))
    val ivf = keyed(Similarity.ivfTopKCosineMulti(df, cents, queries,
      "vec_id", "embedding", k = 10, nProbe = 1))
    assert(ivf == exact,
      s"nProbe=1 on structured data must be exact; diff=${ivf.diff(exact)}")
  }

  test("partial-probe IVF: k results, sims bounded by exact top-k") {
    val (e, qv, base) = setup()
    val cents = Similarity.centroids(e, "vec_id", "embedding", step = 10)
    val exact = Similarity.topK(base, qv, "vec_id", "embedding", 10)
      .collect().map(_.getDouble(1))
    val approx = Similarity.ivfTopKCosine(base, cents, qv, "vec_id",
        "embedding", k = 10, nProbe = 2)
      .collect().map(_.getDouble(1))
    assert(approx.length == 10)
    // each approx sim ≤ the best exact sim; top-1 of a probed list can
    // still be the global best, but never better than it
    assert(approx.max <= exact.max + 1e-9)
  }

  test("LSH-bucketed ANN returns k verified-distance neighbors overlapping exact") {
    val (e, _, base) = setup()
    val qArr = e.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select(VectorFns.toDouble(col("embedding")).as("q"))
      .collect()(0).getSeq[Double](0).toArray
    val ann = Similarity.brpLshTopK(base, "vec_id", "embedding",
        org.apache.spark.ml.linalg.Vectors.dense(qArr), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ann.size == 10)
    // exact L2 top-10 via the engine's own vector fns
    val qLit = org.apache.spark.sql.functions.array(qArr.map(lit): _*)
    val exact = base
      .select(col("vec_id"),
        round(sqrt(VectorFns.sqDist(VectorFns.toDouble(col("embedding")), qLit)), 4)
          .as("d"))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every ANN distance must be a TRUE distance (verify against exact
    // recomputation) and the sets should overlap substantially
    ann.foreach { case (id, d) =>
      val truth = base.filter(col("vec_id") === id)
        .select(round(sqrt(VectorFns.sqDist(
          VectorFns.toDouble(col("embedding")), qLit)), 4))
        .collect()(0).getDouble(0)
      assert(math.abs(truth - d) < 1e-3, s"ANN lied about distance for $id")
    }
    val overlap = ann.keySet.intersect(exact.keySet).size
    assert(overlap >= 5, s"ANN recall too low: $overlap/10 vs exact")
  }

  test("incremental quantized-IVF refresh equals a full rebuild: " +
      "membership, codes, and cell assignment row-for-row; empty " +
      "cells dropped; untouched cells not re-listed as dirty") {
    val (_, _, base) = setup()
    val oldSnap = base.filter(col("vec_id") % 7 =!= 3)
      .select(col("vec_id"), col("embedding"))
    val newSnap = base.filter(col("vec_id") % 13 =!= 5)
      .select(col("vec_id"),
        when(col("vec_id") % 11 === 0,
          transform(col("embedding"), x => -x))
          .otherwise(col("embedding")).as("embedding"))
    val cents = Similarity.learnedCentroids(oldSnap, "embedding", k = 8)
    val incDir = java.nio.file.Files.createTempDirectory("ivf_inc").toString
    val fullDir = java.nio.file.Files.createTempDirectory("ivf_full").toString
    Similarity.ivfWriteIndexQuantized(oldSnap, cents, "vec_id",
      "embedding", incDir)
    val sig = (s: org.apache.spark.sql.DataFrame) =>
      s.select(col("vec_id"), xxhash64(col("embedding")).as("sig"))
    val changes = Upsert.diffByKey(sig(oldSnap), sig(newSnap),
      "vec_id", "sig")
    // PIN a probe before the wave: the MVCC commit must leave its
    // generation's directories untouched (snapshot isolation is the
    // batch refresh's contract now, not just the streaming loop's)
    val qv = base.filter(col("vec_id") === 0)
      .select(graft.functions.VectorFns.toDouble(col("embedding"))
        .as("qvec"))
    val pinned = Similarity.ivfProbePrunedQuantized(spark, incDir,
      cents, qv, "vec_id", k = 10, nProbe = 3)
    val expectPinned = pinned.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val dirty = Similarity.ivfRefreshQuantizedIncremental(spark, incDir,
      cents, newSnap, changes, "vec_id", "embedding")
    assert(pinned.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq == expectPinned,
      "the MVCC batch refresh raced the pinned probe")
    // parity: refreshed index content == full rebuild with same cents
    // (manifest-aware read on the refreshed side)
    Similarity.ivfWriteIndexQuantized(newSnap, cents, "vec_id",
      "embedding", fullDir)
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("centroid_id").cast("long"),
        col("codes").cast("string").as("c"),
        col("codes_scale"))
      .collect().map(_.toSeq).toSet
    assert(snap(Similarity.readQuantizedIndex(spark, incDir)) ==
      snap(spark.read.parquet(fullDir)),
      "incremental refresh diverged from the full rebuild")
    assert(dirty.nonEmpty && dirty.toSet.subsetOf((0L until 8L).toSet),
      s"dirty cells out of range: $dirty")
    // removed keys are really gone from the refreshed index
    val removed = changes.filter(col("status") === "removed")
      .select(col("vec_id"))
    assert(Similarity.readQuantizedIndex(spark, incDir)
      .join(removed, Seq("vec_id")).count() == 0,
      "a removed key survived the refresh")
  }

  test("incremental refresh survives a SHRINK-ONLY delta that empties " +
      "whole cells: zero staged rows, dirty directories dropped") {
    val (_, _, base) = setup()
    val oldSnap = base.select(col("vec_id"), col("embedding"))
    val cents = Similarity.learnedCentroids(oldSnap, "embedding", k = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_shrink").toString
    Similarity.ivfWriteIndexQuantized(oldSnap, cents, "vec_id",
      "embedding", dir)
    // drop EVERY member of one cell (and nothing else)
    val idxDf = spark.read.parquet(dir)
    val someCell = idxDf.select(col("centroid_id").cast("long"))
      .orderBy(col("centroid_id")).limit(1).collect()(0).getLong(0)
    val cellKeys = idxDf
      .filter(col("centroid_id").cast("long") === someCell)
      .select(col("vec_id"))
    val newSnap = oldSnap.join(cellKeys, Seq("vec_id"), "left_anti")
    val sig = (s: org.apache.spark.sql.DataFrame) =>
      s.select(col("vec_id"), xxhash64(col("embedding")).as("sig"))
    val changes = Upsert.diffByKey(sig(oldSnap), sig(newSnap),
      "vec_id", "sig")
    val dirty = Similarity.ivfRefreshQuantizedIncremental(spark, dir,
      cents, newSnap, changes, "vec_id", "embedding")
    assert(dirty == Seq(someCell),
      s"expected only cell $someCell dirty, got $dirty")
    // the emptied cell simply loses its manifest entry (zero staged
    // rows, zero entries) — the live composition serves nothing from
    // it, and the stale directory is reclaimed by vacuum
    assert(Similarity.readQuantizedIndex(spark, dir)
      .filter(col("centroid_id") === someCell).count() == 0)
    assert(Similarity.readQuantizedIndex(spark, dir).count() ==
      idxDf.filter(col("centroid_id").cast("long") =!= someCell).count())
    Similarity.ivfVacuumQuantized(spark, dir, keepGenerations = 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$dir/centroid_id=$someCell")),
      "emptied cell directory survived refresh + vacuum")
  }

  test("ivfDriftStats: drifting the corpus away from its fit raises " +
      "the mean-displacement gauge; clean index agrees with itself") {
    val (_, _, base) = setup()
    val snap = base.select(col("vec_id"), col("embedding"))
    val cents = Similarity.learnedCentroids(snap, "embedding", k = 8)
      .localCheckpoint()
    val clean = java.nio.file.Files.createTempDirectory("drift_c").toString
    val driftD = java.nio.file.Files.createTempDirectory("drift_d").toString
    Similarity.ivfWriteIndexQuantized(snap, cents, "vec_id",
      "embedding", clean)
    val drifted = snap.select(col("vec_id"),
      when(col("vec_id") % 3 === 0,
        transform(col("embedding"),
          (x, j) => (x + lit(1.5) * cos(j.cast("double"))).cast("float")))
        .otherwise(col("embedding")).as("embedding"))
    Similarity.ivfWriteIndexQuantized(drifted, cents, "vec_id",
      "embedding", driftD)
    val (skewC, cdC) = Similarity.ivfDriftGauges(
      Similarity.ivfDriftStats(spark, clean, cents))
    val (_, cdD) = Similarity.ivfDriftGauges(
      Similarity.ivfDriftStats(spark, driftD, cents))
    assert(skewC >= 100, s"skew gauge below the mean-cell floor: $skewC")
    assert(cdD > cdC,
      s"drifted displacement $cdD not above clean baseline $cdC")
    // per-cell stats account for every index row exactly once
    val stats = Similarity.ivfDriftStats(spark, clean, cents)
    assert(stats.agg(sum(col("n"))).collect()(0).getLong(0) ==
      spark.read.parquet(clean).count())
  }

  test("ivfRefreshOrRecenter: stays put while displacement tracks the " +
      "baseline, recenters under real drift and restores the gauge") {
    val (_, _, base) = setup()
    val snap = base.select(col("vec_id"), col("embedding"))
    val k = 8
    val cents0 = Similarity.learnedCentroids(snap, "embedding", k)
      .localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("drift_g").toString
    Similarity.ivfWriteIndexQuantized(snap, cents0, "vec_id",
      "embedding", dir)
    val baseline = Similarity.ivfDriftGauges(
      Similarity.ivfDriftStats(spark, dir, cents0))
    val sig = (s: org.apache.spark.sql.DataFrame) =>
      s.select(col("vec_id"), xxhash64(col("embedding")).as("sig"))
    // wave 1: a tiny benign delta (one removed key) — no recenter
    val snap1 = snap.filter(col("vec_id") =!= snap
      .select(min(col("vec_id"))).collect()(0).getLong(0))
    val (c1, b1, r1, st1) = Similarity.ivfRefreshOrRecenter(spark, dir,
      cents0, snap1, Upsert.diffByKey(sig(snap), sig(snap1),
        "vec_id", "sig"),
      "vec_id", "embedding", baseline, k)
    assert(!r1, "benign delta triggered a recenter")
    // the carried frame equals a full rescan (the delta-bounded
    // gauge contract, batch flavor)
    assert(st1.select(col("centroid_id"), col("n"), col("cd_fp_sum"))
        .collect().map(_.toString).sorted.toSeq ==
      Similarity.ivfDriftStats(spark, dir, cents0)
        .select(col("centroid_id"), col("n"), col("cd_fp_sum"))
        .collect().map(_.toString).sorted.toSeq,
      "carried batch stats diverged from the full rescan")
    assert(b1 == baseline && (c1 eq cents0))
    // wave 2: hard drift on a third of the corpus — must recenter,
    // and the post-recenter displacement must sit BELOW the drifted
    // fixed-centroid gauge (that's what recentering buys)
    val snap2 = snap1.select(col("vec_id"),
      when(col("vec_id") % 3 === 0,
        transform(col("embedding"),
          (x, j) => (x + lit(1.5) * cos(j.cast("double"))).cast("float")))
        .otherwise(col("embedding")).as("embedding"))
    val changes2 = Upsert.diffByKey(sig(snap1), sig(snap2),
      "vec_id", "sig")
    val (c2, b2, r2, _) = Similarity.ivfRefreshOrRecenter(spark, dir,
      cents0, snap2, changes2, "vec_id", "embedding", baseline,
      k, prevStats = Some(st1))
    assert(r2, "hard drift did not trigger a recenter")
    val after = Similarity.ivfDriftGauges(
      Similarity.ivfDriftStats(spark, dir, c2))
    assert(after == b2, "returned baseline is not the rebuilt gauge")
    // loop closure: the refit baselines are what the next wave
    // compares against, and the rebuilt displacement sits below the
    // fixed-centroid displacement the drift produced (that is what
    // the rebuild buys)
    val fixedDir = java.nio.file.Files
      .createTempDirectory("drift_fx").toString
    Similarity.ivfWriteIndexQuantized(snap2, cents0, "vec_id",
      "embedding", fixedDir)
    val (_, cdFixed) = Similarity.ivfDriftGauges(
      Similarity.ivfDriftStats(spark, fixedDir, cents0))
    assert(b2._2 < cdFixed,
      s"recentered displacement ${b2._2} not below the drifted " +
        s"fixed-centroid gauge $cdFixed")
  }

  test("model-sealed drift stats: a carry across an out-of-band " +
      "recenter fails loudly instead of deciding from invalid rows; " +
      "an unsealed frame is rejected the same way") {
    val (_, _, base) = setup()
    val snap = base.select(col("vec_id"), col("embedding"))
    val cents0 = Similarity.learnedCentroids(snap, "embedding", k = 8)
      .localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("drift_fp").toString
    Similarity.ivfWriteIndexQuantized(snap, cents0, "vec_id",
      "embedding", dir)
    val stats0 = Similarity.ivfDriftStats(spark, dir, cents0)
      .localCheckpoint()
    val baseline = Similarity.ivfDriftGauges(stats0)
    // the out-of-band recenter: a DIFFERENT model now governs, but
    // the caller keeps carrying the old stats — per-cell rows are
    // pure functions of the codes UNDER A MODEL, so this carry is
    // silently wrong arithmetic; the seal makes it loud
    val cents1 = Similarity.learnedCentroids(
        snap.filter(col("vec_id") % 2 === 0), "embedding", k = 8)
      .localCheckpoint()
    val sig = (s: org.apache.spark.sql.DataFrame) =>
      s.select(col("vec_id"), xxhash64(col("embedding")).as("sig"))
    val benign = Upsert.diffByKey(sig(snap), sig(snap), "vec_id", "sig")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfRefreshOrRecenter(spark, dir, cents1, snap, benign,
        "vec_id", "embedding", baseline, 8, prevStats = Some(stats0))
    }
    assert(e.getMessage.contains("different model"), s"wrong: $e")
    // an unsealed frame (model_fp dropped) is rejected too
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfRefreshOrRecenter(spark, dir, cents0, snap, benign,
        "vec_id", "embedding", baseline, 8,
        prevStats = Some(stats0.drop("model_fp")))
    }
    assert(e2.getMessage.contains("no model_fp"), s"wrong: $e2")
    // the matching carry still works, and the fingerprint is a pure
    // function of the model values (not the frame identity)
    val cents0again = Similarity.learnedCentroids(snap, "embedding",
      k = 8).localCheckpoint()
    val (_, _, r, _) = Similarity.ivfRefreshOrRecenter(spark, dir,
      cents0again, snap, benign, "vec_id", "embedding", baseline, 8,
      prevStats = Some(stats0))
    assert(!r, "benign carry under the same model must not recenter")
  }

  test("mmrRerank: a near-duplicate of the top hit is demoted below a " +
      "diverse lower-relevance item; lambda=100 is pure relevance " +
      "order; deterministic with id ties; zero-norm never crowds") {
    import spark.implicits._
    // candidates: 1 and 2 nearly identical directions (dup pair),
    // 3 orthogonal-ish, 4 a zero vector, relevance 1 > 2 > 3 > 4
    // relevance on the cosine scale (the operator's documented
    // contract — normalize upstream rankers whose scores dwarf [-1,1])
    val cands = Seq(
      (1L, 1.0, Seq(1.0f, 0.0f, 0.0f)),
      (2L, 0.9, Seq(0.999f, 0.04f, 0.0f)),
      (3L, 0.5, Seq(0.0f, 1.0f, 0.0f)),
      (4L, 0.4, Seq(0.0f, 0.0f, 0.0f)))
      .toDF("id", "rel", "vec")
    val picks = Similarity.mmrRerank(cands, "id", "rel", "vec",
        k = 3, lambdaX100 = 50L)
      .orderBy(col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // rank 1 = top relevance; rank 2 must be the DIVERSE doc 3, not
    // the near-duplicate 2 (0.5·0.9 − 0.5·~1.0 < 0.5·0.5 − 0.5·0)
    assert(picks.map(_._2).take(2) == Seq(1L, 3L), s"got $picks")
    // pure relevance at lambda=100
    val rel = Similarity.mmrRerank(cands, "id", "rel", "vec",
        k = 4, lambdaX100 = 100L)
      .orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    assert(rel == Seq(1L, 2L, 3L, 4L), s"got $rel")
    // determinism
    val again = Similarity.mmrRerank(cands, "id", "rel", "vec",
        k = 3, lambdaX100 = 50L)
      .orderBy(col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(again == picks)
    // equal relevance + equal similarity ties break to the smaller id
    val tied = Seq(
      (7L, 1.0, Seq(1.0f, 0.0f)), (5L, 1.0, Seq(1.0f, 0.0f)))
      .toDF("id", "rel", "vec")
    assert(Similarity.mmrRerank(tied, "id", "rel", "vec", k = 1)
      .collect().head.getLong(1) == 5L)
  }

  test("late interaction (MaxSim): a doc containing every query token " +
      "verbatim outranks bag-blurred docs; pruned candidates rescore " +
      "EXACTLY (score parity per returned id); full-probe pruning " +
      "equals brute; deterministic") {
    import spark.implicits._
    val docs = Seq(
      (1L, "scan table royalty filter"),        // exact multi-token hit
      (2L, "scan scan scan scan"),               // one token, repeated
      (3L, "table filter noise words here"),
      (4L, "completely unrelated text rows"),
      (5L, "royalty filter scan other padding"))
      .toDF("doc_id", "text")
    val docVecs = docs.select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text"))))
          .as("tok"))
      .select(col("doc_id"),
        Similarity.tokenPseudoVec(col("tok")).as("tokvec"))
    val qToks = Seq("scan", "table", "royalty", "filter")
    val queryVecs = qToks.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("qtok_id", "tok")
      .select(col("qtok_id"),
        Similarity.tokenPseudoVec(col("tok")).as("qvec"))
      .localCheckpoint()
    val brute = Similarity.maxSimTopK(docVecs, queryVecs, "doc_id", 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // every query token self-matches in doc 1, so no doc can beat it
    // (per query token the max dot is bounded by the self-dot only
    // for these pseudo-vecs if doc 1's tokens ARE the query's — true)
    assert(brute.head._1 == 1L, s"got $brute")
    // docs 1 and 5 share {scan, royalty, filter}; 1 adds table
    assert(brute.map(_._1).indexOf(1L) < brute.map(_._1).indexOf(2L))
    // determinism
    val again = Similarity.maxSimTopK(docVecs, queryVecs, "doc_id", 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(again == brute)
    // pruned: full probe (nProbe = kCells) covers every cell → equals
    // brute bit-for-bit
    val full = Similarity.maxSimTopKPruned(docVecs, queryVecs,
        "doc_id", 5, kCells = 3, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == brute, s"full-probe pruned diverged: $full vs $brute")
    // partial probe: candidates rescore EXACTLY — every returned
    // (id, score) appears verbatim in the brute scoring of all docs
    val bruteAll = Similarity.maxSimTopK(docVecs, queryVecs, "doc_id",
        100).collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val pruned = Similarity.maxSimTopKPruned(docVecs, queryVecs,
        "doc_id", 5, kCells = 3, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pruned.nonEmpty)
    pruned.foreach { case (id, s) =>
      assert(bruteAll(id) == s,
        s"pruned rescored doc $id to $s, brute says ${bruteAll(id)}")
    }
    // the planted exact match survives even a 1-cell probe: its tokens
    // ARE the query tokens, so each query token's nearest cell holds
    // the matching doc token by construction
    assert(pruned.head._1 == 1L, s"got $pruned")
  }

  test("maxSim cell-assignment kernel: bit-parity with the least() " +
      "unroll at kCells=256 — random vectors, a parallel-centroid " +
      "exact tie (smaller cid wins), and a null-element row") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dims = 8
    // 256 centroids; centroid 200 is EXACTLY 2×centroid 100 (parallel
    // — scaling by a power of two is FP-exact), so every vector's
    // cosine distance to the pair is bit-equal: a true tie that must
    // break to the smaller cid in both forms
    val cents: Seq[(Long, Seq[Double])] = (0L until 256L).map { c =>
      (c, Seq.fill(dims)(rnd.nextDouble() * 2 - 1))
    } match {
      case cs => cs.updated(200, (200L, cs(100)._2.map(_ * 2.0)))
    }
    val vecs: Seq[(Long, Seq[Option[Double]])] =
      // row 0: a null-element pseudo-vec (a null token's derivation) —
      // every d poisons to null, lands in the smallest cid either way
      (0L, Seq.fill(dims)(Option.empty[Double])) +:
        (1L to 60L).map(i =>
          (i, Seq.fill(dims)(Some(rnd.nextDouble() * 2 - 1))))
    val df = vecs.toDF("id", "v")
    val got = df.select(col("id"),
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.functions.CosineArgminCellExpr(
            org.apache.spark.sql.graftbridge.Bridge
              .expression(col("v")), cents)).as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the r19 least() unroll, reconstructed as the reference
    val scored = cents.map { case (cid, cv) =>
      struct((lit(1.0) - VectorFns.cosine(col("v"),
        array(cv.map(lit): _*))).as("d"), lit(cid).as("cid"))
    }
    val ref = df.select(col("id"), least(scored: _*)("cid").as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == ref, s"kernel != unroll: " +
      s"${got.toSeq.sortBy(_._1).take(6)} vs " +
      s"${ref.toSeq.sortBy(_._1).take(6)}")
    assert(got(0L) == 0L, s"null-element row: ${got(0L)}")
    // the parallel pair: find a row whose argmin is 100 under the
    // kernel and confirm the unroll agrees (the map equality already
    // does), and that NO row ever lands on 200 (d identical, cid
    // larger — the tiebreak must always prefer 100)
    assert(!got.values.exists(_ == 200L),
      "a tie broke to the larger cid")
  }

  test("cosine of a vector with itself is 1") {
    val (e, _, _) = setup()
    val self = e.limit(5)
      .withColumn("v", VectorFns.toDouble(col("embedding")))
      .select(round(VectorFns.cosine(col("v"), col("v")), 6).as("c"))
      .collect().map(_.getDouble(0))
    assert(self.forall(_ == 1.0))
  }

  test("hardNegatives: same-label and self excluded, k bound, ranked " +
      "by cosine with id tiebreak") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f), 0),   // the query
      (1L, Array(1f, 0f), 0),   // identical but same label — excluded
      (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(0f, 1f), 1),   // orthogonal → sim 0
      (4L, Array(1f, 0f), 2),   // identical, different label → sim 1
      (5L, Array(1f, 0f), 2)    // tie with 4 → id order
    ).toDF("vec_id", "embedding", "label")
    val panel = vecs.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"),
        VectorFns.toDouble(col("embedding")).as("qvec"),
        col("label").as("qlabel"))
    val out = Similarity.hardNegatives(vecs, panel, "vec_id",
        "embedding", "label", k = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(3)))
    assert(out.toSeq == Seq((4L, 1.0), (5L, 1.0), (2L, 0.9939)),
      s"got ${out.toSeq}")
  }

  test("rrfFuse: overlap sums both contributions, fixed-point values " +
      "are the closed-form floors, ties break by id") {
    import spark.implicits._
    // closed-form contributions at kRrf=60:
    //   rank 1 -> floor(1e7/61 + 0.5) = 163934
    //   rank 2 -> floor(1e7/62 + 0.5) = 161290
    //   rank 3 -> floor(1e7/63 + 0.5) = 158730
    val sparse = Seq((0L, 1L, 1), (0L, 2L, 2), (0L, 9L, 3))
      .toDF("qid", "doc_id", "rank")
    val dense = Seq((0L, 2L, 1), (0L, 4L, 2), (0L, 5L, 3))
      .toDF("qid", "doc_id", "rank")
    val out = Similarity.rrfFuse(Seq(sparse, dense), "doc_id", k = 5)
      .orderBy(col("rrf_fp").desc, col("doc_id"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 2 is in both lists (163934 + 161290); docs 5 and 9 tie at
    // 158730 and the lower id wins
    assert(out.toSeq == Seq(
      (2L, 325224L, 2L), (1L, 163934L, 1L), (4L, 161290L, 1L),
      (5L, 158730L, 1L), (9L, 158730L, 1L)), s"got ${out.toSeq}")
    // k truncates per qid after fusion
    val top2 = Similarity.rrfFuse(Seq(sparse, dense), "doc_id", k = 2)
      .collect().map(_.getLong(1)).toSet
    assert(top2 == Set(2L, 1L), s"got $top2")
  }
}
