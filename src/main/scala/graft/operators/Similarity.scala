package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.ArtifactMemo
import graft.functions.VectorFns

/** X2 — similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *   - [[topK]] brute force: one linear scan computing cosine against a
  *     broadcast query vector, then `orderBy(desc).limit(k)` which Spark
  *     plans as TakeOrderedAndProject (per-partition top-k + driver
  *     merge of k·partitions rows — no global sort). This is the
  *     baseline AND the honest default: linear, embarrassingly
  *     parallel, no recall loss.
  *   - [[ivfTopKCosine]] IVF-style ANN: vectors are pre-assigned to
  *     their nearest of C centroids (the "inverted file"); a query probes only
  *     the nProbe nearest centroid lists, cutting the scanned fraction
  *     to ~nProbe/C at the cost of recall. At 100 TB the assignment is a
  *     one-off batch job and the probe is a partition-pruned read when
  *     the table is written partitioned by centroid id.
  */
object Similarity {

  /** Cosine of every row against a single query vector (1-row DataFrame
    * with column `qvec`, broadcast — the scalar-broadcast idiom, not a
    * driver collect).
    *
    * `toDouble` (an ArrayTransform — CodegenFallback) is materialized
    * in its OWN projection below the join: inlined into `sim` it would
    * re-evaluate once per (row × query) pair AND drag the whole cosine
    * tree out of whole-stage codegen; projected first it runs once per
    * corpus row and the native vec_dot kernels stay fused (r19, same
    * class as the q199 argmin unroll). Values are bit-identical. */
  def scoreAgainst(vectors: DataFrame, queryVec: DataFrame,
                   vecCol: String): DataFrame =
    vectors.withColumn("_vd", VectorFns.toDouble(col(vecCol)))
      .crossJoin(broadcast(queryVec))
      .withColumn("sim",
        round(VectorFns.cosine(col("_vd"), col("qvec")), 4))
      .drop("_vd")

  def topK(vectors: DataFrame, queryVec: DataFrame, idCol: String,
           vecCol: String, k: Int): DataFrame =
    scoreAgainst(vectors, queryVec, vecCol)
      .select(col(idCol), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)

  /** Brute-force cosine top-k for a PANEL of queries (`queries` =
    * broadcast-sized (qid, qvec) frame): one corpus scan scores every
    * (row, query) pair, then a per-qid window keeps k. The multi-query
    * analog of [[topK]] — the scan cost is paid once for the whole
    * panel instead of once per query. */
  def topKMulti(vectors: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int): DataFrame =
    panelTopK(scoredPanel(vectors, queries, vecCol), idCol, k)
      .select(col("qid"), col(idCol), col("sim"))

  /** Exact re-rank of per-query CANDIDATE sets — the multi-query
    * refine stage ([[ProductQuantize.ivfPqProbeRefined]]'s batch
    * sibling): `candidates` is an aggregate-sized (qid, idCol)
    * relation from any approximate stage; it broadcasts onto the
    * corpus scan (one pass no matter the panel size), each surviving
    * row scores by true cosine against its own query, and a per-qid
    * window keeps k. Per query this returns the TRUE top-k of the
    * candidate set, so its recall dominates any cut the same
    * candidates' approximate scores produced. */
  def refineTopKMulti(vectors: DataFrame, candidates: DataFrame,
                      queries: DataFrame, idCol: String,
                      vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col(idCol))
    vectors
      // toDouble projected below the joins — once per corpus row, and
      // the sim expression stays codegen (see [[scoreAgainst]])
      .withColumn("_vd", VectorFns.toDouble(col(vecCol)))
      .join(broadcast(candidates.select(col("qid"), col(idCol))),
        Seq(idCol))
      .join(broadcast(queries.select(col("qid"), col("qvec"))),
        Seq("qid"))
      .withColumn("sim",
        round(VectorFns.cosine(col("_vd"), col("qvec")), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("sim"))
  }

  /** One corpus scan scored against a BROADCAST (qid, qvec, …) panel —
    * the shared core of [[topKMulti]] and [[hardNegatives]]. Delegates
    * to [[scoreAgainst]] (the single-query scorer has the identical
    * shape) so the scoring contract — rounding, broadcast hint — lives
    * in exactly one place. */
  private def scoredPanel(vectors: DataFrame, queries: DataFrame,
                          vecCol: String): DataFrame =
    scoreAgainst(vectors, queries, vecCol)

  /** Per-query window top-k over a scored panel, ties broken by id. */
  private def panelTopK(scored: DataFrame, idCol: String,
                        k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col(idCol))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Hard-negative mining for contrastive training data: for each query
    * vector, the k nearest candidates by cosine that carry a DIFFERENT
    * label — the "close but wrong" examples a retrieval/embedding
    * trainer pairs against each anchor. Same one-scan panel shape as
    * [[topKMulti]] (queries broadcast, corpus scanned once, per-query
    * window top-k); the label inequality and self-exclusion are plain
    * codegen'd filters on the scored frame, so the plan stays a
    * BroadcastNestedLoop of a panel-sized frame — never an
    * all-pairs product of the corpus with itself.
    *
    * `queries` must be a broadcast-sized frame with columns
    * (qid, qvec: array<double>, qlabel). Output: (qid, idCol, labelCol,
    * sim) with ties broken by id — deterministic for the oracle. */
  def hardNegatives(vectors: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame =
    panelTopK(
      scoredPanel(vectors, queries, vecCol)
        // Catalyst pushes this below the cosine projection (neither
        // column depends on sim), so excluded rows are never scored
        .filter(col(labelCol) =!= col("qlabel") &&
          col(idCol) =!= col("qid")),
      idCol, k)
      .select(col("qid"), col(idCol), col(labelCol), col("sim"))

  /** 1-based rank column over a scored retrieval list: per-qid
    * row_number by (score desc, id) — the SAME tiebreak every top-k in
    * this family uses, so re-ranking a `topKMulti`/`bm25TopK` output
    * reproduces the ranks those operators assigned internally. */
  def rankByScore(scored: DataFrame, idCol: String,
                  scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored.withColumn("rank", row_number().over(
      Window.partitionBy(col("qid"))
        .orderBy(col(scoreCol).desc, col(idCol))))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009) — the standard
    * hybrid-retrieval combiner for heterogeneous rankers (sparse BM25 +
    * dense cosine): score(d) = Σ_lists 1/(kRrf + rank_list(d)), fused
    * on ranks so the lists' incomparable score scales never meet.
    *
    * Each input frame carries (qid, idCol, rank) with rank 1-based
    * (see [[rankByScore]]). Every contribution is quantized to 1e-7
    * fixed point — floor(1e7/(kRrf+rank) + 0.5) — and summed as
    * integers (the project's spelled-rounding convention): the fused
    * score is a pure integer function of the ranks, bit-exact in any
    * engine. Output: (qid, idCol, rrf_fp, n_lists) top-k per qid,
    * ties broken by id.
    *
    * Scale: the inputs are already top-k lists (k·|panel| rows each);
    * everything here is panel-sized — the corpus-scale work happened
    * in the rankers. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, k: Int,
              kRrf: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val contribs = lists.map(_.select(col("qid"), col(idCol),
      floor(lit(1e7) / (lit(kRrf) + col("rank")) + lit(0.5))
        .cast("long").as("contrib_fp")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_fp").desc, col(idCol))
    contribs.reduce(_ unionByName _)
      .groupBy(col("qid"), col(idCol))
      .agg(sum(col("contrib_fp")).as("rrf_fp"),
        count(lit(1)).as("n_lists"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("rrf_fp"), col("n_lists"))
  }

  /** Trivial centroid set: every `step`-th vector by id — the
    * dependency-free fallback (deterministic without any fit), kept for
    * comparison probes; the operator of record is [[learnedCentroids]],
    * whose data-following cells give uniformly better list balance and
    * probe recall. */
  def centroids(vectors: DataFrame, idCol: String, vecCol: String,
                step: Int): DataFrame =
    vectors.filter(col(idCol) % step === 0)
      .select(col(idCol).as("centroid_id"),
        VectorFns.toDouble(col(vecCol)).as("cvec"))

  /** LEARNED centroid set — seeded SPHERICAL k-means over the corpus
    * vectors (the real IVF training step for a COSINE index: fit on
    * unit-normalized vectors, then unit-normalize the cluster centers,
    * so Voronoi cells live on the unit sphere where the search metric
    * does). Cells follow the data's density, so inverted lists balance
    * and a fixed nProbe captures more of the query's true cosine
    * neighborhood than arbitrary-subset centroids — pair with the
    * cosine assign/probe ([[ivfAssignCosine]]/[[ivfTopKCosine]]);
    * L2-on-raw assignment against these centers would recreate the
    * metric mismatch this fit exists to avoid. Deterministic given
    * (data, seed); k is clamped to the corpus size and an empty input
    * is loud. Returns (centroid_id: 0..k-1, cvec: array<double>) —
    * broadcast-sized (k × dim), same contract as [[centroids]].
    *
    * Scale shape: the fit is ml-native treeAggregate rounds over a
    * cached one-column vector frame; the result is k rows materialized
    * driver-side (tiny by construction — this is the one frame that is
    * SUPPOSED to be driver-sized). CONTRACT: the fit runs EAGERLY at
    * call time and the returned frame is a driver-local relation —
    * consumers may re-plan it freely, no checkpoint/cache needed (the
    * r19 round removed two such redundant pins). */
  def learnedCentroids(vectors: DataFrame, vecCol: String, k: Int,
                       seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val spark = vectors.sparkSession
    import spark.implicits._
    // toDouble materialized once per row (the r19 projection
    // discipline — inline it was evaluated twice in the norm and once
    // more in the normalize transform, all CodegenFallback)
    val feat = graft.engine.Caching.cached(
      vectors
        .select(VectorFns.toDouble(col(vecCol)).as("_vd"))
        .withColumn("_n", VectorFns.norm(col("_vd")))
        .filter(col("_n") > 0)
        .select(array_to_vector(
          VectorFns.unitNormalizeWith(col("_vd"), col("_n")))
          .as("features")))
    val n = feat.count()
    require(n > 0, "learnedCentroids: no non-zero-norm vectors to cluster")
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(math.min(k.toLong, n).toInt).setSeed(seed)
      .setFeaturesCol("features")
      .fit(feat)
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (v, i) =>
        val arr = v.toArray
        val norm = math.sqrt(arr.map(x => x * x).sum)
        // a degenerate all-zero center (empty cell) stays zero rather
        // than dividing by zero; no vector ever assigns to it by cosine
        (i.toLong, (if (norm > 0) arr.map(_ / norm) else arr).toSeq)
      }
      .toDF("centroid_id", "cvec")
  }

  /** Cosine inverted-file assignment: each vector → the centroid with
    * the LOWEST cosine distance (1 − cosine similarity) — the metric
    * match for [[learnedCentroids]]' spherical cells. Scale-invariant
    * in both arguments, so raw vectors assign correctly without a
    * normalization pass.
    *
    * One narrow projection over the collected centroid table
    * ([[withCell]]) — no cross join, no shuffle — and THE assignment
    * rule of every IVF path: rebuilds, refreshes (whose fresh rows get
    * their codes and cell in the same projection) and snapshot probes.
    * Semantics are `min_by(centroid_id, cd)` over the centroids with
    * ties to the smaller id; a vector with a NULL element gets a NULL
    * cell, and a zero-norm vector (no direction) is dropped.
    *
    * The drop is part of the contract: the IVF builds and rebuilds
    * inner-join on this result, so a zero-norm vector is not indexed
    * (no cell can hold it by cosine) instead of failing the build with
    * a division by zero. */
  def ivfAssignCosine(vectors: DataFrame, cents: DataFrame, idCol: String,
                      vecCol: String): DataFrame =
    withCell(vectors.select(col(idCol), col(vecCol)), centroidRows(cents),
        vecCol)
      .select(col(idCol), col("centroid_id")
        .cast(cents.schema("centroid_id").dataType).as("centroid_id"))

  /** A centroid table held driver-side: (centroid_id, cvec) in
    * ascending id order — k rows by contract. */
  private[graft] type CentRows = IndexedSeq[(Long, Seq[Double])]

  /** The rows of a centroid frame ([[CentRows]]). */
  private[graft] def centroidRows(cents: DataFrame): CentRows =
    cents.select(col("centroid_id").cast("long"), col("cvec")).collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Double]](1).toVector: Seq[Double]))
      .sortBy(_._1).toIndexedSeq

  /** The cell column of a `array<double>` vector column under
    * [[ivfAssignCosine]]'s rule (the native argmin kernel). */
  private[graft] def cellOf(vd: Column, cents: CentRows): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.CosineArgminCellExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(vd), cents,
        skipNulls = true))

  /** `df` plus its `centroid_id` under [[ivfAssignCosine]]'s rule,
    * zero-norm rows dropped. */
  private[graft] def withCell(df: DataFrame, cents: CentRows,
                              vecCol: String): DataFrame =
    df.withColumn("_vd", VectorFns.toDouble(col(vecCol)))
      .filter(coalesce(VectorFns.norm(col("_vd")) =!= 0.0, lit(true)))
      .withColumn("centroid_id", cellOf(col("_vd"), cents))
      .drop("_vd")

  /** The query's centroid ranking under cosine — THE one definition
    * every cosine probe path shares (in-memory, materialized,
    * quantized), so a tiebreak or metric tweak can never
    * desynchronize them. */
  private def rankedCellsCosine(cents: DataFrame,
                                queryVec: DataFrame): DataFrame =
    cents.crossJoin(broadcast(queryVec))
      .withColumn("cd", lit(1.0) - VectorFns.cosine(col("cvec"), col("qvec")))
      .orderBy(col("cd"), col("centroid_id"))
      .select(col("centroid_id"))

  /** Driver-side form for the pruned-index paths: the nProbe cell ids
    * as literals (a scalar fetch of the broadcast-sized ranking).
    * `private[operators]`: [[ProductQuantize.ivfPqProbe]] shares this
    * ONE cell-ranking definition so the IVF-PQ probe can never
    * desynchronize from the cosine-IVF family's pruning. */
  private[operators] def probedCellIds(cents: DataFrame, queryVec: DataFrame,
                                       nProbe: Int): Array[Long] =
    rankedCellsCosine(cents, queryVec).limit(nProbe)
      .collect().map(_.getLong(0))

  /** IVF probe under COSINE: query's nProbe nearest centroids by cosine
    * distance → candidates from those lists only → exact cosine top-k.
    * The approximate index and the final ranking share one metric, so
    * recall degrades gracefully with nProbe instead of leaking through
    * a metric mismatch. */
  def ivfTopKCosine(vectors: DataFrame, cents: DataFrame,
                    queryVec: DataFrame, idCol: String, vecCol: String,
                    k: Int, nProbe: Int): DataFrame = {
    val probed = rankedCellsCosine(cents, queryVec).limit(nProbe)
    val assignment = ivfAssignCosine(vectors, cents, idCol, vecCol)
    val candidates = vectors
      .join(assignment, Seq(idCol))
      .join(broadcast(probed), Seq("centroid_id"))
    topK(candidates, queryVec, idCol, vecCol, k)
  }

  /** IVF probe under COSINE for a PANEL of queries: the corpus is
    * assigned ONCE; each query ranks centroids and scans only its
    * nProbe lists; a per-qid window keeps k. This is the batch-ANN
    * shape a recrawl pipeline runs nightly — assignment amortized
    * across the whole query batch, per-query IO still bounded by the
    * probe fraction. `queries` is a broadcast-sized (qid, qvec)
    * frame. */
  def ivfTopKCosineMulti(vectors: DataFrame, cents: DataFrame,
                         queries: DataFrame, idCol: String,
                         vecCol: String, k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("cd"), col("centroid_id"))
    val probed = cents.crossJoin(broadcast(queries))
      .withColumn("cd",
        lit(1.0) - VectorFns.cosine(col("cvec"), col("qvec")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("qvec"), col("centroid_id"))
    val assignment = ivfAssignCosine(vectors, cents, idCol, vecCol)
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col(idCol))
    vectors
      // toDouble below the joins (see [[scoreAgainst]])
      .withColumn("_vd", VectorFns.toDouble(col(vecCol)))
      .join(assignment, Seq(idCol))
      .join(broadcast(probed), Seq("centroid_id"))
      .withColumn("sim",
        round(VectorFns.cosine(col("_vd"), col("qvec")), 4))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("sim"))
  }

  /** LSH-bucketed ANN — the ml-native alternative to [[ivfTopKCosine]]:
    * random-hyperplane bucketing via `BucketedRandomProjectionLSH`
    * (seeded → deterministic), probe = `approxNearestNeighbors` which
    * scans only colliding buckets. Distance is Euclidean (the ml LSH
    * family's metric); for cosine semantics feed unit-normalized
    * vectors (L2 rank order == cosine rank order on the unit sphere). */
  def brpLshTopK(vectors: DataFrame, idCol: String, vecCol: String,
                 query: org.apache.spark.ml.linalg.Vector, k: Int,
                 numHashTables: Int = 4,
                 bucketLength: Double = 2.0): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val df = vectors.withColumn("fv",
      array_to_vector(graft.functions.VectorFns.toDouble(col(vecCol))))
    val model = new org.apache.spark.ml.feature.BucketedRandomProjectionLSH()
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(42L).setInputCol("fv").setOutputCol("hashes")
      .fit(df)
    model.approxNearestNeighbors(df, query, k)
      .select(col(idCol), round(col("distCol"), 4).as("dist"))
  }

  /** Panel variant of [[brpLshTopK]] as ONE relational plan: the fit
    * happens once, the corpus is hashed once, and the whole panel
    * probes via a single (table, bucket) equi-join against the
    * BROADCAST hashed panel — the same single-probe candidate rule
    * `approxNearestNeighbors` applies (≥1 shared bucket), but without
    * its one-job-per-query driver loop (a 50-query panel was 50
    * corpus scans; this is one). Candidates that collide in several
    * tables dedupe in the same aggregate that keeps their (identical)
    * exact distance; per-query top-k ties break by id —
    * deterministic, unlike the ml API's bare distance sort. */
  def brpLshTopKMulti(vectors: DataFrame, idCol: String, vecCol: String,
                      queries: Seq[(Long, org.apache.spark.ml.linalg.Vector)],
                      k: Int, numHashTables: Int = 4,
                      bucketLength: Double = 2.0): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.sql.expressions.Window
    require(queries.nonEmpty, "brpLshTopKMulti: empty query panel")
    val spark = vectors.sparkSession
    import spark.implicits._
    val vd = graft.functions.VectorFns.toDouble(col(vecCol))
    val df = graft.engine.Caching.cached(
      vectors.withColumn("fv", array_to_vector(vd)))
    val model = new org.apache.spark.ml.feature.BucketedRandomProjectionLSH()
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(42L).setInputCol("fv").setOutputCol("hashes")
      .fit(df)
    // hash-table index + scalar bucket id from the model's own
    // transform (each hash entry is a 1-element vector)
    def buckets(hashed: DataFrame, keep: Seq[org.apache.spark.sql.Column]) =
      hashed.select(keep :+ posexplode(col("hashes"))
          .as(Seq("ht", "hvec")): _*)
        .withColumn("bucket", vector_to_array(col("hvec"))(0))
        .drop("hvec")
    val qdf = queries.toDF("qid", "fv")
    val qb = buckets(model.transform(qdf),
      Seq(col("qid"), vector_to_array(col("fv")).as("qarr")))
    val cb = buckets(model.transform(df),
      Seq(col(idCol), vector_to_array(col("fv")).as("varr")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("dist"), col(idCol))
    cb.join(broadcast(qb), Seq("ht", "bucket"))
      .withColumn("dist",
        sqrt(graft.functions.VectorFns.sqDist(col("varr"), col("qarr"))))
      // multi-table collisions collapse here; dist is identical across
      // a pair's collisions, so min() is pure dedup
      .groupBy(col("qid"), col(idCol))
      .agg(min(col("dist")).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), round(col("dist"), 4).as("dist"))
  }

  /** Materialize the COSINE inverted file (the learned-centroid
    * production layout): vectors written partitioned by their
    * cosine-assigned cell. Pair with [[learnedCentroids]] +
    * [[ivfProbePrunedCosine]] — one metric from fit to probe. */
  def ivfWriteIndexCosine(vectors: DataFrame, cents: DataFrame,
                          idCol: String, vecCol: String,
                          path: String): Unit =
    vectors.join(ivfAssignCosine(vectors, cents, idCol, vecCol), Seq(idCol))
      .repartition(col("centroid_id")) // one compact file per cell
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** Probe a cosine-materialized index: rank centroids by cosine
    * distance to the query (driver-side scalar fetch of the
    * broadcast-sized centroid table), prune to the nProbe cell
    * DIRECTORIES via a literal `isin` (PartitionFilters — IO scales
    * with the probe fraction, not the corpus), exact cosine top-k on
    * the survivors. */
  def ivfProbePrunedCosine(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String, cents: DataFrame,
                           queryVec: DataFrame, idCol: String,
                           vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val probed = probedCellIds(cents, queryVec, nProbe)
    val idx = spark.read.parquet(indexPath)
      .filter(col("centroid_id")
        .isin(scala.collection.immutable.ArraySeq.unsafeWrapArray(probed): _*))
    topK(idx, queryVec, idCol, vecCol, k)
  }

  /** FILTERED ANN over a cosine-materialized index — the
    * attribute-constrained vector search every production vector
    * store serves ("nearest neighbors WHERE lang = 'pt'"): the
    * caller's attribute predicate runs on its own metadata relation
    * (pushed to THAT scan), producing `allowed` — an id relation —
    * and the probe PRE-filters the cell-pruned candidates with a
    * left-semi join before the top-k cut. Pre-filtering is the
    * correct semantics: post-filtering a top-k list under-fills k
    * whenever the filter drops list entries (the classic filtered-ANN
    * failure); here k survivors are guaranteed whenever the probed
    * cells hold ≥ k allowed vectors.
    *
    * Scale shape: partition pruning first (IO = nProbe cell
    * directories), THEN the semi-join — candidate-sized × filter-
    * sized, broadcast when the filter relation is small; the exact
    * cosine runs only on allowed survivors. Selective filters thin
    * the probed cells rather than redirect them, so a highly
    * selective filter wants a larger nProbe — the caller's dial,
    * same economics as every filtered-IVF implementation. */
  def ivfProbePrunedCosineFiltered(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      cents: DataFrame, queryVec: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int,
      allowed: DataFrame): DataFrame = {
    val probed = probedCellIds(cents, queryVec, nProbe)
    val idx = spark.read.parquet(indexPath)
      .filter(col("centroid_id")
        .isin(scala.collection.immutable.ArraySeq.unsafeWrapArray(probed): _*))
      .join(allowed.select(col(idCol)).distinct(), Seq(idCol),
        "left_semi")
    topK(idx, queryVec, idCol, vecCol, k)
  }

  /** Filtered ANN, COVERING-INDEX form: when the filter attributes
    * were written INTO the index rows ([[ivfWriteIndexCosine]] keeps
    * every column of the `vectors` frame — denormalizing metadata
    * into the cells is the covering-index trade), the predicate is a
    * plain `Column` over the index scan itself: it reaches parquet as
    * `PushedFilters` UNDER the cell `PartitionFilters`, so the probe
    * pays zero joins — row groups prune by attribute stats inside the
    * surviving cell directories. Same pre-filter semantics as
    * [[ivfProbePrunedCosineFiltered]] (that form is for filters over
    * a SEPARATE metadata relation); prefer this one whenever the
    * attribute rides in the index — at 100 TB the difference is a
    * corpus-wide shuffle-free scan vs a semi-join. */
  def ivfProbePrunedCosinePredicate(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      cents: DataFrame, queryVec: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int, pred: Column): DataFrame = {
    val probed = probedCellIds(cents, queryVec, nProbe)
    val idx = spark.read.parquet(indexPath)
      .filter(col("centroid_id")
        .isin(scala.collection.immutable.ArraySeq.unsafeWrapArray(probed): _*))
      .filter(pred)
    topK(idx, queryVec, idCol, vecCol, k)
  }

  /** BATCHED probe of a cosine-materialized index — the production
    * amortization shape: serving N queries one probe at a time pays N
    * index opens and up to N·nProbe cell reads; this form ranks every
    * query's cells in one broadcast pass, prunes ONE scan to the UNION
    * of all probed cells, and cuts per-query top-k with a single
    * window. A cell probed by many queries is read once and its rows
    * fan out to exactly the queries that probed it (the broadcast
    * (qid, cell) join — a candidate never reaches a query that did
    * not probe its cell, so per-query results are bit-identical to N
    * independent [[ivfProbePrunedCosine]] calls). `queries` is a
    * broadcast-sized (qid, qvec) panel; the isin literal keeps
    * `PartitionFilters` pruning, bounded by |queries|·nProbe cells. */
  def ivfProbePrunedCosineMulti(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      cents: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("cd"), col("centroid_id"))
    val probed = cents.crossJoin(broadcast(queries))
      .withColumn("cd",
        lit(1.0) - VectorFns.cosine(col("cvec"), col("qvec")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("qvec"), col("centroid_id"))
    // driver-side union of cells: |queries|·nProbe-bounded, and the
    // only way the literal reaches the scan as a partition filter
    val cells = probed.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0))
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col(idCol))
    spark.read.parquet(indexPath)
      .filter(col("centroid_id").isin(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(cells): _*))
      // toDouble below the join (see [[scoreAgainst]])
      .withColumn("_vd", VectorFns.toDouble(col(vecCol)))
      .join(broadcast(probed), Seq("centroid_id"))
      .withColumn("sim",
        round(VectorFns.cosine(col("_vd"), col("qvec")), 4))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("sim"))
  }

  /** RANGE search over a cosine-materialized index — FAISS's
    * `range_search`: every vector with similarity ≥ `minSim` to the
    * query, NOT a top-k cut (radius retrieval: "all near-duplicates
    * above 0.9", where the result size is data-dependent). Same
    * partition-pruned read as [[ivfProbePrunedCosine]] (IVF range
    * search shares top-k's approximation: matches outside the probed
    * cells are missed, recall is the nProbe dial); the threshold
    * compares on the ROUNDED similarity the caller is handed, so the
    * boundary is reproducible. Output (idCol, sim), unbounded by
    * design — callers wanting a safety valve compose `.limit` on top. */
  def ivfRangeSearchCosine(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      cents: DataFrame, queryVec: DataFrame, idCol: String,
      vecCol: String, minSim: Double, nProbe: Int): DataFrame = {
    val probed = probedCellIds(cents, queryVec, nProbe)
    val idx = spark.read.parquet(indexPath)
      .filter(col("centroid_id")
        .isin(scala.collection.immutable.ArraySeq.unsafeWrapArray(probed): _*))
    scoreAgainst(idx, queryVec, vecCol)
      .filter(col("sim") >= minSim)
      .select(col(idCol), col("sim"))
  }

  /** Materialize the QUANTIZED cosine inverted file — the composed
    * 100 TB layout: cells from [[learnedCentroids]], rows partitioned
    * by their cosine-assigned cell, and the vector column stored as
    * int8 codes + per-vector scale ([[Quantize]]) INSTEAD of raw
    * floats — the scan a probe pays is ~4× smaller on top of the
    * partition pruning. Cosine is scale-invariant, so ranking runs
    * directly on the codes; the scale column rides along only for
    * consumers that need magnitudes back. */
  def ivfWriteIndexQuantized(vectors: DataFrame, cents: DataFrame,
                             idCol: String, vecCol: String,
                             path: String): Unit =
    Quantize.quantized(vectors, vecCol, "codes")
      .join(ivfAssignCosine(vectors, cents, idCol, vecCol), Seq(idCol))
      .select(col(idCol), col("codes"), col("codes_scale"),
        col("centroid_id"))
      // co-locate each cell before the partitioned write: without this
      // every task writes a sliver into every cell directory (up to
      // tasks×cells files), and every later index read — probe,
      // membership lookup, incremental refresh — pays O(files) in
      // listing and footer opens. One compact file per cell is the
      // 100 TB layout (measured 3× on the refresh wall at ×50 local).
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** Pin-aware read of a cell-partitioned QUANTIZED index: a layout
    * carrying generation manifests (every maintained layout — any
    * [[ivfRefreshQuantizedIncremental]] wave seals one) resolves
    * the LATEST SEALED composition, so a probe planned here never
    * races a refresh wave's commit; legacy layouts (every
    * [[ivfWriteIndexQuantized]] scratch index) keep hive discovery
    * and its `PartitionFilters` pruning. Under a manifest the cells
    * read as one scan keyed by `centroid_id`, so a probe's
    * `centroid_id IN` filter is a partition filter there too. */
  private[graft] def readQuantizedIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame =
    readCellsAt(spark, indexPath, SegmentManifest.latest(spark, indexPath))

  /** [[readQuantizedIndex]] at a manifest the caller already pinned
    * (None: the legacy hive read). */
  private[operators] def readCellsAt(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      mf: Option[SegmentManifest.Manifest]): DataFrame =
    mf match {
      case Some(m) =>
        SegmentManifest.read(spark, indexPath, m, "cells",
            "centroid_id")
          .map(_.withColumn("centroid_id",
            col("centroid_id").cast("long")))
          .getOrElse(throw new IllegalStateException(
            s"quantized index at $indexPath: generation ${m.gen} " +
              "has no cells"))
      case None => spark.read.parquet(indexPath)
        .withColumn("centroid_id", col("centroid_id").cast("long"))
    }

  /** Probe a quantized index: centroid ranking and partition pruning
    * as in [[ivfProbePrunedCosine]], then top-k by cosine DIRECTLY on
    * the int8 codes (the query is quantized with the same rule, so
    * both sides of the dot are small exact integers). Reads through
    * [[readQuantizedIndex]] — pinned under MVCC layouts. */
  def ivfProbePrunedQuantized(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String, cents: DataFrame,
                              queryVec: DataFrame, idCol: String,
                              k: Int, nProbe: Int): DataFrame =
    ivfProbeCodesQuantized(readQuantizedIndex(spark, indexPath), cents,
      queryVec, idCol, k, nProbe)

  /** [[ivfProbePrunedQuantized]] over a caller-supplied codes frame —
    * the pin-once entry for readers that must resolve cells AND model
    * through one manifest ([[graft.streaming.StreamingVectorIndex
    * .probeLiveQuantized]]): the cell restriction still prunes whole
    * cell partitions, the scoring is the same int8
    * arithmetic. */
  private[graft] def ivfProbeCodesQuantized(codes: DataFrame,
                                            cents: DataFrame,
                                            queryVec: DataFrame,
                                            idCol: String, k: Int,
                                            nProbe: Int): DataFrame = {
    val probed = probedCellIds(cents, queryVec, nProbe)
    val qCodes = queryVec.select(
      Quantize.int8(col("qvec"), Quantize.scaleOf(col("qvec")))
        .as("query_codes"))
    codes
      .filter(col("centroid_id")
        .isin(scala.collection.immutable.ArraySeq.unsafeWrapArray(probed): _*))
      // both toDouble sides materialized below/inside the broadcast so
      // the qsim expression stays codegen (see [[scoreAgainst]])
      .withColumn("_vd", VectorFns.toDouble(col("codes")))
      .crossJoin(broadcast(qCodes
        .select(VectorFns.toDouble(col("query_codes")).as("_qvd"))))
      .select(col(idCol),
        round(VectorFns.cosine(col("_vd"), col("_qvd")), 4)
          .as("qsim"))
      .orderBy(col("qsim").desc, col(idCol))
      .limit(k)
  }

  /** [[ivfProbeCodesQuantized]] for a query PANEL (`queries` carries
    * `qid`, `qvec`) — relational cell restriction: per-query top
    * nProbe cells ranked exactly as [[rankedCellsCosine]] (cosine
    * distance, centroid-id tiebreak — one shared ranking definition
    * with the whole IVF family), codes joined to their query's probed
    * cells, then the same int8 scoring with a per-query window top-k.
    * The batch sibling of the single-query probe, in one pass for the
    * whole panel — the int8 recall-panel scorer
    * ([[graft.streaming.StreamingVectorIndex
    * .probeLiveQuantizedMulti]] resolves through it). */
  private[graft] def ivfProbeCodesQuantizedMulti(codes: DataFrame,
                                                 cents: DataFrame,
                                                 queries: DataFrame,
                                                 idCol: String, k: Int,
                                                 nProbe: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = Window.partitionBy(col("qid"))
      .orderBy(col("_cd"), col("centroid_id"))
    val probed = cents.crossJoin(broadcast(queries))
      .withColumn("_cd",
        lit(1.0) - VectorFns.cosine(col("cvec"), col("qvec")))
      .withColumn("_rn", row_number().over(wc))
      .filter(col("_rn") <= nProbe)
      .select(col("qid"), col("centroid_id"))
    val qCodes = queries.select(col("qid"),
      Quantize.int8(col("qvec"), Quantize.scaleOf(col("qvec")))
        .as("query_codes"))
    val wk = Window.partitionBy(col("qid"))
      .orderBy(col("qsim").desc, col(idCol))
    codes
      // toDouble on both sides materialized below the joins (see
      // [[scoreAgainst]])
      .withColumn("_vd", VectorFns.toDouble(col("codes")))
      .join(broadcast(probed), Seq("centroid_id"))
      .join(broadcast(qCodes.select(col("qid"),
        VectorFns.toDouble(col("query_codes")).as("_qvd"))), Seq("qid"))
      .select(col("qid"), col(idCol),
        round(VectorFns.cosine(col("_vd"), col("_qvd")), 4)
          .as("qsim"))
      .withColumn("_rn", row_number().over(wk))
      .filter(col("_rn") <= k)
      .select(col("qid"), col(idCol), col("qsim"))
  }

  /** The quantized-probe SEMANTICS replayed against a corpus
    * snapshot and a fixed centroid model, with no physical index:
    * quantize the snapshot rows, assign cells, keep the query's
    * nProbe ranked cells, score int8 codes — term-for-term the plan
    * [[ivfProbePrunedQuantized]] runs over
    * [[ivfWriteIndexQuantized]] output, so the two agree bit-for-bit
    * (the refresh parity specs pin maintained ≡ rebuilt; int8 codes
    * survive the parquet roundtrip exactly). This is the TIME-TRAVEL
    * read path ([[graft.streaming.StreamingVectorIndex
    * .probeAsOfQuantized]]): the physical index is maintained in
    * place, so a historical probe pays a snapshot scan instead of
    * the partition-pruned read — the Delta-time-travel cost class,
    * borne only by as-of reads; live probes keep the pruned path. */
  def ivfProbeSnapshotQuantized(snapshot: DataFrame, cents: DataFrame,
                                queryVec: DataFrame, idCol: String,
                                vecCol: String, k: Int,
                                nProbe: Int): DataFrame = {
    val probed = probedCellIds(cents, queryVec, nProbe)
    val qCodes = queryVec.select(
      Quantize.int8(col("qvec"), Quantize.scaleOf(col("qvec")))
        .as("query_codes"))
    Quantize.quantized(snapshot, vecCol, "codes")
      .join(ivfAssignCosine(snapshot, cents, idCol, vecCol), Seq(idCol))
      .filter(col("centroid_id").isin(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(probed): _*))
      // both toDouble sides materialized (see [[scoreAgainst]])
      .withColumn("_vd", VectorFns.toDouble(col("codes")))
      .crossJoin(broadcast(qCodes
        .select(VectorFns.toDouble(col("query_codes")).as("_qvd"))))
      .select(col(idCol),
        round(VectorFns.cosine(col("_vd"), col("_qvd")), 4)
          .as("qsim"))
      .orderBy(col("qsim").desc, col(idCol))
      .limit(k)
  }

  /** CELL-INCREMENTAL refresh of a quantized cosine inverted file —
    * the production maintenance loop at 100 TB: a recrawl lands, the
    * corpus upsert produces a new snapshot, [[graft.operators.Upsert.diffByKey]]
    * names the changed keys, and ONLY the cells whose membership
    * changed are re-written; untouched cell directories (the vast
    * majority of the index under a small recrawl delta) are never read,
    * never re-quantized, never re-committed. Centroids stay FIXED — an
    * unchanged key therefore keeps its assignment and its codes, so
    * its index row is reused verbatim rather than recomputed; re-train
    * + MVCC rebuild ([[ivfRebuildQuantizedMvcc]], via
    * [[ivfRefreshOrRecenter]]) remains the periodic re-optimization
    * path when drift accumulates.
    *
    * Mechanics:
    *   1. fresh rows: added/modified snapshot rows get their int8
    *      codes and cosine cell in one projection over the collected
    *      centroid table ([[withCell]]);
    *   2. dirty cells: ONE aggregate over the removed/modified keys'
    *      index rows (dirty-out) and the fresh rows (dirty-in)
    *      ([[refreshCells]]);
    *   3. survivors: partition-pruned read of the dirty cells minus
    *      the removed/modified keys — reused codes, no re-quantization;
    *   4. COMMIT by MVCC ([[commitCellRefreshMvcc]], the engine's ONE
    *      maintenance commit protocol): survivors ∪ freshly-quantized
    *      rows land write-once under `_rev/` (cell-partitioned, dirty
    *      fraction only) and one exclusive manifest seal replaces the
    *      dirty cells' entries all-or-nothing. A reader pinned before
    *      the seal keeps its generation's untouched directories —
    *      there is no commit window at all; a legacy hive layout
    *      upgrades by folding in as generation 0 on its first wave.
    *      The base is pinned ONCE: the cells are read at the manifest
    *      the seal replaces entries of. History is reclaimed by
    *      [[ivfVacuumQuantized]] on the caller's retention dial.
    *
    * `changes` is [[graft.operators.Upsert.diffByKey]] output (key,
    * status ∈ added/removed/modified/unchanged) — the diff is the
    * trigger, so refresh cost scales with the recrawl delta, not the
    * corpus. Returns the dirty cell ids (a ≤|cells| driver-side list —
    * the same boundedness as the probe's centroid ranking), so callers
    * and specs can audit what was touched. Crash recovery: a failure
    * before the seal leaves unreferenced `_rev` garbage (invisible,
    * vacuumed later); re-running the refresh with the same snapshot +
    * diff stages the same content and seals the next generation. */
  def ivfRefreshQuantizedIncremental(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      cents: DataFrame, newSnap: DataFrame, changes: DataFrame,
      idCol: String, vecCol: String): Seq[Long] = {
    // cached: `gone` feeds the dirty-cell lookup AND the survivor
    // anti-join, the fresh rows the dirty query AND the rev write —
    // left lazy, the upstream diff (a corpus-sized full-outer join
    // when `changes` is diffByKey output) and the corpus-sized newSnap
    // semi-join re-run once per consumer
    val changed = graft.engine.Caching.cached(
      changes.filter(col("status") =!= "unchanged"))
    val freshRows = graft.engine.Caching.cached(newSnap.join(
      changed.filter(col("status").isin("added", "modified"))
        .select(col(idCol)), Seq(idCol)))
    // unpersist on every exit: a long-running caller (the streaming
    // maintenance loop) refreshes every micro-batch, and leaked
    // per-wave caches accumulate in the BlockManager
    try refreshQuantizedCells(spark, indexPath, centroidRows(cents),
        freshRows, changed.filter(col("status").isin("removed",
          "modified")).select(col(idCol)), idCol, vecCol,
        deltas = false).dirty
    finally { freshRows.unpersist(); changed.unpersist() }
  }

  /** The int8 refresh body over the fresh rows themselves (`fresh`:
    * idCol, vecCol) and the keys whose indexed rows go (`gone`) — the
    * streaming wave's entry, where both come straight from the delta.
    * Fresh rows get their codes and cell in one projection; with
    * `deltas` the dirty query also returns each dirty cell's
    * (Δn, Δcd_fp_sum) by the [[ivfDriftStats]] per-row rule
    * ([[int8CdFp]], rows outside the model's cells uncounted). */
  private[graft] def refreshQuantizedCells(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      cents: CentRows, fresh: DataFrame, gone: DataFrame, idCol: String,
      vecCol: String, deltas: Boolean): Refreshed = {
    val freshAssigned = withCell(Quantize.quantized(
        fresh.select(col(idCol), col(vecCol)), vecCol, "codes"),
        cents, vecCol)
      .select(col(idCol), col("codes"), col("codes_scale"),
        col("centroid_id"))
    val cdFp =
      if (!deltas) None
      else {
        import spark.implicits._
        val centsDf = cents.toDF("centroid_id", "cvec")
        Some((rows: DataFrame) => rows
          .withColumn("_vd", VectorFns.toDouble(col("codes")))
          .join(broadcast(centsDf), Seq("centroid_id"), "left")
          .withColumn("cd_fp", int8CdFp(col("_vd"), col("cvec")))
          .withColumn("_counted", col("cvec").isNotNull))
      }
    refreshCells(spark, indexPath, SegmentManifest.latest(spark, indexPath),
      freshAssigned, gone, idCol, cdFp)
  }

  /** What one cell refresh did: the dirty cells (ascending), the
    * index generation it pinned as its base and the one it sealed (the
    * base when nothing was dirty), and — when the family's per-row
    * cd_fp rode the dirty query — each dirty cell's (Δn, Δcd_fp_sum):
    * + over the fresh rows, − over the gone keys' rows at the base. */
  private[graft] final case class Refreshed(
      dirty: Seq[Long], baseGen: Int, gen: Int,
      deltas: Option[Map[Long, (Long, Long)]])

  /** The cell-refresh core both families share, against ONE pinned
    * base (`latest`; the legacy hive tree folds in as generation 0):
    * the base's cells are read, and the seal replaces entries of the
    * same base.
    *
    * ONE aggregate over the touched rows — the gone keys' indexed rows
    * (sign −1) and the fresh rows (sign +1) — finds the dirty cells
    * and, when `cdFp` adds the family's per-row `cd_fp` and `_counted`
    * columns, their stat deltas. The group-by partial-aggregates
    * map-side, so shuffle and driver read stay ≤|cells| rows whatever
    * the delta size; the NULL cell of a fresh vector with a NULL
    * element dirties nothing (dropped on the driver, so the filter
    * never re-runs the assignment kernel below the union). Dirty
    * cells' survivors ∪ the fresh rows then commit by MVCC
    * ([[commitCellRefreshMvcc]]).
    * `fresh` carries idCol, codes[, codes_scale], centroid_id. */
  private[operators] def refreshCells(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      latest: Option[SegmentManifest.Manifest], fresh: DataFrame,
      gone: DataFrame, idCol: String,
      cdFp: Option[DataFrame => DataFrame]): Refreshed = {
    val idx = readCellsAt(spark, indexPath, latest)
    val base = pinCellBase(spark, indexPath, latest)
    // a semi join: a key repeated in `gone` (a re-delivered delete, an
    // upsert and a delete of one id) still takes its indexed row once,
    // as the anti join below removes it once
    val touched = idx.join(gone, Seq(idCol), "left_semi")
      .select(col("centroid_id"), col("codes"), lit(-1L).as("_sign"))
      .unionByName(fresh.select(col("centroid_id"), col("codes"),
        lit(1L).as("_sign")))
    val scored = cdFp.map(_(touched)).getOrElse(touched
      .withColumn("cd_fp", lit(null).cast("long"))
      .withColumn("_counted", lit(false)))
    val perCell = graft.engine.Steps.scoped("refresh.dirty") {
      scored.groupBy(col("centroid_id"))
        .agg(sum(when(col("_counted"), col("_sign")).otherwise(lit(0L)))
            .as("_dn"),
          coalesce(sum(when(col("_counted"),
            col("_sign") * col("cd_fp"))), lit(0L)).as("_ds"))
        .collect()
        .filterNot(_.isNullAt(0))
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    val dirty = perCell.keys.toSeq.sorted
    val deltas = cdFp.map(_ => perCell)
    if (dirty.isEmpty) Refreshed(dirty, base.gen, base.gen, deltas)
    else {
      val survivors = idx
        .filter(col("centroid_id").isin(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(
            dirty.toArray): _*))
        .join(gone, Seq(idCol), "left_anti")
        .select(fresh.columns.toSeq.map(col): _*)
      val unioned = survivors.unionByName(fresh)
        .repartition(col("centroid_id")) // cell compaction, as the writers
      val gen = graft.engine.Steps.scoped("refresh.commit") {
        commitCellRefreshMvcc(spark, indexPath, unioned, dirty, base)
      }
      Refreshed(dirty, base.gen, gen, deltas)
    }
  }

  /** The MVCC commit of a cell refresh (the streaming loop's mode):
    * the dirty cells' new content lands WRITE-ONCE under a fresh
    * `_rev/` dir, and ONE exclusive manifest seal replaces their
    * entries all-or-nothing — a probe pinned before the seal keeps
    * reading the previous generation's untouched directories, so
    * LIVE probes never race a refresh wave. The legacy dynamic-
    * partition-overwrite path's two hazards disappear structurally:
    * there is no overwrite window, and a fully-emptied cell simply
    * loses its entry (no loud directory delete needed — the stale
    * dir is unreferenced and reclaimed by [[ivfVacuumQuantized]]).
    * A RECENTER rides the same recipe via [[ivfRebuildQuantizedMvcc]]
    * (a full-replacement seal instead of a dirty-cell replace), so
    * EVERY maintenance op of an MVCC layout — refresh wave and
    * rebuild alike — is snapshot-isolated from live readers. `base`
    * is the manifest the op read its cells at; returns the sealed
    * generation. */
  private[operators] def commitCellRefreshMvcc(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      unioned: DataFrame, dirty: Seq[Long],
      base: SegmentManifest.Manifest): Int = {
    val (gen, entries) = stageCellRev(spark, indexPath, unioned, base)
    SegmentManifest.seal(spark, indexPath, base
      .replace("cells", dirty.map(_.toInt).toSet, entries)
      .copy(gen = gen))
    gen
  }

  /** The manifest a maintenance op builds AGAINST — the latest sealed
    * generation, or the legacy hive tree folded in as generation 0
    * (the upgrade path). Resolved ONCE per op, from the op's one
    * `latest` read. */
  private[operators] def pinCellBase(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      latest: Option[SegmentManifest.Manifest]): SegmentManifest.Manifest =
    latest.getOrElse(SegmentManifest.bootstrap(spark, indexPath,
      Seq(SegmentManifest.CellLayout)))

  /** Stage one write-once cell revision against the generation AFTER
    * `base`: write `rows` cell-partitioned under a fresh `_rev/` dir
    * and return (next gen, the staged cells' entries) for the
    * caller's seal — the shared first half of the refresh commit and
    * the MVCC rebuilds (int8 and IVF-PQ). */
  private[operators] def stageCellRev(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      rows: DataFrame, base: SegmentManifest.Manifest)
      : (Int, Seq[SegmentManifest.Entry]) = {
    val gen = base.gen + 1
    val rev = SegmentManifest.revDir(gen)
    rows.write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$indexPath/$rev")
    // staged-cell discovery is a DRIVER-SIDE directory listing, not a
    // re-scan of the just-written rev: the partitioned write creates
    // exactly one `centroid_id=` dir per cell with output rows (a
    // shrink-only delta stages zero dirs — handled as zero entries),
    // so the listing IS the staged cell set, at zero job cost
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagedCells = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$indexPath/$rev"))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("centroid_id="))
      .map(_.getPath.getName.stripPrefix("centroid_id=").toLong)
      .sorted
    stagedCells.foreach(c => require(c >= 0 && c <= Int.MaxValue,
      s"stageCellRev: cell id $c outside the manifest range"))
    val entries = stagedCells.map(c =>
      SegmentManifest.Entry(c.toInt, s"$rev/centroid_id=$c")).toSeq
    // declare the staged members' schema (the written rows minus the
    // partition column — exactly what a footer read of a leaf cell
    // dir infers), so the next wave's read skips inference even when
    // every cell was dirty
    SegmentManifest.declareSchema(spark, indexPath, entries.map(_.loc),
      org.apache.spark.sql.types.StructType(
        rows.schema.filterNot(_.name == "centroid_id")))
    (gen, entries)
  }

  /** The MVCC REBUILD — the recenter's commit protocol, closing the
    * one maintenance window refresh-wave MVCC left open (the old
    * rebuild overwrote the index directory wholesale, clearing the
    * manifests a pinned live probe was reading through): the full new
    * cell layout lands write-once under `_rev/`, and ONE exclusive
    * seal replaces the ENTIRE cells composition — plus the
    * [[SegmentManifest.ModelMarker]] recording which centroid-model
    * generation governs these cells, so a probe pinned on this
    * manifest pairs cells and centroids atomically. Probes pinned
    * before the seal keep the previous generation's untouched
    * directories (and its own model marker); [[ivfVacuumQuantized]]
    * reclaims history by the retention dial. */
  def ivfRebuildQuantizedMvcc(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      vectors: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String, modelGen: Int): Unit = {
    val rows = Quantize.quantized(vectors, vecCol, "codes")
      .join(ivfAssignCosine(vectors, cents, idCol, vecCol), Seq(idCol))
      .select(col(idCol), col("codes"), col("codes_scale"),
        col("centroid_id"))
      .repartition(col("centroid_id"))
    val base = pinCellBase(spark, indexPath,
      SegmentManifest.latest(spark, indexPath))
    val (gen, entries) = stageCellRev(spark, indexPath, rows, base)
    SegmentManifest.seal(spark, indexPath, SegmentManifest.Manifest(gen,
      base.layouts
        .updated("cells", entries)
        .updated(SegmentManifest.ModelMarker, Seq(SegmentManifest
          .Entry(modelGen, s"model=g$modelGen")))))
  }

  /** Vacuum an MVCC quantized index's write-once history —
    * [[SegmentManifest.vacuum]] with the cell layout; see
    * [[TextAnalysis.bm25Vacuum]] for the retention contract. */
  def ivfVacuumQuantized(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String,
                         keepGenerations: Int = 1,
                         specs: Seq[SegmentManifest.LayoutSpec] =
                           Seq(SegmentManifest.CellLayout))
      : (Long, Long) =
    SegmentManifest.vacuum(spark, indexPath, keepGenerations, specs)

  /** Deterministic, order-independent FINGERPRINT of a centroid (or
    * codebook) table — the model identity sealed into every drift-
    * stats artifact: per-cell (n, cd_fp_sum) rows are pure functions
    * of the codes UNDER A MODEL, so a stats frame carried across a
    * model change is silently wrong; the fingerprint makes the reuse
    * contract machine-checked instead of documented. One driver-side
    * fold over a broadcast-sized table (k or m·k rows); exact-bits
    * hashing (doubleToLongBits), XOR-combined so row order and
    * partitioning never matter. */
  def modelFingerprint(model: DataFrame, keyCols: Seq[String],
                       vecCol: String): Long =
    model.select((keyCols.map(col) :+ col(vecCol)): _*).collect()
      .map(r => rowFingerprint(keyCols.indices.map(r.getLong),
        r.getAs[scala.collection.Seq[Double]](keyCols.length)))
      .foldLeft(0L)(_ ^ _)

  /** One model row's term of [[modelFingerprint]]. */
  private[graft] def rowFingerprint(keys: Seq[Long],
                                    v: scala.collection.Seq[Double]): Long = {
    var h = 0x9E3779B97F4A7C15L
    for (k <- keys)
      h = java.lang.Long.rotateLeft(h ^ k * 0xC2B2AE3D27D4EB4FL, 31)
    for (x <- v)
      h = java.lang.Long.rotateLeft(
        h ^ java.lang.Double.doubleToLongBits(x) * 0xC2B2AE3D27D4EB4FL, 27)
    h * 0x165667B19E3779F9L
  }

  /** [[modelFingerprint]] of an IVF centroid table. */
  def centroidFingerprint(cents: DataFrame): Long =
    modelFingerprint(cents, Seq("centroid_id"), "cvec")

  /** [[centroidFingerprint]] of already-collected centroid rows. */
  private[graft] def centroidFingerprintOf(rows: CentRows): Long =
    rows.map { case (c, v) => rowFingerprint(Seq(c), v) }
      .foldLeft(0L)(_ ^ _)

  /** The rows of a WRITTEN centroid store directory, memoized under
    * the [[ArtifactMemo]] key rule, so a rewrite of the store misses.
    * The rows are a pure function of the gen-keyed file, and every
    * streaming wave needs them three times (the fresh rows' cell
    * projection, the drift kernel's cell vectors, the model
    * fingerprint) — each a collect job when read through Spark. k rows
    * per entry. */
  private val centRowsMemo = new ArtifactMemo[CentRows](64)

  private[graft] def centroidRowsAt(
      spark: org.apache.spark.sql.SparkSession, dir: String): CentRows =
    centRowsMemo.get(spark, dir)(centroidRows(
      spark.read.schema("centroid_id BIGINT, cvec ARRAY<DOUBLE>")
        .parquet(dir)))

  /** [[centroidFingerprint]] of a written centroid store, from the
    * [[centroidRowsAt]] memo. */
  private[graft] def centroidFingerprintAt(
      spark: org.apache.spark.sql.SparkSession, dir: String): Long =
    centroidFingerprintOf(centroidRowsAt(spark, dir))

  /** Per-cell DRIFT statistics of a quantized cosine inverted file —
    * the monitoring read that closes the loop
    * [[ivfRefreshQuantizedIncremental]] opens (r10 verdict item 4):
    * the refresh holds centroids FIXED, so after many recrawl waves
    * the partition quality silently degrades — cells bloat
    * (occupancy skew) and members sit farther from their centroid
    * (mean cosine displacement). Both symptoms are computable from
    * the index file alone: one column-pruned scan, codes against the
    * BROADCAST centroid table, one |cells|-row aggregate.
    *
    * Output per cell: (centroid_id, n, mean_cd, cd_fp_sum) where
    * mean_cd is the mean cosine distance of the cell's members to
    * their centroid, each row's distance quantized to 1e-7 fixed
    * point before the integer sum (the project's spelled-rounding
    * convention — the statistic is addend-order-independent and an
    * external engine reproduces it from the same parquet). */
  def ivfDriftStats(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String, cents: DataFrame,
                    cells: Option[Seq[Long]] = None,
                    modelFpO: Option[Long] = None): DataFrame = {
    // `cells` restricts the scan to the named cells (partition /
    // union-branch pruned) — the incremental-gauge read: a cell's
    // (n, cd_fp_sum) is a pure function of its codes under FIXED
    // centroids, so a maintenance wave recomputes only its dirty
    // cells and carries the rest ([[graft.streaming
    // .StreamingVectorIndex]]'s driftstats store)
    val all = readQuantizedIndex(spark, indexPath)
    val idx = cells match {
      case Some(cs) => all.filter(col("centroid_id").isin(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(
          cs.toArray): _*))
      case None => all
    }
    idx
      // toDouble below the join so the fixed-point cd expression stays
      // codegen (see [[scoreAgainst]]); the join is 1:1 per row, so
      // this is purely the codegen-boundary win
      .withColumn("_vd", VectorFns.toDouble(col("codes")))
      .join(broadcast(cents), Seq("centroid_id"))
      .withColumn("cd_fp", int8CdFp(col("_vd"), col("cvec")))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n"), sum(col("cd_fp")).as("cd_fp_sum"))
      .select(col("centroid_id"), col("n"),
        meanCdCol(col("n"), col("cd_fp_sum")).as("mean_cd"),
        col("cd_fp_sum"),
        // the model identity these rows are valid under — carried
        // with the artifact so a delta-bounded reuse can verify the
        // centroids never moved ([[modelFingerprint]]). Callers whose
        // cents come from a written gen-keyed store pass the memoized
        // fingerprint (`modelFpO`, [[centroidFingerprintAt]]) — the
        // inline collect was one job per streaming wave
        lit(modelFpO.getOrElse(centroidFingerprint(cents)))
          .as("model_fp"))
  }

  /** One stored row's cosine displacement from its cell centroid in
    * 1e-7 fixed point — the per-row term of [[ivfDriftStats]] and of
    * the refresh's stat deltas. */
  private def int8CdFp(vd: Column, cvec: Column): Column =
    floor((lit(1.0) - VectorFns.cosine(vd, cvec)) * lit(1e7) + lit(0.5))
      .cast("long")

  /** A drift-stats row's `mean_cd` from its exact (n, cd_fp_sum) — the
    * one rule of every stats query (both families, full and pruned). */
  private[graft] def meanCdCol(n: Column, cdFpSum: Column): Column =
    round(cdFpSum / n / lit(1e7), 4)

  /** [[meanCdCol]] on the driver (the streaming wave's carried + Δ
    * rows). It must equal Spark's `round` on a double bit for bit: the
    * same two double divisions, then HALF_UP at scale 4 on the
    * double's shortest decimal form, NaN and infinities unchanged. */
  private[graft] def meanCd(n: Long, cdFpSum: Long): Double = {
    val d = cdFpSum.toDouble / n.toDouble / 1e7
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** THE drift-trigger comparison — ONE definition shared by the two
    * batch loops ([[ivfRefreshOrRecenter]],
    * [[ProductQuantize.ivfPqRefreshOrRecenter]]) and the streaming
    * loop ([[graft.streaming.StreamingVectorIndex]]), so the breach
    * rule can never drift between them: recenter when occupancy skew
    * exceeds `skewFactorX100`% of its fit-time baseline, or mean
    * displacement exceeds `cdFactorX100`% of its — both RELATIVE
    * (see [[ivfRefreshOrRecenter]]'s rationale). */
  private[graft] def driftBreached(gauges: (Long, Long),
                                   baseline: (Long, Long),
                                   cdFactorX100: Long,
                                   skewFactorX100: Long): Boolean =
    gauges._2 * 100L > baseline._2 * cdFactorX100 ||
      gauges._1 * 100L > baseline._1 * skewFactorX100

  /** Scalar drift gauges off an [[ivfDriftStats]] frame (a ≤|cells|-row
    * driver-side fold): (occupancy skew ×100 = largest cell ÷ mean
    * cell, corpus-weighted mean displacement in 1e-7 fixed point). */
  def ivfDriftGauges(stats: DataFrame): (Long, Long) =
    ivfDriftGaugesOf(stats.select(col("n"), col("cd_fp_sum")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)

  /** [[ivfDriftGauges]] over already-collected (n, cd_fp_sum) pairs —
    * the zero-job fold for callers that hold the stats rows driver-
    * side (the streaming wave's collect-once stats phase). */
  def ivfDriftGaugesOf(rows: Seq[(Long, Long)]): (Long, Long) = {
    require(rows.nonEmpty, "ivfDriftGauges: empty index")
    val total = rows.map(_._1).sum
    val maxN = rows.map(_._1).max
    val skewX100 = maxN * rows.length * 100L / total
    val meanCdFp = rows.map(_._2).sum / total
    (skewX100, meanCdFp)
  }

  /** THE production maintenance loop, drift-guarded (r10 verdict item
    * 4): refresh the quantized IVF file cell-incrementally from a
    * recrawl diff, gauge drift, and — only when the partition quality
    * has genuinely degraded — recenter (seeded re-fit on the CURRENT
    * snapshot) and rebuild. Returns (centroids to use from here on,
    * baseline gauges to carry to the next wave, recentered?).
    *
    * Both triggers are RELATIVE to the gauges captured when the
    * centroids were last fit (`baseline` = the (skew×100, meanCd fp)
    * pair [[ivfDriftGauges]] returned then): recenter when occupancy
    * skew exceeds `skewFactorX100`% of its baseline — cells bloating
    * toward the scan-cost failure mode, measured the dominant symptom
    * when drifting vectors CONVERGE (they pile into few cells while
    * corpus-weighted displacement barely moves, NOTES_r11/r12.md) — or
    * when mean displacement exceeds `cdFactorX100`% of its baseline
    * (vectors WANDERING without converging). Absolute thresholds
    * would misfire on inherently clustered corpora, where a freshly
    * fit index already carries high skew; relative ones only see
    * change, and the baselines reset at each refit.
    *
    * The rebuild is the periodic re-optimization
    * [[ivfRefreshQuantizedIncremental]]'s scaladoc promises —
    * committed by [[ivfRebuildQuantizedMvcc]] (the ONE maintenance
    * commit protocol: write-once rev + full-replacement seal), so a
    * reader pinned before the recenter keeps its generation exactly
    * as across a refresh wave. Every wave ends with a vacuum at
    * `historyRetention` (floored at 2 kept generations, the streaming
    * loop's dial: a probe pinned one wave back always survives).
    *
    * The carried `prevStats` frame is MODEL-SEALED: its rows are pure
    * functions of the codes under the centroids that produced them
    * ([[ivfDriftStats]] stamps a `model_fp` column), so this loop
    * REQUIRES the carried fingerprint to match `cents` before reuse —
    * a caller that recentered out-of-band and kept carrying stats
    * fails loudly instead of making silently wrong drift decisions,
    * and a frame without the seal is rejected the same way. */
  def ivfRefreshOrRecenter(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      cents: DataFrame, newSnap: DataFrame, changes: DataFrame,
      idCol: String, vecCol: String,
      baseline: (Long, Long), k: Int, seed: Long = 42L,
      cdFactorX100: Long = 115L, skewFactorX100: Long = 175L,
      prevStats: Option[DataFrame] = None,
      historyRetention: Int = 0)
      : (DataFrame, (Long, Long), Boolean, DataFrame) = {
    val dirty = ivfRefreshQuantizedIncremental(spark, indexPath, cents,
      newSnap, changes, idCol, vecCol)
    // DELTA-BOUNDED gauges when the caller carries the previous
    // wave's per-cell stats: a cell's (n, cd_fp_sum) is a pure
    // function of its codes under FIXED centroids, so only the dirty
    // cells rescan (pruned read) and clean rows carry over — the
    // streaming loop's driftstats discipline, threaded functionally.
    // Eagerly pinned (tiny, ≤|cells| rows): a lazily carried frame
    // would re-read cells the NEXT wave has already rewritten.
    val stats = (prevStats.map(requireSameModel(_,
        centroidFingerprint(cents), "ivfRefreshOrRecenter")) match {
      case Some(prev) if dirty.nonEmpty =>
        prev.filter(!col("centroid_id").isin(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(
              dirty.toArray): _*))
          .unionByName(ivfDriftStats(spark, indexPath, cents,
            Some(dirty)))
      case Some(prev) => prev
      case None => ivfDriftStats(spark, indexPath, cents)
    }).localCheckpoint()
    val drifted = driftBreached(ivfDriftGauges(stats),
      baseline, cdFactorX100, skewFactorX100)
    val out =
      if (!drifted) (cents, baseline, false, stats)
      else {
        // no checkpoint: [[learnedCentroids]] runs the ML fit EAGERLY
        // and returns a driver-local relation (collected cluster
        // centers), so re-planning never re-fits — the old pin was one
        // wasted job per recenter
        val cents2 = learnedCentroids(newSnap, vecCol, k, seed)
        ivfRebuildQuantizedMvcc(spark, indexPath, newSnap, cents2,
          idCol, vecCol, modelGen = 0)
        // the rebuild re-encoded everything: stats reset with the full
        // scan the recenter pays anyway
        val stats2 = ivfDriftStats(spark, indexPath, cents2)
          .localCheckpoint()
        (cents2, ivfDriftGauges(stats2), true, stats2)
      }
    // an all-unchanged diff on a legacy layout seals nothing — only
    // vacuum once a manifest exists
    if (SegmentManifest.generations(spark, indexPath).nonEmpty)
      ivfVacuumQuantized(spark, indexPath,
        math.max(historyRetention + 1, 2))
    out
  }

  /** The carried-stats model check ([[ivfRefreshOrRecenter]]'s
    * contract, shared with the PQ loop): the frame's sealed
    * `model_fp` must equal the current model's fingerprint — loud on
    * mismatch (the caller is carrying stats across a model change);
    * None (legacy frame without the column) resets to a full scan. */
  private[operators] def requireSameModel(prev: DataFrame, fp: Long,
                                          who: String): DataFrame = {
    require(prev.columns.contains("model_fp"),
      s"$who: carried drift stats have no model_fp seal — recompute " +
        "them with the current ivfDriftStats/ivfPqDriftStats")
    // distinct DRIVER-SIDE: the frame is ≤|cells| rows by contract,
    // and the relational distinct cost an exchange + AQE re-plan
    // stages per drift-loop wave for the same one-row answer
    val fps = prev.select(col("model_fp"))
      .collect().map(_.getLong(0)).distinct
    require(fps.length == 1 && fps.head == fp,
      s"$who: carried drift stats were computed under a different " +
        s"model (sealed fp ${fps.mkString(",")}, current $fp) — " +
        "their per-cell rows are invalid under the current " +
        "centroids/codebooks; recompute instead of carrying")
    prev
  }

  /** MMR — Maximal Marginal Relevance re-ranking (Carbonell &
    * Goldstein 1998), the diversity post-processor every retrieval
    * stack bolts onto its top-N: greedily select k items maximizing
    * λ·relevance − (1−λ)·max cosine similarity to anything already
    * selected, so near-duplicate hits stop crowding the result list
    * (the field-collapse idea generalized from an exact grouping key
    * to vector similarity). `candidates` is an upstream top-N —
    * k-bounded BY CONTRACT, the same intentional driver-size class as
    * [[ivfPqProbeRefined]]'s candidate list — so the greedy loop runs
    * driver-side over ≤N items; nothing corpus-sized collects.
    *
    * Deterministic and engine-portable by construction: relevance and
    * pairwise cosine quantize to 1e-7 fixed point, the argmax
    * compares integers (λ expressed as `lambdaX100`, the engine's
    * integer-dial convention) with ties to the smallest id, and
    * zero-norm vectors contribute similarity 0 (no direction — they
    * never crowd anything). λ=100 reduces exactly to relevance order.
    * `scoreCol` must be on a scale COMPARABLE to cosine (the classic
    * formulation's assumption): a raw BM25 score dwarfs the [−1,1]
    * similarity term and turns λ into a no-op — min-max or rank
    * normalize upstream rankers first ([[rankByScore]] + 1/rank, or
    * the RRF fixed-point, both already sim-scaled).
    * Output: (rank 1..k, idCol, scoreCol, mmr) with mmr the rounded
    * fixed-point objective at selection time. */
  def mmrRerank(candidates: DataFrame, idCol: String, scoreCol: String,
                vecCol: String, k: Int,
                lambdaX100: Long = 70L): DataFrame = {
    require(k > 0, s"mmrRerank: k must be positive, got $k")
    require(lambdaX100 >= 0 && lambdaX100 <= 100,
      s"mmrRerank: lambdaX100 must be 0..100, got $lambdaX100")
    val spark = candidates.sparkSession
    import spark.implicits._
    val rows = candidates.select(col(idCol).cast("long"),
        col(scoreCol).cast("double"),
        VectorFns.toDouble(col(vecCol)))
      .collect()
      .map { r =>
        val v = r.getAs[scala.collection.Seq[Double]](2).toArray
        val norm = math.sqrt(v.map(x => x * x).sum)
        (r.getLong(0), r.getDouble(1),
          if (norm > 0) v.map(_ / norm) else v)
      }
    require(rows.nonEmpty, "mmrRerank: empty candidate list")
    def fp(x: Double): Long = math.floor(x * 1e7 + 0.5).toLong
    val relFp = rows.map(r => fp(r._2))
    // max cosine to the selected set, maintained incrementally: one
    // dot per (remaining × newly-selected) pair — O(N·k·dim) total
    val maxSimFp = Array.fill(rows.length)(Long.MinValue)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val remaining = scala.collection.mutable.LinkedHashSet(
      rows.indices: _*)
    while (selected.length < math.min(k, rows.length)) {
      var best = -1
      var bestObj = Long.MinValue
      for (i <- remaining) {
        val simTerm = if (selected.isEmpty) 0L else maxSimFp(i)
        val obj = lambdaX100 * relFp(i) - (100L - lambdaX100) * simTerm
        if (best < 0 || obj > bestObj ||
            (obj == bestObj && rows(i)._1 < rows(best)._1)) {
          best = i; bestObj = obj
        }
      }
      selected += ((best, bestObj))
      remaining -= best
      val bv = rows(best)._3
      for (i <- remaining) {
        var d = 0.0
        var j = 0
        while (j < bv.length) { d += rows(i)._3(j) * bv(j); j += 1 }
        maxSimFp(i) = math.max(maxSimFp(i), fp(d))
      }
    }
    selected.zipWithIndex.map { case ((i, obj), rank) =>
      (rank + 1L, rows(i)._1, rows(i)._2,
        math.floor(obj.toDouble / 100.0 / 1000.0 + 0.5) / 1e4)
    }.toSeq.toDF("rank", idCol, scoreCol, "mmr")
  }

  // ========== late interaction (ColBERT-style MaxSim) ==========

  /** Deterministic md5-derived pseudo-embedding for a TOKEN column —
    * the fixture vectorizer under the late-interaction family's hash
    * gate and specs: dim j decodes two hex chars of md5(token) via
    * `ascii()` into an exact dyadic rational ((hi·256 + lo)/2¹⁴ − 1) —
    * pure integer arithmetic plus one exact power-of-two division,
    * spelled identically in Spark and DuckDB, so the oracle reproduces
    * every vector (and every dot product — sums of exact dyadics)
    * bit-for-bit. Real deployments plug a model-produced token-vector
    * column into [[maxSimTopK]] directly; this derivation exists so
    * the OPERATOR semantics can sit under the gate without a model
    * dependency. */
  def tokenPseudoVec(tok: Column, dims: Int = 8): Column = {
    require(dims >= 1 && dims <= 16,
      s"md5 has 32 hex chars — dims must be 1..16, got $dims")
    val h = md5(tok)
    array((0 until dims).map { j =>
      (ascii(substring(h, j * 2 + 1, 1)) * 256 +
        ascii(substring(h, j * 2 + 2, 1))).cast("double") / 16384.0 - 1.0
    }: _*)
  }

  /** LATE-INTERACTION retrieval (Khattab & Zaharia 2020, ColBERT —
    * the multi-vector rung of the similarity family): each document
    * carries ONE VECTOR PER TOKEN, and relevance is MaxSim —
    * Σ over query tokens of the MAX dot product over the document's
    * token vectors — which preserves token-level matching that a
    * single pooled vector blurs away. This is the EXACT brute form:
    * every (doc token × query token) inner product, fixed-point
    * quantized (floor(ip·1e7 + 0.5) — the suite's engine-portable
    * rounding, so the max/sum algebra is integer-exact), max per
    * (doc, query token), sum per doc, ties to the smallest id.
    *
    * `docVecs` is (idCol, tokvec: array<double>) — multiple rows per
    * document; `queryVecs` is a broadcast-sized (qtok_id, qvec) panel.
    * Scale shape: one corpus-token scan against the broadcast panel,
    * then two map-side-combined aggregates — |doc tokens|·|q| dots,
    * the honest exact baseline; [[maxSimTopKPruned]] is the
    * candidate-generation rung that bounds the scan. */
  def maxSimTopK(docVecs: DataFrame, queryVecs: DataFrame,
                 idCol: String, k: Int): DataFrame =
    docVecs.crossJoin(broadcast(queryVecs))
      .select(col(idCol), col("qtok_id"),
        floor(VectorFns.dot(col("tokvec"), col("qvec")) * 1e7 + 0.5)
          .cast("long").as("_ip_fp"))
      .groupBy(col(idCol), col("qtok_id"))
      .agg(max(col("_ip_fp")).as("_max_fp"))
      .groupBy(col(idCol))
      .agg(round(sum(col("_max_fp")) / 1e7, 4).as("maxsim"))
      .orderBy(col("maxsim").desc, col(idCol))
      .limit(k)

  /** [[maxSimTopK]] with IVF CANDIDATE GENERATION — the two-stage
    * shape ColBERT actually serves (ANN per query token to collect
    * candidate documents, exact MaxSim on the candidates only):
    * spherical k-means cells over the token vectors (the
    * [[learnedCentroids]] fit — token direction is what MaxSim's dot
    * rewards), each TOKEN ROW assigned to its nearest cell by cosine
    * via the collected-codebook argmin (the [[ProductQuantize
    * .pqEncodeRaw]] pattern — no per-row id needed, no corpus
    * shuffle), every query token probes its nProbe nearest cells, and
    * a document is a CANDIDATE iff any of its tokens lands in any
    * probed cell. Candidates keep their FULL token set for the exact
    * stage, so returned scores are bit-identical to [[maxSimTopK]]'s
    * for the same documents — the recall trade lives entirely in
    * candidate generation (a relevant doc whose every token sits
    * outside the probed cells is missed; nProbe is the dial, the spec
    * pins planted-match recall and the score-parity inequality).
    *
    * Scale: the fit is the usual bounded treeAggregate; assignment is
    * a stateless map (kCells·dims literal); the exact stage scans
    * only candidate documents' tokens. */
  def maxSimTopKPruned(docVecs: DataFrame, queryVecs: DataFrame,
                       idCol: String, k: Int, kCells: Int, nProbe: Int,
                       seed: Long = 42L): DataFrame = {
    val spark = docVecs.sparkSession
    // consumed three times (fit, candidate filter, exact rescoring) —
    // without materialization each consumer re-derives the token
    // vectors from source
    val dv = graft.engine.Caching.cached(docVecs)
    val cents = learnedCentroids(dv, "tokvec", kCells, seed)
    val centRows = cents.collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Double]](1).toVector: Seq[Double]))
      .sortBy(_._1).toSeq
    val centsLit = typedlit(centRows)
    // per-ROW cosine argmin over the collected cells (ties to the
    // smallest cell id — the family's one tiebreak), as ONE native
    // kernel ([[graft.functions.CosineArgminCellExpr]]). History: the
    // HOF form (array_min ∘ transform over the typedlit) evaluated the
    // whole lambda interpreted — 28 s of q199's 46 s at sf0.1; the r19
    // `least((d, cid) struct…)` unroll cured that but embedded
    // kCells×dims literals in the expression tree, a codegen-size
    // fallback trap above small kCells (r19 verdict item 7). The
    // kernel loops over reference arrays — no size limit at any
    // kCells — and reads the same arithmetic bit-for-bit (fold order,
    // struct-min double semantics, nulls-first, tiebreak; parity spec
    // at kCells=256 against the unroll).
    def cellOf(vec: Column): Column =
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.CosineArgminCellExpr(
          org.apache.spark.sql.graftbridge.Bridge.expression(vec),
          centRows))
    // per-query-token probed cells, driver-side (|q|·kCells is tiny);
    // the UNION of all query tokens' cells restricts the candidate
    // scan — a doc qualifies through any token in any probed cell
    val probed: Array[Long] = queryVecs
      .select(explode(slice(transform(
          // rank cells per qtok by cosine distance, keep nProbe
          array_sort(transform(centsLit, c =>
            struct((lit(1.0) - VectorFns.cosine(col("qvec"), c("_2")))
              .as("d"), c("_1").as("cid")))),
          s => s("cid")), 1, nProbe)).as("cid"))
      .distinct().collect().map(_.getLong(0))
    val cands = dv
      .filter(cellOf(col("tokvec")).isin(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(probed): _*))
      .select(col(idCol)).distinct()
    maxSimTopK(dv.join(cands, Seq(idCol), "left_semi"),
      queryVecs, idCol, k)
  }
}
