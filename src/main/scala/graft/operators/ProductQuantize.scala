package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Caching.cached
import graft.functions.VectorFns

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search" — the FAISS IVF-PQ building block): split
  * each d-dim embedding into m contiguous subvectors, learn a small
  * k-entry codebook PER SUBSPACE (seeded k-means), and store each
  * vector as m small codes. At d=64, m=8, k=16 that is 8 bytes of
  * codes versus 256 bytes of float32 — a 32× scan-IO reduction, the
  * difference between "the 100 TB embedding store fits the page cache
  * budget" and "it doesn't". The int8 path ([[Quantize]]) compresses
  * 4×; PQ is the next rung, trading exactness for asymmetric-distance
  * scoring.
  *
  * Scoring is ADC (asymmetric distance computation): the query stays
  * un-quantized; per subspace a k-entry lookup table of
  * query-subvector · codebook-entry inner products is built ONCE
  * (m·k ≈ 128 rows — broadcast-sized at any corpus scale), and each
  * stored vector scores as the sum of m table lookups — no float
  * vector is ever read back. The lookup sums run on 1e-7 fixed-point
  * integers, so the DuckDB oracle reproduces the ranking bit-for-bit
  * (float summation ORDER never enters the comparison).
  *
  * Corpus vectors are unit-normalized before training and encoding,
  * so the ADC inner product approximates cosine; the query is used
  * raw — a positive per-query scale factor that never reorders ranks.
  *
  * Scale shape: training is a batched Lloyd's fit over a BOUNDED
  * seeded sample of distinct subvectors (see [[pqTrainRaw]] — the
  * corpus is touched only by the initial dedup + count aggregates);
  * encoding is an m-way explode + broadcast codebook join + min_by
  * argmin — one shuffle back to (id → codes); probing reads ONLY the
  * codes column and broadcasts the per-query lookup table.
  */
object ProductQuantize {

  /** Explicit-schema read of a written codebooks file — the books
    * store has one fixed shape ([[pqTrain]]'s output), and schema
    * inference on it was a hidden footer-read job on every consumer
    * (one per maintenance wave in the IVF-PQ loop, WaveJobProbe). */
  private[graft] def readBooks(spark: SparkSession,
                               loc: String): DataFrame =
    spark.read.schema("subspace BIGINT, code BIGINT, cvec ARRAY<DOUBLE>")
      .parquet(loc)

  /** Fits the m per-subspace codebooks on corpus vectors
    * (unit-normalized first, so ADC inner products approximate
    * cosine). Returns `subspace | code | cvec` (m·k rows —
    * broadcast-sized). Deterministic end-to-end for a given seed.
    * `sampleCap` bounds the per-subspace training sample (0 = the
    * FAISS-style default, max(10⁵, 39·k) — see [[pqTrainRaw]]). */
  def pqTrain(vectors: DataFrame, vecCol: String, m: Int, k: Int,
              seed: Long = 42L, sampleCap: Long = 0L): DataFrame =
    pqTrainRaw(unitVectors(vectors, vecCol, Seq.empty), "_uv", m, k,
      seed, sampleCap = sampleCap)

  /** `idCol` + unit-normalized `_uv` (zero-norm rows dropped). */
  private def unitVectors(vectors: DataFrame, vecCol: String,
                          keep: Seq[String]): DataFrame =
    // toDouble materialized once per row (the r19 projection
    // discipline — inline it was evaluated twice in the norm and once
    // more in the normalize transform, all CodegenFallback)
    vectors
      .select(keep.map(col) :+
        VectorFns.toDouble(col(vecCol)).as("_vd"): _*)
      .withColumn("_n", VectorFns.norm(col("_vd")))
      .filter(col("_n") > 0)
      .select(keep.map(col) :+
        VectorFns.unitNormalizeWith(col("_vd"), col("_n")).as("_uv"): _*)

  /** [[pqTrain]] on an ALREADY-prepared double-array column — no
    * normalization (residual vectors must not be re-normalized).
    *
    * The fit is a BATCHED Lloyd's k-means over all m subspaces at
    * once, not m separate Spark-ML fits: per-subspace ML fits cost
    * ~30 scheduler jobs EACH (init steps + one job per iteration), so
    * 8 codebooks burned ~240 tiny jobs — the round-11 bench finding
    * that made the PQ gate rows the heaviest in the record while
    * doing almost no compute. Here every iteration is ONE distributed
    * pass for all subspaces together (assign by broadcast-codebook
    * argmin, update by per-(subspace, code, dim) aggregate), and the
    * codebook — m·k·(d/m) values, KBs — collects to the driver
    * between iterations. ~1 job per iteration, total, in place of
    * ~30·m.
    *
    * Deterministic BY CONSTRUCTION, stronger than the ML path:
    * seeded md5-ranked init, argmin ties to the smallest code, and
    * centroid updates summed as 1e-9 FIXED-POINT INTEGERS — integer
    * addition commutes, so the fit is bit-identical regardless of
    * partitioning or scheduling order (double sums are not).
    *
    * FAISS-parity scale shape: codebooks train on a BOUNDED SAMPLE
    * (max(10⁵, 39·k) subvectors per subspace by default, FAISS's
    * documented training bound — at 100 TB you never k-means the
    * corpus). The sample is a seeded deterministic Bernoulli draw on
    * the md5 rank of each distinct subvector, with keep probability
    * PROPORTIONAL TO ITS MULTIPLICITY (u·W < cap·w — FAISS samples
    * corpus rows, not distinct values) and the Horvitz-Thompson
    * integer re-weight max(w, ⌈W/cap⌉), so it is a pure function of
    * the corpus + seed, independent of partitioning, and unbiased on
    * skewed corpora. Corpus-sized work is exactly two bounded-output
    * aggregates (the distinct-subvector shuffle and an m-row count);
    * the sample itself — ≤ cap rows per subspace — then collects and
    * the Lloyd's loop runs IN MEMORY, FAISS's own shape: zero cluster
    * passes per iteration, with the same fixed-point integer
    * arithmetic the distributed loop used, so the fit stays a pure
    * deterministic function of (corpus, seed). When the corpus is
    * smaller than the cap the filter keeps every row and the fit is
    * bit-identical to an unsampled one (the gate scales are all in
    * this regime). `sampleCap` overrides the default bound (probes
    * use a small cap to demonstrate the wall stays flat as the
    * corpus grows). */
  private[operators] def pqTrainRaw(vectors: DataFrame, vecCol: String,
                                    m: Int, k: Int, seed: Long,
                                    maxIter: Int = 10,
                                    sampleCap: Long = 0L): DataFrame = {
    require(m > 0 && k > 1, s"need m > 0, k > 1; got m=$m k=$k")
    val cap = if (sampleCap > 0L) sampleCap
      else math.max(100000L, 39L * k)
    val spark = vectors.sparkSession
    import spark.implicits._
    val dimRow = vectors.select(size(col(vecCol)).as("d")).limit(1)
      .collect()
    require(dimRow.nonEmpty, "pqTrain: no vectors to fit")
    val dim = dimRow(0).getInt(0)
    require(dim % m == 0,
      s"pqTrain: dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // the exploded, DEDUPLICATED (subspace, subvector, weight)
    // relation. Identical subvectors collapse with their multiplicity
    // as the weight, so the sample mean stays exact over what it sees.
    val svwAll = vectors
      .select(explode(sequence(lit(0L), lit(m.toLong - 1)))
        .as("subspace"), col(vecCol).as("_pv"))
      .select(col("subspace"), slice(col("_pv"),
        col("subspace").cast("int") * sub + 1, lit(sub)).as("sv"))
      .groupBy(col("subspace"), col("sv"))
      .agg(count(lit(1)).as("w"))
    // seeded deterministic rank of each distinct subvector, used for
    // BOTH the bounded sample and the init ordering: md5 over the
    // serialized coordinates — a pure function of (seed, row)
    val sig = md5(concat_ws(":", lit(seed), col("subspace"),
      concat_ws(",", transform(col("sv"), x => x.cast("string")))))
    // sig's top 60 bits as a uniform draw in [0,1)
    val unif = conv(substring(sig, 1, 15), 16, 10).cast("double") /
      lit(math.pow(2, 60))
    // per-subspace TOTAL weight (m rows) → keep a distinct subvector
    // iff u·W < cap·w, i.e. Bernoulli probability min(1, cap·w/W) —
    // PROPORTIONAL TO MULTIPLICITY, the FAISS row-sampling parity
    // (uniform over corpus ROWS, so heavy-multiplicity subvectors are
    // represented as a skewed corpus actually weights them; a
    // distinct-uniform draw under-sampled them relative to the
    // w-weighted Lloyd's mean). Expected kept rows Σmin(1, cap·w/W)
    // ≤ cap, and a provable no-op when W ≤ cap (p = 1 for every row).
    val cnts = svwAll.groupBy(col("subspace"))
      .agg(sum(col("w")).as("_tw"))
    // the collect is cap-BOUNDED BY DESIGN (≤ m·cap rows ≈ tens of MB
    // at the default cap), which is exactly FAISS's shape: sample
    // distributed, fit in memory. The corpus is never touched again —
    // the Lloyd's loop below costs ZERO cluster passes, where the
    // previous in-Spark loop paid ~2 scheduler rounds per iteration
    // (the round-11 PQ gate rows' dominant wall at small data, and
    // pointless at large data once the sample is the input anyway).
    // Kept rows re-weight to max(w, ⌈W/cap⌉) — the Horvitz-Thompson
    // 1/p correction rounded to an integer so the fixed-point Lloyd's
    // arithmetic stays exact; in the no-op regime (W ≤ cap) the
    // correction is max(w, 1) = w, bit-identical to an unsampled fit.
    val sample = svwAll
      .withColumn("_sig", sig)
      .join(broadcast(cnts), Seq("subspace"))
      .filter(unif * col("_tw") < lit(cap.toDouble) * col("w"))
      .select(col("subspace"), col("sv"), col("w"), col("_sig"),
        col("_tw"))
      .collect()
      .map { r =>
        val w = r.getAs[Long]("w")
        val tw = r.getAs[Long]("_tw")
        (r.getAs[Long]("subspace"),
          r.getAs[scala.collection.Seq[Double]]("sv").toArray,
          math.max(w, (tw + cap - 1L) / cap), r.getAs[String]("_sig"))
      }
    val bySub: Map[Long, Array[(Array[Double], Long, String)]] =
      sample.groupBy(_._1)
        .map { case (j, rows) => j -> rows.map(t => (t._2, t._3, t._4)) }
    // seeded deterministic init: the k md5-rank-smallest sample rows
    // per subspace (ASCII-hex string order — identical to the SQL
    // string sort this replaces)
    var centers: Map[(Long, Long), Seq[Double]] =
      bySub.flatMap { case (j, rows) =>
        rows.sortBy(_._3).take(k).zipWithIndex.map {
          case ((sv, _, _), i) => (j, i.toLong) -> (sv.toVector: Seq[Double])
        }
      }
    // in-memory Lloyd's, arithmetic BIT-IDENTICAL to the distributed
    // form it replaces: d² is the same left-to-right fold as
    // [[graft.functions.SqDistExpr]], the argmin compares via
    // Double.compare (NaN-greatest — Spark's double ordering) with
    // ties to the smallest code, and centroid updates are 1e-9
    // fixed-point Long sums with truncating division (Spark `div`),
    // so the result is independent of iteration order here exactly as
    // it was of partitioning there.
    var it = 0
    while (it < maxIter) {
      val codesOf: Map[Long, Array[(Long, Array[Double])]] =
        centers.keys.groupBy(_._1).map { case (j, ks) =>
          j -> ks.toArray.map(_._2).sorted
            .map(c => c -> centers((j, c)).toArray)
        }
      val acc = scala.collection.mutable.Map
        .empty[(Long, Long), (Array[Long], Array[Long])]
      for ((j, sv, w, _) <- sample) {
        val cands = codesOf(j)
        var bestC = -1L
        var bestD = Double.NaN
        var ci = 0
        while (ci < cands.length) {
          val cv = cands(ci)._2
          var d = 0.0
          var i = 0
          while (i < sv.length) {
            val t = sv(i) - cv(i); d += t * t; i += 1
          }
          if (bestC < 0 || java.lang.Double.compare(d, bestD) < 0) {
            bestD = d; bestC = cands(ci)._1
          }
          ci += 1
        }
        val (s, n) = acc.getOrElseUpdate((j, bestC),
          (new Array[Long](sv.length), new Array[Long](1)))
        var i = 0
        while (i < sv.length) {
          s(i) += math.floor(sv(i) * 1e9 + 0.5).toLong * w; i += 1
        }
        n(0) += w
      }
      // empty cells keep their previous center (no member rows)
      centers = centers.map { case (key, old) =>
        key -> acc.get(key).map { case (s, n) =>
          (s.map(v => (v / n(0)).toDouble / 1e9).toVector: Seq[Double])
        }.getOrElse(old)
      }
      it += 1
    }
    centers.toSeq.map { case ((j, c), v) => (j, c, v) }
      .toDF("subspace", "code", "cvec")
  }

  /** `size(vec) div m`, failing LOUDLY when m does not divide the
    * dimension — encode/probe accept externally supplied codebooks
    * and an independent m, so a mismatch must not silently truncate
    * trailing dimensions into plausible-looking wrong codes (the
    * [[pqTrain]] require() mirrored into the per-row paths). */
  private def subLen(vec: Column, m: Int, who: String): Column =
    when(pmod(size(vec), lit(m)) === 0,
      (size(vec).cast("double") / m).cast("int"))
    .otherwise(raise_error(concat(lit(s"$who: vector dim "),
      size(vec).cast("string"), lit(s" not divisible by m=$m")))
      .cast("int"))

  /** Inner product guarded against a codebook-entry / subvector
    * length mismatch (zip_with would silently drop the overhang). */
  private def guardedIp(cvec: Column, qs: Column, who: String): Column =
    when(size(cvec) === size(qs), VectorFns.dot(cvec, qs))
      .otherwise(raise_error(concat(
        lit(s"$who: codebook entry length "),
        size(cvec).cast("string"),
        lit(" != subvector length "), size(qs).cast("string")))
        .cast("double"))

  /** Encodes each vector as its m nearest-codebook-entry codes
    * (squared-L2 argmin per subspace, ties to the smallest code id).
    * Returns `idCol | codes` with `codes` an m-length array ordered by
    * subspace. */
  def pqEncode(vectors: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame, m: Int): DataFrame =
    pqEncodeRaw(unitVectors(vectors, vecCol, Seq(idCol)), idCol, "_uv",
      codebooks, m)

  /** [[pqEncode]] on an already-prepared double-array column (no
    * normalization — the residual path).
    *
    * The codebook is m·k rows BY CONTRACT (the same boundedness as
    * the ADC lookup tables), so it collects once and ships as ONE
    * typedlit payload — PRE-GROUPED by subspace on the driver into an
    * array-of-per-subspace-arrays indexed by `element_at(j+1)`, so
    * each subspace's argmin scans exactly its own k entries (a flat
    * literal filtered per subspace per row would re-scan all m·k
    * structs m times per vector — O(m²k), ~65k struct scans/row at
    * FAISS-standard m=16, k=256). Encoding is then a stateless narrow
    * map — per vector, m k-entry array_min argmins — with NO explode,
    * NO join, and NO shuffle back to (id → codes). At 100 TB that is
    * a pure scan-shaped pass instead of two corpus×m exchanges.
    * Argmin semantics (lexicographic (d², code) struct min = smallest
    * distance, ties to the smallest code) are bit-identical to the
    * broadcast-join form this replaces.
    *
    * Externally supplied codebooks are validated to cover subspaces
    * 0..m−1 EXACTLY — a missing subspace would otherwise score an
    * empty entry list and emit null codes that look plausible
    * downstream (the fail-loud contract of subLen/guardedIp). */
  private[operators] def pqEncodeRaw(vectors: DataFrame, idCol: String,
                                     vecCol: String,
                                     codebooks: DataFrame,
                                     m: Int): DataFrame =
    pqEncodeRows(vectors, idCol, vecCol, bookRows(codebooks), m)

  /** [[pqEncodeRaw]] over already-collected codebook rows
    * ([[bookRows]] / the [[bookRowsAt]] memo). */
  private def pqEncodeRows(vectors: DataFrame, idCol: String,
                           vecCol: String, books: Seq[BookRow],
                           m: Int): DataFrame = {
    val entries = books.sortBy(t => (t._1, t._2))
    require(entries.nonEmpty, "pqEncode: empty codebooks")
    val entryLen = entries.head._3.length
    require(entries.forall(_._3.length == entryLen),
      "pqEncode: ragged codebook entry lengths")
    val subsSeen = entries.map(_._1).distinct.sorted
    require(subsSeen == (0L until m.toLong),
      s"pqEncode: codebooks must cover subspaces 0..${m - 1} exactly, " +
        s"got [${subsSeen.mkString(", ")}]")
    // driver-side pre-group: perSub(j) = subspace j's (code, cvec)
    // entries in ascending code order (the argmin tiebreak order)
    val perSub: Seq[Seq[(Long, Seq[Double])]] =
      (0L until m.toLong).map(j =>
        entries.filter(_._1 == j).map(t => (t._2, t._3)))
    // ONE native expression per row ([[graft.functions
    // .PqEncodeCodesExpr]]): the former nested-HOF form (transform ∘
    // array_min ∘ transform over the typedlit codebook) paid m·k
    // interpreted lambda dispatches per row — the q199 disease in the
    // encode path. Bit-parity (fold order, (d, code) struct-min incl.
    // NaN/null ordering, tiebreak, per-row guard messages) is spelled
    // in the expression's scaladoc and pinned by the parity spec; the
    // codebook ships as reference arrays, so m·k can never blow the
    // generated method size the way a literal unroll would.
    vectors.select(col(idCol),
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.PqEncodeCodesExpr(
          org.apache.spark.sql.graftbridge.Bridge
            .expression(col(vecCol)),
          perSub, entryLen)).as("codes"))
  }

  /** Trains and encodes, writing `codebooks/` (one file — m·k rows)
    * and `codes/` under `path`. The codes table is the ONLY
    * corpus-sized artifact — m small ints per vector. */
  def pqWriteIndex(vectors: DataFrame, idCol: String, vecCol: String,
                   m: Int, k: Int, path: String,
                   seed: Long = 42L): Unit = {
    val cb = pqTrain(vectors, vecCol, m, k, seed)
    cb.coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    val spark = vectors.sparkSession
    val cbRead = readBooks(spark, s"$path/codebooks")
    pqEncode(vectors, idCol, vecCol, cbRead, m)
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** The per-query ADC lookup table: m·k rows of fixed-point
    * query-subvector · codebook-entry inner products (floor(ip·1e7 +
    * 0.5) — the suite's engine-portable rounding). ONE definition for
    * both the flat and the IVF-pruned probe. */
  private def adcLut(cb: DataFrame, queryVec: DataFrame,
                     m: Int): DataFrame =
    cb.crossJoin(broadcast(queryVec))
      .withColumn("_sublen", subLen(col("qvec"), m, "adcLut"))
      .withColumn("_qs", slice(col("qvec"),
        (col("subspace") * col("_sublen") + 1).cast("int"),
        col("_sublen").cast("int")))
      .select(col("subspace"), col("code"),
        floor(guardedIp(col("cvec"), col("_qs"), "adcLut") * 1e7 + 0.5)
          .cast("long").as("ip_fp"))

  /** Integer ADC scoring of a codes relation against a broadcast
    * lookup table: m lookups summed per vector, fixed-point → the
    * suite's 4-decimal surface. The fallback shape — the single-query
    * probes score through [[adcScoreFused]]. */
  private def adcScore(codes: DataFrame, lut: DataFrame, idCol: String,
                       k: Int): DataFrame =
    codes
      .select(col(idCol),
        posexplode(col("codes")).as(Seq("_pos", "code")))
      .withColumn("subspace", col("_pos").cast("long"))
      .join(broadcast(lut), Seq("subspace", "code"))
      .groupBy(col(idCol))
      .agg(round(sum(col("ip_fp")) / 1e7, 4).as("adc_score"))
      .orderBy(col("adc_score").desc, col(idCol))
      .limit(k)

  /** Driver-side replica of [[adcLut]] for the fused scorer:
    * lut(s)(c) = Σ over query rows of floor(dot(bvec, qs)·1e7 + 0.5)
    * — bit-identical values (same slice, the dot kernel's fold order,
    * same rounding, the same per-row guards raised with [[adcLut]]'s
    * messages), presence gated per (s, c) so zero query rows or a
    * sparse book keep the join's drop semantics. None on degenerate
    * geometry (sparse giant code ids would blow the dense arrays) —
    * callers fall back to the relational [[adcScore]]. */
  private def adcLutDriver(cb: DataFrame, queryVec: DataFrame,
                           m: Int): Option[graft.functions.AdcExprs.Lut] = {
    val cbRows = cb.select(col("subspace"), col("code"), col("cvec"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[scala.collection.Seq[Double]](2).toArray))
    val maxSub = if (cbRows.isEmpty) -1L else cbRows.map(_._1).max
    val minSub = if (cbRows.isEmpty) 0L else cbRows.map(_._1).min
    val maxCode = if (cbRows.isEmpty) -1L else cbRows.map(_._2).max
    val minCode = if (cbRows.isEmpty) 0L else cbRows.map(_._2).min
    if (minSub < 0 || maxSub >= 1024 || minCode < 0 ||
        maxCode >= 65536) return None
    val mSub = math.max(maxSub.toInt + 1, 0)
    val kCode = math.max(maxCode.toInt + 1, 0)
    val vals = Array.fill(mSub)(new Array[Long](kCode))
    val pres = Array.fill(mSub)(new Array[Boolean](kCode))
    val qRows = queryVec.select(col("qvec")).collect()
      .map(_.getAs[scala.collection.Seq[Double]](0).toArray)
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    qRows.foreach { qvec =>
      if (qvec.length % m != 0) throw new RuntimeException(
        s"adcLut: vector dim ${qvec.length} not divisible by m=$m")
      val sublen = qvec.length / m
      cbRows.foreach { case (s, c, bvec) =>
        val start = (s * sublen).toInt
        val qs = qvec.slice(start, start + sublen)
        if (bvec.length != qs.length) throw new RuntimeException(
          s"adcLut: codebook entry length ${bvec.length} " +
            s"!= subvector length ${qs.length}")
        vals(s.toInt)(c.toInt) +=
          math.floor(dotD(bvec, qs) * 1e7 + 0.5).toLong
        pres(s.toInt)(c.toInt) = true
      }
    }
    import scala.collection.immutable.ArraySeq.{unsafeWrapArray => wrap}
    Some(graft.functions.AdcExprs.Lut(
      wrap(vals.map(a => wrap(a): IndexedSeq[Long])),
      wrap(pres.map(a => wrap(a): IndexedSeq[Boolean]))))
  }

  /** [[adcScore]] with the per-row fused kernel ([[graft.functions
    * .CodeLutSumExpr]]): the relational form exploded every candidate
    * row m× and broadcast-joined the LUT just to sum m integer
    * lookups — an m× row blow-up ahead of the aggregate (guide §2.3:
    * shuffle fewer bytes). The per-id groupBy is kept (exact parity
    * even under duplicate-id inputs); unmatched rows (zero join
    * matches) yield NULL and are filtered — the rows the join never
    * emitted. Falls back to the relational shape on degenerate book
    * geometry. */
  private def adcScoreFused(codes: DataFrame, cb: DataFrame,
                            queryVec: DataFrame, m: Int, idCol: String,
                            k: Int): DataFrame =
    adcLutDriver(cb, queryVec, m) match {
      case Some(lut) =>
        codes
          .withColumn("_ips",
            org.apache.spark.sql.graftbridge.Bridge.column(
              graft.functions.CodeLutSumExpr(
                org.apache.spark.sql.graftbridge.Bridge
                  .expression(col("codes")), lut)))
          .filter(col("_ips").isNotNull)
          .groupBy(col(idCol))
          .agg(round(sum(col("_ips")) / 1e7, 4).as("adc_score"))
          .orderBy(col("adc_score").desc, col(idCol))
          .limit(k)
      case None => adcScore(codes, adcLut(cb, queryVec, m), idCol, k)
    }

  /** ADC top-k over a flat [[pqWriteIndex]] layout. `queryVec` is one
    * row with an `array<double>` column `qvec` (used raw — a positive
    * per-query scale never reorders ranks). */
  def pqProbeADC(spark: SparkSession, path: String,
                 queryVec: DataFrame, idCol: String,
                 k: Int): DataFrame = {
    val cb = readBooks(spark, s"$path/codebooks")
    adcScoreFused(spark.read.parquet(s"$path/codes"), cb, queryVec,
      mOf(spark, s"$path/codebooks"), idCol, k)
  }

  /** Materialize the IVF-PQ layout — the FAISS production shape, both
    * IO levers composed: hive partition pruning opens only the nProbe
    * cell directories (cells from [[Similarity.learnedCentroids]],
    * cosine assignment) AND the payload inside each cell is m PQ codes
    * instead of floats (32×) or int8 (8× vs [[Similarity
    * .ivfWriteIndexQuantized]]'s 4×). Codebooks are GLOBAL (trained on
    * the whole corpus's unit vectors), not per-cell residual — the
    * simpler published variant, which keeps the probe's lookup table
    * query-only; `codes/` is the single corpus-sized artifact,
    * repartitioned to one compact file per cell (the sliver-file
    * lesson from the quantized-IVF refresh). */
  def ivfPqWriteIndex(vectors: DataFrame, cents: DataFrame,
                      idCol: String, vecCol: String, m: Int, k: Int,
                      path: String, seed: Long = 42L): Unit = {
    val spark = vectors.sparkSession
    pqTrain(vectors, vecCol, m, k, seed)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    val cbRead = readBooks(spark, s"$path/codebooks")
    pqEncode(vectors, idCol, vecCol, cbRead, m)
      .join(Similarity.ivfAssignCosine(vectors, cents, idCol, vecCol),
        Seq(idCol))
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/codes")
  }

  /** MVCC rebuild of an IVF-PQ layout — the streaming recenter's
    * commit protocol ([[Similarity.ivfRebuildQuantizedMvcc]]'s PQ
    * sibling), with one extra atom: the retrained CODEBOOKS land as a
    * write-once `books_<gen>-<token>` directory sealed in the SAME
    * manifest as the cells ([[SegmentManifest.BooksLayout]]), because
    * PQ codes are meaningless without the codebooks that produced
    * them — a pinned probe must decode a generation's cells through
    * that generation's own books, never the live copy a later
    * recenter overwrote. The [[SegmentManifest.ModelMarker]] records
    * the governing centroid generation the same way. The live
    * `codebooks` file is still refreshed for the wave-internal
    * single-writer consumers (refresh encode, drift stats, the
    * per-generation model snapshot). */
  def ivfPqRebuildMvcc(spark: SparkSession, path: String,
                       vectors: DataFrame, cents: DataFrame,
                       idCol: String, vecCol: String, m: Int, k: Int,
                       modelGen: Int, seed: Long = 42L): Unit = {
    val indexPath = s"$path/codes"
    val base = SegmentManifest.latest(spark, indexPath)
      .getOrElse(SegmentManifest.bootstrap(spark, indexPath,
        Seq(SegmentManifest.CellLayout, SegmentManifest.BooksLayout)))
    val gen = base.gen + 1
    val booksLoc = s"books_$gen-" +
      java.util.UUID.randomUUID().toString.take(8)
    pqTrain(vectors, vecCol, m, k, seed)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexPath/$booksLoc")
    // encode through the WRITTEN books (fit determinism is per
    // physical layout — the write path's own rule)
    val cbRead = readBooks(spark, s"$indexPath/$booksLoc")
    val rows = pqEncode(vectors, idCol, vecCol, cbRead, m)
      .join(Similarity.ivfAssignCosine(vectors, cents, idCol, vecCol),
        Seq(idCol))
      .repartition(col("centroid_id"))
    val (gen2, entries) = Similarity.stageCellRev(spark, indexPath,
      rows, base)
    SegmentManifest.seal(spark, indexPath, SegmentManifest
      .Manifest(gen2, base.layouts
        .updated("cells", entries)
        .updated("books",
          Seq(SegmentManifest.Entry(gen2, booksLoc)))
        .updated(SegmentManifest.ModelMarker, Seq(SegmentManifest
          .Entry(modelGen, s"model=g$modelGen")))))
    // refresh the live `codebooks` copy ONLY after the exclusive seal
    // succeeded: the copy serves the wave-internal single-writer
    // consumers (refresh encode, drift stats, the per-generation
    // model snapshot), which must keep decoding through the books
    // that match the CURRENT sealed cells — overwriting it before the
    // seal would, on a lost seal or a crash, leave fresh-row encodes
    // running through books the surviving cells were never encoded
    // with ("index intact" must hold for the live-copy consumers too)
    cbRead.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/codebooks")
  }

  /** Pin-once read of an IVF-PQ layout's codes AND codebooks: under a
    * sealed manifest both resolve through the SAME generation (a
    * recenter sealing mid-probe changes neither — the codes/books
    * pairing is atomic); legacy layouts read the live hive tree and
    * the live `codebooks` copy. */
  private def pinnedCodesAndBooks(spark: SparkSession, path: String)
      : (DataFrame, DataFrame, String) =
    resolveCodesAndBooks(spark, path,
      SegmentManifest.latest(spark, s"$path/codes"))

  /** [[pinnedCodesAndBooks]] against a manifest the CALLER already
    * pinned — the one-resolution entry for readers that also derive
    * the centroid model from the same manifest
    * ([[graft.streaming.StreamingVectorIndex.probeLiveIvfPq]]).
    * Returns (codes, books, books location) — the location feeds the
    * (loc, mtime)-keyed [[mOf]] memo so probes stop paying one
    * m-aggregate job per call. */
  private[graft] def resolveCodesAndBooks(
      spark: SparkSession, path: String,
      mfOpt: Option[SegmentManifest.Manifest])
      : (DataFrame, DataFrame, String) = {
    val indexPath = s"$path/codes"
    mfOpt match {
      case Some(mf) =>
        // ANY sealed manifest makes the manifest composition the
        // truth for the CELLS: MVCC refreshes rewrite dirty cells
        // write-once under `_rev/` (invisible to a plain parquet
        // read), so a layout whose manifests predate the books entry
        // (a cells-only refresh history) must still resolve cells
        // through the manifest — the plain read would serve stale
        // pre-refresh cells, deleted ids included. Books come from
        // the manifest when a rebuild sealed them, else from the
        // live `codebooks` copy (refreshes never retrain books, so
        // the live copy is exact for a pre-books manifest).
        val codes = SegmentManifest
          .read(spark, indexPath, mf, "cells", "centroid_id")
          .map(_.withColumn("centroid_id",
            col("centroid_id").cast("long")))
          .getOrElse(throw new IllegalStateException(
            s"IVF-PQ index at $indexPath: generation ${mf.gen} has " +
              "no cells"))
        val bl = booksLocFor(path, Some(mf))
        (codes, readBooks(spark, bl), bl)
      case None =>
        // true legacy/manifest-less: plain reads — NOT
        // readQuantizedIndex, whose centroid normalization would
        // break the FLAT (cell-less) PQ store pqProbeADCMulti also
        // serves; hive layouts keep their centroid_id partition
        // column as discovered
        (spark.read.parquet(indexPath),
          readBooks(spark, s"$path/codebooks"), s"$path/codebooks")
    }
  }

  /** The codebooks GOVERNING encoding at an IVF-PQ root — resolved
    * through the latest sealed manifest's books entry when one exists,
    * else the live `codebooks` copy (legacy layouts, and cells-only
    * refresh histories where the live copy is exact because refreshes
    * never retrain books). This makes the live file a PURE CACHE that
    * can never govern encoding: a crash between a rebuild's exclusive
    * seal and its live-copy refresh ([[ivfPqRebuildMvcc]]'s last step)
    * would otherwise leave the copy one model behind the sealed cells,
    * and — since the stale copy and the carried stats share the old
    * model_fp — the next refresh would silently encode fresh rows
    * through books the sealed cells were not encoded with. Every
    * encoding/stats consumer (refresh, drift stats, the drift loop's
    * fingerprint, the streaming loop's model snapshot) resolves here. */
  private[graft] def governingBooks(spark: SparkSession,
                                    path: String): DataFrame =
    booksFor(spark, path, SegmentManifest.latest(spark, s"$path/codes"))

  /** The ONE "which books govern" rule, shared by the pinned probe
    * reads ([[resolveCodesAndBooks]]) and the write-side consumers
    * ([[governingBooks]]) so probe-side decoding and write-side
    * encoding can never desynchronize on it: the manifest's books
    * entry when a rebuild sealed one, else the live `codebooks` copy
    * (exact for books-less histories — refreshes never retrain). */
  private def booksLocFor(path: String,
                          mf: Option[SegmentManifest.Manifest]): String =
    mf match {
      case Some(m) if m.entries("books").nonEmpty =>
        s"$path/codes/${m.entries("books").last.loc}"
      case _ => s"$path/codebooks"
    }

  private def booksFor(spark: SparkSession, path: String,
                       mf: Option[SegmentManifest.Manifest]): DataFrame =
    readBooks(spark, booksLocFor(path, mf))

  /** [[governingBooks]]' location — for the (loc, mtime)-keyed model
    * memos below. */
  private[graft] def governingBooksLoc(spark: SparkSession,
                                       path: String): String =
    booksLocFor(path, SegmentManifest.latest(spark, s"$path/codes"))

  /** Model-geometry and model-identity memos for WRITTEN codebook
    * files, keyed by (location, dir mtime) — both are pure functions
    * of the file, but were recomputed as one Spark JOB per call: the
    * `m` aggregate ran once per IVF-PQ probe (40× in the probe-hammer
    * rows) and once per refresh wave; the books-half fingerprint ran
    * once per wave's drift stats (r20 WaveJobProbe). Metadata-scale,
    * LRU-bounded; the mtime key re-reads a rewritten file. */
  private val mMemo: java.util.Map[(String, Long), java.lang.Integer] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long), java.lang.Integer](
          16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long), java.lang.Integer])
            : Boolean = size() > 4096
      })

  private val bookFpMemo: java.util.Map[(String, Long), java.lang.Long] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long), java.lang.Long](
          16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long), java.lang.Long])
            : Boolean = size() > 4096
      })

  /** One codebook entry: (subspace, code, cvec). */
  private[graft] type BookRow = (Long, Long, Vector[Double])

  /** The rows of a codebooks frame, in scan order — the one driver-side
    * collect both the encode and the drift-stats LUT build start from. */
  private def bookRows(codebooks: DataFrame): IndexedSeq[BookRow] =
    codebooks.select(col("subspace"), col("code"), col("cvec")).collect()
      .toIndexedSeq.map(r => (r.getAs[Long](0), r.getAs[Long](1),
        r.getAs[scala.collection.Seq[Double]](2).toVector))

  private val bookRowsMemo
      : java.util.Map[(String, Long), IndexedSeq[BookRow]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long), IndexedSeq[BookRow]](
          16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long), IndexedSeq[BookRow]])
            : Boolean = size() > 64
      })

  private def booksMtime(spark: SparkSession, loc: String): Long = {
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
  }

  /** m (= max subspace + 1) of a written codebooks file, memoized. */
  private[graft] def mOf(spark: SparkSession, loc: String): Int = {
    val key = (loc, booksMtime(spark, loc))
    val hit = mMemo.get(key)
    if (hit != null) hit.intValue()
    else {
      val m = readBooks(spark, loc)
        .agg(max(col("subspace"))).head().getLong(0).toInt + 1
      mMemo.put(key, java.lang.Integer.valueOf(m))
      m
    }
  }

  /** The books half of the IVF-PQ model fingerprint
    * ([[Similarity.modelFingerprint]] over (subspace, code, bvec)),
    * memoized per written codebooks file. */
  private[graft] def booksFingerprintAt(spark: SparkSession,
                                        loc: String): Long = {
    val key = (loc, booksMtime(spark, loc))
    val hit = bookFpMemo.get(key)
    if (hit != null) hit.longValue()
    else {
      val fp = Similarity.modelFingerprint(
        readBooks(spark, loc).select(col("subspace"), col("code"),
          col("cvec").as("bvec")),
        Seq("subspace", "code"), "bvec")
      bookFpMemo.put(key, java.lang.Long.valueOf(fp))
      fp
    }
  }

  /** The rows of a written codebooks file ([[bookRows]]), memoized
    * like [[mOf]], so the refresh encode and the drift-stats LUT build
    * pay no collect job per wave. m·k rows by contract; the LRU bound
    * caps the memo at 64 files. */
  private[graft] def bookRowsAt(spark: SparkSession,
                                loc: String): IndexedSeq[BookRow] = {
    val key = (loc, booksMtime(spark, loc))
    val hit = bookRowsMemo.get(key)
    if (hit != null) hit
    else {
      val rows = bookRows(readBooks(spark, loc))
      bookRowsMemo.put(key, rows)
      rows
    }
  }

  /** ADC probe over an already-resolved (codes, codebooks) pair — the
    * second half of [[ivfPqProbe]], exposed so pin-once callers reuse
    * the identical cell restriction + scoring. */
  private[graft] def ivfPqProbeResolved(codes: DataFrame,
                                        cb: DataFrame, cents: DataFrame,
                                        queryVec: DataFrame,
                                        idCol: String, k: Int,
                                        nProbe: Int,
                                        mO: Option[Int] = None)
      : DataFrame = {
    val probed = Similarity.probedCellIds(cents, queryVec, nProbe)
    val m = mO.getOrElse(
      cb.agg(max(col("subspace"))).head().getLong(0).toInt + 1)
    adcScoreFused(codes.filter(col("centroid_id")
        .isin(scala.collection.immutable.ArraySeq.unsafeWrapArray(probed): _*)),
      cb, queryVec, m, idCol, k)
  }

  /** Probe an IVF-PQ index: cell ranking + literal-`isin` partition
    * pruning exactly as the cosine-IVF family (one shared
    * [[Similarity.probedCellIds]]), then integer ADC on the surviving
    * cells' codes. IO per probe = nProbe cell directories × m bytes
    * per vector. Codes and codebooks resolve through ONE pinned
    * manifest on MVCC layouts ([[pinnedCodesAndBooks]]). */
  def ivfPqProbe(spark: SparkSession, path: String, cents: DataFrame,
                 queryVec: DataFrame, idCol: String, k: Int,
                 nProbe: Int): DataFrame = {
    val (allCodes, cb, bl) = pinnedCodesAndBooks(spark, path)
    ivfPqProbeResolved(allCodes, cb, cents, queryVec, idCol, k, nProbe,
      mO = Some(mOf(spark, bl)))
  }

  /** The IVF-PQ probe SEMANTICS replayed against a corpus snapshot
    * and FIXED model artifacts (centroids + codebooks), with no
    * physical index: assign cells, keep the query's nProbe ranked
    * cells, re-encode the survivors through the supplied codebooks
    * (the one shared [[pqEncode]] derivation — exactly how the
    * maintained index's codes were produced, whether at rebuild or
    * by a cell-incremental refresh), then integer ADC. This is the
    * TIME-TRAVEL read path ([[graft.streaming.StreamingVectorIndex
    * .probeAsOfIvfPq]]): the physical cells are maintained in place,
    * so a historical probe pays a snapshot scan + re-encode — the
    * Delta-time-travel cost class, borne only by as-of reads; live
    * probes keep the pruned [[ivfPqProbe]] path. */
  def ivfPqProbeSnapshot(snapshot: DataFrame, cents: DataFrame,
                         codebooks: DataFrame, queryVec: DataFrame,
                         idCol: String, vecCol: String, k: Int,
                         nProbe: Int,
                         mO: Option[Int] = None): DataFrame = {
    val m = mO.getOrElse(codebooks.agg(max(col("subspace"))).head()
      .getLong(0).toInt + 1)
    val probed = Similarity.probedCellIds(cents, queryVec, nProbe)
    val members = snapshot.join(
        Similarity.ivfAssignCosine(snapshot, cents, idCol, vecCol),
        Seq(idCol))
      .filter(col("centroid_id").isin(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(probed): _*))
      .select(col(idCol), col(vecCol))
    // materialize the re-encode before the ADC explode: the encode is
    // one giant per-row expression (the typedlit codebook argmin), and
    // composing it under posexplode + the lookup join makes Catalyst
    // re-plan/duplicate it per generated column — measured 180 s vs
    // sub-second at sf0.1 (5k vectors). The frame is members-sized
    // (nProbe cells' worth of (id, m codes) rows), so the eager local
    // checkpoint is tiny and pins the derivation exactly once.
    val encoded = pqEncode(members, idCol, vecCol, codebooks, m)
      .localCheckpoint()
    adcScoreFused(encoded, codebooks, queryVec, m, idCol, k)
  }

  /** EXACT-REFINE rung (FAISS's IndexRefineFlat): the ADC probe keeps
    * the top `refine` candidates (refine ≥ k, typically 3–10×k), then
    * those and ONLY those are re-ranked by exact cosine against the
    * original float vectors, and the true top k of the candidate set
    * is returned. Provably dominates the raw ADC cut on recall: any
    * true top-k member inside the candidate set survives the exact
    * re-rank by definition (at most k−1 candidates can outscore it in
    * the true metric — each one is itself a true top-k-or-better),
    * while ADC's quantized ranking can drop it; the spec pins the
    * inequality on the recall panel. Cost shape: the ADC stage is the
    * usual nProbe-pruned integer scan; the refine stage's candidate
    * ids are a `refine`-bounded driver list (an intentional BOUNDED
    * collect — that is what turns the re-read into a pushed `id IN`
    * parquet filter instead of a corpus join), so the exact pass
    * touches `refine` rows of `vectors` no matter the corpus size. */
  def ivfPqProbeRefined(spark: SparkSession, path: String,
                        cents: DataFrame, queryVec: DataFrame,
                        vectors: DataFrame, idCol: String,
                        vecCol: String, k: Int, nProbe: Int,
                        refine: Int): DataFrame = {
    require(refine >= k, s"ivfPqProbeRefined: refine ($refine) < k ($k)")
    val candIds = ivfPqProbe(spark, path, cents, queryVec, idCol,
        k = refine, nProbe = nProbe)
      .select(col(idCol)).collect().map(_.get(0))
    Similarity.topK(
      vectors.filter(col(idCol)
        .isin(scala.collection.immutable.ArraySeq.unsafeWrapArray(candIds): _*)),
      queryVec, idCol, vecCol, k)
  }

  /** Batch (multi-query) ADC: one broadcast |panel|·m·k lookup table,
    * per-query top-k via a qid-partitioned window. `queries` carries
    * (`qid`, `qvec`). The production shape for scoring a query PANEL
    * against the codes in one pass — and the recall-panel instrument's
    * scorer. */
  def pqProbeADCMulti(spark: SparkSession, path: String,
                      queries: DataFrame, idCol: String,
                      k: Int): DataFrame = {
    val (codes, cb, bl) = pinnedCodesAndBooks(spark, path)
    adcScoreMultiFused(codes, cb, queries, mOf(spark, bl), idCol, k)
  }

  /** Batch IVF-PQ probe, relational cell restriction: per-query top
    * nProbe cells by centroid cosine (a |cells|·|panel| broadcast
    * frame), codes joined to their query's probed cells — the same
    * candidate set the literal-`isin` single-query path prunes to,
    * in one pass for the whole panel. */
  def ivfPqProbeMulti(spark: SparkSession, path: String,
                      cents: DataFrame, queries: DataFrame,
                      idCol: String, k: Int, nProbe: Int): DataFrame = {
    val (codesRaw, cb, bl) = pinnedCodesAndBooks(spark, path)
    ivfPqProbeResolvedMulti(codesRaw, cb, cents, queries, idCol, k,
      nProbe, mO = Some(mOf(spark, bl)))
  }

  /** [[ivfPqProbeResolved]]'s panel sibling over already-resolved
    * (codes, codebooks): the ONE cast + m-derivation + batch-ADC
    * composition, shared by the pinned path above and the streaming
    * loop's pin-once panel probe ([[graft.streaming
    * .StreamingVectorIndex.probeLiveIvfPqMulti]]) so the two can
    * never desynchronize on it. */
  private[graft] def ivfPqProbeResolvedMulti(codesRaw: DataFrame,
                                             cb: DataFrame,
                                             cents: DataFrame,
                                             queries: DataFrame,
                                             idCol: String, k: Int,
                                             nProbe: Int,
                                             mO: Option[Int] = None)
      : DataFrame = {
    val m = mO.getOrElse(
      cb.agg(max(col("subspace"))).head().getLong(0).toInt + 1)
    val codes = codesRaw
      .withColumn("centroid_id", col("centroid_id").cast("long"))
    ivfPqScoreCodesMulti(codes, cb, cents, queries, idCol, k, nProbe, m)
  }

  /** Flat ADC top-k per panel query over IN-MEMORY codes + codebooks —
    * the recall-gate scorer (q75's PQ floor): when only the ranking
    * quality is under test, no index write/read round-trip is needed.
    * Same arithmetic as [[pqProbeADCMulti]] by construction. */
  def pqScoreCodesMulti(codes: DataFrame, cb: DataFrame,
                        queries: DataFrame, idCol: String, k: Int,
                        m: Int): DataFrame =
    adcScoreMultiFused(codes, cb, queries, m, idCol, k)

  /** [[ivfPqProbeMulti]] over in-memory frames (`codes` carries
    * `centroid_id`): per-query top-nProbe cells restrict candidates,
    * then batch ADC — the q75 IVF-PQ recall-floor scorer. */
  def ivfPqScoreCodesMulti(codes: DataFrame, cb: DataFrame,
                           cents: DataFrame, queries: DataFrame,
                           idCol: String, k: Int, nProbe: Int,
                           m: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = Window.partitionBy(col("qid"))
      .orderBy(col("_cd"), col("centroid_id"))
    val probed = cents.crossJoin(broadcast(queries))
      .withColumn("_cd",
        lit(1.0) - VectorFns.cosine(col("cvec"), col("qvec")))
      .withColumn("_rn", row_number().over(wc))
      .filter(col("_rn") <= nProbe)
      .select(col("qid"), col("centroid_id"))
    adcScoreMultiFused(codes.join(broadcast(probed), Seq("centroid_id")),
      cb, queries, m, idCol, k)
  }

  /** CELL-INCREMENTAL refresh of an [[ivfPqWriteIndex]] layout — the
    * maintenance story the int8 inverted file already has
    * ([[Similarity.ivfRefreshQuantizedIncremental]]), for the PQ rung:
    * a recrawl diff names the changed keys, only the cells whose
    * membership changed are re-written, and unchanged keys keep their
    * PQ codes verbatim (no re-encode). CODEBOOKS and CENTROIDS stay
    * FIXED across refreshes — fresh rows encode through the WRITTEN
    * codebooks, so the ADC arithmetic of survivors and fresh rows
    * stays mutually consistent; retraining both is the periodic
    * re-optimization path (the [[Similarity.ivfRefreshOrRecenter]]
    * drift loop, which composes unchanged because the layouts share
    * the `centroid_id=` cell scheme). Commit via the shared
    * [[Similarity.commitCellRefreshMvcc]] tail — the engine's ONE
    * maintenance commit protocol: write-once rev + exclusive seal,
    * no reader window, history reclaimed by vacuum.
    *
    * `changes` is [[Upsert.diffByKey]] output (key, status). Returns
    * the dirty cell ids (≤|cells|, driver-side — the probe's own
    * boundedness contract). */
  def ivfPqRefreshIncremental(
      spark: SparkSession, path: String, cents: DataFrame,
      newSnap: DataFrame, changes: DataFrame, idCol: String,
      vecCol: String): Seq[Long] =
    ivfPqRefresh(spark, path, cents, newSnap, changes, idCol, vecCol,
      residual = false)

  /** [[ivfPqRefreshIncremental]] for a RESIDUAL layout
    * ([[ivfPqWriteIndexResidual]]): identical dirty-cell mechanics —
    * one shared body, so the two families can never drift — except
    * fresh rows encode the RESIDUAL (unit vector − assigned cell's
    * centroid) through the written codebooks, exactly the write
    * path's derivation. Centroids staying FIXED across refreshes is
    * what makes survivor codes and fresh codes mutually consistent
    * here too: a survivor's residual was taken against the same
    * centroid a fresh row subtracts now. */
  def ivfPqRefreshIncrementalResidual(
      spark: SparkSession, path: String, cents: DataFrame,
      newSnap: DataFrame, changes: DataFrame, idCol: String,
      vecCol: String): Seq[Long] =
    ivfPqRefresh(spark, path, cents, newSnap, changes, idCol, vecCol,
      residual = true)

  private def ivfPqRefresh(
      spark: SparkSession, path: String, cents: DataFrame,
      newSnap: DataFrame, changes: DataFrame, idCol: String,
      vecCol: String, residual: Boolean): Seq[Long] = {
    val indexPath = s"$path/codes"
    // the GOVERNING books, manifest-resolved — never the live cache;
    // m through the (loc, mtime) memo — the aggregate was one job per
    // wave for a constant of the written file
    val booksLoc = governingBooksLoc(spark, path)
    val books = bookRowsAt(spark, booksLoc)
    val m = mOf(spark, booksLoc)
    val changed = cached(
      changes.filter(col("status") =!= "unchanged"))
    val gone = changed.filter(col("status").isin("removed", "modified"))
      .select(col(idCol))
    val freshKeys = changed
      .filter(col("status").isin("added", "modified"))
      .select(col(idCol))
    val idx = Similarity.readQuantizedIndex(spark, indexPath)
    val freshRows = newSnap.join(freshKeys, Seq(idCol))
    val freshAssigned = cached(
      if (!residual)
        pqEncodeRows(unitVectors(freshRows, vecCol, Seq(idCol)), idCol,
            "_uv", books, m)
          .join(Similarity.ivfAssignCosine(freshRows, cents, idCol,
            vecCol), Seq(idCol))
          .select(col(idCol), col("codes"), col("centroid_id"))
      else encodeResidualRows(freshRows, cents, idCol, vecCol, books,
        m))
    // dedupe via one global collect_set aggregate — map-side partial
    // sets bound shuffle and driver read at ≤|cells| ids no matter
    // the delta size, without the relational distinct's AQE re-plan
    // stages (the int8 refresh's rule; WaveJobProbe)
    val dirty = idx.join(gone, Seq(idCol)).select(col("centroid_id"))
      .union(freshAssigned.select(col("centroid_id")))
      .agg(collect_set(col("centroid_id")))
      .head().getSeq[Long](0).sorted
    if (dirty.isEmpty) {
      freshAssigned.unpersist(); changed.unpersist()
      return dirty
    }
    val dirtyLits = scala.collection.immutable.ArraySeq
      .unsafeWrapArray(dirty.toArray)
    val survivors = idx
      .filter(col("centroid_id").isin(dirtyLits: _*))
      .join(gone, Seq(idCol), "left_anti")
      .select(col(idCol), col("codes"), col("centroid_id"))
    val unioned = survivors.unionByName(freshAssigned)
      .repartition(col("centroid_id"))
    Similarity.commitCellRefreshMvcc(spark, indexPath, unioned, dirty)
    freshAssigned.unpersist(); changed.unpersist()
    dirty
  }

  /** Per-cell DRIFT statistics of an IVF-PQ index, computed from the
    * CODES alone — the monitoring read that lets the PQ layout run
    * the same refresh-or-recenter loop as the int8 file
    * ([[Similarity.ivfDriftStats]] cannot serve here: its codes are
    * VALUES, PQ codes are INDICES). Reconstruction never
    * materializes: per (cell, subspace, code) the codebook entry's
    * inner product with the cell centroid's subvector and the
    * entry's squared norm are precomputed as 1e-7 FIXED-POINT
    * integers (a |cells|·m·k broadcast LUT), so each stored vector's
    * cosine displacement is m integer lookups summed — commutative,
    * hence deterministic under any partitioning, and an external
    * engine replays it bit-for-bit off the written parquet
    * (cos = (Σip/1e7) / (√(Σnn/1e7)·‖centroid‖), all post-sum float
    * ops IEEE-identical across engines). Output mirrors
    * [[Similarity.ivfDriftStats]]: (centroid_id, n, mean_cd,
    * cd_fp_sum) — [[Similarity.ivfDriftGauges]] consumes it
    * unchanged. */
  def ivfPqDriftStats(spark: SparkSession, path: String,
                      cents: DataFrame, idCol: String,
                      cells: Option[Seq[Long]] = None,
                      modelFpO: Option[Long] = None): DataFrame = {
    // manifest-resolved governing books: the stats LUT and the sealed
    // model_fp must describe the books the sealed cells were encoded
    // with, not a possibly-stale live cache
    val booksLoc = governingBooksLoc(spark, path)
    // the PQ rows are valid under BOTH model artifacts — seal the
    // pair (a recenter retrains the books too, so the carried-stats
    // check must see that as a model change). The books half rides
    // the (loc, mtime) memo; callers whose cents come from a written
    // gen-keyed store pass the whole pair memoized (modelFpO) — the
    // two inline collects were jobs per streaming wave
    val modelFp = modelFpO.getOrElse(
      Similarity.centroidFingerprint(cents) ^
        booksFingerprintAt(spark, booksLoc))
    // `cells` restricts to the named cells (pruned scan) — the
    // incremental-gauge read, same rule as Similarity.ivfDriftStats:
    // per-cell stats are pure functions of the cell's codes under
    // fixed centroids + codebooks
    val allCodes = Similarity.readQuantizedIndex(spark, s"$path/codes")
      .withColumn("centroid_id", col("centroid_id").cast("long"))
    val codes = cells match {
      case Some(cs) => allCodes.filter(col("centroid_id").isin(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(
          cs.toArray): _*))
      case None => allCodes
    }
    // FUSED per-row displacement ([[graft.functions.PqCdFpExpr]]):
    // the relational pipeline exploded every code row m× and shuffled
    // the corpus back by (cell, id) just to sum m integer lookups —
    // at scale an m× row blow-up plus an exchange for a scan-shaped
    // map (guide §2: remove shuffles outright). Both model artifacts
    // are broadcast-sized BY CONTRACT, so they collect once and ride
    // the kernel as reference arrays; the LUT values replicate the
    // relational build's expressions bit for bit (same slice, the
    // dot kernel's fold order, floor(·1e7 + 0.5)), the kernel
    // replicates the inner join's skip/drop semantics, and the
    // surviving arithmetic keeps the identical Column form — the
    // parity spec pins kernel ≡ relational on a real index. Falls
    // back to the relational pipeline on degenerate geometry (sparse
    // giant code ids would blow the dense arrays).
    val cbRows = bookRowsAt(spark, booksLoc)
      .map { case (s, c, bvec) => (s, c, bvec.toArray) }
    val centRows = cents.select(col("centroid_id"), col("cvec"))
      .collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Double]](1).toArray))
    val maxSub = if (cbRows.isEmpty) -1L else cbRows.map(_._1).max
    val minSub = if (cbRows.isEmpty) 0L else cbRows.map(_._1).min
    val maxCode = if (cbRows.isEmpty) -1L else cbRows.map(_._2).max
    val minCode = if (cbRows.isEmpty) 0L else cbRows.map(_._2).min
    if (cbRows.isEmpty || minSub < 0 || maxSub >= 1024 ||
        minCode < 0 || maxCode >= 65536 ||
        centRows.length.toLong * (maxSub + 1) * (maxCode + 1) >
          50000000L)
      return ivfPqDriftStatsRelational(spark, booksLoc, cents, codes,
        idCol, modelFp)
    val mSub = maxSub.toInt + 1
    val kCode = maxCode.toInt + 1
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val present = Array.fill(mSub)(new Array[Boolean](kCode))
    val nnFp = Array.fill(mSub)(new Array[Long](kCode))
    cbRows.foreach { case (s, c, bvec) =>
      present(s.toInt)(c.toInt) = true
      nnFp(s.toInt)(c.toInt) =
        math.floor(dotD(bvec, bvec) * 1e7 + 0.5).toLong
    }
    val cellIds = centRows.map(_._1)
    val ipFp = centRows.map { case (_, cvec) =>
      val perSub = Array.fill(mSub)(new Array[Long](kCode))
      cbRows.foreach { case (s, c, bvec) =>
        val sublen = bvec.length
        val start = (s * sublen).toInt
        // scala slice clamps past the end exactly like Spark's —
        // a short centroid then fails the guard below, same as the
        // relational form's guardedIp raise
        val cs = cvec.slice(start, start + sublen)
        if (cs.length != bvec.length) throw new RuntimeException(
          s"ivfPqDriftStats: codebook entry length ${bvec.length} " +
            s"!= subvector length ${cs.length}")
        perSub(s.toInt)(c.toInt) =
          math.floor(dotD(bvec, cs) * 1e7 + 0.5).toLong
      }
      perSub
    }
    val cnorms = centRows.map { case (_, cvec) =>
      math.sqrt(dotD(cvec, cvec)) }
    import scala.collection.immutable.ArraySeq.{unsafeWrapArray => wrap}
    val expr = graft.functions.PqCdFpExpr(
      org.apache.spark.sql.graftbridge.Bridge
        .expression(col("centroid_id")),
      org.apache.spark.sql.graftbridge.Bridge.expression(col("codes")),
      wrap(cellIds),
      wrap(ipFp.map(p => wrap(p.map(a => wrap(a)
        : IndexedSeq[Long])): IndexedSeq[IndexedSeq[Long]])),
      wrap(nnFp.map(a => wrap(a): IndexedSeq[Long])),
      wrap(present.map(a => wrap(a): IndexedSeq[Boolean])),
      wrap(cnorms))
    codes
      .withColumn("cd_fp",
        org.apache.spark.sql.graftbridge.Bridge.column(expr))
      .filter(col("cd_fp").isNotNull)
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n"), sum(col("cd_fp")).as("cd_fp_sum"))
      .select(col("centroid_id"), col("n"),
        round(col("cd_fp_sum") / col("n") / 1e7, 4).as("mean_cd"),
        col("cd_fp_sum"), lit(modelFp).as("model_fp"))
  }

  /** The pre-kernel relational drift-stats pipeline — the fallback
    * for degenerate codebook geometry and the parity spec's
    * reference: posexplode × broadcast-LUT join × (cell, id)
    * re-aggregation, value-identical to the fused kernel by the
    * equivalence spelled there. */
  private[operators] def ivfPqDriftStatsRelational(
      spark: SparkSession, booksLoc: String, cents: DataFrame,
      codes: DataFrame, idCol: String, modelFp: Long): DataFrame = {
    val cb = readBooks(spark, booksLoc)
      .select(col("subspace"), col("code"), col("cvec").as("bvec"))
    val lut = cb.crossJoin(broadcast(
        cents.select(col("centroid_id"), col("cvec"))))
      .withColumn("_sublen", size(col("bvec")))
      .withColumn("_cs", slice(col("cvec"),
        (col("subspace") * col("_sublen") + 1).cast("int"),
        col("_sublen").cast("int")))
      .select(col("centroid_id"), col("subspace"), col("code"),
        floor(guardedIp(col("bvec"), col("_cs"), "ivfPqDriftStats")
          * 1e7 + 0.5).cast("long").as("ip_fp"),
        floor(VectorFns.dot(col("bvec"), col("bvec")) * 1e7 + 0.5)
          .cast("long").as("nn_fp"))
    val cnorm = cents.select(col("centroid_id"),
      VectorFns.norm(col("cvec")).as("_cnorm"))
    codes
      .select(col(idCol), col("centroid_id"),
        posexplode(col("codes")).as(Seq("_pos", "code")))
      .withColumn("subspace", col("_pos").cast("long"))
      .join(broadcast(lut), Seq("centroid_id", "subspace", "code"))
      .groupBy(col("centroid_id"), col(idCol))
      .agg(sum(col("ip_fp")).as("_ips"), sum(col("nn_fp")).as("_nns"))
      .join(broadcast(cnorm), Seq("centroid_id"))
      .withColumn("cd_fp", floor((lit(1.0) -
          (col("_ips") / 1e7) /
          (sqrt(col("_nns") / 1e7) * col("_cnorm"))) * 1e7 + 0.5)
        .cast("long"))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n"), sum(col("cd_fp")).as("cd_fp_sum"))
      .select(col("centroid_id"), col("n"),
        round(col("cd_fp_sum") / col("n") / 1e7, 4).as("mean_cd"),
        col("cd_fp_sum"), lit(modelFp).as("model_fp"))
  }

  /** The PQ layout's drift-guarded maintenance loop — the
    * [[Similarity.ivfRefreshOrRecenter]] shape with BOTH model
    * artifacts retrained on breach: refresh cell-incrementally
    * (codebooks + centroids fixed), gauge drift from the codes alone
    * ([[ivfPqDriftStats]]), and when a gauge breaches its fit-time
    * baseline (same relative triggers), refit centroids AND codebooks
    * on the current snapshot and rebuild via [[ivfPqRebuildMvcc]]
    * (retrained books sealed in the SAME manifest as the re-encoded
    * cells — the one commit protocol). Returns (centroids to use
    * from here on, baseline gauges for the next wave, recentered?).
    * Each wave ends with a vacuum at `historyRetention` (floored at
    * 2 kept generations). The carried `prevStats` frame is
    * MODEL-SEALED over BOTH artifacts (centroids ⊕ codebooks —
    * [[ivfPqDriftStats]] stamps `model_fp`); a carry across either
    * retrain fails loudly ([[Similarity.requireSameModel]]). */
  def ivfPqRefreshOrRecenter(
      spark: SparkSession, path: String, cents: DataFrame,
      newSnap: DataFrame, changes: DataFrame, idCol: String,
      vecCol: String, baseline: (Long, Long),
      kCells: Int, m: Int, k: Int, seed: Long = 42L,
      cdFactorX100: Long = 115L, skewFactorX100: Long = 175L,
      prevStats: Option[DataFrame] = None,
      historyRetention: Int = 0)
      : (DataFrame, (Long, Long), Boolean, DataFrame) = {
    val dirty = ivfPqRefreshIncremental(spark, path, cents, newSnap,
      changes, idCol, vecCol)
    val fpNow = Similarity.centroidFingerprint(cents) ^
      booksFingerprintAt(spark, governingBooksLoc(spark, path))
    // delta-bounded gauges under a carried stats frame — the
    // [[Similarity.ivfRefreshOrRecenter]] discipline, PQ flavor
    // (stats from the codes alone, so the dirty-cell rescan is the
    // pruned LUT fold); eagerly pinned for the same reason (a lazy
    // carry would re-read rewritten cells next wave)
    val stats = (prevStats.map(Similarity.requireSameModel(_, fpNow,
        "ivfPqRefreshOrRecenter")) match {
      case Some(prev) if dirty.nonEmpty =>
        prev.filter(!col("centroid_id").isin(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(
              dirty.toArray): _*))
          .unionByName(ivfPqDriftStats(spark, path, cents, idCol,
            Some(dirty)))
      case Some(prev) => prev
      case None => ivfPqDriftStats(spark, path, cents, idCol)
    }).localCheckpoint()
    val drifted = Similarity.driftBreached(
      Similarity.ivfDriftGauges(stats),
      baseline, cdFactorX100, skewFactorX100)
    val out =
      if (!drifted) (cents, baseline, false, stats)
      else {
        val cents2 = Similarity
          .learnedCentroids(newSnap, vecCol, kCells, seed)
          .localCheckpoint()
        ivfPqRebuildMvcc(spark, path, newSnap, cents2, idCol, vecCol,
          m, k, modelGen = 0, seed = seed)
        val stats2 = ivfPqDriftStats(spark, path, cents2, idCol)
          .localCheckpoint()
        (cents2, Similarity.ivfDriftGauges(stats2), true, stats2)
      }
    // an all-unchanged diff on a legacy layout seals nothing — only
    // vacuum once a manifest exists
    if (SegmentManifest.generations(spark, s"$path/codes").nonEmpty)
      Similarity.ivfVacuumQuantized(spark, s"$path/codes",
        math.max(historyRetention + 1, 2),
        Seq(SegmentManifest.CellLayout, SegmentManifest.BooksLayout))
    out
  }

  /** Residual-encodes vectors through FIXED written artifacts
    * (codebooks + centroids): cosine cell assignment (scale-
    * invariant), residual = unit vector − cell centroid, codes via
    * the shared argmin — the [[ivfPqWriteIndexResidual]] derivation
    * as ONE reusable definition, so the residual refresh and its
    * from-scratch parity checks can never drift on it. Returns
    * (idCol, codes, centroid_id); zero-norm rows drop, as at write. */
  def encodeResidual(vectors: DataFrame, cents: DataFrame,
                     idCol: String, vecCol: String,
                     codebooks: DataFrame, m: Int): DataFrame =
    encodeResidualRows(vectors, cents, idCol, vecCol, bookRows(codebooks),
      m)

  /** [[encodeResidual]] over already-collected codebook rows. */
  private def encodeResidualRows(vectors: DataFrame, cents: DataFrame,
                                 idCol: String, vecCol: String,
                                 books: Seq[BookRow], m: Int)
      : DataFrame = {
    val res = unitVectors(vectors, vecCol, Seq(idCol))
      .join(Similarity.ivfAssignCosine(vectors, cents, idCol, vecCol),
        Seq(idCol))
      .join(broadcast(cents), Seq("centroid_id"))
      .select(col(idCol), col("centroid_id"),
        zip_with(col("_uv"), col("cvec"), (a, b) => a - b).as("_res"))
    pqEncodeRows(res, idCol, "_res", books, m)
      .join(res.select(col(idCol), col("centroid_id")), Seq(idCol))
      .select(col(idCol), col("codes"), col("centroid_id"))
  }

  /** Residual IVF-PQ — FAISS's default accuracy rung: each vector is
    * stored as (cell, PQ codes of the RESIDUAL uv − cell centroid).
    * Residuals concentrate in a much tighter distribution than the
    * vectors themselves, so the same m·k codebook budget spends its
    * entries where the data actually is — the measured recall lift in
    * PLANS.md round-11. Scoring stays pure ADC:
    *
    *   q·v ≈ q·c_cell + Σ_j q_j·cb_j[code_j]
    *
    * one fixed-point per-cell constant (nProbe values, driver-free)
    * plus the same integer lookup sums — still no float vector read
    * at probe time. */
  def ivfPqWriteIndexResidual(vectors: DataFrame, cents: DataFrame,
                              idCol: String, vecCol: String, m: Int,
                              k: Int, path: String,
                              seed: Long = 42L): Unit = {
    val spark = vectors.sparkSession
    val unit = unitVectors(vectors, vecCol, Seq(idCol))
    // cosine assignment is scale-invariant — raw vectors assign to the
    // same cell their unit forms would
    val assign = Similarity.ivfAssignCosine(vectors, cents, idCol,
      vecCol)
    // cached: the residual frame feeds the codebook fit AND the encode
    val res = cached(unit.join(assign, Seq(idCol))
      .join(broadcast(cents), Seq("centroid_id"))
      .select(col(idCol), col("centroid_id"),
        zip_with(col("_uv"), col("cvec"), (a, b) => a - b).as("_res")))
    pqTrainRaw(res, "_res", m, k, seed)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    val cbRead = readBooks(spark, s"$path/codebooks")
    pqEncodeRaw(res, idCol, "_res", cbRead, m)
      .join(res.select(col(idCol), col("centroid_id")), Seq(idCol))
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/codes")
    res.unpersist()
  }

  /** Probe a residual IVF-PQ index: partition pruning as
    * [[ivfPqProbe]], then integer ADC on the residual codes PLUS the
    * probed cells' fixed-point q·centroid constants. */
  def ivfPqProbeResidual(spark: SparkSession, path: String,
                         cents: DataFrame, queryVec: DataFrame,
                         idCol: String, k: Int,
                         nProbe: Int): DataFrame = {
    val probed = Similarity.probedCellIds(cents, queryVec, nProbe)
    val probedSeq =
      scala.collection.immutable.ArraySeq.unsafeWrapArray(probed)
    val cb = readBooks(spark, s"$path/codebooks")
    val m = mOf(spark, s"$path/codebooks")
    val cellConst = cents.filter(col("centroid_id").isin(probedSeq: _*))
      .crossJoin(broadcast(queryVec))
      .select(col("centroid_id"),
        floor(VectorFns.dot(col("cvec"), col("qvec")) * 1e7 + 0.5)
          .cast("long").as("cell_fp"))
    val codes = Similarity.readQuantizedIndex(spark, s"$path/codes")
      .filter(col("centroid_id").isin(probedSeq: _*))
      .withColumn("centroid_id", col("centroid_id").cast("long"))
    // same fused treatment as [[adcScoreFused]] — the residual sum is
    // the per-row LUT fold; the per-(id, cell) groupBy is kept for
    // exact parity, the cell constant joins as before
    adcLutDriver(cb, queryVec, m) match {
      case Some(lut) =>
        codes
          .withColumn("_row_fp",
            org.apache.spark.sql.graftbridge.Bridge.column(
              graft.functions.CodeLutSumExpr(
                org.apache.spark.sql.graftbridge.Bridge
                  .expression(col("codes")), lut)))
          .filter(col("_row_fp").isNotNull)
          .groupBy(col(idCol), col("centroid_id"))
          .agg(sum(col("_row_fp")).as("_res_fp"))
          .join(broadcast(cellConst), Seq("centroid_id"))
          .select(col(idCol),
            round((col("_res_fp") + col("cell_fp")) / 1e7, 4)
              .as("adc_score"))
          .orderBy(col("adc_score").desc, col(idCol))
          .limit(k)
      case None =>
        codes
          .select(col(idCol), col("centroid_id"),
            posexplode(col("codes")).as(Seq("_pos", "code")))
          .withColumn("subspace", col("_pos").cast("long"))
          .join(broadcast(adcLut(cb, queryVec, m)),
            Seq("subspace", "code"))
          .groupBy(col(idCol), col("centroid_id"))
          .agg(sum(col("ip_fp")).as("_res_fp"))
          .join(broadcast(cellConst), Seq("centroid_id"))
          .select(col(idCol),
            round((col("_res_fp") + col("cell_fp")) / 1e7, 4)
              .as("adc_score"))
          .orderBy(col("adc_score").desc, col(idCol))
          .limit(k)
    }
  }

  /** Batch residual probe (the recall-panel scorer): per-query probed
    * cells + per-(query, cell) constants, relationally. */
  def ivfPqProbeResidualMulti(spark: SparkSession, path: String,
                              cents: DataFrame, queries: DataFrame,
                              idCol: String, k: Int,
                              nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = readBooks(spark, s"$path/codebooks")
    val m = mOf(spark, s"$path/codebooks")
    val wc = Window.partitionBy(col("qid"))
      .orderBy(col("_cd"), col("centroid_id"))
    val probed = cents.crossJoin(broadcast(queries))
      .withColumn("_cd",
        lit(1.0) - VectorFns.cosine(col("cvec"), col("qvec")))
      .withColumn("_rn", row_number().over(wc))
      .filter(col("_rn") <= nProbe)
      .select(col("qid"), col("centroid_id"),
        floor(VectorFns.dot(col("cvec"), col("qvec")) * 1e7 + 0.5)
          .cast("long").as("cell_fp"))
    val codes = Similarity.readQuantizedIndex(spark, s"$path/codes")
      .withColumn("centroid_id", col("centroid_id").cast("long"))
      .join(broadcast(probed), Seq("centroid_id"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc_score").desc, col(idCol))
    // fused residual sum (same treatment as [[adcScoreMultiFused]];
    // the per-(qid, id, cell_fp) groupBy and the cell constant stay)
    adcLutMultiDriver(cb, queries, m) match {
      case Some((qids, vals, pres)) =>
        codes
          .withColumn("_row_fp",
            org.apache.spark.sql.graftbridge.Bridge.column(
              graft.functions.QidCodeLutSumExpr(
                org.apache.spark.sql.graftbridge.Bridge
                  .expression(col("qid")),
                org.apache.spark.sql.graftbridge.Bridge
                  .expression(col("codes")),
                qids, vals, pres)))
          .filter(col("_row_fp").isNotNull)
          .groupBy(col("qid"), col(idCol), col("cell_fp"))
          .agg(sum(col("_row_fp")).as("_res_fp"))
          .select(col("qid"), col(idCol),
            round((col("_res_fp") + col("cell_fp")) / 1e7, 4)
              .as("adc_score"))
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= k)
          .select(col("qid"), col(idCol), col("adc_score"))
      case None =>
        codes
          .select(col(idCol), col("qid"), col("cell_fp"),
            posexplode(col("codes")).as(Seq("_pos", "code")))
          .withColumn("subspace", col("_pos").cast("long"))
          .join(broadcast(adcLutMulti(cb, queries, m)),
            Seq("qid", "subspace", "code"))
          .groupBy(col("qid"), col(idCol), col("cell_fp"))
          .agg(sum(col("ip_fp")).as("_res_fp"))
          .select(col("qid"), col(idCol),
            round((col("_res_fp") + col("cell_fp")) / 1e7, 4)
              .as("adc_score"))
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= k)
          .select(col("qid"), col(idCol), col("adc_score"))
    }
  }

  /** Driver-side [[adcLutMulti]] for the fused panel scorer: one
    * table per qid ([[adcLutDriver]]'s derivation per panel row —
    * bit-identical values, same guards/messages; duplicate panel rows
    * fold into their qid's table exactly as the relational LUT's
    * duplicate rows summed in the aggregate). None when qid is not
    * LongType or the book geometry is degenerate — callers fall back
    * to the relational shape. */
  private def adcLutMultiDriver(cb: DataFrame, queries: DataFrame,
                                m: Int)
      : Option[(IndexedSeq[Long],
        IndexedSeq[IndexedSeq[IndexedSeq[Long]]],
        IndexedSeq[IndexedSeq[Boolean]])] = {
    if (queries.schema.fields.find(_.name == "qid")
        .map(_.dataType)
        .getOrElse(org.apache.spark.sql.types.NullType)
          != org.apache.spark.sql.types.LongType) return None
    val cbRows = cb.select(col("subspace"), col("code"), col("cvec"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[scala.collection.Seq[Double]](2).toArray))
    val maxSub = if (cbRows.isEmpty) -1L else cbRows.map(_._1).max
    val minSub = if (cbRows.isEmpty) 0L else cbRows.map(_._1).min
    val maxCode = if (cbRows.isEmpty) -1L else cbRows.map(_._2).max
    val minCode = if (cbRows.isEmpty) 0L else cbRows.map(_._2).min
    if (minSub < 0 || maxSub >= 1024 || minCode < 0 ||
        maxCode >= 65536) return None
    val mSub = math.max(maxSub.toInt + 1, 0)
    val kCode = math.max(maxCode.toInt + 1, 0)
    val pres = Array.fill(mSub)(new Array[Boolean](kCode))
    cbRows.foreach { case (s, c, _) => pres(s.toInt)(c.toInt) = true }
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val perQid =
      new java.util.LinkedHashMap[Long, Array[Array[Long]]]()
    queries.select(col("qid"), col("qvec")).collect().foreach { r =>
      val qid = r.getLong(0)
      val qvec = r.getAs[scala.collection.Seq[Double]](1).toArray
      if (qvec.length % m != 0) throw new RuntimeException(
        s"adcLut: vector dim ${qvec.length} not divisible by m=$m")
      val sublen = qvec.length / m
      val lut = perQid.computeIfAbsent(qid,
        _ => Array.fill(mSub)(new Array[Long](kCode)))
      cbRows.foreach { case (s, c, bvec) =>
        val start = (s * sublen).toInt
        val qs = qvec.slice(start, start + sublen)
        if (bvec.length != qs.length) throw new RuntimeException(
          s"adcLut: codebook entry length ${bvec.length} " +
            s"!= subvector length ${qs.length}")
        lut(s.toInt)(c.toInt) +=
          math.floor(dotD(bvec, qs) * 1e7 + 0.5).toLong
      }
    }
    import scala.collection.immutable.ArraySeq.{unsafeWrapArray => wrap}
    val qids = scala.jdk.CollectionConverters
      .SetHasAsScala(perQid.keySet()).asScala.toIndexedSeq
    val vals = qids.map(q => wrap(perQid.get(q).map(a =>
      wrap(a): IndexedSeq[Long])): IndexedSeq[IndexedSeq[Long]])
    Some((qids, vals,
      wrap(pres.map(a => wrap(a): IndexedSeq[Boolean]))))
  }

  /** [[adcScoreMulti]] with the per-row fused kernel
    * ([[graft.functions.QidCodeLutSumExpr]]) — the panel analog of
    * [[adcScoreFused]]: a qid-less codes relation fans out by a
    * crossJoin with the DISTINCT panel qids (the explode+join fanned
    * it m× wider), a qid-carrying one scores in place; per-(qid, id)
    * groupBy kept, NULL (unmatched) rows filtered. Falls back to the
    * relational shape on degenerate geometry or a non-long qid. */
  private def adcScoreMultiFused(codes: DataFrame, cb: DataFrame,
                                 queries: DataFrame, m: Int,
                                 idCol: String, k: Int): DataFrame =
    adcLutMultiDriver(cb, queries, m) match {
      case Some((qids, vals, pres)) =>
        import org.apache.spark.sql.expressions.Window
        val spark = codes.sparkSession
        import spark.implicits._
        val withQid =
          if (codes.columns.contains("qid")) codes
          else codes.crossJoin(broadcast(qids.toDF("qid")))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("adc_score").desc, col(idCol))
        withQid
          .withColumn("_ips",
            org.apache.spark.sql.graftbridge.Bridge.column(
              graft.functions.QidCodeLutSumExpr(
                org.apache.spark.sql.graftbridge.Bridge
                  .expression(col("qid")),
                org.apache.spark.sql.graftbridge.Bridge
                  .expression(col("codes")),
                qids, vals, pres)))
          .filter(col("_ips").isNotNull)
          .groupBy(col("qid"), col(idCol))
          .agg(round(sum(col("_ips")) / 1e7, 4).as("adc_score"))
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= k)
          .select(col("qid"), col(idCol), col("adc_score"))
      case None =>
        adcScoreMulti(codes, adcLutMulti(cb, queries, m), idCol, k)
    }

  /** [[adcLut]] for a query panel: |panel|·m·k rows keyed by qid. */
  private def adcLutMulti(cb: DataFrame, queries: DataFrame,
                          m: Int): DataFrame =
    cb.crossJoin(broadcast(queries))
      .withColumn("_sublen", subLen(col("qvec"), m, "adcLut"))
      .withColumn("_qs", slice(col("qvec"),
        (col("subspace") * col("_sublen") + 1).cast("int"),
        col("_sublen").cast("int")))
      .select(col("qid"), col("subspace"), col("code"),
        floor(guardedIp(col("cvec"), col("_qs"), "adcLut") * 1e7 + 0.5)
          .cast("long").as("ip_fp"))

  /** [[adcScore]] for a panel: the lookup join fans each code row out
    * per query (or per that query's probed cells when `codes` already
    * carries a qid), top-k per qid via window. */
  private def adcScoreMulti(codes: DataFrame, lut: DataFrame,
                            idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hasQid = codes.columns.contains("qid")
    val joinKeys =
      if (hasQid) Seq("qid", "subspace", "code")
      else Seq("subspace", "code")
    val keep =
      if (hasQid) Seq(col(idCol), col("qid")) else Seq(col(idCol))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc_score").desc, col(idCol))
    codes
      .select(keep :+ posexplode(col("codes")).as(Seq("_pos", "code")): _*)
      .withColumn("subspace", col("_pos").cast("long"))
      .join(broadcast(lut), joinKeys)
      .groupBy(col("qid"), col(idCol))
      .agg(round(sum(col("ip_fp")) / 1e7, 4).as("adc_score"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("qid"), col(idCol), col("adc_score"))
  }
}
