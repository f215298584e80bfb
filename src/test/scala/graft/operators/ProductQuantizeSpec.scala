package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFns

class ProductQuantizeSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val base = emb.filter(col("vec_id") =!= 0)

  test("codebooks: m subspaces x k codes of dim/m entries, seeded") {
    val cb = ProductQuantize.pqTrain(base, "embedding", m = 8, k = 16)
      .collect()
    assert(cb.length == 8 * 16)
    assert(cb.map(_.getAs[Long]("subspace")).toSet == (0L until 8L).toSet)
    assert(cb.forall(_.getAs[scala.collection.Seq[Double]]("cvec").length == 8))
    // determinism: a second fit reproduces every centroid exactly
    val cb2 = ProductQuantize.pqTrain(base, "embedding", m = 8, k = 16)
      .collect()
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("subspace"), r.getAs[Long]("code")) ->
        r.getAs[scala.collection.Seq[Double]]("cvec")).toMap
    assert(keyed(cb) == keyed(cb2))
  }

  test("codes: every vector gets m in-range codes; argmin is correct") {
    val cb = ProductQuantize.pqTrain(base, "embedding", m = 8, k = 16)
    val codes = ProductQuantize
      .pqEncode(base, "vec_id", "embedding", cb, m = 8)
      .collect()
    assert(codes.length == base.count())
    assert(codes.forall(_.getAs[scala.collection.Seq[Long]]("codes").length == 8))
    assert(codes.forall(
      _.getAs[scala.collection.Seq[Long]]("codes").forall(c => c >= 0 && c < 16)))
    // argmin re-checked locally for one vector against the collected
    // codebooks (squared L2 on the unit-normalized vector)
    val cbm = cb.collect().map(r =>
      (r.getAs[Long]("subspace"), r.getAs[Long]("code")) ->
        r.getAs[scala.collection.Seq[Double]]("cvec")).toMap
    val row = emb.filter(col("vec_id") === 1)
      .select(VectorFns.toDouble(col("embedding"))).head()
      .getAs[scala.collection.Seq[Double]](0)
    val n = math.sqrt(row.map(x => x * x).sum)
    val uv = row.map(_ / n)
    val expected = (0 until 8).map { j =>
      val sv = uv.slice(j * 8, j * 8 + 8)
      (0L until 16L).minBy { c =>
        val cv = cbm((j.toLong, c))
        (sv.zip(cv).map { case (a, b) =>
          val d = a - b; d * d
        }.sum, c)
      }
    }
    val got = codes.find(_.getAs[Long]("vec_id") == 1L).get
      .getAs[scala.collection.Seq[Long]]("codes")
    assert(got == expected)
  }

  test("ADC probe matches a local fixed-point recompute") {
    val path = scratch("pq_spec").toString
    ProductQuantize.pqWriteIndex(base, "vec_id", "embedding",
      m = 8, k = 16, path)
    val qv = emb.filter(col("vec_id") === 0)
      .select(VectorFns.toDouble(col("embedding")).as("qvec"))
    val got = ProductQuantize.pqProbeADC(spark, path, qv, "vec_id", 10)
      .as[(Long, Double)].collect().toSeq
    // local replay off the written artifacts
    val cbm = spark.read.parquet(s"$path/codebooks").collect().map(r =>
      (r.getAs[Long]("subspace"), r.getAs[Long]("code")) ->
        r.getAs[scala.collection.Seq[Double]]("cvec")).toMap
    val q = qv.head().getAs[scala.collection.Seq[Double]]("qvec")
    val lut = cbm.map { case ((j, c), cv) =>
      val qs = q.slice(j.toInt * 8, j.toInt * 8 + 8)
      (j, c) -> math.floor(
        cv.zip(qs).map { case (a, b) => a * b }.sum * 1e7 + 0.5).toLong
    }
    val expected = spark.read.parquet(s"$path/codes").collect()
      .map { r =>
        val id = r.getAs[Long]("vec_id")
        val fp = r.getAs[scala.collection.Seq[Long]]("codes").zipWithIndex
          .map { case (c, j) => lut((j.toLong, c)) }.sum
        // Spark's round(col, 4): BigDecimal.valueOf(double) HALF_UP
        id -> java.math.BigDecimal.valueOf(fp / 1e7)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      }
      .sortBy { case (id, s) => (-s, id) }.take(10).toSeq
    assert(got == expected)
  }

  test("ADC ranking tracks exact cosine (panel recall floor)") {
    // PANEL recall, not single-query (single-query overlap was
    // measured luck-dominated — the q75 lesson): 10 queries × top-10
    // against exact brute-force cosine. Measured 28-35/100 on this
    // isotropic corpus with the k=16 4-bit codebooks; floor set well
    // under the band. PLANS.md round-11 has the full 50-query sweep.
    val path = scratch("pq_spec2").toString
    val panel = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"),
        VectorFns.toDouble(col("embedding")).as("qvec"))
    val rest = emb.filter(col("vec_id") >= 10)
    ProductQuantize.pqWriteIndex(rest, "vec_id", "embedding",
      m = 8, k = 16, path)
    val adc = ProductQuantize
      .pqProbeADCMulti(spark, path, panel, "vec_id", 10)
      .select(col("qid"), col("vec_id"))
    val exact = Similarity.topKMulti(rest, panel, "vec_id",
        "embedding", 10)
      .select(col("qid"), col("vec_id"))
    val overlap = adc.join(exact, Seq("qid", "vec_id")).count()
    assert(overlap >= 18L,
      s"ADC panel recall only $overlap/100 against exact top-10")
  }

  test("exact-refine rung: equals brute force over its own candidate " +
      "set, per-query recall dominates the raw ADC cut, refine<k " +
      "guarded") {
    val path = scratch("pq_refine").toString
    val cents = Similarity.learnedCentroids(base, "embedding", k = 8)
    ProductQuantize.ivfPqWriteIndex(base, cents, "vec_id", "embedding",
      m = 8, k = 16, path)
    (0L until 6L).foreach { q =>
      val qv = emb.filter(col("vec_id") === q)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      val truth = Similarity.topK(base, qv, "vec_id", "embedding", 10)
        .select(col("vec_id")).as[Long].collect().toSet
      val adcTop = ProductQuantize.ivfPqProbe(spark, path, cents, qv,
          "vec_id", k = 10, nProbe = 3)
        .select(col("vec_id")).as[Long].collect().toSet
      val candIds = ProductQuantize.ivfPqProbe(spark, path, cents, qv,
          "vec_id", k = 50, nProbe = 3)
        .select(col("vec_id")).as[Long].collect().toSet
      val refined = ProductQuantize.ivfPqProbeRefined(spark, path,
          cents, qv, base, "vec_id", "embedding", k = 10, nProbe = 3,
          refine = 50)
        .as[(Long, Double)].collect().toSeq
      // refine IS brute force restricted to the candidate set
      val bruteOverCand = Similarity.topK(
          base.filter(col("vec_id").isin(candIds.toSeq: _*)), qv,
          "vec_id", "embedding", 10)
        .as[(Long, Double)].collect().toSeq
      assert(refined == bruteOverCand,
        s"q=$q: refine diverged from brute force over its candidates")
      // the dominance proof, pinned per query: every true-top-10
      // member the candidate set holds survives the exact re-rank, so
      // refine hits ⊇ ADC hits
      val adcHits = (adcTop & truth).size
      val refHits = (refined.map(_._1).toSet & truth).size
      assert(refHits >= adcHits,
        s"q=$q: refine recall $refHits < ADC recall $adcHits")
      assert((adcTop & truth).subsetOf(refined.map(_._1).toSet),
        s"q=$q: an ADC hit was dropped by the exact re-rank")
    }
    val qv0 = emb.filter(col("vec_id") === 0)
      .select(VectorFns.toDouble(col("embedding")).as("qvec"))
    val err = intercept[IllegalArgumentException] {
      ProductQuantize.ivfPqProbeRefined(spark, path, cents, qv0, base,
        "vec_id", "embedding", k = 10, nProbe = 3, refine = 5)
    }
    assert(err.getMessage.contains("refine"))
  }

  test("IVF-PQ probe prunes partitions and converges to the flat scan") {
    val flatPath = scratch("pq_spec3_flat").toString
    val ivfPath = scratch("pq_spec3_ivf").toString
    ProductQuantize.pqWriteIndex(base, "vec_id", "embedding",
      m = 8, k = 16, flatPath)
    val cents = Similarity.learnedCentroids(base, "embedding", k = 8)
    ProductQuantize.ivfPqWriteIndex(base, cents, "vec_id", "embedding",
      m = 8, k = 16, ivfPath)
    val qv = emb.filter(col("vec_id") === 0)
      .select(VectorFns.toDouble(col("embedding")).as("qvec"))
    // pruning is directory-level, visible as PartitionFilters
    val pruned = ProductQuantize.ivfPqProbe(spark, ivfPath, cents, qv,
      "vec_id", k = 10, nProbe = 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      s"IVF-PQ probe did not prune partitions:\n${plan.take(1500)}")
    // results come only from the probed cells
    val probedIds = Similarity.probedCellIds(cents, qv, 2).toSet
    val cellOf = spark.read.parquet(s"$ivfPath/codes")
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    pruned.select(col("vec_id")).as[Long].collect()
      .foreach(id => assert(probedIds.contains(cellOf(id))))
    // probing EVERY cell reproduces the flat ADC scan exactly (same
    // codebooks seed, so same codes; pruning is the only difference)
    val all = ProductQuantize.ivfPqProbe(spark, ivfPath, cents, qv,
        "vec_id", k = 10, nProbe = 8)
      .as[(Long, Double)].collect().toSeq
    val flat = ProductQuantize.pqProbeADC(spark, flatPath, qv,
        "vec_id", 10)
      .as[(Long, Double)].collect().toSeq
    assert(all == flat)
  }

  test("residual probe matches a local recompute of both score terms") {
    val path = scratch("pq_spec4").toString
    val cents = Similarity.learnedCentroids(base, "embedding", k = 8)
    ProductQuantize.ivfPqWriteIndexResidual(base, cents, "vec_id",
      "embedding", m = 8, k = 16, path)
    val qv = emb.filter(col("vec_id") === 0)
      .select(VectorFns.toDouble(col("embedding")).as("qvec"))
    val got = ProductQuantize.ivfPqProbeResidual(spark, path, cents,
        qv, "vec_id", k = 10, nProbe = 8)
      .as[(Long, Double)].collect().toSeq
    // local replay: q·centroid constant + residual-codebook ADC sums
    val q = qv.head().getAs[scala.collection.Seq[Double]]("qvec")
    val cmap = cents.collect().map(r => r.getAs[Long]("centroid_id") ->
      r.getAs[scala.collection.Seq[Double]]("cvec")).toMap
    val cbm = spark.read.parquet(s"$path/codebooks").collect().map(r =>
      (r.getAs[Long]("subspace"), r.getAs[Long]("code")) ->
        r.getAs[scala.collection.Seq[Double]]("cvec")).toMap
    val lut = cbm.map { case ((j, c), cv) =>
      val qs = q.slice(j.toInt * 8, j.toInt * 8 + 8)
      (j, c) -> math.floor(
        cv.zip(qs).map { case (a, b) => a * b }.sum * 1e7 + 0.5).toLong
    }
    val expected = spark.read.parquet(s"$path/codes").collect()
      .map { r =>
        val id = r.getAs[Long]("vec_id")
        val cid = r.getAs[Number]("centroid_id").longValue()
        val cellFp = math.floor(
          cmap(cid).zip(q).map { case (a, b) => a * b }.sum * 1e7
            + 0.5).toLong
        val resFp = r.getAs[scala.collection.Seq[Long]]("codes")
          .zipWithIndex.map { case (c, j) => lut((j.toLong, c)) }.sum
        id -> java.math.BigDecimal.valueOf((cellFp + resFp) / 1e7)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      }
      .sortBy { case (id, s) => (-s, id) }.take(10).toSeq
    assert(got == expected)
  }

  test("bounded-sample fit: a binding cap still yields a full, " +
      "deterministic codebook") {
    // the 100 TB contract: the Lloyd's loop reads a seeded bounded
    // sample, never the corpus. base has ~499 distinct subvectors per
    // subspace; cap=100 forces the sample to actually bind (the gate
    // scales never do — there the filter is a provable no-op).
    val unit = base // pqTrainRaw needs a prepared column; reuse pqTrain
    val fit = () => ProductQuantize.pqTrainRaw(
      unit.select(VectorFns.toDouble(col("embedding")).as("_v")),
      "_v", m = 8, k = 16, seed = 42L, sampleCap = 100L)
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("subspace"), r.getAs[Long]("code")) ->
        r.getAs[scala.collection.Seq[Double]]("cvec")).toMap
    val a = keyed(fit().collect())
    assert(a.size == 8 * 16,
      s"sampled fit lost codebook entries: ${a.size}")
    // bit-identical across runs: the sample is a pure function of
    // (corpus, seed), not of partitioning or scheduling
    assert(a == keyed(fit().collect()))
    // and it genuinely differs from the unsampled fit — the cap bound
    // changed what the fit saw (≈100 of ~499 subvectors)
    val unsampled = keyed(ProductQuantize.pqTrainRaw(
      unit.select(VectorFns.toDouble(col("embedding")).as("_v")),
      "_v", m = 8, k = 16, seed = 42L).collect())
    assert(a != unsampled, "cap=100 sample did not bind")
  }

  test("encode/probe fail loudly on dimension or codebook mismatch") {
    import spark.implicits._
    val cb = ProductQuantize.pqTrain(base, "embedding", m = 8, k = 16)
    def msgHas(e: Exception, s: String): Boolean =
      e.getMessage != null && e.getMessage.contains(s) ||
        e.getCause != null && e.getCause.getMessage != null &&
          e.getCause.getMessage.contains(s)
    // an m that disagrees with the codebook's subspace set is caught
    // at the DRIVER (coverage check), before any row is scored — a
    // missing subspace would otherwise argmin an empty entry list
    // into null codes
    for (badM <- Seq(7, 4)) {
      val e = intercept[Exception] {
        ProductQuantize.pqEncode(base, "vec_id", "embedding", cb,
          m = badM).collect()
      }
      assert(msgHas(e, "must cover subspaces"), s"wrong error: $e")
    }
    // codebook matches m but the VECTOR dim does not divide by m:
    // the per-row subLen guard must raise, not silently truncate
    val dim60 = base.select(col("vec_id"),
      slice(VectorFns.toDouble(col("embedding")), 1, 60)
        .as("embedding"))
    val e1 = intercept[Exception] {
      ProductQuantize.pqEncode(dim60, "vec_id", "embedding", cb, m = 8)
        .collect()
    }
    assert(msgHas(e1, "not divisible"), s"wrong error: $e1")
    // m divides the vector dim but sublen 16 != the codebook's entry
    // length 8: the length-mismatch guard must fire instead of
    // zip_with silently dropping the overhang
    val dim128 = base.select(col("vec_id"),
      flatten(array(VectorFns.toDouble(col("embedding")),
        VectorFns.toDouble(col("embedding")))).as("embedding"))
    val e2 = intercept[Exception] {
      ProductQuantize.pqEncode(dim128, "vec_id", "embedding", cb, m = 8)
        .collect()
    }
    assert(msgHas(e2, "codebook entry length"), s"wrong error: $e2")
  }

  test("pqEncodeRaw native kernel: bit-parity with the HOF argmin " +
      "form (fold order, struct-min, ties to the smallest code) on " +
      "random vectors and a crafted equidistant tie") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = 2
    val entryLen = 2
    // sub 0 carries a deliberate tie for the zero vector: codes 0 and
    // 1 are equidistant (d = 1) — the struct-min must keep code 0
    val cbRows = Seq(
      (0L, 0L, Seq(1.0, 0.0)), (0L, 1L, Seq(-1.0, 0.0)),
      (1L, 0L, Seq(0.0, 2.0)), (1L, 1L, Seq(0.0, 1.0)))
    val cb = cbRows.toDF("subspace", "code", "cvec")
    val rnd = new scala.util.Random(7)
    val vecs = ((0L, Seq(0.0, 0.0, 0.0, 1.4)) +:
      (1L to 40L).map(i =>
        (i, Seq.fill(m * entryLen)(rnd.nextDouble() * 4 - 2))))
      .toDF("vec_id", "v")
    val got = ProductQuantize
      .pqEncodeRaw(vecs, "vec_id", "v", cb, m)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Long](1).toList)).toMap
    // the PRE-NATIVE reference, reconstructed expression for
    // expression: nested HOFs over the typedlit codebook
    val perSub: Seq[Seq[(Long, Seq[Double])]] =
      (0L until m.toLong).map(j => cbRows.filter(_._1 == j)
        .map(t => (t._2, t._3)).sortBy(_._1))
    val cbLit = typedlit(perSub)
    val ref = vecs.select(col("vec_id"),
      transform(sequence(lit(0L), lit(m.toLong - 1)), j => {
        val sv = slice(col("v"),
          (j * lit(entryLen) + 1).cast("int"), lit(entryLen))
        val scored = transform(element_at(cbLit, (j + 1).cast("int")),
          e => struct(graft.functions.VectorFns.sqDist(sv, e("_2"))
            .as("d"), e("_1").as("c")))
        array_min(scored)("c")
      }).as("codes"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Long](1).toList)).toMap
    assert(got == ref, s"native != HOF: " +
      s"${got.toSeq.sortBy(_._1).take(5)} vs " +
      s"${ref.toSeq.sortBy(_._1).take(5)}")
    // the tie: zero subvector in subspace 0 keeps the SMALLER code
    assert(got(0L).head == 0L, s"tie broke upward: ${got(0L)}")
  }

  test("native kernels COMPILE under codegen — no silent interpreted " +
      "fallback (janino takes no generics/autoboxing; the r20 " +
      "mid-round bench caught HashMap<Long, Integer> reference types " +
      "failing every stage they appeared in)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val path = scratch("pq_codegen").toString
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val cents = Similarity
        .learnedCentroids(base, "embedding", k = 4).localCheckpoint()
      ProductQuantize.ivfPqWriteIndex(base, cents, "vec_id",
        "embedding", m = 8, k = 16, path)
      val qv = base.filter(col("vec_id") === 7)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      val panel = base.filter(col("vec_id") % 41 === 1)
        .select(col("vec_id").as("qid"),
          VectorFns.toDouble(col("embedding")).as("qvec"))
      // PqCdFpExpr (drift kernel), QidCodeLutSumExpr (single and
      // panel ADC), PqEncodeCodesExpr (the write
      // path above already encoded through it with fallback off)
      assert(ProductQuantize
        .ivfPqDriftStats(spark, path, cents, "vec_id")
        .collect().nonEmpty)
      assert(ProductQuantize
        .ivfPqProbe(spark, path, cents, qv, "vec_id", k = 5,
          nProbe = 2).collect().nonEmpty)
      assert(ProductQuantize
        .ivfPqProbeMulti(spark, path, cents, panel, "vec_id", k = 3,
          nProbe = 2).collect().nonEmpty)
      // CosineArgminCellExpr
      val cl = (0L until 4L).map(c =>
        (c, Seq.fill(8)(c * 0.25 + 0.1)))
      assert(base.limit(50).select(
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.functions.CosineArgminCellExpr(
            org.apache.spark.sql.graftbridge.Bridge.expression(
              VectorFns.toDouble(col("embedding"))), cl)).as("cid"))
        .collect().length == 50)
      // the remaining kernel call sites: flat ADC (single and panel),
      // residual ADC (single and panel), and the MaxSim cell argmin
      val flat = scratch("pq_codegen_flat").toString
      ProductQuantize.pqWriteIndex(base, "vec_id", "embedding", m = 8,
        k = 16, flat)
      assert(ProductQuantize.pqProbeADC(spark, flat, qv, "vec_id", k = 5)
        .collect().nonEmpty)
      assert(ProductQuantize.pqProbeADCMulti(spark, flat, panel, "vec_id",
        k = 3).collect().nonEmpty)
      val res = scratch("pq_codegen_res").toString
      ProductQuantize.ivfPqWriteIndexResidual(base, cents, "vec_id",
        "embedding", m = 8, k = 16, res)
      assert(ProductQuantize.ivfPqProbeResidual(spark, res, cents, qv,
        "vec_id", k = 5, nProbe = 2).collect().nonEmpty)
      assert(ProductQuantize.ivfPqProbeResidualMulti(spark, res, cents,
        panel, "vec_id", k = 3, nProbe = 2).collect().nonEmpty)
      val toks = base.limit(60).select((col("vec_id") % 12).as("doc_id"),
        VectorFns.toDouble(col("embedding")).as("tokvec"))
      val qtoks = base.filter(col("vec_id") < 5).select(
        col("vec_id").as("qtok_id"),
        VectorFns.toDouble(col("embedding")).as("qvec"))
      assert(Similarity.maxSimTopKPruned(toks, qtoks, "doc_id", k = 3,
        kCells = 4, nProbe = 2).collect().nonEmpty)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("ADC probes: fused LUT kernel equals the relational " +
      "explode/join reference, single query and panel") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = 8
    val path = scratch("pq_adcpar").toString
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    ProductQuantize.pqWriteIndex(base, "vec_id", "embedding", m, 16,
      path)
    val cb = spark.read.parquet(s"$path/codebooks")
    val codes = spark.read.parquet(s"$path/codes")
    val qv = base.filter(col("vec_id") === 7)
      .select(VectorFns.toDouble(col("embedding")).as("qvec"))
    def lutOf(queries: org.apache.spark.sql.DataFrame,
              keep: Seq[String]) =
      cb.crossJoin(queries)
        .withColumn("_sublen", (size(col("qvec")) / m).cast("int"))
        .withColumn("_qs", slice(col("qvec"),
          (col("subspace") * col("_sublen") + 1).cast("int"),
          col("_sublen")))
        .select((keep.map(col) ++ Seq(col("subspace"), col("code"),
          floor(VectorFns.dot(col("cvec"), col("_qs")) * 1e7 + 0.5)
            .cast("long").as("ip_fp"))): _*)
    // single query
    val got1 = ProductQuantize
      .pqProbeADC(spark, path, qv, "vec_id", k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ref1 = codes
      .select(col("vec_id"), posexplode(col("codes"))
        .as(Seq("_pos", "code")))
      .withColumn("subspace", col("_pos").cast("long"))
      .join(lutOf(qv, Nil), Seq("subspace", "code"))
      .groupBy(col("vec_id"))
      .agg(round(sum(col("ip_fp")) / 1e7, 4).as("adc_score"))
      .orderBy(col("adc_score").desc, col("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got1 == ref1, s"single: $got1 vs $ref1")
    // panel
    val panel = base.filter(col("vec_id") % 37 === 1)
      .select(col("vec_id").as("qid"),
        VectorFns.toDouble(col("embedding")).as("qvec"))
    val got2 = ProductQuantize
      .pqProbeADCMulti(spark, path, panel, "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSeq.sorted
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("adc_score").desc, col("vec_id"))
    val ref2 = codes
      .select(col("vec_id"), posexplode(col("codes"))
        .as(Seq("_pos", "code")))
      .withColumn("subspace", col("_pos").cast("long"))
      .join(lutOf(panel, Seq("qid")), Seq("subspace", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(round(sum(col("ip_fp")) / 1e7, 4).as("adc_score"))
      .withColumn("_rn", row_number().over(wq))
      .filter(col("_rn") <= 5)
      .select(col("qid"), col("vec_id"), col("adc_score"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSeq.sorted
    assert(got2 == ref2, s"panel: ${got2.take(4)} vs ${ref2.take(4)}")
    assert(got2.nonEmpty)
  }

  test("ivfPqDriftStats fused kernel: bit-parity with the relational " +
      "explode/join/re-aggregate pipeline on a real index, full and " +
      "cell-pruned") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val path = scratch("pq_driftpar").toString
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val cents = Similarity
      .learnedCentroids(base, "embedding", k = 8)
      .localCheckpoint()
    ProductQuantize.ivfPqWriteIndex(base, cents, "vec_id", "embedding",
      m = 8, k = 16, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val booksLoc = ProductQuantize.governingBooksLoc(spark, path)
    def relational(cells: Option[Seq[Long]]) = {
      val all = Similarity.readQuantizedIndex(spark, s"$path/codes")
        .withColumn("centroid_id", col("centroid_id").cast("long"))
      val codes = cells match {
        case Some(cs) => all.filter(col("centroid_id").isin(cs: _*))
        case None => all
      }
      ProductQuantize.ivfPqDriftStatsRelational(spark, booksLoc, cents,
        codes, "vec_id", modelFp = 0L)
    }
    // model_fp is stamped identically by both entries (a lit) — pin
    // the KERNEL against the relational reference on the derived
    // columns, zeroing the fp on both sides
    def zeroFp(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("model_fp", lit(0L))
    val fullK = rows(zeroFp(
      ProductQuantize.ivfPqDriftStats(spark, path, cents, "vec_id")))
    val fullR = rows(relational(None))
    assert(fullK == fullR, s"full: ${fullK.take(3)} vs ${fullR.take(3)}")
    assert(fullK.nonEmpty)
    val some = fullK.map(_._1).take(3)
    val prunedK = rows(zeroFp(ProductQuantize.ivfPqDriftStats(spark,
      path, cents, "vec_id", Some(some))))
    val prunedR = rows(relational(Some(some)))
    assert(prunedK == prunedR)
    assert(prunedK.map(_._1) == some.sorted)
  }

  test("ivfPqRefreshIncremental: only dirty cells rewritten, content " +
      "equals a from-scratch re-encode through the same codebooks") {
    import spark.implicits._
    val snapA = base.select(col("vec_id"), col("embedding"))
    val cents = Similarity.learnedCentroids(snapA, "embedding", k = 16)
      .localCheckpoint()
    // confine the wave to keys of ONE cell (the largest), so the
    // incremental claim — untouched cells' files never rewritten — is
    // deterministic; the q141 gate row exercises the scattered
    // add/modify/remove mix at scale
    val assign = Similarity.ivfAssignCosine(snapA, cents, "vec_id",
      "embedding")
    val bigCell = assign.groupBy(col("centroid_id")).count()
      .orderBy(col("count").desc, col("centroid_id"))
      .head().getLong(0)
    val cellKeys = assign.filter(col("centroid_id") === bigCell)
      .select(col("vec_id")).as[Long].collect().sorted
    assert(cellKeys.length >= 5, s"fixture cell too small: ${cellKeys.length}")
    val modifyKeys = cellKeys.take(3).toSet
    val removeKeys = cellKeys.slice(3, 5).toSet
    val status = when(col("vec_id").isin(modifyKeys.toSeq: _*),
        lit("modified"))
      .when(col("vec_id").isin(removeKeys.toSeq: _*), lit("removed"))
      .otherwise(lit("unchanged"))
    val changes = snapA.select(col("vec_id"), status.as("status"))
    val snapB = snapA.filter(status =!= "removed")
      .select(col("vec_id"),
        when(status === "modified",
          transform(col("embedding"), x => (x + lit(0.05f))))
          .otherwise(col("embedding")).as("embedding"))
    val path = scratch("pqrefresh").toString
    ProductQuantize.ivfPqWriteIndex(snapA, cents, "vec_id",
      "embedding", m = 8, k = 16, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def cellMtimes(): Map[String, Long] = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/codes"))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("centroid_id="))
      .flatMap(d => fs.listStatus(d.getPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => s"${d.getPath.getName}/${f.getPath.getName}" ->
          f.getModificationTime))
      .toMap
    val before = cellMtimes()
    val dirty = ProductQuantize.ivfPqRefreshIncremental(spark, path,
      cents, snapB, changes, "vec_id", "embedding")
    assert(dirty.nonEmpty)
    // untouched cells: every pre-refresh file survives bit-unmoved
    val after = cellMtimes()
    val untouched = before.keys.filterNot(k =>
      dirty.exists(c => k.startsWith(s"centroid_id=$c/")))
    assert(untouched.nonEmpty, "refresh dirtied every cell — fixture " +
      "no longer exercises the incremental path")
    untouched.foreach { k =>
      assert(after.get(k).contains(before(k)),
        s"untouched cell file $k was rewritten")
    }
    // content parity: refreshed layout == from-scratch encode of the
    // final snapshot through the SAME codebooks + centroids
    val cb = spark.read.parquet(s"$path/codebooks")
    val expect = ProductQuantize.pqEncode(snapB, "vec_id", "embedding",
        cb, m = 8)
      .join(Similarity.ivfAssignCosine(snapB, cents, "vec_id",
        "embedding"), Seq("vec_id"))
      .select(col("vec_id"), col("codes"), col("centroid_id"))
    val got = Similarity.readQuantizedIndex(spark, s"$path/codes")
      .select(col("vec_id"), col("codes"),
        col("centroid_id").cast("long").as("centroid_id"))
    assert(got.exceptAll(expect).count() == 0 &&
      expect.exceptAll(got).count() == 0)
    // removed keys are gone, modified keys survive
    val ids = got.select(col("vec_id")).as[Long].collect().toSet
    assert(removeKeys.forall(k => !ids.contains(k)))
    assert(modifyKeys.forall(ids.contains))
  }

  test("ivfPqRefreshIncrementalResidual: fresh rows residual-encode " +
      "through the fixed artifacts; content equals the shared " +
      "from-scratch residual derivation") {
    import spark.implicits._
    val snapA = base.select(col("vec_id"), col("embedding"))
    val cents = Similarity.learnedCentroids(snapA, "embedding", k = 16)
      .localCheckpoint()
    val status = when(col("vec_id") % 9 === 1, lit("modified"))
      .when(col("vec_id") % 9 === 2, lit("removed"))
      .otherwise(lit("unchanged"))
    val changes = snapA.select(col("vec_id"), status.as("status"))
    val snapB = snapA.filter(status =!= "removed")
      .select(col("vec_id"),
        when(status === "modified",
          transform(col("embedding"), x => (x + lit(0.05f))))
          .otherwise(col("embedding")).as("embedding"))
    val path = scratch("pqrefresh_res").toString
    ProductQuantize.ivfPqWriteIndexResidual(snapA, cents, "vec_id",
      "embedding", m = 8, k = 16, path)
    val dirty = ProductQuantize.ivfPqRefreshIncrementalResidual(spark,
      path, cents, snapB, changes, "vec_id", "embedding")
    assert(dirty.nonEmpty)
    // the refreshed layout equals encodeResidual(snapB) through the
    // WRITTEN codebooks + the fixed centroids — survivors' residuals
    // (taken at write time) and fresh rows' (taken now) agree because
    // the centroids never moved
    val cb = spark.read.parquet(s"$path/codebooks")
    val expect = ProductQuantize.encodeResidual(snapB, cents, "vec_id",
      "embedding", cb, m = 8)
    val got = Similarity.readQuantizedIndex(spark, s"$path/codes")
      .select(col("vec_id"), col("codes"),
        col("centroid_id").cast("long").as("centroid_id"))
    assert(got.exceptAll(expect).count() == 0 &&
      expect.exceptAll(got).count() == 0)
    // and the residual probe still ranks over the refreshed layout
    val qv = Seq(Tuple1((0 until 64).map(i => 0.1 + 0.01 * i)))
      .toDF("qvec")
    assert(ProductQuantize.ivfPqProbeResidual(spark, path, cents, qv,
      "vec_id", k = 5, nProbe = 3).count() == 5)
  }

  test("residual encoding reconstructs tighter than direct PQ " +
      "on clustered data") {
    // the accuracy claim behind q131: with the SAME m·k budget, the
    // mean squared reconstruction error of (centroid + decoded
    // residual) is below direct PQ's — residuals concentrate the
    // codebooks on a tighter distribution. The claim holds where the
    // corpus HAS cluster structure (every real embedding corpus); on
    // the ISOTROPIC synthetic embeddings table it measurably does NOT
    // (residual 0.69 vs direct 0.54 MSE — subtracting barely-
    // informative centroids only adds cross-cell variance), so this
    // spec builds a clustered corpus: 8 seeded unit centers + 0.15
    // noise. PLANS.md round-11 records both measurements.
    val rnd = new scala.util.Random(42)
    def unitVec(d: Int) = {
      val v = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Array.fill(8)(unitVec(64))
    val clustered = (0 until 256).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat)
        .toSeq)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.learnedCentroids(clustered, "embedding",
      k = 8)
    val cmap = cents.collect().map(r => r.getAs[Long]("centroid_id") ->
      r.getAs[scala.collection.Seq[Double]]("cvec")).toMap
    val dirPath = scratch("pq_spec5_dir").toString
    val resPath = scratch("pq_spec5_res").toString
    ProductQuantize.pqWriteIndex(clustered, "vec_id", "embedding",
      m = 8, k = 16, dirPath)
    ProductQuantize.ivfPqWriteIndexResidual(clustered, cents, "vec_id",
      "embedding", m = 8, k = 16, resPath)
    def cb(path: String) = spark.read.parquet(s"$path/codebooks")
      .collect().map(r =>
        (r.getAs[Long]("subspace"), r.getAs[Long]("code")) ->
          r.getAs[scala.collection.Seq[Double]]("cvec")).toMap
    val dirCb = cb(dirPath); val resCb = cb(resPath)
    val unit = clustered.select(col("vec_id"),
        VectorFns.toDouble(col("embedding")).as("v"))
      .collect().map { r =>
        val v = r.getAs[scala.collection.Seq[Double]]("v")
        val n = math.sqrt(v.map(x => x * x).sum)
        r.getAs[Long]("vec_id") -> v.map(_ / n)
      }.toMap
    def decode(codes: scala.collection.Seq[Long],
               book: Map[(Long, Long), scala.collection.Seq[Double]]) =
      codes.zipWithIndex.flatMap { case (c, j) => book((j.toLong, c)) }
    def mse(path: String,
            book: Map[(Long, Long), scala.collection.Seq[Double]],
            addCentroid: Boolean): Double = {
      val rows = spark.read.parquet(s"$path/codes").collect()
      rows.map { r =>
        val id = r.getAs[Long]("vec_id")
        val dec0 = decode(
          r.getAs[scala.collection.Seq[Long]]("codes"), book)
        val dec = if (addCentroid) {
          val cid = r.getAs[Number]("centroid_id").longValue()
          dec0.zip(cmap(cid)).map { case (a, b) => a + b }
        } else dec0
        unit(id).zip(dec).map { case (a, b) =>
          val d = a - b; d * d
        }.sum
      }.sum / rows.length
    }
    val direct = mse(dirPath, dirCb, addCentroid = false)
    val residual = mse(resPath, resCb, addCentroid = true)
    assert(residual < direct,
      f"residual MSE $residual%.5f not below direct $direct%.5f")
  }

  test("a cells-only MVCC manifest (refresh history, no books entry) " +
      "resolves cells through the manifest in EVERY probe path — " +
      "deleted ids never resurrect from the stale hive tree") {
    import spark.implicits._
    val snapA = base.select(col("vec_id"), col("embedding"))
    val cents = Similarity.learnedCentroids(snapA, "embedding", k = 8)
      .localCheckpoint()
    val path = scratch("pq_mvcc_cellsonly").toString
    ProductQuantize.ivfPqWriteIndex(snapA, cents, "vec_id",
      "embedding", m = 8, k = 16, path)
    // one MVCC refresh wave removes a key and modifies another: the
    // rewritten cells land write-once under codes/_rev (invisible to
    // a plain parquet read of the codes root), and the sealed
    // manifest carries cells but NO books entries — exactly the
    // layout that used to fall back to the stale legacy read
    val ids = snapA.select(col("vec_id")).as[Long].collect().sorted
    val removedId = ids.head
    val modifiedId = ids(1)
    val status = when(col("vec_id") === removedId, lit("removed"))
      .when(col("vec_id") === modifiedId, lit("modified"))
      .otherwise(lit("unchanged"))
    val changes = snapA.select(col("vec_id"), status.as("status"))
    val snapB = snapA.filter(col("vec_id") =!= removedId)
      .select(col("vec_id"),
        when(col("vec_id") === modifiedId,
          transform(col("embedding"), x => (x + lit(0.05f))))
          .otherwise(col("embedding")).as("embedding"))
    val dirty = ProductQuantize.ivfPqRefreshIncremental(spark, path,
      cents, snapB, changes, "vec_id", "embedding")
    assert(dirty.nonEmpty, "fixture wave touched no cells")
    val mf = SegmentManifest.latest(spark, s"$path/codes").get
    assert(mf.entries("books").isEmpty,
      "fixture drifted: a refresh wave sealed a books entry")
    // query with the removed vector itself: the stale path would rank
    // it first; the manifest path must not return it at all
    val qv = emb.filter(col("vec_id") === removedId)
      .select(VectorFns.toDouble(col("embedding")).as("qvec"))
    val single = ProductQuantize.ivfPqProbe(spark, path, cents, qv,
        "vec_id", k = ids.length, nProbe = 8)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(!single.contains(removedId),
      "ivfPqProbe served the deleted id from the stale hive tree")
    assert(single.contains(modifiedId))
    val panel = emb.filter(col("vec_id") === removedId)
      .select(lit(0L).as("qid"),
        VectorFns.toDouble(col("embedding")).as("qvec"))
    val multi = ProductQuantize.ivfPqProbeMulti(spark, path, cents,
        panel, "vec_id", k = ids.length, nProbe = 8)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(!multi.contains(removedId),
      "ivfPqProbeMulti served the deleted id")
    val adc = ProductQuantize.pqProbeADCMulti(spark, path, panel,
        "vec_id", k = ids.length)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(!adc.contains(removedId),
      "pqProbeADCMulti served the deleted id")
    // and the modified key scores through its NEW codes: the probe
    // content equals a from-scratch re-encode of the final snapshot
    // through the same (live) codebooks
    val cb = spark.read.parquet(s"$path/codebooks")
    val expect = ProductQuantize.pqEncode(snapB, "vec_id", "embedding",
        cb, m = 8)
      .join(Similarity.ivfAssignCosine(snapB, cents, "vec_id",
        "embedding"), Seq("vec_id"))
      .select(col("vec_id"), col("codes"), col("centroid_id"))
    val got = SegmentManifest.read(spark, s"$path/codes", mf, "cells",
        "centroid_id").get
      .select(col("vec_id"), col("codes"),
        col("centroid_id").cast("long").as("centroid_id"))
    assert(got.exceptAll(expect).count() == 0 &&
      expect.exceptAll(got).count() == 0,
      "manifest-resolved cells diverged from the from-scratch encode")
  }

  test("a STALE live codebooks copy can never govern encoding: after " +
      "a rebuild's seal, refresh and drift stats resolve books " +
      "through the manifest even when the live-copy refresh was lost " +
      "(the crash window between the seal and the cache write)") {
    val path = scratch("pq_stalebooks").toString
    val vectors = base.select(col("vec_id"), col("embedding"))
    val cents = Similarity.learnedCentroids(vectors, "embedding",
      k = 4).localCheckpoint()
    ProductQuantize.ivfPqWriteIndex(vectors, cents, "vec_id",
      "embedding", m = 4, k = 8, path)
    // snapshot the ORIGINAL (seed-42) books — the stale copy the
    // crash window leaves behind
    val staleRows = ProductQuantize
      .readBooks(spark, s"$path/codebooks").collect()
    // a recenter-class rebuild retrains the books under another seed
    // and seals them in the manifest, then refreshes the live copy
    ProductQuantize.ivfPqRebuildMvcc(spark, path, vectors, cents,
      "vec_id", "embedding", m = 4, k = 8, modelGen = 0, seed = 43L)
    val mf = SegmentManifest.latest(spark, s"$path/codes").get
    val sealedBooks = ProductQuantize.readBooks(spark,
      s"$path/codes/${mf.entries("books").last.loc}").localCheckpoint()
    def fpOf(b: org.apache.spark.sql.DataFrame) =
      Similarity.modelFingerprint(
        b.select(col("subspace"), col("code"), col("cvec").as("bvec")),
        Seq("subspace", "code"), "bvec")
    import spark.implicits._
    val staleDf = staleRows.map(r => (r.getLong(0), r.getLong(1),
        r.getAs[scala.collection.Seq[Double]](2).toSeq))
      .toSeq.toDF("subspace", "code", "cvec")
    assert(fpOf(staleDf) != fpOf(sealedBooks),
      "fixture drifted: seed-43 retrain produced the seed-42 books — " +
        "the stale-copy scenario is vacuous")
    // CRASH WINDOW: the live-copy refresh is lost — the stale seed-42
    // books sit in the cache position while the sealed cells were
    // encoded under seed 43
    staleDf.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/codebooks")
    // a fresh-row refresh must encode through the SEALED books
    val freshKey = 100000L
    val freshVec = emb.filter(col("vec_id") === 1)
      .select(lit(freshKey).as("vec_id"), col("embedding"))
    val snap = vectors.unionByName(freshVec)
    val dirty = ProductQuantize.ivfPqRefreshIncremental(spark, path,
      cents, snap,
      snap.select(col("vec_id"),
        when(col("vec_id") === freshKey, lit("added"))
          .otherwise(lit("unchanged")).as("status")),
      "vec_id", "embedding")
    assert(dirty.nonEmpty)
    val gotCodes = Similarity.readQuantizedIndex(spark, s"$path/codes")
      .filter(col("vec_id") === freshKey)
      .select(col("codes")).head()
      .getAs[scala.collection.Seq[Long]](0).toSeq
    val expectSealed = ProductQuantize.pqEncode(freshVec, "vec_id",
        "embedding", sealedBooks, m = 4)
      .select(col("codes")).head()
      .getAs[scala.collection.Seq[Long]](0).toSeq
    assert(gotCodes == expectSealed,
      "fresh row encoded through the stale live copy, not the " +
        "sealed books")
    // and the stats seal names the SEALED model pair — a carried
    // stats frame from before the rebuild correctly reads as a model
    // change (requireSameModel), instead of the stale copy's
    // fingerprint masking it
    val statsFp = ProductQuantize.ivfPqDriftStats(spark, path, cents,
        "vec_id").select(col("model_fp")).head().getLong(0)
    assert(statsFp ==
        (Similarity.centroidFingerprint(cents) ^ fpOf(sealedBooks)),
      "drift stats fingerprinted the stale live copy")
  }
}
