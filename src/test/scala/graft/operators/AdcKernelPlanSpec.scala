package graft.operators

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.functions.VectorFns
import graft.streaming.StreamingVectorIndex

/** The ADC and drift lookup-table kernels: the byte budget that sends
  * sparse or wide geometry to the relational form, plan readability,
  * and the codebook memo key. */
class AdcKernelPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val lutKernelNames = Set("adc_lut_sum", "adc_qid_lut_sum",
    "pq_cd_fp")

  /** Names of the LUT kernels in an executed plan, AQE stages and
    * subqueries included. */
  private def lutKernelsIn(qe: QueryExecution): Seq[String] =
    collectWithSubqueries(qe.executedPlan) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect {
        case e if lutKernelNames(e.prettyName) => e.prettyName
      }))

  /** A hand-written IVF layout under `path`: `codebooks` with codes
    * {0, 65535} in each of `subs` subspaces (entries of `entryLen`),
    * `codes` hive-partitioned into two cells. Returns the centroids. */
  private def sparseLayout(path: String, subs: Int, entryLen: Int,
                           seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def vec(n: Int) = Seq.fill(n)(rnd.nextDouble() * 2 - 1)
    val dim = subs * entryLen
    (for (s <- 0 until subs; c <- Seq(0L, 65535L))
      yield (s.toLong, c, vec(entryLen)))
      .toDF("subspace", "code", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    (0L until 40L).map(id => (id, Seq.fill(subs)(
        if (rnd.nextBoolean()) 0L else 65535L), id % 2))
      .toDF("vec_id", "codes", "centroid_id")
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/codes")
    Seq((0L, vec(dim)), (1L, vec(dim))).toDF("centroid_id", "cvec")
      .localCheckpoint()
  }

  /** The relational ADC reference, as the kernels' parity specs build
    * it: explode × LUT join × per-group sum, plus the residual cell
    * constant when `residual`; every query probes every cell. Rows are
    * (qid, id, score). */
  private def adcReference(path: String, cents: DataFrame,
                           queries: DataFrame, m: Int,
                           residual: Boolean): Set[(Long, Long, Double)] = {
    val cb = spark.read.parquet(s"$path/codebooks")
    val lut = cb.crossJoin(queries)
      .withColumn("_sublen", (size(col("qvec")) / m).cast("int"))
      .withColumn("_qs", slice(col("qvec"),
        (col("subspace") * col("_sublen") + 1).cast("int"),
        col("_sublen")))
      .select(col("qid"), col("subspace"), col("code"),
        floor(VectorFns.dot(col("cvec"), col("_qs")) * 1e7 + 0.5)
          .cast("long").as("ip_fp"))
    val cellFp = cents.crossJoin(queries).select(col("qid"),
      col("centroid_id"),
      (if (residual) floor(VectorFns.dot(col("cvec"), col("qvec")) *
        1e7 + 0.5).cast("long") else lit(0L)).as("cell_fp"))
    spark.read.parquet(s"$path/codes")
      .withColumn("centroid_id", col("centroid_id").cast("long"))
      .select(col("vec_id"), col("centroid_id"),
        posexplode(col("codes")).as(Seq("_pos", "code")))
      .withColumn("subspace", col("_pos").cast("long"))
      .join(lut, Seq("subspace", "code"))
      .groupBy(col("qid"), col("vec_id"), col("centroid_id"))
      .agg(sum(col("ip_fp")).as("_s"))
      .join(cellFp, Seq("qid", "centroid_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(round(sum(col("_s") + col("cell_fp")) / 1e7, 4).as("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
  }

  private def panel(n: Int, dim: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(q => (q, Seq.fill(dim)(rnd.nextDouble())))
      .toDF("qid", "qvec")
  }

  /** Rows of an executed single-query probe (qid 0) and its kernels. */
  private def single(df: DataFrame): (Set[(Long, Long, Double)],
      Seq[String]) =
    (df.collect().map(r => (0L, r.getLong(0), r.getDouble(1))).toSet,
      lutKernelsIn(df.queryExecution))

  private def multi(df: DataFrame): (Set[(Long, Long, Double)],
      Seq[String]) =
    (df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet, lutKernelsIn(df.queryExecution))

  test("past the LUT byte budget (a {0, 65535} codebook over 128 " +
      "subspaces; a 16-query panel over 8 such subspaces) every ADC " +
      "and drift path runs the relational form and returns its rows") {
    val all = 1000
    // A: one table is 128 × 65,536 × 9 B = 72 MiB, past the 64 MiB
    // budget on its own
    val a = scratch("adc_sparse_a").toString
    val centsA = sparseLayout(a, subs = 128, entryLen = 1, seed = 5)
    val qA = panel(1, 128, 6)
    val qvA = qA.select(col("qvec"))
    val pairsA = panel(2, 128, 7)
    // each path runs and is checked before the next: a dense build
    // here is tens of MiB per table
    def check(name: String, run: => (Set[(Long, Long, Double)],
        Seq[String]), ref: => Set[(Long, Long, Double)]): Unit = {
      val (got, kernels) = run
      assert(kernels.isEmpty, s"$name ran ${kernels.mkString(", ")}")
      val want = ref
      assert(got.nonEmpty && got == want,
        s"$name: ${got.toSeq.sorted.take(3)} vs ${want.toSeq.sorted.take(3)}")
    }
    check("flat single", single(ProductQuantize.pqProbeADC(spark, a, qvA,
      "vec_id", all)), adcReference(a, centsA, qA, 128, false))
    check("flat panel", multi(ProductQuantize.pqProbeADCMulti(spark, a,
      pairsA, "vec_id", all)), adcReference(a, centsA, pairsA, 128, false))
    check("residual single", single(ProductQuantize.ivfPqProbeResidual(
      spark, a, centsA, qvA, "vec_id", all, nProbe = 2)),
      adcReference(a, centsA, qA, 128, true))
    check("residual panel", multi(ProductQuantize.ivfPqProbeResidualMulti(
      spark, a, centsA, pairsA, "vec_id", all, nProbe = 2)),
      adcReference(a, centsA, pairsA, 128, true))
    // B: one table of 8 × 65,536 × 9 B = 4.5 MiB fits, sixteen
    // (72 MiB) do not — the guard bounds bytes, not the id range
    val b = scratch("adc_sparse_b").toString
    val centsB = sparseLayout(b, subs = 8, entryLen = 2, seed = 8)
    val qB = panel(16, 16, 9)
    check("wide flat panel", multi(ProductQuantize.pqProbeADCMulti(spark,
      b, qB, "vec_id", all)), adcReference(b, centsB, qB, 8, false))
    check("wide residual panel", multi(ProductQuantize
      .ivfPqProbeResidualMulti(spark, b, centsB, qB, "vec_id", all,
        nProbe = 2)), adcReference(b, centsB, qB, 8, true))
    // contrast: ONE query over B's book fits, so it runs the kernel
    val qvB = qB.filter(col("qid") === 0).select(col("qvec"))
    val (oneB, oneKernels) = single(ProductQuantize.pqProbeADC(spark, b,
      qvB, "vec_id", all))
    assert(oneKernels.nonEmpty)
    assert(oneB == adcReference(b, centsB,
      qB.filter(col("qid") === 0), 8, false))
    // drift: two cell tables plus the norms table over A's book
    val codesA = Similarity.readQuantizedIndex(spark, s"$a/codes")
    val drift = ProductQuantize.ivfPqDriftStats(spark, a, centsA,
      "vec_id", modelFpO = Some(0L))
    val driftRows = drift.collect().map(_.toString).toSet
    assert(lutKernelsIn(drift.queryExecution).isEmpty)
    assert(driftRows.nonEmpty && driftRows ==
      ProductQuantize.ivfPqDriftStatsRelational(spark, s"$a/codebooks",
        centsA, codesA, "vec_id", 0L).collect().map(_.toString).toSet)
  }

  /** Query executions `body` runs, synced through a marker job on the
    * same listener queue. */
  private def plansDuring(body: => Unit): Seq[QueryExecution] = {
    val sc = spark.sparkContext
    val mark = s"adc-plans-${System.nanoTime()}"
    val qes = new ConcurrentLinkedQueue[QueryExecution]()
    val seen = new CountDownLatch(1)
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long)
          : Unit = qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == mark)) seen.countDown()
    }
    spark.listenerManager.register(ql)
    sc.addSparkListener(jl)
    try {
      body
      sc.setJobGroup(mark, mark)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(seen.await(30, TimeUnit.SECONDS))
      qes.asScala.toSeq
    } finally {
      spark.listenerManager.unregister(ql)
      sc.removeSparkListener(jl)
    }
  }

  test("plans stay readable: no kernel string and no executed plan of " +
      "a refresh wave, drift stats or live probe prints a table " +
      "(`ArraySeq(`)") {
    val rnd = new scala.util.Random(3)
    def draw(): Seq[Float] = Seq.fill(16)(rnd.nextGaussian().toFloat)
    val root = java.nio.file.Files.createTempDirectory("adc_plans")
      .toString
    StreamingVectorIndex.bootstrapIvfPq((0L until 300L)
        .map(i => (i, draw())).toDF("vec_id", "embedding"), root,
      "vec_id", "embedding", kCells = 4, m = 4, k = 8, seed = 3L)
    val qv = Seq(draw().map(_.toDouble)).toDF("qvec")
    val qs = (0L until 3L).map(q => (q, draw().map(_.toDouble)))
      .toDF("qid", "qvec")
    val plans = plansDuring {
      StreamingVectorIndex.applyWaveIvfPq(spark, root,
        ((0L until 20L).map(i => (i, draw(), "upsert")) ++
          Seq((25L, draw(), "delete")))
          .toDF("vec_id", "embedding", "op"), 1L, "vec_id", "embedding",
        kCells = 4, m = 4, k = 8, seed = 3L)
      val cents = spark.read.parquet(s"$root/cents/gen=0")
      ProductQuantize.ivfPqDriftStats(spark, s"$root/index", cents,
        "vec_id").collect()
      StreamingVectorIndex.probeLiveIvfPq(spark, root, qv, "vec_id",
        k = 5, nProbe = 2).collect()
      StreamingVectorIndex.probeLiveIvfPqMulti(spark, root, qs, "vec_id",
        k = 5, nProbe = 2).collect()
    }
    val dumps = plans.map(_.executedPlan.toString)
      .filter(_.contains("ArraySeq("))
    assert(dumps.isEmpty, dumps.headOption.map(_.take(2000)))
    // cached inputs (the refresh's encoded rows) sit behind an
    // in-memory scan: walk into its plan too
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      collectWithSubqueries(p) { case x => x }.flatMap {
        case s: InMemoryTableScanExec => s +: nodes(s.relation.cachedPlan)
        case x => Seq(x)
      }
    val kernels = plans.flatMap(qe => nodes(qe.executedPlan))
      .flatMap(_.expressions.flatMap(_.collect {
        case e if e.prettyName.contains("_lut_") ||
          Set("pq_cd_fp", "pq_encode_codes")(e.prettyName) => e
      }))
    assert(Set("adc_qid_lut_sum", "pq_cd_fp", "pq_encode_codes")
      .subsetOf(kernels.map(_.prettyName).toSet),
      kernels.map(_.prettyName).distinct)
    val argmin = graft.functions.CosineArgminCellExpr(
      org.apache.spark.sql.graftbridge.Bridge.expression(col("v")),
      (0L until 64L).map(c => (c, Seq.fill(16)(c * 0.5))))
    (kernels :+ argmin).foreach { e =>
      val s = e.toString
      assert(!s.contains("ArraySeq(") && s.length < 300,
        s"${e.prettyName} prints ${s.length} chars: ${s.take(300)}")
    }
  }

  test("codebook memos miss when a rewrite keeps the mtime but not the " +
      "row count") {
    val loc = scratch("adc_memo_books").toString
    def write(m: Int): Unit =
      (for (s <- 0 until m; c <- 0 until 2)
        yield (s.toLong, c.toLong, Seq(s + 0.5, c - 0.5)))
        .toDF("subspace", "code", "cvec")
        .coalesce(1).write.mode("overwrite").parquet(loc)
    write(4)
    val p = new Path(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ProductQuantize.bookRowsAt(spark, loc).length == 8)
    val fp = ProductQuantize.booksFingerprintAt(spark, loc)
    val dirTime = fs.getFileStatus(p).getModificationTime
    val fileTime = fs.listStatus(p).map(_.getModificationTime).max
    // rewrite with half the rows inside one timestamp tick: every
    // mtime the memo could read is reset to its old value
    write(2)
    fs.listStatus(p).foreach(st => fs.setTimes(st.getPath, fileTime, -1))
    fs.setTimes(p, dirTime, -1)
    assert(fs.getFileStatus(p).getModificationTime == dirTime)
    assert(ProductQuantize.bookRowsAt(spark, loc).length == 4)
    assert(ProductQuantize.booksFingerprintAt(spark, loc) != fp)
  }
}
