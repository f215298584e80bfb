package graftbench

import java.nio.file.Paths
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{SegmentManifest, TextAnalysis}
import graft.streaming.StreamingVectorIndex

/** Seeded stand-ins for the sf0.1 `embeddings` (2000 × 64-d unit float
  * vectors) and `documents` (5000 texts over a small vocabulary)
  * tables, generated in plain Scala so the oracle can see every row. */
object Corpus {
  val Dim = 64
  val Sf01Vectors = 2000
  val Sf01Docs = 5000
  /** IVF-PQ geometry: cells, PQ subspaces, codes per subspace. */
  val KCells = 16
  val M = 8
  val KCodes = 16
  val NProbe = 4
  val TopK = 10
  /** Every document carries this token, so one probe for it lists the
    * live document set. */
  val AllDocsTerm = "doc"

  val Common: Seq[String] = Seq("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "vector", "index", "join", "file",
    "cache", "plan", "task", "stage", "shuffle", "codec", "page", "block",
    "node", "rank", "score")

  /** Unit-norm isotropic Gaussian vectors: the geometry of the sf0.1
    * `embeddings` table. */
  final class Vectors(val rnd: scala.util.Random) {
    /** Drawn from `r` (callers on other threads pass their own
      * generator, so the writer's stream stays seeded). */
    def draw(r: scala.util.Random = rnd): Array[Float] = {
      val v = Array.fill(Dim)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
  }

  /** A query near a corpus point (the specs' probe shape). */
  def near(rnd: scala.util.Random, v: Array[Float]): Array[Double] =
    v.map(x => x + rnd.nextGaussian() * 0.003)

  def text(rnd: scala.util.Random, topics: Int): String = {
    val topic = rnd.nextInt(topics)
    val n = 8 + rnd.nextInt(28)
    (AllDocsTerm +: Seq.fill(n) {
      if (rnd.nextDouble() < 0.7) Common(rnd.nextInt(Common.size))
      else s"t${topic}w${rnd.nextInt(12)}"
    }).mkString(" ")
  }

  def vectorFrame(spark: SparkSession, rows: Seq[(Long, Array[Float])])
      : DataFrame =
    spark.createDataFrame(rows).toDF("vec_id", "embedding")

  def docFrame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(rows).toDF("doc_id", "text")

  def queryFrame(spark: SparkSession, q: Array[Double]): DataFrame =
    spark.createDataFrame(Seq(Tuple1(q))).toDF("qvec")

  /** Vector probe → (id, score) in rank order. */
  def vectorAnswer(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("vec_id"), col("adc_score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .sortBy(p => (-p._2, p._1))

  def lexicalAnswer(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("doc_id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .sortBy(p => (-p._2, p._1))

  /** Raw size of generated rows: an 8-byte id plus the float vector, or
    * plus the text bytes. */
  def rawBytes(vectors: Int, texts: Iterable[String]): Long =
    vectors * (8L + 4L * Dim) + texts.map(_.length + 8L).sum
}

/** The live probes of `index_maintain`'s reader, each split into the
  * call (manifest pin + plan) and execution spans. */
object Probes {
  import Corpus._

  def vector(ctx: Ctx, root: String, q: Array[Double]): Seq[(Long, Double)] =
    ctx.tracer.span("streaming.vector_probe") {
      val df = ctx.tracer.span("streaming.vector_probe.call") {
        StreamingVectorIndex.probeLiveIvfPq(ctx.spark, root,
          queryFrame(ctx.spark, q), "vec_id", TopK, NProbe)
      }
      ctx.tracer.span("streaming.vector_probe.exec")(vectorAnswer(df))
    }

  def panel(ctx: Ctx, root: String, qs: Seq[Array[Double]])
      : Map[Long, Seq[(Long, Double)]] =
    ctx.tracer.span("streaming.vector_panel_probe") {
      val queries = ctx.spark.createDataFrame(
        qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }).toDF("qid", "qvec")
      val df = ctx.tracer.span("streaming.vector_panel_probe.call") {
        StreamingVectorIndex.probeLiveIvfPqMulti(ctx.spark, root, queries,
          "vec_id", TopK, NProbe)
      }
      ctx.tracer.span("streaming.vector_panel_probe.exec") {
        df.select(col("qid"), col("vec_id"), col("adc_score")).collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toSeq
          .groupBy(_._1).map { case (qid, xs) =>
            qid -> xs.map(_._2).sortBy(p => (-p._2, p._1)) }
      }
    }

  def lexical(ctx: Ctx, path: String, text: String, k: Int = TopK)
      : Seq[(Long, Double)] =
    ctx.tracer.span("operators.bm25_probe") {
      val df = ctx.tracer.span("operators.bm25_probe.call") {
        TextAnalysis.bm25ProbeSegmented(ctx.spark, path,
          ctx.spark.createDataFrame(Seq((0L, text))).toDF("qid", "qtext"),
          k, "doc_id")
      }
      ctx.tracer.span("operators.bm25_probe.exec")(lexicalAnswer(df))
    }

  /** Traced runs only: one manifest resolution on the calling thread,
    * timed with its Hadoop FS operation count. */
  def resolveManifest(ctx: Ctx, root: String): Unit =
    if (ctx.tracer.enabled) ctx.tracer.span("operators.segment_manifest") {
      SegmentManifest.latest(ctx.spark, s"$root/index/codes")
    }

}

/** `index_maintain`: write-heavy. One writer applies seeded CRUD waves
  * back to back through applyWaveIvfPq and bm25ApplyUpserts. Wave 0 is
  * the warm-up; of every [[DriftEvery]] measured waves the last one
  * shifts half the corpus and must recenter, so the refresh waves never
  * follow a recenter inside a run. The writer completes at least
  * [[MinWaves]] measured waves even past the deadline. One reader probes
  * live with fresh queries until the writer is done: single vector
  * probes every other request, BM25 and 16-query panel probes in
  * between. */
object IndexMaintain extends Workload {
  import Corpus._
  val name = "index_maintain"
  /** One bootstrap per run: each costs ~20 s of IVF-PQ + BM25 builds. */
  val setupReps = 1
  val DriftEvery = 4
  /** One full cycle: three refresh waves, then the drift wave. */
  val MinWaves = DriftEvery
  def isDrift(w: Int): Boolean = w > 0 && w % DriftEvery == 0
  val NewPerWave = 40
  val ModPerWave = 40
  val DelPerWave = 20
  val MaxSegments = 4

  final class State(val vecRoot: String, val lexPath: String,
                    val gen: Vectors,
                    val vectors: mutable.LinkedHashMap[Long, Array[Float]],
                    val docs: mutable.LinkedHashMap[Long, String],
                    var nextId: Long,
                    val storedAtStart: Long, seed: Long) {
    val writerRnd = new scala.util.Random(seed * 7919L + 1)
    /** Ids deleted by waves that have COMMITTED; a probe that starts
      * after the commit must never return one. */
    val deletedVec = ConcurrentHashMap.newKeySet[Long]()
    val deletedDoc = ConcurrentHashMap.newKeySet[Long]()
    /** Every id ever written, including the wave in flight. */
    val everVec = ConcurrentHashMap.newKeySet[Long]()
    val everDoc = ConcurrentHashMap.newKeySet[Long]()
  }

  def setup(ctx: Ctx): State = {
    val spark = ctx.spark
    val rnd = new scala.util.Random(ctx.seed)
    val nVec = if (ctx.tiny) 300 else Sf01Vectors
    val nDoc = if (ctx.tiny) 200 else Sf01Docs / 2
    val gen = new Vectors(rnd)
    val vectors = mutable.LinkedHashMap.empty[Long, Array[Float]]
    (0 until nVec).foreach(i => vectors(i.toLong) = gen.draw())
    val docs = mutable.LinkedHashMap.empty[Long, String]
    (0 until nDoc).foreach(i => docs(i.toLong) = text(rnd, 40))
    // bootstrapped straight from the generated rows: a parquet round
    // trip would add ~2 s to every run and exercise no index layer
    val vecRoot = ctx.path("maintain_vec")
    val lexPath = ctx.path("maintain_lex")
    ctx.phase("bootstrap_ivfpq") {
      StreamingVectorIndex.bootstrapIvfPq(vectorFrame(spark, vectors.toSeq),
        vecRoot, "vec_id", "embedding", KCells, M, KCodes, seed = ctx.seed)
    }
    ctx.phase("bootstrap_bm25") {
      TextAnalysis.bm25AppendSegment(docFrame(spark, docs.toSeq), "doc_id",
        "text", lexPath, 0)
    }
    val stored = Disk.dataBytes(Paths.get(vecRoot)) +
      Disk.dataBytes(Paths.get(lexPath))
    val st = new State(vecRoot, lexPath, gen, vectors, docs,
      math.max(nVec, nDoc).toLong, stored, ctx.seed)
    st.everVec.addAll(vectors.keys.toSeq.asJava)
    st.everDoc.addAll(docs.keys.toSeq.asJava)
    Facts.emit("input", Map("workload" -> name, "vectors" -> nVec,
      "documents" -> nDoc,
      "bytes" -> rawBytes(vectors.size, docs.values),
      "vectors_vs_sf0.1" -> nVec.toDouble / Sf01Vectors,
      "documents_vs_sf0.1" -> nDoc.toDouble / Sf01Docs,
      "wave_new_mod_del" -> Seq(NewPerWave, ModPerWave, DelPerWave),
      "drift_wave_share" -> 1.0 / DriftEvery, "repeat_share" -> 0.0,
      "writers" -> 1, "readers" -> 1))
    st
  }

  /** One unchecked live probe of each kind and one refresh wave (wave 0,
    * seeded like the rest, so every run starts from the same state). */
  def warmup(ctx: Ctx, st: State): Unit = {
    Probes.vector(ctx, st.vecRoot, Array.fill(Dim)(0.5))
    Probes.lexical(ctx, st.lexPath, "spark")
    Probes.panel(ctx, st.vecRoot, Seq.fill(16)(Array.fill(Dim)(0.5)))
    wave(ctx, st, 0, st.writerRnd)
  }

  final case class WaveOut(vecS: Double, lexS: Double, rows: Long,
                           deltaBytes: Long, recentered: Boolean,
                           filesOut: Int)

  /** One CRUD wave on both indexes; expectations update after commit. */
  private def wave(ctx: Ctx, st: State, w: Int, rnd: scala.util.Random)
      : WaveOut = ctx.tracer.span("maintain.wave") {
    val spark = ctx.spark
    val drift = isDrift(w)
    val liveVec = st.vectors.keys.toIndexedSeq
    val del = rnd.shuffle(liveVec).take(DelPerWave).toSet
    val survivors = liveVec.filterNot(del)
    // a drift wave pulls half the corpus (all of it at tiny scale: with
    // 300 vectors, half left graft's occupancy-skew gauge at 1.73x its
    // baseline, under the 1.75x breach rule)
    val mods = if (drift) rnd.shuffle(survivors)
                 .take(if (ctx.tiny) survivors.size else survivors.size / 2)
               else rnd.shuffle(survivors).take(ModPerWave)
    // ... toward one fresh direction
    val pull = st.gen.draw().map(_ * (if (drift) 4f else 0f))
    val newIds = (0 until NewPerWave).map(_ => { st.nextId += 1; st.nextId })
    val upserts = mods.map(id => id -> st.vectors(id).zip(pull).map {
        case (x, p) => (x + p + rnd.nextGaussian() * 0.02).toFloat }) ++
      newIds.map(id => id -> st.gen.draw())
    st.everVec.addAll(newIds.asJava)
    val vecRows = upserts.map { case (id, v) => (id, v, "upsert") } ++
      del.toSeq.map(id => (id, st.vectors(id), "delete"))
    val cents0 = Disk.dirsNamed(Paths.get(st.vecRoot, "cents"), "gen=")
    val since = System.currentTimeMillis()
    val v0 = System.nanoTime()
    ctx.tracer.span("streaming.vector_wave", adopt = true) {
      StreamingVectorIndex.applyWaveIvfPq(spark, st.vecRoot,
        spark.createDataFrame(vecRows).toDF("vec_id", "embedding", "op"),
        w.toLong, "vec_id", "embedding", KCells, M, KCodes, seed = ctx.seed)
    }
    val vecS = (System.nanoTime() - v0) / 1e9
    val filesOut = if (ctx.tracer.enabled)
      Disk.filesSince(Paths.get(st.vecRoot), since) else 0
    val recentered =
      Disk.dirsNamed(Paths.get(st.vecRoot, "cents"), "gen=") > cents0
    upserts.foreach { case (id, v) => st.vectors(id) = v }
    del.foreach(st.vectors.remove)
    st.deletedVec.addAll(del.asJava)

    // lexical side: the same shape of wave over the documents
    val liveDoc = st.docs.keys.toIndexedSeq
    val delDoc = rnd.shuffle(liveDoc).take(DelPerWave).toSet
    val modDoc = rnd.shuffle(liveDoc.filterNot(delDoc)).take(ModPerWave)
    val newDoc = (0 until NewPerWave).map(_ => { st.nextId += 1; st.nextId })
    val docUps = (modDoc ++ newDoc).map(id => id -> text(rnd, 40))
    st.everDoc.addAll(newDoc.asJava)
    val l0 = System.nanoTime()
    ctx.tracer.span("operators.bm25_upsert", adopt = true) {
      TextAnalysis.bm25ApplyUpserts(spark, st.lexPath,
        docFrame(spark, docUps),
        spark.createDataFrame(delDoc.toSeq.map(Tuple1(_))).toDF("doc_id"),
        "doc_id", "text", segment = w + 1, maxSegments = MaxSegments)
    }
    val lexS = (System.nanoTime() - l0) / 1e9
    docUps.foreach { case (id, t) => st.docs(id) = t }
    delDoc.foreach(st.docs.remove)
    st.deletedDoc.addAll(delDoc.asJava)
    val deltaBytes = rawBytes(vecRows.size, docUps.map(_._2)) +
      delDoc.size * 8L
    WaveOut(vecS, lexS, vecRows.size.toLong + docUps.size + delDoc.size,
      deltaBytes, recentered, filesOut)
  }

  def run(ctx: Ctx, st: State, seconds: Double): RunOut = {
    val waves = mutable.ArrayBuffer.empty[(Int, WaveOut)]
    val probeMs = mutable.ArrayBuffer.empty[Double]
    val readerRnd = new scala.util.Random(ctx.seed * 7919L + 2)
    val engine = new EngineProbe(ctx)
    @volatile var writerDone = false
    def more(client: Int, done: Int, timeLeft: Boolean): Boolean =
      if (client == 0) {
        writerDone = !(timeLeft || done < MinWaves)
        !writerDone
      } else !writerDone
    Clients.closedLoop(ctx, 2, seconds, more) { (client, i) =>
      if (client == 0) {
        val w = i + 1
        val out = wave(ctx, st, w, st.writerRnd)
        waves.synchronized(waves += w -> out)
        ctx.check(if (isDrift(w) && !out.recentered)
          Some(s"drift wave $w did not recenter") else None)
        Probes.resolveManifest(ctx, st.vecRoot)
        engine.afterOp()
      } else {
        // deletions committed before this probe started must not show
        val goneVec = st.deletedVec.asScala.toSet
        val goneDoc = st.deletedDoc.asScala.toSet
        if (i % 2 == 0) {
          val t0 = System.nanoTime()
          val got = Probes.vector(ctx, st.vecRoot,
            near(readerRnd, st.gen.draw(readerRnd)))
          probeMs.synchronized(probeMs += (System.nanoTime() - t0) / 1e6)
          ctx.tracer.span("bench.check") {
            val ids = got.map(_._1)
            ctx.check(
              // IVF answers only from the probed cells, which may hold
              // fewer than k live rows
              if (got.isEmpty || got.size > TopK)
                Some(s"live probe returned ${got.size}")
              else if (ids.exists(goneVec)) Some(
                s"live probe returned deleted ${ids.filter(goneVec)}")
              else if (!ids.forall(st.everVec.contains))
                Some("live probe returned unknown ids")
              else None)
          }
        } else if (i % 4 == 3) {
          val got = Probes.panel(ctx, st.vecRoot, Seq.fill(16)(
            near(readerRnd, st.gen.draw(readerRnd))))
          ctx.tracer.span("bench.check") {
            val ids = got.values.flatten.map(_._1).toSeq
            ctx.check(
              if (got.size != 16 ||
                  got.values.exists(h => h.isEmpty || h.size > TopK))
                Some(s"live panel returned ${got.map(_._2.size)}")
              else if (ids.exists(goneVec)) Some(
                s"live panel returned deleted ${ids.filter(goneVec)}")
              else if (!ids.forall(st.everVec.contains))
                Some("live panel returned unknown ids")
              else None)
          }
        } else {
          val q = Seq.fill(1 + readerRnd.nextInt(2))(
            Common(readerRnd.nextInt(Common.size))).mkString(" ")
          val got = Probes.lexical(ctx, st.lexPath, q)
          ctx.tracer.span("bench.check") {
            val ids = got.map(_._1)
            ctx.check(
              if (ids.exists(goneDoc)) Some(
                s"bm25 returned deleted ${ids.filter(goneDoc)}")
              else if (!ids.forall(st.everDoc.contains))
                Some("bm25 returned unknown ids")
              else if (got.size != TopK) Some(s"bm25 returned ${got.size}")
              else None)
          }
        }
      }
    }
    // final state: the live sets equal the generator's expected sets
    val liveVec = ctx.tracer.span("bench.check") {
      StreamingVectorIndex.probeLiveIvfPq(ctx.spark, st.vecRoot,
        queryFrame(ctx.spark, Array.fill(Dim)(1.0)), "vec_id",
        st.vectors.size + 1000, KCells)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    }
    ctx.check(if (liveVec == st.vectors.keySet) None
      else Some(s"live vector ids differ: missing " +
        s"${(st.vectors.keySet -- liveVec).take(5)}, extra " +
        s"${(liveVec -- st.vectors.keySet).take(5)}"))
    val liveDoc = ctx.tracer.span("bench.check") {
      Probes.lexical(ctx, st.lexPath, AllDocsTerm, st.docs.size + 1000)
        .map(_._1).toSet
    }
    ctx.check(if (liveDoc == st.docs.keySet) None
      else Some(s"live doc ids differ: missing " +
        s"${(st.docs.keySet -- liveDoc).take(5)}, extra " +
        s"${(liveDoc -- st.docs.keySet).take(5)}"))

    val ws = waves.map(_._2).toSeq
    val refresh = waves.filterNot(w => isDrift(w._1))
      .map(_._2).toSeq
    val grown = Disk.dataBytes(Paths.get(st.vecRoot)) +
      Disk.dataBytes(Paths.get(st.lexPath)) - st.storedAtStart
    Facts.emit("maintain", Map("waves" -> ws.size,
      "drift_waves" -> (ws.size - refresh.size),
      "recentered" -> ws.count(_.recentered), "live_probes" -> probeMs.size,
      "live_vectors" -> st.vectors.size, "live_docs" -> st.docs.size,
      "vector_wave_s" -> ws.map(_.vecS), "lexical_wave_s" -> ws.map(_.lexS),
      "vector_probe_ms" -> probeMs.toSeq))
    val extras = engine.stop() ++ Map(
      "streaming.vector_wave.files_out" -> Stats.mean(ws.map(_.filesOut.toDouble)),
      "streaming.vector_wave.recentered" ->
        Stats.mean(ws.map(w => if (w.recentered) 1.0 else 0.0)))
    RunOut(
      Seq(("main_op_p50_ms", Stats.median(refresh.map(_.vecS)) * 1e3, "ms"),
        ("work_rate_per_s",
          ws.map(_.rows).sum / ws.map(w => w.vecS + w.lexS).sum, "1/s"),
        ("stored_bytes_per_input_byte",
          math.max(grown, 1L).toDouble / ws.map(_.deltaBytes).sum, "ratio")),
      extras)
  }
}
