package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, StepJobs}

/** The BM25 upsert wave ([[TextAnalysis.bm25ApplyUpserts]]): one pinned
  * base per wave, jobs counted per step label at the `index_maintain`
  * geometry, replay after a crash at either seal, and a probe whose
  * query terms cost no job. */
class Bm25WaveSpec extends SparkSpec with StepJobs {
  import Bm25WaveSpec._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet

  private val panel = Seq((0L, "spark merge t3w1"), (1L, "doc index"),
    (2L, "b c"), (3L, "e f g"))

  /** Probe of the index at `dir` equals the direct scan of `corpus`. */
  private def assertProbeIsScan(dir: String,
                                corpus: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    val q = panel.toDF("qid", "qtext")
    val probe = rows(TextAnalysis.bm25ProbeSegmented(spark, dir, q, k = 10,
      "doc_id"))
    val scan = rows(TextAnalysis.bm25TopK(corpus.toDF("doc_id", "text"),
      "doc_id", "text", q, k = 10))
    assert(probe == scan, s"probe ${probe -- scan} vs scan ${scan -- probe}")
  }

  test("upsert wave at index_maintain geometry (2,500 docs; 40 " +
      "modified, 40 new, 20 deleted; maxSegments 4): every job carries " +
      "a bm25 step label, and the jobs per step are pinned for a wave " +
      "without a fold and a fold wave") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val docs = scala.collection.mutable.LinkedHashMap(
      (0L until 2500L).map(i => i -> text(rnd)): _*)
    val dir = tmp("bm25wave_steps")
    TextAnalysis.bm25AppendSegment(docs.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", dir, 0)
    var nextId = 2500L
    def wave(w: Int): (Long, Long) = {
      val live = docs.keys.toIndexedSeq
      val del = rnd.shuffle(live).take(20).toSet
      val mod = rnd.shuffle(live.filterNot(del)).take(40)
      val fresh = (0 until 40).map { _ => nextId += 1; nextId }
      val ups = (mod ++ fresh).map(id => id -> text(rnd))
      val out = TextAnalysis.bm25ApplyUpserts(spark, dir,
        ups.toDF("doc_id", "text"), del.toSeq.map(Tuple1(_)).toDF("doc_id"),
        "doc_id", "text", segment = w + 1, maxSegments = 4)
      ups.foreach { case (id, t) => docs(id) = t }
      del.foreach(docs.remove)
      out
    }
    // wave 0 warms up, as the benchmark's warm-up wave does
    wave(0)
    wave(1)
    val (plain, plainLabels) = stepsDuring(wave(2))
    val (folded, foldLabels) = stepsDuring(wave(3))
    info(s"no fold: ${perStep(plainLabels)}; fold: ${perStep(foldLabels)}")
    assert(plain == ((0L, 4L)) && folded == ((1L, 4L)),
      s"folds/segments $plain, $folded")
    assert(!(plainLabels ++ foldLabels).contains(""), "an unlabelled job")
    assert(perStep(plainLabels) ==
      Map("bm25.tombstone" -> 3, "bm25.append" -> 4))
    assert(perStep(foldLabels) ==
      Map("bm25.tombstone" -> 3, "bm25.append" -> 4, "bm25.merge" -> 3))
    assertProbeIsScan(dir, docs.toSeq)
  }

  private val base = Seq((1L, "a b c"), (2L, "b c d e"), (3L, "c d"),
    (4L, "a a b"), (6L, "e e f"), (7L, "b f g"))
  private val upserts = Seq((2L, "b c"), (5L, "e f g"), (7L, "g g"))
  private val deletes = Seq(3L, 6L)
  private val finalCorpus = (base.toMap -- deletes ++ upserts).toSeq

  /** Two segments, then one wave at segment 2 that folds (maxSegments
    * 2): `crash` runs before the wave, `recover` after it failed, and
    * `crashed` checks the manifest the failure left. Returns the index
    * after the replay. */
  private def crashAndReplay(crash: String => Unit,
                             recover: String => Unit,
                             crashed: SegmentManifest.Manifest => Unit)
      : String = {
    import spark.implicits._
    val dir = tmp("bm25wave_crash")
    TextAnalysis.bm25AppendSegment(base.take(3).toDF("doc_id", "text"),
      "doc_id", "text", dir, 0)
    TextAnalysis.bm25AppendSegment(base.drop(3).toDF("doc_id", "text"),
      "doc_id", "text", dir, 1)
    // read from a file, so the failing text is evaluated only when the
    // append runs (over a local relation the optimizer folds it early)
    val src = tmp("bm25wave_upserts")
    upserts.toDF("doc_id", "text").write.mode("overwrite").parquet(src)
    def wave() = TextAnalysis.bm25ApplyUpserts(spark, dir,
      spark.read.parquet(src)
        .select(col("doc_id"), failing(col("text")).as("text")),
      deletes.map(Tuple1(_)).toDF("doc_id"), "doc_id", "text",
      segment = 2, maxSegments = 2)
    crash(dir)
    try intercept[Exception](wave()) finally recover(dir)
    crashed(SegmentManifest.latest(spark, dir).get)
    assert(wave() == ((1L, 2L)))
    dir
  }

  /** The same index built without a crash. */
  private lazy val uncrashed: String = {
    import spark.implicits._
    val dir = tmp("bm25wave_clean")
    TextAnalysis.bm25AppendSegment(base.take(3).toDF("doc_id", "text"),
      "doc_id", "text", dir, 0)
    TextAnalysis.bm25AppendSegment(base.drop(3).toDF("doc_id", "text"),
      "doc_id", "text", dir, 1)
    TextAnalysis.bm25ApplyUpserts(spark, dir, upserts.toDF("doc_id", "text"),
      deletes.map(Tuple1(_)).toDF("doc_id"), "doc_id", "text",
      segment = 2, maxSegments = 2)
    dir
  }

  private def infos(dir: String): Set[org.apache.spark.sql.Row] =
    TextAnalysis.segmentInfos(spark, dir, "doc_id").collect().toSet

  test("a wave that crashed after its tombstone seal replays to the " +
      "final corpus: probe equals the direct scan, segmentInfos equal " +
      "an uncrashed build") {
    val dir = crashAndReplay(_ => failAppend = true,
      _ => failAppend = false, { m =>
        assert(m.segs("tombstones").contains(2), "tombstone sealed")
        assert(!m.segs("postings").contains(2), "append not sealed")
      })
    assertProbeIsScan(dir, finalCorpus)
    assert(infos(dir) == infos(uncrashed))
  }

  test("a wave that crashed after its append seal (the fold failed) " +
      "replays to the final corpus: probe equals the direct scan, " +
      "segmentInfos equal an uncrashed build") {
    // a plain file where the fold's rev directories go fails the fold
    def revFile(dir: String) = new java.io.File(s"$dir/_rev")
    val dir = crashAndReplay(d => assert(revFile(d).createNewFile()),
      d => assert(revFile(d).delete()), { m =>
        assert(m.segs("postings") == Seq(0, 1, 2), "append sealed, no fold")
      })
    assertProbeIsScan(dir, finalCorpus)
    assert(infos(dir) == infos(uncrashed))
  }

  /** Two segments (as a manifest-less hive tree when `legacy`), then
    * the segment-2 wave with its tombstone step failing, then its
    * replay. Returns the index. */
  private def tombstoneFailsThenReplay(legacy: Boolean): String = {
    import spark.implicits._
    val built = tmp("bm25wave_tombfail_b")
    TextAnalysis.bm25AppendSegment(base.take(3).toDF("doc_id", "text"),
      "doc_id", "text", built, 0)
    TextAnalysis.bm25AppendSegment(base.drop(3).toDF("doc_id", "text"),
      "doc_id", "text", built, 1)
    val dir =
      if (!legacy) built
      else {
        // the hive tree without its manifests: a pre-manifest index
        val d = tmp("bm25wave_tombfail")
        for (l <- Seq("postings", "termdict", "segstats"))
          assert(new java.io.File(s"$built/$l")
            .renameTo(new java.io.File(s"$d/$l")))
        d
      }
    // the deletes feed only the tombstone step; read from a file, so
    // the failing id is evaluated when that step runs
    val src = tmp("bm25wave_deletes")
    deletes.map(Tuple1(_)).toDF("doc_id")
      .write.mode("overwrite").parquet(src)
    def wave() = TextAnalysis.bm25ApplyUpserts(spark, dir,
      upserts.toDF("doc_id", "text"),
      spark.read.parquet(src).select(failingId(col("doc_id")).as("doc_id")),
      "doc_id", "text", segment = 2, maxSegments = 2)
    failKeys = true
    try intercept[Exception](wave()) finally failKeys = false
    if (legacy)
      assert(!new java.io.File(s"$dir/postings/seg=2").exists(),
        "the append ran although the tombstone step failed")
    assert(wave() == ((1L, 2L)))
    dir
  }

  test("legacy (manifest-less) layout: a wave whose tombstone step " +
      "failed leaves no segment directory the replay's bootstrap could " +
      "fold in; the replay equals the direct scan of the final corpus") {
    val dir = tombstoneFailsThenReplay(legacy = true)
    assertProbeIsScan(dir, finalCorpus)
    assert(infos(dir) == infos(uncrashed))
  }

  test("sealed layout: a wave whose tombstone step failed beside its " +
      "append replays to the final corpus: probe equals the direct " +
      "scan, segmentInfos equal an uncrashed build") {
    val dir = tombstoneFailsThenReplay(legacy = false)
    assertProbeIsScan(dir, finalCorpus)
    assert(infos(dir) == infos(uncrashed))
  }

  test("bm25ProbeSegmented over a local panel submits no job while it " +
      "plans, and its results equal the direct scan") {
    import spark.implicits._
    val dir = tmp("bm25probe_jobs")
    TextAnalysis.bm25AppendSegment(base.toDF("doc_id", "text"), "doc_id",
      "text", dir, 0)
    TextAnalysis.bm25Tombstone(Seq((3L, 2L)).toDF("doc_id", "dl"),
      "doc_id", "dl", dir, 1)
    val q = panel.toDF("qid", "qtext")
    val (probe, labels) = stepsDuring(
      TextAnalysis.bm25ProbeSegmented(spark, dir, q, k = 10, "doc_id"))
    assert(labels.isEmpty, s"${labels.size} jobs during the call")
    assert(rows(probe) == rows(TextAnalysis.bm25TopK(
      base.filterNot(_._1 == 3L).toDF("doc_id", "text"), "doc_id", "text",
      q, k = 10)))
  }
}

object Bm25WaveSpec {
  /** Fails every text evaluation while set: the wave's append is the
    * only step that reads the upserts' text. */
  @volatile var failAppend = false

  val failing = udf { (t: String) =>
    if (failAppend) throw new IllegalStateException("injected failure")
    t
  }

  /** Fails every id evaluation while set. */
  @volatile var failKeys = false

  val failingId = udf { (id: Long) =>
    if (failKeys) throw new IllegalStateException("injected failure")
    id
  }

  private val Common = Seq("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "vector", "index", "join", "file",
    "cache", "plan", "task", "stage", "shuffle", "codec", "page", "block",
    "node", "rank", "score")

  /** A document of the benchmark's generated corpus: the all-docs
    * token, then 8-35 words, 70% from a common vocabulary and the rest
    * from one of 40 topics. */
  def text(rnd: scala.util.Random): String = {
    val topic = rnd.nextInt(40)
    val n = 8 + rnd.nextInt(28)
    ("doc" +: Seq.fill(n) {
      if (rnd.nextDouble() < 0.7) Common(rnd.nextInt(Common.size))
      else s"t${topic}w${rnd.nextInt(12)}"
    }).mkString(" ")
  }
}
