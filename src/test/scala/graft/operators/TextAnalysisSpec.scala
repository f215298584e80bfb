package graft.operators

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.functions.{coalesce, col, concat, lit, min, size, when}

import graft.SparkSpec

/** X3 — ml-native TF-IDF vector semantics (the long-form relation is
  * oracle-checked by q42; this pins the HashingTF→IDF path). */
class TextAnalysisSpec extends SparkSpec {

  test("tfidf vectors: ubiquitous term is idf-zeroed, unique terms " +
      "share the ln((m+1)/(df+1)) weight") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat"),
      (2L, "the dog ran"),
      (3L, "the bird flew")
    ).toDF("doc_id", "text")
    val out = TextAnalysis
      .tfidfVectors(docs, "doc_id", "text", numFeatures = 1 << 14)
      .collect().map(r => r.getLong(0) -> r.getAs[Vector]("tfidf")).toMap
    assert(out.size == 3)
    // Spark ml IDF = ln((m+1)/(df+1)): "the" has df = m = 3 → weight 0;
    // every other term is unique (df 1) → ln(4/2) = ln 2, tf = 1
    val ln2 = math.log(2.0)
    out.values.foreach { v =>
      assert(v.size == (1 << 14))
      val nz = v.toArray.filter(_ != 0.0)
      assert(nz.length == 2,
        s"'the' must be idf-zeroed, got ${nz.length} nonzero components")
      nz.foreach(x => assert(math.abs(x - ln2) < 1e-12))
    }
  }

  test("dsirLogWeights: target-like documents outscore raw-only ones, " +
      "per-doc token counts exact, deterministic") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // target (tgt=true) speaks {alpha beta}, the raw remainder speaks
    // {zeta eta}; probe docs drawn purely from each side must order
    // accordingly (target-token docs get positive log-ratios, raw-only
    // docs negative)
    val docs = Seq(
      (1L, "alpha beta alpha beta", true),
      (2L, "alpha beta beta alpha", true),
      (3L, "zeta eta zeta eta", false),
      (4L, "zeta eta eta zeta", false),
      (5L, "alpha beta", false),   // probe: target-like but not target
      (6L, "zeta eta", false)      // probe: raw-only
    ).toDF("doc_id", "text", "tgt")
    val w = TextAnalysis.dsirLogWeights(docs, "doc_id", "text",
        isTarget = col("tgt"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(w.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(w(5L)._1 == 2 && w(6L)._1 == 2, s"token counts: $w")
    assert(w(5L)._2 > w(6L)._2,
      s"target-like doc must outscore raw-only doc: $w")
    // weights are RELATIVE (target ⊆ raw + add-1 smoothing skews all
    // log-ratios negative on a tiny corpus) — the resampling order is
    // the contract, not the sign; target docs themselves must also
    // outscore pure-raw docs
    assert(w(1L)._2 > w(3L)._2 && w(2L)._2 > w(4L)._2,
      s"target docs must outscore raw docs: $w")
    val w2 = TextAnalysis.dsirLogWeights(docs, "doc_id", "text",
        isTarget = col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w2 == w.map { case (k, (_, x)) => k -> x },
      "pure function of the corpus — rerun must be identical")
  }

  test("noveltyProfile: first-seen shingles count as novel, repeats " +
      "don't, sub-n docs are absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),   // {a b, b c} — both first here → novelty 1
      (2L, "a b d"),   // {a b} seen in 1, {b d} new → novelty 0.5
      (3L, "a b c"),   // both shingles first seen in doc 1 → novelty 0
      (4L, "x")        // shorter than n=2: no shingles, no output row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.noveltyProfile(docs, "doc_id", "text", n = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3))))
      .toMap
    assert(out == Map(
      1L -> ((2L, 2L, 1.0)),
      2L -> ((2L, 1L, 0.5)),
      3L -> ((2L, 0L, 0.0))), s"got $out")
  }

  test("bm25TopK: non-matching docs absent, tf beats dl penalty here, " +
      "score matches the closed form") {
    import spark.implicits._
    // doc 4's null text must still count in n_docs/avgdl (as one
    // empty-string token), matching what a SQL oracle would count
    val docs = Seq(
      (1L, "a b"), (2L, "a a c"), (3L, "c c c"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val queries = Seq((0L, "a")).toDF("qid", "qtext")
    val out = TextAnalysis.bm25TopK(docs, "doc_id", "text", queries,
        k = 10)
      .orderBy(col("score").desc, col("doc_id"))
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    // docs 3/4 have no query term — must be absent, not scored 0
    assert(out.map(_._1).toSeq == Seq(2L, 1L), s"got ${out.toSeq}")
    // closed form: N=4, df(a)=2, avgdl=9/4, k1=1.2, b=0.75; the score
    // path quantizes each contribution to 1e-7 fixed point, sums the
    // integers, divides by 1e7, and rounds to 4
    val idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    def tfc(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / (9.0 / 4.0)))
    def fp(x: Double) = math.floor(x * 1e7 + 0.5).toLong
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def score(tf: Double, dl: Double) = r4(fp(idf * tfc(tf, dl)) / 1e7)
    assert(out.toMap == Map(
      2L -> score(2, 3), 1L -> score(1, 2)),
      s"got ${out.toSeq}")
  }

  test("bm25 index probe: pushed term predicate reaches the postings " +
      "scan, and probe results equal the direct-scan path exactly") {
    import spark.implicits._
    val docs = graft.engine.Tables(spark, "/root/testdata/sf0.001",
      "documents")
    val panel = Seq((0L, "scan table row"), (1L, "query filter"))
      .toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    val probe = TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 12, "doc_id")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term"),
      s"term predicate not pushed to the postings scan:\n${plan.take(1500)}")
    val direct = TextAnalysis.bm25TopK(docs, "doc_id", "text", panel,
        k = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val probed = probe
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(probed == direct, "index probe diverged from the direct scan")
  }

  test("segmented bm25: fresh index with NO tombstones dir probes " +
      "fine, and single-segment probe equals the direct scan") {
    import spark.implicits._
    val docs = graft.engine.Tables(spark, "/root/testdata/sf0.001",
      "documents")
    val panel = Seq((0L, "scan table row")).toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("bm25seg").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    val probed = TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 10, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val direct = TextAnalysis.bm25TopK(docs, "doc_id", "text", panel,
        k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(probed == direct,
      "fresh segmented probe diverged from the direct scan")
  }

  test("a manifest-less legacy layout with an EMPTY tombstones " +
      "crash-debris dir probes as zero tombstones instead of failing " +
      "schema inference") {
    import spark.implicits._
    val docs = graft.engine.Tables(spark, "/root/testdata/sf0.001",
      "documents")
    val panel = Seq((0L, "scan table row")).toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("bm25emptyt")
      .toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def probe() = TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 10, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val before = probe()
    // degrade to a pre-manifest legacy layout (drop the sealed
    // generations) and fold in tombstone crash debris: a seg dir
    // with NO parquet files, which the in-memory gen-0 bootstrap
    // will list as a member — the explicit-schema read must serve
    // it as zero rows
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_gen"), true))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/tombstones/seg=0"))
    assert(probe() == before,
      "empty tombstone debris changed (or broke) the legacy probe")
  }

  test("bm25MergeSegments: probe parity across the merge, folded " +
      "layout, and the generation clock restarts for later appends") {
    import spark.implicits._
    val docs = graft.engine.Tables(spark, "/root/testdata/sf0.001",
      "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"))
    val panel = Seq((0L, "scan table row"), (1L, "query filter"))
      .toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("bm25mrg").toString
    val seg0 = docs.filter(col("doc_id") % 5 =!= 4)
    val added = docs.filter(col("doc_id") % 5 === 4)
    val modified = seg0.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" upd")).as("text"))
    TextAnalysis.bm25AppendSegment(seg0, "doc_id", "text", dir, 0)
    // tombstone dl = the OLD (segment-0) dl, per the stats-correction
    // contract — the modified text's dl would skew pre-merge avgdl
    TextAnalysis.bm25Tombstone(
      seg0.join(modified.select(col("doc_id")), Seq("doc_id"))
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("dl")),
      "doc_id", "dl", dir, 1)
    TextAnalysis.bm25AppendSegment(modified.unionByName(added),
      "doc_id", "text", dir, 1)
    def probe() = TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 12, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val before = probe()
    val (folded, nLive) = TextAnalysis.bm25MergeSegments(spark, dir,
      "doc_id")
    assert(folded == 2, s"folded $folded segments")
    // the COMMITTED composition lives in the manifest now: one merged
    // segment, tombstone set cleared; the old directories stay on
    // disk as pinned/as-of history until vacuum
    val m = SegmentManifest.latest(spark, dir).get
    assert(m.segs("postings") == Seq(0), s"got ${m.segs("postings")}")
    assert(m.segs("tombstones").isEmpty,
      "tombstone entries survived the merge")
    assert(probe() == before, "probe diverged across the merge")
    // vacuum reclaims the pre-merge directories; the probe is
    // unchanged (it reads the latest generation either way)
    val (removed, kept) = TextAnalysis.bm25Vacuum(spark, dir, 1)
    assert(removed > 0 && kept == 3, s"vacuum ($removed, $kept)")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/postings/seg=1")),
      "vacuum left the unreferenced pre-merge segment")
    assert(probe() == before, "probe diverged across the vacuum")
    // the final corpus has every doc exactly once (mods re-appended,
    // nothing removed in this scenario)
    assert(nLive == docs.count(), s"live docs $nLive")
    // generation restarts: tombstone one merged doc at seg=1 and
    // re-append its replacement — the merged seg=0 row must die, the
    // fresh row must survive, and the probe must equal a direct scan
    // over the final corpus
    val mergedText =
      when(col("doc_id") % 7 === 0 && col("doc_id") % 5 =!= 4,
        concat(col("text"), lit(" upd"))).otherwise(col("text"))
    val victim = docs.filter(col("doc_id") === 0)
      .select(col("doc_id"),
        concat(col("text"), lit(" upd2")).as("text"))
    val vTomb = docs.filter(col("doc_id") === 0)
      .select(col("doc_id"),
        size(TextAnalysis.tokens(mergedText)).cast("long").as("dl"))
    TextAnalysis.bm25Tombstone(vTomb, "doc_id", "dl", dir, 1)
    TextAnalysis.bm25AppendSegment(victim, "doc_id", "text", dir, 1)
    val finalCorpus = docs.filter(col("doc_id") =!= 0)
      .select(col("doc_id"), mergedText.as("text"))
      .unionByName(victim)
    val direct = TextAnalysis.bm25TopK(finalCorpus, "doc_id", "text",
        panel, k = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(probe() == direct,
      "post-merge append/tombstone diverged from the direct scan")
  }

  test("bm25MergeSegments: a crashed merge's unsealed rev output is " +
      "invisible to probes, a re-run merges cleanly, and vacuum " +
      "reclaims the garbage") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "b b")).toDF(
      "doc_id", "text")
    val panel = Seq((0L, "a b")).toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("bm25rc2").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    val expect = TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 3, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // simulate the crash: a half-written merge output under _rev with
    // NO seal — poisoned content, so any read of it would be loud in
    // the assertions below
    val garbage = Seq((99L, 77L, "zzz", 9L)).toDF(
      "doc_id", "dl", "term", "tf")
    garbage.write.parquet(s"$dir/_rev/g9-deadbeef/postings/seg=0")
    assert(TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 3, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet == expect, "unsealed rev garbage leaked into a probe")
    // a re-run merges from the last sealed generation as if the
    // crashed attempt never happened
    val (folded, nLive) = TextAnalysis.bm25MergeSegments(spark, dir,
      "doc_id")
    assert(folded == 1 && nLive == 3, s"re-run returned ($folded, $nLive)")
    assert(TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 3, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet == expect, "re-run merge diverged")
    // vacuum reclaims the crashed attempt's unreferenced directory
    TextAnalysis.bm25Vacuum(spark, dir, 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_rev/g9-deadbeef")), "vacuum left the crash garbage")
    assert(TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 3, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet == expect, "vacuum changed probe results")
  }

  test("concurrent writers collide LOUDLY on the exclusive manifest " +
      "seal: the second maintenance op fails, the index stays intact") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "b b"), (4L, "c c"))
      .toDF("doc_id", "text")
    val panel = Seq((0L, "a b")).toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("bm25seal").toString
    TextAnalysis.bm25AppendSegment(
      docs.filter(col("doc_id") <= 2), "doc_id", "text", dir, 0)
    TextAnalysis.bm25AppendSegment(
      docs.filter(col("doc_id") > 2), "doc_id", "text", dir, 1)
    val expect = TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 4, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // a concurrent writer seals the next generation between this
    // op's pin and its own seal — simulated by pre-sealing it
    val base = SegmentManifest.latest(spark, dir).get
    SegmentManifest.seal(spark, dir, base.copy(gen = base.gen + 1))
    val e = intercept[IllegalStateException] {
      // the slower writer's own seal of the same generation — the
      // exact commit step every maintenance op ends with — must lose
      // loudly, leaving only unreferenced output
      SegmentManifest.seal(spark, dir, base.copy(gen = base.gen + 1))
    }
    assert(e.getMessage.contains("concurrent writer"),
      s"wrong collision message: $e")
    // the index is intact through the collision: probes green, and
    // the real maintenance op keeps working at the next generation
    assert(TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 4, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet == expect, "seal collision corrupted the index")
    val (folded, nLive) = TextAnalysis.bm25MergeSegments(spark, dir,
      "doc_id")
    assert(folded == 2 && nLive == 4, s"got ($folded, $nLive)")
    assert(TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 4, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet == expect, "post-collision merge diverged")
  }

  test("a seal that crashes mid-write can never poison the newest " +
      "generation: only an ignored temp file is left, probes and " +
      "later seals keep working") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "b b"))
      .toDF("doc_id", "text")
    val panel = Seq((0L, "a b")).toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("bm25torn").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    val expect = TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 4, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // simulate the crash/disk-full the seal protects against: a
    // half-written manifest for the NEXT generation, parked where a
    // pre-publish temp file lives. The old create-then-write protocol
    // would have had this torn content OCCUPY the generation number
    // and fail every subsequent latest() parse permanently.
    val g1 = SegmentManifest.latestGen(spark, dir).get
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_gen/.m${g1 + 1}.dead0000.tmp"),
      s"gen=${g1 + 1}\npostings\ttru".getBytes("UTF-8"))
    // the torn temp is invisible: latest() still reads the sealed
    // generation, probes are unchanged
    assert(SegmentManifest.latestGen(spark, dir).contains(g1),
      "torn temp file occupied a generation number")
    assert(TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 4, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet == expect, "torn seal changed probe results")
    // the re-run (any maintenance op) seals the SAME next generation
    // the crashed attempt was writing — recovery is a plain re-run
    val (folded, nLive) = TextAnalysis.bm25MergeSegments(spark, dir,
      "doc_id")
    assert(folded == 1 && nLive == 3, s"got ($folded, $nLive)")
    assert(SegmentManifest.latestGen(spark, dir).contains(g1 + 1),
      "re-run did not seal the crashed generation")
    assert(TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 4, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet == expect, "post-recovery probe diverged")
  }


  test("bm25MergeSegmentsTiered: folds smallest adjacent pairs, " +
      "retains tombstones, probe parity; full merge still works after") {
    import spark.implicits._
    val docs = graft.engine.Tables(spark, "/root/testdata/sf0.001",
      "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"))
    val panel = Seq((0L, "scan table row upd"), (1L, "query filter"))
      .toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("bm25tier").toString
    // four generations: three slices of the original corpus, then a
    // tombstone + re-append generation on top
    val segA = docs.filter(col("doc_id") % 5 <= 1)
    val segB = docs.filter(col("doc_id") % 5 === 2)
    val segC = docs.filter(col("doc_id") % 5 === 3)
    val old = docs.filter(col("doc_id") % 5 =!= 4)
    val added = docs.filter(col("doc_id") % 5 === 4)
    val modified = old.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" upd")).as("text"))
    val removed = old.filter(col("doc_id") % 7 =!= 0 &&
      col("doc_id") % 11 === 3)
    TextAnalysis.bm25AppendSegment(segA, "doc_id", "text", dir, 0)
    TextAnalysis.bm25AppendSegment(segB, "doc_id", "text", dir, 1)
    TextAnalysis.bm25AppendSegment(segC, "doc_id", "text", dir, 2)
    TextAnalysis.bm25Tombstone(
      old.join(modified.select(col("doc_id"))
          .union(removed.select(col("doc_id"))), Seq("doc_id"))
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("dl")),
      "doc_id", "dl", dir, 3)
    TextAnalysis.bm25AppendSegment(modified.unionByName(added),
      "doc_id", "text", dir, 3)
    def probe() = TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 12, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val before = probe()
    val (folds, remaining) = TextAnalysis.bm25MergeSegmentsTiered(
      spark, dir, "doc_id", maxSegments = 2)
    assert(folds == 2 && remaining == 2, s"got ($folds, $remaining)")
    val mTier = SegmentManifest.latest(spark, dir).get
    assert(mTier.segs("postings").length == 2,
      s"got ${mTier.segs("postings")}")
    // tombstones RETAINED — only the full merge's scope covers every
    // segment a tombstone can reach
    assert(mTier.segs("tombstones").nonEmpty,
      "tiered merge must not clear tombstones")
    assert(probe() == before, "probe diverged across the tiered merge")
    // parity against the from-scratch direct scan of the final state
    val finalCorpus = old
      .filter(col("doc_id") % 7 =!= 0 &&
        !(col("doc_id") % 11 === 3))
      .unionByName(modified).unionByName(added)
    val direct = TextAnalysis.bm25TopK(finalCorpus, "doc_id", "text",
        panel, k = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(probe() == direct, "tiered-merged probe != direct scan")
    // idempotent when already within budget
    val (f2, r2) = TextAnalysis.bm25MergeSegmentsTiered(spark, dir,
      "doc_id", maxSegments = 2)
    assert(f2 == 0 && r2 == 2)
    // the FULL merge composes on top: folds the rest, clears
    // tombstones, parity still holds
    val (f3, _) = TextAnalysis.bm25MergeSegments(spark, dir, "doc_id")
    assert(f3 == 2, s"full merge folded $f3")
    assert(SegmentManifest.latest(spark, dir).get
      .segs("tombstones").isEmpty)
    assert(probe() == before, "probe diverged across the full merge")
  }

  test("MVCC snapshot isolation: probes pinned before a tiered fold, " +
      "a tombstone GC and an upsert wave return the PRE-maintenance " +
      "answer bit-identically; fresh probes track each generation; " +
      "asOfGeneration replays history across the compaction") {
    import spark.implicits._
    val docs = graft.engine.Tables(spark, "/root/testdata/sf0.001",
      "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"))
    val old = docs.filter(col("doc_id") % 5 =!= 4)
    val modified = old.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" upd")).as("text"))
    val panel = Seq((0L, "scan table row upd"), (1L, "query filter"))
      .toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("mvcc").toString
    TextAnalysis.bm25AppendSegment(
      old.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir, 0)
    TextAnalysis.bm25AppendSegment(
      old.filter(col("doc_id") % 2 === 1), "doc_id", "text", dir, 1)
    TextAnalysis.bm25Tombstone(
      old.join(modified.select(col("doc_id")), Seq("doc_id"))
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("dl")),
      "doc_id", "dl", dir, 2)
    TextAnalysis.bm25AppendSegment(modified, "doc_id", "text", dir, 2)
    def probe(asOfGen: Option[Int] = None) = TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 12, "doc_id",
        asOfGeneration = asOfGen)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    def phrase(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val expect0 = probe()
    val gen0 = SegmentManifest.latestGen(spark, dir).get
    // --- pin BEFORE the fold; the fold runs; the pinned probe then
    // EXECUTES and must return the pre-fold answer bit-identically
    // (its generation's directories are write-once and untouched)
    val pinnedFold = TextAnalysis.bm25ProbeSegmented(
      spark, dir, panel, k = 12, "doc_id")
    val pinnedPhrase = TextAnalysis.phraseSearch(
      spark, dir, Seq("scan", "table"), "doc_id")
    val phraseExpect = phrase(TextAnalysis.phraseSearch(
      spark, dir, Seq("scan", "table"), "doc_id"))
    val (_, rem) = TextAnalysis.bm25MergeSegmentsTiered(spark, dir,
      "doc_id", maxSegments = 1)
    assert(rem == 1)
    assert(pinnedFold.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == expect0, "fold raced the pinned probe")
    // the fold is also INVISIBLE to a fresh probe (the q122 contract)
    assert(probe() == expect0, "fold changed fresh-probe results")
    // --- pin BEFORE the GC; GC drops the now-covered tombstones
    val pinnedGc = TextAnalysis.bm25ProbeSegmented(
      spark, dir, panel, k = 12, "doc_id")
    val (dropped, _) = TextAnalysis.bm25CompactTombstones(spark, dir,
      "doc_id")
    assert(dropped > 0, "expected GC-able tombstones")
    assert(pinnedGc.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == expect0, "GC raced the pinned probe")
    assert(phrase(pinnedPhrase) == phraseExpect,
      "maintenance raced the pinned positional probe")
    // --- pin BEFORE an upsert wave that ADDS a doc stuffed with
    // panel terms: the pinned probe must NOT see it, a fresh one must
    val pinnedWave = TextAnalysis.bm25ProbeSegmented(
      spark, dir, panel, k = 12, "doc_id")
    val intruder = Seq((999999L,
      "scan table row upd scan table row upd query filter"))
      .toDF("doc_id", "text")
    TextAnalysis.bm25ApplyUpserts(spark, dir, intruder,
      intruder.limit(0), "doc_id", "text", segment = 3,
      maxSegments = 2)
    assert(pinnedWave.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == expect0, "the wave raced the pinned probe")
    val fresh = probe()
    assert(fresh != expect0 && fresh.exists(_._2 == 999999L),
      "a fresh probe must see the upserted doc")
    // --- generation time travel ACROSS the compaction: the fold
    // renumbered segments (the asOfSegment cut's validity horizon),
    // but the sealed generation's directories are still on disk
    assert(probe(asOfGen = Some(gen0)) == expect0,
      "asOfGeneration failed to replay the pre-fold generation")
    // and below the vacuum floor it fails LOUDLY, not silently
    TextAnalysis.bm25Vacuum(spark, dir, 1)
    val e = intercept[IllegalArgumentException] {
      probe(asOfGen = Some(gen0))
    }
    assert(e.getMessage.contains("vacuum"),
      s"wrong floor message: $e")
    assert(probe() == fresh, "vacuum changed the live answer")
  }

  test("phraseSearch: positional intersection matches consecutive-" +
      "token runs only, counts overlaps, handles repeated terms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b"),       // "a b" twice (pos 0, 3); "a b c" once
      (2L, "b a c b a"),       // terms present, never adjacent as a-b
      (3L, "a a a"),           // repeated-term phrase "a a": pos 0, 1
      (4L, "x y a b"),         // phrase at document end
      (5L, "c c c"))           // no phrase terms at all
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("posidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def run(ph: String*) = TextAnalysis
      .phraseSearch(spark, dir, ph, "doc_id")
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(run("a", "b") == Seq((1L, 2L, 0L), (4L, 1L, 2L)))
    assert(run("a", "b", "c") == Seq((1L, 1L, 0L)))
    // overlapping occurrences of a repeated-term phrase both count
    assert(run("a", "a") == Seq((3L, 2L, 0L)))
    assert(run("c", "a", "b") == Seq((1L, 1L, 2L)))
    assert(run("z", "q").isEmpty)
    // the probe's term predicate is PUSHED to the posting scan
    val plan = TextAnalysis
      .phraseSearch(spark, dir, Seq("a", "b"), "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("term"),
      s"phrase probe did not push the term predicate:\n${plan.take(1200)}")
  }

  test("proximitySearch: linear minimum-window scan equals the " +
      "brute-force all-combinations span, threshold filters") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a x x b x a"),     // a@{0,5} b@{3}: min span |5-3| = 2
      (2L, "b x x x x a"),     // single combo: span 5
      (3L, "a x b x c"),       // 3-term: span 4
      (4L, "c a b x x c x a"), // 3-term: a@{1,7} b@{2} c@{0,5}: [0..2]=2
      (5L, "a a a"))           // b missing: never returned
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("proxidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def run(w: Long, ts: String*) = TextAnalysis
      .proximitySearch(spark, dir, ts, w, "doc_id")
      .orderBy(col("doc_id"))
      .as[(Long, Long)].collect().toSeq
    // doc 3 has a@0 b@2 (span 2); doc 4 has a@{1,7} b@2 (span 1)
    assert(run(10L, "a", "b") ==
      Seq((1L, 2L), (2L, 5L), (3L, 2L), (4L, 1L)))
    assert(run(4L, "a", "b") ==
      Seq((1L, 2L), (3L, 2L), (4L, 1L)))         // threshold drops doc 2
    assert(run(10L, "a", "b", "c") == Seq((3L, 4L), (4L, 2L)))
    assert(run(3L, "a", "b", "c") == Seq((4L, 2L)))
    assert(run(10L, "a", "z").isEmpty)
    // brute-force cross-check on real docs: the linear scan's span
    // equals min over all occurrence combinations (computed locally)
    val real = graft.engine.Tables(spark, "/root/testdata/sf0.001",
      "documents")
    val rdir = java.nio.file.Files
      .createTempDirectory("proxidx_r").toString
    TextAnalysis.bm25AppendSegment(real, "doc_id", "text", rdir, 0)
    val got = TextAnalysis.proximitySearch(spark, rdir,
        Seq("sort", "merge"), maxSpan = 5L, "doc_id")
      .as[(Long, Long)].collect().toMap
    val local = real.select(col("doc_id"),
        TextAnalysis.tokens(coalesce(col("text"), lit(""))).as("t"))
      .as[(Long, Seq[String])].collect()
      .flatMap { case (id, t) =>
        val pa = t.zipWithIndex.collect { case ("sort", i) => i.toLong }
        val pb = t.zipWithIndex.collect { case ("merge", i) => i.toLong }
        if (pa.isEmpty || pb.isEmpty) None
        else {
          val ms = (for (a <- pa; b <- pb) yield math.abs(a - b)).min
          if (ms <= 5L) Some(id -> ms) else None
        }
      }.toMap
    assert(got == local,
      s"linear scan diverged from brute force on ${
        (got.keySet ++ local.keySet).count(k =>
          got.get(k) != local.get(k))} docs")
    assert(got.nonEmpty)
  }

  test("bm25MergeSegmentsTiered protectNewest: a replayed append-" +
      "then-merge loses nothing; unprotected replay demonstrably " +
      "would") {
    import spark.implicits._
    val a = Seq((1L, "a b"), (2L, "a c"), (3L, "b c"), (4L, "c c"))
      .toDF("doc_id", "text")                   // biggest (4 docs)
    val b = Seq((5L, "a b c")).toDF("doc_id", "text") // small
    val c = Seq((6L, "b b a")).toDF("doc_id", "text") // small
    val panel = Seq((0L, "a b")).toDF("qid", "qtext")
    def probe(dir: String) = TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 10, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    def ingest(dir: String, protect: Int): Unit = {
      // the streaming loop's per-batch step, with batch 2 REPLAYED
      // (append is overwrite — the foreachBatch retry semantics)
      TextAnalysis.bm25AppendSegment(a, "doc_id", "text", dir, 0)
      TextAnalysis.bm25MergeSegmentsTiered(spark, dir, "doc_id", 2,
        protect)
      TextAnalysis.bm25AppendSegment(b, "doc_id", "text", dir, 1)
      TextAnalysis.bm25MergeSegmentsTiered(spark, dir, "doc_id", 2,
        protect)
      TextAnalysis.bm25AppendSegment(c, "doc_id", "text", dir, 2)
      TextAnalysis.bm25MergeSegmentsTiered(spark, dir, "doc_id", 2,
        protect)
      TextAnalysis.bm25AppendSegment(c, "doc_id", "text", dir, 2)
      TextAnalysis.bm25MergeSegmentsTiered(spark, dir, "doc_id", 2,
        protect)
    }
    val direct = TextAnalysis
      .bm25TopK(a.unionByName(b).unionByName(c), "doc_id", "text",
        panel, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // protected: replay is idempotent — nothing lost
    val safeDir = java.nio.file.Files
      .createTempDirectory("tierreplay_p").toString
    ingest(safeDir, protect = 1)
    assert(probe(safeDir) == direct,
      "protected replay diverged from the direct scan")
    // UNprotected: batch 2's merge absorbs segment 1 into seg=2
    // (smallest adjacent pair), so the replayed overwrite of seg=2
    // destroys batch 1's docs — the failure protectNewest exists for
    val unsafeDir = java.nio.file.Files
      .createTempDirectory("tierreplay_u").toString
    ingest(unsafeDir, protect = 0)
    val lost = probe(unsafeDir)
    assert(lost != direct && !lost.exists(_._2 == 5L),
      "expected the unprotected replay to lose the absorbed batch")
  }

  test("bm25ApplyRecrawl: one diff-driven wave matches the direct " +
      "scan of the final state, and a full retry of the wave is " +
      "idempotent") {
    import spark.implicits._
    val docs = graft.engine.Tables(spark, "/root/testdata/sf0.001",
      "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"))
    val old = docs.filter(col("doc_id") % 5 =!= 4)
    val status = when(col("doc_id") % 5 === 4, lit("added"))
      .when(col("doc_id") % 7 === 0, lit("modified"))
      .when(col("doc_id") % 11 === 3, lit("removed"))
      .otherwise(lit("unchanged"))
    val changes = docs.select(col("doc_id"), status.as("status"))
    val newSnap = docs.filter(status =!= "removed")
      .select(col("doc_id"),
        when(status === "modified", concat(col("text"), lit(" upd")))
          .otherwise(col("text")).as("text"))
    val dir = java.nio.file.Files
      .createTempDirectory("bm25recrawl").toString
    TextAnalysis.bm25AppendSegment(
      old.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir, 0)
    TextAnalysis.bm25AppendSegment(
      old.filter(col("doc_id") % 2 === 1), "doc_id", "text", dir, 1)
    def wave() = TextAnalysis.bm25ApplyRecrawl(spark, dir, old,
      newSnap, changes, "doc_id", "text", segment = 2,
      maxSegments = 2)
    wave()
    val panel = Seq((0L, "scan table row upd"), (1L, "query filter"))
      .toDF("qid", "qtext")
    def probe() = TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 12, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val direct = TextAnalysis.bm25TopK(newSnap, "doc_id", "text",
        panel, k = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(probe() == direct, "recrawl wave diverged from direct scan")
    // a FULL retry of the wave (orchestrator re-run): tombstones and
    // the wave segment rewrite idempotently, nothing previously
    // folded is destroyed — the protectNewest guarantee
    wave()
    assert(probe() == direct, "retried recrawl wave lost data")
  }

  test("bm25ApplyUpserts: snapshot-free wave takes old dl from the " +
      "live postings, probe equals the direct scan, and a wholesale " +
      "replay converges even after folds changed the layout") {
    import spark.implicits._
    val old = Seq((1L, "a b c"), (2L, "b c d e"), (3L, "c d"),
      (4L, "a a b")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("upswave").toString
    TextAnalysis.bm25AppendSegment(
      old.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir, 0)
    TextAnalysis.bm25AppendSegment(
      old.filter(col("doc_id") % 2 === 1), "doc_id", "text", dir, 1)
    val upserts = Seq((2L, "b c"), (5L, "e f g"))
      .toDF("doc_id", "text")                  // modify 2, add 5
    val deletes = Seq(Tuple1(3L)).toDF("doc_id")
    def wave() = TextAnalysis.bm25ApplyUpserts(spark, dir, upserts,
      deletes, "doc_id", "text", segment = 2, maxSegments = 2)
    val (folds, remaining) = wave()
    assert(folds == 1 && remaining == 2)
    val finalCorpus = Seq((1L, "a b c"), (2L, "b c"), (4L, "a a b"),
      (5L, "e f g")).toDF("doc_id", "text")
    val panel = Seq((0L, "b c"), (1L, "a e")).toDF("qid", "qtext")
    def probe() = TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 10, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val direct = TextAnalysis.bm25TopK(finalCorpus, "doc_id", "text",
        panel, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(probe() == direct,
      "snapshot-free wave diverged from the direct scan")
    // wholesale retry: the tombstone step must SKIP via its committed
    // marker — re-deriving old dl now would read the NEW lengths and
    // silently shift the stats correction
    wave()
    assert(probe() == direct, "replayed wave shifted the scores")
  }

  test("bm25ApplyUpserts, legacy-upgrade path: a half-written " +
      "tombstone dir without _SUCCESS is NOT a commit — the wave " +
      "re-derives the kill set instead of silently truncating it") {
    import spark.implicits._
    val old = Seq((1L, "a b c"), (2L, "b c d e"), (3L, "c d"),
      (4L, "a a b")).toDF("doc_id", "text")
    val built = java.nio.file.Files
      .createTempDirectory("upsucc_b").toString
    TextAnalysis.bm25AppendSegment(old, "doc_id", "text", built, 0)
    // clone into a LEGACY layout (hive tree, no _gen) — a pre-manifest
    // index the upgrade path must handle
    val dir = java.nio.file.Files
      .createTempDirectory("upsucc").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (l <- Seq("postings", "termdict", "segstats"))
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$built/$l"),
        new org.apache.hadoop.fs.Path(s"$dir/$l")))
    // the pre-manifest crash: a tombstone dir for the wave's segment
    // holding only PART of the kill set (doc 2's row; doc 3's is
    // missing) and NO _SUCCESS — treating it as committed would skip
    // the re-derive and silently truncate the kill set
    Seq((2L, 4L)).toDF("doc_id", "dl")
      .coalesce(1).write.parquet(s"$dir/tombstones/seg=2")
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/tombstones/seg=2/_SUCCESS"), false))
    val upserts = Seq((2L, "b c"), (5L, "e f g"))
      .toDF("doc_id", "text")                  // modify 2, add 5
    val deletes = Seq(Tuple1(3L)).toDF("doc_id")
    TextAnalysis.bm25ApplyUpserts(spark, dir, upserts, deletes,
      "doc_id", "text", segment = 2, maxSegments = 2)
    val finalCorpus = Seq((1L, "a b c"), (2L, "b c"), (4L, "a a b"),
      (5L, "e f g")).toDF("doc_id", "text")
    val panel = Seq((0L, "b c"), (1L, "a e")).toDF("qid", "qtext")
    val got = TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 10, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val direct = TextAnalysis.bm25TopK(finalCorpus, "doc_id", "text",
        panel, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == direct,
      "the torn pre-manifest tombstone dir was treated as committed " +
        "— kill set truncated")
  }

  test("bm25CompactTombstones: generations below every live segment " +
      "are dropped with the stats correction baked in; probe parity " +
      "holds and later generations survive") {
    import spark.implicits._
    val docs = graft.engine.Tables(spark, "/root/testdata/sf0.001",
      "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"))
    val old = docs.filter(col("doc_id") % 5 =!= 4)
    val added = docs.filter(col("doc_id") % 5 === 4)
    val modified = old.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" upd")).as("text"))
    val dir = java.nio.file.Files
      .createTempDirectory("bm25tgc").toString
    TextAnalysis.bm25AppendSegment(
      old.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir, 0)
    TextAnalysis.bm25AppendSegment(
      old.filter(col("doc_id") % 2 === 1), "doc_id", "text", dir, 1)
    TextAnalysis.bm25Tombstone(
      old.join(modified.select(col("doc_id")), Seq("doc_id"))
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("dl")),
      "doc_id", "dl", dir, 2)
    TextAnalysis.bm25AppendSegment(modified.unionByName(added),
      "doc_id", "text", dir, 2)
    // a LATER-generation tombstone that must survive the GC: kill one
    // fresh doc at generation 3
    val victim = added.orderBy(col("doc_id")).limit(1)
    TextAnalysis.bm25Tombstone(
      victim.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("dl")),
      "doc_id", "dl", dir, 3)
    // fold everything (tiered all the way down) so every victim of
    // the gen-2 tombstones is physically gone and the min live
    // segment reaches 2 — gen 2 becomes GC-able, gen 3 must not
    val (_, remaining) = TextAnalysis.bm25MergeSegmentsTiered(spark,
      dir, "doc_id", maxSegments = 1)
    assert(remaining == 1)
    val panel = Seq((0L, "scan table row upd"), (1L, "query filter"))
      .toDF("qid", "qtext")
    def probe() = TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 12, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val before = probe()
    // the positional family rides the same layout: phrase answers
    // must also be GC-invariant (and still honor the surviving
    // gen-3 tombstone)
    def phrase() = TextAnalysis
      .phraseSearch(spark, dir, Seq("scan", "table"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val phraseBefore = phrase()
    val minSeg = TextAnalysis.segmentInfos(spark, dir, "doc_id")
      .agg(min(col("seg").cast("int"))).head().getInt(0)
    assert(minSeg == 2, s"fold did not land on seg=2: $minSeg")
    val (dropped, kept) = TextAnalysis.bm25CompactTombstones(spark,
      dir, "doc_id")
    assert(dropped > 0, "expected the gen-2 tombstones to be GC-able")
    assert(kept == 1, "exactly the gen-3 tombstone must survive")
    assert(probe() == before,
      "tombstone compaction changed probe results")
    assert(phrase() == phraseBefore,
      "tombstone compaction changed phrase results")
    // idempotent: nothing more to drop on a re-run
    val (d2, k2) = TextAnalysis.bm25CompactTombstones(spark, dir,
      "doc_id")
    assert(d2 == 0 && k2 == kept)
    assert(probe() == before)
  }

  test("termPrefixSearch: distinct-term and occurrence counts, and " +
      "the startsWith predicate is pushed to the postings scan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "star start star x"),  // st*: {star×2, start×1} → 2 terms, 3 occ
      (2L, "stop x stop"),        // {stop×2} → 1 term, 2 occ
      (3L, "x y z"))              // no st* terms
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("prefidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    val got = TextAnalysis.termPrefixSearch(spark, dir, "st", "doc_id")
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 3L), (2L, 1L, 2L)))
    val plan = TextAnalysis.termPrefixSearch(spark, dir, "st", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("StringStartsWith(term,st)"),
      s"prefix predicate not pushed:\n${plan.take(1200)}")
  }

  test("fuzzyTermSearch: dictionary expansion within edit distance, " +
      "loud expansion cap, empty result for unreachable terms, " +
      "tombstones honored") {
    import spark.implicits._
    val docs = Seq(
      (1L, "sort sorts port x"),   // sort(0) sorts(1) port(1) → 3 terms, 3 occ at d=1
      (2L, "short spot x"),        // short(1 — delete h) spot(2) → 1 term, 1 occ
      (3L, "sort sort fort"))      // sort×2(0) fort(1) → 2 terms, 3 occ
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("fuzzyidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def run(t: String, d: Int, cap: Int = 1000) = TextAnalysis
      .fuzzyTermSearch(spark, dir, t, d, "doc_id", cap)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(run("sort", 1) == Seq((1L, 3L, 3L), (2L, 1L, 1L), (3L, 2L, 3L)))
    assert(run("sort", 0) == Seq((1L, 1L, 1L), (3L, 1L, 2L)))
    // unreachable: empty frame with the contract schema, no error
    assert(run("zzzzzz", 1).isEmpty)
    // the expansion cap fails loudly
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.fuzzyTermSearch(spark, dir, "sort", 1, "doc_id",
        maxExpansion = 2)
    }
    assert(e.getMessage.contains("expands to"), s"wrong error: $e")
    // tombstoned docs drop out of fuzzy results too
    TextAnalysis.bm25Tombstone(Seq((3L, 3L)).toDF("doc_id", "dl"),
      "doc_id", "dl", dir, 1)
    assert(run("sort", 1) == Seq((1L, 3L, 3L), (2L, 1L, 1L)))
  }

  test("booleanSearch: must/should/mustNot semantics, score parity " +
      "with the BM25 probe, guards, tombstones honored") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"), (2L, "a b"), (3L, "a c x"), (4L, "b c"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("boolidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def ids(must: Seq[String], should: Seq[String],
            not: Seq[String]) = TextAnalysis
      .booleanSearch(spark, dir, must, should, not, 10, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    // must-all + exclusion: doc 3 lacks b AND carries x; doc 4 lacks a
    assert(ids(Seq("a", "b"), Nil, Seq("x")) == Set(1L, 2L))
    // should-only: any doc containing a
    assert(ids(Nil, Seq("a"), Nil) == Set(1L, 2L, 3L))
    // mixed: must a narrows, should c only scores
    assert(ids(Seq("a"), Seq("c"), Nil) == Set(1L, 2L, 3L))
    // score parity: must=[a] should=[c] scores ≡ the BM25 probe's
    // "a c" panel restricted to docs containing a — same contribFp,
    // same df/stats derivation, by shared definition
    val bool = TextAnalysis.booleanSearch(spark, dir,
        Seq("a"), Seq("c"), Nil, 10, "doc_id")
      .select(col("doc_id"), col("score"))
      .as[(Long, Double)].collect().toMap
    val probe = TextAnalysis.bm25ProbeSegmented(spark, dir,
        Seq((0L, "a c")).toDF("qid", "qtext"), 10, "doc_id")
      .select(col("doc_id"), col("score"))
      .as[(Long, Double)].collect().toMap
    assert(bool == probe.view.filterKeys(Set(1L, 2L, 3L)).toMap,
      s"boolean $bool != probe-restricted $probe")
    // guards: no positive terms; a term both positive and negative
    intercept[IllegalArgumentException] {
      TextAnalysis.booleanSearch(spark, dir, Nil, Nil, Seq("a"),
        10, "doc_id")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.booleanSearch(spark, dir, Seq("a"), Nil, Seq("a"),
        10, "doc_id")
    }
    // tombstoned docs drop out (doc 1 dies; doc 2 remains)
    TextAnalysis.bm25Tombstone(Seq((1L, 3L)).toDF("doc_id", "dl"),
      "doc_id", "dl", dir, 1)
    assert(ids(Seq("a", "b"), Nil, Seq("x")) == Set(2L))
  }

  test("wildcardTermSearch: * and ? expansion, literal-prefix band, " +
      "leading-star full-dictionary path, cap, tombstones honored") {
    import spark.implicits._
    val docs = Seq(
      (1L, "start stop star x"),
      (2L, "strong stop"),
      (3L, "star start art"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("wildidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def run(p: String, cap: Int = 1000) = TextAnalysis
      .wildcardTermSearch(spark, dir, p, "doc_id", cap)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long)].collect().toSeq
    // prefix-banded *: start/stop/star/strong
    assert(run("st*") ==
      Seq((1L, 3L, 3L), (2L, 2L, 2L), (3L, 2L, 2L)))
    // ? is exactly one char: st?r → star only
    assert(run("st?r") == Seq((1L, 1L, 1L), (3L, 1L, 1L)))
    // leading star (full-dictionary path): *art → start, art
    assert(run("*art") == Seq((1L, 1L, 1L), (3L, 2L, 2L)))
    // unreachable pattern: empty frame, contract schema, no error
    assert(run("zz*").isEmpty)
    // expansion cap fails loudly
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.wildcardTermSearch(spark, dir, "st*", "doc_id",
        maxExpansion = 2)
    }
    assert(e.getMessage.contains("expands to"), s"wrong error: $e")
    // tombstoned docs drop out
    TextAnalysis.bm25Tombstone(Seq((3L, 3L)).toDF("doc_id", "dl"),
      "doc_id", "dl", dir, 1)
    assert(run("st*") == Seq((1L, 3L, 3L), (2L, 2L, 2L)))
  }

  test("term dictionary artifact: written per segment, superset-safe " +
      "under tombstones and folds, purged by the full merge, " +
      "postings fallback when absent") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("dictidx").toString
    TextAnalysis.bm25AppendSegment(
      Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 0)
    TextAnalysis.bm25AppendSegment(
      Seq((3L, "delta")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 1)
    // the dict through the sealed composition (discovery would see
    // stale pre-compaction dirs retained for time travel)
    def dictTerms() = SegmentManifest
      .read(spark, dir, SegmentManifest.latest(spark, dir).get,
        "termdict").get
      .select("term").distinct().as[String].collect().toSet
    assert(dictTerms() == Set("alpha", "beta", "gamma", "delta"))
    // tombstone doc 1 (the only alpha): dict keeps alpha (superset),
    // but the expansion finds nothing live for it
    TextAnalysis.bm25Tombstone(Seq((1L, 2L)).toDF("doc_id", "dl"),
      "doc_id", "dl", dir, 2)
    assert(dictTerms().contains("alpha"))
    assert(TextAnalysis.wildcardTermSearch(spark, dir, "alp*",
      "doc_id").count() == 0)
    assert(TextAnalysis.wildcardTermSearch(spark, dir, "*a", "doc_id")
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long)].collect().toSeq ==
      Seq((2L, 2L, 2L), (3L, 1L, 1L)))
    // the full merge purges dead-only terms from the dict
    TextAnalysis.bm25MergeSegments(spark, dir, "doc_id")
    assert(dictTerms() == Set("beta", "gamma", "delta"))
    // fallback: with the artifact absent from the composition (a
    // layout sealed before dicts existed), expansion derives the
    // dictionary from the postings and results are identical
    val m = SegmentManifest.latest(spark, dir).get
    SegmentManifest.seal(spark, dir, m.copy(gen = m.gen + 1,
      layouts = m.layouts.updated("termdict", Nil)))
    assert(TextAnalysis.wildcardTermSearch(spark, dir, "*a", "doc_id")
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long)].collect().toSeq ==
      Seq((2L, 2L, 2L), (3L, 1L, 1L)))
  }

  test("searchFacets: full-match-set counts per facet dimension, " +
      "null bucket, guards, tombstones honored") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b", "en", "web"),
      (2L, "a", "en", "book"),
      (3L, "b", "fr", "web"),
      (4L, "c", "fr", null))
      .toDF("doc_id", "text", "lang", "source")
    val dir = java.nio.file.Files
      .createTempDirectory("facetidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def run(terms: Seq[String]) = TextAnalysis
      .searchFacets(spark, dir, terms, docs, "doc_id",
        Seq("lang", "source"))
      .orderBy(col("facet"), col("value"))
      .as[(String, Option[String], Long)].collect().toSeq
    // docs {1,2,3} match a|b: lang en=2 fr=1; source web=2 book=1
    assert(run(Seq("a", "b")) == Seq(
      ("lang", Some("en"), 2L), ("lang", Some("fr"), 1L),
      ("source", Some("book"), 1L), ("source", Some("web"), 2L)))
    // null facet values group as one NULL bucket (Solr's missing
    // count) — nulls sort first in ascending order
    assert(run(Seq("c")) == Seq(
      ("lang", Some("fr"), 1L),
      ("source", None, 1L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.searchFacets(spark, dir, Nil, docs, "doc_id",
        Seq("lang"))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.searchFacets(spark, dir, Seq("a"), docs, "doc_id",
        Nil)
    }
    // tombstoned doc 1 leaves {2,3}
    TextAnalysis.bm25Tombstone(Seq((1L, 2L)).toDF("doc_id", "dl"),
      "doc_id", "dl", dir, 1)
    assert(run(Seq("a", "b")) == Seq(
      ("lang", Some("en"), 1L), ("lang", Some("fr"), 1L),
      ("source", Some("book"), 1L), ("source", Some("web"), 1L)))
  }

  test("moreLikeThis: tf-idf term selection with fixed-point tie-" +
      "break, seed exclusion, score parity with the should-only " +
      "boolean query, guards") {
    import spark.implicits._
    val docs = Seq(
      (10L, "apple banana apple cherry"),
      (11L, "apple banana kiwi"),
      (12L, "cherry cherry melon"),
      (13L, "melon kiwi grape"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("mltidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    val seed = "apple banana apple cherry"
    def ids(mqt: Int, exclude: Seq[Any]) = TextAnalysis
      .moreLikeThis(spark, dir, seed, mqt, 5, "doc_id",
        excludeIds = exclude)
      .select("doc_id").as[Long].collect().toSet
    // all three seed terms share df=2 → idf ties; apple wins on
    // stf=2, then banana beats cherry lexicographically. mqt=2 →
    // {apple, banana} → only doc 11 matches (seed excluded)
    assert(ids(2, Seq(10L)) == Set(11L))
    // mqt=3 adds cherry → doc 12 joins
    assert(ids(3, Seq(10L)) == Set(11L, 12L))
    // no exclusion: the seed doc itself dominates
    assert(ids(3, Nil) == Set(10L, 11L, 12L))
    // score parity with the should-only boolean query over the same
    // terms — shared booleanCore by construction, pinned here
    val mlt = TextAnalysis.moreLikeThis(spark, dir, seed, 10, 5,
        "doc_id", excludeIds = Seq(10L))
      .as[(Long, Double)].collect().toMap
    val bool = TextAnalysis.booleanSearch(spark, dir, Nil,
        Seq("apple", "banana", "cherry"), Nil, 5, "doc_id",
        excludeIds = Seq(10L))
      .as[(Long, Double)].collect().toMap
    assert(mlt == bool, s"mlt $mlt != boolean $bool")
    // unreachable seed text → empty frame with the contract schema
    val none = TextAnalysis.moreLikeThis(spark, dir, "zzz yyy", 5, 5,
      "doc_id")
    assert(none.columns.toSeq == Seq("doc_id", "score"))
    assert(none.count() == 0)
    // seed-vocabulary guard fails loudly
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.moreLikeThis(spark, dir, seed, 5, 5, "doc_id",
        maxSeedTerms = 2)
    }
    assert(e.getMessage.contains("maxSeedTerms"), s"wrong error: $e")
  }

  test("snippetSpans: tightest window over present terms, earliest " +
      "on ties, subset matching, and span-consistency with the " +
      "proximity scan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a x x b x a b"),   // windows: [0,3],[3,5]?,[5,6] → span1 tie? a@{0,5} b@{3,6}: pairs (0,3)=3,(5,3)=2@5? windows (5,6)=1 → best [1,6]→(5,6)
      (2L, "b x a"),           // single window (2,0): span 2 → (0,2)
      (3L, "a x x a"),         // only a: first occurrence (0,0)
      (4L, "b b b"),           // only b: (0,0)
      (5L, "x y z"),           // neither: absent
      (6L, "a b x a b"))       // tie: (0,1) and (3,4) span 1 → earliest (0,1)
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("snipidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def run(minM: Int, ts: String*) = TextAnalysis
      .snippetSpans(spark, dir, ts, minM, "doc_id")
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(run(1, "a", "b") == Seq(
      (1L, 2L, 5L, 6L), (2L, 2L, 0L, 2L), (3L, 1L, 0L, 0L),
      (4L, 1L, 0L, 0L), (6L, 2L, 0L, 1L)))
    // minMatched = 2 drops the single-term docs
    assert(run(2, "a", "b").map(_._1) == Seq(1L, 2L, 6L))
    // 3-term window on real docs agrees with the proximity scan's
    // span for every all-present doc (two independent folds)
    val real = graft.engine.Tables(spark, "/root/testdata/sf0.001",
      "documents")
    val rdir = java.nio.file.Files
      .createTempDirectory("snipidx_r").toString
    TextAnalysis.bm25AppendSegment(real, "doc_id", "text", rdir, 0)
    val ts = Seq("query", "table", "join")
    val spans = TextAnalysis
      .snippetSpans(spark, rdir, ts, minMatched = 3, "doc_id")
      .select(col("doc_id"), (col("end_pos") - col("start_pos"))
        .as("span"))
      .as[(Long, Long)].collect().toMap
    val prox = TextAnalysis
      .proximitySearch(spark, rdir, ts, Long.MaxValue, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(spans == prox,
      "snippet window spans diverged from the proximity min-window")
    assert(spans.nonEmpty)
  }

  test("positional probes inherit segment maintenance: phrase and " +
      "prefix answers survive tombstone + re-append + full merge " +
      "bit-identically to a rebuild on the final corpus") {
    import spark.implicits._
    val seg0 = Seq(
      (1L, "a b c"),       // will be MODIFIED: loses the phrase
      (2L, "x a b y"),     // untouched, phrase at 1
      (3L, "a b a b"))     // will be REMOVED
      .toDF("doc_id", "text")
    val mod = Seq((1L, "c c c")).toDF("doc_id", "text")
    val add = Seq((4L, "q a b")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("posmaint").toString
    TextAnalysis.bm25AppendSegment(seg0, "doc_id", "text", dir, 0)
    // tombstone doc 1 (modify) and doc 3 (remove) at generation 1,
    // re-append doc 1's new text + doc 4 there
    TextAnalysis.bm25Tombstone(
      Seq((1L, 3L), (3L, 4L)).toDF("doc_id", "dl"),
      "doc_id", "dl", dir, 1)
    TextAnalysis.bm25AppendSegment(mod.unionByName(add),
      "doc_id", "text", dir, 1)
    val finalCorpus = Seq((1L, "c c c"), (2L, "x a b y"),
      (4L, "q a b")).toDF("doc_id", "text")
    val fresh = java.nio.file.Files
      .createTempDirectory("posmaint_f").toString
    TextAnalysis.bm25AppendSegment(finalCorpus, "doc_id", "text",
      fresh, 0)
    def phrase(p: String) = TextAnalysis
      .phraseSearch(spark, p, Seq("a", "b"), "doc_id")
      .orderBy(col("doc_id")).as[(Long, Long, Long)].collect().toSeq
    def prefix(p: String) = TextAnalysis
      .termPrefixSearch(spark, p, "a", "doc_id")
      .orderBy(col("doc_id")).as[(Long, Long, Long)].collect().toSeq
    val expectPhrase = Seq((2L, 1L, 1L), (4L, 1L, 1L))
    assert(phrase(dir) == expectPhrase)
    assert(phrase(dir) == phrase(fresh))
    assert(prefix(dir) == prefix(fresh))
    // the full merge folds everything and the answers are unchanged
    TextAnalysis.bm25MergeSegments(spark, dir, "doc_id")
    assert(phrase(dir) == expectPhrase)
    assert(prefix(dir) == prefix(fresh))
  }

  test("snapshot isolation is the UNIVERSAL read contract: a probe " +
      "pinned on a freshly appended index — and one pinned on a " +
      "manifest-less LEGACY layout — both survive a concurrent first " +
      "maintenance wave bit-identically") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a c"), (3L, "b b d"),
      (4L, "c d")).toDF("doc_id", "text")
    val panel = Seq((0L, "a b")).toDF("qid", "qtext")
    def probeSet(dir: String) = TextAnalysis
      .bm25ProbeSegmented(spark, dir, panel, k = 4, "doc_id")
    def collectSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSet
    // --- fresh index: manifests from the first append
    val fresh = java.nio.file.Files
      .createTempDirectory("univ_fresh").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", fresh, 0)
    val pinnedFresh = probeSet(fresh)
    val expectFresh = collectSet(probeSet(fresh))
    // the concurrent first maintenance wave: tombstone one of the
    // pinned answers + merge (both seal new generations)
    TextAnalysis.bm25Tombstone(
      Seq((1L, 3L)).toDF("doc_id", "dl"), "doc_id", "dl", fresh, 1)
    TextAnalysis.bm25MergeSegments(spark, fresh, "doc_id")
    assert(collectSet(pinnedFresh) == expectFresh,
      "maintenance raced a probe pinned on a freshly appended index")
    assert(collectSet(probeSet(fresh)) != expectFresh,
      "a fresh probe must see the tombstone wave")
    // --- legacy layout (hive tree, no _gen): the probe pins an
    // in-memory generation-0 manifest; the first maintenance op's
    // write-once rewrites + seal leave the pinned dirs untouched
    val legacy = java.nio.file.Files
      .createTempDirectory("univ_legacy").toString
    val built = java.nio.file.Files
      .createTempDirectory("univ_built").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", built, 0)
    val fs = new org.apache.hadoop.fs.Path(legacy)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (l <- Seq("postings", "termdict", "segstats"))
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$built/$l"),
        new org.apache.hadoop.fs.Path(s"$legacy/$l")))
    val pinnedLegacy = probeSet(legacy)
    val expectLegacy = collectSet(probeSet(legacy))
    TextAnalysis.bm25Tombstone(
      Seq((1L, 3L)).toDF("doc_id", "dl"), "doc_id", "dl", legacy, 1)
    TextAnalysis.bm25MergeSegments(spark, legacy, "doc_id")
    assert(collectSet(pinnedLegacy) == expectLegacy,
      "maintenance raced a probe pinned on a legacy layout")
    assert(collectSet(probeSet(legacy)) != expectLegacy,
      "a fresh probe on the upgraded layout must see the wave")
  }

  test("LEGACY layouts (no manifest) still fail loudly on a live " +
      "maintenance staging dir; manifest layouts read through their " +
      "pinned generation and ignore staging entirely") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val built = java.nio.file.Files
      .createTempDirectory("quiesce_b").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", built, 0)
    val panel = Seq((0L, "a b")).toDF("qid", "qtext")
    // a MANIFEST layout is immune: staging dirs are pre-manifest
    // debris, probes resolve the sealed generation regardless
    val junk = new java.io.File(s"$built/.tomb_staging")
    assert(junk.mkdir())
    assert(TextAnalysis.bm25ProbeSegmented(spark, built, panel, 5,
      "doc_id").count() > 0)
    assert(junk.delete())
    // a LEGACY layout (same directories, no _gen) keeps the advisory
    // guard: build it by cloning the hive trees without the manifest
    val dir = java.nio.file.Files
      .createTempDirectory("quiesce").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (l <- Seq("postings", "termdict", "segstats"))
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$built/$l"),
        new org.apache.hadoop.fs.Path(s"$dir/$l")))
    // sanity: probes work on the quiescent legacy layout
    assert(TextAnalysis.bm25ProbeSegmented(spark, dir, panel, 5,
      "doc_id").count() > 0)
    for (st <- Seq(".merge_staging", ".tier_staging", ".tomb_staging")) {
      val p = new java.io.File(s"$dir/$st")
      assert(p.mkdir())
      val e1 = intercept[IllegalArgumentException] {
        TextAnalysis.bm25ProbeSegmented(spark, dir, panel, 5, "doc_id")
      }
      assert(e1.getMessage.contains(st), s"wrong guard message: $e1")
      val e2 = intercept[IllegalArgumentException] {
        TextAnalysis.phraseSearch(spark, dir, Seq("a", "b"), "doc_id")
      }
      assert(e2.getMessage.contains(st), s"wrong guard message: $e2")
      assert(p.delete())
    }
    // quiescent again: probes recover
    assert(TextAnalysis.phraseSearch(spark, dir, Seq("a", "b"),
      "doc_id").count() == 1)
  }

  test("stripMarkup: scripts/styles/comments dropped, block tags " +
      "break lines, entities decode exactly once, malformed markup " +
      "degrades to whitespace never lost text") {
    import spark.implicits._
    val cases = Seq(
      (1L, "<html><head><script>var a = '<p>sneaky</p>';</script>" +
        "<style>p { color: red }</style></head>" +
        "<body><h1>Title</h1><p>hello <b>bold</b> world</p>" +
        "<!-- note --><div>next</div></body></html>"),
      // entity decode is single-pass: &amp;lt; must yield literal
      // "&lt;", NOT "<" (double decode), and decoded "<tag>" must not
      // be re-stripped as a tag
      (2L, "<p>a &amp;lt; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;" +
        " x&nbsp;y</p>"),
      // malformed: unclosed tag swallows to next '>', stray '<' kept
      (3L, "before <unclosed attr next >after 1 < 2 end"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "html")
    val out = cases
      .select(col("doc_id"),
        TextAnalysis.stripMarkup(col("html")).as("clean"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "Title\nhello bold world\nnext")
    assert(out(2L) == "a &lt; b <tag> \"q\" 's' x y")
    assert(out(3L) == "before after 1 < 2 end")
    assert(out(4L) == null)
    val stats = TextAnalysis.markupStats(
      Seq((1L, "<body><a href=x>l</a><a >m</a><abbr>n</abbr></body>"))
        .toDF("doc_id", "html"), "doc_id", "html")
      .collect()(0)
    assert(stats.getAs[Long]("n_links") == 2) // <abbr> must not count
    assert(stats.getAs[Long]("clean_len") == 3L) // "lmn"
  }

  test("gopherFlags: each rule trips independently on its crafted doc " +
      "and the conjunction gates pass; null text never drops out") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb cc"),            // all rules pass
      (2L, "bb bb bb bb bb"),      // too long + zero diversity + no stop
      (3L, "aaaaaaa bb"),          // mean word length 4.5 > 3.0 cap
      (4L, null.asInstanceOf[String])) // -> [""]: n=1 under min
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherFlags(docs, "doc_id", "text",
        stopwords = Seq("aa", "zz"),
        minTokens = 2, maxTokens = 4,
        minMeanLenX10 = 15, maxMeanLenX10 = 30, minStopHits = 1)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6)))
    assert(out.toSeq == Seq(
      // (id, flag_len, flag_wordlen, flag_ttr, flag_stop, pass)
      (1L, 1, 1, 1, 1, 1),
      (2L, 0, 1, 0, 0, 0),
      (3L, 1, 0, 1, 0, 0),
      (4L, 0, 0, 1, 0, 0)), s"got ${out.toSeq}")
  }

  test("orderedNearSearch: in-order constraint, DP span equals " +
      "brute-force ordered enumeration, threshold and guards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a x x b"),         // a@0 b@3: ordered span 3
      (2L, "b x x x a"),       // only b-before-a: NOT a match for a->b
      (3L, "b a b"),           // a@1 b@{0,2}: ordered a->b span 1
      (4L, "a x b x c"),       // 3-term ordered: 4
      (5L, "c b a"),           // all terms, wrong order: no match
      (6L, "a b a x x c"),     // a@{0,2} b@1 c@5: best chain 0,1,5 = 5
      (7L, "a a a"))           // b missing: never returned
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("onearidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def run(w: Long, ts: String*) = TextAnalysis
      .orderedNearSearch(spark, dir, ts, w, "doc_id")
      .orderBy(col("doc_id"))
      .as[(Long, Long)].collect().toSeq
    assert(run(10L, "a", "b") == Seq((1L, 3L), (3L, 1L), (4L, 2L),
      (6L, 1L)))
    assert(run(2L, "a", "b") == Seq((3L, 1L), (4L, 2L), (6L, 1L)))
    assert(run(10L, "a", "b", "c") == Seq((4L, 4L), (6L, 5L)))
    // reversed query order finds the reversed chains only
    assert(run(10L, "b", "a") == Seq((2L, 4L), (3L, 1L), (5L, 1L),
      (6L, 1L)))
    assert(run(10L, "a", "z").isEmpty)
    intercept[IllegalArgumentException] {
      TextAnalysis.orderedNearSearch(spark, dir, Seq("a"), 5L, "doc_id")
    }
    intercept[IllegalArgumentException] {  // maxSpan below k-1 tokens
      TextAnalysis.orderedNearSearch(spark, dir,
        Seq("a", "b", "c"), 1L, "doc_id")
    }
    // brute-force cross-check on the real corpus: the one-pass DP
    // equals min over every ORDERED occurrence combination
    val real = graft.engine.Tables(spark, "/root/testdata/sf0.001",
      "documents")
    val rdir = java.nio.file.Files
      .createTempDirectory("onearidx_r").toString
    TextAnalysis.bm25AppendSegment(real, "doc_id", "text", rdir, 0)
    val got = TextAnalysis.orderedNearSearch(spark, rdir,
        Seq("slow", "query"), maxSpan = 6L, "doc_id")
      .as[(Long, Long)].collect().toMap
    val local = real.select(col("doc_id"),
        TextAnalysis.tokens(coalesce(col("text"), lit(""))).as("t"))
      .as[(Long, Seq[String])].collect()
      .flatMap { case (id, t) =>
        val pa = t.zipWithIndex.collect { case ("slow", i) => i.toLong }
        val pb = t.zipWithIndex.collect { case ("query", i) => i.toLong }
        val spans = for (a <- pa; b <- pb if b > a) yield b - a
        if (spans.nonEmpty && spans.min <= 6L) Some(id -> spans.min)
        else None
      }.toMap
    assert(got == local,
      s"DP diverged from ordered brute force on ${
        (got.keySet ++ local.keySet).count(k =>
          got.get(k) != local.get(k))} docs")
    assert(got.nonEmpty)
  }

  test("searchRangeFacets: half-open bounds, overlap counts twice, " +
      "empty range emits 0, nulls count nowhere, tombstones drop, " +
      "guards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b", 10L), (2L, "a c", 25L), (3L, "b c", 30L),
      (4L, "a a", 40L), (5L, "z z", 15L),   // no match term
      (6L, "a b", -1L))                     // matches; null value below
      .toDF("doc_id", "text", "v")
      .withColumn("v", when(col("v") >= 0, col("v")))
    val dir = java.nio.file.Files
      .createTempDirectory("rfacetidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def run() = TextAnalysis.searchRangeFacets(spark, dir,
        Seq("a"), docs, "doc_id", "v", Seq(
          ("low", 0L, 30L),      // docs 1, 2       (30 is excluded)
          ("high", 30L, 100L),   // doc 4           (3 has no 'a')
          ("all", 0L, 100L),     // overlap: 1, 2, 4
          ("none", 200L, 300L))) // empty: still a 0 row
      .as[(String, Long)].collect().toSeq
    // caller's range order preserved; null v (doc 6) in no bucket
    assert(run() == Seq(("low", 2L), ("high", 1L), ("all", 3L),
      ("none", 0L)))
    // tombstoning doc 4 drops it from every bucket it was in
    TextAnalysis.bm25Tombstone(Seq((4L, 2L)).toDF("doc_id", "dl"),
      "doc_id", "dl", dir, 1)
    assert(run() == Seq(("low", 2L), ("high", 0L), ("all", 2L),
      ("none", 0L)))
    intercept[IllegalArgumentException] {  // lo >= hi
      TextAnalysis.searchRangeFacets(spark, dir, Seq("a"), docs,
        "doc_id", "v", Seq(("bad", 5L, 5L)))
    }
    intercept[IllegalArgumentException] {  // duplicate labels
      TextAnalysis.searchRangeFacets(spark, dir, Seq("a"), docs,
        "doc_id", "v", Seq(("x", 0L, 1L), ("x", 1L, 2L)))
    }
  }

  test("booleanSearch minShouldMatch: quota on DISTINCT should terms " +
      "only, must terms excluded from the quota, mm=0 keeps the " +
      "default rule, guards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),   // should hits: a, b
      (2L, "a a a x"), // should hits: a (tf 3 still ONE distinct term)
      (3L, "b x y"),   // should hits: b
      (4L, "m a x"),   // must m + should a
      (5L, "m x y"),   // must m, zero should
      (6L, "x y z"))   // nothing
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("msmidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def ids(must: Seq[String], should: Seq[String], mm: Int) =
      TextAnalysis.booleanSearch(spark, dir, must, should, Nil,
          k = 10, "doc_id", minShouldMatch = mm)
        .select(col("doc_id")).as[Long].collect().toSeq.sorted
    // should-only: mm=0/1 keep every >=1-hit doc; mm=2 needs two
    // DISTINCT terms — doc 2's repeated 'a' does not qualify
    assert(ids(Nil, Seq("a", "b"), 0) == Seq(1L, 2L, 3L, 4L))
    assert(ids(Nil, Seq("a", "b"), 1) == Seq(1L, 2L, 3L, 4L))
    assert(ids(Nil, Seq("a", "b"), 2) == Seq(1L))
    // with must: the must term never fills the should quota
    assert(ids(Seq("m"), Seq("a", "b"), 0) == Seq(4L, 5L))
    assert(ids(Seq("m"), Seq("a", "b"), 1) == Seq(4L))
    intercept[IllegalArgumentException] {  // mm above |should|
      TextAnalysis.booleanSearch(spark, dir, Nil, Seq("a"), Nil,
        k = 10, "doc_id", minShouldMatch = 2)
    }
    intercept[IllegalArgumentException] {  // mm negative
      TextAnalysis.booleanSearch(spark, dir, Nil, Seq("a"), Nil,
        k = 10, "doc_id", minShouldMatch = -1)
    }
  }

  test("booleanSearch searchAfter: keyset pages tile the full ranking " +
      "exactly (no overlap, no gap), cursor ties on score break by id") {
    import spark.implicits._
    val real = graft.engine.Tables(spark, "/root/testdata/sf0.001",
      "documents")
    val dir = java.nio.file.Files
      .createTempDirectory("saidx").toString
    TextAnalysis.bm25AppendSegment(real, "doc_id", "text", dir, 0)
    def page(k: Int, after: Option[(Double, Long)]) =
      TextAnalysis.booleanSearch(spark, dir, Nil,
          Seq("query", "filter"), Nil, k, "doc_id", after = after)
        .orderBy(col("score").desc, col("doc_id"))
        .as[(Long, Double)].collect().toSeq
    // the reference: one big page, in total order
    val all = page(40, None)
    assert(all.size == 40)
    // three keyset pages must tile it exactly
    val p1 = page(15, None)
    val p2 = page(15, Some((p1.last._2, p1.last._1)))
    val p3 = page(10, Some((p2.last._2, p2.last._1)))
    assert(p1 ++ p2 ++ p3 == all,
      s"keyset pages do not tile the ranking")
    // ties on score MUST exist across a page boundary somewhere for
    // the id tiebreak to be load-bearing; verify the fixture has
    // score ties at all (the synthetic corpus does)
    assert(all.map(_._2).distinct.size < all.size,
      "fixture too weak: no score ties in the top 40")
  }

  test("bm25Explain: per-term integer contributions sum EXACTLY to " +
      "the booleanSearch score, tombstones respected, guards") {
    import spark.implicits._
    val real = graft.engine.Tables(spark, "/root/testdata/sf0.001",
      "documents")
    val dir = java.nio.file.Files
      .createTempDirectory("explidx").toString
    TextAnalysis.bm25AppendSegment(real, "doc_id", "text", dir, 0)
    val terms = Seq("sort", "merge", "scan")
    val scored = TextAnalysis.booleanSearch(spark, dir, Nil, terms,
        Nil, k = 20, "doc_id")
      .as[(Long, Double)].collect().toMap
    val expl = TextAnalysis.bm25Explain(spark, dir, terms,
        scored.keySet.toSeq.sorted, "doc_id")
      .select(col("doc_id"), col("contrib_fp")).as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(expl.keySet == scored.keySet)
    for ((id, fp) <- expl)
      assert(math.round(fp / 1e7 * 1e4) / 1e4 == scored(id),
        s"doc $id: sum(contrib_fp)=$fp != score ${scored(id)}")
    // tombstoning a doc removes its rows AND shifts df/stats for the
    // others' contributions the same way scoring shifts
    val victim = scored.keySet.min
    val dl = real.filter(col("doc_id") === victim)
      .select(size(TextAnalysis.tokens(col("text"))).cast("long"))
      .collect()(0).getLong(0)
    TextAnalysis.bm25Tombstone(
      Seq((victim, dl)).toDF("doc_id", "dl"), "doc_id", "dl", dir, 1)
    val scored2 = TextAnalysis.booleanSearch(spark, dir, Nil, terms,
        Nil, k = 20, "doc_id")
      .as[(Long, Double)].collect().toMap
    assert(!scored2.contains(victim))
    val expl2 = TextAnalysis.bm25Explain(spark, dir, terms,
        scored2.keySet.toSeq.sorted, "doc_id")
      .select(col("doc_id"), col("contrib_fp")).as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    for ((id, fp) <- expl2)
      assert(math.round(fp / 1e7 * 1e4) / 1e4 == scored2(id),
        s"post-tombstone doc $id: $fp != ${scored2(id)}")
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25Explain(spark, dir, terms, Nil, "doc_id")
    }
    intercept[IllegalArgumentException] {  // maxDocs bound is loud
      TextAnalysis.bm25Explain(spark, dir, terms,
        (1L to 50L).toSeq, "doc_id", maxDocs = 10)
    }
  }

  test("booleanSearch allowed: pre-filter fills k where post-filter " +
      "under-fills, scoring/df stay global, phrase clause composes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b x", "en"), (2L, "a a y", "en"), (3L, "a b b", "fr"),
      (4L, "b q r", "fr"), (5L, "a z z", "en"), (6L, "p q r", "en"))
      .toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files
      .createTempDirectory("fsearchidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def ids(k: Int, allowed: Option[org.apache.spark.sql.DataFrame]) =
      TextAnalysis.booleanSearch(spark, dir, Nil, Seq("a", "b"), Nil,
          k, "doc_id", allowed = allowed)
        .select(col("doc_id")).as[Long].collect().toSeq.sorted
    // unrestricted match set: 1,2,3,4,5; en-only: 1,2,5
    assert(ids(10, None) == Seq(1L, 2L, 3L, 4L, 5L))
    val en = docs.filter(col("lang") === "en")
    assert(ids(3, Some(en)) == Seq(1L, 2L, 5L))
    // pre-filter vs post-filter: top-2 unrestricted are docs {3, 1}
    // (3 has b b + a); en@k=2 must return TWO en docs, while
    // post-filtering the unrestricted top-2 would keep only doc 1
    val top2 = TextAnalysis.booleanSearch(spark, dir, Nil,
        Seq("a", "b"), Nil, k = 2, "doc_id")
      .select(col("doc_id")).as[Long].collect().toSet
    assert((top2 -- Set(1L, 2L, 5L)).nonEmpty,
      "fixture too weak: unrestricted top-2 is all-en")
    assert(ids(2, Some(en)).size == 2)
    // scores under the filter are UNCHANGED for surviving docs
    // (global df/stats — the filter clause scores zero)
    val full = TextAnalysis.booleanSearch(spark, dir, Nil,
        Seq("a", "b"), Nil, 10, "doc_id")
      .as[(Long, Double)].collect().toMap
    val filt = TextAnalysis.booleanSearch(spark, dir, Nil,
        Seq("a", "b"), Nil, 10, "doc_id", allowed = Some(en))
      .as[(Long, Double)].collect().toMap
    assert(filt == full.view.filterKeys(Set(1L, 2L, 5L)).toMap,
      s"filtered scores drifted: $filt vs $full")
    // phrase clause: docs with the exact phrase "a b" are 1 and 3
    val ph = TextAnalysis.phraseSearch(spark, dir, Seq("a", "b"),
      "doc_id")
    assert(ids(10, Some(ph)) == Seq(1L, 3L))
  }

  test("segmentInfos: per-generation inventory from the artifacts " +
      "alone, tombstones counted at their write generation, full " +
      "merge folds to one purged segment") {
    import spark.implicits._
    val a = Seq((1L, "a b c"), (2L, "a a"))    // 5 tokens, terms {a,b,c}
      .toDF("doc_id", "text")
    val b = Seq((3L, "d d"), (2L, "e"))        // 3 tokens, terms {d,e}
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("seginfo").toString
    TextAnalysis.bm25AppendSegment(a, "doc_id", "text", dir, 0)
    // doc 2 modified at gen 1: tombstone (old dl 2) + re-append
    TextAnalysis.bm25Tombstone(Seq((2L, 2L)).toDF("doc_id", "dl"),
      "doc_id", "dl", dir, 1)
    TextAnalysis.bm25AppendSegment(b, "doc_id", "text", dir, 1)
    def infos() = TextAnalysis.segmentInfos(spark, dir, "doc_id")
      .orderBy(col("seg"))
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(infos() == Seq(
      (0, 2L, 5L, 3L, 0L),     // docs {1,2}, 5 tokens, {a,b,c}, no kills
      (1, 2L, 3L, 2L, 1L)))    // docs {3,2'}, 3 tokens, {d,e}, 1 kill
    // the full merge folds everything into one purged seg=0: live
    // docs {1, 3, 2'} (old doc 2 dead), dict rewritten to live vocab
    TextAnalysis.bm25MergeSegments(spark, dir, "doc_id")
    assert(infos() == Seq((0, 3L, 6L, 5L, 0L)),
      s"post-merge inventory wrong: ${infos()}")
  }

  test("spellSuggest: (distance, live df desc, term) ranking, exact " +
      "hit first, tombstoned terms never suggested, guards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "table cable"), (2L, "table stable"), (3L, "fable"),
      (4L, "tble"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("spellidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def run(t: String, d: Int, k: Int = 5) =
      TextAnalysis.spellSuggest(spark, dir, t, d, k, "doc_id")
        .as[(String, Long, Long)].collect().toSeq
    // df tiebreak: table(df 2) before cable/fable/tble (df 1, term
    // asc; 'tble' is one substitution from 'able')
    assert(run("able", 1) == Seq(("table", 1L, 2L), ("cable", 1L, 1L),
      ("fable", 1L, 1L), ("tble", 1L, 1L)))
    // an exact corpus term ranks itself first at distance 0
    assert(run("tble", 1) == Seq(("tble", 0L, 1L), ("table", 1L, 2L)))
    // k truncates
    assert(run("able", 1, k = 1) == Seq(("table", 1L, 2L)))
    // tombstoning the only doc holding 'tble' removes the suggestion
    // even though the term dictionary still lists the dead term
    TextAnalysis.bm25Tombstone(Seq((4L, 1L)).toDF("doc_id", "dl"),
      "doc_id", "dl", dir, 1)
    assert(run("tble", 1) == Seq(("table", 1L, 2L)))
    assert(run("able", 1) == Seq(("table", 1L, 2L), ("cable", 1L, 1L),
      ("fable", 1L, 1L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.spellSuggest(spark, dir, "", 1, 5, "doc_id")
    }
    intercept[IllegalArgumentException] {  // expansion cap is loud
      TextAnalysis.spellSuggest(spark, dir, "able", 1, 5, "doc_id",
        maxExpansion = 1)
    }
  }

  test("bm25ProbeSegmented asOfSegment: generation-0 read equals a " +
      "fresh index of the old corpus bit-for-bit; asOf past the max " +
      "segment equals live") {
    import spark.implicits._
    val state0 = Seq((1L, "a b c"), (2L, "a a d"), (3L, "b d e"),
      (4L, "c e a")).toDF("doc_id", "text")
    // the wave: doc 2 removed, doc 3 modified, docs 5-6 added
    val state1 = Seq((1L, "a b c"), (3L, "x b d e"), (4L, "c e a"),
      (5L, "a e"), (6L, "d d b")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("ttidx").toString
    TextAnalysis.bm25AppendSegment(state0, "doc_id", "text", dir, 0)
    TextAnalysis.bm25Tombstone(
      Seq((2L, 3L), (3L, 3L)).toDF("doc_id", "dl"),
      "doc_id", "dl", dir, 1)
    TextAnalysis.bm25AppendSegment(
      Seq((3L, "x b d e"), (5L, "a e"), (6L, "d d b"))
        .toDF("doc_id", "text"),
      "doc_id", "text", dir, 1)
    val panel = Seq((0L, "a b"), (1L, "d e")).toDF("qid", "qtext")
    def probe(path: String, asOf: Option[Int]) =
      TextAnalysis.bm25ProbeSegmented(spark, path, panel, k = 10,
          "doc_id", asOfSegment = asOf)
        .as[(Long, Long, Double)].collect().toSet
    val fresh0 = java.nio.file.Files
      .createTempDirectory("ttidx0").toString
    TextAnalysis.bm25AppendSegment(state0, "doc_id", "text", fresh0, 0)
    val fresh1 = java.nio.file.Files
      .createTempDirectory("ttidx1").toString
    TextAnalysis.bm25AppendSegment(state1, "doc_id", "text", fresh1, 0)
    assert(probe(dir, Some(0)) == probe(fresh0, None),
      "asOf=0 diverged from a fresh generation-0 index")
    assert(probe(dir, None) == probe(fresh1, None),
      "live probe diverged from a fresh final-state index")
    // the histories genuinely differ (doc 2 only exists at gen 0)
    assert(probe(dir, Some(0)) != probe(dir, None))
    // asOf at/above the max live segment is exactly the live read
    assert(probe(dir, Some(1)) == probe(dir, None))
    assert(probe(dir, Some(99)) == probe(dir, None))
    // the phrase and prefix probes read through the same as-of cut:
    // generation 0 replays the fresh generation-0 index (doc 2 "a a d"
    // is alive only there)
    def phrase(path: String, asOf: Option[Int]) = TextAnalysis
      .phraseSearch(spark, path, Seq("a", "d"), "doc_id", asOf)
      .as[(Long, Long, Long)].collect().toSet
    def prefix(path: String, asOf: Option[Int]) = TextAnalysis
      .termPrefixSearch(spark, path, "a", "doc_id", asOf)
      .as[(Long, Long, Long)].collect().toSet
    assert(phrase(dir, Some(0)) == phrase(fresh0, None),
      "asOf=0 phrase diverged from a fresh generation-0 index")
    assert(phrase(dir, Some(0)) != phrase(dir, None))
    assert(prefix(dir, Some(0)) == prefix(fresh0, None),
      "asOf=0 prefix diverged from a fresh generation-0 index")
    assert(prefix(dir, None) == prefix(fresh1, None),
      "live prefix diverged from a fresh final-state index")
    assert(prefix(dir, Some(0)) != prefix(dir, None))
  }

  test("positional time travel: asOf=0 replays a fresh generation-0 " +
      "index for phrase/proximity/prefix, live reads the final state") {
    import spark.implicits._
    val g0 = Seq((1L, "sort merge x"), (2L, "sort y merge"),
      (3L, "stack z")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("postt").toString
    TextAnalysis.bm25AppendSegment(g0, "doc_id", "text", dir, 0)
    // wave: kill doc 1, modify doc 2 (phrase appears), add doc 4
    TextAnalysis.bm25Tombstone(Seq((1L, 3L), (2L, 3L))
      .toDF("doc_id", "dl"), "doc_id", "dl", dir, 1)
    TextAnalysis.bm25AppendSegment(
      Seq((2L, "w sort merge"), (4L, "stark sort merge"))
        .toDF("doc_id", "text"), "doc_id", "text", dir, 1)
    def phrase(asOf: Option[Int]) = TextAnalysis
      .phraseSearch(spark, dir, Seq("sort", "merge"), "doc_id", asOf)
      .as[(Long, Long, Long)].collect().toSet
    // fresh gen-0-only index is the as-of ground truth
    val dir0 = java.nio.file.Files
      .createTempDirectory("postt0").toString
    TextAnalysis.bm25AppendSegment(g0, "doc_id", "text", dir0, 0)
    assert(phrase(Some(0)) == TextAnalysis
      .phraseSearch(spark, dir0, Seq("sort", "merge"), "doc_id")
      .as[(Long, Long, Long)].collect().toSet,
      "asOf=0 phrase diverged from a fresh generation-0 index")
    assert(phrase(None) == Set((2L, 1L, 1L), (4L, 1L, 1L)),
      s"live phrase wrong: ${phrase(None)}")
    def prefix(asOf: Option[Int]) = TextAnalysis
      .termPrefixSearch(spark, dir, "sta", "doc_id", asOf)
      .as[(Long, Long, Long)].collect().toSet
    assert(prefix(Some(0)).map(_._1) == Set(3L) &&
      prefix(None).map(_._1) == Set(3L, 4L),
      s"prefix time travel wrong: ${prefix(Some(0))} / ${prefix(None)}")
    val prox0 = TextAnalysis.proximitySearch(spark, dir,
        Seq("sort", "merge"), 6L, "doc_id", Some(0))
      .as[(Long, Long)].collect().toMap
    assert(prox0 == Map(1L -> 1L, 2L -> 2L),
      s"asOf proximity wrong: $prox0")
  }

  test("hasChildSearch: per-parent fold under max/sum/avg from the " +
      "reconstructed fixed point, minChildren floor, orphans in the " +
      "NULL parent, guards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a"), (2L, "a x"), (3L, "a y"), (4L, "a a a"),
      (5L, "a z"), (6L, "w"))
      .toDF("doc_id", "text")
    val meta = Seq(
      (1L, Some("g1")), (2L, Some("g1")), (3L, Some("g2")),
      (4L, Some("g2")), (6L, Some("g1")))  // doc 5 orphan
      .toDF("doc_id", "source")
    val dir = java.nio.file.Files
      .createTempDirectory("haschildidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    val base = TextAnalysis.booleanSearch(spark, dir, Nil, Seq("a"),
        Nil, 10, "doc_id")
      .as[(Long, Double)].collect().toMap
    def fp(s: Double) = math.floor(s * 1e7 + 0.5).toLong
    def run(mode: String, minC: Int = 1) = TextAnalysis
      .hasChildSearch(spark, dir, Nil, Seq("a"), Nil, meta, "source",
        minC, mode, 10, "doc_id")
      .as[(Option[String], Long, Double)].collect().toSeq
    val mx = run("max").map(r => (r._1, r._2, r._3)).toSet
    def pub(l: Long) = math.rint(l / 1e7 * 1e4) / 1e4
    assert(mx == Set(
      (Some("g1"), 2L, pub(math.max(fp(base(1L)), fp(base(2L))))),
      (Some("g2"), 2L, pub(math.max(fp(base(3L)), fp(base(4L))))),
      (None, 1L, pub(fp(base(5L))))),
      s"max fold wrong: $mx (base $base)")
    val av = run("avg").map(r => (r._1, r._3)).toMap
    val g1avg = pub(math.floor(
      (fp(base(1L)) + fp(base(2L))).toDouble / 2 + 0.5).toLong)
    assert(av(Some("g1")) == g1avg, s"avg fold wrong: $av")
    // minChildren floor drops the orphan's singleton NULL parent
    assert(run("sum", minC = 2).map(_._1).toSet ==
      Set(Some("g1"), Some("g2")))
    intercept[IllegalArgumentException] {
      TextAnalysis.hasChildSearch(spark, dir, Nil, Seq("a"), Nil,
        meta, "source", 1, "median", 10, "doc_id")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.hasChildSearch(spark, dir, Nil, Seq("a"), Nil,
        meta, "source", 0, "max", 10, "doc_id")
    }
  }

  test("bm25fProbeIndexed: bit-identical to the scan path, a kill in " +
      "both field indexes equals scanning the reduced corpus, guards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark sort", "merge join hash sort"),
      (2L, "table scan", "sort sort filter"),
      (3L, "merge merge", "scan table value"),
      (4L, "sort", ""),
      (5L, "", "spark table"))
      .toDF("doc_id", "title", "body")
    val tDir = java.nio.file.Files
      .createTempDirectory("bm25f_t").toString
    val bDir = java.nio.file.Files
      .createTempDirectory("bm25f_b").toString
    TextAnalysis.bm25AppendSegment(
      docs.select(col("doc_id"), col("title").as("text")),
      "doc_id", "text", tDir, 0)
    TextAnalysis.bm25AppendSegment(
      docs.select(col("doc_id"), col("body").as("text")),
      "doc_id", "text", bDir, 0)
    val panel = Seq((0L, "sort table"), (1L, "merge spark"))
      .toDF("qid", "qtext")
    val fields = Seq(("title", 2.0, 0.4), ("body", 1.0, 0.75))
    def scan(d: org.apache.spark.sql.DataFrame) = TextAnalysis
      .bm25fTopK(d, "doc_id", fields, panel, 10)
      .as[(Long, Long, Double)].collect().toSet
    def probe() = TextAnalysis.bm25fProbeIndexed(spark,
        Seq((tDir, 2.0, 0.4), (bDir, 1.0, 0.75)), panel, 10, "doc_id")
      .as[(Long, Long, Double)].collect().toSet
    assert(probe() == scan(docs),
      "index path diverged from the scan path")
    // kill doc 2 in BOTH field indexes (Lucene's one-doc-everywhere
    // delete): the probe must equal the scan of the reduced corpus —
    // per-field dls from each field's own tokenization
    def dlOf(c: String) = docs.filter(col("doc_id") === 2)
      .select(size(TextAnalysis.tokens(coalesce(col(c), lit(""))))
        .cast("long"))
      .head().getLong(0)
    TextAnalysis.bm25Tombstone(
      Seq((2L, dlOf("title"))).toDF("doc_id", "dl"), "doc_id", "dl",
      tDir, 1)
    TextAnalysis.bm25Tombstone(
      Seq((2L, dlOf("body"))).toDF("doc_id", "dl"), "doc_id", "dl",
      bDir, 1)
    assert(probe() == scan(docs.filter(col("doc_id") =!= 2)),
      "post-kill index path diverged from the reduced-corpus scan")
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25fProbeIndexed(spark, Nil, panel, 10, "doc_id")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25fProbeIndexed(spark, Seq((tDir, -1.0, 0.4)),
        panel, 10, "doc_id")
    }
    // same-corpus contract is loud: an extra doc in only one field
    // index trips the n_docs equality guard (the kill above already
    // desynced tDir 4 docs vs bDir 4 — append to bDir only)
    TextAnalysis.bm25AppendSegment(
      Seq((9L, "stray")).toDF("doc_id", "text"), "doc_id", "text",
      bDir, 2)
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.bm25fProbeIndexed(spark,
        Seq((tDir, 2.0, 0.4), (bDir, 1.0, 0.75)), panel, 10, "doc_id")
    }
    assert(err.getMessage.contains("different corpora"))
  }

  test("rescoreWithPhrase: phrase hits jump by rescore weight inside " +
      "the window, non-window docs never enter, window guard") {
    import spark.implicits._
    // doc 1 has both terms SCATTERED (higher tf → best base score);
    // doc 2 has the exact phrase; doc 3 one term; doc 4 none
    val docs = Seq(
      (1L, "sort x sort y merge"), (2L, "a sort merge b"),
      (3L, "sort z"), (4L, "w v"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("rescoreidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    val base = TextAnalysis.booleanSearch(spark, dir, Nil,
        Seq("sort", "merge"), Nil, 10, "doc_id")
      .as[(Long, Double)].collect().toMap
    assert(base.keySet == Set(1L, 2L, 3L))
    val got = TextAnalysis.rescoreWithPhrase(spark, dir,
        Seq("sort", "merge"), Seq("sort", "merge"), windowN = 10,
        k = 10, "doc_id", queryWeight = 1.0, rescoreWeight = 5.0)
      .as[(Long, Double)].collect().toSeq
    // doc 2 (phrase) must now lead despite doc 1's better base score
    assert(got.head._1 == 2L, s"phrase doc did not jump: $got")
    assert(got.toMap.apply(2L) ==
      BigDecimal(base(2L) * 1.0 + 5.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got.toMap.apply(1L) == base(1L),
      "non-phrase window doc moved")
    // a window smaller than the match set truncates BEFORE rescore:
    // windowN=1 keeps only doc 1 (best base), so doc 2 cannot appear
    val narrow = TextAnalysis.rescoreWithPhrase(spark, dir,
        Seq("sort", "merge"), Seq("sort", "merge"), windowN = 1,
        k = 1, "doc_id", rescoreWeight = 5.0)
      .as[(Long, Double)].collect().toSeq
    assert(narrow.map(_._1) == Seq(1L),
      s"window truncation semantics wrong: $narrow")
    intercept[IllegalArgumentException] {
      TextAnalysis.rescoreWithPhrase(spark, dir, Seq("sort"),
        Seq("sort"), windowN = 5, k = 10, "doc_id")
    }
  }

  test("function score: neutral factor is bit-identical, a missing " +
      "doc keeps its query score, the cut ranks the combined value") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a x"), (2L, "a y"), (3L, "a z"), (4L, "w"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("fscoreidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def run(factor: Option[(org.apache.spark.sql.DataFrame, String)],
            k: Int = 10) = TextAnalysis
      .booleanSearch(spark, dir, Nil, Seq("a"), Nil, k, "doc_id",
        factor = factor)
      .as[(Long, Double)].collect().toSeq
    val plain = run(None)
    assert(plain.map(_._1) == Seq(1L, 2L, 3L),
      s"base ranking wrong: $plain")
    val neutral = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0))
      .toDF("doc_id", "f")
    assert(run(Some((neutral, "f"))) == plain,
      "neutral factor changed scoring")
    // doc 3 gets 10x, doc 2 missing from the relation (neutral):
    // final scores = round(base*10,4) for 3, base for 1 (1x) and 2
    val f = Seq((1L, 1.0), (3L, 10.0)).toDF("doc_id", "f")
    val boosted = run(Some((f, "f")))
    val base = plain.toMap
    assert(boosted.head._1 == 3L &&
      boosted.head._2 ==
        BigDecimal(base(3L) * 10.0)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      s"factored score wrong: $boosted vs base $base")
    assert(boosted.toMap.get(2L).contains(base(2L)),
      "missing-factor doc lost its query score")
    // the CUT ranks the combined value: k=1 must return doc 3, which
    // base ranking would never cut first
    assert(run(Some((f, "f")), k = 1).map(_._1) == Seq(3L),
      "top-k cut ran on the unfactored score")
  }

  test("significantTerms: JLH ordering hand-checked, tombstoned docs " +
      "leave both foreground and background, minDf gates, guards") {
    import spark.implicits._
    // fg = docs with 'q' = {1, 2}; 'sig' appears in both fg docs and
    // nowhere else (max lift); 'com' is corpus-wide (no lift, fgp ==
    // bgp → dropped); 'half' in one fg doc and one bg doc
    val docs = Seq(
      (1L, "q sig com half"),
      (2L, "q sig com"),
      (3L, "com half x"),
      (4L, "com y"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("sigidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def run(minDf: Long = 1L) = TextAnalysis
      .significantTerms(spark, dir, Seq("q"), 10, "doc_id", minDf)
      .as[(String, Long, Long, Double)].collect().toSeq
    val got = run()
    // hand-computed JLH with nFg=2, nBg=4:
    //   q/sig: fgp=1, bgp=.5  → (.5)·(2)   = 1.0
    //   half:  fgp=.5, bgp=.5 → dropped (no lift)
    //   com:   fgp=1, bgp=1   → dropped
    assert(got == Seq(("q", 2L, 2L, 1.0), ("sig", 2L, 2L, 1.0)),
      s"JLH panel wrong: $got")
    assert(run(minDf = 3L).isEmpty, "minDf gate ignored")
    // kill doc 2: fg = {1}, nBg = 3 — 'sig' now fgp=1 bgp=1/3 →
    // (2/3)·3 = 2.0; 'half' fgp=.5→1 bgp=2/3 → (1/3)·1.5 = .5
    TextAnalysis.bm25Tombstone(Seq((2L, 3L)).toDF("doc_id", "dl"),
      "doc_id", "dl", dir, 1)
    val after = run()
    assert(after == Seq(("q", 1L, 1L, 2.0), ("sig", 1L, 1L, 2.0),
      ("half", 1L, 2L, 0.5)),
      s"post-kill JLH wrong: $after")
    intercept[IllegalArgumentException] {
      TextAnalysis.significantTerms(spark, dir, Nil, 5, "doc_id")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.significantTerms(spark, dir, Seq("zzz_absent"), 5,
        "doc_id")
    }
  }

  test("percolate: must/mustNot set semantics, tf never matters, " +
      "null text matches nothing, fan-out only to queries naming the " +
      "term, guards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),            // q1 (a+b, no c? has c → blocked), q2
      (2L, "a a a b"),          // tf irrelevant: matches q1, q2
      (3L, "a x"),              // q2 only
      (4L, null.asInstanceOf[String]),
      (5L, "c d"))              // q3
      .toDF("doc_id", "text")
    val queries = Seq(
      (1L, Seq("a", "b"), Seq("c")),
      (2L, Seq("a"), Seq.empty[String]),
      (3L, Seq("c", "d"), Seq.empty[String]))
      .toDF("query_id", "must", "must_not")
    val got = TextAnalysis.percolate(docs, "doc_id", "text", queries)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 5L)),
      s"percolate matches wrong: $got")
    // guards: empty must; a term both must and must_not
    intercept[IllegalArgumentException] {
      TextAnalysis.percolate(docs, "doc_id", "text",
        Seq((9L, Seq.empty[String], Seq("a")))
          .toDF("query_id", "must", "must_not")).collect()
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.percolate(docs, "doc_id", "text",
        Seq((9L, Seq("a"), Seq("a")))
          .toDF("query_id", "must", "must_not")).collect()
    }
    // a NULL must array must trip the same loud guard, never
    // silently match nothing
    intercept[IllegalArgumentException] {
      TextAnalysis.percolate(docs, "doc_id", "text",
        Seq((9L, null.asInstanceOf[Seq[String]], Seq("a")))
          .toDF("query_id", "must", "must_not")).collect()
    }
  }

  test("percolateIndexed: bit-identical to the broadcast form, the " +
      "covering term honors the df ranking, write-time guards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"), (2L, "a a a b"), (3L, "a x"),
      (4L, null.asInstanceOf[String]), (5L, "c d"), (6L, "b d"))
      .toDF("doc_id", "text")
    val queries = Seq(
      (1L, Seq("a", "b"), Seq("c")),
      (2L, Seq("a"), Seq.empty[String]),
      (3L, Seq("c", "d"), Seq.empty[String]),
      (4L, Seq("b", "d"), Seq("x")))
      .toDF("query_id", "must", "must_not")
    val dir = java.nio.file.Files
      .createTempDirectory("percidx").toString
    TextAnalysis.percolateWriteQueryIndex(queries, s"$dir/q1")
    val indexed = TextAnalysis
      .percolateIndexed(spark, s"$dir/q1", docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    val direct = TextAnalysis.percolate(docs, "doc_id", "text", queries)
      .as[(Long, Long)].collect().toSet
    assert(indexed == direct,
      s"indexed percolation diverged: $indexed vs $direct")
    // covering term: without stats, the lexicographically smallest
    // must term; with a df relation, the RAREST (fewest docs) wins
    def covers(p: String) = spark.read.parquet(s"$p/qcover")
      .as[(String, Long)].collect()
      .map { case (t, q) => q -> t }.toMap
    assert(covers(s"$dir/q1")(1L) == "a", "default cover not lexical")
    val dfRel = Seq(("a", 100L), ("b", 3L), ("c", 10L), ("d", 1L))
      .toDF("term", "df")
    TextAnalysis.percolateWriteQueryIndex(queries, s"$dir/q2",
      Some(dfRel))
    val c2 = covers(s"$dir/q2")
    assert(c2(1L) == "b" && c2(3L) == "d" && c2(4L) == "d",
      s"df-ranked cover wrong: $c2")
    // results identical under either covering choice
    assert(TextAnalysis
      .percolateIndexed(spark, s"$dir/q2", docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet == direct,
      "covering choice changed match results")
    // guards moved to write time: null/empty must, must∩must_not
    intercept[IllegalArgumentException] {
      TextAnalysis.percolateWriteQueryIndex(
        Seq((9L, Seq.empty[String], Seq("a")))
          .toDF("query_id", "must", "must_not"), s"$dir/q3")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.percolateWriteQueryIndex(
        Seq((9L, null.asInstanceOf[Seq[String]], Seq("a")))
          .toDF("query_id", "must", "must_not"), s"$dir/q3")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.percolateWriteQueryIndex(
        Seq((9L, Seq("a"), Seq("a")))
          .toDF("query_id", "must", "must_not"), s"$dir/q3")
    }
  }

  test("completionSuggest: live-df ranking under tombstones, a fully " +
      "deleted term never suggested, prefix pushed to the dictionary " +
      "scan, guards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "sort sun"), (2L, "sort"), (3L, "sun moon"), (4L, "solo"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("complidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def sugg(p: String) = TextAnalysis
      .completionSuggest(spark, dir, p, 10, "doc_id")
      .as[(String, Long)].collect().toSeq
    assert(sugg("s") == Seq(("sort", 2L), ("sun", 2L), ("solo", 1L)),
      s"pre-kill ranking wrong: ${sugg("s")}")
    // kill doc 4 (solo's only holder) and doc 1 (one sort, one sun)
    TextAnalysis.bm25Tombstone(
      Seq((4L, 1L), (1L, 2L)).toDF("doc_id", "dl"),
      "doc_id", "dl", dir, 1)
    assert(sugg("s") == Seq(("sort", 1L), ("sun", 1L)),
      s"live ranking wrong after kills: ${sugg("s")}")
    assert(sugg("so") == Seq(("sort", 1L)),
      "dead term 'solo' resurfaced or band wrong")
    // time travel: asOf=0 replays the pre-kill df ranking, and a term
    // first appearing in a later segment never surfaces at asOf=0
    TextAnalysis.bm25AppendSegment(
      Seq((9L, "solar")).toDF("doc_id", "text"), "doc_id", "text",
      dir, 2)
    assert(TextAnalysis.completionSuggest(spark, dir, "s", 10,
        "doc_id", asOfSegment = Some(0))
      .as[(String, Long)].collect().toSeq ==
      Seq(("sort", 2L), ("sun", 2L), ("solo", 1L)),
      "asOf=0 completion diverged from the pre-kill ranking")
    assert(TextAnalysis.spellSuggest(spark, dir, "solar", 1, 5,
        "doc_id", asOfSegment = Some(0))
      .as[(String, Long, Long)].collect().isEmpty,
      "a future-segment term surfaced at asOf=0")
    intercept[IllegalArgumentException] {
      TextAnalysis.completionSuggest(spark, dir, "", 5, "doc_id")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.completionSuggest(spark, dir, "s", 5, "doc_id",
        maxExpansion = 1)
    }
  }

  test("boosted search: boost 1.0 is bit-identical to unboosted, a " +
      "boost reorders equal-scored docs as the arithmetic says, match " +
      "semantics untouched, guards") {
    import spark.implicits._
    // docs 1/2 symmetric in a/b (same dl, same df) — unboosted they
    // tie; boosting b must put doc 2 first without changing the set
    val docs = Seq(
      (1L, "a x"), (2L, "b x"), (3L, "a b"), (4L, "x y"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("boostidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def run(boosts: Map[String, Double]) = TextAnalysis
      .booleanSearch(spark, dir, must = Nil, should = Seq("a", "b"),
        mustNot = Nil, k = 10, "doc_id", boosts = boosts)
      .as[(Long, Double)].collect().toSeq
    val plain = run(Map.empty)
    assert(run(Map("a" -> 1.0, "b" -> 1.0)) == plain,
      "boost 1.0 changed scoring")
    assert(plain.take(1).map(_._1) == Seq(3L) &&
      plain.map(_._1).toSet == Set(1L, 2L, 3L))
    // docs 1 and 2 tie unboosted (symmetric corpus)
    assert(plain(1)._2 == plain(2)._2 &&
      plain.slice(1, 3).map(_._1) == Seq(1L, 2L))
    val boosted = run(Map("b" -> 3.0))
    assert(boosted.map(_._1).toSet == Set(1L, 2L, 3L),
      "boost changed the match set")
    assert(boosted.indexWhere(_._1 == 2L) <
      boosted.indexWhere(_._1 == 1L),
      s"3x boost on b did not lift doc 2 over doc 1: $boosted")
    // arithmetic: the boost scales the whole contribution before the
    // one fixed-point floor, so doc 2's boosted score is 3x doc 1's
    // unboosted score to within the two roundings' quantum
    val raw = plain.find(_._1 == 1L).get._2
    assert(math.abs(boosted.find(_._1 == 2L).get._2 - raw * 3.0) < 2e-4,
      s"boosted score not ~3x the unboosted: $boosted")
    // guards: non-positive boost, boost outside the positive clauses
    intercept[IllegalArgumentException] {
      TextAnalysis.booleanSearch(spark, dir, Nil, Seq("a"), Nil, 5,
        "doc_id", boosts = Map("a" -> 0.0))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.booleanSearch(spark, dir, Nil, Seq("a"), Seq("b"),
        5, "doc_id", boosts = Map("b" -> 2.0))
    }
  }

  test("synonymSearch: member tfs sum into one pseudo-term, union df " +
      "exact, singleton group equals plain probe, disjointness guard, " +
      "tombstones honored") {
    import spark.implicits._
    val docs = Seq(
      (1L, "car car auto"),     // both members: tf 3 in one group
      (2L, "automobile x"),     // one member
      (3L, "car y"),            // one member
      (4L, "x y"))              // no member
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("synidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    def run(groups: Seq[Seq[String]]) = TextAnalysis
      .synonymSearch(spark, dir, groups, 10, "doc_id")
      .as[(Long, Double)].collect().toMap
    val syn = run(Seq(Seq("car", "auto", "automobile")))
    assert(syn.keySet == Set(1L, 2L, 3L), s"match set wrong: $syn")
    // the group behaves as ONE term with df=3 (union over members),
    // tf = summed members — replay the engine's own arithmetic on a
    // corpus where every doc has dl 3 except docs 2-4 (dl 2):
    // equivalently, a corpus rewritten with every member spelled as
    // one token must score identically
    val rewritten = Seq(
      (1L, "t t t"), (2L, "t x"), (3L, "t y"), (4L, "x y"))
      .toDF("doc_id", "text")
    val dir2 = java.nio.file.Files
      .createTempDirectory("synidx2").toString
    TextAnalysis.bm25AppendSegment(rewritten, "doc_id", "text", dir2, 0)
    val plain = TextAnalysis.bm25ProbeSegmented(spark, dir2,
        Seq((0L, "t")).toDF("qid", "qtext"), 10, "doc_id")
      .select(col("doc_id"), col("score"))
      .as[(Long, Double)].collect().toMap
    assert(syn == plain,
      s"synonym group diverged from the one-term rewrite: $syn vs $plain")
    // a singleton group is exactly a one-term probe on the real index
    val single = run(Seq(Seq("car")))
    val probe1 = TextAnalysis.bm25ProbeSegmented(spark, dir,
        Seq((0L, "car")).toDF("qid", "qtext"), 10, "doc_id")
      .select(col("doc_id"), col("score"))
      .as[(Long, Double)].collect().toMap
    assert(single == probe1)
    // guards: overlap across groups, empty group
    intercept[IllegalArgumentException] {
      run(Seq(Seq("car", "auto"), Seq("auto", "truck")))
    }
    intercept[IllegalArgumentException] { run(Seq(Seq())) }
    // tombstones: killing doc 1 shrinks the union df to 2 and drops it
    TextAnalysis.bm25Tombstone(Seq((1L, 3L)).toDF("doc_id", "dl"),
      "doc_id", "dl", dir, 1)
    val after = run(Seq(Seq("car", "auto", "automobile")))
    assert(after.keySet == Set(2L, 3L))
  }

  test("bm25fTopK: single unit-weight field reproduces single-field " +
      "ranking, a boosted title field reorders a crafted pair, " +
      "per-field b respected, guards") {
    import spark.implicits._
    // doc 1: term only in body (long); doc 2: term in short title —
    // with title boosted + weak title length-norm, doc 2 must win
    val docs = Seq(
      (1L, "hit filler filler filler filler filler", "other words"),
      (2L, "filler alpha beta gamma delta epsilon", "hit words"),
      (3L, "noise noise noise", "noise words"))
      .toDF("doc_id", "body", "title")
    val q = Seq((0L, "hit")).toDF("qid", "qtext")
    val boosted = TextAnalysis.bm25fTopK(docs, "doc_id",
        Seq(("body", 1.0, 0.75), ("title", 3.0, 0.3)), q, 10)
      .select(col("doc_id"), col("score"))
      .as[(Long, Double)].collect()
    assert(boosted.map(_._1).toSeq == Seq(2L, 1L),
      s"title boost did not dominate: ${boosted.toSeq}")
    // single field at unit weight ranks exactly like the plain scan
    // scorer (same monotone saturation of the same normalized tf; the
    // absolute scale differs by the (k1+1) factor BM25F drops)
    val d2 = Seq(
      (1L, "a a b c"), (2L, "a b"), (3L, "b c c"), (4L, "a c"))
      .toDF("doc_id", "text")
    val q2 = Seq((0L, "a c"), (1L, "b")).toDF("qid", "qtext")
    val f = TextAnalysis.bm25fTopK(d2, "doc_id",
        Seq(("text", 1.0, 0.75)), q2, 10)
      .select(col("qid"), col("doc_id"), col("score"))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._3, r._2))
        .map(_._2).toSeq).toMap
    val p = TextAnalysis.bm25TopK(d2, "doc_id", "text", q2, 10)
      .select(col("qid"), col("doc_id"), col("score"))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._3, r._2))
        .map(_._2).toSeq).toMap
    assert(f == p, s"single-field BM25F ranking diverged: $f vs $p")
    // guards
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25fTopK(docs, "doc_id", Nil, q, 10)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25fTopK(docs, "doc_id",
        Seq(("body", 1.0, 0.75), ("body", 2.0, 0.5)), q, 10)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25fTopK(docs, "doc_id",
        Seq(("body", -1.0, 0.75)), q, 10)
    }
  }

  test("booleanSearch collapse: one best hit per group, NULLs form " +
      "one group, composes with searchAfter, uncollapsed otherwise " +
      "unchanged") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a"), (2L, "a a x"), (3L, "a y z"), (4L, "a w v"),
      (5L, "a u t"))
      .toDF("doc_id", "text")
    // groups: docs 1,2 → g1; docs 3,4 → g2; doc 5 → NULL
    val meta = Seq(
      (1L, Some("g1")), (2L, Some("g1")), (3L, Some("g2")),
      (4L, Some("g2")), (5L, None: Option[String]))
      .toDF("doc_id", "source")
    val dir = java.nio.file.Files
      .createTempDirectory("collidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    val coll = TextAnalysis.booleanSearch(spark, dir, Nil, Seq("a"),
        Nil, 10, "doc_id", collapse = Some((meta, "source")))
      .select(col("doc_id"), col("source"))
      .as[(Long, Option[String])].collect().toSet
    // g1's best is doc 1 (tf 3), g2's best is doc 3 (ties → smaller
    // id), the NULL group keeps exactly one row (doc 5)
    assert(coll == Set((1L, Some("g1")), (3L, Some("g2")),
      (5L, None)), s"collapse wrong: $coll")
    // searchAfter composes: collapse first, then the cursor
    val all = TextAnalysis.booleanSearch(spark, dir, Nil, Seq("a"),
        Nil, 10, "doc_id", collapse = Some((meta, "source")))
      .select(col("doc_id"), col("score"))
      .as[(Long, Double)].collect()
      .sortBy(r => (-r._2, r._1)).toSeq
    val (s0, id0) = all.head.swap
    val page2 = TextAnalysis.booleanSearch(spark, dir, Nil, Seq("a"),
        Nil, 10, "doc_id", after = Some((id0, s0).swap),
        collapse = Some((meta, "source")))
      .select(col("doc_id"), col("score"))
      .as[(Long, Double)].collect().sortBy(r => (-r._2, r._1)).toSeq
    assert(page2 == all.tail, s"cursor page diverged: $page2 vs ${
      all.tail}")
    // without collapse the schema and results are the r13 contract
    val plain = TextAnalysis.booleanSearch(spark, dir, Nil, Seq("a"),
        Nil, 10, "doc_id")
    assert(plain.columns.toSeq == Seq("doc_id", "score"))
    assert(plain.count() == 5)
    // group.limit: collapseTop = 2 keeps the best TWO per group —
    // every doc here survives except none (each group has ≤ 2), so
    // probe with a group of 2: g1 keeps both docs 1 and 2
    val top2 = TextAnalysis.booleanSearch(spark, dir, Nil, Seq("a"),
        Nil, 10, "doc_id", collapse = Some((meta, "source")),
        collapseTop = 2)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(top2 == Set(1L, 2L, 3L, 4L, 5L),
      s"collapseTop=2 wrong: $top2")
    intercept[IllegalArgumentException] {
      TextAnalysis.booleanSearch(spark, dir, Nil, Seq("a"), Nil, 10,
        "doc_id", collapse = Some((meta, "source")), collapseTop = 0)
    }
  }

  test("disMaxSearch: tiebreak=0 is the max of per-clause scores, " +
      "tiebreak=1 on disjoint clauses is the boolean sum, overlap " +
      "scores per clause, guards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "red red blue"),      // strong in c0, weak in c1
      (2L, "green green green"), // only c1
      (3L, "red green"),         // both clauses
      (4L, "x y z"))             // neither
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("dismaxidx").toString
    TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
    val c0 = Seq("red", "blue"); val c1 = Seq("green")
    def clauseScores(ts: Seq[String]) = TextAnalysis
      .booleanSearch(spark, dir, Nil, ts, Nil, 10, "doc_id")
      .as[(Long, Double)].collect().toMap
    val (s0, s1) = (clauseScores(c0), clauseScores(c1))
    val dm0 = TextAnalysis.disMaxSearch(spark, dir, Seq(c0, c1),
        tiebreak = 0.0, 10, "doc_id")
      .as[(Long, Double)].collect().toMap
    val expect0 = (s0.keySet ++ s1.keySet).map { id =>
      id -> math.max(s0.getOrElse(id, 0.0), s1.getOrElse(id, 0.0))
    }.toMap
    assert(dm0 == expect0,
      s"tiebreak=0 is not the clause max: $dm0 vs $expect0")
    // disjoint clauses at tiebreak=1 degenerate to the boolean sum
    // over the union panel (same fixed-point longs, one rounding)
    val dm1 = TextAnalysis.disMaxSearch(spark, dir, Seq(c0, c1),
        tiebreak = 1.0, 10, "doc_id")
      .as[(Long, Double)].collect().toMap
    val union = clauseScores(c0 ++ c1)
    assert(dm1 == union,
      s"tiebreak=1 is not the boolean sum: $dm1 vs $union")
    // an overlapping term scores independently in each clause: with
    // clauses {red} and {red} at tiebreak=1, doc 1 scores twice its
    // single-clause reading
    val twice = TextAnalysis.disMaxSearch(spark, dir,
        Seq(Seq("red"), Seq("red")), tiebreak = 1.0, 10, "doc_id")
      .as[(Long, Double)].collect().toMap
    val once = clauseScores(Seq("red"))
    assert(twice.keySet == once.keySet &&
      twice.forall { case (id, s) =>
        math.abs(s - 2 * once(id)) < 1e-6 },
      s"overlapping clauses did not score independently: $twice vs $once")
    // guards
    intercept[IllegalArgumentException] {
      TextAnalysis.disMaxSearch(spark, dir, Seq(Seq()), 0.0, 10,
        "doc_id")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.disMaxSearch(spark, dir, Seq(Seq("red")), 1.5, 10,
        "doc_id")
    }
  }

  test("r18 review fixes: termDict superset on a legacy+append hybrid " +
      "layout; segmentInfos reports a termdict-less layout instead of " +
      "throwing; bm25ApplyRecrawl enforces the generation rule") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("bm25_r18fix").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy = Seq((1L, "alpha beta"), (2L, "alpha gamma"))
      .toDF("doc_id", "text")
    TextAnalysis.bm25AppendSegment(legacy, "doc_id", "text", dir, 0)
    // forge the PRE-TERMDICT legacy layout: drop the dict artifact
    // and the manifest history, leaving the bare hive tree
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/termdict"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_gen"), true)
    // segmentInfos on the termdict-less layout: n_terms = 0, no throw
    val infos = TextAnalysis.segmentInfos(spark, dir, "doc_id")
      .collect().map(r => (r.getInt(0), r.getLong(3))).toSet
    assert(infos == Set((0, 0L)), s"got $infos")
    // one post-upgrade append: the manifest's termdict now covers
    // ONLY seg=1 — partial coverage must fall back to the postings
    // scan, or the legacy segment's entire vocabulary vanishes from
    // dictionary expansion (the SUPERSET invariant)
    TextAnalysis.bm25AppendSegment(
      Seq((3L, "delta epsilon")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 1)
    val hits = TextAnalysis.fuzzyTermSearch(spark, dir, "alpha", 0,
        "doc_id")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 2L),
      s"legacy segment's vocabulary lost to dictionary expansion: $hits")
    // the generation rule on recrawl: a reused live segment number
    // must fail loudly, not silently replace previously appended docs
    val snapOld = legacy.unionByName(
      Seq((3L, "delta epsilon")).toDF("doc_id", "text"))
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bm25ApplyRecrawl(spark, dir,
        snapOld,
        Seq((9L, "zeta")).toDF("doc_id", "text"),
        Seq((9L, "added")).toDF("doc_id", "status"),
        "doc_id", "text", segment = 1, maxSegments = 4)
    }
    assert(e.getMessage.contains("generation rule"), s"wrong: $e")
    // a FRESH segment number passes and the wave lands
    TextAnalysis.bm25ApplyRecrawl(spark, dir,
      snapOld,
      snapOld.unionByName(Seq((9L, "zeta")).toDF("doc_id", "text")),
      Seq((9L, "added")).toDF("doc_id", "status"),
      "doc_id", "text", segment = 2, maxSegments = 4)
    val after = TextAnalysis.fuzzyTermSearch(spark, dir, "zeta", 0,
        "doc_id")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(after == Set(9L), s"recrawl wave lost: $after")
  }

  test("r18 review fixes: redactPII covers hyphen/plus/percent email " +
      "shapes; markupStats counts newline and self-closed anchors; " +
      "chunkSpans and repetitionStats keep NULL-text docs with sane " +
      "values") {
    import spark.implicits._
    val red = Seq((1L, "contact: jane-doe@my-site.com or " +
        "user+tag@gmail.com thanks"))
      .toDF("id", "t")
      .select(TextAnalysis.redactPII(col("t"))).head().getString(0)
    assert(red == "contact: <EMAIL> or <EMAIL> thanks", s"got <$red>")
    val links = Seq((1L, "<a\nhref=\"x\">l</a><a/><A >u</A><a href=y>"))
      .toDF("doc_id", "html")
    val n = TextAnalysis.markupStats(links, "doc_id", "html")
      .select(col("n_links")).head().getLong(0)
    assert(n == 4L, s"anchor count $n != 4")
    val nullDoc = Seq((1L, Option("alpha beta")), (2L, None))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkSpans(nullDoc, "doc_id", "text",
        chunkSize = 50, stride = 40)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .toSet
    assert(chunks.forall { case (_, _, len) => len >= 0 },
      s"negative chunk_len survived: $chunks")
    val reps = TextAnalysis.repetitionStats(nullDoc, "doc_id", "text")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(reps == Set(1L, 2L),
      s"NULL-text doc dropped from repetition stats: $reps")
  }
}
