package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.{GateChecks, Tables}
import graft.functions.{TextFns, UrlFns, VectorFns}
import graft.operators.{BpeTokenizer, Dedup, IsolationForest, Multimodal, Packing, ProductQuantize, QualityModel, Sampling, SegmentManifest, Similarity, TextAnalysis, Upsert}
import graft.sources.CsvIngest
import graft.streaming.StreamingVectorIndex

/** North-star LLM-data-pipeline + streaming-dataflow query set
  * (SURVEY.md §2.8/§2.9, BASELINE.json): dedup (exact / LSH / SimHash /
  * embedding / edit-distance / incremental / decision+apply),
  * similarity search, text analysis (stats, TF-IDF, LM scoring,
  * repetition, quality gates), decontamination, sampling and mixing,
  * redaction, chunking and packing, event windowing, format roundtrips,
  * extension aggregates — over the driver's `documents` / `embeddings`
  * / `events` tables.
  *
  * Every query has a DuckDB oracle in [[oracleSql]] except those whose
  * outputs are inherently engine-specific (q47 SimHash hamming,
  * q41/q48 seeded-LSH, q32/q40 ML fits, q49 hashed vectors, q64
  * sketch internals, q75 seeded-ANN recall). Those rows are
  * SELF-ENFORCING (round 11): each builder require()s its invariants
  * — recall floors, sketch-vs-exact rank bands, cluster counts,
  * canonical pair orientation — plus a pinned seeded-determinism
  * digest per driver scale factor ([[graft.engine.GateChecks]]), so
  * a breach turns the driver's rows-only row err-red; invariant specs
  * in src/test cover the mechanisms. COVERAGE.md is the
  * operator→query ledger; PLANS.md the physical-plan audit.
  */
object PipelineQueries {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** Scratch directory scheme for the roundtrip queries (q18/q68/q70/
    * q72/q31/q86/q87) — keyed by the sf dir so different SFs never
    * collide. Assumes one gate/bench process at a time (the driver's
    * contract); concurrent runs over the SAME sfDir would race on the
    * overwrite. `scratchRoot`/`sfHash` are the SHARED pieces Verify's
    * oracle-SQL placeholder substitution uses — one definition, so the
    * q31 oracle can never desynchronize from the path the query wrote. */
  private[graft] def scratchRoot: String =
    sys.env.getOrElse("GRAFT_SCRATCH_DIR", "/root/repo/target/scratch")

  private[graft] def sfHash(dir: String): String =
    Integer.toHexString(dir.hashCode)

  private def scratchPath(prefix: String, dir: String): String =
    s"$scratchRoot/${prefix}_${sfHash(dir)}"

  /** Build-once SHARED index fixtures (r13 verdict item 6): ~20 gate
    * rows probe byte-identical canonical artifacts (the full-corpus
    * single-segment BM25 index; the cosine IVF index over the
    * embeddings sans the query vector) — rebuilding them per row is
    * the dominant cost of the search-family bench rows. A fixture
    * builds on first touch of a run and commits with a versioned
    * marker (bump [[fixtureVersion]] whenever a layout format
    * changes, e.g. the generation-manifest migration), so every
    * later row — and every later run in the same container — reuses
    * it. Rows that MUTATE an index (merge/GC/upsert/recrawl/
    * streaming lifecycles) keep private scratch paths and still
    * exercise the full build, one designated row per index family. */
  private val fixtureVersion = 1
  private def fixture(s: SparkSession, name: String, dir: String)(
      build: String => Unit): String = {
    val path = scratchPath(s"fx_$name", dir)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val ok = new org.apache.hadoop.fs.Path(
      s"$path/_FIXTURE_OK_v$fixtureVersion")
    if (!fs.exists(ok)) {
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      build(path)
      fs.create(ok, true).close()
    }
    path
  }

  /** The canonical full-corpus lexical fixture: every document as
    * ONE segment — the layout the read-only search probes share
    * (boolean/fuzzy/wildcard/facets/MLT/snippets/…); q115/q122/q134/
    * q146 keep exercising appends, tombstones, merges and waves on
    * private layouts. */
  private def fxDocsBm25(s: SparkSession, dir: String): String =
    fixture(s, "docs_bm25", dir) { p =>
      TextAnalysis.bm25AppendSegment(Tables(s, dir, "documents"),
        "doc_id", "text", p, 0)
    }


  /** The canonical TWO-GENERATION lexical fixture (the q161 wave):
    * even docs as generation 0, then a remove/modify/add wave at
    * generation 1 — shared by the read-only probes of a maintained
    * two-generation index (time travel, segment infos, the search
    * capstone). The wave IS the build; everything after is probes. */
  private def fxDocsTwoGen(s: SparkSession, dir: String): String =
    fixture(s, "docs_twogen", dir) { p =>
      val d = Tables(s, dir, "documents")
      val even = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      TextAnalysis.bm25AppendSegment(even, "doc_id", "text", p, 0)
      val kill = even.filter(
          col("doc_id") % 10 === 0 || col("doc_id") % 10 === 2)
        .select(col("doc_id"),
          size(TextAnalysis.tokens(coalesce(col("text"), lit(""))))
            .cast("long").as("dl"))
      TextAnalysis.bm25Tombstone(kill, "doc_id", "dl", p, 1)
      val wave = even.filter(col("doc_id") % 10 === 2)
        .select(col("doc_id"),
          concat(lit("extra "), coalesce(col("text"), lit("")))
            .as("text"))
        .unionByName(d.filter(
            col("doc_id") % 2 === 1 && col("doc_id") % 10 === 1)
          .select(col("doc_id"), col("text")))
      TextAnalysis.bm25AppendSegment(wave, "doc_id", "text", p, 1)
    }

  /** Full corpus + a %7 tombstone wave at generation 1 — the
    * liveness-under-tombstones fixture (suggest df, significant
    * terms' live background). */
  private def fxDocsTombstoned(s: SparkSession, dir: String): String =
    fixture(s, "docs_tombstoned", dir) { p =>
      val d = Tables(s, dir, "documents")
      TextAnalysis.bm25AppendSegment(d, "doc_id", "text", p, 0)
      val kill = d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"),
          size(TextAnalysis.tokens(coalesce(col("text"), lit(""))))
            .cast("long").as("dl"))
      TextAnalysis.bm25Tombstone(kill, "doc_id", "dl", p, 1)
    }

  /** The canonical dense fixtures: learned k=16 centroids over the
    * embeddings minus the query vector (vec_id 0), and the cosine
    * IVF index written from them — shared by the filtered/covering/
    * range probes (q157/q163/q170); q31/q90 and the
    * refresh/drift/streaming lifecycles keep private layouts. */
  private def fxEmbCents16(s: SparkSession, dir: String): String =
    fixture(s, "emb_cents16", dir) { p =>
      Similarity.learnedCentroids(
          Tables(s, dir, "embeddings").filter(col("vec_id") =!= 0),
          "embedding", k = 16)
        .coalesce(1).write.mode("overwrite").parquet(p)
    }

  private def fxEmbIvfCosine(s: SparkSession, dir: String): String =
    fixture(s, "emb_ivfcos", dir) { p =>
      val base = Tables(s, dir, "embeddings")
        .filter(col("vec_id") =!= 0)
      Similarity.ivfWriteIndexCosine(base,
        s.read.parquet(fxEmbCents16(s, dir)), "vec_id", "embedding", p)
    }

  /** Stable singleton for the q35 aggregator (serializable object). */
  private[queries] object Dedup0 {
    val topK3 = graft.operators.TopK.topK(3)
  }

  /** Deterministic 4×2 gradient raster behind q87's decode gate row:
    * pixel (x,y) = (R=10x, G=10y, B=100+x+y) → exact channel means
    * (15, 5, 102). Encoded once per JVM; the oracle interpolates the
    * SAME byte lengths and means, so the gate pins the decoder to the
    * format spec, not to itself. */
  private[queries] object ImageFixture {
    import graft.operators.ImageCodec
    val img: ImageCodec.Image = ImageCodec.Image(4, 2,
      Array.tabulate[Byte](24) { i =>
        val p = i / 3; val x = p % 4; val y = p / 4
        (i % 3 match {
          case 0 => 10 * x; case 1 => 10 * y; case 2 => 100 + x + y
        }).toByte
      })
    val ppm: Array[Byte] = ImageCodec.encodePpm(img)
    val bmp: Array[Byte] = ImageCodec.encodeBmp(img)
    val means: (Double, Double, Double) = ImageCodec.meanChannels(img)
    // q108 (compressed formats via imageio): PNG is lossless, so its
    // gate row pins the decoder to the ORIGINAL raster (same literals
    // as ppm/bmp). JPEG is lossy — its row pins dimensions plus
    // distributed-decode ≡ local-decode agreement (the literals are the
    // local decode of the same bytes the query ships to executors;
    // writer-default quality, deterministic within one JVM, which is
    // the q108 scope: Verify dumps the oracle from this process).
    val png: Array[Byte] = ImageCodec.encodePng(img)
    val jpg: Array[Byte] = ImageCodec.encodeJpeg(img)
    val jpgMeans: (Double, Double, Double) =
      ImageCodec.meanChannels(ImageCodec.decodeImageIO(jpg))
    // q125 (GIF): the JDK writer's palette quantizer is lossy even on
    // tiny rasters (ImageCodecSpec pins that finding), so GIF takes
    // the JPEG convention — oracle literals from the local decode of
    // the same planted bytes, never the source raster
    val gif: Array[Byte] = ImageCodec.encodeGif(img)
    val gifMeans: (Double, Double, Double) =
      ImageCodec.meanChannels(ImageCodec.decodeImageIO(gif))
  }

  /** Deterministic PCM fixtures behind q111's audio decode gate row —
    * every sample sits on the exact 1/32768 16-bit grid, so encode →
    * decode is lossless and the closed-form statistics (square-wave
    * RMS = amplitude, DC zero-crossings = 0) hold exactly. The oracle
    * literals come from the LOCAL decode of the same planted bytes
    * (gate pins distributed ≡ local); AudioCodecSpec pins the local
    * decode to the closed forms. */
  private[queries] object AudioFixture {
    import graft.operators.AudioCodec
    // mono square wave, period 4, amplitude 0.5: RMS exactly 0.5
    val mono: AudioCodec.Clip = AudioCodec.Clip(8000, 1,
      Array.tabulate(16)(i => if ((i / 2) % 2 == 0) 0.5 else -0.5))
    // stereo DC at 0.25: RMS 0.25, zero crossings 0
    val stereo: AudioCodec.Clip = AudioCodec.Clip(4000, 2,
      Array.fill(16)(0.25))
    val monoWav: Array[Byte] = AudioCodec.encodeWav16(mono)
    val stereoWav: Array[Byte] = AudioCodec.encodeWav16(stereo)
    val monoDec: AudioCodec.Clip = AudioCodec.decodeWav(monoWav)
    val stereoDec: AudioCodec.Clip = AudioCodec.decodeWav(stereoWav)
    val monoStats: (Double, Double, Long) = AudioCodec.stats(monoDec)
    val stereoStats: (Double, Double, Long) = AudioCodec.stats(stereoDec)
    // q124 (G.711 companded WAV): the CODE BYTES are the ground truth
    // (encodeWavG711 only containers them); expectations come from the
    // local decode of the same planted bytes, the q111 convention. The
    // byte sets hit both zero codes, both extremes, and mid-band codes
    // of each law. AudioCodecSpec pins the expansions to the G.711
    // closed forms.
    val ulawCodes: Array[Byte] = Array(
      0x00, 0x80, 0xFF, 0x7F, 0x9A, 0x1A, 0xD5, 0x55,
      0x00, 0x80, 0xFF, 0x7F, 0x9A, 0x1A, 0xD5, 0x55).map(_.toByte)
    val alawCodes: Array[Byte] = Array(
      0x55, 0xD5, 0x2A, 0xAA, 0x13, 0x93, 0x7B, 0xFB,
      0x55, 0xD5, 0x2A, 0xAA, 0x13, 0x93, 0x7B, 0xFB).map(_.toByte)
    val ulawWav: Array[Byte] = AudioCodec.encodeWavG711(7, 8000, 1,
      ulawCodes)
    val alawWav: Array[Byte] = AudioCodec.encodeWavG711(6, 4000, 2,
      alawCodes)
    val ulawDec: AudioCodec.Clip = AudioCodec.decodeWav(ulawWav)
    val alawDec: AudioCodec.Clip = AudioCodec.decodeWav(alawWav)
    val ulawStats: (Double, Double, Long) = AudioCodec.stats(ulawDec)
    val alawStats: (Double, Double, Long) = AudioCodec.stats(alawDec)
  }

  /** q102's five-stage curation pipeline over an ARBITRARY docs frame
    * (doc_id, source, text) — the ONE definition both the registered
    * gate row and the round-10 ×m composition probe (NOTES_r10.md)
    * ran, so a measurement can never desynchronize from the query it
    * claims to measure. Stages:
    * quality gate (integer lexical diversity) → exact dedup (md5
    * token-set, keep min id) → span near-dup drop (≥20 shared
    * consecutive tokens drops the higher id) → greedy token-budget
    * selection → per-source report. Stages cached where consumed
    * twice. */
  private[graft] def curationPipeline(docs: DataFrame,
                                      budget: Long): DataFrame = {
    import graft.engine.Caching.cached
    val base = docs
      .select(col("doc_id"), col("source"), col("text"),
        split(col("text"), " ").as("t"))
    val qual = cached(base
      .select(col("doc_id"), col("source"), col("text"),
        size(array_distinct(col("t"))).cast("long").as("score"),
        size(col("t")).cast("long").as("n_tokens"))
      .filter(col("score") >= 15))
    val reps = Dedup.exact(qual, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val keep1 = cached(qual.join(reps, Seq("doc_id"), "left_semi"))
    val drops = Dedup.sharedSpans(keep1, "doc_id", "text",
        n = 4, minSpan = 20)
      .select(col("id2").as("doc_id")).distinct()
    val keep2 = cached(keep1.join(drops, Seq("doc_id"), "left_anti"))
    val sel = Sampling.selectToTokenBudget(keep2, "doc_id", "score",
      "n_tokens", budget = budget)
    sel.join(keep2.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_kept"),
        sum(col("n_tokens")).as("tokens_kept"))
      .orderBy(col("source"))
  }

  /** q106's duplicate-cluster size histogram over an arbitrary docs
    * frame — shared with the round-10 ×m composition probe
    * (NOTES_r10.md; same rule as [[curationPipeline]]). */
  private[graft] def clusterHistogram(docs: DataFrame): DataFrame = {
    val pairs = Dedup.sharedSpans(docs, "doc_id", "text",
        n = 4, minSpan = 20)
      .select(col("id1"), col("id2"))
    val labels = Dedup.connectedComponents(pairs)
    docs.select(col("doc_id"))
      .join(labels, col("doc_id") === col("node"), "left")
      .select(coalesce(col("label"), col("doc_id")).as("label"))
      .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy(col("cluster_size"))
  }

  /** The deterministic HTML page wrapped around each doc's text for
    * the markup gates (q112/q119) — ONE definition mirrored literally
    * in both oracles, so the strip gate pins the regex chain, not the
    * page construction. Carries a script, a style, a comment, the six
    * entities, and a doc_id-varying link count. */
  private def syntheticPage: org.apache.spark.sql.Column = concat(
    lit("<html><!-- c --><head><style type=\"text/css\">p{color:red}" +
      "</style><script>var x=1;</script></head><body><h1>T</h1><p>"),
    regexp_replace(coalesce(col("text"), lit("")), " ", "&nbsp;"),
    lit("</p><div>&amp; &lt;tag&gt;</div><a href=\"#\">l</a>" +
      "<a href=\"#\">l2</a>"),
    when(col("doc_id") % 3 === 0, lit("<a href=\"x\">m</a>"))
      .otherwise(lit("")),
    lit("</body></html>"))

  /** Marker vocabulary for the language-ID heuristic (stopword-ratio
    * family): words actually present in the synthetic corpus so the
    * ratio varies per document. */
  val langMarkers = Seq("scan", "table", "row", "data", "query", "filter")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X2 — brute-force cosine top-k: one linear scan against a broadcast
    // query vector; TakeOrderedAndProject, no global sort, no cartesian.
    "q13_cosine_topk" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      Similarity.topK(e.filter(col("vec_id") =!= 0), qv, "vec_id",
        "embedding", 10)
    }),

    // X1 exact dedup — token-set signature, min-id representative. The
    // synthetic corpus has real token-set duplicates (446 distinct sets
    // over 500 docs at sf0.01), so n_dups > 1 rows exist.
    "q14_dedup_exact" -> ((s, dir) => {
      Dedup.exact(Tables(s, dir, "documents"), "doc_id", "text")
        .select(col("keep_id"), col("n_dups"))
        .orderBy(col("keep_id"))
    }),

    // X3 — corpus statistics per language: count/avg-length/token/
    // distinct-source accounting. Single hash-aggregate, map-side
    // partial, |langs| output rows.
    "q15_text_stats" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      d.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          round(avg(size(TextAnalysis.tokens(col("text")))), 4).as("avg_tokens"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    }),

    // X4/W — tumbling 1-hour event windows (the reference's progress
    // counters, `interface.py:150-181`, as proper event-time windows).
    // Decimal sum → double output for cross-engine canonicalization.
    "q16_event_windows" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy(col("ws"), col("event_type"))
    }),

    // X4 — session windows (5-minute gap) per user. Spark's native
    // session_window; the oracle replicates with gaps-and-islands SQL.
    "q17_sessionization" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // S5/K1/K2/P3 — full CSV parity loop: format money as `R$ 1.234,56`,
    // write `;`-separated CSV partitioned by year (the reference's
    // monthly-file layout), read back through the permissive reader with
    // partition pruning (yr = 1997 prunes directories at plan time),
    // parse the currency strings, and aggregate. The oracle computes the
    // same from the original parquet — green iff the whole
    // format→write→read→parse loop is lossless.
    "q18_csv_roundtrip" -> ((s, dir) => {
      // scratch root overridable for non-dev environments (cluster runs
      // would point this at a job-scoped distributed-FS path)
      val base = scratchPath("csv_rt", dir)
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          TextFns.formatBRL(col("o_totalprice")).as("pago"))
      CsvIngest.write(o, base, Seq("yr"))
      CsvIngest.readPartitioned(s, base)
        .filter(col("yr") === 1997)
        .groupBy(col("mo").cast("int").as("mo"))
        .agg(count(lit(1)).as("n"),
          sum(TextFns.parseBRL(col("pago"))).cast("double").as("total"))
        .orderBy(col("mo"))
    }),

    // S5 — the sep=None SNIFFER under the hash gate: one year of orders
    // written as a MIXED-dialect directory — months 1–6 ';'-separated,
    // months 7–12 ','-separated (the writer quotes BRL money in the
    // comma group, and the sniffer must ignore those quoted spans while
    // the UNQUOTED decimal commas in the ';' group must not fool it
    // either — both traps live in the fixture by construction) — then
    // readSniffed over the whole directory, parse the money back, and
    // aggregate. Green iff per-file dialect detection + group reads +
    // drift union reproduce the original parquet numbers exactly.
    "q86_sniffed_csv" -> ((s, dir) => {
      val base = scratchPath("sniff_rt", dir)
      val o = Tables(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 1997)
        .select(col("o_orderkey"), month(col("o_orderdate")).as("mo"),
          TextFns.formatBRL(col("o_totalprice")).as("pago"))
      CsvIngest.write(o.filter(col("mo") <= 6), s"$base/h1", sep = ";")
      CsvIngest.write(o.filter(col("mo") >= 7), s"$base/h2", sep = ",")
      CsvIngest.readSniffed(s, s"$base/*")
        .groupBy(col("mo").cast("int").as("mo"))
        .agg(count(lit(1)).as("n"),
          sum((dec(TextFns.parseBRL(col("pago"))) * 100).cast("long"))
            .as("total_cents"))
        .orderBy(col("mo"))
    }),

    // X2 — int8-QUANTIZED similarity search under the hash gate: the
    // 100 TB embedding store runs ANN over quantized codes (4× less
    // scan IO; cosine is scale-invariant so no dequantize pass). The
    // whole quantize → cosine → top-k pipeline is exact integer-and-
    // floor arithmetic, so DuckDB replicates it bit-for-bit. Rounding
    // is spelled out as floor(x/s + 0.5) in BOTH engines (their
    // built-in round() conventions differ).
    "q89_quantized_ann" -> ((s, dir) => {
      import graft.operators.Quantize
      val e = Tables(s, dir, "embeddings")
      val q = Quantize.quantized(e, "embedding", "qcodes")
      val qv = q.filter(col("vec_id") === 0)
        .select(col("qcodes").as("query_codes"))
      q.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"),
          round(Quantize.cosineCodes(col("qcodes"), col("query_codes")), 4)
            .as("qsim"))
        .orderBy(col("qsim").desc, col("vec_id"))
        .limit(10)
    }),

    // X2 — the quantized inverted FILE under the hash gate: the read
    // path a 100 TB embedding store actually runs, with both IO levers
    // composed — hive partition pruning opens only the nProbe cell
    // directories AND the pruned scan reads int8 codes (<½ the raw
    // bytes, SimilaritySpec asserts the sizes). The DuckDB oracle
    // replays the whole probe off the same scratch artifacts: centroid
    // ranking, the materialized index's own codes + partition column,
    // query quantization (floor(x/s + 0.5), spelled identically in
    // both engines), cosine on exact small integers.
    "q90_quantized_ivf_probe" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      val base = e.filter(col("vec_id") =!= 0)
      Similarity.learnedCentroids(base, "embedding", k = 16)
        .coalesce(1).write.mode("overwrite")
        .parquet(scratchPath("ivfq_cents", dir))
      val cents = s.read.parquet(scratchPath("ivfq_cents", dir))
      Similarity.ivfWriteIndexQuantized(base, cents, "vec_id", "embedding",
        scratchPath("ivfq_index", dir))
      Similarity.ivfProbePrunedQuantized(s, scratchPath("ivfq_index", dir),
        cents, qv, "vec_id", k = 10, nProbe = 3)
    }),

    // A6 — running average per user (the reference's incremental
    // rate/ETA, `interface.py:185-194`). Window partitioned by user_id:
    // thousands of independent partitions, no whole-table window.
    "q19_running_avg" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // Exact integer-cent arithmetic end-to-end: double rounding of the
      // running average lands exactly on .00005 boundaries (cents / small
      // count) where Spark's BigDecimal.valueOf rounding and DuckDB's
      // binary-double rounding disagree. Cents sum + floor-div average
      // have zero float ops, so the hash is stable across engines.
      Tables(s, dir, "events")
        .withColumn("cents", (dec(col("value")) * 100).cast("long"))
        .select(col("event_id"), col("user_id"),
          sum(col("cents")).over(w).as("run_total_cents"),
          count(lit(1)).over(w).as("n"))
        .withColumn("run_avg_cents", expr("run_total_cents div n"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // A7 — rollup totals (year → grand total). Spark plans rollup as a
    // single Expand+aggregate: one shuffle regardless of grouping sets.
    "q20_rollup" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .rollup(year(col("o_orderdate")).as("yr"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("yr").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)
    }),

    // A7 — exact distinct aggregate (approx_count_distinct is the scale
    // path; its HLL estimate is engine-specific, so the oracle-checked
    // query uses the exact form — the approx variant runs in q64 and is
    // invariant-tested in KMeansSpec/ApproxAggSpec).
    "q21_distinct_parts" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nd_parts"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // X3 — language-ID heuristic: marker-word ratio + threshold.
    "q22_langid" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          round(TextAnalysis.wordSetRatio(
            TextAnalysis.tokens(col("text")), langMarkers), 4)
            .as("marker_ratio"))
        .withColumn("pred",
          when(col("marker_ratio") >= 0.15, lit("en")).otherwise(lit("other")))
        .orderBy(col("doc_id"))
    }),

    // X3 — quality scoring: token count, type-token ratio (lexical
    // diversity), and an integer-arithmetic quality gate.
    "q23_quality" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          round(TextAnalysis.typeTokenRatio(toks), 4).as("ttr"),
          (col("n_chars") >= 150 && col("n_chars") <= 400 &&
            size(toks) >= 30).as("quality_ok"))
        .orderBy(col("doc_id"))
    }),

    // X3 — token counting: whitespace tokens vs BPE-ish regex tokens
    // over events.props (JSON text: real punctuation to tokenize).
    "q24_token_counts" -> ((s, dir) => {
      Tables(s, dir, "events")
        .select(col("event_id"),
          size(split(col("props"), "\\s+")).as("ws_tokens"),
          TextAnalysis.bpeTokenCount(col("props")).as("bpe_tokens"))
        .orderBy(col("event_id"))
    }),

    // X3 — content fingerprint: md5 over the sorted distinct token
    // stream (bit-identical across engines, unlike murmur/xxhash).
    "q25_fingerprint" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // X1 — n-gram Jaccard near-dup pairs via shared-shingle join (never
    // all-pairs; stop-shingle cap bounds skew). 25 planted pairs ≥ 0.5
    // at sf0.01.
    "q26_jaccard_neardup" -> ((s, dir) => {
      TextAnalysis.jaccardPairs(Tables(s, dir, "documents"),
          "doc_id", "text", n = 3, minJaccard = 0.5)
        .orderBy(col("id1"), col("id2"))
    }),

    // Multimodal — opaque binary payload + metadata ops that stay in
    // Multimodal — REAL image decode under the hash gate: plant the
    // deterministic ImageFixture raster as an actual PPM file and an
    // actual BMP file, ingest through binaryFile, decode through the
    // mapPartitions codec path, and emit the pixel statistics. The
    // oracle is a LITERAL table interpolated from the same fixture
    // (dimensions, channel means, encoded byte lengths) — green iff
    // both container formats decode to the identical raster (the BMP
    // path must undo BGR order, bottom-up rows, and 4-byte padding to
    // agree with the PPM path).
    "q87_image_decode" -> ((s, dir) => {
      val base = scratchPath("img_fix", dir)
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.write(p.resolve("a.ppm"), ImageFixture.ppm)
      java.nio.file.Files.write(p.resolve("b.bmp"), ImageFixture.bmp)
      val assets = Multimodal.readBinaryDir(s, base, glob = "*.{ppm,bmp}")
        .select(
          when(col("file_name") === "a.ppm", 1L).otherwise(2L)
            .as("asset_id"),
          col("payload"),
          struct(lit("image").as("kind"), col("n_bytes")).as("meta"))
      Multimodal.decodeFeatures(s, assets)
        .select(col("format"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"), col("n_bytes"))
        .orderBy(col("format"))
    }),

    // codegen'd built-ins: byte length, content hash, head-slice. The
    // mapPartitions decode path is MultimodalSpec territory (real codec
    // for PPM/BMP, byte-level fallback otherwise).
    "q27_multimodal_bytes" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text").cast("binary")).as("n_bytes"),
          sha2(col("text").cast("binary"), 256).as("sha"),
          lower(hex(substring(col("text").cast("binary"), 1, 16))).as("head16"))
        .orderBy(col("doc_id"))
    }),

    // X1 — MinHash LSH near-dup (banded, verified). Oracle = the EXACT
    // jaccard pair set (q26's SQL): every emitted pair is exact-verified
    // (precision 1 by construction), and banded-LSH recall on this
    // corpus is exactly 1 — measured pair-for-pair (membership AND
    // values) at sf0.01 AND sf0.1, deterministic because xxhash64 seeds
    // are fixed. Two data-dependent divergence channels exist on OTHER
    // corpora, both covered by the measured equality here: (a) banded
    // recall < 1 for borderline j≈0.5 pairs (the probabilistic trade
    // DedupSpec's invariants cover), and (b) this query's verification
    // jaccard uses FULL shingle sets while the q26 oracle df-caps
    // shared shingles at 100 — values differ once a shared shingle's
    // doc-frequency exceeds the cap. If the corpus generator changes,
    // revert q28 to rows-only rather than touching the operator.
    "q28_minhash_neardup" -> ((s, dir) => {
      Dedup.minhashNearDups(Tables(s, dir, "documents"), "doc_id", "text",
          minJaccard = 0.5)
        .orderBy(col("id1"), col("id2"))
    }),

    // (the 64-bit SimHash q29 was demoted to an unregistered narrow
    // baseline in round 7, NOTES_r7.md: its 16-bit bands admit ~n²/2¹⁶
    // accidental candidates — measured 3.1× the wide path's at n=500 —
    // so the registered SimHash operator of record is q47's 128-bit
    // scheme. Dedup.simhashNearDups stays for the specs.)

    // X1 — embedding-cosine near-dup, blocked by label (block-join, not
    // cartesian): the single most-similar pair per label block.
    "q30_embed_neardup" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      // unit-normalize per vector BEFORE the pair join: cosine over n²
      // pairs then costs one dot each instead of dot + two norms. Norm
      // materialized into its own projection (HOF-duplication trap).
      val unit = graft.engine.Caching.cached(
        e.select(col("label"), col("vec_id"),
          VectorFns.toDouble(col("embedding")).as("vd"))
        .withColumn("_n", VectorFns.norm(col("vd")))
        .select(col("label"), col("vec_id"),
          VectorFns.unitNormalizeWith(col("vd"), col("_n")).as("v")))
      val a = unit.select(col("label"), col("vec_id").as("id1"),
        col("v").as("v1"))
      val b = unit.select(col("label"), col("vec_id").as("id2"),
        col("v").as("v2"))
      val pairs = a.join(b, Seq("label"))
        .filter(col("id1") < col("id2"))
        .select(col("label"), col("id1"), col("id2"),
          round(VectorFns.dot(col("v1"), col("v2")), 4).as("sim"))
      val w = Window.partitionBy("label")
        .orderBy(col("sim").desc, col("id1"), col("id2"))
      pairs.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("label"), col("id1"), col("id2"), col("sim"))
        .orderBy(col("label"))
    }),

    // X2 — IVF ANN with LEARNED centroids: seeded k-means trains the
    // inverted-file cells, the trained centroid table is MATERIALIZED
    // to scratch parquet, and the probe runs from the materialized
    // copy. Recall < 1 vs brute force BY DESIGN; the fit itself is not
    // SQL-expressible, but the probe GIVEN the materialized centroids
    // is fully deterministic (L2 argmin assignment, nProbe ranking
    // with id tiebreaks, round-4 cosine top-k) — so the oracle reads
    // the same centroid parquet (Verify substitutes {SCRATCH}/{SFHASH})
    // and replicates the probe pipeline bit-for-bit. Recall invariants
    // in SimilaritySpec; the recall ledger row is q75.
    "q31_ann_ivf" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      val base = e.filter(col("vec_id") =!= 0)
      Similarity.learnedCentroids(base, "embedding", k = 16)
        .coalesce(1).write.mode("overwrite")
        .parquet(scratchPath("ivf_cents", dir))
      // probe from the MATERIALIZED copy: Spark and the DuckDB oracle
      // read the identical parquet doubles. Cosine assign/probe — the
      // metric match for the spherical fit (see learnedCentroids).
      val cents = s.read.parquet(scratchPath("ivf_cents", dir))
      Similarity.ivfTopKCosine(base, cents, qv,
        "vec_id", "embedding", k = 10, nProbe = 3)
    }),

    // S8 + S1-flatten — semi-structured JSON read: parse events.props
    // into a map (the reference's dynamic detail dict,
    // `aracaju_barra_pirambu_scraper.py:181-189`), promote the 'k'
    // detail key to a typed column, aggregate by decoded bucket. Exact
    // integer-cent sums — no float drift.
    "q33_json_props" -> ((s, dir) => {
      Tables(s, dir, "events")
        .withColumn("details", from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)))
        .withColumn("k", element_at(col("details"), "k").cast("int"))
        .groupBy(expr("k div 10").as("k_bucket"))
        .agg(count(lit(1)).as("n"),
          sum((dec(col("value")) * 100).cast("long")).as("total_cents"))
        .orderBy(col("k_bucket"))
    }),

    // P9 + F5 — date-range bounds constructed from a year literal (the
    // reference's f"0101{ano}"/f"3112{ano}" pattern,
    // `teste_selenium.ipynb` cell 7) pushed down to the scan.
    "q34_date_range" -> ((s, dir) => {
      val y = 1996
      Tables(s, dir, "orders")
        .filter(col("o_orderdate") >=
            make_date(lit(y), lit(1), lit(1)).cast("timestamp") &&
          col("o_orderdate") <=
            make_date(lit(y), lit(12), lit(31)).cast("timestamp"))
        .groupBy(month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("mo"))
    }),

    // §2.10 — custom typed Aggregator: exact top-3 customers per nation
    // via a bounded k-buffer (no per-group sort; partial agg ships ≤k
    // rows per group per map task). Oracle: row_number window.
    "q35_topk_per_group" -> ((s, dir) => {
      import s.implicits._
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val totals = o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_nationkey"), col("o_custkey"))
        .agg(sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .select(col("c_nationkey").cast("long"), col("o_custkey").cast("long"),
          col("total"))
        .as[(Long, Long, Double)]
      totals.groupByKey(_._1)
        .mapValues(t => (t._2, t._3))
        .agg(Dedup0.topK3.toColumn)
        .flatMap { case (nk, tops) =>
          tops.zipWithIndex.map { case ((ck, total), i) =>
            (nk, (i + 1).toLong, ck, total) }
        }
        .toDF("c_nationkey", "rank", "o_custkey", "total")
        .orderBy(col("c_nationkey"), col("rank"))
    }),

    // As-of join (backward): each purchase event picks up the most
    // recent prior 'view' by the same user — composed via union +
    // ignore-nulls window (no range-join explosion). Oracle: DuckDB's
    // native ASOF LEFT JOIN.
    "q36_asof_join" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsOfJoin.backward(purchases, views, "user_id",
          "ts", "ts", Map("value" -> "view_value", "ts" -> "view_ts"))
        .orderBy(col("event_id"))
    }),

    // Forward as-of: each purchase matched to the EARLIEST view
    // at-or-after it — same single-window plan as q36 on a reversed
    // time axis. Oracle: DuckDB ASOF with <=.
    "q52_asof_forward" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsOfJoin.forward(purchases, views, "user_id",
          "ts", "ts", Map("value" -> "view_value", "ts" -> "view_ts"))
        .orderBy(col("event_id"))
    }),

    // Interval-overlap join (temporal workhorse): lineitem
    // ship→receipt intervals × 1997 month windows, via the bucketed
    // equi-join with dedup-free pair emission (never BNLJ, no distinct
    // shuffle). Dates as epoch-day doubles; exact integer-cent sums.
    "q53_interval_overlap" -> ((s, dir) => {
      val epoch = to_date(lit("1970-01-01"))
      // no receipt date in the synthetic schema — derive a
      // deterministic one (ship + 1..30 days keyed on line number),
      // mirrored exactly in the oracle
      val li = Tables(s, dir, "lineitem")
        .select(col("l_quantity"),
          datediff(col("l_shipdate"), epoch).cast("double").as("ship_d"),
          (datediff(col("l_shipdate"), epoch) +
            lit(1) + col("l_linenumber") % 30).cast("double").as("rcpt_d"))
      val months = s.range(12).select(
        (col("id") + 1).cast("int").as("mo"),
        datediff(make_date(lit(1997), (col("id") + 1).cast("int"), lit(1)),
          epoch).cast("double").as("mo_lo"),
        datediff(add_months(
            make_date(lit(1997), (col("id") + 1).cast("int"), lit(1)), 1),
          epoch).cast("double").as("mo_hi"))
      graft.operators.RangeJoin.intervalOverlapJoin(
          li, months, "ship_d", "rcpt_d", "mo_lo", "mo_hi", width = 32.0)
        .groupBy(col("mo"))
        .agg(count(lit(1)).as("n"),
          sum((dec(col("l_quantity")) * 100).cast("long")).as("qty_cents"))
        .orderBy(col("mo"))
    }),

    // Range join: events bucketed into fixed value bands via the
    // bucketed equi-join form (never BroadcastNestedLoop at scale).
    // Exact integer-cent sums; oracle is the plain theta-join.
    "q37_range_join" -> ((s, dir) => {
      val bands = s.range(0, 10).select(
        (col("id") * 50).cast("double").as("lo"),
        ((col("id") + 1) * 50).cast("double").as("hi"),
        concat(lit("band"), col("id")).as("band"))
      graft.operators.RangeJoin.bucketedRangeJoin(
          Tables(s, dir, "events"), bands, "value", "lo", "hi", width = 50.0)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          sum((dec(col("value")) * 100).cast("long")).as("total_cents"))
        .orderBy(col("band"))
    }),

    // A7 — exact percentiles (linear interpolation): Spark `percentile`
    // and DuckDB `quantile_cont` share the a+(b−a)·f formula, so the
    // doubles agree bit-for-bit before the guard rounding.
    "q38_percentiles" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"))
        .orderBy(col("event_type"))
    }),

    // X1 — the dedup DECISION: connected components over the verified
    // Jaccard near-dup pair graph (iterative min-label propagation);
    // each doc maps to its component representative. Oracle: recursive
    // CTE transitive closure in DuckDB.
    "q39_dedup_components" -> ((s, dir) => {
      val pairs = TextAnalysis.jaccardPairs(Tables(s, dir, "documents"),
        "doc_id", "text", n = 3, minJaccard = 0.5)
      Dedup.connectedComponents(pairs).orderBy(col("node"))
    }),

    // X2 — LSH-bucketed ANN (the ml-native scale path next to q31's
    // IVF): seeded random-projection buckets, approxNearestNeighbors
    // probe. Engine-specific hashing → rows-only check; recall
    // invariants in SimilaritySpec.
    "q41_ann_lsh" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("q"))
        .collect()(0).getSeq[Double](0).toArray
      val out = graft.engine.Caching.cached(
        Similarity.brpLshTopK(e.filter(col("vec_id") =!= 0),
          "vec_id", "embedding",
          org.apache.spark.ml.linalg.Vectors.dense(q), k = 10))
      // driver-enforced invariants (r10 verdict item 1): a full,
      // well-formed neighbor list — exactly k rows, ids distinct,
      // query id excluded, distances non-negative and non-decreasing
      val rows = out.orderBy(col("dist"), col("vec_id")).collect()
      require(rows.length == 10,
        s"q41: expected 10 neighbors, got ${rows.length}")
      val ids = rows.map(_.getLong(0))
      require(ids.distinct.length == ids.length && !ids.contains(0L),
        "q41: neighbor ids must be distinct and exclude the query id")
      require(rows.forall(_.getDouble(1) >= 0.0),
        "q41: negative LSH distance")
      GateChecks.requirePinned("q41_ann_lsh", dir, out)
    }),

    // A5 — the reference's latent RandomForestClassifier, executed:
    // quality-gate confusion matrix of the seeded forest (deterministic
    // → stable rows-only check; invariants in QualityModelSpec).
    "q40_quality_model" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      // cached: the featurized frame feeds the forest fit AND scoring
      val data = graft.engine.Caching.cached(
        graft.operators.QualityModel.featurize(docs))
      val out = graft.engine.Caching.cached(
        graft.operators.QualityModel.trainOn(data).transform(data)
          .groupBy(col("label"), col("prediction"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("label"), col("prediction")))
      // driver-enforced invariants (r10 verdict item 1): the confusion
      // matrix must account for every featurized row, and the seeded
      // forest must recover its own deterministic training label (the
      // label is a function of the features — near-perfect training
      // accuracy is the design; 0.9 is a loud floor, not a target)
      val cm = out.collect()
      val total = cm.map(_.getLong(2)).sum
      require(total == data.count(),
        s"q40: confusion matrix covers $total rows, expected all")
      val correct = cm.filter(r => r.getDouble(0) == r.getDouble(1))
        .map(_.getLong(2)).sum
      require(correct * 10 >= total * 9,
        s"q40: training accuracy ${correct.toDouble / total} below 0.9")
      GateChecks.requirePinned("q40_quality_model", dir, out)
    }),

    // A5 — classification_report parity (the reference's last latent
    // sklearn import) UNDER THE HASH GATE: the seeded forest's scored
    // frame is materialized to scratch parquet (the q31 mechanism), and
    // both engines derive the per-class confusion counts and
    // precision/recall/F1 from the SAME predictions — the fit itself
    // stays rows-only (q40), but the report arithmetic is exact
    // integer counts + spelled-out rounding, so it hashes.
    "q91_classification_report" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val data = graft.engine.Caching.cached(
        graft.operators.QualityModel.featurize(docs))
      graft.operators.QualityModel.trainOn(data).transform(data)
        .select(col("doc_id"), col("label").cast("long").as("label"),
          col("prediction").cast("long").as("prediction"))
        .write.mode("overwrite").parquet(scratchPath("clf_scored", dir))
      graft.operators.QualityModel.classificationReport(
          s.read.parquet(scratchPath("clf_scored", dir)),
          "label", "prediction")
        .orderBy(col("cls"))
    }),

    // A3 — K-Means (k=3, seed=42), the reference's clustering step
    // (`data_science.ipynb` cell 4: StandardScaler over THREE financial
    // features, then KMeans(3, random_state=42)). Feature parity: three
    // z-scored per-customer financial columns (balance, total spend,
    // order count — the star schema's financial triple). ML fit → no
    // oracle; determinism/inertia invariants in KMeansSpec.
    "q32_kmeans" -> ((s, dir) => {
      // cached: the join+stats featurization otherwise re-runs for the
      // iterative fit AND the transform/aggregate pass
      val assembled = graft.engine.Caching.cached(
        new org.apache.spark.ml.feature.VectorAssembler()
          .setInputCols(Array("z_bal", "z_spend", "z_orders"))
          .setOutputCol("features")
          .transform(kmeansFeatures(s, dir)))
      val model = new org.apache.spark.ml.clustering.KMeans()
        .setK(3).setSeed(42).setFeaturesCol("features")
        .fit(assembled)
      val out = graft.engine.Caching.cached(
        model.transform(assembled)
          .groupBy(col("prediction"))
          .agg(count(lit(1)).as("n"),
            round(avg(col("z_bal")), 4).as("mean_z_bal"),
            round(avg(col("z_spend")), 4).as("mean_z_spend"),
            round(avg(col("z_orders")), 4).as("mean_z_orders"))
          .orderBy(col("mean_z_spend"), col("mean_z_bal")))
      // driver-enforced invariants (r10 verdict item 1): exactly k=3
      // NON-EMPTY clusters (groupBy emits only populated groups, so 3
      // rows ⇔ 3 non-empty cells) — a collapsed or degenerate seeded
      // fit turns this row err-red in the driver record
      require(out.count() == 3,
        "q32: seeded k=3 fit did not produce 3 non-empty clusters")
      GateChecks.requirePinned("q32_kmeans", dir, out)
    }),

    // A5 completion — the reference's LAST latent ML import
    // (IsolationForest, data_science.ipynb cell 2), executed for real:
    // seeded driver-side fit on a hash-ordered subsample (the paper's
    // own tiny-model design), scoring as a pure codegen'd when-tree
    // expression over the q32 customer features — top-25 most
    // anomalous customers. Seeded randomized fit → rows-only; planted-
    // outlier/determinism/score-range invariants in
    // IsolationForestSpec.
    "q88_isolation_forest" -> ((s, dir) => {
      // cached: consumed by the fit's subsample collect AND scoring
      val feat = graft.engine.Caching.cached(kmeansFeatures(s, dir))
      val cols = Seq("z_bal", "z_spend", "z_orders")
      val forest = IsolationForest.fit(feat, "c_custkey", cols)
      val out = graft.engine.Caching.cached(feat
        .withColumn("iso_score",
          round(IsolationForest.scoreColumn(forest, cols.map(col)), 4))
        .orderBy(col("iso_score").desc, col("c_custkey"))
        .select(col("c_custkey"), col("iso_score"))
        .limit(25))
      // driver-enforced invariants (r10 verdict item 1): a full top-25
      // with scores in the paper's (0, 1) range (s = 2^(−E[h]/c(ψ)) is
      // strictly inside) and anomalies genuinely above the corpus
      // midpoint — a broken seeded fit that flattens scores goes red
      val rows = out.collect()
      require(rows.length == 25, s"q88: expected 25 rows, got ${rows.length}")
      val scores = rows.map(_.getDouble(1))
      require(scores.forall(x => x > 0.0 && x < 1.0),
        "q88: isolation score outside (0, 1)")
      require(scores.max > 0.5,
        "q88: no customer scored above 0.5 — anomaly signal collapsed")
      GateChecks.requirePinned("q88_isolation_forest", dir, out)
    }),

    // X3 — TF-IDF over document tokens (SURVEY.md:175), pure SQL form so
    // the oracle can replicate exactly: tf = term count / doc length,
    // df via a |terms|-sized aggregate of the per-doc term counts, idf =
    // ln(N/df). Two shuffles total (doc-term aggregate, term df join) —
    // both key-partitioned, map-side combined; no all-pairs anything.
    "q42_tfidf" -> ((s, dir) => {
      TextAnalysis.tfidf(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("term"))
    }),

    // X4 — sliding event-time windows (10-minute window, 5-minute slide):
    // each event lands in exactly 2 overlapping windows. Spark plans
    // window() as a 2-row expand + one hash-aggregate — linear, no join.
    // Exact integer-cent sums (no float drift).
    "q43_sliding_windows" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((dec(col("value")) * 100).cast("long")).as("total_cents"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("n"), col("total_cents"))
        .orderBy(col("ws"), col("event_type"))
    }),

    // A4 complete — the full pairwise Pearson matrix (+ its transpose,
    // covered by emitting every ORDERED pair) of `data_science.ipynb`
    // cells 6-7. NOT unpivot-join-regroup: all 16 corr aggregates run in
    // ONE pass over the scan (single hash-aggregate, no extra shuffle);
    // the long-form reshape is a stack() over the 1-row result — free.
    "q44_corr_matrix" -> ((s, dir) => {
      val cols44 = corrMatrixCols
      val pairs = for (a <- cols44; b <- cols44) yield (a, b)
      val aggs = pairs.map { case (a, b) =>
        round(corr(col(a), col(b)), 6).as(s"${a}__${b}") }
      val stackArgs = pairs
        .map { case (a, b) => s"'$a', '$b', ${a}__${b}" }.mkString(", ")
      Tables(s, dir, "lineitem")
        .agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${pairs.size}, $stackArgs) AS (var1, var2, r)")
        .orderBy(col("var1"), col("var2"))
    }),

    // X3 — sentiment-lexicon score (the PAPERS.md lexicon approach,
    // SURVEY.md:175): positive/negative word counts with multiplicity,
    // normalized by document length, thresholded to a label. Stateless
    // codegen'd HOF maps — no shuffle beyond the output sort. Lexicons
    // drawn from words actually present in the corpus (fast/big vs
    // slow/small) so the score genuinely varies.
    "q46_sentiment" -> ((s, dir) => {
      val posSet = array(sentimentPos.map(lit): _*)
      val negSet = array(sentimentNeg.map(lit): _*)
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).as("n_toks"),
          size(filter(col("toks"), t => array_position(posSet, t) > 0))
            .as("n_pos"),
          size(filter(col("toks"), t => array_position(negSet, t) > 0))
            .as("n_neg"))
        .select(col("doc_id"), col("n_pos"), col("n_neg"),
          round((col("n_pos") - col("n_neg")).cast("double") / col("n_toks"),
            4).as("score"))
        .withColumn("sentiment",
          when(col("score") > 0, lit("pos"))
            .when(col("score") < 0, lit("neg"))
            .otherwise(lit("neutral")))
        .orderBy(col("doc_id"))
    }),

    // X1 — 128-bit SimHash near-dup, the scale path (4×32-bit bands;
    // measured 3.1× fewer accidental candidates than the 64-bit scheme
    // at sf0.01 — see PLANS.md). Engine-specific hashes → rows-only
    // gate check; semantics covered by DedupSpec.
    "q47_simhash_wide" -> ((s, dir) => {
      val out = graft.engine.Caching.cached(
        Dedup.simhashNearDupsWide(Tables(s, dir, "documents"), "doc_id",
            "text", maxDist = 3)
          .orderBy(col("id1"), col("id2")))
      // driver-enforced invariants (r10 verdict item 1): canonical pair
      // orientation; the hash family is deterministic (no seed), so the
      // pinned digest additionally freezes the exact pair set per sf
      require(out.filter(col("id1") >= col("id2")).isEmpty,
        "q47: pair not in canonical id1 < id2 orientation")
      GateChecks.requirePinned("q47_simhash_wide", dir, out)
    }),

    // X1 — embedding near-dup with LSH-bucket blocking (no label
    // dependence — the q30 scale path when a block bloats). The corpus
    // embeddings are near-random (max pairwise cosine ≈ 0.51), so the
    // threshold is low to keep the check non-vacuous; candidates are
    // exact-verified, so every emitted pair genuinely clears minSim.
    // Seeded planes → rows-only but reproducible.
    "q48_embed_lsh_neardup" -> ((s, dir) => {
      val out = graft.engine.Caching.cached(
        Dedup.embedNearDupsLSH(Tables(s, dir, "embeddings"), "vec_id",
            "embedding", dim = 64, minSim = 0.3, nPlanes = 8, nTables = 8)
          .orderBy(col("id1"), col("id2")))
      // driver-enforced invariants (r10 verdict item 1): canonical
      // orientation + every emitted pair genuinely clears minSim (the
      // operator exact-verifies candidates — this re-checks the output
      // surface); the seeded planes make the digest pinnable per sf
      require(out.filter(col("id1") >= col("id2")).isEmpty,
        "q48: pair not in canonical id1 < id2 orientation")
      require(out.filter(col("sim") < 0.3).isEmpty,
        "q48: emitted pair below the minSim threshold")
      GateChecks.requirePinned("q48_embed_lsh_neardup", dir, out)
    }),

    // X3 — ml-native TF-IDF vectors (HashingTF → IDF). Hash buckets are
    // engine-specific → rows-only; output projected to scalar summaries
    // (nnz, l2 norm) so the gate parquet stays plain-typed. Vector
    // semantics are spec-tested (ubiquitous-term idf = 0, planted
    // tf ordering).
    "q49_tfidf_vectors" -> ((s, dir) => {
      import org.apache.spark.ml.functions.vector_to_array
      val docs = Tables(s, dir, "documents")
      val out = graft.engine.Caching.cached(
        TextAnalysis.tfidfVectors(docs, "doc_id", "text")
          .select(col("doc_id"), vector_to_array(col("tfidf")).as("va"))
          .select(col("doc_id"),
            size(filter(col("va"), x => x =!= 0.0)).as("nnz"),
            round(sqrt(aggregate(col("va"), lit(0.0),
              (acc, x) => acc + x * x)), 4).as("l2"))
          .orderBy(col("doc_id")))
      // driver-enforced invariants (r10 verdict item 1): one vector per
      // document, none degenerate (every synthetic doc has tokens, so a
      // zero vector means the hashing/idf path broke); the murmur3
      // hashing is seed-fixed, so the digest pins the exact summaries
      require(out.count() == docs.count(),
        "q49: vector count != document count")
      require(out.filter(col("nnz") <= 0 || col("l2") <= 0.0).isEmpty,
        "q49: degenerate all-zero tf-idf vector")
      GateChecks.requirePinned("q49_tfidf_vectors", dir, out)
    }),

    // LLM-pipeline — sequence packing: bin documents into fixed
    // token-budget training sequences (4096 tokens) via a cumulative
    // sum PER SOURCE SHARD, not a global window (a global ORDER BY
    // window is a single-partition scale-killer; per-shard windows
    // parallelize across the natural write layout). bin = tokens
    // accumulated BEFORE the doc, div budget — the standard greedy
    // chunking, deterministic on (source, doc_id) order.
    "q50_sequence_packing" -> ((s, dir) => {
      val budget = 4096
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).as("n_toks"))
        .withColumn("cum", sum(col("n_toks")).over(w))
        .withColumn("bin", ((col("cum") - col("n_toks")) / budget)
          .cast("long"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tokens"))
        .orderBy(col("source"), col("bin"))
    }),

    // LLM-pipeline — deterministic train/val/test split: assignment is
    // a pure function of the doc id (mod buckets), so it is stable
    // across runs, engines, and re-partitionings — the property an
    // eval carve-out must have. Stateless map + one |splits|-row
    // aggregate.
    "q51_split_assign" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("split",
          when(col("doc_id") % 100 < 80, lit("train"))
            .when(col("doc_id") % 100 < 90, lit("val"))
            .otherwise(lit("test")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextAnalysis.tokens(col("text")))).as("tokens"))
        .orderBy(col("split"))
    }),

    // A7 — CUBE over (year, status): all four grouping sets in one
    // pass (Spark plans cube as a 4-way Expand + single hash-aggregate,
    // not four scans). Exact integer-cent sums.
    "q54_cube" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .select(year(col("o_orderdate")).as("yr"),
          col("o_orderstatus").as("st"),
          (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
        .cube(col("yr"), col("st"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
        .orderBy(col("yr"), col("st"))
    }),

    // X1 — edit-distance near-dup via the df-capped fingerprint-prefix
    // block (Dedup.editNearDups): pairs form only inside size-capped
    // blocks — never all-pairs, and no unbounded skew key (raw
    // first-token blocking goes quadratic on the "the …" block of any
    // real corpus; the cap bounds per-block work at maxBlock²/2). Fully
    // oracle-checkable: md5 + levenshtein are engine-portable, and the
    // oracle replicates block key and cap exactly.
    "q55_edit_neardup" -> ((s, dir) => {
      Dedup.editNearDups(Tables(s, dir, "documents"), "doc_id", "text",
          headLen = 40, maxDist = 5)
        .orderBy(col("id1"), col("id2"))
    }),

    // X1 end-to-end — APPLY the dedup decision: near-dup pairs →
    // connected components → drop-list → anti-join, yielding the clean
    // corpus summary. The full pipeline a training-data run executes,
    // exercised as one query (components via the same pointer-jumping
    // operator as q39).
    "q56_dedup_apply" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = TextAnalysis.jaccardPairs(docs, "doc_id", "text",
        n = 3, minJaccard = 0.5)
      val drops = Dedup.nearDupDropList(pairs)
      docs.join(drops, docs("doc_id") === drops("drop_id"), "left_anti")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextAnalysis.tokens(col("text")))).as("tokens"))
    }),

    // LLM-pipeline — test-set decontamination: flag corpus docs sharing
    // any 8-token span with the held-out benchmark slice (doc_id % 23).
    // Corpus-shingle explode → equi-join against the broadcast-able
    // distinct benchmark shingle set → per-doc hit count; never
    // all-pairs. 8-grams on purpose: decontamination wants exact long
    // spans, not topical similarity.
    "q57_decontaminate" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      graft.operators.Decontaminate.overlapHits(
          d.filter(col("doc_id") % 23 =!= 0),
          d.filter(col("doc_id") % 23 === 0),
          "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    }),

    // X3 — Gopher-style repetition signals: duplicate-2-gram fraction
    // (per-row expression, zero shuffle) + top-token frequency share
    // (explode → (doc,term) count → per-doc max — the shape that stays
    // bounded on million-token documents).
    "q58_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionStats(Tables(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // X3 — Gopher-style quality gate: token count, mean token length
    // (chars-minus-separators over tokens — exact for the single-space
    // corpus), stopword fraction, composed into a keep decision. All
    // stateless codegen'd maps over the scan.
    "q59_quality_gate" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), toks.as("toks"), length(col("text")).as("nc"))
        .select(col("doc_id"), size(col("toks")).as("n_toks"),
          round((col("nc") - (size(col("toks")) - 1)).cast("double") /
            size(col("toks")).cast("double"), 4).as("mean_tok_len"),
          round(TextAnalysis.wordSetRatio(col("toks"), Seq("a", "the")), 4)
            .as("stop_frac"))
        .withColumn("keep",
          col("n_toks").between(30, 80) &&
            col("mean_tok_len").between(3.0, 10.0) &&
            col("stop_frac") <= 0.08)
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline — deterministic md5-hash sampling, stratified by
    // source: the keep decision is a pure function of the doc id (md5
    // hex < "1a" ≈ 10.16%), so the sample is stable across runs,
    // engines, and partitionings — and md5 makes it oracle-exact,
    // unlike murmur/xxhash. One map-side-combined aggregate.
    "q60_hash_sample" -> ((s, dir) => {
      graft.operators.Sampling.stratifiedCounts(
          Tables(s, dir, "documents"), "doc_id", "source", "1a")
        .orderBy(col("source"))
    }),

    // LLM-pipeline — domain-mixing weights: per-source token mass ×
    // sampling weight, normalized to each domain's fraction of the
    // training mixture. Corpus aggregates to |domains| rows first; the
    // grand total joins back via a broadcast 1-row frame (no global
    // window over unaggregated data).
    "q61_domain_mix" -> ((s, dir) => {
      graft.operators.Sampling.domainMix(
          Tables(s, dir, "documents"), "source",
          size(TextAnalysis.tokens(col("text"))).cast("long"),
          when(col("source").isin("src0", "src1", "src2"), lit(3.0))
            .otherwise(lit(1.0)))
        .orderBy(col("source"))
    }),

    // LLM-pipeline — PII redaction: email then digit-run scrub with
    // typed placeholders, plus match accounting. The corpus is synthetic
    // (no real PII), so the PII-bearing column is derived
    // deterministically from doc_id — the redaction pipeline itself is
    // the operator under test. Stateless codegen'd regex maps.
    "q62_pii_redact" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("contact",
          concat(lit("user"), col("doc_id").cast("string"),
            lit("@mail.com call 555-"), col("doc_id").cast("string")))
        .select(col("doc_id"),
          TextAnalysis.redactPII(col("contact")).as("redacted"),
          regexp_count(col("contact"), lit(TextAnalysis.emailRegex))
            .cast("long").as("n_emails"),
          regexp_count(
            regexp_replace(col("contact"), TextAnalysis.emailRegex,
              "<EMAIL>"),
            lit(TextAnalysis.numberRegex)).cast("long").as("n_nums"))
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline — overlapping token chunking (50-token windows,
    // stride 40): guarded-sequence explode, a pure per-row expression —
    // no shuffle, output stays partitioned like the input.
    "q63_chunking" -> ((s, dir) => {
      TextAnalysis.chunkSpans(Tables(s, dir, "documents"),
          "doc_id", "text", chunkSize = 50, stride = 40)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // A7 scale path — sketch aggregates: HyperLogLog++ distinct counts
    // and KLL-style approximate percentiles. THE 100 TB form of q21/q38:
    // fixed-size mergeable state, one map-side-combined pass, no exact
    // distinct shuffle. Sketch internals are engine-specific → rows-only
    // gate check; accuracy-vs-exact invariants in ApproxAggSpec.
    "q64_approx_stats" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val out = graft.engine.Caching.cached(e
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          round(expr("approx_percentile(value, 0.5, 10000)"), 4).as("ap50"),
          round(expr("approx_percentile(value, 0.99, 10000)"), 4).as("ap99"))
        .orderBy(col("event_type")))
      // driver-enforced invariants (r10 verdict item 1): every sketch
      // checked against the EXACT statistic computed in the same
      // builder. HLL++ at default rsd 0.05 must land within 15% (3σ) of
      // the exact distinct; the KLL-style percentiles carry a rank
      // guarantee (error ≤ n/accuracy), so the approx value must fall
      // between the exact ±1%-rank order statistics — a rank-based
      // band, robust to value-scale differences across event types.
      val exact = e.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("ed"),
          expr("percentile(value, array(0.49, 0.51, 0.985, 0.995))")
            .as("ps"))
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getSeq[Double](2)))
        .toMap
      out.collect().foreach { r =>
        val (ed, ps) = exact(r.getString(0))
        val (au, ap50, ap99) =
          (r.getLong(1), r.getDouble(2), r.getDouble(3))
        require(math.abs(au - ed) <= 0.15 * ed,
          s"q64/${r.getString(0)}: approx distinct $au vs exact $ed " +
            "outside 15%")
        require(ap50 >= ps(0) - 1e-4 && ap50 <= ps(1) + 1e-4,
          s"q64/${r.getString(0)}: ap50 $ap50 outside exact " +
            s"[p49, p51] = [${ps(0)}, ${ps(1)}]")
        require(ap99 >= ps(2) - 1e-4 && ap99 <= ps(3) + 1e-4,
          s"q64/${r.getString(0)}: ap99 $ap99 outside exact " +
            s"[p98.5, p99.5] = [${ps(2)}, ${ps(3)}]")
      }
      out
    }),

    // X1 — INCREMENTAL exact dedup: dedup a new ingest batch (sources
    // src10+) against an already-ingested corpus (src0–src9) without
    // re-grouping the corpus — the steady-state shape of a production
    // ingest: signatures of the batch only, anti-joined against the
    // corpus signature store (at scale: a bucketed signature table, so
    // the anti-join is co-located and the corpus is never re-read in
    // full). In-batch duplicates collapse to min-id, then survivors
    // must be absent from the corpus.
    "q65_incremental_dedup" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .withColumn("srcn",
          regexp_extract(col("source"), "([0-9]+)", 1).cast("int"))
      val corpusSigs = d.filter(col("srcn") < 10)
        .select(md5(Dedup.tokenSetSignature(col("text"))).as("sig"))
        .distinct()
      d.filter(col("srcn") >= 10)
        .withColumn("sig", md5(Dedup.tokenSetSignature(col("text"))))
        .groupBy(col("sig"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_batch_dups"))
        .join(corpusSigs, Seq("sig"), "left_anti")
        .select(col("keep_id"), col("n_batch_dups"))
        .orderBy(col("keep_id"))
    }),

    // A-family — percentile winsorization (outlier clipping before
    // training-statistics): per-type p01/p99 bounds from one aggregate,
    // broadcast back, values clipped in cents (exact integer sums — no
    // float-order drift). Two passes over events, zero windows.
    "q66_winsorize" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .withColumn("cents", (dec(col("value")) * 100).cast("long"))
      val bounds = e.groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.01)") * 100).cast("long")
            .as("lo_c"),
          round(expr("percentile(value, 0.99)") * 100).cast("long")
            .as("hi_c"))
      e.join(broadcast(bounds), "event_type")
        .withColumn("clipped",
          least(greatest(col("cents"), col("lo_c")), col("hi_c")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("lo_c")).as("lo_c"), min(col("hi_c")).as("hi_c"),
          sum(col("clipped")).as("sum_clipped_cents"),
          sum(when(col("cents") =!= col("clipped"), 1L).otherwise(0L))
            .as("n_clipped"))
        .orderBy(col("event_type"))
    }),

    // X3 — bigram LM scoring (perplexity-filtering family): mean
    // add-1-smoothed log-probability of each doc under corpus bigram
    // statistics. Low scores = text unlike the corpus.
    "q67_lm_score" -> ((s, dir) => {
      TextAnalysis.bigramLmScores(Tables(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // K-family — engine-native parquet sink with layout control:
    // write partitioned by year (sorted by month inside each file,
    // file sizes capped), read back through directory pruning, and
    // aggregate. Green iff the layout loop is lossless; the pruning
    // itself is asserted in ParquetSinkSpec.
    "q68_parquet_roundtrip" -> ((s, dir) => {
      val base = scratchPath("pq_rt", dir)
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      graft.sources.ParquetSink.write(o, base, partitionBy = Seq("yr"),
        sortCols = Seq("mo"), maxRecordsPerFile = 100000)
      graft.sources.ParquetSink.read(s, base)
        .filter(col("yr") === 1997)
        .groupBy(col("mo"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
        .orderBy(col("mo"))
    }),

    // LLM-pipeline — exact-k deterministic reservoir per source (eval
    // carve-outs want exactly k per stratum, not a rate): md5-ranked
    // window inside each stratum, engine-portable and stable under
    // repartitioning and incremental growth.
    "q69_reservoir" -> ((s, dir) => {
      graft.operators.Sampling.reservoirPerStratum(
          Tables(s, dir, "documents"), "doc_id", "source", k = 5)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    }),

    // X1 — q65's incremental dedup with the bloom PRE-FILTER: corpus
    // signatures compress to a fixed-size bloom probed per batch row
    // (codegen'd BloomFilterMightContain, no UDF); only probable-dups
    // reach the exact anti-join. Result is identical to q65 BY
    // CONSTRUCTION (blooms have no false negatives; false positives
    // are resolved exactly) — so it shares q65's oracle. The count()
    // is a 1-row sizing scalar, not a data-path collect.
    "q71_incremental_bloom" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .withColumn("srcn",
          regexp_extract(col("source"), "([0-9]+)", 1).cast("int"))
      // cached: consumed three times (sizing count, bloom treeAggregate
      // build, exact anti-join) — uncached, the corpus-half signature
      // scan + distinct would run three times
      val corpusSigs = graft.engine.Caching.cached(
        d.filter(col("srcn") < 10)
          .select(md5(Dedup.tokenSetSignature(col("text"))).as("sig"))
          .distinct())
      Dedup.incrementalExactBloom(d.filter(col("srcn") >= 10), corpusSigs,
          "doc_id", "text", corpusSigCount = corpusSigs.count())
        .orderBy(col("keep_id"))
    }),

    // K — Z-order layout roundtrip: orders written clustered on the
    // Morton code of (month, price-bucket), read back and range-filtered
    // on BOTH keys — the layout ZOrderSpec proves skips files for
    // either predicate; this query gates that the clustered write loses
    // nothing. Exact integer-cent sums.
    "q72_zorder_roundtrip" -> ((s, dir) => {
      val base = scratchPath("zo_rt", dir)
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), month(col("o_orderdate")).as("mo"),
          (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      graft.operators.ZOrder.writeZOrdered(o, base,
        xBucket = col("mo"),
        yBucket = graft.operators.ZOrder.bucketize(
          col("cents").cast("double"), 0, 60000000.0, 8),
        bits = 8, nFiles = 16)
      s.read.parquet(base)
        .filter(col("mo").between(3, 5) &&
          col("cents").between(10000000L, 30000000L))
        .groupBy(col("mo"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
        .orderBy(col("mo"))
    }),

    // S8/K — JSONL roundtrip: write the corpus as partitioned
    // JSON-Lines, read back through an EXPLICIT schema (no inference
    // pass), and aggregate with a text-sensitive digest — green iff
    // JSON string escaping transports every document byte-exactly.
    "q70_jsonl_roundtrip" -> ((s, dir) => {
      val base = scratchPath("jl_rt", dir)
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      graft.sources.JsonLines.write(d, base, partitionBy = Seq("lang"))
      graft.sources.JsonLines.read(s, base,
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, n_chars BIGINT, text STRING"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"),
          min(md5(col("text"))).as("min_md5"))
        .orderBy(col("lang"))
    }),

    // P8 + P7 — dict decode (the reference's year-code map,
    // `teste_selenium.ipynb` cell 7) as a literal-map element_at, fed
    // through trimAll on deliberately padded input so the whitespace
    // strip is non-vacuous: if trim failed, the map lookup would return
    // NULL and the oracle would catch it.
    "q45_dict_decode" -> ((s, dir) => {
      val padded = Tables(s, dir, "orders")
        .withColumn("o_orderstatus",
          concat(lit("  "), col("o_orderstatus"), lit(" ")))
      padded
        .select(TextFns.trimAll(Seq("o_orderstatus")): _*)
        .withColumn("status_name", element_at(
          map(lit("O"), lit("open"), lit("F"), lit("finished"),
            lit("P"), lit("pending")),
          col("o_orderstatus")))
        .groupBy(col("status_name")).agg(count(lit(1)).as("n"))
        .orderBy(col("status_name"))
    }),

    // A4 completion — TRANSPOSED correlation (`data_science.ipynb` cell
    // 7: `df.T.corr()`, where the original ROWS become the correlation
    // axes — NOT the column-pair matrix of q44). Entities = return
    // flags, observations = their monthly quantity series: corr between
    // every ordered flag pair across the 12 months. Aggregate FIRST
    // (one shuffle down to |flags|×|months| rows); the entity×entity
    // quadratic runs on the tiny aggregated frame, never on base data.
    "q73_transposed_corr" -> ((s, dir) => {
      // cents → double: sums are exact integers (< 2⁵³), so both
      // engines feed corr identical inputs
      val m = graft.engine.Caching.cached(
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag").as("flag"),
            month(col("l_shipdate")).as("mo"))
          .agg(sum((dec(col("l_quantity")) * 100).cast("long"))
            .cast("double").as("v")))
      val a = m.select(col("flag").as("flag1"), col("mo"), col("v").as("v1"))
      val b = m.select(col("flag").as("flag2"), col("mo"), col("v").as("v2"))
      a.join(b, "mo")
        .groupBy(col("flag1"), col("flag2"))
        .agg(round(corr(col("v1"), col("v2")), 6).as("r"))
        .orderBy(col("flag1"), col("flag2"))
    }),

    // S5 parity — PERMISSIVE corrupt-record accounting under the gate
    // (the reference's warn-and-continue tolerant read,
    // `file_utils.py:36-42`): plant a `;`-CSV where every 5th row is
    // malformed (an extra field), read it through the permissive
    // reader, and account clean vs corrupt rows plus a clean-only sum.
    // The oracle recomputes the expected accounting from the same
    // deterministic generator — range() math, not a pasted answer.
    "q74_corrupt_csv" -> ((s, dir) => {
      import s.implicits._
      val base = scratchPath("bad_csv", dir)
      val n = 200
      val lines = "a;b;c" +: (0 until n).map { i =>
        if (i % 5 == 0) s"r$i;$i;x$i;EXTRA" else s"r$i;$i;x$i"
      }
      // one part file so the header line stays first
      s.createDataset(lines.toSeq).coalesce(1)
        .write.mode("overwrite").text(base)
      // cached: Spark only flags field-count mismatches when the FULL
      // row is parsed — under an aggregate, column pruning reaches the
      // univocity parser (selected indexes only) and malformed rows
      // pass silently. Materializing the un-pruned frame first is the
      // documented corrupt-record contract (verified empirically: the
      // uncached form reported 0 corrupt rows on this very fixture).
      graft.engine.Caching.cached(CsvIngest.read(s, base))
        .agg(count(lit(1)).as("n_rows"),
          count(col(CsvIngest.CorruptCol)).as("n_corrupt"),
          sum(when(col(CsvIngest.CorruptCol).isNull, col("b").cast("long")))
            .as("clean_b_sum"))
    }),

    // X2 monitoring — ANN recall@10 as a gate row, measured over a
    // 5-QUERY PANEL (vec_id 0–4; single-query recall on this isotropic
    // corpus is a coin flip — measured ±5 hits across query choices, so
    // r7's one-query row tracked luck, not the index): one row per
    // (method, query, hit) where hit = an id the approximate path
    // (q31's learned-centroid cosine IVF, q41's seeded LSH) shares with
    // that query's exact brute-force top-10. The row count IS the
    // panel-total recall out of 100 the driver records every round
    // (rows-only: seeded fits are engine-specific; SimilaritySpec holds
    // the mechanism invariants on planted-cluster data).
    "q75_ann_recall" -> ((s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      // 50-query panel (r10 verdict item 5 — the 5-query panel's ±5-hit
      // luck band made single-round recall moves unreadable; 500
      // (query, hit) trials make the number load-bearing)
      val nPanel = 50
      val queries = graft.engine.Caching.cached(
        e.filter(col("vec_id") < nPanel)
          .select(col("vec_id").as("qid"),
            VectorFns.toDouble(col("embedding")).as("qvec")))
      val base = e.filter(col("vec_id") >= nPanel)
      val exact = Similarity.topKMulti(base, queries, "vec_id",
          "embedding", 10)
        .select(col("qid"), col("vec_id"))
      val cents = Similarity.learnedCentroids(base, "embedding", k = 16)
      val ivf = Similarity.ivfTopKCosineMulti(base, cents, queries,
          "vec_id", "embedding", k = 10, nProbe = 5)
        .select(col("qid"), col("vec_id"))
      // ONE panel fetch feeds the ml-native LSH API (broadcast-sized)
      val qlocal = queries.collect()
        .map(r => r.getLong(0) ->
          org.apache.spark.ml.linalg.Vectors.dense(
            r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
      val lsh = Similarity.brpLshTopKMulti(base, "vec_id", "embedding",
          qlocal, k = 10)
        .select(col("qid"), col("vec_id"))
      // PQ family on the panel (r11 verdict item 4): flat ADC (the
      // quantization ceiling at the 4-bit m=8·k=16 gate geometry) and
      // IVF-PQ at nProbe=8 (quantization × pruning composed), scored
      // over in-memory codes — ONE codebook fit + encode feeds both
      val pqCb = graft.operators.ProductQuantize.pqTrain(base,
        "embedding", m = 8, k = 16)
      val pqCodes = graft.engine.Caching.cached(
        graft.operators.ProductQuantize.pqEncode(base, "vec_id",
          "embedding", pqCb, m = 8))
      val pq = graft.operators.ProductQuantize.pqScoreCodesMulti(
          pqCodes, pqCb, queries, "vec_id", k = 10, m = 8)
        .select(col("qid"), col("vec_id"))
      val codesWithCells = graft.engine.Caching.cached(
        pqCodes.join(Similarity.ivfAssignCosine(base, cents,
          "vec_id", "embedding"), Seq("vec_id")))
      val ivfpq = graft.operators.ProductQuantize.ivfPqScoreCodesMulti(
          codesWithCells,
          pqCb, cents, queries, "vec_id", k = 10, nProbe = 8, m = 8)
        .select(col("qid"), col("vec_id"))
      // exact-refine rung: ADC keeps top-50 per query (same cells as
      // the ivfpq cut), true cosine re-ranks exactly those — per-query
      // recall provably ≥ the ivfpq rung's, enforced below as an exact
      // inequality, not a band
      val refine = Similarity.refineTopKMulti(base,
          graft.operators.ProductQuantize.ivfPqScoreCodesMulti(
            codesWithCells, pqCb, cents, queries, "vec_id", k = 50,
            nProbe = 8, m = 8),
          queries, "vec_id", "embedding", k = 10)
        .select(col("qid"), col("vec_id"))
      // residual rung (r12 verdict item 4): same m·k budget, codes of
      // uv − centroid, scored via the batch residual prober off a
      // written scratch index (the residual scorer is layout-based)
      val resPath = scratchPath("annres_idx", dir)
      graft.operators.ProductQuantize.ivfPqWriteIndexResidual(base,
        cents, "vec_id", "embedding", m = 8, k = 16, resPath)
      val ivfpqRes = graft.operators.ProductQuantize
        .ivfPqProbeResidualMulti(s, resPath, cents, queries,
          "vec_id", k = 10, nProbe = 8)
        .select(col("qid"), col("vec_id"))
      val out = graft.engine.Caching.cached(
        ivf.withColumn("method", lit("ivf"))
          .unionByName(lsh.withColumn("method", lit("lsh")))
          .unionByName(pq.withColumn("method", lit("pq")))
          .unionByName(ivfpq.withColumn("method", lit("ivfpq")))
          .unionByName(refine.withColumn("method", lit("ivfpq_refine")))
          .unionByName(ivfpqRes.withColumn("method", lit("ivfpq_res")))
          .join(exact, Seq("qid", "vec_id"))
          .select(col("method"), col("qid"), col("vec_id"))
          .orderBy(col("method"), col("qid"), col("vec_id")))
      // driver-enforced recall floors (r10 verdict item 1): a recall
      // collapse in any approximate path turns this row err-red in
      // the driver record instead of silently shrinking a rows-only
      // count. Measured (NOTES_r11.md, 3 seeds × 3 sfs,
      // PLANS.md round-11/12/13): IVF nProbe=5 54–62%, LSH 96–98%;
      // PQ flat k=16 18–28%, IVF-PQ nProbe=8 16–29%, and residual
      // IVF-PQ nProbe=8 12.6–24.6% (the sf0.1 panel is the hard end —
      // 2000-vector corpus, same 4-bit code budget; the residual rung
      // measures BELOW direct IVF-PQ on this isotropic corpus, the
      // honest PLANS.md round-11 finding). Floors sit well under each
      // cross-sf minimum — regression alarms, not targets.
      val hits = out.groupBy(col("method")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val denom = nPanel * 10L
      val ivfHits = hits.getOrElse("ivf", 0L)
      val lshHits = hits.getOrElse("lsh", 0L)
      val pqHits = hits.getOrElse("pq", 0L)
      val ivfpqHits = hits.getOrElse("ivfpq", 0L)
      val refineHits = hits.getOrElse("ivfpq_refine", 0L)
      val resHits = hits.getOrElse("ivfpq_res", 0L)
      require(ivfHits * 100 >= denom * 45,
        s"q75: IVF recall@10 collapsed — $ivfHits/$denom < 45%")
      require(lshHits * 100 >= denom * 80,
        s"q75: LSH recall@10 collapsed — $lshHits/$denom < 80%")
      require(pqHits * 100 >= denom * 10,
        s"q75: PQ flat-ADC recall@10 collapsed — $pqHits/$denom < 10%")
      require(ivfpqHits * 100 >= denom * 8,
        s"q75: IVF-PQ recall@10 collapsed — $ivfpqHits/$denom < 8%")
      require(resHits * 100 >= denom * 6,
        s"q75: residual IVF-PQ recall@10 collapsed — " +
          s"$resHits/$denom < 6%")
      // the refine rung's recall dominance is EXACT (ivfpq's top-10 ⊆
      // the refine candidates; every true hit among candidates
      // survives the true-metric re-rank), so the gate is an
      // inequality against the sibling rung, not a measured band
      require(refineHits >= ivfpqHits,
        s"q75: exact-refine recall $refineHits fell below its own " +
          s"ADC cut $ivfpqHits — dominance broken")
      // absolute floor too (measured 40.4–65.2% across the three sfs
      // — refine=50 recovers 2.3–2.6× the raw ADC cut's recall)
      require(refineHits * 100 >= denom * 25,
        s"q75: exact-refine recall@10 collapsed — " +
          s"$refineHits/$denom < 25%")
      out
    }),

    // Skew-salted join UNDER THE HASH GATE: event_type is the maximally
    // skewed key (5 values over the whole fact table — the one-hot-
    // reducer failure mode at 100 TB); the salted form splits each hot
    // key into 8 sub-keys and must be RESULT-IDENTICAL to the plain
    // join, which is exactly what the oracle checks. The dim side is
    // derived (per-type totals), carried through the join, and re-
    // aggregated so a mis-salted row would shift two columns at once.
    "q76_salted_join" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val dim = e.groupBy(col("event_type").as("et"))
        .agg(count(lit(1)).as("et_total"))
      graft.operators.SkewJoin.saltedEquiJoin(
          e, dim, "event_type", "et", saltBy = "event_id", buckets = 8)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("et_total")).as("et_total"),
          sum((dec(col("value")) * 100).cast("long")).as("cents"))
        .orderBy(col("event_type"))
    }),

    // Bucketed co-located join UNDER THE HASH GATE: both sides written
    // bucketed+sorted by the join key via the catalog (the write-once
    // shuffle), joined exchange-free (JoinStrategiesSpec asserts the
    // plan), aggregated to revenue per nation. Green iff the bucketed
    // store loop loses nothing vs the oracle's plain parquet join.
    "q77_bucketed_join" -> ((s, dir) => {
      val tag = Integer.toHexString(dir.hashCode)
      val o = Tables(s, dir, "orders")
        .select(col("o_custkey"),
          (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      val c = Tables(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      graft.operators.Bucketing.writeBucketed(o,
        s"graft_bkt_orders_$tag", "o_custkey", 8)
      graft.operators.Bucketing.writeBucketed(c,
        s"graft_bkt_cust_$tag", "o_custkey", 8)
      graft.operators.Bucketing.bucketedJoin(s,
          s"graft_bkt_orders_$tag", s"graft_bkt_cust_$tag", "o_custkey")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy(col("c_nationkey"))
    }),

    // X3 — vocabulary heavy hitters (the tokenizer/vocab-construction
    // pass of a training pipeline): corpus-wide token frequencies,
    // top-20 with deterministic tiebreak. explode → map-side-combined
    // count → TakeOrderedAndProject over the |vocab|-sized aggregate —
    // never a global sort, never driver-side counting.
    "q78_vocab_topk" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)
    }),

    // X1 — quality-aware canonical selection: the dedup DECISION with a
    // keep-BEST policy (here keep-longest via n_chars — the standard
    // production choice) instead of q39/q56's keep-min-id. Pairs come
    // from the cheap df-capped edit-distance blocker (q55's pair
    // source), components from the same pointer-jumping CC, then two
    // component-sized aggregates pick argmax-score/min-id per cluster.
    // Fully oracle-checkable: the integer score makes the max + tiebreak
    // exactly portable.
    "q79_dedup_keep_best" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.editNearDups(docs, "doc_id", "text",
        headLen = 40, maxDist = 5)
      Dedup.keepBest(pairs,
          docs.select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars")
        .orderBy(col("label"))
    }),

    // X1 — chunk-level exact dedup (line-dedup generalized): split every
    // doc into non-overlapping 20-token chunks, keep each distinct
    // chunk's first (doc, position) occurrence corpus-wide, report per-
    // doc survival. The boilerplate-removal pass document-level dedup
    // misses; naturally non-vacuous here (the corpus contains hundreds
    // of cross-doc duplicate chunks). One md5-keyed aggregate + one
    // digest equi-join — no chunk text ever rides a shuffle.
    "q80_chunk_dedup" -> ((s, dir) => {
      Dedup.chunkDedupStats(Tables(s, dir, "documents"),
          "doc_id", "text", chunkSize = 20)
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline — train/val/test leakage audit: count content
    // signatures (q14's order-insensitive token-set md5) that appear in
    // MORE than one of q51's splits — the cross-split contamination a
    // pipeline must drive to zero before training. Distinct (sig, split)
    // pairs first (map-side-combined, ≤ 3 rows per sig), then a
    // self-join on the 32-byte digest whose per-key fan-out is bounded
    // by the split count — never corpus×corpus.
    "q81_split_leakage" -> ((s, dir) => {
      val sp = when(col("doc_id") % 100 < 80, lit("train"))
        .when(col("doc_id") % 100 < 90, lit("val"))
        .otherwise(lit("test"))
      // cached: self-joined as a/b below — without materialization the
      // corpus-sized signature scan + distinct runs once per join side
      val sigs = graft.engine.Caching.cached(
        Tables(s, dir, "documents")
          .select(sp.as("sp"),
            md5(Dedup.tokenSetSignature(col("text"))).as("sig"))
          .distinct())
      sigs.as("a")
        .join(sigs.as("b"),
          col("a.sig") === col("b.sig") && col("a.sp") < col("b.sp"))
        .groupBy(col("a.sp").as("split_a"), col("b.sp").as("split_b"))
        .agg(count(lit(1)).as("n_sigs"))
        .orderBy(col("split_a"), col("split_b"))
    }),

    // X1 — SemDeDup-style semantic dedup: embedding near-dup with
    // LEARNED k-means cluster blocking (the third blocking strategy
    // next to q30's label blocks and q48's LSH buckets — follows data
    // density, no key or hash family assumed). Seeded ML fit → no
    // oracle path (rows-only); co-clustering/recall invariants in
    // DedupSpec.
    "q82_semantic_dedup" -> ((s, dir) => {
      val out = graft.engine.Caching.cached(
        Dedup.embedNearDupsClustered(Tables(s, dir, "embeddings"),
            "vec_id", "embedding", k = 8, minSim = 0.4)
          .orderBy(col("id1"), col("id2")))
      // driver-enforced invariants (r10 verdict item 1): canonical
      // orientation + exact-verified threshold on the output surface;
      // the seeded k-means blocking makes the digest pinnable per sf
      require(out.filter(col("id1") >= col("id2")).isEmpty,
        "q82: pair not in canonical id1 < id2 orientation")
      require(out.filter(col("sim") < 0.4).isEmpty,
        "q82: emitted pair below the minSim threshold")
      GateChecks.requirePinned("q82_semantic_dedup", dir, out)
    }),

    // X1 — the PRODUCTION SemDeDup decision: q82's semantic near-dup
    // pairs composed through Dedup.keepBest with a quality score
    // (n_chars of the id-aligned document — keep-longest), so each
    // semantic cluster keeps its best member, not blindly its min id.
    // Seeded ML fit upstream → rows-only; the argmax composition has a
    // planted-cluster spec in DedupSpec, and keepBest's own tiebreak is
    // oracle-gated via q79.
    "q85_semantic_keep_best" -> ((s, dir) => {
      val pairs = Dedup.embedNearDupsClustered(
          Tables(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, minSim = 0.4)
        .select(col("id1"), col("id2"))
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      val out = graft.engine.Caching.cached(
        Dedup.keepBest(pairs, scored, "doc_id", "n_chars")
          .orderBy(col("label")))
      // driver-enforced invariants (r10 verdict item 1): every semantic
      // cluster is a genuine multi-member component and the kept member
      // carries the cluster's best quality score (NULL only if the
      // id-aligned document is missing — never for this corpus)
      require(out.filter(col("n_members") < 2).isEmpty,
        "q85: degenerate single-member dedup component")
      require(out.filter(col("best_score").isNull).isEmpty,
        "q85: cluster kept without a quality score")
      GateChecks.requirePinned("q85_semantic_keep_best", dir, out)
    }),

    // LLM-pipeline — corpus refresh (upsert): two recrawl waves + an
    // insert batch, collapsed last-wins per key (Upsert.latestByKey),
    // merged into the corpus (anti-join + unionByName — the q65 join
    // shape: batch ≪ corpus ⇒ broadcast anti-join, corpus scanned
    // once). Per-source accounting proves replace + append semantics.
    "q84_corpus_upsert" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      def rev(mod: Int, tag: String, v: Long) =
        docs.filter(col("doc_id") % mod === 0)
          .select(col("doc_id"), concat(col("text"), lit(tag)).as("text"),
            col("lang"), col("source"),
            (col("n_chars") + 5).as("n_chars"), lit(v).as("v"))
      val inserts = docs.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"), lit(1L).as("v"))
      val updates = graft.operators.Upsert.latestByKey(
          rev(10, " rev1", 1L).unionByName(rev(20, " rev2", 2L))
            .unionByName(inserts),
          "doc_id", "v", rowTieBreak = "text")
        .drop("v")
      graft.operators.Upsert.byKey(docs, updates, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("text").endsWith(" rev1") ||
              col("text").endsWith(" rev2"), 1L).otherwise(0L))
            .as("n_revised"),
          sum(size(split(col("text"), " "))).as("tokens"))
        .orderBy(col("source"))
    }),

    // LLM-pipeline — DSIR importance weights (hashed-unigram importance
    // resampling, the data-selection pass that steers a raw crawl
    // toward a target distribution): target = the English subcorpus,
    // raw = everything. md5-hex buckets + exact counts + spelled-out
    // rounding keep the whole model arithmetic oracle-replicable.
    "q93_dsir_weights" -> ((s, dir) => {
      TextAnalysis.dsirLogWeights(Tables(s, dir, "documents"),
          "doc_id", "text", isTarget = col("lang") === "en")
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline — corpus version diff (the recrawl audit): v2 drops
    // every 7th doc, revises every 5th, appends a shifted copy of
    // every 40th; the diff classifies every key by presence + content
    // signature. Counts + id extrema per status under the hash gate.
    "q94_corpus_diff" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val older = docs.select(col("doc_id"),
        md5(col("text").cast("binary")).as("sig"))
      val newer = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 5 === 0,
              concat(col("text"), lit(" v2")))
            .otherwise(col("text")).cast("binary")).as("sig"))
        .unionByName(docs.filter(col("doc_id") % 40 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            md5(col("text").cast("binary")).as("sig")))
      graft.operators.Upsert.diffByKey(older, newer, "doc_id", "sig")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("status"))
    }),

    // LLM-pipeline — n-gram novelty profile (the shard-redundancy
    // curation metric): per doc, the fraction of its distinct 3-gram
    // shingles first seen (min doc id) in that doc. Exact-dedup shape
    // on the shingle key — one aggregate + one equi-join, no pair
    // generation, no df cap needed.
    "q95_ngram_novelty" -> ((s, dir) => {
      TextAnalysis.noveltyProfile(Tables(s, dir, "documents"),
          "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline — hard-negative mining for contrastive training:
    // top-5 cosine neighbors with a DIFFERENT label for a fixed 5-id
    // query panel (ids exist at every SF; the panel broadcasts and the
    // corpus is scanned once).
    "q96_hard_negatives" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val panel = e.filter(col("vec_id").isin(0L, 7L, 13L, 21L, 34L))
        .select(col("vec_id").as("qid"),
          VectorFns.toDouble(col("embedding")).as("qvec"),
          col("label").as("qlabel"))
      Similarity.hardNegatives(e, panel, "vec_id", "embedding",
          "label", k = 5)
        .orderBy(col("qid"), col("sim").desc, col("vec_id"))
    }),

    // LLM-pipeline — BM25 lexical retrieval: top-10 docs per query for
    // a fixed 4-query panel (vocabulary terms present at every SF).
    // The sparse complement to the dense ANN family; panel broadcasts,
    // corpus aggregates once.
    "q97_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val panel = Seq(
        (0L, "merge sort window"), (1L, "stream batch join"),
        (2L, "hash table scan"), (3L, "slow query filter"))
        .toDF("qid", "qtext")
      TextAnalysis.bm25TopK(Tables(s, dir, "documents"),
          "doc_id", "text", panel, k = 10)
        .orderBy(col("qid"), col("score").desc, col("doc_id"))
    }),

    // LLM-pipeline — exact-substring shared-span dedup (the positional
    // criterion the set-based family can't express): pairs sharing a
    // run of >= 10 consecutive tokens, with the longest run per pair.
    "q98_shared_spans" -> ((s, dir) => {
      Dedup.sharedSpans(Tables(s, dir, "documents"),
          "doc_id", "text", n = 4, minSpan = 10)
        .orderBy(col("id1"), col("id2"))
    }),

    // LLM-pipeline — per-doc duplicate-token coverage (the corpus
    // readout of q98): fraction of each doc's token positions inside
    // some >=10-token run shared with another doc. Interval-union
    // islands per doc; integer arithmetic to the final ratio.
    "q99_span_coverage" -> ((s, dir) => {
      Dedup.spanCoverage(Tables(s, dir, "documents"),
          "doc_id", "text", n = 4, minSpan = 10)
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline — greedy token-budget corpus selection: fill a
    // 15k-token budget with the most lexically diverse docs (integer
    // distinct-token score), boundary group md5-rank-filled. The
    // budget cumulative runs over the |distinct scores| aggregate,
    // never the corpus.
    "q100_token_budget" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").select(col("doc_id"),
        size(array_distinct(split(col("text"), " "))).cast("long")
          .as("score"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Sampling.selectToTokenBudget(d, "doc_id", "score", "n_tokens",
          budget = 15000L)
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline — temperature-flattened mixture resampling (tau=2):
    // per-source keep counts proportional to sqrt(c_s), fixed-point-
    // normalized (integer-exact allocation), md5-ranked selection.
    "q101_temperature_mix" -> ((s, dir) => {
      Sampling.temperatureMixSqrt(
          Tables(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", "source", targetTotal = 300L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline CAPSTONE — the full curation pipeline as ONE plan,
    // end-to-end under the hash gate: quality gate (integer lexical
    // diversity) → exact dedup (md5 token-set, keep min id) → span
    // near-dup drop (>=20 shared consecutive tokens drops the higher
    // id) → greedy token-budget selection (15k) → per-source report.
    // Each stage is an already-gated operator; this row proves they
    // COMPOSE (the reference's actual usage shape: a pipeline, not
    // isolated queries). Stages are cached where consumed twice.
    "q102_curation_pipeline" -> ((s, dir) =>
      curationPipeline(Tables(s, dir, "documents"), budget = 15000L)),

    // LLM-pipeline — hybrid retrieval: reciprocal-rank fusion of the
    // sparse (BM25, q97's panel) and dense (cosine, the same qids'
    // embeddings — doc_id and vec_id are aligned) rankers. Ranks fuse
    // as integers (1e7-fixed-point contributions), so the fused score
    // is bit-exact across engines.
    "q103_rrf_fusion" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val e = Tables(s, dir, "embeddings")
      val textPanel = Seq(
        (0L, "merge sort window"), (1L, "stream batch join"),
        (2L, "hash table scan"), (3L, "slow query filter"))
        .toDF("qid", "qtext")
      val vecPanel = e.filter(col("vec_id").isin(0L, 1L, 2L, 3L))
        .select(col("vec_id").as("qid"),
          VectorFns.toDouble(col("embedding")).as("qvec"))
      val sparse = Similarity.rankByScore(
        TextAnalysis.bm25TopK(docs, "doc_id", "text", textPanel, k = 20),
        "doc_id", "score")
      val dense = Similarity.rankByScore(
        Similarity.topKMulti(e, vecPanel, "vec_id", "embedding", 20)
          .withColumnRenamed("vec_id", "doc_id"),
        "doc_id", "sim")
      Similarity.rrfFuse(Seq(sparse, dense), "doc_id", k = 10)
        .orderBy(col("qid"), col("rrf_fp").desc, col("doc_id"))
    }),

    // LLM-pipeline — Gopher-style rule-based quality flags (token-count
    // window, cross-multiplied mean-word-length window, TTR floor,
    // stopword presence), thresholds adapted so each rule splits the
    // synthetic corpus. All-integer → every flag hashes.
    "q104_gopher_rules" -> ((s, dir) => {
      TextAnalysis.gopherFlags(Tables(s, dir, "documents"),
          "doc_id", "text", stopwords = langMarkers)
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline — epoch-repeat mixing (the up-sampling mixer): equal
    // integer token shares per source, whole-corpus repeats capped at 3
    // epochs, md5-ranked greedy fill of the remainder below the cap.
    // At sf0.01 the 20 sources split into both branches (capped vs
    // epochs+fill). All-integer.
    "q105_epoch_mix" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").select(col("doc_id"),
        col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Sampling.epochMix(d, "doc_id", "source", "n_tokens",
          targetTokens = 80000L, maxEpochs = 3)
        .orderBy(col("source"))
    }),

    // LLM-pipeline — duplicate-cluster size histogram (the corpus-health
    // readout of the dedup DECISION): connected components over the
    // shared-span pair graph (>=20 consecutive tokens), singleton docs
    // counted as size-1 clusters. Oracle: q98's span CTE + q39's
    // recursive transitive closure.
    "q106_cluster_histogram" -> ((s, dir) =>
      clusterHistogram(Tables(s, dir, "documents"))),

    // LLM-pipeline — crawl-saturation curve: per 50-doc id bucket, how
    // many token-set signatures appear for the FIRST time in that
    // bucket (min-id first occurrence), with the cumulative count and
    // per-bucket novelty rate. The engine groups on md5 digests
    // (fixed-width shuffle keys); the oracle groups on the raw
    // signature — the q14/q26 registered collision trade.
    "q107_saturation_curve" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val sig = docs.select(col("doc_id"),
        md5(Dedup.tokenSetSignature(col("text"))).as("sig"))
      val news = sig.groupBy(col("sig"))
        .agg(min(col("doc_id")).as("first_id"))
        .select(expr("first_id div 50").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("new_sigs"))
      val per = sig.select(expr("doc_id div 50").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
      // cumulative over the BUCKET aggregate (|corpus|/50 rows — the
      // q100 pattern: global-order windows only over tiny aggregates)
      val w = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
      per.join(news, Seq("bucket"), "left")
        .select(col("bucket"), col("n_docs"),
          coalesce(col("new_sigs"), lit(0L)).as("new_sigs"))
        .withColumn("cum_sigs", sum(col("new_sigs")).over(w))
        .withColumn("novelty_rate",
          round(col("new_sigs").cast("double") / col("n_docs"), 4))
        .orderBy(col("bucket"))
    }),

    // multimodal — COMPRESSED-format decode gate (q87's mechanism for
    // JPEG/PNG via javax.imageio): plant real encoded files, ingest via
    // binaryFile, decode distributed. The PNG row pins the decoder to
    // the ORIGINAL raster (lossless ⇒ identical channel means to the
    // ppm/bmp gate); the JPEG row pins dimensions + distributed ≡
    // local decode of the same bytes (lossy, so pixel literals come
    // from the local decode — see ImageFixture).
    "q108_imageio_decode" -> ((s, dir) => {
      val base = scratchPath("imgio_fix", dir)
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.write(p.resolve("a.png"), ImageFixture.png)
      java.nio.file.Files.write(p.resolve("b.jpg"), ImageFixture.jpg)
      val assets = Multimodal.readBinaryDir(s, base, glob = "*.{png,jpg}")
        .select(
          when(col("file_name") === "a.png", 1L).otherwise(2L)
            .as("asset_id"),
          col("payload"),
          struct(lit("image").as("kind"), col("n_bytes")).as("meta"))
      Multimodal.decodeFeatures(s, assets)
        .select(col("format"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"), col("n_bytes"))
        .orderBy(col("format"))
    }),

    // X2 × X1 — INCREMENTAL index maintenance under the hash gate: the
    // 100 TB production loop (recrawl → corpus diff → re-quantize only
    // cells whose membership changed) composed from q94's diff and
    // q90's quantized inverted file. A deterministic recrawl delta
    // (adds, sign-flip modifications, removals) is applied to the
    // embedding corpus; the index built from the OLD snapshot is
    // refreshed cell-incrementally (centroids fixed); the probe then
    // runs against the refreshed index. The oracle re-derives the
    // refreshed state FROM RAW under the written centroids (the q186
    // mechanism — the refresh commits by MVCC, so the live cells sit
    // under sealed _rev dirs a plain glob cannot compose); physical
    // refreshed ≡ full-rebuild parity is pinned by SimilaritySpec.
    "q109_ivf_incremental" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      val base = e.filter(col("vec_id") =!= 0)
      // OLD snapshot: the corpus before the recrawl (vec_id % 7 == 3
      // rows are the future "added" keys — absent initially)
      val oldSnap = base.filter(col("vec_id") % 7 =!= 3)
        .select(col("vec_id"), col("embedding"))
      // NEW snapshot: adds them back, drops vec_id % 13 == 5, and
      // modifies vec_id % 11 == 0 by sign-flip (deterministic, norm-
      // preserving — the quantization scale is unchanged)
      val newSnap = base.filter(col("vec_id") % 13 =!= 5)
        .select(col("vec_id"),
          when(col("vec_id") % 11 === 0,
            transform(col("embedding"), x => -x))
            .otherwise(col("embedding")).as("embedding"))
      val centsPath = scratchPath("ivfinc_cents", dir)
      Similarity.learnedCentroids(oldSnap, "embedding", k = 16)
        .coalesce(1).write.mode("overwrite").parquet(centsPath)
      val cents = s.read.parquet(centsPath)
      val idxPath = scratchPath("ivfinc_index", dir)
      Similarity.ivfWriteIndexQuantized(oldSnap, cents, "vec_id",
        "embedding", idxPath)
      val sig = (snap: DataFrame) => snap.select(col("vec_id"),
        xxhash64(col("embedding")).as("sig"))
      val changes = Upsert.diffByKey(sig(oldSnap), sig(newSnap),
        "vec_id", "sig")
      Similarity.ivfRefreshQuantizedIncremental(s, idxPath, cents,
        newSnap, changes, "vec_id", "embedding")
      // the wave sealed generation 1; vacuum by the retention dial
      // (keep 2: the pre-wave generation stays for pinned readers)
      Similarity.ivfVacuumQuantized(s, idxPath, keepGenerations = 2)
      Similarity.ivfProbePrunedQuantized(s, idxPath, cents, qv,
        "vec_id", k = 10, nProbe = 3)
    }),

    // X2 — IVF drift MONITORING under the hash gate (r10 verdict item
    // 4): centroids are fit on the clean corpus, the index is built
    // from a deterministically DRIFTED corpus (a third of the vectors
    // shifted toward a fixed direction — the observable state of many
    // fixed-centroid refresh waves), and the per-cell drift statistics
    // — occupancy, 1e-7 fixed-point mean cosine displacement, global
    // occupancy skew — are computed from the index file alone. The
    // oracle replays the whole read off the index's and centroids' own
    // parquet (the q90 mechanism), so the gate pins the monitoring
    // arithmetic an operator team would page on. The recenter TRIGGER
    // composed from these gauges is probed in NOTES_r11/r12.md and spec'd
    // (relative-to-baseline, so no absolute threshold to gate here).
    "q123_ivf_drift_stats" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val base = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
      val centsPath = scratchPath("ivfdrift_cents", dir)
      Similarity.learnedCentroids(base, "embedding", k = 16)
        .coalesce(1).write.mode("overwrite").parquet(centsPath)
      val cents = s.read.parquet(centsPath)
      val drifted = base.select(col("vec_id"),
        when(col("vec_id") % 3 === 0,
          transform(col("embedding"),
            (x, i) => (x + lit(0.6) * cos(i.cast("double")))
              .cast("float")))
          .otherwise(col("embedding")).as("embedding"))
      val idxPath = scratchPath("ivfdrift_index", dir)
      Similarity.ivfWriteIndexQuantized(drifted, cents, "vec_id",
        "embedding", idxPath)
      // cached: consumed by the global-gauge aggregate AND the final
      // projection — uncached, the index read + displacement join
      // runs twice
      val stats = graft.engine.Caching.cached(
        Similarity.ivfDriftStats(s, idxPath, cents))
      val tot = stats.agg(sum(col("n")).as("tot"),
        max(col("n")).as("maxn"), count(lit(1)).as("cells"))
      stats.crossJoin(broadcast(tot))
        .select(col("centroid_id"), col("n"), col("cd_fp_sum"),
          col("mean_cd"),
          expr("(maxn * cells * 100) div tot").as("skew_x100"))
        .orderBy(col("centroid_id"))
    }),

    // A5 — classification report with ≥3 classes, exercising the
    // sklearn zero_division branches q91's binary gate cannot reach:
    // label ∈ {0,1,2} from doc features, prediction ∈ {0,1,3} from a
    // deterministic rule — class 2 has support but is never predicted
    // (precision 0 branch), class 3 is predicted but never labeled
    // (recall 0 branch). Pure count arithmetic end-to-end, so the
    // whole report hashes.
    "q110_multiclass_report" -> ((s, dir) => {
      val scored = Tables(s, dir, "documents").select(
        (col("n_chars") % 3).cast("long").as("label"),
        when(col("doc_id") % 5 === 0, lit(3L))
          .otherwise((col("n_chars") % 2).cast("long")).as("prediction"))
      QualityModel.classificationReport(scored, "label", "prediction")
        .orderBy(col("cls"))
    }),

    // multimodal — AUDIO decode gate (the q87/q108 mechanism for the
    // third modality): plant real RIFF/WAVE PCM files, ingest via
    // binaryFile, decode distributed (header/chunk walk, sample
    // normalization, amplitude stats). Fixtures sit on the exact
    // 16-bit grid, so every statistic is closed-form.
    "q111_wav_decode" -> ((s, dir) => {
      val base = scratchPath("wav_fix", dir)
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.write(p.resolve("a.wav"), AudioFixture.monoWav)
      java.nio.file.Files.write(p.resolve("b.wav"), AudioFixture.stereoWav)
      val assets = Multimodal.readBinaryDir(s, base, glob = "*.wav")
        .select(
          when(col("file_name") === "a.wav", 1L).otherwise(2L)
            .as("asset_id"),
          col("payload"),
          struct(lit("audio").as("kind"), col("n_bytes")).as("meta"))
      Multimodal.decodeAudioFeatures(s, assets)
        .select(col("asset_id"), col("format"), col("sample_rate"),
          col("channels"), col("duration_ms"), col("rms"), col("peak"),
          col("zero_crossings"), col("n_bytes"))
        .orderBy(col("asset_id"))
    }),

    // multimodal — animated-format coverage (r10 verdict stretch
    // item): GIF through the same imageio path as q108's JPEG/PNG —
    // new magic in the sniffer, the decode facade unchanged. The
    // fixture is the canonical 4×2 gradient; means pinned via local
    // decode of the same planted bytes.
    "q125_gif_decode" -> ((s, dir) => {
      val base = scratchPath("gif_fix", dir)
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.write(p.resolve("a.gif"), ImageFixture.gif)
      val assets = Multimodal.readBinaryDir(s, base, glob = "*.gif")
        .select(lit(1L).as("asset_id"), col("payload"),
          struct(lit("image").as("kind"), col("n_bytes")).as("meta"))
      Multimodal.decodeFeatures(s, assets)
        .select(col("format"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"), col("n_bytes"))
        .orderBy(col("format"))
    }),

    // multimodal — COMPRESSED-audio coverage (r10 verdict stretch
    // item): G.711 mu-law and A-law WAV — real telephony companding,
    // decoded through the same facade, fixtures planted as raw code
    // bytes (the codes ARE the ground truth; the container only wraps
    // them). Same literal-oracle convention as q111: the gate pins
    // distributed decode ≡ local decode of the same planted bytes.
    "q124_g711_decode" -> ((s, dir) => {
      val base = scratchPath("g711_fix", dir)
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.write(p.resolve("u.wav"), AudioFixture.ulawWav)
      java.nio.file.Files.write(p.resolve("a.wav"), AudioFixture.alawWav)
      val assets = Multimodal.readBinaryDir(s, base, glob = "*.wav")
        .select(
          when(col("file_name") === "u.wav", 1L).otherwise(2L)
            .as("asset_id"),
          col("payload"),
          struct(lit("audio").as("kind"), col("n_bytes")).as("meta"))
      Multimodal.decodeAudioFeatures(s, assets)
        .select(col("asset_id"), col("format"), col("sample_rate"),
          col("channels"), col("duration_ms"), col("rms"), col("peak"),
          col("zero_crossings"), col("n_bytes"))
        .orderBy(col("asset_id"))
    }),

    // X3 — HTML boilerplate stripping under the hash gate: each doc's
    // text is wrapped into a deterministic HTML page (script + style +
    // comment + entities + a doc_id-varying link count) IDENTICALLY in
    // both engines, then stripped by the RE2-compatible regex chain.
    // Output hashes the clean text (md5 — multi-line strings stay out
    // of the row hasher) plus the density signals.
    "q112_markup_strip" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      TextAnalysis.markupStats(
          d.select(col("doc_id"), syntheticPage.as("html")),
          "doc_id", "html")
        .select(col("doc_id"), md5(col("text")).as("clean_md5"),
          col("raw_len"), col("clean_len"), col("n_links"),
          col("text_ratio"))
        .orderBy(col("doc_id"))
    }),

    // X1 — URL-level dedup under the hash gate: three deterministic
    // fetch-variants of the same logical page per doc (scheme/host
    // case noise + default port + duplicate slashes + tracking params
    // + param order + fragment vs a clean form vs a genuinely distinct
    // path) — canonicalization must collapse variants 0 and 1 and keep
    // variant 2 distinct. The oracle reimplements the whole canonical
    // form in SQL (the regex chain is RE2-compatible by construction).
    "q113_url_dedup" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val n = (col("doc_id") % 40).cast("string")
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("HTTPS://WWW."), col("source"),
            lit(".Example.COM:443//docs//"), n,
            lit("/?utm_source=x&b=2&a=1#frag")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("https://www."), col("source"),
            lit(".example.com/docs/"), n, lit("?a=1&b=2&gclid=zz")))
        .otherwise(concat(lit("http://www."), col("source"),
          lit(".example.com:80/docs/"), n, lit("/extra")))
      d.select(col("doc_id"), UrlFns.canonicalUrl(url).as("canon"))
        .groupBy(col("canon"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_dups"))
        .orderBy(col("canon"))
    }),

    // X2/X3 — the MATERIALIZED lexical index under the hash gate (the
    // sparse analog of q90's quantized IVF file): the whole corpus as
    // ONE term-sorted segment (the shared fixture), the probe reads
    // only the panel's posting lists via a pushed-down term predicate,
    // scoring shared with q97's scan path by construction (one
    // bm25Score definition). The oracle recomputes from the BASE
    // table — index content, probe pruning, and scoring must all agree
    // with the direct scan.
    "q114_bm25_index_probe" -> ((s, dir) => {
      import s.implicits._
      val panel = Seq(
        (0L, "sort merge join"), (1L, "query filter scan"),
        (2L, "window batch table"))
        .toDF("qid", "qtext")
      TextAnalysis.bm25ProbeSegmented(s, fxDocsBm25(s, dir), panel,
          k = 15, "doc_id")
        .orderBy(col("qid"), col("score").desc, col("doc_id"))
    }),

    // X2/X3 × X1 — the SEGMENTED lexical index under the hash gate,
    // maintained incrementally (q114's layout, the Lucene segment model): a
    // recrawl delta lands as segment appends + tombstones — nothing
    // rewritten in place — and the probe reconstructs exact global
    // scoring state (panel-term df from the filtered lists, corpus
    // stats from segment partials minus tombstones). The oracle
    // recomputes the direct scan over the FINAL corpus state, so
    // segment membership, tombstone filtering, and the stats
    // correction must all be exact.
    "q115_bm25_segmented" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val seg0 = d.filter(col("doc_id") % 5 =!= 4)
      val added = d.filter(col("doc_id") % 5 === 4)
      val modified = seg0.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" upd")).as("text"))
      val removed = seg0.filter(col("doc_id") % 7 =!= 0 &&
        col("doc_id") % 11 === 3)
      val path = scratchPath("bm25_seg", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      TextAnalysis.bm25AppendSegment(seg0, "doc_id", "text", path, 0)
      val tombKeys = seg0
        .join(modified.select(col("doc_id"))
          .union(removed.select(col("doc_id"))), Seq("doc_id"))
        .select(col("doc_id"),
          // dl MUST be the segment's own definition (TextAnalysis
          // .tokens), not a re-spelled split: the stats correction is
          // exact only if tombstone dl == the dl segment 0 recorded
          size(TextAnalysis.tokens(col("text"))).cast("long").as("dl"))
      TextAnalysis.bm25Tombstone(tombKeys, "doc_id", "dl", path, 1)
      TextAnalysis.bm25AppendSegment(modified.unionByName(added),
        "doc_id", "text", path, 1)
      val panel = Seq(
        (0L, "sort merge join upd"), (1L, "query filter scan"))
        .toDF("qid", "qtext")
      TextAnalysis.bm25ProbeSegmented(s, path, panel, k = 12, "doc_id")
        .orderBy(col("qid"), col("score").desc, col("doc_id"))
    }),

    // X2/X3 × X1 — segment MERGE under the hash gate (the other half
    // of q115's Lucene generation rule, r10 verdict item 3): the same
    // two-segment-plus-tombstones index is FOLDED into one segment
    // (dead postings dropped, tombstones cleared, stats re-derived
    // from the live rows), and the probe runs on the merged index.
    // The oracle is the identical direct scan over the final corpus
    // state — merge must be invisible to scoring, byte for byte; the
    // builder additionally requires the folded layout (one segment,
    // no tombstones) so a merge that silently no-ops goes err-red.
    "q122_bm25_merge" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val seg0 = d.filter(col("doc_id") % 5 =!= 4)
      val added = d.filter(col("doc_id") % 5 === 4)
      val modified = seg0.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" upd")).as("text"))
      val removed = seg0.filter(col("doc_id") % 7 =!= 0 &&
        col("doc_id") % 11 === 3)
      val path = scratchPath("bm25_merge", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      TextAnalysis.bm25AppendSegment(seg0, "doc_id", "text", path, 0)
      val tombKeys = seg0
        .join(modified.select(col("doc_id"))
          .union(removed.select(col("doc_id"))), Seq("doc_id"))
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("dl"))
      TextAnalysis.bm25Tombstone(tombKeys, "doc_id", "dl", path, 1)
      TextAnalysis.bm25AppendSegment(modified.unionByName(added),
        "doc_id", "text", path, 1)
      val (folded, _) = TextAnalysis.bm25MergeSegments(s, path, "doc_id")
      require(folded == 2, s"q122: expected to fold 2 segments, got $folded")
      // the committed composition is the MANIFEST's (pre-merge dirs
      // stay on disk as as-of history until vacuum)
      val m = SegmentManifest.latest(s, path).get
      require(m.segs("postings") == Seq(0) &&
          m.segs("tombstones").isEmpty,
        s"q122: merge left ${m.segs("postings")} segments / " +
          s"${m.segs("tombstones")} tombstone entries")
      val panel = Seq(
        (0L, "sort merge join upd"), (1L, "query filter scan"))
        .toDF("qid", "qtext")
      TextAnalysis.bm25ProbeSegmented(s, path, panel, k = 12, "doc_id")
        .orderBy(col("qid"), col("score").desc, col("doc_id"))
    }),

    // scale primitive — token-level SEQUENCE PACKING (concat-and-chunk,
    // the Raffel et al. §2.2 training-sequence layout). q50 bins WHOLE
    // docs per source shard; this is the other packing discipline —
    // documents split across fixed-length sequence boundaries under
    // one GLOBAL order, so it needs a corpus-wide token prefix sum,
    // done q116-style (range partition → broadcast per-partition token
    // offsets → partition-local running sum — never a single-task
    // global window), then the per-sequence fill/fragmentation audit.
    // Oracle: the global cumsum window the implementation avoids.
    "q126_sequence_pack" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextAnalysis.tokens(coalesce(col("text"), lit(""))))
            .cast("long").as("n_toks"))
      Packing.packSequences(d, "n_toks", 64, col("source"), col("doc_id"))
        .orderBy(col("seq_id"))
    }),

    // RAG/embedding prep — overlapping-chunk APPLY (size 12, stride 8:
    // every token covered, 4-token overlap, trailing partial kept).
    // q63 emits the span PLAN (start/len only); this materializes the
    // chunk PAYLOAD — the text a RAG pipeline actually embeds — via
    // token-slice reassembly (the q80-stats/q120-apply pairing, for
    // chunking). Stateless map + explode, integer arithmetic so the
    // oracle replays it exactly.
    "q127_chunk_overlap" -> ((s, dir) => {
      Packing.chunkOverlap(Tables(s, dir, "documents"), "doc_id",
          "text", size = 12, stride = 8)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // tokenizer-fit capstone — distributed BPE (Sennrich et al. 2016):
    // the merge loop iterates the VOCAB-sized word-frequency frame
    // (the initial word count is the only corpus pass); encoding is a
    // segmentation-table join, never a merge replay over the corpus.
    // The fit itself is pinned against a step-by-step local reference
    // implementation in BpeTokenizerSpec and require()-guarded here
    // (dense ranks; round-trip concat(pieces) == word for EVERY vocab
    // row); the gate row writes the fitted segmentation to scratch and
    // reports per-source encoding stats that the oracle replays off
    // that parquet — DuckDB verifies the whole apply path.
    "q128_bpe_encode" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val (merges, vocabRaw) =
        BpeTokenizer.train(d, "text", numMerges = 24)
      require(merges.nonEmpty && merges.map(_.rank) == merges.indices,
        "q128: merge ranks must be dense from 0")
      val vc = graft.engine.Caching.cached(vocabRaw)
      val bad = vc.filter(concat_ws("", col("syms")) =!= col("word"))
        .count()
      require(bad == 0, s"q128: $bad vocab rows fail the round-trip " +
        "(concat of pieces != word) — the merge fold corrupted a " +
        "segmentation")
      val path = scratchPath("bpe_vocab", dir)
      vc.select(col("word"), col("freq"), col("syms"))
        // vocab-sized frame: one file keeps the oracle glob trivial
        .coalesce(1).write.mode("overwrite").parquet(path)
      BpeTokenizer.encode(d, "doc_id", "text", vc)
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("syms")).cast("long")).as("n_pieces"),
          countDistinct(col("word")).as("n_distinct_words"))
        .orderBy(col("source"))
    }),

    // X2 — PRODUCT-QUANTIZED ANN probe under the hash gate (Jégou
    // et al. 2011, the FAISS IVF-PQ building block): m=8 per-subspace
    // codebooks of k=16 entries (seeded k-means per subspace), each
    // vector stored as 8 small codes — 32× less scan IO than float32,
    // the rung below q89's int8 (4×). Scoring is ADC: a broadcast m·k
    // lookup table of query·codebook-entry inner products on 1e-7
    // fixed-point integers, summed per vector — float summation order
    // never enters the comparison, so the oracle replays the ranking
    // off the index's own codebooks+codes parquet bit-for-bit.
    "q129_pq_probe" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val path = scratchPath("pq_index", dir)
      ProductQuantize.pqWriteIndex(e.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", m = 8, k = 16, path)
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      ProductQuantize.pqProbeADC(s, path, qv, "vec_id", k = 10)
    }),

    // X2 — IVF-PQ, the FAISS production layout with BOTH IO levers
    // under one hash gate: hive partition pruning opens only the
    // nProbe cell directories AND each cell's payload is m=8 PQ codes
    // (32× vs float32; q90's int8 variant is 4×). The oracle replays
    // the whole probe off the written artifacts: centroid ranking
    // (list_cosine_similarity), the codes' own partition column,
    // fixed-point ADC lookup sums — identical integer arithmetic.
    "q130_ivfpq_probe" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val base = e.filter(col("vec_id") =!= 0)
      Similarity.learnedCentroids(base, "embedding", k = 16)
        .coalesce(1).write.mode("overwrite")
        .parquet(scratchPath("ivfpq_cents", dir))
      val cents = s.read.parquet(scratchPath("ivfpq_cents", dir))
      val path = scratchPath("ivfpq_index", dir)
      ProductQuantize.ivfPqWriteIndex(base, cents, "vec_id",
        "embedding", m = 8, k = 16, path)
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      ProductQuantize.ivfPqProbe(s, path, cents, qv, "vec_id",
        k = 10, nProbe = 3)
    }),

    // X2 — RESIDUAL IVF-PQ (FAISS's default): codes quantize the
    // residual (unit vector − cell centroid), concentrating the same
    // m·k codebook budget on the tighter within-cell distribution.
    // The reconstruction win is real where the corpus has cluster
    // structure (spec pins it on a clustered fixture); on THIS
    // isotropic synthetic table it measurably does not materialize
    // (PLANS.md round-11 records both readings — honest limits).
    // Scoring = one fixed-point q·centroid constant per probed cell +
    // the same integer ADC lookup sums; the oracle replays both terms
    // off the written centroids/codebooks/codes parquet.
    "q131_ivfpq_residual_probe" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val base = e.filter(col("vec_id") =!= 0)
      // reuses q130's centroid parquet contract with its own prefix so
      // the two rows never race on scratch
      Similarity.learnedCentroids(base, "embedding", k = 16)
        .coalesce(1).write.mode("overwrite")
        .parquet(scratchPath("ivfpqr_cents", dir))
      val cents = s.read.parquet(scratchPath("ivfpqr_cents", dir))
      val path = scratchPath("ivfpqr_index", dir)
      ProductQuantize.ivfPqWriteIndexResidual(base, cents, "vec_id",
        "embedding", m = 8, k = 16, path)
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      ProductQuantize.ivfPqProbeResidual(s, path, cents, qv, "vec_id",
        k = 10, nProbe = 3)
    }),

    // capstone #6 — TOKENIZE → PACK: q128's tokenizer composed with
    // q126's packing, the end-of-pipeline artifact real pretraining
    // sharding produces — documents measured in TOKENIZER PIECES
    // (not whitespace tokens) and packed into fixed 64-piece
    // sequences under the global (source, doc_id) order. Fits its own
    // BPE (16 merges) into its own scratch prefix so the row never
    // races q128; the oracle re-derives per-doc piece counts from the
    // written segmentation and replays q126's cumsum-window algebra.
    "q133_tokenize_pack" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val (merges, vocabRaw) =
        BpeTokenizer.train(d, "text", numMerges = 16)
      require(merges.nonEmpty, "q133: no merges learned")
      val vc = graft.engine.Caching.cached(vocabRaw)
      val path = scratchPath("bpe_pack", dir)
      vc.select(col("word"), col("syms"))
        .coalesce(1).write.mode("overwrite").parquet(path)
      // per-doc piece counts via the segmentation join; empty-text
      // docs have no words, drop out here, and the oracle's inner
      // join drops them identically
      val perDoc = BpeTokenizer.encode(d, "doc_id", "text", vc)
        .groupBy(col("doc_id"))
        .agg(sum(size(col("syms")).cast("long")).as("n_pieces"))
      Packing.packSequences(
          d.select(col("doc_id"), col("source"))
            .join(perDoc, Seq("doc_id")),
          "n_pieces", 64, col("source"), col("doc_id"))
        .orderBy(col("seq_id"))
    }),

    // capstone #5 — the DATASET CARD: the per-source release report
    // every corpus ships (sizes, length range, language spread,
    // exact-dup rate, quality pass rate) as ONE plan — every signal
    // an already-gated operator's (q14 token-set signatures, q104
    // Gopher rules, q15-style accounting), all-integer so the card
    // hashes. One token explode feeding one hash-aggregate per
    // source; the dup rate is integer-cross-multiplied (no float
    // division).
    "q132_dataset_card" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val flags = TextAnalysis.gopherFlags(d, "doc_id", "text",
          stopwords = langMarkers)
        .select(col("doc_id"), col("pass"))
      val toks = TextAnalysis.tokens(coalesce(col("text"), lit("")))
      d.select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), toks.as("_t"))
        .withColumn("n_toks", size(col("_t")).cast("long"))
        .withColumn("sig",
          concat_ws(" ", array_sort(array_distinct(col("_t")))))
        .join(flags, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_toks")).as("min_toks"),
          max(col("n_toks")).as("max_toks"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("sig")).as("n_distinct_sigs"),
          sum(col("pass").cast("long")).as("n_gopher_pass"))
        .withColumn("dup_bp",
          expr("((n_docs - n_distinct_sigs) * 10000) div n_docs"))
        .orderBy(col("source"))
    }),

    // scale primitive — dense deterministic row ids WITHOUT a global
    // window (range partition → per-partition count → broadcast
    // prefix-sum offsets → per-partition numbering): the sharding /
    // example-addressing step. Oracle: the single-task global
    // row_number the implementation exists to avoid.
    "q116_contiguous_ids" -> ((s, dir) => {
      graft.operators.Ids.contiguousIds(
          Tables(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("n_chars")),
          "row_id", col("source"), col("doc_id"))
        .select(col("row_id"), col("doc_id"), col("source"))
        .orderBy(col("row_id"))
    }),

    // capstone #2 — SHARD ASSEMBLY: the dataset-finalization tail every
    // training pipeline runs after curation — deterministic per-source
    // reservoir sample → md5 pseudo-shuffle (engine-portable "random"
    // order) → dense row ids (q116's two-pass) → fixed-size shard
    // assignment → per-shard manifest. Every stage deterministic, so
    // the whole assembly hashes.
    "q117_shard_assembly" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(coalesce(col("text"), lit("")), " ")).cast("long")
            .as("n_tokens"))
      val sampled = Sampling.reservoirPerStratum(d, "doc_id", "source",
        k = 15)
      val shuffled = graft.operators.Ids.contiguousIds(sampled, "row_id",
        md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      shuffled.withColumn("shard_id", expr("row_id div 25"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          countDistinct(col("source")).as("n_sources"),
          min(col("row_id")).as("first_row"))
        .orderBy(col("shard_id"))
    }),

    // X1/X3 — DOMAIN-level quality filtering (the RefinedWeb-style
    // block rule): per-host Gopher pass rate → hosts below 60% are
    // blocked wholesale. Composes urlHost over the synthesized crawl
    // URLs with q104's rule flags; integer cross-multiplied threshold
    // so the verdict hashes.
    "q118_domain_filter" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val url = concat(lit("https://www."), col("source"),
        lit(".example.com/docs/"), (col("doc_id") % 40).cast("string"))
      val flags = TextAnalysis.gopherFlags(d, "doc_id", "text",
        stopwords = langMarkers)
      d.select(col("doc_id"), UrlFns.urlHost(url).as("host"))
        .join(flags.select(col("doc_id"), col("pass")), Seq("doc_id"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("pass").cast("long")).as("n_pass"))
        .withColumn("blocked",
          (col("n_pass") * 100 < col("n_docs") * 60).cast("int"))
        .orderBy(col("host"))
    }),

    // capstone #3 — WEB-INGEST front end: raw HTML → boilerplate strip
    // → token-length gate → exact dedup on the CLEAN text → per-source
    // report, as one plan. The mirror of q102's curation back end:
    // together they cover crawl-to-corpus end to end, every stage an
    // already-gated operator.
    "q119_web_ingest" -> ((s, dir) => {
      import graft.engine.Caching.cached
      val d = Tables(s, dir, "documents")
      val cleaned = d.select(col("doc_id"), col("source"),
        TextAnalysis.stripMarkup(syntheticPage).as("clean"))
      val kept = cached(cleaned
        // tokens(), not a re-spelled split — the q115 drift rule
        .withColumn("n_toks",
          size(TextAnalysis.tokens(col("clean"))).cast("long"))
        .filter(col("n_toks") >= 15))
      val reps = Dedup.exact(kept, "doc_id", "clean")
        .select(col("keep_id").as("doc_id"))
      kept.join(reps, Seq("doc_id"), "left_semi")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs_kept"),
          sum(col("n_toks")).as("tokens_kept"))
        .orderBy(col("source"))
    }),

    // X1 — chunk-dedup APPLY (q80's accounting turned into the
    // rewrite): corpus-wide first-occurrence chunks survive, documents
    // reassemble in order, fully-boilerplate docs come back empty.
    // Text hashed for the gate (multi-token strings stay out of the
    // row hasher).
    "q120_chunk_dedup_apply" -> ((s, dir) => {
      Dedup.chunkDedupApply(Tables(s, dir, "documents"), "doc_id",
          "text", chunkSize = 20)
        .select(col("doc_id"), md5(col("new_text")).as("new_md5"),
          col("n_chunks_kept"), col("n_tokens_kept"))
        .orderBy(col("doc_id"))
    }),

    // multimodal — the PERMISSIVE media contract under the gate: one
    // decodable image, one recognized-but-corrupt payload (truncated
    // PPM), one unknown-magic payload, one NULL payload — four
    // distinct per-row outcomes, none job-fatal. The corrupt row's
    // error text is engine-internal, so the gate pins its PRESENCE
    // (has_error), not its wording.
    "q121_media_corrupt_accounting" -> ((s, dir) => {
      import s.implicits._
      val good = ImageFixture.ppm
      val bad = ImageFixture.ppm.dropRight(3)
      val assets = Seq(
        (1L, good), (2L, bad),
        (3L, "plain text".getBytes("UTF-8")),
        (4L, null.asInstanceOf[Array[Byte]]))
        .toDF("asset_id", "payload")
        .select(col("asset_id"), col("payload"),
          struct(lit("image").as("kind"),
            coalesce(length(col("payload")), lit(0)).as("n_bytes"))
            .as("meta"))
      Multimodal.decodeFeatures(s, assets)
        .select(col("asset_id"), col("format"),
          col("decode_error").isNotNull.cast("int").as("has_error"),
          col("n_bytes"), col("width"), col("height"))
        .orderBy(col("asset_id"))
    }),

    // X × W — the STREAMING upsert's semantics under the hash gate:
    // a deterministic three-wave recrawl sequence (wave 2 carries
    // late rows that straddle the watermark, wave 3 is a lone
    // watermark-advancer) batch-replayed with the relational restate
    // of the watermark rules (admission, winner, eviction) — the
    // DuckDB oracle replays the identical rules, and
    // StreamingUpsertSpec ties the replay to the actual
    // flatMapGroupsWithState operator on the same waves.
    "q92_streaming_upsert_replay" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val base = lit(1700000000000L)
      val w1 = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" w1")).as("text"),
          lit(1L).as("v"), (base + col("doc_id") * 1000).as("tsms"),
          lit(1).as("wave"))
      val w2 = docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" w2")).as("text"),
          lit(2L).as("v"),
          (base + col("doc_id") * 1000 + 600000).as("tsms"),
          lit(2).as("wave"))
      // recrawls whose event time straddles wave 2's watermark: keys
      // below (max wave-1 id − 410) are late and must be DROPPED
      val w2late = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" w2late")).as("text"), lit(3L).as("v"),
          (base + col("doc_id") * 1000 + 350000).as("tsms"),
          lit(2).as("wave"))
      val adv = s.range(1).select(lit(999999L).as("doc_id"),
        lit("wm-advance").as("text"), lit(1L).as("v"),
        (base + lit(3600000L)).as("tsms"), lit(3).as("wave"))
      graft.operators.Upsert.latestByKeyWavedReplay(
          w1.unionByName(w2).unionByName(w2late).unionByName(adv),
          "doc_id", "v", "text", "tsms", delayMs = 60000L, "wave")
        // int form: engines disagree on boolean stringification
        .withColumn("evicted", col("evicted").cast("int"))
        .orderBy(col("doc_id"))
    }),

    // K-family — ORC roundtrip: Spark's second native columnar format
    // through the SAME layout-controlled sink as q68's parquet loop
    // (directory partitions, in-file sort, file-size cap — every lever
    // maps 1:1 onto ORC stripes). Green iff the ORC write→read loop is
    // lossless vs the oracle's aggregate over the original parquet.
    "q83_orc_roundtrip" -> ((s, dir) => {
      val base = scratchPath("orc_rt", dir)
      val l = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), year(col("l_shipdate")).as("yr"),
          col("l_returnflag").as("rf"),
          (dec(col("l_quantity")) * 100).cast("long").as("qty_cents"))
      graft.sources.ParquetSink.write(l, base, partitionBy = Seq("yr"),
        sortCols = Seq("rf"), maxRecordsPerFile = 100000, format = "orc")
      graft.sources.ParquetSink.read(s, base, format = "orc")
        .filter(col("yr") === 1996)
        .groupBy(col("rf"))
        .agg(count(lit(1)).as("n"), sum(col("qty_cents")).as("sum_qty_cents"))
        .orderBy(col("rf"))
    }),

    // X3 × X1 — TIERED segment merge under the hash gate (r11 verdict
    // item 5, the Lucene merge-policy half): four generations (three
    // corpus slices + a tombstone/re-append wave) compacted down to
    // maxSegments=2 by folding the smallest ADJACENT pairs — bounded
    // write amplification, unlike the full fold's O(index) — with
    // tombstones RETAINED and stats partials summed so scoring is
    // untouched. Oracle: the identical direct scan over the final
    // corpus state (q115's SQL shape); the builder requires the tiered
    // layout (exactly 2 segments, tombstones still present) so a
    // merge that silently full-folds or no-ops goes err-red.
    "q134_bm25_tiered_merge" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val old = d.filter(col("doc_id") % 5 =!= 4)
      val added = d.filter(col("doc_id") % 5 === 4)
      val modified = old.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" upd")).as("text"))
      val removed = old.filter(col("doc_id") % 7 =!= 0 &&
        col("doc_id") % 11 === 3)
      val path = scratchPath("bm25_tier", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      TextAnalysis.bm25AppendSegment(
        old.filter(col("doc_id") % 5 <= 1), "doc_id", "text", path, 0)
      TextAnalysis.bm25AppendSegment(
        old.filter(col("doc_id") % 5 === 2), "doc_id", "text", path, 1)
      TextAnalysis.bm25AppendSegment(
        old.filter(col("doc_id") % 5 === 3), "doc_id", "text", path, 2)
      val tombKeys = old
        .join(modified.select(col("doc_id"))
          .union(removed.select(col("doc_id"))), Seq("doc_id"))
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("dl"))
      TextAnalysis.bm25Tombstone(tombKeys, "doc_id", "dl", path, 3)
      TextAnalysis.bm25AppendSegment(modified.unionByName(added),
        "doc_id", "text", path, 3)
      val (folds, remaining) = TextAnalysis.bm25MergeSegmentsTiered(
        s, path, "doc_id", maxSegments = 2)
      require(folds == 2 && remaining == 2,
        s"q134: expected 2 folds down to 2 segments, got ($folds, $remaining)")
      require(SegmentManifest.latest(s, path).get
          .segs("tombstones").nonEmpty,
        "q134: tiered merge must retain tombstones")
      val panel = Seq(
        (0L, "sort merge join upd"), (1L, "query filter scan"))
        .toDF("qid", "qtext")
      TextAnalysis.bm25ProbeSegmented(s, path, panel, k = 12, "doc_id")
        .orderBy(col("qid"), col("score").desc, col("doc_id"))
    }),

    // scale primitive — packed-shard PAYLOAD writer (r11 verdict item
    // 7, the other half of q126's audit map): the actual fixed-length
    // token sequences a training job reads, assembled by slicing every
    // document at sequence boundaries and concatenating in corpus
    // order (two-pass prefix sum for offsets; every collect_list group
    // bounded at seqLen tokens by construction). The row under the
    // hash gate is read BACK from the written hive-partitioned shard
    // layout — green iff tokenize → pack → write → read loses nothing
    // vs the oracle's global-cumsum replay.
    "q135_packed_shards" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokens(coalesce(col("text"), lit("")))
            .as("toks"))
      val payloads = Packing.packShardPayloads(d, "toks", 64,
        col("source"), col("doc_id"))
      val path = scratchPath("packed_shards", dir)
      Packing.writePackedShards(payloads, path, seqsPerShard = 100L)
      s.read.parquet(path)
        .select(col("seq_id"), col("shard").cast("long").as("shard"),
          col("n_docs"), col("n_tokens"),
          array_join(col("tokens"), " ").as("payload"))
        .orderBy(col("seq_id"))
    }),

    // X2 — the drift-guarded IVF maintenance loop END-TO-END under the
    // gate (r11 verdict item 8; the drift scenario of NOTES_r11/r12.md,
    // driver-enforced): build → benign recrawl wave (refresh only, require NO
    // recenter) → hard-drift wave (gauges breach the fit-time baseline,
    // require recenter + rebuild) → probe the rebuilt index with every
    // cell probed against exact brute force on the final snapshot
    // (quantization-only loss, floor require()d). The hash-gated output
    // is the recentered index's per-cell drift stats, replayed by the
    // oracle off the written index + centroid parquet (q123's shape on
    // the post-loop artifacts).
    "q136_ivf_drift_loop" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val base = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
      val idxPath = scratchPath("ivfloop_index", dir)
      val centsPath = scratchPath("ivfloop_cents", dir)
      // k=8 cells: the loop's semantics (relative gauges, breach,
      // rebuild) are cell-count-independent, and this row already
      // pays TWO ML centroid fits + four index-layout writes — the
      // gate-completeness cost is halved without weakening what is
      // being proven (q31/q109/q123 keep gating the k=16 layouts)
      val k = 8
      val cents0 = Similarity.learnedCentroids(base, "embedding", k)
        .localCheckpoint()
      Similarity.ivfWriteIndexQuantized(base, cents0, "vec_id",
        "embedding", idxPath)
      // the baseline's full stats scan seeds wave 1's carry — the
      // delta-bounded contract from the very first wave
      val stats0 = Similarity.ivfDriftStats(s, idxPath, cents0)
        .localCheckpoint()
      val baseline = Similarity.ivfDriftGauges(stats0)
      // wave 1 — benign recrawl: ~1% of keys nudged by 1e-3; neither
      // gauge can move past its relative trigger
      val snap1 = base.select(col("vec_id"),
        when(col("vec_id") % 97 === 1,
          transform(col("embedding"), x => (x + lit(0.001f))))
          .otherwise(col("embedding")).as("embedding"))
      val changes1 = base.select(col("vec_id"),
        when(col("vec_id") % 97 === 1, lit("modified"))
          .otherwise(lit("unchanged")).as("status"))
      val (c1, b1, rec1, st1) = Similarity.ivfRefreshOrRecenter(s,
        idxPath, cents0, snap1, changes1, "vec_id", "embedding",
        baseline, k, prevStats = Some(stats0))
      require(!rec1, "q136: benign wave must not recenter")
      // wave 2 — a third of the corpus drifts hard (the NOTES_r11/r12.md
      // direction at full magnitude): displacement gauge breaches
      val snap2 = snap1.select(col("vec_id"),
        when(col("vec_id") % 3 === 0,
          transform(col("embedding"),
            (x, j) => (x + lit(1.0) * cos(j.cast("double")))
              .cast("float")))
          .otherwise(col("embedding")).as("embedding"))
      val changes2 = base.select(col("vec_id"),
        when(col("vec_id") % 3 === 0, lit("modified"))
          .otherwise(lit("unchanged")).as("status"))
      val (c2, _, rec2, _) = Similarity.ivfRefreshOrRecenter(s, idxPath,
        c1, snap2, changes2, "vec_id", "embedding", b1, k,
        prevStats = Some(st1))
      require(rec2, "q136: hard-drift wave must recenter")
      // probe parity on the rebuilt index: all cells probed ⇒ the only
      // loss is int8 quantization; exact brute force is the truth
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      val got = Similarity.ivfProbePrunedQuantized(s, idxPath, c2, qv,
          "vec_id", k = 10, nProbe = k)
        .select(col("vec_id"))
      val exact = Similarity.topK(snap2, qv, "vec_id", "embedding", 10)
        .select(col("vec_id"))
      val overlap = got.join(exact, Seq("vec_id")).count()
      require(overlap >= 6,
        s"q136: post-recenter probe overlap $overlap/10 vs exact")
      // gate surface: the recentered index's drift stats, oracle-
      // replayed off the written artifacts
      c2.coalesce(1).write.mode("overwrite").parquet(centsPath)
      val centsR = s.read.parquet(centsPath)
      val stats = graft.engine.Caching.cached(
        Similarity.ivfDriftStats(s, idxPath, centsR))
      val tot = stats.agg(sum(col("n")).as("tot"),
        max(col("n")).as("maxn"), count(lit(1)).as("cells"))
      stats.crossJoin(broadcast(tot))
        .select(col("centroid_id"), col("n"), col("cd_fp_sum"),
          col("mean_cd"),
          expr("(maxn * cells * 100) div tot").as("skew_x100"))
        .orderBy(col("centroid_id"))
    }),

    // capstone #7 — TOKEN-ID training shards, the full pretraining
    // tail in one gated flow: BPE fit → piece vocabulary with dense
    // ids (Ids.contiguousIds — the two-pass shape, no global window
    // even at 10⁷-piece production vocabularies) → documents encoded
    // to ordered id streams → packed into fixed 64-id sequences →
    // written as hive-partitioned shards → read BACK. What a training
    // job actually consumes is integer ids, not piece strings — q133
    // stops at the audit map, q135 packs raw words; this row closes
    // the gap. Oracle: segmentation + piece-id ranking + global
    // cumsum + slice replayed off the written vocab parquet.
    "q137_token_id_shards" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val (merges, vocabRaw) =
        BpeTokenizer.train(d, "text", numMerges = 16)
      require(merges.nonEmpty, "q137: no merges learned")
      val vc = graft.engine.Caching.cached(vocabRaw)
      val segPath = scratchPath("idshard_vocab", dir)
      vc.select(col("word"), col("syms"))
        .coalesce(1).write.mode("overwrite").parquet(segPath)
      // piece vocabulary: dense 0-based ids in piece string order —
      // contiguousIds' contract is row_number()−1, so the oracle
      // reproduces the mapping with a plain window over the (small)
      // distinct-piece set
      val pieceIds = graft.engine.Caching.cached(
        graft.operators.Ids.contiguousIds(
          vc.select(explode(col("syms")).as("piece")).distinct(),
          "id", col("piece")))
      val enc = BpeTokenizer.encode(d, "doc_id", "text", vc)
      val docStreams = enc
        .select(col("doc_id"), col("word_pos"),
          posexplode(col("syms")).as(Seq("piece_pos", "piece")))
        .join(pieceIds, Seq("piece"))
        .groupBy(col("doc_id"))
        // per-doc group, bounded by document length; (word_pos,
        // piece_pos) is a total order within the doc
        .agg(transform(array_sort(collect_list(struct(col("word_pos"),
            col("piece_pos"), col("id")))), x => x("id")).as("ids"))
      val payloads = Packing.packShardPayloads(
        d.select(col("doc_id"), col("source"))
          .join(docStreams, Seq("doc_id")),
        "ids", 64, col("source"), col("doc_id"))
      val outPath = scratchPath("idshard_out", dir)
      Packing.writePackedShards(payloads, outPath, seqsPerShard = 100L)
      s.read.parquet(outPath)
        .select(col("seq_id"), col("shard").cast("long").as("shard"),
          col("n_docs"), col("n_tokens"),
          concat_ws(" ", transform(col("tokens"), _.cast("string")))
            .as("payload"))
        .orderBy(col("seq_id"))
    }),

    // X3 — exact phrase search over the SEGMENTED index (positions
    // live in the BM25 segment postings since round 13 — Lucene's
    // actual layout — so the probe inherits the whole maintenance
    // family; the corpus lands as TWO segments here to pin
    // segment-invariance of the positional intersection): a bigram
    // AND a trigram probed over the same written layout, both
    // posting-list-bounded k-way positional intersections. The
    // oracle replays the SEMANTICS from the documents directly
    // (consecutive-token list comparison) — index layout, segment
    // membership, and intersection algebra must be invisible to the
    // answer, exactly like the BM25 merge rows.
    "q138_phrase_search" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = scratchPath("pos_index", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      TextAnalysis.bm25AppendSegment(
        d.filter(col("doc_id") % 2 === 0), "doc_id", "text", path, 0)
      TextAnalysis.bm25AppendSegment(
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text", path, 1)
      val bi = TextAnalysis.phraseSearch(s, path,
        Seq("sort", "merge"), "doc_id")
      val tri = TextAnalysis.phraseSearch(s, path,
        Seq("hash", "value", "table"), "doc_id")
      bi.withColumn("phrase", lit("sort merge"))
        .unionByName(tri.withColumn("phrase", lit("hash value table")))
        .orderBy(col("phrase"), col("doc_id"))
    }),

    // X3 — PROXIMITY search over the segmented positional layout:
    // tightest within-`maxSpan` co-occurrence window per document,
    // computed by the one-pass minimum-window scan (O(occurrences),
    // never the all-combinations product). The oracle replays the
    // SEMANTICS brute-force — min over every occurrence combination
    // of (max − min) — which the linear scan must equal exactly; two
    // term sets share one written index.
    "q139_proximity_search" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      val two = TextAnalysis.proximitySearch(s, path,
        Seq("sort", "merge"), maxSpan = 5L, "doc_id")
      val three = TextAnalysis.proximitySearch(s, path,
        Seq("query", "table", "join"), maxSpan = 6L, "doc_id")
      two.withColumn("q", lit("sort merge w5"))
        .unionByName(three.withColumn("q", lit("query table join w6")))
        .orderBy(col("q"), col("doc_id"))
    }),

    // X3 — PREFIX term search (`st*`) over the segmented positional
    // layout: the startsWith predicate pushes to the term-sorted scan
    // as StringStartsWith (plan-asserted in spec), so row-group
    // min/max stats prune outside the prefix's contiguous term range.
    // One written segment serves phrase, proximity, BM25, AND
    // wildcard queries from the same artifact.
    "q140_prefix_search" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      TextAnalysis.termPrefixSearch(s, path, "st", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // X3 × X1 — PHRASE SEARCH SURVIVES MAINTENANCE (the r12 verdict's
    // "done" bar for the segmented positional index): the exact q142
    // recrawl wave — two generations, a diff-driven tombstone +
    // fresh-segment + tiered-fold pass — applied to a layout whose
    // positions ride in the segment postings, then the phrase probe
    // runs on the MAINTAINED index. The builder requires the result
    // bit-identical to a from-scratch rebuild on the final corpus
    // (count + empty multiset difference, the q141 contract), and the
    // oracle replays phrase semantics over that same final corpus —
    // so append, tombstone algebra, renumbering fold, AND the
    // positional payload must all survive the wave byte-for-byte.
    // Modified docs gain a fresh " sort merge" suffix, so the wave
    // CHANGES the phrase answer: stale positions or lost tombstones
    // cannot hide.
    "q144_phrase_maintained" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val old = d.filter(col("doc_id") % 5 =!= 4)
      val status = when(col("doc_id") % 5 === 4, lit("added"))
        .when(col("doc_id") % 7 === 0, lit("modified"))
        .when(col("doc_id") % 11 === 3, lit("removed"))
        .otherwise(lit("unchanged"))
      val changes = d.select(col("doc_id"), status.as("status"))
      val newSnap = d
        .filter(status =!= "removed")
        .select(col("doc_id"),
          when(status === "modified",
            concat(col("text"), lit(" sort merge")))
            .otherwise(col("text")).as("text"))
      val path = scratchPath("posm_index", dir)
      val fresh = scratchPath("posm_fresh", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      fs.delete(new org.apache.hadoop.fs.Path(fresh), true)
      TextAnalysis.bm25AppendSegment(
        old.filter(col("doc_id") % 2 === 0), "doc_id", "text", path, 0)
      TextAnalysis.bm25AppendSegment(
        old.filter(col("doc_id") % 2 === 1), "doc_id", "text", path, 1)
      val (folds, remaining) = TextAnalysis.bm25ApplyRecrawl(s, path,
        old, newSnap, changes, "doc_id", "text", segment = 2,
        maxSegments = 2)
      require(folds == 1 && remaining == 2,
        s"q144: expected 1 fold down to 2 segments, got ($folds, $remaining)")
      val maintained = graft.engine.Caching.cached(
        TextAnalysis.phraseSearch(s, path, Seq("sort", "merge"),
          "doc_id"))
      TextAnalysis.bm25AppendSegment(newSnap, "doc_id", "text", fresh, 0)
      val rebuilt = graft.engine.Caching.cached(
        TextAnalysis.phraseSearch(s, fresh, Seq("sort", "merge"),
          "doc_id"))
      // equal row counts + one empty multiset difference ⟺ equal
      // multisets (the q141 spelling)
      require(maintained.count() == rebuilt.count() &&
          maintained.exceptAll(rebuilt).count() == 0,
        "q144: maintained phrase results diverged from a " +
          "from-scratch rebuild on the final corpus")
      maintained.orderBy(col("doc_id"))
    }),

    // X2 — IVF-PQ cell-incremental REFRESH under the hash gate (the
    // maintenance rung the int8 file gets from q109, for the PQ
    // layout): index built on snapshot A, then one recrawl wave with
    // adds + modifies + removes refreshed cell-incrementally —
    // codebooks and centroids FIXED, survivors keep their codes
    // verbatim. The builder require()s full membership parity with a
    // from-scratch re-encode of the final snapshot (the refresh must
    // be INVISIBLE to index content); the gated row is the ADC probe
    // over the refreshed layout, replayed by DuckDB off the written
    // artifacts exactly as q130.
    "q141_ivfpq_refresh" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val base = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
      // snapshot A lacks the %11==5 keys (they arrive in the wave)
      val snapA = base.filter(col("vec_id") % 11 =!= 5)
      val status = when(col("vec_id") % 11 === 5, lit("added"))
        .when(col("vec_id") % 7 === 1, lit("modified"))
        .when(col("vec_id") % 13 === 2, lit("removed"))
        .otherwise(lit("unchanged"))
      val changes = base.select(col("vec_id"), status.as("status"))
      val snapB = base
        .filter(status =!= "removed")
        .select(col("vec_id"),
          when(status === "modified",
            transform(col("embedding"), x => (x + lit(0.05f))))
            .otherwise(col("embedding")).as("embedding"))
      val path = scratchPath("ivfpqf_index", dir)
      val centsPath = scratchPath("ivfpqf_cents", dir)
      Similarity.learnedCentroids(snapA, "embedding", k = 16)
        .coalesce(1).write.mode("overwrite").parquet(centsPath)
      val cents = s.read.parquet(centsPath)
      ProductQuantize.ivfPqWriteIndex(snapA, cents, "vec_id",
        "embedding", m = 8, k = 16, path)
      val dirty = ProductQuantize.ivfPqRefreshIncremental(s, path,
        cents, snapB, changes, "vec_id", "embedding")
      require(dirty.nonEmpty, "q141: recrawl wave touched no cells")
      // the wave sealed generation 1; vacuum by the retention dial
      Similarity.ivfVacuumQuantized(s, s"$path/codes",
        keepGenerations = 2, Seq(SegmentManifest.CellLayout,
          SegmentManifest.BooksLayout))
      // membership parity: refreshed content == from-scratch encode of
      // the final snapshot against the SAME codebooks + centroids
      // (manifest-aware read — the MVCC wave's cells live under the
      // sealed composition, not the plain hive glob)
      val cb = s.read.parquet(s"$path/codebooks")
      val expect = ProductQuantize.pqEncode(snapB, "vec_id",
          "embedding", cb, m = 8)
        .join(Similarity.ivfAssignCosine(snapB, cents, "vec_id",
          "embedding"), Seq("vec_id"))
        .select(col("vec_id"), col("codes"), col("centroid_id"))
      val got = graft.engine.Caching.cached(
        Similarity.readQuantizedIndex(s, s"$path/codes")
          .select(col("vec_id"), col("codes"),
            col("centroid_id").cast("long").as("centroid_id")))
      // equal row counts + one empty set-difference ⟺ equal multisets
      // (half the exceptAll cost of the two-sided spelling)
      require(got.count() == expect.count() &&
          got.exceptAll(expect).count() == 0,
        "q141: refreshed index diverged from a from-scratch re-encode")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      ProductQuantize.ivfPqProbe(s, path, cents, qv, "vec_id",
        k = 10, nProbe = 3)
    }),

    // X3 — best-window SNIPPET extraction over the segmented
    // positional layout (the Lucene-highlighter core, the
    // retrieval-display primitive): per matching document the
    // tightest window covering one occurrence of every PRESENT query
    // term — subset matching included (a single-term doc snippets at
    // its first occurrence) — materialized to the actual token-slice
    // text. Ties break to the earliest window (smallest end), which
    // is exactly what the left-to-right minimum-window scan produces
    // and what the oracle's lexicographic [span, end] list_min
    // replays. Two term sets share one written index.
    "q147_snippets" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      val toks = d.select(col("doc_id"),
        TextAnalysis.tokens(coalesce(col("text"), lit(""))).as("t"))
      def withText(sn: org.apache.spark.sql.DataFrame,
                   q: String): org.apache.spark.sql.DataFrame =
        sn.join(toks, Seq("doc_id"))
          .select(col("doc_id"), lit(q).as("q"), col("n_matched"),
            col("start_pos"), col("end_pos"),
            concat_ws(" ", slice(col("t"),
              (col("start_pos") + 1).cast("int"),
              (col("end_pos") - col("start_pos") + 1).cast("int")))
              .as("snippet"))
      val two = TextAnalysis.snippetSpans(s, path,
        Seq("sort", "merge"), minMatched = 1, "doc_id")
      val three = TextAnalysis.snippetSpans(s, path,
        Seq("query", "table", "join"), minMatched = 3, "doc_id")
      withText(two, "sort merge any")
        .unionByName(withText(three, "query table join all"))
        .orderBy(col("q"), col("doc_id"))
    }),

    // X3 — FUZZY term search over the segmented layout (Lucene's
    // fuzzy query: term-dictionary expansion within Levenshtein
    // maxDist — vocabulary-sized, driver-bounded — then the same
    // pushed `term IN` posting probe as phrase). Two probes share
    // one written segment: an exact-ish term and a misspelling that
    // only the expansion can reach. Oracle replays the semantics off
    // the token stream with DuckDB's levenshtein — the two engines'
    // edit-distance must agree term for term.
    "q148_fuzzy_search" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      val f1 = TextAnalysis.fuzzyTermSearch(s, path, "sort",
          maxDist = 1, "doc_id")
        .withColumn("q", lit("sort~1"))
      val f2 = TextAnalysis.fuzzyTermSearch(s, path, "tble",
          maxDist = 1, "doc_id")
        .withColumn("q", lit("tble~1"))
      f1.unionByName(f2).orderBy(col("q"), col("doc_id"))
    }),

    // X3 — Lucene's BooleanQuery over the segmented layout: a doc
    // matches iff it has EVERY must term, NONE of the mustNot terms,
    // and (must empty) ≥1 should term; score = BM25 sum over its
    // distinct positive terms through the ONE shared fixed-point
    // contribution (contribFp — the q115 arithmetic). Two panels:
    // must+mustNot, and should-only. One pushed `term IN` scan + one
    // groupBy(id) folding flags and score together — the exclusion
    // is a max(when) flag, never an anti-join.
    "q149_boolean_search" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      val b1 = TextAnalysis.booleanSearch(s, path,
          must = Seq("sort", "merge"), should = Nil,
          mustNot = Seq("scan"), k = 15, "doc_id")
        .withColumn("q", lit("+sort +merge -scan"))
      val b2 = TextAnalysis.booleanSearch(s, path,
          must = Nil, should = Seq("query", "filter"),
          mustNot = Nil, k = 15, "doc_id")
        .withColumn("q", lit("query filter"))
      b1.unionByName(b2)
        .orderBy(col("q"), col("score").desc, col("doc_id"))
    }),

    // X3 — Lucene's MoreLikeThis over the segmented layout: the seed
    // document's terms ranked by tf·idf against the index (fixed-
    // point, ties to the smaller term), top maxQueryTerms run as a
    // should-only boolean query through the ONE shared contribFp
    // arithmetic, seed excluded before the top-k cut. One pushed
    // `term IN` posting scan feeds BOTH selection and scoring. Two
    // seeds with different panel widths on one written segment.
    "q150_more_like_this" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      def seedText(id: Long): String = d
        .filter(col("doc_id") === id).select(col("text"))
        .collect()(0).getString(0)
      val m1 = TextAnalysis.moreLikeThis(s, path, seedText(3L),
          maxQueryTerms = 8, k = 12, "doc_id",
          excludeIds = Seq(3L))
        .withColumn("q", lit("like:3"))
      val m2 = TextAnalysis.moreLikeThis(s, path, seedText(7L),
          maxQueryTerms = 5, k = 10, "doc_id",
          excludeIds = Seq(7L))
        .withColumn("q", lit("like:7"))
      m1.unionByName(m2)
        .orderBy(col("q"), col("score").desc, col("doc_id"))
    }),

    // X3 — WILDCARD term search (Lucene's wildcard query: dictionary
    // expansion via LIKE-translated pattern — a literal prefix before
    // the first wildcard is pushed as startsWith so the term-sorted
    // layout's parquet stats prune; leading-* pays the full
    // vocabulary pass), then the shared posting probe. Three probes
    // on one segment: prefix-banded, leading-star, and ?-classes.
    "q151_wildcard_search" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      val w1 = TextAnalysis.wildcardTermSearch(s, path, "s*", "doc_id")
        .withColumn("q", lit("s*"))
      val w2 = TextAnalysis.wildcardTermSearch(s, path, "*er", "doc_id")
        .withColumn("q", lit("*er"))
      val w3 = TextAnalysis.wildcardTermSearch(s, path, "?a??",
          "doc_id")
        .withColumn("q", lit("?a??"))
      w1.unionByName(w2).unionByName(w3)
        .orderBy(col("q"), col("doc_id"))
    }),

    // X3 — FACETED search (the Solr facet model: the FULL should-
    // match set — posting-bounded membership through the tombstone
    // kill rule, documents never read to decide it — counted by each
    // facet attribute in ONE pass; null values are the missing-value
    // bucket).
    "q152_search_facets" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      TextAnalysis.searchFacets(s, path, Seq("query", "scan"), d,
          "doc_id", Seq("lang", "source"))
        .orderBy(col("facet"), col("value"))
    }),

    // X3 — ORDERED near search (Lucene SpanNearQuery inOrder=true):
    // terms must occur IN QUERY ORDER within the tightest span ≤
    // maxSpan — the constraint proximitySearch's unordered window
    // can't express. Minimal ordered window via the latest-possible-
    // start subsequence DP, one aggregate HOF per doc (never the
    // ∏|positions| product). Two probes (a pair and a triple) on one
    // written segment; the oracle brute-forces every ordered
    // occurrence combination, so the DP must agree with exhaustive
    // enumeration doc for doc.
    "q153_ordered_near" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      val o1 = TextAnalysis.orderedNearSearch(s, path,
          Seq("slow", "query"), maxSpan = 6L, "doc_id")
        .withColumn("q", lit("slow->query/6"))
      val o2 = TextAnalysis.orderedNearSearch(s, path,
          Seq("hash", "table", "scan"), maxSpan = 12L, "doc_id")
        .withColumn("q", lit("hash->table->scan/12"))
      o1.unionByName(o2).orderBy(col("q"), col("doc_id"))
    }),

    // X3 — NUMERIC RANGE facets (Lucene LongRangeFacetCounts): the
    // posting-bounded should-match set counted against half-open
    // [lo, hi) value ranges of n_chars — overlapping ranges count a
    // doc once per range, an empty range still emits its 0 row (the
    // facet-UI contract), and all ranges fold in ONE aggregate pass
    // (|ranges| conditional sums to a single row, then a literal
    // explode — no per-range re-scan).
    "q154_range_facets" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      TextAnalysis.searchRangeFacets(s, path, Seq("query", "scan"), d,
          "doc_id", "n_chars", Seq(
            ("short", 0L, 200L), ("mid", 200L, 350L),
            ("long", 350L, 600L), ("all", 0L, 1000L),
            ("none", 600L, 1000L)))
        .orderBy(col("range"))
    }),

    // X3 — minimum-should-match (Lucene/Solr's mm): ≥ mm DISTINCT
    // should terms per doc, folded as one more count_distinct(when)
    // in booleanSearch's single aggregate — no extra scan. Two
    // panels: should-only with mm=2 of 4, and must+should with mm=1
    // (must terms never count toward the quota — Lucene's
    // accounting). Scoring stays the ONE shared contribFp arithmetic.
    "q155_min_should_match" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      val m1 = TextAnalysis.booleanSearch(s, path,
          must = Nil, should = Seq("sort", "merge", "hash", "join"),
          mustNot = Nil, k = 15, "doc_id", minShouldMatch = 2)
        .withColumn("q", lit("sort merge hash join mm=2"))
      val m2 = TextAnalysis.booleanSearch(s, path,
          must = Seq("scan"), should = Seq("slow", "fast"),
          mustNot = Nil, k = 15, "doc_id", minShouldMatch = 1)
        .withColumn("q", lit("+scan slow fast mm=1"))
      m1.unionByName(m2)
        .orderBy(col("q"), col("score").desc, col("doc_id"))
    }),

    // X2+X3 capstone — HYBRID retrieval off the engine's own index
    // artifacts (q103 fused the two SCAN paths; this row fuses the
    // INDEX paths a production deployment actually serves): sparse =
    // the segmented BM25 probe (pushed `term IN`, tombstone kill
    // rule, exact reconstructed stats — the q115 arithmetic), dense =
    // the IVF cosine probe against MATERIALIZED centroids (nProbe
    // cell pruning — the q31 replay contract), fused by fixed-point
    // RRF. The oracle replays the lexical side from the token stream,
    // the dense side from the same centroid parquet (assignment,
    // probe ranking, rounded cosine), and the integer RRF fold — so
    // index-path scoring must match scan-path semantics end to end.
    "q156_hybrid_index_search" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val e = Tables(s, dir, "embeddings")
      val path = fxDocsBm25(s, dir)
      Similarity.learnedCentroids(e, "embedding", k = 16)
        .coalesce(1).write.mode("overwrite")
        .parquet(scratchPath("hyb_cents", dir))
      val cents = s.read.parquet(scratchPath("hyb_cents", dir))
      val textPanel = Seq(
        (0L, "merge sort window"), (1L, "stream batch join"),
        (2L, "hash table scan"), (3L, "slow query filter"))
        .toDF("qid", "qtext")
      val vecPanel = e.filter(col("vec_id").isin(0L, 1L, 2L, 3L))
        .select(col("vec_id").as("qid"),
          VectorFns.toDouble(col("embedding")).as("qvec"))
      val sparse = Similarity.rankByScore(
        TextAnalysis.bm25ProbeSegmented(s, path, textPanel, k = 20,
          "doc_id"),
        "doc_id", "score")
      val dense = Similarity.rankByScore(
        Similarity.ivfTopKCosineMulti(e, cents, vecPanel,
            "vec_id", "embedding", k = 20, nProbe = 3)
          .withColumnRenamed("vec_id", "doc_id"),
        "doc_id", "sim")
      Similarity.rrfFuse(Seq(sparse, dense), "doc_id", k = 10)
        .orderBy(col("qid"), col("rrf_fp").desc, col("doc_id"))
    }),

    // X2 — FILTERED ANN (attribute-constrained vector search, the
    // production vector-store query class): the attribute predicate
    // runs on the metadata relation, the written cosine IVF index is
    // partition-pruned to nProbe cells, and the candidates PRE-filter
    // through a left-semi join before the exact top-k — post-
    // filtering a top-k list would under-fill k. Two filters of
    // different selectivity over one written index + materialized
    // centroids; the oracle replays assignment, cell pruning, filter,
    // and rounded cosine from the same centroid parquet.
    "q157_filtered_ann" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      val cents = s.read.parquet(fxEmbCents16(s, dir))
      val ipath = fxEmbIvfCosine(s, dir)
      val f1 = Similarity.ivfProbePrunedCosineFiltered(s, ipath,
          cents, qv, "vec_id", "embedding", k = 10, nProbe = 3,
          allowed = e.filter(col("label") % 3 === 0))
        .withColumn("q", lit("label%3=0"))
      val f2 = Similarity.ivfProbePrunedCosineFiltered(s, ipath,
          cents, qv, "vec_id", "embedding", k = 10, nProbe = 3,
          allowed = e.filter(col("label") === 7))
        .withColumn("q", lit("label=7"))
      f1.unionByName(f2).orderBy(col("q"), col("sim").desc,
        col("vec_id"))
    }),

    // X3 — searchAfter (Lucene's keyset pagination): page 2 passes
    // page 1's last (score, id) cursor and must continue the total
    // (score DESC, id ASC) order EXACTLY — the oracle pins keyset
    // continuation against OFFSET paging over the full ranking, which
    // only agree when the cursor filter is precise on the rounded
    // score. Unlike OFFSET, page n never re-ranks n·k rows.
    "q158_search_after" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      def page(after: Option[(Double, Long)]) =
        TextAnalysis.booleanSearch(s, path, must = Nil,
          should = Seq("query", "filter"), mustNot = Nil, k = 8,
          "doc_id", after = after)
      val p1 = page(None)
      val rows = p1.orderBy(col("score").desc, col("doc_id")).collect()
      val cursor = (rows.last.getDouble(rows.last.fieldIndex("score")),
        rows.last.getLong(rows.last.fieldIndex("doc_id")))
      val p2 = page(Some(cursor))
      p1.withColumn("page", lit(1))
        .unionByName(p2.withColumn("page", lit(2)))
        .orderBy(col("page"), col("score").desc, col("doc_id"))
    }),

    // X3 — score EXPLAIN (Lucene's Explanation): per-term (tf, df,
    // contrib_fp, contrib) decomposition of the top-3 docs' scores,
    // through the ONE shared contribFp integer — Σ contrib_fp
    // replays the q149 score exactly (integers are exact; summed
    // rounded doubles would drift). The explain set is chosen BY the
    // engine's own ranking, so the oracle must reproduce both the cut
    // and the decomposition.
    "q159_score_explain" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      val terms = Seq("sort", "merge", "scan")
      val top = TextAnalysis.booleanSearch(s, path, must = Nil,
          should = terms, mustNot = Nil, k = 3, "doc_id")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted
      TextAnalysis.bm25Explain(s, path, terms, top, "doc_id")
        .orderBy(col("doc_id"), col("term"))
    }),

    // X3 — FILTERED search (the lexical analog of q157's filtered
    // ANN, and Lucene's filter/clause composition): the same boolean
    // panel restricted by (a) an attribute relation (search WHERE
    // lang = 'en') and (b) another probe's match set (phraseSearch as
    // a required PhraseQuery clause). PRE-filter semantics — a
    // left-semi join before the top-k cut, so k fills whenever the
    // match set holds k docs; the filter clause scores zero, exactly
    // Lucene.
    "q160_filtered_search" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      val f1 = TextAnalysis.booleanSearch(s, path, must = Nil,
          should = Seq("query", "scan"), mustNot = Nil, k = 12,
          "doc_id", allowed = Some(d.filter(col("lang") === "en")))
        .withColumn("q", lit("query scan lang=en"))
      val phraseIds = TextAnalysis.phraseSearch(s, path,
        Seq("slow", "query"), "doc_id")
      val f2 = TextAnalysis.booleanSearch(s, path, must = Nil,
          should = Seq("filter", "join"), mustNot = Nil, k = 12,
          "doc_id", allowed = Some(phraseIds))
        .withColumn("q", lit("filter join +\"slow query\""))
      f1.unionByName(f2)
        .orderBy(col("q"), col("score").desc, col("doc_id"))
    }),

    // X2 — COVERING-INDEX filtered ANN (q157's sibling): the filter
    // attribute (label) was WRITTEN INTO the index rows, so the
    // predicate is a plain Column over the index scan — PushedFilters
    // under the cell PartitionFilters, zero joins (vs q157's
    // semi-join against a separate metadata relation; at 100 TB
    // that's the denormalize-into-the-index trade). Same pre-filter
    // semantics; oracle identical in shape to q157's replay.
    "q163_covering_filtered_ann" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      // the fixture's base carries (vec_id, embedding, label) —
      // label rides into the cells: the covering write
      val cents = s.read.parquet(fxEmbCents16(s, dir))
      val ipath = fxEmbIvfCosine(s, dir)
      val f1 = Similarity.ivfProbePrunedCosinePredicate(s, ipath,
          cents, qv, "vec_id", "embedding", k = 10, nProbe = 3,
          pred = col("label") % 2 === 1)
        .withColumn("q", lit("label%2=1"))
      val f2 = Similarity.ivfProbePrunedCosinePredicate(s, ipath,
          cents, qv, "vec_id", "embedding", k = 10, nProbe = 3,
          pred = col("label").between(3, 9))
        .withColumn("q", lit("label in [3,9]"))
      f1.unionByName(f2).orderBy(col("q"), col("sim").desc,
        col("vec_id"))
    }),

    // X3 — SEGMENT INFOS (Lucene's SegmentInfos): the per-generation
    // inventory (n_docs, sum_dl, n_terms, n_tombstones) read entirely
    // from the maintenance artifacts — postings never touched. Built
    // over q161's two-generation wave so every column is replayable
    // from the raw table: the oracle re-derives each generation's
    // exact partials from the corpus slices and the wave's kill set.
    "q164_segment_infos" -> ((s, dir) => {
      val path = fxDocsTwoGen(s, dir)
      TextAnalysis.segmentInfos(s, path, "doc_id")
        .orderBy(col("seg"))
    }),

    // X3 — SYNONYM QUERY (Lucene's SynonymQuery): each group scored
    // as ONE pseudo-term — member tfs summed per doc, df the EXACT
    // count of live docs containing ≥1 member (where Lucene
    // approximates with max-of-member-dfs, the relational form
    // affords the union cardinality) — through the shared contribFp
    // arithmetic. Two panels on one segment: a two-member synset
    // beside a plain term, and a three-member synset alone.
    "q165_synonym_search" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      val r1 = TextAnalysis.synonymSearch(s, path,
          Seq(Seq("scan", "seek"), Seq("merge")), k = 15, "doc_id")
        .withColumn("q", lit("syn(scan,seek) merge"))
      val r2 = TextAnalysis.synonymSearch(s, path,
          Seq(Seq("fast", "quick", "rapid")), k = 15, "doc_id")
        .withColumn("q", lit("syn(fast,quick,rapid)"))
      r1.unionByName(r2)
        .orderBy(col("q"), col("score").desc, col("doc_id"))
    }),

    // X3 — DISJUNCTION MAX (Lucene's DisjunctionMaxQuery): per-clause
    // BM25 sums fold the shared contribFp longs; the doc's score is
    // max-clause + tiebreak × rest, the combine rounded to a long
    // ONCE before the public rounding. Two panels: overlapping
    // clauses at tiebreak 0.3, and pure-max (tiebreak 0) where only
    // the best clause counts.
    "q166_dismax_search" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      val r1 = TextAnalysis.disMaxSearch(s, path,
          Seq(Seq("sort", "merge"), Seq("scan", "sort")),
          tiebreak = 0.3, k = 15, "doc_id")
        .withColumn("q", lit("dismax0.3"))
      val r2 = TextAnalysis.disMaxSearch(s, path,
          Seq(Seq("query", "filter"), Seq("window")),
          tiebreak = 0.0, k = 15, "doc_id")
        .withColumn("q", lit("dismax0.0"))
      r1.unionByName(r2)
        .orderBy(col("q"), col("score").desc, col("doc_id"))
    }),

    // X3 — BM25F (Robertson & Zaragoza 2004): multi-field ranking
    // where per-field tfs are length-normalized and weight-combined
    // into ONE pseudo-frequency BEFORE saturation. Fields synthesized
    // deterministically from the corpus — title = first 4 tokens
    // (weight 2, weak length norm b=0.4), body = the rest (weight 1,
    // b=0.75) — so the oracle replays the split, both normalizations,
    // and the document-level df exactly.
    "q167_bm25f" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val toks = split(coalesce(col("text"), lit("")), " ")
      val fielded = d.select(col("doc_id"),
        array_join(slice(toks, 1, 4), " ").as("title"),
        array_join(slice(toks, 5, 1000000), " ").as("body"))
      val panel = Seq((0L, "table scan"), (1L, "merge sort fast"))
        .toDF("qid", "qtext")
      TextAnalysis.bm25fTopK(fielded, "doc_id",
          Seq(("title", 2.0, 0.4), ("body", 1.0, 0.75)), panel, k = 12)
        .orderBy(col("qid"), col("score").desc, col("doc_id"))
    }),

    // X3 — BM25F off WRITTEN per-field indexes (q167's index-backed
    // sibling): one STANDARD segmented index per field — title and
    // body each inherit the whole maintenance family with zero new
    // layout code — probed through the shared kill rule and combined
    // with the identical BM25F arithmetic. The oracle is q167's
    // replay VERBATIM: the layout must be invisible to scoring (the
    // q114/q115 index≡scan precedent, now multi-field).
    "q180_bm25f_indexed" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val toks = split(coalesce(col("text"), lit("")), " ")
      val fielded = d.select(col("doc_id"),
        array_join(slice(toks, 1, 4), " ").as("title"),
        array_join(slice(toks, 5, 1000000), " ").as("body"))
      val tPath = scratchPath("bm25f_title_idx", dir)
      val bPath = scratchPath("bm25f_body_idx", dir)
      val fs = new org.apache.hadoop.fs.Path(tPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq(tPath, bPath).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      TextAnalysis.bm25AppendSegment(
        fielded.select(col("doc_id"), col("title").as("text")),
        "doc_id", "text", tPath, 0)
      TextAnalysis.bm25AppendSegment(
        fielded.select(col("doc_id"), col("body").as("text")),
        "doc_id", "text", bPath, 0)
      val panel = Seq((0L, "table scan"), (1L, "merge sort fast"))
        .toDF("qid", "qtext")
      TextAnalysis.bm25fProbeIndexed(s,
          Seq((tPath, 2.0, 0.4), (bPath, 1.0, 0.75)), panel, k = 12,
          "doc_id")
        .orderBy(col("qid"), col("score").desc, col("doc_id"))
    }),

    // X3 — FIELD COLLAPSING (Lucene CollapsingTopDocs / Solr
    // collapse): one best hit per source before the top-k cut, so the
    // page holds k distinct sources — result diversification. The
    // group key joins onto the aggregate-sized match set, never the
    // corpus.
    "q168_collapsed_search" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      TextAnalysis.booleanSearch(s, path, must = Nil,
          should = Seq("query", "filter"), mustNot = Nil, k = 8,
          "doc_id", collapse = Some((d, "source")))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // X2 — BATCHED IVF probe: a 3-query panel served by ONE index
    // scan pruned to the union of probed cells; per-query results
    // must be bit-identical to independent probes (the spec pins
    // that), and the oracle replays each query's cell ranking,
    // assignment, and top-k cut from the written centroid parquet.
    "q169_batched_ann" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val qids = Seq(0L, 1L, 2L)
      val base = e.filter(!col("vec_id").isin(qids: _*))
      Similarity.learnedCentroids(base, "embedding", k = 16)
        .coalesce(1).write.mode("overwrite")
        .parquet(scratchPath("bann_cents", dir))
      val cents = s.read.parquet(scratchPath("bann_cents", dir))
      val ipath = scratchPath("bann_index", dir)
      Similarity.ivfWriteIndexCosine(base, cents, "vec_id",
        "embedding", ipath)
      val panel = e.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"),
          VectorFns.toDouble(col("embedding")).as("qvec"))
      Similarity.ivfProbePrunedCosineMulti(s, ipath, cents, panel,
          "vec_id", "embedding", k = 10, nProbe = 3)
        .orderBy(col("qid"), col("sim").desc, col("vec_id"))
    }),

    // X2 — RANGE SEARCH (FAISS range_search): every vector with
    // similarity ≥ the radius, not a top-k cut — result size is
    // data-dependent. Shares the partition-pruned read and the
    // nProbe recall dial with the top-k probe; the threshold
    // compares on the rounded similarity so the boundary replays.
    "q170_range_search" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      val cents = s.read.parquet(fxEmbCents16(s, dir))
      val ipath = fxEmbIvfCosine(s, dir)
      Similarity.ivfRangeSearchCosine(s, ipath, cents, qv, "vec_id",
          "embedding", minSim = 0.15, nProbe = 4)
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // X2 — EXACT-REFINE after ADC (FAISS IndexRefineFlat): the IVF-PQ
    // probe keeps top refine=50 by integer ADC, then exactly those 50
    // re-rank by true cosine against the original floats (a pushed
    // `id IN` scan — the candidate list is refine-bounded by
    // construction). Provably ≥ raw ADC on recall; the oracle replays
    // BOTH stages off the written artifacts: the fixed-point lookup
    // sums, the 50-cut, and the exact re-rank.
    "q171_pq_refine" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val base = e.filter(col("vec_id") =!= 0)
      Similarity.learnedCentroids(base, "embedding", k = 16)
        .coalesce(1).write.mode("overwrite")
        .parquet(scratchPath("refine_cents", dir))
      val cents = s.read.parquet(scratchPath("refine_cents", dir))
      val path = scratchPath("refine_index", dir)
      ProductQuantize.ivfPqWriteIndex(base, cents, "vec_id",
        "embedding", m = 8, k = 16, path)
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      ProductQuantize.ivfPqProbeRefined(s, path, cents, qv, base,
          "vec_id", "embedding", k = 10, nProbe = 3, refine = 50)
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // X3 — PER-TERM BOOSTS (Lucene's query^3 syntax): the boosted
    // term's whole contribution scales before the shared fixed-point
    // floor; match semantics untouched. Two panels: a should-only
    // query with opposing boosts (3× vs 0.5×), and a must+should
    // query boosting only the should term.
    "q172_boosted_search" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      val r1 = TextAnalysis.booleanSearch(s, path, must = Nil,
          should = Seq("query", "filter"), mustNot = Nil, k = 15,
          "doc_id", boosts = Map("query" -> 3.0, "filter" -> 0.5))
        .withColumn("q", lit("query^3 filter^0.5"))
      val r2 = TextAnalysis.booleanSearch(s, path,
          must = Seq("sort"), should = Seq("merge"), mustNot = Nil,
          k = 15, "doc_id", boosts = Map("merge" -> 2.0))
        .withColumn("q", lit("+sort merge^2"))
      r1.unionByName(r2)
        .orderBy(col("q"), col("score").desc, col("doc_id"))
    }),

    // X3 — PERCOLATION (Elasticsearch's percolate query): REVERSE
    // search — the corpus matched against a STORED table of boolean
    // queries in one pass (alerting/routing: "which saved searches
    // does this doc trigger?"). Set semantics only — membership, not
    // ranking. Four stored queries spanning must-only, must+mustNot,
    // and a conjunctive pair.
    "q173_percolate" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val stored = Seq(
        (1L, Seq("sort", "merge"), Seq("scan")),
        (2L, Seq("query"), Seq.empty[String]),
        (3L, Seq("slow", "fast"), Seq.empty[String]),
        (4L, Seq("window", "stream"), Seq("batch")))
        .toDF("query_id", "must", "must_not")
      // the gated path is the INDEXED percolator (r13 verdict item
      // 3): stored queries as an inverted terms→queries artifact with
      // ES's minimum-term covering rule — candidate generation is a
      // distributed term join, never a broadcast of the query table.
      // The broadcast form stays the small-rule-set fast path; the
      // two are pinned bit-identical in the percolateIndexed spec
      // (running BOTH forms in the benched row tripled its wall for
      // a parity the spec already owns — r14 verdict item 5)
      val path = scratchPath("perc_qindex", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      TextAnalysis.percolateWriteQueryIndex(stored, path)
      TextAnalysis.percolateIndexed(s, path, d, "doc_id", "text")
        .orderBy(col("query_id"), col("doc_id"))
    }),

    // X3 — COMPLETION SUGGEST (Lucene's suggest module): dictionary
    // terms extending a prefix ranked by LIVE document frequency —
    // the autocomplete primitive, df through the tombstone kill rule
    // (a killed doc stops counting; a fully-deleted term can never be
    // suggested). One segment + a tombstone wave killing every 7th
    // doc; the oracle replays df over the surviving corpus.
    "q174_completion_suggest" -> ((s, dir) => {
      val path = fxDocsTombstoned(s, dir)
      val c1 = TextAnalysis.completionSuggest(s, path, "s", k = 8,
          "doc_id")
        .withColumn("q", lit("s*"))
      val c2 = TextAnalysis.completionSuggest(s, path, "fi", k = 5,
          "doc_id")
        .withColumn("q", lit("fi*"))
      c1.unionByName(c2).orderBy(col("q"), col("df").desc, col("term"))
    }),

    // X3 — SIGNIFICANT TERMS (Elasticsearch's significant_terms, JLH):
    // terms overrepresented in the 'sort OR filter' match set vs the
    // live corpus background — foreground/background dfs computed in
    // ONE further postings pass, scores from exact integer dfs. Same
    // tombstone wave as q174 so liveness enters both sides.
    "q175_significant_terms" -> ((s, dir) => {
      val path = fxDocsTombstoned(s, dir)
      TextAnalysis.significantTerms(s, path, Seq("sort", "filter"),
          k = 15, "doc_id", minDf = 2)
        .orderBy(col("score").desc, col("term"))
    }),

    // A7 widening — PIVOT to wide format (month × event_type counts +
    // integer-cents sums): the values list is EXPLICIT, which both
    // fixes the output schema and skips the values-discovery job a
    // bare pivot() runs — the scale-correct form (a discovery pass
    // over 100 TB to learn 5 labels is a wasted scan). Cents are the
    // established exact-decimal spelling, so every cell is an
    // integer both engines reproduce bit-for-bit.
    "q176_pivot" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      e.select(dayofmonth(col("ts")).as("dom"), col("event_type"),
          (dec(col("value")) * 100).cast("long").as("cents"))
        .groupBy(col("dom"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy(col("dom"))
    }),

    // X3 — FUNCTION SCORE (Elasticsearch's function_score, doc-value
    // factor): each match's rounded query score multiplies by a
    // popularity factor (ln(1 + n_chars)) and the TOP-K CUT RANKS THE
    // COMBINED value — ES's composition order. The factor join lands
    // on the aggregate-sized match set.
    "q177_function_score" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      val pop = d.select(col("doc_id"),
        log(lit(1.0) + col("n_chars")).as("pop"))
      TextAnalysis.booleanSearch(s, path, must = Nil,
          should = Seq("query", "filter"), mustNot = Nil, k = 12,
          "doc_id", factor = Some((pop, "pop")))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // X3 — GROUPED TOP-N (Solr grouping's group.limit): the collapse
    // generalized to the best 2 hits per source before the top-k cut
    // — a page of k hits spanning ≥ k/2 distinct sources.
    "q178_grouped_topn" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      TextAnalysis.booleanSearch(s, path, must = Nil,
          should = Seq("query", "filter"), mustNot = Nil, k = 12,
          "doc_id", collapse = Some((d, "source")), collapseTop = 2)
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // X3 — RESCORE window (Elasticsearch's rescorer): the cheap
    // 'sort merge' should-query prunes to a top-50 window, then the
    // positional phrase probe boosts exact "sort merge" phrases by
    // +0.5 — the final cut ranks the combined value. Two-stage
    // relevance economics under one hash gate.
    "q179_rescore_phrase" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      TextAnalysis.rescoreWithPhrase(s, path,
          should = Seq("sort", "merge"),
          phrase = Seq("sort", "merge"), windowN = 50, k = 12,
          "doc_id", queryWeight = 1.0, rescoreWeight = 0.5)
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // X3 — HAS-CHILD (Elasticsearch's parent-child query): sources
    // ranked by their matching documents — the uncut child match set
    // folds per parent under two score modes (max and avg), gated
    // with a ≥3-children floor so the fold semantics (count, mode
    // arithmetic, threshold) all enter the hash.
    "q181_has_child" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      val h1 = TextAnalysis.hasChildSearch(s, path, must = Nil,
          should = Seq("query", "filter"), mustNot = Nil,
          parents = d, parentCol = "source", minChildren = 3,
          scoreMode = "max", k = 10, "doc_id")
        .withColumn("q", lit("max"))
      val h2 = TextAnalysis.hasChildSearch(s, path, must = Nil,
          should = Seq("query", "filter"), mustNot = Nil,
          parents = d, parentCol = "source", minChildren = 3,
          scoreMode = "avg", k = 10, "doc_id")
        .withColumn("q", lit("avg"))
      h1.unionByName(h2)
        .orderBy(col("q"), col("score").desc, col("source"))
    }),

    // X3 — SEARCH-SERVICE CAPSTONE (the q102 precedent, lexical):
    // ONE maintained index (two generations — kills, a modify wave,
    // fresh docs) serves a mixed panel — boolean ranking, positional
    // phrase, completion suggest — in one hash, so the kill rule,
    // stats correction, position shifts from modified text, and the
    // dict superset invariant all interact under the gate. The
    // oracle rebuilds the final corpus state and replays each probe.
    "q182_search_capstone" -> ((s, dir) => {
      val path = fxDocsTwoGen(s, dir)
      val b = TextAnalysis.booleanSearch(s, path, must = Nil,
          should = Seq("query", "filter"), mustNot = Nil, k = 10,
          "doc_id")
        .select(lit("bool").as("kind"),
          col("doc_id").cast("string").as("key"),
          col("score").cast("double").as("val"))
      val p = TextAnalysis.phraseSearch(s, path, Seq("sort", "merge"),
          "doc_id")
        .select(lit("phrase").as("kind"),
          col("doc_id").cast("string").as("key"),
          col("n_matches").cast("double").as("val"))
      val c = TextAnalysis.completionSuggest(s, path, "s", k = 5,
          "doc_id")
        .select(lit("compl").as("kind"), col("term").as("key"),
          col("df").cast("double").as("val"))
      b.unionByName(p).unionByName(c)
        .orderBy(col("kind"), col("key"), col("val"))
    }),

    // X3 — POSITIONAL TIME TRAVEL (q161's phrase sibling): the same
    // two-generation wave, probed asOf=0 and live — the generation
    // cut must replay generation-0 phrase matches bit-for-bit
    // (positions shift in the modified docs, so a leaked gen-1
    // posting moves first_pos and goes red).
    "q183_phrase_time_travel" -> ((s, dir) => {
      val path = fxDocsTwoGen(s, dir)
      val asOf = TextAnalysis.phraseSearch(s, path,
          Seq("sort", "merge"), "doc_id", asOfSegment = Some(0))
        .withColumn("q", lit("asof0"))
      val live = TextAnalysis.phraseSearch(s, path,
          Seq("sort", "merge"), "doc_id")
        .withColumn("q", lit("live"))
      asOf.unionByName(live).orderBy(col("q"), col("doc_id"))
    }),

    // X3 — MVCC SNAPSHOT ISOLATION (r13 verdict item 1): a probe
    // PINS the latest sealed generation at entry, so a full
    // upsert/delete/fold wave landing while the DataFrame is alive
    // changes nothing it reads — the pinned probe, EXECUTED AFTER
    // the wave, replays the pre-wave corpus; a fresh probe scores
    // the final one. The oracle rebuilds both corpus states and
    // replays the q115 arithmetic — the pinned row going red would
    // mean the wave leaked into the snapshot.
    "q184_snapshot_isolation" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val path = scratchPath("mvcc_index", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val even = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      TextAnalysis.bm25AppendSegment(
        even.filter(col("doc_id") % 4 === 0), "doc_id", "text", path, 0)
      TextAnalysis.bm25AppendSegment(
        even.filter(col("doc_id") % 4 === 2), "doc_id", "text", path, 1)
      val panel = Seq((0L, "merge sort window"),
        (1L, "hash join table")).toDF("qid", "qtext")
      // pinned BEFORE the wave — the whole point of the query
      val pinned = TextAnalysis.bm25ProbeSegmented(s, path, panel,
        k = 10, "doc_id")
      val upserts = even.filter(col("doc_id") % 10 === 2)
        .select(col("doc_id"),
          concat(lit("extra "), coalesce(col("text"), lit("")))
            .as("text"))
        .unionByName(d.filter(
            col("doc_id") % 2 === 1 && col("doc_id") % 10 === 1)
          .select(col("doc_id"), col("text")))
      val deletes = even.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"))
      TextAnalysis.bm25ApplyUpserts(s, path, upserts, deletes,
        "doc_id", "text", segment = 2, maxSegments = 1)
      val live = TextAnalysis.bm25ProbeSegmented(s, path, panel,
          k = 10, "doc_id")
        .withColumn("gen", lit(1))
      pinned.withColumn("gen", lit(0)).unionByName(live)
        .orderBy(col("gen"), col("qid"), col("score").desc,
          col("doc_id"))
    }),

    // X3 — GENERATION TIME TRAVEL (r13 verdict follow-through): the
    // asOfSegment cut (q161) is only valid back to the last
    // compaction — a tiered fold renumbers segments. The manifest
    // generation axis survives it: this wave FOLDS the index to one
    // segment, then probes asOfGeneration = the pre-wave seal and
    // live. The as-of row must replay the pre-wave corpus through
    // the retained write-once directories.
    "q185_generation_travel" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val path = scratchPath("gentt_index", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val base = d.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      TextAnalysis.bm25AppendSegment(
        base.filter(col("doc_id") % 6 === 0), "doc_id", "text", path, 0)
      TextAnalysis.bm25AppendSegment(
        base.filter(col("doc_id") % 6 === 3), "doc_id", "text", path, 1)
      val gen0 = SegmentManifest.latestGen(s, path).get
      val kill = base.filter(
          col("doc_id") % 15 === 0 || col("doc_id") % 15 === 3)
        .select(col("doc_id"),
          size(TextAnalysis.tokens(coalesce(col("text"), lit(""))))
            .cast("long").as("dl"))
      TextAnalysis.bm25Tombstone(kill, "doc_id", "dl", path, 2)
      val wave = base.filter(col("doc_id") % 15 === 3)
        .select(col("doc_id"),
          concat(lit("extra "), coalesce(col("text"), lit("")))
            .as("text"))
        .unionByName(d.filter(
            col("doc_id") % 3 === 1 && col("doc_id") % 15 === 4)
          .select(col("doc_id"), col("text")))
      TextAnalysis.bm25AppendSegment(wave, "doc_id", "text", path, 2)
      // the compaction that invalidates the segment-number cut
      TextAnalysis.bm25MergeSegmentsTiered(s, path, "doc_id",
        maxSegments = 1)
      val panel = Seq((0L, "scan table row"),
        (1L, "query filter")).toDF("qid", "qtext")
      val asOf = TextAnalysis.bm25ProbeSegmented(s, path, panel,
          k = 10, "doc_id", asOfGeneration = Some(gen0))
        .withColumn("gen", lit(0))
      val live = TextAnalysis.bm25ProbeSegmented(s, path, panel,
          k = 10, "doc_id")
        .withColumn("gen", lit(1))
      asOf.unionByName(live)
        .orderBy(col("gen"), col("qid"), col("score").desc,
          col("doc_id"))
    }),

    // X2 — VECTOR GENERATION TIME TRAVEL (r13 verdict item 2 — the
    // q161/q185 symmetry on the dense side): three maintenance waves
    // of the streaming quantized-IVF loop (adds+deletes, float-exact
    // modifications, then a hard-drift wave that RECENTERS the
    // model), probed as-of generation 2 (pre-recenter corpus under
    // the pre-recenter model, reconstructed from the write-once
    // snapshot chain) and as-of generation 3 (≡ the live physical
    // index — the spec pins that equality). The oracle rebuilds
    // state 2 from the raw table and replays the quantized probe
    // arithmetic; the live row replays q90-style off the written
    // index + model artifacts.
    "q186_vector_time_travel" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val root = scratchPath("vtt_root", dir)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val all = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
      val base = all.filter(col("vec_id") % 5 =!= 4)
      StreamingVectorIndex.bootstrapQuantized(base, root, "vec_id",
        "embedding", k = 16)
      def wave(df: DataFrame, op: String) =
        df.select(col("vec_id"), col("embedding"), lit(op).as("op"))
      val w1 = wave(all.filter(col("vec_id") % 5 === 4 &&
          col("vec_id") % 2 === 0), "upsert")
        .unionByName(
          wave(base.filter(col("vec_id") % 7 === 1), "delete"))
      StreamingVectorIndex.applyWaveQuantized(s, root, w1, 0L,
        "vec_id", "embedding", k = 16, historyRetention = 8)
      // +0.25f is an exact float shift — both engines land on the
      // identical bit pattern, so the quantization boundaries agree
      val w2 = wave(all.filter(col("vec_id") % 11 === 3)
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(0.25f))
            .as("embedding")), "upsert")
      StreamingVectorIndex.applyWaveQuantized(s, root, w2, 1L,
        "vec_id", "embedding", k = 16, historyRetention = 8)
      val live2 = all.filter(col("vec_id") % 11 === 3 ||
        (col("vec_id") % 5 =!= 4 && col("vec_id") % 7 =!= 1) ||
        (col("vec_id") % 5 === 4 && col("vec_id") % 2 === 0))
      val w3 = wave(live2.select(col("vec_id"),
        transform(col("embedding"),
          x => x + (col("vec_id") % 5).cast("float") * lit(3.0f))
          .as("embedding")), "upsert")
      StreamingVectorIndex.applyWaveQuantized(s, root, w3, 2L,
        "vec_id", "embedding", k = 16, historyRetention = 8)
      require(fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/cents/gen=3")),
        "q186: the drift wave did not recenter — the scenario must " +
          "cross a model generation")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      val asOf = StreamingVectorIndex.probeAsOfQuantized(s, root, 2,
          qv, "vec_id", "embedding", k = 10, nProbe = 3)
        .withColumn("gen", lit(0))
      val live = StreamingVectorIndex.probeAsOfQuantized(s, root, 3,
          qv, "vec_id", "embedding", k = 10, nProbe = 3)
        .withColumn("gen", lit(1))
      asOf.unionByName(live)
        .orderBy(col("gen"), col("qsim").desc, col("vec_id"))
    }),


    // X2 — IVF-PQ GENERATION TIME TRAVEL (q186's sibling on the PQ
    // layout — the last index family without an as-of probe): the
    // same three-wave scenario on the streaming IVF-PQ loop, whose
    // recenter refits BOTH centroids and codebooks; the books store
    // snapshots the codebooks per model generation, so the as-of
    // probe re-encodes the reconstructed corpus through the model
    // that actually governed it. gen 0 = as-of generation 2
    // (pre-recenter corpus + bootstrap model — the oracle re-derives
    // state 2, re-normalizes, re-encodes via the argmin over the
    // WRITTEN gen-0 codebooks, and replays the integer ADC); gen 1 =
    // as-of the live generation, re-derived the same way under the
    // WRITTEN gen-3 centroids + codebooks (the physical codes stopped
    // being glob-readable when the recenter went MVCC; physical ≡
    // snapshot parity is pinned by the recenter-MVCC spec, and the
    // from-raw oracle is the stronger check).
    "q187_pq_time_travel" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val root = scratchPath("pqtt_root", dir)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val all = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
      val base = all.filter(col("vec_id") % 5 =!= 4)
      StreamingVectorIndex.bootstrapIvfPq(base, root, "vec_id",
        "embedding", kCells = 16, m = 8, k = 16)
      def wave(df: DataFrame, op: String) =
        df.select(col("vec_id"), col("embedding"), lit(op).as("op"))
      def apply(delta: DataFrame, id: Long): Unit =
        StreamingVectorIndex.applyWaveIvfPq(s, root, delta, id,
          "vec_id", "embedding", kCells = 16, m = 8, k = 16,
          historyRetention = 8)
      apply(wave(all.filter(col("vec_id") % 5 === 4 &&
          col("vec_id") % 2 === 0), "upsert")
        .unionByName(
          wave(base.filter(col("vec_id") % 7 === 1), "delete")), 0L)
      apply(wave(all.filter(col("vec_id") % 11 === 3)
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(0.25f))
            .as("embedding")), "upsert"), 1L)
      val live2 = all.filter(col("vec_id") % 11 === 3 ||
        (col("vec_id") % 5 =!= 4 && col("vec_id") % 7 =!= 1) ||
        (col("vec_id") % 5 === 4 && col("vec_id") % 2 === 0))
      apply(wave(live2.select(col("vec_id"),
        transform(col("embedding"),
          x => x + (col("vec_id") % 5).cast("float") * lit(3.0f))
          .as("embedding")), "upsert"), 2L)
      require(fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/cents/gen=3")) &&
        fs.exists(new org.apache.hadoop.fs.Path(s"$root/books/gen=3")),
        "q187: the drift wave did not recenter (or the books store " +
          "missed the generation)")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      val asOf = StreamingVectorIndex.probeAsOfIvfPq(s, root, 2,
          qv, "vec_id", "embedding", k = 10, nProbe = 3)
        .withColumn("gen", lit(0))
      val live = StreamingVectorIndex.probeAsOfIvfPq(s, root, 3,
          qv, "vec_id", "embedding", k = 10, nProbe = 3)
        .withColumn("gen", lit(1))
      asOf.unionByName(live)
        .orderBy(col("gen"), col("adc_score").desc, col("vec_id"))
    }),

    // X3 — SPELL SUGGESTION (Lucene's DirectSpellChecker): dictionary
    // candidates within Levenshtein maxDist ranked by (distance ASC,
    // LIVE df DESC, term ASC) — df through the tombstone kill rule,
    // so a dead term can never be suggested. Three probes on one
    // segment: a misspelling at distance 1, a worse one at distance
    // 2, and an exact term (ranks itself first at distance 0).
    // X1/X3 × MVCC — CONCURRENT reader/writer TORTURE (r14 verdict
    // stretch 7): snapshot isolation proven in anger instead of in
    // sequenced specs. One corpus index; a WRITER THREAD drives four
    // full CRUD waves (tombstones + appends + tiered folds — each
    // sealing generations) while the main thread HAMMERS a probe plan
    // pinned before the writer started: every racing collect must
    // return the pinned generation's answer bit-identically, no
    // matter which seal lands mid-collect. Output: the pinned answers
    // (phase 0) + a fresh probe of the final state (phase 1); the
    // oracle replays both corpus states from the raw table. Each id
    // has at most one modifying wave (id % 17) and one deleting wave
    // (id % 19), so the final state is a closed-form rule: alive iff
    // modified-or-added at w ≥ its delete wave, or an untouched
    // original (id % 3 ≠ 2).
    "q188_mvcc_torture" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val path = scratchPath("mvcc_torture", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      TextAnalysis.bm25AppendSegment(
        d.filter(col("doc_id") % 3 =!= 2), "doc_id", "text", path, 0)
      val panel = Seq(
        (0L, "sort merge join"), (1L, "query filter scan"))
        .toDF("qid", "qtext")
      // the PIN: planned (and its generation resolved) before the
      // writer exists
      val pinned = TextAnalysis.bm25ProbeSegmented(s, path, panel,
        k = 10, "doc_id")
      def rowSet(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val expect = rowSet(pinned.collect())
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val writer = Future {
        // the writer thread's operator-internal caches get their own
        // scope (the stack is thread-local)
        graft.engine.Caching.scoped {
          for (w <- 1 to 2) {
            TextAnalysis.bm25ApplyUpserts(s, path,
              d.filter(col("doc_id") % 17 === w)
                .select(col("doc_id"),
                  concat(col("text"), lit(s" w$w")).as("text")),
              d.filter(col("doc_id") % 19 === w).select(col("doc_id")),
              "doc_id", "text", segment = w, maxSegments = 2)
          }
        }
      }
      // hammer the pinned plan while the writer seals away; every
      // answer must be the pinned generation's, bit for bit
      var checks = 0
      var racing = 0
      while ({
        val mid = writer.isCompleted
        require(rowSet(pinned.collect()) == expect,
          s"q188: maintenance raced the pinned probe (check $checks)")
        checks += 1
        if (!mid) racing += 1
        !writer.isCompleted
      }) ()
      Await.result(writer, scala.concurrent.duration.Duration.Inf)
      require(checks >= 1, "q188: the pinned probe never ran")
      // the pinned answers, materialized driver-side (k-bounded) so
      // the returned frame is independent of any later vacuum
      val phase0 = expect.toSeq.sorted
        .toDF("qid", "doc_id", "score").withColumn("phase", lit(0))
      val phase1 = TextAnalysis.bm25ProbeSegmented(s, path, panel,
          k = 10, "doc_id")
        .withColumn("phase", lit(1))
      phase0.unionByName(phase1)
        .select(col("phase"), col("qid"), col("doc_id"), col("score"))
        .orderBy(col("phase"), col("qid"), col("score").desc,
          col("doc_id"))
    }),

    // X1/X2/X3 × MVCC — CROSS-FAMILY GENERATION TRAVEL (r14 verdict
    // stretch 8): ONE corpus evolution over the SHARED id domain
    // (documents.doc_id ≡ embeddings.vec_id) drives all three index
    // families — the segmented lexical index, the streaming quantized
    // IVF loop, and the streaming IVF-PQ loop — then the SAME
    // historical state is replayed across all three time-travel axes
    // (lexical asOfGeneration across a later full compaction; vector
    // probeAsOfQuantized; probeAsOfIvfPq) and the oracle re-derives
    // that one state ONCE and feeds all three scoring replays from
    // it: if any family replayed a different corpus state, its rows
    // hash-red. Evolution (disjoint by construction): base = id%4≠3;
    // wave A adds id%4=3, modifies id%7=1 of base (text+' v2' /
    // emb+0.25f), deletes id%9=2 of the untouched base — the REPLAYED
    // state; wave B (noise the replay must see through — one
    // single-doc upsert, enough to advance every family's live
    // generation past the replayed one) and the lexical side then
    // folds EVERYTHING (the as-of-generation axis survives the
    // compaction that kills the segment-number cut). id 0 is the
    // query vector, excluded. The
    // row runs on the id%3=1 THIRD of the corpus: the capstone pins
    // cross-family composition semantics — per-family scale is owned
    // by q186/q187 and the probe tables — and three full index
    // lifecycles on the full corpus priced it at 2x the heaviest
    // bench row for no additional coverage.
    "q189_crossfamily_travel" -> ((s, dir) => {
      import s.implicits._
      val isBase = col("id") % 4 =!= 3
      val isMod = isBase && col("id") % 7 === 1
      val isDel = isBase && col("id") % 7 =!= 1 && col("id") % 9 === 2
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id").as("id"),
          coalesce(col("text"), lit("")).as("text"))
        .filter(col("id") % 3 === 1)
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
        .filter(col("id") % 3 === 1)
      val qv = Tables(s, dir, "embeddings")
        .filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      def scratch(n: String) = {
        val p = scratchPath(n, dir)
        val fs = new org.apache.hadoop.fs.Path(p)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(p), true)
        p
      }
      // --- lexical: base segment, wave A (the replayed state),
      // wave B, then the FULL fold the as-of must cross
      val lex = scratch("xft_lex")
      TextAnalysis.bm25AppendSegment(docs.filter(isBase)
        .select(col("id").as("doc_id"), col("text")),
        "doc_id", "text", lex, 0)
      TextAnalysis.bm25ApplyUpserts(s, lex,
        docs.filter(col("id") % 4 === 3)
          .unionByName(docs.filter(isMod)
            .select(col("id"), concat(col("text"), lit(" v2"))
              .as("text")))
          .select(col("id").as("doc_id"), col("text")),
        docs.filter(isDel).select(col("id").as("doc_id")),
        "doc_id", "text", segment = 1, maxSegments = 8)
      val gMid = SegmentManifest.latestGen(s, lex).get
      TextAnalysis.bm25ApplyUpserts(s, lex,
        docs.filter(col("id") === 7)
          .select(col("id").as("doc_id"),
            concat(col("text"), lit(" v3")).as("text")),
        docs.limit(0).select(col("id").as("doc_id")),
        "doc_id", "text", segment = 2, maxSegments = 8)
      TextAnalysis.bm25MergeSegments(spark = s, path = lex,
        idCol = "doc_id")
      // --- the two vector loops, same evolution
      def wave(ups: DataFrame, dels: DataFrame) = ups
        .select(col("id").as("vec_id"), col("embedding"),
          lit("upsert").as("op"))
        .unionByName(dels.select(col("id").as("vec_id"),
          col("embedding"), lit("delete").as("op")))
      def shift(df: DataFrame, by: Float) = df.select(col("id"),
        transform(col("embedding"), x => x + lit(by)).as("embedding"))
      val waveA = wave(
        emb.filter(col("id") % 4 === 3)
          .unionByName(shift(emb.filter(isMod), 0.25f)),
        emb.filter(isDel))
      val waveB = wave(shift(emb.filter(col("id") === 7), 0.5f),
        emb.limit(0))
      val vq = scratch("xft_vq")
      val vp = scratch("xft_vp")
      StreamingVectorIndex.bootstrapQuantized(emb.filter(isBase)
        .select(col("id").as("vec_id"), col("embedding")),
        vq, "vec_id", "embedding", k = 8)
      StreamingVectorIndex.bootstrapIvfPq(emb.filter(isBase)
        .select(col("id").as("vec_id"), col("embedding")),
        vp, "vec_id", "embedding", kCells = 8, m = 8, k = 16)
      // drift triggers OFF by contract (factors no corpus can breach):
      // this scenario replays under the bootstrap model — recenters
      // are q186/q187's territory; the guard below keeps this honest
      for (root <- Seq(vq, vp); (w, b) <- Seq((waveA, 0L), (waveB, 1L)))
        if (root == vq)
          StreamingVectorIndex.applyWaveQuantized(s, root, w, b,
            "vec_id", "embedding", k = 8,
            cdFactorX100 = 1000000L, skewFactorX100 = 1000000L,
            historyRetention = 8)
        else
          StreamingVectorIndex.applyWaveIvfPq(s, root, w, b,
            "vec_id", "embedding", kCells = 8, m = 8, k = 16,
            cdFactorX100 = 1000000L, skewFactorX100 = 1000000L,
            historyRetention = 8)
      // the oracle replays under the gen-0 models: the benign waves
      // must not have recentered (a breach would be a scenario bug)
      val fsv = new org.apache.hadoop.fs.Path(vq)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      for (root <- Seq(vq, vp); g <- Seq(1, 2))
        require(!fsv.exists(new org.apache.hadoop.fs.Path(
            s"$root/cents/gen=$g")),
          s"q189: unexpected recenter at $root gen $g — the oracle " +
            "assumes the bootstrap model governs the replayed state")
      // cross-family corpus pin, in-row: the two vector chains
      // reconstruct the SAME id set at the replayed generation (the
      // lexical side's set is pinned by the shared oracle corpus CTE)
      def snapIds(root: String) = StreamingVectorIndex
        .readSnapshot(s, root, 1, "vec_id", "embedding")
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      val (idsQ, idsP) = (snapIds(vq), snapIds(vp))
      require(idsQ == idsP,
        s"q189: the two vector chains replayed different corpora at " +
          s"gen 1 (${idsQ.size} vs ${idsP.size} ids)")
      // --- the three replays of the ONE mid state
      val panel = Seq((0L, "sort merge join"), (1L, "query filter v2"))
        .toDF("qid", "qtext")
      val lexDf = TextAnalysis.bm25ProbeSegmented(s, lex, panel,
          k = 10, "doc_id", asOfGeneration = Some(gMid))
        .select(lit("lexical").as("family"), col("qid"),
          col("doc_id").as("id"), col("score"))
      val vqDf = StreamingVectorIndex.probeAsOfQuantized(s, vq, 1,
          qv, "vec_id", "embedding", k = 10, nProbe = 3)
        .select(lit("ivf_q").as("family"), lit(0L).as("qid"),
          col("vec_id").as("id"), col("qsim").as("score"))
      val vpDf = StreamingVectorIndex.probeAsOfIvfPq(s, vp, 1,
          qv, "vec_id", "embedding", k = 10, nProbe = 3)
        .select(lit("ivf_pq").as("family"), lit(0L).as("qid"),
          col("vec_id").as("id"), col("adc_score").as("score"))
      lexDf.unionByName(vqDf).unionByName(vpDf)
        .orderBy(col("family"), col("qid"), col("score").desc,
          col("id"))
    }),

    // X2 × MVCC — VECTOR concurrent reader/writer TORTURE (q188 for
    // the vector loops; r15 verdict stretch 7): one writer THREAD
    // drives BOTH streaming vector loops through a benign CRUD wave
    // and a hard-drift wave whose breach RECENTERS — the MVCC
    // rebuild (and the IVF-PQ books reseal) racing a reader in
    // anger, not in sequenced specs — while the main thread HAMMERS
    // the two live probe plans pinned before the writer started:
    // every racing collect must return the pinned bootstrap
    // generation's answer bit-identically, no matter which seal
    // (refresh or full-replacement recenter) lands mid-collect.
    // Output: the pinned answers (phases 0/2) + fresh pin-once
    // probes of the final recentered state (phases 1/3); the oracle
    // re-derives all four from raw under the written generation-0
    // and generation-2 models (the q186/q187 mechanism). id%3=1
    // corpus third (the q189 pricing rule: this row pins RACE
    // semantics; per-family scale is owned by q186/q187).
    "q190_vector_mvcc_torture" -> ((s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings")
      val all = e.filter(col("vec_id") =!= 0 && col("vec_id") % 3 === 1)
        .select(col("vec_id"), col("embedding"))
      val base = all.filter(col("vec_id") % 5 =!= 4)
      val vq = scratchPath("vmvcc_q", dir)
      val vp = scratchPath("vmvcc_p", dir)
      val fs = new org.apache.hadoop.fs.Path(vq)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq(vq, vp).foreach(r =>
        fs.delete(new org.apache.hadoop.fs.Path(r), true))
      StreamingVectorIndex.bootstrapQuantized(base, vq, "vec_id",
        "embedding", k = 8)
      StreamingVectorIndex.bootstrapIvfPq(base, vp, "vec_id",
        "embedding", kCells = 8, m = 8, k = 16)
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      // the PINS: planned (and their manifests resolved) before the
      // writer exists
      val pinQ = StreamingVectorIndex.probeLiveQuantized(s, vq, qv,
        "vec_id", k = 10, nProbe = 3)
      val pinP = StreamingVectorIndex.probeLiveIvfPq(s, vp, qv,
        "vec_id", k = 10, nProbe = 3)
      def rowSet(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getDouble(1))).toSet
      val expQ = rowSet(pinQ.collect())
      val expP = rowSet(pinP.collect())
      def wave(df: DataFrame, op: String) =
        df.select(col("vec_id"), col("embedding"), lit(op).as("op"))
      // wave 0 (benign CRUD): add %5==4 ∧ %2==0, delete %7==1 of the
      // base; wave 1 (hard drift): every live vector wanders by
      // (id%5)·3.0f — the q186 breach transform, so the recenter
      // fires mid-hammer
      val w0 = wave(all.filter(col("vec_id") % 5 === 4 &&
          col("vec_id") % 2 === 0), "upsert")
        .unionByName(
          wave(base.filter(col("vec_id") % 7 === 1), "delete"))
      val live = all.filter(
        (col("vec_id") % 5 =!= 4 && col("vec_id") % 7 =!= 1) ||
          (col("vec_id") % 5 === 4 && col("vec_id") % 2 === 0))
      val drifted = live.select(col("vec_id"),
        transform(col("embedding"),
          x => x + (col("vec_id") % 5).cast("float") * lit(3.0f))
          .as("embedding"))
      val w1 = wave(drifted, "upsert")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val writer = Future {
        // the writer thread's operator-internal caches get their own
        // scope (the stack is thread-local)
        graft.engine.Caching.scoped {
          for ((w, b) <- Seq((w0, 0L), (w1, 1L))) {
            StreamingVectorIndex.applyWaveQuantized(s, vq, w, b,
              "vec_id", "embedding", k = 8, historyRetention = 6)
            StreamingVectorIndex.applyWaveIvfPq(s, vp, w, b,
              "vec_id", "embedding", kCells = 8, m = 8, k = 16,
              historyRetention = 6)
          }
        }
      }
      // hammer both pinned plans while the writer seals away; every
      // answer must be the pinned generation's, bit for bit
      var checks = 0
      while ({
        require(rowSet(pinQ.collect()) == expQ,
          s"q190: maintenance raced the pinned quantized probe " +
            s"(check $checks)")
        require(rowSet(pinP.collect()) == expP,
          s"q190: maintenance raced the pinned IVF-PQ probe " +
            s"(check $checks)")
        checks += 1
        !writer.isCompleted
      }) ()
      Await.result(writer, scala.concurrent.duration.Duration.Inf)
      require(checks >= 1, "q190: the pinned probes never ran")
      // the drift wave must have recentered BOTH loops (wave batch 1
      // → generation 2) — otherwise the race never crossed a
      // full-replacement seal and the row proves less than it claims
      for (root <- Seq(vq, vp))
        require(fs.exists(new org.apache.hadoop.fs.Path(
            s"$root/cents/gen=2")),
          s"q190: the drift wave did not recenter $root")
      // r16 verdict item 3: the recentered indexes must still
      // RETRIEVE, not just satisfy content/hash parity — ALL-cells
      // probes (quantization the only loss) vs exact brute force over
      // the drifted corpus. Collapse alarms, not targets: the int8
      // floor is q136's overlap rule; the IVF-PQ floor sits under the
      // q75 flat-ADC band for the m=8·k=16 geometry.
      val exactLive = Similarity.topK(drifted, qv, "vec_id",
          "embedding", 10)
        .select(col("vec_id")).localCheckpoint()
      val recQ = StreamingVectorIndex.probeLiveQuantized(s, vq, qv,
          "vec_id", k = 10, nProbe = 8)
        .select(col("vec_id")).join(exactLive, Seq("vec_id")).count()
      require(recQ >= 6,
        s"q190: post-recenter quantized recall collapsed ($recQ/10)")
      // the IVF-PQ floor rides a PANEL (q143's treatment, r17 verdict
      // item 2): the single query's 2–9/10 across SFs sat ON the
      // measurement at the sf0.1 hard end, so the floor could only be
      // the 1/10 collapse alarm; aggregating the same all-cells
      // measurement over the %29 panel shrinks the variance and lifts
      // the floor to a measured-band alarm (margins on record in
      // NOTES_r17/r18.md / PLANS.md).
      val panel = graft.engine.Caching.cached(
        e.filter(col("vec_id") % 29 === 1)
          .select(col("vec_id").as("qid"),
            VectorFns.toDouble(col("embedding")).as("qvec")))
      val nPanel = panel.count()
      require(nPanel > 0,
        "q190: empty %29 recall panel at this SF — the floor would " +
          "be vacuously green (the single-query alarm it replaced " +
          "could never pass with zero measurements)")
      val panelHits = StreamingVectorIndex.probeLiveIvfPqMulti(s, vp,
          panel, "vec_id", k = 10, nProbe = 8)
        .select(col("qid"), col("vec_id"))
        .join(Similarity.topKMulti(drifted, panel, "vec_id",
            "embedding", 10)
          .select(col("qid"), col("vec_id")), Seq("qid", "vec_id"))
        .count()
      panel.unpersist()
      require(panelHits * 100 >= nPanel * 10 * 8,
        s"q190: post-recenter IVF-PQ panel recall collapsed — " +
          s"$panelHits/${nPanel * 10} < 8%")
      // pinned answers materialized driver-side (k-bounded), so the
      // returned frame is independent of any later vacuum
      val phase0 = expQ.toSeq.sorted.toDF("vec_id", "score")
        .withColumn("phase", lit(0))
      val phase1 = StreamingVectorIndex.probeLiveQuantized(s, vq, qv,
          "vec_id", k = 10, nProbe = 3)
        .select(col("vec_id"), col("qsim").as("score"))
        .withColumn("phase", lit(1))
      val phase2 = expP.toSeq.sorted.toDF("vec_id", "score")
        .withColumn("phase", lit(2))
      val phase3 = StreamingVectorIndex.probeLiveIvfPq(s, vp, qv,
          "vec_id", k = 10, nProbe = 3)
        .select(col("vec_id"), col("adc_score").as("score"))
        .withColumn("phase", lit(3))
      phase0.unionByName(phase1).unionByName(phase2)
        .unionByName(phase3)
        .select(col("phase"), col("vec_id"), col("score"))
        .orderBy(col("phase"), col("score").desc, col("vec_id"))
    }),

    // W × X3 — the EVENT-TIME CRUD front under the hash gate (r15
    // verdict stretch 8, the gate row behind
    // [[graft.streaming.StreamingLexicalIndex.runUpsertsEventTime]]):
    // a waved stream of TIMESTAMPED document versions — re-deliveries,
    // out-of-order versions, a LATE wave that carries DELETES, some
    // of them inadmissible under the wave watermark — settles to one
    // winner per key by the q92 watermark rules
    // ([[Upsert.latestByKeyWavedReplay]], the relational restate the
    // streaming operator is spec-tied to), and ONLY the settled,
    // EVICTED winners drive one bm25ApplyUpserts wave: upsert winners
    // re-index, delete winners tombstone, open keys touch nothing.
    // The oracle replays admission + winner + eviction AND the BM25
    // arithmetic over the settled corpus — a wrong watermark rule, a
    // leaked unsettled version, or a dropped delete all hash-red.
    "q191_lexical_eventtime_crud" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val path = scratchPath("bm25_etcrud", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      TextAnalysis.bm25AppendSegment(d, "doc_id", "text", path, 0)
      // q92's waved version stream with an op column: wave 1 modifies
      // every %10 key, wave 2 modifies %20 keys (event times that
      // STRADDLE wave 2's watermark — early ids drop as late), and
      // the late slice of wave 2 DELETES %50 keys (v3 — a delete that
      // is itself subject to admission); wave 3 is a far-future
      // advancer that closes every key but its own
      val base = lit(1700000000000L)
      val w1 = d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" w1")).as("text"),
          lit(1L).as("v"), (base + col("doc_id") * 1000).as("tsms"),
          lit(1).as("wave"), lit("upsert").as("op"))
      val w2 = d.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" w2")).as("text"),
          lit(2L).as("v"),
          (base + col("doc_id") * 1000 + 600000).as("tsms"),
          lit(2).as("wave"), lit("upsert").as("op"))
      val w2del = d.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), lit("").as("text"), lit(3L).as("v"),
          (base + col("doc_id") * 1000 + 350000).as("tsms"),
          lit(2).as("wave"), lit("delete").as("op"))
      val adv = s.range(1).select(lit(999999L).as("doc_id"),
        lit("wm-advance").as("text"), lit(1L).as("v"),
        (base + lit(1000000000L)).as("tsms"), lit(3).as("wave"),
        lit("upsert").as("op"))
      // the family's HAIRLINE pin (q192/q194/q195's rule): event time
      // EXACTLY equal to wave 2's watermark, text carrying EVERY
      // panel term — dropped by strict `>` on both sides; a `>=`
      // regression indexes a short doc matching both panel queries
      // and the top-12s move, hash-red (verified by mutated-oracle
      // run)
      val w1maxRow = w1.agg(max(col("tsms"))).head()
      require(!w1maxRow.isNullAt(0),
        "hairline pin: wave 1 is empty at this SF — no watermark to " +
          "sit on")
      val hairline = s.range(1).select(lit(999998L).as("doc_id"),
        lit("sort merge join w1 query filter scan").as("text"),
        lit(1L).as("v"),
        lit(w1maxRow.getLong(0) - 60000L).as("tsms"),
        lit(2).as("wave"), lit("upsert").as("op"))
      val winners = graft.engine.Caching.cached(
        Upsert.latestByKeyWavedReplay(
            w1.unionByName(w2).unionByName(w2del).unionByName(adv)
              .unionByName(hairline),
            "doc_id", "v", "text", "tsms", delayMs = 60000L, "wave")
          .filter(col("evicted")))
      // the three pin counts fused into ONE action over the cached
      // frame (three separate count() jobs measured only planning/job
      // floor — same checks, one pass)
      val pins191 = winners.agg(
        count(when(col("doc_id") === 999998L, 1L)),
        count(when(col("op") === "delete", 1L)),
        count(when(col("op") === "upsert", 1L))).head()
      require(pins191.getLong(0) == 0,
        "q191: the hairline row (ts == wave-2 watermark) was " +
          "admitted — the strict-> admission boundary regressed")
      require(pins191.getLong(1) > 0,
        "q191: no admitted delete settled — the late slice must " +
          "reach past wave 2's watermark")
      require(pins191.getLong(2) > 0,
        "q191: no settled upsert winners")
      TextAnalysis.bm25ApplyUpserts(s, path,
        winners.filter(col("op") === "upsert")
          .select(col("doc_id"), col("text")),
        winners.filter(col("op") === "delete").select(col("doc_id")),
        "doc_id", "text", segment = 1, maxSegments = 2)
      winners.unpersist()
      val panel = Seq(
        (0L, "sort merge join w1"), (1L, "query filter scan"))
        .toDF("qid", "qtext")
      TextAnalysis.bm25ProbeSegmented(s, path, panel, k = 12, "doc_id")
        .orderBy(col("qid"), col("score").desc, col("doc_id"))
    }),

    // W × X2 — q191's DENSE sibling (r16 verdict item 2, the gate row
    // behind [[graft.streaming.StreamingVectorIndex
    // .runQuantizedEventTime]]): a waved stream of TIMESTAMPED VECTOR
    // VERSIONS — out-of-order versions, a LATE wave carrying DELETES,
    // some inadmissible under the wave watermark — settles to one
    // winner per key by the q92 rules ([[Upsert
    // .latestByKeyWavedReplay]], the relational restate the streaming
    // settle stage is spec-tied to; version ties break to MIN op),
    // and ONLY the settled, EVICTED winners drive one quantized-IVF
    // maintenance wave: upsert winners re-quantize, delete winners
    // leave their cells. Recenter suppressed (breach thresholds
    // maxed), so the probe replays under the BOOTSTRAP model — the
    // row pins the SETTLE semantics; recenter racing is q190's. The
    // oracle replays admission + winner + eviction AND the q186 int8
    // arithmetic over the settled corpus under the written gen-0
    // centroids — a leaked unsettled version, a dropped delete, or a
    // wrong watermark rule all hash-red. id%3=2 corpus third (the
    // q189 pricing rule).
    "q192_vector_eventtime_crud" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val all = e.filter(col("vec_id") =!= 0 && col("vec_id") % 3 === 2)
        .select(col("vec_id"), col("embedding"))
      val root = scratchPath("veq_etcrud", dir)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      StreamingVectorIndex.bootstrapQuantized(all, root, "vec_id",
        "embedding", k = 8)
      val base = lit(1700000000000L)
      // wave 1: v1 of every %10 key, vector wandered +0.5f; wave 2:
      // v2 of %20 keys, +1.5f, event times STRADDLING wave 2's
      // watermark (early ids drop as late); the late slice of wave 2
      // DELETES %50 keys at v3 — a delete itself subject to
      // admission; wave 3 is the far-future advancer that closes
      // every key but its own
      val w1 = all.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(0.5f))
            .as("embedding"),
          lit(1L).as("v"), (base + col("vec_id") * 1000).as("tsms"),
          lit(1).as("wave"), lit("upsert").as("op"))
      val w2 = all.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(1.5f))
            .as("embedding"),
          lit(2L).as("v"),
          (base + col("vec_id") * 1000 + 600000).as("tsms"),
          lit(2).as("wave"), lit("upsert").as("op"))
      val w2del = all.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding"), lit(3L).as("v"),
          (base + col("vec_id") * 1000 + 350000).as("tsms"),
          lit(2).as("wave"), lit("delete").as("op"))
      val adv = e.filter(col("vec_id") === 0)
        .select(lit(999999999L).as("vec_id"), col("embedding"),
          lit(1L).as("v"), (base + lit(1000000000L)).as("tsms"),
          lit(3).as("wave"), lit("upsert").as("op"))
      // the HAIRLINE pin (r17 verdict item 3): one deliberate row
      // whose event time EXACTLY equals wave 2's watermark (max of
      // wave 1's event times − delay). Admission is strict `>` —
      // Spark drops ts == wm, empirically pinned r17 — so both the
      // replay and the oracle drop it and the hash is unchanged; but
      // the row carries the QUERY VECTOR itself, so whichever side
      // regresses to `>=` admits a guaranteed top-1 hit and goes
      // hash-red. Before this row no gate data sat on the boundary.
      // The wave-1 max is a DRIVER-SIDE scalar fetch (one 1-row agg,
      // the probedCellIds pattern): embedding it as a crossJoin'd
      // aggregate inside the replay's cached union measured +15 s at
      // sf0.1 on this row; the scalar reads +1-2 s
      val w1maxRow = w1.agg(max(col("tsms"))).head()
      require(!w1maxRow.isNullAt(0),
        "hairline pin: wave 1 is empty at this SF — no watermark to " +
          "sit on")
      val w1maxTs = w1maxRow.getLong(0)
      val hairline = e.filter(col("vec_id") === 0)
        .select(lit(999999998L).as("vec_id"), col("embedding"),
          lit(1L).as("v"), lit(w1maxTs - 60000L).as("tsms"),
          lit(2).as("wave"), lit("upsert").as("op"))
      val winners = graft.engine.Caching.cached(
        Upsert.latestByKeyWavedReplay(
            w1.unionByName(w2).unionByName(w2del).unionByName(adv)
              .unionByName(hairline),
            "vec_id", "v", "op", "tsms", delayMs = 60000L, "wave")
          .filter(col("evicted")))
      // three pin counts, one action (the q191 fusion)
      val pins192 = winners.agg(
        count(when(col("vec_id") === 999999998L, 1L)),
        count(when(col("op") === "delete", 1L)),
        count(when(col("op") === "upsert", 1L))).head()
      require(pins192.getLong(0) == 0,
        "q192: the hairline row (ts == wave-2 watermark) was " +
          "admitted — the strict-> admission boundary regressed")
      require(pins192.getLong(1) > 0,
        "q192: no admitted delete settled — the late slice must " +
          "reach past wave 2's watermark")
      require(pins192.getLong(2) > 0,
        "q192: no settled upsert winners")
      StreamingVectorIndex.applyWaveQuantized(s, root,
        winners.select(col("vec_id"), col("embedding"), col("op")),
        0L, "vec_id", "embedding", k = 8,
        cdFactorX100 = 100000L, skewFactorX100 = 100000L)
      winners.unpersist()
      require(!fs.exists(
          new org.apache.hadoop.fs.Path(s"$root/cents/gen=1")),
        "q192: the settled wave recentered despite suppressed " +
          "thresholds — the oracle's gen-0 replay would be wrong")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      StreamingVectorIndex.probeLiveQuantized(s, root, qv, "vec_id",
          k = 10, nProbe = 3)
        .select(col("vec_id"), col("qsim").as("score"))
        .orderBy(col("score").desc, col("vec_id"))
    }),

    // W × X2 — q192's IVF-PQ TWIN: the IDENTICAL settle scenario
    // (same corpus third, same waves, same watermark algebra) driving
    // the OTHER index family's maintenance wave — the "both families
    // share one watermark-settle semantics" claim gate-proven
    // end-to-end instead of spec-tied: settled winners feed
    // applyWaveIvfPq, and the oracle replays the settle algebra PLUS
    // the full PQ derivation (unit-normalize, codebook argmin encode
    // through the WRITTEN gen-0 books, integer ADC) over the settled
    // corpus. A family-specific leak — a raw delta reaching the PQ
    // wave, codes encoded through the wrong books — hash-reds here
    // even if q192 stays green.
    "q194_vector_eventtime_crud_pq" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val all = e.filter(col("vec_id") =!= 0 && col("vec_id") % 3 === 2)
        .select(col("vec_id"), col("embedding"))
      val root = scratchPath("veq_etcrud_pq", dir)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      StreamingVectorIndex.bootstrapIvfPq(all, root, "vec_id",
        "embedding", kCells = 8, m = 8, k = 16)
      val base = lit(1700000000000L)
      val w1 = all.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(0.5f))
            .as("embedding"),
          lit(1L).as("v"), (base + col("vec_id") * 1000).as("tsms"),
          lit(1).as("wave"), lit("upsert").as("op"))
      val w2 = all.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(1.5f))
            .as("embedding"),
          lit(2L).as("v"),
          (base + col("vec_id") * 1000 + 600000).as("tsms"),
          lit(2).as("wave"), lit("upsert").as("op"))
      val w2del = all.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding"), lit(3L).as("v"),
          (base + col("vec_id") * 1000 + 350000).as("tsms"),
          lit(2).as("wave"), lit("delete").as("op"))
      val adv = e.filter(col("vec_id") === 0)
        .select(lit(999999999L).as("vec_id"), col("embedding"),
          lit(1L).as("v"), (base + lit(1000000000L)).as("tsms"),
          lit(3).as("wave"), lit("upsert").as("op"))
      // the twin carries q192's HAIRLINE pin too (ts == wave-2
      // watermark, dropped by strict `>` on both sides, top-1 on
      // whichever side regresses to `>=`) — the scenarios stay
      // IDENTICAL and the boundary is gate-pinned per family.
      // Driver-side scalar fetch for the wave-1 max, as in q192
      val w1maxRow = w1.agg(max(col("tsms"))).head()
      require(!w1maxRow.isNullAt(0),
        "hairline pin: wave 1 is empty at this SF — no watermark to " +
          "sit on")
      val w1maxTs = w1maxRow.getLong(0)
      val hairline = e.filter(col("vec_id") === 0)
        .select(lit(999999998L).as("vec_id"), col("embedding"),
          lit(1L).as("v"), lit(w1maxTs - 60000L).as("tsms"),
          lit(2).as("wave"), lit("upsert").as("op"))
      val winners = graft.engine.Caching.cached(
        Upsert.latestByKeyWavedReplay(
            w1.unionByName(w2).unionByName(w2del).unionByName(adv)
              .unionByName(hairline),
            "vec_id", "v", "op", "tsms", delayMs = 60000L, "wave")
          .filter(col("evicted")))
      // three pin counts, one action (the q191 fusion)
      val pins194 = winners.agg(
        count(when(col("vec_id") === 999999998L, 1L)),
        count(when(col("op") === "delete", 1L)),
        count(when(col("op") === "upsert", 1L))).head()
      require(pins194.getLong(0) == 0,
        "q194: the hairline row (ts == wave-2 watermark) was " +
          "admitted — the strict-> admission boundary regressed")
      require(pins194.getLong(1) > 0,
        "q194: no admitted delete settled")
      require(pins194.getLong(2) > 0,
        "q194: no settled upsert winners")
      StreamingVectorIndex.applyWaveIvfPq(s, root,
        winners.select(col("vec_id"), col("embedding"), col("op")),
        0L, "vec_id", "embedding", kCells = 8, m = 8, k = 16,
        cdFactorX100 = 100000L, skewFactorX100 = 100000L)
      winners.unpersist()
      require(!fs.exists(
          new org.apache.hadoop.fs.Path(s"$root/cents/gen=1")),
        "q194: the settled wave recentered despite suppressed " +
          "thresholds — the oracle's gen-0 replay would be wrong")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      StreamingVectorIndex.probeLiveIvfPq(s, root, qv, "vec_id",
          k = 10, nProbe = 3)
        .select(col("vec_id"), col("adc_score").as("score"))
        .orderBy(col("score").desc, col("vec_id"))
    }),

    // X3 × W — q191's PERCOLATION sibling (round 18, gating the
    // [[graft.streaming.StreamingPercolate.runEventTime]] front's
    // semantics): the same waved version stream settles by the q92
    // watermark algebra, and the saved searches fire on the SETTLED
    // WINNERS ONLY — the front's per-batch body restated relationally
    // exactly as q191 restates the lexical front. Rules 3/4 witness
    // the settle decisions directly (must "w2" + must_not "w1" fires
    // only where the admitted v2 won; must "w1" only where v1
    // survived both the v2 wave and the emptying late slice), so a
    // stale alert from an out-of-order older version, a double alert
    // from a re-delivery, or an alert from an unsettled/emptied key
    // all hash-red. The alert set is computed by the INDEXED
    // percolator (q173's gated path) over the winners.
    "q195_percolate_eventtime" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val stored = Seq(
        (1L, Seq("sort", "merge"), Seq("scan")),
        (2L, Seq("query"), Seq.empty[String]),
        (3L, Seq("w2"), Seq("w1")),
        (4L, Seq("w1"), Seq.empty[String]))
        .toDF("query_id", "must", "must_not")
      val base = lit(1700000000000L)
      val w1 = d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" w1")).as("text"),
          lit(1L).as("v"), (base + col("doc_id") * 1000).as("tsms"),
          lit(1).as("wave"))
      val w2 = d.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" w2")).as("text"),
          lit(2L).as("v"),
          (base + col("doc_id") * 1000 + 600000).as("tsms"),
          lit(2).as("wave"))
      // the late slice EMPTIES %50 keys at v3 — the delete-shaped
      // version: an emptied winner alerts nothing, and the emptying
      // is itself subject to admission
      val w2del = d.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), lit("").as("text"), lit(3L).as("v"),
          (base + col("doc_id") * 1000 + 350000).as("tsms"),
          lit(2).as("wave"))
      val adv = s.range(1).select(lit(999999L).as("doc_id"),
        lit("wm-advance").as("text"), lit(1L).as("v"),
        (base + lit(1000000000L)).as("tsms"), lit(3).as("wave"))
      // the family's HAIRLINE pin (q192/q194's rule): one row with
      // event time EXACTLY equal to wave 2's watermark, carrying the
      // text "w2" — dropped by strict `>` on both sides; a `>=`
      // regression admits it and witness rule 3 fires a deterministic
      // extra alert, hash-red
      val w1maxRow = w1.agg(max(col("tsms"))).head()
      require(!w1maxRow.isNullAt(0),
        "hairline pin: wave 1 is empty at this SF — no watermark to " +
          "sit on")
      val hairline = s.range(1).select(lit(999998L).as("doc_id"),
        lit("w2").as("text"), lit(1L).as("v"),
        lit(w1maxRow.getLong(0) - 60000L).as("tsms"),
        lit(2).as("wave"))
      val winners = graft.engine.Caching.cached(
        Upsert.latestByKeyWavedReplay(
            w1.unionByName(w2).unionByName(w2del).unionByName(adv)
              .unionByName(hairline),
            "doc_id", "v", "text", "tsms", delayMs = 60000L, "wave")
          .filter(col("evicted"))
          .select(col("doc_id"), col("text")))
      // two pin counts, one action (the q191 fusion)
      val pins195 = winners.agg(
        count(when(col("doc_id") === 999998L, 1L)),
        count(when(col("text") === "", 1L))).head()
      require(pins195.getLong(0) == 0,
        "q195: the hairline row (ts == wave-2 watermark) was " +
          "admitted — the strict-> admission boundary regressed")
      require(pins195.getLong(1) > 0,
        "q195: no emptied version settled — the late slice must " +
          "reach past wave 2's watermark")
      val path = scratchPath("perc_et_qindex", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      TextAnalysis.percolateWriteQueryIndex(stored, path)
      val alerts = TextAnalysis.percolateIndexed(s, path, winners,
        "doc_id", "text")
      val byRule = alerts.groupBy(col("query_id")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      require(byRule.getOrElse(3L, 0L) > 0 &&
          byRule.getOrElse(4L, 0L) > 0,
        s"q195: the settle-witnessing rules are vacuous ($byRule) — " +
          "rule 3 needs an admitted v2 winner, rule 4 a surviving v1")
      alerts.orderBy(col("query_id"), col("doc_id"))
    }),

    // X2 × MVCC — RECENTER CRASH RECOVERY under the hash gate (r16
    // verdict stretch 6, promoting the ScalaTest-only crash-injection
    // proof to an oracle row): a hard-drift wave's recenter is KILLED
    // right after the rebuild's full-replacement seal — marker
    // pending, cells + published model on storage, model snapshot /
    // stats reset / baseline / marker clear all unfinished (the
    // shared [[graft.streaming.StreamingVectorIndex
    // .crashAfterRebuild]] injection, the crash point the recovery
    // protocol exists for). The NEXT wave recovers first — replays
    // the sealed DECISION, not the gauge — then applies its own
    // benign delta, and the final live probe must equal the from-raw
    // replay under the WRITTEN generation-1 model: a recovery that
    // half-applied the decision (stale model, lost delta, dangling
    // marker) hash-reds. id%3=0 corpus third (the q189 pricing rule).
    "q193_recenter_crash_recovery" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val all = e.filter(col("vec_id") =!= 0 && col("vec_id") % 3 === 0)
        .select(col("vec_id"), col("embedding"))
      val root = scratchPath("vcrash_q", dir)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      StreamingVectorIndex.bootstrapQuantized(all, root, "vec_id",
        "embedding", k = 8)
      // wave 0: the q186 breach transform on the whole third — the
      // gauge breaches, the recenter seals its decision and rebuild,
      // and the injected crash kills everything after the seal
      val drifted = all.select(col("vec_id"),
        transform(col("embedding"),
          x => x + (col("vec_id") % 5).cast("float") * lit(3.0f))
          .as("embedding"))
      val boom =
        try {
          StreamingVectorIndex.applyWave(s, root,
            drifted.select(col("vec_id"), col("embedding"),
              lit("upsert").as("op")),
            0L, "vec_id", "embedding",
            StreamingVectorIndex.crashAfterRebuild(
              StreamingVectorIndex.QuantizedOps(8, 42L)),
            115L, 175L)
          false
        } catch {
          case ex: RuntimeException
            if ex.getMessage.contains("injected crash") => true
        }
      require(boom, "q193: the drift wave did not reach the crash " +
        "point — no recenter fired")
      require(fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/_RECENTER_PENDING")),
        "q193: the crash left no pending marker to recover")
      // the NEXT wave recovers the sealed decision, then applies a
      // benign delete delta of its own
      StreamingVectorIndex.applyWaveQuantized(s, root,
        all.filter(col("vec_id") % 41 === 3)
          .select(col("vec_id"), col("embedding"),
            lit("delete").as("op")),
        1L, "vec_id", "embedding", k = 8)
      require(!fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/_RECENTER_PENDING")),
        "q193: recovery did not clear the marker")
      require(fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/cents/gen=1")),
        "q193: recovery did not complete the generation-1 model")
      require(!fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/cents/gen=2")),
        "q193: the benign recovery wave recentered again — the " +
          "oracle's gen-1 replay would be wrong")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      StreamingVectorIndex.probeLiveQuantized(s, root, qv, "vec_id",
          k = 10, nProbe = 3)
        .select(col("vec_id"), col("qsim").as("score"))
        .orderBy(col("score").desc, col("vec_id"))
    }),

    // X2 — SNAPSHOT CLONE under the hash gate
    // ([[SegmentManifest.cloneGeneration]]): a maintained quantized
    // index takes one recrawl wave (sealing the pinned composition),
    // the sealed generation is CLONED to a fresh path (the
    // publish-to-serving / DR export), and the SOURCE then moves on —
    // a second wave plus a vacuum that reclaims the cloned
    // generation's history at the source. The returned frame probes
    // the CLONE: its hash proves the clone resolves exactly the
    // wave-1 composition (the oracle replays that snapshot from raw —
    // assignment by cosine argmin, the engine's own floor-rule
    // quantization, int8 cosine top-k) and that source maintenance
    // and vacuum after the copy cannot reach it. At 100 TB the copy
    // is one task per cell directory (the distcp shape) and the
    // final manifest seal is the atomic publish.
    "q196_index_clone_probe" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      // the q193 third-corpus discipline: the thing under test is the
      // CLONE protocol, not fit/probe scale (q90/q186 price those) —
      // a third at k=8 keeps the row in q193's cost class
      val base = e.filter(col("vec_id") =!= 0 && col("vec_id") % 3 === 0)
      Similarity.learnedCentroids(base, "embedding", k = 8)
        .coalesce(1).write.mode("overwrite")
        .parquet(scratchPath("clq_cents", dir))
      val cents = s.read.parquet(scratchPath("clq_cents", dir))
      val src = scratchPath("clq_src", dir)
      val dst = scratchPath("clq_dst", dir)
      val fs = new org.apache.hadoop.fs.Path(src)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(src), true)
      fs.delete(new org.apache.hadoop.fs.Path(dst), true)
      Similarity.ivfWriteIndexQuantized(base, cents, "vec_id",
        "embedding", src)
      def sig(f: DataFrame) =
        f.select(col("vec_id"), xxhash64(col("embedding")).as("sig"))
      // wave 1 — the composition under test: remove %13==5, negate
      // %7==2 (float negation is exact in both engines)
      val snap1 = base.filter(col("vec_id") % 13 =!= 5)
        .select(col("vec_id"),
          when(col("vec_id") % 7 === 2,
            transform(col("embedding"), x => -x))
            .otherwise(col("embedding")).as("embedding"))
      Similarity.ivfRefreshQuantizedIncremental(s, src, cents, snap1,
        Upsert.diffByKey(sig(base), sig(snap1), "vec_id", "sig"),
        "vec_id", "embedding")
      SegmentManifest.cloneGeneration(s, src, dst)
      // the source moves on: wave 2 + vacuum to ONE generation — the
      // wave-1 manifest and its unshared history are reclaimed at the
      // source, so a clone that shared anything would now break
      val snap2 = snap1.select(col("vec_id"),
        when(col("vec_id") % 9 === 4,
          transform(col("embedding"), x => -x))
          .otherwise(col("embedding")).as("embedding"))
      Similarity.ivfRefreshQuantizedIncremental(s, src, cents, snap2,
        Upsert.diffByKey(sig(snap1), sig(snap2), "vec_id", "sig"),
        "vec_id", "embedding")
      Similarity.ivfVacuumQuantized(s, src, keepGenerations = 1)
      Similarity.ivfProbePrunedQuantized(s, dst, cents, qv, "vec_id",
        k = 10, nProbe = 3)
    }),

    // X2 — LATE-INTERACTION retrieval (ColBERT MaxSim) under the hash
    // gate: every document carries one vector PER TOKEN (the
    // md5-derived pseudo-embedding — exact dyadic rationals both
    // engines reproduce bit-for-bit), score = Σ over query tokens of
    // the max fixed-point inner product over the doc's token vectors.
    // The multi-vector rung of the similarity family: token-level
    // matching a single pooled vector blurs away, exact brute form
    // (the [[Similarity.maxSimTopKPruned]] candidate-generation rung
    // is spec-pinned — full-probe ≡ brute, partial-probe exact
    // rescoring). One corpus-token scan against the broadcast query
    // panel + two map-side-combined aggregates.
    "q197_late_interaction" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val docVecs = d.select(col("doc_id"),
          explode(array_distinct(TextAnalysis.tokens(
            coalesce(col("text"), lit(""))))).as("tok"))
        .select(col("doc_id"),
          Similarity.tokenPseudoVec(col("tok")).as("tokvec"))
      // mixed-rarity panel: two common tokens (self-match in most
      // docs), one RARE token ("dup", df≈25 — present docs jump), and
      // one OUT-OF-VOCABULARY token whose max dot is a genuine
      // varying best-pseudo-match per doc — so the top-k exercises
      // score ORDERING, not just the tie-break
      val queryVecs = Seq((0L, "scan"), (1L, "filter"), (2L, "dup"),
          (3L, "zetadrive"))
        .toDF("qtok_id", "tok")
        .select(col("qtok_id"),
          Similarity.tokenPseudoVec(col("tok")).as("qvec"))
      Similarity.maxSimTopK(docVecs, queryVecs, "doc_id", k = 20)
    }),

    // X2 — MMR DIVERSITY RE-RANKING under the hash gate
    // ([[Similarity.mmrRerank]], Carbonell & Goldstein 1998): an
    // exact top-40 candidate list re-ranked greedily by
    // λ·relevance − (1−λ)·max-cosine-to-selected at λ=0.70. The
    // fixed-point integer argmax (1e-7 quantization, ties to the
    // smallest id) makes the greedy TRACE deterministic and
    // engine-portable, so the oracle replays the full selection
    // sequence with a recursive CTE (one LATERAL argmax per rank) —
    // rank order, selected ids, and the mmr objective all under the
    // hash. The candidate list is k-bounded BY CONTRACT (the
    // ivfPqProbeRefined driver-size class): at 100 TB the corpus
    // never reaches the greedy loop, only the upstream top-N does.
    "q200_mmr_rerank" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      val corpus = e.filter(col("vec_id") =!= 0)
      val cand = Similarity.topK(corpus, qv, "vec_id", "embedding", 40)
        .join(corpus.select(col("vec_id"), col("embedding")),
          Seq("vec_id"))
      Similarity.mmrRerank(cand, "vec_id", "sim", "embedding",
        k = 15, lambdaX100 = 70)
    }),

    // X2 — the PRUNED late-interaction rung under the hash gate
    // ([[Similarity.maxSimTopKPruned]], the two-stage shape ColBERT
    // serves: spherical k-means cells over token vectors, per-qtok
    // nProbe candidate docs via the cell semi-join, exact MaxSim
    // rescoring on the candidates): at FULL probe (nProbe = kCells)
    // the candidate set is the whole corpus, so returned scores are
    // bit-identical to q197's brute scan BY CONSTRUCTION — the same
    // oracle serves unchanged — while the fit, the per-row cell
    // argmin, the probed-cell union and the left-semi candidate
    // restriction all execute under the hash. The recall trade of a
    // partial probe is spec-pinned (MaxSimSpec) and measured
    // (NOTES_r17/r18.md); this row pins the pruned MACHINERY.
    "q199_late_interaction_pruned" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val docVecs = d.select(col("doc_id"),
          explode(array_distinct(TextAnalysis.tokens(
            coalesce(col("text"), lit(""))))).as("tok"))
        .select(col("doc_id"),
          Similarity.tokenPseudoVec(col("tok")).as("tokvec"))
      val queryVecs = Seq((0L, "scan"), (1L, "filter"), (2L, "dup"),
          (3L, "zetadrive"))
        .toDF("qtok_id", "tok")
        .select(col("qtok_id"),
          Similarity.tokenPseudoVec(col("tok")).as("qvec"))
      Similarity.maxSimTopKPruned(docVecs, queryVecs, "doc_id",
        k = 20, kCells = 8, nProbe = 8)
    }),

    // X2 — the clone CATCH-UP path under the hash gate (q196's
    // sibling, [[StreamingVectorIndex.syncServing]]): a streaming
    // int8 loop bootstraps and takes wave 1, the serving COMPOSITE is
    // cloned (index generation + the pinned model artifacts), the
    // source takes wave 2, and the clone CATCHES UP incrementally
    // (syncServing: delta index members + generation-keyed model
    // shipping). The source then moves past it — wave 3 deletes a
    // slice, and an explicit vacuum reclaims every generation the
    // clone ever shared. The returned frame probes the CLONE through
    // the serving entry (probeLiveQuantized — cells AND model
    // resolved through the clone's own pinned manifest): its hash
    // proves the synced clone is exactly the wave-2 composition
    // (oracle replays waves 1∘2 from raw under the clone's own
    // shipped gen-0 model — reading cents from the DST root, so a
    // sync that failed to ship the model artifact goes red) and that
    // nothing wave 3 or the source vacuum did can reach it. At
    // 100 TB the catch-up is the rsync shape: a wave touching 3 of
    // 10⁴ cells ships 3 directory copies + 1 manifest seal.
    "q198_serving_sync_probe" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      val base = e.filter(col("vec_id") =!= 0 && col("vec_id") % 3 === 2)
        .select(col("vec_id"), col("embedding"))
      val src = scratchPath("svs_src", dir)
      val dst = scratchPath("svs_dst", dir)
      val fs = new org.apache.hadoop.fs.Path(src)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq(src, dst).foreach(r =>
        fs.delete(new org.apache.hadoop.fs.Path(r), true))
      StreamingVectorIndex.bootstrapQuantized(base, src, "vec_id",
        "embedding", k = 8)
      def wave(df: DataFrame, op: String) =
        df.select(col("vec_id"), col("embedding"), lit(op).as("op"))
      def shifted(df: DataFrame, d: Float) =
        df.select(col("vec_id"),
          transform(col("embedding"), x => x + lit(d)).as("embedding"))
      // wave 1: shift %11==3 by +0.25 (dyadic — exact in both
      // engines), delete %13==7; the shifted slice excludes the
      // deleted one so no key carries two ops in one wave
      StreamingVectorIndex.applyWaveQuantized(s, src,
        wave(shifted(base.filter(col("vec_id") % 11 === 3 &&
          col("vec_id") % 13 =!= 7), 0.25f), "upsert")
          .unionByName(
            wave(base.filter(col("vec_id") % 13 === 7), "delete")),
        0L, "vec_id", "embedding", k = 8)
      StreamingVectorIndex.cloneServing(s, src, dst)
      // wave 2 at the SOURCE: shift %17==2 by +0.5 from the raw base
      // (revives a wave-1 delete if %13==7 too — the oracle composes
      // the same rule)
      StreamingVectorIndex.applyWaveQuantized(s, src,
        wave(shifted(base.filter(col("vec_id") % 17 === 2), 0.5f),
          "upsert"),
        1L, "vec_id", "embedding", k = 8)
      // the benign waves must not have recentered — the oracle
      // replays under the gen-0 model the clone shipped
      for (g <- 1 to 3)
        require(!fs.exists(new org.apache.hadoop.fs.Path(
            s"$src/cents/gen=$g")),
          s"q198: a benign wave recentered (cents/gen=$g) — the " +
            "oracle's gen-0 replay would be wrong")
      // CATCH-UP: delta members + generation-keyed model shipping
      val delta = StreamingVectorIndex.syncServing(s, src, dst)
      require(delta.nonEmpty,
        "q198: syncServing copied nothing for a real wave")
      // the source moves past the clone: wave 3 deletes a slice, and
      // the vacuum reclaims every generation the clone ever shared
      StreamingVectorIndex.applyWaveQuantized(s, src,
        wave(base.filter(col("vec_id") % 7 === 1 &&
          col("vec_id") % 13 =!= 7 && col("vec_id") % 17 =!= 2),
          "delete"),
        2L, "vec_id", "embedding", k = 8)
      Similarity.ivfVacuumQuantized(s, s"$src/index",
        keepGenerations = 1)
      StreamingVectorIndex.probeLiveQuantized(s, dst, qv, "vec_id",
        k = 10, nProbe = 3)
    }),

    "q162_spell_suggest" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val path = fxDocsBm25(s, dir)
      val s1 = TextAnalysis.spellSuggest(s, path, "tble",
          maxDist = 1, k = 5, "doc_id")
        .withColumn("q", lit("tble~1"))
      val s2 = TextAnalysis.spellSuggest(s, path, "sot",
          maxDist = 2, k = 5, "doc_id")
        .withColumn("q", lit("sot~2"))
      val s3 = TextAnalysis.spellSuggest(s, path, "pat",
          maxDist = 2, k = 5, "doc_id")
        .withColumn("q", lit("pat~2"))
      s1.unionByName(s2).unionByName(s3)
        .orderBy(col("q"), col("dist"), col("df").desc, col("term"))
    }),

    // X3 — TIME-TRAVEL probe (the generational layout's free
    // dividend; Lucene point-in-time commit / Delta version read):
    // generation 0 indexes the even docs, generation 1 applies a
    // remove/modify/add wave (tombstones + fresh segment), then the
    // SAME panel probes asOf=0 and live — asOf must replay
    // generation-0 scoring bit-for-bit (stats partials, df, kill
    // rule all cut at the generation), live must score the final
    // corpus. The oracle rebuilds both corpus states from the raw
    // table and replays the q115 arithmetic on each.
    "q161_index_time_travel" -> ((s, dir) => {
      import s.implicits._
      val path = fxDocsTwoGen(s, dir)
      val panel = Seq((0L, "merge sort window"),
        (1L, "slow query filter")).toDF("qid", "qtext")
      val asOf0 = TextAnalysis.bm25ProbeSegmented(s, path, panel,
          k = 10, "doc_id", asOfSegment = Some(0))
        .withColumn("gen", lit(0))
      val live = TextAnalysis.bm25ProbeSegmented(s, path, panel,
          k = 10, "doc_id")
        .withColumn("gen", lit(1))
      asOf0.unionByName(live)
        .orderBy(col("gen"), col("qid"), col("score").desc,
          col("doc_id"))
    }),

    // X2 — RESIDUAL IVF-PQ cell-incremental refresh (q141's scenario
    // on the residual layout — the last index family without a
    // maintenance rung): fresh rows residual-encode through the
    // WRITTEN codebooks against their assigned cell's FIXED centroid
    // (the one shared encodeResidual definition), survivors keep
    // codes verbatim. In-builder membership parity vs a from-scratch
    // residual re-encode of the final snapshot through the same
    // artifacts; the gated output is q131's residual ADC replay off
    // the refreshed parquet.
    "q145_ivfpq_residual_refresh" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val base = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
      val snapA = base.filter(col("vec_id") % 11 =!= 5)
      val status = when(col("vec_id") % 11 === 5, lit("added"))
        .when(col("vec_id") % 7 === 1, lit("modified"))
        .when(col("vec_id") % 13 === 2, lit("removed"))
        .otherwise(lit("unchanged"))
      val changes = base.select(col("vec_id"), status.as("status"))
      val snapB = base
        .filter(status =!= "removed")
        .select(col("vec_id"),
          when(status === "modified",
            transform(col("embedding"), x => (x + lit(0.05f))))
            .otherwise(col("embedding")).as("embedding"))
      val path = scratchPath("ivfpqrf_index", dir)
      val centsPath = scratchPath("ivfpqrf_cents", dir)
      Similarity.learnedCentroids(snapA, "embedding", k = 16)
        .coalesce(1).write.mode("overwrite").parquet(centsPath)
      val cents = s.read.parquet(centsPath)
      ProductQuantize.ivfPqWriteIndexResidual(snapA, cents, "vec_id",
        "embedding", m = 8, k = 16, path)
      val dirty = ProductQuantize.ivfPqRefreshIncrementalResidual(s,
        path, cents, snapB, changes, "vec_id", "embedding")
      require(dirty.nonEmpty, "q145: recrawl wave touched no cells")
      Similarity.ivfVacuumQuantized(s, s"$path/codes",
        keepGenerations = 2, Seq(SegmentManifest.CellLayout,
          SegmentManifest.BooksLayout))
      // membership parity through the SHARED residual derivation
      // (manifest-aware read — the MVCC wave's cells live under the
      // sealed composition, not the plain hive glob)
      val cb = s.read.parquet(s"$path/codebooks")
      val expect = ProductQuantize.encodeResidual(snapB, cents,
        "vec_id", "embedding", cb, m = 8)
      val got = graft.engine.Caching.cached(
        Similarity.readQuantizedIndex(s, s"$path/codes")
          .select(col("vec_id"), col("codes"),
            col("centroid_id").cast("long").as("centroid_id")))
      require(got.count() == expect.count() &&
          got.exceptAll(expect).count() == 0,
        "q145: refreshed residual index diverged from a " +
          "from-scratch re-encode")
      val qv = e.filter(col("vec_id") === 0)
        .select(VectorFns.toDouble(col("embedding")).as("qvec"))
      ProductQuantize.ivfPqProbeResidual(s, path, cents, qv, "vec_id",
        k = 10, nProbe = 3)
    }),

    // X3 × X1 — the SNAPSHOT-FREE upsert wave (q142's scenario with
    // no old corpus in hand — the CRUD-stream primitive): old
    // document lengths for the tombstone stats correction come from
    // the index's OWN live postings, so a delta of upserts + deletes
    // maintains the index with zero side state. Same final corpus as
    // q142, so the identical direct-scan oracle pins the derivation:
    // a wrong old-dl shifts avgdl and every score with it.
    "q146_bm25_upsert_wave" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val old = d.filter(col("doc_id") % 5 =!= 4)
      val status = when(col("doc_id") % 5 === 4, lit("added"))
        .when(col("doc_id") % 7 === 0, lit("modified"))
        .when(col("doc_id") % 11 === 3, lit("removed"))
        .otherwise(lit("unchanged"))
      val upserts = d.filter(status.isin("added", "modified"))
        .select(col("doc_id"),
          when(status === "modified",
            concat(col("text"), lit(" upd"))).otherwise(col("text"))
            .as("text"))
      val deletes = d.filter(status === "removed").select(col("doc_id"))
      val path = scratchPath("bm25_upw", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      TextAnalysis.bm25AppendSegment(
        old.filter(col("doc_id") % 2 === 0), "doc_id", "text", path, 0)
      TextAnalysis.bm25AppendSegment(
        old.filter(col("doc_id") % 2 === 1), "doc_id", "text", path, 1)
      val (folds, remaining) = TextAnalysis.bm25ApplyUpserts(s, path,
        upserts, deletes, "doc_id", "text", segment = 2,
        maxSegments = 2)
      require(folds == 1 && remaining == 2,
        s"q146: expected 1 fold down to 2 segments, got ($folds, $remaining)")
      require(SegmentManifest.latest(s, path).get
          .segs("tombstones").nonEmpty,
        "q146: upsert wave must leave its tombstones")
      val panel = Seq(
        (0L, "sort merge join upd"), (1L, "query filter scan"))
        .toDF("qid", "qtext")
      TextAnalysis.bm25ProbeSegmented(s, path, panel, k = 12, "doc_id")
        .orderBy(col("qid"), col("score").desc, col("doc_id"))
    }),

    // X3 × X1 — the lexical RECRAWL wave (q141's counterpart for the
    // BM25 index): a corpus diff drives tombstones (old-snapshot dl),
    // a fresh segment, and tiered compaction through ONE operator —
    // the full "one recrawl maintains every index" story, lexical
    // side. Same final corpus state as q115/q122/q134, so the merge,
    // the tiered fold, AND the recrawl wave are all pinned to the
    // identical direct-scan oracle; the builder requires the
    // compacted-with-tombstones layout.
    "q142_bm25_recrawl" -> ((s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val old = d.filter(col("doc_id") % 5 =!= 4)
      val status = when(col("doc_id") % 5 === 4, lit("added"))
        .when(col("doc_id") % 7 === 0, lit("modified"))
        .when(col("doc_id") % 11 === 3, lit("removed"))
        .otherwise(lit("unchanged"))
      val changes = d.select(col("doc_id"), status.as("status"))
      val newSnap = d
        .filter(status =!= "removed")
        .select(col("doc_id"),
          when(status === "modified",
            concat(col("text"), lit(" upd"))).otherwise(col("text"))
            .as("text"))
      val path = scratchPath("bm25_recrawl", dir)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      // the pre-wave index: two generations of the old corpus
      TextAnalysis.bm25AppendSegment(
        old.filter(col("doc_id") % 2 === 0), "doc_id", "text", path, 0)
      TextAnalysis.bm25AppendSegment(
        old.filter(col("doc_id") % 2 === 1), "doc_id", "text", path, 1)
      val (folds, remaining) = TextAnalysis.bm25ApplyRecrawl(s, path,
        old, newSnap, changes, "doc_id", "text", segment = 2,
        maxSegments = 2)
      require(folds == 1 && remaining == 2,
        s"q142: expected 1 fold down to 2 segments, got ($folds, $remaining)")
      require(SegmentManifest.latest(s, path).get
          .segs("tombstones").nonEmpty,
        "q142: recrawl wave must leave its tombstones")
      val panel = Seq(
        (0L, "sort merge join upd"), (1L, "query filter scan"))
        .toDF("qid", "qtext")
      TextAnalysis.bm25ProbeSegmented(s, path, panel, k = 12, "doc_id")
        .orderBy(col("qid"), col("score").desc, col("doc_id"))
    }),

    // X2 — the PQ layout's drift-guarded maintenance loop end-to-end
    // (q136's scenario on IVF-PQ; closes the round-12 "PQ drift loop"
    // known-limit): refresh keeps codebooks + centroids fixed, the
    // drift gauges come from the CODES alone (per-(cell, subspace,
    // code) fixed-point LUT — no vector ever reconstructed), and the
    // breach retrains BOTH artifacts and rebuilds. Benign wave must
    // not recenter, hard-drift wave must; the gated output is the
    // rebuilt index's per-cell code-level drift stats, replayed by
    // DuckDB through the same LUT algebra off the written artifacts.
    "q143_ivfpq_drift_loop" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val base = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
      val path = scratchPath("ivfpqd_index", dir)
      val centsPath = scratchPath("ivfpqd_cents", dir)
      val kCells = 8
      val cents0 = Similarity.learnedCentroids(base, "embedding",
        kCells).localCheckpoint()
      ProductQuantize.ivfPqWriteIndex(base, cents0, "vec_id",
        "embedding", m = 8, k = 16, path)
      // seed wave 1's carry with the baseline's own stats scan
      val stats0 = ProductQuantize.ivfPqDriftStats(s, path, cents0,
        "vec_id").localCheckpoint()
      val baseline = Similarity.ivfDriftGauges(stats0)
      val snap1 = base.select(col("vec_id"),
        when(col("vec_id") % 97 === 1,
          transform(col("embedding"), x => (x + lit(0.001f))))
          .otherwise(col("embedding")).as("embedding"))
      val changes1 = base.select(col("vec_id"),
        when(col("vec_id") % 97 === 1, lit("modified"))
          .otherwise(lit("unchanged")).as("status"))
      val (c1, b1, rec1, st1) = ProductQuantize.ivfPqRefreshOrRecenter(
        s, path, cents0, snap1, changes1, "vec_id", "embedding",
        baseline, kCells, m = 8, k = 16,
        prevStats = Some(stats0))
      require(!rec1, "q143: benign wave must not recenter")
      val snap2 = snap1.select(col("vec_id"),
        when(col("vec_id") % 3 === 0,
          transform(col("embedding"),
            (x, j) => (x + lit(1.0) * cos(j.cast("double")))
              .cast("float")))
          .otherwise(col("embedding")).as("embedding"))
      val changes2 = base.select(col("vec_id"),
        when(col("vec_id") % 3 === 0, lit("modified"))
          .otherwise(lit("unchanged")).as("status"))
      val (c2, _, rec2, _) = ProductQuantize.ivfPqRefreshOrRecenter(s,
        path, c1, snap2, changes2, "vec_id", "embedding",
        b1, kCells, m = 8, k = 16, prevStats = Some(st1))
      require(rec2, "q143: hard-drift wave must recenter")
      // r16 verdict item 3: the recentered layout must still
      // RETRIEVE, not just satisfy content parity — a multi-query
      // panel probed through the maintained index (ALL cells, so the
      // only loss is PQ quantization under the RETRAINED books)
      // against exact brute force over the drifted corpus. The floor
      // is a collapse alarm (a rebuild sealing garbage codes reads
      // ~0), sitting under the q75 flat-ADC band for this geometry.
      val panel = graft.engine.Caching.cached(
        e.filter(col("vec_id") % 29 === 1)
          .select(col("vec_id").as("qid"),
            VectorFns.toDouble(col("embedding")).as("qvec")))
      val nPanel = panel.count()
      require(nPanel > 0,
        "q143: empty %29 recall panel at this SF — the floor would " +
          "be vacuously green")
      val panelHits = ProductQuantize.ivfPqProbeMulti(s, path, c2,
          panel, "vec_id", k = 10, nProbe = kCells)
        .select(col("qid"), col("vec_id"))
        .join(Similarity.topKMulti(snap2, panel, "vec_id",
            "embedding", 10)
          .select(col("qid"), col("vec_id")), Seq("qid", "vec_id"))
        .count()
      panel.unpersist()
      require(panelHits * 100 >= nPanel * 10 * 8,
        s"q143: post-recenter recall collapsed — " +
          s"$panelHits/${nPanel * 10} < 8%")
      c2.coalesce(1).write.mode("overwrite").parquet(centsPath)
      val centsR = s.read.parquet(centsPath)
      val stats = graft.engine.Caching.cached(
        ProductQuantize.ivfPqDriftStats(s, path, centsR, "vec_id"))
      val tot = stats.agg(sum(col("n")).as("tot"),
        max(col("n")).as("maxn"), count(lit(1)).as("cells"))
      stats.crossJoin(broadcast(tot))
        .select(col("centroid_id"), col("n"), col("cd_fp_sum"),
          col("mean_cd"),
          expr("(maxn * cells * 100) div tot").as("skew_x100"))
        .orderBy(col("centroid_id"))
    }),
  )

  /** q32's featurization, exposed so KMeansSpec can fit alternative k
    * on the IDENTICAL features (inertia invariant): three per-customer
    * financial features (account balance, total order spend, order
    * count — orders LEFT-joined so order-less customers keep 0),
    * z-scored StandardScaler-style via ONE stats aggregate broadcast
    * back (no global window — the q09/A2 shape). */
  private[queries] def kmeansFeatures(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    val spend = o.groupBy(col("o_custkey"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("spend"),
        count(lit(1)).cast("double").as("n_orders"))
    val feat = c.join(spend, c("c_custkey") === spend("o_custkey"), "left")
      .select(col("c_custkey"), col("c_acctbal").cast("double").as("bal"),
        coalesce(col("spend"), lit(0.0)).as("spend"),
        coalesce(col("n_orders"), lit(0.0)).as("n_orders"))
    val stats = feat.agg(
      avg(col("bal")).as("mu_b"), stddev_samp(col("bal")).as("sd_b"),
      avg(col("spend")).as("mu_s"), stddev_samp(col("spend")).as("sd_s"),
      avg(col("n_orders")).as("mu_n"), stddev_samp(col("n_orders")).as("sd_n"))
    feat.crossJoin(broadcast(stats))
      .select(col("c_custkey"),
        ((col("bal") - col("mu_b")) / col("sd_b")).as("z_bal"),
        ((col("spend") - col("mu_s")) / col("sd_s")).as("z_spend"),
        ((col("n_orders") - col("mu_n")) / col("sd_n")).as("z_orders"))
  }

  /** q44's matrix columns — shared between the Spark plan and the
    * generated oracle SQL so the two can never drift. */
  private val corrMatrixCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** q46's sentiment lexicons (chosen from the synthetic corpus
    * vocabulary so scores are non-vacuous). */
  private val sentimentPos = Seq("fast", "big")
  private val sentimentNeg = Seq("slow", "small")

  /** Incremental exact dedup of the src10+ batch against the src0–9
    * corpus (DuckDB) — the oracle for q65 and its bloom-pre-filtered
    * form q71 (identical output by construction). */
  private val incrementalDedupSql =
    """WITH s AS (SELECT doc_id, source,
      |    array_to_string(list_sort(list_distinct(
      |      string_split(text, ' '))), ' ') AS sig,
      |    CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS srcn
      |  FROM documents),
      |corpus AS (SELECT DISTINCT sig FROM s WHERE srcn < 10)
      |SELECT min(doc_id) AS keep_id, count(*) AS n_batch_dups
      |FROM s
      |WHERE srcn >= 10 AND sig NOT IN (SELECT sig FROM corpus)
      |GROUP BY sig ORDER BY keep_id""".stripMargin

  /** Exact n-gram Jaccard near-dup pairs (DuckDB) — the oracle for q26
    * and, recall being measured-exact on this corpus, for q28. */
  private val exactJaccardPairsSql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, sh FROM (
      |  SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(len(t) - 2, 0) + 1),
      |    i -> array_to_string(t[i:i+2], ' '))) AS sh
      |  FROM toks)),
      |szs AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |rare AS (SELECT sh FROM (SELECT sh, count(*) AS c FROM sh GROUP BY sh)
      |         WHERE c BETWEEN 2 AND 100),
      |shr AS (SELECT * FROM sh WHERE sh IN (SELECT sh FROM rare)),
      |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
      |          FROM shr a JOIN shr b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT id1, id2,
      |  round(i * 1.0 / (s1.sz + s2.sz - i), 4) AS jaccard
      |FROM inter
      |JOIN szs s1 ON id1 = s1.doc_id
      |JOIN szs s2 ON id2 = s2.doc_id
      |WHERE round(i * 1.0 / (s1.sz + s2.sz - i), 4) >= 0.5
      |ORDER BY id1, id2""".stripMargin

  private val oracleSqlBase: Map[String, String] = Map(
    "q13_cosine_topk" ->
      """SELECT vec_id,
        |  round(list_cosine_similarity(embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 4) AS sim
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    "q14_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM (SELECT doc_id,
        |        array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS sig
        |      FROM documents)
        |GROUP BY sig ORDER BY keep_id""".stripMargin,

    "q15_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  round(avg(n_chars), 4) AS avg_chars,
        |  round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
        |  count(DISTINCT source) AS n_sources,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q16_event_windows" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q17_sessionization" ->
      """WITH d AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |                      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM d)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin,

    "q18_csv_roundtrip" ->
      """SELECT month(o_orderdate) AS mo, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE year(o_orderdate) = 1997
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // replicates the full quantize → cosine → top-k pipeline: same
    // per-vector scale, same spelled-out floor rounding, same cosine
    "q89_quantized_ann" ->
      """WITH q AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
        |      / 127.0 AS s
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id,
        |    CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
        |         ELSE list_transform(v, x -> floor(x / s + 0.5)) END AS c
        |  FROM q)
        |SELECT vec_id,
        |  round(list_cosine_similarity(c,
        |    (SELECT c FROM qz WHERE vec_id = 0)), 4) AS qsim
        |FROM qz WHERE vec_id <> 0
        |ORDER BY qsim DESC, vec_id LIMIT 10""".stripMargin,

    // replays the materialized quantized index probe end-to-end: the
    // codes come from the INDEX PARQUET itself (so storage layout,
    // assignment, and pruning are all under the hash), only the query
    // is re-quantized from the source embedding
    "q90_quantized_ivf_probe" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |cents AS (SELECT centroid_id AS cid, cvec AS cv
        |          FROM read_parquet('{SCRATCH}/ivfq_cents_{SFHASH}/*.parquet')),
        |probed AS (SELECT cid FROM cents, q
        |           ORDER BY 1 - list_cosine_similarity(cv, qv), cid
        |           LIMIT 3),
        |qq AS (
        |  SELECT CASE WHEN s = 0 THEN list_transform(qv, x -> 0.0)
        |              ELSE list_transform(qv, x -> floor(x / s + 0.5))
        |         END AS qc
        |  FROM (SELECT qv, list_max(list_transform(qv, x -> abs(x))) / 127.0
        |          AS s FROM q)),
        |idx AS (
        |  SELECT vec_id, codes
        |  FROM read_parquet('{SCRATCH}/ivfq_index_{SFHASH}/*/*.parquet',
        |                    hive_partitioning = 1)
        |  WHERE CAST(centroid_id AS BIGINT) IN (SELECT cid FROM probed))
        |SELECT vec_id,
        |  round(list_cosine_similarity(codes::DOUBLE[],
        |    (SELECT qc FROM qq)), 4) AS qsim
        |FROM idx ORDER BY qsim DESC, vec_id LIMIT 10""".stripMargin,


    // PQ time travel: gen 0 = state-2 corpus rebuilt from the raw
    // table, unit-normalized, RE-ENCODED via the per-subspace argmin
    // over the written gen-0 codebooks, assigned/pruned under the
    // gen-0 centroids, integer-ADC-scored; gen 1 = the live physical
    // index replayed q130-style (the spec pins live ≡ as-of there)
    "q187_pq_time_travel" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |c0 AS (SELECT centroid_id AS cid, cvec AS cv FROM
        |  read_parquet('{SCRATCH}/pqtt_root_{SFHASH}/cents/gen=0/*.parquet')),
        |p0 AS (SELECT cid FROM c0, q
        |       ORDER BY 1 - list_cosine_similarity(cv, qv), cid LIMIT 3),
        |cb0 AS (SELECT subspace, code, cvec FROM
        |  read_parquet('{SCRATCH}/pqtt_root_{SFHASH}/books/gen=0/*.parquet')),
        |ip0 AS (SELECT subspace, code,
        |    CAST(floor(list_inner_product(cvec,
        |      qv[(subspace * 8 + 1):(subspace * 8 + 8)]) * 1e7 + 0.5)
        |      AS BIGINT) AS ip_fp
        |  FROM cb0, q),
        |s2 AS (SELECT vec_id,
        |         CASE WHEN vec_id % 11 = 3
        |              THEN list_transform(embedding,
        |                     x -> CAST(x + 0.25 AS FLOAT))
        |              ELSE embedding END AS v
        |       FROM embeddings
        |       WHERE vec_id <> 0 AND (vec_id % 11 = 3
        |          OR (vec_id % 5 <> 4 AND vec_id % 7 <> 1)
        |          OR (vec_id % 5 = 4 AND vec_id % 2 = 0))),
        |a2 AS (SELECT s2.vec_id AS vid,
        |         arg_min(c0.cid,
        |           1 - list_cosine_similarity(s2.v::DOUBLE[], c0.cv)) AS cid
        |       FROM s2, c0 GROUP BY s2.vec_id),
        |mem AS (SELECT s2.vec_id,
        |    list_transform(s2.v::DOUBLE[],
        |      x -> x / sqrt(list_inner_product(s2.v::DOUBLE[],
        |                                       s2.v::DOUBLE[]))) AS uv
        |  FROM s2 JOIN a2 ON s2.vec_id = a2.vid
        |  WHERE a2.cid IN (SELECT cid FROM p0)),
        |enc AS (SELECT vec_id, subspace, code FROM (
        |    SELECT mem.vec_id, cb0.subspace, cb0.code,
        |      row_number() OVER (PARTITION BY mem.vec_id, cb0.subspace
        |        ORDER BY list_distance(cb0.cvec,
        |          uv[(cb0.subspace * 8 + 1):(cb0.subspace * 8 + 8)]),
        |          cb0.code) AS rn
        |    FROM mem, cb0) WHERE rn = 1),
        |k0 AS (SELECT 0 AS gen, vec_id,
        |    round(CAST(sum(ip_fp) AS BIGINT) / 1e7, 4) AS adc_score
        |  FROM enc JOIN ip0 USING (subspace, code)
        |  GROUP BY vec_id ORDER BY adc_score DESC, vec_id LIMIT 10),
        |c3 AS (SELECT centroid_id AS cid, cvec AS cv FROM
        |  read_parquet('{SCRATCH}/pqtt_root_{SFHASH}/cents/gen=3/*.parquet')),
        |p3 AS (SELECT cid FROM c3, q
        |       ORDER BY 1 - list_cosine_similarity(cv, qv), cid LIMIT 3),
        |cb3 AS (SELECT subspace, code, cvec FROM
        |  read_parquet('{SCRATCH}/pqtt_root_{SFHASH}/books/gen=3/*.parquet')),
        |ip3 AS (SELECT subspace, code,
        |    CAST(floor(list_inner_product(cvec,
        |      qv[(subspace * 8 + 1):(subspace * 8 + 8)]) * 1e7 + 0.5)
        |      AS BIGINT) AS ip_fp
        |  FROM cb3, q),
        |s3 AS (SELECT vec_id,
        |         list_transform(embedding,
        |           x -> CAST(x + (vec_id % 5) * 3.0 AS FLOAT)) AS v
        |       FROM embeddings
        |       WHERE vec_id <> 0 AND (vec_id % 11 = 3
        |          OR (vec_id % 5 <> 4 AND vec_id % 7 <> 1)
        |          OR (vec_id % 5 = 4 AND vec_id % 2 = 0))),
        |a3 AS (SELECT s3.vec_id AS vid,
        |         arg_min(c3.cid,
        |           1 - list_cosine_similarity(s3.v::DOUBLE[], c3.cv)) AS cid
        |       FROM s3, c3 GROUP BY s3.vec_id),
        |mem3 AS (SELECT s3.vec_id,
        |    list_transform(s3.v::DOUBLE[],
        |      x -> x / sqrt(list_inner_product(s3.v::DOUBLE[],
        |                                       s3.v::DOUBLE[]))) AS uv
        |  FROM s3 JOIN a3 ON s3.vec_id = a3.vid
        |  WHERE a3.cid IN (SELECT cid FROM p3)),
        |enc3 AS (SELECT vec_id, subspace, code FROM (
        |    SELECT mem3.vec_id, cb3.subspace, cb3.code,
        |      row_number() OVER (PARTITION BY mem3.vec_id, cb3.subspace
        |        ORDER BY list_distance(cb3.cvec,
        |          uv[(cb3.subspace * 8 + 1):(cb3.subspace * 8 + 8)]),
        |          cb3.code) AS rn
        |    FROM mem3, cb3) WHERE rn = 1),
        |k1 AS (SELECT 1 AS gen, vec_id,
        |    round(CAST(sum(ip_fp) AS BIGINT) / 1e7, 4) AS adc_score
        |  FROM enc3 JOIN ip3 USING (subspace, code)
        |  GROUP BY vec_id ORDER BY adc_score DESC, vec_id LIMIT 10)
        |SELECT gen, vec_id, adc_score FROM
        |  (SELECT * FROM k0 UNION ALL SELECT * FROM k1)
        |ORDER BY gen, adc_score DESC, vec_id""".stripMargin,

    // vector time travel: BOTH generations re-derived from the raw
    // table under the WRITTEN models — gen 0 = state-2 corpus under
    // the gen-0 model, gen 1 = state-3 corpus under the recentered
    // gen-3 model, each quantized/assigned/scored with the q90
    // arithmetic. (The physical index stopped being glob-readable
    // when the recenter went MVCC — cells live under sealed _rev
    // dirs; physical ≡ snapshot parity is pinned by the recenter-MVCC
    // spec instead, and the from-raw oracle is the stronger check.)
    "q186_vector_time_travel" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |qq AS (
        |  SELECT CASE WHEN s = 0 THEN list_transform(qv, x -> 0.0)
        |              ELSE list_transform(qv, x -> floor(x / s + 0.5))
        |         END AS qc
        |  FROM (SELECT qv, list_max(list_transform(qv, x -> abs(x))) / 127.0
        |          AS s FROM q)),
        |c0 AS (SELECT centroid_id AS cid, cvec AS cv
        |       FROM read_parquet('{SCRATCH}/vtt_root_{SFHASH}/cents/gen=0/*.parquet')),
        |p0 AS (SELECT cid FROM c0, q
        |       ORDER BY 1 - list_cosine_similarity(cv, qv), cid LIMIT 3),
        |s2 AS (SELECT vec_id,
        |         CASE WHEN vec_id % 11 = 3
        |              THEN list_transform(embedding,
        |                     x -> CAST(x + 0.25 AS FLOAT))
        |              ELSE embedding END AS v
        |       FROM embeddings
        |       WHERE vec_id <> 0 AND (vec_id % 11 = 3
        |          OR (vec_id % 5 <> 4 AND vec_id % 7 <> 1)
        |          OR (vec_id % 5 = 4 AND vec_id % 2 = 0))),
        |a2 AS (SELECT s2.vec_id AS vid,
        |         arg_min(c0.cid,
        |           1 - list_cosine_similarity(s2.v::DOUBLE[], c0.cv)) AS cid
        |       FROM s2, c0 GROUP BY s2.vec_id),
        |s2q AS (
        |  SELECT vec_id,
        |    CASE WHEN s = 0 THEN list_transform(vd, x -> 0.0)
        |         ELSE list_transform(vd, x -> floor(x / s + 0.5))
        |    END AS codes
        |  FROM (SELECT vec_id, v::DOUBLE[] AS vd,
        |          list_max(list_transform(v::DOUBLE[], x -> abs(x))) / 127.0
        |            AS s
        |        FROM s2)),
        |k0 AS (SELECT 0 AS gen, vec_id,
        |         round(list_cosine_similarity(codes,
        |           (SELECT qc FROM qq)), 4) AS qsim
        |       FROM s2q JOIN a2 ON s2q.vec_id = a2.vid
        |       WHERE a2.cid IN (SELECT cid FROM p0)
        |       ORDER BY qsim DESC, vec_id LIMIT 10),
        |c3 AS (SELECT centroid_id AS cid, cvec AS cv
        |       FROM read_parquet('{SCRATCH}/vtt_root_{SFHASH}/cents/gen=3/*.parquet')),
        |p3 AS (SELECT cid FROM c3, q
        |       ORDER BY 1 - list_cosine_similarity(cv, qv), cid LIMIT 3),
        |s3 AS (SELECT vec_id,
        |         list_transform(embedding,
        |           x -> CAST(x + (vec_id % 5) * 3.0 AS FLOAT)) AS v
        |       FROM embeddings
        |       WHERE vec_id <> 0 AND (vec_id % 11 = 3
        |          OR (vec_id % 5 <> 4 AND vec_id % 7 <> 1)
        |          OR (vec_id % 5 = 4 AND vec_id % 2 = 0))),
        |a3 AS (SELECT s3.vec_id AS vid,
        |         arg_min(c3.cid,
        |           1 - list_cosine_similarity(s3.v::DOUBLE[], c3.cv)) AS cid
        |       FROM s3, c3 GROUP BY s3.vec_id),
        |s3q AS (
        |  SELECT vec_id,
        |    CASE WHEN s = 0 THEN list_transform(vd, x -> 0.0)
        |         ELSE list_transform(vd, x -> floor(x / s + 0.5))
        |    END AS codes
        |  FROM (SELECT vec_id, v::DOUBLE[] AS vd,
        |          list_max(list_transform(v::DOUBLE[], x -> abs(x))) / 127.0
        |            AS s
        |        FROM s3)),
        |k1 AS (SELECT 1 AS gen, vec_id,
        |         round(list_cosine_similarity(codes,
        |           (SELECT qc FROM qq)), 4) AS qsim
        |       FROM s3q JOIN a3 ON s3q.vec_id = a3.vid
        |       WHERE a3.cid IN (SELECT cid FROM p3)
        |       ORDER BY qsim DESC, vec_id LIMIT 10)
        |SELECT gen, vec_id, qsim FROM
        |  (SELECT * FROM k0 UNION ALL SELECT * FROM k1)
        |ORDER BY gen, qsim DESC, vec_id""".stripMargin,

    // per-class report derived from the materialized predictions (the
    // fit is seeded Spark-ML — rows-only in q40; the REPORT arithmetic
    // is exact counts, so it hashes). floor(x*1e4 + 0.5)/1e4 spells the
    // rounding identically in both engines.
    "q91_classification_report" ->
      """WITH sc AS (SELECT label, prediction
        |  FROM read_parquet('{SCRATCH}/clf_scored_{SFHASH}/*.parquet')),
        |cm AS (SELECT label AS l, prediction AS p, count(*) AS n
        |       FROM sc GROUP BY 1, 2),
        |cls AS (SELECT l AS cls FROM cm UNION SELECT p FROM cm),
        |tpt AS (SELECT l AS cls, n AS tp FROM cm WHERE l = p),
        |sup AS (SELECT l AS cls, CAST(sum(n) AS BIGINT) AS support FROM cm GROUP BY 1),
        |pn  AS (SELECT p AS cls, CAST(sum(n) AS BIGINT) AS pred_n FROM cm GROUP BY 1)
        |SELECT c.cls,
        |  coalesce(tpt.tp, 0) AS tp,
        |  coalesce(sup.support, 0) AS support,
        |  coalesce(pn.pred_n, 0) AS pred_n,
        |  CASE WHEN coalesce(pn.pred_n, 0) = 0 THEN 0.0
        |       ELSE floor(coalesce(tpt.tp, 0) * 10000.0
        |                  / pn.pred_n + 0.5) / 10000.0 END AS prec,
        |  CASE WHEN coalesce(sup.support, 0) = 0 THEN 0.0
        |       ELSE floor(coalesce(tpt.tp, 0) * 10000.0
        |                  / sup.support + 0.5) / 10000.0 END AS rec,
        |  floor(coalesce(tpt.tp, 0) * 2 * 10000.0
        |        / (coalesce(sup.support, 0) + coalesce(pn.pred_n, 0))
        |        + 0.5) / 10000.0 AS f1
        |FROM cls c
        |LEFT JOIN tpt ON c.cls = tpt.cls
        |LEFT JOIN sup ON c.cls = sup.cls
        |LEFT JOIN pn  ON c.cls = pn.cls
        |ORDER BY c.cls""".stripMargin,

    // the sniffed mixed-dialect roundtrip must land on the same
    // numbers as the source parquet (exact integer cents)
    "q86_sniffed_csv" ->
      """SELECT month(o_orderdate) AS mo, count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders WHERE year(o_orderdate) = 1997
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q19_running_avg" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER w
        |       AS BIGINT) AS run_total_cents,
        |  count(*) OVER w AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER w
        |       AS BIGINT) // count(*) OVER w AS run_avg_cents
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "q20_rollup" ->
      """SELECT year(o_orderdate) AS yr, o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY ROLLUP(year(o_orderdate), o_orderstatus)
        |ORDER BY yr ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,

    "q21_distinct_parts" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_parts,
        |       count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q22_langid" ->
      """SELECT doc_id, marker_ratio,
        |  CASE WHEN marker_ratio >= 0.15 THEN 'en' ELSE 'other' END AS pred
        |FROM (
        |  SELECT doc_id,
        |    round(len(list_filter(string_split(text, ' '),
        |      t -> list_contains(['scan','table','row','data','query','filter'], t)))
        |      * 1.0 / len(string_split(text, ' ')), 4) AS marker_ratio
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q23_quality" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  round(len(list_distinct(string_split(text, ' ')))
        |    * 1.0 / len(string_split(text, ' ')), 4) AS ttr,
        |  (n_chars >= 150 AND n_chars <= 400
        |    AND len(string_split(text, ' ')) >= 30) AS quality_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q24_token_counts" ->
      """SELECT event_id,
        |  len(string_split_regex(props, '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(props, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_tokens
        |FROM events ORDER BY event_id""".stripMargin,

    "q25_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q26_jaccard_neardup" -> exactJaccardPairsSql,

    // q28 emits exact-verified pairs and its banded candidate recall is
    // exactly 1 on this corpus (measured pair-for-pair at sf0.01 and
    // sf0.1, deterministic fixed-seed hashing) — so the exact pair set
    // IS its oracle. See the query's comment.
    "q28_minhash_neardup" -> exactJaccardPairsSql,

    "q27_multimodal_bytes" ->
      """SELECT doc_id, octet_length(text::BLOB) AS n_bytes,
        |  sha256(text) AS sha,
        |  lower(hex(substr(text, 1, 16)::BLOB)) AS head16
        |FROM documents ORDER BY doc_id""".stripMargin,

    // literal oracle interpolated from the shared fixture: the gate
    // pins the decoder to the format spec, not to itself
    "q87_image_decode" -> {
      val (mr, mg, mb) = ImageFixture.means
      val w = ImageFixture.img.width
      val h = ImageFixture.img.height
      s"""SELECT 'bmp' AS format, $w AS width, $h AS height,
         |  $mr AS mean_r, $mg AS mean_g, $mb AS mean_b,
         |  ${ImageFixture.bmp.length} AS n_bytes
         |UNION ALL
         |SELECT 'ppm', $w, $h, $mr, $mg, $mb, ${ImageFixture.ppm.length}
         |ORDER BY format""".stripMargin
    },

    "q35_topk_per_group" ->
      """SELECT c_nationkey, rn AS rank, o_custkey, total FROM (
        |  SELECT c_nationkey, o_custkey, total,
        |    row_number() OVER (PARTITION BY c_nationkey
        |                       ORDER BY total DESC, o_custkey) AS rn
        |  FROM (SELECT c_nationkey, o_custkey,
        |          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |        FROM orders JOIN customer ON o_custkey = c_custkey
        |        GROUP BY 1, 2))
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin,

    "q36_asof_join" ->
      """SELECT p.event_id, p.user_id, p.ts,
        |       v.value AS view_value, v.ts AS view_ts
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |                WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin,

    "q52_asof_forward" ->
      """SELECT p.event_id, p.user_id, p.ts,
        |       v.value AS view_value, v.ts AS view_ts
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |                WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts <= v.ts
        |ORDER BY p.event_id""".stripMargin,

    "q54_cube" ->
      """SELECT year(o_orderdate) AS yr, o_orderstatus AS st,
        |  count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY CUBE (yr, st) ORDER BY yr, st""".stripMargin,

    "q55_edit_neardup" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 40) AS head,
        |                  substr(md5(string_split(text, ' ')[1]), 1, 8) AS blk
        |           FROM documents),
        |ok AS (SELECT blk FROM (SELECT blk, count(*) AS c FROM d GROUP BY blk)
        |       WHERE c BETWEEN 2 AND 1000),
        |db AS (SELECT * FROM d WHERE blk IN (SELECT blk FROM ok))
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(levenshtein(a.head, b.head) AS BIGINT) AS lev
        |FROM db a JOIN db b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 5
        |ORDER BY id1, id2""".stripMargin,

    "q56_dedup_apply" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, sh FROM (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(t) - 2, 0) + 1),
        |    i -> array_to_string(t[i:i+2], ' '))) AS sh
        |  FROM toks)),
        |szs AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |rare AS (SELECT sh FROM (SELECT sh, count(*) AS c FROM sh GROUP BY sh)
        |         WHERE c BETWEEN 2 AND 100),
        |shr AS (SELECT * FROM sh WHERE sh IN (SELECT sh FROM rare)),
        |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
        |          FROM shr a JOIN shr b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT id1, id2 FROM inter
        |          JOIN szs s1 ON id1 = s1.doc_id
        |          JOIN szs s2 ON id2 = s2.doc_id
        |          WHERE round(i * 1.0 / (s1.sz + s2.sz - i), 4) >= 0.5),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION ALL SELECT id2, id1 FROM pairs),
        |reach(node, root) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node),
        |drops AS (SELECT node FROM (
        |  SELECT node, min(root) AS label FROM reach GROUP BY node)
        |  WHERE node != label)
        |SELECT count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |FROM documents WHERE doc_id NOT IN (SELECT node FROM drops)"""
        .stripMargin,

    "q53_interval_overlap" ->
      """WITH li AS (
        |  SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents,
        |         date_diff('day', DATE '1970-01-01',
        |           CAST(l_shipdate AS DATE)) AS ship_d,
        |         date_diff('day', DATE '1970-01-01',
        |           CAST(l_shipdate AS DATE)) + 1 + l_linenumber % 30
        |           AS rcpt_d
        |  FROM lineitem),
        |m AS (
        |  SELECT CAST(i + 1 AS INT) AS mo,
        |         date_diff('day', DATE '1970-01-01',
        |           make_date(1997, CAST(i + 1 AS INT), 1)) AS mo_lo,
        |         date_diff('day', DATE '1970-01-01',
        |           CAST(make_date(1997, CAST(i + 1 AS INT), 1)
        |                + INTERVAL 1 MONTH AS DATE)) AS mo_hi
        |  FROM range(12) t(i))
        |SELECT mo, count(*) AS n, CAST(sum(cents) AS BIGINT) AS qty_cents
        |FROM li JOIN m
        |  ON ship_d < mo_hi AND mo_lo < rcpt_d
        |     AND rcpt_d > ship_d AND mo_hi > mo_lo
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q39_dedup_components" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, sh FROM (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(t) - 2, 0) + 1),
        |    i -> array_to_string(t[i:i+2], ' '))) AS sh
        |  FROM toks)),
        |szs AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |rare AS (SELECT sh FROM (SELECT sh, count(*) AS c FROM sh GROUP BY sh)
        |         WHERE c BETWEEN 2 AND 100),
        |shr AS (SELECT * FROM sh WHERE sh IN (SELECT sh FROM rare)),
        |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
        |          FROM shr a JOIN shr b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT id1, id2 FROM inter
        |          JOIN szs s1 ON id1 = s1.doc_id
        |          JOIN szs s2 ON id2 = s2.doc_id
        |          WHERE round(i * 1.0 / (s1.sz + s2.sz - i), 4) >= 0.5),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION ALL SELECT id2, id1 FROM pairs),
        |reach(node, root) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node)
        |SELECT node, min(root) AS label FROM reach
        |GROUP BY node ORDER BY node""".stripMargin,

    "q37_range_join" ->
      """WITH bands AS (SELECT i * 50.0 AS lo, (i + 1) * 50.0 AS hi,
        |                      'band' || i AS band
        |               FROM range(0, 10) t(i))
        |SELECT band, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events JOIN bands ON value >= lo AND value < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "q38_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q33_json_props" ->
      """SELECT CAST(props->>'k' AS INT) // 10 AS k_bucket, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q34_date_range" ->
      """SELECT month(o_orderdate) AS mo, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderdate >= CAST(make_date(1996, 1, 1) AS TIMESTAMP)
        |  AND o_orderdate <= CAST(make_date(1996, 12, 31) AS TIMESTAMP)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // replicates the IVF probe pipeline GIVEN the materialized learned
    // centroids (the fit is Spark's; the probe math is engine-agnostic):
    // same COSINE argmin assignment, same probe set, same round-4
    // cosine top-k. {SCRATCH}/{SFHASH} are substituted by Verify at
    // dump time to the same scratch path the query wrote.
    "q31_ann_ivf" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |cents AS (SELECT centroid_id AS cid, cvec AS cv
        |          FROM read_parquet('{SCRATCH}/ivf_cents_{SFHASH}/*.parquet')),
        |probed AS (SELECT cid FROM cents, q
        |           ORDER BY 1 - list_cosine_similarity(cv, qv), cid
        |           LIMIT 3),
        |assign AS (
        |  SELECT e.vec_id AS vid,
        |    arg_min(c.cid,
        |      1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cv))
        |      AS cid
        |  FROM embeddings e, cents c WHERE e.vec_id <> 0
        |  GROUP BY e.vec_id),
        |cand AS (SELECT e.vec_id, e.embedding FROM embeddings e
        |         JOIN assign a ON e.vec_id = a.vid
        |         WHERE a.cid IN (SELECT cid FROM probed))
        |SELECT vec_id,
        |  round(list_cosine_similarity(embedding::DOUBLE[],
        |    (SELECT qv FROM q)), 4) AS sim
        |FROM cand ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    "q30_embed_neardup" ->
      """SELECT label, id1, id2, sim FROM (
        |  SELECT a.label AS label, a.vec_id AS id1, b.vec_id AS id2,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[],
        |                                 b.embedding::DOUBLE[]), 4) AS sim,
        |    row_number() OVER (PARTITION BY a.label
        |      ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
        |                                            b.embedding::DOUBLE[]), 4) DESC,
        |               a.vec_id, b.vec_id) AS rn
        |  FROM embeddings a
        |  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE rn = 1 ORDER BY label""".stripMargin,

    "q42_tfidf" ->
      """WITH tc AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_toks,
        |         unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, n_toks, term, count(*) AS tf_count
        |       FROM tc GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |tot AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, term, CAST(tf_count AS BIGINT) AS tf_count,
        |  CAST(df AS BIGINT) AS df,
        |  round(tf_count * 1.0 / n_toks * ln(n_docs * 1.0 / df), 4) AS tfidf
        |FROM tf JOIN dfreq USING (term), tot
        |ORDER BY doc_id, term""".stripMargin,

    // Spark's sliding window(ts, 10m, 5m) is epoch-aligned; DuckDB's
    // time_bucket origin (2000-01-03) is itself 5-minute epoch-aligned,
    // so the two bucketings coincide. Each event expands to exactly its
    // two covering window starts.
    "q43_sliding_windows" ->
      """WITH e AS (
        |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS w1, event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |x AS (SELECT unnest([w1, w1 - INTERVAL '5 minutes']) AS ws,
        |             event_type, cents
        |      FROM e)
        |SELECT ws, event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q44_corr_matrix" -> {
      val pairs = for (a <- corrMatrixCols; b <- corrMatrixCols) yield (a, b)
      val aggs = pairs.map { case (a, b) =>
        s"round(corr($a, $b), 6) AS ${a}__${b}" }.mkString(",\n  ")
      val arms = pairs.map { case (a, b) =>
        s"SELECT '$a' AS var1, '$b' AS var2, ${a}__${b} AS r FROM c" }
      s"WITH c AS (SELECT\n  $aggs\nFROM lineitem)\n" +
        arms.mkString("", "\nUNION ALL\n", "\nORDER BY var1, var2")
    },

    "q46_sentiment" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, len(toks) AS n_toks,
        |  len(list_filter(toks, x -> list_contains(['fast','big'], x)))
        |    AS n_pos,
        |  len(list_filter(toks, x -> list_contains(['slow','small'], x)))
        |    AS n_neg
        |  FROM t)
        |SELECT doc_id, n_pos, n_neg,
        |  round((n_pos - n_neg) * 1.0 / n_toks, 4) AS score,
        |  CASE WHEN round((n_pos - n_neg) * 1.0 / n_toks, 4) > 0 THEN 'pos'
        |       WHEN round((n_pos - n_neg) * 1.0 / n_toks, 4) < 0 THEN 'neg'
        |       ELSE 'neutral' END AS sentiment
        |FROM c ORDER BY doc_id""".stripMargin,

    "q45_dict_decode" ->
      """SELECT CASE trim('  ' || o_orderstatus || ' ')
        |         WHEN 'O' THEN 'open'
        |         WHEN 'F' THEN 'finished'
        |         WHEN 'P' THEN 'pending' END AS status_name,
        |       count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q50_sequence_packing" ->
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_toks
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_toks,
        |        sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM t)
        |SELECT source, CAST(floor((cum - n_toks) / 4096) AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS tokens
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q51_split_assign" ->
      """SELECT CASE WHEN doc_id % 100 < 80 THEN 'train'
        |            WHEN doc_id % 100 < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q57_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |sh AS (SELECT DISTINCT doc_id, sh FROM (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(t) - 7, 0) + 1),
        |    i -> array_to_string(t[i:i+7], ' '))) AS sh
        |  FROM toks)),
        |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 23 = 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM sh
        |WHERE doc_id % 23 != 0 AND sh IN (SELECT sh FROM bench)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q58_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, len(toks) AS n_toks,
        |        greatest(len(toks) - 1, 0) AS n2,
        |        len(list_distinct(list_transform(
        |          range(1, greatest(len(toks) - 1, 0) + 1),
        |          i -> array_to_string(toks[i:i+1], ' ')))) AS nd2
        |      FROM t),
        |tt AS (SELECT doc_id, max(c) AS top_c FROM (
        |         SELECT doc_id, term, count(*) AS c
        |         FROM (SELECT doc_id, unnest(toks) AS term FROM t)
        |         GROUP BY 1, 2)
        |       GROUP BY 1)
        |SELECT g.doc_id, n_toks,
        |  CASE WHEN n2 > 0 THEN round(1.0 - nd2 * 1.0 / n2, 4)
        |       ELSE 0.0 END AS dup_2gram_frac,
        |  round(top_c * 1.0 / n_toks, 4) AS top_tok_frac
        |FROM g JOIN tt ON g.doc_id = tt.doc_id
        |ORDER BY g.doc_id""".stripMargin,

    "q59_quality_gate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |                  length(text) AS nc
        |           FROM documents),
        |s AS (SELECT doc_id, len(toks) AS n_toks,
        |        round((nc - (len(toks) - 1)) * 1.0 / len(toks), 4)
        |          AS mean_tok_len,
        |        round(len(list_filter(toks,
        |            x -> list_contains(['a', 'the'], x)))
        |          * 1.0 / len(toks), 4) AS stop_frac
        |      FROM t)
        |SELECT doc_id, n_toks, mean_tok_len, stop_frac,
        |  (n_toks BETWEEN 30 AND 80
        |    AND mean_tok_len BETWEEN 3.0 AND 10.0
        |    AND stop_frac <= 0.08) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,

    "q60_hash_sample" ->
      """SELECT source, count(*) AS n_total,
        |  CAST(sum(CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '1a'
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q61_domain_mix" ->
      """WITH d AS (SELECT source,
        |             CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |               AS tokens
        |           FROM documents GROUP BY 1),
        |w AS (SELECT source, tokens,
        |        CASE WHEN source IN ('src0', 'src1', 'src2')
        |             THEN 3.0 ELSE 1.0 END AS weight
        |      FROM d),
        |t AS (SELECT sum(tokens * weight) AS total_eff FROM w)
        |SELECT source, tokens, weight,
        |  round(tokens * weight / total_eff, 6) AS mix_frac
        |FROM w, t ORDER BY source""".stripMargin,

    "q62_pii_redact" ->
      """WITH c AS (SELECT doc_id,
        |             'user' || doc_id || '@mail.com call 555-' || doc_id
        |               AS contact
        |           FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(contact,
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]+', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(contact,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(contact,
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]+')) AS BIGINT) AS n_nums
        |FROM c ORDER BY doc_id""".stripMargin,

    "q72_zorder_roundtrip" ->
      """SELECT month(o_orderdate) AS mo, count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders
        |WHERE month(o_orderdate) BETWEEN 3 AND 5
        |  AND CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      BETWEEN 10000000 AND 30000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q70_jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(md5(text)) AS min_md5
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q69_reservoir" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin,

    "q68_parquet_roundtrip" ->
      """SELECT month(o_orderdate) AS mo, count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders WHERE year(o_orderdate) = 1997
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q67_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |bgf AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS b
        |  FROM t)),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bgf GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bgf GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS v
        |      FROM (SELECT unnest(toks) AS tok FROM t))
        |SELECT doc_id, round(avg(ln((c2 + 1.0) / (c1 + v))), 4)
        |  AS lm_score
        |FROM bgf JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // grouped on the raw signature (Spark groups on its md5 — identical
    // partitions; the digest never reaches the output)
    "q65_incremental_dedup" -> incrementalDedupSql,

    // the bloom pre-filtered form returns the identical rows BY
    // CONSTRUCTION (no false negatives; false positives resolved by
    // the exact anti-join) — shared oracle
    "q71_incremental_bloom" -> incrementalDedupSql,

    "q66_winsorize" ->
      """WITH e AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    value
        |  FROM events),
        |b AS (SELECT event_type,
        |    CAST(round(quantile_cont(value, 0.01) * 100) AS BIGINT) AS lo_c,
        |    CAST(round(quantile_cont(value, 0.99) * 100) AS BIGINT) AS hi_c
        |  FROM e GROUP BY 1)
        |SELECT e.event_type, count(*) AS n,
        |  min(lo_c) AS lo_c, min(hi_c) AS hi_c,
        |  CAST(sum(least(greatest(cents, lo_c), hi_c)) AS BIGINT)
        |    AS sum_clipped_cents,
        |  CAST(sum(CASE WHEN cents != least(greatest(cents, lo_c), hi_c)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        |FROM e JOIN b ON e.event_type = b.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the salted join must be result-identical to the plain join — the
    // oracle IS the plain join
    "q76_salted_join" ->
      """WITH dim AS (SELECT event_type AS et, count(*) AS et_total
        |             FROM events GROUP BY 1)
        |SELECT event_type, count(*) AS n,
        |  CAST(min(et_total) AS BIGINT) AS et_total,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM events JOIN dim ON event_type = et
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the bucketed-store loop must lose nothing vs a plain join on the
    // original parquet
    "q77_bucketed_join" ->
      """SELECT c_nationkey, count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q78_vocab_topk" ->
      """SELECT tok, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |      FROM documents)
        |GROUP BY 1 ORDER BY n DESC, tok LIMIT 20""".stripMargin,

    "q73_transposed_corr" ->
      """WITH m AS (
        |  SELECT l_returnflag AS flag, month(l_shipdate) AS mo,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS DOUBLE) AS v
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT a.flag AS flag1, b.flag AS flag2,
        |  round(corr(a.v, b.v), 6) AS r
        |FROM m a JOIN m b ON a.mo = b.mo
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // recomputes the planted-fixture accounting from the same generator
    // rule (every 5th of 200 rows malformed, clean b = i) — engine math,
    // not a pasted answer table
    "q74_corrupt_csv" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_corrupt,
        |  CAST(sum(CASE WHEN i % 5 <> 0 THEN i ELSE 0 END) AS BIGINT)
        |    AS clean_b_sum
        |FROM (SELECT unnest(range(0, 200)) AS i)""".stripMargin,

    "q63_chunking" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, n,
        |        unnest(range(0, CAST(CASE WHEN n <= 50 THEN 1
        |          ELSE ceil((n - 50) / 40.0) + 1 END AS BIGINT)))
        |          AS chunk_id
        |      FROM t)
        |SELECT doc_id, chunk_id, chunk_id * 40 AS start_tok,
        |  least(50, n - chunk_id * 40) AS chunk_len
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // q55's pair pipeline + q39's recursive closure, then the keep-best
    // policy: argmax n_chars per component, min-id tiebreak — replicated
    // with the same portable max → filter → min composition the engine
    // uses (no arg_max: its tiebreak is unspecified)
    "q79_dedup_keep_best" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, substr(text, 1, 40) AS head,
        |             substr(md5(string_split(text, ' ')[1]), 1, 8) AS blk
        |      FROM documents),
        |ok AS (SELECT blk FROM (SELECT blk, count(*) AS c FROM d GROUP BY blk)
        |       WHERE c BETWEEN 2 AND 1000),
        |db AS (SELECT * FROM d WHERE blk IN (SELECT blk FROM ok)),
        |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2
        |          FROM db a JOIN db b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |          WHERE levenshtein(a.head, b.head) <= 5),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION ALL SELECT id2, id1 FROM pairs),
        |reach(node, root) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node),
        |comp AS (SELECT node, min(root) AS label FROM reach GROUP BY node),
        |m AS (SELECT c.label, c.node, doc.n_chars AS score
        |      FROM comp c JOIN documents doc ON c.node = doc.doc_id),
        |best AS (SELECT label, max(score) AS best_score,
        |                count(*) AS n_members
        |         FROM m GROUP BY label)
        |SELECT m.label, min(m.node) AS kept_id, best.n_members,
        |  best.best_score
        |FROM m JOIN best ON m.label = best.label AND m.score = best.best_score
        |GROUP BY 1, 3, 4 ORDER BY m.label""".stripMargin,

    // same lexicographic (doc, chunk)-struct first-occurrence rule as
    // the engine (ROW min is lexicographic in DuckDB too)
    "q80_chunk_dedup" ->
      """WITH t AS (SELECT doc_id,
        |             string_split(coalesce(text, ''), ' ') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, len(toks) AS n, toks,
        |        unnest(range(0, CAST(ceil(len(toks) / 20.0) AS BIGINT)))
        |          AS cid
        |      FROM t),
        |ch AS (SELECT doc_id, cid, least(20, n - cid * 20) AS clen,
        |         md5(array_to_string(toks[cid*20+1:cid*20+20], ' ')) AS sig
        |       FROM c),
        |keep AS (SELECT sig, min(ROW(doc_id, cid)) AS kkey
        |         FROM ch GROUP BY sig)
        |SELECT ch.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN ROW(doc_id, cid) = kkey
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN ROW(doc_id, cid) = kkey
        |    THEN clen ELSE 0 END) AS BIGINT) AS toks_kept
        |FROM ch JOIN keep USING (sig) GROUP BY 1 ORDER BY 1""".stripMargin,

    "q81_split_leakage" ->
      """WITH s AS (SELECT DISTINCT
        |    CASE WHEN doc_id % 100 < 80 THEN 'train'
        |         WHEN doc_id % 100 < 90 THEN 'val' ELSE 'test' END AS sp,
        |    md5(array_to_string(list_sort(list_distinct(
        |      string_split(text, ' '))), ' ')) AS sig
        |  FROM documents)
        |SELECT a.sp AS split_a, b.sp AS split_b, count(*) AS n_sigs
        |FROM s a JOIN s b ON a.sig = b.sig AND a.sp < b.sp
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // lossless ORC loop ⇒ equals the plain-parquet aggregate
    "q83_orc_roundtrip" ->
      """SELECT l_returnflag AS rf, count(*) AS n,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS sum_qty_cents
        |FROM lineitem WHERE year(l_shipdate) = 1996
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // replicates waves → last-wins (max v, min-text tiebreak) → anti-
    // join + union — the same portable composition as the engine
    "q84_corpus_upsert" ->
      """WITH w1 AS (SELECT doc_id, text || ' rev1' AS text, lang,
        |              source, n_chars + 5 AS n_chars, 1 AS v
        |            FROM documents WHERE doc_id % 10 = 0),
        |w2 AS (SELECT doc_id, text || ' rev2' AS text, lang, source,
        |         n_chars + 5 AS n_chars, 2 AS v
        |       FROM documents WHERE doc_id % 20 = 0),
        |ins AS (SELECT doc_id + 1000000 AS doc_id, text, lang, source,
        |          n_chars, 1 AS v
        |        FROM documents WHERE doc_id % 40 = 0),
        |u AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2
        |      UNION ALL SELECT * FROM ins),
        |best AS (SELECT doc_id, max(v) AS bv FROM u GROUP BY 1),
        |win0 AS (SELECT u.* FROM u
        |         JOIN best ON u.doc_id = best.doc_id AND u.v = best.bv),
        |tb AS (SELECT doc_id, min(text) AS mt FROM win0 GROUP BY 1),
        |win AS (SELECT win0.* FROM win0
        |        JOIN tb ON win0.doc_id = tb.doc_id AND win0.text = tb.mt),
        |merged AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM win)
        |  UNION ALL
        |  SELECT doc_id, text, lang, source, n_chars FROM win)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN text LIKE '% rev1' OR text LIKE '% rev2'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_revised,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    // the DSIR model replicated end-to-end: same md5-hex buckets, same
    // add-1 smoothing over the 4096-bucket space, same ln-ratio sum,
    // same spelled-out rounding
    "q93_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, lang = 'en' AS tgt, substring(md5(t), 1, 3) AS b
        |  FROM (SELECT doc_id, lang,
        |          unnest(string_split(text, ' ')) AS t
        |        FROM documents)),
        |tot AS (SELECT sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS nt,
        |          count(*) AS nr FROM tok),
        |model AS (
        |  SELECT b,
        |    ln((sum(CASE WHEN tgt THEN 1 ELSE 0 END) + 1)
        |       / (any_value(tot.nt) + 4096))
        |  - ln((count(*) + 1) / (any_value(tot.nr) + 4096)) AS lw
        |  FROM tok, tot GROUP BY b)
        |SELECT doc_id, count(*) AS n_toks,
        |  floor(sum(lw) * 10000.0 + 0.5) / 10000.0 AS dsir_logw
        |FROM tok JOIN model USING (b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // presence flags (not key IS NULL) and IS NOT DISTINCT FROM mirror
    // the operator's null-safe key/signature semantics exactly
    "q94_corpus_diff" ->
      """WITH oldc AS (SELECT doc_id, md5(text) AS sig, TRUE AS in_old
        |              FROM documents),
        |newc AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
        |             ELSE text END) AS sig, TRUE AS in_new
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS sig,
        |    TRUE AS in_new
        |  FROM documents WHERE doc_id % 40 = 0),
        |d AS (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.in_old IS NULL THEN 'added'
        |         WHEN n.in_new IS NULL THEN 'removed'
        |         WHEN o.sig IS NOT DISTINCT FROM n.sig THEN 'unchanged'
        |         ELSE 'modified' END AS status
        |  FROM oldc o FULL OUTER JOIN newc n
        |    ON o.doc_id IS NOT DISTINCT FROM n.doc_id)
        |SELECT status, count(*) AS n, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    // same distinct-shingle explode as q57's oracle (raw strings where
    // the engine shuffles xxhash64 keys — identical output modulo a
    // ~2⁻⁶⁴ collision, the registered q26/q57 trade); docs shorter
    // than n have no shingles and are absent from both outputs
    "q95_ngram_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |sh AS (SELECT DISTINCT doc_id, sh FROM (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(t) - 2, 0) + 1),
        |    i -> array_to_string(t[i:i+2], ' '))) AS sh
        |  FROM toks)),
        |fst AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh)
        |SELECT s.doc_id,
        |  count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  round(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
        |    * 1.0 / count(*), 4) AS novelty
        |FROM sh s JOIN fst f USING (sh)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    // q13's cosine-parity contract (list_cosine_similarity vs the
    // engine's VectorFold dot, both rounded to 4) extended to a panel
    // with a label-inequality filter; ties broken by candidate id in
    // both engines
    "q96_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec,
        |             label AS qlabel
        |           FROM embeddings WHERE vec_id IN (0, 7, 13, 21, 34)),
        |scored AS (
        |  SELECT q.qid, e.vec_id, e.label,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec),
        |      4) AS sim
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.label <> q.qlabel AND e.vec_id <> q.qid),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
        |      FROM scored)
        |SELECT qid, vec_id, label, sim FROM r WHERE rn <= 5
        |ORDER BY qid, sim DESC, vec_id""".stripMargin,

    // BM25 with the Lucene idf variant, arithmetic spelled identically
    // (ln(1 + (N-df+0.5)/(df+0.5)); tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl));
    // k1=1.2 b=0.75); per-term contributions quantized to 1e-7 fixed
    // point (floor(x*1e7+0.5), same association both engines) and
    // summed as integers — order-independent — then rounded to 4
    // BEFORE ranking, ties by doc id. avgdl is a sum of integers over
    // a count — exact in both engines.
    "q97_bm25_topk" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t
        |  FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM toks),
        |q AS (SELECT * FROM (VALUES (0, 'merge sort window'),
        |        (1, 'stream batch join'), (2, 'hash table scan'),
        |        (3, 'slow query filter')) v(qid, qtext)),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' '))
        |         AS term FROM q),
        |scored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
        |  CROSS JOIN stats
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |      FROM scored)
        |SELECT qid, doc_id, score FROM r WHERE rn <= 10
        |ORDER BY qid, score DESC, doc_id""".stripMargin,

    // positional 4-gram shingles joined on the raw string where the
    // engine shuffles xxhash64 keys (the q26/q57/q95 collision trade);
    // diagonal islands via pos - row_number; span = run + n - 1. All
    // integer arithmetic -> bit-exact.
    "q98_shared_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |sh AS (
        |  SELECT doc_id, u.pos AS pos, u.sh AS sh FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(t) - 3, 0) + 1),
        |      i -> struct_pack(pos := i - 1,
        |        sh := array_to_string(t[i:i+3], ' ')))) AS u
        |    FROM toks) z),
        |eligible AS (SELECT sh FROM (
        |  SELECT sh, count(*) AS occ, count(DISTINCT doc_id) AS cd
        |  FROM sh GROUP BY sh)
        |  WHERE cd >= 2 AND occ <= 100),
        |m AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.pos AS pa,
        |        a.pos - b.pos AS diag
        |      FROM (SELECT * FROM sh SEMI JOIN eligible USING (sh)) a
        |      JOIN (SELECT * FROM sh SEMI JOIN eligible USING (sh)) b
        |        USING (sh)
        |      WHERE a.doc_id < b.doc_id),
        |r AS (SELECT id1, id2, diag, pa,
        |        pa - row_number() OVER
        |          (PARTITION BY id1, id2, diag ORDER BY pa) AS grp
        |      FROM m),
        |runs AS (SELECT id1, id2, count(*) + 3 AS span
        |         FROM r GROUP BY id1, id2, diag, grp)
        |SELECT id1, id2, max(span) AS max_span FROM runs
        |GROUP BY 1, 2 HAVING max(span) >= 10
        |ORDER BY id1, id2""".stripMargin,

    // q98's run pipeline extended to intervals: each qualifying run
    // covers [start, start+span-1] in both docs; per-doc interval
    // union via running-max islands (ROWS frame for prev_e, default
    // RANGE frame for the island sum — peers included, matching
    // Spark's default). All integers until the final rounded ratio.
    "q99_span_coverage" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |sh AS (
        |  SELECT doc_id, u.pos AS pos, u.sh AS sh FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(t) - 3, 0) + 1),
        |      i -> struct_pack(pos := i - 1,
        |        sh := array_to_string(t[i:i+3], ' ')))) AS u
        |    FROM toks) z),
        |eligible AS (SELECT sh FROM (
        |  SELECT sh, count(*) AS occ, count(DISTINCT doc_id) AS cd
        |  FROM sh GROUP BY sh)
        |  WHERE cd >= 2 AND occ <= 100),
        |m AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.pos AS pa,
        |        a.pos - b.pos AS diag
        |      FROM (SELECT * FROM sh SEMI JOIN eligible USING (sh)) a
        |      JOIN (SELECT * FROM sh SEMI JOIN eligible USING (sh)) b
        |        USING (sh)
        |      WHERE a.doc_id < b.doc_id),
        |r AS (SELECT id1, id2, diag, pa,
        |        pa - row_number() OVER
        |          (PARTITION BY id1, id2, diag ORDER BY pa) AS grp
        |      FROM m),
        |runs AS (SELECT id1, id2, diag, min(pa) AS pa_start,
        |           min(pa) - diag AS pb_start, count(*) + 3 AS span
        |         FROM r GROUP BY id1, id2, diag, grp),
        |q AS (SELECT * FROM runs WHERE span >= 10),
        |iv AS (SELECT id1 AS doc_id, pa_start AS s,
        |         pa_start + span - 1 AS e FROM q
        |       UNION ALL
        |       SELECT id2, pb_start, pb_start + span - 1 FROM q),
        |mk AS (SELECT doc_id, s, e,
        |         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS prev_e
        |       FROM iv),
        |isl AS (SELECT doc_id, s, e,
        |          sum(CASE WHEN prev_e IS NULL OR s > prev_e
        |                   THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY doc_id ORDER BY s, e) AS isl
        |        FROM mk),
        |cov AS (SELECT doc_id, sum(is_e - is_s + 1) AS covered FROM (
        |          SELECT doc_id, isl, min(s) AS is_s, max(e) AS is_e
        |          FROM isl GROUP BY doc_id, isl) zz GROUP BY doc_id)
        |SELECT t.doc_id, len(t.t) AS n_tokens,
        |  CAST(coalesce(c.covered, 0) AS BIGINT) AS covered_tokens,
        |  round(coalesce(c.covered, 0) * 1.0 / len(t.t), 4)
        |    AS dup_fraction
        |FROM toks t LEFT JOIN cov c USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // greedy prefix under the budget: per-score cumulative (ROWS frame
    // matches Spark's rowsBetween), md5-ranked fill of the boundary
    // group; md5(CAST(id AS VARCHAR)) = the engine's md5Hex (q69
    // parity). All-integer token arithmetic.
    "q100_token_budget" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS score,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |per AS (SELECT score, sum(n_tokens) AS grp_tokens
        |        FROM d GROUP BY 1),
        |cum AS (SELECT score,
        |    coalesce(sum(grp_tokens) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM per),
        |el AS (SELECT * FROM cum WHERE cum_before < 15000),
        |r AS (SELECT d.doc_id, d.score, d.n_tokens, el.cum_before,
        |    sum(d.n_tokens) OVER (PARTITION BY d.score
        |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM d JOIN el USING (score))
        |SELECT doc_id, score, n_tokens FROM r
        |WHERE cum_before + run - n_tokens < 15000
        |ORDER BY doc_id""".stripMargin,

    // sqrt is IEEE-exact; each sqrt(c_s) is quantized to 1e-7 fixed
    // point (floor(x*1e7+0.5), same association) so the normalizing
    // SUM is over integers — order-independent; the allocation is one
    // correctly-rounded double division + floor, spelled identically.
    "q101_temperature_mix" ->
      """WITH per AS (SELECT source, count(*) AS n_total
        |             FROM documents GROUP BY 1),
        |w AS (SELECT source, n_total,
        |    CAST(floor(sqrt(CAST(n_total AS DOUBLE)) * 1e7 + 0.5)
        |      AS BIGINT) AS w_fp
        |  FROM per),
        |tot AS (SELECT sum(w_fp) AS w_sum FROM w),
        |alloc AS (SELECT source,
        |    least(n_total, CAST(floor(CAST(w_fp AS DOUBLE) * 300 /
        |      CAST(w_sum AS DOUBLE)) AS BIGINT)) AS n_keep
        |  FROM w CROSS JOIN tot),
        |r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.source FROM r JOIN alloc USING (source)
        |WHERE rn <= n_keep ORDER BY doc_id""".stripMargin,

    // the composed pipeline: every CTE block is a proven gate oracle
    // (q23-family integer quality, q14 md5 token-set dedup, q98 span
    // runs, q100 greedy budget) chained end-to-end; all-integer final
    // report
    "q102_curation_pipeline" ->
      """WITH base AS (SELECT doc_id, source, string_split(text, ' ')
        |    AS t FROM documents),
        |qual AS (SELECT doc_id, source, t,
        |    CAST(len(list_distinct(t)) AS BIGINT) AS score,
        |    CAST(len(t) AS BIGINT) AS n_tokens
        |  FROM base WHERE len(list_distinct(t)) >= 15),
        |sig AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(t)), ' '))
        |      AS sg
        |  FROM qual),
        |keep1 AS (SELECT q.* FROM qual q
        |  JOIN (SELECT sg, min(doc_id) AS keep_id FROM sig
        |        GROUP BY sg) k
        |    ON q.doc_id = k.keep_id),
        |sh AS (SELECT doc_id, u.pos AS pos, u.sh AS sh FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(t) - 3, 0) + 1),
        |      i -> struct_pack(pos := i - 1,
        |        sh := array_to_string(t[i:i+3], ' ')))) AS u
        |    FROM keep1) z),
        |eligible AS (SELECT sh FROM (
        |  SELECT sh, count(*) AS occ, count(DISTINCT doc_id) AS cd
        |  FROM sh GROUP BY sh)
        |  WHERE cd >= 2 AND occ <= 100),
        |m AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.pos AS pa,
        |        a.pos - b.pos AS diag
        |      FROM (SELECT * FROM sh SEMI JOIN eligible USING (sh)) a
        |      JOIN (SELECT * FROM sh SEMI JOIN eligible USING (sh)) b
        |        USING (sh)
        |      WHERE a.doc_id < b.doc_id),
        |r AS (SELECT id1, id2, diag, pa,
        |        pa - row_number() OVER
        |          (PARTITION BY id1, id2, diag ORDER BY pa) AS grp
        |      FROM m),
        |runs AS (SELECT id1, id2, count(*) + 3 AS span
        |         FROM r GROUP BY id1, id2, diag, grp),
        |drops AS (SELECT DISTINCT id2 FROM runs WHERE span >= 20),
        |keep2 AS (SELECT * FROM keep1
        |          WHERE doc_id NOT IN (SELECT id2 FROM drops)),
        |per AS (SELECT score, sum(n_tokens) AS grp_tokens
        |        FROM keep2 GROUP BY 1),
        |cum AS (SELECT score,
        |    coalesce(sum(grp_tokens) OVER (ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM per),
        |el AS (SELECT * FROM cum WHERE cum_before < 15000),
        |rr AS (SELECT k.doc_id, k.source, k.score, k.n_tokens,
        |    el.cum_before,
        |    sum(k.n_tokens) OVER (PARTITION BY k.score
        |      ORDER BY md5(CAST(k.doc_id AS VARCHAR)), k.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM keep2 k JOIN el USING (score)),
        |sel AS (SELECT doc_id, source, n_tokens FROM rr
        |        WHERE cum_before + run - n_tokens < 15000)
        |SELECT source, count(*) AS docs_kept,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
        |FROM sel GROUP BY source ORDER BY source""".stripMargin,

    // hybrid retrieval: q97's BM25 CTE at k=20 + the q13-style cosine
    // ranker over the same qids' embeddings; ranks fuse as 1e7-fixed-
    // point integers (floor(1e7/(60+rank)+0.5)), summed as BIGINTs —
    // the fused score is a pure integer function of the ranks
    "q103_rrf_fusion" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t
        |  FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM toks),
        |q AS (SELECT * FROM (VALUES (0, 'merge sort window'),
        |        (1, 'stream batch join'), (2, 'hash table scan'),
        |        (3, 'slow query filter')) v(qid, qtext)),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' '))
        |         AS term FROM q),
        |bscored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
        |  CROSS JOIN stats
        |  GROUP BY 1, 2),
        |bk AS (SELECT qid, doc_id, rank FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        |    FROM bscored) WHERE rank <= 20),
        |qv AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
        |       FROM embeddings WHERE vec_id IN (0, 1, 2, 3)),
        |dscored AS (SELECT qv.qid, e.vec_id AS doc_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[],
        |      qv.qvec), 4) AS sim
        |  FROM embeddings e CROSS JOIN qv),
        |dk AS (SELECT qid, doc_id, rank FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY qid ORDER BY sim DESC, doc_id) AS rank
        |    FROM dscored) WHERE rank <= 20),
        |u AS (SELECT qid, doc_id,
        |        CAST(floor(1e7 / (60 + rank) + 0.5) AS BIGINT) AS c
        |      FROM bk
        |      UNION ALL
        |      SELECT qid, doc_id,
        |        CAST(floor(1e7 / (60 + rank) + 0.5) AS BIGINT) AS c
        |      FROM dk),
        |f AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS rrf_fp,
        |        count(*) AS n_lists
        |      FROM u GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER
        |         (PARTITION BY qid ORDER BY rrf_fp DESC, doc_id) AS rn
        |       FROM f)
        |SELECT qid, doc_id, rrf_fp, n_lists FROM rk WHERE rn <= 10
        |ORDER BY qid, rrf_fp DESC, doc_id""".stripMargin,

    // every rule in integer arithmetic: mean-word-length window
    // cross-multiplied (10*sum_len vs bound*n), TTR floor as
    // 2*distinct >= n — no division anywhere
    "q104_gopher_rules" ->
      """WITH t AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |m AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
        |    CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT)
        |      AS sum_len,
        |    CAST(len(list_intersect(list_distinct(t),
        |      ['scan', 'table', 'row', 'data', 'query', 'filter']))
        |      AS BIGINT) AS stop_hits
        |  FROM t),
        |fl AS (SELECT doc_id, n_tokens,
        |    CAST(CASE WHEN n_tokens BETWEEN 20 AND 90
        |         THEN 1 ELSE 0 END AS INTEGER) AS flag_len,
        |    CAST(CASE WHEN sum_len * 10 >= n_tokens * 40
        |          AND sum_len * 10 <= n_tokens * 100
        |         THEN 1 ELSE 0 END AS INTEGER) AS flag_wordlen,
        |    CAST(CASE WHEN n_distinct * 2 >= n_tokens
        |         THEN 1 ELSE 0 END AS INTEGER) AS flag_ttr,
        |    CAST(CASE WHEN stop_hits >= 2
        |         THEN 1 ELSE 0 END AS INTEGER) AS flag_stop
        |  FROM m)
        |SELECT doc_id, n_tokens, flag_len, flag_wordlen, flag_ttr,
        |  flag_stop,
        |  CAST(CASE WHEN flag_len + flag_wordlen + flag_ttr +
        |         flag_stop = 4 THEN 1 ELSE 0 END AS INTEGER) AS pass
        |FROM fl ORDER BY doc_id""".stripMargin,

    // equal integer shares (80000 // n_sources), epochs capped at 3,
    // remainder filled md5-rank-greedily only BELOW the cap; the
    // window runs per source (never corpus-global)
    "q105_epoch_mix" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |per AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS c_tokens
        |  FROM d GROUP BY 1),
        |n AS (SELECT count(*) AS n_sources FROM per),
        |a0 AS (SELECT source, n_docs, c_tokens,
        |    80000 // n_sources AS t_share FROM per CROSS JOIN n),
        |a1 AS (SELECT *, least(3, t_share // c_tokens) AS epochs
        |       FROM a0),
        |alloc AS (SELECT *, CASE WHEN epochs < 3
        |    THEN t_share - epochs * c_tokens ELSE 0 END AS leftover
        |  FROM a1),
        |run AS (SELECT d.source, d.doc_id, d.n_tokens, a.leftover,
        |    sum(d.n_tokens) OVER (PARTITION BY d.source
        |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
        |      ROWS UNBOUNDED PRECEDING) AS rsum
        |  FROM d JOIN alloc a USING (source)),
        |fill AS (SELECT source, count(*) AS fill_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS fill_tokens
        |  FROM run WHERE rsum - n_tokens < leftover GROUP BY 1)
        |SELECT a.source, a.n_docs, a.c_tokens,
        |  CAST(a.epochs AS BIGINT) AS epochs,
        |  coalesce(f.fill_docs, 0) AS fill_docs,
        |  coalesce(f.fill_tokens, 0) AS fill_tokens,
        |  CAST(a.epochs * a.c_tokens + coalesce(f.fill_tokens, 0)
        |    AS BIGINT) AS total_tokens
        |FROM alloc a LEFT JOIN fill f USING (source)
        |ORDER BY a.source""".stripMargin,

    // q98's span CTE (minSpan 20) -> q39's recursive transitive
    // closure -> singleton-inclusive size histogram
    "q106_cluster_histogram" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |         FROM documents),
        |sh AS (
        |  SELECT doc_id, u.pos AS pos, u.sh AS sh FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, greatest(len(t) - 3, 0) + 1),
        |      i -> struct_pack(pos := i - 1,
        |        sh := array_to_string(t[i:i+3], ' ')))) AS u
        |    FROM toks) z),
        |eligible AS (SELECT sh FROM (
        |  SELECT sh, count(*) AS occ, count(DISTINCT doc_id) AS cd
        |  FROM sh GROUP BY sh)
        |  WHERE cd >= 2 AND occ <= 100),
        |m AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.pos AS pa,
        |        a.pos - b.pos AS diag
        |      FROM (SELECT * FROM sh SEMI JOIN eligible USING (sh)) a
        |      JOIN (SELECT * FROM sh SEMI JOIN eligible USING (sh)) b
        |        USING (sh)
        |      WHERE a.doc_id < b.doc_id),
        |rg AS (SELECT id1, id2, diag, pa,
        |        pa - row_number() OVER
        |          (PARTITION BY id1, id2, diag ORDER BY pa) AS grp
        |      FROM m),
        |runs AS (SELECT id1, id2, count(*) + 3 AS span
        |         FROM rg GROUP BY id1, id2, diag, grp),
        |pairs AS (SELECT DISTINCT id1, id2 FROM runs WHERE span >= 20),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION ALL SELECT id2, id1 FROM pairs),
        |reach(node, root) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, rc.root FROM reach rc JOIN edges e
        |    ON e.a = rc.node),
        |lbl AS (SELECT node, min(root) AS label FROM reach
        |        GROUP BY node),
        |alld AS (SELECT coalesce(l.label, d.doc_id) AS label
        |         FROM documents d LEFT JOIN lbl l ON d.doc_id = l.node),
        |cs AS (SELECT label, count(*) AS cluster_size FROM alld
        |       GROUP BY 1)
        |SELECT cluster_size, count(*) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
        |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin,

    // first-occurrence (min doc id) per token-set signature, bucketed
    // by 50 ids; the oracle groups on the raw signature where the
    // engine groups on its md5 (the q14/q26 collision trade)
    "q107_saturation_curve" ->
      """WITH sig AS (SELECT doc_id,
        |    array_to_string(list_sort(list_distinct(
        |      string_split(text, ' '))), ' ') AS sig
        |  FROM documents),
        |firsts AS (SELECT sig, min(doc_id) AS first_id FROM sig
        |           GROUP BY sig),
        |news AS (SELECT first_id // 50 AS bucket, count(*) AS new_sigs
        |         FROM firsts GROUP BY 1),
        |per AS (SELECT doc_id // 50 AS bucket, count(*) AS n_docs
        |        FROM sig GROUP BY 1),
        |j AS (SELECT p.bucket, p.n_docs,
        |        coalesce(n2.new_sigs, 0) AS new_sigs
        |      FROM per p LEFT JOIN news n2 USING (bucket))
        |SELECT bucket, n_docs, new_sigs,
        |  CAST(sum(new_sigs) OVER (ORDER BY bucket
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_sigs,
        |  round(CAST(new_sigs AS DOUBLE) / n_docs, 4) AS novelty_rate
        |FROM j ORDER BY bucket""".stripMargin,

    // literal oracle, q87's pattern: the PNG literals are the ORIGINAL
    // raster's (lossless decode must reproduce them); the JPEG
    // literals are the local decode of the planted bytes (lossy —
    // the row gates dimensions + distributed/local agreement)
    "q108_imageio_decode" -> {
      val (mr, mg, mb) = ImageFixture.means
      val (jr, jg, jb) = ImageFixture.jpgMeans
      val w = ImageFixture.img.width
      val h = ImageFixture.img.height
      s"""SELECT 'jpeg' AS format, $w AS width, $h AS height,
         |  $jr AS mean_r, $jg AS mean_g, $jb AS mean_b,
         |  ${ImageFixture.jpg.length} AS n_bytes
         |UNION ALL
         |SELECT 'png', $w, $h, $mr, $mg, $mb, ${ImageFixture.png.length}
         |ORDER BY format""".stripMargin
    },

    // q108's convention for the GIF fixture: literals from the local
    // decode of the same planted bytes
    "q125_gif_decode" -> {
      val (gr, gg, gb) = ImageFixture.gifMeans
      s"""SELECT 'gif' AS format, ${ImageFixture.img.width} AS width,
         |  ${ImageFixture.img.height} AS height,
         |  $gr AS mean_r, $gg AS mean_g, $gb AS mean_b,
         |  ${ImageFixture.gif.length} AS n_bytes""".stripMargin
    },

    // q90's replay mechanism over the REFRESHED index artifacts: the
    // oracle reads the post-refresh parquet (codes + hive partition
    // column), so a stale cell, a lingering removed key, or a
    // mis-assigned fresh row all flip the hash
    // the refreshed state re-derived FROM RAW under the written
    // centroids (the q186 mechanism): final corpus = adds back
    // %7==3, drops %13==5, sign-flips %11==0; quantize + assign +
    // probe with the q90 arithmetic. (The physical cells stopped
    // being glob-readable when the refresh went MVCC; physical ≡
    // from-scratch parity is pinned by SimilaritySpec instead.)
    "q109_ivf_incremental" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |cents AS (SELECT centroid_id AS cid, cvec AS cv
        |          FROM read_parquet('{SCRATCH}/ivfinc_cents_{SFHASH}/*.parquet')),
        |probed AS (SELECT cid FROM cents, q
        |           ORDER BY 1 - list_cosine_similarity(cv, qv), cid
        |           LIMIT 3),
        |qq AS (
        |  SELECT CASE WHEN s = 0 THEN list_transform(qv, x -> 0.0)
        |              ELSE list_transform(qv, x -> floor(x / s + 0.5))
        |         END AS qc
        |  FROM (SELECT qv, list_max(list_transform(qv, x -> abs(x))) / 127.0
        |          AS s FROM q)),
        |snap AS (SELECT vec_id,
        |    CASE WHEN vec_id % 11 = 0
        |         THEN list_transform(embedding, x -> -x)
        |         ELSE embedding END AS v
        |  FROM embeddings WHERE vec_id <> 0 AND vec_id % 13 <> 5),
        |asn AS (SELECT snap.vec_id AS vid,
        |    arg_min(cents.cid,
        |      1 - list_cosine_similarity(snap.v::DOUBLE[], cents.cv))
        |      AS cid
        |  FROM snap, cents GROUP BY snap.vec_id),
        |codes AS (
        |  SELECT vec_id,
        |    CASE WHEN s = 0 THEN list_transform(vd, x -> 0.0)
        |         ELSE list_transform(vd, x -> floor(x / s + 0.5))
        |    END AS codes
        |  FROM (SELECT vec_id, v::DOUBLE[] AS vd,
        |          list_max(list_transform(v::DOUBLE[], x -> abs(x)))
        |            / 127.0 AS s
        |        FROM snap))
        |SELECT vec_id,
        |  round(list_cosine_similarity(codes,
        |    (SELECT qc FROM qq)), 4) AS qsim
        |FROM codes JOIN asn ON codes.vec_id = asn.vid
        |WHERE asn.cid IN (SELECT cid FROM probed)
        |ORDER BY qsim DESC, vec_id LIMIT 10""".stripMargin,

    // q91's report SQL over rule-derived 3-way labels / predictions —
    // the never-predicted (class 2) and never-labeled (class 3)
    // zero_division branches land under the hash gate
    "q110_multiclass_report" ->
      """WITH sc AS (SELECT CAST(n_chars % 3 AS BIGINT) AS label,
        |    CASE WHEN doc_id % 5 = 0 THEN CAST(3 AS BIGINT)
        |         ELSE CAST(n_chars % 2 AS BIGINT) END AS prediction
        |  FROM documents),
        |cm AS (SELECT label AS l, prediction AS p, count(*) AS n
        |       FROM sc GROUP BY 1, 2),
        |cls AS (SELECT l AS cls FROM cm UNION SELECT p FROM cm),
        |tpt AS (SELECT l AS cls, n AS tp FROM cm WHERE l = p),
        |sup AS (SELECT l AS cls, CAST(sum(n) AS BIGINT) AS support FROM cm GROUP BY 1),
        |pn  AS (SELECT p AS cls, CAST(sum(n) AS BIGINT) AS pred_n FROM cm GROUP BY 1)
        |SELECT c.cls,
        |  coalesce(tpt.tp, 0) AS tp,
        |  coalesce(sup.support, 0) AS support,
        |  coalesce(pn.pred_n, 0) AS pred_n,
        |  CASE WHEN coalesce(pn.pred_n, 0) = 0 THEN 0.0
        |       ELSE floor(coalesce(tpt.tp, 0) * 10000.0
        |                  / pn.pred_n + 0.5) / 10000.0 END AS prec,
        |  CASE WHEN coalesce(sup.support, 0) = 0 THEN 0.0
        |       ELSE floor(coalesce(tpt.tp, 0) * 10000.0
        |                  / sup.support + 0.5) / 10000.0 END AS rec,
        |  floor(coalesce(tpt.tp, 0) * 2 * 10000.0
        |        / (coalesce(sup.support, 0) + coalesce(pn.pred_n, 0))
        |        + 0.5) / 10000.0 AS f1
        |FROM cls c
        |LEFT JOIN tpt ON c.cls = tpt.cls
        |LEFT JOIN sup ON c.cls = sup.cls
        |LEFT JOIN pn  ON c.cls = pn.cls
        |ORDER BY c.cls""".stripMargin,

    // literal oracle from the shared fixture's local decode (q108's
    // pattern applied to audio)
    "q111_wav_decode" -> {
      val (mr, mp, mz) = AudioFixture.monoStats
      val (sr, sp, sz) = AudioFixture.stereoStats
      s"""SELECT 1 AS asset_id, 'wav' AS format,
         |  ${AudioFixture.monoDec.sampleRate} AS sample_rate,
         |  ${AudioFixture.monoDec.channels} AS channels,
         |  ${AudioFixture.monoDec.durationMs} AS duration_ms,
         |  $mr AS rms, $mp AS peak, $mz AS zero_crossings,
         |  ${AudioFixture.monoWav.length} AS n_bytes
         |UNION ALL
         |SELECT 2, 'wav', ${AudioFixture.stereoDec.sampleRate},
         |  ${AudioFixture.stereoDec.channels},
         |  ${AudioFixture.stereoDec.durationMs},
         |  $sr, $sp, $sz, ${AudioFixture.stereoWav.length}
         |ORDER BY asset_id""".stripMargin
    },

    // q111's convention for the companded fixtures: literals from the
    // local decode of the same planted G.711 bytes
    "q124_g711_decode" -> {
      val (ur, up, uz) = AudioFixture.ulawStats
      val (ar, ap, az) = AudioFixture.alawStats
      s"""SELECT 1 AS asset_id, 'wav' AS format,
         |  ${AudioFixture.ulawDec.sampleRate} AS sample_rate,
         |  ${AudioFixture.ulawDec.channels} AS channels,
         |  ${AudioFixture.ulawDec.durationMs} AS duration_ms,
         |  $ur AS rms, $up AS peak, $uz AS zero_crossings,
         |  ${AudioFixture.ulawWav.length} AS n_bytes
         |UNION ALL
         |SELECT 2, 'wav', ${AudioFixture.alawDec.sampleRate},
         |  ${AudioFixture.alawDec.channels},
         |  ${AudioFixture.alawDec.durationMs},
         |  $ar, $ap, $az, ${AudioFixture.alawWav.length}
         |ORDER BY asset_id""".stripMargin
    },

    // literal outcomes per asset: decoded / corrupt-recorded /
    // unknown-fallback / null-payload
    "q121_media_corrupt_accounting" -> {
      val w = ImageFixture.img.width
      val h = ImageFixture.img.height
      val n = ImageFixture.ppm.length
      s"""SELECT 1 AS asset_id, 'ppm' AS format, 0 AS has_error,
         |  $n AS n_bytes, $w AS width, $h AS height
         |UNION ALL SELECT 2, NULL, 1, ${n - 3}, NULL, NULL
         |UNION ALL SELECT 3, NULL, 0, 10, NULL, NULL
         |UNION ALL SELECT 4, NULL, 1, 0, NULL, NULL
         |ORDER BY asset_id""".stripMargin
    },

    // q80's chunking + keeper CTEs with an ordered reassembly
    "q120_chunk_dedup_apply" ->
      """WITH t AS (SELECT doc_id,
        |             string_split(coalesce(text, ''), ' ') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, len(toks) AS n, toks,
        |        unnest(range(0, CAST(ceil(len(toks) / 20.0) AS BIGINT)))
        |          AS cid
        |      FROM t),
        |ch AS (SELECT doc_id, cid, least(20, n - cid * 20) AS clen,
        |         array_to_string(toks[cid*20+1:cid*20+20], ' ') AS chunk,
        |         md5(array_to_string(toks[cid*20+1:cid*20+20], ' '))
        |           AS sig
        |       FROM c),
        |keep AS (SELECT sig, min(ROW(doc_id, cid)) AS kkey
        |         FROM ch GROUP BY sig),
        |kept AS (SELECT ch.doc_id, ch.cid, ch.clen, ch.chunk
        |         FROM ch JOIN keep USING (sig)
        |         WHERE ROW(doc_id, cid) = kkey),
        |agg AS (SELECT doc_id,
        |          string_agg(chunk, ' ' ORDER BY cid) AS new_text,
        |          count(*) AS nck,
        |          CAST(sum(clen) AS BIGINT) AS ntk
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, md5(coalesce(agg.new_text, '')) AS new_md5,
        |  CAST(coalesce(agg.nck, 0) AS BIGINT) AS n_chunks_kept,
        |  CAST(coalesce(agg.ntk, 0) AS BIGINT) AS n_tokens_kept
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // q112's page + strip chain, q14's signature dedup, per-source agg
    "q119_web_ingest" ->
      """WITH h AS (SELECT doc_id, source,
        |    '<html><!-- c --><head><style type="text/css">p{color:red}'
        |    || '</style><script>var x=1;</script></head><body><h1>T</h1><p>'
        |    || replace(coalesce(text, ''), ' ', '&nbsp;')
        |    || '</p><div>&amp; &lt;tag&gt;</div><a href="#">l</a>'
        |    || '<a href="#">l2</a>'
        |    || CASE WHEN doc_id % 3 = 0 THEN '<a href="x">m</a>'
        |            ELSE '' END
        |    || '</body></html>' AS html
        |  FROM documents),
        |c AS (SELECT doc_id, source,
        |  trim(
        |    regexp_replace(
        |      regexp_replace(
        |        replace(replace(replace(replace(replace(replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(
        |                  regexp_replace(html,
        |                    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |                  '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |                '(?s)<!--.*?-->', ' ', 'g'),
        |              '(?i)</?(p|div|br|h[1-6]|li|ul|ol|tr|table)[^>]*>',
        |              chr(10), 'g'),
        |            '<[^>]+>', '', 'g'),
        |          '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |          '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |        '[ \t]+', ' ', 'g'),
        |      ' ?\n[ \n]*', chr(10), 'g'),
        |    ' ' || chr(10)) AS clean
        |  FROM h),
        |k AS (SELECT doc_id, source, clean,
        |        CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_toks
        |      FROM c WHERE len(string_split(clean, ' ')) >= 15),
        |reps AS (SELECT min(doc_id) AS doc_id FROM (
        |    SELECT doc_id, array_to_string(list_sort(list_distinct(
        |      string_split(clean, ' '))), ' ') AS sig FROM k)
        |  GROUP BY sig)
        |SELECT source, count(*) AS docs_kept,
        |  CAST(sum(n_toks) AS BIGINT) AS tokens_kept
        |FROM k JOIN reps USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,

    // q104's rule CTE + the host grouping + the integer threshold
    "q118_domain_filter" ->
      """WITH t AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |m AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
        |    CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT)
        |      AS sum_len,
        |    CAST(len(list_intersect(list_distinct(t),
        |      ['scan', 'table', 'row', 'data', 'query', 'filter']))
        |      AS BIGINT) AS stop_hits
        |  FROM t),
        |fl AS (SELECT doc_id,
        |    CASE WHEN (CASE WHEN n_tokens BETWEEN 20 AND 90
        |                THEN 1 ELSE 0 END) +
        |      (CASE WHEN sum_len * 10 >= n_tokens * 40
        |            AND sum_len * 10 <= n_tokens * 100
        |            THEN 1 ELSE 0 END) +
        |      (CASE WHEN n_distinct * 2 >= n_tokens
        |            THEN 1 ELSE 0 END) +
        |      (CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END) = 4
        |      THEN 1 ELSE 0 END AS pass
        |  FROM m),
        |h AS (SELECT doc_id, 'www.' || source || '.example.com' AS host
        |      FROM documents)
        |SELECT h.host, count(*) AS n_docs,
        |  CAST(sum(pass) AS BIGINT) AS n_pass,
        |  CAST(CASE WHEN sum(pass) * 100 < count(*) * 60
        |       THEN 1 ELSE 0 END AS INTEGER) AS blocked
        |FROM h JOIN fl USING (doc_id)
        |GROUP BY h.host ORDER BY h.host""".stripMargin,

    // the whole assembly replayed with single-task windows — sample
    // rank, global shuffle order, dense ids, shard grouping
    "q117_shard_assembly" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |samp AS (SELECT doc_id, source, n_tokens FROM (
        |    SELECT d.*, row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |    FROM d) WHERE rn <= 15),
        |ids AS (SELECT doc_id, source, n_tokens,
        |    CAST(row_number() OVER (ORDER BY
        |      md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT)
        |      AS row_id
        |  FROM samp)
        |SELECT row_id // 25 AS shard_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  count(DISTINCT source) AS n_sources,
        |  min(row_id) AS first_row
        |FROM ids GROUP BY 1 ORDER BY 1""".stripMargin,

    // the single-task global numbering the distributed two-pass must
    // reproduce exactly
    "q116_contiguous_ids" ->
      """SELECT CAST(row_number() OVER (ORDER BY source, doc_id) - 1
        |         AS BIGINT) AS row_id,
        |       doc_id, source
        |FROM documents ORDER BY row_id""".stripMargin,

    // direct scan over the FINAL corpus state (adds in, removals out,
    // modifications applied) — the segmented index must reproduce it
    "q115_bm25_segmented" ->
      """WITH fin AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 4 THEN c
        |         WHEN doc_id % 7 = 0 THEN c || ' upd'
        |         ELSE c END AS text
        |  FROM (SELECT doc_id, coalesce(text, '') AS c FROM documents)
        |  WHERE NOT (doc_id % 5 <> 4 AND doc_id % 7 <> 0
        |             AND doc_id % 11 = 3)),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM fin),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM toks),
        |q AS (SELECT * FROM (VALUES (0, 'sort merge join upd'),
        |        (1, 'query filter scan')) v(qid, qtext)),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' '))
        |         AS term FROM q),
        |scored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
        |  CROSS JOIN stats
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |      FROM scored)
        |SELECT qid, doc_id, score FROM r WHERE rn <= 12
        |ORDER BY qid, score DESC, doc_id""".stripMargin,

    // the drift-monitoring read replayed off the index's and
    // centroids' own parquet: per-cell occupancy + fixed-point mean
    // cosine displacement + integer-division occupancy skew
    "q123_ivf_drift_stats" ->
      """WITH cents AS (SELECT centroid_id AS cid, cvec AS cv
        |  FROM read_parquet('{SCRATCH}/ivfdrift_cents_{SFHASH}/*.parquet')),
        |idx AS (SELECT CAST(centroid_id AS BIGINT) AS cid, codes
        |  FROM read_parquet('{SCRATCH}/ivfdrift_index_{SFHASH}/*/*.parquet',
        |                    hive_partitioning = 1)),
        |cd AS (SELECT idx.cid,
        |    CAST(floor((1 - list_cosine_similarity(codes::DOUBLE[], cv))
        |         * 1e7 + 0.5) AS BIGINT) AS cd_fp
        |  FROM idx JOIN cents ON idx.cid = cents.cid),
        |cells AS (SELECT cid AS centroid_id, count(*) AS n,
        |    CAST(sum(cd_fp) AS BIGINT) AS cd_fp_sum
        |  FROM cd GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
        |    CAST(max(n) AS BIGINT) AS maxn, count(*) AS cells
        |  FROM cells)
        |SELECT centroid_id, n, cd_fp_sum,
        |  round(cd_fp_sum / n / 1e7, 4) AS mean_cd,
        |  (maxn * cells * 100) // tot AS skew_x100
        |FROM cells CROSS JOIN tot
        |ORDER BY centroid_id""".stripMargin,

    // q115's oracle verbatim: the merge changes the physical layout
    // only — the probe over the folded index must reproduce the same
    // direct scan over the same final corpus state
    "q122_bm25_merge" ->
      """WITH fin AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 4 THEN c
        |         WHEN doc_id % 7 = 0 THEN c || ' upd'
        |         ELSE c END AS text
        |  FROM (SELECT doc_id, coalesce(text, '') AS c FROM documents)
        |  WHERE NOT (doc_id % 5 <> 4 AND doc_id % 7 <> 0
        |             AND doc_id % 11 = 3)),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM fin),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM toks),
        |q AS (SELECT * FROM (VALUES (0, 'sort merge join upd'),
        |        (1, 'query filter scan')) v(qid, qtext)),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' '))
        |         AS term FROM q),
        |scored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
        |  CROSS JOIN stats
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |      FROM scored)
        |SELECT qid, doc_id, score FROM r WHERE rn <= 12
        |ORDER BY qid, score DESC, doc_id""".stripMargin,

    // the torture row's two corpus states, each scored by the one
    // BM25 arithmetic: phase 0 = the pinned pre-writer corpus
    // (originals, id % 3 <> 2); phase 1 = the closed-form final state
    // (each id has at most one modifying wave — id % 17 in 1..2 —
    // and one deleting wave — id % 19 in 1..2; alive iff modified at
    // w >= its delete wave, or untouched original)
    "q188_mvcc_torture" ->
      """WITH ini AS (SELECT doc_id, coalesce(text, '') AS text
        |  FROM documents WHERE doc_id % 3 <> 2),
        |fin AS (SELECT doc_id,
        |    CASE WHEN mod_w IS NOT NULL
        |         THEN c || ' w' || CAST(mod_w AS VARCHAR)
        |         ELSE c END AS text
        |  FROM (SELECT doc_id, coalesce(text, '') AS c,
        |          CASE WHEN doc_id % 17 BETWEEN 1 AND 2
        |               THEN doc_id % 17 END AS mod_w,
        |          CASE WHEN doc_id % 19 BETWEEN 1 AND 2
        |               THEN doc_id % 19 END AS del_w
        |        FROM documents)
        |  WHERE (mod_w IS NOT NULL AND (del_w IS NULL OR mod_w >= del_w))
        |     OR (doc_id % 3 <> 2 AND mod_w IS NULL AND del_w IS NULL)),
        |q AS (SELECT * FROM (VALUES (0, 'sort merge join'),
        |        (1, 'query filter scan')) v(qid, qtext)),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' '))
        |         AS term FROM q),
        |ti AS (SELECT doc_id, string_split(text, ' ') AS t FROM ini),
        |tci AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM ti),
        |tfi AS (SELECT doc_id, dl, term, count(*) AS tf
        |        FROM tci GROUP BY 1, 2, 3),
        |dfi AS (SELECT term, count(*) AS df FROM tfi GROUP BY 1),
        |sti AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM ti),
        |k0 AS (SELECT 0 AS phase, qid, doc_id, score FROM (
        |  SELECT qt.qid, tfi.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score,
        |    row_number() OVER (PARTITION BY qt.qid ORDER BY
        |      round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |          (df + 0.5)) *
        |        (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |        * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) DESC, tfi.doc_id)
        |      AS rn
        |  FROM tfi JOIN qt USING (term) JOIN dfi USING (term)
        |  CROSS JOIN sti GROUP BY qt.qid, tfi.doc_id, n_docs, avgdl)
        |  WHERE rn <= 10),
        |tn AS (SELECT doc_id, string_split(text, ' ') AS t FROM fin),
        |tcn AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tn),
        |tfn AS (SELECT doc_id, dl, term, count(*) AS tf
        |        FROM tcn GROUP BY 1, 2, 3),
        |dfn AS (SELECT term, count(*) AS df FROM tfn GROUP BY 1),
        |stn AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM tn),
        |k1 AS (SELECT 1 AS phase, qid, doc_id, score FROM (
        |  SELECT qt.qid, tfn.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score,
        |    row_number() OVER (PARTITION BY qt.qid ORDER BY
        |      round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |          (df + 0.5)) *
        |        (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |        * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) DESC, tfn.doc_id)
        |      AS rn
        |  FROM tfn JOIN qt USING (term) JOIN dfn USING (term)
        |  CROSS JOIN stn GROUP BY qt.qid, tfn.doc_id, n_docs, avgdl)
        |  WHERE rn <= 10)
        |SELECT phase, qid, doc_id, score FROM
        |  (SELECT * FROM k0 UNION ALL SELECT * FROM k1)
        |ORDER BY phase, qid, score DESC, doc_id""".stripMargin,

    // the cross-family capstone: ONE alive-rule CTE derives the
    // replayed mid state (wave A applied, wave B and the fold unseen),
    // and all three engines' as-of answers must score off exactly
    // that corpus — lexical BM25 (q122 arithmetic), quantized cosine
    // (q186 arithmetic, gen-0 model), PQ integer ADC (q187
    // arithmetic, gen-0 centroids + books)
    "q189_crossfamily_travel" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
        |  WHERE doc_id % 3 = 1 AND (doc_id % 4 = 3
        |     OR (doc_id % 4 <> 3 AND doc_id % 7 = 1)
        |     OR (doc_id % 4 <> 3 AND doc_id % 7 <> 1
        |         AND doc_id % 9 <> 2))),
        |txt AS (SELECT id,
        |    CASE WHEN id % 4 <> 3 AND id % 7 = 1 THEN c || ' v2'
        |         ELSE c END AS text
        |  FROM (SELECT ids.id, coalesce(d.text, '') AS c
        |        FROM ids JOIN documents d ON d.doc_id = ids.id)),
        |vecs AS (SELECT id,
        |    CASE WHEN id % 4 <> 3 AND id % 7 = 1
        |         THEN list_transform(e.embedding,
        |                x -> CAST(x + 0.25 AS FLOAT))
        |         ELSE e.embedding END AS v
        |  FROM ids JOIN embeddings e ON e.vec_id = ids.id),
        |q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings
        |      WHERE vec_id = 0),
        |pq AS (SELECT * FROM (VALUES (0, 'sort merge join'),
        |        (1, 'query filter v2')) v(qid, qtext)),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' '))
        |         AS term FROM pq),
        |tl AS (SELECT id, string_split(text, ' ') AS t FROM txt),
        |tc AS (SELECT id, len(t) AS dl, unnest(t) AS term FROM tl),
        |tf AS (SELECT id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM tl),
        |lex AS (SELECT 'lexical' AS family, qid, id, score FROM (
        |  SELECT qt.qid, tf.id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score,
        |    row_number() OVER (PARTITION BY qt.qid ORDER BY
        |      round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |          (df + 0.5)) *
        |        (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |        * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) DESC, tf.id) AS rn
        |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
        |  CROSS JOIN st GROUP BY qt.qid, tf.id, n_docs, avgdl)
        |  WHERE rn <= 10),
        |cq AS (SELECT centroid_id AS cid, cvec AS cv FROM
        |  read_parquet('{SCRATCH}/xft_vq_{SFHASH}/cents/gen=0/*.parquet')),
        |pqq AS (SELECT cid FROM cq, q
        |        ORDER BY 1 - list_cosine_similarity(cv, qvec), cid
        |        LIMIT 3),
        |qq AS (
        |  SELECT CASE WHEN s = 0 THEN list_transform(qvec, x -> 0.0)
        |              ELSE list_transform(qvec, x -> floor(x / s + 0.5))
        |         END AS qc
        |  FROM (SELECT qvec, list_max(list_transform(qvec,
        |          x -> abs(x))) / 127.0 AS s FROM q)),
        |aq AS (SELECT vecs.id AS vid,
        |         arg_min(cq.cid,
        |           1 - list_cosine_similarity(vecs.v::DOUBLE[], cq.cv))
        |           AS cid
        |       FROM vecs, cq GROUP BY vecs.id),
        |vq AS (
        |  SELECT id,
        |    CASE WHEN s = 0 THEN list_transform(vd, x -> 0.0)
        |         ELSE list_transform(vd, x -> floor(x / s + 0.5))
        |    END AS codes
        |  FROM (SELECT id, v::DOUBLE[] AS vd,
        |          list_max(list_transform(v::DOUBLE[], x -> abs(x)))
        |            / 127.0 AS s
        |        FROM vecs)),
        |kq AS (SELECT 'ivf_q' AS family, 0 AS qid, id,
        |         round(list_cosine_similarity(codes,
        |           (SELECT qc FROM qq)), 4) AS score
        |       FROM vq JOIN aq ON vq.id = aq.vid
        |       WHERE aq.cid IN (SELECT cid FROM pqq)
        |       ORDER BY score DESC, id LIMIT 10),
        |cp AS (SELECT centroid_id AS cid, cvec AS cv FROM
        |  read_parquet('{SCRATCH}/xft_vp_{SFHASH}/cents/gen=0/*.parquet')),
        |ppp AS (SELECT cid FROM cp, q
        |        ORDER BY 1 - list_cosine_similarity(cv, qvec), cid
        |        LIMIT 3),
        |cb AS (SELECT subspace, code, cvec FROM
        |  read_parquet('{SCRATCH}/xft_vp_{SFHASH}/books/gen=0/*.parquet')),
        |ip AS (SELECT subspace, code,
        |    CAST(floor(list_inner_product(cvec,
        |      qvec[(subspace * 8 + 1):(subspace * 8 + 8)]) * 1e7 + 0.5)
        |      AS BIGINT) AS ip_fp
        |  FROM cb, q),
        |ap AS (SELECT vecs.id AS vid,
        |         arg_min(cp.cid,
        |           1 - list_cosine_similarity(vecs.v::DOUBLE[], cp.cv))
        |           AS cid
        |       FROM vecs, cp GROUP BY vecs.id),
        |mem AS (SELECT vecs.id,
        |    list_transform(vecs.v::DOUBLE[],
        |      x -> x / sqrt(list_inner_product(vecs.v::DOUBLE[],
        |                                       vecs.v::DOUBLE[]))) AS uv
        |  FROM vecs JOIN ap ON vecs.id = ap.vid
        |  WHERE ap.cid IN (SELECT cid FROM ppp)),
        |enc AS (SELECT id, subspace, code FROM (
        |    SELECT mem.id, cb.subspace, cb.code,
        |      row_number() OVER (PARTITION BY mem.id, cb.subspace
        |        ORDER BY list_distance(cb.cvec,
        |          uv[(cb.subspace * 8 + 1):(cb.subspace * 8 + 8)]),
        |          cb.code) AS rn
        |    FROM mem, cb) WHERE rn = 1),
        |kp AS (SELECT 'ivf_pq' AS family, 0 AS qid, id,
        |    round(CAST(sum(ip_fp) AS BIGINT) / 1e7, 4) AS score
        |  FROM enc JOIN ip USING (subspace, code)
        |  GROUP BY id ORDER BY score DESC, id LIMIT 10)
        |SELECT family, qid, id, score FROM
        |  (SELECT * FROM lex UNION ALL SELECT * FROM kq
        |   UNION ALL SELECT * FROM kp)
        |ORDER BY family, qid, score DESC, id""".stripMargin,

    // all four torture phases re-derived from raw under the WRITTEN
    // models: phases 0/2 = the bootstrap corpus (%3==1 third, %5≠4)
    // under the generation-0 models (the pinned answers the hammered
    // probes must have returned), phases 1/3 = the post-CRUD drifted
    // corpus under the recentered generation-2 models — q186's int8
    // arithmetic for 0/1, q187's unit-normalize + codebook argmin +
    // integer ADC for 2/3. If any racing collect had served a mixed
    // or mid-seal state, phase 0/2 would hash-red.
    "q190_vector_mvcc_torture" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |qq AS (
        |  SELECT CASE WHEN s = 0 THEN list_transform(qv, x -> 0.0)
        |              ELSE list_transform(qv, x -> floor(x / s + 0.5))
        |         END AS qc
        |  FROM (SELECT qv, list_max(list_transform(qv, x -> abs(x))) / 127.0
        |          AS s FROM q)),
        |base0 AS (SELECT vec_id, embedding AS v FROM embeddings
        |  WHERE vec_id <> 0 AND vec_id % 3 = 1 AND vec_id % 5 <> 4),
        |live AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(x + (vec_id % 5) * 3.0 AS FLOAT)) AS v
        |  FROM embeddings
        |  WHERE vec_id <> 0 AND vec_id % 3 = 1
        |    AND ((vec_id % 5 <> 4 AND vec_id % 7 <> 1)
        |         OR (vec_id % 5 = 4 AND vec_id % 2 = 0))),
        |cq0 AS (SELECT centroid_id AS cid, cvec AS cv FROM
        |  read_parquet('{SCRATCH}/vmvcc_q_{SFHASH}/cents/gen=0/*.parquet')),
        |cq2 AS (SELECT centroid_id AS cid, cvec AS cv FROM
        |  read_parquet('{SCRATCH}/vmvcc_q_{SFHASH}/cents/gen=2/*.parquet')),
        |pq0 AS (SELECT cid FROM cq0, q
        |        ORDER BY 1 - list_cosine_similarity(cv, qv), cid LIMIT 3),
        |pq2 AS (SELECT cid FROM cq2, q
        |        ORDER BY 1 - list_cosine_similarity(cv, qv), cid LIMIT 3),
        |a0 AS (SELECT base0.vec_id AS vid,
        |    arg_min(cq0.cid,
        |      1 - list_cosine_similarity(base0.v::DOUBLE[], cq0.cv)) AS cid
        |  FROM base0, cq0 GROUP BY base0.vec_id),
        |a1 AS (SELECT live.vec_id AS vid,
        |    arg_min(cq2.cid,
        |      1 - list_cosine_similarity(live.v::DOUBLE[], cq2.cv)) AS cid
        |  FROM live, cq2 GROUP BY live.vec_id),
        |z0 AS (
        |  SELECT vec_id,
        |    CASE WHEN s = 0 THEN list_transform(vd, x -> 0.0)
        |         ELSE list_transform(vd, x -> floor(x / s + 0.5))
        |    END AS codes
        |  FROM (SELECT vec_id, v::DOUBLE[] AS vd,
        |          list_max(list_transform(v::DOUBLE[], x -> abs(x)))
        |            / 127.0 AS s
        |        FROM base0)),
        |z1 AS (
        |  SELECT vec_id,
        |    CASE WHEN s = 0 THEN list_transform(vd, x -> 0.0)
        |         ELSE list_transform(vd, x -> floor(x / s + 0.5))
        |    END AS codes
        |  FROM (SELECT vec_id, v::DOUBLE[] AS vd,
        |          list_max(list_transform(v::DOUBLE[], x -> abs(x)))
        |            / 127.0 AS s
        |        FROM live)),
        |k0 AS (SELECT 0 AS phase, vec_id,
        |    round(list_cosine_similarity(codes,
        |      (SELECT qc FROM qq)), 4) AS score
        |  FROM z0 JOIN a0 ON z0.vec_id = a0.vid
        |  WHERE a0.cid IN (SELECT cid FROM pq0)
        |  ORDER BY score DESC, vec_id LIMIT 10),
        |k1 AS (SELECT 1 AS phase, vec_id,
        |    round(list_cosine_similarity(codes,
        |      (SELECT qc FROM qq)), 4) AS score
        |  FROM z1 JOIN a1 ON z1.vec_id = a1.vid
        |  WHERE a1.cid IN (SELECT cid FROM pq2)
        |  ORDER BY score DESC, vec_id LIMIT 10),
        |cp0 AS (SELECT centroid_id AS cid, cvec AS cv FROM
        |  read_parquet('{SCRATCH}/vmvcc_p_{SFHASH}/cents/gen=0/*.parquet')),
        |cp2 AS (SELECT centroid_id AS cid, cvec AS cv FROM
        |  read_parquet('{SCRATCH}/vmvcc_p_{SFHASH}/cents/gen=2/*.parquet')),
        |pp0 AS (SELECT cid FROM cp0, q
        |        ORDER BY 1 - list_cosine_similarity(cv, qv), cid LIMIT 3),
        |pp2 AS (SELECT cid FROM cp2, q
        |        ORDER BY 1 - list_cosine_similarity(cv, qv), cid LIMIT 3),
        |cb0 AS (SELECT subspace, code, cvec FROM
        |  read_parquet('{SCRATCH}/vmvcc_p_{SFHASH}/books/gen=0/*.parquet')),
        |cb2 AS (SELECT subspace, code, cvec FROM
        |  read_parquet('{SCRATCH}/vmvcc_p_{SFHASH}/books/gen=2/*.parquet')),
        |ip0 AS (SELECT subspace, code,
        |    CAST(floor(list_inner_product(cvec,
        |      qv[(subspace * 8 + 1):(subspace * 8 + 8)]) * 1e7 + 0.5)
        |      AS BIGINT) AS ip_fp
        |  FROM cb0, q),
        |ip2 AS (SELECT subspace, code,
        |    CAST(floor(list_inner_product(cvec,
        |      qv[(subspace * 8 + 1):(subspace * 8 + 8)]) * 1e7 + 0.5)
        |      AS BIGINT) AS ip_fp
        |  FROM cb2, q),
        |b0 AS (SELECT base0.vec_id AS vid,
        |    arg_min(cp0.cid,
        |      1 - list_cosine_similarity(base0.v::DOUBLE[], cp0.cv)) AS cid
        |  FROM base0, cp0 GROUP BY base0.vec_id),
        |b1 AS (SELECT live.vec_id AS vid,
        |    arg_min(cp2.cid,
        |      1 - list_cosine_similarity(live.v::DOUBLE[], cp2.cv)) AS cid
        |  FROM live, cp2 GROUP BY live.vec_id),
        |m0 AS (SELECT base0.vec_id,
        |    list_transform(base0.v::DOUBLE[],
        |      x -> x / sqrt(list_inner_product(base0.v::DOUBLE[],
        |                                       base0.v::DOUBLE[]))) AS uv
        |  FROM base0 JOIN b0 ON base0.vec_id = b0.vid
        |  WHERE b0.cid IN (SELECT cid FROM pp0)),
        |m1 AS (SELECT live.vec_id,
        |    list_transform(live.v::DOUBLE[],
        |      x -> x / sqrt(list_inner_product(live.v::DOUBLE[],
        |                                       live.v::DOUBLE[]))) AS uv
        |  FROM live JOIN b1 ON live.vec_id = b1.vid
        |  WHERE b1.cid IN (SELECT cid FROM pp2)),
        |e0 AS (SELECT vec_id, subspace, code FROM (
        |    SELECT m0.vec_id, cb0.subspace, cb0.code,
        |      row_number() OVER (PARTITION BY m0.vec_id, cb0.subspace
        |        ORDER BY list_distance(cb0.cvec,
        |          uv[(cb0.subspace * 8 + 1):(cb0.subspace * 8 + 8)]),
        |          cb0.code) AS rn
        |    FROM m0, cb0) WHERE rn = 1),
        |e1 AS (SELECT vec_id, subspace, code FROM (
        |    SELECT m1.vec_id, cb2.subspace, cb2.code,
        |      row_number() OVER (PARTITION BY m1.vec_id, cb2.subspace
        |        ORDER BY list_distance(cb2.cvec,
        |          uv[(cb2.subspace * 8 + 1):(cb2.subspace * 8 + 8)]),
        |          cb2.code) AS rn
        |    FROM m1, cb2) WHERE rn = 1),
        |k2 AS (SELECT 2 AS phase, vec_id,
        |    round(CAST(sum(ip_fp) AS BIGINT) / 1e7, 4) AS score
        |  FROM e0 JOIN ip0 USING (subspace, code)
        |  GROUP BY vec_id ORDER BY score DESC, vec_id LIMIT 10),
        |k3 AS (SELECT 3 AS phase, vec_id,
        |    round(CAST(sum(ip_fp) AS BIGINT) / 1e7, 4) AS score
        |  FROM e1 JOIN ip2 USING (subspace, code)
        |  GROUP BY vec_id ORDER BY score DESC, vec_id LIMIT 10)
        |SELECT phase, vec_id, score FROM
        |  (SELECT * FROM k0 UNION ALL SELECT * FROM k1
        |   UNION ALL SELECT * FROM k2 UNION ALL SELECT * FROM k3)
        |ORDER BY phase, score DESC, vec_id""".stripMargin,

    // the q92 watermark algebra (admission by per-wave watermark,
    // winner by max version + min-text tiebreak, eviction by final
    // watermark) composed with the q115 BM25 arithmetic: the settled
    // corpus = bootstrap docs, minus evicted delete-winners, with
    // evicted upsert-winners' text — then the identical scoring replay
    "q191_lexical_eventtime_crud" ->
      """WITH w1 AS (SELECT doc_id, coalesce(text, '') || ' w1' AS text,
        |              CAST(1 AS BIGINT) AS v,
        |              1700000000000 + doc_id * 1000 AS tsms, 1 AS wave,
        |              'upsert' AS op
        |            FROM documents WHERE doc_id % 10 = 0),
        |w2 AS (SELECT doc_id, coalesce(text, '') || ' w2' AS text,
        |         CAST(2 AS BIGINT) AS v,
        |         1700000000000 + doc_id * 1000 + 600000 AS tsms, 2 AS wave,
        |         'upsert' AS op
        |       FROM documents WHERE doc_id % 20 = 0),
        |w2d AS (SELECT doc_id, '' AS text, CAST(3 AS BIGINT) AS v,
        |          1700000000000 + doc_id * 1000 + 350000 AS tsms, 2 AS wave,
        |          'delete' AS op
        |        FROM documents WHERE doc_id % 50 = 0),
        |adv AS (SELECT CAST(999999 AS BIGINT) AS doc_id,
        |          'wm-advance' AS text, CAST(1 AS BIGINT) AS v,
        |          CAST(1700000000000 + 1000000000 AS BIGINT) AS tsms,
        |          3 AS wave, 'upsert' AS op),
        |hl AS (SELECT CAST(999998 AS BIGINT) AS doc_id,
        |         'sort merge join w1 query filter scan' AS text,
        |         CAST(1 AS BIGINT) AS v,
        |         (SELECT max(tsms) FROM w1) - 60000 AS tsms,
        |         2 AS wave, 'upsert' AS op),
        |u AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2
        |      UNION ALL SELECT * FROM w2d UNION ALL SELECT * FROM adv
        |      UNION ALL SELECT * FROM hl),
        |wavemax AS (SELECT wave, max(tsms) AS wmax FROM u GROUP BY 1),
        |wmk AS (SELECT wave, max(wmax) OVER (ORDER BY wave
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          - 60000 AS wm
        |        FROM wavemax),
        |adm AS (SELECT u.* FROM u JOIN wmk ON u.wave = wmk.wave
        |        WHERE wmk.wm IS NULL OR u.tsms > wmk.wm),
        |fwm AS (SELECT max(tsms) - 60000 AS f FROM u),
        |mts AS (SELECT doc_id, max(tsms) AS maxts FROM adm GROUP BY 1),
        |best AS (SELECT doc_id, max(v) AS bv FROM adm GROUP BY 1),
        |win0 AS (SELECT DISTINCT adm.doc_id, adm.text, adm.v, adm.op
        |         FROM adm JOIN best ON adm.doc_id = best.doc_id
        |                           AND adm.v = best.bv),
        |tb AS (SELECT doc_id, min(text) AS mt FROM win0 GROUP BY 1),
        |winev AS (SELECT w.doc_id, w.text, w.op FROM win0 w
        |          JOIN tb ON w.doc_id = tb.doc_id AND w.text = tb.mt
        |          JOIN mts m ON w.doc_id = m.doc_id
        |          WHERE (m.maxts + 60000 + 1) < (SELECT f FROM fwm)),
        |boot AS (SELECT doc_id, coalesce(text, '') AS text
        |         FROM documents),
        |fin AS (SELECT b.doc_id, coalesce(we.text, b.text) AS text
        |        FROM boot b LEFT JOIN winev we USING (doc_id)
        |        WHERE we.op IS NULL OR we.op = 'upsert'
        |        UNION ALL
        |        SELECT w.doc_id, w.text FROM winev w
        |        WHERE w.op = 'upsert'
        |          AND w.doc_id NOT IN (SELECT doc_id FROM boot)),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM fin),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM toks),
        |q AS (SELECT * FROM (VALUES (0, 'sort merge join w1'),
        |        (1, 'query filter scan')) v(qid, qtext)),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' '))
        |         AS term FROM q),
        |scored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
        |  CROSS JOIN stats
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |      FROM scored)
        |SELECT qid, doc_id, score FROM r WHERE rn <= 12
        |ORDER BY qid, score DESC, doc_id""".stripMargin,

    // q191's settle algebra (no op column — the late slice EMPTIES
    // instead of deleting) composed with q173's match semantics over
    // the EVICTED WINNERS only: the percolate event-time front's
    // alert set, from raw
    "q195_percolate_eventtime" ->
      """WITH w1 AS (SELECT doc_id, coalesce(text, '') || ' w1' AS text,
        |              CAST(1 AS BIGINT) AS v,
        |              1700000000000 + doc_id * 1000 AS tsms, 1 AS wave
        |            FROM documents WHERE doc_id % 10 = 0),
        |w2 AS (SELECT doc_id, coalesce(text, '') || ' w2' AS text,
        |         CAST(2 AS BIGINT) AS v,
        |         1700000000000 + doc_id * 1000 + 600000 AS tsms, 2 AS wave
        |       FROM documents WHERE doc_id % 20 = 0),
        |w2d AS (SELECT doc_id, '' AS text, CAST(3 AS BIGINT) AS v,
        |          1700000000000 + doc_id * 1000 + 350000 AS tsms, 2 AS wave
        |        FROM documents WHERE doc_id % 50 = 0),
        |adv AS (SELECT CAST(999999 AS BIGINT) AS doc_id,
        |          'wm-advance' AS text, CAST(1 AS BIGINT) AS v,
        |          CAST(1700000000000 + 1000000000 AS BIGINT) AS tsms,
        |          3 AS wave),
        |hl AS (SELECT CAST(999998 AS BIGINT) AS doc_id,
        |         'w2' AS text, CAST(1 AS BIGINT) AS v,
        |         (SELECT max(tsms) FROM w1) - 60000 AS tsms, 2 AS wave),
        |u AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2
        |      UNION ALL SELECT * FROM w2d UNION ALL SELECT * FROM adv
        |      UNION ALL SELECT * FROM hl),
        |wavemax AS (SELECT wave, max(tsms) AS wmax FROM u GROUP BY 1),
        |wmk AS (SELECT wave, max(wmax) OVER (ORDER BY wave
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          - 60000 AS wm
        |        FROM wavemax),
        |adm AS (SELECT u.* FROM u JOIN wmk ON u.wave = wmk.wave
        |        WHERE wmk.wm IS NULL OR u.tsms > wmk.wm),
        |fwm AS (SELECT max(tsms) - 60000 AS f FROM u),
        |mts AS (SELECT doc_id, max(tsms) AS maxts FROM adm GROUP BY 1),
        |best AS (SELECT doc_id, max(v) AS bv FROM adm GROUP BY 1),
        |win0 AS (SELECT DISTINCT adm.doc_id, adm.text, adm.v
        |         FROM adm JOIN best ON adm.doc_id = best.doc_id
        |                           AND adm.v = best.bv),
        |tb AS (SELECT doc_id, min(text) AS mt FROM win0 GROUP BY 1),
        |winev AS (SELECT w.doc_id, w.text FROM win0 w
        |          JOIN tb ON w.doc_id = tb.doc_id AND w.text = tb.mt
        |          JOIN mts m ON w.doc_id = m.doc_id
        |          WHERE (m.maxts + 60000 + 1) < (SELECT f FROM fwm)),
        |tok AS (SELECT doc_id,
        |    list_distinct(string_split(text, ' ')) AS t FROM winev),
        |m AS (
        |  SELECT 1 AS query_id, doc_id FROM tok
        |  WHERE list_contains(t, 'sort') AND list_contains(t, 'merge')
        |    AND NOT list_contains(t, 'scan')
        |  UNION ALL
        |  SELECT 2 AS query_id, doc_id FROM tok
        |  WHERE list_contains(t, 'query')
        |  UNION ALL
        |  SELECT 3 AS query_id, doc_id FROM tok
        |  WHERE list_contains(t, 'w2') AND NOT list_contains(t, 'w1')
        |  UNION ALL
        |  SELECT 4 AS query_id, doc_id FROM tok
        |  WHERE list_contains(t, 'w1'))
        |SELECT query_id, doc_id FROM m
        |ORDER BY query_id, doc_id""".stripMargin,

    // replays the CLONED generation from raw: the wave-1 snapshot
    // (remove %13==5, negate %7==2) quantized by the engine's own
    // floor rule, assigned by cosine argmin under the written
    // centroid artifact, pruned to the query's top-3 cells, int8
    // cosine top-10 — the source's post-clone wave 2 (%9==4) and its
    // vacuum must be invisible here, which is exactly what the clone
    // guarantees
    "q196_index_clone_probe" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |cents AS (SELECT centroid_id AS cid, cvec AS cv
        |          FROM read_parquet('{SCRATCH}/clq_cents_{SFHASH}/*.parquet')),
        |probed AS (SELECT cid FROM cents, q
        |           ORDER BY 1 - list_cosine_similarity(cv, qv), cid
        |           LIMIT 3),
        |qq AS (
        |  SELECT CASE WHEN s = 0 THEN list_transform(qv, x -> 0.0)
        |              ELSE list_transform(qv, x -> floor(x / s + 0.5))
        |         END AS qc
        |  FROM (SELECT qv, list_max(list_transform(qv, x -> abs(x))) / 127.0
        |          AS s FROM q)),
        |s1 AS (SELECT vec_id,
        |         CASE WHEN vec_id % 7 = 2
        |              THEN list_transform(embedding::DOUBLE[], x -> -x)
        |              ELSE embedding::DOUBLE[] END AS v
        |       FROM embeddings
        |       WHERE vec_id <> 0 AND vec_id % 3 = 0
        |         AND vec_id % 13 <> 5),
        |a1 AS (SELECT s1.vec_id AS vid,
        |         arg_min(cents.cid,
        |           1 - list_cosine_similarity(s1.v, cents.cv)) AS cid
        |       FROM s1, cents GROUP BY s1.vec_id),
        |codes AS (SELECT vec_id,
        |    CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
        |         ELSE list_transform(v, x -> floor(x / s + 0.5)) END AS c
        |  FROM (SELECT vec_id, v,
        |          list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
        |        FROM s1)),
        |mem AS (SELECT codes.vec_id, codes.c
        |        FROM codes JOIN a1 ON codes.vec_id = a1.vid
        |        WHERE a1.cid IN (SELECT cid FROM probed))
        |SELECT vec_id,
        |  round(list_cosine_similarity(c, (SELECT qc FROM qq)), 4) AS qsim
        |FROM mem ORDER BY qsim DESC, vec_id LIMIT 10""".stripMargin,

    // replays MaxSim from raw: the same md5→ascii dyadic
    // pseudo-embedding per distinct token (exact in both engines),
    // every (doc token × query token) inner product fixed-point
    // quantized, max per (doc, qtok), sum per doc
    "q197_late_interaction" ->
      """WITH qt AS (SELECT * FROM (VALUES (0, 'scan'), (1, 'filter'),
        |             (2, 'dup'), (3, 'zetadrive')) t(qtok_id, tok)),
        |qv AS (SELECT qtok_id,
        |         list_transform(range(8), j ->
        |           (ascii(substr(md5(tok), CAST(j*2+1 AS INTEGER), 1)) * 256
        |            + ascii(substr(md5(tok), CAST(j*2+2 AS INTEGER), 1)))
        |           / 16384.0 - 1.0) AS qvec
        |       FROM qt),
        |dt AS (SELECT doc_id,
        |         unnest(list_distinct(
        |           string_split(coalesce(text, ''), ' '))) AS tok
        |       FROM documents),
        |dv AS (SELECT doc_id,
        |         list_transform(range(8), j ->
        |           (ascii(substr(md5(tok), CAST(j*2+1 AS INTEGER), 1)) * 256
        |            + ascii(substr(md5(tok), CAST(j*2+2 AS INTEGER), 1)))
        |           / 16384.0 - 1.0) AS tv
        |       FROM dt),
        |mx AS (SELECT doc_id, qtok_id,
        |         max(CAST(floor(list_inner_product(tv, qvec) * 1e7 + 0.5)
        |           AS BIGINT)) AS m
        |       FROM dv, qv GROUP BY 1, 2)
        |SELECT doc_id, round(CAST(sum(m) AS BIGINT) / 1e7, 4) AS maxsim
        |FROM mx GROUP BY 1
        |ORDER BY maxsim DESC, doc_id LIMIT 20""".stripMargin,
    // FULL-probe pruned MaxSim is bit-identical to the brute scan by
    // construction (candidates = whole corpus) — q197's replay serves
    // unchanged; what this row adds is the pruned machinery (cell
    // fit, argmin assignment, probed-cell union, semi-join
    // restriction) executing under the same hash
    "q199_late_interaction_pruned" ->
      """WITH qt AS (SELECT * FROM (VALUES (0, 'scan'), (1, 'filter'),
        |             (2, 'dup'), (3, 'zetadrive')) t(qtok_id, tok)),
        |qv AS (SELECT qtok_id,
        |         list_transform(range(8), j ->
        |           (ascii(substr(md5(tok), CAST(j*2+1 AS INTEGER), 1)) * 256
        |            + ascii(substr(md5(tok), CAST(j*2+2 AS INTEGER), 1)))
        |           / 16384.0 - 1.0) AS qvec
        |       FROM qt),
        |dt AS (SELECT doc_id,
        |         unnest(list_distinct(
        |           string_split(coalesce(text, ''), ' '))) AS tok
        |       FROM documents),
        |dv AS (SELECT doc_id,
        |         list_transform(range(8), j ->
        |           (ascii(substr(md5(tok), CAST(j*2+1 AS INTEGER), 1)) * 256
        |            + ascii(substr(md5(tok), CAST(j*2+2 AS INTEGER), 1)))
        |           / 16384.0 - 1.0) AS tv
        |       FROM dt),
        |mx AS (SELECT doc_id, qtok_id,
        |         max(CAST(floor(list_inner_product(tv, qvec) * 1e7 + 0.5)
        |           AS BIGINT)) AS m
        |       FROM dv, qv GROUP BY 1, 2)
        |SELECT doc_id, round(CAST(sum(m) AS BIGINT) / 1e7, 4) AS maxsim
        |FROM mx GROUP BY 1
        |ORDER BY maxsim DESC, doc_id LIMIT 20""".stripMargin,

    // replays the greedy MMR trace from raw: exact cosine top-40
    // candidates, relevance and pairwise cosine (engine op order:
    // normalize per element, then inner product) quantized to 1e-7
    // fixed point, then a recursive CTE running the argmax per rank
    // (obj = 70*rel_fp - 30*maxSimToSelected_fp, ties to smallest id)
    "q200_mmr_rerank" ->
      """WITH RECURSIVE
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |      WHERE vec_id = 0),
        |cand AS (SELECT vec_id,
        |    round(list_cosine_similarity(embedding::DOUBLE[],
        |      (SELECT qv FROM q)), 4) AS sim,
        |    embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id <> 0
        |  ORDER BY sim DESC, vec_id LIMIT 40),
        |norm AS (SELECT vec_id, sim,
        |    CASE WHEN n > 0 THEN list_transform(v, x -> x / n)
        |         ELSE v END AS u
        |  FROM (SELECT vec_id, sim, v,
        |          sqrt(list_sum(list_transform(v, x -> x * x))) AS n
        |        FROM cand)),
        |relfp AS (SELECT vec_id, sim,
        |    CAST(floor(sim * 1e7 + 0.5) AS BIGINT) AS rfp
        |  FROM norm),
        |pair AS (SELECT a.vec_id AS i, b.vec_id AS j,
        |    CAST(floor(list_inner_product(a.u, b.u) * 1e7 + 0.5)
        |      AS BIGINT) AS sfp
        |  FROM norm a, norm b WHERE a.vec_id <> b.vec_id),
        |sel(rank, vec_id, obj, chosen) AS (
        |  (SELECT CAST(1 AS BIGINT), vec_id, 70 * rfp, [vec_id]
        |   FROM relfp ORDER BY 70 * rfp DESC, vec_id LIMIT 1)
        |  UNION ALL
        |  SELECT s.rank + 1, pick.vid, pick.obj,
        |         list_append(s.chosen, pick.vid)
        |  FROM sel s, LATERAL (
        |    SELECT c.vec_id AS vid,
        |           70 * c.rfp - 30 * (SELECT max(p.sfp) FROM pair p
        |                              WHERE p.i = c.vec_id
        |                                AND list_contains(s.chosen, p.j))
        |             AS obj
        |    FROM relfp c
        |    WHERE NOT list_contains(s.chosen, c.vec_id)
        |    ORDER BY obj DESC, c.vec_id LIMIT 1) pick
        |  WHERE s.rank < 15)
        |SELECT rank, sel.vec_id, relfp.sim,
        |  floor(obj / 100.0 / 1000.0 + 0.5) / 1e4 AS mmr
        |FROM sel JOIN relfp ON sel.vec_id = relfp.vec_id
        |ORDER BY rank""".stripMargin,

    // replays the SYNCED clone's generation from raw: waves 1∘2
    // composed over the bootstrap third (shift %11==3 by +0.25 unless
    // deleted, delete %13==7 unless wave 2 revived it, shift %17==2
    // by +0.5 — wave 2 wins), quantized by the engine's floor rule,
    // assigned by cosine argmin under the gen-0 model READ FROM THE
    // CLONE (a syncServing that failed to ship the model artifact
    // goes red here), pruned to the query's top-3 cells, int8 cosine
    // top-10 — the source's wave 3 and its vacuum must be invisible
    "q198_serving_sync_probe" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |qq AS (
        |  SELECT CASE WHEN s = 0 THEN list_transform(qv, x -> 0.0)
        |              ELSE list_transform(qv, x -> floor(x / s + 0.5))
        |         END AS qc
        |  FROM (SELECT qv, list_max(list_transform(qv, x -> abs(x))) / 127.0
        |          AS s FROM q)),
        |cents AS (SELECT centroid_id AS cid, cvec AS cv FROM
        |  read_parquet('{SCRATCH}/svs_dst_{SFHASH}/cents/gen=0/*.parquet')),
        |probed AS (SELECT cid FROM cents, q
        |           ORDER BY 1 - list_cosine_similarity(cv, qv), cid
        |           LIMIT 3),
        |live AS (SELECT vec_id,
        |    CASE WHEN vec_id % 17 = 2
        |         THEN list_transform(embedding, x -> CAST(x + 0.5 AS FLOAT))
        |         WHEN vec_id % 11 = 3 AND vec_id % 13 <> 7
        |         THEN list_transform(embedding, x -> CAST(x + 0.25 AS FLOAT))
        |         ELSE embedding END AS v
        |  FROM embeddings
        |  WHERE vec_id <> 0 AND vec_id % 3 = 2
        |    AND (vec_id % 13 <> 7 OR vec_id % 17 = 2)),
        |a AS (SELECT live.vec_id AS vid,
        |        arg_min(cents.cid,
        |          1 - list_cosine_similarity(live.v::DOUBLE[], cents.cv))
        |          AS cid
        |      FROM live, cents GROUP BY live.vec_id),
        |z AS (SELECT vec_id,
        |    CASE WHEN s = 0 THEN list_transform(vd, x -> 0.0)
        |         ELSE list_transform(vd, x -> floor(x / s + 0.5)) END AS codes
        |  FROM (SELECT vec_id, v::DOUBLE[] AS vd,
        |          list_max(list_transform(v::DOUBLE[], x -> abs(x)))
        |            / 127.0 AS s
        |        FROM live))
        |SELECT vec_id,
        |  round(list_cosine_similarity(codes, (SELECT qc FROM qq)), 4)
        |    AS qsim
        |FROM z JOIN a ON z.vec_id = a.vid
        |WHERE a.cid IN (SELECT cid FROM probed)
        |ORDER BY qsim DESC, vec_id LIMIT 10""".stripMargin,

    // the q92 watermark algebra over VECTOR versions (admission by
    // per-wave watermark, winner by max version + min-op tiebreak,
    // eviction by final watermark) composed with the q186 int8 probe
    // arithmetic: the settled corpus = bootstrap third, minus evicted
    // delete-winners, with evicted upsert-winners' wandered vectors —
    // quantized, assigned and scored under the WRITTEN gen-0 model
    "q192_vector_eventtime_crud" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |qq AS (
        |  SELECT CASE WHEN s = 0 THEN list_transform(qv, x -> 0.0)
        |              ELSE list_transform(qv, x -> floor(x / s + 0.5))
        |         END AS qc
        |  FROM (SELECT qv, list_max(list_transform(qv, x -> abs(x))) / 127.0
        |          AS s FROM q)),
        |boot AS (SELECT vec_id, embedding AS v FROM embeddings
        |         WHERE vec_id <> 0 AND vec_id % 3 = 2),
        |w1 AS (SELECT vec_id,
        |         list_transform(v, x -> CAST(x + 0.5 AS FLOAT)) AS emb,
        |         CAST(1 AS BIGINT) AS vv,
        |         1700000000000 + vec_id * 1000 AS tsms, 1 AS wave,
        |         'upsert' AS op
        |       FROM boot WHERE vec_id % 10 = 0),
        |w2 AS (SELECT vec_id,
        |         list_transform(v, x -> CAST(x + 1.5 AS FLOAT)) AS emb,
        |         CAST(2 AS BIGINT) AS vv,
        |         1700000000000 + vec_id * 1000 + 600000 AS tsms, 2 AS wave,
        |         'upsert' AS op
        |       FROM boot WHERE vec_id % 20 = 0),
        |w2d AS (SELECT vec_id, v AS emb, CAST(3 AS BIGINT) AS vv,
        |          1700000000000 + vec_id * 1000 + 350000 AS tsms, 2 AS wave,
        |          'delete' AS op
        |        FROM boot WHERE vec_id % 50 = 0),
        |adv AS (SELECT CAST(999999999 AS BIGINT) AS vec_id,
        |          (SELECT embedding FROM embeddings WHERE vec_id = 0)
        |            AS emb,
        |          CAST(1 AS BIGINT) AS vv,
        |          CAST(1700000000000 + 1000000000 AS BIGINT) AS tsms,
        |          3 AS wave, 'upsert' AS op),
        |hl AS (SELECT CAST(999999998 AS BIGINT) AS vec_id,
        |         (SELECT embedding FROM embeddings WHERE vec_id = 0)
        |           AS emb,
        |         CAST(1 AS BIGINT) AS vv,
        |         (SELECT max(tsms) FROM w1) - 60000 AS tsms,
        |         2 AS wave, 'upsert' AS op),
        |u AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2
        |      UNION ALL SELECT * FROM w2d UNION ALL SELECT * FROM adv
        |      UNION ALL SELECT * FROM hl),
        |wavemax AS (SELECT wave, max(tsms) AS wmax FROM u GROUP BY 1),
        |wmk AS (SELECT wave, max(wmax) OVER (ORDER BY wave
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          - 60000 AS wm
        |        FROM wavemax),
        |adm AS (SELECT u.* FROM u JOIN wmk ON u.wave = wmk.wave
        |        WHERE wmk.wm IS NULL OR u.tsms > wmk.wm),
        |fwm AS (SELECT max(tsms) - 60000 AS f FROM u),
        |mts AS (SELECT vec_id, max(tsms) AS maxts FROM adm GROUP BY 1),
        |best AS (SELECT vec_id, max(vv) AS bv FROM adm GROUP BY 1),
        |win0 AS (SELECT DISTINCT adm.vec_id, adm.emb, adm.vv, adm.op
        |         FROM adm JOIN best ON adm.vec_id = best.vec_id
        |                           AND adm.vv = best.bv),
        |tb AS (SELECT vec_id, min(op) AS mo FROM win0 GROUP BY 1),
        |winev AS (SELECT w.vec_id, w.emb, w.op FROM win0 w
        |          JOIN tb ON w.vec_id = tb.vec_id AND w.op = tb.mo
        |          JOIN mts m ON w.vec_id = m.vec_id
        |          WHERE (m.maxts + 60000 + 1) < (SELECT f FROM fwm)),
        |fin AS (SELECT b.vec_id, coalesce(we.emb, b.v) AS v
        |        FROM boot b LEFT JOIN winev we USING (vec_id)
        |        WHERE we.op IS NULL OR we.op = 'upsert'
        |        UNION ALL
        |        SELECT w.vec_id, w.emb AS v FROM winev w
        |        WHERE w.op = 'upsert'
        |          AND w.vec_id NOT IN (SELECT vec_id FROM boot)),
        |cq0 AS (SELECT centroid_id AS cid, cvec AS cv FROM
        |  read_parquet('{SCRATCH}/veq_etcrud_{SFHASH}/cents/gen=0/*.parquet')),
        |pq0 AS (SELECT cid FROM cq0, q
        |        ORDER BY 1 - list_cosine_similarity(cv, qv), cid LIMIT 3),
        |a0 AS (SELECT fin.vec_id AS vid,
        |    arg_min(cq0.cid,
        |      1 - list_cosine_similarity(fin.v::DOUBLE[], cq0.cv)) AS cid
        |  FROM fin, cq0 GROUP BY fin.vec_id),
        |z0 AS (
        |  SELECT vec_id,
        |    CASE WHEN s = 0 THEN list_transform(vd, x -> 0.0)
        |         ELSE list_transform(vd, x -> floor(x / s + 0.5))
        |    END AS codes
        |  FROM (SELECT vec_id, v::DOUBLE[] AS vd,
        |          list_max(list_transform(v::DOUBLE[], x -> abs(x)))
        |            / 127.0 AS s
        |        FROM fin))
        |SELECT vec_id, round(list_cosine_similarity(codes,
        |    (SELECT qc FROM qq)), 4) AS score
        |FROM z0 JOIN a0 ON z0.vec_id = a0.vid
        |WHERE a0.cid IN (SELECT cid FROM pq0)
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    // q192's settle algebra composed with the q187/q190 PQ replay:
    // the settled corpus re-derived (admission > watermark, max-v
    // winner, min-op tiebreak, eviction), then unit-normalized,
    // argmin-encoded through the WRITTEN gen-0 codebooks, and
    // integer-ADC scored in the gen-0 cells' probed slice
    "q194_vector_eventtime_crud_pq" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |boot AS (SELECT vec_id, embedding AS v FROM embeddings
        |         WHERE vec_id <> 0 AND vec_id % 3 = 2),
        |w1 AS (SELECT vec_id,
        |         list_transform(v, x -> CAST(x + 0.5 AS FLOAT)) AS emb,
        |         CAST(1 AS BIGINT) AS vv,
        |         1700000000000 + vec_id * 1000 AS tsms, 1 AS wave,
        |         'upsert' AS op
        |       FROM boot WHERE vec_id % 10 = 0),
        |w2 AS (SELECT vec_id,
        |         list_transform(v, x -> CAST(x + 1.5 AS FLOAT)) AS emb,
        |         CAST(2 AS BIGINT) AS vv,
        |         1700000000000 + vec_id * 1000 + 600000 AS tsms, 2 AS wave,
        |         'upsert' AS op
        |       FROM boot WHERE vec_id % 20 = 0),
        |w2d AS (SELECT vec_id, v AS emb, CAST(3 AS BIGINT) AS vv,
        |          1700000000000 + vec_id * 1000 + 350000 AS tsms, 2 AS wave,
        |          'delete' AS op
        |        FROM boot WHERE vec_id % 50 = 0),
        |adv AS (SELECT CAST(999999999 AS BIGINT) AS vec_id,
        |          (SELECT embedding FROM embeddings WHERE vec_id = 0)
        |            AS emb,
        |          CAST(1 AS BIGINT) AS vv,
        |          CAST(1700000000000 + 1000000000 AS BIGINT) AS tsms,
        |          3 AS wave, 'upsert' AS op),
        |hl AS (SELECT CAST(999999998 AS BIGINT) AS vec_id,
        |         (SELECT embedding FROM embeddings WHERE vec_id = 0)
        |           AS emb,
        |         CAST(1 AS BIGINT) AS vv,
        |         (SELECT max(tsms) FROM w1) - 60000 AS tsms,
        |         2 AS wave, 'upsert' AS op),
        |u AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2
        |      UNION ALL SELECT * FROM w2d UNION ALL SELECT * FROM adv
        |      UNION ALL SELECT * FROM hl),
        |wavemax AS (SELECT wave, max(tsms) AS wmax FROM u GROUP BY 1),
        |wmk AS (SELECT wave, max(wmax) OVER (ORDER BY wave
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          - 60000 AS wm
        |        FROM wavemax),
        |adm AS (SELECT u.* FROM u JOIN wmk ON u.wave = wmk.wave
        |        WHERE wmk.wm IS NULL OR u.tsms > wmk.wm),
        |fwm AS (SELECT max(tsms) - 60000 AS f FROM u),
        |mts AS (SELECT vec_id, max(tsms) AS maxts FROM adm GROUP BY 1),
        |best AS (SELECT vec_id, max(vv) AS bv FROM adm GROUP BY 1),
        |win0 AS (SELECT DISTINCT adm.vec_id, adm.emb, adm.vv, adm.op
        |         FROM adm JOIN best ON adm.vec_id = best.vec_id
        |                           AND adm.vv = best.bv),
        |tb AS (SELECT vec_id, min(op) AS mo FROM win0 GROUP BY 1),
        |winev AS (SELECT w.vec_id, w.emb, w.op FROM win0 w
        |          JOIN tb ON w.vec_id = tb.vec_id AND w.op = tb.mo
        |          JOIN mts m ON w.vec_id = m.vec_id
        |          WHERE (m.maxts + 60000 + 1) < (SELECT f FROM fwm)),
        |fin AS (SELECT b.vec_id, coalesce(we.emb, b.v) AS v
        |        FROM boot b LEFT JOIN winev we USING (vec_id)
        |        WHERE we.op IS NULL OR we.op = 'upsert'
        |        UNION ALL
        |        SELECT w.vec_id, w.emb AS v FROM winev w
        |        WHERE w.op = 'upsert'
        |          AND w.vec_id NOT IN (SELECT vec_id FROM boot)),
        |cp0 AS (SELECT centroid_id AS cid, cvec AS cv FROM
        |  read_parquet('{SCRATCH}/veq_etcrud_pq_{SFHASH}/cents/gen=0/*.parquet')),
        |pp0 AS (SELECT cid FROM cp0, q
        |        ORDER BY 1 - list_cosine_similarity(cv, qv), cid LIMIT 3),
        |cb0 AS (SELECT subspace, code, cvec FROM
        |  read_parquet('{SCRATCH}/veq_etcrud_pq_{SFHASH}/books/gen=0/*.parquet')),
        |ip0 AS (SELECT subspace, code,
        |    CAST(floor(list_inner_product(cvec,
        |      qv[(subspace * 8 + 1):(subspace * 8 + 8)]) * 1e7 + 0.5)
        |      AS BIGINT) AS ip_fp
        |  FROM cb0, q),
        |b0 AS (SELECT fin.vec_id AS vid,
        |    arg_min(cp0.cid,
        |      1 - list_cosine_similarity(fin.v::DOUBLE[], cp0.cv)) AS cid
        |  FROM fin, cp0 GROUP BY fin.vec_id),
        |m0 AS (SELECT fin.vec_id,
        |    list_transform(fin.v::DOUBLE[],
        |      x -> x / sqrt(list_inner_product(fin.v::DOUBLE[],
        |                                       fin.v::DOUBLE[]))) AS uv
        |  FROM fin JOIN b0 ON fin.vec_id = b0.vid
        |  WHERE b0.cid IN (SELECT cid FROM pp0)),
        |e0 AS (SELECT vec_id, subspace, code FROM (
        |    SELECT m0.vec_id, cb0.subspace, cb0.code,
        |      row_number() OVER (PARTITION BY m0.vec_id, cb0.subspace
        |        ORDER BY list_distance(cb0.cvec,
        |          uv[(cb0.subspace * 8 + 1):(cb0.subspace * 8 + 8)]),
        |          cb0.code) AS rn
        |    FROM m0, cb0) WHERE rn = 1)
        |SELECT vec_id,
        |  round(CAST(sum(ip_fp) AS BIGINT) / 1e7, 4) AS score
        |FROM e0 JOIN ip0 USING (subspace, code)
        |GROUP BY vec_id ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    // the crash-recovered state from raw: the drifted third minus the
    // recovery wave's deletes, quantized/assigned/scored under the
    // WRITTEN generation-1 centroids — the model the recovered
    // decision produced; a half-applied recovery diverges
    "q193_recenter_crash_recovery" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |qq AS (
        |  SELECT CASE WHEN s = 0 THEN list_transform(qv, x -> 0.0)
        |              ELSE list_transform(qv, x -> floor(x / s + 0.5))
        |         END AS qc
        |  FROM (SELECT qv, list_max(list_transform(qv, x -> abs(x))) / 127.0
        |          AS s FROM q)),
        |fin AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(x + (vec_id % 5) * 3.0 AS FLOAT)) AS v
        |  FROM embeddings
        |  WHERE vec_id <> 0 AND vec_id % 3 = 0 AND vec_id % 41 <> 3),
        |c1 AS (SELECT centroid_id AS cid, cvec AS cv FROM
        |  read_parquet('{SCRATCH}/vcrash_q_{SFHASH}/cents/gen=1/*.parquet')),
        |pq1 AS (SELECT cid FROM c1, q
        |        ORDER BY 1 - list_cosine_similarity(cv, qv), cid LIMIT 3),
        |a1 AS (SELECT fin.vec_id AS vid,
        |    arg_min(c1.cid,
        |      1 - list_cosine_similarity(fin.v::DOUBLE[], c1.cv)) AS cid
        |  FROM fin, c1 GROUP BY fin.vec_id),
        |z1 AS (
        |  SELECT vec_id,
        |    CASE WHEN s = 0 THEN list_transform(vd, x -> 0.0)
        |         ELSE list_transform(vd, x -> floor(x / s + 0.5))
        |    END AS codes
        |  FROM (SELECT vec_id, v::DOUBLE[] AS vd,
        |          list_max(list_transform(v::DOUBLE[], x -> abs(x)))
        |            / 127.0 AS s
        |        FROM fin))
        |SELECT vec_id, round(list_cosine_similarity(codes,
        |    (SELECT qc FROM qq)), 4) AS score
        |FROM z1 JOIN a1 ON z1.vec_id = a1.vid
        |WHERE a1.cid IN (SELECT cid FROM pq1)
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    // q115's oracle verbatim again: the TIERED merge — folds, pair
    // renumbering, retained tombstones, summed stats partials — must
    // also be invisible to scoring over the same final corpus state
    "q134_bm25_tiered_merge" ->
      """WITH fin AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 4 THEN c
        |         WHEN doc_id % 7 = 0 THEN c || ' upd'
        |         ELSE c END AS text
        |  FROM (SELECT doc_id, coalesce(text, '') AS c FROM documents)
        |  WHERE NOT (doc_id % 5 <> 4 AND doc_id % 7 <> 0
        |             AND doc_id % 11 = 3)),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM fin),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM toks),
        |q AS (SELECT * FROM (VALUES (0, 'sort merge join upd'),
        |        (1, 'query filter scan')) v(qid, qtext)),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' '))
        |         AS term FROM q),
        |scored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
        |  CROSS JOIN stats
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |      FROM scored)
        |SELECT qid, doc_id, score FROM r WHERE rn <= 12
        |ORDER BY qid, score DESC, doc_id""".stripMargin,

    // q126's global-cumsum replay extended to the PAYLOAD: per
    // (doc × touched sequence) token slice, concatenated in corpus
    // order — compared as the final assembled string per sequence
    "q135_packed_shards" ->
      """WITH d AS (SELECT doc_id, source,
        |    string_split(coalesce(text, ''), ' ') AS t,
        |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
        |      AS n
        |  FROM documents),
        |o AS (SELECT *, CAST(coalesce(sum(n) OVER (
        |      ORDER BY source, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS off
        |  FROM d WHERE n > 0),
        |e AS (SELECT t, off, n,
        |    unnest(generate_series(off // 64, (off + n - 1) // 64))
        |      AS seq_id
        |  FROM o),
        |s AS (SELECT seq_id, off,
        |    list_slice(t,
        |      CAST(greatest(seq_id * 64, off) - off + 1 AS BIGINT),
        |      CAST(least((seq_id + 1) * 64, off + n) - off AS BIGINT))
        |      AS sl
        |  FROM e)
        |SELECT seq_id, seq_id // 100 AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(len(sl)) AS BIGINT) AS n_tokens,
        |  string_agg(array_to_string(sl, ' '), ' ' ORDER BY off)
        |    AS payload
        |FROM s GROUP BY 1, 2
        |ORDER BY seq_id""".stripMargin,

    // q123's replay on the POST-LOOP artifacts: the builder's
    // refresh → breach → recenter → rebuild must leave an index +
    // centroid pair whose per-cell stats DuckDB reproduces bit-for-bit
    // the recentered index re-derived FROM RAW under the WRITTEN
    // recentered centroids (the q186 mechanism — every wave of the
    // loop now commits by MVCC, so the live cells sit under sealed
    // _rev dirs a plain glob cannot compose): final corpus = wave-1
    // nudge (+0.001f on %97==1) then wave-2 drift (+cos(j) on %3==0),
    // int8-quantized and cell-assigned, then the same per-cell
    // fixed-point drift-stat algebra as before.
    "q136_ivf_drift_loop" ->
      """WITH cents AS (SELECT centroid_id AS cid, cvec AS cv
        |  FROM read_parquet('{SCRATCH}/ivfloop_cents_{SFHASH}/*.parquet')),
        |snap AS (SELECT vec_id,
        |    CASE WHEN vec_id % 3 = 0
        |         THEN list_transform(v1, (x, i) ->
        |                CAST(x + cos(CAST(i - 1 AS DOUBLE)) AS FLOAT))
        |         ELSE v1 END AS v
        |  FROM (SELECT vec_id,
        |          CASE WHEN vec_id % 97 = 1
        |               THEN list_transform(embedding,
        |                      x -> x + 0.001::FLOAT)
        |               ELSE embedding END AS v1
        |        FROM embeddings WHERE vec_id <> 0)),
        |asn AS (SELECT snap.vec_id AS vid,
        |    arg_min(cents.cid,
        |      1 - list_cosine_similarity(snap.v::DOUBLE[], cents.cv))
        |      AS cid
        |  FROM snap, cents GROUP BY snap.vec_id),
        |codes AS (
        |  SELECT vec_id,
        |    CASE WHEN s = 0 THEN list_transform(vd, x -> 0.0)
        |         ELSE list_transform(vd, x -> floor(x / s + 0.5))
        |    END AS codes
        |  FROM (SELECT vec_id, v::DOUBLE[] AS vd,
        |          list_max(list_transform(v::DOUBLE[], x -> abs(x)))
        |            / 127.0 AS s
        |        FROM snap)),
        |cd AS (SELECT asn.cid,
        |    CAST(floor((1 - list_cosine_similarity(codes.codes, cv))
        |         * 1e7 + 0.5) AS BIGINT) AS cd_fp
        |  FROM codes JOIN asn ON codes.vec_id = asn.vid
        |  JOIN cents ON asn.cid = cents.cid),
        |cells AS (SELECT cid AS centroid_id, count(*) AS n,
        |    CAST(sum(cd_fp) AS BIGINT) AS cd_fp_sum
        |  FROM cd GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
        |    CAST(max(n) AS BIGINT) AS maxn, count(*) AS cells
        |  FROM cells)
        |SELECT centroid_id, n, cd_fp_sum,
        |  round(cd_fp_sum / n / 1e7, 4) AS mean_cd,
        |  (maxn * cells * 100) // tot AS skew_x100
        |FROM cells CROSS JOIN tot
        |ORDER BY centroid_id""".stripMargin,

    // the full tokenize→id→pack tail replayed off the written
    // segmentation: piece ids from a plain rank window (the
    // contiguousIds contract), per-doc ordered id streams via aligned
    // unnest/generate_subscripts, then q135's cumsum + slice algebra
    // over id lists
    "q137_token_id_shards" ->
      """WITH seg AS (SELECT word, syms FROM
        |    read_parquet('{SCRATCH}/idshard_vocab_{SFHASH}/*.parquet')),
        |pv AS (SELECT piece, row_number() OVER (ORDER BY piece) - 1
        |         AS id
        |  FROM (SELECT DISTINCT unnest(syms) AS piece FROM seg)),
        |w0 AS (SELECT doc_id, source,
        |    unnest(string_split(coalesce(text, ''), ' ')) AS word,
        |    generate_subscripts(
        |      string_split(coalesce(text, ''), ' '), 1) AS wpos
        |  FROM documents),
        |w AS (SELECT * FROM w0 WHERE word <> ''),
        |p AS (SELECT doc_id, source, wpos,
        |    unnest(syms) AS piece,
        |    generate_subscripts(syms, 1) AS ppos
        |  FROM w JOIN seg USING (word)),
        |da AS (SELECT doc_id, source,
        |    list(id ORDER BY wpos, ppos) AS ids,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM p JOIN pv USING (piece)
        |  GROUP BY 1, 2),
        |o AS (SELECT *, CAST(coalesce(sum(n) OVER (
        |      ORDER BY source, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS off
        |  FROM da WHERE n > 0),
        |e AS (SELECT ids, off, n,
        |    unnest(generate_series(off // 64, (off + n - 1) // 64))
        |      AS seq_id
        |  FROM o),
        |sl AS (SELECT seq_id, off,
        |    list_slice(ids,
        |      CAST(greatest(seq_id * 64, off) - off + 1 AS BIGINT),
        |      CAST(least((seq_id + 1) * 64, off + n) - off AS BIGINT))
        |      AS s
        |  FROM e)
        |SELECT seq_id, seq_id // 100 AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(len(s)) AS BIGINT) AS n_tokens,
        |  string_agg(array_to_string(s, ' '), ' ' ORDER BY off)
        |    AS payload
        |FROM sl GROUP BY 1, 2
        |ORDER BY seq_id""".stripMargin,

    // phrase semantics replayed WITHOUT the index: a phrase match is
    // a run of consecutive tokens equal to the phrase list — DuckDB
    // slices the token list at every candidate start (1-based; the
    // engine's positions are 0-based, hence the −1)
    "q138_phrase_search" ->
      """WITH d AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t
        |  FROM documents),
        |bi AS (SELECT doc_id, 'sort merge' AS phrase,
        |    list_filter(generate_series(1, len(t) - 1),
        |      p -> t[p:p+1] = ['sort', 'merge']) AS starts
        |  FROM d WHERE len(t) >= 2),
        |tri AS (SELECT doc_id, 'hash value table' AS phrase,
        |    list_filter(generate_series(1, len(t) - 2),
        |      p -> t[p:p+2] = ['hash', 'value', 'table']) AS starts
        |  FROM d WHERE len(t) >= 3),
        |u AS (SELECT * FROM bi UNION ALL SELECT * FROM tri)
        |SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_matches,
        |  CAST(starts[1] - 1 AS BIGINT) AS first_pos, phrase
        |FROM u WHERE len(starts) > 0
        |ORDER BY phrase, doc_id""".stripMargin,

    // proximity semantics replayed brute-force: per-term position
    // lists from the token stream, min over every occurrence
    // combination of (greatest − least) — the engine's linear
    // minimum-window scan must equal this exactly
    "q139_proximity_search" ->
      """WITH d AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t
        |  FROM documents),
        |p2 AS (SELECT doc_id,
        |    list_filter(generate_series(1, len(t)), p -> t[p] = 'sort')
        |      AS pa,
        |    list_filter(generate_series(1, len(t)), p -> t[p] = 'merge')
        |      AS pb
        |  FROM d),
        |m2 AS (SELECT doc_id, 'sort merge w5' AS q,
        |    list_min(flatten(list_transform(pa,
        |      x -> list_transform(pb, y -> abs(x - y))))) AS ms
        |  FROM p2 WHERE len(pa) > 0 AND len(pb) > 0),
        |p3 AS (SELECT doc_id,
        |    list_filter(generate_series(1, len(t)), p -> t[p] = 'query')
        |      AS pa,
        |    list_filter(generate_series(1, len(t)), p -> t[p] = 'table')
        |      AS pb,
        |    list_filter(generate_series(1, len(t)), p -> t[p] = 'join')
        |      AS pc
        |  FROM d),
        |m3 AS (SELECT doc_id, 'query table join w6' AS q,
        |    list_min(flatten(flatten(list_transform(pa,
        |      x -> list_transform(pb, y -> list_transform(pc,
        |        z -> greatest(x, y, z) - least(x, y, z))))))) AS ms
        |  FROM p3 WHERE len(pa) > 0 AND len(pb) > 0 AND len(pc) > 0),
        |u AS (SELECT * FROM m2 WHERE ms <= 5
        |      UNION ALL SELECT * FROM m3 WHERE ms <= 6)
        |SELECT doc_id, CAST(ms AS BIGINT) AS min_span, q
        |FROM u ORDER BY q, doc_id""".stripMargin,

    // prefix-term semantics replayed from the token stream: distinct
    // matched terms + total occurrences per doc for tokens starting
    // with the prefix
    "q140_prefix_search" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(coalesce(text, ''), ' ')) AS term
        |  FROM documents)
        |SELECT doc_id, count(DISTINCT term) AS n_terms,
        |  count(*) AS n_occurrences
        |FROM tok WHERE term LIKE 'st%'
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the single-task global cumsum window the two-pass prefix sum
    // must reproduce exactly, then the same integer interval algebra
    "q126_sequence_pack" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
        |      AS n
        |  FROM documents),
        |o AS (SELECT *, CAST(coalesce(sum(n) OVER (
        |      ORDER BY source, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS off
        |  FROM d WHERE n > 0),
        |e AS (SELECT off, n,
        |    unnest(generate_series(off // 64, (off + n - 1) // 64))
        |      AS seq_id
        |  FROM o)
        |SELECT seq_id,
        |  CAST(sum(least((seq_id + 1) * 64, off + n)
        |           - greatest(seq_id * 64, off)) AS BIGINT) AS n_tokens,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN off >= seq_id * 64 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_starts,
        |  CAST(sum(CASE WHEN off >= seq_id * 64
        |                 AND off + n <= (seq_id + 1) * 64
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_full_docs
        |FROM e GROUP BY seq_id ORDER BY seq_id""".stripMargin,

    // same chunk-count ceiling, same token-slice reassembly (DuckDB
    // list slices are 1-based inclusive, matching Spark's slice())
    "q127_chunk_overlap" ->
      """WITH d AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t
        |  FROM documents),
        |n AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM d),
        |k AS (SELECT *, CASE WHEN n <= 12 THEN 1
        |        ELSE (n - 12 + 8 - 1) // 8 + 1 END AS nk FROM n),
        |e AS (SELECT doc_id, t, n,
        |    unnest(generate_series(0, nk - 1)) AS chunk_idx FROM k)
        |SELECT doc_id, chunk_idx,
        |  CAST(chunk_idx * 8 AS BIGINT) AS start_tok,
        |  CAST(least(12, n - chunk_idx * 8) AS BIGINT) AS n_chunk_toks,
        |  array_to_string(t[(chunk_idx * 8 + 1):
        |    (chunk_idx * 8 + least(12, n - chunk_idx * 8))], ' ')
        |    AS chunk_text
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    // the encode join replayed off the fitted segmentation table the
    // query wrote to scratch — DuckDB re-derives every per-source stat
    // from (word counts × pieces-per-word); the fit itself is pinned
    // by BpeTokenizerSpec's reference implementation + the in-builder
    // round-trip require
    "q128_bpe_encode" ->
      """WITH w0 AS (SELECT source,
        |    unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |w AS (SELECT source, word FROM w0 WHERE word <> ''),
        |v AS (SELECT word, CAST(len(syms) AS BIGINT) AS k
        |  FROM read_parquet('{SCRATCH}/bpe_vocab_{SFHASH}/*.parquet'))
        |SELECT source, count(*) AS n_words,
        |  CAST(sum(k) AS BIGINT) AS n_pieces,
        |  count(DISTINCT word) AS n_distinct_words
        |FROM w JOIN v USING (word)
        |GROUP BY source ORDER BY source""".stripMargin,

    // the ADC ranking replayed off the index's own parquet: per-
    // subspace fixed-point inner-product lookup table from the written
    // codebooks × the raw query, integer lookup sums over the written
    // codes — identical floor(ip·1e7 + 0.5) in both engines, so float
    // association never enters the hash
    "q129_pq_probe" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |cb AS (SELECT subspace, code, cvec
        |  FROM read_parquet('{SCRATCH}/pq_index_{SFHASH}/codebooks/*.parquet')),
        |ip AS (SELECT subspace, code,
        |    CAST(floor(list_inner_product(cvec,
        |      qv[(subspace * 8 + 1):(subspace * 8 + 8)]) * 1e7 + 0.5)
        |      AS BIGINT) AS ip_fp
        |  FROM cb, q),
        |cx AS (SELECT vec_id, subspace, codes[subspace + 1] AS code
        |  FROM (SELECT vec_id, codes,
        |          unnest(generate_series(0, 7)) AS subspace
        |        FROM read_parquet(
        |          '{SCRATCH}/pq_index_{SFHASH}/codes/*.parquet')))
        |SELECT vec_id,
        |  round(CAST(sum(ip_fp) AS BIGINT) / 1e7, 4) AS adc_score
        |FROM cx JOIN ip USING (subspace, code)
        |GROUP BY vec_id ORDER BY adc_score DESC, vec_id
        |LIMIT 10""".stripMargin,

    // q129's ADC arithmetic behind q90's pruning: centroid ranking +
    // partition filter replayed off the index's own layout, then the
    // same integer lookup sums
    "q130_ivfpq_probe" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |cents AS (SELECT centroid_id AS cid, cvec AS cv
        |  FROM read_parquet('{SCRATCH}/ivfpq_cents_{SFHASH}/*.parquet')),
        |probed AS (SELECT cid FROM cents, q
        |           ORDER BY 1 - list_cosine_similarity(cv, qv), cid
        |           LIMIT 3),
        |cb AS (SELECT subspace, code, cvec
        |  FROM read_parquet(
        |    '{SCRATCH}/ivfpq_index_{SFHASH}/codebooks/*.parquet')),
        |ip AS (SELECT subspace, code,
        |    CAST(floor(list_inner_product(cvec,
        |      qv[(subspace * 8 + 1):(subspace * 8 + 8)]) * 1e7 + 0.5)
        |      AS BIGINT) AS ip_fp
        |  FROM cb, q),
        |cx AS (SELECT vec_id, subspace, codes[subspace + 1] AS code
        |  FROM (SELECT vec_id, codes,
        |          unnest(generate_series(0, 7)) AS subspace
        |        FROM read_parquet(
        |            '{SCRATCH}/ivfpq_index_{SFHASH}/codes/*/*.parquet',
        |            hive_partitioning = 1)
        |        WHERE CAST(centroid_id AS BIGINT) IN
        |          (SELECT cid FROM probed)))
        |SELECT vec_id,
        |  round(CAST(sum(ip_fp) AS BIGINT) / 1e7, 4) AS adc_score
        |FROM cx JOIN ip USING (subspace, code)
        |GROUP BY vec_id ORDER BY adc_score DESC, vec_id
        |LIMIT 10""".stripMargin,

    // q115's oracle once more: the diff-driven recrawl wave
    // (tombstones + fresh segment + tiered fold) must land the index
    // on the identical final corpus state the direct scan computes
    "q142_bm25_recrawl" ->
      """WITH fin AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 4 THEN c
        |         WHEN doc_id % 7 = 0 THEN c || ' upd'
        |         ELSE c END AS text
        |  FROM (SELECT doc_id, coalesce(text, '') AS c FROM documents)
        |  WHERE NOT (doc_id % 5 <> 4 AND doc_id % 7 <> 0
        |             AND doc_id % 11 = 3)),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM fin),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM toks),
        |q AS (SELECT * FROM (VALUES (0, 'sort merge join upd'),
        |        (1, 'query filter scan')) v(qid, qtext)),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' '))
        |         AS term FROM q),
        |scored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
        |  CROSS JOIN stats
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |      FROM scored)
        |SELECT qid, doc_id, score FROM r WHERE rn <= 12
        |ORDER BY qid, score DESC, doc_id""".stripMargin,

    // q142's direct-scan oracle once more: the snapshot-free upsert
    // wave must land the index on the identical final corpus state —
    // including the stats correction whose old-dl now comes from the
    // index's own postings instead of a snapshot
    "q146_bm25_upsert_wave" ->
      """WITH fin AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 4 THEN c
        |         WHEN doc_id % 7 = 0 THEN c || ' upd'
        |         ELSE c END AS text
        |  FROM (SELECT doc_id, coalesce(text, '') AS c FROM documents)
        |  WHERE NOT (doc_id % 5 <> 4 AND doc_id % 7 <> 0
        |             AND doc_id % 11 = 3)),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM fin),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM toks),
        |q AS (SELECT * FROM (VALUES (0, 'sort merge join upd'),
        |        (1, 'query filter scan')) v(qid, qtext)),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' '))
        |         AS term FROM q),
        |scored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
        |  CROSS JOIN stats
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |      FROM scored)
        |SELECT qid, doc_id, score FROM r WHERE rn <= 12
        |ORDER BY qid, score DESC, doc_id""".stripMargin,

    // fuzzy-term semantics replayed from the token stream: DuckDB's
    // levenshtein must agree with Spark's term for term
    "q148_fuzzy_search" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(coalesce(text, ''), ' ')) AS term
        |  FROM documents),
        |f1 AS (SELECT doc_id, count(DISTINCT term) AS n_terms,
        |    count(*) AS n_occurrences, 'sort~1' AS q
        |  FROM tok WHERE levenshtein(term, 'sort') <= 1
        |  GROUP BY doc_id),
        |f2 AS (SELECT doc_id, count(DISTINCT term) AS n_terms,
        |    count(*) AS n_occurrences, 'tble~1' AS q
        |  FROM tok WHERE levenshtein(term, 'tble') <= 1
        |  GROUP BY doc_id)
        |SELECT * FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2)
        |ORDER BY q, doc_id""".stripMargin,

    // boolean-query semantics replayed from the token stream with the
    // q115 fixed-point BM25 arithmetic: must = HAVING all-distinct
    // count, mustNot = NOT IN on the term's doc set, should = plain
    // membership; same rounded score, same (score DESC, id) cut
    "q149_boolean_search" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf
        |        WHERE term IN ('sort', 'merge', 'query', 'filter')
        |        GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM tok),
        |b1 AS (
        |  SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('sort', 'merge')
        |  GROUP BY 1
        |  HAVING count(DISTINCT term) = 2),
        |b1f AS (SELECT doc_id, score, '+sort +merge -scan' AS q
        |  FROM b1 WHERE doc_id NOT IN
        |    (SELECT doc_id FROM tf WHERE term = 'scan')
        |  ORDER BY score DESC, doc_id LIMIT 15),
        |b2 AS (
        |  SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score,
        |    'query filter' AS q
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('query', 'filter')
        |  GROUP BY 1
        |  ORDER BY score DESC, doc_id LIMIT 15)
        |SELECT q, doc_id, score FROM
        |  (SELECT * FROM b1f UNION ALL
        |   SELECT doc_id, score, q FROM b2)
        |ORDER BY q, score DESC, doc_id""".stripMargin,

    // wildcard semantics replayed from the token stream with the same
    // LIKE translation (* → %, ? → _)
    "q151_wildcard_search" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(coalesce(text, ''), ' ')) AS term
        |  FROM documents),
        |f1 AS (SELECT doc_id, count(DISTINCT term) AS n_terms,
        |    count(*) AS n_occurrences, 's*' AS q
        |  FROM tok WHERE term LIKE 's%' GROUP BY doc_id),
        |f2 AS (SELECT doc_id, count(DISTINCT term) AS n_terms,
        |    count(*) AS n_occurrences, '*er' AS q
        |  FROM tok WHERE term LIKE '%er' GROUP BY doc_id),
        |f3 AS (SELECT doc_id, count(DISTINCT term) AS n_terms,
        |    count(*) AS n_occurrences, '?a??' AS q
        |  FROM tok WHERE term LIKE '_a__' GROUP BY doc_id)
        |SELECT * FROM (SELECT * FROM f1 UNION ALL
        |  SELECT * FROM f2 UNION ALL SELECT * FROM f3)
        |ORDER BY q, doc_id""".stripMargin,

    // facet semantics replayed: distinct matching ids from the token
    // stream, one join to the attributes, per-dimension counts with
    // the NULL bucket
    "q152_search_facets" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(coalesce(text, ''), ' ')) AS term
        |  FROM documents),
        |m AS (SELECT DISTINCT doc_id FROM tok
        |      WHERE term IN ('query', 'scan')),
        |j AS (SELECT d.lang, d.source FROM documents d
        |      JOIN m USING (doc_id))
        |SELECT facet, value, n_docs FROM (
        |  SELECT 'lang' AS facet, lang AS value, count(*) AS n_docs
        |  FROM j GROUP BY 2
        |  UNION ALL
        |  SELECT 'source' AS facet, source AS value, count(*) AS n_docs
        |  FROM j GROUP BY 2)
        |ORDER BY facet, value""".stripMargin,

    // ordered-near semantics replayed BRUTE-FORCE: per-term position
    // lists, every ordered occurrence combination enumerated with
    // nested list comprehensions (y > x, z > y), min span — the
    // engine's one-pass DP must agree with exhaustive enumeration
    "q153_ordered_near" ->
      """WITH d AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |p2 AS (SELECT doc_id,
        |    list_filter(generate_series(1, len(t)), p -> t[p] = 'slow')
        |      AS pa,
        |    list_filter(generate_series(1, len(t)), p -> t[p] = 'query')
        |      AS pb
        |  FROM d),
        |m2 AS (SELECT doc_id, 'slow->query/6' AS q,
        |    list_min(flatten(list_transform(pa, x ->
        |      list_transform(list_filter(pb, y -> y > x),
        |        y -> y - x)))) AS min_span
        |  FROM p2),
        |p3 AS (SELECT doc_id,
        |    list_filter(generate_series(1, len(t)), p -> t[p] = 'hash')
        |      AS pa,
        |    list_filter(generate_series(1, len(t)), p -> t[p] = 'table')
        |      AS pb,
        |    list_filter(generate_series(1, len(t)), p -> t[p] = 'scan')
        |      AS pc
        |  FROM d),
        |m3 AS (SELECT doc_id, 'hash->table->scan/12' AS q,
        |    list_min(flatten(flatten(list_transform(pa, x ->
        |      list_transform(list_filter(pb, y -> y > x), y ->
        |        list_transform(list_filter(pc, z -> z > y),
        |          z -> z - x)))))) AS min_span
        |  FROM p3)
        |SELECT doc_id, CAST(min_span AS BIGINT) AS min_span, q FROM (
        |  SELECT * FROM m2 WHERE min_span <= 6
        |  UNION ALL
        |  SELECT * FROM m3 WHERE min_span <= 12)
        |ORDER BY q, doc_id""".stripMargin,

    // range-facet semantics replayed: the distinct match set joined
    // once to n_chars, then one scalar count per half-open range —
    // including the overlapping catch-all and the empty range's 0 row
    "q154_range_facets" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(coalesce(text, ''), ' ')) AS term
        |  FROM documents),
        |m AS (SELECT DISTINCT doc_id FROM tok
        |      WHERE term IN ('query', 'scan')),
        |j AS (SELECT d.n_chars AS v FROM documents d
        |      JOIN m USING (doc_id))
        |SELECT range, n_docs FROM (
        |  SELECT 'short' AS range,
        |    (SELECT count(*) FROM j WHERE v >= 0 AND v < 200) AS n_docs
        |  UNION ALL SELECT 'mid',
        |    (SELECT count(*) FROM j WHERE v >= 200 AND v < 350)
        |  UNION ALL SELECT 'long',
        |    (SELECT count(*) FROM j WHERE v >= 350 AND v < 600)
        |  UNION ALL SELECT 'all',
        |    (SELECT count(*) FROM j WHERE v >= 0 AND v < 1000)
        |  UNION ALL SELECT 'none',
        |    (SELECT count(*) FROM j WHERE v >= 600 AND v < 1000))
        |ORDER BY range""".stripMargin,

    // minimum-should-match replayed with the q115 fixed-point BM25
    // arithmetic: mm = HAVING count(DISTINCT should term) >= mm, must
    // terms excluded from the quota; same (score DESC, id) cut
    "q155_min_should_match" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf
        |        WHERE term IN ('sort', 'merge', 'hash', 'join',
        |                       'scan', 'slow', 'fast')
        |        GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM tok),
        |b1 AS (
        |  SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score,
        |    'sort merge hash join mm=2' AS q
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('sort', 'merge', 'hash', 'join')
        |  GROUP BY 1
        |  HAVING count(DISTINCT term) >= 2
        |  ORDER BY score DESC, doc_id LIMIT 15),
        |b2 AS (
        |  SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score,
        |    '+scan slow fast mm=1' AS q
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('scan', 'slow', 'fast')
        |  GROUP BY 1
        |  HAVING count(DISTINCT CASE WHEN term = 'scan'
        |           THEN term END) = 1
        |     AND count(DISTINCT CASE WHEN term IN ('slow', 'fast')
        |           THEN term END) >= 1
        |  ORDER BY score DESC, doc_id LIMIT 15)
        |SELECT q, doc_id, score FROM
        |  (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
        |ORDER BY q, score DESC, doc_id""".stripMargin,

    // hybrid-off-artifacts replayed end to end: q103's lexical
    // fixed-point BM25 + RRF spelling, with the dense list replayed
    // through the MATERIALIZED centroids (per-query nProbe=3 cell
    // ranking, full-corpus cosine assignment, rounded cosine over the
    // probed cells only — the q31 contract, multi-query)
    "q156_hybrid_index_search" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t
        |  FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM toks),
        |q AS (SELECT * FROM (VALUES (0, 'merge sort window'),
        |        (1, 'stream batch join'), (2, 'hash table scan'),
        |        (3, 'slow query filter')) v(qid, qtext)),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' '))
        |         AS term FROM q),
        |bscored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
        |  CROSS JOIN stats
        |  GROUP BY 1, 2),
        |bk AS (SELECT qid, doc_id, rank FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        |    FROM bscored) WHERE rank <= 20),
        |qv AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
        |       FROM embeddings WHERE vec_id IN (0, 1, 2, 3)),
        |cents AS (SELECT centroid_id AS cid, cvec AS cv
        |          FROM read_parquet('{SCRATCH}/hyb_cents_{SFHASH}/*.parquet')),
        |probed AS (SELECT qid, cid FROM (
        |    SELECT qv.qid, c.cid, row_number() OVER (PARTITION BY qv.qid
        |      ORDER BY 1 - list_cosine_similarity(c.cv, qv.qvec), c.cid)
        |      AS rn
        |    FROM cents c CROSS JOIN qv) WHERE rn <= 3),
        |assign AS (
        |  SELECT e.vec_id AS vid,
        |    arg_min(c.cid,
        |      1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cv))
        |      AS cid
        |  FROM embeddings e, cents c
        |  GROUP BY e.vec_id),
        |dscored AS (SELECT qv.qid, e.vec_id AS doc_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[],
        |      qv.qvec), 4) AS sim
        |  FROM embeddings e
        |  JOIN assign a ON e.vec_id = a.vid
        |  JOIN probed p ON a.cid = p.cid
        |  JOIN qv ON qv.qid = p.qid),  -- q156 dense replay
        |dk AS (SELECT qid, doc_id, rank FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY qid ORDER BY sim DESC, doc_id) AS rank
        |    FROM dscored) WHERE rank <= 20),
        |u AS (SELECT qid, doc_id,
        |        CAST(floor(1e7 / (60 + rank) + 0.5) AS BIGINT) AS c
        |      FROM bk
        |      UNION ALL
        |      SELECT qid, doc_id,
        |        CAST(floor(1e7 / (60 + rank) + 0.5) AS BIGINT) AS c
        |      FROM dk),
        |f AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS rrf_fp,
        |        count(*) AS n_lists
        |      FROM u GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER
        |         (PARTITION BY qid ORDER BY rrf_fp DESC, doc_id) AS rn
        |       FROM f)
        |SELECT qid, doc_id, rrf_fp, n_lists FROM rk WHERE rn <= 10
        |ORDER BY qid, rrf_fp DESC, doc_id""".stripMargin,

    // filtered-ANN semantics replayed from the materialized centroids
    // (the q31 contract) with the attribute predicate applied BEFORE
    // the top-k cut — pre-filter, never post-filter
    "q157_filtered_ann" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |cents AS (SELECT centroid_id AS cid, cvec AS cv
        |          FROM read_parquet('{SCRATCH}/fx_emb_cents16_{SFHASH}/*.parquet')),
        |probed AS (SELECT cid FROM cents, q
        |           ORDER BY 1 - list_cosine_similarity(cv, qv), cid
        |           LIMIT 3),
        |assign AS (
        |  SELECT e.vec_id AS vid,
        |    arg_min(c.cid,
        |      1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cv))
        |      AS cid
        |  FROM embeddings e, cents c WHERE e.vec_id <> 0
        |  GROUP BY e.vec_id),
        |cand AS (SELECT e.vec_id, e.embedding, e.label
        |         FROM embeddings e
        |         JOIN assign a ON e.vec_id = a.vid
        |         WHERE a.cid IN (SELECT cid FROM probed)),
        |f1 AS (SELECT vec_id,
        |    round(list_cosine_similarity(embedding::DOUBLE[],
        |      (SELECT qv FROM q)), 4) AS sim, 'label%3=0' AS q
        |  FROM cand WHERE label % 3 = 0
        |  ORDER BY sim DESC, vec_id LIMIT 10),
        |f2 AS (SELECT vec_id,
        |    round(list_cosine_similarity(embedding::DOUBLE[],
        |      (SELECT qv FROM q)), 4) AS sim, 'label=7' AS q
        |  FROM cand WHERE label = 7
        |  ORDER BY sim DESC, vec_id LIMIT 10)
        |SELECT q, vec_id, sim FROM
        |  (SELECT * FROM f1 UNION ALL SELECT * FROM f2)
        |ORDER BY q, sim DESC, vec_id""".stripMargin,

    // keyset pagination pinned against OFFSET paging over the full
    // (score DESC, id ASC) ranking — they agree only when the cursor
    // continuation is exact on the rounded score
    "q158_search_after" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf
        |        WHERE term IN ('query', 'filter') GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM tok),
        |b AS (
        |  SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('query', 'filter')
        |  GROUP BY 1),
        |p1 AS (SELECT doc_id, score, 1 AS page FROM b
        |       ORDER BY score DESC, doc_id LIMIT 8),
        |p2 AS (SELECT doc_id, score, 2 AS page FROM b
        |       ORDER BY score DESC, doc_id LIMIT 8 OFFSET 8)
        |SELECT page, doc_id, score FROM
        |  (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
        |ORDER BY page, score DESC, doc_id""".stripMargin,

    // explain replayed: the engine's own top-3 cut reproduced (same
    // fixed-point score, same tiebreak), then the per-term integer
    // contributions for exactly those docs
    "q159_score_explain" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf
        |        WHERE term IN ('sort', 'merge', 'scan') GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM tok),
        |sc AS (
        |  SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('sort', 'merge', 'scan')
        |  GROUP BY 1),
        |top3 AS (SELECT doc_id FROM sc
        |         ORDER BY score DESC, doc_id LIMIT 3)
        |SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |  CAST(floor((ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |    * 1e7 + 0.5) AS BIGINT) AS contrib_fp,
        |  round(CAST(floor((ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |    * 1e7 + 0.5) AS BIGINT) / 1e7, 4) AS contrib
        |FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |JOIN top3 USING (doc_id)
        |ORDER BY doc_id, term""".stripMargin,

    // covering-index filtered ANN replayed: the q157 replay shape
    // with the label predicate applied before the top-k cut (label
    // read straight off the embeddings relation — the same values
    // the covering write denormalized into the cells)
    "q163_covering_filtered_ann" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |cents AS (SELECT centroid_id AS cid, cvec AS cv
        |          FROM read_parquet('{SCRATCH}/fx_emb_cents16_{SFHASH}/*.parquet')),
        |probed AS (SELECT cid FROM cents, q
        |           ORDER BY 1 - list_cosine_similarity(cv, qv), cid
        |           LIMIT 3),
        |assign AS (
        |  SELECT e.vec_id AS vid,
        |    arg_min(c.cid,
        |      1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cv))
        |      AS cid
        |  FROM embeddings e, cents c WHERE e.vec_id <> 0
        |  GROUP BY e.vec_id),
        |cand AS (SELECT e.vec_id, e.embedding, e.label
        |         FROM embeddings e
        |         JOIN assign a ON e.vec_id = a.vid
        |         WHERE a.cid IN (SELECT cid FROM probed)),
        |f1 AS (SELECT vec_id,
        |    round(list_cosine_similarity(embedding::DOUBLE[],
        |      (SELECT qv FROM q)), 4) AS sim, 'label%2=1' AS q
        |  FROM cand WHERE label % 2 = 1
        |  ORDER BY sim DESC, vec_id LIMIT 10),
        |f2 AS (SELECT vec_id,
        |    round(list_cosine_similarity(embedding::DOUBLE[],
        |      (SELECT qv FROM q)), 4) AS sim, 'label in [3,9]' AS q
        |  FROM cand WHERE label BETWEEN 3 AND 9
        |  ORDER BY sim DESC, vec_id LIMIT 10)
        |SELECT q, vec_id, sim FROM
        |  (SELECT * FROM f1 UNION ALL SELECT * FROM f2)
        |ORDER BY q, sim DESC, vec_id""".stripMargin,

    // segment infos replayed from the raw table: each generation's
    // exact integer partials (doc count, summed token lengths,
    // distinct vocabulary) over its corpus slice, and the wave's
    // kill-set size at generation 1
    "q164_segment_infos" ->
      """WITH t0 AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t
        |  FROM documents WHERE doc_id % 2 = 0),
        |t1 AS (SELECT doc_id, string_split(text, ' ') AS t FROM (
        |    SELECT doc_id, 'extra ' || coalesce(text, '') AS text
        |    FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 = 2
        |    UNION ALL
        |    SELECT doc_id, coalesce(text, '') AS text
        |    FROM documents WHERE doc_id % 2 = 1 AND doc_id % 10 = 1)),
        |i0 AS (SELECT 0 AS seg, count(*) AS n_docs,
        |    CAST(sum(len(t)) AS BIGINT) AS sum_dl,
        |    (SELECT count(DISTINCT term) FROM
        |      (SELECT unnest(t) AS term FROM t0)) AS n_terms,
        |    CAST(0 AS BIGINT) AS n_tombstones
        |  FROM t0),
        |i1 AS (SELECT 1 AS seg, count(*) AS n_docs,
        |    CAST(sum(len(t)) AS BIGINT) AS sum_dl,
        |    (SELECT count(DISTINCT term) FROM
        |      (SELECT unnest(t) AS term FROM t1)) AS n_terms,
        |    (SELECT count(*) FROM documents
        |     WHERE doc_id % 2 = 0
        |       AND (doc_id % 10 = 0 OR doc_id % 10 = 2))
        |      AS n_tombstones
        |  FROM t1)
        |SELECT seg, n_docs, sum_dl, n_terms, n_tombstones FROM
        |  (SELECT * FROM i0 UNION ALL SELECT * FROM i1)
        |ORDER BY seg""".stripMargin,

    // synonym semantics replayed: member tfs summed into one pseudo-
    // term per group, df the exact union cardinality, the identical
    // fixed-point contribution arithmetic
    "q165_synonym_search" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM tok),
        |gm AS (SELECT * FROM (VALUES
        |    ('scan', 0, 1), ('seek', 0, 1), ('merge', 1, 1),
        |    ('fast', 0, 2), ('quick', 0, 2), ('rapid', 0, 2))
        |  AS v(term, grp, panel)),
        |pseudo AS (SELECT panel, doc_id, dl, grp,
        |    count(*) AS tf
        |  FROM tc JOIN gm USING (term)
        |  GROUP BY 1, 2, 3, 4),
        |dfg AS (SELECT panel, grp, count(DISTINCT doc_id) AS df
        |        FROM pseudo GROUP BY 1, 2),
        |scored AS (SELECT panel, doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM pseudo JOIN dfg USING (panel, grp) CROSS JOIN stats
        |  GROUP BY 1, 2),
        |r1 AS (SELECT doc_id, score, 'syn(scan,seek) merge' AS q
        |  FROM scored WHERE panel = 1
        |  ORDER BY score DESC, doc_id LIMIT 15),
        |r2 AS (SELECT doc_id, score, 'syn(fast,quick,rapid)' AS q
        |  FROM scored WHERE panel = 2
        |  ORDER BY score DESC, doc_id LIMIT 15)
        |SELECT q, doc_id, score FROM
        |  (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        |ORDER BY q, score DESC, doc_id""".stripMargin,

    // dismax semantics replayed: per-clause fixed-point BM25 sums,
    // max + tiebreak × rest with the combine floored to a long once
    "q166_dismax_search" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM tok),
        |cm AS (SELECT * FROM (VALUES
        |    ('sort', 0, 1), ('merge', 0, 1),
        |    ('scan', 1, 1), ('sort', 1, 1),
        |    ('query', 0, 2), ('filter', 0, 2), ('window', 1, 2))
        |  AS v(term, clause, panel)),
        |dfq AS (SELECT term, count(*) AS df FROM tf
        |        WHERE term IN (SELECT DISTINCT term FROM cm)
        |        GROUP BY 1),
        |percl AS (SELECT panel, doc_id, clause,
        |    sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) AS cs
        |  FROM tf JOIN dfq USING (term) JOIN cm USING (term)
        |  CROSS JOIN stats
        |  GROUP BY 1, 2, 3),
        |combined AS (SELECT panel, doc_id,
        |    max(cs) AS mx, sum(cs) AS sm FROM percl GROUP BY 1, 2),
        |r1 AS (SELECT doc_id,
        |    round((mx + CAST(floor(0.3 * (sm - mx) + 0.5) AS BIGINT))
        |      / 1e7, 4) AS score, 'dismax0.3' AS q
        |  FROM combined WHERE panel = 1
        |  ORDER BY score DESC, doc_id LIMIT 15),
        |r2 AS (SELECT doc_id,
        |    round((mx + CAST(floor(0.0 * (sm - mx) + 0.5) AS BIGINT))
        |      / 1e7, 4) AS score, 'dismax0.0' AS q
        |  FROM combined WHERE panel = 2
        |  ORDER BY score DESC, doc_id LIMIT 15)
        |SELECT q, doc_id, score FROM
        |  (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        |ORDER BY q, score DESC, doc_id""".stripMargin,

    // BM25F replayed: the deterministic title/body split re-derived,
    // per-field length-normalized weighted tfs combined into one
    // pseudo-frequency before saturation, document-level df
    "q167_bm25f" ->
      """WITH base AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |fields AS (
        |  SELECT doc_id, 0 AS fld, CAST(2.0 AS DOUBLE) AS w,
        |    CAST(0.4 AS DOUBLE) AS b,
        |    string_split(array_to_string(list_slice(t, 1, 4), ' '),
        |      ' ') AS ft
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id, 1 AS fld, CAST(1.0 AS DOUBLE) AS w,
        |    CAST(0.75 AS DOUBLE) AS b,
        |    string_split(array_to_string(list_slice(t, 5, len(t)),
        |      ' '), ' ') AS ft
        |  FROM base),
        |ftf AS (SELECT doc_id, fld, w, b, len(ft) AS dl,
        |    unnest(ft) AS term FROM fields),
        |tf AS (SELECT doc_id, fld, w, b, dl, term, count(*) AS tf
        |       FROM ftf GROUP BY 1, 2, 3, 4, 5, 6),
        |fstats AS (SELECT fld, avg(dl) AS avgdl_f FROM
        |    (SELECT DISTINCT fld, doc_id, dl FROM tf) GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |panel AS (SELECT * FROM (VALUES
        |    (0, 'table'), (0, 'scan'),
        |    (1, 'merge'), (1, 'sort'), (1, 'fast'))
        |  AS v(qid, term)),
        |ptf AS (SELECT doc_id, term,
        |    sum(tf * w / (1.0 - b + b * dl / avgdl_f)) AS ptf
        |  FROM tf JOIN fstats USING (fld)
        |  WHERE term IN (SELECT DISTINCT term FROM panel)
        |  GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM ptf GROUP BY 1),
        |scored AS (SELECT qid, doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) * ptf / (ptf + 1.2))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM ptf JOIN panel USING (term) JOIN dfq USING (term)
        |  CROSS JOIN nd
        |  GROUP BY 1, 2),
        |topk AS (SELECT qid, doc_id, score FROM (
        |    SELECT qid, doc_id, score, row_number() OVER (
        |      PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |    FROM scored) WHERE rn <= 12)
        |SELECT qid, doc_id, score FROM topk
        |ORDER BY qid, score DESC, doc_id""".stripMargin,

    // field collapsing replayed: the should-panel ranking, one best
    // hit per source (score DESC, id ASC), then the top-k cut
    "q168_collapsed_search" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf
        |        WHERE term IN ('query', 'filter') GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM tok),
        |ranked AS (SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('query', 'filter')
        |  GROUP BY 1),
        |coll AS (SELECT doc_id, score, source FROM (
        |    SELECT r.doc_id, r.score, d.source, row_number() OVER (
        |      PARTITION BY d.source
        |      ORDER BY r.score DESC, r.doc_id) AS rn
        |    FROM ranked r JOIN documents d USING (doc_id))
        |  WHERE rn = 1)
        |SELECT doc_id, score, source FROM coll
        |ORDER BY score DESC, doc_id LIMIT 8""".stripMargin,

    // batched probe replayed: per-query cell ranking from the written
    // centroids, shared assignment, per-query top-k — must equal N
    // independent probes
    "q169_batched_ann" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |cents AS (SELECT centroid_id AS cid, cvec AS cv
        |          FROM read_parquet('{SCRATCH}/bann_cents_{SFHASH}/*.parquet')),
        |probed AS (SELECT qid, cid FROM (
        |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
        |      ORDER BY 1 - list_cosine_similarity(c.cv, q.qv), c.cid)
        |      AS rn
        |    FROM cents c, q) WHERE rn <= 3),
        |assign AS (
        |  SELECT e.vec_id AS vid,
        |    arg_min(c.cid,
        |      1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cv))
        |      AS cid
        |  FROM embeddings e, cents c WHERE e.vec_id NOT IN (0, 1, 2)
        |  GROUP BY e.vec_id),
        |cand AS (SELECT p.qid, e.vec_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv),
        |      4) AS sim
        |  FROM embeddings e
        |  JOIN assign a ON e.vec_id = a.vid
        |  JOIN probed p ON a.cid = p.cid
        |  JOIN q ON p.qid = q.qid)
        |SELECT qid, vec_id, sim FROM (
        |  SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid
        |    ORDER BY sim DESC, vec_id) AS rn FROM cand)
        |WHERE rn <= 10
        |ORDER BY qid, sim DESC, vec_id""".stripMargin,

    // range search replayed: same cell ranking and assignment, every
    // candidate at rounded similarity ≥ the radius — no k cut
    "q170_range_search" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |cents AS (SELECT centroid_id AS cid, cvec AS cv
        |          FROM read_parquet('{SCRATCH}/fx_emb_cents16_{SFHASH}/*.parquet')),
        |probed AS (SELECT cid FROM cents, q
        |           ORDER BY 1 - list_cosine_similarity(cv, qv), cid
        |           LIMIT 4),
        |assign AS (
        |  SELECT e.vec_id AS vid,
        |    arg_min(c.cid,
        |      1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cv))
        |      AS cid
        |  FROM embeddings e, cents c WHERE e.vec_id <> 0
        |  GROUP BY e.vec_id),
        |cand AS (SELECT e.vec_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[],
        |      (SELECT qv FROM q)), 4) AS sim
        |  FROM embeddings e
        |  JOIN assign a ON e.vec_id = a.vid
        |  WHERE a.cid IN (SELECT cid FROM probed))
        |SELECT vec_id, sim FROM cand WHERE sim >= 0.15
        |ORDER BY sim DESC, vec_id""".stripMargin,

    // refine replayed end to end: q130's integer ADC arithmetic cut
    // at 50, then the exact cosine re-rank of exactly those ids
    "q171_pq_refine" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |cents AS (SELECT centroid_id AS cid, cvec AS cv
        |  FROM read_parquet('{SCRATCH}/refine_cents_{SFHASH}/*.parquet')),
        |probed AS (SELECT cid FROM cents, q
        |           ORDER BY 1 - list_cosine_similarity(cv, qv), cid
        |           LIMIT 3),
        |cb AS (SELECT subspace, code, cvec
        |  FROM read_parquet(
        |    '{SCRATCH}/refine_index_{SFHASH}/codebooks/*.parquet')),
        |ip AS (SELECT subspace, code,
        |    CAST(floor(list_inner_product(cvec,
        |      qv[(subspace * 8 + 1):(subspace * 8 + 8)]) * 1e7 + 0.5)
        |      AS BIGINT) AS ip_fp
        |  FROM cb, q),
        |cx AS (SELECT vec_id, subspace, codes[subspace + 1] AS code
        |  FROM (SELECT vec_id, codes,
        |          unnest(generate_series(0, 7)) AS subspace
        |        FROM read_parquet(
        |            '{SCRATCH}/refine_index_{SFHASH}/codes/*/*.parquet',
        |            hive_partitioning = 1)
        |        WHERE CAST(centroid_id AS BIGINT) IN
        |          (SELECT cid FROM probed))),
        |cand AS (SELECT vec_id FROM (
        |    SELECT vec_id,
        |      round(CAST(sum(ip_fp) AS BIGINT) / 1e7, 4) AS adc_score
        |    FROM cx JOIN ip USING (subspace, code)
        |    GROUP BY vec_id ORDER BY adc_score DESC, vec_id
        |    LIMIT 50))
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[],
        |    (SELECT qv FROM q)), 4) AS sim
        |FROM embeddings e JOIN cand USING (vec_id)
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    // boosted scoring replayed: the same contribution arithmetic with
    // the per-term weight multiplied before the fixed-point floor
    "q172_boosted_search" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf
        |        WHERE term IN ('query', 'filter', 'sort', 'merge')
        |        GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM tok),
        |r1 AS (SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * (CASE term WHEN 'query' THEN CAST(3.0 AS DOUBLE)
        |         ELSE CAST(0.5 AS DOUBLE) END)
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score,
        |    'query^3 filter^0.5' AS q
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('query', 'filter')
        |  GROUP BY 1
        |  ORDER BY score DESC, doc_id LIMIT 15),
        |r2 AS (SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * (CASE term WHEN 'merge' THEN CAST(2.0 AS DOUBLE)
        |         ELSE CAST(1.0 AS DOUBLE) END)
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score,
        |    '+sort merge^2' AS q
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('sort', 'merge')
        |  GROUP BY 1
        |  HAVING count(DISTINCT CASE WHEN term = 'sort'
        |    THEN term END) = 1
        |  ORDER BY score DESC, doc_id LIMIT 15)
        |SELECT q, doc_id, score FROM
        |  (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        |ORDER BY q, score DESC, doc_id""".stripMargin,

    // percolation replayed: per-doc distinct token sets, each stored
    // query's must/mustNot membership spelled directly
    "q173_percolate" ->
      """WITH tok AS (SELECT doc_id,
        |    list_distinct(string_split(coalesce(text, ''), ' ')) AS t
        |  FROM documents),
        |m AS (
        |  SELECT 1 AS query_id, doc_id FROM tok
        |  WHERE list_contains(t, 'sort') AND list_contains(t, 'merge')
        |    AND NOT list_contains(t, 'scan')
        |  UNION ALL
        |  SELECT 2 AS query_id, doc_id FROM tok
        |  WHERE list_contains(t, 'query')
        |  UNION ALL
        |  SELECT 3 AS query_id, doc_id FROM tok
        |  WHERE list_contains(t, 'slow') AND list_contains(t, 'fast')
        |  UNION ALL
        |  SELECT 4 AS query_id, doc_id FROM tok
        |  WHERE list_contains(t, 'window')
        |    AND list_contains(t, 'stream')
        |    AND NOT list_contains(t, 'batch'))
        |SELECT query_id, doc_id FROM m
        |ORDER BY query_id, doc_id""".stripMargin,

    // completion replayed: distinct-doc df over the LIVE corpus (the
    // tombstoned every-7th docs removed), prefix bands, (df DESC,
    // term) cut
    "q174_completion_suggest" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_distinct(string_split(coalesce(text, ''),
        |      ' '))) AS term
        |  FROM documents WHERE doc_id % 7 <> 0),
        |dfq AS (SELECT term, count(*) AS df FROM tok GROUP BY 1),
        |c1 AS (SELECT term, df, 's*' AS q FROM dfq
        |  WHERE term LIKE 's%' ORDER BY df DESC, term LIMIT 8),
        |c2 AS (SELECT term, df, 'fi*' AS q FROM dfq
        |  WHERE term LIKE 'fi%' ORDER BY df DESC, term LIMIT 5)
        |SELECT q, term, df FROM
        |  (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
        |ORDER BY q, df DESC, term""".stripMargin,

    // significant terms replayed: live corpus (every-7th killed), fg =
    // docs with ≥1 query term, exact integer dfs, the JLH formula
    "q175_significant_terms" ->
      """WITH live AS (SELECT doc_id, text FROM documents
        |              WHERE doc_id % 7 <> 0),
        |tok AS (SELECT doc_id,
        |    unnest(list_distinct(string_split(coalesce(text, ''),
        |      ' '))) AS term
        |  FROM live),
        |fg AS (SELECT DISTINCT doc_id FROM tok
        |       WHERE term IN ('sort', 'filter')),
        |nn AS (SELECT (SELECT count(*) FROM fg) AS nfg,
        |              (SELECT count(*) FROM live) AS nbg),
        |dfs AS (SELECT t.term,
        |    count(DISTINCT t.doc_id) AS bg_df,
        |    count(DISTINCT CASE WHEN f.doc_id IS NOT NULL
        |      THEN t.doc_id END) AS fg_df
        |  FROM tok t LEFT JOIN fg f USING (doc_id)
        |  GROUP BY 1),
        |sc AS (SELECT term, fg_df, bg_df,
        |    CAST(fg_df AS DOUBLE) / nfg AS fgp,
        |    CAST(bg_df AS DOUBLE) / nbg AS bgp
        |  FROM dfs CROSS JOIN nn WHERE fg_df >= 2)
        |SELECT term, fg_df, bg_df,
        |  round((fgp - bgp) * (fgp / bgp), 6) AS score
        |FROM sc WHERE fgp > bgp
        |ORDER BY score DESC, term LIMIT 15""".stripMargin,

    // pivot replayed as conditional aggregation with Spark's
    // "<value>_<agg-alias>" column naming; empty cells are NULL for
    // the sum and 0 for the count in BOTH engines
    "q176_pivot" ->
      """SELECT day(ts) AS dom,
        |  count(*) FILTER (event_type = 'click') AS click_n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    FILTER (event_type = 'click') AS BIGINT) AS click_cents,
        |  count(*) FILTER (event_type = 'error') AS error_n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    FILTER (event_type = 'error') AS BIGINT) AS error_cents,
        |  count(*) FILTER (event_type = 'purchase') AS purchase_n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    FILTER (event_type = 'purchase') AS BIGINT) AS purchase_cents,
        |  count(*) FILTER (event_type = 'signup') AS signup_n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    FILTER (event_type = 'signup') AS BIGINT) AS signup_cents,
        |  count(*) FILTER (event_type = 'view') AS view_n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    FILTER (event_type = 'view') AS BIGINT) AS view_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // function score replayed: the q168-shape ranking, the same
    // rounded-times-factor-rounded composition, the cut on the
    // combined value
    "q177_function_score" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf
        |        WHERE term IN ('query', 'filter') GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM tok),
        |ranked AS (SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('query', 'filter')
        |  GROUP BY 1)
        |SELECT r.doc_id,
        |  round(r.score * coalesce(ln(1 + d.n_chars), 1.0), 4) AS score
        |FROM ranked r JOIN documents d USING (doc_id)
        |ORDER BY score DESC, doc_id LIMIT 12""".stripMargin,

    // grouped top-N replayed: the q168 collapse shape with rn <= 2
    "q178_grouped_topn" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf
        |        WHERE term IN ('query', 'filter') GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM tok),
        |ranked AS (SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('query', 'filter')
        |  GROUP BY 1),
        |coll AS (SELECT doc_id, score, source FROM (
        |    SELECT r.doc_id, r.score, d.source, row_number() OVER (
        |      PARTITION BY d.source
        |      ORDER BY r.score DESC, r.doc_id) AS rn
        |    FROM ranked r JOIN documents d USING (doc_id))
        |  WHERE rn <= 2)
        |SELECT doc_id, score, source FROM coll
        |ORDER BY score DESC, doc_id LIMIT 12""".stripMargin,

    // rescore replayed: the should-ranking cut to its top-50 window,
    // phrase membership from the position lists, the same weighted
    // combine, the cut on the combined value
    "q179_rescore_phrase" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf
        |        WHERE term IN ('sort', 'merge') GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM tok),
        |win AS (SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('sort', 'merge')
        |  GROUP BY 1
        |  ORDER BY score DESC, doc_id LIMIT 50),
        |ph AS (SELECT doc_id FROM (
        |    SELECT doc_id, list_filter(generate_series(1, len(t) - 1),
        |      p -> t[p:p+1] = ['sort', 'merge']) AS starts
        |    FROM tok WHERE len(t) >= 2)
        |  WHERE len(starts) > 0)
        |SELECT w.doc_id,
        |  round(w.score * 1.0 + CASE WHEN p.doc_id IS NOT NULL
        |    THEN 0.5 ELSE 0.0 END, 4) AS score
        |FROM win w LEFT JOIN ph p USING (doc_id)
        |ORDER BY score DESC, doc_id LIMIT 12""".stripMargin,

    // has-child replayed: the uncut should-ranking, per-source fold
    // under both score modes from the SAME reconstructed fixed-point
    // longs, the ≥3 floor, the per-mode cut
    "q181_has_child" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf
        |        WHERE term IN ('query', 'filter') GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM tok),
        |ranked AS (SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('query', 'filter')
        |  GROUP BY 1),
        |fp AS (SELECT r.doc_id, d.source,
        |    CAST(floor(r.score * 1e7 + 0.5) AS BIGINT) AS fpv
        |  FROM ranked r JOIN documents d USING (doc_id)),
        |fold AS (SELECT source, count(*) AS n_children,
        |    max(fpv) AS mx, sum(fpv) AS sm
        |  FROM fp GROUP BY 1 HAVING count(*) >= 3),
        |h1 AS (SELECT source, n_children,
        |    round(mx / 1e7, 4) AS score, 'max' AS q
        |  FROM fold ORDER BY score DESC, source LIMIT 10),
        |h2 AS (SELECT source, n_children,
        |    round(CAST(floor(CAST(sm AS DOUBLE) / n_children + 0.5)
        |      AS BIGINT) / 1e7, 4) AS score, 'avg' AS q
        |  FROM fold ORDER BY score DESC, source LIMIT 10)
        |SELECT q, source, n_children, score FROM
        |  (SELECT * FROM h1 UNION ALL SELECT * FROM h2)
        |ORDER BY q, score DESC, source""".stripMargin,

    // capstone replayed: the final corpus state rebuilt from the raw
    // table (survivors + modified re-adds + fresh odds), then each
    // probe's semantics replayed on it
    "q182_search_capstone" ->
      """WITH fin AS (
        |  SELECT doc_id, coalesce(text, '') AS text FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id % 10 NOT IN (0, 2)
        |  UNION ALL
        |  SELECT doc_id, 'extra ' || coalesce(text, '') FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id % 10 = 2
        |  UNION ALL
        |  SELECT doc_id, coalesce(text, '') FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 10 = 1),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM fin),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf
        |        WHERE term IN ('query', 'filter') GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM tok),
        |bool AS (SELECT 'bool' AS kind,
        |    CAST(doc_id AS VARCHAR) AS key, score AS val FROM (
        |  SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('query', 'filter')
        |  GROUP BY 1
        |  ORDER BY score DESC, doc_id LIMIT 10)),
        |ph AS (SELECT 'phrase' AS kind,
        |    CAST(doc_id AS VARCHAR) AS key,
        |    CAST(len(starts) AS DOUBLE) AS val FROM (
        |  SELECT doc_id, list_filter(generate_series(1, len(t) - 1),
        |      p -> t[p:p+1] = ['sort', 'merge']) AS starts
        |  FROM tok WHERE len(t) >= 2)
        |  WHERE len(starts) > 0),
        |compl AS (SELECT 'compl' AS kind, term AS key,
        |    CAST(df AS DOUBLE) AS val FROM (
        |  SELECT term, count(*) AS df FROM (
        |    SELECT doc_id, unnest(list_distinct(t)) AS term FROM tok)
        |  WHERE term LIKE 's%' GROUP BY 1
        |  ORDER BY df DESC, term LIMIT 5))
        |SELECT kind, key, val FROM
        |  (SELECT * FROM bool UNION ALL SELECT * FROM ph
        |   UNION ALL SELECT * FROM compl)
        |ORDER BY kind, key, val""".stripMargin,

    // positional time travel replayed: phrase semantics over BOTH
    // corpus states — generation 0 (evens original) and the final
    // state (survivors + shifted modified re-adds + fresh odds)
    "q183_phrase_time_travel" ->
      """WITH g0 AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t
        |  FROM documents WHERE doc_id % 2 = 0),
        |fin AS (SELECT doc_id, string_split(text, ' ') AS t FROM (
        |  SELECT doc_id, coalesce(text, '') AS text FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id % 10 NOT IN (0, 2)
        |  UNION ALL
        |  SELECT doc_id, 'extra ' || coalesce(text, '') FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id % 10 = 2
        |  UNION ALL
        |  SELECT doc_id, coalesce(text, '') FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 10 = 1)),
        |p0 AS (SELECT doc_id, 'asof0' AS q,
        |    list_filter(generate_series(1, len(t) - 1),
        |      p -> t[p:p+1] = ['sort', 'merge']) AS starts
        |  FROM g0 WHERE len(t) >= 2),
        |p1 AS (SELECT doc_id, 'live' AS q,
        |    list_filter(generate_series(1, len(t) - 1),
        |      p -> t[p:p+1] = ['sort', 'merge']) AS starts
        |  FROM fin WHERE len(t) >= 2),
        |u AS (SELECT * FROM p0 UNION ALL SELECT * FROM p1)
        |SELECT q, doc_id, CAST(len(starts) AS BIGINT) AS n_matches,
        |  CAST(starts[1] - 1 AS BIGINT) AS first_pos
        |FROM u WHERE len(starts) > 0
        |ORDER BY q, doc_id""".stripMargin,

    // spell suggestion replayed: per-term distinct-doc df from the
    // token stream, DuckDB's levenshtein, the same (dist, df DESC,
    // term) cut
    "q162_spell_suggest" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(coalesce(text, ''), ' ')) AS term
        |  FROM documents),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
        |        GROUP BY 1),
        |s1 AS (SELECT term,
        |         CAST(levenshtein(term, 'tble') AS BIGINT) AS dist,
        |         df, 'tble~1' AS q
        |       FROM dfq WHERE levenshtein(term, 'tble') <= 1
        |       ORDER BY dist, df DESC, term LIMIT 5),
        |s2 AS (SELECT term,
        |         CAST(levenshtein(term, 'sot') AS BIGINT) AS dist,
        |         df, 'sot~2' AS q
        |       FROM dfq WHERE levenshtein(term, 'sot') <= 2
        |       ORDER BY dist, df DESC, term LIMIT 5),
        |s3 AS (SELECT term,
        |         CAST(levenshtein(term, 'pat') AS BIGINT) AS dist,
        |         df, 'pat~2' AS q
        |       FROM dfq WHERE levenshtein(term, 'pat') <= 2
        |       ORDER BY dist, df DESC, term LIMIT 5)
        |SELECT q, term, dist, df FROM
        |  (SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |   UNION ALL SELECT * FROM s3)
        |ORDER BY q, dist, df DESC, term""".stripMargin,

    // time travel replayed: both corpus states rebuilt from the raw
    // table (state 0 = even docs; state 1 = the wave applied), each
    // scored with the q115 fixed-point arithmetic and the same
    // (score DESC, id) top-10 cut
    "q161_index_time_travel" ->
      """WITH s0 AS (SELECT doc_id, text FROM documents
        |            WHERE doc_id % 2 = 0),
        |s1 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 2
        |              THEN 'extra ' || coalesce(text, '')
        |              ELSE text END AS text
        |       FROM documents
        |       WHERE doc_id % 2 = 0 AND doc_id % 10 <> 0
        |       UNION ALL
        |       SELECT doc_id, text FROM documents
        |       WHERE doc_id % 2 = 1 AND doc_id % 10 = 1),
        |q AS (SELECT * FROM (VALUES (0, 'merge sort window'),
        |        (1, 'slow query filter')) v(qid, qtext)),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' '))
        |         AS term FROM q),
        |tok0 AS (SELECT doc_id, string_split(coalesce(text, ''), ' ')
        |           AS t FROM s0),
        |tf0 AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
        |          SELECT doc_id, len(t) AS dl, unnest(t) AS term
        |          FROM tok0) GROUP BY 1, 2, 3),
        |df0 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf0
        |        WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |st0 AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |        FROM tok0),
        |b0 AS (
        |  SELECT qt.qid, tf0.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf0 JOIN qt USING (term) JOIN df0 USING (term)
        |  CROSS JOIN st0
        |  GROUP BY 1, 2),
        |k0 AS (SELECT 0 AS gen, qid, doc_id, score FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |    FROM b0) WHERE rn <= 10),
        |tok1 AS (SELECT doc_id, string_split(coalesce(text, ''), ' ')
        |           AS t FROM s1),
        |tf1 AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
        |          SELECT doc_id, len(t) AS dl, unnest(t) AS term
        |          FROM tok1) GROUP BY 1, 2, 3),
        |df1 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf1
        |        WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |st1 AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |        FROM tok1),
        |b1 AS (
        |  SELECT qt.qid, tf1.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf1 JOIN qt USING (term) JOIN df1 USING (term)
        |  CROSS JOIN st1
        |  GROUP BY 1, 2),
        |k1 AS (SELECT 1 AS gen, qid, doc_id, score FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |    FROM b1) WHERE rn <= 10)
        |SELECT gen, qid, doc_id, score FROM
        |  (SELECT * FROM k0 UNION ALL SELECT * FROM k1)
        |ORDER BY gen, qid, score DESC, doc_id""".stripMargin,

    // MVCC / generation-travel oracles: both corpus states rebuilt
    // from the raw table and scored with the q115 fixed-point
    // arithmetic — gen 0 is the PINNED/as-of replay, gen 1 the live
    "q184_snapshot_isolation" ->
      """WITH s0 AS (SELECT doc_id, text FROM documents
        |            WHERE doc_id % 2 = 0),
        |s1 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 2
        |              THEN 'extra ' || coalesce(text, '')
        |              ELSE text END AS text
        |       FROM documents
        |       WHERE doc_id % 2 = 0 AND doc_id % 10 <> 0
        |       UNION ALL
        |       SELECT doc_id, text FROM documents
        |       WHERE doc_id % 2 = 1 AND doc_id % 10 = 1),
        |q AS (SELECT * FROM (VALUES (0, 'merge sort window'),
        |        (1, 'hash join table')) v(qid, qtext)),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' '))
        |         AS term FROM q),
        |tok0 AS (SELECT doc_id, string_split(coalesce(text, ''), ' ')
        |           AS t FROM s0),
        |tf0 AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
        |          SELECT doc_id, len(t) AS dl, unnest(t) AS term
        |          FROM tok0) GROUP BY 1, 2, 3),
        |df0 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf0
        |        WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |st0 AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |        FROM tok0),
        |b0 AS (
        |  SELECT qt.qid, tf0.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf0 JOIN qt USING (term) JOIN df0 USING (term)
        |  CROSS JOIN st0
        |  GROUP BY 1, 2),
        |k0 AS (SELECT 0 AS gen, qid, doc_id, score FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |    FROM b0) WHERE rn <= 10),
        |tok1 AS (SELECT doc_id, string_split(coalesce(text, ''), ' ')
        |           AS t FROM s1),
        |tf1 AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
        |          SELECT doc_id, len(t) AS dl, unnest(t) AS term
        |          FROM tok1) GROUP BY 1, 2, 3),
        |df1 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf1
        |        WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |st1 AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |        FROM tok1),
        |b1 AS (
        |  SELECT qt.qid, tf1.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf1 JOIN qt USING (term) JOIN df1 USING (term)
        |  CROSS JOIN st1
        |  GROUP BY 1, 2),
        |k1 AS (SELECT 1 AS gen, qid, doc_id, score FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |    FROM b1) WHERE rn <= 10)
        |SELECT gen, qid, doc_id, score FROM
        |  (SELECT * FROM k0 UNION ALL SELECT * FROM k1)
        |ORDER BY gen, qid, score DESC, doc_id""".stripMargin,

    "q185_generation_travel" ->
      """WITH s0 AS (SELECT doc_id, text FROM documents
        |            WHERE doc_id % 3 = 0),
        |s1 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 15 = 3
        |              THEN 'extra ' || coalesce(text, '')
        |              ELSE text END AS text
        |       FROM documents
        |       WHERE doc_id % 3 = 0 AND doc_id % 15 <> 0
        |       UNION ALL
        |       SELECT doc_id, text FROM documents
        |       WHERE doc_id % 3 = 1 AND doc_id % 15 = 4),
        |q AS (SELECT * FROM (VALUES (0, 'scan table row'),
        |        (1, 'query filter')) v(qid, qtext)),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' '))
        |         AS term FROM q),
        |tok0 AS (SELECT doc_id, string_split(coalesce(text, ''), ' ')
        |           AS t FROM s0),
        |tf0 AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
        |          SELECT doc_id, len(t) AS dl, unnest(t) AS term
        |          FROM tok0) GROUP BY 1, 2, 3),
        |df0 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf0
        |        WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |st0 AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |        FROM tok0),
        |b0 AS (
        |  SELECT qt.qid, tf0.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf0 JOIN qt USING (term) JOIN df0 USING (term)
        |  CROSS JOIN st0
        |  GROUP BY 1, 2),
        |k0 AS (SELECT 0 AS gen, qid, doc_id, score FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |    FROM b0) WHERE rn <= 10),
        |tok1 AS (SELECT doc_id, string_split(coalesce(text, ''), ' ')
        |           AS t FROM s1),
        |tf1 AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
        |          SELECT doc_id, len(t) AS dl, unnest(t) AS term
        |          FROM tok1) GROUP BY 1, 2, 3),
        |df1 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf1
        |        WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |st1 AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |        FROM tok1),
        |b1 AS (
        |  SELECT qt.qid, tf1.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf1 JOIN qt USING (term) JOIN df1 USING (term)
        |  CROSS JOIN st1
        |  GROUP BY 1, 2),
        |k1 AS (SELECT 1 AS gen, qid, doc_id, score FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |    FROM b1) WHERE rn <= 10)
        |SELECT gen, qid, doc_id, score FROM
        |  (SELECT * FROM k0 UNION ALL SELECT * FROM k1)
        |ORDER BY gen, qid, score DESC, doc_id""".stripMargin,

    // filtered-search replayed: scoring/df/stats stay GLOBAL (the
    // filter clause scores zero — Lucene), the id restriction applies
    // before the (score DESC, id) cut; the phrase clause replays the
    // adjacent-pair membership from the token stream
    "q160_filtered_search" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf
        |        WHERE term IN ('query', 'scan', 'filter', 'join')
        |        GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM tok),
        |ph AS (SELECT doc_id FROM tok
        |       WHERE len(list_filter(generate_series(1, len(t) - 1),
        |         p -> t[p] = 'slow' AND t[p + 1] = 'query')) > 0),
        |b1 AS (
        |  SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score,
        |    'query scan lang=en' AS q
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('query', 'scan')
        |    AND tf.doc_id IN (SELECT doc_id FROM documents
        |                      WHERE lang = 'en')
        |  GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 12),
        |b2 AS (
        |  SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score,
        |    'filter join +"slow query"' AS q
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
        |  WHERE term IN ('filter', 'join')
        |    AND tf.doc_id IN (SELECT doc_id FROM ph)
        |  GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 12)
        |SELECT q, doc_id, score FROM
        |  (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
        |ORDER BY q, score DESC, doc_id""".stripMargin,

    // MoreLikeThis semantics replayed from the token stream: the same
    // fixed-point tf·idf selection cut (rank desc, term asc, LIMIT),
    // the q115 fixed-point BM25 scoring over the selected terms, seed
    // excluded before the top-k cut
    "q150_more_like_this" ->
      """WITH tok AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM tok),
        |s1 AS (SELECT term, count(*) AS stf FROM tc
        |       WHERE doc_id = 3 GROUP BY 1),
        |d1 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
        |       WHERE term IN (SELECT term FROM s1) GROUP BY 1),
        |sel1 AS (SELECT term, df FROM s1 JOIN d1 USING (term)
        |         CROSS JOIN stats
        |         ORDER BY CAST(floor(stf * ln(1 + (n_docs - df + 0.5) /
        |           (df + 0.5)) * 1e7 + 0.5) AS BIGINT) DESC, term
        |         LIMIT 8),
        |r1 AS (SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score,
        |    'like:3' AS q
        |  FROM tf JOIN sel1 USING (term) CROSS JOIN stats
        |  WHERE tf.doc_id <> 3
        |  GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 12),
        |s2 AS (SELECT term, count(*) AS stf FROM tc
        |       WHERE doc_id = 7 GROUP BY 1),
        |d2 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
        |       WHERE term IN (SELECT term FROM s2) GROUP BY 1),
        |sel2 AS (SELECT term, df FROM s2 JOIN d2 USING (term)
        |         CROSS JOIN stats
        |         ORDER BY CAST(floor(stf * ln(1 + (n_docs - df + 0.5) /
        |           (df + 0.5)) * 1e7 + 0.5) AS BIGINT) DESC, term
        |         LIMIT 5),
        |r2 AS (SELECT tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score,
        |    'like:7' AS q
        |  FROM tf JOIN sel2 USING (term) CROSS JOIN stats
        |  WHERE tf.doc_id <> 7
        |  GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10)
        |SELECT q, doc_id, score FROM
        |  (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        |ORDER BY q, score DESC, doc_id""".stripMargin,

    // snippet semantics replayed brute-force: per-term position
    // lists, every occurrence-combination window as a [span, end]
    // list, lexicographic list_min = the engine's (span, earliest
    // end) tie-break, then the same 1-based token slice
    "q147_snippets" ->
      """WITH d AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t FROM documents),
        |p2 AS (SELECT doc_id, t,
        |    list_filter(generate_series(1, len(t)), p -> t[p] = 'sort')
        |      AS pa,
        |    list_filter(generate_series(1, len(t)), p -> t[p] = 'merge')
        |      AS pb
        |  FROM d),
        |m2 AS (SELECT doc_id, t, 'sort merge any' AS q,
        |    CAST(len(pa) > 0 AS INT) + CAST(len(pb) > 0 AS INT)
        |      AS n_matched,
        |    CASE WHEN len(pa) > 0 AND len(pb) > 0 THEN
        |        list_min(flatten(list_transform(pa, x ->
        |          list_transform(pb, y ->
        |            [greatest(x, y) - least(x, y), greatest(x, y)]))))
        |      WHEN len(pa) > 0 THEN [CAST(0 AS BIGINT), pa[1]]
        |      ELSE [CAST(0 AS BIGINT), pb[1]] END AS best
        |  FROM p2 WHERE len(pa) > 0 OR len(pb) > 0),
        |p3 AS (SELECT doc_id, t,
        |    list_filter(generate_series(1, len(t)), p -> t[p] = 'query')
        |      AS pa,
        |    list_filter(generate_series(1, len(t)), p -> t[p] = 'table')
        |      AS pb,
        |    list_filter(generate_series(1, len(t)), p -> t[p] = 'join')
        |      AS pc
        |  FROM d),
        |m3 AS (SELECT doc_id, t, 'query table join all' AS q,
        |    3 AS n_matched,
        |    list_min(flatten(flatten(list_transform(pa, x ->
        |      list_transform(pb, y -> list_transform(pc, z ->
        |        [greatest(x, y, z) - least(x, y, z),
        |         greatest(x, y, z)])))))) AS best
        |  FROM p3 WHERE len(pa) > 0 AND len(pb) > 0 AND len(pc) > 0),
        |u AS (SELECT * FROM m2 UNION ALL SELECT * FROM m3)
        |SELECT doc_id, q, CAST(n_matched AS BIGINT) AS n_matched,
        |  CAST(best[2] - best[1] - 1 AS BIGINT) AS start_pos,
        |  CAST(best[2] - 1 AS BIGINT) AS end_pos,
        |  array_to_string(t[(best[2] - best[1]):(best[2])], ' ')
        |    AS snippet
        |FROM u ORDER BY q, doc_id""".stripMargin,

    // phrase semantics replayed over the FINAL post-recrawl corpus
    // state (the q142 wave with ' sort merge' as the modification
    // suffix): the maintained segmented positional index must answer
    // exactly what a direct consecutive-token scan of that corpus
    // answers — tombstones, renumbering fold, and the positional
    // payload all invisible
    "q144_phrase_maintained" ->
      """WITH fin AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 4 THEN c
        |         WHEN doc_id % 7 = 0 THEN c || ' sort merge'
        |         ELSE c END AS text
        |  FROM (SELECT doc_id, coalesce(text, '') AS c FROM documents)
        |  WHERE NOT (doc_id % 5 <> 4 AND doc_id % 7 <> 0
        |             AND doc_id % 11 = 3)),
        |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM fin),
        |m AS (SELECT doc_id,
        |    list_filter(generate_series(1, len(t) - 1),
        |      p -> t[p:p+1] = ['sort', 'merge']) AS starts
        |  FROM d WHERE len(t) >= 2)
        |SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_matches,
        |  CAST(starts[1] - 1 AS BIGINT) AS first_pos
        |FROM m WHERE len(starts) > 0
        |ORDER BY doc_id""".stripMargin,

    // the code-level drift stats replayed through the same
    // fixed-point LUT algebra: per (cell, subspace, code) the
    // codebook entry's inner product with the centroid slice and its
    // squared norm, integer-summed per stored vector, then the
    // IDENTICALLY-parenthesized cosine-displacement float expression
    // the recentered IVF-PQ index re-derived FROM RAW under BOTH
    // written models (the q187 mechanism — the loop commits by MVCC,
    // so the cells are not glob-readable; the live codebooks copy is
    // refreshed only after a successful seal, so it IS the retrained
    // generation): final corpus = the q136 transforms, unit-
    // normalized and PQ-encoded through the retrained codebooks,
    // cell-assigned under the recentered centroids, then the same
    // per-(cell, subspace, code) fixed-point LUT algebra.
    "q143_ivfpq_drift_loop" ->
      """WITH cents AS (SELECT centroid_id AS cid, cvec AS cv
        |  FROM read_parquet('{SCRATCH}/ivfpqd_cents_{SFHASH}/*.parquet')),
        |cb AS (SELECT subspace, code, cvec AS bvec
        |  FROM read_parquet(
        |    '{SCRATCH}/ivfpqd_index_{SFHASH}/codebooks/*.parquet')),
        |lut AS (SELECT cid, subspace, code,
        |    CAST(floor(list_inner_product(bvec,
        |      cv[(subspace * 8 + 1):(subspace * 8 + 8)]) * 1e7 + 0.5)
        |      AS BIGINT) AS ip_fp,
        |    CAST(floor(list_inner_product(bvec, bvec) * 1e7 + 0.5)
        |      AS BIGINT) AS nn_fp
        |  FROM cb, cents),
        |snap AS (SELECT vec_id,
        |    CASE WHEN vec_id % 3 = 0
        |         THEN list_transform(v1, (x, i) ->
        |                CAST(x + cos(CAST(i - 1 AS DOUBLE)) AS FLOAT))
        |         ELSE v1 END AS v
        |  FROM (SELECT vec_id,
        |          CASE WHEN vec_id % 97 = 1
        |               THEN list_transform(embedding,
        |                      x -> x + 0.001::FLOAT)
        |               ELSE embedding END AS v1
        |        FROM embeddings WHERE vec_id <> 0)),
        |asn AS (SELECT snap.vec_id AS vid,
        |    arg_min(cents.cid,
        |      1 - list_cosine_similarity(snap.v::DOUBLE[], cents.cv))
        |      AS cid
        |  FROM snap, cents GROUP BY snap.vec_id),
        |mem AS (SELECT snap.vec_id, asn.cid,
        |    list_transform(snap.v::DOUBLE[],
        |      x -> x / sqrt(list_inner_product(snap.v::DOUBLE[],
        |                                       snap.v::DOUBLE[]))) AS uv
        |  FROM snap JOIN asn ON snap.vec_id = asn.vid),
        |cx AS (SELECT vec_id, cid, subspace, code FROM (
        |    SELECT mem.vec_id, mem.cid, cb.subspace, cb.code,
        |      row_number() OVER (PARTITION BY mem.vec_id, cb.subspace
        |        ORDER BY list_distance(cb.bvec,
        |          uv[(cb.subspace * 8 + 1):(cb.subspace * 8 + 8)]),
        |          cb.code) AS rn
        |    FROM mem, cb) WHERE rn = 1),
        |rowsum AS (SELECT vec_id, cid,
        |    CAST(sum(ip_fp) AS BIGINT) AS ips,
        |    CAST(sum(nn_fp) AS BIGINT) AS nns
        |  FROM cx JOIN lut USING (cid, subspace, code)
        |  GROUP BY 1, 2),
        |cn AS (SELECT cid, sqrt(list_inner_product(cv, cv)) AS cnorm
        |       FROM cents),
        |cd AS (SELECT cid,
        |    CAST(floor((1.0 - (ips / 1e7) /
        |      (sqrt(nns / 1e7) * cnorm)) * 1e7 + 0.5) AS BIGINT)
        |      AS cd_fp
        |  FROM rowsum JOIN cn USING (cid)),
        |cells AS (SELECT cid AS centroid_id, count(*) AS n,
        |    CAST(sum(cd_fp) AS BIGINT) AS cd_fp_sum
        |  FROM cd GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
        |    CAST(max(n) AS BIGINT) AS maxn, count(*) AS cells
        |  FROM cells)
        |SELECT centroid_id, n, cd_fp_sum,
        |  round(cd_fp_sum / n / 1e7, 4) AS mean_cd,
        |  (maxn * cells * 100) // tot AS skew_x100
        |FROM cells CROSS JOIN tot
        |ORDER BY centroid_id""".stripMargin,

    // q130's replay pointed at the REFRESHED layout: the probe over
    // the cell-incrementally maintained index must be reproducible
    // off its own written artifacts exactly like a fresh build's
    // the refreshed state re-derived FROM RAW under the WRITTEN
    // models (the q187 mechanism — the refresh commits by MVCC, so
    // the cells are not glob-readable): final corpus = keep added
    // (%11==5) and the rest minus removed (%13==2, unless added/
    // modified), +0.05f on modified (%7==1, unless added); then
    // unit-normalize, PQ-encode through the written codebooks,
    // assign via the written centroids, ADC-score the probed cells.
    "q141_ivfpq_refresh" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |cents AS (SELECT centroid_id AS cid, cvec AS cv
        |  FROM read_parquet('{SCRATCH}/ivfpqf_cents_{SFHASH}/*.parquet')),
        |probed AS (SELECT cid FROM cents, q
        |           ORDER BY 1 - list_cosine_similarity(cv, qv), cid
        |           LIMIT 3),
        |cb AS (SELECT subspace, code, cvec
        |  FROM read_parquet(
        |    '{SCRATCH}/ivfpqf_index_{SFHASH}/codebooks/*.parquet')),
        |ip AS (SELECT subspace, code,
        |    CAST(floor(list_inner_product(cvec,
        |      qv[(subspace * 8 + 1):(subspace * 8 + 8)]) * 1e7 + 0.5)
        |      AS BIGINT) AS ip_fp
        |  FROM cb, q),
        |snap AS (SELECT vec_id,
        |    CASE WHEN vec_id % 11 <> 5 AND vec_id % 7 = 1
        |         THEN list_transform(embedding,
        |                x -> CAST(x + 0.05::FLOAT AS FLOAT))
        |         ELSE embedding END AS v
        |  FROM embeddings
        |  WHERE vec_id <> 0 AND (vec_id % 11 = 5 OR vec_id % 7 = 1
        |        OR vec_id % 13 <> 2)),
        |asn AS (SELECT snap.vec_id AS vid,
        |    arg_min(cents.cid,
        |      1 - list_cosine_similarity(snap.v::DOUBLE[], cents.cv))
        |      AS cid
        |  FROM snap, cents GROUP BY snap.vec_id),
        |mem AS (SELECT snap.vec_id,
        |    list_transform(snap.v::DOUBLE[],
        |      x -> x / sqrt(list_inner_product(snap.v::DOUBLE[],
        |                                       snap.v::DOUBLE[]))) AS uv
        |  FROM snap JOIN asn ON snap.vec_id = asn.vid
        |  WHERE asn.cid IN (SELECT cid FROM probed)),
        |enc AS (SELECT vec_id, subspace, code FROM (
        |    SELECT mem.vec_id, cb.subspace, cb.code,
        |      row_number() OVER (PARTITION BY mem.vec_id, cb.subspace
        |        ORDER BY list_distance(cb.cvec,
        |          uv[(cb.subspace * 8 + 1):(cb.subspace * 8 + 8)]),
        |          cb.code) AS rn
        |    FROM mem, cb) WHERE rn = 1)
        |SELECT vec_id,
        |  round(CAST(sum(ip_fp) AS BIGINT) / 1e7, 4) AS adc_score
        |FROM enc JOIN ip USING (subspace, code)
        |GROUP BY vec_id ORDER BY adc_score DESC, vec_id
        |LIMIT 10""".stripMargin,

    // q130's replay plus the residual decomposition: per-cell
    // fixed-point q·centroid constants joined back onto the residual
    // lookup sums — both terms off the written parquet
    "q131_ivfpq_residual_probe" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |cents AS (SELECT centroid_id AS cid, cvec AS cv
        |  FROM read_parquet('{SCRATCH}/ivfpqr_cents_{SFHASH}/*.parquet')),
        |probed AS (SELECT cid FROM cents, q
        |           ORDER BY 1 - list_cosine_similarity(cv, qv), cid
        |           LIMIT 3),
        |cellc AS (SELECT cid,
        |    CAST(floor(list_inner_product(cv, qv) * 1e7 + 0.5)
        |      AS BIGINT) AS cell_fp
        |  FROM cents, q WHERE cid IN (SELECT cid FROM probed)),
        |cb AS (SELECT subspace, code, cvec
        |  FROM read_parquet(
        |    '{SCRATCH}/ivfpqr_index_{SFHASH}/codebooks/*.parquet')),
        |ip AS (SELECT subspace, code,
        |    CAST(floor(list_inner_product(cvec,
        |      qv[(subspace * 8 + 1):(subspace * 8 + 8)]) * 1e7 + 0.5)
        |      AS BIGINT) AS ip_fp
        |  FROM cb, q),
        |cx AS (SELECT vec_id, cid, subspace, codes[subspace + 1] AS code
        |  FROM (SELECT vec_id, CAST(centroid_id AS BIGINT) AS cid,
        |          codes, unnest(generate_series(0, 7)) AS subspace
        |        FROM read_parquet(
        |            '{SCRATCH}/ivfpqr_index_{SFHASH}/codes/*/*.parquet',
        |            hive_partitioning = 1)
        |        WHERE CAST(centroid_id AS BIGINT) IN
        |          (SELECT cid FROM probed))),
        |r AS (SELECT vec_id, cid,
        |        CAST(sum(ip_fp) AS BIGINT) AS res_fp
        |      FROM cx JOIN ip USING (subspace, code)
        |      GROUP BY 1, 2)
        |SELECT vec_id,
        |  round((res_fp + cell_fp) / 1e7, 4) AS adc_score
        |FROM r JOIN cellc USING (cid)
        |ORDER BY adc_score DESC, vec_id LIMIT 10""".stripMargin,

    // q131's residual replay off the REFRESHED artifacts: the
    // cell-incremental wave must leave a layout the same two-term
    // fixed-point algebra scores identically
    // q141's from-raw treatment on the RESIDUAL layout: the final
    // corpus re-derived from raw, residual-encoded (unit vector −
    // assigned centroid) through the written codebooks, then the
    // two-term fixed-point replay (res ADC + q·centroid constant).
    "q145_ivfpq_residual_refresh" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |           WHERE vec_id = 0),
        |cents AS (SELECT centroid_id AS cid, cvec AS cv
        |  FROM read_parquet('{SCRATCH}/ivfpqrf_cents_{SFHASH}/*.parquet')),
        |probed AS (SELECT cid FROM cents, q
        |           ORDER BY 1 - list_cosine_similarity(cv, qv), cid
        |           LIMIT 3),
        |cellc AS (SELECT cid,
        |    CAST(floor(list_inner_product(cv, qv) * 1e7 + 0.5)
        |      AS BIGINT) AS cell_fp
        |  FROM cents, q WHERE cid IN (SELECT cid FROM probed)),
        |cb AS (SELECT subspace, code, cvec
        |  FROM read_parquet(
        |    '{SCRATCH}/ivfpqrf_index_{SFHASH}/codebooks/*.parquet')),
        |ip AS (SELECT subspace, code,
        |    CAST(floor(list_inner_product(cvec,
        |      qv[(subspace * 8 + 1):(subspace * 8 + 8)]) * 1e7 + 0.5)
        |      AS BIGINT) AS ip_fp
        |  FROM cb, q),
        |snap AS (SELECT vec_id,
        |    CASE WHEN vec_id % 11 <> 5 AND vec_id % 7 = 1
        |         THEN list_transform(embedding,
        |                x -> CAST(x + 0.05::FLOAT AS FLOAT))
        |         ELSE embedding END AS v
        |  FROM embeddings
        |  WHERE vec_id <> 0 AND (vec_id % 11 = 5 OR vec_id % 7 = 1
        |        OR vec_id % 13 <> 2)),
        |asn AS (SELECT snap.vec_id AS vid,
        |    arg_min(cents.cid,
        |      1 - list_cosine_similarity(snap.v::DOUBLE[], cents.cv))
        |      AS cid
        |  FROM snap, cents GROUP BY snap.vec_id),
        |mem AS (SELECT snap.vec_id, asn.cid,
        |    list_transform(snap.v::DOUBLE[],
        |      (x, i) -> x / sqrt(list_inner_product(snap.v::DOUBLE[],
        |                                            snap.v::DOUBLE[]))
        |                - cv[i]) AS rv
        |  FROM snap JOIN asn ON snap.vec_id = asn.vid
        |  JOIN cents ON asn.cid = cents.cid
        |  WHERE asn.cid IN (SELECT cid FROM probed)),
        |cx AS (SELECT vec_id, cid, subspace, code FROM (
        |    SELECT mem.vec_id, mem.cid, cb.subspace, cb.code,
        |      row_number() OVER (PARTITION BY mem.vec_id, cb.subspace
        |        ORDER BY list_distance(cb.cvec,
        |          rv[(cb.subspace * 8 + 1):(cb.subspace * 8 + 8)]),
        |          cb.code) AS rn
        |    FROM mem, cb) WHERE rn = 1),
        |r AS (SELECT vec_id, cid,
        |        CAST(sum(ip_fp) AS BIGINT) AS res_fp
        |      FROM cx JOIN ip USING (subspace, code)
        |      GROUP BY 1, 2)
        |SELECT vec_id,
        |  round((res_fp + cell_fp) / 1e7, 4) AS adc_score
        |FROM r JOIN cellc USING (cid)
        |ORDER BY adc_score DESC, vec_id LIMIT 10""".stripMargin,

    // per-doc piece counts off the written segmentation, then q126's
    // cumsum-window + interval algebra verbatim over PIECES
    "q133_tokenize_pack" ->
      """WITH w0 AS (SELECT doc_id, source,
        |    unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |w AS (SELECT doc_id, source, word FROM w0 WHERE word <> ''),
        |v AS (SELECT word, CAST(len(syms) AS BIGINT) AS k
        |  FROM read_parquet('{SCRATCH}/bpe_pack_{SFHASH}/*.parquet')),
        |d AS (SELECT doc_id, source, CAST(sum(k) AS BIGINT) AS n
        |  FROM w JOIN v USING (word) GROUP BY 1, 2),
        |o AS (SELECT *, CAST(coalesce(sum(n) OVER (
        |      ORDER BY source, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS off
        |  FROM d WHERE n > 0),
        |e AS (SELECT off, n,
        |    unnest(generate_series(off // 64, (off + n - 1) // 64))
        |      AS seq_id
        |  FROM o)
        |SELECT seq_id,
        |  CAST(sum(least((seq_id + 1) * 64, off + n)
        |           - greatest(seq_id * 64, off)) AS BIGINT) AS n_tokens,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN off >= seq_id * 64 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_starts,
        |  CAST(sum(CASE WHEN off >= seq_id * 64
        |                 AND off + n <= (seq_id + 1) * 64
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_full_docs
        |FROM e GROUP BY seq_id ORDER BY seq_id""".stripMargin,

    // every signal re-derived from proven spellings: q14's token-set
    // signature, q104's integer Gopher rules, q15-style accounting;
    // dup rate integer-cross-multiplied
    "q132_dataset_card" ->
      """WITH t AS (SELECT doc_id, source, lang, n_chars,
        |    string_split(coalesce(text, ''), ' ') AS t
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
        |    CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT)
        |      AS sum_len,
        |    CAST(len(list_intersect(list_distinct(t),
        |      ['scan', 'table', 'row', 'data', 'query', 'filter']))
        |      AS BIGINT) AS stop_hits
        |  FROM t),
        |fl AS (SELECT doc_id,
        |    CASE WHEN n_tokens BETWEEN 20 AND 90
        |          AND sum_len * 10 >= n_tokens * 40
        |          AND sum_len * 10 <= n_tokens * 100
        |          AND n_distinct * 2 >= n_tokens
        |          AND stop_hits >= 2
        |         THEN 1 ELSE 0 END AS pass
        |  FROM m),
        |base AS (SELECT t.doc_id, t.source, t.lang, t.n_chars,
        |    CAST(len(t.t) AS BIGINT) AS n_toks,
        |    array_to_string(list_sort(list_distinct(t.t)), ' ') AS sig,
        |    fl.pass
        |  FROM t JOIN fl USING (doc_id)),
        |agg AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(min(n_toks) AS BIGINT) AS min_toks,
        |    CAST(max(n_toks) AS BIGINT) AS max_toks,
        |    count(DISTINCT lang) AS n_langs,
        |    count(DISTINCT sig) AS n_distinct_sigs,
        |    CAST(sum(pass) AS BIGINT) AS n_gopher_pass
        |  FROM base GROUP BY source)
        |SELECT *,
        |  ((n_docs - n_distinct_sigs) * 10000) // n_docs AS dup_bp
        |FROM agg ORDER BY source""".stripMargin,

    // q97's direct-scan SQL with q114's panel and k — the oracle
    // recomputes from the base table, so the materialized index and
    // its pruned probe must reproduce the full scan bit-for-bit
    "q114_bm25_index_probe" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split(coalesce(text, ''), ' ') AS t
        |  FROM documents),
        |tc AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf
        |       FROM tc GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl
        |          FROM toks),
        |q AS (SELECT * FROM (VALUES (0, 'sort merge join'),
        |        (1, 'query filter scan'), (2, 'window batch table'))
        |        v(qid, qtext)),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' '))
        |         AS term FROM q),
        |scored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    round(sum(CAST(floor((ln(1 + (n_docs - df + 0.5) /
        |        (df + 0.5)) *
        |      (tf * CAST(1.2 + 1 AS DOUBLE)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |      * 1e7 + 0.5) AS BIGINT)) / 1e7, 4) AS score
        |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
        |  CROSS JOIN stats
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |      FROM scored)
        |SELECT qid, doc_id, score FROM r WHERE rn <= 15
        |ORDER BY qid, score DESC, doc_id""".stripMargin,

    // the canonical form reimplemented in SQL: same regexes (RE2-safe,
    // no group refs in replacements), same default-port/trailing-slash
    // CASE logic, same tracking filter + sort over split params
    "q113_url_dedup" ->
      """WITH u0 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      'HTTPS://WWW.' || source || '.Example.COM:443//docs//'
        |        || CAST(doc_id % 40 AS VARCHAR)
        |        || '/?utm_source=x&b=2&a=1#frag'
        |    WHEN doc_id % 3 = 1 THEN
        |      'https://www.' || source || '.example.com/docs/'
        |        || CAST(doc_id % 40 AS VARCHAR) || '?a=1&b=2&gclid=zz'
        |    ELSE
        |      'http://www.' || source || '.example.com:80/docs/'
        |        || CAST(doc_id % 40 AS VARCHAR) || '/extra'
        |    END AS u
        |  FROM documents),
        |defrag AS (SELECT doc_id,
        |    regexp_replace(trim(u), '#.*$', '') AS u FROM u0),
        |parts AS (SELECT doc_id, u,
        |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |      AS scheme,
        |    lower(regexp_extract(u, '^[^:/?#]+://([^/?#]*)', 1)) AS hp,
        |    regexp_replace(
        |      regexp_extract(u, '^[^:/?#]+://[^/?#]*([^?#]*)', 1),
        |      '/{2,}', '/', 'g') AS sq,
        |    regexp_extract(u, '\?([^#]*)', 1) AS rq
        |  FROM defrag),
        |canon AS (SELECT doc_id,
        |    CASE WHEN scheme = '' THEN lower(trim(u)) ELSE
        |      scheme || '://'
        |      || CASE WHEN scheme = 'http'
        |              THEN regexp_replace(hp, ':80$', '')
        |              WHEN scheme = 'https'
        |              THEN regexp_replace(hp, ':443$', '')
        |              ELSE hp END
        |      || CASE WHEN p2 = '' THEN '/' ELSE p2 END
        |      || CASE WHEN len(kept) > 0
        |              THEN '?' || array_to_string(kept, '&')
        |              ELSE '' END
        |    END AS canon
        |  FROM (SELECT doc_id, u, scheme, hp,
        |          CASE WHEN length(sq) > 1 AND sq LIKE '%/'
        |               THEN substr(sq, 1, length(sq) - 1)
        |               ELSE sq END AS p2,
        |          list_sort(list_filter(str_split(rq, '&'),
        |            x -> NOT (x = '' OR regexp_matches(x,
        |              '^(utm_[^=&]*|gclid|fbclid|ref)(=.*)?$'))))
        |            AS kept
        |        FROM parts))
        |SELECT canon, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM canon GROUP BY canon ORDER BY canon""".stripMargin,

    // the identical page construction + the identical RE2 regex chain
    // (every pattern avoids backreferences/lookaround so Java regex
    // and RE2 agree; 'g' flag spelled because DuckDB replaces first
    // match by default where Spark replaces all)
    "q112_markup_strip" ->
      """WITH h AS (SELECT doc_id,
        |    '<html><!-- c --><head><style type="text/css">p{color:red}'
        |    || '</style><script>var x=1;</script></head><body><h1>T</h1><p>'
        |    || replace(coalesce(text, ''), ' ', '&nbsp;')
        |    || '</p><div>&amp; &lt;tag&gt;</div><a href="#">l</a>'
        |    || '<a href="#">l2</a>'
        |    || CASE WHEN doc_id % 3 = 0 THEN '<a href="x">m</a>'
        |            ELSE '' END
        |    || '</body></html>' AS html
        |  FROM documents),
        |c AS (SELECT doc_id, html,
        |  trim(
        |    regexp_replace(
        |      regexp_replace(
        |        replace(replace(replace(replace(replace(replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(
        |                  regexp_replace(html,
        |                    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |                  '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |                '(?s)<!--.*?-->', ' ', 'g'),
        |              '(?i)</?(p|div|br|h[1-6]|li|ul|ol|tr|table)[^>]*>',
        |              chr(10), 'g'),
        |            '<[^>]+>', '', 'g'),
        |          '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |          '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |        '[ \t]+', ' ', 'g'),
        |      ' ?\n[ \n]*', chr(10), 'g'),
        |    ' ' || chr(10)) AS clean
        |  FROM h)
        |SELECT doc_id, md5(clean) AS clean_md5,
        |  CAST(length(html) AS BIGINT) AS raw_len,
        |  CAST(length(clean) AS BIGINT) AS clean_len,
        |  CAST(len(regexp_extract_all(html, '(?i)<a[\s/>]')) AS BIGINT)
        |    AS n_links,
        |  round(CAST(length(clean) AS DOUBLE)
        |        / greatest(length(html), 1), 4) AS text_ratio
        |FROM c ORDER BY doc_id""".stripMargin,

    // relational replay of the streaming watermark-upsert rules:
    // per-wave watermark = running max event time of PRIOR waves −
    // delay; late rows dropped; q84's winner rule on the survivors;
    // evicted ⇔ timeout (max admitted ts + delay + 1) below the final
    // watermark
    "q92_streaming_upsert_replay" ->
      """WITH w1 AS (SELECT doc_id, text || ' w1' AS text,
        |              CAST(1 AS BIGINT) AS v,
        |              1700000000000 + doc_id * 1000 AS tsms, 1 AS wave
        |            FROM documents WHERE doc_id % 10 = 0),
        |w2 AS (SELECT doc_id, text || ' w2' AS text,
        |         CAST(2 AS BIGINT) AS v,
        |         1700000000000 + doc_id * 1000 + 600000 AS tsms, 2 AS wave
        |       FROM documents WHERE doc_id % 20 = 0),
        |w2l AS (SELECT doc_id, text || ' w2late' AS text,
        |          CAST(3 AS BIGINT) AS v,
        |          1700000000000 + doc_id * 1000 + 350000 AS tsms, 2 AS wave
        |        FROM documents WHERE doc_id % 50 = 0),
        |adv AS (SELECT CAST(999999 AS BIGINT) AS doc_id,
        |          'wm-advance' AS text, CAST(1 AS BIGINT) AS v,
        |          CAST(1700000000000 + 3600000 AS BIGINT) AS tsms, 3 AS wave),
        |u AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2
        |      UNION ALL SELECT * FROM w2l UNION ALL SELECT * FROM adv),
        |wavemax AS (SELECT wave, max(tsms) AS wmax FROM u GROUP BY 1),
        |wmk AS (SELECT wave, max(wmax) OVER (ORDER BY wave
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          - 60000 AS wm
        |        FROM wavemax),
        |adm AS (SELECT u.* FROM u JOIN wmk ON u.wave = wmk.wave
        |        WHERE wmk.wm IS NULL OR u.tsms > wmk.wm),
        |fin AS (SELECT max(tsms) - 60000 AS f FROM u),
        |mts AS (SELECT doc_id, max(tsms) AS maxts FROM adm GROUP BY 1),
        |best AS (SELECT doc_id, max(v) AS bv FROM adm GROUP BY 1),
        |win0 AS (SELECT DISTINCT adm.doc_id, adm.text, adm.v FROM adm
        |         JOIN best ON adm.doc_id = best.doc_id
        |                  AND adm.v = best.bv),
        |tb AS (SELECT doc_id, min(text) AS mt FROM win0 GROUP BY 1),
        |win AS (SELECT win0.* FROM win0
        |        JOIN tb ON win0.doc_id = tb.doc_id
        |                AND win0.text = tb.mt)
        |SELECT w.doc_id, w.text, w.v,
        |  CAST((m.maxts + 60000 + 1) < (SELECT f FROM fin) AS INT)
        |    AS evicted
        |FROM win w JOIN mts m ON w.doc_id = m.doc_id
        |ORDER BY w.doc_id""".stripMargin,
  )

  // q180 shares q167's oracle VERBATIM: the per-field index layout
  // must be invisible to BM25F scoring (the index≡scan contract) —
  // one string, so the two gates can never drift
  val oracleSql: Map[String, String] =
    oracleSqlBase + ("q180_bm25f_indexed" -> oracleSqlBase("q167_bm25f"))
}
