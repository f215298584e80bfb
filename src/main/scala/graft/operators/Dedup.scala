package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Caching.{cached, cachedSer}

/** X1 — deduplication family for a training-data pipeline.
  *
  * Three tiers, in increasing fuzziness:
  *   1. exact — group by a content signature (sorted distinct tokens),
  *      keep the lowest id. Oracle-checkable.
  *   2. MinHash + LSH — banded signature join: candidates are pairs that
  *      collide in ≥1 band; verified with exact Jaccard. NEVER all-pairs:
  *      the only join key is (band index, band hash), so cost scales with
  *      bucket occupancy, not n². Engine-specific hashes (xxhash64) →
  *      no DuckDB oracle; invariant-tested against planted near-dups.
  *   3. SimHash — 64-bit weighted bit-vote fingerprint; near-dup iff
  *      Hamming distance ≤ k. Candidates via 16-bit band pigeonhole
  *      (d ≤ 3 ⇒ at least one of 4 bands identical).
  *
  * All signature math is higher-order-function expressions (codegen'd,
  * no UDF); the shuffles are groupBy/join on banded keys — the shapes
  * that survive 100 TB.
  */
object Dedup {

  /** Exact dedup signature: order/multiplicity-insensitive token set. */
  def tokenSetSignature(text: Column): Column =
    concat_ws(" ", array_sort(array_distinct(split(text, " "))))

  /** Exact dedup: one representative (min id) + duplicate count per
    * signature. A single hash-aggregate — map-side partial combine makes
    * the shuffle |groups|-sized. The group key is md5(signature), NOT
    * the signature itself: the raw signature is document-sized, so
    * grouping on it shuffles the whole corpus as keys; the digest is a
    * fixed 32 bytes (collision odds ~2⁻⁶⁴ — the standard dedup-system
    * trade, same as the hashed shingles below). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.withColumn("sig", md5(tokenSetSignature(col(textCol))))
      .groupBy("sig")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signature: k hash functions h_i(s) = xxhash64(i, s); the
    * signature component i is min over shingles. One expression per
    * component — no shuffle at all until the band join. */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(shingleCol, s => xxhash64(lit(i), s)))): _*)

  /** LSH bands: split the k-component signature into b bands of r = k/b
    * and hash each slice; a pair of docs is a candidate iff some band
    * hash collides. P(candidate) = 1 − (1 − j^r)^b for Jaccard j. */
  def lshBandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(i =>
      struct(lit(i).as("band"),
        hash(slice(sig, i * rowsPerBand + 1, rowsPerBand)).as("bh"))): _*)

  /** Per-doc shingle sets, CACHED: every consumer below references this
    * frame multiple times (signature hashing, both sides of the band
    * self-join, both sides of the verification join). Left lazy, Spark
    * re-evaluates the shingle-construction HOF once per reference —
    * measured 24× per row inside the 24-component signature and 2× more
    * in verification, turning a 3 s computation into 60+ s at sf0.1.
    * At 100 TB the same principle holds at a different tier: the
    * shingle/signature frame is materialized once (table or shuffle
    * reuse), never recomputed per consumer. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int): DataFrame =
    // tokens() in its own projection first (no subexpr elimination
    // inside HOF lambdas — the shingle slice over a raw split would
    // re-tokenize per element; measured 6×, NOTES_r9.md)
    // serialized: per-doc shingle-hash ARRAYS are the worst case for
    // deserialized caching (object header per element) — see cachedSer
    cachedSer(docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col(idCol),
        // pre-hash shingles to longs: the 24 signature hash functions
        // and the intersect/union verification then work on 8-byte
        // keys instead of strings (identical results modulo ~2⁻⁶⁴
        // collisions)
        transform(TextAnalysis.shingles(col("toks"), shingleN),
          s => xxhash64(s))
          .as("shs")))

  /** Candidate pairs from banded MinHash LSH.
    *
    * `minBands`: require collision in at least this many bands. With
    * b=8/r=3, a j=0.9 pair collides per band with p=0.73, so P(≥2
    * bands) ≈ 1 — recall for true near-dups is unchanged — while a
    * j=0.3 pair drops from P 0.20 to 0.02: on low-entropy corpora
    * (shared vocabulary) this keeps |candidates| proportional to real
    * near-dups instead of n². */
  def minhashCandidatesFrom(sh: DataFrame, idCol: String,
                            k: Int = 24, bands: Int = 8,
                            minBands: Int = 2): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val sigs = sh.select(col(idCol), minhashSignature(col("shs"), k).as("sig"))
    // cached: `banded` is self-joined as a/b below, so without
    // materialization the k-hash-function signature pipeline is computed
    // TWICE (once per join side) — the same HOF-duplication trap
    // simhashNearDups documents for its 64-expression fingerprint
    val banded = cached(sigs.select(col(idCol),
      explode(lshBandHashes(col("sig"), bands, k / bands)).as("bandh")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.bandh") === col("b.bandh") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= minBands)
      .select(col("id1"), col("id2"))
  }

  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, k: Int = 24,
                        bands: Int = 8, minBands: Int = 2): DataFrame =
    minhashCandidatesFrom(shingleSets(docs, idCol, textCol, shingleN),
      idCol, k, bands, minBands)

  /** Full fuzzy dedup: LSH candidates verified with exact n-gram Jaccard
    * (recomputed only for candidate pairs — the expensive exact measure
    * runs on |candidates|, not n²). */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      minJaccard: Double, shingleN: Int = 3,
                      k: Int = 24, bands: Int = 8): DataFrame = {
    val sh = shingleSets(docs, idCol, textCol, shingleN)
    val cands = minhashCandidatesFrom(sh, idCol, k, bands)
    val s1 = sh.select(col(idCol).as("did1"), col("shs").as("shs1"))
    val s2 = sh.select(col(idCol).as("did2"), col("shs").as("shs2"))
    cands
      .join(s1, col("id1") === col("did1"))
      .join(s2, col("id2") === col("did2"))
      .select(col("id1"), col("id2"),
        round(size(array_intersect(col("shs1"), col("shs2"))).cast("double") /
          size(array_union(col("shs1"), col("shs2"))).cast("double"), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Connected components over an undirected near-dup pair graph
    * (id1, id2) — the step that turns pairwise similarity into a dedup
    * DECISION: every doc gets the minimum doc-id of its component;
    * keep one representative per component, drop the rest.
    *
    * Min-label propagation WITH pointer jumping: each round every node
    * adopts the smallest label among {itself, its neighbors' labels,
    * its label's label}. The shortcut step compresses label chains
    * (node→label→label's label) so convergence is O(log diameter)
    * rounds instead of O(diameter) — a 10⁶-long path needs ~20 rounds,
    * not 10⁶. Each round is two distributed joins + an aggregate — the
    * standard Pregel shape; the driver only checks a one-row
    * convergence count per round.
    *
    * Throws on non-convergence instead of silently returning partial
    * labels (a silently-wrong dedup decision poisons the corpus).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    // Lineage-truncation strategy per round: localCheckpoint blocks are
    // lost with an executor, which on a real cluster silently poisons
    // the dedup decision — so when the application has configured a
    // reliable checkpoint dir (spark.sparkContext.setCheckpointDir),
    // rounds checkpoint THERE; localCheckpoint only in its absence
    // (single-JVM local mode, where executor loss is process death).
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    // both edge directions in ONE pass over the pair lineage (explode,
    // not self-union): the union form's two branches each embed the
    // full upstream pair-generation plan, and when the upstream's
    // internal caches sit under memory pressure the branches recompute
    // it — measured 85 s vs 13 s on the same 10×-inflated corpus
    // (round 8, NOTES_r8.md). Per-row output is identical. No eager
    // count(): the round-0 label aggregate below is the first consumer
    // and populates this cache while doing useful work — an up-front
    // count is a whole extra pass over the pair lineage.
    // (The cache level stays the DataFrame default: SQL caches store
    // compressed columnar batches either way, so a *_SER level would
    // only re-serialize the already-serialized batch objects.)
    val edges = cached(pairs.select(explode(array(
        struct(col("id1").as("a"), col("id2").as("b")),
        struct(col("id2").as("a"), col("id1").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b")))
    // fold round 1 into initialization: each node starts at
    // min(self, neighbors) instead of self — one fewer join round
    var labels = cached(edges.groupBy(col("a"))
      .agg(least(min(col("b")), col("a")).as("label"))
      .withColumnRenamed("a", "node"))
    // the previous round's local-checkpoint blocks, released explicitly
    // once the current round has materialized: Dataset.unpersist() does
    // NOT free them (they live at RDD level, outside the CacheManager),
    // and waiting for the ContextCleaner means every round's blocks pile
    // up in the BlockManager for the query's whole lifetime — the
    // big-heap allocation-pressure defect of the round-8 bench record.
    var prevRoundRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels, edges("b") === labels("node"))
        .groupBy(col("a")).agg(min(col("label")).as("nmin"))
      // carry the previous label through the propagation join so the
      // convergence check needs no extra join — one filter on the
      // already-cached frame instead of a second shuffle per round
      val prop = cached(labels
        .join(neighborMin, labels("node") === neighborMin("a"), "left")
        .select(col("node"), col("label").as("prev"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label")))
      // pointer jumping: adopt the label of one's label. Every label IS
      // a node id present in `prop` (labels only ever take values from
      // the node domain), so the lookup side is prop itself.
      val lab2 = prop.select(col("node").as("_ln"), col("label").as("_ll"))
      // checkpoint (eager), NOT cache: each round's plan embeds the
      // previous round's TWICE (prop + lab2 sides of the jump join), so
      // lineage doubles per round — by round ~6 the logical plan itself
      // OOMs the driver. Checkpointing truncates lineage to the
      // materialized data. The local flavor stores SERIALIZED blocks:
      // MEMORY_AND_DISK at RDD level means deserialized row objects,
      // and a big heap full of them is exactly the GC profile the
      // round-8 driver bench caught.
      val jumped = prop
        .join(lab2, prop("label") === lab2("_ln"), "left")
        .select(col("node"), col("prev"),
          least(col("label"), coalesce(col("_ll"), col("label"))).as("label"))
      val next =
        if (reliable) {
          // persist BEFORE checkpoint: RDD.checkpoint recomputes its
          // lineage in the separate checkpoint-write job, so an
          // unpersisted round would run its two joins twice (the RDD
          // API's own documented caveat); the cache is dropped below
          // once the files are written
          jumped.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          jumped.checkpoint(true)
        } else jumped.localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val changed = next.filter(col("label") =!= col("prev")).limit(1).count()
      prop.unpersist()
      labels.unpersist()
      if (reliable) jumped.unpersist(blocking = false)
      // `next` is materialized, so the previous round's blocks/files
      // have no remaining reader — free them now. Local mode: explicit
      // block unpersist (the ContextCleaner would wait for GC).
      // Reliable mode: delete the previous round's checkpoint files
      // (Spark only ever cleans them with
      // spark.cleaner.referenceTracking.cleanCheckpoints=true, and
      // then only at GC time — a long-running corpus service would
      // otherwise grow the checkpoint FS by maxIter snapshots per call)
      prevRoundRdd.foreach { prev =>
        prev.getCheckpointFile match {
          case Some(dir) =>
            val p = new org.apache.hadoop.fs.Path(dir)
            try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .delete(p, true)
            catch { case scala.util.control.NonFatal(_) => () }
          case None => prev.unpersist(blocking = false)
        }
      }
      prevRoundRdd = materializedRdd(next)
      labels = next.select(col("node"), col("label"))
      converged = changed == 0
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component diameter exceeds 2^rounds; raise maxIter")
    // labels is checkpoint-materialized (lineage-free), so the edge
    // cache can be released before returning. The FINAL round's blocks
    // stay — the caller is about to read them; the ContextCleaner frees
    // that one round's worth (vs every round's, before this fix) when
    // the frame goes out of reach.
    edges.unpersist()
    labels
  }

  /** The materialized RDD behind a checkpointed frame (the LogicalRDD
    * leaf), for explicit block release — None for plans not backed by
    * one. */
  private def materializedRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.headOption

  /** Drop-list from verified near-dup pairs: every doc that is NOT the
    * minimum id of its component. `docs.join(dropList, …, "left_anti")`
    * is the final dedup. */
  def nearDupDropList(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .filter(col("node") =!= col("label"))
      .select(col("node").as("drop_id"), col("label").as("kept_id"))

  /** Incremental exact dedup with a BLOOM PRE-FILTER — the q65 shape
    * plus the probe that makes it cheap at 100 TB: the corpus signature
    * set compresses to a fixed-size bloom shipped to every task, so the
    * typical batch row (new content) never reaches the anti-join at
    * all. Split by the probe:
    *   - might_contain = false → DEFINITELY new (bloom guarantees no
    *     false negatives) → kept with zero join work;
    *   - might_contain = true → maybe seen → exact anti-join against
    *     the corpus signatures resolves the false positives.
    * The result is therefore EXACTLY the plain anti-join's, by
    * construction, for any fpp — fpp only tunes how much traffic the
    * join sees. At corpus sizes where one bloom exceeds task memory,
    * shard it by signature prefix and probe the matching shard.
    *
    * `corpusSigCount` is the expected-items hint for sizing (callers
    * know their corpus size; recount if unknown). */
  def incrementalExactBloom(batch: DataFrame, corpusSigs: DataFrame,
                            idCol: String, textCol: String,
                            corpusSigCount: Long,
                            fpp: Double = 0.03): DataFrame = {
    import graft.functions.BloomFns
    val bloomBytes = BloomFns.serialize(
      BloomFns.buildOverHashes(corpusSigs, col("sig"),
        math.max(corpusSigCount, 1L), fpp))
    val grouped = batch
      .withColumn("sig", md5(tokenSetSignature(col(textCol))))
      .groupBy(col("sig"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_batch_dups"))
      .withColumn("_maybe", BloomFns.mightContainHash(bloomBytes, col("sig")))
    val definitelyNew = grouped.filter(!col("_maybe"))
    val resolved = grouped.filter(col("_maybe"))
      .join(corpusSigs, Seq("sig"), "left_anti")
    definitelyNew.unionByName(resolved)
      .select(col("keep_id"), col("n_batch_dups"))
  }

  /** 64-bit SimHash: per bit, tokens vote +1 (bit set in their hash) or
    * −1; the fingerprint bit is the majority. Distinct tokens, weight 1.
    * 64 unrolled codegen'd expressions (i is a Scala literal, so
    * shiftright gets a constant). */
  def simhash(toks: Column): Column =
    simhashFromHashes(transform(array_distinct(toks), t => xxhash64(t)))

  /** Bit votes over an ALREADY-MATERIALIZED hash array column, as ONE
    * aggregate pass: fold the hash array into a 64-long vote-count
    * array (zip_with against bit positions), then pack bits where the
    * majority votes 1. Callers must still alias the token-hash
    * transform into its own projection first (otherwise the transform
    * is inlined and re-evaluated per fold step — same pathology as the
    * MinHash signature, see [[shingleSets]]). The earlier unrolled
    * form — 64 independent `filter(hs, bit i set)` subtrees per use —
    * walked the hash array 64× per row AND put ~10³ nodes into the
    * plan per signature; with two hash families (q47) every action on
    * the frame re-analyzed that tree, a measured ~1 s/action of pure
    * plan overhead. Vote rule unchanged (count·2 > n ⇒ bit set) — the
    * pinned q47 digests verify the refactor bit-for-bit. */
  def simhashFromHashes(hs: Column): Column = {
    val counts = aggregate(hs, array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)),
        (a, i) => a + call_function("shiftright", h, i)
          .bitwiseAND(lit(1L))))
    // coalesce preserves the unrolled form's NULL semantics: a null
    // hash array (null text never tokenized) fingerprints as 0L — all
    // null-text docs are hamming-0 duplicates of each other — instead
    // of a null that would silently drop them from every pair filter
    coalesce(aggregate(
      zip_with(counts, sequence(lit(0), lit(63)), (c, i) =>
        when(c * 2 > size(hs), call_function("shiftleft", lit(1L), i))
          .otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b)), lit(0L))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist (≤ 3 with 4
    * bands): candidates share at least one identical 16-bit quarter
    * (pigeonhole), then verified with bit_count(xor). */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxDist: Int = 3): DataFrame = {
    val withHs = docs.select(col(idCol),
      transform(array_distinct(TextAnalysis.tokens(col(textCol))),
        t => xxhash64(t)).as("hs"))
    // cached: `banded` is self-joined as a/b, so without materialization
    // the 64-expression fingerprint pipeline runs TWICE (once per join
    // side) — the same HOF-duplication trap shingleSets documents
    val withSig = cached(withHs.select(col(idCol),
      simhashFromHashes(col("hs")).as("sh64")))
    val banded = withSig.select(col(idCol), col("sh64"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"),
          shiftright(col("sh64"), i * 16).bitwiseAND(lit(0xFFFFL)).as("bh"))
      ): _*)).as("bandh"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.bandh") === col("b.bandh") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"),
        bit_count(col("a.sh64").bitwiseXOR(col("b.sh64"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** SimHash near-dup, 128-bit scale path. The 64-bit/4×16-bit-band
    * scheme above saturates at corpus scale: 16-bit bands give only
    * 65,536 buckets, so expected candidate pairs grow ~n²/2¹⁶ per band
    * — at 10⁹ docs that is ~10¹³ pairs, a scale-killer. Here the
    * fingerprint is 128 bits (two independent 64-bit SimHashes from
    * seeded hash families) split into 4 bands of 32 bits: 2³² buckets
    * per band pushes the same birthday term down to ~n²/2³² — a 65,536×
    * reduction in accidental collisions for the same band count.
    *
    * Pigeonhole recall guarantee: hamming ≤ 3 over the 128-bit
    * fingerprint ⇒ at least one of the 4 bands is untouched ⇒ the pair
    * collides in some band. (maxDist ≤ bands − 1 for the guarantee to
    * hold, checked.) Note a 128-bit fingerprint roughly doubles the
    * hamming distance of a given near-dup pair vs the 64-bit scheme, so
    * thresholds do not transfer 1:1 between the two.
    */
  def simhashNearDupsWide(docs: DataFrame, idCol: String, textCol: String,
                          maxDist: Int = 3): DataFrame = {
    val bands = 4
    require(maxDist <= bands - 1,
      s"hamming ≤ $maxDist cannot be guaranteed by $bands bands (need ≥ ${maxDist + 1})")
    // token hashes aliased into their own projection (HOF-duplication
    // trap): two independent families via a seed literal in the hash
    val withTok = docs.select(col(idCol),
      array_distinct(TextAnalysis.tokens(col(textCol))).as("_tk"))
    val withHs = withTok.select(col(idCol),
      transform(col("_tk"), t => xxhash64(t)).as("hs0"),
      transform(col("_tk"), t => xxhash64(lit(1), t)).as("hs1"))
    // cached for the same reason as simhashNearDups: the banded frame
    // is self-joined, and this is 128 per-bit expressions per row
    val withSig = cached(withHs.select(col(idCol),
      simhashFromHashes(col("hs0")).as("w0"),
      simhashFromHashes(col("hs1")).as("w1")))
    val bandExprs = for (w <- 0 until 2; h <- 0 until 2) yield
      struct(lit(w * 2 + h).as("band"),
        shiftright(col(s"w$w"), h * 32).bitwiseAND(lit(0xFFFFFFFFL)).as("bh"))
    val banded = withSig.select(col(idCol), col("w0"), col("w1"),
      explode(array(bandExprs: _*)).as("bandh"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.bandh") === col("b.bandh") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"),
        (bit_count(col("a.w0").bitwiseXOR(col("b.w0"))) +
          bit_count(col("a.w1").bitwiseXOR(col("b.w1")))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Edit-distance near-dup pairs over a df-capped fingerprint block.
    *
    * Block key: an 8-hex-char md5 prefix of the document's first token —
    * the same partitioning as raw first-token blocking, but with a
    * constant-width join key however long the token is. Blocks whose
    * size falls outside [minBlock, maxBlock] are DROPPED before the pair
    * join (the stop-shingle pattern of [[TextAnalysis.jaccardPairs]]):
    * on real text the most common first token ("the …") captures a huge
    * block, and an uncapped in-block self-join goes quadratic on that
    * one key — the skew bomb this cap defuses. Per-block work is bounded
    * at maxBlock²/2 pairs whatever the corpus; the recall loss on
    * dropped blocks is the documented trade, same as stop shingles.
    * Pairs are scored with thresholded levenshtein over the headLen-char
    * head — banded DP, O(maxDist·len) per pair, -1 above the bound.
    *
    * Fully oracle-expressible (unlike the hash-signature tiers): md5 and
    * levenshtein are engine-portable.
    */
  def editNearDups(docs: DataFrame, idCol: String, textCol: String,
                   headLen: Int = 40, maxDist: Int = 5,
                   minBlock: Int = 2, maxBlock: Int = 1000): DataFrame = {
    val d = docs.select(col(idCol),
      substring(col(textCol), 1, headLen).as("head"),
      substring(md5(split(col(textCol), " ").getItem(0)), 1, 8).as("blk"))
    // |blocks|-row map-side-combined aggregate; the survivors join back
    // as a (small) filter relation — AQE broadcasts it when it fits
    val sized = d.groupBy(col("blk")).agg(count(lit(1)).as("_bn"))
      .filter(col("_bn").between(minBlock, maxBlock))
      .select(col("blk"))
    // cached: self-joined as a/b below — without materialization the
    // scan + block filter run once per join side. Serialized persist:
    // the frame carries headLen-char heads for the whole corpus, and as
    // a deserialized block it pays the big-heap first-touch tax
    // (q55's r9 driver regression — same signature q39 had).
    val blocked = cachedSer(d.join(sized, "blk"))
    blocked.as("a")
      .join(blocked.as("b"),
        col("a.blk") === col("b.blk") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"),
        levenshtein(col("a.head"), col("b.head"), maxDist).cast("long")
          .as("lev"))
      .filter(col("lev") >= 0 && col("lev") <= maxDist)
  }

  /** Exact-substring (shared-span) near-dup detection — the POSITIONAL
    * member of the family (Lee et al. 2022's "deduplicating training
    * data makes language models better" exact-substring criterion,
    * re-expressed relationally). jaccard/minhash/simhash are all
    * set-based and blind to contiguity; this finds pairs of documents
    * sharing a run of ≥ `minSpan` consecutive tokens, and reports the
    * longest such run per pair.
    *
    * Shape: positional n-gram shingles (pos, xxhash64) → frequency cap
    * on total OCCURRENCES (not just distinct docs: positional shingles
    * are deliberately non-distinct, so a shingle at p positions in doc
    * A and q in doc B yields p·q match rows — capping occurrences
    * bounds that product the way jaccardPairs' df cap bounds its
    * per-doc-distinct join; a repeated-boilerplate shingle is exactly
    * the stop-shingle hazard) →
    * self-join on the 8-byte hash → diagonal islands: a shared run of
    * R tokens is exactly R−n+1 consecutive positional matches on one
    * diagonal (pa − pb constant), so `grp = pa − row_number` groups
    * each island and `count + n − 1` recovers the span length. All
    * integer arithmetic after the hash — bit-exact against the oracle
    * (which joins raw shingle strings where the engine shuffles
    * xxhash64 keys: the registered q26/q57/q95 collision trade).
    *
    * Scale: the only corpus-sized shuffles are the positional-shingle
    * aggregate and the df-capped hash equi-join; the window runs per
    * (pair, diagonal) — bounded by the cap, never corpus-wide. */
  def sharedSpans(docs: DataFrame, idCol: String, textCol: String,
                  n: Int, minSpan: Int,
                  maxShingleOcc: Int = 100): DataFrame =
    spanRuns(docs, idCol, textCol, n, maxShingleOcc)
      .groupBy(col("id1"), col("id2"))
      .agg(max(col("span")).as("max_span"))
      .filter(col("max_span") >= minSpan)

  /** The shared run-detection pipeline behind [[sharedSpans]] and
    * [[spanCoverage]]: one row per maximal diagonal run — (id1, id2,
    * pa_start, pb_start, span) with id1 < id2 and span in TOKENS
    * (matches + n − 1). */
  private[graft] def spanRuns(docs: DataFrame, idCol: String,
                              textCol: String, n: Int,
                              maxShingleOcc: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol), split(col(textCol), " ").as("toks"))
    // positional (NON-distinct) shingles — position is the payload here,
    // so TextAnalysis.shingles' array_distinct would be wrong
    // serialized: corpus-sized positional-shingle relation — the
    // big-heap first-touch rationale documented on Caching.cachedSer
    val sh = cachedSer(toks
      .select(col(idCol), posexplode(
        when(size(col("toks")) < n, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(1), size(col("toks")) - (n - 1)),
            i => concat_ws(" ", slice(col("toks"), i, lit(n))))))
        .as(Seq("pos", "sh_str")))
      .select(col(idCol), col("pos"), xxhash64(col("sh_str")).as("sh")))
    val eligible = sh.groupBy(col("sh"))
      .agg(count(lit(1)).as("occ"), countDistinct(col(idCol)).as("cd"))
      .filter(col("cd") >= 2 && col("occ") <= maxShingleOcc)
      .select(col("sh"))
    // cached (serialized): both sides of the pair join read this frame
    val shE = cachedSer(sh.join(eligible, "sh"))
    val w = Window.partitionBy(col("id1"), col("id2"), col("diag"))
      .orderBy(col("pa"))
    shE.as("a")
      .join(shE.as("b"),
        col("a.sh") === col("b.sh") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"),
        col("a.pos").as("pa"), (col("a.pos") - col("b.pos")).as("diag"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("id1"), col("id2"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("pa_start"),
        (count(lit(1)) + (n - 1)).as("span"))
      .select(col("id1"), col("id2"), col("pa_start"),
        (col("pa_start") - col("diag")).as("pb_start"), col("span"))
  }

  /** Per-document duplicate-token coverage — the Lee et al. 2022
    * corpus-level readout of [[sharedSpans]]: for each document, how
    * many of its token positions sit inside some run of ≥ `minSpan`
    * consecutive tokens shared with ANOTHER document, and the covered
    * fraction. This is the number that justifies (or kills) an
    * exact-substring dedup pass over a shard: coverage near 0 means
    * set-based dedup already caught everything contiguous.
    *
    * Shape: [[spanRuns]] → explode each qualifying run into its two
    * per-doc token intervals → classic interval-union islands per doc
    * (running-max window) → covered = Σ island widths; docs with no
    * qualifying run keep coverage 0 via left join. Integer arithmetic
    * throughout except the final rounded ratio — oracle-exact.
    *
    * Scale: interval rows are |runs| (bounded by the df cap), the
    * union window partitions per doc, and the doc-length frame is one
    * narrow aggregate — nothing corpus² anywhere. */
  def spanCoverage(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, minSpan: Int,
                   maxShingleOcc: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val runs = spanRuns(docs, idCol, textCol, n, maxShingleOcc)
      .filter(col("span") >= minSpan)
    // each qualifying run covers [start, start + span − 1] in BOTH docs
    // (the one-pass two-sided explode — the self-union trap's antidote)
    val ivals = runs
      .select(explode(array(
        struct(col("id1").as("doc"), col("pa_start").as("s")),
        struct(col("id2").as("doc"), col("pb_start").as("s")))).as("iv"),
        col("span"))
      .select(col("iv.doc").as(idCol), col("iv.s").as("s"),
        (col("iv.s") + col("span") - 1).as("e"))
    // interval union via running-max islands, partitioned per doc
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("s"), col("e"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val covered = ivals
      .withColumn("prev_e", max(col("e")).over(wPrev))
      .withColumn("new_isl",
        when(col("prev_e").isNull || col("s") > col("prev_e"), 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("new_isl")).over(wOrd))
      .groupBy(col(idCol), col("isl"))
      .agg(min(col("s")).as("is_s"), max(col("e")).as("is_e"))
      .groupBy(col(idCol))
      .agg(sum(col("is_e") - col("is_s") + 1).as("covered_tokens"))
    docs.select(col(idCol),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double"), 4).as("dup_fraction"))
  }

  /** Embedding near-dup with random-hyperplane LSH blocking — the scale
    * path when no natural blocking key (label, shard) exists or a block
    * bloats. q30's label-blocked join is O(block²) per label; here the
    * block is an LSH bucket whose occupancy is tunable via `nPlanes`
    * (bucket count = 2^nPlanes per table), so pair volume stays bounded
    * regardless of how the corpus is labeled.
    *
    * Sign-random-projection (SimHash for vectors): bucket = the
    * nPlanes sign bits of v·r_i packed into a long, per table.
    * P[bit agrees] = 1 − θ/π, so near-parallel vectors collide in some
    * table with high probability; `nTables` trades recall for cost.
    * Probabilistic recall (unlike the pigeonhole guarantee of the text
    * SimHash bands) — planted-pair recall is spec-tested, and the seed
    * makes results reproducible run-to-run.
    *
    * Shuffle discipline: the candidate join carries ONLY (id, table,
    * bucket) longs; vectors are joined back for verification on the
    * (distinct) candidate pairs — array bytes never ride the n²-risk
    * join (the array-traffic cost PLANS.md measured on q30).
    */
  def embedNearDupsLSH(embs: DataFrame, idCol: String, vecCol: String,
                       dim: Int, minSim: Double,
                       nPlanes: Int = 8, nTables: Int = 4,
                       seed: Long = 42L): DataFrame = {
    import graft.functions.VectorFns
    require(nPlanes <= 62, "bucket bits must fit a long")
    val rng = new scala.util.Random(seed)
    // ALL hyperplanes as ONE literal payload (nTables·nPlanes × dim),
    // indexed by HOFs below. The previous shape — one expression
    // subtree of dim literal NODES per plane, 64 planes deep in
    // when/sum chains — made the logical plan itself the bottleneck:
    // every action on the (cached) frame re-analyzed a tree of ~10⁴
    // nodes, measured ~3 s/action at ANY data size (the r10 q48 bench
    // flag was plan overhead, not compute). A typedlit is a single
    // Literal node carrying the same doubles as data.
    val planes = (for (_ <- 0 until nTables; _ <- 0 until nPlanes)
      yield Seq.fill(dim)(rng.nextGaussian())).toSeq
    val planesCol = typedLit(planes)
    // unit-normalize once; cached — consumed by bucketing AND the two
    // verification join-backs
    val unit = cached(unitVectors(embs, idCol, vecCol))
    // bucket bits via HOFs over the plane payload — same draws, same
    // sign rule, same bit packing as the unrolled form (verified by
    // the pinned q48 digests staying put)
    val bucketed = cached(unit.select(col(idCol),
      explode(transform(sequence(lit(0), lit(nTables - 1)), t =>
        struct(t.as("table"),
          aggregate(sequence(lit(0), lit(nPlanes - 1)), lit(0L),
            (acc, i) => acc + when(
              VectorFns.dot(col("v"),
                element_at(planesCol, t * lit(nPlanes) + i + 1)) >= 0,
              call_function("shiftleft", lit(1L), i)).otherwise(lit(0L)))
            .as("bucket")))).as("tb")))
    val cands = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.tb") === col("b.tb") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
      .distinct()
    cands
      .join(unit.select(col(idCol).as("id1"), col("v").as("v1")), "id1")
      .join(unit.select(col(idCol).as("id2"), col("v").as("v2")), "id2")
      .select(col("id1"), col("id2"),
        round(VectorFns.dot(col("v1"), col("v2")), 4).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Unit-normalized (id, v) frame shared by every embedding blocker.
    * Zero-norm vectors (padding artifacts, empty docs) are DROPPED:
    * they have no direction, so cosine against them is undefined —
    * previously they produced per-row NaN sims the final
    * `sim >= minSim` filter discarded anyway (NaN compares false),
    * but a NaN row reaching a k-means fit would poison a centroid
    * globally, so the exclusion happens once, here, for all callers.
    * Uncached on purpose — each blocker owns its own cache boundary
    * (the LSH path caches this frame directly; the clustered path
    * caches the ml-vector featurization built from it instead). */
  private def unitVectors(embs: DataFrame, idCol: String,
                          vecCol: String): DataFrame = {
    import graft.functions.VectorFns
    embs
      .select(col(idCol), VectorFns.toDouble(col(vecCol)).as("vd"))
      .withColumn("_n", VectorFns.norm(col("vd")))
      .filter(col("_n") > 0)
      .select(col(idCol),
        VectorFns.unitNormalizeWith(col("vd"), col("_n")).as("v"))
  }

  /** SemDeDup-style semantic dedup — embedding near-dup with LEARNED
    * cluster blocking (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication"): k-means
    * the unit-normalized embeddings, then search pairs only WITHIN a
    * cluster. The third blocking strategy next to the label blocks of
    * the q30 shape (needs a natural key) and the random-hyperplane
    * buckets of [[embedNearDupsLSH]] (needs no training): learned
    * blocks follow the data's own density, so per-block pair volume is
    * ~n²/k without assuming a key or a hash family.
    *
    * Trade: pairs straddling a cluster boundary are missed (same
    * recall trade as the paper; raise k for cheaper blocks, lower it
    * for recall). Identical vectors always co-cluster (same point →
    * same nearest centroid), so exact duplicates are never lost.
    *
    * Shape at 100 TB: the fit iterates over the cached unit-vector
    * frame (ml-native treeAggregate rounds); assignment is one map;
    * the pair join carries (cluster, id, vector) and explodes nothing.
    * Seeded and deterministic for reproducible dedup decisions. */
  def embedNearDupsClustered(embs: DataFrame, idCol: String,
                             vecCol: String, k: Int, minSim: Double,
                             seed: Long = 42L): DataFrame = {
    import graft.functions.VectorFns
    // unit-normalize BEFORE clustering and pairing: k-means on the unit
    // sphere approximates cosine blocking, and the verification dot is
    // then the cosine. Only the ml-vector featurization is cached for
    // the fit (one vector copy, not array + vector); `assigned` derives
    // the array form back from it, so total cache = 2 copies, not 3.
    val feat = cached(unitVectors(embs, idCol, vecCol)
      .select(col(idCol),
        org.apache.spark.ml.functions.array_to_vector(col("v"))
          .as("features")))
    // loud contract + k-clamp: an all-zero-norm input would hand the
    // fit an empty frame (opaque ml failure), and fewer vectors than k
    // degrades across Spark versions. The count materializes the
    // cached fit input the k-means was about to scan anyway.
    val n = feat.count()
    require(n > 0,
      "embedNearDupsClustered: no non-zero-norm vectors to cluster")
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(math.min(k.toLong, n).toInt).setSeed(seed)
      .setFeaturesCol("features")
      .fit(feat)
    // cached: self-joined as a/b below
    val assigned = cached(model.transform(feat)
      .select(col(idCol), col("prediction").as("cluster"),
        org.apache.spark.ml.functions.vector_to_array(col("features"))
          .as("v")))
    val a = assigned.select(col("cluster"), col(idCol).as("id1"),
      col("v").as("v1"))
    val b = assigned.select(col("cluster"), col(idCol).as("id2"),
      col("v").as("v2"))
    a.join(b, Seq("cluster"))
      .filter(col("id1") < col("id2"))
      .select(col("cluster"), col("id1"), col("id2"),
        round(VectorFns.dot(col("v1"), col("v2")), 4).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Quality-aware canonical selection — the dedup DECISION policy most
    * production corpora actually want: within each near-dup component
    * keep the member with the HIGHEST quality score (ties → lowest id),
    * not blindly the lowest id. `nearDupDropList` is the min-id policy;
    * this is the keep-best one (keep-longest when the score is a length,
    * keep-highest-LM-score when it is q67's, …).
    *
    * `scored` maps `idCol` → `scoreCol` for every id appearing in
    * `pairs`. Coverage violations are OBSERVABLE, not silent: members
    * the score frame misses still count toward `n_members` (left join,
    * never inner), `max` skips their NULL scores, and a component with
    * no scored member at all survives with a NULL `best_score` and the
    * min-id member kept — so a caller auditing output can see exactly
    * where its score coverage fell short instead of getting silently
    * shrunken components. Shape: components via the same
    * pointer-jumping CC, then two |members|-sized aggregates — a max
    * per label and a min-id among the max-scored — joined on `label`.
    * Member frames are component-sized (≪ corpus), so every step after
    * CC is small; the argmax is NOT `max_by` (non-deterministic on
    * ties) but the portable max → filter → min-id composition, so an
    * oracle can replicate the tiebreak exactly.
    *
    * Returns one row per component: label, kept_id, n_members,
    * best_score. */
  def keepBest(pairs: DataFrame, scored: DataFrame, idCol: String,
               scoreCol: String): DataFrame = {
    val members = cached(connectedComponents(pairs)
      .join(scored, col("node") === col(idCol), "left")
      .select(col("label"), col("node"), col(scoreCol).as("_score")))
    val best = members.groupBy(col("label"))
      .agg(max(col("_score")).as("best_score"),
        count(lit(1)).as("n_members"))
    members
      .join(best, "label")
      // null-safe: an all-unscored component (best_score NULL) keeps
      // its min-id member rather than vanishing
      .filter(col("_score") <=> col("best_score"))
      .groupBy(col("label"), col("best_score"), col("n_members"))
      .agg(min(col("node")).as("kept_id"))
      .select(col("label"), col("kept_id"), col("n_members"),
        col("best_score"))
  }

  /** Chunk-level exact dedup with per-document accounting — the
    * "line dedup" of CCNet/RefinedWeb generalized to fixed-size token
    * chunks: split every document into non-overlapping `chunkSize`-token
    * chunks, keep only the FIRST occurrence of each distinct chunk
    * corpus-wide (first = lowest (doc, position)), and report per
    * document how much survives. Catches boilerplate (headers, nav
    * bars, license blocks) that document-level near-dup misses because
    * the surrounding text differs.
    *
    * Shape at 100 TB: chunking is a per-row generator (no shuffle, no
    * array duplication — the chunk strings are built inside one
    * `transform` whose total size is the document itself); the keep
    * rule is ONE map-side-combined aggregate on md5(chunk) — 32-byte
    * keys, never chunk text — and one equi-join back on the same
    * digest. The worst skew key is the most-repeated chunk (exactly
    * the boilerplate being removed), bounded by corpus size, and the
    * join payload per row is three longs.
    *
    * "First occurrence" is `min` over a (doc, chunk index) struct —
    * lexicographic in both this engine and DuckDB, so an oracle
    * replicates the rule verbatim and no packed-integer arithmetic
    * (with its silent-overflow hazard on large ids) is involved.
    * Null text is treated as empty: the engine-wide tokenizer
    * (`split(text, " ")`) yields a single empty token for "", so every
    * null/empty document carries one empty chunk and they all dedup
    * together — one row per input document, always.
    *
    * Returns one row per document: id, n_chunks, n_kept, toks_kept. */
  def chunkDedupStats(docs: DataFrame, idCol: String, textCol: String,
                      chunkSize: Int): DataFrame = {
    val firstKey = struct(col(idCol).as("d"), col("cid").as("c"))
    val ch = cached(
      chunkRows(docs, idCol, textCol, chunkSize)
        .select(col(idCol), col("cid"), col("clen"), col("sig")))
    val firstSeen = ch.groupBy(col("sig")).agg(min(firstKey).as("_kkey"))
    ch.join(firstSeen, "sig")
      .withColumn("_kept", firstKey === col("_kkey"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("_kept"), col("clen")).otherwise(0L)).as("toks_kept"))
  }

  /** Chunk-level dedup APPLIED — the boilerplate-removal rewrite
    * behind [[chunkDedupStats]]'s accounting: every chunk keeps only
    * its corpus-wide FIRST occurrence (min (doc, position), the same
    * keeper rule as the stats), and each document is reassembled from
    * its surviving chunks in order. A fully-boilerplate document comes
    * back EMPTY, not deleted — the caller decides whether empty docs
    * drop (deleting here would silently change corpus membership).
    *
    * Scale shape: the keeper choice is ONE map-side-combined aggregate
    * over 32-byte digests (no per-digest window — a viral boilerplate
    * chunk would make that window's partition corpus-sized); the
    * reassembly groups per document, so its state is bounded by the
    * largest document, and chunk strings only ride the reassembly
    * shuffle for SURVIVING chunks. */
  def chunkDedupApply(docs: DataFrame, idCol: String, textCol: String,
                      chunkSize: Int): DataFrame = {
    val firstKey = struct(col(idCol).as("d"), col("cid").as("c"))
    val ch = cached(
      chunkRows(docs, idCol, textCol, chunkSize)
        .select(col(idCol), col("cid"), col("clen"), col("chunk"),
          col("sig")))
    val firstSeen = ch.groupBy(col("sig")).agg(min(firstKey).as("_kkey"))
    val rebuilt = ch.join(firstSeen, "sig")
      .filter(firstKey === col("_kkey"))
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("cid"), col("chunk")))),
          s => s.getField("chunk"))).as("new_text"),
        count(lit(1)).as("n_chunks_kept"),
        sum(col("clen")).as("n_tokens_kept"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("new_text"), lit("")).as("new_text"),
        coalesce(col("n_chunks_kept"), lit(0L)).as("n_chunks_kept"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"))
  }

  /** One row per `chunkSize`-token chunk: (id, carry…, cid, clen,
    * chunk, sig) — the shared chunker behind [[chunkDedupStats]] and
    * the streaming suppressor
    * ([[graft.streaming.StreamingDedup.chunksWithinWatermark]]; the
    * `carry` columns exist so a streaming caller can thread its
    * event-time column through the generator and keep the watermark).
    * Pure per-row generator: no shuffle, and the chunk strings are
    * built inside one `transform` whose total output is the document
    * itself. */
  private[graft] def chunkRows(docs: DataFrame, idCol: String,
                               textCol: String, chunkSize: Int,
                               carry: Seq[String] = Nil): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    val cs = chunkSize.toLong
    val carryCols = carry.map(col)
    // materialize the token array in its own projection FIRST:
    // referencing the raw split(...) from inside the transform lambda
    // re-tokenizes the document once per chunk (Spark does no
    // subexpression elimination inside HOF lambdas — the shingleSets
    // pre-hash trap), turning chunking O(len × n_chunks). As a
    // multiply-referenced non-cheap alias, `_toks` survives
    // CollapseProject un-inlined.
    val tokenized = docs.select(
      (col(idCol) +: carryCols) :+
        split(coalesce(col(textCol), lit("")), " ").as("_toks"): _*)
    val nChunks =
      ceil(size(col("_toks")).cast("double") / chunkSize).cast("long")
    val chunkArr = transform(sequence(lit(0L), nChunks - 1),
      i => concat_ws(" ",
        slice(col("_toks"), (i * cs + 1).cast("int"), lit(chunkSize))))
    tokenized
      .select((col(idCol) +: carryCols) ++ Seq(
        size(col("_toks")).cast("long").as("_n"),
        posexplode(chunkArr).as(Seq("cid", "chunk"))): _*)
      .select((col(idCol) +: carryCols) ++ Seq(
        col("cid").cast("long").as("cid"),
        least(lit(cs), col("_n") - col("cid") * cs).as("clen"),
        col("chunk"),
        md5(col("chunk")).as("sig")): _*)
  }
}
