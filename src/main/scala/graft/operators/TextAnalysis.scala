package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Caching.{cached, cachedSer}

/** X3 — text-analysis operators for a training-data pipeline, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Everything here is pure `org.apache.spark.sql.functions` composition
  * (codegen'd, Catalyst-visible) and deliberately oracle-expressible:
  * each operator has an exact DuckDB SQL equivalent registered in
  * `PipelineQueries.oracleSql`.
  *
  * The reference's own text processing is the normalize/keyword layer
  * (`aracaju_barra_pirambu_scraper.py:37-43,193-194`); these operators are
  * the north-star extension (BASELINE.json) scaled-up versions: language
  * scoring, quality gates, token accounting, fingerprinting, shingling.
  */
object TextAnalysis {

  /** Whitespace tokens. The corpus is single-space separated; split on
    * the literal space keeps Spark and DuckDB `string_split` identical. */
  def tokens(text: Column): Column = split(text, " ")

  /** "BPE-ish" tokenizer: letter runs, digit runs, single punctuation —
    * the standard pre-tokenization regex shape. */
  val bpeTokenRegex = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenRegex), lit(0)))

  /** Stopword-ratio language scoring (n-gram-heuristic family): the
    * fraction of tokens drawn from a known word set. Deterministic and
    * cheap — an `array_contains`-style membership over a broadcast-able
    * literal array, no UDF. */
  def wordSetRatio(toks: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(toks, t => array_position(set, t) > 0)).cast("double") /
      size(toks).cast("double")
  }

  /** Type-token ratio — lexical-diversity quality signal. */
  def typeTokenRatio(toks: Column): Column =
    size(array_distinct(toks)).cast("double") / size(toks).cast("double")

  /** Content fingerprint: md5 over the sorted distinct token stream.
    * Identical token *sets* collide — the exact-dedup signature — and
    * md5 is bit-identical across engines (oracle-checkable), unlike
    * engine-specific hash functions. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** HTML/markup boilerplate stripping — the text-extraction step a
    * web-crawl curation pipeline runs before every quality/dedup
    * operator here (the trafilatura/jusText role, reduced to its
    * deterministic regex core). A chain of codegen'd `regexp_replace`
    * built-ins, RE2-COMPATIBLE BY CONSTRUCTION (no backreferences, no
    * lookaround — script and style blocks get separate patterns), so
    * an oracle engine replays it byte-for-byte:
    *
    *   1. drop script/style blocks (content is code, not text) and
    *      comments;
    *   2. block-level tags (p, div, br, headings, list/table rows) →
    *      newline — paragraph structure survives as line breaks;
    *   3. every remaining tag → empty;
    *   4. decode the six HTML entities that appear in text extraction
    *      (`&nbsp; &lt; &gt; &quot; &#39;` and LAST `&amp;` — decoding
    *      it earlier would double-decode `&amp;lt;`);
    *   5. collapse horizontal whitespace, trim around newlines, trim.
    *
    * NOT a sanitizer (output may still contain hostile text for other
    * sinks) and not a full parser: malformed nesting degrades to extra
    * whitespace, never to dropped visible text. */
  def stripMarkup(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val blockBreak = regexp_replace(noComment,
      "(?i)</?(p|div|br|h[1-6]|li|ul|ol|tr|table)[^>]*>", "\n")
    val noTags = regexp_replace(blockBreak, "<[^>]+>", "")
    val entities = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(noTags,
        "&nbsp;", " "), "&lt;", "<"), "&gt;", ">"),
        "&quot;", "\""), "&#39;", "'"), "&amp;", "&")
    val hws = regexp_replace(entities, "[ \\t]+", " ")
    val nl = regexp_replace(hws, " ?\\n[ \\n]*", "\n")
    trim(nl, " \n")
  }

  /** Markup-density signals over a raw-HTML column, computed alongside
    * [[stripMarkup]]'s clean text: visible-to-raw length ratio (the
    * boilerplate-density filter) and anchor count (link farms). */
  def markupStats(docs: DataFrame, idCol: String,
                  htmlCol: String): DataFrame = {
    val clean = stripMarkup(col(htmlCol))
    docs.select(col(idCol), clean.as("text"),
      length(col(htmlCol)).cast("long").as("raw_len"),
      length(clean).cast("long").as("clean_len"),
      // [\s/>] not [ >]: attribute-per-line anchors ('<a\nhref=')
      // and self-closed '<a/>' are exactly the machine-generated
      // shapes the link-density filter exists for
      regexp_count(col(htmlCol), lit("(?i)<a[\\s/>]")).cast("long")
        .as("n_links"))
      .withColumn("text_ratio",
        round(col("clean_len").cast("double") /
          greatest(col("raw_len"), lit(1L)).cast("double"), 4))
  }

  /** Token n-gram shingles (distinct), the unit of Jaccard/MinHash
    * similarity. `sequence`+`slice` keeps it a single codegen'd
    * expression; explode downstream where a row-per-shingle is needed. */
  def shingles(toks: Column, n: Int): Column =
    // guard: spark sequence(1, 0) is DESCENDING [1,0] (not empty like
    // DuckDB generate_series) — short docs must yield an empty array.
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))

  /** Gopher-style rule-based quality flags (the document-filter family
    * of Rae et al. 2021, §A1.1 — token-count window, mean-word-length
    * window, lexical-diversity floor, minimum stopword presence), with
    * thresholds as parameters because the published values are tuned to
    * web text, not a given corpus. Every rule is spelled in INTEGER
    * arithmetic — the mean-word-length window is cross-multiplied
    * (10·Σlen vs bound·n) instead of divided, the TTR floor is
    * 2·distinct ≥ n — so every flag is bit-exact in any engine.
    *
    * Output per doc: (id, n_tokens, flag_len, flag_wordlen, flag_ttr,
    * flag_stop, pass) with each flag 0/1 and pass their conjunction.
    * One stateless projection — a 100 TB corpus filters at scan speed,
    * no shuffle, no UDF. */
  def gopherFlags(docs: DataFrame, idCol: String, textCol: String,
                  stopwords: Seq[String],
                  minTokens: Int = 20, maxTokens: Int = 90,
                  minMeanLenX10: Int = 40, maxMeanLenX10: Int = 100,
                  minStopHits: Int = 2): DataFrame = {
    // tokens materialized in their own projection: every measure below
    // references the array, and Spark does no subexpression elimination
    // inside HOF lambdas (the q95 finding)
    val toks = docs.select(col(idCol),
      tokens(coalesce(col(textCol), lit(""))).as("t"))
    val stopSet = array(stopwords.map(lit): _*)
    val m = toks.select(col(idCol),
      size(col("t")).cast("long").as("n_tokens"),
      size(array_distinct(col("t"))).cast("long").as("n_distinct"),
      aggregate(col("t"), lit(0L),
        (acc, x) => acc + length(x).cast("long")).as("sum_len"),
      size(array_intersect(array_distinct(col("t")), stopSet))
        .cast("long").as("stop_hits"))
    m.select(col(idCol), col("n_tokens"),
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
          .cast("int").as("flag_len"),
        (col("sum_len") * 10 >= col("n_tokens") * minMeanLenX10 &&
          col("sum_len") * 10 <= col("n_tokens") * maxMeanLenX10)
          .cast("int").as("flag_wordlen"),
        (col("n_distinct") * 2 >= col("n_tokens")).cast("int")
          .as("flag_ttr"),
        (col("stop_hits") >= minStopHits).cast("int").as("flag_stop"))
      .withColumn("pass",
        (col("flag_len") + col("flag_wordlen") + col("flag_ttr") +
          col("flag_stop") === 4).cast("int"))
  }

  /** Candidate near-duplicate pairs by exact n-gram Jaccard, computed
    * scalably: explode distinct shingles → self-join on shingle (only
    * docs sharing ≥1 shingle ever meet — never an all-pairs cartesian)
    * → count intersections → Jaccard via |A|+|B|−|A∩B|.
    *
    * `maxShingleFreq` drops ultra-common shingles before the join
    * (prefix-filtering style): a shingle occurring in f docs contributes
    * f² join rows, so stop-shingles are the skew hazard at 100 TB. At
    * small SF the cap is a no-op; at scale it bounds the join fan-out.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, minJaccard: Double,
                   maxShingleFreq: Int = 100): DataFrame = {
    // cached: this exploded frame feeds the frequency filter, the size
    // aggregate, and both sides of the pair join — left lazy, the
    // shingle construction re-runs once per consumer.
    // Shingles are xxhash64'd to 8-byte keys before the join: the
    // self-join and pair aggregation shuffle longs instead of ~20-byte
    // strings (same output modulo a ~2⁻⁶⁴ collision — the standard
    // dedup-system trade).
    // tokens() gets its own projection first: Spark does no
    // subexpression elimination inside HOF lambdas, so slice(toks, …)
    // referencing the raw split re-tokenizes per ELEMENT — measured 6×
    // on the explode pass at sf0.1 (NoveltyProbe).
    // Serialized persist: this is the corpus-sized exploded relation —
    // deserialized MEMORY_ONLY inflates it several-fold and lands the
    // big-heap first-touch tax (q56's r9 driver regression).
    val sh = cachedSer(docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), explode(shingles(col("toks"), n)).as("sh_str"))
      .select(col(idCol), xxhash64(col("sh_str")).as("sh")))
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleFreq && col("df") >= 2)
    val shRare = sh.join(rare, "sh").select(col(idCol), col("sh"))
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("sz"))
    // pair generation: ONE shuffle of the capped frame into per-shingle
    // sorted id-lists (bounded ≤ maxShingleFreq by the df filter above,
    // which runs as a count aggregate BEFORE any list materializes — the
    // ordering that keeps stop-shingles from building unbounded lists),
    // then an in-task ordered-pair explode. Replaces the a/b self-join:
    // one exchange instead of two plus a join, same output.
    val inter = shRare
      .groupBy(col("sh"))
      .agg(array_sort(collect_list(col(idCol))).as("ids"))
      .select(explode(flatten(transform(
        sequence(lit(1), size(col("ids")) - 1),
        i => transform(
          slice(col("ids"), i + 1, size(col("ids")) - i),
          y => struct(element_at(col("ids"), i).as("id1"),
            y.as("id2")))))).as("p"))
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("s1"), col("id1") === col(s"s1.$idCol"))
      .join(sizes.as("s2"), col("id2") === col(s"s2.$idCol"))
      .select(col("id1"), col("id2"),
        round(col("inter").cast("double") /
          (col("s1.sz") + col("s2.sz") - col("inter")).cast("double"), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Per-document n-gram novelty profile — for each document, the
    * fraction of its distinct token n-grams whose FIRST corpus
    * occurrence (minimum doc id) is this document. The curation metric
    * behind "how much new content does each shard add": a crawl slice
    * whose novelty collapses toward 0 is re-crawling what the corpus
    * already holds, and dedup effort should move upstream of it.
    *
    * Shape: distinct-shingle explode → min-id aggregate keyed on the
    * shingle → join back on the shingle → per-doc counts. Never
    * all-pairs; both the aggregate and the join shuffle on the same
    * 8-byte xxhash64 shingle key (the exploded frame is cached — it
    * feeds both), and the min-id aggregate map-side combines. Documents
    * shorter than n tokens have no shingles and are absent from the
    * output in both engines (the DuckDB oracle joins the same way).
    *
    * Scale notes (100 TB): cost is |corpus shingles| — the exact-dedup
    * shape, not the pair shape, so no df cap is needed (a stop-shingle
    * contributes one aggregate row and f join probes, never f²). The
    * hash join's build side is the distinct-shingle frame (corpus-
    * sized): at scale this is a co-partitioned sort-merge join on the
    * long key, which is the plan AQE picks once the build side
    * outgrows the broadcast threshold. */
  def noveltyProfile(docs: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame = {
    // tokens() in its own projection (no subexpr elimination inside HOF
    // lambdas — 6× on the explode, measured in NoveltyProbe); cached
    // because BOTH the min-id aggregate and the join probe side consume
    // this frame — left lazy the explode pipeline runs twice.
    // Serialized for the same big-heap reason as jaccardPairs' relation.
    val sh = cachedSer(docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), explode(shingles(col("toks"), n)).as("sh_str"))
      .select(col(idCol), xxhash64(col("sh_str")).as("sh")))
    val first = sh.groupBy(col("sh"))
      .agg(min(col(idCol)).as("first_doc"))
    sh.join(first, "sh")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col(idCol), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") /
          col("n_shingles").cast("double"), 4).as("novelty"))
  }

  /** Repetition statistics (the Gopher-style "repetition" quality
    * signals): the fraction of n-gram OCCURRENCES that are repeats of an
    * earlier n-gram in the same document, plus the frequency share of the
    * single most common token. High values flag boilerplate/looping text.
    *
    * Two shapes on purpose: the 2-gram duplicate fraction is a pure
    * per-row expression (distinct-shingle count vs positional count — no
    * shuffle at all), while the top-token share goes through an
    * explode → (doc, term) count → per-doc max aggregate — the shape that
    * stays bounded when documents are millions of tokens (a per-row HOF
    * scanning the token array per distinct token would be O(n·distinct)
    * per document). */
  def repetitionStats(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    // coalesce per the tfFrame contract: explode(NULL) + the inner
    // join silently DROPPED a NULL-text doc from the stats, where a
    // SQL oracle (and every sibling here) counts the row
    val toks = docs.select(col(idCol),
      tokens(coalesce(col(textCol), lit(""))).as("toks"))
    val gramStats = toks.select(col(idCol),
      size(col("toks")).as("n_toks"),
      greatest(size(col("toks")) - 1, lit(0)).as("n_2grams"),
      size(shingles(col("toks"), 2)).as("nd_2grams"))
    val topTok = toks
      .select(col(idCol), explode(col("toks")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max(col("c")).as("top_c"))
    gramStats.join(topTok, idCol)
      .select(col(idCol), col("n_toks"),
        when(col("n_2grams") > 0,
          round(lit(1.0) - col("nd_2grams").cast("double") /
            col("n_2grams").cast("double"), 4)).otherwise(lit(0.0))
          .as("dup_2gram_frac"),
        round(col("top_c").cast("double") / col("n_toks").cast("double"), 4)
          .as("top_tok_frac"))
  }

  /** Fixed-size overlapping token chunking — the step that turns
    * variable-length documents into training-window-sized pieces
    * (`chunkSize` tokens, advancing by `stride`, so consecutive chunks
    * overlap by chunkSize − stride). Pure per-row expression: the chunk
    * index list is a guarded `sequence` (Spark's sequence DESCENDS when
    * stop < start, so the short-doc case pins n_chunks to 1), exploded
    * to a row per chunk. No shuffle; a 100 TB corpus chunks at scan
    * speed and the output stays partitioned like the input. */
  def chunkSpans(docs: DataFrame, idCol: String, textCol: String,
                 chunkSize: Int, stride: Int): DataFrame = {
    require(stride > 0 && stride <= chunkSize, "need 0 < stride <= chunkSize")
    // coalesce per the tfFrame contract: size(split(NULL)) is -1
    // (legacy sizeOfNull), which emitted one nonsense chunk row
    // (n_toks = -1, chunk_len = -1) per NULL-text doc
    val n = size(tokens(coalesce(col(textCol), lit(""))))
    val nChunks = when(n <= chunkSize, lit(1L))
      .otherwise(ceil((n - chunkSize).cast("double") / stride) + 1)
    docs.select(col(idCol), n.as("n_toks"), nChunks.as("n_chunks"))
      .select(col(idCol), col("n_toks"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        (col("chunk_id") * stride).as("start_tok"),
        least(lit(chunkSize).cast("long"),
          col("n_toks") - col("chunk_id") * stride).as("chunk_len"))
  }

  /** Bigram language-model scoring — the perplexity-filtering family
    * (CCNet-style): train add-1-smoothed bigram statistics ON the corpus
    * itself, then score each document by its mean log-probability under
    * that model. Low scores flag text unlike the corpus (noise, wrong
    * language, boilerplate).
    *
    * P(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V), score = mean ln P over
    * the document's bigram positions (multiplicity kept — this is a
    * probability model, not a set measure).
    *
    * Shape: one corpus-sized bigram explode (cached — it feeds the two
    * model aggregates AND the scoring join), two key-partitioned
    * map-side-combined count aggregates (the model — vocabulary²-bounded,
    * tiny next to the corpus), a 1-row broadcast vocabulary size, and a
    * key-partitioned join back for scoring. At 100 TB the model frames
    * are materialized tables and the scoring join broadcasts them
    * (vocab² of real text ≪ corpus). Documents with < 2 tokens have no
    * bigrams and drop out (score undefined). */
  def bigramLmScores(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    // cached: BOTH the bigram explode and the vocabulary aggregate
    // derive from this frame — uncached, the vocab count re-ran the
    // whole corpus tokenize a second time for one scalar (vocab must
    // come from toks, not bg: a single-token doc's token is in no
    // bigram)
    val toks = cached(
      docs.select(col(idCol), tokens(col(textCol)).as("toks")))
    val bg = cached(toks.select(col(idCol),
        explode(bigramPairs(col("toks"))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2")))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = toks.select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy(col(idCol))
      .agg(round(avg(log((col("c2") + lit(1.0)) / (col("c1") + col("v")))), 4)
        .as("lm_score"))
  }

  /** Ordered bigram pairs of a token-array column as an array of
    * (w1, w2) structs — THE shared expression under every LM-scoring
    * surface ([[bigramLmScores]], [[bigramModel]], the streaming gate):
    * one definition so the descending-`sequence` guard and the struct
    * shape can never drift between them. Docs with < 2 tokens yield an
    * empty array (and vanish under `explode` — LM scores are undefined
    * for them; callers that must keep such rows use explode_outer and
    * handle the null). */
  def bigramPairs(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 1),
        i => struct(element_at(toks, i).as("w1"),
          element_at(toks, i + 1).as("w2"))))

  /** DSIR-style importance log-weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document by how much more likely its tokens are under a
    * TARGET distribution than under the raw corpus, using hashed
    * unigram buckets — the cheap proxy that lets a 100 TB raw crawl be
    * resampled toward a high-quality target without training a model.
    *
    *   w(d) = Σ_t [ ln p̂_target(b(t)) − ln p̂_raw(b(t)) ]
    *
    * with b(t) a hashed bucket and add-1 smoothing over the bucket
    * space on both estimates. Engine-portable by construction: the
    * bucket is the first `bucketHexLen` hex chars of md5(token) (md5
    * is the one hash both engines spell identically — the Sampling
    * rationale), counts are exact integers, and the final rounding is
    * the spelled-out floor(x·10⁴ + 0.5)/10⁴.
    *
    * Shape at 100 TB: one token explode feeding (a) a 1-row totals
    * aggregate, (b) a bucket-count aggregate bounded by 16^bucketHexLen
    * rows, and (c) the per-doc scoring join against that broadcast-
    * sized model. The model is the only state — at scale it is fitted
    * once from samples and broadcast into the scoring scan, exactly
    * this plan's shape with (a)+(b) amortized.
    *
    * `isTarget` marks the rows whose token distribution defines the
    * target (the raw estimate uses ALL rows, target ⊆ raw, as in the
    * paper's importance weights). Returns (id, n_toks, dsir_logw). */
  def dsirLogWeights(docs: DataFrame, idCol: String, textCol: String,
                     isTarget: Column, bucketHexLen: Int = 3): DataFrame = {
    require(bucketHexLen >= 1 && bucketHexLen <= 8,
      "bucketHexLen must be in [1, 8]")
    val nBuckets = math.pow(16, bucketHexLen).toLong
    val tok = cached(docs
      .select(col(idCol), isTarget.as("_tgt"),
        explode(tokens(col(textCol))).as("_t"))
      .select(col(idCol), col("_tgt"),
        substring(md5(col("_t").cast("binary")), 1, bucketHexLen).as("b")))
    val totals = tok.agg(
      sum(when(col("_tgt"), 1L).otherwise(0L)).as("_nt"),
      count(lit(1)).as("_nr"))
    val model = tok.groupBy(col("b"))
      .agg(sum(when(col("_tgt"), 1L).otherwise(0L)).as("_ct"),
        count(lit(1)).as("_cr"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("_ct") + 1).cast("double") / (col("_nt") + nBuckets)) -
          log((col("_cr") + 1).cast("double") / (col("_nr") + nBuckets)))
          .as("_lw"))
    tok.join(broadcast(model), Seq("b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        (floor(sum(col("_lw")) * lit(10000.0) + lit(0.5)) / lit(10000.0))
          .as("dsir_logw"))
  }

  /** Standalone bigram model from a reference corpus — the offline
    * companion to [[bigramLmScores]] (which self-trains and scores in
    * one plan): returns the (w1, w2) → count and w1 → count frames plus
    * the vocabulary size, for scoring OTHER data (e.g. the streaming
    * gate) under a fixed model. At scale these are materialized tables
    * refreshed on a model cadence, not per query — and that is also the
    * cache contract: the returned frames keep a [[graft.engine.Caching.cached]]
    * bigram relation alive, so wrap build+use in `Caching.scoped` for a
    * bounded lifetime (or materialize to tables in a long-lived app). */
  def bigramModel(docs: DataFrame,
                  textCol: String): (DataFrame, DataFrame, Long) = {
    // cached for the same two-consumer reason as [[bigramLmScores]]
    val toks = cached(docs.select(tokens(col(textCol)).as("toks")))
    val bg = cached(toks.select(explode(bigramPairs(col("toks"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2")))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = toks.select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok"))).collect()(0).getLong(0)
    (c2, c1, v)
  }

  /** PII redaction patterns — shared between the Spark plan and the
    * DuckDB oracle (both RE2/Java-compatible, no lookaround). */
  // local part admits the ubiquitous -, +, % (plus-tagged gmail,
  // hyphenated names), domain admits - (hyphenated hosts): the
  // narrower class left 'jane-' and '-site.com' fragments of a
  // partially-matched address UNREDACTED — a systematic partial leak
  // on common shapes
  val emailRegex = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"
  val numberRegex = "[0-9]+"

  /** PII scrub: replace email addresses then digit runs with typed
    * placeholder tokens. Stateless codegen'd regex maps over the scan —
    * the shape a 100 TB privacy pass needs (no shuffle, no UDF). Real
    * deployments extend the pattern list (phone formats, id numbers);
    * the operator is the composition, patterns are config. */
  def redactPII(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailRegex, "<EMAIL>"),
      numberRegex, "<NUM>")

  /** TF-IDF over whitespace tokens, pure-SQL form (oracle-exact):
    * tf = term count / doc length, df over the doc-term relation,
    * idf = ln(N/df). One (doc, term) hash-aggregate + one vocab-sized
    * df aggregate joined back (AQE broadcasts it) + a broadcast 1-row
    * doc count — two key-partitioned shuffles total, both map-side
    * combined.
    *
    * The doc-term frame is cached because BOTH the output join and the
    * df aggregate consume it; without materialization Catalyst's column
    * pruning differentiates the two subtrees, ReuseExchange never fires,
    * and the corpus-sized explode+aggregate+shuffle runs twice (verified
    * in the physical plan). At 100 TB the analog is a materialized
    * intermediate doc-term table (write once, aggregate df from it). */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // alias tokens into their own projection first: size() + explode()
    // referencing the raw split would evaluate it twice per row
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
    val tc = toks.select(col(idCol), size(col("toks")).as("n_toks"),
      explode(col("toks")).as("term"))
    val tf = cached(tc.groupBy(col(idCol), col("n_toks"), col("term"))
      .agg(count(lit(1)).as("tf_count")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .select(col(idCol), col("term"), col("tf_count"), col("df"),
        round(col("tf_count") / col("n_toks") *
          log(col("n_docs") / col("df")), 4).as("tfidf"))
  }

  /** BM25 lexical retrieval top-k — the classic sparse scorer that
    * complements the dense ANN family (`Similarity`): for each query in
    * a broadcast-sized panel, the k highest-scoring documents by
    * Okapi BM25 with the Lucene idf variant
    * `ln(1 + (N - df + 0.5)/(df + 0.5))` (always positive, so terms
    * appearing in more than half the corpus — guaranteed here by the
    * tiny vocabulary — still rank sanely).
    *
    * Shape: one (doc, term) tf aggregate (map-side combined) → join
    * with the BROADCAST exploded query-term panel, which prunes the
    * corpus to docs containing ≥1 query term BEFORE the df join and
    * scoring → vocab-sized df join (AQE broadcasts it) → per-(query,
    * doc) sum → per-query window top-k. Never all-pairs: the only
    * corpus-sized shuffles are the tf aggregate and the final
    * panel-pruned score aggregate. Per-term contributions are
    * quantized to 1e-7 fixed point and summed as integers (order-
    * independent), then rounded to 4 before ranking so Spark and
    * DuckDB rank identical values; ties break by doc id.
    *
    * `queries` must be a broadcast-sized frame (qid, qtext). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tf = tfFrame(docs, idCol, textCol)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // corpus stats DERIVED from the cached tf frame (split never
    // yields an empty array — even "" gives one token — so every doc
    // appears there) — the naive docs.agg would re-scan and
    // re-tokenize the whole corpus. avgdl is a sum of integers over a
    // count — exact in both engines.
    val stats = tf.select(col(idCol), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val qterms = queries.select(col("qid"),
      explode(array_distinct(tokens(col("qtext")))).as("term"))
    // panel pruning BEFORE the corpus-wide dfreq join: Catalyst will
    // not reorder the inner joins itself, and joining every posting
    // with its df first shuffles the full |doc,term| relation only to
    // throw all but the panel's terms away (a measured 23% q97
    // regression when the refactor briefly lost this ordering).
    // dfreq itself still aggregates the full tf — df is corpus-wide
    // by definition — but only panel-term rows reach the join.
    val pruned = tf
      .join(broadcast(qterms.select(col("term")).distinct()), "term")
      .join(dfreq, "term")
    // per-term contributions are quantized to 1e-7 fixed point BEFORE
    // the sum (floor(x*1e7 + 0.5), the project's spelled-rounding
    // convention): integer sums are addend-order-independent, so the
    // score is deterministic by construction — a raw double sum's 4-dp
    // rounding could flip at a boundary with Spark's uncontrolled
    // partial-aggregation order.
    bm25Score(pruned, qterms, stats, idCol, k, k1, b)
  }

  /** BM25F (Robertson & Zaragoza, "Simple BM25 Extension to Multiple
    * Weighted Fields", CIKM 2004), relationally: multi-field ranking
    * where per-field term frequencies are length-normalized and
    * weight-combined into ONE pseudo-frequency BEFORE the saturation —
    * the published insight that makes BM25F a single non-linear
    * function of a linear field combination (scoring fields
    * independently and summing would double-saturate):
    *
    *   t̃f(t,d)  = Σ_f  w_f · tf_f(t,d) / (1 − b_f + b_f · dl_f/avgdl_f)
    *   score(d) = Σ_t  idf(t) · t̃f / (k1 + t̃f)
    *
    * idf uses the engine's one BM25 idf spelling with DOCUMENT-level
    * df (the doc contains t in ANY field — the paper's definition).
    * Contributions quantize to the project's 1e-7 fixed point before
    * the sum, so the score is addend-order-deterministic like every
    * other scoring path. `fields` is (column, weight w_f, length-norm
    * b_f) — per-field b is the paper's point: a title field wants
    * weaker length normalization than a body field.
    *
    * Scale shape: one tokenize pass PER FIELD unioned into a tagged
    * (id, term, tf, dl, fld) relation; per-field avgdl and n_docs are
    * tiny aggregates off it; panel pruning happens BEFORE any
    * corpus-wide join (the q97 lesson); df derives from the pruned
    * pseudo-frequency relation — corpus-wide per definition, panel-
    * bounded in cost. Output (qid, idCol, score), top `k` per query. */
  def bm25fTopK(docs: DataFrame, idCol: String,
                fields: Seq[(String, Double, Double)],
                queries: DataFrame, k: Int,
                k1: Double = 1.2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(fields.nonEmpty, "bm25fTopK: no fields")
    require(fields.map(_._1).distinct.size == fields.size,
      "bm25fTopK: duplicate field column")
    require(fields.forall { case (_, w, bf) =>
      w > 0 && bf >= 0 && bf <= 1 },
      "bm25fTopK: weights must be > 0 and b_f in [0, 1]")
    // tagged per-field tf relation — every doc reaches every field's
    // frame (null coalesces to "", one empty token), so per-field
    // stats count the full corpus exactly like tfFrame's contract
    // corpus-sized (|fields| tf relations) → serialized persist, the
    // big-heap first-touch rationale on Caching.cachedSer
    val tfAll = cachedSer(fields.zipWithIndex.map { case ((fcol, _, _), fi) =>
      docs.select(col(idCol),
          tokens(coalesce(col(fcol), lit(""))).as("toks"))
        .select(col(idCol), size(col("toks")).as("dl"),
          explode(col("toks")).as("term"))
        .groupBy(col(idCol), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .select(col(idCol), col("term"), col("tf"), col("dl"),
          lit(fi).as("fld"))
    }.reduce(_ unionByName _))
    val fstats = tfAll.select(col("fld"), col(idCol), col("dl"))
      .distinct()
      .groupBy(col("fld")).agg(avg(col("dl")).as("avgdl_f"))
    val ndocs = tfAll.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("n_docs"))
    val qterms = queries.select(col("qid"),
      explode(array_distinct(tokens(col("qtext")))).as("term"))
    // per-field weight / b as chained-when literals on the field tag
    val wcol = fields.zipWithIndex.foldLeft(lit(Double.NaN)) {
      case (acc, ((_, w, _), fi)) =>
        when(col("fld") === fi, lit(w)).otherwise(acc)
    }
    val bcol = fields.zipWithIndex.foldLeft(lit(Double.NaN)) {
      case (acc, ((_, _, bf), fi)) =>
        when(col("fld") === fi, lit(bf)).otherwise(acc)
    }
    // panel pruning BEFORE the stats join (the q97 ordering lesson)
    val ptf = tfAll
      .join(broadcast(qterms.select(col("term")).distinct()), "term")
      .join(broadcast(fstats), "fld")
      .withColumn("wtf", col("tf") * wcol /
        (lit(1.0) - bcol + bcol * col("dl") / col("avgdl_f")))
      .groupBy(col(idCol), col("term"))
      .agg(sum(col("wtf")).as("ptf"))
    // document-level df: one row per (doc, term-in-any-field) above
    val dfq = ptf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col(idCol))
    ptf.join(broadcast(qterms), "term")
      .join(broadcast(dfq), "term")
      .crossJoin(broadcast(ndocs))
      .withColumn("contrib_fp", floor(
        (log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
            (col("df") + 0.5)) *
          col("ptf") / (col("ptf") + lit(k1)))
          * lit(1e7) + lit(0.5)).cast("long"))
      .groupBy(col("qid"), col(idCol))
      .agg(round(sum(col("contrib_fp")) / lit(1e7), 4).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("score"))
  }

  /** BM25F over WRITTEN per-field indexes — [[bm25fTopK]]'s
    * index-backed sibling: each field is one STANDARD segmented index
    * (built by [[bm25AppendSegment]] on that field's text), so the
    * whole maintenance family — append, tombstones, tiered merge, GC,
    * recrawl, streaming — is inherited per field with zero new layout
    * code; this probe reads the panel terms from every field index
    * through the shared kill rule and combines them with the identical
    * BM25F arithmetic (per-field length-norm + weight into one
    * pseudo-frequency BEFORE saturation). Scores are REQUIRED to be
    * bit-identical to the scan path on the same corpus — the layout-
    * invisible contract (the q114/q115 precedent), gated.
    *
    * `fieldPaths` is (index path, w_f, b_f) per field. Document-level
    * df derives from the union of the fields' live postings (a doc
    * contains t in ANY field); n_docs comes from the FIRST field's
    * stats — every doc reaches every field index under the tfFrame
    * coalesce contract, so the counts agree by construction (all
    * field indexes must cover the same corpus — the caller's
    * contract, as in Lucene where fields live in one segment).
    * Scale shape: one pushed `term IN` scan PER FIELD INDEX
    * (posting-bounded), stats from partials, vocabulary-sized
    * everything after. */
  def bm25fProbeIndexed(spark: org.apache.spark.sql.SparkSession,
                        fieldPaths: Seq[(String, Double, Double)],
                        queries: DataFrame, k: Int, idCol: String,
                        k1: Double = 1.2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(fieldPaths.nonEmpty, "bm25fProbeIndexed: no fields")
    require(fieldPaths.forall { case (_, w, bf) =>
      w > 0 && bf >= 0 && bf <= 1 },
      "bm25fProbeIndexed: weights must be > 0 and b_f in [0, 1]")
    val qterms = queries.select(col("qid"),
      explode(array_distinct(tokens(col("qtext")))).as("term"))
    // panel-sized collect: the pushed-IN literal for every field scan
    val terms = qterms.select(col("term")).distinct()
      .collect().map(_.getString(0))
    val perField = fieldPaths.zipWithIndex.map {
      case ((path, w, bf), fi) =>
        // one pin PER FIELD INDEX — each field is its own segmented
        // layout with its own generation clock
        val (live, stats) =
          liveScoring(spark, pinSeg(spark, path), idCol, terms)
        val f = live.crossJoin(broadcast(stats))
          .withColumn("wtf", col("tf") * lit(w) /
            (lit(1.0) - lit(bf) + lit(bf) * col("dl") / col("avgdl")))
          .select(col(idCol), col("term"), col("wtf"))
        (f, stats)
    }
    // the caller's same-corpus contract, checked loudly: every field
    // index must hold the same live doc count (|stats| 1-row fetches)
    val nDocs = perField.map(_._2.select(col("n_docs")).head().getLong(0))
    require(nDocs.distinct.size == 1,
      s"bm25fProbeIndexed: field indexes cover different corpora " +
        s"(n_docs = ${nDocs.mkString(", ")})")
    val ptf = perField.map(_._1).reduce(_ unionByName _)
      .groupBy(col(idCol), col("term"))
      .agg(sum(col("wtf")).as("ptf"))
    val dfq = ptf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = perField.head._2.select(col("n_docs"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col(idCol))
    ptf.join(broadcast(qterms), "term")
      .join(broadcast(dfq), "term")
      .crossJoin(broadcast(nd))
      .withColumn("contrib_fp", floor(
        (log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
            (col("df") + 0.5)) *
          col("ptf") / (col("ptf") + lit(k1)))
          * lit(1e7) + lit(0.5)).cast("long"))
      .groupBy(col("qid"), col(idCol))
      .agg(round(sum(col("contrib_fp")) / lit(1e7), 4).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("score"))
  }

  /** THE per-(doc, term) frequency relation every BM25 surface builds
    * on — scan path, monolithic index write, segment append. One
    * definition: the tokenize/dl/tf derivation decides index≡scan
    * parity, and three hand-copies of it would let them drift. Null
    * text coalesces to "" (one empty-string token) so every doc
    * reaches the frame and the corpus stats — split(NULL) would
    * silently drop the doc from n_docs/avgdl, diverging from a SQL
    * oracle that counts it. Returned frame is [[cached]] (every
    * caller consumes it at least twice). */
  private def tfFrame(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      tokens(coalesce(col(textCol), lit(""))).as("toks"))
    val tc = toks.select(col(idCol), size(col("toks")).as("dl"),
      explode(col("toks")).as("term"))
    cached(tc.groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf")))
  }

  /** [[tfFrame]] with POSITIONS — the segmented layout's posting
    * relation (Lucene keeps positions inside the segment postings,
    * and so does this engine since round 13): per (doc, term) the
    * sorted 0-based token positions alongside dl/tf, so ONE written
    * artifact serves BM25 scoring AND phrase/proximity/prefix — and
    * the positional probes inherit the whole maintenance family
    * (append, tombstones, tiered merge, GC, recrawl, streaming)
    * instead of a rebuild-only side layout. tf ≡ size(positions) by
    * construction; the BM25 read paths project positions away, so
    * parquet never materializes the column for pure scoring probes.
    * Same null-text coalesce contract as [[tfFrame]]. */
  private def tfPosFrame(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      tokens(coalesce(col(textCol), lit(""))).as("toks"))
    val tc = toks.select(col(idCol), size(col("toks")).as("dl"),
      posexplode(col("toks")).as(Seq("pos", "term")))
    cached(tc.groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions")))
  }

  /** THE one fixed-point BM25 term-contribution expression — over
    * columns (tf, df, dl, n_docs, avgdl) — shared by every scoring
    * path ([[bm25Score]] and [[booleanSearch]]) so the arithmetic
    * the q97/q114/q115 gates pin can never fork. */
  private def contribFp(k1: Double, b: Double,
                        boost: Column = lit(1.0)): Column = floor(
    (log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
        (col("df") + 0.5)) *
      (col("tf") * (k1 + 1)) /
      (col("tf") +
        lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      * boost * lit(1e7) + lit(0.5)).cast("long")

  /** THE one BM25 scoring definition — shared by the corpus-scan path
    * ([[bm25TopK]]) and the materialized-index probe
    * ([[bm25ProbeIndex]]), so the two can never diverge on the
    * arithmetic the q97/q114 gates pin. `postings` carries
    * (term, idCol, tf, dl, df); `stats` one row (n_docs, avgdl). */
  private def bm25Score(postings: DataFrame, qterms: DataFrame,
                        stats: DataFrame, idCol: String, k: Int,
                        k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col(idCol))
    postings.join(broadcast(qterms), "term")
      .crossJoin(broadcast(stats))
      .withColumn("contrib_fp", contribFp(k1, b))
      .groupBy(col("qid"), col(idCol))
      .agg(round(sum(col("contrib_fp")) / lit(1e7), 4).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("score"))
  }

  /** Materialize the lexical INVERTED INDEX — the sparse-retrieval
    * analog of the quantized IVF file: at corpus scale a BM25 query
    * must probe a posting-list layout, never re-tokenize and re-scan
    * the corpus per panel. Layout under `path`:
    *
    *   - `postings/`: (term, id, tf, dl, df) range-partitioned and
    *     sorted by term, so every parquet file/row-group carries tight
    *     term min/max stats and a term predicate prunes the files the
    *     probe never needs (the PushedFilters analog of the IVF cell
    *     directories). df is DENORMALIZED onto each posting — +8
    *     bytes/row buys the probe one fewer corpus-sized join.
    *   - `stats/`: one row (n_docs, avgdl) — exact integer-sum
    *     average, the same derivation as [[bm25TopK]].
    */
  def bm25WriteIndex(docs: DataFrame, idCol: String, textCol: String,
                     path: String): Unit = {
    // three consumers (the dfreq aggregate, the join probe side, the
    // stats pass) — without materialization each re-tokenizes the
    // corpus from source (scope-owned: the Bench/Verify/gate scopes
    // release it; bare callers keep the historical cache() contract)
    val tf = graft.engine.Caching.cached(tfFrame(docs, idCol, textCol))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"), col(idCol))
      .write.mode("overwrite").parquet(s"$path/postings")
    tf.select(col(idCol), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** SEGMENTED lexical index — the INCREMENTAL maintenance story for
    * BM25 (the Lucene segment model, relationally): corpus batches
    * append as immutable segments, deletions and modifications
    * tombstone the old rows, and a modification re-appends under a new
    * segment. Nothing is rewritten in place — the 100 TB-friendly
    * property the monolithic [[bm25WriteIndex]] lacks (a posting
    * layout partitioned by TERM scatters any per-doc update across
    * every partition; segments make updates append-only).
    *
    * Global scoring state is reconstructed at probe time without any
    * full-index work: df for the PANEL's terms is counted from the
    * already-filtered posting lists themselves, and (n_docs, avgdl)
    * derive from per-segment exact integer partials minus the
    * tombstoned rows' — so probe cost stays posting-list-sized and
    * the arithmetic matches the from-scratch scan bit-for-bit (the
    * q115 gate). Tombstones are SEGMENT-SCOPED: a tombstone written at
    * segment s kills the key's postings in segments < s only, so a
    * modification is "tombstone at s + re-append at s" and the fresh
    * rows survive (the Lucene doc-generation rule; a key-scoped kill
    * would erase the re-append too). Contract: re-append lands at a
    * segment ≥ its tombstone's; ids are LONG.
    *
    * Postings carry (id, dl, term, tf, positions) — the positional
    * payload ([[tfPosFrame]], Lucene's positions-in-the-postings
    * layout) rides in the segment rows, so [[phraseSearch]] /
    * [[proximitySearch]] / [[termPrefixSearch]] probe THIS layout and
    * inherit the whole maintenance family (tombstones, tiered merge,
    * GC, recrawl, streaming ingest); BM25 probes project the column
    * away and parquet never reads its pages. */
  def bm25AppendSegment(docs: DataFrame, idCol: String, textCol: String,
                        path: String, segment: Int): Unit = {
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // write-once rule: a segment-number REUSE (a streaming replay's
    // re-append, the post-full-merge clock restart) must never
    // overwrite a directory an older sealed generation still
    // references — route the rewrite to a fresh rev dir instead; the
    // seal REPLACES the entry, so the latest generation reads the new
    // rows and every pinned/as-of generation keeps its old ones
    lazy val rev = SegmentManifest.revDir(
      SegmentManifest.latestGen(spark, path).getOrElse(0) + 1)
    def loc(l: String): String = {
      val live = s"$l/seg=$segment"
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/$live")))
        s"$rev/$l/seg=$segment"
      else live
    }
    val locs = Seq("postings", "termdict", "segstats")
      .map(l => l -> loc(l)).toMap
    val tf = tfPosFrame(docs, idCol, textCol)
    tf.repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"), col(idCol))
      .write.mode("overwrite").parquet(s"$path/${locs("postings")}")
    // the two derived artifacts read the JUST-WRITTEN postings back
    // (explicit schema — no inference job) instead of re-deriving tf
    // from source: both are pure projections of tf, and the postings
    // file IS tf, so re-tokenizing the batch two more times bought
    // nothing — at batch scale the re-read is two column-pruned
    // delta-sized scans (term only; id+dl only — parquet never touches
    // the positional pages) vs two full tokenize+explode passes
    val posted = spark.read.schema(tf.schema)
      .parquet(s"$path/${locs("postings")}")
    // per-segment TERM DICTIONARY (Lucene's terms file): the
    // dictionary-expansion queries (fuzzy/wildcard) read this
    // vocabulary-sized artifact instead of distinct-ing the
    // corpus-sized postings. Maintenance invariant: the dict union
    // must be a SUPERSET of the live vocabulary — appends write their
    // segment's exact terms; tombstones and tiered folds leave dicts
    // untouched (a dead term in the dict expands into the probe's IN
    // list and matches nothing — correct, just unpruned, exactly
    // Lucene's deleted-docs-keep-terms behavior); only the full merge
    // rewrites the dict from the live rows (the purge).
    // The two small writes are independent of each other — overlap
    // them (guide §2.6: actions are only sequential because the
    // driver calls them sequentially); both must land before the seal
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val dictW = Future {
      posted.select(col("term")).distinct()
        .sort(col("term"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$path/${locs("termdict")}")
    }
    val statsW = Future {
      posted.select(col(idCol), col("dl")).distinct()
        .agg(count(lit(1)).as("n_docs"),
          sum(col("dl")).cast("long").as("sum_dl"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$path/${locs("segstats")}")
    }
    Await.result(dictW, Duration.Inf)
    Await.result(statsW, Duration.Inf)
    // declare the written schemas so the next maintenance read skips
    // footer inference even when every member of a layout is fresh
    SegmentManifest.declareSchema(spark, path,
      Seq(locs("postings")), tf.schema)
    SegmentManifest.declareSchema(spark, path, Seq(locs("termdict")),
      org.apache.spark.sql.types.StructType(
        tf.schema.filter(_.name == "term")))
    SegmentManifest.declareSchema(spark, path, Seq(locs("segstats")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_docs",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sum_dl",
          org.apache.spark.sql.types.LongType))))
    // seal the append as the next generation — replacing any
    // same-segment entry (a replayed segment supersedes its earlier
    // attempt; the old attempt's directory stays pinned-readable)
    sealNext(spark, path) { m =>
      locs.foldLeft(m) { case (acc, (l, lc)) =>
        acc.replace(l, Set.empty,
          Seq(SegmentManifest.Entry(segment, lc)))
      }
    }
    ()
  }

  /** Tombstone keys (with their OLD document length, so the corpus
    * stats can be corrected without re-reading the old segments). */
  def bm25Tombstone(keys: DataFrame, idCol: String, dlCol: String,
                    path: String, segment: Int): Unit = {
    val spark = keys.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // same write-once reuse rule as [[bm25AppendSegment]]: a rewrite
    // of an existing tombstone segment (a recrawl retry, a number
    // reused after the full merge cleared the set) goes to a fresh
    // rev dir; the seal replaces the entry
    val live = s"tombstones/seg=$segment"
    val loc =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/$live")))
        s"${SegmentManifest.revDir(
          SegmentManifest.latestGen(spark, path).getOrElse(0) + 1)}/$live"
      else live
    val tombRows = keys.select(col(idCol).cast("long").as(idCol),
      // null dl fails AT WRITE: the stats correction (probe and
      // tombstone GC) subtracts this value — a null would silently
      // shift n_docs/avgdl (probe sum skips nulls, count does not)
      // and NPE the GC's driver-side fold
      coalesce(col(dlCol).cast("long"),
        raise_error(lit("bm25Tombstone: null dl — the stats " +
          "correction requires the old document length"))
          .cast("long")).as("dl"))
    tombRows.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/$loc")
    SegmentManifest.declareSchema(spark, path, Seq(loc),
      tombRows.schema)
    sealNext(spark, path)(_.replace("tombstones", Set.empty,
      Seq(SegmentManifest.Entry(segment, loc))))
    ()
  }

  /** The segmented layout's tombstone frame (idCol, dl, seg). A fresh
    * index has no tombstones directory — read as empty, not as an
    * error (schema supplied, same trick as the IVF staging). */
  private def readTombstones(spark: org.apache.spark.sql.SparkSession,
                             snap: SegSnapshot, idCol: String): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
    val tombSchema = new StructType()
      .add(idCol, LongType).add("dl", LongType).add("seg", IntegerType)
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tombSchema)
    // explicit member schema: a legacy layout whose bootstrap
    // folded in an EMPTY tombstones/seg=N dir (crash debris with no
    // parquet files) must read as zero rows, not fail inference
    val entrySchema = new StructType()
      .add(idCol, LongType).add("dl", LongType)
    SegmentManifest.read(spark, snap.path, snap.manifest, "tombstones",
        schema = Some(entrySchema))
      .map(_.select(col(idCol), col("dl"),
        col("seg").cast("int").as("seg")))
      .getOrElse(empty)
  }

  /** THE segment-scoped kill rule, shared by [[bm25ProbeSegmented]]
    * and [[bm25MergeSegments]] (probe ≡ merge parity is the q122
    * contract — two hand-copies of this filter could drift): keep a
    * posting iff no tombstone for its key has a segment STRICTLY
    * above the posting's (max per key — a twice-modified key carries
    * two tombstones). `postings` must carry (idCol, seg). */
  private def liveAfterTombstones(postings: DataFrame, tombs: DataFrame,
                                  idCol: String): DataFrame = {
    val maxTomb = tombs.groupBy(col(idCol))
      .agg(max(col("seg")).as("_tseg"))
    postings.join(maxTomb, Seq(idCol), "left")
      .filter(col("_tseg").isNull || col("seg") >= col("_tseg"))
      .drop("_tseg")
  }

  /** Probe a segmented index: pushed `term IN` over every segment's
    * term-sorted postings, tombstone anti-join, df counted from the
    * filtered lists, stats from segment partials − tombstones, then
    * [[bm25Score]] — the same arithmetic as the direct scan. Guarded
    * by [[requireQuiescent]]: a probe racing a maintenance op's swap
    * window fails loudly instead of mis-scoring.
    *
    * `asOfSegment` is the TIME-TRAVEL read (the generational layout's
    * free dividend, Lucene's point-in-time commit / Delta's version
    * read): score against the index state as of generation g by
    * dropping every posting, tombstone, and stats partial with
    * seg > g — arithmetic and kill rule untouched, so the answer is
    * bit-identical to what a probe at generation g returned.
    * VALIDITY WINDOW: history survives only until a fold rewrites it
    * — tiered/full merges renumber segments and drop dead rows, so
    * as-of reads reach back to the last compaction, exactly Lucene's
    * deleted-commit / Delta's vacuum horizon. */
  def bm25ProbeSegmented(spark: org.apache.spark.sql.SparkSession,
                         path: String, queries: DataFrame, k: Int,
                         idCol: String, k1: Double = 1.2,
                         b: Double = 0.75,
                         asOfSegment: Option[Int] = None,
                         asOfGeneration: Option[Int] = None): DataFrame = {
    val qterms = queries.select(col("qid"),
      explode(array_distinct(tokens(col("qtext")))).as("term"))
    val terms = qterms.select(col("term")).distinct()
      .collect().map(_.getString(0))
    val (live, stats) = liveScoring(spark,
      pinSeg(spark, path, asOfGeneration), idCol, terms, asOfSegment)
    val dfq = live.groupBy(col("term"))
      .agg(count_distinct(col(idCol)).as("df"))
    bm25Score(live.join(dfq, "term"), qterms, stats, idCol, k, k1, b)
  }

  /** Live scoring rows + exact global stats of a SEGMENTED index for
    * a bounded term set — the shared read path of
    * [[bm25ProbeSegmented]] and [[booleanSearch]]: pushed `term IN`
    * posting scan → segment-scoped tombstone kill rule →
    * (id, dl, term, tf), plus the one-row (n_docs, avgdl) frame
    * derived from per-segment exact integer partials minus the
    * tombstoned rows' (bit-identical to the from-scratch scan — the
    * q115 contract). The live frame is cached: both callers
    * re-consume it (df derivation + scoring). */
  private def liveScoring(spark: org.apache.spark.sql.SparkSession,
                          snap: SegSnapshot, idCol: String,
                          terms: Array[String],
                          asOfSegment: Option[Int] = None)
      : (DataFrame, DataFrame) = {
    // as-of: the generation cut applies uniformly to postings,
    // tombstones, and stats partials — seg is the partition column
    // (or the manifest entry's literal) on all three layouts, so the
    // cut prunes whole segments
    def cut(df: DataFrame): DataFrame = asOfSegment match {
      case Some(g) => df.filter(col("seg").cast("int") <= g)
      case None => df
    }
    val tombs = cut(readTombstones(spark, snap, idCol))
    val live = cached(liveAfterTombstones(
      cut(readLayout(spark, snap, "postings"))
        .filter(col("term").isin(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(terms): _*))
        .select(col(idCol), col("dl"), col("term"), col("tf"),
          col("seg")),
      tombs, idCol)
      .select(col(idCol), col("dl"), col("term"), col("tf")))
    val seg = cut(readLayout(spark, snap, "segstats"))
      .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("s"))
    val tomb = tombs.agg(
      coalesce(count(lit(1)), lit(0L)).as("tn"),
      coalesce(sum(col("dl")), lit(0L)).as("ts"))
    val stats = seg.crossJoin(tomb)
      .select((col("n") - col("tn")).as("n_docs"),
        ((col("s") - col("ts")).cast("double") /
          (col("n") - col("tn")).cast("double")).as("avgdl"))
    (live, stats)
  }

  /** Lucene's BooleanQuery over a SEGMENTED index, relationally:
    * a document matches iff it contains EVERY `must` term, NONE of
    * the `mustNot` terms, and — when `must` is empty — at least one
    * `should` term; its score is the BM25 sum over the distinct
    * positive (must ∪ should) terms it contains, through the one
    * shared [[contribFp]] arithmetic. Returns the top `k` as
    * (idCol, score), ties broken by id.
    *
    * Scale shape: ONE pushed `term IN` posting scan over all three
    * clauses' terms (posting-list-bounded, documents never read),
    * the tombstone kill rule, a panel-term-sized broadcast df join,
    * and a single groupBy(id) that folds matching flags and the
    * score together — the mustNot exclusion is a `max(when)` flag in
    * the same aggregate, never a second scan or an anti-join. Top-k
    * is orderBy+limit (TakeOrderedAndProject — no global sort
    * materialization).
    *
    * `minShouldMatch` is Lucene/Solr's mm parameter: require at least
    * that many DISTINCT should terms per document, ON TOP of the
    * default rule (with no must terms, ≥1 positive term is always
    * required — mm=0 never readmits a zero-match doc). The count
    * folds as one more `count_distinct(when)` in the same aggregate —
    * no extra scan.
    *
    * `after` is Lucene's searchAfter cursor — KEYSET pagination for
    * deep result paging: pass the last returned (score, id) and get
    * the next k strictly after it in the total (score DESC, id ASC)
    * order. The cursor compares on the ROUNDED score the caller was
    * handed (the public contract — rounding and ordering use the same
    * value, so the continuation is exact), as one codegen'd filter
    * before the top-k cut; unlike OFFSET paging, page n never
    * re-ranks or discards n·k rows.
    *
    * `allowed` restricts results to an id RELATION — the lexical
    * analog of [[Similarity.ivfProbePrunedCosineFiltered]]'s filtered
    * retrieval, and the composition hook for non-term clauses: pass
    * an attribute-filtered metadata relation ("search WHERE lang =
    * 'pt'") or another probe's matching ids ([[phraseSearch]] as a
    * required phrase clause — Lucene's PhraseQuery-inside-
    * BooleanQuery). PRE-filter semantics as the ANN side: a left-semi
    * join before the top-k cut, so k survivors fill whenever the
    * match set holds them — post-filtering a page under-fills it.
    * Scoring is untouched: only the panel terms contribute, exactly
    * as Lucene scores a filter clause at zero.
    *
    * `collapse` is Lucene/Solr FIELD COLLAPSING (CollapsingTopDocs /
    * collapse query parser): pass (metadata relation, group column)
    * and the result keeps only the SINGLE best hit per group value —
    * highest score, ties to the smaller id — before the top-k cut, so
    * a page holds k DISTINCT groups (result diversification: ≤1 hit
    * per domain/source). NULL group keys collapse together as one
    * group (Solr's nullPolicy=collapse). The output gains the group
    * column. Scale shape: the group key joins onto the MATCH SET
    * (aggregate-sized, never the corpus), and the best-per-group cut
    * is a window over that same set — the cost class ranking already
    * paid; collapse composes with `after` (collapse first, then the
    * cursor, Lucene's order — the cursor walks the collapsed total
    * order). `collapseTop` generalizes collapse to Solr grouping's
    * group.limit: keep the best N hits per group value instead of 1
    * (ignored when `collapse` is unset).
    *
    * `boosts` is Lucene's per-term boost (`query^3`): the named
    * positive term's whole contribution scales by the weight before
    * the shared fixed-point floor — match semantics (must/mustNot/mm)
    * are untouched, only ranking moves. Keys must be positive terms;
    * weights must be > 0 (a 0 boost would silently delete a term —
    * spell that as removing it from the query).
    *
    * `factor` is Elasticsearch's function_score with a doc-value
    * factor (recency/popularity boost): pass (metadata relation,
    * factor column) and every match's PUBLIC rounded score multiplies
    * by its factor — re-rounded to the same 4 decimals — BEFORE the
    * collapse/cursor/top-k chain, so the cut ranks the combined
    * value, exactly ES's composition order. A doc absent from the
    * relation (or with a null factor) keeps its query score (neutral
    * 1.0 — ES's missing-value default). The join lands on the
    * aggregate-sized match set, never the corpus. */
  def booleanSearch(spark: org.apache.spark.sql.SparkSession,
                    path: String, must: Seq[String],
                    should: Seq[String], mustNot: Seq[String],
                    k: Int, idCol: String, k1: Double = 1.2,
                    b: Double = 0.75,
                    excludeIds: Seq[Any] = Nil,
                    minShouldMatch: Int = 0,
                    after: Option[(Double, Long)] = None,
                    allowed: Option[DataFrame] = None,
                    collapse: Option[(DataFrame, String)] = None,
                    boosts: Map[String, Double] = Map.empty,
                    factor: Option[(DataFrame, String)] = None,
                    collapseTop: Int = 1)
      : DataFrame =
    booleanSearchPinned(spark, pinSeg(spark, path), must, should,
      mustNot, k, idCol, k1, b, excludeIds, minShouldMatch, after,
      allowed, collapse, boosts, factor, collapseTop)

  /** [[booleanSearch]] over an ALREADY-pinned snapshot — the entry
    * for probes that compose several index reads and must resolve
    * the generation exactly once ([[rescoreWithPhrase]]): two pins
    * in one probe could straddle a seal and mix generations. */
  private def booleanSearchPinned(
      spark: org.apache.spark.sql.SparkSession,
      snap: SegSnapshot, must: Seq[String],
      should: Seq[String], mustNot: Seq[String],
      k: Int, idCol: String, k1: Double = 1.2,
      b: Double = 0.75,
      excludeIds: Seq[Any] = Nil,
      minShouldMatch: Int = 0,
      after: Option[(Double, Long)] = None,
      allowed: Option[DataFrame] = None,
      collapse: Option[(DataFrame, String)] = None,
      boosts: Map[String, Double] = Map.empty,
      factor: Option[(DataFrame, String)] = None,
      collapseTop: Int = 1)
      : DataFrame = {
    require(collapseTop >= 1,
      s"booleanSearch: collapseTop $collapseTop < 1")
    val mustD = must.distinct
    val shouldD = should.distinct.filterNot(mustD.contains)
    val notD = mustNot.distinct
    require(boosts.values.forall(_ > 0),
      "booleanSearch: boosts must be > 0")
    require(boosts.keySet.subsetOf((mustD ++ shouldD).toSet),
      "booleanSearch: boost on a term outside the positive clauses")
    require(mustD.nonEmpty || shouldD.nonEmpty,
      "booleanSearch: no positive (must/should) terms")
    val clash = (mustD ++ shouldD).intersect(notD)
    require(clash.isEmpty,
      s"booleanSearch: terms both positive and mustNot: $clash")
    require(minShouldMatch >= 0 && minShouldMatch <= shouldD.size,
      s"booleanSearch: minShouldMatch $minShouldMatch outside " +
        s"[0, ${shouldD.size}] (distinct should terms not already must)")
    val (live, stats) = liveScoring(spark, snap, idCol,
      (mustD ++ shouldD ++ notD).toArray)
    booleanCore(live, stats, mustD, shouldD, notD, k, idCol, k1, b,
      excludeIds, minShouldMatch, after, allowed, collapse, boosts,
      factor, collapseTop)
  }

  /** [[booleanSearch]]'s scoring body over an already-read live
    * frame — shared with [[moreLikeThis]], which selects its terms
    * from the SAME scan and must score them through the same
    * arithmetic. `excludeIds` drops documents before the top-k cut
    * (MLT's seed exclusion). */
  private def booleanCore(live: DataFrame, stats: DataFrame,
                          mustD: Seq[String], shouldD: Seq[String],
                          notD: Seq[String], k: Int, idCol: String,
                          k1: Double, b: Double,
                          excludeIds: Seq[Any],
                          minShouldMatch: Int = 0,
                          after: Option[(Double, Long)] = None,
                          allowed: Option[DataFrame] = None,
                          collapse: Option[(DataFrame, String)] = None,
                          boosts: Map[String, Double] = Map.empty,
                          factor: Option[(DataFrame, String)] = None,
                          collapseTop: Int = 1)
      : DataFrame = {
    val positive = mustD ++ shouldD
    def inSet(set: Seq[String]): Column =
      if (set.isEmpty) lit(false)
      else col("term").isin(scala.collection.immutable.ArraySeq
        .unsafeWrapArray(set.toArray): _*)
    // Lucene's per-term boost: the whole term contribution scales
    // before the ONE fixed-point floor, so boosted scoring stays
    // addend-order-deterministic; a query-sized chained-when literal,
    // never a join. Boost 1.0 (the default) is an exact IEEE no-op.
    val boostCol = boosts.foldLeft(lit(1.0)) {
      case (acc, (t, w)) => when(col("term") === t, lit(w)).otherwise(acc)
    }
    val dfq = live.filter(inSet(positive))
      .groupBy(col("term"))
      .agg(count_distinct(col(idCol)).as("df"))
    // left join: mustNot rows carry no df, and their contribution is
    // masked to 0 below before the null could propagate
    val scored = live.join(broadcast(dfq), Seq("term"), "left")
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(
        sum(when(inSet(positive), contribFp(k1, b, boostCol))
          .otherwise(lit(0L))).as("score_fp"),
        count_distinct(when(inSet(mustD), col("term"))).as("n_must"),
        // minimum-should-match=1: a doc must carry ≥1 POSITIVE term —
        // the live frame can be wider than the positive set (MLT scans
        // the full seed vocabulary but selects a subset), and a doc
        // matching only unselected terms must not leak through at
        // score 0
        max(when(inSet(positive), lit(1)).otherwise(lit(0)))
          .as("has_pos"),
        // mm: distinct SHOULD terms only — must terms never count
        // toward the should quota (Lucene's accounting)
        count_distinct(when(inSet(shouldD), col("term")))
          .as("n_should"),
        max(when(inSet(notD), lit(1)).otherwise(lit(0)))
          .as("has_not"))
      .filter(col("has_not") === 0 && col("has_pos") === 1 &&
        col("n_must") === mustD.size &&
        col("n_should") >= minShouldMatch)
    val excluded =
      if (excludeIds.isEmpty) scored
      else scored.filter(!col(idCol).isin(
        scala.collection.immutable.ArraySeq
          .unsafeWrapArray(excludeIds.toArray): _*))
    // filter clause: PRE-filter before the cut (see scaladoc); the
    // match set is aggregate-sized, the filter relation the caller's
    val gated = allowed match {
      case Some(rel) => excluded.join(
        rel.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
      case None => excluded
    }
    val ranked0 = gated
      .select(col(idCol),
        round(col("score_fp") / lit(1e7), 4).as("score"))
    // function-score factor: the public rounded score multiplies by
    // the doc-value factor and re-rounds BEFORE collapse/cursor/cut —
    // ES's composition order; left join + coalesce(1.0) is the
    // missing-value-neutral default, on the match set, not the corpus
    // no broadcast hint: `meta` is corpus-sized in intended use (the
    // factor is a doc value over ALL documents — q177 passes the full
    // table) and would blow Spark's 8 GB broadcast ceiling at scale;
    // AQE picks broadcast on its own when the relation is small
    val ranked = factor match {
      case Some((meta, fcol)) =>
        ranked0.join(
            meta.select(col(idCol),
              col(fcol).cast("double").as("_factor")).distinct(),
            Seq(idCol), "left")
          .withColumn("score",
            round(col("score") * coalesce(col("_factor"), lit(1.0)), 4))
          .drop("_factor")
      case None => ranked0
    }
    // field collapse: best hit per group value — the key joins onto
    // the aggregate-sized match set, never the corpus; a left join so
    // an id absent from the metadata relation lands in the NULL group
    // rather than vanishing; window partitioning puts all NULL keys in
    // one partition = Solr's nullPolicy=collapse
    val collapsed = collapse match {
      case Some((meta, fcol)) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col(fcol))
          .orderBy(col("score").desc, col(idCol))
        ranked.join(
            meta.select(col(idCol), col(fcol)).distinct(),
            Seq(idCol), "left")
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= collapseTop)
          .drop("__rn")
      case None => ranked
    }
    // searchAfter: strictly after the cursor in (score DESC, id ASC)
    // order — compares on the same rounded score the cursor came from
    val paged = after match {
      case Some((s, id)) => collapsed.filter(
        col("score") < s || (col("score") === s && col(idCol) > id))
      case None => collapsed
    }
    // k = Int.MaxValue is the UNCUT contract ([[hasChildSearch]]'s
    // parent fold consumes every match): no cut means the total sort
    // is pure waste — at 100 TB the match set can be millions of rows
    // and the consumer aggregates it anyway. Unsorted by design there;
    // every finite k keeps the public (score DESC, id) order.
    if (k == Int.MaxValue) paged
    else paged
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** HAS-CHILD search (Elasticsearch's has_child query): return
    * PARENT entities whose children match a boolean query — the
    * parent-child join primitive ("sources with ≥ minChildren
    * matching documents"). The child match set comes from
    * [[booleanSearch]]'s scoring body (uncut — the parent fold needs
    * every matching child, so the per-child cut would be wrong);
    * parents aggregate their children with `scoreMode` ∈ max | sum |
    * avg (ES's score modes; sum folds the fixed-point longs so it
    * stays addend-order-deterministic, avg divides that exact sum by
    * the child count before one rounding). Children missing from the
    * parent relation land in the NULL parent (kept — the caller
    * filters if orphans are noise). Scale shape: the parent key joins
    * the aggregate-sized match set, the fold is parents-sized.
    * Returns (parent, n_children, score), top `k` by (score DESC,
    * parent ASC NULLS LAST). */
  def hasChildSearch(spark: org.apache.spark.sql.SparkSession,
                     path: String, must: Seq[String],
                     should: Seq[String], mustNot: Seq[String],
                     parents: DataFrame, parentCol: String,
                     minChildren: Int, scoreMode: String, k: Int,
                     idCol: String, k1: Double = 1.2,
                     b: Double = 0.75): DataFrame = {
    require(Seq("max", "sum", "avg").contains(scoreMode),
      s"hasChildSearch: unknown scoreMode '$scoreMode'")
    require(minChildren >= 1 && k > 0,
      s"hasChildSearch: bad minChildren $minChildren / k $k")
    // uncut child match set: booleanSearch semantics with k = all
    // (the limit would drop children the parent fold must count);
    // Int.MaxValue keeps the one shared scoring body authoritative
    val children = booleanSearch(spark, path, must, should, mustNot,
      Int.MaxValue, idCol, k1, b)
    // no broadcast hint: the parents relation is one row per CHILD
    // document (corpus-sized — q181 passes the full documents table),
    // not the parents-sized fold output; a forced broadcast exceeds
    // the 8 GB limit at scale. AQE broadcasts small inputs unaided.
    val joined = children.join(
        parents.select(col(idCol), col(parentCol)).distinct(),
        Seq(idCol), "left")
      .withColumn("_fp",
        floor(col("score") * lit(1e7) + lit(0.5)).cast("long"))
    val folded = joined.groupBy(col(parentCol))
      .agg(count(lit(1)).as("n_children"),
        max(col("_fp")).as("_mx"), sum(col("_fp")).as("_sm"))
      .filter(col("n_children") >= minChildren)
    val scoreCol = scoreMode match {
      case "max" => col("_mx")
      case "sum" => col("_sm")
      case "avg" => floor(col("_sm").cast("double") /
        col("n_children") + lit(0.5)).cast("long")
    }
    folded
      .select(col(parentCol), col("n_children"),
        round(scoreCol / lit(1e7), 4).as("score"))
      .orderBy(col("score").desc, col(parentCol).asc_nulls_last)
      .limit(k)
  }

  /** RESCORE window (Elasticsearch's rescorer): re-rank only the top
    * `windowN` hits of a cheap should-query with an expensive PHRASE
    * test — the two-stage relevance economics: BM25 prunes the corpus
    * to a window, the positional phrase probe is posting-bounded, and
    * the final score combines as ES's
    *
    *   final = query_weight · score + rescore_weight · [phrase hit]
    *
    * re-rounded to the public 4 decimals, with the top-k cut on the
    * COMBINED value. The phrase match set joins the window as a
    * broadcast (both are aggregate-sized); a window doc without the
    * phrase keeps query_weight · score. windowN ≥ k guarded — a
    * window smaller than the page would silently truncate results ES
    * would return. */
  def rescoreWithPhrase(spark: org.apache.spark.sql.SparkSession,
                        path: String, should: Seq[String],
                        phrase: Seq[String], windowN: Int, k: Int,
                        idCol: String, queryWeight: Double = 1.0,
                        rescoreWeight: Double = 1.0): DataFrame = {
    require(windowN >= k,
      s"rescoreWithPhrase: windowN ($windowN) < k ($k)")
    // ONE pin for both reads (pinSeg's own contract): a seal landing
    // between a window pin and a phrase pin would score the BM25
    // window against one generation and the phrase hit-set against
    // another — a combined ranking neither generation would return
    val snap = pinSeg(spark, path)
    val window = booleanSearchPinned(spark, snap, Nil, should, Nil,
      windowN, idCol)
    val ph = phraseSearchPinned(spark, snap, phrase, idCol)
      .select(col(idCol)).withColumn("_ph", lit(1))
    window.join(broadcast(ph), Seq(idCol), "left")
      .withColumn("score",
        round(col("score") * lit(queryWeight) +
          when(col("_ph") === 1, lit(rescoreWeight))
            .otherwise(lit(0.0)), 4))
      .drop("_ph")
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Lucene's SynonymQuery over a SEGMENTED index, relationally: each
    * `groups` entry is a synonym set scored AS IF ITS MEMBERS WERE ONE
    * TERM — per document the group's tf is the SUM of member tfs, and
    * its df is the number of live documents containing ≥1 member. Where
    * Lucene's architecture forces the max-of-member-dfs APPROXIMATION
    * for the blended df (exact union cardinality would need a posting
    * merge it can't afford at query time), the relational form computes
    * the exact union df in the same aggregate that builds the pseudo-
    * postings — strictly the semantics SynonymQuery's javadoc states
    * ("as if they were a single term"). Each group then contributes
    * through the ONE shared [[contribFp]] arithmetic; a document
    * matches iff it contains ≥1 member of ≥1 group (should semantics).
    *
    * Scale shape: ONE pushed `term IN` posting scan over every group's
    * members (posting-bounded) → tombstone kill rule → broadcast
    * term→group map join → groupBy(id, group) tf fold → group df as a
    * groups-sized aggregate → one scoring groupBy(id). Top-k is
    * orderBy+limit. Groups must be pairwise disjoint — an overlapping
    * member would double-count its tf (guarded loud). */
  def synonymSearch(spark: org.apache.spark.sql.SparkSession,
                    path: String, groups: Seq[Seq[String]], k: Int,
                    idCol: String, k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    val gs = groups.map(_.distinct)
    require(gs.nonEmpty && gs.forall(_.nonEmpty),
      "synonymSearch: empty group")
    val flat = gs.zipWithIndex.flatMap { case (ms, gi) =>
      ms.map(t => (t, gi)) }
    require(flat.map(_._1).distinct.size == flat.size,
      "synonymSearch: groups must be pairwise disjoint")
    val (live, stats) = liveScoring(spark, pinSeg(spark, path), idCol,
      flat.map(_._1).toArray)
    import spark.implicits._
    val gmap = flat.toDF("term", "grp")
    val pseudo = live.join(broadcast(gmap), "term")
      .groupBy(col(idCol), col("dl"), col("grp"))
      .agg(sum(col("tf")).as("tf"))
    val dfg = pseudo.groupBy(col("grp"))
      .agg(count_distinct(col(idCol)).as("df"))
    pseudo.join(broadcast(dfg), "grp")
      .crossJoin(broadcast(stats))
      .withColumn("contrib_fp", contribFp(k1, b))
      .groupBy(col(idCol))
      .agg(round(sum(col("contrib_fp")) / lit(1e7), 4).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Lucene's DisjunctionMaxQuery, relationally: each clause is a term
    * set scored as its own BM25 sum, and a document's score is the MAX
    * clause score plus `tiebreak` × the sum of the others —
    *
    *   score(d) = max_c s_c(d) + tiebreak · (Σ_c s_c(d) − max_c s_c(d))
    *
    * the published semantics (tiebreak 0 = pure max, the classic
    * multi-field "best field wins" ranking that stops a term matching
    * two weak clauses from outranking one strong match; tiebreak 1
    * degenerates to the boolean sum). A document matches iff ≥1 clause
    * matches. Unlike [[synonymSearch]] clauses may OVERLAP — a shared
    * term scores independently in each clause, exactly as Lucene's
    * subqueries are independent scorers.
    *
    * Fixed-point discipline: per-clause sums fold the shared
    * [[contribFp]] longs; the tiebreak combine rounds to a long ONCE
    * (`floor(tb·rest + 0.5)`) before the public 1e-7 rounding, so the
    * score is addend-order-deterministic like every scoring path.
    *
    * Scale shape: ONE pushed `term IN` posting scan over the union of
    * clause terms → tombstone kill rule → broadcast (term, clause)
    * fan-out (a term in c clauses duplicates into c rows — clause
    * count, not corpus, sized) → per-(doc, clause) fold → per-doc
    * max/sum fold. Top-k is orderBy+limit. */
  def disMaxSearch(spark: org.apache.spark.sql.SparkSession,
                   path: String, clauses: Seq[Seq[String]],
                   tiebreak: Double, k: Int, idCol: String,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val cs = clauses.map(_.distinct)
    require(cs.nonEmpty && cs.forall(_.nonEmpty),
      "disMaxSearch: empty clause")
    require(tiebreak >= 0 && tiebreak <= 1,
      "disMaxSearch: tiebreak must be in [0, 1]")
    val flat = cs.zipWithIndex.flatMap { case (ts, ci) =>
      ts.map(t => (t, ci)) }
    val (live, stats) = liveScoring(spark, pinSeg(spark, path), idCol,
      flat.map(_._1).distinct.toArray)
    import spark.implicits._
    val cmap = flat.toDF("term", "clause")
    // BM25 df is per TERM (corpus-level), shared across clauses
    val dfq = live.groupBy(col("term"))
      .agg(count_distinct(col(idCol)).as("df"))
    val perClause = live.join(broadcast(dfq), "term")
      .join(broadcast(cmap), "term")
      .crossJoin(broadcast(stats))
      .withColumn("contrib_fp", contribFp(k1, b))
      .groupBy(col(idCol), col("clause"))
      .agg(sum(col("contrib_fp")).as("cs"))
    perClause.groupBy(col(idCol))
      .agg(max(col("cs")).as("mx"), sum(col("cs")).as("sm"))
      .withColumn("score_fp", col("mx") +
        floor(lit(tiebreak) * (col("sm") - col("mx")) + lit(0.5))
          .cast("long"))
      .select(col(idCol),
        round(col("score_fp") / lit(1e7), 4).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Lucene's Explanation, relationally: the PER-TERM decomposition of
    * a document's BM25 score against a term panel — (id, term, tf, df,
    * contrib_fp, contrib) with contrib_fp the SAME fixed-point
    * [[contribFp]] INTEGER every scoring path sums, so
    * round(Σ contrib_fp / 1e7, 4) over a doc's rows IS its
    * [[booleanSearch]]/[[bm25ProbeSegmented]] score to the last digit
    * (spec-pinned; the integers are exact, where summing the rounded
    * per-term doubles would drift) — the property that makes the
    * explanation trustworthy rather than a parallel re-derivation.
    * `contrib` is the rounded display value. df/stats come from the
    * same live read path ([[liveScoring]]), so tombstones and segment
    * partials affect the explanation exactly as they affect scoring.
    *
    * Scale shape: one pushed `term IN` posting scan for the panel,
    * then a literal-`isin` cut to the requested docs (a bounded
    * explain set — this is a debugging/UI primitive, guarded loud at
    * `maxDocs`), broadcast df join, no aggregation at all. */
  def bm25Explain(spark: org.apache.spark.sql.SparkSession,
                  path: String, terms: Seq[String], docIds: Seq[Long],
                  idCol: String, k1: Double = 1.2, b: Double = 0.75,
                  maxDocs: Int = 1000): DataFrame = {
    val termsD = terms.distinct
    require(termsD.nonEmpty, "bm25Explain: no terms")
    require(docIds.nonEmpty && docIds.size <= maxDocs,
      s"bm25Explain: explain set size ${docIds.size} outside " +
        s"[1, $maxDocs] — the explanation is a bounded-panel primitive")
    val (live, stats) =
      liveScoring(spark, pinSeg(spark, path), idCol, termsD.toArray)
    val dfq = live.groupBy(col("term"))
      .agg(count_distinct(col(idCol)).as("df"))
    live.filter(col(idCol).isin(scala.collection.immutable.ArraySeq
        .unsafeWrapArray(docIds.toArray): _*))
      .join(broadcast(dfq), "term")
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        contribFp(k1, b).as("contrib_fp"),
        round(contribFp(k1, b) / lit(1e7), 4).as("contrib"))
  }

  /** Lucene's MoreLikeThis, relationally: rank the seed text's terms
    * by tf·idf AGAINST THE INDEX (seed tf × the engine's one BM25 idf
    * spelling — fixed-point, ties to the lexicographically smaller
    * term), keep the top `maxQueryTerms`, and run them as a
    * should-only [[booleanSearch]] (exactly what Lucene builds: a
    * BooleanQuery of SHOULD TermQueries), excluding `excludeIds`
    * (the seed document, when the text came from the corpus).
    *
    * Scale shape: ONE pushed `term IN` posting scan (the seed's
    * distinct terms — document-vocabulary-bounded, guarded by
    * `maxSeedTerms`) feeds BOTH the selection ranking and the final
    * scoring: selection needs df for only those terms, and the
    * selected subset's live rows are already in the cached frame.
    * The seed tokenizes through THE one [[tokens]] definition on a
    * 1-row frame, so selection and index agree on term boundaries by
    * construction. */
  def moreLikeThis(spark: org.apache.spark.sql.SparkSession,
                   path: String, likeText: String, maxQueryTerms: Int,
                   k: Int, idCol: String, excludeIds: Seq[Any] = Nil,
                   minTf: Int = 1, k1: Double = 1.2, b: Double = 0.75,
                   maxSeedTerms: Int = 10000): DataFrame = {
    require(maxQueryTerms > 0,
      s"moreLikeThis: maxQueryTerms $maxQueryTerms <= 0")
    val seedTf = cached(spark.range(1)
      .select(explode(tokens(lit(likeText))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("stf"))
      .filter(col("stf") >= minTf))
    val seedTerms = seedTf.select(col("term"))
      .collect().map(_.getString(0))
    require(seedTerms.length <= maxSeedTerms,
      s"moreLikeThis: seed has ${seedTerms.length} distinct terms > " +
        s"maxSeedTerms $maxSeedTerms — raise the bound or trim the text")
    val (live, stats) =
      liveScoring(spark, pinSeg(spark, path), idCol, seedTerms)
    def empty = live.groupBy(col(idCol))
      .agg(max(lit(0.0)).as("score")).limit(0)
    if (seedTerms.isEmpty) empty
    else {
      val dfq = live.groupBy(col("term"))
        .agg(count_distinct(col(idCol)).as("df"))
      // selection rank: seed tf × idf, the same fixed-point discipline
      // as contribFp so the cut is platform-deterministic
      val selected = seedTf.join(dfq, "term")
        .crossJoin(broadcast(stats))
        .withColumn("rank_fp", floor(
          col("stf") * log(lit(1.0) +
            (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
            * lit(1e7) + lit(0.5)).cast("long"))
        .orderBy(col("rank_fp").desc, col("term"))
        .limit(maxQueryTerms)
        .select(col("term")).collect().map(_.getString(0)).toSeq
      if (selected.isEmpty) empty
      else booleanCore(live, stats, Nil, selected, Nil, k, idCol,
        k1, b, excludeIds)
    }
  }

  /** MERGE a segmented lexical index — the other half of the Lucene
    * generation rule [[bm25AppendSegment]] implements (r10 verdict
    * item 3): fold every segment and its tombstones into ONE fresh
    * segment, dropping fully-dead postings, and clear the tombstone
    * set. Without merging, segments and tombstone files accumulate
    * unboundedly and every probe pays a per-segment tombstone join
    * plus |segments| stats partials forever; after a merge the probe
    * is back to the single-segment fast path while
    * [[bm25ProbeSegmented]] keeps producing bit-identical scores (the
    * live-posting rule and the stats arithmetic are the probe's own,
    * applied corpus-wide instead of panel-term-wide).
    *
    * The merged segment is renumbered seg=0 — with no tombstones left
    * there is no generation to preserve, and later appends restart the
    * generation clock above it (the re-append contract "segment ≥ its
    * tombstone's" is vacuously reset).
    *
    * COMMIT ([[SegmentManifest]] — atomic seal, MVCC): the merged
    * postings/termdict/segstats are written WRITE-ONCE under a fresh
    * `_rev/` directory, then ONE exclusive manifest seal makes the
    * new generation visible all-or-nothing. There is no swap window:
    * a crash before the seal leaves unreferenced garbage (the old
    * generation keeps serving, re-run from scratch); a racing reader
    * pinned the previous generation and keeps reading its untouched
    * directories; a racing WRITER loses the seal and fails loudly.
    * Old directories are reclaimed by [[bm25Vacuum]], until which
    * every sealed generation — including the pre-merge one — stays
    * probe-able via `asOfGeneration`.
    *
    * Returns (segments folded, live docs in the merged segment). */
  def bm25MergeSegments(spark: org.apache.spark.sql.SparkSession,
                        path: String, idCol: String): (Long, Long) = {
    val snap = pinSeg(spark, path)
    val base = snap.manifest
    val segsBefore = base.segs("postings").size.toLong
    val gen = base.gen + 1
    val rev = SegmentManifest.revDir(gen)
    // ONE live rule shared with the probe (q122's contract is that the
    // merge is invisible to scoring — a drifted copy of the kill rule
    // would break parity silently)
    val live = cached(liveAfterTombstones(
      readLayout(spark, snap, "postings"),
      readTombstones(spark, snap, idCol), idCol)
      .select(col(idCol), col("dl"), col("term"), col("tf"),
        col("positions")))
    live.repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"), col(idCol))
      .write.mode("overwrite")
      .parquet(s"$path/$rev/postings/seg=0")
    // the dict purge: rewrite the term dictionary from the LIVE rows —
    // the one maintenance op whose scope provably covers every dead
    // term the per-append dicts may still carry
    live.select(col("term")).distinct()
      .sort(col("term"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$path/$rev/termdict/seg=0")
    // exact integer partials from the live postings' distinct (id, dl)
    // — the same numbers the probe's segstats-minus-tombstones
    // correction reconstructs, now stored directly. Collected ONCE
    // (one row) and written from the driver: the return value reuses
    // the collected numbers instead of re-reading the written parquet
    // (one fewer job in the full fold's serial tail).
    val statsRow = live.select(col(idCol), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).cast("long").as("sum_dl"))
      .collect()(0)
    val nLive = statsRow.getLong(0)
    val sumDl = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
    locally { import spark.implicits._
      Seq((nLive, sumDl)).toDF("n_docs", "sum_dl")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$path/$rev/segstats/seg=0") }
    // the atomic commit: every layout points at the merged rev dir,
    // the tombstone set clears (the merge's scope provably covers
    // every segment a tombstone can reach)
    SegmentManifest.seal(spark, path, SegmentManifest.Manifest(gen,
      Map(
        "postings" -> Seq(SegmentManifest.Entry(0, s"$rev/postings/seg=0")),
        "termdict" -> Seq(SegmentManifest.Entry(0, s"$rev/termdict/seg=0")),
        "segstats" -> Seq(SegmentManifest.Entry(0, s"$rev/segstats/seg=0")),
        "tombstones" -> Nil)))
    (segsBefore, nLive)
  }

  /** TIERED merge — the Lucene merge-policy half of the segment
    * story: [[bm25MergeSegments]] folds EVERYTHING into one segment,
    * which is correct but O(index) write amplification per merge; a
    * real deployment merges small segments into bigger ones so each
    * append's bytes are rewritten only O(log n) times. This variant
    * folds the ADJACENT segment pair with the smallest combined
    * n_docs, repeatedly, until at most `maxSegments` remain —
    * size-tiered compaction under the one constraint the tombstone
    * algebra imposes: merged ranges must be CONTIGUOUS in segment
    * order, because the merged rows are renumbered to the range's
    * upper segment and must keep their position in the generation
    * clock.
    *
    * Tombstones are applied PHYSICALLY to the merged pair's rows (the
    * shared [[liveAfterTombstones]] rule, so probe ≡ merge parity
    * holds by construction) but RETAINED, and the merged segment's
    * stats partials are the SUM of the pair's old partials — the
    * retained tombstones keep subtracting the physically-dropped
    * rows, so the probe's (n_docs, avgdl) arithmetic is unchanged bit
    * for bit. Correctness of the renumbering: a surviving row had
    * seg ≥ every tombstone of its key, so lifting it to the pair's
    * upper segment can never re-expose it to a retained tombstone,
    * and rows outside the pair are untouched. Only the full
    * [[bm25MergeSegments]] clears the tombstone set (it is the only
    * merge whose scope provably covers every segment a tombstone can
    * reach).
    *
    * Commit protocol per fold ([[SegmentManifest]] — atomic seal,
    * MVCC): the folded postings + summed stats are written WRITE-ONCE
    * under a fresh `_rev/` directory, then one exclusive manifest
    * seal replaces the pair's entries all-or-nothing. No swap window:
    * a crash before the seal leaves unreferenced garbage (re-run from
    * the last sealed generation); racing readers keep their pinned
    * generation's untouched directories; a racing writer loses the
    * seal loudly. The pair's old directories — and the pre-fold
    * generation they compose — stay probe-able via `asOfGeneration`
    * until [[bm25Vacuum]]. The termdict entries are untouched by
    * design (the superset invariant; only the full merge purges).
    *
    * `protectNewest` exempts that many of the HIGHEST-numbered
    * segments from folding — the replay-safety lever for streaming
    * ingestion ([[graft.streaming.StreamingLexicalIndex]]): a
    * micro-batch retry re-appends `seg=batchId` with overwrite, so if
    * a fold had already absorbed an OLDER segment into seg=batchId,
    * the replay's overwrite would destroy the absorbed docs; keeping
    * the newest segment out of the fold set makes append-then-merge
    * idempotent under replay. With protection the layout may
    * transiently hold maxSegments + protectNewest segments when no
    * unprotected pair remains.
    *
    * Returns (folds performed, segments remaining). */
  def bm25MergeSegmentsTiered(spark: org.apache.spark.sql.SparkSession,
                              path: String, idCol: String,
                              maxSegments: Int,
                              protectNewest: Int = 0): (Long, Long) = {
    require(maxSegments >= 1,
      s"bm25MergeSegmentsTiered: maxSegments must be >= 1, got $maxSegments")
    require(protectNewest >= 0,
      s"bm25MergeSegmentsTiered: protectNewest must be >= 0, got $protectNewest")
    import spark.implicits._
    var base = SegmentManifest.latest(spark, path)
      .getOrElse(SegmentManifest.bootstrap(spark, path))
    var segs = SegmentManifest
      .read(spark, path, base, "segstats")
      .map(_.select(col("seg").cast("int"), col("n_docs").cast("long"),
          col("sum_dl").cast("long"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1))
      .getOrElse(Nil)
    var folds = 0L
    while (segs.length > maxSegments &&
        segs.length - protectNewest >= 2) {
      // adjacent pair with the smallest combined size among the
      // UNPROTECTED segments; ties to the oldest pair (deterministic)
      val i = segs.indices.dropRight(1 + protectNewest)
        .minBy(j => (segs(j)._2 + segs(j + 1)._2, segs(j)._1))
      val (a, na, sa) = segs(i)
      val (b, nb, sb) = segs(i + 1)
      val snapNow = SegSnapshot(path, base)
      val gen = base.gen + 1
      val rev = SegmentManifest.revDir(gen)
      val tombs = readTombstones(spark, snapNow, idCol)
      val live = liveAfterTombstones(
        readLayout(spark, snapNow, "postings")
          .filter(col("seg") === a || col("seg") === b),
        tombs, idCol)
        .select(col(idCol), col("dl"), col("term"), col("tf"),
          col("positions"))
      live.repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"), col(idCol))
        .write.mode("overwrite")
        .parquet(s"$path/$rev/postings/seg=$b")
      // summed OLD partials, not live counts — retained tombstones
      // still subtract the dropped rows at probe time
      val folded = Seq((na + nb, sa + sb)).toDF("n_docs", "sum_dl")
      folded.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/$rev/segstats/seg=$b")
      SegmentManifest.declareSchema(spark, path,
        Seq(s"$rev/postings/seg=$b"), live.schema)
      SegmentManifest.declareSchema(spark, path,
        Seq(s"$rev/segstats/seg=$b"), folded.schema)
      // atomic commit of this fold: drop the pair, point b at the
      // folded rev dir — all-or-nothing, no swap window
      val next = base
        .replace("postings", Set(a),
          Seq(SegmentManifest.Entry(b, s"$rev/postings/seg=$b")))
        .replace("segstats", Set(a),
          Seq(SegmentManifest.Entry(b, s"$rev/segstats/seg=$b")))
        .copy(gen = gen)
      SegmentManifest.seal(spark, path, next)
      base = next
      folds += 1
      segs = (segs.take(i) :+ (b, na + nb, sa + sb)) ++
        segs.drop(i + 2)
    }
    (folds, segs.length.toLong)
  }

  /** Crash-debris screen for LEGACY (pre-manifest) segmented layouts:
    * probes on such layouts pin an IN-MEMORY generation-0 manifest
    * ([[pinSeg]]) and are snapshot-isolated from every post-manifest
    * maintenance op — the one state a pin cannot make consistent is a
    * hive tree left HALF-SWAPPED by pre-manifest staging code, which
    * this guard detects by its staging directory. Recovery: run any
    * maintenance op (its first seal folds the hive tree into a real
    * generation and retires the staging protocol). */
  private def requireQuiescent(spark: org.apache.spark.sql.SparkSession,
                               path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (d <- Seq(".merge_staging", ".tier_staging", ".tomb_staging"))
      require(!fs.exists(new Path(s"$path/$d")),
        s"segmented index at $path has live maintenance staging $d — " +
          "probes must not race maintenance (single-writer contract); " +
          "re-run the owning maintenance op to recover")
  }

  /** A PINNED read snapshot of a segmented index: the generation
    * manifest every layout read of one probe resolves through, so a
    * maintenance op sealing a new generation mid-probe changes
    * nothing the probe sees ([[SegmentManifest]] — MVCC, the
    * UNIVERSAL read contract: manifest-less legacy layouts pin an
    * in-memory generation-0 manifest of their hive tree instead of
    * riding live directory discovery, see [[pinSeg]]). */
  private final case class SegSnapshot(
      path: String,
      manifest: SegmentManifest.Manifest)

  /** Resolve the snapshot ONE probe reads through — called exactly
    * once per probe entry (two resolutions in one probe could
    * straddle a seal and mix generations). `asOfGeneration` replays
    * the index state a historical seal pinned — valid back to the
    * vacuum horizon, and, unlike the `asOfSegment` cut, valid ACROSS
    * compactions (the fold's output is a different generation; the
    * old one's directories are still on disk). */
  private def pinSeg(spark: org.apache.spark.sql.SparkSession,
                     path: String,
                     asOfGeneration: Option[Int] = None): SegSnapshot =
    SegmentManifest.latestGen(spark, path) match {
      case Some(g) =>
        val target = asOfGeneration.getOrElse(g)
        SegSnapshot(path, SegmentManifest.load(spark, path, target))
      case None =>
        require(asOfGeneration.isEmpty,
          s"segmented index at $path has no sealed generations — " +
            "asOfGeneration needs a manifest history (write through " +
            "the maintenance ops to seal one)")
        requireQuiescent(spark, path)
        // UNIVERSAL snapshot reads (r14 verdict item 4): a manifest-less
        // legacy layout pins an IN-MEMORY generation-0 manifest of its
        // hive tree instead of riding live directory discovery. Sound
        // because every post-manifest maintenance op is write-once (new
        // segments are new dirs, rewrites go under _rev/, commits are
        // seals) — the pinned dirs can only disappear at vacuum, which
        // is the same retention contract every pinned reader has. No
        // seal is written: probes are readers; two concurrent probes
        // pin two identical in-memory snapshots. The quiescence check
        // above still screens PRE-manifest crash debris (a half-swapped
        // hive tree from r13-era staging protocols), the one state an
        // in-memory pin cannot make consistent.
        SegSnapshot(path, SegmentManifest.bootstrap(spark, path))
    }

  /** Seal the NEXT generation: load the latest manifest (or
    * bootstrap generation 0 from the hive tree — the legacy-layout
    * upgrade path), apply `f` to its composition, and seal it as
    * gen+1 with [[SegmentManifest.seal]]'s exclusive create — the
    * machine-checked single-writer rule: a concurrent maintenance op
    * that sealed first makes this fail loudly with the index intact
    * and this op's unreferenced output abandoned for the vacuum. */
  private def sealNext(spark: org.apache.spark.sql.SparkSession,
                       path: String)(
      f: SegmentManifest.Manifest => SegmentManifest.Manifest)
      : SegmentManifest.Manifest = {
    val base = SegmentManifest.latest(spark, path)
      .getOrElse(SegmentManifest.bootstrap(spark, path))
    val next = f(base).copy(gen = base.gen + 1)
    SegmentManifest.seal(spark, path, next)
    next
  }

  /** One layout of a pinned snapshot: one scan over the members with
    * the segment number as its `seg` partition column — one read
    * shape for sealed and in-memory (legacy bootstrap) manifests
    * alike. Layouts that can be legitimately EMPTY (tombstones, a
    * legacy termdict) go
    * through [[readTombstones]] / [[termDict]], which supply their
    * fallbacks. */
  private def readLayout(spark: org.apache.spark.sql.SparkSession,
                         snap: SegSnapshot, layout: String): DataFrame =
    SegmentManifest.read(spark, snap.path, snap.manifest, layout)
      .getOrElse(throw new IllegalStateException(
        s"segmented index at ${snap.path}: generation " +
          s"${snap.manifest.gen} has no $layout members"))

  /** Live positional postings of a SEGMENTED index under a pushed
    * term predicate — the shared read path of the phrase, proximity
    * and prefix probes: scan-filtered postings ([[bm25AppendSegment]]
    * carries positions in every segment row) → the segment-scoped
    * tombstone kill rule → (id, term, positions). One definition so
    * all three probes see exactly the live set the BM25 probe scores,
    * through the same pinned-generation snapshot ([[pinSeg]]). */
  private def livePositional(spark: org.apache.spark.sql.SparkSession,
                             snap: SegSnapshot, idCol: String,
                             termPred: Column,
                             asOfSegment: Option[Int] = None)
      : DataFrame = {
    // the q161 time-travel cut, positional flavor: the generation
    // bound prunes whole segments on postings and tombstones alike,
    // so an as-of phrase/proximity/prefix probe replays generation-g
    // results bit-for-bit — valid back to the last compaction
    def cut(df: DataFrame): DataFrame = asOfSegment match {
      case Some(g) => df.filter(col("seg").cast("int") <= g)
      case None => df
    }
    liveAfterTombstones(
      cut(readLayout(spark, snap, "postings"))
        .filter(termPred)
        .select(col(idCol), col("term"), col("positions"), col("seg")),
      cut(readTombstones(spark, snap, idCol)), idCol)
      .select(col(idCol), col("term"), col("positions"))
  }

  /** Exact phrase search over a SEGMENTED index
    * ([[bm25AppendSegment]] layout — positions live in the BM25
    * segment postings, so this probe inherits append, tombstones,
    * tiered merge, GC, recrawl and the streaming loop for free): the
    * classic positional-intersection algorithm — read ONLY the
    * phrase terms' posting lists (pushed `term IN`), drop tombstoned
    * rows by the shared kill rule, shift term i's positions by −i,
    * and a phrase start is a position present in every shifted list.
    * Positions are global 0-based token offsets of the document, so
    * adjacency is segment-invariant by construction. Returns
    * (id, n_matches, first_pos) per matching document.
    *
    * Scale shape: IO and the k-way join are posting-list-bounded (the
    * probe never touches documents), the intersection is a per-doc
    * array fold over lists no longer than the document, and repeated
    * phrase terms just read the same pruned list twice. */
  def phraseSearch(spark: org.apache.spark.sql.SparkSession,
                   path: String, phrase: Seq[String],
                   idCol: String,
                   asOfSegment: Option[Int] = None): DataFrame =
    phraseSearchPinned(spark, pinSeg(spark, path), phrase, idCol,
      asOfSegment)

  /** [[phraseSearch]] over an ALREADY-pinned snapshot (see
    * [[booleanSearchPinned]]). */
  private def phraseSearchPinned(
      spark: org.apache.spark.sql.SparkSession,
      snap: SegSnapshot, phrase: Seq[String],
      idCol: String,
      asOfSegment: Option[Int] = None): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch: empty phrase")
    // cached: the tombstone-filtered live set is re-filtered once per
    // phrase term below — left lazy, the kill-rule join re-runs per
    // term
    val posts = cached(livePositional(spark, snap, idCol,
      col("term").isin(scala.collection.immutable.ArraySeq
        .unsafeWrapArray(phrase.distinct.toArray): _*), asOfSegment))
    val frames = phrase.zipWithIndex.map { case (t, i) =>
      posts.filter(col("term") === t)
        .select(col(idCol),
          transform(col("positions"), p => p - i).as(s"_p$i"))
    }
    val joined = frames.reduce((a, b) => a.join(b, Seq(idCol)))
    val starts = (1 until phrase.length).foldLeft(col("_p0"))(
      (acc, i) => filter(acc, p => array_contains(col(s"_p$i"), p)))
    joined
      .select(col(idCol), starts.as("_starts"))
      .filter(size(col("_starts")) > 0)
      .select(col(idCol),
        size(col("_starts")).cast("long").as("n_matches"),
        element_at(col("_starts"), 1).cast("long").as("first_pos"))
  }

  /** PROXIMITY search over a SEGMENTED index (same layout and
    * maintenance inheritance as [[phraseSearch]]): documents
    * where every query term occurs within a token window of `maxSpan`
    * (span = max position − min position over one occurrence of each
    * term), with the tightest such span. The minimal covering span is
    * computed by the classic one-pass scan over the doc's merged
    * position events ("minimum window" algorithm): walk positions in
    * ascending order keeping the last-seen position per term; whenever
    * all terms have been seen, the current position minus the stalest
    * last-seen is a candidate span. That is O(occurrences) per
    * document — never the O(∏|positions|) all-combinations product —
    * and the fold runs as one Catalyst `aggregate` HOF over a
    * per-doc array bounded by document length. IO is posting-list-
    * bounded exactly as [[phraseSearch]]. Returns (id, min_span). */
  def proximitySearch(spark: org.apache.spark.sql.SparkSession,
                      path: String, terms: Seq[String], maxSpan: Long,
                      idCol: String,
                      asOfSegment: Option[Int] = None): DataFrame = {
    require(terms.size >= 2 && terms.distinct.size == terms.size,
      "proximitySearch needs >= 2 distinct terms")
    val k = terms.size
    val posts = livePositional(spark, pinSeg(spark, path), idCol,
      col("term").isin(scala.collection.immutable.ArraySeq
        .unsafeWrapArray(terms.toArray): _*), asOfSegment)
    val tidx = terms.zipWithIndex.foldLeft(lit(-1)) {
      case (c, (t, i)) => when(col("term") === t, lit(i)).otherwise(c)
    }
    val events = posts
      .select(col(idCol), tidx.as("tidx"),
        explode(col("positions")).as("pos"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(
          col("pos").cast("long").as("pos"), col("tidx").as("tidx"))))
          .as("ev"),
        count_distinct(col("tidx")).as("_nt"))
      .filter(col("_nt") === k)
    val init = struct(
      array_repeat(lit(-1L), k).as("last"),
      lit(Long.MaxValue).as("best"))
    val folded = aggregate(col("ev"), init, (acc, e) => {
      val last2 = transform(acc("last"),
        (v, i) => when(i === e("tidx"), e("pos")).otherwise(v))
      struct(last2.as("last"),
        when(array_min(last2) >= 0,
          least(acc("best"), e("pos") - array_min(last2)))
          .otherwise(acc("best")).as("best"))
    })
    events
      .select(col(idCol), folded("best").as("min_span"))
      .filter(col("min_span") <= maxSpan)
  }

  /** ORDERED near search over a SEGMENTED index (Lucene's
    * SpanNearQuery with inOrder=true; same layout and maintenance
    * inheritance as [[phraseSearch]]): documents containing one
    * occurrence of every query term IN QUERY ORDER — positions
    * p₀ < p₁ < … < p_{k−1} with pᵢ an occurrence of term i — within
    * the tightest such span (p_{k−1} − p₀ ≤ `maxSpan`). The ordered
    * constraint is what [[proximitySearch]]'s unordered window can't
    * express ("slow query" near-misses like "query … slow" must NOT
    * match).
    *
    * The minimal ordered window is the classic latest-possible-start
    * subsequence DP, run left-to-right over the doc's merged position
    * events: seeing term i at position p extends the best chain of
    * terms 0..i−1 that ended strictly before p (positions are unique
    * per doc, and events fold in ascending order, so the stored start
    * for prefix i−1 is exactly that), recording start[i] = start[i−1]
    * (or p itself for i = 0); completing term k−1 yields candidate
    * span p − start[k−1]. Starts only grow as the scan advances, so
    * keeping the latest start minimizes each completed span — the
    * same O(occurrences)-per-doc shape as [[proximitySearch]], one
    * Catalyst `aggregate` HOF, never the ∏|positions| product. IO is
    * posting-list-bounded. Returns (id, min_span). */
  def orderedNearSearch(spark: org.apache.spark.sql.SparkSession,
                        path: String, terms: Seq[String], maxSpan: Long,
                        idCol: String,
                        asOfSegment: Option[Int] = None): DataFrame = {
    require(terms.size >= 2 && terms.distinct.size == terms.size,
      "orderedNearSearch needs >= 2 distinct terms")
    require(maxSpan >= terms.size - 1,
      s"orderedNearSearch: maxSpan $maxSpan can never cover " +
        s"${terms.size} ordered terms (min span ${terms.size - 1})")
    val k = terms.size
    val posts = livePositional(spark, pinSeg(spark, path), idCol,
      col("term").isin(scala.collection.immutable.ArraySeq
        .unsafeWrapArray(terms.toArray): _*), asOfSegment)
    val tidx = terms.zipWithIndex.foldLeft(lit(-1)) {
      case (c, (t, i)) => when(col("term") === t, lit(i)).otherwise(c)
    }
    val events = posts
      .select(col(idCol), tidx.as("tidx"),
        explode(col("positions")).as("pos"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(
          col("pos").cast("long").as("pos"), col("tidx").as("tidx"))))
          .as("ev"),
        count_distinct(col("tidx")).as("_nt"))
      .filter(col("_nt") === k)
    val init = struct(
      array_repeat(lit(-1L), k).as("starts"),
      lit(Long.MaxValue).as("best"))
    val folded = aggregate(col("ev"), init, (acc, e) => {
      // chain start feeding term e.tidx: its own position for term 0,
      // else the stored start of prefix e.tidx−1 (element_at is
      // 1-based, so index e.tidx IS entry e.tidx−1); −1 = no chain yet
      val feed = when(e("tidx") === 0, e("pos"))
        .otherwise(element_at(acc("starts"), e("tidx").cast("int")))
      val starts2 = transform(acc("starts"), (v, i) =>
        when(i === e("tidx") && feed >= 0, feed).otherwise(v))
      val done = element_at(starts2, k)
      struct(starts2.as("starts"),
        when(e("tidx") === k - 1 && done >= 0,
          least(acc("best"), e("pos") - done))
          .otherwise(acc("best")).as("best"))
    })
    events
      .select(col(idCol), folded("best").as("min_span"))
      .filter(col("min_span") <= maxSpan)
  }

  /** Best-window SNIPPET spans over a segmented index — the
    * retrieval-display primitive (Lucene's highlighter core, on the
    * posting lists alone): for each document matching at least
    * `minMatched` of the query terms, the tightest token window
    * covering one occurrence of every PRESENT term, as global 0-based
    * (start_pos, end_pos) offsets a caller slices the document with.
    * Among equal-span windows the EARLIEST (smallest end) wins —
    * deterministic, and exactly what the left-to-right scan produces.
    *
    * The fold is [[proximitySearch]]'s one-pass minimum-window scan
    * extended to (a) track the winning window's offsets, not just its
    * span, and (b) tolerate ABSENT terms: the per-doc last-seen array
    * initializes present terms to −1 (blocking) and absent ones to
    * Long.MaxValue (never blocking, never the stalest once any
    * present term is seen) — so a document matching only a subset
    * still yields its best window over that subset (a single-term doc
    * snippets at its first occurrence). O(occurrences) per document,
    * IO posting-list-bounded, same maintenance inheritance as the
    * rest of the positional family. Returns
    * (id, n_matched, start_pos, end_pos). */
  def snippetSpans(spark: org.apache.spark.sql.SparkSession,
                   path: String, terms: Seq[String], minMatched: Int,
                   idCol: String,
                   asOfSegment: Option[Int] = None): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size,
      "snippetSpans needs distinct, non-empty terms")
    require(minMatched >= 1 && minMatched <= terms.size,
      s"snippetSpans: minMatched must be in [1, ${terms.size}]")
    val k = terms.size
    val posts = livePositional(spark, pinSeg(spark, path), idCol,
      col("term").isin(scala.collection.immutable.ArraySeq
        .unsafeWrapArray(terms.toArray): _*), asOfSegment)
    val tidx = terms.zipWithIndex.foldLeft(lit(-1)) {
      case (c, (t, i)) => when(col("term") === t, lit(i)).otherwise(c)
    }
    val events = posts
      .select(col(idCol), tidx.as("tidx"),
        explode(col("positions")).as("pos"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(
          col("pos").cast("long").as("pos"), col("tidx").as("tidx"))))
          .as("ev"),
        collect_set(col("tidx")).as("present"))
      .filter(size(col("present")) >= minMatched)
    val init = struct(
      transform(sequence(lit(0), lit(k - 1)), i =>
        when(array_contains(col("present"), i), lit(-1L))
          .otherwise(lit(Long.MaxValue))).as("last"),
      lit(Long.MaxValue).as("best"),
      lit(-1L).as("bs"), lit(-1L).as("be"))
    val folded = aggregate(col("ev"), init, (acc, e) => {
      val last2 = transform(acc("last"),
        (v, i) => when(i === e("tidx"), e("pos")).otherwise(v))
      val m = array_min(last2)
      val cand = e("pos") - m
      val better = m >= 0 && cand < acc("best")
      struct(last2.as("last"),
        when(better, cand).otherwise(acc("best")).as("best"),
        when(better, m).otherwise(acc("bs")).as("bs"),
        when(better, e("pos")).otherwise(acc("be")).as("be"))
    })
    events.select(col(idCol),
      size(col("present")).cast("long").as("n_matched"),
      folded("bs").as("start_pos"), folded("be").as("end_pos"))
  }

  /** TOMBSTONE GC for a tiered-merged index — the piece that makes
    * tombstone accumulation bounded WITHOUT the full fold: a
    * tombstone at generation t kills postings in segments < t, so
    * once every live segment number is ≥ t (its victims long since
    * physically dropped by folds), the tombstone's only remaining
    * role is the global stats correction. This compaction bakes the
    * eligible tombstones' (count, Σdl) into the LOWEST segment's
    * stats partial — the probe only ever consumes segstats SUMMED,
    * so any single segment may absorb the correction — and drops
    * them. Probe arithmetic is unchanged to the bit: live-rule
    * outcomes are untouched (the dropped tombstones could kill
    * nothing) and the global (n_docs, sum_dl) sums are identical by
    * construction.
    *
    * Commit ([[SegmentManifest]] — atomic seal, MVCC): eligibility
    * is PER TOMBSTONE SEGMENT (every tombstone in a segment ≤ the
    * lowest live posting segment is eligible together), so the drop
    * is pure manifest surgery — remove those tombstone entries, point
    * the lowest segment's stats at one corrected 1-row partial under
    * a fresh `_rev/` dir, seal. The pre-manifest protocol's one
    * silent failure mode (a reader racing the two-rename window got
    * SHIFTED STATS) is structurally unreachable: readers hold the
    * previous generation until the seal, and both generations sum to
    * consistent totals. Cost: one tombstone-sized aggregate + a
    * 1-row write — never a tombstone-tree rewrite.
    *
    * Returns (tombstones dropped, tombstones remaining). */
  def bm25CompactTombstones(spark: org.apache.spark.sql.SparkSession,
                            path: String, idCol: String): (Long, Long) = {
    import spark.implicits._
    val base = SegmentManifest.latest(spark, path)
      .getOrElse(SegmentManifest.bootstrap(spark, path))
    val snap = SegSnapshot(path, base)
    val tombs = readTombstones(spark, snap, idCol)
    val minSeg = base.segs("segstats").headOption.getOrElse(
      throw new IllegalStateException(
        s"bm25CompactTombstones: no segstats at $path"))
    val dropSegs = base.segs("tombstones").filter(_ <= minSeg).toSet
    val eligible = tombs.filter(col("seg") <= minSeg)
    val nDrop = eligible.count()
    val nKeep = tombs.count() - nDrop
    if (nDrop == 0L || dropSegs.isEmpty) return (0L, nKeep)
    val gen = base.gen + 1
    val rev = SegmentManifest.revDir(gen)
    // dl is non-null by the write-side guard ([[bm25Tombstone]]); the
    // coalesce is defense for layouts written by older code
    val corr = eligible
      .agg(count(lit(1)).as("_n"),
        coalesce(sum(col("dl")), lit(0L)).as("_s"))
      .head()
    val (cn, cs) = (corr.getLong(0), corr.getLong(1))
    val st = readLayout(spark, snap, "segstats")
      .filter(col("seg").cast("int") === minSeg)
      .agg(sum(col("n_docs")).cast("long"),
        sum(col("sum_dl")).cast("long")).head()
    Seq((st.getLong(0) - cn, st.getLong(1) - cs))
      .toDF("n_docs", "sum_dl")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$path/$rev/segstats/seg=$minSeg")
    SegmentManifest.seal(spark, path, base
      .replace("segstats", Set(minSeg),
        Seq(SegmentManifest.Entry(minSeg, s"$rev/segstats/seg=$minSeg")))
      .replace("tombstones", dropSegs, Nil)
      .copy(gen = gen))
    (nDrop, nKeep)
  }

  /** VACUUM a segmented index's write-once history: reclaim every
    * physical directory referenced by none of the newest
    * `keepGenerations` manifests and drop the older manifests — the
    * retention boundary of the MVCC story: reads pinned at or above
    * the floor (every running probe, and `asOfGeneration` back to
    * the floor) are untouched; older time travel fails loudly at the
    * manifest load. See [[SegmentManifest.vacuum]]. Returns
    * (directories deleted, directories kept). */
  def bm25Vacuum(spark: org.apache.spark.sql.SparkSession,
                 path: String, keepGenerations: Int = 1): (Long, Long) =
    SegmentManifest.vacuum(spark, path, keepGenerations)

  /** ONE RECRAWL WAVE applied to a segmented BM25 index — the lexical
    * counterpart of the vector indexes' incremental refreshes
    * ([[Similarity.ivfRefreshQuantizedIncremental]],
    * [[ProductQuantize.ivfPqRefreshIncremental]]): the corpus diff
    * ([[Upsert.diffByKey]] output) drives tombstones for
    * removed/modified keys (dl taken from the OLD snapshot — the
    * stats-correction contract), a fresh segment for added/modified
    * docs, and a tiered compaction back to `maxSegments`, all at
    * generation `segment`. Cost scales with the recrawl delta plus
    * the tiered fold — never a full index rewrite; the probe's
    * arithmetic is untouched by construction (tombstone algebra +
    * summed stats partials, the q134 contract).
    *
    * RETRY-safe by the streaming loop's argument: the compaction
    * runs with `protectNewest = 1`, so the wave's own segment is
    * never absorbed by a fold — an orchestrator retrying the whole
    * wave rewrites the tombstones and the segment idempotently
    * (overwrite mode) instead of destroying previously-folded older
    * docs. */
  def bm25ApplyRecrawl(spark: org.apache.spark.sql.SparkSession,
                       path: String, oldSnap: DataFrame,
                       newSnap: DataFrame, changes: DataFrame,
                       idCol: String, textCol: String, segment: Int,
                       maxSegments: Int): (Long, Long) = {
    // the generation rule, enforced exactly as in [[bm25ApplyUpserts]]
    // (it was silently absent here): without it a stale/reused
    // segment number makes bm25AppendSegment REPLACE the existing
    // seg entry — every document previously appended at that segment
    // and absent from this wave vanishes with no tombstone and no
    // error. A retry of this wave's own segment (its tombstone write
    // already committed) stays allowed — the overwrite re-derivation
    // is the documented retry model.
    val sealedBase0 = SegmentManifest.latest(spark, path)
    val base0 = sealedBase0.getOrElse(SegmentManifest.bootstrap(spark, path))
    val maxSeg0 = base0.segs("postings").foldLeft(Int.MinValue)(math.max)
    require(waveCommitted(spark, path, base0, sealedBase0, segment) ||
        segment > maxSeg0,
      s"bm25ApplyRecrawl: segment $segment must exceed every live " +
        s"segment (max $maxSeg0) — the generation rule (a reused " +
        "number would silently replace previously appended documents)")
    val changed = changes.filter(col("status") =!= "unchanged")
    val gone = changed
      .filter(col("status").isin("removed", "modified"))
      .select(col(idCol))
    val goneKeys = oldSnap.join(gone, Seq(idCol))
      .select(col(idCol),
        size(tokens(coalesce(col(textCol), lit(""))))
          .cast("long").as("dl"))
    bm25Tombstone(goneKeys, idCol, "dl", path, segment)
    val fresh = newSnap.join(
      changed.filter(col("status").isin("added", "modified"))
        .select(col(idCol)), Seq(idCol))
    bm25AppendSegment(fresh, idCol, textCol, path, segment)
    bm25MergeSegmentsTiered(spark, path, idCol, maxSegments,
      protectNewest = 1)
  }

  /** ONE UPSERT/DELETE WAVE applied to a segmented BM25 index WITHOUT
    * a corpus snapshot — the CRUD-stream maintenance primitive
    * ([[bm25ApplyRecrawl]] needs the old snapshot for tombstone dl;
    * here old document lengths come from the index's OWN live
    * postings, a column-pruned (id, dl, seg) scan): tombstones for
    * every delta key present in the index (an upsert is
    * modify-or-add, a delete is remove), a fresh segment for the
    * upserts, and tiered compaction back to `maxSegments` with the
    * streaming loop's `protectNewest = 1`.
    *
    * REPLAY-safe via the sealed manifest entry: the old-dl
    * derivation is valid only against the PRE-wave layout — a
    * replayed wave cannot re-derive it (its own append and the folds
    * have changed the live set; a re-derived "old" dl would be the
    * NEW one, silently corrupting the stats correction) — so the
    * wave SKIPS the tombstone step when the latest manifest already
    * carries a tombstone entry for `segment`. [[bm25Tombstone]]
    * seals only after its write completed, so a crash anywhere
    * before the seal (including a half-written directory) leaves no
    * entry and re-derives safely — nothing else has run yet, because
    * the append only starts after the tombstone seal. The append
    * re-seal and the tiered merge then converge under replay by the
    * streaming loop's protectNewest argument.
    *
    * Generation contract, checked loudly: `segment` must exceed
    * every pre-existing segment (a tombstone at s kills only
    * segs < s — reusing a live generation would let the upserts'
    * old rows survive). Returns the tiered merge's
    * (folds, segments remaining). */
  /** The wave-replay "committed" signal [[bm25ApplyUpserts]] and
    * [[bm25ApplyRecrawl]] share: the wave's tombstone entry is in the
    * manifest base, and — on the legacy-upgrade path, where the entry
    * came from bootstrap's directory fold with no completion evidence
    * — the live dir also holds its _SUCCESS marker (a half-written
    * pre-manifest tombstone dir must not masquerade as committed). */
  private def waveCommitted(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            base: SegmentManifest.Manifest,
                            sealedBase: Option[SegmentManifest.Manifest],
                            segment: Int): Boolean =
    base.segs("tombstones").contains(segment) &&
      (sealedBase.nonEmpty || {
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.exists(new org.apache.hadoop.fs.Path(
          s"$path/tombstones/seg=$segment/_SUCCESS"))
      })

  def bm25ApplyUpserts(spark: org.apache.spark.sql.SparkSession,
                       path: String, upserts: DataFrame,
                       deletes: DataFrame, idCol: String,
                       textCol: String, segment: Int,
                       maxSegments: Int): (Long, Long) = {
    val sealedBase = SegmentManifest.latest(spark, path)
    val base = sealedBase
      .getOrElse(SegmentManifest.bootstrap(spark, path))
    val snap = SegSnapshot(path, base)
    // the replay skip-signal is the SEALED manifest entry — the seal
    // happens only after the tombstone write completed, so a crash
    // anywhere before it re-derives safely (nothing else has run:
    // the append only starts after the tombstone step), and a crash
    // after it skips, never re-deriving against a layout its own
    // append has already changed. On the LEGACY-UPGRADE path the
    // entry came from bootstrap's directory fold, which carries no
    // completion evidence — there the live dir must also hold its
    // _SUCCESS marker, or a half-written tombstone dir from a
    // pre-manifest crash would masquerade as committed and silently
    // truncate the wave's kill set / stats correction
    val committed = waveCommitted(spark, path, base, sealedBase,
      segment)
    val maxSeg = base.segs("postings")
      .foldLeft(Int.MinValue)(math.max)
    require(committed || segment > maxSeg,
      s"bm25ApplyUpserts: segment $segment must exceed every live " +
        s"segment (max $maxSeg) — the generation rule")
    if (!committed) {
      // a torn (no-_SUCCESS) tombstone dir the bootstrap folded in is
      // crash garbage, not state: it must not participate in the
      // re-derive either — its partial kill set would hide its
      // victims from `live` and truncate the re-derived old-dl join
      val derive =
        if (base.segs("tombstones").contains(segment))
          SegSnapshot(path, base.replace("tombstones", Set(segment), Nil))
        else snap
      val live = liveAfterTombstones(
        readLayout(spark, derive, "postings")
          .select(col(idCol), col("dl"), col("seg")),
        readTombstones(spark, derive, idCol), idCol)
      val allKeys = upserts.select(col(idCol))
        .unionByName(deletes.select(col(idCol))).distinct()
      // keys absent from the index (pure adds) simply produce no
      // tombstone row; an empty tombstone segment still seals, which
      // is what makes the replay skip-signal unambiguous
      bm25Tombstone(
        live.select(col(idCol), col("dl")).distinct()
          .join(allKeys, Seq(idCol)),
        idCol, "dl", path, segment)
    }
    if (!upserts.isEmpty)
      bm25AppendSegment(upserts, idCol, textCol, path, segment)
    bm25MergeSegmentsTiered(spark, path, idCol, maxSegments,
      protectNewest = 1)
  }

  /** PREFIX term search over a SEGMENTED index (same layout and
    * maintenance inheritance as [[phraseSearch]]) — the
    * wildcard/autocomplete query class (`sta*`): a `startsWith`
    * predicate on the TERM-SORTED postings pushes to the parquet scan
    * as `StringStartsWith`, so row-group min/max stats prune the
    * files outside the prefix's contiguous term range — the lexical
    * analog of the IVF cell pruning, and exactly why the layout
    * sorts by term. Tombstoned rows drop by the shared kill rule
    * before counting. Returns per matching document the distinct
    * matched terms and total occurrences. */
  def termPrefixSearch(spark: org.apache.spark.sql.SparkSession,
                       path: String, prefix: String,
                       idCol: String,
                       asOfSegment: Option[Int] = None): DataFrame = {
    require(prefix.nonEmpty, "termPrefixSearch: empty prefix")
    livePositional(spark, pinSeg(spark, path), idCol,
        col("term").startsWith(prefix), asOfSegment)
      .groupBy(col(idCol))
      .agg(count_distinct(col("term")).as("n_terms"),
        sum(size(col("positions")).cast("long")).as("n_occurrences"))
  }

  /** FUZZY term search (Lucene's fuzzy query, relationally): expand
    * the query term against the index's term DICTIONARY within
    * Levenshtein distance `maxDist` — a one-column distinct over the
    * postings' term column (vocabulary-sized OUTPUT; the scan reads
    * parquet's dictionary-encoded term pages — a production layout
    * would materialize a per-segment term dictionary, which is the
    * same information) — then probe the matched terms' posting lists
    * with the same pushed `term IN` the phrase probe uses, through
    * the tombstone kill rule. The expansion is a driver-side fetch
    * bounded by `maxExpansion`: fail loudly rather than ship an
    * unbounded literal list into the scan predicate. Returns per
    * matching document the distinct matched terms and total
    * occurrences, like [[termPrefixSearch]]. */
  def fuzzyTermSearch(spark: org.apache.spark.sql.SparkSession,
                      path: String, term: String, maxDist: Int,
                      idCol: String,
                      maxExpansion: Int = 1000): DataFrame = {
    require(term.nonEmpty, "fuzzyTermSearch: empty term")
    require(maxDist >= 0, s"fuzzyTermSearch: maxDist $maxDist < 0")
    val snap = pinSeg(spark, path)
    // the length band |len(t) − len(q)| ≤ maxDist is implied by the
    // edit distance; pushing it lets parquet min/max stats prune term
    // pages before the per-term levenshtein runs
    val matched = termDict(spark, snap)
      .filter(length(col("term"))
        .between(term.length - maxDist, term.length + maxDist))
      .filter(levenshtein(col("term"), lit(term)) <= maxDist)
      .collect().map(_.getString(0)).sorted
    expandedTermOccurrences(spark, snap, idCol, matched,
      s"fuzzyTermSearch: '$term'~$maxDist", maxExpansion,
      "tighten the distance or raise the bound")
  }

  /** Lucene's SegmentInfos, relationally: the per-generation
    * inventory of a segmented index — (seg, n_docs, sum_dl, n_terms,
    * n_tombstones) — read ENTIRELY from the maintenance artifacts
    * (segstats partials, per-segment term dictionary, tombstone
    * files); the corpus-sized postings are never touched. n_docs and
    * sum_dl are the exact integer partials the probes' global stats
    * derive from, so this is the operator's own bookkeeping surfaced,
    * not a re-derivation; n_tombstones counts the kill rows WRITTEN
    * AT that generation (their victims live in lower segments — the
    * generation rule). The ops surface for "is compaction due":
    * |segments| vs the tier budget and the tombstone accumulation are
    * exactly what [[bm25MergeSegmentsTiered]] and
    * [[bm25CompactTombstones]] bound. */
  def segmentInfos(spark: org.apache.spark.sql.SparkSession,
                   path: String, idCol: String): DataFrame = {
    val snap = pinSeg(spark, path)
    val stats = readLayout(spark, snap, "segstats")
      .select(col("seg").cast("int").as("seg"), col("n_docs"),
        col("sum_dl"))
    // manifest-read-or-empty, NOT readLayout: a legacy (pre-termdict)
    // layout or one whose only seals came from bm25Tombstone has no
    // termdict members, and the bookkeeping surface must REPORT that
    // state (n_terms = 0) rather than crash on it
    val dict = SegmentManifest
      .read(spark, snap.path, snap.manifest, "termdict")
      .map(_.groupBy(col("seg").cast("int").as("seg"))
        .agg(count(lit(1)).as("n_terms")))
      .getOrElse(stats.select(col("seg")).limit(0)
        .withColumn("n_terms", lit(0L)))
    val tombs = readTombstones(spark, snap, idCol)
      .groupBy(col("seg").cast("int").as("seg"))
      .agg(count(lit(1)).as("n_tombstones"))
    stats.join(dict, Seq("seg"), "left")
      .join(tombs, Seq("seg"), "left")
      .select(col("seg"), col("n_docs"), col("sum_dl"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        coalesce(col("n_tombstones"), lit(0L)).as("n_tombstones"))
  }

  /** SPELL SUGGESTION (Lucene's DirectSpellChecker, relationally):
    * candidate terms within Levenshtein `maxDist` of the query term,
    * ranked by (edit distance ASC, LIVE document frequency DESC, term
    * ASC) — Lucene's exact ordering — top `k`. Candidates expand
    * against the vocabulary-sized term dictionary with the implied
    * length band (the [[fuzzyTermSearch]] economics); df counts
    * DISTINCT LIVE documents through the tombstone kill rule, so a
    * fully-deleted term can never be suggested (the dict keeps dead
    * terms by the SUPERSET invariant — the df join is the liveness
    * filter). An exact hit ranks first at distance 0 — callers
    * typically suggest only when the query term itself is rare.
    * Returns (term, dist, df). */
  def spellSuggest(spark: org.apache.spark.sql.SparkSession,
                   path: String, term: String, maxDist: Int, k: Int,
                   idCol: String,
                   maxExpansion: Int = 1000,
                   asOfSegment: Option[Int] = None): DataFrame = {
    require(term.nonEmpty, "spellSuggest: empty term")
    require(maxDist >= 0 && k > 0,
      s"spellSuggest: bad maxDist $maxDist / k $k")
    val snap = pinSeg(spark, path)
    val matched = termDict(spark, snap)
      .filter(length(col("term"))
        .between(term.length - maxDist, term.length + maxDist))
      .filter(levenshtein(col("term"), lit(term)) <= maxDist)
      .collect().map(_.getString(0)).sorted
    require(matched.length <= maxExpansion,
      s"spellSuggest: '$term'~$maxDist expands to ${matched.length} " +
        s"terms > maxExpansion $maxExpansion — tighten the distance " +
        "or raise the bound")
    // as-of cut (the q161/q183 generation rule): the dict is a
    // SUPERSET, so a future-segment term expands into the IN list and
    // its cut-away postings yield no df row — dropped, never surfaced
    def cutSeg(df: DataFrame): DataFrame = asOfSegment match {
      case Some(g) => df.filter(col("seg").cast("int") <= g)
      case None => df
    }
    val live = liveAfterTombstones(
      cutSeg(readLayout(spark, snap, "postings"))
        .filter(col("term").isin(scala.collection.immutable.ArraySeq
          .unsafeWrapArray(matched): _*))
        .select(col(idCol), col("term"), col("seg")),
      cutSeg(readTombstones(spark, snap, idCol)), idCol)
    live.groupBy(col("term"))
      .agg(count_distinct(col(idCol)).as("df"))
      .withColumn("dist",
        levenshtein(col("term"), lit(term)).cast("long"))
      .select(col("term"), col("dist"), col("df"))
      .orderBy(col("dist"), col("df").desc, col("term"))
      .limit(k)
  }

  /** SIGNIFICANT TERMS (Elasticsearch's significant_terms
    * aggregation, JLH heuristic): terms OVERREPRESENTED in the match
    * set relative to the corpus background —
    *
    *   score(t) = (fg% − bg%) · (fg% / bg%),  kept iff fg% > bg%
    *
    * where fg% = fraction of foreground docs containing t (foreground
    * = live docs matching ≥1 `query` term, should semantics) and bg%
    * = the corpus fraction. The published JLH form: the absolute lift
    * rewards common terms, the relative factor rewards rare ones.
    * Scores derive from exact integer dfs in one expression, so both
    * engines reproduce them bit-for-bit at the 1e-6 rounding.
    *
    * Scale shape — honest cost class: UNLIKE the probe family this
    * cannot be posting-bounded (the foreground's full vocabulary is
    * the object of study, exactly why ES pays a fielddata scan here):
    * the foreground id set comes from one pushed `term IN` scan, then
    * ONE further live-postings pass computes background AND foreground
    * df together (the fg flag is a left join on the aggregate-sized id
    * set — never a second corpus read), and everything after is
    * vocabulary-sized. `minDf` is ES's min_doc_count noise gate.
    * Returns (term, fg_df, bg_df, score), top `k` by (score DESC,
    * term). */
  def significantTerms(spark: org.apache.spark.sql.SparkSession,
                       path: String, query: Seq[String], k: Int,
                       idCol: String, minDf: Long = 1L): DataFrame = {
    val qs = query.distinct
    require(qs.nonEmpty, "significantTerms: no query terms")
    require(k > 0 && minDf >= 1, s"significantTerms: bad k $k / minDf $minDf")
    val snap = pinSeg(spark, path)
    val tombs = readTombstones(spark, snap, idCol)
    // corpus-sized (EVERY live posting, by design) → serialized
    // persist, the big-heap first-touch rationale on Caching.cachedSer
    val liveAll = cachedSer(liveAfterTombstones(
      readLayout(spark, snap, "postings")
        .select(col(idCol), col("term"), col("seg")),
      tombs, idCol)
      .select(col(idCol), col("term")))
    val fgIds = liveAll
      .filter(col("term").isin(scala.collection.immutable.ArraySeq
        .unsafeWrapArray(qs.toArray): _*))
      .select(col(idCol)).distinct()
    // two 1-row aggregates: foreground size and live corpus size
    val nFg = fgIds.count()
    require(nFg > 0, s"significantTerms: no documents match $qs")
    val seg = readLayout(spark, snap, "segstats")
      .agg(sum(col("n_docs")).as("n")).head().getLong(0)
    val nBg = seg - tombs.count()
    val dfs = liveAll
      .join(fgIds.withColumn("_fg", lit(1)), Seq(idCol), "left")
      .groupBy(col("term"))
      .agg(count_distinct(col(idCol)).as("bg_df"),
        count_distinct(when(col("_fg") === 1, col(idCol))).as("fg_df"))
      .filter(col("fg_df") >= minDf)
    dfs
      .withColumn("_fgp", col("fg_df").cast("double") / lit(nFg.toDouble))
      .withColumn("_bgp", col("bg_df").cast("double") / lit(nBg.toDouble))
      .filter(col("_fgp") > col("_bgp"))
      .select(col("term"), col("fg_df"), col("bg_df"),
        round((col("_fgp") - col("_bgp")) * (col("_fgp") / col("_bgp")),
          6).as("score"))
      .orderBy(col("score").desc, col("term"))
      .limit(k)
  }

  /** COMPLETION suggest (Lucene's suggest module, relationally):
    * dictionary terms extending `prefix`, ranked by LIVE document
    * frequency (ties to the smaller term) — the autocomplete
    * primitive. The prefix lands on the term-sorted dictionary as a
    * pushed `StringStartsWith`, so the expansion reads a vocabulary-
    * bounded band, and df flows through the tombstone kill rule
    * exactly like [[spellSuggest]] — a fully-deleted term can never
    * be suggested. Returns (term, df). */
  def completionSuggest(spark: org.apache.spark.sql.SparkSession,
                        path: String, prefix: String, k: Int,
                        idCol: String,
                        maxExpansion: Int = 1000,
                        asOfSegment: Option[Int] = None): DataFrame = {
    require(prefix.nonEmpty, "completionSuggest: empty prefix")
    require(k > 0, s"completionSuggest: bad k $k")
    val snap = pinSeg(spark, path)
    val matched = termDict(spark, snap)
      .filter(col("term").startsWith(prefix))
      .collect().map(_.getString(0)).sorted
    require(matched.length <= maxExpansion,
      s"completionSuggest: '$prefix*' expands to ${matched.length} " +
        s"terms > maxExpansion $maxExpansion — lengthen the prefix " +
        "or raise the bound")
    // as-of cut (the q161/q183 generation rule): the dict is a
    // SUPERSET, so a future-segment term expands into the IN list and
    // its cut-away postings yield no df row — dropped, never surfaced
    def cutSeg(df: DataFrame): DataFrame = asOfSegment match {
      case Some(g) => df.filter(col("seg").cast("int") <= g)
      case None => df
    }
    val live = liveAfterTombstones(
      cutSeg(readLayout(spark, snap, "postings"))
        .filter(col("term").isin(scala.collection.immutable.ArraySeq
          .unsafeWrapArray(matched): _*))
        .select(col(idCol), col("term"), col("seg")),
      cutSeg(readTombstones(spark, snap, idCol)), idCol)
    live.groupBy(col("term"))
      .agg(count_distinct(col(idCol)).as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(k)
  }

  /** PERCOLATION (Elasticsearch's percolate query, relationally):
    * REVERSE search — a batch of incoming documents matched against a
    * STORED table of boolean queries in one pass, the alerting /
    * routing primitive ("which saved searches does this new doc
    * trigger?"). `queries` carries (query_id, must: array<string>,
    * must_not: array<string>); a doc matches a query iff it contains
    * every must term and none of the must_not terms — the same
    * set-semantics booleanSearch gates on (tf never enters: matching
    * is membership, not ranking).
    *
    * Scale shape: the stored query table is broadcast-sized by
    * contract (alerting rule sets are small next to a document
    * stream); docs pay ONE tokenize + distinct pass, the term join
    * fans a doc term out only to the queries that name it, and the
    * (doc, query) aggregate is candidate-sized — never the
    * |docs| × |queries| cross product. Output (query_id, idCol). */
  /** The ONE stored-query normalization + validation both percolate
    * paths share (the broadcast form and the indexed form are
    * REQUIRED to be bit-identical — a guard or term-normalization fix
    * landing in one copy and not the other would silently fork them):
    * distinct must/must_not with NULL→empty, every rule needs ≥1 must
    * term and no must∩must_not overlap. Returned frame is cached. */
  private def normalizedQueries(queries: DataFrame,
                                what: String): DataFrame = {
    val norm = cached(queries.select(col("query_id"),
      array_distinct(coalesce(col("must"),
        array().cast("array<string>"))).as("must"),
      array_distinct(coalesce(col("must_not"),
        array().cast("array<string>"))).as("must_not")))
    val bad = norm.filter(size(col("must")) === 0 ||
        arrays_overlap(col("must"), col("must_not")))
      .select(col("query_id")).limit(1).collect()
    require(bad.isEmpty,
      s"$what: query ${bad.headOption.map(_.get(0)).getOrElse("?")} " +
        "has no must terms or a term both must and must_not")
    norm
  }

  def percolate(docs: DataFrame, idCol: String, textCol: String,
                queries: DataFrame): DataFrame = {
    val norm = normalizedQueries(queries, "percolate")
    val qterms = norm
      .select(col("query_id"), explode(col("must")).as("term"),
        lit(1).as("is_must"))
      .unionByName(norm.select(col("query_id"),
        explode(col("must_not")).as("term"), lit(0).as("is_must")))
    val nmust = norm.select(col("query_id"),
      size(col("must")).as("n_must"))
    val dterms = docs.select(col(idCol),
      explode(array_distinct(tokens(coalesce(col(textCol), lit("")))))
        .as("term"))
    dterms.join(broadcast(qterms), "term")
      .groupBy(col(idCol), col("query_id"))
      .agg(
        count_distinct(when(col("is_must") === 1, col("term")))
          .as("got_must"),
        max(when(col("is_must") === 0, lit(1)).otherwise(lit(0)))
          .as("has_not"))
      .join(broadcast(nmust), "query_id")
      .filter(col("has_not") === 0 &&
        col("got_must") === col("n_must"))
      .select(col("query_id"), col(idCol))
  }

  /** Materialize the stored percolation queries as an INVERTED QUERY
    * INDEX (Elasticsearch's percolator design): [[percolate]] holds
    * the query table in a broadcast, which binds at alerting scale
    * (10⁶ stored queries); this artifact turns candidate generation
    * into a distributed term join against a layout. Under `path`:
    *
    *   - `qcover/`: (term, query_id) — ONE covering MUST term per
    *     query (ES's minimum-term rule: a doc matches only if it
    *     contains EVERY must term, so registering each query under a
    *     single must term is sufficient and fans a doc out to far
    *     fewer candidates than the all-clause join). The covering
    *     term is the RAREST by the optional `termDf` relation
    *     (term, df) — rarity minimizes candidates — ties and absent
    *     stats to the lexicographically smallest.
    *   - `qindex/`: (query_id, term, is_must) — the full clause
    *     postings for candidate VERIFICATION, term-distinct per
    *     clause.
    *
    * Both layouts are term-/id-sorted parquet. The write-time guard
    * is [[percolate]]'s, made loud once per registration instead of
    * per probe batch: every query needs ≥1 must term and no term in
    * both clauses. */
  def percolateWriteQueryIndex(queries: DataFrame, path: String,
                               termDf: Option[DataFrame] = None): Unit = {
    val norm = normalizedQueries(queries, "percolateWriteQueryIndex")
    val qindex = norm
      .select(col("query_id"), explode(col("must")).as("term"),
        lit(1).as("is_must"))
      .unionByName(norm.select(col("query_id"),
        explode(col("must_not")).as("term"), lit(0).as("is_must")))
    qindex.repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"), col("query_id"))
      .write.mode("overwrite").parquet(s"$path/qindex")
    val musts = norm.select(col("query_id"),
      explode(col("must")).as("term"))
    val ranked = termDf match {
      case Some(dfRel) => musts
        .join(dfRel.select(col("term"),
          col("df").cast("long").as("_df")), Seq("term"), "left")
        .withColumn("_rank",
          struct(coalesce(col("_df"), lit(0L)).as("df"),
            col("term").as("term")))
      case None => musts
        .withColumn("_rank", struct(lit(0L).as("df"),
          col("term").as("term")))
    }
    ranked.groupBy(col("query_id"))
      .agg(min_by(col("term"), col("_rank")).as("term"))
      .select(col("term"), col("query_id"))
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"), col("query_id"))
      .write.mode("overwrite").parquet(s"$path/qcover")
  }

  /** PERCOLATION through the inverted query index — bit-identical
    * match semantics to [[percolate]], scale-shaped for the alerting
    * workload (a SMALL incoming doc batch against a stored query
    * corpus far too large to broadcast):
    *
    *   1. the batch's distinct vocabulary is a bounded driver-side
    *      fetch (micro-batches of documents, the same boundedness
    *      contract as every probe panel here — guarded loud at
    *      `maxBatchVocab`) and becomes a PUSHED `term IN` predicate
    *      over the term-sorted `qcover` artifact: parquet min/max
    *      stats prune every query posting the batch can't cover, so
    *      candidate generation reads a batch-vocabulary-bounded
    *      slice of the query corpus — never a broadcast, never a
    *      full artifact scan;
    *   2. candidates = batch terms ⋈ pruned cover (each (doc, query)
    *      pair at most once — one covering must term per query);
    *   3. verification: the candidate queries' full clause postings
    *      (a semi-join-pruned read of `qindex`, candidate-bounded)
    *      left-join the doc term sets and fold got_must / has_not /
    *      n_must in ONE aggregate — exactly [[percolate]]'s gate
    *      (a must term absent from the whole batch vocabulary counts
    *      into n_must and never into got_must, correctly rejecting).
    *
    * Output (query_id, idCol), same as [[percolate]]. */
  def percolateIndexed(spark: org.apache.spark.sql.SparkSession,
                       path: String, docs: DataFrame, idCol: String,
                       textCol: String,
                       maxBatchVocab: Int = 200000): DataFrame = {
    val dterms = cached(docs.select(col(idCol),
      explode(array_distinct(tokens(coalesce(col(textCol), lit("")))))
        .as("term")))
    val vocab = dterms.select(col("term")).distinct()
      .collect().map(_.getString(0))
    require(vocab.length <= maxBatchVocab,
      s"percolateIndexed: batch vocabulary ${vocab.length} > " +
        s"maxBatchVocab $maxBatchVocab — percolate smaller doc " +
        "batches (or raise the bound)")
    val cover = spark.read.parquet(s"$path/qcover")
      .filter(col("term").isin(scala.collection.immutable.ArraySeq
        .unsafeWrapArray(vocab): _*))
    val cand = cached(dterms.join(cover, "term")
      .select(col(idCol), col("query_id")))
    val qindex = spark.read.parquet(s"$path/qindex")
      .join(cand.select(col("query_id")).distinct(),
        Seq("query_id"), "left_semi")
    cand.join(qindex, "query_id")
      .join(dterms.withColumn("_has", lit(1)),
        Seq(idCol, "term"), "left")
      .groupBy(col(idCol), col("query_id"))
      .agg(
        count_distinct(when(col("is_must") === 1 &&
          col("_has") === 1, col("term"))).as("got_must"),
        count_distinct(when(col("is_must") === 1, col("term")))
          .as("n_must"),
        max(when(col("is_must") === 0 && col("_has") === 1, lit(1))
          .otherwise(lit(0))).as("has_not"))
      .filter(col("has_not") === 0 &&
        col("got_must") === col("n_must"))
      .select(col("query_id"), col(idCol))
  }

  /** The term DICTIONARY of a segmented index: the per-segment
    * `termdict` artifact when present (a vocabulary-sized read — the
    * production path, Lucene's terms file), else derived from the
    * postings' term column (a distinct over the corpus-sized layout —
    * the fallback for layouts written before the artifact existed).
    * The artifact union may be a SUPERSET of the live vocabulary (see
    * [[bm25AppendSegment]]'s invariant) — every caller filters the
    * expansion through the posting probe, which IS the live filter,
    * so a dead term costs an unpruned IN entry and nothing else. */
  private def termDict(spark: org.apache.spark.sql.SparkSession,
                       snap: SegSnapshot): DataFrame = {
    // the dict serves expansion only when its per-SEGMENT coverage is
    // a superset of the live postings segments: a legacy
    // (pre-termdict) layout that has since received one append would
    // otherwise expand against the new segment's dict alone, silently
    // missing the legacy segments' entire vocabulary — fuzzy/wildcard/
    // spell/completion would return zero rows for terms booleanSearch
    // finds (the SUPERSET invariant bm25AppendSegment documents).
    // Partial coverage falls back to the postings scan wholesale; the
    // next full merge rewrites the dict and restores the fast path.
    val dictSegs = snap.manifest.segs("termdict").toSet
    val hasDict = dictSegs.nonEmpty &&
      snap.manifest.segs("postings").forall(dictSegs.contains)
    readLayout(spark, snap, if (hasDict) "termdict" else "postings")
      .select(col("term")).distinct()
  }

  /** Shared tail of the dictionary-expansion query family
    * ([[fuzzyTermSearch]], [[wildcardTermSearch]]): bound the
    * expansion loudly, then probe the matched terms' posting lists
    * with the same pushed `term IN` the phrase probe uses, through
    * the tombstone kill rule, returning per matching document the
    * distinct matched terms and total occurrences. */
  private def expandedTermOccurrences(
      spark: org.apache.spark.sql.SparkSession, snap: SegSnapshot,
      idCol: String, matched: Array[String], what: String,
      maxExpansion: Int, remedy: String): DataFrame = {
    require(matched.length <= maxExpansion,
      s"$what expands to ${matched.length} terms > " +
        s"maxExpansion $maxExpansion — $remedy")
    if (matched.isEmpty) {
      import org.apache.spark.sql.types.{LongType, StructType}
      val schema = new StructType().add(idCol, LongType)
        .add("n_terms", LongType).add("n_occurrences", LongType)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else
      livePositional(spark, snap, idCol,
        col("term").isin(scala.collection.immutable.ArraySeq
          .unsafeWrapArray(matched): _*))
        .groupBy(col(idCol))
        .agg(count_distinct(col("term")).as("n_terms"),
          sum(size(col("positions")).cast("long")).as("n_occurrences"))
  }

  /** WILDCARD term search (Lucene's wildcard query, relationally):
    * `*` matches any run of characters, `?` exactly one. The pattern
    * expands against the index's term dictionary — the same
    * vocabulary-sized distinct as [[fuzzyTermSearch]] — and probes
    * the matched posting lists. A literal PREFIX before the first
    * wildcard is additionally pushed as a `startsWith` predicate:
    * the postings layout is term-sorted, so parquet min/max stats
    * prune every file outside the prefix range (Lucene's own
    * economics — a leading-literal wildcard is cheap, a leading-`*`
    * scans the whole dictionary; both are correct here, the latter
    * just pays the full vocabulary pass). */
  def wildcardTermSearch(spark: org.apache.spark.sql.SparkSession,
                         path: String, pattern: String, idCol: String,
                         maxExpansion: Int = 1000): DataFrame = {
    require(pattern.nonEmpty, "wildcardTermSearch: empty pattern")
    val snap = pinSeg(spark, path)
    val likePat = pattern.flatMap {
      case '*' => "%"
      case '?' => "_"
      case c @ ('%' | '_') => "\\" + c
      case '\\' => "\\\\"
      case c => c.toString
    }
    val prefix = pattern.takeWhile(c => c != '*' && c != '?')
    val dict = termDict(spark, snap)
    val banded =
      if (prefix.nonEmpty) dict.filter(col("term").startsWith(prefix))
      else dict
    val matched = banded.filter(col("term").like(likePat))
      .collect().map(_.getString(0)).sorted
    expandedTermOccurrences(spark, snap, idCol, matched,
      s"wildcardTermSearch: '$pattern'", maxExpansion,
      "narrow the pattern or raise the bound")
  }

  /** FACETED search (the Solr/Lucene facet model, relationally):
    * count the FULL matching set — documents containing ≥1 panel
    * term, the should-only boolean match BEFORE any top-k cut — by
    * each requested facet attribute of the docs relation. Returns
    * (facet, value, n_docs); null attribute values group as one NULL
    * bucket, Solr's missing-value count.
    *
    * Scale shape: matching ids are posting-bounded (pushed `term IN`
    * + the tombstone kill rule — documents are never read to decide
    * membership), then ONE id equi-join against the docs relation
    * carries the facet columns and every facet dimension aggregates
    * in ONE pass over the joined rows (the per-dimension struct
    * explode is width-|facetCols|, not a per-facet re-join). */
  def searchFacets(spark: org.apache.spark.sql.SparkSession,
                   path: String, terms: Seq[String], docs: DataFrame,
                   idCol: String, facetCols: Seq[String]): DataFrame = {
    val termsD = terms.distinct
    require(termsD.nonEmpty, "searchFacets: no terms")
    require(facetCols.nonEmpty, "searchFacets: no facet columns")
    val snap = pinSeg(spark, path)
    val ids = liveAfterTombstones(
      readLayout(spark, snap, "postings")
        .filter(col("term").isin(scala.collection.immutable.ArraySeq
          .unsafeWrapArray(termsD.toArray): _*))
        .select(col(idCol), col("seg")),
      readTombstones(spark, snap, idCol), idCol)
      .select(col(idCol)).distinct()
    docs.join(ids, Seq(idCol))
      .select(explode(array(facetCols.map(c =>
        struct(lit(c).as("facet"), col(c).cast("string").as("value"))
      ): _*)).as("fv"))
      .groupBy(col("fv.facet").as("facet"), col("fv.value").as("value"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** NUMERIC RANGE facets (Lucene's LongRangeFacetCounts,
    * relationally): count the FULL matching set — the same
    * posting-bounded, tombstone-killed membership as [[searchFacets]]
    * — against caller-declared value ranges of a numeric document
    * attribute. Ranges are half-open [lo, hi), may overlap (a doc
    * counts once per range it falls in — Lucene's semantics), and
    * every requested range is emitted even at count 0 (the facet UI
    * contract; a missing row and a zero row are different answers).
    * Null attribute values count toward no range, Lucene's
    * missing-value behavior.
    *
    * Scale shape: membership is posting-bounded; ONE id equi-join
    * carries the value column; all ranges then aggregate in ONE pass
    * as |ranges| conditional sums folded to a single row (map-side
    * partials — no per-range re-scan, no shuffle wider than one row)
    * and unpivot driver-free via a literal-struct explode. Returns
    * (range, n_docs) in the caller's range order. */
  def searchRangeFacets(spark: org.apache.spark.sql.SparkSession,
                        path: String, terms: Seq[String],
                        docs: DataFrame, idCol: String,
                        valueCol: String,
                        ranges: Seq[(String, Long, Long)]): DataFrame = {
    val termsD = terms.distinct
    require(termsD.nonEmpty, "searchRangeFacets: no terms")
    require(ranges.nonEmpty, "searchRangeFacets: no ranges")
    require(ranges.map(_._1).distinct.size == ranges.size,
      "searchRangeFacets: duplicate range labels")
    ranges.foreach { case (label, lo, hi) =>
      require(lo < hi, s"searchRangeFacets: empty range '$label' " +
        s"[$lo, $hi)") }
    val snap = pinSeg(spark, path)
    val ids = liveAfterTombstones(
      readLayout(spark, snap, "postings")
        .filter(col("term").isin(scala.collection.immutable.ArraySeq
          .unsafeWrapArray(termsD.toArray): _*))
        .select(col(idCol), col("seg")),
      readTombstones(spark, snap, idCol), idCol)
      .select(col(idCol)).distinct()
    val v = docs.join(ids, Seq(idCol))
      .select(col(valueCol).cast("long").as("_v"))
    val sums = ranges.zipWithIndex.map { case ((_, lo, hi), i) =>
      coalesce(sum(when(col("_v") >= lo && col("_v") < hi, lit(1L))
        .otherwise(lit(0L))), lit(0L)).as(s"_r$i")
    }
    v.agg(sums.head, sums.tail: _*)
      .select(explode(array(ranges.zipWithIndex.map {
        case ((label, _, _), i) =>
          struct(lit(label).as("range"), col(s"_r$i").as("n_docs"))
      }: _*)).as("rv"))
      .select(col("rv.range").as("range"), col("rv.n_docs").as("n_docs"))
  }

  /** Probe a materialized [[bm25WriteIndex]]: the panel's distinct
    * terms (a panel-sized driver-side fetch, the same boundedness
    * contract as the IVF centroid ranking) become a pushed-down
    * `term IN (…)` predicate over the term-sorted postings — IO scales
    * with the matched posting lists, not the corpus. Scoring is
    * [[bm25Score]], identical to the scan path by construction. */
  def bm25ProbeIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String, queries: DataFrame, k: Int,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qterms = queries.select(col("qid"),
      explode(array_distinct(tokens(col("qtext")))).as("term"))
    val terms = qterms.select(col("term")).distinct()
      .collect().map(_.getString(0))
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("term").isin(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(terms): _*))
    val idCol = postings.columns
      .filterNot(Set("term", "tf", "dl", "df")).head
    bm25Score(postings, qterms,
      spark.read.parquet(s"$path/stats"), idCol, k, k1, b)
  }

  /** TF-IDF as per-doc SPARSE VECTORS (`HashingTF` → `IDF`) — the
    * ml-native companion to the long-form [[tfidf]] relation, for
    * feeding clustering/classification pipelines directly. Hashing is
    * seeded murmur3 (deterministic across runs); the IDF fit is one
    * treeAggregate pass over the corpus. `numFeatures` bounds vector
    * width (and hash-collision rate) independent of vocabulary size —
    * the property that makes this the 100 TB-safe featurization (no
    * vocab dictionary to build, broadcast, or skew). */
  def tfidfVectors(docs: DataFrame, idCol: String, textCol: String,
                   numFeatures: Int = 1024): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, IDF}
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
    // cached: the hashed-TF frame feeds the IDF fit (treeAggregate
    // pass) AND the transform — uncached, tokenize+hash runs twice
    val tf = cached(new HashingTF().setInputCol("toks").setOutputCol("tf")
      .setNumFeatures(numFeatures).transform(toks))
    new IDF().setInputCol("tf").setOutputCol("tfidf").fit(tf)
      .transform(tf)
      .select(col(idCol), col("tfidf"))
  }
}
