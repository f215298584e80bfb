package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-set decontamination — the training-data pipeline step that flags
  * corpus documents sharing long n-gram spans with a held-out benchmark
  * (the standard guard against eval leakage into pretraining data).
  *
  * Shape: corpus-side shingle explode → equi-join against the DISTINCT
  * benchmark shingle set → per-doc hit count. Never all-pairs: the only
  * join key is the shingle itself, so cost is |corpus shingles| +
  * |bench shingles| plus the (tiny) matched fan-out.
  *
  * Scale notes (100 TB corpus, ~10⁵-doc benchmark):
  *   - The benchmark shingle set is millions of rows, not billions — AQE
  *     broadcasts it and the corpus side never shuffles. If a giant
  *     benchmark ever exceeds the broadcast threshold the same plan
  *     degrades gracefully to a shuffled hash join on the shingle key.
  *   - Shingles are xxhash64'd to 8-byte keys before the join (the hash
  *     never reaches the output, so results stay oracle-exact modulo a
  *     ~2⁻⁶⁴ collision — the same trade as [[TextAnalysis.jaccardPairs]]).
  *   - n should be LARGE (8+ tokens): decontamination wants exact long
  *     spans, not topical similarity; small n explodes the hit fan-out
  *     and flags innocent documents.
  */
object Decontaminate {

  /** Per-document benchmark-overlap counts: (idCol, n_hits) for every
    * corpus document sharing at least one token n-gram with `bench`. */
  def overlapHits(corpus: DataFrame, bench: DataFrame,
                  idCol: String, textCol: String, n: Int): DataFrame = {
    // tokens() in its own projection — no subexpr elimination inside
    // HOF lambdas, so slice(toks, …) over the raw split re-tokenizes
    // per element (6× on the explode pass, measured in NOTES_r9.md)
    def shingleRows(df: DataFrame) = df
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col(idCol),
        explode(TextAnalysis.shingles(col("toks"), n)).as("sh_str"))
      .select(col(idCol), xxhash64(col("sh_str")).as("sh"))
    val benchSh = shingleRows(bench).select(col("sh")).distinct()
    shingleRows(corpus)
      .join(benchSh, "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The dedup-style DECISION: drop every contaminated document. */
  def clean(corpus: DataFrame, bench: DataFrame,
            idCol: String, textCol: String, n: Int): DataFrame =
    corpus.join(overlapHits(corpus, bench, idCol, textCol, n),
      Seq(idCol), "left_anti")
}
