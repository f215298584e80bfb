package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scalar function layer (SURVEY.md §2.4).
  *
  * Everything here composes `org.apache.spark.sql.functions._` built-ins so
  * the expressions stay inside whole-stage codegen and remain visible to
  * Catalyst (constant folding, predicate pushdown through aliases). The one
  * non-built-in — exact NFKD normalization — is a native codegen'd
  * expression, [[NormalizeTextExpr]].
  */
object TextFns {

  /** P1 `normalizar` via pure built-ins: pt-BR diacritic fold + strip
    * punctuation + lowercase. Sufficient for Portuguese portal text
    * (reference `aracaju_barra_pirambu_scraper.py:37-43`); the NFKD-exact
    * path is [[NormalizeText.apply]]. Built-ins version kept because
    * `translate`/`regexp_replace`/`lower` are all codegen'd and
    * Catalyst-foldable on literals.
    */
  private val accented = "áàâãäåéèêëíìîïóòôõöúùûüçñýÁÀÂÃÄÅÉÈÊËÍÌÎÏÓÒÔÕÖÚÙÛÜÇÑÝ"
  private val folded   = "aaaaaaeeeeiiiiooooouuuucnyAAAAAAEEEEIIIIOOOOOUUUUCNY"

  def normalizeBuiltin(c: Column): Column =
    lower(regexp_replace(translate(c, accented, folded), "[^a-zA-Z0-9\\s]", ""))

  /** P1, NFKD-exact codegen'd expression. Preferred in query plans. */
  def normalizeText(c: Column): Column = NormalizeText(c)

  /** F1 — the reference's central predicate: does the *normalized* funding
    * source contain any royalty keyword/code
    * (`aracaju_barra_pirambu_scraper.py:36,193-194`,
    * `pacatuba_scraper.py:32,293-294`). Generic over any term set.
    * Compiled to an OR-chain of `Contains` — all codegen'd; Catalyst
    * folds `normalize` once via subexpression elimination.
    */
  def keywordAny(normalized: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty, "keywordAny needs at least one term")
    terms.map(t => normalized.contains(lit(t))).reduce(_ || _)
  }

  /** The reference's Serigy + Pacatuba royalty keyword sets
    * (`aracaju_barra_pirambu_scraper.py:36`, `pacatuba_scraper.py:32`),
    * post-normalization.
    */
  val royaltyTerms: Seq[String] = Seq(
    "royalties", "royalty", "royaltie", "petroleo",
    "15300000", "15300101", "15300201", "17060000", "17510000", "17520000")

  /** P3 — Brazilian currency string → DECIMAL(18,2).
    * `R$ 1.234,56` → 1234.56; strip `R$`, drop `.` thousands separators,
    * `,` → `.`, then cast — a failed parse yields NULL, matching
    * `pd.to_numeric(errors='coerce')`
    * (`/root/reference/docs/notebooks/data_science.ipynb` cell 2).
    * Default impl is the single-pass codegen'd [[ParseBRLExpr]]; the
    * regexp chain is kept as [[parseBRLBuiltin]] for cross-validation
    * (ParseBRLSpec asserts they agree on money and garbage alike).
    */
  def parseBRL(c: Column): Column = ParseBRL(c)

  /** The built-in-only formulation: three regexp passes + `try_cast`
    * (not `cast`: under Spark 4's default ANSI mode a plain cast on a
    * malformed string throws CAST_INVALID_INPUT — try_cast gives the
    * coerce-to-NULL contract regardless of ANSI mode). */
  def parseBRLBuiltin(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(trim(c), "R\\$\\s*", ""),
        "\\.", ""),
      ",", ".")
      .try_cast(DecimalType(18, 2))

  /** Inverse of [[parseBRL]] for fixtures/round-trip tests: decimal →
    * `R$ 1.234,56`-style string (no thousands grouping beyond what
    * format_number emits; grouping uses `.`, decimals use `,`).
    */
  def formatBRL(c: Column): Column =
    concat(lit("R$ "),
      translate(format_number(c.cast(DecimalType(18, 2)), 2), ",.", ".,"))

  /** P2 — detail-key canonicalization: the reference turns scraped `<th>`
    * labels into column names (strip, drop ':', collapse NBSP, normalize,
    * spaces→'_' — `aracaju_barra_pirambu_scraper.py:183-187`). Driver-side
    * string function (column names are plan metadata, not data).
    */
  def canonKey(raw: String): String =
    NormalizeText.normalize(
      raw.replace(":", "").replace(' ', ' ').trim)
      .trim.replaceAll("\\s+", "_")

  /** P7 — whitespace strip on every extracted value (`.text.strip()`
    * everywhere in the reference). */
  def trimAll(cols: Seq[String]): Seq[Column] =
    cols.map(n => trim(col(n)).as(n))
}
