package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-pipeline surface (charter north-star;
  * SURVEY.md §7.2 step 5). Everything here is composed from built-in
  * `org.apache.spark.sql.functions` so it stays inside whole-stage codegen —
  * no Scala UDFs in the hot path. Each function has a line-for-line ANSI SQL
  * mirror used by the DuckDB oracles (see SparkEntry.Query), so all
  * arithmetic is written to be bit-identical across engines: integer counts,
  * exact divisions, `round(_, 4)` on any float output.
  */
object TextFunctions {

  /** Number of non-overlapping occurrences of literal `marker` in `c`.
    * Implemented as (len(x) - len(replace(x, m, ''))) / len(m) — the classic
    * engine-portable occurrence count (same formula in the oracle SQL).
    */
  def occurrences(c: Column, marker: String): Column =
    ((length(c) - length(replace(c, lit(marker), lit("")))) / lit(marker.length))
      .cast("long")

  /** Whitespace token count: split on single space, count parts (empties
    * included — mirrors DuckDB `len(str_split(x, ' '))`). */
  def wsTokenCount(c: Column): Column =
    size(split(c, " ", -1)).cast("long")

  /** BPE-ish word token count: maximal runs of [a-z0-9] (pattern chosen to
    * behave identically under Java regex and RE2). */
  def reTokenCount(c: Column): Column =
    regexp_count(c, lit("[a-z0-9]+")).cast("long")

  /** Marker-word language-ID heuristic (n-gram/stopword based). Counts
    * per-language marker hits and picks the argmax with a fixed tie-break
    * order (zh > en > de > fr > es > und). Deterministic, oracle-mirrorable.
    */
  def langIdHeuristic(c: Column): Column = {
    // Pad so word-boundary markers also match at string edges.
    val padded = concat(lit(" "), c, lit(" "))
    val en = occurrences(padded, " the ") + occurrences(padded, " and ") + occurrences(padded, " of ")
    val de = occurrences(padded, " der ") + occurrences(padded, " und ") + occurrences(padded, " die ")
    val fr = occurrences(padded, " le ") + occurrences(padded, " la ") + occurrences(padded, " et ")
    val es = occurrences(padded, " el ") + occurrences(padded, " los ") + occurrences(padded, " y ")
    val zh = occurrences(c, "的")
    // each count is referenced 3-4× across the when branches and there is
    // no common-subexpression elimination between branches — bind the five
    // counts once so the marker scans run once per row, not per reference
    ExprUtils.bindOnce(array(en, de, fr, es, zh)) { a =>
      val (e, d, f, s, z) = (element_at(a, 1), element_at(a, 2),
        element_at(a, 3), element_at(a, 4), element_at(a, 5))
      when(z > 0, "zh")
        .when(e >= d && e >= f && e >= s && e > 0, "en")
        .when(d >= f && d >= s && d > 0, "de")
        .when(f >= s && f > 0, "fr")
        .when(s > 0, "es")
        .otherwise("und")
    }
  }

  /** Heuristic document quality score in [0,1]: length credit + stopword
    * ratio + punctuation penalty. Linear arithmetic only (no libm calls whose
    * last-ulp behavior could differ between engines), rounded to 4 places.
    */
  def qualityScore(c: Column): Column = {
    val words = wsTokenCount(c)
    val padded = concat(lit(" "), c, lit(" "))
    val stopHits = occurrences(padded, " the ") + occurrences(padded, " a ") +
      occurrences(padded, " of ") + occurrences(padded, " and ") + occurrences(padded, " to ")
    val punct = occurrences(c, ".") + occurrences(c, ",") + occurrences(c, "!")
    val chars = length(c).cast("long")
    val lengthCredit = least(lit(1.0), words.cast("double") / lit(200.0))
    val stopRatio = stopHits.cast("double") / greatest(words, lit(1L)).cast("double")
    val punctRatio = punct.cast("double") / greatest(chars, lit(1L)).cast("double")
    round(lengthCredit * lit(0.5) + stopRatio * lit(0.3) + (lit(1.0) - punctRatio) * lit(0.2), 4)
  }

  /** Unicode NFC normalization (codegen
    * [[org.apache.spark.sql.graft.NfcNormalize]]; DuckDB `NFC_NORMALIZE`). */
  def nfcNormalize(c: Column): Column = {
    import org.apache.spark.sql.graft.{ColumnBridge, NfcNormalize}
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))
  }

  private val AsciiUpper = ('A' to 'Z').mkString
  private val AsciiLower = ('a' to 'z').mkString

  /** ASCII-range lowercase via `translate` — byte-exact on every engine.
    * Full Unicode case folding is deliberately NOT applied: Java
    * (`lower('ß')` via full mapping) and utf8proc/DuckDB (simple
    * per-codepoint mapping) disagree on 1:n mappings (ß→ss) and
    * dotted-İ, so a cross-engine-reproducible canonicalizer must pin its
    * case rule to the range where the engines agree. Conservative for
    * dedup: fewer merges, never wrong ones. */
  def asciiLower(c: Column): Column = translate(c, AsciiUpper, AsciiLower)

  /** Dedup canonicalization: NFC → ASCII-lowercase → collapse
    * `[ \t\n\r]+` runs to one space → trim. The narrow pre-pass every
    * exact/fuzzy dedup should hash: visually-identical texts with
    * different combining-character encodings, (ASCII) case, or spacing
    * land in ONE content group. Two portability pins: the whitespace
    * class is spelled explicitly (not `\s`) because Java and RE2 disagree
    * on `\s`'s members (`\x0B`), and lowercasing is ASCII-range
    * `translate` (see [[asciiLower]] — Java vs utf8proc full case
    * mappings diverge on ß/İ). Idempotent (spec-pinned), so
    * re-canonicalizing already-clean text is a no-op. DuckDB mirror:
    * `TRIM(REGEXP_REPLACE(TRANSLATE(NFC_NORMALIZE(x), 'A..Z', 'a..z'), '[ \t\n\r]+', ' ', 'g'))`. */
  def canonicalize(c: Column): Column =
    trim(regexp_replace(asciiLower(nfcNormalize(c)), "[ \\t\\n\\r]+", " "))
}
