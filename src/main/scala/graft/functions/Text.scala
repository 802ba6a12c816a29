package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus pipelines (SURVEY.md §7.6):
  * tokenization, quality features, n-gram language ID, fingerprints. All pure
  * Catalyst column expressions (split/filter/transform higher-order functions)
  * — per-row, no shuffle, fully codegen'd, so they run at parquet-scan speed
  * over 100 TB and are exactly replicable by the DuckDB oracle.
  */
object Text {

  /** Whitespace tokens of the trimmed, lowercased text. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Word n-gram shingles joined with single spaces; empty array below n
    * tokens (guards `sequence`'s descending-range behavior). */
  def shingles(toks: Column, n: Int): Column = {
    val mk = (i: Column) =>
      concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n), mk)))
      .otherwise(array().cast("array<string>"))
  }

  /** Tiny per-language function-word lists for the n-gram language heuristic.
    * Deliberately small and ASCII-only so the oracle SQL mirrors them. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans"),
    "es" -> Seq("el", "los", "y", "es", "una", "en"))

  /** Count of tokens that appear in `words`. */
  def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*)))

  /** Argmax language over stopword hit counts with fixed precedence
    * (en > de > fr > es), 'unknown' when nothing hits. */
  def langId(toks: Column): Column = {
    val c = Seq("en", "de", "fr", "es").map(l => l -> hitCount(toks, stopwords(l)))
    val Seq(en, de, fr, es) = c.map(_._2)
    when(en + de + fr + es === 0, "unknown")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Non-whitespace character count. */
  def denseLength(text: Column): Column =
    length(regexp_replace(trim(text), "\\s+", ""))

  /** Composite [0,1] quality score from length, token shape and stopword
    * density, UNROUNDED. Pure linear arithmetic (no exp/log) so both engines
    * compute bit-identical doubles. */
  def qualityRaw(nTokens: Column, meanTokenLen: Column, stopRatio: Column): Column =
    least(nTokens.cast("double") / 200.0, lit(1.0)) * 0.5 +
      least(meanTokenLen / 8.0, lit(1.0)) * 0.3 +
      (lit(1.0) - least(stopRatio * 2.0, lit(1.0))) * 0.2

  /** [[qualityRaw]] rounded to 4 decimals for emission. */
  def qualityScore(nTokens: Column, meanTokenLen: Column, stopRatio: Column): Column =
    Num.pround(qualityRaw(nTokens, meanTokenLen, stopRatio), 4)

  /** Order-insensitive content fingerprint: md5 of the sorted distinct token
    * set (md5 is identical across Spark and DuckDB). */
  def setFingerprint(toks: Column): Column =
    md5(array_join(array_sort(array_distinct(toks)), " "))
}
