package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the dedup / text-analysis operators. All pure
  * Catalyst expressions (split/filter/transform/element_at) — codegen
  * friendly, linear per row, no driver-side state.
  *
  * Tokenization contract: whitespace split with empty tokens dropped
  * (document texts carry trailing spaces); element indexing is
  * 1-based via element_at to mirror DuckDB list semantics.
  */
object TextFunctions {

  /** Whitespace tokens, empties removed. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Distinct word 3-gram shingles over a token array (requires ≥3
    * tokens, which the corpus guarantees — min 10 tokens/doc).
    */
  def shingles3(toks: Column): Column =
    array_distinct(
      transform(
        sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ",
          element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))

  /** Distinct word 5-gram shingles over a token array (contamination
    * scans use longer grams than near-dup's 3-grams — a shared
    * 5-gram is strong evidence of copied text, not common phrasing).
    */
  def shingles5(toks: Column): Column =
    array_distinct(
      transform(
        sequence(lit(1), size(toks) - 4),
        i => concat_ws(" ",
          element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2),
          element_at(toks, i + 3), element_at(toks, i + 4))))

  /** Distinct character n-gram array over raw text. */
  def charNgrams(text: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => substr(text, i, lit(n))))

  /** Distinct word n-gram shingles via the native kernel (same output
    * as [[shingles3]]/[[shingles5]] for n=3/5; NgramsSpec pins the
    * equivalence). Requires expressions.WordNgrams.register(spark) or
    * GraftExtensions.
    */
  def shinglesFast(toks: Column, n: Int): Column =
    array_distinct(call_function(
      graft.functions.expressions.WordNgrams.name, toks, lit(n)))

  /** Jaccard similarity of two (distinct-element) arrays as double. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")
}
