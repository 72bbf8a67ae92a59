package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text featurization used by the text-analysis and dedup
  * families (SURVEY.md §2b north-star rows).
  *
  * Everything here is built-in higher-order functions — codegen'd, no UDFs
  * (builder-prompt preference order (a)) — so the whole featurization stays
  * inside WholeStageCodegen and is expressible 1:1 in the DuckDB oracle.
  */
object TextFeatures {

  /** Whitespace tokenization (the reference's tokenizer:
    * `split(df.review_body, " ")`, demo-etl-2a-notebook.py:53). */
  def words(text: Column): Column = split(text, " ")

  /** Adjacent word pairs; empty array for single-word docs. Compiled
    * [[StringNgrams]] expression — the interpreted HOF formulation was the
    * dominant cost of every documents-table query. */
  def bigrams(w: Column): Column = StringNgrams.ngrams(w, 2)

  /** 3-word shingles; docs shorter than 3 words contribute themselves as a
    * single shingle (keeps every doc represented in minhash signatures). */
  def shingles3(w: Column, text: Column): Column =
    when(size(w) >= 3, StringNgrams.ngrams(w, 3)).otherwise(array(text))
}
