package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline column combinators — pure compositions of codegen'd
  * built-ins (`org.apache.spark.sql.functions`), no UDFs. These are the
  * building blocks for the dedup / quality / language-ID operators that a
  * 100 TB training-data pipeline needs (beyond the reference surface,
  * SURVEY.md §7.1 M7).
  */
object TextFunctions {

  /** Lowercase, trim, collapse internal whitespace to single spaces. */
  def normText(c: Column): Column =
    lower(regexp_replace(trim(c), "\\s+", " "))

  /** Whitespace tokens of the normalized text. */
  def words(c: Column): Column = split(normText(c), " ")

  /** Whitespace token count. */
  def tokenCountWs(c: Column): Column = size(split(trim(c), "\\s+"))

  /** BPE-ish token count: word runs + individual non-word-non-space marks
    * (the pre-tokenization granularity most BPE vocabularies start from).
    */
  def tokenCountBpe(c: Column): Column = regexp_count(c, lit("\\w+|[^\\w\\s]"))

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(c: Column): Column =
    when(length(c) > 0,
      regexp_count(c, lit("[^\\w\\s]")).cast("double") / length(c))
      .otherwise(lit(0.0))

  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for", "with")

  /** Ratio of stopword occurrences to total words. */
  def stopwordRatio(c: Column): Column = {
    val w = words(c)
    val stops = filter(w, t => t.isInCollection(Stopwords))
    when(size(w) > 0, size(stops).cast("double") / size(w)).otherwise(lit(0.0))
  }

  /** Mean word length over whitespace tokens (exact integer division in
    * double, deterministic).
    */
  def avgWordLen(c: Column): Column = {
    val w = words(c)
    when(size(w) > 0,
      length(regexp_replace(normText(c), " ", "")).cast("double") / size(w))
      .otherwise(lit(0.0))
  }

  private val EnMarkers = Seq("the", "a", "is", "and", "of")
  private val EsMarkers = Seq("el", "la", "es", "los", "una")

  /** Tiny n-gram/stopword language-ID heuristic: count language-marker
    * words, pick the winning language, 'und' when no evidence.
    */
  def langIdHeuristic(c: Column): Column = {
    val w = words(c)
    val en = size(filter(w, t => t.isInCollection(EnMarkers)))
    val es = size(filter(w, t => t.isInCollection(EsMarkers)))
    when(en >= es && en > 0, lit("en"))
      .when(es > en, lit("es"))
      .otherwise(lit("und"))
  }
}
