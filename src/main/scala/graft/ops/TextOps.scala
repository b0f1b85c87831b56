package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis columns for training-data pipelines: language id,
  * quality scoring, token counting, fingerprinting. All are pure
  * `org.apache.spark.sql.functions` compositions (whole-stage
  * codegen'd, no UDFs), so they are also expressible as ANSI SQL for
  * the DuckDB oracle.
  */
object TextOps {

  /** Stopword-hit counter: occurrences of ` w ` in the padded text. */
  private def hits(t: Column, w: String): Column =
    (length(t) - length(regexp_replace(t, s" $w ", ""))).cast("double") / lit(w.length + 2).cast("double")

  /** N-gram/stopword-heuristic language id over {en, de, fr, es, zh-pinyin}.
    * Deterministic CASE over per-language stopword hit counts.
    */
  def langId(textCol: Column): Column = {
    val t = concat(lit(" "), lower(textCol), lit(" "))
    val en = hits(t, "the") + hits(t, "and") + hits(t, "of") + hits(t, "is") + hits(t, "to")
    val de = hits(t, "der") + hits(t, "und") + hits(t, "die") + hits(t, "ist") + hits(t, "das")
    val fr = hits(t, "le") + hits(t, "et") + hits(t, "les") + hits(t, "est") + hits(t, "une")
    val es = hits(t, "el") + hits(t, "los") + hits(t, "es") + hits(t, "una") + hits(t, "que")
    val zh = hits(t, "de") + hits(t, "shi") + hits(t, "zhong") + hits(t, "wen") + hits(t, "ni")
    when(en >= greatest(de, fr, es, zh), lit("en"))
      .when(de >= greatest(en, fr, es, zh), lit("de"))
      .when(fr >= greatest(en, de, es, zh), lit("fr"))
      .when(es >= greatest(en, de, fr, zh), lit("es"))
      .otherwise(lit("zh"))
  }

  /** Whitespace token count. */
  def tokenCount(textCol: Column): Column =
    size(split(trim(textCol), "\\s+"))

  /** BPE-ish token estimate: runs of letters, runs of digits, or single
    * punctuation marks.
    */
  def regexTokenCount(textCol: Column): Column =
    size(regexp_extract_all(textCol, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))

  def avgWordLen(textCol: Column): Column =
    length(regexp_replace(textCol, "\\s+", "")).cast("double") /
      greatest(tokenCount(textCol), lit(1)).cast("double")

  def punctRatio(textCol: Column): Column =
    (length(textCol) - length(regexp_replace(textCol, "[.,;:!?'\"()]", ""))).cast("double") /
      greatest(length(textCol), lit(1)).cast("double")

  def stopwordRatio(textCol: Column): Column = {
    val t = concat(lit(" "), lower(textCol), lit(" "))
    val sw = hits(t, "the") + hits(t, "and") + hits(t, "of") + hits(t, "is") + hits(t, "to") +
      hits(t, "a") + hits(t, "in") + hits(t, "that")
    sw / greatest(tokenCount(textCol), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1]-ish: favors mid-length docs with
    * words of plausible length, some stopwords, low punctuation noise.
    */
  def qualityScore(textCol: Column): Column = {
    val lenScore = least(length(textCol).cast("double") / lit(500.0), lit(1.0))
    val wordScore = when(avgWordLen(textCol).between(3.0, 10.0), lit(1.0)).otherwise(lit(0.4))
    val punctScore = lit(1.0) - least(punctRatio(textCol) * 4.0, lit(1.0))
    val swScore = least(stopwordRatio(textCol) * 4.0, lit(1.0))
    round((lenScore * 0.3 + wordScore * 0.3 + punctScore * 0.2 + swScore * 0.2), 4)
  }

  /** Canonical content fingerprint: md5 of case/whitespace-normalized
    * text (md5 matches between Spark and DuckDB → oracle-checkable).
    * Locality-sensitive fingerprinting is Dedup.simhash64.
    */
  def fingerprint(textCol: Column): Column =
    md5(trim(regexp_replace(lower(textCol), "\\s+", " ")))

  // ---- repetition / boilerplate signals (duplicate-line mass is the
  // standard cheap filter for templated and machine-generated docs;
  // all pure column functions, single codegen'd scan)

  private def lines(t: Column): Column = split(t, "\n")

  def lineCount(t: Column): Column = size(lines(t)).cast("long")

  def distinctLineCount(t: Column): Column = size(array_distinct(lines(t))).cast("long")

  /** Fraction of lines that repeat an earlier line of the same doc. */
  def dupLineRatio(t: Column): Column =
    round(lit(1.0) - distinctLineCount(t).cast("double") / lineCount(t), 4)

  def maxLineLen(t: Column): Column =
    array_max(transform(lines(t), l => length(l))).cast("long")
}
