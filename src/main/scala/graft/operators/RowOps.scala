package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-level transforms: predicate filter, split, replace.
  *
  * Reference semantics:
  *  - row filter (SQL-transform WHERE / FilterRowTransform):
  *    seatunnel-transforms-v2 .../filter/FilterFieldTransform.java:47 family
  *  - Split: .../split/SplitTransform.java:33 — split one string field by a
  *    separator into N new fields appended to the row; missing parts → null.
  *  - Replace: .../replace/ReplaceTransform.java:35 — literal or regex
  *    substring replacement in-place, optionally first-match-only.
  *
  * filterRows is a plain Catalyst predicate, so it pushes down to the
  * parquet scan (PushedFilters) — rows are skipped before deserialization.
  */
object RowOps {

  /** Keep rows matching a SQL predicate string or Column. */
  def filterRows(df: DataFrame, predicate: String): DataFrame = df.where(predicate)
  def filterRows(df: DataFrame, predicate: Column): DataFrame = df.where(predicate)

  /** Split `splitField` by `separator` (literal string, as in the reference)
    * into `outputFields` appended columns; absent positions are null.
    */
  def splitField(
      df: DataFrame,
      separator: String,
      splitField: String,
      outputFields: Seq[String]): DataFrame = {
    // limit = N gives the reference's String.split(sep, N) remainder
    // semantics (SplitTransform.java:65-70): the last output field keeps
    // the unsplit tail; missing positions pad with null
    val parts = split(col(splitField).cast("string"),
      java.util.regex.Pattern.quote(separator), outputFields.length)
    df.withColumns(
      outputFields.zipWithIndex.map { case (f, i) =>
        // try_element_at is 1-based and returns null past the end — matches
        // the reference's pad-with-null behavior for short splits (plain
        // element_at throws under Spark 4's ANSI mode).
        f -> try_element_at(parts, lit(i + 1))
      }.toMap)
  }

  /** Replace substring(s) of `field` matching `pattern`.
    * `isRegex=false` treats the pattern as a literal; `replaceFirst` only
    * replaces the leftmost match (regex mode, like the reference).
    */
  def replaceField(
      df: DataFrame,
      field: String,
      pattern: String,
      replacement: String,
      isRegex: Boolean = false,
      replaceFirst: Boolean = false): DataFrame = {
    val out: Column =
      if (!isRegex && pattern.nonEmpty) {
        // literal replace-all: codegen'd StringReplace, no regex engine
        replace(col(field), lit(pattern), lit(replacement))
      } else if (!isRegex) {
        // the reference's String.replace("", r) inserts r around every
        // char; StringReplace returns an empty search's input unchanged
        regexp_replace(col(field), "", java.util.regex.Matcher.quoteReplacement(replacement))
      } else if (replaceFirst) {
        // anchor to first occurrence: non-greedy prefix capture.
        regexp_replace(col(field), s"^((?s).*?)(?:$pattern)", "$1" + replacement)
      } else {
        regexp_replace(col(field), pattern, replacement)
      }
    df.withColumn(field, out)
  }
}
