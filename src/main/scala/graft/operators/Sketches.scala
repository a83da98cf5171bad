package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.NativeColumns.{cmsEstimate => cmsEstimateOf, graftCmsAgg, graftCmsMergeAgg, graftHash64}

/** Mergeable cardinality sketches (SURVEY §2.6 profiling scale path).
  *
  * [[Profile.profile]] answers "distinct count now" with one pass; these
  * ops make the sketch itself a first-class COLUMN (Apache DataSketches
  * HLL via Spark's built-in `hll_sketch_agg` family), so cardinality
  * composes across pipeline stages the way partial aggregates compose
  * inside one query: build per-partition/per-group sketches once, persist
  * them (bytes), union them later — across days, sources, or pipeline
  * stages — without rescanning the 100 TB base table. Union is
  * associative and commutative, so any merge tree gives the same
  * estimate; estimates are exact while a sketch is still in its
  * small-cardinality coupon mode (hundreds of values at the default
  * lgConfigK=12), which is what makes the driver query oracle-checkable.
  */
object Sketches {

  /** One HLL sketch of `valueCol` per `byCols` group (binary column
    * `sketch`). Map-side partial aggregation does the heavy lifting: each
    * partition builds a local sketch and only sketch bytes enter the
    * exchange.
    */
  def hllAgg(df: DataFrame, valueCol: String, byCols: Seq[String],
      lgConfigK: Int = 12): DataFrame = {
    val agg = hll_sketch_agg(col(valueCol), lit(lgConfigK)).as("sketch")
    if (byCols.isEmpty) df.agg(agg)
    else df.groupBy(byCols.map(col): _*).agg(agg)
  }

  /** Union previously built sketches per `byCols` group — the cross-stage
    * merge (e.g. daily sketches -> monthly cardinality). Only sketch bytes
    * shuffle.
    */
  def hllMerge(df: DataFrame, sketchCol: String, byCols: Seq[String]): DataFrame = {
    val agg = hll_union_agg(col(sketchCol)).as("sketch")
    if (byCols.isEmpty) df.agg(agg)
    else df.groupBy(byCols.map(col): _*).agg(agg)
  }

  /** Cardinality estimate of a sketch column. */
  def estimate(sketch: Column): Column = hll_sketch_estimate(sketch)

  /** Pairwise union of two sketch columns (row-level compose). */
  def union(a: Column, b: Column): Column = hll_union(a, b)

  // ---------- count-min frequency sketches ----------

  /** One count-min sketch of `itemCol`'s values per `byCols` group
    * (binary column `cms`) — approximate FREQUENCIES where HLL answers
    * cardinality: heavy hitters, boilerplate n-grams, hot keys. Map-side
    * partials mean only width*depth*8 sketch bytes enter the exchange
    * whatever the corpus size; sketches persist and merge across
    * days/sources via [[cmsMerge]]. Hashing is the engine's recomputable
    * poly-257+fmix64, so estimates are oracle-replayable
    * ([[graft.plans.CountMin]]).
    */
  def countMinAgg(df: DataFrame, itemCol: String, width: Int = 2048,
      depth: Int = 4, seed: Int = 42, byCols: Seq[String] = Nil): DataFrame = {
    // Expressions built as typed Columns (NativeColumns, not the name
    // registry) so the op works on any session and on any column name,
    // backticks or not (ADVICE r10 — call_function/expr interpolation
    // broke both).
    val agg = graftCmsAgg(graftHash64(col(itemCol)), width, depth, seed).as("cms")
    if (byCols.isEmpty) df.agg(agg) else df.groupBy(byCols.map(col): _*).agg(agg)
  }

  /** Elementwise-add previously built count-min sketches per group — the
    * cross-stage merge (daily sketches -> monthly frequencies).
    */
  def cmsMerge(df: DataFrame, sketchCol: String, byCols: Seq[String] = Nil): DataFrame = {
    val agg = graftCmsMergeAgg(col(sketchCol)).as("cms")
    if (byCols.isEmpty) df.agg(agg) else df.groupBy(byCols.map(col): _*).agg(agg)
  }

  /** Point frequency estimate of a string item against a sketch column
    * (always >= the true count; see [[graft.plans.CountMin]] bounds).
    * Session-independent: the expressions are constructed directly, so a
    * persisted sketch probes fine with no `NativeExpressions.register`.
    */
  def cmsEstimate(sketch: Column, item: Column): Column =
    cmsEstimateOf(sketch, graftHash64(item))
}
