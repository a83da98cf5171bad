package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-engineering helpers (SURVEY §5): explicit tools for the two shuffle
  * pathologies that dominate 100 TB joins — skewed keys and repeated
  * co-partitioned joins.
  *
  * AQE (on by default) already splits skewed sort-merge partitions at
  * runtime; `saltedJoin` is the static fallback for keys so hot that even a
  * split partition exceeds executor memory (e.g. the null/default key of a
  * fact table). `writeBucketed`/co-located reads eliminate the shuffle
  * entirely for join keys that are reused across many queries.
  */
object ScaleOps {

  /** Skew-safe equi-join: the (large, skewed) left side gets a uniform salt
    * in [0, saltFactor); the right side is replicated saltFactor times, so
    * every hot key spreads over saltFactor reducers. Inner/left joins only
    * (replication would break right-side multiplicity otherwise).
    */
  def saltedJoin(large: DataFrame, small: DataFrame, keys: Seq[String],
      saltFactor: Int = 8, joinType: String = "inner"): DataFrame = {
    require(Seq("inner", "left", "left_outer").contains(joinType),
      s"saltedJoin supports inner/left joins, got $joinType")
    val salted = large.withColumn("__salt",
      floor(rand(42) * saltFactor).cast("int"))
    // an array of literals folds to a constant the plan prints by value
    // (a folded sequence() prints as an UnsafeArrayData identity)
    val replicated = small.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Write a table hash-bucketed (and sorted) by the join keys. Reading two
    * tables bucketed the same way joins WITHOUT a shuffle exchange — the
    * payoff at 100 TB when a key is joined repeatedly (fact-to-fact).
    *
    * SIZING RULE — `buckets` is a LAYOUT-TIME decision that caps the
    * join's parallelism forever after: the shuffle-free join runs exactly
    * `buckets` tasks however many cores the cluster has, and each task
    * sorts/merges one bucket's full volume. Scale buckets PROPORTIONALLY
    * to data volume (10x the rows -> 10x the buckets keeps per-bucket
    * volume, and therefore per-task memory and time, constant) and never
    * below the cluster's core count. Target the usual shuffle-partition
    * sizing: per-bucket bytes in the 100-200 MB range. Measured in
    * SCALE_r14.json `carried_r13.bucket_point_matrix` (SMJ path): the
    * 8-bucket layout carried from sf0.1 to sf1 ran 2.3x wall for 10x
    * data (8-wide on 32 cores);
    * re-bucketing at 32 collapsed it to 1.9x — and the r12 sweep's
    * 6.45x on this fixture was dominated by the pre-fix file explosion
    * (see the repartition note in the body), not the width alone. Both
    * sides of a co-located join must use the SAME bucket count and keys
    * — a mismatch silently reintroduces the exchange.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, keys: Seq[String],
      path: Option[String] = None): Unit = {
    // Repartition onto the bucket keys FIRST: bucketBy writes one file per
    // (input partition x bucket), so an unaligned upstream partitioning
    // explodes the layout into partitions*buckets tiny files — and because
    // sortBy's order guarantee is per-FILE, the downstream join must then
    // re-sort every bucket (measured 2x slower at 95 buckets before this).
    // repartition uses the same Murmur3 hash family as the bucket spec, so
    // each bucket lands in exactly one task -> exactly one sorted file.
    val w = df.repartition(buckets, keys.map(col): _*)
      .write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
    // explicit path → external table: callers control where the bucketed
    // data lands instead of the session's warehouse directory
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Join two same-bucketing tables; with matched bucket counts Catalyst
    * plans a sort-merge join with zero Exchange on either side. Bucket
    * count = the join's parallelism ceiling — see the sizing rule on
    * [[writeBucketed]].
    */
  def colocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      keys: Seq[String], joinType: String = "inner"): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), keys, joinType)

  /** Z-order (Morton) interleave of N >= 2 NON-NEGATIVE long columns:
    * bit i of column j lands at output bit i*N + j, so points close in
    * EVERY dimension are close on the curve. Pure Column bit arithmetic —
    * codegen'd, no UDF; N * bits <= 63 keeps the result in a positive
    * long (21 bits/dim at N=2, 15 at N=3, 12 at N=4 — plenty for file-
    * skipping layout keys, which bucket values before interleaving).
    */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    val n = cols.length
    require(n >= 2, s"zValueN: at least 2 columns, got $n")
    require(bits >= 1 && n * bits <= 63,
      s"zValueN: need 1 <= bits and $n * bits <= 63, got bits=$bits")
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftrightunsigned(c, i).bitwiseAND(lit(1L)), i * n + j)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** 2-D special case of [[zValueN]] (bit i of x at 2i, of y at 2i+1). */
  def zValue2(x: Column, y: Column, bits: Int = 21): Column =
    zValueN(Seq(x, y), bits)

  /** Write `df` laid out along the z-order curve of `zCols` — the
    * data-skipping layout behind Delta OPTIMIZE ZORDER / Iceberg sort
    * orders: each output file covers a compact z-range, i.e. a small
    * HYPER-RECTANGLE in the column space, so parquet min/max file stats
    * prune scans that filter on ANY of the columns, not just the leading
    * sort key. `repartitionByRange` on the z-value gives contiguous
    * non-overlapping file ranges (a hash repartition would scatter the
    * curve and destroy locality).
    */
  def zorderWriteN(df: DataFrame, path: String, zCols: Seq[String],
      files: Int, bits: Int, format: String = "parquet"): Unit =
    df.withColumn("__z", zValueN(zCols.map(col), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").format(format).save(path)

  /** 2-D special case of [[zorderWriteN]]. */
  def zorderWrite(df: DataFrame, path: String, xCol: String, yCol: String,
      files: Int, bits: Int = 21, format: String = "parquet"): Unit =
    zorderWriteN(df, path, Seq(xCol, yCol), files, bits, format)
}
