package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.GraftSession

/** Materialize an sf1 test dataset as real parquet by 10x key-consistent
  * replication of the driver's sf0.1 tables (VERDICT r11 next-round #1:
  * the scale evidence has so far been synthetic in-plan 10x unions —
  * materializing to parquet makes the scan, file-level parallelism, and
  * row-group pruning real at 10x bytes, so sf0.1 -> sf1 exponents are
  * measured against actual IO, not a union wrapper).
  *
  * Replication semantics mirror ScaleBench's in-plan replicate()s exactly
  * so the sf1 exponents are comparable with SCALE_r10's synthetic
  * sf0.1x10 points, and follow TPC-H sf scaling for the star schema:
  *
  *   - region/nation: fixed dims, copied verbatim (TPC-H keeps 25 nations
  *     at every sf; dims stay broadcast-able at any scale).
  *   - customer/supplier/part: pk + replica*1e9.
  *   - orders: o_orderkey and o_custkey offset by the SAME replica, so
  *     each replica's orders reference its own customers — join fan-out
  *     per key is constant, cardinality 10x (TPC-H semantics).
  *   - lineitem: l_orderkey/l_partkey/l_suppkey offset together.
  *   - events: TIME-SHIFTED replicas (each lands after the previous
  *     month's span) so event density per hour is constant and the range
  *     join's per-bin candidate count stays scale-invariant — replicating
  *     at identical timestamps would grow time-window outputs
  *     quadratically (same rationale as ScaleBench.replicateEvents).
  *   - documents: doc_id offset, text salted with " replica_salt_<i>"
  *     (byte-identical to ScaleBench.replicate so dedup cluster structure
  *     matches the synthetic curve), n_chars recomputed (= length(text)
  *     invariant holds in the driver data).
  *   - embeddings: vec_id offset, vectors repeat — IVF/LSH bucket sizes
  *     grow 10x, which is the stress that matters for banded joins.
  *
  * Replication is one scan per table via posexplode of a replica-index
  * array (no k-way self-union), and big tables are written as 32 files so
  * local[32] gets full scan parallelism.
  *
  * Usage: runMain graft.Sf1Gen [srcDir] [outDir] [k]
  */
object Sf1Gen {
  private val Off = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.create(s"local[$cpus]", "graft-sf1gen", cpus)
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, out, k)
    spark.stop()
  }

  /** Cross each row with replica indexes 0..k-1 in one scan. */
  private def withRep(df: DataFrame, k: Int): DataFrame =
    df.withColumn("rep", explode(array((0 until k).map(i => lit(i.toLong)): _*)))

  private def off(c: String): org.apache.spark.sql.Column =
    col(c) + col("rep") * lit(Off)

  def generate(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String, files: Int): Unit =
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    // fixed dims — verbatim
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    write(withRep(read("customer"), k)
      .select(off("c_custkey").as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer", 8)
    write(withRep(read("supplier"), k)
      .select(off("s_suppkey").as("s_suppkey"), col("s_name"),
        col("s_nationkey"), col("s_acctbal")),
      "supplier", 1)
    write(withRep(read("part"), k)
      .select(off("p_partkey").as("p_partkey"), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice")),
      "part", 8)
    write(withRep(read("orders"), k)
      .select(off("o_orderkey").as("o_orderkey"), off("o_custkey").as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")),
      "orders", 16)
    write(withRep(read("lineitem"), k)
      .select(off("l_orderkey").as("l_orderkey"), off("l_partkey").as("l_partkey"),
        off("l_suppkey").as("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate")),
      "lineitem", 32)
    // events: shift each replica 35 days forward. Testdata regenerations
    // have carried both timestamp[us] and TIMESTAMP(NANOS) (which, with
    // nanosAsLong=true set in this session, reads as LongType epoch-nanos
    // — a cast("timestamp") there would interpret nanos as SECONDS and
    // silently corrupt the shift), so branch on the read dataType like
    // Tables.load does: LongType gets a nanos shift and stays LongType;
    // timestamp types get a micros shift round-tripped through the same
    // type (identity under the UTC session) so the written physical type
    // matches the source.
    locally {
      val ev = read("events")
      val tsShift = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          (col("ts") + col("rep") * lit(35L * 86400L * 1000000000L)).as("ts")
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType =>
          timestamp_micros(unix_micros(col("ts").cast("timestamp")) +
            col("rep") * lit(35L * 86400L * 1000000L))
            .cast(ev.schema("ts").dataType).as("ts")
        case other =>
          sys.error(s"events.ts has unexpected type $other — refusing to shift")
      }
      write(withRep(ev, k)
        .select(off("event_id").as("event_id"), tsShift,
          col("user_id"), col("event_type"), col("value"), col("props")),
        "events", 32)
    }
    write(withRep(read("documents"), k)
      .withColumn("text",
        concat(col("text"), lit(" replica_salt_"), col("rep").cast("string")))
      .select(off("doc_id").as("doc_id"), col("text"), col("lang"),
        col("source"), length(col("text")).cast("long").as("n_chars")),
      "documents", 16)
    write(withRep(read("embeddings"), k)
      .select(off("vec_id").as("vec_id"), col("embedding"), col("label")),
      "embeddings", 8)

    val counts = Tables.names.map { n =>
      n -> spark.read.parquet(s"$out/$n.parquet").count()
    }
    println(counts.map { case (n, c) => s""""$n":$c""" }
      .mkString(s"""{"sf1_dir":"$out","k":$k,""", ",", "}"))
  }
}
