package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.driver.Case

/** Typed rows for DynamicOp's Dataset.map path (JVM-compiled user logic —
  * Graft's analog of the reference's DynamicCompile transform).
  */
case class NationRow(n_nationkey: Int, n_name: String, n_regionkey: Int)
case class NationOut(nation_id: Long, name_lc: String)

/** Driver contract — see SURVEY.md §2 (inventory) and §7 (plan).
  *
  * Every query is one SURVEY §2 capability exercised on the driver's
  * parquet tables, declared once as a [[graft.driver.Case]] next to its
  * DuckDB-equivalent oracle SQL in the family files under `driver/`.
  * Contract notes: aggregates go through exact decimal arithmetic and are
  * cast to double only at the end (so Spark and DuckDB bit-match despite
  * different summation orders), every query has a total ORDER BY, and all
  * computed columns are aliased identically on both sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Case.all.map(c => c.name -> c.build).toMap

  def oracleSql: Map[String, String] = Case.all.map(c => c.name -> c.oracle).toMap
}
