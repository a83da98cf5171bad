package graft.driver

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its name, how to build it on the driver's parquet
  * tables under an sf-dir (fixtures included — they stay eager inside
  * `build`), and the DuckDB SQL over the same tables that must return the
  * same rows.
  */
final case class Case(name: String, build: (SparkSession, String) => DataFrame, oracle: String)

object Case {
  /** Every driver case, family by family. Lazy because the family objects
    * call `Case.apply` while they initialize.
    */
  lazy val all: Seq[Case] = Seq(
    CoreCases.cases, DedupCases.cases, AnnCases.cases, TextCases.cases,
    CorpusCases.cases, TemporalCases.cases, StreamingCases.cases, CdcCases.cases,
    SourceCases.cases, SinkCases.cases, MultimodalCases.cases, ScaleCases.cases,
  ).flatten
}
