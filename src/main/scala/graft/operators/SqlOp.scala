package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL transform.
  *
  * Reference: seatunnel-transforms-v2 .../sql/SQLTransform.java:47 — a
  * single-input SQL step evaluated row-at-a-time by the Zeta SQL engine
  * (JSQLParser + interpreted expressions; SELECT/WHERE + scalar functions +
  * LATERAL-VIEW EXPLODE only).
  *
  * Graft delegates to Spark SQL over temp views: the input table is
  * registered under its pipeline name and the query becomes part of the
  * same Catalyst plan as the rest of the pipeline (optimized + codegen'd
  * end-to-end, and a strict superset: joins, aggregation, windows, CTEs).
  * Zeta-specific function names are provided by
  * [[graft.functions.ZetaFunctions.register]].
  */
object SqlOp {

  /** Run `query` with `df` visible as table `inputName` — and as `dual`,
    * the implicit input-table alias the reference's Zeta SQL accepts
    * (its example configs write `FROM dual` regardless of plugin_input).
    */
  def sql(spark: SparkSession, df: DataFrame, query: String, inputName: String = "input"): DataFrame = {
    df.createOrReplaceTempView(inputName)
    if (inputName != "dual") df.createOrReplaceTempView("dual")
    spark.sql(query)
  }

  /** Multi-table variant: every catalog entry is visible by name. */
  def sql(spark: SparkSession, catalog: Map[String, DataFrame], query: String): DataFrame = {
    catalog.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    spark.sql(query)
  }

  /** Run `query` in the Zeta SQL dialect — the form the reference's own
    * config files are written in. Adds to [[sql]]:
    *  - [[graft.functions.ZetaFunctions]] registered (zeta names + types),
    *  - [[ZetaDialect]] source shims (double literals, zeta ARRAY/CAST,
    *    zeta LATERAL VIEW EXPLODE replace-column semantics),
    *  - `spark.sql.parser.escapedStringLiterals=true` during parsing, so
    *    regex literals like '\d{4}' survive verbatim (JSQLParser — and so
    *    the reference's configs — does not process backslash escapes;
    *    Spark's default literal parser would eat the backslash).
    */
  def sqlZeta(spark: SparkSession, df: DataFrame, query: String,
      inputName: String = "input"): DataFrame = {
    import org.apache.spark.sql.functions.{explode, explode_outer, expr}
    df.createOrReplaceTempView(inputName)
    if (inputName != "dual") df.createOrReplaceTempView("dual")
    val key = "spark.sql.parser.escapedStringLiterals"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try graft.functions.ZetaFunctions.withDialect(spark) {
      val (base, laterals) = ZetaDialect.splitLaterals(query)
      val out0 = spark.sql(ZetaDialect.rewrite(base))
      laterals.foldLeft(out0) { (d, lv) =>
        val arr = ZetaDialect.rewrite(lv.expr)
        // zeta non-OUTER EXPLODE drops null ELEMENTS; OUTER keeps them
        // (and emits a null row for null/empty arrays) — see ZetaDialect.
        val c =
          if (lv.outer) explode_outer(expr(arr))
          else explode(expr(s"filter(($arr), __zx -> __zx IS NOT NULL)"))
        d.withColumn(lv.alias, c)
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
