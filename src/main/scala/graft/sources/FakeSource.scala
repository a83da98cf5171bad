package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema-driven synthetic data source.
  *
  * Reference: seatunnel-connectors-v2/connector-fake — FakeSource generates
  * `row.num` rows from a declared schema, used for demos/tests throughout
  * the reference docs.
  *
  * Graft generates on the cluster from `spark.range` (no driver-side rows,
  * parallelism = `slices`), with deterministic per-index generators so runs
  * are reproducible at any scale. The type vocabulary covers the
  * reference's FakeSource schema grammar: the scalar types its example
  * configs declare (int/tinyint/smallint/bigint/float/double/decimal(p,s)/
  * string/boolean/bytes/date/timestamp/null) plus array&lt;T&gt; and
  * map&lt;string, T&gt;.
  */
object FakeSource {

  private val DecimalRe = """decimal\((\d+)\s*,\s*(\d+)\)""".r
  // DOTALL: inline row specs inside generic args may span lines
  private val ArrayRe = """(?s)array<(.+)>""".r
  private val MapRe = """(?s)map<\s*string\s*,(.+)>""".r

  /** Deterministic generator for one field; `variant` perturbs the value
    * so array/map elements differ within a row.
    */
  private def genFor(name: String, tpe: String, seed: Long, variant: Int,
      templates: Map[String, Seq[Any]] = Map.empty,
      ranges: Map[String, (Double, Double)] = Map.empty): Column = {
    val i = col("id") + lit(variant * 7919L)
    val mixed = hash(i.cast("string"), lit(seed))
    val t = tpe.trim.toLowerCase
    // reference FakeOption `<type>.template`: values cycle from the
    // declared list instead of being generated
    templates.get(t).filter(_.nonEmpty).foreach { vals =>
      return element_at(array(vals.map(v => lit(v.toString).cast(t)): _*),
        (pmod(mixed, lit(vals.size)) + 1).cast("int"))
    }
    // reference FakeOption `<type>.min`/`<type>.max`: integral values are
    // uniform on [min, max] (FakeDataRandomUtils.randomInt-style bounds),
    // fractional on [min, max)
    def intIn(castTo: String): Option[Column] = ranges.get(t).map { case (lo, hi) =>
      val span = hi.toLong - lo.toLong + 1
      if (span <= 0) // range covers ~the whole long domain (default max)
        greatest(abs(xxhash64(i.cast("string"), lit(seed))), lit(lo.toLong)).cast(castTo)
      else (pmod(mixed, lit(span)) + lit(lo.toLong)).cast(castTo)
    }
    def fracIn(castTo: String): Option[Column] = ranges.get(t).map { case (lo, hi) =>
      (lit(lo) + pmod(mixed, lit(100000)).cast("double") / 100000.0 * (hi - lo)).cast(castTo)
    }
    t match {
      case "int" | "integer" =>
        intIn("int").getOrElse(pmod(mixed, lit(1000000)).cast("int"))
      case "tinyint" | "byte" =>
        intIn("byte").getOrElse(pmod(mixed, lit(128)).cast("byte"))
      case "smallint" | "short" =>
        intIn("smallint").getOrElse(pmod(mixed, lit(32768)).cast("smallint"))
      case "long" | "bigint" =>
        intIn("bigint").getOrElse(abs(xxhash64(i.cast("string"), lit(seed))))
      case "double" =>
        fracIn("double").getOrElse(pmod(mixed, lit(1000000)).cast("double") / 1000.0)
      case "float" =>
        fracIn("float").getOrElse((pmod(mixed, lit(1000000)).cast("double") / 1000.0).cast("float"))
      case DecimalRe(p, s) =>
        (pmod(mixed, lit(1000000)).cast("double") / 1000.0).cast(s"decimal($p,$s)")
      case "string" | "varchar" => concat(lit(s"${name}_"), i.cast("string"))
      case "boolean" => (i % 2 === 0)
      case "bytes" | "binary" => encode(concat(lit(s"${name}_"), i.cast("string")), "UTF-8")
      case "timestamp" | "timestamp_tz" =>
        timestamp_seconds(lit(1704067200L) + pmod(mixed, lit(86400 * 365)))
      case "date" => to_date(timestamp_seconds(lit(1704067200L) + pmod(mixed, lit(86400 * 365))))
      case "time" => // Spark 4 TIME type, built from a seconds-of-day value
        format_string("%02d:%02d:%02d",
          pmod(mixed, lit(24)), pmod(mixed, lit(60)), pmod(mixed, lit(60))).cast("time")
      case "null" => lit(null).cast("string")
      case ArrayRe(et) =>
        array((0 until 3).map(k => genFor(name, et, seed, variant + k + 1, templates, ranges)): _*)
      case MapRe(vt0) =>
        // value may be an inline row spec ({c_int=int, ...} — the
        // reference's generic-row map values)
        val vt: Any =
          if (vt0.trim.startsWith("{")) graft.api.ZetaSchema.parseInlineRow(vt0)
          else vt0
        // keys are generated strings so `string.template` shapes them the
        // way the reference does: templated keys may collide (a
        // one-element template gives single-entry maps), and the last
        // value wins, in this map only
        val (k1, k2) = (genFor(name, "string", seed, variant + 3, templates, ranges),
          genFor(name, "string", seed, variant + 4, templates, ranges))
        val (v1, v2) = (genAny(name, vt, seed, variant + 1, templates, ranges),
          genAny(name, vt, seed, variant + 2, templates, ranges))
        when(k1 === k2, map(k2, v2)).otherwise(map(k1, v1, k2, v2))
      case other => throw new IllegalArgumentException(s"FakeSource: unsupported type $other")
    }
  }

  /** A field type is either a type-name string or a nested field map (the
    * reference's row-type schema syntax: `c_row = { c_int = int }`).
    */
  private def genAny(name: String, tpe: Any, seed: Long, variant: Int,
      templates: Map[String, Seq[Any]] = Map.empty,
      ranges: Map[String, (Double, Double)] = Map.empty): Column = tpe match {
    case s: String => genFor(name, s, seed, variant, templates, ranges)
    case m: scala.collection.Map[_, _] =>
      struct(m.toSeq.zipWithIndex.map { case ((k, v), idx) =>
        genAny(k.toString, v, seed, variant + idx + 1, templates, ranges).as(k.toString)
      }: _*)
    case other => throw new IllegalArgumentException(s"FakeSource: bad field spec $other")
  }

  /** Generate `rows` rows of the declared (name, type) fields. */
  def generate(spark: SparkSession, fields: Seq[(String, String)], rows: Long,
      slices: Int = 4, seed: Long = 42): DataFrame =
    generateAny(spark, fields, rows, slices, seed)

  /** Like [[generate]] but field specs may be nested row maps. */
  def generateAny(spark: SparkSession, fields: Seq[(String, Any)], rows: Long,
      slices: Int = 4, seed: Long = 42,
      templates: Map[String, Seq[Any]] = Map.empty,
      ranges: Map[String, (Double, Double)] = Map.empty): DataFrame =
    generateFromIndex(spark.range(0, rows, 1, slices).toDF("id"),
      fields, seed, templates, ranges)

  /** Project the declared fields over any frame carrying a monotonic
    * `id` column — shared by the batch path (spark.range) and the
    * STREAMING FakeSource (rate source), so both generate identical
    * deterministic values for a given index.
    */
  def generateFromIndex(base: DataFrame,
      fields: Seq[(String, Any)], seed: Long = 42,
      templates: Map[String, Seq[Any]] = Map.empty,
      ranges: Map[String, (Double, Double)] = Map.empty): DataFrame =
    base.select(fields.map { case (name, tpe) =>
      genAny(name, tpe, seed, 0, templates, ranges).as(name)
    }: _*)
}
