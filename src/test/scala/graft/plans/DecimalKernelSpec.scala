package graft.plans

import java.nio.file.Files

import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SparkSessionExtensions, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Cast, Divide, EvalMode, Expression, Literal, Multiply, Round}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, concat, lit, sum}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.api.Pipeline

/** The decimal kernel against Spark's own decimal arithmetic: every query
  * is run with [[DecimalKernels]] and with the rule excluded by name, and
  * must give the same rows, schema and hashes, or fail with the same error.
  */
class DecimalKernelSpec extends SparkSpec {

  private val RuleOff = "spark.sql.optimizer.excludedRules" -> DecimalKernels.ruleName

  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val codegenModes = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def kernels(plan: LogicalPlan): Seq[DecimalKernel] =
    plan.flatMap(_.expressions.flatMap(_.collect { case k: DecimalKernel => k }))

  /** The innermost error condition of a failed query (Spark wraps task
    * failures), else the innermost exception class.
    */
  private def errorOf(t: Throwable): String = {
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    chain.reverse.collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.getOrElse(chain.last.getClass.getName)
  }

  // ------------------------------------------------------------ test data

  private val decCols = Seq((1, 0), (2, 0), (5, 2), (7, 7), (9, 4), (10, 3), (12, 2), (15, 6),
    (18, 0), (18, 10), (38, 2))
  private def decName(p: Int, s: Int) = s"d${p}_$s"

  private lazy val dataDir: String = {
    val rnd = new Random(20261020L)
    def decValue(p: Int, s: Int): java.math.BigDecimal = {
      val max = BigInt(10).pow(p) - 1
      val u: BigInt = rnd.nextInt(12) match {
        case 0 => null
        case 1 => BigInt(0)
        case 2 => max
        case 3 => -max
        case 4 => BigInt(rnd.nextInt(21) - 10).min(max).max(-max)
        case 5 => BigInt(5) * BigInt(10).pow(rnd.nextInt(p)) // HALF_UP ties once divided or rounded
        case 6 => -BigInt(5) * BigInt(10).pow(rnd.nextInt(p))
        case 7 => BigInt(10).pow(rnd.nextInt(p)) + rnd.nextInt(3)
        case _ => (BigInt(4 * p, rnd) mod (max + 1)) * (if (rnd.nextBoolean()) 1 else -1)
      }
      if (u == null) null else new java.math.BigDecimal(u.bigInteger, s)
    }
    def pick[T](edges: Seq[T], random: => T): Any =
      if (rnd.nextInt(10) == 0) null else if (rnd.nextInt(3) == 0) edges(rnd.nextInt(edges.length)) else random
    val rows = (0 until 3000).map { id =>
      Row.fromSeq(Seq(id) ++ decCols.map { case (p, s) => decValue(p, s) } ++ Seq(
        pick(Seq(0.toByte, Byte.MaxValue, Byte.MinValue, 1.toByte), rnd.nextInt(256).toByte),
        pick(Seq(0.toShort, Short.MaxValue, Short.MinValue, 3.toShort), rnd.nextInt(65536).toShort),
        pick(Seq(0, Int.MaxValue, Int.MinValue, 7, -3), rnd.nextInt()),
        pick(Seq(0L, Long.MaxValue, Long.MinValue, 999999999999999999L, -5L),
          if (rnd.nextBoolean()) rnd.nextLong() else rnd.nextInt(100000).toLong)))
    }
    val schema = StructType(StructField("id", IntegerType, nullable = false) +:
      (decCols.map { case (p, s) => StructField(decName(p, s), DecimalType(p, s)) } ++ Seq(
        StructField("b", ByteType), StructField("sh", ShortType),
        StructField("i", IntegerType), StructField("l", LongType))))
    val dir = Files.createTempDirectory("decimal-kernel").resolve("t").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema).write.parquet(dir)
    dir
  }

  /** (expression, whether the rule puts a kernel in its plan) */
  private val expressions = Seq(
    "ROUND(d12_2 * i / 3, 2)" -> true, // the etl_orders Sql step
    "d12_2 * i" -> true,
    "d5_2 * d9_4" -> true,
    "d9_4 / d5_2" -> true,
    "d18_0 * d18_10" -> true,
    "d18_10 / d2_0" -> true,
    "d18_10 / d18_0" -> true, // result scale 29: large divisors pass the single-rounding bound
    "d7_7 / d18_10" -> true,
    "d12_2 + d9_4 * d5_2" -> true,
    "d9_4 - d12_2 / 7" -> true,
    "CAST(d12_2 * d5_2 AS DECIMAL(10, 3))" -> true,
    "CAST(l AS DECIMAL(18, 2)) * d5_2" -> true,
    "CAST(i AS DECIMAL(5, 1)) / d2_0" -> true,
    "ROUND(d9_4 / 3, 0)" -> true,
    "ROUND(d18_10 * 2, 12)" -> true,
    "ROUND(d5_2 / 2, 2)" -> true,
    "ROUND(d10_3 * d10_3, 1) - d2_0" -> true,
    "d1_0 / d1_0" -> true,
    "(d5_2 + d5_2) * (d5_2 - d2_0)" -> true,
    "d15_6 * d15_6 / d9_4" -> true,
    "sh * d7_7" -> true,
    "b * d10_3 + l" -> true,
    "d12_2 * 0.5" -> true,
    "d9_4 / 0" -> true,
    "d18_0 + d18_0 * 10" -> true,
    "try_multiply(d18_0, d18_10)" -> true,
    "try_divide(d12_2, d5_2)" -> true,
    "CAST(d18_10 AS DECIMAL(6, 2)) * 2" -> true,
    "d12_2 * i / 3 / d2_0" -> true,
    "CAST(d5_2 * 1 AS DECIMAL(6, 1))" -> true,
    "ROUND(d9_4 * d2_0, 3) + d1_0 * d1_0" -> true,
    "d38_2 * d5_2" -> false, // a precision-38 leaf: Spark's arithmetic
    "-d12_2 * d5_2" -> false, // a leaf that is not a column or literal
    "d12_2 + d9_4" -> false) // no * or /: Spark's long path already

  private type Outcome = Either[String, (StructType, Seq[Row])]

  private def run(e: String, confs: Seq[(String, String)]): (Outcome, Int) = withConfs(confs: _*) {
    val df = spark.read.parquet(dataDir).selectExpr("id", s"$e AS r")
      .selectExpr("id", "r", "hash(r) AS h", "xxhash64(r) AS x")
    val plan = df.queryExecution.optimizedPlan
    val out = Try(df.collect()) match {
      case Success(rows) => Right((plan.schema, rows.sortBy(_.getInt(0)).toSeq))
      case Failure(t) => Left(errorOf(t))
    }
    (out, kernels(plan).length)
  }

  test("kernel results, schemas and errors equal Spark's decimal arithmetic") {
    assert(expressions.length >= 25)
    for ((mode, cg) <- codegenModes; ansi <- Seq("true", "false")) {
      val base = cg :+ ("spark.sql.ansi.enabled" -> ansi)
      for ((e, kernel) <- expressions) {
        val (on, n) = run(e, base)
        val (off, nOff) = run(e, base :+ RuleOff)
        val where = s"$e [$mode, ansi=$ansi]"
        assert(nOff == 0, where)
        assert((n > 0) == kernel, s"$where: $n kernels")
        (on, off) match {
          case (Right((s1, r1)), Right((s2, r2))) =>
            assert(s1 == s2, where)
            val diff = r1.zip(r2).filter { case (a, b) => a != b }
            assert(r1.length == r2.length && diff.isEmpty, s"$where: ${diff.take(3)}")
          case (Left(c1), Left(c2)) => assert(c1 == c2, where)
          case _ => fail(s"$where: $on vs $off")
        }
      }
    }
  }

  // -------------------------------------------------------- fallback rows

  private def ref(i: Int, p: Int, s: Int) = BoundReference(i, DecimalType(p, s), nullable = true)
  private def dec(v: String) = Decimal(new java.math.BigDecimal(v))

  /** Spark's expression and the kernel over the same row, interpreted and
    * generated; the row must take the fallback.
    */
  private def assertFallback(name: String, expr: Expression, values: Seq[Any]): Unit = {
    val k = DecimalKernel.of(expr).getOrElse(fail(s"$name: no kernel for $expr"))
    val row = InternalRow.fromSeq(values)
    assert(k.fastPath(values.toArray) == DecimalMath.Fail, s"$name: the long path took the row")
    val dt = expr.dataType.asInstanceOf[DecimalType]
    def outcome(f: => Any): Either[String, Any] = Try(f) match {
      case Success(v) => Right(v)
      case Failure(t) => Left(errorOf(t))
    }
    def generated(e: Expression) = outcome {
      val r = GenerateUnsafeProjection.generate(Seq(e)).apply(row)
      if (r.isNullAt(0)) null else r.getDecimal(0, dt.precision, dt.scale)
    }
    val want = outcome(expr.eval(row))
    assert(outcome(k.eval(row)) == want, s"$name (interpreted)")
    assert(generated(k) == generated(expr), s"$name (generated)")
    assert(generated(expr) == want, s"$name: Spark's own paths differ")
  }

  test("each fallback reason gives Spark's value, null or error") {
    for (mode <- Seq(EvalMode.LEGACY, EvalMode.ANSI, EvalMode.TRY)) {
      val m = s"[$mode]"
      assertFallback(s"null leaf $m", Multiply(ref(0, 12, 2), ref(1, 5, 2), mode), Seq(null, dec("1.00")))
      assertFallback(s"zero divisor $m", Divide(ref(0, 9, 4), ref(1, 5, 2), mode), Seq(dec("1.0000"), dec("0.00")))
      assertFallback(s"multiply overflows a long $m", Multiply(ref(0, 18, 0), ref(1, 18, 0), mode),
        Seq(dec("100000000000000000"), dec("100000000000000000")))
      val nine = Literal(Decimal(9), DecimalType(1, 0))
      assertFallback(s"add overflows a long $m",
        Add(Multiply(ref(0, 18, 0), nine, mode), Multiply(ref(1, 18, 0), nine, mode), mode),
        Seq(dec("900000000000000000"), dec("900000000000000000")))
      assertFallback(s"result past its precision $m",
        Cast(Multiply(ref(0, 12, 2), ref(1, 5, 2), mode), DecimalType(6, 2), None, mode),
        Seq(dec("9999999999.99"), dec("999.99")))
      val quotient = Divide(ref(0, 18, 10), ref(1, 18, 0), mode)
      assert(quotient.dataType.asInstanceOf[DecimalType].scale >= 21)
      assertFallback(s"divisor past the single-rounding bound $m", quotient,
        Seq(dec("1.0000000001"), dec("999999999999999999")))
      assertFallback(s"leaf of more than 18 digits $m", Round(Multiply(ref(0, 12, 2), ref(1, 5, 2), mode), Literal(2)),
        Seq(Decimal(new java.math.BigDecimal("12345678901234567890.12")), dec("1.50")))
    }
  }

  test("a kernel whose input became an expression evaluates as Spark's tree") {
    // Spark skips the right operand when the left is null; the long path
    // would read both, and this one fails under ANSI
    val k = DecimalKernel.of(Multiply(ref(0, 12, 2), ref(1, 5, 2), EvalMode.ANSI)).get
    val bad = Cast(Literal("x"), DecimalType(5, 2), None, EvalMode.ANSI)
    val substituted = k.withNewChildren(Seq(k.children.head, bad)).asInstanceOf[DecimalKernel]
    val row = InternalRow.fromSeq(Seq(null))
    assert(substituted.eval(row) == null)
    assert(GenerateUnsafeProjection.generate(Seq(substituted)).apply(row).isNullAt(0))
    assert(Try(substituted.expanded.eval(InternalRow.fromSeq(Seq(dec("1.00"))))).isFailure)
  }

  test("the long arithmetic rounds HALF_UP and flags what it cannot do exactly") {
    import DecimalMath._
    assert(rescale(125, 2, 1) == 13 && rescale(-125, 2, 1) == -13 && rescale(124, 2, 1) == 12)
    assert(rescale(5000000000000000000L, 19, 0) == 1 && rescale(4999999999999999999L, 19, 0) == 0)
    assert(rescale(7, 0, 18) == 7000000000000000000L && rescale(10, 0, 18) == Fail && rescale(0, 0, 30) == 0)
    assert(div(5, 2, Long.MaxValue) == 3 && div(-5, 2, Long.MaxValue) == -3 && div(5, -3, Long.MaxValue) == -2)
    assert(div(1, 0, Long.MaxValue) == Fail && div(1, 100, 99) == Fail && div(1, 99, 99) == 0)
    assert(mul(Long.MaxValue, 2) == Fail && mul(-4611686018427387904L, 2) == Fail)
    assert(add(Long.MaxValue, 1) == Fail && sub(Long.MinValue + 1, 1) == Fail && sub(0, Fail) == Fail)
    assert(fit(999, 3) == 999 && fit(-1000, 3) == Fail && fit(Long.MaxValue, 19) == Long.MaxValue)
    assert(divisorMax(29) == 9999999999L && divisorMax(6) == Long.MaxValue)
  }

  // -------------------------------------------------------------- plans

  test("etl_orders' zeta Sql step carries one kernel in place of the round(...) tree") {
    val root = Files.createTempDirectory("decimal-kernel-etl").toString
    val orders = spark.range(0, 2000).select(
      col("id").as("order_id"),
      lit(" cust-00042 ").as("customer"),
      (col("id") % 4).cast("string").as("status"),
      lit("region_01").as("region"),
      (col("id") * 37 % 500000 / 100).cast("decimal(12,2)").as("amount"),
      (col("id") % 20 + 1).cast("int").as("qty"),
      (col("id") * 1000000L).cast("timestamp").as("ts"))
    orders.write.parquet(s"$root/orders")
    val conf =
      s"""env { job.mode = "BATCH" }
         |source { LocalFile { path = "$root/orders", file_format_type = "parquet", plugin_output = "orders" } }
         |transform {
         |  Filter { plugin_input = "orders", plugin_output = "kept",
         |    include_fields = [order_id, customer, status, region, amount, qty, ts] }
         |  Replace { plugin_input = "kept", plugin_output = "replaced", replace_field = "customer",
         |    pattern = "cust-", replacement = "C", is_regex = false }
         |  Sql { plugin_input = "replaced", plugin_output = "clean",
         |    query = "SELECT order_id, TRIM(customer) AS customer, status, region, qty, amount, ROUND(amount * qty / 3, 2) AS share, DATE_FORMAT(ts, 'yyyy-MM') AS month FROM replaced WHERE status <> 'CANCELLED'" }
         |}
         |sink { LocalFile { plugin_input = "clean", path = "$root/clean", file_format_type = "parquet" } }
         |""".stripMargin
    val clean = Pipeline.runHocon(spark, conf)("clean")
    val plan = clean.queryExecution.optimizedPlan
    val ks = kernels(plan)
    assert(ks.length == 1, plan.treeString)
    assert(ks.head.expanded.isInstanceOf[Round], ks.head.toString)
    assert(ks.head.dataType == DecimalType(24, 2))
    assert(!plan.exists(_.expressions.exists(_.exists(e => e.isInstanceOf[Multiply] || e.isInstanceOf[Divide]))))
    val written = spark.read.parquet(s"$root/clean").select("order_id", "share")
    val expected = withConfs(RuleOff) {
      spark.read.parquet(s"$root/orders").selectExpr("order_id", "ROUND(amount * qty / 3, 2) AS share")
        .collect().toSet
    }
    assert(written.collect().toSet == expected)
  }

  test("a tree with a precision-38 leaf, or a SUM output, is left to Spark") {
    val df = spark.read.parquet(dataDir)
    assert(kernels(df.selectExpr("d38_2 * d5_2").queryExecution.optimizedPlan).isEmpty)
    val agg = df.groupBy("d2_0").agg((sum("d12_2") * 2).as("x"))
    assert(kernels(agg.queryExecution.optimizedPlan).isEmpty)
  }

  /** The optimized plan of `df` is the same with the rule and without it,
    * and the rule hands back the very plan object: the plan has arithmetic,
    * so the rule walks it, but no decimal `*` or `/`.
    */
  private def assertUnchanged(df: DataFrame): Unit = {
    val analyzed = df.queryExecution.analyzed
    val optimizer = spark.sessionState.optimizer
    val without = withConfs(RuleOff)(optimizer.execute(analyzed))
    assert(without.containsPattern(org.apache.spark.sql.catalyst.trees.TreePattern.BINARY_ARITHMETIC))
    assert(optimizer.execute(analyzed).canonicalized == without.canonicalized)
    assert(DecimalKernels(without) eq without)
  }

  test("a plan with a Window, a join and an aggregate optimizes unchanged (applyCdcBatch)") {
    val kind = graft.operators.RowKindOps.RowKindCol
    val snapshot = spark.range(0, 200).select(col("id"), (col("id") * 10).as("amount"),
      lit("n").as("name"), col("id").as("seq"))
    val changes = spark.range(100, 300).select((col("id") % 250).as("id"), (col("id") * 3).as("amount"),
      lit("m").as("name"), col("id").as("seq"),
      (col("id") % 3).cast("string").as("k"))
      .selectExpr("id", "amount", "name", "seq",
        s"CASE k WHEN '0' THEN '+I' WHEN '1' THEN '+U' ELSE '-D' END AS $kind")
    val merged = graft.streaming.StreamingOps.applyCdcBatch(snapshot, changes, Seq("id"), "seq")
      .groupBy("name").agg(sum(col("amount") + 1).as("total"))
    assert(merged.queryExecution.analyzed.exists(_.expressions.exists(_.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.WindowExpression]))))
    assertUnchanged(merged)
    assert(merged.collect().nonEmpty)
  }

  test("llm_dedup's feature and dedup plan optimizes unchanged") {
    val docs = spark.range(0, 300).select(col("id").as("doc_id"),
      concat(lit("the quick brown fox number "), (col("id") % 40).cast("string"),
        lit(" jumps over the lazy dog. A second line follows here!")).as("text"))
    val feats = graft.text.TextAnalysis.gopherFlags(graft.text.TextAnalysis.qualityFeatures(docs, "text"), "text")
    val pairs = graft.dedup.Dedup.minHashPairs(docs, "doc_id", "text")
    assertUnchanged(graft.dedup.Dedup.dropByComponents(feats, "doc_id", pairs))
  }

  test("a session built through spark.sql.extensions=graft.plans.GraftExtensions gets the kernel") {
    // what spark.sql.extensions does for a new session: the named class
    // configures the session's own SparkSessionExtensions. The session
    // constructor that takes them is private to Spark, hence reflection;
    // nothing of GraftSession.create runs on this session.
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val parent = spark.asInstanceOf[classic.SparkSession]
    val other = classOf[classic.SparkSession].getConstructors.find(_.getParameterCount == 6).get
      .newInstance(parent.sparkContext, Some(parent.sharedState), None, ext, Map.empty, Map.empty)
      .asInstanceOf[SparkSession]
    assert(other ne spark)
    assert(other.experimental.extraOptimizations.isEmpty)
    val df = other.read.parquet(dataDir).selectExpr("id", "ROUND(d12_2 * i / 3, 2) AS r")
    assert(kernels(df.queryExecution.optimizedPlan).length == 1)
    val mine: DataFrame = spark.read.parquet(dataDir).selectExpr("id", "ROUND(d12_2 * i / 3, 2) AS r")
    val expected = withConfs(RuleOff)(mine.collect().toSet)
    assert(df.collect().toSet == expected)
  }
}
