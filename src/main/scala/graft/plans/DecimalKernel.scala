package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Attribute, BoundReference, Cast, Divide, Expression, GenericInternalRow, Literal, Multiply, Round, Subtract}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.BINARY_ARITHMETIC
import org.apache.spark.sql.types.{ByteType, DataType, Decimal, DecimalType, IntegerType, LongType, ShortType}

/** Exact arithmetic on unscaled decimal values held in longs.
  *
  * `Fail` (Long.MinValue) marks a value the long path cannot give exactly:
  * a null leaf, a zero divisor, a long overflow, a result past its
  * precision. Every operation passes it on, so one check of the root
  * decides whether a row needs Spark's own evaluation. Long.MinValue itself
  * is never a result (its magnitude does not fit a long), which costs a
  * fallback on that one value and keeps every `abs` below safe.
  */
object DecimalMath {
  final val Fail = Long.MinValue
  private val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10L) // 10^0 .. 10^18

  /** `d`'s unscaled value at `scale`; Fail for null, more than 18 digits or
    * another scale than the declared one.
    */
  def unscaled(d: Decimal, scale: Int): Long =
    if (d == null || d.precision > 18 || d.scale != scale) Fail else d.toUnscaledLong

  def mul(a: Long, b: Long): Long =
    if (a == Fail || b == Fail) Fail
    else {
      val r = a * b
      if (Math.multiplyHigh(a, b) != (r >> 63)) Fail else r
    }

  def add(a: Long, b: Long): Long =
    if (a == Fail || b == Fail) Fail
    else {
      val r = a + b
      if (((a ^ r) & (b ^ r)) < 0) Fail else r
    }

  def sub(a: Long, b: Long): Long = if (b == Fail) Fail else add(a, -b)

  /** `a` at `to` digits after the point, from `from`: exact when widening,
    * rounded HALF_UP when narrowing (Decimal.changePrecision's rounding).
    */
  def rescale(a: Long, from: Int, to: Int): Long =
    if (a == Fail || a == 0L || from == to) a
    else if (to > from) {
      if (to - from > 18) Fail else mul(a, Pow10(to - from))
    } else {
      val k = from - to
      if (k > 19) 0L
      else if (k == 19) { if (Math.abs(a) >= 5000000000000000000L) java.lang.Long.signum(a) else 0L }
      else {
        val p = Pow10(k)
        val q = a / p
        val r = a - q * p
        if (Math.abs(r) * 2 >= p) q + java.lang.Long.signum(a) else q
      }
    }

  /** `n / d` rounded HALF_UP. Spark rounds a decimal quotient twice, to 39
    * digits and then to the result scale s; one rounding of `n / d` is the
    * same only while |d| < 10^(39 - s), and `dMax` is that bound less one.
    */
  def div(n: Long, d: Long, dMax: Long): Long =
    if (n == Fail || d == Fail || d == 0L || Math.abs(d) > dMax) Fail
    else {
      val q = n / d
      val r = Math.abs(n - q * d)
      if (r >= Math.abs(d) - r) q + (if ((n ^ d) < 0) -1L else 1L) else q
    }

  /** `a` if it has at most `p` digits. */
  def fit(a: Long, p: Int): Long =
    if (p > 18 || a == Fail || Math.abs(a) < Pow10(p)) a else Fail

  /** The largest divisor `div` may take for a quotient of scale `s`. */
  def divisorMax(s: Int): Long = if (39 - s > 18) Long.MaxValue else Pow10(39 - s) - 1L

  // One method per kernel node: operands come with their scales, the
  // result is at the node's decimal(p, s) or Fail. Generated code passes
  // the scales as constants, so the JIT folds the branches on them.

  /** A cast to decimal(p, s), or a ROUND to scale s. */
  def cast(a: Long, as: Int, p: Int, s: Int): Long = fit(rescale(a, as, s), p)

  def multiply(a: Long, as: Int, b: Long, bs: Int, p: Int, s: Int): Long =
    fit(rescale(mul(a, b), as + bs, s), p)

  def plus(a: Long, as: Int, b: Long, bs: Int, negate: Boolean, p: Int, s: Int): Long = {
    val m = math.max(as, bs)
    val x = rescale(a, as, m)
    val y = rescale(b, bs, m)
    fit(rescale(if (negate) sub(x, y) else add(x, y), m, s), p)
  }

  def divide(a: Long, as: Int, b: Long, bs: Int, p: Int, s: Int): Long = {
    val e = s - as + bs // the quotient's scale is as - bs; scale one side to reach s
    val q =
      if (e >= 0) div(rescale(a, 0, e), b, divisorMax(s))
      else div(a, rescale(b, 0, -e), divisorMax(s))
    fit(q, p)
  }
}

/** A decimal arithmetic tree evaluated on unscaled longs.
  *
  * `tree` is Spark's own tree of `*`, `/`, `+`, `-`, ROUND and casts to
  * decimal, with each input column replaced by a BoundReference to the
  * matching child; literals stay in place. Each node rounds where Spark's
  * node rounds (HALF_UP to the node's scale, then its precision is
  * checked), so a row the long path finishes has Spark's value, type and
  * bytes. Any other row (a null input, a zero divisor, an overflow, a
  * quotient past the single-rounding bound, an input of more than 18
  * digits) is evaluated by `tree` itself, out of line, over the same input
  * values: nulls, ANSI errors and values stay Spark's own. Inputs are only
  * columns and literals, so reading them all up front, as the long path
  * does, cannot raise what Spark's short-circuiting evaluation would not.
  * A later optimizer rule may put another expression in a column's place
  * (CollapseProject); such a kernel evaluates as `tree` itself.
  */
case class DecimalKernel(tree: Expression, children: Seq[Expression]) extends Expression {
  import DecimalKernel._

  @transient private lazy val op: Op = compile(tree).get

  /** `tree` with the children back in place: Spark's own expression. */
  @transient lazy val expanded: Expression = tree.transform {
    case b: BoundReference => children(b.ordinal)
  }

  override def dataType: DataType = tree.dataType
  override def nullable: Boolean = expanded.nullable
  override lazy val canonicalized: Expression = expanded.canonicalized
  override def toString: String = s"decimal_kernel($expanded)"

  private def resultType: DecimalType = dataType.asInstanceOf[DecimalType]

  @transient private lazy val plainInputs: Boolean = children.forall {
    case _: Attribute | _: BoundReference | _: Literal => true
    case _ => false
  }

  private def leafLong(v: Any, dt: DataType): Long = v match {
    case null => DecimalMath.Fail
    case d: Decimal => DecimalMath.unscaled(d, dt.asInstanceOf[DecimalType].scale)
    case n: java.lang.Number => n.longValue
  }

  override def eval(input: InternalRow): Any =
    if (!plainInputs) expanded.eval(input)
    else {
      val values = children.map(_.eval(input)).toArray[Any]
      val r = fastPath(values)
      if (r != DecimalMath.Fail) Decimal(r, resultType.precision, resultType.scale)
      else fallback(values)
    }

  /** The long path's unscaled result for the children's `values`, or Fail. */
  private[plans] def fastPath(values: Array[Any]): Long =
    run(op, values.zip(children).map { case (v, c) => leafLong(v, c.dataType) })

  /** Spark's evaluation of the row: `values` are the children's values. */
  def fallback(values: Array[Any]): Decimal =
    tree.eval(new GenericInternalRow(values)).asInstanceOf[Decimal]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (plainInputs) genKernel(ctx, ev) else expanded.genCode(ctx)

  private def genKernel(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val M = "graft.plans.DecimalMath"
    val Fail = "java.lang.Long.MIN_VALUE"
    val gens = children.map(_.genCode(ctx))
    val lines = ArrayBuffer[String]()
    val leafVars = gens.zip(children).map { case (g, c) =>
      val v = ctx.freshName("dkLeaf")
      lines += (c.dataType match {
        case Dec(_, s) => s"long $v = ${g.isNull} ? $Fail : $M.unscaled(${g.value}, $s);"
        case _ => s"long $v = ${g.isNull} ? $Fail : (long) ${g.value};"
      })
      v
    }
    def emit(o: Op): String = o match {
      case Leaf(i, _) => leafVars(i)
      case Const(v, _) => s"${v}L"
      case other =>
        val v = ctx.freshName("dk")
        val call = other match {
          case Rescale(c, p, s) => s"cast(${emit(c)}, ${c.scale}, $p, $s)"
          case Mul(l, r, p, s) => s"multiply(${emit(l)}, ${l.scale}, ${emit(r)}, ${r.scale}, $p, $s)"
          case AddSub(l, r, neg, p, s) => s"plus(${emit(l)}, ${l.scale}, ${emit(r)}, ${r.scale}, $neg, $p, $s)"
          case Div(l, r, p, s) => s"divide(${emit(l)}, ${l.scale}, ${emit(r)}, ${r.scale}, $p, $s)"
          case _ => throw new IllegalStateException(s"unexpected $other")
        }
        lines += s"long $v = $M.$call;"
        v
    }
    val result = emit(op)
    val self = ctx.addReferenceObj("decimalKernel", this)
    val boxed = gens.zip(children).map { case (g, c) =>
      val value = c.dataType match {
        case _: DecimalType => g.value.toString
        case dt => s"${CodeGenerator.boxedType(dt)}.valueOf(${g.value})"
      }
      s"${g.isNull} ? null : $value"
    }
    val dt = resultType
    ev.copy(code =
      code"""
         |${gens.map(_.code).mkString("\n")}
         |${lines.mkString("\n")}
         |boolean ${ev.isNull} = false;
         |org.apache.spark.sql.types.Decimal ${ev.value} = null;
         |if ($result != $Fail) {
         |  ${ev.value} = org.apache.spark.sql.types.Decimal.apply($result, ${dt.precision}, ${dt.scale});
         |} else {
         |  ${ev.value} = $self.fallback(new Object[] {${boxed.mkString(", ")}});
         |  ${ev.isNull} = ${ev.value} == null;
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): DecimalKernel =
    copy(children = newChildren)
}

object DecimalKernel {
  /** The long program of a bound tree; `scale` is the scale of its value. */
  private[plans] sealed trait Op { def scale: Int }
  private[plans] case class Leaf(i: Int, scale: Int) extends Op
  private[plans] case class Const(v: Long, scale: Int) extends Op
  /** A cast to decimal(p, s) or a ROUND to s: one HALF_UP rescale. */
  private[plans] case class Rescale(c: Op, p: Int, scale: Int) extends Op
  private[plans] case class Mul(l: Op, r: Op, p: Int, scale: Int) extends Op
  private[plans] case class AddSub(l: Op, r: Op, neg: Boolean, p: Int, scale: Int) extends Op
  private[plans] case class Div(l: Op, r: Op, p: Int, scale: Int) extends Op

  /** DecimalType(precision, scale); Spark's own extractor is private. */
  private[plans] object Dec {
    def unapply(dt: DataType): Option[(Int, Int)] = dt match {
      case d: DecimalType => Some((d.precision, d.scale))
      case _ => None
    }
  }

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** A value the kernel reads as a long: a decimal of at most 18 digits or
    * an integral number.
    */
  private def longValued(dt: DataType): Boolean = dt match {
    case Dec(p, _) => p <= 18
    case other => integral(other)
  }

  /** A node of a kernel tree. The class is matched before `dataType` is
    * read: some expressions (WindowSpecDefinition) throw on `dataType`.
    */
  private[plans] def isNode(e: Expression): Boolean = e match {
    case _: Multiply | _: Divide | _: Add | _: Subtract => e.dataType.isInstanceOf[DecimalType]
    case Round(child, Literal(s: Int, IntegerType), _) =>
      s >= 0 && child.dataType.isInstanceOf[DecimalType]
    case c: Cast => c.dataType.isInstanceOf[DecimalType] &&
      (c.child.dataType.isInstanceOf[DecimalType] || integral(c.child.dataType))
    case _ => false
  }

  private[plans] def compile(e: Expression): Option[Op] = {
    def fixed(e: Expression) = e.dataType.asInstanceOf[DecimalType]
    def bin(l: Expression, r: Expression)(f: (Op, Op) => Op): Option[Op] =
      for (a <- compile(l); b <- compile(r)) yield f(a, b)
    e match {
      case BoundReference(i, Dec(_, s), _) => Some(Leaf(i, s))
      case BoundReference(i, dt, _) if integral(dt) => Some(Leaf(i, 0))
      case Literal(null, Dec(_, s)) => Some(Const(DecimalMath.Fail, s))
      case Literal(d: Decimal, Dec(_, s)) =>
        val v = DecimalMath.unscaled(d, s)
        if (v == DecimalMath.Fail) None else Some(Const(v, s))
      case Literal(n: java.lang.Number, dt) if integral(dt) && n.longValue != DecimalMath.Fail =>
        Some(Const(n.longValue, 0))
      case Literal(null, dt) if integral(dt) => Some(Const(DecimalMath.Fail, 0))
      case n if !isNode(n) => None
      case c: Cast => compile(c.child).map(Rescale(_, fixed(c).precision, fixed(c).scale))
      case r: Round => compile(r.child).map(Rescale(_, fixed(r).precision, fixed(r).scale))
      case m: Multiply => bin(m.left, m.right)(Mul(_, _, fixed(m).precision, fixed(m).scale))
      case a: Add => bin(a.left, a.right)(AddSub(_, _, neg = false, fixed(a).precision, fixed(a).scale))
      case s: Subtract => bin(s.left, s.right)(AddSub(_, _, neg = true, fixed(s).precision, fixed(s).scale))
      case d: Divide => bin(d.left, d.right)(Div(_, _, fixed(d).precision, fixed(d).scale))
    }
  }

  /** The interpreted twin of the generated code. */
  private[plans] def run(o: Op, leaves: Array[Long]): Long = {
    import DecimalMath._
    def go(o: Op): Long = o match {
      case Leaf(i, _) => leaves(i)
      case Const(v, _) => v
      case Rescale(c, p, s) => cast(go(c), c.scale, p, s)
      case Mul(l, r, p, s) => multiply(go(l), l.scale, go(r), r.scale, p, s)
      case AddSub(l, r, neg, p, s) => plus(go(l), l.scale, go(r), r.scale, neg, p, s)
      case Div(l, r, p, s) => divide(go(l), l.scale, go(r), r.scale, p, s)
    }
    go(o)
  }

  /** The kernel for a maximal tree rooted at `root`, if it holds a `*` or
    * `/`, reads at least one column, and every leaf is a column or literal
    * the long path can read.
    */
  private[plans] def of(root: Expression): Option[DecimalKernel] = {
    val leaves = ArrayBuffer[Expression]()
    var arithmetic = false
    def bind(e: Expression): Option[Expression] = e match {
      case n if isNode(n) =>
        arithmetic ||= n.isInstanceOf[Multiply] || n.isInstanceOf[Divide]
        val cs = n.children.map {
          case lit: Literal => Some(lit) // a literal operand, or ROUND's scale
          case c => bind(c)
        }
        if (cs.forall(_.isDefined)) Some(n.withNewChildren(cs.flatten)) else None
      case a: Attribute if longValued(a.dataType) => Some(boundLeaf(a))
      case b: BoundReference if longValued(b.dataType) => Some(boundLeaf(b))
      case _ => None
    }
    def boundLeaf(leaf: Expression): BoundReference = {
      var i = leaves.indexWhere(_.semanticEquals(leaf))
      if (i < 0) { leaves += leaf; i = leaves.length - 1 }
      BoundReference(i, leaf.dataType, leaf.nullable)
    }
    bind(root).filter(t => arithmetic && leaves.nonEmpty && compile(t).isDefined)
      .map(t => DecimalKernel(t, leaves.toSeq))
  }
}

/** Replaces each maximal decimal `*` / `/` tree (with its `+`, `-`, ROUND
  * and casts to decimal) by one [[DecimalKernel]]. Spark computes decimal
  * `*` and `/` through java.math.BigDecimal and re-rounds every node with
  * another BigDecimal; the kernel does the same exact arithmetic on
  * unscaled longs in generated code. Plans without arithmetic are skipped
  * by their tree-pattern bits and come out as the same object.
  *
  * Installed in every session by `GraftSession.create` and injected by
  * `GraftExtensions`; excluding it by name
  * (`spark.sql.optimizer.excludedRules`) gives Spark's own arithmetic.
  */
object DecimalKernels extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(BINARY_ARITHMETIC)) {
      case e if DecimalKernel.isNode(e) => DecimalKernel.of(e).getOrElse(e)
    }

  /** Add the rule to the session's optimizer (idempotent). */
  def install(spark: SparkSession): Unit = NativeExpressions.addOptimizerRule(spark, DecimalKernels)
}
