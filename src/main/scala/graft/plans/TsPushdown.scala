package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, BinaryComparison, Cast, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, Multiply, UnixMicros}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Pushes predicates on Graft's normalized event-time column back down to
  * the parquet scan.
  *
  * `Tables.load` presents `events.ts` as epoch-nanos LongType whatever the
  * parquet file stores (SURVEY §3). When the file carries timestamp[us],
  * that contract is a projection `unix_micros(ts) * 1000L`, and a filter on
  * the normalized column reaches the scan as a comparison on that
  * *expression* — which the parquet pushdown translator rejects (it pushes
  * bare attributes only), so a time-windowed query over a year of events
  * would read every row group.
  *
  * This rule rewrites, in the optimized plan's Filter conditions,
  *
  *   unix_micros(ts) * 1000 cmp <long literal>
  *
  * into the equivalent comparison on the raw timestamp attribute with a
  * timestamp literal (exact integer arithmetic: stored micros `m` satisfy
  * `m*1000 >= X` iff `m >= ceil(X/1000)`, etc.), which pushes to parquet
  * as row-group min/max pruning. A `Cast(ntz, timestamp)` around the
  * attribute is stripped when the cast is the identity on the stored value
  * (UTC session — Graft pins spark.sql.session.timeZone=UTC everywhere).
  *
  * Runs as a user-provided optimizer batch (after PushDownPredicates has
  * substituted the projection alias into the Filter), installed
  * idempotently by `Tables.load` and via `GraftExtensions`.
  */
object TsPushdown extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val rewritten = cond.transform { case cmp: BinaryComparison => rewrite(cmp) }
      if (rewritten.fastEquals(cond)) f else f.copy(condition = rewritten)
  }

  /** The raw timestamp attribute inside the normalization expression, or
    * None if `e` is not `unix_micros(ts) * 1000` over a pushable column.
    */
  private def normalizedTs(e: Expression): Option[Attribute] = e match {
    case Multiply(UnixMicros(inner), Literal(1000L, LongType), _) => rawTsAttr(inner)
    case Multiply(Literal(1000L, LongType), UnixMicros(inner), _) => rawTsAttr(inner)
    case _ => None
  }

  private def rawTsAttr(e: Expression): Option[Attribute] = e match {
    case a: Attribute if a.dataType == TimestampType => Some(a)
    // NTZ->TZ cast is the identity on the stored micros only when the cast
    // zone is UTC; with any other zone the rewrite would shift the bound.
    case c @ Cast(a: Attribute, TimestampType, _, _) if a.dataType == TimestampNTZType &&
        c.timeZoneId.exists(z => z == "UTC" || z == "Etc/UTC" || z == "Z" || z == "+00:00") =>
      Some(a)
    case _ => None
  }

  // both timestamp types store micros-since-epoch longs internally
  private def tsLit(a: Attribute, micros: Long): Literal = Literal(micros, a.dataType)

  // m*1000 >= X  iff  m >= ceil(X/1000); m*1000 > X iff m > floor(X/1000);
  // m*1000 <= X iff m <= floor(X/1000); m*1000 < X iff m < ceil(X/1000).
  private def floorDiv(x: Long): Option[Long] = Some(Math.floorDiv(x, 1000L))
  private def ceilDiv(x: Long): Option[Long] =
    if (x > Long.MaxValue - 999L) None else Some(Math.floorDiv(x + 999L, 1000L))

  private def rewrite(cmp: BinaryComparison): Expression = {
    val direct = (normalizedTs(cmp.left), cmp.right) match {
      case (Some(a), Literal(x: Long, LongType)) => Some((a, x, false))
      case _ => (normalizedTs(cmp.right), cmp.left) match {
        case (Some(a), Literal(x: Long, LongType)) => Some((a, x, true)) // literal on left
        case _ => None
      }
    }
    direct.flatMap { case (a, x, flipped) =>
      // normalize to <norm cmp literal> form: `lit cmp norm` is `norm cmp' lit`
      val op: (Long => Option[Long], (Expression, Expression) => Expression) =
        (cmp, flipped) match {
          case (_: GreaterThanOrEqual, false) | (_: LessThanOrEqual, true) =>
            (ceilDiv, GreaterThanOrEqual(_, _))
          case (_: GreaterThan, false) | (_: LessThan, true) =>
            (floorDiv, GreaterThan(_, _))
          case (_: LessThanOrEqual, false) | (_: GreaterThanOrEqual, true) =>
            (floorDiv, LessThanOrEqual(_, _))
          case (_: LessThan, false) | (_: GreaterThan, true) =>
            (ceilDiv, LessThan(_, _))
          case (_: EqualTo, _) =>
            // only exact multiples of 1000ns can equal a stored micro value
            (x => if (x % 1000L == 0L) Some(x / 1000L) else None, EqualTo(_, _))
          case _ => (_ => None, EqualTo(_, _)) // EqualNullSafe etc: leave as-is
        }
      op._1(x).map(m => op._2(a, tsLit(a, m)))
    }.getOrElse(cmp)
  }

  /** Install into an existing session's experimental optimizer batch
    * (idempotent; `Tables.load` calls this so every Graft session gets the
    * rewrite without builder configuration).
    */
  def install(spark: SparkSession): Unit = NativeExpressions.addOptimizerRule(spark, TsPushdown)
}
