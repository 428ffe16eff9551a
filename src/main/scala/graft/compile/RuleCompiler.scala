package graft.compile

import graft.model._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types
import org.apache.spark.sql.types.DecimalType

/** Compiles a [[graft.model.Rule]] into pure Catalyst `Column` expressions.
  *
  * This replaces the reference's per-event interpreted evaluation
  * (`operator/DynamicKeyFunction.java:69-94` for filters,
  * `rule/RuleHelper.java:20-34` for aggregates, `rule/Rule.java:57-74` for
  * the HAVING comparison) with *declarative* expressions, so Catalyst gets
  * predicate pushdown, column pruning and whole-stage codegen for free —
  * there is deliberately no interpreter and no UDF on this path.
  */
/** A compiled aggregate: partial aggregate expressions for `agg(...)` plus
  * the final projection producing the [[RuleCompiler.AggAlias]] column. */
final case class AggPlan(aggExprs: Seq[Column], finalExpr: Column)

object RuleCompiler {

  /** Exact-decimal type used for all rule arithmetic. The reference does all
    * comparison/aggregation math in `java.math.BigDecimal`
    * (`FieldsExtractor.java:26-30`, the `common.accumulators` classes); we
    * mirror that
    * with `DecimalType` so results are reproducible across partition orders
    * (a float sum would depend on reduction order at 1000 executors). */
  val RuleDecimal: DecimalType = DecimalType(38, 6)

  /** Wide intermediate used for filter comparison (20 integer digits). */
  val CompareDecimal: DecimalType = DecimalType(38, 18)

  /** Default alias of the aggregate output column. */
  val AggAlias = "agg_value"

  /** One WHERE predicate. Mixed typing preserved from the reference
    * (`DynamicKeyFunction.java:74-89`): `=` is *string* equality (so
    * `carId = "00270"` respects leading zeros); every other operator
    * compares numerically after a string round-trip.
    *
    * Scan-pruning fast path: the generic numeric compare casts the column
    * to decimal, which parquet cannot push down — at warehouse scale that
    * forfeits row-group pruning on every rule filter. When the schema is
    * known, the column is already numeric, and the literal is *exactly*
    * representable in the column's type (integral for int/long; shortest
    * decimal↔double round-trip for float/double), a native-type
    * comparison is value-identical to the decimal comparison and reaches
    * the scan as a pushed filter (verified in `.explain`: `PushedFilters:
    * [GreaterThan(value,50.0)]`). Otherwise the exact decimal path runs. */
  def filterPredicate(f: FilterSpec, schema: Option[types.StructType] = None): Column =
    f.operator match {
      case CompareOp.Equal =>
        col(f.field).cast("string") === lit(f.value)
      case op =>
        val native: Option[Column] =
          schema.flatMap(_.fields.find(_.name == f.field)).flatMap { sf =>
            sf.dataType match {
              case types.IntegerType | types.LongType =>
                scala.util.Try(BigDecimal(f.value)).toOption
                  .filter(_.isValidLong).map(v => lit(v.toLong))
              case types.FloatType | types.DoubleType =>
                scala.util.Try(BigDecimal(f.value)).toOption
                  .filter(v => scala.util.Try(
                    BigDecimal(java.lang.Double.toString(v.toDouble)) == v)
                    .getOrElse(false))
                  .map(v => lit(v.toDouble))
              case _ => None
            }
          }
        val (l, r) = native match {
          case Some(litCol) => (col(f.field), litCol)
          case None =>
            (col(f.field).cast(CompareDecimal),
              lit(BigDecimal(f.value).bigDecimal).cast(CompareDecimal))
        }
        op match {
          case CompareOp.NotEqual     => l =!= r
          case CompareOp.Greater      => l > r
          case CompareOp.Less         => l < r
          case CompareOp.GreaterEqual => l >= r
          case CompareOp.LessEqual    => l <= r
          case CompareOp.Equal        => l === r // unreachable
        }
    }

  /** Conjunction of all of a rule's filters (AND fold; empty = true).
    * Pass the input schema to unlock the scan-pruning fast path. */
  def filterColumn(rule: Rule, schema: Option[types.StructType] = None): Column =
    rule.windowFilterRules.map(filterPredicate(_, schema))
      .reduceOption(_ && _).getOrElse(lit(true))

  /** GROUP BY columns. `$`-parameters must already be bound (ECA spawn). */
  def groupColumns(rule: Rule): Seq[Column] = {
    require(!rule.groupingKeyNames.exists(Rule.isParameter),
      s"unbound $$-parameter in grouping keys: ${rule.groupingKeyNames}")
    rule.groupingKeyNames.map(col)
  }

  /** The composite group-key *string* in the reference's exact format:
    * `{carId=270;lon=121.5}`, `{}` for the global group
    * (`operator/KeysExtractor.java:19-41`). Only needed when byte-identical
    * output keys matter; `groupBy(groupColumns)` is the idiomatic path. */
  def keyStringColumn(rule: Rule): Column =
    if (rule.groupingKeyNames.isEmpty) lit("{}")
    else concat(
      lit("{"),
      concat_ws(";", rule.groupingKeyNames.map(n =>
        concat(lit(n + "="), col(n).cast("string"))): _*),
      lit("}"))

  /** The aggregate plan (A1-A6), split into partial aggregate expressions
    * and a final projection so AVG can be computed *exactly*.
    *
    * COUNT arrives via the field sentinels
    * (`DynamicQueryFunction.java:36-37,285-289`). SUM/MIN/MAX/COUNT are
    * plain exact-decimal aggregates. AVG mirrors the reference's BigDecimal
    * accumulator (`common/accumulators/AverageAccumulator.java:40-53`) but
    * with a *defined* rounding: ROUND_HALF_UP at scale 6, computed with
    * integer micro-unit arithmetic ([[avgColumn]]) so the result is
    * bit-identical regardless of partition order or engine — a floating
    * or engine-defined decimal division would not be. */
  def aggPlan(rule: Rule): AggPlan = {
    def aggField: String = rule.aggregateFieldName.getOrElse(
      throw new IllegalArgumentException(s"rule ${rule.queryId} has no aggregateFieldName"))
    if (rule.isCount)
      AggPlan(Seq(count(lit(1)).cast(RuleDecimal).as(AggAlias)), col(AggAlias))
    else {
      val c = col(aggField).cast(RuleDecimal)
      rule.aggregatorFunctionType.getOrElse(
          throw new IllegalArgumentException(s"rule ${rule.queryId} has no aggregatorFunctionType")) match {
        case AggregatorType.Sum =>
          AggPlan(Seq(sum(c).cast(RuleDecimal).as(AggAlias)), col(AggAlias))
        case AggregatorType.Min =>
          AggPlan(Seq(min(c).cast(RuleDecimal).as(AggAlias)), col(AggAlias))
        case AggregatorType.Max =>
          AggPlan(Seq(max(c).cast(RuleDecimal).as(AggAlias)), col(AggAlias))
        case AggregatorType.Avg =>
          AggPlan(
            Seq(
              sum((c * lit(1000000)).cast("long")).as("__sum_micro"),
              count(c).as("__cnt")),
            avgColumn(col("__sum_micro"), col("__cnt")).as(AggAlias))
      }
    }
  }

  /** AVG in micro-units: `sumMicro / n` rounded ROUND_HALF_UP (half away
    * from zero), exact for either sign. `(2·s + n) div (2·n)` alone is
    * HALF_UP only for `s ≥ 0`: integer division truncates toward zero,
    * which rounds a negative mean one micro-unit high (−1.2 → 0, −1.5 →
    * −1). So the magnitude is rounded and the sign put back. This is
    * the one AVG rounding rule of the batch, per-event and periodic
    * paths; [[avgColumn]] is its Column form. */
  def avgMicro(sumMicro: Long, n: Long): Long = {
    val q = (2 * math.abs(sumMicro) + n) / (2 * n)
    if (sumMicro < 0) -q else q
  }

  /** [[avgMicro]] over a micro-unit sum column and a count column, as a
    * [[RuleDecimal]]; null when the count is 0 (no values — ANSI `div`
    * checks its divisor before its null dividend, so this must be guarded).
    * The scale-6 value is an exact decimal division of the rounded
    * micro-units (a double `/ 1e6` is exact only below ~1e15 micro-units). */
  def avgColumn(sumMicro: Column, n: Column): Column = {
    val q = call_function("div", abs(sumMicro) * 2 + n, n * 2)
    when(n > 0, (when(sumMicro < 0, -q).otherwise(q).cast(DecimalType(19, 0)) /
      lit(java.math.BigDecimal.valueOf(1000000L))).cast(RuleDecimal))
  }

  /** HAVING predicate over the aggregate alias (A8). */
  def havingColumn(rule: Rule, aggName: String = AggAlias): Column =
    (rule.limitOperatorType, rule.limit) match {
      case (Some(op), Some(limit)) =>
        val l = col(aggName)
        val r = lit(limit.bigDecimal).cast(RuleDecimal)
        op match {
          case CompareOp.Equal        => l === r
          case CompareOp.NotEqual     => l =!= r
          case CompareOp.Greater      => l > r
          case CompareOp.Less         => l < r
          case CompareOp.GreaterEqual => l >= r
          case CompareOp.LessEqual    => l <= r
        }
      case _ => lit(true)
    }
}
