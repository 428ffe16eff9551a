package graft

import graft.compile.RuleCompiler
import graft.model._
import graft.streaming.DynamicActiveEngine
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** AVG is ROUND_HALF_UP at scale 6 for either sign, on every path that
  * computes it: the batch aggregate (`RuleCompiler.aggPlan`), the
  * per-event window (`SlidingStateExec.merge`, here through the dynamic
  * engine's W1 replay) and the periodic window (the dynamic engine's
  * W2/W3 pass). The reference is `BigDecimal.divide(n, 6, HALF_UP)` over
  * the exact sum. */
class AvgRoundingPropSpec extends SparkSpec {
  import spark.implicits._

  /** Micro-units: small values make exact half ties frequent, large ones
    * exercise magnitude; both signs. */
  private val micro: Gen[Long] = Gen.frequency(
    3 -> Gen.choose(-40L, 40L),
    1 -> Gen.choose(-5000000000L, 5000000000L))
  /** Twelve groups (= keys) of 1-10 values each. */
  private val groups: Gen[List[List[Long]]] =
    Gen.listOfN(12, Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, micro)))

  private def halfUp(vs: Seq[Long]): BigDecimal = BigDecimal(
    JBigDecimal.valueOf(vs.sum, 6).divide(JBigDecimal.valueOf(vs.size.toLong), 6,
      RoundingMode.HALF_UP))

  private def holds(trials: Int)(p: List[List[Long]] => Boolean): Unit = {
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(trials).withInitialSeed(Seed(20261018L)),
      Prop.forAll(groups)(p))
    assert(res.passed, res.status.toString)
  }

  private def events(gs: List[List[Long]], base: Long) =
    gs.zipWithIndex.flatMap { case (vs, k) =>
      vs.zipWithIndex.map { case (v, i) =>
        (k, new java.sql.Timestamp(base + i), JBigDecimal.valueOf(v, 6))
      }
    }

  private def avgRule(id: Long, frequency: Option[Long]) = Rule(
    queryId = Some(id),
    groupingKeyNames = Seq("carId"),
    aggregateFieldName = Some("speed"),
    aggregatorFunctionType = Some(AggregatorType.Avg),
    windowMilliseconds = Some(10000L),
    frequencyMilliseconds = frequency)

  test("avgMicro rounds half away from zero, for both signs") {
    assert(RuleCompiler.avgMicro(-12, 10) == -1)  // -1.2 -> -1 (was 0)
    assert(RuleCompiler.avgMicro(-15, 10) == -2)  // -1.5 -> -2 (was -1)
    assert(RuleCompiler.avgMicro(15, 10) == 2)
    assert(RuleCompiler.avgMicro(-14, 10) == -1)
    holds(2000)(gs => gs.forall(vs =>
      BigDecimal(RuleCompiler.avgMicro(vs.sum, vs.size.toLong), 6) == halfUp(vs)))
  }

  test("batch path: aggPlan AVG equals BigDecimal HALF_UP over mixed signs") {
    val rule = avgRule(1L, None)
    val plan = RuleCompiler.aggPlan(rule)
    holds(8) { gs =>
      val got = events(gs, 1700000000000L).toDF("carId", "ts", "speed")
        .groupBy(col("carId"))
        .agg(plan.aggExprs.head, plan.aggExprs.tail: _*)
        .select(col("carId"), plan.finalExpr.cast("string"))
        .as[(Int, String)].collect().toMap
      gs.indices.forall(k => BigDecimal(got(k)) == halfUp(gs(k)))
    }
  }

  test("batch path: a group with no values averages to null, not a divide-by-zero") {
    val plan = RuleCompiler.aggPlan(avgRule(4L, None))
    val got = Seq((1, Option.empty[JBigDecimal]), (2, Some(JBigDecimal.valueOf(-15L, 1))))
      .toDF("carId", "speed")
      .groupBy(col("carId"))
      .agg(plan.aggExprs.head, plan.aggExprs.tail: _*)
      .select(col("carId"), plan.finalExpr.cast("string"))
      .as[(Int, String)].collect().toMap
    assert(got == Map(1 -> null, 2 -> "-1.500000"))
  }

  test("per-event path: every event's trailing AVG equals BigDecimal HALF_UP") {
    holds(5) { gs =>
      val engine = new DynamicActiveEngine()
      engine.store.merge(avgRule(2L, Some(0L)))
      val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
      engine.onAlerts(as => fired.synchronized { fired ++= as })
      val base = 1700000000000L
      engine.processBatch(events(gs, base).toDF("carId", "ts", "speed"), "ts")
      val got = fired.synchronized(fired.toList)
        .map(a => ((a.key, a.tsMillis - base), BigDecimal(a.aggregate))).toMap
      got.size == gs.map(_.size).sum && gs.zipWithIndex.forall { case (vs, k) =>
        vs.indices.forall(i => got((s"{carId=$k}", i.toLong)) == halfUp(vs.take(i + 1)))
      }
    }
  }

  test("periodic path: each closed window's AVG equals BigDecimal HALF_UP") {
    holds(5) { gs =>
      val engine = new DynamicActiveEngine()
      engine.store.merge(avgRule(3L, None)) // tumbling 10 s
      val fired = scala.collection.mutable.ArrayBuffer.empty[Alert]
      engine.onAlerts(as => fired.synchronized { fired ++= as })
      val base = 1700000000000L // on the 10 s grid
      // a later event of another car closes every group's window
      val closer = (999, new java.sql.Timestamp(base + 20000L), JBigDecimal.ONE)
      engine.processBatch((events(gs, base) :+ closer).toDF("carId", "ts", "speed"), "ts")
      val got = fired.synchronized(fired.toList)
        .map(a => a.key -> BigDecimal(a.aggregate)).toMap
      got.size == gs.size &&
        gs.zipWithIndex.forall { case (vs, k) => got(s"{carId=$k}") == halfUp(vs) }
    }
  }
}
