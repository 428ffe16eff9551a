package graft.streaming

import graft.active.{EcaLoop, RuleStore, SnowflakeId}
import graft.compile.RuleCompiler
import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The end-to-end continuous-query engine: streaming ingest → rule fan-out
  * → windowed evaluation → HAVING → alerts → ECA rule spawning (SURVEY §3
  * lifecycle, re-expressed on Structured Streaming).
  *
  * Two evaluation paths, chosen per rule exactly as the reference's mode
  * dispatch does (`DynamicQueryFunction.java:91-147`):
  *
  *  - per-event emission (`frequency == 0`, W1): [[SlidingStateExec]]
  *    (flatMapGroupsWithState) — one alert per input event;
  *  - periodic (W2/W3): native `groupBy(window(...))` with a watermark for
  *    state eviction (W5/W8) — see [[windowedQuery]].
  *
  * The ECA feedback loop (C4) runs in `foreachBatch`: firing alerts are
  * expanded against their parent's templates and merged into the
  * [[RuleStore]]. NOTE: this engine compiles the rule snapshot taken at
  * plan time into a single static `flatMapGroupsWithState` plan — the
  * fast path for a FIXED rule set (no per-batch re-plan, full Tungsten
  * state store). Spawned/merged rules do NOT join a running query here;
  * deployments that need the loop closed live use
  * [[DynamicActiveEngine]], which re-snapshots the store every
  * micro-batch.
  */
final class ActiveEngine(
    val store: RuleStore = new RuleStore,
    val ids: SnowflakeId = new SnowflakeId(0, 0)) {

  @volatile private var alertSink: Seq[Alert] => Unit = _ => ()
  /** Register a callback for *fired* alerts (HAVING passed) per batch. */
  def onAlerts(f: Seq[Alert] => Unit): this.type = { alertSink = f; this }

  /** Build the W1 streaming pipeline over `events` for the per-event rules
    * currently in the store. Returns the writer; caller starts it (tests
    * use `.format("memory")` via their own sink, production appends to a
    * table). */
  /** @param stateTimeout pass `ProcessingTimeTimeout` for long-running
    *   queries (idle-key GC; requires a real trigger interval and is
    *   incompatible with `AvailableNow`/`processAllAvailable`, which
    *   would re-trigger forever); default `NoTimeout` for bounded runs. */
  def perEventWriter(events: DataFrame, tsCol: String = "ts",
      stateTimeout: org.apache.spark.sql.streaming.GroupStateTimeout =
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
      : DataStreamWriter[Alert] = {
    val rules = store.snapshot().filter(_.isPerEventEmission)
    val rulesById = rules.flatMap(r => r.queryId.map(_ -> r)).toMap
    val alerts = SlidingStateExec.run(FanOut.auto(events, rules, tsCol), rulesById,
      stateTimeout)
    alerts.writeStream
      .outputMode("append")
      // processing-time timeouts re-trigger empty batches; a real trigger
      // interval stops the default as-fast-as-possible busy loop
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: Dataset[Alert], _: Long) =>
        // collect only what the ECA step consumes — the fired alerts,
        // capped so an alert storm cannot OOM the control plane (ECA
        // dedups per (rule, key) anyway)
        handleAlerts(rulesById, FiredAlerts.collect(batch, 10000))
        ()
      }
  }

  /** ECA step shared by streaming and batch drivers: parse each firing
    * alert's payload back to field map, expand templates, merge spawns. */
  def handleAlerts(parents: Map[Long, Rule], alerts: Seq[Alert]): Int = {
    alertSink(alerts)
    val withFields = alerts.map { a =>
      (a, PayloadCodec.fields(a.payload))
    }
    EcaLoop.processAlerts(parents, withFields, store, ids)
  }

  /** W2/W3 as a continuous query: native sliding window + watermark. The
    * watermark bound is the rule's own window (the reference evicts at the
    * widest live window, `DynamicQueryFunction.java:243-251` — per-rule
    * bounds are strictly tighter). Emits finalized windows (append mode).
    */
  def windowedQuery(events: DataFrame, rule: Rule, tsCol: String = "ts"): DataFrame = {
    val w = rule.windowMilliseconds.getOrElse(
      throw new IllegalArgumentException("windowedQuery needs a windowed rule"))
    val slide = rule.frequencyMilliseconds.filter(f => f > 0 && f <= w).getOrElse(w)
    val plan = RuleCompiler.aggPlan(rule)
    val keys = RuleCompiler.groupColumns(rule)
    events
      .filter(RuleCompiler.filterColumn(rule, Some(events.schema)))
      .withWatermark(tsCol, s"$w milliseconds")
      .groupBy(window(col(tsCol), s"$w milliseconds", s"$slide milliseconds") +: keys: _*)
      .agg(plan.aggExprs.head, plan.aggExprs.tail: _*)
      .withColumn("w_start", unix_timestamp(col("window.start").cast("timestamp")))
      .select((rule.groupingKeyNames.map(col) :+ col("w_start")) :+ plan.finalExpr: _*)
      .filter(RuleCompiler.havingColumn(rule))
  }

  /** Session windows as a continuous query — the streaming face of the
    * batch q38 (beyond the reference's fixed/sliding windows). Native
    * `session_window` keeps per-key mergeable state; the watermark (= one
    * gap) finalizes a session once event time passes its close, so state
    * per key is bounded by the live session. Emits (keys..., session
    * start/end millis, n_events, exact-decimal sum) in append mode. */
  def sessionQuery(events: DataFrame, keyCols: Seq[String], gapMs: Long,
      aggCol: String, tsCol: String = "ts"): DataFrame = {
    val dec = col(aggCol).cast(RuleCompiler.RuleDecimal)
    events
      .withWatermark(tsCol, s"$gapMs milliseconds")
      .groupBy(keyCols.map(col) :+
        session_window(col(tsCol), s"$gapMs milliseconds"): _*)
      .agg(count(lit(1)).as("n_events"),
        sum(dec).cast(RuleCompiler.RuleDecimal).as("agg_value"))
      .select(keyCols.map(col) ++ Seq(
        unix_millis(col("session_window.start")).as("s_start"),
        unix_millis(col("session_window.end")).as("s_end"),
        col("n_events"), col("agg_value")): _*)
  }
}

/** Flat JSON object ↔ field map for alert payload round-trips. */
object PayloadCodec {
  import com.fasterxml.jackson.databind.ObjectMapper
  import scala.jdk.CollectionConverters._
  private val mapper = new ObjectMapper()
  def fields(json: String): Map[String, String] =
    if (json == null || json.isEmpty) Map.empty
    else {
      val node = mapper.readTree(json)
      node.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }
}
