package graft.streaming

import graft.active.{EcaLoop, RuleStore, SnowflakeId}
import graft.compile.RuleCompiler
import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The full-fidelity continuous engine: every micro-batch re-reads the
  * rule store, so rules added, deleted, re-triggered or ECA-spawned
  * between triggers take effect at the next batch — the Spark-native
  * equivalent of the reference's broadcast rule stream connected to the
  * event stream (`DynamicKeyFunction.java:108-144` processBroadcastElement,
  * broadcast wiring at `App.java:58`). This closes the ECA loop inside one
  * run: a parent rule's firing alert spawns a child into the [[RuleStore]],
  * and the child evaluates events from the next micro-batch on (one
  * trigger of loop latency — the reference pays a Kafka round trip).
  *
  * Design: state-as-table, rules-as-data-per-batch. `foreachBatch`
  * re-plans against a fresh `store.snapshot()` and keeps a bounded *tail*
  * of fanned-out events (everything still inside some live rule's window)
  * instead of opaque operator state:
  *
  *  - fan-out (D1-D3): the new batch is fanned out under the CURRENT
  *    snapshot via [[FanOut.keyed]] — compiled Columns rebuilt per batch,
  *    so a rule change is a re-plan, not a restart. Events that arrive
  *    while no rule wants them are never keyed or retained (exactly the
  *    reference: `DynamicKeyFunction` forwards per live rule only);
  *  - per-event rules (W1): tail ∪ fresh, grouped by (rule, key); each
  *    fresh event's trailing `[t-w, t]` aggregate is rebuilt with the
  *    same micro-unit bucket arithmetic as [[SlidingStateExec]]. The
  *    tail bounds the replay, so per-batch work is O(tail + batch) per
  *    key and state for a spawned rule starts empty at spawn time
  *    (reference semantics: a new rule sees only events after it
  *    reached the operator);
  *  - periodic rules (W2/W3): aligned windows whose *end* fell inside
  *    `(prevMax, curMax]` event time are finalized and emitted once —
  *    the event-time-watermark rendering of the reference's emission
  *    timers (`DynamicQueryFunction.java:118-147`). ECA `$`-parameters
  *    for periodic alerts bind from the group key (a window has no
  *    single triggering event);
  *  - W4 passthrough: one alert per fresh matching event — stateless,
  *    so it takes only the rows marked `fresh` (this batch's events);
  *  - eviction (W5, P5): the tail keeps only events within
  *    window(+slide) of the max seen event time, per rule — so a deleted
  *    rule's state is dropped with it (reference guard
  *    `DynamicQueryFunction.java:85-88`);
  *  - CLEAR_STATE_ALL (C7): drops the whole tail before evaluation
  *    (reference `DynamicQueryFunction.java:339-341`
  *    applyToKeyedState(clear)); already-emitted windows stay emitted,
  *    subsequent aggregates start empty;
  *  - alert storm safety: at most `maxFiredPerBatch` fired alerts are
  *    collected for the ECA step per batch (the driver is a control
  *    plane, not a data plane), in one Spark job that caps each partition
  *    and truncates on the driver — so the driver holds at most
  *    partitions × `maxFiredPerBatch` alerts at once.
  *
  * Per-trigger cost is flat in the age of the stream. Each trigger
  * builds ONE rule table (`ruleTable`: rule id, kind, retention horizon,
  * curMax, periodic shape, aggregate, HAVING and emit bounds — all as
  * broadcast data, so the generated classes stay the same trigger over
  * trigger), joins it once to tail ∪ fresh, and `localCheckpoint()`s the
  * result coalesced to `spark.sql.shuffle.partitions`. Every consumer —
  * W1, each W2/W3 window shape, W4 — filters those checkpointed rows by
  * `kind`; the new tail is their horizon filter. Joining the table per
  * branch instead would not share one broadcast: Catalyst pushes each
  * branch's `kind` filter and column pruning into the driver-local
  * table, so every branch broadcasts its own copy, one Spark job each.
  * The partition bound matters as much: the compiled fan-out has
  * rules × source partitions, and a union carries every partition
  * forward, so an uncoalesced tail grew by that many on every trigger
  * and every job over it ran one task per partition.
  *
  * The tail is an ordinary DataFrame over block-store-backed rows
  * (lineage truncated), and with `checkpointDir` set it is also persisted
  * durably — at most `spark.sql.shuffle.partitions` parquet files
  * ([[saveCheckpoint]]/[[restoreCheckpoint]] + [[RuleStore.save]]) — so a
  * restarted driver resumes with full window state; the reference gets
  * the same from Flink checkpointing.
  * [[ActiveEngine]] remains the
  * static-rule fast path (single compiled `flatMapGroupsWithState` plan,
  * no per-batch re-plan) for deployments whose rule set is fixed.
  */
final class DynamicActiveEngine(
    val store: RuleStore = new RuleStore,
    val ids: SnowflakeId = new SnowflakeId(0, 0),
    val maxFiredPerBatch: Int = 10000,
    /** When set, every batch persists the cross-batch state (tail +
      * event-time counters) under this directory — the durable form of
      * the `localCheckpoint` tail, making the engine driver-restart
      * recoverable (see [[saveCheckpoint]]). */
    val checkpointDir: Option[String] = None) {

  @volatile private var alertSink: Seq[Alert] => Unit = _ => ()
  /** Register a callback for *fired* alerts (HAVING passed) per batch.
    * Delivery happens OUTSIDE the engine monitor (a slow or blocking
    * sink cannot wedge micro-batch progress or the finalizer), which
    * also means the batch path and a finalizer tick may each invoke the
    * sink concurrently — implementations must be thread-safe. */
  def onAlerts(f: Seq[Alert] => Unit): this.type = { alertSink = f; this }

  /** Count of wall-clock finalizer ticks that failed (compute OR
    * delivery) — the observable form of the ticker's catch, so an
    * operator can alarm on silent periodic-emission loss instead of
    * watching stderr. */
  val tickFailures = new java.util.concurrent.atomic.AtomicLong(0)

  // Cross-batch state: driver-held handles, data lives on executors.
  @volatile private var tail: Option[DataFrame] = None
  /** Partitions of the retained tail (0 before the first batch). */
  private[graft] def tailPartitions: Int = tail.fold(0)(_.rdd.getNumPartitions)
  @volatile private var maxSeenTs: Long = Long.MinValue
  @volatile private var emittedThrough: Long = Long.MinValue

  def writer(events: DataFrame, tsCol: String = "ts"): DataStreamWriter[Row] =
    events.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        processBatch(batch.toDF(), tsCol)
      }

  /** One micro-batch of the loop; also the batch-replay entry (tests drive
    * it directly). Compute and state advance are synchronized with
    * [[finalizeThrough]]: both advance the emit-once horizon, and the
    * wall-clock finalizer runs on its own thread — serializing them is
    * what keeps "a window never fires twice" true under concurrency
    * (batches are already serial per query). Sink/ECA delivery happens
    * AFTER the monitor is released (see [[onAlerts]]). */
  private[graft] def processBatch(batch: DataFrame, tsCol: String = "ts"): Unit = {
    val (delivery, ckpt) = synchronized { processBatchLocked(batch, tsCol) }
    delivery.foreach { case (fired, rulesById) => deliver(fired, rulesById) }
    // At-least-once on the fault-tolerant batch path: the checkpoint
    // (which persists the advanced emit-once horizon) is written only
    // AFTER sink/ECA delivery succeeded. A crash mid-delivery leaves the
    // previous checkpoint's horizon on disk, so restoreCheckpoint
    // re-emits this batch's alerts (duplicate delivery on recovery, the
    // fail-stop trade) instead of silently losing them — the state
    // values written are the locked section's snapshot, so a concurrent
    // finalizer tick cannot smuggle ITS un-delivered horizon into this
    // batch's checkpoint.
    ckpt()
  }

  private val noCkpt: () => Unit = () => ()

  private def processBatchLocked(batch: DataFrame,
      tsCol: String): (Option[(Seq[Alert], Map[Long, Rule])], () => Unit) = {
    if (store.consumeStateClear()) {
      tail.foreach(_.unpersist(false))
      tail = None
    }
    val rules = store.snapshot()
    if (rules.isEmpty) return (None, noCkpt)
    import DynamicActiveEngine.timed
    DynamicActiveEngine.batches.incrementAndGet()
    val spark = batch.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions

    // Persist the FRESH (fanned-out batch) side: the curMax scan and the
    // checkpoint below both read it, and the batch is evaluated once.
    // Coalesced first: the compiled fan-out is a union of one branch per
    // rule, rules × source partitions, and whatever is built from it
    // inherits every one of them.
    val freshC = timed(DynamicActiveEngine.fanoutNanos) {
      FanOut.auto(batch, rules, tsCol).toDF()
        .withColumn("fresh", lit(true))
        .coalesce(parts)
        .persist()
    }
    val (rows, curMax) =
      try {
        // curMax = max(fresh max, maxSeenTs): every tail row's tsMillis is
        // ≤ the maxSeenTs of the batch that retained it, so this scans
        // O(batch), never the tail — as one job (a global agg is a shuffle
        // stage plus a result stage)
        val freshMax = timed(DynamicActiveEngine.maxAggNanos) {
          freshC.select(col("tsMillis")).as[Long](Encoders.scalaLong)
            .mapPartitions(it => if (it.hasNext) Iterator(it.max) else Iterator.empty)(
              Encoders.scalaLong)
            .collect().maxOption
        }
        if (freshMax.isEmpty && maxSeenTs == Long.MinValue) return (None, noCkpt)
        val curMax = freshMax.fold(maxSeenTs)(math.max(_, maxSeenTs))
        // tail ∪ fresh, each row tagged with its rule's row of the rule
        // table, checkpointed: every consumer (W1, W2/W3, W4, the next
        // tail) reads these blocks, so the table is broadcast once per
        // trigger. An inner join, so a dropped rule's rows (= its state)
        // vanish with it; coalesced, so the partition count stays flat
        // however long the stream has run.
        val rows = timed(DynamicActiveEngine.tailNanos) {
          tail.fold(freshC)(_.withColumn("fresh", lit(false)).unionByName(freshC))
            .join(broadcast(ruleTable(spark, rules, curMax, emittedThrough, curMax)), "ruleId")
            .coalesce(parts)
            .localCheckpoint(true)
        }
        (rows, curMax)
      } finally freshC.unpersist(false)

    val tPlan0 = System.nanoTime()
    val rulesById = rules.flatMap(r => r.queryId.map(_ -> r)).toMap
    // W4: raw passthrough — one alert per fresh matching event, no state
    // (reference `DynamicQueryFunction.java:93-116`)
    val passthroughAlerts: Option[DataFrame] =
      if (!rules.exists(_.isPassthrough)) None
      else Some(rows
        .filter(col("kind") === RuleKind.Passthrough && col("fresh"))
        .select(col("ruleId"), col("key"), col("tsMillis"),
          col("aggIn").as("aggregate"), lit(true).as("passed"), col("payload")))
    val perEventAlerts: Option[Dataset[Alert]] =
      if (!rules.exists(r => r.isPerEventEmission && !r.isPassthrough)) None
      else Some(evalPerEvent(rows.filter(col("kind") === RuleKind.PerEvent), rulesById))
    val periodicAlerts = evalPeriodicGroups(rows, rules)

    implicit val alertEnc = Encoders.product[Alert]
    val alerts: Option[Dataset[Alert]] =
      (perEventAlerts.toSeq ++
        (passthroughAlerts.toSeq ++ periodicAlerts.toSeq).map(_.as[Alert]))
        .reduceOption(_ unionByName _)
    DynamicActiveEngine.planNanos.addAndGet(System.nanoTime() - tPlan0)
    // collect (a Spark action) under the monitor — emit-once depends on
    // the horizon and the collected set advancing together; the sink and
    // ECA spawn run after the monitor is released
    val fired = timed(DynamicActiveEngine.collectNanos) {
      alerts.map(FiredAlerts.collect(_, maxFiredPerBatch)).getOrElse(Seq.empty)
    }

    emittedThrough = math.max(emittedThrough, curMax)
    maxSeenTs = curMax
    // The new tail: each rule keeps the rows within its retention horizon
    // `hz` of curMax. A filter over the checkpointed rows, not a copy —
    // the next trigger's checkpoint reads it, so the plan never grows.
    tail = Some(rows
      .filter(col("tsMillis") >= col("curMax") - col("hz"))
      .select("ruleId", "key", "tsMillis", "aggIn", "payload"))
    // snapshot the post-batch state under the monitor; the WRITE runs
    // after delivery (see processBatch) so a crash mid-delivery keeps the
    // pre-batch checkpoint and recovery re-emits, never loses
    val (ckptTail, ckptMax, ckptEmitted) = (tail, maxSeenTs, emittedThrough)
    val ckpt: () => Unit = () =>
      checkpointDir.foreach(writeCheckpoint(spark, _, ckptTail, ckptMax, ckptEmitted))
    (if (fired.nonEmpty) Some((fired, rulesById)) else None, ckpt)
  }

  /** W2/W3 under a STALLED source: finalize periodic windows whose end
    * fell in `(emittedThrough, horizonMs]` using the retained tail alone —
    * no new events required. This is the engine's rendering of the
    * reference's processing-time emission timer
    * (`DynamicQueryFunction.java:118-147`): drive it from any clock (a
    * scheduled driver thread, an orchestrator tick) with
    * `engine.finalizeThrough(System.currentTimeMillis() - allowedLateness)`
    * and a window whose source went quiet still emits. Event-time
    * emission in [[processBatch]] stays the primary path — this advances
    * the same emit-once horizon, so a window never fires twice.
    *
    * Failure semantics: window results are COLLECTED first and the
    * horizon advances only after a successful collect — a transient
    * compute failure leaves the horizon untouched, so the next tick
    * retries the same windows. Once the horizon has advanced, a
    * sink/ECA delivery failure is emit-once loss (counted in
    * [[tickFailures]]), never a re-fire.
    *
    * Runaway-clock safety: the horizon is clamped to
    * `maxSeenTs + max(window + slide)` over the live periodic rules.
    * Every window that can still hold tail data ends at or before that
    * bound, so nothing emittable is delayed — but a wall clock racing
    * far ahead of event time (ingest lag, historical replay against the
    * default `System.currentTimeMillis` clock) can no longer advance
    * the emit-once horizon past event time and mass-suppress emission
    * once the source resumes. */
  def finalizeThrough(horizonMs: Long): Unit = {
    val delivery = synchronized {
      // Never declare finality before the FIRST event: a ticker started
      // against a source that has not delivered yet (slow start, replay
      // about to feed historical event times) must not advance the
      // horizon past windows whose events are still on their way — the
      // reference's timers only exist per stateful key, so a key with no
      // state has nothing to fire (DynamicQueryFunction.java:118-147).
      // Once events HAVE been seen, advancing within the clamp over an
      // expired/empty tail is ordinary watermark passage.
      if (maxSeenTs == Long.MinValue) None
      else {
        val rules = store.snapshot()
        val periodic = rules.filter(r => !r.isPerEventEmission && !r.isPassthrough)
        if (periodic.isEmpty) None
        else {
          val maxHz = periodic
            .map(r => r.windowMilliseconds.get + slideOf(r)).max
          val horizon = math.min(horizonMs, maxSeenTs + maxHz)
          if (horizon <= emittedThrough) None
          else {
            val fired = tail match {
              case Some(t) =>
                implicit val alertEnc = Encoders.product[Alert]
                val spark = t.sparkSession
                val rows = t.withColumn("fresh", lit(false)).join(broadcast(
                  ruleTable(spark, periodic, maxSeenTs, emittedThrough, horizon)), "ruleId")
                evalPeriodicGroups(rows, periodic)
                  .map(df => FiredAlerts.collect(df.as[Alert], maxFiredPerBatch))
                  .getOrElse(Seq.empty)
              case None => Seq.empty
            }
            // collect succeeded — advance the emit-once horizon now
            emittedThrough = horizon
            if (fired.isEmpty) None
            else Some((fired, rules.flatMap(r => r.queryId.map(_ -> r)).toMap))
          }
        }
      }
    }
    delivery.foreach { case (fired, rulesById) => deliver(fired, rulesById) }
  }

  /** The reference's processing-time emission timer as an opt-in driver
    * thread (`DynamicQueryFunction.java:118-147` registers one per key;
    * one engine-level ticker is the driver-side equivalent): every
    * `periodMs` it finalizes periodic windows through
    * `clock() − allowedLatenessMs`, so a STALLED source still emits W2/W3
    * windows from the retained tail. `clock` is on the *event-time*
    * epoch — wall clock in live deployments where ingest tracks event
    * time (the reference's operating assumption), a test-controlled
    * clock in replay (where wall-clock emission would break determinism,
    * the reason event-time emission stays the default path). Returns a
    * handle; `close()` stops the ticker. */
  def startWallClockFinalizer(periodMs: Long, allowedLatenessMs: Long,
      clock: () => Long = () => System.currentTimeMillis()): AutoCloseable = {
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-wallclock-finalizer")
        t.setDaemon(true)
        t
      })
    ex.scheduleAtFixedRate(
      () => try finalizeThrough(clock() - allowedLatenessMs)
        catch { case e: Throwable =>
          // keep ticking (a throw would cancel the schedule). A compute
          // failure left the horizon untouched, so those windows retry
          // next tick; a delivery failure after the horizon advanced is
          // emit-once loss. Either way it is counted, not just printed.
          tickFailures.incrementAndGet()
          System.err.println(s"[graft] wall-clock finalizer tick failed: $e")
        },
      periodMs, periodMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    () => { ex.shutdownNow(); () }
  }

  /** The trigger's rule table: one row per live rule, built once per
    * trigger and joined once ([[processBatch]]), in place of a separate
    * driver-local frame per branch (rule-id filters, horizons, periodic
    * meta and bounds) — each such frame cost its own broadcast job. Every
    * per-trigger value rides as broadcast DATA, never as a literal:
    * spawned-rule ids are wall-clock snowflakes and curMax/lo/hi move
    * every trigger, and a literal would make the generated classes
    * textually new each trigger (a Janino compile plus a JIT warm-up),
    * where data is referenced and the classes stay the same.
    *
    * `hz` is the retention horizon (window + slide) and `curMax` the
    * trigger's max event time — a row is kept in the tail while
    * `tsMillis ≥ curMax − hz`. Periodic rules carry their window shape
    * (`win`, `slide`), aggregate and HAVING (`aggType`, `limitOp`,
    * `limitVal`) and the emit bounds: windows whose end falls in
    * `(lo, hi]` are final. */
  private def ruleTable(spark: org.apache.spark.sql.SparkSession, rules: Seq[Rule],
      curMax: Long, lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    rules.flatMap(r => r.queryId.map { id =>
      val hz = r.windowMilliseconds.getOrElse(0L) +
        r.frequencyMilliseconds.filter(_ > 0).getOrElse(0L)
      if (r.isPassthrough) RuleRow(id, RuleKind.Passthrough, hz, curMax)
      else if (r.isPerEventEmission) RuleRow(id, RuleKind.PerEvent, hz, curMax)
      else RuleRow(id, RuleKind.Periodic, hz, curMax,
        r.windowMilliseconds.get, slideOf(r),
        if (r.isCount) "COUNT" else r.aggregatorFunctionType.fold("SUM")(_.name),
        (r.limitOperatorType, r.limit) match {
          case (Some(op), Some(_)) => op.name
          case _                   => null
        },
        r.limit.map(_.bigDecimal.toPlainString).orNull, lo, hi)
    }).toDF()
  }

  /** Deliver to the sink and run the ECA spawn step — run OUTSIDE the
    * monitor so a blocking sink never wedges batch progress or the
    * finalizer ([[RuleStore]] is internally synchronized, so the spawn
    * merge is safe without the engine lock). */
  private def deliver(fired: Seq[Alert], rulesById: Map[Long, Rule]): Unit = {
    alertSink(fired)
    val withFields = fired.map(a => (a, bindFields(a)))
    EcaLoop.processAlerts(rulesById, withFields, store, ids)
  }

  /** W5/fault tolerance: persist the cross-batch state — the tail (as
    * parquet, an executor-parallel write) and the event-time counters (a
    * tiny driver manifest, written LAST so a torn save is detected by a
    * counter/tail mismatch never the other way round). Together with
    * [[RuleStore.save]] this is the reference's Flink checkpoint for the
    * dynamic engine: [[DynamicActiveEngine.restore]] resumes evaluation
    * with full window state after a driver restart. A cluster deployment
    * would target a transactional table (Delta/Iceberg) instead of a
    * parquet dir; the state being saved is identical. */
  def saveCheckpoint(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val (t, m, e) = synchronized { (tail, maxSeenTs, emittedThrough) }
    writeCheckpoint(spark, dir, t, m, e)
  }

  /** The write half of [[saveCheckpoint]], over an explicit state
    * snapshot — the batch path snapshots under the monitor but writes
    * after delivery (at-least-once), so the values must not be re-read
    * from the mutable fields at write time. */
  private def writeCheckpoint(spark: org.apache.spark.sql.SparkSession,
      dir: String, tailSnap: Option[DataFrame],
      maxSeen: Long, emitted: Long): Unit = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    tailSnap match {
      case Some(t) => t.write.mode("overwrite").parquet(s"$dir/tail")
      case None    => ()
    }
    java.nio.file.Files.writeString(d.resolve("engine_state.txt"),
      s"maxSeenTs=$maxSeen\nemittedThrough=$emitted\nhasTail=${tailSnap.nonEmpty}\n")
  }

  /** Restore state saved by [[saveCheckpoint]] into THIS engine (call
    * before attaching a stream). No-op if the directory holds no saved
    * manifest. */
  def restoreCheckpoint(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val manifest = java.nio.file.Paths.get(dir, "engine_state.txt")
    if (!java.nio.file.Files.exists(manifest)) return
    val kv = java.nio.file.Files.readAllLines(manifest).toArray(Array.empty[String])
      .iterator.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    maxSeenTs = kv.getOrElse("maxSeenTs", Long.MinValue.toString).toLong
    emittedThrough = kv.getOrElse("emittedThrough", Long.MinValue.toString).toLong
    tail =
      if (kv.get("hasTail").contains("true"))
        Some(spark.read.parquet(s"$dir/tail")
          .coalesce(spark.sessionState.conf.numShufflePartitions)
          .localCheckpoint(true))
      else None
  }

  /** W1 replay over tail ∪ fresh: identical bucket arithmetic to
    * [[SlidingStateExec]], emitting only for fresh (this-batch) events.
    * The rule map ships as a Spark broadcast — once per executor, not
    * once per task closure (at the reference's thousands-of-rules scale
    * the closure copy is per-task serialization on every batch). */
  private def evalPerEvent(keyed: DataFrame,
      rulesById: Map[Long, Rule]): Dataset[Alert] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    implicit val alertEnc = Encoders.product[Alert]
    val bcRules = spark.sparkContext.broadcast(rulesById)
    keyed.select("ruleId", "key", "tsMillis", "aggIn", "payload", "fresh")
      .as[(Long, String, Long, String, String, Boolean)]
      .groupByKey { case (rid, key, _, _, _, _) => (rid, key) }
      .flatMapGroups[Alert] { (group: (Long, String),
          it: Iterator[(Long, String, Long, String, String, Boolean)]) =>
        val (rid, key) = group
        bcRules.value.get(rid) match {
          case Some(rule) if rule.isPerEventEmission =>
            val w = rule.windowMilliseconds.getOrElse(0L)
            // deterministic replay order, as SlidingStateExec sorts batches
            val evs = it.toArray.sortBy { case (_, _, ts, _, p, _) => (ts, p) }
            val out = scala.collection.mutable.ArrayBuffer.empty[Alert]
            var buckets = Map.empty[Long, SlidingStateExec.Bucket]
            for ((_, _, ts, aggIn, payload, isFresh) <- evs) {
              buckets = SlidingStateExec.insert(buckets, ts, aggIn)
              buckets = buckets.filter { case (t, _) => t >= ts - w }
              if (isFresh) {
                val agg = SlidingStateExec.merge(rule, buckets, ts - w, ts)
                out += Alert(rid, key, ts, agg.toPlainString,
                  rule.applyLimit(BigDecimal(agg)), payload)
              }
            }
            out.iterator
          case _ => Iterator.empty
        }
      }
  }

  /** Effective slide of a periodic rule: its emission frequency when it
    * is a genuine sub-window period, else tumbling (= window). */
  private def slideOf(r: Rule): Long = {
    val w = r.windowMilliseconds.get
    r.frequencyMilliseconds.filter(f => f > 0 && f <= w).getOrElse(w)
  }

  /** W2/W3 over `rows` tagged with the rule table: one plan per distinct
    * (window, slide) — NOT per rule: with thousands of periodic rules a
    * per-rule union makes Catalyst analysis the per-batch bottleneck (same
    * scaling argument as FanOut.CompiledRuleLimit). None without periodic
    * rules. */
  private def evalPeriodicGroups(rows: DataFrame, rules: Seq[Rule]): Option[DataFrame] =
    rules.filter(r => !r.isPerEventEmission && !r.isPassthrough)
      .map(r => (r.windowMilliseconds.get, slideOf(r))).distinct
      .map { case (w, slide) => evalPeriodic(rows, w, slide) }
      .reduceOption(_ unionByName _)

  /** W2/W3: finalize aligned windows whose end fell in the rule table's
    * `(lo, hi]`, for every periodic rule of one (window, slide) shape —
    * one `groupBy(ruleId, key, window)` pass computes every aggregate
    * shape (count / sum / min / max / exact micro-unit avg) once, then
    * each rule's `aggType` picks its aggregate and its HAVING applies as a
    * codegen'd CASE. The rule-table columns are functions of `ruleId`, so
    * grouping by them too carries them past the aggregate without a second
    * join. Plan size is O(distinct window shapes), constant in rule
    * count. Emitted rows are HAVING-passed (the reference's periodic path
    * only outputs firing evaluations). */
  private def evalPeriodic(rows: DataFrame, w: Long, slide: Long): DataFrame = {
    val D = RuleCompiler.RuleDecimal
    // try_cast: COUNT-sentinel rules carry aggIn = "" (no value), which a
    // plain ANSI cast rejects; their rows must still count via __cnt_dec
    val dec = expr(s"try_cast(aggIn AS ${D.sql})")
    val agged = rows
      .filter(col("kind") === RuleKind.Periodic && col("win") === w && col("slide") === slide)
      .withColumn("__ts", timestamp_millis(col("tsMillis")))
      .groupBy(col("ruleId"), col("key"),
        window(col("__ts"), s"$w milliseconds", s"$slide milliseconds"),
        col("aggType"), col("limitOp"), col("limitVal"), col("lo"), col("hi"))
      .agg(
        count(lit(1)).cast(D).as("__cnt_dec"),
        sum(dec).cast(D).as("__sum"),
        min(dec).cast(D).as("__min"),
        max(dec).cast(D).as("__max"),
        // exact AVG partials: micro-unit integer sum, HALF_UP at the end
        // (same arithmetic as RuleCompiler.aggPlan's Avg plan)
        sum((dec * lit(1000000)).cast("long")).as("__sum_micro"),
        count(dec).as("__cnt"))
      .withColumn("__w_end", unix_millis(col("window.end")))
      .filter(col("__w_end") > col("lo") && col("__w_end") <= col("hi"))
    val avg = RuleCompiler.avgColumn(col("__sum_micro"), col("__cnt"))
    val aggVal = when(col("aggType") === "COUNT", col("__cnt_dec"))
      .when(col("aggType") === AggregatorType.Sum.name, col("__sum"))
      .when(col("aggType") === AggregatorType.Min.name, col("__min"))
      .when(col("aggType") === AggregatorType.Max.name, col("__max"))
      .otherwise(avg)
    val lim = col("limitVal").cast(D)
    val a = col(RuleCompiler.AggAlias)
    val passed = when(col("limitOp").isNull, lit(true))
      .when(col("limitOp") === CompareOp.Equal.name, a === lim)
      .when(col("limitOp") === CompareOp.NotEqual.name, a =!= lim)
      .when(col("limitOp") === CompareOp.Greater.name, a > lim)
      .when(col("limitOp") === CompareOp.Less.name, a < lim)
      .when(col("limitOp") === CompareOp.GreaterEqual.name, a >= lim)
      .otherwise(a <= lim)
    agged
      .withColumn(RuleCompiler.AggAlias, aggVal)
      .filter(passed)
      .select(
        col("ruleId"),
        col("key"),
        unix_millis(col("window.start")).as("tsMillis"),
        a.cast("string").as("aggregate"),
        lit(true).as("passed"),
        lit("").as("payload"))
  }

  /** ECA `$`-binding source for one alert: the triggering event's fields
    * (per-event alerts carry the event as JSON) or, for periodic alerts,
    * the group-key fields — `{carId=7;lon=121.5}` → carId, lon. */
  private def bindFields(a: Alert): Map[String, String] =
    if (a.payload != null && a.payload.nonEmpty) PayloadCodec.fields(a.payload)
    else DynamicActiveEngine.keyFields(a.key)
}

/** A rule's evaluation path, the `kind` column of the rule table. */
private[streaming] object RuleKind {
  val PerEvent = "per-event"
  val Periodic = "periodic"
  val Passthrough = "passthrough"
}

/** One row of the per-trigger rule table (see `DynamicActiveEngine`'s
  * `ruleTable`); the periodic-only fields are zero/null for the others. */
private[streaming] final case class RuleRow(ruleId: Long, kind: String,
    hz: Long, curMax: Long, win: Long = 0L, slide: Long = 0L,
    aggType: String = null, limitOp: String = null, limitVal: String = null,
    lo: Long = 0L, hi: Long = 0L)

object DynamicActiveEngine {
  /** Per-phase wall-nano counters for the micro-batch path — the q212
    * per-trigger fixed-cost attribution (r19 verdict task #2; same
    * diagnostic pattern as
    * [[graft.util.CacheRegistry.fingerprintNanos]]). Cumulative across
    * every engine instance in the JVM; a profiler resets, drives
    * triggers, then reads the split. */
  import java.util.concurrent.atomic.AtomicLong
  val fanoutNanos = new AtomicLong(0L)   // FanOut.auto plan construction
  val maxAggNanos = new AtomicLong(0L)   // the curMax agg action
  val planNanos = new AtomicLong(0L)     // alert-plan construction (driver)
  val collectNanos = new AtomicLong(0L)  // collectFired action
  val tailNanos = new AtomicLong(0L)     // newTail localCheckpoint action
  val batches = new AtomicLong(0L)
  def resetMetrics(): Unit =
    Seq(fanoutNanos, maxAggNanos, planNanos, collectNanos, tailNanos,
      batches).foreach(_.set(0L))
  def metricsString: String = {
    def s(a: AtomicLong) = f"${a.get / 1e9}%.2f"
    s"batches=${batches.get} fanout=${s(fanoutNanos)}s " +
      s"maxAgg=${s(maxAggNanos)}s plan=${s(planNanos)}s " +
      s"collect=${s(collectNanos)}s tail=${s(tailNanos)}s"
  }
  private[streaming] def timed[A](c: AtomicLong)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally { c.addAndGet(System.nanoTime() - t0); () }
  }

  /** Parse the reference-format composite key string
    * (`KeysExtractor.java:19-41`) back to a field map. */
  def keyFields(key: String): Map[String, String] = {
    val inner = key.stripPrefix("{").stripSuffix("}")
    if (inner.isEmpty) Map.empty
    else inner.split(";").iterator.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap
  }
}
