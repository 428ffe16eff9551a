package perfbench

import java.nio.file.{Files, Paths}

import graft.active.RuleStore
import graft.model.{Alert, Rule}
import graft.rules.RuleCodec
import graft.sources.{RuleFileSource, ShCarData}
import graft.streaming.{ActiveEngine, DynamicActiveEngine, FanOut}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The two rule-engine workloads.
  *
  * `engine_replay`: SHCarData files replayed through the static-rule
  * engine ([[ActiveEngine.perEventWriter]], one file per trigger under
  * `AvailableNow`), repeated for the measured seconds. Every trigger
  * delivers its fired alerts through the engine's alert callback, which
  * marks the delivery time of every event of that trigger's file.
  *
  * `eca_live`: an open loop feeds events at a fixed rate into
  * [[DynamicActiveEngine.writer]] while a second thread applies a
  * scripted rule churn through [[RuleFileSource.attachLines]]. A rule
  * change holds the engine's monitor while it merges, so every trigger's
  * rule snapshot falls cleanly before or after it; the change records
  * how many triggers had taken their snapshot by then, which is what the
  * reference model needs to replay the run's own trigger boundaries. */
object Engine {
  private def lines(p: String): Seq[String] =
    Files.readAllLines(Paths.get(p)).asScala.toSeq.filter(_.trim.nonEmpty)

  private def params(p: String): Map[String, String] =
    lines(p).map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap

  private def alertRow(a: Alert): Seq[Any] = Seq(a.ruleId, a.key, a.tsMillis, a.aggregate)

  /** Set-up repetitions: the first is the input load already done
    * (since `t00`); each further one loads the inputs again. */
  private[perfbench] def setupReps(o: Main.Opts, t00: Long)(load: => Any): Seq[Double] = {
    val first = (System.nanoTime() - t00) / 1e9
    first +: (2 to o.reps).map { _ => Trace.timeMs(load)._2 / 1000 }
  }

  final case class Replay(t0: Long, t1: Long, ends: Seq[Long], alerts: Seq[Alert],
      progress: Seq[StreamingQueryProgress], queryId: String)

  def replay(spark: SparkSession, o: Main.Opts): Map[String, Any] = {
    val t00 = System.nanoTime()
    val rules = lines(s"${o.inputs}/rules.jsonl").map(RuleCodec.decode)
    val dir = s"${o.inputs}/replay"
    var runN = 0
    def once(d: String): Replay = {
      runN += 1
      val engine = new ActiveEngine()
      rules.foreach(r => engine.store.merge(r))
      val ends = ArrayBuffer.empty[Long]
      val alerts = ArrayBuffer.empty[Alert]
      engine.onAlerts { a => alerts ++= a; ends += System.nanoTime() }
      val events = ShCarData.readStream(spark, d, maxFilesPerTrigger = 1)
      val t0 = System.nanoTime()
      val q = engine.perEventWriter(events, "eventTime")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"${o.work}/ckpt-replay-$runN")
        .start()
      q.awaitTermination()
      Replay(t0, System.nanoTime(), ends.toSeq, alerts.toSeq,
        q.recentProgress.toSeq, q.id.toString)
    }
    val reps = setupReps(o, t00) {
      lines(s"${o.inputs}/rules.jsonl").map(RuleCodec.decode)
      new java.io.File(dir).listFiles().length
    }
    // warm-up (not set-up): two untimed replays of the same input let
    // compilation and JIT settle before timing
    val tw = System.nanoTime()
    once(dir)
    once(dir)
    val warmS = (System.nanoTime() - tw) / 1e9
    val t0 = System.nanoTime()
    val runs = ArrayBuffer.empty[Replay]
    while (runs.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds) runs += once(dir)
    def runOut(r: Replay): Map[String, Any] = Map(
      "wall_ms" -> (r.t1 - r.t0) / 1e6,
      "batch_end_ms" -> r.ends.map(e => (e - r.t0) / 1e6),
      "alerts" -> r.alerts.map(alertRow))
    val base = Map[String, Any]("setup_reps_s" -> reps, "warm_s" -> warmS,
      "runs" -> runs.map(runOut))
    if (!o.trace) base
    else base + ("layers" -> replayLayers(spark, o, rules, dir, runs.toSeq, once))
  }

  private def replayLayers(spark: SparkSession, o: Main.Opts, rules: Seq[Rule],
      dir: String, runs: Seq[Replay], once: String => Replay): Map[String, Any] = {
    val counts = new SparkCounts(spark).install()
    val jvm = new Trace.Jvm
    val r = once(dir)
    val (jit, gc, cg) = jvm.delta
    counts.remove()
    val ps = r.progress.filter(_.numInputRows > 0)
    val (trig, fixed) = Trace.triggerMs(ps)
    val (jobs, stages, tasks) = counts.perTrigger(r.queryId, ps.map(_.batchId))
    val last = ps.last.stateOperators.headOption
    val n = ShCarData.read(spark, dir).count().toDouble
    val perEvent = rules.filter(_.isPerEventEmission)
    val (keyed, _) = Trace.timeMs(FanOut.auto(ShCarData.read(spark, dir), perEvent,
      "eventTime").count())
    val planMs = (1 to 3).map { _ =>
      Trace.timeMs(FanOut.auto(ShCarData.read(spark, dir), perEvent, "eventTime")
        .queryExecution.executedPlan)._2
    }
    val parseMs = (1 to 3).map { _ =>
      Trace.timeMs(ShCarData.read(spark, dir).write.format("noop").mode("overwrite").save())._2
    }
    // untraced replays on both sides of the traced one, so that warm-up
    // drift cancels out of the overhead
    val after = once(dir)
    val untraced = ((runs.last.t1 - runs.last.t0) + (after.t1 - after.t0)) / 2e6
    val traced = (r.t1 - r.t0) / 1e6
    Map(
      "streaming.trigger_ms" -> trig,
      "streaming.trigger_fixed_ms" -> fixed,
      "streaming.state_rows" -> last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_mb" -> last.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
      "streaming.keyed_per_event" -> keyed / n,
      "compile.fanout_plan_ms" -> Trace.median(planMs),
      "active.rules_live_max" -> rules.size.toDouble,
      "sources.parse_rows_per_s" -> n / (Trace.median(parseMs) / 1000),
      "spark.jobs_per_trigger" -> jobs,
      "spark.stages_per_trigger" -> stages,
      "spark.tasks_per_trigger" -> tasks,
      "spark.codegen_n" -> cg.toDouble,
      "jvm.jit_ms" -> jit.toDouble,
      "jvm.gc_ms" -> gc.toDouble,
      "trace.overhead_pct" -> 100.0 * (traced - untraced) / untraced)
  }

  type Ev = (Long, Long, Int, Int, Double, Double)

  final case class LiveOut(out: Map[String, Any], layers: Map[String, Any])

  def live(spark: SparkSession, o: Main.Opts): Map[String, Any] = {
    val t00 = System.nanoTime()
    val p = params(s"${o.inputs}/params.txt")
    val rate = p("rate").toDouble
    val base = p("base_ts").toLong
    val step = p("step_ms").toLong
    val events: Array[Ev] = lines(s"${o.inputs}/events.tsv").map { l =>
      val f = l.split('\t')
      (f(0).toLong, f(1).toLong, f(2).toInt, f(3).toInt, f(4).toDouble, f(5).toDouble)
    }.toArray
    val script: Seq[(Double, String)] = lines(s"${o.inputs}/script.tsv").map { l =>
      val Array(at, json) = l.split("\t", 2)
      (at.toDouble, json)
    }
    val reps = setupReps(o, t00) {
      lines(s"${o.inputs}/events.tsv").length + lines(s"${o.inputs}/script.tsv").length
    }
    // warm-up (not set-up): a first stream lets compilation and JIT settle
    val tw = System.nanoTime()
    runLive(spark, o, events, script, rate, base, step, p("warm_s").toDouble, 0.0, "warm",
      traced = false)
    val warmS = (System.nanoTime() - tw) / 1e9
    def timed(tag: String, traced: Boolean) = runLive(spark, o, events, script, rate,
      base, step, p("lead_s").toDouble, o.seconds, tag, traced)
    val m = timed("run", traced = false)
    val out = m.out ++ Map("setup_reps_s" -> reps, "warm_s" -> warmS)
    if (!o.trace) out
    else {
      val t = timed("traced", traced = true)
      // one untraced phase only (run time): the traced phase runs second,
      // so warm-up drift biases this overhead low
      val lat = (x: LiveOut) => Trace.median(x.out("latency_ms").asInstanceOf[Seq[Double]])
      out + ("layers" -> (t.layers ++ Map(
        "trace.overhead_pct" -> 100.0 * (lat(t) - lat(m)) / lat(m))))
    }
  }

  /** One live stream. Its open loop runs `lead + timedS` seconds; only
    * events due after the lead (which covers the new query's first
    * triggers) are timed. Every event is checked. */
  private def runLive(spark: SparkSession, o: Main.Opts, events: Array[Ev],
      script: Seq[(Double, String)], rate: Double, base: Long, step: Long,
      lead: Double, timedS: Double, tag: String, traced: Boolean): LiveOut = {
    val seconds = lead + timedS
    val from = math.ceil(lead * rate).toInt
    val store = new RuleStore
    val engine = new DynamicActiveEngine(store, maxFiredPerBatch = 1000000)
    val ruleIn = MemoryStream[String](spark, 1)(Encoders.STRING)
    val ruleQ = RuleFileSource.attachLines(ruleIn.toDF(), store, Trigger.ProcessingTime(0L))
    val (initial, changes) = script.partition(_._1 <= 0)
    ruleIn.addData(initial.map(_._2))
    ruleQ.processAllAvailable()

    val n = math.min(events.length, math.ceil(seconds * rate).toInt)
    require(n > 0, "no events to feed")
    val delivered = new Array[Long](n)
    val alerts = ArrayBuffer.empty[Alert]
    var liveMax = store.size
    // per delivery: (ms since the feed started, gc ms, jit ms, codegen n)
    val jvmAt = ArrayBuffer.empty[Seq[Double]]
    var start = 0L
    engine.onAlerts { as =>
      val t = System.nanoTime()
      alerts.synchronized { alerts ++= as }
      as.foreach { a =>
        val i = ((a.tsMillis - base) / step).toInt
        if (i >= 0 && i < n && delivered(i) == 0L) delivered(i) = t
      }
      liveMax = math.max(liveMax, store.size)
      jvmAt += Seq((t - start) / 1e6, Trace.gcMs().toDouble, Trace.jitMs().toDouble,
        Trace.codegenN().toDouble)
    }
    val evIn = MemoryStream[Ev](spark, o.cores)(spark.implicits.newProductEncoder[Ev])
    val evDf = evIn.toDF().toDF("seq", "tsMillis", "carId", "region", "speed", "angle")
      .select(col("seq"), col("carId"), col("region"), col("speed"), col("angle"),
        timestamp_millis(col("tsMillis")).as("ts"))
    val counts = if (traced) Some(new SparkCounts(spark).install()) else None
    def phases = Seq(DynamicActiveEngine.fanoutNanos, DynamicActiveEngine.maxAggNanos,
      DynamicActiveEngine.planNanos, DynamicActiveEngine.collectNanos,
      DynamicActiveEngine.tailNanos).map(_.get)
    val b0 = DynamicActiveEngine.batches.get()
    // counters from the end of the lead on
    var jvm: Trace.Jvm = null
    var c0: Seq[Long] = Nil
    var bLead = 0L
    val q = engine.writer(evDf, "ts")
      .option("checkpointLocation", s"${o.work}/ckpt-live-$tag")
      .start()

    Main.log(s"live stream $tag started")
    start = System.nanoTime()
    def nowMs = (System.nanoTime() - start) / 1e6
    // rule churn on its own thread, so a merge waiting on the engine
    // monitor never delays the event feed
    val applied = new Array[Long](changes.size)
    val inWindow = changes.filter(_._1 < seconds * 1000)
    val churn = new Thread(() => {
      inWindow.indices.foreach { c =>
        val wait = inWindow(c)._1 - nowMs
        if (wait > 0) Thread.sleep(wait.toLong)
        engine.synchronized {
          ruleIn.addData(Seq(inWindow(c)._2))
          ruleQ.processAllAvailable()
          applied(c) = DynamicActiveEngine.batches.get() - b0
        }
      }
    }, "perfbench-rule-churn")
    churn.start()
    // open loop: event i is due at i / rate seconds, whatever the engine does
    val offsets = ArrayBuffer.empty[(Long, Int, Int)]
    val lag = ArrayBuffer.empty[Double]
    var i = 0
    while (i < n) {
      if (jvm == null && i >= from) {
        jvm = new Trace.Jvm
        c0 = phases
        bLead = DynamicActiveEngine.batches.get()
      }
      val now = nowMs
      val upto = math.min(n, math.floor(now * rate / 1000).toInt + 1)
      if (upto > i) {
        val off = evIn.addData(events.slice(i, upto).toSeq)
        offsets += ((off.json.toLong, i, upto))
        lag += now - i * 1000 / rate
        i = upto
      }
      val next = i * 1000 / rate - nowMs
      if (next > 0) Thread.sleep(math.max(1L, math.min(10L, next.toLong)))
    }
    churn.join()
    q.processAllAvailable()
    val endMs = nowMs
    q.stop()
    ruleQ.stop()
    Main.log(s"live stream $tag drained")
    val (jit, gc, cg) = Option(jvm).map(_.delta).getOrElse((0L, 0L, 0L))
    counts.foreach(_.remove())

    val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    // each trigger's event range, from the MemoryStream offsets it read
    val byOffset = offsets.map { case (off, lo, hi) => off -> (lo, hi) }.toMap
    val batches = ps.map { pr =>
      val s = pr.sources.head
      val from = Option(s.startOffset).filter(_ != "null").map(_.toLong).getOrElse(-1L)
      val to = s.endOffset.toLong
      val rs = (from + 1 to to).map(byOffset)
      Seq(rs.head._1, rs.last._2)
    }
    val engineBatches = DynamicActiveEngine.batches.get() - b0
    val snapshot = store.snapshot()
    val children = snapshot.filter(_.activeId.nonEmpty).map { r =>
      Seq(r.queryId.get, r.activeId.get, r.windowFilterRules.last.field,
        r.windowFilterRules.last.value)
    }
    val latency = (from until n).filter(delivered(_) > 0L)
      .map(j => (delivered(j) - start) / 1e6 - j * 1000 / rate)
    val out = Map[String, Any](
      "n_events" -> n,
      "timed_from" -> from,
      "stream_ms" -> endMs,
      "delivered_ms" -> (0 until n).map(j =>
        if (delivered(j) == 0L) -1.0 else (delivered(j) - start) / 1e6 - j * 1000 / rate),
      "latency_ms" -> latency,
      "batches" -> batches,
      "engine_batches" -> engineBatches,
      "trigger_ms" -> ps.map(_.durationMs.get("triggerExecution").longValue),
      "applied_after" -> inWindow.indices.map(applied(_)),
      "n_changes" -> inWindow.size,
      "alerts" -> alerts.toSeq.map(alertRow),
      "children" -> children,
      "generator_lag_ms" -> (if (lag.isEmpty) 0.0 else lag.max),
      "delivery_jvm" -> jvmAt.toSeq)
    if (!traced) LiveOut(out, Map.empty)
    else {
      val nb = math.max(1L, b0 + engineBatches - bLead).toDouble
      val phase = phases.zip(c0).map { case (a, b) => (a - b) / 1e6 / nb }
      // triggers that read only timed events
      val timedPs = ps.zip(batches).filter(_._2.head >= from).map(_._1)
      val (trig, fixed) = Trace.triggerMs(timedPs)
      val (jobs, stages, tasks) = counts.get.perTrigger(q.id.toString, timedPs.map(_.batchId))
      val fed = spark.createDataFrame(events.take(n).toSeq)
        .toDF("seq", "tsMillis", "carId", "region", "speed", "angle")
        .select(col("seq"), col("carId"), col("region"), col("speed"), col("angle"),
          timestamp_millis(col("tsMillis")).as("ts"))
      val keyed = FanOut.auto(fed, snapshot, "ts").count()
      val planMs = (1 to 3).map { _ =>
        Trace.timeMs(FanOut.auto(fed, snapshot, "ts").queryExecution.executedPlan)._2
      }
      val merge = new RuleStore
      val mergeMs = Trace.timeMs(script.foreach(s => merge.merge(RuleCodec.decode(s._2))))._2
      LiveOut(out, Map(
        "streaming.trigger_ms" -> trig,
        "streaming.trigger_fixed_ms" -> fixed,
        "streaming.fanout_ms" -> phase(0),
        "streaming.curmax_ms" -> phase(1),
        "streaming.alert_plan_ms" -> phase(2),
        "streaming.alert_collect_ms" -> phase(3),
        "streaming.tail_ms" -> phase(4),
        "streaming.keyed_per_event" -> keyed.toDouble / n,
        "compile.fanout_plan_ms" -> Trace.median(planMs),
        "active.rules_live_max" -> math.max(liveMax, snapshot.size).toDouble,
        "active.spawned_n" -> children.size.toDouble,
        "active.merge_ms" -> mergeMs / script.size,
        "spark.jobs_per_trigger" -> jobs,
        "spark.stages_per_trigger" -> stages,
        "spark.tasks_per_trigger" -> tasks,
        "spark.codegen_n" -> cg.toDouble,
        "jvm.jit_ms" -> jit.toDouble,
        "jvm.gc_ms" -> gc.toDouble,
        "host.generator_lag_ms" -> (if (lag.isEmpty) 0.0 else lag.max)))
    }
  }
}
