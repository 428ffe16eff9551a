package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import graft.curation.Curation
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.streaming.IngestGateStream
import graft.util.CacheRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The ingest-gate workload over a generated corpus: an open loop at a
  * fixed document rate feeds the frozen eight-stage gate
  * ([[IngestGateStream.attach]] with `full = true`). The feed holds no
  * duplicate, near-duplicate or semantically close pair among its own
  * documents, so by the gate's contract every verdict equals the verdict
  * of one batch gate call over the whole feed, whatever the trigger
  * slicing. */
object Gate {
  type Rec = (Long, String, String, Seq[Float])

  private val Target = "src0"

  private def params(p: String): Map[String, String] =
    Files.readAllLines(Paths.get(p)).asScala.map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap

  private def landed(spark: SparkSession, in: String): (DataFrame, DataFrame) = (
    spark.read.schema("doc_id LONG, source STRING, text STRING")
      .json(s"$in/landed_docs.jsonl"),
    spark.read.schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .json(s"$in/landed_emb.jsonl"))

  /** Generated records, in file order. */
  private def records(path: String): Seq[Rec] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val n = mapper.readTree(l)
      (n.get("doc_id").asLong, n.get("source").asText, n.get("text").asText,
        n.get("embedding").elements().asScala.map(_.floatValue).toSeq)
    }
  }

  private def docsOf(spark: SparkSession, rs: Seq[Rec]): (DataFrame, DataFrame) = {
    import spark.implicits._
    val df = rs.toDF("doc_id", "source", "text", "embedding")
    (df.select("doc_id", "source", "text"),
      df.select(col("doc_id").as("vec_id"), col("embedding")))
  }

  /** What one trigger delivered, seen from the verdict sink. */
  final case class Trig(epoch: Long, ids: Seq[Long], newKeys: Int,
      fpNanos: Long, fpCalls: Long)

  /** Collects verdicts and per-trigger registry and fingerprint deltas. */
  final class Sink {
    val verdicts = new ConcurrentHashMap[Long, (String, Long)]()
    val trigs = ArrayBuffer.empty[Trig]
    private var keys = Trace.registryKeys()
    private var fp = Trace.fingerprint()
    def apply(epoch: Long, v: DataFrame): Unit = {
      val rows = v.collect()
      val t = System.nanoTime()
      rows.foreach(r => verdicts.put(r.getLong(0), (r.getString(1), t)))
      val k = Trace.registryKeys()
      val f = Trace.fingerprint()
      trigs.synchronized {
        trigs += Trig(epoch, rows.map(_.getLong(0)).toSeq, (k -- keys).size,
          f._1 - fp._1, f._2 - fp._2)
      }
      keys = k
      fp = f
    }
  }

  /** Set-up repetitions after the first (which builds the landed indexes
    * in the stream's first trigger and saves them to a durable
    * [[graft.sources.IndexStore]]): the restart path, which drops every
    * memoized artifact, re-reads the landed corpus and restores the
    * store, materializing the restored artifacts `cores` at a time.
    * Seconds of each. */
  private def restoreReps(spark: SparkSession, o: Main.Opts, store: String): Seq[Double] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cores)
    try (2 to o.reps).map { _ =>
      Trace.timeMs {
        CacheRegistry.releaseAll()
        landed(spark, o.inputs)
        graft.sources.IndexStore.restoreAll(spark, store)
        CacheRegistry.entries.values.toSeq
          .map(df => pool.submit(() => df.count()))
          .foreach(_.get())
      }._2 / 1000
    }
    finally pool.shutdown()
  }

  /** Per-kind landed-index build seconds: a fresh registry, one gate
    * construction, then every new memoized artifact materialized on its
    * own, smallest plan first so that an artifact's inputs are built
    * before it. */
  private def indexBuildS(spark: SparkSession, o: Main.Opts,
      gate: (DataFrame, DataFrame, DataFrame, DataFrame) => DataFrame,
      warm: Seq[Rec]): Map[String, Double] = {
    CacheRegistry.releaseAll()
    val (ld, le) = landed(spark, o.inputs)
    val (wd, we) = docsOf(spark, warm)
    val before = Trace.registryKeys()
    val v = gate(ld, wd, le, we)
    val fresh = CacheRegistry.entries.filter { case (k, _) => !before(k) }.toSeq
      .sortBy { case (_, df) => df.queryExecution.logical.treeString.length }
    val byKind = fresh.map { case (k, df) =>
      Trace.kindOf(k) -> Trace.timeMs(df.count())._2 / 1000
    }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    v.collect()
    byKind
  }

  private def common(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      counts: SparkCounts, q: StreamingQuery, sink: Sink,
      jvm: (Long, Long, Long), measured: Seq[Long]): Map[String, Double] = {
    val (trig, fixed) = Trace.triggerMs(ps)
    val (jobs, stages, tasks) = counts.perTrigger(q.id.toString, ps.map(_.batchId))
    val ts = sink.trigs.filter(t => measured.contains(t.epoch)).toSeq
    val nt = math.max(1, ts.size).toDouble
    val (jit, gc, cg) = jvm
    val all = ts.flatMap(_.ids).flatMap(id => Option(sink.verdicts.get(id)))
    Map(
      "streaming.trigger_ms" -> trig,
      "streaming.trigger_fixed_ms" -> fixed,
      "util.registry_new_keys_per_trigger" -> ts.map(_.newKeys).sum / nt,
      "util.fingerprint_ms" -> ts.map(_.fpNanos).sum / 1e6 / nt,
      "util.fingerprint_n" -> ts.map(_.fpCalls).sum / nt,
      "dedup.admit_share" -> all.count(_._1 == "admit").toDouble / math.max(1, all.size),
      "spark.jobs_per_trigger" -> jobs,
      "spark.stages_per_trigger" -> stages,
      "spark.tasks_per_trigger" -> tasks,
      "spark.codegen_n" -> cg.toDouble,
      "jvm.jit_ms" -> jit.toDouble,
      "jvm.gc_ms" -> gc.toDouble)
  }

  def live(spark: SparkSession, o: Main.Opts): Map[String, Any] = {
    val t00 = System.nanoTime()
    val p = params(s"${o.inputs}/params.txt")
    val rate = p("rate").toDouble
    val lead = p("lead_s").toDouble
    val warm = records(s"${o.inputs}/warm.jsonl")
    val feed = records(s"${o.inputs}/feed.jsonl").toArray
    val gate = (ld: DataFrame, bd: DataFrame, le: DataFrame, be: DataFrame) =>
      Dedup.ingestGateFull(ld, bd, le, be, Target, memoizeEvidence = false)
    val (ld, le) = landed(spark, o.inputs)
    Main.log("inputs loaded")
    var reps: Seq[Double] = Nil

    // `setup`: the stream's first trigger builds the landed indexes
    def phase(tag: String, traced: Boolean, setup: Boolean)
        : (Map[String, Any], Map[String, Any]) = {
      val input = MemoryStream[Rec](spark, o.cores)(spark.implicits.newProductEncoder[Rec])
      val stream = input.toDF().toDF("doc_id", "source", "text", "embedding")
      val sink = new Sink
      val q = IngestGateStream.attach(stream, ld, le, Target, full = true,
        checkpointDir = Some(s"${o.work}/ckpt-gate-$tag"))(sink.apply)
      val tw = System.nanoTime()
      input.addData(warm)
      q.processAllAvailable()
      val streamWarmS = (System.nanoTime() - tw) / 1e9
      Main.log("stream warm")
      if (setup) {
        val store = s"${o.work}/index-store"
        graft.sources.IndexStore.saveAll(store)
        reps = ((System.nanoTime() - t00) / 1e9) +: restoreReps(spark, o, store)
        Main.log("landed indexes restored")
      }
      val warmEpochs = sink.trigs.map(_.epoch).toSet
      val counts = if (traced) Some(new SparkCounts(spark).install()) else None
      val jvm = new Trace.Jvm
      // the open loop's first `lead` seconds are fed and checked, not timed
      val n = math.min(feed.length, math.ceil((lead + o.seconds) * rate).toInt)
      val from = math.ceil(lead * rate).toInt
      val start = System.nanoTime()
      def nowMs = (System.nanoTime() - start) / 1e6
      val lag = ArrayBuffer.empty[Double]
      var i = 0
      while (i < n) {
        val now = nowMs
        val upto = math.min(n, math.floor(now * rate / 1000).toInt + 1)
        if (upto > i) {
          input.addData(feed.slice(i, upto).toSeq)
          lag += now - i * 1000 / rate
          i = upto
        }
        val next = i * 1000 / rate - nowMs
        if (next > 0) Thread.sleep(math.max(1L, math.min(10L, next.toLong)))
      }
      q.processAllAvailable()
      val endMs = nowMs
      q.stop()
      val jd = jvm.delta
      counts.foreach(_.remove())
      val fed = feed.take(n).toSeq
      val latency = fed.indices.map { j =>
        Option(sink.verdicts.get(fed(j)._1))
          .map { case (_, t) => (t - start) / 1e6 - j * 1000 / rate }.getOrElse(-1.0)
      }
      val out = Map[String, Any](
        "n_items" -> n,
        "timed_from" -> from,
        "stream_ms" -> endMs,
        "stream_warm_s" -> streamWarmS,
        "generator_lag_ms" -> (if (lag.isEmpty) 0.0 else lag.max),
        "delivered_ms" -> latency)
      // triggers that read only timed documents
      val timedIds = fed.drop(from).map(_._1).toSet
      val measured = sink.trigs.filter(t => !warmEpochs(t.epoch) && t.ids.forall(timedIds))
        .map(_.epoch).toSeq
      val layers: Map[String, Any] =
        if (!traced) Map.empty
        else {
          val ps = q.recentProgress.toSeq.filter(p => measured.contains(p.batchId))
          common(ps, counts.get, q, sink, jd, measured) ++ Map(
            "host.generator_lag_ms" -> (if (lag.isEmpty) 0.0 else lag.max)) ++
            stageLayers(spark, ld, le, sink.trigs.filter(t => measured.contains(t.epoch))
              .toSeq, fed)
        }
      Main.log("measured")
      // the check: one batch gate call over the whole feed
      val (fd, fe) = docsOf(spark, fed)
      val expected = gate(ld, fd, le, fe).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val ok = fed.map { r =>
        Option(sink.verdicts.get(r._1)).exists(v => expected.get(r._1).contains(v._1))
      }
      (out ++ Map("ok" -> ok,
        "verdicts" -> fed.map(r => Option(sink.verdicts.get(r._1)).map(_._1).orNull))
        , layers)
    }

    val (m, _) = phase("run", traced = false, setup = true)
    val base = m ++ Map("setup_reps_s" -> reps)
    if (!o.trace) base
    else {
      val (t, layers) = phase("traced", traced = true, setup = false)
      def p50(x: Map[String, Any]) = Trace.median(
        x("delivered_ms").asInstanceOf[Seq[Double]].drop(x("timed_from").asInstanceOf[Int]))
      val idx = indexBuildS(spark, o, gate, warm)
      // one untraced phase only (run time): the traced phase runs second,
      // so warm-up drift biases this overhead low
      base + ("layers" -> (layers ++ idx.map { case (k, s) => s"util.index_build_s.$k" -> s } ++
        Map("trace.overhead_pct" -> 100.0 * (p50(t) - p50(m)) / p50(m))))
    }
  }

  /** Each gate stage's public function, and the gate's construct / plan /
    * execute split, timed on up to three of the batches the traced run's
    * triggers actually took (landed indexes are warm by then). */
  private def stageLayers(spark: SparkSession, ld: DataFrame, le: DataFrame,
      trigs: Seq[Trig], fed: Seq[Rec]): Map[String, Double] = {
    val byId = fed.map(r => r._1 -> r).toMap
    val batches = trigs.map(_.ids.flatMap(byId.get)).filter(_.nonEmpty).take(3)
    if (batches.isEmpty) return Map.empty
    val rows = batches.map { b =>
      val (bd, be) = docsOf(spark, b)
      val lsh = Trace.timeMs(Dedup.lshIncrement(ld, bd).collect())._2
      val sem = Trace.timeMs(Similarity.semanticDedupIncrementTwoLevel(le, be,
        fineOffset = 8).collect())._2
      val cont = Trace.timeMs(Dedup.landedContainmentScreen(ld, bd).collect())._2
      val dsir = Trace.timeMs(Curation.dsirScoreIncrement(ld, bd, Target).collect())._2
      val (v, construct) = Trace.timeMs(
        Dedup.ingestGateFull(ld, bd, le, be, Target, memoizeEvidence = false))
      val plan = Trace.timeMs(v.queryExecution.executedPlan)._2
      val exec = Trace.timeMs(v.collect())._2
      Seq(lsh, sem, cont, dsir, construct, plan, exec)
    }
    val names = Seq("dedup.lsh_ms", "similarity.semantic_ms", "dedup.containment_ms",
      "curation.dsir_ms", "dedup.gate_construct_ms", "dedup.gate_plan_ms",
      "dedup.gate_exec_ms")
    names.zipWithIndex.map { case (nm, i) => nm -> Trace.median(rows.map(_(i))) }.toMap
  }
}
