package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import scala.jdk.CollectionConverters._

/** Per-layer observation from outside the program: Spark jobs, stages
  * and tasks counted per streaming trigger (the query id and batch id
  * Spark stamps on every job a micro-batch launches), JVM compile and
  * GC time, Janino compilations, and `StreamingQueryProgress` phase
  * durations. Installed only in traced runs. */
final class SparkCounts(spark: SparkSession) extends SparkListener {
  private type Group = (String, Long)
  private val jobs = new ConcurrentHashMap[Group, AtomicLong]()
  private val stages = new ConcurrentHashMap[Group, AtomicLong]()
  private val tasks = new ConcurrentHashMap[Group, AtomicLong]()
  private val stageGroup = new ConcurrentHashMap[Int, Group]()

  private def group(p: java.util.Properties): Option[Group] =
    for {
      props <- Option(p)
      q <- Option(props.getProperty("sql.streaming.queryId"))
      b <- Option(props.getProperty("streaming.sql.batchId"))
    } yield (q, b.toLong)

  private def bump(m: ConcurrentHashMap[Group, AtomicLong], g: Group): Unit = {
    m.computeIfAbsent(g, _ => new AtomicLong).incrementAndGet(); ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    group(e.properties).foreach(bump(jobs, _))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    group(e.properties).foreach { g =>
      stageGroup.put(e.stageInfo.stageId, g)
      bump(stages, g)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach(bump(tasks, _))

  /** Mean jobs, stages and tasks per trigger of one query, over the
    * given batch ids. */
  def perTrigger(queryId: String, batchIds: Seq[Long]): (Double, Double, Double) = {
    def mean(m: ConcurrentHashMap[Group, AtomicLong]) =
      if (batchIds.isEmpty) 0.0
      else batchIds.map(b => Option(m.get((queryId, b))).map(_.get).getOrElse(0L))
        .sum.toDouble / batchIds.size
    (mean(jobs), mean(stages), mean(tasks))
  }

  def install(): this.type = { spark.sparkContext.addSparkListener(this); this }
  def remove(): Unit = spark.sparkContext.removeSparkListener(this)
}

object Trace {
  def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .map(_.getTotalCompilationTime).getOrElse(0L)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def codegenN(): Long = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME.getCount

  /** JVM-wide counters sampled at the start of a region; `delta` gives
    * (jit ms, gc ms, codegen compilations) spent since. */
  final class Jvm {
    private val (j0, g0, c0) = (jitMs(), gcMs(), codegenN())
    def delta: (Long, Long, Long) = (jitMs() - j0, gcMs() - g0, codegenN() - c0)
  }

  /** Progress phases of a set of triggers: mean total trigger time, and
    * the fixed part a trigger pays whatever its input (planning, offset
    * and WAL commits, source offset discovery). */
  def triggerMs(ps: Seq[StreamingQueryProgress]): (Double, Double) = {
    if (ps.isEmpty) return (0.0, 0.0)
    def d(p: StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val fixedKeys = Seq("queryPlanning", "walCommit", "commitOffsets",
      "latestOffset", "getBatch")
    val total = ps.map(d(_, "triggerExecution")).sum.toDouble / ps.size
    val fixed = ps.map(p => fixedKeys.map(d(p, _)).sum).sum.toDouble / ps.size
    (total, fixed)
  }

  /** Registry keys currently live — the outside view of the program's
    * memoized landed artifacts. */
  def registryKeys(): Set[String] = graft.util.CacheRegistry.entries.keySet

  def kindOf(key: String): String = key.takeWhile(_ != ':')

  def fingerprint(): (Long, Long) = (graft.util.CacheRegistry.fingerprintNanos.get(),
    graft.util.CacheRegistry.fingerprintCalls.get())

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def timeMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
