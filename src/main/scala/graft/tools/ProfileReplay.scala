package graft.tools

import graft.SparkEntry
import graft.streaming.DynamicActiveEngine
import org.apache.spark.sql.SparkSession

/** Engine batch-replay profiler (optimization r21): runs the q30 /
  * q31 / q185 replay entries with [[DynamicActiveEngine]]'s per-phase
  * counters on the BATCH replay path (`EntryHelpers.dynamicReplayRaw`),
  * which since r21 feeds weekly batches as driver-local relations. Splits
  * each wall into fanout / maxAgg / plan / collect / tail and the residual
  * (feeder collects + Catalyst analysis inside actions). The live
  * stream's per-trigger split, with Spark jobs and tasks, comes from
  * `python3 perfbench/run.py --workload eca_live --trace 1`.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... [SPARK_GRAFT_CPUS=n] runMain
  * graft.tools.ProfileReplay [q...] — the session is `local[n]` with n
  * shuffle partitions, n defaulting to the available processors.
  */
object ProfileReplay {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val qs = if (args.nonEmpty) args.toSeq
      else Seq("q30_dynamic_engine_replay", "q185_eca_spawn_fire")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def jit: Long = Option(
      java.lang.management.ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    def cgN: Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    for (q <- qs; i <- 1 to 3) {
      DynamicActiveEngine.resetMetrics()
      val t0 = System.nanoTime(); val j0 = jit; val c0 = cgN
      SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val inPhases = Seq(DynamicActiveEngine.fanoutNanos,
        DynamicActiveEngine.maxAggNanos, DynamicActiveEngine.planNanos,
        DynamicActiveEngine.collectNanos, DynamicActiveEngine.tailNanos)
        .map(_.get).sum / 1e9
      println(f"[$q] run$i wall=$wall%6.2f jit_ms=${jit - j0} cg_n=${cgN - c0} " +
        DynamicActiveEngine.metricsString +
        f" other=${wall - inPhases}%6.2f")
    }
    spark.stop()
  }
}
