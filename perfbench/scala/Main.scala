package perfbench

import org.apache.spark.sql.SparkSession

/** The JVM half of the benchmark: builds its own `local[cores]` session,
  * runs one workload over inputs generated by `gen.py`, and writes the
  * raw observations (per-item due and delivery times, outputs, trace
  * counters) as one JSON file for `run.py` to check and summarize.
  *
  * Usage: perfbench.Main --workload <name> --inputs <dir> --work <dir>
  *   --out <file> --seconds <s> --trace <0|1> --cores <n> */
object Main {
  final case class Opts(workload: String, inputs: String, work: String,
      out: String, seconds: Double, trace: Boolean, cores: Int) {
    /** Set-up repetitions per run; set-up time is their median. */
    val reps = 3
  }

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("inputs"), need("work"), need("out"),
      need("seconds").toDouble, need("trace") == "1", need("cores").toInt)
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress note on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2f] $msg")

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o.cores, o.work)
    val ready = System.currentTimeMillis()
    log(s"session ready, ${o.workload}")
    val result =
      try o.workload match {
        case "engine_replay" => Engine.replay(spark, o)
        case "eca_live" => Engine.live(spark, o)
        case "gate_live" => Gate.live(spark, o)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    val all = result ++ Map(
      "session_ready_epoch_ms" -> ready,
      "peak_rss_mb" -> Trace.peakRssMb(),
      "cores" -> o.cores)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), Json.render(all))
    log("done")
  }
}
