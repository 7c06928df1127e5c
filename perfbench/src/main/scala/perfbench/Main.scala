package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: start a session, stage the workload's
  * inputs, warm up, and measure a closed-loop window with tracing off.
  * A traced run measures three windows: untraced, traced, untraced, so
  * the tracing overhead is read against untraced windows on both sides
  * of it. The run record (JSON) goes to `--out`; run.py folds it into the
  * reported metrics.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  *            --cores N --work DIR --out FILE */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = opts("cores").toInt
    val work = opts("work")

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer(spark, s"$workload-$seed", listen = trace)
    val wl = Workload(workload, new Ctx(spark, cores, tracer, seed))

    def timeS(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // three stagings, of which setup_s counts the median: the first one
    // also pays for the JVM's and Spark's first-use costs
    val stageS = (1 to 3).map(i => timeS(wl.stage(s"$work/stage-$i")))
    val warm = new Window(traced = false)
    val warmS = timeS((1 to wl.warmupOps).foreach(_ => wl.runOne(warm)))

    def measure(traced: Boolean): Window = {
      val w = new Window(traced)
      tracer.enabled = traced
      val t0 = System.nanoTime()
      def elapsedS = (System.nanoTime() - t0) / 1e9
      while (elapsedS < seconds || w.attempted == 0 || !wl.atBoundary) wl.runOne(w)
      w.wallMs = elapsedS * 1e3
      tracer.enabled = false
      w
    }
    val windows =
      if (trace) Seq(false, true, false).map(t => measure(traced = t))
      else Seq(measure(traced = false))

    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "params" -> wl.params,
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "scala_version" -> scala.util.Properties.versionNumberString,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
        "stagings" -> stageS.length, "warmup_ops" -> wl.warmupOps,
        "inputs" -> ("generated from the seed in the executors or staged as " +
          "parquet under the run's work directory; parquet reads are served " +
          "from the OS page cache")),
      "setup" -> Map("session_s" -> sessionS, "stage_s" -> stageS,
        "warmup_s" -> warmS),
      "warmup" -> warm.record,
      "windows" -> windows.map(_.record),
      "peak_rss_mb" -> peakRssMb(),
      "trace" -> (if (trace) tracer.record else null))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")),
      org.json4s.jackson.Serialization.write(record)(org.json4s.DefaultFormats))
    spark.stop()
  }

  /** The driver's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) return 0.0
    val src = scala.io.Source.fromFile(f)
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
