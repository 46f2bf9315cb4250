package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Run context handed to a workload: the session, the timing front, the
  * run's arguments, its scratch (`work`) and output (`out`) directories,
  * and the result being filled in. */
final class Ctx(val spark: SparkSession, val probe: Probe, val seed: Long,
    val seconds: Int, val traced: Boolean, val work: Path, val out: Path,
    val result: Result) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Note when a phase ends, in seconds since the JVM started. */
  def mark(phase: String): Unit = result.note(s"t.$phase",
    (System.currentTimeMillis() - Main.jvmStart) / 1000.0)
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace
  * 0|1 --out DIR --work DIR`. Writes `DIR/result.json`; the Python
  * front-end (`perfbench/run.py`) adds the DuckDB oracle checks and
  * prints the final line. */
object Main {
  lazy val jvmStart: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  val Workloads: Map[String, Ctx => Unit] = Map(
    "tweet_topn" -> TweetTopN.run,
    "store_serve_append" -> StoreServeAppend.run)

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      // one shuffle partition per host core, also in the single-core
      // baseline session, so both run the same plan and state layout
      .config("spark.sql.shuffle.partitions", Runtime.getRuntime.availableProcessors().toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val work = Files.createDirectories(Paths.get(opts("work")).toAbsolutePath)
    val out = Files.createDirectories(Paths.get(opts("out")).toAbsolutePath)
    val traced = opts.getOrElse("trace", "0") == "1"

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val result = new Result
    val ctx = new Ctx(spark, new Probe(spark, traced), opts("seed").toLong,
      opts("seconds").toInt, traced, work, out, result)
    result.note("workload", workload)
    result.note("seed", ctx.seed)
    result.note("trace", traced)
    result.note("nproc", cores)
    result.note("mem_total_mb", memTotalMb())
    result.note("jvm", s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}")
    result.note("max_heap_mb", Runtime.getRuntime.maxMemory() / (1 << 20))
    result.note("spark", spark.version)
    result.note("master", spark.sparkContext.master)
    result.note("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    result.note("session_s", sessionS)
    if (traced) Layers.defaults(result)
    try run(ctx)
    catch {
      case t: Throwable =>
        t.printStackTrace()
        result.check(ok = false, s"workload aborted: $t")
    }
    // setup_s = session start + the workload's median set-up
    result.metrics.get("setup_s").foreach { case (v, u) =>
      result.metric("setup_s", sessionS + v, u)
    }
    val failedShare =
      if (result.attempted == 0) 1.0 else result.failed.toDouble / result.attempted
    if (traced) result.metric("failed_share", failedShare, "share")
    result.note("failed_share", failedShare)
    if (!traced) result.metric("peak_rss_mb", peakRssMb(), "MB")
    else result.note("peak_rss_mb", peakRssMb())
    ctx.mark("measured")
    Files.writeString(out.resolve("result.json"), result.toJson + "\n")
    // end the JVM here: stopping the session and running its shutdown hooks
    // takes seconds of every run, and the front-end removes the run's
    // directory
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  private def procField(file: String, key: String): Double =
    scala.io.Source.fromFile(file).getLines()
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM") / 1024.0

  def memTotalMb(): Double = procField("/proc/meminfo", "MemTotal") / 1024.0
}
