package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.nio.file.{Files, Paths}

/** Measurement harness for the optimization rounds (guide §1: measure
  * first). For each selected query it reports, on one JSON line per
  * query: wall seconds (median of iters, after one warmup), the number
  * of Spark JOBS the query launches (driver round-trips — each is a
  * collect/count/fixpoint probe), the number of STAGES (shuffle
  * boundaries + result stages), task count, cumulative executor task
  * time, and shuffle bytes written. Optionally dumps
  * `explain("formatted")` per query to `<outDir>/<name>.txt`.
  *
  * Usage: graft.Profile <sfDir> [names-csv] [plansOutDir]
  *
  * Not part of the driver contract (Bench emits the official line);
  * this exists so plan-shape claims in OPTIMIZATION_r*.md are measured,
  * not guessed.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val only = if (args.length > 1 && args(1).nonEmpty)
      Some(args(1).split(",").map(_.trim).toSet) else None
    val plansDir = if (args.length > 2) Some(args(2)) else None
    val iters = sys.env.getOrElse("SPARK_GRAFT_PROFILE_ITERS", "3").toInt

    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "8000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ONE explicit lock shared by the listener callbacks and the
    // reset/read sites (ADVICE r20: the listener's bare `synchronized`
    // locked the anonymous instance while resetCounters locked the
    // Profile object — different monitors, torn counters possible).
    val lock = new Object
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    @volatile var shufWrite = 0L
    @volatile var shufRead = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        lock.synchronized { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        lock.synchronized {
          stages += 1
          tasks += s.stageInfo.numTasks
          taskTimeMs += s.stageInfo.taskMetrics.executorRunTime
          shufWrite += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
          shufRead += s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
        }
    }
    spark.sparkContext.addSparkListener(listener)
    def resetCounters(): Unit = {
      // drain the async listener bus so a prior iteration's late
      // events cannot leak into (or past) the reset (ADVICE r20)
      org.apache.spark.graftBus.drain(spark.sparkContext)
      lock.synchronized {
        jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0L
        shufWrite = 0L; shufRead = 0L
      }
    }

    val registered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    plansDir.foreach(d => Files.createDirectories(Paths.get(d)))

    for ((name, fn) <- registered) {
      try {
        // warmup (untimed) + plan dump
        val df0 = fn(spark, sfDir)
        plansDir.foreach { d =>
          Files.writeString(Paths.get(d, s"$name.txt"),
            df0.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        }
        df0.count()
        spark.catalog.clearCache()
        val walls = (1 to iters).map { _ =>
          resetCounters()
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          dt
        }
        val med = walls.sorted.apply(iters / 2)
        // counters reflect the LAST iteration (clearCache between runs
        // makes each iteration pay the same work); drain the bus so the
        // last iteration's tail events are counted, and read them under
        // the lock so the row is not torn (ADVICE r20)
        org.apache.spark.graftBus.drain(spark.sparkContext)
        val row = lock.synchronized {
          f"""{"q":"$name","wall":$med%.3f,"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_ms":$taskTimeMs,"shuf_write":$shufWrite,"shuf_read":$shufRead}"""
        }
        println(row)
      } catch {
        case e: Throwable =>
          println(s"""{"q":"$name","err":"${Option(e.getMessage).getOrElse(e.getClass.getName).take(160).replace("\"", "'").replace("\n", " ")}"}""")
      }
    }
    spark.stop()
  }
}
