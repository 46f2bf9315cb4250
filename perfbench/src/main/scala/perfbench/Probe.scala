package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond steps: the wall clock read
  * once, advanced by the monotonic clock. One JVM-wide base, so driver
  * and task threads stamp comparable times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. Times are epoch milliseconds; `parent` is -1 for a
  * root span. */
final case class Span(id: Int, name: String, layer: String,
    start: Double, end: Double, parent: Int)

/** Spark counters summed over the jobs of one call (or of several). */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, gcMs, fetchWaitMs, schedDelayMs = 0L
  var cpuMs, planningMs = 0.0
  var shuffleWrite, shuffleRead, spill, input = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; gcMs += o.gcMs; fetchWaitMs += o.fetchWaitMs
    schedDelayMs += o.schedDelayMs; cpuMs += o.cpuMs; planningMs += o.planningMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input
  }

  def copy(): Counters = { val c = new Counters; c.add(this); c }
}

/** Spark's public listeners, registered by the benchmark: job, stage and
  * task events (attributed to a call by the job group the benchmark sets
  * around it), query-planning phases, and streaming trigger progress.
  * Every counter is written and read under one lock, and a read first
  * drains the listener bus and waits until every job the call started
  * has ended — no settle sleep. */
final class Collector(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  final class JobRec(val id: Int, val group: String, val queryId: String,
      val start: Long) { var end: Long = -1L }
  final case class StageRec(id: Int, job: Int, start: Long, end: Long)

  private val lock = new Object
  private val byGroup = mutable.HashMap.empty[String, Counters]
  private val open = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobList = mutable.ArrayBuffer.empty[JobRec]
  private val stageList = mutable.ArrayBuffer.empty[StageRec]
  private val progressList = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  @volatile var currentGroup: String = ""

  private def agg(group: String) = byGroup.getOrElseUpdate(group, new Counters)
  private def groupOfStage(stageId: Int): String =
    stageJob.get(stageId).flatMap(jobs.get).map(_.group).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val rec = new JobRec(e.jobId, prop("spark.jobGroup.id"),
      prop("sql.streaming.queryId"), e.time)
    jobs(e.jobId) = rec
    jobList += rec
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    open(rec.group) += 1
    agg(rec.group).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach { r =>
      r.end = e.time
      open(r.group) -= 1
    }
    lock.notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val si = e.stageInfo
      agg(groupOfStage(si.stageId)).stages += 1
      stageList += StageRec(si.stageId, stageJob.getOrElse(si.stageId, -1),
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val a = agg(groupOfStage(e.stageId))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuMs += m.executorCpuTime / 1e6
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      val i = e.taskInfo
      a.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    lock.synchronized { agg(currentGroup).planningMs += ms }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progressList += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streamListener)
  }

  /** Deliver every pending event, then wait until the group's jobs have
    * all ended. Returns false if some job was still open at the deadline. */
  def settle(group: String, timeoutMs: Long = 60000L): Boolean = {
    PerfbenchBus.drain(spark.sparkContext, timeoutMs)
    val deadline = System.currentTimeMillis() + timeoutMs
    lock.synchronized {
      var left = deadline - System.currentTimeMillis()
      while (open(group) > 0 && left > 0) {
        lock.wait(left)
        left = deadline - System.currentTimeMillis()
      }
      open(group) == 0
    }
  }

  def counters(group: String): Counters = lock.synchronized { agg(group).copy() }

  def jobRecords: Seq[JobRec] = lock.synchronized(jobList.toList)
  def stageRecords: Seq[StageRec] = lock.synchronized(stageList.toList)
  def progress: Seq[StreamingQueryProgress] = lock.synchronized(progressList.toList)
}

/** The benchmark's timing front. Every call into a graft layer goes
  * through [[call]], which times it; when tracing, it also sets a job
  * group around the call, settles the collector afterwards and records
  * the call's span and counters. */
final class Probe(val spark: SparkSession, val traced: Boolean) {
  def nowMs: Double = Clock.nowMs

  val collector: Option[Collector] =
    if (traced) { val c = new Collector(spark); c.install(); Some(c) } else None

  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val callGroups = mutable.HashMap.empty[String, Int]
  val byLayer = mutable.LinkedHashMap.empty[String, Counters]
  val byCall = mutable.LinkedHashMap.empty[String, Counters]
  var unsettled = 0
  private var seq = 0
  private var on = traced

  /** Detach (false) or re-attach (true) the listeners of a traced run, so
    * it can measure stretches without them and report its own overhead. */
  def tracing(b: Boolean): Unit = if (traced && b != on) {
    if (b) collector.get.install() else collector.get.uninstall()
    on = b
  }

  def span(name: String, layer: String, start: Double, end: Double,
      parent: Int = -1): Int = synchronized {
    val id = spanBuf.length
    spanBuf += Span(id, name, layer, start, end, parent)
    id
  }

  /** Run `f` as one call into `layer`; returns its result and wall ms. */
  def call[T](name: String, layer: String)(f: => T): (T, Double) = {
    val sc = spark.sparkContext
    val group = s"pb-$seq-$name"
    seq += 1
    if (on) {
      sc.setJobGroup(group, name, interruptOnCancel = false)
      collector.get.currentGroup = group
    }
    val t0 = nowMs
    val out =
      try f
      finally if (on) sc.clearJobGroup()
    val t1 = nowMs
    if (on) {
      val c = collector.get
      if (!c.settle(group)) unsettled += 1
      val counters = c.counters(group)
      byLayer.getOrElseUpdate(layer, new Counters).add(counters)
      byCall.getOrElseUpdate(name, new Counters).add(counters)
      callGroups(group) = span(name, layer, t0, t1)
    }
    (out, t1 - t0)
  }

  /** All spans: the calls and phases recorded so far, plus the Spark jobs
    * and stages under them, and each streaming trigger under the span
    * `triggerParent` names for its query id. */
  def spans(triggerParent: Map[String, Int] = Map.empty): Seq[Span] = {
    val base = synchronized(spanBuf.toList)
    val c = collector.getOrElse(return base)
    val out = mutable.ArrayBuffer.empty[Span] ++= base
    def add(name: String, layer: String, s: Double, e: Double, p: Int): Int = {
      out += Span(out.length, name, layer, s, e, p); out.length - 1
    }
    // trigger spans, one per streaming progress report
    val triggers = c.progress.flatMap { p =>
      triggerParent.get(p.id.toString).map { parent =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
        (p.id.toString, s, s + d,
          add(s"trigger ${p.id}#${p.batchId}", "streaming", s, s + d, parent))
      }
    }
    val jobSpan = mutable.HashMap.empty[Int, Int]
    c.jobRecords.filter(_.end >= 0).foreach { j =>
      val parent = callGroups.get(j.group).orElse(
        triggers.find(t => t._1 == j.queryId && t._2 <= j.start && j.start <= t._3)
          .map(_._4))
      parent.foreach(p =>
        jobSpan(j.id) = add(s"job ${j.id}", "spark.job", j.start, j.end, p))
    }
    c.stageRecords.foreach { s =>
      jobSpan.get(s.job).foreach(p =>
        add(s"stage ${s.id}", "spark.stage", s.start, s.end, p))
    }
    out.toList
  }
}

object Spans {
  /** Exclusive time per layer: every instant of a root span's interval is
    * charged to the deepest span active at that instant, so the layers'
    * self times add up to the roots' wall time exactly. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    spans.filter(_.parent < 0).foreach { root =>
      val sub = mutable.ArrayBuffer.empty[(Span, Int)]
      def walk(s: Span, d: Int): Unit = {
        val clipped = s.copy(start = math.max(s.start, root.start),
          end = math.min(s.end, root.end))
        if (clipped.end > clipped.start) {
          sub += ((clipped, d))
          kids.getOrElse(s.id, Nil).foreach(walk(_, d + 1))
        }
      }
      walk(root, 0)
      val cuts = sub.flatMap(x => Seq(x._1.start, x._1.end)).distinct.sorted.toIndexedSeq
      (1 until cuts.length).foreach { i =>
        val (a, b) = (cuts(i - 1), cuts(i))
        val deepest = sub.filter(x => x._1.start <= a && x._1.end >= b).maxBy(_._2)
        out(deepest._1.layer) = out(deepest._1.layer) + (b - a)
      }
    }
    out.toMap
  }

  def writeJsonl(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""")
        .append(f"""\"start\":${s.start}%.3f,\"end\":${s.end}%.3f,\"parent\":${s.parent}}""")
        .append('\n')
    }
    java.nio.file.Files.writeString(path, sb.result())
  }
}
