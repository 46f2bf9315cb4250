package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.TweetStream
import graft.streaming.TweetStream.KvSink

/** A KvSink wrapper that times every put into the wrapped sink and, when
  * `log` is set, records each put with its time. Serializable like every
  * KvSink; the counters live in a JVM-wide registry so task-side copies
  * (local mode) report to the same place as the driver's. */
final class TimingKvSink(inner: KvSink, log: Boolean) extends KvSink {
  val id: String = java.util.UUID.randomUUID().toString
  def put(key: String, value: String): Unit = {
    val t0 = System.nanoTime()
    inner.put(key, value)
    val t1 = System.nanoTime()
    val s = TimingKvSink.stats(id)
    s.puts.increment()
    s.nanos.add(t1 - t0)
    if (log) s.log.add((key, value, Clock.nowMs))
  }
  override def close(): Unit = inner.close()
  def puts: Long = TimingKvSink.stats(id).puts.sum()
  def putMs: Double = TimingKvSink.stats(id).nanos.sum() / 1e6
  def logged: Seq[(String, String, Double)] = TimingKvSink.stats(id).log.asScala.toSeq
}

object TimingKvSink {
  final class Stats {
    val puts = new LongAdder
    val nanos = new LongAdder
    val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Double)]()
  }
  private val registry = new ConcurrentHashMap[String, Stats]()
  def stats(id: String): Stats = registry.computeIfAbsent(id, _ => new Stats)
}

/** Workload `tweet_topn`: the paper's own job — `TweetStream.startTopN`
  * plus `startDynamicFilter` over a file source of tweet JSON lines.
  *
  * Drain phase (closed loop): a pre-written backlog is drained as fast as
  * possible, [[DrainReps]] times, each from a fresh checkpoint.
  * Live phase (open loop), for the run's seconds: one generator thread
  * publishes a file every
  * [[FileEveryMs]] at [[LiveRate]] tweets/s; event time runs at
  * [[TimeScale]]× wall time, so a 60 s slide finalizes every 50 ms. */
object TweetTopN {
  val TopN = 10
  val WindowSize = "300 seconds"
  val WindowSlide = "60 seconds"
  val Watermark = "1 second"
  val T0 = 1700000000000L // event-time origin, epoch ms

  val DrainTweets = 30000
  val DrainPerFile = 5000
  val DrainFilesPerTrigger = 2
  val DrainEventGapMs = 20L // event-time spacing in the backlog
  val DrainReps = 4 // the first warms the JVM and is not counted

  val LiveRate = 3600 // offered tweets per wall second, ~half the drain rate
  val FileEveryMs = 100L
  val TimeScale = 1200L // event ms per wall ms
  // the live queries start cold: for their first ~5 s, each trigger runs
  // faster than the last. Windows whose last event came earlier are
  // checked, but are not latency samples
  val LiveWarmMs = 5000L

  val SetupReps = 3

  private def tsCol = timestamp_millis(get_json_object(col("json"), "$.ts").cast("long"))

  /** One window's published ranking: (rank, tag, count) rows. */
  type Ranking = Seq[(Int, String, Long)]

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.result
    // ---- set-up: write the seeded backlog (repeated; median reported)
    val setupMs = (1 to SetupReps).map { i =>
      val t0 = Clock.nowMs
      writeBacklog(ctx.dir(s"backlog$i"), ctx.seed)
      Clock.nowMs - t0
    }
    r.metric("setup_s", Stats.median(setupMs) / 1000.0, "s")
    val backlog = ctx.work.resolve(s"backlog$SetupReps")
    ctx.mark("setup")
    // computed at the first drain's check, once that drain has warmed the JVM
    lazy val drainExpected = expectedRankings(spark, backlog)

    // streaming query id -> the phase span its triggers nest under
    val phaseRoot = mutable.Map.empty[String, Int]
    val queryPhase = mutable.Map.empty[String, String]

    // ---- drain phase (closed loop)
    val drainMs = (1 to DrainReps).map { rep =>
      // a traced run drains the second time with the listeners detached
      // and reports the difference to the later drains as its overhead
      if (ctx.traced) ctx.probe.tracing(rep != 2)
      val t0 = Clock.nowMs
      val ms = drainOnce(ctx, backlog, s"drain$rep", drainExpected, queryPhase)
      if (ctx.traced && rep != 2) {
        val root = ctx.probe.span(s"drain$rep", "bench", t0, t0 + ms)
        queryPhase.collect { case (id, n) if n == s"drain$rep" => phaseRoot(id) = root }
      }
      ms
    }.drop(1)
    ctx.mark("drain")
    // the median drain: the first counted one often still runs slower
    val rate = DrainTweets / (Stats.median(drainMs) / 1000.0)
    if (ctx.traced) {
      ctx.probe.tracing(true)
      r.metric("trace.overhead_pct",
        (Stats.median(drainMs.drop(1)) / drainMs.head - 1) * 100, "%")
    }
    r.metric("throughput_per_s", rate, "1/s")
    r.metric("topn_tweets_per_s", rate, "1/s")
    r.note("drain_ms.all", drainMs.map(x => math.round(x).toString).mkString(" "))
    r.note("drain_tweets", DrainTweets)

    // ---- live phase (open loop)
    val liveMs = ctx.seconds * 1000.0
    queryPhase.clear()
    val live = liveOnce(ctx, liveMs, queryPhase)
    ctx.mark("live")
    if (ctx.traced) {
      val root = ctx.probe.span("live phase", "bench", live.start, live.end)
      queryPhase.keys.foreach(id => phaseRoot(id) = root)
    }
    r.timing("result_p50_ms", live.latencies)
    r.metric("topn_emit_p50_ms", Stats.median(live.latencies), "ms")
    r.metric("topn_emit_p90_ms", Stats.pct(live.latencies, 90), "ms")
    r.note("live_seconds", liveMs / 1000.0)
    r.note("live_offered_per_s", LiveRate)
    r.note("live_sampled_windows", live.latencies.length)

    // ---- per-layer: streaming progress of the live top-N query
    val p = live.progress
    def dur(k: String) = p.map(_.durationMs.getOrDefault(k, 0L).toDouble)
    val ops = p.flatMap(_.stateOperators.headOption)
    r.metric("streaming.trigger_ms_p50", Stats.pct(dur("triggerExecution"), 50), "ms")
    r.metric("streaming.trigger_ms_p90", Stats.pct(dur("triggerExecution"), 90), "ms")
    r.metric("streaming.add_batch_ms", Stats.median(dur("addBatch")), "ms")
    r.metric("streaming.planning_ms", Stats.median(dur("queryPlanning")), "ms")
    r.metric("streaming.wal_commit_ms", Stats.median(dur("walCommit")), "ms")
    r.metric("streaming.commit_offsets_ms", Stats.median(dur("commitOffsets")), "ms")
    r.metric("streaming.latest_offset_ms", Stats.median(dur("latestOffset")), "ms")
    r.metric("streaming.micro_batches", p.length.toDouble, "count")
    r.metric("streaming.state_rows", ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
    r.metric("streaming.state_mem_bytes", ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
    r.metric("streaming.state_commit_ms", Stats.median(ops.map(_.commitTimeMs.toDouble)), "ms")
    r.metric("streaming.late_rows_dropped", ops.map(_.numRowsDroppedByWatermark.toDouble).sum, "count")
    r.metric("streaming.input_lag_files", live.lagFiles, "count")
    r.metric("streaming.gen_late_ms", live.genLateMs, "ms")
    r.metric("streaming.sink_puts", live.sinkPuts.toDouble, "count")
    r.metric("streaming.sink_put_ms", live.sinkPutMs, "ms")
    r.metric("streaming.filter_matches", live.filterMatches.toDouble, "count")
    r.note("live_planted_late_tag_rows", live.plantedLateTagRows)
    r.note("live_input_lag_files_mid", live.lagFilesMid)

    if (ctx.traced) {
      val spans = ctx.probe.spans(phaseRoot.toMap)
      Layers.report(ctx, spans)
      // single-core drain baseline, in its own local[1] session
      spark.stop()
      val one = Main.session(1, ctx.work)
      val ctx1 = new Ctx(one, new Probe(one, traced = false), ctx.seed,
        ctx.seconds, traced = false, ctx.work, ctx.out, r)
      val ms = drainOnce(ctx1, backlog, "single", drainExpected, mutable.Map.empty)
      r.metric("streaming.single_core_tweets_per_s", DrainTweets / (ms / 1000.0), "1/s")
    }
  }

  // ------------------------------------------------------------ inputs

  def writeBacklog(dir: Path, seed: Long): Unit = {
    val g = new Gen.TweetGen(seed)
    val files = DrainTweets / DrainPerFile
    (0 until files).foreach { f =>
      val sb = new java.lang.StringBuilder(DrainPerFile * 120)
      (0 until DrainPerFile).foreach { i =>
        val n = f.toLong * DrainPerFile + i
        val ts = T0 + n * DrainEventGapMs
        // late events only from the third trigger's files on: Spark drops
        // late rows against the watermark the batch BEFORE the previous
        // one set, so the first two batches keep every row
        g.line(sb, ts, ts, allowLate = f >= 2 * DrainFilesPerTrigger, lateTs = T0 - 3600000L)
      }
      // explicit, strictly increasing mtimes: the file source orders by them
      Gen.publish(dir, f"part-$f%05d.json", sb.toString, mtimeMs = 1000000000000L + f * 1000L)
    }
  }

  /** The finalized top-N per window the batch path computes over the
    * on-time feed in `dir`, in window order, with each window's end and
    * the creation time of its last contributing event. */
  def expectedRankings(spark: SparkSession, dir: Path): IndexedSeq[(Long, Ranking, Long)] = {
    val raw = spark.read.text(dir.toString).select(col("value").as("json"))
    val parsed = TweetStream.parseTweets(raw, tsCol).filter(col("id") < Gen.LateIdBase)
    val ranked = TweetStream.topNPerWindow(
      TweetStream.slidingTagCounts(TweetStream.explodeTags(parsed), WindowSize, WindowSlide, Watermark),
      TopN)
      .select(col("window.end").cast("long").as("we"), col("rank"), col("tag"), col("cnt"))
      .collect()
    // parseTweets keeps (id, text, tags, ts); the creation time rides
    // along through a join on id
    val ct = raw.select(get_json_object(col("json"), "$.id").cast("long").as("id"),
      get_json_object(col("json"), "$.ct").cast("long").as("ct"))
    val ctByWindow = parsed.join(ct, "id")
      .filter(length(col("tags")) > 0)
      .groupBy(window(col("ts"), WindowSize, WindowSlide))
      .agg(max(col("ct")).as("ct"))
      .select(col("window.end").cast("long").as("we"), col("ct"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    ranked.groupBy(_.getLong(0)).toIndexedSeq.sortBy(_._1).map { case (we, rows) =>
      (we, rows.map(x => (x.getInt(1), x.getString(2), x.getLong(3))).sortBy(_._1).toSeq,
        ctByWindow.getOrElse(we, 0L))
    }
  }

  /** Split the top-N sink's put log into per-window rankings: puts run in
    * window order and each window restarts at rank 1. */
  def emitted(log: Seq[(String, String, Double)]): IndexedSeq[(Ranking, Double)] = {
    val out = mutable.ArrayBuffer.empty[(mutable.ArrayBuffer[(Int, String, Long)], Double)]
    log.foreach { case (k, v, t) =>
      val rank = k.stripPrefix("Top10-").toInt
      val cut = v.lastIndexOf(", ")
      val row = (rank, v.substring(0, cut), v.substring(cut + 2).toLong)
      if (rank == 1 || out.isEmpty) out += ((mutable.ArrayBuffer(row), t))
      else { out.last._1 += row; out(out.length - 1) = (out.last._1, t) }
    }
    out.map { case (b, t) => (b.toSeq, t) }.toIndexedSeq
  }

  /** Count mismatches between emitted and expected rankings (emitted
    * windows must be the expected ones, in order, with equal rankings). */
  def checkRankings(r: Result, what: String, got: IndexedSeq[(Ranking, Double)],
      want: IndexedSeq[(Long, Ranking, Long)]): Unit = {
    r.check(got.nonEmpty, s"$what: no window finalized")
    got.indices.foreach { i =>
      r.check(i < want.length && got(i)._1 == want(i)._2,
        s"$what: window #$i ranking ${got(i)._1.take(3)} != " +
          s"${if (i < want.length) want(i)._2.take(3) else "none"}")
    }
  }

  /** Every dynamic-filter match must carry a tag the top-N published. */
  def checkMatches(r: Result, what: String, matches: Map[String, String],
      published: Set[String]): Unit = {
    val bad = matches.count { case (_, text) =>
      !text.split(" ").exists(w => w.startsWith("#") && published.contains(w.drop(1)))
    }
    r.check(bad == 0, s"$what: $bad filter matches carry no published tag")
  }

  private def publishedTags(log: Seq[(String, String, Double)]): Set[String] =
    log.map { case (_, v, _) => v.substring(0, v.lastIndexOf(", ")) }.toSet

  // ------------------------------------------------------------ phases

  private def start(ctx: Ctx, dir: Path, name: String, filesPerTrigger: Int,
      queryPhase: mutable.Map[String, String])
      : (StreamingQuery, StreamingQuery, TimingKvSink, TimingKvSink,
        TweetStream.InMemoryKvStore, TweetStream.InMemoryKvStore) = {
    val spark = ctx.spark
    val topStore = new TweetStream.InMemoryKvStore
    val filterStore = new TweetStream.InMemoryKvStore
    val topSink = new TimingKvSink(topStore, log = true)
    val filterSink = new TimingKvSink(filterStore, log = false)
    val state = new TweetStream.TopNState
    val ckpt = ctx.dir(s"ckpt-$name")
    val top = TweetStream.startTopN(
      TweetStream.fileJsonSource(spark, dir.toString, filesPerTrigger),
      topSink, state, TopN, WindowSize, WindowSlide, Watermark, tsCol,
      ckpt.resolve("topn").toString)
    val filter = TweetStream.startDynamicFilter(
      TweetStream.fileJsonSource(spark, dir.toString, filesPerTrigger),
      state, filterSink, tsCol, ckpt.resolve("filter").toString)
    queryPhase(top.id.toString) = name
    queryPhase(filter.id.toString) = name
    (top, filter, topSink, filterSink, topStore, filterStore)
  }

  /** Drain the backlog once and check the results; returns the ms from
    * query start until both queries had processed every file. */
  def drainOnce(ctx: Ctx, backlog: Path, name: String,
      expected: => IndexedSeq[(Long, Ranking, Long)],
      queryPhase: mutable.Map[String, String]): Double = {
    val t0 = Clock.nowMs
    val (top, filter, topSink, filterSink, topStore, filterStore) =
      start(ctx, backlog, name, DrainFilesPerTrigger, queryPhase)
    var ok = true
    try { top.processAllAvailable(); filter.processAllAvailable() }
    catch { case t: Throwable => ok = false; ctx.result.problems += s"$name: $t" }
    val ms = Clock.nowMs - t0
    top.stop(); filter.stop()
    ctx.result.ops(1, if (ok) 0 else 1)
    val log = topSink.logged
    checkRankings(ctx.result, name, emitted(log), expected)
    checkMatches(ctx.result, name, filterStore.snapshot, publishedTags(log))
    topStore.dispose(); filterStore.dispose()
    ms
  }

  final case class Live(start: Double, end: Double, latencies: Seq[Double],
      progress: Seq[StreamingQueryProgress], lagFiles: Double, lagFilesMid: Double,
      genLateMs: Double, sinkPuts: Long, sinkPutMs: Double, filterMatches: Long,
      plantedLateTagRows: Long)

  def liveOnce(ctx: Ctx, liveMs: Double, queryPhase: mutable.Map[String, String]): Live = {
    val dir = ctx.dir("live")
    val (top, filter, topSink, filterSink, topStore, filterStore) =
      start(ctx, dir, "live", 1000, queryPhase)
    val g = new Gen.TweetGen(ctx.seed + 1)
    val perFile = (LiveRate * FileEveryMs / 1000).toInt
    val startMs = Clock.nowMs + FileEveryMs
    val endMs = startMs + liveMs
    val lateness = mutable.ArrayBuffer.empty[Double]
    @volatile var stop = false
    @volatile var lagMid = -1.0
    def ingested(q: StreamingQuery) = q.recentProgress.map(_.numInputRows).sum
    val gen = new Thread(() => {
      var k = 0L
      while (!stop && startMs + (k + 1) * FileEveryMs <= endMs) {
        val due = startMs + (k + 1) * FileEveryMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        lateness += Clock.nowMs - due
        // see writeBacklog: late events only once two batches have run
        val allowLate = top.recentProgress.count(_.numInputRows > 0) >= 2
        val sb = new java.lang.StringBuilder(perFile * 120)
        (0 until perFile).foreach { i =>
          val n = k * perFile + i
          val ct = startMs + n * 1000.0 / LiveRate
          val ts = T0 + ((ct - startMs) * TimeScale).toLong
          g.line(sb, ts, ct.toLong, allowLate, T0 - 3600000L)
        }
        Gen.publish(dir, f"live-$k%06d.json", sb.toString)
        if (lagMid < 0 && due >= startMs + liveMs / 2)
          lagMid = (g.lines - ingested(top)).toDouble / perFile
        k += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    val lagEnd = (g.lines - ingested(top)).toDouble / perFile
    val end = Clock.nowMs
    top.stop(); filter.stop()
    ctx.mark("live_stopped")
    ctx.result.ops(1)

    val want = expectedRankings(ctx.spark, dir)
    val got = emitted(topSink.logged)
    checkRankings(ctx.result, "live", got, want)
    checkMatches(ctx.result, "live", filterStore.snapshot, publishedTags(topSink.logged))
    val latencies = got.indices
      .filter(i => i < want.length && want(i)._3 >= startMs + LiveWarmMs)
      .map(i => got(i)._2 - want(i)._3)
    val progress = top.recentProgress.toSeq.filter(_.numInputRows >= 0)
    val l = Live(startMs, end, latencies, progress, lagEnd, lagMid,
      if (lateness.isEmpty) 0.0 else Stats.median(lateness.toSeq), topSink.puts,
      topSink.putMs + filterSink.putMs, filterSink.puts, g.lateTagRows)
    topStore.dispose(); filterStore.dispose()
    l
  }
}
