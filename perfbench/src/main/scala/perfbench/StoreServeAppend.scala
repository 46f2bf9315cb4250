package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.Tables
import graft.queries.RetrievalOps

/** Workload `store_serve_append`: the hybrid retrieval store (sparse BM25
  * leg + IVF-PQ dense leg + float sidecar, sealed together by a
  * `GenerationManifest` window) fed seeded delta slices by one client
  * (closed loop). A round reads one slice through `graft.Tables`, appends
  * it (with any compaction the window rule triggers), then serves the
  * hybrid ranking. Two warm-up rounds, the second with a compaction, serve
  * [[WarmServes]] times each; their operations are counted and checked,
  * but are not timing samples. The measured round runs for the run's
  * seconds: an append, then serves until the time is up, at least
  * [[MinServes]]; a traced run then runs the drift review once. At the
  * end, the last serve must equal the serve of a fresh build over the same
  * rows. */
object StoreServeAppend {
  val BaseDocs = 250
  val SliceDocs = 20
  val WarmRounds = 2
  val Slices = WarmRounds + 1 // one for each round
  val MaxGens = 2L // compact when a window spans more generations
  val WarmServes = 1
  // reads outnumber writes; the first serve after an append is slower than
  // the rest, so the median serve is one of the others
  val MinServes = 5

  final case class Data(base: Seq[Gen.Doc], slices: IndexedSeq[Seq[Gen.Doc]])

  def data(seed: Long): Data = {
    val all = Gen.docs(seed, BaseDocs + SliceDocs * Slices)
    Data(all.take(BaseDocs), all.drop(BaseDocs).grouped(SliceDocs).toIndexedSeq)
  }

  private def frames(ctx: Ctx, docs: Seq[Gen.Doc]): (DataFrame, DataFrame) =
    (Gen.docsFrame(ctx.spark, docs), Gen.embFrame(ctx.spark, ctx.seed, docs.map(_.id)))

  /** Land a delta slice as parquet tables, the way a crawl delivers it. */
  private def land(ctx: Ctx, docs: Seq[Gen.Doc], dir: Path): Unit = {
    val (d, e) = frames(ctx, docs)
    d.write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    e.write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
  }

  /** Raw bytes of the appended input: text plus 64 floats per embedding. */
  private def inputBytes(docs: Seq[Gen.Doc]): Double =
    docs.map(d => d.text.length + 8 + 4 * graft.queries.SimilarityOps.Dim + 12).sum.toDouble

  def build(ctx: Ctx, docs: Seq[Gen.Doc], hybrid: Path): Unit = {
    val (d, e) = frames(ctx, docs)
    RetrievalOps.writeHybridIndex(d, e, hybrid.toString)
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def disk(p: Path): (Double, Double) = {
    val files = Files.walk(p).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
    (files.map(Files.size).sum.toDouble, files.length.toDouble)
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.result
    val probe = ctx.probe
    val spark = ctx.spark
    val d = data(ctx.seed)
    // one build: at ~15 s a cold build, repeating it for a median would
    // not fit the benchmark's run budget
    val t0 = Clock.nowMs
    build(ctx, d.base, ctx.work.resolve("hybrid"))
    r.metric("setup_s", (Clock.nowMs - t0) / 1000.0, "s")
    ctx.mark("setup")
    val hybrid = ctx.work.resolve("hybrid").toString

    val readMs, appendMs, hybridMs, driftMs, warmMs = mutable.ArrayBuffer.empty[Double]
    // in the measured round a traced run serves with the listeners detached
    // and attached in turn, from the second serve on, alternating the order
    // from pair to pair, and reports the difference as its overhead
    val pairs = mutable.ArrayBuffer.empty[(Double, Double)]
    var compactions = 0
    // generations in the live window: a build seals one, an append adds
    // one, a compaction folds the window into one
    var hybridGens = 1L
    var measuring = false
    var ops = 0
    var lastHybrid: Seq[String] = Nil
    def timed(into: mutable.ArrayBuffer[Double]) = if (measuring) into else warmMs
    def op[T](name: String, into: mutable.ArrayBuffer[Double], layer: String = "store")(
        f: => T): Option[T] =
      try {
        val (out, ms) = probe.call(name, layer)(f)
        into += ms
        if (measuring) ops += 1
        r.ops(1)
        Some(out)
      } catch { case t: Throwable => r.ops(1, 1); r.problems += s"$name: $t"; None }

    def appendSlice(i: Int): Unit = {
      val sliceDir = ctx.dir(s"slice$i")
      land(ctx, d.slices(i), sliceDir)
      // read the landed slice through graft.Tables, materialized once for
      // the append's several passes
      val (sd, se) = op("slice read", timed(readMs), "Tables") {
        (Tables.documents(spark, sliceDir.toString).localCheckpoint(),
          Tables.embeddings(spark, sliceDir.toString).localCheckpoint())
      }.get
      op("append", timed(appendMs)) {
        RetrievalOps.appendHybridIndex(sd, se, hybrid)
        hybridGens += 1
        if (RetrievalOps.maybeCompactHybridIndex(spark, hybrid, MaxGens)) {
          compactions += 1; hybridGens = 1
        }
      }
    }
    def serve(what: String): Double = {
      val before = hybridMs.length
      op("hybrid serve", timed(hybridMs))(rowsOf(RetrievalOps.hybridServeAt(spark, hybrid)))
        .foreach { rows =>
          r.check(rows.nonEmpty, s"hybrid serve $what is empty")
          lastHybrid = rows
        }
      hybridMs.drop(before).sum
    }

    // ---- warm-up rounds: load and generate the append, compaction and
    // serve paths' code (the second append compacts the window)
    (0 until WarmRounds).foreach { k =>
      appendSlice(k)
      (1 to WarmServes).foreach(i => serve(s"#$i of warm-up round ${k + 1}"))
    }
    ctx.mark("warm")

    // ---- measured round, for --seconds
    measuring = true
    val loopStart = Clock.nowMs
    val deadline = loopStart + ctx.seconds * 1000.0
    appendSlice(WarmRounds)
    var n = 0
    var open = 0.0 // the first serve's ms of the pair under way
    while (n < MinServes || Clock.nowMs < deadline) {
      // serve n >= 1 is position (n - 1) % 2 of pair (n - 1) / 2
      val pos = (n - 1) % 2
      val on = n == 0 || ((n - 1) / 2 + pos) % 2 == 0
      if (ctx.traced) probe.tracing(on)
      val ms = serve(s"#${n + 1} of the measured round")
      if (ctx.traced) probe.tracing(true)
      if (n > 0 && pos == 0) open = ms
      else if (n > 0) pairs += (if (on) (ms, open) else (open, ms))
      n += 1
    }
    val loopS = (Clock.nowMs - loopStart) / 1000.0
    val loopOps = ops
    ctx.mark("rounds")
    // the window holds two generations now, so a traced run runs the drift
    // review (the head against the generation below it) once: at ~3.5 s a
    // review, the untraced run's budget has no room for it, and its
    // latency is a per-layer figure
    if (ctx.traced)
      op("drift serve", driftMs)(rowsOf(RetrievalOps.hybridDriftServed(spark, hybrid)))
        .foreach(rows => r.check(rows.length == 1, s"drift review has ${rows.length} rows"))

    r.timing("result_p50_ms", hybridMs.toSeq)
    r.metric("throughput_per_s", loopOps / loopS, "1/s")
    r.timing("hybrid_serve_p50_ms", hybridMs.toSeq)
    r.timing("drift_serve_p50_ms", driftMs.toSeq)
    r.timing("append_p50_ms", appendMs.toSeq)
    r.note("measured_serves", n)
    r.note("slice_docs", SliceDocs)
    r.note("base_docs", BaseDocs)
    if (ctx.traced) r.metric("Tables.read_ms", Stats.median(readMs), "ms")

    val rows = d.base ++ d.slices.flatten
    val (bytes, files) = disk(ctx.work.resolve("hybrid"))
    r.metric("store_bytes_ratio", bytes / inputBytes(rows), "ratio")

    if (ctx.traced) {
      def jobs(name: String) = probe.byCall.get(name).map(_.jobs.toDouble).getOrElse(0.0)
      r.metric("store.append_jobs", jobs("append"), "count")
      r.metric("store.serve_jobs", jobs("hybrid serve") + jobs("drift serve"), "count")
      r.metric("store.compactions", compactions.toDouble, "count")
      r.metric("store.generations_live", hybridGens.toDouble, "count")
      r.metric("store.bytes_on_disk", bytes, "bytes")
      r.metric("store.files_on_disk", files, "count")
      if (pairs.nonEmpty)
        r.metric("trace.overhead_pct",
          pairs.map { case (on, off) => (on / off - 1) * 100 }.sum / pairs.length, "%")
      Layers.report(ctx, probe.spans())
    }

    // ---- the last serve must equal a fresh build's over the same rows
    val fresh = ctx.work.resolve("fresh-hybrid")
    build(ctx, rows, fresh)
    r.check(rowsOf(RetrievalOps.hybridServeAt(spark, fresh.toString)) == lastHybrid,
      "final hybrid serve differs from a fresh build over the same rows")
    r.note("hybrid_rows", lastHybrid.length)
  }
}
