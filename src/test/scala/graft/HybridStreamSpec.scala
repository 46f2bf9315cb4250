package graft

import graft.queries.{DedupOps, GenerationManifest, RetrievalOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** One correlated row per document — [[graft.streaming.HybridIndexStream]]'s
  * input contract: the text AND the embedding travel together so the
  * two legs can never skew. */
case class HybridDoc(
    doc_id: Long, text: String, label: String, embedding: Array[Float])

/** Specs for the streaming hybrid-store maintenance loop: per-batch
  * correlated seals must converge to the batch rebuild (the q120
  * append ≡ rebuild theorem applied inductively over micro-batches),
  * and at-least-once redelivery must be a pruned no-op. */
class HybridStreamSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("hybrid maintenance stream: per-batch correlated seals converge to the full-corpus rebuild; replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables.documents(spark, sf).select($"doc_id", $"text")
      .join(Tables.embeddings(spark, sf).withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id"))
      .select($"doc_id", $"text", $"label", $"embedding")
      .as[HybridDoc].collect().toSeq.sortBy(_.doc_id)
    val (base, delta) = corpus.partition(d =>
      d.doc_id % DedupOps.DeltaMod != DedupOps.DeltaRem)
    assert(delta.nonEmpty, "fixture vacuous: empty delta split")

    // build on the sealed base (q120's split), stream the delta in
    // three micro-batches through the maintenance sink
    val idx = tmp("graft-hybrid-stream")
    val baseDf = spark.createDataset(base).toDF()
    RetrievalOps.writeHybridIndex(
      baseDf.select($"doc_id", $"text"),
      baseDf.select($"doc_id".as("vec_id"), $"label", $"embedding"), idx)
    val in = MemoryStream[HybridDoc]
    val q = graft.streaming.HybridIndexStream.sink(
      in.toDF(), idx, tmp("graft-hybrid-stream-ck"))
    // grouped() may yield fewer groups than the nominal 3 for small
    // fixtures (size 4 → 2 groups) — derive the expected window from
    // the ACTUAL batch count instead of hard-coding it
    val batches = delta.grouped((delta.size + 2) / 3).toSeq
    try {
      batches.foreach { b =>
        in.addData(b)
        q.processAllAvailable()
      }
    } finally q.stop()

    // every micro-batch sealed one correlated generation (legs in
    // lockstep with the hybrid window), and the served ranking equals
    // the full-corpus composed hybrid — append ≡ rebuild inductively
    val (lo, hi) = GenerationManifest.window(idx)
    assert((lo, hi) == ((1L, 1L + batches.size)),
      s"expected ${batches.size} streamed seals, got [$lo, $hi]")
    assert(batches.size >= 2, "fixture vacuous: a single streamed batch")
    assert(GenerationManifest.window(s"$idx/sparse") == ((lo, hi)),
      "sparse leg fell out of lockstep")
    assert(GenerationManifest.window(s"$idx/dense") == ((lo, hi)),
      "dense leg fell out of lockstep")
    val atHead = rows(RetrievalOps.hybridServeAt(spark, idx))
    assert(atHead == rows(RetrievalOps.q83HybridIndexed(spark, sf)),
      "stream-maintained hybrid diverged from the batch rebuild")

    // at-least-once: redelivering an already-sealed batch (the crash
    // window between the hybrid flip and the checkpoint commit) must
    // be a pruned no-op — window unchanged, serve unchanged
    val replay = spark.createDataset(delta.take(20)).toDF()
    RetrievalOps.appendHybridIndex(
      replay.select($"doc_id", $"text"),
      replay.select($"doc_id".as("vec_id"), $"label", $"embedding"), idx)
    assert(GenerationManifest.window(idx) == ((lo, hi)),
      "replayed batch advanced the hybrid window")
    assert(rows(RetrievalOps.hybridServeAt(spark, idx)) == atHead,
      "replayed batch changed the served ranking")
  }

  test("crashed dense-leg retrain: the stream rolls it forward at the batch head; serve equals the uncrashed twin") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables.documents(spark, sf).select($"doc_id", $"text")
      .join(Tables.embeddings(spark, sf).withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id"))
      .select($"doc_id", $"text", $"label", $"embedding")
      .as[HybridDoc].collect().toSeq.sortBy(_.doc_id)
    val (base, delta) = corpus.partition(d =>
      d.doc_id % DedupOps.DeltaMod != DedupOps.DeltaRem)
    def docsOf(rows: Seq[HybridDoc]) =
      spark.createDataset(rows).toDF().select($"doc_id", $"text")
    def embOf(rows: Seq[HybridDoc]) = spark.createDataset(rows).toDF()
      .select($"doc_id".as("vec_id"), $"label", $"embedding")
    def build(path: String): Unit =
      RetrievalOps.writeTrainedHybridIndex(docsOf(base), embOf(base), path)
    // the TWIN: the same retrain runs to COMPLETION, then the same
    // delta appends — training is deterministic (SimilarityOpsSpec
    // pins it), so every healed store must serve bit-identically
    val twin = tmp("graft-hybrid-heal-twin")
    build(twin)
    assert(!RetrievalOps.maybeResumeHybridRetrain(spark, twin),
      "resume must be a no-op on a store with no pending retrain")
    RetrievalOps.retrainHybridDense(spark, twin, ivfIters = 3, pqIters = 3)
    RetrievalOps.appendHybridIndex(docsOf(delta), embOf(delta), twin)
    val want = rows(RetrievalOps.hybridServeAt(spark, twin))

    // kill the retrain at every stage boundary: after the intent (0),
    // the dense epoch snapshot (1), the sparse empty seal (2 — BETWEEN
    // the leg flips), and the float footer (3). Stages 1-3 heal
    // through the STREAM's head-of-batch resume (pure roll-forward, no
    // re-training, so iteration counts cannot diverge from the twin);
    // stage 0 heals through the direct resume with the twin's counts
    // (the dense snapshot itself re-runs there).
    Seq(0, 1, 2, 3).foreach { stage =>
      val idx = tmp(s"graft-hybrid-heal-$stage")
      build(idx)
      // the intent amend's flip, the dense and sparse legs' flips, and
      // the publishing flip (the second flip:before at the root — the
      // intent amend's is the first)
      val (seam, nth) = Seq((s"flip:after:$idx", 1),
        (s"flip:after:$idx/dense", 1), (s"flip:after:$idx/sparse", 1),
        (s"flip:before:$idx", 2))(stage)
      crashAt(seam, nth)(
        RetrievalOps.retrainHybridDense(spark, idx, 3, 3))
      assert(GenerationManifest.state(idx).pending.contains(("R", 2L)),
        s"stage $stage: crash did not leave the pending intent")
      if (stage == 1) {
        // mid-retrain states refuse appends and folds loudly, naming
        // the roll-forward — never a misserve, never a silent skip
        val ea = intercept[IllegalArgumentException] {
          RetrievalOps.appendHybridIndex(docsOf(delta), embOf(delta), idx)
        }
        assert(ea.getMessage.contains("retrainHybridDense"), ea.getMessage)
        val ec = intercept[IllegalArgumentException] {
          RetrievalOps.compactHybridIndex(spark, idx)
        }
        assert(ec.getMessage.contains("retrainHybridDense"), ec.getMessage)
      }
      if (stage == 0)
        assert(RetrievalOps.maybeResumeHybridRetrain(spark, idx,
          ivfIters = 3, pqIters = 3),
          "resume must report it rolled the retrain forward")
      val in = MemoryStream[HybridDoc]
      val q = graft.streaming.HybridIndexStream.sink(
        in.toDF(), idx, tmp(s"graft-hybrid-heal-ck-$stage"))
      try {
        in.addData(delta)
        q.processAllAvailable()
      } finally q.stop()
      // healed: intent cleared, epoch recorded, legs in lockstep,
      // the delta appended, and the serve equals the uncrashed twin
      assert(GenerationManifest.state(idx).pending.isEmpty,
        s"stage $stage: the stream did not clear the retrain intent")
      assert(GenerationManifest.epochs(idx) == Seq(2L),
        s"stage $stage: the healed retrain lost its epoch record")
      assert(GenerationManifest.window(idx) == ((1L, 3L)),
        s"stage $stage: heal + append sealed the wrong window")
      Seq("sparse", "dense").foreach(n =>
        assert(GenerationManifest.window(s"$idx/$n") == ((1L, 3L)),
          s"stage $stage: leg '$n' fell out of lockstep"))
      assert(rows(RetrievalOps.hybridServeAt(spark, idx)) == want,
        s"stage $stage: healed store diverged from the uncrashed twin")
    }
  }

  test("in-loop compaction cadence: the window stays folded across batches and the serve still equals the rebuild") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Tables.documents(spark, sf).select($"doc_id", $"text")
      .join(Tables.embeddings(spark, sf).withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id"))
      .select($"doc_id", $"text", $"label", $"embedding")
      .as[HybridDoc].collect().toSeq.sortBy(_.doc_id)
    val (base, delta) = corpus.partition(d =>
      d.doc_id % DedupOps.DeltaMod != DedupOps.DeltaRem)
    val idx = tmp("graft-hybrid-stream-cadence")
    val baseDf = spark.createDataset(base).toDF()
    RetrievalOps.writeHybridIndex(
      baseDf.select($"doc_id", $"text"),
      baseDf.select($"doc_id".as("vec_id"), $"label", $"embedding"), idx)
    val in = MemoryStream[HybridDoc]
    // cadence 1: every batch head past a 1-gen window folds first —
    // batch k sees (n, n+1), compacts to (m, m), appends to (m, m+1)
    val q = graft.streaming.HybridIndexStream.sink(
      in.toDF(), idx, tmp("graft-hybrid-stream-cadence-ck"),
      compactPastGens = Some(1L))
    try {
      delta.grouped((delta.size + 2) / 3).foreach { b =>
        in.addData(b)
        q.processAllAvailable()
      }
    } finally q.stop()
    val (lo, hi) = GenerationManifest.window(idx)
    assert(hi - lo + 1 <= 2,
      s"cadence did not hold the window down: [$lo, $hi]")
    assert(rows(RetrievalOps.hybridServeAt(spark, idx))
      == rows(RetrievalOps.q83HybridIndexed(spark, sf)),
      "cadence-folded stream diverged from the batch rebuild")
    // round 20: the folds RETAINED their replaced generations (no
    // mutation reclaims committed history) …
    def gens(sub: String): Seq[Long] = {
      val d = new java.io.File(s"$idx/$sub")
      if (!d.isDirectory) Seq.empty
      else d.listFiles().map(_.getName).filter(_.startsWith("gen="))
        .map(_.stripPrefix("gen=").toLong).sorted.toSeq
    }
    assert(gens("sparse").exists(_ < lo),
      "compactions reclaimed replaced history eagerly (retention broken)")
    // … and the in-loop gc cadence is the reclamation point: rerun the
    // sink over an already-sealed batch (idempotent replay) with
    // gcRetainGens = 0 — the head-of-batch gc advances the committed
    // floor to lo and reclaims, and the serve is untouched
    val served = rows(RetrievalOps.hybridServeAt(spark, idx))
    val in2 = MemoryStream[HybridDoc]
    val q2 = graft.streaming.HybridIndexStream.sink(
      in2.toDF(), idx, tmp("graft-hybrid-stream-cadence-ck2"),
      gcRetainGens = Some(0L))
    try {
      in2.addData(delta.take(3)); q2.processAllAvailable()
    } finally q2.stop()
    assert(GenerationManifest.state(idx).floor == GenerationManifest.window(idx)._1,
      "in-loop gc did not commit the floor")
    Seq("sparse", "dense").foreach { leg =>
      val (legLo, _) = GenerationManifest.window(s"$idx/$leg")
      assert(gens(leg).forall(_ >= legLo),
        s"in-loop gc left sub-floor history in '$leg': ${gens(leg)}")
    }
    assert(rows(RetrievalOps.hybridServeAt(spark, idx)) == served,
      "in-loop gc changed serving results")
  }
}
