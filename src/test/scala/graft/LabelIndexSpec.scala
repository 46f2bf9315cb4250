package graft

import graft.queries.{DedupOps, GenerationManifest, SimilarityOps}
import org.apache.spark.sql.functions._

/** The duplicate-family LABEL index (round 14): build/append/serve/
  * compact under the shared GenerationManifest protocol, served twins
  * row-identical to the recomputing q47/q80/q104 forms, and the merge
  * journal's remap semantics (the one contract no other index needs:
  * an append can REWRITE history — two sealed families merging — and
  * must do it in O(delta), not O(base)). */
class LabelIndexSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def servedRows(path: String): Seq[(Long, Long)] =
    DedupOps.labelsServe(spark, path)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("append == rebuild on the fixture: base build + delta append serves the full-corpus q43 closure") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val idx = tmp("graft-label-append")
    DedupOps.writeLabelIndex(
      docs.filter($"doc_id" % DedupOps.DeltaMod =!= DedupOps.DeltaRem), idx)
    DedupOps.appendLabelIndex(
      docs.filter($"doc_id" % DedupOps.DeltaMod === DedupOps.DeltaRem), idx)
    val got = servedRows(idx)
    val want = DedupOps.withQ43DupClusters(spark, sf)(_.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(want.nonEmpty, "fixture closure is vacuous")
    assert(got == want, "append diverged from the full-corpus rebuild")
    assert(org.apache.spark.sql.graftShims.cacheIsEmpty(spark),
      "label index mutations leaked cached frames")
  }

  test("writer fence (round 19): a stream append racing an out-of-band compaction refuses the fold loudly; the append survives") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val idx = tmp("graft-label-race")
    // two sealed generations so the fold has something to do
    DedupOps.writeLabelIndex(docs.filter($"doc_id" % 3 === 0), idx)
    DedupOps.appendLabelIndex(docs.filter($"doc_id" % 3 === 1), idx)
    assert(GenerationManifest.window(idx) == ((1L, 2L)))
    // THE RACE (the r18 verdict's exactly-two-writers case): a nightly
    // out-of-band fold reads the manifest and rewrites its artifacts;
    // while it works, the maintenance stream's append lands in full
    // (leading purge reclaims the fold's half-done gen-3 debris, then
    // intent-free artifact writes + flip). The fold's publishing flip
    // must trip the FENCE — pre-r19 it committed (3, 3) over the
    // append's (1, 3), silently un-publishing the appended generation
    // across every artifact at once.
    val delta = docs.filter($"doc_id" % 3 === 2)
    val e = intercept[IllegalStateException] {
      DedupOps.compactLabelSeamed(spark, idx, () =>
        DedupOps.appendLabelIndex(delta, idx))
    }
    assert(e.getMessage.contains("fence token"), e.getMessage)
    // the append's generation survived — the race lost loudly, not
    // silently: the served labels equal the full-corpus closure
    assert(GenerationManifest.window(idx) == ((1L, 3L)))
    val want = DedupOps.withQ43DupClusters(spark, sf)(_.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(want.nonEmpty, "fixture closure is vacuous")
    assert(servedRows(idx) == want,
      "the racing append's generation was damaged by the refused fold")
    // the refused fold RETRIES cleanly on the fresh state and folds
    // all three generations — serve unchanged across the flip
    DedupOps.compactLabelIndex(spark, idx)
    assert(GenerationManifest.window(idx) == ((4L, 4L)))
    assert(servedRows(idx) == want,
      "the retried fold changed the served labels")

    // THE REVERSE RACE: the fold lands while an APPEND's artifacts are
    // staged — pre-r19 the append's flip set hi from its STALE read,
    // silently claiming the fold's snapshot generation as its own (a
    // corrupt window wearing a valid shape); the operation-start fence
    // refuses it instead. The fold's leading purge reclaims the
    // append's staged artifacts as debris, so the store is exactly the
    // folded state and the retried append lands as the next generation.
    val idx2 = tmp("graft-label-race-rev")
    DedupOps.writeLabelIndex(docs.filter($"doc_id" % 3 === 0), idx2)
    DedupOps.appendLabelIndex(docs.filter($"doc_id" % 3 === 1), idx2)
    val e2 = intercept[IllegalStateException] {
      DedupOps.appendLabelSeamed(delta, idx2,
        threshold = 0.6, bands = 16, rows = 4,
        beforeFlip = () => DedupOps.compactLabelIndex(spark, idx2))
    }
    assert(e2.getMessage.contains("fence token"), e2.getMessage)
    assert(GenerationManifest.window(idx2) == ((3L, 3L)),
      "the refused append damaged the folded window")
    DedupOps.appendLabelIndex(delta, idx2)
    assert(GenerationManifest.window(idx2) == ((3L, 4L)))
    assert(servedRows(idx2) == want,
      "the retried append diverged from the full-corpus closure")
  }

  test("merge journal: a delta bridge merges two sealed families via remap, O(merge-events) rows") {
    import spark.implicits._
    // two sealed families A = {10, 11}, B = {20, 21} — within-family
    // 3-shingle Jaccard 5/7 ≈ 0.71, cross-family 0. At threshold 0.4
    // the bridge doc (halves of one A text and one B text) verifies
    // against both families but A and B never verify against each other.
    // banding: 64 bands x 1 row — at the bridge's J = 6/14 ≈ 0.43 the
    // default 16x4 misses the candidate outright (P(band) = J⁴ ≈ 0.03);
    // with 1-row bands a candidate needs only ONE of 64 minhashes to
    // agree (miss probability (1−J)⁶⁴ ≈ 4·10⁻¹⁶, and deterministic for
    // these fixed strings/hashes). Exact verify keeps the output
    // semantics identical regardless of banding.
    val t = 0.4
    val (bandsN, rowsN) = (64, 1)
    val a1 = "a1 a2 a3 a4 a5 a6 a7 a8"
    val a2 = "a1 a2 a3 a4 a5 a6 a7 x8"
    val b1 = "b1 b2 b3 b4 b5 b6 b7 b8"
    val b2 = "b1 b2 b3 b4 b5 b6 b7 y8"
    val base = Seq((10L, a1), (11L, a2), (20L, b1), (21L, b2))
      .toDF("doc_id", "text")
    val idx = tmp("graft-label-merge")
    DedupOps.writeLabelIndex(base, idx, threshold = t, bands = bandsN, rows = rowsN)
    assert(servedRows(idx) ==
      Seq((10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L)))

    // the bridge: J(bridge, a1) = 6/13, J(bridge, b1) = 6/13 — both
    // >= 0.4; its junction shingle "a8 b1 b2" etc. match nothing else
    val bridge = Seq((30L, s"$a1 $b1")).toDF("doc_id", "text")
    DedupOps.appendLabelIndex(bridge, idx, threshold = t, bands = bandsN, rows = rowsN)
    // rebuild semantics: one family rooted at min(10, 20, 30) = 10
    assert(servedRows(idx) ==
      Seq((10L, 10L), (11L, 10L), (20L, 10L), (21L, 10L), (30L, 10L)))
    // the sealed base rows were NOT rewritten: exactly one remap row
    // (20 -> 10) carries the merge
    val (lo, hi) = graft.queries.GenerationManifest.window(idx)
    val journal = spark.read.parquet(s"$idx/remaps")
      .filter(col("gen").between(lo, hi))
      .select(col("old_root"), col("new_root")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(journal == Seq((20L, 10L)), s"unexpected journal: $journal")

    // chain across a second append: doc 5 (id < every root) near-dups
    // doc 10's text, dethroning root 10 -> 5; serve must resolve the
    // 20 -> 10 -> 5 chain transitively
    DedupOps.appendLabelIndex(
      Seq((5L, a1)).toDF("doc_id", "text"), idx,
      threshold = t, bands = bandsN, rows = rowsN)
    assert(servedRows(idx) ==
      Seq((5L, 5L), (10L, 5L), (11L, 5L), (20L, 5L), (21L, 5L), (30L, 5L)))

    // compaction folds the journal into the rows and empties it;
    // serves identical across the flip. Exercised through the round-17
    // threshold API: the journal has exactly 2 merge rows, so the rule
    // stays quiet at maxRemapRows = 2 and fires at 1 — the ProfR15
    // "compact past the knee" prose is now this call
    val before = servedRows(idx)
    val winBefore = graft.queries.GenerationManifest.window(idx)
    assert(!DedupOps.maybeCompactLabelIndex(spark, idx, maxRemapRows = 2),
      "threshold rule fired below the knob")
    assert(graft.queries.GenerationManifest.window(idx) == winBefore)
    assert(DedupOps.maybeCompactLabelIndex(spark, idx, maxRemapRows = 1),
      "threshold rule failed to fire past the knob")
    assert(servedRows(idx) == before, "compaction changed served labels")
    val (lo2, hi2) = graft.queries.GenerationManifest.window(idx)
    assert(spark.read.parquet(s"$idx/remaps")
      .filter(col("gen").between(lo2, hi2)).count() == 0L,
      "compaction left journal rows in the window")
    // post-compaction the journal is empty: even maxRemapRows = 0
    // stays quiet (the count rule is strict-greater), and the
    // generation rule needs a window wider than maxGens
    assert(!DedupOps.maybeCompactLabelIndex(spark, idx, maxRemapRows = 0))
    assert(!DedupOps.maybeCompactLabelIndex(spark, idx, maxGens = 1))
    assert(org.apache.spark.sql.graftShims.cacheIsEmpty(spark))
  }

  test("crash windows invisible: every staged append state serves the pre-append labels") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val base = docs.filter($"doc_id" % 4 === 1 || $"doc_id" % 4 === 2)
    val d1 = docs.filter($"doc_id" % 4 === 3)
    val idx = tmp("graft-label-crash")
    DedupOps.writeLabelIndex(base, idx)
    val baseOnly = servedRows(idx)
    // the seams after buckets / shingles / labels / remaps are written
    val seams = Seq("write:buckets", "write:shingles", "write:labels",
      "flip:before")
    (1 to 4).foreach { stage =>
      crashAt(s"${seams(stage - 1)}:$idx")(
        DedupOps.appendLabelIndex(d1, idx, 0.6, 16, 4))
      assert(graft.queries.GenerationManifest.window(idx) == ((1L, 1L)),
        s"stage-$stage crash flipped the manifest")
      assert(servedRows(idx) == baseOnly,
        s"stage-$stage crash leaked uncommitted state into serves")
    }
    // the retried append completes and matches a from-scratch rebuild
    DedupOps.appendLabelIndex(d1, idx)
    val rebuilt = tmp("graft-label-crash-rebuild")
    DedupOps.writeLabelIndex(base.unionByName(d1), rebuilt)
    assert(servedRows(idx) == servedRows(rebuilt),
      "retried append diverged from rebuild")
    assert(org.apache.spark.sql.graftShims.cacheIsEmpty(spark))
  }

  test("served twins are row-identical to the recomputing q47/q80/q104 forms") {
    val docs = Tables.documents(spark, sf)
    val idx = tmp("graft-label-twins")
    DedupOps.writeLabelIndex(docs, idx)

    val q47 = DedupOps.q47ClusterSizes(spark, sf).collect().map(_.toSeq).toSeq
    val q47Served = DedupOps.clusterSizesServed(spark, idx)
      .collect().map(_.toSeq).toSeq
    assert(q47Served == q47, "q47 served twin diverged")

    val q104 = DedupOps.withQ104LeakSafeSplit(spark, sf)(
      _.collect().map(_.toSeq).toSeq)
    val q104Served = DedupOps.leakSplitServed(spark, sf, idx)
      .collect().map(_.toSeq).toSeq
    assert(q104Served == q104, "q104 served twin diverged")

    val q80 = SimilarityOps.q80ContrastivePairs(spark, sf)
      .collect().map(_.toSeq).toSeq
    val q80Served = SimilarityOps.contrastiveServed(spark, sf, idx)
      .collect().map(_.toSeq).toSeq
    assert(q80Served == q80, "q80 served twin diverged")
    assert(org.apache.spark.sql.graftShims.cacheIsEmpty(spark),
      "served twins leaked cached frames")
  }

  test("streaming sink: per-batch appends converge to the batch rebuild; replay is a no-op") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val all = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    // start from an EMPTY base (the crawl-from-day-one case), stream
    // the corpus in three batches
    val idx = tmp("graft-label-stream")
    DedupOps.writeLabelIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), idx)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.LabelIndexStream.sink(
      in.toDF().toDF("doc_id", "text"), idx, tmp("graft-label-stream-ck"))
    try {
      all.grouped((all.size + 2) / 3).foreach { batch =>
        in.addData(batch)
        q.processAllAvailable()
      }
    } finally q.stop()
    val want = DedupOps.withQ43DupClusters(spark, sf)(_.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(servedRows(idx) == want,
      "streamed appends diverged from the batch closure")

    // at-least-once replay: re-appending an already-sealed batch must
    // change nothing — not the labels, and (the silent killer) not the
    // shingle rows later screens verify against
    val shinglesBefore = spark.read.parquet(s"$idx/shingles").count()
    DedupOps.appendLabelIndex(
      all.take(50).toDF("doc_id", "text"), idx)
    assert(servedRows(idx) == want, "replayed append changed served labels")
    assert(spark.read.parquet(s"$idx/shingles").count() == shinglesBefore,
      "replayed append duplicated shingle rows")
    assert(org.apache.spark.sql.graftShims.cacheIsEmpty(spark))
  }

  test("time-travel serve: labelsServeAt reconstructs every historical head bit for bit") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val thirds = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .grouped(167).toSeq
    val idx = tmp("graft-label-asof")
    DedupOps.writeLabelIndex(thirds(0).toSeq.toDF("doc_id", "text"), idx)
    val snapshots = scala.collection.mutable.Buffer(servedRows(idx))
    thirds.drop(1).foreach { b =>
      DedupOps.appendLabelIndex(b.toSeq.toDF("doc_id", "text"), idx)
      snapshots += servedRows(idx)
    }
    // merges must actually have happened for the probe to bite
    val (lo, hi) = graft.queries.GenerationManifest.window(idx)
    assert(hi - lo >= 2, "fixture produced too few generations")
    snapshots.zipWithIndex.foreach { case (snap, i) =>
      val got = DedupOps.labelsServeAt(spark, idx, lo + i)
        .orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == snap, s"as-of generation ${lo + i} drifted from the live capture")
    }
    // beyond-head clamps to the current serve; pre-floor refuses loudly
    assert(DedupOps.labelsServeAt(spark, idx, 999L)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == snapshots.last)
    DedupOps.compactLabelIndex(spark, idx)
    intercept[IllegalArgumentException] {
      DedupOps.labelsServeAt(spark, idx, lo)
    }
    assert(org.apache.spark.sql.graftShims.cacheIsEmpty(spark))
  }

  test("sealed-id watermark: fresh ranges skip the scan, replays prune to one generation, legacy manifests fall back exactly") {
    import spark.implicits._
    import graft.queries.GenerationManifest
    // fully distinct texts: zero shared shingles, so no doc ever
    // pairs with another — the test isolates the idempotency path
    val mk = (ids: Seq[Long]) => ids
      .map(i => (i, s"a$i b$i c$i d$i e$i f$i g$i h$i"))
      .toDF("doc_id", "text")
    val idx = tmp("graft-label-wm")
    DedupOps.writeLabelIndex(mk(0L until 100L), idx)

    // every committed generation carries its sealed range
    val wm1 = GenerationManifest.watermarks(idx)
    assert(wm1 == Map(1L -> (0L, 99L)), s"unexpected watermarks: $wm1")

    // the pure pruning decision — the exact cases the append takes:
    // fresh monotone batch = NO scan; replayed batch = only ITS
    // generation; unknown-range generation = always scanned
    assert(GenerationManifest.gensNeedingScan(wm1, 1L, 1L, 100L, 199L).isEmpty,
      "fresh id range above every watermark must skip the sealed scan")
    assert(GenerationManifest.gensNeedingScan(wm1, 1L, 1L, 50L, 150L) == Seq(1L))
    assert(GenerationManifest.gensNeedingScan(Map.empty, 1L, 3L, 100L, 199L) ==
      Seq(1L, 2L, 3L), "generations without records must fall back to the scan")
    // the empty-generation sentinel intersects nothing
    assert(GenerationManifest.gensNeedingScan(
      Map(1L -> (Long.MaxValue, Long.MinValue)), 1L, 1L,
      Long.MinValue, Long.MaxValue).isEmpty)

    // fresh-range append: records its own watermark, serves correctly
    DedupOps.appendLabelIndex(mk(100L until 150L), idx)
    val wm2 = GenerationManifest.watermarks(idx)
    assert(wm2 == Map(1L -> (0L, 99L), 2L -> (100L, 149L)))

    // OVERLAPPING-range append with PARTLY duplicate ids (the
    // non-monotone id space): sealed ids must drop, fresh ids seal —
    // the range check can only widen the scan, never the output
    val before = servedRows(idx)
    val shinglesBefore = spark.read.parquet(s"$idx/shingles").count()
    DedupOps.appendLabelIndex(mk(Seq(120L, 121L, 500L)), idx)
    assert(servedRows(idx) == before, "distinct-text docs created no pairs")
    val wm3 = GenerationManifest.watermarks(idx)
    assert(wm3(3L) == (500L, 500L),
      s"partially-replayed batch must record only what it sealed: $wm3")
    assert(spark.read.parquet(s"$idx/shingles")
      .filter(col("doc_id").isin(120L, 121L)).count() ==
      spark.read.parquet(s"$idx/shingles")
        .filter(col("doc_id") === 120L || col("doc_id") === 121L)
        .filter(col("gen") === 2L).count(),
      "replayed ids re-sealed despite the watermark scan")

    // LEGACY manifest (no W records — the pre-round-16 format): the
    // append must still be exactly idempotent via the full scan
    val (lo, hi) = GenerationManifest.window(idx)
    GenerationManifest.commit(idx, lo, hi) // wipes the records
    assert(GenerationManifest.watermarks(idx).isEmpty)
    val legacyBefore = spark.read.parquet(s"$idx/shingles").count()
    DedupOps.appendLabelIndex(mk(Seq(100L, 101L)), idx)
    assert(spark.read.parquet(s"$idx/shingles").count() == legacyBefore,
      "legacy fallback failed to drop sealed ids")

    // BACKFILL: one scan per recordless generation, then a fresh-range
    // append prunes to ZERO sealed scans — the legacy index stops
    // paying the fallback forever (round 17)
    DedupOps.backfillLabelWatermarks(spark, idx)
    val (blo, bhi) = GenerationManifest.window(idx)
    val bwm = GenerationManifest.watermarks(idx)
    assert((blo to bhi).forall(bwm.contains),
      s"backfill left recordless generations: $bwm")
    assert(bwm(1L) == (0L, 99L) && bwm(2L) == (100L, 149L)
        && bwm(3L) == (500L, 500L),
      s"backfilled ranges drifted from the sealed ids: $bwm")
    assert(GenerationManifest.gensNeedingScan(
      bwm, blo, bhi, 1000L, 1999L).isEmpty,
      "fresh range must scan nothing after backfill")
    // idempotent: re-running changes nothing
    DedupOps.backfillLabelWatermarks(spark, idx)
    assert(GenerationManifest.watermarks(idx) == bwm)
    // and the backfilled index still appends exactly idempotently
    DedupOps.appendLabelIndex(mk(Seq(101L, 1000L)), idx)
    assert(GenerationManifest.watermarks(idx)(bhi + 1) == (1000L, 1000L),
      "post-backfill append must seal only the fresh id")

    // a committed generation with NO rows backfills to the known-empty
    // sentinel (intersects nothing) — not left "unknown, scan forever"
    val idx3 = tmp("graft-label-wm-empty")
    GenerationManifest.commit(idx3, 1L, 2L)
    GenerationManifest.backfillWatermarks(idx3,
      Seq((1L, 7L)).toDF("gen", "id"))
    assert(GenerationManifest.watermarks(idx3) ==
      Map(1L -> (7L, 7L), 2L -> (Long.MaxValue, Long.MinValue)))

    // compaction folds the union range forward when every folded
    // generation had a record
    val idx2 = tmp("graft-label-wm-fold")
    DedupOps.writeLabelIndex(mk(0L until 50L), idx2)
    DedupOps.appendLabelIndex(mk(200L until 250L), idx2)
    DedupOps.compactLabelIndex(spark, idx2)
    val (_, hi2) = GenerationManifest.window(idx2)
    assert(GenerationManifest.watermarks(idx2) == Map(hi2 -> (0L, 249L)))
    assert(org.apache.spark.sql.graftShims.cacheIsEmpty(spark))
  }

  test("q112 registered form: serve equals the q43 closure (the driver oracle's property)") {
    val got = DedupOps.q112LabelsIndexed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = DedupOps.withQ43DupClusters(spark, sf)(_.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(got == want)
    assert(org.apache.spark.sql.graftShims.cacheIsEmpty(spark))
  }
}
