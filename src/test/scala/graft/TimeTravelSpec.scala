package graft

import graft.queries.{DedupOps, GenerationManifest, PipelineOps, RetrievalOps, SimilarityOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PROTOCOL-LEVEL time travel (round 15): `labelsServeAt`'s as-of read
  * generalized to every GenerationManifest family via
  * [[GenerationManifest.windowAt]]. The contract under test is always
  * the same REPLAY theorem: capture a serve between appends, append
  * more, and the as-of serve at the captured head must reproduce the
  * capture bit for bit — appends are monotone (generations only
  * accrue), so truncating the window IS the historical state. */
class TimeTravelSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def split(dir: String) = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    (docs.filter($"doc_id" % DedupOps.DeltaMod =!= DedupOps.DeltaRem),
      docs.filter($"doc_id" % DedupOps.DeltaMod === DedupOps.DeltaRem))
  }

  test("inverted index: bm25SearchIndex(asOfGen=1) replays the pre-append serve; head serves the append") {
    val (base, delta) = split(sf)
    val idx = tmp("graft-tt-inverted")
    RetrievalOps.writeInvertedIndex(base, idx)
    val atGen1 = rows(RetrievalOps.bm25SearchIndex(spark, idx))
    RetrievalOps.appendInvertedIndex(delta, idx)
    val atHead = rows(RetrievalOps.bm25SearchIndex(spark, idx))
    assert(atHead != atGen1,
      "fixture vacuous: the delta changed nothing, the replay proves nothing")
    assert(rows(RetrievalOps.bm25SearchIndex(spark, idx, asOfGen = 1L)) == atGen1,
      "as-of serve diverged from the captured pre-append serve")
    assert(rows(RetrievalOps.bm25SearchIndex(spark, idx, asOfGen = 2L)) == atHead,
      "as-of at the head diverged from the default serve")
    // stats travel WITH the postings: the as-of idf must be computed
    // from the gen-1 cumulative totals, not the head's
    val n1 = RetrievalOps.indexStats(spark, idx, asOfGen = 1L)
      .select(col("n")).head().getLong(0)
    val n2 = RetrievalOps.indexStats(spark, idx)
      .select(col("n")).head().getLong(0)
    assert(n1 < n2, s"stats did not time-travel: n@1=$n1 vs n@head=$n2")
  }

  test("passage index: as-of serve replays the pre-append passage ranking") {
    val (base, delta) = split(sf)
    val idx = tmp("graft-tt-passage")
    RetrievalOps.writePassageIndex(base, idx)
    val atGen1 = rows(RetrievalOps.passageSearchIndex(spark, idx))
    RetrievalOps.appendPassageIndex(delta, idx)
    assert(rows(RetrievalOps.passageSearchIndex(spark, idx, asOfGen = 1L))
      == atGen1, "passage as-of serve diverged")
  }

  test("dedup index: deltaScreen(asOfGen) answers 'would gen g have flagged this doc'") {
    import spark.implicits._
    // base gen 1 holds one text; gen 2 appends a near-identical one.
    // A probe near-dup of BOTH must flag 1 base doc as of gen 1 and 2
    // as of the head — the screen sees exactly the sealed state.
    val a = "w1 w2 w3 w4 w5 w6 w7 w8"
    val b = "w1 w2 w3 w4 w5 w6 w7 z8"
    val idx = tmp("graft-tt-dedup")
    DedupOps.writeDedupIndex(Seq((10L, a)).toDF("doc_id", "text"), idx)
    DedupOps.appendDedupIndex(Seq((20L, b)).toDF("doc_id", "text"), idx)
    val probe = Seq((99L, a)).toDF("doc_id", "text")
    val hitsAt1 = DedupOps.deltaScreen(spark, idx, probe, asOfGen = 1L)
      .select($"base_id").collect().map(_.getLong(0)).toSeq.sorted
    val hitsHead = DedupOps.deltaScreen(spark, idx, probe)
      .select($"base_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(hitsAt1 == Seq(10L), s"as-of screen saw the future: $hitsAt1")
    assert(hitsHead == Seq(10L, 20L), s"head screen missed the append: $hitsHead")
    spark.catalog.clearCache() // plain-form deltaScreen persists its delta
  }

  test("IVF index: as-of search replays the pre-append top-k") {
    import spark.implicits._
    val centroids = (0 until SimilarityOps.NumCells)
      .map(c => (0 until SimilarityOps.Dim)
        .map(SimilarityOps.centroidComponent(c, _)))
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val delta = emb.filter($"vec_id" % 5 === 0)
    val idx = tmp("graft-tt-ivf")
    SimilarityOps.writeIvfIndex(base, centroids, idx)
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .toSeq
    val atGen1 = rows(
      SimilarityOps.ivfSearchIndex(spark, idx, probes, centroids))
    SimilarityOps.writeQuantizer(spark, centroids, idx)
    SimilarityOps.appendIvfIndex(delta, idx)
    val atHead = rows(
      SimilarityOps.ivfSearchIndex(spark, idx, probes, centroids))
    assert(atHead != atGen1, "fixture vacuous: append changed no top-k")
    assert(rows(SimilarityOps.ivfSearchIndex(
      spark, idx, probes, centroids, asOfGen = 1L)) == atGen1,
      "IVF as-of search diverged from the captured serve")
  }

  test("SQ8 + PQ (round 15 joins the protocol): as-of search replays the pre-append codes") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter($"vec_id" % 4 =!= 0)
    val delta = emb.filter($"vec_id" % 4 === 0)
    // SQ8 — note vec_id 0 (the probe) is IN the delta, so the as-of
    // serve must refuse... no: probeId reads from the index; use a
    // base-resident probe instead
    val sq8 = tmp("graft-tt-sq8")
    SimilarityOps.writeSq8Index(base, sq8)
    val s1 = rows(SimilarityOps.sq8SearchIndex(spark, sq8, probeId = 1))
    SimilarityOps.appendSq8Index(delta, sq8)
    val s2 = rows(SimilarityOps.sq8SearchIndex(spark, sq8, probeId = 1))
    assert(s2 != s1, "SQ8 fixture vacuous")
    assert(rows(SimilarityOps.sq8SearchIndex(spark, sq8, probeId = 1,
      asOfGen = 1L)) == s1, "SQ8 as-of search diverged")
    // compaction: identical serve at the head, floor refusal below
    SimilarityOps.compactAnnIndex(spark, sq8)
    assert(rows(SimilarityOps.sq8SearchIndex(spark, sq8, probeId = 1)) == s2,
      "SQ8 compaction changed the serve")
    intercept[IllegalArgumentException] {
      SimilarityOps.sq8SearchIndex(spark, sq8, probeId = 1, asOfGen = 1L)
    }
    // PQ
    val pq = tmp("graft-tt-pq")
    val books = SimilarityOps.trainPqCodebooks(base, iters = 2)
    SimilarityOps.writePqIndex(base, pq, books)
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .toSeq
    val loaded = SimilarityOps.readPqQuantizer(spark, pq)
    val p1 = rows(SimilarityOps.pqSearchIndex(spark, pq, probes, loaded))
    SimilarityOps.appendPqIndex(delta, pq)
    val p2 = rows(SimilarityOps.pqSearchIndex(spark, pq, probes, loaded))
    assert(p2 != p1, "PQ fixture vacuous")
    assert(rows(SimilarityOps.pqSearchIndex(spark, pq, probes, loaded,
      asOfGen = 1L)) == p1, "PQ as-of search diverged")
  }

  test("SQ8 + PQ retrain (round 16): epoch re-encode — as-of replays OLD quantizers, appends use the NEW, compaction re-seats") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter($"vec_id" % 6 =!= 0)
    val delta = emb.filter($"vec_id" % 6 === 0)
    val half = base.filter($"vec_id" % 2 === 0)

    // ---- SQ8: retrain the (mn, mx) stats on the even half
    val sq8 = tmp("graft-tt-sq8-retrain")
    SimilarityOps.writeSq8Index(base, sq8)
    val s1 = rows(SimilarityOps.sq8SearchIndex(spark, sq8, probeId = 1))
    SimilarityOps.retrainSq8Index(base, sq8, trainSample = Some(half))
    assert(GenerationManifest.epochs(sq8) == Seq(2L))
    assert(rows(SimilarityOps.sq8SearchIndex(spark, sq8, probeId = 1,
      asOfGen = 1L)) == s1, "SQ8 as-of across the retrain diverged")
    // append under the NEW stats == rebuild with them
    SimilarityOps.appendSq8Index(delta, sq8)
    val sAppended = rows(SimilarityOps.sq8SearchIndex(spark, sq8, probeId = 1))
    val sq8Rebuilt = tmp("graft-tt-sq8-retrain-rebuild")
    SimilarityOps.writeSq8IndexWith(base.unionByName(delta),
      spark.read.parquet(s"$sq8/_epochs/gen=2/_quantizer"), sq8Rebuilt)
    assert(rows(SimilarityOps.sq8SearchIndex(spark, sq8Rebuilt, probeId = 1))
      == sAppended, "SQ8 append under the retrained stats diverged from rebuild")
    // compaction re-seats the epoch quantizer; head serve identical
    SimilarityOps.compactAnnIndex(spark, sq8)
    assert(rows(SimilarityOps.sq8SearchIndex(spark, sq8, probeId = 1))
      == sAppended, "SQ8 compaction of an epoched index changed the serve")
    intercept[IllegalArgumentException] {
      SimilarityOps.sq8SearchIndex(spark, sq8, probeId = 1, asOfGen = 1L)
    }

    // ---- PQ: retrain the codebooks on the even half
    val pq = tmp("graft-tt-pq-retrain")
    SimilarityOps.trainAndWritePq(base, pq, iters = 2)
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .toSeq
    val p1 = rows(SimilarityOps.pqSearchIndex(spark, pq, probes,
      SimilarityOps.pqBooksAt(spark, pq)))
    SimilarityOps.retrainPqIndex(base, pq, iters = 2,
      trainSample = Some(half))
    assert(GenerationManifest.epochs(pq) == Seq(2L))
    // as-of: the gen-1 books govern the gen-1 serve
    assert(rows(SimilarityOps.pqSearchIndex(spark, pq, probes,
      SimilarityOps.pqBooksAt(spark, pq, asOfGen = 1L), asOfGen = 1L))
      == p1, "PQ as-of across the retrain diverged")
    // append under the NEW books == rebuild with them
    SimilarityOps.appendPqIndex(delta, pq)
    val pAppended = rows(SimilarityOps.pqSearchIndex(spark, pq, probes,
      SimilarityOps.pqBooksAt(spark, pq)))
    val pqRebuilt = tmp("graft-tt-pq-retrain-rebuild")
    SimilarityOps.writePqIndex(base.unionByName(delta), pqRebuilt,
      SimilarityOps.pqBooksAt(spark, pq).map(_.map(_.toSeq).toSeq).toSeq)
    assert(rows(SimilarityOps.pqSearchIndex(spark, pqRebuilt, probes,
      SimilarityOps.pqBooksAt(spark, pq)))
      == pAppended, "PQ append under the retrained books diverged from rebuild")
  }

  test("flat IVF retrain (round 17): epoch re-assign — as-of replays OLD centroids, appends assign with NEW, compaction re-seats") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter($"vec_id" % 6 =!= 0)
    val delta = emb.filter($"vec_id" % 6 === 0)
    val half = base.filter($"vec_id" % 2 === 0)
    val idx = tmp("graft-tt-ivf-retrain")
    val oldCents = SimilarityOps.trainAndWriteIvf(base, idx, iters = 2)
    val probes = emb.filter($"vec_id" < 3)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .toSeq
    // tight probing (2 cells) so the serve is sensitive to WHICH
    // quantizer assigned the rows — flat-IVF sims are exact cosines,
    // only the candidate set moves under a retrain
    val v1 = rows(SimilarityOps.ivfServeAt(spark, idx, probes,
      numProbedCells = 2))
    val newCents = SimilarityOps.retrainIvfIndex(base, idx, iters = 2,
      trainSample = Some(half))
    assert(newCents != oldCents, "retrain fixture vacuous: same centroids")
    assert(GenerationManifest.epochs(idx) == Seq(2L))
    assert(rows(SimilarityOps.ivfServeAt(spark, idx, probes,
      numProbedCells = 2, asOfGen = 1L)) == v1,
      "flat-IVF as-of across the retrain diverged")
    // append assigns under the NEW centroids == rebuild with them
    SimilarityOps.appendIvfIndex(delta, idx)
    val appended = rows(SimilarityOps.ivfServeAt(spark, idx, probes,
      numProbedCells = 2))
    val rebuilt = tmp("graft-tt-ivf-retrain-rebuild")
    SimilarityOps.writeIvfIndex(base.unionByName(delta), newCents, rebuilt)
    assert(rows(SimilarityOps.ivfSearchIndex(spark, rebuilt, probes,
      newCents, numProbedCells = 2)) == appended,
      "flat-IVF append under the retrained centroids diverged from rebuild")
    // compaction re-seats the epoch's coarse quantizer; head identical
    SimilarityOps.compactAnnIndex(spark, idx)
    assert(rows(SimilarityOps.ivfServeAt(spark, idx, probes,
      numProbedCells = 2)) == appended,
      "flat-IVF compaction of an epoched index changed the serve")
    intercept[IllegalArgumentException] {
      SimilarityOps.ivfServeAt(spark, idx, probes, asOfGen = 1L)
    }
  }

  test("SQ8 append crash window: pre-commit debris is invisible; the retry purges and repairs") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter($"vec_id" % 4 =!= 0)
    val delta = emb.filter($"vec_id" % 4 === 0)
    val idx = tmp("graft-tt-sq8-crash")
    SimilarityOps.writeSq8Index(base, idx)
    val preAppend = rows(SimilarityOps.sq8SearchIndex(spark, idx, probeId = 1))
    // complete append, then REWIND the manifest — byte-for-byte the
    // state a crash between the data write and the commit leaves
    SimilarityOps.appendSq8Index(delta, idx)
    val committed = rows(SimilarityOps.sq8SearchIndex(spark, idx, probeId = 1))
    GenerationManifest.commit(idx, 1L, 1L)
    assert(rows(SimilarityOps.sq8SearchIndex(spark, idx, probeId = 1))
      == preAppend, "uncommitted generation leaked into the serve")
    // the retry's leading purge removes the debris; no double-append
    SimilarityOps.appendSq8Index(delta, idx)
    assert(rows(SimilarityOps.sq8SearchIndex(spark, idx, probeId = 1))
      == committed, "retry after crash diverged from the clean append")
    val gens = new java.io.File(idx).listFiles()
      .map(_.getName).filter(_.startsWith("gen=")).sorted.toSeq
    assert(gens == Seq("gen=1", "gen=2"), s"debris not repaired: $gens")
    assert(spark.read.parquet(idx).count() == emb.count(),
      "retry double-appended")
  }

  test("phrase bank: as-of scrub excises only what generation g had sealed") {
    import spark.implicits._
    // base seals phrase A (8 tokens); the append seals phrase B. A
    // probe containing BOTH must lose only A as of gen 1, both at head.
    val pA = "a1 a2 a3 a4 a5 a6 a7 a8"
    val pB = "b1 b2 b3 b4 b5 b6 b7 b8"
    val idx = tmp("graft-tt-phrase")
    // two holders each so the phrases count as duplicated
    DedupOps.writePhraseIndex(
      Seq((1L, s"$pA x1"), (2L, s"$pA x2")).toDF("doc_id", "text"), idx)
    DedupOps.appendPhraseIndex(
      Seq((3L, s"$pB y1"), (4L, s"$pB y2")).toDF("doc_id", "text"), idx)
    val probe = Seq((99L, s"$pA $pB")).toDF("doc_id", "text")
    def scrubbed(asOf: Long): String =
      DedupOps.scrubAgainst(spark, idx, probe, asOfGen = asOf)
        .select(col("clean_text")).head().getString(0)
    val atHead = scrubbed(Long.MaxValue)
    val at1 = scrubbed(1L)
    assert(!at1.contains("a1") && at1.contains("b1"),
      s"as-of scrub wrong: '$at1' (must excise A only)")
    assert(!atHead.contains("a1") && !atHead.contains("b1"),
      s"head scrub wrong: '$atHead' (must excise both)")
  }

  test("vacuous pending intent (round 19): an already-sealed redelivery clears it; the retrain unblocks") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    def baseP(c: org.apache.spark.sql.Column) =
      c % DedupOps.DeltaMod =!= DedupOps.DeltaRem
    val idx = tmp("graft-tt-vacuous")
    RetrievalOps.writeHybridIndex(
      docs.filter(baseP($"doc_id")), emb.filter(baseP($"vec_id")), idx)
    // crash RIGHT AFTER the intent commit — no leg touched, both level
    crashAt(s"flip:after:$idx")(RetrievalOps.appendHybridIndex(
      docs.filter(!baseP($"doc_id")), emb.filter(!baseP($"vec_id")), idx))
    assert(GenerationManifest.state(idx).pending.contains(("A", 2L)))
    assert(GenerationManifest.window(s"$idx/sparse") == ((1L, 1L)))
    // the retrain refuses while the intent stands — and names BOTH
    // unblock paths (ADVICE r18: the old message demanded a batch that
    // may no longer exist and never mentioned the fold)
    val e = intercept[IllegalArgumentException] {
      RetrievalOps.retrainHybridDense(spark, idx)
    }
    assert(e.getMessage.contains("appendHybridIndex") &&
      e.getMessage.contains("compactHybridIndex"), e.getMessage)
    // a redelivery whose rows are ALL already sealed (the operator's
    // only option when the crashed batch is gone: re-push anything
    // known-sealed) cannot reach the publishing flip — pre-r19 the
    // vacuous intent dangled forever; now the early-out clears it
    RetrievalOps.appendHybridIndex(
      docs.filter(baseP($"doc_id")), emb.filter(baseP($"vec_id")), idx)
    assert(GenerationManifest.state(idx).pending.isEmpty,
      "the sealed redelivery did not clear the vacuous intent")
    assert(GenerationManifest.window(idx) == ((1L, 1L)),
      "the vacuous clear grew the window")
    // the retrain now proceeds and seals its epoch in lockstep
    RetrievalOps.retrainHybridDense(spark, idx, ivfIters = 2, pqIters = 2)
    assert(GenerationManifest.window(idx) == ((1L, 2L)))
    assert(GenerationManifest.epochs(idx) == Seq(2L))
  }

  test("compaction reclaims history: as-of below the window floor refuses loudly") {
    val (base, delta) = split(sf)
    val idx = tmp("graft-tt-floor")
    RetrievalOps.writeInvertedIndex(base, idx)
    RetrievalOps.appendInvertedIndex(delta, idx)
    val atHead = rows(RetrievalOps.bm25SearchIndex(spark, idx))
    // the threshold form: a 2-gen window is under maxGens=2, past 1
    assert(!RetrievalOps.maybeCompactIndex(spark, idx, maxGens = 2))
    assert(RetrievalOps.maybeCompactIndex(spark, idx, maxGens = 1))
    // the snapshot generation still serves, identically
    assert(rows(RetrievalOps.bm25SearchIndex(spark, idx)) == atHead,
      "compaction changed the serve")
    // but pre-compaction points are reclaimed, not silently misserved
    val e = intercept[IllegalArgumentException] {
      RetrievalOps.bm25SearchIndex(spark, idx, asOfGen = 1L).collect()
    }
    assert(e.getMessage.contains("window floor"),
      s"wrong refusal: ${e.getMessage}")
  }

  test("hybrid cross-store (round 16): joint as-of serves BOTH legs at the correlated generation; torn leg commits invisible; repair never double-appends") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    def baseP(c: org.apache.spark.sql.Column) =
      c % DedupOps.DeltaMod =!= DedupOps.DeltaRem
    val idx = tmp("graft-tt-hybrid")
    RetrievalOps.writeHybridIndex(
      docs.filter(baseP($"doc_id")), emb.filter(baseP($"vec_id")), idx)
    val atGen1 = rows(RetrievalOps.hybridServeAt(spark, idx))

    // TORN state — simulated through the REAL failpoint (round 18: a
    // crashed append leaves its pending-intent record, so a faithful
    // simulation must run the actual code path): the intent commits
    // and the sparse leg absorbs the delta, but the crash lands before
    // the dense leg and the hybrid flip — no hybrid serve may see it
    crashAt(s"flip:after:$idx/sparse")(RetrievalOps.appendHybridIndex(
      docs.filter(!baseP($"doc_id")), emb.filter(!baseP($"vec_id")), idx))
    assert(GenerationManifest.window(s"$idx/sparse") == ((1L, 2L)),
      "failpoint did not leave the torn one-leg state")
    assert(GenerationManifest.state(idx).pending.contains(("A", 2L)),
      "crashed append left no pending-intent record")
    assert(rows(RetrievalOps.hybridServeAt(spark, idx)) == atGen1,
      "a torn leg commit leaked into the hybrid serve")

    // the RETRY repairs: the intent positively identifies the one-ahead
    // sparse leg as the crashed attempt's work — skip it, append the
    // dense leg, flip the hybrid window (clearing the intent)
    RetrievalOps.appendHybridIndex(
      docs.filter(!baseP($"doc_id")), emb.filter(!baseP($"vec_id")), idx)
    assert(GenerationManifest.state(idx).pending.isEmpty,
      "the publishing flip did not clear the pending intent")
    assert(GenerationManifest.window(s"$idx/sparse") == ((1L, 2L)),
      "repair double-appended the sparse leg")
    assert(GenerationManifest.window(s"$idx/dense") == ((1L, 2L)))
    val atHead = rows(RetrievalOps.hybridServeAt(spark, idx))
    assert(atHead != atGen1, "fixture vacuous: the delta changed nothing")

    // the joint-reproducibility read: both legs at the CORRELATED gen
    assert(rows(RetrievalOps.hybridServeAt(spark, idx, asOfGen = 1L))
      == atGen1, "joint as-of diverged from the captured hybrid")

    // and the head serve equals the full-corpus composed hybrid —
    // append == rebuild across both legs AND the fusion (the q120
    // oracle's property, pinned here in-engine too)
    assert(atHead == rows(RetrievalOps.q83HybridIndexed(spark, sf)),
      "hybrid append/rebuild diverged")

    // POST-flip replay (crash between the hybrid flip and the source
    // checkpoint): redelivering the same batch must be a NO-OP — the
    // sealed-id watermark prunes it away before any leg is touched
    val windowBefore = GenerationManifest.window(idx)
    RetrievalOps.appendHybridIndex(
      docs.filter(!baseP($"doc_id")), emb.filter(!baseP($"vec_id")), idx)
    assert(GenerationManifest.window(idx) == windowBefore,
      "replayed hybrid append advanced the window")
    assert(rows(RetrievalOps.hybridServeAt(spark, idx)) == atHead,
      "replayed hybrid append changed the serve (double-counted postings?)")
    // an EMPTY delta never seals a junk generation either (round 18 —
    // the sibling appends' rule applied to the hybrid)
    RetrievalOps.appendHybridIndex(docs.limit(0), emb.limit(0), idx)
    assert(GenerationManifest.window(idx) == windowBefore,
      "empty hybrid append sealed a junk generation")

    // LEGACY BACKFILL (round 17): wipe the watermark records (the
    // pre-r16 manifest shape), backfill from both legs' sealed ids,
    // and the recovered records must equal what the native appends
    // recorded — then the replay stays a pruned no-op
    val nativeWms = GenerationManifest.watermarks(idx)
    GenerationManifest.commit(idx, windowBefore._1, windowBefore._2)
    assert(GenerationManifest.watermarks(idx).isEmpty)
    RetrievalOps.backfillHybridWatermarks(spark, idx)
    assert(GenerationManifest.watermarks(idx) == nativeWms,
      "backfilled hybrid watermarks drifted from the native records")
    RetrievalOps.appendHybridIndex(
      docs.filter(!baseP($"doc_id")), emb.filter(!baseP($"vec_id")), idx)
    assert(GenerationManifest.window(idx) == windowBefore,
      "replay after backfill advanced the window")

    // SELF-CONTAINED rerank (round 17): the serve reads its own
    // versioned _floats sidecar, and the guard is PER-GENERATION
    // coverage — a store with floats for only SOME served generations
    // (the pre-r17-upgraded-by-append shape, whose dense leg would
    // silently come back empty) is refused just like one with no
    // sidecar at all
    val fDir = new org.apache.hadoop.fs.Path(s"$idx/_floats")
    val ffs = fDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    ffs.delete(new org.apache.hadoop.fs.Path(s"$idx/_floats/gen=1"), true)
    val pe = intercept[IllegalArgumentException] {
      RetrievalOps.hybridServeAt(spark, idx)
    }
    assert(pe.getMessage.contains("does not cover generation"),
      s"wrong partial-coverage refusal: ${pe.getMessage}")
    ffs.delete(fDir, true)
    val fe = intercept[IllegalArgumentException] {
      RetrievalOps.hybridServeAt(spark, idx)
    }
    assert(fe.getMessage.contains("_floats"), s"wrong refusal: ${fe.getMessage}")

    // FLOAT BACKFILL (round 17): the store is now exactly the pre-r17
    // shape (no sidecar at all). A partial corpus must be REFUSED —
    // PQ codes cannot reconstruct the missing floats, and a silent
    // partial sidecar would quietly shrink the served rerank
    val be = intercept[IllegalArgumentException] {
      RetrievalOps.backfillHybridFloats(emb.filter($"vec_id" % 7 === 0), idx)
    }
    assert(be.getMessage.contains("cannot reconstruct"),
      s"wrong backfill refusal: ${be.getMessage}")
    // a corpus with duplicate rows per vec_id is AMBIGUOUS history —
    // refused too (and a raw row-count check would have let duplicates
    // mask missing ids)
    val de = intercept[IllegalArgumentException] {
      RetrievalOps.backfillHybridFloats(emb.unionByName(emb.limit(5)), idx)
    }
    assert(de.getMessage.contains("duplicate"),
      s"wrong duplicate refusal: ${de.getMessage}")
    // the full historical corpus backfills every committed generation
    // with exactly the floats its dense leg sealed — the serve comes
    // back bit-identical to the natively-versioned store's
    RetrievalOps.backfillHybridFloats(emb, idx)
    assert(rows(RetrievalOps.hybridServeAt(spark, idx)) == atHead,
      "float backfill diverged from the native sidecar's serve")
    // idempotent: a second pass skips covered generations and changes
    // nothing
    RetrievalOps.backfillHybridFloats(emb, idx)
    assert(rows(RetrievalOps.hybridServeAt(spark, idx)) == atHead,
      "re-running the float backfill changed the serve")

    // OUT-OF-BAND leg mutation (someone compacts a leg directly):
    // the next hybrid append must refuse loudly, not silently lose
    // the delta in that leg
    RetrievalOps.compactIndex(spark, s"$idx/sparse")
    val e = intercept[IllegalArgumentException] {
      RetrievalOps.appendHybridIndex(
        docs.limit(0), emb.limit(0), idx)
    }
    assert(e.getMessage.contains("out of sync"), s"wrong refusal: ${e.getMessage}")
  }

  test("hybrid compaction (round 17): joint fold serves bit-identically; a crashed half-compaction refuses loudly then rolls forward") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    def baseP(c: org.apache.spark.sql.Column) =
      c % DedupOps.DeltaMod =!= DedupOps.DeltaRem
    val idx = tmp("graft-tt-hybrid-compact")
    RetrievalOps.writeHybridIndex(
      docs.filter(baseP($"doc_id")), emb.filter(baseP($"vec_id")), idx)
    RetrievalOps.appendHybridIndex(
      docs.filter(!baseP($"doc_id")), emb.filter(!baseP($"vec_id")), idx)
    val atHead = rows(RetrievalOps.hybridServeAt(spark, idx))

    // CRASH SIMULATION: the sparse leg compacted (window (3,3)) but
    // the attempt died before touching the dense leg or the flip. The
    // documented maintenance outage: serves and appends refuse loudly
    // — never a misserve, never a silent decorrelation
    RetrievalOps.compactIndex(spark, s"$idx/sparse")
    val se = intercept[IllegalArgumentException] {
      RetrievalOps.hybridServeAt(spark, idx).collect()
    }
    assert(se.getMessage.contains("compaction is in flight"),
      s"mid-compaction serve refusal should name the state: ${se.getMessage}")
    intercept[IllegalArgumentException] {
      RetrievalOps.appendHybridIndex(docs.limit(0), emb.limit(0), idx)
    }

    // the RETRY rolls forward: skips the already-compacted sparse leg,
    // compacts the dense leg, folds the floats, flips the pair — and
    // the serve is row-identical across the whole maneuver
    RetrievalOps.compactHybridIndex(spark, idx)
    assert(GenerationManifest.window(idx) == ((3L, 3L)),
      "joint compaction did not flip to the folded generation")
    assert(GenerationManifest.window(s"$idx/sparse") == ((3L, 3L)))
    assert(GenerationManifest.window(s"$idx/dense") == ((3L, 3L)))
    assert(rows(RetrievalOps.hybridServeAt(spark, idx)) == atHead,
      "serve changed across the compaction flip")

    // history below the folded floor is reclaimed, not misserved
    val e = intercept[IllegalArgumentException] {
      RetrievalOps.hybridServeAt(spark, idx, asOfGen = 1L).collect()
    }
    assert(e.getMessage.contains("window floor"), s"wrong refusal: ${e.getMessage}")

    // the folded watermark still prunes: replaying sealed ids after
    // the compaction is a no-op against the ONE folded generation
    RetrievalOps.appendHybridIndex(
      docs.filter(!baseP($"doc_id")), emb.filter(!baseP($"vec_id")), idx)
    assert(GenerationManifest.window(idx) == ((3L, 3L)),
      "post-compaction replay advanced the window")
    assert(rows(RetrievalOps.hybridServeAt(spark, idx)) == atHead,
      "post-compaction replay changed the serve")

    // the threshold form: a 1-gen window is under any cadence; force
    // a 2-gen window and maxGens=1 fires
    assert(!RetrievalOps.maybeCompactHybridIndex(spark, idx, maxGens = 4))
    RetrievalOps.appendHybridIndex(
      docs.filter(baseP($"doc_id") && $"doc_id" % 97 === 0)
        .withColumn("doc_id", $"doc_id" + 1000000L),
      emb.filter(baseP($"vec_id") && $"vec_id" % 97 === 0)
        .withColumn("vec_id", $"vec_id" + 1000000L),
      idx)
    assert(GenerationManifest.window(idx) == ((3L, 4L)))
    assert(RetrievalOps.maybeCompactHybridIndex(spark, idx, maxGens = 1))
    assert(GenerationManifest.window(idx) == ((5L, 5L)))

    // the TRAINED store composes with the same fold: the dense leg's
    // trained quantizers survive the compaction (compactAnnIndex
    // re-seats epoch sidecars; a gen-1-trained root is untouched), so
    // the served ranking is bit-identical across the flip
    val tidx = tmp("graft-tt-hybrid-trained-compact")
    RetrievalOps.writeTrainedHybridIndex(
      docs.filter(baseP($"doc_id")), emb.filter(baseP($"vec_id")), tidx)
    RetrievalOps.appendHybridIndex(
      docs.filter(!baseP($"doc_id")), emb.filter(!baseP($"vec_id")), tidx)
    val tHead = rows(RetrievalOps.hybridServeAt(spark, tidx))
    // a PARTIAL float sidecar must refuse the fold: compacting it
    // would launder the gap past the serve guard into a silent rerank
    // shrink — backfill first, then the fold proceeds
    val tfs = new org.apache.hadoop.fs.Path(s"$tidx/_floats/gen=1")
    tfs.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(tfs, true)
    val pce = intercept[IllegalArgumentException] {
      RetrievalOps.compactHybridIndex(spark, tidx)
    }
    assert(pce.getMessage.contains("does not cover generation"),
      s"wrong partial-fold refusal: ${pce.getMessage}")
    RetrievalOps.backfillHybridFloats(emb, tidx)
    RetrievalOps.compactHybridIndex(spark, tidx)
    assert(rows(RetrievalOps.hybridServeAt(spark, tidx)) == tHead,
      "trained-hybrid compaction changed the serve")
  }

  test("hybrid dense-leg retrain (round 18): lockstep epoch flip; as-of replays OLD quantizers; crashed retrain rolls forward; out-of-band retrain refused") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    def baseP(c: org.apache.spark.sql.Column) =
      c % DedupOps.DeltaMod =!= DedupOps.DeltaRem
    val idx = tmp("graft-tt-hybrid-retrain")
    RetrievalOps.writeTrainedHybridIndex(
      docs.filter(baseP($"doc_id")), emb.filter(baseP($"vec_id")), idx,
      ivfIters = 2, pqIters = 2)
    RetrievalOps.appendHybridIndex(
      docs.filter(!baseP($"doc_id")), emb.filter(!baseP($"vec_id")), idx)
    val atGen1 = rows(RetrievalOps.hybridServeAt(spark, idx, asOfGen = 1L))
    val atGen2 = rows(RetrievalOps.hybridServeAt(spark, idx))

    // JOINT RETRAIN: the dense leg re-trains + re-encodes from the
    // store's OWN _floats sidecar (no external corpus), the sparse leg
    // seals an empty generation, the pair flips in lockstep as an
    // epoch base — no rebuild, history preserved
    RetrievalOps.retrainHybridDense(spark, idx, ivfIters = 2, pqIters = 2,
      trainSample = Some(emb.filter(
        $"vec_id" % SimilarityOps.QuantRetrainMod === 0)))
    assert(GenerationManifest.window(idx) == ((1L, 3L)))
    assert(GenerationManifest.window(s"$idx/sparse") == ((1L, 3L)),
      "sparse leg fell out of lockstep across the retrain")
    assert(GenerationManifest.window(s"$idx/dense") == ((1L, 3L)))
    assert(GenerationManifest.epochs(s"$idx/dense") == Seq(3L),
      "dense leg did not seal the retrain as an epoch base")
    assert(GenerationManifest.epochs(idx) == Seq(3L),
      "hybrid manifest did not record the epoch")
    assert(GenerationManifest.state(idx).pending.isEmpty,
      "the retrain flip did not clear its intent")

    // as-of BELOW the epoch replays the OLD quantizers bit for bit —
    // the whole point of epoching instead of rebuilding
    assert(rows(RetrievalOps.hybridServeAt(spark, idx, asOfGen = 2L))
      == atGen2, "as-of below the epoch diverged from the old serve")
    assert(rows(RetrievalOps.hybridServeAt(spark, idx, asOfGen = 1L))
      == atGen1)

    // the DRIFT review a deployment reads before the flip: the sparse
    // leg must be untouched (zero rank flips — its empty generation
    // changes nothing), and the fused sets must stay close (the q122
    // agreement-floor precedent: both legs approximate the SAME metric)
    val drift = RetrievalOps.hybridDriftServed(spark, idx).head()
    assert(drift.getAs[Long]("n_sparse_flips") == 0L,
      s"a dense-only retrain flipped sparse ranks: $drift")
    assert(drift.getAs[Long]("agreement_ppm") >= 700000L,
      s"retrain moved the fused set past the floor: $drift")
    assert(drift.getAs[Long]("n_queries") > 0L, s"vacuous review: $drift")

    // an append AFTER the retrain encodes with the NEW quantizers
    // (protocol-automatic) and never disturbs sealed history
    RetrievalOps.appendHybridIndex(
      docs.filter(baseP($"doc_id") && $"doc_id" % 97 === 0)
        .withColumn("doc_id", $"doc_id" + 1000000L),
      emb.filter(baseP($"vec_id") && $"vec_id" % 97 === 0)
        .withColumn("vec_id", $"vec_id" + 1000000L),
      idx)
    assert(GenerationManifest.window(idx) == ((1L, 4L)))
    assert(GenerationManifest.window(s"$idx/sparse") == ((1L, 4L)))
    assert(GenerationManifest.window(s"$idx/dense") == ((1L, 4L)))
    val atGen3 = rows(RetrievalOps.hybridServeAt(spark, idx, asOfGen = 3L))
    val atGen4 = rows(RetrievalOps.hybridServeAt(spark, idx))
    assert(rows(RetrievalOps.hybridServeAt(spark, idx, asOfGen = 2L))
      == atGen2, "post-retrain append disturbed pre-epoch history")

    // CRASHED RETRAIN roll-forward: the on-disk state after a crash
    // between the dense retrain and the sparse seal — pending R intent,
    // dense one-ahead as an epoch base — refuses appends and
    // compactions LOUDLY (naming the roll-forward), then the retry
    // completes the flip
    GenerationManifest.amend(idx)(s => s.copy(pending = Some(("R", 5L))))
    SimilarityOps.retrainIvfPq(
      spark.read.parquet(s"$idx/_floats").filter($"gen".between(1L, 4L))
        .select($"vec_id", $"label", $"embedding"),
      s"$idx/dense", ivfIters = 2, pqIters = 2)
    val ae = intercept[IllegalArgumentException] {
      RetrievalOps.appendHybridIndex(docs.limit(0), emb.limit(0), idx)
    }
    assert(ae.getMessage.contains("retrain is in flight"),
      s"mid-retrain append refusal should name the state: ${ae.getMessage}")
    val ce = intercept[IllegalArgumentException] {
      RetrievalOps.compactHybridIndex(spark, idx)
    }
    assert(ce.getMessage.contains("retrain is in flight"),
      s"mid-retrain compact refusal should name the state: ${ce.getMessage}")
    // serves at the committed head stay live and unchanged — a pending
    // retrain is a maintenance state, never an outage (the flip-last
    // rule: the half-built epoch is above the window, invisible)
    assert(rows(RetrievalOps.hybridServeAt(spark, idx)) == atGen4,
      "a pending retrain leaked into the head serve")
    RetrievalOps.retrainHybridDense(spark, idx, ivfIters = 2, pqIters = 2)
    assert(GenerationManifest.window(idx) == ((1L, 5L)),
      "retrain roll-forward did not complete the flip")
    assert(GenerationManifest.epochs(idx) == Seq(3L, 5L))
    assert(GenerationManifest.state(idx).pending.isEmpty)
    assert(rows(RetrievalOps.hybridServeAt(spark, idx, asOfGen = 3L))
      == atGen3, "roll-forward disturbed sealed history")

    // a joint COMPACTION of the retrained store keeps the hybrid-level
    // epoch marker (the dense leg re-seats its quantizers as the
    // folded generation's epoch; the hybrid record must follow) and
    // serves bit-identically across the flip
    val atGen5 = rows(RetrievalOps.hybridServeAt(spark, idx))
    RetrievalOps.compactHybridIndex(spark, idx)
    assert(GenerationManifest.window(idx) == ((6L, 6L)))
    assert(GenerationManifest.epochs(idx) == Seq(6L),
      "the fold dropped the hybrid epoch marker")
    assert(rows(RetrievalOps.hybridServeAt(spark, idx)) == atGen5,
      "serve changed across the retrained store's fold")

    // SPARSE positive identification: a pending retrain intent plus an
    // out-of-band sparse APPEND (a real generation, not the retrain's
    // empty seal) must refuse the roll-forward instead of laundering
    // the foreign postings into the retrain's "empty" generation
    val sparseState = GenerationManifest.state(s"$idx/sparse")
    GenerationManifest.amend(idx)(s => s.copy(pending = Some(("R", 7L))))
    RetrievalOps.appendInvertedIndex(
      docs.filter($"doc_id" % 97 === 2)
        .withColumn("doc_id", $"doc_id" + 3000000L),
      s"$idx/sparse")
    val spe = intercept[IllegalArgumentException] {
      RetrievalOps.retrainHybridDense(spark, idx, ivfIters = 2, pqIters = 2)
    }
    assert(spe.getMessage.contains("not the retrain's empty seal"),
      s"out-of-band sparse append laundered into the retrain: ${spe.getMessage}")
    // restore the pre-probe state (test surgery: rewind the sparse
    // manifest, purge the probe's generation, clear the intent)
    GenerationManifest.commit(s"$idx/sparse",
      sparseState.lo, sparseState.hi, sparseState.wms)
    GenerationManifest.purgeOutside(s"$idx/sparse", Seq("", "_stats"),
      sparseState.lo, sparseState.hi)
    GenerationManifest.amend(idx)(s => s.copy(pending = None))
    assert(rows(RetrievalOps.hybridServeAt(spark, idx)) == atGen5)

    // THE SPOOF (the r17 verdict's weak): a direct retrainIvfPq on the
    // dense leg leaves EXACTLY the one-ahead window a crashed append
    // used to claim as its own repair state — with no intent record it
    // must now refuse loudly instead of silently skipping the dense
    // append (sealing vec_ids that were never indexed)
    SimilarityOps.retrainIvfPq(
      spark.read.parquet(s"$idx/_floats").filter($"gen" === 6L)
        .select($"vec_id", $"label", $"embedding"),
      s"$idx/dense", ivfIters = 2, pqIters = 2)
    assert(GenerationManifest.window(s"$idx/dense") == ((6L, 7L)),
      "spoof setup did not leave the one-ahead dense window")
    // the delta must be FRESH ids: an already-sealed delta would be
    // pruned to a no-op by the watermark before the guard even runs
    val se = intercept[IllegalArgumentException] {
      RetrievalOps.appendHybridIndex(
        docs.filter($"doc_id" % 97 === 1)
          .withColumn("doc_id", $"doc_id" + 2000000L),
        emb.filter($"vec_id" % 97 === 1)
          .withColumn("vec_id", $"vec_id" + 2000000L),
        idx)
    }
    assert(se.getMessage.contains("NO pending-append intent"),
      s"out-of-band retrain was not refused: ${se.getMessage}")
    assert(se.getMessage.contains("retrainHybridDense"),
      s"refusal should name the sanctioned path: ${se.getMessage}")
  }

  test("eval-gram bank (round 17): as-of reproduces the historical screen; compaction serves identically") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val eval = docs.filter($"doc_id" % 97 === 0)
    val corpus = docs.filter($"doc_id" % 97 =!= 0)
    val bank = tmp("graft-tt-eval-bank")
    PipelineOps.writeEvalBank(eval.filter($"doc_id" % 2 === 0), bank)
    PipelineOps.appendEvalBank(eval.filter($"doc_id" % 2 =!= 0), bank)
    // round 18: the bank joins the watermark discipline — every
    // generation records the eval_id range it sealed, so "which
    // generations seal which suites" is a manifest read, not a scan
    val wms = GenerationManifest.watermarks(bank)
    assert(wms.keySet == Set(1L, 2L),
      s"bank generations missing watermark records: $wms")
    val Seq(half1, half2) = Seq(0, 1).map(m =>
      eval.filter($"doc_id" % 2 === m)
        .agg(org.apache.spark.sql.functions.min($"doc_id"),
          org.apache.spark.sql.functions.max($"doc_id")).head())
    assert(wms(1L) == ((half1.getLong(0), half1.getLong(1))))
    assert(wms(2L) == ((half2.getLong(0), half2.getLong(1))))
    // head serve == the in-session report over the whole suite (q125's
    // oracle property, pinned in-engine too)
    val atHead =
      rows(PipelineOps.decontamServed(corpus, bank).orderBy($"doc_id"))
    assert(atHead == rows(PipelineOps.q52Decontam(spark, sf)),
      "served screen diverged from the in-session report")
    // generation 1 reproduces EXACTLY the screen the half-suite run
    // applied — the "which eval-set version did run g use" read
    val atGen1 = rows(
      PipelineOps.decontamServed(corpus, bank, asOfGen = 1L)
        .orderBy($"doc_id"))
    assert(atGen1 == rows(
      PipelineOps.decontamReport(corpus, eval.filter($"doc_id" % 2 === 0))
        .orderBy($"doc_id")),
      "as-of screen diverged from the half-suite report")
    assert(atGen1 != atHead,
      "fixture vacuous: the appended suite half changed nothing")
    // compaction folds the window without moving the head serve, and
    // the folded generation's watermark covers everything it sealed
    PipelineOps.compactEvalBank(spark, bank)
    assert(rows(PipelineOps.decontamServed(corpus, bank).orderBy($"doc_id"))
      == atHead, "bank compaction changed the screen")
    val foldedWm = GenerationManifest.watermarks(bank)
    assert(foldedWm == Map(3L -> ((
      math.min(wms(1L)._1, wms(2L)._1), math.max(wms(1L)._2, wms(2L)._2)))),
      s"folded bank watermark wrong: $foldedWm")
    // and the threshold form fires only past the cadence
    assert(!PipelineOps.maybeCompactEvalBank(spark, bank, maxGens = 1))
  }

  test("IVF-PQ retrain (round 16): epoch generations — as-of replays OLD quantizers, appends encode with NEW, compaction re-seats") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter($"vec_id" % 7 =!= 0)
    val delta = emb.filter($"vec_id" % 7 === 0)
    val probes = emb.filter($"vec_id" < 5)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .toSeq

    // retrain on IDENTICAL data + iters first: the trainer is
    // deterministic, so the epoch-2 snapshot must serve bit-identically
    // to generation 1 and the drift review must count ZERO flips —
    // pins that the epoch plumbing itself changes nothing
    val same = tmp("graft-tt-retrain-same")
    SimilarityOps.trainIvfPq(base, same, ivfIters = 2, pqIters = 2)
    val sameAt1 = rows(SimilarityOps.ivfPqServe(spark, same, emb, probes))
    SimilarityOps.retrainIvfPq(base, same, ivfIters = 2, pqIters = 2)
    assert(rows(SimilarityOps.ivfPqServe(spark, same, emb, probes)) == sameAt1,
      "identity retrain changed the serve — the epoch plumbing leaks")
    assert(SimilarityOps.quantizerDriftServed(spark, sf, same, 1L, 2L)
      .head().getLong(1) == 0L,
      "identity retrain flipped assignments")

    // the real retrain: a drifted training sample -> new quantizers
    val idx = tmp("graft-tt-retrain")
    SimilarityOps.trainIvfPq(base, idx, ivfIters = 2, pqIters = 2)
    val atGen1 = rows(SimilarityOps.ivfPqServe(spark, idx, emb, probes))
    SimilarityOps.retrainIvfPq(base, idx, ivfIters = 2, pqIters = 2,
      trainSample = Some(base.filter(
        $"vec_id" % SimilarityOps.QuantRetrainMod === 0)))
    assert(GenerationManifest.epochs(idx) == Seq(2L))
    // as-of below the epoch base replays the OLD quantizers + rows
    assert(rows(SimilarityOps.ivfPqServe(
      spark, idx, emb, probes, asOfGen = 1L)) == atGen1,
      "as-of serve across the retrain diverged from the capture")
    // the drift review is non-vacuous and the retrained recall holds
    val drift = SimilarityOps
      .quantizerDriftServed(spark, sf, idx, oldGen = 1L, newGen = 2L).head()
    assert(drift.getLong(1) > 0, "retrain fixture vacuous: zero flips")
    assert(drift.getLong(3) >= 400000L,
      s"retrained recall collapsed: ${drift.getLong(3)} ppm")

    // append AFTER the retrain: the delta must encode with the HEAD
    // epoch's quantizers — append == rebuild under the NEW quantizers
    SimilarityOps.appendIvfPqIndex(delta, idx)
    val appended = rows(SimilarityOps.ivfPqServe(spark, idx, emb, probes))
    val rebuilt = tmp("graft-tt-retrain-rebuild")
    val qRoot = s"$idx/_epochs/gen=2"
    SimilarityOps.writeIvfPqIndex(base.unionByName(delta), rebuilt,
      SimilarityOps.readQuantizer(spark, qRoot),
      SimilarityOps.readPqQuantizer(spark, s"$qRoot/_pq")
        .map(_.map(_.toSeq).toSeq).toSeq,
      residual = true)
    assert(rows(SimilarityOps.ivfPqServe(spark, rebuilt, emb, probes))
      == appended, "append under the retrained epoch diverged from rebuild")

    // compaction folds only the governing epoch's rows and re-seats
    // its quantizers; serves identical across the flip, floor refuses
    SimilarityOps.compactAnnIndex(spark, idx)
    assert(rows(SimilarityOps.ivfPqServe(spark, idx, emb, probes))
      == appended, "compaction of an epoched index changed the serve")
    intercept[IllegalArgumentException] {
      SimilarityOps.ivfPqSearchIndex(spark, idx, probes, asOfGen = 1L)
    }
  }
}
