package graft

import graft.queries.RetrievalOps
import org.apache.spark.sql.functions._

/** Sparse/hybrid retrieval specs: q76 against an exact driver-side BM25
  * recomputation, q77's persisted-index row-identity + partition
  * pruning, index append ≡ rebuild, and q78's integer fusion contract.
  */
class RetrievalOpsSpec extends SparkSuite {

  private def tokens(text: String): Seq[String] =
    text.toLowerCase.split(" ", -1).toSeq.filter(_.nonEmpty)

  /** Exact reimplementation of the BM25 contract on the driver, same
    * association order as [[RetrievalOps.scoreSqlFragment]] (same JVM
    * doubles ⇒ bit-identical scores). */
  private def bm25Expected(): Seq[(Int, Int, Long, Double)] = {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), tokens(r.getString(1))))
    val n = docs.length.toLong
    val sumdl = docs.map(_._2.length.toLong).sum
    val df = RetrievalOps.AllTerms.map(t =>
      t -> docs.count(_._2.contains(t)).toLong).toMap
    val avgdl = sumdl.toDouble / n
    RetrievalOps.BmQueries.flatMap { case (qid, terms) =>
      docs.flatMap { case (docId, tk) =>
        val tfs = terms.map(t => t -> tk.count(_ == t).toLong).toMap
        if (tfs.values.forall(_ == 0L)) None
        else {
          val score = terms.map { t =>
            val tf = tfs(t); val d = df(t)
            math.log(1.0 + (n - d + 0.5) / (d + 0.5)) *
              (tf * (1.0 + 1.2) /
                (tf + 1.2 * (1.0 - 0.75 + 0.75 * docId2dl(tk) / avgdl)))
          }.sum
          val rounded = BigDecimal(score)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          Some((qid, docId, rounded))
        }
      }.sortBy { case (_, id, s) => (-s, id) }
        .take(RetrievalOps.TopK)
        .zipWithIndex
        .map { case ((q, id, s), i) => (q, i + 1, id, s) }
    }
  }

  private def docId2dl(tk: Seq[String]): Double = tk.length.toDouble

  test("q76 == exact driver-side BM25 recomputation (ranks, ids, scores)") {
    val got = RetrievalOps.q76Bm25TopK(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val expected = bm25Expected()
    assert(got == expected,
      s"BM25 diverges; got=${got.take(5)} expected=${expected.take(5)}")
    // the rare term must matter: query 1's top hit contains "dup"
    // (its idf dwarfs the common terms') — guards against a future
    // change silently zeroing the idf leg
    val top1 = got.find(r => r._1 == 1 && r._2 == 1).get._3
    val text = Tables.documents(spark, sf)
      .filter(col("doc_id") === top1).select(col("text"))
      .collect().head.getString(0)
    assert(tokens(text).contains("dup"),
      s"query 1 top hit $top1 lacks the rare term — idf leg broken?")
  }

  test("q77 (persisted inverted index) is row-identical to q76") {
    val direct = RetrievalOps.q76Bm25TopK(spark, sf).collect().toSeq
    val served = RetrievalOps.q77Bm25Indexed(spark, sf).collect().toSeq
    assert(served == direct)
  }

  test("inverted-index serving scan prunes partitions and never reads text") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-inv-spec").toString
    RetrievalOps.writeInvertedIndex(Tables.documents(spark, sf), path)
    val plan = RetrievalOps.bm25SearchIndex(spark, path)
      .queryExecution.executedPlan.toString
    // the bucket predicates constant-fold to partition filters on the
    // postings scan — the serving path's whole point
    val scanLines = plan.linesIterator
      .filter(l => l.contains("PartitionFilters")).toSeq
    assert(scanLines.nonEmpty, s"no partition filters in:\n$plan")
    assert(scanLines.exists(_.contains("bucket")),
      s"postings scan not pruned on bucket:\n$plan")
    // no scan in the serving plan reads document text
    plan.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text:"), s"serving path reads text: $l")
    }
    // postings for the fixture's query terms occupy few buckets —
    // pruning has something to prune
    val allBuckets = spark.read.parquet(path)
      .select(col("bucket")).distinct().count()
    assert(allBuckets > RetrievalOps.BmQueries.flatMap(_._2).distinct.size,
      "vocabulary collapsed into query-term buckets; pruning vacuous")
  }

  test("appendInvertedIndex: append == rebuild, serving row-identical") {
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(col("doc_id") % 2 === 0)
    val delta = docs.filter(col("doc_id") % 2 === 1)
    val appended = java.nio.file.Files
      .createTempDirectory("graft-inv-append").toString
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft-inv-rebuild").toString
    RetrievalOps.writeInvertedIndex(base, appended)
    RetrievalOps.appendInvertedIndex(delta, appended)
    RetrievalOps.writeInvertedIndex(docs, rebuilt)
    val a = RetrievalOps.bm25SearchIndex(spark, appended).collect().toSeq
    val r = RetrievalOps.bm25SearchIndex(spark, rebuilt).collect().toSeq
    assert(a == r)

    // round 18 — IDEMPOTENT per doc_id: build and append each sealed
    // their doc_id range, and a REPLAYED delta (at-least-once retry of
    // a committed batch) is a pruned no-op — window unchanged, serving
    // identical, tf/df not doubled
    import graft.queries.GenerationManifest
    assert(GenerationManifest.watermarks(appended).keySet == Set(1L, 2L),
      "build/append did not record their watermarks")
    RetrievalOps.appendInvertedIndex(delta, appended)
    assert(GenerationManifest.window(appended) == ((1L, 2L)),
      "replayed append grew the window")
    assert(RetrievalOps.bm25SearchIndex(spark, appended).collect().toSeq == a,
      "replayed append changed serving (doubled tf/df?)")
    // a PARTIAL replay (half old ids, half fresh) seals only the fresh
    // half — and the watermark records what actually sealed
    val fresh = delta.filter(col("doc_id") % 97 === 0)
      .withColumn("doc_id", col("doc_id") + 5000000L)
    RetrievalOps.appendInvertedIndex(delta.unionByName(fresh), appended)
    assert(GenerationManifest.window(appended) == ((1L, 3L)))
    val wm3 = GenerationManifest.watermarks(appended)(3L)
    assert(wm3._1 >= 5000000L,
      s"partial replay over-claimed its sealed range: $wm3")
    // an EMPTY delta never seals a junk generation
    RetrievalOps.appendInvertedIndex(docs.limit(0), appended)
    assert(GenerationManifest.window(appended) == ((1L, 3L)),
      "empty append sealed a junk generation")
    // the compaction's folded watermark is derived from the records
    RetrievalOps.compactIndex(spark, appended)
    val foldedWm = GenerationManifest.watermarks(appended)
    assert(foldedWm.contains(4L) && foldedWm(4L)._2 >= 5000000L,
      s"fold lost the derived watermark: $foldedWm")
    // LEGACY BACKFILL: wipe the records (the pre-r18 manifest shape),
    // recover them from the postings' sealed doc_ids, and the replay
    // stays a pruned no-op
    val (wlo, whi) = GenerationManifest.window(appended)
    GenerationManifest.commit(appended, wlo, whi)
    assert(GenerationManifest.watermarks(appended).isEmpty)
    RetrievalOps.backfillIndexWatermarks(spark, appended)
    assert(GenerationManifest.watermarks(appended) == foldedWm,
      "backfilled watermarks drifted from the native records")
    val serveBefore = RetrievalOps.bm25SearchIndex(spark, appended)
      .collect().toSeq
    RetrievalOps.appendInvertedIndex(delta, appended)
    assert(GenerationManifest.window(appended) == ((wlo, whi)),
      "replay after backfill advanced the window")
    assert(RetrievalOps.bm25SearchIndex(spark, appended).collect().toSeq
      == serveBefore)
  }

  test("appendInvertedIndex crash windows: readers see the old generation until the manifest flips; retry converges") {
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(col("doc_id") % 2 === 0)
    val delta = docs.filter(col("doc_id") % 2 === 1)
    val path = java.nio.file.Files
      .createTempDirectory("graft-inv-crash").toString
    RetrievalOps.writeInvertedIndex(base, path)
    val baseServe = RetrievalOps.bm25SearchIndex(spark, path).collect().toSeq
    val baseStats = RetrievalOps.indexStats(spark, path).collect().toSeq

    // crash window 1: delta postings on disk, stats and manifest not —
    // serving and stats must be EXACTLY the pre-append view (postings
    // including the delta against stale n/sumdl is the torn state the
    // generation scheme exists to prevent)
    crashAt(s"write:postings:$path")(RetrievalOps.appendInvertedIndex(delta, path))
    assert(RetrievalOps.currentGeneration(path) == 1L)
    assert(RetrievalOps.bm25SearchIndex(spark, path).collect().toSeq == baseServe,
      "uncommitted delta postings leaked into serving")
    assert(RetrievalOps.indexStats(spark, path).collect().toSeq == baseStats,
      "stats drifted before the manifest flip")

    // crash window 2: postings AND next-gen stats on disk, manifest
    // not flipped — still the old view (note the retry purged window
    // 1's orphans first, so this is also the double-append guard)
    crashAt(s"flip:before:$path")(RetrievalOps.appendInvertedIndex(delta, path))
    assert(RetrievalOps.currentGeneration(path) == 1L)
    assert(RetrievalOps.bm25SearchIndex(spark, path).collect().toSeq == baseServe,
      "uncommitted generation leaked into serving")
    assert(RetrievalOps.indexStats(spark, path).collect().toSeq == baseStats,
      "next-generation stats leaked before the manifest flip")

    // the retried (completed) append converges to the full rebuild
    RetrievalOps.appendInvertedIndex(delta, path)
    assert(RetrievalOps.currentGeneration(path) == 2L)
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft-inv-crash-rebuild").toString
    RetrievalOps.writeInvertedIndex(docs, rebuilt)
    assert(RetrievalOps.bm25SearchIndex(spark, path).collect().toSeq ==
      RetrievalOps.bm25SearchIndex(spark, rebuilt).collect().toSeq,
      "retried append diverged from rebuild")
  }

  test("compactIndex: snapshot replaces the window bit-identically; crash windows invisible; appends interleave") {
    def genDirs(p: String): Seq[String] = {
      val d = new java.io.File(p)
      d.listFiles().map(_.getName).filter(_.startsWith("gen=")).sorted.toSeq
    }
    val docs = Tables.documents(spark, sf)
    val part = (i: Int) => docs.filter(col("doc_id") % 4 === i)
    val path = java.nio.file.Files
      .createTempDirectory("graft-inv-compact").toString
    RetrievalOps.writeInvertedIndex(part(0), path)
    RetrievalOps.appendInvertedIndex(part(1), path)
    assert(RetrievalOps.generationWindow(path) == ((1L, 2L)))
    val before = RetrievalOps.bm25SearchIndex(spark, path).collect().toSeq
    val statsBefore = RetrievalOps.indexStats(spark, path).collect().toSeq

    // crash window 1: snapshot postings on disk, manifest not flipped —
    // readers stay on the old window, results unchanged
    crashAt(s"write:postings:$path")(RetrievalOps.compactIndex(spark, path))
    assert(RetrievalOps.generationWindow(path) == ((1L, 2L)))
    assert(RetrievalOps.bm25SearchIndex(spark, path).collect().toSeq == before,
      "half-written compaction snapshot leaked into serving")
    // crash window 2: snapshot + carried stats on disk, manifest not
    // flipped — still the old view (retry purged window 1's orphan)
    crashAt(s"flip:before:$path")(RetrievalOps.compactIndex(spark, path))
    assert(RetrievalOps.generationWindow(path) == ((1L, 2L)))
    assert(RetrievalOps.indexStats(spark, path).collect().toSeq == statsBefore,
      "compaction stats leaked before the manifest flip")

    // completed (retried) compaction: window collapses to one fresh
    // generation, serving and stats BIT-IDENTICAL; the replaced
    // generations stay on disk (reader isolation — a reader that
    // resolved window [1,2] before the flip can finish its scan)
    RetrievalOps.compactIndex(spark, path)
    assert(RetrievalOps.generationWindow(path) == ((3L, 3L)))
    assert(RetrievalOps.bm25SearchIndex(spark, path).collect().toSeq == before,
      "compaction changed serving results")
    assert(RetrievalOps.indexStats(spark, path).collect().toSeq == statsBefore,
      "compaction changed stats")
    assert(genDirs(path) == Seq("gen=1", "gen=2", "gen=3"),
      s"replaced generations reclaimed eagerly (reader isolation broken): ${genDirs(path)}")

    // round 20: mutations never reclaim committed history — another
    // compaction RETAINS the replaced generations for in-flight
    // readers; only an explicit gc advances the retention floor
    RetrievalOps.compactIndex(spark, path)
    assert(RetrievalOps.generationWindow(path) == ((3L, 3L)))
    assert(genDirs(path) == Seq("gen=1", "gen=2", "gen=3"),
      s"a mutation reclaimed committed history (retention broken): ${genDirs(path)}")
    RetrievalOps.gcIndex(path, retainGens = 0)
    assert(genDirs(path) == Seq("gen=3"),
      s"gc never reclaimed: ${genDirs(path)}")
    assert(genDirs(s"$path/_stats") == Seq("gen=3"))

    // appends keep working after compaction, and a second compaction
    // of the mixed window converges to the full rebuild
    RetrievalOps.appendInvertedIndex(part(2), path)
    assert(RetrievalOps.generationWindow(path) == ((3L, 4L)))
    RetrievalOps.compactIndex(spark, path)
    RetrievalOps.appendInvertedIndex(part(3), path)
    assert(RetrievalOps.generationWindow(path) == ((5L, 6L)))
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft-inv-compact-rebuild").toString
    RetrievalOps.writeInvertedIndex(docs, rebuilt)
    assert(RetrievalOps.bm25SearchIndex(spark, path).collect().toSeq ==
      RetrievalOps.bm25SearchIndex(spark, rebuilt).collect().toSeq,
      "compact/append interleaving diverged from rebuild")
  }

  test("compactIndex is content-agnostic: passage index compacts with serving intact") {
    val docs = Tables.documents(spark, sf)
    val path = java.nio.file.Files
      .createTempDirectory("graft-passage-compact").toString
    RetrievalOps.writePassageIndex(docs.filter(col("doc_id") % 2 === 0), path)
    RetrievalOps.appendPassageIndex(docs.filter(col("doc_id") % 2 === 1), path)
    val before = RetrievalOps.passageSearchIndex(spark, path).collect().toSeq
    RetrievalOps.compactIndex(spark, path)
    assert(RetrievalOps.generationWindow(path) == ((3L, 3L)))
    assert(RetrievalOps.passageSearchIndex(spark, path).collect().toSeq == before,
      "passage compaction changed serving results")
  }

  test("q76 plan: no token explode reaches an exchange; stats broadcast") {
    val plan = RetrievalOps.q76Bm25TopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(token"),
      s"corpus tokens shuffled — the literal-term projection regressed:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"one-row stats not broadcast:\n$plan")
  }

  test("q78 fusion: integer RRF arithmetic, rank contract per query") {
    val rows = RetrievalOps.q78HybridRrf(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, rrf, sRank, dRank) =>
      val expect =
        (if (sRank > 0) 1000000L / (60 + sRank) else 0L) +
          (if (dRank > 0) 1000000L / (60 + dRank) else 0L)
      assert(rrf == expect, s"rrf=$rrf expect=$expect s=$sRank d=$dRank")
      assert(sRank > 0 || dRank > 0, "fused row retrieved by neither leg")
    }
    rows.groupBy(_._1).foreach { case (qid, qRows) =>
      val byRank = qRows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1 to byRank.length).toSeq,
        s"ranks not dense for query $qid")
      val rrfs = byRank.map(_._4).toSeq
      assert(rrfs == rrfs.sortBy(-_: Long), s"rrf not descending for $qid")
    }
  }

  test("q83 (indexed dense leg): fusion contract holds; rank agreement with q78 reported") {
    val exact = RetrievalOps.q78HybridRrf(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getLong(2)), r.getInt(1))).toMap
    val indexed = RetrievalOps.q83HybridIndexed(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))
    assert(indexed.nonEmpty)
    // same integer-fusion contract as q78 (shared fuseRrf)
    indexed.foreach { case (_, _, _, rrf, sRank, dRank) =>
      val expect =
        (if (sRank > 0) 1000000L / (60 + sRank) else 0L) +
          (if (dRank > 0) 1000000L / (60 + dRank) else 0L)
      assert(rrf == expect, s"rrf=$rrf expect=$expect s=$sRank d=$dRank")
      assert(sRank > 0 || dRank > 0, "fused row retrieved by neither leg")
    }
    // the sparse leg is identical in both hybrids, so every
    // sparse-only fused row must agree exactly; overall (qid, doc_id)
    // agreement differs only where ANN shortlist recall < 1 — report
    // it, and require the legs still mostly agree (the index serves
    // an approximation of the same metric, not a different ranking)
    val common = indexed.count { case (qid, _, docId, _, _, _) =>
      exact.contains((qid, docId))
    }
    val agreement = common.toDouble / indexed.length
    info(f"q83 vs q78 fused top-k (qid, doc_id) agreement: $agreement%.3f " +
      s"($common of ${indexed.length})")
    // measured 0.767 on this fixture (23/30; the divergent rows are
    // all dense-leg-only picks past the ANN shortlist's recall) — the
    // floor sits just under it to catch a leg silently degrading to
    // noise without pinning fixture-exact ANN recall
    assert(agreement >= 0.7,
      f"indexed dense leg moved the fused set too far: $agreement%.3f")
  }

  test("q122 (trained hybrid): fusion contract holds; rank agreement with the oracle-verified q83 hybrid") {
    val fixed = RetrievalOps.q83HybridIndexed(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getLong(2)), r.getInt(1))).toMap
    val trained = RetrievalOps.q122HybridTrained(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))
    assert(trained.nonEmpty)
    // the same exact integer-fusion contract (shared fuseRrf)
    trained.foreach { case (_, _, _, rrf, sRank, dRank) =>
      val expect =
        (if (sRank > 0) 1000000L / (60 + sRank) else 0L) +
          (if (dRank > 0) 1000000L / (60 + dRank) else 0L)
      assert(rrf == expect, s"rrf=$rrf expect=$expect s=$sRank d=$dRank")
      assert(sRank > 0 || dRank > 0, "fused row retrieved by neither leg")
    }
    // the sparse leg is identical in both hybrids; the dense legs
    // differ only in WHICH quantizers shortlist (trained vs fixed) —
    // both rerank by the same exact cosine, so the fused sets must
    // mostly agree (the q83-vs-q78 floor argument, one level up)
    val common = trained.count { case (qid, _, docId, _, _, _) =>
      fixed.contains((qid, docId))
    }
    val agreement = common.toDouble / trained.length
    info(f"q122 vs q83 fused top-k (qid, doc_id) agreement: $agreement%.3f " +
      s"($common of ${trained.length})")
    assert(agreement >= 0.7,
      f"trained dense leg moved the fused set too far: $agreement%.3f")
  }

  test("q126 (hybrid drift): one-row review; dense-only retrain flips no sparse ranks; agreement holds the q122 floor") {
    val rows = RetrievalOps.q126HybridDrift(spark, sf).collect()
    assert(rows.length == 1, s"review must be one row, got ${rows.length}")
    val r = rows.head
    def l(name: String): Long = r.getAs[Long](name)
    assert(l("n_queries") > 0L, s"vacuous review: $r")
    assert(l("n_old") > 0L && l("n_new") > 0L, s"empty fused sets: $r")
    // the sparse leg's empty retrain generation changes NOTHING on its
    // side — a nonzero flip count means the legs were not correlated
    assert(l("n_sparse_flips") == 0L,
      s"dense-only retrain flipped sparse ranks: $r")
    // arithmetic consistency of the matrix itself
    assert(l("n_common") <= math.min(l("n_old"), l("n_new")), s"$r")
    assert(l("n_rank_same") <= l("n_common"), s"$r")
    assert(l("agreement_ppm") == l("n_common") * 1000000L / l("n_new"),
      s"$r")
    // both generations approximate the SAME metric (trained vs
    // retrained quantizers shortlisting for the same exact-cosine
    // rerank) — the fused sets must mostly agree (q122's floor, one
    // retrain up)
    info(s"q126 drift review: $r")
    assert(l("agreement_ppm") >= 700000L,
      s"retrain moved the fused set past the floor: $r")
  }

  test("q127 (drift matrix): the review arithmetic on deterministic fused legs — zero sparse flips, full top-k sets, exact ppm") {
    val rows = RetrievalOps.q127DriftMatrix(spark, sf).collect()
    assert(rows.length == 1, s"matrix must be one row, got ${rows.length}")
    val r = rows.head
    def l(name: String): Long = r.getAs[Long](name)
    // every query retrieves a full fused top-k on BOTH sides — the
    // fixture has far more than k candidates per leg
    assert(l("n_old") == l("n_queries") * RetrievalOps.TopK, s"$r")
    assert(l("n_new") == l("n_queries") * RetrievalOps.TopK, s"$r")
    // only the dense leg changed (full-dim -> matryoshka prefix): the
    // sparse ranks of common pairs are IDENTICAL by construction, and
    // the matrix must say so — this is the q126 invariant, here
    // hash-checked by the DuckDB oracle as well
    assert(l("n_sparse_flips") == 0L,
      s"dense-only change flipped sparse ranks: $r")
    assert(l("n_dense_flips") > 0L,
      s"vacuous fixture: the prefix cosine changed no dense ranks: $r")
    // matrix self-consistency (q126's arithmetic contract)
    assert(l("n_common") <= math.min(l("n_old"), l("n_new")), s"$r")
    assert(l("n_rank_same") <= l("n_common"), s"$r")
    assert(l("agreement_ppm") == l("n_common") * 1000000L / l("n_new"),
      s"$r")
    info(s"q127 drift matrix: $r")
  }

  test("q85 passage retrieval: one best passage per (query, doc); chunk text stays out of exchanges") {
    val rows = RetrievalOps.q85PassageBm25(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    // max-passage rule: a doc appears at most once per query
    rows.groupBy(r => (r._1, r._3)).foreach { case (key, g) =>
      assert(g.length == 1, s"doc listed twice for $key")
    }
    rows.groupBy(_._1).foreach { case (qid, qRows) =>
      val byRank = qRows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1 to byRank.length).toSeq,
        s"ranks not dense for query $qid")
      val scores = byRank.map(_._5).toSeq
      assert(scores == scores.sorted.reverse, s"scores not descending for $qid")
    }
    // non-vacuous best-passage selection: some winning passage is not
    // the doc's first chunk (the rule actually chose between windows)
    assert(rows.exists(_._4 > 0L),
      "every winner is chunk 0 — best-passage selection vacuous on this fixture")
    // chunk text never shuffles: exchanges carry only ids/scores
    val plan = RetrievalOps.q85PassageBm25(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(chunk_text"),
      s"chunk text reached an exchange:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"one-row chunk stats not broadcast:\n$plan")
    // both rank cuts run partially below their exchanges
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit pushdown missing from the passage windows:\n$plan")
  }

  test("q87 (persisted passage index) is row-identical to q85; append == rebuild; scan pruned, no text stored") {
    val docs = Tables.documents(spark, sf)
    val direct = RetrievalOps.q85PassageBm25(spark, sf).collect().toSeq
    val served = RetrievalOps.q87PassageIndexed(spark, sf).collect().toSeq
    assert(served == direct, "passage serving diverged from the direct q85")

    // append == rebuild under the shared generation protocol
    val base = docs.filter(col("doc_id") % 2 === 0)
    val delta = docs.filter(col("doc_id") % 2 === 1)
    val appended = java.nio.file.Files
      .createTempDirectory("graft-passage-append").toString
    RetrievalOps.writePassageIndex(base, appended)
    RetrievalOps.appendPassageIndex(delta, appended)
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft-passage-rebuild").toString
    RetrievalOps.writePassageIndex(docs, rebuilt)
    assert(RetrievalOps.currentGeneration(appended) == 2L)
    assert(
      RetrievalOps.passageSearchIndex(spark, appended).collect().toSeq ==
        RetrievalOps.passageSearchIndex(spark, rebuilt).collect().toSeq,
      "passage append diverged from rebuild")

    // serving prunes on (gen, bucket); the index stores NO text at all
    val plan = RetrievalOps.passageSearchIndex(spark, rebuilt)
      .queryExecution.executedPlan.toString
    val scanLines = plan.linesIterator
      .filter(_.contains("PartitionFilters")).toSeq
    assert(scanLines.exists(l => l.contains("bucket") && l.contains("gen")),
      s"passage postings scan not pruned on (gen, bucket):\n$plan")
    val stored = spark.read.parquet(rebuilt).columns.toSet
    assert(!stored.exists(c => c.contains("text")),
      s"passage index stores text: $stored")
  }

  /** Driver-side RRF reference: the full outer join of two legs keyed
    * by (qid, doc_id) — an absent rank is 0 — fused with the integer
    * arithmetic, cut to the top k per query (ties by doc_id). Rows are
    * (qid, rank, doc_id, rrf_micro, s_rank, d_rank). */
  private def fusedExpected(
      sparse: Map[(Int, Long), Int],
      dense: Map[(Int, Long), Int]): Seq[(Int, Int, Long, Long, Int, Int)] =
    (sparse.keySet ++ dense.keySet).toSeq
      .map { case key @ (qid, docId) =>
        val s = sparse.getOrElse(key, 0)
        val d = dense.getOrElse(key, 0)
        val rrf = (if (s > 0) 1000000L / (60 + s) else 0L) +
          (if (d > 0) 1000000L / (60 + d) else 0L)
        (qid, docId, rrf, s, d)
      }
      .groupBy(_._1).toSeq.flatMap { case (_, g) =>
        g.sortBy { case (_, id, rrf, _, _) => (-rrf, id) }
          .take(RetrievalOps.TopK).zipWithIndex
          .map { case ((q, id, rrf, s, d), i) => (q, i + 1, id, rrf, s, d) }
      }.sortBy(r => (r._1, r._2))

  private def fusedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
      r.getLong(3), r.getInt(4), r.getInt(5))).toSeq

  test("q78 == driver-side fusion of the two collected legs") {
    val sparse = RetrievalOps.q76Bm25TopK(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getLong(2)), r.getInt(1))).toMap
    val dense = RetrievalOps.denseRanks(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getInt(2))).toMap
    val expected = fusedExpected(sparse, dense)
    val got = fusedRows(RetrievalOps.q78HybridRrf(spark, sf))
    assert(got == expected,
      s"fusion diverges; got=${got.take(4)} expected=${expected.take(4)}")
  }

  test("fuseRrf == driver-side full-outer fusion on hand-built legs") {
    import spark.implicits._
    // qid 1: both legs, 10 ranks each with 3 docs in common — 17
    // candidates cut to TopK. Docs 101 (sparse rank 1 only) and 201
    // (dense rank 1 only) tie on rrf and split by doc_id; so do 103
    // (s 3, d 8) and 108 (s 8, d 3), which both legs retrieved.
    val s1 = Seq(101L, 102L, 103L, 104L, 105L, 106L, 107L, 108L, 109L, 110L)
    val d1 = Seq(201L, 202L, 108L, 204L, 205L, 206L, 207L, 103L, 209L, 105L)
    val sparse = (s1.zipWithIndex.map { case (d, i) => ((1, d), i + 1) } ++
      // qid 2: sparse leg only
      Seq(((2, 7L), 1), ((2, 3L), 2))).toMap
    val dense = (d1.zipWithIndex.map { case (d, i) => ((1, d), i + 1) } ++
      // qid 3: dense leg only
      Seq(((3, 9L), 1), ((3, 4L), 2), ((3, 1L), 3))).toMap
    def leg(m: Map[(Int, Long), Int], rank: String) =
      m.toSeq.map { case ((q, d), r) => (q, d, r) }
        .toDF("qid", "doc_id", rank).repartition(3)
    val expected = fusedExpected(sparse, dense)
    // the fixture exercises what it claims: more than TopK candidates
    // for qid 1, a tie on rrf, and both one-leg qids
    assert((sparse.keySet ++ dense.keySet).count(_._1 == 1) > RetrievalOps.TopK)
    assert(expected.count(_._1 == 1) == RetrievalOps.TopK)
    assert(expected.groupBy(r => (r._1, r._4)).exists(_._2.size > 1),
      "no rrf tie in the fixture")
    assert(expected.exists(_._1 == 2) && expected.exists(_._1 == 3))
    val got = fusedRows(
      RetrievalOps.fuseRrf(leg(sparse, "s_rank"), leg(dense, "d_rank")))
    assert(got == expected,
      s"fusion diverges; got=$got expected=$expected")
  }

  /** `body`'s result and the Spark jobs started under a fresh job group
    * while it ran on this thread, counted by a listener; the listener
    * bus is drained before the count is read. */
  private def jobsIn[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          seen.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val out =
      try {
        sc.setJobGroup(group, "job count", interruptOnCancel = false)
        try body finally sc.clearJobGroup()
      } finally {
        org.apache.spark.graftBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    (out, seen.get())
  }

  test("hybrid serve: hybridServeAt + collect on a 2-generation store runs at most 16 Spark jobs") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val path = java.nio.file.Files
      .createTempDirectory("graft-hybrid-jobs").toString
    RetrievalOps.writeHybridIndex(docs.filter(col("doc_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 0), path)
    RetrievalOps.appendHybridIndex(docs.filter(col("doc_id") % 2 === 1),
      emb.filter(col("vec_id") % 2 === 1), path)
    val warm = RetrievalOps.hybridServeAt(spark, path).collect().toSeq
    val (served, eager) = jobsIn(RetrievalOps.hybridServeAt(spark, path))
    val (again, lazyJobs) = jobsIn(served.collect().toSeq)
    assert(again == warm, "a repeated serve changed its rows")
    info(s"hybrid serve: $eager eager + $lazyJobs collect Spark jobs")
    // eager sidecar/manifest loads plus the collect's AQE stages; the
    // fused tail and each leg's final sort run in one partition, so no
    // range exchange, sampling job or fusion shuffle adds a stage
    assert(eager + lazyJobs <= 16,
      s"hybrid serve ran ${eager + lazyJobs} Spark jobs (bound 16)")
  }
}
