package graft

import graft.queries._

/** Physical-plan shape assertions — the 100 TB contract, pinned so a
  * refactor that silently degrades a plan (broadcast → sort-merge,
  * bucket join → cartesian, pruning lost) fails CI, not the cluster.
  */
class PlanShapeSpec extends SparkSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q51: one shard-hash exchange feeds the packing window; text never shuffles") {
    val p = plan(PipelineOps.q51SeqPack(spark, sf))
    // the prefix sum must see only (doc_id, shard, n_tokens): everything
    // printed ABOVE the shard exchange (= the post-shuffle operators)
    // must be text-free — tokenization happens scan-side, and only the
    // 8-byte count crosses the wire. Assert and slice on the SAME
    // string so a changed node label fails the assert, not substring()
    val marker = "Exchange hashpartitioning(shard"
    assert(p.contains(marker), s"window not shard-keyed:\n$p")
    val aboveExchange = p.substring(0, p.indexOf(marker))
    assert(!aboveExchange.contains("text#"),
      s"text column crossed the exchange:\n$p")
  }

  test("q52: eval side broadcasts; corpus grams filtered map-side, never sort-merged") {
    val p = plan(PipelineOps.q52Decontam(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
    assert(p.contains("hashed_shingles"), s"gram generator not the custom one:\n$p")
  }

  test("q125: the LOADED eval bank broadcasts exactly like q52's in-session eval side") {
    import spark.implicits._
    // the serve reads (g, eval_id) rows from parquet instead of
    // shingling the raw suite — the plan must keep q52's shape: the
    // bank rides a broadcast, the corpus gram stream is filtered
    // map-side, nothing sort-merges or re-keys the corpus by gram
    val path = java.nio.file.Files
      .createTempDirectory("graft-plan-eval-bank").toString
    val docs = Tables.documents(spark, sf)
    PipelineOps.writeEvalBank(docs.filter($"doc_id" % 97 === 0), path)
    val p = plan(PipelineOps.decontamServed(
      docs.filter($"doc_id" % 97 =!= 0), path))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
    assert(p.contains("hashed_shingles"), s"gram generator not the custom one:\n$p")
  }

  test("q54: quantizer stats broadcast in-plan; scoring is the codegen'd kernel") {
    val p = plan(SimilarityOps.q54Sq8TopK(spark, sf))
    assert(p.contains("dot_product"), s"kernel not the custom expression:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
    // train + encode + search in one pass: the stats row and the probe
    // row both arrive by broadcast, and the final cut is a per-partition
    // top-k, not a global sort
    assert(p.contains("TakeOrderedAndProject"), s"global sort for top-k:\n$p")
  }

  test("q56: every keyed exchange rides the passage hash or the doc id, never a string") {
    // The 100 TB contract: dedup machinery (first-occurrence aggregate +
    // flag join) shuffles 8-byte phash keys; the only text-bearing
    // exchange is the final doc_id-keyed rewrite join. A refactor to a
    // window over passage STRINGS would key an exchange on ptext and
    // must fail here.
    val p = plan(DedupOps.q56PassageDedup(spark, sf))
    val ex = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toList
    assert(ex.exists(_.contains("phash")), s"no phash-keyed exchange:\n$p")
    ex.foreach { l =>
      assert(l.contains("phash") || l.contains("doc_id"),
        s"exchange keyed off-contract:\n$l")
    }
    assert(p.contains("xxhash64"), s"passage key not the 64-bit hash:\n$p")
  }

  test("q91: excision machinery shuffles 8-byte phrase hashes; text rides only the doc_id rewrite join") {
    // q56's contract at window granularity: the duplicate-phrase
    // aggregate and the mark join key on the 64-bit window hash, the
    // islands window and rewrite join on doc_id — a refactor that
    // shuffles phrase STRINGS (or goes all-pairs) must fail here.
    val p = plan(DedupOps.q91SubstrExcise(spark, sf))
    val ex = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toList
    assert(ex.exists(_.contains("gh")), s"no window-hash-keyed exchange:\n$p")
    ex.foreach { l =>
      assert(l.contains("gh") || l.contains("doc_id"),
        s"exchange keyed off-contract:\n$l")
    }
    assert(p.contains("xxhash64"), s"phrase key not the 64-bit hash:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$p")
  }

  test("q92: probes broadcast, scoring codegen'd, neighbor top-k cut below the exchange") {
    val p = plan(SimilarityOps.q92KnnLabel(spark, sf))
    assert(p.contains("dot_product"), s"kernel not the custom expression:\n$p")
    assert(p.contains("WindowGroupLimit"), s"no rank-limit pushdown:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("q95: the served scrub keeps q91's exchange contract (gh/doc_id keys only)") {
    val p = plan(DedupOps.q95ExciseIndexed(spark, sf))
    val ex = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toList
    ex.foreach { l =>
      assert(l.contains("gh") || l.contains("doc_id"),
        s"exchange keyed off-contract:\n$l")
    }
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$p")
  }

  test("q96: the first-occurrence aggregate stays a hash aggregate (packed key)") {
    // min(struct(doc_id, pos)) can only evaluate as a SortAggregate —
    // two full sorts of the corpus-sized window relation (measured 5×
    // the q91 wall at 500k docs). The packed-long formulation must
    // keep every corpus-sized aggregate in hash form; islands/rewrite
    // aggregates carry collect_list (ObjectHashAggregate — fine, they
    // run on the small marked/span relations).
    val p = plan(DedupOps.q96ExciseKeepFirst(spark, sf))
    assert(!p.contains("SortAggregate"), s"sort aggregate crept back:\n$p")
    val ex = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toList
    ex.foreach { l =>
      assert(l.contains("gh") || l.contains("doc_id"),
        s"exchange keyed off-contract:\n$l")
    }
  }

  test("q100: scoring never touches text after the scan — gh/doc_id exchanges only") {
    val p = plan(DedupOps.q100NoveltyScore(spark, sf))
    val ex = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toList
    ex.foreach { l =>
      assert(l.contains("gh") || l.contains("doc_id"),
        s"exchange keyed off-contract:\n$l")
    }
    assert(!p.contains("CartesianProduct"), s"all-pairs product:\n$p")
  }

  test("q97: eager bounded-histogram contract — the returned frame is local") {
    // cellBalance reduces the corpus to the ≤ |cells|·1000-row
    // histogram in ONE aggregate pass and finishes driver-side (no
    // cached frame, no second scan — q80's eager contract); the
    // returned relation must therefore be LOCAL and cell-count-sized,
    // never a corpus-bearing plan
    val df = SimilarityOps.q97CellBalance(spark, sf)
    val p = plan(df)
    assert(p.contains("LocalTableScan") || p.contains("localtablescan"),
      s"q97 result is not the finished local relation:\n$p")
    assert(df.count() <= SimilarityOps.NumCells)
  }

  test("q93: quantizer stats and centroids broadcast; keyed exchanges ride the label") {
    // one-pass encode (stats arrive by broadcast, q54's shape), the
    // 10-row centroid relation re-joins by broadcast, and the only
    // hash-keyed exchanges are the label-keyed aggregate + flag window
    val p = plan(SimilarityOps.q93CodeOutliers(spark, sf))
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(l.contains("label"), s"exchange keyed off-contract:\n$l")
    }
  }

  test("q58: tf/totals derive from the persisted (source, token) aggregate — one corpus scan") {
    // the registered form is eager (localCheckpoint truncates the plan),
    // so pin the LIVE plan through the loan form — same query, handles
    // released on exit
    TextOps.withQ58SourceDrift(spark, sf) { df =>
      val p = plan(df)
      // the global-tf, per-source, and grand-total branches must read the
      // cached stf frame, not re-scan the corpus (observed without the
      // persist: 4 full scans — the branches differ by pushed isnotnull
      // filters, so exchange reuse never fires)
      // (each InMemoryTableScan PRINTS the cached plan's FileScan again,
      // so count cache reads, not FileScan lines)
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
        s"derived aggregates re-scan the corpus:\n$p")
      // the only nested-loop join is the broadcast 1-row grand total
      assert(!p.contains("CartesianProduct"), s"grid materialized:\n$p")
    }
  }

  test("q59: ranking is shard-parallel — the only single-partition stage is the bounded offset sum") {
    val p = plan(PipelineOps.q59EpochShuffle(spark, sf))
    // per-shard ranks ride a shard-keyed exchange (never a global sort
    // of the corpus), and the offsets come back by broadcast
    assert(p.contains("Exchange hashpartitioning(shard"),
      s"rank window not shard-keyed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"offsets not broadcast:\n$p")
    // exactly one SinglePartition exchange: the <= ShuffleShards-row
    // count relation feeding the offset prefix sum
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) == 1,
      s"unexpected single-partition stage:\n$p")
  }

  test("q60: shuffled packing keeps q59's shape — shard-parallel, no second window pass") {
    val p = plan(PipelineOps.q60ShuffledPack(spark, sf))
    // rank AND token prefix share ONE shard-keyed window exchange; the
    // only single-partition stage is the ≤ ShuffleShards-row offset
    // relation, and the offsets come back by broadcast
    assert(p.contains("Exchange hashpartitioning(shard"),
      s"pack window not shard-keyed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"offsets not broadcast:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) == 1,
      s"unexpected single-partition stage:\n$p")
    // text is consumed scan-side (token count) — it never crosses any
    // exchange: everything above the shard exchange must be text-free
    val aboveExchange = p.substring(0, p.indexOf("Exchange hashpartitioning(shard"))
    assert(!aboveExchange.contains("text#"),
      s"text column crossed the exchange:\n$p")
  }

  test("q63: bucketed equi-join — day pre-aggregate below the join, lineitem scan pruned to shipdate") {
    val df = RelationalOps.q63RangeJoin(spark, sf)
    df.collect() // pin the FINAL adaptive plan
    val p = df.queryExecution.executedPlan.toString
    // the whole point of the bucketing: the non-equi predicate must NOT
    // plan as a nested-loop/cartesian — it rides one hash-partitionable
    // equi-join on the bucket id with a residual filter
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"theta join not bucketed:\n$p")
    // aggregate pushdown below the join: the lineitem side must enter
    // as per-day counts, so its scan reads ONLY l_shipdate (scoped to
    // lineitem's FileScan lines — other tables legitimately read more)
    val li = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("lineitem")).toList
    assert(li.nonEmpty, s"no lineitem scan found:\n$p")
    li.foreach { l =>
      assert(l.contains("ReadSchema: struct<l_shipdate"),
        s"lineitem scan not pruned to shipdate:\n$l")
    }
  }

  test("q64: one corpus pass — every derived stage reads the cached histogram") {
    val df = PipelineOps.q64MixtureBalance(spark, sf)
    df.collect() // pin the FINAL adaptive plan
    val p = df.queryExecution.executedPlan.toString
    // totals/W/T/rates AND the kept-count join must both come off the
    // persisted (source, hash-bucket) histogram — never a second scan
    // of documents (the q58 discipline; InMemoryTableScan re-prints the
    // cached FileScan, so count cache READS, not FileScan lines)
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
      s"derived stages re-scan the corpus:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"unexpected product:\n$p")
  }

  test("q11/q29/q42/q55: scale-growing sides broadcast via the size gate or AQE — not a forced hint") {
    // Rounds 7–9 forced broadcast() on customer (q11, q29), the df
    // table (q42), and the token-cost table (q55) — relations that
    // GROW with the corpus, so the hint was a 100 TB OOM in waiting.
    // The fix is
    // ScaleHints.broadcastIfBounded: at fixture scale the gate (or
    // AQE's runtime measurement) must still broadcast these sides —
    // pin the FINAL adaptive plan, so the assertion holds under either
    // mechanism; a regression to sort-merge on the fixture fails here.
    Seq(
      "q11" -> PipelineOps.q11JoinEnrich(spark, sf),
      "q42" -> TextOps.q42TfidfTopTerms(spark, sf),
      "q55" -> TextOps.q55TokenSurprisal(spark, sf)
    ).foreach { case (name, df) =>
      df.collect() // materialize so AQE's re-plan is the plan we pin
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"$name: expected broadcast join:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$name: fixture-sized side shuffled:\n$p")
    }
  }

  test("q29: customer dimension broadcasts via the size gate; fact join free to shuffle") {
    // Round 10 size-gated q11/q42/q55 but missed q29 — the same
    // filtered-customer class (grows linearly with scale, the hint was
    // an OOM at 100 TB). The gate must still broadcast it at fixture
    // scale; the fact-to-fact lineitem ⋈ orders join is ALLOWED to be
    // whatever AQE picks (it legitimately shuffles at scale), so the
    // pin targets only the c_custkey join.
    val df = RelationalOps.q29TopRevenue(spark, sf)
    df.collect() // pin the FINAL adaptive plan
    val p = df.queryExecution.executedPlan.toString
    val custJoin = p.linesIterator.filter(l =>
      l.contains("Join") && l.contains("c_custkey")).toList
    assert(custJoin.nonEmpty, s"no customer join found:\n$p")
    custJoin.foreach { l =>
      assert(l.contains("BroadcastHashJoin"),
        s"customer side not broadcast at fixture scale:\n$l")
    }
  }

  test("broadcastIfBounded: hints under the cap, leaves the join bare above it") {
    val customer = Tables.customer(spark, sf)
    // above the cap: the frame is returned UNCHANGED — no hint node
    // exists for AQE to obey, so the degradation path is real
    assert(ScaleHints.broadcastIfBounded(customer, capBytes = 0L) eq customer,
      "gate must return the frame unchanged when the estimate exceeds the cap")
    // under the cap: a broadcast hint is planted in the logical plan
    val hinted = ScaleHints.broadcastIfBounded(customer)
    assert(hinted.queryExecution.analyzed.toString.contains("ResolvedHint"),
      s"gate did not hint a bounded relation:\n${hinted.queryExecution.analyzed}")
  }

  test("q75: one narrow generate — no join, no aggregate, scan pruned to doc_id+text") {
    val df = TextOps.q75TextChunks(spark, sf)
    df.collect() // settle AQE
    val p = df.queryExecution.executedPlan.toString
    // the chunker is a pure map over the corpus scan: any join or
    // aggregate means someone broke the fan-out into a shuffle shape
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"q75 grew a join/aggregate:\n$p")
    assert(p.contains("Generate"), s"q75 lost its generate:\n$p")
    // column pruning: the documents scan must read ONLY doc_id + text
    val scans = p.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("documents")).toList
    assert(scans.nonEmpty, s"no documents scan:\n$p")
    scans.foreach { l =>
      assert(l.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"q75 scan reads extra columns:\n$l")
    }
  }

  test("q89: pure per-row projection — no join, no aggregate, no hash exchange") {
    val df = TextOps.q89BpeEncode(spark, sf)
    df.collect() // settle AQE
    val p = df.queryExecution.executedPlan.toString
    // the encode is map-only work that scales with input bytes: the only
    // exchange allowed is the presentation orderBy's range partitioning
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"q89 grew a join/aggregate:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"q89 grew a hash shuffle:\n$p")
    val scans = p.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("documents")).toList
    assert(scans.nonEmpty, s"no documents scan:\n$p")
    scans.foreach { l =>
      assert(l.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"q89 scan reads extra columns:\n$l")
    }
  }

  test("q88: in-cell pairing only — keyed exchanges ride cell/vec_id, kernel codegen'd") {
    val df = SimilarityOps.q88SemDedup(spark, sf)
    df.collect() // settle AQE
    val p = df.queryExecution.executedPlan.toString
    // SemDeDup's contract: candidates are CELL-blocked (never all-pairs),
    // and the decision join is id-keyed — so every hash exchange must
    // ride the int cell key or the 8-byte vec_id, never an embedding
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"q88 degenerated to all-pairs:\n$p")
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
      assert(l.contains("cell") || l.contains("vec_id"),
        s"q88 exchange keyed off-contract:\n$l")
    }
    assert(p.contains("dot_product"),
      s"q88 cosine not the codegen'd kernel:\n$p")
  }

  test("q06 flagship: rank-limit pushes a partial WindowGroupLimit below the exchange") {
    val p = plan(ReferenceOps.q06SlidingTopN(spark, sf))
    assert(p.contains("WindowGroupLimit"), s"no rank-limit pushdown:\n$p")
  }

  test("q106 matryoshka: both rank-limits push WindowGroupLimits; probes broadcast; codegen'd kernel") {
    val p = plan(SimilarityOps.q106MatryoshkaTopK(spark, sf))
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      s"expected a group-limit per stage:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-shuffling join:\n$p")
    assert(p.contains("dot_product"), s"kernel not the custom expression:\n$p")
  }

  test("q07/q14/q28: small sides broadcast, never sort-merge") {
    Seq(
      plan(ReferenceOps.q07SemiJoin(spark, sf)),
      plan(SimilarityOps.q14AnnTopK(spark, sf)),
      plan(SimilarityOps.q28IvfTopK(spark, sf))
    ).foreach { p =>
      assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
      assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
    }
  }

  test("q12/q14/q28: the similarity kernel is the codegen'd dot_product") {
    Seq(
      plan(PipelineOps.q12SimTopK(spark, sf)),
      plan(SimilarityOps.q14AnnTopK(spark, sf)),
      plan(SimilarityOps.q28IvfTopK(spark, sf))
    ).foreach { p =>
      assert(p.contains("dot_product"), s"kernel not the custom expression:\n$p")
      // the interpreted higher-order fold would show as aggregate(zip_with
      assert(!p.contains("zip_with"), s"interpreted lambda kernel:\n$p")
    }
  }

  test("q27: prefix-filter join — no all-pairs product, cached gram frame reused") {
    val p = plan(DedupOps.q27NgramJaccard(spark, sf))
    assert(!p.contains("CartesianProduct"), s"all-pairs join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"gram/prefix frames not reused via cache:\n$p")
  }

  test("q13/q21/q24: no all-pairs products anywhere") {
    Seq(
      plan(DedupOps.q13NeardupPairs(spark, sf)),
      plan(TextOps.q21SimhashPairs(spark, sf)),
      plan(AnalyticsOps.q24AsofJoin(spark, sf))
    ).foreach { p =>
      assert(!p.contains("CartesianProduct"), s"all-pairs join:\n$p")
    }
  }

  test("q09: the dedup exchange is keyed on the 8-byte content hash, not text") {
    // The 100 TB contract: the aggregate's shuffle key must be
    // xxhash64(text) (fixed-width), never the document text itself — a
    // refactor back to groupBy(text) ships the corpus as the exchange
    // KEY and must fail here.
    val p = plan(PipelineOps.q09DedupExact(spark, sf))
    val aggExchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toList
    assert(aggExchanges.nonEmpty, s"no hash exchange in q09:\n$p")
    aggExchanges.foreach { l =>
      assert(l.contains("content_hash"), s"dedup exchange not hash-keyed:\n$l")
      assert(!l.matches(""".*hashpartitioning\(text#.*"""),
        s"dedup exchange keyed on full text:\n$l")
    }
    // and the aggregate itself groups on the hash (SortAggregate prints
    // `key=`, HashAggregate `keys=` — the string min/max verify buffers
    // force the sort-based agg, which sorts by the 8-byte hash)
    assert(p.contains("key=[content_hash") || p.contains("keys=[content_hash"),
      s"aggregate not hash-keyed:\n$p")
  }

  test("corpus pipeline: exact-dedup window partitions on the content hash") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "web", "same text"), (2L, "en", "web", "same text"),
      (3L, "de", "web", "other text")).toDF("doc_id", "lang", "source", "text")
    val p = plan(CorpusPipeline.prepare(docs))
    val windowExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") &&
        l.contains("content_hash")).toList
    assert(windowExchanges.nonEmpty,
      s"exact-dedup window exchange not keyed on content_hash:\n$p")
    assert(!p.linesIterator.exists(
      _.matches(""".*Exchange hashpartitioning\(text#.*""")),
      s"some exchange still keyed on full text:\n$p")
  }

  test("q01: filter and projection reach the parquet scan") {
    val p = plan(ReferenceOps.q01ScanFilter(spark, sf))
    assert(p.contains("PushedFilters: [In(lang"), s"filter not pushed:\n$p")
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scanLine.contains("text"), s"projection not pruned:\n$p")
  }

  test("q41/q42: column pruning reaches the scan (q42 reads only doc_id, text)") {
    // q41 needs doc_id/lang/source (output) + text (the hash key) — but
    // never n_chars or the rest of the row
    val p41 = plan(RelationalOps.q41StratifiedSample(spark, sf))
    val scan41 = p41.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scan41.contains("text") && !scan41.contains("n_chars"),
      s"q41 scan not pruned:\n$p41")
    // q42's whole pipeline derives from (doc_id, text)
    val p42 = plan(TextOps.q42TfidfTopTerms(spark, sf))
    p42.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("lang") && !l.contains("source") &&
        !l.contains("n_chars"), s"q42 scan not pruned:\n$p42")
    }
  }

  test("q20: embedding stage is a narrow map — no exchange before MapPartitions") {
    val p = plan(MultimodalOps.q20MediaEmbed(spark, sf))
    val beforeMap = p.substring(p.indexOf("MapPartitions"))
    assert(!beforeMap.contains("Exchange"),
      s"payload shuffled before the encoder:\n$p")
  }

  test("q44: pruned scan, no joins — two hash aggregates only") {
    val p = plan(TextOps.q44BigramRep(spark, sf))
    val scan = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scan.contains("lang") && !scan.contains("n_chars"),
      s"q44 scan not pruned:\n$p")
    assert(!p.contains("Join"), s"q44 must be join-free:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregates:\n$p")
  }

  test("AQE re-plans at runtime: small aggregates get coalesced shuffle reads") {
    // The session runs 32 shuffle partitions for corpus-sized stages;
    // AQE is what keeps that from over-fragmenting SMALL stages (and,
    // at 100 TB, what splits skewed ones). Pin that it is live and
    // actually coalescing, so a config regression (someone disabling
    // adaptive execution) fails here, not on the cluster.
    val df = Tables.events(spark, sf).groupBy("event_type").count()
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
      s"adaptive coalescing not active:\n$p")
  }

  test("AQE skew-join splits a planted skewed key in the q24 as-of join shape") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit, max, max_by, md5, struct}
    // The q24 scaladoc defers skewed keys (one user, millions of
    // events) to AQE's skew-join split. The subtlety this pins: q24's
    // aggregate keys INCLUDE the join key, so the aggregate reuses the
    // join's partitioning (no exchange between them) — and AQE then
    // REFUSES to split the skewed partition, because a split would
    // break the downstream distribution requirement. The split happens
    // only under forceOptimizeSkewedJoin, which re-inserts the
    // aggregate's exchange: skew relief costs one extra shuffle in
    // this shape, it is not free. Both halves are asserted. Thresholds
    // are lowered because the mechanism's defaults are sized for
    // 256 MB partitions, not a test fixture.
    def runAsof(): org.apache.spark.sql.DataFrame = {
      // ~64 B of incompressible payload per row so the planted key's
      // partition exceeds the lowered byte thresholds post-compression
      val pad = concat(md5($"id".cast("string")), md5(($"id" + 1).cast("string")))
      val events = spark.range(0, 20000)
        .select(lit(7L).as("user_id"), $"id".as("event_id"),
          ($"id" % 100 + 1000).as("ts"), pad.as("pad"))
        .union(spark.range(20000, 20100)
          .select(($"id" % 17).as("user_id"), $"id".as("event_id"),
            ($"id" % 100 + 1000).as("ts"), pad.as("pad")))
      val orders = spark.range(0, 200)
        .select(($"id" % 20).as("o_custkey"), $"id".as("o_orderkey"),
          ($"id" % 90 + 1000).as("o_orderdate"))
      val asof = events
        .join(orders, $"user_id" === $"o_custkey" && $"o_orderdate" <= $"ts")
        .groupBy($"event_id", $"user_id", $"ts")
        .agg(max_by($"o_orderkey", struct($"o_orderdate", $"o_orderkey"))
          .as("o_orderkey"), max($"pad").as("pad"))
      asof.collect()
      asof
    }
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB")
    val saved = (confs.map(_._1) :+ "spark.sql.adaptive.forceOptimizeSkewedJoin")
      .map(k => k -> spark.conf.getOption(k))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val pDefault = runAsof().queryExecution.executedPlan.toString
      assert(pDefault.contains("SortMergeJoin") ||
        pDefault.contains("ShuffledHashJoin"), s"expected shuffle join:\n$pDefault")
      assert(!pDefault.contains("skew=true"),
        s"AQE split the join although the aggregate reuses its partitioning:\n$pDefault")

      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      val pForced = runAsof().queryExecution.executedPlan.toString
      assert(pForced.contains("skew=true"),
        s"planted skew not split under forceOptimizeSkewedJoin:\n$pForced")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom-filter pruning: a selective dim filter reaches the fact scan as might_contain") {
    // the 100 TB lever the salted/bucketed joins don't cover: when a
    // shuffle join's small side is SELECTIVELY FILTERED, Spark can
    // build a bloom filter over its join keys and inject it into the
    // big side's scan — fact rows that cannot match die BEFORE the
    // shuffle write. Pin that the engine's shape triggers it: a
    // filtered orders dim joined to lineitem under forced-shuffle
    // confs (thresholds lowered to fixture scale; at a real 100 TB the
    // defaults — 10 MB creation side, 10 GB probe scan — fire on their
    // own).
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB")
    val saved = confs.map(_._1).map(k => k -> spark.conf.getOption(k))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def revenue = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf)
          .filter($"o_orderpriority" === "1-URGENT"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(org.apache.spark.sql.functions.sum($"l_extendedprice").as("rev"))
      val p = revenue.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"no runtime bloom filter injected into the probe side:\n$p")
      // semantics unchanged: the filter only prunes non-matching rows
      val got = revenue.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val want = revenue.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(got == want, "bloom pruning changed the join result")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q68: the hashed classifier is a pure narrow map — no hash shuffle, no join") {
    // the scale claim vs q55's vocab join: the model rides into the
    // tasks as a literal array, so NOTHING shuffles but the contract
    // sort — pin zero hash exchanges and zero joins.
    val p = plan(TextOps.q68LinearScore(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"),
      s"q68 grew a hash shuffle:\n$p")
    assert(!p.contains("Join"), s"q68 grew a join:\n$p")
    val ranges = "Exchange rangepartitioning".r.findAllIn(p).size
    assert(ranges == 1, s"expected only the contract-sort exchange, got $ranges:\n$p")
  }

  test("q69: semantic decontam is a narrow map over the corpus scan — no join, no hash shuffle") {
    // the eval set rides in as literals (q50's bounded-probe pattern),
    // so the corpus never joins, aggregates, or shuffles — pin it.
    val p = plan(SimilarityOps.q69SemanticDecontam(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"),
      s"q69 grew a hash shuffle:\n$p")
    assert(!p.contains("Join"), s"q69 grew a join:\n$p")
  }

  test("q67/q70: probe sides broadcast, candidates never sort-merge") {
    // the IVF-PQ stack's scale contract: the corpus-sized code relation
    // joins the bounded probe relation by BROADCAST — a sort-merge here
    // would shuffle every encoded row on the cell key
    Seq(
      "q67" -> SimilarityOps.q67IvfPqTopK(spark, sf),
      "q70" -> SimilarityOps.q70RerankTopK(spark, sf),
      "q74" -> SimilarityOps.q74ResidualIvfPq(spark, sf)
    ).foreach { case (name, df) =>
      df.collect() // settle AQE
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"$name lost its broadcast join:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name degraded to sort-merge:\n$p")
    }
  }

  test("q71: candidates broadcast back, the token tail never reaches an exchange") {
    val (df, handles) = TextOps.heavyHittersBuild(
      Tables.documents(spark, sf), TextOps.HeavyHitterPerMille)
    try {
      df.collect() // settle AQE — the candidate side is measured tiny
      val p = df.queryExecution.executedPlan.toString
      // pass 2's restriction join must be broadcast: a sort-merge would
      // shuffle the full token stream, the exact thing the MG pass
      // exists to prevent
      assert(p.contains("BroadcastHashJoin"), s"q71 lost its broadcast join:\n$p")
      assert(!p.contains("SortMergeJoin"), s"q71 degraded to sort-merge:\n$p")
      // and the Misra-Gries fold is really in the plan (the one
      // sanctioned mapPartitions outside the multimodal stubs)
      assert(p.contains("MapPartitions"), s"q71 lost the MG fold:\n$p")
    } finally handles.foreach(_.unpersist())
  }

  test("q113: sharded cumulative windows; single-partition only for the shard-offset relation") {
    // un-settled plan string on purpose: the adaptive final-plan string
    // re-prints the initial plan and double-counts every exchange
    val p = plan(TextOps.q113GateRoc(spark, sf))
    // the r14 audit's scale defect: the distinct-score relation is
    // ~one row per document, so its cumulative sums must run SHARDED —
    // a shard-keyed window exchange proves the two-phase form is live
    assert(p.contains("hashpartitioning(shard"),
      s"q113 cumulative windows are not shard-partitioned:\n$p")
    // the only single-partition stage is the <=RocShards-row offset
    // prefix sum (plus nothing else — the corpus never funnels)
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) <= 1,
      s"more than the bounded offset stage runs single-partition:\n$p")
    // offsets rejoin by BROADCAST — a sort-merge here would shuffle the
    // per-score relation a second time for a <=RocShards-row dimension
    assert(p.contains("BroadcastHashJoin"), s"q113 lost the offsets broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q113 offsets degraded to sort-merge:\n$p")
  }

  test("q114 served scoring: a trained model is still a zero-shuffle narrow map") {
    // the hashing-trick claim must survive the weights' provenance: a
    // LOADED pocket vector rides as a literal exactly like the fixed
    // constant, so served scoring stays map-only (the single exchange
    // is the doc_id output-contract sort)
    val path = java.nio.file.Files
      .createTempDirectory("graft-plan-gate").toString
    TextOps.writeGateModel(Tables.documents(spark, sf), path)
    val p = plan(TextOps.gateScoreServed(spark, sf, path))
    assert(!p.contains("Join"), s"served scoring picked up a relation:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"served scoring shuffles data:\n$p")
  }

  test("q118 served LM scoring: model relations broadcast; exchanges keyed on doc_id only") {
    // the loaded vocab and cost table are bounded by construction
    // ((|V|+1)² rows), so the serve's joins must all ride broadcasts —
    // the corpus shuffles once, keyed by doc_id for the per-doc fold
    // (plus the output-contract sort); a refactor that sort-merges a
    // model relation against the exploded bigram stream re-keys the
    // corpus by token pair and must fail here
    val path = java.nio.file.Files
      .createTempDirectory("graft-plan-lm").toString
    TextOps.writeLmModel(Tables.documents(spark, sf), path)
    val p = plan(TextOps.lmScoreServed(spark, sf, path))
    assert(!p.contains("SortMergeJoin"), s"model join degraded:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    val ex = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toList
    ex.foreach(l => assert(l.contains("doc_id"),
      s"exchange keyed off-contract (corpus re-keyed by a model key?):\n$l"))
  }

  test("q120 hybrid serve: no sort-merge anywhere — probe sides, offsets, and model stats all broadcast") {
    // both legs are index-served: the sparse leg reads bucket-pruned
    // postings, the dense leg cell-pruned 4-byte codes, and every
    // bounded relation (probes, stats, shortlist, rerank ids) arrives
    // by broadcast — at 100 TB the only big relations are the pruned
    // index scans themselves
    val path = java.nio.file.Files
      .createTempDirectory("graft-plan-hybrid").toString
    RetrievalOps.writeHybridIndex(
      Tables.documents(spark, sf), Tables.embeddings(spark, sf), path)
    val p = plan(RetrievalOps.hybridServeAt(spark, path))
    // no sort-merge join at all: the fusion is a union of the two leg
    // outputs (both bounded at queries × k rows) aggregated in one
    // partition, so a sort-merge means a leg's big relation (or the
    // fusion) reached a shuffle join
    assert(!p.contains("SortMergeJoin"), s"sort-merge join in the hybrid:\n$p")
    // each leg's contract sort and the fused tail run in one partition:
    // no range exchange (and no sampling job) anywhere
    assert(!p.contains("Exchange rangepartitioning"),
      s"range exchange in the hybrid:\n$p")
    // the legs' top-k windows are the only rank exchanges — one keyed
    // on the sparse leg's qid (the fusion's own window adds none), the
    // dense leg's keyed on probe_id — and each carries a partial
    // WindowGroupLimit directly below it, so it ships ≤ k rows per key
    // per map partition
    val lines = p.linesIterator.toIndexedSeq
    val rankEx = lines.indices.filter(i =>
      lines(i).contains("Exchange hashpartitioning(qid") ||
        lines(i).contains("Exchange hashpartitioning(probe_id"))
    assert(rankEx.count(i => lines(i).contains("(qid")) == 1,
      s"expected exactly one qid-keyed exchange (the sparse leg's window):\n$p")
    assert(rankEx.exists(i => lines(i).contains("(probe_id")),
      s"dense leg's window exchange missing:\n$p")
    rankEx.foreach { i =>
      assert(i + 1 < lines.size && lines(i + 1).contains("WindowGroupLimit") &&
        lines(i + 1).contains("Partial"),
        s"no partial WindowGroupLimit below the window exchange:\n${lines(i)}\n$p")
    }
    assert(!p.contains("CartesianProduct"), s"all-pairs in the hybrid:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    // the dense scan is partition-pruned to the probed cells AND the
    // committed window — the q50 × q66 composition must survive the
    // cross-store wrapper
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell") &&
        l.contains("gen")),
      s"dense scan lost its cell/gen partition pruning:\n$p")
  }

  test("q48: the funnel scan is a single hash shuffle") {
    // the claimed advantage over the k-self-join shape — pin it
    val p = plan(AnalyticsOps.q48Funnel(spark, sf))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1, s"expected one hash shuffle, got $hashExchanges:\n$p")
    assert(!p.contains("Join"), s"funnel must not self-join:\n$p")
  }

  test("q43: each star round joins on node id — no all-pairs product") {
    import spark.implicits._
    // One alternating round over a toy edge set IS the repeated unit of
    // the fixpoint loop (lineage breaks make every round's plan
    // identical), so pinning its shape pins the whole closure.
    val edges = Seq((2L, 1L), (3L, 2L), (11L, 10L)).toDF("u", "v")
    val p = plan(DedupOps.smallStar(DedupOps.largeStar(edges)))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"all-pairs in closure:\n$p")
    assert(p.contains("HashAggregate"), s"neighborhood min not aggregated:\n$p")
  }
}
