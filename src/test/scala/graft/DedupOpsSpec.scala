package graft

import graft.queries.DedupOps
import org.apache.spark.sql.functions._

/** MinHash-LSH near-dup specs. Expected pair counts computed
  * independently in DuckDB (exact all-pairs Jaccard over 3-word shingles
  * on sf0.001: 28 pairs ≥ 0.6, background pairs max 0.069).
  */
class DedupOpsSpec extends SparkSuite {

  test("shingles: distinct k-grams, lowercased; short docs -> empty") {
    import spark.implicits._
    val df = Seq(
      (1L, "A b c d"),        // 2 shingles
      (2L, "x y"),            // too short -> empty
      (3L, "t t t t t")       // all shingles identical -> 1 distinct
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id", DedupOps.shingles($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) == Seq("a b c", "b c d"))
    assert(out(2L) == Seq.empty)
    assert(out(3L) == Seq("t t t"))
  }

  test("candidatePairs finds injected near-dups, skips unrelated docs") {
    import spark.implicits._
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (0 until 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val other = (100 until 140).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other))
      .toDF("doc_id", "text")
    val pairs = DedupOps.candidatePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("q13 on sf0.001 matches exact all-pairs ground truth") {
    // loan form: the plain form's persist is caller-owned and would
    // leak into the shared suite session (the round-13/14 lesson)
    val rows = DedupOps.withQ13NeardupPairs(spark, sf)(_.collect())
    assert(rows.length == 28) // DuckDB exact all-pairs count at >= 0.6
    rows.foreach { r =>
      val (a, b, common, union) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(a < b)
      assert(common.toDouble / union >= 0.6)
      assert(union >= common && common > 0)
    }
    // sorted output contract
    val keys = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(keys == keys.sorted)
  }

  test("HashedShingles generator == built-in lambda chain + xxhash64, row for row") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val viaGenerator = docs.select(col("doc_id"),
      graft.functions.HashedShingles.hashedShingles(col("text"), 3).as("hs"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val viaLambdas = docs
      .select(col("doc_id"), explode(DedupOps.shingles(col("text"))).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("hs"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(viaGenerator == viaLambdas)
    assert(viaGenerator.size == 500)
  }

  test("HashedShingles handles null, short, and multi-space text") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "A b  c d"), (2L, "x y"), (3L, null))
      .toDF("doc_id", "text")
    val out = df.select($"doc_id",
      graft.functions.HashedShingles.hashedShingles($"text", 3).as("hs"))
      .groupBy($"doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1: tokens a,b,c,d -> 2 shingles; docs 2 and 3 emit nothing
    assert(out == Map(1L -> 2L))
  }

  test("q27: prefix-filter ssjoin == exact all-pairs ground truth") {
    import spark.implicits._
    val q = DedupOps.q27NgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // independent exact ground truth on STRING grams (no hashing, no
    // prefix filter — the shingles() lambda chain): prefix filtering
    // guarantees recall 1 by construction, so equality must hold on
    // any corpus — not just a lucky fixture margin
    val grams = Tables.documents(spark, sf)
      .select($"doc_id",
        DedupOps.shingles($"text", DedupOps.NgramTokens).as("gs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val exact = (for {
      (a, ga) <- grams; (b, gb) <- grams
      if a < b && ga.nonEmpty && gb.nonEmpty
      common = (ga & gb).size
      union = ga.size + gb.size - common
      if 2 * common >= union
    } yield (a, b, common.toLong, union.toLong)).toSet
    assert(q == exact)
    assert(q.nonEmpty) // fixture plants near-dups; vacuous pass is a bug
  }

  // q27's plan shape (no cartesian, cached frames reused) is pinned in
  // PlanShapeSpec alongside the other queries' plan assertions.

  test("loan forms release every cached frame, on success and on failure") {
    import org.apache.spark.sql.graftShims
    // suites share the session; start from a known-empty cache registry
    spark.catalog.clearCache()
    assert(graftShims.cacheIsEmpty(spark))
    val n13 = DedupOps.withQ13NeardupPairs(spark, sf)(_.collect().length)
    assert(n13 == 28)
    assert(graftShims.cacheIsEmpty(spark), "q13 loan left cached frames")
    val n27 = DedupOps.withQ27NgramJaccard(spark, sf)(_.count())
    assert(n27 > 0)
    assert(graftShims.cacheIsEmpty(spark), "q27 loan left cached frames")
    // release must happen even when the borrowed action throws
    intercept[RuntimeException] {
      DedupOps.withQ13NeardupPairs(spark, sf) { _ =>
        throw new RuntimeException("boom")
      }
    }
    assert(graftShims.cacheIsEmpty(spark), "q13 loan leaked on failure")
    // the delta-screen loan (the streaming baseScreen's per-batch form)
    val idx = java.nio.file.Files
      .createTempDirectory("graft-loan-idx").toString
    val docs = Tables.documents(spark, sf)
    DedupOps.writeDedupIndex(
      docs.filter(col("doc_id") % DedupOps.DeltaMod =!= DedupOps.DeltaRem), idx)
    spark.catalog.clearCache() // writeDedupIndex's own persist is released; start clean
    val nScreen = DedupOps.withDeltaScreen(spark, idx,
      docs.filter(col("doc_id") % DedupOps.DeltaMod === DedupOps.DeltaRem))(_.count())
    assert(nScreen > 0)
    assert(graftShims.cacheIsEmpty(spark), "deltaScreen loan left cached frames")
  }

  test("appendDedupIndex: append == rebuild; crash windows invisible; compaction screen-identical") {
    import spark.implicits._
    def genDirs(p: String): Seq[String] = {
      val d = new java.io.File(p)
      d.listFiles().map(_.getName).filter(_.startsWith("gen=")).sorted.toSeq
    }
    val docs = Tables.documents(spark, sf)
    val base = docs.filter($"doc_id" % 4 === 1 || $"doc_id" % 4 === 2)
    val d1 = docs.filter($"doc_id" % 4 === 3)
    val probe = docs.filter($"doc_id" % 4 === 0)
    def screen(idx: String): Seq[(Long, Long, Long, Long)] =
      DedupOps.withDeltaScreen(spark, idx, probe)(_.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq)

    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft-dedup-rebuild").toString
    DedupOps.writeDedupIndex(base.unionByName(d1), rebuilt)
    val want = screen(rebuilt)
    assert(want.nonEmpty, "fixture screen is vacuous")

    val idx = java.nio.file.Files
      .createTempDirectory("graft-dedup-append").toString
    DedupOps.writeDedupIndex(base, idx)
    val baseOnly = screen(idx)
    assert(baseOnly != want, "delta adds no screen evidence — vacuous")

    // crash window 1: delta buckets on disk, shingles and manifest not
    // — the torn state that would lose recall silently; must be
    // invisible (screen == the base-only view)
    crashAt(s"write:buckets:$idx")(DedupOps.appendDedupIndex(d1, idx, 16, 4))
    assert(DedupOps.dedupIndexWindow(idx) == ((1L, 1L)))
    assert(screen(idx) == baseOnly, "uncommitted buckets leaked into the screen")
    // crash window 2: both artifacts on disk, manifest not flipped
    crashAt(s"flip:before:$idx")(DedupOps.appendDedupIndex(d1, idx, 16, 4))
    assert(DedupOps.dedupIndexWindow(idx) == ((1L, 1L)))
    assert(screen(idx) == baseOnly, "uncommitted generation leaked into the screen")

    // the retried (completed) append converges to the rebuild
    DedupOps.appendDedupIndex(d1, idx)
    assert(DedupOps.dedupIndexWindow(idx) == ((1L, 2L)))
    assert(screen(idx) == want, "append diverged from rebuild")

    // round 18 — IDEMPOTENT per doc_id: a replay of the committed
    // delta is a pruned no-op (window unchanged, screen identical —
    // doubled shingles would double n_common and inflate Jaccard)
    DedupOps.appendDedupIndex(d1, idx)
    assert(DedupOps.dedupIndexWindow(idx) == ((1L, 2L)),
      "replayed dedup append grew the window")
    assert(screen(idx) == want, "replayed append changed the screen")
    assert(graft.queries.GenerationManifest.watermarks(idx).keySet
      == Set(1L, 2L), "build/append did not record doc_id watermarks")

    // compaction: window collapses, screen bit-identical; replaced
    // generations stay on disk for in-flight readers of the old window
    DedupOps.compactDedupIndex(spark, idx)
    assert(DedupOps.dedupIndexWindow(idx) == ((3L, 3L)))
    assert(screen(idx) == want, "compaction changed screen results")
    assert(genDirs(s"$idx/buckets") == Seq("gen=1", "gen=2", "gen=3"),
      "replaced generations reclaimed eagerly (reader isolation broken)")
    // round 20: mutations never reclaim committed history — another
    // compaction RETAINS the replaced generations; only an explicit gc
    // advances the retention floor and deletes
    DedupOps.compactDedupIndex(spark, idx)
    assert(DedupOps.dedupIndexWindow(idx) == ((3L, 3L)))
    assert(genDirs(s"$idx/buckets") == Seq("gen=1", "gen=2", "gen=3"),
      "a mutation reclaimed committed history (retention broken)")
    DedupOps.gcDedupIndex(idx, retainGens = 0)
    assert(genDirs(s"$idx/buckets") == Seq("gen=3") &&
      genDirs(s"$idx/shingles") == Seq("gen=3"),
      "gc never reclaimed")
  }

  test("the daily loop closes: day-2 survivors sealed, day-3 screen flags their dups") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val base = docs.filter($"doc_id" % 4 === 1 || $"doc_id" % 4 === 2)
    val day2 = docs.filter($"doc_id" % 4 === 3)
    val day3 = docs.filter($"doc_id" % 4 === 0)

    val idx = java.nio.file.Files
      .createTempDirectory("graft-daily-loop").toString
    DedupOps.writeDedupIndex(base, idx)
    // day 2: screen, then seal the SURVIVORS (screen-flagged docs must
    // not become index anchors — they are duplicates, not corpus)
    val flagged2 = DedupOps.withDeltaScreen(spark, idx, day2)(
      _.collect().map(_.getLong(0)).toSet)
    val survivors2 = day2.filter(!$"doc_id".isin(flagged2.toSeq: _*))
    DedupOps.appendDedupIndex(survivors2, idx)

    // day 3 screens against base AND day-2 survivors
    val got = DedupOps.withDeltaScreen(spark, idx, day3)(_.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq)
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft-daily-loop-rebuild").toString
    DedupOps.writeDedupIndex(base.unionByName(survivors2), rebuilt)
    val want = DedupOps.withDeltaScreen(spark, rebuilt, day3)(_.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq)
    assert(got == want, "looped screen diverges from the one-shot index")
    // the loop's whole point: at least one day-3 flag names a DAY-2
    // survivor — yesterday's crawl is visible to today's screen
    assert(got.exists(_._2 % 4 == 3),
      s"no day-3 flag names a day-2 doc — loop not exercised: $got")
  }

  test("q13 plan has no cartesian/all-pairs join") {
    DedupOps.withQ13NeardupPairs(spark, sf) { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$plan")
    }
  }

  test("q45 reconciles the lexical and embedding pair relations exactly") {
    import graft.queries.SimilarityOps
    val lex = DedupOps.q13NeardupPairs(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache() // q13 persist: test-owned
    val emb = SimilarityOps.q37CosineNeardup(spark, sf)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = DedupOps.withQ45CrossmodalDups(spark, sf) { df =>
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getInt(3))))
        .toMap
    }
    // full-outer contract: one row per pair either detector fired on,
    // flags exactly reflecting membership
    assert(got.keySet == (lex ++ emb))
    got.foreach { case (k, (l, e)) =>
      assert(l == (if (lex(k)) 1 else 0), s"lex flag wrong for $k")
      assert(e == (if (emb(k)) 1 else 0), s"emb flag wrong for $k")
    }
    assert(lex.nonEmpty && emb.nonEmpty, "vacuous fixture")
    assert(org.apache.spark.sql.graftShims.cacheIsEmpty(spark),
      "q45 loan left cached frames")
  }

  test("q46: repeated windows found across docs, within-doc repeats excluded") {
    import spark.implicits._
    val span = (1 to 8).map(i => s"s$i").mkString(" ") // the shared span
    val docs = Seq(
      (1L, s"head1 $span tail1"),
      (2L, s"head2 head2b $span"),       // span at a different offset
      (3L, s"$span middle $span"),       // within-doc repeat only... also cross-doc
      (4L, (1 to 12).map(i => s"u$i").mkString(" ")), // unrelated
      (5L, "too short")
    ).toDF("doc_id", "text")
    val got = DedupOps.repeatedWindows(docs)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the shared span appears in docs 1, 2, 3 (twice in 3) -> n_docs 3, n_occ 4
    assert(got(span) == ((3L, 4L)))
    // no window of doc 4 is shared
    assert(!got.keys.exists(_.startsWith("u")))
    // every reported window really is cross-document
    got.values.foreach { case (nd, no) => assert(nd >= 2 && no >= nd) }
  }

  test("q46 on the fixture matches a driver-side recount") {
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = scala.collection.mutable.Map.empty[String, (Set[Long], Long)]
    texts.foreach { case (id, text) =>
      val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
      toks.sliding(DedupOps.WindowTokens).filter(_.length == DedupOps.WindowTokens)
        .map(_.mkString(" ")).foreach { w =>
          val (ds, n) = counts.getOrElse(w, (Set.empty[Long], 0L))
          counts(w) = (ds + id, n + 1)
        }
    }
    val expected = counts.toSeq
      .collect { case (w, (ds, n)) if ds.size >= 2 => (w, ds.size.toLong, n) }
      .sortBy { case (w, _, n) => (-n, w) }
      .take(20)
    val got = DedupOps.q46RepeatedWindows(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("q56 passage dedup: first occurrence survives, docs rewritten in order") {
    import spark.implicits._
    // 2-token passages for a hand-checkable corpus: doc2 repeats doc1's
    // first two passages, doc3 IS doc1's last passage, doc4 is unique
    // (and shorter than one passage width).
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d x y"),
      (3L, "e f"),
      (4L, "g")
    ).toDF("doc_id", "text")
    val got = DedupOps.passageDedup(docs, p = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == Map(
      1L -> ((3L, 3L, "a b c d e f")),
      2L -> ((3L, 1L, "x y")),
      3L -> ((1L, 0L, "")),
      4L -> ((1L, 1L, "g"))))
  }

  test("q56 on the fixture matches a driver-side recount") {
    val p = DedupOps.PassageTokens
    val texts = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
      .sortBy(_._1)
    val passages = texts.flatMap { case (id, t) =>
      t.grouped(p).zipWithIndex.map { case (chunk, i) =>
        (id, i, chunk.mkString(" ")) }
    }
    val firstOf = passages.groupBy(_._3).view
      .mapValues(g => g.minBy(x => (x._1, x._2))).toMap
    val expected = passages.groupBy(_._1).map { case (id, ps) =>
      val kept = ps.filter(x => firstOf(x._3) == x).sortBy(_._2)
      id -> ((ps.size.toLong, kept.size.toLong, kept.map(_._3).mkString(" ")))
    }
    val got = DedupOps.passageDedup(graft.Tables.documents(spark, sf))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == expected)
    // the fixture actually exercises the drop path
    assert(got.values.exists { case (n, k, _) => k < n })
  }

  test("q57 provenance rollup == recount from the q13 pair relation") {
    val srcOf = graft.Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = DedupOps.withQ13NeardupPairs(spark, sf) { pairs =>
      pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        .map { case (a, b) =>
          val (x, y) = (srcOf(a), srcOf(b))
          if (x <= y) (x, y) else (y, x) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
    val (got, plan) = DedupOps.withQ57DupProvenance(spark, sf) { df =>
      (df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap,
        df.queryExecution.executedPlan.toString)
    }
    assert(got == expected)
    assert(got.nonEmpty)
    // candidate-bounded throughout — never an all-pairs product
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$plan")
  }

  test("q62: delta screen == q13's pair relation restricted to cross-split pairs") {
    // q13 is itself oracle-verified against exact all-pairs Jaccard, so
    // the incremental form must return EXACTLY its pairs with one doc on
    // each side of the doc_id split, reoriented (delta_id, base_id) —
    // same-side pairs are out of scope by design.
    val expected = DedupOps.q13NeardupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .flatMap { case (a, b, common, union) =>
        val aDelta = a % DedupOps.DeltaMod == DedupOps.DeltaRem
        val bDelta = b % DedupOps.DeltaMod == DedupOps.DeltaRem
        if (aDelta && !bDelta) Some((a, b, common, union))
        else if (bDelta && !aDelta) Some((b, a, common, union))
        else None
      }.toSet
    val got = DedupOps.q62DeltaDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == expected, s"screen drifted from the pair relation")
    assert(got.nonEmpty, "fixture must plant cross-split near-dups")
    val keys = got.map(r => (r._1, r._2)).toSeq
    assert(keys == keys.sorted) // sorted output contract
  }

  test("writeDedupIndex + deltaScreen: finds cross-split dups only, index stores no text") {
    import spark.implicits._
    val famA = (0 until 40).map(i => s"aaa$i").mkString(" ")
    val famAdup = (0 until 40).map(i => if (i == 20) "CHANGED" else s"aaa$i").mkString(" ")
    val famB = (0 until 40).map(i => s"bbb$i").mkString(" ")
    val famC = (0 until 40).map(i => s"ccc$i").mkString(" ")
    val famCdup = (0 until 40).map(i => if (i == 5) "ALTERED" else s"ccc$i").mkString(" ")
    val base = Seq((1L, famA), (2L, famB)).toDF("doc_id", "text")
    // 12 near-dups base 1; 4 and 8 near-dup EACH OTHER but no base doc
    val delta = Seq((4L, famC), (8L, famCdup), (12L, famAdup))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("q62spec").toString
    try {
      DedupOps.writeDedupIndex(base, path)
      val idxCols = (spark.read.parquet(s"$path/buckets").columns ++
        spark.read.parquet(s"$path/shingles").columns).toSet
      assert(!idxCols.contains("text"), s"index leaked text: $idxCols")
      val got = DedupOps.deltaScreen(spark, path, delta).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((12L, 1L)),
        s"expected only the cross-split dup, got $got")
    } finally {
      import java.nio.file.{Files, Path}
      Files.walk(Path.of(path)).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("q91 excision: shared phrases removed at any alignment, spans merged") {
    import spark.implicits._
    // l=3 hand corpus: docs 1/4 share a 5-token run (overlapping windows
    // must merge to ONE span in both docs), doc 2 shares only "c d e",
    // doc 3 is shorter than a window, doc 5 shares two SEPARATED phrases
    // with doc 1 (two spans around a surviving middle).
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "x c d e y z w"),
      (3L, "p q"),
      (4L, "c d e f g h"),
      (5L, "c d e m m m e f g")
    ).toDF("doc_id", "text")
    val got = DedupOps.substrExcise(docs, l = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == Map(
      1L -> ((1L, 5L, "a b")),
      2L -> ((1L, 3L, "x y z w")),
      3L -> ((0L, 0L, "p q")),
      4L -> ((1L, 5L, "h")),
      5L -> ((2L, 6L, "m m m"))))
  }

  test("q91 on the fixture matches a driver-side recount") {
    val l = DedupOps.ExciseTokens
    val texts = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val wins = texts.flatMap { case (id, t) =>
      (0 to t.size - l).map(i => (id, i, t.slice(i, i + l).mkString(" ")))
    }
    val dupGrams = wins.groupBy(_._3)
      .filter(_._2.map(_._1).distinct.size >= 2).keySet
    val expected = texts.map { case (id, t) =>
      val covered = wins
        .filter(w => w._1 == id && dupGrams(w._3))
        .flatMap(w => w._2 until w._2 + l).toSet
      val nSpans = covered.toSeq.sorted
        .zipWithIndex.map { case (idx, rn) => idx - rn }.distinct.size
      id -> ((nSpans.toLong, covered.size.toLong,
        t.indices.filterNot(covered).map(t).mkString(" ")))
    }.toMap
    val got = DedupOps.q91SubstrExcise(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == expected)
    // the fixture's planted near-dups actually exercise the excise path
    assert(got.values.exists { case (n, _, _) => n > 0 })
  }

  test("q95: self-scrub against the corpus' own bank == q91, and the bank holds no text") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val docs = graft.Tables.documents(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("q95self").toString
    try {
      DedupOps.writePhraseIndex(docs, path)
      val idxCols = spark.read.parquet(s"$path/phrases").columns.toSet
      assert(idxCols == Set("gh", "mn", "mx", "gen"), s"unexpected bank schema: $idxCols")
      assert(rows(DedupOps.scrubAgainst(spark, path, docs)) ==
        rows(DedupOps.substrExcise(docs)),
        "self-scrub diverges from q91 — self-exclusion rule broken")
    } finally rmTree(path)
  }

  test("q95: append == rebuild, crash window invisible, compaction transparent") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val docs = graft.Tables.documents(spark, sf)
    val base = docs.filter($"doc_id" % 3 === 0)
    val day2 = docs.filter($"doc_id" % 3 === 1)
    val delta = docs.filter($"doc_id" % 3 === 2)
    val incr = java.nio.file.Files.createTempDirectory("q95incr").toString
    val full = java.nio.file.Files.createTempDirectory("q95full").toString
    try {
      DedupOps.writePhraseIndex(base, incr)
      val beforeAppend = rows(DedupOps.scrubAgainst(spark, incr, delta))
      // crashed append: staged generation, no manifest flip -> invisible
      crashAt(s"flip:before:$incr")(
        DedupOps.appendPhraseIndex(day2, incr, DedupOps.ExciseTokens))
      assert(rows(DedupOps.scrubAgainst(spark, incr, delta)) == beforeAppend,
        "uncommitted append observable")
      // the retry purges the debris and lands; append == rebuild
      DedupOps.appendPhraseIndex(day2, incr)
      DedupOps.writePhraseIndex(docs.filter($"doc_id" % 3 < 2), full)
      val got = rows(DedupOps.scrubAgainst(spark, incr, delta))
      assert(got == rows(DedupOps.scrubAgainst(spark, full, delta)),
        "append diverges from rebuild")
      // compaction collapses generations without changing the serve
      DedupOps.compactPhraseIndex(spark, incr)
      assert(graft.queries.GenerationManifest.window(incr)._1 ==
        graft.queries.GenerationManifest.window(incr)._2)
      assert(rows(DedupOps.scrubAgainst(spark, incr, delta)) == got,
        "compaction changed the served scrub")
      // a phrase shared base/day2 must excise from the delta too
      // (min/mx merge across generations), and the scrub is non-vacuous
      assert(got.exists(_._2 > 0))
    } finally { rmTree(incr); rmTree(full) }
  }

  test("q96 keep-first: one copy of every phrase survives, intra-doc repeats dedup") {
    import spark.implicits._
    // l=3: doc1 repeats "a b c" internally (second occurrence excised,
    // first kept); doc2's copy is excised too (doc1 pos 0 is globally
    // first); doc3 is below window width.
    val docs = Seq(
      (1L, "a b c a b c d"),
      (2L, "a b c x y"),
      (3L, "p q")
    ).toDF("doc_id", "text")
    val got = DedupOps.exciseKeepFirst(docs, l = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == Map(
      1L -> ((1L, 3L, "a b c d")),
      2L -> ((1L, 3L, "x y")),
      3L -> ((0L, 0L, "p q"))))
  }

  test("q96 on the fixture matches a driver-side recount") {
    val l = DedupOps.ExciseTokens
    val texts = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val wins = texts.flatMap { case (id, t) =>
      (0 to t.size - l).map(i => (id, i, t.slice(i, i + l).mkString(" ")))
    }
    val byGram = wins.groupBy(_._3)
    val expected = texts.map { case (id, t) =>
      val covered = wins.filter(_._1 == id).flatMap { case (_, p, g) =>
        val occ = byGram(g)
        val first = occ.minBy(o => (o._1, o._2))
        if (occ.size >= 2 && (first._1, first._2) != ((id, p)))
          p until p + l
        else Nil
      }.toSet
      val nSpans = covered.toSeq.sorted
        .zipWithIndex.map { case (idx, rn) => idx - rn }.distinct.size
      id -> ((nSpans.toLong, covered.size.toLong,
        t.indices.filterNot(covered).map(t).mkString(" ")))
    }.toMap
    val got = DedupOps.q96ExciseKeepFirst(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == expected)
    assert(got.values.exists { case (n, _, _) => n > 0 })
  }

  test("q96 packed-key bound is ENFORCED: an out-of-range doc_id raises") {
    import spark.implicits._
    // doc_id past the 2⁴² headroom would silently mis-order the
    // first-occurrence min under the packed key; the guard must raise
    // instead (the pos >= 2²¹ arm is the same expression).
    val docs = Seq(
      (1L << 50, "a b c a b c d"),
      (2L, "a b c x y")
    ).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      DedupOps.exciseKeepFirst(docs, l = 3).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    assert(chain(ex).contains("packed-key"),
      s"expected the packed-key bound error, got: ${chain(ex)}")
  }

  test("q98 containment: catches the embedded quote Jaccard misses") {
    import spark.implicits._
    // doc 2 is doc 1's opening paragraph verbatim — 100% contained but
    // Jaccard-tiny against the long host; doc 3 shares nothing.
    val para = (1 to 12).map(i => s"w$i").mkString(" ")
    val host = para + " " + (13 to 120).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, host), (2L, para), (3L, "x y z q r s t u v")
    ).toDF("doc_id", "text")
    val (res, handles) = DedupOps.containmentBuild(docs)
    val got = try res.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    finally handles.foreach(_.unpersist())
    // only (2 in 1): 2's 9 grams all occur in 1; nothing else qualifies
    // (1's 117 grams are mostly outside 2)
    assert(got == Set((2L, 1L)), s"got $got")
  }

  test("q98 prefix bound: a pair sharing only the inner's p-th rarest gram is still found") {
    import spark.implicits._
    // inner has 4 grams; its RAREST (df=1) gram is the unshared one, so
    // the shared grams start at prefix position 2. The completeness
    // bound gives p = n - ceil(3n/4) + 1 = 2 for n = 4; an
    // off-by-one prefix (the double-division floor (n+1) div 4 = 1)
    // probes only the unshared gram and silently loses the pair.
    val inner = "a1 a2 a3 a4 a5 a6 a7"            // grams a1..a4 .. a4..a7
    val outer = "x1 a2 a3 a4 a5 a6 a7 x2"         // shares exactly 3 of 4
    val docs = Seq((1L, inner), (2L, outer)).toDF("doc_id", "text")
    val (res, handles) = DedupOps.containmentBuild(docs)
    val got = try res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    finally handles.foreach(_.unpersist())
    // (1 in 2): common 3, n_in 4 -> C = 3/4 exactly; the reverse
    // direction fails (3/5 < 3/4)
    assert(got == Set((1L, 2L, 3L, 4L)), s"got $got")
  }

  test("q98 on the fixture matches the exact all-pairs recount (recall 1)") {
    val k = DedupOps.NgramTokens
    val texts = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toSeq)
    val grams = texts.map { case (id, t) =>
      id -> (0 to t.size - k).map(i => t.slice(i, i + k).mkString(" ")).toSet
    }.toMap
    val expected = (for {
      (a, ga) <- grams.toSeq; (b, gb) <- grams.toSeq
      if a != b && ga.nonEmpty
      common = (ga intersect gb).size
      if common * DedupOps.ContainDen >= ga.size * DedupOps.ContainNum
    } yield (a, b, common.toLong, ga.size.toLong, gb.size.toLong)).toSet
    val got = DedupOps.withQ98Containment(spark, sf) {
      _.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    }
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("q100 novelty == driver recount; zero score <=> the scrub rewrites nothing") {
    import spark.implicits._
    val l = DedupOps.ExciseTokens
    val docs = graft.Tables.documents(spark, sf)
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val (delta, base) = texts.partition(_._1 % DedupOps.DeltaMod == DedupOps.DeltaRem)
    val baseGrams = base.flatMap { case (_, t) =>
      (0 to t.size - l).map(i => t.slice(i, i + l).mkString(" "))
    }.toSet
    val expected = delta.collect { case (id, t) if t.size >= l =>
      val ws = (0 to t.size - l).map(i => t.slice(i, i + l).mkString(" "))
      val known = ws.count(baseGrams)
      (id, ws.size.toLong, known.toLong, known.toLong * 1000 / ws.size)
    }.sortBy(_._1).toSeq
    val got = DedupOps.q100NoveltyScore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.exists(_._4 > 0), "no delta doc scores — vacuous")
    // score/scrub consistency on the same bank: n_known > 0 <=> spans
    val path = java.nio.file.Files.createTempDirectory("q100c").toString
    try {
      DedupOps.writePhraseIndex(
        docs.filter($"doc_id" % DedupOps.DeltaMod =!= DedupOps.DeltaRem), path)
      val spans = DedupOps.scrubAgainst(spark, path,
        docs.filter($"doc_id" % DedupOps.DeltaMod === DedupOps.DeltaRem))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got.foreach { case (id, _, known, _) =>
        assert((known > 0) == (spans(id) > 0),
          s"doc $id: score/scrub disagree (known=$known spans=${spans(id)})")
      }
    } finally rmTree(path)
  }

  test("scrub/score selfExclude=false: an id collision cannot disable the check") {
    import spark.implicits._
    // the sealed doc is its phrases' SOLE holder (mn = mx = 42); an
    // arriving doc from a DIFFERENT id space that reuses id 42 with
    // the same text is a pure re-fetch — with self-exclusion on it
    // scores fully novel (the hole), with it off it scores fully known
    val text = (1 to 12).map(i => s"w$i").mkString(" ")
    val sealedDocs = Seq((42L, text)).toDF("doc_id", "text")
    val arriving = Seq((42L, text)).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("q100self").toString
    try {
      DedupOps.writePhraseIndex(sealedDocs, path)
      val on = DedupOps.noveltyScore(spark, path, arriving).collect()
        .map(r => (r.getLong(0), r.getLong(3))).toMap
      assert(on(42L) == 0L, "shared-id-space semantics changed")
      val off = DedupOps.noveltyScore(spark, path, arriving,
        selfExclude = false).collect()
        .map(r => (r.getLong(0), r.getLong(3))).toMap
      assert(off(42L) == 1000L,
        s"re-fetch must score fully known with selfExclude off: $off")
      val scrubbed = DedupOps.scrubAgainst(spark, path, arriving,
        selfExclude = false).collect()
        .map(r => (r.getLong(0), r.getString(3))).toMap
      assert(scrubbed(42L) == "", "re-fetch must scrub to nothing")
    } finally rmTree(path)
  }

  private def rmTree(path: String): Unit = {
    import java.nio.file.{Files, Path}
    Files.walk(Path.of(path)).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
  }

  test("q104 leak-safe split: no verified near-dup pair straddles a split") {
    import spark.implicits._
    spark.catalog.clearCache()
    DedupOps.withQ104LeakSafeSplit(spark, sf) { df =>
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      // total cover: one assignment per corpus doc
      val nDocs = Tables.documents(spark, sf).count()
      assert(rows.length.toLong == nDocs)
      assert(rows.map(_._1).distinct.length == rows.length)
      val split = rows.map(r => r._1 -> r._3).toMap
      val cluster = rows.map(r => r._1 -> r._2).toMap

      // THE property: every verified near-dup pair shares cluster and
      // split — leakage across the cut is impossible by construction
      val pairs = DedupOps.neardupPairs(Tables.documents(spark, sf))
        .select($"doc_a", $"doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.nonEmpty, "fixture has no near-dup pairs; spec is vacuous")
      pairs.foreach { case (a, b) =>
        assert(cluster(a) == cluster(b), s"pair ($a,$b) in different families")
        assert(split(a) == split(b), s"LEAK: near-dup pair ($a,$b) straddles " +
          s"${split(a)}/${split(b)}")
      }
      spark.catalog.clearCache() // neardupPairs persist above: test-owned

      // proportions: buckets are drawn per FAMILY, so expect 800/100/100
      // per mille at family granularity within binomial noise
      val fams = rows.groupBy(_._2).view.mapValues(_.head._3).toMap
      val n = fams.size.toDouble
      val frac = fams.values.groupBy(identity).view.mapValues(_.size / n).toMap
      assert(frac.keySet == Set("train", "val", "test"), s"splits: $frac")
      assert(frac("train") > 0.7 && frac("train") < 0.9, s"train frac: $frac")
      assert(frac("val") > 0.03 && frac("val") < 0.2, s"val frac: $frac")
      assert(frac("test") > 0.03 && frac("test") < 0.2, s"test frac: $frac")

      // determinism is the md5 rule itself: recompute one bucket
      rows.take(20).foreach { case (_, cid, sp) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(cid.toString.getBytes("UTF-8"))
          .take(2).map("%02x".format(_)).mkString
        val b = java.lang.Long.parseLong(hex, 16) % 1000
        val expect = if (b < DedupOps.SplitTrainPerMille) "train"
          else if (b < DedupOps.SplitTrainPerMille + DedupOps.SplitValPerMille) "val"
          else "test"
        assert(sp == expect, s"bucket rule drifted for family $cid")
      }
    }
    assert(org.apache.spark.sql.graftShims.cacheIsEmpty(spark))
  }

  test("q110 threshold histogram: bins recount from the verified pair relation") {
    import spark.implicits._
    spark.catalog.clearCache()
    val pairs = DedupOps.neardupPairs(Tables.documents(spark, sf), 0.5, 32, 2)
      .select($"n_common", $"n_union").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    spark.catalog.clearCache() // neardupPairs persist: test-owned
    assert(pairs.nonEmpty, "no pairs at floor 0.5 — vacuous")
    val expect = pairs.groupBy { case (c, u) => c * 20 / u * 50 }.view
      .mapValues(_.length.toLong).toMap

    val got = DedupOps.q110ThresholdHistogram(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, s"histogram drifted: $got vs $expect")
    // conservation + bin sanity
    assert(got.values.sum == pairs.length.toLong)
    got.keys.foreach(b => assert(b >= 500 && b <= 1000 && b % 50 == 0))
    assert(org.apache.spark.sql.graftShims.cacheIsEmpty(spark))
  }

  test("passage bank (r20): disjoint-delta scrub == corpus-global passageRewrite restricted to the delta; append == rebuild; self-scrub") {
    import spark.implicits._
    val p = 3
    // base chunks (p=3): doc 1 holds "a b c","d e f","g h i";
    // doc 2 holds "x y z","a b c","p q r"
    val base = Seq(
      (1L, "a b c d e f g h i"),
      (2L, "x y z a b c p q r")).toDF("doc_id", "text")
    // delta ids ABOVE the base's, no chunk duplicated within the delta
    // — the regime where the per-doc bank scrub equals the
    // corpus-global first-occurrence rule (first occurrences live in
    // the sealed base)
    val delta = Seq(
      (10L, "d e f u v w"),      // sealed chunk dropped, tail kept
      (11L, "a b c d e f"),      // every chunk sealed -> doc drops
      (12L, "m n o p q r s t u") // middle chunk sealed
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet

    val bankP = java.nio.file.Files
      .createTempDirectory("graft-passage-bank").toString
    DedupOps.writePassageBank(base, bankP, p)
    val got = rows(DedupOps.passageScrubAgainst(
      spark, bankP, delta, p, selfExclude = false))
    val want = rows(DedupOps.passageRewrite(base.unionByName(delta), p)
      .filter($"doc_id" >= 10L))
    assert(want == Set((10L, "u v w"), (12L, "m n o s t u")),
      s"fixture drifted: $want")
    assert(got == want, s"bank scrub diverges from the batch rule: $got")

    // append == rebuild (the phrase bank's composability contract)
    val bankP2 = java.nio.file.Files
      .createTempDirectory("graft-passage-bank2").toString
    DedupOps.writePassageBank(base.filter($"doc_id" === 1L), bankP2, p)
    DedupOps.appendPassageBank(base.filter($"doc_id" === 2L), bankP2, p)
    assert(rows(DedupOps.passageScrubAgainst(
      spark, bankP2, delta, p, selfExclude = false)) == want,
      "appended bank diverges from the rebuilt bank")

    // self-scrub with selfExclude: chunks whose ONLY holder is the doc
    // itself survive; the shared "a b c" is excised from both holders
    // (the symmetric rule, q91's analogue at chunk granularity)
    assert(rows(DedupOps.passageScrubAgainst(
      spark, bankP, base, p, selfExclude = true)) ==
      Set((1L, "d e f g h i"), (2L, "x y z p q r")))
    assert(org.apache.spark.sql.graftShims.cacheIsEmpty(spark))
  }
}
