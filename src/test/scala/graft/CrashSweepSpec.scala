package graft

import graft.queries.{GenerationManifest, RetrievalOps, TextOps}
import org.apache.spark.sql.functions.col

/** SYSTEMATIC crash-injection sweep (round 20 — the r19 verdict's #4):
  * the hand-picked kill tests (LabelIndexSpec, HybridStreamSpec,
  * TimeTravelSpec) choose their crash points; this suite ENUMERATES
  * them. [[GenerationManifest.faultHook]] fires at every protocol
  * boundary a mutation crosses — each leading purge, and the instants
  * immediately before and after every manifest rename — so for k = 1,
  * 2, … the sweep re-runs the mutation on a fresh copy of the store,
  * kills it at exactly the k-th boundary, then heals (the family's
  * retry/resume path) and asserts the serve is ROW-IDENTICAL to the
  * uncrashed twin's. The loop terminates when a trial completes
  * without reaching boundary k — that run IS the uncrashed mutation
  * and must serve identically too.
  *
  * The data-write seams are boundaries too: the fault hook is every
  * mutation's one failpoint, so a seam between two data writes of one
  * mutation fires its own `write:<artifact>:<path>` tag (the inverted
  * index's postings-before-stats seam, in the compaction below and in
  * the hybrid append's sparse leg) and the sweep kills it directly. A
  * crash between a mutation's LAST data write and its flip is the
  * crash at that flip's `flip:before`. Each sweep reports its boundary
  * count. The four mutations the r19 verdict asked for: the hybrid
  * two-leg append, the hybrid dense-leg retrain, an index compaction,
  * and a model retrain — together they cross every record family the
  * protocol has (watermarks, epochs, pending intents, fence tokens,
  * the retention floor).
  */
class CrashSweepSpec extends SparkSuite {

  private def copyTree(from: String, to: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.forEach { p: Path =>
      val dst = Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
      ()
    } finally s.close()
  }

  private def rmTree(dir: String): Unit =
    graft.queries.SimilarityOps.deleteRecursively(
      java.nio.file.Paths.get(dir))

  /** Run the sweep: `build` seals the template store once; `mutate`
    * is the operation under test; `heal` is the family's documented
    * recovery (retry/resume). For every boundary k the healed store —
    * or, when heal itself REFUSES loudly, the untouched pre-mutation
    * store — must serve row-identically to the uncrashed twin. */
  private def sweep(
      name: String,
      build: String => Unit,
      mutate: String => Unit,
      heal: String => Unit,
      serve: String => Seq[String]): Unit = {
    val template = java.nio.file.Files
      .createTempDirectory(s"graft-sweep-$name-tpl").toString
    build(template)
    val pre = serve(template)
    val truth = java.nio.file.Files
      .createTempDirectory(s"graft-sweep-$name-truth").toString
    copyTree(template, truth)
    mutate(truth)
    val want = serve(truth)
    assert(want != pre, s"$name: mutation changed nothing — vacuous sweep")
    rmTree(truth)

    var k = 1
    var done = false
    while (!done) {
      val trial = java.nio.file.Files
        .createTempDirectory(s"graft-sweep-$name-k$k").toString
      copyTree(template, trial)
      var fired: Option[String] = None
      var count = 0
      GenerationManifest.faultHook = { tag =>
        // path-scoped: parallel suites' manifest traffic must neither
        // count toward nor be killed by THIS trial's sweep
        if (tag.contains(trial)) {
          count += 1
          if (count == k) { fired = Some(tag); throw new InjectedCrash(tag) }
        }
      }
      val crashed =
        try { mutate(trial); false }
        catch { case _: InjectedCrash => true }
        finally GenerationManifest.faultHook = _ => ()
      if (!crashed) {
        // k exceeded the boundary count: this trial IS the uncrashed
        // mutation — the sweep covered every boundary before it
        assert(serve(trial) == want, s"$name: clean run at k=$k diverged")
        done = true
      } else {
        val healed =
          try { heal(trial); true }
          catch { case _: InjectedCrash => sys.error("hook leaked into heal")
                  case _: Exception => false } // a loud refusal is legal…
        val got = serve(trial)
        if (healed)
          assert(got == want,
            s"$name: healed store diverged after crash at k=$k " +
              s"(${fired.get}) — serve != uncrashed twin")
        else
          // …but only if the store still serves the PRE state intact
          assert(got == pre,
            s"$name: heal refused after crash at k=$k (${fired.get}) " +
              "and the store serves neither the old nor the new state")
      }
      rmTree(trial)
      k += 1
      assert(k < 64, s"$name: runaway boundary count")
    }
    rmTree(template)
    info(s"$name: swept ${k - 2} boundaries")
    assert(k > 2, s"$name: sweep saw no boundaries — seam not wired")
  }

  private def docs = Tables.documents(spark, sf)
  private def emb = Tables.embeddings(spark, sf)

  test("hybrid two-leg append: every boundary crash heals to the uncrashed twin") {
    sweep("hybrid-append",
      build = p => RetrievalOps.writeHybridIndex(
        docs.filter(col("doc_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 0), p),
      mutate = p => RetrievalOps.appendHybridIndex(
        docs.filter(col("doc_id") % 2 === 1),
        emb.filter(col("vec_id") % 2 === 1), p),
      heal = p => RetrievalOps.appendHybridIndex(
        docs.filter(col("doc_id") % 2 === 1),
        emb.filter(col("vec_id") % 2 === 1), p),
      serve = p => RetrievalOps.hybridServeAt(spark, p)
        .collect().map(_.toString).sorted.toSeq)
  }

  test("hybrid dense-leg retrain: every boundary crash resumes (or retries) to the uncrashed twin") {
    val sample = Some(emb.filter(
      col("vec_id") % graft.queries.SimilarityOps.QuantRetrainMod === 0))
    sweep("hybrid-retrain",
      build = p => RetrievalOps.writeTrainedHybridIndex(docs, emb, p),
      mutate = p => RetrievalOps.retrainHybridDense(spark, p,
        ivfIters = 2, pqIters = 2, trainSample = sample),
      heal = p => {
        // the documented recovery: roll a pending retrain forward; a
        // crash BEFORE the intent committed left nothing to resume —
        // the retry is the fresh retrain itself
        if (!RetrievalOps.maybeResumeHybridRetrain(spark, p,
            ivfIters = 2, pqIters = 2, trainSample = sample))
          RetrievalOps.retrainHybridDense(spark, p,
            ivfIters = 2, pqIters = 2, trainSample = sample)
      },
      serve = p => RetrievalOps.hybridServeAt(spark, p)
        .collect().map(_.toString).sorted.toSeq)
  }

  test("inverted-index compaction: every boundary crash retries to the uncrashed twin") {
    sweep("inv-compact",
      build = p => {
        RetrievalOps.writeInvertedIndex(
          docs.filter(col("doc_id") % 2 === 0), p)
        RetrievalOps.appendInvertedIndex(
          docs.filter(col("doc_id") % 2 === 1), p)
      },
      mutate = p => RetrievalOps.compactIndex(spark, p),
      heal = p => RetrievalOps.compactIndex(spark, p),
      // the fold changes the WINDOW, not the results — serve the
      // manifest state alongside the rows so the sweep's "mutation
      // changed something" precondition and the equality both bite
      serve = p => {
        val st = GenerationManifest.state(p)
        s"window=${st.lo}..${st.hi}" +:
          RetrievalOps.bm25SearchIndex(spark, p)
            .collect().map(_.toString).sorted.toSeq
      })
  }

  test("LM model retrain: every boundary crash retries to the uncrashed twin") {
    val half = docs.filter(col("doc_id") % 2 === 0)
    sweep("lm-retrain",
      build = p => TextOps.writeLmModel(docs, p),
      mutate = p => TextOps.retrainLmModel(half, p),
      heal = p => {
        // a post-flip replay would append ANOTHER generation with the
        // same trained content — legal (serve compares content at the
        // head), but skip the no-op when the retrain already landed
        if (GenerationManifest.window(p)._2 == 1L)
          TextOps.retrainLmModel(half, p)
      },
      serve = p => TextOps.lmScoreServed(spark, sf, p)
        .collect().map(_.toString).sorted.toSeq)
  }
}
