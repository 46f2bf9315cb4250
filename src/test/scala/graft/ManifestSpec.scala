package graft

import graft.queries.GenerationManifest
import org.scalatest.funsuite.AnyFunSuite

/** The `_GENERATION` manifest FILE FORMAT (round 16 extends it with
  * typed records, round 18 with the pending-mutation intent): first
  * line = the window, `W gen min max` = sealed-id watermarks, `E gen`
  * = quantizer-epoch bases, `P kind gen` = a multi-artifact mutation's
  * pending intent, unknown record types ignored (forward
  * compatibility). These behaviors are exercised
  * indirectly by every index family's spec; this suite pins the
  * format itself — a parser change that breaks an on-disk manifest
  * written by an older build must fail HERE, not in production
  * reads. Pure local-FS, no Spark session needed. */
class ManifestSpec extends AnyFunSuite {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-manifest").toString

  private def writeRaw(path: String, body: String): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "_GENERATION"),
      body.getBytes("UTF-8"))

  test("format round trip: window + watermarks + epochs survive commit/read") {
    val p = tmp()
    GenerationManifest.commit(p, 2L, 5L,
      wms = Map(3L -> (10L, 99L), 5L -> (100L, 149L)),
      epochBases = Seq(4L))
    assert(GenerationManifest.window(p) == ((2L, 5L)))
    assert(GenerationManifest.watermarks(p) ==
      Map(3L -> (10L, 99L), 5L -> (100L, 149L)))
    assert(GenerationManifest.epochs(p) == Seq(4L))
  }

  test("records outside the committed window are dropped at commit") {
    val p = tmp()
    GenerationManifest.commit(p, 3L, 4L,
      wms = Map(1L -> (0L, 9L), 3L -> (10L, 19L), 9L -> (90L, 99L)),
      epochBases = Seq(1L, 4L, 9L))
    assert(GenerationManifest.watermarks(p) == Map(3L -> (10L, 19L)))
    assert(GenerationManifest.epochs(p) == Seq(4L))
  }

  test("legacy formats read correctly: single number and bare window") {
    val p1 = tmp(); writeRaw(p1, "7")
    assert(GenerationManifest.window(p1) == ((1L, 7L)))
    assert(GenerationManifest.watermarks(p1).isEmpty)
    assert(GenerationManifest.epochs(p1).isEmpty)
    val p2 = tmp(); writeRaw(p2, "2 9")
    assert(GenerationManifest.window(p2) == ((2L, 9L)))
  }

  test("unknown record types are ignored — forward compatibility") {
    val p = tmp()
    writeRaw(p, "1 3\nW 2 5 10\nX 9 something future\nE 3\nZ 1")
    assert(GenerationManifest.window(p) == ((1L, 3L)))
    assert(GenerationManifest.watermarks(p) == Map(2L -> (5L, 10L)))
    assert(GenerationManifest.epochs(p) == Seq(3L))
  }

  test("absent manifest refuses loudly; malformed first line errors") {
    val p = tmp()
    val e = intercept[IllegalArgumentException] {
      GenerationManifest.window(p)
    }
    assert(e.getMessage.contains("no _GENERATION manifest"))
    val p2 = tmp(); writeRaw(p2, "1 2 3")
    intercept[RuntimeException] { GenerationManifest.window(p2) }
  }

  test("amend preserves records structurally — the omitted-records foot-gun is gone") {
    val p = tmp()
    GenerationManifest.commit(p, 1L, 3L,
      wms = Map(2L -> (10L, 19L), 3L -> (20L, 29L)),
      epochBases = Seq(2L))
    // the r16 foot-gun shape: an append that only advances the window.
    // Through amend, the other families' records survive untouched.
    GenerationManifest.amend(p)(s => s.copy(hi = s.hi + 1))
    assert(GenerationManifest.window(p) == ((1L, 4L)))
    assert(GenerationManifest.watermarks(p) ==
      Map(2L -> (10L, 19L), 3L -> (20L, 29L)))
    assert(GenerationManifest.epochs(p) == Seq(2L))
    // an amend that ADDS a record keeps the rest
    GenerationManifest.amend(p)(s =>
      s.copy(hi = s.hi + 1, wms = s.wms + ((5L, (30L, 39L)))))
    assert(GenerationManifest.watermarks(p) ==
      Map(2L -> (10L, 19L), 3L -> (20L, 29L), 5L -> (30L, 39L)))
    assert(GenerationManifest.epochs(p) == Seq(2L))
    // state() is the one-read parse of everything commit wrote
    // (seq = 3: the build commit plus two amends)
    assert(GenerationManifest.state(p) == GenerationManifest.State(
      1L, 5L, Map(2L -> (10L, 19L), 3L -> (20L, 29L), 5L -> (30L, 39L)),
      Seq(2L), seq = 3L))
    // window-scoping still applies to what f returns: a compaction-
    // shaped amend drops out-of-window records exactly like commit
    GenerationManifest.amend(p)(s => s.copy(lo = s.hi + 1, hi = s.hi + 1))
    assert(GenerationManifest.state(p) ==
      GenerationManifest.State(6L, 6L, Map.empty, Seq.empty, seq = 4L))
  }

  test("pending-mutation intent (round 18): round-trips, rides amends, cleared by the flip, guarded to hi+1") {
    val p = tmp()
    GenerationManifest.commit(p, 1L, 3L, wms = Map(3L -> (0L, 9L)))
    GenerationManifest.amend(p)(s => s.copy(pending = Some(("A", 4L))))
    assert(GenerationManifest.state(p).pending.contains(("A", 4L)))
    // the other record families read through unaffected
    assert(GenerationManifest.watermarks(p) == Map(3L -> (0L, 9L)))
    assert(GenerationManifest.window(p) == ((1L, 3L)))
    // an unrelated amend carries the intent structurally (the W/E rule)
    GenerationManifest.amend(p)(s => s.copy(wms = s.wms + ((2L, (20L, 29L)))))
    assert(GenerationManifest.state(p).pending.contains(("A", 4L)))
    // the publishing flip clears it
    GenerationManifest.amend(p)(s => s.copy(hi = 4L, pending = None))
    assert(GenerationManifest.state(p).pending.isEmpty)
    // an intent names the generation BEING BUILT — exactly hi+1;
    // anything else is a protocol bug, refused at commit
    intercept[IllegalArgumentException] {
      GenerationManifest.amend(p)(s => s.copy(pending = Some(("A", 99L))))
    }
    // a direct commit (the compaction shape) drops a vacuous intent —
    // resetting the records is a compaction's documented intent
    GenerationManifest.amend(p)(s => s.copy(pending = Some(("R", 5L))))
    assert(GenerationManifest.state(p).pending.contains(("R", 5L)))
    GenerationManifest.commit(p, 5L, 5L)
    assert(GenerationManifest.state(p).pending.isEmpty)
  }

  test("fence token (round 19): monotonic per commit, legacy reads 0, CAS flip refuses the losing writer by name") {
    val p = tmp()
    // every commit advances the token; a fresh build starts at 1
    GenerationManifest.commit(p, 1L, 1L)
    assert(GenerationManifest.state(p).seq == 1L)
    GenerationManifest.commit(p, 1L, 2L)
    assert(GenerationManifest.state(p).seq == 2L)
    // a legacy (pre-token) manifest reads as 0 and upgrades on commit
    val legacy = tmp(); writeRaw(legacy, "1 3\nW 2 5 10")
    assert(GenerationManifest.state(legacy).seq == 0L)
    GenerationManifest.amend(legacy)(s => s.copy(hi = 4L))
    assert(GenerationManifest.state(legacy).seq == 1L)
    assert(GenerationManifest.watermarks(legacy) == Map(2L -> (5L, 10L)))
    // TWO INTERLEAVED AMENDS — the r18 verdict's race case: writer A
    // reads, writer B flips while A works, A's flip must refuse
    // naming the token mismatch instead of silently un-publishing B
    val e = intercept[IllegalStateException] {
      GenerationManifest.amend(p) { s =>
        // the racing writer wins while A's transform is in flight
        GenerationManifest.amend(p)(x => x.copy(hi = x.hi + 1))
        s.copy(hi = s.hi + 1)
      }
    }
    assert(e.getMessage.contains("fence token 3 != expected 2"),
      e.getMessage)
    // B's flip survived; A's was refused
    assert(GenerationManifest.window(p) == ((1L, 3L)))
    assert(GenerationManifest.state(p).seq == 3L)
    // a stale explicit token is refused EARLY (before the transform)
    val stale = intercept[IllegalStateException] {
      GenerationManifest.amend(p, Some(1L))(identity)
    }
    assert(stale.getMessage.contains("expected 1"), stale.getMessage)
    // a direct fenced commit (the compaction shape) refuses the same way
    intercept[IllegalStateException] {
      GenerationManifest.commit(p, 4L, 4L, expectSeq = Some(2L))
    }
    // the matching token goes through
    GenerationManifest.commit(p, 4L, 4L, expectSeq = Some(3L))
    assert(GenerationManifest.window(p) == ((4L, 4L)))
  }

  test("foldedWatermark: union of complete records; unknown when any generation is recordless; sentinels neutral") {
    import GenerationManifest.{State, foldedWatermark}
    // complete records: the fold's range is the union
    assert(foldedWatermark(State(2L, 4L, Map(
      2L -> (10L, 19L), 3L -> (5L, 7L), 4L -> (30L, 39L))))
      .contains((5L, 39L)))
    // an EMPTY-sentinel generation is neutral under min/max
    assert(foldedWatermark(State(1L, 2L, Map(
      1L -> (10L, 19L), 2L -> (Long.MaxValue, Long.MinValue))))
      .contains((10L, 19L)))
    // a recordless generation makes the union unknowable
    assert(foldedWatermark(State(1L, 3L, Map(
      1L -> (10L, 19L), 3L -> (30L, 39L)))).isEmpty)
    // an all-empty window folds to the empty sentinel (known empty)
    assert(foldedWatermark(State(1L, 1L, Map(
      1L -> (Long.MaxValue, Long.MinValue))))
      .contains((Long.MaxValue, Long.MinValue)))
  }

  test("fold: one-generation no-op, union watermark, epoch at hi+1, stale-token refusal, debris purged before the rewrite") {
    import java.nio.file.{Files, Paths}
    def mkGen(p: String, g: Long): Unit =
      Files.createDirectories(Paths.get(p, "a", s"gen=$g"))
    def genDirs(p: String): Seq[String] =
      Option(new java.io.File(p, "a").listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith("gen=")).sorted

    // (a) a one-generation window: no rewrite, no commit, reports false
    val one = tmp()
    GenerationManifest.commit(one, 3L, 3L, wms = Map(3L -> (1L, 9L)))
    val seq0 = GenerationManifest.state(one).seq
    var ran = false
    assert(!GenerationManifest.fold(one, Seq("a"))(_ => ran = true))
    assert(!ran, "the rewrite ran on a one-generation window")
    assert(GenerationManifest.state(one).seq == seq0,
      "a one-generation fold committed")

    // (b) + (e): every generation carries a record, so the fold records
    // their union; debris above hi is purged BEFORE the rewrite runs,
    // and the replaced generations stay on disk for in-flight readers
    val p = tmp()
    GenerationManifest.commit(p, 1L, 2L,
      wms = Map(1L -> (10L, 19L), 2L -> (5L, 12L)))
    Seq(1L, 2L, 3L, 7L).foreach(mkGen(p, _))
    var seen = Seq.empty[String]
    assert(GenerationManifest.fold(p, Seq("a")) { st =>
      assert((st.lo, st.hi) == ((1L, 2L)))
      seen = genDirs(p)
      mkGen(p, st.hi + 1)
    })
    assert(seen == Seq("gen=1", "gen=2"), s"debris reached the rewrite: $seen")
    val st = GenerationManifest.state(p)
    assert((st.lo, st.hi) == ((3L, 3L)))
    assert(st.wms == Map(3L -> (5L, 19L)))
    assert(st.epochBases.isEmpty && st.pending.isEmpty)
    assert(genDirs(p) == Seq("gen=1", "gen=2", "gen=3"))

    // (b) one recordless generation: the union is unknown, no record
    val q = tmp()
    GenerationManifest.commit(q, 1L, 2L, wms = Map(1L -> (10L, 19L)))
    assert(GenerationManifest.fold(q, Seq("a"))(_ => ()))
    assert(GenerationManifest.window(q) == ((3L, 3L)))
    assert(GenerationManifest.watermarks(q).isEmpty)

    // (c) an epoched store gets its epoch record at the folded generation
    val e = tmp()
    GenerationManifest.commit(e, 1L, 3L, epochBases = Seq(2L))
    assert(GenerationManifest.fold(e, Seq("a"))(_ => ()))
    assert(GenerationManifest.window(e) == ((4L, 4L)))
    assert(GenerationManifest.epochs(e) == Seq(4L))

    // (d) another writer commits while the rewrite runs: the fold's
    // flip is fenced on the head-of-fold token and refuses, and the
    // other writer's flip stands
    val r = tmp()
    GenerationManifest.commit(r, 1L, 2L)
    val ex = intercept[IllegalStateException] {
      GenerationManifest.fold(r, Seq("a")) { _ =>
        GenerationManifest.amend(r)(s => s.copy(hi = s.hi + 1)); ()
      }
    }
    assert(ex.getMessage.contains("fence token"), ex.getMessage)
    assert(GenerationManifest.window(r) == ((1L, 3L)))
  }

  test("retention floor (round 20): G record round-trips, mutations preserve it, gc advances it and reclaims") {
    import java.nio.file.{Files, Paths}
    val p = tmp()
    def mk(g: Long): Unit = {
      Files.createDirectories(Paths.get(p, s"gen=$g"))
      Files.write(Paths.get(p, s"gen=$g", "part-0"), "x".getBytes("UTF-8"))
      ()
    }
    def gens(): Seq[String] = new java.io.File(p).listFiles()
      .map(_.getName).filter(_.startsWith("gen=")).sorted.toSeq
    // a fresh build's floor is its first generation
    GenerationManifest.commit(p, 1L, 3L)
    assert(GenerationManifest.state(p).floor == 1L)
    (1L to 4L).foreach(mk)
    // a compaction-shaped commit PRESERVES the floor (retention: the
    // replaced generations 1-2 stay addressable to in-flight readers)
    GenerationManifest.commit(p, 3L, 3L)
    assert(GenerationManifest.state(p).floor == 1L)
    // the mutation-leading purge deletes only above-hi debris (gen 4,
    // never visible) — NEVER committed history above the floor
    GenerationManifest.purgeOutside(p, Seq(""), 3L, 3L)
    assert(gens() == Seq("gen=1", "gen=2", "gen=3"),
      s"purge broke retention: ${gens()}")
    // gc advances the floor to lo - retainGens and reclaims below it;
    // the floor is COMMITTED (G record) before anything is deleted
    assert(GenerationManifest.gc(p, Seq(""), retainGens = 1) == 2L)
    assert(GenerationManifest.state(p).floor == 2L)
    assert(gens() == Seq("gen=2", "gen=3"), s"gc under-reclaimed: ${gens()}")
    // monotone: a LOOSER horizon never lowers a committed floor
    assert(GenerationManifest.gc(p, Seq(""), retainGens = 10) == 2L)
    assert(gens() == Seq("gen=2", "gen=3"))
    // full reclaim at retainGens = 0: floor reaches lo
    assert(GenerationManifest.gc(p, Seq(""), retainGens = 0) == 3L)
    assert(gens() == Seq("gen=3"), s"gc(0) left history: ${gens()}")
    // a legacy (pre-G) manifest reads floor = lo — its below-window
    // history was already reclaimed eagerly by the old protocol
    val legacy = tmp(); writeRaw(legacy, "2 5\nW 3 1 2")
    assert(GenerationManifest.state(legacy).floor == 2L)
    // a recorded floor above lo is clamped to lo (invariant)
    val clamp = tmp(); writeRaw(clamp, "2 5\nG 9")
    assert(GenerationManifest.state(clamp).floor == 2L)
  }

  test("manifest lease (round 20): two overlapping flips serialize with no fence trip; the lock is released") {
    import java.nio.file.{Files, Paths}
    val p = tmp()
    GenerationManifest.commit(p, 1L, 1L)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val insideA = new java.util.concurrent.CountDownLatch(1)
    val a = new Thread(() =>
      try GenerationManifest.amend(p) { s =>
        insideA.countDown()
        Thread.sleep(400) // hold the read-to-flip span open
        s.copy(hi = s.hi + 1)
      } catch { case t: Throwable => errs.add(t); () })
    val b = new Thread(() =>
      try {
        insideA.await()
        Thread.sleep(50) // A is mid-span and holds the lease
        GenerationManifest.amend(p)(s => s.copy(hi = s.hi + 1))
        ()
      } catch { case t: Throwable => errs.add(t); () })
    a.start(); b.start(); a.join(); b.join()
    // pre-lease, B read A's pre-flip state and one writer tripped the
    // fence; the lease makes B WAIT and read A's committed state
    assert(errs.isEmpty, s"overlapping flips did not serialize: $errs")
    assert(GenerationManifest.window(p) == ((1L, 3L)))
    assert(GenerationManifest.state(p).seq == 3L)
    assert(!Files.exists(Paths.get(p, "_GENERATION.lock")),
      "lease not released after the flip")
  }

  test("manifest lease: stale or unreadable locks are taken over; a live lock times out loudly") {
    import java.nio.file.{Files, Paths}
    val p = tmp()
    GenerationManifest.commit(p, 1L, 1L)
    val lock = Paths.get(p, "_GENERATION.lock")
    // a crashed holder's lock (expiry in the past): taken over
    // immediately — the recorded-deadline takeover path
    Files.write(lock, "12345 dead@1".getBytes("UTF-8"))
    GenerationManifest.amend(p)(s => s.copy(hi = 2L))
    assert(GenerationManifest.window(p) == ((1L, 2L)))
    assert(!Files.exists(lock), "takeover left the stale lock behind")
    // an unreadable body is a crashed holder too (never deadlock on
    // garbage)
    Files.write(lock, "garbage".getBytes("UTF-8"))
    GenerationManifest.amend(p)(s => s.copy(hi = 3L))
    assert(GenerationManifest.window(p) == ((1L, 3L)))
    // a LIVE lock (future expiry) blocks until the acquire timeout,
    // then refuses loudly naming the holder
    Files.write(lock,
      s"${System.currentTimeMillis() + 3600000L} alive@7".getBytes("UTF-8"))
    System.setProperty("graft.manifest.acquireMs", "300")
    try {
      val e = intercept[IllegalStateException] {
        GenerationManifest.amend(p)(s => s.copy(hi = 4L))
      }
      assert(e.getMessage.contains("lease") &&
        e.getMessage.contains("alive@7"), e.getMessage)
    } finally {
      System.clearProperty("graft.manifest.acquireMs")
      Files.delete(lock)
    }
    // the refused flip left no trace
    assert(GenerationManifest.window(p) == ((1L, 3L)))
  }

  test("gensNeedingScan: intersection pruning, unknown-range fallback, empty sentinel") {
    val wms = Map(
      1L -> (0L, 99L),
      2L -> (100L, 199L),
      4L -> (Long.MaxValue, Long.MinValue)) // empty generation
    // gen 3 has no record -> always scanned; gen 4's empty range never
    assert(GenerationManifest.gensNeedingScan(wms, 1L, 4L, 150L, 300L) ==
      Seq(2L, 3L))
    assert(GenerationManifest.gensNeedingScan(wms, 1L, 4L, 200L, 300L) ==
      Seq(3L))
    assert(GenerationManifest.gensNeedingScan(
      wms, 1L, 4L, Long.MinValue, Long.MaxValue) == Seq(1L, 2L, 3L))
    // boundary inclusivity: touching ranges intersect
    assert(GenerationManifest.gensNeedingScan(wms, 1L, 2L, 99L, 99L) ==
      Seq(1L))
  }
}
