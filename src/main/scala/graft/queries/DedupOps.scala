package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate deduplication via MinHash + banded LSH — the scale path
  * the exact dedup of [[PipelineOps.q09DedupExact]] cannot cover (it
  * catches byte-identical texts only; training corpora are full of docs
  * that differ by a few tokens). Generalizes the reference's
  * group-by-key merge loop (TopNHashtags.java:258-280) from exact keys to
  * similarity buckets.
  *
  * Pipeline (flat codegen'd projections + hash-partitioned joins — no
  * UDF, no all-pairs product anywhere):
  *
  *   1. tokenize → distinct k-word shingles (k=3), each immediately
  *      replaced by its 64-bit hash;
  *   2. MinHash signature: `numHashes` independent hash functions,
  *      `h_i(s) = xxhash64(i, hs)`, signature[i] = min over shingles —
  *      computed as flat columns through ONE hash aggregate (map-side
  *      partial minima);
  *   3. banded LSH: signature split into `bands` bands of `rows` values;
  *      band hash = xxhash64(band columns). Two docs land in the same
  *      bucket iff one whole band matches — P(candidate) =
  *      1-(1-j^rows)^bands, steep around j≈0.6 for 16×4;
  *   4. candidate pairs = self-join on (band_pos, band_hash), `a < b`,
  *      distinct — the shuffle key is the bucket, so work is bounded by
  *      bucket sizes, never |docs|²;
  *   5. exact verify: count matching shingle hashes per candidate pair
  *      (two joins on the exploded rows), keep pairs with true Jaccard
  *      ≥ threshold.
  *
  * At 100 TB: step 1-2 is a narrow map + one shuffle of `numHashes`
  * longs per doc; step 4 shuffles (band, hash, doc_id, n) tuples — 16
  * rows of ~32 bytes per doc, NOT the text; step 5 shuffles only the
  * candidate pairs' shingle-hash rows. Skewed buckets (e.g.
  * boilerplate-heavy corpora) are the known hazard — cap bucket size or
  * salt the verify join; AQE's skew handling covers the rest.
  */
object DedupOps {

  /** Distinct k-word shingles of a text column; empty array (never null)
    * for docs shorter than k tokens. */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = TextOps.toks(text)
    when(size(toks) >= k,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k))))))
      .otherwise(array().cast("array<string>"))
  }

  /** One row per (doc, distinct shingle), shingle replaced by its 64-bit
    * xxhash64 — the working representation for the whole pipeline,
    * emitted by the custom [[graft.functions.HashedShingles]] Generator
    * in a single pass over the text (one narrow `Generate`, no shuffle;
    * everything downstream handles 8 bytes per shingle, never strings).
    *
    * The generator is row-for-row identical (spec-verified) to the
    * built-in composition `explode(shingles(text))` + `xxhash64`, but
    * that chain evaluates an interpreted lambda tree per shingle and
    * materializes every intermediate array/string; two earlier
    * formulations of this frame measured 104 s (nested per-seed
    * lambdas) and ~5 s/pass (lambda shingles + flat hash columns) where
    * the generator takes well under a second — see the scale note on
    * the object for why a narrow map beats any shuffle-based
    * alternative regardless.
    */
  private def shingleHashes(docs: DataFrame): DataFrame =
    // fan-out guard (opt round 20): the Generate pass is the dedup
    // family's per-row CPU hot spot; a split-starved corpus ran it —
    // and the minhash signature aggregate's partials above it — on one
    // core. No-op when the scan already yields ≥ cores splits.
    ScaleHints.fanOutIfTiny(docs).select(col("doc_id"),
      graft.functions.HashedShingles.hashedShingles(col("text"), 3).as("hs"))

  /** `(doc_id, h0..h{n-1}, n)` — minhash signature columns plus the
    * doc's distinct-shingle count, from a single hash aggregate over the
    * exploded `(doc_id, hs)` frame. */
  private def signatures(ex: DataFrame, numHashes: Int): DataFrame = {
    val hashCols = (0 until numHashes).map(i => xxhash64(lit(i), col("hs")).as(s"h$i"))
    ex.select(col("doc_id") +: hashCols: _*)
      .groupBy(col("doc_id"))
      .agg(min(col("h0")).as("h0"),
        (1 until numHashes).map(i => min(col(s"h$i")).as(s"h$i"))
          :+ count(lit(1)).as("n"): _*)
  }

  /** Candidate pairs with both docs' shingle counts:
    * `(doc_a, doc_b, n_a, n_b)`, `doc_a < doc_b`, sharing ≥1 LSH band.
    * Counts ride along from the signature aggregate, so the verify stage
    * needs no extra per-doc join. */
  private def candidatesWithCounts(
      ex: DataFrame, bands: Int, rows: Int,
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    candidatesFromBanded(bandedBuckets(ex, bands, rows), maxBucketSize)

  /** [[candidatesWithCounts]] over an already-built (possibly CACHED)
    * banded-bucket frame — the seam that lets the label-index append
    * pay the minhash signature aggregate ONCE for its three consumers
    * (screen, within-delta verify, artifact write) instead of three
    * times (round-15 measurement: the aggregate was the append's
    * dominant cost). */
  private def candidatesFromBanded(
      banded0: DataFrame,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // MEASURED REVERT (opt round 21): a bucket-grouped form —
    // groupBy(pos, bh) + collect_list + two stacked explodes — was
    // tried to stop the self-join re-paying the upstream lineage on
    // both renamed sides (ReuseExchange cannot see through the
    // rename). It DID halve total task time on q13 (13.9 → 5.8 s at
    // sf0.1) but lengthened the critical path ~10% wall (back-to-back
    // A/B: q13 1.195 → 1.319 s, q110 1.818 → 2.047 s; the list
    // aggregate serializes each bucket where the join's probe streams
    // it). The lineage double-pay is solved WITHOUT the list instead:
    // [[neardupBuild]] persists the narrow banded frame, so both join
    // sides read the one cached pass — the label-index paths always
    // did exactly this.
    //
    // Optional skew guard: a bucket of size s yields s² candidate rows,
    // so ONE boilerplate-heavy bucket (same header on a million docs)
    // can dominate the whole job. The guard anti-joins the (tiny)
    // relation of oversized buckets before pair generation — quadratic
    // work becomes bounded; the dropped docs still pair through their
    // other bands. Off by default so the oracle-exact semantics hold.
    val banded =
      if (maxBucketSize == Int.MaxValue) banded0
      else {
        val oversized = banded0.groupBy(col("pos"), col("bh"))
          .agg(count(lit(1)).as("sz"))
          .filter(col("sz") > maxBucketSize)
          .select(col("pos"), col("bh"))
        banded0.join(broadcast(oversized), Seq("pos", "bh"), "left_anti")
      }
    val a = banded.select(col("pos"), col("bh"),
      col("doc_id").as("doc_a"), col("n").as("n_a"))
    val b = banded.select(col("pos"), col("bh"),
      col("doc_id").as("doc_b"), col("n").as("n_b"))
    a.join(b, Seq("pos", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .distinct()
  }

  /** `(doc_id, n, pos, bh)` — one row per (doc, band): the LSH bucket
    * coordinates a doc occupies, with its distinct-shingle count riding
    * along. The self-join form ([[candidatesWithCounts]]) and the
    * index-screen form (q62) both equi-join on `(pos, bh)`; sharing the
    * projection is what guarantees a delta doc hashes into EXACTLY the
    * buckets the sealed index stored for the base corpus. */
  private def bandedBuckets(ex: DataFrame, bands: Int, rows: Int): DataFrame = {
    val sig = signatures(ex, bands * rows)
    val bandHashes = (0 until bands).map { b =>
      xxhash64((b * rows until (b + 1) * rows).map(i => col(s"h$i")): _*)
    }
    sig.select(col("doc_id"), col("n"), posexplode(array(bandHashes: _*)))
      .select(col("doc_id"), col("n"), col("pos"), col("col").as("bh"))
  }

  /** Candidate pairs (doc_a < doc_b) sharing at least one LSH band.
    * `maxBucketSize` caps degenerate buckets (skew guard) — see
    * [[candidatesWithCounts]]. */
  def candidatePairs(
      docs: DataFrame, bands: Int = 16, rows: Int = 4,
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    candidatesWithCounts(shingleHashes(docs), bands, rows, maxBucketSize)
      .select(col("doc_a"), col("doc_b"))

  /** q13 — near-dup pairs: LSH candidates exact-verified at
    * `threshold` Jaccard over 3-word shingles. Output is all-integer
    * (ids + intersection/union sizes) so the oracle hash is
    * representation-proof. The DuckDB oracle computes exact all-pairs
    * Jaccard (feasible at oracle scale); equality holds because the LSH
    * recall at the fixture's similarity margin (near-dup pairs ≥ 0.83,
    * background ≤ 0.07 — measured) is 1 with 16 bands of 4, and the
    * whole pipeline is deterministic.
    */
  def q13NeardupPairs(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.6,
      bands: Int = 16,
      rows: Int = 4): DataFrame =
    q13Build(spark, dir, threshold, bands, rows)._1

  /** Loan form of [[q13NeardupPairs]]: run `f` over the result, then
    * unpersist the query's cached frame — the cache-release path a
    * LONG-LIVED session needs. The plain form's lazily returned
    * DataFrame cannot unpersist itself (the cache must outlive every
    * action the caller will run), so there its lifecycle is
    * caller-owned: Bench clears the cache per sample, Verify's entries
    * die with its session. Everyone else should prefer this form —
    * after `f` returns (or throws) the session's cache registry is as
    * it was. */
  def withQ13NeardupPairs[T](
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.6,
      bands: Int = 16,
      rows: Int = 4)(f: DataFrame => T): T = {
    val (result, handles) = q13Build(spark, dir, threshold, bands, rows)
    try f(result) finally handles.foreach(_.unpersist())
  }

  /** Shared builder: the q13 result plus the persisted handles backing
    * it (for the loan form to release). */
  private def q13Build(
      spark: SparkSession,
      dir: String,
      threshold: Double,
      bands: Int,
      rows: Int): (DataFrame, Seq[DataFrame]) =
    neardupBuild(Tables.documents(spark, dir), threshold, bands, rows)

  /** Verified near-dup pairs over ANY `(doc_id, text)` frame — the
    * frame-level core of q13 (and [[CorpusPipeline]]'s dedup stage).
    * Persists the shingle-hash frame internally; lifecycle is
    * caller-owned exactly like [[q13NeardupPairs]] — compose under a
    * loan or clear the cache when done. */
  def neardupPairs(
      docs: DataFrame,
      threshold: Double = 0.6,
      bands: Int = 16,
      rows: Int = 4): DataFrame =
    neardupBuild(docs, threshold, bands, rows)._1

  private[queries] def neardupBuild(
      docs: DataFrame,
      threshold: Double,
      bands: Int,
      rows: Int,
      ordered: Boolean = true): (DataFrame, Seq[DataFrame]) = {
    // The exploded (doc_id, hs) frame feeds the signature aggregate AND
    // both verify-join sides. Without a persist, the diamond-shaped DAG
    // re-runs the shingle-hash pass over the corpus once per consumer
    // (~3× the text scans — measured as q13's dominant cost in round 4).
    // The frame is 16 bytes/shingle — exactly the thing you'd persist
    // once at 100 TB too.
    val ex = shingleHashes(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The banded frame feeds BOTH sides of the candidate self-join;
    // persisting it (4 narrow columns, bands rows/doc) pays the
    // 64-column minhash signature aggregate ONCE per build instead of
    // once per join side (opt round 21 — the label-index append has
    // pinned this frame since round 15 for the same reason).
    val banded = bandedBuckets(ex, bands, rows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = verifiedFromBanded(ex, banded, threshold)
    // `ordered = false` for consumers that re-key or aggregate the pair
    // relation anyway (q43's closure, q45's reconciliation, q57's
    // rollup, q110's histogram, the pipeline's drop rule): the sort is
    // q13's OUTPUT contract, and inheriting it planted a useless range
    // exchange + sort under every composition (opt round 20, guide
    // §2.4 "an orderBy used only to make output deterministic").
    (if (ordered) pairs.orderBy(col("doc_a"), col("doc_b")) else pairs,
      Seq(ex, banded))
  }

  /** The verify core over a prebuilt banded frame — see
    * [[candidatesFromBanded]] for why the seam exists. */
  private def verifiedFromBanded(
      ex: DataFrame, banded: DataFrame, threshold: Double): DataFrame = {
    val cand = candidatesFromBanded(banded)
    // Exact verify on hashed shingles: |A ∩ B| = matching hs rows between
    // the pair's docs (64-bit hashes make cross-shingle collisions
    // negligible, and deterministically so). Work is bounded by
    // |candidates| × shingles-per-doc — never all-pairs.
    cand
      .join(ex.select(col("doc_id").as("doc_a"), col("hs")), "doc_a")
      .join(ex.select(col("doc_id").as("doc_b"), col("hs")), Seq("doc_b", "hs"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_common"))
      .filter(col("n_common") >= col("n_union") * threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_union"))
  }

  /** Token n-gram size for [[q27NgramJaccard]]. Word grams, not char
    * grams, on purpose: gram document-frequency must be SPARSE for
    * prefix filtering to prune. This fixture's vocabulary is ~31
    * distinct tokens, so char-4-grams repeat across most of the corpus
    * — a char-gram formulation measured 369 s at sf0.1 (candidate
    * blowup: every high-df gram in a prefix joins quadratically) where
    * token 4-grams measure max df = 6 on the same corpus. The general
    * lesson holds beyond this fixture: prefix-filter joins need a gram
    * unit whose frequency distribution is Zipf-sparse, and n
    * consecutive TOKENS get exponentially sparser as n grows. */
  val NgramTokens = 4

  /** q27 — EXACT n-gram Jaccard similarity join via prefix filtering
    * (the AllPairs/PPJoin family) — the deterministic sibling of q13's
    * probabilistic MinHash-LSH, completing the dedup flavors: exact
    * (q09), MinHash-LSH (q13), SimHash (q21), n-gram Jaccard (here).
    *
    * Prefix-filter principle: order every doc's distinct token-4-gram
    * set by GLOBAL gram frequency (rarest first, hash tie-break); for
    * Jaccard ≥ 1/2 a pair must share at least one gram within the first
    * `|A| - ⌈|A|/2⌉ + 1` grams of BOTH docs — if all common grams sat
    * in both suffixes, `|A∩B| ≤ ⌈|A|/2⌉ - 1 < ⌈|A|/2⌉ ≤ |A∩B|` (the
    * Jaccard overlap bound), a contradiction. So joining PREFIXES is a
    * complete candidate generator: recall is exactly 1 BY CONSTRUCTION,
    * with no banding probability at all — the DuckDB all-pairs oracle
    * matches unconditionally, on any corpus. A second exact prune
    * rides in the join condition: J ≥ 1/2 forces the smaller gram set
    * to be at least half the larger (`min/max ≥ t`), so size-mismatched
    * pairs drop before the shuffle-heavy distinct.
    *
    * Scale shape: grams ride as 64-bit hashes from the single-pass
    * [[graft.functions.HashedShingles]] Generator; the frequency pass
    * is one map-side-combined aggregate over gram hashes; ordering is
    * one window shuffle on doc_id; the candidate join shuffles PREFIX
    * rows only (rare grams → tiny buckets — rarest-first ordering is
    * what makes prefix buckets small); verify is the same
    * candidate-bounded count as q13. No all-pairs product anywhere,
    * and unlike LSH there is no missed-pair risk to tune against.
    */
  def q27NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    q27Build(spark, dir)._1

  /** Loan form of [[q27NgramJaccard]] — same contract as
    * [[withQ13NeardupPairs]]: `f` runs with the two persisted frames
    * live, and both are unpersisted before this returns. */
  def withQ27NgramJaccard[T](
      spark: SparkSession, dir: String)(f: DataFrame => T): T = {
    val (result, handles) = q27Build(spark, dir)
    try f(result) finally handles.foreach(_.unpersist())
  }

  private def q27Build(
      spark: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    // distinct token-4-grams, hashed in one narrow Generate pass —
    // text never leaves the scan stage
    val ex = docs
      .select(col("doc_id"),
        graft.functions.HashedShingles
          .hashedShingles(col("text"), NgramTokens).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val freq = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("g"))
    val perDoc = Window.partitionBy(col("doc_id"))
    val ranked = ex.join(freq, "g")
      .select(col("doc_id"), col("g"),
        row_number().over(byRarity).as("rk"),
        count(lit(1)).over(perDoc).as("n"))
    // threshold t = 1/2 in exact integer arithmetic:
    // prefix length p = n - ceil(n/2) + 1 = n/2 + 1 (integer division).
    // Persisted: both self-join sides consume it, and without the cache
    // the whole freq-join + window pipeline executes twice (observed in
    // the executed plan — same diamond-reuse rule as `ex` above).
    val prefix = ranked.filter(col("rk") <= col("n") / 2 + 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = prefix.select(col("g"),
      col("doc_id").as("doc_a"), col("n").as("n_a"))
    val b = prefix.select(col("g"),
      col("doc_id").as("doc_b"), col("n").as("n_b"))
    // length filter: J >= 1/2 implies min(|A|,|B|)/max(|A|,|B|) >= 1/2
    val cand = a.join(b, "g")
      .filter(col("doc_a") < col("doc_b") &&
        col("n_a") <= col("n_b") * 2 && col("n_b") <= col("n_a") * 2)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .distinct()
    val result = cand
      .join(ex.select(col("doc_id").as("doc_a"), col("g")), "doc_a")
      .join(ex.select(col("doc_id").as("doc_b"), col("g")), Seq("doc_b", "g"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_common"))
      .filter(col("n_common") * 2 >= col("n_union"))
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_union"))
      .orderBy(col("doc_a"), col("doc_b"))
    (result, Seq(ex, prefix))
  }

  // ---------------------------------------------------------------- q43

  /** One alternating round of the LARGE-STAR / SMALL-STAR connected-
    * components algorithm (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) — the shape that converges in
    * O(log² n) shuffle rounds on ANY graph, where naive min-label
    * propagation needs O(diameter) rounds (a 100 TB near-dup graph's
    * boilerplate chains can have long paths).
    *
    * Large-star, per node u: point every LARGER neighbor at
    * `m = min(N(u) ∪ {u})`. Small-star (edges oriented big→small), per
    * node u: point u and every neighbor at the smallest neighbor.
    * Each phase is one shuffle on node id (`groupBy` for the neighborhood
    * minimum + an equi-join back) over fixed-width long pairs — the text
    * never rides along. Both phases emit edges oriented (larger, smaller),
    * so round outputs are canonical and set-comparable.
    */
  private[graft] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(m, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  private[graft] def smallStar(edges: DataFrame): DataFrame =
    smallStarOriented(edges
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct())

  /** [[smallStar]] over an input KNOWN to be big→small oriented and
    * distinct — exactly what [[largeStar]] emits (its output rows are
    * `(v, m)` with `m ≤ u < v`, deduped). The fixpoint loop composes
    * the phases as `smallStarOriented(largeStar(_))`, skipping the
    * re-orientation `distinct` that is a no-op there — one exchange +
    * one aggregate less per round (opt round 20, guide §2.4 "remove
    * shuffles outright": the round output was distinct'd by largeStar
    * one operator earlier). */
  private[graft] def smallStarOriented(dir: DataFrame): DataFrame = {
    val m = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
    dir.join(m, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(m.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Connected components of an undirected pair relation `(doc_a,
    * doc_b)`: one row per participating node, labeled with the SMALLEST
    * id reachable from it — the canonical cluster representative a
    * dedup pipeline keeps (every other member is the "drop" set).
    *
    * Driver-side iteration with a DISTRIBUTED round body: the driver
    * only compares a 16-byte signature `(edge count, bit_xor of edge
    * hashes)` per round to detect the fixpoint — no edge ever reaches
    * the driver (bit_xor, not sum: Spark 4's ANSI mode would throw on
    * sum overflow, and xor is order- and overflow-free; a false
    * fixpoint needs a 2⁻⁶⁴ hash coincidence). Each round persists its
    * edge set and unpersists the previous one, so peak storage is two
    * edge frames of 16 bytes/edge.
    *
    * At convergence the edge set IS the answer: each component is a
    * star centered at its minimum (the algorithm's fixpoint theorem),
    * so labels fall out as `(u → root)` plus `(root → root)` with no
    * further joins.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 25): DataFrame =
    ccWithRounds(pairs, maxRounds)._1

  /** [[connectedComponents]] for a pair relation KNOWN canonical —
    * `doc_a < doc_b`, one row per pair (exactly what the verify
    * aggregate emits: its group-by key IS the ordered pair) — so the
    * entry canonicalization `distinct` is a no-op and is skipped (opt
    * round 20, guide §2.4: one exchange + aggregate less per closure;
    * the loop body is unchanged). */
  private[graft] def connectedComponentsCanonical(
      pairs: DataFrame, maxRounds: Int = 25): DataFrame =
    ccWithRounds(pairs, maxRounds, canonical = true)._1

  /** Driver budget (canonical edge rows) under which an APPEND's
    * mini-closure folds driver-side ([[boundedComponents]]): 2²⁰
    * edges, collected as primitive tuple pairs ≈ 50 MB boxed — the
    * documented bounded-driver-reduction class (the remap-journal
    * fold, the k-means reductions, the BPE word table; a review catch
    * sized the budget on the COLLECTED representation, not the raw
    * 16 bytes/edge). The append's edge set is bounded by the DELTA's
    * candidates, so a daily increment almost always fits; a backfill
    * that exceeds the cap falls back to the distributed closure
    * untruncated. The FULL-corpus closure (q43, `writeLabelIndex`)
    * never takes this path — its edge relation grows with the corpus. */
  val AppendClosureEdgeCap: Int = 1 << 20

  /** [[connectedComponents]] with a size gate: collect the canonical
    * edge set if it fits [[AppendClosureEdgeCap]] and run union-find
    * on the driver (exact same output: every participating node labeled
    * with its component MINIMUM, roots included), else the distributed
    * alternating-star closure. Round-15 measurement: the distributed
    * closure costs ~8 driver round-trips of fixed overhead per append
    * — on a 50k-doc micro-batch (8k edges) that was ~3 s of pure
    * iteration overhead for msec of actual work. */
  private[graft] def boundedComponents(
      pairs: DataFrame, cap: Int = AppendClosureEdgeCap): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // gate on a COUNT before collecting: an over-cap edge set must not
    // pay the ~50 MB driver collect it is about to discard (a review
    // catch — the boundary case paid both the collect and the full
    // distributed iteration). The persist makes the under-cap path's
    // count + collect one computation of the distinct, not two.
    val canonDf = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .as[(Long, Long)] // typed collect: tuples, not GenericRows
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val overCap =
      try canonDf.limit(cap + 1).count() > cap
      catch { case t: Throwable => canonDf.unpersist(); throw t }
    if (overCap) {
      canonDf.unpersist()
      connectedComponents(pairs)
    } else {
      val canon =
        try canonDf.collect()
        finally canonDf.unpersist()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) x = parent(x)
        var y = x0 // path compression
        while (parent.getOrElse(y, y) != y) { val n = parent(y); parent(y) = x; y = n }
        x
      }
      canon.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        // union by MIN: the smaller root stays root, so find() IS the
        // component minimum — the distributed closure's label rule
        if (ru < rv) parent(rv) = ru
        else if (rv < ru) parent(ru) = rv
      }
      val nodes = canon.flatMap { case (u, v) => Seq(u, v) }.distinct
      nodes.map(n => (n, find(n))).toSeq.toDF("doc_id", "cluster_id")
    }
  }

  /** [[connectedComponents]] plus the alternating-round count it took
    * to converge — the O(log² n) bound is CLAIMED in the scaladoc, so
    * the scale probe (bench/NOTES.md) records the measured rounds. */
  private[graft] def ccWithRounds(
      pairs: DataFrame, maxRounds: Int = 25,
      canonical: Boolean = false): (DataFrame, Int) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // Per-round LINEAGE BREAK: a round's output references its input
    // ~6× (union + join + aggregate in both star phases), so chained
    // plans multiply Catalyst's tree size per round — an un-truncated
    // variant OOM'd on plan stringification around round 8. Caching the
    // round as an RDD[Row] and re-wrapping it as a flat `LogicalRDD`
    // scan keeps every round's plan constant-size — the single-node
    // analog of the reliable `checkpoint()` a cluster deployment would
    // aim at a DFS dir (the same trick GraphFrames' CC applies via its
    // checkpointInterval). The RDD hop leaves codegen for one
    // deserialization pass over fixed-width (long, long) rows — edge-
    // relation-sized, never corpus-sized.
    def materialize(e: DataFrame)
        : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
      val rdd = e.rdd.persist(lvl)
      (e.sparkSession.createDataFrame(rdd, e.schema), rdd)
    }
    val oriented = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
    var (edges, edgesRdd) =
      materialize(if (canonical) oriented else oriented.distinct())
    // Every failure path must release the round RDDs: they are
    // BLOCK-level persists, so `spark.catalog.clearCache()` cannot drop
    // them — a leak here would outlive even the bluntest caller cleanup.
    try {
      var s = sig(edges)
      var converged = false
      var round = 0
      while (!converged && round < maxRounds) {
        val (next, nextRdd) = materialize(smallStarOriented(largeStar(edges)))
        val ns =
          try sig(next)
          catch { case t: Throwable => nextRdd.unpersist(false); throw t }
        converged = ns == s
        edgesRdd.unpersist()
        edges = next
        edgesRdd = nextRdd
        s = ns
        round += 1
      }
      require(converged,
        s"connectedComponents did not reach a fixpoint in $maxRounds rounds " +
          "(theory bound is O(log^2 n) alternating rounds)")
      // Materialize the labels so the last edge RDD can be released HERE
      // — otherwise every run would strand one cached frame with no
      // handle. The returned frame is persisted and caller-owned (same
      // lifecycle contract as [[neardupPairs]]): unpersist it, run under
      // a loan, or clear the cache when done.
      val labels = edges
        .select(col("u").as("doc_id"), col("v").as("cluster_id"))
        .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
        .distinct()
        .persist(lvl)
      try labels.count()
      catch { case t: Throwable => labels.unpersist(false); throw t }
      (labels, round)
    } finally edgesRdd.unpersist(false)
  }

  /** q43 — near-dup CLUSTER assignment: the transitive closure of q13's
    * verified pair relation. A pipeline that drops only pairwise
    * near-dups keeps chains (A≈B, B≈C but A≉C — boilerplate families);
    * clustering closes them so "keep the minimum id per cluster" is a
    * well-defined corpus-wide rule. The pair stage reuses the whole
    * [[q13NeardupPairs]] machinery (LSH candidates + exact verify); the
    * closure is [[connectedComponents]] — every stage shuffles
    * fixed-width ids/hashes, never text, and the iterative closure
    * touches only the (tiny relative to the corpus) pair relation.
    */
  def q43DupClusters(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.6,
      bands: Int = 16,
      rows: Int = 4): DataFrame =
    q43Build(spark, dir, threshold, bands, rows)._1

  /** Loan form of [[q43DupClusters]] — same contract as
    * [[withQ13NeardupPairs]]: the query's persisted frames (the pair
    * stage's plus the materialized labels) are released after `f`
    * returns. */
  def withQ43DupClusters[T](
      spark: SparkSession, dir: String)(f: DataFrame => T): T = {
    val (result, handles) = q43Build(spark, dir, 0.6, 16, 4)
    try f(result) finally handles.foreach(_.unpersist())
  }

  private[graft] def q43Build(
      spark: SparkSession,
      dir: String,
      threshold: Double,
      bands: Int,
      rows: Int): (DataFrame, Seq[DataFrame]) = {
    val (pairs, pairHandles) = neardupBuild(
      Tables.documents(spark, dir), threshold, bands, rows, ordered = false)
    // connectedComponents returns its labels persisted AND materialized
    // (its driver loop already ran the closure's actions), so the
    // pair-stage caches only back the labels' lineage now; the loan
    // releases them all together. If the closure THROWS, the loan never
    // sees the handles — release the pair-stage caches here.
    val labels =
      try connectedComponentsCanonical(pairs.select(col("doc_a"), col("doc_b")))
      catch { case t: Throwable => pairHandles.foreach(_.unpersist()); throw t }
    (labels.orderBy(col("doc_id")), pairHandles :+ labels)
  }

  /** CTE clause `t(doc_id, sh)` — the distinct-shingle sets every
    * lexical-dedup oracle derives from. */
  private def q13ShingleCteSql: String =
    """t AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(
      |           generate_series(1, greatest(len(toks) - 2, 0)),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |  FROM (SELECT doc_id,
      |               list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
      |        FROM documents)
      |)""".stripMargin

  /** CTE clauses yielding the exact-all-pairs VERIFIED lexical pair
    * relation as `lex(doc_a, doc_b)` — shared verbatim by the q13, q43,
    * and q45 oracles so the three gates cannot drift (the q37PairsCteSql
    * pattern, applied to the lexical side). */
  def q13PairsCteSql(threshold: Double = 0.6): String =
    s"""$q13ShingleCteSql, lex AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM t a JOIN t b ON a.doc_id < b.doc_id
       |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
       |    AND len(list_intersect(a.sh, b.sh)) >=
       |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * $threshold
       |)""".stripMargin

  /** Exact all-pairs Jaccard ground truth for [[q13NeardupPairs]] —
    * the oracle-scale reference the LSH-bucketed implementation matches
    * (recall-1 argument on the q13 scaladoc). */
  def q13OracleSql: String =
    s"""WITH $q13ShingleCteSql, p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         len(list_intersect(a.sh, b.sh)) AS n_common,
       |         len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS n_union
       |  FROM t a JOIN t b ON a.doc_id < b.doc_id
       |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
       |)
       |SELECT doc_a, doc_b, n_common, n_union FROM p
       |WHERE n_common >= n_union * 0.6
       |ORDER BY doc_a, doc_b""".stripMargin

  /** CTE clauses yielding q43's cluster labels as `labels(doc_id,
    * cluster_id)` — the shared lexical pair CTE closed transitively
    * with a recursive CTE; shared by the q43 and q47 oracles. Must
    * follow a `WITH RECURSIVE` keyword. */
  private[graft] def q43LabelsCteSql: String =
    s"""${q13PairsCteSql()}, e AS (
       |  SELECT doc_a AS u, doc_b AS v FROM lex
       |  UNION
       |  SELECT doc_b, doc_a FROM lex
       |), reach(u, v) AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
       |  WHERE e2.v <> r.u
       |), labels AS (
       |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |  FROM reach GROUP BY u
       |)""".stripMargin

  /** Ground truth for [[q43DupClusters]]:
    * `cluster_id = least(self, min reachable)`. */
  def q43OracleSql: String =
    s"""WITH RECURSIVE $q43LabelsCteSql
       |SELECT doc_id, cluster_id FROM labels ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q47

  /** q47 — dedup IMPACT audit: the duplicate-family size histogram
    * `(cluster_size, n_clusters)` over q43's components. This is the
    * report a pipeline owner reads before committing to a drop rule:
    * the histogram's tail (a few huge families = boilerplate/templates)
    * vs its head (many pairs = true near-dups) decides between the
    * pairwise and cluster modes of [[CorpusPipeline]], and
    * `sum((size-1) × n)` is exactly the row count cluster-dedup would
    * remove. Plan: two tiny aggregates over the label relation — the
    * heavy lifting is the shared q43 build. The histogram is bounded by
    * the distinct cluster sizes, so the plain form is EAGER
    * ([[Eager.materializeAndRelease]], the q58/q71 rule): the shared
    * build's persisted frames are released before returning. */
  def q47ClusterSizes(spark: SparkSession, dir: String): DataFrame =
    Eager.materializeAndRelease(q47Build(spark, dir))

  /** Loan form of [[q47ClusterSizes]] — releases the shared q43 build's
    * persisted frames after `f` returns. */
  def withQ47ClusterSizes[T](
      spark: SparkSession, dir: String)(f: DataFrame => T): T = {
    val (result, handles) = q47Build(spark, dir)
    try f(result) finally handles.foreach(_.unpersist())
  }

  private def q47Build(
      spark: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    val (labels, handles) = q43Build(spark, dir, 0.6, 16, 4)
    (clusterSizesFrom(labels), handles)
  }

  /** The q47 histogram over ANY `(doc_id, cluster_id)` label relation —
    * the seam the label index's served twin shares with the recomputing
    * form (spec-pinned row-identical). */
  def clusterSizesFrom(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))

  /** [[q47ClusterSizes]] SERVED from a sealed [[writeLabelIndex]] index
    * — the closure is never recomputed; at 100 TB this is the form a
    * deployment runs (the audit reads sealed state, it does not
    * re-close the corpus). */
  def clusterSizesServed(spark: SparkSession, indexPath: String): DataFrame =
    clusterSizesFrom(labelsServe(spark, indexPath))

  /** Ground truth for [[q47ClusterSizes]] — the shared q43 labels CTE,
    * histogrammed. */
  def q47OracleSql: String =
    s"""WITH RECURSIVE $q43LabelsCteSql, sizes AS (
       |  SELECT cluster_id, count(*) AS cluster_size FROM labels
       |  GROUP BY cluster_id
       |)
       |SELECT cluster_size, count(*) AS n_clusters FROM sizes
       |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  // ---------------------------------------------------------------- q45

  /** q45 — CROSS-MODAL near-dup agreement: the full-outer reconciliation
    * of the lexical pair relation (q13's MinHash-verified Jaccard) with
    * the semantic one (q37's embedding-cosine screen), flagging each
    * pair with which detector(s) fired. This is the SemDeDup-style
    * triage step (Abbas et al. 2023: semantic dedup catches paraphrases
    * lexical hashing misses, and vice versa) a pipeline runs to
    * calibrate thresholds before committing to a drop rule: pairs
    * flagged by BOTH are safe drops, single-detector pairs are the
    * review queue. The fixture's `documents.doc_id` and
    * `embeddings.vec_id` are id-aligned (row i of each table describes
    * the same item).
    *
    * Scale shape: both inputs are already candidate-bounded pair
    * relations (≪ corpus — LSH/bucket-blocked upstream), and the
    * reconciliation shuffles fixed-width id pairs on (doc_a, doc_b) —
    * the aggregate-before-outer-join shape q38 pins, applied across
    * modalities. Output is all-integer for the hash gate. */
  def q45CrossmodalDups(spark: SparkSession, dir: String): DataFrame =
    q45Build(spark, dir)._1

  /** Loan form of [[q45CrossmodalDups]] — releases the lexical stage's
    * persisted shingle frame after `f` returns. */
  def withQ45CrossmodalDups[T](
      spark: SparkSession, dir: String)(f: DataFrame => T): T = {
    val (result, handles) = q45Build(spark, dir)
    try f(result) finally handles.foreach(_.unpersist())
  }

  private def q45Build(
      spark: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    val (pairs, handles) = neardupBuild(
      Tables.documents(spark, dir), 0.6, 16, 4, ordered = false)
    val lex = pairs.select(col("doc_a"), col("doc_b"), lit(1).as("lex_dup"))
    val emb = SimilarityOps.q37CosineNeardup(spark, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"),
        lit(1).as("emb_dup"))
    val result = lex.join(emb, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("lex_dup"), lit(0)).as("lex_dup"),
        coalesce(col("emb_dup"), lit(0)).as("emb_dup"))
      .orderBy(col("doc_a"), col("doc_b"))
    (result, handles)
  }

  /** Ground truth for [[q45CrossmodalDups]]: q13's exact all-pairs
    * Jaccard CTE full-outer-joined with q37's bucket-blocked cosine CTE
    * (identical hyperplane constants — implementation-verified like
    * q14/q37). */
  def q45OracleSql: String =
    s"""WITH ${q13PairsCteSql()}, ${SimilarityOps.q37PairsCteSql()}
       |SELECT coalesce(l.doc_a, e.vec_a) AS doc_a,
       |       coalesce(l.doc_b, e.vec_b) AS doc_b,
       |       CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS lex_dup,
       |       CASE WHEN e.vec_a IS NOT NULL THEN 1 ELSE 0 END AS emb_dup
       |FROM lex l FULL OUTER JOIN emb e
       |  ON l.doc_a = e.vec_a AND l.doc_b = e.vec_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q46

  /** Window width for [[q46RepeatedWindows]] — token windows, like the
    * 50-token spans of the substring-dedup literature scaled to the
    * fixture's ~50-token docs. */
  val WindowTokens = 8

  /** q46 — repeated-window REPORT: the top-N exact token windows that
    * appear in two or more distinct documents, with occurrence and
    * document counts. This is the audit view of SUBSTRING-level
    * duplication (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": exact repeated spans — boilerplate,
    * licenses, headers — harm models even when whole documents are not
    * near-dups, so pipelines hunt spans, not just docs). Document-level
    * q13/q27 cannot see a shared paragraph inside otherwise-different
    * docs; this does.
    *
    * Plan: one narrow generate (non-distinct windows — multiplicity is
    * the signal, like q44), one two-phase aggregate on the window with
    * map-side partial collapse (a repeated span collapses WITHIN each
    * partition before the shuffle — boilerplate is precisely the
    * high-multiplicity case, so the partial agg absorbs it), then
    * `TakeOrderedAndProject` for the top-N — never a global sort. The
    * report carries the window TEXT (its purpose is showing the
    * boilerplate); a 100 TB run would hash-aggregate first and resolve
    * text only for the top candidates — the two-phase refinement is
    * noted, not needed, at report cardinality. Deterministic order:
    * (n_occ desc, win asc; `win` because `window` is an ANSI reserved word). */
  def q46RepeatedWindows(
      spark: SparkSession, dir: String, topN: Int = 20): DataFrame =
    repeatedWindows(Tables.documents(spark, dir), topN)

  /** Frame-level core of [[q46RepeatedWindows]] over any `(doc_id,
    * text)` frame. */
  def repeatedWindows(docs: DataFrame, topN: Int = 20): DataFrame = {
    val toks = TextOps.toks(col("text"))
    val wins = transform(
      sequence(lit(1), size(col("toks")) - (WindowTokens - 1)),
      i => concat_ws(" ", slice(col("toks"), i, lit(WindowTokens))))
    // fan-out guard (opt round 20): the window generate is the
    // query's narrow CPU, serialized on a split-starved scan.
    ScaleHints.fanOutIfTiny(docs)
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= WindowTokens)
      .select(col("doc_id"), explode(wins).as("win"))
      .groupBy(col("win"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .select(col("win"), col("n_docs"), col("n_occ"))
      .orderBy(col("n_occ").desc, col("win"))
      .limit(topN)
  }

  /** Ground truth for [[q46RepeatedWindows]] — the same window builder,
    * counts, and (n_occ desc, win) top-N in DuckDB. */
  def q46OracleSql(topN: Int = 20): String = {
    val gram = (0 until WindowTokens)
      .map(j => if (j == 0) "toks[i]" else s"toks[i + $j]")
      .mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
       |  FROM documents
       |), w AS (
       |  SELECT doc_id,
       |         unnest(list_transform(
       |           generate_series(1, greatest(len(toks) - ${WindowTokens - 1}, 0)),
       |           i -> $gram)) AS win
       |  FROM t WHERE len(toks) >= $WindowTokens
       |), c AS (
       |  SELECT win, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
       |  FROM w GROUP BY win
       |)
       |SELECT win, n_docs, n_occ FROM c WHERE n_docs >= 2
       |ORDER BY n_occ DESC, win LIMIT $topN""".stripMargin
  }

  /** Exact all-pairs ground truth for [[q27NgramJaccard]] — matched
    * unconditionally because prefix filtering has recall 1 by
    * construction (unlike q13, no fixture-margin argument needed). */
  def q27OracleSql: String = {
    val gram = (1 to NgramTokens)
      .map(j => s"toks[i${if (j == 1) "" else s" + ${j - 1}"}]")
      .mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(
       |           generate_series(1, greatest(len(toks) - ${NgramTokens - 1}, 0)),
       |           i -> $gram)) AS gs
       |  FROM (SELECT doc_id,
       |               list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
       |        FROM documents)
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       len(list_intersect(a.gs, b.gs)) AS n_common,
       |       len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)) AS n_union
       |FROM t a JOIN t b ON a.doc_id < b.doc_id
       |WHERE len(a.gs) > 0 AND len(b.gs) > 0
       |  AND 2 * len(list_intersect(a.gs, b.gs)) >=
       |      len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- q57

  /** q57 — dup PROVENANCE rollup: q13's verified near-dup pairs mapped
    * to their source pair `(src_x ≤ src_y)` and counted. This is the
    * "where do my duplicates come from" audit a corpus owner runs
    * before choosing drop rules: a hot diagonal cell (src_x = src_y)
    * means one crawl re-serves its own content (dedup within the
    * source's ingestion fixes it); hot off-diagonal cells mean two
    * acquisitions overlap (e.g. two CommonCrawl snapshots, a mirror) —
    * the earlier-acquisition keep-rule applies, and the cell count is
    * exactly how many docs that rule removes.
    *
    * Scale shape: the pair relation is candidate-bounded (≪ corpus, LSH
    * upstream), and each of the two provenance joins shuffles it on an
    * 8-byte doc id against the column-pruned `(doc_id, source)`
    * projection — the docs scan reads two columns, never the text. The
    * final rollup groups on the bounded source alphabet, map-side
    * combined. The matrix is source-alphabet-bounded, so the plain form
    * is EAGER ([[Eager.materializeAndRelease]], the q58/q71 rule): the
    * shared pair build's persisted shingle frame is released before
    * returning. */
  def q57DupProvenance(spark: SparkSession, dir: String): DataFrame =
    Eager.materializeAndRelease(q57Build(spark, dir))

  /** Loan form of [[q57DupProvenance]] — releases the shared pair
    * build's persisted shingle frame after `f` returns. */
  def withQ57DupProvenance[T](
      spark: SparkSession, dir: String)(f: DataFrame => T): T = {
    val (result, handles) = q57Build(spark, dir)
    try f(result) finally handles.foreach(_.unpersist())
  }

  private def q57Build(
      spark: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    val docs = Tables.documents(spark, dir)
    val (pairs, handles) = neardupBuild(docs, 0.6, 16, 4, ordered = false)
    val src = docs.select(col("doc_id"), col("source"))
    val result = pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")),
        "doc_b")
      .select(
        least(col("src_a"), col("src_b")).as("src_x"),
        greatest(col("src_a"), col("src_b")).as("src_y"))
      .groupBy(col("src_x"), col("src_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("src_x"), col("src_y"))
    (result, handles)
  }

  /** Ground truth for [[q57DupProvenance]]: q13's exact all-pairs
    * Jaccard CTE (recall-1 argument on the q13 scaladoc) mapped to
    * sources with the same least/greatest normalization. */
  def q57OracleSql: String =
    s"""WITH ${q13PairsCteSql()}
       |SELECT least(sa.source, sb.source) AS src_x,
       |       greatest(sa.source, sb.source) AS src_y,
       |       count(*) AS n_pairs
       |FROM lex l
       |JOIN documents sa ON l.doc_a = sa.doc_id
       |JOIN documents sb ON l.doc_b = sb.doc_id
       |GROUP BY src_x, src_y ORDER BY src_x, src_y""".stripMargin

  // ---------------------------------------------------------------- q56

  /** Passage width (tokens) for [[q56PassageDedup]]. Non-overlapping
    * 16-token chunks on the fixture's 10–99-token docs give every doc
    * 1–7 passages; the production value (RefinedWeb uses paragraphs,
    * Dolma ~100-token spans) is a config knob, not a semantics change. */
  val PassageTokens = 16

  /** q56 — PASSAGE-level dedup with document REWRITE: split every doc
    * into non-overlapping [[PassageTokens]]-token passages, keep only
    * each passage's globally FIRST occurrence (ordered by doc_id, then
    * position), and re-emit every document with its surviving passages
    * re-joined in order. This is the RefinedWeb/Dolma rewrite step that
    * document-level dedup (q09/q13) cannot express: boilerplate spans
    * (headers, licenses, navigation chrome) are REMOVED FROM inside
    * otherwise-unique documents rather than merely audited (q46 reports
    * repeated windows; this op edits them out).
    *
    * Scale shape — the text crosses the wire exactly ONCE, for the
    * irreducible output materialization:
    *
    *   1. passage ids: one scan emits (doc_id, pidx, phash) with
    *      `phash = xxhash64(passage)` computed INSIDE the projection —
    *      24-byte rows; the text itself never leaves the scan stage;
    *   2. first occurrence per phash: `min(struct(doc_id, pidx))` — an
    *      8-byte-keyed, map-side-combined aggregate (same discipline as
    *      q09's content-hash rekey);
    *   3. keep flags: the id relation joins the firsts on phash — both
    *      sides fixed-width, shuffle bytes ∝ passage COUNT, not corpus
    *      size — then collapses back to one row per doc carrying the
    *      sorted kept-position list;
    *   4. rewrite: per-doc flags join the docs table on doc_id and the
    *      surviving passages are re-sliced FROM THE SCAN-SIDE text
    *      map-side — so the only exchange that carries text is the
    *      final doc_id-keyed one producing the output rows.
    *
    * Hash collisions follow q43's documented acceptance (P ≈ n²/2⁶⁵ for
    * distinct-passage count n): a collision would silently drop one
    * passage; q09's min=max verification is not available here because
    * the flag join deliberately never co-locates two copies of the
    * text. Output counts are all-integer; `clean_text` is the rewritten
    * document itself — byte-deterministic because the keep rule and the
    * in-order re-join are. */
  def q56PassageDedup(spark: SparkSession, dir: String): DataFrame =
    passageDedup(Tables.documents(spark, dir))

  /** Frame-level core of [[q56PassageDedup]] over any `(doc_id, text)`
    * frame — spec-testable on synthetic corpora. */
  def passageDedup(docs: DataFrame, p: Int = PassageTokens): DataFrame = {
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    // (doc_id, pidx, phash): passage hashes computed inside the
    // scan-side projection, one row per chunk of p tokens — ONE
    // definition shared with the passage bank ([[passageHashes]]), so
    // the stream/bank chunking can never drift from this rule
    val ids = passageHashes(docs.select(col("doc_id"), col("text")), p)
    val firsts = ids
      .groupBy(col("phash"))
      .agg(min(struct(col("doc_id"), col("pidx"))).as("first"))
    val perDoc = ids
      .join(firsts, "phash")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_passages"),
        sort_array(collect_list(
          when(col("doc_id") === col("first.doc_id") &&
            col("pidx") === col("first.pidx"), col("pidx"))))
          .as("kept_pidx"))
    toks.join(perDoc, "doc_id")
      .select(
        col("doc_id"),
        col("n_passages"),
        size(col("kept_pidx")).cast("long").as("n_kept"),
        array_join(
          expr(s"transform(kept_pidx, i -> array_join(slice(t, i * $p + 1, $p), ' '))"),
          " ").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Rewrite form of [[passageDedup]] for pipeline composition: same
    * first-occurrence rule, but the result keeps the INPUT's schema
    * with `text` replaced by the rewritten document, and docs whose
    * every passage was dropped (pure duplicates) removed entirely.
    * Costs one extra doc_id-keyed join to re-attach the non-text
    * columns; metadata columns derived from the original text (e.g.
    * `n_chars`) are the caller's to refresh. */
  def passageRewrite(docs: DataFrame, p: Int = PassageTokens): DataFrame = {
    val clean = passageDedup(docs.select(col("doc_id"), col("text")), p)
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("clean_text"))
    docs.drop("text")
      .join(clean, "doc_id")
      .withColumn("text", col("clean_text"))
      .drop("clean_text")
  }

  /** Ground truth for [[q56PassageDedup]]: the same chunking and
    * first-occurrence rule over passage STRINGS (the oracle needs no
    * hash — equality on text is its semantics; the engine's phash form
    * matches modulo the documented 2⁻⁶⁴ acceptance). */
  def q56OracleSql: String = {
    val p = PassageTokens
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), passages AS (
       |  SELECT doc_id, i AS pidx,
       |         array_to_string(t[(i * $p + 1):((i + 1) * $p)], ' ') AS ptext
       |  FROM toks,
       |       LATERAL (SELECT unnest(range((len(t) + ${p - 1}) // $p)) AS i)
       |), flagged AS (
       |  SELECT doc_id, pidx, ptext,
       |         row_number() OVER (PARTITION BY ptext
       |                            ORDER BY doc_id, pidx) AS rn
       |  FROM passages
       |)
       |SELECT doc_id,
       |       count(*) AS n_passages,
       |       CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
       |       coalesce(string_agg(ptext, ' ' ORDER BY pidx)
       |                  FILTER (WHERE rn = 1), '') AS clean_text
       |FROM flagged
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q62

  /** Modulus / remainder of q62's deterministic doc split: docs with
    * `doc_id % DeltaMod == DeltaRem` form the incoming DELTA (~25% of
    * the fixture), the rest the SEALED base — both engines derive the
    * split from these constants so it cannot drift. */
  val DeltaMod = 4
  val DeltaRem = 0

  /** Write the near-dup INDEX for a sealed corpus — the persisted form
    * of the q13 machinery's base-side state, so a later delta can be
    * screened WITHOUT touching the sealed corpus' text again:
    *
    *   - `buckets/`  `(pos, bh, doc_id, n)` — every LSH band bucket each
    *     base doc occupies (16 rows × ~32 bytes per doc), the equi-join
    *     target of the screen;
    *   - `shingles/` `(doc_id, hs)` — the hashed 3-shingle sets (8 bytes
    *     per distinct shingle), what exact verification needs.
    *
    * Neither table stores text: the index is a fixed small multiple of
    * the corpus' shingle count, and a 100 TB deployment builds it ONCE
    * when the base seals (the build is the q13 map + one aggregate),
    * then amortizes it over every daily delta. A deployment would also
    * bucket `buckets/` by `(pos, bh)` into a metastore table to skip
    * the base-side exchange per screen; plain parquet keeps the fixture
    * self-contained and costs one hash shuffle of the 32-byte tuples.
    *
    * Both artifacts live under the [[GenerationManifest]] window
    * protocol (generation-partitioned, readers window-scoped, one
    * atomic manifest flip per mutation): [[appendDedupIndex]] seals
    * each day's screen survivors, [[compactDedupIndex]] collapses the
    * accreted generations — the same contract the inverted/passage
    * indexes carry. */
  def writeDedupIndex(
      baseDocs: DataFrame, path: String,
      bands: Int = 16, rows: Int = 4): Unit = {
    val ex = shingleHashes(baseDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      bandedBuckets(ex, bands, rows).withColumn("gen", lit(1L))
        .write.partitionBy("gen").mode("overwrite").parquet(s"$path/buckets")
      ex.withColumn("gen", lit(1L))
        .write.partitionBy("gen").mode("overwrite").parquet(s"$path/shingles")
      // generation 1 seals its doc_id range from birth (round 18: the
      // watermark discipline — appends never pay the recordless scan)
      GenerationManifest.commit(path, 1L, 1L, Map(1L -> idRange(ex)))
    } finally ex.unpersist()
  }

  /** The committed generation window of a persisted dedup index. */
  def dedupIndexWindow(path: String): (Long, Long) =
    GenerationManifest.window(path)

  /** SEAL a delta into a persisted dedup index — the second half of
    * the daily loop [[deltaScreen]] opens: screen today's crawl
    * against the sealed base, then append the SURVIVORS so tomorrow's
    * screen sees them too (without this, the deployment rebuilds the
    * index from all text daily). Crash-atomic under the SAME
    * [[GenerationManifest]] window protocol as the inverted/passage
    * indexes — the index mutates TWO artifacts (`buckets/` and
    * `shingles/`), and a doc present in one but not the other would
    * silently lose recall (a bucket candidate with no shingle rows
    * verifies to zero overlap), which is exactly the torn state the
    * joint manifest flip prevents. IDEMPOTENT per doc_id since round
    * 18 (the label index's sealed-id watermark prelude — a retried
    * seal is a pruned no-op, never doubled shingles); pass the docs
    * that SURVIVED the screen (appending a flagged dup would make it
    * an index anchor).
    *
    * Crash seams: `write:buckets` (delta buckets written, shingles
    * not) and `flip:before` (both written, manifest not flipped) —
    * both states must be invisible to [[deltaScreen]] and repaired by
    * the next mutation's purge. */
  def appendDedupIndex(
      deltaDocs: DataFrame, path: String,
      bands: Int = 16, rows: Int = 4): Unit = {
    val spark = deltaDocs.sparkSession
    val st = GenerationManifest.state(path)
    val (lo, hi) = (st.lo, st.hi)
    GenerationManifest.purgeOutside(path, DedupIndexRoots, lo, hi)
    // IDEMPOTENT per doc_id (round 18 — the label index's watermark
    // discipline, retiring this family's "caller owns id-disjointness"
    // contract): already-sealed docs drop from the delta, so a retried
    // daily seal never double-writes shingle rows (duplicated shingles
    // would double n_common in every later screen — inflated Jaccard,
    // false flags); a fully-replayed delta does not grow the window
    val (kept, keptRange, release) = GenerationManifest.keptDelta(
      st, deltaDocs, "doc_id",
      gens => spark.read.parquet(s"$path/shingles")
        .filter(col("gen").isin(gens: _*)).select(col("doc_id")))
    val ex = shingleHashes(kept)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the isEmpty action also materializes ex for the non-empty path
      if (ex.isEmpty) return
      bandedBuckets(ex, bands, rows).withColumn("gen", lit(hi + 1))
        .write.partitionBy("gen").mode("append").parquet(s"$path/buckets")
      GenerationManifest.wrote(path, "buckets")
      ex.withColumn("gen", lit(hi + 1))
        .write.partitionBy("gen").mode("append").parquet(s"$path/shingles")
      // fenced on the operation-start token (round 19)
      GenerationManifest.amend(path, Some(st.seq))(s =>
        s.copy(hi = hi + 1, wms = s.wms + ((hi + 1) -> idRange(ex))))
      ()
    } finally { ex.unpersist(); release() }
  }

  /** Compact a persisted dedup index: rewrite every committed
    * generation of both artifacts into ONE fresh generation and shrink
    * the window to it ([[graft.queries.RetrievalOps.compactIndex]]'s
    * contract for this index family). Screen results are bit-identical
    * across the flip; a crash on either side of it leaves only
    * invisible debris for the next mutation's purge
    * ([[GenerationManifest.fold]]). Returns whether it folded. */
  def compactDedupIndex(spark: SparkSession, path: String): Boolean =
    GenerationManifest.fold(path, DedupIndexRoots) { st =>
      foldRows(spark, path, DedupIndexRoots, st)
    }

  /** The plain-artifact fold rewrite: each `gen`-partitioned root's
    * window rows, unchanged, as generation `hi+1`. */
  private def foldRows(
      spark: SparkSession, path: String, roots: Seq[String],
      st: GenerationManifest.State): Unit =
    roots.foreach { sub =>
      val root = s"$path/$sub"
      spark.read.parquet(root)
        .filter(col("gen").between(st.lo, st.hi)).drop("gen")
        .withColumn("gen", lit(st.hi + 1))
        .write.partitionBy("gen").mode("append").parquet(root)
    }

  /** Reclaim replaced dedup-index generations below the retention
    * horizon ([[GenerationManifest.gc]] — the only operation that
    * deletes committed history; mutations retain it for in-flight
    * readers). Run at the compaction cadence. Returns the committed
    * retention floor. */
  def gcDedupIndex(
      path: String,
      retainGens: Long = GenerationManifest.DefaultRetainGens): Long =
    GenerationManifest.gc(path, DedupIndexRoots, retainGens)

  private val DedupIndexRoots = Seq("buckets", "shingles")

  /** Screen a DELTA frame against a sealed [[writeDedupIndex]] index:
    * LSH candidates from an equi-join of the delta's band buckets with
    * the index's `buckets/`, exact-verified at `threshold` Jaccard
    * against the index's `shingles/`. Returns `(delta_id, base_id,
    * n_common, n_union)` — the delta docs that near-duplicate a SEALED
    * doc, with the integer Jaccard evidence.
    *
    * Scale shape: the delta's text is read once (narrow generator);
    * everything shuffled is 8-byte hashes — delta band tuples against
    * the index buckets, then candidate pairs' shingle rows against the
    * index shingles. Work is bounded by shared-bucket membership and
    * candidate count, never |delta| × |base|. Within-delta dups are out
    * of scope by design — that's [[neardupPairs]] over the delta (batch)
    * or the streaming screen; the incremental question this answers is
    * "which NEW docs already exist in the sealed corpus".
    *
    * `asOfGen` (default: the head) screens against the index EXACTLY
    * as it stood when that generation was the committed head
    * ([[GenerationManifest.windowAt]]) — "would this doc have been
    * flagged by the run that sealed generation g?" is one partition
    * filter, the same protocol-level time travel as `labelsServeAt`
    * and `bm25SearchIndex`. */
  def deltaScreen(
      spark: SparkSession, indexPath: String, deltaDocs: DataFrame,
      threshold: Double = 0.6, bands: Int = 16, rows: Int = 4,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    // Same diamond as neardupBuild: the delta's shingle frame feeds the
    // signature aggregate AND the verify join — persist or re-scan the
    // delta text per consumer. The cache lives until the session drops
    // it; a caller that screens REPEATEDLY (the streaming stage) uses
    // [[withDeltaScreen]] so each batch's cache is released eagerly.
    val exD = shingleHashes(deltaDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    deltaScreenFrom(spark, indexPath, exD, threshold, bands, rows, asOfGen)
  }

  /** Loan form of [[deltaScreen]]: run `use` over the screen result,
    * then RELEASE the delta's cached shingle frame — the
    * materialize-and-release discipline (q71/q72's) for callers that
    * screen many deltas in one session (per-micro-batch in
    * [[graft.streaming.CorpusStream.baseScreen]]), where the plain
    * form's session-lifetime caches would accumulate one per batch. */
  def withDeltaScreen[T](
      spark: SparkSession, indexPath: String, deltaDocs: DataFrame,
      threshold: Double = 0.6, bands: Int = 16, rows: Int = 4,
      asOfGen: Long = Long.MaxValue)(
      use: DataFrame => T): T = {
    val exD = shingleHashes(deltaDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try use(deltaScreenFrom(spark, indexPath, exD, threshold, bands, rows,
      asOfGen))
    finally exD.unpersist()
  }

  private def deltaScreenFrom(
      spark: SparkSession, indexPath: String, exD: DataFrame,
      threshold: Double, bands: Int, rows: Int,
      asOfGen: Long = Long.MaxValue): DataFrame =
    deltaScreenFromBanded(spark, indexPath, exD,
      bandedBuckets(exD, bands, rows), threshold, asOfGen)

  /** The screen core over a prebuilt delta banded frame — see
    * [[candidatesFromBanded]] for why the seam exists. */
  private def deltaScreenFromBanded(
      spark: SparkSession, indexPath: String, exD: DataFrame,
      banded: DataFrame, threshold: Double,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    // scope both artifact scans to the committed window truncated at
    // the as-of point (partition filters): an in-flight append's
    // uncommitted generation, a committed compaction's replaced
    // history, and any post-as-of generation are never even listed
    val (lo, hi) = GenerationManifest.windowAt(indexPath, asOfGen)
    val bucketsB = spark.read.parquet(s"$indexPath/buckets")
      .filter(col("gen").between(lo, hi))
      .select(col("pos"), col("bh"),
        col("doc_id").as("base_id"), col("n").as("n_b"))
    val cand = banded
      .select(col("pos"), col("bh"),
        col("doc_id").as("delta_id"), col("n").as("n_d"))
      .join(bucketsB, Seq("pos", "bh"))
      .select(col("delta_id"), col("base_id"), col("n_d"), col("n_b"))
      .distinct()
    cand
      .join(exD.select(col("doc_id").as("delta_id"), col("hs")), "delta_id")
      .join(spark.read.parquet(s"$indexPath/shingles")
        .filter(col("gen").between(lo, hi))
        .select(col("doc_id").as("base_id"), col("hs")), Seq("base_id", "hs"))
      .groupBy(col("delta_id"), col("base_id"), col("n_d"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("n_union", col("n_d") + col("n_b") - col("n_common"))
      .filter(col("n_common") >= col("n_union") * threshold)
      .select(col("delta_id"), col("base_id"), col("n_common"), col("n_union"))
      .orderBy(col("delta_id"), col("base_id"))
  }

  /** q62 — INCREMENTAL near-dup dedup: the daily-crawl operator. The
    * fixture corpus splits deterministically ([[DeltaMod]]) into a
    * sealed base and an incoming delta; the base's index is built
    * ([[writeDedupIndex]]) and the delta screened against it
    * ([[deltaScreen]]) — never base×base, never delta×base text joins.
    *
    * Like q50, the query re-pays the index build per call into a temp
    * dir (fixture-scale convenience; a deployment builds once per seal
    * and passes a stable path to the write/screen pair). Correctness:
    * the oracle computes EXACT delta×base all-pairs Jaccard over the
    * same split; equality holds by q13's recall-1 argument — the
    * fixture's near-dup margin (≥ 0.83 vs ≤ 0.07 background) puts
    * 16-band×4-row LSH recall at 1, and the pipeline is deterministic. */
  def q62DeltaDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = SimilarityOps.tempIndexDir("graft-dedup-index")
    writeDedupIndex(docs.filter($"doc_id" % DeltaMod =!= DeltaRem), path)
    deltaScreen(spark, path, docs.filter($"doc_id" % DeltaMod === DeltaRem))
  }

  /** Ground truth for [[q62DeltaDedup]]: exact all-pairs Jaccard
    * restricted to delta×base pairs over the same deterministic split
    * (the q13 oracle's shape with the split predicate applied to each
    * side). */
  def q62OracleSql: String =
    s"""WITH $q13ShingleCteSql, p AS (
       |  SELECT d.doc_id AS delta_id, b.doc_id AS base_id,
       |         len(list_intersect(d.sh, b.sh)) AS n_common,
       |         len(d.sh) + len(b.sh) - len(list_intersect(d.sh, b.sh)) AS n_union
       |  FROM t d JOIN t b
       |    ON d.doc_id % $DeltaMod = $DeltaRem AND b.doc_id % $DeltaMod <> $DeltaRem
       |  WHERE len(d.sh) > 0 AND len(b.sh) > 0
       |)
       |SELECT delta_id, base_id, n_common, n_union FROM p
       |WHERE n_common >= n_union * 0.6
       |ORDER BY delta_id, base_id""".stripMargin

  // ------------------------------------------- duplicate-family label index

  /** Artifact roots of the LABEL index: the dedup index's
    * buckets+shingles pair (so the NEXT delta can be screened against
    * everything sealed so far) plus the closed family labels and the
    * root-remap journal. All four live under one [[GenerationManifest]]
    * window — a label visible without its bucket rows (or vice versa)
    * would let a later append silently miss a merge. */
  private val LabelIndexRoots = Seq("buckets", "shingles", "labels", "remaps")

  /** `[min, max]` of a frame's `doc_id` column — the sealed-id
    * watermark a label-index commit records for its new generation.
    * An EMPTY frame records the inverted sentinel `[MaxValue,
    * MinValue]`: a range that intersects nothing, so an empty
    * generation (the LabelIndexStream empty-base build) never forces
    * a scan — where OMITTING the record would read as "unknown range,
    * must scan" forever. One delta-bounded two-long aggregate. */
  private def idRange(df: DataFrame): (Long, Long) =
    GenerationManifest.idRange(df, "doc_id")

  private def emptyRemaps(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("old_root", "new_root")
  }

  /** Build the persisted DUPLICATE-FAMILY LABEL index for a sealed
    * corpus — the round-14 member of the index family (inverted,
    * passage, dedup, IVF/PQ, phrase bank), closing the one gap the
    * round-13 audit named: q43's transitive-closure labels were the
    * most expensive relation in the engine to recompute, yet q47, q80,
    * q104 and the pipeline's cluster-dedup stage each re-closed the
    * corpus from scratch. A deployment closes ONCE per seal, appends
    * each day's delta, and every consumer reads [[labelsServe]].
    *
    * Artifacts (generation-partitioned parquet, window-scoped reads):
    *
    *   - `buckets/`, `shingles/` — exactly [[writeDedupIndex]]'s pair,
    *     here so an append can find delta-vs-sealed candidate pairs
    *     without re-touching sealed text;
    *   - `labels/` `(doc_id, cluster_id)` — q43's closure output: one
    *     row per doc that appears in some verified near-dup pair,
    *     cluster id = the component's minimum doc id;
    *   - `remaps/` `(old_root, new_root)` — the MERGE JOURNAL: when a
    *     delta doc bridges existing families, the append records the
    *     dethroned roots instead of rewriting the sealed base's label
    *     rows (O(merge events), never O(base)).
    *
    * Scale shape: the build is q43's (LSH candidates + exact verify +
    * O(log² n) alternating-star closure — ids and 8-byte hashes on
    * every exchange, text never shuffles); appends are bounded by the
    * delta's candidate set; serve is one window-scoped scan plus a
    * broadcast map over the (tiny) folded remap journal. */
  def writeLabelIndex(
      baseDocs: DataFrame, path: String,
      threshold: Double = 0.6, bands: Int = 16, rows: Int = 4): Unit = {
    val spark = baseDocs.sparkSession
    val ex = shingleHashes(baseDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE minhash signature aggregate for both consumers (the verify
    // pass and the buckets artifact): 4 longs per (doc, band), the
    // cheapest of the append's relations to pin
    val banded = bandedBuckets(ex, bands, rows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val labels = connectedComponentsCanonical(
        verifiedFromBanded(ex, banded, threshold)
          .select(col("doc_a"), col("doc_b")))
      try {
        // every artifact writes into an EXPLICIT gen dir (not
        // partitionBy): a zero-row partitioned write emits no files at
        // all, and a later read could then never infer a schema — the
        // empty part file of a direct write still carries one in its
        // footer (remaps are empty by definition at build; labels on a
        // dup-free corpus; buckets/shingles on an empty base — the
        // LabelIndexStream start-from-nothing case)
        banded
          .write.mode("overwrite").parquet(s"$path/buckets/gen=1")
        ex.write.mode("overwrite").parquet(s"$path/shingles/gen=1")
        labels.write.mode("overwrite").parquet(s"$path/labels/gen=1")
        emptyRemaps(spark).write.mode("overwrite").parquet(s"$path/remaps/gen=1")
        GenerationManifest.commit(path, 1L, 1L, Map(1L -> idRange(ex)))
      } finally labels.unpersist()
    } finally { banded.unpersist(); ex.unpersist() }
  }

  /** APPEND a delta to a sealed label index — the daily-crawl merge
    * contract no recomputing form offers: the delta's pairs fold into
    * the existing components WITHOUT re-closing the sealed base.
    *
    *   1. screen the delta against the sealed buckets+shingles
    *      ([[deltaScreen]]'s core) → delta-vs-sealed verified pairs;
    *   2. verify pairs WITHIN the delta (the q13 core over the same
    *      one persisted delta shingle frame);
    *   3. contract every sealed endpoint to its CURRENT served root
    *      (sealed docs in no prior pair root themselves) and run the
    *      closure over this edge set alone — nodes are delta ids plus
    *      the involved roots, so the iterative work is bounded by the
    *      DELTA's candidates, never the base;
    *   4. emit fresh label rows for newly-labeled docs, and a remap row
    *      `(old_root → new_root)` for each sealed root whose family
    *      gained a smaller minimum — the sealed base's rows are never
    *      rewritten.
    *
    * Append ≡ rebuild EXACTLY (spec-pinned, and the registered
    * [[q112LabelsIndexed]] proves it against q43's full-corpus oracle):
    * banding is per-doc deterministic, so the union of base-build,
    * screen, and within-delta candidates is precisely the full-corpus
    * candidate set; contracting a component to its minimum preserves
    * the global minimum, so the mini-closure's roots equal the
    * full-corpus closure's. The remap journal stays acyclic because a
    * new root is always strictly smaller than the root it dethrones,
    * and an old_root never recurs (a dethroned root is no longer a
    * served root, so no later append can dethrone it again).
    *
    * Crash seams (the [[appendDedupIndex]] pattern): `write:buckets`,
    * `write:shingles`, `write:labels`, then `flip:before` once the
    * remaps are written — any crash before the manifest flip must
    * leave serves bit-identical to the pre-append state. */
  def appendLabelIndex(
      deltaDocs: DataFrame, path: String,
      threshold: Double = 0.6, bands: Int = 16, rows: Int = 4): Unit =
    appendLabelSeamed(deltaDocs, path, threshold, bands, rows, () => ())

  /** [[appendLabelIndex]] with [[compactLabelSeamed]]'s interleave
    * seam: `beforeFlip` runs after the artifact writes, immediately
    * before the publishing flip — where an out-of-band fold lands in
    * the reverse writer race the round-19 fence detects. */
  private[graft] def appendLabelSeamed(
      deltaDocs: DataFrame, path: String,
      threshold: Double, bands: Int, rows: Int,
      beforeFlip: () => Unit): Unit = {
    val spark = deltaDocs.sparkSession
    val st0 = GenerationManifest.state(path)
    val (lo, hi) = (st0.lo, st0.hi)
    GenerationManifest.purgeOutside(path, LabelIndexRoots, lo, hi)
    // IDEMPOTENT per doc_id (stricter than writeDedupIndex's
    // caller-owned disjointness): docs already sealed are dropped from
    // the delta, so a replayed append — foreachBatch's at-least-once
    // redelivery after a crash between commit and checkpoint, the
    // [[graft.streaming.LabelIndexStream]] case — is a no-op instead
    // of double-writing shingle rows (duplicated shingles would DOUBLE
    // n_common in every later screen: inflated Jaccard, false merges).
    // Cost (round 16 — the sealed-id WATERMARK, closing r15's one
    // `weak`): each committed generation's manifest record carries its
    // sealed doc-id range, so ONE delta-bounded min/max aggregate
    // prunes the check to the generations whose ranges intersect the
    // delta's — for the streaming monotone-id case that is NO
    // generations (fresh batch: the anti-join vanishes entirely) or
    // exactly the one replayed generation (scan bounded by the
    // ORIGINAL delta's size, never the base). Generations without a
    // record (pre-watermark indexes) fall back to the exact
    // column-pruned id scan, partition-pruned to just themselves.
    // No distinct on the sealed side: an anti join ignores right-side
    // key multiplicity (the r15 measurement).
    val wms = st0.wms
    val (dMin, dMax) = idRange(deltaDocs)
    val scanGens =
      if (dMin > dMax) Seq.empty // empty delta — the early-out below owns it
      else GenerationManifest.gensNeedingScan(wms, lo, hi, dMin, dMax)
    val kept =
      if (scanGens.isEmpty) deltaDocs
      else deltaDocs.join(
        spark.read.parquet(s"$path/shingles")
          .filter(col("gen").isin(scanGens: _*))
          .select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    val ex = shingleHashes(kept)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE minhash signature aggregate for the append's THREE banded
    // consumers — the sealed-base screen, the within-delta verify, and
    // the buckets artifact write (round-15 measurement: recomputing it
    // per consumer was the streaming maintenance path's dominant cost)
    val banded = bandedBuckets(ex, bands, rows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // EMPTY-delta early-out (the isEmpty action also materializes the
      // persisted ex for the non-empty path): a fully-replayed batch or
      // a trailing no-data trigger must not pay the screen/closure/
      // write machinery — and must not grow the generation count per
      // replay (idempotency already made the CONTENT a no-op).
      if (ex.isEmpty) return
      val cross = deltaScreenFromBanded(spark, path, ex, banded, threshold)
        .select(col("delta_id"), col("base_id"))
      val within = verifiedFromBanded(ex, banded, threshold)
        .select(col("doc_a"), col("doc_b"))
      val served = labelsServe(spark, path)
      val crossRooted = cross
        .join(served
          .withColumnRenamed("doc_id", "base_id")
          .withColumnRenamed("cluster_id", "base_root"),
          Seq("base_id"), "left_outer")
        .select(col("delta_id").as("doc_a"),
          coalesce(col("base_root"), col("base_id")).as("doc_b"))
      // the mini-closure's edges are bounded by the DELTA's candidates
      // — the size-gated driver fold, distributed fallback over the cap
      val miniLabels = boundedComponents(within.unionByName(crossRooted))
      try {
        val priorIds = served.select(col("doc_id"))
        val priorRoots = served.select(col("cluster_id").as("doc_id")).distinct()
        val remaps = miniLabels.join(priorRoots, "doc_id")
          .filter(col("cluster_id") =!= col("doc_id"))
          .select(col("doc_id").as("old_root"), col("cluster_id").as("new_root"))
        val fresh = miniLabels.join(priorIds, Seq("doc_id"), "left_anti")
        banded.withColumn("gen", lit(hi + 1))
          .write.partitionBy("gen").mode("append").parquet(s"$path/buckets")
        GenerationManifest.wrote(path, "buckets")
        ex.withColumn("gen", lit(hi + 1))
          .write.partitionBy("gen").mode("append").parquet(s"$path/shingles")
        GenerationManifest.wrote(path, "shingles")
        fresh.write.mode("overwrite").parquet(s"$path/labels/gen=${hi + 1}")
        GenerationManifest.wrote(path, "labels")
        remaps.write.mode("overwrite").parquet(s"$path/remaps/gen=${hi + 1}")
        beforeFlip()
        // amend preserves the sealed generations' records
        // structurally and adds the new one's (range of the KEPT
        // delta — post-idempotency, so a partially-replayed batch
        // records only what it actually sealed); fenced on the
        // operation-start token (round 19): an out-of-band fold that
        // flipped while the artifacts staged refuses here instead of
        // having its snapshot silently absorbed into a corrupt window
        GenerationManifest.amend(path, Some(st0.seq))(s =>
          s.copy(hi = hi + 1, wms = s.wms + ((hi + 1) -> idRange(ex))))
        ()
      } finally miniLabels.unpersist()
    } finally { banded.unpersist(); ex.unpersist() }
  }

  /** One-shot watermark BACKFILL for a pre-r16 label index
    * ([[GenerationManifest.backfillWatermarks]] over the shingles'
    * sealed doc_ids): pays the unknown-range scan ONCE per legacy
    * generation, records the ranges, and every subsequent append
    * prunes exactly like a watermark-native index. Idempotent —
    * generations already carrying records are skipped. */
  def backfillLabelWatermarks(spark: SparkSession, path: String): Unit =
    GenerationManifest.backfillWatermarks(path,
      spark.read.parquet(s"$path/shingles")
        .select(col("gen"), col("doc_id").as("id")))

  /** Serve the CURRENT family labels from a sealed index: the
    * window-scoped label rows with the remap journal's chains folded
    * in. The journal is collected to the driver and path-compressed
    * there — it is bounded by the number of family-merge events (each
    * old_root occurs exactly once, ever), the same documented
    * bounded-driver-reduction class as the k-means trainers; a
    * deployment that accretes a long journal folds it away with
    * [[compactLabelIndex]]. Labels not touched by any merge pass
    * through a broadcast left join + coalesce.
    *
    * Journal SIZING (ProfR15, bench/NOTES.md): the fold is iterative
    * and memoized, so serve wall grows linearly — measured 0.31 s at 0
    * journal rows to 1.04 s at 100k rows of a WORST-CASE single chain.
    * Rule: compact when the journal exceeds ~10⁵ rows (~0.7 s added
    * serve wall); real journals are bounded by family-merge events and
    * sit orders of magnitude below that after a year of daily appends. */
  def labelsServe(spark: SparkSession, path: String): DataFrame =
    labelsServeAt(spark, path, Long.MaxValue)

  /** TIME-TRAVEL serve: the family labels exactly as [[labelsServe]]
    * returned them when generation `asOfGen` was the committed head —
    * the reproducibility read a training pipeline needs to answer
    * "which labels (and therefore which q104 split) did the run that
    * trained model X use?". Appends are monotone (label rows and remap
    * rows only accrue, never rewrite), so truncating both artifacts at
    * `asOfGen` reconstructs the historical state bit for bit
    * (spec-pinned against serves captured between appends). History
    * reaches back to the window's floor: a compaction folds everything
    * at or below its flip into one generation, so earlier points are
    * no longer addressable — the documented trade of reclaiming
    * replaced generations. */
  def labelsServeAt(
      spark: SparkSession, path: String, asOfGen: Long): DataFrame = {
    import spark.implicits._
    val (lo, g) = GenerationManifest.windowAt(path, asOfGen)
    val labels = spark.read.parquet(s"$path/labels")
      .filter(col("gen").between(lo, g))
      .select(col("doc_id"), col("cluster_id"))
    val remapRows = spark.read.parquet(s"$path/remaps")
      .filter(col("gen").between(lo, g))
      .select(col("old_root"), col("new_root"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    if (remapRows.isEmpty) labels
    else {
      val m = remapRows.toMap
      // acyclic by construction (new_root < old_root): compress chains.
      // Iterative + memoized — a recursive fold would stack-overflow on
      // an adversarially long uncompacted dethronement chain, and
      // without memoization chain folding is O(chain²) across keys.
      val resolved = scala.collection.mutable.HashMap.empty[Long, Long]
      def resolve(x0: Long): Long = {
        var x = x0
        val path = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (!resolved.contains(x) && m.contains(x)) { path += x; x = m(x) }
        val root = resolved.getOrElse(x, x)
        path.foreach(resolved.update(_, root))
        root
      }
      val flat = m.keys.map(k => (k, resolve(k))).toSeq
        .toDF("old_root", "new_root")
      labels
        .join(broadcast(flat), col("cluster_id") === col("old_root"),
          "left_outer")
        .select(col("doc_id"),
          coalesce(col("new_root"), col("cluster_id")).as("cluster_id"))
    }
  }

  /** Compact a label index: rewrite buckets/shingles as one fresh
    * generation, FOLD the remap journal into the label rows (so serves
    * stop paying the broadcast map), reset the journal to empty, and
    * flip the window — [[compactDedupIndex]]'s contract extended to
    * the four-artifact family. Serves are row-identical across the
    * flip; replaced generations stay on disk for in-flight readers
    * until the next mutation's leading purge. Returns whether it
    * folded. */
  def compactLabelIndex(spark: SparkSession, path: String): Boolean =
    compactLabelSeamed(spark, path, () => ())

  /** [[compactLabelIndex]] with a deterministic interleave seam for
    * the writer-race spec (the staged-crash convention, applied to
    * CONCURRENCY): `beforeFlip` runs after the fold's artifact writes,
    * immediately before the publishing flip — exactly where an
    * out-of-band writer (a maintenance stream's append) lands in the
    * two-writer race the round-19 fence detects. */
  private[graft] def compactLabelSeamed(
      spark: SparkSession, path: String, beforeFlip: () => Unit): Boolean =
    GenerationManifest.fold(path, LabelIndexRoots) { st =>
      foldRows(spark, path, Seq("buckets", "shingles"), st)
      labelsServe(spark, path)
        .write.mode("overwrite").parquet(s"$path/labels/gen=${st.hi + 1}")
      emptyRemaps(spark)
        .write.mode("overwrite").parquet(s"$path/remaps/gen=${st.hi + 1}")
      beforeFlip()
    }

  /** The ProfR15 journal-sizing rule as CODE (round 17): compact when
    * the window-scoped remap journal exceeds `maxRemapRows` (default
    * 10⁵ — the measured ~+0.7 s serve-wall knee, bench/NOTES.md) or
    * the window spans more than `maxGens` generations. The decision is
    * one manifest read plus, only when the generation check alone does
    * not fire, one column-pruned count of the journal (fixed-width
    * rows, orders of magnitude smaller than the corpus). Idempotent to
    * call at any maintenance cadence — e.g. the LabelIndexStream
    * owner's post-batch hook; returns whether it compacted. */
  def maybeCompactLabelIndex(
      spark: SparkSession, path: String,
      maxRemapRows: Long = 100000L,
      maxGens: Long = Long.MaxValue): Boolean = {
    require(maxRemapRows >= 0 && maxGens >= 1,
      s"thresholds must satisfy maxRemapRows >= 0, maxGens >= 1, " +
        s"got ($maxRemapRows, $maxGens)")
    val (lo, hi) = GenerationManifest.window(path)
    val past = (hi - lo + 1) > maxGens || {
      spark.read.parquet(s"$path/remaps")
        .filter(col("gen").between(lo, hi)).count() > maxRemapRows
    }
    past && compactLabelIndex(spark, path)
  }

  /** q112 — the label index END TO END, oracle-proven: build the index
    * on q62's sealed base split, APPEND the delta split, serve. The
    * oracle is q43's full-corpus recursive-CTE closure — so the driver
    * itself verifies append ≡ rebuild exactly (not just on the spec
    * fixture). Like q50/q62, the registered form re-pays build+append
    * into a temp dir per call; a deployment builds once per seal. */
  def q112LabelsIndexed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = SimilarityOps.tempIndexDir("graft-label-index")
    writeLabelIndex(docs.filter($"doc_id" % DeltaMod =!= DeltaRem), path)
    appendLabelIndex(docs.filter($"doc_id" % DeltaMod === DeltaRem), path)
    labelsServe(spark, path).orderBy(col("doc_id"))
  }

  /** Ground truth for [[q112LabelsIndexed]]: the FULL-corpus q43
    * closure — equality IS the append ≡ rebuild theorem. */
  def q112OracleSql: String = q43OracleSql

  // ---------------------------------------------------------------- q91

  /** Phrase width (tokens) for [[q91SubstrExcise]]. 8 tokens on the
    * fixture's ~30-word vocabulary makes an accidental cross-doc match
    * vanishingly rare (30⁸ ≈ 6.5·10¹¹ phrase space vs ~25k windows), so
    * the excised spans are the PLANTED near-dup overlaps; production
    * systems use ~50 tokens (Lee et al.) — a knob, not a semantics
    * change. */
  val ExciseTokens = 8

  /** q91 — duplicated-PHRASE excision, the alignment-free member of the
    * rewrite family: every [[ExciseTokens]]-token window at EVERY
    * offset is hashed, a phrase that occurs in ≥ 2 distinct documents
    * is a duplicate, and every document is re-emitted with all its
    * duplicated-phrase spans (overlapping windows merged to maximal
    * runs) excised. This is the token-granularity form of exact
    * substring deduplication (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" — their ExactSubstr, built there on
    * suffix arrays): q56's passage dedup only sees spans that fall on
    * its fixed 16-token chunk grid and keeps one copy; q91 catches a
    * shared phrase at ANY alignment in BOTH documents and removes every
    * occurrence — the symmetric rule a contamination scrub wants, and
    * deliberately distinct from q56's keep-first rule (the two compose:
    * scrub shared boilerplate, then dedup what remains).
    *
    * Scale shape — a suffix array over 100 TB is its own distributed
    * system; the window-hash formulation is one narrow generate plus
    * hash-keyed exchanges, and over-marks nothing (every window IS
    * checked, unlike stride/winnowing approximations):
    *
    *   1. `(doc_id, pos, gh)` — one generate per token position, 24-byte
    *      rows, `gh = xxhash64(window)` computed inside the projection
    *      (text never leaves the scan). The window frame feeds both the
    *      duplicate aggregate and the mark join, so the generate
    *      EXECUTES twice (and the tokenized scan once more for the
    *      rewrite) — a deliberate recompute-over-cache trade: the
    *      projection is narrow and scan-bound, and caching corpus-sized
    *      intermediates at 100 TB costs more than re-deriving them
    *      (q56's shape makes the same call);
    *   2. duplicated phrases: groupBy(gh) with a map-side-combined
    *      min/max doc_id pair — `min ≠ max` ⟺ ≥ 2 distinct docs — an
    *      8-byte-keyed aggregate, cheaper than countDistinct;
    *   3. marked positions: the window frame semi-joins the duplicate
    *      hashes (8-byte key); surviving rows are (doc_id, pos) only;
    *   4. spans: per-doc gaps-and-islands (one doc_id-keyed window +
    *      the co-partitioned span/doc aggregates) merges overlapping
    *      windows into maximal `[s, e)` runs;
    *   5. rewrite: the spans list (small per doc) joins the docs scan on
    *      doc_id — the ONLY exchange that carries text — and a
    *      filter-with-index lambda drops covered tokens.
    *
    * Hash collisions: q56's documented acceptance (a 2⁻⁶⁴ collision
    * would excise a non-duplicated span). Output is all-integer plus
    * the deterministic rewritten text. */
  def q91SubstrExcise(spark: SparkSession, dir: String): DataFrame =
    substrExcise(Tables.documents(spark, dir))

  /** Frame-level core of [[q91SubstrExcise]] over any `(doc_id, text)`
    * frame. Emits one row per input doc: `(doc_id, n_spans, n_removed,
    * clean_text)` — span count after merging, tokens removed, and the
    * document with covered tokens excised (space re-join). */
  private[graft] def substrExcise(
      docs: DataFrame, l: Int = ExciseTokens): DataFrame = {
    val toks = docTokens(docs)
    val wins = windowHashes(toks, l)
    val dups = wins.groupBy(col("gh"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("gh"))
    val marked = wins.join(dups, "gh").select(col("doc_id"), col("pos"))
    exciseMarked(toks, marked, l)
  }

  /** `(doc_id, t)` — the tokenized form both the excise pipeline and
    * its rewrite join read (q56's raw single-space split). */
  private def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("t"))

  /** `(doc_id, pos, gh)` — the xxhash64 of every `l`-token window at
    * every offset, one narrow generate (24-byte rows; the text never
    * leaves the scan stage). */
  private[graft] def windowHashes(toks: DataFrame, l: Int): DataFrame =
    toks.select(
      col("doc_id"),
      posexplode(expr(
        s"""CASE WHEN size(t) >= $l
           |     THEN transform(sequence(0, size(t) - $l),
           |                    i -> xxhash64(array_join(slice(t, i + 1, $l), ' ')))
           |     ELSE cast(array() AS array<bigint>) END""".stripMargin))
        .as(Seq("pos", "gh")))

  /** Steps 4–5 of the excise pipeline (see [[q91SubstrExcise]]):
    * islands-merge the marked window starts into maximal spans and
    * re-emit every doc in `toks` with covered tokens excised — shared
    * verbatim by the in-plan q91 and the index-served scrub
    * ([[scrubAgainst]]), so the two paths cannot drift. */
  private def exciseMarked(
      toks: DataFrame, marked: DataFrame, l: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = marked
      .withColumn("prev_end",
        max(col("pos") + l).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_new",
        when(col("prev_end").isNull || col("prev_end") < col("pos"), 1)
          .otherwise(0))
      .withColumn("span_id", sum(col("is_new")).over(w))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + l).as("e"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).as("n_removed"),
        sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    toks.join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        when(col("spans").isNull, array_join(col("t"), " "))
          .otherwise(expr(
            """array_join(
              |  filter(t, (tok, i) ->
              |    NOT exists(spans, sp -> i >= sp.s AND i < sp.e)), ' ')"""
              .stripMargin))
          .as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Ground truth for [[q91SubstrExcise]]: the same window/duplicate/
    * merge/excise rule over phrase STRINGS (no hash — q56's oracle
    * stance). Spans come out as maximal runs of covered token indices
    * (`idx − row_number()` islands), provably identical to the engine's
    * merged-window spans. */
  def q91OracleSql: String = {
    val l = ExciseTokens
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), wins AS (
       |  SELECT doc_id, i AS pos, array_to_string(t[(i + 1):(i + $l)], ' ') AS g
       |  FROM toks, LATERAL (SELECT unnest(range(len(t) - ${l - 1})) AS i)
       |), dups AS (
       |  SELECT g FROM wins GROUP BY g HAVING min(doc_id) <> max(doc_id)
       |), marked AS (
       |  SELECT w.doc_id, w.pos FROM wins w JOIN dups USING (g)
       |), $exciseOracleTail""".stripMargin
  }

  /** The merge/excise tail shared by the q91 and q95 oracles: consumes
    * CTEs `toks (doc_id, t)` and `marked (doc_id, pos)`, produces the
    * operator's 4-column output — one SQL text, so the in-plan and
    * index-served oracles cannot drift (the engine side shares
    * [[exciseMarked]] the same way). */
  private def exciseOracleTail: String = {
    val l = ExciseTokens
    s"""covered AS (
       |  SELECT DISTINCT m.doc_id, m.pos + j AS idx
       |  FROM marked m, LATERAL (SELECT unnest(range($l)) AS j)
       |), runs AS (
       |  SELECT doc_id, idx,
       |         idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS grp
       |  FROM covered
       |), stats AS (
       |  SELECT doc_id, count(*) AS n_removed, count(DISTINCT grp) AS n_spans
       |  FROM runs GROUP BY doc_id
       |), toksex AS (
       |  SELECT doc_id, i AS idx, t[i + 1] AS tok
       |  FROM toks, LATERAL (SELECT unnest(range(len(t))) AS i)
       |), kept AS (
       |  SELECT te.doc_id,
       |         coalesce(string_agg(te.tok, ' ' ORDER BY te.idx)
       |                    FILTER (WHERE c.idx IS NULL), '') AS clean_text
       |  FROM toksex te LEFT JOIN covered c
       |    ON te.doc_id = c.doc_id AND te.idx = c.idx
       |  GROUP BY te.doc_id
       |)
       |SELECT d.doc_id,
       |       CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
       |       CAST(coalesce(s.n_removed, 0) AS BIGINT) AS n_removed,
       |       k.clean_text
       |FROM toks d
       |LEFT JOIN stats s USING (doc_id)
       |JOIN kept k USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q95

  private val PhraseIndexRoots = Seq("phrases")

  /** Write the PHRASE BANK for a sealed corpus — q91's duplicate-
    * detection state in persisted form, so later deltas can be
    * scrubbed WITHOUT re-reading the sealed corpus: one artifact
    * `phrases/ (gh, mn, mx)` — every distinct window hash with its
    * min/max holder doc_id. min/max (not a dup flag) is what makes the
    * bank COMPOSABLE: it merges associatively across appends
    * ([[phraseBank]] re-aggregates over the window), and it encodes
    * the self-exclusion rule — a phrase is a duplicate FOR doc d iff
    * some OTHER doc holds it, i.e. NOT (mn = d AND mx = d) — which
    * makes a full-corpus self-scrub row-identical to q91 (spec-pinned).
    *
    * 8 bytes of hash + 16 of holders per distinct phrase, never text.
    * Lives under the [[GenerationManifest]] window protocol like every
    * other persisted index family. */
  def writePhraseIndex(
      docs: DataFrame, path: String, l: Int = ExciseTokens): Unit = {
    phraseTable(docs, l).withColumn("gen", lit(1L))
      .write.partitionBy("gen").mode("overwrite").parquet(s"$path/phrases")
    GenerationManifest.commit(path, 1, 1)
  }

  /** `(gh, mn, mx)` for one corpus slice. */
  private def phraseTable(docs: DataFrame, l: Int): DataFrame =
    windowHashes(docTokens(docs), l)
      .groupBy(col("gh"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))

  /** Append a day's corpus to the phrase bank: stage the delta's
    * phrase table as generation `hi+1`, then one atomic manifest flip
    * ([[GenerationManifest]] — a crash before the flip leaves readers
    * on the old window). Append ≡ rebuild (spec-pinned) because the
    * serve-side merge re-aggregates min/mx across generations. */
  def appendPhraseIndex(
      delta: DataFrame, path: String, l: Int = ExciseTokens): Unit = {
    val st0 = GenerationManifest.state(path)
    val (lo, hi) = (st0.lo, st0.hi)
    GenerationManifest.purgeOutside(path, PhraseIndexRoots, lo, hi)
    phraseTable(delta, l).withColumn("gen", lit(hi + 1))
      .write.partitionBy("gen").mode("append").parquet(s"$path/phrases")
    // fenced on the operation-start token (round 19)
    GenerationManifest.amend(path, Some(st0.seq))(s => s.copy(hi = hi + 1))
    ()
  }

  /** Compact the accreted generations into one ([[compactDedupIndex]]'s
    * contract): merge the window's phrase rows, stage as `hi+1`, flip
    * to `[hi+1, hi+1]`. Scrub results are bit-identical across the
    * flip. Returns whether it folded. */
  def compactPhraseIndex(spark: SparkSession, path: String): Boolean =
    GenerationManifest.fold(path, PhraseIndexRoots) { st =>
      phraseBank(spark, path)
        .withColumn("gen", lit(st.hi + 1))
        .write.partitionBy("gen").mode("append").parquet(s"$path/phrases")
    }

  /** The served phrase relation: window-scoped scan + the associative
    * min/mx merge across generations (a phrase appended twice must
    * present ONE row with holders from both). `asOfGen` truncates to
    * the historical head (the protocol-level time travel). */
  private def phraseBank(
      spark: SparkSession, path: String,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    val (lo, hi) = GenerationManifest.windowAt(path, asOfGen)
    spark.read.parquet(s"$path/phrases")
      .filter(col("gen").between(lo, hi))
      .groupBy(col("gh"))
      .agg(min(col("mn")).as("mn"), max(col("mx")).as("mx"))
  }

  /** Scrub `docs` against a sealed phrase bank: excise every window
    * whose phrase some OTHER doc holds (`NOT (mn = doc AND mx = doc)`
    * — so scrubbing a corpus against its own bank reproduces q91
    * exactly, and scrubbing a disjoint delta excises everything the
    * sealed corpus already contains: the incremental contamination
    * scrub). Same [[exciseMarked]] tail as q91 — the shuffled keys are
    * gh and doc_id, the delta's text crosses once in the rewrite
    * join.
    *
    * `selfExclude = false` disables the holder check — REQUIRED when
    * `docs` comes from a DIFFERENT id space than the bank (the
    * streaming crawl scrub): an incoming doc whose caller-supplied id
    * happens to equal a sealed phrase's sole holder would otherwise
    * have the contamination check silently disabled for exactly the
    * re-fetch case the scrub exists for. Self-exclusion is only
    * meaningful when ids are shared (the self-scrub ≡ q91 property).
    *
    * Cost note: the window-hash generate feeds both the bank join and
    * (via [[exciseMarked]]) nothing else, but `toks` is re-derived for
    * the rewrite join — a deliberate recompute-over-cache trade (the
    * projection is narrow and scan-bound; caching corpus-sized
    * intermediates at 100 TB costs more than re-deriving them, q56's
    * precedent). */
  def scrubAgainst(
      spark: SparkSession, indexPath: String, docs: DataFrame,
      l: Int = ExciseTokens, selfExclude: Boolean = true,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    val toks = docTokens(docs)
    val hits = windowHashes(toks, l)
      .join(phraseBank(spark, indexPath, asOfGen), "gh")
    val marked = (if (selfExclude)
      hits.filter(!(col("mn") === col("doc_id") && col("mx") === col("doc_id")))
    else hits)
      .select(col("doc_id"), col("pos"))
    exciseMarked(toks, marked, l)
  }

  // ------------------------------------------------- passage bank (r20)

  private val PassageBankRoots = Seq("passages")

  /** `(doc_id, pidx, phash)` — the xxhash64 of every NON-OVERLAPPING
    * `p`-token chunk (q56's chunking, [[passageDedup]]'s generate),
    * computed inside the scan-side projection. */
  private def passageHashes(docs: DataFrame, p: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast((size(t) + ${p - 1}) div $p as int) - 1),
           |          i -> xxhash64(array_join(slice(t, i * $p + 1, $p), ' ')))"""
          .stripMargin)).as(Seq("pidx", "phash")))

  /** `(phash, mn, mx)` for one corpus slice — [[writePhraseIndex]]'s
    * phrase-table shape at PASSAGE granularity. */
  private def passageTable(docs: DataFrame, p: Int): DataFrame =
    passageHashes(docs, p)
      .groupBy(col("phash"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))

  /** Write the PASSAGE BANK for a sealed corpus (round 20 — the q56
    * rewrite's sealed-artifact form, giving the composed streaming
    * front door its passage stage the way [[writePhraseIndex]] gives
    * it the phrase stage): one artifact `passages/ (phash, mn, mx)` —
    * every distinct non-overlapping `p`-token chunk hash with its
    * min/max holder ids, associative across appends, 24 bytes per
    * distinct chunk, never text. Same [[GenerationManifest]] window
    * protocol as every persisted family. */
  def writePassageBank(
      docs: DataFrame, path: String, p: Int = PassageTokens): Unit = {
    passageTable(docs, p).withColumn("gen", lit(1L))
      .write.partitionBy("gen").mode("overwrite").parquet(s"$path/passages")
    GenerationManifest.commit(path, 1, 1)
  }

  /** Append a delta's chunk table to the passage bank — the
    * [[appendPhraseIndex]] contract (append ≡ rebuild because the
    * serve-side merge re-aggregates min/mx across generations). */
  def appendPassageBank(
      delta: DataFrame, path: String, p: Int = PassageTokens): Unit = {
    val st0 = GenerationManifest.state(path)
    val (lo, hi) = (st0.lo, st0.hi)
    GenerationManifest.purgeOutside(path, PassageBankRoots, lo, hi)
    passageTable(delta, p).withColumn("gen", lit(hi + 1))
      .write.partitionBy("gen").mode("append").parquet(s"$path/passages")
    GenerationManifest.amend(path, Some(st0.seq))(s => s.copy(hi = hi + 1))
    ()
  }

  /** The served chunk relation ([[phraseBank]]'s merge at passage
    * granularity). */
  private def passageBankRead(
      spark: SparkSession, path: String,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    val (lo, hi) = GenerationManifest.windowAt(path, asOfGen)
    spark.read.parquet(s"$path/passages")
      .filter(col("gen").between(lo, hi))
      .groupBy(col("phash"))
      .agg(min(col("mn")).as("mn"), max(col("mx")).as("mx"))
  }

  /** Rewrite `docs` against a sealed passage bank ([[scrubAgainst]]'s
    * contract at chunk granularity, returned in [[passageRewrite]]'s
    * schema-preserving form): every non-overlapping `p`-token chunk
    * whose hash the bank holds — for some OTHER doc under
    * `selfExclude` (shared-id spaces), for ANY holder without it (the
    * streaming crawl scrub, where ids are unrelated) — is dropped, the
    * kept chunks re-join in order, and docs scrubbed to NOTHING leave
    * entirely. For a delta whose ids are all ABOVE the sealed base's
    * and whose chunks are not duplicated within the delta, this equals
    * [[passageRewrite]] over base ∪ delta restricted to the delta
    * (first occurrences live in the base) — the equivalence the
    * composed streaming front door pins (CorpusStreamSpec).
    *
    * Scale shape: chunk hashes join the bank on 8-byte keys; the
    * delta's text crosses the wire once, in the doc_id-keyed rebuild
    * join. */
  def passageScrubAgainst(
      spark: SparkSession, indexPath: String, docs: DataFrame,
      p: Int = PassageTokens, selfExclude: Boolean = true,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    val ids = passageHashes(docs, p)
    val hits = ids.join(passageBankRead(spark, indexPath, asOfGen), "phash")
    val marked = (if (selfExclude)
      hits.filter(!(col("mn") === col("doc_id") && col("mx") === col("doc_id")))
    else hits)
      .select(col("doc_id"), col("pidx"))
    val kept = ids.join(marked, Seq("doc_id", "pidx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pidx"))).as("kept_pidx"))
    val clean = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .join(kept, Seq("doc_id"))
      .select(col("doc_id"), array_join(
        expr(s"transform(kept_pidx, i -> array_join(slice(t, i * $p + 1, $p), ' '))"),
        " ").as("clean_text"))
      .filter(col("clean_text") =!= "")
    docs.drop("text")
      .join(clean, "doc_id")
      .withColumn("text", col("clean_text"))
      .drop("clean_text")
  }

  /** q95 — INDEX-SERVED phrase excision: q62's incremental shape for
    * the q91 operator. The corpus splits deterministically
    * ([[DeltaMod]]) into a sealed base and an incoming delta; the
    * base's phrase bank is built once ([[writePhraseIndex]]) and the
    * delta scrubbed against it — the sealed text is never re-read.
    * Like q50/q62, the query re-pays the build per call into a temp
    * dir (fixture-scale convenience). */
  def q95ExciseIndexed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = SimilarityOps.tempIndexDir("graft-phrase-index")
    writePhraseIndex(docs.filter($"doc_id" % DeltaMod =!= DeltaRem), path)
    scrubAgainst(spark, path, docs.filter($"doc_id" % DeltaMod === DeltaRem))
  }

  // ---------------------------------------------------------------- q96

  /** q96 — KEEP-FIRST phrase dedup: q91's machinery under the actual
    * training-dedup rule of Lee et al.'s ExactSubstr — every
    * occurrence of a duplicated phrase is excised EXCEPT the phrase's
    * globally first occurrence (min by (doc_id, pos)), and "duplicated"
    * counts TOTAL occurrences, so intra-document repetition dedups too
    * (q44/q46 report it; q96 edits it — and q91's symmetric scrub
    * deliberately does neither). One copy of every phrase survives;
    * the corpus keeps its information, loses its repetition.
    *
    * The kept occurrence is a WINDOW-rule survivor: a different
    * overlapping duplicated phrase can still cover part of it (span
    * semantics — exactly as in the suffix-array original, where
    * overlapping duplicate extents merge before excision).
    *
    * Scale shape = q91's with one aggregate swapped: the duplicate
    * detection carries `min(struct(doc_id, pos))` + a count per hash
    * (24 bytes, map-side combined) instead of the min/max doc pair;
    * everything else — 8-byte keyed exchanges, islands merge, one
    * text-bearing rewrite join — is [[exciseMarked]] verbatim. */
  def q96ExciseKeepFirst(spark: SparkSession, dir: String): DataFrame =
    exciseKeepFirst(Tables.documents(spark, dir))

  /** Packed (doc_id, pos) order key base for [[exciseKeepFirst]]'s
    * first-occurrence aggregate: `doc_id · 2²¹ + pos` orders
    * identically to the (doc_id, pos) tuple for documents under 2M
    * tokens (and doc ids under 2⁴²) — and unlike `min(struct(...))`,
    * which Spark can only evaluate as a SortAggregate (measured 5×
    * the q91 wall at 500k docs: two full sorts of the window
    * relation), a LONG min stays a codegen'd map-side-combined
    * HashAggregate. A corpus with longer documents raises the base
    * (or falls back to the struct form) — q93's
    * documented-integer-bound convention. */
  val FirstPackBase: Long = 1L << 21

  /** [[FirstPackBase]]'s doc_id headroom: `doc_id · 2²¹` must not
    * cross 2⁶³. */
  private val FirstPackMaxDoc: Long = Long.MaxValue / FirstPackBase

  /** Frame-level core of [[q96ExciseKeepFirst]]. */
  private[graft] def exciseKeepFirst(
      docs: DataFrame, l: Int = ExciseTokens): DataFrame = {
    val toks = docTokens(docs)
    val wins = windowHashes(toks, l)
    // the packed-key order bound is ENFORCED, not just documented: a
    // >2M-token document (or a doc_id past the 2⁴² headroom) raises
    // instead of silently mis-ordering the first-occurrence choice.
    // Two codegen'd comparisons per window row — the aggregate stays
    // a map-side-combined HashAggregate.
    val packed = when(
      col("pos") >= FirstPackBase || col("doc_id") >= FirstPackMaxDoc,
      raise_error(concat(
        lit(s"exciseKeepFirst: (doc_id, pos) exceeds the packed-key " +
          s"bound (pos < $FirstPackBase, doc_id < $FirstPackMaxDoc) " +
          "— raise FirstPackBase or use the struct order; got doc_id="),
        col("doc_id"), lit(" pos="), col("pos"))))
      .otherwise(col("doc_id") * FirstPackBase + col("pos"))
    val firsts = wins.groupBy(col("gh"))
      .agg(min(packed).as("first"), count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    val marked = wins.join(firsts, "gh")
      .filter(packed =!= col("first"))
      .select(col("doc_id"), col("pos"))
    exciseMarked(toks, marked, l)
  }

  /** Rewrite form of [[exciseKeepFirst]] for pipeline composition
    * ([[passageRewrite]]'s contract): input schema kept, `text`
    * replaced by the excised document, docs excised to NOTHING (pure
    * repetition) removed entirely. Metadata derived from the original
    * text is the caller's to refresh. */
  def exciseRewrite(docs: DataFrame, l: Int = ExciseTokens): DataFrame = {
    val clean = exciseKeepFirst(docs.select(col("doc_id"), col("text")), l)
      .filter(col("clean_text") =!= "")
      .select(col("doc_id"), col("clean_text"))
    docs.drop("text")
      .join(clean, "doc_id")
      .withColumn("text", col("clean_text"))
      .drop("clean_text")
  }

  /** Ground truth for [[q96ExciseKeepFirst]]: the same first-
    * occurrence rule as a rank over (doc_id, pos) per phrase string
    * (`rn > 1` ⟺ duplicated and not first), then the shared excise
    * tail. */
  def q96OracleSql: String = {
    val l = ExciseTokens
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), wins AS (
       |  SELECT doc_id, i AS pos, array_to_string(t[(i + 1):(i + $l)], ' ') AS g
       |  FROM toks, LATERAL (SELECT unnest(range(len(t) - ${l - 1})) AS i)
       |), marked AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |           row_number() OVER (PARTITION BY g
       |                              ORDER BY doc_id, pos) AS rn
       |    FROM wins)
       |  WHERE rn > 1
       |), $exciseOracleTail""".stripMargin
  }

  /** Ground truth for [[q95ExciseIndexed]]: delta windows marked iff
    * the phrase occurs anywhere in the base (the disjoint split makes
    * self-exclusion vacuous), then the shared excise tail. */
  def q95OracleSql: String = {
    val l = ExciseTokens
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE doc_id % $DeltaMod = $DeltaRem
       |), wins AS (
       |  SELECT doc_id, i AS pos, array_to_string(t[(i + 1):(i + $l)], ' ') AS g
       |  FROM toks, LATERAL (SELECT unnest(range(len(t) - ${l - 1})) AS i)
       |), bt AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE doc_id % $DeltaMod <> $DeltaRem
       |), bg AS (
       |  SELECT DISTINCT array_to_string(t[(i + 1):(i + $l)], ' ') AS g
       |  FROM bt, LATERAL (SELECT unnest(range(len(t) - ${l - 1})) AS i)
       |), marked AS (
       |  SELECT w.doc_id, w.pos FROM wins w JOIN bg USING (g)
       |), $exciseOracleTail""".stripMargin
  }

  // ---------------------------------------------------------------- q100

  /** q100 — NOVELTY SCORE against the sealed phrase bank: per delta
    * doc, how much of it the sealed corpus has already seen — windows
    * known to the bank over total windows, as an exact per-mille
    * integer. The crawl-prioritization signal (a recrawl scoring ~1000
    * is pure re-fetch; a source whose deltas trend up is going stale)
    * and the cheap pre-screen gate in front of the q95 rewrite: score
    * first (this op — no islands, no rewrite, no text shuffle at all),
    * scrub only what passes.
    *
    * Scale shape: q95's probe side without its rewrite half — window
    * hashes join the bank on the 8-byte key, ONE doc_id-keyed count
    * aggregate, and a left join back to the per-doc window totals
    * (docs with no known window score 0; docs shorter than a window
    * emit no row — they carry no evidence either way, spec-pinned).
    * Self-exclusion matches [[scrubAgainst]], so score 0 ⟺ the scrub
    * would rewrite nothing. */
  def q100NoveltyScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val path = SimilarityOps.tempIndexDir("graft-novelty-index")
    writePhraseIndex(docs.filter($"doc_id" % DeltaMod =!= DeltaRem), path)
    noveltyScore(spark, path, docs.filter($"doc_id" % DeltaMod === DeltaRem))
  }

  /** Score `docs` against a sealed [[writePhraseIndex]] bank:
    * `(doc_id, n_windows, n_known, known_pm)`. */
  def noveltyScore(
      spark: SparkSession, indexPath: String, docs: DataFrame,
      l: Int = ExciseTokens, selfExclude: Boolean = true): DataFrame = {
    val wins = windowHashes(docTokens(docs), l)
    val totals = wins.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"))
    val hits = wins.join(phraseBank(spark, indexPath), "gh")
    val known = (if (selfExclude)
      hits.filter(!(col("mn") === col("doc_id") && col("mx") === col("doc_id")))
    else hits)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_known"))
    totals.join(known, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        expr("CAST(coalesce(n_known, 0L) * 1000 DIV n_windows AS BIGINT)")
          .as("known_pm"))
      .orderBy(col("doc_id"))
  }

  /** Ground truth for [[q100NoveltyScore]]: delta windows against the
    * distinct base phrases, integer per-mille. */
  def q100OracleSql: String = {
    val l = ExciseTokens
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE doc_id % $DeltaMod = $DeltaRem
       |), wins AS (
       |  SELECT doc_id, array_to_string(t[(i + 1):(i + $l)], ' ') AS g
       |  FROM toks, LATERAL (SELECT unnest(range(len(t) - ${l - 1})) AS i)
       |), bg AS (
       |  SELECT DISTINCT array_to_string(t[(i + 1):(i + $l)], ' ') AS g
       |  FROM (SELECT string_split(text, ' ') AS t FROM documents
       |        WHERE doc_id % $DeltaMod <> $DeltaRem),
       |       LATERAL (SELECT unnest(range(len(t) - ${l - 1})) AS i)
       |), tot AS (
       |  SELECT doc_id, count(*) AS n_windows FROM wins GROUP BY doc_id
       |), kn AS (
       |  SELECT w.doc_id, count(*) AS n_known
       |  FROM wins w JOIN bg USING (g) GROUP BY w.doc_id
       |)
       |SELECT t.doc_id, t.n_windows,
       |       CAST(coalesce(k.n_known, 0) AS BIGINT) AS n_known,
       |       CAST(coalesce(k.n_known, 0) * 1000 // t.n_windows AS BIGINT)
       |         AS known_pm
       |FROM tot t LEFT JOIN kn k USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q98

  /** Containment threshold numerator/denominator for
    * [[q98Containment]]: report (inner, outer) iff
    * `|in ∩ out| · 4 ≥ |in| · 3` (C ≥ 3/4) — exact integers, q27's
    * no-float discipline. */
  val ContainNum = 3
  val ContainDen = 4

  /** q98 — asymmetric CONTAINMENT join: ordered pairs where ≥ 3/4 of
    * the inner doc's distinct token-4-grams occur in the outer doc —
    * quote/excerpt/superset detection, the relation every Jaccard
    * flavor (q13/q21/q27) STRUCTURALLY misses: a paragraph embedded in
    * a 100× longer doc has Jaccard ≈ |A|/|B| ≈ 0 but containment ≈ 1.
    * (LSH is no rescue — MinHash collision probability IS Jaccard.)
    * A curation pipeline runs this to trace excerpts to their source
    * and to spot aggregator docs stitched from corpus content; it
    * composes with q13 (symmetric near-dups rank both directions).
    *
    * Prefix filter, containment form (the PPJoin family's asymmetric
    * cousin): order the INNER doc's grams rarest-first (global df,
    * hash tie-break); if none of its first `n − ⌈t·n⌉ + 1` grams is
    * shared, the overlap is ≤ n − p = ⌈t·n⌉ − 1 < ⌈t·n⌉ — so probing
    * with inner prefixes against the FULL gram relation is a complete
    * candidate generator (recall 1 by construction; nothing holds for
    * outer-side pruning because containment is unbounded in |out|).
    *
    * Scale shape: q27's exactly, with the b-side unfiltered — the
    * candidate join shuffles inner-PREFIX rows (tiny, rare-first)
    * against the gram-keyed relation; Σ df over probed grams is the
    * textbook cost of a probe-the-inverted-index containment join, and
    * hub grams are exactly what rarest-first prefixes avoid probing.
    * Verify is the same candidate-bounded count as q13/q27. */
  def q98Containment(spark: SparkSession, dir: String): DataFrame =
    containmentBuild(Tables.documents(spark, dir))._1

  /** Loan form — [[withQ27NgramJaccard]]'s contract. */
  def withQ98Containment[T](
      spark: SparkSession, dir: String)(f: DataFrame => T): T = {
    val (result, handles) = containmentBuild(Tables.documents(spark, dir))
    try f(result) finally handles.foreach(_.unpersist())
  }

  /** Frame-level core of [[q98Containment]] over any `(doc_id, text)`
    * frame; returns the result plus the persisted handles the caller
    * releases. */
  private[graft] def containmentBuild(
      docs: DataFrame): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    val ex = docs
      .select(col("doc_id"),
        graft.functions.HashedShingles
          .hashedShingles(col("text"), NgramTokens).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val freq = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("g"))
    val perDoc = Window.partitionBy(col("doc_id"))
    val ranked = ex.join(freq, "g")
      .select(col("doc_id"), col("g"),
        row_number().over(byRarity).as("rk"),
        count(lit(1)).over(perDoc).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // inner prefix p = n - ceil(t·n) + 1, ceil(3n/4) = (3n+3) div 4.
    // INTEGER division (SQL DIV) is load-bearing: Column./ is double
    // division, and `n - (3n+3)/4.0 + 1` floors to (n+1) div 4 — one
    // gram SHORT of the completeness bound for every n, which silently
    // loses exactly the pairs whose only shared probe gram is the
    // inner's p-th rarest (regression-pinned in the spec).
    val probe = ranked
      .filter(col("rk") <= col("n") -
        expr(s"(n * $ContainNum + ${ContainDen - 1}) DIV $ContainDen") + 1)
      .select(col("g"), col("doc_id").as("doc_in"), col("n").as("n_in"))
    val full = ranked.select(col("g"),
      col("doc_id").as("doc_out"), col("n").as("n_out"))
    val cand = probe.join(full, "g")
      .filter(col("doc_in") =!= col("doc_out"))
      .select(col("doc_in"), col("doc_out"), col("n_in"), col("n_out"))
      .distinct()
    val result = cand
      .join(ex.select(col("doc_id").as("doc_in"), col("g")), "doc_in")
      .join(ex.select(col("doc_id").as("doc_out"), col("g")), Seq("doc_out", "g"))
      .groupBy(col("doc_in"), col("doc_out"), col("n_in"), col("n_out"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") * ContainDen >= col("n_in") * ContainNum)
      .select(col("doc_in"), col("doc_out"), col("n_common"),
        col("n_in"), col("n_out"))
      .orderBy(col("doc_in"), col("doc_out"))
    (result, Seq(ex, ranked))
  }

  /** Exact all-pairs ground truth for [[q98Containment]] — q27's gram
    * CTE, the integer containment predicate, ordered pairs. */
  def q98OracleSql: String = {
    val gram = (1 to NgramTokens)
      .map(j => s"toks[i${if (j == 1) "" else s" + ${j - 1}"}]")
      .mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(
       |           generate_series(1, greatest(len(toks) - ${NgramTokens - 1}, 0)),
       |           i -> $gram)) AS gs
       |  FROM (SELECT doc_id,
       |               list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
       |        FROM documents)
       |)
       |SELECT a.doc_id AS doc_in, b.doc_id AS doc_out,
       |       len(list_intersect(a.gs, b.gs)) AS n_common,
       |       len(a.gs) AS n_in, len(b.gs) AS n_out
       |FROM t a JOIN t b ON a.doc_id <> b.doc_id
       |WHERE len(a.gs) > 0
       |  AND len(list_intersect(a.gs, b.gs)) * $ContainDen >=
       |      len(a.gs) * $ContainNum
       |ORDER BY doc_in, doc_out""".stripMargin
  }

  // ---------------------------------------------------------------- q104

  /** Split-bucket denominator and per-mille cut points of the q104
    * train/val/test assignment (800/100/100). */
  val SplitTrainPerMille = 800
  val SplitValPerMille = 100

  /** q104 — LEAKAGE-FREE train/val/test split: assignment at NEAR-DUP
    * FAMILY granularity, not per document. A per-doc hash split leaks
    * evaluation data whenever two near-duplicates land on opposite
    * sides of the cut — the textbook contamination path. Here every
    * q43 duplicate family (transitive closure of the verified
    * near-dup relation; docs in no verified pair are their own
    * family) draws ONE deterministic bucket from its cluster id (the
    * q41 md5 rule applied to the id), so a verified near-dup pair can
    * never straddle a split — pinned by the spec along with the
    * 800/100/100 proportions landing within binomial noise.
    *
    * Plan shape: the shared q43 build (LSH-bucketed candidate pairs,
    * exact verify, O(log² n) closure) is the entire cost; the
    * assignment adds one doc_id-keyed left join of the corpus against
    * the label relation and a narrow md5 bucket — no new text
    * shuffle, labels are two longs per PAIRED doc only. Cache
    * lifecycle follows q43's loan convention ([[withQ104LeakSafeSplit]]).
    */
  def q104LeakSafeSplit(spark: SparkSession, dir: String): DataFrame =
    q104Build(spark, dir)._1

  /** Loan form of [[q104LeakSafeSplit]] — releases the shared q43
    * build's persisted frames after `f` returns. */
  def withQ104LeakSafeSplit[T](
      spark: SparkSession, dir: String)(f: DataFrame => T): T = {
    val (result, handles) = q104Build(spark, dir)
    try f(result) finally handles.foreach(_.unpersist())
  }

  private def q104Build(
      spark: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    val (labels, handles) = q43Build(spark, dir, 0.6, 16, 4)
    (leakSplitFrom(Tables.documents(spark, dir), labels), handles)
  }

  /** The q104 family-granular split over ANY `(doc_id, cluster_id)`
    * label relation — the served-twin seam (docs in no family root
    * themselves, one md5 bucket per family). */
  def leakSplitFrom(docs: DataFrame, labels: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left_outer")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket",
        conv(substring(md5(col("cluster_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % RelationalOps.PerMille)
      .withColumn("split",
        when(col("bucket") < SplitTrainPerMille, "train")
          .when(col("bucket") < SplitTrainPerMille + SplitValPerMille, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy(col("doc_id"))

  /** [[q104LeakSafeSplit]] SERVED from a sealed [[writeLabelIndex]]
    * index — split assignment without re-closing the corpus; the form
    * a deployment re-runs whenever the corpus (and its sealed index)
    * gains a delta. */
  def leakSplitServed(
      spark: SparkSession, dir: String, indexPath: String): DataFrame =
    leakSplitFrom(Tables.documents(spark, dir), labelsServe(spark, indexPath))

  /** Ground truth for [[q104LeakSafeSplit]]: q43's recursive-CTE
    * labels extended to singletons, then the same md5 bucket CASE. */
  def q104OracleSql: String = {
    val bucket = "('0x' || substr(md5(cluster_id::VARCHAR), 1, 4))::BIGINT % 1000"
    s"""WITH RECURSIVE $q43LabelsCteSql, f AS (
       |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
       |)
       |SELECT doc_id, cluster_id,
       |       CASE WHEN $bucket < $SplitTrainPerMille THEN 'train'
       |            WHEN $bucket < ${SplitTrainPerMille + SplitValPerMille}
       |              THEN 'val'
       |            ELSE 'test' END AS split
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q110

  /** q110 — NEAR-DUP THRESHOLD SENSITIVITY: the histogram of verified
    * pair Jaccard over [0.5, 1] in 0.05 bins — the report a pipeline
    * owner reads BEFORE setting `CorpusPipeline.Config
    * .neardupThreshold`: a natural gap in the distribution is where
    * the threshold belongs; a fat band just under the current cut is
    * exactly the data a small threshold change would start dropping.
    * (The Config scaladoc documents the banding/threshold coupling;
    * this query is the instrument that makes choosing them empirical.)
    *
    * Plan: ONE [[neardupBuild]] at floor 0.5 under 32×2 banding
    * (candidate P = 1−(1−j²)³² ≥ 0.9999 at j = 0.5 — the recall-1
    * margin argument q13 makes at 0.6 with 16×4, re-established for
    * the lower floor), then an integer bin projection and a
    * bin-alphabet-sized aggregate: `n_common·20 div n_union` ∈
    * [10, 20], reported as the bin's lower edge in per-mille. Integer
    * arithmetic end to end — the oracle hash is exact. Eager (the q97
    * class): ≤ 11-row result, shingle cache released before return.
    */
  def q110ThresholdHistogram(spark: SparkSession, dir: String): DataFrame = {
    val (pairs, handles) =
      neardupBuild(Tables.documents(spark, dir), 0.5, 32, 2, ordered = false)
    try {
      pairs
        .select(expr("n_common * 20 div n_union").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_pairs"))
        .select((col("bin") * 50).cast("long").as("j_lo_pm"), col("n_pairs"))
        .orderBy(col("j_lo_pm"))
        .localCheckpoint(true)
    } finally handles.foreach(_.unpersist())
  }

  /** Ground truth for [[q110ThresholdHistogram]]: exact all-pairs
    * Jaccard (the q13 oracle's relation at floor 0.5) under the same
    * integer binning. */
  def q110OracleSql: String =
    s"""WITH $q13ShingleCteSql, p AS (
       |  SELECT len(list_intersect(a.sh, b.sh)) AS n_common,
       |         len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS n_union
       |  FROM t a JOIN t b ON a.doc_id < b.doc_id
       |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
       |)
       |SELECT (n_common * 20 // n_union) * 50 AS j_lo_pm,
       |       count(*) AS n_pairs
       |FROM p WHERE n_common >= n_union * 0.5
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
