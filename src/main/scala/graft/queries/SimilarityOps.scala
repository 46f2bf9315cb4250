package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bucketed approximate-nearest-neighbor search — the multi-probe scale
  * path over the brute-force baseline of [[PipelineOps.q12SimTopK]].
  * q12's linear scan is the right plan for ONE probe; for a probe SET
  * (batch retrieval, repeated queries) each probe must touch a bounded
  * candidate set, not the whole table.
  *
  * Random-hyperplane (sign) LSH: `numPlanes` fixed hyperplanes; a
  * vector's bucket is the bit-pattern of `sign(v · r_j)`. Cosine-close
  * vectors agree on most signs, so probes search only their own bucket.
  *
  * Determinism contract: the hyperplane components are derived from a
  * double-round LCG over the (plane, dim) index — exact 64-bit integer
  * arithmetic, then an exact division by 2^31 (both steps representable
  * exactly in IEEE double). The DuckDB oracle embeds the identical
  * constants (shortest round-trip decimal rendering), so both engines
  * compute bit-identical dot products and therefore identical buckets:
  * the oracle verifies the LSH implementation itself, not just its
  * recall on a lucky fixture.
  *
  * At 100 TB / 1e9 vectors: `numPlanes` grows with log(N) to keep
  * buckets bounded (16-24 planes → 2^16-2^24 buckets); the probe side is
  * broadcast; each partition scores only its bucket-colliding vectors.
  * Recall is tuned by multi-probing neighbor buckets (flip the lowest-
  * margin signs) — the spec measures recall vs the brute-force oracle on
  * the fixture.
  */
object SimilarityOps {

  /** Embedding dimensionality of the fixture table. */
  val Dim = 64

  private val A = 1103515245L
  private val C = 12345L
  private val M = 2147483648L // 2^31

  /** Hyperplane component r(j, i) in [-0.5, 0.5): double-round LCG over
    * the flat index, exactly representable in IEEE double on every
    * engine (integer < 2^31 divided by 2^31). */
  def planeComponent(j: Int, i: Int): Double = {
    val idx = j.toLong * Dim + i
    val v1 = (A * idx + C) % M
    val v2 = (A * v1 + C) % M
    v2.toDouble / M - 0.5
  }

  /** Plane j as a literal array<double> column. */
  private def planeLit(j: Int): Column =
    typedlit((0 until Dim).map(planeComponent(j, _)))

  /** Plane j rendered for the DuckDB oracle — shortest round-trip decimal
    * (Double.toString), which DuckDB parses back to the identical bits. */
  private def planeSql(j: Int): String =
    (0 until Dim).map(i => planeComponent(j, i).toString).mkString("[", ", ", "]")

  /** Bucket id = bit-pattern of sign(v · r_j), j = 0..numPlanes-1. */
  def bucket(embedding: Column, numPlanes: Int): Column =
    (0 until numPlanes)
      .map(j => when(PipelineOps.dot(embedding, planeLit(j)) > 0, 1 << j).otherwise(0))
      .reduce(_ + _)

  /** q14 — per-probe top-k cosine within LSH buckets, multi-probed at
    * Hamming distance ≤ 1: each probe searches its own bucket plus the
    * `numPlanes` buckets with one sign flipped (the classic multi-probe
    * recall lever — one flipped sign is the likeliest LSH error). The
    * probe side explodes to `numPlanes + 1` (probe, bucket) rows and the
    * candidate match stays a broadcast EQUI-join on `bucket`; each
    * candidate matches a probe through at most one bucket, so no dedup
    * is needed. `row_number` partitions by probe — tiny after the
    * bucket-bounded join.
    */
  def q14AnnTopK(
      spark: SparkSession,
      dir: String,
      k: Int = 10,
      numPlanes: Int = 4,
      numProbes: Int = 10): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket", bucket($"embedding", numPlanes))
    val probeBuckets = (b: Column) =>
      array(b +: (0 until numPlanes).map(j => b.bitwiseXOR(lit(1 << j))): _*)
    val probes = emb
      .filter($"vec_id" < numProbes)
      .select($"vec_id".as("probe_id"), $"embedding".as("p_emb"),
        explode(probeBuckets($"bucket")).as("bucket"))
    val scored = emb
      .join(broadcast(probes), "bucket")
      .withColumn("sim", round(PipelineOps.cosine($"embedding", $"p_emb"), 6))
    val byProbe = Window.partitionBy($"probe_id").orderBy($"sim".desc, $"vec_id")
    scored
      .withColumn("rank", row_number().over(byProbe))
      .filter($"rank" <= k)
      .select($"probe_id", $"vec_id", $"label", $"sim", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  // ---------------------------------------------------------------- q28

  /** IVF cell count (the "nlist" of a FAISS-style inverted-file index)
    * and probed-cell count ("nprobe"). */
  val NumCells = 16
  val NumProbedCells = 4

  /** Offset keeping centroid LCG indices disjoint from the hyperplane
    * indices of [[planeComponent]] (those span j*Dim+i < 16*64). */
  private val CentroidSeed = 10000L

  /** Centroid component c(cell, i) in [-0.5, 0.5) — same double-round
    * LCG construction as [[planeComponent]], disjoint index space.
    * (A production IVF trains centroids with k-means; deterministic
    * pseudo-random centroids keep the FIXTURE oracle exact while the
    * operator shape — assign, invert, probe — is the real product.) */
  def centroidComponent(cell: Int, i: Int): Double = {
    val idx = CentroidSeed + cell.toLong * Dim + i
    val v1 = (A * idx + C) % M
    val v2 = (A * v1 + C) % M
    v2.toDouble / M - 0.5
  }

  private def centroidSql(c: Int): String =
    (0 until Dim).map(i => centroidComponent(c, i).toString).mkString("[", ", ", "]")

  /** q28 — IVF (inverted-file) ANN: every vector is assigned to its
    * nearest centroid's cell (argmax inner product, first-max
    * tie-break); a probe searches only its `NumProbedCells` best cells.
    * The coarse-quantizer sibling of q14's sign-LSH: LSH buckets come
    * from random projections, IVF cells adapt to where the vectors
    * actually are (with trained centroids), which is why it is the
    * production default (FAISS IVF*) at the 1e9-vector scale.
    *
    * Plan shape: cell assignment is a narrow projection (16 codegen'd
    * dot products); the probe side is `numProbes × NumProbedCells` rows
    * BROADCAST against the table; candidates = equi-join on `cell`, so
    * each probe scores ~nprobe/nlist of the table. At scale the table
    * side would be WRITTEN bucketed by cell (DISK layout = the inverted
    * file), turning the probe join into a partition-pruned scan of 4 of
    * 16384 cells — the plan here is that same join minus the storage
    * layout. Each vector lives in exactly ONE cell, so probe×candidate
    * pairs are unique without dedup.
    */
  def q28IvfTopK(
      spark: SparkSession,
      dir: String,
      k: Int = 10,
      numProbes: Int = 10): DataFrame =
    ivfTopK(Tables.embeddings(spark, dir),
      (0 until NumCells).map(c => (0 until Dim).map(centroidComponent(c, _))),
      k, numProbes)

  /** IVF search over ANY centroid set — the frame-level core of q28 and
    * the search half of the train-then-search loop: feed it
    * [[trainCentroids]]' output and the quantizer ADAPTS to the data
    * (spec-measured recall gain over the fixed pseudo-random centroids)
    * with the identical plan shape — assignment stays a narrow
    * projection of codegen'd dot products, probes broadcast, candidates
    * equi-join on the cell key. */
  /** Assign every vector its IVF cell: `dots` (the k inner products,
    * codegen'd) and `cell` (argmax, first-max tie-break). The shared
    * front half of the in-plan search ([[ivfTopK]]) and the on-disk
    * index build ([[writeIvfIndex]]) — one assignment rule, so the two
    * paths cannot drift. */
  def assignCells(
      embTable: DataFrame, centroids: Seq[Seq[Double]],
      fanOut: Boolean = true): DataFrame =
    // fan-out guard (opt round 20): k×Dim codegen'd dots per row is
    // the ANN family's heaviest narrow CPU (assignment feeds every IVF
    // search, build, and Lloyd iteration); a split-starved scan ran it
    // on one core. No-op at scale (ScaleHints.fanOutIfTiny scaladoc).
    // `fanOut = false` (opt round 21): consumers whose downstream is a
    // bounded aggregate/histogram (q88 semDedup, q97 cellBalance)
    // measured the injected round-robin exchange as PURE COST
    // (q97 0.40→0.57 s, q88 0.156→0.183 s on the r20 driver board) —
    // the measured-revert discipline q71/q27/simhash already got.
    (if (fanOut) ScaleHints.fanOutIfTiny(embTable) else embTable)
      .withColumn("dots", array(centroids.map(c =>
        PipelineOps.dot(col("embedding"), typedlit(c))): _*))
      .withColumn("cell",
        (array_position(col("dots"), array_max(col("dots"))) - 1).cast("int"))

  def ivfTopK(
      embTable: DataFrame,
      centroids: Seq[Seq[Double]],
      k: Int = 10,
      numProbes: Int = 10,
      numProbedCells: Int = NumProbedCells): DataFrame = {
    import embTable.sparkSession.implicits._
    val nCells = centroids.length
    val emb = assignCells(embTable, centroids)
    // probe's best cells: sort (dot desc, cell asc) via negated-dot
    // struct sort (exact: IEEE negation flips order bit-for-bit)
    val byBest = sort_array(array((0 until nCells).map(c =>
      struct((-$"dots" (c)).as("nd"), lit(c).as("cell"))): _*))
    val probes = emb
      .filter($"vec_id" < numProbes)
      .select($"vec_id".as("probe_id"), $"embedding".as("p_emb"),
        explode(transform(slice(byBest, 1, numProbedCells), s => s("cell")))
          .as("cell"))
    val scored = emb
      .join(broadcast(probes), "cell")
      .withColumn("sim", round(PipelineOps.cosine($"embedding", $"p_emb"), 6))
    val byProbe = Window.partitionBy($"probe_id").orderBy($"sim".desc, $"vec_id")
    scored
      .withColumn("rank", row_number().over(byProbe))
      .filter($"rank" <= k)
      .select($"probe_id", $"vec_id", $"label", $"sim", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  // ------------------------------------------- persisted IVF index

  /** Materialize the inverted file ON DISK: vectors assigned to their
    * centroid cell ([[assignCells]] — the identical rule the in-plan
    * search uses) and written as CELL-PARTITIONED parquet. This is the
    * storage layout the q28 scaladoc promises: at 1e9 vectors the
    * probe-side equi-join on `cell` becomes a partition-pruned scan of
    * `nprobe` of `nlist` directories — the filter never touches file
    * contents, so a 4-of-16384-cell probe reads ~0.02% of the index.
    * One `repartition(cell)` keeps each cell's files written by few
    * tasks (not `shuffle.partitions` fragments per directory); that
    * single corpus shuffle on an int key is the whole build cost after
    * assignment's narrow projection. `dots` is dropped — it is
    * assignment scaffolding, k doubles per row nobody reads back. */
  def writeIvfIndex(
      embTable: DataFrame,
      centroids: Seq[Seq[Double]],
      path: String): Unit = {
    assignCells(embTable, centroids)
      .drop("dots")
      .withColumn("gen", lit(1L))
      .repartition(col("cell"))
      .write
      .partitionBy("gen", "cell")
      .mode("overwrite")
      .parquet(path)
    // generation 1 seals its vec_id range from birth (round 18: every
    // windowed generation carries its watermark, so the idempotent
    // appends never pay the recordless fallback scan)
    GenerationManifest.commit(path, 1L, 1L,
      wms = Map(1L -> vecIdRange(embTable)))
  }

  /** `[min, max]` of a frame's vec_id — the build/retrain-time `W`
    * record ([[GenerationManifest.idRange]]). */
  private def vecIdRange(emb: DataFrame): (Long, Long) =
    GenerationManifest.idRange(emb, "vec_id")

  /** The idempotent-append prelude bound to this family's sealed-id
    * read ([[GenerationManifest.keptDelta]] over the code tables'
    * `vec_id`, partition-pruned to the intersecting generations). */
  private def keptVecDelta(
      st: GenerationManifest.State, delta: DataFrame, path: String)
    : (DataFrame, (Long, Long), () => Unit) =
    GenerationManifest.keptDelta(st, delta, "vec_id",
      gens => delta.sparkSession.read.parquet(path)
        .filter(col("gen").isin(gens: _*)).select(col("vec_id")))

  /** The missing half of a SERVABLE index: the inverted file alone
    * cannot answer a query after a restart — computing a probe's cells
    * needs the coarse quantizer (the centroids) that built it. So the
    * full train→build loop persists BOTH: [[writeIvfIndex]]'s
    * cell-partitioned vectors plus the centroids under
    * `path/_quantizer` (the underscore prefix keeps the directory
    * invisible to `spark.read.parquet(path)`'s listing — Hadoop hides
    * `_`/`.` paths — so index reads never mix in quantizer rows). A
    * k×Dim table of doubles: trivially small, but load-bearing — index
    * and quantizer travel as ONE artifact and cannot drift apart.
    * Returns the trained centroids for the caller who serves warm. */
  def trainAndWriteIvf(
      emb: DataFrame,
      path: String,
      k: Int = NumCells,
      iters: Int = 5): Seq[Seq[Double]] = {
    val centroids = trainCentroids(emb, k, iters)
    writeIvfIndex(emb, centroids, path)
    writeQuantizer(emb.sparkSession, centroids, path)
    centroids
  }

  /** Persist `centroids` as `path/_quantizer` parquet
    * (`(cell, centroid)` rows). Split out of [[trainAndWriteIvf]] so
    * an index built from FIXED centroids can be made servable too. */
  def writeQuantizer(
      spark: SparkSession, centroids: Seq[Seq[Double]], path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1) // k×Dim doubles — one tiny file
      .write.mode("overwrite").parquet(s"$path/_quantizer")
  }

  /** Incrementally MAINTAIN the inverted file — the daily-delta
    * operation q62 performs for the dedup index, here for ANN serving:
    * assign the delta's vectors with the index's OWN persisted
    * quantizer (reloaded from `path/_quantizer`, so the assignment
    * rule is by construction the one that built the index — a
    * re-derived or re-trained quantizer would silently split cells
    * between old and new rows) and APPEND them into the existing cell
    * directories via dynamic-partition append. One delta-sized
    * shuffle on the int cell key; base rows are never read, moved, or
    * rewritten. Searches pick the new vectors up immediately —
    * [[ivfSearchIndex]]'s partition filter lists the same cell
    * directories, now with more files ([[SimilarityOpsSpec]] pins
    * append-then-search ≡ full-rebuild-then-search row for row).
    * Crash-atomic under the shared [[GenerationManifest]] window
    * protocol (a dynamic-partition append's multi-directory commit is
    * otherwise only PARTIALLY visible after a crash — some cells with
    * the delta's files, others without, silently costing the delta
    * recall): the delta lands under `gen=hi+1`, invisible to the
    * window-scoped readers, and the atomic manifest flip publishes it
    * whole. [[compactAnnIndex]] collapses the accreted generations —
    * the small-file hygiene the daily loop needs. */
  def appendIvfIndex(delta: DataFrame, path: String): Unit = {
    val st = GenerationManifest.state(path)
    val (lo, hi) = (st.lo, st.hi)
    GenerationManifest.purgeOutside(path, AnnIndexRoots, lo, hi)
    // IDEMPOTENT per vec_id (round 18 — the watermark discipline
    // generalized): already-sealed ids are dropped, so a retried
    // append never double-indexes a vector; a fully-replayed delta
    // does not seal a junk generation
    val (kept, keptRange, release) = keptVecDelta(st, delta, path)
    try {
      if (keptRange._1 > keptRange._2) return
      // assign with the GOVERNING quantizer: the head epoch's when a
      // retrain preceded this append, the build-time one otherwise
      val eps = GenerationManifest.epochs(path)
      val centroids =
        readQuantizer(delta.sparkSession, quantizerRootAt(path, eps, hi))
      assignCells(kept, centroids)
        .drop("dots")
        .withColumn("gen", lit(hi + 1))
        .repartition(col("cell"))
        .write
        .partitionBy("gen", "cell")
        .mode("append")
        .parquet(path)
      // fenced on the operation-start token (round 19)
      GenerationManifest.amend(path, Some(st.seq))(s =>
        s.copy(hi = hi + 1, wms = s.wms + ((hi + 1) -> keptRange)))
      ()
    } finally release()
  }

  /** RETRAIN the flat IVF's coarse quantizer — [[retrainSq8Index]]'s
    * epoch protocol for the one remaining quantizer-bearing family
    * without it (round 17): Lloyd-retrain the centroids on
    * `trainSample` (default: `emb` — the standard move when appended
    * data drifted from the trained cells), re-ASSIGN all of `emb` as
    * one complete snapshot at `gen = hi+1`, persist the new centroids
    * under `_epochs/gen=hi+1/_quantizer`, and commit rows + epoch
    * record jointly. As-of reads below the epoch keep the OLD
    * centroids and rows (the flat build-time `_quantizer` is never
    * touched — [[ivfServeAt]] resolves the governing epoch); appends
    * after it assign with the new centroids automatically. */
  def retrainIvfIndex(
      emb: DataFrame, path: String,
      k: Int = NumCells, iters: Int = 5,
      trainSample: Option[DataFrame] = None): Seq[Seq[Double]] = {
    val st0 = GenerationManifest.state(path)
    val (lo, hi) = (st0.lo, st0.hi)
    GenerationManifest.purgeOutside(path, AnnIndexRoots, lo, hi)
    val centroids = trainCentroids(trainSample.getOrElse(emb), k, iters)
    writeQuantizer(emb.sparkSession, centroids,
      s"$path/_epochs/gen=${hi + 1}")
    assignCells(emb, centroids)
      .drop("dots")
      .withColumn("gen", lit(hi + 1))
      .repartition(col("cell"))
      .write
      .partitionBy("gen", "cell")
      .mode("append")
      .parquet(path)
    // fenced on the operation-start token (round 19)
    GenerationManifest.amend(path, Some(st0.seq))(s =>
      s.copy(hi = hi + 1, epochBases = s.epochBases :+ (hi + 1),
        // the epoch snapshot re-encodes (and thus seals) every id
        wms = s.wms + ((hi + 1) -> vecIdRange(emb))))
    centroids
  }

  /** Serve the flat IVF at `asOfGen` under its GOVERNING quantizer —
    * the cold-start read an epoched index needs (passing stale
    * centroids to [[ivfSearchIndex]] would rank probes against cells
    * the rows were not assigned under): resolve the epoch, load its
    * centroids, delegate. For a never-retrained index this is exactly
    * `readQuantizer(path)` + [[ivfSearchIndex]]. */
  def ivfServeAt(
      spark: SparkSession,
      indexPath: String,
      probes: Seq[(Long, Seq[Double])],
      k: Int = 10,
      numProbedCells: Int = NumProbedCells,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    val (_, g) = GenerationManifest.windowAt(indexPath, asOfGen)
    val eps = GenerationManifest.epochs(indexPath)
    val centroids =
      readQuantizer(spark, quantizerRootAt(indexPath, eps, g))
    ivfSearchIndex(spark, indexPath, probes, centroids, k,
      numProbedCells, asOfGen)
  }

  /** The committed generation window of a persisted ANN index. */
  def annIndexWindow(path: String): (Long, Long) =
    GenerationManifest.window(path)

  /** Every ANN layout's artifact roots: the code/vector generations at
    * the index root and the retrain epochs' quantizer sidecars under
    * `_epochs` (IVF, SQ8, PQ and IVF-PQ alike). */
  private[graft] val AnnIndexRoots = Seq("", "_epochs")

  /** Compact an ANN index — the cell-partitioned IVF / IVF-PQ layout
    * `(gen, cell)` or the flat SQ8 / PQ layout `(gen)`, read from the
    * store itself: rewrite the committed window into ONE fresh
    * generation and flip the window to it
    * ([[GenerationManifest.fold]]). The cell layout costs one
    * window-scoped scan + one shuffle on the int cell key, so each
    * cell directory is written by one task. An EPOCHED index folds
    * only the governing epoch's rows — rows below the epoch base were
    * re-encoded into its snapshot and are already unreadable at the
    * head (folding them would double-count vectors under dead
    * codebooks) — and re-seats the head epoch's quantizer sidecars
    * (whichever set it carries: centroids, codebooks, residual flag)
    * as the folded generation's epoch, so serves stay bit-identical
    * across the flip (spec-pinned). The fold's watermark is the union
    * of the window's records: an epoch base re-encoded everything
    * below it, so that union equals the folded content's. Replaced
    * generations stay on disk for in-flight readers until
    * [[gcAnnIndex]]. Returns whether it folded. */
  def compactAnnIndex(spark: SparkSession, path: String): Boolean =
    GenerationManifest.fold(path, AnnIndexRoots) { st =>
      val hi = st.hi
      val rows = spark.read.parquet(path)
        .filter(col("gen").between(epochFloor(st.epochBases, st.lo, hi), hi))
        .drop("gen")
        .withColumn("gen", lit(hi + 1))
      if (rows.columns.contains("cell"))
        rows.repartition(col("cell"))
          .write.partitionBy("gen", "cell").mode("append").parquet(path)
      else rows.write.partitionBy("gen").mode("append").parquet(path)
      if (st.epochBases.nonEmpty)
        GenerationManifest.copyTree(
          quantizerRootAt(path, st.epochBases, hi),
          s"$path/_epochs/gen=${hi + 1}")
    }

  /** Reclaim replaced ANN-index generations (cells + epoch sidecars)
    * below the retention horizon ([[GenerationManifest.gc]]). Shared
    * by the IVF, SQ8/PQ and IVF-PQ layouts — all keep their gen dirs
    * at the root plus `_epochs`. Run at the compaction cadence.
    * Returns the committed retention floor. */
  def gcAnnIndex(
      path: String,
      retainGens: Long = GenerationManifest.DefaultRetainGens): Long =
    GenerationManifest.gc(path, AnnIndexRoots, retainGens)

  /** Reload the coarse quantizer persisted by [[writeQuantizer]] —
    * the cold-start half of serving: after this, [[ivfSearchIndex]]
    * needs nothing but the path. Collect is k×Dim doubles (the same
    * bound as the trainer's driver traffic). */
  def readQuantizer(spark: SparkSession, path: String): Seq[Seq[Double]] = {
    import spark.implicits._
    // explicit sidecar schema (opt round 21, guide §1/§5 driver
    // round-trips): skips the footer-inference job every cold serve
    // paid (2 jobs → 1 per read, measured ~95 → ~40 ms); pinned to
    // [[writeQuantizer]]'s layout, which is fixed by its signature.
    centroidsOf(spark.read.schema(QuantizerSchema)
      .parquet(s"$path/_quantizer")
      .select($"cell", $"centroid").collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Double](1))))
  }

  /** [[writeQuantizer]]'s `(cell, centroid)` layout, pinned. */
  private val QuantizerSchema = "cell INT, centroid ARRAY<DOUBLE>"

  /** Centroids in cell order from collected `(cell, centroid)` pairs. */
  private def centroidsOf(cells: Seq[(Int, Seq[Double])]): Seq[Seq[Double]] =
    cells.sortBy(_._1).map(_._2.toSeq)

  /** A probe's `numProbedCells` best cells, computed DRIVER-side — k
    * dot products over one vector, the coarse-quantizer lookup every
    * IVF serving path runs before touching storage. Same arithmetic as
    * the in-plan probe ranking bit for bit: strict left-to-right
    * double fold (the [[graft.functions.DotProduct]] contract), order
    * by dot desc then cell asc via the same IEEE negation. */
  def probeCells(
      probe: Seq[Double],
      centroids: Seq[Seq[Double]],
      numProbedCells: Int = NumProbedCells): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, i) =>
        var s = 0.0
        var j = 0
        while (j < c.length) { s += probe(j) * c(j); j += 1 }
        (-s, i)
      }
      .sorted
      .take(numProbedCells)
      .map(_._2)

  /** Search the PERSISTED inverted file: prune the scan to the union
    * of the probes' cells (a static `cell IN (...)` partition filter —
    * the read lists only those directories), then the same broadcast
    * probe join + per-probe ranking as [[ivfTopK]]. With the same
    * centroids and probe set this returns row-for-row what the in-plan
    * form returns (q50's oracle IS q28's oracle) — the difference is
    * purely what the scan touches, which is the point of the index. */
  def ivfSearchIndex(
      spark: SparkSession,
      indexPath: String,
      probes: Seq[(Long, Seq[Double])],
      centroids: Seq[Seq[Double]],
      k: Int = 10,
      numProbedCells: Int = NumProbedCells,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    val probeRows = probes.flatMap { case (id, e) =>
      probeCells(e, centroids, numProbedCells).map(c => (id, e, c))
    }
    val wantedCells = probeRows.map(_._3).distinct.sorted
    val probesDf = probeRows.toDF("probe_id", "p_emb", "cell")
    // asOfGen: serve the index as it stood at that committed head —
    // the protocol-level time travel (GenerationManifest.windowAt).
    // An epoched index additionally floors at the governing epoch
    // base: rows below it were re-assigned into its snapshot (reading
    // them too would return each vector twice, once per quantizer).
    val (lo0, hi) = GenerationManifest.windowAt(indexPath, asOfGen)
    val lo = epochFloor(GenerationManifest.epochs(indexPath), lo0, hi)
    val idx = spark.read.parquet(indexPath)
      .filter($"cell".isin(wantedCells: _*) && $"gen".between(lo, hi))
    val scored = idx
      .join(broadcast(probesDf), "cell")
      .withColumn("sim", round(PipelineOps.cosine($"embedding", $"p_emb"), 6))
    val byProbe = Window.partitionBy($"probe_id").orderBy($"sim".desc, $"vec_id")
    scored
      .withColumn("rank", row_number().over(byProbe))
      .filter($"rank" <= k)
      .select($"probe_id", $"vec_id", $"label", $"sim", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** q50 — the q28 search routed through the on-disk inverted file:
    * build ([[writeIvfIndex]]) with q28's fixed centroids, collect the
    * probe vectors (numProbes rows — the serving-path reality: probes
    * arrive driver-side), then [[ivfSearchIndex]]. Oracle-identical to
    * q28 by construction; what changes is the physical plan — the scan
    * carries a `cell IN` PartitionFilter instead of reading the table.
    * The index is rebuilt per call into a temp dir (the fixture is
    * small); a deployment builds once and serves many. */
  def q50IvfIndexed(
      spark: SparkSession,
      dir: String,
      k: Int = 10,
      numProbes: Int = 10): DataFrame = {
    import spark.implicits._
    val centroids =
      (0 until NumCells).map(c => (0 until Dim).map(centroidComponent(c, _)))
    val emb = Tables.embeddings(spark, dir)
    val path = tempIndexDir("graft-ivf-index")
    writeIvfIndex(emb, centroids, path)
    val probes = emb
      .filter($"vec_id" < numProbes)
      .select($"vec_id", $"embedding")
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toSeq))
      .toSeq
    ivfSearchIndex(spark, path, probes, centroids, k)
  }

  /** DuckDB oracle for [[q28IvfTopK]] — identical centroid constants,
    * assignment, probing, and ranking; like q14's oracle it verifies
    * the IVF implementation itself, not just recall. */
  def q28OracleSql(k: Int = 10, numProbes: Int = 10): String = {
    val dotsList = (0 until NumCells)
      .map(c => s"list_dot_product(e, ${centroidSql(c)})")
      .mkString("[\n           ", ",\n           ", "]")
    s"""WITH b0 AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
       |), d0 AS (
       |  SELECT vec_id, label, e,
       |         $dotsList AS dots
       |  FROM b0
       |), a AS (
       |  SELECT vec_id, label, e,
       |         list_position(dots, list_aggregate(dots, 'max')) - 1 AS cell
       |  FROM d0
       |), pc AS (
       |  SELECT vec_id AS probe_id, e AS pe, dots,
       |         unnest(generate_series(0, ${NumCells - 1})) AS cell
       |  FROM d0 WHERE vec_id < $numProbes
       |), p AS (
       |  SELECT probe_id, pe, cell FROM (
       |    SELECT probe_id, pe, cell,
       |           row_number() OVER (PARTITION BY probe_id
       |                              ORDER BY dots[cell + 1] DESC, cell) AS rn
       |    FROM pc)
       |  WHERE rn <= $NumProbedCells
       |), s AS (
       |  SELECT p.probe_id, a.vec_id, a.label,
       |         round(list_dot_product(a.e, p.pe) /
       |               (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(p.pe, p.pe))), 6) AS sim
       |  FROM a JOIN p USING (cell)
       |), r AS (
       |  SELECT probe_id, vec_id, label, sim,
       |         row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM s
       |)
       |SELECT probe_id, vec_id, label, sim, rank FROM r WHERE rank <= $k
       |ORDER BY probe_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q54

  /** SQ8 quantization codes for one vector: per-dimension
    * `floor((x − mn) · 255 / (mx − mn))` against corpus-wide min/max
    * arrays, constant dimensions (mx = mn) coding to 0. `floor`, not
    * `round`: both engines floor identically, while round's tie rule
    * (half-up vs banker's) diverges on exact .5 quotients. All
    * arithmetic in double, identical association both sides. */
  private[graft] def sq8Codes(e: Column, mn: Column, mx: Column): Column =
    zip_with(
      zip_with(e, mn, (x, m) => x.cast("double") - m.cast("double")),
      zip_with(mx, mn, (a, b) => a.cast("double") - b.cast("double")),
      (d, r) => when(r === lit(0.0), lit(0L))
        .otherwise(floor(d * lit(255.0) / r)))

  /** Dequantized reconstruction x̂ᵢ = mnᵢ + codeᵢ · (mxᵢ − mnᵢ) / 255
    * — scoring happens on x̂, never on raw codes: a dot product of
    * min-SHIFTED codes is dominated by the shift (magnitude bias, not
    * direction) and ranks garbage; measured overlap with the exact
    * cosine top-10 was 1/10 on codes vs 10/10 on reconstructions. */
  private[graft] def sq8Dequantize(codes: Column, mn: Column, mx: Column): Column =
    zip_with(
      zip_with(codes,
        zip_with(mx, mn, (a, b) => a.cast("double") - b.cast("double")),
        (c, r) => c.cast("double") * r / lit(255.0)),
      mn,
      (t, m) => m.cast("double") + t)

  /** q54 — scalar-quantized (SQ8) similarity top-k: the FAISS-style
    * compression path a 100 TB vector corpus uses so the scoring scan
    * reads 1-byte codes instead of 4-byte floats (4× less IO once the
    * codes are materialized to their own table; here train, encode,
    * and search compose into one plan). Per-dimension min/max train
    * the quantizer; each vector becomes 64 small-int codes; scoring
    * DEQUANTIZES each code back to x̂ ([[sq8Dequantize]] — see its
    * warning) and ranks by exact cosine on the reconstructions, the
    * q12 metric with q12's rounding.
    *
    * Plan: ONE aggregate computes all 128 min/max columns map-side
    * (flat codegen'd columns, the q15 lesson) and the one-row stats
    * relation is BROADCAST back — the quantizer trains and applies in
    * a single corpus pass with nothing but 128 floats crossing the
    * cluster, no driver round-trip. Scoring reuses the codegen'd
    * [[graft.functions.DotProduct]] kernel; `orderBy+limit` compiles
    * to `TakeOrderedAndProject` (per-partition top-k, k rows per
    * partition to the driver — q12's contract).
    *
    * The spec pins recall vs the exact float ranking (q12) on the
    * fixture; the oracle re-derives quantizer, reconstruction, and
    * ranking independently, so the arithmetic cannot drift between
    * engines.
    */
  /** The SQ8 quantizer's training aggregate: per-dimension min/max of
    * the corpus as ONE one-row `(mn, mx)` frame — 2×Dim floats,
    * computed map-side (flat codegen'd columns, the q15 lesson).
    * Shared by the in-plan q54 and the on-disk [[writeSq8Index]] so
    * the two paths train the identical quantizer. */
  private[graft] def sq8Stats(emb: DataFrame): DataFrame = {
    val aggs = (0 until Dim).map(i =>
      min(element_at(col("embedding"), i + 1)).as(s"mn$i")) ++
      (0 until Dim).map(i => max(element_at(col("embedding"), i + 1)).as(s"mx$i"))
    emb.agg(aggs.head, aggs.tail: _*)
      .select(
        array((0 until Dim).map(i => col(s"mn$i")): _*).as("mn"),
        array((0 until Dim).map(i => col(s"mx$i")): _*).as("mx"))
  }

  def q54Sq8TopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val stats = sq8Stats(emb)
    def quantize(df: DataFrame) = df.crossJoin(broadcast(stats))
      .withColumn("codes", sq8Codes($"embedding", $"mn", $"mx"))
      .select($"vec_id", $"label",
        sq8Dequantize($"codes", $"mn", $"mx").as("xhat"))
    // fan-out guard (opt round 20): encode+dequantize is 3 zip_with
    // passes per row — q54's narrow CPU.
    val quant = quantize(ScaleHints.fanOutIfTiny(emb))
    // the probe quantizes from a PRE-FILTERED scan (vec_id pushed to
    // parquet), not by filtering the full quantized corpus — the
    // latter would duplicate the whole encode subtree into the
    // broadcast branch and re-scan every row to extract one
    val probe = quantize(emb.filter($"vec_id" === 0))
      .select($"xhat".as("phat"))
    quant.crossJoin(broadcast(probe))
      .withColumn("sim", round(PipelineOps.cosine($"xhat", $"phat"), 6))
      .select($"vec_id", $"label", $"sim")
      .orderBy($"sim".desc, $"vec_id")
      .limit(k)
  }

  def q54OracleSql(k: Int = 10): String = {
    val mns = (1 to Dim).map(i => s"min(embedding[$i])").mkString(", ")
    val mxs = (1 to Dim).map(i => s"max(embedding[$i])").mkString(", ")
    s"""WITH stats AS (
       |  SELECT [$mns] AS mn,
       |         [$mxs] AS mx
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id, label,
       |         list_transform(generate_series(1, $Dim), i ->
       |           CASE WHEN mx[i] = mn[i] THEN CAST(0 AS DOUBLE)
       |                ELSE floor((CAST(embedding[i] AS DOUBLE) - CAST(mn[i] AS DOUBLE))
       |                           * 255.0
       |                           / (CAST(mx[i] AS DOUBLE) - CAST(mn[i] AS DOUBLE)))
       |           END) AS codes
       |  FROM embeddings, stats
       |), x AS (
       |  SELECT vec_id, label,
       |         list_transform(generate_series(1, $Dim), i ->
       |           CAST(mn[i] AS DOUBLE) +
       |           codes[i] * (CAST(mx[i] AS DOUBLE) - CAST(mn[i] AS DOUBLE)) / 255.0) AS xhat
       |  FROM q, stats
       |), p AS (
       |  SELECT xhat AS phat FROM x WHERE vec_id = 0
       |)
       |SELECT vec_id, label,
       |       round(list_dot_product(xhat, phat) /
       |             (sqrt(list_dot_product(xhat, xhat)) * sqrt(list_dot_product(phat, phat))), 6) AS sim
       |FROM x, p
       |ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin
  }

  // ------------------------------------------- persisted SQ8 index

  /** Materialize the SQ8-compressed corpus ON DISK — the layout that
    * actually realizes q54's 4× scan-IO claim (in-plan, the quantizer
    * trains and applies per query, so the scan still reads the float
    * embeddings; only when the CODES are the stored representation does
    * the serving scan shrink). The table is `(vec_id, label, codes)`
    * with `codes` an `array<tinyint>` (each code shifted by −128 into
    * the signed byte range — exact, reversed on read) and NO embedding
    * column at all: the serving path cannot accidentally read floats
    * because they are not there. The quantizer (2×Dim floats) rides
    * under `path/_quantizer` — same one-artifact rule as the IVF
    * index's [[writeQuantizer]]: underscore-hidden from the table
    * listing, so index and quantizer cannot drift apart. Build cost is
    * one corpus pass: the stats aggregate broadcasts back into the
    * encoding projection (q54's plan, minus the search). */
  def writeSq8Index(emb: DataFrame, path: String): Unit =
    writeSq8IndexWith(emb, sq8Stats(emb), path)

  /** [[writeSq8Index]] with an EXPLICIT quantizer frame (one `(mn,
    * mx)` row) — the seam [[appendSq8Index]] and its spec need: when
    * the stats are self-trained the two are identical, but an append
    * must encode with the index's PERSISTED quantizer, not retrain.
    * Codes SATURATE into [0, 255] (`least/greatest` before the byte
    * shift): a no-op under a self-trained quantizer (min/max cover
    * every value by definition), and the standard scalar-quantization
    * drift behavior when appended data escapes the trained range — an
    * out-of-range dimension clamps to the boundary code instead of
    * silently overflowing the byte. */
  private[graft] def writeSq8IndexWith(
      emb: DataFrame, stats: DataFrame, path: String): Unit = {
    // materialize the one-row stats ONCE (opt round 21, the
    // retrainSq8Index discipline applied to the build): the frame
    // feeds the encode's broadcast side AND the sidecar write — lazy,
    // a self-trained quantizer re-ran the full 2×Dim min/max corpus
    // pass for each consumer
    val st = stats.localCheckpoint(true)
    emb.crossJoin(broadcast(st))
      .select(col("vec_id"), col("label"),
        sq8ByteCodes(col("embedding"), col("mn"), col("mx")).as("codes"))
      .withColumn("gen", lit(1L))
      .write.partitionBy("gen").mode("overwrite").parquet(path)
    st.coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_quantizer")
    // round 15 brings the last two index families (SQ8, PQ) under the
    // shared generation protocol: crash-atomic appends + as-of serves
    GenerationManifest.commit(path, 1L, 1L,
      wms = Map(1L -> vecIdRange(emb)))
  }

  /** Saturating byte encoding shared by build and append: quantize,
    * clamp to [0, 255], shift by −128 into the signed byte range. */
  private def sq8ByteCodes(e: Column, mn: Column, mx: Column): Column =
    transform(sq8Codes(e, mn, mx),
      c => (least(greatest(c, lit(0L)), lit(255L)) - lit(128)).cast("byte"))

  /** Incrementally MAINTAIN the SQ8 table — [[appendIvfIndex]]'s
    * daily-delta contract for the 1-byte codes: encode the delta with
    * the index's OWN persisted `(mn, mx)` quantizer (reloaded from
    * `path/_quantizer` — retraining on the delta would re-scale every
    * code and silently corrupt the base rows' geometry) and append.
    * One narrow delta-sized projection; base rows never read or
    * rewritten. Drift limit: values outside the trained [mn, mx]
    * saturate to the boundary code ([[sq8ByteCodes]]) — correct
    * ranking degrades gracefully for out-of-range dims until a
    * scheduled retrain+rebuild, and append ≡ rebuild-with-same-
    * quantizer exactly (spec-pinned). */
  def appendSq8Index(delta: DataFrame, path: String): Unit = {
    val st = GenerationManifest.state(path)
    val (lo, hi) = (st.lo, st.hi)
    GenerationManifest.purgeOutside(path, AnnIndexRoots, lo, hi)
    // idempotent per vec_id (round 18 — appendIvfIndex's discipline)
    val (kept, keptRange, release) = keptVecDelta(st, delta, path)
    try {
      if (keptRange._1 > keptRange._2) return
      val eps = GenerationManifest.epochs(path)
      val quantizer = delta.sparkSession.read
        .parquet(s"${quantizerRootAt(path, eps, hi)}/_quantizer")
      kept.crossJoin(broadcast(quantizer))
        .select(col("vec_id"), col("label"),
          sq8ByteCodes(col("embedding"), col("mn"), col("mx")).as("codes"))
        .withColumn("gen", lit(hi + 1))
        .write.partitionBy("gen").mode("append").parquet(path)
      // fenced on the operation-start token (round 19)
      GenerationManifest.amend(path, Some(st.seq))(s =>
        s.copy(hi = hi + 1, wms = s.wms + ((hi + 1) -> keptRange)))
      ()
    } finally release()
  }

  /** RETRAIN the SQ8 quantizer — the "scheduled retrain+rebuild" the
    * append scaladoc's saturation story defers to, as a crash-atomic
    * EPOCH generation ([[retrainIvfPq]]'s protocol for the flat
    * family): re-derive `(mn, mx)` from `trainSample` (default: `emb`
    * — the standard move when appended data escaped the trained
    * range), re-encode ALL of `emb` as one complete snapshot at
    * `gen = hi+1`, persist the new stats under `_epochs/gen=hi+1`, and
    * commit rows + epoch record + quantizer with one rename. As-of
    * reads below the epoch keep the OLD stats and rows (the flat
    * build-time `_quantizer` is never touched); appends after it
    * encode with the new stats automatically. */
  def retrainSq8Index(
      emb: DataFrame, path: String,
      trainSample: Option[DataFrame] = None): Unit = {
    val st0 = GenerationManifest.state(path)
    val (lo, hi) = (st0.lo, st0.hi)
    GenerationManifest.purgeOutside(path, AnnIndexRoots, lo, hi)
    // materialize the one-row stats aggregate ONCE: it feeds both the
    // sidecar write and the re-encode's broadcast side (a lazy frame
    // would re-run the full min/max pass for each)
    val stats = sq8Stats(trainSample.getOrElse(emb)).localCheckpoint(true)
    try {
      stats.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/_epochs/gen=${hi + 1}/_quantizer")
      emb.crossJoin(broadcast(stats))
        .select(col("vec_id"), col("label"),
          sq8ByteCodes(col("embedding"), col("mn"), col("mx")).as("codes"))
        .withColumn("gen", lit(hi + 1))
        .write.partitionBy("gen").mode("append").parquet(path)
      // fenced on the operation-start token (round 19)
      GenerationManifest.amend(path, Some(st0.seq))(s =>
        s.copy(hi = hi + 1, epochBases = s.epochBases :+ (hi + 1),
        // the epoch snapshot re-encodes (and thus seals) every id
        wms = s.wms + ((hi + 1) -> vecIdRange(emb))))
      ()
    } finally stats.unpersist()
  }

  /** Search the PERSISTED SQ8 table: reload the quantizer, dequantize
    * codes to reconstructions in-plan, and rank by exact cosine — with
    * the same quantizer this returns row-for-row what the in-plan q54
    * returns (codes and mn/mx round-trip exactly: integer-valued
    * doubles through a byte shift, floats through parquet), so q61's
    * oracle IS q54's oracle. The probe's codes come from the index
    * itself (`vec_id = probeId`), mirroring q54's corpus-probe. What
    * changes is what the scan READS: 1-byte codes, no float column in
    * the schema — pinned in the spec via ReadSchema and on-disk size. */
  def sq8SearchIndex(
      spark: SparkSession,
      path: String,
      probeId: Long = 0,
      k: Int = 10,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    // asOfGen: serve the codes as they stood at that committed head,
    // with the quantizer of the governing retrain epoch (flat
    // build-time stats when none precedes it)
    val (lo0, g) = GenerationManifest.windowAt(path, asOfGen)
    val eps = GenerationManifest.epochs(path)
    val quantizer = spark.read
      .parquet(s"${quantizerRootAt(path, eps, g)}/_quantizer")
    val lo = epochFloor(eps, lo0, g)
    val codes = spark.read.parquet(path).filter($"gen".between(lo, g))
    def reconstruct(df: DataFrame) = df.crossJoin(broadcast(quantizer))
      .withColumn("xhat", sq8Dequantize(
        transform($"codes", c => (c.cast("double") + lit(128.0))),
        $"mn", $"mx"))
    val corpus = reconstruct(codes)
    val probe = reconstruct(codes.filter($"vec_id" === probeId))
      .select($"xhat".as("phat"))
    corpus.crossJoin(broadcast(probe))
      .withColumn("sim", round(PipelineOps.cosine($"xhat", $"phat"), 6))
      .select($"vec_id", $"label", $"sim")
      .orderBy($"sim".desc, $"vec_id")
      .limit(k)
  }

  /** q61 — the q54 search routed through the on-disk SQ8 table (the
    * q50-for-q28 pattern): build [[writeSq8Index]] into a temp dir,
    * serve with [[sq8SearchIndex]]. Oracle-identical to q54 by
    * construction; the physical difference — the scan reads 1-byte
    * codes and the float embeddings never leave storage — is the
    * point, and is asserted in the spec. Rebuilt per call (fixture
    * scale); a deployment encodes once and serves many. */
  def q61Sq8Indexed(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val path = tempIndexDir("graft-sq8-index")
    writeSq8Index(Tables.embeddings(spark, dir), path)
    sq8SearchIndex(spark, path, probeId = 0, k = k)
  }

  /** Scratch directory for per-call index builds (q50/q61), deleted on
    * JVM exit — repeated correctness/bench runs must not leak disk.
    * Deployments pass their own stable path to the write/search pair;
    * this is only the fixture-scale "rebuild per call" convenience. */
  /** Recursively delete a directory tree, closing the walk stream
    * (descriptor hygiene in long-lived JVMs) — ONE definition for the
    * bench's per-run cleanup and the [[tempIndexDir]] shutdown hook. */
  private[graft] def deleteRecursively(root: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  }

  private[graft] def tempIndexDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(dir)))
    dir.toString
  }

  // ------------------------------------------------- k-means trainer

  /** One distributed Lloyd (k-means) iteration — the IVF centroid
    * TRAINER the q28 docstring defers to ("a production IVF trains
    * centroids with k-means"). Standard L2 Lloyd: each vector joins
    * its nearest centroid by squared euclidean distance (computed as
    * `‖c‖² − 2·v·c`, the per-row-constant `‖v‖²` dropped from the
    * argmin; first-minimum tie-break), then each cell's centroid moves
    * to the mean of its vectors. Cells that attract no vectors keep
    * their previous centroid (standard practice; no respawn
    * heuristics).
    *
    * Scale shape — why this is how 1e9-vector IVF indexes are built:
    * the centroids ride INTO the plan as literals (k×Dim doubles, the
    * moral equivalent of a broadcast), assignment is a narrow
    * codegen'd projection (k [[graft.functions.DotProduct]] kernels),
    * and the update is ONE map-side-combined hash aggregate producing
    * k×Dim means; only that k×Dim result ever reaches the driver.
    * Vectors never shuffle — per iteration the corpus is read once.
    */
  def kmeansIteration(
      emb: DataFrame, centroids: Seq[Seq[Double]]): Seq[Seq[Double]] = {
    val k = centroids.length
    // ‖c‖² − 2 v·c per cell; argmin via first position of the array min
    val scores = array(centroids.map { c =>
      val norm2 = c.map(x => x * x).sum
      lit(norm2) - lit(2.0) * PipelineOps.dot(col("embedding"), typedlit(c))
    }: _*)
    val assigned = emb
      .withColumn("scores", scores)
      .withColumn("cell",
        (array_position(col("scores"), array_min(col("scores"))) - 1).cast("int"))
    val dim = centroids.head.length
    val aggs = (0 until dim).map(i =>
      avg(element_at(col("embedding"), i + 1).cast("double")).as(s"m$i"))
    val rows = assigned.groupBy(col("cell"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val updated = centroids.toArray
    rows.foreach { r =>
      updated(r.getInt(0)) = (0 until dim).map(i => r.getDouble(i + 1))
    }
    updated.toSeq
  }

  /** Train IVF centroids: `iters` Lloyd iterations from the
    * deterministic LCG centroids q28 uses as its fixed quantizer —
    * i.e. q28's constants are exactly this trainer's INIT state. */
  def trainCentroids(
      emb: DataFrame,
      k: Int = NumCells,
      iters: Int = 5): Seq[Seq[Double]] = {
    val init = (0 until k).map(c => (0 until Dim).map(centroidComponent(c, _)))
    (0 until iters).foldLeft(init: Seq[Seq[Double]]) {
      (cs, _) => kmeansIteration(emb, cs)
    }
  }

  // ---------------------------------------------------------------- q37

  /** Cosine threshold for [[q37CosineNeardup]] — chosen against the
    * fixture's similarity distribution (max pairwise cosine ≈ 0.51;
    * 47 same-bucket pairs ≥ 0.35 at sf0.01) so the result set is
    * non-vacuous. Round 4 documented why a NEAR-DUP threshold (≥ 0.8)
    * would be: the fixture plants no cosine-near pairs. */
  val NeardupCosine = 0.35

  /** q37 — embedding-cosine near-dup screen (the last dedup flavor):
    * pairs of vectors sharing a sign-LSH bucket whose EXACT cosine
    * clears the threshold. Blocking on the bucket bounds the candidate
    * set exactly like q13/q21 do for text — same-bucket pairs only,
    * never |V|² — and the verify is the codegen'd
    * [[graft.functions.DotProduct]] kernel. Recall is governed by the
    * LSH collision probability at the threshold (1−θ/π per plane);
    * like q14, the oracle shares the hyperplane constants, so the gate
    * verifies the implementation — bucketing, blocking, scoring —
    * rather than a lucky recall.
    *
    * At 1e9 vectors the blocking join is the plan: vectors shuffle
    * once on bucket id (embeddings travel only to their own bucket's
    * partition), planes grow with log N to keep buckets bounded, and
    * the exact verify touches only intra-bucket pairs.
    */
  def q37CosineNeardup(
      spark: SparkSession,
      dir: String,
      threshold: Double = NeardupCosine,
      numPlanes: Int = 4): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket", bucket($"embedding", numPlanes))
    val a = emb.select($"bucket", $"vec_id".as("vec_a"), $"embedding".as("e_a"))
    val b = emb.select($"bucket", $"vec_id".as("vec_b"), $"embedding".as("e_b"))
    a.join(b, "bucket")
      .filter($"vec_a" < $"vec_b")
      .withColumn("sim", round(PipelineOps.cosine($"e_a", $"e_b"), 6))
      .filter($"sim" >= threshold)
      .select($"vec_a", $"vec_b", $"sim")
      .orderBy($"vec_a", $"vec_b")
  }

  /** CTE clauses yielding the q37 pair relation as `emb(vec_a, vec_b,
    * sim)` — shared verbatim by q37's own oracle and q45's cross-modal
    * reconciliation so the two gates cannot drift. */
  def q37PairsCteSql(threshold: Double = NeardupCosine, numPlanes: Int = 4): String = {
    val bucketExpr = (0 until numPlanes).map { j =>
      s"(CASE WHEN list_dot_product(e, ${planeSql(j)}) > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("\n         + ")
    s"""b AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |         $bucketExpr AS bucket
       |  FROM embeddings
       |), emb AS (
       |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
       |         round(list_dot_product(a.e, b2.e) /
       |               (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b2.e, b2.e))), 6) AS sim
       |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
       |  WHERE round(list_dot_product(a.e, b2.e) /
       |              (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b2.e, b2.e))), 6) >= $threshold
       |)""".stripMargin
  }

  /** DuckDB oracle for [[q37CosineNeardup]] — identical hyperplane
    * constants, blocking, and scoring. */
  def q37OracleSql(threshold: Double = NeardupCosine, numPlanes: Int = 4): String =
    s"""WITH ${q37PairsCteSql(threshold, numPlanes)}
       |SELECT vec_a, vec_b, sim FROM emb
       |ORDER BY vec_a, vec_b""".stripMargin

  /** DuckDB oracle for [[q14AnnTopK]] — the same buckets (identical
    * hyperplane constants), join, scoring, and ranking in ANSI SQL. */
  def q14OracleSql(k: Int = 10, numPlanes: Int = 4, numProbes: Int = 10): String = {
    val bucketExpr = (0 until numPlanes).map { j =>
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], ${planeSql(j)}) > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("\n         + ")
    s"""WITH b AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS e,
       |         $bucketExpr AS bucket
       |  FROM embeddings
       |), p AS (
       |  SELECT vec_id AS probe_id, e AS pe,
       |         unnest([bucket${(0 until numPlanes).map(j => s", xor(bucket, ${1 << j})").mkString}]) AS bucket
       |  FROM b WHERE vec_id < $numProbes
       |), s AS (
       |  SELECT p.probe_id, b.vec_id, b.label,
       |         round(list_dot_product(b.e, p.pe) /
       |               (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(p.pe, p.pe))), 6) AS sim
       |  FROM b JOIN p USING (bucket)
       |), r AS (
       |  SELECT probe_id, vec_id, label, sim,
       |         row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM s
       |)
       |SELECT probe_id, vec_id, label, sim, rank FROM r WHERE rank <= $k
       |ORDER BY probe_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q65

  /** Product-quantization geometry: [[Dim]] splits into `PqSubspaces`
    * subvectors of `PqSubDim` dims; each subspace has a `PqCodes`-entry
    * codebook, so a vector stores as `PqSubspaces` 4-bit codes —
    * 8 codes × ≤1 byte here vs 64 floats, the compression that makes
    * exhaustive ADC scans affordable at 1e9 vectors. */
  val PqSubspaces = 8
  val PqCodes = 16
  val PqSubDim: Int = Dim / PqSubspaces

  /** Offset keeping PQ codebook LCG indices disjoint from the
    * hyperplane (< 1024) and centroid (10000–11023) index spaces. */
  private val PqSeed = 20000L

  /** Codebook component pq(m, j, i) in [-0.5, 0.5) for subspace m,
    * code j, dim i — the [[planeComponent]] double-round LCG over a
    * disjoint flat index. (A production PQ trains codebooks with
    * per-subspace k-means — [[lloydIteration]] restricted to a slice —
    * exactly as q28's scaladoc argues for IVF centroids; deterministic
    * codebooks keep the fixture oracle exact while the operator shape —
    * encode, store codes, ADC-scan — is the real product.) */
  def pqComponent(m: Int, j: Int, i: Int): Double = {
    val idx = PqSeed + (m.toLong * PqCodes + j) * PqSubDim + i
    val v1 = (A * idx + C) % M
    val v2 = (A * v1 + C) % M
    v2.toDouble / M - 0.5
  }

  private def pqCodebook(m: Int, j: Int): Seq[Double] =
    (0 until PqSubDim).map(pqComponent(m, j, _))

  /** The fixed LCG codebooks as one `books(m)(j)` value — the INIT
    * state of [[trainPqCodebooks]] (exactly as q28's LCG centroids
    * are [[trainCentroids]]'s init) and the default quantizer the
    * oracle-checked q65/q66/q67 serve from. */
  def defaultPqCodebooks: Seq[Seq[Seq[Double]]] =
    (0 until PqSubspaces).map(m => (0 until PqCodes).map(pqCodebook(m, _)))

  private def pqLit(m: Int, j: Int): Column = typedlit(pqCodebook(m, j))

  private def pqSql(m: Int, j: Int): String =
    pqCodebook(m, j).map(_.toString).mkString("[", ", ", "]")

  /** ‖c‖² as a Scala-computed double in strict left-to-right order —
    * for the LCG books it is inlined as the SAME literal into both
    * engines' argmin, never recomputed, so it cannot drift between
    * them. */
  private def pqNorm2(c: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  private def pqNorm(m: Int, j: Int): Double = pqNorm2(pqCodebook(m, j))

  /** The PQ code columns `code0..code{M-1}` for an embedding column
    * under arbitrary codebooks: per subspace, the index of the
    * L2-nearest codebook entry — argmin over `‖c‖² − 2·v_m·c` (the
    * per-row-constant `‖v_m‖²` dropped, the [[kmeansIteration]]
    * trick), first-min tie-break via array_position-of-array_min,
    * matching the oracle's list_position-of-list_min on bit-identical
    * distance values when `books` are the LCG constants. */
  private[graft] def pqCodeColsFor(
      emb: Column, books: Seq[Seq[Seq[Double]]]): Seq[Column] =
    (0 until PqSubspaces).map { m =>
      val sub = slice(emb, m * PqSubDim + 1, PqSubDim)
      val dists = array((0 until PqCodes).map { j =>
        val c = books(m)(j)
        lit(pqNorm2(c)) - lit(2.0) * PipelineOps.dot(sub, typedlit(c))
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int").as(s"code$m")
    }

  private def pqCodeCols(emb: Column): Seq[Column] =
    pqCodeColsFor(emb, defaultPqCodebooks)

  /** One Lloyd iteration over ALL [[PqSubspaces]] codebooks in a
    * SINGLE corpus pass — the per-subspace k-means q65's scaladoc
    * defers to, built so training cost does not multiply by M: each
    * vector's row explodes into M `(m, code_m, subvector)` entries
    * (a narrow generate, consumed in the same stage), and ONE
    * map-side-combined hash aggregate over the ≤ M×K = 128 group keys
    * produces every codebook's new mean. Per iteration the corpus is
    * read once and only M×K×[[PqSubDim]] doubles reach the driver —
    * [[kmeansIteration]]'s contract, M codebooks at a time. Codes
    * that attract no vectors keep their previous entry (same
    * empty-cell rule). */
  def pqKmeansIteration(
      emb: DataFrame,
      books: Seq[Seq[Seq[Double]]]): Seq[Seq[Seq[Double]]] = {
    // codes as M SEPARATE projection columns first ([[pqCodeColsFor]] —
    // the identical assign rule the encoders use), THEN a cheap struct
    // explode over column refs. Inlining the M×K distance arrays inside
    // the generate put ~12k lines into one janino method ("Code grows
    // beyond 64 KB" → interpreted fallback); as standalone projection
    // expressions the codegen splitter gives each subspace its own
    // method and the whole stage stays compiled.
    val coded = emb.select(
      col("embedding") +: pqCodeColsFor(col("embedding"), books): _*)
    val entries = (0 until PqSubspaces).map { m =>
      struct(
        lit(m).as("m"),
        col(s"code$m").as("j"),
        slice(col("embedding"), m * PqSubDim + 1, PqSubDim).as("sub"))
    }
    val aggs = (0 until PqSubDim).map(i =>
      avg(element_at(col("e.sub"), i + 1).cast("double")).as(s"c$i"))
    val rows = coded.select(explode(array(entries: _*)).as("e"))
      .groupBy(col("e.m").as("m"), col("e.j").as("j"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val updated = books.map(_.toArray).toArray
    rows.foreach { r =>
      updated(r.getInt(0))(r.getInt(1)) =
        (0 until PqSubDim).map(i => r.getDouble(i + 2))
    }
    updated.toSeq.map(_.toSeq)
  }

  /** Train the PQ codebooks: `iters` Lloyd iterations per subspace
    * from the deterministic LCG books — closing the train→build→serve
    * loop for PQ exactly as [[trainCentroids]] closed it for IVF.
    * Trained books feed [[writePqIndex]]/[[pqSearchIndex]] (and the
    * cold-start path via `_quantizer`); the oracle-checked q65–q67
    * keep the fixed books so their DuckDB twins stay constructible. */
  def trainPqCodebooks(
      emb: DataFrame, iters: Int = 5): Seq[Seq[Seq[Double]]] =
    (0 until iters).foldLeft(defaultPqCodebooks) {
      (bs, _) => pqKmeansIteration(emb, bs)
    }

  /** q65 — PQ/ADC search: the compressed exhaustive scan that completes
    * the ANN ladder (q12 brute float scan → q14 sign-LSH → q28 IVF →
    * q54/q61 SQ8 → here). Encode: every vector collapses to
    * [[PqSubspaces]] 4-bit codes (one narrow codegen'd projection).
    * Search: each probe precomputes its distance TABLE — `t_m[j] =
    * p_m · c_{m,j}`, `M × K` dot products of [[PqSubDim]] doubles, a
    * per-probe constant — and a row's approximate inner product is
    * `Σ_m t_m[code_m]`: M array lookups and adds per row, no float
    * vector ever touched (asymmetric distance computation, ADC).
    *
    * Scale shape: at 1e9 vectors the codes relation is M bytes/vector
    * (64× less scan IO than the float column); the probe relation with
    * its tables is bounded (a serving batch) and broadcast, so the scan
    * is embarrassingly parallel with NO shuffle of vector data — the
    * one exchange carries the per-probe top-k candidates. The
    * BroadcastNestedLoopJoin in the plan is the DELIBERATE all-rows ×
    * bounded-probes product every exhaustive scorer has (q12's shape),
    * not an accident — sublinearity comes from composing with q28's
    * cell pruning (scan only probed cells' codes), the standard IVF-PQ
    * stack.
    *
    * Output `adc` is the approximate inner product (MIPS convention),
    * rounded 6 for cross-engine hash stability; ranking ties break on
    * vec_id. Recall vs the exact scan is a fixture-measured property
    * (spec + bench/NOTES.md), not a correctness claim — the oracle
    * re-derives codes and ADC from the same constants, verifying the
    * implementation, q14/q28-style. */
  def q65PqAdcTopK(
      spark: SparkSession, dir: String,
      k: Int = 10, numProbes: Int = 10): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    // fan-out guard (opt round 20): the per-row encode argmin is
    // M×K×subDim dots — the PQ family's narrow CPU hot spot.
    val codes = ScaleHints.fanOutIfTiny(emb).select(
      col("vec_id") +: col("label") +: pqCodeCols(col("embedding")): _*)
    val probes = emb.filter($"vec_id" < numProbes)
      .select(
        col("vec_id").as("probe_id") +:
        (0 until PqSubspaces).map { m =>
          val sub = slice(col("embedding"), m * PqSubDim + 1, PqSubDim)
          array((0 until PqCodes).map(j =>
            PipelineOps.dot(sub, pqLit(m, j))): _*).as(s"t$m")
        }: _*)
    val adc = round(
      (0 until PqSubspaces)
        .map(m => element_at(col(s"t$m"), col(s"code$m") + 1))
        .reduce(_ + _), 6)
    val byProbe = Window.partitionBy($"probe_id").orderBy($"adc".desc, $"vec_id")
    codes.crossJoin(broadcast(probes))
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(byProbe))
      .filter($"rank" <= k)
      .select($"probe_id", $"vec_id", $"label", $"adc", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** DuckDB oracle for [[q65PqAdcTopK]] — identical codebook constants,
    * encode argmin, distance tables, and ADC sum (left-associated in
    * the same subspace order both engines). */
  def q65OracleSql(k: Int = 10, numProbes: Int = 10): String = {
    def distList(m: Int, v: String): String =
      (0 until PqCodes).map { j =>
        s"${pqNorm(m, j)} - 2.0 * list_dot_product($v[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}], ${pqSql(m, j)})"
      }.mkString("[\n             ", ",\n             ", "]")
    val codeExprs = (0 until PqSubspaces).map { m =>
      s"""list_position(${distList(m, "e")},
         |           list_aggregate(${distList(m, "e")}, 'min')) - 1 AS code$m"""
        .stripMargin
    }.mkString(",\n         ")
    val tExprs = (0 until PqSubspaces).map { m =>
      val dots = (0 until PqCodes).map(j =>
        s"list_dot_product(pe[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}], ${pqSql(m, j)})")
      dots.mkString("[\n             ", ",\n             ", s"] AS t$m")
    }.mkString(",\n         ")
    val adcSum = (0 until PqSubspaces)
      .map(m => s"t$m[code$m + 1]").mkString(" + ")
    s"""WITH b0 AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
       |), enc AS (
       |  SELECT vec_id, label,
       |         $codeExprs
       |  FROM b0
       |), pt AS (
       |  SELECT vec_id AS probe_id,
       |         $tExprs
       |  FROM (SELECT vec_id, e AS pe FROM b0 WHERE vec_id < $numProbes)
       |), s AS (
       |  SELECT probe_id, vec_id, label,
       |         round($adcSum, 6) AS adc
       |  FROM enc CROSS JOIN pt
       |), r AS (
       |  SELECT probe_id, vec_id, label, adc,
       |         row_number() OVER (PARTITION BY probe_id
       |                            ORDER BY adc DESC, vec_id) AS rank
       |  FROM s
       |)
       |SELECT probe_id, vec_id, label, adc, rank FROM r WHERE rank <= $k
       |ORDER BY probe_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q66

  /** The [[PqSubspaces]] 4-bit codes packed into ONE int column —
    * `Σ_m code_m << 4m`. 4 bytes/vector where the float column is 256:
    * the 64× stored-representation shrink the q65 scaladoc promises is
    * only real once codes are what's on disk (q61's argument, one level
    * denser). Subspace 7's code occupies the sign nibble — harmless:
    * [[pqUnpack]] masks after the arithmetic shift. */
  private def pqPack(codeCols: Seq[Column]): Column =
    codeCols.zipWithIndex
      .map { case (c, m) => shiftleft(c, 4 * m) }
      .reduce(_ bitwiseOR _)

  /** Inverse of [[pqPack]]: `(packed >> 4m) & 15`, one narrow
    * codegen'd expression per subspace — unpacking happens in-plan at
    * scan time, no intermediate array materialized. */
  private def pqUnpack(packed: Column, m: Int): Column =
    shiftright(packed, 4 * m).bitwiseAND(lit(15))

  /** Persist the PQ index: `(vec_id, label, packed int)` — NO float
    * column in the table, so the serving scan physically cannot read
    * embeddings — plus the codebooks under `path/_quantizer`
    * (`(m, j, codebook array<double>)` rows, underscore-hidden from the
    * table listing; the [[writeQuantizer]] one-artifact rule: index and
    * codebooks travel together and cannot drift). Build is one corpus
    * pass, a narrow codegen'd projection. */
  def writePqIndex(
      emb: DataFrame, path: String,
      books: Seq[Seq[Seq[Double]]] = defaultPqCodebooks): Unit = {
    val spark = emb.sparkSession
    // fan-out guard (opt round 20): same encode argmin as q65's scan.
    ScaleHints.fanOutIfTiny(emb).select(col("vec_id"), col("label"),
        pqPack(pqCodeColsFor(col("embedding"), books)).as("packed"))
      .withColumn("gen", lit(1L))
      .write.partitionBy("gen").mode("overwrite").parquet(path)
    writePqBooks(spark, books, path)
    GenerationManifest.commit(path, 1L, 1L,
      wms = Map(1L -> vecIdRange(emb)))
  }

  /** The full PQ train→build loop: train codebooks on the corpus,
    * persist codes + trained quantizer as one artifact — the PQ twin
    * of [[trainAndWriteIvf]]. Returns the books for a caller serving
    * warm; cold starts reload them via [[readPqQuantizer]]. */
  def trainAndWritePq(
      emb: DataFrame, path: String, iters: Int = 5): Seq[Seq[Seq[Double]]] = {
    val books = trainPqCodebooks(emb, iters)
    writePqIndex(emb, path, books)
    books
  }

  /** Incrementally MAINTAIN the PQ index — [[appendIvfIndex]]'s
    * daily-delta contract for the packed-code table: encode the delta
    * with the index's OWN persisted codebooks (reloaded from
    * `path/_quantizer`, so old and new rows share one code geometry
    * by construction) and append. One narrow delta-sized projection;
    * base rows are never read or rewritten, and [[pqSearchIndex]]
    * picks the new rows up immediately (append ≡ rebuild with the
    * same books, spec-pinned). Drift limit: the codebooks stay those
    * trained on the base distribution — appended vectors from a
    * drifted distribution still encode to their NEAREST entry (argmin
    * is total, nothing saturates), but quantization error grows until
    * a scheduled retrain+rebuild; the quantizer-versioning any
    * production PQ deployment runs. */
  def appendPqIndex(delta: DataFrame, path: String): Unit = {
    val st = GenerationManifest.state(path)
    val (lo, hi) = (st.lo, st.hi)
    GenerationManifest.purgeOutside(path, AnnIndexRoots, lo, hi)
    // idempotent per vec_id (round 18 — appendIvfIndex's discipline)
    val (kept, keptRange, release) = keptVecDelta(st, delta, path)
    try {
      if (keptRange._1 > keptRange._2) return
      val eps = GenerationManifest.epochs(path)
      val booksArr = readPqQuantizer(delta.sparkSession,
        quantizerRootAt(path, eps, hi))
      val books = booksArr.map(_.map(_.toSeq).toSeq).toSeq
      kept.select(col("vec_id"), col("label"),
          pqPack(pqCodeColsFor(col("embedding"), books)).as("packed"))
        .withColumn("gen", lit(hi + 1))
        .write.partitionBy("gen").mode("append").parquet(path)
      // fenced on the operation-start token (round 19)
      GenerationManifest.amend(path, Some(st.seq))(s =>
        s.copy(hi = hi + 1, wms = s.wms + ((hi + 1) -> keptRange)))
      ()
    } finally release()
  }

  /** RETRAIN the PQ codebooks — [[retrainIvfPq]]'s epoch protocol for
    * the flat packed-code family: Lloyd-retrain on `trainSample`
    * (default: `emb`), re-encode ALL of `emb` as one complete snapshot
    * at `gen = hi+1`, persist the new codebooks under
    * `_epochs/gen=hi+1`, commit rows + epoch record + quantizer with
    * one rename. Serving resolves books per generation via
    * [[pqBooksAt]]; pre-retrain history replays with the books that
    * encoded it. */
  def retrainPqIndex(
      emb: DataFrame, path: String, iters: Int = 5,
      trainSample: Option[DataFrame] = None): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val st0 = GenerationManifest.state(path)
    val (lo, hi) = (st0.lo, st0.hi)
    GenerationManifest.purgeOutside(path, AnnIndexRoots, lo, hi)
    val books = trainPqCodebooks(trainSample.getOrElse(emb), iters)
    writePqBooks(spark, books, s"$path/_epochs/gen=${hi + 1}")
    emb.select(col("vec_id"), col("label"),
        pqPack(pqCodeColsFor(col("embedding"), books)).as("packed"))
      .withColumn("gen", lit(hi + 1))
      .write.partitionBy("gen").mode("append").parquet(path)
    // fenced on the operation-start token (round 19)
    GenerationManifest.amend(path, Some(st0.seq))(s =>
      s.copy(hi = hi + 1, epochBases = s.epochBases :+ (hi + 1),
        // the epoch snapshot re-encodes (and thus seals) every id
        wms = s.wms + ((hi + 1) -> vecIdRange(emb))))
    ()
  }

  /** The codebooks GOVERNING generation `asOfGen` (default: the head)
    * — the epoch-aware sibling of [[readPqQuantizer]], and the books a
    * caller must pass to [[pqSearchIndex]] for that as-of point: the
    * largest epoch base at or below the resolved generation, or the
    * flat build-time books when no retrain precedes it. */
  def pqBooksAt(
      spark: SparkSession, path: String,
      asOfGen: Long = Long.MaxValue): Array[Array[Array[Double]]] = {
    val (_, g) = GenerationManifest.windowAt(path, asOfGen)
    readPqQuantizer(spark,
      quantizerRootAt(path, GenerationManifest.epochs(path), g))
  }

  /** Reload the PQ codebooks persisted by [[writePqIndex]] — the
    * cold-start half: after this, [[pqSearchIndex]] needs nothing but
    * the path and the probe vectors. Bit-exact round trip (doubles
    * through parquet, no re-derivation). */
  def readPqQuantizer(spark: SparkSession, path: String): Array[Array[Array[Double]]] = {
    import spark.implicits._
    // explicit sidecar schema (opt round 21): [[writePqBooks]]'s fixed
    // layout — skips the footer-inference job per cold serve.
    booksOf(spark.read.schema(PqBooksSchema)
      .parquet(s"$path/_quantizer")
      .select($"m", $"j", $"codebook").collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))))
  }

  /** [[writePqBooks]]'s `(m, j, codebook)` layout, pinned. */
  private val PqBooksSchema = "m INT, j INT, codebook ARRAY<DOUBLE>"

  /** The M×K codebook array from collected `(m, j, codebook)` triples. */
  private def booksOf(
      entries: Seq[(Int, Int, Seq[Double])]): Array[Array[Array[Double]]] = {
    val books = Array.ofDim[Array[Double]](PqSubspaces, PqCodes)
    entries.foreach { case (m, j, cb) => books(m)(j) = cb.toArray }
    books
  }

  /** Search the PERSISTED PQ index: per-probe ADC distance tables are
    * computed DRIVER-side from the reloaded codebooks (M×K dots of
    * [[PqSubDim]] doubles per probe — the coarse, bounded work every
    * ADC serving path does before touching storage; same strict
    * left-to-right fold as the in-plan [[graft.functions.DotProduct]],
    * bit for bit), broadcast with the probe ids, and the scan scores
    * each packed row as [[PqSubspaces]] unpack-lookup-adds. With the
    * same codebooks and probes this returns row-for-row what the
    * in-plan [[q65PqAdcTopK]] returns (q66's oracle IS q65's) — the
    * difference is what the scan reads: a 4-byte column. */
  def pqSearchIndex(
      spark: SparkSession,
      path: String,
      probes: Seq[(Long, Seq[Double])],
      books: Array[Array[Array[Double]]],
      k: Int = 10,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    val tables = probes.map { case (id, e) =>
      val t = Array.tabulate(PqSubspaces, PqCodes) { (m, j) =>
        val c = books(m)(j)
        var s = 0.0; var i = 0
        while (i < c.length) { s += e(m * PqSubDim + i) * c(i); i += 1 }
        s
      }
      (id, t.map(_.toSeq).toSeq)
    }
    val probesDf = tables.map { case (id, t) => (id, t) }
      .toDF("probe_id", "t")
    // asOfGen: serve the codes as they stood at that committed head,
    // floored at the governing retrain epoch (rows below it were
    // re-encoded into its snapshot). On an EPOCHED store the caller's
    // `books` must be the governing epoch's — require it (a
    // cold-start that followed readPqQuantizer's flat-path recipe
    // after a retrain would otherwise score epoch codes with dead
    // books: wrong rankings, no error); the compare is the bounded
    // M×K×subDim table, exact doubles through parquet.
    val (winLo0, winG) = GenerationManifest.windowAt(path, asOfGen)
    val eps = GenerationManifest.epochs(path)
    val winLo = epochFloor(eps, winLo0, winG)
    if (eps.nonEmpty) {
      val govern = readPqQuantizer(spark, quantizerRootAt(path, eps, winG))
      require(books.flatten.flatten.toSeq == govern.flatten.flatten.toSeq,
        s"the supplied codebooks do not govern generation $winG of the " +
          s"retrained store at $path — load them with pqBooksAt(path, asOfGen)")
    }
    val codes = spark.read.parquet(path).filter($"gen".between(winLo, winG))
    val adc = round(
      (0 until PqSubspaces)
        .map(m => element_at(element_at($"t", m + 1),
          pqUnpack($"packed", m) + 1))
        .reduce(_ + _), 6)
    val byProbe = Window.partitionBy($"probe_id").orderBy($"adc".desc, $"vec_id")
    codes.crossJoin(broadcast(probesDf))
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(byProbe))
      .filter($"rank" <= k)
      .select($"probe_id", $"vec_id", $"label", $"adc", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** q66 — the q65 search routed through the on-disk packed-code table
    * (the q61-for-q54 pattern): build [[writePqIndex]] into a temp
    * dir, reload the quantizer, serve with [[pqSearchIndex]]. Oracle
    * identical to q65 by construction; the physical difference — the
    * scan reads one int per vector and the floats never leave storage
    * (except the bounded probe reads) — is the point, asserted in the
    * spec. Rebuilt per call (fixture scale); a deployment encodes once
    * and serves many. */
  def q66PqIndexed(
      spark: SparkSession, dir: String,
      k: Int = 10, numProbes: Int = 10): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val path = tempIndexDir("graft-pq-index")
    writePqIndex(emb, path)
    val books = readPqQuantizer(spark, path)
    val probes = emb.filter($"vec_id" < numProbes)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .toSeq
    pqSearchIndex(spark, path, probes, books, k)
  }

  // ---------------------------------------------------------------- q67

  /** q67 — IVF-PQ: the composition the q28 and q65 scaladocs both point
    * at, and the endpoint of the ANN ladder — the FAISS `IVFx,PQy`
    * serving stack. q65's ADC scan is exhaustive (every row scores);
    * q28's cell pruning is sublinear but scores full float vectors.
    * Composed, a probe touches only its [[NumProbedCells]] best cells
    * AND scores each candidate from its [[PqSubspaces]] 4-bit codes —
    * sublinear candidate count × constant bytes per candidate, which is
    * why this exact composition is the production default at 1e9+
    * vectors.
    *
    * Plan shape: ONE narrow codegen'd projection assigns the cell
    * ([[assignCells]], q28's rule verbatim) and encodes the codes
    * ([[pqCodeCols]], q65's rule verbatim) — the float vector is read
    * once and never shuffled; the probe side (probe ids × probed cells,
    * with each probe's M×K ADC tables riding along) is bounded by the
    * serving batch and broadcast; candidates = equi-join on `cell`; the
    * only exchange carries per-probe top-k rows. At scale the encode
    * projection is the BUILD (persist it cell-partitioned — compose
    * [[writeIvfIndex]]'s layout with [[writePqIndex]]'s packed column —
    * and the join becomes a partition-pruned scan of 4-byte rows in
    * nprobe of nlist directories; q50 and q66 each demonstrate half of
    * that storage story).
    *
    * Codebook caveat, inherited from q65: these codebooks quantize the
    * RAW vector. A production IVF-PQ encodes the residual `v −
    * centroid(cell)` (codebooks then model the within-cell distribution,
    * one codebook set shared across cells), and its ADC tables are
    * per-(probe, cell): `t_m[j] = p_m · c_{m,j}` plus the cell's
    * `p · centroid` offset — bounded extra work (nprobe × M × K dots),
    * same plan shape. With the fixture's untrained constants the
    * residual form would change recall only by noise, so the simpler
    * raw-vector form keeps the oracle construction shared verbatim with
    * q65 (same `enc`/`pt` CTEs) while the operator shape — assign,
    * encode, prune, ADC — is the real product.
    *
    * Output matches q65's schema; ranking ties break on vec_id; recall
    * vs the exact scan is a fixture-measured property (spec), not a
    * correctness claim — the oracle re-derives cells, codes, and ADC
    * from the same constants (q14/q28/q65's implementation-verifying
    * pattern). */
  def q67IvfPqTopK(
      spark: SparkSession, dir: String,
      k: Int = 10, numProbes: Int = 10,
      probedCells: Int = NumProbedCells): DataFrame = {
    import spark.implicits._
    val centroids = (0 until NumCells)
      .map(c => (0 until Dim).map(centroidComponent(c, _)))
    val emb = assignCells(Tables.embeddings(spark, dir), centroids)
    val codes = emb.select(
      col("vec_id") +: col("label") +: col("cell") +:
        pqCodeCols(col("embedding")): _*)
    val byBest = sort_array(array((0 until NumCells).map(c =>
      struct((-$"dots" (c)).as("nd"), lit(c).as("cell"))): _*))
    val probes = emb
      .filter($"vec_id" < numProbes)
      .select(
        $"vec_id".as("probe_id") +:
          explode(transform(slice(byBest, 1, probedCells), s => s("cell")))
            .as("cell") +:
          (0 until PqSubspaces).map { m =>
            val sub = slice(col("embedding"), m * PqSubDim + 1, PqSubDim)
            array((0 until PqCodes).map(j =>
              PipelineOps.dot(sub, pqLit(m, j))): _*).as(s"t$m")
          }: _*)
    val adc = round(
      (0 until PqSubspaces)
        .map(m => element_at(col(s"t$m"), col(s"code$m") + 1))
        .reduce(_ + _), 6)
    val byProbe = Window.partitionBy($"probe_id").orderBy($"adc".desc, $"vec_id")
    codes.join(broadcast(probes), "cell")
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(byProbe))
      .filter($"rank" <= k)
      .select($"probe_id", $"vec_id", $"label", $"adc", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** DuckDB oracle for [[q67IvfPqTopK]] — q28's cell/probed-cell CTEs
    * and q65's encode/table CTEs, joined on `cell`: identical centroid
    * and codebook constants, assignment argmax, encode argmin, and
    * same-order ADC sum. */
  def q67OracleSql(
      k: Int = 10, numProbes: Int = 10,
      probePred: Option[String] = None): String = {
    val pPred = probePred.getOrElse(s"vec_id < $numProbes")
    val dotsList = (0 until NumCells)
      .map(c => s"list_dot_product(e, ${centroidSql(c)})")
      .mkString("[\n           ", ",\n           ", "]")
    def distList(m: Int, v: String): String =
      (0 until PqCodes).map { j =>
        s"${pqNorm(m, j)} - 2.0 * list_dot_product($v[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}], ${pqSql(m, j)})"
      }.mkString("[\n             ", ",\n             ", "]")
    val codeExprs = (0 until PqSubspaces).map { m =>
      s"""list_position(${distList(m, "e")},
         |           list_aggregate(${distList(m, "e")}, 'min')) - 1 AS code$m"""
        .stripMargin
    }.mkString(",\n         ")
    val tExprs = (0 until PqSubspaces).map { m =>
      val dots = (0 until PqCodes).map(j =>
        s"list_dot_product(pe[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}], ${pqSql(m, j)})")
      dots.mkString("[\n             ", ",\n             ", s"] AS t$m")
    }.mkString(",\n         ")
    val adcSum = (0 until PqSubspaces)
      .map(m => s"t$m[code$m + 1]").mkString(" + ")
    s"""WITH b0 AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
       |), d0 AS (
       |  SELECT vec_id, label, e,
       |         $dotsList AS dots
       |  FROM b0
       |), a AS (
       |  SELECT vec_id, label, e,
       |         list_position(dots, list_aggregate(dots, 'max')) - 1 AS cell
       |  FROM d0
       |), enc AS (
       |  SELECT vec_id, label, cell,
       |         $codeExprs
       |  FROM a
       |), pc AS (
       |  SELECT vec_id AS probe_id, dots,
       |         unnest(generate_series(0, ${NumCells - 1})) AS cell
       |  FROM d0 WHERE $pPred
       |), p AS (
       |  SELECT probe_id, cell FROM (
       |    SELECT probe_id, cell,
       |           row_number() OVER (PARTITION BY probe_id
       |                              ORDER BY dots[cell + 1] DESC, cell) AS rn
       |    FROM pc)
       |  WHERE rn <= $NumProbedCells
       |), pt AS (
       |  SELECT vec_id AS probe_id,
       |         $tExprs
       |  FROM (SELECT vec_id, e AS pe FROM b0 WHERE $pPred)
       |), s AS (
       |  SELECT p.probe_id, enc.vec_id, enc.label,
       |         round($adcSum, 6) AS adc
       |  FROM enc JOIN p USING (cell) JOIN pt ON pt.probe_id = p.probe_id
       |), r AS (
       |  SELECT probe_id, vec_id, label, adc,
       |         row_number() OVER (PARTITION BY probe_id
       |                            ORDER BY adc DESC, vec_id) AS rank
       |  FROM s
       |)
       |SELECT probe_id, vec_id, label, adc, rank FROM r WHERE rank <= $k
       |ORDER BY probe_id, rank""".stripMargin
  }

  // ------------------------------------- persisted IVF-PQ index (composed)

  /** Persist the COMPOSED IVF-PQ index — the storage story q67's
    * scaladoc promises ("persist it cell-partitioned … and the join
    * becomes a partition-pruned scan of 4-byte rows in nprobe of
    * nlist directories"), of which q50 (cell partitioning) and q66
    * (packed codes) each demonstrated half. Layout: `(vec_id, label,
    * packed int)` under `cell=*` directories; BOTH quantizers travel
    * with the index (`_quantizer` = coarse centroids, readable by
    * [[readQuantizer]]; `_pq/_quantizer` = codebooks, readable by
    * [[readPqQuantizer]]`(path + "/_pq")`; `_meta` = the residual
    * flag), so a cold start needs nothing but the path — the
    * one-artifact rule, now for a three-part quantizer state.
    *
    * `residual = true` encodes `v − centroid(cell)` instead of the
    * raw vector — the production IVF-PQ form: codebooks then model
    * the WITHIN-cell distribution (one codebook set shared across
    * cells), which is what makes 4-bit codes accurate once the coarse
    * quantizer has soaked up the between-cell variance. The encode
    * stays one narrow codegen'd projection (the centroid ride in as a
    * k×Dim literal, `zip_with` subtracts in-plan); search adds the
    * per-(probe, cell) constant `p · centroid` back into the ADC sum
    * ([[ivfPqSearchIndex]]) — bounded extra work, same plan shape. */
  def writeIvfPqIndex(
      emb: DataFrame,
      path: String,
      centroids: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]],
      residual: Boolean = false): Unit = {
    val spark = emb.sparkSession
    encodeForIndex(assignCells(emb, centroids), centroids, books, residual)
      .withColumn("gen", lit(1L))
      .repartition(col("cell"))
      .write.partitionBy("gen", "cell").mode("overwrite").parquet(path)
    GenerationManifest.commit(path, 1L, 1L,
      wms = Map(1L -> vecIdRange(emb)))
    writeIvfPqSidecars(spark, centroids, books, residual, path)
  }

  /** The composed index's three-part quantizer state under `root`:
    * coarse centroids (`_quantizer`), codebooks (`_pq/_quantizer`),
    * residual flag (`_meta`). `root` is the index path for the
    * build-time quantizers, `path/_epochs/gen=N` for a retrain
    * epoch's (the underscore keeps the epoch tree invisible to
    * `spark.read.parquet(path)`'s partition discovery, exactly as
    * `_quantizer` already relies on). */
  private def writeIvfPqSidecars(
      spark: SparkSession,
      centroids: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]],
      residual: Boolean,
      root: String): Unit = {
    import spark.implicits._
    writeQuantizer(spark, centroids, root)
    writePqBooks(spark, books, s"$root/_pq")
    Seq(Tuple1(residual)).toDF("residual")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$root/_meta")
  }

  /** Load [[writeIvfPqSidecars]]'s three-part quantizer state under
    * `root` in ONE Spark job: the three pinned-schema sidecar reads
    * union into one tagged relation `(part, a, b, v, flag)` that is
    * collected once (three collects cost three jobs per serve and per
    * append). Returns the coarse centroids, the codebooks and the
    * residual flag, decoded as [[readQuantizer]] and
    * [[readPqQuantizer]] decode them. */
  private def readIvfPqSidecars(spark: SparkSession, root: String)
      : (Seq[Seq[Double]], Array[Array[Array[Double]]], Boolean) = {
    def tagged(part: Int, a: Column, b: Column, v: Column, flag: Column) =
      Seq(lit(part).as("part"), a.as("a"), b.as("b"), v.as("v"),
        flag.as("flag"))
    val rows = spark.read.schema(QuantizerSchema).parquet(s"$root/_quantizer")
      .select(tagged(0, col("cell"), lit(0), col("centroid"), lit(false)): _*)
      .unionByName(spark.read.schema(PqBooksSchema)
        .parquet(s"$root/_pq/_quantizer")
        .select(tagged(1, col("m"), col("j"), col("codebook"), lit(false)): _*))
      .unionByName(spark.read.schema("residual BOOLEAN")
        .parquet(s"$root/_meta")
        .select(tagged(2, lit(0), lit(0),
          lit(null).cast("array<double>"), col("residual")): _*))
      .collect().toSeq
    def part(p: Int) = rows.filter(_.getInt(0) == p)
    (centroidsOf(part(0).map(r => (r.getInt(1), r.getSeq[Double](3)))),
      booksOf(part(1).map(r => (r.getInt(1), r.getInt(2), r.getSeq[Double](3)))),
      part(2).head.getBoolean(4))
  }

  /** The PQ codebook sidecar layout `(m, j, codebook)` under
    * `root/_quantizer` — ONE definition for the flat PQ build/retrain
    * and the composed index's `_pq` sidecar, so
    * [[readPqQuantizer]]'s round-trip contract has a single writer to
    * agree with. */
  private def writePqBooks(
      spark: SparkSession, books: Seq[Seq[Seq[Double]]],
      root: String): Unit = {
    import spark.implicits._
    (for (m <- 0 until PqSubspaces; j <- 0 until PqCodes)
      yield (m, j, books(m)(j)))
      .toDF("m", "j", "codebook")
      .coalesce(1) // M×K×subDim doubles — one tiny file
      .write.mode("overwrite").parquet(s"$root/_quantizer")
  }

  /** The (residual) training input for the composed index's codebook
    * trainer — shared VERBATIM by [[trainIvfPq]] and [[retrainIvfPq]]:
    * the identity-retrain theorem (retrain on identical data ≡ train)
    * depends on the two paths staying bit-identical. */
  private def residualTrainInput(
      sample: DataFrame, centroids: Seq[Seq[Double]],
      residual: Boolean): DataFrame =
    if (residual)
      assignCells(sample, centroids).select(
        zip_with(col("embedding"),
          element_at(typedlit(centroids.map(_.toSeq)), col("cell") + 1),
          (x, c) => x.cast("double") - c).as("embedding"))
    else sample

  /** Quantizer sidecar ROOT serving generation `g`: the largest
    * committed epoch base ≤ g (its `_epochs/gen=E` directory), or the index
    * path itself when no retrain precedes g — the build-time flat
    * sidecars, which a retrain never touches, so pre-retrain history
    * stays addressable with the quantizers that encoded it. */
  private def quantizerRootAt(path: String, eps: Seq[Long], g: Long): String =
    eps.filter(_ <= g).lastOption
      .map(e => s"$path/_epochs/gen=$e").getOrElse(path)

  /** The generation floor a serve at `g` scans from: rows below the
    * governing epoch base were re-encoded INTO its snapshot (reading
    * them too would double-count vectors under the wrong codebooks). */
  private def epochFloor(eps: Seq[Long], winLo: Long, g: Long): Long =
    math.max(winLo, eps.filter(_ <= g).lastOption.getOrElse(winLo))

  /** The full IVF-PQ train→build loop: Lloyd-train the coarse
    * centroids, then train the codebooks ON THE RESIDUALS those
    * centroids leave (when `residual` — training on what the codes
    * will actually encode is the point of the composition), persist
    * everything as one artifact. Returns both quantizers for a warm
    * caller. */
  def trainIvfPq(
      emb: DataFrame,
      path: String,
      ivfIters: Int = 5,
      pqIters: Int = 5,
      residual: Boolean = true): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val centroids = trainCentroids(emb, NumCells, ivfIters)
    val books = trainPqCodebooks(
      residualTrainInput(emb, centroids, residual), pqIters)
    writeIvfPqIndex(emb, path, centroids, books, residual)
    (centroids, books)
  }

  /** Search the PERSISTED composed index: the coarse step runs
    * driver-side from the reloaded quantizers ([[probeCells]] picks
    * each probe's cells; the M×K ADC tables and — for a residual
    * index — the per-(probe, cell) `p · centroid` offset are computed
    * per probed cell), the scan PRUNES to the probed cell directories
    * (`cell IN (...)` partition filter — nprobe of nlist directories
    * of 4-byte rows, the q50 × q66 composition), and each row scores
    * as M unpack-lookup-adds plus the offset. The only exchange
    * carries per-probe top-k rows. With `residual = false` and the
    * same constants this returns row-for-row what the in-plan
    * [[q67IvfPqTopK]] returns (spec-pinned) — same driver/in-plan
    * bit-identity contract as [[pqSearchIndex]]. */
  def ivfPqSearchIndex(
      spark: SparkSession,
      path: String,
      probes: Seq[(Long, Seq[Double])],
      k: Int = 10,
      numProbedCells: Int = NumProbedCells,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    // resolve the GOVERNING EPOCH first: a retrained index serves with
    // the quantizers of the largest epoch base at or below the asked-of
    // generation — the flat build-time sidecars when none precedes it
    val (winLo0, winHi) = GenerationManifest.windowAt(path, asOfGen)
    val eps = GenerationManifest.epochs(path)
    val qRoot = quantizerRootAt(path, eps, winHi)
    val winLo = epochFloor(eps, winLo0, winHi)
    val (centroids, books, residual) = readIvfPqSidecars(spark, qRoot)
    val probeRows = probes.flatMap { case (id, e) =>
      probeCells(e, centroids, numProbedCells).map { c =>
        val cent = centroids(c)
        var off = 0.0
        if (residual) {
          var i = 0
          while (i < e.length) { off += e(i) * cent(i); i += 1 }
        }
        val t = Array.tabulate(PqSubspaces, PqCodes) { (m, j) =>
          val cb = books(m)(j)
          var s = 0.0; var i = 0
          while (i < cb.length) { s += e(m * PqSubDim + i) * cb(i); i += 1 }
          s
        }
        (id, c, off, t.map(_.toSeq).toSeq)
      }
    }
    val wantedCells = probeRows.map(_._2).distinct.sorted
    val probesDf = probeRows.toDF("probe_id", "cell", "adc_off", "t")
    // asOfGen: serve the index as it stood at that committed head —
    // the protocol-level time travel (GenerationManifest.windowAt),
    // floored at the governing epoch base resolved above
    val idx = spark.read.parquet(path)
      .filter($"cell".isin(wantedCells: _*) && $"gen".between(winLo, winHi))
    // left-associated fold STARTING at the offset — the same grouping
    // as [[q74ResidualIvfPq]]'s in-plan sum and its oracle's `+` chain,
    // so the persisted and in-plan residual paths round identically
    val adc = round(
      ($"adc_off" +: (0 until PqSubspaces)
        .map(m => element_at(element_at($"t", m + 1),
          pqUnpack($"packed", m) + 1)))
        .reduce(_ + _), 6)
    val byProbe = Window.partitionBy($"probe_id").orderBy($"adc".desc, $"vec_id")
    idx.join(broadcast(probesDf), "cell")
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(byProbe))
      .filter($"rank" <= k)
      .select($"probe_id", $"vec_id", $"label", $"adc", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** q74 — RESIDUAL IVF-PQ: q67's composition with the encode moved
    * to `v − centroid(cell)` — the form every production IVF-PQ
    * actually ships (FAISS `IVFx,PQy` default): once the coarse
    * quantizer absorbs the between-cell variance, the codebooks only
    * model the within-cell residual distribution, which is what makes
    * 4-bit codes accurate. The ADC sum gains the per-(probe, cell)
    * constant back: `adc = p·centroid(cell) + Σ_m t_m[code_m]`, where
    * `p·centroid` is ALREADY in the probe's `dots` array from cell
    * assignment — zero extra dot products, the offset is an
    * element_at on a column the plan carries anyway.
    *
    * Plan shape is q67's verbatim: one narrow codegen'd
    * assign+subtract+encode projection (the centroids ride in as a
    * k×Dim literal; the float vector is read once and never
    * shuffled), bounded broadcast probe side, cell equi-join, one
    * per-probe top-k exchange. With the FIXED LCG constants the
    * oracle re-derives residuals, codes, tables, and the offset sum
    * from the same literals (q65/q67's implementation-verifying
    * pattern) — which is exactly why this query exists alongside
    * [[trainIvfPq]]: the TRAINED residual index (recall-measured in
    * the spec) cannot have a DuckDB twin, the fixed-constant form
    * can, and [[ivfPqSearchIndex]] on a fixed-constant residual index
    * is spec-pinned row-identical to this query — so the persisted
    * serving path is transitively oracle-verified. */
  def q74ResidualIvfPq(
      spark: SparkSession, dir: String,
      k: Int = 10, numProbes: Int = 10,
      probedCells: Int = NumProbedCells): DataFrame = {
    import spark.implicits._
    val centroids = (0 until NumCells)
      .map(c => (0 until Dim).map(centroidComponent(c, _)))
    val emb = assignCells(Tables.embeddings(spark, dir), centroids)
    val resid = zip_with(col("embedding"),
      element_at(typedlit(centroids.map(_.toSeq)), col("cell") + 1),
      (x, c) => x.cast("double") - c)
    // materialize the residual ONCE per row in its own projection:
    // inlined, the 64-dim zip_with appears inside all M×K distance
    // expressions and codegen's subexpression elimination does not
    // reach through the higher-order-function boundary — measured
    // 4.9 s inlined vs 2.2 s materialized at sf0.1 (q67 parity).
    // CollapseProject keeps the split (it refuses to duplicate
    // non-cheap aliases used many times).
    val codes = emb
      .withColumn("resid", resid)
      .select(
        col("vec_id") +: col("label") +: col("cell") +:
          pqCodeColsFor(col("resid"), defaultPqCodebooks): _*)
    val byBest = sort_array(array((0 until NumCells).map(c =>
      struct((-$"dots" (c)).as("nd"), lit(c).as("cell"))): _*))
    val probes = emb
      .filter($"vec_id" < numProbes)
      .select(
        $"vec_id".as("probe_id") +:
          explode(transform(slice(byBest, 1, probedCells), s => s("cell")))
            .as("cell") +:
          $"dots".as("pdots") +:
          (0 until PqSubspaces).map { m =>
            val sub = slice(col("embedding"), m * PqSubDim + 1, PqSubDim)
            array((0 until PqCodes).map(j =>
              PipelineOps.dot(sub, pqLit(m, j))): _*).as(s"t$m")
          }: _*)
    val adc = round(
      (element_at($"pdots", $"cell" + 1) +:
        (0 until PqSubspaces)
          .map(m => element_at(col(s"t$m"), col(s"code$m") + 1)))
        .reduce(_ + _), 6)
    val byProbe = Window.partitionBy($"probe_id").orderBy($"adc".desc, $"vec_id")
    codes.join(broadcast(probes), "cell")
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(byProbe))
      .filter($"rank" <= k)
      .select($"probe_id", $"vec_id", $"label", $"adc", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** DuckDB oracle for [[q74ResidualIvfPq]] — q67's oracle with the
    * encode CTE on the residual (`e[i] − cents[cell+1][i]`, the same
    * double arithmetic as the in-plan `zip_with`) and the probe's
    * `dots[cell+1]` offset leading the left-associated ADC sum. */
  def q74OracleSql(k: Int = 10, numProbes: Int = 10): String = {
    val centsList = (0 until NumCells).map(centroidSql)
      .mkString("[\n           ", ",\n           ", "]")
    val dotsList = (0 until NumCells)
      .map(c => s"list_dot_product(e, ${centroidSql(c)})")
      .mkString("[\n           ", ",\n           ", "]")
    def distList(m: Int, v: String): String =
      (0 until PqCodes).map { j =>
        s"${pqNorm(m, j)} - 2.0 * list_dot_product($v[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}], ${pqSql(m, j)})"
      }.mkString("[\n             ", ",\n             ", "]")
    val codeExprs = (0 until PqSubspaces).map { m =>
      s"""list_position(${distList(m, "re")},
         |           list_aggregate(${distList(m, "re")}, 'min')) - 1 AS code$m"""
        .stripMargin
    }.mkString(",\n         ")
    val tExprs = (0 until PqSubspaces).map { m =>
      val dots = (0 until PqCodes).map(j =>
        s"list_dot_product(pe[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}], ${pqSql(m, j)})")
      dots.mkString("[\n             ", ",\n             ", s"] AS t$m")
    }.mkString(",\n         ")
    val adcSum = (0 until PqSubspaces)
      .map(m => s"t$m[code$m + 1]").mkString(" + ")
    s"""WITH b0 AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
       |), d0 AS (
       |  SELECT vec_id, label, e,
       |         $dotsList AS dots
       |  FROM b0
       |), a AS (
       |  SELECT vec_id, label, e,
       |         list_position(dots, list_aggregate(dots, 'max')) - 1 AS cell
       |  FROM d0
       |), a2 AS (
       |  SELECT vec_id, label, cell,
       |         list_transform(generate_series(1, $Dim),
       |           i -> e[i] - ($centsList)[cell + 1][i]) AS re
       |  FROM a
       |), enc AS (
       |  SELECT vec_id, label, cell,
       |         $codeExprs
       |  FROM a2
       |), pc AS (
       |  SELECT vec_id AS probe_id, dots,
       |         unnest(generate_series(0, ${NumCells - 1})) AS cell
       |  FROM d0 WHERE vec_id < $numProbes
       |), p AS (
       |  SELECT probe_id, cell, dots FROM (
       |    SELECT probe_id, cell, dots,
       |           row_number() OVER (PARTITION BY probe_id
       |                              ORDER BY dots[cell + 1] DESC, cell) AS rn
       |    FROM pc)
       |  WHERE rn <= $NumProbedCells
       |), pt AS (
       |  SELECT vec_id AS probe_id,
       |         $tExprs
       |  FROM (SELECT vec_id, e AS pe FROM b0 WHERE vec_id < $numProbes)
       |), s AS (
       |  SELECT p.probe_id, enc.vec_id, enc.label,
       |         round(p.dots[p.cell + 1] + $adcSum, 6) AS adc
       |  FROM enc JOIN p ON enc.cell = p.cell
       |           JOIN pt ON pt.probe_id = p.probe_id
       |), r AS (
       |  SELECT probe_id, vec_id, label, adc,
       |         row_number() OVER (PARTITION BY probe_id
       |                            ORDER BY adc DESC, vec_id) AS rank
       |  FROM s
       |)
       |SELECT probe_id, vec_id, label, adc, rank FROM r WHERE rank <= $k
       |ORDER BY probe_id, rank""".stripMargin
  }

  /** Two-stage retrieval on PERSISTED artifacts — q70's plan served
    * from disk: stage 1 takes the shortlist from the composed
    * [[ivfPqSearchIndex]] (partition-pruned 4-byte scan), stage 2
    * reranks only those ≤ probes×shortlist ids by exact float cosine
    * against the float table — an id-keyed point-lookup join with
    * both bounded sides broadcast, never a second corpus scan. With a
    * raw-vector fixed-constant index this returns row-for-row what
    * the in-plan [[q70RerankTopK]] returns (spec-pinned), so the full
    * production serving call — cold start from nothing but an index
    * path and a float table — is transitively oracle-verified through
    * q70's DuckDB twin.
    *
    * The ≤ k·|probes| reranked rows coalesce into one partition before
    * the contract sort, so that sort needs no range exchange (and no
    * sampling job). Nothing corpus-sized lands in the one task: the
    * rerank window's input was already cut by the partial
    * `WindowGroupLimit` before its shuffle.
    *
    * The DEPLOYMENT DEFAULT is to serve from a TRAINED artifact —
    * [[q84TrainedAnnServe]] composes [[trainIvfPq]] with this serve
    * and is recall-pinned in the spec; the fixed-constant queries
    * (q67/q70/q74) exist for the DuckDB oracle, not as the
    * recommended production configuration. */
  def ivfPqServe(
      spark: SparkSession,
      indexPath: String,
      emb: DataFrame,
      probes: Seq[(Long, Seq[Double])],
      k: Int = 10,
      shortlist: Int = RerankShortlist,
      numProbedCells: Int = NumProbedCells,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    val short = ivfPqSearchIndex(spark, indexPath, probes, shortlist,
      numProbedCells, asOfGen)
      .select($"probe_id", $"vec_id")
    val probeVecs = probes.toDF("probe_id", "p_emb")
    val byProbe = Window.partitionBy($"probe_id").orderBy($"sim".desc, $"vec_id")
    emb.join(broadcast(short), "vec_id")
      .join(broadcast(probeVecs), "probe_id")
      .withColumn("sim", round(PipelineOps.cosine($"embedding", $"p_emb"), 6))
      .withColumn("rank", row_number().over(byProbe))
      .filter($"rank" <= k)
      .coalesce(1)
      .select($"probe_id", $"vec_id", $"label", $"sim", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** q84 — TRAINED-quantizer serving, the deployment default: train
    * the full IVF-PQ artifact on the corpus ([[trainIvfPq]] — Lloyd
    * coarse centroids, then codebooks trained ON THE RESIDUALS they
    * will encode) and serve the two-stage shortlist+rerank from it
    * ([[ivfPqServe]]). Round 11 measured what training buys (ADC
    * recall@10 0.21 → 0.37; bench/NOTES.md) but left the fixed-LCG
    * constants as the only serving queries, because only THOSE have a
    * DuckDB twin; this entry makes the measured gain the shipped
    * behavior.
    *
    * Oracle-EXEMPT (the q33 precedent): a trained quantizer is the
    * fixed point of float k-means iterations — engine-specific, not
    * re-derivable in SQL — so the driver records the rows-only check
    * while the spec pins the contract that matters: per-probe result
    * arity, and recall@10 against the exact brute-force scorer at or
    * above the fixed-constant serving path's on the same fixture.
    *
    * Scale shape is [[ivfPqServe]]'s unchanged (training adds
    * `ivfIters + pqIters` corpus passes at build time, amortized over
    * every serve); iteration counts are fixture-sized here, a
    * deployment tunes them at train time. */
  def q84TrainedAnnServe(
      spark: SparkSession, dir: String,
      k: Int = 10, numProbes: Int = 10,
      ivfIters: Int = 3, pqIters: Int = 3): DataFrame = {
    val path = tempIndexDir("graft-trained-serve")
    trainIvfPq(Tables.embeddings(spark, dir), path, ivfIters, pqIters)
    q84ServeTrained(spark, dir, path, k, numProbes)
  }

  /** Serve-only half of [[q84TrainedAnnServe]] against an
    * ALREADY-trained artifact at `indexPath` — the call a deployment
    * repeats per query batch, and what the bench times once the
    * per-run training phase is split out (training is a build-time
    * cost amortized over every serve; `Bench` reports it separately
    * under `phases`). Identical plan to the composed call's tail:
    * probes collect bounded by `numProbes`, then [[ivfPqServe]]'s
    * partition-pruned shortlist + broadcast rerank. */
  def q84ServeTrained(
      spark: SparkSession, dir: String, indexPath: String,
      k: Int = 10, numProbes: Int = 10): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val probes = emb.filter($"vec_id" < numProbes)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .toSeq
    ivfPqServe(spark, indexPath, emb, probes, k)
  }

  /** Incrementally MAINTAIN the composed index — the last index
    * format to get the [[appendIvfIndex]] daily-delta contract (IVF,
    * SQ8, PQ, dedup-LSH all have one): assign and encode the delta
    * with the index's OWN persisted centroids, codebooks, and
    * residual flag, then dynamic-partition-append into the existing
    * cell directories. One delta-sized shuffle on the int cell key;
    * base rows never read or rewritten; append ≡ rebuild with the
    * same quantizers (spec-pinned). Drift limits are the union of
    * [[appendIvfIndex]]'s and [[appendPqIndex]]'s — both quantizers
    * stay epoch-trained until the next scheduled [[retrainIvfPq]]
    * (round 16: the retrain+rebuild is now a PROTOCOL, not prose —
    * appends after a retrain encode with the HEAD epoch's quantizers
    * automatically). */
  def appendIvfPqIndex(delta: DataFrame, path: String): Unit =
    appendIvfPqGeneric(delta, path, sealEmpty = false)

  /** [[appendIvfPqIndex]] as a HYBRID LEG: seals a generation even
    * when the kept delta is empty (the cross-store lockstep invariant
    * — one hybrid mutation advances BOTH legs, even an
    * embeddings-empty correlated delta; an empty generation writes no
    * code files and records the known-EMPTY watermark). */
  private[graft] def appendIvfPqIndexAsLeg(
      delta: DataFrame, path: String, keptRange: (Long, Long)): Unit =
    appendIvfPqGeneric(delta, path, sealEmpty = true,
      preKept = Some(keptRange))

  private def appendIvfPqGeneric(
      delta: DataFrame, path: String, sealEmpty: Boolean,
      preKept: Option[(Long, Long)] = None): Unit = {
    val spark = delta.sparkSession
    val st = GenerationManifest.state(path)
    val (lo, hi) = (st.lo, st.hi)
    GenerationManifest.purgeOutside(path, AnnIndexRoots, lo, hi)
    // idempotent per vec_id (round 18 — appendIvfIndex's discipline);
    // preKept = the hybrid already pruned jointly (skip the prelude)
    val (kept, keptRange, release) = preKept match {
      case Some(r) => (delta, r, () => ())
      case None => keptVecDelta(st, delta, path)
    }
    try {
      val emptyKept = keptRange._1 > keptRange._2
      if (emptyKept && !sealEmpty) return
      if (!emptyKept) {
        val eps = GenerationManifest.epochs(path)
        val qRoot = quantizerRootAt(path, eps, hi)
        val (centroids, books0, residual) = readIvfPqSidecars(spark, qRoot)
        val books = books0.map(_.map(_.toSeq).toSeq).toSeq
        encodeForIndex(assignCells(kept, centroids), centroids, books,
            residual)
          .withColumn("gen", lit(hi + 1))
          .repartition(col("cell"))
          .write.partitionBy("gen", "cell").mode("append").parquet(path)
      }
      // fenced on the operation-start token (round 19)
      GenerationManifest.amend(path, Some(st.seq))(s =>
        s.copy(hi = hi + 1, wms = s.wms + ((hi + 1) -> keptRange)))
      ()
    } finally release()
  }

  /** RETRAIN the composed index's quantizers and re-encode — the
    * "scheduled retrain+rebuild" every append scaladoc in this family
    * deferred to, now a crash-atomic protocol instead of prose. Lloyd
    * re-trains coarse centroids and (residual) codebooks on
    * `trainSample` (default: `emb` itself — a deployment passes a
    * sample; k-means needs nothing more), re-encodes ALL of `emb`
    * under them as ONE complete snapshot at `gen = hi+1`, persists the
    * new quantizers under `_epochs/gen=hi+1/…`, and commits the
    * generation AS AN EPOCH BASE — serves at or past it read only the
    * snapshot (and later deltas) with the NEW quantizers, while as-of
    * reads below it keep the OLD quantizers and the old rows: the
    * build-time flat sidecars are never touched, so pre-retrain
    * history replays bit for bit (spec-pinned). Crash-atomic like
    * every family member: snapshot + epoch sidecars land outside the
    * committed window and one manifest rename publishes rows, epoch
    * record, and quantizers jointly. The rollout review between the
    * outgoing and incoming quantizers is [[quantizerDriftServed]]
    * (q119) — run it BEFORE pointing traffic at the new head. */
  def retrainIvfPq(
      emb: DataFrame,
      path: String,
      ivfIters: Int = 5,
      pqIters: Int = 5,
      trainSample: Option[DataFrame] = None): Unit = {
    val spark = emb.sparkSession
    val st0 = GenerationManifest.state(path)
    val (lo, hi) = (st0.lo, st0.hi)
    GenerationManifest.purgeOutside(path, AnnIndexRoots, lo, hi)
    val eps = st0.epochBases
    // the residual CONVENTION is index-level (search-time offsets
    // assume it): carry it across retrains from the governing epoch
    val residual = spark.read
      .parquet(s"${quantizerRootAt(path, eps, hi)}/_meta")
      .head().getBoolean(0)
    val sample = trainSample.getOrElse(emb)
    val centroids = trainCentroids(sample, NumCells, ivfIters)
    val books = trainPqCodebooks(
      residualTrainInput(sample, centroids, residual), pqIters)
    writeIvfPqSidecars(spark, centroids, books, residual,
      s"$path/_epochs/gen=${hi + 1}")
    encodeForIndex(assignCells(emb, centroids), centroids, books, residual)
      .withColumn("gen", lit(hi + 1))
      .repartition(col("cell"))
      .write.partitionBy("gen", "cell").mode("append").parquet(path)
    // fenced on the operation-start token (round 19)
    GenerationManifest.amend(path, Some(st0.seq))(s =>
      s.copy(hi = hi + 1, epochBases = s.epochBases :+ (hi + 1),
        // the epoch snapshot re-encodes (and thus seals) every id
        wms = s.wms + ((hi + 1) -> vecIdRange(emb))))
    ()
  }

  /** Retrain-split modulus for [[q119QuantizerDrift]]'s fixture: the
    * retrained quantizers train on the even-id half — q117's
    * deterministic drifted-corpus stand-in, for vectors. */
  val QuantRetrainMod = 2

  /** The QUANTIZER-DRIFT review between two generations of a composed
    * index — q117's rollout question asked of [[retrainIvfPq]]: what
    * would flipping traffic to the retrained epoch change? One row:
    *
    *   - `n_vecs`, `n_flipped` — corpus size and how many vectors the
    *     OLD and NEW coarse quantizers assign to different cells (the
    *     structural magnitude of the retrain), computed in ONE narrow
    *     codegen'd pass — both centroid sets ride in as literals, the
    *     corpus scans once, zero joins (the q117 shape for vectors);
    *   - `recall_old_ppm`, `recall_new_ppm` — recall@k of the FULL
    *     two-stage serve ([[ivfPqServe]]) at each generation against
    *     the exact brute-force cosine top-k on the same probe set —
    *     the number that decides the flip. Probe set, exact truth,
    *     and both served legs are all ≤ probes×k rows: the documented
    *     bounded-driver-reduction class.
    *
    * Oracle-EXEMPT like q84 (trained k-means fixed points are not
    * re-derivable in SQL); the spec pins the contracts that matter —
    * as-of replay across the retrain, append ≡ rebuild under the NEW
    * quantizers, and the drift fixture being non-vacuous. */
  def quantizerDriftServed(
      spark: SparkSession, dir: String, indexPath: String,
      oldGen: Long = -1L, newGen: Long = Long.MaxValue,
      k: Int = 10, numProbes: Int = 10): DataFrame = {
    import spark.implicits._
    val (lo, hi) = GenerationManifest.window(indexPath)
    val og = if (oldGen >= 0) oldGen else hi - 1
    val ng = math.min(newGen, hi)
    require(og >= lo,
      s"drift needs two addressable generations (window [$lo, $hi])")
    require(og <= hi,
      s"oldGen=$og is beyond the committed head $hi at $indexPath")
    require(og != ng,
      s"drift between generation $og and itself is vacuously zero — " +
        s"pass two distinct generations (window [$lo, $hi])")
    val eps = GenerationManifest.epochs(indexPath)
    val cOld = readQuantizer(spark, quantizerRootAt(indexPath, eps, og))
    val cNew = readQuantizer(spark, quantizerRootAt(indexPath, eps, ng))
    val emb = Tables.embeddings(spark, dir)
    def cellOf(cs: Seq[Seq[Double]]): Column = {
      // assignCells' argmax expression verbatim, twice in one pass
      val dots = array(cs.map(c =>
        PipelineOps.dot(col("embedding"), typedlit(c))): _*)
      (array_position(dots, array_max(dots)) - 1).cast("int")
    }
    val probes = emb.filter($"vec_id" < numProbes)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .toSeq
    require(probes.nonEmpty,
      s"no probe vectors with vec_id < $numProbes in $dir — the recall " +
        "legs would divide by an empty ground truth")
    // exact cosine ground truth: probes ride in as one literal array,
    // the corpus expands through a generator (no join), per-probe
    // top-k through one window — output bounded at probes×k
    val byProbe = Window.partitionBy($"probe_id")
      .orderBy($"sim".desc, $"vec_id")
    // OVERLAPPED independent legs (opt round 21, guide §2.6 "overlap
    // independent jobs"): the exact ground truth and the two served
    // top-k reads share nothing until the driver-side set intersect,
    // and each leaves most cores idle in its tail — three driver
    // threads let the scheduler back-fill. Results are sets; the
    // assembly is order-independent, so rows are unchanged.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    def onSession[T](f: => T): Future[T] = Future {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      f
    }
    val exactF = onSession {
      ScaleHints.fanOutIfTiny(emb)
        .select($"vec_id", $"embedding", explode(typedlit(probes)).as("p"))
        .select($"p._1".as("probe_id"), $"vec_id",
          round(PipelineOps.cosine($"embedding", $"p._2"), 6).as("sim"))
        .withColumn("rank", row_number().over(byProbe))
        .filter($"rank" <= k)
        .select($"probe_id", $"vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def servedF(g: Long): Future[Set[(Long, Long)]] = onSession {
      ivfPqServe(spark, indexPath, emb, probes, k, asOfGen = g)
        .select($"probe_id", $"vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val (oldF, newF) = (servedF(og), servedF(ng))
    val exactIds =
      Await.result(exactF, scala.concurrent.duration.Duration.Inf)
    def recallPpm(served: Set[(Long, Long)]): Long =
      served.intersect(exactIds).size.toLong * 1000000L / exactIds.size
    val rOld =
      recallPpm(Await.result(oldF, scala.concurrent.duration.Duration.Inf))
    val rNew =
      recallPpm(Await.result(newF, scala.concurrent.duration.Duration.Inf))
    // fan-out guard (opt round 20): the flip count evaluates BOTH
    // epochs' assignment argmaxes per row — 2·k·Dim dots of narrow CPU.
    ScaleHints.fanOutIfTiny(emb)
      .select(cellOf(cOld).as("c1"), cellOf(cNew).as("c2"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when($"c1" =!= $"c2", 1L).otherwise(0L)).as("n_flipped"))
      .select($"n_vecs", $"n_flipped",
        lit(rOld).as("recall_old_ppm"), lit(rNew).as("recall_new_ppm"))
  }

  /** q119 — QUANTIZER RETRAIN + DRIFT end to end: train the composed
    * IVF-PQ artifact (generation 1, the q84 build), RETRAIN its
    * quantizers on the even-id half ([[QuantRetrainMod]] — the
    * drifted-corpus stand-in) which re-encodes the corpus as epoch
    * generation 2, and report [[quantizerDriftServed]]'s review
    * between the two — the table a deployment reads before flipping
    * traffic to a retrained quantizer, closing the r15 gap ("both
    * quantizers stay base-trained until a scheduled retrain+rebuild"
    * had no protocol). Like q84: rows-only (trained floats), recall
    * and replay contracts spec-pinned. */
  def q119QuantizerDrift(
      spark: SparkSession, dir: String,
      ivfIters: Int = 3, pqIters: Int = 3): DataFrame = {
    val path = tempIndexDir("graft-quant-drift")
    val emb = Tables.embeddings(spark, dir)
    trainIvfPq(emb, path, ivfIters, pqIters)
    retrainIvfPq(emb, path, ivfIters, pqIters,
      trainSample = Some(emb.filter(col("vec_id") % QuantRetrainMod === 0)))
    quantizerDriftServed(spark, dir, path)
  }

  /** Shared assign→(residual-subtract)→encode projection for the
    * composed index's build and append paths. The residual rides its
    * own materializing projection — the q74 lesson: inlined into the
    * M×K distance expressions, the 64-dim zip_with re-evaluates per
    * expression (codegen subexpression elimination does not reach
    * through the higher-order-function boundary; measured 2.2× on
    * the q74 twin of this projection). */
  private def encodeForIndex(
      assigned: DataFrame,
      centroids: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]],
      residual: Boolean): DataFrame = {
    val withInput =
      if (residual)
        assigned.withColumn("enc_in",
          zip_with(col("embedding"),
            element_at(typedlit(centroids.map(_.toSeq)), col("cell") + 1),
            (x, c) => x.cast("double") - c))
      else assigned.withColumn("enc_in", col("embedding"))
    withInput.select(col("vec_id"), col("label"), col("cell"),
      pqPack(pqCodeColsFor(col("enc_in"), books)).as("packed"))
  }

  // ---------------------------------------------------------------- q69

  /** Eval-set size for [[q69SemanticDecontam]] (vec_id < this is "the
    * benchmark"); bounded by construction — eval suites are thousands
    * of items, never corpus-scale. */
  val NEvalVecs = 20

  /** Cosine threshold for [[q69SemanticDecontam]] — q37's fixture
    * rationale: the synthetic embeddings' max pairwise cosine ≈ 0.51,
    * so 0.35 keeps the flagged set non-vacuous (spec-asserted) while a
    * production paraphrase gate sits at ~0.8 with real embeddings. */
  val SemDecontamCosine = 0.35

  /** q69 — SEMANTIC decontamination: flag corpus vectors whose
    * embedding-cosine against ANY eval-set member clears the
    * threshold. The embedding-space sibling of q52's n-gram overlap
    * check: q52 catches verbatim/near-verbatim leakage, this catches
    * the PARAPHRASED leakage n-grams structurally cannot see — modern
    * pipelines run both gates before training.
    *
    * Plan shape (q68's lesson applied to vectors): the eval set is
    * BOUNDED, so its vectors are collected driver-side (q50's
    * documented probe pattern) and inlined as literals — each corpus
    * row then scores against all of them in ONE narrow codegen'd
    * projection of [[graft.functions.DotProduct]] kernels. No join, no
    * aggregate, no shuffle of corpus data; the only exchange is the
    * output-contract sort. At 100 TB this is a pure map over the
    * corpus scan. Were the eval set large enough to strain the task
    * binary (~10⁵+ vectors), the same semantics fall back to the
    * broadcast-join + map-side-partial `max_by` aggregate — or serve
    * the eval set through q67's IVF-PQ index and probe with corpus
    * rows; the literal form is the right plan at real eval sizes.
    *
    * `near_eval_id` is the argmax with first-max tie-break over
    * ROUNDED sims (literals ordered by eval_id, so ties resolve to the
    * smallest id — the oracle's `ORDER BY sim DESC, eval_id` rule
    * exactly).
    *
    * FORM SELECTION: up to [[Q69LiteralMaxEval]] eval vectors the
    * literal plan above wins outright; past it the same semantics run
    * as [[q69DecontamJoin]] — the size gate is the declared eval
    * bound itself (`nEval` is a contract, not an estimate, so no job
    * or Catalyst stat is needed to pick the plan). Both forms return
    * identical rows (spec-pinned on the fixture). */
  def q69SemanticDecontam(
      spark: SparkSession, dir: String,
      threshold: Double = SemDecontamCosine,
      nEval: Int = NEvalVecs): DataFrame =
    if (nEval <= Q69LiteralMaxEval)
      q69DecontamLiteral(spark, dir, threshold, nEval)
    else q69DecontamJoin(spark, dir, threshold, nEval)

  /** Literal-plan cutoff for [[q69SemanticDecontam]]: 4096 eval
    * vectors × [[Dim]] doubles ≈ 2 MB of plan literals — comfortably
    * inside codegen/task-binary limits, an order of magnitude under
    * the ~10⁵ eval sizes where the inlined form would strain them. */
  val Q69LiteralMaxEval = 4096

  private[graft] def q69DecontamLiteral(
      spark: SparkSession, dir: String,
      threshold: Double = SemDecontamCosine,
      nEval: Int = NEvalVecs): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val evalVecs = emb.filter($"vec_id" < nEval)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .sortBy(_._1).toSeq
    val sims = array(evalVecs.map { case (_, v) =>
      round(PipelineOps.cosine($"embedding", typedlit(v)), 6)
    }: _*)
    emb.filter($"vec_id" >= nEval)
      .withColumn("sims", sims)
      .withColumn("sim", array_max($"sims"))
      .filter($"sim" >= threshold)
      .withColumn("near_eval_id",
        element_at(typedlit(evalVecs.map(_._1)),
          array_position($"sims", $"sim").cast("int")))
      .select($"vec_id", $"label", $"near_eval_id", $"sim")
      .orderBy($"vec_id")
  }

  /** The ≥[[Q69LiteralMaxEval]]-eval fallback the literal form's
    * scaladoc promises: the eval set stays a RELATION (never
    * collected), rides a broadcast to every task, and each corpus row
    * scores against it in a broadcast nested-loop product whose
    * blow-up is immediately collapsed by a MAP-SIDE partial `max`
    * over `struct(sim, −eval_id)` — Spark's max-struct is
    * partial-aggregatable, and a vec_id lives in exactly one input
    * partition, so the one exchange carries a single small row per
    * corpus vector (never the ×nEval product). The struct ordering
    * reproduces the literal form's tie-break exactly: max sim first,
    * then max −eval_id = SMALLEST eval id. Same output contract,
    * row for row (spec-pinned against the literal form). */
  private[graft] def q69DecontamJoin(
      spark: SparkSession, dir: String,
      threshold: Double = SemDecontamCosine,
      nEval: Int = NEvalVecs): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val ev = emb.filter($"vec_id" < nEval)
      .select($"vec_id".as("eval_id"), $"embedding".as("pe"))
    emb.filter($"vec_id" >= nEval)
      .crossJoin(broadcast(ev))
      .withColumn("sim", round(PipelineOps.cosine($"embedding", $"pe"), 6))
      .groupBy($"vec_id", $"label")
      .agg(max(struct($"sim", (-$"eval_id").as("neg_id"))).as("best"))
      .filter($"best.sim" >= threshold)
      .select($"vec_id", $"label",
        (-$"best.neg_id").as("near_eval_id"), $"best.sim".as("sim"))
      .orderBy($"vec_id")
  }

  /** DuckDB oracle for [[q69SemanticDecontam]] — the cross-join
    * formulation of the same semantics: every corpus×eval cosine
    * (identical double arithmetic, round 6), argmax per corpus vector
    * by (sim DESC, eval_id), threshold filter. */
  def q69OracleSql(
      threshold: Double = SemDecontamCosine, nEval: Int = NEvalVecs): String =
    s"""WITH b AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
       |), ev AS (
       |  SELECT vec_id AS eval_id, e AS pe FROM b WHERE vec_id < $nEval
       |), c AS (
       |  SELECT vec_id, label, e FROM b WHERE vec_id >= $nEval
       |), s AS (
       |  SELECT c.vec_id, c.label, ev.eval_id,
       |         round(list_dot_product(c.e, ev.pe) /
       |               (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(ev.pe, ev.pe))), 6) AS sim
       |  FROM c CROSS JOIN ev
       |), r AS (
       |  SELECT vec_id, label, eval_id, sim,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY sim DESC, eval_id) AS rn
       |  FROM s
       |)
       |SELECT vec_id, label, eval_id AS near_eval_id, sim
       |FROM r WHERE rn = 1 AND sim >= $threshold
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q70

  /** Shortlist size for [[q70RerankTopK]] — candidates the compressed
    * first stage hands to the exact second stage. 200, not 50: the
    * ProfRecall frontier sweep (bench/NOTES.md, round 11) showed the
    * shortlist is the BINDING recall constraint at 50 — recall@10 sat
    * flat at 0.37–0.43 across 4/8/16 probed cells, while 200 lifted
    * the default configuration 0.38 → 0.53 at the same candidate scan
    * volume. Rerank work stays probes×shortlist rows — bounded
    * serving-side, so the 4× larger shortlist is free at corpus
    * scale. */
  val RerankShortlist = 200

  /** q70 — two-stage retrieval: the q67 IVF-PQ stack produces a
    * SHORTLIST (top-[[RerankShortlist]] by ADC over probed cells), and
    * only those rows are RERANKED by exact float cosine. This is how
    * every production vector-search deployment actually serves — the
    * compressed index bounds the candidate count, the rerank restores
    * the accuracy the 4-bit codes gave up (q65's spec measures
    * recall 0.21 for raw ADC; reranked recall is spec-measured
    * strictly higher). The ladder ends here: q12 proved the exact
    * scorer, q67 proved the compressed prune, q70 composes them.
    *
    * Plan shape: stage 1 is q67's plan verbatim (narrow
    * assign+encode projection, broadcast probes, cell equi-join,
    * per-probe window cut); stage 2 re-joins the ≤ probes×shortlist id
    * pairs back to the float table — at scale that is a POINT-LOOKUP
    * join (id-keyed, shortlist side tiny and broadcast, the big side's
    * scan prunes to the id set), never a second corpus scan of
    * anything but ids. Exact sims recompute only for
    * probes×[[RerankShortlist]] rows — bounded serving work.
    *
    * The rerank tie-break is (sim desc, vec_id), q12's rule; output
    * schema matches q67's with `sim` replacing `adc`. */
  def q70RerankTopK(
      spark: SparkSession, dir: String,
      k: Int = 10, numProbes: Int = 10,
      shortlist: Int = RerankShortlist,
      probedCells: Int = NumProbedCells): DataFrame = {
    import spark.implicits._
    val short = q67IvfPqTopK(spark, dir, shortlist, numProbes, probedCells)
      .select($"probe_id", $"vec_id")
    val emb = Tables.embeddings(spark, dir)
    val probeVecs = emb.filter($"vec_id" < numProbes)
      .select($"vec_id".as("probe_id"), $"embedding".as("p_emb"))
    val byProbe = Window.partitionBy($"probe_id").orderBy($"sim".desc, $"vec_id")
    emb.join(broadcast(short), "vec_id")
      .join(broadcast(probeVecs), "probe_id")
      .withColumn("sim", round(PipelineOps.cosine($"embedding", $"p_emb"), 6))
      .withColumn("rank", row_number().over(byProbe))
      .filter($"rank" <= k)
      .select($"probe_id", $"vec_id", $"label", $"sim", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** DuckDB oracle for [[q70RerankTopK]] — q67's oracle CTEs cut at
    * the shortlist, then the exact-cosine rerank with q12's
    * (sim desc, vec_id) tie-break. */
  def q70OracleSql(
      k: Int = 10, numProbes: Int = 10,
      shortlist: Int = RerankShortlist,
      probePred: Option[String] = None): String = {
    val pPred = probePred.getOrElse(s"vec_id < $numProbes")
    val stage1 = q67OracleSql(shortlist, numProbes, probePred)
    // reuse q67's full text as a subquery: it already ends in the
    // ordered top-`shortlist` selection
    s"""WITH short AS (
       |${stage1.linesIterator.map("  " + _).mkString("\n")}
       |), pv AS (
       |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe
       |  FROM embeddings WHERE $pPred
       |), cv AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
       |), rr AS (
       |  SELECT s.probe_id, s.vec_id, cv.label,
       |         round(list_dot_product(cv.e, pv.pe) /
       |               (sqrt(list_dot_product(cv.e, cv.e)) * sqrt(list_dot_product(pv.pe, pv.pe))), 6) AS sim
       |  FROM short s
       |  JOIN cv ON cv.vec_id = s.vec_id
       |  JOIN pv ON pv.probe_id = s.probe_id
       |), rk AS (
       |  SELECT probe_id, vec_id, label, sim,
       |         row_number() OVER (PARTITION BY probe_id
       |                            ORDER BY sim DESC, vec_id) AS rank
       |  FROM rr
       |)
       |SELECT probe_id, vec_id, label, sim, rank FROM rk WHERE rank <= $k
       |ORDER BY probe_id, rank""".stripMargin
  }

  // --------------------------------------------------------------- q128

  /** The (nprobe, shortlist) grid [[q128RecallCurve]] sweeps. The
    * last shortlist is an effectively-UNBOUNDED sentinel (no ADC cut):
    * its rows report pure candidate-containment recall, the axis that
    * is GUARANTEED monotone in nprobe (probed cells are supersets).
    * The bounded rows are the point of the instrument — they show the
    * dip when a fixed shortlist stops scaling with nprobe (measured on
    * the fixture: recall@10 rises 1→4 probes then FALLS at 8 under
    * shortlist 20/50), i.e. the knee a deployment reads. */
  val RecallNprobes: Seq[Int] = Seq(1, 2, 4, 8)
  val RecallShortlists: Seq[Int] = Seq(20, 50, 1000000)
  val RecallK = 10
  val RecallNumProbes = 10

  /** q128 — the ANN TUNING INSTRUMENT (round 20, the r19 verdict's
    * #5): recall@k and candidate volume for a GRID of (nprobe,
    * shortlist) over the IVF-PQ composition vs the exact cosine top-k
    * — the curve whose knee a deployment reads to pick its serving
    * parameters, where q67/q70/q84 fix them at constants. One row per
    * grid point: `(nprobe, shortlist, n_candidates, n_hits,
    * recall_pm)` — `n_candidates` = candidate rows scored across all
    * probes at that nprobe (the cost axis), `n_hits` = exact-top-k
    * members found in the ADC shortlist summed over probes, and
    * `recall_pm` their per-mille ratio over `k × numProbes`. All
    * integers (q110's discipline): DuckDB re-derives every value
    * bit-identically from the same fixed quantizer constants — the
    * q67 implementation-verifying pattern applied to the tuning
    * curve itself.
    *
    * Because the rerank stage scores with the SAME exact cosine that
    * defines the truth, an exact-top-k member reaching the shortlist
    * always survives the rerank cut at k — so recall@k of the full
    * two-stage pipeline equals shortlist containment, and the curve
    * needs no per-point rerank pass.
    *
    * Plan shape: ONE candidate join at max(nprobe) with the probe's
    * cell-preference RANK riding along; every smaller nprobe is a
    * FILTER on that rank (no re-join), the shortlist axis a filter on
    * the per-(nprobe, probe) ADC rank — the whole grid costs one
    * candidate join + windows over fixed-width rows, broadcast grids
    * on both axes. The truth pass is one broadcast of `numProbes`
    * probe vectors against the corpus. Monotonicity in nprobe is
    * spec-pinned (SimilarityOpsSpec). */
  def q128RecallCurve(
      spark: SparkSession, dir: String,
      k: Int = RecallK, numProbes: Int = RecallNumProbes,
      nprobes: Seq[Int] = RecallNprobes,
      shortlists: Seq[Int] = RecallShortlists): DataFrame = {
    val centroids = (0 until NumCells)
      .map(c => (0 until Dim).map(centroidComponent(c, _)))
    recallCurveFrame(Tables.embeddings(spark, dir), centroids,
      defaultPqCodebooks, k, numProbes, nprobes, shortlists)
  }

  /** The grid core shared by [[q128RecallCurve]] (fixed constants,
    * DuckDB-verified) and [[q129RecallTrained]] (trained quantizers,
    * rows-only beside it). `residual = true` encodes `v −
    * centroid(cell)` and adds the per-(probe, cell) `p·centroid`
    * offset to the ADC — [[q74ResidualIvfPq]]'s composition, the form
    * [[trainIvfPq]] indexes actually serve — so the trained curve
    * sweeps the SAME quantization [[ivfPqSearchIndex]] scores with. */
  private[graft] def recallCurveFrame(
      embTable: DataFrame, centroids: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]],
      k: Int, numProbes: Int,
      nprobes: Seq[Int], shortlists: Seq[Int],
      residual: Boolean = false): DataFrame = {
    val spark = embTable.sparkSession
    import spark.implicits._
    require(nprobes.nonEmpty && shortlists.nonEmpty && k > 0 && numProbes > 0)
    val nCells = centroids.length
    val maxProbe = math.min(nprobes.max, nCells)
    val emb = assignCells(embTable, centroids)
    // residual: materialize v − centroid(cell) in its own projection
    // (q74's HOF-boundary lesson) and encode THAT
    val encoded =
      if (residual)
        emb.withColumn("resid", zip_with(col("embedding"),
          element_at(typedlit(centroids.map(_.toSeq)), col("cell") + 1),
          (x, c) => x.cast("double") - c))
      else emb
    val encCol = if (residual) col("resid") else col("embedding")
    val codes = encoded.select(
      col("vec_id") +: col("cell") +: pqCodeColsFor(encCol, books): _*)
    val byBest = sort_array(array((0 until nCells).map(c =>
      struct((-$"dots" (c)).as("nd"), lit(c).as("cell"))): _*))
    // the residual offset p·centroid(cell) is dots[cell] — already in
    // the assignment array, zero extra dot products (q74's rule). The
    // generate lands first (a sibling projection cannot reference the
    // generator's output), the offset/table columns in a second one.
    val probeBase = emb
      .filter($"vec_id" < numProbes)
      .select($"vec_id".as("probe_id"), $"dots", $"embedding",
        posexplode(transform(slice(byBest, 1, maxProbe), s => s("cell")))
          .as(Seq("cell_rank", "cell")))
    val offCol =
      if (residual) element_at($"dots", col("cell") + 1).as("adc_off")
      else lit(0.0).as("adc_off")
    val probes = probeBase
      .select(
        $"probe_id" +: $"cell_rank" +: $"cell" +: offCol +:
          (0 until PqSubspaces).map { m =>
            val sub = slice(col("embedding"), m * PqSubDim + 1, PqSubDim)
            array((0 until PqCodes).map(j =>
              PipelineOps.dot(sub, typedlit(books(m)(j)))): _*).as(s"t$m")
          }: _*)
    val adc = round(
      (col("adc_off") +: (0 until PqSubspaces)
        .map(m => element_at(col(s"t$m"), col(s"code$m") + 1)))
        .reduce(_ + _), 6)
    val gridN = nprobes.map(_.toLong).toDF("nprobe")
    val gridS = shortlists.map(_.toLong).toDF("shortlist")
    val cand = codes.join(broadcast(probes), "cell")
      .withColumn("adc", adc)
      .select($"probe_id", $"cell_rank", $"vec_id", $"adc")
    val candG = cand.join(broadcast(gridN), $"cell_rank" < $"nprobe")
    val ranked = candG.withColumn("arank", row_number().over(
      Window.partitionBy($"nprobe", $"probe_id")
        .orderBy($"adc".desc, $"vec_id")))
    val shortG = ranked.join(broadcast(gridS), $"arank" <= $"shortlist")
    // exact cosine truth (q92's rounding and tie-break, probes incl.)
    val probeVecs = embTable.filter($"vec_id" < numProbes)
      .select($"vec_id".as("probe_id"), $"embedding".as("pvec"))
    val exact = embTable.select($"vec_id", $"embedding")
      .crossJoin(broadcast(probeVecs))
      .withColumn("sim", round(PipelineOps.cosine($"embedding", $"pvec"), 6))
      .withColumn("xrank", row_number().over(
        Window.partitionBy($"probe_id").orderBy($"sim".desc, $"vec_id")))
      .filter($"xrank" <= k)
      .select($"probe_id", $"vec_id")
    val hits = shortG.join(exact, Seq("probe_id", "vec_id"))
      .groupBy($"nprobe", $"shortlist").agg(count(lit(1)).as("n_hits"))
    val candCounts = candG.groupBy($"nprobe")
      .agg(count(lit(1)).as("n_candidates"))
    gridN.crossJoin(gridS)
      .join(candCounts, Seq("nprobe"), "left")
      .join(hits, Seq("nprobe", "shortlist"), "left")
      .select($"nprobe", $"shortlist",
        coalesce($"n_candidates", lit(0L)).as("n_candidates"),
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        expr(s"coalesce(n_hits, 0L) * 1000 div ${k * numProbes}")
          .as("recall_pm"))
      .orderBy($"nprobe", $"shortlist")
  }

  /** DuckDB oracle for [[q128RecallCurve]] — q67's cell/encode/table
    * CTEs with the probed-cell rank KEPT (the grid's nprobe axis),
    * the ADC rank per (nprobe, probe), shortlist containment against
    * the exact-cosine top-k (q92's rounding and tie-breaks), and the
    * same integer per-mille arithmetic. */
  def q128OracleSql(
      k: Int = RecallK, numProbes: Int = RecallNumProbes,
      nprobes: Seq[Int] = RecallNprobes,
      shortlists: Seq[Int] = RecallShortlists): String = {
    val maxProbe = math.min(nprobes.max, NumCells)
    val dotsList = (0 until NumCells)
      .map(c => s"list_dot_product(e, ${centroidSql(c)})")
      .mkString("[\n           ", ",\n           ", "]")
    def distList(m: Int, v: String): String =
      (0 until PqCodes).map { j =>
        s"${pqNorm(m, j)} - 2.0 * list_dot_product($v[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}], ${pqSql(m, j)})"
      }.mkString("[\n             ", ",\n             ", "]")
    val codeExprs = (0 until PqSubspaces).map { m =>
      s"""list_position(${distList(m, "e")},
         |           list_aggregate(${distList(m, "e")}, 'min')) - 1 AS code$m"""
        .stripMargin
    }.mkString(",\n         ")
    val tExprs = (0 until PqSubspaces).map { m =>
      val dots = (0 until PqCodes).map(j =>
        s"list_dot_product(pe[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}], ${pqSql(m, j)})")
      dots.mkString("[\n             ", ",\n             ", s"] AS t$m")
    }.mkString(",\n         ")
    val adcSum = (0 until PqSubspaces)
      .map(m => s"t$m[code$m + 1]").mkString(" + ")
    val npList = nprobes.mkString("[", ", ", "]")
    val slList = shortlists.mkString("[", ", ", "]")
    s"""WITH b0 AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       |), d0 AS (
       |  SELECT vec_id, e,
       |         $dotsList AS dots
       |  FROM b0
       |), a AS (
       |  SELECT vec_id, e,
       |         list_position(dots, list_aggregate(dots, 'max')) - 1 AS cell
       |  FROM d0
       |), enc AS (
       |  SELECT vec_id, cell,
       |         $codeExprs
       |  FROM a
       |), pc AS (
       |  SELECT vec_id AS probe_id, dots,
       |         unnest(generate_series(0, ${NumCells - 1})) AS cell
       |  FROM d0 WHERE vec_id < $numProbes
       |), pr AS (
       |  SELECT probe_id, cell, rn FROM (
       |    SELECT probe_id, cell,
       |           row_number() OVER (PARTITION BY probe_id
       |                              ORDER BY dots[cell + 1] DESC, cell) AS rn
       |    FROM pc)
       |  WHERE rn <= $maxProbe
       |), pt AS (
       |  SELECT vec_id AS probe_id,
       |         $tExprs
       |  FROM (SELECT vec_id, e AS pe FROM b0 WHERE vec_id < $numProbes)
       |), cand AS (
       |  SELECT pr.probe_id, pr.rn AS cell_rank, enc.vec_id,
       |         round($adcSum, 6) AS adc
       |  FROM enc JOIN pr USING (cell) JOIN pt ON pt.probe_id = pr.probe_id
       |), grid_n AS (
       |  SELECT unnest($npList::BIGINT[]) AS nprobe
       |), grid_s AS (
       |  SELECT unnest($slList::BIGINT[]) AS shortlist
       |), candg AS (
       |  SELECT g.nprobe, c.probe_id, c.vec_id, c.adc
       |  FROM cand c JOIN grid_n g ON c.cell_rank <= g.nprobe
       |), ranked AS (
       |  SELECT nprobe, probe_id, vec_id,
       |         row_number() OVER (PARTITION BY nprobe, probe_id
       |                            ORDER BY adc DESC, vec_id) AS arank
       |  FROM candg
       |), pv AS (
       |  SELECT vec_id AS probe_id, e AS pe FROM b0 WHERE vec_id < $numProbes
       |), xs AS (
       |  SELECT pv.probe_id, b0.vec_id,
       |         round(list_dot_product(b0.e, pv.pe) /
       |               (sqrt(list_dot_product(b0.e, b0.e)) *
       |                sqrt(list_dot_product(pv.pe, pv.pe))), 6) AS sim
       |  FROM b0, pv
       |), exact AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |           row_number() OVER (PARTITION BY probe_id
       |                              ORDER BY sim DESC, vec_id) AS xrank
       |    FROM xs)
       |  WHERE xrank <= $k
       |), hits AS (
       |  SELECT r.nprobe, g.shortlist, count(*) AS n_hits
       |  FROM ranked r
       |  JOIN grid_s g ON r.arank <= g.shortlist
       |  JOIN exact x ON x.probe_id = r.probe_id AND x.vec_id = r.vec_id
       |  GROUP BY r.nprobe, g.shortlist
       |), cc AS (
       |  SELECT nprobe, count(*) AS n_candidates FROM candg
       |  GROUP BY nprobe
       |)
       |SELECT gn.nprobe, gs.shortlist,
       |       CAST(coalesce(cc.n_candidates, 0) AS BIGINT) AS n_candidates,
       |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       coalesce(h.n_hits, 0) * 1000 // ${k * numProbes} AS recall_pm
       |FROM grid_n gn
       |CROSS JOIN grid_s gs
       |LEFT JOIN cc ON cc.nprobe = gn.nprobe
       |LEFT JOIN hits h ON h.nprobe = gn.nprobe AND h.shortlist = gs.shortlist
       |ORDER BY gn.nprobe, gs.shortlist""".stripMargin
  }

  /** q129 — [[q128RecallCurve]] under TRAINED quantizers (rows-only
    * beside the hash-green fixed-constant curve, the q84 waiver
    * pattern: trained k-means fixed points have no SQL twin; the
    * spec pins monotone recall and the grid shape instead). The
    * registered form re-trains per call into a temp dir for the
    * oracle inventory's self-containment; [[q129ServeTrained]] is
    * the deployment path over a persisted [[trainIvfPq]] index's
    * quantizers. */
  def q129RecallTrained(
      spark: SparkSession, dir: String,
      k: Int = RecallK, numProbes: Int = RecallNumProbes,
      nprobes: Seq[Int] = RecallNprobes,
      shortlists: Seq[Int] = RecallShortlists): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val path = tempIndexDir("graft-recall-trained")
    trainIvfPq(emb, path, ivfIters = 3, pqIters = 3)
    q129ServeTrained(spark, dir, path, k, numProbes, nprobes, shortlists)
  }

  /** The q129 curve over a PERSISTED trained index's quantizers —
    * what a deployment actually sweeps before picking its serving
    * constants. */
  def q129ServeTrained(
      spark: SparkSession, dir: String, indexPath: String,
      k: Int = RecallK, numProbes: Int = RecallNumProbes,
      nprobes: Seq[Int] = RecallNprobes,
      shortlists: Seq[Int] = RecallShortlists): DataFrame = {
    // resolve the governing epoch and the RESIDUAL flag exactly as
    // the serve does (ivfPqSearchIndex) — the curve must sweep the
    // quantization the index actually scores with, offset included
    val (_, hi) = GenerationManifest.windowAt(indexPath, Long.MaxValue)
    val qRoot = quantizerRootAt(indexPath, GenerationManifest.epochs(indexPath), hi)
    val (centroids, books0, residual) = readIvfPqSidecars(spark, qRoot)
    val books = books0.map(_.map(_.toSeq).toSeq).toSeq
    recallCurveFrame(Tables.embeddings(spark, dir), centroids, books,
      k, numProbes, nprobes, shortlists, residual = residual)
  }

  // ------------------------------------------------------------- q80

  /** How many duplicate families anchor the q80 mining run. */
  val ContrastiveAnchors = 3

  /** q80 — contrastive training-pair mining (the DPR/SimCSE data-prep
    * step an embedding-training pipeline runs over the prepared
    * corpus): for each anchor document, its POSITIVES are the other
    * members of its lexical duplicate family (q43's verified
    * transitive closure — near-dup text is the classic free positive
    * signal), and its HARD NEGATIVES are the top-k most
    * cosine-similar vectors OUTSIDE that family (similar enough to be
    * hard, provably not duplicates — exactly the negatives that teach
    * a bi-encoder the dup/near-topic boundary).
    *
    * Anchors are DATA-DERIVED, not fixed ids: the representatives
    * (minimum member = `cluster_id`) of the [[ContrastiveAnchors]]
    * largest families by (size desc, id) — deterministic, and
    * guaranteed non-vacuous positives at any scale where dup families
    * exist at all. Uses the fixture's doc_id↔vec_id alignment (q45's
    * convention).
    *
    * Scale shape: the heavy stage is q43's label build (shared
    * machinery, fixed-width ids end to end). On top of it: one tiny
    * family-size aggregate + limit (the anchor relation, ≤ 3 rows,
    * broadcast with its vectors riding along), ONE corpus-sized
    * enrich join attaching each vector's cluster label (8-byte key,
    * the q11 shape — labels are a per-doc fixed-width relation), a
    * broadcast-anchor scoring projection (q12's rounded cosine), and
    * per-anchor rank windows (`WindowGroupLimit` for the negative
    * top-k). Output is ≤ anchors·(k + max family) rows.
    *
    * QUERY CONTRACT — EAGER, not lazy (q82's contract, same reason):
    * the q43 label build borrows persisted intermediates that must be
    * released before returning, so the result is materialized via
    * `localCheckpoint(true)` inside the loan. Calling this RUNS the
    * computation; the bounded output is held on the session's
    * executors and re-read by downstream actions. See `SparkEntry`.
    */
  def q80ContrastivePairs(
      spark: SparkSession, dir: String, k: Int = 10,
      nAnchors: Int = ContrastiveAnchors): DataFrame = {
    val (labels, handles) = DedupOps.q43Build(spark, dir, 0.6, 16, 4)
    try contrastiveFrom(Tables.embeddings(spark, dir), labels, k, nAnchors)
      .localCheckpoint(true)
    finally handles.foreach(_.unpersist())
  }

  /** [[q80ContrastivePairs]] SERVED from a sealed
    * [[DedupOps.writeLabelIndex]] index — anchors and family labels
    * come off the persisted closure instead of re-closing the corpus
    * (the round-13 audit's point: four consumers each paid the closure;
    * the served twins all read one sealed artifact). */
  def contrastiveServed(
      spark: SparkSession, dir: String, indexPath: String, k: Int = 10,
      nAnchors: Int = ContrastiveAnchors): DataFrame =
    contrastiveFrom(Tables.embeddings(spark, dir),
      DedupOps.labelsServe(spark, indexPath), k, nAnchors)

  /** The q80 body over ANY `(doc_id, cluster_id)` label relation — the
    * served-twin seam (lazy; the registered form adds the eager
    * localCheckpoint that lets it release its borrowed caches). */
  def contrastiveFrom(
      emb: DataFrame, labels: DataFrame, k: Int = 10,
      nAnchors: Int = ContrastiveAnchors): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import emb.sparkSession.implicits._
    val fam = labels.groupBy($"cluster_id")
      .agg(count(lit(1)).as("fam_size"))
    val anchors = fam.orderBy($"fam_size".desc, $"cluster_id")
      .limit(nAnchors).select($"cluster_id".as("anchor_id"))
    val anchorVecs = emb
      .join(broadcast(anchors), $"vec_id" === $"anchor_id")
      .select($"anchor_id", $"embedding".as("avec"))
    val labeled = emb.join(
      labels.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
    val scored = labeled.crossJoin(broadcast(anchorVecs))
      .filter($"vec_id" =!= $"anchor_id")
      .withColumn("sim", round(PipelineOps.cosine($"embedding", $"avec"), 6))
    val pos = scored.filter($"cluster_id" === $"anchor_id")
      .withColumn("rank", row_number().over(
        Window.partitionBy($"anchor_id").orderBy($"vec_id")))
      .select($"anchor_id", lit("pos").as("role"), $"rank", $"vec_id", $"sim")
    val neg = scored
      .filter($"cluster_id".isNull || $"cluster_id" =!= $"anchor_id")
      .withColumn("rank", row_number().over(
        Window.partitionBy($"anchor_id").orderBy($"sim".desc, $"vec_id")))
      .filter($"rank" <= k)
      .select($"anchor_id", lit("neg").as("role"), $"rank", $"vec_id", $"sim")
    pos.unionByName(neg)
      .orderBy($"anchor_id", $"role", $"rank")
  }

  /** Ground truth for [[q80ContrastivePairs]]: q43's recursive-CTE
    * labels, the same (size desc, id) anchor rule, q12's cosine text,
    * identical role partitions and tie-breaks. */
  def q80OracleSql(k: Int = 10, nAnchors: Int = ContrastiveAnchors): String =
    s"""WITH RECURSIVE ${DedupOps.q43LabelsCteSql},
       |fam AS (
       |  SELECT cluster_id, count(*) AS fam_size FROM labels GROUP BY cluster_id
       |), anchors AS (
       |  SELECT cluster_id AS anchor_id FROM fam
       |  ORDER BY fam_size DESC, cluster_id LIMIT $nAnchors
       |), av AS (
       |  SELECT anchor_id, embedding::DOUBLE[] AS avec
       |  FROM embeddings JOIN anchors ON vec_id = anchor_id
       |), lab AS (
       |  SELECT e.vec_id, l.cluster_id, e.embedding
       |  FROM embeddings e LEFT JOIN labels l ON l.doc_id = e.vec_id
       |), scored AS (
       |  SELECT av.anchor_id, lab.vec_id, lab.cluster_id,
       |         round(list_dot_product(lab.embedding::DOUBLE[], av.avec) /
       |               (sqrt(list_dot_product(lab.embedding::DOUBLE[], lab.embedding::DOUBLE[])) *
       |                sqrt(list_dot_product(av.avec, av.avec))), 6) AS sim
       |  FROM lab, av WHERE lab.vec_id <> av.anchor_id
       |), pos AS (
       |  SELECT anchor_id, 'pos' AS role,
       |         row_number() OVER (PARTITION BY anchor_id ORDER BY vec_id) AS rank,
       |         vec_id, sim
       |  FROM scored WHERE cluster_id = anchor_id
       |), neg AS (
       |  SELECT * FROM (
       |    SELECT anchor_id, 'neg' AS role,
       |           row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, vec_id) AS rank,
       |           vec_id, sim
       |    FROM scored WHERE cluster_id IS NULL OR cluster_id <> anchor_id
       |  ) WHERE rank <= $k
       |)
       |SELECT anchor_id, role, rank, vec_id, sim
       |FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
       |ORDER BY anchor_id, role, rank""".stripMargin

  // ---------------------------------------------------------------- q88

  /** q88 — SemDeDup: cluster-then-prune semantic deduplication (Abbas
    * et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication"). Every vector is assigned to its
    * k-means cell by the SAME coarse quantizer the ANN stack uses
    * ([[assignCells]]); within each cell, a vector is PRUNED iff some
    * lower-id cell-mate sits at cosine ≥ threshold — the greedy
    * keep-first rule, decided in one pass with no iteration. Output is
    * the per-vector decision artifact `(vec_id, cell, kept)` a curation
    * pipeline joins against the corpus — not a pair listing.
    *
    * Relation to the other dedup flavors: q37 lists sign-LSH-blocked
    * near-dup PAIRS, q43 builds exact transitive families; q88 is the
    * embedding-space KEEP/DROP decision under k-means blocking — the
    * shape that curates multimodal corpora where no text shingles
    * exist. Blocking by the quantizer means recall is bounded by cell
    * agreement (near-dups straddling a cell boundary are missed), the
    * paper's own trade: nlist controls the candidate volume.
    *
    * Scale shape: assignment is a narrow projection of `nlist`
    * codegen'd dot products; ONE shuffle on the int cell key; within-
    * cell pairs are SemDeDup's intrinsic O(Σ|cell|²) — nlist grows
    * ~√n so cells stay bounded, and a production run feeds
    * [[trainCentroids]]' k-means output through the same plan (the
    * fixed LCG centroids here keep the DuckDB oracle exact, the q28
    * convention). The pruned set is a distinct over 8-byte ids; the
    * final decision join is id-keyed. Embeddings never leave their
    * cell's partition. */
  def q88SemDedup(
      spark: SparkSession,
      dir: String,
      threshold: Double = NeardupCosine): DataFrame =
    semDedup(Tables.embeddings(spark, dir),
      (0 until NumCells).map(c => (0 until Dim).map(centroidComponent(c, _))),
      threshold)

  /** DEPLOYMENT DEFAULT (the q84 rule, written down once per seam —
    * round-14 verdict item 7): the REGISTERED q88 stays on the fixed
    * LCG centroids because that is what keeps the DuckDB oracle EXACT
    * (hash-green beats rows-only wherever both are possible); a
    * deployment serves the SAME core through the quantizer its sealed
    * ANN index already persists — this wrapper. Blocking recall then
    * adapts to the data (the spec-measured trained-vs-fixed recall
    * gain) with zero plan change. */
  def semDedupServed(
      spark: SparkSession, dir: String, indexPath: String,
      threshold: Double = NeardupCosine): DataFrame =
    semDedup(Tables.embeddings(spark, dir),
      readQuantizer(spark, indexPath), threshold)

  /** Frame-level core of [[q88SemDedup]] over any `(vec_id, embedding)`
    * frame and ANY centroid set — feed [[trainCentroids]]' output for
    * the deployment (trained-quantizer) path, same plan shape. */
  def semDedup(
      emb: DataFrame,
      centroids: Seq[Seq[Double]],
      threshold: Double): DataFrame = {
    import emb.sparkSession.implicits._
    // fanOut = false: the downstream is one cell-keyed self-join over a
    // bounded per-cell population + a dedup aggregate — the r20 guard
    // regressed this consumer (0.85×, driver-measured), so it opts out
    val assigned = assignCells(emb, centroids, fanOut = false)
      .select($"vec_id", $"cell", $"embedding")
    val a = assigned.select($"cell", $"vec_id".as("vec_a"), $"embedding".as("e_a"))
    val b = assigned.select($"cell", $"vec_id".as("vec_b"), $"embedding".as("e_b"))
    val pruned = a.join(b, "cell")
      .filter($"vec_a" < $"vec_b")
      .filter(round(PipelineOps.cosine($"e_a", $"e_b"), 6) >= threshold)
      .select($"vec_b".as("vec_id")).distinct()
      .withColumn("pr", lit(0))
    assigned.join(pruned, Seq("vec_id"), "left")
      .select($"vec_id", $"cell", coalesce($"pr", lit(1)).as("kept"))
      .orderBy($"vec_id")
  }

  /** DuckDB oracle for [[q88SemDedup]] — identical centroid constants,
    * argmax assignment, in-cell pairing, rounding, and keep rule. */
  def q88OracleSql(threshold: Double = NeardupCosine): String = {
    val dotsList = (0 until NumCells)
      .map(c => s"list_dot_product(e, ${centroidSql(c)})")
      .mkString("[\n           ", ",\n           ", "]")
    s"""WITH b0 AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       |), d0 AS (
       |  SELECT vec_id, e,
       |         $dotsList AS dots
       |  FROM b0
       |), a AS (
       |  SELECT vec_id, e,
       |         list_position(dots, list_aggregate(dots, 'max')) - 1 AS cell
       |  FROM d0
       |), pr AS (
       |  SELECT DISTINCT y.vec_id
       |  FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE round(list_dot_product(x.e, y.e) /
       |              (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6) >= $threshold
       |)
       |SELECT a.vec_id, a.cell, CASE WHEN pr.vec_id IS NULL THEN 1 ELSE 0 END AS kept
       |FROM a LEFT JOIN pr ON a.vec_id = pr.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q92

  /** Neighbor count for [[q92KnnLabel]]'s majority vote. */
  val KnnK = 5

  /** Probe-set modulus: `vec_id % KnnProbeMod == 0` is the UNLABELED
    * batch to classify (q52's bounded-split convention — it models the
    * day's incoming unlabeled vectors, not a constant fraction of an
    * unbounded corpus). */
  val KnnProbeMod = 97

  /** q92 — kNN LABEL PROPAGATION: classify each probe vector by the
    * majority label of its [[KnnK]] nearest labeled neighbors (cosine).
    * This is the semi-supervised auto-labeling step a training pipeline
    * runs to spread a small curated seed's labels (quality tiers,
    * domains, topics) over new data — the embedding-space analog of the
    * fastText quality classifier used by CCNet/LLaMA-style corpus
    * builds — and it completes the embedding-column family's "apply"
    * side: q12/q28 retrieve neighbors, q92 turns them into a decision.
    *
    * Tie-breaks are total: neighbors rank by (sim desc, vec_id), the
    * vote by (count desc, label) — both engines replay them exactly.
    *
    * Scale shape: the probe batch rides a size-gated broadcast
    * ([[ScaleHints.broadcastIfBounded]] — a probe batch that outgrows
    * the gate degrades to AQE's choice, never a driver OOM); the
    * labeled corpus is scanned ONCE with a codegen'd scoring
    * projection; the per-probe top-k is a rank window cut to k BELOW
    * its exchange (`WindowGroupLimit` — each input partition forwards
    * at most k rows per probe), and the vote aggregate + winner window
    * re-use the probe_id partitioning.
    *
    * FORM SELECTION (q69's gate discipline, made MEASURED where q69's
    * is declared): the probe split is a fraction of the corpus —
    * probes ≈ n/[[KnnProbeMod]] — so the brute candidate stage scores
    * ~n²/[[KnnProbeMod]] pairs and hits a wall the broadcast gate
    * alone cannot fix (ProfR12c: 220 s at 2063 probes × 200k refs).
    * [[knnLabel]] therefore counts the frame once (a zero-column
    * count — noise next to even one scoring pass) and swaps the
    * candidate stage for [[knnLabelIvf]] past [[KnnBrutePairBudget]]
    * scored pairs; the vote layer is shared, so the swap changes only
    * WHICH candidates vote (exact wherever the true k nearest sit in
    * probed cells — the standard ANN serving trade, agreement-pinned
    * in the spec). */
  def q92KnnLabel(
      spark: SparkSession, dir: String, k: Int = KnnK): DataFrame =
    knnLabel(Tables.embeddings(spark, dir), k)

  /** DEPLOYMENT DEFAULT (the q84 rule — see [[semDedupServed]]): the
    * registered q92 keeps the measured brute/IVF gate on fixed
    * centroids (brute is the oracle's twin; the fixed-centroid IVF is
    * what the agreement spec pins). A deployment past the pair budget
    * labels through the quantizer its sealed index persists — the
    * candidate stage adapts, the shared vote layer is untouched. */
  def knnLabelServed(
      spark: SparkSession, dir: String, indexPath: String,
      k: Int = KnnK): DataFrame =
    knnLabelIvf(Tables.embeddings(spark, dir),
      readQuantizer(spark, indexPath), k)

  /** Scored-pair budget above which [[knnLabel]]'s candidate stage
    * swaps from brute to IVF-bucketed: 10⁸ pairs of codegen'd cosines
    * is the last scale where exact-by-construction is worth the wall
    * time (ProfR12c measured 4.1·10⁸ pairs at 220 s). */
  val KnnBrutePairBudget: Long = 100L * 1000 * 1000

  /** Frame-level core of [[q92KnnLabel]] over any `(vec_id, embedding,
    * label)` frame: the [[KnnBrutePairBudget]] gate over
    * [[knnLabelBrute]] / [[knnLabelIvf]] (fixed q28 centroids — a
    * deployment passes [[trainCentroids]]' output to [[knnLabelIvf]]
    * directly, the q97/q88 seam). */
  private[graft] def knnLabel(
      emb: DataFrame, k: Int = KnnK,
      brutePairBudget: Long = KnnBrutePairBudget): DataFrame = {
    val n = emb.count()
    val nProbes = n / KnnProbeMod + (if (n % KnnProbeMod > 0) 1L else 0L)
    val pairs = nProbes * (n - nProbes)
    if (pairs <= brutePairBudget) knnLabelBrute(emb, k)
    else knnLabelIvf(emb,
      (0 until NumCells).map(c => (0 until Dim).map(centroidComponent(c, _))),
      k)
  }

  /** The exact (all-pairs) candidate stage — the oracle's twin, and
    * the winning plan while probes × refs fits [[KnnBrutePairBudget]]:
    * probe batch broadcast (size-gated), labeled corpus scanned once
    * with a codegen'd scoring projection. */
  private[graft] def knnLabelBrute(emb: DataFrame, k: Int = KnnK): DataFrame = {
    import emb.sparkSession.implicits._
    val probes = emb.filter($"vec_id" % KnnProbeMod === 0)
      .select($"vec_id".as("probe_id"), $"embedding".as("pvec"),
        $"label".as("true_label"))
    val refs = emb.filter($"vec_id" % KnnProbeMod =!= 0)
    val scored = refs.crossJoin(ScaleHints.broadcastIfBounded(probes))
      .withColumn("sim", round(PipelineOps.cosine($"embedding", $"pvec"), 6))
    labelVote(scored, k)
  }

  /** The VOTE half of q92 over ANY scored candidate frame
    * `(probe_id, true_label, vec_id, label, sim)` — the
    * candidate-source-agnostic decision layer the q92 scaladoc
    * promises: rank, cut to k, majority with total tie-breaks. */
  private[graft] def labelVote(scored: DataFrame, k: Int = KnnK): DataFrame = {
    import scored.sparkSession.implicits._
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy($"probe_id").orderBy($"sim".desc, $"vec_id")))
      .filter($"rn" <= k)
      .groupBy($"probe_id", $"true_label", $"label")
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("wr", row_number().over(
        Window.partitionBy($"probe_id").orderBy($"n_votes".desc, $"label")))
      .filter($"wr" === 1)
      .select($"probe_id".as("vec_id"), $"true_label",
        $"label".as("pred_label"), $"n_votes")
      .orderBy($"vec_id")
  }

  /** [[knnLabel]] with IVF-BUCKETED candidates — the scale form the
    * [[KnnBrutePairBudget]] gate selects past the brute path's
    * |probes| · |corpus| scoring wall (ProfR12c: 220 s at 2063 probes
    * × 200k refs): each probe scores only its [[NumProbedCells]] best
    * cells' vectors (q28's probe rule), cutting scored pairs by
    * ~probedCells/nlist, and the vote layer is [[labelVote]]
    * UNCHANGED. Predictions match the exact q92 wherever the true k
    * nearest sit in probed cells (recall measured in the spec;
    * production tunes cells/probes on the q84 trained quantizer
    * exactly as the retrieval ladder does — pass [[trainCentroids]]'
    * output as `centroids`). */
  def knnLabelIvf(
      emb: DataFrame, centroids: Seq[Seq[Double]],
      k: Int = KnnK,
      numProbedCells: Int = NumProbedCells): DataFrame = {
    import emb.sparkSession.implicits._
    val nCells = centroids.length
    val assigned = assignCells(emb, centroids)
    val byBest = sort_array(array((0 until nCells).map(c =>
      struct((-$"dots" (c)).as("nd"), lit(c).as("cell"))): _*))
    val probes = assigned.filter($"vec_id" % KnnProbeMod === 0)
      .select($"vec_id".as("probe_id"), $"embedding".as("pvec"),
        $"label".as("true_label"),
        explode(transform(slice(byBest, 1, numProbedCells), s => s("cell")))
          .as("cell"))
    val scored = assigned.filter($"vec_id" % KnnProbeMod =!= 0)
      .select($"cell", $"vec_id", $"label", $"embedding")
      .join(ScaleHints.broadcastIfBounded(probes), "cell")
      .withColumn("sim", round(PipelineOps.cosine($"embedding", $"pvec"), 6))
    labelVote(scored, k)
  }

  /** Ground truth for [[q92KnnLabel]]: q12's cosine text, the same
    * split, neighbor rank, and vote tie-breaks. */
  def q92OracleSql(k: Int = KnnK): String =
    s"""WITH p AS (
       |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe, label AS true_label
       |  FROM embeddings WHERE vec_id % $KnnProbeMod = 0
       |), r AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS re
       |  FROM embeddings WHERE vec_id % $KnnProbeMod <> 0
       |), s AS (
       |  SELECT p.probe_id, p.true_label, r.vec_id, r.label,
       |         round(list_dot_product(re, pe) /
       |               (sqrt(list_dot_product(re, re)) *
       |                sqrt(list_dot_product(pe, pe))), 6) AS sim
       |  FROM r, p
       |), nn AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |                               ORDER BY sim DESC, vec_id) AS rn
       |  FROM s
       |), votes AS (
       |  SELECT probe_id, true_label, label, count(*) AS n_votes
       |  FROM nn WHERE rn <= $k GROUP BY probe_id, true_label, label
       |), win AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |                               ORDER BY n_votes DESC, label) AS wr
       |  FROM votes
       |)
       |SELECT probe_id AS vec_id, true_label, label AS pred_label,
       |       CAST(n_votes AS BIGINT) AS n_votes
       |FROM win WHERE wr = 1 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q93

  /** Outlier fraction denominator for [[q93CodeOutliers]]: the top
    * `ceil(n / OutlierDenom)` most-distant vectors per label are
    * flagged (1/20 = 5%). */
  val OutlierDenom = 20

  /** q93 — COMPRESSED-DOMAIN OUTLIER SCREEN: flag, per label, the
    * vectors farthest from their label's centroid — the
    * mislabeled/noise screen a pipeline runs over an embedding column
    * before trusting its labels (fastText-style label audits, CLIP
    * pair filtering). Screening happens in SQ8 CODE space (q54's
    * quantizer), the same compressed-domain trick the PQ/ADC family
    * uses: the scan reads 1-byte codes, and — the reason this op is
    * exact where a float-centroid formulation cannot be — every
    * quantity stays INTEGER, so the result is independent of
    * partitioning, accumulation order, and engine.
    *
    * The integer trick: the distance of code vector c to its label
    * mean S/n is compared WITHIN a label, so scale by n² —
    * `d2 = Σ_d (n·c_d − S_d)²` with S the per-label per-dimension code
    * SUM — exact int64 up to ~1.5M vectors per label (255·n·√Dim <
    * 2^31.5); past that a deployment divides first and scores in
    * double (ranking almost surely unchanged), or shards labels. Code
    * space is min-max-normalized coordinates, so d2 is Euclidean
    * distance under per-dimension normalization — a standard outlier
    * metric, not a magnitude artifact (the q54 dequantize warning
    * does not apply: no cross-space comparison happens).
    *
    * Plan: q54's one-pass stats broadcast + encode projection; ONE
    * label-keyed hash aggregate (Dim flat sum columns, map-side
    * partials — the q15 lesson) produces the 10-row centroid relation,
    * which re-joins by size-gated broadcast; d2 is a codegen'd
    * fold; the flag window re-uses the label partitioning (one
    * exchange for agg + window together under AQE). Output is
    * all-integer. The coded frame feeds both the centroid aggregate
    * and the scoring join, so the scan+encode subtree executes twice —
    * the in-plan one-shot form's deliberate trade; a deployment that
    * screens repeatedly materializes the codes ONCE as the q61 SQ8
    * index and scans 1-byte codes from disk on both branches. */
  def q93CodeOutliers(spark: SparkSession, dir: String): DataFrame =
    codeOutliers(Tables.embeddings(spark, dir))

  /** Frame-level core of [[q93CodeOutliers]] over any `(vec_id,
    * embedding, label)` frame. */
  private[graft] def codeOutliers(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val stats = sq8Stats(emb)
    val coded = emb.crossJoin(broadcast(stats))
      .select($"vec_id", $"label",
        sq8Codes($"embedding", $"mn", $"mx").cast("array<long>").as("codes"))
    val sumCols = (0 until Dim).map(i =>
      sum(element_at($"codes", i + 1)).as(s"s$i"))
    val centroids = coded.groupBy($"label")
      .agg(count(lit(1)).as("n"), sumCols: _*)
      .select($"label", $"n",
        array((0 until Dim).map(i => col(s"s$i")): _*).as("s"))
    coded.join(ScaleHints.broadcastIfBounded(centroids), "label")
      .withColumn("d2", expr(
        """aggregate(zip_with(codes, s, (c, sd) -> (n * c - sd) * (n * c - sd)),
          |          0L, (acc, x) -> acc + x)""".stripMargin))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"label").orderBy($"d2".desc, $"vec_id")))
      .select($"vec_id", $"label", $"d2",
        when($"rn" <= ($"n" + (OutlierDenom - 1)) / OutlierDenom, 1)
          .otherwise(0).as("is_outlier"))
      .orderBy($"vec_id")
  }

  /** Ground truth for [[q93CodeOutliers]]: q54's quantizer CTE text
    * (codes cast to BIGINT), the same per-label integer sums, scaled
    * distance, rank, and 5% flag rule. */
  def q93OracleSql: String = {
    val mns = (1 to Dim).map(i => s"min(embedding[$i])").mkString(", ")
    val mxs = (1 to Dim).map(i => s"max(embedding[$i])").mkString(", ")
    val sums = (1 to Dim).map(i => s"sum(codes[$i])").mkString(", ")
    s"""WITH stats AS (
       |  SELECT [$mns] AS mn,
       |         [$mxs] AS mx
       |  FROM embeddings
       |), c AS (
       |  SELECT vec_id, label,
       |         list_transform(generate_series(1, $Dim), i ->
       |           CASE WHEN mx[i] = mn[i] THEN CAST(0 AS BIGINT)
       |                ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - CAST(mn[i] AS DOUBLE))
       |                           * 255.0
       |                           / (CAST(mx[i] AS DOUBLE) - CAST(mn[i] AS DOUBLE))) AS BIGINT)
       |           END) AS codes
       |  FROM embeddings, stats
       |), g AS (
       |  SELECT label, count(*) AS n, [$sums] AS s
       |  FROM c GROUP BY label
       |), d AS (
       |  SELECT vec_id, c.label,
       |         CAST(list_sum(list_transform(generate_series(1, $Dim), i ->
       |           (n * codes[i] - s[i]) * (n * codes[i] - s[i]))) AS BIGINT) AS d2,
       |         n
       |  FROM c JOIN g ON c.label = g.label
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY label
       |                               ORDER BY d2 DESC, vec_id) AS rn
       |  FROM d
       |)
       |SELECT vec_id, label, d2,
       |       CASE WHEN rn <= (n + ${OutlierDenom - 1}) // $OutlierDenom
       |            THEN 1 ELSE 0 END AS is_outlier
       |FROM r ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q97

  /** q97 — CLUSTER-BALANCED SAMPLING: q64's mixture-rebalance
    * arithmetic with the strata coming from the DATA's own geometry
    * instead of a metadata column — every vector is assigned to its
    * coarse k-means cell (the ANN stack's quantizer) and per-cell keep
    * rates are derived toward a UNIFORM cell target, the
    * semantic-diversity rebalance (DoReMi-flavored: down-weight
    * over-represented regions of embedding space) a curation pipeline
    * runs when "source" is too coarse a notion of domain. Largest
    * corpus achievable without upsampling: `t_min = min_c n_c` per
    * cell; `rate_c = ⌊t_min·1000 / n_c⌋` per-mille — integers end to
    * end (q64's no-float discipline). The keep predicate is the
    * deterministic md5-bucket rule on `vec_id` (q31/q41's sampling
    * key, rendered from the same constants in both engines).
    *
    * Scale shape: q88's narrow cell-assignment projection (codegen'd
    * dot products, no shuffle), then ONE hash aggregate to the
    * (cell × mille-bucket) histogram — ≤ |cells|·1000 rows regardless
    * of corpus size, q64's trick: the kept-count arithmetic runs
    * entirely on the histogram, never re-scanning vectors. The
    * histogram's provable bound lets the rate/kept arithmetic finish
    * DRIVER-side on the collected rows — no cached frame (q64's
    * persisted-diamond alternative leaks one per call), no second
    * corpus pass, and the returned relation is local.
    *
    * QUERY CONTRACT — EAGER (q80/q82's class): constructing the frame
    * RUNS the one-pass aggregate; the bounded result is held locally
    * and re-read by downstream actions. */
  def q97CellBalance(spark: SparkSession, dir: String): DataFrame =
    cellBalance(Tables.embeddings(spark, dir),
      (0 until NumCells).map(c => (0 until Dim).map(centroidComponent(c, _))))

  /** DEPLOYMENT DEFAULT (the q84 rule — see [[semDedupServed]]): the
    * registered q97 keeps the fixed centroids for oracle exactness; a
    * deployment balances the cells of the quantizer it actually
    * serves, read from the sealed index. */
  def cellBalanceServed(
      spark: SparkSession, dir: String, indexPath: String): DataFrame =
    cellBalance(Tables.embeddings(spark, dir),
      readQuantizer(spark, indexPath))

  /** Frame-level core of [[q97CellBalance]] over any `(vec_id,
    * embedding)` frame and ANY centroid set ([[trainCentroids]]' output
    * for the deployment path — q88's seam). */
  private[graft] def cellBalance(
      emb: DataFrame, centroids: Seq[Seq[Double]]): DataFrame = {
    import emb.sparkSession.implicits._
    // ONE corpus pass reduces everything downstream needs to the
    // (cell × mille-bucket) histogram — provably ≤ |cells|·1000 rows —
    // which is collected and finished driver-side: no second scan, and
    // (unlike q64's persisted-histogram diamond) no cached frame left
    // behind for the session to accumulate. The histogram bound is the
    // scale argument: it is independent of corpus size.
    // fanOut = false: the map-side-combined histogram IS the whole
    // downstream — the r20 guard's round-robin exchange regressed this
    // consumer 0.70× (driver-measured), so it opts out.
    val hist = assignCells(emb, centroids, fanOut = false)
      .groupBy($"cell",
        (conv(substring(md5($"vec_id".cast("string")), 1, 4), 16, 10)
          .cast("long") % PerMille).as("hb"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // empty corpus → empty balance table (not a bare min() throw)
    if (hist.isEmpty)
      return Seq.empty[(Int, Long, Long, Long)]
        .toDF("cell", "n_total", "rate_pm", "n_kept")
    val totals = hist.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val tMin = totals.values.min
    val rows = totals.toSeq.map { case (cell, n) =>
      val rate = tMin * 1000 / n
      val kept = hist.filter(h => h._1 == cell && h._2 < rate).map(_._3).sum
      (cell, n, rate, kept)
    }.sortBy(_._1)
    emb.sparkSession.createDataFrame(rows)
      .toDF("cell", "n_total", "rate_pm", "n_kept")
  }

  private val PerMille = 1000

  /** Ground truth for [[q97CellBalance]]: q88's cell-assignment CTEs,
    * the q31 md5 bucket on the id string, and q64's integer rate
    * arithmetic under the uniform target. */
  def q97OracleSql: String = {
    val dotsList = (0 until NumCells)
      .map(c => s"list_dot_product(e, ${centroidSql(c)})")
      .mkString("[\n           ", ",\n           ", "]")
    s"""WITH b0 AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       |), d0 AS (
       |  SELECT vec_id,
       |         $dotsList AS dots
       |  FROM b0
       |), a AS (
       |  SELECT vec_id,
       |         list_position(dots, list_aggregate(dots, 'max')) - 1 AS cell
       |  FROM d0
       |), c AS (
       |  SELECT cell,
       |         ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT
       |           % $PerMille AS hb,
       |         count(*) AS cnt
       |  FROM a GROUP BY 1, 2
       |), t AS (
       |  SELECT cell, CAST(sum(cnt) AS BIGINT) AS n_total FROM c GROUP BY cell
       |), g AS (
       |  SELECT *, min(n_total) OVER () AS t_min FROM t
       |), r AS (
       |  SELECT cell, n_total,
       |         CAST(t_min * 1000 // n_total AS BIGINT) AS rate_pm
       |  FROM g
       |)
       |SELECT r.cell, r.n_total, r.rate_pm,
       |       CAST(sum(CASE WHEN c.hb < r.rate_pm THEN c.cnt ELSE 0 END)
       |            AS BIGINT) AS n_kept
       |FROM r JOIN c ON r.cell = c.cell
       |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- q106

  /** Prefix length (dims) of the q106 matryoshka shortlist stage. */
  val MatryoshkaPrefixDim = 16

  /** Shortlist size of the q106 first stage. */
  val MatryoshkaShortlist = 50

  /** q106 — MATRYOSHKA (prefix-dimension) two-stage retrieval:
    * shortlist every probe's candidates by cosine over the FIRST
    * [[MatryoshkaPrefixDim]] of [[Dim]] dimensions, then rerank only
    * the shortlist by full-dimension cosine. The dimension ladder is
    * the third axis of the ANN ladder alongside cells (q28/q50) and
    * codes (q54..q74): matryoshka-style training packs a usable
    * coarse embedding into each prefix, so stage 1 pays
    * `PrefixDim/Dim` of the FLOPs — and, stored column-pruned (a
    * prefix column next to the full vector), that fraction of the
    * scan bytes too.
    *
    * Scale shape: the probe set is bounded and broadcast (q12's
    * rule); `row_number <= shortlist` over the scored scan compiles
    * to a partial WindowGroupLimit BELOW the exchange (the q06
    * parallel-top-N machinery, spec-pinned there), so the shuffle
    * carries at most partitions × probes × shortlist fixed-width
    * rows — never the corpus; stage 2 touches shortlist rows only.
    * Both similarities are 6-dp rounded with vec_id tie-break, so
    * the shortlist membership and final ranks are engine-stable
    * (the q12 rule), making the WHOLE two-stage plan DuckDB-
    * verifiable — unlike the quantized ladder, no recall argument is
    * needed: [[q106OracleSql]] replays both stages exactly.
    */
  def q106MatryoshkaTopK(
      spark: SparkSession, dir: String,
      k: Int = 10, numProbes: Int = 10,
      prefix: Int = MatryoshkaPrefixDim,
      shortlist: Int = MatryoshkaShortlist): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val probes = emb.filter($"vec_id" < numProbes)
      .select($"vec_id".as("probe_id"), $"embedding".as("p_emb"))
    val byPrefix = Window.partitionBy($"probe_id")
      .orderBy($"sim_p".desc, $"vec_id")
    val byFull = Window.partitionBy($"probe_id")
      .orderBy($"sim".desc, $"vec_id")
    emb.crossJoin(broadcast(probes))
      .withColumn("sim_p", round(PipelineOps.cosine(
        slice($"embedding", 1, prefix), slice($"p_emb", 1, prefix)), 6))
      .withColumn("rank_p", row_number().over(byPrefix))
      .filter($"rank_p" <= shortlist)
      .withColumn("sim", round(PipelineOps.cosine($"embedding", $"p_emb"), 6))
      .withColumn("rank", row_number().over(byFull))
      .filter($"rank" <= k)
      .select($"probe_id", $"vec_id", $"label", $"sim", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  /** Ground truth for [[q106MatryoshkaTopK]]: both stages replayed on
    * DuckDB list slices with the same rounding and tie-breaks. */
  def q106OracleSql(
      k: Int = 10, numProbes: Int = 10,
      prefix: Int = MatryoshkaPrefixDim,
      shortlist: Int = MatryoshkaShortlist): String =
    s"""WITH p AS (
       |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe
       |  FROM embeddings WHERE vec_id < $numProbes
       |), s AS (
       |  SELECT p.probe_id, e.vec_id, e.label,
       |         e.embedding::DOUBLE[] AS ee, p.pe,
       |         round(list_dot_product((e.embedding::DOUBLE[])[1:$prefix], pe[1:$prefix]) /
       |               (sqrt(list_dot_product((e.embedding::DOUBLE[])[1:$prefix],
       |                                      (e.embedding::DOUBLE[])[1:$prefix])) *
       |                sqrt(list_dot_product(pe[1:$prefix], pe[1:$prefix]))), 6) AS sim_p
       |  FROM embeddings e, p
       |), r AS (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY probe_id ORDER BY sim_p DESC, vec_id) AS rank_p
       |  FROM s
       |), f AS (
       |  SELECT probe_id, vec_id, label,
       |         round(list_dot_product(ee, pe) /
       |               (sqrt(list_dot_product(ee, ee)) *
       |                sqrt(list_dot_product(pe, pe))), 6) AS sim
       |  FROM r WHERE rank_p <= $shortlist
       |), rr AS (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM f
       |)
       |SELECT probe_id, vec_id, label, sim, rank FROM rr WHERE rank <= $k
       |ORDER BY probe_id, rank""".stripMargin
}
